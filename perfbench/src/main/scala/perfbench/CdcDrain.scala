package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sink.MorLog

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** cdc_drain — LoadBookingFact: a checkpointed AvailableNow stream
  * drains booking change-feed files into the MorLog fact table, one
  * file and one committed version per epoch. A round is one scheduled
  * pipeline run that drains what has landed. An untraced run times one
  * round; a traced run splits the same epochs into two rounds and
  * traces the second, so the first is the baseline for the tracing
  * overhead. */
final class CdcDrain extends Workload {
  val BaseRows = 20000
  val BaseFiles = 8
  val EpochRows = 200
  /** Untimed epochs before the timed ones: the history, which also lets
    * the JIT settle on the epoch path. */
  val HistoryEpochs = 3
  /** Timed epochs per second of run length, fixed so that the epoch
    * count, and with it every count metric, repeats exactly. */
  val EpochsPerSecond = 0.5

  private var feed: BookingFeed = _
  private var table: String = _
  private var staging: String = _
  private var landing: String = _
  private var ckpt: String = _
  private var epochs: Vector[Vector[Change]] = _
  private var epochBytes: Vector[Long] = _
  private var ref: Map[String, Booking] = _
  private var timedEpochs = 0
  private var roundEpochs = 0

  private def land(from: Int, until: Int): Unit = (from until until).foreach { i =>
    val n = f"feed-$i%05d.json"
    Files.move(Paths.get(staging, n), Paths.get(landing, n), StandardCopyOption.ATOMIC_MOVE)
  }

  def base(ctx: Ctx, dir: String): Unit = {
    timedEpochs = math.max(8, math.round(ctx.seconds * EpochsPerSecond).toInt / 2 * 2)
    roundEpochs = if (ctx.trace) timedEpochs / 2 else timedEpochs
    feed = new BookingFeed(ctx.seed, BaseRows, customers = 1000)
    table = s"$dir/fact"
    staging = s"$dir/staging"
    landing = s"$dir/landing"
    ckpt = s"$dir/ckpt"
    Fact.writeBase(Paths.get(dir, "base"), feed.base, BaseFiles)
    MorLog.create(ctx.spark.read.schema(Fact.schema).json(s"$dir/base"), table)
    val t0 = System.currentTimeMillis() - 86400000L
    epochs = Vector.fill(HistoryEpochs + timedEpochs)(feed.epoch(EpochRows))
    epochBytes = epochs.zipWithIndex.map { case (e, i) =>
      Fact.writeFeedFile(Paths.get(staging, f"feed-$i%05d.json"), e, t0 + i * 1000L)
    }
    feed.props.epochBytes = epochBytes.sum
    Files.createDirectories(Paths.get(landing))
  }

  def history(ctx: Ctx): Unit = {
    land(0, HistoryEpochs)
    val q = Fact.startDrain(ctx.spark, landing, table, ckpt)
    q.awaitTermination()
    require(q.recentProgress.count(_.numInputRows > 0) == HistoryEpochs, "history drain epochs")
    ref = Ref.applyChanges(feed.base.iterator.map(b => b.id -> b).toMap, epochs.take(HistoryEpochs).flatten)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rounds = timedEpochs / roundEpochs
    val refStart = ref.size
    val before = Layout.walk(table)
    val v0 = MorLog.currentVersion(spark, table)
    val progress = mutable.ArrayBuffer.empty[(StreamingQueryProgress, Boolean)]
    var roundFailed = false
    val gc0 = Jvm.gcSeconds
    Jvm.resetPeak()
    val tracedRounds = mutable.ArrayBuffer.empty[(Span, Seq[StreamingQueryProgress])]
    // process CPU at the end of each epoch, sampled when its progress
    // event arrives on the listener bus (a few ms after the epoch ends)
    val cpuAtEnd = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val cpuProbe = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        cpuAtEnd.put(e.progress.batchId, Timing.cpuS)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(cpuProbe)
    val epochCpuS = mutable.ArrayBuffer.empty[Double]

    (0 until rounds).foreach { r =>
      val first = HistoryEpochs + r * roundEpochs
      land(first, first + roundEpochs)
      val traced = ctx.trace && r == 1
      if (traced) tr.attach()
      ctx.attempted += roundEpochs
      var roundSpan: Span = null
      val cpu0 = Timing.cpuS
      val (q, _) = ctx.timed {
        tr.span("streaming.round", -1) {
          roundSpan = if (tr.recording) tr.spans.last else null
          val q = Fact.startDrain(spark, landing, table, ckpt)
          try q.awaitTermination() catch { case _: Throwable => () }
          q
        }
      }
      if (traced) tr.detach()
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      progress ++= ps.map(p => (p, traced))
      val deadline = System.nanoTime() + 10000000000L
      while (ps.exists(p => !cpuAtEnd.containsKey(p.batchId)) && System.nanoTime() < deadline) Thread.sleep(5)
      ps.map(_.batchId).sorted.foldLeft(cpu0) { (prev, b) =>
        if (!cpuAtEnd.containsKey(b)) prev
        else { epochCpuS += cpuAtEnd.get(b) - prev; cpuAtEnd.get(b) }
      }
      if (traced && roundSpan != null) tracedRounds += ((roundSpan, ps))
      q.exception.foreach(e => ctx.fail(s"round $r: ${e.getMessage.take(300)}", roundEpochs))
      // correctness of the round, outside the timed window
      ref = Ref.applyChanges(ref, epochs.slice(first, first + roundEpochs).flatten)
      if (q.exception.isEmpty) {
        if (ps.size != roundEpochs) {
          ctx.fail(s"round $r ran ${ps.size} epochs, expected $roundEpochs", roundEpochs)
          roundFailed = true
        } else {
          val got = Fact.digest(MorLog.read(spark, table))
          val want = Fact.digest(ref.values)
          if (got != want) {
            ctx.fail(s"round $r digest $got != reference $want", roundEpochs)
            roundFailed = true
          }
        }
      } else roundFailed = true
    }
    spark.streams.removeListener(cpuProbe)
    val gcS = Jvm.gcSeconds - gc0
    val peak = Jvm.peakHeapMb
    val heap = Jvm.heapAfterGcMb

    // final state: full row comparison and one version per epoch
    val got = MorLog.read(spark, table).collect().toSeq.map(Fact.fromRow)
    val bad = Fact.mismatches(got, ref)
    val versions = MorLog.versions(spark, table).size - 1 - v0
    if ((bad != 0 || versions != timedEpochs) && !roundFailed)
      ctx.fail(s"final fact: $bad keys differ from the LWW fold; $versions versions for $timedEpochs epochs",
        timedEpochs)

    val after = Layout.walk(table)
    val spaceAmp = after.totalBytes.toDouble / Fact.referenceBytes(spark, ref.values.toSeq, ctx.dir("reference"))

    val epochS = progress.map(_._1.durationMs.get("triggerExecution").doubleValue / 1000.0).toSeq
    val changes = progress.map(_._1.numInputRows).sum
    val rep = ctx.report
    rep("changes_per_s") = changes / ctx.timedS
    rep("epoch_s.p50") = Stats.percentile(epochS, 50)
    rep("epoch_s.p90") = Stats.percentile(epochS, 90)
    rep("epoch_s.samples") = epochS.size
    rep("epoch_s.beyond_p90") = Stats.beyond(epochS, 90)
    rep("space_amp") = spaceAmp
    rep("heap_mb") = heap

    val t = ctx.traffic
    feed.props.toMap.foreach { case (k, v) => t(k) = v }
    t("table_rows_start") = BaseRows
    t("table_rows_timed_start") = refStart
    t("table_rows_end") = ref.size
    t("table_files_start") = before.dataFiles.size
    t("table_files_end") = after.dataFiles.size
    t("history_epochs") = HistoryEpochs
    t("timed_epochs") = timedEpochs
    t("rounds") = rounds

    val L = ctx.layers
    def durS(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
    val all = progress.map(_._1).toSeq
    L("streaming.self_s") = Stats.mean(all.map(p => durS(p, "triggerExecution") - durS(p, "addBatch")))
    L("streaming.wal_commit_s") = Stats.mean(all.map(durS(_, "walCommit")))
    L("streaming.latest_offset_s") = Stats.mean(all.map(durS(_, "latestOffset")))
    L("streaming.query_planning_s") = Stats.mean(all.map(durS(_, "queryPlanning")))
    L("streaming.get_batch_s") = Stats.mean(all.map(durS(_, "getBatch")))
    L("jvm.gc_s") = gcS
    L("jvm.heap_peak_mb") = peak
    Commit.sinkLayout(ctx, before, after, epochBytes.drop(HistoryEpochs).sum.toDouble, MorLog.state(spark, table,
      MorLog.currentVersion(spark, table)).files.size)

    if (ctx.trace) {
      // per-epoch commit cost from the traced rounds; the epoch and its
      // addBatch become spans read back from the progress report
      val perEpoch = mutable.ArrayBuffer.empty[(Cost, Double, Map[String, (Int, Double)])]
      var streamingSelf = 0.0
      var sinkSelf = 0.0
      tracedRounds.foreach { case (round, ps) =>
        ps.foreach { p =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val end = start + durS(p, "triggerExecution") * 1000
          val ep = tr.addSpan("streaming.epoch", p.batchId.toInt, round.id, start, end)
          val addEnd = end - durS(p, "commitOffsets") * 1000
          val add = tr.addSpan("sink.addBatch", p.batchId.toInt, ep.id,
            addEnd - durS(p, "addBatch") * 1000, addEnd)
          streamingSelf += tr.selfS(ep)
          sinkSelf += tr.selfS(add)
          val js = tr.jobsOfBatch(p.batchId)
          perEpoch += ((tr.cost(js), durS(p, "addBatch"), Commit.phases(tr.ledger, js)))
        }
        streamingSelf += tr.selfS(round)
      }
      val n = math.max(1, perEpoch.size).toDouble
      Commit.perOp(ctx, perEpoch.toSeq)
      L("self_s.streaming") = streamingSelf / n
      L("self_s.sink") = sinkSelf / n
    }
    Outcome(epochS, epochCpuS.toSeq, progress.size, spaceAmp,
      progress.filter(_._2).map(_._1.durationMs.get("triggerExecution").doubleValue / 1000.0).toSeq,
      progress.filterNot(_._2).map(_._1.durationMs.get("triggerExecution").doubleValue / 1000.0).toSeq)
  }
}
