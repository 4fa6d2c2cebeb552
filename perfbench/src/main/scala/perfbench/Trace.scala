package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One call the benchmark made into a layer. Times are wall-clock
  * milliseconds on the same clock as Spark's listener events. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startMs: Double, var endMs: Double = Double.NaN) {
  def interval: (Double, Double) = (startMs, endMs)
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** A Spark job as the listener bus reported it, tagged with the span
  * that was open on the submitting thread and, for stream epochs,
  * the micro-batch id Spark stamps on every job of the batch. */
final case class Job(id: Int, startMs: Double, var endMs: Double,
                     description: String, span: Int, batch: Option[Long],
                     stageIds: Seq[Int])

final case class Stage(id: Int, tasks: Int, taskS: Double, cpuS: Double,
                       shuffleWriteBytes: Long, csvScan: Boolean)

/** Work summed over a set of jobs. Stages count once, under the first
  * job that listed them (a reused shuffle stage is skipped, not re-run). */
final case class Cost(jobs: Int, stages: Int, tasks: Int, taskS: Double,
                      cpuS: Double, shuffleBytes: Long, csvTaskS: Double,
                      jobWallS: Double, firstJobStartMs: Double)

/** Job, stage and task records from the listener bus. The listener
  * callbacks only forward to [[jobStarted]], [[jobEnded]] and
  * [[stageCompleted]], which the self-tests drive directly. */
final class Ledger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val stageOwner = mutable.HashMap.empty[Int, Int]

  def jobStarted(j: Job): Unit = synchronized {
    jobs(j.id) = j
    j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j.id))
  }
  def jobEnded(id: Int, timeMs: Double): Unit = synchronized {
    jobs.get(id).foreach(_.endMs = timeMs)
  }
  def stageCompleted(s: Stage): Unit = synchronized { stages(s.id) = s }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobStarted(Job(e.jobId, e.time.toDouble, Double.NaN,
      prop("spark.job.description").getOrElse(""),
      prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1),
      prop(Tracer.BatchKey).map(_.toLong), e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnded(e.jobId, e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stageCompleted(Stage(i.stageId, i.numTasks,
      m.executorRunTime / 1000.0, m.executorCpuTime / 1e9,
      m.shuffleWriteMetrics.bytesWritten,
      i.rddInfos.exists(_.scope.exists(_.toString.contains(Tracer.CsvScanScope)))))
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toVector)
  def pending: Boolean = synchronized(jobs.values.exists(_.endMs.isNaN))

  def cost(js: Seq[Job]): Cost = synchronized {
    val ids = js.map(_.id).toSet
    val st = js.flatMap(_.stageIds).distinct
      .filter(s => stageOwner.get(s).exists(ids.contains))
      .flatMap(stages.get)
    Cost(js.size, st.size, st.map(_.tasks).sum, st.map(_.taskS).sum,
      st.map(_.cpuS).sum, st.map(_.shuffleWriteBytes).sum,
      st.filter(_.csvScan).map(_.taskS).sum,
      Stats.unionLength(js.map(j => (j.startMs, j.endMs))) / 1000.0,
      if (js.isEmpty) Double.NaN else js.map(_.startMs).min)
  }
}

/** Traced runs: spans around the benchmark's calls into the engine,
  * plus job/stage/task accounting from Spark's listener bus.
  *
  * The listener is attached only for the blocks the benchmark traces
  * ([[attach]]/[[detach]]), so a traced run can interleave traced and
  * untraced blocks and report the tracing overhead from one process.
  * Spans and records stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var attached = false
  val ledger = new Ledger

  def recording: Boolean = attached

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(ledger)
    attached = true
  }

  /** Detach once the bus has delivered the end of every job the block
    * started (events arrive asynchronously, a few ms behind). */
  def detach(): Unit = if (attached) {
    val deadline = System.nanoTime() + 5000000000L
    Thread.sleep(100)
    while (ledger.pending && System.nanoTime() < deadline) Thread.sleep(10)
    sc.removeSparkListener(ledger)
    attached = false
  }

  /** Run `f` inside a span named `name` for operation `op`. Jobs that
    * `f` submits from this thread carry the span id. No-op while the
    * tracer is detached. */
  def span[T](name: String, op: Int)(f: => T): T =
    if (!attached) f
    else {
      val s = Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1), nowMs)
      spans += s
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      stack = s :: stack
      try f
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Record a span whose bounds were measured elsewhere (the phases of
    * a stream epoch, read back from its progress report). */
  def addSpan(name: String, op: Int, parent: Int, startMs: Double, endMs: Double): Span = {
    val s = Span(spans.size, name, op, parent, startMs, endMs)
    spans += s
    s
  }

  def allJobs: Seq[Job] = ledger.allJobs

  /** Jobs submitted inside span `id` or any span below it. */
  def jobsUnder(id: Int): Seq[Job] = {
    val ids = subtree(spans.toSeq, id)
    allJobs.filter(j => ids.contains(j.span))
  }

  def jobsOfBatch(batch: Long): Seq[Job] = allJobs.filter(_.batch.contains(batch))

  def cost(js: Seq[Job]): Cost = ledger.cost(js)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Self time of a span in seconds: its wall minus what its children cover. */
  def selfS(s: Span): Double =
    Stats.selfTime(s.interval, children(s.id).map(_.interval)) / 1000.0
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Set by Spark's micro-batch engine on every job of a batch. */
  val BatchKey = "streaming.sql.batchId"
  /** Scope name Spark gives the RDD of a CSV file scan. */
  val CsvScanScope = "Scan csv"

  val Phases = Seq("stage", "locate", "tombs", "net", "uniq")

  /** The MorLog commit phase a job belongs to, from the
    * `morlog:<phase>` job description the engine sets around each
    * phase; anything else is `unlabelled`. */
  def phaseOf(description: String): String =
    if (description == null || !description.startsWith("morlog:")) "unlabelled"
    else {
      val p = description.stripPrefix("morlog:").takeWhile(c => !c.isWhitespace)
      if (Phases.contains(p)) p else "unlabelled"
    }

  /** Span ids in the subtree rooted at `root`, `root` included. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.HashSet(root)
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(p => kids.getOrElse(p, Nil).map(_.id))
      out ++= next
      frontier = next
    }
    out.toSet
  }
}
