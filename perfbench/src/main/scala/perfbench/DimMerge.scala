package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StringType, StructField, StructType}

import graft.gold.Gold

import graft.sink.MorLog
import graft.sources.CsvIngest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** dim_merge — the batch layer: LoadCustomerDim and the gold refresh.
  * Each timed operation is one batch run: a seeded customer CSV landing
  * file is read with `CsvIngest.readRaw` + `castTo` and applied by one
  * SQL MERGE through a MorLogCatalog catalog, then the gold rollup
  * (fact ⋈ customer dim ⋈ nation) is recomputed and overwritten. Every
  * few files a `compact_small`, and a vacuum at the end. */
final class DimMerge extends Workload {
  val BaseRows = 20000
  val FactRows = 20000
  val BaseFiles = 8
  val FileRows = 4000
  val CompactEvery = 3
  /** Untimed batch runs before the timed ones; they let the JIT settle. */
  val WarmFiles = 2
  /** Timed landing files per second of run length, fixed so counts
    * repeat, and a whole number of compaction cycles. */
  val FilesPerSecond = 0.3

  private var feed: CustomerFeed = _
  private var catalog: String = _
  private var table: String = _
  private var files: Vector[(String, Vector[Customer], Long)] = _
  private var ref: Map[Long, Customer] = _
  private var fact: String = _
  private var facts: Vector[Booking] = _
  private var goldDir: String = _
  private val schema = CsvIngest.customerDimSchema

  /** Read one landing file through the CSV source and MERGE it into
    * the dimension by SQL through the catalog. */
  private def merge(ctx: Ctx, path: String, op: Int): Unit = {
    ctx.tracer.span("sources.csv", op) {
      CsvIngest.castTo(CsvIngest.readRaw(ctx.spark, path, schema), schema)
        .createOrReplaceTempView("landing_customers")
    }
    ctx.spark.sql(
      s"""MERGE INTO $catalog.dim.customer AS t USING landing_customers AS s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  /** Recompute the gold rollup over the current fact and dimension and
    * overwrite it (the reference's TRUNCATE+INSERT refresh proc). */
  private def refreshGold(ctx: Ctx, op: Int): Unit = {
    val spark = ctx.spark
    val f = ctx.tracer.span("sink.read", op)(MorLog.read(spark, fact))
    val d = ctx.tracer.span("sink.read", op)(MorLog.read(spark, table))
    Gold.refreshAggregation(DimMerge.gold(f, d), goldDir)
  }

  def base(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    facts = new BookingFeed(ctx.seed, FactRows, customers = BaseRows).base
    fact = s"$dir/fact"
    goldDir = s"$dir/gold"
    Fact.writeBase(Paths.get(dir, "fact-json"), facts, BaseFiles)
    MorLog.create(spark.read.schema(Fact.schema).json(s"$dir/fact-json"), fact)
    feed = new CustomerFeed(ctx.seed, BaseRows)
    val root = s"$dir/tables"
    table = s"$root/dim/customer"
    catalog = "bench_" + dir.reverse.takeWhile(_ != '/').reverse.filter(_.isLetterOrDigit)
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.MorLogCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    feed.base.grouped(BaseRows / BaseFiles).zipWithIndex.foreach { case (g, i) =>
      DimMerge.writeCsv(Paths.get(dir, "base", f"customers-base-$i%02d.csv"), g)
    }
    MorLog.create(CsvIngest.castTo(CsvIngest.readRaw(spark, s"$dir/base", schema), schema), table)
    val n = WarmFiles + math.max(2, math.round(ctx.seconds * FilesPerSecond / CompactEvery).toInt) * CompactEvery
    files = Vector.tabulate(n) { i =>
      val rows = feed.file(FileRows)
      val p = Paths.get(dir, "landing", f"customers-$i%04d.csv")
      (p.toString, rows, DimMerge.writeCsv(p, rows))
    }
  }

  /** The first landing files, run untimed: they warm the batch path.
    * A compaction follows, so every timed compaction cycle starts from
    * the same kind of table. */
  def history(ctx: Ctx): Unit = {
    files.take(WarmFiles).foreach { f => merge(ctx, f._1, -1); refreshGold(ctx, -1) }
    ctx.spark.sql(s"CALL $catalog.system.compact_small('dim.customer')").collect()
    ref = Ref.scd1(feed.base.iterator.map(c => c.key -> c).toMap, files.take(WarmFiles).map(_._2))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val before = Layout.walk(table)
    val gc0 = Jvm.gcSeconds
    Jvm.resetPeak()
    val mergeS = mutable.ArrayBuffer.empty[Double]
    val goldS = mutable.ArrayBuffer.empty[Double]
    val runS = mutable.ArrayBuffer.empty[Double]
    val runCpuS = mutable.ArrayBuffer.empty[Double]
    val perGold = mutable.ArrayBuffer.empty[Cost]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val untracedS = mutable.ArrayBuffer.empty[Double]
    // per traced merge: (cost, wall s, phases, plan s)
    val perMerge = mutable.ArrayBuffer.empty[(Cost, Double, Map[String, (Int, Double)], Double)]
    val compactS = mutable.ArrayBuffer.empty[Double]
    var filesIn, filesOut = 0L
    var vacuumS = 0.0
    var vacuumed = 0L
    def liveFiles = MorLog.state(spark, table, MorLog.currentVersion(spark, table)).files.size
    def verify(what: String): Unit = {
      val got = DimMerge.digest(MorLog.read(spark, table))
      val want = DimMerge.digest(ref.values)
      if (got != want) ctx.fail(s"$what: digest $got != reference $want")
    }
    def verifyGold(what: String): Unit = {
      val want = facts.groupBy(b => DimMerge.nationName(ref(b.customer).nation)).map { case (n, bs) =>
        n -> (bs.size.toLong, Fact.amount(bs.map(_.cents).sum), bs.map(_.bookedAt).max) }
      val got = spark.read.parquet(goldDir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getString(3))).toMap
      if (got != want) ctx.fail(s"$what: gold rollup differs from the reference in ${
        (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} countries")
    }

    val timedFiles = files.drop(WarmFiles)
    timedFiles.zipWithIndex.foreach { case ((path, rows, _), i) =>
      // every other batch run is traced; with cycles of an odd length,
      // both sides get each position in the compaction cycle once per
      // two cycles, so their medians compare like with like
      val traced = ctx.trace && i % 2 == 1
      if (traced) tr.attach()
      var op: Span = null
      var gold: Span = null
      ctx.attempted += 1
      val failedBefore = ctx.failed
      try {
        val (_, s) = ctx.timed {
          mergeS += Timing.secs(tr.span("plans.merge", i) {
            if (tr.recording) op = tr.spans.last
            merge(ctx, path, i)
          })._2
          goldS += Timing.secs(tr.span("gold.refresh", i) {
            if (tr.recording) gold = tr.spans.last
            refreshGold(ctx, i)
          })._2
        }
        runS += s
        runCpuS += ctx.lastCpuS
        (if (traced) tracedS else untracedS) += s
        if (traced) tr.detach()
        if (traced && op != null) {
          val js = tr.jobsUnder(op.id)
          val c = tr.cost(js)
          val sqlStart = tr.children(op.id).map(_.endMs).foldLeft(op.startMs)(math.max)
          perGold += tr.cost(tr.jobsUnder(gold.id))
          perMerge += ((c, op.seconds, Commit.phases(tr.ledger, js),
            if (js.isEmpty) 0.0 else math.max(0.0, c.firstJobStartMs - sqlStart) / 1000.0))
        }
      } catch { case e: Throwable =>
        if (traced) tr.detach()
        ctx.fail(s"batch run $i: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      ref = Ref.scd1(ref, Seq(rows))
      // the gold rollup after every batch run; the dimension's digest
      // once per compaction cycle (the final check compares every row)
      if (ctx.failed == failedBefore) verifyGold(s"gold after merge $i")
      if (ctx.failed == failedBefore && (i + 1) % CompactEvery == 0) verify(s"merges up to $i")
      if ((i + 1) % CompactEvery == 0) ctx.attempt(s"compact after merge $i") {
        val live0 = liveFiles
        val (packed, s) = ctx.timed(tr.span("sink.compact", i)(
          spark.sql(s"CALL $catalog.system.compact_small('dim.customer')").collect()(0).getInt(0)))
        compactS += s
        filesIn += packed
        filesOut += liveFiles - (live0 - packed)
        verify(s"compact after merge $i")
      }
    }
    ctx.attempt("vacuum") {
      val (n, s) = ctx.timed(tr.span("sink.vacuum", timedFiles.size)(
        spark.sql(s"CALL $catalog.system.vacuum('dim.customer', 2)").collect()(0).getInt(0)))
      vacuumS = s
      vacuumed = n
      verify("vacuum")
    }
    val gcS = Jvm.gcSeconds - gc0
    val peak = Jvm.peakHeapMb
    val heap = Jvm.heapAfterGcMb

    val got = MorLog.read(spark, table).collect().map(DimMerge.fromRow)
    val byKey = got.groupBy(_.key)
    val bad = byKey.count { case (k, cs) => cs.length != 1 || !ref.get(k).contains(cs.head) }
    val missing = ref.keysIterator.count(k => !byKey.contains(k))
    if ((bad != 0 || missing != 0) && ctx.failed == 0)
      ctx.fail(s"final dim: $bad keys differ from the SCD1 fold, $missing missing", timedFiles.size)

    val after = Layout.walk(table)
    val spaceAmp = after.totalBytes.toDouble / DimMerge.referenceBytes(spark, ref.values.toSeq, ctx.dir("reference"))
    val changeRows = timedFiles.map(_._2.size).sum.toLong

    val rep = ctx.report
    rep("changes_per_s") = changeRows / ctx.timedS
    rep("merge_s.p50") = Stats.median(mergeS.toSeq)
    rep("gold_s.p50") = Stats.median(goldS.toSeq)
    rep("run_s.p50") = Stats.median(runS.toSeq)
    rep("run_s.p90") = Stats.percentile(runS.toSeq, 90)
    rep("run_s.samples") = runS.size
    rep("maintain_s") = compactS.sum + vacuumS
    rep("space_amp") = spaceAmp
    rep("heap_mb") = heap

    val t = ctx.traffic
    val nRows = math.max(1L, feed.updates + feed.inserts).toDouble
    t("timed_files") = timedFiles.size
    t("rows_per_file") = FileRows
    t("bytes_per_file") = files.map(_._3).sum.toDouble / files.size
    t("rows_per_timed_merge_share_of_table") = FileRows.toDouble / ref.size
    t("update_share") = feed.updates / nRows
    t("insert_share") = feed.inserts / nRows
    t("key_skew") = "uniform over existing keys; unique within a file"
    t("table_rows_start") = BaseRows
    t("table_rows_end") = ref.size
    t("table_files_start") = before.dataFiles.size
    t("table_files_end") = liveFiles
    t("compactions") = compactS.size
    t("fact_rows") = FactRows
    t("fact_files") = MorLog.state(spark, fact, MorLog.currentVersion(spark, fact)).files.size

    val L = ctx.layers
    L("jvm.gc_s") = gcS
    L("jvm.heap_peak_mb") = peak
    Commit.sinkLayout(ctx, before, after, timedFiles.map(_._3).sum.toDouble, liveFiles)
    L("sink.compact_s") = Stats.mean(compactS.toSeq)
    L("sink.compact.files_in") = filesIn.toDouble / math.max(1, compactS.size)
    L("sink.compact.files_out") = filesOut.toDouble / math.max(1, compactS.size)
    L("sink.vacuum_s") = vacuumS
    L("sink.vacuum.files_deleted") = vacuumed
    if (ctx.trace) {
      Commit.perOp(ctx, perMerge.map(m => (m._1, m._2, m._3)).toSeq)
      val n = math.max(1, perMerge.size).toDouble
      L("plans.merge.plan_s") = perMerge.map(_._4).sum / n
      L("plans.merge.jobs") = perMerge.map(_._1.jobs).sum / n
      L("sources.csv.task_s") = perMerge.map(_._1.csvTaskS).sum / n
      val merges = tr.spans.filter(_.name == "plans.merge")
      L("self_s.plans") = merges.map(tr.selfS).sum / n
      L("self_s.sources") = tr.spans.filter(_.name == "sources.csv").map(tr.selfS).sum / n
      L("self_s.gold") = tr.spans.filter(_.name == "gold.refresh").map(tr.selfS).sum / n
      L("self_s.sink") = tr.spans.filter(_.name == "sink.read").map(tr.selfS).sum / n
      L("gold.jobs") = perGold.map(_.jobs).sum / math.max(1, perGold.size).toDouble
      L("gold.shuffle_bytes") = perGold.map(_.shuffleBytes).sum / math.max(1, perGold.size).toDouble
    }
    Outcome(runS.toSeq, runCpuS.toSeq, timedFiles.size, spaceAmp, tracedS.toSeq, untracedS.toSeq)
  }
}

object DimMerge {
  def nationName(n: Int): String = f"NATION_$n%02d"

  /** The gold rollup: fact ⋈ customer dim ⋈ the 25 nations, per country. */
  def gold(fact: DataFrame, dim: DataFrame): DataFrame = {
    val spark = fact.sparkSession
    val nations = spark.createDataFrame((0 until Gen.Nations).map(n => Row(n, nationName(n))).asJava,
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType))))
    Gold.bookingAggregation(fact, dim, nations, "customer_id", "c_custkey",
      "c_nationkey", "n_nationkey", "n_name", "amount", "booking_date")
  }

  def fromRow(r: Row): Customer =
    Customer(r.getLong(0), r.getString(1), r.getInt(2),
      r.getDecimal(3).movePointRight(2).longValueExact, r.getString(4))

  /** A landing file as the source system drops it: header, quoted
    * names, money as 2-dp text. */
  def writeCsv(p: java.nio.file.Path, rows: Seq[Customer]): Long = {
    val sb = new StringBuilder("c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment\n")
    rows.foreach { c =>
      sb ++= s"""${c.key},"${c.name}",${c.nation},${java.math.BigDecimal.valueOf(c.acctCents, 2).toPlainString},${c.segment}\n"""
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  /** Bytes of `rows` written once as parquet (the space_amp denominator). */
  def referenceBytes(spark: SparkSession, rows: Seq[Customer], dir: String): Long = {
    rows.grouped((rows.size + 7) / 8).zipWithIndex.foreach { case (g, i) =>
      writeCsv(Paths.get(dir, "csv", f"reference-$i%02d.csv"), g)
    }
    val schema = CsvIngest.customerDimSchema
    CsvIngest.castTo(CsvIngest.readRaw(spark, s"$dir/csv", schema), schema).write.parquet(s"$dir/parquet")
    Layout.bytes(s"$dir/parquet")
  }

  /** Exact digest: (rows, balance in cents, sum of nation keys, sum of keys). */
  def digest(df: DataFrame): (Long, Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("c_acctbal").cast(DecimalType(20, 2))),
      sum(col("c_nationkey").cast("long")), sum(col("c_custkey"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.movePointRight(2).longValueExact).getOrElse(0L),
      if (r.isNullAt(2)) 0L else r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  def digest(t: Iterable[Customer]): (Long, Long, Long, Long) =
    t.foldLeft((0L, 0L, 0L, 0L))((a, c) => (a._1 + 1, a._2 + c.acctCents, a._3 + c.nation, a._4 + c.key))
}
