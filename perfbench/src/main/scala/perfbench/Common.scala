package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-run state every workload shares: the session, the tracer, the
  * operation and failure counts, and the metric maps it fills. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String) {
  val tracer = new Tracer(spark)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** The workload's pipeline metrics, printed in the report line. */
  val report = Json.obj()
  /** Measured properties of the generated inputs. */
  val traffic = Json.obj()
  /** Per-layer metrics of this workload; the rest print as 0. */
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def fail(what: String, ops: Long = 1): Unit = {
    failed += ops
    if (failures.size < 20) failures += what
  }

  /** Run one checked operation: an exception counts as a failure. */
  def attempt(what: String)(f: => Unit): Unit = {
    attempted += 1
    try f catch { case e: Throwable =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** Wall seconds of the timed phase, summed over [[timed]]. */
  var timedS = 0.0
  /** Process CPU seconds of the last [[timed]] operation. */
  var lastCpuS = 0.0

  /** Run one timed operation; returns its wall seconds. Process CPU time
    * (all threads: driver, tasks, GC, JIT) is kept in [[lastCpuS]]; it
    * grows much less than wall time when the host steals the CPU. */
  def timed[T](f: => T): (T, Double) = {
    val c0 = Timing.cpuS
    val (r, s) = Timing.secs(f)
    timedS += s
    lastCpuS = Timing.cpuS - c0
    (r, s)
  }

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Timing {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used so far. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** JVM-layer counters read through the management beans. */
object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcSeconds: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full collection. */
  def heapAfterGcMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** What a MorLog table directory holds on disk. */
final case class Layout(dataFiles: Map[String, Long], metas: Int, tombstoneDirs: Int,
                        totalBytes: Long, allFiles: Map[String, Long])

object Layout {
  def walk(dir: String): Layout = {
    val root = Paths.get(dir)
    val files = mutable.HashMap.empty[String, Long]
    var tombDirs = 0
    Files.walk(root).iterator().asScala.foreach { p =>
      val rel = root.relativize(p).toString
      if (Files.isDirectory(p)) {
        if (rel.startsWith("_log/tombs_v")) tombDirs += 1
      } else files(rel) = Files.size(p)
    }
    val data = files.filter { case (n, _) => !n.contains('/') && n.endsWith(".parquet") }.toMap
    Layout(data, files.keys.count(n => n.startsWith("_log/v") && n.endsWith(".meta")),
      tombDirs, files.values.sum, files.toMap)
  }

  def bytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** The booking fact table: schema, frames, feed files and the native
  * stream sink that drains them (the LoadBookingFact path). */
object Fact {
  val location: StructType = StructType(Seq(
    StructField("city", StringType), StructField("country", StringType)))

  val schema: StructType = StructType(Seq(
    StructField("booking_id", StringType),
    StructField("customer_id", LongType),
    StructField("amount", DoubleType),
    StructField("currency", StringType),
    StructField("check_in_date", StringType),
    StructField("check_out_date", StringType),
    StructField("booking_date", StringType),
    StructField("property_location", location),
    StructField("seq", LongType)))

  val feedSchema: StructType = schema.add(StructField("op", StringType))

  def amount(cents: Long): Double = BigDecimal(cents, 2).toDouble

  def fromRow(r: Row): Booking = {
    val loc = r.getStruct(7)
    Booking(r.getString(0), r.getLong(1), BigDecimal(r.getDouble(2)).setScale(2).bigDecimal.unscaledValue.longValueExact,
      r.getString(3), r.getString(4), r.getString(5), r.getString(6),
      loc.getString(0), loc.getString(1), r.getLong(8))
  }

  private def str(s: String): String = "\"" + s + "\""

  /** One change-feed document per line, as the change feed emits them. */
  def writeFeedFile(file: Path, changes: Seq[Change], mtimeMs: Long): Long = {
    val sb = new StringBuilder
    changes.foreach { c =>
      val b = c.b
      if (c.delete) sb ++= s"""{"booking_id":${str(b.id)},"seq":${b.seq},"op":"delete"}"""
      else sb ++= s"""{"booking_id":${str(b.id)},"customer_id":${b.customer},""" +
        s""""amount":${BigDecimal(b.cents, 2)},"currency":${str(b.currency)},""" +
        s""""check_in_date":${str(b.checkIn)},"check_out_date":${str(b.checkOut)},""" +
        s""""booking_date":${str(b.bookedAt)},""" +
        s""""property_location":{"city":${str(b.city)},"country":${str(b.country)}},""" +
        s""""seq":${b.seq},"op":"upsert"}"""
      sb += '\n'
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(file.getParent)
    Files.write(file, bytes)
    file.toFile.setLastModified(mtimeMs)
    bytes.length.toLong
  }

  /** The base table's rows as `files` JSON-lines files. */
  def writeBase(dir: Path, rows: Seq[Booking], files: Int): Unit =
    rows.grouped((rows.size + files - 1) / files).zipWithIndex.foreach { case (g, i) =>
      writeFeedFile(dir.resolve(f"base-$i%03d.json"), g.map(Change(_, delete = false)), 0L)
    }

  /** Bytes of `rows` written once as parquet (the space_amp denominator). */
  def referenceBytes(spark: SparkSession, rows: Seq[Booking], dir: String): Long = {
    writeBase(Paths.get(dir, "json"), rows, 8)
    spark.read.schema(schema).json(s"$dir/json").write.parquet(s"$dir/parquet")
    Layout.bytes(s"$dir/parquet")
  }

  /** A checkpointed AvailableNow drain of every feed file in `landing`,
    * one file per epoch, through the native MorLog stream sink. */
  def startDrain(spark: SparkSession, landing: String, table: String, ckpt: String): StreamingQuery =
    spark.readStream.schema(feedSchema).option("maxFilesPerTrigger", 1L).json(landing)
      .writeStream.format("graft.sources.MorLogSource")
      .option("path", table)
      .option("mergeKey", "booking_id")
      .option("opCol", "op").option("deleteValue", "delete")
      .option("netBy", "seq")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Exact digest of a snapshot: (rows, amount in cents, sum of seq). */
  def digest(df: DataFrame): (Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)), sum(col("amount").cast(DecimalType(18, 2))), sum(col("seq")))
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(d => d.movePointRight(2).longValueExact).getOrElse(0L),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def digest(t: Iterable[Booking]): (Long, Long, Long) =
    t.foldLeft((0L, 0L, 0L))((a, b) => (a._1 + 1, a._2 + b.cents, a._3 + b.seq))

  /** Rows that differ between the table and the reference, counted by key. */
  def mismatches(got: Seq[Booking], want: Map[String, Booking]): Long = {
    val g = got.groupBy(_.id)
    val dupOrWrong = g.count { case (k, vs) => vs.size != 1 || !want.get(k).contains(vs.head) }
    dupOrWrong + want.keysIterator.count(k => !g.contains(k))
  }
}

/** What a workload hands back for the end-to-end metrics. */
final case class Outcome(opS: Seq[Double], opCpuS: Seq[Double], ops: Long, spaceAmp: Double,
                         tracedOpS: Seq[Double], untracedOpS: Seq[Double])

trait Workload {
  /** Build the base table and this run's input files under `dir`.
    * Runs several times per run (setup_s takes the median); the
    * last build is the one the run continues from. */
  def base(ctx: Ctx, dir: String): Unit
  /** Bring the last base table to where the timed phase starts: its
    * history, which also warms the path the timed phase runs. Once. */
  def history(ctx: Ctx): Unit
  def run(ctx: Ctx): Outcome
}

/** Commit-layer metrics shared by the two writing workloads. */
object Commit {
  /** Jobs and summed job wall per labelled MorLog phase. */
  def phases(ledger: Ledger, js: Seq[Job]): Map[String, (Int, Double)] =
    js.groupBy(j => Tracer.phaseOf(j.description)).map { case (p, g) =>
      p -> (g.size, ledger.cost(g).jobWallS)
    }

  /** Means per commit (epoch or merge) of its cost, driver gap and phases.
    * Each entry: (cost, commit span wall seconds, phases). */
  def perOp(ctx: Ctx, ops: Seq[(Cost, Double, Map[String, (Int, Double)])]): Unit = {
    val L = ctx.layers
    val n = math.max(1, ops.size).toDouble
    L("sink.commit.jobs") = ops.map(_._1.jobs).sum / n
    L("sink.commit.stages") = ops.map(_._1.stages).sum / n
    L("sink.commit.tasks") = ops.map(_._1.tasks).sum / n
    L("sink.commit.task_s") = ops.map(_._1.taskS).sum / n
    L("sink.commit.cpu_s") = ops.map(_._1.cpuS).sum / n
    L("sink.commit.driver_gap_s") = ops.map(o => math.max(0.0, o._2 - o._1.jobWallS)).sum / n
    (Tracer.Phases :+ "unlabelled").foreach { p =>
      L(s"sink.phase.$p.jobs") = ops.map(_._3.get(p).map(_._1).getOrElse(0)).sum / n
      L(s"sink.phase.$p.s") = ops.map(_._3.get(p).map(_._2).getOrElse(0.0)).sum / n
    }
  }

  /** Files and bytes the timed phase left in the table directory. */
  def sinkLayout(ctx: Ctx, before: Layout, after: Layout, changeBytes: Double, liveFiles: Int): Unit = {
    val L = ctx.layers
    val newFiles = after.allFiles.filter { case (n, _) => !before.allFiles.contains(n) }
    L("sink.files_written") = after.dataFiles.keys.count(n => !before.dataFiles.contains(n))
    L("sink.bytes_written_per_change_byte") = newFiles.values.sum / math.max(1.0, changeBytes)
    L("sink.live_files") = liveFiles
    L("sink.log_metas") = after.metas
    L("sink.tombstone_dirs") = after.tombstoneDirs
  }
}
