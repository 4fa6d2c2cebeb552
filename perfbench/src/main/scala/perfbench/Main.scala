package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** The benchmark's entry point (run it through `perfbench/run.py`):
  *
  *   --workload cdc_drain|dim_merge --seed N --seconds S
  *   --trace 0|1 --work DIR [--trace-out FILE]
  *
  * Prints a report line (every metric, traffic properties, the
  * environment) and, as the last line, the result object. */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "cdc_drain" -> (() => new CdcDrain),
    "dim_merge" -> (() => new DimMerge))

  /** Set-up runs this many times per run; setup_s takes the median. */
  val SetupRepeats = 3

  /** The gated metrics. Tail percentiles and heap_mb are printed in the
    * report only: with a few operations per run on a host whose CPU is
    * shared, their run-to-run spread is wider than any allowed bound. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s.p50" -> "s", "ops_per_s" -> "1/s",
    "cpu_s_per_op" -> "s", "space_amp" -> "ratio")

  val PerLayer: Seq[(String, String)] =
    Seq("self_s", "wal_commit_s", "latest_offset_s", "query_planning_s", "get_batch_s")
      .map(m => s"streaming.$m" -> "s") ++
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_s" -> "s",
      "cpu_s" -> "s", "driver_gap_s" -> "s").map { case (m, u) => s"sink.commit.$m" -> u } ++
    (Tracer.Phases :+ "unlabelled").flatMap(p => Seq(s"sink.phase.$p.jobs" -> "count", s"sink.phase.$p.s" -> "s")) ++
    Seq("sink.files_written" -> "count", "sink.bytes_written_per_change_byte" -> "ratio",
      "sink.live_files" -> "count", "sink.log_metas" -> "count", "sink.tombstone_dirs" -> "count") ++
    Seq("gold.jobs" -> "count", "gold.shuffle_bytes" -> "bytes",
      "plans.merge.plan_s" -> "s", "plans.merge.jobs" -> "count", "sources.csv.task_s" -> "s",
      "sink.compact_s" -> "s", "sink.compact.files_in" -> "count", "sink.compact.files_out" -> "count",
      "sink.vacuum_s" -> "s", "sink.vacuum.files_deleted" -> "count") ++
    Seq("sources", "streaming", "sink", "plans", "gold").map(l => s"self_s.$l" -> "s") ++
    Seq("jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MiB", "trace.overhead_pct" -> "%")

  /** Units of the metrics the report line names per workload. */
  private def reportUnit(name: String): String =
    if (name.endsWith("_per_s")) "rows/s"
    else if (name.endsWith(".samples") || name.endsWith(".beyond_p90")) "count"
    else if (name == "space_amp" || name == "failed_ratio") "ratio"
    else if (name == "heap_mb") "MiB"
    else "s"

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => usage(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val name = need("workload")
    val make = Workloads.getOrElse(name, usage(s"unknown workload $name"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") match { case "0" => false; case "1" => true; case t => usage(s"--trace $t") }
    val work = need("work")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder()
      .config("spark.sql.streaming.numRecentProgressUpdates", 100000)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val ctx = new Ctx(spark, seed, seconds, trace, work)
    val w = make()
    val setups = (0 until SetupRepeats).map(i => Timing.secs(w.base(ctx, ctx.dir(s"setup$i")))._2)
    val historyS = Timing.secs(w.history(ctx))._2
    val setupS = sessionS + Stats.median(setups) + historyS
    val out = w.run(ctx)
    ctx.failed = math.min(ctx.failed, ctx.attempted)

    val e2e = Json.obj(
      "setup_s" -> setupS,
      "op_s.p50" -> Stats.percentile(out.opS, 50),
      "ops_per_s" -> out.ops / ctx.timedS,
      "cpu_s_per_op" -> Stats.median(out.opCpuS),
      "space_amp" -> out.spaceAmp)
    if (trace) ctx.layers("trace.overhead_pct") =
      if (out.tracedOpS.isEmpty || out.untracedOpS.isEmpty) 0.0
      else (Stats.median(out.tracedOpS) / Stats.median(out.untracedOpS) - 1) * 100
    ctx.report("setup_s") = setupS
    ctx.report("failed_ratio") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    def withUnits(ms: Seq[(String, Any)], unit: String => String) =
      Json.obj(ms.map { case (k, v) => k -> Json.obj("value" -> v, "unit" -> unit(k)) }: _*)
    val layers = PerLayer.map { case (k, _) => k -> ctx.layers.getOrElse(k, 0.0) }
    val unitOf = (EndToEnd ++ PerLayer).toMap

    val report = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> Json.obj(
        "cores" -> GraftSession.cpus, "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "git_commit" -> sys.env.get("PERFBENCH_GIT_COMMIT").filter(_.nonEmpty),
        "source_sha256" -> sys.env.get("PERFBENCH_SOURCE_SHA"),
        "session_s" -> sessionS, "base_build_s" -> setups, "history_s" -> historyS),
      "metrics" -> withUnits(ctx.report.toSeq, reportUnit),
      "end_to_end" -> withUnits(e2e.toSeq, unitOf),
      "op_latencies_s" -> out.opS,
      "op_cpu_s" -> out.opCpuS,
      "traffic" -> ctx.traffic,
      "per_layer" -> (if (trace) withUnits(layers, unitOf) else null),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures)

    opts.get("trace-out").filter(_ => trace).foreach { f =>
      val tr = ctx.tracer
      val doc = Json.obj(
        "spans" -> tr.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op,
          "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
        "jobs" -> tr.allJobs.map(j => Json.obj("id" -> j.id, "span" -> j.span, "batch" -> j.batch,
          "description" -> j.description.take(80), "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stageIds)))
      Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
      Files.write(Paths.get(f), Json.render(doc).getBytes(StandardCharsets.UTF_8))
    }

    val metrics = if (trace) withUnits(layers, unitOf) else withUnits(e2e.toSeq, unitOf)
    println(Json.render(Json.obj("perfbench_report" -> report)))
    println(Json.render(Json.obj("correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
  }
}
