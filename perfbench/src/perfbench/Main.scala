package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What [[Main]] needs from a workload. */
trait Workload {
  /** Write the workload's inputs under `root` (set-up). */
  def generate(root: String): Unit
  /** Untimed work, so that JIT, codegen and file metadata are warm. */
  def warmUp(): Unit
  /** Forget the warm-up's samples. */
  def startMeasuring(): Unit
  /** One timed pass; returns its wall seconds. */
  def pass(): Double
  def attempted: Int
  def failed: Int
  /** Output checks failed anywhere in the run, warm-up included. */
  def checksFailed: Int
  def endToEnd: Map[String, Double]
  def perLayer(cores: Int): Map[String, Double]
  def samples: Seq[(String, Any)]
  /** Identifies the inputs the pins in `pins.json` hold for. */
  def fixture: String
  /** Output checksums of the latest pass, as pinned. */
  def checksums: Map[String, String]
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Runs one workload in one JVM and prints its result.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --results <dir> --pins <file> --cores <n> --heap <size>
  *     --commit <id> --source-digest <hex> [--write-pins <file>]
  *
  * Set-up (`setup_s`) is the wall time from JVM start until the first
  * timed pass begins: session start, input generation and an untimed
  * warm-up. Then passes run until `--seconds` have gone by, at least
  * one. The last stdout line starting with `PERFBENCH_RESULT ` carries the
  * result JSON. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work"))
    val cores = args("cores").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val runId = f"$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current.pid}"
    val tracer = new Tracer(spark, trace, runId)
    val pinsFile = Paths.get(args("pins"))
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(spark, tracer, seed,
        Pins.load(pinsFile, workload, IngestWorkload.FixtureId))
      case "graph_rounds" =>
        new QueryWorkload(spark, tracer, QueryWorkload.GraphRounds, seed,
          Pins.load(pinsFile, workload, Fixture.Id))
    }

    val g0 = System.nanoTime()
    w.generate(work.resolve("inputs").toString)
    val genS = (System.nanoTime() - g0) / 1e9
    val t0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    w.startMeasuring()
    val m0 = System.nanoTime()
    tracer.span("run") {
      do w.pass() while ((System.nanoTime() - m0) / 1e9 < seconds)
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val peakRssMb = vmHwmMb()

    val meta: Seq[(String, Any)] = Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores_used" -> cores, "master" -> s"local[$cores]",
      "heap" -> args("heap"), "commit" -> args("commit"),
      "source_digest" -> args("source-digest"),
      "spark" -> spark.version, "fixture" -> w.fixture,
      "seconds" -> seconds, "measured_s" -> measuredS,
      "session_s" -> sessionS, "generate_s" -> genS, "warm_up_s" -> warmS)

    val e2e = w.endToEnd ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb)
    val attempted = w.attempted
    val failed = w.failed
    val correct = failed == 0 && w.checksFailed == 0
    val failRatio = if (attempted > 0) failed.toDouble / attempted else 1.0
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Metrics.EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      else {
        val layer = w.perLayer(cores)
        Metrics.PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    println(s"[perfbench] run ${Json.obj(meta)}")
    println(f"[perfbench] fail_ratio $failRatio%.4f ratio ($failed of $attempted operations)")
    metrics.foreach { case (n, v, u) => println(s"[perfbench] $n $v $u") }

    val resultsDir = Paths.get(args("results"))
    if (trace) {
      val orphans = tracer.orphanJobs
      println(s"[perfbench] spark.job spans without a benchmark parent: $orphans")
      // overhead of tracing, against this workload's last untraced run
      val last = resultsDir.resolve(s"$workload-untraced.json")
      val untraced = if (Files.exists(last)) Some(Files.readString(last)) else None
      val traced = w.endToEnd
      untraced.foreach { text =>
        Metrics.EndToEnd.map(_._1).filter(traced.contains).foreach { n =>
          Json.numberField(text, n).foreach { base =>
            println(f"[perfbench] trace overhead $n: traced ${traced(n)}%.4f vs untraced $base%.4f (${traced(n) / base}%.3fx)")
          }
        }
      }
      tracer.write(resultsDir.resolve(s"trace-$runId.jsonl"),
        Json.obj(Seq("meta" -> Json.Raw(Json.obj(meta)), "orphan_jobs" -> orphans)))
    }

    val result = Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Metrics.json(metrics))))
    Files.createDirectories(resultsDir)
    val record = Json.obj(meta ++ Seq(
      "fail_ratio" -> failRatio, "correct" -> correct,
      "metrics" -> metrics.map(m => m._1 -> m._2).toMap) ++ w.samples)
    Files.writeString(resultsDir.resolve(s"$runId.json"), record)
    if (!trace)
      Files.writeString(resultsDir.resolve(s"$workload-untraced.json"),
        Json.obj(e2e.toSeq))
    args.get("write-pins").foreach(p =>
      Pins.write(Paths.get(p), workload, w.fixture, w.checksums))
    spark.stop()
    println("PERFBENCH_RESULT " + result)
    System.exit(if (correct) 0 else 1)
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** Names and units of the metrics `BENCHMARK.json` declares. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "suite_s" -> "s", "op_geomean_s" -> "s",
    "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.discover_s" -> "s", "sources.files_discovered" -> "count",
    "sources.ledger_load_s" -> "s", "sources.ledger_all_s" -> "s",
    "sources.ledger_touch_s" -> "s", "sources.ledger_touches" -> "count",
    "sources.ingested_per_discovered" -> "ratio",
    "transforms.pipeline_build_ms" -> "ms",
    "plans.sink_write_s" -> "s", "plans.groups" -> "count",
    "plans.rows_written" -> "rows", "plans.output_bytes" -> "bytes",
    "plans.run_other_s" -> "s",
    "operators.construct_s" -> "s", "operators.construct_jobs" -> "count",
    "operators.action_s" -> "s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.plans" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.task_wait_s" -> "s", "spark.busy_share" -> "ratio",
    "spark.stage_skew_max" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes")

  def json(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      s"${Json.str(n)}:{" + s""""value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
}
