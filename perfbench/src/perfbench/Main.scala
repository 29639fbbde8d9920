package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Runs one workload for the timed window and prints three JSON lines:
  * the raw environment, the full report, and last the result object
  * (`correct`, `attempted`, `failed`, `metrics`). The result carries the
  * end-to-end metrics, or with `--trace 1` the per-layer ones. Exits 1
  * when any operation or output check failed. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 2
  /** Operations run before the timed window, at least one, until this
    * many seconds have passed, so the JIT has compiled the operation's
    * path; their latencies are not reported. */
  val WarmupSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val steal0 = Env.stealJiffies
    val load0 = Env.loadAvg
    Files.createDirectories(cfg.work)
    val t0 = System.nanoTime()
    val spark = session(cfg)
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val ok = try {
      val (report, result) = run(cfg, spark)
      println(Json.render(Map("perfbench" -> "env", "workload" -> cfg.workload,
        "seed" -> cfg.seed, "trace" -> cfg.trace, "cores" -> cfg.cores,
        "spark_start_s" -> sparkStartS,
        "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "steal_jiffies" -> (Env.stealJiffies - steal0),
        "loadavg_start" -> load0, "loadavg_end" -> Env.loadAvg,
        "java" -> System.getProperty("java.version"))))
      println(Json.render(report))
      println(Json.render(result))
      result("correct") == true
    } finally spark.stop()
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def session(cfg: Config): SparkSession = SparkSession.builder()
    .master(s"local[${cfg.cores}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cfg.cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
    .getOrCreate()

  def workload(cfg: Config): Workload = cfg.workload match {
    case "mv_refresh" => new MvRefresh(cfg)
    case "point_ops" => new PointOps(cfg)
    case "bulk_build" => new BulkBuild(cfg)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Set-up, timed window, checks; returns the report and the result. */
  def run(cfg: Config, spark: SparkSession): (Map[String, Any], Map[String, Any]) = {
    val wl = workload(cfg)
    val tracer = if (cfg.trace) Some(new Tracer(spark, cfg.cores)) else None
    val run = new Run(cfg, spark, tracer)
    val p0 = System.nanoTime()
    wl.prepare(run)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val setupS = (0 until SetupRepeats).map { r =>
      val t = System.nanoTime()
      wl.setup(run, r)
      (System.nanoTime() - t) / 1e9
    }
    var i = 0
    val wu = System.nanoTime()
    while (i == 0 || System.nanoTime() - wu < WarmupSeconds * 1e9) {
      wl.operation(run, i)
      i += 1
    }
    run.endWarmup()
    wl.windowOpens(run)
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < cfg.seconds * 1000000000L) {
      wl.operation(run, i)
      i += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val c0 = System.nanoTime()
    wl.check(run)
    val checkS = (System.nanoTime() - c0) / 1e9

    def ms(xs: Seq[Double]) = xs.map(_ * 1e3)
    val write = ms(wl.writeSample(run))
    val read = ms(wl.readSample(run))
    val own = wl.metrics(run)
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "ops_per_s" -> (run.okOps / run.opSeconds, "1/s"),
      "write_p50_ms" -> (Stats.median(write), "ms"),
      "read_p50_ms" -> (Stats.median(read), "ms"))
    val tails = Seq("write_p90_ms" -> write, "read_p90_ms" -> read).flatMap {
      case (name, xs) => Stats.tail(xs, 0.9).map(v => name -> (v, "ms"))
    }
    val errorRate = run.failed.toDouble / math.max(run.attempted, 1L)
    val reported = e2e ++ own ++ tails + ("error_rate" -> (errorRate, "ratio"))

    val perLayer: Map[String, (Double, String)] = tracer.map { t =>
      val perOp = t.perOperation(run.tracedOpSeconds.length)
      val overhead = if (run.tracedOpSeconds.isEmpty || run.untracedOpSeconds.isEmpty) 0.0
        else (Stats.median(run.tracedOpSeconds.toSeq) /
          Stats.median(run.untracedOpSeconds.toSeq) - 1) * 100
      Trace.PerLayer.map { case (k, unit) =>
        k -> (if (k == "trace.overhead_pct") overhead else perOp(k), unit)
      }.toMap
    }.getOrElse(Map.empty)
    tracer.foreach(_.writeSpans(cfg.traces.resolve(s"${cfg.workload}-seed${cfg.seed}.jsonl")))

    def metricJson(m: Map[String, (Double, String)]) =
      m.toSeq.sortBy(_._1).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
        .to(scala.collection.immutable.ListMap)
    val report = Map[String, Any](
      "perfbench" -> "report", "workload" -> cfg.workload, "workload_shape" -> wl.describe,
      "seconds" -> cfg.seconds, "warmup_operations" -> (i - run.ops), "window_s" -> windowS, "check_s" -> checkS,
      "prepare_s" -> prepareS, "setup_runs_s" -> setupS, "operations" -> run.ops,
      "samples" -> run.samples.map { case (k, v) => k -> v.length },
      "p50_ms" -> run.samples.map { case (k, v) => k -> Stats.median(v.toSeq) * 1e3 },
      "samples_ms" -> run.samples.map { case (k, v) => k -> v.map(x => math.rint(x * 1e4) / 10) },
      "metrics" -> metricJson(reported),
      "per_layer" -> metricJson(perLayer),
      "per_step" -> tracer.map(_.perStepKind).getOrElse(Map.empty),
      "failures" -> run.failures.toSeq)
    val result = scala.collection.immutable.ListMap[String, Any](
      "correct" -> (run.failed == 0), "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> metricJson(if (cfg.trace) perLayer else e2e))
    (report, result)
  }
}
