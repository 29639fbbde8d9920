package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.core.{FsStore, GraftStore}

/** Command-line settings of one run. */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, data: String, work: Path, traces: Path)

object Config {
  def parse(args: Array[String]): Config = {
    require(args.length % 2 == 0, s"arguments must be --name value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String) = get(k).toIntOption.getOrElse(
      throw new IllegalArgumentException(s"--$k must be an integer, got ${get(k)}"))
    val cores = int("cores")
    require(cores >= 1, s"--cores must be positive, got $cores")
    val trace = int("trace")
    require(trace == 0 || trace == 1, s"--trace must be 0 or 1, got $trace")
    Config(get("workload"), get("seed").toLongOption.getOrElse(
      throw new IllegalArgumentException(s"--seed must be an integer, got ${get("seed")}")),
      int("seconds"), trace == 1, cores, get("data"), Paths.get(get("work")),
      Paths.get(m.getOrElse("traces", get("work"))))
  }
}

/** Raw machine state, recorded per run and never gated on. */
object Env {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))).trim catch { case NonFatal(_) => "" }

  /** Cumulative steal jiffies of all CPUs (`/proc/stat`, 8th field). */
  def stealJiffies: Long =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).flatMap(
      _.split("\\s+").lift(8).flatMap(_.toLongOption)).getOrElse(-1L)

  def loadAvg: String = read("/proc/loadavg").split(" ").take(3).mkString(" ")
}

/** One workload of the benchmark. `setup` is called several times, each
  * time into a fresh store; the last set-up is the one measured. */
trait Workload {
  /** Sizes and choices worth printing with the result. */
  def describe: Map[String, Any]
  /** Benchmark-side input preparation, once, before the set-ups. */
  def prepare(run: Run): Unit = ()
  def setup(run: Run, repeat: Int): Unit
  /** Called when the timed window opens, after the warm-up. */
  def windowOpens(run: Run): Unit = ()
  /** One closed-loop operation; `i` counts operations from 0. */
  def operation(run: Run, i: Int): Unit
  /** Output checks after the timed window. */
  def check(run: Run): Unit
  /** Latencies (s) behind `write_p50_ms` and `read_p50_ms`. */
  def writeSample(run: Run): Seq[Double]
  def readSample(run: Run): Seq[Double]
  /** The workload's own metrics for the report: name -> (value, unit). */
  def metrics(run: Run): Map[String, (Double, String)]
}

/** Samples, failure accounting and tracing state of one run. */
final class Run(val cfg: Config, val spark: SparkSession, val tracer: Option[Tracer]) {
  /** Latency samples in seconds per step kind, and per operation under
    * "op"; a failed step or operation is +Infinity. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Completed operations without a failed step, and time spent in all. */
  var okOps = 0
  var ops = 0
  var opSeconds = 0.0
  val tracedOpSeconds = mutable.ArrayBuffer.empty[Double]
  val untracedOpSeconds = mutable.ArrayBuffer.empty[Double]

  private var unit = 0L
  private var traced = false
  private var opFailed = false

  def sample(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  /** Ends the warm-up: its samples and recorded steps are discarded;
    * its attempts and failures still count. */
  def endWarmup(): Unit = {
    samples.clear(); okOps = 0; ops = 0; opSeconds = 0.0
    tracedOpSeconds.clear(); untracedOpSeconds.clear()
    tracer.foreach(_.steps.clear())
  }

  /** A store for `dir`; in the traced run it is wrapped in [[TimingStore]]. */
  def newStore(dir: Path): GraftStore = {
    Files.createDirectories(dir)
    val fs = new FsStore(dir.toString)
    tracer.map(t => new TimingStore(fs, t)).getOrElse(fs)
  }

  def fail(what: String): Unit = {
    failed += 1
    opFailed = true
    if (failures.length < 20) failures += what
  }

  /** One closed-loop operation. In the traced run every other operation
    * is recorded, so the untraced ones between them give the overhead. */
  def operation(name: String)(body: => Unit): Unit = {
    traced = tracer.isDefined && ops % 2 == 0
    unit = tracer.map(_.unitId()).getOrElse(ops.toLong)
    opFailed = false
    val t0 = Clock.nowUs
    val n0 = System.nanoTime()
    body
    val dt = (System.nanoTime() - n0) / 1e9
    samples.getOrElseUpdate("op", mutable.ArrayBuffer.empty) +=
      (if (opFailed) Double.PositiveInfinity else dt)
    if (traced) tracer.foreach(_.newUnit(name, t0, Clock.nowUs, unit))
    (if (traced) tracedOpSeconds else untracedOpSeconds) += dt
    ops += 1
    opSeconds += dt
    if (!opFailed) okOps += 1
  }

  /** One call into the program, counted as attempted. An exception, a
    * result `verify` rejects, or a run past [[Run.StepTimeoutS]] counts
    * as failed and enters the latency sample as +Infinity. `span` names
    * the layer-boundary metric the traced run adds the call's wall to. */
  def step[A](kind: String, span: String, store: Option[GraftStore] = None,
      dir: Option[Path] = None)(body: => A)(verify: A => Option[String] = (_: A) => None)
      : Option[A] = {
    attempted += 1
    var dt = 0.0
    def timedBody: A = {
      val t0 = System.nanoTime()
      try body finally dt = (System.nanoTime() - t0) / 1e9
    }
    val result =
      try Right(if (traced) tracer.get.step(unit, span, kind, store, dir)(timedBody) else timedBody)
      catch { case NonFatal(e) => Left(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val problem = result match {
      case Left(err) => Some(err)
      case Right(a) =>
        if (dt > Run.StepTimeoutS) Some(f"$kind: took $dt%.1f s, over the ${Run.StepTimeoutS} s limit")
        else verify(a).map(msg => s"$kind: wrong result: $msg")
    }
    problem.foreach(fail)
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      (if (problem.isDefined) Double.PositiveInfinity else dt)
    result.toOption.filter(_ => problem.isEmpty)
  }

  /** An output check outside any operation: attempted, and failed when
    * `problem` is defined or the check itself throws. */
  def checkOutput(what: String)(problem: => Option[String]): Unit = {
    attempted += 1
    val p = try problem catch {
      case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    p.foreach(msg => fail(s"check $what: $msg"))
  }
}

object Run {
  val StepTimeoutS = 60.0

  /** Bytes under `dir` (0 when absent). */
  def dirBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try {
        var total = 0L
        s.forEach(p => if (Files.isRegularFile(p)) total += Files.size(p))
        total
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit = graft.core.FsUtil.deleteRecursively(dir)
}
