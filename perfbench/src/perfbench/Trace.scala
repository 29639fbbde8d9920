package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import graft.core.{GraftStore, StoreStats, TableMeta}

/** Wall clock in epoch microseconds with `System.nanoTime` resolution,
  * comparable with the millisecond event times Spark's listener reports. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** One recorded interval. Spans of one workload operation share `unit`;
  * `parent` is the id of the span that caused it (0 for an operation). */
final case class Span(id: Long, parent: Long, unit: Long, layer: String,
    name: String, startUs: Long, endUs: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"unit":$unit,"layer":"$layer",""" +
      s""""name":"${Json.escape(name)}","start_us":$startUs,"end_us":$endUs}"""
}

/** Spark job as the listener saw it: submission and completion times and
  * the job description the engine sets (`graft:probe`, `graft:write`, ...). */
final case class JobRec(id: Int, startUs: Long, @volatile var endUs: Long, desc: String)

/** Records every job and sums task metrics; used only by the traced run. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val taskGcMs = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val r = JobRec(e.jobId, e.time * 1000L, -1L, desc)
    open.put(e.jobId, r)
    jobs.add(r)
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.endUs = e.time * 1000L)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskGcMs.addAndGet(m.jvmGCTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }
}

/** Timing decorator over the public store trait, shaped like the engine's
  * `LoggingStore`: every call is delegated unchanged and, while the
  * tracer records, timed as a `store` span. Counters stay in the inner
  * store's `stats`. */
final class TimingStore(inner: GraftStore, tracer: Tracer) extends GraftStore {
  override val stats: StoreStats = inner.stats
  override def chunkCodec: String = inner.chunkCodec

  private def timed[A](name: String)(a: => A): A = tracer.storeCall(name)(a)

  def chunkPath(hash: String): String = inner.chunkPath(hash)
  def hasChunk(hash: String): Boolean = timed("hasChunk")(inner.hasChunk(hash))
  def saveChunk(hash: String, producedFile: Path): Unit =
    timed("saveChunk")(inner.saveChunk(hash, producedFile))
  override def saveChunks(batch: Seq[(String, Path)]): Unit =
    timed("saveChunks")(inner.saveChunks(batch))

  def saveTableMeta(meta: TableMeta): String =
    timed("saveTableMeta")(inner.saveTableMeta(meta))
  def loadTableMeta(tableHash: String): TableMeta =
    timed("loadTableMeta")(inner.loadTableMeta(tableHash))
  def hasTable(tableHash: String): Boolean = timed("hasTable")(inner.hasTable(tableHash))
  override def tableEnvelope(tableHash: String): (String, Seq[String], Long, Long) =
    timed("tableEnvelope")(inner.tableEnvelope(tableHash))
  override def chunkStream(tableHash: String): () => Iterator[graft.core.ChunkMeta] =
    timed("chunkStream")(inner.chunkStream(tableHash))

  def memoGet(opHash: String): Option[String] = timed("memoGet")(inner.memoGet(opHash))
  def memoPut(opHash: String, resultHash: String): Unit =
    timed("memoPut")(inner.memoPut(opHash, resultHash))
  override def memoDel(opHash: String): Unit = timed("memoDel")(inner.memoDel(opHash))

  def putRootObject(json: String): String = timed("putRootObject")(inner.putRootObject(json))
  def saveRoot(json: String): String = timed("saveRoot")(inner.saveRoot(json))
  def setRootPointer(rootHash: String): Unit =
    timed("setRootPointer")(inner.setRootPointer(rootHash))
  def clearRootPointer(): Unit = timed("clearRootPointer")(inner.clearRootPointer())
  def currentRootHash: Option[String] = timed("currentRootHash")(inner.currentRootHash)
  def loadRoot(rootHash: String): String = timed("loadRoot")(inner.loadRoot(rootHash))
  def hasRoot(rootHash: String): Boolean = timed("hasRoot")(inner.hasRoot(rootHash))

  def listRoots: Seq[String] = timed("listRoots")(inner.listRoots)
  def listTables: Seq[String] = timed("listTables")(inner.listTables)
  def listChunks: Seq[String] = timed("listChunks")(inner.listChunks)
  def listMemos: Seq[(String, String)] = timed("listMemos")(inner.listMemos)
  def deleteRoot(hash: String): Unit = timed("deleteRoot")(inner.deleteRoot(hash))
  def deleteTable(hash: String): Unit = timed("deleteTable")(inner.deleteTable(hash))
  def deleteChunk(hash: String): Unit = timed("deleteChunk")(inner.deleteChunk(hash))
  def deleteMemo(opHash: String): Unit = timed("deleteMemo")(inner.deleteMemo(opHash))
}

/** Traced-run recorder. Spans and per-step layer counts are kept in
  * memory and written out by [[writeSpans]] when the run ends.
  *
  * A step is one call into the program's public surface (a SQL statement
  * or an `Ops` call). Around each recorded step it drains the listener
  * bus and snapshots process CPU, GC, store counters and the store
  * directory size, outside the step's measured latency. */
final class Tracer(spark: SparkSession, cores: Int) {
  val listener = new JobListener
  spark.sparkContext.addSparkListener(listener)

  @volatile private var recording = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val storeCounts = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]
  private val storeNs = new LongAdder
  private val storeIntervals = new ConcurrentLinkedQueue[(Long, Long)]
  @volatile private var curUnit = 0L
  @volatile private var curStep = 0L

  /** Per-step layer metrics of every recorded step, in order. */
  val steps = mutable.ArrayBuffer.empty[(String, Map[String, Double])]

  def storeCall[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val t0 = Clock.nowUs
      val n0 = System.nanoTime()
      try body
      finally {
        val t1 = Clock.nowUs
        storeNs.add(System.nanoTime() - n0)
        storeCounts.computeIfAbsent(name, _ => new LongAdder).increment()
        storeIntervals.add((t0, t1))
        spans.add(Span(ids.incrementAndGet(), curStep, curUnit, "store", name, t0, t1))
      }
    }

  def newUnit(name: String, startUs: Long, endUs: Long, unit: Long): Unit =
    spans.add(Span(unit, 0L, unit, "op", name, startUs, endUs))

  def unitId(): Long = ids.incrementAndGet()

  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private final case class Snap(cpuNs: Long, gcMs: Long, stats: Map[String, Long],
      jobsSeen: Int, tasks: Long, taskCpuNs: Long, taskGcMs: Long, spill: Long,
      storeBytes: Long)

  private def snap(store: Option[GraftStore], dir: Option[Path]): Snap = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    Snap(processCpuNs, gcMs, store.map(_.stats.snapshot).getOrElse(Map.empty),
      listener.jobs.size, listener.tasks.get, listener.taskCpuNs.get,
      listener.taskGcMs.get, listener.spillBytes.get, dir.map(Run.dirBytes).getOrElse(0L))
  }

  /** Run `body` as a recorded step of operation `unit`. `span` is the
    * layer-boundary metric its wall time adds to (`sql.stmt_s.dml`,
    * `ops.merge_s`, ...), `name` the step kind in the report.
    * `store`/`dir` are the store the step works on, when any. */
  def step[A](unit: Long, span: String, name: String, store: Option[GraftStore],
      dir: Option[Path])(body: => A): A = {
    val before = snap(store, dir)
    storeCounts.clear(); storeNs.reset(); storeIntervals.clear()
    curUnit = unit
    curStep = ids.incrementAndGet()
    recording = true
    val t0 = Clock.nowUs
    try body
    finally {
      val t1 = Clock.nowUs
      recording = false
      val after = snap(store, dir)
      spans.add(Span(curStep, unit, unit, span.takeWhile(_ != '.'), name, t0, t1))
      steps += (name -> account(span, t0, t1, before, after))
    }
  }

  private def account(span: String, t0: Long, t1: Long,
      b: Snap, a: Snap): Map[String, Double] = {
    val jobs = listener.jobs.asScala.drop(b.jobsSeen).take(a.jobsSeen - b.jobsSeen).toSeq
    jobs.foreach { j =>
      spans.add(Span(ids.incrementAndGet(), curStep, curUnit, "spark",
        s"job ${j.id} ${j.desc}", j.startUs, if (j.endUs < 0) t1 else j.endUs))
    }
    def iv(js: Seq[JobRec]) = js.map(j => (j.startUs, if (j.endUs < 0) t1 else j.endUs))
    val jobIv = iv(jobs)
    val wallUs = (t1 - t0).toDouble
    val store = storeIntervals.asScala.toSeq
    val blockedUs = Stats.coveredWithin(jobIv ++ store, t0, t1).toDouble
    def stat(k: String) = (a.stats.getOrElse(k, 0L) - b.stats.getOrElse(k, 0L)).toDouble
    def calls(k: String) = Option(storeCounts.get(k)).map(_.sum.toDouble).getOrElse(0.0)
    val taskCpuNs = (a.taskCpuNs - b.taskCpuNs).toDouble
    val canonical = Trace.CanonicalKinds.map { k =>
      s"canonical.jobs.$k" -> jobs.count(j => Trace.canonicalKind(j.desc).contains(k)).toDouble
    }
    val canonicalJobs = jobs.filter(j => Trace.canonicalKind(j.desc).isDefined)
    Map(
      "wall_s" -> wallUs / 1e6,
      "driver.self_s" -> math.max(0.0, wallUs - blockedUs) / 1e6,
      "driver.cpu_s" -> ((a.cpuNs - b.cpuNs) - taskCpuNs) / 1e9,
      "driver.gc_s" -> (a.gcMs - b.gcMs) / 1e3,
      "spark.jobs" -> jobs.length.toDouble,
      "spark.tasks" -> (a.tasks - b.tasks).toDouble,
      "spark.job_wall_s" -> Stats.coveredWithin(jobIv, t0, t1) / 1e6,
      "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.gc_s" -> (a.taskGcMs - b.taskGcMs) / 1e3,
      "spark.spill_mb" -> (a.spill - b.spill) / 1e6,
      "canonical.job_wall_s" -> Stats.coveredWithin(iv(canonicalJobs), t0, t1) / 1e6,
      "store.memo_hits" -> stat("memoHits"),
      "store.memo_lookups" -> (stat("memoHits") + stat("memoMisses")),
      "store.chunk_saves" -> stat("chunkSaves"),
      "store.chunk_skips" -> stat("chunkSkips"),
      "store.meta_saves" -> stat("metaSaves"),
      "store.bytes_written" -> math.max(0L, a.storeBytes - b.storeBytes).toDouble,
      "store.meta_loads" -> calls("loadTableMeta"),
      "store.root_commits" -> (calls("saveRoot") + calls("setRootPointer")),
      "store.call_s" -> storeNs.sum / 1e9,
      span -> wallUs / 1e6
    ) ++ canonical
  }

  /** Layer metrics per operation over the recorded steps of `units`
    * operations, with the ratio metrics computed from their sums. */
  def perOperation(units: Int): Map[String, Double] = {
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    steps.foreach { case (_, m) => m.foreach { case (k, v) => sums(k) += v } }
    val n = math.max(units, 1).toDouble
    val perOp = Trace.PerOpMetrics.map(k => k -> sums(k) / n).toMap
    val lookups = sums("store.memo_lookups")
    val jobWall = sums("spark.job_wall_s")
    perOp ++ Map(
      "store.memo_hit_ratio" -> (if (lookups > 0) sums("store.memo_hits") / lookups else 0.0),
      "spark.core_util" ->
        (if (jobWall > 0) sums("spark.task_cpu_s") / (jobWall * cores) else 0.0))
  }

  /** Per step kind: mean of each layer metric, for the report line. */
  def perStepKind: Map[String, Map[String, Double]] =
    steps.groupBy(_._1).map { case (kind, rs) =>
      val keys = rs.flatMap(_._2.keys).distinct
      kind -> (keys.map(k => k -> rs.map(_._2.getOrElse(k, 0.0)).sum / rs.length).toMap +
        ("n" -> rs.length.toDouble))
    }

  def writeSpans(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val w = Files.newBufferedWriter(file)
    try spans.asScala.foreach { s => w.write(s.json); w.newLine() }
    finally w.close()
  }
}

object Trace {
  val CanonicalKinds: Seq[String] = Seq("probe", "sample", "write", "collect")

  /** `graft:probe` / `graft:probe-g` → probe, and so on; other jobs → None. */
  def canonicalKind(desc: String): Option[String] =
    if (!desc.startsWith("graft:")) None
    else CanonicalKinds.find(k => desc.stripPrefix("graft:").startsWith(k))

  /** Step names whose wall time is a layer-boundary span metric. */
  val SqlSpans: Seq[String] = Seq("dml", "refresh", "select")
  val OpsSpans: Seq[String] = Seq("from_df", "merge", "transform", "range_filter", "scan")

  /** Metrics summed over steps and divided by the operation count. */
  val PerOpMetrics: Seq[String] = Seq(
    "driver.self_s", "driver.cpu_s", "driver.gc_s",
    "spark.jobs", "spark.tasks", "spark.job_wall_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.spill_mb", "canonical.job_wall_s",
    "store.memo_lookups", "store.chunk_saves", "store.chunk_skips",
    "store.meta_saves", "store.bytes_written", "store.meta_loads",
    "store.root_commits", "store.call_s") ++
    CanonicalKinds.map(k => s"canonical.jobs.$k") ++
    SqlSpans.map(k => s"sql.stmt_s.$k") ++ OpsSpans.map(k => s"ops.${k}_s")

  /** Every per-layer metric a traced run reports, with its unit. */
  val PerLayer: Seq[(String, String)] = PerOpMetrics.map { k =>
    k -> (if (k.endsWith("_s") || k.startsWith("sql.stmt_s.")) "s" else if (k.endsWith("_mb")) "MB"
      else if (k == "store.bytes_written") "bytes" else "count")
  } ++ Seq("store.memo_hit_ratio" -> "ratio", "spark.core_util" -> "ratio",
    "trace.overhead_pct" -> "%")
}
