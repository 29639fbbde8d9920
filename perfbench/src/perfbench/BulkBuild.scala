package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Bound, ColTransform, FoldSpec, GraftStore, Ops, TableRef}

/** `bulk_build`: the core algebra on a fresh store per operation, no SQL.
  *
  * The input is a lineitem slice ([[OrderKeys]], about 120,000 rows) split
  * into twice as many partitions as cores, as a real ingest arrives, with
  * a seeded constant added to `price_c`. Every operation builds into a
  * fresh store, so neither the memo nor chunk dedup can hit. One
  * operation runs `fromDataFrame` of the input, `fromDataFrame` of a
  * ~2% update delta, `merge` (last wins), a re-keying `transform` that
  * sums per supplier, `rangeFilter` over half the order keys and a scan
  * aggregate. Canonical materialization and Spark task work dominate,
  * the memo is bypassed and the catalog is unused. */
final class BulkBuild(cfg: Config) extends Workload {
  import BulkBuild._

  private var source: DataFrame = _
  private var first: Option[(Built, java.nio.file.Path)] = None
  private var previous: Option[Built] = None
  private val storeBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var rowsIngested = 0L
  private var ingestSeconds = 0.0

  private var rows = 0L

  def partitions: Int = 2 * cfg.cores

  def describe: Map[String, Any] = Map("input_rows" -> rows,
    "input_partitions" -> partitions, "delta_share" -> 1.0 / DeltaModulus, "chunk_rows" -> 8192)

  def setup(run: Run, repeat: Int): Unit = {
    if (source != null) source.unpersist(true)
    source = Sources.lineitem(run.spark, cfg.data, OrderKeys)
      .select(Keys.map(col) ++ Seq(col("l_suppkey"), col("qty"), col("price_c")): _*)
      .repartition(partitions).cache()
    rows = source.count()
  }

  /** The input of operation `i` and its delta. Operations come in pairs
    * on the same input, each into its own fresh store, and each pair must
    * build the same tables. */
  def inputs(i: Int): (DataFrame, DataFrame) = {
    val c = variant(cfg.seed, i / 2)
    val in = source.withColumn("price_c", col("price_c") + c)
    val delta = in.where(pmod(col("l_orderkey") * 7 + col("l_linenumber") + c, lit(DeltaModulus)) === 0)
      .withColumn("qty", col("qty") + 1).withColumn("price_c", col("price_c") + 1)
    (in, delta)
  }

  /** One build into `store`; each call into the program is a step. */
  private def build(run: Run, i: Int, store: GraftStore, dir: java.nio.file.Path): Option[Built] = {
    val ops = new Ops(run.spark, store, 8192L)
    val (in, delta) = inputs(i)
    def step[A](kind: String, span: String)(body: => A) =
      run.step(kind, span, Some(store), Some(dir))(body)()
    for {
      base <- step("from_df", "ops.from_df_s")(ops.fromDataFrame(in, Keys))
      d <- step("from_df_delta", "ops.from_df_s")(ops.fromDataFrame(delta, Keys))
      merged <- step("merge", "ops.merge_s")(ops.merge(Seq(base, d), FoldSpec.FoldLast))
      rekeyed <- step("transform", "ops.transform_s")(
        ops.transform(merged, Rekey, FoldSpec.FoldSum))
      filtered <- step("range_filter", "ops.range_filter_s")(
        ops.rangeFilter(merged, Some(Bound(Seq(RangeLo), inclusive = true)),
          Some(Bound(Seq(RangeHi), inclusive = false))))
      agg <- step("scan", "ops.scan_s")(aggregate(ops.scan(filtered)))
    } yield {
      rowsIngested += ops.rowCount(base) + ops.rowCount(d)
      Built(base, d, merged, rekeyed, filtered, agg)
    }
  }

  def operation(run: Run, i: Int): Unit = {
    val dir = cfg.work.resolve(s"bulk_build-$i")
    val store = run.newStore(dir)
    var built: Option[Built] = None
    run.operation("build") { built = build(run, i, store, dir) }
    ingestSeconds += (run.sample("from_df").lastOption ++ run.sample("from_df_delta").lastOption).sum
    storeBytes += Run.dirBytes(dir)
    if (i % 2 == 1) run.checkOutput(s"builds ${i - 1} and $i of the same input agree") {
      (previous, built) match {
        case (Some(a), Some(b)) => if (a == b) None else Some(s"$b != $a")
        case _ => None // the failed build is already counted
      }
    }
    previous = built
    if (first.isEmpty && built.isDefined) first = built.map(_ -> dir)
    else Run.deleteTree(dir)
  }

  def check(run: Run): Unit = first match {
    case None => run.checkOutput("a build completed")(Some("no build completed"))
    case Some((b, dir)) =>
      val ops = new Ops(run.spark, new graft.core.FsStore(dir.toString), 8192L)
      val (in, delta) = inputs(0)
      val merged = in.join(delta, Keys, "left_anti").unionByName(delta)
      run.checkOutput("merge equals a Spark recomputation") {
        Sources.sameBag(ops.scan(b.merged), merged)
      }
      run.checkOutput("transform equals a Spark recomputation") {
        Sources.sameRows(ops.scan(b.rekeyed), merged.groupBy("l_suppkey").agg(
          sum("qty").as("qty"), sum("price_c").as("price_c"), count(lit(1)).as("n")))
      }
      val inRange = merged.where(col("l_orderkey") >= RangeLo && col("l_orderkey") < RangeHi)
      run.checkOutput("rangeFilter equals a Spark recomputation") {
        Sources.sameBag(ops.scan(b.filtered), inRange)
      }
      run.checkOutput("scan aggregate equals a Spark recomputation") {
        val want = aggregate(inRange)
        if (b.agg == want) None else Some(s"${b.agg} != $want")
      }
  }

  def writeSample(run: Run): Seq[Double] = run.sample("from_df")
  def readSample(run: Run): Seq[Double] = run.sample("scan")

  def metrics(run: Run): Map[String, (Double, String)] = Map(
    "store_mb_per_op" -> (storeBytes.sum / 1e6 / storeBytes.length, "MB"),
    "build_p50_s" -> (Stats.median(run.sample("op")), "s"),
    "ingest_rows_per_s" -> (rowsIngested / ingestSeconds, "rows/s"))

  private def aggregate(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum("qty"), sum("price_c")).collect().head
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object BulkBuild {
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  /** Lines of the orders below this key are the input: about 120,000
    * rows, nearly twice the engine's largest driver-route crossover
    * (`DriverZeroJobMaxRows`, 65,536 rows), so every build takes the
    * Spark routes; the size keeps several builds inside a run. */
  val OrderKeys = 30000L
  val DeltaModulus = 50
  val RangeLo: Long = OrderKeys / 4
  val RangeHi: Long = OrderKeys * 3 / 4
  val Rekey: ColTransform = ColTransform("perfbench_supp_sum_v1", Seq("l_suppkey"),
    Seq(col("l_suppkey"), col("qty"), col("price_c"), lit(1L).as("n")))

  final case class Built(base: TableRef, delta: TableRef, merged: TableRef,
      rekeyed: TableRef, filtered: TableRef, agg: Seq[Long])

  /** The constant added to `price_c` in the `pair`-th pair of operations. */
  def variant(seed: Long, pair: Int): Long =
    1L + new SplittableRandom(seed * 1000003L + pair).nextInt(1000000)
}
