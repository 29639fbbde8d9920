package perfbench

import java.nio.file.Files
import scala.util.control.NonFatal
import org.apache.spark.sql.functions._
import graft.core.{Bound, Catalog, FoldSpec, FsStore, GraftStore, Ops}
import graft.sql.SqlSession

/** The benchmark's own tests: `python3 perfbench/run.py --test`.
  * Prints one line per test and exits 1 when any fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case NonFatal(e) => println(s"  ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = java.nio.file.Paths.get(m("work"))

    test("a tail percentile needs ten samples beyond it") {
      // 1..91: p90 = 82, nine samples above it; 1..98: p90 = 88.3, ten above
      assert(Stats.tail((1 to 91).map(_.toDouble), 0.9).isEmpty)
      assert(Stats.tail((1 to 98).map(_.toDouble), 0.9).exists(v => math.abs(v - 88.3) < 1e-9))
      assert(Stats.tail(Seq.fill(200)(1.0), 0.9).isEmpty, "ties are not beyond")
      assert(Stats.tail(Nil, 0.9).isEmpty)
      val clean = (1 to 195).map(_.toDouble)
      val failed = clean ++ Seq.fill(5)(Double.PositiveInfinity)
      assert(Stats.tail(failed, 0.9).get > Stats.tail(clean, 0.9).get,
        "failed operations count against the tail")
      assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    }

    test("job intervals are unioned") {
      assert(Stats.unionLength(Nil) == 0)
      assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
      assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100, "nested")
      assert(Stats.unionLength(Seq((10L, 20L), (20L, 30L))) == 20, "touching")
      assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0, "empty")
      assert(Stats.coveredWithin(Seq((0L, 10L), (5L, 15L), (18L, 40L)), 8L, 20L) == 9)
    }

    test("the same seed generates identical inputs") {
      assert((0 until 5).map(MvRefresh.delta(7, _)) == (0 until 5).map(MvRefresh.delta(7, _)))
      assert(MvRefresh.delta(7, 0) != MvRefresh.delta(8, 0))
      assert(MvRefresh.delta(7, 0) != MvRefresh.delta(7, 1))
      val rows = (0L until 1000L).map(k => k -> PointOps.Order(k % 7, "O", k * 100, "1-URGENT"))
      def stream(seed: Long) = { val g = new PointOps.Gen(seed, rows); Seq.fill(2000)(g.next()) }
      assert(stream(7) == stream(7))
      assert(stream(7) != stream(8))
      val kinds = stream(7).groupBy(_.kind).map { case (k, v) => k -> v.length }
      assert(kinds == PointOps.Mix.map { case (k, n) => k -> n * 200 }.toMap, s"mix $kinds")
      assert(BulkBuild.variant(7, 3) == BulkBuild.variant(7, 3))
      assert(BulkBuild.variant(7, 3) != BulkBuild.variant(8, 3))
    }

    test("command-line numbers fail fast") {
      val base = Array("--workload", "point_ops", "--seed", "1", "--seconds", "1",
        "--trace", "0", "--data", "d", "--work", "w")
      assert(Config.parse(base ++ Array("--cores", "4")).cores == 4)
      Seq("4 cores", "0", "-1", "").foreach { bad =>
        val rejected = try { Config.parse(base ++ Array("--cores", bad)); false }
          catch { case _: IllegalArgumentException => true }
        assert(rejected, s"--cores '$bad' was accepted")
      }
    }

    val spark = Main.session(Config("selftest", 1, 1, trace = true,
      m("cores").toInt, "", work, work))
    spark.sparkContext.setLogLevel("ERROR")
    try test("the timing store is transparent") {
      val tracer = new Tracer(spark, m("cores").toInt)
      def run(store: GraftStore, recorded: Boolean): Seq[String] = {
        def step[A](body: => A): A =
          if (recorded) tracer.step(1L, "ops.merge_s", "t", Some(store), None)(body) else body
        val ops = new Ops(spark, store, 64L)
        val df = spark.range(0, 3000).select(col("id").as("k"), (col("id") % 13).as("g"),
          (col("id") * 7).as("v"))
        val base = step(ops.fromDataFrame(df.repartition(3), Seq("k")))
        val delta = step(ops.fromDataFrame(df.where(col("k") % 50 === 0)
          .withColumn("v", col("v") + 1), Seq("k")))
        val merged = step(ops.merge(Seq(base, delta), FoldSpec.FoldLast))
        val rekeyed = step(ops.transform(merged, graft.core.ColTransform("selftest_g_v1",
          Seq("g"), Seq(col("g"), col("v"))), FoldSpec.FoldSum))
        val filtered = step(ops.rangeFilter(merged, Some(Bound(Seq(100L), inclusive = true)),
          Some(Bound(Seq(2000L), inclusive = false))))
        val session = new SqlSession(spark, ops, new Catalog(store))
        df.createOrReplaceTempView("selftest_src")
        Seq("CREATE TABLE t PRIMARY KEY (k) AS SELECT * FROM selftest_src",
          "CREATE MATERIALIZED VIEW tv AS SELECT g, SUM(v) AS s, COUNT(*) AS n FROM t GROUP BY g",
          "UPDATE t SET v = v + 3 WHERE k >= 10 AND k < 20",
          "INSERT INTO t VALUES (5000, 1, 2)",
          "DELETE FROM t WHERE k = 7",
          "REFRESH ALL").foreach(sql => step(session.execute(sql)))
        Seq(base, delta, merged, rekeyed, filtered).map(_.hash) ++
          session.catalog.root.toSeq.sortBy(_._1).map(_._2.tableHash)
      }
      val plainDir = Files.createDirectories(work.resolve("selftest-plain"))
      val timedDir = Files.createDirectories(work.resolve("selftest-timed"))
      val plain = run(new FsStore(plainDir.toString), recorded = false)
      val timed = run(new TimingStore(new FsStore(timedDir.toString), tracer), recorded = true)
      assert(plain == timed, s"hashes differ:\n$plain\n$timed")
      assert(tracer.steps.nonEmpty && tracer.steps.exists(_._2("store.meta_loads") > 0),
        "the decorator recorded no store calls")
      assert(tracer.steps.exists(_._2("spark.jobs") > 0), "the listener saw no jobs")
    } finally spark.stop()

    println(if (failures == 0) "all tests passed" else s"$failures test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
