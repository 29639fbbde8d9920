package perfbench

import java.util.SplittableRandom
import graft.core.{Catalog, GraftStore, Ops}
import graft.sql.SqlSession

/** `mv_refresh`: materialized-view maintenance through the SQL surface.
  *
  * The catalog table `li` holds a lineitem slice ([[MaxOrderKey]],
  * about 100,000 rows, key (l_orderkey, l_linenumber), 8192-row chunks),
  * with three views over it. One operation is a cycle: a seeded delta (a
  * 20-row INSERT of new orders, an UPDATE over 0.67% of the order keys,
  * consecutive, and a DELETE over 0.13%), `REFRESH ALL`, a second `REFRESH ALL` with nothing changed (the
  * replay, which must do no work), and one view SELECT. The deltas are
  * small and local, so the memo, the dirty-region recompute and the
  * catalog commit do most of the work. */
final class MvRefresh(cfg: Config) extends Workload {
  import MvRefresh._

  private var session: SqlSession = _
  private var store: GraftStore = _
  private var storeDir: java.nio.file.Path = _
  private var storeBytesAtStart = 0L
  private var rows = 0L

  def describe: Map[String, Any] = Map("table_rows" -> rows, "chunk_rows" -> ChunkRows,
    "views" -> Views.map(_._1), "insert_rows" -> InsertOrders * LinesPerOrder,
    "update_order_keys" -> UpdateKeys, "delete_order_keys" -> DeleteKeys)

  override def prepare(run: Run): Unit = {
    val source = Sources.lineitem(run.spark, cfg.data, MaxOrderKey).cache()
    rows = source.count()
    source.createOrReplaceTempView("li_src")
  }

  def setup(run: Run, repeat: Int): Unit = {
    val previous = Option(storeDir)
    storeDir = cfg.work.resolve(s"mv_refresh-$repeat")
    store = run.newStore(storeDir)
    session = new SqlSession(run.spark, new Ops(run.spark, store, ChunkRows), new Catalog(store))
    session.execute(
      "CREATE TABLE li PRIMARY KEY (l_orderkey, l_linenumber) AS SELECT * FROM li_src")
    Views.foreach { case (name, sql, _) =>
      session.execute(s"CREATE MATERIALIZED VIEW $name AS $sql")
    }
    previous.foreach(Run.deleteTree)
  }

  def operation(run: Run, i: Int): Unit = run.operation("cycle") {
    val d = delta(cfg.seed, i)
    def step[A](kind: String, span: String)(body: => A)(
        verify: A => Option[String] = (_: A) => None) =
      run.step(kind, span, Some(store), Some(storeDir))(body)(verify)
    step("insert", "sql.stmt_s.dml")(session.execute(d.insert))()
    step("update", "sql.stmt_s.dml")(session.execute(d.update))()
    step("delete", "sql.stmt_s.dml")(session.execute(d.delete))()
    step("refresh", "sql.stmt_s.refresh")(session.execute("REFRESH ALL"))()
    val before = store.stats.snapshot
    step("replay", "sql.stmt_s.refresh")(session.execute("REFRESH ALL")) { _ =>
      val after = store.stats.snapshot
      val saves = after("chunkSaves") - before("chunkSaves")
      val misses = after("memoMisses") - before("memoMisses")
      if (saves == 0 && misses == 0) None
      else Some(s"replay made $saves chunk saves and $misses memo misses, expected none")
    }
    step("select", "sql.stmt_s.select")(
      session.execute(s"SELECT * FROM $ReadView").swap.toOption.get.collect()) { rows =>
      if (rows.nonEmpty) None else Some(s"$ReadView is empty")
    }
    ()
  }

  def check(run: Run): Unit = {
    val base = session.execute("SELECT * FROM li").swap.toOption.get
    base.createOrReplaceTempView("li_now")
    Views.foreach { case (name, _, oracle) =>
      run.checkOutput(s"view $name equals its recomputation") {
        Sources.sameRows(session.execute(s"SELECT * FROM $name").swap.toOption.get,
          run.spark.sql(oracle))
      }
    }
  }

  /** A write is one delta batch: its INSERT, UPDATE and DELETE. */
  def writeSample(run: Run): Seq[Double] = {
    val parts = Seq("insert", "update", "delete").map(run.sample)
    (0 until parts.map(_.length).min).map(i => parts.map(_(i)).sum)
  }
  def readSample(run: Run): Seq[Double] = run.sample("select")

  def metrics(run: Run): Map[String, (Double, String)] = Map(
    "store_mb_per_op" -> ((Run.dirBytes(storeDir) - storeBytesAtStart) / 1e6 / run.ops, "MB"),
    "refresh_p50_s" -> (Stats.median(run.sample("refresh")), "s"),
    "replay_p50_ms" -> (Stats.median(run.sample("replay")) * 1e3, "ms"))

  override def windowOpens(run: Run): Unit = storeBytesAtStart = Run.dirBytes(storeDir)
}

object MvRefresh {
  val ChunkRows = 8192L
  val InsertOrders = 5
  val LinesPerOrder = 4
  /** Order keys of the table run from 0 up to this (about 100,000 rows,
    * 13 chunks, above the engine's largest driver-route crossover,
    * `DriverZeroJobMaxRows` = 65,536 rows); inserts add new keys above.
    * The size keeps a run's three set-ups inside its time budget. */
  val MaxOrderKey: Int = 25000
  val UpdateKeys: Int = MaxOrderKey / 150
  val DeleteKeys: Int = MaxOrderKey / 750
  val ReadView = "v_supp"

  /** (name, defining SELECT, plain Spark SQL recomputation over `li_now`). */
  val Views: Seq[(String, String, String)] = Seq(
    ("v_supp",
      "SELECT l_suppkey, SUM(price_c) AS total_c, SUM(qty) AS qty_sum, COUNT(*) AS n " +
        "FROM li GROUP BY l_suppkey",
      "SELECT l_suppkey, SUM(price_c) AS total_c, SUM(qty) AS qty_sum, COUNT(*) AS n " +
        "FROM li_now GROUP BY l_suppkey"),
    ("v_big",
      "SELECT l_orderkey, l_linenumber, l_suppkey, price_c FROM li WHERE qty >= 45",
      "SELECT l_orderkey, l_linenumber, l_suppkey, price_c FROM li_now WHERE qty >= 45"),
    ("v_part",
      "SELECT l_partkey % 1000 AS bucket, AVG(price_c) AS mean_c, COUNT(*) AS n " +
        "FROM li GROUP BY bucket HAVING n >= 600",
      "SELECT l_partkey % 1000 AS bucket, AVG(price_c) AS mean_c, COUNT(*) AS n " +
        "FROM li_now GROUP BY l_partkey % 1000 HAVING COUNT(*) >= 600"))

  final case class Delta(insert: String, update: String, delete: String)

  /** The delta of cycle `i`: a pure function of the seed and the index. */
  def delta(seed: Long, i: Int): Delta = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val rows = for {
      o <- 0 until InsertOrders
      line <- 1 to LinesPerOrder
    } yield {
      val key = MaxOrderKey + i.toLong * InsertOrders + o
      s"($key, $line, ${r.nextInt(20000)}, ${r.nextInt(1000)}, ${1 + r.nextInt(50)}, " +
        s"${90000 + r.nextInt(10000000)}, '${"ANR".charAt(r.nextInt(3))}')"
    }
    val u = r.nextInt(MaxOrderKey - UpdateKeys)
    val d = r.nextInt(MaxOrderKey - DeleteKeys)
    Delta(
      s"INSERT INTO li VALUES ${rows.mkString(", ")}",
      s"UPDATE li SET price_c = price_c + ${1 + r.nextInt(99)} " +
        s"WHERE l_orderkey >= $u AND l_orderkey < ${u + UpdateKeys}",
      s"DELETE FROM li WHERE l_orderkey >= $d AND l_orderkey < ${d + DeleteKeys}")
  }
}
