package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import graft.core.{Catalog, GraftStore, Ops}
import graft.sql.SqlSession

/** `point_ops`: OLTP-like single-row SQL on the catalog table `ord`
  * (sf0.1 orders, 150,000 rows, key o_orderkey). The seeded mix is 50%
  * SELECT by key, 30% UPDATE by key, 10% INSERT VALUES of a new key and
  * 10% DELETE by key, keys uniform over the live rows. SQL handling, the
  * zero-job driver-patch route, table-meta loads and root commits
  * dominate; Canonical, Spark tasks and the memo do almost nothing.
  * Reads and writes interleave, so a write-path gain that costs reads
  * shows. The benchmark mirrors every write in memory and checks each
  * read, and the final table, against the mirror. */
final class PointOps(cfg: Config) extends Workload {
  import PointOps._

  private var session: SqlSession = _
  private var store: GraftStore = _
  private var storeDir: java.nio.file.Path = _
  private var gen: Gen = _
  private var storeBytesAtStart = 0L

  def describe: Map[String, Any] = Map("table_rows" -> 150000,
    "mix_per_10" -> Mix.toMap)

  override def prepare(run: Run): Unit = {
    val src = Sources.orders(run.spark, cfg.data)
    src.createOrReplaceTempView("ord_src")
    gen = new Gen(cfg.seed, src.collect().toSeq.map(r =>
      r.getLong(0) -> Order(r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))))
  }

  def setup(run: Run, repeat: Int): Unit = {
    val previous = Option(storeDir)
    storeDir = cfg.work.resolve(s"point_ops-$repeat")
    store = run.newStore(storeDir)
    session = new SqlSession(run.spark, new Ops(run.spark, store, 8192L), new Catalog(store))
    session.execute("CREATE TABLE ord PRIMARY KEY (o_orderkey) AS SELECT * FROM ord_src")
    previous.foreach(Run.deleteTree)
  }

  override def windowOpens(run: Run): Unit = storeBytesAtStart = Run.dirBytes(storeDir)

  def operation(run: Run, i: Int): Unit = {
    val op = gen.next()
    run.operation(op.kind) {
      val span = if (op.kind == "select") "sql.stmt_s.select" else "sql.stmt_s.dml"
      run.step(op.kind, span, Some(store), Some(storeDir))(session.execute(op.sql) match {
        case Left(df) => df.collect().toSeq
        case Right(_) => Nil
      }) { rows =>
        op.expect.flatMap { o =>
          val got = rows.map(r =>
            Order(r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus"),
              r.getAs[Long]("price_c"), r.getAs[String]("o_orderpriority")))
          if (got == Seq(o)) None else Some(s"key ${op.key}: got $got, expected $o")
        }
      }
    }
  }

  def check(run: Run): Unit = run.checkOutput("table ord equals the mirror") {
    val rows = session.execute("SELECT * FROM ord").swap.toOption.get.collect()
    val got = rows.map(r => r.getAs[Long]("o_orderkey") -> Order(r.getAs[Long]("o_custkey"),
      r.getAs[String]("o_orderstatus"), r.getAs[Long]("price_c"),
      r.getAs[String]("o_orderpriority"))).toMap
    val want = gen.mirror
    if (got.size != rows.length) Some(s"${rows.length - got.size} duplicate keys")
    else if (got == want) None
    else {
      val k = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))
      Some(s"${got.size} rows, expected ${want.size}; first difference at key $k: " +
        s"${k.flatMap(got.get)} vs ${k.flatMap(want.get)}")
    }
  }

  def writeSample(run: Run): Seq[Double] =
    Seq("update", "insert", "delete").flatMap(run.sample)
  def readSample(run: Run): Seq[Double] = run.sample("select")

  def metrics(run: Run): Map[String, (Double, String)] = Map(
    "store_mb_per_op" -> ((Run.dirBytes(storeDir) - storeBytesAtStart) / 1e6 / run.ops, "MB"))
}

object PointOps {
  /** Statements of each kind in every block of ten. */
  val Mix: Seq[(String, Int)] = Seq("select" -> 5, "update" -> 3, "insert" -> 1, "delete" -> 1)

  final case class Order(custkey: Long, status: String, priceC: Long, priority: String)

  /** One statement, and for a SELECT the row the mirror expects. */
  final case class Op(kind: String, key: Long, sql: String, expect: Option[Order])

  /** The seeded statement stream. It keeps its own mirror of the table,
    * so the statements are a pure function of the seed and the initial
    * rows, whatever the program does. */
  final class Gen(seed: Long, initial: Seq[(Long, Order)]) {
    private val rng = new SplittableRandom(seed)
    private val live = mutable.ArrayBuffer.empty[Long]
    private val slot = mutable.HashMap.empty[Long, Int]
    private val rows = mutable.HashMap.empty[Long, Order]
    private var nextKey = 0L
    initial.sortBy(_._1).foreach { case (k, o) => add(k, o) }
    nextKey = if (live.isEmpty) 0L else live.max + 1

    private def add(k: Long, o: Order): Unit = {
      slot(k) = live.length; live += k; rows(k) = o
    }
    private def remove(k: Long): Unit = {
      val i = slot.remove(k).get
      val last = live.remove(live.length - 1)
      if (last != k) { live(i) = last; slot(last) = i }
      rows.remove(k)
    }

    def mirror: Map[Long, Order] = rows.toMap

    private def status = "FOP".charAt(rng.nextInt(3)).toString
    private def price = 90000L + rng.nextInt(50000000)

    /** The kinds of the next operations: each block of ten holds exactly
      * the mix, in seeded order, so every run sees the same mix. */
    private val pending = mutable.Queue.empty[String]

    def next(): Op = {
      if (pending.isEmpty) {
        val block = mutable.ArrayBuffer.from(Mix.flatMap { case (kind, n) => Seq.fill(n)(kind) })
        for (i <- block.indices.reverse) {
          val j = rng.nextInt(i + 1)
          val t = block(i); block(i) = block(j); block(j) = t
        }
        pending ++= block
      }
      val kind = pending.dequeue()
      if (kind == "insert" || live.isEmpty) {
        val k = nextKey; nextKey += 1
        val o = Order(rng.nextInt(15000).toLong, status, price, s"${1 + rng.nextInt(5)}-NEW")
        add(k, o)
        Op("insert", k, s"INSERT INTO ord VALUES ($k, ${o.custkey}, '${o.status}', " +
          s"${o.priceC}, '${o.priority}')", None)
      } else {
        val k = live(rng.nextInt(live.length))
        if (kind == "select")
          Op("select", k, "SELECT o_orderkey, o_custkey, o_orderstatus, price_c, " +
            s"o_orderpriority FROM ord WHERE o_orderkey = $k", Some(rows(k)))
        else if (kind == "update") {
          val o = rows(k).copy(status = status, priceC = price)
          rows(k) = o
          Op("update", k, s"UPDATE ord SET price_c = ${o.priceC}, " +
            s"o_orderstatus = '${o.status}' WHERE o_orderkey = $k", None)
        } else {
          remove(k)
          Op("delete", k, s"DELETE FROM ord WHERE o_orderkey = $k", None)
        }
      }
    }
  }
}
