package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Base inputs, derived from the sf0.1 testdata parquet files. */
object Sources {

  /** `lineitem` as the workloads use it, keyed by (l_orderkey,
    * l_linenumber), the lines of the orders with keys below `orderKeys`
    * (sf0.1 has 150,000 orders of about four lines each). The testdata
    * repeats about a quarter of those pairs, so line numbers are
    * re-assigned within each order in a fixed order of all source
    * columns. Money is held in integer cents so sums are exact. */
  def lineitem(spark: SparkSession, data: String, orderKeys: Long): DataFrame = {
    val li = spark.read.parquet(s"$data/lineitem.parquet")
      .where(col("l_orderkey") < orderKeys)
    val w = Window.partitionBy("l_orderkey").orderBy(
      Seq("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate").map(col): _*)
    li.select(
      col("l_orderkey"),
      row_number().over(w).cast("int").as("l_linenumber"),
      col("l_partkey"), col("l_suppkey"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      col("l_returnflag"))
  }

  /** `orders` (150,000 rows, key o_orderkey) with the price in cents. */
  def orders(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/orders.parquet").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"),
      col("o_orderpriority"))

  /** Collects `df` sorted on every column; NaN-free doubles compare with
    * a relative tolerance of 1e-9, everything else exactly. Returns the
    * first difference. */
  def sameRows(actual: DataFrame, expected: DataFrame): Option[String] = {
    val cols = expected.columns.toSeq
    if (actual.columns.toSeq.sorted != cols.sorted)
      return Some(s"columns ${actual.columns.mkString(",")} != ${cols.mkString(",")}")
    def rows(df: DataFrame) = df.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect()
    val a = rows(actual)
    val e = rows(expected)
    if (a.length != e.length) return Some(s"${a.length} rows, expected ${e.length}")
    a.iterator.zip(e.iterator).collectFirst {
      case (x, y) if !sameRow(x, y) => s"row $x, expected $y"
    }
  }

  /** Multiset equality of two large frames without collecting them: row
    * count and the sum of a 64-bit hash of every row must agree. */
  def sameBag(actual: DataFrame, expected: DataFrame): Option[String] = {
    val cols = expected.columns.toSeq
    if (actual.columns.toSeq.sorted != cols.sorted)
      return Some(s"columns ${actual.columns.mkString(",")} != ${cols.mkString(",")}")
    def digest(df: DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).collect().head
    val (a, e) = (digest(actual), digest(expected))
    if (a == e) None else Some(s"(rows, hash sum) $a, expected $e")
  }

  private def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
    }
}
