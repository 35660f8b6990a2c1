package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A TPC-H `lineitem`-shaped row (the columns of the repository's own test
  * tables), compound key (l_orderkey, l_linenumber). */
final case class Line(l_orderkey: Long, l_linenumber: Int, l_partkey: Long, l_suppkey: Long,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)

object Lineitem {
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val Compare: Seq[String] = Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  /** Lines per order are 1..MaxLine; a generated insert uses MaxLine + 1. */
  val MaxLine = 7
  private val Day = 86400000L

  def lines(seed: Long, order: Long): Int = 1 + Hash.below(Hash(seed, 1, order), MaxLine).toInt

  /** The row (order, line); `version` > 0 is an updated image of it. */
  def row(seed: Long, order: Long, line: Int, version: Int = 0): Line = {
    val h = Hash(seed, 2, order, line)
    val qty = 1 + Hash.below(h, 50) + version
    val unitPrice = 900.0 + Hash.below(h >>> 7, 100000) / 100.0
    Line(order, line,
      l_partkey = 1 + Hash.below(h >>> 13, 20000),
      l_suppkey = 1 + Hash.below(h >>> 19, 1000),
      l_quantity = qty.toDouble,
      l_extendedprice = math.round(qty * unitPrice * 100) / 100.0,
      l_discount = Hash.below(h >>> 25, 11) / 100.0,
      l_tax = Hash.below(h >>> 31, 9) / 100.0,
      l_returnflag = if (version > 0) "U" else "ARN".charAt(Hash.below(h >>> 37, 3).toInt).toString,
      l_linestatus = "OF".charAt(Hash.below(h >>> 41, 2).toInt).toString,
      l_shipdate = new Timestamp((8000 + Hash.below(h >>> 43, 2500)) * Day))
  }

  def orderRows(seed: Long, order: Long): Seq[Line] =
    (1 to lines(seed, order)).map(l => row(seed, order, l))

  def count(seed: Long, orders: Long): Long = (0L until orders).map(lines(seed, _).toLong).sum

  def frame(spark: SparkSession, seed: Long, orders: Long): DataFrame = {
    import spark.implicits._
    spark.range(orders).as[Long].flatMap(o => orderRows(seed, o)).toDF()
  }
}

/** A TPC-H `orders`-shaped row, as the layout gates use it. */
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double)

object Orders {
  val Customers = 5000L

  def row(seed: Long, key: Long): Order = {
    val h = Hash(seed, 3, key)
    Order(key, 1 + Hash.below(h, Customers), "FOP".charAt(Hash.below(h >>> 17, 3).toInt).toString,
      (100000 + Hash.below(h >>> 23, 40000000)) / 100.0)
  }

  def frame(spark: SparkSession, rows: Seq[Order]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }

  def range(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].map(row(seed, _)).toDF()
  }
}
