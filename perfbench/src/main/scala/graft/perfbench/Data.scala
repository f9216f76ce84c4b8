package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types._

/** TPC-H-shaped lineitem rows, generated from the workload seed: every
  * order key draws its own random stream, so a slice of keys generates
  * the same rows whichever range it is generated with. Arrays, sorted by
  * (l_orderkey, l_linenumber), double as the benchmark's model of what
  * the tables hold. */
final class Lines(val orderkey: Array[Long], val partkey: Array[Long],
    val suppkey: Array[Long], val linenumber: Array[Int],
    val quantity: Array[Double], val price: Array[Double],
    val discount: Array[Double], val tax: Array[Double],
    val returnflag: Array[String], val linestatus: Array[String],
    val shipdate: Array[Long]) {
  def size: Int = orderkey.length

  /** First index whose order key is >= `k`. */
  def lowerBound(k: Long): Int = {
    var lo = 0; var hi = size
    while (lo < hi) { val m = (lo + hi) >>> 1; if (orderkey(m) < k) lo = m + 1 else hi = m }
    lo
  }

  def toDF(spark: SparkSession, from: Int = 0, until: Int = size): DataFrame = {
    val rows = new java.util.ArrayList[Row](until - from)
    var i = from
    while (i < until) {
      rows.add(Row(orderkey(i), partkey(i), suppkey(i), linenumber(i), quantity(i),
        price(i), discount(i), tax(i), returnflag(i), linestatus(i), shipdate(i)))
      i += 1
    }
    spark.createDataFrame(rows, Data.LinesRaw)
      .withColumn("l_shipdate", timestamp_micros(col("l_shipdate")))
  }
}

/** Orders for keys 1..n; index = key - 1. */
final class Orders(val custkey: Array[Long], val status: Array[String],
    val totalprice: Array[Double], val orderdate: Array[Long],
    val priority: Array[String]) {
  def toDF(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row](custkey.length)
    custkey.indices.foreach { i =>
      rows.add(Row(i + 1L, custkey(i), status(i), totalprice(i), orderdate(i), priority(i)))
    }
    spark.createDataFrame(rows, Data.OrdersRaw)
      .withColumn("o_orderdate", timestamp_micros(col("o_orderdate")))
  }
}

object Data {
  val Day: Long = 86400L * 1000000L
  /** 1992-01-01T00:00:00Z in microseconds. */
  val Start: Long = 694224000L * 1000000L
  /** 1995-06-17: ship dates after it are open ("O") lines. */
  val Cutoff: Long = Start + 1263L * Day
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val LinesRaw: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", LongType)))

  val OrdersRaw: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", LongType), StructField("o_orderpriority", StringType)))

  val LinesDdl: String =
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"

  val OrdersDdl: String =
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"

  private def rng(seed: Long, key: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + key * 0xBF58476D1CE4E5B9L)

  /** Lines of order keys [from, until). */
  def lines(seed: Long, from: Long, until: Long): Lines = {
    val b = Array.newBuilder[(Long, Long, Long, Int, Double, Double, Double, Double, String, String, Long)]
    var k = from
    while (k < until) {
      val r = rng(seed, k)
      val orderdate = Start + r.nextInt(2400) * Day
      val n = 1 + r.nextInt(7)
      var ln = 1
      while (ln <= n) {
        val pk = 1L + r.nextInt(20000)
        val qty = (1 + r.nextInt(50)).toDouble
        val price = math.round(qty * (900.0 + (pk % 1000) / 10.0) * 100) / 100.0
        val disc = r.nextInt(11) / 100.0
        val tax = r.nextInt(9) / 100.0
        val ship = orderdate + (1 + r.nextInt(121)) * Day
        val rf = if (ship > Cutoff) "N" else if (r.nextBoolean()) "R" else "A"
        val ls = if (ship > Cutoff) "O" else "F"
        b += ((k, pk, 1L + r.nextInt(1000), ln, qty, price, disc, tax, rf, ls, ship))
        ln += 1
      }
      k += 1
    }
    val rows = b.result()
    new Lines(rows.map(_._1), rows.map(_._2), rows.map(_._3), rows.map(_._4),
      rows.map(_._5), rows.map(_._6), rows.map(_._7), rows.map(_._8),
      rows.map(_._9), rows.map(_._10), rows.map(_._11))
  }

  /** Orders 1..n, consistent with [[lines]] over the same keys. */
  def orders(seed: Long, lines: Lines, n: Int): Orders = {
    val cust = new Array[Long](n); val status = new Array[String](n)
    val total = new Array[Double](n); val date = new Array[Long](n)
    val prio = new Array[String](n)
    (0 until n).foreach { i =>
      val r = rng(seed ^ 0x5DEECE66DL, i + 1L)
      cust(i) = 1L + r.nextInt(15000)
      prio(i) = Priorities(r.nextInt(Priorities.length))
      date(i) = Start + r.nextInt(2400) * Day
    }
    val open = new Array[Int](n); val cnt = new Array[Int](n)
    (0 until lines.size).foreach { j =>
      val o = (lines.orderkey(j) - 1).toInt
      if (o >= 0 && o < n) {
        cnt(o) += 1
        if (lines.linestatus(j) == "O") open(o) += 1
        total(o) += lines.price(j) * (1 + lines.tax(j)) * (1 - lines.discount(j))
      }
    }
    (0 until n).foreach { i =>
      status(i) = if (open(i) == 0) "F" else if (open(i) == cnt(i)) "O" else "P"
    }
    new Orders(cust, status, total, date, prio)
  }
}
