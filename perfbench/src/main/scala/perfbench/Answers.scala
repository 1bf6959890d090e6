package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, round}

/** The expected answers the generator computed with numpy from the
  * same arrays it wrote as parquet (gen.py, `answers/`): independent of
  * Spark and of the engine under test. */
final class Answers(data: Path) {
  private def rows(f: String): IndexedSeq[Array[String]] =
    Files.readAllLines(data.resolve("answers").resolve(f)).asScala
      .filter(_.nonEmpty).map(_.split('\t')).toIndexedSeq

  private val orders = rows("orders.tsv")
  val nOrders: Int = orders.size
  /** Per order key: its lineitem count, the sum of its lineitem row
    * hashes, the same after the MERGE update, and the order's hash. */
  val lines: Array[Int] = orders.map(_(1).toInt).toArray
  val h0: Array[Long] = orders.map(_(2).toLong).toArray
  val h1: Array[Long] = orders.map(_(3).toLong).toArray
  val orderHash: Array[Long] = orders.map(_(4).toLong).toArray

  val counts: Map[String, Long] = rows("counts.tsv").map(r => r(0) -> r(1).toLong).toMap
  val docs: Map[Long, (String, Long)] =
    rows("documents.tsv").map(r => r(0).toLong -> (r(1) -> r(2).toLong)).toMap
  val topN: IndexedSeq[(Long, Int, Double)] =
    rows("topn.tsv").map(r => (r(0).toLong, r(1).toInt, r(2).toDouble))
  val lineitemRows: Long = lines.map(_.toLong).sum
}

object Answers {
  val LineitemHashCols: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_partkey", "l_suppkey")

  private def cents(d: Double): Long = math.round(d * 100)

  /** gen.py's `lineitem_hash`, on one row's values. */
  def lineitemHash(k: Long, ln: Int, q: Double, price: Double, disc: Double, tax: Double,
      part: Long, supp: Long): Long =
    ((k * 8 + ln) * 5003 + cents(q) * 7 + cents(price) * 11 + cents(disc) * 13 +
      cents(tax) * 17 + part * 19 + supp * 23) % 1000000007L

  /** The same hash as a Spark column over `quantity` and the other
    * lineitem columns. */
  def lineitemHash(quantity: Column): Column = {
    def c(x: Column) = round(x * 100).cast("long")
    ((col("l_orderkey") * 8 + col("l_linenumber")) * 5003 + c(quantity) * 7 +
      c(col("l_extendedprice")) * 11 + c(col("l_discount")) * 13 + c(col("l_tax")) * 17 +
      col("l_partkey") * 19 + col("l_suppkey") * 23) % 1000000007L
  }

  def orderHash(k: Long, price: Double): Long = (k * 5003 + cents(price)) % 1000000007L
}
