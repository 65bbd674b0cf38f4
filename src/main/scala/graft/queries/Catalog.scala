package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{conv, md5, substring}

/** One verifiable operator scenario: a Spark query plus (when SQL-expressible)
  * its DuckDB oracle over the same parquet tables. Column names must match
  * exactly between the two — the driver sorts columns by name before hashing. */
final case class QueryDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryGroup {
  def queries: Seq[QueryDef]
}

object Catalog {
  /** Shared fixture constants (events span 2024-01-01..2024-01-30). */
  val PredTs = "2024-02-01 00:00:00"
  val HistoryDays = 21
  val LabelDays = 7

  /** Oracle fragment: the first 4 nibbles of the lowercase hex string
    * `hexExpr` (an md5) as a value in [0, 65536). */
  def hex16Sql(hexExpr: String): String = {
    def nib(k: Int) = s"(strpos('0123456789abcdef', substr($hexExpr, $k, 1)) - 1)"
    s"(${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)})"
  }

  /** md5 16-bit value of an id expression, DuckDB side: the hash behind
    * [[graft.ops.Text.docBucket]], [[graft.ops.Text.hashSplit]] and the
    * experiment arm splits. */
  def md5Val16Sql(idExpr: String): String = hex16Sql(s"md5(CAST($idExpr AS VARCHAR))")

  /** md5 16-bit value, Spark side. */
  def md5Val16(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long")
}
