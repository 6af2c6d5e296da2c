package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

package object queries {

  /** One operator-coverage query: Spark implementation + optional ANSI
    * SQL oracle (run by the driver in DuckDB over the same parquet).
    * Column names must match exactly between the two. */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** The harness table `n` under `dir`, as a memoized relation. */
  def t(s: SparkSession, dir: String, n: String): DataFrame =
    graft.sources.Tables.load(s, dir, n)

  /** Exact money math: cast doubles to DECIMAL(12,2) before arithmetic
    * so Spark and DuckDB accumulate identically (decimal addition is
    * associative; double summation is partition-order-dependent).
    * Final outputs are cast back to double — same value in both
    * engines. */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  def dec(name: String): Column = dec(col(name))

  /** SQL-side mirror of [[dec]]. */
  def decSql(e: String): String = s"CAST($e AS DECIMAL(12,2))"

  /** Month × status revenue matrix with DECLARED value columns
    * (F/O/P), zero-filled — q195 surfaces it directly, q202 unpivots
    * it back to long form; single-sourced so the two stay exact
    * inverses. Columns: mon (yyyy-MM string), f_rev, o_rev, p_rev. */
  def statusRevenueWide(orders: DataFrame): DataFrame = {
    val z = lit(java.math.BigDecimal.ZERO).cast("decimal(22,2)")
    orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
        col("o_orderstatus").as("status"), dec("o_totalprice").as("p"))
      .groupBy("mon").pivot("status", Seq("F", "O", "P")).agg(sum(col("p")))
      .select(col("mon"),
        coalesce(col("F"), z).cast("double").as("f_rev"),
        coalesce(col("O"), z).cast("double").as("o_rev"),
        coalesce(col("P"), z).cast("double").as("p_rev"))
  }

  /** Monthly revenue series over `orders` — the shared base of the
    * time-series queries (q147/q155/q158/q159/q166): decimal-exact
    * money sum per calendar month, optionally keyed by status. Single-
    * sourced so the decimal discipline can't drift between the packs
    * (each oracle mirrors this exact shape in SQL). Columns:
    * [status,] mon (date), rev (decimal). */
  def monthlyRevenue(orders: DataFrame, byStatus: Boolean): DataFrame = {
    val mon = to_date(date_trunc("month", col("o_orderdate"))).as("mon")
    val keys =
      if (byStatus) Seq(col("o_orderstatus").as("status"), mon) else Seq(mon)
    orders.groupBy(keys: _*)
      .agg(sum(dec("o_totalprice")).as("rev"))
  }
}
