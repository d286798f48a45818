package graft.queries

import graft.{Agg, Q, Tables}
import graft.Tag.{NoCodegen, Sweep}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reshape + remaining conversion/aggregation surface flagged by the
  * round-1 verdict: transpose (ref `transpose.hpp:46`), unstack (ref
  * `python/cudf/cudf/core/reshape.py:1174`), PRODUCT aggregation (ref
  * `aggregation.hpp:87`), duration conversions (ref
  * `strings/convert/convert_durations.hpp`) and fixed-point decimal
  * conversions (ref `strings/convert/convert_fixed_point.hpp`).
  */
object Reshape {

  /** PRODUCT aggregation via the partial-agg-friendly [[graft.agg.Product]]
    * Aggregator. `l_linenumber` ∈ 1..7 with ≤7 rows per order keeps every
    * intermediate product an exact small integer, so the double result is
    * bit-identical to DuckDB's `product()` in any evaluation order; the
    * shifted column exercises zeros and negatives the same way.
    */
  private def aggProduct(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        graft.agg.Product(col("l_linenumber").cast(DoubleType)).as("prod_ln"),
        graft.agg.Product((col("l_linenumber") - 2).cast(DoubleType))
          .as("prod_shift"))

  private val aggProductSql =
    """SELECT l_orderkey,
      |  product(CAST(l_linenumber AS DOUBLE)) AS prod_ln,
      |  product(CAST(l_linenumber - 2 AS DOUBLE)) AS prod_shift
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** transpose: rows ↔ columns with an index column supplying the new
    * column names — Spark 4's native `Dataset.transpose`. Input is a
    * 5-row region-level aggregate, so the transposed width is bounded by
    * the dimension cardinality (the only shape at which a transpose makes
    * sense at 100 TB; transposing a fact table is a non-goal, as in the
    * reference where transpose is a fixed-width column op).
    */
  private def reshapeTranspose(s: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .nation(s, dir)
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).cast(DoubleType).as("n_nations"),
        sum(col("n_nationkey")).cast(DoubleType).as("key_sum"))
    base.transpose(col("r_name"))
  }

  private val reshapeTransposeSql =
    """WITH base AS (
      |  SELECT r_name, CAST(count(*) AS DOUBLE) AS n_nations,
      |    CAST(sum(n_nationkey) AS DOUBLE) AS key_sum
      |  FROM nation JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name)
      |SELECT 'n_nations' AS key,
      |  max(CASE WHEN r_name = 'AFRICA' THEN n_nations END) AS "AFRICA",
      |  max(CASE WHEN r_name = 'AMERICA' THEN n_nations END) AS "AMERICA",
      |  max(CASE WHEN r_name = 'ASIA' THEN n_nations END) AS "ASIA",
      |  max(CASE WHEN r_name = 'EUROPE' THEN n_nations END) AS "EUROPE",
      |  max(CASE WHEN r_name = 'MIDDLE EAST' THEN n_nations END) AS "MIDDLE EAST"
      |FROM base
      |UNION ALL
      |SELECT 'key_sum',
      |  max(CASE WHEN r_name = 'AFRICA' THEN key_sum END),
      |  max(CASE WHEN r_name = 'AMERICA' THEN key_sum END),
      |  max(CASE WHEN r_name = 'ASIA' THEN key_sum END),
      |  max(CASE WHEN r_name = 'EUROPE' THEN key_sum END),
      |  max(CASE WHEN r_name = 'MIDDLE EAST' THEN key_sum END)
      |FROM base""".stripMargin

  /** unstack (long → wide, values taken as-is): (year, quarter) revenue
    * pivoted into one column per quarter. Differs from `pivot_wide` in
    * that the (index, column) pair is unique, so the cell op is `first`,
    * not a reduction — pandas/cudf `unstack` semantics.
    */
  private def reshapeUnstack(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .select(
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        col("o_totalprice"))
      .groupBy(col("yr"), col("qtr"))
      .agg(Agg.dsum(col("o_totalprice")).as("rev"))
      .groupBy(col("yr"))
      .pivot("qtr", Seq(1, 2, 3, 4))
      .agg(first(col("rev")))

  private val reshapeUnstackSql = {
    val rev = Agg.dsumSql("o_totalprice")
    s"""WITH base AS (
       |  SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
       |    $rev AS rev
       |  FROM orders GROUP BY 1, 2)
       |SELECT yr,
       |  max(CASE WHEN qtr = 1 THEN rev END) AS "1",
       |  max(CASE WHEN qtr = 2 THEN rev END) AS "2",
       |  max(CASE WHEN qtr = 3 THEN rev END) AS "3",
       |  max(CASE WHEN qtr = 4 THEN rev END) AS "4"
       |FROM base GROUP BY yr""".stripMargin
  }

  /** Duration conversions (convert_durations.hpp): timestamp difference →
    * DayTimeIntervalType, component extraction, duration-string format,
    * and a string → interval round-trip back to total seconds. The
    * reference epoch is an instant (timestamp_micros), so the query is
    * timezone-independent on both engines.
    */
  private def convDurations(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .filter(col("event_id") < 10000)
      // 1704067200000000 µs = 2024-01-01T00:00:00Z, ≤ min(ts) in testdata
      .withColumn("iv", col("ts") - timestamp_micros(lit(1704067200000000L)))
      .select(
        col("event_id"),
        expr("extract(DAY FROM iv)").cast(LongType).as("d"),
        expr("extract(HOUR FROM iv)").cast(LongType).as("h"),
        expr("extract(MINUTE FROM iv)").cast(LongType).as("m"),
        floor(expr("extract(SECOND FROM iv)")).cast(LongType).as("sec"))
      .withColumn(
        "dur_str",
        format_string("%d %02d:%02d:%02d", col("d"), col("h"), col("m"), col("sec")))
      // parse the duration string back to an interval; total seconds out
      .withColumn(
        "rt_total_s",
        expr("CAST(CAST(dur_str AS INTERVAL DAY TO SECOND) AS BIGINT)"))

  private val convDurationsSql =
    """SELECT event_id, d, h, m, sec,
      |  printf('%d %02d:%02d:%02d', d, h, m, sec) AS dur_str,
      |  d * 86400 + h * 3600 + m * 60 + sec AS rt_total_s
      |FROM (
      |  SELECT event_id,
      |    date_part('day', iv) AS d, date_part('hour', iv) AS h,
      |    date_part('minute', iv) AS m,
      |    CAST(floor(date_part('second', iv)) AS BIGINT) AS sec
      |  FROM (SELECT event_id, ts - make_timestamp(1704067200000000) AS iv
      |        FROM events WHERE event_id < 10000))""".stripMargin

  /** Fixed-point conversions (convert_fixed_point.hpp; DECIMAL32/64/128
    * lanes of SURVEY §1.2): digit-string → decimal at three precisions
    * (9,2 / 18,4 / 38,10 ≈ the reference's three repr widths), rendered
    * back to strings (exact, trailing zeros to scale on both engines),
    * with `try_cast` overflow → NULL on the narrow lane, and exact
    * decimal arithmetic (sum of two parses at different scales).
    */
  private def convFixedPoint(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(col("l_orderkey") < 20000)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        concat(
          col("l_partkey").cast(StringType),
          lit("."),
          lpad((col("l_linenumber") * 7).cast(StringType), 2, "0")).as("ds"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("ds"),
        expr("CAST(try_cast(ds AS DECIMAL(9,2)) AS STRING)").as("dec32_str"),
        expr("CAST(try_cast(ds AS DECIMAL(18,4)) AS STRING)").as("dec64_str"),
        expr("CAST(try_cast(ds AS DECIMAL(38,10)) AS STRING)").as("dec128_str"),
        // DECIMAL(4,2) holds < 100: l_partkey ≥ 100 overflows → NULL
        expr("CAST(try_cast(ds AS DECIMAL(4,2)) AS STRING)").as("dec_narrow_str"),
        expr(
          "CAST(try_cast(ds AS DECIMAL(18,4)) + try_cast(ds AS DECIMAL(9,2)) AS STRING)")
          .as("dec_sum_str"))

  private val convFixedPointSql =
    """SELECT l_orderkey, l_linenumber, ds,
      |  CAST(try_cast(ds AS DECIMAL(9,2)) AS VARCHAR) AS dec32_str,
      |  CAST(try_cast(ds AS DECIMAL(18,4)) AS VARCHAR) AS dec64_str,
      |  CAST(try_cast(ds AS DECIMAL(38,10)) AS VARCHAR) AS dec128_str,
      |  CAST(try_cast(ds AS DECIMAL(4,2)) AS VARCHAR) AS dec_narrow_str,
      |  CAST(try_cast(ds AS DECIMAL(18,4)) + try_cast(ds AS DECIMAL(9,2))
      |    AS VARCHAR) AS dec_sum_str
      |FROM (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(l_partkey AS VARCHAR) || '.' ||
      |      lpad(CAST(l_linenumber * 7 AS VARCHAR), 2, '0') AS ds
      |  FROM lineitem WHERE l_orderkey < 20000)""".stripMargin

  /** Horizontal concatenation (cudf `concat(axis=1)` index-aligned
    * outer join — `python/cudf/cudf/core/reshape.py`; cudf_polars IR
    * node `HConcat`, `dsl/ir.py`): zip two frames by ROW POSITION.
    * Spark has no row order, so the position is materialized on each
    * side with `GlobalOrder.rowNumber` (range partition + offsets, no
    * single-task window) and the frames meet in a full outer equi-join
    * on it — unequal lengths leave nulls on the exhausted side,
    * exactly cudf's index-aligned behavior (polars errors instead;
    * the cudf semantic is the superset). Both row numberings and the
    * join shuffle hash-partition on rn, so the zip is one exchange per
    * side at any SF.
    */
  private def hconcat(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalOrder
    val a = GlobalOrder.rowNumber(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_orderkey")),
      "rn_a")
    val b = GlobalOrder.rowNumber(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal")),
      Seq(col("c_custkey")),
      "rn_b")
    a.join(b, col("rn_a") === col("rn_b"), "full_outer")
      .select(
        coalesce(col("rn_a"), col("rn_b")).as("rn"),
        col("o_orderkey"),
        col("o_totalprice"),
        col("c_custkey"),
        col("c_acctbal"))
  }

  private val hconcatSql =
    """WITH a AS (
      |  SELECT o_orderkey, o_totalprice,
      |    row_number() OVER (ORDER BY o_orderkey) AS rn_a
      |  FROM orders),
      |b AS (
      |  SELECT c_custkey, c_acctbal,
      |    row_number() OVER (ORDER BY c_custkey) AS rn_b
      |  FROM customer)
      |SELECT coalesce(rn_a, rn_b) AS rn,
      |  o_orderkey, o_totalprice, c_custkey, c_acctbal
      |FROM a FULL JOIN b ON rn_a = rn_b""".stripMargin

  def queries: Map[String, Q] = Map(
    "reshape_hconcat" -> Q(hconcat _, hconcatSql).tag(Sweep),
    "agg_product" -> Q(aggProduct _, aggProductSql),
    "reshape_transpose" -> Q(reshapeTranspose _, reshapeTransposeSql).tag(NoCodegen),
    "reshape_unstack" -> Q(reshapeUnstack _, reshapeUnstackSql),
    "conv_durations" -> Q(convDurations _, convDurationsSql),
    "conv_fixed_point" -> Q(convFixedPoint _, convFixedPointSql)
  )
}
