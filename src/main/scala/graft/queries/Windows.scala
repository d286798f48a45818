package graft.queries

import graft.{Agg, Q, Tables}
import graft.Tag.{Basis, Headline, Sweep}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Window-function inventory — SURVEY §2.5 (reference:
  * `cpp/include/cudf/rolling.hpp:172-539`, `cpp/src/rolling/`, Python
  * `cudf/core/window/rolling.py:49`, `core/resample.py:37`) plus the
  * group-wise scan/shift/ffill transforms of `groupby.hpp:243-373`.
  *
  * Rolling sums use the fixed-point policy (sum of floor-scaled longs over
  * the frame) so frames hash-match the oracle exactly. Every window is
  * partitioned — no global single-partition windows at scale.
  */
object Windows {

  /** Fixed rolling window, rows frame, with min_periods (rolling.hpp:172):
    * 3-row moving sum/avg of `value` per user, ordered by event time.
    */
  private def rollingRows(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 0)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        (sum(floor(col("value") * 1e4)).over(w).cast(DoubleType) / 1e4)
          .as("roll_sum_raw"),
        count(lit(1)).over(w).as("n_in_frame"))
      .select(
        col("user_id"),
        col("event_id"),
        when(col("n_in_frame") >= 3, col("roll_sum_raw")).as("roll_sum"),
        col("n_in_frame"))
  }

  private val rollingRowsSql =
    """SELECT user_id, event_id,
      |  CASE WHEN n_in_frame >= 3 THEN roll_sum_raw END AS roll_sum,
      |  n_in_frame
      |FROM (
      |  SELECT user_id, event_id,
      |    (CAST(sum(CAST(floor(value * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS roll_sum_raw,
      |    count(*) OVER w AS n_in_frame
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      |""".stripMargin

  /** Rolling variance (rolling.hpp VARIANCE aggregation): 5-row moving
    * sample variance of `value` per user via the fixed-point policy —
    * rolling sum and sum-of-squares as exact long sums, then
    * var = (s2 − s1²/n)/(n−1) in identical IEEE arithmetic on identical
    * longs in both engines (the squares are squared in double FIRST,
    * then floored — same op order both sides). NULL values leave the
    * frame's non-null count, exactly like cudf's null-aware rolling.
    */
  private def rollingVar(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        (sum(floor(col("value") * 1e4).cast(LongType)).over(w)
          .cast(DoubleType) / 1e4).as("s1"),
        (sum(floor(col("value") * col("value") * 1e4).cast(LongType)).over(w)
          .cast(DoubleType) / 1e4).as("s2"),
        count(col("value")).over(w).as("nv"))
      .select(
        col("user_id"),
        col("event_id"),
        col("nv"),
        when(col("nv") >= 2,
          (col("s2") - col("s1") * col("s1") / col("nv")) / (col("nv") - 1))
          .as("roll_var"))
  }

  private val rollingVarSql =
    """SELECT user_id, event_id, nv,
      |  CASE WHEN nv >= 2 THEN (s2 - s1 * s1 / nv) / (nv - 1) END AS roll_var
      |FROM (
      |  SELECT user_id, event_id,
      |    (CAST(sum(CAST(floor(value * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS s1,
      |    (CAST(sum(CAST(floor(value * value * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS s2,
      |    count(value) OVER w AS nv
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      |""".stripMargin

  /** Rolling lag-1 autocorrelation over a 20-row frame per user — the
    * windowed time-series diagnostic (is this signal trending or
    * mean-reverting RIGHT NOW) a monitoring pipeline computes next to
    * rolling variance. The pair domain is rows where BOTH value and its
    * lag are non-null (px/py are null-masked to exactly that domain, so
    * all five frame sums and the pair count agree); sums ride the
    * fixed-point long path and the correlation is the identical IEEE
    * tree over exact pieces (the `covar_corr` convention inside a
    * moving frame). Emitted only when n ≥ 5 pairs and both variance
    * terms are strictly positive — the zero-variance frame would be
    * 0/0 and NaN canonicalization is not part of the oracle contract.
    * One user-partitioned sort serves the lag AND the frame.
    */
  private def rollingAutocorr(s: SparkSession, dir: String): DataFrame = {
    val ord = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val w = ord.rowsBetween(-19, 0)
    def fsum(c: org.apache.spark.sql.Column) =
      sum(floor(c * 1e4).cast(LongType)).over(w).cast(DoubleType) / 1e4
    Tables
      .events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").as("x"),
        lag(col("value"), 1).over(ord).as("y"))
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("y").isNotNull, col("x")).as("px"),
        when(col("x").isNotNull, col("y")).as("py"))
      .select(col("user_id"), col("event_id"),
        fsum(col("px")).as("sx"), fsum(col("py")).as("sy"),
        fsum(col("px") * col("px")).as("sxx"),
        fsum(col("py") * col("py")).as("syy"),
        fsum(col("px") * col("py")).as("sxy"),
        count(col("px")).over(w).as("n"))
      .select(col("user_id"), col("event_id"), col("n").as("n_pairs"),
        when(col("n") >= 5 &&
            (col("sxx") - col("sx") * col("sx") / col("n")) > 0 &&
            (col("syy") - col("sy") * col("sy") / col("n")) > 0,
          ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")) /
            (sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")) *
              sqrt((col("syy") - col("sy") * col("sy") / col("n")) / col("n"))))
          .as("autocorr"))
  }

  private val rollingAutocorrSql =
    """SELECT user_id, event_id, n AS n_pairs,
      |  CASE WHEN n >= 5 AND (sxx - sx * sx / n) > 0
      |            AND (syy - sy * sy / n) > 0
      |    THEN ((sxy - sx * sy / n) / n) /
      |      (sqrt((sxx - sx * sx / n) / n) * sqrt((syy - sy * sy / n) / n))
      |  END AS autocorr
      |FROM (
      |  SELECT user_id, event_id,
      |    (CAST(sum(CAST(floor(px * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS sx,
      |    (CAST(sum(CAST(floor(py * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS sy,
      |    (CAST(sum(CAST(floor(px * px * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS sxx,
      |    (CAST(sum(CAST(floor(py * py * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS syy,
      |    (CAST(sum(CAST(floor(px * py * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |      AS sxy,
      |    count(px) OVER w AS n
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN y IS NOT NULL THEN x END AS px,
      |      CASE WHEN x IS NOT NULL THEN y END AS py
      |    FROM (
      |      SELECT user_id, event_id, ts, value AS x,
      |        lag(value, 1) OVER (PARTITION BY user_id
      |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS y
      |      FROM events) t0) t1
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) t2""".stripMargin

  /** Range (order-by-value) window: "3 days preceding"
    * (grouped_range_rolling_window, rolling.hpp:539) over order dates per
    * customer, expressed on an epoch-seconds orderBy.
    */
  private def rangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-3L * 86400, 0)
    Tables
      .orders(s, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        count(lit(1)).over(w).as("orders_3d"),
        (sum(floor(col("o_totalprice") * 1e4)).over(w).cast(DoubleType) / 1e4)
          .as("spend_3d"))
  }

  private val rangeWindowSql =
    """SELECT o_custkey, o_orderkey,
      |  count(*) OVER w AS orders_3d,
      |  (CAST(sum(CAST(floor(o_totalprice * 1e4) AS BIGINT)) OVER w AS DOUBLE)
      |     / 1e4) AS spend_3d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY epoch_us(o_orderdate) // 1000000
      |             RANGE BETWEEN 259200 PRECEDING AND CURRENT ROW)""".stripMargin

  /** LEAD / LAG with defaults (aggregation.hpp LEAD/LAG; copying.hpp:423
    * shift): per supplier over ship dates.
    */
  private def leadLag(s: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem;
    // (orderkey, linenumber, partkey, suppkey) is. l_partkey completes the
    // total order — without it one tied pair at sf0.1 makes lead/lag
    // nondeterministic (caught by a flaky oracle run).
    val w = Window
      .partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"))
    Tables
      .lineitem(s, dir)
      .select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber"),
        lag(col("l_quantity"), 1, -1d).over(w).as("prev_qty"),
        lead(col("l_quantity"), 2).over(w).as("next2_qty"))
  }

  private val leadLagSql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  coalesce(lag(l_quantity, 1) OVER w, -1) AS prev_qty,
      |  lead(l_quantity, 2) OVER w AS next2_qty
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey)""".stripMargin

  /** RANK family (sorting.hpp:203 rank_method; aggregation.hpp RANK):
    * rank/dense_rank/percent_rank/row_number/ntile over each market
    * segment — a 5-value partition key, so the whole family is rebuilt
    * from [[graft.operators.GlobalOrder.groupedRowNumber]]'s
    * range-partitioned numbering instead of a plain bounded-key Window
    * (which would funnel the SF-scaled customer table through 5 tasks):
    *
    *   - `row_num` IS the grouped numbering under the tie-broken total
    *     order (acctbal, custkey);
    *   - `rnk` = min row_num over the TIE GROUP (segment, acctbal) — a
    *     fine-grained window whose key cardinality scales with the data
    *     and whose frames are bounded by the tie count, so it is
    *     hotspot-free by construction;
    *   - `dense_rnk` numbers the DISTINCT (segment, acctbal) frame with
    *     the same operator and equi-joins back on the fine-grained key;
    *   - `pct_rnk` = (rnk − 1)/(n − 1) from the 5-row broadcast segment
    *     counts (Spark/DuckDB's exact percent_rank formula, same IEEE
    *     operation order);
    *   - `quartile` = [[graft.operators.GlobalOrder.ntileFromRowNumber]]
    *     on (row_num, n).
    */
  private def rankFamily(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalOrder
    val base = Tables
      .customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
    // One grouped scan for the whole family (r21): row_number, rank and
    // dense_rank all come out of GlobalOrder.groupedRankFamily's single
    // range-partitioned pass (tie runs stitched across partition
    // boundaries by the operator), where the previous build paid a
    // second numbering pass over distinct (segment, acctbal), a
    // tie-group Window with its own exchange, and a null-safe join
    // back. Values identical — rank() IS the tie head's row number and
    // dense_rank() the tie-run index, which is what the two-pass build
    // was assembling.
    val nSeg = base.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_seg"))
    GlobalOrder.groupedRankFamily(
        base, Seq("c_mktsegment"), Seq(col("c_acctbal")),
        Seq(col("c_custkey")), "row_num64", "rnk64", "dense_rnk64")
      .join(broadcast(nSeg), Seq("c_mktsegment"))
      .select(
        col("c_mktsegment"),
        col("c_custkey"),
        col("rnk64").cast(IntegerType).as("rnk"),
        col("dense_rnk64").cast(IntegerType).as("dense_rnk"),
        when(col("n_seg") === 1, lit(0d))
          .otherwise((col("rnk64") - lit(1d)) / (col("n_seg") - lit(1d)))
          .as("pct_rnk"),
        col("row_num64").cast(IntegerType).as("row_num"),
        GlobalOrder.ntileFromRowNumber(col("row_num64"), col("n_seg"), 4)
          .cast(IntegerType).as("quartile"))
  }

  private val rankFamilySql =
    """SELECT c_mktsegment, c_custkey,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS dense_rnk,
      |  percent_rank() OVER w AS pct_rnk,
      |  row_number() OVER wt AS row_num,
      |  ntile(4) OVER wt AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal),
      |       wt AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |""".stripMargin

  /** Group-wise scan (groupby::scan, groupby.hpp:243): running cumsum /
    * cummax / running count per user over time.
    */
  private def groupScan(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        (sum(floor(col("value") * 1e4)).over(w).cast(DoubleType) / 1e4)
          .as("cum_value"),
        max(col("value")).over(w).as("cum_max"),
        count(lit(1)).over(w).as("cum_n"))
  }

  private val groupScanSql =
    """SELECT user_id, event_id,
      |  (CAST(sum(CAST(floor(value * 1e4) AS BIGINT)) OVER w AS DOUBLE) / 1e4)
      |    AS cum_value,
      |  max(value) OVER w AS cum_max,
      |  count(*) OVER w AS cum_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Group-wise forward-fill (groupby::replace_nulls FORWARD,
    * groupby.hpp:373) via last(ignoreNulls) over an asymmetric frame.
    */
  private def groupFfill(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        col("ts"),
        when(col("value") < 30, null).otherwise(col("value")).as("v"))
      .select(
        col("user_id"),
        col("event_id"),
        col("v"),
        last(col("v"), ignoreNulls = true).over(w).as("v_ffill"))
  }

  private val groupFfillSql =
    """SELECT user_id, event_id, v,
      |  last_value(v IGNORE NULLS) OVER w AS v_ffill
      |FROM (SELECT user_id, event_id, ts,
      |        CASE WHEN value < 30 THEN NULL ELSE value END AS v
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Resample / time-bucket groupby (`df.resample('3T')`,
    * core/resample.py:37): 3-minute tumbling buckets via integer µs
    * arithmetic (identical in both engines; also the batch twin of the
    * streaming tumbling window in graft.streaming).
    */
  private def resample3min(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        expr("unix_micros(ts) div 180000000").as("bucket"),
        col("value"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"), Agg.dsum(col("value")).as("sum_value"))
      .select(
        col("bucket"),
        (col("bucket") * 180).as("bucket_start_s"),
        col("n_events"),
        col("sum_value"))

  private val resample3minSql =
    s"""SELECT bucket, bucket * 180 AS bucket_start_s,
       |  count(*) AS n_events,
       |  ${Agg.dsumSql("value")} AS sum_value
       |FROM (SELECT epoch_us(ts) // 180000000 AS bucket, value FROM events)
       |GROUP BY bucket""".stripMargin

  /** Daily p50/p95/p99 bands of the event value — the latency/metric
    * observability report every monitoring pipeline runs. Bounds are
    * NEAREST-RANK order statistics on 1e4-quantized integer values
    * (the `clean_winsorize` convention): rank selection is pure integer
    * arithmetic, so no engine-specific percentile interpolation exists
    * to diverge. One rank window per day over compact (day, vm) longs;
    * the three bands fold into one conditional aggregate per day.
    */
  private def percentileBands(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"),
        floor(col("value") * 10000 + 0.5).cast(LongType).as("vm"))
    val w = Window.partitionBy(col("day")).orderBy(col("vm"))
    ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("day"))))
      .groupBy(col("day"))
      .agg(
        first(col("n")).as("n"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("vm"))).as("p50_e4"),
        min(when(col("rn") === expr("(95 * n + 99) div 100"), col("vm")))
          .as("p95_e4"),
        min(when(col("rn") === expr("(99 * n + 99) div 100"), col("vm")))
          .as("p99_e4"))
  }

  private val percentileBandsSql =
    """WITH ev AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vm
      |  FROM events),
      |ranked AS (
      |  SELECT day, vm,
      |    row_number() OVER (PARTITION BY day ORDER BY vm) AS rn,
      |    count(*) OVER (PARTITION BY day) AS n
      |  FROM ev)
      |SELECT day, first(n) AS n,
      |  min(CASE WHEN rn = (n + 1) // 2 THEN vm END) AS p50_e4,
      |  min(CASE WHEN rn = (95 * n + 99) // 100 THEN vm END) AS p95_e4,
      |  min(CASE WHEN rn = (99 * n + 99) // 100 THEN vm END) AS p99_e4
      |FROM ranked GROUP BY day""".stripMargin

  /** pct_change (pandas API surface: `cudf/core/dataframe.py:7806`,
    * `series.py:3719`, periods=1, fill_method=None): fractional change
    * vs the previous observation per user, event-time order.
    *
    * Hash-exact without fixed-point routing: `(x − lag(x)) / lag(x)` is
    * two correctly-rounded IEEE ops on bit-identical parquet inputs in a
    * deterministic total order ((ts, event_id) — event_id unique), so
    * Spark and DuckDB produce the same double bit pattern. `value` > 0
    * in this table; a zero denominator would diverge (Spark gives ±Inf,
    * DuckDB NULL-vs-Inf varies by version), so the expression guards
    * with nullif anyway — the portable convention.
    */
  private def pctChange(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prev = lag(col("value"), 1).over(w)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        ((col("value") - prev) / nullif(prev, lit(0d))).as("pct_chg"))
  }

  private val pctChangeSql =
    """SELECT user_id, event_id,
      |  (value - lag(value) OVER w) / nullif(lag(value) OVER w, 0)
      |    AS pct_chg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)""".stripMargin

  /** rank() tie methods (pandas `rank(method=…)` surface:
    * `cudf/core/indexed_frame.py:6345-6370`; libcudf
    * `sorting.hpp:203` rank_method AVERAGE/MIN/MAX/FIRST/DENSE, plus
    * pct=True): Spark has no built-in AVERAGE/MAX tie rank, so both are
    * derived from rank() + the tie-group count —
    * avg = rnk + (ties−1)/2, max = rnk + ties − 1 — the classical
    * identities, computed with identical expressions on both sides.
    * Partition key user_id is SF-scaled (fine-grained), frames bounded
    * by per-user event counts: no hotspot at 100 TB. Values are binned
    * (floor(value/10)) to manufacture real ties.
    */
  private def rankTies(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("vbin"))
    val wFirst = Window
      .partitionBy(col("user_id"))
      .orderBy(col("vbin"), col("event_id"))
    val wTie = Window.partitionBy(col("user_id"), col("vbin"))
    val wAll = Window.partitionBy(col("user_id"))
    val rnk = rank().over(wOrd).cast(LongType)
    val ties = count(lit(1)).over(wTie)
    val n = count(lit(1)).over(wAll)
    val avgRnk = rnk + (ties - lit(1L)) / lit(2.0)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        floor(col("value") / 10).cast(LongType).as("vbin"))
      .select(
        col("user_id"),
        col("event_id"),
        col("vbin"),
        avgRnk.as("avg_rnk"),
        rnk.as("min_rnk"),
        (rnk + ties - lit(1L)).as("max_rnk"),
        row_number().over(wFirst).cast(LongType).as("first_rnk"),
        dense_rank().over(wOrd).cast(LongType).as("dense_rnk"),
        (avgRnk / n).as("pct_rnk"))
  }

  private val rankTiesSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(value / 10) AS BIGINT) AS vbin
      |  FROM events)
      |SELECT user_id, event_id, vbin,
      |  rank() OVER w + (count(*) OVER wt - 1) / 2.0 AS avg_rnk,
      |  rank() OVER w AS min_rnk,
      |  rank() OVER w + count(*) OVER wt - 1 AS max_rnk,
      |  row_number() OVER wf AS first_rnk,
      |  dense_rank() OVER w AS dense_rnk,
      |  (rank() OVER w + (count(*) OVER wt - 1) / 2.0)
      |    / count(*) OVER (PARTITION BY user_id) AS pct_rnk
      |FROM e
      |WINDOW w  AS (PARTITION BY user_id ORDER BY vbin),
      |       wf AS (PARTITION BY user_id ORDER BY vbin, event_id),
      |       wt AS (PARTITION BY user_id, vbin)""".stripMargin

  /** Cumulative / rolling PRODUCT scan (pandas `cumprod`:
    * `cudf/core/indexed_frame.py:262`; libcudf PRODUCT Kind
    * `aggregation.hpp:88` as a groupby scan / rolling aggregation).
    * Spark has no product window builtin, so the frame is folded
    * exactly in integer space: collect_list over the frame →
    * `aggregate(_, 1L, _*_)`.
    *
    * Runs on events under the (ts, event_id) order — event_id is
    * unique, so the running product is deterministic at every row
    * (lineitem's l_linenumber ties within an order would make
    * intermediate rows order-dependent). Exactness envelopes vs the
    * DuckDB `product()::DOUBLE` twin (exact while |product| < 2^53):
    * the unbounded cumprod multiplies signs {−1, +1}, which never
    * overflows at ANY group size — per-user event counts grow with SF,
    * and the running product is computed O(1)-per-row as the PARITY of
    * a running negative count ((−1)^k decomposition — the distributed
    * cumprod shape: sign from a running count, magnitude, when needed,
    * from a running log-sum), NOT an O(frame) re-fold per row. The
    * 5-row rolling product folds (floor(value) % 7 + 1) ≤ 7^5 exactly
    * over its constant-size frame.
    */
  private def cumProd(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wRoll = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    def fold(c: Column): Column =
      aggregate(c, lit(1L), (acc, x) => acc * x)
    val vInt = floor(col("value")).cast(LongType)
    val negCnt =
      sum(when(col("vi") % 2 === 0, 1L).otherwise(0L)).over(wCum)
    Tables
      .events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        col("ts"),
        vInt.as("vi"),
        (vInt % 7 + 1).as("v7"))
      .select(
        col("user_id"),
        col("event_id"),
        when(negCnt % 2 === 0, lit(1L)).otherwise(lit(-1L))
          .as("cumprod_sign"),
        fold(collect_list(col("v7")).over(wRoll)).as("rollprod_v7"))
  }

  private val cumProdSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN CAST(floor(value) AS BIGINT) % 2 = 0
      |         THEN -1 ELSE 1 END AS sgn,
      |    CAST(floor(value) AS BIGINT) % 7 + 1 AS v7
      |  FROM events)
      |SELECT user_id, event_id,
      |  CAST(product(sgn) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumprod_sign,
      |  CAST(product(v7) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS rollprod_v7
      |FROM e""".stripMargin

  def queries: Map[String, Q] = Map(
    "win_percentile_bands" -> Q(percentileBands _, percentileBandsSql),
    "win_pct_change" -> Q(pctChange _, pctChangeSql).tag(Sweep),
    "win_rank_ties" -> Q(rankTies _, rankTiesSql).tag(Sweep),
    "win_cumprod" -> Q(cumProd _, cumProdSql).tag(Sweep),
    "win_rolling_rows" -> Q(rollingRows _, rollingRowsSql),
    "win_rolling_var" -> Q(rollingVar _, rollingVarSql),
    "win_rolling_autocorr" -> Q(rollingAutocorr _, rollingAutocorrSql),
    "win_range_days" -> Q(rangeWindow _, rangeWindowSql),
    "win_lead_lag" -> Q(leadLag _, leadLagSql),
    "win_rank_family" -> Q(rankFamily _, rankFamilySql).tag(Headline, Basis, Sweep),
    "win_group_scan" -> Q(groupScan _, groupScanSql).tag(Headline, Basis),
    "win_group_ffill" -> Q(groupFfill _, groupFfillSql),
    "win_resample_3min" -> Q(resample3min _, resample3minSql)
  )
}
