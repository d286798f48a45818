package graft.queries

import graft.{Agg, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Aggregation inventory — SURVEY §2.4, the `aggregation.hpp:87-125` Kinds
  * (reference: `cpp/include/cudf/groupby.hpp:187`, `reduction.hpp:81`).
  *
  * Exactness policy: SUM/MEAN/VARIANCE/STD/COVARIANCE/CORRELATION over
  * doubles are derived from fixed-point sums ([[graft.Agg.dsum]]) so both
  * engines compute identical IEEE doubles from identical exact inputs.
  * Partial aggregation (map-side combine) stays fully effective: the
  * fixed-point sum is still an ordinary associative long sum.
  */
object Aggregates {
  import Agg._

  /** SUM, MIN, MAX, MEAN, COUNT_VALID, COUNT_ALL (Kinds 87-93). */
  private def basicStats(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        davg(col("l_quantity")).as("avg_qty"),
        count(col("l_quantity")).as("count_valid"),
        count(lit(1)).as("count_all"))

  private val basicStatsSql =
    s"""SELECT l_returnflag,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  min(l_quantity) AS min_qty,
       |  max(l_quantity) AS max_qty,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  count(l_quantity) AS count_valid,
       |  count(*) AS count_all
       |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** COUNT_VALID vs COUNT_ALL with real nulls (null_policy types.hpp:126). */
  private def countNullPolicy(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        col("event_type"),
        when(col("value") < 20, null).otherwise(col("value")).as("v"))
      .groupBy(col("event_type"))
      .agg(
        count(col("v")).as("count_valid"),
        count(lit(1)).as("count_all"),
        dsum(col("v")).as("sum_v"))

  private val countNullPolicySql =
    s"""SELECT event_type,
       |  count(v) AS count_valid, count(*) AS count_all,
       |  ${dsumSql("v")} AS sum_v
       |FROM (SELECT event_type,
       |        CASE WHEN value < 20 THEN NULL ELSE value END AS v
       |      FROM events)
       |GROUP BY event_type""".stripMargin

  /** NUNIQUE (count distinct) exact. */
  private def countDistinct_(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nunique_part"),
        countDistinct(col("l_suppkey")).as("nunique_supp"))

  private val countDistinctSql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS nunique_part,
      |  count(DISTINCT l_suppkey) AS nunique_supp
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** ANY / ALL (Kinds: ANY, ALL) via bool_or / bool_and. */
  private def anyAll(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        bool_or(col("o_totalprice") > 400000).as("any_big"),
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"))

  private val anyAllSql =
    """SELECT o_orderstatus,
      |  bool_or(o_totalprice > 400000) AS any_big,
      |  bool_and(o_totalprice > 1000) AS all_over_1k
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** ARGMAX / ARGMIN via max_by / min_by. */
  private def argMinMax(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), col("o_totalprice")).as("argmax_order"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("argmin_order"),
        max(col("o_totalprice")).as("max_price"))

  private val argMinMaxSql =
    """SELECT o_orderstatus,
      |  max_by(o_orderkey, o_totalprice) AS argmax_order,
      |  min_by(o_orderkey, o_totalprice) AS argmin_order,
      |  max(o_totalprice) AS max_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** SUM_OF_SQUARES, VARIANCE, STD (ddof=1 and 0) from exact pieces. */
  private def varStd(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        dsum(col("l_quantity") * col("l_quantity")).as("sum_sq"),
        dsum(col("l_quantity")).as("s1"),
        count(col("l_quantity")).as("n"))
      .select(
        col("l_linestatus"),
        col("sum_sq"),
        ((col("sum_sq") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("var_samp_qty"),
        sqrt((col("sum_sq") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("std_samp_qty"),
        ((col("sum_sq") - col("s1") * col("s1") / col("n")) / col("n"))
          .as("var_pop_qty"))

  private val varStdSql = {
    val sq = dsumSql("l_quantity * l_quantity")
    val s1 = dsumSql("l_quantity")
    s"""SELECT l_linestatus, sum_sq,
       |  ((sum_sq - s1 * s1 / n) / (n - 1)) AS var_samp_qty,
       |  sqrt((sum_sq - s1 * s1 / n) / (n - 1)) AS std_samp_qty,
       |  ((sum_sq - s1 * s1 / n) / n) AS var_pop_qty
       |FROM (SELECT l_linestatus, $sq AS sum_sq, $s1 AS s1,
       |        count(l_quantity) AS n
       |      FROM lineitem GROUP BY l_linestatus)""".stripMargin
  }

  /** MEDIAN / QUANTILE with linear interpolation (types.hpp:192). */
  private def medianQuantile(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        round(expr("percentile(c_acctbal, 0.5D)"), 6).as("median_bal"),
        round(expr("percentile(c_acctbal, 0.9D)"), 6).as("p90_bal"))

  private val medianQuantileSql =
    """SELECT c_mktsegment,
      |  round(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
      |  round(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal
      |FROM customer GROUP BY c_mktsegment""".stripMargin

  /** NTH_ELEMENT (aggregation.hpp: NTH_ELEMENT): 2nd smallest per group
    * via sorted collect — deterministic regardless of input order.
    */
  private def nthElement(s: SparkSession, dir: String): DataFrame =
    Tables
      .supplier(s, dir)
      .groupBy(col("s_nationkey"))
      .agg(sort_array(collect_list(col("s_acctbal"))).as("sorted_bals"))
      .select(
        col("s_nationkey"),
        try_element_at(col("sorted_bals"), lit(1)).as("nth_0"),
        try_element_at(col("sorted_bals"), lit(2)).as("nth_1"))

  private val nthElementSql =
    """SELECT s_nationkey,
      |  (list_sort(list(s_acctbal)))[1] AS nth_0,
      |  (list_sort(list(s_acctbal)))[2] AS nth_1
      |FROM supplier GROUP BY s_nationkey""".stripMargin

  /** COLLECT_LIST / COLLECT_SET (canonically sorted for comparison). */
  private def collectListSet(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(col("l_orderkey") < 300)
      .groupBy(col("l_orderkey"))
      .agg(
        graft.ArrCanon.joined(sort_array(collect_list(col("l_linenumber")))).as("lines"),
        graft.ArrCanon.joined(sort_array(collect_set(col("l_returnflag")))).as("flags"))

  private val collectListSetSql =
    s"""SELECT l_orderkey,
      |  ${graft.ArrCanon.joinedSql("list_sort(list(l_linenumber))")} AS lines,
      |  ${graft.ArrCanon.joinedSql("list_sort(list(DISTINCT l_returnflag))")} AS flags
      |FROM lineitem WHERE l_orderkey < 300 GROUP BY l_orderkey""".stripMargin

  /** COVARIANCE / CORRELATION from exact pieces. */
  private def covarCorr(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .select(
        col("l_returnflag"),
        col("l_quantity").as("x"),
        (col("l_extendedprice") / 1000).as("y"))
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("x")).as("sx"),
        dsum(col("y"), 6).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y"), 6).as("syy"),
        dsum(col("x") * col("y"), 6).as("sxy"),
        count(lit(1)).as("n"))
      .select(
        col("l_returnflag"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
          .as("covar_samp_qp"),
        (((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")) /
          (sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")) *
            sqrt((col("syy") - col("sy") * col("sy") / col("n")) / col("n"))))
          .as("corr_qp"))

  private val covarCorrSql = {
    val sx = dsumSql("x")
    val sy = dsumSql("y", 6)
    val sxx = dsumSql("x * x")
    val syy = dsumSql("y * y", 6)
    val sxy = dsumSql("x * y", 6)
    s"""SELECT l_returnflag,
       |  ((sxy - sx * sy / n) / (n - 1)) AS covar_samp_qp,
       |  (((sxy - sx * sy / n) / n) /
       |    (sqrt((sxx - sx * sx / n) / n) * sqrt((syy - sy * sy / n) / n)))
       |    AS corr_qp
       |FROM (
       |  SELECT l_returnflag, $sx AS sx, $sy AS sy, $sxx AS sxx,
       |         $syy AS syy, $sxy AS sxy, count(*) AS n
       |  FROM (SELECT l_returnflag, l_quantity AS x,
       |          l_extendedprice / 1000 AS y FROM lineitem)
       |  GROUP BY l_returnflag)""".stripMargin
  }

  /** HISTOGRAM (aggregation.hpp:123): value→count map as rows. */
  private def histogram(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_quantity"))
      .agg(count(lit(1)).as("freq"))

  private val histogramSql =
    "SELECT l_quantity, count(*) AS freq FROM lineitem GROUP BY l_quantity"

  /** Whole-column reduction (reduction.hpp:81): no grouping keys. */
  private def reduceAll(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .agg(
        dsum(col("l_extendedprice")).as("total_price"),
        min(col("l_shipdate")).cast(DateType).as("first_ship"),
        max(col("l_shipdate")).cast(DateType).as("last_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  private val reduceAllSql =
    s"""SELECT ${dsumSql("l_extendedprice")} AS total_price,
       |  CAST(min(l_shipdate) AS DATE) AS first_ship,
       |  CAST(max(l_shipdate) AS DATE) AS last_ship,
       |  count(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem""".stripMargin

  /** approx distinct (NUNIQUE approx → HLL). Sketches differ across
    * engines, so no SQL oracle — driver records the rows-only check; the
    * ScalaTest suite asserts the estimate is within 5% of exact.
    */
  private def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))

  /** One-sided oracle contract for the HLL++ sketch behind
    * `agg_approx_distinct` (the `agg_gk_vs_exact`/`agg_tdigest_vs_exact`
    * pattern): Spark computes BOTH the exact per-group distinct count
    * and the HLL estimate at an explicit rsd = 0.02, and emits whether
    * the relative error stays within 3·rsd (the 3-sigma envelope of the
    * sketch's declared standard deviation — HLL++ bias correction keeps
    * the mean centered, so 3σ is a non-flaky yet quantitative band).
    * DuckDB pins the exact counts and every flag TRUE, so an accuracy
    * violation fails the hash even though register states are not
    * replayable. With this row all three approximate-aggregate sketches
    * (GK, t-digest, HLL) carry oracled accuracy contracts.
    */
  private def aggHllVsExact(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .select(col("l_returnflag").as("rf"), col("l_partkey"))
      .groupBy(col("rf"))
      .agg(countDistinct(col("l_partkey")).as("n_distinct"),
        approx_count_distinct(col("l_partkey"), 0.02).as("est"))
      .select(col("rf").as("l_returnflag"), col("n_distinct"),
        (abs(col("est").cast("double") / col("n_distinct") - 1.0)
          <= 0.06).as("hll_ok"))

  private val aggHllVsExactSql =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct,
      |  TRUE AS hll_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** grouping sets / rollup — capability bonus over the reference
    * (absent in cuDF, SURVEY §2.4).
    */
  private def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  private val rollupAggSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty, count(*) AS n
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** cube + GROUPING() discriminator — completes the grouping-sets
    * family (rollup above); `grouping()` disambiguates a real NULL key
    * from a subtotal row.
    */
  private def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"))

  private val cubeAggSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_extendedprice")} AS sum_price, count(*) AS n,
       |  CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
       |  CAST(grouping(l_linestatus) AS TINYINT) AS g_status
       |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Skewness and excess kurtosis per group (pandas `skew`/`kurt`;
    * population formulas) from exact integer raw moments: quantity is
    * integer-valued so s1..s4 are exact long sums (x⁴ ≤ 6.25·10⁶ —
    * far inside the envelope even at sf10), and the central-moment /
    * ratio arithmetic is the IDENTICAL IEEE expression tree over those
    * identical longs in both engines ([[varStd]] convention). One
    * map-side-combined aggregate.
    */
  private def skewKurt(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .select(col("l_linestatus"), col("l_quantity").cast(LongType).as("x"))
      .groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .selectExpr(
        "l_linestatus", "n",
        "CAST(s1 AS DOUBLE) / n AS m",
        "CAST(s2 AS DOUBLE) / n AS r2",
        "CAST(s3 AS DOUBLE) / n AS r3",
        "CAST(s4 AS DOUBLE) / n AS r4")
      .selectExpr(
        "l_linestatus", "n",
        "r2 - m * m AS m2",
        "r3 - 3 * m * r2 + 2 * m * m * m AS m3",
        "r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4")
      .selectExpr(
        "l_linestatus", "n",
        "round(m3 / (sqrt(m2) * m2), 6) AS skew_6dp",
        "round(m4 / (m2 * m2) - 3, 6) AS kurt_6dp")

  private val skewKurtSql =
    """WITH s AS (
      |  SELECT l_linestatus, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS s1,
      |    CAST(sum(x * x) AS BIGINT) AS s2,
      |    CAST(sum(x * x * x) AS BIGINT) AS s3,
      |    CAST(sum(x * x * x * x) AS BIGINT) AS s4
      |  FROM (SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS x
      |        FROM lineitem) t
      |  GROUP BY l_linestatus),
      |r AS (
      |  SELECT l_linestatus, n,
      |    CAST(s1 AS DOUBLE) / n AS m, CAST(s2 AS DOUBLE) / n AS r2,
      |    CAST(s3 AS DOUBLE) / n AS r3, CAST(s4 AS DOUBLE) / n AS r4
      |  FROM s),
      |c AS (
      |  SELECT l_linestatus, n,
      |    r2 - m * m AS m2,
      |    r3 - 3 * m * r2 + 2 * m * m * m AS m3,
      |    r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4
      |  FROM r)
      |SELECT l_linestatus, n,
      |  round(m3 / (sqrt(m2) * m2), 6) AS skew_6dp,
      |  round(m4 / (m2 * m2) - 3, 6) AS kurt_6dp
      |FROM c""".stripMargin

  /** MODE per group (pandas `Series.mode` / DuckDB `mode()`): the most
    * frequent quantity per linestatus, tie-broken to the SMALLEST value
    * so the answer is deterministic (DuckDB's mode() picks an arbitrary
    * tie winner — both sides therefore rank explicitly instead).
    *
    * Scale shape: a (group, value) count aggregate (map-side combined)
    * then a group-partitioned top-1 window over the collapsed counts —
    * the window input is |groups|×|distinct values|, not rows.
    */
  private def modeAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_linestatus"), col("l_quantity").cast(LongType).as("q"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("l_linestatus"))
          .orderBy(col("n").desc, col("q"))))
      .filter(col("rn") === 1)
      .select(col("l_linestatus"), col("q").as("mode_qty"), col("n"))
  }

  private val modeAggSql =
    """SELECT l_linestatus, q AS mode_qty, n FROM (
      |  SELECT l_linestatus, q, n,
      |    row_number() OVER (PARTITION BY l_linestatus
      |      ORDER BY n DESC, q) AS rn
      |  FROM (SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q,
      |          count(*) AS n
      |        FROM lineitem GROUP BY 1, 2) c) r
      |WHERE rn = 1""".stripMargin

  /** Explicit GROUPING SETS (the general form the cube/rollup queries
    * specialize): per-flag totals, per-(flag, status) cells, and the
    * grand total in one pass — via Spark 4's Dataset.groupingSets, so
    * the builder stays a side-effect-free DataFrame expression (the
    * earlier SQL formulation registered a session-global temp view,
    * which two concurrent callers on one SparkSession could race).
    * Same one-Expand-one-Aggregate plan as cube, just a sparser set
    * list.
    */
  private def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")),
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(floor(col("l_extendedprice") * 1e4)).cast(DoubleType) / 1e4)
          .as("sum_price"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("tinyint").as("g_flag"),
        grouping(col("l_linestatus")).cast("tinyint").as("g_status"))

  private val groupingSetsAggSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_extendedprice")} AS sum_price, count(*) AS n,
       |  CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
       |  CAST(grouping(l_linestatus) AS TINYINT) AS g_status
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag),
       |  (l_returnflag, l_linestatus), ())""".stripMargin

  /** Grouped OLS: per-returnflag linear fit of extendedprice (cents) on
    * quantity, plus the in-sample mean absolute residual of the INTEGER
    * model — the groupwise regression surface (DuckDB's regr_slope /
    * regr_intercept family; slope = covar_pop/var_pop, the natural
    * extension of Kind COVARIANCE/CORRELATION, aggregation.hpp:87-125).
    *
    * Exactness: x = quantity (integer-valued) and y = price cents
    * (floor(y·100), IEEE-identical across engines) make every moment an
    * integer sum; slope/intercept are single integer floor-divisions in
    * micro-units on DECIMAL(38,0)/HUGEINT (n·Sxy ≈ 10¹⁹ at sf1 — past
    * the long envelope, inside the 128-bit one), so both engines emit
    * identical longs. The MAE is defined AGAINST the integer model
    * (slope_micro, intercept_micro are the coefficients), so it is
    * exact too — not a float-model approximation.
    *
    * Scale shape: pass 1 is a 3-group map-side-combined moment
    * aggregate; pass 2 joins the 3-row model back via broadcast and
    * reduces — two linear scans, no wide shuffle, model reusable as a
    * write-once artifact at 100 TB.
    */
  private def regOlsGroup(s: SparkSession, dir: String): DataFrame =
    olsFitOver(Tables
      .lineitem(s, dir)
      .select(
        col("l_returnflag"),
        col("l_quantity").cast(LongType).as("x"),
        floor(col("l_extendedprice") * 100).cast(LongType).as("yc")),
      "l_returnflag")

  /** The grouped integer OLS over any (group, x, yc) frame — public so
    * specs can pin exact recovery of a noiseless linear relation.
    */
  def olsFitOver(li: DataFrame, g: String): DataFrame = {
    val model = li
      .groupBy(col(g))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("yc")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("yc")).as("sxy"))
      .selectExpr(
        g, "n",
        """CAST((CAST(1000000 AS DECIMAL(38,0)) *
          |  (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy))
          |  div (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
          |  AS BIGINT) AS slope_micro""".stripMargin,
        """CAST((CAST(1000000 AS DECIMAL(38,0)) *
          |  (CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy))
          |  div (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
          |  AS BIGINT) AS intercept_micro""".stripMargin)
    li.join(broadcast(model), Seq(g))
      .select(
        col(g), col("n"),
        col("slope_micro"), col("intercept_micro"),
        abs(col("yc") * lit(1000000L) - col("slope_micro") * col("x") -
          col("intercept_micro")).as("r"))
      .groupBy(col(g), col("n"),
        col("slope_micro"), col("intercept_micro"))
      .agg(sum(col("r").cast(DecimalType(38, 0))).as("rsum"))
      .selectExpr(
        g, "n", "slope_micro", "intercept_micro",
        "CAST(rsum div CAST(n AS DECIMAL(38,0)) AS BIGINT) AS mae_micro")
  }

  private val regOlsGroupSql =
    """WITH li AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS yc
      |  FROM lineitem),
      |model AS (
      |  SELECT l_returnflag, n,
      |    CAST((CAST(1000000 AS HUGEINT) *
      |      (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)) //
      |      (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
      |      AS BIGINT) AS slope_micro,
      |    CAST((CAST(1000000 AS HUGEINT) *
      |      (CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy)) //
      |      (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
      |      AS BIGINT) AS intercept_micro
      |  FROM (
      |    SELECT l_returnflag, count(*) AS n,
      |      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
      |      CAST(sum(x * x) AS BIGINT) AS sxx,
      |      CAST(sum(x * yc) AS BIGINT) AS sxy
      |    FROM li GROUP BY l_returnflag) m)
      |SELECT li.l_returnflag, n, slope_micro, intercept_micro,
      |  CAST(sum(CAST(abs(yc * 1000000 - slope_micro * x - intercept_micro)
      |      AS HUGEINT)) // CAST(n AS HUGEINT) AS BIGINT) AS mae_micro
      |FROM li JOIN model ON li.l_returnflag = model.l_returnflag
      |GROUP BY li.l_returnflag, n, slope_micro, intercept_micro""".stripMargin

  /** t-digest per-group quantile estimates (p50/p90/p99 of
    * l_extendedprice by return flag) — the reference's tdigest
    * aggregation (cudf aggregation.hpp:121) as [[graft.agg.TDigestAgg]]:
    * O(δ) mergeable state, map-side combine, tail-weighted accuracy.
    * Rows-only by sketch design (centroid formation is merge-order-
    * dependent, like HLL/GK); the accuracy CONTRACT is oracled by
    * `agg_tdigest_vs_exact` below, and TDigestSpec pins rank error,
    * repartition stability, and the state bound.
    */
  private def aggTdigestQuantiles(s: SparkSession, dir: String): DataFrame = {
    val td = udaf(new graft.agg.TDigestAgg(100, Seq(0.5, 0.9, 0.99)))
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(td(col("l_extendedprice").cast(DoubleType)).as("qs"))
      .select(col("l_returnflag"),
        col("qs").getItem(0).as("p50_est"),
        col("qs").getItem(1).as("p90_est"),
        col("qs").getItem(2).as("p99_est"))
  }

  /** One-sided oracle contract for the t-digest (the
    * `decontaminate_bloom_vs_exact` pattern): Spark measures the TRUE
    * rank of each estimate within its group and emits whether the rank
    * error stays ≤ 0.02; DuckDB pins every flag TRUE (plus the exact
    * group counts) — any accuracy violation flips a boolean cell and
    * fails the hash, so the sketch's contract is gate-checked even
    * though its centroids are not replayable.
    */
  private def aggTdigestVsExact(s: SparkSession, dir: String): DataFrame = {
    val td = udaf(new graft.agg.TDigestAgg(100, Seq(0.5, 0.9, 0.99)))
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("rf"),
        col("l_extendedprice").cast(DoubleType).as("p"))
    val ests = li.groupBy(col("rf")).agg(td(col("p")).as("qs"))
      .select(col("rf"), col("qs").getItem(0).as("e50"),
        col("qs").getItem(1).as("e90"), col("qs").getItem(2).as("e99"))
    li.join(broadcast(ests), Seq("rf"))
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("p") <= col("e50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("p") <= col("e90"), 1L).otherwise(0L)).as("r90"),
        sum(when(col("p") <= col("e99"), 1L).otherwise(0L)).as("r99"))
      .select(col("rf").as("l_returnflag"), col("n_rows"),
        (abs(col("r50") / col("n_rows") - 0.5) <= 0.02).as("p50_ok"),
        (abs(col("r90") / col("n_rows") - 0.9) <= 0.02).as("p90_ok"),
        (abs(col("r99") / col("n_rows") - 0.99) <= 0.02).as("p99_ok"))
  }

  private val aggTdigestVsExactSql =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Exact weighted median (lower-median convention) per group: rows
    * sort by (value, full unique key) within the group, and the pick is
    * the first row whose doubled cumulative weight reaches the group
    * total — deterministic, integer-exact (weights are integral), and
    * the reported value is a row ELEMENT (no interpolation), so the
    * double is bit-identical across engines. The weighted twin of
    * `agg_median_quantile`, and the shape a mixing pipeline uses for
    * "median token count weighted by sampling probability".
    *
    * Scale: `l_returnflag` is a 3-value key, so a plain
    * `PARTITION BY l_returnflag` window would funnel the whole fact
    * table through 3 tasks — at 100× that is ~2 B rows in 3 straggler
    * partitions. The cumulative weight therefore goes through
    * [[graft.operators.GlobalOrder.groupedCumSum]]'s range-partitioned
    * distributed prefix scan (no task holds more than a range slice);
    * the 3-row group totals ride a broadcast join, and the crossing row
    * is `min_by(price, cum)` — cum is strictly increasing within a
    * group (weights ≥ 1), so the minimal surviving cum IS the first
    * row at or past the half-weight point.
    */
  private def weightedMedian(s: SparkSession, dir: String): DataFrame =
    weightedMedianOver(Tables.lineitem(s, dir))

  /** The weighted-median build over any lineitem-shaped frame. */
  private[graft] def weightedMedianOver(lineitem: DataFrame): DataFrame = {
    // Crossing-partition lookup (r22, on top of r21's price-only order):
    // the full prefix scan appended cum/tot to EVERY row, then filtered
    // and re-aggregated the whole frame just to keep one row per group.
    // The crossing row — the first in price order with 2·cum ≥ tot,
    // i.e. cum ≥ ceil(tot/2) — is located from the scan's own partials
    // instead: groupedOrderStats range-exchanges (flag, price) with NO
    // per-partition sort, reads the per-(partition, group) weight sums,
    // and a partition-pruned second job touches ONLY the ≤ 3 partitions
    // that contain a crossing (in-task sort of just those), so the full
    // partitions never sort, never re-stream, and the downstream
    // filter + hash aggregate disappear outright. Tie-invariance is
    // unchanged from r21 (equal prices form one run; any crossing in
    // the run reports the run's price) — pinned by AnalyticsSpec and
    // the full-key-ordered oracle.
    val base = lineitem
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast(LongType).as("wt"))
    graft.operators.GlobalOrder
      .groupedOrderStats(base, Seq("l_returnflag"),
        col("l_extendedprice"), col("wt"),
        Seq("wmedian_price"), tot => Seq((tot + 1L) / 2L), "total_weight")
      .select(col("l_returnflag"), col("total_weight"), col("wmedian_price"))
  }

  private val weightedMedianSql =
    """SELECT l_returnflag, tot AS total_weight,
      |  l_extendedprice AS wmedian_price
      |FROM (
      |  SELECT l_returnflag, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber,
      |        l_partkey, l_suppkey) AS rn
      |  FROM (
      |    SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
      |      l_partkey, l_suppkey,
      |      sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
      |        ORDER BY l_extendedprice, l_orderkey, l_linenumber,
      |          l_partkey, l_suppkey) AS cum,
      |      sum(CAST(l_quantity AS BIGINT))
      |        OVER (PARTITION BY l_returnflag) AS tot
      |    FROM lineitem) c
      |  WHERE cum * 2 >= tot) r
      |JOIN (
      |  SELECT l_returnflag AS rf2,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot
      |  FROM lineitem GROUP BY l_returnflag) t ON r.l_returnflag = t.rf2
      |WHERE rn = 1""".stripMargin

  /** Pairwise correlation MATRIX over the four numeric lineitem
    * measures (scaled to comparable magnitude), melted to (c1, c2,
    * corr) rows — the profiling report (`frame_describe`'s bivariate
    * companion) a first-contact pass ships for an unknown table. ONE
    * corpus scan computes all 4 sums + 4 square sums + 6 cross sums +
    * n via the fixed-point dsum contract; every correlation is then the
    * identical IEEE tree over those exact pieces in both engines (the
    * `covar_corr` convention, matrixed). Melt is a literal 6-element
    * explode of the 1-row aggregate — no extra pass.
    */
  private def frameCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("disc", "price", "qty", "tax")
    val pairs =
      for { i <- cols.indices; j <- (i + 1) until cols.length }
        yield (cols(i), cols(j))
    val base = Tables.lineitem(s, dir).select(
      col("l_quantity").as("qty"),
      (col("l_extendedprice") / 1000).as("price"),
      (col("l_discount") * 10).as("disc"),
      (col("l_tax") * 10).as("tax"))
    val aggs =
      cols.map(c => dsum(col(c), 6).as(s"s_$c")) ++
        cols.map(c => dsum(col(c) * col(c), 6).as(s"s_${c}_$c")) ++
        pairs.map { case (a, b) =>
          dsum(col(a) * col(b), 6).as(s"s_${a}_$b")
        } ++ Seq(count(lit(1)).as("n"))
    def corrExpr(a: String, b: String) =
      ((col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b") / col("n")) / col("n")) /
        (sqrt((col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a") / col("n")) / col("n")) *
          sqrt((col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b") / col("n")) / col("n")))
    base.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("c1"), lit(b).as("c2"), corrExpr(a, b).as("corr"))
        }: _*)).as("r"))
      .select(col("r.c1").as("c1"), col("r.c2").as("c2"),
        col("r.corr").as("corr"))
  }

  private val frameCorrMatrixSql = {
    val cols = Seq("disc", "price", "qty", "tax")
    val pairs =
      for { i <- cols.indices; j <- (i + 1) until cols.length }
        yield (cols(i), cols(j))
    val sums =
      (cols.map(c => s"${dsumSql(c, 6)} AS s_$c") ++
        cols.map(c => s"${dsumSql(s"$c * $c", 6)} AS s_${c}_$c") ++
        pairs.map { case (a, b) => s"${dsumSql(s"$a * $b", 6)} AS s_${a}_$b" } ++
        Seq("count(*) AS n")).mkString(",\n    ")
    def corr(a: String, b: String) =
      s"(((s_${a}_$b - s_$a * s_$b / n) / n) / " +
        s"(sqrt((s_${a}_$a - s_$a * s_$a / n) / n) * " +
        s"sqrt((s_${b}_$b - s_$b * s_$b / n) / n)))"
    val rows = pairs.map { case (a, b) =>
      s"SELECT '$a' AS c1, '$b' AS c2, ${corr(a, b)} AS corr FROM m"
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT
       |    $sums
       |  FROM (SELECT l_quantity AS qty, l_extendedprice / 1000 AS price,
       |          l_discount * 10 AS disc, l_tax * 10 AS tax
       |        FROM lineitem) t)
       |$rows""".stripMargin
  }

  /** Gram matrix — the `DataFrame.dot` anchor (pandas API,
    * `cudf/core/dataframe.py` dot; the X^T·X inner-product table that
    * PCA/regression consume): G[i][j] = Σ_rows x_i·x_j over the first 6
    * embedding dims, exact in integer milli-units (each float element
    * is cast to double — exact — then floor(x·10³); products and sums
    * stay in BIGINT, |Σ| < 2⁶³ until ~10¹² rows at this magnitude).
    *
    * Scale shape: ONE full scan producing all 21 upper-triangle sums as
    * map-side-combined partial aggregates (no shuffle of the fact
    * table, d²-bounded state), then a constant-size stack() unpivot —
    * the distributed matmul shape, not a row-pair join.
    */
  private def gramMatrix(s: SparkSession, dir: String): DataFrame = {
    val dims = 6
    def q(i: Int) =
      floor(element_at(col("embedding"), i + 1).cast(DoubleType) * 1000)
        .cast(LongType)
    val pairs = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      sum(q(i) * q(j)).as(s"g_${i}_$j")
    }
    val one = Tables.embeddings(s, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs
      .map { case (i, j) => s"$i, $j, g_${i}_$j" }
      .mkString(", ")
    one.select(
      expr(s"stack(${pairs.size}, $stackArgs) AS (i, j, gram)"))
  }

  private val gramMatrixSql =
    """WITH d AS (SELECT unnest(range(0, 6)) AS i),
      |pairs AS (
      |  SELECT d1.i AS i, d2.i AS j FROM d d1, d d2 WHERE d1.i <= d2.i)
      |SELECT p.i, p.j,
      |  CAST(sum(
      |    CAST(floor(CAST(embedding[p.i + 1] AS DOUBLE) * 1000) AS BIGINT)
      |    * CAST(floor(CAST(embedding[p.j + 1] AS DOUBLE) * 1000) AS BIGINT))
      |  AS BIGINT) AS gram
      |FROM embeddings, pairs p
      |GROUP BY p.i, p.j""".stripMargin

  def queries: Map[String, Q] = Map(
    "emb_gram_matrix" -> Q(gramMatrix _, gramMatrixSql),
    "frame_corr_matrix" -> Q(frameCorrMatrix _, frameCorrMatrixSql),
    "agg_weighted_median" -> Q(weightedMedian _, weightedMedianSql),
    "agg_tdigest_quantiles" -> Q(aggTdigestQuantiles _, None),
    "agg_tdigest_vs_exact" -> Q(aggTdigestVsExact _, aggTdigestVsExactSql),
    "reg_ols_group" -> Q(regOlsGroup _, regOlsGroupSql),
    "agg_mode" -> Q(modeAgg _, modeAggSql),
    "agg_skew_kurt" -> Q(skewKurt _, skewKurtSql),
    "agg_grouping_sets" -> Q(groupingSetsAgg _, groupingSetsAggSql),
    "agg_cube" -> Q(cubeAgg _, cubeAggSql),
    "agg_basic_stats" -> Q(basicStats _, basicStatsSql),
    "agg_count_null_policy" -> Q(countNullPolicy _, countNullPolicySql),
    "agg_count_distinct" -> Q(countDistinct_ _, countDistinctSql),
    "agg_any_all" -> Q(anyAll _, anyAllSql),
    "agg_argminmax" -> Q(argMinMax _, argMinMaxSql),
    "agg_var_std" -> Q(varStd _, varStdSql),
    "agg_median_quantile" -> Q(medianQuantile _, medianQuantileSql),
    "agg_nth_element" -> Q(nthElement _, nthElementSql),
    "agg_collect_list_set" -> Q(collectListSet _, collectListSetSql),
    "agg_covar_corr" -> Q(covarCorr _, covarCorrSql),
    "agg_histogram" -> Q(histogram _, histogramSql),
    "agg_reduce_all" -> Q(reduceAll _, reduceAllSql),
    "agg_approx_distinct" -> Q(approxDistinct _, None),
    "agg_hll_vs_exact" -> Q(aggHllVsExact _, aggHllVsExactSql),
    "agg_rollup" -> Q(rollupAgg _, rollupAggSql)
  )
}
