package graft.queries

import graft.{Agg, Q, Tables}
import graft.Tag.{Basis, Headline, Sweep}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator inventory — SURVEY §2.2 (row selection), §2.3
  * (joins), §2.6 (sorts/top-k), §2.7 (set ops / dedup / reshape).
  *
  * Reference surface being re-expressed (file:line in /root/reference):
  *   - filters/selection: `cpp/include/cudf/stream_compaction.hpp:73-340`,
  *     `copying.hpp:461-806`, `filling.hpp:60-238`
  *   - joins: `cpp/include/cudf/join.hpp:99-1034`
  *   - sorts: `cpp/include/cudf/sorting.hpp:52-338`, `quantiles.hpp:97`
  *   - set/dedup/reshape: `concatenate.hpp:64`, `stream_compaction.hpp:223`,
  *     `lists/explode.hpp:72-208`, `python/cudf/cudf/core/reshape.py`
  *
  * Every query is partition-parallel (no collect, no driver state) and its
  * join sides are broadcast only when dimension-sized.
  */
object Relational {
  import Agg._

  // ---------------------------------------------------------------- §2.2

  /** apply_boolean_mask (stream_compaction.hpp:214) + fused projection. */
  private def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(
        col("l_quantity") > 30 && col("l_discount") < 0.05 &&
          col("l_returnflag") =!= "A")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))

  private val filterProjectSql =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS net_price
      |FROM lineitem
      |WHERE l_quantity > 30 AND l_discount < 0.05 AND l_returnflag <> 'A'
      |""".stripMargin

  /** drop_nulls with keep_threshold (stream_compaction.hpp:107): keep rows
    * with >= 1 non-null among two derived nullable columns.
    */
  private def dropNulls(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        col("event_id"),
        when(col("event_type") === "click", null).otherwise(col("event_type")).as("et"),
        when(col("value") < 10, null).otherwise(col("value")).as("v"))
      .na.drop(1, Seq("et", "v"))

  private val dropNullsSql =
    """SELECT * FROM (
      |  SELECT event_id,
      |    CASE WHEN event_type = 'click' THEN NULL ELSE event_type END AS et,
      |    CASE WHEN value < 10 THEN NULL ELSE value END AS v
      |  FROM events)
      |WHERE ((et IS NOT NULL)::INT + (v IS NOT NULL)::INT) >= 1
      |""".stripMargin

  /** copy_if_else (copying.hpp:626) / scatter-by-mask as when/otherwise. */
  private def copyIfElse(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(col("o_totalprice") * 1.1).as("adj_price"),
        when(col("o_totalprice") > 100000, lit("big"))
          .when(col("o_totalprice") > 10000, lit("mid"))
          .otherwise(lit("small")).as("bucket"))

  private val copyIfElseSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice
      |       ELSE o_totalprice * 1.1 END AS adj_price,
      |  CASE WHEN o_totalprice > 100000 THEN 'big'
      |       WHEN o_totalprice > 10000 THEN 'mid'
      |       ELSE 'small' END AS bucket
      |FROM orders
      |""".stripMargin

  /** slice/split (copying.hpp:461): deterministic offset+limit page. */
  private def sliceOffsetLimit(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).orderBy(col("o_orderkey")).offset(100).limit(50)

  private val sliceOffsetLimitSql =
    "SELECT * FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100"

  /** Stride slicing (pandas `df.iloc[start:stop:step]` —
    * `cudf/core/indexed_frame.py:2995` lowers the stride to a gather
    * map): every 3rd row of the o_orderkey order inside [10, 5000),
    * expressed as a predicate on the range-partitioned global row
    * number (`operators.GlobalOrder.rowNumber`: partition offsets +
    * local numbering — no single-partition window), so the selection
    * stays fully distributed at any SF instead of materializing a
    * gather map on one node.
    */
  private def sliceStride(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalOrder
    GlobalOrder
      .rowNumber(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_orderkey")),
        "rn")
      .filter(
        col("rn") >= 11 && col("rn") <= 5000 && (col("rn") - 11) % 3 === 0)
  }

  private val sliceStrideSql =
    """WITH n AS (
      |  SELECT o_orderkey, o_totalprice,
      |    row_number() OVER (ORDER BY o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_orderkey, o_totalprice, rn FROM n
      |WHERE rn >= 11 AND rn <= 5000 AND (rn - 11) % 3 = 0""".stripMargin

  /** GroupBy row-selection family (pandas API surface:
    * `cudf/core/groupby/groupby.py:674-1352` — cumcount, head(n),
    * tail(n), nth(n), ngroup): per-user event-time order, keep the
    * head-3 / tail-2 / 2nd rows with marker columns.
    *
    * Scale notes: the per-group windows partition on the SF-scaled
    * user_id (bounded frames, no hotspot). ngroup — the dense 0-based
    * number of each group key — is NOT a global dense_rank over the
    * fact table (single-task window); it numbers the DISTINCT key set
    * through `GlobalOrder.rowNumber` (range-partitioned) and equi-joins
    * back on the grouping key, co-partitioned with the window shuffle.
    */
  private def groupHeadTail(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalOrder
    val ev = Tables
      .events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wd = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ngroups = GlobalOrder
      .rowNumber(
        ev.select(col("user_id")).distinct(),
        Seq(col("user_id")),
        "rn_g")
      .select(col("user_id"), (col("rn_g") - 1L).as("ngroup"))
    ev
      .select(
        col("user_id"),
        col("event_id"),
        row_number().over(w).cast(LongType).as("rn"),
        row_number().over(wd).cast(LongType).as("rnd"))
      .filter(col("rn") <= 3 || col("rnd") <= 2)
      .join(ngroups, Seq("user_id"))
      .select(
        col("user_id"),
        col("event_id"),
        (col("rn") - 1L).as("cumcount"),
        (col("rn") <= 3).as("is_head"),
        (col("rnd") <= 2).as("is_tail"),
        (col("rn") === 2).as("is_nth1"),
        col("ngroup"))
  }

  private val groupHeadTailSql =
    """WITH g AS (
      |  SELECT user_id,
      |    row_number() OVER (ORDER BY user_id) - 1 AS ngroup
      |  FROM (SELECT DISTINCT user_id FROM events)),
      |n AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER w AS rn,
      |    row_number() OVER wd AS rnd
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY CAST(ts AS TIMESTAMP), event_id),
      |         wd AS (PARTITION BY user_id
      |               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC))
      |SELECT n.user_id, event_id,
      |  rn - 1 AS cumcount,
      |  rn <= 3 AS is_head,
      |  rnd <= 2 AS is_tail,
      |  rn = 2 AS is_nth1,
      |  g.ngroup
      |FROM n JOIN g ON n.user_id = g.user_id
      |WHERE rn <= 3 OR rnd <= 2""".stripMargin

  /** sequence (filling.hpp:180): generated range with derived columns. */
  private def sequenceRange(s: SparkSession): DataFrame =
    s.range(1, 1001)
      .select(
        col("id"),
        (col("id") * 2).as("twice"),
        (col("id") % 7).as("mod7"))

  private val sequenceRangeSql =
    """SELECT range AS id, range * 2 AS twice, range % 7 AS mod7
      |FROM range(1, 1001)""".stripMargin

  /** repeat rows n times (filling.hpp:125) via explode(sequence). */
  private def repeatRows(s: SparkSession, dir: String): DataFrame =
    Tables
      .nation(s, dir)
      .select(
        col("n_nationkey"),
        col("n_name"),
        explode(sequence(lit(1), col("n_nationkey") % 3 + 1)).as("rep_i"))

  private val repeatRowsSql =
    """SELECT n_nationkey, n_name, u.i AS rep_i
      |FROM nation, unnest(range(1, n_nationkey % 3 + 2)) AS u(i)
      |""".stripMargin

  /** tile (reshape.hpp:77): whole-table repetition via crossJoin(range). */
  private def tileRows(s: SparkSession, dir: String): DataFrame =
    Tables
      .region(s, dir)
      .crossJoin(s.range(3).select(col("id").as("copy_i")))

  private val tileRowsSql =
    """SELECT r_regionkey, r_name, u.i AS copy_i
      |FROM region, unnest(range(0, 3)) AS u(i)""".stripMargin

  // ---------------------------------------------------------------- §2.3

  /** inner_join (join.hpp:99) — shuffle hash/SMJ on the big pair. */
  private def joinInner(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(
        col("o_orderkey"),
        col("c_custkey"),
        col("c_mktsegment"),
        col("o_totalprice"))

  private val joinInnerSql =
    """SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** left_join (join.hpp:141): preserves left rows with null right side. */
  private def joinLeft(s: SparkSession, dir: String): DataFrame = {
    val bigOrders =
      Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    Tables
      .customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
  }

  private val joinLeftSql =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      |ON c_custkey = o_custkey""".stripMargin

  /** full_join (join.hpp:182): unmatched rows survive on both sides. */
  private def joinFull(s: SparkSession, dir: String): DataFrame = {
    val suppNations = Tables
      .supplier(s, dir)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    Tables
      .nation(s, dir)
      .join(suppNations, col("n_nationkey") === col("s_nationkey"), "full")
      .select(col("n_nationkey"), col("n_name"), col("s_nationkey"), col("n_suppliers"))
  }

  private val joinFullSql =
    """SELECT n_nationkey, n_name, s_nationkey, n_suppliers
      |FROM nation FULL JOIN (
      |  SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |ON n_nationkey = s_nationkey""".stripMargin

  /** left_semi_join (join.hpp:213): EXISTS. */
  private def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val bigLines = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49)
    Tables
      .orders(s, dir)
      .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  private val joinSemiSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin

  /** left_anti_join (join.hpp:246): NOT EXISTS. */
  private def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val rLines = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    Tables
      .orders(s, dir)
      .join(rLines, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  private val joinAntiSql =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')""".stripMargin

  /** cross_join (join.hpp:276). */
  private def joinCross(s: SparkSession, dir: String): DataFrame =
    Tables
      .region(s, dir)
      .crossJoin(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name")))

  private val joinCrossSql =
    """SELECT r_regionkey, r_name, n_nationkey, n_name
      |FROM region CROSS JOIN nation""".stripMargin

  /** conditional (theta / nested-loop) join on a pure inequality
    * (join.hpp:579, conditional_join.cu) → BroadcastNestedLoopJoin.
    */
  private def joinTheta(s: SparkSession, dir: String): DataFrame = {
    val s1 = Tables.supplier(s, dir).select(col("s_suppkey").as("a_key"), col("s_acctbal").as("a_bal"))
    val s2 = Tables.supplier(s, dir).select(col("s_suppkey").as("b_key"), col("s_acctbal").as("b_bal"))
    s1.join(s2, col("a_bal") < col("b_bal") - 1000)
      .select(col("a_key"), col("b_key"), (col("b_bal") - col("a_bal")).as("gap"))
  }

  private val joinThetaSql =
    """SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
      |  b.s_acctbal - a.s_acctbal AS gap
      |FROM supplier a JOIN supplier b ON a.s_acctbal < b.s_acctbal - 1000
      |""".stripMargin

  /** mixed join: equi keys AND residual condition (join.hpp:808) —
    * Catalyst extracts the equi part for the hash join automatically.
    */
  private def joinMixed(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .join(
        Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_extendedprice") > col("o_totalprice") * 0.5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("o_totalprice"))

  private val joinMixedSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice
      |FROM lineitem JOIN orders
      |ON l_orderkey = o_orderkey AND l_extendedprice > o_totalprice * 0.5
      |""".stripMargin

  /** null_equality EQUAL join (types.hpp:151) via null-safe `<=>`. */
  private def joinNullSafe(s: SparkSession, dir: String): DataFrame = {
    val c = Tables
      .customer(s, dir)
      .select(col("c_custkey"), when(col("c_nationkey") === 3, null).otherwise(col("c_nationkey")).as("cn"))
    val n = Tables
      .nation(s, dir)
      .select(when(col("n_nationkey") === 3, null).otherwise(col("n_nationkey")).as("nn"), col("n_name"))
    c.join(n, col("cn") <=> col("nn")).select(col("c_custkey"), col("cn"), col("n_name"))
  }

  private val joinNullSafeSql =
    """SELECT c_custkey, cn, n_name FROM
      |  (SELECT c_custkey,
      |     CASE WHEN c_nationkey = 3 THEN NULL ELSE c_nationkey END AS cn
      |   FROM customer) c
      |JOIN
      |  (SELECT CASE WHEN n_nationkey = 3 THEN NULL ELSE n_nationkey END AS nn,
      |     n_name FROM nation) n
      |ON cn IS NOT DISTINCT FROM nn""".stripMargin

  /** merge(indicator=True) — the pandas/cuDF provenance column
    * (python/cudf merge's `_merge`: both / left_only / right_only) as a
    * full-outer join + CASE, summarized to per-indicator counts.
    * a customer key band vs the events user domain populates all three
    * (users below the band are right_only, band customers above the
    * user range are left_only). One distinct collapse + one full join
    * on the key.
    */
  private def joinMergeIndicator(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_custkey").between(50, 200))
      .select(col("c_custkey"))
    val u = Tables.events(s, dir).select(col("user_id")).distinct()
    c.join(u, col("c_custkey") === col("user_id"), "full")
      .select(
        when(col("c_custkey").isNotNull && col("user_id").isNotNull, "both")
          .when(col("c_custkey").isNotNull, "left_only")
          .otherwise("right_only").as("merge_ind"))
      .groupBy(col("merge_ind"))
      .agg(count(lit(1)).as("n"))
  }

  private val joinMergeIndicatorSql =
    """SELECT merge_ind, count(*) AS n FROM (
      |  SELECT CASE
      |    WHEN c_custkey IS NOT NULL AND user_id IS NOT NULL THEN 'both'
      |    WHEN c_custkey IS NOT NULL THEN 'left_only'
      |    ELSE 'right_only' END AS merge_ind
      |  FROM (SELECT c_custkey FROM customer
      |        WHERE c_custkey BETWEEN 50 AND 200) c
      |  FULL JOIN (SELECT DISTINCT user_id FROM events) u
      |    ON c_custkey = user_id) t
      |GROUP BY merge_ind""".stripMargin

  /** lineitem ⋈ orders routed through the PERSISTENT bucketed layout
    * ([[graft.sources.Bucketed]], ref partitioning.hpp applied at the
    * storage layer): both sides written bucket-sorted on orderkey once
    * per JVM per dataset (DimCache — write-once/join-many is the whole
    * point of the layout), then sort-merge joined with ZERO Exchange
    * below the join. The zero-Exchange property is REQUIRED at build
    * time, so this correctness row fails loudly if the bucketed path
    * ever stops planning exchange-free; the oracle computes the same
    * aggregate from the raw parquet, so the hash also proves the
    * bucketed copy is faithful.
    */
  private def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    // table names carry the dataset-dir fingerprint, so verifying
    // another sf dir never joins this one's copies
    val tag = graft.DimCache.fingerprint(dir)
    val liTbl = s"graft_li_bkt_$tag"
    val ordTbl = s"graft_ord_bkt_$tag"
    graft.DimCache.cached(s"bucketed-li-ord:$dir") {
      // the files sit under this JVM's artifact root, so two JVMs (and
      // runs) never share a table location
      graft.sources.Bucketed.writeBucketed(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
        liTbl, "l_orderkey", 8, graft.DimCache.artifactPath("li_bkt", dir))
      graft.sources.Bucketed.writeBucketed(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
        ordTbl, "o_orderkey", 8, graft.DimCache.artifactPath("ord_bkt", dir))
      java.lang.Boolean.TRUE
    }
    // merge hint: at verify SF the orders side is broadcast-sized, and a
    // broadcast join would bypass the layout under test.
    val j = s.table(liTbl)
      .join(s.table(ordTbl).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = j.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    require(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
      s"bucketed join must plan exchange-free:\n$plan")
    j.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        countDistinct(col("l_returnflag")).as("n_flags"))
  }

  private val joinBucketedSql =
    s"""SELECT o_orderpriority, count(*) AS n_items,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  count(DISTINCT l_returnflag) AS n_flags
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin

  /** lineitem ⋈ orders through the SALTED skew join
    * ([[graft.operators.SkewJoin]]): probe rows carry a deterministic
    * salt, the build side replicates once per salt, the key widens to
    * (key, salt). The salt is internal — the result is EXACTLY the
    * plain equi-join, which is what makes the skew path fully
    * DuckDB-oracleable (the previous spec-only row): the oracle is the
    * unsalted join, so the hash proves replication+widening loses and
    * invents nothing.
    */
  private def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val probe = Tables
      .lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val build = Tables
      .orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.operators.SkewJoin
      .saltedEquiJoin(probe, build, "l_orderkey", col("l_linenumber"), salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        max(col("l_linenumber")).as("max_line"))
  }

  private val joinSkewSaltedSql =
    s"""SELECT o_orderpriority, count(*) AS n_items,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  max(l_linenumber) AS max_line
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- §2.6

  /** sort with explicit null ordering (sorting.hpp:111, null_order) +
    * sorted_order/argsort as row_number.
    */
  private def sortRankNulls(s: SparkSession, dir: String): DataFrame = {
    val c = Tables
      .customer(s, dir)
      .select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, null).otherwise(col("c_acctbal")).as("bal"))
    // Scalable global argsort ([[graft.operators.GlobalOrder]]): range
    // repartition + per-partition numbering + broadcast offsets — the
    // numbers are identical to `row_number() OVER (ORDER BY …)` (the
    // oracle's form) but no single partition ever holds the input.
    graft.operators.GlobalOrder.rowNumber(
      c, Seq(col("bal").asc_nulls_first, col("c_custkey")), "sorted_order")
  }

  private val sortRankNullsSql =
    """SELECT c_custkey, bal,
      |  row_number() OVER (ORDER BY bal ASC NULLS FIRST, c_custkey) AS sorted_order
      |FROM (SELECT c_custkey,
      |   CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      | FROM customer)""".stripMargin

  /** top-k (nlargest; sort+slice idiom) → TakeOrderedAndProject. */
  private def topK(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  private val topKSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
      |""".stripMargin

  /** quantiles at explicit points (quantiles.hpp:97), grouped. */
  private def quantilePoints(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        graft.ArrCanon.joined(graft.ArrCanon.fixArr(
          expr(
            "transform(percentile(l_quantity, array(0.0D, 0.25D, 0.5D, 0.75D, 1.0D)), x -> round(x, 6))"),
          scale = 6))
          .as("qty_quantiles"))

  private val quantilePointsSql =
    s"""SELECT l_returnflag,
      |  ${graft.ArrCanon.joinedSql(graft.ArrCanon.fixArrSql(
           """list_transform(quantile_cont(l_quantity, [0.0, 0.25, 0.5, 0.75, 1.0]),
                x -> round(x, 6))""", 6))} AS qty_quantiles
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- §2.7

  /** concatenate (concatenate.hpp:64) = UNION ALL with provenance tag. */
  private def unionAll(s: SparkSession, dir: String): DataFrame = {
    val c = Tables
      .customer(s, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"), lit("customer").as("side"))
    val p = Tables
      .supplier(s, dir)
      .select(col("s_suppkey").as("key"), col("s_acctbal").as("bal"), lit("supplier").as("side"))
    c.unionByName(p)
  }

  private val unionAllSql =
    """SELECT c_custkey AS key, c_acctbal AS bal, 'customer' AS side FROM customer
      |UNION ALL
      |SELECT s_suppkey, s_acctbal, 'supplier' FROM supplier""".stripMargin

  /** INTERSECT (distinct) — capability bonus vs reference (§2.7). */
  private def intersectKeys(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))

  private val intersectKeysSql =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier""".stripMargin

  /** EXCEPT (distinct). */
  private def exceptKeys(s: SparkSession, dir: String): DataFrame =
    Tables
      .nation(s, dir)
      .select(col("n_nationkey").as("nationkey"))
      .except(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))

  private val exceptKeysSql =
    """SELECT n_nationkey AS nationkey FROM nation
      |EXCEPT
      |SELECT s_nationkey FROM supplier""".stripMargin

  /** distinct (stream_compaction.hpp:223, keep ANY on full row). */
  private def distinctRows(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()

  private val distinctRowsSql =
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

  /** distinct keep FIRST (duplicate_keep_option::KEEP_FIRST): one row per
    * orderkey, ordered by linenumber.
    */
  private def dedupKeepFirst(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // l_linenumber can tie within an orderkey in this generator, so the
    // "first" ordering carries a full tiebreak to stay deterministic.
    val w = Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    Tables
      .lineitem(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
  }

  private val dedupKeepFirstSql =
    """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
      |QUALIFY row_number() OVER (PARTITION BY l_orderkey
      |  ORDER BY l_linenumber, l_partkey, l_suppkey) = 1
      |""".stripMargin

  /** distinct keep NONE: only keys that appear exactly once survive. */
  private def dedupKeepNone(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === 1)
      .select(col("l_orderkey"))

  private val dedupKeepNoneSql =
    """SELECT l_orderkey FROM lineitem
      |GROUP BY l_orderkey HAVING count(*) = 1""".stripMargin

  /** explode + position (lists/explode.hpp:72,118) over tokenized text. */
  private def explodePos(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  private val explodePosSql =
    """SELECT doc_id, u.i - 1 AS pos, (string_split(text, ' '))[u.i] AS tok
      |FROM documents, unnest(range(1, len(string_split(text, ' ')) + 1)) AS u(i)
      |WHERE doc_id < 200""".stripMargin

  /** explode_outer (lists/explode.hpp:162): empty lists keep their row. */
  private def explodeOuter(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .filter(col("doc_id") < 200)
      .select(
        col("doc_id"),
        when(col("n_chars") < 200, array().cast(ArrayType(StringType)))
          .otherwise(split(col("text"), " ")).as("toks"))
      .select(col("doc_id"), explode_outer(col("toks")).as("tok"))

  private val explodeOuterSql =
    """SELECT doc_id, toks[u.i] AS tok FROM
      |  (SELECT doc_id,
      |     CASE WHEN n_chars < 200 THEN [] ELSE string_split(text, ' ') END AS toks
      |   FROM documents WHERE doc_id < 200) d,
      |  unnest(range(1, greatest(len(toks), 1) + 1)) AS u(i)""".stripMargin

  /** melt / unpivot (core/reshape.py:547). */
  private def meltUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey").cast(DoubleType).as("c_nationkey_d"))
      .unpivot(
        Array(col("c_custkey")),
        Array(col("c_acctbal"), col("c_nationkey_d")),
        "variable",
        "value")

  private val meltUnpivotSql =
    """SELECT c_custkey, 'c_acctbal' AS variable, c_acctbal AS value FROM customer
      |UNION ALL
      |SELECT c_custkey, 'c_nationkey_d', CAST(c_nationkey AS DOUBLE) FROM customer
      |""".stripMargin

  /** pivot / pivot_table (core/reshape.py:1061) with exact sums. */
  private def pivotWide(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))

  private val pivotWideSql =
    """SELECT l_returnflag,
      |  (CAST(sum(CAST(floor(l_quantity * 1e4) AS BIGINT))
      |     FILTER (l_linestatus = 'F') AS DOUBLE) / 1e4) AS F,
      |  (CAST(sum(CAST(floor(l_quantity * 1e4) AS BIGINT))
      |     FILTER (l_linestatus = 'O') AS DOUBLE) / 1e4) AS O
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** get_dummies / one_hot_encode (transform.hpp:182). */
  private def oneHot(s: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val base = Tables.customer(s, dir)
    segs.foldLeft(base.select(col("c_custkey"), col("c_mktsegment"))) { (df, seg) =>
      df.withColumn(s"is_${seg.toLowerCase}", (col("c_mktsegment") === seg).cast(IntegerType))
    }.drop("c_mktsegment")
  }

  private val oneHotSql = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val cols = segs
      .map(s => s"CASE WHEN c_mktsegment = '$s' THEN 1 ELSE 0 END AS is_${s.toLowerCase}")
      .mkString(",\n  ")
    s"SELECT c_custkey,\n  $cols\nFROM customer"
  }

  /** cut / label_bins (labeling/label_bins.hpp:71): fixed-width buckets,
    * computed arithmetically (same IEEE ops both engines).
    */
  private def cutBins(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .select(
        col("c_custkey"),
        least(greatest(floor(col("c_acctbal") / 1000).cast(IntegerType), lit(0)), lit(9))
          .as("bal_bin"))

  private val cutBinsSql =
    """SELECT c_custkey,
      |  least(greatest(CAST(floor(c_acctbal / 1000) AS INT), 0), 9) AS bal_bin
      |FROM customer""".stripMargin

  /** As-of join (graft.operators.AsOf, union+window formulation): each
    * event matched with the user's most recent purchase value at that
    * instant. Oracle = DuckDB's native ASOF LEFT JOIN (>= semantics on
    * both sides; ref pre-aggregated unique per (user, ts) so the match
    * is well-defined).
    */
  private def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val probe = ev.select(col("user_id"), col("event_id"), col("ts"))
    val ref = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("pv"))
    graft.operators.AsOf
      .joinAsOf(probe, ref, "user_id", "ts", "pv")
      .select(
        col("user_id"),
        col("event_id"),
        expr("unix_micros(ts)").as("ts_us"),
        col("asof_pv"),
        expr("unix_micros(asof_ts)").as("asof_ts_us"))
  }

  private val joinAsofSql =
    """WITH ref AS (
      |  SELECT user_id, ts, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
      |  r.pv AS asof_pv, epoch_us(r.ts) AS asof_ts_us
      |FROM events e ASOF LEFT JOIN ref r
      |  ON e.user_id = r.user_id AND e.ts >= r.ts""".stripMargin

  /** Tolerance-bounded as-of ([[graft.operators.AsOf.joinAsOfTolerance]],
    * pandas merge_asof `tolerance=1h`): matches older than one hour null
    * out — the staleness bound every market-data/as-of enrichment needs.
    * Oracle: the plain ASOF join wrapped in a CASE on the gap.
    */
  private def joinAsofTol(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val probe = ev.select(col("user_id"), col("event_id"), col("ts"))
    val ref = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("pv"))
    graft.operators.AsOf
      .joinAsOfTolerance(probe, ref, "user_id", "ts", "pv",
        tolUs = 3600L * 1000000L)
      .select(
        col("user_id"),
        col("event_id"),
        expr("unix_micros(ts)").as("ts_us"),
        col("asof_pv"),
        expr("unix_micros(asof_ts)").as("asof_ts_us"))
  }

  private val joinAsofTolSql =
    """WITH ref AS (
      |  SELECT user_id, ts, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
      |  CASE WHEN epoch_us(e.ts) - epoch_us(r.ts) <= 3600000000
      |       THEN r.pv END AS asof_pv,
      |  CASE WHEN epoch_us(e.ts) - epoch_us(r.ts) <= 3600000000
      |       THEN epoch_us(r.ts) END AS asof_ts_us
      |FROM events e ASOF LEFT JOIN ref r
      |  ON e.user_id = r.user_id AND e.ts >= r.ts""".stripMargin

  /** Forward as-of ([[graft.operators.AsOf.joinAsOfForward]]): first
    * purchase at or after each event — pandas merge_asof
    * direction='forward'. Oracle: DuckDB ASOF with the inequality
    * flipped (`e.ts <= r.ts`). Same one-shuffle union+window cost as
    * the backward join.
    */
  private def joinAsofFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val probe = ev.select(col("user_id"), col("event_id"), col("ts"))
    val ref = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("pv"))
    graft.operators.AsOf
      .joinAsOfForward(probe, ref, "user_id", "ts", "pv")
      .select(
        col("user_id"),
        col("event_id"),
        expr("unix_micros(ts)").as("ts_us"),
        col("asof_fwd_pv"),
        expr("unix_micros(asof_fwd_ts)").as("asof_fwd_ts_us"))
  }

  private val joinAsofFwdSql =
    """WITH ref AS (
      |  SELECT user_id, ts, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
      |  r.pv AS asof_fwd_pv, epoch_us(r.ts) AS asof_fwd_ts_us
      |FROM events e ASOF LEFT JOIN ref r
      |  ON e.user_id = r.user_id AND e.ts <= r.ts""".stripMargin

  /** Nearest as-of (pandas merge_asof direction='nearest'): backward
    * and forward passes composed, then the closer reference wins —
    * ties prefer backward (<=, the pandas rule). Distances compare as
    * exact epoch-µs longs, so the pick is engine-independent. Two
    * window passes but still one exchange each on the key.
    */
  private def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val probe = ev.select(col("user_id"), col("event_id"), col("ts"))
    val ref = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("pv"))
    val back = graft.operators.AsOf
      .joinAsOf(probe, ref, "user_id", "ts", "pv")
    val both = graft.operators.AsOf
      .joinAsOfForward(back, ref, "user_id", "ts", "pv")
    val dBack = expr("unix_micros(ts) - unix_micros(asof_ts)")
    val dFwd = expr("unix_micros(asof_fwd_ts) - unix_micros(ts)")
    both
      .withColumn("near_pv",
        when(col("asof_ts").isNull, col("asof_fwd_pv"))
          .when(col("asof_fwd_ts").isNull, col("asof_pv"))
          .when(dBack <= dFwd, col("asof_pv"))
          .otherwise(col("asof_fwd_pv")))
      .withColumn("near_ts",
        when(col("asof_ts").isNull, col("asof_fwd_ts"))
          .when(col("asof_fwd_ts").isNull, col("asof_ts"))
          .when(dBack <= dFwd, col("asof_ts"))
          .otherwise(col("asof_fwd_ts")))
      .select(
        col("user_id"),
        col("event_id"),
        expr("unix_micros(ts)").as("ts_us"),
        col("near_pv"),
        expr("unix_micros(near_ts)").as("near_ts_us"))
  }

  private val joinAsofNearestSql =
    """WITH ref AS (
      |  SELECT user_id, ts, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |b AS (
      |  SELECT e.user_id, e.event_id, e.ts, r.pv AS bpv, r.ts AS bts
      |  FROM events e ASOF LEFT JOIN ref r
      |    ON e.user_id = r.user_id AND e.ts >= r.ts),
      |f AS (
      |  SELECT e.user_id, e.event_id, e.ts, r.pv AS fpv, r.ts AS fts
      |  FROM events e ASOF LEFT JOIN ref r
      |    ON e.user_id = r.user_id AND e.ts <= r.ts)
      |SELECT b.user_id, b.event_id, epoch_us(b.ts) AS ts_us,
      |  CASE WHEN bts IS NULL THEN fpv
      |       WHEN fts IS NULL THEN bpv
      |       WHEN epoch_us(b.ts) - epoch_us(bts)
      |            <= epoch_us(fts) - epoch_us(b.ts) THEN bpv
      |       ELSE fpv END AS near_pv,
      |  CASE WHEN bts IS NULL THEN epoch_us(fts)
      |       WHEN fts IS NULL THEN epoch_us(bts)
      |       WHEN epoch_us(b.ts) - epoch_us(bts)
      |            <= epoch_us(fts) - epoch_us(b.ts) THEN epoch_us(bts)
      |       ELSE epoch_us(fts) END AS near_ts_us
      |FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id""".stripMargin

  /** qcut — equal-frequency quantile binning (cudf.qcut / pandas qcut)
    * in the rank-based formulation: ntile(4) over a TOTAL per-group
    * order. Rank-based rather than value-boundary-based because ntile
    * is integer-exact in both engines, while comparing rows against
    * interpolated quantile boundaries can flip a boundary row on a
    * last-ulp difference. `o_orderpriority` is a 5-value key, so the
    * ranking goes through GlobalOrder.groupedRowNumber's
    * range-partitioned numbering (a plain bounded-key Window would
    * funnel the SF-scaled orders table through 5 tasks) and the tile is
    * recomputed from (row number, group count) with the exact SQL ntile
    * formula; the 5-row group counts ride a broadcast join.
    */
  private def qcutBins(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalOrder
    val base = Tables
      .orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    // n rides the numbering scan's partials (r21) — the separate count
    // aggregate + broadcast join this used to pay are gone.
    GlobalOrder
      .groupedRowNumberWithCount(base, Seq("o_orderpriority"),
        Seq(col("o_totalprice"), col("o_orderkey")), "rn", "n")
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        col("o_totalprice"),
        GlobalOrder.ntileFromRowNumber(col("rn"), col("n"), 4).as("bin"))
  }

  private val qcutBinsSql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bin
      |FROM orders""".stripMargin

  /** Range join (graft.operators.RangeJoin, bucketed-interval shape):
    * lineitems whose ship date falls inside 14-day promotion windows
    * derived from a subset of orders. The oracle is the plain
    * inequality join — fine at oracle scale, quadratic at 100 TB, which
    * is exactly why the engine side buckets.
    */
  private def joinRange(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables
      .orders(s, dir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(
        col("o_orderkey").as("promo_id"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("start_d"),
        (datediff(col("o_orderdate"), lit("1992-01-01")) + 14).cast("long").as("end_d"))
    val probe = Tables
      .lineitem(s, dir)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        datediff(col("l_shipdate"), lit("1992-01-01")).cast("long").as("ship_d"))
    graft.operators.RangeJoin
      .joinRange(probe, iv, "ship_d", "start_d", "end_d", bucketWidth = 14L)
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_shipments"), min(col("ship_d")).as("first_ship_d"))
  }

  private val joinRangeSql =
    """WITH iv AS (
      |  SELECT o_orderkey AS promo_id,
      |    datediff('day', DATE '1992-01-01', o_orderdate) AS start_d,
      |    datediff('day', DATE '1992-01-01', o_orderdate) + 14 AS end_d
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |probe AS (
      |  SELECT l_orderkey, l_linenumber,
      |    datediff('day', DATE '1992-01-01', l_shipdate) AS ship_d
      |  FROM lineitem)
      |SELECT promo_id, count(*) AS n_shipments, min(ship_d) AS first_ship_d
      |FROM probe JOIN iv ON ship_d >= start_d AND ship_d < end_d
      |GROUP BY promo_id""".stripMargin

  /** CDC upsert — the insert-or-update refresh a periodically re-crawled
    * snapshot needs (pandas/cudf `DataFrame.update` generalized to also
    * insert unmatched rows, ref python/cudf/cudf/core/dataframe.py:2671).
    * The delta batch is derived deterministically from orders itself:
    * every orderkey%10==0 row re-priced ×1.1 (updates) plus a disjoint
    * negated-key slice (inserts). Matched base rows are replaced, the
    * rest stream through, inserts append.
    *
    * Scale shape: the delta is broadcast, so the big base side anti-joins
    * MAP-SIDE — zero shuffle, zero sort of the snapshot — then the delta
    * unions on top. At 100 TB this is the whole point: a daily refresh
    * touches the snapshot once, sequentially, with no exchange; combined
    * with [[LlmOps.dedupIncrementalLsh]]'s persisted index it completes
    * the ingest-day story (upsert the rows, delta-query the index).
    */
  private def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = base
      .filter(col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"))
    val inserts = base
      .filter(col("o_orderkey") % 10 === 5)
      .select(
        (-col("o_orderkey")).as("o_orderkey"),
        lit("N").as("o_orderstatus"),
        col("o_totalprice"))
    val delta = updates.unionByName(inserts)
    base
      .join(broadcast(delta.select(col("o_orderkey"))), Seq("o_orderkey"), "left_anti")
      .unionByName(delta)
  }

  private val mergeUpsertSql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |delta AS (
      |  SELECT o_orderkey, 'U' AS o_orderstatus,
      |    o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
      |  FROM base WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT -o_orderkey, 'N', o_totalprice
      |  FROM base WHERE o_orderkey % 10 = 5)
      |SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
      |FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = b.o_orderkey)
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_totalprice FROM delta""".stripMargin

  /** Slowly-changing-dimension Type 2 history build (the warehouse twin
    * of `merge_upsert`'s CDC apply): compress a change log into validity
    * intervals — one row per (key, attribute-run) with valid_from /
    * valid_to / version / is_current. The change log here is each
    * customer's order-priority over time (one change event per
    * customer-day, ties broken by highest order key).
    *
    * Scale shape: two exchanges total — the per-day dedup partitions
    * by (key, day) with WindowGroupLimit pushing the top-1 partially
    * BEFORE the exchange (map-side, so the shuffle ships at most one
    * row per key-day), then ONE key-partitioned exchange serves both
    * interval windows (lead + row_number share a Window op). The
    * change-point filter (attr ≠ lag(attr)) collapses the frame before
    * interval assembly. At 100 TB this is the standard
    * log-to-dimension compaction: key-partitioned, no self-join, no
    * driver state.
    */
  private def scd2History(s: SparkSession, dir: String): DataFrame = {
    val byDay = Window
      .partitionBy(col("o_custkey"), col("d"))
      .orderBy(col("o_orderkey").desc)
    val byKey = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
    Tables
      .orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate").cast(DateType).as("d"),
        col("o_orderpriority").as("attr"), col("o_orderkey"))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") === 1)
      .withColumn("prev", lag(col("attr"), 1).over(byKey))
      .filter(col("prev").isNull || col("attr") =!= col("prev"))
      .select(col("o_custkey"), col("attr"), col("d").as("valid_from"))
      // open-ended rows carry the conventional SCD2 high sentinel
      // (9999-12-31) rather than NULL: the point-in-time probe becomes
      // a pure BETWEEN — no null branch in the hot predicate
      .withColumn("valid_to",
        coalesce(
          lead(col("valid_from"), 1).over(
            Window.partitionBy(col("o_custkey")).orderBy(col("valid_from"))),
          lit("9999-12-31").cast(DateType)))
      .withColumn("version",
        row_number().over(
          Window.partitionBy(col("o_custkey")).orderBy(col("valid_from"))))
      .withColumn("is_current",
        when(col("valid_to") === lit("9999-12-31").cast(DateType), lit(1))
          .otherwise(lit(0)))
  }

  private val scd2HistorySql =
    """WITH log AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
      |    o_orderpriority AS attr,
      |    row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
      |      ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |changes AS (
      |  SELECT o_custkey, d, attr,
      |    lag(attr) OVER (PARTITION BY o_custkey ORDER BY d) AS prev
      |  FROM log WHERE rn = 1),
      |runs AS (
      |  SELECT o_custkey, attr, d AS valid_from
      |  FROM changes WHERE prev IS NULL OR attr <> prev)
      |SELECT o_custkey, attr, valid_from,
      |  coalesce(lead(valid_from) OVER w, DATE '9999-12-31') AS valid_to,
      |  CAST(row_number() OVER w AS INTEGER) AS version,
      |  CASE WHEN lead(valid_from) OVER w IS NULL THEN 1 ELSE 0 END
      |    AS is_current
      |FROM runs
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)""".stripMargin

  /** point-in-time enrichment join (the feature-store correctness
    * primitive: an observation must see the dimension attribute that
    * was valid AT its timestamp — never a later one, or the model
    * trains on leaked future state): each event joined to the SCD2
    * history on key + [valid_from, valid_to) containment, then
    * collapsed to per-attribute counts.
    *
    * Scale shape: a key-equi join with an interval residual — because
    * the SCD2 intervals PARTITION each key's timeline, every probe row
    * matches at most one dimension row, so the join never amplifies;
    * the dimension is orders-of-magnitude smaller than the fact stream
    * (broadcast it when it fits, shuffle on key otherwise — here the
    * optimizer picks from stats). Left join keeps observations that
    * precede their key's first change (null attribute bucket).
    */
  private def joinPointInTime(s: SparkSession, dir: String): DataFrame = {
    val dim = scd2History(s, dir)
      .select(col("o_custkey"), col("attr"),
        col("valid_from"), col("valid_to"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast(DateType).as("d"))
      .join(dim,
        col("user_id") === col("o_custkey") &&
          col("d") >= col("valid_from") && col("d") < col("valid_to"),
        "left")
      .groupBy(col("attr"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  private val joinPointInTimeSql =
    """WITH log AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
      |    o_orderpriority AS attr,
      |    row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
      |      ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |changes AS (
      |  SELECT o_custkey, d, attr,
      |    lag(attr) OVER (PARTITION BY o_custkey ORDER BY d) AS prev
      |  FROM log WHERE rn = 1),
      |runs AS (
      |  SELECT o_custkey, attr, d AS valid_from
      |  FROM changes WHERE prev IS NULL OR attr <> prev),
      |dim AS (
      |  SELECT o_custkey, attr, valid_from,
      |    coalesce(lead(valid_from) OVER (PARTITION BY o_custkey
      |      ORDER BY valid_from), DATE '9999-12-31') AS valid_to
      |  FROM runs)
      |SELECT attr, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users
      |FROM (SELECT user_id, CAST(ts AS DATE) AS d FROM events) e
      |LEFT JOIN dim ON user_id = o_custkey
      |  AND d >= valid_from AND d < valid_to
      |GROUP BY attr""".stripMargin

  def queries: Map[String, Q] = Map(
    "scd2_history" -> Q(scd2History _, scd2HistorySql).tag(Headline, Basis),
    "join_point_in_time" -> Q(joinPointInTime _, joinPointInTimeSql),
    "join_asof" -> Q(joinAsof _, joinAsofSql).tag(Headline, Basis),
    "join_asof_fwd" -> Q(joinAsofFwd _, joinAsofFwdSql),
    "join_asof_nearest" -> Q(joinAsofNearest _, joinAsofNearestSql),
    "join_asof_tolerance" -> Q(joinAsofTol _, joinAsofTolSql),
    "qcut_bins" -> Q(qcutBins _, qcutBinsSql).tag(Headline, Basis, Sweep),
    "join_range" -> Q(joinRange _, joinRangeSql),
    "filter_project" -> Q(filterProject _, filterProjectSql),
    "drop_nulls" -> Q(dropNulls _, dropNullsSql),
    "copy_if_else" -> Q(copyIfElse _, copyIfElseSql),
    "slice_offset_limit" -> Q(sliceOffsetLimit _, sliceOffsetLimitSql),
    "slice_stride" -> Q(sliceStride _, sliceStrideSql).tag(Sweep),
    "group_head_tail" -> Q(groupHeadTail _, groupHeadTailSql).tag(Sweep),
    "sequence_range" -> Q((s, _) => sequenceRange(s), sequenceRangeSql),
    "repeat_rows" -> Q(repeatRows _, repeatRowsSql),
    "tile_rows" -> Q(tileRows _, tileRowsSql),
    "join_inner" -> Q(joinInner _, joinInnerSql),
    "join_left" -> Q(joinLeft _, joinLeftSql),
    "join_full" -> Q(joinFull _, joinFullSql),
    "join_semi" -> Q(joinSemi _, joinSemiSql),
    "join_anti" -> Q(joinAnti _, joinAntiSql),
    "join_cross" -> Q(joinCross _, joinCrossSql),
    "join_theta" -> Q(joinTheta _, joinThetaSql),
    "join_mixed" -> Q(joinMixed _, joinMixedSql),
    "join_null_safe" -> Q(joinNullSafe _, joinNullSafeSql),
    "join_merge_indicator" -> Q(joinMergeIndicator _, joinMergeIndicatorSql),
    "join_bucketed" -> Q(joinBucketed _, joinBucketedSql).tag(Headline, Basis),
    "merge_upsert" -> Q(mergeUpsert _, mergeUpsertSql).tag(Headline, Basis),
    "join_skew_salted" -> Q(joinSkewSalted _, joinSkewSaltedSql).tag(Headline, Basis, Sweep),
    "sort_rank_nulls" -> Q(sortRankNulls _, sortRankNullsSql),
    "top_k" -> Q(topK _, topKSql),
    "quantile_points" -> Q(quantilePoints _, quantilePointsSql),
    "union_all" -> Q(unionAll _, unionAllSql),
    "intersect_keys" -> Q(intersectKeys _, intersectKeysSql),
    "except_keys" -> Q(exceptKeys _, exceptKeysSql),
    "distinct_rows" -> Q(distinctRows _, distinctRowsSql),
    "dedup_keep_first" -> Q(dedupKeepFirst _, dedupKeepFirstSql),
    "dedup_keep_none" -> Q(dedupKeepNone _, dedupKeepNoneSql),
    "explode_pos" -> Q(explodePos _, explodePosSql),
    "explode_outer" -> Q(explodeOuter _, explodeOuterSql),
    "melt_unpivot" -> Q(meltUnpivot _, meltUnpivotSql),
    "pivot_wide" -> Q(pivotWide _, pivotWideSql),
    "one_hot" -> Q(oneHot _, oneHotSql),
    "cut_bins" -> Q(cutBins _, cutBinsSql)
  )
}
