package graft.queries

import graft.{Agg, Q, Tables}
import graft.Tag.{Basis, Headline, Sweep}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** NDS-H (TPC-H-derived) queries — all 22 ported.
  *
  * Semantics follow the reference benchmark definitions
  * (`cpp/benchmarks/ndsh/q01.cpp:31-53`, `q05.cpp:29-62`, `q06.cpp:30-43`,
  * `q09.cpp:57-95`, `q10.cpp:29-63`; remaining queries from the public
  * TPC-H spec), adapted to the driver testdata:
  *   - date ranges shifted into the generated 1995-2001 window;
  *   - no `partsupp` table → q9's supply cost term uses
  *     `p_retailprice * 0.1` per unit; q2/q11/q16/q20 derive the
  *     part–supplier relationship from lineitem instead (q2's supply
  *     cost = min unit price shipped; q11's stock value = revenue per
  *     part; q16's pairs = distinct (partkey, suppkey); q20's availqty
  *     threshold = relative to the largest shipper);
  *   - q9's `p_name like '%green%'` → `'%red%'` (generator's color vocab);
  *   - no o_shippriority / l_shipmode / c_phone / comment columns →
  *     o_orderpriority and c_mktsegment stand in (q3/q12/q13/q22),
  *     q16's complaint suppliers → negative account balance, and
  *     "late" = shipped >60 days after the order date (q4/q21 — no
  *     l_receiptdate/commitdate in the testdata);
  *   - q10 keeps only the customer columns that exist here.
  *
  * All double sums go through the exact-decimal policy in [[graft.Agg]] so
  * results hash-match the DuckDB oracle bit-for-bit.
  */
object Ndsh {
  import Agg._

  private def ts(s: String): Column = lit(s).cast(TimestampType)

  def q1(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= ts("2000-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("sum_disc_price"),
        dsum(
          col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")), 6
        ).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
       |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_extendedprice")} AS avg_price,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def q5(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    // Join order: big-to-big (lineitem⋈orders) shuffles once on orderkey.
    // customer/supplier SCALE with SF, so no forced broadcast hint — a
    // hint is honored regardless of size and would OOM the build side at
    // 100 TB; AQE still auto-broadcasts them below the size threshold.
    // nation/region are FIXED cardinality (25/5 rows) → hint is safe.
    o.filter(
        col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-01-01 00:00:00"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey"))
      .join(
        s,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(r.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
      .orderBy(col("revenue").desc)
  }

  val q5Sql: String =
    s"""SELECT n_name,
       |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name ORDER BY revenue DESC""".stripMargin

  def q6(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(
        dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"))
  }

  val q6Sql: String =
    s"""SELECT ${dsumSql("l_extendedprice * l_discount", 6)} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  def q9(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val s = Tables.supplier(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val n = Tables.nation(spark, dir)
    // part/supplier scale with SF: no forced broadcast (see q5 note).
    l.join(p.filter(col("p_name").like("%red%")),
        col("p_partkey") === col("l_partkey"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("p_retailprice") * lit(0.1) * col("l_quantity")).as("amount"))
      .groupBy(col("nation"), col("o_year"))
      .agg(dsum(col("amount"), 6).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Sql: String =
    s"""SELECT nation, o_year, ${dsumSql("amount", 6)} AS sum_profit
       |FROM (
       |  SELECT n_name AS nation,
       |    CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       |    l_extendedprice * (1 - l_discount)
       |      - p_retailprice * 0.1 * l_quantity AS amount
       |  FROM part, supplier, lineitem, orders, nation
       |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
       |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
       |    AND p_name LIKE '%red%'
       |) AS profit
       |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin

  def q10(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val n = Tables.nation(spark, dir)
    l.filter(col("l_returnflag") === "R")
      .join(
        o.filter(
          col("o_orderdate") >= ts("1996-10-01 00:00:00") &&
            col("o_orderdate") < ts("1997-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey"))  // scales with SF
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name,
       |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
       |  c_acctbal, n_name
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q3 (shipping priority; `q03` in the reference set), adapted: the
    * testdata has no o_shippriority, so the order's priority column
    * rides along instead. Orders filter before the big join; top-10 via
    * a total (revenue desc, orderkey) order → TakeOrderedAndProject.
    */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.filter(col("l_shipdate") > ts("1996-07-01 00:00:00"))
      .join(
        o.filter(col("o_orderdate") < ts("1996-07-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(c.filter(col("c_mktsegment") === "BUILDING"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast(DateType).as("o_date"),
        col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_orderpriority,
       |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
       |  AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
       |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q4 (order priority checking), adapted: no l_commitdate/receiptdate
    * in the testdata, so "late" means shipped more than 60 days after
    * the order date. The EXISTS is a left-semi join — build side stays
    * the filtered orders quarter, probe is lineitem; no row explosion.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    o.filter(
        col("o_orderdate") >= ts("1996-07-01 00:00:00") &&
          col("o_orderdate") < ts("1996-10-01 00:00:00"))
      .join(
        l,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q12 (shipping modes / priority classes), adapted: no l_shipmode
    * column, so lines group by l_linestatus and the CASE buckets count
    * critical (1-URGENT/2-HIGH) vs other order priorities — the same
    * conditional-count shape as the reference query, integer-exact.
    */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** q14 (promo revenue %): ratio of two exact fixed-point sums; the
    * final 100·num/den division and 6dp round are performed with the
    * identical operand order in both engines, so the double result is
    * bit-identical.
    */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.filter(
        col("l_shipdate") >= ts("1996-09-01 00:00:00") &&
          col("l_shipdate") < ts("1996-10-01 00:00:00"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)), 6)
          .as("promo_rev"),
        dsum(disc, 6).as("total_rev"))
      .select(
        round(lit(100) * col("promo_rev") / col("total_rev"), 6)
          .as("promo_revenue_pct"))
  }

  val q14Sql: String =
    s"""SELECT round(100 * promo_rev / total_rev, 6) AS promo_revenue_pct
       |FROM (
       |  SELECT
       |    ${dsumSql(
      "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
      6)} AS promo_rev,
       |    ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS total_rev
       |  FROM lineitem, part
       |  WHERE l_partkey = p_partkey
       |    AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')""".stripMargin

  /** q18 (large-volume orders): the per-order quantity aggregation runs
    * ONCE (exact fixed-point sum), filters on the exact value, and the
    * surviving keys join orders/customer — no re-aggregation after the
    * join. Top-100 by a total (totalprice desc, orderkey) order.
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val big = l
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    big
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("o_date"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18Sql: String =
    s"""SELECT c_custkey, c_name, o_orderkey,
       |  CAST(o_orderdate AS DATE) AS o_date, o_totalprice, sum_qty
       |FROM (
       |  SELECT l_orderkey, ${dsumSql("l_quantity")} AS sum_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING ${dsumSql("l_quantity")} > 300) big
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** q7 (volume shipping between two nations): the (supplier nation,
    * customer nation) pair filter lands before the aggregation; nation
    * is fixed-cardinality → both sides broadcast-hinted safely.
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    l.filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Sql: String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${dsumSql("volume", 6)} AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
       |    l_extendedprice * (1 - l_discount) AS volume
       |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
       |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
       |    AND c_nationkey = n2.n_nationkey
       |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q8 (national market share): NATION_2's share of ASIA-region
    * revenue for one part type per order year — the ratio-of-exact-sums
    * pattern (q14): both sums ride one aggregation, and the final
    * division + 6dp round use identical operand order in both engines.
    */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val s = Tables.supplier(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.join(p.filter(col("p_type") === "PROMO"),
        col("p_partkey") === col("l_partkey"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .join(
        o.filter(
          col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1998-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_2", vol).otherwise(lit(0.0)), 6)
          .as("nation_volume"),
        dsum(vol, 6).as("total_volume"))
      .select(col("o_year"),
        round(col("nation_volume") / col("total_volume"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8Sql: String =
    s"""SELECT o_year, round(nation_volume / total_volume, 6) AS mkt_share
       |FROM (
       |  SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       |    ${dsumSql(
      "CASE WHEN n2.n_name = 'NATION_2' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
      6)} AS nation_volume,
       |    ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS total_volume
       |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
       |    region
       |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
       |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
       |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
       |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
       |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |    AND p_type = 'PROMO'
       |  GROUP BY CAST(extract(year FROM o_orderdate) AS INT)) shares
       |ORDER BY o_year""".stripMargin

  /** q13 (customer order-count distribution): left join so customers
    * with zero orders count, two integer-exact aggregations.
    */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q15 (top supplier): quarter revenue per supplier; winners are the
    * suppliers whose exact fixed-point revenue equals the exact maximum
    * (double equality is safe — both values derive from the same BIGINT
    * sums in both engines).
    */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val rev = l
      .filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1996-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
        .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev
      .crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier, revenue
       |WHERE s_suppkey = supplier_no
       |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** q17 (small-quantity orders): lineitems of one brand below 20% of
    * that part's average quantity; the per-part average is one exact
    * grouped aggregation joined back (no correlated re-scan), and the
    * 0.2·avg threshold is computed with identical operand order in both
    * engines.
    */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val avgQ = l
      .groupBy(col("l_partkey").as("avg_pk"))
      .agg(davg(col("l_quantity")).as("avg_qty"))
    l.join(p.filter(col("p_brand") === "Brand#23"),
        col("p_partkey") === col("l_partkey"))
      .join(avgQ, col("l_partkey") === col("avg_pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(dsum(col("l_extendedprice"), 6) / lit(7.0), 6)
        .as("avg_yearly"))
  }

  val q17Sql: String =
    s"""SELECT round(${dsumSql("l_extendedprice", 6)} / 7.0, 6) AS avg_yearly
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |JOIN (
       |  SELECT l_partkey AS avg_pk, ${davgSql("l_quantity")} AS avg_qty
       |  FROM lineitem GROUP BY l_partkey) pa ON l_partkey = avg_pk
       |WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty""".stripMargin

  /** q19 (disjunctive brand/size/quantity predicates): one scan of each
    * table, the OR-of-conjuncts evaluated post-join on the equi-key —
    * Catalyst pushes the common p/l conjunct bounds into both scans.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(p, col("p_partkey") === col("l_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
            col("l_quantity") >= 20 && col("l_quantity") <= 30))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
        .as("revenue"))
  }

  val q19Sql: String =
    s"""SELECT ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity >= 1 AND l_quantity <= 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       |       AND l_quantity >= 10 AND l_quantity <= 20)
       |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin

  /** q22 (global sales opportunity), adapted: no c_phone → the segment
    * column stands in for the country code, and "never ordered" becomes
    * "dormant since 2000" (every testdata customer has some order).
    * Customers above the average positive balance with no recent order
    * (anti join against the filtered window); the scalar average stays
    * IN-PLAN (1-row broadcast cross join) so both engines compare
    * against the bit-identical exact value.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val avgBal = c
      .filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(
        o.filter(col("o_orderdate") >= ts("2000-01-01 00:00:00")),
        col("o_custkey") === col("c_custkey"),
        "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val q22Sql: String =
    s"""SELECT c_mktsegment, count(*) AS numcust,
       |  ${dsumSql("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > (
       |    SELECT ${davgSql("c_acctbal")} FROM customer WHERE c_acctbal > 0.0)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey
       |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q2 (minimum-cost supplier), adapted: no partsupp table, so the
    * part–supplier catalog is derived from lineitem — supplier s offers
    * part p at cost min(l_extendedprice / l_quantity) over the lines it
    * shipped (unit-price floor; the division is the same IEEE op in both
    * engines, and min over identical sets picks the identical double).
    * Part filter p_size = 15 / p_type = 'STANDARD' (the generator has no
    * '%BRASS' vocab); supplier scope region EUROPE. The spec's correlated
    * min-cost subquery becomes a per-part min over the SAME region+part
    * filtered set, joined back on (partkey, cost equality).
    *
    * Scale: the only wide shuffle is lineitem's (partkey, suppkey)
    * group-by (map-side combined); parts, suppliers, and the per-part min
    * table are all dimension-bounded and broadcast.
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val pf = Tables
      .part(spark, dir)
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_brand"))
    val sup = Tables
      .supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    // Both dimension filters are pushed BELOW the (partkey, suppkey)
    // group-by: the per-pair min is independent per pair, so dropping
    // non-qualifying parts/suppliers first is semantics-preserving and
    // shrinks the only wide shuffle by the part selectivity (~1/300
    // here) — the difference between shuffling 100 TB and 300 GB. The
    // shuffle key stays the compact (partkey, suppkey) pair; dimension
    // attributes re-attach by broadcast after the aggregate.
    val cost = Tables
      .lineitem(spark, dir)
      .join(pf.select(col("p_partkey")),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .join(sup.select(col("s_suppkey")),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("supply_cost"))
    val base = cost
      .join(pf, col("p_partkey") === col("l_partkey"))
      .join(sup, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("supply_cost"))
    // Per-part minimum as a window over the SF-scaled partkey (r21):
    // the aggregate-then-self-join form re-joined base with its own
    // rollup — one more exchange + join than the same filter expressed
    // as min() OVER (PARTITION BY p_partkey), whose per-key frames are
    // bounded by suppliers-per-part. Identical rows survive (same min,
    // same equality). The part/supplier dim attaches stay UNHINTED per
    // the SCALING.md policy — they are SF-scaled, so AQE broadcasts
    // them below the threshold and shuffle-joins beyond it.
    base
      .withColumn("min_cost", min(col("supply_cost")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))))
      .filter(col("supply_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  val q2Sql: String =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(l_extendedprice / l_quantity) AS supply_cost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |base AS (
      |  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
      |  FROM cost
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'),
      |mc AS (
      |  SELECT p_partkey AS mc_pk, min(supply_cost) AS min_cost
      |  FROM base GROUP BY p_partkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
      |FROM base JOIN mc ON p_partkey = mc_pk AND supply_cost = min_cost
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  /** q11 (important stock), adapted: partsupp value → per-part revenue
    * sum over lines shipped by ASIA-region suppliers, and the spec's
    * sf-dependent `0.0001 / SF` fraction becomes a scale-invariant
    * threshold: value > 2 × the average per-part value. Both the total
    * and the per-part values come from the SAME fixed-point long sums
    * ([[Agg.dsum]]), so the threshold comparison is bit-identical — the
    * scalar stays in-plan as a 1-row broadcast (q22 style), never a
    * collected driver constant.
    *
    * Scale: one shuffle (partkey group-by, map-side combined) plus a
    * 1-row scalar aggregate; the supplier→nation→region dimension chain
    * is broadcast into the lineitem scan.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables
      .supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val base = Tables
      .lineitem(spark, dir)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("v"))
    // One scan of the fact join: the per-part fixed-point longs roll up
    // into the global threshold EXACTLY (long sums are associative —
    // sum of per-part sums = the oracle's global sum over base), so the
    // scalar derives from the small per-part aggregate instead of a
    // second pass over lineitem.
    val p = math.pow(10, 6)
    val vals = base
      .groupBy(col("l_partkey"))
      .agg(sum(floor(col("v") * lit(p)).cast("long")).as("vlong"))
    val thr = vals.agg(
      (sum(col("vlong")).cast(DoubleType) / lit(p) / count(lit(1)))
        .as("avg_value"))
    vals
      .select(col("l_partkey"),
        (col("vlong").cast(DoubleType) / lit(p)).as("value"))
      .crossJoin(broadcast(thr))
      .filter(col("value") > lit(2.0) * col("avg_value"))
      .select(col("l_partkey"), col("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  val q11Sql: String =
    s"""WITH base AS (
       |  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS v
       |  FROM lineitem
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN nation ON n_nationkey = s_nationkey
       |  JOIN region ON r_regionkey = n_regionkey
       |  WHERE r_name = 'ASIA'),
       |vals AS (
       |  SELECT l_partkey, ${dsumSql("v", 6)} AS value
       |  FROM base GROUP BY l_partkey),
       |thr AS (
       |  SELECT ${dsumSql("v", 6)} / count(DISTINCT l_partkey) AS avg_value
       |  FROM base)
       |SELECT l_partkey, value FROM vals, thr
       |WHERE value > 2.0 * avg_value
       |ORDER BY value DESC, l_partkey""".stripMargin

  /** q16 (part/supplier relationship), adapted: the part–supplier pairs
    * are the distinct lineitem (partkey, suppkey) combinations, and the
    * spec's complaint-comment suppliers (no comment column here) become
    * the negative-balance ones — excluded with a left-anti join, the
    * NOT IN shape. Counts are integers, so no fixed-point policy needed.
    *
    * Scale: the pair-distinct and the count-distinct both shuffle on
    * compact key tuples; part attributes and the bad-supplier set are
    * broadcast. No row explosion anywhere.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val pf = Tables
      .part(spark, dir)
      .filter(
        col("p_brand") =!= "Brand#5" &&
          !col("p_type").like("PROMO%") &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val bad = Tables
      .supplier(spark, dir)
      .filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    // The part filter (8 of 50 sizes × brand/type cuts ≈ 1/8 of rows)
    // and the bad-supplier anti join are pushed BELOW the pair-distinct:
    // distinct-of-filtered-pairs = filtered-distinct-pairs, and the
    // distinct's shuffle shrinks by the filter selectivity. The part
    // attributes ride along — functionally dependent on the partkey, so
    // the distinct's cardinality is unchanged.
    Tables
      .lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(pf, col("p_partkey") === col("l_partkey"))
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .select(col("l_suppkey"), col("p_brand"), col("p_type"), col("p_size"))
      .distinct()
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q20 (potential part promotion), adapted: no ps_availqty, so a
    * supplier qualifies when its 1996 shipped quantity of 'red%' parts
    * exceeds a quarter of the LARGEST such per-supplier quantity — a
    * relative threshold that stays meaningful at every scale factor
    * (the spec's absolute `0.5 * availqty` has no twin here). The
    * nested IN chain is preserved: parts IN the name class, suppliers
    * IN the heavy-shipper set (left-semi), region filter on top.
    *
    * Scale: one suppkey group-by on the year+part filtered lines; the
    * max is a 1-row in-plan broadcast; everything else is a broadcast
    * dimension or a left-semi against the 100-row supplier table.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val red = Tables
      .part(spark, dir)
      .filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val shipped = Tables
      .lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00"))
      .join(red, col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("qty"))
    val mx = shipped.agg(max(col("qty")).as("max_qty"))
    val qualified = shipped
      .crossJoin(broadcast(mx))
      .filter(col("qty") > lit(0.25) * col("max_qty"))
      .select(col("l_suppkey"))
    Tables
      .supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(
          Tables.region(spark, dir).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val q20Sql: String =
    s"""WITH shipped AS (
       |  SELECT l_suppkey, ${dsumSql("l_quantity")} AS qty
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  WHERE p_name LIKE 'red%'
       |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  GROUP BY l_suppkey),
       |mx AS (SELECT max(qty) AS max_qty FROM shipped)
       |SELECT s_name, s_acctbal
       |FROM supplier
       |JOIN nation ON n_nationkey = s_nationkey
       |JOIN region ON r_regionkey = n_regionkey
       |WHERE r_name = 'AMERICA'
       |  AND s_suppkey IN (
       |    SELECT l_suppkey FROM shipped, mx WHERE qty > 0.25 * max_qty)
       |ORDER BY s_name""".stripMargin

  /** q21 (suppliers who kept orders waiting), adapted: "late" = shipped
    * more than 60 days after the order date (q4's definition — the
    * testdata has no receipt/commit dates), and the supplier scope is
    * region EUROPE instead of a single nation (4 suppliers per nation
    * here). The spec's EXISTS / NOT EXISTS pair over other suppliers'
    * lines become a left-semi and a left-anti join against the same
    * F-order line set, both equi-keyed on the order key with the
    * supplier-inequality as the residual condition — no row explosion,
    * and the count grain stays the late LINE (per the spec), not the
    * order.
    *
    * Scale: lines join orders on the orderkey exchange once, and the
    * semi/anti probes reuse that same key — three shuffles total on
    * compact (orderkey, suppkey) pairs, dimensions broadcast.
    */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lo = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAY"))
    // Decorrelated: the EXISTS pair collapses into per-order supplier
    // sets computed as window aggregates riding ONE orderkey exchange
    // (a naive semi+anti-join form re-joins lineitem⋈orders three
    // times; a groupBy-stats form still scans the fact join twice).
    //   EXISTS another supplier's line  ⇔ |suppliers on order| >= 2
    //   NOT EXISTS another late supplier ⇔ |late suppliers| = 1
    //   (l1's own supplier is in both sets, so the thresholds are
    //   exact; sets are bounded by lines-per-order, single digits)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
    val supEur = Tables
      .supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    // Both supplier sets in ONE select (r21): the withColumn chain put
    // a Project between two same-spec Window ops, defeating
    // CollapseWindow — two Window passes over the one sorted exchange
    // where one suffices. supEur stays UNHINTED (SCALING.md policy:
    // supplier is SF-scaled, so AQE broadcasts it below the threshold
    // and shuffle-joins beyond — at bench SF the runtime plan is the
    // broadcast join either way).
    lo.select(col("*"),
        size(collect_set(col("l_suppkey")).over(w)).as("n_supps"),
        size(collect_set(when(col("is_late"), col("l_suppkey"))).over(w))
          .as("n_late_supps"))
      .filter(col("is_late") && col("n_supps") >= 2 &&
        col("n_late_supps") === 1)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(supEur, col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |WHERE o_orderstatus = 'F' AND r_name = 'EUROPE'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  def queries: Map[String, Q] = Map(
    "ndsh_q1" -> Q(q1 _, q1Sql).tag(Headline, Basis, Sweep),
    "ndsh_q2" -> Q(q2 _, q2Sql).tag(Headline, Basis, Sweep),
    "ndsh_q11" -> Q(q11 _, q11Sql).tag(Headline, Basis, Sweep),
    "ndsh_q16" -> Q(q16 _, q16Sql).tag(Headline, Basis, Sweep),
    "ndsh_q20" -> Q(q20 _, q20Sql).tag(Headline, Basis, Sweep),
    "ndsh_q21" -> Q(q21 _, q21Sql).tag(Headline, Basis, Sweep),
    "ndsh_q7" -> Q(q7 _, q7Sql).tag(Headline, Basis, Sweep),
    "ndsh_q8" -> Q(q8 _, q8Sql).tag(Headline, Basis, Sweep),
    "ndsh_q13" -> Q(q13 _, q13Sql).tag(Headline, Basis, Sweep),
    "ndsh_q15" -> Q(q15 _, q15Sql).tag(Headline, Basis, Sweep),
    "ndsh_q17" -> Q(q17 _, q17Sql).tag(Headline, Basis, Sweep),
    "ndsh_q19" -> Q(q19 _, q19Sql).tag(Headline, Basis, Sweep),
    "ndsh_q22" -> Q(q22 _, q22Sql).tag(Headline, Basis, Sweep),
    "ndsh_q3" -> Q(q3 _, q3Sql).tag(Headline, Basis, Sweep),
    "ndsh_q4" -> Q(q4 _, q4Sql).tag(Headline, Basis, Sweep),
    "ndsh_q5" -> Q(q5 _, q5Sql).tag(Headline, Basis, Sweep),
    "ndsh_q6" -> Q(q6 _, q6Sql).tag(Headline, Basis, Sweep),
    "ndsh_q9" -> Q(q9 _, q9Sql).tag(Headline, Basis, Sweep),
    "ndsh_q10" -> Q(q10 _, q10Sql).tag(Headline, Basis, Sweep),
    "ndsh_q12" -> Q(q12 _, q12Sql).tag(Headline, Basis, Sweep),
    "ndsh_q14" -> Q(q14 _, q14Sql).tag(Headline, Basis, Sweep),
    "ndsh_q18" -> Q(q18 _, q18Sql).tag(Headline, Basis, Sweep)
  )
}
