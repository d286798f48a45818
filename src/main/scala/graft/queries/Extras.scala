package graft.queries

import graft.{Q, Tables}
import graft.Tag.{Basis, Headline, Sweep}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Remaining inventory items: k-way sorted merge (merge.hpp:104),
  * interleave_columns (reshape.hpp:53), crosstab (core/reshape.py:1398),
  * backward fill (replace_policy::FOLLOWING), MERGE_LISTS
  * (aggregation.hpp), sample (copying.hpp:848), reverse (copying.hpp:106).
  */
object Extras {

  /** sorted k-way merge: union of pre-sorted slices, re-ordered on the
    * merge key (Spark SMJ exploits existing order where it can).
    */
  private def mergeSorted(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val parts = Seq("F", "O", "P").map(st =>
      o.filter(col("o_orderstatus") === st)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
    parts.reduce(_ unionByName _).orderBy(col("o_orderkey"))
  }

  private val mergeSortedSql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_orderstatus IN ('F', 'O', 'P')
      |ORDER BY o_orderkey""".stripMargin

  /** interleave_columns: row-wise interleave of N columns into one. */
  private def interleave(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .select(
        col("c_custkey"),
        posexplode(array(col("c_acctbal"), col("c_nationkey").cast(DoubleType),
          col("c_custkey").cast(DoubleType))).as(Seq("src_col", "val")))

  private val interleaveSql =
    """SELECT c_custkey, u.i - 1 AS src_col,
      |  ([c_acctbal, CAST(c_nationkey AS DOUBLE), CAST(c_custkey AS DOUBLE)])[u.i]
      |    AS val
      |FROM customer, unnest(range(1, 4)) AS u(i)""".stripMargin

  /** crosstab: counts contingency table (returnflag × linestatus). */
  private def crosstabCounts(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .na.fill(0)

  private val crosstabCountsSql =
    """SELECT l_returnflag,
      |  coalesce(count(*) FILTER (l_linestatus = 'F'), 0) AS F,
      |  coalesce(count(*) FILTER (l_linestatus = 'O'), 0) AS O
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** group-wise backward fill (groupby::replace_nulls FOLLOWING,
    * replace_policy) via first(ignoreNulls) over the following frame.
    */
  private def groupBfill(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(0, Window.unboundedFollowing)
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
        first(col("v"), ignoreNulls = true).over(w).as("v_bfill"))
  }

  private val groupBfillSql =
    """SELECT user_id, event_id, v,
      |  first_value(v IGNORE NULLS) OVER w AS v_bfill
      |FROM (SELECT user_id, event_id, ts,
      |        CASE WHEN value < 30 THEN NULL ELSE value END AS v
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
      |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""".stripMargin

  /** MERGE_LISTS / MERGE_SETS: per-order token lists merged across a
    * two-level aggregation (partial lists → flatten → final).
    */
  private def mergeLists(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .filter(col("l_orderkey") < 200)
      .groupBy(col("l_orderkey"), col("l_returnflag"))
      .agg(collect_list(col("l_linenumber")).as("part_lists"))
      .groupBy(col("l_orderkey"))
      .agg(
        graft.ArrCanon.joined(
          sort_array(flatten(collect_list(col("part_lists"))))).as("merged_list"),
        graft.ArrCanon.joined(
          sort_array(array_distinct(flatten(collect_list(col("part_lists"))))))
          .as("merged_set"))

  private val mergeListsSql =
    s"""SELECT l_orderkey,
      |  ${graft.ArrCanon.joinedSql("list_sort(flatten(list(part_lists)))")} AS merged_list,
      |  ${graft.ArrCanon.joinedSql("list_sort(list_distinct(flatten(list(part_lists))))")} AS merged_set
      |FROM (SELECT l_orderkey, l_returnflag,
      |        list(l_linenumber) AS part_lists
      |      FROM lineitem WHERE l_orderkey < 200
      |      GROUP BY l_orderkey, l_returnflag)
      |GROUP BY l_orderkey""".stripMargin

  /** sample (copying.hpp:848): seeded Bernoulli sample — engines use
    * different RNGs, so the oracle is rows-only; determinism within the
    * engine is what matters (asserted in spec).
    */
  private def sampleRows(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).sample(withReplacement = false, 0.1, seed = 42)

  /** Deterministic hash-based sample — the reproducible twin of
    * `sample_rows` and the shape a 100 TB pipeline actually wants: a
    * pure per-row predicate on a portable key hash (the Lehmer fold
    * both engines compute identically), so the sample is stable across
    * runs, engines, partitionings, and re-executions, with zero RNG
    * state. ~10% of orders.
    */
  private def sampleHashRows(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .filter(pmod(pmod(col("o_orderkey") * lit(48271L), lit(2147483647L)), lit(100)) < 10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private val sampleHashRowsSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE ((o_orderkey * 48271) % 2147483647) % 100 < 10""".stripMargin

  /** reverse (copying.hpp:106): last 100 rows in reverse key order. */
  private def reverseRows(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .orderBy(col("o_orderkey").desc)
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  private val reverseRowsSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey DESC LIMIT 100""".stripMargin

  /** extract_all_record (strings/extract.hpp:97) / findall (findall.hpp:63). */
  private def extractAll(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .filter(col("doc_id") < 300)
      .select(
        col("doc_id"),
        graft.ArrCanon.joined(
          regexp_extract_all(col("text"), lit("\\b[a-z]{5}\\b"), lit(0)))
          .as("five_letter_words"),
        size(regexp_extract_all(col("text"), lit("qu[a-z]+"), lit(0)))
          .as("n_qu_words"))

  private val extractAllSql =
    s"""SELECT doc_id,
      |  ${graft.ArrCanon.joinedSql("regexp_extract_all(text, '\\b[a-z]{5}\\b')")}
      |    AS five_letter_words,
      |  len(regexp_extract_all(text, 'qu[a-z]+')) AS n_qu_words
      |FROM documents WHERE doc_id < 300""".stripMargin

  /** distinct keep LAST (duplicate_keep_option::KEEP_LAST). */
  private def dedupKeepLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").desc, col("l_partkey").desc, col("l_suppkey").desc)
    Tables
      .lineitem(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
  }

  private val dedupKeepLastSql =
    """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
      |QUALIFY row_number() OVER (PARTITION BY l_orderkey
      |  ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC) = 1
      |""".stripMargin

  /** batch sessionization: session = cumsum of (gap > 5 min) per user —
    * the batch twin of streaming session windows (session_window).
    */
  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    Tables
      .events(s, dir)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .withColumn("new_sess",
        when(col("gap_us").isNull || col("gap_us") > 300000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        // integer µs, not a double division: IEEE double quotients are not
        // guaranteed bit-identical across engines (round-1 hash mismatch)
        (max(col("us")) - min(col("us"))).as("duration_us"))
  }

  private val sessionizeSql =
    """SELECT user_id, session_id, count(*) AS n_events,
      |  max(us) - min(us) AS duration_us
      |FROM (
      |  SELECT user_id, event_id, us,
      |    -- DuckDB sum(INT) over a window yields HUGEINT, which pandas
      |    -- renders as float64 ('1.0') and fails the strict hash compare
      |    -- against Spark's bigint '1'; pin the type explicitly.
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM (
      |    SELECT user_id, event_id, us,
      |      CASE WHEN gap_us IS NULL OR gap_us > 300000000 THEN 1 ELSE 0 END
      |        AS new_sess
      |    FROM (
      |      SELECT user_id, event_id, us,
      |        us - lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |          AS gap_us
      |      FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events))))
      |GROUP BY user_id, session_id""".stripMargin

  /** quantile interpolation modes (interpolation enum types.hpp:192:
    * LOWER/HIGHER/NEAREST/MIDPOINT vs LINEAR) via sorted-array indexing.
    */
  private def quantileModes(s: SparkSession, dir: String): DataFrame =
    Tables
      .supplier(s, dir)
      .groupBy(col("s_nationkey"))
      .agg(sort_array(collect_list(col("s_acctbal"))).as("v"), count(lit(1)).as("n"))
      .select(
        col("s_nationkey"),
        element_at(col("v"), (floor((col("n") - 1) * 0.25) + 1).cast(IntegerType))
          .as("q25_lower"),
        element_at(col("v"), (ceil((col("n") - 1) * 0.25) + 1).cast(IntegerType))
          .as("q25_higher"),
        element_at(col("v"), (round((col("n") - 1) * 0.25, 0) + 1).cast(IntegerType))
          .as("q25_nearest"),
        ((element_at(col("v"), (floor((col("n") - 1) * 0.25) + 1).cast(IntegerType)) +
          element_at(col("v"), (ceil((col("n") - 1) * 0.25) + 1).cast(IntegerType))) / 2)
          .as("q25_midpoint"))

  private val quantileModesSql =
    """SELECT s_nationkey,
      |  v[CAST(floor((n - 1) * 0.25) + 1 AS INT)] AS q25_lower,
      |  v[CAST(ceil((n - 1) * 0.25) + 1 AS INT)] AS q25_higher,
      |  v[CAST(round((n - 1) * 0.25, 0) + 1 AS INT)] AS q25_nearest,
      |  (v[CAST(floor((n - 1) * 0.25) + 1 AS INT)] +
      |   v[CAST(ceil((n - 1) * 0.25) + 1 AS INT)]) / 2 AS q25_midpoint
      |FROM (SELECT s_nationkey, list_sort(list(s_acctbal)) AS v,
      |        count(*) AS n
      |      FROM supplier GROUP BY s_nationkey)""".stripMargin

  /** MAD-based robust outlier report — the deequ/great-expectations
    * anomaly gate done right for skewed data: per o_orderpriority group,
    * median and median-absolute-deviation of o_totalprice (the skewed
    * sum-of-items column), and the count of rows beyond 2·MAD (~1.2%
    * of this corpus — the threshold constant is the gate's tunable;
    * the classic 3·1.4826·MAD ≈ 3σ-equivalent flags nothing on these
    * tails). Mean/stddev outlier rules break on heavy tails; the
    * median/MAD pair is the standard robust alternative. The whole
    * med/MAD/comparison chain runs on EXACT integer cents: prices are
    * half-up-quantized to cents once (the same IEEE `floor(x*100+0.5)`
    * expression in both engines), medians are taken over DOUBLED units
    * so the 0.5-interpolated midpoint of two longs is itself an integer
    * (exactly representable — cast back to long is lossless), and the
    * outlier test `ad > 2·MAD` becomes the pure long comparison
    * `ad2 > mad4` (ad2 = 2·ad_cents, mad4 = 4·MAD_cents). No float ever
    * enters a comparison, so a 1-ulp engine difference in percentile
    * interpolation cannot flip a boundary row at any SF. Three passes,
    * each aggregate 3 groups, med/mad ride broadcast joins back onto
    * the scan.
    */
  private def outlierMad(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("xc"))
    val med = li.groupBy(col("grp"))
      .agg(expr("CAST(percentile(xc * 2, 0.5D) AS BIGINT)").as("med2"))
    val wAd = li.join(broadcast(med), "grp")
      .withColumn("ad2", abs(col("xc") * 2 - col("med2")))
    val mad = wAd.groupBy(col("grp"))
      .agg(expr("CAST(percentile(ad2 * 2, 0.5D) AS BIGINT)").as("mad4"))
    wAd.join(broadcast(mad), "grp")
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("ad2") > col("mad4"), 1L).otherwise(0L)).as("n_outliers"),
        round(first(col("med2")) / 200.0, 6).as("med_6dp"),
        round(first(col("mad4")) / 400.0, 6).as("mad_6dp"))
      .select(col("grp"), col("n"), col("n_outliers"),
        col("med_6dp"), col("mad_6dp"),
        expr("(n_outliers * 1000000) div n").as("outlier_ppm"))
  }

  private val outlierMadSql =
    """WITH li AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS xc FROM orders),
      |med AS (
      |  SELECT grp, CAST(quantile_cont(xc * 2, 0.5) AS BIGINT) AS med2
      |  FROM li GROUP BY grp),
      |w AS (
      |  SELECT li.grp, xc, abs(xc * 2 - med2) AS ad2, med2
      |  FROM li JOIN med ON li.grp = med.grp),
      |mad AS (
      |  SELECT grp, CAST(quantile_cont(ad2 * 2, 0.5) AS BIGINT) AS mad4
      |  FROM w GROUP BY grp)
      |SELECT w.grp, count(*) AS n,
      |  CAST(sum(CASE WHEN ad2 > mad4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  round(first(med2) / 200.0, 6) AS med_6dp,
      |  round(first(mad4) / 400.0, 6) AS mad_6dp,
      |  (CAST(sum(CASE WHEN ad2 > mad4 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000) // count(*) AS outlier_ppm
      |FROM w JOIN mad ON w.grp = mad.grp
      |GROUP BY w.grp""".stripMargin

  /** Winsorized cleaning report — clip o_totalprice to its per-group
    * [p01, p99] band, the standard robust pre-processing for
    * heavy-tailed money columns before any mean-based statistic.
    * Bounds are NEAREST-RANK order statistics (the value at row
    * ceil(q·n) of the sorted column), NOT interpolated percentiles:
    * rank selection is pure integer arithmetic — no engine-specific
    * interpolation formula ever touches a float, so the bounds (and
    * every clip comparison, on exact integer cents) are bit-identical
    * by construction at any SF. The winsorized mean is the exact long
    * sum of clipped cents in micro-units.
    *
    * Scale shape: `grp` (o_orderpriority) is a 5-value key, so the
    * rank goes through GlobalOrder.groupedRowNumber's range-partitioned
    * numbering rather than a bounded-key Window (which would funnel the
    * SF-scaled orders table through 5 tasks); per-group counts are a
    * 5-row broadcast, bounds collapse to 5 rows and ride a broadcast
    * join back onto the scan; everything after is map-side. Ties on xc
    * rank nondeterministically between equal VALUES, which cannot
    * change the selected bound (the value at the target rank is
    * tie-invariant), but a unique o_orderkey tiebreaker still completes
    * the total order the operator's determinism contract asks for.
    */
  private def cleanWinsorize(s: SparkSession, dir: String): DataFrame = {
    val li0 = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("xc"),
        col("o_orderkey"))
    val li = li0.drop("o_orderkey")
    // Crossing-partition lookup (r22, replacing the r21 full numbering
    // scan + bounds aggregate): the winsorize bounds are TWO order
    // statistics per group — the xc values at nearest ranks
    // ceil(n/100) and ceil(99n/100) — so ranking every row and then
    // aggregating the whole ranked frame down to 5 rows paid a full
    // per-partition sort twice, a full streaming pass, and a
    // whole-input aggregate for 10 values. groupedOrderStats locates
    // the two ranks per group from the numbering scan's own partials
    // and reads only the ≤ 2×5 crossing partitions (rank selection is
    // tie-invariant: the value at a target rank is the same under any
    // ordering of equal values, which is why the o_orderkey tiebreak
    // could already be dropped from the semantics).
    val bounds = graft.operators.GlobalOrder
      .groupedOrderStats(li, Seq("grp"), col("xc"), lit(1),
        Seq("lo", "hi"),
        n => Seq((n + 99L) / 100L, (99L * n + 99L) / 100L), "n_tot")
      .select(col("grp"), col("lo"), col("hi"))
    li.join(broadcast(bounds), "grp")
      .select(col("grp"), col("xc"), col("lo"), col("hi"),
        least(greatest(col("xc"), col("lo")), col("hi")).as("cl"))
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n"),
        first(col("lo")).as("lo_cents"),
        first(col("hi")).as("hi_cents"),
        sum((col("xc") < col("lo")).cast("long")).as("n_clip_lo"),
        sum((col("xc") > col("hi")).cast("long")).as("n_clip_hi"),
        sum(col("cl")).as("csum"))
      .select(col("grp"), col("n"), col("lo_cents"), col("hi_cents"),
        col("n_clip_lo"), col("n_clip_hi"),
        expr("(csum * 10000) div n").as("wmean_micro"))
  }

  private val cleanWinsorizeSql =
    """WITH li AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS xc FROM orders),
      |ranked AS (
      |  SELECT grp, xc,
      |    row_number() OVER (PARTITION BY grp ORDER BY xc) AS rn,
      |    count(*) OVER (PARTITION BY grp) AS n
      |  FROM li),
      |bounds AS (
      |  SELECT grp,
      |    min(CASE WHEN rn = (n + 99) // 100 THEN xc END) AS lo,
      |    min(CASE WHEN rn = (99 * n + 99) // 100 THEN xc END) AS hi
      |  FROM ranked GROUP BY grp),
      |cl AS (
      |  SELECT li.grp, xc, lo, hi,
      |    least(greatest(xc, lo), hi) AS cl
      |  FROM li JOIN bounds ON li.grp = bounds.grp)
      |SELECT grp, count(*) AS n,
      |  first(lo) AS lo_cents, first(hi) AS hi_cents,
      |  CAST(sum(CASE WHEN xc < lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_lo,
      |  CAST(sum(CASE WHEN xc > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_hi,
      |  (CAST(sum(cl) AS BIGINT) * 10000) // count(*) AS wmean_micro
      |FROM cl GROUP BY grp""".stripMargin

  /** Ordered funnel conversion over the event stream — view → click →
    * purchase, each stage's timestamp STRICTLY after the previous
    * stage's first occurrence for that user (the product-analytics
    * staple, and the sequential-pattern query relational engines get
    * wrong when they ignore ordering). Pure timestamp comparisons and
    * integer counts — nothing to diverge.
    *
    * Scale shape: three per-user min aggregations (map-side combined,
    * the keyspace is users not events) chained by hash joins on the
    * user key; each stage's frame only SHRINKS, so the joins get
    * cheaper down the funnel. Conversion ratios ride a broadcast 1-row
    * cross join.
    */
  /** Event-path transition matrix — corpus-wide counts of consecutive
    * (event_type → event_type) steps per user, ordered by timestamp
    * (ties broken by event_id so the sequence is total), with each
    * source's outgoing probability in ppm. The Markov-chain view of the
    * event stream: the third product-analytics staple after
    * [[funnelConversion]] and [[cohortRetention]]. Integer counts and
    * one div — hash-exact.
    *
    * Scale shape: ONE user-partitioned window sort produces every
    * consecutive pair (no self-join on the event table), the transition
    * aggregate's keyspace is |types|² = 25, and the per-source totals
    * ride a window over that 25-row frame. The event payload never
    * shuffles twice.
    */
  private def pathTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("n"),
        expr("(n * 1000000) div from_total").as("p_ppm"))
  }

  private[queries] val pathTransitionsSql =
    """WITH seq AS (
      |  SELECT user_id, event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst
      |  FROM events),
      |tr AS (
      |  SELECT src, dst, count(*) AS n FROM seq
      |  WHERE dst IS NOT NULL GROUP BY src, dst)
      |SELECT src, dst, n,
      |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY src) AS BIGINT)
      |    AS p_ppm
      |FROM tr""".stripMargin

  /** Per-user-day time-weighted average of the event value (TWAP): each
    * event's cents value weighted by the whole seconds until the next
    * event that day, the day's last event carrying weight to midnight.
    * Integer cents·seconds sums and one div — hash-exact. The time-
    * series aggregate order-books and metering pipelines use where a
    * plain mean is wrong (irregular sampling).
    *
    * Scale shape: one (user, day)-keyed window sort (same exchange
    * shape as sessionize) then a (user, day) aggregate that rides the
    * same partitioning. Keys are compact; values never shuffle raw.
    */
  private def twapDaily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("unix_micros(ts) div 1000000").as("sec"),
        col("event_id"),
        floor(col("value") * 100).cast(LongType).as("vc"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("sec"), col("event_id"))
    ev
      .withColumn("nxt", lead(col("sec"), 1).over(w))
      .select(col("user_id"), col("day"), col("vc"),
        (coalesce(col("nxt"), (col("day") + 1) * 86400L) - col("sec"))
          .as("dur"))
      .groupBy(col("user_id"), col("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("vc") * col("dur")).as("wsum"),
        sum(col("dur")).as("tsum"))
      .select(col("user_id"), col("day"), col("n_events"),
        expr("wsum div tsum").as("twap_cents"))
  }

  private val twapDailySql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    epoch_us(ts) // 1000000 AS sec, event_id,
      |    CAST(floor(value * 100) AS BIGINT) AS vc
      |  FROM events),
      |d AS (
      |  SELECT user_id, day, vc,
      |    coalesce(lead(sec) OVER (PARTITION BY user_id, day
      |        ORDER BY sec, event_id),
      |      (day + 1) * 86400) - sec AS dur
      |  FROM ev)
      |SELECT user_id, day, count(*) AS n_events,
      |  CAST(sum(vc * dur) AS BIGINT) // CAST(sum(dur) AS BIGINT)
      |    AS twap_cents
      |FROM d GROUP BY user_id, day""".stripMargin

  /** One-pass column-profiling report over events — per column: row
    * count, nulls, exact distinct count, min/max as canonical strings
    * (the deequ/Glue-crawler profiling staple, and the first thing a
    * data engineer asks of an unknown 100 TB table). One aggregate
    * computes every measure (count-distinct expansion is Spark's
    * standard Expand), then a stack unpivots the 1-row result map-side
    * into the per-column layout. Min/max go through canonical casts so
    * engine string reprs can't diverge.
    */
  private def profileColumns(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        floor(col("value") * 100).cast(LongType).as("value_cents"))
    ev.agg(
        count(lit(1)).as("n"),
        sum(col("event_type").isNull.cast(LongType)).as("null_t"),
        countDistinct(col("event_type")).as("dist_t"),
        min(col("event_type")).as("min_t"),
        max(col("event_type")).as("max_t"),
        sum(col("user_id").isNull.cast(LongType)).as("null_u"),
        countDistinct(col("user_id")).as("dist_u"),
        min(col("user_id")).cast(StringType).as("min_u"),
        max(col("user_id")).cast(StringType).as("max_u"),
        sum(col("value_cents").isNull.cast(LongType)).as("null_v"),
        countDistinct(col("value_cents")).as("dist_v"),
        min(col("value_cents")).cast(StringType).as("min_v"),
        max(col("value_cents")).cast(StringType).as("max_v"))
      .selectExpr("n", """stack(3,
        |  'event_type',  null_t, dist_t, min_t, max_t,
        |  'user_id',     null_u, dist_u, min_u, max_u,
        |  'value_cents', null_v, dist_v, min_v, max_v)
        |  AS (col_name, n_null, n_distinct, min_str, max_str)""".stripMargin)
      .select(col("col_name"), col("n"), col("n_null"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  private val profileColumnsSql =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |    CAST(floor(value * 100) AS BIGINT) AS value_cents
      |  FROM events),
      |a AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_t,
      |    count(DISTINCT event_type) AS dist_t,
      |    min(event_type) AS min_t, max(event_type) AS max_t,
      |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_u,
      |    count(DISTINCT user_id) AS dist_u,
      |    CAST(min(user_id) AS VARCHAR) AS min_u,
      |    CAST(max(user_id) AS VARCHAR) AS max_u,
      |    CAST(sum(CASE WHEN value_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_v,
      |    count(DISTINCT value_cents) AS dist_v,
      |    CAST(min(value_cents) AS VARCHAR) AS min_v,
      |    CAST(max(value_cents) AS VARCHAR) AS max_v
      |  FROM ev)
      |SELECT 'event_type' AS col_name, n, null_t AS n_null,
      |  dist_t AS n_distinct, min_t AS min_str, max_t AS max_str FROM a
      |UNION ALL
      |SELECT 'user_id', n, null_u, dist_u, min_u, max_u FROM a
      |UNION ALL
      |SELECT 'value_cents', n, null_v, dist_v, min_v, max_v FROM a""".stripMargin

  /** k-anonymity audit over customer quasi-identifiers
    * (nation, market segment, account-balance band of 1000): how many
    * QI combinations — and how many customers — sit in groups smaller
    * than k = 5 (re-identifiable under linkage). The privacy gate a
    * training-data release runs before shipping user-derived text.
    * Integer end-to-end.
    *
    * Scale shape: one QI-keyed count aggregate (map-side combined),
    * then a 1-row reduction over the collapsed combo frame — the combo
    * keyspace, not the user table, is what the second pass touches.
    */
  private def privacyKAnon(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast(LongType).as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_combos"),
        sum((col("n") < 5).cast(LongType)).as("n_risky_combos"),
        sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_risky_users"),
        sum(col("n")).as("n_users"))
      .select(col("n_combos"), col("n_risky_combos"),
        col("n_risky_users"),
        expr("(n_risky_users * 1000000) div n_users").as("risk_ppm"))

  private val privacyKAnonSql =
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |    count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT count(*) AS n_combos,
      |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_risky_combos,
      |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      |    AS n_risky_users,
      |  (CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(n) AS BIGINT) AS risk_ppm
      |FROM g""".stripMargin

  /** Rolling 7-day distinct actives — DAU, trailing WAU, and the
    * DAU/WAU stickiness ratio per day (the engagement staple). Distinct
    * counting over a SLIDING window can't ride an ordinary window
    * function (count(DISTINCT) isn't frame-able in either engine);
    * the scalable shape is the explode trick: each distinct (user, day)
    * contributes itself to the 7 window-days it belongs to, and each
    * window deduplicates — a bounded 7× expansion of the COLLAPSED
    * (user, day) frame, not of raw events, all map-side before one
    * user-keyed distinct aggregate. Integer counts and one div.
    */
  private def slidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val dau = active.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = active
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .distinct()
      .groupBy(col("wday"))
      .agg(count(lit(1)).as("wau"))
    dau
      .join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000000) div wau").as("stickiness_ppm"))
  }

  private val slidingDistinctSql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM active GROUP BY day),
      |wau AS (
      |  SELECT wday, count(*) AS wau FROM (
      |    SELECT DISTINCT user_id, day + o AS wday
      |    FROM active, unnest(range(0, 7)) AS u(o)) w
      |  GROUP BY wday)
      |SELECT day, dau, wau, (dau * 1000000) // wau AS stickiness_ppm
      |FROM dau JOIN wau ON day = wday""".stripMargin

  /** RFM segmentation — recency/frequency/monetary quartiles per user,
    * collapsed to segment-level counts (the classic CRM/product
    * segmentation). Quartiles are ntile(4) with a (metric, user_id)
    * total order so every boundary is deterministic in both engines
    * ([[Relational]] qcut convention). Recency is days from the user's
    * last event to the corpus' last day — computed via a 1-row
    * broadcast, not a driver round-trip.
    *
    * Scale shape: events collapse to ONE user-keyed aggregate first, and
    * the quartiles are [[graft.operators.GlobalOrder.rowNumber]] ranks
    * folded through [[graft.operators.GlobalOrder.ntileFromRowNumber]] —
    * three range repartitions of the |users| frame, never a
    * single-partition ntile window. The segment report is ≤ 64 rows.
    */
  private def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalOrder
    val users = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100).cast(LongType).as("vc"))
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("vc")).as("mon"))
    val corpusStats = users.agg(max(col("last_day")).as("corpus_last"),
      count(lit(1)).as("nu"))
    val base = users
      .crossJoin(broadcast(corpusStats))
      .select(col("user_id"), col("freq"), col("mon"), col("nu"),
        (col("corpus_last") - col("last_day")).as("rec"))
    // recency quartile 1 = most recent (rec ASC); frequency/monetary
    // quartile 4 = heaviest (ASC) — same total orders as before, each
    // realized as a range-partitioned global rank.
    val ranked = GlobalOrder.rowNumber(
      GlobalOrder.rowNumber(
        GlobalOrder.rowNumber(base,
          Seq(col("rec"), col("user_id")), "rrn"),
        Seq(col("freq"), col("user_id")), "frn"),
      Seq(col("mon"), col("user_id")), "mrn")
    val rfm = ranked.select(col("user_id"), col("mon"),
      GlobalOrder.ntileFromRowNumber(col("rrn"), col("nu"), 4).as("r_q"),
      GlobalOrder.ntileFromRowNumber(col("frn"), col("nu"), 4).as("f_q"),
      GlobalOrder.ntileFromRowNumber(col("mrn"), col("nu"), 4).as("m_q"))
    rfm
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"), sum(col("mon")).as("mon_cents"))
  }

  private val rfmSegmentsSql =
    """WITH u AS (
      |  SELECT user_id, max(epoch_us(ts) // 86400000000) AS last_day,
      |    count(*) AS freq,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS mon
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(last_day) AS corpus_last FROM u),
      |rfm AS (
      |  SELECT user_id, freq, mon,
      |    CAST(ntile(4) OVER (ORDER BY corpus_last - last_day, user_id)
      |      AS BIGINT) AS r_q,
      |    CAST(ntile(4) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_q,
      |    CAST(ntile(4) OVER (ORDER BY mon, user_id) AS BIGINT) AS m_q
      |  FROM u CROSS JOIN mx)
      |SELECT r_q, f_q, m_q, count(*) AS n_users,
      |  CAST(sum(mon) AS BIGINT) AS mon_cents
      |FROM rfm GROUP BY r_q, f_q, m_q""".stripMargin

  /** Welch two-sample test between the click and view value
    * distributions — the A/B-testing aggregate. Moments (n, Σcents,
    * Σcents²) are exact long sums; means/variances/t² are then IEEE
    * doubles computed from those identical integers with the identical
    * expression tree in both engines (the [[Aggregates]] varStd
    * pattern), so even the 6dp-rounded t² is deterministic.
    *
    * Scale shape: one map-side-combined 2-group aggregate, one 2-row
    * self-join — nothing scales with the corpus but the first scan.
    */
  private def abWelchT(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"),
        floor(col("value") * 100).cast(LongType).as("vc"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("vc")).as("s1"),
        sum(col("vc") * col("vc")).as("s2"))
      .select(col("event_type"), col("n"),
        (col("s1").cast(DoubleType) / col("n")).as("m"),
        ((col("s2") - col("s1").cast(DoubleType) * col("s1") / col("n")) /
          (col("n") - 1)).as("v"))
    val a = m.filter(col("event_type") === "click")
      .select(col("n").as("n1"), col("m").as("m1"), col("v").as("v1"))
    val b = m.filter(col("event_type") === "view")
      .select(col("n").as("n2"), col("m").as("m2"), col("v").as("v2"))
    a.crossJoin(b)
      .select(col("n1"), col("n2"),
        round((col("m1") - col("m2")) / 100, 6).as("mean_diff_6dp"),
        round(
          ((col("m1") - col("m2")) * (col("m1") - col("m2"))) /
            (col("v1") / col("n1") + col("v2") / col("n2")), 6)
          .as("t2_6dp"))
  }

  private val abWelchTSql =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(vc) AS BIGINT) AS s1, CAST(sum(vc * vc) AS BIGINT) AS s2
      |  FROM (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vc
      |        FROM events WHERE event_type IN ('click', 'view')) t
      |  GROUP BY event_type),
      |p AS (
      |  SELECT event_type, n,
      |    CAST(s1 AS DOUBLE) / n AS m,
      |    (s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS v
      |  FROM m),
      |a AS (SELECT n AS n1, m AS m1, v AS v1 FROM p
      |  WHERE event_type = 'click'),
      |b AS (SELECT n AS n2, m AS m2, v AS v2 FROM p
      |  WHERE event_type = 'view')
      |SELECT n1, n2,
      |  round((m1 - m2) / 100, 6) AS mean_diff_6dp,
      |  round(((m1 - m2) * (m1 - m2)) / (v1 / n1 + v2 / n2), 6) AS t2_6dp
      |FROM a CROSS JOIN b""".stripMargin

  /** Cohort retention matrix — users grouped by first-activity day, each
    * cohort's active-user count at day offsets 0..13 plus retention as
    * ppm of the cohort's size (the second product-analytics staple next
    * to [[funnelConversion]]). Integer end-to-end: epoch-day buckets,
    * distinct-user counts, and a (n·10⁶) div cohort_size ratio.
    *
    * Scale shape: events collapse to distinct (user, day) pairs first
    * (one user-keyed aggregate — the keyspace is users×days, not
    * events); first-day is a second user-keyed aggregate that rides the
    * SAME hash partitioning (no extra exchange between them); the
    * retention cells are a compact (cohort, offset) aggregate; cohort
    * sizes join back by broadcast (cohort-day keyspace is calendar-
    * bounded). No global sorts, no driver logic.
    */
  private def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val firstDay = active
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val cells = active
      .join(firstDay, Seq("user_id"))
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("offset"))
      .filter(col("offset") <= 13)
      .groupBy(col("cohort_day"), col("offset"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = cells
      .filter(col("offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    cells
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("offset"), col("n_users"),
        col("cohort_size"),
        expr("(n_users * 1000000) div cohort_size").as("retention_ppm"))
  }

  private val cohortRetentionSql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |fd AS (
      |  SELECT user_id, min(day) AS cohort_day FROM active GROUP BY user_id),
      |cells AS (
      |  SELECT cohort_day, day - cohort_day AS "offset",
      |    count(*) AS n_users
      |  FROM active JOIN fd USING (user_id)
      |  WHERE day - cohort_day <= 13
      |  GROUP BY 1, 2),
      |sz AS (
      |  SELECT cohort_day, n_users AS cohort_size FROM cells
      |  WHERE "offset" = 0)
      |SELECT cohort_day, "offset", n_users, cohort_size,
      |  (n_users * 1000000) // cohort_size AS retention_ppm
      |FROM cells JOIN sz USING (cohort_day)""".stripMargin

  private def funnelConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val counts = v.agg(count(lit(1)).as("nv"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("nc"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("np"))))
    counts.select(explode(array(
        struct(lit("1_view").as("stage"), col("nv").as("n_users"),
          lit(1000000L).as("conv_ppm")),
        struct(lit("2_click").as("stage"), col("nc").as("n_users"),
          expr("(nc * 1000000) div nv").as("conv_ppm")),
        struct(lit("3_purchase").as("stage"), col("np").as("n_users"),
          expr("(np * 1000000) div nv").as("conv_ppm")))).as("s"))
      .select(col("s.stage"), col("s.n_users"), col("s.conv_ppm"))
  }

  private[queries] val funnelConversionSql =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS v_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(ts) AS c_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE event_type = 'click' AND ts > v_ts GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(ts) AS p_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE event_type = 'purchase' AND ts > c_ts GROUP BY e.user_id),
      |n AS (
      |  SELECT (SELECT count(*) FROM v) AS nv,
      |         (SELECT count(*) FROM c) AS nc,
      |         (SELECT count(*) FROM p) AS np)
      |SELECT '1_view' AS stage, nv AS n_users,
      |  CAST(1000000 AS BIGINT) AS conv_ppm FROM n
      |UNION ALL
      |SELECT '2_click', nc, (nc * 1000000) // nv FROM n
      |UNION ALL
      |SELECT '3_purchase', np, (np * 1000000) // nv FROM n""".stripMargin

  /** isin (search.hpp:163 contains / pandas isin). */
  private def filterIsin(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY") &&
        !col("c_nationkey").isin(3, 7))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))

  private val filterIsinSql =
    """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
      |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      |  AND c_nationkey NOT IN (3, 7)""".stripMargin

  /** IntervalDtype convention (SURVEY §1.2: struct of lo/hi bounds,
    * dtypes.py:949): order validity windows as [start, start+7d) structs,
    * overlap test against a fixed probe interval.
    */
  private def intervalOverlap(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .select(
        col("o_orderkey"),
        struct(
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000000").as("lo"),
          (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000000") + 7L * 86400).as("hi"))
          .as("valid"))
      .select(
        col("o_orderkey"),
        col("valid.lo").as("lo"),
        col("valid.hi").as("hi"),
        // probe interval: all of 1997-03
        (col("valid.lo") < lit(859766400L) &&
          col("valid.hi") > lit(857088000L)).as("overlaps_mar97"))

  private val intervalOverlapSql =
    """SELECT o_orderkey, lo, hi,
      |  (lo < 859766400 AND hi > 857088000) AS overlaps_mar97
      |FROM (SELECT o_orderkey,
      |        epoch_us(o_orderdate) // 1000000 AS lo,
      |        epoch_us(o_orderdate) // 1000000 + 7 * 86400 AS hi
      |      FROM orders)""".stripMargin

  /** resample().asfreq-style gap filling: the full bucket range is
    * generated (calendrical sequence) and left-joined so empty buckets
    * appear with zero counts.
    */
  private def resampleAsfreq(s: SparkSession, dir: String): DataFrame = {
    val bucketed = Tables
      .events(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
    val bounds = bucketed.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val full = bounds.select(explode(sequence(col("lo"), col("hi"))).as("bucket"))
    full
      .join(bucketed, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
  }

  private val resampleAsfreqSql =
    """WITH b AS (
      |  SELECT epoch_us(ts) // 3600000000 AS bucket, count(*) AS n
      |  FROM events GROUP BY 1),
      |bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
      |allb AS (SELECT u.x AS bucket FROM bounds,
      |         unnest(range(lo, hi + 1)) AS u(x))
      |SELECT allb.bucket, coalesce(b.n, 0) AS n
      |FROM allb LEFT JOIN b USING (bucket)""".stripMargin

  /** Linear interpolation over resampled gaps — the reference's
    * `DataFrame.interpolate(method='linear')`
    * (python/cudf/cudf/core/indexed_frame.py:1928,
    * algorithms.py:126 `_interpolation`), re-expressed as a
    * calendar-completed per-user daily series: each user's missing days
    * get prev + ((next − prev)·(day − prev_day)) div (next_day −
    * prev_day) in integer cents. A single formula covers present days
    * too (both deltas collapse to zero), but present rows short-circuit
    * through coalesce so no 0/0 division is ever evaluated.
    *
    * Exactness: daily values are cent sums (longs), day arithmetic is
    * epoch-day integers, and the one division is div/'//' (identical
    * truncation in both engines, negative slopes included) — hash-exact.
    *
    * Scale shape: one (user, day) aggregate; the calendar completion is
    * a per-user bounded sequence explode; both neighbor lookups ride ONE
    * user-partitioned sort (two frames over the same window ordering).
    * Every key is (user_id) — no global sort, no driver logic.
    */
  private def resampleInterpolate(s: SparkSession, dir: String): DataFrame =
    interpolateDaily(Tables
      .events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100).cast(LongType).as("vc"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("vc")).as("v")))

  /** The gap-fill + linear-interpolation core over any (user_id, day, v)
    * daily frame — public so specs can pin exact interpolation on
    * synthetic gaps (rising, falling, and truncating segments).
    */
  def interpolateDaily(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val span = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    span
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(wPrev).as("pv"),
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wPrev).as("pd"),
        first(col("v"), ignoreNulls = true).over(wNext).as("nv"),
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wNext).as("nd"))
      .select(col("user_id"), col("day"),
        coalesce(col("v"),
          col("pv") + expr("((nv - pv) * (day - pd)) div (nd - pd)"))
          .as("v_cents"),
        col("v").isNull.as("interpolated"))
  }

  private val resampleInterpolateSql =
    """WITH daily AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    sum(CAST(floor(value * 100) AS BIGINT)) AS v
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT user_id, u.x AS day FROM (
      |    SELECT user_id, min(day) AS lo, max(day) AS hi
      |    FROM daily GROUP BY user_id) b, unnest(range(lo, hi + 1)) AS u(x)),
      |nb AS (
      |  SELECT span.user_id, span.day, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY span.user_id
      |      ORDER BY span.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN span.day END IGNORE NULLS)
      |      OVER (PARTITION BY span.user_id ORDER BY span.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY span.user_id
      |      ORDER BY span.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN span.day END IGNORE NULLS)
      |      OVER (PARTITION BY span.user_id ORDER BY span.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM span LEFT JOIN daily
      |    ON span.user_id = daily.user_id AND span.day = daily.day)
      |SELECT user_id, day,
      |  CAST(coalesce(v, pv + ((nv - pv) * (day - pd)) // (nd - pd))
      |    AS BIGINT) AS v_cents,
      |  v IS NULL AS interpolated
      |FROM nb""".stripMargin

  /** code_points (attributes.hpp:90), partition/rpartition
    * (split/partition.hpp:60,94 — first/last-occurrence split into
    * before/sep/after), repeat with per-row count, char-set trim.
    */
  private def strPartitionPoints(s: SparkSession, dir: String): DataFrame =
    Tables
      .part(s, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
      .select(
        col("p_partkey"),
        graft.ArrCanon.joined(
          expr("transform(sequence(1, length(p_name)), i -> ascii(substring(p_name, i, 1)))"))
          .as("code_points"),
        substring_index(col("p_name"), " ", 1).as("part_before"),
        when(instr(col("p_name"), " ") > 0,
          expr("substring(p_name, instr(p_name, ' ') + 1)")).otherwise("")
          .as("part_after"),
        reverse(substring_index(reverse(col("p_name")), " ", 1)).as("rpart_after"),
        expr("repeat(p_brand, CAST(p_size % 3 + 1 AS INT))").as("repeated_n"),
        ltrim(col("p_name"), "rs").as("ltrim_chars"))

  private val strPartitionPointsSql =
    s"""SELECT p_partkey,
      |  ${graft.ArrCanon.joinedSql(
           """list_transform(range(1, length(p_name) + 1),
                i -> ascii(substring(p_name, i, 1)))""")} AS code_points,
      |  split_part(p_name, ' ', 1) AS part_before,
      |  CASE WHEN instr(p_name, ' ') > 0
      |       THEN substring(p_name, instr(p_name, ' ') + 1) ELSE '' END
      |    AS part_after,
      |  reverse(split_part(reverse(p_name), ' ', 1)) AS rpart_after,
      |  repeat(p_brand, CAST(p_size % 3 + 1 AS INT)) AS repeated_n,
      |  ltrim(p_name, 'rs') AS ltrim_chars
      |FROM part""".stripMargin

  // ------------------------------------------------- Frame façade gate
  // The two most-used pandas entry points routed THROUGH the façade
  // (graft.engine.Frame, ref python/cudf/cudf/core/dataframe.py) so the
  // migration surface sits in the driver correctness gate, not only in
  // FrameSpec goldens.

  /** `Frame.valueCounts` (Series.value_counts): the façade's groupBy +
    * count lowering, oracled 1:1.
    */
  private def frameValueCounts(s: SparkSession, dir: String): DataFrame =
    graft.engine.Frame(Tables.part(s, dir).select(col("p_brand")))
      .valueCounts("p_brand").df

  private val frameValueCountsSql =
    """SELECT p_brand, count(*) AS count FROM part GROUP BY p_brand"""

  /** `Frame.describe` over integer key columns, parsed back from
    * describe's string cells to fixed-point BIGINT. The stddev row is
    * excluded ON PURPOSE: its moment accumulation is the one
    * order-dependent double in describe's output (count/min/max are
    * exact; mean = an exactly-representable integer sum — every partial
    * sum < 2^53 — followed by one IEEE division, so floor(x·10⁴) is
    * deterministic cross-engine). The full five-row shape including
    * stddev is golden-pinned in FrameSpec.
    */
  private def frameDescribe(s: SparkSession, dir: String): DataFrame = {
    val d = graft.engine.Frame(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")))
      .describe().df
    def fx(c: String) =
      floor(col(c).cast(DoubleType) * 10000).cast(LongType).as(c)
    d.filter(col("summary").isin("count", "mean", "min", "max"))
      .select(col("summary"), fx("l_orderkey"), fx("l_partkey"), fx("l_suppkey"))
  }

  private val frameDescribeSql =
    """WITH d AS (
      |  SELECT 'count' AS summary,
      |    CAST(count(l_orderkey) AS DOUBLE) AS ok,
      |    CAST(count(l_partkey) AS DOUBLE) AS pk,
      |    CAST(count(l_suppkey) AS DOUBLE) AS sk
      |  FROM lineitem
      |  UNION ALL SELECT 'mean', avg(l_orderkey), avg(l_partkey),
      |    avg(l_suppkey) FROM lineitem
      |  UNION ALL SELECT 'min', CAST(min(l_orderkey) AS DOUBLE),
      |    CAST(min(l_partkey) AS DOUBLE), CAST(min(l_suppkey) AS DOUBLE)
      |  FROM lineitem
      |  UNION ALL SELECT 'max', CAST(max(l_orderkey) AS DOUBLE),
      |    CAST(max(l_partkey) AS DOUBLE), CAST(max(l_suppkey) AS DOUBLE)
      |  FROM lineitem)
      |SELECT summary,
      |  CAST(floor(ok * 10000) AS BIGINT) AS l_orderkey,
      |  CAST(floor(pk * 10000) AS BIGINT) AS l_partkey,
      |  CAST(floor(sk * 10000) AS BIGINT) AS l_suppkey
      |FROM d""".stripMargin

  /** Data-validation expectation suite (the deequ/Great-Expectations
    * gate a pipeline runs before training on a new snapshot): declared
    * constraints evaluated into one (check_name, violations, total)
    * report row each. Two passes total, never one per check:
    * - ONE scan of lineitem computes all six column-level checks as
    *   conditional-sum columns of a single aggregate (range, domain,
    *   positivity, and key-uniqueness via count − count(distinct key))
    *   then unpivots them with `stack` — adding a check costs a column,
    *   not a scan;
    * - ONE left join to orders computes both relational checks
    *   (referential orphans, ship-date-before-order-date) in the same
    *   pass.
    * All counts are longs → hash-exact. The synthetic data genuinely
    * fails ship_after_order (~half the rows), so the report exercises
    * the nonzero path, not just vacuous passes.
    */
  private def validateExpectations(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    def bad(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(c, 1L).otherwise(0L))
    val scalar = li
      .agg(
        count(lit(1)).as("total"),
        bad(!col("l_quantity").between(1.0, 50.0)).as("v_qty"),
        bad(col("l_discount") > 0.06).as("v_disc"),
        bad(!col("l_tax").between(0.0, 0.08)).as("v_tax"),
        bad(col("l_extendedprice") <= 0.0).as("v_price"),
        bad(!col("l_returnflag").isin("A", "N", "R")).as("v_flag"),
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))).as("v_dup"))
      .select(
        expr("""stack(6,
                |  'quantity_range_1_50', v_qty,
                |  'discount_le_0.06', v_disc,
                |  'tax_range_0_0.08', v_tax,
                |  'extendedprice_positive', v_price,
                |  'returnflag_domain', v_flag,
                |  'line_key_unique', v_dup) AS (check_name, violations)""".stripMargin),
        col("total"))
    val joined = li
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        count(lit(1)).as("total"),
        bad(col("o_orderkey").isNull).as("v_orphan"),
        bad(col("l_shipdate") < col("o_orderdate")).as("v_ship"))
      .select(
        expr("""stack(2,
                |  'orderkey_ref_integrity', v_orphan,
                |  'ship_after_order', v_ship) AS (check_name, violations)""".stripMargin),
        col("total"))
    scalar.unionByName(joined)
  }

  private val validateExpectationsSql =
    """WITH scalar AS (
      |  SELECT count(*) AS total,
      |    CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 50.0) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
      |    CAST(sum(CASE WHEN l_discount > 0.06 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
      |    CAST(sum(CASE WHEN NOT (l_tax BETWEEN 0.0 AND 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS v_tax,
      |    CAST(sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
      |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS v_flag,
      |    count(*) - (SELECT count(*) FROM (
      |      SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |      FROM lineitem)) AS v_dup
      |  FROM lineitem),
      |joined AS (
      |  SELECT count(*) AS total,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_orphan,
      |    CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT 'quantity_range_1_50' AS check_name, v_qty AS violations, total FROM scalar
      |UNION ALL SELECT 'discount_le_0.06', v_disc, total FROM scalar
      |UNION ALL SELECT 'tax_range_0_0.08', v_tax, total FROM scalar
      |UNION ALL SELECT 'extendedprice_positive', v_price, total FROM scalar
      |UNION ALL SELECT 'returnflag_domain', v_flag, total FROM scalar
      |UNION ALL SELECT 'line_key_unique', v_dup, total FROM scalar
      |UNION ALL SELECT 'orderkey_ref_integrity', v_orphan, total FROM joined
      |UNION ALL SELECT 'ship_after_order', v_ship, total FROM joined""".stripMargin

  /** Snapshot drift report (the monitor a recurring ingest runs before
    * accepting a new batch): total-variation distance ½·Σ|p_base −
    * p_cur| between the first and second half-month of events, per
    * dimension — categorical (event_type) and bucketed numeric (value
    * in 10 fixed-width buckets of 50). TVD instead of PSI/KL by
    * design: it needs only integer adds and abs on micro-unit
    * proportions (pa = cnt·10⁶ div n), so the report is bit-exact
    * across engines, where any ln-based divergence would diverge in
    * the last ulp between libm implementations.
    *
    * Per-bucket rows carry both proportions and the |Δ|; one TVD_TOTAL
    * row per dimension sums them (proportion columns there are the
    * total masses, ≈10⁶ modulo floor loss — a built-in sanity check).
    * Scale shape: two scans (one per dimension) each aggregating to
    * ≤|buckets| rows map-side before a full-outer join of the two
    * tiny count vectors; the half-month split predicate pushes down to
    * the parquet scan.
    */
  private def driftTvd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cut = lit("2024-01-16").cast(TimestampType)
    val byType = distExact(ev, col("event_type"), "event_type", cut)
    val byValue = distExact(ev,
      concat(lit("d"), least(floor(col("value") / 50.0), lit(9.0)).cast("long")),
      "value_decile", cut)
    val buckets = byType.unionByName(byValue)
    val totals = buckets.groupBy(col("dimension"))
      .agg(
        sum(col("p_base_micro")).as("p_base_micro"),
        sum(col("p_cur_micro")).as("p_cur_micro"),
        expr("sum(drift_micro) div 2").as("drift_micro"))
      .select(col("dimension"), lit("TVD_TOTAL").as("bucket"),
        col("p_base_micro"), col("p_cur_micro"), col("drift_micro"))
    buckets.unionByName(totals)
  }

  /** One dimension of [[driftTvd]]: per-bucket micro-unit proportions
    * on each side of the cut and their absolute difference. Totals ride
    * a broadcast 1-row cross join (never a single-partition window).
    */
  private def distExact(ev: DataFrame, bucket: org.apache.spark.sql.Column,
      dim: String, cut: org.apache.spark.sql.Column): DataFrame = {
    val base = ev.filter(col("ts") < cut).groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt_base"))
    val cur = ev.filter(col("ts") >= cut).groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt_cur"))
    base.join(cur, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(ev.agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("n_cur"))))
      .select(
        lit(dim).as("dimension"),
        col("bucket"),
        expr("coalesce(cnt_base, 0) * 1000000 div n_base").as("p_base_micro"),
        expr("coalesce(cnt_cur, 0) * 1000000 div n_cur").as("p_cur_micro"))
      .withColumn("drift_micro",
        abs(col("p_base_micro") - col("p_cur_micro")))
  }

  /** Windowed drift report — the batch, fully-ORACLED twin of
    * [[graft.streaming.Streams.driftMonitor]]: per-DAY total-variation
    * distance of the post-cut event_type mix vs the first-half-month
    * baseline distribution, same micro-unit integer arithmetic as
    * [[driftTvd]]. Buckets the baseline never saw fold into OTHER with
    * p_base = 0, so new categories register as drift; baseline buckets
    * absent on a day surface with p_cur = 0 (mass loss registers too).
    *
    * Scale shape: two corpus-sized aggregations (baseline counts,
    * per-(day, bucket) counts), both collapsing map-side to
    * dimension-sized vectors; every subsequent join (day totals, the
    * day×bucket grid, the per-day TVD) is over those bounded vectors,
    * baseline riding broadcast. At 100 TB the count vector would be
    * materialized once (it is tiny) instead of re-derived per branch.
    */
  private def driftWindowTvd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cut = lit("2024-01-16").cast(TimestampType)
    val b = ev.filter(col("ts") < cut)
      .groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val base = b.crossJoin(broadcast(b.agg(sum(col("c")).as("n"))))
      .select(col("event_type"), expr("c * 1000000 div n").as("p_base"))
    val e2 = ev.filter(col("ts") >= cut)
      .join(broadcast(base.select(col("event_type"), lit(1).as("inb"))),
        Seq("event_type"), "left")
      .select(to_date(date_trunc("DAY", col("ts"))).as("day"),
        when(col("inb").isNull, lit("OTHER")).otherwise(col("event_type"))
          .as("bucket"))
    val cnt = e2.groupBy(col("day"), col("bucket")).agg(count(lit(1)).as("c"))
    val nd = cnt.groupBy(col("day")).agg(sum(col("c")).as("n"))
    val cur = cnt.join(nd, "day")
      .select(col("day"), col("bucket"), expr("c * 1000000 div n").as("p_cur"))
    val days = cnt.select(col("day")).distinct()
    val grid = days
      .crossJoin(broadcast(base.select(col("event_type").as("bucket"), col("p_base"))))
      .unionByName(days.select(col("day"), lit("OTHER").as("bucket"),
        lit(0L).as("p_base")))
    val rows = grid.join(cur, Seq("day", "bucket"), "left")
      .select(col("day"), col("bucket"),
        col("p_base").as("p_base_micro"),
        coalesce(col("p_cur"), lit(0L)).as("p_cur_micro"))
      .withColumn("drift_micro", abs(col("p_base_micro") - col("p_cur_micro")))
    val tvd = rows.groupBy(col("day"))
      .agg(expr("sum(drift_micro) div 2").as("tvd_micro"))
    rows.join(tvd, "day")
  }

  private val driftWindowTvdSql =
    """WITH b AS (
      |  SELECT event_type, count(*) AS c FROM events
      |  WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
      |nb AS (SELECT sum(c) AS n FROM b),
      |base AS (SELECT event_type, c * 1000000 // n AS p_base FROM b, nb),
      |e2 AS (
      |  SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
      |    CASE WHEN base.event_type IS NULL THEN 'OTHER'
      |         ELSE e.event_type END AS bucket
      |  FROM events e LEFT JOIN base ON e.event_type = base.event_type
      |  WHERE e.ts >= TIMESTAMP '2024-01-16'),
      |cnt AS (SELECT day, bucket, count(*) AS c FROM e2 GROUP BY 1, 2),
      |nd AS (SELECT day, sum(c) AS n FROM cnt GROUP BY 1),
      |cur AS (
      |  SELECT cnt.day, bucket, c * 1000000 // n AS p_cur
      |  FROM cnt JOIN nd ON cnt.day = nd.day),
      |days AS (SELECT DISTINCT day FROM cnt),
      |grid AS (
      |  SELECT day, event_type AS bucket, p_base FROM days CROSS JOIN base
      |  UNION ALL SELECT day, 'OTHER', CAST(0 AS BIGINT) FROM days),
      |rws AS (
      |  SELECT g.day, g.bucket, g.p_base AS p_base_micro,
      |    coalesce(cur.p_cur, 0) AS p_cur_micro,
      |    abs(g.p_base - coalesce(cur.p_cur, 0)) AS drift_micro
      |  FROM grid g LEFT JOIN cur ON g.day = cur.day AND g.bucket = cur.bucket),
      |tvd AS (SELECT day, sum(drift_micro) // 2 AS tvd_micro FROM rws GROUP BY 1)
      |SELECT rws.day, bucket, CAST(p_base_micro AS BIGINT) AS p_base_micro,
      |  CAST(p_cur_micro AS BIGINT) AS p_cur_micro,
      |  CAST(drift_micro AS BIGINT) AS drift_micro,
      |  CAST(tvd_micro AS BIGINT) AS tvd_micro
      |FROM rws JOIN tvd ON rws.day = tvd.day""".stripMargin

  private val driftTvdSql =
    """WITH b AS (
      |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16'),
      |c AS (
      |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
      |n AS (
      |  SELECT (SELECT count(*) FROM b) AS n_base,
      |         (SELECT count(*) FROM c) AS n_cur),
      |tb AS (SELECT event_type AS bucket, count(*) AS cnt FROM b GROUP BY 1),
      |tc AS (SELECT event_type AS bucket, count(*) AS cnt FROM c GROUP BY 1),
      |vb AS (SELECT 'd' || CAST(least(floor(value / 50.0), 9.0) AS BIGINT)
      |         AS bucket, count(*) AS cnt FROM b GROUP BY 1),
      |vc AS (SELECT 'd' || CAST(least(floor(value / 50.0), 9.0) AS BIGINT)
      |         AS bucket, count(*) AS cnt FROM c GROUP BY 1),
      |tdim AS (
      |  SELECT 'event_type' AS dimension, coalesce(tb.bucket, tc.bucket) AS bucket,
      |    coalesce(tb.cnt, 0) * 1000000 // n.n_base AS p_base_micro,
      |    coalesce(tc.cnt, 0) * 1000000 // n.n_cur AS p_cur_micro
      |  FROM tb FULL OUTER JOIN tc ON tb.bucket = tc.bucket CROSS JOIN n),
      |vdim AS (
      |  SELECT 'value_decile' AS dimension, coalesce(vb.bucket, vc.bucket) AS bucket,
      |    coalesce(vb.cnt, 0) * 1000000 // n.n_base AS p_base_micro,
      |    coalesce(vc.cnt, 0) * 1000000 // n.n_cur AS p_cur_micro
      |  FROM vb FULL OUTER JOIN vc ON vb.bucket = vc.bucket CROSS JOIN n),
      |buckets AS (
      |  SELECT dimension, bucket, p_base_micro, p_cur_micro,
      |    abs(p_base_micro - p_cur_micro) AS drift_micro
      |  FROM (SELECT * FROM tdim UNION ALL SELECT * FROM vdim))
      |SELECT dimension, bucket, CAST(p_base_micro AS BIGINT) AS p_base_micro,
      |  CAST(p_cur_micro AS BIGINT) AS p_cur_micro,
      |  CAST(drift_micro AS BIGINT) AS drift_micro
      |FROM buckets
      |UNION ALL
      |SELECT dimension, 'TVD_TOTAL', CAST(sum(p_base_micro) AS BIGINT),
      |  CAST(sum(p_cur_micro) AS BIGINT),
      |  CAST(sum(drift_micro) // 2 AS BIGINT)
      |FROM buckets GROUP BY dimension""".stripMargin

  /** rolling z-score anomaly flags (the classic streaming-telemetry
    * monitor — flag a reading that sits more than 2σ from the trailing
    * window's mean; cf. the rolling var/std surface
    * rolling.hpp:WINDOW + the drift monitors above).
    *
    * Exactness: the |x−μ| > 2σ comparison is ALGEBRAICALLY cleared of
    * division and square roots — with n, s = Σx, q = Σx² over the
    * trailing 7-row window, (x−μ)² > 4σ² ⟺ (n·x−s)² > 4·(n·q−s²) —
    * and evaluated on DECIMAL(38,0)/HUGEINT over half-up-quantized
    * cents, so both engines hold the identical flag bit for every row
    * (no IEEE sqrt, no envelope assumption on Σx² — the decimal ride
    * is the same policy BM25's saturation term uses).
    *
    * Scale shape: one user-partitioned window (ts, event_id total
    * order) computing all three running sums in a single frame pass,
    * then a map-side-combinable groupBy over the 5-value event_type
    * keyspace. At 100 TB: one shuffle by user_id, bounded state per
    * partition (7-row frames), 5-row output.
    */
  private def tsAnomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, 0)
    Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast(LongType).as("x"))
      .select(col("event_type"), col("x").cast(d38).as("x"),
        count(lit(1)).over(w).as("n"),
        sum(col("x").cast(d38)).over(w).as("s"),
        sum(col("x").cast(d38) * col("x").cast(d38)).over(w).as("q"))
      .filter(col("n") === 7)
      .select(col("event_type"),
        when(
          (lit(7).cast(d38) * col("x") - col("s")) *
            (lit(7).cast(d38) * col("x") - col("s")) >
            lit(4).cast(d38) *
              (lit(7).cast(d38) * col("q") - col("s") * col("s")),
          lit(1L)).otherwise(lit(0L)).as("flag"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"), sum(col("flag")).as("n_anomalies"))
      .select(col("event_type"), col("n_eval"), col("n_anomalies"),
        expr("(n_anomalies * 1000000) div n_eval").as("anomaly_ppm"))
  }

  private[queries] val tsAnomalyZscoreSql =
    """WITH cents AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      |  FROM events),
      |roll AS (
      |  SELECT event_type, CAST(x AS HUGEINT) AS x,
      |    count(*) OVER w AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) OVER w AS HUGEINT) AS s,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w
      |      AS HUGEINT) AS q
      |  FROM cents
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |flags AS (
      |  SELECT event_type,
      |    CASE WHEN (7 * x - s) * (7 * x - s) > 4 * (7 * q - s * s)
      |      THEN 1 ELSE 0 END AS flag
      |  FROM roll WHERE n = 7)
      |SELECT event_type, count(*) AS n_eval,
      |  CAST(sum(flag) AS BIGINT) AS n_anomalies,
      |  (CAST(sum(flag) AS BIGINT) * 1000000) // count(*) AS anomaly_ppm
      |FROM flags GROUP BY event_type""".stripMargin

  /** daily OHLC bars (pandas/cudf `resample('D').ohlc()` — cf. the
    * reference's resampler surface, python/cudf/cudf/core/resample.py):
    * per user-day open/high/low/close of the value series in exact
    * integer cents, the bar aggregation every time-series store ships.
    *
    * Open/close are order-statistics, not extremes — they need the
    * FIRST/LAST row by (ts, event_id) within the bar. Both engines
    * compute them from two row_number windows (asc + desc) sharing ONE
    * user-partitioned exchange (same partition key, opposite sort →
    * one shuffle, two in-partition sorts), then a map-side-combinable
    * groupBy collapses each bar: open/close via the rn = 1 rows,
    * high/low/n as plain aggregates. At 100 TB: one shuffle by user,
    * output bounded by the user-day keyspace.
    */
  private def resampleOhlc(s: SparkSession, dir: String): DataFrame = {
    val asc = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val desc = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100 + lit(0.5)).cast(LongType).as("x"))
      .select(col("user_id"), col("day"), col("x"),
        row_number().over(asc).as("rn_a"),
        row_number().over(desc).as("rn_d"))
      .groupBy(col("user_id"), col("day"))
      .agg(
        max(when(col("rn_a") === 1, col("x"))).as("open_cents"),
        max(col("x")).as("high_cents"),
        min(col("x")).as("low_cents"),
        max(when(col("rn_d") === 1, col("x"))).as("close_cents"),
        count(lit(1)).as("n"))
  }

  private[queries] val resampleOhlcSql =
    """WITH cents AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
      |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
      |      ORDER BY ts ASC, event_id ASC) AS rn_a,
      |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT user_id, day,
      |  max(CASE WHEN rn_a = 1 THEN x END) AS open_cents,
      |  max(x) AS high_cents,
      |  min(x) AS low_cents,
      |  max(CASE WHEN rn_d = 1 THEN x END) AS close_cents,
      |  count(*) AS n
      |FROM cents GROUP BY user_id, day""".stripMargin

  /** last-touch attribution (the standard marketing-analytics credit
    * model): every purchase is credited to the user's most recent
    * STRICTLY-earlier touch event (view/click/signup — error events
    * and other purchases never carry credit), '(none)' when no touch
    * precedes. One pass: last(touch, ignoreNulls) over the
    * user-ordered frame [unbounded, -1] carries the running last-touch
    * to each row with no self-join; the purchase filter + channel
    * aggregate collapse map-side. At 100 TB: one shuffle by user,
    * 4-row output.
    */
  private def attributionLastTouch(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(col("user_id"), col("event_type"),
        last(
          when(col("event_type").isin("view", "click", "signup"),
            col("event_type")),
          ignoreNulls = true).over(w).as("touch"))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("(none)")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
  }

  private[queries] val attributionLastTouchSql =
    """WITH touched AS (
      |  SELECT user_id, event_type,
      |    last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
      |      THEN event_type END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events)
      |SELECT coalesce(touch, '(none)') AS channel,
      |  count(*) AS n_purchases,
      |  count(DISTINCT user_id) AS n_users
      |FROM touched WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  /** searchsorted (pandas API surface: `cudf/core/frame.py:1254`,
    * libcudf `search.hpp` lower_bound/upper_bound): insertion indices of
    * probe values into the sorted l_extendedprice column —
    * lo_idx = #{x < p} (side='left'), hi_idx = #{x ≤ p} (side='right').
    *
    * Scale shape: NOT a sort + position lookup — one full scan with a
    * pair of conditional-count partial aggregates per probe (map-side
    * combined, no shuffle of the fact table), then a constant-size
    * stack() unpivot of the single result row. At 100 TB this is one
    * pass over the column regardless of probe count.
    */
  private def searchSorted(s: SparkSession, dir: String): DataFrame = {
    val probes = Seq(1000d, 5000d, 10000d, 25000d, 50000d, 100000d)
    val aggs = probes.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        sum(when(col("l_extendedprice") < p, 1L).otherwise(0L))
          .as(s"lo_$i"),
        sum(when(col("l_extendedprice") <= p, 1L).otherwise(0L))
          .as(s"hi_$i"))
    }
    val one = Tables
      .lineitem(s, dir)
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = probes.zipWithIndex
      .map { case (p, i) => s"CAST($p AS DOUBLE), lo_$i, hi_$i" }
      .mkString(", ")
    one.select(
      expr(s"stack(${probes.size}, $stackArgs) AS (probe, lo_idx, hi_idx)"))
  }

  private val searchSortedSql =
    """SELECT p.probe,
      |  CAST(sum(CASE WHEN l_extendedprice < p.probe THEN 1 ELSE 0 END)
      |    AS BIGINT) AS lo_idx,
      |  CAST(sum(CASE WHEN l_extendedprice <= p.probe THEN 1 ELSE 0 END)
      |    AS BIGINT) AS hi_idx
      |FROM lineitem CROSS JOIN (
      |  SELECT unnest(CAST([1000, 5000, 10000, 25000, 50000, 100000]
      |                     AS DOUBLE[])) AS probe) p
      |GROUP BY 1""".stripMargin

  def queries: Map[String, Q] = Map(
    "sort_searchsorted" -> Q(searchSorted _, searchSortedSql).tag(Sweep),
    "attribution_last_touch" -> Q(attributionLastTouch _, attributionLastTouchSql),
    "resample_ohlc" -> Q(resampleOhlc _, resampleOhlcSql),
    "ts_anomaly_zscore" -> Q(tsAnomalyZscore _, tsAnomalyZscoreSql),
    "drift_tvd" -> Q(driftTvd _, driftTvdSql),
    "drift_window_tvd" -> Q(driftWindowTvd _, driftWindowTvdSql),
    "outlier_mad" -> Q(outlierMad _, outlierMadSql),
    "clean_winsorize" -> Q(cleanWinsorize _, cleanWinsorizeSql).tag(Headline, Basis, Sweep),
    "funnel_conversion" -> Q(funnelConversion _, funnelConversionSql),
    "cohort_retention" -> Q(cohortRetention _, cohortRetentionSql).tag(Headline, Basis),
    "path_transitions" -> Q(pathTransitions _, pathTransitionsSql),
    "twap_daily" -> Q(twapDaily _, twapDailySql),
    "ab_welch_t" -> Q(abWelchT _, abWelchTSql),
    "rfm_segments" -> Q(rfmSegments _, rfmSegmentsSql),
    "win_sliding_distinct" -> Q(slidingDistinct _, slidingDistinctSql),
    "profile_columns" -> Q(profileColumns _, profileColumnsSql),
    "privacy_k_anon" -> Q(privacyKAnon _, privacyKAnonSql),
    "validate_expectations" -> Q(validateExpectations _, validateExpectationsSql),
    "frame_value_counts" -> Q(frameValueCounts _, frameValueCountsSql),
    "frame_describe" -> Q(frameDescribe _, frameDescribeSql),
    "str_partition_points" -> Q(strPartitionPoints _, strPartitionPointsSql),
    "interval_overlap" -> Q(intervalOverlap _, intervalOverlapSql),
    "resample_asfreq" -> Q(resampleAsfreq _, resampleAsfreqSql),
    "resample_interpolate" -> Q(resampleInterpolate _, resampleInterpolateSql).tag(Headline, Basis),
    "filter_isin" -> Q(filterIsin _, filterIsinSql),
    "win_sessionize" -> Q(sessionize _, sessionizeSql),
    "agg_quantile_modes" -> Q(quantileModes _, quantileModesSql),
    "str_extract_all" -> Q(extractAll _, extractAllSql),
    "dedup_keep_last" -> Q(dedupKeepLast _, dedupKeepLastSql),
    "merge_sorted" -> Q(mergeSorted _, mergeSortedSql),
    "interleave_columns" -> Q(interleave _, interleaveSql),
    "crosstab_counts" -> Q(crosstabCounts _, crosstabCountsSql),
    "win_group_bfill" -> Q(groupBfill _, groupBfillSql),
    "agg_merge_lists" -> Q(mergeLists _, mergeListsSql),
    "sample_rows" -> Q(sampleRows _, None),
    "sample_hash_rows" -> Q(sampleHashRows _, sampleHashRowsSql),
    "reverse_rows" -> Q(reverseRows _, reverseRowsSql)
  )
}
