package graft.queries

import graft.{Q, Tables}
import graft.Tag.{Basis, Headline, Sweep}
import graft.Agg.{dsum, dsumSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** String↔value conversions and remaining §2.8 surface
  * (`cpp/include/cudf/strings/convert/convert_{booleans,floats,integers,
  * ipv4,urls}.hpp`, `combine.hpp:77`, `find_multiple.hpp:58`,
  * `translate.hpp:55`; datetime ceil/round `datetime.hpp:268-302`;
  * dictionary encode `transform.hpp:149` / `dictionary/encode.hpp:59`).
  */
object Conversions {

  /** to/from integers, floats, booleans + try-cast validators
    * (convert_integers.hpp, convert_floats.hpp, convert_booleans.hpp,
    * is_* validators → try_cast IS NOT NULL).
    */
  private def castRoundtrip(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .select(
        col("o_orderkey"),
        col("o_orderkey").cast(StringType).as("key_str"),
        col("o_orderkey").cast(StringType).cast(LongType).as("key_back"),
        col("o_totalprice").cast(StringType).cast(DoubleType).as("price_back"),
        when(col("o_orderstatus") === "F", "true").otherwise("false")
          .cast(BooleanType).as("bool_from_str"),
        try_to_number(concat(lit("12"), col("o_orderkey").cast(StringType)), lit("999999999"))
          .cast(LongType).as("parsed_num"),
        expr("try_cast(o_orderpriority AS INT)").isNotNull.as("is_numeric"))

  private val castRoundtripSql =
    """SELECT o_orderkey,
      |  CAST(o_orderkey AS VARCHAR) AS key_str,
      |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_back,
      |  CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS price_back,
      |  CAST(CASE WHEN o_orderstatus = 'F' THEN 'true' ELSE 'false' END
      |    AS BOOLEAN) AS bool_from_str,
      |  try_cast('12' || CAST(o_orderkey AS VARCHAR) AS BIGINT) AS parsed_num,
      |  try_cast(o_orderpriority AS INT) IS NOT NULL AS is_numeric
      |FROM orders""".stripMargin

  /** integers ↔ IPv4 dotted-quad (convert_ipv4.hpp) via pure integer
    * arithmetic — portable to any engine.
    */
  private def ipv4Conv(s: SparkSession, dir: String): DataFrame = {
    val ip = col("c_custkey") * 2654435761L % 4294967296L
    Tables
      .customer(s, dir)
      .select(col("c_custkey"), ip.as("ip_int"))
      .select(
        col("c_custkey"),
        col("ip_int"),
        concat_ws(".",
          (col("ip_int") / 16777216).cast(LongType),
          (col("ip_int") / 65536 % 256).cast(LongType),
          (col("ip_int") / 256 % 256).cast(LongType),
          (col("ip_int") % 256).cast(LongType)).as("ip_str"))
  }

  private val ipv4ConvSql =
    """SELECT c_custkey, ip_int,
      |  concat_ws('.', CAST(ip_int // 16777216 AS BIGINT),
      |                 CAST(ip_int // 65536 % 256 AS BIGINT),
      |                 CAST(ip_int // 256 % 256 AS BIGINT),
      |                 CAST(ip_int % 256 AS BIGINT)) AS ip_str
      |FROM (SELECT c_custkey,
      |        c_custkey * 2654435761 % 4294967296 AS ip_int
      |      FROM customer)""".stripMargin

  /** URL component extraction (convert_urls.hpp / parse_url) via
    * dialect-neutral regex.
    */
  private def urlParse(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast(StringType), lit("?lang="), col("lang")).as("url"))
      .select(
        col("doc_id"),
        col("url"),
        regexp_extract(col("url"), "^([a-z]+)://", 1).as("scheme"),
        regexp_extract(col("url"), "://([^/]+)/", 1).as("host"),
        regexp_extract(col("url"), "://[^/]+(/[^?]*)", 1).as("path"),
        regexp_extract(col("url"), "\\?lang=([a-z]+)", 1).as("query_lang"))

  private val urlParseSql =
    """SELECT doc_id, url,
      |  regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
      |  regexp_extract(url, '://([^/]+)/', 1) AS host,
      |  regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
      |  regexp_extract(url, '\?lang=([a-z]+)', 1) AS query_lang
      |FROM (SELECT doc_id,
      |        'https://' || source || '.example.com/docs/' ||
      |        CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      |      FROM documents)""".stripMargin

  /** join_strings (combine.hpp:77: column → one string per group) +
    * translate (translate.hpp:55) + find_multiple (find_multiple.hpp:58).
    */
  private def combineFind(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        array_join(sort_array(collect_set(col("source"))), ",").as("sources_joined"),
        count(lit(1)).as("n_docs"))

  private val combineFindSql =
    """SELECT lang,
      |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources_joined,
      |  count(*) AS n_docs
      |FROM documents GROUP BY lang""".stripMargin

  private def translateFilter(s: SparkSession, dir: String): DataFrame =
    Tables
      .part(s, dir)
      .select(
        col("p_partkey"),
        translate(col("p_name"), "aeiou", "AEIOU").as("translated"),
        regexp_replace(col("p_name"), "[^a-z]", "").as("letters_only"),
        graft.ArrCanon.joined(
          expr("transform(array('a', 'e', 'gear'), sub -> instr(p_name, sub))"))
          .as("find_positions"))

  private val translateFilterSql =
    s"""SELECT p_partkey,
      |  translate(p_name, 'aeiou', 'AEIOU') AS translated,
      |  regexp_replace(p_name, '[^a-z]', '', 'g') AS letters_only,
      |  ${graft.ArrCanon.joinedSql(
            "list_transform(['a', 'e', 'gear'], sub -> instr(p_name, sub))")}
      |    AS find_positions
      |FROM part""".stripMargin

  /** datetime ceil/floor/round to month (datetime.hpp:268-302): floor =
    * date_trunc; ceil = floor + 1 month unless already aligned; round by
    * mid-month comparison — identical CASE logic in both engines.
    */
  private def dtCeilRound(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("floor_month"),
        when(date_trunc("month", col("o_orderdate")) === col("o_orderdate"),
          col("o_orderdate"))
          .otherwise(add_months(date_trunc("month", col("o_orderdate")), 1))
          .cast(DateType).as("ceil_month"),
        when(dayofmonth(col("o_orderdate")) <= 15,
          date_trunc("month", col("o_orderdate")))
          .otherwise(add_months(date_trunc("month", col("o_orderdate")), 1))
          .cast(DateType).as("round_month"))

  private val dtCeilRoundSql =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS floor_month,
      |  CAST(CASE WHEN date_trunc('month', o_orderdate) = o_orderdate
      |       THEN o_orderdate
      |       ELSE date_trunc('month', o_orderdate) + INTERVAL 1 MONTH
      |       END AS DATE) AS ceil_month,
      |  CAST(CASE WHEN day(o_orderdate) <= 15
      |       THEN date_trunc('month', o_orderdate)
      |       ELSE date_trunc('month', o_orderdate) + INTERVAL 1 MONTH
      |       END AS DATE) AS round_month
      |FROM orders""".stripMargin

  /** dictionary encode (transform.hpp:149, dictionary/encode.hpp:59):
    * value → dense integer code via a ranked dimension table join —
    * the distributed form of dictionary encoding.
    */
  private def dictEncode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = Tables
      .part(s, dir)
      .select(col("p_type")).distinct()
      // Bounded dictionary domain: single-partition by design; the
      // constant partition key silences WindowExec's warning without
      // changing the ranking. length(p_type)*0 (p_type is non-null)
      // rather than lit(0): the optimizer prunes foldable partition
      // keys back to an empty spec (see Similarity.centroids).
      .withColumn("type_code",
        row_number().over(
          Window.partitionBy(length(col("p_type")) * lit(0))
            .orderBy(col("p_type"))) - 1)
    Tables
      .part(s, dir)
      .join(broadcast(dict), "p_type")
      .select(col("p_partkey"), col("p_type"), col("type_code"))
  }

  private val dictEncodeSql =
    """SELECT p_partkey, p_type, type_code
      |FROM part JOIN (
      |  SELECT p_type, row_number() OVER (ORDER BY p_type) - 1 AS type_code
      |  FROM (SELECT DISTINCT p_type FROM part)) d
      |USING (p_type)""".stripMargin

  /** byte_cast (reshape/byte_cast.hpp — reinterpret a numeric column as
    * its byte image): big-endian int64 byte image as a 16-digit hex
    * string, plus a REAL reinterpretation to BinaryType via `unhex` on
    * the Spark side (ANSI forbids a direct long→binary cast). The oracle
    * mirrors with to_hex/from_hex; both engines agree hex is uppercase
    * with no leading zeros, so the fixed width comes from lpad.
    */
  private def byteCast(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .filter(col("o_orderkey") < 30000)
      .select(
        col("o_orderkey"),
        hex(col("o_orderkey")).as("hex_key"),
        lpad(hex(col("o_orderkey")), 16, "0").as("bytes_hex"),
        octet_length(unhex(lpad(hex(col("o_orderkey")), 16, "0")))
          .as("n_bytes"),
        // low byte via the byte image (value mod 256, from bytes not math)
        expr("conv(substring(lpad(hex(o_orderkey), 16, '0'), 15, 2), 16, 10)")
          .cast(IntegerType).as("low_byte"))

  private val byteCastSql =
    """SELECT o_orderkey,
      |  to_hex(o_orderkey) AS hex_key,
      |  lpad(to_hex(o_orderkey), 16, '0') AS bytes_hex,
      |  octet_length(from_hex(lpad(to_hex(o_orderkey), 16, '0'))) AS n_bytes,
      |  CAST(o_orderkey % 256 AS INTEGER) AS low_byte
      |FROM orders WHERE o_orderkey < 30000""".stripMargin

  /** Z-order (Morton) code of (l_partkey, l_suppkey) — the clustering
    * key behind `operators.ZOrder.clusterByZ` (file-skipping layout; see
    * that object's doc for the 100 TB rationale). The bit-interleave is
    * pure shift/and/or integer arithmetic, mirrored step-for-step in the
    * oracle's CTE chain, so the 32-bit code is bit-exact across engines.
    * `zbucket` (code >> 24) is the coarse range a file would cover.
    */
  private def zorderCode(s: SparkSession, dir: String): DataFrame = {
    val z = graft.operators.ZOrder.zValue2(col("l_partkey"), col("l_suppkey"))
    Tables
      .lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        z.as("z"),
        shiftrightunsigned(z, 24).as("zbucket"))
  }

  private val zorderCodeSql =
    """WITH m AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    (l_partkey & 65535) AS xa, (l_suppkey & 65535) AS xb
      |  FROM lineitem),
      |s1 AS (SELECT *, ((xa | (xa << 8)) & 16711935) AS a1,
      |               ((xb | (xb << 8)) & 16711935) AS b1 FROM m),
      |s2 AS (SELECT *, ((a1 | (a1 << 4)) & 252645135) AS a2,
      |               ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s1),
      |s3 AS (SELECT *, ((a2 | (a2 << 2)) & 858993459) AS a3,
      |               ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s2),
      |s4 AS (SELECT *, ((a3 | (a3 << 1)) & 1431655765) AS a4,
      |               ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM s3)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(a4 | (b4 << 1) AS BIGINT) AS z,
      |  CAST((a4 | (b4 << 1)) >> 24 AS BIGINT) AS zbucket
      |FROM s4""".stripMargin

  /** One-time z-order-clustered lineitem copy for [[scanZorderPruned]]
    * (write-once/scan-many via [[graft.DimCache]], the same lifecycle as
    * `join_bucketed`'s bucketed tables). 64 files ⇒ ~8×8 tiles of the
    * (partkey, suppkey) space, so a ~15% slice on EACH key overlaps only
    * ~2 tiles per dimension.
    */
  private def zorderedLineitemPath(s: SparkSession, dir: String): String = {
    val path = graft.DimCache.artifactPath("zscan", dir)
    graft.DimCache.cached(s"zscan-layout:$dir") {
      graft.operators.ZOrder.clusterByZ(
        Tables.lineitem(s, dir).select(
          col("l_partkey"), col("l_suppkey"),
          col("l_returnflag"), col("l_quantity")),
        Seq("l_partkey", "l_suppkey"), 64)
        .write.mode("overwrite").parquet(path)
      path
    }
  }

  /** Slice bounds at 35%–50% of each key's range, in pure BIGINT
    * arithmetic so the oracle's scalar subquery computes the identical
    * values (`//` in DuckDB = Scala Long division for non-negatives).
    */
  private def zscanBounds(s: SparkSession, dir: String): (Long, Long, Long, Long) =
    graft.DimCache.cached(s"zscan-bounds:$dir") {
      val r = Tables.lineitem(s, dir)
        .agg(min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
          min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long"))
        .head()
      val (pmn, pmx, smn, smx) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      (pmn + (pmx - pmn) * 7 / 20, pmn + (pmx - pmn) * 10 / 20,
        smn + (smx - smn) * 7 / 20, smn + (smx - smn) * 10 / 20)
    }

  /** The read path the z-order layout exists for: a selective
    * two-predicate scan (one predicate on EACH clustered key) over the
    * z-written lineitem copy. Parquet row-group min/max stats prune most
    * files because every file covers one compact (partkey, suppkey)
    * tile — no reader cooperation needed beyond ordinary pushdown. The
    * oracle computes the same aggregate from the RAW lineitem parquet,
    * so the green row proves the clustered copy is faithful; the Bench
    * entry times this scan and reports its rows-read metric (ref
    * `cpp/src/io/parquet/predicate_pushdown.cpp:100-176` — the same
    * stats-based pruning, here via layout instead of a reader rewrite).
    */
  private def scanZorderPruned(s: SparkSession, dir: String): DataFrame = {
    val (pkLo, pkHi, skLo, skHi) = zscanBounds(s, dir)
    s.read.parquet(zorderedLineitemPath(s, dir))
      .filter(col("l_partkey").between(pkLo, pkHi) &&
        col("l_suppkey").between(skLo, skHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
  }

  private val scanZorderPrunedSql =
    s"""WITH b AS (
       |  SELECT min(l_partkey) + (max(l_partkey) - min(l_partkey)) * 7 // 20 AS pk_lo,
       |         min(l_partkey) + (max(l_partkey) - min(l_partkey)) * 10 // 20 AS pk_hi,
       |         min(l_suppkey) + (max(l_suppkey) - min(l_suppkey)) * 7 // 20 AS sk_lo,
       |         min(l_suppkey) + (max(l_suppkey) - min(l_suppkey)) * 10 // 20 AS sk_hi
       |  FROM lineitem)
       |SELECT l_returnflag, count(*) AS n_rows,
       |  ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem, b
       |WHERE l_partkey BETWEEN pk_lo AND pk_hi
       |  AND l_suppkey BETWEEN sk_lo AND sk_hi
       |GROUP BY l_returnflag""".stripMargin

  /** One-time bloom-filtered (or bloom-less control) events copy for
    * [[scanBloomPruned]] — the point-lookup counterpart of the z-order
    * layout (SURVEY §6: parquet bloom-filter pruning, "built-in since
    * Spark 3.5 — verify"; ref `cpp/src/io/parquet/bloom_filter_reader.cu`
    * — the same split-block bloom row-group skipping, here via Spark's
    * parquet-mr writer/reader).
    *
    * The copy is deliberately HOSTILE to stats pruning: rows are
    * scattered by a Lehmer hash of the id so every row group's
    * [min, max] spans the whole id domain, and dictionary encoding is
    * disabled — the honest 100 TB configuration, where a
    * corpus-cardinality id column overflows the dictionary-page budget
    * and falls back to plain encoding on its own (dictionary-page
    * row-group filtering, parquet-mr's other point-lookup pruner, is
    * then unavailable exactly when bloom matters). Small
    * `parquet.block.size` stands in for production's many row groups
    * per file. With that layout, the per-column bloom filter is the
    * ONLY thing standing between a point probe and a full scan —
    * ZOrderSpec measures rows-read on this copy vs the bit-identical
    * bloom-less control.
    */
  private[graft] def bloomedEventsPath(
      s: SparkSession, dir: String, bloom: Boolean): String = {
    val suffix = if (bloom) "bloom" else "plain"
    val path = graft.DimCache.artifactPath(s"bscan_$suffix", dir)
    graft.DimCache.cached(s"bscan-layout:$suffix:$dir") {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val ndv = ev.count()
      // xxhash64, not the Lehmer fold: the scatter key is LAYOUT-ONLY
      // (the oracle never sees it), and the Lehmer fold is monotonic
      // until id*48271 first wraps its modulus (~id 44k) — on a small
      // id domain it would silently leave the copy id-SORTED, handing
      // min/max stats the pruning power this layout exists to deny.
      val scattered = ev
        .repartition(2, xxhash64(col("event_id")))
        .sortWithinPartitions(xxhash64(col("event_id")))
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .option("parquet.enable.dictionary", "false")
      val w =
        if (bloom) scattered
          .option("parquet.bloom.filter.enabled#event_id", "true")
          .option("parquet.bloom.filter.expected.ndv#event_id", ndv.toString)
        else scattered
      w.parquet(path)
      path
    }
  }

  /** Deterministic existing-id probe set: the 4 event_ids nearest the
    * middle of the id domain (ties to the lower id). Mid-domain is the
    * honest probe for a bloom demo — an edge-of-domain id (the naive
    * "first 4 ids" pick) sits OUTSIDE many scattered row groups'
    * [min, max] and row-group stats prune it by accident, crediting the
    * bloom filter for work the stats did. A mid id is inside every
    * scattered group's range, so nothing but the bloom can skip.
    */
  private[graft] def bloomProbeIds(s: SparkSession, dir: String): Seq[Long] =
    graft.DimCache.cached(s"bscan-probes:$dir") {
      val b = Tables.events(s, dir)
        .agg(min(col("event_id")).cast("long"), max(col("event_id")).cast("long"))
        .head()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      Tables.events(s, dir)
        .select(col("event_id"))
        .orderBy(abs(col("event_id") - lit(mid)), col("event_id"))
        .limit(4)
        .collect().map(_.getLong(0)).toSeq
    }

  /** The read path the bloom layout exists for: a 4-id point lookup over
    * the scattered copy. Row groups whose split-block bloom filter
    * excludes all probe ids are skipped entirely by parquet-mr's
    * row-group filtering under ordinary `spark.sql.parquet.filterPushdown`
    * — no reader rewrite, exactly like the z-order min/max path. The
    * oracle computes the same 4 rows from the RAW events parquet, so the
    * green row proves the scattered copy is faithful; ZOrderSpec asserts
    * the pruning itself (bloom copy reads a fraction of the rows the
    * bloom-less control reads).
    */
  private def scanBloomPruned(s: SparkSession, dir: String): DataFrame = {
    val probes = bloomProbeIds(s, dir)
    s.read.parquet(bloomedEventsPath(s, dir, bloom = true))
      .filter(col("event_id").isin(probes: _*))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
  }

  private val scanBloomPrunedSql =
    """WITH b AS (
      |  SELECT CAST((min(event_id) + max(event_id)) // 2 AS BIGINT) AS mid
      |  FROM events),
      |p AS (
      |  SELECT event_id FROM events, b
      |  ORDER BY abs(event_id - mid), event_id LIMIT 4)
      |SELECT e.event_id, e.user_id, e.event_type, e.value
      |FROM events e JOIN p USING (event_id)""".stripMargin

  /** Business-day (weekday) arithmetic — the SLA/lead-time calendar op
    * every warehouse reports with: order-to-ship weekday lead time per
    * return flag. Portable via the Monday-anchored epoch
    * fold, NOT the engines' dayofweek (Spark counts 1 = Sunday, DuckDB
    * 0 = Sunday — a dialect trap): with e(d) = days since 1970-01-05
    * (a Monday), the weekdays strictly before d are
    * g(d) = (e div 7)·5 + least(e mod 7, 5), and the span count is
    * g(ship) − g(order) — pure integer arithmetic on date
    * differences both engines compute identically (TPC-H dates are all
    * post-epoch, so the div/mod never see negatives). One fact-to-fact join on the order key
    * (co-partitioned shuffle), map-side g() folds, one group aggregate; avg reported in exact micro units.
    */
  private def dtBusinessDays(s: SparkSession, dir: String): DataFrame = {
    def g(d: org.apache.spark.sql.Column) = {
      // e >= 0 for all TPC-H dates, so floor(e/7) == e div 7 and % is
      // the plain non-negative remainder — no negative-modulo dialect
      // hazard reaches the formula
      val e = datediff(d, lit("1970-01-05").cast(DateType))
      floor(e / lit(7)).cast(LongType) * 5 +
        least(e % lit(7), lit(5)).cast(LongType)
    }
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_returnflag"),
        (g(col("l_shipdate")) - g(col("o_orderdate"))).as("biz"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("biz")).as("sum_biz"),
        max(col("biz")).as("max_biz"))
      .select(col("l_returnflag"), col("n"),
        expr("(sum_biz * 1000000) div n").as("avg_biz_micro"),
        col("max_biz"))
  }

  private val dtBusinessDaysSql = {
    def g(d: String) =
      s"(((CAST($d AS DATE) - DATE '1970-01-05') // 7) * 5 + " +
        s"least((CAST($d AS DATE) - DATE '1970-01-05') % 7, 5))"
    s"""SELECT l_returnflag, count(*) AS n,
       |  CAST((CAST(sum(${g("l_shipdate")} - ${g("o_orderdate")})
       |    AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS avg_biz_micro,
       |  CAST(max(${g("l_shipdate")} - ${g("o_orderdate")}) AS BIGINT)
       |    AS max_biz
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY l_returnflag""".stripMargin
  }

  /** tz_localize / tz_convert (pandas API surface:
    * `cudf/core/series.py:4999-5010`, `cudf/core/_internals/timezones.py`):
    * wall-clock ↔ instant moves between zones.
    *
    *   - localize: treat the stored wall time as America/New_York /
    *     Asia/Tokyo local and return the UTC instant
    *     (`to_utc_timestamp` ↔ DuckDB `timezone(tz, TIMESTAMP)`);
    *   - convert: view the UTC instant on a target zone's wall clock
    *     (`from_utc_timestamp` ↔ `timezone(tz, TIMESTAMPTZ)`).
    *
    * Gate conventions: outputs are epoch BIGINT / extracted fields, not
    * raw timestamps (Spark writes tz-adjusted µs; DuckDB returns naive).
    * Both engines resolve zone rules from current tzdata/ICU — identical
    * here except inside DST gap/ambiguous wall hours, where engines may
    * legally pick different offsets; this data spans January only (no
    * transition in range) and Tokyo has no DST, so the convention is
    * exact on the gate. A production caller localizing arbitrary
    * wall times should treat gap/ambiguous hours as engine-defined.
    * Pure projection: whole-stage codegen, no shuffle.
    */
  private def dtTzOps(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        col("event_id"),
        unix_timestamp(col("ts")).as("epoch_utc"),
        unix_timestamp(to_utc_timestamp(col("ts"), "America/New_York"))
          .as("localize_ny_epoch"),
        unix_timestamp(to_utc_timestamp(col("ts"), "Asia/Tokyo"))
          .as("localize_tokyo_epoch"),
        hour(from_utc_timestamp(col("ts"), "America/New_York"))
          .cast(LongType)
          .as("ny_hour"),
        date_format(from_utc_timestamp(col("ts"), "Asia/Tokyo"),
          "yyyy-MM-dd").as("tokyo_date"))

  private val dtTzOpsSql =
    """SELECT event_id,
      |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_utc,
      |  CAST(floor(epoch(timezone('America/New_York',
      |    CAST(ts AS TIMESTAMP)))) AS BIGINT) AS localize_ny_epoch,
      |  CAST(floor(epoch(timezone('Asia/Tokyo',
      |    CAST(ts AS TIMESTAMP)))) AS BIGINT) AS localize_tokyo_epoch,
      |  CAST(hour(timezone('America/New_York',
      |    timezone('UTC', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS ny_hour,
      |  strftime(timezone('Asia/Tokyo',
      |    timezone('UTC', CAST(ts AS TIMESTAMP))), '%Y-%m-%d') AS tokyo_date
      |FROM events""".stripMargin

  def queries: Map[String, Q] = Map(
    "dt_tz_ops" -> Q(dtTzOps _, dtTzOpsSql),
    "dt_business_days" -> Q(dtBusinessDays _, dtBusinessDaysSql),
    "conv_zorder" -> Q(zorderCode _, zorderCodeSql),
    "scan_zorder_pruned" -> Q(scanZorderPruned _, scanZorderPrunedSql).tag(Headline, Basis),
    "scan_bloom_pruned" -> Q(scanBloomPruned _, scanBloomPrunedSql).tag(Headline, Sweep),
    "conv_byte_cast" -> Q(byteCast _, byteCastSql),
    "conv_cast_roundtrip" -> Q(castRoundtrip _, castRoundtripSql),
    "conv_ipv4" -> Q(ipv4Conv _, ipv4ConvSql),
    "conv_url_parse" -> Q(urlParse _, urlParseSql),
    "str_join_strings" -> Q(combineFind _, combineFindSql),
    "str_translate_find" -> Q(translateFilter _, translateFilterSql),
    "dt_ceil_round" -> Q(dtCeilRound _, dtCeilRoundSql),
    "dict_encode" -> Q(dictEncode _, dictEncodeSql)
  )
}
