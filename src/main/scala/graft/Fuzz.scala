package graft

import scala.util.Random

/** Differential query fuzzer: generates seeded-random queries from a
  * PORTABLE SQL grammar (constructs verified semantics-identical between
  * Spark and DuckDB — integer arithmetic, exact aggregates, string/date
  * functions from a fixed whitelist), executes them on Spark, and dumps
  * each result + its SQL in the Verify layout, so `tools/check.py`
  * replays them on DuckDB
  * and cell-compares — the randomized complement of the fixed-query
  * oracle gate (catches semantics drift the hand-written inventory
  * doesn't reach).
  *
  * Exactness rules obeyed by the grammar: no double arithmetic in
  * aggregates (bigint sums only), no engine string-repr of floats, no
  * nondeterministic functions, every ORDER BY total.
  *
  * Usage: runMain graft.Fuzz <sfDir> <outDir> [nQueries] [seed]
  */
object Fuzz {

  final case class Gen(rng: Random) {
    private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))

    // lineitem(+orders when in join mode) columns (testdata schema)
    private val liInt = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    private val liStr = Seq("l_returnflag", "l_linestatus")
    private val liDate = Seq("l_shipdate")
    private var joinMode = false
    private def intCols = if (joinMode) liInt :+ "o_custkey" else liInt
    private def strCols =
      if (joinMode) liStr ++ Seq("o_orderstatus", "o_orderpriority") else liStr
    private def dateCols = if (joinMode) liDate :+ "o_orderdate" else liDate

    def intExpr(depth: Int = 0): String =
      if (depth >= 2 || rng.nextInt(3) == 0) pick(intCols)
      else pick(Seq(
        // null injection + rescue: the testdata has no natural nulls, so
        // nullif seeds them to fuzz null propagation through exprs/aggs
        s"nullif(${pick(intCols)}, ${1 + rng.nextInt(10)})",
        s"coalesce(nullif(${intExpr(depth + 1)}, ${rng.nextInt(100)}), ${rng.nextInt(50)})",
        s"(${intExpr(depth + 1)} + ${1 + rng.nextInt(100)})",
        // bare subtraction (NOT wrapped in abs) drives NEGATIVE values
        // into %, greatest/least, and null rescues — pinning that both
        // engines keep the dividend's sign for negative modulo (the
        // semantics the r9 verdict wrongly suspected of diverging)
        s"(${intExpr(depth + 1)} - ${1 + rng.nextInt(1000)})",
        s"(${intExpr(depth + 1)} * ${1 + rng.nextInt(9)})",
        s"(${intExpr(depth + 1)} % ${2 + rng.nextInt(50)})",
        s"abs(${intExpr(depth + 1)} - ${rng.nextInt(1000)})",
        s"greatest(${intExpr(depth + 1)}, ${intExpr(depth + 1)})",
        s"least(${intExpr(depth + 1)}, ${intExpr(depth + 1)})",
        s"length(${strExpr(depth + 1)})",
        s"year(${pick(dateCols)})",
        s"month(${pick(dateCols)})",
        s"day(${pick(dateCols)})"))

    def strExpr(depth: Int = 0): String =
      if (depth >= 2 || rng.nextInt(3) == 0) pick(strCols)
      else pick(Seq(
        s"nullif(${pick(strCols)}, '${pick(Seq("N", "O", "F"))}')",
        s"coalesce(nullif(${strExpr(depth + 1)}, 'A'), 'z')",
        s"upper(${strExpr(depth + 1)})",
        s"lower(${strExpr(depth + 1)})",
        s"substr(${strExpr(depth + 1)}, 1, ${1 + rng.nextInt(4)})",
        // `||`, NOT concat(): DuckDB's concat() skips NULL arguments
        // while Spark's propagates them (found by this fuzzer, seed
        // 4242/fz_004); the || operator is null-propagating in both.
        s"(${strExpr(depth + 1)} || '_' || ${strExpr(depth + 1)})",
        s"replace(${strExpr(depth + 1)}, 'A', 'x')",
        s"trim(${strExpr(depth + 1)})",
        s"reverse(${strExpr(depth + 1)})"))

    def pred(depth: Int = 0): String =
      if (depth >= 2 || rng.nextInt(3) == 0) pick(Seq(
        s"${intExpr(1)} ${pick(Seq("<", "<=", ">", ">=", "=", "<>"))} ${rng.nextInt(2000)}",
        s"${pick(strCols)} ${pick(Seq("=", "<>"))} '${pick(Seq("N", "O", "F", "A", "R"))}'",
        s"${pick(dateCols)} ${pick(Seq("<", ">="))} DATE '${1993 + rng.nextInt(6)}-0${1 + rng.nextInt(9)}-15'",
        s"${pick(intCols)} IN (${Seq.fill(3)(rng.nextInt(500)).mkString(", ")})",
        s"(nullif(${pick(intCols)}, ${1 + rng.nextInt(7)}) IS NULL)",
        s"(${strExpr(1)} IS NOT NULL)"))
      else pick(Seq(
        s"(${pred(depth + 1)} AND ${pred(depth + 1)})",
        s"(${pred(depth + 1)} OR ${pred(depth + 1)})",
        s"(NOT ${pred(depth + 1)})"))

    /** One full query: filtered projection, exact aggregation, or a
      * join aggregation over lineitem ⋈ orders.
      */
    /** Timestamp component over events.ts — `CAST(ts AS TIMESTAMP)` is
      * the portable bridge: a no-op on the Spark side (µs already) and
      * the ns→µs truncation DuckDB applies reading TIMESTAMP(NANOS).
      */
    private def tsComp(): String =
      s"${pick(Seq("year", "month", "day", "hour", "minute"))}(CAST(ts AS TIMESTAMP))"

    /** events predicate pool, shared by every events-table template. */
    private def eventsPred(): String = {
      val et = pick(Seq("click", "view", "purchase", "signup", "error"))
      pick(Seq(
        s"event_type = '$et'",
        s"event_type <> '$et'",
        s"user_id % ${2 + rng.nextInt(20)} = 0",
        s"${tsComp()} ${pick(Seq("<", ">=", "="))} ${rng.nextInt(24)}"))
    }

    def query(): String = {
      val kind = rng.nextInt(18)
      if (kind == 17) {
        // TIE-RANK + PCT-CHANGE template (r14): the derived rank tie
        // methods (avg = rnk + (ties−1)/2, max = rnk + ties − 1) and
        // the lag-ratio pct_change — the two window conventions the
        // round-14 queries rely on. avg_rnk exercises BIGINT + DOUBLE
        // promotion on both engines (DuckDB `/` is float division, so
        // the 2.0 divisor lands DOUBLE, not DECIMAL); pct_chg is two
        // correctly-rounded IEEE ops on identical inputs under a
        // unique (ts, event_id) order, so the double is bit-exact
        // cross-engine; nullif guards the (here impossible) zero lag.
        // The divisor is spelled 2e0: in SHARED SQL Spark parses a
        // `2.0` literal as DECIMAL(2,1) (→ DECIMAL(28,6) division,
        // type-gate fail), while the Scala-DSL twin's lit(2.0) is a
        // double — the exponent form is DOUBLE in both parsers.
        val d = 5 + rng.nextInt(16)
        val k = 1 + rng.nextInt(2)
        return s"""SELECT user_id, event_id, vbin,
           |  CAST(rank() OVER w + count(*) OVER wt - 1 AS BIGINT)
           |    AS max_rnk,
           |  rank() OVER w + (count(*) OVER wt - 1) / 2e0 AS avg_rnk,
           |  (v - lag(v, $k) OVER wo) / nullif(lag(v, $k) OVER wo, 0)
           |    AS pct_chg
           |FROM (
           |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tse,
           |    value AS v, CAST(floor(value / $d) AS BIGINT) AS vbin
           |  FROM events WHERE ${eventsPred()})
           |WINDOW w  AS (PARTITION BY user_id ORDER BY vbin),
           |       wt AS (PARTITION BY user_id, vbin),
           |       wo AS (PARTITION BY user_id ORDER BY tse, event_id)""".stripMargin
      }
      if (kind == 16) {
        // STRING-BUILDER parity template (r11): the pad/repeat/position/
        // translate/split_part family over documents, with nullif-
        // injected NULLs flowing through concat_ws (null-SKIPPING in
        // both dialects, unlike concat() — the seed-4242 trap this
        // grammar already pins for `||`). instr is 1-based with 0 for
        // no-match in both; split_part out-of-range yields '' in both;
        // translate with a shorter `to` DELETES the tail chars in both.
        val d = 1 + rng.nextInt(3)
        val needle = pick(Seq("data", "key", "row", "spark", "zz"))
        return s"""SELECT doc_id,
           |  concat_ws('-', nullif(lang, '${pick(Seq("en", "de", "fr"))}'),
           |    source, nullif(lang, 'zh')) AS t1,
           |  lpad(source, ${3 + rng.nextInt(8)}, '*') AS t2,
           |  rpad(lang, ${3 + rng.nextInt(6)}, '.') AS t3,
           |  repeat(lang, ${1 + rng.nextInt(3)}) AS t4,
           |  CAST(instr(text, '$needle') AS BIGINT) AS p1,
           |  split_part(text, ' ', ${1 + rng.nextInt(6)}) AS w1,
           |  translate(lang, 'aeiou', 'xy') AS t5,
           |  left(text, ${1 + rng.nextInt(12)}) AS h1,
           |  right(source, ${1 + rng.nextInt(4)}) AS h2
           |FROM documents WHERE doc_id % $d = 0""".stripMargin
      }
      if (kind == 15) {
        // WIDENING-SENSITIVE template (r11, after the HUGEINT incident):
        // the shapes DuckDB widens to HUGEINT — sum-of-sum chains,
        // products inside min/max folds, floor-division over SIGNED
        // sums — each carrying the repo convention's CAST(... AS
        // BIGINT). tools/check.py's type gate then verifies BOTH value
        // and result-type agreement, so a convention regression (a
        // dropped cast, or an engine changing its widening rules) fails
        // the seeded run instead of hiding until a driver gate.
        // floor(a / b) is the portable signed integer division here
        // (both engines: exact double division of sub-2^52 ints, then
        // floor) — `div`/`//` spellings are dialect-specific.
        val c1 = 1 + rng.nextInt(9)
        val c2 = 2 + rng.nextInt(50)
        val shift = 100 + rng.nextInt(2000) // drives d1 negative
        return s"""SELECT k, count(*) AS n,
           |  CAST(sum(s1) AS BIGINT) AS ss,
           |  CAST(min(s1 * $c1) AS BIGINT) AS mns,
           |  CAST(max(d1) AS BIGINT) AS mxd,
           |  CAST(sum(CAST(floor(CAST(d1 AS DOUBLE) / $c2) AS BIGINT))
           |    AS BIGINT) AS sq
           |FROM (
           |  SELECT ${strExpr(1)} AS k, l_linenumber AS k2,
           |    CAST(sum(${intExpr(1)}) AS BIGINT) AS s1,
           |    CAST(sum(${intExpr(1)} - $shift) AS BIGINT) AS d1
           |  FROM lineitem WHERE ${pred()}
           |  GROUP BY 1, 2) t
           |GROUP BY k""".stripMargin
      }
      if (kind == 14) {
        // RANGE window-frame template: value-based frames over epoch
        // micros — the frame family where engine dialects actually
        // diverge (bound inclusion, peer handling; the ROWS templates
        // never reach it). ORDER BY a numeric epoch key with random
        // second-scale bounds in µs; every aggregate over the frame is
        // peer-complete, so ties in ts need no tiebreaker to be
        // deterministic. `unix_micros` is bridged to DuckDB's
        // `epoch_us` by a tools/check.py macro (same µs BIGINT).
        val part = pick(Seq("user_id", "event_type"))
        val lo = (1 + rng.nextInt(600)) * 1000000L
        val hi =
          if (rng.nextBoolean()) "CURRENT ROW"
          else s"${(1 + rng.nextInt(120)) * 1000000L} FOLLOWING"
        val over =
          s"OVER (PARTITION BY $part ORDER BY unix_micros(CAST(ts AS TIMESTAMP)) " +
            s"RANGE BETWEEN $lo PRECEDING AND $hi)"
        return s"""SELECT event_id, user_id,
           |  CAST(sum(CAST(floor(value * 1e4) AS BIGINT)) $over AS BIGINT) AS r_sv,
           |  count(*) $over AS r_n,
           |  min(event_id) $over AS r_mid,
           |  max(user_id) $over AS r_mu
           |FROM events WHERE ${eventsPred()}""".stripMargin
      }
      if (kind == 13) {
        // ROLLUP template: super-aggregate rows with NULL group keys —
        // exercises grouping-set semantics and NULL-key canonical
        // sorting in the compare harness. Counts/sums stay integer.
        // Two dialect traps found by this fuzzer (seed 815/fz_004) are
        // designed around: (1) on EMPTY input DuckDB still emits the
        // grand-total grouping set as (NULL, 0) while Spark's
        // Expand+Aggregate emits zero rows — `HAVING count(*) > 0` is a
        // no-op on non-empty input (every group incl. the grand total
        // has n >= 1) and reconciles the empty case; (2) duplicate
        // rollup keys, ROLLUP(a, a): in the (a) grouping set DuckDB
        // fills BOTH output columns with the value, Spark NULLs the
        // second instance — so the two keys must be distinct columns.
        val key2 = "l_linestatus" // distinct from k1 by construction
        return s"""SELECT l_returnflag AS k1, $key2 AS k2, count(*) AS n,
           |  CAST(sum(${intExpr()}) AS BIGINT) AS s1
           |FROM lineitem WHERE ${pred()}
           |GROUP BY ROLLUP (l_returnflag, $key2)
           |HAVING count(*) > 0""".stripMargin
      }
      if (kind == 12) {
        // NOT EXISTS anti-join template (q21/q22 family): correlated
        // anti semantics are a classic dialect trap (NOT IN vs NOT
        // EXISTS null handling differ; NOT EXISTS is null-safe in both
        // engines)
        val innerPred = pick(Seq(
          s"l_quantity >= ${40 + rng.nextInt(10)}",
          s"l_linenumber = ${1 + rng.nextInt(7)}",
          s"l_shipdate >= DATE '${1996 + rng.nextInt(3)}-06-01'"))
        return s"""SELECT o_orderkey, o_custkey, o_orderstatus
           |FROM orders
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM lineitem
           |  WHERE l_orderkey = o_orderkey AND $innerPred)
           |AND ${pick(Seq(
                s"o_totalprice > ${rng.nextInt(200000)}",
                s"o_orderstatus <> '${pick(Seq("F", "O", "P"))}'",
                s"o_custkey % ${2 + rng.nextInt(8)} = 0"))}""".stripMargin
      }
      if (kind == 11) {
        // documents ⋈ embeddings template (the one table pairing the
        // grammar didn't cover): id-equijoin + array ops. Portability:
        // size/element_at are bridged to len/list_extract by DuckDB
        // macros in tools/check.py (same 1-based, same null semantics);
        // element values only ever appear CAST to DOUBLE (float→double
        // widening is exact in both engines) and summed fixed-point.
        // Indices stay ≤ 8 — embeddings are 64-wide, and Spark's ANSI
        // element_at throws on out-of-bounds where DuckDB returns NULL.
        val i1 = 1 + rng.nextInt(8)
        val i2 = 1 + rng.nextInt(8)
        val lang = pick(Seq("en", "de", "zh", "fr", "es"))
        val p = pick(Seq(
          s"lang = '$lang'",
          s"lang <> '$lang'",
          s"doc_id % ${2 + rng.nextInt(10)} = 0",
          s"length(text) % ${2 + rng.nextInt(7)} = 0"))
        val elem = (i: Int) => s"CAST(element_at(embedding, $i) AS DOUBLE)"
        return if (rng.nextBoolean())
          s"""SELECT doc_id, lang, CAST(size(embedding) AS BIGINT) AS dims,
             |  CAST(floor(${elem(i1)} * 1e4) AS BIGINT) AS v1,
             |  CAST(floor((${elem(i1)} * ${elem(i2)}) * 1e4) AS BIGINT) AS v12
             |FROM documents JOIN embeddings ON doc_id = vec_id
             |WHERE $p""".stripMargin
        else
          s"""SELECT lang AS k, count(*) AS n,
             |  CAST(sum(CAST(floor(${elem(i1)} * 1e4) AS BIGINT)) AS BIGINT) AS s1,
             |  min(CAST(size(embedding) AS BIGINT)) AS mnd,
             |  max(doc_id) AS dmax
             |FROM documents JOIN embeddings ON doc_id = vec_id
             |WHERE $p GROUP BY 1""".stripMargin
      }
      if (kind == 10) {
        // HAVING template: post-aggregation filtering — integer-exact
        // counts/sums, so the HAVING comparison is portable by
        // construction
        val key = strExpr()
        return s"""SELECT $key AS k, count(*) AS n,
           |  CAST(sum(${intExpr()}) AS BIGINT) AS s1
           |FROM lineitem WHERE ${pred()}
           |GROUP BY $key HAVING count(*) > ${1 + rng.nextInt(50)}""".stripMargin
      }
      if (kind == 9) {
        // IN-subquery template: semi-join decorrelation surface (the
        // q4/q16/q20 family) — the inner query is keyed on orders
        val inner = s"SELECT o_orderkey FROM orders WHERE " +
          pick(Seq(
            s"o_orderstatus = '${pick(Seq("F", "O", "P"))}'",
            s"o_custkey % ${2 + rng.nextInt(10)} = 0",
            s"o_orderdate < DATE '${1996 + rng.nextInt(4)}-06-15'"))
        return s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  ${intExpr()} AS e1
           |FROM lineitem
           |WHERE l_orderkey IN ($inner) AND ${pred()}""".stripMargin
      }
      if (kind == 8) {
        // lineitem ⋈ part ⋈ supplier: the two-dimension star join shape
        // (q2/q9/q16/q20 family). Doubles appear only under min/max
        // (bit-copying, no arithmetic) — sums stay integer.
        val p = pick(Seq(
          s"p_size ${pick(Seq("<", ">=", "="))} ${1 + rng.nextInt(50)}",
          s"p_type = '${pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))}'",
          s"p_brand <> 'Brand#${1 + rng.nextInt(20)}'",
          s"s_acctbal > ${rng.nextInt(5000)}",
          pred(1)))
        val k2 = pick(Seq("p_type", s"(p_size % ${2 + rng.nextInt(9)})"))
        return s"""SELECT p_brand AS k1, $k2 AS k2, count(*) AS n,
           |  CAST(sum(${intExpr()}) AS BIGINT) AS s1,
           |  min(p_retailprice) AS mn, max(s_acctbal) AS mx,
           |  min(s_suppkey) AS smin
           |FROM lineitem
           |JOIN part ON p_partkey = l_partkey
           |JOIN supplier ON s_suppkey = l_suppkey
           |WHERE $p GROUP BY 1, 2""".stripMargin
      }
      if (kind == 7) {
        // documents-table template: string-heavy projections and token
        // statistics (md5(text) agrees across engines: Spark's implicit
        // string→binary cast is UTF-8, DuckDB hashes the UTF-8 bytes)
        val lang = pick(Seq("en", "de", "zh", "fr", "es"))
        val p = pick(Seq(
          s"lang = '$lang'",
          s"lang <> '$lang'",
          s"source = 'src${1 + rng.nextInt(18)}'",
          s"length(text) % ${2 + rng.nextInt(7)} = 0",
          s"doc_id % ${2 + rng.nextInt(10)} = 0"))
        return if (rng.nextBoolean())
          s"""SELECT doc_id, lang, length(text) AS n1, md5(text) AS h,
             |  substr(text, 1, ${1 + rng.nextInt(20)}) AS head,
             |  (lang || '/' || source) AS tag
             |FROM documents WHERE $p""".stripMargin
        else
          s"""SELECT lang, ${pick(Seq("source", "n_chars % 7"))} AS k2, count(*) AS n,
             |  CAST(sum(length(text)) AS BIGINT) AS chars,
             |  min(md5(text)) AS hmin, max(doc_id) AS dmax
             |FROM documents WHERE $p GROUP BY 1, 2""".stripMargin
      }
      if (kind == 6) {
        // events window template: frames ordered by the TIMESTAMP itself
        // (portable — both engines compare at µs after the CAST; the
        // epoch integer itself isn't portable as an output column since
        // unix_micros/epoch_us are dialect-specific) with event_id as
        // the uniqueness tiebreaker so every frame is total.
        val part = pick(Seq("user_id", "event_type"))
        val k = 1 + rng.nextInt(5)
        val over =
          s"OVER (PARTITION BY $part ORDER BY CAST(ts AS TIMESTAMP), event_id " +
            s"ROWS BETWEEN $k PRECEDING AND CURRENT ROW)"
        val overCum =
          s"OVER (PARTITION BY $part ORDER BY CAST(ts AS TIMESTAMP), event_id)"
        return s"""SELECT event_id, user_id,
           |  CAST(sum(CAST(floor(value * 1e4) AS BIGINT)) $over AS BIGINT) AS w_sv,
           |  count(*) $over AS w_n,
           |  min(event_id) $over AS w_mid,
           |  row_number() $overCum AS w_rn,
           |  lag(event_type, 1) $overCum AS w_lag
           |FROM events WHERE ${eventsPred()}""".stripMargin
      }
      if (kind == 5) {
        // events ⋈ customer: fact-to-dimension join keyed on dimension
        // attributes + a timestamp component (user_id 0..149 overlaps
        // c_custkey 1..N, so the join is selective but non-empty)
        return s"""SELECT c_mktsegment AS k, ${tsComp()} AS tk, count(*) AS n,
           |  CAST(sum(CAST(floor(value * 1e4) AS BIGINT)) AS BIGINT) AS sv,
           |  min(event_id) AS mid, max(user_id) AS mu
           |FROM events JOIN customer ON user_id = c_custkey
           |WHERE ${eventsPred()} GROUP BY 1, 2""".stripMargin
      }
      if (kind == 4) {
        // events-table template: datetime components + exact-safe value
        // aggregates (fixed-point sum; min/max copy bits, no arithmetic)
        val p = eventsPred()
        return if (rng.nextBoolean())
          s"""SELECT event_id, user_id, ${tsComp()} AS t1, ${tsComp()} AS t2,
             |  CASE WHEN value > ${rng.nextInt(50)} THEN user_id ELSE event_id END AS e1
             |FROM events WHERE $p""".stripMargin
        else
          s"""SELECT event_type, ${tsComp()} AS tk, count(*) AS n,
             |  CAST(sum(CAST(floor(value * 1e4) AS BIGINT)) AS BIGINT) AS sv,
             |  min(value) AS mn, max(value) AS mx,
             |  min(event_id) AS mid
             |FROM events WHERE $p GROUP BY 1, 2""".stripMargin
      }
      if (kind == 3) {
        // window query: the family where order-nondeterminism hides —
        // the ORDER BY carries the full unique key so frames are total
        val part = pick(strCols)
        val k = 1 + rng.nextInt(5)
        val over =
          s"OVER (PARTITION BY $part ORDER BY l_orderkey, l_linenumber, " +
            s"l_partkey, l_suppkey ROWS BETWEEN $k PRECEDING AND CURRENT ROW)"
        val overCum =
          s"OVER (PARTITION BY $part ORDER BY l_orderkey, l_linenumber, " +
            "l_partkey, l_suppkey)"
        return s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  CAST(sum(${intExpr()}) $over AS BIGINT) AS w_sum,
           |  min(${intExpr()}) $over AS w_min,
           |  count(*) $over AS w_n,
           |  row_number() $overCum AS w_rn,
           |  lag(${strExpr()}, 1) $overCum AS w_lag
           |FROM lineitem WHERE ${pred()}""".stripMargin
      }
      if (kind == 2) {
        joinMode = true
        val key = strExpr()
        val aggs = Seq(
          "count(*) AS n",
          s"CAST(sum(${intExpr()}) AS BIGINT) AS s1",
          s"min(${intExpr()}) AS mn",
          s"max(${strExpr()}) AS mx")
        val q =
          s"""SELECT $key AS k, ${aggs.mkString(", ")}
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE ${pred()} GROUP BY $key""".stripMargin
        joinMode = false
        q
      } else if (kind == 0) {
        // projection query; keyed so the compare sort is total
        val es = Seq(
          s"${intExpr()} AS e1",
          s"${strExpr()} AS e2",
          s"CASE WHEN ${pred()} THEN ${intExpr()} ELSE ${intExpr()} END AS e3")
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  ${es.mkString(",\n  ")}
           |FROM lineitem WHERE ${pred()}""".stripMargin
      } else {
        val key = s"${strExpr()}"
        val aggs = Seq(
          "count(*) AS n",
          s"count(${pick(intCols)}) AS n_valid",
          s"CAST(sum(${intExpr()}) AS BIGINT) AS s1",
          s"min(${intExpr()}) AS mn",
          s"max(${strExpr()}) AS mx")
        s"""SELECT $key AS k, ${aggs.mkString(", ")}
           |FROM lineitem WHERE ${pred()} GROUP BY $key""".stripMargin
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("target/fuzz_out")
    val nQueries = args.lift(2).map(_.toInt).getOrElse(60)
    val seed = args.lift(3).map(_.toLong).getOrElse(20260812L)
    val spark = Harness.session()
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("supplier")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")

    val gen = Gen(new Random(seed))
    val sqls = (0 until nQueries).map(i => f"fz_$i%03d" -> gen.query())
    sqls.foreach { case (name, sql) =>
      spark.sql(sql).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = sqls
      .map { case (n, q) =>
        "\"" + n + "\": " + "\"" + q.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", " ") + "\""
      }
      .mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    println(s"[fuzz] wrote $nQueries queries to $outDir (seed=$seed)")
    spark.stop()
  }
}
