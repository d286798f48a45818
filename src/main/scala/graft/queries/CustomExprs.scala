package graft.queries

import graft.{Q, Tables}
import graft.Tag.{Basis, Headline, NoCodegen}
import graft.functions.GraftFunctions._
import graft.operators.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries driving the custom Catalyst expressions (SURVEY §2.8 gap
  * list: swapcase case.hpp:83, is_title capitalize.hpp:123, xxhash_32
  * hashing.hpp:183, rsplit split.hpp:84, porter_stemmer_measure
  * stemmer.hpp:80). No portable SQL oracle — ScalaTest pins goldens.
  */
object CustomExprs {

  private def customStrings(s: SparkSession, dir: String): DataFrame =
    Tables
      .part(s, dir)
      .select(
        col("p_partkey"),
        swapcase(col("p_name")).as("swapped"),
        is_title(initcap(col("p_name"))).as("title_after_initcap"),
        is_title(col("p_name")).as("title_raw"),
        xxhash32(col("p_name")).as("xxh32"),
        graft.ArrCanon.joined(rsplit(col("p_name"), lit(" "), 1)).as("rsplit_1"),
        porter_measure(element_at(split(col("p_name"), " "), 1)).as("porter_m"),
        graft.ArrCanon.joined(murmur3_128(col("p_name"))).as("murmur128"))

  /** The DuckDB-EXPRESSIBLE subset of [[customStrings]], hash-oracled
    * (r15, the `text_bpe` → `text_bpe_trainer_steps` pattern): swapcase,
    * is_title (raw and after initcap), and right-split run through the
    * SAME native Catalyst expressions as `custom_string_exprs`, and the
    * oracle recomputes each from first principles in SQL —
    * character-wise case flip, the two title-case violation regexes
    * ((^|[^A-Za-z])[a-z] = an alpha-run starting lowercase;
    * [A-Za-z][A-Z] = a run continuing uppercase), and a last-separator
    * split — over `part.p_name`, which is ASCII by construction (the
    * contract that makes Java's isUpper/isLower equal the SQL [A-Z]
    * classes). The Unicode faces plus xxhash32 / porter / murmur128
    * stay on the golden-vectored native row.
    */
  private def customStringsAscii(s: SparkSession, dir: String): DataFrame =
    Tables
      .part(s, dir)
      .select(
        col("p_partkey"),
        swapcase(col("p_name")).as("swapped"),
        is_title(initcap(col("p_name"))).as("title_after_initcap"),
        is_title(col("p_name")).as("title_raw"),
        graft.ArrCanon.joined(rsplit(col("p_name"), lit(" "), 1)).as("rsplit_1"))

  private val customStringsAsciiSql = {
    // is_title on ASCII = no alpha-run starts lowercase, no run continues
    // uppercase, and at least one letter exists (the sawCased flag).
    def isTitleSql(e: String): String =
      s"""(NOT regexp_matches($e, '(^|[^A-Za-z])[a-z]')
         | AND NOT regexp_matches($e, '[A-Za-z][A-Z]')
         | AND regexp_matches($e, '[A-Za-z]'))""".stripMargin.replace("\n", " ")
    // Spark initcap = lowercase everything, then uppercase the letter
    // after each space (p_name is single-space-delimited words).
    val initcapSql =
      """array_to_string(list_transform(string_split(lower(p_name), ' '),
        |  w -> upper(substring(w, 1, 1)) || substring(w, 2)), ' ')"""
        .stripMargin.replace("\n", " ")
    // rsplit(s, ' ', 1): everything before the LAST space, then the tail
    // — rejoining the split-prefix with the same separator is exact even
    // through repeated separators.
    val rsplitSql =
      """CASE WHEN len(string_split(p_name, ' ')) = 1
        |  THEN [p_name]
        |  ELSE [array_to_string(
        |          string_split(p_name, ' ')[1:len(string_split(p_name, ' ')) - 1],
        |          ' '),
        |        string_split(p_name, ' ')[len(string_split(p_name, ' '))]]
        |END""".stripMargin.replace("\n", " ")
    s"""SELECT p_partkey,
       |  CASE WHEN p_name IS NULL THEN NULL ELSE
       |    coalesce(array_to_string(list_transform(range(1, length(p_name) + 1),
       |      i -> CASE
       |        WHEN ascii(substring(p_name, i, 1)) BETWEEN 65 AND 90
       |          THEN lower(substring(p_name, i, 1))
       |        WHEN ascii(substring(p_name, i, 1)) BETWEEN 97 AND 122
       |          THEN upper(substring(p_name, i, 1))
       |        ELSE substring(p_name, i, 1) END), ''), '')
       |  END AS swapped,
       |  ${isTitleSql(s"($initcapSql)")} AS title_after_initcap,
       |  ${isTitleSql("p_name")} AS title_raw,
       |  ${graft.ArrCanon.joinedSql(rsplitSql)} AS rsplit_1
       |FROM part""".stripMargin
  }

  private def ewmaPerUser(s: SparkSession, dir: String): DataFrame = {
    val e = graft.agg.Ewma(0.2)
    Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .agg(e(unix_micros(col("ts")), col("value")).as("ewma_value"))
  }

  /** DuckDB twin of the buffered EWMA aggregator: per user, the ordered
    * value list folded through the identical adjust=true recurrence in
    * the identical left-to-right IEEE op order (the same proof of
    * exactness as `win_ewma_stream`, whose twin this reuses). The µs
    * order key is tie-free in the testdata at every SF (checked), and
    * EwmaAgg's finish-time sort makes the result independent of
    * partitioning, so the fold order is total in both engines.
    */
  private val ewmaPerUserSql =
    """SELECT user_id,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
      |    (a, x) -> x + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * a) /
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
      |    (a, x) -> CAST(1.0 AS DOUBLE) + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * a)
      |  AS ewma_value
      |FROM (
      |  SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vals
      |  FROM events GROUP BY user_id)""".stripMargin

  /** Per-row EWMA via the streaming sorted-partition pass
    * ([[graft.agg.Ewma.smoothedPerRow]], O(1) state per group — the
    * unbounded-series scale path for the EWMA aggregation). Oracle-exact:
    * the DuckDB twin folds each row's value-prefix list through the SAME
    * adjust=true recurrence (num = x + (1-α)·num; den = 1 + (1-α)·den)
    * in the same left-to-right order, so every IEEE operation matches
    * bit-for-bit — no rounding needed.
    */
  private def winEwmaStream(s: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("value"))
    graft.agg.Ewma
      .smoothedPerRow(base, "user_id", Seq("us", "event_id"), "value", 0.2)
      .select(col("user_id"), col("event_id"), col("ewma"))
  }

  private val winEwmaStreamSql =
    """SELECT user_id, event_id,
      |  CASE WHEN value IS NULL THEN NULL ELSE
      |    list_reduce(pfx, (a, x) -> x + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * a) /
      |    list_reduce(list_transform(pfx, x -> CAST(1.0 AS DOUBLE)),
      |                (a, x) -> CAST(1.0 AS DOUBLE) + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * a)
      |  END AS ewma
      |FROM (
      |  SELECT user_id, event_id, value,
      |    list(value) FILTER (value IS NOT NULL)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
      |  FROM events)""".stripMargin

  /** wordpiece subword tokenization (wordpiece_tokenize.hpp:114) with a
    * corpus-derived broadcast vocab — fully oracled: the vocab build
    * (token freq >= 50, plus single chars and their "##" forms) is plain
    * SQL, and the greedy longest-match-first walk is replicated in
    * DuckDB as a recursive CTE over precomputed longest-prefix pointers
    * (per distinct (word, start), the max matching end — so the
    * recursion only follows pointers, never re-searches). Tokenization
    * is per distinct WORD, not per token instance: dictionary-sized
    * work in both engines, re-attached to docs by word.
    */
  private def wordpieceTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Vocab = a per-dataset dimension, built once per JVM (DimCache):
    // repeated builder invocations (bench reps) pay only the tokenize.
    val vocab = graft.functions.Wordpiece.vocabFor(dir, docs, minFreq = 50)
    graft.functions.Wordpiece
      .tokenize(s, docs, vocab)
      .select(col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        graft.ArrCanon.joined(slice(col("pieces"), 1, 5)).as("head_pieces"))
  }

  /** DuckDB twin of the greedy wordpiece: same vocab, same
    * longest-match-first semantics (the `cand` pointer table IS the
    * inner `while (end > start)` loop, collapsed into max(e)); a word
    * with any unmatchable position collapses to ['[UNK]'] exactly like
    * `Wordpiece.tokenizeWord`'s early return. Null text mirrors the
    * UDF's empty-list behavior via the final left join.
    */
  private val wordpieceSql =
    s"""WITH RECURSIVE
       |alltoks AS (
       |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |         unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |freq AS (
       |  SELECT word AS piece FROM alltoks GROUP BY word HAVING count(*) >= 50),
       |chars AS (
       |  SELECT DISTINCT unnest(list_transform(range(1, length(piece) + 1),
       |    i -> substring(piece, i, 1))) AS ch
       |  FROM freq),
       |vocab AS (
       |  SELECT piece FROM freq
       |  UNION SELECT ch FROM chars
       |  UNION SELECT '##' || ch FROM chars),
       |words AS (SELECT DISTINCT word FROM alltoks),
       |cand AS (
       |  SELECT word, s, max(e) AS e FROM (
       |    SELECT w.word, s.s, e.e
       |    FROM words w,
       |      LATERAL (SELECT unnest(range(0, length(w.word))) AS s) s,
       |      LATERAL (SELECT unnest(range(s.s + 1, length(w.word) + 1)) AS e) e
       |    WHERE (CASE WHEN s.s > 0 THEN '##' ELSE '' END ||
       |           substring(w.word, s.s + 1, e.e - s.s)) IN (SELECT piece FROM vocab))
       |  GROUP BY word, s),
       |walk AS (
       |  SELECT word, 0 AS s, CAST([] AS VARCHAR[]) AS pieces, false AS unk FROM words
       |  UNION ALL
       |  SELECT w.word,
       |    CASE WHEN c.e IS NULL THEN length(w.word) ELSE c.e END,
       |    CASE WHEN c.e IS NULL THEN ['[UNK]']
       |         ELSE list_append(w.pieces,
       |           CASE WHEN w.s > 0 THEN '##' ELSE '' END ||
       |           substring(w.word, w.s + 1, c.e - w.s)) END,
       |    c.e IS NULL
       |  FROM walk w LEFT JOIN cand c ON c.word = w.word AND c.s = w.s
       |  WHERE w.s < length(w.word) AND NOT w.unk),
       |done AS (SELECT word, pieces FROM walk WHERE s >= length(word)),
       |flat AS (
       |  SELECT t.doc_id, flatten(list(d.pieces ORDER BY t.pos)) AS pieces
       |  FROM alltoks t JOIN done d ON d.word = t.word
       |  GROUP BY t.doc_id)
       |SELECT doc_id,
       |  CAST(coalesce(len(pieces), 0) AS BIGINT) AS n_pieces,
       |  ${graft.ArrCanon.joinedSql(
             "list_slice(coalesce(pieces, CAST([] AS VARCHAR[])), 1, 5)")}
       |    AS head_pieces
       |FROM documents LEFT JOIN flat USING (doc_id)""".stripMargin

  /** Per-language tokenizer FERTILITY — wordpiece pieces per whitespace
    * word, the diagnostic that drives tokenizer-vs-language budget
    * decisions (a language with fertility 2× pays 2× the sequence
    * length for the same text; the standard multilingual-tokenizer
    * audit number). Rides the ORACLED wordpiece machinery: the DuckDB
    * twin wraps the full recursive wordpiece query as a subquery and
    * aggregates the identical piece counts, so the report is hash-exact.
    * Fixed-point ratio ((Σpieces·10⁶) div Σwords) per lang — 5 rows.
    * Scale shape: tokenize is the map-side broadcast-vocab pass, the
    * lang join is on compact (doc_id, lang, nw), and the aggregate is
    * 5 groups with map-side combine.
    */
  private def textFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vocab = graft.functions.Wordpiece.vocabFor(dir, docs, minFreq = 50)
    graft.functions.Wordpiece
      .tokenize(s, docs, vocab)
      .select(col("doc_id"), size(col("pieces")).cast("long").as("np"))
      .join(docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("nw")), "doc_id")
      .groupBy(col("lang"))
      .agg(sum(col("np")).as("pieces"), sum(col("nw")).as("words"))
      .select(col("lang"), col("pieces"), col("words"),
        expr("(pieces * 1000000) div words").as("fertility_micro"))
  }

  private lazy val textFertilitySql =
    s"""SELECT d.lang,
       |  CAST(sum(wp.n_pieces) AS BIGINT) AS pieces,
       |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS words,
       |  (CAST(sum(wp.n_pieces) AS BIGINT) * 1000000)
       |    // CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
       |    AS fertility_micro
       |FROM ($wordpieceSql) wp JOIN documents d USING (doc_id)
       |GROUP BY d.lang""".stripMargin

  /** merge-ranks BPE (byte_pair_encoding.hpp:129): corpus-learned merge
    * table (driver-side classic BPE training over the bounded
    * frequent-word stats), broadcast ranks, map-side iterative
    * lowest-rank merging per word — a genuinely different algorithm from
    * greedy wordpiece above (goldens in WordpieceSpec distinguish the
    * two on the same input). Rows-only (merge table is data-derived).
    */
  /** merge-ranks BPE APPLICATION with a FIXED literal merge table — the
    * portable twin of `text_bpe` (pattern: `dedup_minhash_portable`).
    * The trainer stays rows-only (sequential corpus-wide loop, no SQL
    * twin), but the applier — iterative lowest-rank merging, first
    * occurrence on rank ties, replayed to fixpoint — is fully oracled
    * here: the DuckDB twin drives the same recursion per distinct word
    * with a rank MAP, merging one pair per step exactly like
    * [[graft.functions.Bpe.bpeWord]]'s while loop. Key-collision note:
    * initial pieces are single code points and multi-char pieces arise
    * only from table merges (letter-only), so the `a || ',' || b`
    * lookup key is unambiguous even if the corpus contains commas.
    */
  private val bpePortableMerges = Seq(
    ("t", "h"), ("th", "e"), ("e", "r"), ("i", "n"), ("a", "n"), ("an", "d"))

  private def bpePortable(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.functions.Bpe
      .tokenize(s, docs, bpePortableMerges)
      .select(col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        graft.ArrCanon.joined(slice(col("pieces"), 1, 5)).as("head_pieces"))
  }

  private val bpePortableSql = {
    val rankMap = "MAP {" + Seq(
      ("t", "h"), ("th", "e"), ("e", "r"), ("i", "n"), ("a", "n"), ("an", "d"))
      .zipWithIndex
      .map { case ((a, b), r) => s"'$a,$b': $r" }
      .mkString(", ") + "}"
    s"""WITH RECURSIVE
       |alltoks AS (
       |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |         unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |words AS (SELECT DISTINCT word FROM alltoks WHERE length(word) > 0),
       |init AS (
       |  SELECT word,
       |    list_transform(range(1, length(word) + 1),
       |      i -> substring(word, i, 1)) AS pieces
       |  FROM words),
       |walk AS (
       |  SELECT word, pieces, len(pieces) <= 1 AS done FROM init
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN best IS NULL THEN pieces
       |         ELSE list_concat(list_concat(pieces[1:best.pos-1],
       |                [pieces[best.pos] || pieces[best.pos+1]]),
       |                pieces[best.pos+2:]) END,
       |    best IS NULL
       |  FROM (
       |    SELECT word, pieces,
       |      list_sort(list_filter(
       |        list_transform(range(1, len(pieces)),
       |          i -> struct_pack(
       |            rnk := (($rankMap)[pieces[i] || ',' || pieces[i+1]])[1],
       |            pos := i)),
       |        c -> c.rnk IS NOT NULL))[1] AS best
       |    FROM walk WHERE NOT done)),
       |done AS (SELECT word, pieces FROM walk WHERE done),
       |flat AS (
       |  SELECT t.doc_id, flatten(list(d.pieces ORDER BY t.pos)) AS pieces
       |  FROM alltoks t JOIN done d ON d.word = t.word
       |  GROUP BY t.doc_id)
       |SELECT doc_id,
       |  CAST(coalesce(len(pieces), 0) AS BIGINT) AS n_pieces,
       |  ${graft.ArrCanon.joinedSql(
             "list_slice(coalesce(pieces, CAST([] AS VARCHAR[])), 1, 5)")}
       |    AS head_pieces
       |FROM documents LEFT JOIN flat USING (doc_id)""".stripMargin
  }

  private def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges =
      graft.functions.Bpe.mergesFor(dir, docs, nMerges = 200, minFreq = 50)
    graft.functions.Bpe
      .tokenize(s, docs, merges)
      .select(col("doc_id"), size(col("pieces")).as("n_pieces"),
        graft.ArrCanon.joined(slice(col("pieces"), 1, 5)).as("head_pieces"))
  }

  /** The BPE TRAINER's distributed core, oracled: the frequency-weighted
    * adjacent code-point pair statistics over the frequent-word table
    * (minFreq = 50, the [[graft.functions.Bpe.learnMerges]] parameters)
    * — exactly the aggregate whose argmax picks merge #1, and the ONLY
    * distributed computation in the trainer (the 200-step loop then
    * replays this fold driver-side over the bounded word table, covered
    * by goldens in BpeSpec). Top-20 pairs by (weight desc, pair), so
    * the oracle pins both the pair weighting and the trainer's
    * deterministic tie order. Closes the "BPE trainer has no oracle
    * path" gap structurally: a wrong pair count here IS a wrong merge
    * table.
    *
    * Scale shape: one word-count aggregate (map-side combined), pair
    * explosion only over the frequency-filtered vocabulary (bounded,
    * never the corpus), TakeOrdered(20) — no global sort. (The trainer
    * additionally caps its word table at [[graft.functions.Bpe.maxWords]]
    * before looping; the cap never binds at gate scale, and the
    * WordpieceSpec weld test pins the actual argmax equality.)
    */
  private def bpePairStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 50 && length(col("w")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, char_length(w) - 1),
          |  i -> struct(substring(w, i, 1) AS a,
          |              substring(w, i + 1, 1) AS b))""".stripMargin))
        .as("p"), col("c"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).as("pair_weight"))
      .orderBy(col("pair_weight").desc, col("a"), col("b"))
      .limit(20)

  private val bpePairStatsSql =
    s"""WITH w AS (
      |  SELECT w, count(*) AS c FROM (
      |    SELECT unnest(${Text.tokensSql()}) AS w
      |    FROM documents) t
      |  WHERE length(w) > 0 GROUP BY w
      |  HAVING count(*) >= 50),
      |p AS (
      |  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, c
      |  FROM w, unnest(range(1, length(w))) AS u(i)
      |  WHERE length(w) >= 2)
      |SELECT a, b, CAST(sum(c) AS BIGINT) AS pair_weight
      |FROM p GROUP BY a, b
      |ORDER BY pair_weight DESC, a, b LIMIT 20""".stripMargin

  /** The BPE trainer LOOP, oracled (closing the gap left by
    * [[bpePairStats]], which pins only step 1's statistics): the first
    * THREE trainer steps — pair-stats argmax → left-to-right
    * non-overlapping merge across the word table → re-stats — replayed
    * in DuckDB as chained CTEs, each step reproducing
    * [[graft.functions.Bpe.learnMergesWeighted]]'s exact (pair, weight)
    * choice (reference trainer op:
    * cpp/include/nvtext/byte_pair_encoding.hpp:129).
    *
    * The SQL encodes each word's symbol sequence as `|s1||s2||…|` and
    * merges pair (a,b) with `replace(enc, '|a||b|', '|ab|')`: SQL
    * replace scans left-to-right over non-overlapping occurrences and
    * resumes AFTER each replacement — exactly mergeOnce's i += 2 skip —
    * and the per-symbol `|…|` wrapping anchors both symbol boundaries
    * while leaving each shared boundary's second `|` for the next
    * match ("a b a b" merges to "ab ab", "a a a" to "aa a"). Valid
    * because document tokens never contain '|' (they are
    * space-delimited words; ArrCanon escapes '|' for the same reason).
    *
    * The Spark side is the REAL trainer (one distributed word-count
    * aggregate; the loop is driver-side over the bounded frequent-word
    * table — the same collect exemption as the wordpiece vocab build),
    * so the result is a LocalRelation like sim_mmr_rerank's. The
    * trainer's maxWords cap is not replicated in the SQL; it never
    * binds at gate scale (vocab with count ≥ 50 ≪ 2^17).
    */
  private def bpeTrainerSteps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.Bpe
      .learnMergesWeighted(Tables.documents(s, dir), nMerges = 3, minFreq = 50)
      .zipWithIndex
      .map { case (((a, b), wt), i) => (i + 1, a, b, wt) }
      .toDF("step", "a", "b", "pair_weight")
  }

  private def trainerStepSql(k: Int): String = {
    val prev = s"e${k - 1}"
    s"""p$k AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(c) AS BIGINT) AS wt
       |  FROM (SELECT string_split(trim(enc, '|'), '||') AS syms, c
       |        FROM $prev) t,
       |       unnest(range(1, len(syms))) AS u(i)
       |  GROUP BY 1, 2),
       |b$k AS (SELECT a, b, wt FROM p$k ORDER BY wt DESC, a, b LIMIT 1),
       |e$k AS (
       |  SELECT replace(enc,
       |    '|' || (SELECT a FROM b$k) || '||' || (SELECT b FROM b$k) || '|',
       |    '|' || (SELECT a FROM b$k) || (SELECT b FROM b$k) || '|') AS enc,
       |    c
       |  FROM $prev)""".stripMargin
  }

  private val bpeTrainerStepsSql = {
    val steps = (1 to 3).map(trainerStepSql).mkString(",\n")
    s"""WITH w AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(${Text.tokensSql()}) AS w
       |    FROM documents) t
       |  WHERE length(w) > 0 GROUP BY w HAVING count(*) >= 50),
       |e0 AS (
       |  SELECT list_aggregate(list_transform(range(1, length(w) + 1),
       |      i -> '|' || substr(w, i, 1) || '|'), 'string_agg', '') AS enc,
       |    c
       |  FROM w),
       |$steps
       |SELECT CAST(1 AS INTEGER) AS step, a, b, wt AS pair_weight FROM b1
       |UNION ALL SELECT 2, a, b, wt FROM b2
       |UNION ALL SELECT 3, a, b, wt FROM b3""".stripMargin
  }

  /** percentile_approx — the engine's t-digest stand-in (TDIGEST Kind,
    * aggregation.hpp:121; Spark's GK sketch, tolerance documented).
    */
  private def percentileApprox(s: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_median_price"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000))
          .as("approx_p99_price"))

  /** One-sided oracle contract for the GK sketch behind
    * `agg_percentile_approx` (the `agg_tdigest_vs_exact` pattern):
    * Spark measures the TRUE rank interval of each percentile_approx
    * estimate within its group and emits whether it touches the
    * p ± 1/accuracy band Spark documents for ApproximatePercentile;
    * DuckDB pins every flag TRUE plus the exact group counts, so an
    * accuracy violation flips a boolean cell and fails the hash even
    * though the sketch's chosen element is not itself replayable.
    * Ties are handled by the INTERVAL: the estimate occupies ranks
    * (count(p < est), count(p <= est)] — the contract holds iff that
    * interval intersects the band. The band is 2ε + 2/n, not ε: the
    * distributed aggregate MERGES per-partition GK summaries and GK
    * merge error is additive (≈2ε worst case), and the query's
    * target-rank convention contributes O(1) rows of discretization
    * (measured: group A at sf0.001 sits 0.04 rows past the raw ε edge).
    * Still ~7× tighter than the t-digest twin's 0.02 envelope.
    */
  private def aggGkVsExact(s: SparkSession, dir: String): DataFrame = {
    val eps = 1.0 / 1000 // percentile_approx accuracy = 1000
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("rf"),
        col("l_extendedprice").cast("double").as("p"))
    val ests = li.groupBy(col("rf"))
      .agg(percentile_approx(col("p"), lit(0.5), lit(1000)).as("e50"),
        percentile_approx(col("p"), lit(0.99), lit(1000)).as("e99"))
    val band = lit(2 * eps) + lit(2.0) / col("n_rows")
    li.join(broadcast(ests), Seq("rf"))
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("p") < col("e50"), 1L).otherwise(0L)).as("lo50"),
        sum(when(col("p") <= col("e50"), 1L).otherwise(0L)).as("hi50"),
        sum(when(col("p") < col("e99"), 1L).otherwise(0L)).as("lo99"),
        sum(when(col("p") <= col("e99"), 1L).otherwise(0L)).as("hi99"))
      .select(col("rf").as("l_returnflag"), col("n_rows"),
        (col("lo50") / col("n_rows") <= lit(0.5) + band &&
          col("hi50") / col("n_rows") >= lit(0.5) - band).as("p50_ok"),
        (col("lo99") / col("n_rows") <= lit(0.99) + band &&
          col("hi99") / col("n_rows") >= lit(0.99) - band).as("p99_ok"))
  }

  private val aggGkVsExactSql =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  TRUE AS p50_ok, TRUE AS p99_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** The single-summary face of the GK contract (r17, closing the
    * recorded-decision slack of `agg_gk_vs_exact` with code): forcing
    * the input to ONE partition means the distributed aggregate builds
    * exactly one GK summary and the merge step is the identity, so the
    * 2ε merge-additivity allowance vanishes and the estimate must sit
    * inside the RAW documented band ε + 2/n — the tightest contract the
    * sketch admits. Together the pair brackets the implementation:
    * merged path ≤ 2ε + 2/n (`agg_gk_vs_exact`), single-summary path ≤
    * ε + 2/n (here). The coalesce(1) is a contract artifact, not a
    * scale path — the production plan is the merged row's.
    */
  private def aggGkSingleSummary(s: SparkSession, dir: String): DataFrame = {
    val eps = 1.0 / 1000
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("rf"),
        col("l_extendedprice").cast("double").as("p"))
    val ests = li.coalesce(1).groupBy(col("rf"))
      .agg(percentile_approx(col("p"), lit(0.5), lit(1000)).as("e50"),
        percentile_approx(col("p"), lit(0.99), lit(1000)).as("e99"))
    val band = lit(eps) + lit(2.0) / col("n_rows")
    li.join(broadcast(ests), Seq("rf"))
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("p") < col("e50"), 1L).otherwise(0L)).as("lo50"),
        sum(when(col("p") <= col("e50"), 1L).otherwise(0L)).as("hi50"),
        sum(when(col("p") < col("e99"), 1L).otherwise(0L)).as("lo99"),
        sum(when(col("p") <= col("e99"), 1L).otherwise(0L)).as("hi99"))
      .select(col("rf").as("l_returnflag"), col("n_rows"),
        (col("lo50") / col("n_rows") <= lit(0.5) + band &&
          col("hi50") / col("n_rows") >= lit(0.5) - band).as("p50_ok"),
        (col("lo99") / col("n_rows") <= lit(0.99) + band &&
          col("hi99") / col("n_rows") >= lit(0.99) - band).as("p99_ok"))
  }

  private val aggGkSingleSummarySql =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  TRUE AS p50_ok, TRUE AS p99_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  def queries: Map[String, Q] = Map(
    "custom_string_exprs" -> Q(customStrings _, None),
    "custom_string_ascii" -> Q(customStringsAscii _, customStringsAsciiSql),
    "agg_ewma" -> Q(ewmaPerUser _, ewmaPerUserSql),
    "win_ewma_stream" -> Q(winEwmaStream _, winEwmaStreamSql).tag(Headline, Basis),
    "text_wordpiece" -> Q(wordpieceTokens _, wordpieceSql).tag(Headline, Basis),
    "text_fertility" -> Q(textFertility _, textFertilitySql),
    "text_bpe" -> Q(bpeTokens _, None),
    "text_bpe_portable" -> Q(bpePortable _, bpePortableSql).tag(Headline, Basis),
    "text_bpe_pair_stats" -> Q(bpePairStats _, bpePairStatsSql).tag(Headline, Basis),
    "text_bpe_trainer_steps" -> Q(bpeTrainerSteps _, bpeTrainerStepsSql).tag(NoCodegen),
    "agg_percentile_approx" -> Q(percentileApprox _, None),
    "agg_gk_vs_exact" -> Q(aggGkVsExact _, aggGkVsExactSql),
    "agg_gk_single_summary" -> Q(aggGkSingleSummary _, aggGkSingleSummarySql)
  )
}
