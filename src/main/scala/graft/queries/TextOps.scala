package graft.queries

import graft.{Agg, Q, Tables}
import graft.Tag.{Basis, Headline}
import graft.functions.PolyHash31
import graft.operators.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analytics — SURVEY §2.8 nvtext (`cpp/src/text`, headers
  * `cpp/include/nvtext/`): tokenize/count_tokens (tokenize.hpp:61,97),
  * character n-grams (generate_ngrams.hpp:89), jaccard_index
  * (jaccard.hpp:73), edit_distance (edit_distance.hpp:62), plus the
  * large-scale pipeline text analyses (language id, quality scoring,
  * document fingerprinting) this engine adds for LLM data work.
  *
  * Everything here is per-row or blocked-pairwise — no O(n²) against the
  * full corpus; pairings are key-local so the joins shuffle on small keys.
  */
object TextOps {

  /** tokenize + count_tokens (tokenize.hpp:61,97). */
  private def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        size(Text.words(col("text"))).as("n_tokens"),
        size(array_distinct(Text.words(col("text")))).as("n_unique_tokens"),
        length(col("text")).as("n_chars_computed"))

  private val tokenCountSql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
      |  length(text) AS n_chars_computed
      |FROM documents""".stripMargin

  /** generate_character_ngrams (generate_ngrams.hpp:89): distinct char
    * 3-grams per document (over a bounded prefix).
    */
  private def charNgrams(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 80).as("t"))
      .select(
        col("doc_id"),
        // length guard: Spark's sequence(1, 0) steps DOWN to [1, 0]
        // rather than returning empty, so sub-trigram texts would count
        // phantom grams that DuckDB's empty range never generates
        expr(
          "CASE WHEN length(t) >= 3 THEN size(array_distinct(transform(sequence(1, length(t) - 2), i -> substring(t, i, 3)))) ELSE 0 END")
          .as("n_distinct_3grams"),
        graft.ArrCanon.joined(
          expr("transform(sequence(1, 3), i -> substring(t, i, 3))")).as("first_3grams"))

  private val charNgramsSql =
    s"""SELECT doc_id,
      |  len(list_distinct(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
      |      i -> substring(t, i, 3)))) AS n_distinct_3grams,
      |  ${graft.ArrCanon.joinedSql("list_transform(range(1, 4), i -> substring(t, i, 3))")} AS first_3grams
      |FROM (SELECT doc_id, substring(text, 1, 80) AS t FROM documents)
      |""".stripMargin

  /** word n-grams (generate_ngrams.hpp:59 / ngrams_tokenize.hpp:80):
    * bigrams of the first tokens, joined with '_'.
    */
  private def wordNgrams(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), slice(Text.words(col("text")), 1, 12).as("tk"))
      .select(
        col("doc_id"),
        graft.ArrCanon.joined(expr(
          "transform(sequence(1, greatest(size(tk) - 1, 0)), i -> concat(tk[i - 1], '_', tk[i]))"))
          .as("bigrams"))

  private val wordNgramsSql =
    s"""SELECT doc_id,
      |  ${graft.ArrCanon.joinedSql(
            """list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                i -> concat(tk[i], '_', tk[i + 1]))""")} AS bigrams
      |FROM (SELECT doc_id, (string_split(text, ' '))[1:12] AS tk
      |      FROM documents)""".stripMargin

  /** document fingerprint (rolling polynomial hash over a bounded prefix;
    * cf. hash_character_ngrams generate_ngrams.hpp:125) — pure integer
    * fold, bit-identical in any engine.
    */
  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 64).as("t"))
      .select(
        col("doc_id"),
        PolyHash31.foldLambda("t").as("fingerprint"))

  private val fingerprintSql =
    s"""SELECT doc_id,
      |  ${PolyHash31.foldSql("t")} AS fingerprint
      |FROM (SELECT doc_id, substring(text, 1, 64) AS t FROM documents)
      |""".stripMargin

  /** quality scoring for LLM pipelines: length/stopword/char-class ratios
    * and a composite score (integer counts + one IEEE formula).
    */
  private def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("n_chars"), Text.words(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        expr(s"size(filter(tk, t -> t IN (${stop.map("'" + _ + "'").mkString(",")})))")
          .as("n_stopwords"),
        expr("size(filter(tk, t -> length(t) <= 2))").as("n_short_tokens"),
        (col("n_chars").cast(DoubleType) / size(col("tk"))).as("avg_token_len"))
      .withColumn(
        "quality",
        (col("n_stopwords").cast(DoubleType) / col("n_tokens")) * 0.5 +
          (lit(1d) - col("n_short_tokens").cast(DoubleType) / col("n_tokens")) * 0.5)
  }

  private val qualityScoreSql = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
      .map("'" + _ + "'").mkString(",")
    s"""SELECT doc_id, n_tokens, n_stopwords, n_short_tokens, avg_token_len,
       |  (CAST(n_stopwords AS DOUBLE) / n_tokens) * 0.5 +
       |  (1.0 - CAST(n_short_tokens AS DOUBLE) / n_tokens) * 0.5 AS quality
       |FROM (
       |  SELECT doc_id,
       |    len(tk) AS n_tokens,
       |    len(list_filter(tk, t -> t IN ($stop))) AS n_stopwords,
       |    len(list_filter(tk, t -> length(t) <= 2)) AS n_short_tokens,
       |    CAST(n_chars AS DOUBLE) / len(tk) AS avg_token_len
       |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS tk
       |        FROM documents))""".stripMargin
  }

  /** Per-language quality-quantile filtering: "drop the bottom quartile
    * of each language" — the relative-threshold corpus cut every
    * multilingual recipe applies (an absolute score cutoff would gut
    * low-resource languages whose score distribution sits lower). The
    * quality formula is [[qualityScore]]'s; the per-lang p25 threshold
    * is an exact linear-interpolation percentile (types.hpp:192), 5
    * rows, broadcast back onto the corpus — the filter itself is
    * map-side. Both sides compare at 6-decimal resolution so the
    * boundary doc can't flip on last-ulp interpolation differences
    * between engines.
    *
    * 100 TB posture: the thresholds stay a broadcast regardless of
    * corpus size (one row per language); swap the exact percentile for
    * approx_percentile when per-group buffering matters — identical
    * plan shape, the gate uses the exact form because it demands
    * bit-exact oracle agreement (the agg_percentile_approx precedent).
    */
  private def filterQualityQuantile(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val q = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), Text.words(col("text")).as("tk"))
      .select(
        col("doc_id"),
        col("lang"),
        (expr(s"size(filter(tk, t -> t IN (${stop.map("'" + _ + "'").mkString(",")})))")
          .cast(DoubleType) / size(col("tk")) * 0.5 +
          (lit(1d) -
            expr("size(filter(tk, t -> length(t) <= 2))").cast(DoubleType) /
              size(col("tk"))) * 0.5).as("quality"))
    val thr = q
      .groupBy(col("lang"))
      .agg(round(expr("percentile(quality, 0.25D)"), 6).as("thr"))
    q.join(broadcast(thr), Seq("lang"))
      .filter(round(col("quality"), 6) >= col("thr"))
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  private val filterQualityQuantileSql = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
      .map("'" + _ + "'").mkString(",")
    s"""WITH q AS (
       |  SELECT doc_id, lang,
       |    (CAST(len(list_filter(tk, t -> t IN ($stop))) AS DOUBLE)
       |       / len(tk)) * 0.5 +
       |    (1.0 - CAST(len(list_filter(tk, t -> length(t) <= 2)) AS DOUBLE)
       |       / len(tk)) * 0.5 AS quality
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
       |        FROM documents)),
       |t AS (
       |  SELECT lang, round(quantile_cont(quality, 0.25), 6) AS thr
       |  FROM q GROUP BY lang)
       |SELECT q.doc_id, q.lang, q.quality
       |FROM q JOIN t ON q.lang = t.lang
       |WHERE round(q.quality, 6) >= t.thr""".stripMargin
  }

  /** language-id heuristic (stopword-profile scoring — the n-gram
    * heuristic of large-scale pipeline langid, deterministic integer
    * scores + fixed tie-break order).
    */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    val profiles = Seq(
      "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
      "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"),
      "de" -> Seq("der", "und", "die", "das", "ein", "ist", "nicht"))
    val base = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), Text.words(col("text")).as("tk"))
    val scored = profiles.foldLeft(base) { case (df, (code, words)) =>
      df.withColumn(
        s"score_$code",
        expr(s"size(filter(tk, t -> t IN (${words.map("'" + _ + "'").mkString(",")})))"))
    }
    scored.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      col("score_en"),
      col("score_fr"),
      col("score_de"),
      when(col("score_en") >= col("score_fr") && col("score_en") >= col("score_de"), "en")
        .when(col("score_fr") >= col("score_de"), "fr")
        .otherwise("de").as("predicted_lang"))
  }

  private val langIdSql = {
    def inList(ws: Seq[String]) = ws.map("'" + _ + "'").mkString(",")
    val en = inList(Seq("the", "a", "of", "and", "to", "in", "is"))
    val fr = inList(Seq("le", "la", "et", "les", "des", "un", "est"))
    val de = inList(Seq("der", "und", "die", "das", "ein", "ist", "nicht"))
    s"""SELECT doc_id, lang AS labeled_lang, score_en, score_fr, score_de,
       |  CASE WHEN score_en >= score_fr AND score_en >= score_de THEN 'en'
       |       WHEN score_fr >= score_de THEN 'fr'
       |       ELSE 'de' END AS predicted_lang
       |FROM (
       |  SELECT doc_id, lang,
       |    len(list_filter(tk, t -> t IN ($en))) AS score_en,
       |    len(list_filter(tk, t -> t IN ($fr))) AS score_fr,
       |    len(list_filter(tk, t -> t IN ($de))) AS score_de
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
       |        FROM documents))""".stripMargin
  }

  /** Classifier evaluation over the langid heuristic — the model-eval
    * reporting family (confusion matrix; per-class precision/recall/F1)
    * a pipeline ships whenever a heuristic labeler gates data. The
    * matrix is exact counts; P/R/F1 are integer ppm
    * (F1 = 2·p·r div (p+r) stays in ppm), zero-guarded for classes
    * never predicted. One corpus scan → a |labels|×|preds| aggregate;
    * the per-class unpivot is a 3-literal explode of that tiny frame.
    */
  private def evalLangidConfusion(s: SparkSession, dir: String): DataFrame =
    langId(s, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))

  private val evalLangidConfusionSql =
    s"""SELECT labeled_lang, predicted_lang, count(*) AS n
       |FROM ($langIdSql) t
       |GROUP BY labeled_lang, predicted_lang""".stripMargin

  private def evalLangidPrf(s: SparkSession, dir: String): DataFrame = {
    val cm = evalLangidConfusion(s, dir)
    cm.select(explode(array(lit("en"), lit("fr"), lit("de"))).as("klass"),
        col("labeled_lang"), col("predicted_lang"), col("n"))
      .groupBy(col("klass"))
      .agg(
        sum(when(col("labeled_lang") === col("klass") &&
          col("predicted_lang") === col("klass"), col("n")).otherwise(0L))
          .as("tp"),
        sum(when(col("labeled_lang") =!= col("klass") &&
          col("predicted_lang") === col("klass"), col("n")).otherwise(0L))
          .as("fp"),
        sum(when(col("labeled_lang") === col("klass") &&
          col("predicted_lang") =!= col("klass"), col("n")).otherwise(0L))
          .as("fn"))
      .select(col("klass"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("(tp * 1000000) div (tp + fp)")).otherwise(0L)
          .as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("(tp * 1000000) div (tp + fn)")).otherwise(0L)
          .as("recall_ppm"))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") > 0,
          expr("(2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm)"))
          .otherwise(0L))
  }

  private val evalLangidPrfSql =
    s"""WITH cm AS (
       |  SELECT labeled_lang, predicted_lang, count(*) AS n
       |  FROM ($langIdSql) t
       |  GROUP BY labeled_lang, predicted_lang),
       |per AS (
       |  SELECT klass,
       |    CAST(sum(CASE WHEN labeled_lang = klass
       |      AND predicted_lang = klass THEN n ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN labeled_lang <> klass
       |      AND predicted_lang = klass THEN n ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN labeled_lang = klass
       |      AND predicted_lang <> klass THEN n ELSE 0 END) AS BIGINT) AS fn
       |  FROM cm CROSS JOIN (SELECT unnest(['en', 'fr', 'de']) AS klass) k
       |  GROUP BY klass),
       |pr AS (
       |  SELECT klass, tp, fp, fn,
       |    CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp)
       |      ELSE 0 END AS precision_ppm,
       |    CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn)
       |      ELSE 0 END AS recall_ppm
       |  FROM per)
       |SELECT klass, tp, fp, fn,
       |  CAST(precision_ppm AS BIGINT) AS precision_ppm,
       |  CAST(recall_ppm AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN precision_ppm + recall_ppm > 0
       |    THEN (2 * precision_ppm * recall_ppm)
       |      // (precision_ppm + recall_ppm)
       |    ELSE 0 END AS BIGINT) AS f1_ppm
       |FROM pr""".stripMargin

  /** edit_distance (edit_distance.hpp:62) on adjacent-id doc pairs —
    * blocked pairing, not an O(n²) matrix.
    */
  private def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val a = d.select(col("doc_id").as("id_a"), substring(col("text"), 1, 40).as("ta"))
    val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      substring(col("text"), 1, 40).as("tb"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"), levenshtein(col("ta"), col("tb")).as("edit_dist"))
  }

  private val editDistancePairsSql =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40))
      |    AS edit_dist
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""".stripMargin

  /** jaccard_index (jaccard.hpp:73) on token sets of adjacent-id pairs. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val a = d.select(col("doc_id").as("id_a"), Text.words(col("text")).as("ta"))
    val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      Text.words(col("text")).as("tb"))
    a.join(b, "id_a")
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("ta"), col("tb"))).cast(DoubleType) /
          size(array_union(col("ta"), col("tb")))).as("jaccard"))
  }

  private val jaccardPairsSql =
    """SELECT id_a, id_b,
      |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
      |    len(list_distinct(ta || tb)) AS jaccard
      |FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    string_split(a.text, ' ') AS ta, string_split(b.text, ' ') AS tb
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
      |""".stripMargin

  /** normalize_spaces (normalize.hpp:55) + token filtering
    * (replace.hpp:136): drop short tokens, rebuild the string.
    */
  private def normalizeFilterTokens(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        regexp_replace(trim(col("text")), "\\s+", " ").as("normalized"))
      .select(
        col("doc_id"),
        expr("array_join(filter(split(normalized, ' '), t -> length(t) > 2), ' ')")
          .as("filtered_text"))

  private val normalizeFilterTokensSql =
    """SELECT doc_id,
      |  array_to_string(
      |    list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '),
      |                t -> length(t) > 2), ' ') AS filtered_text
      |FROM documents""".stripMargin

  /** Corpus card — the per-source dataset-documentation report every
    * released training corpus ships (docs, token volume, length
    * distribution, language spread, quality mass): ONE scan, one
    * 20-group aggregate, every stat either integer or fixed-point so
    * the card is bit-exact across engines. Adding a stat costs a
    * column, not a scan (the `validate_expectations` pattern).
    * quality_mean_micro reuses `text_quality_score`'s formula, floored
    * per doc before the group mean so the aggregate stays
    * order-independent.
    */
  private def corpusCard(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    Tables
      .documents(s, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        Text.words(col("text")).as("tk"))
      .select(col("source"), col("lang"), col("n_chars"),
        size(col("tk")).cast("long").as("nt"),
        expr(s"size(filter(tk, t -> t IN (${stop.map("'" + _ + "'").mkString(",")})))")
          .cast("long").as("nstop"),
        expr("size(filter(tk, t -> length(t) <= 2))").cast("long").as("nshort"))
      .withColumn("q_micro",
        floor((col("nstop").cast(DoubleType) / col("nt") * 0.5 +
          (lit(1d) - col("nshort").cast(DoubleType) / col("nt")) * 0.5) *
          lit(1e6)).cast(LongType))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("nt")).as("tokens"),
        sum(col("n_chars")).as("chars"),
        min(col("nt")).as("min_tokens"),
        max(col("nt")).as("max_tokens"),
        countDistinct(col("lang")).as("langs"),
        sum(when(col("nt") < 30, 1L).otherwise(0L)).as("short_docs"),
        sum(col("q_micro")).as("q_sum_micro"))
      .select(col("source"), col("docs"), col("tokens"), col("chars"),
        col("min_tokens"), col("max_tokens"), col("langs"), col("short_docs"),
        expr("q_sum_micro div docs").as("quality_mean_micro"),
        expr("(tokens * 1000000) div chars").as("tokens_per_kchar_micro"))
  }

  private val corpusCardSql = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
      .map("'" + _ + "'").mkString(",")
    s"""WITH d AS (
       |  SELECT source, lang, n_chars,
       |    CAST(len(tk) AS BIGINT) AS nt,
       |    CAST(len(list_filter(tk, t -> t IN ($stop))) AS BIGINT) AS nstop,
       |    CAST(len(list_filter(tk, t -> length(t) <= 2)) AS BIGINT) AS nshort
       |  FROM (SELECT source, lang, n_chars, string_split(text, ' ') AS tk
       |        FROM documents)),
       |q AS (
       |  SELECT *,
       |    CAST(floor((CAST(nstop AS DOUBLE) / nt * 0.5 +
       |      (1.0 - CAST(nshort AS DOUBLE) / nt) * 0.5) * 1e6) AS BIGINT)
       |      AS q_micro
       |  FROM d)
       |SELECT source,
       |  count(*) AS docs,
       |  CAST(sum(nt) AS BIGINT) AS tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS chars,
       |  min(nt) AS min_tokens,
       |  max(nt) AS max_tokens,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS langs,
       |  CAST(sum(CASE WHEN nt < 30 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS short_docs,
       |  CAST(sum(q_micro) AS BIGINT) // count(*) AS quality_mean_micro,
       |  (CAST(sum(nt) AS BIGINT) * 1000000) // CAST(sum(n_chars) AS BIGINT)
       |    AS tokens_per_kchar_micro
       |FROM q GROUP BY source""".stripMargin
  }

  /** Simpson/Herfindahl token concentration λ = Σc²/n² per document —
    * the distribution-level repetition signal next to the Gopher-style
    * top-fraction rules (`text_repetition`): a doc whose mass
    * concentrates on few tokens scores high even when no single n-gram
    * dominates. Micro-unit integer arithmetic ((Σc²·10⁶) div n² — n ≤
    * a few hundred tokens, so Σc²·10⁶ ≤ ~10¹¹, long-safe), bit-exact
    * across engines. Scale shape: two hash aggregations ((doc, token)
    * counts → per-doc moments), both map-side-combining; no windows,
    * no arrays riding an exchange.
    */
  private def textSimpson(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("c")).as("s2"), sum(col("c")).as("n"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        expr("(s2 * 1000000) div (n * n)").as("simpson_micro"))

  private val textSimpsonSql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
      |a AS (
      |  SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS s2,
      |         CAST(sum(c) AS BIGINT) AS n
      |  FROM c GROUP BY 1)
      |SELECT doc_id, n AS n_tokens, (s2 * 1000000) // (n * n) AS simpson_micro
      |FROM a""".stripMargin

  /** The hashed word-3-grams of a document from its per-token poly-hash
    * array `tp`: (h₁·P + h₂)·P + h₃ mod M per 3-gram, P = 1000003,
    * M = 1e9+7. Empty below 3 tokens (sequence(1, 0) would count down).
    * The KMV sketches' shingle universe.
    */
  private def tokenTrigramHashes: Column =
    when(size(col("tp")) < 3, expr("CAST(array() AS ARRAY<BIGINT>)"))
      .otherwise(expr(
        """transform(sequence(1, size(tp) - 2),
          |  i -> ((tp[i - 1] * 1000003 + tp[i]) % 1000000007 * 1000003
          |        + tp[i + 1]) % 1000000007)""".stripMargin))

  /** DuckDB twin of [[tokenTrigramHashes]]: the hash of the 3-gram at
    * 1-based token `i`, over a row `tp` unnested with
    * `range(1, greatest(len(tp) - 2, 0) + 1)`.
    */
  private val tokenTrigramHashSql =
    "((tp[i] * 1000003 + tp[i + 1]) % 1000000007 * 1000003 + tp[i + 2]) % 1000000007"

  /** KMV (k-minimum-values) distinct-shingle estimate — the ORACLED member
    * of the approx-distinct sketch family. `agg_approx_distinct` (HLL) is
    * rows-only because the engine's register layout is native; KMV over
    * the portable polynomial hash ([[graft.functions.PolyHash31]]) is a
    * deterministic function of the corpus, so the k smallest hash values
    * — and the estimate `(k−1)·M div h₍ₖ₎` (Beyer et al., "On synopses
    * for distinct-value estimation") — are hash-exact vs DuckDB. Falls
    * back to the exact count when fewer than k distinct hashes exist.
    * `exact_distinct` rides the same plan as the built-in accuracy
    * witness (distinct hashed tokens, the sketch's own universe).
    *
    * Scale shape: tokens are hashed in one codegen pass per document
    * (explode ships longs, never strings); `distinct` shuffles only
    * compact int64s (vocabulary-sized keyspace); the k-smallest pass is
    * TakeOrdered (bounded per-partition heaps, no global sort — KMV is
    * exactly the "k smallest" mergeable sketch, so the per-partition
    * heap IS the sketch merge); both 1-row sides ride broadcast cross
    * joins and share the distinct subtree via ReusedExchange.
    */
  private def sketchKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    // universe = word-3-gram shingles, not bare tokens: the synthetic
    // vocabulary is ~31 words (sub-k, so the estimator branch would
    // never run), while the shingle space is ~16k — and shingle-space
    // cardinality is the pipeline-relevant notion of content novelty
    // ONE corpus pass: the bounded TopKAgg (the k-min sketch itself) and
    // the exact-count witness ride the SAME global aggregate over the
    // distinct hashes. Shingle hashes are combined ARITHMETICALLY from
    // the per-token poly-hashes (h₁·P + h₂)·P + h₃ mod M — a shingle
    // hash needs to be a deterministic portable hash of the 3-gram, not
    // the char fold of its concatenation, so skipping the concat + char
    // re-fold (~6× the char work, 2.6 M string allocs at sf0.1) keeps
    // identical estimator semantics at a third of the cost
    val topk = udaf(new graft.agg.TopKAgg(k))
    graft.Tables
      .documents(s, dir)
      .select(Text.words(col("text")).as("toks"))
      .select(PolyHash31.polyhash31(col("toks")).getField("pp").as("tp"))
      .select(explode(tokenTrigramHashes).as("h"))
      .distinct()
      .agg(topk(col("h"), col("h")).as("arr"),
        count(lit(1)).as("exact_distinct"))
      .select(
        lit(k.toLong).as("k"),
        expr("transform(arr, p -> p._1)[size(arr) - 1]").as("kth_min"),
        when(size(col("arr")) < k, col("exact_distinct"))
          .otherwise(expr(
            s"(${k - 1} * CAST(1000000007 AS BIGINT)) div transform(arr, p -> p._1)[${k - 1}]"))
          .as("est_distinct"),
        col("exact_distinct"))
  }

  private val sketchKmvDistinctSql =
    s"""WITH tp AS (
      |  SELECT list_transform(${Text.wordsSql}, t ->
      |    ${PolyHash31.foldSql("t")}) AS tp
      |  FROM documents),
      |hashes AS (
      |  SELECT DISTINCT $tokenTrigramHashSql AS h
      |  FROM tp, unnest(range(1, greatest(len(tp) - 2, 0) + 1)) AS u(i)),
      |kmin AS (
      |  SELECT max(h) AS kth_min, count(*) AS nk
      |  FROM (SELECT h FROM hashes ORDER BY h LIMIT 256)),
      |ex AS (SELECT count(*) AS exact_distinct FROM hashes)
      |SELECT CAST(256 AS BIGINT) AS k, kth_min,
      |  CASE WHEN nk < 256 THEN exact_distinct
      |       ELSE (255 * CAST(1000000007 AS BIGINT)) // kth_min
      |  END AS est_distinct,
      |  exact_distinct
      |FROM kmin, ex""".stripMargin

  /** KMV corpus-overlap estimate — "how much does the new crawl overlap
    * what we already have": distinct-shingle overlap between two corpus
    * halves (source-id parity) by inclusion–exclusion over three KMV
    * sketches (Beyer et al.): est∩ = estA + estB − est∪, where the union
    * sketch is the k smallest of the two k-min sets — KMV's closure
    * under union is exactly why it is THE mergeable distinct sketch.
    * Deterministic end-to-end (portable poly-hash + bounded
    * [[graft.agg.TopKAgg]]), so the estimates AND the exact witnesses
    * are hash-exact vs DuckDB in one report row.
    *
    * Scale shape: one codegen hash pass; one distinct over compact
    * (corpus, h) int64 pairs; a TopKAgg per corpus (O(k) state,
    * map-side combine — ≤ 2k pairs per map partition cross the
    * exchange); the exact witnesses are one more compact aggregate on
    * the same distinct subtree. Union-merge and estimator arithmetic
    * are array expressions on a 1-row frame.
    */
  private def sketchKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    // same arithmetic shingle-hash combine as sketch_kmv_distinct (see
    // there): per-token poly-hashes folded numerically, no 3-gram
    // string materialization
    val dfh = graft.Tables
      .documents(s, dir)
      .select(
        // corpus parity from the portable poly-hash of the FULL source
        // string (same fold both engines compute), not a positional
        // substring cast: the 'srcN' format assumption had asymmetric
        // failure modes on format drift (Spark's cast NULLs and silently
        // drops rows, DuckDB's throws) — a hash-of-whatever-string is
        // format-agnostic and fails identically or not at all.
        pmod(element_at(PolyHash31.polyhash31(array(col("source"))).getField("pp"), 1), lit(2))
          .as("corpus"),
        Text.words(col("text")).as("toks"))
      .select(col("corpus"), PolyHash31.polyhash31(col("toks")).getField("pp").as("tp"))
      .select(col("corpus"),
        explode(tokenTrigramHashes).as("h"))
      .distinct()
    val topk = udaf(new graft.agg.TopKAgg(k))
    val sk = dfh.groupBy(col("corpus"))
      .agg(topk(col("h"), col("h")).as("arr"))
      .groupBy()
      .agg(collect_list(struct(col("corpus"), col("arr"))).as("cs"))
      .select(
        expr("transform(filter(cs, x -> x.corpus = 0)[0].arr, p -> p._1)").as("a0"),
        expr("transform(filter(cs, x -> x.corpus = 1)[0].arr, p -> p._1)").as("a1"))
    val exact = dfh.groupBy(col("h"))
      .agg(min(col("corpus")).as("mn"), max(col("corpus")).as("mx"))
      .agg(
        sum(when(col("mn") === 0, 1L).otherwise(0L)).as("exact_a"),
        sum(when(col("mx") === 1, 1L).otherwise(0L)).as("exact_b"),
        count(lit(1)).as("exact_union"),
        sum(when(col("mn") === 0 && col("mx") === 1, 1L).otherwise(0L))
          .as("exact_intersect"))
    def est(arrCol: String, exactCol: String) =
      expr(s"""CASE WHEN size($arrCol) < $k THEN $exactCol
              | ELSE (${k - 1} * CAST(1000000007 AS BIGINT)) div element_at($arrCol, $k)
              | END""".stripMargin)
    sk.crossJoin(broadcast(exact))
      .withColumn("mu",
        expr(s"slice(array_sort(array_distinct(concat(a0, a1))), 1, $k)"))
      .select(
        lit(k.toLong).as("k"),
        est("a0", "exact_a").as("est_a"),
        est("a1", "exact_b").as("est_b"),
        est("mu", "exact_union").as("est_union"),
        col("exact_a"), col("exact_b"), col("exact_union"),
        col("exact_intersect"))
      .withColumn("est_intersect",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
  }

  private val sketchKmvOverlapSql =
    s"""WITH tp AS (
      |  SELECT ${PolyHash31.foldSql("source")} % 2 AS corpus,
      |    list_transform(${Text.wordsSql}, t ->
      |      ${PolyHash31.foldSql("t")}) AS tp
      |  FROM documents),
      |dfh AS (
      |  SELECT DISTINCT corpus, $tokenTrigramHashSql AS h
      |  FROM tp, unnest(range(1, greatest(len(tp) - 2, 0) + 1)) AS u(i)),
      |a0 AS (SELECT h FROM dfh WHERE corpus = 0 ORDER BY h LIMIT 256),
      |a1 AS (SELECT h FROM dfh WHERE corpus = 1 ORDER BY h LIMIT 256),
      |mu AS (
      |  SELECT h FROM (SELECT h FROM a0 UNION SELECT h FROM a1)
      |  ORDER BY h LIMIT 256),
      |ka AS (SELECT count(*) AS n, max(h) AS kth FROM a0),
      |kb AS (SELECT count(*) AS n, max(h) AS kth FROM a1),
      |ku AS (SELECT count(*) AS n, max(h) AS kth FROM mu),
      |ex AS (
      |  SELECT
      |    CAST(sum(CASE WHEN mn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS exact_a,
      |    CAST(sum(CASE WHEN mx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_b,
      |    count(*) AS exact_union,
      |    CAST(sum(CASE WHEN mn = 0 AND mx = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS exact_intersect
      |  FROM (SELECT h, min(corpus) AS mn, max(corpus) AS mx
      |        FROM dfh GROUP BY h)),
      |est AS (
      |  SELECT CAST(256 AS BIGINT) AS k,
      |    CASE WHEN ka.n < 256 THEN ex.exact_a
      |         ELSE (255 * CAST(1000000007 AS BIGINT)) // ka.kth END AS est_a,
      |    CASE WHEN kb.n < 256 THEN ex.exact_b
      |         ELSE (255 * CAST(1000000007 AS BIGINT)) // kb.kth END AS est_b,
      |    CASE WHEN ku.n < 256 THEN ex.exact_union
      |         ELSE (255 * CAST(1000000007 AS BIGINT)) // ku.kth END AS est_union,
      |    ex.exact_a, ex.exact_b, ex.exact_union, ex.exact_intersect
      |  FROM ka, kb, ku, ex)
      |SELECT k, est_a, est_b, est_union, exact_a, exact_b, exact_union,
      |  exact_intersect,
      |  greatest(CAST(0 AS BIGINT), est_a + est_b - est_union) AS est_intersect
      |FROM est""".stripMargin

  /** Corpus heavy hitters: top-50 most frequent tokens — the vocabulary/
    * stopword-discovery staple of a training-data pipeline. Exact
    * (explode → hash-groupBy with map-side partial counts → TakeOrdered
    * with a total (count desc, token) order), which is the right call
    * even at 100 TB: the aggregated keyspace is the vocabulary (millions,
    * not corpus-sized), so the shuffle is compact and no sketch
    * (count-min / space-saving) trade-off is needed for a top-k this
    * small.
    */
  private def topTokens(s: SparkSession, dir: String): DataFrame =
    graft.Tables
      .documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(50)

  private val topTokensSql =
    """SELECT tok, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |WHERE length(tok) > 0
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin

  /** Two-pass heavy hitters — the 100 TB pattern when even the
    * vocabulary-sized shuffle of `text_top_tokens` is too wide (web-scale
    * token/URL/ngram domains): pass 1 runs Spark's Misra-Gries-family
    * `stat.freqItems` sketch, a single map-side pass producing a bounded
    * (≤ 1/support) candidate array with NO false negatives — every item
    * with frequency ≥ support is guaranteed present; pass 2 exactly
    * counts ONLY the candidates (broadcast isin filter, so the groupBy
    * keyspace is ≤ 1/support rows) and thresholds in-plan with integer
    * arithmetic (cnt·32 > N ⟺ freq > 1/32 — STRICT, matching the
    * sketch's guarantee, which covers items appearing strictly more
    * than support·N times; an inclusive exact threshold could admit a
    * boundary item the sketch legitimately dropped). The false positives
    * are eliminated by the exact pass, so the result equals the direct
    * computation — which is why this query is FULLY oracled even though
    * a sketch is involved. Candidates are DimCache'd per dataset (the
    * sketch pass is a bounded driver action, run once, not per rep).
    */
  private def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    def toksOf(df: DataFrame): DataFrame = df
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val toks = toksOf(Tables.documents(s, dir))
    val cands = graft.DimCache.cached(s"heavyHitters:$dir") {
      toks.stat.freqItems(Seq("tok"), 1.0 / 32)
        .head().getSeq[String](0).toArray
    }
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.filter(col("tok").isin(cands.toIndexedSeq: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * 32 > col("n_total"))
      .select(col("tok"), col("cnt"))
  }

  private val heavyHittersSql =
    s"""WITH t AS (
      |  SELECT unnest(${Text.tokensSql()}) AS tok
      |  FROM documents),
      |t2 AS (SELECT tok FROM t WHERE length(tok) > 0),
      |n AS (SELECT count(*) AS n_total FROM t2)
      |SELECT tok, count(*) AS cnt
      |FROM t2 CROSS JOIN n
      |GROUP BY tok, n_total
      |HAVING count(*) * 32 > n_total""".stripMargin

  /** Gopher-style repetition quality signals: per-document
    * duplicate-word fraction and most-frequent-bigram fraction — the
    * boilerplate/templated-page filters large-scale corpus pipelines run
    * before training. Entirely map-side (the most-frequent-bigram count
    * is a run-length fold over the row's own sorted bigram array, never
    * a corpus-level group-by), so the operator has NO shuffle and scales
    * linearly with input bytes; the token/bigram arrays are materialized
    * once per row before any lambda indexes them.
    */
  private def textRepetition(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      // null text is coalesced to '' in BOTH engines: without it Spark's
      // size(null) = -1 would fabricate n_tokens = -1 / dup_word_ratio = 0
      // while the twin yields NULLs — a divergence the null-free synthetic
      // corpus can't catch but real corpora would.
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_distinct"),
        when(size(col("tk")) >= 2,
          expr("transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1]))"))
          .otherwise(array().cast("array<string>")).as("gs"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        sort_array(col("gs")).as("sg"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("""aggregate(sg,
          named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
          (acc, x) -> named_struct(
            'prev', x,
            'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END,
            'best', GREATEST(acc.best,
              CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END)),
          acc -> acc.best)""").as("top2_count"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"), col("top2_count"),
        when(col("n_tokens") >= 2,
          col("top2_count").cast(DoubleType) / (col("n_tokens") - 1))
          .as("top2_ratio"),
        (lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_tokens"))
          .as("dup_word_ratio"))

  /** DuckDB twin: the most-frequent-bigram count goes through a plain
    * unnest + GROUP BY + max (same number, different shape — the oracle
    * only needs correctness, not the map-side plan); the ratios are the
    * same single IEEE divisions.
    */
  private val textRepetitionSql =
    s"""WITH t AS (SELECT doc_id, ${Text.tokensSql()} AS tk FROM documents),
      |g AS (
      |  SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
      |    CASE WHEN len(tk) >= 2 THEN
      |      list_transform(range(0, len(tk) - 1), i -> tk[i + 1] || ' ' || tk[i + 2])
      |    ELSE [] END AS gs
      |  FROM t),
      |gc AS (
      |  SELECT doc_id, max(c) AS top2_count FROM (
      |    SELECT doc_id, g2, count(*) AS c
      |    FROM (SELECT doc_id, unnest(gs) AS g2 FROM g)
      |    GROUP BY doc_id, g2)
      |  GROUP BY doc_id)
      |SELECT g.doc_id, n_tokens, n_distinct,
      |  CAST(COALESCE(top2_count, 0) AS INTEGER) AS top2_count,
      |  CASE WHEN n_tokens >= 2 THEN
      |    CAST(COALESCE(top2_count, 0) AS DOUBLE) / (n_tokens - 1)
      |  ELSE NULL END AS top2_ratio,
      |  1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_word_ratio
      |FROM g LEFT JOIN gc ON g.doc_id = gc.doc_id""".stripMargin

  // Shared by the Spark and DuckDB sides of text_pii_redact: plain
  // character-class patterns that parse identically under Java regex and
  // RE2 (no lookarounds, no Java-only escapes).
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "555-[0-9]{3}"

  /** PII redaction — the scrubbing pass a training-data pipeline runs
    * before anything ships: match + count + replace emails/phone-shaped
    * substrings. The synthetic corpus has no PII, so a deterministic
    * contact line derived from doc_id is appended first (mirrored in the
    * oracle) — the redaction then provably fires on every row instead of
    * vacuously passing on zero matches. Pure per-row regex work: no
    * shuffle, codegen'd, linear at 100 TB.
    */
  private def piiRedact(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        concat(
          col("text"), lit(" contact user"), col("doc_id").cast(StringType),
          lit("@mail.example.com or call 555-0"),
          lpad((col("doc_id") % 100).cast(StringType), 2, "0"),
          lit(" now")).as("text2"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text2"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text2"), lit(phoneRe), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(col("text2"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("redacted"))

  private val piiRedactSql =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@mail.example.com or call 555-0' ||
       |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' now' AS text2
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(text2, '$emailRe', 0)) AS n_emails,
       |  len(regexp_extract_all(text2, '$phoneRe', 0)) AS n_phones,
       |  regexp_replace(
       |    regexp_replace(text2, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g') AS redacted
       |FROM t""".stripMargin

  /** Corpus-frequency token pruning — the df-based boilerplate/stopword
    * removal a curation pipeline runs before training (drop tokens that
    * appear in more than half of all documents). Spark-first shape: the
    * common-token set is a 1-row aggregate (self-bounding — at df
    * threshold t·N its size is ≤ total_tokens/(t·N)) broadcast to a
    * pure MAP-SIDE higher-order `filter` over the split array, so
    * token order is preserved with NO explode/reassemble exchange; the
    * only shuffles are the compact (doc, tok)-distinct and df
    * aggregations.
    */
  private def dfPrune(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables
      .documents(s, dir)
      .select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val dfTab = pairs.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = pairs.agg(countDistinct(col("doc_id")).as("n"))
    val commons = dfTab
      .crossJoin(broadcast(nDocs))
      .filter(col("df").cast(DoubleType) > col("n").cast(DoubleType) * lit(0.5))
      .agg(sort_array(collect_list(col("tok"))).as("commons"))
    Tables
      .documents(s, dir)
      .crossJoin(broadcast(commons))
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"), col("commons"))
      .select(col("doc_id"),
        expr("filter(tk, t -> length(t) > 0 AND NOT array_contains(commons, t))").as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast(LongType).as("n_kept"),
        graft.ArrCanon.joined(slice(col("kept"), 1, 8)).as("head_kept"))
  }

  private val dfPruneSql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(${Text.tokensSql()}) AS tok
       |    FROM documents) t
       |  WHERE length(tok) > 0),
       |dfq AS (SELECT tok, count(*) AS df FROM pairs GROUP BY tok),
       |nd AS (SELECT count(DISTINCT doc_id) AS n FROM pairs),
       |common AS (
       |  SELECT coalesce(list_sort(list(tok)), CAST([] AS VARCHAR[])) AS commons
       |  FROM dfq, nd WHERE CAST(df AS DOUBLE) > CAST(n AS DOUBLE) * 0.5)
       |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
       |  ${graft.ArrCanon.joinedSql("list_slice(kept, 1, 8)")} AS head_kept
       |FROM (
       |  SELECT doc_id,
       |    list_filter(${Text.tokensSql()},
       |      t -> length(t) > 0 AND NOT list_contains(commons, t)) AS kept
       |  FROM documents, common)""".stripMargin

  /** CCNet-style statistical-LM quality scoring: train a bigram LM on
    * the corpus itself (add-one smoothing over the observed vocab), then
    * score every document by its average bigram log-probability — the
    * "does this read like the corpus" filter large-scale pipelines run
    * to drop gibberish/boilerplate before training. `rare_bigrams`
    * (bigrams occurring exactly once corpus-wide) is the companion
    * novelty signal. Documents with fewer than two tokens have no
    * bigrams and are excluded by contract.
    *
    * Scale shape: the model IS two aggregate tables (unigram and bigram
    * counts — map-side combined, orders of magnitude smaller than the
    * corpus), and scoring joins the exploded bigram stream against them
    * on compact single-token/bigram keys, then reduces per doc. Every
    * shuffle key is a token or doc id — never text payloads; at 100 TB
    * the model tables are reusable write-once artifacts and the hot
    * grams are exactly the keys AQE skew-handles. Log-probs ride the
    * fixed-point [[Agg.dsum]] path so the per-doc sum is
    * order-independent and hash-exact across engines.
    */
  private def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
    // exploded bigram stream: (doc_id, first token, "w1 w2")
    val e = docs
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - 2)).as("i"))
      .select(
        col("doc_id"),
        expr("tk[i]").as("w1"),
        expr("concat(tk[i], ' ', tk[i + 1])").as("g"))
    val uni = docs
      .select(explode(col("tk")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c1"))
    val big = e.groupBy(col("g")).agg(count(lit(1)).as("c12"))
    // |V| for the smoothing denominator = the unigram table's row count
    val v = uni.agg(count(lit(1)).as("v"))
    e.join(big, Seq("g"))
      .join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(v))
      .select(
        col("doc_id"),
        log((col("c12") + 1).cast(DoubleType) / (col("c1") + col("v")))
          .as("lp"),
        (col("c12") === 1).cast("long").as("rare"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("rare")).as("rare_bigrams"),
        Agg.dsum(col("lp"), 6).as("sum_logp"),
        sum(floor(col("lp") * lit(1e6)).cast(LongType)).as("slpm"))
      .select(
        col("doc_id"), col("n_bigrams"), col("rare_bigrams"),
        col("sum_logp"),
        // integer micro-units carried as longs end-to-end, NOT
        // round(sum/n, 6): the double quotient's round() flipped the
        // last digit between Spark and DuckDB at sf0.1
        // (representation-boundary ties round differently per engine);
        // the long floor-division is bit-exact by construction
        expr("slpm div n_bigrams").as("avg_logp_micro"))
  }

  private val textLmScoreSql = {
    val lp = "ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v))"
    s"""WITH d AS (
       |  SELECT doc_id, ${Text.tokensSql()} AS tk
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, tk[i + 1] AS w1, tk[i + 1] || ' ' || tk[i + 2] AS g
       |  FROM d, unnest(range(0, len(tk) - 1)) AS u(i)),
       |uni AS (
       |  SELECT w, count(*) AS c1
       |  FROM (SELECT unnest(tk) AS w FROM d) GROUP BY w),
       |big AS (SELECT g, count(*) AS c12 FROM e GROUP BY g),
       |v AS (SELECT count(*) AS v FROM uni),
       |p AS (
       |  SELECT e.doc_id, $lp AS lp,
       |    CASE WHEN c12 = 1 THEN 1 ELSE 0 END AS rare
       |  FROM e JOIN big ON e.g = big.g JOIN uni ON e.w1 = uni.w CROSS JOIN v)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(rare) AS BIGINT) AS rare_bigrams,
       |  ${Agg.dsumSql("lp", 6)} AS sum_logp,
       |  CAST(sum(CAST(floor(lp * 1e6) AS BIGINT)) // count(*) AS BIGINT)
       |    AS avg_logp_micro
       |FROM p GROUP BY doc_id""".stripMargin
  }

  /** Zipf-law audit: OLS fit of ln(freq) on ln(rank) over the corpus
    * token frequency table — slope_micro ≈ −10⁶·α, the corpus-law
    * number (natural text ⇒ α ≈ 1; synthetic/templated corpora deviate,
    * which is what this audits). Composition witness: the ln-micro
    * integer inputs feed [[graft.queries.Aggregates.olsFitOver]]
    * unchanged, and the DuckDB twin replicates the identical integer
    * moment formulas — two independently-oracled operators composing
    * without a new exactness argument.
    *
    * Scale shape: one token aggregate; ranks come from
    * [[graft.operators.GlobalOrder.rowNumber]] (range repartition +
    * zipWithIndex — no single-partition window even though the frame is
    * only the vocabulary, which is itself unbounded on web corpora);
    * the fit is a 1-group moment aggregate over that same frame.
    */
  private def zipfOls(s: SparkSession, dir: String): DataFrame = {
    val freq = graft.operators.GlobalOrder.rowNumber(
      Tables
        .documents(s, dir)
        .select(explode(Text.tokens(col("text")))
          .as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("c")),
      Seq(col("c").desc, col("tok")), "rn")
    val pts = freq.select(
      lit("corpus").as("g"),
      floor(log(col("rn").cast(DoubleType)) * 1e6).cast(LongType).as("x"),
      floor(log(col("c").cast(DoubleType)) * 1e6).cast(LongType).as("yc"))
    graft.queries.Aggregates.olsFitOver(pts, "g")
  }

  private val zipfOlsSql =
    s"""WITH freq AS (
      |  SELECT tok, count(*) AS c FROM (
      |    SELECT unnest(${Text.tokensSql()}) AS tok
      |    FROM documents) t
      |  WHERE length(tok) > 0 GROUP BY tok),
      |pts AS (
      |  SELECT 'corpus' AS g,
      |    CAST(floor(ln(CAST(row_number()
      |      OVER (ORDER BY c DESC, tok) AS DOUBLE)) * 1e6) AS BIGINT) AS x,
      |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS yc
      |  FROM freq),
      |m AS (
      |  SELECT g, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(x * yc) AS BIGINT) AS sxy
      |  FROM pts GROUP BY g),
      |model AS (
      |  SELECT g, n,
      |    CAST((CAST(1000000 AS HUGEINT) *
      |      (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)) //
      |      (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
      |      AS BIGINT) AS slope_micro,
      |    CAST((CAST(1000000 AS HUGEINT) *
      |      (CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy)) //
      |      (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
      |      AS BIGINT) AS intercept_micro
      |  FROM m)
      |SELECT pts.g, n, slope_micro, intercept_micro,
      |  CAST(sum(CAST(abs(yc * 1000000 - slope_micro * x - intercept_micro)
      |      AS HUGEINT)) // CAST(n AS HUGEINT) AS BIGINT) AS mae_micro
      |FROM pts JOIN model ON pts.g = model.g
      |GROUP BY pts.g, n, slope_micro, intercept_micro""".stripMargin

  /** Top-20 collocations by pointwise mutual information over the
    * corpus bigram stream: pmi = ln(c12·T / (c1·c2)) with c1/c2 the
    * first/second-position marginals and T the bigram total — the
    * phrase-mining signal (Church & Hanks 1990) corpus pipelines use to
    * decide what becomes a single token. Counts are exact integers;
    * the ratio and its ln ride the [[textLmScore]] convention (identical
    * IEEE expression over identical longs, floored to micro-units), so
    * ranking and values are hash-exact. c12 ≥ 5 kills the hapax noise
    * PMI is notorious for.
    *
    * Scale shape: three token-keyed aggregates off one bigram stream
    * (map-side combined; AQE reuses the exploded scan), the bigram
    * total broadcast, and a TakeOrdered(20) final — never a global
    * sort. Marginal tables are vocabulary-sized, not corpus-sized.
    */
  private def collocationPmi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(s, dir)
      .select(Text.tokens(col("text")).as("tk"))
    val e = docs
      .filter(size(col("tk")) >= 2)
      .select(explode(sequence(lit(0), size(col("tk")) - 2)).as("i"),
        col("tk"))
      .select(expr("tk[i]").as("w1"), expr("tk[i + 1]").as("w2"))
    val big = e.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val m1 = e.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val m2 = e.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val t = e.agg(count(lit(1)).as("t"))
    big
      .filter(col("c12") >= 5)
      .join(m1, Seq("w1"))
      .join(m2, Seq("w2"))
      .crossJoin(broadcast(t))
      .select(col("w1"), col("w2"), col("c12"),
        floor(log(col("c12").cast(DoubleType) * col("t") /
          (col("c1").cast(DoubleType) * col("c2"))) * 1e6)
          .cast(LongType).as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private val collocationPmiSql =
    s"""WITH d AS (
      |  SELECT ${Text.tokensSql()} AS tk FROM documents),
      |e AS (
      |  SELECT tk[i + 1] AS w1, tk[i + 2] AS w2
      |  FROM d, unnest(range(0, len(tk) - 1)) AS u(i)
      |  WHERE len(tk) >= 2),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM e GROUP BY w1, w2),
      |m1 AS (SELECT w1, count(*) AS c1 FROM e GROUP BY w1),
      |m2 AS (SELECT w2, count(*) AS c2 FROM e GROUP BY w2),
      |t AS (SELECT count(*) AS t FROM e)
      |SELECT w1, w2, c12,
      |  CAST(floor(ln(CAST(c12 AS DOUBLE) * t /
      |    (CAST(c1 AS DOUBLE) * c2)) * 1e6) AS BIGINT) AS pmi_micro
      |FROM big JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN t
      |WHERE c12 >= 5
      |ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin

  /** blocked fuzzy self-join (the entity-resolution primitive:
    * approximate string matching at scale; cf. the edit-distance
    * surface edit_distance.hpp + the minhash blocking the dedup family
    * uses): part-name pairs within Levenshtein distance 2, candidates
    * generated by trigram blocking with stop-gram pruning.
    *
    * Declared semantics are the BLOCKED join (a candidate pair must
    * share at least one surviving trigram) — the standard
    * recall/efficiency trade every production fuzzy matcher makes;
    * the oracle mirrors the identical blocking, so the gate pins both
    * the verify predicate AND the candidate generation.
    *
    * Scale shape: the join runs on the DISTINCT-value frame, never the
    * row frame (dictionary-collapse first — at 100 TB the name
    * vocabulary is orders of magnitude smaller than the table);
    * stop-gram pruning (df > 16) caps every blocking bucket, so the
    * per-gram self-join is bounded quadratic in a SMALL constant, not
    * in corpus hot-key frequency; matches broadcast back to rows when
    * a caller needs row pairs. Levenshtein runs only on surviving
    * candidates (codegen'd built-in in both engines).
    */
  private def joinFuzzyNgram(s: SparkSession, dir: String): DataFrame = {
    // names shorter than a trigram generate no blocking grams in either
    // engine — the explicit guard matters because Spark's
    // sequence(1, 0) steps DOWNWARD to [1, 0] instead of returning
    // empty, which would fabricate sub-trigram grams for short names
    val names = Tables.part(s, dir)
      .select(col("p_name").as("n")).distinct()
      .filter(length(col("n")) >= 3)
    val grams = names.select(col("n"),
      explode(expr(
        "array_distinct(transform(sequence(1, greatest(length(n) - 2, 0)), i -> substring(n, i, 3)))"))
        .as("g"))
    val surviving = grams.join(
      grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 16)
        .select(col("g")),
      Seq("g"))
    surviving.as("x")
      .join(surviving.as("y"),
        col("x.g") === col("y.g") && col("x.n") < col("y.n"))
      .select(col("x.n").as("n1"), col("y.n").as("n2"))
      .distinct()
      .select(col("n1"), col("n2"),
        levenshtein(col("n1"), col("n2")).as("dist"))
      .filter(col("dist") <= 2)
  }

  private val joinFuzzyNgramSql =
    """WITH names AS (
      |  SELECT DISTINCT p_name AS n FROM part WHERE length(p_name) >= 3),
      |grams AS (
      |  SELECT n, unnest(list_distinct(list_transform(
      |    range(1, greatest(length(n) - 2, 0) + 1),
      |    i -> substring(n, i, 3)))) AS g
      |  FROM names),
      |surviving AS (
      |  SELECT n, g FROM grams
      |  WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) <= 16)),
      |cand AS (
      |  SELECT DISTINCT x.n AS n1, y.n AS n2
      |  FROM surviving x JOIN surviving y ON x.g = y.g AND x.n < y.n)
      |SELECT n1, n2, CAST(levenshtein(n1, n2) AS INTEGER) AS dist
      |FROM cand WHERE levenshtein(n1, n2) <= 2""".stripMargin

  def queries: Map[String, Q] = Map(
    "join_fuzzy_ngram" -> Q(joinFuzzyNgram _, joinFuzzyNgramSql),
    "text_collocation_pmi" -> Q(collocationPmi _, collocationPmiSql),
    "text_zipf_ols" -> Q(zipfOls _, zipfOlsSql),
    "text_lm_score" -> Q(textLmScore _, textLmScoreSql),
    "text_df_prune" -> Q(dfPrune _, dfPruneSql),
    "text_repetition" -> Q(textRepetition _, textRepetitionSql),
    "text_simpson" -> Q(textSimpson _, textSimpsonSql),
    "corpus_card" -> Q(corpusCard _, corpusCardSql),
    "text_pii_redact" -> Q(piiRedact _, piiRedactSql),
    "text_token_count" -> Q(tokenCount _, tokenCountSql),
    "text_top_tokens" -> Q(topTokens _, topTokensSql),
    "text_heavy_hitters" -> Q(heavyHitters _, heavyHittersSql),
    "sketch_kmv_distinct" -> Q(sketchKmvDistinct _, sketchKmvDistinctSql).tag(Headline, Basis),
    "sketch_kmv_overlap" -> Q(sketchKmvOverlap _, sketchKmvOverlapSql),
    "text_char_ngrams" -> Q(charNgrams _, charNgramsSql),
    "text_word_ngrams" -> Q(wordNgrams _, wordNgramsSql),
    "text_fingerprint" -> Q(fingerprint _, fingerprintSql),
    "text_quality_score" -> Q(qualityScore _, qualityScoreSql),
    "filter_quality_quantile" -> Q(filterQualityQuantile _, filterQualityQuantileSql),
    "text_lang_id" -> Q(langId _, langIdSql),
    "eval_langid_confusion" -> Q(evalLangidConfusion _, evalLangidConfusionSql),
    "eval_langid_prf" -> Q(evalLangidPrf _, evalLangidPrfSql),
    "text_edit_distance" -> Q(editDistancePairs _, editDistancePairsSql),
    "text_jaccard_pairs" -> Q(jaccardPairs _, jaccardPairsSql),
    "text_normalize_filter" -> Q(normalizeFilterTokens _, normalizeFilterTokensSql)
  )
}
