package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators round 10 adds on top of the dedup/quality
  * families: a Count-Min frequency sketch, DSIR-style hashed-feature
  * importance weighting (Xie et al. 2023, "Data Selection for Language
  * Models via Importance Resampling"), temperature-based multilingual
  * mixture rebalancing (the p_l^α sampling of mBERT/XLM-R), and
  * content-defined chunking with chunk-level duplicate accounting (the
  * rolling-boundary dedup granularity of storage systems, applied to a
  * text corpus). All fixed-point/integer end-to-end so every report is
  * hash-exact vs the DuckDB oracle.
  *
  * Reference scope: frequency/quality analytics live under the same
  * roof as nvtext's corpus tooling (cpp/include/nvtext/minhash.hpp:72
  * banding, jaccard.hpp:73 verify); these four are the
  * beyond-reference training-pipeline extensions the build plan calls
  * for.
  */
object Curation {

  private val P = 1000000007L

  /** Non-empty whitespace tokens of `text` (both engines' shared cut;
    * `split` never yields a null element, so removing '' is the cut).
    */
  private def toks = expr("array_remove(split(coalesce(text, ''), ' '), '')")

  /** DuckDB mirror of [[graft.functions.PolyHash31]] for one token
    * expression: fold codepoints through (h*31 + c) mod P.
    */
  private def foldSql(t: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length($t) + 1),
       |        i -> CAST(ascii(substring($t, i, 1)) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % $P)""".stripMargin

  // ------------------------------------------------------ count-min sketch

  /** Count-Min sketch (Cormode–Muthukrishnan) over the corpus token
    * stream, audited against exact counts: d = 4 hash rows × w = 1024
    * counters, per-row bucket b_r(h) = ((h·(1000003+2r) + 12289r) mod P)
    * mod w over the portable token poly-hash. The report joins the CMS
    * estimate onto the exact top-20 tokens so the one-sided error
    * (est ≥ exact, the CMS guarantee) is visible per token.
    *
    * Scale shape: the sketch is the POINT — counters are a fixed
    * d×w = 4096-cell state with map-side combine, so the exchange ships
    * ≤ 4096 rows per partition no matter how many tokens the corpus
    * has; at 100 TB the sketch replaces the vocabulary-sized shuffle
    * when even that is too wide (URL/ngram domains), and sketches from
    * disjoint shards merge by cell-wise addition. Everything is long
    * arithmetic — deterministic, mergeable, hash-exact.
    */
  private def cmsRowBuckets = (0 until 4).map { r =>
    struct(lit(r).as("r"),
      (pmod(col("h") * lit(1000003L + 2 * r) + lit(12289L * r), lit(P))
        % 1024).as("b"))
  }

  /** The d×w counter cells of the CMS over any (text) frame's token
    * stream.
    */
  private def cmsCellCounts(docs: DataFrame): DataFrame =
    docs
      .select(graft.functions.PolyHash31.polyhash31(toks)
        .getField("pp").as("hs"))
      .select(explode(col("hs")).as("h"))
      .select(explode(array(cmsRowBuckets: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  private def sketchCmsTopk(s: SparkSession, dir: String): DataFrame = {
    val rows = cmsRowBuckets
    val cms = cmsCellCounts(Tables.documents(s, dir))
    val top = Tables.documents(s, dir)
      .select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(20)
      .withColumn("h", element_at(graft.functions.PolyHash31
        .polyhash31(array(col("tok"))).getField("pp"), 1))
    top.select(col("tok"), col("n_exact"),
        explode(array(rows: _*)).as("rb"))
      .select(col("tok"), col("n_exact"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cms), Seq("r", "b"))
      .groupBy(col("tok"), col("n_exact"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("tok"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"))
  }

  private val sketchCmsTopkSql = {
    val bucket = (h: String) =>
      s"(($h * (1000003 + 2 * r) + 12289 * r) % $P) % 1024"
    s"""WITH d AS (
       |  SELECT list_filter(string_split(coalesce(text, ''), ' '),
       |           t -> length(t) > 0) AS tk
       |  FROM documents),
       |th AS (
       |  SELECT unnest(list_transform(tk, t -> ${foldSql("t")})) AS h
       |  FROM d),
       |cms AS (
       |  SELECT r, ${bucket("h")} AS b, count(*) AS cnt
       |  FROM th, unnest([0, 1, 2, 3]) AS u(r)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT tok, count(*) AS n_exact
       |  FROM (SELECT unnest(tk) AS tok FROM d)
       |  GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20),
       |tb AS (
       |  SELECT tok, n_exact, r, ${bucket(s"(${foldSql("tok")})")} AS b
       |  FROM top, unnest([0, 1, 2, 3]) AS u(r))
       |SELECT tok, n_exact, min(cnt) AS cms_est,
       |  min(cnt) - n_exact AS overcount
       |FROM tb JOIN cms USING (r, b)
       |GROUP BY tok, n_exact""".stripMargin
  }

  // ------------------------------------------- DSIR importance weighting

  /** DSIR-style importance weights (Xie et al. 2023): score every
    * document by how much its hashed-unigram distribution looks like a
    * TARGET corpus (here: the English subset — the "quality domain")
    * versus the RAW corpus. Features are token poly-hashes bucketed mod
    * 1024; per-bucket weight is the add-one-smoothed log-likelihood
    * ratio in integer micro-units, floored per bucket (the
    * `text_lm_score` convention — ln on identical IEEE quotients, so
    * both engines floor the same double), and a document's score is the
    * exact long SUM of its occurrences' bucket weights. Top 25 by
    * per-gram average (ties on doc_id).
    *
    * Scale shape: the "model" is a 1024-row weight table (two map-side
    * collapsed bucket aggregations over the gram stream), broadcast
    * back onto the stream; scoring is one compact (doc_id, partials)
    * exchange. At 100 TB the weight table is a write-once artifact and
    * scoring is a single linear pass — exactly why DSIR scales where
    * per-pair comparisons cannot.
    */
  private def dsirImportance(s: SparkSession, dir: String): DataFrame = {
    // The hashed-gram frame feeds BOTH the distribution build and the
    // scoring join; neither branch has an exchange below it, so without
    // a lineage cut the per-token polyhash ran twice per run (r21, like
    // the signature cut of Banding.candidatePairs). Cut the compact
    // pre-explode frame (doc-cardinality rows carrying the hash arrays).
    // Lazy: an eager cut cost a job and 8% of the cold call (sf0.1, 4
    // cores), and the lazy cut logged no accumulator-update error.
    val hashed = graft.Materialize.step(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.PolyHash31.polyhash31(toks).getField("pp").as("hs")),
      "Curation.dsirHashed")
    val grams = hashed
      .select(col("doc_id"), col("lang"), explode(col("hs")).as("h"))
      .withColumn("b", col("h") % 1024)
    // ONE pass builds BOTH distributions (conditional count for the
    // target side) — at 100 TB the gram stream is the corpus, so a
    // separate target aggregation would be a second full scan for a
    // strict subset of the same rows.
    val dist = grams.groupBy(col("b")).agg(
      count(lit(1)).as("rc"),
      sum((col("lang") === "en").cast(LongType)).as("tc"))
    val tot = dist.agg(sum(col("rc")).as("nr"), sum(col("tc")).as("nt"))
    val w = dist.crossJoin(broadcast(tot))
      .select(col("b"),
        (floor(log((col("tc") + 1).cast(DoubleType) /
           (col("nt") + 1024)) * lit(1e6)).cast(LongType) -
         floor(log((col("rc") + 1).cast(DoubleType) /
           (col("nr") + 1024)) * lit(1e6)).cast(LongType)).as("w_micro"))
    grams.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), sum(col("w_micro")).as("sum_w_micro"))
      .withColumn("avg_w_micro", expr("sum_w_micro div n_grams"))
      .orderBy(col("avg_w_micro").desc, col("doc_id"))
      .limit(25)
  }

  private val dsirImportanceSql =
    s"""WITH g AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(
       |      list_filter(string_split(coalesce(text, ''), ' '),
       |        t -> length(t) > 0),
       |      t -> ${foldSql("t")})) % 1024 AS b
       |  FROM documents),
       |dist AS (
       |  SELECT b, count(*) AS rc,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
       |  FROM g GROUP BY b),
       |tot AS (SELECT sum(rc) AS nr, sum(tc) AS nt FROM dist),
       |w AS (
       |  SELECT b,
       |    CAST(floor(ln(CAST(tc + 1 AS DOUBLE) / (nt + 1024))
       |               * 1e6) AS BIGINT)
       |    - CAST(floor(ln(CAST(rc + 1 AS DOUBLE) / (nr + 1024))
       |               * 1e6) AS BIGINT) AS w_micro
       |  FROM dist CROSS JOIN tot)
       |SELECT doc_id, lang, count(*) AS n_grams,
       |  CAST(sum(w_micro) AS BIGINT) AS sum_w_micro,
       |  CAST(sum(w_micro) AS BIGINT) // count(*) AS avg_w_micro
       |FROM g JOIN w USING (b)
       |GROUP BY doc_id, lang
       |ORDER BY avg_w_micro DESC, doc_id LIMIT 25""".stripMargin

  // ------------------------------------------- temperature mixture report

  /** Temperature-based multilingual mixture rebalancing (the p_l^α
    * upsampling of mBERT / XLM-R, α = 0.5): per-language token counts →
    * current share vs the α-temperature target share, plus the
    * per-language sampling factor a mixture loader would apply. α = 0.5
    * makes the power a SQUARE ROOT, which IEEE 754 rounds correctly in
    * both engines — so `floor(sqrt(n)·10⁶)` is bit-identical (the same
    * reason the repo's quantizers avoid pow/exp but trust sqrt), and
    * everything after is exact integer arithmetic.
    *
    * Scale shape: one map-side-collapsed groupBy(lang) over the token
    * stream (the aggregate keyspace is the language set), one 1-row
    * total on a broadcast cross join. Linear, no wide shuffle.
    */
  private def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(s, dir)
      .select(col("lang"), size(toks).cast(LongType).as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("n_tokens"))
      .withColumn("w",
        floor(sqrt(col("n_tokens").cast(DoubleType)) * lit(1e6)).cast(LongType))
    val tot = perLang.agg(
      sum(col("n_tokens")).as("nn"), sum(col("w")).as("ww"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        expr("(n_tokens * 1000000) div nn").as("share_ppm"),
        expr("(w * 1000000) div ww").as("target_share_ppm"))
      .withColumn("factor_micro",
        expr("(target_share_ppm * 1000000) div share_ppm"))
  }

  private val mixTemperatureSql =
    """WITH pl AS (
      |  SELECT lang, CAST(sum(len(list_filter(
      |      string_split(coalesce(text, ''), ' '),
      |      t -> length(t) > 0))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang),
      |w AS (
      |  SELECT lang, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w
      |  FROM pl),
      |tot AS (SELECT sum(n_tokens) AS nn, sum(w) AS ww FROM w)
      |SELECT lang, n_tokens,
      |  CAST((n_tokens * 1000000) // nn AS BIGINT) AS share_ppm,
      |  CAST((w * 1000000) // ww AS BIGINT) AS target_share_ppm,
      |  CAST((((w * 1000000) // ww) * 1000000)
      |    // ((n_tokens * 1000000) // nn) AS BIGINT) AS factor_micro
      |FROM w CROSS JOIN tot""".stripMargin

  /** Per-language EPOCH SCHEDULE under a token budget — the data-
    * schedule table a training run is configured from (the "how many
    * passes over each source" report of the LLaMA/mBERT lineage):
    * budget B = 1 × corpus tokens (one corpus-sized pass), allocated by the α = 0.5
    * temperature-smoothed target shares of `mix_temperature`, giving
    * per-language target tokens and the pass count
    * epochs_micro = B·share / n_tokens — low-resource languages go
    * over one epoch (oversampled = true), high-resource under. The
    * nn·share_ppm product rides DECIMAL(38,0)/HUGEINT (at web scale
    * nn·10⁶ overflows a long), final projections cast to BIGINT.
    * Same scale shape as mix_temperature: one lang-keyed aggregate +
    * a broadcast 1-row total.
    */
  private def mixEpochSchedule(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val perLang = Tables.documents(s, dir)
      .select(col("lang"), size(toks).cast(LongType).as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("n_tokens"))
      .withColumn("w",
        floor(sqrt(col("n_tokens").cast(DoubleType)) * lit(1e6)).cast(LongType))
    val tot = perLang.agg(
      sum(col("n_tokens")).as("nn"), sum(col("w")).as("ww"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        expr("(w * 1000000) div ww").as("target_share_ppm"),
        col("nn"))
      .select(col("lang"), col("n_tokens"), col("target_share_ppm"),
        (lit(1L).cast(d38) * col("nn") * col("target_share_ppm")).as("num"))
      .select(col("lang"), col("n_tokens"), col("target_share_ppm"),
        expr("num div 1000000").cast(LongType).as("target_tokens"),
        expr("num div n_tokens").cast(LongType).as("epochs_micro"))
      .withColumn("oversampled", col("epochs_micro") > 1000000L)
  }

  private val mixEpochScheduleSql =
    """WITH pl AS (
      |  SELECT lang, CAST(sum(len(list_filter(
      |      string_split(coalesce(text, ''), ' '),
      |      t -> length(t) > 0))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang),
      |w AS (
      |  SELECT lang, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w
      |  FROM pl),
      |tot AS (SELECT sum(n_tokens) AS nn, sum(w) AS ww FROM w),
      |sched AS (
      |  SELECT lang, n_tokens,
      |    CAST((w * 1000000) // ww AS BIGINT) AS target_share_ppm,
      |    1 * CAST(nn AS HUGEINT) * ((w * 1000000) // ww) AS num
      |  FROM w CROSS JOIN tot)
      |SELECT lang, n_tokens, target_share_ppm,
      |  CAST(num // 1000000 AS BIGINT) AS target_tokens,
      |  CAST(num // n_tokens AS BIGINT) AS epochs_micro,
      |  CAST(num // n_tokens AS BIGINT) > 1000000 AS oversampled
      |FROM sched""".stripMargin

  // ------------------------------------- content-defined chunking dedup

  /** Content-defined chunking + chunk-level duplicate accounting: token
    * poly-hashes are walked per document, a chunk boundary closes after
    * any token whose hash ≡ 0 (mod 32) (expected chunk ≈ 32 tokens),
    * and each chunk's fingerprint is the ordered fold
    * (acc·1000003 + h) mod P of its token hashes. Because boundaries
    * depend only on LOCAL content, an insertion early in a document
    * shifts only the chunk it lands in — the property that makes CDC
    * the dedup granularity of storage systems (LBFS/Venti lineage) and
    * lets a corpus pipeline catch large shared spans between documents
    * that whole-doc hashing misses and fixed-width chunking splits
    * differently per alignment. One summary row: chunk count, distinct
    * fingerprints, duplicated-chunk share (ppm), mean chunk length
    * (micro).
    *
    * Scale shape: one exchange on doc_id for the running-boundary
    * window (token rows are (doc_id, pos, h) longs — no text moves),
    * one compact (doc_id, chunk_id) fold aggregation, one
    * distinct-count collapse. Linear in corpus tokens; no pair joins.
    */
  /** (doc_id, chunk_id, len, fp) chunk rows for any (doc_id, text)
    * frame — exposed for the spec's edit-stability property (a prefix
    * insertion must leave every chunk after the first boundary intact).
    */
  private[graft] def chunkFingerprints(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), graft.functions.PolyHash31.polyhash31(toks)
        .getField("pp").as("hs"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok
      .withColumn("bnd", (col("h") % 32 === 0).cast(LongType))
      .withColumn("chunk_id", sum(col("bnd")).over(win) - col("bnd"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("len"),
        expr(s"""aggregate(
                |  transform(array_sort(collect_list(struct(pos, h))),
                |            p -> p.h),
                |  CAST(0 AS BIGINT), (a, x) -> (a * 1000003 + x) % $P)"""
          .stripMargin).as("fp"))
  }

  private def chunkCdcDedup(s: SparkSession, dir: String): DataFrame =
    chunkFingerprints(Tables.documents(s, dir)).agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        sum(col("len")).as("n_tokens"))
      .select(col("n_chunks"), col("n_distinct_fp"),
        (col("n_chunks") - col("n_distinct_fp")).as("dup_chunks"),
        expr("((n_chunks - n_distinct_fp) * 1000000) div n_chunks")
          .as("dup_ppm"),
        expr("(n_tokens * 1000000) div n_chunks").as("mean_len_micro"))

  private val chunkCdcDedupSql =
    s"""WITH tok AS (
       |  SELECT doc_id, i - 1 AS pos, tp[i] AS h
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(
       |        list_filter(string_split(coalesce(text, ''), ' '),
       |          t -> length(t) > 0),
       |        t -> ${foldSql("t")}) AS tp
       |    FROM documents),
       |    unnest(range(1, len(tp) + 1)) AS u(i)),
       |cid AS (
       |  SELECT doc_id, pos, h,
       |    sum(CASE WHEN h % 32 = 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - (CASE WHEN h % 32 = 0 THEN 1 ELSE 0 END) AS chunk_id
       |  FROM tok),
       |chunks AS (
       |  SELECT doc_id, chunk_id, count(*) AS len,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
       |                (a, x) -> (a * 1000003 + x) % $P) AS fp
       |  FROM cid GROUP BY doc_id, chunk_id)
       |SELECT count(*) AS n_chunks,
       |  count(DISTINCT fp) AS n_distinct_fp,
       |  count(*) - count(DISTINCT fp) AS dup_chunks,
       |  ((count(*) - count(DISTINCT fp)) * 1000000) // count(*) AS dup_ppm,
       |  CAST((sum(len) * 1000000) // count(*) AS BIGINT) AS mean_len_micro
       |FROM chunks""".stripMargin

  def queries: Map[String, Q] = Map(
    "sketch_cms_topk" -> Q(sketchCmsTopk _, sketchCmsTopkSql),
    "dsir_importance" -> Q(dsirImportance _, dsirImportanceSql),
    "mix_temperature" -> Q(mixTemperature _, mixTemperatureSql),
    "mix_epoch_schedule" -> Q(mixEpochSchedule _, mixEpochScheduleSql),
    "chunk_cdc_dedup" -> Q(chunkCdcDedup _, chunkCdcDedupSql)
  )
}
