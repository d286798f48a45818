package graft.queries

import graft.{ArrCanon, Q, Tables}
import graft.Tag.{Basis, Headline, Sweep}
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Retrieval-side corpus operators: inverted-index construction and BM25
  * ranking over the documents table. These are the indexing/relevance
  * half of a RAG-style curation pipeline (dedup and quality filters feed
  * it; the index is what retrieval-augmented decontamination and
  * train-time neighbor lookups run against).
  *
  * Reference scope: the reference's text stack stops at tokenization and
  * similarity primitives (nvtext tokenize cpp/include/nvtext/tokenize.hpp,
  * minhash.hpp:72, jaccard.hpp:73); index build + ranked retrieval are
  * beyond-reference training-pipeline extensions in the sense of
  * SURVEY §2.12.
  *
  * Everything is oracled hash-exact: postings are capped ordered integer
  * lists encoded through [[ArrCanon]], and BM25 scores are computed in
  * micro-units with DECIMAL(38,0)/HUGEINT integer arithmetic so both
  * engines produce the identical longs (no IEEE division anywhere).
  */
object Retrieval {

  /** Shared token cut (same contract as tf-idf): split on single space,
    * drop empties. `split` never yields a null element, so removing ''
    * keeps exactly the non-empty tokens without an interpreted lambda.
    */
  private def tokens(c: org.apache.spark.sql.Column) =
    array_remove(split(coalesce(c, lit("")), " "), "")

  private val tokensSqlFrom =
    """SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
      |    FROM documents""".stripMargin

  // --------------------------------------------------------------- postings

  /** Inverted-index build: token → ordered posting list of doc_ids,
    * capped at 20 entries per token, with the TRUE document frequency
    * kept alongside (so a capped list is still an honest index row).
    * Tokens with df < 5 are pruned (rare-term tail is the vast majority
    * of the vocabulary and is exactly what a real index prunes or
    * tiers out first).
    *
    * Scale shape: the classic index-build shuffle — one exchange of
    * compact (tok, doc_id) pairs (never text payloads), df and the
    * rank both ride the SAME tok-partitioned exchange (window count +
    * row_number share one sort), and the cap bounds every output row:
    * a stop-word token with 10^9 postings still emits one 20-element
    * row. Hot tokens are precisely the keys AQE skew-splits. At 100 TB
    * the output is a write-once artifact partitioned by hash(tok).
    */
  private def indexPostings(s: SparkSession, dir: String): DataFrame =
    postingsOver(Tables.documents(s, dir))

  /** The postings build over any (doc_id, text) corpus. */
  private[graft] def postingsOver(documents: DataFrame): DataFrame = {
    val pairs = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .distinct()
    val w = Window.partitionBy(col("tok"))
    val ranked = pairs
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("rn",
        row_number().over(w.orderBy(col("doc_id"))))
      .filter(col("df") >= 5 && col("rn") <= 20)
    ranked
      .groupBy(col("tok"))
      .agg(
        max(col("df")).as("df"),
        ArrCanon.joined(sort_array(collect_list(col("doc_id"))))
          .as("postings"))
      .select(col("tok"), col("df"),
        (col("df") > 20).as("capped"), col("postings"))
  }

  private[queries] val indexPostingsSql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    $tokensSqlFrom) t
       |  WHERE length(tok) > 0),
       |ranked AS (
       |  SELECT tok, doc_id,
       |    count(*) OVER (PARTITION BY tok) AS df,
       |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
       |  FROM pairs)
       |SELECT tok, df, df > 20 AS capped,
       |  ${ArrCanon.joinedSql("list(doc_id ORDER BY doc_id)")} AS postings
       |FROM ranked WHERE df >= 5 AND rn <= 20
       |GROUP BY tok, df""".stripMargin

  // ------------------------------------------------------- incremental index

  /** Incremental postings maintenance — the daily-ingest face of
    * [[postingsOver]], the [[graft.queries.LlmOps]] incremental-LSH
    * pattern applied to the index: a persisted base index (unpruned
    * (tok, df) stats + doc_id-ascending postings capped at 20, built
    * once per dataset per JVM via DimCache over the 90% base split) is
    * merged with the 10% delta split WITHOUT touching base documents
    * again. Output: the updated index rows for exactly the tokens the
    * delta touches.
    *
    * Merge-exactness property (the reason the cap is a doc_id-ascending
    * PREFIX): any id in a full rebuild's top-20 is either a delta id or
    * among the base's 20 smallest, so capped-base ∪ delta re-capped
    * EQUALS the full rebuild — the DuckDB oracle recomputes from
    * scratch and must agree hash-exactly, making the persisted-index
    * path's faithfulness itself oracle-checked (the incremental-LSH
    * gate's trick).
    *
    * Scale shape: steady-state cost is proportional to the DELTA — one
    * delta (tok, doc_id) exchange, one join against the base index
    * restricted to delta tokens (a compact semi-joined slice), never a
    * corpus re-scan.
    */
  private def indexPostingsDelta(s: SparkSession, dir: String): DataFrame = {
    val idxDir = graft.DimCache.cached(s"postings-index:$dir") {
      val p = graft.DimCache.artifactPath("postidx", dir)
      val base = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val pairs = base
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .distinct()
      val w = Window.partitionBy(col("tok"))
      pairs
        .withColumn("df", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(w.orderBy(col("doc_id"))))
        .filter(col("rn") <= 20)
        .select(col("tok"), col("doc_id"))
        .write.mode("overwrite").parquet(p + "/postings")
      pairs.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(p + "/tokstats")
      p
    }
    val deltaPairs = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .distinct()
    val deltaDf = deltaPairs.groupBy(col("tok"))
      .agg(count(lit(1)).as("d_df"))
    val mergedDf = deltaDf
      .join(s.read.parquet(idxDir + "/tokstats"), Seq("tok"), "left")
      .select(col("tok"),
        (coalesce(col("df"), lit(0L)) + col("d_df")).as("df"))
    val mergedPosts = deltaPairs
      .select(col("tok"), col("doc_id"))
      .unionByName(s.read.parquet(idxDir + "/postings")
        .join(deltaDf.select(col("tok")), Seq("tok"), "leftsemi"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
      .filter(col("rn") <= 20)
      .groupBy(col("tok"))
      .agg(ArrCanon.joined(sort_array(collect_list(col("doc_id"))))
        .as("postings"))
    mergedDf
      .join(mergedPosts, Seq("tok"))
      .select(col("tok"), col("df"), (col("df") > 20).as("capped"),
        col("postings"))
  }

  private val indexPostingsDeltaSql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    $tokensSqlFrom) t
       |  WHERE length(tok) > 0),
       |dt AS (SELECT DISTINCT tok FROM pairs WHERE doc_id % 10 = 0),
       |ranked AS (
       |  SELECT tok, doc_id,
       |    count(*) OVER (PARTITION BY tok) AS df,
       |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
       |  FROM pairs)
       |SELECT tok, df, df > 20 AS capped,
       |  ${ArrCanon.joinedSql("list(doc_id ORDER BY doc_id)")} AS postings
       |FROM ranked WHERE rn <= 20 AND tok IN (SELECT tok FROM dt)
       |GROUP BY tok, df""".stripMargin

  // ------------------------------------------------------------------- bm25

  /** BM25 top-10 retrieval (k1 = 1.2, b = 0.75) for a data-derived query
    * term set: the five tokens of length ≥ 4 ranked 10..14 by document
    * frequency (ties broken by token) — a mid-frequency band, which is
    * where BM25's saturation + length normalization actually
    * discriminate (stop-words saturate, hapaxes are binary).
    *
    * Scoring is exact integer arithmetic in micro-units. With
    * avgdl = SL/N (SL = corpus token count, N = docs with tokens),
    * the per-term BM25 with the simple linear idf N/df is
    *   (N/df) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * Multiplying numerator and denominator by 10·SL clears every
    * fraction:
    *   score·10⁶ = (10⁶ · 22·tf·SL·N) div (df · (10·tf·SL + 3·SL + 9·dl·N))
    * — all factors are corpus counts, so both engines compute the same
    * integer. The products ride DECIMAL(38,0) (Spark) / HUGEINT
    * (DuckDB): at 10⁶-scale the intermediate is ~10¹⁹ at sf1 and the
    * 128-bit path holds to ~10³⁸, so there is no silent-wrap envelope
    * to guard. Per-doc score = sum of per-term integer scores (exact,
    * order-independent).
    *
    * Scale shape: tf is one compact (doc_id, tok) exchange; df and the
    * query-term pick ride one tok-partitioned aggregate; the 5 query
    * terms and the (N, SL) scalar are broadcast; dl joins on doc_id;
    * the final top-10 is TakeOrdered — bounded, never a global sort.
    * At 100 TB only the 5-term-filtered slice of tf flows past the
    * broadcast join.
    */
  private def textBm25Topk(s: SparkSession, dir: String): DataFrame =
    bm25ScoresOver(Tables.documents(s, dir))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(10)

  /** The data-derived query-term set shared by BM25 and the snippet
    * stage: the five length ≥ 4 tokens ranked 10..14 by df. Bounded
    * pick: TakeOrdered(14) over the vocab (never a vocab-wide
    * single-partition sort), then rank WITHIN the 14-row frame via a
    * broadcast self-join count — 14×14 rows, and it keeps the registry
    * free of unpartitioned windows entirely (Explain asserts that).
    */
  private def corpusQueryTerms(tf: DataFrame): DataFrame = {
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val picked = dfq
      .filter(length(col("tok")) >= 4)
      .orderBy(col("df").desc, col("tok"))
      .limit(14)
    picked
      .join(broadcast(picked.select(
          col("df").as("df2"), col("tok").as("tok2"))),
        col("df2") > col("df") ||
          (col("df2") === col("df") && col("tok2") <= col("tok")))
      .groupBy(col("tok"), col("df"))
      .agg(count(lit(1)).as("qrn"))
      .filter(col("qrn").between(10, 14))
      .select(col("tok"), col("df"))
  }

  /** Per-doc term frequencies (doc_id, tok, tf), as one SHARED
    * materialization (r22): the stage profile caught the
    * tokenize+aggregate subtree executing FOUR times inside
    * text_bm25_topk — corpusQueryTerms' `length(tok) >= 4` filter pushes
    * below the tf aggregate and SPECIALIZES that branch's subtree (no
    * exchange to reuse against the unfiltered branches), and even the
    * two unfiltered branches planned as separate exchanges. The lineage
    * cut makes every consumer (dl, dfq, the scoring join, the snippet's
    * query-term pick) read one materialization — the same r21 cut the
    * LSH family uses; values unchanged (the filter now applies above
    * the read, same rows survive). A `Materialize.shared` cut: eager,
    * so no consumer job materializes it under its siblings.
    */
  private def tfOverShared(documents: DataFrame): DataFrame =
    graft.Materialize.shared(documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf")), "Retrieval.tf")

  /** The full per-doc BM25 score frame over any (doc_id, text) corpus.
    * Every factor of the micro-score formula scales linearly under
    * corpus replication, so per-doc scores are exactly unchanged
    * (RetrievalSpec).
    */
  private[graft] def bm25ScoresOver(documents: DataFrame): DataFrame =
    bm25ScoresOverTf(tfOverShared(documents))

  private def bm25ScoresOverTf(tf: DataFrame): DataFrame =
    termScores(tf, tf, corpusQueryTerms(tf))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("score_micro")).as("bm25_micro"))

  /** The BM25 micro-score of every (doc, query term) row of `rows`, a
    * slice of the corpus tf frame `tf`, matching `qterms` (tok, df) →
    * (doc_id, score_micro): the cleared-fraction integer formula of
    * [[textBm25Topk]], with doc lengths and corpus scalars from `tf`.
    *
    * Corpus scalars come from the doc-level rollup, not token-level tf:
    * countDistinct(doc_id) over tf expanded every (doc, tok) row
    * through a two-phase distinct; dl already holds one row per
    * distinct doc_id with its exact token sum, so n_docs = count(dl)
    * and sl = Σ dl — identical long values, doc-cardinality input.
    */
  private def termScores(tf: DataFrame, rows: DataFrame, qterms: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val scalars = dl.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sl"))
    rows.join(broadcast(qterms), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(scalars))
      .select(
        col("doc_id"),
        (lit(22000000L).cast(d38) * col("tf") * col("sl") * col("n_docs"))
          .as("num"),
        (col("df").cast(d38) *
          (lit(10L).cast(d38) * col("tf") * col("sl") +
            lit(3L).cast(d38) * col("sl") +
            lit(9L).cast(d38) * col("dl") * col("n_docs"))).as("den"))
      .select(col("doc_id"),
        expr("num div den").cast(LongType).as("score_micro"))
  }

  /** DuckDB twin of the tf frame, its doc lengths and document
    * frequencies: CTEs `tf(doc_id, tok, tf)`, `dl(doc_id, dl)` and
    * `dfq(tok, df)`.
    */
  private val tfCtes =
    s"""tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM (
       |    $tokensSqlFrom) t
       |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
       |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)""".stripMargin

  /** DuckDB twin of [[termScores]]' corpus scalars: CTE `scalars(n_docs,
    * sl)`.
    */
  private val scalarsCte =
    """scalars AS (
      |  SELECT count(DISTINCT doc_id) AS n_docs, sum(tf) AS sl FROM tf)""".stripMargin

  /** DuckDB twin of [[termScores]]' micro-score, a HUGEINT expression
    * over one `tf ⋈ qterms ⋈ dl ⨯ scalars` row ([[termRowsSql]]).
    */
  private val scoreMicroSql =
    """(CAST(22000000 AS HUGEINT) * tf * sl * n_docs) //
      |      (CAST(df AS HUGEINT) *
      |        (CAST(10 AS HUGEINT) * tf * sl + CAST(3 AS HUGEINT) * sl +
      |         CAST(9 AS HUGEINT) * dl * n_docs))""".stripMargin

  /** The rows [[scoreMicroSql]] scores. */
  private val termRowsSql =
    """FROM tf JOIN qterms USING (tok) JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN scalars""".stripMargin

  /** The BM25 oracle pipeline as a CTE fragment ending in
    * `docscore(doc_id, n_terms, bm25_micro)` — shared by the top-10
    * ranking and the snippet stage built on it.
    */
  private val bm25Ctes =
    s"""$tfCtes,
       |qterms AS (
       |  SELECT tok, df FROM (
       |    SELECT tok, df,
       |      row_number() OVER (ORDER BY df DESC, tok) AS qrn
       |    FROM dfq WHERE length(tok) >= 4) r
       |  WHERE qrn BETWEEN 10 AND 14),
       |$scalarsCte,
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST($scoreMicroSql AS BIGINT)
       |      AS score_micro
       |  $termRowsSql),
       |docscore AS (
       |  SELECT doc_id, count(*) AS n_terms,
       |    CAST(sum(score_micro) AS BIGINT) AS bm25_micro
       |  FROM scored GROUP BY doc_id)""".stripMargin

  private val textBm25TopkSql =
    s"""WITH $bm25Ctes
       |SELECT doc_id, n_terms, bm25_micro FROM docscore
       |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- snippet

  /** Snippet extraction — the stage a retrieval stack runs between
    * ranking and display/context-assembly: for each BM25 top-10 doc,
    * the 16-token window matching the most DISTINCT query terms (ties →
    * leftmost window). Pure integer/string ops (window hit counts,
    * deterministic argmax, space-joined token slice) so both engines
    * produce the identical snippet strings.
    *
    * Scale shape: the window explosion runs ONLY over the retrieved
    * page (top-10 semi join), the query terms ride one broadcast 1-row
    * array, and the per-doc argmax is a doc-partitioned window over the
    * page — fully distributed snippeting with zero driver involvement,
    * costing O(page × doc_len) regardless of corpus size.
    */
  private def textSnippetExtract(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // one tf materialization feeds the ranking AND the query-term pick
    // (r22 — see tfOverShared)
    val tfShared = tfOverShared(docs)
    val topDocs = bm25ScoresOverTf(tfShared)
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"))
    val qts = corpusQueryTerms(tfShared)
      .agg(sort_array(collect_list(col("tok"))).as("qts"))
    docs
      .join(topDocs, Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .crossJoin(broadcast(qts))
      .select(col("doc_id"), col("tk"), col("qts"),
        explode(expr("sequence(0, greatest(size(tk) - 16, 0))")).as("start"))
      .select(col("doc_id"), col("start").cast(LongType).as("start_pos"),
        expr("""size(array_distinct(filter(slice(tk, start + 1, 16),
          t -> array_contains(qts, t))))""").cast(LongType).as("n_hits"),
        expr("concat_ws(' ', slice(tk, start + 1, 16))").as("snippet"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("n_hits").desc, col("start_pos"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("start_pos"), col("n_hits"), col("snippet"))
  }

  private val textSnippetExtractSql =
    s"""WITH $bm25Ctes,
       |top10 AS (
       |  SELECT doc_id FROM docscore
       |  ORDER BY bm25_micro DESC, doc_id LIMIT 10),
       |qt AS (SELECT list(tok ORDER BY tok) AS qts FROM qterms),
       |dtk AS (
       |  SELECT d.doc_id,
       |    list_filter(string_split(coalesce(d.text, ''), ' '),
       |      t -> length(t) > 0) AS tk
       |  FROM documents d JOIN top10 USING (doc_id)),
       |starts AS (
       |  SELECT doc_id, tk,
       |    unnest(range(0, greatest(len(tk) - 15, 1))) AS start
       |  FROM dtk),
       |wind AS (
       |  SELECT doc_id, start,
       |    len(list_distinct(list_filter(
       |      list_slice(tk, start + 1, start + 16),
       |      t -> list_contains(qts, t)))) AS n_hits,
       |    array_to_string(list_slice(tk, start + 1, start + 16), ' ')
       |      AS snippet
       |  FROM starts CROSS JOIN qt)
       |SELECT doc_id, CAST(start AS BIGINT) AS start_pos,
       |  CAST(n_hits AS BIGINT) AS n_hits, snippet
       |FROM wind
       |QUALIFY row_number() OVER (
       |  PARTITION BY doc_id ORDER BY n_hits DESC, start) = 1""".stripMargin

  // ------------------------------------------------------------ rrf fusion

  /** Hybrid lexical+dense retrieval fused by reciprocal-rank fusion —
    * the shape a RAG curation / training-neighbor pipeline actually
    * serves: document 0 is the query; the LEXICAL arm scores BM25 over
    * doc 0's own selective terms (distinct length ≥ 4 tokens with
    * corpus df ≥ 5, the 16 most selective by (df asc, tok) — hapaxes
    * pruned, stop-words never selected), the DENSE arm scores
    * fixed-point cosine against doc 0's embedding (doc_id and vec_id
    * share one id space), and each arm's top-50 ranks combine as
    * RRF(d) = Σ_arms 10⁶ div (60 + rank_arm(d)) — Cormack/Clarke/
    * Buettcher's k = 60, in integer division so both engines produce
    * the identical long. Output: top-10 by (rrf_micro desc, doc_id)
    * with each arm's rank kept (0 = not retrieved by that arm).
    *
    * Exactness: BM25 rides the same cleared-fraction integer formula as
    * `text_bm25_topk` (DECIMAL(38,0)/HUGEINT); the dense score ranks on
    * floor(cos·10⁶) where cos = dot/(‖a‖‖b‖) in IEEE doubles — every op
    * (mul, add-in-index-order, sqrt, div) is correctly rounded, so the
    * floored long is engine-identical; RRF contributions are integer
    * division over integer ranks.
    *
    * Scale shape: each arm is one corpus-scan pipeline ending in
    * TakeOrdered(50) — the lexical arm's tf slice flows through a
    * broadcast of 16 query terms, the dense arm is a map-side dot
    * against a 1-row broadcast query — and everything after retrieval
    * (rank-within-50 via broadcast self-join count, the full-outer
    * fuse, the final top-10) is bounded at 50 rows per arm regardless
    * of corpus size. No unpartitioned windows anywhere.
    */
  /** Per-doc BM25 scores for the DOC-0 query (its 16 most selective
    * terms) — the lexical arm shared by RRF fusion and the nDCG
    * agreement audit.
    */
  private def doc0Bm25Scores(documents: DataFrame): DataFrame = {
    // one tf materialization for the four consumers below (q0, dfq, dl,
    // the scoring join) — r22, see tfOverShared
    val tf = tfOverShared(documents)
    // Document frequencies only for doc 0's candidate terms (r21): dfq
    // fed nothing but the qterms join, so count the full-corpus df for
    // the one query document's ≥4-char tokens instead of the whole
    // vocabulary — a broadcast semi-filter ahead of the tok shuffle.
    // Per-token counts are unchanged (filtering WHICH toks are counted
    // never changes a surviving tok's count), so qterms is identical.
    val q0 = tf
      .filter(col("doc_id") === 0 && length(col("tok")) >= 4)
      .select(col("tok"))
    val dfq = tf.join(broadcast(q0), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qterms = q0
      .join(dfq, Seq("tok"))
      .filter(col("df") >= 5)
      .orderBy(col("df").asc, col("tok"))
      .limit(16)
      .select(col("tok"), col("df"))
    termScores(tf, tf.filter(col("doc_id") =!= 0), qterms)
      .groupBy(col("doc_id"))
      .agg(sum(col("score_micro")).as("bm25_micro"))
  }

  /** The doc-0 lexical pipeline as an oracle CTE fragment ending in
    * `lex(doc_id, bm25_micro)` — shared by the RRF and nDCG twins.
    */
  private val doc0LexCtes =
    s"""$tfCtes,
       |qterms AS (
       |  SELECT tok, df FROM (
       |    SELECT q.tok, d.df,
       |      row_number() OVER (ORDER BY d.df, q.tok) AS rn
       |    FROM (SELECT DISTINCT tok FROM tf
       |          WHERE doc_id = 0 AND length(tok) >= 4) q
       |    JOIN dfq d USING (tok) WHERE d.df >= 5) r
       |  WHERE rn <= 16),
       |$scalarsCte,
       |lex AS (
       |  SELECT tf.doc_id,
       |    CAST(sum(CAST($scoreMicroSql AS BIGINT)) AS BIGINT)
       |      AS bm25_micro
       |  $termRowsSql
       |  WHERE tf.doc_id <> 0 GROUP BY tf.doc_id)""".stripMargin

  private def retrievalRrfFusion(s: SparkSession, dir: String): DataFrame =
    rrfFused(s, dir)
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)

  /** The full fused RRF frame (doc_id, lex_rank, dense_rank, rrf_micro;
    * 0 = not retrieved by that arm) BEFORE the final top-10 — shared by
    * the fusion query and the nDCG audit of the fused ranking.
    */
  /** The two LAZY arm frames (lexRanked, denseRanked) — split out so the
    * plan audit (RetrievalSpec) can still see the arm shapes now that
    * [[rrfFused]] materializes them behind checkpoints.
    */
  private[graft] def rrfArms(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.functions.DotF64.dotf64
    val lexTop = doc0Bm25Scores(Tables.documents(s, dir))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(50)
    val lexRanked = lexTop
      .join(broadcast(lexTop.select(
          col("bm25_micro").as("s2"), col("doc_id").as("d2"))),
        col("s2") > col("bm25_micro") ||
          (col("s2") === col("bm25_micro") && col("d2") <= col("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("lex_rank"))
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
      Similarity.embDouble.as("e"))
    // query norm hoisted into the 1-row broadcast (r21): sqrt(qe·qe) is
    // constant per query but was re-evaluated for every corpus row; the
    // product sqrt(e·e) * qn multiplies the same two doubles in the
    // same order, so every score double is bit-identical.
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"),
        sqrt(dotf64(col("e"), col("e"))).as("qn"))
    val denseTop = emb
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        floor((dotf64(col("e"), col("qe")) /
            (sqrt(dotf64(col("e"), col("e"))) * col("qn"))) * lit(1e6))
          .cast(LongType).as("fp"))
      .orderBy(col("fp").desc, col("doc_id"))
      .limit(50)
    val denseRanked = denseTop
      .join(broadcast(denseTop.select(col("fp").as("f2"), col("doc_id").as("d2"))),
        col("f2") > col("fp") ||
          (col("f2") === col("fp") && col("d2") <= col("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dense_rank"))
    (lexRanked, denseRanked)
  }

  private def rrfFused(s: SparkSession, dir: String): DataFrame = {
    val (lexRanked, denseRanked) = rrfArms(s, dir)
    // Overlap the arms (r22): the lexical arm is the full BM25 pipeline
    // and the dense arm a corpus cosine scan — independent until the
    // fuse, yet one action ran them back to back. Materializing both
    // concurrently lets the dense arm's stages back-fill the lexical
    // arm's idle tail; the fuse then joins two tiny cut frames. Values
    // unchanged — the arms never shared a subtree.
    val Seq(lexCk, denseCk) =
      graft.Materialize.shared(Seq(lexRanked, denseRanked), "Retrieval.rrfArms")
    lexCk
      .join(denseCk, Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        (when(col("lex_rank") > 0, expr("1000000 div (60 + lex_rank)"))
          .otherwise(lit(0L)) +
          when(col("dense_rank") > 0, expr("1000000 div (60 + dense_rank)"))
            .otherwise(lit(0L))).as("rrf_micro"))
  }

  /** The fused-RRF oracle pipeline as a CTE fragment ending in
    * `fused(doc_id, lex_rank, dense_rank, rrf_micro)` — shared by the
    * fusion query and the nDCG audit.
    */
  private val rrfFusedCtes =
    s"""$doc0LexCtes,
       |lexr AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS lex_rank
       |  FROM lex QUALIFY lex_rank <= 50),
       |ev AS ${Similarity.embDoubleSql()},
       |qv AS (SELECT e AS qe FROM ev WHERE vec_id = 0),
       |dense AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(floor(${Similarity.cosineSql("e", "qe")} * 1e6) AS BIGINT) AS fp
       |  FROM ev, qv WHERE vec_id <> 0),
       |denser AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY fp DESC, doc_id) AS dense_rank
       |  FROM dense QUALIFY dense_rank <= 50),
       |fused AS (
       |  SELECT doc_id,
       |    CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
       |    CAST(coalesce(dense_rank, 0) AS BIGINT) AS dense_rank,
       |    CAST((CASE WHEN lex_rank IS NOT NULL
       |            THEN 1000000 // (60 + lex_rank) ELSE 0 END) +
       |         (CASE WHEN dense_rank IS NOT NULL
       |            THEN 1000000 // (60 + dense_rank) ELSE 0 END) AS BIGINT)
       |      AS rrf_micro
       |  FROM lexr FULL JOIN denser USING (doc_id))""".stripMargin

  private val retrievalRrfFusionSql =
    s"""WITH $rrfFusedCtes
       |SELECT doc_id, lex_rank, dense_rank, rrf_micro
       |FROM fused
       |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin

  // ------------------------------------------------------ query expansion

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM3 family) —
    * the retrieval-stack stage after first-pass ranking: mine the BM25
    * top-10 docs for the 5 strongest expansion terms (length ≥ 4, not
    * already a query term), weighted tf-in-feedback × inverse document
    * frequency in pure integers: `weight_micro = (tf10 · 10⁶) div df`.
    * Ties → token order. A second-pass retrieval would OR these into
    * the query; the term table is the oracle-checkable artifact.
    *
    * Scale shape: the feedback-set tf slice is a semi join of the
    * per-doc tf aggregate against 10 broadcast ids; df rides the
    * existing corpus aggregate; final pick is TakeOrdered(5).
    */
  private def textQueryExpansion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // one tf materialization feeds ranking, df and the feedback slice
    // (r22 — see tfOverShared)
    val tf = tfOverShared(docs)
    val topDocs = bm25ScoresOverTf(tf)
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(topDocs), Seq("doc_id"), "leftsemi")
      .filter(length(col("tok")) >= 4)
      .join(broadcast(corpusQueryTerms(tf).select(col("tok"))),
        Seq("tok"), "leftanti")
      .groupBy(col("tok"))
      .agg(sum(col("tf")).as("tf10"))
      .join(dfq, Seq("tok"))
      .select(col("tok"), col("tf10"), col("df"),
        expr("(tf10 * 1000000) div df").as("weight_micro"))
      .orderBy(col("weight_micro").desc, col("tok"))
      .limit(5)
  }

  private val textQueryExpansionSql =
    s"""WITH $bm25Ctes,
       |top10 AS (
       |  SELECT doc_id FROM docscore
       |  ORDER BY bm25_micro DESC, doc_id LIMIT 10),
       |fb AS (
       |  SELECT tok, CAST(sum(tf) AS BIGINT) AS tf10
       |  FROM tf JOIN top10 USING (doc_id)
       |  WHERE length(tok) >= 4
       |    AND tok NOT IN (SELECT tok FROM qterms)
       |  GROUP BY tok)
       |SELECT fb.tok, tf10, df,
       |  CAST((tf10 * 1000000) // df AS BIGINT) AS weight_micro
       |FROM fb JOIN dfq ON fb.tok = dfq.tok
       |ORDER BY weight_micro DESC, fb.tok LIMIT 5""".stripMargin

  // ---------------------------------------------------------- nDCG eval

  /** Retrieval-quality evaluation: nDCG@10 of the FUSED (RRF) ranking
    * against graded relevance from the dense arm — the audit a hybrid
    * stack runs to answer "how much semantic relevance does fusing the
    * lexical signal preserve for this query". Dense top-10 docs carry
    * graded relevance 10..1; a fused position's gain is rel·w(i) with
    * the integer floored-ln discounts w(i) = 10¹² div floor(ln(i+1)·10⁶)
    * (integer-input ln — identical doubles both engines); IDCG is the
    * same formula over the ideal ordering, computed from a generated
    * 10-row frame so BOTH engines derive it rather than trusting a
    * constant. Output: one row — dcg, idcg, ndcg_ppm, and how many of
    * the fused top-10 carry dense relevance. Positions within the
    * bounded fused top-10 are broadcast self-join counts (no windows);
    * everything after retrieval is bounded at 10 rows.
    */
  private def evalRetrievalNdcg(s: SparkSession, dir: String): DataFrame = {
    val top = rrfFused(s, dir)
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)
    val pos = top
      .join(broadcast(top.select(
          col("rrf_micro").as("s2"), col("doc_id").as("d2"))),
        col("s2") > col("rrf_micro") ||
          (col("s2") === col("rrf_micro") && col("d2") <= col("doc_id")))
      .groupBy(col("doc_id"), col("dense_rank"))
      .agg(count(lit(1)).as("pos"))
    val wSql = (r: String) =>
      s"1000000000000 div CAST(floor(ln(CAST($r + 1 AS DOUBLE)) * 1e6) AS BIGINT)"
    val dcg = pos
      .select(
        (when(col("dense_rank").between(1, 10), lit(11L) - col("dense_rank"))
          .otherwise(lit(0L)) * expr(wSql("pos"))).as("g"),
        when(col("dense_rank").between(1, 10), lit(1L)).otherwise(lit(0L))
          .as("hit"))
      .agg(sum(col("g")).as("dcg"), sum(col("hit")).as("n_relevant"))
    val idcg = s.range(1, 11)
      .select(((lit(11L) - col("id")) * expr(wSql("id"))).as("g"))
      .agg(sum(col("g")).as("idcg"))
    dcg.crossJoin(idcg)
      .select(col("dcg"), col("idcg"), col("n_relevant"),
        expr("(dcg * 1000000) div idcg").as("ndcg_ppm"))
  }

  private val evalRetrievalNdcgSql =
    s"""WITH $rrfFusedCtes,
       |top AS (
       |  SELECT doc_id, dense_rank, rrf_micro FROM fused
       |  ORDER BY rrf_micro DESC, doc_id LIMIT 10),
       |positioned AS (
       |  SELECT a.doc_id, a.dense_rank, count(*) AS pos
       |  FROM top a JOIN top b
       |    ON b.rrf_micro > a.rrf_micro
       |    OR (b.rrf_micro = a.rrf_micro AND b.doc_id <= a.doc_id)
       |  GROUP BY a.doc_id, a.dense_rank),
       |dcg AS (
       |  SELECT
       |    CAST(sum((CASE WHEN dense_rank BETWEEN 1 AND 10
       |        THEN 11 - dense_rank ELSE 0 END) *
       |      (1000000000000 // CAST(floor(ln(CAST(pos + 1 AS DOUBLE))
       |        * 1e6) AS BIGINT))) AS BIGINT) AS dcg,
       |    CAST(sum(CASE WHEN dense_rank BETWEEN 1 AND 10
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant
       |  FROM positioned),
       |idcg AS (
       |  SELECT CAST(sum((11 - i) *
       |    (1000000000000 // CAST(floor(ln(CAST(i + 1 AS DOUBLE)) * 1e6)
       |      AS BIGINT))) AS BIGINT) AS idcg
       |  FROM (SELECT unnest(range(1, 11)) AS i) t)
       |SELECT dcg, idcg, n_relevant,
       |  CAST((dcg * 1000000) // idcg AS BIGINT) AS ndcg_ppm
       |FROM dcg CROSS JOIN idcg""".stripMargin

  def queries: Map[String, Q] = Map(
    "index_postings" -> Q(indexPostings _, indexPostingsSql).tag(Headline, Basis, Sweep),
    "index_postings_delta" -> Q(indexPostingsDelta _, indexPostingsDeltaSql),
    "text_bm25_topk" -> Q(textBm25Topk _, textBm25TopkSql).tag(Headline, Basis, Sweep),
    "text_snippet_extract" -> Q(textSnippetExtract _, textSnippetExtractSql),
    "text_query_expansion" -> Q(textQueryExpansion _, textQueryExpansionSql),
    "eval_retrieval_ndcg" -> Q(evalRetrievalNdcg _, evalRetrievalNdcgSql),
    "retrieval_rrf_fusion" ->
      Q(retrievalRrfFusion _, retrievalRrfFusionSql).tag(Headline, Basis, Sweep)
  )
}
