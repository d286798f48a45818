package graft.queries

import graft.{Q, Tables}
import graft.Tag.{Basis, Headline, NoCodegen, Sweep}
import graft.operators.{Banding, Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-data-pipeline operators (the engine's north-star extensions,
  * BASELINE.json): deduplication (exact, MinHash+LSH, SimHash, n-gram
  * jaccard — cf. nvtext minhash.hpp:72, jaccard.hpp:73), similarity
  * search over embeddings (brute-force cosine + LSH-bucketed ANN), and
  * multimodal binary-column plumbing.
  *
  * This is the query catalogue: the `dedup_*` rows and their oracle
  * statements live here, while shingles, signatures, band hashes, pair
  * verifiers and their DuckDB twins are [[graft.operators.Dedup]]'s;
  * vector search is [[graft.operators.Similarity]]'s.
  *
  * 100 TB posture: every pipeline is blocked/bucketed — candidate pairs
  * come from LSH band buckets or blocking keys, never a full cross join;
  * signatures are fixed-width arrays computed per-row (map-side only);
  * bucket joins shuffle on compact keys.
  */
object LlmOps {

  // ------------------------------------------------------------- dedup

  /** Exact dedup via content digest (hash-groupBy): keeper + dup count
    * per distinct text.
    */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy(md5(col("text").cast(BinaryType)).as("sig"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  private val dedupExactSql =
    """SELECT md5(text) AS sig, min(doc_id) AS keeper_doc_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** MinHash signature (minhash.hpp:72): 16 permutations in a single pass
    * via the native [[graft.functions.MinHash64]] expression (one XXH64
    * per shingle + cheap per-permutation mixing; no per-row temporary
    * arrays, unlike the composed transform/array_min formulation).
    */
  private def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    Dedup.withShingles(Tables.documents(s, dir))
      .select(col("doc_id"),
        graft.ArrCanon.joined(graft.functions.MinHash64.minhash64(col("tk"), 16)).as("minhash"))

  /** Oracled twin of the MinHash signature path (ref `nvtext/minhash.hpp:72`
    * semantics: per-permutation min over the shingle set): the permutation
    * family is the portable seeded polynomial char hash (seed = permutation
    * index — the same fold `dedup_ngram_jaccard`'s bands use), so DuckDB
    * replicates every signature bit-for-bit. The native-XXH64
    * `dedup_minhash_sig` stays as the throughput path; this query gives the
    * signature SEMANTICS (k independent permutations, min per permutation,
    * empty shingle set → all-null signature) a full hash-checked row.
    */
  private def dedupMinhashPortable(s: SparkSession, dir: String): DataFrame =
    Dedup.prehashed(Tables.documents(s, dir))
      .select(col("doc_id"),
        graft.ArrCanon.joined(Dedup.seededPolyMin(16)).as("minhash_portable"))

  private val dedupMinhashPortableSql =
    s"""WITH ${Dedup.prehashCtes("documents")}
      |SELECT doc_id,
      |  ${graft.ArrCanon.joinedSql(Dedup.seededPolyMinSql(16))} AS minhash_portable
      |FROM prehashed""".stripMargin

  /** MinHash-LSH near-dup candidate pairs ([[Dedup.lshCandidatePairs]]:
    * 4 bands × 4 rows, hot-bucket cap 1000) at est. jaccard ≥ 0.75.
    */
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidatePairs(Tables.documents(s, dir), maxBucket = 1000)
      .filter(col("est_jaccard") >= 0.75)

  /** Fully-oracled twin of the COMPLETE MinHash-LSH pipeline — the same
    * shape as `dedup_minhash_lsh` (4 bands × 4 rows, the shared banding
    * core, signature agreement as the jaccard estimate, 0.75 threshold)
    * with the portable polynomial permutation family in place of native
    * XXH64, so DuckDB replicates signatures, buckets, cap, candidate
    * generation, AND the estimate bit-for-bit
    * ([[Dedup.lshPortablePairs]]). `dedup_minhash_lsh` stays as the
    * native-speed path; this row proves the pipeline.
    */
  private def dedupMinhashLshPortable(s: SparkSession, dir: String): DataFrame =
    Dedup.lshPortablePairs(Tables.documents(s, dir))

  private val dedupMinhashLshPortableSql =
    s"""WITH ${Dedup.lshPortableCtes("documents")}
      |SELECT id_a, id_b, est_jaccard FROM lshcand""".stripMargin

  /** Connected-component keeper resolution over the portable LSH pairs,
    * oracle-checked end to end: Spark runs [[Dedup]]'s
    * min-label propagation with pointer doubling (truly O(log diameter)
    * rounds of compact (id, label) shuffles — the 100 TB shape, covering
    * diameter 2^maxIter and FAILING loudly rather than returning partial
    * components if that budget is ever exceeded); DuckDB computes the
    * same components via a recursive-CTE transitive closure and takes
    * the min reachable id. Exact equality holds for any converged run,
    * not just shallow clusters — the oracle row pins it.
    */
  private def dedupCcKeepers(s: SparkSession, dir: String): DataFrame =
    Dedup.resolveKeepers(
      dedupMinhashLshPortable(s, dir).select(col("id_a"), col("id_b")))

  private val dedupCcKeepersSql =
    s"""WITH RECURSIVE base AS (
      |  SELECT id_a, id_b FROM (
      |$dedupMinhashLshPortableSql) t),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM base
      |  UNION
      |  SELECT id_b, id_a FROM base),
      |reach AS (
      |  SELECT a AS id, a AS r FROM edges
      |  UNION
      |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r)
      |SELECT id AS doc_id, min(r) AS keeper FROM reach GROUP BY id""".stripMargin

  /** Cross-source duplication matrix — the "who copies whom" report a
    * corpus-curation run ships next to the funnel: every near-dup pair
    * (the PERSISTED write-once LSH pair artifact, the same one the
    * leakage-safe split consumes) mapped to its unordered source pair
    * and counted. The oracle recomputes the entire portable LSH
    * pipeline from scratch and must agree, so the persisted artifact's
    * faithfulness is re-proven by this row too (the incremental-LSH
    * gate's trick). Scale: two broadcast-or-shuffle joins on doc_id
    * against the compact pair set, one aggregate over ≤ |sources|²
    * keys.
    */
  private def dedupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    s.read.parquet(lshPairsDir(s, dir))
      .join(docs.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val dedupSourceMatrixSql =
    s"""WITH ${Dedup.lshPortableCtes("documents")},
       |m AS (
       |  SELECT least(da.source, db.source) AS src_lo,
       |    greatest(da.source, db.source) AS src_hi
       |  FROM lshcand p
       |    JOIN documents da ON da.doc_id = p.id_a
       |    JOIN documents db ON db.doc_id = p.id_b)
       |SELECT src_lo, src_hi, count(*) AS n_pairs
       |FROM m GROUP BY src_lo, src_hi""".stripMargin

  /** SimHash-style 64-bit signature from token hashes — bit b of the
    * signature is the majority vote of bit b across token xxhash64 values.
    */
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.withShingles(Tables.documents(s, dir))
      .select(
        col("doc_id"),
        expr(
          """aggregate(
            |  sequence(0, 63),
            |  CAST(0 AS BIGINT),
            |  (acc, b) -> acc | (CASE WHEN
            |     size(filter(tk, t -> (shiftright(xxhash64(t), b) & 1) = 1)) * 2 > size(tk)
            |   THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END))
            |""".stripMargin).as("simhash"))

  /** Oracled twin of the SimHash path, mirroring the minhash-portable
    * pattern: one portable polynomial hash per shingle (materialized in
    * its own projection — a lambda reference would recompute the fold
    * per bit), then bit b of the 16-bit signature is the majority vote
    * of bit b across shingle hashes. DuckDB replicates hash, vote, and
    * fold bit-for-bit; the 64-bit native-XXH64 `dedup_simhash` stays as
    * the throughput path. Empty shingle sets sign as 0 in both engines.
    */
  private def dedupSimhashPortable(s: SparkSession, dir: String): DataFrame =
    // seed-0 portable hash = PolyHash31's pp, one native pass
    Dedup.prehashed(Tables.documents(s, dir))
      .select(col("doc_id"), col("pp").as("hs"))
      .select(col("doc_id"), expr(
        """aggregate(sequence(0, 15), 0, (acc, b) -> acc | (CASE WHEN
          |  size(filter(hs, h -> (shiftright(h, b) & 1) = 1)) * 2 > size(hs)
          |THEN CAST(shiftleft(1, b) AS INT) ELSE 0 END))""".stripMargin)
        .as("simhash16"))

  private val dedupSimhashPortableSql =
    s"""WITH ${Dedup.prehashCtes("documents")}
      |SELECT doc_id,
      |  list_reduce(list_prepend(0, list_transform(range(0, 16), b ->
      |    CASE WHEN len(list_filter(pp, h -> ((h >> b) & 1) = 1)) * 2 > len(pp)
      |    THEN (1 << b) ELSE 0 END)), (acc, v) -> acc | v) AS simhash16
      |FROM prehashed""".stripMargin

  /** n-gram jaccard dedup: EXACT token-3-gram-set jaccard computed only
    * on LSH candidate pairs — the verify stage wired the way the MinHash
    * pipeline feeds it (reference `nvtext/jaccard.hpp:73`: pairwise only
    * within candidates).
    *
    * The round-1 shape blocked on (lang, len_bucket); those blocks grow
    * linearly with the corpus, so the within-block self-join was
    * quadratic at scale. Candidates now come from 4 one-row minhash
    * bands ([[Dedup.ngramJaccardPairs]]). The band hash is the portable
    * seeded poly-min (the same fold both engines compute bit-identically)
    * rather than the engine's native XXH64, so the DuckDB oracle can
    * replicate it exactly. The verify payload is the distinct int64
    * poly-hash set of the shingles, not the string 3-grams.
    */
  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), maxBucket = 1000)

  /** Containment near-dup — the ASYMMETRIC verify metric over the same
    * banded candidates as `dedup_ngram_jaccard`
    * ([[Dedup.containmentPairs]]): cont_a = |A∩B|/|A| is ~1 when doc A
    * is quoted wholesale inside doc B even though jaccard |A∩B|/|A∪B|
    * stays low — the quote-extraction / boilerplate-inclusion case
    * symmetric jaccard dedup misses (overlap coefficient; cf. the
    * reference's jaccard surface `nvtext/jaccard.hpp:73`).
    *
    * Declared recall contract: candidates come from the SHARED
    * jaccard-driven minhash bands (a pair surfaces with probability
    * 1−(1−J)⁴), so a tiny quote inside a huge doc needs more bands or
    * an asymmetric index to surface — the verify metric is containment,
    * the candidate generator stays the pipeline's. Both containments are
    * emitted (direction matters downstream: cut the contained doc, keep
    * the container), thresholded on the larger one.
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), maxBucket = 1000)

  private val dedupNgramJaccardSql = Dedup.ngramCandidateCtes + "\n" +
    """SELECT p.id_a, p.id_b,
      |  CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
      |    len(list_distinct(ha.hs || hb.hs)) AS jaccard3
      |FROM pairs p
      |  JOIN hsets ha ON ha.doc_id = p.id_a
      |  JOIN hsets hb ON hb.doc_id = p.id_b
      |WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
      |    len(list_distinct(ha.hs || hb.hs)) >= 0.2""".stripMargin

  private val dedupContainmentSql = Dedup.ngramCandidateCtes + "\n" +
    """SELECT p.id_a, p.id_b,
      |  round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      |        / len(ha.hs), 6) AS cont_a_6dp,
      |  round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      |        / len(hb.hs), 6) AS cont_b_6dp
      |FROM pairs p
      |  JOIN hsets ha ON ha.doc_id = p.id_a
      |  JOIN hsets hb ON hb.doc_id = p.id_b
      |WHERE greatest(
      |    round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      |          / len(ha.hs), 6),
      |    round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
      |          / len(hb.hs), 6)) >= 0.5""".stripMargin

  /** Incremental near-dedup: a DELTA batch (doc_id % 10 = 0 stands in
    * for "today's crawl") checked against a PERSISTED corpus LSH index
    * (the other 90%), without ever re-scanning corpus text. The index —
    * capped (band, bucket, doc_id) rows plus a (doc_id, hs) signature
    * store — is built and written ONCE per dataset per JVM
    * ([[graft.DimCache]], the write-once/query-many contract shared with
    * join_bucketed and the PQ codes index; [[Dedup.buildLshIndex]]), so
    * steady-state cost is proportional to the DELTA, not the corpus
    * ([[Dedup.incrementalLshPairs]]): the delta is banded map-side,
    * joined to the bucket index on compact (band, bucket) keys, and only
    * matched pairs touch the signature store. That is
    * the shape a 100 TB ingest actually runs daily — the alternative
    * (re-running self-join dedup over corpus+delta) re-pays the whole
    * corpus every batch. Hot corpus buckets are capped at index-build
    * time (property of the stored index, mirrored in the oracle's
    * QUALIFY). The oracle recomputes BOTH sides from the raw documents
    * table, so the green row also proves the persisted index faithful.
    * Reference: nvtext jaccard.hpp:73 pairwise verify; minhash.hpp:72
    * banding.
    */
  private def dedupIncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val idxDir = graft.DimCache.cached(s"lsh-index:$dir") {
      val p = graft.DimCache.artifactPath("lshidx", dir)
      Dedup.buildLshIndex(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(10)) =!= 0), p)
      p
    }
    Dedup.incrementalLshPairs(s,
      Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0), idxDir)
  }

  /** DuckDB twin of [[dedupIncrementalLsh]]: same prehash/band CTEs as
    * the self-join oracle, split into corpus (capped) and delta sides.
    */
  private val dedupIncrementalLshSql =
    Dedup.ngramBandCtes + """,
      |corpus AS (
      |  SELECT * FROM banded WHERE doc_id % 10 != 0
      |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000),
      |delta AS (SELECT * FROM banded WHERE doc_id % 10 = 0),
      |pairs AS (
      |  SELECT DISTINCT d.doc_id AS id_d, c.doc_id AS id_c
      |  FROM delta d JOIN corpus c
      |    ON d.band = c.band AND d.bucket = c.bucket)
      |SELECT p.id_d, p.id_c,
      |  CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
      |    len(list_distinct(ha.hs || hb.hs)) AS jaccard3
      |FROM pairs p
      |  JOIN hsets ha ON ha.doc_id = p.id_d
      |  JOIN hsets hb ON hb.doc_id = p.id_c
      |WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
      |    len(list_distinct(ha.hs || hb.hs)) >= 0.2""".stripMargin

  /** Data-mixture token-budget capping: every corpus recipe ends with
    * "take at most B tokens per source/domain, chosen reproducibly".
    * Priority is the portable Lehmer hash of doc_id (the
    * sample_hash_rows family — stable across runs, engines, and
    * partitionings, zero RNG state); a source keeps its docs in
    * priority order while the running token total stays within budget,
    * so the crossing doc and everything after it are dropped.
    *
    * Scale shape: the per-source totals are one map-side-combined row
    * per source; sources already under budget BYPASS the sort entirely
    * (broadcast anti-join, map-side pass-through) — at 100 TB that is
    * the long tail of small sources costing nothing — and only
    * over-budget sources pay the cumulative-sum window, which
    * partitions by source (the shard-writer's sort shape, never a
    * global order).
    */
  private def mixTokenBudget(s: SparkSession, dir: String): DataFrame =
    mixTokenBudgetOf(Tables.documents(s, dir), budget = 1200L)

  private[graft] def mixTokenBudgetOf(docs: DataFrame, budget: Long): DataFrame = {
    val toks = docs
      .select(
        col("doc_id"),
        col("source"),
        size(split(col("text"), " ")).as("n_tok"),
        pmod(col("doc_id") * lit(48271L), lit(2147483647L)).as("pri"))
    val over = toks
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tot"))
      .filter(col("tot") > budget)
      .select(col("source"))
    val pass = toks.join(broadcast(over), Seq("source"), "left_anti")
    // `source` is a bounded key (tens of corpora, never SF-scaled), so
    // the running total goes through GlobalOrder.groupedCumSum's
    // range-partitioned prefix scan — a plain PARTITION BY source window
    // would funnel every over-budget corpus through one task each.
    val capped = graft.operators.GlobalOrder
      .groupedCumSum(
        toks.join(broadcast(over), Seq("source")),
        Seq("source"), Seq(col("pri"), col("doc_id")), col("n_tok"), "cum")
      .filter(col("cum") <= budget)
    pass
      .select(col("doc_id"), col("source"), col("n_tok"))
      .unionByName(capped.select(col("doc_id"), col("source"), col("n_tok")))
  }

  private val mixTokenBudgetSql =
    """WITH t AS (
      |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
      |    (doc_id * 48271) % 2147483647 AS pri
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tok,
      |    sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, source, n_tok FROM c WHERE cum <= 1200""".stripMargin

  /** Exact substring-span dedup (the suffix-array ExactSubstr shape of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2021; reference analogue: nvtext ngram generation,
    * `nvtext/generate_ngrams.hpp:49`, feeding corpus-frequency counts):
    * every W=8-token window that occurs MORE THAN ONCE anywhere in the
    * corpus (cross- or intra-document) marks its tokens as duplicated;
    * overlapping-or-adjacent flagged windows merge into maximal spans
    * per document — the unit a span-removal pass would cut.
    *
    * Distributed shape, not a suffix array: windows are hashed per-row
    * (one map-side `transform` computing xxhash64 per window — the
    * 64-bit digest keeps corpus-wide collision odds ~n²/2⁶⁵, so the
    * output matches the oracle's group-by-string semantics), the
    * duplicate test is ONE count shuffle on the compact 8-byte hash
    * (map-side combine collapses hot boilerplate windows — a window
    * occurring millions of times costs count rows, never pairs), the
    * flag join broadcasts the dup-hash set against a second corpus
    * scan (duplicated windows are a small fraction of distinct ones;
    * if the dup set ever outgrows a broadcast, AQE falls back to a
    * shuffle join on the same 8-byte key — size-adaptive either way),
    * and span merging is a gaps-and-islands window over compact
    * (doc_id, p) pairs. No pair join anywhere: cost is linear in
    * corpus tokens — the property that makes ExactSubstr runnable at
    * 100 TB where all-pairs comparison is not.
    */
  private def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpans(Tables.documents(s, dir), W = 8)

  /** See [[dedupSubstringSpans]]. Factored on (docs, W) so specs can
    * drive a constructed corpus and other window widths.
    */
  private[graft] def substringSpans(docs: DataFrame, W: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Window hashes via the fused one-pass expression (r21) — value-
    // identical to the transform/slice/array_join/xxhash64 chain it
    // replaces (same bytes, same seed; see WindowHash64), minus that
    // chain's per-window array + string allocations, which both corpus
    // passes of this query were paying.
    // r22: fan the char-heavy window-hash pass out of its single-task
    // scan (Scans.fanOut — no-op at production split counts) and cut
    // lineage at occ: it feeds BOTH the dup count and the flag join, so
    // the hash pass otherwise executed twice per run (stage profile:
    // 215 + 132 ms single-task stages). Lazy: an eager cut cost a job and
    // 6% of the warm call (sf0.1, 4 cores), and the lazy cut logged no
    // accumulator-update error.
    val occ = graft.Materialize.step(graft.Scans.fanOut(docs)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= W)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHash64.windowHash64(col("tk"), W))
          .as(Seq("p", "h"))), "LlmOps.substringOcc")
    val dup = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    occ.join(dup, "h")
      .select(col("doc_id"), col("p"))
      // null lag (first window) fails the <= test -> otherwise(1) opens
      // an island, matching the oracle's CASE-on-null.
      .withColumn("ni",
        when(col("p") - lag(col("p"), 1).over(w) <= W, 0).otherwise(1))
      .withColumn("gid", sum(col("ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("gid"))
      .agg(
        min(col("p")).cast(LongType).as("span_start"),
        (max(col("p")) + lit(W - 1)).cast(LongType).as("span_end"),
        (max(col("p")) + lit(W) - min(col("p"))).cast(LongType).as("dup_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("dup_tokens"))
  }

  private val dedupSubstringSpansSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |occ AS (
      |  SELECT doc_id, unnest(range(1, len(tk) - 8 + 2)) AS i, tk
      |  FROM toks WHERE len(tk) >= 8),
      |grams AS (
      |  SELECT doc_id, i - 1 AS p,
      |    array_to_string(list_slice(tk, i, i + 7), ' ') AS g
      |  FROM occ),
      |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
      |flagged AS (
      |  SELECT gr.doc_id, gr.p FROM grams gr JOIN dup USING (g)),
      |isl AS (
      |  SELECT doc_id, p,
      |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
      |      THEN 0 ELSE 1 END AS ni
      |  FROM flagged),
      |grp AS (
      |  SELECT doc_id, p,
      |    sum(ni) OVER (PARTITION BY doc_id ORDER BY p) AS gid
      |  FROM isl)
      |SELECT doc_id, min(p) AS span_start, max(p) + 7 AS span_end,
      |  max(p) + 8 - min(p) AS dup_tokens
      |FROM grp GROUP BY doc_id, gid""".stripMargin

  /** The removal half of ExactSubstr dedup (Lee et al. §4.2: cut all
    * but one occurrence of each duplicated substring): the FIRST
    * corpus occurrence of every duplicated 8-token window — ordered by
    * (doc_id, position), a total deterministic order — is the keeper;
    * every other occurrence marks its 8 token positions for removal,
    * and each document is rebuilt with its removed positions cut.
    * Documents with nothing to cut pass through byte-identical.
    *
    * Scale shape on top of [[substringSpans]]'s count shuffle: keeper
    * election is a row_number on the SAME compact (h) key the dup
    * count shuffles (one sort exchange, no pairs), covered positions
    * explode to ≤ W rows per removed window, and the per-document
    * rebuild aggregates a bounded position set (≤ doc token count —
    * bounded upstream by [[chunkDocuments]]-style chunking, the same
    * bound every per-doc array here already assumes) then filters the
    * token array map-side with an index-aware lambda. Linear in corpus
    * tokens end-to-end.
    */
  private def dedupSubstringCut(s: SparkSession, dir: String): DataFrame =
    substringCut(Tables.documents(s, dir), W = 8)

  /** See [[dedupSubstringCut]]. Factored on (docs, W) for specs. */
  private[graft] def substringCut(docs: DataFrame, W: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Same fused window-hash expression as substringSpans (r21).
    val occ = graft.Scans.fanOut(docs)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= W)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHash64.windowHash64(col("tk"), W))
          .as(Seq("p", "h")))
    val wh = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("p"))
    val removals = occ
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("h"))))
      .withColumn("rn", row_number().over(wh))
      .filter(col("n") > 1 && col("rn") > 1)
    val covered = removals
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(W - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("cov"))
    docs
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        expr("""array_join(
                |  filter(split(text, ' '),
                |    (t, i) -> cov IS NULL OR NOT array_contains(cov, i)),
                |  ' ')""".stripMargin).as("clean_text"),
        coalesce(size(col("cov")), lit(0)).cast(LongType).as("n_removed"))
  }

  private val dedupSubstringCutSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |occ AS (
      |  SELECT doc_id, unnest(range(1, len(tk) - 8 + 2)) AS i, tk
      |  FROM toks WHERE len(tk) >= 8),
      |grams AS (
      |  SELECT doc_id, i - 1 AS p,
      |    array_to_string(list_slice(tk, i, i + 7), ' ') AS g
      |  FROM occ),
      |marked AS (
      |  SELECT doc_id, p,
      |    count(*) OVER (PARTITION BY g) AS n,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
      |  FROM grams),
      |covered AS (
      |  SELECT doc_id, unnest(range(p, p + 8)) AS pos
      |  FROM marked WHERE n > 1 AND rn > 1),
      |cov AS (
      |  SELECT doc_id, list(DISTINCT pos) AS cv FROM covered GROUP BY doc_id)
      |SELECT d.doc_id,
      |  -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
      |  -- Spark's array_join is '' — same "everything cut" fact
      |  coalesce(array_to_string(
      |    list_filter(
      |      list_transform(range(1, len(string_split(d.text, ' ')) + 1),
      |        i -> CASE WHEN c.cv IS NULL OR NOT list_contains(c.cv, i - 1)
      |          THEN string_split(d.text, ' ')[i] END),
      |      x -> x IS NOT NULL),
      |    ' '), '') AS clean_text,
      |  coalesce(len(c.cv), 0) AS n_removed
      |FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id""".stripMargin

  // -------------------------------------------------------- similarity

  /** (min, max) embedding width of the dataset's embeddings table — the
    * shared input of the ragged-dims guards below. One 1-row aggregate
    * per dataset per JVM ([[graft.DimCache]]): the guards run at query
    * *construction* time, so an uncached form charges every builder
    * invocation (bench rep, verify run) a full Spark job.
    */
  private def embDims(s: SparkSession, dir: String): (Int, Int) =
    graft.DimCache.cached(s"emb-dims:$dir") {
      val r = Tables
        .embeddings(s, dir)
        .select(Similarity.embDouble.as("e"))
        .agg(min(size(col("e"))), max(size(col("e"))))
        .head()
      (r.getInt(0), r.getInt(1))
    }

  /** The one embedding width of the dataset, for a tier that assumes a
    * single dimensionality (a table mixing widths is a data bug a
    * silent min(len) fold would hide), divisible by `multipleOf`. The
    * error names the tier and the widths it saw.
    */
  private def uniformDims(s: SparkSession, dir: String, tier: String,
      multipleOf: Int = 1): Int = {
    val (dmin, dmax) = embDims(s, dir)
    require(dmin == dmax && dmin % multipleOf == 0,
      s"$tier needs uniform dims" +
        (if (multipleOf > 1) s" divisible by $multipleOf" else "") +
        s", got [$dmin,$dmax]")
    dmin
  }

  // The ANN dimensions of a dataset's embeddings table. Each is the ONE
  // definition of its DimCache key: the batch builders here, the
  // streaming twins in StreamingGate and Explain's streaming audit all
  // read these, so a gate run and a batch run share one build.

  /** The embeddings as (vec_id, e: array<double>). */
  private[graft] def embVectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), Similarity.embDouble.as("e"))

  /** The 8 IVF centroids (strided Lehmer pick) as driver arrays: a
    * bounded dimension whose uncached form cost every builder
    * invocation two driver jobs (the pick and the collect).
    */
  private[graft] def ivfCentroids(s: SparkSession,
      dir: String): IndexedSeq[(Int, Seq[Double])] =
    graft.DimCache.cached(s"ivf-centroids:$dir:8") {
      Similarity.centroidArrays(
        Similarity.centroids(
          embVectors(s, dir).select(col("vec_id"), col("e").as("embedding")),
          nCells = 8))
    }

  /** Per-dimension (min, max): the SQ8 quantizer and the binary
    * thresholds.
    */
  private[graft] def sq8Bounds(s: SparkSession,
      dir: String): (IndexedSeq[Double], IndexedSeq[Double]) =
    graft.DimCache.cached(s"sq8-bounds:$dir") {
      Similarity.sq8Bounds(embVectors(s, dir))
    }

  /** The query sample: vec_id < 8 as (vec_id, e, label), sorted by
    * vec_id and collected once per (JVM, dataset) — a bounded 8×d
    * dimension. The recall rows, the k-NN join and hard-negative
    * mining query with all 8; the single-query rows use vec_id 0.
    */
  private def querySample(s: SparkSession,
      dir: String): IndexedSeq[(Long, IndexedSeq[Double], Int)] =
    graft.DimCache.cached(s"query-sample:$dir:8") {
      Tables.embeddings(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id"), Similarity.embDouble.as("e"), col("label")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq, r.getInt(2)))
        .sortBy(_._1).toIndexedSeq
    }

  /** The single-query top-k rows' query vector (vec_id = 0). */
  private def queryVector(s: SparkSession, dir: String): IndexedSeq[Double] =
    querySample(s, dir).collectFirst { case (0L, e, _) => e }
      .getOrElse(throw new NoSuchElementException(s"no vec_id 0 in $dir"))

  /** The recall rows' queries as a broadcastable (qid, qe) frame: the
    * sample's rows, read from the scan so qid keeps its nullable type.
    */
  private def recallQueries(s: SparkSession, dir: String): DataFrame =
    embVectors(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("e").as("qe"))

  /** Recall@10 of a tier's approximate arm (qid, vec_id, score) against
    * the exact arm over the corpus (vec_id ≥ 8) for the 8 sample
    * queries.
    */
  private def recallAt10(s: SparkSession, dir: String, approx: DataFrame,
      metric: Similarity.Metric): DataFrame = {
    val q = recallQueries(s, dir)
    val corpus = embVectors(s, dir).filter(col("vec_id") >= 8)
    Similarity.recallAt(q, Similarity.exactScores(corpus, q, metric), approx, 10, metric)
  }

  /** The persisted ANN indexes: a tier's codes, encoded once per (JVM,
    * dataset) and written as parquet at `DimCache.artifactPath(kind,
    * dir)`, are read back by its top-k and recall rows (FAISS persists
    * its codes for the same reason). `partitionBy` lays the files out
    * by a column, so a filter on it skips whole files. The path is
    * under this JVM's artifact root, so concurrent JVMs on the same
    * dataset each write their own copy.
    */
  private def annIndex(s: SparkSession, kind: String, dir: String,
      partitionBy: Option[String] = None)(encode: => DataFrame): DataFrame = {
    val path = graft.DimCache.cached(s"ann-index:$kind:$dir") {
      val p = graft.DimCache.artifactPath(kind, dir)
      val w = encode.write.mode("overwrite")
      partitionBy.fold(w)(c => w.partitionBy(c)).parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Product quantization shape: M subspaces of K codewords, each
    * subspace `pqDsub` = d / M wide.
    */
  private val PqM = 8
  private val PqK = 16
  private[graft] def pqDsub(s: SparkSession, dir: String): Int =
    embDims(s, dir)._1 / PqM

  /** PQ codebooks: the strided-pick exemplars per subspace. */
  private[graft] def pqCodebooks(s: SparkSession,
      dir: String): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    graft.DimCache.cached(s"pq-codebooks:$dir:$PqM:$PqK") {
      Similarity.pqCodebooks(
        embVectors(s, dir), PqM, PqK, pqDsub(s, dir))
    }

  /** The PQ index: codes only, the 8-bytes-per-vector contract. */
  private def pqIndex(s: SparkSession, dir: String): DataFrame =
    annIndex(s, "pqcodes", dir) {
      Similarity.encodePq(embVectors(s, dir), pqCodebooks(s, dir), pqDsub(s, dir)).drop("e")
    }

  /** Brute-force cosine top-k against a query vector (vec_id = 0) —
    * the correctness baseline for ANN. The query side is a 1-row
    * broadcast; scoring is a single map-side pass + TakeOrdered(k).
    */
  private def simCosineTopk(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(s, dir), queryVecId = 0L, k = 10)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine_6dp"))

  private val simCosineTopkSql =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(e) + 1), i -> e[i] * qe[i])),
      |      (a, v) -> a + v) /
      |    (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(e, x -> x * x)), (a, v) -> a + v)) *
      |     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(qe, x -> x * x)), (a, v) -> a + v))) AS cosine
      |  FROM e, q WHERE vec_id <> 0)
      |SELECT vec_id, round(cosine, 6) AS cosine_6dp
      |FROM scored ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** LSH-bucketed ANN scale path: 8 signed random hyperplanes → 8-bit
    * bucket; neighbors are sought only within a bucket. Output: bucket
    * sizes — the candidate-set statistics of the ANN index.
    *
    * The ±1 plane weights come from the same portable LCG parity as
    * `dedup_emb_cosine` (bit 16 of the LCG value at `p * 1024 + j`;
    * 1024 is only a seed stride keeping per-plane inputs disjoint), so
    * the whole bucketing is replicated in DuckDB and the query is fully
    * oracle-checked — candidate statistics, not just row counts.
    */
  private def simAnnLshBuckets(s: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), Similarity.embDouble.as("e"))
      .select(col("vec_id"), planeBucket8(s, dir).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))

  /** The ±1 weight of dimension j in random hyperplane p: bit 16 of the
    * portable LCG value at `p * stride + j` (the stride keeps per-plane
    * seed ranges disjoint while dims <= stride). The same integer
    * expression the DuckDB twins evaluate inline.
    */
  private def hyperplaneSign(p: Int, j: Int, stride: Int): Double =
    if ((((1103515245L * (p * stride + j) + 12345L) % 2147483648L >> 16) & 1L) == 1L)
      1.0 else -1.0

  /** DuckDB twin of [[hyperplaneSign]] at the seed index `seed`, an SQL
    * expression such as `p * 1024 + j`.
    */
  private def hyperplaneSignSql(seed: String): String =
    s"(CASE WHEN ((1103515245 * ($seed) + 12345) % 2147483648 >> 16) & 1 = 1 " +
      "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"

  /** Planes 0 until n as literal arrays of their `dims` signs: each
    * projection is then one native DotF64 pass instead of a `dims`-term
    * interpreted fold; e[j]*(±1.0) multiplies exactly like the oracle's
    * term and DotF64 folds ascending, so the buckets are bit-identical.
    */
  private def hyperplanes(n: Int, dims: Int, stride: Int): IndexedSeq[Column] =
    (0 until n).map(p => array((0 until dims).map(j => lit(hyperplaneSign(p, j, stride))): _*))

  /** The sign bits of vector `v` against `planes`, plane i at bit
    * weight `bit(i)`.
    */
  private def signBits(v: Column, planes: Seq[Column], bit: Int => Int): Column =
    planes.zipWithIndex
      .map { case (plane, i) =>
        (graft.functions.DotF64.dotf64(v, plane) > lit(0.0))
          .cast(IntegerType) * lit(bit(i))
      }
      .reduce(_ + _)

  /** The 8-plane bucket of `sim_ann_lsh_buckets` and `dedup_semantic`:
    * plane p at bit weight 2^p, seed stride 1024.
    */
  private def planeBucket8(s: SparkSession, dir: String): Column = {
    val dims = uniformDims(s, dir, "hyperplane bucketing")
    // Wider embeddings would silently correlate the hyperplanes (both
    // engines agree, so the oracle would stay green while bucket
    // quality degrades). dims >= 1 also keeps the per-row index folds
    // off the sequence(0, -1) ANSI trap.
    require(dims >= 1 && dims <= 1024,
      s"plane seed stride supports 1 <= dims <= 1024, got $dims")
    signBits(col("e"), hyperplanes(8, dims, 1024), p => 1 << p)
  }

  /** DuckDB twin of the hyperplane bucketing: the per-plane dot product
    * is the same ascending-index fold DotF64 runs, the ±1 weight is the
    * same LCG-parity integer expression, and the 8 sign bits assemble
    * with plane p at bit weight 2^p exactly as the Spark side's
    * `(dot > 0) * (1 << p)` sum.
    */
  private val simAnnLshBucketsSql =
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |b AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(0, list_transform(range(0, 8), p ->
      |      CASE WHEN
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(0, len(e)), j ->
      |            e[j + 1] * ${hyperplaneSignSql("p * 1024 + j")})),
      |          (a, v) -> a + v) > CAST(0.0 AS DOUBLE)
      |      THEN CAST(1 AS INTEGER) << p ELSE 0 END)),
      |      (a, v) -> a + v) AS bucket
      |  FROM e)
      |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_vectors,
      |  min(vec_id) AS min_vec_id
      |FROM b GROUP BY bucket""".stripMargin

  /** Embedding-cosine near-duplicate pairs, LSH-banded: candidates come
    * from 2 bands × 4 signed-random-hyperplane bits (so the self-join is
    * per-bucket, never corpus²), then every candidate pair is verified
    * with the exact cosine. The ±1 plane weights derive from a portable
    * LCG parity — the same integer fold DuckDB computes bit-identically —
    * so unlike `sim_ann_lsh_buckets` (native xxhash64) this query is
    * fully oracle-checked: candidate generation AND verification.
    *
    * Recall at the similarity threshold (0.4 here — the synthetic embeddings are near-orthogonal, so "near-dup" is data-relative) is 1-(1-p₄)² ≈ 0.8-0.95 (p = 1-θ/π per plane) —
    * the standard SRP-LSH trade. 100 TB note: planes-per-band tunes
    * bucket granularity (4 bits → 16 buckets/band here; production sizes
    * 16-24 bits so buckets stay executor-local), and the banding core's
    * hot-bucket cap (200 vectors) bounds a degenerate embedding region;
    * the oracle mirrors the cap. The cosine is cheaper than the pair
    * distinct over 64-double payloads, so the row takes the core's
    * verify-then-distinct route ([[Banding.verifiedPairs]]).
    */
  private def dedupEmbCosine(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DotF64.dotf64
    // 2 bands × 4 planes of stride 64, the first plane of a band at the
    // highest bit (the oracle's acc*2+bit fold)
    val planes = hyperplanes(8, 64, 64)
    def bandBucket(band: Int): Column =
      signBits(col("e"), planes.slice(band * 4, band * 4 + 4), i => 1 << (3 - i))
    // The plane arrays are exactly 64-wide: DotF64 folds min(len) terms,
    // so a wider embedding table would SILENTLY project onto the first
    // 64 dims (both engines agree — the oracle stays green while bucket
    // quality quietly degrades). Fail loudly instead.
    val dims = uniformDims(s, dir, "dedupEmbCosine planes")
    require(dims == 64, s"dedupEmbCosine planes are built for 64-dim embeddings, got $dims")
    // squared norm hoisted per vector (identical arithmetic to the
    // per-pair form, just computed once); native dot = the oracle's
    // ascending-index fold, bit for bit
    val sigs = embVectors(s, dir).select(col("vec_id"), col("e"), dotf64(col("e"), col("e")).as("n2"))
    Banding.verifiedPairs(sigs, "vec_id", Seq("e", "n2"),
        array(bandBucket(0), bandBucket(1)), maxBucket = 200) {
      _.select(col("id_a"), col("id_b"),
          (dotf64(col("e_a"), col("e_b")) / (sqrt(col("n2_a")) * sqrt(col("n2_b")))).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine_6dp"))
    }
  }

  private val dedupEmbCosineSql =
    s"""WITH e00 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |e0 AS (
      |  SELECT vec_id, e,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (a, v) -> a + v) AS n2
      |  FROM e00),
      |banded AS (
      |  SELECT vec_id, e, n2, band,
      |    list_reduce(list_prepend(0, list_transform(range(0, 4), i ->
      |      CASE WHEN
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(0, 64), j ->
      |            e[j + 1] * ${hyperplaneSignSql("(band * 4 + i) * 64 + j")})),
      |          (a, v) -> a + v)
      |        > CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END)),
      |      (acc, bit) -> acc * 2 + bit) AS bucket
      |  FROM e0 CROSS JOIN (SELECT unnest([0, 1]) AS band) bands),
      |capped AS (
      |  SELECT * FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 200),
      |cand AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb,
      |    a.n2 AS na2, b.n2 AS nb2
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT id_a, id_b,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(ea) + 1), i -> ea[i] * eb[i])),
      |      (a, v) -> a + v) /
      |    (sqrt(na2) * sqrt(nb2)) AS cos
      |  FROM cand)
      |SELECT DISTINCT id_a, id_b, round(cos, 6) AS cosine_6dp
      |FROM scored WHERE cos >= 0.4""".stripMargin

  /** IVF ANN top-k (the index-probe scale path for similarity search,
    * complementing the hyperplane buckets of `sim_ann_lsh_buckets`):
    * query probes the nProbe nearest centroid cells and scores only
    * inside them. Fully oracle-checked since the centroid pick moved to
    * a portable Lehmer fold ((vec_id * 48271) % 2147483647) — the DuckDB
    * twin replicates pick, unit-normalization, map-side argmax
    * assignment, probe, and scoring with the same IEEE op order
    * (ascending-index dot folds = DotF64). Recall vs brute force is
    * additionally pinned by `ScaleOpsSpec`.
    */
  private def simIvfTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), Similarity.embDouble.as("embedding"))
    // the cached arrays rebuild `cents` as a LocalRelation, so the probe
    // stage plans with zero extra jobs
    val cRows = ivfCentroids(s, dir)
    val cents = cRows.toDF("cell_id", "centroid")
    // assignCells already carries each row's embedding as `e` — no
    // re-join against the scan needed
    val assigned = Similarity.assignCells(emb, cRows)
    Similarity
      .ivfTopK(assigned, cents, queryVecId = 0L, k = 10, nProbe = 2)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine_6dp"))
  }

  /** MMR (maximal-marginal-relevance) diversity rerank — Carbonell &
    * Goldstein 1998, the standard redundancy-vs-relevance rerank a RAG
    * retrieval stack runs between candidate generation and the context
    * window: greedily pick 10 of the top-50 cosine candidates maximizing
    * λ·rel − (1−λ)·max-sim-to-already-picked with λ = 0.7.
    *
    * Exactness: relevance and all pairwise candidate similarities are
    * floored cosine micro-units (the engine-identical IEEE tree of the
    * sim family), and the greedy objective is scaled through by 10 —
    * `mmr_micro = 7·rel − 3·maxsim` in pure long arithmetic (first pick:
    * maxsim = 0, so argmax rel) with ties to the lowest vec_id. The
    * DuckDB twin replays the greedy EXACTLY by unrolling the 10 steps as
    * chained CTEs (the PCA-oracle unrolling pattern), each picking via
    * ORDER BY score DESC, id LIMIT 1 against the accumulated picked
    * list.
    *
    * Scale shape: the distributed work is the corpus scan + broadcast
    * query + TakeOrdered(50); the rerank itself is O(k²) = 50² over a
    * BOUNDED collected dimension (the same exemption as query vectors /
    * centroids) — exactly where production MMR runs (rerank happens on
    * the retrieved page, never corpus-side).
    */
  private def simMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = embVectors(s, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    val cand = emb
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("e"),
        floor(Similarity.cosine(col("e"), col("qe")) * lit(1e6))
          .cast(LongType).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(50)
    val picked = graft.DimCache.cached(s"mmr-rerank:$dir:50:10") {
      val rows = cand.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
        .sortBy(t => (-t._3, t._1))
        .toIndexedSeq
      def simMicro(a: Array[Double], b: Array[Double]): Long = {
        var dot = 0d; var na = 0d; var nb = 0d; var i = 0
        while (i < a.length) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
      }
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val remaining = scala.collection.mutable.ArrayBuffer(rows: _*)
      while (sel.length < 10 && remaining.nonEmpty) {
        val scored = remaining.map { c =>
          val maxSim =
            if (sel.isEmpty) 0L
            else sel.map(p => simMicro(c._2,
              rows.find(_._1 == p._2).get._2)).max
          (c._1, c._3, 7L * c._3 - 3L * maxSim)
        }
        val best = scored.minBy(t => (-t._3, t._1))
        sel += ((sel.length + 1L, best._1, best._3))
        remaining --= remaining.filter(_._1 == best._1)
      }
      sel.map { case (rank, id, score) =>
        (rank, id, rows.find(_._1 == id).get._3, score)
      }.toIndexedSeq
    }
    import s.implicits._
    picked.toDF("rank", "vec_id", "rel_micro", "mmr_micro")
  }

  /** The chained greedy steps MUST be `AS MATERIALIZED`: DuckDB inlines
    * CTEs by default, and step k references p(k-1) twice (the candidate
    * filter and the list append), so the un-materialized plan tree
    * doubles per step — 2¹⁰ copies of the corpus scan (observed as a
    * >10-minute oracle before the hint; milliseconds after).
    */
  private val simMmrRerankSql = {
    val candPrefix =
      """WITH ev AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |qv AS MATERIALIZED (SELECT e AS qe FROM ev WHERE vec_id = 0),
        |cand AS MATERIALIZED (
        |  SELECT vec_id AS id, e,
        |    CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1, len(e) + 1), i -> e[i] * qe[i])),
        |        (a, v) -> a + v) /
        |      (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(e, x -> x * x)), (a, v) -> a + v)) *
        |       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(qe, x -> x * x)), (a, v) -> a + v)))) * 1e6)
        |      AS BIGINT) AS rel
        |  FROM ev, qv WHERE vec_id <> 0
        |  ORDER BY rel DESC, vec_id LIMIT 50),
        |psim AS MATERIALIZED (
        |  SELECT a.id AS ia, b.id AS ib,
        |    CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])),
        |        (x, v) -> x + v) /
        |      (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(a.e, x -> x * x)), (x, v) -> x + v)) *
        |       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(b.e, x -> x * x)), (x, v) -> x + v)))) * 1e6)
        |      AS BIGINT) AS s
        |  FROM cand a JOIN cand b ON a.id <> b.id),
        |cand2 AS MATERIALIZED (
        |  SELECT c.id, c.rel, list(struct_pack(o := p.ib, s := p.s)) AS sims
        |  FROM cand c JOIN psim p ON p.ia = c.id GROUP BY c.id, c.rel),
        |s1 AS MATERIALIZED (SELECT id, rel, CAST(7 * rel AS BIGINT) AS score
        |  FROM cand2 ORDER BY rel DESC, id LIMIT 1),
        |p1 AS MATERIALIZED (SELECT list(id) AS ids FROM s1)""".stripMargin
    val steps = (2 to 10).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT id, rel,
         |    CAST(7 * rel - 3 * list_max(list_transform(
         |      list_filter(sims, x -> list_contains(ids, x.o)),
         |      x -> x.s)) AS BIGINT) AS score
         |  FROM cand2, p${k - 1} WHERE NOT list_contains(ids, id)
         |  ORDER BY score DESC, id LIMIT 1),
         |p$k AS MATERIALIZED (SELECT list(id) AS ids FROM (
         |  SELECT unnest(ids) AS id FROM p${k - 1}
         |  UNION ALL SELECT id FROM s$k) t)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to 10).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS rank, id AS vec_id,
         |  rel AS rel_micro, score AS mmr_micro FROM s$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$candPrefix,\n$steps\n$sel"
  }

  /** ANN recall audit: recall@10 of single-probe SRP-LSH retrieval vs
    * the exact brute-force top-10, per query vector (vec_id < 8 are the
    * queries, the rest the corpus) — the self-certification number every
    * ANN deployment reports. Buckets are 4 signed-hyperplane bits (16
    * buckets — sized so the synthetic near-orthogonal corpus still puts
    * tens of candidates per bucket; production uses 16-24 bits + multi-
    * probe, same shape). The ±1 plane weights are the portable LCG
    * parity of [[dedupEmbCosine]] (plane index p·64+j), so candidate
    * generation, scoring, ranking, and the recall arithmetic are ALL
    * replicated by the DuckDB twin — the audit itself is oracle-checked.
    *
    * Exactness: both engines fold dots ascending (DotF64 = list_reduce),
    * so scores are bit-identical IEEE doubles and the (cos desc, vec_id)
    * ranking matches; recall counts are integers.
    *
    * Scale shape: bucket assignment is map-side (literal planes); the 8
    * queries broadcast; the exact side is one corpus scan × |Q| with a
    * qid-partitioned top-k window (bounded by the AUDIT's query-sample
    * size by design — auditing recall on a sample, not the full query
    * log, is the production pattern); the LSH side only scores the
    * bucket-matched slice. No corpus×corpus joins anywhere.
    */
  private def simLshRecall(s: SparkSession, dir: String): DataFrame = {
    val dims = uniformDims(s, dir, "simLshRecall planes")
    require(dims == 64, s"simLshRecall planes are built for 64-dim embeddings, got $dims")
    val planes = hyperplanes(4, 64, 64)
    def bucketOf(v: Column): Column = signBits(v, planes, i => 1 << (3 - i))
    val q = recallQueries(s, dir).withColumn("qbucket", bucketOf(col("qe")))
    val approx = embVectors(s, dir)
      .filter(col("vec_id") >= 8)
      .withColumn("bucket", bucketOf(col("e")))
      .crossJoin(broadcast(q))
      .filter(col("bucket") === col("qbucket"))
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qe"), col("e")).as("score"))
    val nCand = approx.groupBy(col("qid")).agg(count(lit(1)).as("nc"))
    recallAt10(s, dir, approx, Similarity.CosineMetric)
      .join(nCand, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("nc"), lit(0L)).as("n_candidates"),
        col("n_hits"), col("recall_ppm"))
  }

  private val simLshRecallSql =
    s"""WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |e1 AS (
      |  SELECT vec_id, e,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (a, v) -> a + v) AS n2,
      |    list_reduce(list_prepend(0, list_transform(range(0, 4), i ->
      |      CASE WHEN
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(0, 64), j ->
      |            e[j + 1] * ${hyperplaneSignSql("i * 64 + j")})),
      |          (a, v) -> a + v)
      |        > CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END)),
      |      (acc, bit) -> acc * 2 + bit) AS bucket
      |  FROM e0),
      |q AS (SELECT vec_id AS qid, e AS qe, n2 AS qn2, bucket AS qbucket
      |  FROM e1 WHERE vec_id < 8),
      |scored AS (
      |  SELECT qid, c.vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(e) + 1), i -> e[i] * qe[i])),
      |      (a, v) -> a + v) / (sqrt(n2) * sqrt(qn2)) AS cos,
      |    c.bucket = qbucket AS in_bucket
      |  FROM (SELECT * FROM e1 WHERE vec_id >= 8) c CROSS JOIN q),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      |    FROM scored) t WHERE rn <= 10),
      |cand AS (SELECT * FROM scored WHERE in_bucket),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      |    FROM cand) t WHERE rn <= 10),
      |nc AS (SELECT qid, count(*) AS nc FROM cand GROUP BY qid),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT q.qid, coalesce(nc, 0) AS n_candidates,
      |  coalesce(nh, 0) AS n_hits,
      |  (coalesce(nh, 0) * 1000000) // 10 AS recall_ppm
      |FROM q LEFT JOIN nc ON q.qid = nc.qid
      |LEFT JOIN h ON q.qid = h.qid""".stripMargin

  /** Cluster-quality audit over the labeled embedding table: per label,
    * the member count and the average cosine of members to their own
    * label centroid — the cohesion half of a silhouette score (the
    * audit that catches a collapsed or mislabeled cluster before
    * training consumes it). Centroids are integer fixed-point: per-dim
    * member sums of floor(x·10⁶) divided (div) by the member count, so
    * both engines hold the IDENTICAL centroid; the member↔centroid
    * cosine is then the same IEEE expression over those integers, and
    * the per-label average rides the floored-micro sum (order-
    * independent). Hash-exact end to end.
    *
    * Scale shape: one posexplode → (label, dim) sum aggregate (map-side
    * combined; |labels|·d rows), centroid arrays rebuilt per label by a
    * sorted collect over that SAME collapsed frame, then ONE broadcast
    * join back onto members for the stateless cosine map and a final
    * |labels|-group aggregate. The corpus never self-joins.
    */
  private def embLabelQuality(s: SparkSession, dir: String): DataFrame = {
    val xq = Tables
      .embeddings(s, dir)
      .select(col("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000D) AS BIGINT))")
          .as("xq"))
    val cent = xq
      .select(col("label"), posexplode(col("xq")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), expr("sx div n").as("c"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("label"),
        expr("transform(dc, p -> p.c)").as("cent"))
    xq.join(broadcast(cent), Seq("label"))
      .select(col("label"),
        expr("""aggregate(zip_with(xq, cent, (a, b) ->
            CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""").as("dot"),
        expr("""aggregate(transform(xq, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""").as("na"),
        expr("""aggregate(transform(cent, b -> CAST(b AS DOUBLE) * CAST(b AS DOUBLE)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""").as("nb"))
      .select(col("label"),
        (col("dot") / (sqrt(col("na")) * sqrt(col("nb")))).as("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.Agg.dsum(col("cos"), 6).as("avg_raw"))
      .select(col("label"), col("n_vecs"),
        round(col("avg_raw") / col("n_vecs"), 6).as("avg_cos_6dp"))
  }

  private val embLabelQualitySql =
    s"""WITH xq AS (
       |  SELECT label, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, u.dim, sum(xq[u.dim + 1]) AS sx, count(*) AS n
       |  FROM xq, unnest(range(0, len(xq))) AS u(dim)
       |  GROUP BY label, u.dim),
       |cent AS (
       |  SELECT label,
       |    list(CAST(sx AS BIGINT) // n ORDER BY dim) AS cent
       |  FROM dims GROUP BY label),
       |j AS (
       |  SELECT xq.label,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len(xq) + 1),
       |        i -> CAST(xq[i] AS DOUBLE) * CAST(cent[i] AS DOUBLE))),
       |      (a, v) -> a + v) AS dot,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(xq, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))),
       |      (a, v) -> a + v) AS na,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(cent, b -> CAST(b AS DOUBLE) * CAST(b AS DOUBLE))),
       |      (a, v) -> a + v) AS nb
       |  FROM xq JOIN cent ON xq.label = cent.label),
       |c AS (SELECT label, dot / (sqrt(na) * sqrt(nb)) AS cos FROM j)
       |SELECT label, count(*) AS n_vecs,
       |  round(${graft.Agg.dsumSql("cos", 6)} / count(*), 6) AS avg_cos_6dp
       |FROM c GROUP BY label""".stripMargin

  /** SQ8 scalar-quantization ANN (FAISS QT_8bit practice): train
    * per-dimension [min, max] bounds once (DimCache'd — d pairs, a
    * design dimension), encode the corpus to one signed byte per
    * dimension (4× smaller than f32 where PQ is 32×, but with
    * per-dimension fidelity), persist the codes as the index
    * (write-once/query-many like the PQ codes and the bucketed layout),
    * and rank by ASYMMETRIC cosine — exact query vector against
    * dequantized corpus. The oracle recomputes bounds + codes +
    * dequantization from the RAW embeddings with the identical IEEE
    * arithmetic, so the green row proves the stored byte index
    * faithful end to end.
    */
  private def simSq8Topk(s: SparkSession, dir: String): DataFrame = {
    uniformDims(s, dir, "SQ8")
    val (mn, mx) = sq8Bounds(s, dir)
    Similarity.sq8TopK(sq8Index(s, dir), queryVector(s, dir), mn, mx,
      queryVecId = 0L, k = 10)
  }

  /** The SQ8 index: codes only, the byte-per-dimension contract (shared
    * by `sim_sq8_topk` and its recall row).
    */
  private def sq8Index(s: SparkSession, dir: String): DataFrame =
    annIndex(s, "sq8codes", dir) {
      val (mn, mx) = sq8Bounds(s, dir)
      Similarity.encodeSq8(embVectors(s, dir), mn, mx).drop("e")
    }

  /** SQ8 recall self-certification (`sim_lsh_recall` precedent, r18
    * verdict task 3): per query vector (vec_id < 8, exact), the top-10
    * overlap between (a) asymmetric cosine over the PERSISTED byte-code
    * index and (b) exact brute-force cosine over the raw corpus
    * (vec_id ≥ 8). Both rankings use the identical ascending-index IEEE
    * fold, so the oracle — which recomputes bounds → codes → dequantize
    * → both rankings from the raw table — pins the exact hit counts.
    * The green row IS the quantitative "recall ≈ exact" claim of
    * `Similarity.sq8TopK`, measured per query, hash-checked at the
    * gate instead of floor-bounded in a spec.
    *
    * Scale shape: two broadcast-query map passes over the corpus (one
    * on raw vectors, one on the byte index) + two per-query top-10
    * windows over 8 partitions — no corpus self-join, no shuffle wider
    * than the 8-query fanout.
    */
  private def simSq8Recall(s: SparkSession, dir: String): DataFrame = {
    uniformDims(s, dir, "SQ8")
    val (mn, mx) = sq8Bounds(s, dir)
    val approx = sq8Index(s, dir)
      .filter(col("vec_id") >= 8)
      .withColumn("xhat", Similarity.sq8Dequantize(mn, mx))
      .crossJoin(broadcast(recallQueries(s, dir)))
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qe"), col("xhat")).as("score"))
    recallAt10(s, dir, approx, Similarity.CosineMetric)
  }

  /** DuckDB twin: the `sim_sq8_topk` bounds/quantize/dequantize CTEs
    * verbatim, the `sim_lsh_recall` exact-vs-approx overlap shape —
    * every cosine the identical ascending list_reduce fold over the
    * identical doubles, so both engines rank identically and the hit
    * counts are integer-exact.
    */
  private val simSq8RecallSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |bounds AS (
      |  SELECT ix.i AS dim, min(e[ix.i]) AS mn, max(e[ix.i]) AS mx
      |  FROM ev, (SELECT unnest(range(1, (SELECT nd + 1 FROM d))) AS i) ix
      |  GROUP BY ix.i),
      |mnl AS (SELECT list(mn ORDER BY dim) AS mnl,
      |               list(mx - mn ORDER BY dim) AS scl FROM bounds),
      |q AS (SELECT vec_id AS qid, e AS qe,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(e, x -> x * x)), (a, v) -> a + v) AS qn2
      |  FROM ev WHERE vec_id < 8),
      |corpus AS (SELECT vec_id, e FROM ev WHERE vec_id >= 8),
      |xh AS (
      |  SELECT vec_id,
      |    list_transform(range(1, len(e) + 1), i ->
      |      CASE WHEN scl[i] = 0 THEN mnl[i]
      |      ELSE mnl[i] +
      |        (CAST(floor((e[i] - mnl[i]) / scl[i] * 255 + 0.5) - 128
      |          AS DOUBLE) + 128) / 255 * scl[i] END) AS xhat
      |  FROM corpus, mnl),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, c.vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |          (a, v) -> a + v) /
      |        (sqrt(qn2) *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(e, x -> x * x)), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM corpus c CROSS JOIN q) t WHERE rn <= 10),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, x.vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(xhat) + 1), i -> qe[i] * xhat[i])),
      |          (a, v) -> a + v) /
      |        (sqrt(qn2) *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(xhat, x -> x * x)), (a, v) -> a + v)))
      |        DESC, x.vec_id) AS rn
      |    FROM xh x CROSS JOIN q) t WHERE rn <= 10),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT q.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |  (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // 10 AS recall_ppm
      |FROM q LEFT JOIN h ON q.qid = h.qid""".stripMargin

  /** DuckDB twin of the SQ8 pipeline: per-dimension min/max bounds from
    * the raw table, the identical quantize → dequantize arithmetic
    * (floor(y·255 + 0.5) − 128, then mn + (c + 128)/255·sc — every
    * intermediate the same IEEE double), and the same asymmetric
    * cosine with ascending folds.
    */
  private val simSq8TopkSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |bounds AS (
      |  SELECT ix.i AS dim, min(e[ix.i]) AS mn, max(e[ix.i]) AS mx
      |  FROM ev, (SELECT unnest(range(1, (SELECT nd + 1 FROM d))) AS i) ix
      |  GROUP BY ix.i),
      |mnl AS (SELECT list(mn ORDER BY dim) AS mnl,
      |               list(mx - mn ORDER BY dim) AS scl FROM bounds),
      |q AS (SELECT e AS qe FROM ev WHERE vec_id = 0),
      |xh AS (
      |  SELECT vec_id,
      |    list_transform(range(1, len(e) + 1), i ->
      |      CASE WHEN scl[i] = 0 THEN mnl[i]
      |      ELSE mnl[i] +
      |        (CAST(floor((e[i] - mnl[i]) / scl[i] * 255 + 0.5) - 128
      |          AS DOUBLE) + 128) / 255 * scl[i] END) AS xhat
      |  FROM ev, mnl WHERE vec_id <> 0),
      |scored AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(xhat) + 1), i -> qe[i] * xhat[i])),
      |      (a, v) -> a + v) /
      |    (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(qe, x -> x * x)), (a, v) -> a + v)) *
      |     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(xhat, x -> x * x)), (a, v) -> a + v))) AS cosine
      |  FROM xh, q)
      |SELECT vec_id, round(cosine, 6) AS sq8_cosine_6dp
      |FROM scored ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  // ----------------------------------------------- binary quantization

  /** The binary quantization thresholds: the midpoints of the SQ8
    * bounds, so the binary index shares SQ8's train pass.
    */
  private def binaryThresholds(s: SparkSession, dir: String): IndexedSeq[Double] = {
    val (mn, mx) = sq8Bounds(s, dir)
    Similarity.binaryThresholds(mn, mx)
  }

  /** The binary (1-bit/dim) index: two packed BIGINT halves per vector —
    * 16 bytes/row where the raw table stores 64 floats (16×), queried
    * by pure integer XOR+popcount. Shared by `sim_binary_topk` and its
    * recall row.
    */
  private def binaryIndex(s: SparkSession, dir: String): DataFrame =
    annIndex(s, "bqcodes", dir) {
      Similarity.encodeBinary(embVectors(s, dir), binaryThresholds(s, dir))
    }

  /** Binary-quantization retrieve-and-refine (the vector-DB "BQ +
    * rescoring" pipeline; FAISS IndexBinaryFlat + refine practice):
    * stage 1 ranks the persisted 16-byte/row bit index by Hamming
    * distance — integer XOR+popcount, no float math — and keeps 64
    * candidates; stage 2 re-scores only those with exact cosine
    * against the raw vectors. Thresholds are the (mn+mx)/2 midpoints
    * of the SQ8 bounds, so the binary index shares SQ8's train pass.
    * The oracle recomputes thresholds → bit-packing → Hamming →
    * rerank from the raw table in identical integer/IEEE arithmetic,
    * proving the stored bit index end to end.
    */
  private def simBinaryTopk(s: SparkSession, dir: String): DataFrame = {
    uniformDims(s, dir, "binary quantization", 2)
    Similarity.binaryTopK(binaryIndex(s, dir), embVectors(s, dir),
      queryVector(s, dir), binaryThresholds(s, dir),
      queryVecId = 0L, nCand = 64, k = 10)
  }

  /** Shared CTE prefix of the binary oracles: per-dimension bounds →
    * midpoint thresholds → packed lo/hi codes, all recomputed from the
    * raw embeddings (the same bounds CTEs as the SQ8 oracles; the pack
    * is the ascending-dim fold acc*2+bit, each half < 2^32).
    */
  private[queries] val bqCodesCte =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |bounds AS (
      |  SELECT ix.i AS dim, min(e[ix.i]) AS mn, max(e[ix.i]) AS mx
      |  FROM ev, (SELECT unnest(range(1, (SELECT nd + 1 FROM d))) AS i) ix
      |  GROUP BY ix.i),
      |thr AS (SELECT list((mn + mx) / 2 ORDER BY dim) AS thrl FROM bounds),
      |codes AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, (SELECT nd FROM d) // 2 + 1), i ->
      |        CASE WHEN e[i] > thrl[i] THEN 1 ELSE 0 END)),
      |      (a, b) -> a * 2 + b) AS lo,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range((SELECT nd FROM d) // 2 + 1,
      |                           (SELECT nd FROM d) + 1), i ->
      |        CASE WHEN e[i] > thrl[i] THEN 1 ELSE 0 END)),
      |      (a, b) -> a * 2 + b) AS hi
      |  FROM ev, thr)""".stripMargin

  /** DuckDB twin of the binary pipeline: thresholds/pack CTEs above,
    * Hamming candidate cut at 64 (ties to the lower vec_id), exact
    * ascending-fold cosine rerank — rankings match Spark's
    * integer-for-integer and fold-for-fold.
    */
  private val simBinaryTopkSql = bqCodesCte +
    """,
      |qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
      |q AS (SELECT e AS qe FROM ev WHERE vec_id = 0),
      |cand AS (
      |  SELECT vec_id,
      |    CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS BIGINT)
      |      AS hamming
      |  FROM codes, qc WHERE vec_id <> 0
      |  ORDER BY hamming, vec_id LIMIT 64),
      |scored AS (
      |  SELECT c.vec_id, c.hamming,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |      (a, v) -> a + v) /
      |    (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(qe, x -> x * x)), (a, v) -> a + v)) *
      |     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(e, x -> x * x)), (a, v) -> a + v))) AS cosine
      |  FROM cand c JOIN ev USING (vec_id) CROSS JOIN q)
      |SELECT vec_id, hamming, round(cosine, 6) AS bq_cosine_6dp
      |FROM scored ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Binary-quantization recall certification (the `sim_sq8_recall`
    * precedent): per query vector (vec_id < 8), top-10 overlap between
    * the two-stage binary pipeline (Hamming-64 retrieve → exact
    * rerank) and global exact brute force over the corpus
    * (vec_id ≥ 8) — so the number measures exactly what the 1-bit cut
    * loses: true neighbors whose Hamming distance fell outside the
    * 64-candidate budget. Hash-checked at the gate like every ANN
    * family's recall row.
    */
  private def simBinaryRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    uniformDims(s, dir, "binary quantization", 2)
    val thr = binaryThresholds(s, dir)
    val qcodes = querySample(s, dir).map { case (qid, qv, _) =>
      val (lo, hi) = Similarity.binaryCode(qv, thr)
      (qid, lo, hi)
    }.toDF("qid", "qlo", "qhi")
    val cand = Similarity.topKPerQuery(binaryIndex(s, dir)
      .filter(col("vec_id") >= 8)
      .crossJoin(broadcast(qcodes))
      .select(col("qid"), col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi"))))
          .cast(LongType).as("hamming")),
      64, col("hamming").asc)
    val approx = Similarity.refineScores(cand, embVectors(s, dir),
      recallQueries(s, dir), Similarity.CosineMetric)
    recallAt10(s, dir, approx, Similarity.CosineMetric)
  }

  /** DuckDB twin: the binary pack CTEs, per-qid Hamming-64 windows,
    * exact rerank and the overlap count — hit counts integer-exact.
    */
  private val simBinaryRecallSql = bqCodesCte +
    """,
      |q AS (SELECT vec_id AS qid, e AS qe,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(e, x -> x * x)), (a, v) -> a + v) AS qn2
      |  FROM ev WHERE vec_id < 8),
      |qc AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi
      |  FROM codes WHERE vec_id < 8),
      |cand AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qc.qid, c.vec_id,
      |      row_number() OVER (PARTITION BY qc.qid ORDER BY
      |        bit_count(xor(c.lo, qc.qlo)) + bit_count(xor(c.hi, qc.qhi)),
      |        c.vec_id) AS rn
      |    FROM codes c CROSS JOIN qc WHERE c.vec_id >= 8) t
      |  WHERE rn <= 64),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, c.vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |          (a, v) -> a + v) /
      |        (sqrt(qn2) *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(e, x -> x * x)), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM (SELECT vec_id, e FROM ev WHERE vec_id >= 8) c CROSS JOIN q) t
      |  WHERE rn <= 10),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, c.vec_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |          (a, v) -> a + v) /
      |        (sqrt(qn2) *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(e, x -> x * x)), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM cand JOIN ev c USING (vec_id) JOIN q ON cand.qid = q.qid) t
      |  WHERE rn <= 10),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT q.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |  (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // 10 AS recall_ppm
      |FROM q LEFT JOIN h ON q.qid = h.qid""".stripMargin

  // ------------------------------------------------ matryoshka prefix ANN

  /** The matryoshka prefix index: the first d/4 dimensions as their
    * own stored column — stage-1 scans read a quarter of the float
    * bytes (shared by `sim_matryoshka_topk` and its recall row).
    */
  private def prefixIndex(s: SparkSession, dir: String, dPrefix: Int): DataFrame =
    annIndex(s, "mrlprefix", dir) {
      Similarity.encodePrefix(embVectors(s, dir), dPrefix)
    }

  /** Matryoshka retrieve-and-refine (Kusupati et al. 2022 MRL;
    * OpenAI text-embedding-3 "dimensions" practice): stage 1 ranks the
    * persisted d/4-prefix index by 16-dim cosine — a quarter of the
    * scan bytes and the dot-product flops — keeps 64 candidates, and
    * stage 2 re-scores only those with exact full-dimension cosine.
    * Output carries both scores (what the index saw, what the user
    * gets). The oracle recomputes truncation → both rankings from the
    * raw table with identical ascending IEEE folds.
    */
  private def simMatryoshkaTopk(s: SparkSession, dir: String): DataFrame = {
    val dPrefix = uniformDims(s, dir, "matryoshka prefix", 4) / 4
    Similarity.matryoshkaTopK(prefixIndex(s, dir, dPrefix), embVectors(s, dir),
      queryVector(s, dir), dPrefix, queryVecId = 0L, nCand = 64, k = 10)
  }

  /** DuckDB twin: prefix truncation in SQL, the prefix-cosine
    * candidate cut at 64, the exact rerank — every fold ascending
    * IEEE over identical doubles.
    */
  private val simMatryoshkaTopkSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |q AS (SELECT e AS qe FROM ev WHERE vec_id = 0),
      |cand AS (
      |  SELECT vec_id, pcos FROM (
      |    SELECT vec_id,
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, (SELECT nd FROM d) // 4 + 1),
      |            i -> qe[i] * e[i])), (a, v) -> a + v) /
      |      (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, (SELECT nd FROM d) // 4 + 1),
      |            i -> qe[i] * qe[i])), (a, v) -> a + v)) *
      |       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, (SELECT nd FROM d) // 4 + 1),
      |            i -> e[i] * e[i])), (a, v) -> a + v))) AS pcos
      |    FROM ev CROSS JOIN q WHERE vec_id <> 0) t
      |  ORDER BY pcos DESC, vec_id LIMIT 64),
      |scored AS (
      |  SELECT c.vec_id, c.pcos,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |      (a, v) -> a + v) /
      |    (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(qe, x -> x * x)), (a, v) -> a + v)) *
      |     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(e, x -> x * x)), (a, v) -> a + v))) AS cosine
      |  FROM cand c JOIN ev USING (vec_id) CROSS JOIN q)
      |SELECT vec_id, round(pcos, 6) AS prefix_cosine_6dp,
      |  round(cosine, 6) AS mrl_cosine_6dp
      |FROM scored ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Matryoshka recall certification: per query vector (vec_id < 8),
    * top-10 overlap between the two-stage prefix pipeline
    * (16-dim-cosine-64 retrieve → exact rerank) and global exact brute
    * force (vec_id ≥ 8) — measuring exactly what the dimension
    * truncation loses at the candidate cut.
    */
  private def simMatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val dPrefix = uniformDims(s, dir, "matryoshka prefix", 4) / 4
    val q = recallQueries(s, dir)
    val qp = q.select(col("qid"), slice(col("qe"), 1, dPrefix).as("qp"))
    val cand = Similarity.topKPerQuery(prefixIndex(s, dir, dPrefix)
      .filter(col("vec_id") >= 8)
      .crossJoin(broadcast(qp))
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qp"), col("ep")).as("pcos")),
      64, col("pcos").desc)
    val approx = Similarity.refineScores(cand, embVectors(s, dir), q,
      Similarity.CosineMetric)
    recallAt10(s, dir, approx, Similarity.CosineMetric)
  }

  /** DuckDB twin: per-qid prefix-cosine-64 windows over the truncated
    * lists, exact rerank, overlap count — integer-exact hit counts.
    */
  private val simMatryoshkaRecallSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |q AS (SELECT vec_id AS qid, e AS qe,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(e, x -> x * x)), (a, v) -> a + v) AS qn2,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(range(1, (SELECT nd FROM d) // 4 + 1),
      |      i -> e[i] * e[i])), (a, v) -> a + v) AS qpn2
      |  FROM ev WHERE vec_id < 8),
      |cand AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, c.vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, (SELECT nd FROM d) // 4 + 1),
      |            i -> qe[i] * e[i])), (a, v) -> a + v) /
      |        (sqrt(qpn2) *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(range(1, (SELECT nd FROM d) // 4 + 1),
      |             i -> e[i] * e[i])), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM (SELECT vec_id, e FROM ev WHERE vec_id >= 8) c CROSS JOIN q) t
      |  WHERE rn <= 64),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, c.vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |          (a, v) -> a + v) /
      |        (sqrt(qn2) *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(e, x -> x * x)), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM (SELECT vec_id, e FROM ev WHERE vec_id >= 8) c CROSS JOIN q) t
      |  WHERE rn <= 10),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, c.vec_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |          (a, v) -> a + v) /
      |        (sqrt(qn2) *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(e, x -> x * x)), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM cand JOIN ev c USING (vec_id) JOIN q ON cand.qid = q.qid) t
      |  WHERE rn <= 10),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT q.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |  (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // 10 AS recall_ppm
      |FROM q LEFT JOIN h ON q.qid = h.qid""".stripMargin

  /** The persisted IVF,SQ8 composed index (cell-partitioned byte
    * codes): built once per (JVM, dataset) — one Project over the scan
    * computes the cell argmax AND the quantizer — and written
    * `partitionBy(cell_id)`, so a probe's cell filter is a
    * PartitionFilter that skips index FILES, not rows (shared by
    * `sim_ivfsq8_topk` and its recall certification).
    */
  private def ivfSq8Index(s: SparkSession, dir: String): DataFrame =
    annIndex(s, "ivfsq8", dir, partitionBy = Some("cell_id")) {
      val (mn, mx) = sq8Bounds(s, dir)
      Similarity.encodeIvfSq8(
        embVectors(s, dir).select(col("vec_id"), col("e").as("embedding")),
        ivfCentroids(s, dir), mn, mx)
    }

  /** IVF,SQ8 composed ANN (FAISS `IVF8,SQ8` practice): the coarse
    * quantizer prunes to nProbe = 2 of 8 cells — driver-side over the
    * bounded centroid set, so the cell list is LITERAL and the scan is
    * partition-pruned at planning time — and the fine ranking
    * dequantizes the surviving byte codes for asymmetric cosine. The
    * multiplicative 100 TB pair: nProbe/nCells of the IO × 4×
    * compression on what remains, with the same no-join no-shuffle
    * Project → TakeOrdered plan as `sim_sq8_topk`. Fully oracled: the
    * DuckDB twin recomputes centroid pick → assignment → probe →
    * bounds → quantize → dequantize → ranking from the raw table in
    * identical IEEE arithmetic, so the green row proves the PERSISTED
    * partitioned index end-to-end.
    */
  private def simIvfSq8Topk(s: SparkSession, dir: String): DataFrame =
    ivfSq8Probe(s, dir, k = 10)
      .select(col("vec_id"), round(col("cosine"), 6).as("ivfsq8_cosine_6dp"))

  /** The single-query IVF,SQ8 top-k (vec_id 0, nProbe = 2 of 8). */
  private def ivfSq8Probe(s: SparkSession, dir: String, k: Int): DataFrame = {
    uniformDims(s, dir, "SQ8")
    val (mn, mx) = sq8Bounds(s, dir)
    val q0 = queryVector(s, dir)
    val probed = Similarity.probeCellIds(q0, ivfCentroids(s, dir), nProbe = 2)
    Similarity.ivfSq8TopK(ivfSq8Index(s, dir), q0, mn, mx, probed,
      queryVecId = 0L, k = k)
  }

  /** The recall rows' per-query probes: (qid, cell_id, qe) for the
    * nProbe = 2 nearest cells of each sample query.
    */
  private def recallProbes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cRows = ivfCentroids(s, dir)
    querySample(s, dir).flatMap { case (qid, qv, _) =>
      Similarity.probeCellIds(qv, cRows, nProbe = 2).map(c => (qid, c, qv))
    }.toDF("qid", "cell_id", "qe")
  }

  /** Recall certification for the plain IVF index (completing the ANN
    * self-certification matrix: SRP-LSH r10, SQ8 r18, IVF,SQ8 r19 —
    * this row covers the remaining un-quantized coarse index): per
    * query vector (vec_id < 8), top-10 overlap between the
    * nProbe = 2-of-8 cell-restricted exact-cosine ranking (the
    * `sim_ivf_topk` parameterization) and global exact brute force —
    * so the number measures PURE probe loss, the quantity the k ∝ N
    * cell-training contract exists to control. Same plan shape as the
    * composed row: per-query probes ship as a 16-row broadcast
    * literal, no corpus self-join.
    */
  private def simIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val approx = Similarity
      .assignCells(embVectors(s, dir).select(col("vec_id"), col("e").as("embedding")),
        ivfCentroids(s, dir))
      .filter(col("vec_id") >= 8)
      .join(broadcast(recallProbes(s, dir)), Seq("cell_id"))
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qe"), col("e")).as("score"))
    recallAt10(s, dir, approx, Similarity.CosineMetric)
  }

  /** DuckDB twin: the `sim_ivfsq8_recall` CTEs with the quantize /
    * dequantize stage removed — candidates score from raw vectors.
    */
  private val simIvfRecallSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 8),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unitc AS (
      |  SELECT cell_id, centroid,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(centroid, x -> x * x)), (acc, v) -> acc + v)) AS n
      |  FROM cents),
      |unit AS (
      |  SELECT cell_id,
      |    list_transform(centroid,
      |      x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / n END) AS cu
      |  FROM unitc),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id
      |  FROM (
      |    SELECT vec_id, e,
      |      list_transform(cus, cu ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> e[i] * cu[i])),
      |          (acc, v) -> acc + v)) AS sims
      |    FROM ev CROSS JOIN cl)),
      |q AS (SELECT vec_id AS qid, e AS qe,
      |  sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(e, x -> x * x)), (a, v) -> a + v)) AS qn
      |  FROM ev WHERE vec_id < 8),
      |probe AS (
      |  SELECT qid, cell_id FROM (
      |    SELECT qid, cell_id,
      |      row_number() OVER (PARTITION BY qid
      |        ORDER BY sim DESC, cell_id) AS rn
      |    FROM (
      |      SELECT q.qid, c.cell_id,
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(c.centroid) + 1),
      |            i -> c.centroid[i] * q.qe[i])), (acc, v) -> acc + v) /
      |        (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(c.centroid, x -> x * x)), (acc, v) -> acc + v))
      |         * q.qn) AS sim
      |      FROM cents c CROSS JOIN q)) t WHERE rn <= 2),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, c.vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |          (a, v) -> a + v) /
      |        (qn *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(e, x -> x * x)), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM (SELECT vec_id, e FROM ev WHERE vec_id >= 8) c
      |    CROSS JOIN q) t WHERE rn <= 10),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT p.qid, a.vec_id,
      |      row_number() OVER (PARTITION BY p.qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(a.e) + 1), i -> qe[i] * a.e[i])),
      |          (acc2, v) -> acc2 + v) /
      |        (qn *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(a.e, x -> x * x)), (acc2, v) -> acc2 + v)))
      |        DESC, a.vec_id) AS rn
      |    FROM assigned a JOIN probe p USING (cell_id)
      |    JOIN q ON p.qid = q.qid
      |    WHERE a.vec_id >= 8) t WHERE rn <= 10),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT q.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |  (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // 10 AS recall_ppm
      |FROM q LEFT JOIN h ON q.qid = h.qid""".stripMargin

  /** Recall certification for the COMPOSED index (the `sim_lsh_recall`
    * / `sim_sq8_recall` precedent): per query vector (vec_id < 8),
    * top-10 overlap between the partition-pruned IVF,SQ8 ranking and
    * exact brute force over the raw corpus — so probe loss (did the
    * 2-of-8 coarse quantizer keep the true neighbors' cells?) and
    * quantization loss are measured TOGETHER, per query, hash-checked
    * at the gate. Each query probes its own cells; the (qid, cell,
    * query-vector) fanout ships as a 16-row broadcast literal against
    * the persisted index — no corpus self-join, no shuffle wider than
    * the 8-query window.
    */
  private def simIvfSq8Recall(s: SparkSession, dir: String): DataFrame = {
    uniformDims(s, dir, "SQ8")
    val (mn, mx) = sq8Bounds(s, dir)
    val approx = ivfSq8Index(s, dir)
      .filter(col("vec_id") >= 8)
      .join(broadcast(recallProbes(s, dir)), Seq("cell_id"))
      .withColumn("xhat", Similarity.sq8Dequantize(mn, mx))
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qe"), col("xhat")).as("score"))
    recallAt10(s, dir, approx, Similarity.CosineMetric)
  }

  /** DuckDB twin of the composed pipeline: the `sim_ivf_topk` centroid
    * pick / assignment / probe CTEs (probe now per-query via a
    * windowed rank) chained into the `sim_sq8_topk` bounds / quantize
    * / dequantize CTEs — every fold ascending IEEE, so rankings match
    * and hit counts are integer-exact.
    */
  private val simIvfSq8RecallSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 8),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unitc AS (
      |  SELECT cell_id, centroid,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(centroid, x -> x * x)), (acc, v) -> acc + v)) AS n
      |  FROM cents),
      |unit AS (
      |  SELECT cell_id,
      |    list_transform(centroid,
      |      x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / n END) AS cu
      |  FROM unitc),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id
      |  FROM (
      |    SELECT vec_id, e,
      |      list_transform(cus, cu ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> e[i] * cu[i])),
      |          (acc, v) -> acc + v)) AS sims
      |    FROM ev CROSS JOIN cl)),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |bounds AS (
      |  SELECT ix.i AS dim, min(e[ix.i]) AS mn, max(e[ix.i]) AS mx
      |  FROM ev, (SELECT unnest(range(1, (SELECT nd + 1 FROM d))) AS i) ix
      |  GROUP BY ix.i),
      |mnl AS (SELECT list(mn ORDER BY dim) AS mnl,
      |               list(mx - mn ORDER BY dim) AS scl FROM bounds),
      |q AS (SELECT vec_id AS qid, e AS qe,
      |  sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(e, x -> x * x)), (a, v) -> a + v)) AS qn
      |  FROM ev WHERE vec_id < 8),
      |probe AS (
      |  SELECT qid, cell_id FROM (
      |    SELECT qid, cell_id,
      |      row_number() OVER (PARTITION BY qid
      |        ORDER BY sim DESC, cell_id) AS rn
      |    FROM (
      |      SELECT q.qid, c.cell_id,
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(c.centroid) + 1),
      |            i -> c.centroid[i] * q.qe[i])), (acc, v) -> acc + v) /
      |        (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(c.centroid, x -> x * x)), (acc, v) -> acc + v))
      |         * q.qn) AS sim
      |      FROM cents c CROSS JOIN q)) t WHERE rn <= 2),
      |cand AS (
      |  SELECT p.qid, a.vec_id, a.e
      |  FROM assigned a JOIN probe p USING (cell_id)
      |  WHERE a.vec_id >= 8),
      |xh AS (
      |  SELECT qid, vec_id,
      |    list_transform(range(1, len(e) + 1), i ->
      |      CASE WHEN scl[i] = 0 THEN mnl[i]
      |      ELSE mnl[i] +
      |        (CAST(floor((e[i] - mnl[i]) / scl[i] * 255 + 0.5) - 128
      |          AS DOUBLE) + 128) / 255 * scl[i] END) AS xhat
      |  FROM cand, mnl),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, c.vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |          (a, v) -> a + v) /
      |        (qn *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(e, x -> x * x)), (a, v) -> a + v)))
      |        DESC, c.vec_id) AS rn
      |    FROM (SELECT vec_id, e FROM ev WHERE vec_id >= 8) c
      |    CROSS JOIN q) t WHERE rn <= 10),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT x.qid, x.vec_id,
      |      row_number() OVER (PARTITION BY x.qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(xhat) + 1), i -> qe[i] * xhat[i])),
      |          (a, v) -> a + v) /
      |        (qn *
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(xhat, x -> x * x)), (a, v) -> a + v)))
      |        DESC, x.vec_id) AS rn
      |    FROM xh x JOIN q ON x.qid = q.qid) t WHERE rn <= 10),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT q.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |  (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // 10 AS recall_ppm
      |FROM q LEFT JOIN h ON q.qid = h.qid""".stripMargin

  /** Two-stage retrieve-and-refine over the composed index (FAISS
    * `IndexRefine` practice): stage 1 ranks the partition-pruned byte
    * codes by asymmetric cosine and keeps 50 candidates (5× the final
    * k — the standard refine multiplier); stage 2 re-scores ONLY those
    * 50 from the raw vectors at full precision and returns the exact
    * top-10. This is the production ANN stack: the quantized index
    * bounds the candidate set cheaply, the refine pass erases
    * quantization error from the final ranking — recall limited only
    * by stage-1 candidate recall, while raw-vector IO drops from
    * |corpus| to k'. Plan: pruned byte scan → TakeOrdered(50) →
    * broadcast join against the raw scan (the id-keyed refine read,
    * [[Similarity.refineTopK]]) → exact cosine → TakeOrdered(10); the
    * only join is against a 50-row broadcast.
    */
  private def simIvfSq8Rerank(s: SparkSession, dir: String): DataFrame =
    Similarity.refineTopK(ivfSq8Probe(s, dir, k = 50).select(col("vec_id")),
      embVectors(s, dir), queryVector(s, dir), k = 10)
      .select(col("vec_id"), round(col("cosine"), 6).as("rerank_cosine_6dp"))

  /** DuckDB twin: the `sim_ivfsq8_topk` CTEs with the scored stage
    * LIMIT 50 (identical quantized ordering, so the candidate SET
    * matches), then the exact-cosine refine over the raw vectors with
    * the same ascending folds as the brute-force family.
    */
  private val simIvfSq8RerankSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 8),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unitc AS (
      |  SELECT cell_id, centroid,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(centroid, x -> x * x)), (acc, v) -> acc + v)) AS n
      |  FROM cents),
      |unit AS (
      |  SELECT cell_id,
      |    list_transform(centroid,
      |      x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / n END) AS cu
      |  FROM unitc),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id
      |  FROM (
      |    SELECT vec_id, e,
      |      list_transform(cus, cu ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> e[i] * cu[i])),
      |          (acc, v) -> acc + v)) AS sims
      |    FROM ev CROSS JOIN cl)),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |bounds AS (
      |  SELECT ix.i AS dim, min(e[ix.i]) AS mn, max(e[ix.i]) AS mx
      |  FROM ev, (SELECT unnest(range(1, (SELECT nd + 1 FROM d))) AS i) ix
      |  GROUP BY ix.i),
      |mnl AS (SELECT list(mn ORDER BY dim) AS mnl,
      |               list(mx - mn ORDER BY dim) AS scl FROM bounds),
      |q AS (
      |  SELECT e AS qe,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS qn
      |  FROM ev WHERE vec_id = 0),
      |probe AS (
      |  SELECT cell_id FROM (
      |    SELECT c.cell_id,
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(c.centroid) + 1),
      |          i -> c.centroid[i] * q.qe[i])), (acc, v) -> acc + v) /
      |      (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(c.centroid, x -> x * x)), (acc, v) -> acc + v))
      |       * q.qn) AS sim
      |    FROM cents c CROSS JOIN q)
      |  ORDER BY sim DESC, cell_id LIMIT 2),
      |cand AS (
      |  SELECT a.vec_id, a.e
      |  FROM assigned a JOIN probe USING (cell_id)
      |  WHERE a.vec_id <> 0),
      |xh AS (
      |  SELECT vec_id,
      |    list_transform(range(1, len(e) + 1), i ->
      |      CASE WHEN scl[i] = 0 THEN mnl[i]
      |      ELSE mnl[i] +
      |        (CAST(floor((e[i] - mnl[i]) / scl[i] * 255 + 0.5) - 128
      |          AS DOUBLE) + 128) / 255 * scl[i] END) AS xhat
      |  FROM cand, mnl),
      |stage1 AS (
      |  SELECT vec_id FROM (
      |    SELECT vec_id,
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(xhat) + 1), i -> qe[i] * xhat[i])),
      |        (a, v) -> a + v) /
      |      (qn *
      |       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(xhat, x -> x * x)), (a, v) -> a + v))) AS qcos
      |    FROM xh, q
      |    ORDER BY qcos DESC, vec_id LIMIT 50)),
      |refined AS (
      |  SELECT ev.vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])),
      |      (a, v) -> a + v) /
      |    (qn *
      |     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(e, x -> x * x)), (a, v) -> a + v))) AS cosine
      |  FROM ev JOIN stage1 USING (vec_id) CROSS JOIN q)
      |SELECT vec_id, round(cosine, 6) AS rerank_cosine_6dp
      |FROM refined ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  private val simIvfSq8TopkSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 8),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unitc AS (
      |  SELECT cell_id, centroid,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(centroid, x -> x * x)), (acc, v) -> acc + v)) AS n
      |  FROM cents),
      |unit AS (
      |  SELECT cell_id,
      |    list_transform(centroid,
      |      x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / n END) AS cu
      |  FROM unitc),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id
      |  FROM (
      |    SELECT vec_id, e,
      |      list_transform(cus, cu ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> e[i] * cu[i])),
      |          (acc, v) -> acc + v)) AS sims
      |    FROM ev CROSS JOIN cl)),
      |d AS (SELECT CAST(min(len(e)) AS BIGINT) AS nd FROM ev),
      |bounds AS (
      |  SELECT ix.i AS dim, min(e[ix.i]) AS mn, max(e[ix.i]) AS mx
      |  FROM ev, (SELECT unnest(range(1, (SELECT nd + 1 FROM d))) AS i) ix
      |  GROUP BY ix.i),
      |mnl AS (SELECT list(mn ORDER BY dim) AS mnl,
      |               list(mx - mn ORDER BY dim) AS scl FROM bounds),
      |q AS (
      |  SELECT e AS qe,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS qn
      |  FROM ev WHERE vec_id = 0),
      |probe AS (
      |  SELECT cell_id FROM (
      |    SELECT c.cell_id,
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(c.centroid) + 1),
      |          i -> c.centroid[i] * q.qe[i])), (acc, v) -> acc + v) /
      |      (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(c.centroid, x -> x * x)), (acc, v) -> acc + v))
      |       * q.qn) AS sim
      |    FROM cents c CROSS JOIN q)
      |  ORDER BY sim DESC, cell_id LIMIT 2),
      |cand AS (
      |  SELECT a.vec_id, a.e
      |  FROM assigned a JOIN probe USING (cell_id)
      |  WHERE a.vec_id <> 0),
      |xh AS (
      |  SELECT vec_id,
      |    list_transform(range(1, len(e) + 1), i ->
      |      CASE WHEN scl[i] = 0 THEN mnl[i]
      |      ELSE mnl[i] +
      |        (CAST(floor((e[i] - mnl[i]) / scl[i] * 255 + 0.5) - 128
      |          AS DOUBLE) + 128) / 255 * scl[i] END) AS xhat
      |  FROM cand, mnl),
      |scored AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(xhat) + 1), i -> qe[i] * xhat[i])),
      |      (a, v) -> a + v) /
      |    (qn *
      |     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(xhat, x -> x * x)), (a, v) -> a + v))) AS cosine
      |  FROM xh, q)
      |SELECT vec_id, round(cosine, 6) AS ivfsq8_cosine_6dp
      |FROM scored ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** IVF-PQ-style product quantization (FAISS practice, public
    * algorithm): 8 subspaces × 16 codewords from the deterministic
    * Lehmer exemplar pick, map-side encode (8 small ints replace the
    * 64-float vector — the 32× memory lever that keeps ANN candidate
    * state in executor memory at 100 TB), then ADC top-k: the query at
    * full precision, every corpus row scored from codes alone. Fully
    * oracled — every fold, argmin tie, and subspace-sum order is
    * mirrored bit-exact in the DuckDB twin (see pqTopK scaladoc).
    */
  private def simIvfpqTopk(s: SparkSession, dir: String): DataFrame = {
    val dsub = uniformDims(s, dir, "PQ", PqM) / PqM
    // the ADC table is a bounded query-side dimension (M×K Scala
    // folds), cached like the codebooks
    val table = graft.DimCache.cached(s"pq-adc:$dir:$PqM:$PqK:0") {
      Similarity.adcTable(queryVector(s, dir), pqCodebooks(s, dir), dsub)
    }
    // the oracle recomputes codes from the RAW embeddings, so the green
    // row also proves the stored index faithful
    Similarity.pqTopK(pqIndex(s, dir), table, queryVecId = 0L, k = 10)
  }

  /** ADC distances of every corpus vector (vec_id ≥ 8) to each sample
    * query from the PQ index alone → (qid, vec_id, score): per-qid ADC
    * tables flattened m-major (index m·K + c), the same driver-side
    * IEEE folds adcTable always runs, shipped as one broadcast 8-row
    * frame.
    */
  private def pqRecallAdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // d = 64 exactly (not just divisible by M): the DuckDB twins
    // hardcode dsub = 8 (range(1, 9), e[m*8+j]), so any other
    // M-divisible dim would pass a looser guard yet silently diverge
    // from the oracle
    val dims = uniformDims(s, dir, "PQ recall", PqM)
    require(dims == 64, s"PQ recall twins assume d = 64 (dsub = 8 literal in SQL), got $dims")
    val cb = pqCodebooks(s, dir)
    val qtbl = querySample(s, dir).map { case (qid, qv, _) =>
      (qid, Similarity.adcTable(qv, cb, dims / PqM).flatten)
    }.toDF("qid", "tbl")
    val adc = (0 until PqM)
      .map(m => element_at(col("tbl"), col(s"c$m") + lit(m * PqK) + 1))
      .reduce(_ + _)
    pqIndex(s, dir)
      .filter(col("vec_id") >= 8)
      .crossJoin(broadcast(qtbl))
      .select(col("qid"), col("vec_id"), adc.as("score"))
  }

  /** PQ/ADC recall certification — the LAST un-certified tier of the
    * ANN matrix (SRP-LSH r10, SQ8 / IVF / IVF,SQ8 / binary /
    * matryoshka since): per query vector (vec_id < 8), top-10 overlap
    * between the ADC ranking over the PERSISTED 8-byte codes and exact
    * squared-L2 brute force over the raw corpus (vec_id ≥ 8). The
    * truth metric is L2 — the metric ADC approximates — so the number
    * measures PURE quantization loss, not an L2-vs-cosine metric
    * mismatch. Per-query ADC tables are bounded driver dimensions
    * (8 × M·K doubles, the adcTable convention) shipped as one
    * broadcast 8-row frame; no corpus self-join, the usual 8-query
    * window fanout.
    */
  private def simPqRecall(s: SparkSession, dir: String): DataFrame =
    recallAt10(s, dir, pqRecallAdc(s, dir), Similarity.L2Metric)

  /** PQ retrieve-and-refine recall — the quantitative answer to
    * `sim_pq_recall`'s 0.30: the SAME persisted 8-byte codes retrieve
    * 50 candidates by ADC (5× final k, the `sim_ivfsq8_rerank`
    * budget), then exact squared-L2 re-scores only those 50 from the
    * raw vectors. The overlap vs global exact top-10 measures what
    * the refine stage RECOVERS — together the two rows give an
    * operator the full tradeoff: raw ADC recall at 32× compression,
    * and refined recall at 32× + 50 raw-vector reads per query.
    */
  private def simPqRerankRecall(s: SparkSession, dir: String): DataFrame = {
    val cand = Similarity.topKPerQuery(pqRecallAdc(s, dir), 50, col("score").asc)
    val approx = Similarity.refineScores(cand, embVectors(s, dir),
      recallQueries(s, dir), Similarity.L2Metric)
    recallAt10(s, dir, approx, Similarity.L2Metric)
  }

  /** DuckDB twin: the `sim_pq_recall` CTEs with an ADC-50 candidate
    * window inserted before the exact-L2 rerank window.
    */
  private val simPqRerankRecallSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 16),
      |cw AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS k, e FROM picked),
      |ms AS (SELECT unnest(range(0, 8)) AS m),
      |dists AS (
      |  SELECT v.vec_id, ms.m, c.k,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, 9), j ->
      |        (v.e[ms.m * 8 + j] - c.e[ms.m * 8 + j])
      |          * (v.e[ms.m * 8 + j] - c.e[ms.m * 8 + j]))),
      |      (acc, x) -> acc + x) AS d
      |  FROM ev v CROSS JOIN cw c CROSS JOIN ms),
      |codes AS (
      |  SELECT vec_id, m, k FROM dists
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1),
      |qv AS (SELECT vec_id AS qid, e AS qe FROM ev WHERE vec_id < 8),
      |terms AS (
      |  SELECT q.qid, co.vec_id, co.m,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, 9), j ->
      |        (q.qe[co.m * 8 + j] - c.e[co.m * 8 + j])
      |          * (q.qe[co.m * 8 + j] - c.e[co.m * 8 + j]))),
      |      (acc, x) -> acc + x) AS t
      |  FROM codes co JOIN cw c ON c.k = co.k CROSS JOIN qv q
      |  WHERE co.vec_id >= 8),
      |adc AS (
      |  SELECT qid, vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY m)),
      |      (acc, x) -> acc + x) AS a
      |  FROM terms GROUP BY qid, vec_id),
      |cand AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY a, vec_id) AS rn
      |    FROM adc) t WHERE rn <= 50),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT cand.qid, c.vec_id,
      |      row_number() OVER (PARTITION BY cand.qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), j ->
      |            (qe[j] - e[j]) * (qe[j] - e[j]))),
      |          (acc, x) -> acc + x), c.vec_id) AS rn
      |    FROM cand JOIN ev c USING (vec_id)
      |      JOIN qv q ON cand.qid = q.qid) t
      |  WHERE rn <= 10),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, c.vec_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), j ->
      |            (qe[j] - e[j]) * (qe[j] - e[j]))),
      |          (acc, x) -> acc + x), c.vec_id) AS rn
      |    FROM (SELECT vec_id, e FROM ev WHERE vec_id >= 8) c
      |      CROSS JOIN qv q) t
      |  WHERE rn <= 10),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT qv.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |  (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // 10 AS recall_ppm
      |FROM qv LEFT JOIN h ON qv.qid = h.qid""".stripMargin

  /** DuckDB twin: the PQ codebook/encode CTEs of `sim_ivfpq_topk`,
    * per-qid ADC terms (codes ⋈ codewords ⨯ the 8 queries) folded in
    * subspace order, exact squared-L2 truth with the identical
    * ascending folds — hit counts integer-exact.
    */
  private val simPqRecallSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 16),
      |cw AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS k, e FROM picked),
      |ms AS (SELECT unnest(range(0, 8)) AS m),
      |dists AS (
      |  SELECT v.vec_id, ms.m, c.k,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, 9), j ->
      |        (v.e[ms.m * 8 + j] - c.e[ms.m * 8 + j])
      |          * (v.e[ms.m * 8 + j] - c.e[ms.m * 8 + j]))),
      |      (acc, x) -> acc + x) AS d
      |  FROM ev v CROSS JOIN cw c CROSS JOIN ms),
      |codes AS (
      |  SELECT vec_id, m, k FROM dists
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1),
      |qv AS (SELECT vec_id AS qid, e AS qe FROM ev WHERE vec_id < 8),
      |terms AS (
      |  SELECT q.qid, co.vec_id, co.m,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, 9), j ->
      |        (q.qe[co.m * 8 + j] - c.e[co.m * 8 + j])
      |          * (q.qe[co.m * 8 + j] - c.e[co.m * 8 + j]))),
      |      (acc, x) -> acc + x) AS t
      |  FROM codes co JOIN cw c ON c.k = co.k CROSS JOIN qv q
      |  WHERE co.vec_id >= 8),
      |adc AS (
      |  SELECT qid, vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY m)),
      |      (acc, x) -> acc + x) AS a
      |  FROM terms GROUP BY qid, vec_id),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY a, vec_id) AS rn
      |    FROM adc) t WHERE rn <= 10),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, c.vec_id,
      |      row_number() OVER (PARTITION BY q.qid ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), j ->
      |            (qe[j] - e[j]) * (qe[j] - e[j]))),
      |          (acc, x) -> acc + x), c.vec_id) AS rn
      |    FROM (SELECT vec_id, e FROM ev WHERE vec_id >= 8) c
      |      CROSS JOIN qv q) t
      |  WHERE rn <= 10),
      |h AS (SELECT qid, count(*) AS nh
      |  FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid)
      |SELECT qv.qid, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
      |  (CAST(coalesce(nh, 0) AS BIGINT) * 1000000) // 10 AS recall_ppm
      |FROM qv LEFT JOIN h ON qv.qid = h.qid""".stripMargin

  /** DuckDB twin of the PQ pipeline: exemplar pick = the IVF centroid
    * CTE, per-(vector, subspace, codeword) distances via the same
    * ascending list_reduce fold, argmin tie to the lowest codeword
    * (ORDER BY d, k = array_position first-match), and the ADC sum
    * folded in subspace order (list(t ORDER BY m) — matches the fixed
    * left-to-right Spark reduce; 0.0 + t0 ≡ t0 in IEEE for the
    * non-negative distances here).
    */
  private val simIvfpqTopkSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 16),
      |cw AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS k, e FROM picked),
      |ms AS (SELECT unnest(range(0, 8)) AS m),
      |dists AS (
      |  SELECT v.vec_id, ms.m, c.k,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, 9), j ->
      |        (v.e[ms.m * 8 + j] - c.e[ms.m * 8 + j])
      |          * (v.e[ms.m * 8 + j] - c.e[ms.m * 8 + j]))),
      |      (acc, x) -> acc + x) AS d
      |  FROM ev v CROSS JOIN cw c CROSS JOIN ms),
      |codes AS (
      |  SELECT vec_id, m, k FROM dists
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1),
      |qv AS (SELECT e AS qe FROM ev WHERE vec_id = 0),
      |terms AS (
      |  SELECT co.vec_id, co.m,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, 9), j ->
      |        (q.qe[co.m * 8 + j] - c.e[co.m * 8 + j])
      |          * (q.qe[co.m * 8 + j] - c.e[co.m * 8 + j]))),
      |      (acc, x) -> acc + x) AS t
      |  FROM codes co JOIN cw c ON c.k = co.k CROSS JOIN qv q
      |  WHERE co.vec_id <> 0),
      |adc AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY m)),
      |      (acc, x) -> acc + x) AS a
      |  FROM terms GROUP BY vec_id)
      |SELECT vec_id, round(a, 6) AS adc_dist_6dp
      |FROM adc ORDER BY a, vec_id LIMIT 10""".stripMargin

  /** DuckDB twin of the whole IVF pipeline. Every dot product is the
    * same ascending-index fold DotF64 runs (one rounding per multiply,
    * one per add), the centroid unit-normalization mirrors the
    * driver-side Scala arithmetic op for op, and argmax ties resolve to
    * the first (lowest-cell) maximum in both engines
    * (array_position / list_position both return the first match).
    */
  private val simIvfTopkSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 8),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unitc AS (
      |  SELECT cell_id, centroid,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(centroid, x -> x * x)), (acc, v) -> acc + v)) AS n
      |  FROM cents),
      |unit AS (
      |  SELECT cell_id,
      |    list_transform(centroid,
      |      x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / n END) AS cu
      |  FROM unitc),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id
      |  FROM (
      |    SELECT vec_id, e,
      |      list_transform(cus, cu ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> e[i] * cu[i])),
      |          (acc, v) -> acc + v)) AS sims
      |    FROM ev CROSS JOIN cl)),
      |q AS (
      |  SELECT e AS qe,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS qn
      |  FROM ev WHERE vec_id = 0),
      |probe AS (
      |  SELECT cell_id FROM (
      |    SELECT c.cell_id,
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(c.centroid) + 1),
      |          i -> c.centroid[i] * q.qe[i])), (acc, v) -> acc + v) /
      |      (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(c.centroid, x -> x * x)), (acc, v) -> acc + v))
      |       * q.qn) AS sim
      |    FROM cents c CROSS JOIN q)
      |  ORDER BY sim DESC, cell_id LIMIT 2),
      |scored AS (
      |  SELECT a.vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(a.e) + 1), i -> a.e[i] * q.qe[i])),
      |      (acc, v) -> acc + v) /
      |    (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(a.e, x -> x * x)), (acc, v) -> acc + v)) * q.qn)
      |      AS cosine
      |  FROM assigned a JOIN probe USING (cell_id) CROSS JOIN q
      |  WHERE a.vec_id <> 0)
      |SELECT vec_id, round(cosine, 6) AS cosine_6dp
      |FROM scored ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  // -------------------------------------------------- k-means / knn / split

  /** One oracled Lloyd update step over the IVF centroid pick: assign
    * every vector map-side (cosine argmax vs the 8 unit-normalized
    * Lehmer-strided centroids — the exact `sim_ivf_topk` assignment),
    * then emit the per-(cell, dimension) member count and mean — the
    * new centroid table [[graft.operators.Similarity.kmeansStep]]
    * collects each iteration. Training quality directly sets IVF
    * probe recall at 100 TB; this row pins the update arithmetic
    * cross-engine (fixed-point component sums, one division, 6-dp
    * round) so the full iterative trainer is built from verified steps.
    *
    * Scale: Project over the scan + ONE exchange keyed (cell, dim)
    * carrying a single double — partial-aggregated, so each map
    * partition ships at most k×dim rows no matter the corpus size.
    */
  private def clusterKmeansStep(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.embDouble.as("embedding"))
    val cRows = ivfCentroids(s, dir)
    Similarity.assignCells(emb, cRows)
      .select(col("cell_id"), posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy(col("cell_id"), col("dim"))
      .agg(count(lit(1)).as("n"), graft.Agg.dsum(col("x"), 6).as("sx"))
      // floor-based 6-dp (not round): the quotient of a fixed-point sum
      // by an integer count lands on .5-in-decimal ties constantly, and
      // Spark/DuckDB round those differently; floor on the identical
      // double is tie-free
      .select(col("cell_id"), col("dim"), col("n"),
        (floor(col("sx") / col("n") * lit(1e6)) / lit(1e6)).as("c_new"))
  }

  /** DuckDB twin: the `sim_ivf_topk` centroid/assignment CTEs verbatim
    * (same folds, same argmax-first tie), then per-(cell, dim) count +
    * fixed-point mean via the lateral `unnest(range(...))` index walk.
    */
  private val clusterKmeansStepSql =
    s"""WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 8),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unitc AS (
      |  SELECT cell_id, centroid,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(centroid, x -> x * x)), (acc, v) -> acc + v)) AS n
      |  FROM cents),
      |unit AS (
      |  SELECT cell_id,
      |    list_transform(centroid,
      |      x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / n END) AS cu
      |  FROM unitc),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id
      |  FROM (
      |    SELECT vec_id, e,
      |      list_transform(cus, cu ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> e[i] * cu[i])),
      |          (acc, v) -> acc + v)) AS sims
      |    FROM ev CROSS JOIN cl))
      |SELECT CAST(cell_id AS INTEGER) AS cell_id,
      |  CAST(u.i - 1 AS INTEGER) AS dim, count(*) AS n,
      |  floor(${graft.Agg.dsumSql("a.e[u.i]", 6)} / count(*) * 1e6) / 1e6 AS c_new
      |FROM assigned a, unnest(range(1, len(a.e) + 1)) AS u(i)
      |GROUP BY cell_id, u.i""".stripMargin

  /** SemDeDup-style cluster-bounded semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-partition the embedding space, find
    * near-duplicate pairs ONLY within each cluster (cosine ≥ 0.35 —
    * data-relative for the near-orthogonal synthetic embeddings, same
    * rationale as `decontaminate_semantic`), and keep, of each dup
    * pair, the member FARTHER from its cluster centroid — the paper's
    * "keep outliers" policy (the retained corpus preserves diversity;
    * prototypical near-dups are the redundant mass). Per vector the
    * verdict is dominance-style and deterministic: dropped iff ANY
    * same-cell partner with cosine ≥ τ sits strictly farther from the
    * centroid — strictly LOWER centroid cosine — so the prototypical
    * member of the pair is the one dropped (ties on the
    * centroid-cosine broken by lower vec_id).
    *
    * vs `dedup_emb_cosine` (SRP-LSH banding): clustering pays ZERO
    * recall loss within a cell and bounds candidates by cluster
    * population instead of bucket occupancy. The 100 TB contract is
    * the paper's: k scales WITH the corpus (50k clusters over 5B
    * embeddings), so per-cell population — and therefore the per-cell
    * pairwise quadratic — stays constant while assignment stays a
    * map-side broadcast argmax (`assignCellsWithSim`, k centroids as
    * literals, no exchange). Here k = 8 over the gate corpus, the same
    * DimCache'd Lehmer-strided centroid set the whole IVF family
    * shares, so the oracle replays assignment bit-exactly. The
    * centroid-cosine rank rides the assignment's own argmax dot
    * (top_sim / ‖e‖) — zero extra passes.
    *
    * Determinism: every cosine is the ascending-index DotF64 fold both
    * engines compute bit-identically; the dominance comparison uses
    * the RAW doubles (identical bits both sides), and only the
    * centroid cosine is rounded for display.
    */
  private def dedupSemanticKeep(s: SparkSession, dir: String): DataFrame = {
    uniformDims(s, dir, "dedupSemanticKeep")
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.embDouble.as("embedding"))
    val cRows = ivfCentroids(s, dir)
    Similarity.semanticDedupKeep(emb, cRows, tau = 0.35)
  }

  /** DuckDB twin: the `cluster_kmeans_step` centroid/assignment CTEs
    * verbatim (same Lehmer pick, same unit-normalization, same
    * ascending folds), extended with the winning sim (`list_max`) and
    * the within-cell pair/dominance logic.
    */
  private val dedupSemanticKeepSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |picked AS (
      |  SELECT vec_id, e FROM ev
      |  ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 8),
      |cents AS (
      |  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell_id,
      |    e AS centroid
      |  FROM picked),
      |unitc AS (
      |  SELECT cell_id, centroid,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(centroid, x -> x * x)), (acc, v) -> acc + v)) AS n
      |  FROM cents),
      |unit AS (
      |  SELECT cell_id,
      |    list_transform(centroid,
      |      x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / n END) AS cu
      |  FROM unitc),
      |cl AS (SELECT list(cu ORDER BY cell_id) AS cus FROM unit),
      |assigned AS (
      |  SELECT vec_id, e, list_position(sims, list_max(sims)) - 1 AS cell_id,
      |    list_max(sims) AS top_sim
      |  FROM (
      |    SELECT vec_id, e,
      |      list_transform(cus, cu ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(1, len(e) + 1), i -> e[i] * cu[i])),
      |          (acc, v) -> acc + v)) AS sims
      |    FROM ev CROSS JOIN cl)),
      |m AS (
      |  SELECT vec_id, cell_id, e,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (acc, v) -> acc + v) AS n2,
      |    top_sim / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS cc
      |  FROM assigned),
      |near AS (
      |  SELECT a.vec_id AS id_a, a.cc AS ca, b.vec_id AS id_b, b.cc AS cb
      |  FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
      |  WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])),
      |      (acc, v) -> acc + v) / (sqrt(a.n2) * sqrt(b.n2)) >= 0.35),
      |v AS (
      |  SELECT id_a AS vec_id, count(*) AS n_near,
      |    max(CASE WHEN cb < ca OR (cb = ca AND id_b < id_a)
      |      THEN 1 ELSE 0 END) AS dropped
      |  FROM near GROUP BY id_a)
      |SELECT m.vec_id, CAST(m.cell_id AS INTEGER) AS cell_id,
      |  CAST(coalesce(v.n_near, 0) AS BIGINT) AS n_near,
      |  coalesce(v.dropped, 0) = 0 AS kept,
      |  round(m.cc, 6) AS centroid_cos_6dp
      |FROM m LEFT JOIN v USING (vec_id)""".stripMargin

  /** Semantic (embedding-space) decontamination — the vector-side
    * counterpart of `decontaminate_ngrams`: flag every corpus vector
    * whose max cosine against ANY benchmark-set embedding (label = 7
    * plays the held-out eval suite) reaches 0.35 — paraphrased eval
    * leakage that n-gram overlap can't see.
    *
    * Scale shape: a benchmark suite is a bounded dimension (thousands
    * of items, not corpus-sized), so the bench side rides a broadcast
    * nested-loop against the corpus scan, the per-pair dot/norm work is
    * map-side, and the per-vector max partial-aggregates BEFORE the
    * exchange — only n (vec_id, max) rows shuffle, never the n×m
    * pairs. When the benchmark outgrows a broadcast, the SRP-LSH
    * banding of `dedup_emb_cosine` is the documented escape hatch (same
    * family as Bloom decontamination vs the broadcast-semi-join exact
    * path). Determinism: every pair cosine is the same ascending IEEE
    * fold both engines compute (DotF64 = list_reduce), and only the
    * rounded MAX is output, so ties never surface.
    */
  private def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DotF64.dotf64
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), Similarity.embDouble.as("e"))
    val bench = emb.filter(col("label") === 7)
      .select(col("e").as("be"))
      .select(col("be"), sqrt(dotf64(col("be"), col("be"))).as("bn"))
    emb.filter(col("label") =!= 7)
      .select(col("vec_id"), col("e"), sqrt(dotf64(col("e"), col("e"))).as("en"))
      .crossJoin(broadcast(bench))
      .groupBy(col("vec_id"))
      .agg(max(dotf64(col("e"), col("be")) / (col("en") * col("bn"))).as("mc"))
      .select(col("vec_id"), round(col("mc"), 6).as("max_cos_6dp"),
        (round(col("mc"), 6) >= 0.35).as("contaminated"))
  }

  private val decontaminateSemanticSql =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |b AS (SELECT e AS be,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (a, v) -> a + v)) AS bn
      |  FROM e WHERE label = 7),
      |c AS (SELECT vec_id, e,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (a, v) -> a + v)) AS en
      |  FROM e WHERE label <> 7),
      |m AS (
      |  SELECT vec_id,
      |    max(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, len(e) + 1), i -> e[i] * be[i])),
      |      (a, v) -> a + v) / (en * bn)) AS mc
      |  FROM c, b GROUP BY vec_id)
      |SELECT vec_id, round(mc, 6) AS max_cos_6dp,
      |  round(mc, 6) >= 0.35 AS contaminated
      |FROM m""".stripMargin

  /** Top principal component of the embedding cloud — 5 fixed-point
    * power-iteration rounds ([[graft.operators.Similarity
    * .pcaPowerTopComponent]], algorithm/bounds documented there). The
    * third iterative fixed-point family (after label-prop CC and
    * PageRank), here over the EMBEDDINGS table: all-integer arithmetic
    * makes the direction hash-exact vs a 5×-unrolled DuckDB CTE despite
    * 5 corpus scans and d-way partial-sum exchanges in between.
    */
  private def embPcaPower(s: SparkSession, dir: String): DataFrame =
    Similarity.pcaPowerTopComponent(
      Tables.embeddings(s, dir), iters = 5)

  private val embPcaPowerSql = {
    // one CTE trio per iteration, unrolled (DuckDB recursive CTEs forbid
    // aggregates in the recursive arm — same constraint as the PageRank
    // oracle); every op is BIGINT (floor / // / abs / max / sum), so the
    // values are bit-identical to the Spark loop.
    val step = (i: Int) =>
      s"""d$i AS (
         |  SELECT xq,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, len(xq) + 1), i -> xq[i] * v[i])),
         |      (a, t) -> a + t) // 10000000 AS ds
         |  FROM xq, v${i - 1}),
         |u$i AS (
         |  SELECT dim, sum(xq[dim + 1] * ds) AS u FROM d$i, dims GROUP BY dim),
         |m$i AS (SELECT greatest(max(abs(u)), 1) AS m FROM u$i),
         |v$i AS (
         |  SELECT list((u // greatest(m // 1000000, 1)) ORDER BY dim) AS v
         |  FROM u$i, m$i GROUP BY m)""".stripMargin
    s"""WITH dd AS (SELECT min(len(embedding)) AS d FROM embeddings),
       |xq AS (
       |  SELECT list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
       |  FROM embeddings),
       |v0 AS (
       |  SELECT list_transform(range(1, d + 1), i -> CAST(1000000 AS BIGINT)) AS v
       |  FROM dd),
       |dims AS (SELECT unnest(range(0, (SELECT d FROM dd))) AS dim),
       |${(1 to 5).map(step).mkString(",\n")}
       |SELECT dim, CAST(u // greatest(m // 1000000, 1) AS BIGINT) AS v_micro
       |FROM u5, m5""".stripMargin
  }

  /** Top TWO principal directions by fixed-point deflation
    * ([[graft.operators.Similarity.pcaPowerTwoComponents]]): v₁ from the
    * power loop, the corpus projected out of v₁ in exact integer
    * arithmetic (a pure map — v₁ is a collected bounded dimension
    * shipped as literals), the same loop re-run on the residual for v₂.
    * The DuckDB twin unrolls BOTH loops (10 CTE trios) plus the
    * deflation projection — hash-exact end to end, the deepest
    * iterative chain in the gate.
    */
  private def embPcaTwo(s: SparkSession, dir: String): DataFrame =
    Similarity.pcaPowerTwoComponents(
      Tables.embeddings(s, dir), iters = 5)

  private val embPcaTwoSql = {
    val step = (src: String, p: String, i: Int) =>
      s"""${p}d$i AS MATERIALIZED (
         |  SELECT xq,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, len(xq) + 1), i -> xq[i] * v[i])),
         |      (a, t) -> a + t) // 10000000 AS ds
         |  FROM $src, ${p}v${i - 1}),
         |${p}u$i AS MATERIALIZED (
         |  SELECT dim, sum(xq[dim + 1] * ds) AS u FROM ${p}d$i, dims GROUP BY dim),
         |${p}m$i AS MATERIALIZED (SELECT greatest(max(abs(u)), 1) AS m FROM ${p}u$i),
         |${p}v$i AS MATERIALIZED (
         |  SELECT list((u // greatest(m // 1000000, 1)) ORDER BY dim) AS v
         |  FROM ${p}u$i, ${p}m$i GROUP BY m)""".stripMargin
    s"""WITH dd AS MATERIALIZED (SELECT min(len(embedding)) AS d FROM embeddings),
       |xq AS MATERIALIZED (
       |  SELECT list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
       |  FROM embeddings),
       |v0 AS MATERIALIZED (
       |  SELECT list_transform(range(1, d + 1), i -> CAST(1000000 AS BIGINT)) AS v
       |  FROM dd),
       |dims AS MATERIALIZED (SELECT unnest(range(0, (SELECT d FROM dd))) AS dim),
       |${(1 to 5).map(step("xq", "", _)).mkString(",\n")},
       |n1 AS MATERIALIZED (
       |  SELECT greatest(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(v, x -> x * x)), (a, t) -> a + t) // 1000000, 1)
       |    AS den
       |  FROM v5),
       |xq2 AS MATERIALIZED (
       |  SELECT list_transform(range(1, len(xq) + 1),
       |      j -> xq[j] - (c * v[j]) // den) AS xq
       |  FROM (
       |    SELECT xq, v, den,
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, len(xq) + 1), i -> xq[i] * v[i])),
       |        (a, t) -> a + t) // 1000000 AS c
       |    FROM xq, v5, n1)),
       |bv0 AS MATERIALIZED (
       |  SELECT list_transform(range(1, d + 1), i -> CAST(1000000 AS BIGINT)) AS v
       |  FROM dd),
       |${(1 to 5).map(step("xq2", "b", _)).mkString(",\n")}
       |SELECT a.dim, a.v1_micro, b.v2_micro
       |FROM (SELECT dim, CAST(u // greatest(m // 1000000, 1) AS BIGINT)
       |        AS v1_micro FROM u5, m5) a
       |JOIN (SELECT dim, CAST(u // greatest(m // 1000000, 1) AS BIGINT)
       |        AS v2_micro FROM bu5, bm5) b USING (dim)""".stripMargin
  }

  /** Hard-negative mining for contrastive training — for every query
    * vector (vec_id < 8), the 3 most-cosine-similar corpus vectors with
    * a DIFFERENT label: the "looks like the anchor but isn't its class"
    * examples an embedding-model trainer pairs against each anchor (the
    * in-batch-negatives upgrade every retrieval-model pipeline runs).
    * Same machinery as `sim_knn_join` (queries a bounded collected
    * dimension shipped as literals, map-side scoring, [[graft.agg
    * .TopKAgg]] O(k) ranking, fixed-point floor ties to lowest vec_id)
    * plus the label-mismatch predicate — so at 100 TB it stays one
    * corpus scan with ≤ |Q|×k pairs per map partition in the exchange.
    */
  private def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.embDouble.as("e"), col("label"))
    val qRows = querySample(s, dir)
    val qIds = array(qRows.map(r => lit(r._1)): _*)
    val qLabels = array(qRows.map(r => lit(r._3)): _*)
    val topk = udaf(new graft.agg.TopKAgg(3))
    emb.filter(col("vec_id") >= 8)
      .withColumn("ne",
        sqrt(graft.functions.DotF64.dotf64(col("e"), col("e"))))
      .select(col("vec_id"), col("label"), col("ne"),
        posexplode(Similarity.unitDots(col("e"), qRows.map(_._2)))
          .as(Seq("qi", "dot")))
      .filter(element_at(qLabels, col("qi") + 1) =!= col("label"))
      .select(element_at(qIds, col("qi") + 1).as("q_id"),
        element_at(qLabels, col("qi") + 1).as("q_label"),
        col("vec_id"), col("label").as("neg_label"),
        (-floor(col("dot") / col("ne") * lit(1e6))).cast(LongType).as("rk"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(topk(col("rk"), col("vec_id")).as("picks"))
      .select(col("q_id"), col("q_label"),
        posexplode(col("picks")).as(Seq("pos", "pick")))
      .select(col("q_id"), col("q_label").cast(LongType).as("q_label"),
        col("pick._2").as("vec_id"),
        (col("pos") + 1).cast(LongType).as("rn"),
        ((-col("pick._1")).cast(DoubleType) / 1e6).as("sim6"))
  }

  private val simHardNegativesSql =
    """WITH ev AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, label
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id AS q_id, label AS q_label,
      |    list_transform(e, x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE x / n END) AS qu
      |  FROM (
      |    SELECT vec_id, label, e,
      |      sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS n
      |    FROM ev WHERE vec_id < 8)),
      |c AS (
      |  SELECT vec_id, label, e,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS ne
      |  FROM ev WHERE vec_id >= 8),
      |scored AS (
      |  SELECT q.q_id, q.q_label, c.vec_id,
      |    CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(c.e) + 1), i -> c.e[i] * q.qu[i])),
      |      (acc, v) -> acc + v) / c.ne) * 1e6) AS BIGINT) AS fp
      |  FROM c CROSS JOIN q WHERE c.label <> q.q_label)
      |SELECT q_id, CAST(q_label AS BIGINT) AS q_label, vec_id,
      |  CAST(rn AS BIGINT) AS rn,
      |  CAST(fp AS DOUBLE) / 1e6 AS sim6
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY q_id ORDER BY fp DESC, vec_id) AS rn FROM scored)
      |WHERE rn <= 3""".stripMargin

  /** Batched k-NN similarity join — top-3 cosine neighbors for EVERY
    * query in a query set at once (vec_id < 8 here), the shape batch
    * inference / RAG retrieval actually runs, vs the single-query
    * `sim_cosine_topk`. Query vectors are a bounded dimension: collected
    * once ([[graft.DimCache]]), unit-normalized driver-side, shipped as
    * literals, so scoring is a pure Project over the corpus scan — one
    * dot per (row, query), no join, no row explosion surviving past the
    * aggregation. Ranking is the bounded [[graft.agg.TopKAgg]] (O(k)
    * state, map-side combine): the exchange moves ≤ |Q|×k pairs per map
    * partition, never scored rows — the 100 TB contract. Scores rank on
    * the 6-dp fixed-point floor so cross-engine order is exact by
    * construction (ties → lowest vec_id).
    */
  private def simKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = embVectors(s, dir)
    val qRows = querySample(s, dir)
    val qIds = array(qRows.map(r => lit(r._1)): _*)
    val topk = udaf(new graft.agg.TopKAgg(3))
    emb.filter(col("vec_id") >= 8)
      .withColumn("ne",
        sqrt(graft.functions.DotF64.dotf64(col("e"), col("e"))))
      .select(col("vec_id"), col("ne"),
        posexplode(Similarity.unitDots(col("e"), qRows.map(_._2))).as(Seq("qi", "dot")))
      .select(element_at(qIds, col("qi") + 1).as("q_id"), col("vec_id"),
        (-floor(col("dot") / col("ne") * lit(1e6))).cast(LongType).as("rk"))
      .groupBy(col("q_id"))
      .agg(topk(col("rk"), col("vec_id")).as("picks"))
      .select(col("q_id"), posexplode(col("picks")).as(Seq("pos", "pick")))
      .select(col("q_id"), col("pick._2").as("vec_id"),
        (col("pos") + 1).cast(LongType).as("rn"),
        ((-col("pick._1")).cast(DoubleType) / 1e6).as("sim6"))
  }

  /** DuckDB twin: same unit-normalize fold on the query side, same
    * ascending dot fold, rank on the identical fixed-point floor with
    * the identical (score desc, vec_id asc) tie.
    */
  private val simKnnJoinSql =
    """WITH ev AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id AS q_id,
      |    list_transform(e, x -> CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE x / n END) AS qu
      |  FROM (
      |    SELECT vec_id, e,
      |      sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS n
      |    FROM ev WHERE vec_id < 8)),
      |c AS (
      |  SELECT vec_id, e,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(e, x -> x * x)), (acc, v) -> acc + v)) AS ne
      |  FROM ev WHERE vec_id >= 8),
      |scored AS (
      |  SELECT q.q_id, c.vec_id,
      |    CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(c.e) + 1), i -> c.e[i] * q.qu[i])),
      |      (acc, v) -> acc + v) / c.ne) * 1e6) AS BIGINT) AS fp
      |  FROM c CROSS JOIN q)
      |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rn,
      |  CAST(fp AS DOUBLE) / 1e6 AS sim6
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY q_id ORDER BY fp DESC, vec_id) AS rn FROM scored)
      |WHERE rn <= 3""".stripMargin

  /** Leakage-safe train/valid/test split: the split key is the doc's
    * near-dup COMPONENT representative (min id over the LSH connected
    * component, singleton docs represent themselves), not the doc
    * itself — so every near-duplicate lands in the same split and the
    * eval set can never contain a paraphrase of a training doc (the
    * contamination mode a doc-keyed hash split is blind to). Split
    * assignment is the portable Lehmer fold mod 10 → 8/1/1.
    *
    * Scale: reuses the O(log diameter) pointer-doubling components
    * ([[Dedup.resolveKeepers]]); the split itself adds
    * one broadcast-or-shuffle left join on doc_id and a map-side hash.
    */
  /** The corpus near-dup PAIR set as a persisted artifact — written once
    * per dataset per JVM ([[graft.DimCache]], the same write-once/
    * query-many contract as the incremental LSH index and the PQ codes).
    * A real pipeline materializes candidate pairs exactly once and
    * derives BOTH dedup decisions and leakage-safe splits from them;
    * re-running the full shingle→minhash→band pipeline for every
    * consumer re-pays the whole corpus each time (the r9 bench measured
    * that shape at 11.9 s/rep — the pipeline cost, not the split cost).
    */
  private def lshPairsDir(s: SparkSession, dir: String): String =
    graft.DimCache.cached(s"lsh-pairs:$dir") {
      val p = graft.DimCache.artifactPath("lshpairs", dir)
      dedupMinhashLshPortable(s, dir).select(col("id_a"), col("id_b"))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** The RESOLVED component keepers as a second write-once artifact
    * layered on the pair set: `resolveKeepers` is iterative (O(log d)
    * pointer-doubling rounds with eager lineage cuts), so consumers
    * that only need the final (doc_id, keeper) map — the split and the
    * component stats — would otherwise re-pay those rounds per builder
    * invocation. A real pipeline materializes components once next to
    * its pair set; each consumer is then one broadcast-or-shuffle join.
    * Faithfulness stays oracle-checked: every consumer's DuckDB twin
    * recomputes components from raw text via the recursive closure.
    */
  private def lshKeepersDir(s: SparkSession, dir: String): String =
    graft.DimCache.cached(s"lsh-keepers:$dir") {
      val p = graft.DimCache.artifactPath("lshkeep", dir)
      Dedup.resolveKeepers(
          s.read.parquet(lshPairsDir(s, dir)))
        .write.mode("overwrite").parquet(p)
      p
    }

  private def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val rep = coalesce(col("keeper"), col("doc_id"))
    val keepers = s.read.parquet(lshKeepersDir(s, dir))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), rep.as("keeper"),
        (pmod(rep * lit(48271L), lit(2147483647L)) % 10).as("h"))
      .select(col("doc_id"), col("keeper"),
        when(col("h") < 8, "train").when(col("h") === 8, "valid")
          .otherwise("test").as("split"))
  }

  private val splitLeakageSafeSql =
    s"""WITH RECURSIVE base AS (
      |  SELECT id_a, id_b FROM (
      |$dedupMinhashLshPortableSql) t),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM base
      |  UNION
      |  SELECT id_b, id_a FROM base),
      |reach AS (
      |  SELECT a AS id, a AS r FROM edges
      |  UNION
      |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
      |k AS (SELECT id AS doc_id, min(r) AS keeper FROM reach GROUP BY id),
      |s AS (
      |  SELECT d.doc_id, coalesce(k.keeper, d.doc_id) AS keeper,
      |    ((coalesce(k.keeper, d.doc_id) * 48271) % 2147483647) % 10 AS h
      |  FROM documents d LEFT JOIN k USING (doc_id))
      |SELECT doc_id, keeper,
      |  CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'valid'
      |    ELSE 'test' END AS split
      |FROM s""".stripMargin

  /** Label-balanced downsampling — every class reduced to the minority
    * class's size with the deterministic Lehmer pick (the
    * `sample_hash_rows` convention, stratified): the class-balancing
    * step an embedding-model trainer runs before contrastive batching
    * so no label dominates the loss. One label-partitioned rank + a
    * 1-row broadcast minimum; fully oracled (the pick is pure integer
    * arithmetic, ties impossible — vec_id is unique).
    */
  private def sampleBalancedLabels(s: SparkSession, dir: String): DataFrame = {
    // `label` is a bounded class-label key (10 values), so the
    // per-label rank goes through GlobalOrder.groupedRowNumber's
    // range-partitioned numbering — a plain PARTITION BY label window
    // would funnel the SF-scaled embeddings table through 10 tasks.
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
      pmod(col("vec_id") * lit(48271L), lit(2147483647L)).as("pri"))
    val minN = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("min_n"))
    graft.operators.GlobalOrder
      .groupedRowNumber(emb, Seq("label"), Seq(col("pri"), col("vec_id")), "rk")
      .crossJoin(broadcast(minN))
      .filter(col("rk") <= col("min_n"))
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        col("rk").cast(LongType).as("rk"))
  }

  private val sampleBalancedLabelsSql =
    """WITH n AS (
      |  SELECT min(cnt) AS min_n FROM (
      |    SELECT label, count(*) AS cnt FROM embeddings GROUP BY label) t)
      |SELECT vec_id, CAST(label AS BIGINT) AS label,
      |  CAST(rk AS BIGINT) AS rk
      |FROM (
      |  SELECT vec_id, label,
      |    row_number() OVER (PARTITION BY label
      |      ORDER BY (vec_id * 48271) % 2147483647, vec_id) AS rk
      |  FROM embeddings) r, n
      |WHERE rk <= min_n""".stripMargin

  /** The audit that certifies the leakage-safe split's defining
    * property: ZERO near-dup pairs may cross a split boundary (both
    * endpoints of every pair share a component, hence a keeper, hence
    * a split). The Spark side measures it over the persisted pair +
    * keeper artifacts; the oracle re-derives pairs, components, and
    * split assignments from RAW TEXT via the recursive closure — so a
    * bug anywhere in the artifact chain (stale pairs, wrong keeper
    * resolution, a split keyed on doc_id instead of the keeper) flips
    * n_cross_pairs or the flag and fails the hash. This is the check a
    * real pipeline ships with its eval split.
    */
  private def splitLeakageAudit(s: SparkSession, dir: String): DataFrame = {
    val split = splitLeakageSafe(s, dir).select(col("doc_id"), col("split"))
    s.read.parquet(lshPairsDir(s, dir))
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sp_a")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sp_b")), "id_b")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("sp_a") =!= col("sp_b"), lit(1))).as("n_cross_pairs"))
      .select(col("n_pairs"), col("n_cross_pairs"),
        (col("n_cross_pairs") === 0L).as("leakage_free"))
  }

  private val splitLeakageAuditSql =
    s"""WITH RECURSIVE base AS (
      |  SELECT id_a, id_b FROM (
      |$dedupMinhashLshPortableSql) t),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM base
      |  UNION
      |  SELECT id_b, id_a FROM base),
      |reach AS (
      |  SELECT a AS id, a AS r FROM edges
      |  UNION
      |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
      |k AS (SELECT id AS doc_id, min(r) AS keeper FROM reach GROUP BY id),
      |sp AS (
      |  SELECT d.doc_id,
      |    CASE WHEN ((coalesce(k.keeper, d.doc_id) * 48271) % 2147483647)
      |           % 10 < 8 THEN 'train'
      |         WHEN ((coalesce(k.keeper, d.doc_id) * 48271) % 2147483647)
      |           % 10 = 8 THEN 'valid'
      |         ELSE 'test' END AS split
      |  FROM documents d LEFT JOIN k USING (doc_id))
      |SELECT count(*) AS n_pairs,
      |  count(*) FILTER (sa.split <> sb.split) AS n_cross_pairs,
      |  count(*) FILTER (sa.split <> sb.split) = 0 AS leakage_free
      |FROM base
      |  JOIN sp sa ON sa.doc_id = base.id_a
      |  JOIN sp sb ON sb.doc_id = base.id_b""".stripMargin

  /** Near-dup component-size histogram — the corpus-health report a
    * dedup pass ships with its output ("how clustered is this crawl"):
    * every doc resolves to its connected-component representative
    * (singletons represent themselves), components collapse to sizes,
    * sizes to a histogram. Reads the SAME persisted LSH pair artifact as
    * [[splitLeakageSafe]] (write-once/query-many), so the report costs
    * two compact aggregations on top of the already-materialized pairs.
    * Scale: (rep → size) and (size → count) are both map-side-combined
    * groupBys over id-sized rows; nothing corpus-wide shuffles twice.
    */
  private def dedupComponentStats(s: SparkSession, dir: String): DataFrame = {
    val keepers = s.read.parquet(lshKeepersDir(s, dir))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(keepers, Seq("doc_id"), "left")
      .select(coalesce(col("keeper"), col("doc_id")).as("rep"))
      .groupBy(col("rep")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_components"))
  }

  private val dedupComponentStatsSql =
    s"""WITH RECURSIVE base AS (
      |  SELECT id_a, id_b FROM (
      |$dedupMinhashLshPortableSql) t),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM base
      |  UNION
      |  SELECT id_b, id_a FROM base),
      |reach AS (
      |  SELECT a AS id, a AS r FROM edges
      |  UNION
      |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
      |k AS (SELECT id AS doc_id, min(r) AS keeper FROM reach GROUP BY id),
      |comp AS (
      |  SELECT coalesce(k.keeper, d.doc_id) AS rep, count(*) AS sz
      |  FROM documents d LEFT JOIN k USING (doc_id)
      |  GROUP BY 1)
      |SELECT sz AS cluster_size, count(*) AS n_components
      |FROM comp GROUP BY sz""".stripMargin

  // ------------------------------------------------ embedding transforms

  /** Int8 max-abs quantization of the embedding column — the compression
    * pass a 100 TB vector corpus runs before shipping vectors to an ANN
    * index (4 bytes/dim → 1). Per-vector scale = max |x|; q_j =
    * floor(x_j / scale · 127 + 0.5) (half-up — written as the same IEEE
    * expression in both engines rather than engine-native round(), whose
    * tie rule differs); reconstruction error is max_j |x_j − q_j/127·s|.
    * Pure map-side: no shuffle, linear in input bytes at any corpus
    * size; `e` and `q` are materialized per row before any lambda
    * indexes them.
    */
  private def embQuantize(s: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), Similarity.embDouble.as("e"))
      .select(col("vec_id"), col("e"),
        expr("array_max(transform(e, x -> abs(x)))").as("scale"))
      .select(col("vec_id"), col("e"), col("scale"),
        when(col("scale") === 0.0, lit(1.0)).otherwise(col("scale")).as("s2"))
      .select(col("vec_id"), col("e"), col("scale"), col("s2"),
        expr("transform(e, x -> CAST(floor(x / s2 * 127.0D + 0.5D) AS INT))")
          .as("q"))
      .select(
        col("vec_id"),
        col("scale"),
        graft.ArrCanon.joined(col("q")).as("q_str"),
        // Guarded: an empty embedding would make sequence(0, -1) emit
        // [0, -1] and index e[-1] — the ANSI-mode trap. NULL on empty in
        // both engines (DuckDB's range(0, 0) is empty, so its list_max
        // is NULL already; the CASE mirrors this shape explicitly).
        when(size(col("e")) >= 1,
          expr("""array_max(transform(sequence(0, size(e) - 1),
            j -> abs(e[j] - q[j] / 127.0D * s2)))""")).as("max_abs_err"))

  /** DuckDB twin: same scale / quantize / reconstruction expressions
    * term for term (raw doubles are safe to emit — every op is the same
    * IEEE expression over identical inputs; no cross-row accumulation).
    */
  private val embQuantizeSql =
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |s AS (
       |  SELECT vec_id, e,
       |    list_max(list_transform(e, x -> abs(x))) AS scale
       |  FROM e0),
       |sc AS (
       |  SELECT vec_id, e, scale,
       |    CASE WHEN scale = 0.0 THEN CAST(1.0 AS DOUBLE) ELSE scale END AS s2
       |  FROM s),
       |qz AS (
       |  SELECT vec_id, e, scale, s2,
       |    list_transform(e, x -> CAST(floor(x / s2 * 127.0 + 0.5) AS INTEGER)) AS q
       |  FROM sc)
       |SELECT vec_id, scale,
       |  ${graft.ArrCanon.joinedSql("q")} AS q_str,
       |  CASE WHEN len(e) >= 1 THEN
       |    list_max(list_transform(range(0, len(e)),
       |      j -> abs(e[j + 1] - q[j + 1] / 127.0 * s2)))
       |  ELSE NULL END AS max_abs_err
       |FROM qz""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * vectors are LSH-bucketed by 8 portable signed hyperplanes (the same
    * LCG-parity plane family as `sim_ann_lsh_buckets`), each bucket's
    * centroid is computed, and the member closest to the centroid
    * (squared L2, vec_id tie-break) becomes the bucket's keeper — "keep
    * one representative per semantic cluster" for a training corpus.
    *
    * Exactness: a per-dimension double mean over rows is order-dependent,
    * so the centroid goes through the fixed-point trick (floor(x·1e6)
    * summed exactly as longs per (bucket, dim), normalized by one shared
    * /1e6/n double expression) — order-independent, bit-identical to the
    * DuckDB twin; the dist² fold is ascending in both engines.
    *
    * Scale: bucketing and the dim-explode are map-side; the two
    * aggregations shuffle compact (bucket, dim, long) rows; centroids —
    * one row per bucket, ≤256 here — broadcast back to members, so the
    * only wide exchange is the keeper window on (bucket), which reuses
    * the members' bucket partitioning.
    */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = planeBucket8(s, dir)
    val emb = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), Similarity.embDouble.as("e"))
      .select(col("vec_id"), col("e"), bucket.as("bucket"))
    val sums = emb
      .select(col("bucket"), posexplode(col("e")).as(Seq("j", "x")))
      .select(col("bucket"), col("j"),
        floor(col("x") * lit(1e6)).cast(LongType).as("fx"))
      .groupBy(col("bucket"), col("j"))
      .agg(sum(col("fx")).as("fsum"), count(lit(1)).as("n"))
    val cent = sums
      .groupBy(col("bucket"))
      .agg(max(col("n")).as("n"),
        sort_array(collect_list(struct(col("j"), col("fsum")))).as("cs"))
      .select(col("bucket"), col("n"),
        expr("transform(cs, r -> CAST(r.fsum AS DOUBLE) / 1000000.0D / CAST(n AS DOUBLE))")
          .as("cv"))
    emb
      .join(broadcast(cent), Seq("bucket"))
      .select(col("bucket"), col("n"), col("vec_id"),
        expr("""aggregate(sequence(0, size(e) - 1), CAST(0.0 AS DOUBLE),
          (acc, j) -> acc + (e[j] - cv[j]) * (e[j] - cv[j]))""").as("dist2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("dist2"), col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("n").as("n_vectors"),
        col("vec_id").as("keep_vec_id"), col("dist2"))
  }

  /** DuckDB twin: same plane parity, same fixed-point centroid sums
    * (list(fsum ORDER BY j) mirrors Spark's sort_array(collect_list)),
    * same ascending dist² fold, same (dist2, vec_id) keeper ranking.
    */
  private val dedupSemanticSql =
    s"""WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |b AS (
      |  SELECT vec_id, e,
      |    list_reduce(list_prepend(0, list_transform(range(0, 8), p ->
      |      CASE WHEN
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(range(0, len(e)), j ->
      |            e[j + 1] * ${hyperplaneSignSql("p * 1024 + j")})),
      |          (a, v) -> a + v) > CAST(0.0 AS DOUBLE)
      |      THEN CAST(1 AS INTEGER) << p ELSE 0 END)),
      |      (a, v) -> a + v) AS bucket
      |  FROM e0),
      |ex0 AS (SELECT bucket, e, unnest(range(0, len(e))) AS j FROM b),
      |ex AS (SELECT bucket, j,
      |  CAST(floor(e[j + 1] * 1e6) AS BIGINT) AS fx FROM ex0),
      |cd AS (SELECT bucket, j, sum(fx) AS fsum, count(*) AS n
      |  FROM ex GROUP BY bucket, j),
      |cent AS (SELECT bucket, max(n) AS n, list(fsum ORDER BY j) AS fs
      |  FROM cd GROUP BY bucket),
      |ct AS (SELECT bucket, n,
      |  list_transform(fs, f -> CAST(f AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)) AS cv
      |  FROM cent),
      |d AS (
      |  SELECT b.bucket, ct.n, b.vec_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(0, len(b.e)),
      |        j -> (b.e[j + 1] - ct.cv[j + 1]) * (b.e[j + 1] - ct.cv[j + 1]))),
      |      (a, v) -> a + v) AS dist2
      |  FROM b JOIN ct ON b.bucket = ct.bucket)
      |SELECT CAST(bucket AS INTEGER) AS bucket, n AS n_vectors,
      |  vec_id AS keep_vec_id, dist2
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY bucket ORDER BY dist2, vec_id) AS rn FROM d)
      |WHERE rn = 1""".stripMargin

  // -------------------------------------------------------- multimodal

  /** Stratified downsampling — exact k rows per (lang, source) stratum,
    * selected by a portable LCG rank of doc_id so both engines pick the
    * IDENTICAL sample (the deterministic twin of rand()-based stratified
    * sampling; `sample_rows` keeps the engine-native nondeterministic
    * path). A 100 TB corpus mixes sources at wildly different volumes;
    * per-stratum caps are how mixture ratios are enforced before
    * training.
    *
    * Scale: one exchange on the stratum key and a within-stratum sort.
    * Strata are dimension-bounded (lang × source), so no stratum is a
    * whole-corpus sort; a degenerate single-stratum corpus would instead
    * use the LCG value as a pre-filter threshold (`rk < t`, the
    * sample_hash_rows shape) to drop rows before the exchange.
    */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    // Bounded top-k Aggregator ([[graft.agg.TopKAgg]]): O(k) state with
    // map-side combine, so a billion-row stratum costs the same
    // aggregation state as a thousand-row one and the stratum exchange
    // moves only k (rank, id) pairs per map partition. A rank window
    // computes the same rows by SORTING every stratum in full — that
    // shape only survives while strata are small.
    val topk = udaf(new graft.agg.TopKAgg(10))
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        pmod(col("doc_id") * lit(48271L), lit(2147483647L)).as("rk"))
      .groupBy(col("lang"), col("source"))
      .agg(topk(col("rk"), col("doc_id")).as("picks"))
      .select(col("lang"), col("source"),
        posexplode(col("picks")).as(Seq("pos", "pick")))
      .select(
        col("pick._2").as("doc_id"),
        col("lang"),
        col("source"),
        (col("pos") + 1).cast(LongType).as("rn"))
  }

  private val sampleStratifiedSql =
    """SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY (doc_id * 48271) % 2147483647, doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 10""".stripMargin

  /** Weighted priority sampling — quality-weighted doc selection, the
    * sampling mode a curation pipeline actually runs (upweight long /
    * high-quality docs). Priority = u / w with u a portable Lehmer hash
    * of doc_id in [0, 1) and w an integer quality weight (here a
    * length proxy, 1..10); smallest-k priorities win, so expected
    * selection odds scale with w while staying fully DETERMINISTIC and
    * cross-engine bit-exact (u / w is one IEEE multiply-free division;
    * no pow/ln like Efraimidis–Spirakis, whose libm-vs-JVM last-ulp
    * drift would break the oracle — documented design trade).
    *
    * Scale: pure map-side expression + TakeOrderedAndProject(k) — no
    * shuffle beyond the top-k reduction, same as `top_k`.
    */
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = pmod(col("doc_id") * lit(48271L), lit(2147483647L))
      .cast(DoubleType) / lit(2147483647.0)
    val w = greatest(lit(1.0), least(lit(10.0),
      floor(col("n_chars").cast(DoubleType) / lit(100.0))))
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"),
        w.cast(LongType).as("w"), (u / w).as("pri"))
      .orderBy(col("pri"), col("doc_id"))
      .limit(200)
  }

  private val sampleWeightedSql =
    """SELECT doc_id, lang, CAST(w AS BIGINT) AS w, u / w AS pri FROM (
      |  SELECT doc_id, lang,
      |    greatest(1.0, least(10.0, floor(n_chars / 100.0))) AS w,
      |    CAST((doc_id * 48271) % 2147483647 AS DOUBLE) / 2147483647.0 AS u
      |  FROM documents) t
      |ORDER BY pri, doc_id LIMIT 200""".stripMargin

  /** Per-document top-5 TF-IDF terms — the keyword/topic signal corpus
    * pipelines attach before mixture balancing and retrieval indexing.
    * The idf is the LINEAR ratio N/df, not ln(N/df): a transcendental
    * would be the one non-portable op in the expression (libm vs JVM
    * last-ulp differences), while counts, the two divisions, and the
    * product are bit-identical IEEE arithmetic over identical integer
    * inputs in both engines — so the scores AND the ranking are
    * oracle-exact. Monotonicity in df is the same, so top-k membership
    * matches log-idf for any fixed document.
    *
    * Scale: (doc, tok) counts shuffle once; doc_len rides the same
    * doc_id exchange as a window sum; df is a second compact shuffle on
    * tok; N is a 1-row in-plan broadcast. The final rank window
    * partitions by doc_id — never a global sort.
    */
  private def textTfidfTopk(s: SparkSession, dir: String): DataFrame =
    tfidfTopkOver(Tables.documents(s, dir), k = 5)

  /** The tf-idf top-k pipeline over an arbitrary (doc_id, text) frame. */
  private def tfidfTopkOver(documents: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val withLen = tf.withColumn("doc_len",
      sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // N = docs with at least one token, derived from tf itself: the tf
    // aggregate's exchange is already in the plan three times (tf,
    // doc_len window, df) and Spark reuses it, so this branch costs no
    // extra source scan — unlike a second `documents` read. A doc whose
    // text is empty contributes no output rows either way, so only the
    // scalar N (and the oracle, kept in sync) reflects the change.
    val nDocs = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    withLen
      .join(dfTab, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("cnt").cast(DoubleType) / col("doc_len").cast(DoubleType)) *
          (col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
      .withColumn("rn",
        row_number().over(Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("tok"))))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("tok"), col("tfidf"),
        col("rn").cast(LongType).as("rn"))
  }

  private val textTfidfTopkSql =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS cnt FROM (
      |    SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
      |    FROM documents) t
      |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
      |wl AS (
      |  SELECT doc_id, tok, cnt,
      |    sum(cnt) OVER (PARTITION BY doc_id) AS doc_len FROM tf),
      |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      |scored AS (
      |  SELECT wl.doc_id, wl.tok,
      |    (CAST(cnt AS DOUBLE) / CAST(doc_len AS DOUBLE)) *
      |    (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
      |  FROM wl JOIN dfq USING (tok) CROSS JOIN nd)
      |SELECT doc_id, tok, tfidf, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT doc_id, tok, tfidf,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tfidf DESC, tok) AS rn
      |  FROM scored) r
      |WHERE rn <= 5""".stripMargin

  /** Greedy sequence packing ([[graft.operators.Packing]]): documents
    * ordered by doc_id within each lang stream, packed into 200-token
    * budget packs. Fully oracled — the DuckDB twin walks the same
    * per-lang order with a recursive CTE carrying (cum, pack_id,
    * pack_pos), the exact greedy recurrence of the Spark scan; token
    * counts are integer-exact in both engines.
    */
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(coalesce(col("text"), lit("")), " ")).cast("long")
          .as("n_toks"))
    graft.operators.Packing
      .packGreedy(docs, "lang", Seq("doc_id"), "n_toks", budget = 200L)
      .select(col("doc_id"), col("lang"), col("n_toks"),
        col("pack_id"), col("pack_pos"))
  }

  private val packSequencesSql =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_toks,
      |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents),
      |walk AS (
      |  SELECT doc_id, lang, n_toks, rn, n_toks AS cum,
      |    CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_pos
      |  FROM docs WHERE rn = 1
      |  UNION ALL
      |  SELECT d.doc_id, d.lang, d.n_toks, d.rn,
      |    CASE WHEN w.cum + d.n_toks > 200 THEN d.n_toks
      |         ELSE w.cum + d.n_toks END,
      |    CASE WHEN w.cum + d.n_toks > 200 THEN w.pack_id + 1
      |         ELSE w.pack_id END,
      |    CASE WHEN w.cum + d.n_toks > 200 THEN CAST(0 AS BIGINT)
      |         ELSE w.pack_pos + 1 END
      |  FROM walk w JOIN docs d ON d.lang = w.lang AND d.rn = w.rn + 1)
      |SELECT doc_id, lang, n_toks, pack_id, pack_pos FROM walk""".stripMargin

  /** Overlapping token-window chunking — the pre-embedding split every
    * retrieval/embedding pipeline runs: windows of 50 tokens at stride
    * 40 (10-token overlap), last window ragged. Pure map-side explode —
    * no shuffle, linear in corpus bytes at any scale; the token array
    * is materialized once per row before the window lambdas index it.
    */
  private def chunkDocuments(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      .select(col("doc_id"), col("n"),
        posexplode(expr(
          """transform(
            |  sequence(0, CAST(ceil(greatest(n - 50, 0) / 40.0) AS INT)),
            |  w -> slice(tk, w * 40 + 1, 50))""".stripMargin))
          .as(Seq("chunk_idx", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_toks"),
        graft.ArrCanon.joined(col("chunk")).as("chunk_text"))

  private val chunkDocumentsSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk,
       |    len(string_split(coalesce(text, ''), ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    unnest(range(0, CAST(ceil(greatest(n - 50, 0) / 40.0) AS BIGINT) + 1))
       |      AS chunk_idx,
       |    tk, n
       |  FROM t)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(list_slice(tk, chunk_idx * 40 + 1, chunk_idx * 40 + 50)) AS BIGINT)
       |    AS chunk_toks,
       |  ${graft.ArrCanon.joinedSql("list_slice(tk, chunk_idx * 40 + 1, chunk_idx * 40 + 50)")}
       |    AS chunk_text
       |FROM c""".stripMargin

  /** Benchmark decontamination — flag training documents sharing any
    * 4-token shingle with a held-out benchmark set (here the
    * deterministic doc_id % 100 = 0 subset stands in for the benchmark;
    * in production it is the eval suites, and the shingle is 8-13
    * tokens — the synthetic corpus's short texts need 4 for the oracle
    * row to be non-vacuous at every SF). The contamination join is a
    * semi-shape on the gram hash: the benchmark gram set is BOUNDED
    * (benchmarks are small), so at 100 TB it broadcasts and the whole
    * check is map-side over the training corpus — no wide exchange. The
    * count aggregation groups on (doc_id), compact keys.
    */
  private def decontaminateNgrams(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
          split(coalesce(col("text"), lit("")), " ").as("tk"))
        .filter(size(col("tk")) >= 4)
        .select(col("doc_id"),
          explode(expr(
            """transform(sequence(0, size(tk) - 4),
              |  i -> concat_ws(' ', slice(tk, i + 1, 4)))""".stripMargin))
            .as("g8"))
    val docs = Tables.documents(s, dir)
    val bench = grams(docs.filter(pmod(col("doc_id"), lit(100)) === 0))
      .select(col("g8")).distinct()
    // Distinct AFTER the semi join, not before: the join is map-side
    // (bounded bench grams broadcast), so filtering first means the
    // (doc_id, gram) distinct only shuffles the CONTAMINATED survivors
    // — a distinct before the join would shuffle corpus-scale string
    // grams for nothing. Same result: distinct commutes with the filter.
    grams(docs.filter(pmod(col("doc_id"), lit(100)) =!= 0))
      .join(bench, Seq("g8"), "left_semi")
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  /** Scale path for decontamination when the benchmark gram set outgrows
    * a broadcast semi join: a Bloom sketch of the bench grams replaces
    * the exact gram set, and training grams test membership MAP-SIDE —
    * zero join, no shuffle until the per-doc count. The error is
    * one-sided: false negatives are impossible (no contaminated doc
    * escapes), false positives are bounded by the configured fpp — the
    * right trade for a flag-for-review filter. The sketch build is a
    * bounded driver action cached once per dataset via [[graft.DimCache]]
    * (the 100 TB contract: bits ∝ bench grams, NOT corpus size).
    * Rows-only: the bit layout is Spark's BloomFilter impl with no
    * cross-engine twin; the exact `decontaminate_ngrams` is this
    * family's oracled representative, and `DecontaminateBloomSpec` pins
    * the superset + FP-bound contract against it.
    */
  private def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
          split(coalesce(col("text"), lit("")), " ").as("tk"))
        .filter(size(col("tk")) >= 4)
        .select(col("doc_id"),
          explode(expr(
            """transform(sequence(0, size(tk) - 4),
              |  i -> concat_ws(' ', slice(tk, i + 1, 4)))""".stripMargin))
            .as("g8"))
    val docs = Tables.documents(s, dir)
    // Native Catalyst bloom (r14): the sketch is built by the same
    // BloomFilterAggregate Spark's runtime row-filters use (a
    // distributed partial/final aggregate over xxhash64 of each gram)
    // and probed with BloomFilterMightContain — which, unlike the
    // previous per-gram Scala UDF, evaluates INSIDE whole-stage
    // codegen with no string boxing: the 100 TB probe side is a pure
    // generated-code scan. Not public SQL surface in Spark 4, so the
    // expressions are wrapped via graftbridge.ColumnBridge (the
    // custom-expression path every native kernel here uses).
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomBytes = graft.DimCache.cached(s"decontamBloomV2:$dir") {
      val bench = grams(docs.filter(pmod(col("doc_id"), lit(100)) === 0))
        .select(col("g8")).distinct()
      // per-gram fpp compounds per document (a doc testing k grams is
      // falsely flagged with prob 1-(1-fpp)^k, k ≈ 150 here), so the
      // per-gram rate must sit well below 1/k for a usable doc-level
      // flag; bits = n·(−ln fpp)/(ln 2)² ≈ 24·n at 1e-5, sized by the
      // BOUNDED bench-gram count — costless at any corpus scale
      val n = math.max(bench.count(), 1L)
      val bits = math.max(64L, (n * 24L) min (Int.MaxValue.toLong * 8L))
      // BloomFilterAggregate silently CLAMPS numItems/numBits to the
      // runtime-filter conf ceilings (4M items / 8 MB bits by default)
      // — past ~2.8M bench grams the 24·n sizing, and the
      // compounded-fpp reasoning above, would silently stop holding.
      // Raise the ceilings to this sketch's actual size for the build
      // only: max against the CURRENT session values (a user-raised
      // ceiling must never be lowered) and restore the prior values in
      // a finally, so Spark's own injected runtime filters — and any
      // later sketch in the same session — see exactly the tuning they
      // had before this build.
      val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
      val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
      val prevItems = s.conf.get(itemsKey)
      val prevBits = s.conf.get(bitsKey)
      try {
        s.conf.set(itemsKey, math.max(n, prevItems.toLong).toString)
        s.conf.set(bitsKey, math.max(bits, prevBits.toLong).toString)
        // Read back and assert the raise actually landed: a silently
        // clamped sketch voids the fpp contract, so fail loudly here
        // rather than flag clean docs downstream.
        require(s.conf.get(itemsKey).toLong >= n &&
          s.conf.get(bitsKey).toLong >= bits,
          s"bloom ceilings did not raise: items=${s.conf.get(itemsKey)} " +
            s"(need >= $n), bits=${s.conf.get(bitsKey)} (need >= $bits)")
        val agg = new BloomFilterAggregate(
          expression(xxhash64(col("g8"))),
          expression(lit(n)),
          expression(lit(bits))).toAggregateExpression()
        bench.select(column(agg).as("bf")).head().getAs[Array[Byte]](0)
      } finally {
        s.conf.set(itemsKey, prevItems)
        s.conf.set(bitsKey, prevBits)
      }
    }
    // Trade-off, documented: the sketch bytes ride the plan as a
    // lit() literal — fine at the ≤ tens-of-MB scale a bench-gram
    // sketch reaches (the task binary ships once per executor), but a
    // multi-GB sketch would want a broadcast variable probed from a
    // (codegen-exiting) UDF, or Spark's own ScalarSubquery plumbing.
    // At bench-set scale the codegen'd literal probe wins.
    val might = column(new BloomFilterMightContain(
      expression(lit(bloomBytes)),
      expression(xxhash64(col("g8")))))
    grams(docs.filter(pmod(col("doc_id"), lit(100)) =!= 0))
      .filter(might)
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged_grams"))
      .orderBy(col("doc_id"))
  }

  /** Driver-gate twin of `DecontaminateBloomSpec`: the Bloom path's
    * one-sided-error contract expressed as DATA the oracle can check.
    * Joins the bloom flag set against the exact flag set and emits, per
    * exactly-flagged doc, `bloom_flagged` = (doc present bloom-side with
    * >= gram count) — the superset property — plus a constant
    * `fp_within_bound` = (bloom-only docs ≤ max(1, clean-docs/10)),
    * both computed IN the plan. The oracle pins both columns to TRUE,
    * so a bloom regression (a lost doc, an undercount, an fpp blowout)
    * hash-mismatches in CORRECTNESS rather than only failing a spec.
    */
  private def decontaminateBloomVsExact(s: SparkSession, dir: String): DataFrame = {
    val exact = decontaminateNgrams(s, dir)
    val bloom = decontaminateBloom(s, dir)
      .select(col("doc_id").as("b_doc"), col("n_flagged_grams"))
    val j = exact.join(bloom, col("doc_id") === col("b_doc"), "full_outer")
    val trainDocs = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(100)) =!= 0)
      .agg(countDistinct(col("doc_id")).as("n_train"))
    // fp·10 ≤ max(10, clean) ⇔ fp ≤ max(1, clean/10): the same cushion
    // the spec uses (fpp=1e-5 × ~150 grams/doc ⇒ per-doc FP ~1.5e-3,
    // far under the 10% cap — see decontaminateBloom's sizing note)
    val bounds = j
      .agg(
        sum(when(col("doc_id").isNull, lit(1L)).otherwise(lit(0L))).as("fp_docs"),
        sum(when(col("doc_id").isNotNull, lit(1L)).otherwise(lit(0L))).as("n_exact"))
      .crossJoin(trainDocs)
      .select((col("fp_docs") * 10 <=
        greatest(lit(10L), col("n_train") - col("n_exact"))).as("fp_within_bound"))
    j.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("n_shared_grams"),
        (col("b_doc").isNotNull &&
          col("n_flagged_grams") >= col("n_shared_grams")).as("bloom_flagged"))
      .crossJoin(broadcast(bounds))
      .orderBy(col("doc_id"))
  }

  private val decontaminateBloomVsExactSql =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, g8 FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(0, len(tk) - 3),
      |        i -> array_to_string(list_slice(tk, i + 1, i + 4), ' '))) AS g8
      |    FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk
      |          FROM documents) t0
      |    WHERE len(tk) >= 4) t1),
      |bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 100 = 0),
      |train AS (SELECT doc_id, g8 FROM g WHERE doc_id % 100 <> 0)
      |SELECT doc_id, count(*) AS n_shared_grams,
      |  TRUE AS bloom_flagged, TRUE AS fp_within_bound
      |FROM train WHERE g8 IN (SELECT g8 FROM bench)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val decontaminateNgramsSql =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, g8 FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(0, len(tk) - 3),
      |        i -> array_to_string(list_slice(tk, i + 1, i + 4), ' '))) AS g8
      |    FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk
      |          FROM documents) t0
      |    WHERE len(tk) >= 4) t1),
      |bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 100 = 0),
      |train AS (SELECT doc_id, g8 FROM g WHERE doc_id % 100 <> 0)
      |SELECT doc_id, count(*) AS n_shared_grams
      |FROM train WHERE g8 IN (SELECT g8 FROM bench)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Multimodal binary columns: opaque payload + typed metadata struct.
    * Decode/feature-extract is stubbed (no image/audio libs in this
    * container) behind [[graft.multimodal.Multimodal]]; the Spark-side
    * plumbing (binary column, metadata struct, deterministic digest,
    * partition-parallel batch shape) is real and oracle-checked here.
    */
  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(col("source").as("origin"), col("lang").as("language"))
          .as("meta"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        col("meta.origin").as("origin"),
        col("meta.language").as("language"))

  private val multimodalMetaSql =
    """SELECT doc_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS digest,
      |  source AS origin, lang AS language
      |FROM documents""".stripMargin

  /** REAL multimodal header extraction, differentially verified: each
    * doc synthesizes a VALID container payload (PNG / JPEG / WAV / GIF
    * by doc_id mod 4, dimensions and audio parameters derived from table
    * fields via [[graft.multimodal.Multimodal.buildPng]]/buildJpeg/
    * buildWav/buildGif), and [[graft.multimodal.Multimodal.parseHeaders]] — a
    * genuine bounds-checked byte-walk parser, not a stub — recovers
    * format, width/height, sample rate and channel count from the BYTES.
    * The oracle computes the expected metadata directly from the same
    * formulas, so the gate proves parse ∘ build = id on every row — the
    * header-sniff stage a 100 TB curation pipeline runs before paying
    * any real decode (filter by resolution/sample-rate from ~40 header
    * bytes). Synthesis is a per-row UDF by design: it stands in for
    * reading binary payloads from storage, not for a compute stage; the
    * PARSE side is the operator under test (partition-parallel
    * mapPartitions, null-safe on garbage — MultimodalIoSpec fuzzes
    * truncations and corrupt magics).
    */
  private def multimodalHeaders(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val synth = udf((docId: Long, nChars: Long) => (docId % 6) match {
      case 0L => mm.buildPng((1 + nChars % 1024).toInt, (1 + docId % 64).toInt)
      case 1L => mm.buildJpeg((1 + nChars % 512).toInt, (1 + docId % 128).toInt)
      case 2L =>
        mm.buildWav((8000L * (1 + (docId / 6) % 4)).toInt,
          (1 + (docId / 6) % 2).toInt)
      case 3L => mm.buildGif((1 + nChars % 1024).toInt, (1 + docId % 256).toInt)
      case 4L => mm.buildMp4((1 + nChars % 2048).toInt, (1 + docId % 512).toInt)
      case _ =>
        // rotate the three WebP dimension encodings so all parse paths
        // face the oracle
        val w = (1 + nChars % 1024).toInt; val h = (1 + docId % 256).toInt
        ((docId / 6) % 3) match {
          case 0L => mm.buildWebpLossy(w, h)
          case 1L => mm.buildWebpLossless(w, h)
          case _  => mm.buildWebpX(w, h)
        }
    })
    val media = Tables
      .documents(s, dir)
      .select(col("doc_id").as("media_id"),
        synth(col("doc_id"), col("n_chars")).as("payload"))
    mm.parseHeaders(media)
      .select(col("media_id").as("doc_id"), col("format"),
        col("width").cast(LongType).as("width"),
        col("height").cast(LongType).as("height"),
        col("sample_rate").cast(LongType).as("sample_rate"),
        col("channels").cast(LongType).as("channels"))
  }

  private val multimodalHeadersSql =
    """SELECT doc_id,
      |  CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |    WHEN 2 THEN 'wav' WHEN 3 THEN 'gif' WHEN 4 THEN 'mp4'
      |    ELSE 'webp' END AS format,
      |  CAST(CASE doc_id % 6 WHEN 0 THEN 1 + n_chars % 1024
      |    WHEN 1 THEN 1 + n_chars % 512
      |    WHEN 3 THEN 1 + n_chars % 1024
      |    WHEN 4 THEN 1 + n_chars % 2048
      |    WHEN 5 THEN 1 + n_chars % 1024 END AS BIGINT) AS width,
      |  CAST(CASE doc_id % 6 WHEN 0 THEN 1 + doc_id % 64
      |    WHEN 1 THEN 1 + doc_id % 128
      |    WHEN 3 THEN 1 + doc_id % 256
      |    WHEN 4 THEN 1 + doc_id % 512
      |    WHEN 5 THEN 1 + doc_id % 256 END AS BIGINT) AS height,
      |  CAST(CASE doc_id % 6 WHEN 2 THEN 8000 * (1 + (doc_id // 6) % 4)
      |    END AS BIGINT) AS sample_rate,
      |  CAST(CASE doc_id % 6 WHEN 2 THEN 1 + (doc_id // 6) % 2
      |    END AS BIGINT) AS channels
      |FROM documents""".stripMargin

  /** Deterministic seeded corpus shuffle into training shards: every doc
    * gets a portable Lehmer-hash position (hash = doc_id·48271 + seed mod
    * 2^31−1 — the same public-constant family as `sample_hash_rows`), a
    * shard assignment (hash mod n_shards), and an EXACT within-shard
    * order rank. This is the reproducible-corpus-order contract training
    * runs need: any engine, any partitioning, any rerun yields the same
    * shard files in the same order. Scale shape: the hash and shard are
    * map-side; the rank window partitions by shard (n_shards-way
    * parallelism, each shard ~N/n_shards rows — at 100 TB pick n_shards
    * ≈ output-file count so the window IS the shard writer's sort).
    */
  private def corpusShardShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = pmod(col("doc_id") * lit(48271L) + lit(12345L), lit(2147483647L))
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        h.as("h"), pmod(h, lit(8)).as("shard"))
      .withColumn("pos",
        (row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
          - 1).cast(LongType))
  }

  private val corpusShardShuffleSql =
    """SELECT doc_id, lang, source, h, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
      |    AS BIGINT) AS pos
      |FROM (SELECT doc_id, lang, source,
      |    ((doc_id * 48271 + 12345) % 2147483647) AS h,
      |    ((doc_id * 48271 + 12345) % 2147483647) % 8 AS shard
      |  FROM documents)""".stripMargin

  def queries: Map[String, Q] = Map(
    "corpus_shard_shuffle" -> Q(corpusShardShuffle _, corpusShardShuffleSql),
    "dedup_exact" -> Q(dedupExact _, dedupExactSql).tag(Headline, Basis),
    "dedup_minhash_sig" -> Q(minhashSignatures _, None),
    "dedup_minhash_portable" -> Q(dedupMinhashPortable _, dedupMinhashPortableSql),
    "dedup_minhash_lsh" -> Q(dedupMinhashLsh _, None).tag(Headline, Basis, Sweep),
    "dedup_minhash_lsh_portable" -> Q(dedupMinhashLshPortable _, dedupMinhashLshPortableSql),
    "dedup_cc_keepers" -> Q(dedupCcKeepers _, dedupCcKeepersSql),
    "dedup_simhash" -> Q(dedupSimhash _, None),
    "dedup_simhash_portable" -> Q(dedupSimhashPortable _, dedupSimhashPortableSql),
    "dedup_ngram_jaccard" ->
      Q(dedupNgramJaccard _, dedupNgramJaccardSql).tag(Headline, Basis, Sweep),
    "dedup_containment" -> Q(dedupContainment _, dedupContainmentSql),
    "dedup_incremental_lsh" ->
      Q(dedupIncrementalLsh _, dedupIncrementalLshSql).tag(Headline, Basis, Sweep),
    "dedup_substring_spans" ->
      Q(dedupSubstringSpans _, dedupSubstringSpansSql).tag(Headline, Basis, Sweep),
    "dedup_substring_cut" -> Q(dedupSubstringCut _, dedupSubstringCutSql),
    "mix_token_budget" -> Q(mixTokenBudget _, mixTokenBudgetSql).tag(Headline, Basis, Sweep),
    "dedup_emb_cosine" -> Q(dedupEmbCosine _, dedupEmbCosineSql).tag(Headline, Basis),
    "dedup_semantic_keep" -> Q(dedupSemanticKeep _, dedupSemanticKeepSql),
    "sample_stratified" -> Q(sampleStratified _, sampleStratifiedSql),
    "sample_weighted" -> Q(sampleWeighted _, sampleWeightedSql),
    "text_tfidf_topk" -> Q(textTfidfTopk _, textTfidfTopkSql).tag(Headline, Basis, Sweep),
    "pack_sequences" -> Q(packSequences _, packSequencesSql).tag(Headline, Basis, Sweep, NoCodegen),
    "chunk_documents" -> Q(chunkDocuments _, chunkDocumentsSql),
    "decontaminate_ngrams" -> Q(decontaminateNgrams _, decontaminateNgramsSql),
    "decontaminate_bloom" -> Q(decontaminateBloom _, None).tag(Sweep),
    "decontaminate_bloom_vs_exact" ->
      Q(decontaminateBloomVsExact _, decontaminateBloomVsExactSql),
    "decontaminate_semantic" ->
      Q(decontaminateSemantic _, decontaminateSemanticSql),
    "sim_cosine_topk" -> Q(simCosineTopk _, simCosineTopkSql).tag(Headline, Basis),
    "sim_ann_lsh_buckets" -> Q(simAnnLshBuckets _, simAnnLshBucketsSql),
    "sim_ivf_topk" -> Q(simIvfTopk _, simIvfTopkSql).tag(Headline, Basis),
    "sim_knn_join" -> Q(simKnnJoin _, simKnnJoinSql).tag(Headline, Basis),
    "emb_pca_power" -> Q(embPcaPower _, embPcaPowerSql).tag(Headline, Basis, Sweep, NoCodegen),
    "emb_pca_two" -> Q(embPcaTwo _, embPcaTwoSql).tag(NoCodegen),
    "cluster_kmeans_step" -> Q(clusterKmeansStep _, clusterKmeansStepSql),
    "split_leakage_safe" -> Q(splitLeakageSafe _, splitLeakageSafeSql).tag(Headline, Basis),
    "split_leakage_audit" -> Q(splitLeakageAudit _, splitLeakageAuditSql),
    "sample_balanced_labels" ->
      Q(sampleBalancedLabels _, sampleBalancedLabelsSql).tag(Headline, Basis, Sweep),
    "dedup_component_stats" -> Q(dedupComponentStats _, dedupComponentStatsSql),
    "dedup_source_matrix" -> Q(dedupSourceMatrix _, dedupSourceMatrixSql),
    "sim_ivfpq_topk" -> Q(simIvfpqTopk _, simIvfpqTopkSql).tag(Headline, Basis),
    "sim_pq_recall" -> Q(simPqRecall _, simPqRecallSql).tag(Headline),
    "sim_pq_rerank_recall" -> Q(simPqRerankRecall _, simPqRerankRecallSql).tag(Headline),
    "sim_sq8_topk" -> Q(simSq8Topk _, simSq8TopkSql).tag(Headline, Sweep),
    "sim_sq8_recall" -> Q(simSq8Recall _, simSq8RecallSql).tag(Headline, Sweep),
    "sim_ivfsq8_topk" -> Q(simIvfSq8Topk _, simIvfSq8TopkSql).tag(Headline, Sweep),
    "sim_ivfsq8_recall" -> Q(simIvfSq8Recall _, simIvfSq8RecallSql).tag(Headline),
    "sim_ivfsq8_rerank" -> Q(simIvfSq8Rerank _, simIvfSq8RerankSql).tag(Headline, Sweep),
    "sim_binary_topk" -> Q(simBinaryTopk _, simBinaryTopkSql).tag(Headline, Sweep),
    "sim_binary_recall" -> Q(simBinaryRecall _, simBinaryRecallSql).tag(Headline),
    "sim_matryoshka_topk" -> Q(simMatryoshkaTopk _, simMatryoshkaTopkSql).tag(Headline, Sweep),
    "sim_matryoshka_recall" -> Q(simMatryoshkaRecall _, simMatryoshkaRecallSql).tag(Headline),
    "sim_ivf_recall" -> Q(simIvfRecall _, simIvfRecallSql).tag(Headline),
    "sim_lsh_recall" -> Q(simLshRecall _, simLshRecallSql).tag(Headline, Basis),
    "sim_mmr_rerank" -> Q(simMmrRerank _, simMmrRerankSql).tag(NoCodegen),
    "sim_hard_negatives" -> Q(simHardNegatives _, simHardNegativesSql),
    "emb_label_quality" -> Q(embLabelQuality _, embLabelQualitySql),
    "emb_quantize" -> Q(embQuantize _, embQuantizeSql),
    "dedup_semantic" -> Q(dedupSemantic _, dedupSemanticSql),
    "multimodal_meta" -> Q(multimodalMeta _, multimodalMetaSql),
    "multimodal_headers" -> Q(multimodalHeaders _, multimodalHeadersSql).tag(Headline, Basis)
  )
}
