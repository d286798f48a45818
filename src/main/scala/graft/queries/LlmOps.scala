package graft.queries

import graft.{Q, Tables}
import graft.Tag.{Basis, Headline, NoCodegen, Sweep}
import graft.operators.{Banding, Dedup, Similarity, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-data-pipeline operators (the engine's north-star extensions,
  * BASELINE.json): deduplication (exact, MinHash+LSH, SimHash, n-gram
  * jaccard — cf. nvtext minhash.hpp:72, jaccard.hpp:73), embedding-space
  * dedup, clustering and decontamination, and multimodal binary-column
  * plumbing.
  *
  * This is the query catalogue: the `dedup_*` rows and their oracle
  * statements live here, while shingles, signatures, band hashes, pair
  * verifiers and their DuckDB twins are [[graft.operators.Dedup]]'s;
  * the `sim_*` rows are [[Ann]]'s, and vector search and its twins
  * [[graft.operators.Similarity]]'s.
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
    val planes = Similarity.hyperplanes(8, 64, 64)
    def bandBucket(band: Int): Column =
      Similarity.signBits(col("e"), planes.slice(band * 4, band * 4 + 4), i => 1 << (3 - i))
    // The plane arrays are exactly 64-wide: DotF64 folds min(len) terms,
    // so a wider embedding table would SILENTLY project onto the first
    // 64 dims (both engines agree — the oracle stays green while bucket
    // quality quietly degrades). Fail loudly instead.
    val dims = Ann.uniformDims(s, dir, "dedupEmbCosine planes")
    require(dims == 64, s"dedupEmbCosine planes are built for 64-dim embeddings, got $dims")
    // squared norm hoisted per vector (identical arithmetic to the
    // per-pair form, just computed once); native dot = the oracle's
    // ascending-index fold, bit for bit
    val sigs = Ann.embVectors(s, dir).select(col("vec_id"), col("e"), dotf64(col("e"), col("e")).as("n2"))
    Banding.verifiedPairs(sigs, "vec_id", Seq("e", "n2"),
        array(bandBucket(0), bandBucket(1)), maxBucket = 200) {
      _.select(col("id_a"), col("id_b"),
          (dotf64(col("e_a"), col("e_b")) / (sqrt(col("n2_a")) * sqrt(col("n2_b")))).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine_6dp"))
    }
  }

  private val dedupEmbCosineSql =
    s"""WITH ev AS ${Similarity.embDoubleSql()},
      |banded AS (
      |  SELECT vec_id, e, ${Similarity.sqNormSql("e")} AS n2, band,
      |    ${Similarity.signBitsSql(4, "64", "(band * 4 + p) * 64 + j", "3 - p")} AS bucket
      |  FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS band) bands),
      |capped AS (
      |  SELECT * FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 200),
      |scored AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    ${Similarity.dotSql("a.e", "b.e")} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT DISTINCT id_a, id_b, round(cos, 6) AS cosine_6dp
      |FROM scored WHERE cos >= 0.4""".stripMargin

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
       |  SELECT xq.label, CAST(xq AS DOUBLE[]) AS xd, CAST(cent AS DOUBLE[]) AS cd
       |  FROM xq JOIN cent ON xq.label = cent.label),
       |c AS (SELECT label, ${Similarity.cosineSql("xd", "cd")} AS cos FROM j)
       |SELECT label, count(*) AS n_vecs,
       |  round(${graft.Agg.dsumSql("cos", 6)} / count(*), 6) AS avg_cos_6dp
       |FROM c GROUP BY label""".stripMargin

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
    val cRows = Ann.ivfCentroids(s, dir)
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

  /** DuckDB twin: the IVF assignment ([[Similarity.ivfAssignCtes]]),
    * then per-(cell, dim) count + fixed-point mean via the lateral
    * `unnest(range(...))` index walk.
    */
  private val clusterKmeansStepSql =
    s"""WITH ev AS ${Similarity.embDoubleSql()},
      |${Similarity.ivfAssignCtes(8)}
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
    Ann.uniformDims(s, dir, "dedupSemanticKeep")
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.embDouble.as("embedding"))
    val cRows = Ann.ivfCentroids(s, dir)
    Similarity.semanticDedupKeep(emb, cRows, tau = 0.35)
  }

  /** DuckDB twin: the IVF assignment ([[Similarity.ivfAssignCtes]],
    * with its winning sim) and the within-cell pair/dominance logic.
    */
  private val dedupSemanticKeepSql =
    s"""WITH ev AS ${Similarity.embDoubleSql()},
      |${Similarity.ivfAssignCtes(8)},
      |m AS (
      |  SELECT vec_id, cell_id, e, ${Similarity.sqNormSql("e")} AS n2,
      |    top_sim / ${Similarity.normSql("e")} AS cc
      |  FROM assigned),
      |near AS (
      |  SELECT a.vec_id AS id_a, a.cc AS ca, b.vec_id AS id_b, b.cc AS cb
      |  FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
      |  WHERE ${Similarity.dotSql("a.e", "b.e")} / (sqrt(a.n2) * sqrt(b.n2)) >= 0.35),
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
    s"""WITH e AS ${Similarity.embDoubleSql("vec_id, label")},
      |b AS (SELECT e AS be, ${Similarity.normSql("e")} AS bn
      |  FROM e WHERE label = 7),
      |c AS (SELECT vec_id, e, ${Similarity.normSql("e")} AS en
      |  FROM e WHERE label <> 7),
      |m AS (
      |  SELECT vec_id, max(${Similarity.dotSql("e", "be")} / (en * bn)) AS mc
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

  /** The corpus near-dup PAIR set as a persisted artifact — written once
    * per dataset per JVM ([[graft.DimCache]], the same write-once/
    * query-many contract as the incremental LSH index and the PQ codes).
    * A real pipeline materializes candidate pairs exactly once and
    * derives BOTH dedup decisions and leakage-safe splits from them;
    * re-running the full shingle→minhash→band pipeline for every
    * consumer re-pays the whole corpus each time: the pipeline cost, not
    * the split cost.
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
    s"""WITH e0 AS ${Similarity.embDoubleSql()},
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
    val bucket = Ann.planeBucket8(s, dir)
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
    s"""WITH e0 AS ${Similarity.embDoubleSql()},
      |b AS (SELECT vec_id, e, ${Ann.planeBucket8Sql} AS bucket FROM e0),
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
      |    ${Similarity.l2SqSql("b.e", "ct.cv")} AS dist2
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
        explode(Text.tokens(col("text"))).as("tok"))
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
    s"""WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS cnt FROM (
      |    SELECT doc_id, unnest(${Text.tokensSql()}) AS tok
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
        size(Text.tokens(col("text"))).cast("long").as("n_toks"))
    graft.operators.Packing
      .packGreedy(docs, "lang", Seq("doc_id"), "n_toks", budget = 200L)
      .select(col("doc_id"), col("lang"), col("n_toks"),
        col("pack_id"), col("pack_pos"))
  }

  private val packSequencesSql =
    s"""WITH RECURSIVE docs AS (
      |  SELECT doc_id, lang,
      |    CAST(len(${Text.tokensSql()}) AS BIGINT) AS n_toks,
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
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
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
       |  SELECT doc_id, ${Text.tokensSql()} AS tk,
       |    len(${Text.tokensSql()}) AS n
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
    def grams(df: DataFrame): DataFrame = Text.wordNgrams(df, 4, Seq("doc_id"))
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
    def grams(df: DataFrame): DataFrame = Text.wordNgrams(df, 4, Seq("doc_id"))
    val docs = Tables.documents(s, dir)
    // Native Catalyst bloom: the sketch is built by the same
    // BloomFilterAggregate Spark's runtime row-filters use (a
    // distributed partial/final aggregate over xxhash64 of each gram)
    // and probed with BloomFilterMightContain, which evaluates INSIDE
    // whole-stage codegen with no string boxing: the 100 TB probe side
    // is a pure generated-code scan. Not public SQL surface in Spark 4,
    // so the expressions are wrapped via graftbridge.ColumnBridge (the
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
    s"""WITH g AS (
      |  SELECT DISTINCT doc_id, g8 FROM (
      |    ${Text.wordNgramsSql("documents", 4)}) t1),
      |bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 100 = 0),
      |train AS (SELECT doc_id, g8 FROM g WHERE doc_id % 100 <> 0)
      |SELECT doc_id, count(*) AS n_shared_grams,
      |  TRUE AS bloom_flagged, TRUE AS fp_within_bound
      |FROM train WHERE g8 IN (SELECT g8 FROM bench)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val decontaminateNgramsSql =
    s"""WITH g AS (
      |  SELECT DISTINCT doc_id, g8 FROM (
      |    ${Text.wordNgramsSql("documents", 4)}) t1),
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
    "emb_pca_power" -> Q(embPcaPower _, Similarity.pcaPowerTopComponentSql(5)).tag(Headline, Basis, Sweep, NoCodegen),
    "emb_pca_two" -> Q(embPcaTwo _, Similarity.pcaPowerTwoComponentsSql(5)).tag(NoCodegen),
    "cluster_kmeans_step" -> Q(clusterKmeansStep _, clusterKmeansStepSql),
    "split_leakage_safe" -> Q(splitLeakageSafe _, splitLeakageSafeSql).tag(Headline, Basis),
    "split_leakage_audit" -> Q(splitLeakageAudit _, splitLeakageAuditSql),
    "sample_balanced_labels" ->
      Q(sampleBalancedLabels _, sampleBalancedLabelsSql).tag(Headline, Basis, Sweep),
    "dedup_component_stats" -> Q(dedupComponentStats _, dedupComponentStatsSql),
    "dedup_source_matrix" -> Q(dedupSourceMatrix _, dedupSourceMatrixSql),
    "emb_label_quality" -> Q(embLabelQuality _, embLabelQualitySql),
    "emb_quantize" -> Q(embQuantize _, embQuantizeSql),
    "dedup_semantic" -> Q(dedupSemantic _, dedupSemanticSql),
    "multimodal_meta" -> Q(multimodalMeta _, multimodalMetaSql),
    "multimodal_headers" -> Q(multimodalHeaders _, multimodalHeadersSql).tag(Headline, Basis)
  )
}

