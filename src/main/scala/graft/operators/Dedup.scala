package graft.operators

import graft.Materialize
import graft.functions.{MinHash64, PolyHash31}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Near-duplicate detection, written once (cf. nvtext `minhash.hpp:72`
  * and `jaccard.hpp:73`): word-3-gram shingles, MinHash signatures, LSH
  * band hashes and pair verifiers, each Spark piece next to its DuckDB
  * twin, then keeper resolution over the candidate pairs. The banding
  * policy itself (band explode, hot-bucket cap, bucket self-join, pair
  * distinct) is [[Banding]]; the `dedup_*` query rows and their oracle
  * statements live in `queries.LlmOps` and call this module, as do the
  * curation funnel, the training-data pipeline and the streaming
  * near-dedup.
  *
  * Two signature families:
  *   - native: [[graft.functions.MinHash64]] (one XXH64 per shingle plus
  *     per-permutation mixing), banded by xxhash64 — the throughput path;
  *   - portable: the seeded polynomial char hash. Each shingle is folded
  *     once by [[graft.functions.PolyHash31]] into `pp` (the seed-0 fold)
  *     and `ww` (31^len), both mod M = 1e9+7; the seed-s hash is then
  *     (s·ww + pp) mod M, the same residue a per-seed fold gives. DuckDB
  *     replicates it bit for bit, so every portable row is oracled.
  *
  * Keeper resolution is connected components by iterative min-label
  * propagation with pointer doubling (the standard large-graph
  * technique). Each iteration does a one-hop neighbor-min pass AND a
  * label(label(v)) shortcut pass — both shuffles on compact (id, label)
  * pairs — so the frontier at least doubles per round: genuinely
  * O(log(cluster diameter)) rounds, which covers diameter 2^maxIter. If
  * the budget is somehow exhausted before convergence the call FAILS
  * rather than silently returning partial components (a wrong answer
  * the caller can't detect).
  */
object Dedup {

  // ------------------------------------------------------------ shingles

  /** Distinct word-3-gram shingles over an already-projected token array
    * column — the discriminative unit for MinHash (unigram token sets are
    * near-identical under a small vocabulary).
    *
    * The tokens must be their own column ([[withShingles]]): referencing
    * `split(text)` inside the lambda would re-split the text per element
    * — O(tokens²) per document, measured ~20× slower at sf0.1. A
    * multi-referenced alias survives CollapseProject, so the split really
    * runs once per row.
    */
  private def shinglesOfToks(toks: Column): Column =
    // Docs with <3 tokens have no 3-shingles. The guard is load-bearing:
    // sequence(1, 0) defaults its step to -1 and yields [1, 0], whose
    // element_at(toks, 0) throws under ANSI mode (and diverges from the
    // oracle's empty range(1, 1)).
    when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(
          sequence(lit(1), size(toks) - 2),
          i => concat_ws("_", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2)))))

  /** `df`'s `keep` columns plus `tk`, the distinct word-3-gram shingles
    * of `text`, with the split run once in its own projection.
    */
  def withShingles(df: DataFrame, keep: Seq[String] = Seq("doc_id")): DataFrame =
    df.select(keep.map(col) :+ Text.words(col("text")).as("toks"): _*)
      .select(keep.map(col) :+ shinglesOfToks(col("toks")).as("tk"): _*)

  /** [[withShingles]] plus the portable prehash of every shingle:
    * `keep` columns, `tk`, `pp` (seed-0 fold), `ww` (31^len) and `hs`
    * (the distinct `pp` set, the n-gram verifiers' payload). One native
    * fold per shingle; `ph` is its own projection so the field reads
    * share one evaluation. Callers select the columns they use.
    */
  def prehashed(docs: DataFrame, keep: Seq[String] = Seq("doc_id")): DataFrame =
    withShingles(docs, keep)
      .select(keep.map(col) ++ Seq(col("tk"), PolyHash31.polyhash31(col("tk")).as("ph")): _*)
      .select(keep.map(col) ++ Seq(col("tk"), col("ph.pp").as("pp"), col("ph.ww").as("ww"),
        array_distinct(col("ph.pp")).as("hs")): _*)

  /** DuckDB twin of [[prehashed]] over `src` (any CTE or table with
    * doc_id + text): `grams(doc_id, tk)` and `prehashed(doc_id, tk, pp,
    * ww)`.
    */
  def prehashCtes(src: String): String =
    s"""grams AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(${Text.wordsSql}) - 2, 0) + 1),
      |      i -> concat(${Text.wordsSql}[i], '_',
      |                  ${Text.wordsSql}[i + 1], '_',
      |                  ${Text.wordsSql}[i + 2]))) AS tk
      |  FROM $src),
      |prehashed AS (
      |  SELECT doc_id, tk,
      |    list_transform(tk, g ->
      |      ${PolyHash31.foldSql("g")}) AS pp,
      |    list_transform(tk, g ->
      |      list_reduce(
      |        list_prepend(CAST(1 AS BIGINT), range(1, length(g) + 1)),
      |        (w, i) -> (w * 31) % 1000000007)) AS ww
      |  FROM grams)""".stripMargin

  // ---------------------------------------------------------- signatures

  /** The portable MinHash: for each seed s in 0 until `seeds`, the
    * minimum over the shingles of (s·ww + pp) mod M. Reads `pp` and `ww`
    * ([[prehashed]]); every slot is null for a doc with no shingles. 16
    * seeds make the signatures, 4 the n-gram family's one-row bands.
    */
  def seededPolyMin(seeds: Int): Column = expr(
    s"""transform(sequence(0, ${seeds - 1}), p ->
      |  array_min(zip_with(pp, ww,
      |    (h, w) -> (CAST(p AS BIGINT) * w + h) % 1000000007)))""".stripMargin)

  /** DuckDB twin of one [[seededPolyMin]] slot: the minimum of the
    * `seed`-seeded hash over a row's `pp` and `ww` lists.
    */
  def polyMinSql(seed: String): String =
    s"""list_min(list_transform(range(1, len(pp) + 1),
      |  i -> (CAST($seed AS BIGINT) * ww[i] + pp[i]) % 1000000007))""".stripMargin

  /** DuckDB twin of [[seededPolyMin]]. */
  def seededPolyMinSql(seeds: Int): String =
    s"list_transform(range(0, $seeds), p -> ${polyMinSql("p")})"

  // ------------------------------------------------- bands and verifiers

  /** xxhash64 of each of the 4 four-row bands of the 16-slot `mh`. */
  private def xxhashBands: Column =
    expr("transform(sequence(0, 3), b -> xxhash64(mh[b*4], mh[b*4+1], mh[b*4+2], mh[b*4+3]))")

  /** The polynomial fold (×31 mod M) of each of the 4 four-row bands of
    * the 16-slot `mh`: the portable twin of [[xxhashBands]].
    */
  private def polyBands: Column = expr(
    """transform(sequence(0, 3), b ->
      |  (((mh[b*4] * 31 + mh[b*4+1]) % 1000000007 * 31 + mh[b*4+2])
      |    % 1000000007 * 31 + mh[b*4+3]) % 1000000007)""".stripMargin)

  /** (id_a, id_b, est_jaccard): the fraction of the 16 signature slots
    * on which the pair's `mh_a` and `mh_b` agree.
    */
  def bandAgreement(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
      expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v)) / CAST(16 AS DOUBLE)")
        .as("est_jaccard"))

  /** Exact jaccard of the pair's hashed-shingle sets `hs_a` and `hs_b`. */
  def setJaccard: Column =
    size(array_intersect(col("hs_a"), col("hs_b"))).cast(DoubleType) /
      size(array_union(col("hs_a"), col("hs_b")))

  // ------------------------------------------------------ MinHash-LSH pairs

  /** MinHash-LSH near-dup candidate pairs over (doc_id, text) `docs`:
    * native 16-slot signatures in 4 bands × 4 rows; docs sharing any
    * band bucket become candidates, and est_jaccard is the matching
    * slot fraction. Scales as O(n · bands) shuffle on band keys. Bands
    * holding more than `maxBucket` docs are dropped
    * ([[Banding.candidatePairs]]).
    */
  def lshCandidatePairs(docs: DataFrame, maxBucket: Int): DataFrame =
    bandAgreement(Banding.candidatePairs(
      withShingles(graft.Scans.fanOut(docs))
        .select(col("doc_id"), MinHash64.minhash64(col("tk"), 16).as("mh")),
      "doc_id", Seq("mh"), xxhashBands, maxBucket))

  /** The portable twin of [[lshCandidatePairs]] (16 seeded poly-min
    * slots, polynomial bands, cap 1000) with the 0.75 est_jaccard
    * threshold applied, so DuckDB replicates signatures, buckets, cap,
    * candidates and estimate bit for bit ([[lshPortableCtes]]).
    */
  def lshPortablePairs(docs: DataFrame): DataFrame = {
    val sigs = prehashed(graft.Scans.fanOut(docs))
      .select(col("doc_id"), seededPolyMin(16).as("mh"))
    bandAgreement(Banding.candidatePairs(sigs, "doc_id", Seq("mh"), polyBands, maxBucket = 1000))
      .filter(col("est_jaccard") >= 0.75)
  }

  /** DuckDB twin of [[lshPortablePairs]] as a CTE-chain fragment over
    * `src` (any CTE or table with doc_id + text), ending in
    * `lshcand(id_a, id_b, est_jaccard)`; embeddable in larger oracle
    * statements.
    */
  def lshPortableCtes(src: String): String =
    s"""${prehashCtes(src)},
      |sigs AS (
      |  SELECT doc_id,
      |    ${seededPolyMinSql(16)} AS mh
      |  FROM prehashed),
      |banded AS (
      |  SELECT doc_id, mh, band,
      |    (((mh[band*4 + 1] * 31 + mh[band*4 + 2]) % 1000000007 * 31
      |      + mh[band*4 + 3]) % 1000000007 * 31 + mh[band*4 + 4])
      |      % 1000000007 AS bucket
      |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands
      |  WHERE mh[1] IS NOT NULL),
      |capped AS (
      |  SELECT * FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000),
      |lshpairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |lshcand AS (
      |  SELECT p.id_a, p.id_b,
      |    CAST(len(list_filter(list_transform(range(1, 17),
      |      i -> sa.mh[i] = sb.mh[i]), v -> v)) AS DOUBLE) / 16 AS est_jaccard
      |  FROM lshpairs p
      |    JOIN sigs sa ON sa.doc_id = p.id_a
      |    JOIN sigs sb ON sb.doc_id = p.id_b
      |  WHERE CAST(len(list_filter(list_transform(range(1, 17),
      |      i -> sa.mh[i] = sb.mh[i]), v -> v)) AS DOUBLE) / 16 >= 0.75)""".stripMargin

  // ----------------------------------------------------- n-gram verifiers

  /** Per-document (doc_id, hs, pp, ww) for the n-gram family: the
    * distinct hashed-shingle set `hs` is the verify payload (a bigint
    * weighs a fraction of a `tokA_tokB_tokC` string, and the oracle
    * computes the identical fold), `pp`/`ww` feed the bands.
    */
  private def hashedSets(docs: DataFrame): DataFrame =
    prehashed(docs).select(col("doc_id"), col("hs"), col("pp"), col("ww"))

  /** Banded LSH candidate pairs with both docs' hashed-shingle sets
    * attached — (id_a, id_b, hs_a, hs_b) — shared by the jaccard and
    * containment verifiers. The n-gram family bands one minhash per
    * band: band b's bucket is the seed-b poly-min, so a pair is a
    * candidate with probability 1-(1-J)^4; every candidate is then
    * verified exactly, so false candidates cost work, never correctness.
    */
  private def candidatePairSets(docs: DataFrame, maxBucket: Int): DataFrame =
    Banding.candidatePairs(hashedSets(graft.Scans.fanOut(docs)),
      "doc_id", Seq("hs"), seededPolyMin(4), maxBucket)

  /** Exact hashed-3-gram-set jaccard on the banded candidates, kept at
    * ≥ 0.2 (the verify stage of `nvtext/jaccard.hpp:73`: pairwise only
    * within candidates). Jaccard over hashed sets equals jaccard over
    * shingle sets unless two distinct shingles of the same doc pair
    * collide mod M (odds ~10⁻³ per pair at ~2·10³ shingles, and both
    * engines agree regardless).
    */
  def ngramJaccardPairs(docs: DataFrame, maxBucket: Int): DataFrame =
    candidatePairSets(docs, maxBucket)
      .select(col("id_a"), col("id_b"), setJaccard.as("jaccard3"))
      .filter(col("jaccard3") >= 0.2)

  /** Containment on the same candidates as [[ngramJaccardPairs]]:
    * cont_a = |A∩B|/|A| and cont_b = |A∩B|/|B|, rounded to 6 dp, kept
    * when the larger is ≥ 0.5. Containment is ~1 for a doc quoted
    * wholesale inside another even when their jaccard stays low; the
    * candidates still come from the jaccard-driven bands.
    */
  def containmentPairs(docs: DataFrame, maxBucket: Int): DataFrame =
    candidatePairSets(docs, maxBucket)
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast(DoubleType).as("inter"),
        size(col("hs_a")).as("na"), size(col("hs_b")).as("nb"))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / col("na"), 6).as("cont_a_6dp"),
        round(col("inter") / col("nb"), 6).as("cont_b_6dp"))
      .filter(greatest(col("cont_a_6dp"), col("cont_b_6dp")) >= 0.5)

  /** DuckDB twin of the n-gram family's bands over `documents`: the
    * prehash, then `hsets(doc_id, hs)` and the uncapped
    * `banded(doc_id, band, bucket)`.
    */
  val ngramBandCtes: String =
    s"""WITH ${prehashCtes("documents")},
      |hsets AS (
      |  SELECT doc_id, list_distinct(pp) AS hs FROM prehashed),
      |banded AS (
      |  SELECT doc_id, band,
      |    ${polyMinSql("band")} AS bucket
      |  FROM prehashed CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands
      |  WHERE len(tk) > 0)""".stripMargin

  /** [[ngramBandCtes]] plus the capped self-join `pairs(id_a, id_b)` —
    * the DuckDB twin of [[candidatePairSets]].
    */
  val ngramCandidateCtes: String =
    ngramBandCtes + """,
      |capped AS (
      |  SELECT * FROM banded
      |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** Writes a corpus LSH index under `path`: the capped (band, bucket,
    * doc_id) rows at `path`/buckets and the (doc_id, hs) signature store
    * at `path`/sigs. The cap (1000) is a property of the stored index.
    */
  def buildLshIndex(corpus: DataFrame, path: String): Unit = {
    val pre = hashedSets(corpus)
    Banding.capHotBuckets(Banding.bands(pre, "doc_id", Nil, seededPolyMin(4)), 1000)
      .write.mode("overwrite").parquet(path + "/buckets")
    pre.select(col("doc_id"), col("hs"))
      .write.mode("overwrite").parquet(path + "/sigs")
  }

  /** (id_d, id_c, jaccard3 ≥ 0.2): the pairs of a delta batch against a
    * [[buildLshIndex]] index at `idxDir`, without re-scanning corpus
    * text. The delta is the a side of the bucket join, the index side is
    * compact ids (a small delta broadcasts, so the index streams
    * map-side), and the corpus signature re-attaches by id after the
    * pair distinct.
    */
  def incrementalLshPairs(s: SparkSession, deltaDocs: DataFrame, idxDir: String): DataFrame = {
    val delta =
      Banding.bands(hashedSets(deltaDocs), "doc_id", Seq("hs"), seededPolyMin(4))
        .select(col("band"), col("bucket"), col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val joined = delta.join(
      s.read.parquet(idxDir + "/buckets").withColumnRenamed("doc_id", "id_b"),
      Seq("band", "bucket"))
    Banding.withB(Banding.distinctPairs(joined, Seq("hs")),
        s.read.parquet(idxDir + "/sigs"), "doc_id", Seq("hs"))
      .select(col("id_a").as("id_d"), col("id_b").as("id_c"), setJaccard.as("jaccard3"))
      .filter(col("jaccard3") >= 0.2)
  }

  // ---------------------------------------------------- keeper resolution

  /** pairs(id_a, id_b) → (doc_id, keeper) where keeper is the smallest
    * doc id in the connected near-dup cluster. Singleton docs are their
    * own keeper (absent from the output; join with a default).
    *
    * Every frame the loop pins is released when the call returns except
    * the final labels cut backing the result, and all of them when it
    * throws (`Materialize.releasing`); each round's scope frees that
    * round's `hopped` cache once the next labels are materialized.
    */
  def resolveKeepers(pairs: DataFrame, maxIter: Int = 10): DataFrame = Materialize.releasing {
    // Both edge directions via one map-side explode — NOT
    // union(pairs, pairs.swapped), which would execute the (possibly
    // expensive: a whole LSH pipeline) upstream plan twice before the
    // cache materializes.
    val edges = Materialize.cached(pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct(), "Dedup.edges")
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label"))
    var iter = 0
    var converged = false
    // Joinless convergence detector: every update is a least(...), so
    // labels are monotonically NON-INCREASING — the label sum strictly
    // decreases iff any label changed this round. Decimal(38,0) keeps the
    // sum exact far past any realistic (rows × id-magnitude) product.
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("label").cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)
    var prevSum = labelSum(labels)
    while (iter < maxIter && !converged) {
      val (next, curSum) = Materialize.releasing {
        // propagate: my new label = min(my label, labels of my neighbors)
        val neighborLabels = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("label")).as("nlabel"))
        // cached: BOTH sides of the pointer-doubling self-join below read
        // hopped — uncached, the join+groupBy propagate plan would execute
        // twice per round
        val hopped = Materialize.cached(labels
          .join(neighborLabels, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")),
          "Dedup.hopped")
        // pointer doubling: shortcut to my label's own label. label(v) is a
        // reachable id and only ever decreases, so label(label(v)) is also
        // reachable and ≤ label(v) — taking it keeps the min-of-component
        // fixed point while letting the known-min frontier double per round
        // instead of advancing one hop.
        val parents = hopped
          .select(col("id").as("label"), col("label").as("plabel"))
        // a `step` cut truncates the lineage each round — without it the
        // plan deepens per iteration (re-resolved from scratch on any
        // recompute, and analysis cost itself grows superlinearly)
        val next = Materialize.step(hopped
          .join(parents, Seq("label"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("plabel"), col("label"))).as("label")),
          "Dedup.labels")
        (next, labelSum(next)) // also materializes the cut
      }
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveKeepers did not converge within $maxIter iterations — " +
          s"component diameter exceeds 2^$maxIter; raise maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("keeper"))
  }

  /** Full pipeline: docs + candidate pairs → deduplicated corpus
    * (keeps the keeper doc of every cluster plus all singletons).
    */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val keepers = resolveKeepers(pairs)
    docs
      .join(keepers, Seq("doc_id"), "left")
      .filter(col("keeper").isNull || col("keeper") === col("doc_id"))
      .drop("keeper")
  }
}
