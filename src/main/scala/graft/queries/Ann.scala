package graft.queries

import graft.{Q, Tables}
import graft.Tag.{Basis, Headline, NoCodegen, Sweep}
import graft.operators.Similarity
import graft.operators.Similarity.{boundsCtes, cosineSql, cosineTopKSql, embDoubleSql,
  ivfAssignCtes, normSql, sq8GridCte, sq8RoundTripSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The approximate-nearest-neighbour rows: the 20 `sim_*` queries over
  * the embeddings table and their DuckDB oracles. Each ANN tier (IVF,
  * SQ8, IVF,SQ8, PQ/ADC, binary, matryoshka prefix, SRP-LSH buckets)
  * builds its index here from [[graft.operators.Similarity]]'s encoders
  * and scores, and every oracle reads Similarity's twin of each piece.
  *
  * This module also owns the dataset's ANN dimensions (widths, the query
  * sample, IVF centroids, SQ8 bounds, PQ codebooks) and the persisted
  * indexes, each one [[graft.DimCache]] key read by the batch rows here,
  * the vector rows of [[LlmOps]] and the streaming encoders of
  * [[StreamingGate]].
  */
object Ann {

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
  private[graft] def uniformDims(s: SparkSession, dir: String, tier: String,
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
  private[graft] val PqK = 16
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

  /** The 8-plane bucket of `sim_ann_lsh_buckets` and `dedup_semantic`:
    * plane p at bit weight 2^p, seed stride 1024.
    */
  private[graft] def planeBucket8(s: SparkSession, dir: String): Column = {
    val dims = uniformDims(s, dir, "hyperplane bucketing")
    // Wider embeddings would silently correlate the hyperplanes (both
    // engines agree, so the oracle would stay green while bucket
    // quality degrades). dims >= 1 also keeps the per-row index folds
    // off the sequence(0, -1) ANSI trap.
    require(dims >= 1 && dims <= 1024,
      s"plane seed stride supports 1 <= dims <= 1024, got $dims")
    Similarity.signBits(col("e"), Similarity.hyperplanes(8, dims, 1024), p => 1 << p)
  }

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
    val planes = Similarity.hyperplanes(4, 64, 64)
    def bucketOf(v: Column): Column = Similarity.signBits(v, planes, i => 1 << (3 - i))
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

  // ------------------------------------------------------ DuckDB twins
  //
  // Every twin reads the Similarity fragments beside the Spark pieces it
  // mirrors: the embedding cast, the folds, the IVF assignment, the PQ
  // codes, the SQ8 bounds and grid, the binary pack and the recall
  // certifier. The single-query rows query vec_id 0, the recall rows
  // the sample vec_id < 8 against the corpus vec_id >= 8.

  /** The single-query rows' query: vec_id 0 as (qid, qe). */
  private val query0Cte = "q AS (SELECT vec_id AS qid, e AS qe FROM ev WHERE vec_id = 0)"

  /** DuckDB twin of [[recallAt10]]: `tier`'s CTEs define `approx(qid,
    * vec_id, score)` over `ev`, `q` (the sample) and `corpus`; `result`
    * reads the `recall` CTE.
    */
  private def recallAt10Sql(tier: String, metric: Similarity.Metric,
      result: String = "SELECT qid, n_hits, recall_ppm FROM recall"): String =
    s"""WITH ev AS ${embDoubleSql()},
      |q AS (SELECT vec_id AS qid, e AS qe FROM ev WHERE vec_id < 8),
      |corpus AS (SELECT vec_id, e FROM ev WHERE vec_id >= 8),
      |exact AS (${Similarity.exactScoresSql("corpus", "q", metric)}),
      |$tier,
      |${Similarity.recallAtSql("q", "exact", "approx", 10, metric)}
      |$result""".stripMargin

  private val simCosineTopkSql =
    s"""WITH ev AS ${embDoubleSql()},
      |$query0Cte,
      |top AS (
      |  ${cosineTopKSql("vec_id", "e", "ev, q WHERE vec_id <> 0", 10)})
      |SELECT vec_id, round(cosine, 6) AS cosine_6dp
      |FROM top ORDER BY cosine DESC, vec_id""".stripMargin

  /** DuckDB twin of [[planeBucket8]] over `e`. */
  private[graft] val planeBucket8Sql: String =
    Similarity.signBitsSql(8, "len(e)", "p * 1024 + j", "p")

  private val simAnnLshBucketsSql =
    s"""WITH ev AS ${embDoubleSql()},
      |b AS (SELECT vec_id, $planeBucket8Sql AS bucket FROM ev)
      |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_vectors,
      |  min(vec_id) AS min_vec_id
      |FROM b GROUP BY bucket""".stripMargin

  /** The chained greedy steps MUST be `AS MATERIALIZED`: DuckDB inlines
    * CTEs by default, and step k references p(k-1) twice (the candidate
    * filter and the list append), so the un-materialized plan tree
    * doubles per step — 2¹⁰ copies of the corpus scan (observed as a
    * >10-minute oracle before the hint; milliseconds after).
    */
  private val simMmrRerankSql = {
    val candPrefix =
      s"""WITH ev AS MATERIALIZED ${embDoubleSql()},
        |qv AS MATERIALIZED (SELECT e AS qe FROM ev WHERE vec_id = 0),
        |cand AS MATERIALIZED (
        |  SELECT vec_id AS id, e,
        |    CAST(floor(${cosineSql("e", "qe")} * 1e6) AS BIGINT) AS rel
        |  FROM ev, qv WHERE vec_id <> 0
        |  ORDER BY rel DESC, vec_id LIMIT 50),
        |psim AS MATERIALIZED (
        |  SELECT a.id AS ia, b.id AS ib,
        |    CAST(floor(${cosineSql("a.e", "b.e")} * 1e6) AS BIGINT) AS s
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

  private val simLshRecallSql = recallAt10Sql(
    s"""bucketed AS (
      |  SELECT vec_id, e, ${Similarity.signBitsSql(4, "64", "p * 64 + j", "3 - p")} AS bucket
      |  FROM ev),
      |approx AS (
      |  SELECT qb.vec_id AS qid, c.vec_id, ${cosineSql("qb.e", "c.e")} AS score
      |  FROM bucketed qb JOIN bucketed c ON c.bucket = qb.bucket
      |  WHERE qb.vec_id < 8 AND c.vec_id >= 8),
      |nc AS (SELECT qid, count(*) AS nc FROM approx GROUP BY qid)""".stripMargin,
    Similarity.CosineMetric,
    """SELECT r.qid, coalesce(nc, 0) AS n_candidates, n_hits, recall_ppm
      |FROM recall r LEFT JOIN nc ON r.qid = nc.qid""".stripMargin)

  private val simSq8TopkSql =
    s"""WITH ev AS ${embDoubleSql()},
      |$boundsCtes,
      |$sq8GridCte,
      |$query0Cte,
      |xh AS (
      |  SELECT vec_id, ${sq8RoundTripSql("e")} AS xhat
      |  FROM ev, mnl WHERE vec_id <> 0),
      |top AS (
      |  ${cosineTopKSql("vec_id", "xhat", "xh, q", 10)})
      |SELECT vec_id, round(cosine, 6) AS sq8_cosine_6dp
      |FROM top ORDER BY cosine DESC, vec_id""".stripMargin

  private val simSq8RecallSql = recallAt10Sql(
    s"""$boundsCtes,
      |$sq8GridCte,
      |xh AS (
      |  SELECT vec_id, ${sq8RoundTripSql("e")} AS xhat
      |  FROM corpus, mnl),
      |approx AS (
      |  SELECT q.qid, x.vec_id, ${cosineSql("q.qe", "x.xhat")} AS score
      |  FROM xh x CROSS JOIN q)""".stripMargin,
    Similarity.CosineMetric)

  private val simBinaryTopkSql =
    s"""WITH ev AS ${embDoubleSql()},
      |$boundsCtes,
      |${Similarity.binaryCodesCtes},
      |$query0Cte,
      |cand AS (
      |  SELECT c.vec_id,
      |    CAST(${Similarity.hammingSql("c", "qc")} AS BIGINT) AS hamming
      |  FROM codes c, codes qc WHERE qc.vec_id = 0 AND c.vec_id <> 0
      |  ORDER BY hamming, c.vec_id LIMIT 64),
      |top AS (
      |  ${cosineTopKSql("vec_id, hamming", "e", "cand JOIN ev USING (vec_id) CROSS JOIN q", 10)})
      |SELECT vec_id, hamming, round(cosine, 6) AS bq_cosine_6dp
      |FROM top ORDER BY cosine DESC, vec_id""".stripMargin

  private val simBinaryRecallSql = recallAt10Sql(
    s"""$boundsCtes,
      |${Similarity.binaryCodesCtes},
      |hamming AS (
      |  SELECT qc.vec_id AS qid, c.vec_id, ${Similarity.hammingSql("c", "qc")} AS hamming
      |  FROM codes c CROSS JOIN codes qc WHERE qc.vec_id < 8 AND c.vec_id >= 8),
      |cand AS (${Similarity.topKPerQuerySql("hamming", 64, "hamming")}),
      |approx AS (${Similarity.refineScoresSql("cand", "ev", "q", Similarity.CosineMetric)})""".stripMargin,
    Similarity.CosineMetric)

  /** DuckDB twin of [[Similarity.encodePrefix]] at [[prefixIndex]]'s
    * width: the list `x`'s first d/4 dims.
    */
  private def prefixSql(x: String): String =
    s"list_slice($x, 1, (SELECT min(len(e)) FROM ev) // 4)"

  private val simMatryoshkaTopkSql =
    s"""WITH ev AS ${embDoubleSql()},
      |q AS (SELECT e AS qe, ${prefixSql("e")} AS qp
      |  FROM ev WHERE vec_id = 0),
      |cand AS (
      |  SELECT vec_id, ${cosineSql("qp", "ep")} AS pcos
      |  FROM (SELECT vec_id, ${prefixSql("e")} AS ep FROM ev), q
      |  WHERE vec_id <> 0
      |  ORDER BY pcos DESC, vec_id LIMIT 64),
      |top AS (
      |  ${cosineTopKSql("vec_id, pcos", "e", "cand JOIN ev USING (vec_id) CROSS JOIN q", 10)})
      |SELECT vec_id, round(pcos, 6) AS prefix_cosine_6dp,
      |  round(cosine, 6) AS mrl_cosine_6dp
      |FROM top ORDER BY cosine DESC, vec_id""".stripMargin

  private val simMatryoshkaRecallSql = recallAt10Sql(
    s"""pcos AS (
      |  SELECT q.qid, c.vec_id, ${cosineSql("q.qp", "c.ep")} AS pcos
      |  FROM (SELECT vec_id, ${prefixSql("e")} AS ep FROM corpus) c
      |  CROSS JOIN (SELECT qid, ${prefixSql("qe")} AS qp FROM q) q),
      |cand AS (${Similarity.topKPerQuerySql("pcos", 64, "pcos DESC")}),
      |approx AS (${Similarity.refineScoresSql("cand", "ev", "q", Similarity.CosineMetric)})""".stripMargin,
    Similarity.CosineMetric)

  private val simIvfTopkSql =
    s"""WITH ev AS ${embDoubleSql()},
      |${ivfAssignCtes(8)},
      |$query0Cte,
      |probe AS (${Similarity.probeCellsSql("q", 2)}),
      |top AS (
      |  ${cosineTopKSql("vec_id", "e",
        "assigned JOIN probe USING (cell_id) CROSS JOIN q WHERE vec_id <> 0", 10)})
      |SELECT vec_id, round(cosine, 6) AS cosine_6dp
      |FROM top ORDER BY cosine DESC, vec_id""".stripMargin

  private val simIvfRecallSql = recallAt10Sql(
    s"""${ivfAssignCtes(8)},
      |probe AS (${Similarity.probeCellsSql("q", 2)}),
      |approx AS (
      |  SELECT p.qid, a.vec_id, ${cosineSql("q.qe", "a.e")} AS score
      |  FROM assigned a JOIN probe p USING (cell_id) JOIN q ON p.qid = q.qid
      |  WHERE a.vec_id >= 8)""".stripMargin,
    Similarity.CosineMetric)

  /** The IVF,SQ8 index over `ev`: the probed cells of `q` and the
    * round-tripped vectors `xh(vec_id, cell_id, xhat)`.
    */
  private val ivfSq8Ctes =
    s"""${ivfAssignCtes(8)},
      |$boundsCtes,
      |$sq8GridCte,
      |probe AS (${Similarity.probeCellsSql("q", 2)}),
      |xh AS (
      |  SELECT vec_id, cell_id, ${sq8RoundTripSql("e")} AS xhat
      |  FROM assigned, mnl)""".stripMargin

  /** The single-query IVF,SQ8 ranking of vec_id 0: CTE `stage1`. */
  private def ivfSq8ProbeSql(k: Int): String =
    s"""WITH ev AS ${embDoubleSql()},
      |$query0Cte,
      |$ivfSq8Ctes,
      |stage1 AS (
      |  ${cosineTopKSql("vec_id", "xhat", "xh JOIN probe USING (cell_id) CROSS JOIN q WHERE vec_id <> 0", k)})""".stripMargin

  private val simIvfSq8TopkSql =
    s"""${ivfSq8ProbeSql(10)}
      |SELECT vec_id, round(cosine, 6) AS ivfsq8_cosine_6dp
      |FROM stage1 ORDER BY cosine DESC, vec_id""".stripMargin

  private val simIvfSq8RerankSql =
    s"""${ivfSq8ProbeSql(50)},
      |top AS (
      |  ${cosineTopKSql("vec_id", "e", "ev JOIN (SELECT vec_id FROM stage1) s USING (vec_id) CROSS JOIN q", 10)})
      |SELECT vec_id, round(cosine, 6) AS rerank_cosine_6dp
      |FROM top ORDER BY cosine DESC, vec_id""".stripMargin

  private val simIvfSq8RecallSql = recallAt10Sql(
    s"""$ivfSq8Ctes,
      |approx AS (
      |  SELECT p.qid, x.vec_id, ${cosineSql("q.qe", "x.xhat")} AS score
      |  FROM xh x JOIN probe p USING (cell_id) JOIN q ON p.qid = q.qid
      |  WHERE x.vec_id >= 8)""".stripMargin,
    Similarity.CosineMetric)

  private val simIvfpqTopkSql =
    s"""WITH ev AS ${embDoubleSql()},
      |${Similarity.pqCodesCtes(PqK)},
      |$query0Cte,
      |${Similarity.adcSql("q", "co.vec_id <> 0")}
      |SELECT vec_id, round(a, 6) AS adc_dist_6dp
      |FROM adc ORDER BY a, vec_id LIMIT 10""".stripMargin

  /** [[pqRecallAdc]]'s twin: `adc` of every sample query over the corpus. */
  private val pqRecallAdcSql =
    s"""${Similarity.pqCodesCtes(PqK)},
      |${Similarity.adcSql("q", "co.vec_id >= 8")}""".stripMargin

  private val simPqRecallSql = recallAt10Sql(
    s"""$pqRecallAdcSql,
      |approx AS (SELECT qid, vec_id, a AS score FROM adc)""".stripMargin,
    Similarity.L2Metric)

  private val simPqRerankRecallSql = recallAt10Sql(
    s"""$pqRecallAdcSql,
      |cand AS (${Similarity.topKPerQuerySql("adc", 50, "a")}),
      |approx AS (${Similarity.refineScoresSql("cand", "ev", "q", Similarity.L2Metric)})""".stripMargin,
    Similarity.L2Metric)

  /** The sample queries unit-normalized as (q_id, label, qu), and the
    * corpus with its norms as (vec_id, label, e, ne): the shared CTEs of
    * the k-NN join and hard-negative twins.
    */
  private val knnCtes =
    s"""WITH ev AS ${embDoubleSql("vec_id, label")},
      |q AS (
      |  SELECT vec_id AS q_id, label AS q_label, ${Similarity.unitSql("e", "n")} AS qu
      |  FROM (SELECT vec_id, label, e, ${normSql("e")} AS n FROM ev WHERE vec_id < 8)),
      |c AS (
      |  SELECT vec_id, label, e, ${normSql("e")} AS ne
      |  FROM ev WHERE vec_id >= 8)""".stripMargin

  /** Each (query, corpus) pair's fixed-point cosine. */
  private val knnScoreSql =
    s"CAST(floor(${Similarity.dotSql("c.e", "q.qu")} / c.ne * 1e6) AS BIGINT) AS fp"

  private val simHardNegativesSql =
    s"""$knnCtes,
      |scored AS (
      |  SELECT q.q_id, q.q_label, c.vec_id, $knnScoreSql
      |  FROM c CROSS JOIN q WHERE c.label <> q.q_label)
      |SELECT q_id, CAST(q_label AS BIGINT) AS q_label, vec_id,
      |  CAST(rn AS BIGINT) AS rn,
      |  CAST(fp AS DOUBLE) / 1e6 AS sim6
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY q_id ORDER BY fp DESC, vec_id) AS rn FROM scored)
      |WHERE rn <= 3""".stripMargin

  private val simKnnJoinSql =
    s"""$knnCtes,
      |scored AS (
      |  SELECT q.q_id, c.vec_id, $knnScoreSql
      |  FROM c CROSS JOIN q)
      |SELECT q_id, vec_id, CAST(rn AS BIGINT) AS rn,
      |  CAST(fp AS DOUBLE) / 1e6 AS sim6
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY q_id ORDER BY fp DESC, vec_id) AS rn FROM scored)
      |WHERE rn <= 3""".stripMargin

  def queries: Map[String, Q] = Map(
    "sim_cosine_topk" -> Q(simCosineTopk _, simCosineTopkSql).tag(Headline, Basis),
    "sim_ann_lsh_buckets" -> Q(simAnnLshBuckets _, simAnnLshBucketsSql),
    "sim_ivf_topk" -> Q(simIvfTopk _, simIvfTopkSql).tag(Headline, Basis),
    "sim_knn_join" -> Q(simKnnJoin _, simKnnJoinSql).tag(Headline, Basis),
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
    "sim_hard_negatives" -> Q(simHardNegatives _, simHardNegativesSql)
  )
}
