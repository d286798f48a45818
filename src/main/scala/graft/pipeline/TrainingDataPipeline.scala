package graft.pipeline

import graft.Materialize
import graft.operators.{Dedup, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end LLM training-data pipeline — the north-star composition of
  * the engine's operators, every stage partition-parallel:
  *
  *   raw documents
  *     → quality filter (length / stopword / short-token ratios)
  *     → language filter (stopword-profile langid)
  *     → exact dedup (content digest, keep min doc_id)
  *     → near-dup dedup (shingle MinHash → LSH bands → candidate pairs
  *       → connected-component keepers)
  *     → benchmark decontamination (shared-shingle flagging)
  *     → tokenization (whitespace + wordpiece subwords)
  *     → sequence packing (token-budget batch construction)
  *     → stats
  *
  * At 100 TB each arrow is a map-side pass or a shuffle on compact keys
  * (digest, band bucket, pair ids) — no stage materializes anything
  * driver-side except the subword vocab (an explicit dimension).
  */
object TrainingDataPipeline {

  case class Config(
      minTokens: Int = 10,
      maxShortTokenRatio: Double = 0.4,
      lang: String = "en",
      lshJaccardThreshold: Double = 0.75,
      /** Drop LSH buckets holding more docs than this — one degenerate
        * bucket (boilerplate/empty docs) is otherwise quadratic.
        */
      lshMaxBucket: Int = 1000,
      wordpieceMinFreq: Long = 50,
      /** Benchmark stand-in: docs with doc_id % benchMod == 0 play the
        * held-out eval suite for the decontamination stage.
        */
      benchMod: Int = 100,
      /** Token budget per training pack (sequence packing stage). */
      packBudget: Long = 512L,
      decontaminateGramLen: Int = 4)

  /** Stage 1-2: quality + language gate. */
  def qualityFilter(docs: DataFrame, cfg: Config): DataFrame =
    docs
      .withColumn("__toks", Text.words(col("text")))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__short",
        expr("size(filter(__toks, t -> length(t) <= 2))"))
      .filter(col("__n") >= cfg.minTokens &&
        col("__short") / col("__n") <= cfg.maxShortTokenRatio)
      .drop("__toks", "__n", "__short")

  /** Stage 3: exact dedup by content digest, keeping the smallest id. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val keepers = docs
      .groupBy(md5(col("text").cast(BinaryType)).as("__sig"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(keepers, "doc_id")
  }

  /** Stage 4: near-dup dedup via MinHash-LSH candidates + component
    * resolution (keeps one doc per near-dup cluster). The candidate
    * stage's cuts (signatures, capped bands) are consumed by
    * resolveKeepers' eager label loop and released on return, so a
    * long-running pipeline does not hold one signature frame per corpus
    * pass.
    */
  def nearDedup(docs: DataFrame, cfg: Config): DataFrame = Materialize.releasing {
    Dedup.dedupCorpus(docs, Dedup.lshCandidatePairs(docs, maxBucket = cfg.lshMaxBucket)
      .filter(col("est_jaccard") >= cfg.lshJaccardThreshold)
      .select(col("id_a"), col("id_b")))
  }

  /** Stage 5: tokenize into whitespace tokens + wordpiece subwords. */
  def tokenizeStage(spark: SparkSession, docs: DataFrame, cfg: Config): DataFrame = {
    val vocab = graft.functions.Wordpiece.buildVocab(docs, cfg.wordpieceMinFreq)
    graft.functions.Wordpiece
      .tokenize(spark, docs, vocab)
      .join(docs, "doc_id")
      .withColumn("n_tokens", size(Text.words(col("text"))))
      .withColumn("n_pieces", size(col("pieces")))
  }

  /** Stage 6: embed + index. Embeddings come from the batched-inference
    * stage (fixed-size batches per partition — the model-serving shape;
    * stub model, real plumbing), then every doc is assigned its nearest
    * IVF cell map-side, yielding the retrieval index for downstream
    * similarity search / embedding-based dedup.
    */
  def embedStage(docs: DataFrame, dim: Int = 16, nCells: Int = 8): DataFrame = {
    val media = graft.multimodal.Multimodal.toMediaFrame(
      docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("__bin"),
        col("source")),
      "doc_id", "__bin", "source", "text")
    val emb = graft.multimodal.Multimodal
      .batchedEmbedStub(media, dim = dim, batchSize = 64)
      .select(col("media_id").as("vec_id"), col("embedding"))
    val cents = graft.operators.Similarity.centroids(emb, nCells)
    graft.operators.Similarity
      .assignCells(emb, cents)
      .select(col("vec_id").as("doc_id"), col("cell_id"))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
  }

  /** Benchmark decontamination stage: remove training docs sharing any
    * `gramLen`-token shingle with the benchmark set (bench docs remove
    * themselves too — they share their own shingles — which is the
    * desired semantics: eval text must not be trained on). The bench
    * gram set is bounded in production, so the semi join broadcasts and
    * the stage is map-side over the corpus.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame,
      gramLen: Int = 4): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      Text.wordNgrams(df, gramLen, Seq("doc_id"), tk = "__tk", as = "__g")
    // No pre-join distinct: the semi join is map-side (bounded bench
    // grams broadcast), and only doc_id survives — the one distinct
    // runs on the contaminated id set, never on corpus-scale grams.
    val contaminated = grams(docs)
      .join(grams(bench).select(col("__g")).distinct(), Seq("__g"), "left_semi")
      .select(col("doc_id"))
      .distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Sequence packing stage ([[graft.operators.Packing]]): per-lang
    * greedy token-budget packs over the surviving corpus.
    */
  def packStage(docs: DataFrame, budget: Long): DataFrame =
    graft.operators.Packing.packGreedy(
      docs.select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_toks")),
      "lang", Seq("doc_id"), "n_toks", budget)

  /** Full pipeline; returns (clean corpus with tokens, per-stage counts). */
  def run(spark: SparkSession, docs: DataFrame,
      cfg: Config = Config()): (DataFrame, Map[String, Long]) = Materialize.releasing {
    // Stage caches serve the counts below and the next stage's first
    // pass; the scope releases them all on return. `decon` backs the
    // returned (lazy) tokenized frame, so it is a cut the scope keeps.
    val q = Materialize.cached(qualityFilter(docs, cfg), "TrainingDataPipeline.quality")
    val lang = Materialize.cached(q.filter(col("lang") === cfg.lang), "TrainingDataPipeline.lang")
    val exact = Materialize.cached(exactDedup(lang), "TrainingDataPipeline.exact")
    val near = Materialize.cached(nearDedup(exact, cfg), "TrainingDataPipeline.near")
    val bench = docs.filter(pmod(col("doc_id"), lit(cfg.benchMod)) === 0)
    val decon = Materialize.shared(
      decontaminate(near, bench, cfg.decontaminateGramLen), "TrainingDataPipeline.decon")
    val packed = packStage(decon, cfg.packBudget)
    val tokenized = tokenizeStage(spark, decon, cfg)
      .join(embedStage(decon), "doc_id")
      .join(packed.select(col("doc_id"), col("pack_id"), col("pack_pos")),
        "doc_id")
    val counts = Map(
      "input" -> docs.count(),
      "after_quality" -> q.count(),
      "after_lang" -> lang.count(),
      "after_exact_dedup" -> exact.count(),
      "after_near_dedup" -> near.count(),
      "after_decontamination" -> decon.count())
    (tokenized, counts)
  }
}
