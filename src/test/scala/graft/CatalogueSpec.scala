package graft

import java.nio.file.{Files, Paths}

import graft.Tag.{Basis, Gate, Headline, NoCodegen, Sweep}
import org.scalatest.funsuite.AnyFunSuite

/** The query catalogue's row sets are tags on registry entries
  * (`Q.tag`). This pins the sets the bench records compare across —
  * the 69-row basis `shared_set_total` sums and the 82 benched rows —
  * so retagging or renaming a row fails here instead of shifting a
  * total silently, and checks the sets other harnesses and the
  * benchmark select.
  */
class CatalogueSpec extends AnyFunSuite {

  private val basis: Set[String] = Set(
    "agg_basic_stats", "agg_weighted_median", "chunk_cdc_dedup", "clean_winsorize",
    "cohort_retention", "dedup_emb_cosine", "dedup_exact", "dedup_incremental_lsh",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_substring_spans",
    "dsir_importance", "emb_pca_power", "graph_pagerank", "graph_triangles",
    "index_postings", "join_asof", "join_bucketed", "join_skew_salted", "merge_upsert",
    "mix_temperature", "mix_token_budget", "multimodal_headers", "ndsh_q1", "ndsh_q10",
    "ndsh_q11", "ndsh_q12", "ndsh_q13", "ndsh_q14", "ndsh_q15", "ndsh_q16", "ndsh_q17",
    "ndsh_q18", "ndsh_q19", "ndsh_q2", "ndsh_q20", "ndsh_q21", "ndsh_q22", "ndsh_q3",
    "ndsh_q4", "ndsh_q5", "ndsh_q6", "ndsh_q7", "ndsh_q8", "ndsh_q9", "pack_sequences",
    "qcut_bins", "reg_ols_group", "resample_interpolate", "retrieval_rrf_fusion",
    "sample_balanced_labels", "scan_zorder_pruned", "scd2_history", "sim_cosine_topk",
    "sim_ivf_topk", "sim_ivfpq_topk", "sim_knn_join", "sim_lsh_recall",
    "sketch_cms_topk", "sketch_kmv_distinct", "split_leakage_safe", "text_bm25_topk",
    "text_bpe_pair_stats", "text_bpe_portable", "text_tfidf_topk", "text_wordpiece",
    "win_ewma_stream", "win_group_scan", "win_rank_family")

  /** The benched rows outside the basis: the bloom-filter point lookup
    * and the twelve later ANN-tier rows.
    */
  private val headlineOnly: Set[String] = Set(
    "scan_bloom_pruned", "sim_binary_recall", "sim_binary_topk", "sim_ivf_recall",
    "sim_ivfsq8_recall", "sim_ivfsq8_rerank", "sim_ivfsq8_topk", "sim_matryoshka_recall",
    "sim_matryoshka_topk", "sim_pq_recall", "sim_pq_rerank_recall", "sim_sq8_recall",
    "sim_sq8_topk")

  private def tagged(t: Tag): Set[String] = SparkEntry.tagged(t).toSet

  private def assertPinned(t: Tag, golden: Set[String]): Unit = {
    val (missing, extra) = (golden -- tagged(t), tagged(t) -- golden)
    assert(missing.isEmpty && extra.isEmpty, s"$t: missing $missing, extra $extra")
  }

  test("the basis is the pinned 69 rows") {
    assert(basis.size == 69)
    assertPinned(Basis, basis)
    assert(Bench.sharedSet69 == tagged(Basis))
  }

  test("the headline is the pinned 82 rows, the basis among them") {
    val golden = basis ++ headlineOnly
    assert(golden.size == 82)
    assertPinned(Headline, golden)
    assert(Bench.headline == SparkEntry.tagged(Headline))
  }

  test("Gate tags exactly the streaming gate's 29 rows") {
    val gate = queries.StreamingGate.queries.keySet
    assert(gate.size == 29 && tagged(Gate) == gate)
  }

  test("the sweep, the codegen exemptions and the unbenched rerank") {
    assert(tagged(Sweep).size == 63)
    assert(tagged(NoCodegen) == Set("reshape_transpose", "pack_sequences",
      "sim_mmr_rerank", "text_bpe_trainer_steps", "emb_pca_power", "emb_pca_two",
      "agg_weighted_median"))
    assert(!tagged(Headline).contains("sim_mmr_rerank"))
  }

  test("every amp10x benchmark query is a benched row") {
    val run = Paths.get("perfbench/run.py")
    assert(Files.exists(run), s"${run.toAbsolutePath} not found")
    val src = Files.readString(run)
    val block = "(?s)\"amp10x\":.*?\"queries\": \\[(.*?)\\]".r
      .findFirstMatchIn(src).map(_.group(1))
    assert(block.nonEmpty, "no amp10x query list in perfbench/run.py")
    val amp = "\"([a-z0-9_]+)\"".r.findAllMatchIn(block.get).map(_.group(1)).toSeq
    assert(amp.size == 9, s"amp10x lists $amp")
    assert(amp.filterNot(tagged(Headline)).isEmpty,
      s"amp10x rows without Headline: ${amp.filterNot(tagged(Headline))}")
  }

  test("the rows with no oracle SQL are the pinned 12") {
    // each one's answer is checked by a spec case instead of a hash: a
    // 13th row without an oracle fails here
    val noOracle = Set(
      "agg_approx_distinct", "agg_percentile_approx", "agg_tdigest_quantiles",
      "custom_string_exprs", "decontaminate_bloom", "dedup_minhash_lsh",
      "dedup_minhash_sig", "dedup_simhash", "hash_spark_native", "sample_rows",
      "stream_tdigest_window", "text_bpe")
    assert(SparkEntry.registry.keySet -- SparkEntry.oracleSql.keySet == noOracle)
  }

  test("a row filter names every stray row and keeps the harness order") {
    val rows = Seq("ndsh_q9", "ndsh_q1", "sim_cosine_topk")
    assert(SparkEntry.restrict(rows, None) == rows)
    assert(SparkEntry.restrict(rows, Some(" ndsh_q1, ndsh_q9")) == Seq("ndsh_q9", "ndsh_q1"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.restrict(rows, Some("ndsh_q1,ndsh_q99,list_ops")))
    assert(e.getMessage.contains("ndsh_q99 (unknown query)"), e.getMessage)
    assert(e.getMessage.contains("list_ops (not one of this harness's rows)"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.restrict(rows, Some(" , ")))
  }
}
