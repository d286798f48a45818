package graft

/** Plan auditor: prints the formatted physical plan of the given queries
  * (default: the Bench headline set) and flags scale smells — cartesian
  * products, unpartitioned or bounded-key windows, missing whole-stage
  * codegen — then audits the stream plan of every requested streaming
  * gate row for unbounded state.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // ALL is a plan-only audit: a stream_* gate row runs its whole
    // AvailableNow replay inside its query function just to return a
    // memory-sink scan, which has no plan to audit. ALL skips those
    // rows; the streaming-state audit at the bottom reads their stream
    // plans instead, without starting them. Naming a stream_* query
    // explicitly still runs it.
    val names =
      if (args.length > 1 && args(1) == "ALL")
        SparkEntry.queries.keys.toSeq.filterNot(_.startsWith("stream_")).sorted
      else if (args.length > 1) args.drop(1).toSeq
      else Bench.headline
    val spark = Harness.session()
    // AQE hides codegen annotations until execution; plans are audited
    // pre-execution, so turn it off for this session only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n========== $name ==========")
      println(plan)
      // Known intended exceptions: reshape_transpose is an eager native
      // op (dimension-bounded); pack_sequences is a sorted-partition
      // mapPartitions scan (O(1) state, no codegen by construction);
      // sim_mmr_rerank's plan is the bounded greedy's LocalRelation (the
      // distributed top-50 retrieval ran eagerly at build time).
      // stream_* gate queries RUN an AvailableNow replay inside the
      // query function and return the memory sink — the returned plan
      // is the sink scan (no codegen by construction); the streaming
      // plans themselves get the streaming-state audit below.
      // text_bpe_trainer_steps is the driver-side trainer replay — its
      // result is a LocalRelation by construction (sim_mmr_rerank's
      // pattern); the distributed word aggregate it consumes is the
      // oracled text_bpe_pair_stats plan.
      // emb_pca_power / emb_pca_two: the power loop's direction
      // vector is a bounded d-long dimension iterated driver-side (the
      // deflation-literal pattern two-components always used), so the
      // returned frame is that dimension as a LocalRelation; the
      // distributed per-iteration scan+vector-aggregate plans execute
      // eagerly inside the builder and are spec-audited
      // (PlanSpec "pca power iteration", ScaleOpsSpec).
      // agg_weighted_median: the crossing-partition lookup returns
      // a bounded ≤maxGroups LocalRelation assembled from the pruned
      // second job (the emb_pca pattern); the distributed range-exchange
      // + partials + pruned-walk jobs execute eagerly inside
      // GlobalOrder.groupedOrderStats and are spec-audited
      // (GlobalOrderSpec "Window crossing formulation").
      val intended =
        Set("reshape_transpose", "pack_sequences", "sim_mmr_rerank",
          "text_bpe_trainer_steps", "emb_pca_power", "emb_pca_two",
          "agg_weighted_median") ++
          (if (name.startsWith("stream_")) Set(name) else Set.empty)
      // Window smells (detectors shared with SmellFuzzSpec — see
      // PlanSmells for the rules: unpartitioned window; bounded-key
      // window seen through alias chains, exempt only when an Aggregate
      // DOMINATES the window's input).
      val analyzed = df.queryExecution.analyzed
      val smells = Seq(
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "single-partition-Window" -> PlanSmells.globalWindow(analyzed),
        "bounded-key-Window" -> PlanSmells.boundedKeyWindow(analyzed),
        // FormattedMode marks whole-stage spans as "[codegen id : N]"
        "no-WholeStageCodegen" ->
          (!plan.contains("codegen id") && !intended.contains(name))
      ).collect { case (s, true) => s }
      if (smells.nonEmpty) println(s"!! smells: ${smells.mkString(", ")}")
    }
    // Streaming-state audit: the stream_* gate rows above return their
    // SINK, so their stateful plans never pass through the Window and
    // codegen smells. Each row's own stream plan — the one its query
    // runs, built over the same staged replay and never started — goes
    // through PlanSmells.streamSmells (unbounded-key agg, watermark-less
    // dedup, range-less stream-stream join). ALL audits every row; a
    // stream_* name given explicitly is audited after its sink-scan
    // print.
    val streamTargets: Seq[String] =
      if (args.length > 1 && args(1) == "ALL")
        SparkEntry.queries.keys.toSeq.filter(_.startsWith("stream_"))
      else names.filter(_.startsWith("stream_"))
    if (streamTargets.nonEmpty) {
      val plans = graft.queries.StreamingGate.statePlans(spark, sfDir, streamTargets.toSet)
      val streamSmells = plans.map { case (name, df) =>
        val ss = PlanSmells.streamSmells(df.queryExecution.analyzed)
        if (ss.nonEmpty) println(s"!! stream smells [$name]: ${ss.mkString(", ")}")
        ss.size
      }.sum
      println(s"\n[streaming-state audit] ${plans.size} plans, $streamSmells smells")
    }
    spark.stop()
  }
}
