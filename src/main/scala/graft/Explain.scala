package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of the given queries
  * (default: the Bench headline set) and flags scale smells — missing
  * parquet filter pushdown, missed broadcasts, cartesian products.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // ALL is a PLAN-ONLY audit (r15): the stream_* gate rows execute a
    // full AvailableNow replay (staging writes + 24 streaming jobs)
    // inside their query functions just to return a memory-sink scan —
    // zero plan-audit value, growing wall cost every round. Skip the
    // wrappers; the streaming-state audit at the bottom walks every
    // canonical Streams constructor's analyzed plan directly (nothing
    // starts), which is the audit that actually covers the stateful
    // streaming plans. Naming a stream_* query explicitly still works.
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
      // plans themselves are audited in StreamingSpec.
      // text_bpe_trainer_steps is the driver-side trainer replay — its
      // result is a LocalRelation by construction (sim_mmr_rerank's
      // pattern); the distributed word aggregate it consumes is the
      // oracled text_bpe_pair_stats plan.
      // emb_pca_power / emb_pca_two (r21): the power loop's direction
      // vector is a bounded d-long dimension iterated driver-side (the
      // deflation-literal pattern two-components always used), so the
      // returned frame is that dimension as a LocalRelation; the
      // distributed per-iteration scan+vector-aggregate plans execute
      // eagerly inside the builder and are spec-audited
      // (PlanSpec "pca power iteration", ScaleOpsSpec).
      // agg_weighted_median (r22): the crossing-partition lookup returns
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
    // Streaming-state audit (r14, widened r16): the stream_* gate rows
    // above return their SINK, so the stateful streaming plans
    // themselves never pass through the Window/codegen smells. Audit
    // them here directly — one analyzed plan per stream_* gate row
    // (keyed by the gate name) through PlanSmells.streamSmells
    // (unbounded-key agg, watermark-less dedup, range-less
    // stream-stream join); plan-level only, nothing starts. ALL audits
    // every row; an explicitly requested stream_* name audits its own
    // state plan right after the sink-scan print, so a targeted
    // streaming audit carries the same evidence line the ALL path does.
    val streamTargets: Seq[String] =
      if (args.length > 1 && args(1) == "ALL")
        SparkEntry.queries.keys.toSeq.filter(_.startsWith("stream_")).sorted
      else names.filter(_.startsWith("stream_"))
    if (streamTargets.nonEmpty) {
      val plans = streamingStatePlans(spark, sfDir, streamTargets.toSet)
      var streamSmellCount = 0
      plans.foreach { case (name, df) =>
        val ss = PlanSmells.streamSmells(df.queryExecution.analyzed)
        if (ss.nonEmpty) {
          streamSmellCount += ss.size
          println(s"!! stream smells [$name]: ${ss.mkString(", ")}")
        }
      }
      // A gate row with no registered builder is a COVERAGE HOLE, not a
      // design choice: it would silently exempt a (possibly stateful)
      // new plan from the unbounded-key/watermark-less/range-less
      // checks. Count it as a smell so the audit fails loudly until a
      // builder is added to streamingStatePlans.
      val uncovered = streamTargets.filterNot(plans.map(_._1).contains)
      if (uncovered.nonEmpty) {
        streamSmellCount += uncovered.size
        println(s"!! unaudited stream rows (add builders to " +
          s"streamingStatePlans): ${uncovered.mkString(", ")}")
      }
      println(s"\n[streaming-state audit] ${plans.size} plans, " +
        s"$streamSmellCount smells")
      // Coverage holes hard-fail (r17 ADVICE): a smell is a judgment
      // call a human reads; a MISSING audit is a harness bug — exit
      // nonzero so any scripted gate keyed on exit status catches a new
      // gate row landing without a builder, not just a stdout reader.
      if (uncovered.nonEmpty) {
        spark.stop()
        sys.exit(2)
      }
    }
    spark.stop()
  }

  /** One analyzed (never started) streaming plan per stream_* gate row,
    * keyed by the gate's registered query name; `want` filters which
    * rows are built (staging dirs are created lazily, only for the
    * families actually requested). `stream_tdigest_window` shares
    * `tdigestWindowQuantiles`; `stream_checkpoint_resume`'s pipeline is
    * the same stateless projection it writes to parquet — audited as a
    * plan here even though the gate's value is the resume protocol.
    */
  private def streamingStatePlans(spark: SparkSession, sfDir: String,
      want: Set[String]): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions.{col, expr, upper}
    import org.apache.spark.sql.DataFrame
    import graft.streaming.Streams
    lazy val evDir = {
      val d = DimCache.tempDir("graft-explain-stream")
      Tables.events(spark, sfDir)
        .select(Streams.eventSchema.fieldNames.map(col).toSeq: _*)
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    }
    lazy val docDir = {
      val d = DimCache.tempDir("graft-explain-docs")
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
        .withColumn("ts", expr("timestamp'2026-01-01 00:00:00'"))
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    }
    lazy val chgDir = {
      val d = DimCache.tempDir("graft-explain-scd2")
      Tables.orders(spark, sfDir).limit(64)
        .select(col("o_custkey").as("key"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
            .cast(org.apache.spark.sql.types.IntegerType).as("day"),
          col("o_orderkey").as("seq"),
          col("o_orderpriority").as("attr"))
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    }
    lazy val embStaged = {
      val emb = graft.queries.LlmOps.embVectors(spark, sfDir)
      val d = DimCache.tempDir("graft-explain-emb")
      emb.limit(64).coalesce(1).write.mode("overwrite").parquet(d)
      (d, emb.schema)
    }
    def ev = Streams.readEventStream(spark, evDir)
    def docs = spark.readStream.schema(Streams.docSchema).parquet(docDir)
    def docsTs = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        Streams.docSchema.fields :+ org.apache.spark.sql.types.StructField(
          "ts", org.apache.spark.sql.types.TimestampType)))
      .parquet(docDir)
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "stream_running_agg" -> (() => Streams.runningAggByType(ev)),
      "stream_tumbling" -> (() => Streams.tumblingCounts(ev)),
      "stream_sliding" -> (() => Streams.slidingCounts(ev)),
      "stream_ohlc" -> (() => Streams.ohlcWindows(ev)),
      "stream_session" -> (() => Streams.sessionCounts(ev)),
      "stream_cms" -> (() => Streams.cmsCounters(ev)),
      "stream_kmv_window" -> (() => Streams.kmvWindowDistinct(ev)),
      "stream_tdigest_window" -> (() => Streams.tdigestWindowQuantiles(ev)),
      "stream_dedup_exact" -> (() => Streams.dedupStream(ev)),
      "stream_near_dedup" -> (() => Streams.nearDedupStream(docsTs, "ts")),
      "stream_decontaminate" -> (() => Streams.decontaminateStream(docsTs,
        Tables.documents(spark, sfDir)
          .filter(expr("doc_id % 100 = 0"))
          .select(expr("split(coalesce(text, ''), ' ')").as("tk"))
          .filter(expr("size(tk) >= 4"))
          .select(expr(
            """explode(transform(sequence(0, size(tk) - 4),
              |  i -> concat_ws(' ', slice(tk, i + 1, 4))))""".stripMargin)
            .as("g8"))
          .distinct())),
      "stream_semantic_dedup" -> (() => {
        val embTsDir = DimCache.tempDir("graft-explain-embts")
        Tables.embeddings(spark, sfDir).limit(64)
          .select(col("vec_id"),
            expr("timestamp'2024-01-01 00:00:00' + INTERVAL 1 SECOND * vec_id")
              .as("ts"),
            graft.operators.Similarity.embDouble.as("embedding"))
          .coalesce(1).write.mode("overwrite").parquet(embTsDir)
        val cRows = graft.queries.LlmOps.ivfCentroids(spark, sfDir)
        Streams.semanticDedupStream(spark,
          spark.readStream.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("embedding",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType)))))
            .parquet(embTsDir),
          cRows, tau = 0.35)
      }),
      "stream_ivfsq8_encode" -> (() => {
        val (mn, mx) = graft.queries.LlmOps.sq8Bounds(spark, sfDir)
        val (d, schema) = embStaged
        graft.operators.Similarity.encodeIvfSq8(
          spark.readStream.schema(schema).parquet(d)
            .select(col("vec_id"), col("e").as("embedding")),
          graft.queries.LlmOps.ivfCentroids(spark, sfDir), mn, mx)
      }),
      "stream_binary_encode" -> (() => {
        val (mn, mx) = graft.queries.LlmOps.sq8Bounds(spark, sfDir)
        val (d, schema) = embStaged
        graft.operators.Similarity.encodeBinary(
          spark.readStream.schema(schema).parquet(d),
          graft.operators.Similarity.binaryThresholds(mn, mx))
      }),
      "stream_join" -> (() => Streams.clickViewJoin(ev, "click", "view")),
      "stream_asof_enrich" -> (() => Streams.asOfEnrich(ev, "click", "purchase")),
      "stream_drift" -> (() => Streams.driftMonitor(ev,
        Seq(("click", 500000L), ("view", 500000L)))),
      "stream_enrich_dim" -> (() =>
        Streams.enrichWithDim(ev, Tables.customer(spark, sfDir))),
      "stream_start_state" -> (() => Streams.runningAggFromInitialState(spark, ev,
        Tables.events(spark, sfDir).groupBy(col("event_type"))
          .agg(expr("count(*)").as("n0"), expr("0L").as("cents0")))),
      "stream_last_n_mean" -> (() => Streams.lastNMean(spark, ev, 4)),
      "stream_zscore" -> (() => Streams.zscoreFlags(spark, ev)),
      "stream_transitions" -> (() => Streams.transitionSteps(spark, ev)),
      "stream_funnel" -> (() => Streams.funnelStages(spark, ev)),
      "stream_attribution" -> (() => Streams.attributionSteps(spark, ev)),
      "stream_attribution_window" -> (() => Streams.attributionStepsWindowed(
        spark, ev.withWatermark("ts", "0 seconds"), windowDays = 1)),
      "stream_scd2" -> (() =>
        Streams.scd2Steps(spark, Streams.readChangeStream(spark, chgDir))),
      "stream_postings" -> (() => Streams.postingsMaintain(spark, docs)),
      "stream_pq_encode" -> (() => {
        val (d, schema) = embStaged
        graft.operators.Similarity.encodePq(
          spark.readStream.schema(schema).parquet(d),
          graft.queries.LlmOps.pqCodebooks(spark, sfDir),
          graft.queries.LlmOps.pqDsub(spark, sfDir)).drop("e")
      }),
      "stream_checkpoint_resume" -> (() => ev
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), upper(col("event_type")).as("event_type_uc")))
    )
    builders.collect { case (n, b) if want.contains(n) => n -> b() }
  }
}
