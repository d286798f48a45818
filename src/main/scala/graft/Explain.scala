package graft

import graft.Tag.{Gate, Headline, NoCodegen}

/** Plan auditor: prints the formatted physical plan of the given queries
  * (default: the [[Tag.Headline]] rows) and flags scale smells —
  * cartesian products, unpartitioned or bounded-key windows, missing
  * whole-stage codegen — then audits the stream plan of every requested
  * [[Tag.Gate]] row for unbounded state.
  *
  * Usage: runMain graft.Explain [sfDir] [ALL | query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val all = args.lift(1).contains("ALL")
    val gate = SparkEntry.tagged(Gate)
    // ALL is a plan-only audit: a gate row runs its whole AvailableNow
    // replay inside its query function just to return a memory-sink
    // scan, which has no plan to audit. ALL skips those rows; the
    // streaming-state audit at the bottom reads their stream plans
    // instead, without starting them. Naming a gate row explicitly
    // still runs it.
    val names =
      if (all) SparkEntry.registry.keys.toSeq.filterNot(gate.contains).sorted
      else if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.tagged(Headline)
    val spark = Harness.session()
    // AQE hides codegen annotations until execution; plans are audited
    // pre-execution, so turn it off for this session only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { name =>
      val q = SparkEntry.registry(name)
      val df = q.fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n========== $name ==========")
      println(plan)
      // A gate row's returned plan is its sink scan, with no codegen by
      // construction; its stream plan gets the streaming-state audit.
      val codegenExempt = q.tags(NoCodegen) || q.tags(Gate)
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
        "no-WholeStageCodegen" -> (!plan.contains("codegen id") && !codegenExempt)
      ).collect { case (s, true) => s }
      if (smells.nonEmpty) println(s"!! smells: ${smells.mkString(", ")}")
    }
    // Streaming-state audit: each gate row's own stream plan — the one
    // its query runs, built over the same staged replay and never
    // started — goes through PlanSmells.streamSmells (unbounded-key agg,
    // watermark-less dedup, range-less stream-stream join). ALL audits
    // every gate row; a gate row given explicitly is audited after its
    // sink-scan print.
    val streamTargets = if (all) gate else names.filter(gate.contains)
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
