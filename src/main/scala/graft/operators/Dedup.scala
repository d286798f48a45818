package graft.operators

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end near-duplicate resolution on top of LSH candidate pairs:
  * connected components by iterative min-label propagation with pointer
  * doubling (the standard large-graph technique). Each iteration does a
  * one-hop neighbor-min pass AND a label(label(v)) shortcut pass — both
  * shuffles on compact (id, label) pairs — so the frontier at least
  * doubles per round: genuinely O(log(cluster diameter)) rounds, which
  * covers diameter 2^maxIter. If the budget is somehow exhausted before
  * convergence the call FAILS rather than silently returning partial
  * components (a wrong answer the caller can't detect).
  */
object Dedup {

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
