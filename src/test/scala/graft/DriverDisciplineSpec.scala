package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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
  * construction; harness mains (Bench/ScaleProbe/…) are driver TOOLS,
  * not operators, but stay pinned so growth there is conscious too.
  */
class DriverDisciplineSpec extends AnyFunSuite {

  private val golden = Map(
    "AmplifiedBench.scala" -> 1, // temp-view drop list (bounded: catalog)
    "StreamParity.scala" -> 1, // parity sweep sink compare (bounded: gate sink rows at sf0.01, a diagnostic main off the query path)
    "Bench.scala" -> 1, // pruned-scan evidence: the z-order, bloom and ivfsq8 results (4..k rows, at most the ivfsq8 10-row top-k)
    "ScaleProbe.scala" -> 11, // probe harness: per-factor invariant rows + bloom_blocksize point-lookup evidence (bounded: ≤4 probe rows per sweep) + the r19 binary-budget axis's 8 query vectors (the recallQueryVectors bound)
    "functions/Bpe.scala" -> 1, // merge table (<= 200 learned pairs)
    "functions/Wordpiece.scala" -> 1, // vocab page (capped broadcast)
    "operators/GlobalOrder.scala" -> 5, // offsets maps (O(P+G), probed r16; r21 adds groupedRankFamily's partials — same #partitions × #groups bound, executor-capped like the others; r22 adds groupedOrderStats' partials (same bound) and its crossing results (≤ #groups × #targets rows))
    "operators/Similarity.scala" -> 5, // centroids/codebooks (k x dim) + sq8Bounds (d min/max pairs)
    "queries/Conversions.scala" -> 1, // bloom probe ids (4)
    "queries/LlmOps.scala" -> 4, // vocab/threshold/probe dims + the r19 ivfsq8 recall-audit query vectors (8 rows x d, the sim_sq8_recall query-sample bound)
    "streaming/Streams.scala" -> 1 // replay staging file list (bounded)
  )

  test("src/main .collect() inventory matches the audited golden") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    val found = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val rel = root.relativize(p).toString
        val n = "\\.collect\\(\\)".r
          .findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size
        rel -> n
      }
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
