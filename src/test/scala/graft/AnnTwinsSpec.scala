package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB twins of the vector operators are written once, in
  * `operators/Similarity`, beside the Spark piece each one mirrors. A
  * pasted copy of a fragment drifts from its Spark side unseen: the
  * oracle gate compares the two engines, not the copies with each other.
  */
class AnnTwinsSpec extends AnyFunSuite {

  test("each vector oracle fragment is written once, in operators/Similarity") {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    val sources = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
    val pieces = Seq(
      "embedding-cast CTE" -> """list_transform\(embedding, x -> CAST\(x AS DOUBLE\)\) AS e""".r,
      // the PCA twins' BIGINT fold `(a, t) -> a + t` of their integer
      // direction is not a vector norm
      "norm fold" -> """list_transform\([$a-z.]+, x -> x \* x\)(?!\), \(a, t\))""".r,
      // `xq[i] * v[i]` is the PCA twins' BIGINT projection
      "dot fold" -> """i -> (?!xq\[)\$?[a-z.]+\[i\] \* \$?[a-z.]+\[i\]""".r,
      "per-dimension bounds CTE" -> """min\(e\[ix\.i\]\)""".r,
      "SQ8 quantize" -> """floor\(\(\$?[a-z]+\[i\] - mnl\[i\]\)""".r,
      "recall tail" -> """count\(\*\) AS nh""".r)
    val sites = for ((piece, re) <- pieces) yield piece -> sources.flatMap { case (f, src) =>
      Seq.fill(re.findAllIn(src).size)(f)
    }
    val wrong = sites.filter(_._2 != Seq("operators/Similarity.scala"))
    assert(wrong.isEmpty, wrong.map { case (p, fs) => s"$p at ${fs.mkString(", ")}" }
      .mkString("expected once, in operators/Similarity.scala: ", "; ", ""))
  }
}
