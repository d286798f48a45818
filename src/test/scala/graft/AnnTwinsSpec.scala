package graft

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB twins of the vector operators are written once, in
  * `operators/Similarity`, beside the Spark piece each one mirrors.
  */
class AnnTwinsSpec extends AnyFunSuite {

  test("each vector oracle fragment is written once, in operators/Similarity") {
    SourceAudit.writtenOnce("operators/Similarity.scala",
      "embedding-cast CTE" -> """list_transform\(embedding, x -> CAST\(x AS DOUBLE\)\) AS e""".r,
      "norm fold" -> """list_transform\([$a-z.]+, x -> x \* x\)""".r,
      "dot fold" -> """i -> \$?[a-z.]+\[i\] \* \$?[a-z.]+\[i\]""".r,
      "per-dimension bounds CTE" -> """min\(e\[ix\.i\]\)""".r,
      "SQ8 quantize" -> """floor\(\(\$?[a-z]+\[i\] - mnl\[i\]\)""".r,
      "recall tail" -> """count\(\*\) AS nh""".r,
      "power-step renormalization" -> """u // greatest\(m // 1000000, 1\)""".r,
      "Spark fixed-point quantize" -> """floor\(CAST\(x AS DOUBLE\) \* 1000000D\)""".r,
      "DuckDB fixed-point quantize" -> """floor\(CAST\(x AS DOUBLE\) \* 1000000\)""".r)
  }
}
