package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform, ZipWith}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** The ANN rows run no interpreted higher-order function.
  *
  * `transform`, `zip_with`, `aggregate` and `filter` have no generated
  * code in Spark, so each one evaluates its lambda per element through
  * the interpreter. The ANN codecs and fan-outs are native kernels
  * (`graft.functions.AnnCodecs`); this spec keeps them so. It runs every
  * row of `queries.Ann` (the 20 `sim_*` rows) and the three streaming
  * encode rows twice at sf0.01, cold (building the persisted indexes)
  * and warm, takes every plan the call executed (queries, index writes,
  * streaming micro-batches) from its `Harness.measure` sample, and walks
  * each one with `Harness.nodes` for those four expressions.
  */
class InterpretedLambdaSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.01"

  private val rows: Seq[String] =
    queries.Ann.queries.keys.toSeq.sorted ++
      Seq("stream_pq_encode", "stream_ivfsq8_encode", "stream_binary_encode")

  /** The interpreted higher-order functions in `plan`, one line each. */
  private def lambdas(plan: SparkPlan): Seq[String] =
    Harness.nodes(plan).flatMap { n =>
      n.expressions.flatMap(_.collect {
        case f @ (_: ArrayTransform | _: ZipWith | _: ArrayAggregate | _: ArrayFilter) =>
          s"${n.nodeName}: ${f.prettyName}"
      })
    }.distinct

  test("the sim_* and streaming encode rows run no interpreted higher-order function") {
    assert(rows.count(_.startsWith("sim_")) == 20, rows.mkString(", "))
    assert(spark eq SparkSession.active) // measure records on the active session
    val found = for (name <- rows; pass <- Seq("cold", "warm")) yield {
      val plans = Harness.measure(name)(SparkEntry.queries(name)(spark, dir).collect())._2.plans
      assert(plans.nonEmpty, s"$name ($pass): no executed plan recorded")
      s"$name ($pass)" -> plans.flatMap(qe => lambdas(qe.executedPlan)).distinct
    }
    val bad = found.filter(_._2.nonEmpty)
    if (bad.nonEmpty) fail(bad.map { case (row, fs) => s"$row: ${fs.mkString("; ")}" }
      .mkString("interpreted higher-order functions in executed plans:\n", "\n", ""))
  }
}
