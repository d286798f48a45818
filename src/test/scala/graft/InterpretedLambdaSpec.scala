package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform, ZipWith}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftbridge.HarnessProbes
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The ANN rows run no interpreted higher-order function.
  *
  * `transform`, `zip_with`, `aggregate` and `filter` have no generated
  * code in Spark, so each one evaluates its lambda per element through
  * the interpreter. The ANN codecs and fan-outs are native kernels
  * (`graft.functions.AnnCodecs`); this spec keeps them so. It runs every
  * row of `queries.Ann` (the 20 `sim_*` rows) and the three streaming
  * encode rows twice at sf0.01, cold (building the persisted indexes)
  * and warm, records every plan the session executes (queries, index
  * writes, streaming micro-batches) and walks each one, through command
  * results, adaptive plans and query stages, for those four expressions.
  */
class InterpretedLambdaSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.01"

  private val rows: Seq[String] =
    queries.Ann.queries.keys.toSeq.sorted ++
      Seq("stream_pq_encode", "stream_ivfsq8_encode", "stream_binary_encode")

  /** Every physical node of `plan`, including the plans a command result,
    * an adaptive plan or a query stage wraps, and subqueries.
    */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    plan +: (plan.children ++ inner ++ plan.subqueries).flatMap(nodes)
  }

  /** The interpreted higher-order functions in `plan`, one line each. */
  private def lambdas(plan: SparkPlan): Seq[String] =
    nodes(plan).flatMap { n =>
      n.expressions.flatMap(_.collect {
        case f @ (_: ArrayTransform | _: ZipWith | _: ArrayAggregate | _: ArrayFilter) =>
          s"${n.nodeName}: ${f.prettyName}"
      })
    }.distinct

  test("the sim_* and streaming encode rows run no interpreted higher-order function") {
    assert(rows.count(_.startsWith("sim_")) == 20, rows.mkString(", "))
    val executed = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executed.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val found = for (name <- rows; pass <- Seq("cold", "warm")) yield {
        executed.clear()
        SparkEntry.queries(name)(spark, dir).collect()
        HarnessProbes.drain(spark.sparkContext)
        val plans = executed.asScala.toSeq
        assert(plans.nonEmpty, s"$name ($pass): no executed plan recorded")
        s"$name ($pass)" -> plans.flatMap(qe => lambdas(qe.executedPlan)).distinct
      }
      val bad = found.filter(_._2.nonEmpty)
      if (bad.nonEmpty) fail(bad.map { case (row, fs) => s"$row: ${fs.mkString("; ")}" }
        .mkString("interpreted higher-order functions in executed plans:\n", "\n", ""))
    } finally spark.listenerManager.unregister(listener)
  }
}
