package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** A lineage cut shared by several consumers is materialized before any
  * of them runs. A lazy cut was materialized by the first consumer job,
  * which then dropped the cut plan while the sibling consumers AQE had
  * started in the same action still reported that plan's SQL metrics;
  * once the driver had collected those accumulators, DAGScheduler
  * logged "Failed to update accumulator N (Unknown class)" per task.
  */
class EagerCutSpec extends AnyFunSuite {
  import TestSpark._

  // the shared tf consumers and the three LSH candidate pipelines
  private val eagerCuts = Seq("text_bm25_topk", "text_snippet_extract",
    "text_query_expansion", "dedup_minhash_lsh", "dedup_minhash_lsh_portable",
    "dedup_ngram_jaccard", "dedup_containment")

  test("every shared cut is materialized when the builder returns") {
    eagerCuts.foreach { q =>
      val cuts = SparkEntry.queries(q)(spark, sf).queryExecution.analyzed
        .collect { case l: LogicalRDD => l.rdd }
      assert(cuts.nonEmpty, s"$q: no lineage cut in the plan")
      assert(cuts.forall(_.isCheckpointed), s"$q: a cut is still lazy when the builder returns")
    }
  }

  test("the cut consumers leave no accumulator-update errors in the log") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("accumulator-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // timed measures on the active session, so it must exist first
    assert(spark eq SparkSession.active)
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try (eagerCuts :+ "retrieval_rrf_fusion").foreach { q =>
      (1 to 3).foreach { _ =>
        System.gc() // collect whatever the driver no longer references
        Harness.timed(q)(SparkEntry.queries(q)(spark, sf))
      }
    } finally { root.removeAppender(capture); capture.stop() }
    val errors = seen.asScala.filter(_.contains("Failed to update accumulator"))
    val n = errors.size
    assert(n == 0, s"accumulator-update errors, first: ${errors.take(1).mkString}")
  }
}
