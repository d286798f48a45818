package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Materialize` is the engine's one materialization policy: its cuts
  * are named, its concurrent form is the one-by-one form run at once,
  * its scope leaves only the blocks a result needs, no cache feeds a
  * later call, and no other main source cuts, caches or releases.
  */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark._

  private def cutRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  private def frame(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select((col("id") % 7).as("k"), col("id"))

  test("a shared cut is checkpointed when it returns and carries its site name") {
    assert(spark eq SparkSession.active) // measure reads the active session
    val (cut, sample) = Harness.measure("shared")(Materialize.shared(frame(1000), "spec.shared"))
    val Seq(rdd) = cutRdds(cut)
    assert(rdd.isCheckpointed, "a shared cut is eager")
    assert(rdd.toString.endsWith(" at spec.shared"), rdd.toString)
    assert(sample.stages.nonEmpty && sample.stages.forall(_.name == "spec.shared"),
      sample.stages.map(_.name).mkString(", "))
    val Seq(lazyRdd) = cutRdds(Materialize.step(frame(1000), "spec.step"))
    assert(!lazyRdd.isCheckpointed && lazyRdd.toString.endsWith(" at spec.step"), lazyRdd.toString)
  }

  test("the concurrent form returns the same rows as one-by-one cuts") {
    val frames = Seq(frame(500).groupBy(col("k")).agg(sum(col("id")).as("s")),
      frame(300).select((col("id") * 3).as("v")))
    val together = Materialize.shared(frames, "spec.together")
    val oneByOne = frames.map(Materialize.shared(_, "spec.one"))
    assert(together.forall(cutRdds(_).forall(_.isCheckpointed)))
    together.zip(oneByOne).foreach { case (a, b) =>
      assert(a.collect().map(_.toString).sorted.toSeq == b.collect().map(_.toString).sorted.toSeq)
    }
  }

  test("releasing leaves no pinned RDD except the result's") {
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs.keySet.toSet
    val before = pinned
    val out = Materialize.releasing {
      val base = Materialize.cached(frame(1000), "spec.base")
      val keys = Materialize.shared(base.select(col("k")), "spec.keys")
      // the inner result is a lazy cut over a cache and a shared cut:
      // the shared cut reaches the enclosing scope, the cache does not
      val joined = Materialize.releasing {
        val counts = Materialize.cached(keys.groupBy(col("k")).count(), "spec.counts")
        Materialize.step(counts.join(keys, "k"), "spec.joined")
      }
      assert(joined.count() == 1000)
      joined
    }
    assert(pinned -- before == cutRdds(out).map(_.id).toSet)
    assert(out.count() == 1000)
    val left = pinned
    intercept[IllegalStateException] {
      Materialize.releasing {
        Materialize.cached(frame(100), "spec.failing").count()
        Materialize.shared(frame(100), "spec.failing")
        throw new IllegalStateException("body fails")
      }
    }
    assert(pinned == left, "a failing body keeps nothing")
    intercept[IllegalArgumentException](Materialize.cached(frame(10), "spec.unscoped"))
  }

  test("building text_bm25_topk twice reads the documents parquet twice") {
    // a cut the cache manager could match by plan would let the second
    // call read the first call's blocks instead of the corpus
    assert(spark eq SparkSession.active) // timed reads the active session
    def inputBytes = Harness.timed("text_bm25_topk")(SparkEntry.queries("text_bm25_topk")(spark, sf))
      .stages.map(_.inputBytes).sum
    val first = inputBytes
    assert(first > 0)
    assert(inputBytes == first)
  }

  test("only Materialize cuts, caches or releases in the main sources") {
    val call = """\.(localCheckpoint|cache|persist|unpersist|cacheQuery|uncacheQuery)\b|getPersistentRDDs""".r
    val comment = """^\s*(//|\*|/\*)""".r
    val hits = SourceAudit.sources("src/main/scala").flatMap { case (f, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (line, i) if comment.findFirstIn(line).isEmpty && call.findFirstIn(line).nonEmpty =>
          s"$f:${i + 1}"
      }
    }
    assert(hits.nonEmpty && hits.forall(_.startsWith("graft/Materialize.scala:")),
      s"materialization outside Materialize: ${hits.filterNot(_.startsWith("graft/Materialize.scala:"))}")
  }
}
