package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** `Harness` is the one session and timing core of the harness mains:
  * its samples must account for the stages and compilations of the span
  * they time, and no main may build a session or time a query by hand.
  */
class HarnessSpec extends AnyFunSuite {
  import TestSpark._

  // An aggregate (map stage + result stage) no other spec builds: its
  // long literals are compiled into the generated classes, so its first
  // run misses the codegen cache.
  private def twoStage = Tables.lineitem(spark, sf)
    .groupBy(col("l_returnflag"))
    .agg(sum(col("l_orderkey") * 7919L + 104729L).as("s"))

  test("timed: stages inside the wall, compiles on the cold run, none on a repeat") {
    // timed measures on the active session, so it must exist first
    assert(spark eq SparkSession.active)
    val cold = Harness.timed("two-stage")(twoStage)
    val warm = Harness.timed("two-stage")(twoStage)
    assert(cold.stages.size >= 2, cold.stages)
    assert(cold.stages.forall(s => s.submitMs > 0 && s.endMs >= s.submitMs && s.tasks > 0))
    // stage timestamps are whole milliseconds, the wall is not
    assert(cold.secs * 1000 + 1 >= cold.stageUnionMs,
      s"wall ${cold.secs}s shorter than the ${cold.stageUnionMs} ms its stages ran")
    assert(cold.compiles > 0 && cold.compileMs > 0)
    assert(warm.compiles == 0, "the repeat missed the codegen cache")
  }

  test("stageUnionMs counts overlapping stage time once") {
    def st(a: Long, b: Long) = Harness.Stage(0, "", a, b, 0, 0, 0, 0, 0, 0, 0, 0, 1)
    val s = Harness.Sample("s", 1.0, Seq(st(10, 20), st(15, 30), st(40, 45), st(41, 42)), 0, 0)
    assert(s.stageUnionMs == 25)
  }

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
  }
  private def sites(pattern: String): Seq[String] =
    sources.flatMap { case (f, src) => Seq.fill(pattern.r.findAllIn(src).size)(f) }

  test("src/main builds one session and times one noop write, both in Harness") {
    assert(sites("""SparkSession\s*\.\s*builder""") == Seq("Harness.scala"))
    assert(sites("""format\("noop"\)""") == Seq("Harness.scala"))
  }

  test("src/main reads GC time and settles between groups only in Harness") {
    assert(sites("""getGarbageCollectorMXBeans""") == Seq("Harness.scala"))
    assert(sites("""\.clearCache\(\)""") == Seq("Harness.scala"))
  }
}
