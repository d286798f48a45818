package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** `Harness` is the one session, timing and recording core: its samples
  * must account for the stages, jobs, compilations and executed plans of
  * the span they time, no main may build a session or time a query by
  * hand, and no other file registers a listener.
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
    assert(cold.jobs >= 1, cold)
    assert(cold.plans.flatMap(qe => Harness.nodes(qe.executedPlan))
      .exists(_.isInstanceOf[FileSourceScanExec]), "no recorded plan scans lineitem")
  }

  test("stageUnionMs counts overlapping stage time once") {
    def st(a: Long, b: Long) = Harness.Stage(0, "", a, b, 0, 0, 0, 0, 0, 0, 0, 0, 1)
    val s = Harness.Sample("s", 1.0, Seq(st(10, 20), st(15, 30), st(40, 45), st(41, 42)), 0, 0, 0, Nil)
    assert(s.stageUnionMs == 25)
  }

  /** (file name, contents) of every Scala file under `root`. */
  private def named(root: String): Seq[(String, String)] =
    SourceAudit.sources(root).map { case (p, src) => Paths.get(p).getFileName.toString -> src }

  private lazy val sources = named("src/main/scala")
  private def sites(pattern: String): Seq[String] =
    sources.flatMap { case (f, src) => Seq.fill(pattern.r.findAllIn(src).size)(f) }

  test("src/main builds one session and times one noop write, both in Harness") {
    assert(sites("""SparkSession\s*\.\s*builder""") == Seq("Harness.scala"))
    assert(sites("""format\("noop"\)""") == Seq("Harness.scala"))
  }

  test("only Harness registers a listener, in src/main and src/test") {
    // the one exception: ExecutorLossSpec's child JVM reads the
    // executor ids of tasks while its body runs, not after a span.
    // The brackets keep this file from matching its own pattern.
    val listener = """addSpark[L]istener|listenerManager\s*\.\s*regis[t]er""".r
    val files = Seq("src/main/scala", "src/test/scala").flatMap(named)
      .collect { case (f, src) if listener.findFirstIn(src).nonEmpty => f }
    assert(files.sorted == Seq("ExecutorLossSpec.scala", "Harness.scala"))
  }

  test("src/main reads GC time and settles between groups only in Harness") {
    assert(sites("""getGarbageCollectorMXBeans""") == Seq("Harness.scala"))
    assert(sites("""\.clearCache\(\)""") == Seq("Harness.scala"))
  }
}
