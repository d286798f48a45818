package graft

import java.nio.file.Files

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-state smell audit: every streaming gate row's own stream
  * plan (`StreamingGate.statePlans`, the plan its query runs) and the
  * one `Streams` constructor no gate row runs must be state-bounded
  * under [[PlanSmells.streamSmells]] — watermarked stateful ops,
  * derived-key sketches, time-range-bounded stream-stream joins — and
  * planted unbounded-state plans (raw-key aggregate without watermark,
  * watermark-less dropDuplicates, equi-only stream-stream join) must
  * each be caught, including through fresh aliases. Plan-level only:
  * nothing here starts a streaming query.
  */
class StreamSmellsSpec extends AnyFunSuite {
  import TestSpark._

  // file-source streaming frame over a real staged dir (plans resolve
  // identically whether or not data is ever processed)
  private lazy val replay: String = {
    val d = Files.createTempDirectory("graft-smell-stream").toString
    Tables.events(spark, sf)
      .select(Streams.eventSchema.fieldNames.map(col).toSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(d)
    d
  }
  private def events = Streams.readEventStream(spark, replay)

  private def smells(df: DataFrame): Seq[String] =
    PlanSmells.streamSmells(df.queryExecution.analyzed)

  test("every streaming gate row's own stream plan is state-bounded under the audit") {
    val gate = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSet
    val plans = queries.StreamingGate.statePlans(spark, sf, gate)
    assert(plans.map(_._1).toSet == gate && gate.size == 29,
      s"${plans.size} plans for ${gate.size} gate rows")
    val flagged = plans.map { case (n, df) => n -> smells(df) }.filter(_._2.nonEmpty)
    assert(flagged.isEmpty, flagged.map { case (n, ss) => s"$n: ${ss.mkString(",")}" }
      .mkString("gate rows flagged: ", "; ", ""))
  }

  test("the native near-dedup stream, which no gate row runs, is state-bounded") {
    val d = Files.createTempDirectory("graft-smell-docs").toString
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .withColumn("ts", expr("timestamp'2026-01-01 00:00:00'"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    val docStream = spark.readStream
      .schema(StructType(Streams.docSchema.fields :+ StructField("ts", TimestampType)))
      .parquet(d)
    assert(smells(Streams.nearDedupStream(docStream, "ts")).isEmpty)
  }

  test("raw-key streaming aggregate without watermark is caught") {
    val planted = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    assert(smells(planted) == Seq("unbounded-stream-agg"))
  }

  test("the raw-key rule is alias-transparent") {
    val laundered = events
      .select(col("user_id").as("uid"), col("value"))
      .select(col("uid").as("k"), col("value"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(smells(laundered) == Seq("unbounded-stream-agg"))
  }

  test("derived-key sketch aggregates stay exempt without a watermark") {
    // the CMS shape: grouping keys are computed bucket expressions, so
    // the domain is fixed by construction even with no watermark
    val sketch = events
      .select(pmod(col("user_id") * 48271L, lit(1024L)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
    assert(smells(sketch).isEmpty)
  }

  test("watermarked raw-key aggregate stays exempt") {
    val ok = events.withWatermark("ts", "10 minutes")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    assert(smells(ok).isEmpty)
  }

  test("watermark-less streaming dropDuplicates is caught") {
    val planted = events.dropDuplicates("event_id")
    assert(smells(planted) == Seq("unbounded-stream-dedup"))
    assert(smells(Streams.dedupStream(events)).isEmpty)
  }

  test("equi-only stream-stream join is caught; time-bounded stays exempt") {
    val a = events.filter(col("event_type") === "click")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val b = events.filter(col("event_type") === "view")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val planted = a.join(b, col("a_user") === col("b_user"))
    assert(smells(planted) == Seq("unbounded-stream-join"))
    assert(smells(Streams.clickViewJoin(events, "click", "view")).isEmpty)
  }
}
