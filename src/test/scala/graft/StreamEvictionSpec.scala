package graft

import java.nio.file.Files

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Event-time state eviction (r14): the windowed attribution machine
  * must (a) stop crediting touches older than the attribution window,
  * (b) DROP per-user state once the watermark passes last-touch +
  * window — so the store holds only users active within the window,
  * not the lifetime user domain — and (c) degenerate exactly to the
  * unbounded gate-oracled machine when the window exceeds the data
  * span.
  */
class StreamEvictionSpec extends AnyFunSuite {
  import TestSpark._

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def eventRows(rows: Seq[(Long, String, Long, String)]): DataFrame = {
    // (event_id, ts-literal, user_id, event_type)
    import spark.implicits._
    rows.toDF("event_id", "tss", "user_id", "event_type")
      .select(col("event_id"), expr("CAST(tss AS TIMESTAMP)").as("ts"),
        col("user_id"), col("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
  }

  private def listFiles(dir: String): Set[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSet
    finally s.close()
  }

  /** FileStreamSource orders files by modification time; appended waves
    * written back-to-back can tie on coarse-timestamp filesystems and
    * process out of order. Force the intended order by stamping each
    * wave's NEW files with a distinct, strictly-increasing mtime.
    */
  private def writeWave(dir: String, wave: Int)(w: => Unit): Unit = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val before = listFiles(dir)
    w
    val t = FileTime.fromMillis(1700000000000L + wave * 60000L)
    (listFiles(dir) -- before).foreach(Files.setLastModifiedTime(_, t))
  }

  test("attribution window: aged touches lose credit, idle state evicts") {
    val in = Files.createTempDirectory("graft-evict-in").toString
    // wave 1: three users touch at T0; u11 purchases inside the window
    writeWave(in, 1) {
      eventRows(Seq(
        (1L, "2026-01-01 00:00:00", 10L, "click"),
        (2L, "2026-01-01 00:00:00", 11L, "click"),
        (3L, "2026-01-01 01:00:00", 11L, "purchase"),
        (4L, "2026-01-01 00:00:00", 12L, "click")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    // wave 2 (a later file => later micro-batch): 30 days on, past the
    // 7-day window — u10's purchase must credit '(none)' (its stored
    // click has aged out inside the live group), and the
    // watermark advance must time out every idle state row
    writeWave(in, 2) {
      eventRows(Seq(
        (5L, "2026-01-31 00:00:00", 10L, "purchase"),
        (6L, "2026-01-31 00:00:00", 99L, "purchase")))
        .coalesce(1).write.mode("append").parquet(in)
    }

    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withWatermark("ts", "0 seconds")
    val q = Streams.attributionStepsWindowed(spark, stream, windowDays = 7)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_evict").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("t_evict").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((11L, "click"), (10L, "(none)"), (99L, "(none)")),
      s"credits: $got")
    // every state row evicted: u11/u12 idle past T0+7d (timed out once
    // the wave-2 watermark passed), u10's touch aged the same way, 99
    // never stored state (purchase with no touch)
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators(0)
    assert(lastState.numRowsTotal == 0,
      s"state rows not evicted: ${lastState.numRowsTotal}")
  }

  test("purchase arriving after the watermark passed touch+window " +
      "does not crash and credits '(none)'") {
    // Crash path (fixed r15): u10 touches in wave 1; wave 2 (another
    // user) advances the watermark PAST u10's touch+window; wave 3
    // delivers u10 a purchase. The group is invoked WITH data (not via
    // timeout), so the machine must not re-arm the event-time timeout
    // at touch+window — that timestamp is now <= the watermark and
    // setTimeoutTimestamp would throw, killing the query. The correct
    // move is state.remove(): the touch can never credit again.
    val in = Files.createTempDirectory("graft-evict-late").toString
    writeWave(in, 1) {
      eventRows(Seq((1L, "2026-01-01 00:00:00", 10L, "click")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    writeWave(in, 2) {
      eventRows(Seq((2L, "2026-01-31 00:00:00", 50L, "view")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    writeWave(in, 3) {
      eventRows(Seq((3L, "2026-02-01 00:00:00", 10L, "purchase")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withWatermark("ts", "0 seconds")
    val q = Streams.attributionStepsWindowed(spark, stream, windowDays = 7)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_evict_late").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("t_evict_late").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "(none)")), s"credits: $got")
  }

  test("boundary: purchase at exactly touch+window credits the touch " +
      "even when the watermark sits exactly at expiry (r16)") {
    // The inclusive batch semantic (r._2 - touchUs <= windowUs) must
    // hold at the exact window edge, and the edge is SUB-MILLISECOND:
    // the watermark is ms-granularity while touches are µs. u10 clicks
    // at T0+500µs, so expiry_us = T0+7d+500µs; wave 2 advances the
    // watermark to EXACTLY floor(expiry) = T0+7d ms. Wave 3 invokes
    // u10's group with a neutral event while watermarkMs == the r15
    // FLOORED expiryMs — that guard (floor + <=) wrongly removed state
    // even though µs-on-time purchases inside (watermark, touch+window]
    // still exist; with the r16 ceil + strict-<, the state re-arms at
    // T0+7d+1ms (> watermark, legal). Wave 4's purchase at
    // T0+7d+400µs (on-time, and 7d−100µs after the touch — inside the
    // inclusive window) must credit the click.
    val in = Files.createTempDirectory("graft-evict-edge").toString
    writeWave(in, 1) {
      eventRows(Seq((1L, "2026-01-01 00:00:00.0005", 10L, "click")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    writeWave(in, 2) {
      eventRows(Seq((2L, "2026-01-08 00:00:00", 50L, "view")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    writeWave(in, 3) {
      eventRows(Seq((3L, "2026-01-08 00:00:00.0003", 10L, "scroll")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    writeWave(in, 4) {
      eventRows(Seq((4L, "2026-01-08 00:00:00.0004", 10L, "purchase")))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .withWatermark("ts", "0 seconds")
    val q = Streams.attributionStepsWindowed(spark, stream, windowDays = 7)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_evict_edge").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("t_evict_edge").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "click")), s"credits: $got")
  }

  test("a window wider than the data span equals the unbounded machine") {
    val d = Files.createTempDirectory("graft-evict-eq").toString
    Tables.events(spark, sf)
      .select(Streams.eventSchema.fieldNames.map(col).toSeq: _*)
      .orderBy(col("ts"), col("event_id"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    def agg(df: DataFrame): Map[String, Long] = df
      .groupBy(col("channel")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val unbounded = agg(Streams.runToCompletion(spark,
      Streams.attributionSteps(spark, Streams.readEventStream(spark, d)),
      "t_evict_unb", "append"))
    val windowed = agg(Streams.runToCompletion(spark,
      Streams.attributionStepsWindowed(spark,
        Streams.readEventStream(spark, d).withWatermark("ts", "0 seconds"),
        windowDays = 36500),
      "t_evict_win", "append"))
    assert(windowed == unbounded, s"$windowed vs $unbounded")
  }

  /** RocksDB parity, build-enforced on the `flatMapGroupsWithState`
    * shapes (r18, extending the single-row r17 test): sessionize, SCD2,
    * z-score ring, and start-state handoff round-trip rich case-class
    * state through the provider's serializer every microbatch — exactly
    * where a provider swap historically diverges. The FULL 25-row sweep
    * lives in `graft.StreamParity` (artifact: STREAM_PARITY_r18.jsonl);
    * this test pins the four riskiest rows in `sbt test` so a state
    * encoding asymmetry fails the build, not just a round artifact.
    */
  test("rocksdb state store: flatMapGroupsWithState gate rows are bit-identical") {
    val shapes = Seq("stream_session", "stream_scd2", "stream_zscore",
      "stream_start_state", "stream_semantic_dedup")
    def rows(n: String): Seq[String] =
      SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted.toSeq
    val defaults = shapes.map(n => n -> rows(n)).toMap
    defaults.foreach { case (n, r) => assert(r.nonEmpty, s"$n empty sink") }
    withConf(providerKey -> rocksDb) {
      shapes.foreach { n =>
        val rocks = rows(n)
        assert(spark.conf.get(providerKey).contains("RocksDBStateStoreProvider"))
        assert(rocks == defaults(n),
          s"$n diverged under rocksdb: ${rocks.size} vs ${defaults(n).size} rows")
      }
    }
  }

  /** `stream_near_dedup`, the largest-state row (~1.2M signature keys),
    * gives the same output under HDFSBackedStateStoreProvider (the
    * default) and RocksDBStateStoreProvider, the provider a large
    * deployment sets to move state off-heap.
    */
  test("rocksdb state store: stream_near_dedup output is bit-identical") {
    def sigCounts(): Set[(String, Long)] =
      SparkEntry.queries("stream_near_dedup")(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val default = sigCounts()
    assert(default.nonEmpty)
    withConf(providerKey -> rocksDb) {
      val rocks = sigCounts()
      // the rocksdb run kept the provider the session set
      assert(spark.conf.get(providerKey).contains("RocksDBStateStoreProvider"))
      assert(rocks == default,
        s"provider changed results: ${rocks.size} vs ${default.size} sigs")
    }
    // and the session is back on the default provider
    sigCounts()
    assert(!spark.conf.getOption(providerKey).exists(_.contains("RocksDB")))
  }

  test("a state-store provider set on the session survives a gate row's run") {
    // the provider is plain session conf: neither the memory-sink runner
    // nor the checkpoint row's own runner may reset or unset it
    withConf(providerKey -> rocksDb) {
      Seq("stream_session", "stream_checkpoint_resume").foreach { n =>
        assert(SparkEntry.queries(n)(spark, sf).count() > 0, n)
        assert(spark.conf.getOption(providerKey).contains(rocksDb), n)
      }
    }
  }
}
