package graft

import graft.streaming.Streams
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, StringSplit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming tests: replay the events table through a file
  * source and check streaming results against the equivalent batch
  * computation (custreamz differential style, test_dataframes.py).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val replayDir: String = {
    val d = Files.createTempDirectory("graft-stream").toString
    Tables.events(spark, sf).repartition(4).write.mode("overwrite").parquet(d)
    d
  }

  test("running agg by type matches batch groupBy") {
    val stream = Streams.readEventStream(spark, replayDir)
    val got = Streams
      .runToCompletion(spark, Streams.runningAggByType(stream), "t_running")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    val exp = Tables
      .events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    assert(got == exp)
  }

  test("start-state handoff: batch history + stream tail equals whole-table agg at any cutoff") {
    val ev = Tables.events(spark, sf)
    val expected = ev
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("c"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    Seq("2024-01-05 00:00:00", "2024-01-20 12:00:00").zipWithIndex.foreach {
      case (cutoff, i) =>
        val cut = lit(cutoff).cast("timestamp")
        val hist = ev
          .filter(col("ts") < cut)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n0"),
            sum(floor(col("value") * 100).cast("long")).as("cents0"))
        val d = Files.createTempDirectory(s"graft-startstate-$i").toString
        ev.filter(col("ts") >= cut)
          .select(Streams.eventSchema.fieldNames.map(col).toSeq: _*)
          .repartition(4)
          .write.mode("overwrite").parquet(d)
        val got = Streams
          .runToCompletion(spark,
            Streams.runningAggFromInitialState(spark,
              Streams.readEventStream(spark, d), hist),
            s"t_startstate_$i")
          .groupBy(col("event_type"))
          .agg(max(col("n_events")).as("n"), max(col("cents")).as("c"))
          .collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap
        assert(got == expected, s"cutoff=$cutoff")
    }
  }

  test("tumbling 5-minute windows match batch bucketing") {
    val stream = Streams.readEventStream(spark, replayDir)
    val got = Streams
      .runToCompletion(spark, Streams.tumblingCounts(stream), "t_tumble")
      .agg(sum(col("n")))
      .head()
      .getLong(0)
    assert(got == Tables.events(spark, sf).count())
  }

  test("session windows produce per-user sessions") {
    val stream = Streams.readEventStream(spark, replayDir)
    val rows = Streams
      .runToCompletion(spark, Streams.sessionCounts(stream), "t_sess", "complete")
      .collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sf).count())
  }

  test("OHLC windows are arrival-order independent and match batch bars") {
    // min_by/max_by merge commutatively: a reverse-(ts,event_id)-sorted
    // single-file replay must produce the SAME bars as the unsorted
    // 4-file replay — and both must equal the batch recompute.
    // maxFilesPerTrigger=1 forces one micro-batch per file, so the
    // unsorted 4-file replay genuinely merges OHLC state ACROSS batches
    // (the property under test), not just across partitions of one batch
    def bars(dir: String, name: String): Map[(Long, Long), (Long, Long, Long, Long, Long)] =
      Streams.runToCompletion(spark,
        Streams.ohlcWindows(spark.readStream.schema(Streams.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(dir)),
        name, "complete")
        .select(expr("unix_micros(win_start) div 86400000000").as("day"),
          col("user_id"), col("open_cents"), col("high_cents"),
          col("low_cents"), col("close_cents"), col("n"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toMap
    val rev = Files.createTempDirectory("graft-ohlc-rev").toString
    Tables.events(spark, sf)
      .select(Streams.eventSchema.fieldNames.map(col).toSeq: _*)
      .orderBy(col("ts").desc, col("event_id").desc)
      .coalesce(1).write.mode("overwrite").parquet(rev)
    val a = bars(replayDir, "t_ohlc_unsorted")
    val b = bars(rev, "t_ohlc_rev")
    assert(a == b, "bars differ between replay orders")
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("x"))
      .groupBy(col("day"), col("user_id"))
      .agg(expr("min_by(x, struct(ts, event_id))").as("o"),
        max(col("x")).as("h"), min(col("x")).as("l"),
        expr("max_by(x, struct(ts, event_id))").as("c"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(a == batch, "stream bars diverge from batch recompute")
  }

  test("stateful last-n mean emits one final state per user") {
    val stream = Streams.readEventStream(spark, replayDir)
    val out = Streams
      .runToCompletion(spark, Streams.lastNMean(spark, stream, 4), "t_lastn")
    // update-mode memory sink: last row per user is the final state
    val finalPerUser = out
      .groupBy(col("user_id"))
      .agg(max(col("n_in_window")).as("n"))
      .collect()
    assert(finalPerUser.nonEmpty)
    finalPerUser.foreach(r => assert(r.getAs[Int]("n") <= 4))
    val users = Tables.events(spark, sf).select(countDistinct(col("user_id"))).head().getLong(0)
    assert(finalPerUser.length.toLong == users)
  }

  test("streaming dedup drops duplicate event ids with bounded state") {
    // replay the events twice (duplicated input) through the dedup stream
    val dupDir = Files.createTempDirectory("graft-dup").toString
    val ev = Tables.events(spark, sf)
    ev.union(ev).repartition(4).write.mode("overwrite").parquet(dupDir)
    val stream = Streams.readEventStream(spark, dupDir)
    val out = Streams.runToCompletion(
      spark, Streams.dedupStream(stream), "t_dedup", "append")
    assert(out.count() == ev.count())
    assert(out.select(countDistinct(col("event_id"))).head().getLong(0) == ev.count())
  }

  test("streaming near-dedup drops minhash-identical texts with bounded state") {
    // replay the documents with fresh ids appended (identical texts →
    // identical 16-permutation signatures): survivors = distinct sigs,
    // PLUS every short document (< 3 tokens — no shingles, so not a
    // near-dedup candidate; batch semantics exclude them too). Four
    // distinct short docs (two of them identical texts, one null) are
    // injected to pin that none are dropped.
    val dir = Files.createTempDirectory("graft-neardup").toString
    val docs = Tables
      .documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .withColumn("ts",
        expr("timestamp'2026-01-01 00:00:00' + INTERVAL 1 SECOND * (doc_id % 60)"))
    val shorts = spark
      .createDataFrame(Seq(
        (9000001L, "hi"), (9000002L, "hi"), (9000003L, "one two"),
        (9000004L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
      .withColumn("ts", expr("timestamp'2026-01-01 00:00:30'"))
    val doubled = docs
      .union(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      .union(shorts)
    doubled.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(doubled.schema).parquet(dir)
    val out = Streams.runToCompletion(
      spark, Streams.nearDedupStream(stream, "ts"), "t_neardup", "append")
    val longDocs = doubled.filter(size(split(col("text"), " ")) >= 3)
    val shortRows = doubled.count() - longDocs.count() // every one survives
    val expected = operators.Dedup
      .withShingles(longDocs)
      .select(ArrCanon.joined(graft.functions.MinHash64.minhash64(col("tk"), 16)).as("sig"))
      .select(countDistinct(col("sig")))
      .head().getLong(0) + shortRows
    assert(out.count() == expected,
      s"near-dedup survivors ${out.count()} != distinct signatures $expected")
    assert(out.filter(col("doc_id") >= 9000001L).count() == 4,
      "short documents must pass through the near-dedup untouched")
    // and it genuinely deduped: the doubled corpus collapsed
    assert(out.count() <= docs.count() + 4)
  }

  test("streaming near-dedup splits each text once, outside the shingle lambda") {
    // a split referenced inside the shingle lambda re-runs per element,
    // O(tokens²) per document; every micro-batch's optimized plan must
    // carry the split in a projection of its own
    val dir = Files.createTempDirectory("graft-neardup-split").toString
    Tables.documents(spark, sf).select(col("doc_id"), col("text")).limit(50)
      .withColumn("ts", expr("timestamp'2026-01-01 00:00:00'"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    assert(spark eq SparkSession.active) // measure records on the active session
    val plans = Harness.measure("t_neardup_split") {
      Streams.runToCompletion(spark,
        Streams.nearDedupStream(
          spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir), "ts"),
        "t_neardup_split", "append")
    }._2.plans.map(_.optimizedPlan)
    def splits(e: Expression): Seq[StringSplit] = e.collect { case s: StringSplit => s }
    val exprs = plans.flatMap(_.flatMap(_.expressions))
    assert(exprs.flatMap(splits).nonEmpty, "no recorded plan splits the text")
    val inLambda = exprs.flatMap(_.collect { case l: LambdaFunction => l })
      .filter(l => splits(l.function).nonEmpty)
    assert(inLambda.isEmpty, s"split inside a lambda: ${inLambda.map(_.sql).mkString("; ")}")
  }

  test("checkpointed query recovers without reprocessing") {
    // memory sink can't recover from a checkpoint — use a file sink, the
    // production shape (readStream → transform → writeStream.parquet)
    val cp = Files.createTempDirectory("graft-cp").toString
    val out = Files.createTempDirectory("graft-cp-out").toString
    def runOnce(): Unit = {
      val q = Streams
        .slidingCounts(Streams.readEventStream(spark, replayDir))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    runOnce() // resume from checkpoint: nothing new to process
    val n2 = spark.read.parquet(out).count()
    assert(n2 == n1)
  }

  test("near-dedup state survives a mid-stream kill: no duplicate survivors across restart") {
    // The state-store contract a 100 TB streaming dedup depends on: the
    // seen-signature state must come back after a crash, so a duplicate
    // arriving AFTER the restart of a killed query is still dropped, and
    // a batch in flight at the kill replays exactly-once into the file
    // sink. Shape: originals + one duplicate wave land, the query is
    // killed after its first committed batch with input still pending
    // (maxFilesPerTrigger=1 forces multi-batch), a second duplicate wave
    // arrives while the query is DOWN, then the query resumes from the
    // checkpoint and drains. Any lost state shows up as a repeated
    // signature in the output; any replayed output as a count overshoot.
    val in = Files.createTempDirectory("graft-ndkill-in").toString
    val cp = Files.createTempDirectory("graft-ndkill-cp").toString
    val outDir = Files.createTempDirectory("graft-ndkill-out").toString
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 3)
      .orderBy(col("doc_id")).limit(200)
      .withColumn("ts", expr("timestamp'2026-01-01 00:00:00'"))
      .cache()
    def appendWave(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(in)
    appendWave(base)
    appendWave(base.withColumn("doc_id", col("doc_id") + 1000000L))
    def stream = Streams.nearDedupStream(
      spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1).parquet(in), "ts")
    def writer(s: org.apache.spark.sql.DataFrame) = s.writeStream
      .outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", cp)

    val q1 = writer(stream).start()
    val deadline = System.currentTimeMillis() + 60000
    while (q1.recentProgress.count(_.numInputRows > 0) < 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    q1.stop()
    q1.awaitTermination()

    appendWave(base.withColumn("doc_id", col("doc_id") + 2000000L))
    val q2 = writer(stream)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()

    val out = spark.read.parquet(outDir)
    val distinctSigs = out.select(countDistinct(col("sig"))).head().getLong(0)
    assert(out.count() == distinctSigs,
      s"${out.count()} survivors but only $distinctSigs distinct signatures — " +
        "a duplicate survived the restart (state store lost)")
    val expected = operators.Dedup.withShingles(base)
      .select(ArrCanon.joined(graft.functions.MinHash64.minhash64(col("tk"), 16)).as("sig"))
      .select(countDistinct(col("sig"))).head().getLong(0)
    assert(out.count() == expected,
      s"survivors ${out.count()} != corpus distinct-signature count $expected")
  }

  test("streaming PQ encode matches the batch encode (stateless ANN ingest)") {
    // The PQ encode is a pure projection over literal codebooks, so the
    // SAME operator runs unchanged on a stream — the shape that lets a
    // streaming ingest pipeline assign ANN codes to arriving embeddings
    // with zero state and zero shuffles. Differential: codes from the
    // streamed table must equal the batch codes row for row.
    val dir = Files.createTempDirectory("graft-pq-stream").toString
    val emb = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
    emb.repartition(4).write.mode("overwrite").parquet(dir)
    val cb = operators.Similarity.pqCodebooks(emb, 8, 16, 8)
    val stream = spark.readStream.schema(emb.schema).parquet(dir)
    val out = Streams.runToCompletion(
      spark, operators.Similarity.encodePq(stream, cb, 8).drop("e"),
      "t_pq_stream", "append")
    val batch = operators.Similarity.encodePq(emb, cb, 8).drop("e")
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty,
      "streamed PQ codes must equal the batch codes")
  }

  test("stream-stream click/view join matches the batch range join") {
    val stream = Streams.readEventStream(spark, replayDir)
    val got = Streams
      .runToCompletion(spark,
        Streams.clickViewJoin(stream, "click", "view"), "t_ssjoin",
        mode = "append")
      .count()
    val ev = Tables.events(spark, sf)
    val a = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
    val b = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
    val exp = a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 6 HOURS"))
      .count()
    assert(got == exp && got > 0)
  }

  test("streaming as-of enrichment matches the batch as-of within the horizon") {
    val stream = Streams.readEventStream(spark, replayDir)
    val got = Streams
      .runToCompletion(spark,
        Streams.asOfEnrich(stream, "click", "purchase"), "t_asof",
        mode = "append")
    // batch twin: identical join + per-probe max, no watermark
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("value").as("r_value"))
    val exp = p.join(r,
        col("p_user") === col("r_user") &&
          col("r_ts") <= col("p_ts") &&
          col("r_ts") >= col("p_ts") - expr("INTERVAL 6 HOURS"))
      .groupBy(col("p_event"), col("p_user"), col("p_ts"))
      .agg(
        max_by(col("r_value"), struct(col("r_ts"), col("r_value")))
          .as("asof_value"),
        max(col("r_ts")).as("asof_ts"))
    assert(got.count() > 0)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("stream-static enrichment matches the batch join, stateless") {
    val stream = Streams.readEventStream(spark, replayDir)
    val dim = Tables.customer(spark, sf)
    val got = Streams
      .runToCompletion(spark,
        Streams.enrichWithDim(stream, dim), "t_enrich")
      .count()
    val exp = Streams.enrichWithDim(Tables.events(spark, sf), dim).count()
    assert(got == exp && got > 0)
  }

  test("streaming drift monitor matches the batch twin bit-exactly") {
    val ev = Tables.events(spark, sf)
    // baseline = the first half-month (the batch drift_tvd gate's base
    // side); the stream then replays the WHOLE table, so later windows
    // genuinely drift when the synthetic mix shifts
    val base = Streams.driftBaseline(
      ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")))
    assert(base.nonEmpty && base.map(_._2).sum <= 1000000L)
    val stream = Streams.readEventStream(spark, replayDir)
    val got = Streams
      .runToCompletion(spark, Streams.driftMonitor(stream, base), "t_drift")
    // batch twin: the same builder on the static table (the watermark is
    // eliminated in batch plans) — every cell must agree, integer-exact
    val exp = Streams.driftMonitor(ev, base)
    assert(got.count() > 0)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      s"stream/batch drift mismatch")
    // per-window proportions are a distribution: masses ≈ 1e6
    val masses = got.groupBy(col("win_start"))
      .agg(sum(col("p_cur_micro")).as("m")).collect().map(_.getLong(1))
    assert(masses.forall(m => m > 999000L && m <= 1000000L),
      s"window masses: ${masses.mkString(",")}")
  }

  test("streaming CMS counters are bit-identical to the batch sketch") {
    val stream = Streams.readEventStream(spark, replayDir)
    val got = Streams
      .runToCompletion(spark, Streams.cmsCounters(stream), "t_cms",
        mode = "complete")
    // bounded state: the sketch can never exceed its d × w cells
    assert(got.count() > 0 && got.count() <= 4 * 1024)
    val exp = Streams.cmsCounters(Tables.events(spark, sf))
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "stream/batch CMS cells diverge")
    // the CMS guarantee holds against exact per-user counts: for the
    // 5 heaviest users, min over rows of their cell counters >= exact
    val top = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(5).collect()
    val cells = got.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    top.foreach { r =>
      val (u, n) = (r.getLong(0), r.getLong(1))
      val est = (0 until 4).map { rr =>
        val b = (u * (1000003L + 2 * rr) + 12289L * rr) % 1000000007L % 1024
        cells((rr, b))
      }.min
      assert(est >= n, s"CMS underestimated user $u: $est < $n")
    }
  }

  test("streaming per-window KMV matches batch and tracks exact distinct counts") {
    val stream = Streams.readEventStream(spark, replayDir)
    val got = Streams
      .runToCompletion(spark, Streams.kmvWindowDistinct(stream), "t_kmv",
        mode = "complete")
    val exp = Streams.kmvWindowDistinct(Tables.events(spark, sf))
    assert(got.count() > 0)
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "stream/batch KMV windows diverge")
    // accuracy: every window's estimate within 30% of the exact
    // distinct count (k = 256 ⇒ ~1/sqrt(k) ≈ 6% expected error)
    val exact = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"))
      .agg(countDistinct(col("user_id")).as("d"))
      .select(col("window.start").as("win_start"), col("d"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    got.collect().foreach { r =>
      val (w, est) = (r.getTimestamp(0), r.getLong(2))
      val d = exact(w)
      assert(math.abs(est - d).toDouble / d <= 0.3,
        s"window $w: est=$est exact=$d")
    }
  }

  test("streaming per-window t-digest quantiles stay inside the rank envelope") {
    // two inputs: the operator over this spec's replay, and the
    // registered rows-only gate row, which has no oracle to hash against
    val stream = Streams.readEventStream(spark, replayDir)
    val operator = Streams
      .runToCompletion(spark, Streams.tdigestWindowQuantiles(stream),
        "t_tdig", mode = "complete")
      .select(expr("unix_micros(win_start)").as("win_us"),
        col("n_events"), col("p50_est"), col("p99_est"))
    val gateRow = SparkEntry.queries("stream_tdigest_window")(spark, sf)
    // exact per-window values for rank checking, keyed by window start
    val exact = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"))
      .agg(collect_list(col("value")).as("vs"))
      .select(expr("unix_micros(window.start)").as("win_us"), col("vs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).sorted.toIndexedSeq)
      .toMap
    def rankOf(sorted: IndexedSeq[Double], x: Double): Double = {
      val i = sorted.count(_ <= x)
      i.toDouble / sorted.length
    }
    Seq("tdigestWindowQuantiles" -> operator, "stream_tdigest_window" -> gateRow).foreach {
      case (input, got) =>
        assert(got.count() > 0, input)
        got.collect().foreach { r =>
          val w = r.getLong(0)
          val vs = exact(w)
          assert(r.getLong(1) == vs.length, s"$input window $w event count off")
          val e50 = math.abs(rankOf(vs, r.getDouble(2)) - 0.5)
          val e99 = math.abs(rankOf(vs, r.getDouble(3)) - 0.99)
          assert(e50 <= 0.03, s"$input window $w p50 rank err $e50")
          assert(e99 <= 0.03, s"$input window $w p99 rank err $e99")
        }
    }
  }

  test("streaming postings maintenance converges to the batch index") {
    // multi-file replay + maxFilesPerTrigger forces MULTIPLE micro-
    // batches, so cross-batch state merging (df accumulation, min-20
    // postings maintenance) is actually exercised
    val d = Files.createTempDirectory("graft-stream-post").toString
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .repartition(6).write.mode("overwrite").parquet(d)
    val stream = spark.readStream.schema(Streams.docSchema)
      .option("maxFilesPerTrigger", "2").parquet(d)
    val got = Streams.runToCompletion(
      spark, Streams.postingsMaintain(spark, stream), "t_post", "update")
    // final state per token = the emission with the highest df (df is
    // monotone across batches)
    import org.apache.spark.sql.expressions.Window
    val fin = got
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(col("tok")).orderBy(col("df").desc)))
      .filter(col("rn") === 1 && col("df") >= 5)
      .select(col("tok"), col("df"), col("capped"), col("postings"))
    val batch = graft.queries.Retrieval.postingsOver(
      Tables.documents(spark, sf))
    assert(fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty,
      "final streaming index diverges from the batch index")
  }

  test("streaming transition steps aggregate to the batch Markov counts") {
    // single sorted file => one AvailableNow micro-batch, so per-user
    // arrival order equals the batch (ts, event_id) total order
    val d = Files.createTempDirectory("graft-stream-trans").toString
    Tables.events(spark, sf).orderBy(col("ts"), col("event_id"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    val stream = Streams.readEventStream(spark, d)
    val steps = Streams.runToCompletion(
      spark, Streams.transitionSteps(spark, stream), "t_trans", "append")
    val got = steps.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = SparkEntry.queries("path_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(got == exp, s"stream/batch transition counts diverge")
    // bounded state: emitted steps = events - users (one state row each)
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(steps.count() == nEvents - nUsers)
  }

  test("streaming attribution equals the batch last-touch credit") {
    val d = Files.createTempDirectory("graft-stream-attr").toString
    Tables.events(spark, sf).orderBy(col("ts"), col("event_id"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    val credits = Streams.runToCompletion(
      spark, Streams.attributionSteps(spark, Streams.readEventStream(spark, d)),
      "t_attr", "append")
    val got = credits.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exp = SparkEntry.queries("attribution_last_touch")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_purchases"), r.getAs[Long]("n_users"))).toMap
    assert(got == exp, s"stream $got vs batch $exp")
  }

  test("streaming z-score flags aggregate to the batch anomaly monitor") {
    val d = Files.createTempDirectory("graft-stream-zscore").toString
    Tables.events(spark, sf).orderBy(col("ts"), col("event_id"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    val flags = Streams.runToCompletion(
      spark, Streams.zscoreFlags(spark, Streams.readEventStream(spark, d)),
      "t_zscore", "append")
    val got = flags.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"), sum(col("flag")).as("n_anomalies"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exp = SparkEntry.queries("ts_anomaly_zscore")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_eval"), r.getAs[Long]("n_anomalies"))).toMap
    assert(got == exp, s"stream $got vs batch $exp")
  }

  test("streaming SCD2 closed intervals equal the batch history's closed rows") {
    val d = Files.createTempDirectory("graft-stream-scd2").toString
    Tables.orders(spark, sf)
      .select(col("o_custkey").as("key"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"),
        col("o_orderkey").as("seq"),
        col("o_orderpriority").as("attr"))
      .orderBy(col("key"), col("day"), col("seq"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    val closed = Streams.runToCompletion(
      spark, Streams.scd2Steps(spark, Streams.readChangeStream(spark, d)),
      "t_scd2", "append")
    val got = closed.collect().map(r => (r.getLong(0), r.getString(1),
      r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    val exp = SparkEntry.queries("scd2_history")(spark, sf)
      .filter(col("is_current") === 0)
      .select(col("o_custkey"), col("attr"),
        datediff(col("valid_from"), lit("1970-01-01").cast("date")).as("f"),
        datediff(col("valid_to"), lit("1970-01-01").cast("date")).as("t"),
        col("version"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    assert(got == exp,
      s"stream/batch SCD2 diverge: ${(got -- exp).take(2)} vs ${(exp -- got).take(2)}")
    // bounded state: exactly one open interval per key stays in state,
    // so closed rows = batch rows - distinct keys in the change log
    val batch = SparkEntry.queries("scd2_history")(spark, sf)
    assert(closed.count() ==
      batch.count() - batch.select(col("o_custkey")).distinct().count())
  }

  test("streaming funnel state machine matches the batch funnel counts") {
    val d = Files.createTempDirectory("graft-stream-funnel").toString
    Tables.events(spark, sf).orderBy(col("ts"), col("event_id"))
      .coalesce(1).write.mode("overwrite").parquet(d)
    val stream = Streams.readEventStream(spark, d)
    val stages = Streams.runToCompletion(
      spark, Streams.funnelStages(spark, stream), "t_funnel", "append")
    val got = stages.groupBy(col("stage")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = SparkEntry.queries("funnel_conversion")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_users"))
      .filter(_._2 > 0).toMap
    assert(got == exp, s"stream $got vs batch $exp")
    // a user completes each stage at most once
    assert(stages.count() ==
      stages.select(col("user_id"), col("stage")).distinct().count())
  }
}
