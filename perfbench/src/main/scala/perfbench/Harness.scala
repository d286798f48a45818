package perfbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{SparkEntry, Tables}
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark harness: one client thread runs one query at a
  * time against a generated dataset directory and records what each
  * layer did, measured from outside the library.
  *
  * Set-up resolves each table the workload reads through `graft.Tables`
  * (timed, in the order given, as a first query reference would), then
  * runs each query once to write its result for the correctness check;
  * that rep is also the query's warmup. The timed phase runs passes over
  * the queries, each in a seeded permutation. The first pass and at
  * least `MinReps` reps always complete; after that the run stops at
  * the first rep boundary past `--seconds`, so the sample count grows
  * smoothly with the time budget. A rep's wall is the builder call
  * `SparkEntry.queries(name)(spark, dir)` through the completed noop
  * write. A query that throws is recorded with its exception class,
  * contributes no wall and is not run again.
  *
  * With `--trace 1` at least two passes run and each query alternates
  * between traced and untraced reps from pass to pass, so one run gives
  * both the per-layer spans and the tracing overhead. A traced rep
  * registers a Spark listener, a query-execution listener and a
  * streaming-query listener, drains the listener bus after the rep's
  * wall is closed, and turns the buffered events into the rep's span
  * tree. Spans stay in memory until the run ends. All arithmetic over
  * the records is done by `metrics.py`.
  *
  * Usage: Harness --data DIR --tables t1,t2 --queries a,b,c --seed N
  *   --seconds S --trace 0|1 --cores N --out DIR --tmp DIR
  */
object Harness {

  /** Timed reps every run completes: the tail rule of `metrics.py`
    * (at least ten samples beyond the reported one) needs eleven. */
  val MinReps = 11

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  // ------------------------------------------------------------- clock

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds on the monotonic clock; comparable with the
    * epoch-millisecond timestamps Spark stamps on listener events. */
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  // ------------------------------------------- DimCache build counter

  /** Counts the `[dimcache] computing` lines DimCache prints on stderr,
    * one per build, while passing all output through. */
  final class LineCounter(out: OutputStream, prefix: String) extends OutputStream {
    val count = new AtomicInteger(0)
    private val pre = prefix.getBytes(StandardCharsets.UTF_8)
    private var pos = 0 // bytes of the current line that matched `prefix`
    override def write(b: Int): Unit = synchronized {
      out.write(b)
      if (b == '\n') pos = 0
      else if (pos >= 0 && pos < pre.length) {
        if (b.toByte == pre(pos)) {
          pos += 1
          if (pos == pre.length) { count.incrementAndGet(); pos = -1 }
        } else pos = -1
      }
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = synchronized {
      var i = off
      while (i < off + len) { write(b(i).toInt & 0xff); i += 1 }
    }
    override def flush(): Unit = out.flush()
  }

  // --------------------------------------------------- trace recorders

  final case class JobEv(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int],
                         var failed: Boolean)
  final case class StageEv(id: Int, attempt: Int, submitMs: Long, endMs: Long,
                           failed: Boolean)
  final class TaskAgg {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, inputB, shufReadB, shufWriteB, spillB = 0L
  }
  final case class PhaseEv(name: String, startMs: Long, endMs: Long)
  final case class BatchEv(startMs: Long, triggerMs: Long, rows: Long,
                           durations: Map[String, Long], stateRows: Long,
                           stateMemB: Long, stateCommitMs: Long)

  /** Buffers the listener events of one traced rep. */
  final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobEv]()
    val stages = new ConcurrentLinkedQueue[StageEv]()
    val tasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()
    val phases = new ConcurrentLinkedQueue[PhaseEv]()
    val batches = new ConcurrentLinkedQueue[BatchEv]()
    val aqeUpdates = new AtomicInteger(0)
    private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = JobEv(e.jobId, e.time, -1L, e.stageIds, failed = false)
      openJobs.put(e.jobId, j); jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { j =>
        j.endMs = e.time
        j.failed = e.jobResult != JobSucceeded
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        stages.add(StageEv(si.stageId, si.attemptNumber(), s, c, si.failureReason.isDefined))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = tasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        if (e.reason != org.apache.spark.Success) a.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputB += m.inputMetrics.bytesRead
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates.incrementAndGet()
      case _ =>
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (name, p) =>
          phases.add(PhaseEv(name, p.startTimeMs, p.endTimeMs))
        }
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches.add(BatchEv(start, d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum,
          p.stateOperators.map(_.commitTimeMs).sum))
      }
    }
  }

  // -------------------------------------------------------------- spans

  final case class Span(id: Long, parent: Long, trace: String, kind: String, name: String,
                        startUs: Long, endUs: Long, attrs: Map[String, Double])

  private val spanSeq = new java.util.concurrent.atomic.AtomicLong(0)
  def newId(): Long = spanSeq.incrementAndGet()

  /** Turns one traced rep's buffered events into its span subtree:
    * rep -> build / execute -> (micro-batch ->) planning phase / job ->
    * stage. A child's parent is the innermost enclosing span by start
    * time; a stage hangs under the job that lists it. */
  def repSpans(rec: Recorder, repId: Long, trace: String, name: String,
               t0: Long, t1: Long, t2: Long): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    val build = Span(newId(), repId, trace, "build", name, t0, t1, Map.empty)
    val exec = Span(newId(), repId, trace, "execute", name, t1, t2, Map.empty)
    out += build += exec
    val batches = rec.batches.asScala.toSeq.sortBy(_.startMs).map { b =>
      val s = b.startMs * 1000L
      val attrs = Map(
        "input_rows" -> b.rows.toDouble, "trigger_ms" -> b.triggerMs.toDouble,
        "add_batch_ms" -> b.durations.getOrElse("addBatch", 0L).toDouble,
        "planning_ms" -> b.durations.getOrElse("queryPlanning", 0L).toDouble,
        "wal_commit_ms" -> (b.durations.getOrElse("walCommit", 0L) +
          b.durations.getOrElse("commitOffsets", 0L)).toDouble,
        "state_rows" -> b.stateRows.toDouble, "state_mem_b" -> b.stateMemB.toDouble,
        "state_commit_ms" -> b.stateCommitMs.toDouble)
      Span(newId(), if (s < t1) build.id else exec.id, trace, "microbatch", name,
        s, s + b.triggerMs * 1000L, attrs)
    }
    out ++= batches
    def parentAt(us: Long): Long =
      batches.find(b => b.startUs <= us && us <= b.endUs).map(_.id)
        .getOrElse(if (us < t1) build.id else exec.id)
    rec.phases.asScala.foreach { p =>
      out += Span(newId(), parentAt(p.startMs * 1000L), trace, "phase", p.name,
        p.startMs * 1000L, p.endMs * 1000L, Map.empty)
    }
    val jobSpans = rec.jobs.asScala.toSeq.sortBy(_.id).map { j =>
      val end = if (j.endMs < 0) t2 / 1000L else j.endMs
      j -> Span(newId(), parentAt(j.startMs * 1000L), trace, "job", s"job ${j.id}",
        j.startMs * 1000L, end * 1000L, Map("failed" -> (if (j.failed) 1.0 else 0.0)))
    }
    out ++= jobSpans.map(_._2)
    rec.stages.asScala.foreach { s =>
      val owner = jobSpans.reverseIterator.collectFirst {
        case (j, span) if j.stageIds.contains(s.id) => span.id
      }.getOrElse(parentAt(s.submitMs * 1000L))
      val a = Option(rec.tasks.get((s.id, s.attempt))).getOrElse(new TaskAgg)
      out += Span(newId(), owner, trace, "stage", s"stage ${s.id}.${s.attempt}",
        s.submitMs * 1000L, s.endMs * 1000L, Map(
          "tasks" -> a.tasks.toDouble, "task_failures" -> a.failures.toDouble,
          "task_run_ms" -> a.runMs.toDouble, "task_cpu_ms" -> a.cpuNs / 1e6,
          "gc_ms" -> a.gcMs.toDouble, "input_b" -> a.inputB.toDouble,
          "shuffle_read_b" -> a.shufReadB.toDouble,
          "shuffle_write_b" -> a.shufWriteB.toDouble, "spill_b" -> a.spillB.toDouble,
          "failed" -> (if (s.failed) 1.0 else 0.0)))
    }
    out.toSeq
  }

  // --------------------------------------------------------------- JSON

  def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "kind" -> s.kind,
    "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)

  // ---------------------------------------------------------------- JVM

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  def vmHwmMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(-1.0)
    }.getOrElse(-1.0)

  // --------------------------------------------------------------- main

  final case class Failure(query: String, phase: String, cls: String, msg: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = args("data")
    val queryNames = args("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val out = Paths.get(args("out"))
    Files.createDirectories(out)

    val dimcache = new LineCounter(System.err, "[dimcache] computing")
    System.setErr(new PrintStream(dimcache, true))

    val failures = mutable.ArrayBuffer[Failure]()
    var attempted = 0
    def fail(query: String, phase: String, e: Throwable): Unit = {
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      System.err.println(s"[perfbench] $query failed in $phase: $e")
      failures += Failure(query, phase, e.getClass.getName,
        s"${root.getClass.getName}: ${String.valueOf(root.getMessage).take(300)}")
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args("tmp"))
      .config("spark.sql.warehouse.dir", Paths.get(args("tmp"), "warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyUs = nowUs()

    // ---- set-up: cold table resolution through the registry layer
    val resolvers = Map[String, (SparkSession, String) => Any](
      "events" -> Tables.events _, "lineitem" -> Tables.lineitem _,
      "orders" -> Tables.orders _, "customer" -> Tables.customer _,
      "supplier" -> Tables.supplier _, "part" -> Tables.part _,
      "nation" -> Tables.nation _, "region" -> Tables.region _,
      "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)
    val resolveMs = args("tables").split(",").toSeq.map(t => t -> resolvers(t)).map { case (t, f) =>
      attempted += 1
      val s0 = System.nanoTime()
      try f(spark, dir) catch { case e: Throwable => fail(s"Tables.$t", "setup", e) }
      t -> (System.nanoTime() - s0) / 1e6
    }

    // ---- set-up: one rep per query writes the result the check reads;
    // it is also the query's warmup
    val broken = mutable.Set[String]()
    val resultRows = mutable.LinkedHashMap[String, Long]()
    val checkMs = mutable.LinkedHashMap[String, Double]()
    def dropSinks(): Unit =
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("gate_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
    for (name <- queryNames) {
      attempted += 1
      val c0 = System.nanoTime()
      try {
        val res = out.resolve("results").resolve(name).toString
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(res)
        resultRows(name) = spark.read.parquet(res).count()
      } catch { case e: Throwable => fail(name, "check", e); broken += name }
      checkMs(name) = (System.nanoTime() - c0) / 1e6
      if (name.startsWith("stream_")) dropSinks()
    }
    val setupDimcache = dimcache.count.get()

    // ---- timed phase
    val rng = new scala.util.Random(seed)
    val live = queryNames.filterNot(broken)
    val reps = mutable.ArrayBuffer[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Span]()
    val workloadId = newId()
    val setupEndUs = nowUs()
    val deadlineUs = setupEndUs + (seconds * 1e6).toLong
    var pass = 0
    val minPasses = if (traced) 2 else 1
    var timedReps = 0
    def more(): Boolean = pass < minPasses || timedReps < MinReps || nowUs() < deadlineUs
    while (live.exists(n => !broken(n)) && more()) {
      val order = rng.shuffle(live)
      val passId = newId()
      val passStart = nowUs()
      for ((name, idx) <- order.zipWithIndex if !broken(name) && more()) {
        val tracedRep = traced && (pass + queryNames.indexOf(name)) % 2 == 0
        val rec = if (tracedRep) {
          ListenerBusDrain(spark.sparkContext)
          val r = new Recorder
          spark.sparkContext.addSparkListener(r)
          spark.listenerManager.register(r.qeListener)
          spark.streams.addListener(r.streamListener)
          Some(r)
        } else None
        val dc0 = dimcache.count.get()
        val gc0 = gcMs()
        attempted += 1
        timedReps += 1
        val t0 = nowUs()
        var t1 = -1L
        val ok =
          try {
            val df = SparkEntry.queries(name)(spark, dir)
            t1 = nowUs()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable => fail(name, "timed", e); false }
        val t2 = nowUs()
        val gc = gcMs() - gc0
        val heap = heapAfterGcMb()
        if (name.startsWith("stream_")) dropSinks()
        val trace = f"$seed%d-$pass%d-$idx%d"
        val repId = newId()
        rec.foreach { r =>
          ListenerBusDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(r)
          spark.listenerManager.unregister(r.qeListener)
          spark.streams.removeListener(r.streamListener)
          if (ok) {
            spans += Span(repId, passId, trace, "rep", name, t0, t2, Map(
              "jvm_gc_ms" -> gc.toDouble, "heap_after_gc_mb" -> heap,
              "aqe_updates" -> r.aqeUpdates.get.toDouble))
            spans ++= repSpans(r, repId, trace, name, t0, t1, t2)
          }
        }
        if (ok) reps += Map(
          "query" -> name, "pass" -> pass, "traced" -> tracedRep, "trace" -> trace,
          "t0_us" -> t0, "t1_us" -> t1, "t2_us" -> t2,
          "dimcache_computes" -> (dimcache.count.get() - dc0),
          "jvm_gc_ms" -> gc, "heap_after_gc_mb" -> heap)
        else broken += name
      }
      if (traced) spans += Span(passId, workloadId, s"$seed-$pass", "pass", s"pass $pass",
        passStart, nowUs(), Map.empty)
      pass += 1
    }
    val endUs = nowUs()
    if (traced) spans += Span(workloadId, 0L, s"$seed", "workload", args("queries"),
      setupEndUs, endUs, Map.empty)

    val jvm = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "meta" -> Map(
        "jvm_start_us" -> jvm.getStartTime * 1000L,
        "session_ready_us" -> sessionReadyUs, "setup_end_us" -> setupEndUs,
        "end_us" -> endUs, "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "jdk" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
        "passes" -> pass, "vm_hwm_mb" -> vmHwmMb()),
      "attempted" -> attempted,
      "setup_dimcache_computes" -> setupDimcache,
      "resolve_ms" -> resolveMs.toMap,
      "check_ms" -> checkMs,
      "result_rows" -> resultRows,
      "oracle_sql" -> queryNames.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "failures" -> failures.map(f => Map("query" -> f.query, "phase" -> f.phase,
        "exception" -> f.cls, "message" -> f.msg)),
      "reps" -> reps)
    json.writeValue(out.resolve("run.json").toFile, record)
    if (traced)
      Files.writeString(out.resolve("spans.jsonl"),
        spans.map(s => json.writeValueAsString(spanJson(s))).mkString("", "\n", "\n"))
    spark.stop()
  }
}
