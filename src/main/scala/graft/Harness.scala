package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftbridge.HarnessProbes

/** The harness mains' one engine session and one timing core.
  *
  * `session()` is the only place the library builds a `SparkSession`.
  * `measure` is its one timer: it returns the wall of a span with the
  * per-stage task metrics and codegen compilations inside it. `timed`
  * is the one query span on top of it — the builder call through the
  * completed noop write.
  *
  * As a main it is the per-stage profiler: each named query runs cold,
  * then warm, then once more after a [[settle]], and the last
  * run's stages print as a table (wall, executor run and GC time,
  * shuffle read/write bytes and rows, input bytes, spill, tasks).
  *
  * Usage: runMain graft.Harness <sfDir> <q1,q2,...>
  */
object Harness {

  /** Worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, else
    * every core the JVM sees.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One completed stage; times are epoch milliseconds. */
  final case class Stage(id: Int, name: String, submitMs: Long, endMs: Long,
      runMs: Long, gcMs: Long, readBytes: Long, readRows: Long,
      writeBytes: Long, writeRows: Long, inputBytes: Long, spillBytes: Long,
      tasks: Int) {
    def wallMs: Long = endMs - submitMs
  }

  /** What one timed call cost: its wall, the stages it ran, and the
    * generated classes it compiled (codegen-cache misses).
    */
  final case class Sample(name: String, secs: Double, stages: Seq[Stage],
      compiles: Long, compileMs: Double) {

    /** Milliseconds in which at least one stage was running. */
    def stageUnionMs: Long =
      stages.map(s => (s.submitMs, s.endMs)).sorted
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
  }

  private final class StageLog extends SparkListener {
    val stages = new ConcurrentLinkedQueue[Stage]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Stage(i.stageId, i.name.takeWhile(_ != '\n').take(60),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        i.numTasks))
    }
  }

  /** Runs `body` on the active session and returns its value with the
    * sample of its span. Listener events arrive asynchronously, so the
    * bus is drained before the span opens and after it closes; neither
    * drain is inside the wall.
    */
  def measure[T](name: String)(body: => T): (T, Sample) = {
    val sc = SparkSession.active.sparkContext
    HarnessProbes.drain(sc)
    val log = new StageLog
    sc.addSparkListener(log)
    try {
      val (c0, n0) = (HarnessProbes.compiles, HarnessProbes.compileNanos)
      val t0 = System.nanoTime()
      val out = body
      val secs = (System.nanoTime() - t0) / 1e9
      val (c1, n1) = (HarnessProbes.compiles, HarnessProbes.compileNanos)
      HarnessProbes.drain(sc)
      (out, Sample(name, secs, log.stages.asScala.toSeq.sortBy(_.id),
        c1 - c0, (n1 - n0) / 1e6))
    } finally sc.removeSparkListener(log)
  }

  /** Times a query: the builder call through the completed noop write
    * (a bare count() would let Catalyst prune the projections).
    */
  def timed(name: String)(build: => DataFrame): Sample =
    measure(name)(build.write.format("noop").mode("overwrite").save())._2

  /** Cumulative collection milliseconds over every JVM collector. */
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Heap in use, MB. */
  def heapUsedMb: Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** The settle between measured groups: drop cached frames, then force
    * a GC. Spark's ContextCleaner reclaims a dead broadcast only when the
    * JVM collects its weak reference, and its own periodic GC (30 min)
    * never fires inside a run, so without this every broadcast an
    * earlier group made (tokenizer vocabs, hinted dims) stays on the
    * heap. The pause lets the cleaner thread drain its queue.
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
  }

  /** Rows the parquet scans of an executed `df` produced, after row-group
    * and partition pruning.
    */
  def rowsScanned(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Harness <sfDir> [q1,q2,...]")
    val sfDir = args(0)
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("ndsh_q11"))
    val spark = session()
    names.foreach { name =>
      def run(): Sample = timed(name)(SparkEntry.queries(name)(spark, sfDir))
      val cold = run()
      run()
      settle(spark)
      val s = run()
      println(f"\n===== $name wall=${s.secs}%.3fs stages=${s.stages.size} " +
        f"compiles=${s.compiles} (${s.compileMs}%.0f ms); cold: wall=${cold.secs}%.3fs " +
        f"compiles=${cold.compiles} (${cold.compileMs}%.0f ms) =====")
      println(f"${"stage"}%-6s${"wall_ms"}%8s${"run_ms"}%8s${"gc_ms"}%6s" +
        f"${"sh_read"}%10s${"r_rows"}%9s${"sh_write"}%10s${"w_rows"}%9s" +
        f"${"input"}%10s${"spill"}%7s${"tasks"}%6s  name")
      s.stages.foreach { t =>
        println(f"${t.id}%-6d${t.wallMs}%8d${t.runMs}%8d${t.gcMs}%6d" +
          f"${t.readBytes}%10d${t.readRows}%9d${t.writeBytes}%10d${t.writeRows}%9d" +
          f"${t.inputBytes}%10d${t.spillBytes}%7d${t.tasks}%6d  ${t.name}")
      }
      println(f"stages ran during ${s.stageUnionMs}ms of the ${(s.secs * 1000).toLong}ms " +
        "wall (the rest is the driver/planning/job-submit floor)")
    }
    spark.stop()
  }
}
