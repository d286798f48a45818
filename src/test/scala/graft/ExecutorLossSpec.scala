package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.HarnessProbes
import org.scalatest.funsuite.AnyFunSuite

/** Each `Materialize` policy does what its scaladoc declares when an
  * executor is lost between materialization and consumer: the local
  * cuts fail with a named error, the cache recomputes. Executors exist
  * only on a cluster master, and the suite's JVM already holds a local
  * context, so each policy runs in a child JVM on
  * `local-cluster[2,1,1024]` ([[ExecutorLossChild]]).
  */
class ExecutorLossSpec extends AnyFunSuite {

  /** A Spark home for the child's workers: the jars dir the Spark
    * classes were loaded from, under a scratch dir that also takes the
    * executors' work dirs.
    */
  private def sparkHome(scratch: Path): Option[Path] = {
    val jars = Paths.get(classOf[SparkContext].getProtectionDomain.getCodeSource.getLocation.toURI)
      .getParent
    if (!Files.isDirectory(jars) || jars.getFileName.toString != "jars") None
    else Some(Files.createSymbolicLink(scratch.resolve("jars"), jars).getParent)
  }

  private def runChild(policy: String): String = {
    val scratch = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target")), s"executor-loss-$policy")
    try {
      val home = sparkHome(scratch)
      assume(home.nonEmpty, "the Spark classes do not come from a Spark distribution's jars dir")
      val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
      val cmd = Seq(System.getProperty("java.home") + "/bin/java", "-Xmx1g") ++ flags ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.ExecutorLossChild", policy)
      val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      pb.environment().put("SPARK_HOME", home.get.toString)
      // the workers' launcher reads it instead of a build tree's layout
      pb.environment().put("SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
      pb.environment().remove("SPARK_TESTING")
      val p = pb.start()
      val out = new ConcurrentLinkedQueue[String]()
      val reader = new Thread(() =>
        scala.io.Source.fromInputStream(p.getInputStream).getLines().foreach(out.add))
      reader.start()
      if (!p.waitFor(240, TimeUnit.SECONDS)) p.destroyForcibly()
      reader.join(10000)
      val lines = out.asScala.toSeq
      lines.find(_.startsWith(s"outcome $policy ")).map(_.stripPrefix(s"outcome $policy "))
        .getOrElse(fail(s"$policy: no outcome; child output tail:\n${lines.takeRight(40).mkString("\n")}"))
    } finally FileUtils.deleteQuietly(scratch.toFile)
  }

  test("a lost executor fails a shared cut's consumer with a named error") {
    assert(runChild("shared") == "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")
  }

  test("a lost executor fails a step cut's consumer with a named error") {
    assert(runChild("step") == "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")
  }

  test("a lost executor makes a cached frame recompute the same rows") {
    assert(runChild("cached") == "same-rows")
  }
}

/** Materializes a frame with one policy, kills an executor that holds
  * some of its blocks, runs a consumer and prints
  * `outcome <policy> <same-rows | wrong-rows | error class or message>`.
  * Only built-in expressions run on the executors, so they need nothing
  * beyond the Spark jars.
  */
object ExecutorLossChild {

  private def awaitExecutors(sc: SparkContext, n: Int): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(90)
    while (sc.getExecutorMemoryStatus.size - 1 != n) {
      require(System.nanoTime() < deadline, s"expected $n executors, have ${sc.getExecutorMemoryStatus.keys}")
      Thread.sleep(200)
    }
  }

  def main(args: Array[String]): Unit = {
    val policy = args(0)
    val spark = SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .appName(s"executor-loss-$policy")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.task.maxFailures", "2")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    awaitExecutors(sc, 2)
    val df = spark.range(0, 4000, 1, 8).select((col("id") % 97).as("k"), col("id"))
    def consume(f: DataFrame): Set[String] =
      f.groupBy(col("k")).agg(sum(col("id")).as("s")).collect().map(_.toString).toSet
    val expected = consume(df)
    val ran = new ConcurrentLinkedQueue[String]()
    HarnessProbes.drain(sc)
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ran.add(e.taskInfo.executorId)
    })
    // an executor that ran a task of the materialization holds its blocks
    def killHolder(): Unit = {
      HarnessProbes.drain(sc)
      assert(sc.killExecutor(ran.peek()))
      awaitExecutors(sc, 1)
    }
    val outcome = Try(policy match {
      case "shared" =>
        val cut = Materialize.shared(df, "loss.shared")
        killHolder()
        consume(cut)
      case "step" =>
        val cut = Materialize.step(df, "loss.step")
        cut.count()
        killHolder()
        consume(cut)
      case "cached" => Materialize.releasing {
        val c = Materialize.cached(df, "loss.cached")
        c.count()
        killHolder()
        consume(c)
      }
    }) match {
      case Success(rows) => if (rows == expected) "same-rows" else "wrong-rows"
      case Failure(e) =>
        val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => s"${t.getClass.getName}: ${t.getMessage}").toSeq
        messages.find(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))
          .map(_ => "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")
          .getOrElse(messages.mkString(" <- ").replace('\n', ' '))
    }
    println(s"outcome $policy $outcome")
    spark.stop()
  }
}
