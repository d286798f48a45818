package graft

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** When the engine materializes an intermediate: the only module that
  * cuts, caches or releases a frame. Three policies, each named by what
  * a lost executor does to its consumers:
  *
  *  - [[shared]]: an eager local cut, for a frame that one action reads
  *    more than once. The builder materializes it before any consumer is
  *    planned; a lazy cut was materialized by the first consumer job,
  *    which dropped the cut plan while AQE's sibling consumers still
  *    reported its SQL metrics ("Failed to update accumulator"). Its
  *    blocks are the only copy: after executor loss the next consumer
  *    fails with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  *  - [[step]]: a lazy local cut, materialized by its first consumer
  *    without a job of its own: loop state whose consumers run one after
  *    another (ranks, labels, the PCA input), and two frames one action
  *    reads twice where the eager cut measured slower and the lazy one
  *    logged no accumulator error (DSIR's hashed grams, the substring
  *    window hashes). Executor loss fails it like [[shared]].
  *  - [[cached]]: a `persist`, recomputed from its lineage on executor
  *    loss. It exists only inside a [[releasing]] scope: Spark's cache
  *    manager matches a cached frame by its plan, so a cache that
  *    outlived its call would feed a later call's identical plan from
  *    the earlier call's blocks.
  *
  * Every cut takes a site name, which becomes the call site of its RDD
  * and of the jobs that build it, so stage records name the site that
  * ran.
  */
object Materialize {

  /** The eager local cut of `df`, its RDD and jobs named `site`. */
  def shared(df: DataFrame, site: String): DataFrame = pin(cut(df, site, eager = true))

  /** [[shared]] cuts of independent frames, materialized concurrently,
    * one driver thread each, so one frame's stages fill the others' idle
    * tails. Threads are made per call, so each inherits this thread's
    * Spark local properties as they are now.
    */
  def shared(dfs: Seq[DataFrame], site: String): Seq[DataFrame] = {
    val ec = ExecutionContext.fromExecutor(r => new Thread(r, s"materialize $site").start())
    dfs.map(df => Future(cut(df, site, eager = true))(ec))
      .map(f => pin(Await.result(f, Duration.Inf)))
  }

  /** The lazy local cut of `df`: materialized by its first consumer. */
  def step(df: DataFrame, site: String): DataFrame = pin(cut(df, site, eager = false))

  /** `df` persisted under the name `site`, released when the innermost
    * [[releasing]] scope ends.
    */
  def cached(df: DataFrame, site: String): DataFrame = {
    require(open.get != null, s"$site: a cached frame exists only inside Materialize.releasing")
    df.sparkSession.sharedState.cacheManager
      .cacheQuery(castToImpl(df), Some(site), StorageLevel.MEMORY_AND_DISK)
    open.get.caches += df
    df
  }

  /** Runs `body` and frees every block pinned inside it (cuts and caches,
    * in nested calls too) except the cuts its result's lineage reaches,
    * since a released cut cannot be recomputed. No cache outlives the
    * scope: a result that must keep its input materialized reads a cut.
    * The frames of a result are the result itself or those in a tuple of
    * it. What is kept passes to the enclosing scope; if `body` throws,
    * nothing is kept.
    */
  def releasing[T](body: => T): T = {
    val scope = new Scope(open.get)
    open.set(scope)
    try { val out = body; scope.release(frames(out)); out }
    catch { case e: Throwable => scope.release(Nil); throw e }
    finally open.set(scope.outer)
  }

  /** The blocks pinned inside one [[releasing]] call; `outer` is the
    * enclosing call's scope, or null.
    */
  private final class Scope(val outer: Scope) {
    val cuts = mutable.ArrayBuffer.empty[RDD[_]]
    val caches = mutable.ArrayBuffer.empty[DataFrame]

    /** Frees what `result` does not need and hands its cuts to `outer`. */
    def release(result: Seq[DataFrame]): Unit = {
      val reached = mutable.Set.empty[Int] // ids of every RDD the result's cuts reach
      def walk(r: RDD[_]): Unit = if (reached.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
      result.flatMap(cutRdds).foreach(walk)
      cuts.filterNot(r => reached(r.id)).foreach(_.unpersist(blocking = false))
      caches.foreach(_.unpersist(blocking = false))
      if (outer != null) outer.cuts ++= cuts.filter(r => reached(r.id))
    }
  }

  private val open = new ThreadLocal[Scope]

  private def frames(out: Any): Seq[DataFrame] = out match {
    case d: Dataset[_] => Seq(d.toDF())
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }

  private def cutRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** `df`'s local cut, with `site` as the call site of the RDDs and
    * jobs it creates.
    */
  private def cut(df: DataFrame, site: String, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    sc.setCallSite(site)
    try df.localCheckpoint(eager) finally sc.clearCallSite()
  }

  private def pin(cut: DataFrame): DataFrame = {
    Option(open.get).foreach(_.cuts ++= cutRdds(cut))
    cut
  }
}
