package graft

import java.nio.file.{Files, Path}

/** The process's one memo: write-once values derived from a dataset
  * directory — parquet reader relations, tokenizer vocabularies, BPE
  * merge tables, ANN centroids, bounds and codebooks, and the persisted
  * or staged artifacts built from them.
  *
  * One-owner rule: every key has exactly ONE definition, a single
  * `DimCache.cached` call site whose thunk is the only way that value
  * is built; a module that needs the value calls that definition, never
  * re-states the key with its own copy of the compute. Readers follow
  * the same rule (`Tables`), and no other module keeps a map of its own.
  * `DimCacheSpec` audits the sources for both.
  *
  * Why a memo: each value costs a Spark job (a listing, a scan, an
  * encode) yet is a bounded, deterministic function of (dir, params)
  * that builders need at plan-construction time, so it is computed once
  * per JVM per dataset — the lifecycle of a broadcast dimension table.
  * The data under a dir is immutable for the life of a run, so an entry
  * cannot go stale; a session-bound value keys on its session.
  */
object DimCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[AnyRef, AnyRef]()

  /** A thunk evaluated at most once; `lazy val` gives the per-key
    * memoization lock, so the map's bin lock never holds a Spark job.
    */
  private final class Memo(f: () => AnyRef) { lazy val value: AnyRef = f() }

  /** Return the cached value for `key`, computing (and caching) it on
    * first use. `compute` may run Spark jobs and may itself call
    * `cached`: it runs on the entry's memo lock, outside
    * `computeIfAbsent`, which would hold the hash-bin lock for the whole
    * job and turn a nested call on a key in the same bin into
    * IllegalStateException("Recursive update").
    */
  def cached[T <: AnyRef](key: AnyRef)(compute: => T): T =
    cache.computeIfAbsent(key, _ => new Memo(() => {
      // Build evidence on stderr: exactly one line per key per JVM. In a
      // bench run this is the reuse proof — the line appears during the
      // pre-pass and NEVER inside a measured group; a second line for the
      // same key would mean the write-once contract broke.
      System.err.println(s"[dimcache] computing $key")
      compute
    })).asInstanceOf[Memo].value.asInstanceOf[T]

  /** Dataset tag of write-once artifacts and warehouse table names: the
    * first 64 bits of SHA-256 over the dir path. Two processes (or one
    * JVM) working on DIFFERENT dirs must not clobber each other's
    * copies, and a 32-bit String.hashCode can collide across dirs.
    */
  def fingerprint(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Where the write-once artifact `kind` of `dir` lives:
    * `<root>/<kind>_<fingerprint>` under this JVM's own artifact root, a
    * [[tempDir]] deleted at exit. Two JVMs on the same dir never write
    * one path (a shared path failed one writer with `_temporary/0 does
    * not exist`), and no run leaves a copy behind.
    */
  def artifactPath(kind: String, dir: String): String =
    s"$artifactRoot/${kind}_${fingerprint(dir)}"

  private lazy val artifactRoot: String = tempDir("graft_artifacts_")

  /** Scratch dirs, recursively deleted (best effort) at JVM exit, so
    * repeated gate and audit runs do not pile staged copies up in the
    * system temp dir.
    */
  private val tempDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Path]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          val s = Files.walk(root)
          try s.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => Files.deleteIfExists(p))
          finally s.close()
        } catch { case _: Exception => () }
      }))
  }

  /** A fresh scratch dir named `prefix…`, deleted at JVM exit. */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p.toString
  }
}
