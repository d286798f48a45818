package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `DimCache` is the process's only memo, and every key in it has one
  * definition. The first two tests pin the re-entrancy contract that
  * `Tables.events` (a cached value built from another cached value)
  * relies on; the source audit keeps a second memo, a second definition
  * of a key, or a private copy of the artifact path from coming back.
  */
class DimCacheSpec extends AnyFunSuite {
  import TestSpark._

  test("Tables.events resolves on 64 fresh sessions") {
    // Each session is a new key, so each call nests a fresh `table`
    // entry inside a fresh `events` entry; a memo that ran the compute
    // inside the map's bin lock threw "Recursive update" whenever the
    // two keys shared a bin (about one session in nine).
    for (_ <- 1 to 64) {
      val s = spark.newSession()
      assert(Tables.events(s, sf).schema("ts").dataType == TimestampType)
    }
  }

  test("a cached call nested in another, on keys of equal hash, returns both values") {
    assert("Aa".hashCode == "BB".hashCode)
    var inner = ""
    val outer = DimCache.cached("Aa") {
      inner = DimCache.cached("BB")("bb")
      "aa"
    }
    assert(outer == "aa" && inner == "bb")
    assert(DimCache.cached("Aa")("other") == "aa")
    assert(DimCache.cached("BB")("other") == "bb")
  }

  test("artifact paths lie under this JVM's own root") {
    // a path keyed on the dir alone was shared by every JVM on the
    // machine, and two writers of one artifact failed one of them
    val p = Paths.get(DimCache.artifactPath("spec", sf))
    val jvmRoot = p.getParent
    assert(Files.isDirectory(jvmRoot) && jvmRoot.getFileName.toString.startsWith("graft_artifacts_"))
    assert(jvmRoot.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
    assert(Paths.get(DimCache.artifactPath("other", "/elsewhere")).getParent == jvmRoot)
  }

  /** (path relative to `src/main/scala/graft`, contents) of every main source file. */
  private def sources: Seq[(String, String)] = SourceAudit.sources("src/main/scala/graft")

  test("every DimCache key prefix has exactly one definition site") {
    val call = """DimCache\.cached\(""".r
    val keyed = """DimCache\.cached\(\s*\(?s?"([A-Za-z0-9#_-]+)""".r
    val sites = for ((f, src) <- sources; m <- keyed.findAllMatchIn(src)) yield m.group(1) -> f
    val calls = sources.map { case (_, src) => call.findAllIn(src).size }.sum
    assert(sites.size == calls, "every DimCache.cached key must start with a literal prefix")
    val dup = sites.groupBy(_._1).filter(_._2.size > 1)
    assert(dup.isEmpty, s"keys defined at more than one site: $dup")
  }

  test("library code keeps no memo, temp path or dir fingerprint of its own") {
    val library = sources.filter { case (f, _) =>
      Seq("queries/", "operators/", "functions/", "streaming/", "sources/").exists(f.startsWith) ||
        f == "Registry.scala"
    }
    val owned = Seq("ConcurrentHashMap", "computeIfAbsent", "java.io.tmpdir",
      "createTempDirectory", "MessageDigest")
    // Bpe digests its merge table's CONTENT (a broadcast key), not a dir
    val allowed = Set("functions/Bpe.scala" -> "MessageDigest")
    val hits = for ((f, src) <- library; t <- owned
      if src.contains(t) && !allowed((f, t))) yield f -> t
    assert(hits.isEmpty, s"belongs in DimCache: $hits")
    val memos = sources.collect { case (f, src) if src.contains("computeIfAbsent") => f }
    assert(memos == Seq("DimCache.scala"))
  }
}
