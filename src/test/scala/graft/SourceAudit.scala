package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.Assertions._

/** The audit behind every "written once" spec: a fragment that has a
  * DuckDB twin, or that a native kernel will replace, lives in one file.
  * A pasted copy drifts from its twin unseen, since the oracle gate
  * compares the two engines, not the copies with each other.
  */
object SourceAudit {

  /** Fails unless each of `pieces` (a name and the pattern of its text)
    * matches exactly once in the main sources, in `home` (a path under
    * `src/main/scala/graft`). Cancels when not run from the repo root.
    */
  def writtenOnce(home: String, pieces: (String, Regex)*): Unit = {
    val root = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    val sources = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
    val sites = for ((piece, re) <- pieces) yield piece -> sources.flatMap { case (f, src) =>
      Seq.fill(re.findAllIn(src).size)(f)
    }
    val wrong = sites.filter(_._2 != Seq(home))
    assert(wrong.isEmpty, wrong.map { case (p, fs) => s"$p at ${fs.mkString(", ")}" }
      .mkString(s"expected once, in $home: ", "; ", ""))
  }
}
