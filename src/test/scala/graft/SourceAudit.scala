package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.Assertions._

/** The one source reader of the audit specs, and the audit behind every
  * "written once" spec: a fragment that has a DuckDB twin, or that a
  * native kernel will replace, lives in one file. A pasted copy drifts
  * from its twin unseen, since the oracle gate compares the two engines,
  * not the copies with each other.
  */
object SourceAudit {

  /** (path relative to `root`, contents) of every Scala file under
    * `root`, a directory named from the repo root. Cancels when not run
    * from the repo root.
    */
  def sources(root: String): Seq[(String, String)] = {
    val dir = Paths.get(root)
    assume(Files.isDirectory(dir), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    Files.walk(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => dir.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** Fails unless each of `pieces` (a name and the pattern of its text)
    * matches exactly once in the main sources, in `home` (a path under
    * `src/main/scala/graft`). Cancels when not run from the repo root.
    */
  def writtenOnce(home: String, pieces: (String, Regex)*): Unit = {
    val main = sources("src/main/scala/graft")
    val sites = for ((piece, re) <- pieces) yield piece -> main.flatMap { case (f, src) =>
      Seq.fill(re.findAllIn(src).size)(f)
    }
    val wrong = sites.filter(_._2 != Seq(home))
    assert(wrong.isEmpty, wrong.map { case (p, fs) => s"$p at ${fs.mkString(", ")}" }
      .mkString(s"expected once, in $home: ", "; ", ""))
  }
}
