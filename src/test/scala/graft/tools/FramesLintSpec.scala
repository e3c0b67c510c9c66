package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pinning lint: session-scoped pinned state lives in graft.engine.Frames
  * alone. A bare `localCheckpoint(` pins RDD blocks that neither
  * `clearCache` nor `Graft.release` can see, so it may appear only in
  * Frames itself and in the upsert sink (which frees its own checkpoint
  * after each write). The removed pinning modules must not come back. */
class FramesLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val checkpointAllowed = Set("graft/engine/Frames.scala",
    "graft/streaming/ForeachBatchUpsert.scala")

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def hits(pattern: scala.util.matching.Regex, skip: String => Boolean): Seq[String] =
    sources.flatMap { p =>
      val rel = root.relativize(p).toString.replace('\\', '/')
      if (skip(rel)) Nil
      else Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$rel:${i + 1}: ${line.trim}"
      }
    }

  test("the source tree is where the lint looks") {
    assert(sources.exists(_.endsWith("graft/engine/Frames.scala")))
  }

  test("no reference to the removed Memo/Lifecycle pinning paths") {
    val found = hits("""\bMemo\b|requirePersisted|\bLifecycle\b""".r, _ => false)
    assert(found.isEmpty, s"use graft.engine.Frames instead:\n${found.mkString("\n")}")
  }

  test("localCheckpoint is called only through Frames") {
    val found = hits("""localCheckpoint\(""".r, checkpointAllowed)
    assert(found.isEmpty,
      s"use Frames.checkpoint (release frees it):\n${found.mkString("\n")}")
  }
}
