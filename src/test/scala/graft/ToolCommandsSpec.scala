package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.tools` main is a documented command: a tool that no
  * CLAUDE.md command runs is dead code that still has to compile,
  * carries its own session conf, and drifts from the harnesses that
  * replaced it. And every temp dir is deleted: a spec's comes from
  * `SparkSpec.tempDir` (deleted after the suite), the library's and the
  * tools' from `GraftSession.tempDir` (deleted when the JVM exits). */
class ToolCommandsSpec extends AnyFunSuite {
  private val toolsDir = Paths.get("src/main/scala/graft/tools")

  /** Names of the objects under `tools/` that declare a `main`. */
  private def toolMains: Seq[String] = {
    val obj = """\bobject\s+(\w+)""".r
    val files = Files.list(toolsDir).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
    files.flatMap { f =>
      val src = Files.readString(f)
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).flatMap { m =>
        obj.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption.map(_.group(1))
      }
    }.distinct
  }

  test("every graft.tools main is run by a CLAUDE.md command") {
    val doc = Files.readString(Paths.get("CLAUDE.md"))
    val commands = doc.substring(doc.indexOf("## Commands"))
      .split("\n## ", 2).head
    val mains = toolMains
    assert(mains.contains("Smoke") && mains.contains("PlanAudit"),
      s"tool scan found ${mains.mkString(", ")}")
    val orphans = mains.filterNot(n => commands.contains(s"graft.tools.$n"))
    assert(orphans.isEmpty,
      s"tools no CLAUDE.md command runs: ${orphans.mkString(", ")}")
  }

  test("specs create temp dirs only through SparkSpec.tempDir") {
    // the patterns are written so that this file does not match them
    val leak = """Files\.createTempDirectory|["]/tmp/""".r
    val specs = Files.walk(Paths.get("src/test/scala")).iterator.asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "SparkSpec.scala")
    val hits = specs.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if leak.findFirstIn(line).nonEmpty => s"$f:${i + 1}"
      }
    }
    assert(specs.nonEmpty && hits.isEmpty,
      s"temp dirs that no suite deletes: ${hits.mkString(", ")}")
  }

  test("src/main creates temp dirs only through GraftSession.tempDir") {
    val leak = """createTempDirectory""".r
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala.toSeq
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "GraftSession.scala")
    val hits = sources.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if leak.findFirstIn(line).nonEmpty => s"$f:${i + 1}"
      }
    }
    assert(sources.nonEmpty && hits.isEmpty,
      s"temp dirs that outlive their JVM: ${hits.mkString(", ")}")
  }
}
