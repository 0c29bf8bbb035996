package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source scan: session conf is written only by [[Confs]] (scoped,
  * restored) and [[Tables]] (the sticky events-timestamp read conf),
  * only [[graft.streaming.StreamRun]] drains a stream, and only
  * [[Tables.parquet]] reads parquet — so every other query scopes its
  * conf, stops its stream and reads a schema the same way.
  */
class ConfScopeSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main/scala")

  /** (path under src/main/scala, 1-based line, text) of every line. */
  private lazy val lines: Seq[(String, Int, String)] = {
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
        .map { case (l, i) => (rel, i + 1, l) }
    }
  }

  private def offenders(re: Regex, allowed: Set[String]): Seq[String] =
    lines.collect {
      case (f, n, l) if !allowed(f) && re.findFirstIn(l).isDefined =>
        s"$f:$n: ${l.trim}"
    }

  test("the scan sees the program sources") {
    assert(lines.exists(_._1 == "graft/QueriesCore.scala"))
  }

  test("only Confs and Tables set or unset session conf") {
    val hits = offenders("""conf\s*\.\s*(set|unset)\s*\(""".r,
      Set("graft/Confs.scala", "graft/Tables.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only Tables reads parquet") {
    // Tables.parquet memoizes the inferred schema; a direct batch read
    // runs a footer-inference job on every call
    val hits = offenders("""\.read\b.*\.parquet\s*\(""".r,
      Set("graft/Tables.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only StreamRun calls processAllAvailable") {
    val hits = offenders("""processAllAvailable\s*\(""".r,
      Set("graft/streaming/StreamRun.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
