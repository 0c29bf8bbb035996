package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source scan: session conf is written only by [[Confs]] (scoped,
  * restored) and [[Tables]] (the sticky events-timestamp read conf),
  * only [[graft.streaming.StreamRun]] drains a stream, only
  * [[Tables.parquet]] reads parquet and only [[Sessions]] builds a
  * session — so every other query scopes its conf, stops its stream
  * and reads a schema the same way, and every main and test runs
  * under one session shape.
  */
class ConfScopeSpec extends AnyFunSuite {
  /** (path under `root`, 1-based line, text) of every line. */
  private def scan(root: java.nio.file.Path): Seq[(String, Int, String)] = {
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
        .map { case (l, i) => (rel, i + 1, l) }
    }
  }

  private lazy val lines = scan(java.nio.file.Paths.get("src/main/scala"))
  private lazy val testLines =
    scan(java.nio.file.Paths.get("src/test/scala"))

  private def offenders(re: Regex, allowed: Set[String],
      in: Seq[(String, Int, String)] = lines): Seq[String] =
    in.collect {
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

  test("only Sessions builds a SparkSession, in the program and the tests") {
    assert(testLines.exists(_._1 == "graft/etl/FixtureLoader.scala"))
    val re = """SparkSession\s*\.\s*builder""".r
    val hits = offenders(re, Set("graft/Sessions.scala")) ++
      offenders(re, Set.empty, testLines).map("src/test/scala/" + _)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
