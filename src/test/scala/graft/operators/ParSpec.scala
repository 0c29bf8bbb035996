package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Par.scope]] on plain JVM values (no SparkSession): values flow
  * through `get`, the sequential scope stays on the caller's thread,
  * and a scope joins every stage it started before it returns or
  * throws.
  */
class ParSpec extends AnyFunSuite {

  private def liveStageThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-par-"))
      .map(_.getName).toSet

  test("a stage that gets another stage sees that stage's value") {
    for (par <- Seq(false, true)) {
      val v = Par.scope(par) { sc =>
        val a = sc.stage("a")(20)
        val b = sc.stage("b")(a.get + 1)
        val c = sc.stage("c")(a.get * 2)
        b.get + c.get
      }
      assert(v == 61, s"par = $par")
    }
  }

  test("without par every body runs on the caller's thread") {
    val caller = Thread.currentThread
    val seen = Par.scope(par = false) { sc =>
      val a = sc.stage("a")(Thread.currentThread)
      val b = sc.stage("b") { a.get; Thread.currentThread }
      Seq(b.get, a.get)
    }
    assert(seen.forall(_ eq caller))
  }

  test("a failing stage: every other started stage is joined first, " +
      "and the other failures are suppressed on the rethrown one") {
    val finished = new AtomicInteger
    val ex = intercept[IllegalStateException] {
      Par.scope(par = true) { sc =>
        sc.stage("slow") { Thread.sleep(300); finished.incrementAndGet() }
        sc.stage("late-fail") {
          Thread.sleep(100); throw new IllegalArgumentException("second")
        }
        val boom = sc.stage("boom") { throw new IllegalStateException("first") }
        boom.get
      }
    }
    assert(ex.getMessage == "first")
    assert(finished.get == 1, "the scope rethrew before joining `slow`")
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(liveStageThreads().isEmpty)
  }

  test("no graft-par thread is alive once the scope has returned") {
    val v = Par.scope(par = true) { sc =>
      (1 to 4).foreach(i => sc.stage(s"unread-$i")(Thread.sleep(50L * i)))
      sc.stage("read")(Thread.currentThread.getName).get
    }
    assert(v == "graft-par-read")
    assert(liveStageThreads().isEmpty)
  }
}
