package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for Bench's statistical rules — the self-correction machinery
  * (round 16) keys off these, so their edge cases get exact unit
  * coverage: failed passes (-1), even/odd medians, and the
  * median-vs-best spread boundary.
  */
class BenchSpec extends AnyFunSuite {

  test("medianOf ignores failed passes and reports -1 when all failed") {
    assert(Bench.medianOf(Nil) == -1.0)
    assert(Bench.medianOf(List(-1.0, -1.0)) == -1.0)
    assert(Bench.medianOf(List(3.0)) == 3.0)
    assert(Bench.medianOf(List(1.0, 3.0)) == 2.0)
    assert(Bench.medianOf(List(1.0, 2.0, 9.0)) == 2.0)
    // a crashed pass must not drag the median
    assert(Bench.medianOf(List(-1.0, 2.0, 4.0)) == 3.0)
  }

  test("histHot fires on >1.5x clean-history median with absolute margin") {
    // the r17 signature: tight pass agreement, uniformly inflated
    assert(Bench.histHot(6.82, 2.95))   // q91's official vs clean
    assert(Bench.histHot(16.76, 4.41))  // q338
    // within 1.5x of history: clean
    assert(!Bench.histHot(4.0, 3.0))
    // ratio over 1.5x but sub-quarter-second absolute: jitter, not heat
    assert(!Bench.histHot(0.30, 0.12))
    // no history / failed run: never fires
    assert(!Bench.histHot(-1.0, 3.0))
    assert(!Bench.histHot(3.0, -1.0))
    assert(!Bench.histHot(3.0, 0.0))
  }

  test("historyMedians reads clean same-sf runs, isolated-substituted") {
    val dir = java.nio.file.Files.createTempDirectory("bench-hist")
    val f = dir.resolve("h.jsonl")
    val lines = Seq(
      // wrong sf: ignored
      """{"sf":"/x/sf0.01","contended":false,"queries":{"qa":9.0}}""",
      // contended: ignored
      """{"sf":"/x/sf0.1","contended":true,"queries":{"qa":9.0}}""",
      // clean, isolated overrides the interleaved median for qa
      """{"sf":"/x/sf0.1","contended":false,"queries":{"qa":8.0,"qb":1.0},"isolated":{"qa":2.0}}""",
      // pre-r16 line without a contended flag counts as clean
      """{"sf":"/x/sf0.1","queries":{"qa":4.0,"qb":3.0}}""",
      """not json at all""",
      """{"sf":"/x/sf0.1","contended":false,"queries":{"qa":3.0}}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = Bench.historyMedians(f.toString, "/x/sf0.1")
    assert(m("qa") == 3.0) // median of 2.0 (isolated), 4.0, 3.0
    assert(m("qb") == 2.0) // median of 1.0, 3.0
    assert(Bench.historyMedians(f.toString, "/none") == Map.empty)
    assert(Bench.historyMedians(dir.resolve("missing").toString,
      "/x/sf0.1") == Map.empty)
    TmpTrees.delete(dir.toString)
  }

  test("historyMedians windows per query, not per run (subset runs don't evict)") {
    val dir = java.nio.file.Files.createTempDirectory("bench-hist2")
    val f = dir.resolve("h.jsonl")
    // one old full run for qa, then six newer subset runs naming only
    // qb — under the old last-5-runs-globally rule qa's baseline
    // vanished; per-query sampling must keep it
    val lines =
      """{"sf":"/x/sf0.1","contended":false,"queries":{"qa":4.0,"qb":1.0}}""" +:
        (1 to 6).map(i =>
          s"""{"sf":"/x/sf0.1","contended":false,"queries":{"qb":$i.0}}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = Bench.historyMedians(f.toString, "/x/sf0.1")
    assert(m("qa") == 4.0) // survives the subset streak
    assert(m("qb") == 4.0) // newest 5 of 1,1..6 = 6,5,4,3,2 -> 4.0
    TmpTrees.delete(dir.toString)
  }

  test("historyMedians admits contended lines stamped accepted_baseline") {
    val dir = java.nio.file.Files.createTempDirectory("bench-hist3")
    val f = dir.resolve("h.jsonl")
    val lines = Seq(
      """{"sf":"/x/sf0.1","contended":true,"queries":{"qa":9.0}}""",
      """{"sf":"/x/sf0.1","contended":true,"accepted_baseline":true,"queries":{"qa":5.0}}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = Bench.historyMedians(f.toString, "/x/sf0.1")
    // only the accepted line enters; the plain contended one stays out
    assert(m("qa") == 5.0)
    TmpTrees.delete(dir.toString)
  }

  test("spread fires on median > 2x best AND median > 1s") {
    // classic contamination: most passes slow, median far from best
    assert(Bench.spread(List(1.0, 5.0, 5.5)))
    // one slow pass is JIT noise — median stays at the fast pair
    assert(!Bench.spread(List(1.0, 1.1, 9.0)))
    // sub-second queries never flag (ratio alone isn't enough)
    assert(!Bench.spread(List(0.1, 0.5, 0.6)))
    // exactly 2x is NOT a trip (strict >)
    assert(!Bench.spread(List(1.0, 2.0, 2.0)))
    assert(Bench.spread(List(1.0, 2.1, 2.1)))
    // all passes failed: no evidence, no flag
    assert(!Bench.spread(List(-1.0, -1.0, -1.0)))
    // failed passes are excluded from min/median before the test
    assert(Bench.spread(List(-1.0, 1.0, 3.0, 3.5)))
  }

  test("runContext echoes cpus, master and defaultParallelism as JSON") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse("{\"metric\":\"total\"" +
      Bench.runContext("8", "local[8]", 8) + "}")
    assert((j \ "cpus") == JInt(8))
    assert((j \ "master") == JString("local[8]"))
    assert((j \ "default_parallelism") == JInt(8))
  }
}
