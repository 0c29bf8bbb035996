package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.FixtureLoader.spark

/** Driver-contract meta-spec: the invariants the verify/bench harness
  * depends on, checked without touching DuckDB.
  */
class SparkEntrySpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("every oracle key has a query; names are well-formed") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    assert(SparkEntry.queries.keys.forall(_.matches("q[0-9a-z_]+")))
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query analyzes and yields a non-empty, stable schema") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sf)
      assert(df.schema.nonEmpty, name)
      // analysis must succeed twice with identical schemas (no
      // session-state leakage between query constructions)
      val again = fn(spark, sf)
      assert(df.schema == again.schema, s"$name schema unstable")
      // column names must be distinct (duplicate names break the
      // driver's sort-columns-then-hash compare)
      val names = df.schema.fieldNames.toSeq
      assert(names.distinct == names, s"$name has duplicate columns")
    }
  }

  /** Every rows-only (no-oracle) query must either name the
    * hash-GATED portable twin that pins the same logic, or state why
    * no DuckDB twin can exist (engine-native hash / trained-greedy /
    * media codec). The map IS the documentation; the test keeps it
    * complete and free of stale entries.
    */
  private val rowsOnlyWhy: Map[String, String] = Map(
    // q36/q37/q38/q42 (xxhash64-native duplicates of hash-gated md5
    // twins) are not declared; their query defs are deleted and the
    // xxhash64 operators they wrapped stay spec-gated.
    "q46_ivf_topk" -> ("kmeans-trained centroids (iteration order not " +
      "SQL); recall gated against exact q40 in OperatorsSpec"),
    "q48_compression" -> ("java.util.zip Deflater ratios are " +
      "JVM-library output; determinism + monotonicity specs in " +
      "OperatorsSpec"),
    "q54_media_features" -> ("binary image decode (pure-JVM BMP/PPM " +
      "decoders); pixel-exact golden specs in SourcesSpec"),
    "q81_pq_trained" -> ("trained codebooks (Lloyd rounds on pinned " +
      "sample); parity vs exact scan gated in PqSpec"),
    "q85_ivfpq_trained" -> ("trained IVF-PQ index; PqSpec gates " +
      "recall and code-assignment determinism"),
    // q90/q91 gained DuckDB oracles in r19: the 20-round trainer
    // unrolled set-based (greedy merge = run-parity match selection,
    // since a merged symbol can never restart a merge in its round).
    // q102 gained a DuckDB oracle in r18 (portable md5-k-hash Bloom);
    // the engine-native stat.bloomFilter variant stays spec-gated in
    // DedupSpec.
    "q118_image_dhash" -> ("decoded-pixel dHash; invariance + " +
      "golden-pixel specs in SourcesSpec"),
    // round 13: real MJPEG decode — a JPEG codec is not SQL, so the
    // gate is rows-only; pixel exactness lives in SourcesSpec +
    // Round13QueriesSpec. NOTE the decoded pixel values depend on
    // the JVM's bundled ImageIO JPEG decoder: a JDK upgrade that
    // changes IDCT rounding shifts q243's features — the pixel
    // specs pin the CURRENT JDK's output, not a codec-independent
    // truth.
    "q243_video_features" -> ("ImageIO JPEG IDCT output; pixel specs " +
      "pin the current JDK's decode"))

  test("rows-only queries (no oracle) each document their gated twin " +
    "or irreducibility") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == rowsOnlyWhy.keySet,
      s"undocumented rows-only: ${rowsOnly -- rowsOnlyWhy.keySet}; " +
        s"stale entries: ${rowsOnlyWhy.keySet -- rowsOnly}")
  }
}
