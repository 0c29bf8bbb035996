package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.FixtureLoader.spark
import graft.operators.Dedup

/** The streaming daily-ingest dedup invariant: batches arriving one at
  * a time — each probing the index and then folding itself in — find
  * exactly the pairs the ONE-SHOT incremental operator finds over the
  * union of all batches, regardless of how the docs were split across
  * micro-batches (batch-boundary-independence is what makes the
  * streaming form trustworthy).
  */
class DedupStreamSpec extends AnyFunSuite {
  import spark.implicits._

  private def docsSchema(dcs: String) =
    graft.Tables.parquet(spark, dcs).select("doc_id", "text").schema

  test("streamed batches find the same pairs as one-shot incremental") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("dd-src").toString
    val ckp = Files.createTempDirectory("dd-ckp").toString
    val idx = Files.createTempDirectory("dd-idx").toString
    val dcs = Files.createTempDirectory("dd-docs").toString
    val prs = Files.createTempDirectory("dd-pairs").toString

    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val corpus = all.filter("doc_id % 3 != 0")
    val fresh = all.filter("doc_id % 3 = 0")

    // seed the stores with the corpus (bands + raw docs)
    Dedup.minhashBandIndexPortable(corpus, "doc_id", "text",
        shingleLen = 3, numHashes = 16, bands = 4)
      .write.parquet(s"$idx/batch_id=base")
    corpus.write.parquet(s"$dcs/batch_id=base")

    // stream the new docs as TWO files → two micro-batches
    fresh.filter("doc_id % 2 = 0").coalesce(1)
      .write.mode("append").parquet(src)
    fresh.filter("doc_id % 2 = 1").coalesce(1)
      .write.mode("append").parquet(src)
    DedupStream.run(spark, src, ckp, idx, dcs, prs, "doc_id", "text",
      docsSchema(dcs), shingleLen = 3, numHashes = 16, bands = 4,
      threshold = 0.7)

    val streamed = spark.read.parquet(prs)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.minhashNearDupsIncrementalPortable(
        Dedup.minhashBandIndexPortable(corpus, "doc_id", "text", 3, 16, 4),
        corpus, fresh, "doc_id", "text", 3, 16, 4, threshold = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(oneShot.nonEmpty, "fixture has no cross-batch near-dups at 0.7")
    // the fold-in path must be NON-vacuously exercised: at least one
    // pair must span the two micro-batches (both ids fresh, opposite
    // %2 parity) — found only if batch 2 probes batch 1's folded-in
    // bands. (The sf0.001 fixture plants (99, 174) at jaccard 0.988.)
    assert(oneShot.exists { case (a, b, _) =>
      a % 3 == 0 && b % 3 == 0 && a % 2 != b % 2 },
      "no batch1×batch2 pair in fixture — the fold-in path is untested")
    assert(streamed == oneShot,
      s"streamed=${streamed.size} oneShot=${oneShot.size}")
    // a batch never re-reports a corpus-only pair
    assert(streamed.forall { case (a, b, _) => a % 3 == 0 || b % 3 == 0 })

    // a FRESH checkpoint over the populated store must fail loudly
    // (its replayed batch ids would clobber the folded-in batches)
    val ckp2 = Files.createTempDirectory("dd-ckp2").toString
    val e = intercept[IllegalArgumentException] {
      DedupStream.run(spark, src, ckp2, idx, dcs, prs, "doc_id", "text",
        docsSchema(dcs), shingleLen = 3, numHashes = 16, bands = 4,
        threshold = 0.7)
    }
    assert(e.getMessage.contains("built by stream"), e.getMessage)
    // while the ORIGINAL checkpoint restarts cleanly (no new input)
    DedupStream.run(spark, src, ckp, idx, dcs, prs, "doc_id", "text",
      docsSchema(dcs), shingleLen = 3, numHashes = 16, bands = 4,
      threshold = 0.7)
  }

  test("store identity is paired with the checkpoint BEFORE any batch commits") {
    // regression for the crash window the round-9 advice flagged: the
    // marker used to be written after start(), so a crash after the
    // first commit stranded a legitimately-built store. Run against an
    // EMPTY source: zero batches ever commit, yet the marker must
    // already exist and equal the checkpoint's minted id.
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("dd2-src").toString
    val ckp = Files.createTempDirectory("dd2-ckp").toString
    val idx = Files.createTempDirectory("dd2-idx").toString
    val dcs = Files.createTempDirectory("dd2-docs").toString
    val prs = Files.createTempDirectory("dd2-pairs").toString
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(20)
    Dedup.minhashBandIndexPortable(corpus, "doc_id", "text", 3, 16, 4)
      .write.parquet(s"$idx/batch_id=base")
    corpus.write.parquet(s"$dcs/batch_id=base")
    DedupStream.run(spark, src, ckp, idx, dcs, prs, "doc_id", "text",
      docsSchema(dcs))
    val marker = Paths.get(idx, "_stream_id")
    assert(Files.exists(marker), "marker missing after zero-batch run")
    val markerId = Files.readString(marker).trim
    val meta = Files.readString(Paths.get(ckp, "metadata"))
    assert(meta.contains(markerId),
      s"marker $markerId not the checkpoint's id: $meta")
    // and the pairing holds on restart (same checkpoint + same store)
    DedupStream.run(spark, src, ckp, idx, dcs, prs, "doc_id", "text",
      docsSchema(dcs))
  }

  test("a store-identity mismatch stops the query before rethrowing") {
    // the checkpoint metadata nests a decoy "id" ahead of the real one:
    // the marker guard reads the decoy, Spark adopts the top-level id,
    // so the post-start identity check fails with the query running
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("dd3-src").toString
    val ckp = Files.createTempDirectory("dd3-ckp").toString
    val idx = Files.createTempDirectory("dd3-idx").toString
    val dcs = Files.createTempDirectory("dd3-docs").toString
    val prs = Files.createTempDirectory("dd3-pairs").toString
    Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      .write.parquet(s"$dcs/batch_id=base")
    Files.writeString(Paths.get(ckp, "metadata"),
      s"""{"note":{"id":"decoy"},"id":"${java.util.UUID.randomUUID()}"}""")
    Files.writeString(Paths.get(idx, "_stream_id"), "decoy")
    val e = intercept[AssertionError] {
      DedupStream.run(spark, src, ckp, idx, dcs, prs, "doc_id", "text",
        docsSchema(dcs))
    }
    assert(e.getMessage.contains("!= expected stream id decoy"))
    assert(spark.streams.active.isEmpty)
  }
}
