package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming daily-ingest near-dup detection — the incremental MinHash
  * contract ([[graft.operators.Dedup.minhashNearDupsIncrementalPortable]])
  * driven by Structured Streaming: each micro-batch of documents
  * probes the PERSISTED band index (original corpus + every earlier
  * batch), emits its near-dup pairs, and then appends its own bands
  * and raw docs to the index stores. Later batches therefore collide
  * with earlier ones, so the union of per-batch pair sets equals the
  * one-shot incremental result over all streamed docs — the invariant
  * DedupStreamSpec asserts.
  *
  * Idempotency under checkpoint replay: every per-batch write
  * (pairs, bands, docs) goes to its own `batch_id=N` directory in
  * overwrite mode, the same pattern as [[ChangesStream]], AND the
  * index/docs reads exclude batch ids >= the current one — a replayed
  * batch whose fold-in writes landed before a crash would otherwise
  * see its own docs on both sides of the verify join and rewrite
  * DIFFERENT (duplicated) pair content instead of identical content.
  *
  * Scale: the per-batch cost is O(batch) sketches + one band
  * equi-join against the index — the corpus is never re-sketched; at
  * 100 TB the index stores would live on the lake (partitioned
  * parquet exactly as here) and the probe join is
  * shuffle-partitionable on the band key.
  */
object DedupStream {

  /** Drain `sourceDir` (parquet docs: idCol, textCol) as micro-batches
    * against the band index rooted at `indexDir` (pre-seeded with the
    * corpus bands under `batch_id=base`; corpus raw docs under
    * `docsDir/batch_id=base`), writing pair sets under `pairsDir`.
    * `docsSchema` is the (idCol, textCol) schema of the source docs:
    * the caller takes it off a stable directory, since a footer read
    * of the run-private `docsDir` would infer it anew every run.
    */
  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      indexDir: String,
      docsDir: String,
      pairsDir: String,
      idCol: String,
      textCol: String,
      docsSchema: org.apache.spark.sql.types.StructType,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6,
      maxFilesPerTrigger: Int = 1): Unit = {
    // Store↔checkpoint identity guard: the stream's identity is its
    // checkpoint id (STABLE across legitimate restarts from the same
    // checkpoint); the store remembers which stream built it. Batch-id
    // arithmetic cannot make this safe — a lost checkpoint restarting
    // at id 0 over a store whose max id is 0 is indistinguishable from
    // a legitimate replay by ids alone — so pairing ids is the only
    // sound check, and it runs ONCE per run, not per batch.
    val marker = java.nio.file.Paths.get(indexDir, "_stream_id")
    val ckpMeta = java.nio.file.Paths.get(checkpointDir, "metadata")
    val ckpId: Option[String] =
      if (java.nio.file.Files.exists(ckpMeta))
        "\"id\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(java.nio.file.Files.readString(ckpMeta))
          .map(_.group(1))
      else None
    if (java.nio.file.Files.exists(marker)) {
      val prev = java.nio.file.Files.readString(marker).trim
      require(ckpId.contains(prev),
        s"DedupStream: store at $indexDir was built by stream $prev but " +
          s"this checkpoint is ${ckpId.getOrElse("fresh")} — a new " +
          "checkpoint over an existing store would replay batch ids and " +
          "silently drop or clobber earlier batches; use a fresh store " +
          "or the original checkpoint")
    } else require(ckpId.isEmpty,
      s"DedupStream: checkpoint $checkpointDir has committed batches but " +
        s"the store at $indexDir carries no _stream_id marker — reusing " +
        "a checkpoint over a fresh store would skip its committed " +
        "batches; use a fresh checkpoint with a fresh store")
    // Establish the store↔checkpoint pairing BEFORE any batch can
    // commit. Writing the marker after start() left a crash window: a
    // crash after the first micro-batch committed but before the
    // marker write stranded a legitimately-built store (the guard
    // above would reject it forever). Spark honors a pre-existing
    // checkpoint `metadata` file (StreamMetadata.read), so on a fresh
    // checkpoint we mint the stream id ourselves, write the metadata
    // json AND the marker, and only then start the query — whichever
    // write a crash interrupts, the pair is never half-established in
    // the direction the guard can't recover from (metadata-without-
    // marker only arises here with zero committed batches, and the
    // guard's fresh-store branch requires ckpId.isEmpty, so re-running
    // after such a crash needs the half-written checkpoint dir cleared
    // — a loud, zero-data-loss failure).
    val streamId: String = ckpId.getOrElse {
      val id = java.util.UUID.randomUUID().toString
      java.nio.file.Files.createDirectories(ckpMeta.getParent)
      java.nio.file.Files.writeString(ckpMeta, s"""{"id":"$id"}""")
      id
    }
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.writeString(marker, streamId)
    }
    val stream = spark.readStream.schema(docsSchema)
      // one file per micro-batch by default: each ingest drop probes
      // the index BEFORE being folded in, the daily-ingest cadence
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val s = rawBatch.sparkSession
        // the batch feeds three pipelines (probe, fold-in, docs write)
        // — persist it so the source file is read once
        val batch = rawBatch.persist()
        // band the batch ONCE and persist the sketch: the probe join
        // and the fold-in index append both read this frame, so the
        // md5 sketch (the dominant per-batch cost) runs once instead
        // of once per consumer
        val banded = Dedup.minhashBandIndexPortable(batch, idCol, textCol,
          shingleLen, numHashes, bands).persist()
        try {
          // the index/docs reads must not see this batch's OWN dirs.
          // Within one attempt that holds by write ordering, but a
          // checkpoint REPLAY of a batch whose fold-in writes landed
          // before the crash would re-read them and violate the
          // disjoint-ids precondition (duplicated pairs) — so exclude
          // this batch id and any later one explicitly. batch_id is
          // pinned to STRING: partition-column inference only yields
          // string because the `base` seed dir exists — a store with
          // numeric-only batch dirs would infer an integer column and
          // the === "base" comparison would cross types (null under
          // ANSI-off casts), silently emptying the base branch.
          def past(dir: String) = graft.Tables.parquet(s, dir)
            .filter(col("batch_id").cast("string") === "base" ||
              expr("try_cast(batch_id AS BIGINT)") < batchId)
          val index = past(indexDir).select(idCol, "band_idx", "band_hash")
          val knownDocs = past(docsDir).select(idCol, textCol)
          val pairs = Dedup.minhashNearDupsIncrementalFromBands(
            index, knownDocs, batch, banded, idCol, textCol,
            shingleLen, threshold)
          pairs.write.mode("overwrite")
            .parquet(s"$pairsDir/batch_id=$batchId")
          // now fold the batch into the stores so the NEXT batch
          // collides with it — same persisted sketch, no re-band
          banded.write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
          batch.select(idCol, textCol).write.mode("overwrite")
            .parquet(s"$docsDir/batch_id=$batchId")
        } finally { banded.unpersist(); batch.unpersist() }
      }
      .start()
    // sanity: the id Spark adopted must be the one the marker records
    // (it read the metadata file we wrote, or both predate this run).
    // A mismatch stops the query before rethrowing, like a drain does.
    try assert(q.id.toString == streamId,
      s"DedupStream: query id ${q.id} != expected stream id $streamId")
    catch { case e: Throwable => q.stop(); throw e }
    StreamRun.drain(q)
  }
}
