package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The whole-system sync cycle driven as a Structured Streaming CDC
  * loop — the reference's 4-hour daemon (`runner.py:171-174`) with the
  * harness's offsets replaced by the streaming checkpoint, like
  * [[ChangesStream]] but carrying the FULL `Runner.syncCycle`
  * composition per micro-batch instead of the change-pointer
  * bookkeeping alone. Each micro-batch is one delivery of raw CDC
  * documents across the five families `(cycle, family, uuid,
  * modified, json)`; `onBatch` runs the cycle against the state its
  * caller threads between batches.
  *
  * The per-batch composition is IDEMPOTENT (keyed upserts + freshness
  * guards — a replayed delivery stale-skips), which is what makes
  * checkpoint-replay after failure safe, exactly the property the
  * reference relies on when its daemon re-runs a crashed cycle.
  */
object CycleStream {

  /** Feed schema: one row per raw CDC document. */
  val schema: String =
    "cycle BIGINT, family STRING, uuid STRING, " +
      "modified TIMESTAMP, json STRING"

  /** Run the feed from `sourceDir` one FILE per micro-batch (each
    * delivery is written as one file, so file order = delivery order),
    * invoking `onBatch` with each micro-batch DataFrame. Returns after
    * draining available input (local harness semantics; production
    * would run continuously).
    */
  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sourceDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(onBatch)
      .start()
    // when onBatch throws (the crash-restart gate plants one), the
    // drain rethrows the streaming failure after tearing the query
    // down, so the caller can restart from the same checkpoint
    StreamRun.drain(q)
  }
}
