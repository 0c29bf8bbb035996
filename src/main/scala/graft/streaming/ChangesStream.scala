package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.PureDocs

/** Incremental CDC driver: the reference's 4-hour batch daemon
  * (`runner.py:171-174`) re-expressed as a Structured Streaming
  * `foreachBatch` loop — each micro-batch of change rows goes through
  * the same max-version consumption and buffer→history bookkeeping as
  * the batch path ([[PureDocs.consumeChanges]]), with offsets tracked
  * by the streaming checkpoint instead of the hand-rolled
  * max(downloaded) cursor. The per-batch logic is IDEMPOTENT (keyed
  * upserts + freshness guards), which is what makes checkpoint-replay
  * after failure safe.
  */
object ChangesStream {

  /** Run the change feed from `sourceDir` (parquet rows: uuid,
    * family_system_name, change_type, version) into `historyDir`,
    * invoking `apply` with each micro-batch's per-uuid actions.
    * Returns after draining available input (local harness semantics;
    * in production the query would run continuously).
    */
  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      historyDir: String,
      families: Seq[String])(
      apply: DataFrame => Unit): Unit = {
    val schema = "uuid STRING, family_system_name STRING, " +
      "change_type STRING, version BIGINT"
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (actions, toHistory) = PureDocs.consumeChanges(batch, families)
        apply(actions)
        // foreachBatch is at-least-once: writing each batch to its own
        // overwritten directory makes checkpoint replay idempotent (a
        // plain append would duplicate history rows on retry)
        toHistory.write.mode("overwrite")
          .parquet(s"$historyDir/batch_id=$batchId")
      }
      .start()
    StreamRun.drain(q)
  }
}
