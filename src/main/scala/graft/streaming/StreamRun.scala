package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one way a stream is run against a static source (local harness
  * semantics — §2.10 batch-drives-stream; in production the query
  * would run continuously): process every available micro-batch, then
  * stop the query, also when a micro-batch throws, so no query keeps
  * firing at a source directory its caller is about to delete.
  */
object StreamRun {

  /** Drain `q`'s available input, then stop it. A micro-batch failure
    * is rethrown after the stop.
    */
  def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable()
    finally q.stop()

  /** Start `writer` into the memory sink `name`, drain it, and return
    * `finish` applied to the sink's table. The sink's view is dropped
    * in a finally — also when the drain or `finish` throws — so
    * `finish` must materialize whatever it returns.
    *
    * The start runs under `Confs.narrow(s, 4)` (a streaming query
    * snapshots the session conf when it starts, so the conf is back
    * before the drain): each micro-batch commits one state store per
    * shuffle partition × stateful operator, and at full width those
    * fixed commit costs dominated (q93 isolated: ~10.8 s at 32
    * partitions vs ~4 s at 4). The width tracks state cardinality —
    * the bench-scale key spaces fit 4 partitions, and a larger session
    * keeps the same n/32 share of its width.
    */
  def toMemory[T](s: SparkSession, name: String)(
      writer: => DataStreamWriter[Row])(finish: DataFrame => T): T =
    try {
      drain(graft.Confs.scoped(s, graft.Confs.narrow(s, 4))(
        writer.format("memory").queryName(name).start()))
      finish(s.table(name))
    } finally s.catalog.dropTempView(name)
}
