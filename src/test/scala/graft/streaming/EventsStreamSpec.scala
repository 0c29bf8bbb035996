package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.etl.FixtureLoader.spark

/** Batch-drives-stream tests over the driver testdata events table. */
class EventsStreamSpec extends AnyFunSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // streaming parquet sources need a DIRECTORY; stage events.parquet alone
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("windowed counts over the stream match the batch equivalent") {
    val stream = EventsStream.readEvents(spark, streamDir,
      graft.Tables.eventsRaw(spark, streamDir).schema)
    val g = StreamRun.toMemory(spark, "win_counts")(
      EventsStream.windowedCounts(stream).writeStream
        .outputMode(OutputMode.Append())) {
      _.select($"window.start", $"event_type", $"n").as[(java.sql.Timestamp, String, Long)]
        .collect().toSet
    }
    // append mode emits only windows fully below the final watermark;
    // every emitted window must match the batch computation exactly
    val batch = graft.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
    val b = batch.select($"window.start", $"event_type", $"n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    assert(g.nonEmpty)
    assert(g.subsetOf(b))
  }

  test("streaming error accumulation matches the batch rollup") {
    val stream = EventsStream.readEvents(spark, streamDir,
      graft.Tables.eventsRaw(spark, streamDir).schema)
      .filter(col("event_type") === "error")
      .select(concat(lit("e"), col("user_id")).as("error_id"), col("ts"))
      .as[ErrorsStream.ErrOccurrence]
    val got = StreamRun.toMemory(spark, "err_acc")(
      ErrorsStream.accumulate(stream).toDF().writeStream
        .outputMode(OutputMode.Update())) {
      // Update mode re-emits a row per id per batch — the LAST row per
      // id is the accumulated state
      _.groupBy("error_id")
        .agg(max(struct(col("count"), col("first_seen"), col("last_seen")))
          .as("s"))
        .select(col("error_id"), col("s.count"), col("s.first_seen"),
          col("s.last_seen"))
        .as[(String, Long, java.sql.Timestamp, java.sql.Timestamp)]
        .collect().map { case (id, c, f, l) => id -> (c, f, l) }.toMap
    }
    val batch = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(concat(lit("e"), col("user_id")).as("error_id"))
      .agg(count(lit(1)).as("count"), min(col("ts")).as("first_seen"),
        max(col("ts")).as("last_seen"))
      .as[(String, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().map { case (id, c, f, l) => id -> (c, f, l) }.toMap
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("error accumulation TTL evicts idle ids; re-occurrence restarts fresh") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("errttl-src").toString
    val ckp = Files.createTempDirectory("errttl-ckp").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def write(rows: Seq[(String, java.sql.Timestamp)]): Unit =
      rows.toDF("error_id", "ts").write.mode("append").parquet(src)
    val got = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def drain(): Unit = {
      val stream = spark.readStream
        .schema("error_id string, ts timestamp")
        .parquet(src)
        .as[ErrorsStream.ErrOccurrence]
      val q = ErrorsStream
        .accumulateWithTtl(stream, java.time.Duration.ofHours(1))
        .toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= df.select("error_id", "count")
            .collect().map(r => (r.getString(0), r.getLong(1)))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    // batch 1: e1 and e2 at t0 — both accumulate
    write(Seq(("e1", ts("2026-01-01 00:00:00")),
      ("e2", ts("2026-01-01 00:00:00"))))
    drain()
    // batch 2: e1 again 2h later — advances the watermark to t0+2h
    write(Seq(("e1", ts("2026-01-01 02:00:00"))))
    drain()
    // batch 3: unrelated id; during this batch watermark (t0+2h) has
    // passed e2's timeout (t0+1h) → e2 evicted, final row flushes
    write(Seq(("e3", ts("2026-01-01 04:00:00"))))
    drain()
    // batch 4: e2 RE-OCCURS after eviction → fresh state, count 1
    write(Seq(("e2", ts("2026-01-01 05:00:00"))))
    drain()
    val lastPerId = got.zipWithIndex
      .groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1._2).toMap
    assert(lastPerId("e1") == 2, s"e1 accumulated across batches: $lastPerId")
    // e2's LAST emission has count 1: the pre-eviction count-1 state was
    // flushed and removed, and the re-occurrence started over
    assert(lastPerId("e2") == 1, s"e2 must restart after TTL eviction: $lastPerId")
    // the eviction flush itself emitted (e2, 1) twice total
    assert(got.count(_ == ("e2", 1L)) >= 2, s"expected eviction flush: $got")
    assert(lastPerId("e3") == 1)
  }

  test("changes stream consumes per micro-batch and resumes from checkpoint") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("chg-src").toString
    val ckp = Files.createTempDirectory("chg-ckp").toString
    val hst = Files.createTempDirectory("chg-hst").toString
    def write(rows: Seq[(String, String, String, Long)]): Unit =
      rows.toDF("uuid", "family_system_name", "change_type", "version")
        .write.mode("append").parquet(src)
    val seen = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def drain(): Unit = ChangesStream.run(spark, src, ckp, hst,
      Seq("research-outputs")) { actions =>
      seen ++= actions.select("uuid", "change_type")
        .collect().map(r => (r.getString(0), r.getString(1)))
    }
    write(Seq(("u1", "research-outputs", "UPDATE", 1L),
      ("u1", "research-outputs", "DELETE", 2L),
      ("u2", "persons", "UPDATE", 1L)))
    drain()
    assert(seen.toSet == Set(("u1", "DELETE"))) // max version wins, family filtered
    // second run processes ONLY new data (checkpoint resume)
    seen.clear()
    write(Seq(("u3", "research-outputs", "UPDATE", 7L)))
    drain()
    assert(seen.toSet == Set(("u3", "UPDATE")))
    // history archived every filtered row exactly once
    assert(spark.read.parquet(hst).count() == 3)
  }

  test("stateful gap sessionization emits one state per user") {
    val stream = EventsStream.readEvents(spark, streamDir,
      graft.Tables.eventsRaw(spark, streamDir).schema)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event]
    val (gotUsers, gotEvents) = StreamRun.toMemory(spark, "sessions")(
      EventsStream.sessionize(stream, gapMinutes = 60).toDF().writeStream
        .outputMode(OutputMode.Update())) { got =>
      (got.select("user_id").distinct().count(),
        got.agg(sum("n_events")).first().getLong(0))
    }
    val users = graft.Tables.events(spark, dir)
      .select(countDistinct($"user_id")).first().getLong(0)
    assert(gotUsers == users)
    assert(gotEvents > 0)
  }
}
