package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.Confs
import graft.etl.FixtureLoader.spark

/** Every way out of [[StreamRun]] — a finished drain, a failing
  * micro-batch, a failing `finish` — leaves no live query, no
  * memory-sink view and the session conf exactly as it found it.
  */
class StreamRunSpec extends AnyFunSuite {
  import spark.implicits._

  // an optional conf with no default: unset in the test session
  private val unsetKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
  // a session width whose narrowed value (32) differs from it, so a
  // missed restore shows
  private val width = "256"

  /** A one-file parquet source directory holding v = 1, 2, 3. */
  private def source(): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("streamrun-src").toString
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.mode("append").parquet(d)
    spark.readStream.schema("v BIGINT").parquet(d)
  }

  /** Runs `body` at session width [[width]] and asserts the state every
    * StreamRun exit must leave.
    */
  private def leavesClean(name: String)(body: => Unit): Unit =
    Confs.scoped(spark, Confs.ShufflePartitions -> width) {
      body
      assert(spark.streams.active.isEmpty)
      assert(!spark.catalog.tableExists(name))
      assert(spark.conf.get(Confs.ShufflePartitions) == width)
    }

  test("a drained memory sink reaches finish with the conf already restored") {
    leavesClean("streamrun_ok") {
      val (n, during) = StreamRun.toMemory(spark, "streamrun_ok")(
        source().writeStream.outputMode("append")) { t =>
        (t.count(), spark.conf.get(Confs.ShufflePartitions))
      }
      assert(n == 3)
      assert(during == width)
    }
  }

  test("a micro-batch that throws leaves no live query, no sink view " +
    "and every scoped conf restored") {
    leavesClean("streamrun_batch_throws") {
      intercept[StreamingQueryException] {
        StreamRun.toMemory(spark, "streamrun_batch_throws")(
          source().select(expr("assert_true(v < 0)").as("v"))
            .writeStream.outputMode("append"))(_.count())
      }
    }
  }

  test("a finish that throws leaves the same clean state") {
    leavesClean("streamrun_finish_throws") {
      val e = intercept[IllegalStateException] {
        StreamRun.toMemory(spark, "streamrun_finish_throws")(
          source().writeStream.outputMode("append")) { t =>
          assert(t.count() == 3)
          throw new IllegalStateException("planted finish failure")
        }
      }
      assert(e.getMessage == "planted finish failure")
    }
  }

  test("drain stops a foreachBatch query whose batch throws") {
    leavesClean("streamrun_no_view") {
      val ckp = java.nio.file.Files.createTempDirectory("streamrun-ckp")
      val q = source().writeStream
        .option("checkpointLocation", ckp.toString)
        .foreachBatch { (_: DataFrame, _: Long) =>
          throw new IllegalStateException("planted batch failure")
        }.start()
      intercept[StreamingQueryException](StreamRun.drain(q))
      assert(!q.isActive)
    }
  }

  test("a scoped key that was unset before the scope is unset again " +
    "afterwards") {
    assert(spark.conf.getOption(unsetKey).isEmpty)
    Confs.scoped(spark, unsetKey -> "-1") {
      assert(spark.conf.get(unsetKey) == "-1")
    }
    assert(spark.conf.getOption(unsetKey).isEmpty)
    intercept[IllegalStateException] {
      Confs.scoped(spark, unsetKey -> "-1") {
        throw new IllegalStateException("planted")
      }
    }
    assert(spark.conf.getOption(unsetKey).isEmpty)
  }

  test("narrow is max(n, conf·n/32) of the session width") {
    val k = Confs.ShufflePartitions
    Confs.scoped(spark, k -> "4") {
      assert(Confs.narrow(spark, 4) == (k -> "4"))
      assert(Confs.narrow(spark, 8) == (k -> "8"))
    }
    Confs.scoped(spark, k -> "256") {
      assert(Confs.narrow(spark, 4) == (k -> "32"))
    }
  }
}
