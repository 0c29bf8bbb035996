package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.FixtureLoader.spark

/** [[Tables.parquet]]'s schema memo: a repeat read schedules no job
  * and keeps the schema; whatever the inferred schema depends on (the
  * files, the type-mapping confs) makes the next read infer again.
  */
class TablesSpec extends AnyFunSuite {
  private val Prop = "graft.tablesSpec"

  /** The body's result and the number of jobs it scheduled. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Prop) == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(Prop, tag)
    try {
      val r = body
      ColumnBridge.drainListenerBus(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty(Prop, null)
      sc.removeSparkListener(l)
    }
  }

  private def withTable(body: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("tables-spec").toString
    try {
      spark.range(3).toDF("a").write.parquet(s"$d/t")
      body(s"$d/t")
    } finally TmpTrees.delete(d)
  }

  test("a memo hit schedules no job and returns the same schema") {
    withTable { p =>
      val (first, inferJobs) = jobs(Tables.parquet(spark, p).schema)
      val (again, hitJobs) = jobs(Tables.parquet(spark, p))
      assert(inferJobs > 0)
      assert(hitJobs == 0)
      assert(again.schema == first)
      assert(again.count() == 3)
    }
  }

  test("a rewritten directory re-infers its schema") {
    withTable { p =>
      assert(Tables.parquet(spark, p).columns.toSeq == Seq("a"))
      spark.range(3).toDF("a").withColumn("b", col("a") * 2)
        .write.mode("overwrite").parquet(p)
      val (df, n) = jobs(Tables.parquet(spark, p))
      assert(n > 0)
      assert(df.columns.toSeq == Seq("a", "b"))
      assert(df.filter(col("b") === 4).count() == 1)
    }
  }

  test("flipping nanosAsLong re-infers") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withTable { p =>
      def read(v: String) = jobs(Confs.scoped(spark, key -> v)(
        Tables.parquet(spark, p).schema))
      val (off, _) = read("false")
      val (offAgain, hit) = read("false")
      val (on, flip) = read("true")
      assert(hit == 0)
      assert(flip > 0)
      assert(off == offAgain && off == on) // no nanos column to re-type
    }
  }
}
