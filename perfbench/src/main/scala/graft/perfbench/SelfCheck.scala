package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Self-checks of the tracing machinery on a tiny local session:
  * innermost-span attribution (nested spans, a thread started inside a
  * span, one that also replaces the job group, AQE shuffle stages), the
  * tracer's jobs of an op against the op's own count, and the interval
  * arithmetic. Exits 1 on failure.
  */
object SelfCheck {
  def run(): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(what: String, ok: Boolean): Unit =
      if (!ok) failures += what

    check("covered unions overlaps",
      Intervals.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    check("covered clips to the window",
      Intervals.covered(Seq((0L, 10L), (5L, 15L)), 8L, 12L) == 4L)
    check("maxOverlap counts open intervals",
      Intervals.maxOverlap(Seq((0L, 10L), (5L, 15L), (12L, 20L))) == 2)

    val out = java.nio.file.Files.createTempDirectory("perfbench-selfcheck")
    val spark = Main.session(2, out.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    try {
      val opJobs = new OpJobs
      sc.addSparkListener(opJobs)
      val tr = new Tracer(spark)
      tr.start()
      val tag = "perfbench-selfcheck"
      // one RDD action = one job, so the job order is the span order
      def job(): Unit = { sc.parallelize(1 to 10).count(); () }
      def thread(body: => Unit): Unit = {
        val th = new Thread(() => body)
        th.start(); th.join()
      }
      Spans.withProperty(sc, OpJobs.Key, tag) {
        tr.span("outer") {
          job()
          tr.span("inner") {
            job()
            thread(job())
            // a thread that replaces the job group, as a stream's
            // micro-batch thread does, still counts for the op
            thread { sc.setJobGroup("not-the-op", "x"); job() }
          }
          job()
        }
        tr.span("aqe") {
          spark.range(1000).groupBy((col("id") % 7).as("k")).count().collect()
        }
      }
      val ids = opJobs.of(tag)
      check("listener saw every job end", tr.awaitJobs(ids))
      val seen = tr.jobsSnapshot.filter(_.op == tag).sortBy(_.id)
      check(s"tracer job count ${seen.size} == op count ${ids.size}",
        seen.map(_.id) == ids)
      check("nested spans attribute to the innermost: " +
        seen.take(5).map(_.span).mkString(","),
        seen.take(5).map(_.span) ==
          Seq("outer", "inner", "inner", "inner", "outer"))
      check("AQE stage jobs inherit the span: " +
        seen.drop(5).map(_.span).mkString(","),
        seen.size > 6 && seen.drop(5).forall(_.span == "aqe"))
      check("spans restore the enclosing span and op",
        sc.getLocalProperty(Spans.Key) == null &&
          sc.getLocalProperty(OpJobs.Key) == null)
      tr.stop()
    } finally {
      spark.stop()
      graft.TmpTrees.delete(out.toString)
    }
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[selfcheck] FAILED: $f"))
      sys.exit(1)
    }
    println("[selfcheck] ok")
  }
}
