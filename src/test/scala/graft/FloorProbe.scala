package graft

/** Throwaway measurement harness (round 20, not a test): decomposes
  * the ~1 s per-query floor that ~300 small queries pay in the bench
  * (≈300 s of the headline) into driver planning, job-scheduling gaps,
  * and task compute, and reports each query's shuffle bytes written
  * and input records read. Run with
  *   sbt "Test/runMain graft.FloorProbe [all | query ...]"
  * Defaults to a representative cheap-query sample; `all` runs every
  * `SparkEntry` query.
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SCRATCH_SF", "/root/testdata/sf0.1")

    val sample = if (args.toSeq == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq else Seq(
      "q01_pricing_summary", "q02_filter_project", "q05_latest_order_per_customer",
      "q11_lead_lag", "q20_tree_closure", "q30_text_stats",
      "q49_redaction", "q63_mixture_sample", "q71_plain_join_aqe",
      "q94_unimax", "q99_data_card", "q118_image_dhash",
      "q140_small_qty_revenue", "q166_cumulative_distinct", "q190_dedup_eval",
      "q206_rake_keywords", "q232_decile_lift", "q262_rendezvous_shards",
      "q270_kmv_jaccard", "q283_winsorize", "q306_bradley_terry",
      "q321_bleu_corpus", "q331_ridge_regression", "q338_rec_diversity")

    // per-job accounting
    import org.apache.spark.scheduler._
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskNanos = new AtomicLong(0L)
    val shuffleBytes = new AtomicLong(0L)
    val inputRows = new AtomicLong(0L)
    val jobMillis = new AtomicLong(0L)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(e.stageInfos.size)
        jobStart.put(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId))
          .foreach(t0 => jobMillis.addAndGet(e.time - t0))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inputRows.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    Tables.names.foreach { t =>
      try Tables(spark, dir, t).count() catch { case _: Throwable => () }
    }

    println("[floor] query, pass, wall_s, plan_s, plan class, jobs, " +
      "stages, tasks, sumJobWall_s, sumTaskTime_s, shuffleBytes, inputRows")
    for (pass <- 1 to 3; name <- sample) {
      val fn = SparkEntry.queries(name)
      val j0 = jobs.get; val s0 = stages.get; val k0 = tasks.get
      val tn0 = taskNanos.get; val jm0 = jobMillis.get
      val sb0 = shuffleBytes.get; val ir0 = inputRows.get
      val t0 = System.nanoTime()
      val timed = try {
        val df = fn(spark, dir)
        val planned = df.queryExecution.executedPlan // analysis+opt+planning
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        Some(f"wall=${(t2 - t0) / 1e9}%6.3f plan=${(t1 - t0) / 1e9}%6.3f " +
          s"planned=${planned.getClass.getSimpleName}")
      } catch { case e: Throwable =>
        println(f"[floor] $name%-32s p$pass FAILED ${e.getMessage.take(120)}")
        None
      } finally {
        // listener events are posted asynchronously; drain even on
        // failure so a query's events can't bleed into the next one's
        org.apache.spark.sql.graftshim.ColumnBridge
          .drainListenerBus(spark.sparkContext)
      }
      timed.foreach { t =>
        println(f"[floor] $name%-32s p$pass $t jobs=${jobs.get - j0}%-3d " +
          f"stages=${stages.get - s0}%-3d tasks=${tasks.get - k0}%-5d " +
          f"jobWall=${(jobMillis.get - jm0) / 1e3}%6.3f " +
          f"taskSum=${(taskNanos.get - tn0) / 1e9}%7.3f " +
          f"shuffleB=${shuffleBytes.get - sb0}%-10d " +
          f"inputRows=${inputRows.get - ir0}%d")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
