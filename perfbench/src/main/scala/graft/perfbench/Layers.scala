package graft.perfbench

/** Per-layer figures of a traced run, averaged over its timed ops. */
object Layers {
  private val MB = 1048576.0

  def compute(tr: Tracer, ops: Seq[Main.Op], cores: Int,
      timedWallS: Double): Seq[(String, String)] = {
    val timed = ops.filter(_.timed)
    val n = math.max(1, timed.size).toDouble
    val opTags = timed.map(_.tag).toSet
    val lo = timed.map(_.startMs).min
    val hi = timed.map(_.endMs).max
    val loNs = timed.map(_.startNs).min
    val hiNs = timed.map(_.endNs).max
    val jobs = tr.jobsSnapshot
    val inTimed = jobs.filter(j => opTags.contains(j.op))
    val (jobCount, work) = tr.workOf(j => opTags.contains(j.op))
    val out = Seq.newBuilder[(String, String)]
    def put(k: String, v: Double): Unit = out += k -> Json.num(v)

    // Spark scheduling as the program drives it
    put("spark.jobs_per_op", jobCount / n)
    put("spark.stages_per_op", work.stages / n)
    put("spark.tasks_per_op", work.tasks / n)
    put("spark.task_s_per_op", work.taskMs / 1000.0 / n)
    put("spark.core_busy_ratio", work.taskMs / 1000.0 / (timedWallS * cores))
    put("spark.max_concurrent_jobs", Intervals.maxOverlap(
      inTimed.map(j => (j.startMs, math.max(j.endMs, j.startMs)))).toDouble)
    val gapMs = timed.map { o =>
      val iv = inTimed.filter(_.op == o.tag)
        .map(j => (j.startMs, math.max(j.endMs, j.startMs)))
      (o.endMs - o.startMs) - Intervals.covered(iv, o.startMs, o.endMs)
    }.sum
    put("spark.job_gap_s_per_op", gapMs / 1000.0 / n)
    put("spark.shuffle_write_mb_per_op", work.shuffleWrite / MB / n)
    put("spark.shuffle_read_mb_per_op", work.shuffleRead / MB / n)
    put("spark.spill_mb_per_op", work.spill / MB / n)
    val (_, unattributed) = tr.workOf(j =>
      j.span == null && j.startMs >= lo && j.startMs <= hi)
    put("spark.unattributed_stages_per_op", unattributed.stages / n)

    // etl: stage boundaries by the module that asked for them
    val etlSpans = tr.spans.toArray(Array.empty[SpanRec]).toSeq
      .filter(s => s.name.startsWith("etl.") && s.startNs >= loNs &&
        s.startNs <= hiNs)
    put("etl.boundaries_per_op", etlSpans.size / n)
    put("etl.boundary_blocked_s_per_op", Intervals.covered(
      etlSpans.map(s => (s.startNs, s.endNs)), loNs, hiNs) / 1e9 / n)
    Workloads.EtlModules.foreach { m =>
      val span = s"etl.$m"
      val (mj, mw) = tr.workOf(j => j.span == span && opTags.contains(j.op))
      put(s"$span.boundary_s",
        etlSpans.filter(_.name == span).map(s => s.endNs - s.startNs).sum / 1e9 / n)
      put(s"$span.jobs", mj / n)
      put(s"$span.task_s", mw.taskMs / 1000.0 / n)
      put(s"$span.shuffle_mb", (mw.shuffleWrite + mw.shuffleRead) / MB / n)
    }

    // streaming micro-batches
    val batches = tr.batchesSnapshot.filter { case (t, _, _, _, _) =>
      t >= lo && t <= hi }
    put("streaming.batches_per_op", batches.size / n)
    put("streaming.trigger_s_per_op", batches.map(_._2).sum / 1000.0 / n)
    put("streaming.add_batch_s_per_op", batches.map(_._3).sum / 1000.0 / n)
    put("streaming.commit_s_per_op", batches.map(_._4).sum / 1000.0 / n)
    put("streaming.input_rows_per_op", batches.map(_._5).sum / n)

    // Queries* families: construction (eager checkpoint jobs), the
    // sink write, planning phases and jobs, per op of the family
    val planning = tr.planningSnapshot
    Workloads.Families.foreach { f =>
      val fo = timed.filter(_.family == f)
      val k = math.max(1, fo.size).toDouble
      put(s"queries.$f.construct_s", fo.map(_.constructS).sum / k)
      put(s"queries.$f.execute_s", fo.map(_.executeS).sum / k)
      put(s"queries.$f.plan_s", fo.map { o =>
        planning.filter { case (t, _) => t >= o.startMs && t <= o.endMs }
          .map(_._2).sum
      }.sum / 1000.0 / k)
      put(s"queries.$f.jobs", fo.map(o => jobs.count(_.op == o.tag)).sum / k)
    }
    put("checkpoint.rdds_per_op", timed.map(_.ckptRdds).sum / n)
    put("checkpoint.mb_per_op", timed.map(_.ckptMb).sum / n)

    // Tables: bytes and rows read by scans
    put("tables.input_mb_per_op", work.inputBytes / MB / n)
    put("tables.input_rows_per_op", work.inputRows / n)

    put("jvm.gc_s_per_op", timed.map(_.gcS).sum / n)
    out.result()
  }
}
