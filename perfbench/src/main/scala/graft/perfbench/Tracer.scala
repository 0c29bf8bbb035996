package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans the benchmark places around its own calls into the program.
  *
  * A span is a Spark local property on the calling thread. Threads the
  * program starts inside a span (`operators.Par`'s forks, AQE stage
  * submission, a stream's micro-batch thread) copy the property when
  * they are created, so every job carries the innermost span that was
  * open where it was asked for. Jobs with no span are counted as
  * unattributed, never dropped.
  */
object Spans {
  val Key = "perfbench.span"

  def apply[T](sc: SparkContext, name: String)(body: => T): T =
    withProperty(sc, Key, name)(body)

  /** Run `body` with local property `key` set to `value` on this thread
    * (and the threads it starts), then restore the previous value. */
  def withProperty[T](sc: SparkContext, key: String, value: String)(
      body: => T): T = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body
    finally sc.setLocalProperty(key, prev)
  }
}

/** The jobs of each op, keyed by the op property the harness sets on
  * its own thread for the length of the op. The property is inherited
  * like a span and the program never sets it, so jobs count for their
  * op even on threads that replace the job group, as a stream's
  * micro-batch thread does. Registered in every run, traced or not: it
  * is the untraced run's only listener.
  */
final class OpJobs extends SparkListener {
  private val started = mutable.HashMap.empty[String, mutable.Set[Int]]
  private val ended = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpJobs.Key)))
      .foreach(op => started.getOrElseUpdate(op, mutable.Set.empty) += e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
  }

  /** Job ids of `op`, read once each of them has ended and two readings
    * 50 ms apart agree: listener events arrive after the op returns. */
  def of(op: String): Seq[Int] = {
    def read() = synchronized {
      val ids = started.get(op).map(_.toSeq.sorted).getOrElse(Nil)
      (ids, ids.forall(ended.contains))
    }
    var prev = read()
    var tries = 0
    var stable = false
    while (!stable && tries < 40) {
      Thread.sleep(50)
      val cur = read()
      stable = cur == prev && cur._2
      prev = cur
      tries += 1
    }
    prev._1
  }
}

object OpJobs {
  val Key = "perfbench.op"
}

/** Additive per-stage task figures. */
final class Work {
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L

  def add(o: Work): Unit = {
    stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
  }
}

/** One job as the scheduler reported it. */
final case class JobRec(id: Int, span: String, op: String,
    startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Timed span interval recorded by the harness itself. */
final case class SpanRec(name: String, startNs: Long, endNs: Long)

/** The traced run's collectors: a `SparkListener` for jobs, stages and
  * tasks, a `QueryExecutionListener` for planning phases and a
  * `StreamingQueryListener` for micro-batches. All state is guarded by
  * the collector's own lock; listener events arrive on Spark's bus
  * threads while the harness thread reads.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageWork = mutable.HashMap.empty[Int, Work]
  /** (first phase start in epoch ms, summed analysis/optimization/planning ms). */
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (batch start in epoch ms, trigger ms, addBatch ms, commit ms, input rows). */
  private val batches = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[SpanRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      val rec = JobRec(e.jobId,
        p.map(_.getProperty(Spans.Key)).orNull,
        p.map(_.getProperty(OpJobs.Key)).orNull,
        e.time, e.stageIds)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stageWork.getOrElseUpdate(e.stageInfo.stageId, new Work).stages = 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val w = stageWork.getOrElseUpdate(e.stageId, new Work)
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) lock.synchronized {
        planning += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      lock.synchronized {
        batches += ((start, d("triggerExecution"), d("addBatch"),
          d("walCommit") + d("commitOffsets") + d("commitBatch"),
          p.numInputRows))
      }
    }
  }

  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Time `body` as span `name` and tag its jobs with it. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Spans(sc, name)(body)
    finally spans.add(SpanRec(name, t0, System.nanoTime()))
  }

  /** Wait until the listener has seen every job in `ids` end. Task and
    * stage events precede their job's end on the bus, so afterwards
    * the job's work figures are complete. */
  def awaitJobs(ids: Seq[Int], timeoutMs: Long = 20000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = lock.synchronized(ids.forall(i => jobs.get(i).exists(_.endMs >= 0)))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
    done
  }

  /** Wait until no listener event has arrived for `quietMs`. */
  def settle(quietMs: Long = 300L, timeoutMs: Long = 5000L): Unit = {
    def size = lock.synchronized(jobs.size + planning.size + batches.size)
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = size
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() - since < quietMs &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val now = size
      if (now != last) { last = now; since = System.currentTimeMillis() }
    }
  }

  /** Work of the jobs `pick` selects, plus their count. */
  def workOf(pick: JobRec => Boolean): (Int, Work) = lock.synchronized {
    val ids = jobs.values.filter(pick).map(_.id).toSet
    val w = new Work
    stageWork.foreach { case (s, sw) =>
      if (stageJob.get(s).exists(ids.contains)) w.add(sw)
    }
    (ids.size, w)
  }

  def jobsSnapshot: Seq[JobRec] = lock.synchronized(jobs.values.toList)
  def planningSnapshot: Seq[(Long, Long)] = lock.synchronized(planning.toList)
  def batchesSnapshot: Seq[(Long, Long, Long, Long, Long)] =
    lock.synchronized(batches.toList)
}

object Intervals {
  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    cl.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Largest number of intervals open at one instant. */
  def maxOverlap(iv: Seq[(Long, Long)]): Int = {
    val ev = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    var cur = 0
    var best = 0
    ev.foreach { case (_, d) => cur += d; best = math.max(best, cur) }
    best
  }
}
