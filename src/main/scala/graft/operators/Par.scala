package graft.operators

/** Overlap independent stage-boundary materializations (guide §2.6).
  *
  * Under AQE, a `localCheckpoint` boundary blocks its CALLING thread
  * while every non-result query stage materializes, so a pipeline
  * that cuts N independent boundaries on one thread runs N sequential
  * stage-job cascades while the cluster could back-fill (the sync
  * cycle: ~140 sequential stage-jobs at sf0.1 with most cores idle, a
  * job-anatomy probe, round 19). Spark schedules jobs from several
  * driver threads at once.
  *
  * [[scope]] is the program's one way to run work concurrently.
  * `stage(name)(body)` declares a stage; a stage `get`s the stages it
  * reads, so the dependencies alone decide what overlaps. With `par`
  * each stage starts at once on its own daemon thread (the DAG is a
  * handful wide, so a pool would only add queueing); without it a
  * stage runs on the caller's thread at its first `get`. The scope
  * joins every stage it started before it returns or throws, so none
  * outlives its caller's conf scope or the blocks the caller frees.
  * `par` changes only WHEN a frame materializes, never its plan
  * (Round20Spec pins par ≡ sequential on the cycle); Spark's
  * thread-locals (local properties, job group) are inherited.
  */
private[graft] object Par {
  import java.util.concurrent.{ExecutionException, FutureTask}

  /** A declared stage; `get` waits for its value or rethrows its failure. */
  final class Stage[T] private[Par] (task: FutureTask[T], onCaller: Boolean) {
    def get: T = {
      if (onCaller) task.run() // a no-op once the body has run
      try task.get() catch { case e: ExecutionException => throw e.getCause }
    }
  }

  final class Scope private[Par] (par: Boolean) {
    private val started =
      scala.collection.mutable.ArrayBuffer.empty[(Thread, Stage[_])]

    def stage[T](name: String)(body: => T): Stage[T] = {
      val task = new FutureTask[T](() => body)
      val st = new Stage(task, onCaller = !par)
      if (par) {
        val th = new Thread(task, s"graft-par-$name")
        th.setDaemon(true)
        th.start()
        started.synchronized(started += th -> st)
      }
      st
    }

    /** Join every started stage, then throw `first` (else the first
      * stage failure) with every other failure suppressed on it.
      */
    private[Par] def close(first: Option[Throwable]): Unit = {
      val stages = started.synchronized(started.toList)
      stages.foreach(_._1.join())
      // distinct is by identity: a failure rethrown by `get` is seen twice
      val failures = (first.toList ++ stages.flatMap(st =>
        scala.util.Try(st._2.get).failed.toOption)).distinct
      failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        throw e
      }
    }
  }

  /** Run `body` with a fresh stage scope, joining every stage it
    * started before returning or throwing.
    */
  def scope[T](par: Boolean)(body: Scope => T): T = {
    val sc = new Scope(par)
    val out = try body(sc) catch { case e: Throwable => sc.close(Some(e)); throw e }
    sc.close(None)
    out
  }
}
