package graft.operators

/** Overlap independent stage-boundary materializations (guide §2.6).
  *
  * Under AQE, a `localCheckpoint` boundary blocks its CALLING thread
  * while every non-result query stage materializes (the adaptive plan
  * executes shuffle/broadcast stages eagerly inside `toRdd`), so a
  * pipeline that cuts N independent boundaries runs N sequential
  * stage-job cascades even though the cluster could back-fill — the
  * sync cycle measured ~140 sequential stage-jobs per cycle at sf0.1
  * with most cores idle (a job-anatomy probe, round 19). Spark's scheduler
  * happily runs jobs from several driver threads at once; these
  * helpers fork plain daemon threads per call site (the DAG's width is
  * 2-5, so a pool would only add queueing semantics to misuse).
  *
  * Concurrency is the ONLY thing these helpers change: every thunk
  * builds exactly the frame it would have built sequentially, and
  * callers join before using any result, so plan shapes and results
  * are byte-identical (Round20Spec pins par ≡ sequential on the
  * cycle). Spark thread-locals (job group/description) are inherited
  * by the forked thread via SparkContext's InheritableThreadLocal.
  */
private[graft] object Par {

  final class Handle[T] private[Par] (th: Thread,
      result: java.util.concurrent.atomic.AtomicReference[Either[Throwable, T]]) {
    def join(): T = {
      th.join()
      result.get match {
        case Right(v) => v
        case Left(e) => throw e
        case null => throw new IllegalStateException("forked thunk vanished")
      }
    }
  }

  /** Start `body` on a daemon thread; `join()` re-throws its failure. */
  def fork[T](name: String)(body: => T): Handle[T] = {
    val ref =
      new java.util.concurrent.atomic.AtomicReference[Either[Throwable, T]]()
    val th = new Thread(() => {
      ref.set(try Right(body) catch { case e: Throwable => Left(e) })
    }, s"graft-par-$name")
    th.setDaemon(true)
    th.start()
    new Handle(th, ref)
  }

  /** Evaluate both thunks concurrently (b forked, a on the caller). */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val hb = fork("par2")(b)
    val av = try a catch { case e: Throwable => hb.join(); throw e }
    (av, hb.join())
  }

  /** Evaluate all thunks concurrently (last one on the caller),
    * results in order.
    */
  def all[T](thunks: (() => T)*): Seq[T] =
    if (thunks.size <= 1) thunks.map(_()).toSeq
    else {
      val handles = thunks.init.zipWithIndex
        .map { case (t, i) => fork(s"all$i")(t()) }
      val last =
        try thunks.last()
        catch { case e: Throwable =>
          handles.foreach(h => try h.join() catch { case _: Throwable => () })
          throw e
        }
      handles.map(_.join()) :+ last
    }
}
