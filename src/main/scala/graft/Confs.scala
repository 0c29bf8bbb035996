package graft

import org.apache.spark.sql.SparkSession

/** The one way query code changes session SQL conf: set some keys for
  * the duration of a body, then put every key back. Apart from this
  * object only [[Tables]] writes conf (the sticky events-timestamp read
  * setting); `ConfScopeSpec` scans the sources to keep it that way.
  *
  * SINGLE-THREADED CONTRACT: a scope toggles the session-GLOBAL SQL
  * conf, so any query planned concurrently on the same SparkSession
  * during the window inherits the scoped values. The bench/verify
  * harnesses run queries strictly sequentially, and the restore is
  * exact even on exception — but a server-style shared-session caller
  * must give each concurrently running query its own
  * `SparkSession.newSession()` (cheap: shares the SparkContext,
  * isolates the conf).
  */
object Confs {
  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Set each `key -> value`, run `body`, and in a finally restore every
    * key to the value it had before the scope, unsetting a key that had
    * none.
    */
  def scoped[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val saved = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally saved.reverseIterator.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  /** Shuffle width for frames that are tiny relative to the cluster
    * (iterative-graph rounds, keyed cascades, stream state stores):
    * full-width shuffles pay pure task-launch fixed costs. The width is
    * CONF-PROPORTIONAL — `max(n, conf·n/32)`, i.e. n at the 32-partition
    * bench ratio — not an absolute: a production session running
    * thousands of shuffle partitions keeps n/32 of them. Use as a
    * [[scoped]] setting.
    */
  def narrow(s: SparkSession, n: Int): (String, String) = {
    val conf = scala.util.Try(s.conf.get(ShufflePartitions).toInt).getOrElse(32)
    ShufflePartitions -> math.max(n, conf * n / 32).toString
  }
}
