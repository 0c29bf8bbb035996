package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built (`ConfScopeSpec` keeps it
  * that way): Bench, Verify, the probes and the test suite all run
  * under the same session shape, so a plan or a timing seen in one is
  * the plan the others run.
  */
object Sessions {
  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** A `local[cores]` session with the bench confs; `extra` confs are
    * applied last, so they override the defaults. Static confs (the
    * codegen cache) bind only the first session a JVM builds:
    * `getOrCreate` hands later callers that one.
    */
  def local(cores: Int = cpus,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // Spark 4.1's union-partitioning claim is invalid for
      // concatenating unions and breaks downstream joins
      "spark.sql.unionOutputPartitioning" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      // several codegen'd stages per query blow through the default
      // 100-entry generated-class cache, so every pass re-compiles
      // regexp-heavy plans (measured: q30 6.0 s cold vs 0.8 s warm)
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.ui.enabled" -> "false")
    (defaults ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
  }
}
