package graft.perfbench

import graft.{QueriesCore, QueriesCycle, QueriesData, QueriesSim, QueriesText}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A benchmark workload: a fixed op order (`round`), cycled. Set-up
  * runs the first `setupOps` ops cold; the timed region runs at least
  * `minTimedOps` ops. */
final case class Workload(name: String, round: Seq[String], setupOps: Int,
    minTimedOps: Int)

object Workloads {
  /** One first-load sync cycle (`Runner.syncCycle` through q342). */
  val SyncCycle = Workload("sync_cycle", Seq("q342_runner_cycle"),
    setupOps = 1, minTimedOps = 1)

  /** SURVEY §2 reference ops and pipeline operators, one family or
    * more each, every one with a DuckDB twin. q113 is the streaming
    * representative (file stream, stateful update, memory sink). */
  val QueryMix = Workload("query_mix", Seq(
    "q01_pricing_summary", "q05_latest_order_per_customer",
    "q13_elect_primary", "q25_json_shred", "q57_person_xml",
    "q179_cdc_scd2", "q34_exact_dedup", "q55_minhash_portable",
    "q52_connected_components", "q65_ivf_portable", "q340_ktruss",
    "q113_stream_error_accumulate"), setupOps = 12, minTimedOps = 12)

  val all: Seq[Workload] = Seq(SyncCycle, QueryMix)

  val Families: Seq[String] = Seq("Core", "Text", "Sim", "Data", "Cycle")

  /** The `Queries*` module that declares `name`. */
  def family(name: String): String =
    if (QueriesCore.queries.contains(name)) "Core"
    else if (QueriesText.queries.contains(name)) "Text"
    else if (QueriesSim.queries.contains(name)) "Sim"
    else if (QueriesData.queries.contains(name)) "Data"
    else if (QueriesCycle.queries.contains(name)) "Cycle"
    else "other"

  /** q342 with the benchmark's own `mat` hook: the same scope and
    * calls as `QueriesCycle.q342RunnerCycle`, so each stage boundary
    * can be timed and attributed. The traced run checks that this
    * replica schedules as many jobs as the entry point does. */
  def syncCycleWith(s: SparkSession, dir: String,
      mat: DataFrame => DataFrame): DataFrame = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevU = s.conf.getOption("spark.sql.unionOutputPartitioning")
    val width = math.max(8, scala.util.Try(prev.toInt).getOrElse(32) * 8 / 32)
    try {
      s.conf.set("spark.sql.shuffle.partitions", width.toString)
      s.conf.set("spark.sql.unionOutputPartitioning", "false")
      QueriesCycle.cycleRows(s, dir, mat, par = true).localCheckpoint(true)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      prevU match {
        case Some(v) => s.conf.set("spark.sql.unionOutputPartitioning", v)
        case None => s.conf.unset("spark.sql.unionOutputPartitioning")
      }
    }
  }

  /** The `graft.etl` module (or the cycle's serializer) whose code
    * asked for the current stage boundary: the innermost program
    * frame on this thread's stack. A module outside [[EtlModules]]
    * reports as `other`, so no boundary goes unreported. */
  def callerModule(): String =
    Thread.currentThread.getStackTrace.iterator
      .map(_.getClassName)
      .collectFirst {
        case c if c.startsWith("graft.etl.") =>
          c.stripPrefix("graft.etl.").takeWhile(_ != '$')
        case c if c.startsWith("graft.QueriesCycle") => "Serialize"
        case c if c.startsWith("graft.") && !c.startsWith("graft.perfbench.") &&
            !c.startsWith("graft.operators.Par") => "other"
      }.filter(EtlModules.contains).getOrElse("other")

  /** Modules whose boundaries the traced sync cycle reports. */
  val EtlModules: Seq[String] = Seq("PureOrgs", "PureExternals",
    "PurePersons", "PureDocs", "OitToEdw", "HrJobs",
    "Runner", "Serialize", "other")
}
