package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loads the reference's golden fixture JSONs (ported by
  * tools/port_fixtures.py from /root/reference/tests — pure data) and
  * the dims implied by them (tools/gen_dims.py).
  */
object FixtureLoader {
  val dir = "src/test/resources/fixtures"

  /** Four cores whatever the box: Round17Spec's width bound is
    * stated against four shuffle partitions. */
  lazy val spark: SparkSession = graft.Sessions.local(4)

  /** One fixture file → map of stage name → DataFrame of rows. */
  def stage(fixture: String, stageName: String): DataFrame = {
    val raw = spark.read.option("multiLine", true).json(s"$dir/$fixture.json")
    require(raw.columns.contains(stageName),
      s"fixture $fixture has no stage $stageName")
    raw.select(explode(col(stageName)).as("r")).select("r.*")
  }

  def hasStage(fixture: String, stageName: String): Boolean =
    spark.read.option("multiLine", true).json(s"$dir/$fixture.json")
      .columns.contains(stageName)

  private val tsCols = Seq("effdt", "job_entry_dt", "position_entry_dt",
    "last_date_worked", "dept_entry_dt", "start_date", "end_date")
  private val descrCols = Seq("deptid_descr", "um_college",
    "um_college_descr", "um_campus_descr")

  /** Entries stage with schema pinned per FIXTURES.md: ISO strings →
    * timestamps, effseq → int, missing descr columns → null strings.
    */
  def entries(fixture: String): DataFrame = {
    var df = stage(fixture, "entries")
    for (c <- tsCols if df.columns.contains(c))
      df = df.withColumn(c, to_timestamp(col(c)))
    if (df.columns.contains("effseq"))
      df = df.withColumn("effseq", col("effseq").cast("int"))
    for (c <- descrCols if !df.columns.contains(c))
      df = df.withColumn(c, lit(null).cast("string"))
    df
  }

  /** A jobs-like stage (jobs / jobs_with_primary / ...) with timestamps
    * parsed; adds a `group_ord`/`out_ord` = fixture list position via
    * the JSON array order (posexplode).
    */
  def jobsStage(fixture: String, stageName: String): DataFrame = {
    val raw = spark.read.option("multiLine", true).json(s"$dir/$fixture.json")
    var df = raw.select(posexplode(col(stageName)).as(Seq("__pos", "r")))
      .select(col("__pos"), col("r.*"))
    for (c <- tsCols if df.columns.contains(c))
      df = df.withColumn(c, to_timestamp(col(c)))
    df
  }

  lazy val dims: DataFrame =
    spark.read.option("multiLine", true).json(s"$dir/dims.json")

  def deptOrg: DataFrame =
    dims.select(explode(col("dept_org")).as("r")).select("r.*")

  def jobcodes(kind: String): DataFrame = {
    val df = dims.select(explode(col(s"${kind}_jobcodes")).as("r")).select("r.*")
    if (!df.columns.contains("default_profiled_overrideable"))
      df.withColumn("default_profiled_overrideable", lit(false))
    else df
  }

  def emptyOverrideable: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("jobcode", "deptid")
  }

  def emptyOverrides: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Boolean)].toDF("jobcode", "deptid", "profiled")
  }

  /** Canonicalize a DataFrame for golden comparison: select the given
    * columns, convert to sorted string rows (null-safe).
    */
  def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .sorted.toSeq
}
