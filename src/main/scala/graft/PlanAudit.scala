package graft

/** Physical-plan audit over the whole query surface: for each query,
  * report scan pushdown (PushedFilters / ReadSchema width), join
  * strategies, shuffle (Exchange) count, and whole-stage-codegen span
  * count. Run: `sbt "runMain graft.PlanAudit [sfDir]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // AQE wraps the plan lazily and hides scan details + codegen
    // markers from toString; disable it for a static audit
    val spark = Sessions.local(
      extra = Seq("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")

    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        def count(pat: String): Int = pat.r.findAllIn(plan).length
        val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan)
          .count(!_.contains("[]"))
        val facts = Seq(
          s"exchanges=${count("Exchange ")}",
          s"bhj=${count("BroadcastHashJoin")}",
          s"smj=${count("SortMergeJoin")}",
          s"bnlj=${count("BroadcastNestedLoopJoin")}",
          // Spark 4 FormattedMode spells these "[codegen id : N]" per
          // operator and "Scan parquet" per source — the 3.x marker
          // names ("WholeStageCodegen", "FileScan parquet") never
          // appear and read as a false zero
          s"codegenOps=${count("\\[codegen id : ")}",
          s"pushedFilterScans=$pushed",
          s"scans=${count("Scan parquet")}")
        println(f"$name%-32s ${facts.mkString(" ")}")
      } catch {
        case e: Throwable =>
          println(f"$name%-32s AUDIT-ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
