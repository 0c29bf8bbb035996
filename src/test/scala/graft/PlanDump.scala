package graft

/** Dump `.explain("formatted")` of named queries to files (round-19
  * plan-capture harness, not a test):
  *   sbt 'Test/runMain graft.PlanDump <outdir> <suffix> q1 q2 ...'
  * Uses the Bench session ([[Sessions]]) so plans match what the bench
  * runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outdir> <suffix> <queries...>")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SCRATCH_SF", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      // pre-checkpoint capture (round 20, VERDICT r19 item 7): queries
      // that return a checkpoint tail report their operative internal
      // frames through PlanSpy during construction; each spied plan
      // lands as a section of the same dump file so the exchange /
      // codegen evidence is in the plan file itself
      val sections =
        scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      PlanSpy.enable { (tag, sdf) =>
        val txt = sdf.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sections.synchronized { sections += tag -> txt }
      }
      val df = try SparkEntry.queries(name)(spark, dir)
      finally PlanSpy.disable()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val body = sections.map { case (tag, t) =>
        s"== internal frame: $tag (pre-checkpoint) ==\n$t"
      }.mkString("", "\n", "") +
        s"== returned plan ==\n$txt"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
