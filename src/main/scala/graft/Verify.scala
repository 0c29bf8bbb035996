package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args beyond (sfDir, outDir) filter the query set — local
    // iteration convenience; the driver always passes exactly two.
    // Unknown names fail loudly BEFORE the session build: a typo'd
    // filter would otherwise write nothing and exit 0, surfacing only
    // as a confusing missing-dir (or stale-compare) in check.py.
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [query...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"Verify: unknown query names: ${unknown.toSeq.sorted.mkString(",")}")
    // a missing or mistyped sfDir would otherwise fail all 340 queries
    // one by one and still write an empty marker frame for each
    val missing = Tables.names
      .filterNot(t => Files.exists(Paths.get(s"$sfDir/$t.parquet")))
    require(missing.isEmpty,
      s"Verify: $sfDir lacks the testdata tables ${missing.mkString(",")}")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A thrown query must surface as a HARD FAILURE in the round
        // artifact, not vanish from coverage (round 10 lost ten
        // previously-green queries exactly this way). The marker frame
        // is EMPTY on purpose: zero rows + a verify_error schema fails
        // an oracled query's rows/schema/hash compare AND trips the
        // rows>0 check for rows-only queries — a one-row marker would
        // have read as a rows-only "success".
        failures += name -> e.toString
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq.empty[String].toDF("verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${m.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Sidecar for humans/tooling: which queries threw, and why.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} failed: " +
          failures.keys.mkString(","))
    spark.stop()
  }
}
