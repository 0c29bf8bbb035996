package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.FixtureLoader.spark

/** Round-17 additions: the CSV/JSON round-trip twins (format-fidelity
  * family with q341) and structural invariants of the whole-cycle
  * composition gate q342 (its VALUES are gated by the DuckDB twin; the
  * invariants here are the cross-table wiring facts a value hash can't
  * localize when it breaks).
  */
class Round17Spec extends AnyFunSuite {

  private val sf001 = "/root/testdata/sf0.001"

  test("q343 CSV round-trip is lossless and the read pushes its predicate") {
    val root = java.nio.file.Files
      .createTempDirectory("q343-spec").toString
    try {
      val src = Tables.lineitem(spark, sf001)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag")
      src.repartition(4).write.mode("overwrite")
        .option("header", "true").csv(s"$root/li")
      val back = spark.read
        .schema("l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE," +
          " l_extendedprice DOUBLE, l_returnflag STRING")
        .option("header", "true").csv(s"$root/li")
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      val plan = back.filter(col("l_quantity") <= 20)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("LessThanOrEqual(l_quantity,20"), plan)
    } finally TmpTrees.delete(root)
  }

  test("q344 JSON round-trip is lossless and the read pushes its predicate") {
    val root = java.nio.file.Files
      .createTempDirectory("q344-spec").toString
    try {
      val src = Tables.lineitem(spark, sf001)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag")
      src.repartition(4).write.mode("overwrite").json(s"$root/li")
      val back = spark.read
        .schema("l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE," +
          " l_extendedprice DOUBLE, l_returnflag STRING")
        .json(s"$root/li")
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      val plan = back.filter(col("l_extendedprice") >= 50000.0)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(l_extendedprice,50000"), plan)
    } finally TmpTrees.delete(root)
  }

  /** One q342 run shared by the tests below: its rows, and the task
    * count of every stage it submitted. */
  private lazy val q342Run: (Array[(String, String, String)], Seq[Int]) = {
    val sc = spark.sparkContext
    val prop = "graft.round17Spec"
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty(prop) == "q342")
          tasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(prop, "q342")
    try {
      val rows = QueriesCycle.q342RunnerCycle(spark, sf001).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      org.apache.spark.sql.graftshim.ColumnBridge.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (rows, tasks.asScala.toSeq)
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(l)
    }
  }

  test("no stage of a q342 run has more tasks than the narrowed width") {
    // serializeOutputs never coalesces below one task per core
    val width = math.max(Confs.narrow(spark, 8)._2.toInt,
      spark.sparkContext.defaultParallelism)
    val tasks = q342Run._2
    assert(tasks.nonEmpty)
    assert(tasks.max <= width, s"stage task counts: ${tasks.sorted.reverse}")
  }

  test("the serialize cut groups partitions by index, not by locality") {
    // partition i of a 10-way frame lands in output partition i % 4
    val groups = QueriesCycle.coalesceByIndex(
        spark.range(0, 10, 1, 10).toDF("id"), 4).rdd
      .mapPartitionsWithIndex((g, it) => it.map(r => (g, r.getLong(0))))
      .collect().groupBy(_._1)
      .map { case (g, xs) => g -> xs.map(_._2).sorted.toSeq }
    assert(groups ==
      (0 until 4).map(g => g -> (g.toLong until 10L by 4L)).toMap)
  }

  test("q342 cycle output holds its cross-table wiring invariants") {
    val rows = q342Run._1
    def of(t: String) = rows.filter(_._1 == t)
    val nCust = Tables.customer(spark, sf001).count()
    val n23 = Tables.customer(spark, sf001)
      .filter(col("c_nationkey") === 23).count()
    // the seed-derived branch salt (r18): the skip classes ride nk+cS
    val (cS, _) = QueriesCycle.salts(spark, sf001)
    val freshNations = (0 to 24).filter(n => (n + cS) % 7 != 3)

    // org side: fresh nations ((nk+cS)%7 != 3) + 5 regions + 5 externals
    assert(of("org").length == freshNations.size + 5 + 5)
    // fresh deptid claims exclude the stale nations and dept 23
    assert(of("deptorg").map(_._2).sorted.toSeq ==
      freshNations.filter(_ != 23).map(_.toString).sorted)
    // every pubperson/pubpersonorg/pubcollab row hangs off an emitted pub
    val pubUuids = of("pub").map(_._3.split('|')(0)).toSet
    Seq("pubperson", "pubpersonorg", "pubcollab").foreach { t =>
      assert(of(t).forall(r => pubUuids.contains(r._2.split('/')(0))), t)
    }
    // every pubperson's person uuid is an emitted person or a dim row
    val personUuids = of("person").map(_._3.split('|')(0)).toSet
    assert(of("pubperson").forall { r =>
      val p = r._2.split('/')(1)
      personUuids.contains(p) || p.startsWith("dbu")
    })
    // HR side: exactly the customers outside dept 23, one job each
    assert(of("persondata").length == nCust - n23)
    assert(of("soa").length == nCust - n23)
    // error channel: two records per dept-23 occurrence + one no-job,
    // and the dept-level record carries the eligible-person count
    assert(of("err").count(_._2 == "ExpertsEtlUnknownDept") == n23)
    assert(of("err").count(_._2 == "ExpertsEtlPersonNoJobData") == n23)
    assert(of("err").filter(_._2 == "ExpertsEtlUnknownDept")
      .forall(_._3.split('|')(7) == n23.toString))
    // skip reasons stay within the declared vocabulary
    val reasons = of("skip").map(_._3).toSet
    assert(reasons.subsetOf(Set("stale", "missing_emplid",
      "missing_pure_id", "org_not_in_edw", "missing_job_description",
      "owner_org_not_in_edw", "person_not_in_edw",
      "person_missing_pure_uuid", "null_modified")))
  }

  test("q345 second cycle holds its cross-cycle invariants") {
    val rows = QueriesCycle.q345SecondCycle(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def of(t: String) = rows.filter(_._1 == t)
    val s3 = Tables.customer(spark, sf001)
      .filter(col("c_custkey") % 3 === 0)
    val nS = s3.count()
    val n23 = s3.filter(col("c_nationkey") === 23).count()
    val (cS, _) = QueriesCycle.salts(spark, sf001)
    val evenNations = (0 to 24).filter(n => (n + cS) % 2 == 0)
    // only the even-(nk+cS) re-sends shred in cycle 2, with v2 names
    // and the cycle-2 timestamp
    assert(of("org").length == evenNations.size)
    assert(of("org").forall(r => r._3.contains(" v2|") &&
      r._3.endsWith("2021-06-01 00:00:00")))
    // deptid claims now cover ALL re-sent depts — including nations
    // whose cycle-1 docs were stale, but never dept 23 (its org doc
    // carries no peoplesoft deptid claim)
    assert(of("deptorg").map(_._2).sorted.toSeq ==
      evenNations.filter(_ != 23).map(_.toString).sorted)
    // HR org ids flipped to the cycle-2 dim merge: re-sent ORG,
    // others DIM
    assert(of("soa").forall { r =>
      val org = r._3.split('|')(4)
      org.startsWith("ORG") == ((org.drop(3).toInt + cS) % 2 == 0)
    })
    // persons: only even-(c+cS) re-sends are fresh; every emitted
    // person carries the v2 content and a cycle-1-consistent uuid
    assert(of("person").filter(_._2.startsWith("p"))
      .forall(r => (r._2.drop(1).toInt + cS) % 2 == 0 &&
        r._3.contains("v2|")))
    // odd re-deliveries of cycle-1-shredded docs skip as stale
    assert(of("skip").exists(_._3 == "stale"))
    // HR side unchanged by the CDC re-sends
    assert(of("persondata").length == nS - n23)
  }

  test("the cycle's mat hook is semantics-free (identity ≡ checkpoint)") {
    def canon(mat: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Seq[String] =
      QueriesCycle.cycleRows(spark, sf001, mat).collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
        .sorted.toSeq
    assert(canon(identity) == canon(_.localCheckpoint()))
  }

  test("q345's mat hook is semantics-free on the second-cycle path too") {
    // cycle 1 pinned checkpointed on both sides (identity there makes
    // the 14-way serialization union re-expand the chained two-cycle
    // lineage and the test runs for tens of minutes — see
    // secondCycleSplit); cycle 2 + the cross-cycle handoff run under
    // both hooks
    def canon(mat2: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Seq[String] =
      QueriesCycle.secondCycleSplit(spark, sf001, _.localCheckpoint(),
          mat2).collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
        .sorted.toSeq
    assert(canon(identity) == canon(_.localCheckpoint()))
  }
}
