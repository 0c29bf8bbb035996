package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.streaming.StreamRun
import graft.operators.Relational

/** Core relational query surface — one named query per operator family of
  * SURVEY.md §2 (scans P*, joins J*, aggregations A*, windows W*, set ops
  * SO*, dedup D*, election F-ELECT), expressed over the driver testdata
  * star schema with a DuckDB oracle each.
  *
  * Determinism rules shared by all queries (oracle hash parity):
  *  - money/quantity sums go through decimal(18,2) (associative) and back
  *    to double — see [[Fns.exactSum]];
  *  - every output is explicitly ordered by its key columns;
  *  - timestamps are output as timestamp_ntz (naive, µs) to match
  *    DuckDB's TIMESTAMP in the driver's pandas compare;
  *  - window ranks are made total with explicit tie-break columns.
  */
object QueriesCore {
  type Q = (SparkSession, String) => DataFrame

  /** A1/A4-family — TPC-H Q1-shaped pricing summary (grouped aggregates,
    * partial aggregation map-side; one shuffle on the two group keys).
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        Fns.exactSum(col("l_quantity")).as("sum_qty"),
        Fns.exactSum(col("l_extendedprice")).as("sum_base_price"),
        // product of two 2-decimal doubles is an exact 4-decimal number:
        // decimal(18,4) casts identically on Spark and DuckDB, while
        // (18,2) would sit exactly on .005 boundaries and round apart
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        Fns.exactAvg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** P1/P2/P5/P6 — predicate + projection; both reach the parquet scan
    * (PushedFilters / ReadSchema in explain).
    */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 45 && col("l_discount") > 0.05 &&
        col("l_shipdate").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate").cast("date").cast("timestamp_ntz").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P3/P4 — IN / NOT-IN list predicates + grouped rollup. */
  def q03InList(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderstatus").isin("O", "F") &&
        !col("o_orderpriority").isin("1-URGENT"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        Fns.exactSum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")

  /** J1/J2 — broadcast dimension join (dim `part` is small → broadcast;
    * no shuffle of the fact side at any scale).
    */
  def q04BroadcastDimJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("p_brand")

  /** J4/W6/A1 — latest record per key via single window pass. */
  def q05LatestOrderPerCustomer(s: SparkSession, dir: String): DataFrame =
    Relational.latestPerKey(Tables.orders(s, dir), Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").cast("timestamp_ntz").as("order_date"))
      .orderBy("o_custkey")

  /** J6 — existence probe as left-semi join (no row widening). */
  def q06SemiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** J7 — NOT EXISTS as left-anti join. */
  def q07AntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** SO1 — set MINUS (deduplicating EXCEPT). */
  def q08ExceptDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** A8/SO5 — multiset difference (EXCEPT ALL), folded to counts. */
  def q09ExceptAll(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(col("l_orderkey").as("okey"))
      .exceptAll(Tables.orders(s, dir).select(col("o_orderkey").as("okey")))
      .groupBy("okey").agg(count(lit(1)).as("n"))
      .orderBy("okey")

  /** SO6 — union of heterogeneous sources with a tag column. */
  def q10UnionTagged(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"),
      lit("customer").as("src"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey").as("id"),
      col("s_name").as("name"), col("s_acctbal").as("acctbal"),
      lit("supplier").as("src"))
    c.unionByName(sup).orderBy("src", "id")
  }

  /** W4 — lead/lag neighborhood within a partition. */
  def q11LeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").cast("timestamp_ntz").as("order_date"),
        lead(col("o_orderdate"), 1).over(w).cast("date").cast("timestamp_ntz").as("next_order_date"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** W2 — run-length sessionization of the event stream (new session when
    * event_type changes vs previous row per user), folded to per-session
    * stats. Reference `group_entries` employee_job.py:205-231.
    */
  def q12Sessionize(s: SparkSession, dir: String): DataFrame =
    Relational.sessionize(Tables.events(s, dir), Seq("user_id"),
        Seq(col("ts"), col("event_id")), Seq("event_type"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).cast("timestamp_ntz").as("ts_start"),
        max(col("ts")).cast("timestamp_ntz").as("ts_end"))
      .orderBy("user_id", "session_id")

  /** F-ELECT — deterministic priority election: one primary order per
    * customer via score cascade + total tie-break (reference
    * `transform_primary_job` oit_to_edw/person.py:319-459).
    */
  def q13ElectPrimary(s: SparkSession, dir: String): DataFrame = {
    val priority = when(col("o_orderstatus") === "O", 1)
      .when(col("o_orderstatus") === "P", 2).otherwise(3)
    Relational.electPrimary(Tables.orders(s, dir), Seq("o_custkey"),
        priority, Seq(col("o_orderdate").asc, col("o_orderkey").asc))
      .filter(col("is_primary"))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderstatus").as("status"))
      .orderBy("o_custkey")
  }

  /** D5 — keep-one-with-preference via map-side max_by (no window). */
  def q14KeepOnePreferred(s: SparkSession, dir: String): DataFrame =
    Relational.keepOnePreferred(Tables.orders(s, dir), Seq("o_custkey"),
        struct(col("o_totalprice"), (lit(0) - col("o_orderkey")).as("nk")))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey")

  /** D1/A9 — distinct projection. */
  def q15Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")

  /** SO4 — symmetric difference of keyed sets with a side tag. */
  def q16SymmetricDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    Relational.symmetricDiff(
        o.filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("custkey")),
        o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey")),
        Seq("custkey"))
      .orderBy("side", "custkey")
  }

  /** W9 — latest not-null record per key. */
  def q17LatestNotNull(s: SparkSession, dir: String): DataFrame =
    Relational.latestPerKey(
        Tables.events(s, dir)
          .filter(col("value").isNotNull && col("props").isNotNull),
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy("user_id")

  /** F12/A7 — stable content-addressed error id + occurrence rollup
    * (reference umn_data_error.py:209-233; md5 here for cross-engine
    * parity, sha1 in the library).
    */
  def q18ErrorRollup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).filter(col("event_type") === "error")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("ts")).cast("timestamp_ntz").as("last_seen"))
      .select(md5(col("event_type")).as("error_id"), col("event_type"),
        col("n"), col("last_seen"))
      .orderBy("error_id")

  /** F1/F4 — multi-format date parsing + precision encoding (reference
    * transformers.py:8-29, pure_api_pub.py:48-62). Date strings of three
    * shapes are derived deterministically from o_orderkey mod 3.
    */
  def q19MultiFormatDates(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val raw = when(pmod(col("o_orderkey"), lit(3)) === 0,
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .when(pmod(col("o_orderkey"), lit(3)) === 1,
        date_format(col("o_orderdate"), "yyyy-MM"))
      .otherwise(date_format(col("o_orderdate"), "yyyy"))
    o.select(col("o_orderkey"), raw.as("raw_date"),
        Fns.multiFormatTs(raw).cast("timestamp_ntz").as("parsed_ts"),
        Fns.datePrecision(raw).as("precision"))
      .orderBy("o_orderkey")
  }

  /** J12 — iterative parent-pointer tree closure (region→nation modeled
    * as a 2-level tree; the op loops to a fixpoint, so deeper trees work
    * unchanged). Reference org DFS pure_api_internal_org.py:117-134.
    */
  def q20TreeClosure(s: SparkSession, dir: String): DataFrame = {
    val roots = Tables.region(s, dir).select(
      concat(lit("r"), col("r_regionkey").cast("string")).as("id"),
      lit(null).cast("string").as("parent_id"))
    val children = Tables.nation(s, dir).select(
      concat(lit("n"), col("n_nationkey").cast("string")).as("id"),
      concat(lit("r"), col("n_regionkey").cast("string")).as("parent_id"))
    Relational.treeClosure(roots.unionByName(children))
      .orderBy("id")
  }

  /** F5/F9/F15/F19-family — scalar string derivations in one pass. */
  def q21ScalarSuite(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
        col("c_custkey"),
        concat(lower(regexp_replace(col("c_name"), "[^a-zA-Z0-9]+", ".")),
          lit("@example.com")).as("email"),
        Fns.normalizeToken(col("c_name")).as("norm_name"),
        Fns.ynFlag(col("c_acctbal") > 0).as("pos_bal"),
        length(col("c_name")).as("name_len"),
        Fns.firstNameWithMi(col("c_name"), col("c_mktsegment")).as("tagged_name"))
      .orderBy("c_custkey")

  /** Beyond-reference: ROLLUP over the region→nation→customer hierarchy
    * (free via Catalyst; the reference has no grouping sets).
    */
  def q22Rollup(s: SparkSession, dir: String): DataFrame = {
    // via spark.sql (S2 surface): the DataFrame rollup + orderBy on the
    // grouping key trips Spark 4's ambiguous-self-join check; SQL ROLLUP
    // resolves cleanly and plans identically (Expand + hash agg).
    Tables.orders(s, dir).createOrReplaceTempView("v_orders")
    Tables.customer(s, dir).createOrReplaceTempView("v_customer")
    Tables.nation(s, dir).createOrReplaceTempView("v_nation")
    s.sql("""
      SELECT n_name, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM v_orders
      JOIN v_customer ON o_custkey = c_custkey
      JOIN v_nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP(n_name)
      ORDER BY n_name ASC NULLS FIRST""")
  }

  /** A9 + exact distinct count (approx_count_distinct is available but
    * not oracle-stable across engines).
    */
  def q23DistinctCount(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag")

  /** W3 — stint splitting with truncation (reference
    * `split_entries_into_stints` affiliate_job.py:111-147): stints
    * restart at inactive→active transitions; everything after the first
    * truncation row is dropped.
    */
  def q24Stints(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .withColumn("active", col("event_type") =!= "error")
      .withColumn("trunc", col("event_type") === "purchase" && col("value") > 450)
    Relational.splitStints(base, Seq("user_id"),
        Seq(col("ts"), col("event_id")), col("active"), col("trunc"))
      .select(col("user_id"), col("event_id"), col("stint_id"))
      .orderBy("user_id", "event_id")
  }

  /** S6-family — JSON shredding of the raw props document column with an
    * explicit schema (reference from_json of Pure docs,
    * transformer_loaders/pure_api_pub.py:161-165).
    */
  def q25JsonShred(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
      .orderBy("event_id")

  /** P8/A2 — freshness guard: keep only (user, event) rows at the max
    * observed "version" (value proxy) per user (reference
    * same_or_newer_db_change_exists pure_api_changes.py:49-64).
    */
  def q26FreshnessGuard(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val maxPerUser = ev.groupBy(col("user_id"))
      .agg(max(col("value")).as("max_value"))
    ev.join(maxPerUser, "user_id")
      .filter(col("value") === col("max_value"))
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy("user_id", "event_id")
  }

  /** SO2/SO3-family snapshot diff: orders later than a cutoff whose
    * (custkey fullrow) differs from the latest pre-cutoff order per
    * customer — the reference's "changed records vs latest history"
    * MINUS (oit_to_edw/person.py:144-186).
    */
  def q27SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_orderdate"), col("o_orderkey"))
    val cutoff = lit("1996-01-01").cast("timestamp")
    val current = Relational.latestPerKey(
      o.filter(col("o_orderdate") >= cutoff), Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select("o_custkey", "o_orderstatus", "o_orderpriority")
    val history = o.filter(col("o_orderdate") < cutoff)
    val changed = Relational.snapshotDiff(
      current, history, Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc),
      compareCols = Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    changed.orderBy("o_custkey", "o_orderstatus", "o_orderpriority")
  }

  /** W2-family frame spec (rows unbounded preceding): running order
    * total per customer — decimal-path prefix sums are deterministic at
    * any partitioning (associative), unlike raw double running sums.
    */
  def q28RunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** As-of join ([[Relational.asOfJoin]]): each purchase event picks up
    * the latest signup event at or before it for the same user —
    * oracle-checked against DuckDB's native ASOF JOIN. The right side
    * is first reduced to unique (user, ts) rows so both engines face a
    * tie-free as-of lookup.
    */
  def q29AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("signup_event_id"))
    Relational.asOfJoin(purchases, signups, Seq("user_id"), "ts", "ts",
        Seq("signup_event_id"))
      .select(col("user_id"), col("event_id"),
        col("asof_signup_event_id"))
      .orderBy("user_id", "event_id")
  }

  /** C8-family pivot: one column per event type with per-user counts
    * (explicit value list keeps the output schema deterministic).
    */
  def q2aPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  /** A7 — cross-run error accumulation ([[graft.operators.Errors]];
    * reference umn_data_error.py:209-233 find_or_create). Error events
    * split into two "daemon cycles" at Jan 15; cycle 1 bootstraps the
    * accumulated table and is marked reported, cycle 2 merges on top.
    * Exercises: content-addressed identity, count accumulation,
    * first_seen permanence, last_seen movement, reported survival.
    */
  def q43ErrorAccumulate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Errors
    val t1 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val errs = Tables.events(s, dir).filter(col("event_type") === "error")
    def channel(df: DataFrame): DataFrame = df.select(
      col("user_id").cast("string").as("emplid"),
      lit("no_job_data").as("error_type"),
      lit(null).cast("string").as("jobcode"),
      lit(null).cast("string").as("jobcode_descr"),
      lit(null).cast("string").as("deptid"),
      lit(null).cast("string").as("deptid_descr"),
      lit(null).cast("string").as("um_college"),
      lit(null).cast("string").as("um_college_descr"),
      lit(null).cast("string").as("um_campus"),
      lit(null).cast("string").as("um_campus_descr"))
    val eligible = channel(errs).select(col("emplid"), col("deptid")).limit(0)
    val run1 = Errors.errorRecords(channel(errs.filter(col("ts") < lit(t1))),
      eligible)
    val run2 = Errors.errorRecords(channel(errs.filter(col("ts") >= lit(t1))),
      eligible)
    val cycle1 = Errors.markReported(Errors.firstRun(run1, t1))
    Errors.accumulate(cycle1, run2, t2)
      .select(col("emplid").cast("long").as("user_id"),
        col("count").as("n"),
        col("first_seen").cast("timestamp_ntz").as("first_seen"),
        col("last_seen").cast("timestamp_ntz").as("last_seen"),
        col("reported"))
      .orderBy("user_id")
  }

  /** J12/MPTT — nested-set labels recomputed from parent pointers
    * ([[Relational.mpttLabels]]; reference pure_api_internal_org.py:
    * 136-192 mutates lft/rgt incrementally, we rebuild declaratively).
    * Three-level forest: region → nation → supplier, five roots.
    */
  def q44MpttLabels(s: SparkSession, dir: String): DataFrame = {
    val roots = Tables.region(s, dir).select(
      concat(lit("r"), col("r_regionkey").cast("string")).as("id"),
      lit(null).cast("string").as("parent_id"))
    val nations = Tables.nation(s, dir).select(
      concat(lit("n"), col("n_nationkey").cast("string")).as("id"),
      concat(lit("r"), col("n_regionkey").cast("string")).as("parent_id"))
    val sups = Tables.supplier(s, dir).select(
      concat(lit("s"), col("s_suppkey").cast("string")).as("id"),
      concat(lit("n"), col("s_nationkey").cast("string")).as("parent_id"))
    Relational.mpttLabels(roots.unionByName(nations).unionByName(sups))
      .select(col("id"), col("root_id"), col("depth").cast("int").as("depth"),
        col("preorder").cast("bigint").as("preorder"),
        col("n_desc").cast("bigint").as("n_desc"),
        col("lft"), col("rgt"))
      .orderBy("id")
  }

  /** Shared inputs of the q45/q45b/q71 skew family — skew is PLANTED:
    * every 4th orderkey collapses onto key 0, so ~25% of lineitem
    * lands on one key while the long tail stays uniform. One
    * definition so the three queries (and their single shared oracle)
    * can never drift apart. Returns (facts, dim-aggregated).
    */
  private def skewedJoinInputs(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def collapse(c: Column): Column =
      when(pmod(c, lit(4)) === 0, lit(0L)).otherwise(c)
    val li = Tables.lineitem(s, dir)
      .select(collapse(col("l_orderkey")).as("k"), col("l_quantity"))
    val o = Tables.orders(s, dir)
      .select(collapse(col("o_orderkey")).as("k"), col("o_orderpriority"))
      .groupBy("k")
      .agg(min(col("o_orderpriority")).as("priority"),
        count(lit(1)).as("n_orders"))
    (li, o)
  }

  /** Shared aggregation/ordering tail of the skew family. */
  private def skewedJoinResult(joined: DataFrame): DataFrame =
    joined.groupBy("k", "priority", "n_orders")
      .agg(Fns.exactSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("k")

  /** Skew-salted join ([[graft.operators.Scale.saltedJoinSkewAware]]):
    * result must equal the PLAIN inner join — the oracle is exactly
    * that, making the hot-key detection + split + salt/explode/union
    * plumbing oracle-checked rather than only plan-asserted. The hot
    * path is salted 8×; the long tail joins plain — the
    * blanket-salting variant ([[graft.operators.Scale.saltedJoin]])
    * would replicate the whole right side 8× for the same answer.
    */
  def q45SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val (li, o) = skewedJoinInputs(s, dir)
    // threshold 500: key 0 carries ~25% of lineitem (≥1500 rows at the
    // smallest sf), every natural orderkey ≤ 7 rows — unambiguous at
    // any scale factor
    skewedJoinResult(graft.operators.Scale.saltedJoinSkewAware(li, o,
      Seq("k"), saltFactor = 8, hotKeyThreshold = 500))
  }

  /** The CALLER-SUPPLIED hot-key overload of
    * [[graft.operators.Scale.saltedJoinSkewAware]] as a declared query
    * — q45's shape minus the counting pass: the planted hot key (0,
    * carrying ~25% of lineitem) is handed in as a precomputed
    * single-row frame, the 100 TB posture where hot keys are known
    * upfront (or sampled once) and reused across every join of a
    * batch. The oracle is the identical plain inner join, so the
    * split/salt/explode/union plumbing of the no-counting path is
    * oracle-checked end-to-end, not just ScaleSpec-tested.
    */
  def q45bSaltedJoinHotkeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (li, o) = skewedJoinInputs(s, dir)
    val hotKeys = Seq(0L).toDF("k")
    skewedJoinResult(graft.operators.Scale.saltedJoinSkewAware(li, o,
      Seq("k"), saltFactor = 8, hotKeys))
  }

  /** The UNSALTED control for q45/q45b: the identical skewed join left
    * entirely to Spark. Same oracle as q45 by definition. At bench
    * scale (sf0.1) the aggregated dim side is a few MB, so AQE plans a
    * BROADCAST join and the skew never materializes — which is itself
    * the honest lesson: salting only matters in the regime where the
    * right side is too big to broadcast AND a partition exceeds
    * spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes
    * (256 MB default — far above anything at sf0.1). BENCH_r*'s
    * q45/q45b/q71 numbers therefore compare detected-hot-key salting,
    * known-hot-key salting, and let-Spark-plan-it; they do NOT
    * measure AQE's skew SPLITTING, which needs the 100 TB regime (or
    * lowered thresholds) to engage.
    */
  def q71PlainJoinAqe(s: SparkSession, dir: String): DataFrame = {
    val (li, o) = skewedJoinInputs(s, dir)
    skewedJoinResult(li.join(o, Seq("k")))
  }

  /** AQE skew-SPLITTING actually exercised — the measurement q71's
    * scaladoc records as missing: at sf0.1 the dim side broadcasts and
    * the default 256 MB skewedPartitionThreshold never trips, so the
    * q45/q45b/q71 family never demonstrates the regime where Spark's
    * own skew handling engages. Here broadcast is disabled and the
    * skew thresholds are lowered to bench scale, so the planted hot
    * key (0, ~25% of lineitem) forces a sort-merge join whose skewed
    * partition AQE splits (`OptimizeSkewedJoin`; AqeSkewSpec asserts
    * `skew=true` appears in the final adaptive plan and that the split
    * produced more tasks than partitions). Same oracle as q45/q71 —
    * skew splitting must not change the answer.
    *
    * The thresholds are SESSION confs, so they must hold at EXECUTION
    * time, not plan-build time: the frame is executed eagerly under
    * the lowered confs (localCheckpoint) and the confs restored in a
    * finally — a lazily-returned plan would run after restoration,
    * quietly measuring the broadcast plan instead. At 100 TB none of
    * this staging exists: partitions genuinely exceed 256 MB and the
    * same defaults engage unmodified.
    */
  def q73SkewSplitJoin(s: SparkSession, dir: String): DataFrame =
    withSkewSplitConfs(s) {
      skewedJoinResult(skewSplitJoined(s, dir)).localCheckpoint(true)
    }

  /** The join q73 measures, shared with AqeSkewSpec so the spec's
    * skew-split assertion covers exactly the declared query's shape.
    *
    * `OptimizeSkewedJoin` only matches a sort-merge join whose inputs
    * are BARE shuffle reads under the sorts. Left side: the fact scan
    * shuffles on k — bare. Right side: the aggregate's own exchange
    * doubles as the join's (EnsureRequirements reuses hash(k)
    * partitioning), leaving the final HashAggregate BETWEEN shuffle
    * and join — the rule never fires and the skew silently survives
    * (and a plain `repartition(k)` is absorbed as the aggregate's
    * exchange, changing nothing). So the dim is deliberately
    * partitioned on (k, priority) — the realistic shape where a dim
    * arrives partitioned by an upstream pipeline's keys — forcing
    * EnsureRequirements to insert a fresh bare exchange on k directly
    * under the join, which makes the rule's pattern match and the hot
    * fact partition splittable. The extra exchange moves only the
    * aggregated dim (one row per key), a negligible price.
    */
  private[graft] def skewSplitJoined(s: SparkSession, dir: String): DataFrame = {
    val (li, o) = skewedJoinInputs(s, dir)
    // AQE splits a skewed reduce partition by regrouping MAP-index
    // ranges, so a hot partition fed by a single mapper is atomic: the
    // bench parquet is one ~1 MB file = ONE map task, and the rule
    // has nothing to split (measured: stage stats [84,164,84,84] KB,
    // skew detected, no split possible). A 100 TB fact table has
    // thousands of mappers; the round-robin repartition emulates that
    // input parallelism locally so the split path actually executes.
    li.repartition(16).join(o.repartition(col("k"), col("priority")), Seq("k"))
  }

  /** Lower AQE skew thresholds to bench scale + disable broadcast, run
    * `body`, restore every touched conf (set-or-unset faithfully).
    * Shared with AqeSkewSpec so the spec asserts against exactly the
    * confs the declared query runs under. Scoped by [[Confs.scoped]]
    * (see its single-threaded contract).
    */
  def withSkewSplitConfs[T](s: SparkSession)(body: => T): T =
    Confs.scoped(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // key 0 carries ~25% of lineitem. Sizes here are COMPRESSED
      // shuffle bytes (lz4 on two numeric columns, several× smaller
      // than raw): at sf0.01 the hot reduce partition lands in the
      // tens of KB, so the thresholds sit at 16 KB/8 KB to clear it
      // by a wide margin while the uniform tail stays under
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      // 1.2, not the default 5: shuffle compression shrinks the
      // constant-key hot rows far below the distinct-key tail's
      // bytes/row, so the hot partition measures ~1.5× median in
      // BYTES even though it is ~9× in ROWS (measured 22.1 KB vs
      // 14.7 KB median at sf0.01/32 partitions); 1.2 trips it with
      // margin while every uniform partition stays ≥20% under
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      // the skew FACTOR compares hot vs MEDIAN partition: with few
      // shuffle partitions the uniform tail piles thousands of rows
      // into every partition and the hot key adds barely 2× (measured
      // [86,101,86,90] KB at 4 partitions — ratio 1.15, no trip). 32
      // partitions spread the tail thin so the hot partition stands
      // ~9× over median — the shape a 100 TB shuffle actually has
      "spark.sql.shuffle.partitions" -> "32")(body)

  /** Deterministic 80/10/10 train/val/test split by content hash
    * ([[graft.operators.Scale.hashSplit]]) — reproducible across runs,
    * engines, and partitionings, unlike rand()-based sampling. The
    * oracle recomputes the identical md5-prefix bucket in DuckDB.
    */
  /** EXACT stratified sample ([[graft.operators.Scale
    * .stratifiedSampleExact]]): precisely ceil(10% · |stratum|) orders
    * per priority class, selected deterministically by md5 order —
    * the exact-row-budget guarantee q63's rate filter approximates.
    * The DuckDB oracle recomputes the identical md5 ranking and
    * per-stratum quotas.
    */
  def q76StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.stratifiedSampleExact(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        "o_orderpriority", "o_orderkey", pct = 10)
      .orderBy("o_orderkey")

  def q51HashSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.hashSplit(
        Tables.orders(s, dir).select("o_orderkey"), "o_orderkey",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .orderBy("o_orderkey")

  /** S8 — the XML person serialization surface
    * ([[graft.sources.XmlSync.renderPerson]], reference
    * `templates/person.xml.j2:1-61`) as a first-class ORACLE-CHECKED
    * query: persons derive from `customer`, their ordered staff
    * associations from `orders`, and every row renders through the
    * REAL `renderPerson` path. The DuckDB oracle rebuilds the
    * identical document with string concatenation + `string_agg`, so
    * escaping (all five entities, planted in names/descriptions),
    * conditional blocks, dd-MM-yyyy period dates, and job ordering
    * are hash-checked — previously S8 rested on XSD + ScalaTest
    * alone. Conditional coverage is planted: postnominal on
    * custkey%3=0, internet_id absent on custkey%5=0, email on even
    * orderkeys, endDate only for 'F' orders, and customers with no
    * orders render an empty associations block.
    *
    * Scale shape: one shuffle to group jobs per person
    * (`collect_list` of a slim struct), broadcast-free render in a
    * distributed `map` — the reference renders row-at-a-time on one
    * core (`edw_to_pure/person.py:33-47`).
    */
  def q57PersonXml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val persons = Tables.customer(s, dir).select(
      col("c_custkey").as("k"),
      concat(lit("P"), col("c_custkey").cast("string")).as("person_id"),
      col("c_custkey").cast("string").as("emplid"),
      col("c_mktsegment").as("first_name"),
      concat(col("c_name"), lit(" \"q\"'")).as("last_name"),
      when(pmod(col("c_custkey"), lit(3)) === 0, lit("Dr<&>"))
        .otherwise(lit(null).cast("string")).as("postnominal"),
      when(pmod(col("c_custkey"), lit(5)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("u"), col("c_custkey").cast("string")))
        .as("internet_id"),
      when(pmod(col("c_custkey"), lit(2)) === 0, lit("Public"))
        .otherwise(lit("Restricted")).as("visibility"),
      when(pmod(col("c_custkey"), lit(4)) === 0, lit("true"))
        .otherwise(lit("false")).as("profiled"))
    val jobs = Tables.orders(s, dir)
      .withColumn("min_ok",
        min(col("o_orderkey")).over(Window.partitionBy(col("o_custkey"))))
      .select(col("o_custkey").as("k"), struct(
        col("o_orderkey").as("sort_key"),
        col("o_orderkey").cast("string").as("staff_org_association_id"),
        col("o_orderpriority").as("affiliation_id"),
        when(pmod(col("o_orderkey"), lit(2)) === 0,
          concat(lit("e"), col("o_orderkey").cast("string"), lit("@umn.edu")))
          .otherwise(lit(null).cast("string")).as("email_address"),
        col("o_orderstatus").as("employment_type"),
        when(col("o_orderkey") === col("min_ok"), lit("true"))
          .otherwise(lit("false")).as("primary_association"),
        concat(lit("ORG"), pmod(col("o_custkey"), lit(50)).cast("string"))
          .as("org_id"),
        col("o_orderdate").cast("timestamp").as("period_start_date"),
        when(col("o_orderstatus") === "F",
          (col("o_orderdate") + expr("INTERVAL 30 DAY")).cast("timestamp"))
          .otherwise(lit(null).cast("timestamp")).as("period_end_date"),
        lower(substring(col("o_orderpriority"), 3, 100)).as("staff_type"),
        concat(lit("Desc <"), col("o_orderpriority"), lit("> & more"))
          .as("job_description")).as("job"))
      .groupBy("k").agg(collect_list(col("job")).as("jobs"))
    val rendered = persons.join(jobs, Seq("k"), "left")
      .map { r =>
        val js =
          (if (r.isNullAt(r.fieldIndex("jobs"))) Seq.empty[Row]
           else r.getAs[scala.collection.Seq[Row]]("jobs").toSeq)
            .sortBy(_.getAs[Long]("sort_key"))
        (r.getAs[String]("person_id"), graft.sources.XmlSync.renderPerson(r, js))
      }.toDF("person_id", "xml")
    // materialize before the global sort: orderBy's range partitioner
    // SAMPLES its input first, which would execute the whole render
    // pipeline twice (measured: 2× the query cost at sf0.1)
    rendered.localCheckpoint().orderBy("person_id")
  }

  /** S8, completed — the organisation and user XML templates as
    * ORACLE-CHECKED queries, exactly as q57 did for the person
    * template: orgs derive from `part`, users from `customer`, and
    * every row renders through the REAL
    * [[graft.sources.XmlSync.renderOrganisationsXml]] /
    * [[graft.sources.XmlSync.renderUser]] paths. The DuckDB oracle
    * rebuilds both documents with string concatenation, so escaping,
    * every conditional/loop section of the largest reference template
    * (`templates/organisation.xml.j2:1-128`), ISO org dates (unlike
    * the person template's dd-MM-yyyy), and the CDATA "]]>"
    * split-escape are hash-checked. Coverage is planted per section:
    * nameVariants on partkey%2=0 (a second variant on %4=0),
    * profileInfos with a raw "]]> <raw> &" payload on %3=0, photos
    * %5=0, phoneNumbers %7=0, emails on odd keys, webAddresses %11=0
    * (value embeds `&`/`<`), addresses %13=0 (nullable street /
    * subdivision inside), ids always (two on even keys); endDate only
    * on %6=0, parentOrganisationId absent on %10=0
    * (`templates/user.xml.j2:1-10` gets planted escapes in user_name /
    * email / last_name). The org doc_id is regexp-extracted BACK from
    * the rendered document, so id placement is itself checked.
    *
    * Scale shape: both renders are distributed maps over
    * pre-partitioned rows (no driver loop, no collect); the
    * `localCheckpoint` only pins the render result so the final
    * oracle-ordering sort's sampling pass doesn't execute it twice
    * (same rationale as q57).
    */
  def q64OrgUserXml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = col("p_partkey")
    def tv(t: String, v: Column): Column =
      struct(lit(t).as("type"), v.as("value"))
    val start = date_add(lit(java.sql.Date.valueOf("1994-01-01")),
      pmod(k, lit(1000)).cast("int"))
    val orgs = Tables.part(s, dir).select(
      concat(lit("G"), k.cast("string")).as("organisation_id"),
      col("p_type").as("type"),
      concat(col("p_name"), lit(" <&> \"x'")).as("name"),
      start.as("start_date"),
      when(pmod(k, lit(6)) === 0, date_add(start, 180))
        .otherwise(lit(null).cast("date")).as("end_date"),
      when(pmod(k, lit(2)) === 0, lit("Public"))
        .otherwise(lit("Restricted")).as("visibility"),
      when(pmod(k, lit(10)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("G"), floor(k / 10).cast("string")))
        .as("parent_organisation_id"),
      // array_compact drops the null branches of the unsatisfied
      // `when`s, so each modulo plants a 0/1/2-element collection
      array_compact(array(
        when(pmod(k, lit(2)) === 0,
          tv("acronym", concat(lit("NV<"), col("p_brand"), lit(">")))),
        when(pmod(k, lit(4)) === 0,
          tv("former", concat(col("p_brand"), lit(" & older"))))))
        .as("name_variants"),
      array_compact(array(
        when(pmod(k, lit(3)) === 0,
          tv("overview", concat(col("p_name"), lit(" ]]> <raw> & stuff"))))))
        .as("profile_infos"),
      array_compact(array(
        when(pmod(k, lit(5)) === 0,
          tv("logo", concat(lit("http://img/"), k.cast("string"))))))
        .as("photos"),
      array_compact(array(
        when(pmod(k, lit(7)) === 0,
          tv("office", concat(lit("+1-612-"), k.cast("string"))))))
        .as("phone_numbers"),
      array_compact(array(
        when(pmod(k, lit(2)) === 1,
          tv("work", concat(lit("org"), k.cast("string"), lit("@umn.edu"))))))
        .as("emails"),
      array_compact(array(
        when(pmod(k, lit(11)) === 0,
          tv("home", concat(lit("http://w/"), k.cast("string"),
            lit("?a=1&b=<2>"))))))
        .as("web_addresses"),
      array_compact(array(
        when(pmod(k, lit(13)) === 0, struct(
          lit("postal").as("type"),
          lit("Minneapolis \"MN\"").as("city"),
          concat(lit("554"), pmod(k, lit(100)).cast("string"))
            .as("postalcode"),
          when(pmod(k, lit(26)) === 0, lit(null).cast("string"))
            .otherwise(lit("123 <Oak> St")).as("street"),
          lit(null).cast("string").as("building"),
          lit("US & A").as("country"),
          when(pmod(k, lit(39)) === 0, lit("Hennepin"))
            .otherwise(lit(null).cast("string")).as("subdivision"),
          lit(null).cast("string").as("geospatial_point")))))
        .as("addresses"),
      array_compact(array(
        tv("peoplesoft_deptid", k.cast("string")),
        when(pmod(k, lit(2)) === 0,
          tv("dept_id", concat(lit("D"), k.cast("string"))))))
        .as("ids"))
    val orgXml = graft.sources.XmlSync.renderOrganisationsXml(orgs)
      .toDF("xml")
      .select(regexp_extract(col("xml"),
        "<organisationId>([^<]*)</organisationId>", 1).as("doc_id"),
        col("xml"))
    val users = Tables.customer(s, dir).select(
      concat(lit("U"), col("c_custkey").cast("string")).as("doc_id"),
      concat(lit("P"), col("c_custkey").cast("string")).as("person_id"),
      concat(lit("u"), col("c_custkey").cast("string"), lit("<&"))
        .as("user_name"),
      concat(lit("c"), col("c_custkey").cast("string"), lit("@x.\"org\""))
        .as("email"),
      col("c_mktsegment").as("first_name"),
      concat(col("c_name"), lit(" 'q")).as("last_name"))
    val userXml = users.map { r =>
      (r.getAs[String]("doc_id"), graft.sources.XmlSync.renderUser(r))
    }.toDF("doc_id", "xml")
    orgXml.unionByName(userXml).localCheckpoint().orderBy("doc_id")
  }

  /** STREAMING windowed counts promoted to the declared surface — the
    * §2.10 watermark/dedup path under the same hash gate as q86's
    * streaming dedup: the events table is split into three micro-batch
    * files by event_id hash, slice 1 is written TWICE (a replayed
    * ingest drop), and the stream runs
    * [[graft.streaming.EventsStream.windowedCounts]] —
    * `dropDuplicatesWithinWatermark` + tumbling 1-hour windows — in
    * complete mode over one-file-per-trigger micro-batches. The
    * watermark (61 days) exceeds the table's 30-day span, so no state
    * evicts and nothing is late: the dedup is GUARANTEED to absorb the
    * replayed file and the final table must equal the batch windowed
    * aggregate DuckDB computes — a dedup leak or window misalignment
    * is a hash mismatch. `value` is cast decimal(18,2) pre-aggregation
    * so sums are order-independent (the oracle-parity rule).
    */
  def q93StreamWindowCounts(s: SparkSession, dir: String): DataFrame = {
    // ts is re-written AS READ (nanos-long or micros-timestamp —
    // whatever the testdata generation encodes); readEvents below
    // takes the on-disk shape off a slice's memo dir and normalizes.
    val raw = Tables.eventsRaw(s, s"$dir/events.parquet")
    val root = java.nio.file.Files.createTempDirectory("q93-stream").toString
    val src = s"$root/src"
    // slice renders are memoized once per process (round 19,
    // graft.FeedMemo): re-rendering identical feed files per bench
    // pass was one single-task write job per slice per pass; the
    // replayed slice is a second COPY of the same render
    val slices = Seq(0, 1, 2, 1).zipWithIndex.map { case (r, i) =>
      FeedMemo.copySlice(dir, s"q93_s$r", src,
        1000000000000L + i * 60000L, nameSuffix = s"_d$i") {
        raw.filter(pmod(col("event_id"), lit(3)) === r)
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    val stream = graft.streaming.EventsStream
      .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
        maxFilesPerTrigger = Some(1))
      .withColumn("value", col("value").cast("decimal(18,2)"))
    try StreamRun.toMemory(s, name) {
      graft.streaming.EventsStream.windowedCounts(stream,
          // 1-hour windows keep the complete-mode rescan small; the
          // dedup/watermark machinery under test is window-length
          // independent
          watermark = "87840 minutes", windowLen = "1 hour")
        .writeStream.outputMode("complete")
    } {
      _.select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"),
          // exact decimal sum upstream; ONE shared decimal→double cast
          // at the very end (the q01 oracle-parity pattern)
          col("total_value").cast("decimal(18,2)").cast("double")
            .as("total_value"))
        .orderBy("window_start", "event_type")
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** Event-funnel analysis — staged conversion over an ordered event
    * stream, the product-analytics staple a training-data event log
    * needs at scale: first view, first click STRICTLY AFTER that view,
    * first purchase strictly after that click, per user; then one
    * summary row with stage survivor counts and mean stage-to-stage
    * latencies. All three stage timestamps are CHAINED window minimums
    * over the SAME user partitioning, so Catalyst plans one exchange +
    * one sort and the three Window operators reuse them — one shuffle
    * total regardless of stage count (the textbook 3-way self-join
    * re-shuffles the fact table once per stage). Latency averages are
    * summed as exact integer microseconds (sums stay far inside
    * double's 2^53 exact range at any plausible user count) and
    * divided once at the end.
    */
  def q103Funnel(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val staged = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("vt",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("ct", min(when(col("event_type") === "click" &&
        col("ts") > col("vt"), col("ts"))).over(w))
      .withColumn("pt", min(when(col("event_type") === "purchase" &&
        col("ts") > col("ct"), col("ts"))).over(w))
    val perUser = staged.groupBy("user_id")
      .agg(max("vt").as("vt"), max("ct").as("ct"), max("pt").as("pt"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("vt")).as("n_view"),
      count(col("ct")).as("n_click"),
      count(col("pt")).as("n_purchase"),
      round(sum(unix_micros(col("ct")) - unix_micros(col("vt")))
          .cast("double") / count(col("ct")) / 1e6, 4)
        .as("avg_view_to_click_s"),
      round(sum(unix_micros(col("pt")) - unix_micros(col("ct")))
          .cast("double") / count(col("pt")) / 1e6, 4)
        .as("avg_click_to_purchase_s"))
  }

  /** Retention cohorts — users cohorted by the week of their first
    * event; n_active = distinct cohort users seen in each later week.
    * The first-seen timestamp is a window min over the user
    * partitioning (one shuffle; no self-join of the fact table against
    * its own first-seen aggregate), and the cohort×offset rollup is a
    * map-side-combined distinct aggregate. week_offset divides a
    * Monday-to-Monday day difference, so the /7 is always exact.
    */
  def q104RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"))
      .withColumn("first_ts", min(col("ts")).over(w))
      .select(col("user_id"),
        date_trunc("week", col("first_ts")).as("cohort_week"),
        (datediff(date_trunc("week", col("ts")).cast("date"),
            date_trunc("week", col("first_ts")).cast("date")) / 7)
          .cast("bigint").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
        col("week_offset"), col("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** STREAMING gap-sessionization promoted to the declared surface —
    * the §2.10 custom-state path (flatMapGroupsWithState,
    * [[graft.streaming.EventsStream.sessionize]]) under the same hash
    * gate as q93's windowed counts. The events table is split into
    * four CHRONOLOGICAL slices (unlike q93's hash split: dedup is
    * arrival-order-free, session state is not — a user's earlier
    * events must commit before later ones) and streamed one file per
    * trigger, so sessions open, survive micro-batch boundaries, and
    * close across four state commits; the memory sink's update log is
    * reduced to final per-session rows by max(n_events, closed) and
    * must equal DuckDB's batch lag/cumsum sessionization. Parity
    * rules: `value` is pre-scaled to integer cents so the Double state
    * fold is exact in any order (the q93 decimal rule adapted to
    * typed state), and timestamps compare at MILLISECOND precision
    * because the state machine keys on java.sql.Timestamp.getTime —
    * the oracle truncates with epoch_ms identically.
    */
  def q105StreamSessions(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(s, dir)
      .withColumn("value", round(col("value") * 100).cast("double"))
    val root = java.nio.file.Files.createTempDirectory("q105-stream").toString
    val src = s"$root/src"
    val bounds = Seq("1900-01-01", "2024-01-08", "2024-01-15",
      "2024-01-23", "2100-01-01")
    // Arrival order pinned EXPLICITLY: FileStreamSource orders files
    // by modification time, and this query's session state is the one
    // place arrival order changes the answer — each memoized slice
    // copy is stamped with a strictly increasing synthetic mtime
    // (the renders are memoized once per process — graft.FeedMemo).
    val slices = bounds.sliding(2).zipWithIndex.collect {
      case (Seq(a, b), i) =>
        FeedMemo.copySlice(dir, s"q105_s$i", src, 1000000000000L + i * 60000L) {
          raw.filter(col("ts") >= lit(a).cast("timestamp") &&
            col("ts") < lit(b).cast("timestamp"))
        }
    }.toList
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      val events = graft.streaming.EventsStream
        .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
          maxFilesPerTrigger = Some(1))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as(org.apache.spark.sql.Encoders
          .product[graft.streaming.EventsStream.Event])
      graft.streaming.EventsStream.sessionize(events, gapMinutes = 30)
        .toDF()
        .writeStream.outputMode("update")
    } {
      // Update-mode log → final sessions: a closed session's terminal
      // emission carries its max n_events (ties broken closed-first;
      // stats at equal n are identical by construction).
      _.groupBy(col("user_id"), col("session_start"))
        .agg(max(struct(col("n_events"), col("closed"),
          col("total_value"))).as("m"))
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("m.n_events").as("n_events"),
          (col("m.total_value") / 100).as("total_value"))
        .orderBy("user_id", "session_start")
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** Interval (range) join ([[Relational.intervalJoin]]): every error
    * event attached to each same-user purchase whose 2-hour window
    * contains it — the time-window attribution join Spark lacks a
    * native strategy for. The bucketed decomposition (1-hour buckets ≈
    * half the 2-hour span, so each interval explodes to 2-3 rows)
    * turns it into a pure equi-join; the oracle is DuckDB's literal
    * inequality join, so bucket-boundary and half-open-window handling
    * are hash-gated.
    */
  def q108IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), expr("ts + INTERVAL 2 HOURS").as("pend"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts"))
    Relational.intervalJoin(errors, purchases, Seq("user_id"),
        "ts", "pts", "pend", bucketWidthSec = 3600,
        payload = Seq("purchase_id"))
      .select(col("user_id"), col("error_id"),
        col("iv_purchase_id").as("purchase_id"))
      .orderBy("user_id", "error_id", "purchase_id")
  }

  /** First-order event-transition matrix: counts and row-normalized
    * probabilities of each (event_type → next event_type) step per
    * user timeline — the Markov summary of q11's lead/lag
    * neighborhood. One shuffle for the lead window, one
    * map-side-combined aggregate over at most |types|² rows, and the
    * row normalization is a window over that tiny aggregate.
    */
  def q109EventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  /** Trailing 7-day moving aggregate per user — a true RANGE window
    * frame over an integer day index (rows frames are wrong when days
    * are missing; the range frame spans calendar distance, not row
    * count). Daily rollup first (map-side-combined, decimal-exact
    * sums), so the window runs over ≤ days×users rows, not raw
    * events; one shuffle on user_id serves both the rollup and the
    * window.
    */
  def q111MovingAverage(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("__total"))
      .withColumn("day_idx",
        datediff(col("day"), lit("2024-01-01").cast("date")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("day_idx"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("n_7d", sum(col("n")).over(w))
      .withColumn("total_7d", sum(col("__total")).over(w)
        .cast("decimal(18,2)").cast("double"))
      .select(col("user_id"), col("day").cast("timestamp_ntz").as("day"),
        col("n"), col("__total").cast("double").as("total"),
        col("n_7d"), col("total_7d"))
      .orderBy("user_id", "day")
  }

  /** STREAMING error accumulation promoted to the declared surface —
    * the third §2.10 path (mapGroupsWithState,
    * [[graft.streaming.ErrorsStream.accumulate]]) under the hash gate:
    * error events, content-addressed to ~1000 distinct error ids, are
    * streamed as three hash-split micro-batches (arrival order is
    * irrelevant here — count/min/max are order-free, unlike q105's
    * sessions) and the keyed state's final rows must equal DuckDB's
    * batch count/min/max aggregate at FULL microsecond precision (the
    * state carries micros explicitly; Timestamp.getTime alone would
    * truncate). The update-log reduction keys on count, which strictly
    * increases across a key's updates, so max(struct(n, …)) is
    * unambiguous.
    */
  def q113StreamErrorAccumulate(s: SparkSession, dir: String): DataFrame = {
    val errs = Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .select(md5(concat_ws(":", col("user_id"),
        pmod(col("event_id"), lit(7)))).as("error_id"),
        col("ts"), col("event_id"))
    val root = java.nio.file.Files.createTempDirectory("q113-stream").toString
    val src = s"$root/src"
    val slices = Seq(0, 1, 2).map { r =>
      FeedMemo.copySlice(dir, s"q113_s$r", src, 1000000000000L + r * 60000L) {
        errs.filter(pmod(col("event_id"), lit(3)) === r)
          .select("error_id", "ts")
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      // the slices share one schema; read it off a memo dir, which a
      // repeat run finds memoized (src is new every run)
      val occ = s.readStream.schema(Tables.parquet(s, slices.head).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as(org.apache.spark.sql.Encoders
          .product[graft.streaming.ErrorsStream.ErrOccurrence])
      graft.streaming.ErrorsStream.accumulate(occ)
        .toDF()
        .writeStream.outputMode("update")
    } {
      _.groupBy(col("error_id"))
        .agg(max(struct(col("count"), col("first_seen"),
          col("last_seen"))).as("m"))
        .select(col("error_id"), col("m.count").as("n"),
          col("m.first_seen").cast("timestamp_ntz").as("first_seen"),
          col("m.last_seen").cast("timestamp_ntz").as("last_seen"))
        .orderBy("error_id")
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** Unpivot (melt) — the inverse of q2a's pivot, closing the
    * wide↔long reshaping pair: the per-user event-type count matrix
    * back to (user_id, event_type, n) rows, zero cells preserved.
    * `Dataset.unpivot` plans as a single Expand over the wide frame —
    * no join, no shuffle beyond the pivot's own aggregation.
    */
  def q114Unpivot(s: SparkSession, dir: String): DataFrame =
    q2aPivot(s, dir)
      .unpivot(Array(col("user_id")), "event_type", "n")
      .orderBy("user_id", "event_type")

  /** Built-in session windows — the declarative twin of q105's
    * custom-state sessionizer: `session_window(ts, gap)` in a plain
    * groupBy, letting Catalyst's SessionWindow node do the merging
    * (30-minute gap; the window CLOSES at exactly-gap spacing, i.e.
    * break on diff ≥ gap, vs the state machine's strict >, and works
    * at full microsecond precision — both mirrored in the oracle).
    * One shuffle on user_id; decimal-exact sums.
    */
  def q116SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("__total"))
      .select(col("user_id"),
        col("sw.start").cast("timestamp_ntz").as("session_start"),
        col("n_events"),
        col("__total").cast("decimal(18,2)").cast("double")
          .as("total_value"))
      .orderBy("user_id", "session_start")

  /** Grouped statistics suite — the SQL statistical aggregates a
    * profiling pass runs (avg/stddev/corr/covar), per return flag over
    * lineitem. Single map-side-combined aggregate; results rounded so
    * both engines' floating accumulation orders agree.
    */
  def q117GroupStats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6)
          .as("covar_qty_disc"))
      .orderBy("l_returnflag")

  /** STREAM-STREAM interval join — the remaining §2.10 join shape:
    * the error and purchase streams (two independent file sources over
    * the same micro-batched directory) joined on user plus an
    * event-time range condition, exactly q108's semantics as a
    * watermarked stream-stream inner join. The watermark (61 days)
    * exceeds the table span so no state evicts and the append-mode
    * result must equal q108's batch oracle REGARDLESS of arrival
    * order — which is why hash-split micro-batches are fine here,
    * unlike q105's order-dependent session state. At production scale
    * the same query runs with a tight watermark and the range
    * condition bounds join state to the 2-hour window.
    */
  def q119StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val root = java.nio.file.Files.createTempDirectory("q119-stream").toString
    val src = s"$root/src"
    val slices = Seq(0, 1, 2).map { r =>
      FeedMemo.copySlice(dir, s"q119_s$r", src, 1000000000000L + r * 60000L) {
        ev.filter(pmod(col("event_id"), lit(3)) === r)
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      // one schema for both sources, read off a memo dir
      val onDisk = Tables.eventsRaw(s, slices.head).schema
      def read() = graft.streaming.EventsStream.readEvents(s, src, onDisk,
        maxFilesPerTrigger = Some(1))
      val errors = read().filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("ets"))
        .withWatermark("ets", "87840 minutes")
      val purchases = read().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("event_id").as("purchase_id"), col("ts").as("pts"))
        .withWatermark("pts", "87840 minutes")
      errors.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("ets") >= col("pts") &&
            col("ets") < col("pts") + expr("INTERVAL 2 HOURS"))
        .select(col("user_id"), col("error_id"), col("purchase_id"))
        .writeStream.outputMode("append")
    } {
      _.orderBy("user_id", "error_id", "purchase_id")
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** Explicit GROUPING SETS — the generalization q22's ROLLUP and
    * q99's CUBE are shorthands for: order counts by {(status,
    * priority), (status), (priority), ()} with GROUPING() flags
    * disambiguating real nulls from subtotal rows. One Expand +
    * one aggregate, same as rollup/cube.
    */
  def q120GroupingSets(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.createOrReplaceTempView("__q120_orders")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
        CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        count(*) AS n
      FROM __q120_orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        (o_orderstatus), (o_orderpriority), ())
      ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""")
  }

  /** Ranking-function suite — rank / dense_rank / percent_rank /
    * cume_dist / ntile over one deterministic total order per
    * customer (ties broken by orderkey so every engine ranks
    * identically). One window partitioning serves all five.
    */
  def q121RankSuite(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("bigint").as("rnk"),
        dense_rank().over(w).cast("bigint").as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"),
        ntile(4).over(w).cast("bigint").as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** INTERSECT / INTERSECT ALL — the set-operation family's remaining
    * members (SO1/SO4/SO5 cover MINUS, EXCEPT ALL, symmetric diff):
    * customers appearing in BOTH the early and late order snapshots,
    * with multiplicity semantics exercised by the ALL variant.
    */
  def q122Intersect(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val early = o.filter(col("o_orderdate") < lit("1998-01-01").cast("date"))
      .select(col("o_custkey"))
    val late = o.filter(col("o_orderdate") >= lit("1998-01-01").cast("date"))
      .select(col("o_custkey"))
    early.intersect(late)
      .withColumn("kind", lit("distinct"))
      .unionByName(early.intersectAll(late)
        .withColumn("kind", lit("all")))
      .groupBy("kind").agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_keys"))
      .orderBy("kind")
  }

  /** Forward as-of join with tolerance
    * ([[Relational.asOfJoinForward]]): each error event picks up the
    * EARLIEST same-user purchase at-or-after it, nulled when farther
    * than 2 hours — q29's backward lookup mirrored forward, plus the
    * tolerance the pandas merge_asof contract includes. The right side
    * is reduced to unique (user, ts) rows first (q29's tie-free rule).
    */
  def q123AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max(col("event_id")).as("purchase_id"))
    Relational.asOfJoinForward(errors, purchases, Seq("user_id"),
        "ts", "pts", Seq("purchase_id"), toleranceSec = Some(7200L))
      .select(col("user_id"), col("error_id"),
        col("asof_purchase_id").as("purchase_id"))
      .orderBy("user_id", "error_id")
  }

  /** Declarative data-quality report ([[graft.operators.Quality]]):
    * five constraints over two tables plus one referential check, each
    * table's column constraints fused into ONE aggregate pass, the
    * whole report a single DataFrame. Includes a deliberately failing
    * range constraint so both verdict polarities are exercised.
    */
  def q124DataQuality(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    import graft.operators.Quality._
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    Quality.check(li, Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1, 50),
        InRange("l_discount", 0, 0.1)))
      .unionByName(Quality.check(o, Seq(
        Unique("o_orderkey"),
        InRange("o_totalprice", 0, 100000))))
      .unionByName(Quality.checkRef(li, "l_orderkey", o, "o_orderkey"))
      .orderBy("constraint")
  }

  /** Partition-pruned scan at the DECLARED surface — the storage-layout
    * behavior every 100 TB lake read depends on: events re-written
    * date-partitioned ([[graft.operators.Scale.writeDatePartitioned]]),
    * then read back with a date predicate that must prune to 7 of 30
    * day-directories at PLANNING time (PartitionFilters, spec-asserted
    * in ScaleSpec; the oracle proves the surviving rows are exactly the
    * filtered table). Timestamps rebuilt from the raw micros so the
    * partition column's date truncation is oracle-replicable.
    */
  def q127PartitionPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q127-part").toString
    try {
      graft.operators.Scale.writeDatePartitioned(
        Tables.events(s, dir), s"$root/events", "ts")
      val pruned = Tables.parquet(s, s"$root/events")
        .filter(col("event_date") >= lit("2024-01-08").cast("date") &&
          col("event_date") < lit("2024-01-15").cast("date"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("__total"))
        .select(col("event_date").cast("timestamp_ntz").as("event_date"),
          col("event_type"), col("n"),
          col("__total").cast("decimal(18,2)").cast("double")
            .as("total_value"))
        .orderBy("event_date", "event_type")
      pruned.localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** STREAM-STATIC join — the remaining canonical streaming join
    * shape after q119's stream-stream: the event stream joins a static
    * dimension (user → tier; broadcast — the dim never shuffles the
    * stream) before a complete-mode aggregate. Hash-split
    * micro-batches are sound (join + count/sum are arrival-order-free)
    * and the final table must equal the batch join's aggregate.
    */
  def q128StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // checkpointed once: an un-materialized dim would re-run the full
    // distinct per MICRO-BATCH (the stream re-evaluates the static
    // side's plan each trigger)
    val tiers = ev.select(col("user_id")).distinct()
      .withColumn("tier", pmod(col("user_id"), lit(3)))
      .localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("q128-stream").toString
    val src = s"$root/src"
    val slices = Seq(0, 1, 2).map { r =>
      FeedMemo.copySlice(dir, s"q128_s$r", src, 1000000000000L + r * 60000L) {
        ev.filter(pmod(col("event_id"), lit(3)) === r)
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      graft.streaming.EventsStream
        .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
          maxFilesPerTrigger = Some(1))
        .withColumn("value", col("value").cast("decimal(18,2)"))
        .join(broadcast(tiers), "user_id")
        .groupBy(col("tier"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .writeStream.outputMode("complete")
    } { t =>
      val out = t
        .select(col("tier"), col("event_type"), col("n"),
          col("total").cast("decimal(18,2)").cast("double")
            .as("total_value"))
        .orderBy("tier", "event_type")
        .localCheckpoint(true) // materialize before the finally deletes
      graft.operators.Checkpoints.drop(tiers) // dim blocks are dead now
      out
    } finally TmpTrees.delete(root)
  }

  /** k-anonymity audit ([[graft.operators.Quality.kAnonymity]]) over
    * customer quasi-identifiers (nation, market segment) at k=10 —
    * minimum equivalence-class size, class count, at-risk row
    * fraction.
    */
  def q129KAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.kAnonymity(Tables.customer(s, dir),
      Seq("c_nationkey", "c_mktsegment"), k = 10)

  /** Sequence-pattern matching (MATCH_RECOGNIZE-lite): each user's
    * event history collapses to an ordered initial-letter string and
    * CONSECUTIVE view→click→purchase runs are counted by literal
    * replace arithmetic — (len − len(replace(s,'vcp','')))/3, which
    * counts non-overlapping occurrences identically in every engine.
    * Per-user strings are bounded by per-user event counts (the same
    * envelope as every per-user window here); the pattern scan itself
    * is one aggregate, no join, no explode.
    */
  def q130SequenceMatch(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(concat_ws("", transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")))),
        e => e.getField("c"))).as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("bigint").as("seq_len"),
        ((length(col("seq")) - length(regexp_replace(col("seq"), "vcp", "")))
          / 3).cast("bigint").as("n_funnels"))
      .orderBy("user_id")

  /** Bucketed CO-LOCATED join at the declared surface — the
    * pre-shuffle layout move that amortizes a fact-fact join's
    * exchange across every query that touches it: orders and lineitem
    * are written as bucketed tables (8 buckets on the join key, one
    * file per bucket via a same-hash repartition — Spark's bucket
    * hash IS the repartition hash, so each task holds exactly one
    * bucket), and the join then reads both sides already co-partitioned
    * — NO exchange on either input, plan-asserted: with broadcast
    * disabled the whole query must contain exactly TWO exchanges (the
    * final 5-row aggregate's and the result sort's — both ABOVE the
    * join; a non-co-located plan would add one per join input), a
    * SortMergeJoin, and two `Bucketed: true` scans. At 100 TB this is
    * the difference between shuffling both fact tables per join and
    * shuffling neither, ever. The oracle proves the bucketed plan
    * returns exactly the plain join's aggregate.
    */
  def q132BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q132-bucket").toString
    val tag = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    val tOrders = s"orders_$tag"; val tLine = s"lineitem_$tag"
    try {
      Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/orders").mode("overwrite")
        .saveAsTable(tOrders)
      Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        .repartition(8, col("l_orderkey"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$root/lineitem").mode("overwrite")
        .saveAsTable(tLine)
      try Confs.scoped(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = s.table(tLine)
          .join(s.table(tOrders),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("__q"))
          .select(col("o_orderpriority"), col("n_items"),
            col("__q").cast("decimal(18,2)").cast("double").as("sum_qty"))
          .orderBy("o_orderpriority")
        val plan = j.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        val exchanges = "Exchange".r.findAllIn(plan).length
        val bucketedScans = "Bucketed: true".r.findAllIn(plan).length
        require(exchanges == 2 && bucketedScans == 2 &&
            plan.contains("SortMergeJoin"),
          s"bucketed join must be exchange-free below the aggregate " +
            s"(got $exchanges exchanges, $bucketedScans bucketed " +
            s"scans):\n$plan")
        j.localCheckpoint(true) // materialize before tables drop
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tOrders")
        s.sql(s"DROP TABLE IF EXISTS $tLine")
      }
    } finally TmpTrees.delete(root)
  }

  /** OHLC time bars — the classic time-series downsampling aggregate:
    * per (event_type, hour), open/high/low/close of `value` plus count
    * and an exact decimal total. Open and close are elected by row_
    * number over (ts, event_id) — a TOTAL order, so bars are
    * deterministic even under timestamp collisions — and both
    * directions share one window partitioning (one shuffle; the agg
    * reuses its clustering). High/low/count/total are plain
    * map-side-combinable aggregates.
    */
  def q135OhlcBars(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val base = ev.select(col("event_type"),
      date_trunc("hour", col("ts")).as("bar_ts"),
      col("ts"), col("event_id"), col("value"))
    val wA = Window.partitionBy("event_type", "bar_ts")
      .orderBy(col("ts"), col("event_id"))
    val wD = Window.partitionBy("event_type", "bar_ts")
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("__ra", row_number().over(wA))
      .withColumn("__rd", row_number().over(wD))
      .groupBy("event_type", "bar_ts")
      .agg(
        max(when(col("__ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("__rd") === 1, col("value"))).as("close"),
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("__t"))
      .select(col("event_type"),
        col("bar_ts").cast("timestamp_ntz").as("bar_ts"),
        col("open"), col("high"), col("low"), col("close"), col("n"),
        col("__t").cast("decimal(18,2)").cast("double").as("total_value"))
      .orderBy("event_type", "bar_ts")
  }

  /** Z-order layout audit ([[graft.operators.Scale.zOrderKey]]): every
    * event gets a Morton key interleaving (user_id mod 1024, floor(
    * value) mod 1024), and the query reports per-zvalue-range (64
    * ranges) the count plus the min/max envelope of BOTH source
    * dimensions — the footer-stats view a z-ordered file layout would
    * ship: every range's envelope is bounded in x AND y
    * simultaneously, which is exactly why min/max pruning works for
    * predicates on either column after an OPTIMIZE ZORDER rewrite.
    * The key arithmetic is engine-portable bit math, so the whole
    * audit is oracle-gated.
    */
  def q136ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val x = pmod(col("user_id"), lit(1024L))
    val y = pmod(floor(col("value")).cast("long"), lit(1024L))
    ev.select(x.as("x"), y.as("y"))
      .withColumn("z", graft.operators.Scale.zOrderKey(col("x"), col("y"), 10))
      .withColumn("z_range", expr("z div 16384"))
      .groupBy("z_range")
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy("z_range")
  }

  /** Nearest as-of join ([[Relational.asOfJoinNearest]]): each error
    * event attaches the CLOSEST same-user purchase within 2 hours on
    * either side, exact-distance ties preferring the earlier
    * (backward) match — q29 (backward) and q123 (forward) completing
    * the merge_asof direction family in ONE shuffle, not two chained
    * passes. The right side is reduced to unique (user, ts) rows
    * first, the q29 tie-free rule.
    */
  def q137AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max(col("event_id")).as("purchase_id"))
    Relational.asOfJoinNearest(errors, purchases, Seq("user_id"),
        "ts", "pts", Seq("purchase_id"), toleranceSec = Some(7200L))
      .select(col("user_id"), col("error_id"),
        col("asof_purchase_id").as("purchase_id"))
      .orderBy("user_id", "error_id")
  }

  /** Hamming-1 near-duplicate audit ([[graft.operators.Dedup
    * .hamming1Pairs]]): customers whose names differ in exactly one
    * character, found by position-mask blocking (an equi-join on
    * (position, masked name) — never an all-pairs scan), verified by
    * levenshtein = 1 in-engine, and reported as a neighbor-count
    * histogram. The record-linkage analog of LSH banding, over the
    * entity table a people-dedup pass would target.
    */
  def q138HammingNeighbors(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    val pairs = graft.operators.Dedup.hamming1Pairs(c, "c_custkey", "c_name")
    pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("c_custkey"))
      .groupBy("c_custkey").agg(count(lit(1)).as("n_neighbors"))
      .groupBy("n_neighbors").agg(count(lit(1)).as("n_customers"))
      .orderBy("n_neighbors")
  }

  /** Star-schema join (TPC-H Q5 shape) — the canonical 6-table
    * analytics query: revenue per nation for one region and one order
    * year, customer and supplier required to share the nation. The
    * plan Catalyst should (and does) pick at scale: region⋈nation and
    * supplier broadcast (dims), lineitem⋈orders is the one fact-fact
    * shuffle, the date filter pushes into the orders scan, and column
    * pruning cuts both fact scans to the join/agg columns. Revenue is
    * the exact decimal(18,4) product-sum; ordering is made total with
    * the n_name tie-break.
    */
  def q139StarJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
        col("o_orderdate") < lit("1998-01-01").cast("date"))
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("__rev"))
      .select(col("n_name"),
        col("__rev").cast("decimal(18,4)").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Scalar-subquery threshold (TPC-H Q17 shape): revenue locked up in
    * small-quantity orders — lineitems whose quantity is below 20 % of
    * their part's average. The correlated `avg` subquery is
    * re-expressed Spark-first as one per-part aggregate joined back to
    * the fact (the decorrelation Catalyst would have to do anyway,
    * stated explicitly); the 0.2·avg comparison is CROSS-MULTIPLIED
    * (qty · 5 · count < sum) in exact decimals, so the threshold
    * boundary cannot round apart across engines.
    */
  def q140SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val perPart = li.groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__sq"),
        count(lit(1)).as("__n"))
    li.join(broadcast(perPart), Seq("l_partkey"))
      .filter(col("l_quantity").cast("decimal(18,2)") * 5 * col("__n") <
        col("__sq"))
      .agg(count(lit(1)).as("n_small"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("__t"))
      .select(col("n_small"),
        col("__t").cast("decimal(18,2)").cast("double").as("total_price"))
  }

  /** Kleene-operator sequence patterns — the general form of q130's
    * fixed v→c→p run counter. Each user's history is the same ordered
    * initial-letter string; patterns then use real regex quantifiers:
    * `v+c*p` (one-or-more views, ANY number of interleaved clicks,
    * then a purchase — the funnel with optional/repeated stages),
    * `ee+` (error bursts: maximal runs of ≥2 consecutive errors), and
    * the longest click run via `c+` extract-all. Non-overlapping
    * leftmost-greedy scan semantics are identical between Java regex
    * (Spark) and DuckDB's RE2 for these alternation-free patterns, so
    * counts are engine-exact — the same discipline the text-quality
    * suite (q66/q94) already proved for `regexp_count`/`extract_all`.
    * One aggregate + one projection per user; no join, no explode.
    */
  def q141KleenePattern(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(concat_ws("", transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")))),
        e => e.getField("c"))).as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("bigint").as("seq_len"),
        regexp_count(col("seq"), lit("v+c*p")).cast("bigint")
          .as("n_kleene_funnels"),
        regexp_count(col("seq"), lit("ee+")).cast("bigint")
          .as("n_error_bursts"),
        coalesce(array_max(transform(
            regexp_extract_all(col("seq"), lit("c+"), lit(0)),
            m => length(m))), lit(0)).cast("bigint")
          .as("max_click_run"))
      .orderBy("user_id")

  /** Small-file compaction at the DECLARED surface — q127's partner
    * lake-maintenance pass ([[graft.operators.Scale.compact]]): a
    * 64-shard fragmented write (the shape a streaming sink accumulates)
    * is compacted into ceil(bytes/target) files, and the result is
    * gated two ways in ONE driver-visible row: the identity aggregates
    * (count / distinct keys / decimal-exact sums) read from the
    * COMPACTED directory must equal the oracle's over the source
    * table (compaction moves bytes, never rows), and `layout_ok`
    * re-lists the output dir through the same Hadoop FS API to assert
    * the rewrite really produced exactly the computed file count,
    * strictly fewer than the 64 fragments (oracle pins it TRUE).
    */
  def q142CompactionIdentity(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q142-compact").toString
    try {
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .repartition(64).write.mode("overwrite").parquet(s"$root/frag")
      val nOut = graft.operators.Scale.compact(
        s, s"$root/frag", s"$root/compact", targetBytes = 4L << 20)
      val outFiles = Tables.filesUnder(s, s"$root/compact")
        .count(_.getPath.getName.endsWith(".parquet"))
      Tables.parquet(s, s"$root/compact")
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("l_orderkey")).as("n_orders"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("__q"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("__p"))
        .select(col("n_rows"), col("n_orders"),
          col("__q").cast("decimal(18,2)").cast("double").as("total_qty"),
          col("__p").cast("decimal(18,2)").cast("double").as("total_price"),
          lit(outFiles == nOut && outFiles < 64).as("layout_ok"))
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** EXISTS / NOT-EXISTS chain (TPC-H Q21 shape): suppliers who were
    * the SOLE returner in a multi-supplier order — the canonical
    * "exists another, not exists another-with-property" double
    * correlated subquery, decorrelated Spark-first into one semi join
    * (some OTHER supplier shares the order) and one anti join (no
    * OTHER supplier also returned), both on the orderkey equi-key with
    * the supplier inequality as a residual condition — so the whole
    * chain rides a single orderkey shuffle of the deduped (order,
    * supplier) pairs, never the raw fact, and the supplier dim joins
    * broadcast at the end. The returned/all pair sets are built once
    * each (distinct BEFORE the joins: the exists tests are per-pair,
    * not per-lineitem).
    */
  def q143OnlyReturner(s: SparkSession, dir: String): DataFrame = {
    // ONE fact scan + ONE shuffle, and that single pass is the
    // information-theoretic floor: ANY lineitem row can flip an
    // order's sole-returner verdict (add a second returner, or the
    // second supplier that makes the order multi-supplier), so every
    // row must be read once — no plan can beat a full scan. The
    // round-15 pair-table phrasing hit exponent 0.90 at 100× because
    // the distinct-pair working set was materialized (localCheckpoint)
    // and re-shuffled three more times by the semi/anti pair; this
    // phrasing folds BOTH exists-tests into one per-order aggregate —
    // collect_set of suppliers and of returning suppliers, each
    // bounded by the ≤7-lineitem order width, with map-side partial
    // merge — so the only shuffle carries distinct-pair-scale set
    // partials keyed by orderkey, and the verdict (|all| > 1 ∧
    // |returners| = 1) plus the sole returner's identity fall out of
    // the aggregate row itself, no joins back.
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey")).as("__all"),
        collect_set(when(col("l_returnflag") === "R", col("l_suppkey")))
          .as("__ret"))
      .filter(size(col("__all")) > 1 && size(col("__ret")) === 1)
      .select(element_at(col("__ret"), 1).as("l_suppkey"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).cast("bigint").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Zero-inclusive count distribution (TPC-H Q13 shape): how many
    * customers placed exactly k orders, INCLUDING k = 0 — the
    * histogram a left outer join exists for. Spark-first phrasing
    * pre-aggregates orders per customer BEFORE the join (map-side
    * reducible; the join then carries one row per customer instead of
    * one per order) and left-joins customer to the counts with
    * coalesce(0) standing in for the never-ordered tail.
    */
  def q144CountDistribution(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir).groupBy("o_custkey")
      .agg(count(lit(1)).as("__n"))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("__n"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).cast("bigint").as("custdist"))
      .select(col("c_count").cast("bigint").as("c_count"), col("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** EXACT per-group quantiles by ordinal arithmetic — the exact twin
    * of q101's approx sketch: the q-quantile (type-1 / lower) of a
    * group of n values is the value at sorted position ceil(q·n),
    * computed as ONE window pass (row_number + count over the same
    * partitioning — one sort, one exchange) and a conditional
    * aggregate that picks the elected positions. Positions use pure
    * integer ceil-division ((q·n + d − 1) div d — `div`/`//` agree on
    * non-negative longs), and the value AT a position is tiebreak-
    * independent, so the result is engine-exact with no interpolation
    * semantics to reconcile (Spark `percentile` interpolates, DuckDB
    * `quantile_cont` interpolates differently — ordinals sidestep
    * both).
    */
  def q145ExactQuantiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("__b"), col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("__b"),
        col("c_custkey"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy("c_mktsegment")))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("bigint").as("n"),
        max(when(col("__rn") ===
            expr("(__n + 1) div 2").cast("int"),
          col("__b"))).as("__med"),
        max(when(col("__rn") ===
            expr("(__n * 9 + 9) div 10").cast("int"),
          col("__b"))).as("__p90"))
      .select(col("c_mktsegment"), col("n"),
        col("__med").cast("double").as("median_bal"),
        col("__p90").cast("double").as("p90_bal"))
      .orderBy("c_mktsegment")
  }

  /** Distributed order-statistics twin of q145 — the SAME per-segment
    * median/p90 answers, computed by HISTOGRAM BRACKET instead of a
    * full per-stratum ordered window: rows collapse to a (segment,
    * balance) histogram first (map-side combinable; bounded by
    * |segments| × |distinct 2-decimal balances|, NOT by row count), the
    * cumulative bracket runs over HISTOGRAM rows, and the q-quantile is
    * min{v : cum(v) ≥ pos} — identical to the value at sorted position
    * pos because a value at an ordinal never depends on how equal
    * values tie-break. q145's window form sorts every row of a stratum
    * through one task (parallelism = |strata|); this form's per-stratum
    * sorted structure is the histogram (≤ ~1.1 M entries for a bounded
    * 2-decimal measure at ANY corpus size) — the shape that survives
    * 100 TB. Oracle: the ordinal definition itself.
    */
  def q241QuantileHistogram(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.customer(s, dir)
      .select(col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("__b"))
      .groupBy("c_mktsegment", "__b")
      .agg(count(lit(1)).as("__c"))
    val cum = Window.partitionBy("c_mktsegment").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("__cum", sum(col("__c")).over(cum))
      .withColumn("__n",
        sum(col("__c")).over(Window.partitionBy("c_mktsegment")))
      .groupBy("c_mktsegment")
      .agg(max(col("__n")).cast("bigint").as("n"),
        min(when(col("__cum") >= expr("(__n + 1) div 2"), col("__b")))
          .cast("double").as("median_bal"),
        min(when(col("__cum") >= expr("(__n * 9 + 9) div 10"), col("__b")))
          .cast("double").as("p90_bal"))
      .orderBy("c_mktsegment")
  }

  /** Interval-union coverage — the classic merge-overlapping-intervals
    * sweep, distributed: each event opens a 30-minute activity window
    * [ts, ts+30m); per user, overlapping windows merge and the output
    * is (sessions, total covered time, longest session) in exact
    * micros. The sweep is the W2 run-length pattern lifted to
    * intervals: one window per user carries the running max END over
    * strictly-preceding rows; a row whose start exceeds it begins a
    * new segment (cumulative flag sum = segment id); segments then
    * fold with one aggregate. One shuffle on user_id serves the
    * window AND the fold — per-user work, never a global sort, the
    * shape that survives 100 TB of telemetry. All arithmetic integer
    * micros; the oracle replays the same sweep.
    */
  def q244IntervalCoverage(s: SparkSession, dir: String): DataFrame = {
    val win = 1800000000L // 30 min in micros
    val w = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    val prevEnd = max(col("__e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("__t"))
      .withColumn("__e", col("__t") + win)
      .withColumn("__new",
        when(prevEnd.isNull || col("__t") > prevEnd, 1L).otherwise(0L))
      .withColumn("__seg", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "__seg")
      .agg(min(col("__t")).as("__s"), max(col("__e")).as("__x"))
      .groupBy("user_id")
      .agg(count(lit(1)).cast("bigint").as("n_sessions"),
        sum(col("__x") - col("__s")).cast("bigint").as("covered_micros"),
        max(col("__x") - col("__s")).cast("bigint").as("longest_micros"))
      .select(col("user_id").cast("bigint").as("user_id"),
        col("n_sessions"), col("covered_micros"), col("longest_micros"))
      .orderBy("user_id")
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007) — weighted
    * sampling WITHOUT replacement with near-optimal subset-sum
    * variance: item i draws uniform uᵢ, gets priority qᵢ = wᵢ/uᵢ, and
    * the sample is the top-k by priority. Uniforms come from the
    * md5-prefix hash (the repo's portable-randomness convention) and
    * the ratio is carried as the exact integer floor((w·10¹⁸) DIV h) —
    * deterministic cross-engine, ties broken on the key, no float
    * anywhere. The top-k is [[graft.plans.TopKPerKey]]'s bounded heap
    * over a constant key (never a global sort): at 100 TB the
    * per-partition heaps hold k rows each and the final merge sees
    * |partitions|·k candidates. Weights are order totals in cents.
    */
  def q245PrioritySample(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("w_cents"))
      .withColumn("__h", graft.operators.Scale.md5Prefix32(col("o_orderkey")))
      // scale 10⁹ keeps the worst case (h = 0 → divisor 1) inside
      // BIGINT: w ≤ ~6·10⁷ cents × 10⁹ = 6·10¹⁶ < 2⁶³; resolution
      // ~10⁷ distinct priority levels, ties broken on the key
      .withColumn("priority",
        expr("CAST((CAST(w_cents AS DECIMAL(38,0)) * 1000000000)" +
          " DIV (__h + 1) AS BIGINT)"))
    graft.plans.TopK.topKPerKey(o.withColumn("__g", lit(1)), Seq("__g"),
        Seq("priority" -> false, "o_orderkey" -> true), 50)
      .select(col("o_orderkey"), col("w_cents"), col("priority"))
      .orderBy(col("priority").desc, col("o_orderkey"))
  }

  /** Stream-STATIC enrichment join — the one streaming join shape the
    * declared surface didn't yet pin (q119 is stream-stream): events
    * replay as micro-batches (one file per trigger) and every batch
    * broadcast-joins the static customer dimension — stateless, no
    * watermark, exactly the per-batch plan a 100 TB stream enriching
    * against a dim table runs (the dim re-broadcasts per batch; state
    * stays O(0)). The union of enriched micro-batch outputs must equal
    * the static join — that invariant is what the rollup (segment ×
    * event_type counts + distinct users) hash-proves against DuckDB's
    * plain join, independent of how the stream was batched.
    */
  def q246StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val root = java.nio.file.Files.createTempDirectory("q246-stream").toString
    val src = s"$root/src"
    val slices = Seq(0, 1, 2).map { r =>
      FeedMemo.copySlice(dir, s"q246_s$r", src, 1000000000000L + r * 60000L) {
        ev.filter(pmod(col("event_id"), lit(3)) === r)
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      graft.streaming.EventsStream
        .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
          maxFilesPerTrigger = Some(1))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("c_mktsegment"))
        .writeStream.outputMode("append")
    } {
      _.groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).cast("bigint").as("n_events"),
          countDistinct(col("user_id")).cast("bigint").as("n_users"))
        .orderBy("c_mktsegment", "event_type")
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** WEIGHTED quantiles by histogram bracket — q241's distributed
    * order-statistics machinery generalized to weighted rank, the form
    * data curation actually needs ("median balance weighted by order
    * volume"): weight w(customer) = its order count, the histogram
    * accumulates Σw per (segment, balance), and the weighted
    * q-quantile is min{v : cumW(v) ≥ pos(W)} with integer positions
    * over total weight W. Same scale envelope as q241 (the sorted
    * structure is the histogram, never the rows); weights arrive from
    * one pre-aggregated join, zero-order customers carrying weight 0
    * drop out of the distribution by definition (Σw over them is 0).
    */
  def q247WeightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val wts = Tables.orders(s, dir).groupBy("o_custkey")
      .agg(count(lit(1)).as("__w"))
    val hist = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("__b"))
      .join(wts, col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment", "__b")
      .agg(sum(col("__w")).as("__c"))
    val cum = Window.partitionBy("c_mktsegment").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("__cum", sum(col("__c")).over(cum))
      .withColumn("__n",
        sum(col("__c")).over(Window.partitionBy("c_mktsegment")))
      .groupBy("c_mktsegment")
      .agg(max(col("__n")).cast("bigint").as("total_weight"),
        min(when(col("__cum") >= expr("(__n + 1) div 2"), col("__b")))
          .cast("double").as("median_bal"),
        min(when(col("__cum") >= expr("(__n * 9 + 9) div 10"), col("__b")))
          .cast("double").as("p90_bal"))
      .orderBy("c_mktsegment")
  }

  /** PIVOT — long→wide reshaping at the declared surface: per-user
    * event counts spread across one column per event type. The value
    * list is EXPLICIT (the schema contract), so the plan is a single
    * pivot aggregate — no extra distinct-values collect pass, the form
    * that scales (an implicit pivot first scans the fact table just to
    * learn its columns). Absent combinations land as 0, not NULL: a
    * wide activity matrix feeds arithmetic downstream.
    */
  def q248Pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .select(col("user_id").cast("bigint").as("user_id") +:
        types.map(t => col(t).cast("bigint").as(s"n_$t")) :+
        types.map(t => col(t).cast("bigint")).reduce(_ + _).as("n_total"): _*)
      .orderBy("user_id")
  }

  /** UNPIVOT (stack) — wide→long, the inverse reshaping: lineitem's
    * three measures become (measure, value) rows via one Expand node
    * (each input row emits 3, no shuffle, no self-union that would
    * re-scan the fact table per measure), then fold to per-measure
    * stats. Values in exact integer units (quantity units / cents);
    * the oracle's UNION ALL is the semantic definition the single
    * Expand must match.
    */
  def q249Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        col("l_quantity").cast("decimal(18,0)").cast("bigint").as("__q"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__p"),
        (col("l_discount").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__d"))
      .select(expr("stack(3, 'quantity', __q, 'price_cents', __p, " +
        "'discount_cents', __d) AS (measure, value)"))
      .groupBy("measure")
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("value")).cast("bigint").as("total"),
        min(col("value")).cast("bigint").as("min_value"),
        max(col("value")).cast("bigint").as("max_value"))
      .orderBy("measure")

  /** Z-ORDER layout key (Morton interleave) — the multi-dimensional
    * locality linearization behind Delta/Iceberg `OPTIMIZE ZORDER BY`:
    * two bucketized dimensions (256-level equi-width buckets of
    * retail price and size) interleave bit-by-bit into one sort key,
    * so rows close in EITHER dimension land close in the layout and a
    * range predicate on either column prunes contiguous file spans.
    * The interleave is 8 unrolled shift/mask terms per dimension —
    * pure integer bit arithmetic, codegen-friendly, identical in
    * DuckDB. Output: the layout ORDER itself (rank by z-code) over a
    * deterministic sample of parts, plus the code and buckets — what
    * a lake writer would `repartitionByRange(zcode)` on. At 100 TB
    * the z-sort IS the compaction job's ordering; computing the key
    * is embarrassingly parallel.
    */
  def q250ZorderKey(s: SparkSession, dir: String): DataFrame = {
    // equi-width 8-bit buckets over fixed envelopes (cents 0..200 000,
    // size 1..50) — fixed bounds, not data-dependent percentiles, so
    // the key needs no pre-pass at any scale
    val bx = expr("least(CAST(255 AS BIGINT), (__pc * 256) DIV 200000)")
    val by = expr("least(CAST(255 AS BIGINT), ((p_size - 1) * 256) DIV 50)")
    val z = (0 until 8).map { i =>
      (shiftleft(shiftrightunsigned(col("__bx"), i).bitwiseAND(1), 2 * i)
        + shiftleft(shiftrightunsigned(col("__by"), i).bitwiseAND(1),
          2 * i + 1))
    }.reduce(_ + _)
    Tables.part(s, dir)
      .filter(pmod(col("p_partkey"), lit(7)) === 0)
      .select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__pc"),
        col("p_size").cast("bigint").as("p_size"))
      .withColumn("__bx", bx).withColumn("__by", by)
      .withColumn("zcode", z)
      .select(col("p_partkey"), col("__bx").as("bucket_price"),
        col("__by").as("bucket_size"), col("zcode").cast("bigint")
          .as("zcode"))
      // the layout order is (zcode, key) itself — a lake writer would
      // repartitionByRange on it; no rank column, which would need a
      // row-scale global window for a purely cosmetic ordinal
      .orderBy("zcode", "p_partkey")
  }

  /** Edit-distance-≤2 similarity join via DELETION-NEIGHBORHOOD
    * blocking (FastSS / SymSpell): every string emits its ≤2-deletion
    * neighborhood — itself, all |s| single deletions, and all
    * C(|s|,2) double deletions — as join keys. ed(a,b) ≤ k guarantees
    * a shared key in the ≤k neighborhoods (delete the ≤k edited
    * positions from each side: substitutions drop from both, the
    * insert/delete surplus drops from the longer), so the blocking is
    * LOSSLESS for k=2; candidates verify with the real levenshtein.
    * Shuffle leanness (the 100 TB posture): the join key is the
    * 8-byte xxhash64 of the variant — never the variant STRING — and
    * each side carries the id alone, so the candidate shuffle moves
    * (hash, id) pairs; pair dedup runs on the two id columns, and
    * names re-join only for the |candidates|-sized verification (hash
    * collisions just add false candidates, which the levenshtein gate
    * drops). Variant-key equality implies equal variant LENGTHS, so
    * length-incompatible pairs (||a|−|b|| > 2) never collide — the
    * length blocking is built into the key. Sampled to every 4th part
    * so the oracle can afford the brute-force all-pairs proof.
    */
  def q251EditDistanceJoin(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.spread(Tables.part(s, dir)
      .filter(pmod(col("p_partkey"), lit(4)) === 0)
      .select(col("p_partkey").as("id"), col("p_name").as("name")))
      // spread BEFORE the checkpoint: the O(len²) variant explode
      // below runs on these blocks, and the raw scan is one row group
      .localCheckpoint() // feeds the variant pass + two name re-joins
    val variants = names.select(col("id"),
      explode(expr(
        """array_distinct(concat(
          |  array(xxhash64(name)),
          |  transform(sequence(1, length(name)), i ->
          |    xxhash64(concat(substring(name, 1, i - 1),
          |      substring(name, i + 1, length(name))))),
          |  flatten(transform(sequence(1, length(name)), j ->
          |    IF(j > 1,
          |      transform(sequence(1, j - 1), i ->
          |        xxhash64(concat(substring(name, 1, i - 1),
          |          substring(name, i + 1, j - i - 1),
          |          substring(name, j + 1, length(name))))),
          |      CAST(array() AS ARRAY<BIGINT>))))))""".stripMargin)
        ).as("__h"))
    val cand = variants.select(col("__h"), col("id").as("id_a"))
      .join(variants.select(col("__h"), col("id").as("id_b")),
        Seq("__h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(names.select(col("id").as("id_a"), col("name").as("name_a")),
        Seq("id_a"))
      .join(names.select(col("id").as("id_b"), col("name").as("name_b")),
        Seq("id_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("bigint"))
      .filter(col("dist") <= 2)
      .select("id_a", "id_b", "name_a", "name_b", "dist")
      .orderBy("id_a", "id_b")
  }

  /** Weekly cohort RETENTION matrix — the activity twin of q225's
    * revenue LTV: cohort = first-activity week, offset = weeks since,
    * cell = fraction of the cohort active that week, in exact micros
    * (n_active·10⁶ DIV cohort size). The (user, week) grid collapses
    * to distinct rows FIRST (one fold bounded by users × weeks, not
    * raw events), cohorts come from one min-fold over it, and the
    * matrix is a single count aggregate — the entire query re-uses
    * one user_id shuffle. Week index is integer days-div-7 from the
    * epoch: no calendar semantics for engines to disagree on.
    */
  def q252RetentionMatrix(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') " +
          "AS BIGINT) DIV 7").as("__wk"))
      .distinct()
      .localCheckpoint() // feeds the cohort fold AND the matrix count
    val cohort = uw.groupBy("user_id").agg(min(col("__wk")).as("__cw"))
    val sizes = cohort.groupBy("__cw").agg(count(lit(1)).as("__sz"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("__cw"), (col("__wk") - col("__cw")).as("offset"))
      .agg(count(lit(1)).as("__act"))
      .join(broadcast(sizes), Seq("__cw"))
      .select(col("__cw").cast("bigint").as("cohort_week"),
        col("offset").cast("bigint").as("offset"),
        col("__sz").cast("bigint").as("cohort_size"),
        col("__act").cast("bigint").as("n_active"),
        expr("CAST((__act * 1000000L) DIV __sz AS BIGINT)")
          .as("retention_micros"))
      .orderBy("cohort_week", "offset")
  }

  /** EXACT distinct counting via WORD-BUCKETED BITMAPS — the
    * Druid/ClickHouse trick for high-volume distinct users: user ids
    * pack into 64-bit words (word = id DIV 64, bit = id MOD 64), the
    * per-(type, word) `bit_or` combines MAP-SIDE (millions of events
    * collapse to |types|×|id-range/64| words before the shuffle), and
    * the distinct count is Σ bit_count(word). Equivalent to
    * COUNT(DISTINCT) — the oracle IS count(distinct) — but the
    * shuffled volume is bitmap words, not distinct ids: at 100 TB of
    * events over a bounded id space that is a 64× payload reduction
    * with pure integer ops end to end.
    */
  def q253BitmapDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("user_id DIV 64").as("__w"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "CAST(pmod(user_id, 64) AS INT))").as("__b"))
      .groupBy("event_type", "__w")
      .agg(expr("bit_or(__b)").as("__bm"))
      .groupBy("event_type")
      .agg(sum(expr("bit_count(__bm)")).cast("bigint").as("n_users"),
        count(lit(1)).cast("bigint").as("n_words"))
      .orderBy("event_type")

  /** Bitmap SET ALGEBRA — the reason warehouses store q253's bitmaps
    * instead of id lists: audience overlap between every pair of
    * event types computes as word-aligned bitwise ops, never an id
    * join. Per-type bitmaps build once (map-side bit_or), the pair
    * intersection is Σ bit_count(a & b) over an equi-join on the WORD
    * index, and union/Jaccard follow by inclusion-exclusion — so the
    * pairwise pass moves |types|²·|words| words instead of
    * |types|·|users| ids. The pair spine comes from the type totals
    * (cross of a tiny dim with itself), LEFT-joined so disjoint
    * audiences still report their zeros. Exact integers end to end;
    * the oracle recomputes every pair from the raw distinct-user
    * sets.
    */
  def q264BitmapSetops(s: SparkSession, dir: String): DataFrame = {
    val bm = Tables.events(s, dir)
      .select(col("event_type"),
        expr("user_id DIV 64").as("__w"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "CAST(pmod(user_id, 64) AS INT))").as("__b"))
      .groupBy("event_type", "__w")
      .agg(expr("bit_or(__b)").as("__bm"))
      .localCheckpoint() // totals + both join sides read it
    val tot = bm.groupBy("event_type")
      .agg(sum(expr("bit_count(__bm)")).as("__n"))
    val inter = bm.select(col("event_type").as("type_a"),
        col("__w"), col("__bm").as("__ba"))
      .join(bm.select(col("event_type").as("type_b"), col("__w"),
        col("__bm").as("__bb")), Seq("__w"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(sum(expr("bit_count(__ba & __bb)")).as("__i"))
    tot.select(col("event_type").as("type_a"), col("__n").as("__na"))
      .join(tot.select(col("event_type").as("type_b"),
        col("__n").as("__nb")))
      .filter(col("type_a") < col("type_b"))
      .join(inter, Seq("type_a", "type_b"), "left")
      .withColumn("__i", coalesce(col("__i"), lit(0L)))
      .select(col("type_a"), col("type_b"),
        col("__na").cast("bigint").as("n_a"),
        col("__nb").cast("bigint").as("n_b"),
        col("__i").cast("bigint").as("n_intersect"),
        (col("__na") + col("__nb") - col("__i")).cast("bigint")
          .as("n_union"),
        expr("CAST(__i * 1000000L DIV (__na + __nb - __i) AS BIGINT)")
          .as("jaccard_micros"))
      .orderBy("type_a", "type_b")
  }

  /** HLL sketch MERGEABILITY — the property that makes cardinality
    * sketches work at 100 TB: per-shard registers (here shard =
    * event_id mod 16, standing in for the per-partition / per-day
    * sketches a lake would maintain) merge by element-wise MAX into
    * exactly the registers a direct single-pass build produces, so
    * distinct-count rollups never revisit raw data. Both paths run
    * for real (q192's m=64 scheme, rho by pure integer bit-length)
    * and `merge_consistent` pins their equality row-by-row; the
    * DuckDB oracle rebuilds the direct registers from first
    * principles with TRUE pinned, so a merge that drifts anywhere
    * hash-fails. est_micros applies Flajolet's estimator (with the
    * small-range linear-counting branch) to the MERGED registers.
    * One events scan feeds all four consumers via one pinned frame;
    * every aggregate is map-side combinable on (type, shard, bucket).
    */
  def q267HllShardMerge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_type"),
        pmod(col("event_id"), lit(16L)).as("__shard"), col("user_id"),
        graft.operators.Scale.md5Prefix32(col("user_id")).as("__h"))
      .select(col("event_type"), col("__shard"), col("user_id"),
        pmod(col("__h"), lit(64)).cast("int").as("bucket"),
        expr("CAST(__h DIV 64 AS BIGINT)").as("__rest"))
      .select(col("event_type"), col("__shard"), col("user_id"),
        col("bucket"),
        when(col("__rest") === 0L, lit(27L))
          .otherwise(lit(27L) - length(bin(col("__rest"))))
          .as("__rho"))
      .localCheckpoint() // direct regs, shard regs, n_exact, spine
    val direct = base.groupBy("event_type", "bucket")
      .agg(max(col("__rho")).as("__rd"))
    val merged = base.groupBy("event_type", "__shard", "bucket")
      .agg(max(col("__rho")).as("__rs"))
      .groupBy("event_type", "bucket")
      .agg(max(col("__rs")).as("__rm"))
    val spine = base.select("event_type").distinct()
      .crossJoin(s.range(0, 64).select(col("id").cast("int").as("bucket")))
    val full = spine.join(direct, Seq("event_type", "bucket"), "left")
      .join(merged, Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("__rd", "__rm"))
      .localCheckpoint() // the summary below and the output both read it
    val summary = full.groupBy("event_type")
      .agg(sum(expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(27 - __rm AS INT))"))
          .as("__sum_pow"),
        sum(when(col("__rm") === 0L, 1L).otherwise(0L)).as("__n_zero"))
    val raw = ((lit(0.709) * 4096.0) * 134217728.0) /
      col("__sum_pow").cast("double")
    full
      .join(broadcast(base.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))),
        Seq("event_type"))
      .join(broadcast(summary), Seq("event_type"))
      .select(col("event_type"), col("bucket"),
        col("__rm").cast("bigint").as("register"),
        col("n_exact").cast("bigint").as("n_exact"),
        when(raw <= 160.0 && col("__n_zero") > 0,
          floor(lit(64.0) * log(lit(64.0) / col("__n_zero").cast("double"))
            * 1000000.0))
          .otherwise(floor(raw * 1000000.0))
          .cast("bigint").as("est_micros"),
        (col("__rd") === col("__rm")).as("merge_consistent"))
      .orderBy("event_type", "bucket")
  }

  /** A-priori frequent TRIPLES — level 3 of the basket-mining descent
    * q149/q184 run at level 2. Candidates come from the classic
    * downward-closure generation (pairs (a,b) ⋈ (a,c) with b < c,
    * kept only when (b,c) is itself a frequent pair — three frequent
    * sub-pairs or the triple can't reach the support floor with
    * minPair ≤ minTriple, so the prune is LOSSLESS), and support
    * counts by joining candidates back to the item-pruned baskets —
    * one equi-join per triple slot, never an unpruned 3-way basket
    * self-join. The DuckDB oracle restates the plain definition
    * (3-way self-join over frequent-item baskets HAVING the floor),
    * so the candidate pruning is proven lossless at the gate. At
    * 100 TB the candidate set is bounded by the frequent-pair set —
    * the quantity a-priori exists to keep finite.
    */
  def q268AprioriTriples(s: SparkSession, dir: String): DataFrame = {
    // RELATIVE support floors — a-priori's floors are fractions of the
    // basket count in any production run; absolute floors melt as data
    // grows (probed: at 10× the frequent-pair set inflates until the
    // candidate join emits 1.6M triples, exponent 1.33). nB/600 and
    // nB/7500 equal the original 25/2 exactly at the sf0.01 gate
    // (15 000 baskets), so gate results are unchanged; the one count()
    // here is a control-flow scalar (floors must be literals on both
    // engines), not a driver-side data loop.
    val nBaskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey")).distinct().count()
    val minTriple = math.max(2L, nBaskets / 7500L)
    val (pairs, _, pruned, _) = copurchaseCounts(s, dir,
      minItem = math.max(25L, nBaskets / 600L), minPair = minTriple)
    val p = pairs.select("part_a", "part_b").localCheckpoint()
    val cand = p.select(col("part_a"), col("part_b"))
      .join(p.select(col("part_a"), col("part_b").as("part_c")),
        Seq("part_a"))
      .filter(col("part_b") < col("part_c"))
      .join(p.select(col("part_a").as("part_b"),
        col("part_b").as("part_c")), Seq("part_b", "part_c"), "left_semi")
    val b = pruned.select(col("l_orderkey").as("__o"),
      col("l_partkey"))
    cand
      .join(b.withColumnRenamed("l_partkey", "part_a"), Seq("part_a"))
      .join(b.withColumnRenamed("l_partkey", "part_b"),
        Seq("__o", "part_b"), "left_semi")
      .join(b.withColumnRenamed("l_partkey", "part_c"),
        Seq("__o", "part_c"), "left_semi")
      .groupBy("part_a", "part_b", "part_c")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minTriple)
      .select(col("part_a").cast("bigint").as("part_a"),
        col("part_b").cast("bigint").as("part_b"),
        col("part_c").cast("bigint").as("part_c"),
        col("support").cast("bigint").as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"),
        col("part_c"))
  }

  /** KMV (k-minimum-values) sketches with set-INTERSECTION estimation
    * — the capability HLL registers (q192/q267) structurally lack.
    * Universe: distinct parts supplied per supplier-nation (25 sets of
    * ~900-1700 parts, pairwise intersections 122-1652 at sf0.01 — a
    * genuinely varied overlap structure). Per nation, the sketch is
    * the k=64 SMALLEST engine-portable md5 hashes of its part keys,
    * built by the bounded-heap [[graft.plans.TopK.topKPerKey]] (one
    * combinable pass, never a per-key sort). Sketches are MERGEABLE:
    * each pair's union sketch is the k smallest of the two sketches'
    * concatenation — computed from the 25×64-row sketch frame alone,
    * never revisiting raw data (the property that makes KMV work at
    * 100 TB: pairwise overlap of N shards costs O(N²k), not another
    * fact scan). Estimators, all exact integer arithmetic: union
    * cardinality (k−1)·2³²  DIV  h_k (Beyer et al. 2007), Jaccard =
    * |union-sketch ∩ both| / K in floor micros. exact_* columns are
    * the full-data audit (one extra distinct-hash self-join, dropped
    * in production); the DuckDB oracle replays sketches AND audit
    * from first principles, so estimator and truth are both pinned.
    */
  def q270KmvJaccard(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    // spread before the per-row md5 fan-out (round 20, §2.5): the
    // single-row-group lineitem scan is ONE task, so 600k md5Prefix32
    // evaluations (and the broadcast join + partial distinct above
    // them) ran single-threaded ahead of the first exchange
    val np = Tables.spread(Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_partkey")))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").cast("int").as("nk"),
        graft.operators.Scale.md5Prefix32(col("l_partkey")).as("h"))
      .distinct()
      .localCheckpoint() // sketches, exact counts, exact intersections
    val cnt = np.groupBy("nk").agg(count(lit(1)).as("__c"))
    val inter = np.select(col("nk").as("na"), col("h"))
      .join(np.select(col("nk").as("nb"), col("h")), Seq("h"))
      .filter(col("na") < col("nb"))
      .groupBy("na", "nb").agg(count(lit(1)).as("__inter"))
    val sk = graft.plans.TopK.topKPerKey(np, Seq("nk"),
      Seq("h" -> true), k).localCheckpoint() // 25×64 rows, read twice
    val spine = cnt.select(col("nk").as("na"))
      .crossJoin(cnt.select(col("nk").as("nb")))
      .filter(col("na") < col("nb"))
    val uv = spine.join(sk.withColumnRenamed("nk", "na"), Seq("na"))
      .select(col("na"), col("nb"), col("h"), lit(1).as("__ia"),
        lit(0).as("__ib"))
      .unionByName(spine.join(sk.withColumnRenamed("nk", "nb"), Seq("nb"))
        .select(col("na"), col("nb"), col("h"), lit(0).as("__ia"),
          lit(1).as("__ib")))
      .groupBy("na", "nb", "h")
      .agg(max(col("__ia")).as("__ia"), max(col("__ib")).as("__ib"))
    // union sketch = k smallest of the merged sketch values; every
    // window is bounded by 2k rows per pair
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("na", "nb").orderBy("h")
    val pair = uv.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy("na", "nb")
      .agg(count(lit(1)).as("__k"), max(col("h")).as("__hk"),
        sum(col("__ia") * col("__ib")).as("__ov"))
    pair
      .join(broadcast(inter), Seq("na", "nb"))
      .join(broadcast(cnt.select(col("nk").as("na"), col("__c").as("__ca"))),
        Seq("na"))
      .join(broadcast(cnt.select(col("nk").as("nb"), col("__c").as("__cb"))),
        Seq("nb"))
      .select(col("na").as("nation_a"), col("nb").as("nation_b"),
        col("__k").cast("bigint").as("k_union"),
        col("__hk").cast("bigint").as("union_kth_hash"),
        col("__ov").cast("bigint").as("sketch_overlap"),
        when(col("__k") < k, col("__k"))
          .otherwise(expr(s"(${k - 1}L * 4294967296L) DIV __hk"))
          .cast("bigint").as("union_est"),
        expr("(1000000L * __ov) DIV __k").cast("bigint")
          .as("jacc_est_micros"),
        (col("__ca") + col("__cb") - col("__inter")).cast("bigint")
          .as("exact_union"),
        col("__inter").cast("bigint").as("exact_inter"),
        expr("(1000000L * __inter) DIV (__ca + __cb - __inter)")
          .cast("bigint").as("jacc_exact_micros"))
      .orderBy("nation_a", "nation_b")
  }

  /** POISSON BOOTSTRAP confidence intervals — the resampling scheme
    * that actually distributes (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012): classical
    * bootstrap needs a global n-out-of-n resample per replicate (a
    * driver-side operation), while the Poisson bootstrap gives every
    * ROW an independent Poisson(1) replicate weight — embarrassingly
    * parallel, one pass for all B=64 replicates. Weights are
    * DETERMINISTIC: replicate 4g+j's uniform is 32-bit word j of
    * md5(orderkey:g) taken mod 10⁶, cut against the Poisson(1) CDF
    * hard-coded in floor micros (367879, 735758, …) — an integer CASE
    * ladder both engines evaluate bit-identically (no RNG, no float
    * CDF). Replicate means are exact floor-division
    * cents; the 95% CI is the (⌈0.025R⌉, R−⌈0.025R⌉+1) order
    * statistics of the 64 replicate means per nation (windows over
    * ≤64-row partitions). The explode(×64) feeds a partial-aggregating
    * groupBy, so the shuffle moves |nations|·B partials, not 64 fact
    * copies — the whole point at 100 TB.
    */
  def q271PoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 64
    // Poisson(1) CDF in floor micros; weight = #thresholds ≤ u
    val cdf = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L, 999916L, 999989L, 999998L, 999999L)
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("__cents"))
      .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"),
        col("c_nationkey").cast("int").as("nk"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("nk"), col("o_orderkey"), col("__cents"))
      // the ×16 digest fan-out below is pure CPU: spread it across the
      // cluster even when the scan arrives as one split (the sf0.1
      // table is a single row group — measured 6.3 s single-task vs
      // 1.5 s spread; at 100 TB a broadcast-join projection can still
      // arrive narrow, so the repartition is the right shape, not a
      // bench hack)
      .repartition(32)
      .localCheckpoint() // replicate fan-out + point estimate
    // the hash is the dominant cost of a deterministic bootstrap
    // (measured: md5 ≈ 6 s of a 7.4 s stage at sf0.1), so each digest
    // feeds FOUR replicates — the 128-bit md5 splits into 4 exact
    // 32-bit words, replicate b = 4·g + j reads word j of digest g —
    // cutting hash calls from B to B/4 per row (7.4 → 4.7 s measured)
    def ladder(u: Column): Column = cdf.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(u >= t, 1L).otherwise(0L) }
    // the 4 words stay COLUMNS through the aggregation (8 buffers per
    // group) and fan out to replicate rows only on the 25×16-row
    // rollup — the fact table is never exploded beyond ×16
    val perG = (0 to 3).foldLeft(o
      .select(col("nk"), col("__cents"),
        concat(col("o_orderkey").cast("string"), lit(":")).as("__kp"),
        explode(sequence(lit(0), lit(B / 4 - 1))).as("__g"))
      .withColumn("__hex",
        md5(concat(col("__kp"), col("__g").cast("string"))))) {
      (df, j) =>
        df.withColumn(s"__w$j", ladder(pmod(
          conv(substring(col("__hex"), lit(j * 8 + 1), lit(8)), 16, 10)
            .cast("long"), lit(1000000L))))
    }
    val rep = perG
      .groupBy("nk", "__g")
      .agg(
        sum(col("__w0") * col("__cents")).as("__swc0"),
        sum(col("__w0")).as("__sw0"),
        sum(col("__w1") * col("__cents")).as("__swc1"),
        sum(col("__w1")).as("__sw1"),
        sum(col("__w2") * col("__cents")).as("__swc2"),
        sum(col("__w2")).as("__sw2"),
        sum(col("__w3") * col("__cents")).as("__swc3"),
        sum(col("__w3")).as("__sw3"))
      .select(col("nk"), col("__g"), explode(array((0 to 3).map { j =>
        struct((col("__g") * 4 + j).cast("long").as("b"),
          col(s"__swc$j").as("swc"), col(s"__sw$j").as("sw"))
      }: _*)).as("__r"))
      .select(col("nk"), col("__r.b").as("__b"), col("__r.swc").as("__swc"),
        col("__r.sw").as("__sw"))
      .filter(col("__sw") > 0)
      .select(col("nk"), col("__b"), expr("__swc DIV __sw").as("__mean"))
      // |nations|·B rows, but the subtree above explodes the fact
      // table ×64 — pin it once; the replicate-count rollup and the
      // CI ranking below both read it
      .localCheckpoint()
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy("nk").orderBy(col("__mean"), col("__b"))
    val rc = rep.groupBy("nk").agg(count(lit(1)).as("__r"))
    val ci = rep.withColumn("__rn", row_number().over(wn))
      .join(broadcast(rc), Seq("nk"))
      .withColumn("__lo", expr("(__r * 25 + 999) DIV 1000"))
      .filter(col("__rn") === col("__lo") ||
        col("__rn") === col("__r") - col("__lo") + 1)
      .groupBy("nk")
      .agg(max(col("__r")).as("n_replicates"),
        min(col("__mean")).as("ci_lo_cents"),
        max(col("__mean")).as("ci_hi_cents"))
    o.groupBy("nk")
      .agg(count(lit(1)).as("n_orders"),
        expr("sum(__cents) DIV count(1)").as("point_mean_cents"))
      .join(broadcast(ci), Seq("nk"))
      .select(col("nk").as("nationkey"),
        col("n_orders").cast("bigint").as("n_orders"),
        col("point_mean_cents").cast("bigint").as("point_mean_cents"),
        col("n_replicates").cast("bigint").as("n_replicates"),
        col("ci_lo_cents").cast("bigint").as("ci_lo_cents"),
        col("ci_hi_cents").cast("bigint").as("ci_hi_cents"))
      .orderBy("nationkey")
  }

  /** EQUI-DEPTH HISTOGRAM + column statistics — the optimizer-stats
    * build behind ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS: row
    * count, exact NDV, min/max, and 16 equi-depth bin upper bounds
    * (the value at global rank ⌈i·n/16⌉) for the lineitem price
    * column in exact integer cents. The type-1 boundary needs a
    * GLOBAL rank — the classic one-task `row_number() OVER (ORDER BY
    * price)` trap at 100 TB — so the ranks ride
    * [[graft.operators.Relational.globalOrdinals]] (range-partition,
    * local windows, broadcast offsets) and the 16 target ranks join
    * against the ordinal frame as a broadcast. The boundary VALUE at
    * a rank is tie-order invariant, so sorting by the value alone is
    * a sufficient total order here. Oracle replays with a plain
    * global row_number — same ranks, same values.
    */
  def q272EquidepthStats(s: SparkSession, dir: String): DataFrame = {
    val bins = 16
    val v = Tables.lineitem(s, dir)
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("__cents"))
    val ord = graft.operators.Relational.globalOrdinals(
      v, Seq(col("__cents")), rnCol = "__rn")
    // summary stats read the ordinal frame (checkpointed inside
    // globalOrdinals) rather than re-scanning the base: one fact scan
    // serves ranks and stats; n_rows = max ordinal by construction
    val targets = ord
      .agg(max(col("__rn")).as("n_rows"),
        countDistinct(col("__cents")).as("ndv_cents"),
        min(col("__cents")).as("min_cents"),
        max(col("__cents")).as("max_cents"))
      .select(col("*"), explode(sequence(lit(1), lit(bins))).as("bin"))
      .withColumn("__target", expr(s"(bin * n_rows + ${bins - 1}) DIV $bins"))
    ord.join(broadcast(targets), col("__rn") === col("__target"))
      .select(col("bin").cast("int").as("bin"),
        col("__target").cast("bigint").as("target_rank"),
        col("__cents").cast("bigint").as("boundary_cents"),
        col("n_rows").cast("bigint").as("n_rows"),
        col("ndv_cents").cast("bigint").as("ndv_cents"),
        col("min_cents").cast("bigint").as("min_cents"),
        col("max_cents").cast("bigint").as("max_cents"))
      .orderBy("bin")
  }

  /** STREAMING HyperLogLog — the distinct-count sketch maintained as
    * Structured Streaming aggregation state: per (event_type, bucket)
    * the register is a running MAX across three chronology-agnostic
    * micro-batches, so the stream's standing state is m·|types| = 320
    * integers at ANY stream length — the entire point of sketching a
    * stream (exact streaming distinct, q166, must hold every seen id
    * in state). max is order-free, so any batch slicing yields the
    * identical registers; the gate pins stream-final ≡ batch-direct
    * by replaying the registers from first principles in DuckDB
    * (q267's integer-bit-length rho, q192's estimator). Finalization
    * (64-bucket spine fill + estimator + exact audit) happens on the
    * 320-row state table after the stream drains.
    */
  def q273StreamHll(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("q273-stream").toString
    val src = s"$root/src"
    val slices = Seq(0, 1, 2).map { r =>
      FeedMemo.copySlice(dir, s"q273_s$r", src, 1000000000000L + r * 60000L) {
        ev.filter(pmod(col("event_id"), lit(3)) === r)
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      graft.streaming.EventsStream
        .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
          maxFilesPerTrigger = Some(1))
        .select(col("event_type"),
          graft.operators.Scale.md5Prefix32(col("user_id")).as("__h"))
        .select(col("event_type"),
          pmod(col("__h"), lit(64)).cast("int").as("bucket"),
          expr("CAST(__h DIV 64 AS BIGINT)").as("__rest"))
        .select(col("event_type"), col("bucket"),
          when(col("__rest") === 0L, lit(27L))
            .otherwise(lit(27L) - length(bin(col("__rest"))))
            .as("__rho"))
        .groupBy("event_type", "bucket")
        .agg(max(col("__rho")).as("register"))
        .writeStream.outputMode("complete")
    } { regs =>
      val spine = ev.select("event_type").distinct()
        .crossJoin(s.range(0, 64).select(col("id").cast("int").as("bucket")))
      val full = spine.join(regs, Seq("event_type", "bucket"), "left")
        .na.fill(0L, Seq("register"))
        .localCheckpoint() // summary and output both read it
      val summary = full.groupBy("event_type")
        .agg(sum(expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(27 - register AS INT))"))
            .as("__sum_pow"),
          sum(when(col("register") === 0L, 1L).otherwise(0L))
            .as("__n_zero"))
      val raw = ((lit(0.709) * 4096.0) * 134217728.0) /
        col("__sum_pow").cast("double")
      val out = full
        .join(broadcast(ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))),
          Seq("event_type"))
        .join(broadcast(summary), Seq("event_type"))
        .select(col("event_type"), col("bucket"),
          col("register").cast("bigint").as("register"),
          col("n_exact").cast("bigint").as("n_exact"),
          when(raw <= 160.0 && col("__n_zero") > 0,
            floor(lit(64.0) * log(lit(64.0) /
              col("__n_zero").cast("double")) * 1000000.0))
            .otherwise(floor(raw * 1000000.0))
            .cast("bigint").as("est_micros"))
        .orderBy("event_type", "bucket")
        .localCheckpoint(true) // materialize before the finally deletes
      out
    } finally TmpTrees.delete(root)
  }

  /** Incremental aggregate MAINTENANCE — the materialized-view
    * pattern every warehouse rollup runs: the standing per-customer
    * (count, sum) aggregate and a delta batch each fold separately,
    * then MERGE by re-aggregating the partials (count/sum are
    * self-maintainable: merge = sum of partials — never a recompute
    * over the base). The query emits the merged rollup PLUS a
    * `consistent` audit bit comparing it against the full recompute;
    * the oracle computes the full aggregate with TRUE pinned, so any
    * drift between the incremental path and the definition
    * hash-fails. At 100 TB the delta is a day's partition and the
    * merge touches |keys| rows, not history.
    */
  def q254IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("__c"))
      .localCheckpoint() // feeds base, delta, and the recompute audit
    def fold(df: DataFrame) = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("s"))
    val base = fold(o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0))
    val delta = fold(o.filter(pmod(col("o_orderkey"), lit(5)) === 0))
    val merged = base.unionByName(delta)
      .groupBy("o_custkey")
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    val full = fold(o)
      .select(col("o_custkey"), col("n").as("__fn"), col("s").as("__fs"))
    merged.join(full, Seq("o_custkey"))
      .select(col("o_custkey").cast("bigint").as("o_custkey"),
        col("n").cast("bigint").as("n_orders"),
        col("s").cast("bigint").as("sum_cents"),
        (col("n") === col("__fn") && col("s") === col("__fs"))
          .as("consistent"))
      .orderBy("o_custkey")
  }

  /** CUSUM change-point detection (Page 1954) — the classic
    * monitoring statistic over the daily event-count series. The
    * one-sided CUSUM recursion S_t = max(0, S_{t-1} + dev_t) is not a
    * plain window aggregate, but it has the closed form
    * S_t = P_t − min(0, min_{j≤t} P_j) with P the running prefix of
    * deviations — two cumulative window passes, no recursion. The
    * mean is carried as an exact rational (dev_t = D·x_t − T, D days,
    * T total events — everything scaled by D), and the alarm
    * threshold 0.2·T cross-multiplies (S·5 > T·D ⇔ S/D > 0.2·T): no
    * division anywhere. The windows are unpartitioned but run over
    * the |days| DAILY series, not rows — the same bounded envelope as
    * q237's sequential probe (at 100 TB the heavy part is the per-day
    * pre-aggregation, which is an ordinary map-side-combined groupBy).
    * Bounds: |P_t| ≤ D·T, alarm product T·D — both < 2⁶³ for
    * T ≤ 2.5×10¹⁵ events at D=3650.
    */
  def q255Cusum(s: SparkSession, dir: String): DataFrame =
    cusumOverDaily(Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n")))

  /** The closed-form CUSUM fold shared by q255 (batch) and q261 (over
    * streaming-maintained state): input is the (day, n) daily series.
    */
  private def cusumOverDaily(daily: DataFrame): DataFrame = {
    val tot = daily.agg(count(lit(1)).as("__d"), sum(col("n")).as("__t"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot)) // 1-row scalar frame
      .withColumn("__pre",
        sum(col("n") * col("__d") - col("__t")).over(w))
      .withColumn("__rmin", least(min(col("__pre")).over(w), lit(0L)))
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("n").cast("bigint").as("n_events"),
        (col("__pre") - col("__rmin")).cast("bigint").as("cusum_dev"),
        ((col("__pre") - col("__rmin")) * 5 >
          col("__t") * col("__d")).as("alarm"))
      .orderBy("day")
  }

  /** Spatial radius self-join on an integer grid — the point-radius
    * query every geo/embedding-2D stack runs, expressed as CELL
    * BUCKETING: each point lands in a (x DIV r, y DIV r) cell, one
    * side replicates to its 3×3 cell neighborhood, and the join is a
    * plain equi-join on the cell key with the exact integer
    * dist² ≤ r² residual — candidates are O(points per 9 cells),
    * never the O(n²) theta join the oracle runs as proof. Points are
    * the md5-prefix projection of customers onto a 100k×100k grid
    * (the repo's portable-randomness convention) — all arithmetic is
    * exact BIGINT, no trig, no floats. At 100 TB the cell key
    * partitions perfectly and skewed cells split by salting the
    * replicated side.
    */
  def q256GridRadiusJoin(s: SparkSession, dir: String): DataFrame =
    gridRadiusPairs(gridPoints(s, dir), r = 2000L)
      .orderBy("id_a", "id_b")

  /** Core of q256, parametrized on the (id, x, y) point set so the
    * scale probe can feed a tiled N× world (same density, N× area).
    */
  private[graft] def gridRadiusPairs(points: DataFrame,
      r: Long): DataFrame = {
    val pts = points.localCheckpoint()
    val home = pts
      .withColumn("__cx", expr(s"x DIV $r"))
      .withColumn("__cy", expr(s"y DIV $r"))
    val probe = home
      .withColumn("__dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
        (col("__cx") + col("__dx")).as("__cx"),
        (col("__cy") + col("__dy")).as("__cy"))
    home.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"), col("__cx"), col("__cy"))
      .join(probe, Seq("__cx", "__cy"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("dist2") <= r * r)
      .select(col("id_a").cast("bigint").as("id_a"),
        col("id_b").cast("bigint").as("id_b"),
        col("dist2").cast("bigint").as("dist2"))
  }

  /** DBSCAN — density-based clustering composed from two proven
    * pieces: the grid-bucketed radius self-join (q256's
    * [[gridRadiusPairs]]) finds eps-neighbors without an all-pairs
    * blow-up, and min-label connected components (q52's
    * [[graft.operators.Dedup.connectedComponents]]) clusters the CORE
    * points (≥ 3 eps-neighbors). Border points (non-core with a core
    * neighbor) take the MIN core-neighbor cluster — the deterministic
    * resolution of DBSCAN's classic border ambiguity — and the rest
    * is noise. The point-grid EXTENT scales with ⌈√n⌉·1000, so
    * density (≈ 3.1 expected neighbors at eps=1000) is constant at
    * every sf: "more world, not denser" — subcritical for continuum
    * percolation (λπr² ≈ 4.5), which keeps clusters bounded and the
    * oracle's recursive walk (Σ size² rows) finite at any scale.
    * Cluster ids are canonical (min member id), so output is
    * hash-stable.
    */
  def q274Dbscan(s: SparkSession, dir: String): DataFrame = {
    val eps = 1000L
    // the CC loop runs ~log(diameter) rounds of joins over frames that
    // are tiny relative to the cluster (≤ |pairs| rows): per-round
    // task-launch fixed costs at 32 shuffle partitions dominate, so
    // run the whole composition narrow (q52/q168's pattern)
    Confs.scoped(s, Confs.narrow(s, 8)) { q274DbscanBody(s, dir, eps) }
  }

  private def q274DbscanBody(s: SparkSession, dir: String,
      eps: Long): DataFrame =
    dbscanFrom(Tables.customer(s, dir).select(col("c_custkey").as("id")),
      eps)

  /** WEIGHTED shortest paths — multi-source Bellman–Ford over the
    * q274 proximity graph (edge weight = exact BIGINT dist²), with the
    * path bound AS the semantics: after k relaxation rounds the cost
    * at each node is exactly min over paths of ≤ k edges from the
    * nearest seed (every 50th point, cost 0) — no "hope it converged":
    * the DuckDB oracle unrolls the same bound as a depth-limited
    * recursive walk, so the k-edge definition is what both engines
    * compute. Each round is one keyed join + an order-free min
    * aggregate (map-side combinable), checkpointed so the loop's plan
    * stays flat — rounds scale with the HOP bound, never the data, and
    * every shuffle is linear in |edges|. Complements q233 (unweighted
    * multi-source BFS on the co-purchase graph, which thins at sf0.1)
    * with a graph whose density is scale-invariant by construction.
    */
  def q275WeightedPaths(s: SparkSession, dir: String): DataFrame = {
    val eps = 1000L
    val rounds = 6
    // small per-round frames: run narrow (q274's rationale)
    Confs.scoped(s, Confs.narrow(s, 8)) {
      val pts = adaptiveGridPoints(Tables.customer(s, dir)
        .select(col("c_custkey").as("id")))
      val pr = gridRadiusPairs(pts, r = eps)
      val edges = pr.select(col("id_a").as("src"), col("id_b").as("dst"),
          col("dist2").as("__w"))
        .unionByName(pr.select(col("id_b").as("src"),
          col("id_a").as("dst"), col("dist2").as("__w")))
        .localCheckpoint() // probed once per relaxation round
      var dist = pts.filter(pmod(col("id"), lit(50)) === 0)
        .select(col("id"), lit(0L).as("cost"))
        .localCheckpoint()
      for (_ <- 1 to rounds) {
        dist = edges.join(dist.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst").as("id"),
            (col("cost") + col("__w")).as("cost"))
          .unionByName(dist)
          .groupBy("id").agg(min(col("cost")).as("cost"))
          .localCheckpoint()
      }
      dist.select(col("id").cast("bigint").as("id"),
          col("cost").cast("bigint").as("min_cost"))
        .orderBy("id")
    }
  }

  /** q274's engine parametrized on the point-id set, so the scale
    * probe can feed an N× id population — the adaptive ⌈√n⌉ extent
    * keeps density constant automatically ("more world, not denser").
    */
  /** Deterministic constant-density point set over an id population:
    * md5-hash coordinates on a ⌈√n⌉·1000 extent, so expected
    * eps=1000-neighbors ≈ π at ANY n ("more world, not denser").
    * Shared by q274 (DBSCAN) and q275 (weighted shortest paths).
    */
  private[graft] def adaptiveGridPoints(base: DataFrame): DataFrame = {
    val side = base.agg(count(lit(1)).as("__n"))
      .select((expr("CAST(ceil(sqrt(CAST(__n AS DOUBLE))) AS BIGINT)")
        * 1000L).as("__side"))
    base.crossJoin(broadcast(side))
      .select(col("id"),
        pmod(graft.operators.Scale.md5Prefix32(
          concat(lit("x:"), col("id").cast("string"))), col("__side"))
          .as("x"),
        pmod(graft.operators.Scale.md5Prefix32(
          concat(lit("y:"), col("id").cast("string"))), col("__side"))
          .as("y"))
  }

  private[graft] def dbscanFrom(base0: DataFrame, eps: Long): DataFrame = {
    val base = base0
    val points = adaptiveGridPoints(base)
    val pairs = gridRadiusPairs(points, r = eps)
      .select("id_a", "id_b").localCheckpoint() // degrees + both joins
    val deg = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__deg"))
    val core = deg.filter(col("__deg") >= 3).select("id")
      .localCheckpoint() // edge filter, labeling, border election
    val coreEdges = pairs
      .join(core.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(core.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
    // two-level CC: union-find within 8eps×8eps spatial blocks (most
    // of a subcritical cluster lands in one block — the locality key
    // affects only speed, never the result), then the global min-label
    // loop only has to stitch the short cross-block chains — 20 rounds
    // → ~4 measured on this graph
    val blocked = coreEdges.join(
      points.select(col("id").as("id_a"),
        (expr(s"(x DIV ${8 * eps})") * 100000L +
          expr(s"(y DIV ${8 * eps})")).as("__blk")), Seq("id_a"))
    val cc = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.localContract(blocked, col("__blk")))
    // isolated cores (no core-core edge) are their own singleton cluster
    val coreLabel = core.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id"))
        .as("cluster"))
      .localCheckpoint() // border election reads it twice-shaped
    val nbrs = pairs.select(col("id_a").as("id"), col("id_b").as("__nb"))
      .unionByName(pairs.select(col("id_b").as("id"),
        col("id_a").as("__nb")))
    val border = nbrs
      .join(core, Seq("id"), "left_anti")
      .join(coreLabel.select(col("id").as("__nb"),
        col("cluster")), Seq("__nb"))
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    val assigned = coreLabel.select(col("id"), lit("core").as("role"),
        col("cluster"))
      .unionByName(border.select(col("id"), lit("border").as("role"),
        col("cluster")))
    base.join(assigned, Seq("id"), "left")
      .select(col("id").cast("bigint").as("id"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).cast("bigint").as("cluster"))
      .orderBy("id")
  }

  /** Customers projected onto the 100k×100k integer grid via the
    * md5-prefix hash — the deterministic point set shared by q256
    * (radius join) and q257 (k-core over the proximity graph).
    */
  private def gridPoints(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey").as("id"),
      pmod(graft.operators.Scale.md5Prefix32(
        concat(lit("x:"), col("c_custkey").cast("string"))),
        lit(100000L)).as("x"),
      pmod(graft.operators.Scale.md5Prefix32(
        concat(lit("y:"), col("c_custkey").cast("string"))),
        lit(100000L)).as("y"))

  /** k-CORE decomposition (k = 3) of the q256 proximity graph — the
    * standard iterative PEEL: drop every node whose degree within the
    * surviving set is < k, recompute, repeat to fixpoint. Each round
    * is ONE distributed degree aggregation (edges half-joined against
    * the survivor set on both endpoints) — the same N-round join-loop
    * shape as connected components (q52), with per-round
    * localCheckpoints so the lineage never re-derives prior rounds.
    * Converges ≤ [[kCoreMaxRounds]] rounds or fails loudly (the
    * DuckDB oracle unrolls exactly that many peels, so a
    * non-converged answer can never silently pass). Edge count only
    * shrinks round over round — at 100 TB the peel's cost is
    * front-loaded on round 1 and decays geometrically.
    */
  def q257KCore(s: SparkSession, dir: String): DataFrame =
    kCorePeel(gridPoints(s, dir),
      q256GridRadiusJoin(s, dir).select(col("id_a"), col("id_b")), k = 3)

  /** Core of q257, parametrized on (points, edges) for the scale
    * probe. */
  private[graft] def kCorePeel(points: DataFrame, edgesIn: DataFrame,
      k: Int): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val adj = edges.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionByName(edges.select(col("id_b").as("id"),
        col("id_a").as("nb")))
      .localCheckpoint()
    var surv = points.select(col("id")).localCheckpoint()
    var deg: DataFrame = null
    var stable = false
    var round = 0
    while (round < kCoreMaxRounds && !stable) {
      deg = adj
        .join(surv, Seq("id"))
        .join(surv.select(col("id").as("nb")), Seq("nb"))
        .groupBy("id").agg(count(lit(1)).as("core_degree"))
        .filter(col("core_degree") >= k)
        .localCheckpoint()
      stable = deg.count() == surv.count()
      surv = deg.select(col("id"))
      round += 1
    }
    require(stable, s"k-core did not converge in $kCoreMaxRounds rounds")
    deg.select(col("id").cast("bigint").as("id"),
        col("core_degree").cast("bigint").as("core_degree"))
      .orderBy("id")
  }

  /** Shared with the q257 oracle generator: the peel is unrolled this
    * many times there, so Spark must converge within the same bound.
    */
  val kCoreMaxRounds = 12

  /** Maximum drawdown per nation — the running-peak decline statistic
    * over each nation's daily-revenue series (the risk metric every
    * financial time-series stack ships). Daily revenue is one
    * map-side-combined groupBy on (nation, day); the running peak is
    * a cumulative max over windows PARTITIONED by nation (25 parallel
    * series — never a global sort), and drawdown = peak − today folds
    * to one row per nation. Exact integer cents end to end.
    */
  def q258MaxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    val daily = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("day"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("day"))
      .agg(sum(col("__c")).as("r"))
    val w = Window.partitionBy("n_name").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("__peak", max(col("r")).over(w))
      .groupBy("n_name")
      .agg(count(lit(1)).cast("bigint").as("n_days"),
        max(col("r")).cast("bigint").as("peak_day_cents"),
        max(col("__peak") - col("r")).cast("bigint")
          .as("max_drawdown_cents"))
      .orderBy("n_name")
  }

  /** Holt's LINEAR-TREND double exponential smoothing (α = 0.2,
    * β = 0.1) over each nation's daily-revenue series — the
    * forecasting recurrence a single-smoothing EWMA (q217) can't
    * express: level and trend update COUPLED, lₜ = α·yₜ +
    * (1−α)(lₜ₋₁+tₜ₋₁); tₜ = β(lₜ−lₜ₋₁) + (1−β)tₜ₋₁. Both carried as
    * exact integer cents with TRUNCATING division — Spark's DIV and
    * DuckDB's // both truncate toward zero (measured: -7//2 = -3 in
    * DuckDB 1.x), so the trajectory is bit-identical even when a
    * downtrend drives tₜ negative. The fold is one `aggregate()`
    * lambda over the per-nation sorted day array (q217's shape:
    * |days| array elements, never raw facts). Bound: 8·10⁵·|level|
    * < 2⁶³ holds for daily series up to ~10¹³ cents.
    */
  def q259HoltTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("day"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("day"))
      .agg(sum(col("__c")).as("__y"))
    val fdiv = "(%s) DIV 1000000L"
    val nl = fdiv.format("200000L * y + 800000L * (a.l + a.t)")
    daily.groupBy("n_name")
      .agg(sort_array(collect_list(struct(col("day"), col("__y"))))
        .as("__s"))
      .select(col("n_name"),
        size(col("__s")).cast("bigint").as("n_days"),
        expr(s"""aggregate(
            slice(transform(__s, x -> x.__y), 2, size(__s) - 1),
            named_struct('l', element_at(__s, 1).__y, 't', 0L),
            (a, y) -> named_struct(
              'l', $nl,
              't', ${fdiv.format(s"100000L * (($nl) - a.l) + 900000L * a.t")}))
          """).as("__h"))
      .select(col("n_name"), col("n_days"),
        col("__h.l").cast("bigint").as("level_cents"),
        col("__h.t").cast("bigint").as("trend_cents"),
        (col("__h.l") + col("__h.t")).cast("bigint")
          .as("forecast_next_cents"))
      .orderBy("n_name")
  }

  /** Link prediction by COMMON NEIGHBORS + Jaccard over the q256
    * proximity graph — the classic "friend of a friend" candidate
    * generator: distance-2 pairs materialize from ONE self-join of
    * the adjacency list on the middle vertex (each shared neighbor
    * contributes one path row, so count(*) IS |N(a)∩N(b)| on a simple
    * graph), existing edges drop via a LEFT ANTI join, and the
    * Jaccard score cn/(dₐ+d_b−cn) is an exact integer DIV in micros.
    * Support ≥ 2 bounds the output to genuinely-promising pairs. At
    * 100 TB the 2-path join shuffles on the middle vertex — skewed
    * hubs split exactly like any skewed join key (salting / AQE), and
    * the per-vertex fan-out is degree², the quantity hub-capping
    * controls in production link predictors.
    */
  def q260LinkPredict(s: SparkSession, dir: String): DataFrame =
    linkPredictPairs(
      q256GridRadiusJoin(s, dir).select(col("id_a"), col("id_b")))

  /** Core of q260, parametrized on the edge list for the scale
    * probe. */
  private[graft] def linkPredictPairs(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val adj = edges.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionByName(edges.select(col("id_b").as("id"),
        col("id_a").as("nb")))
    val deg = adj.groupBy("id").agg(count(lit(1)).as("__deg"))
    val paths = adj.select(col("id").as("__m"), col("nb").as("id_a"))
      .join(adj.select(col("id").as("__m"), col("nb").as("id_b")),
        Seq("__m"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
    paths.join(edges, Seq("id_a", "id_b"), "left_anti")
      .join(deg.select(col("id").as("id_a"), col("__deg").as("__da")),
        Seq("id_a"))
      .join(deg.select(col("id").as("id_b"), col("__deg").as("__db")),
        Seq("id_b"))
      .select(col("id_a").cast("bigint").as("id_a"),
        col("id_b").cast("bigint").as("id_b"),
        col("cn").cast("bigint").as("common_neighbors"),
        expr("CAST(cn * 1000000L DIV (__da + __db - cn) AS BIGINT)")
          .as("jaccard_micros"))
      .orderBy("id_a", "id_b")
  }

  /** Rendezvous (highest-random-weight) sharding audit — the
    * placement scheme that makes resharding cheap: each key goes to
    * argmax over shards of h(key, shard), so REMOVING a shard moves
    * exactly that shard's keys and nothing else. The query computes
    * the assignment under 10 shards and under 9 (shard 9 retired),
    * then proves the minimal-disruption property in-row: `n_arrivals`
    * counts keys that CHANGED shard, and they sum to the retired
    * shard's population with every survivor's own population intact.
    * Hashes are the portable md5-prefix; argmax ties break toward the
    * smaller shard id via max(struct(h, −s)). Pure projection +
    * one groupBy — no join, no shuffle beyond the count rollup; at
    * 100 TB this is the embarrassingly-parallel layout pass a
    * partition rebalancer runs.
    */
  def q262RendezvousShards(s: SparkSession, dir: String): DataFrame = {
    // spread before the ×10 explode + md5 fan-out (round 20, §2.5
    // input skew): the single-row-group orders scan is ONE task, so
    // 1.5M md5Prefix32 evaluations ran single-threaded ahead of the
    // first exchange
    val hashed = Tables.spread(Tables.orders(s, dir).select(col("o_orderkey")))
      .withColumn("__s", explode(sequence(lit(0L), lit(9L))))
      .withColumn("__h", graft.operators.Scale.md5Prefix32(
        concat(col("o_orderkey").cast("string"), lit(":"),
          col("__s").cast("string"))))
    def assign(df: DataFrame, outCol: String): DataFrame =
      df.groupBy("o_orderkey")
        .agg(max(struct(col("__h").as("h"), (-col("__s")).as("ns")))
          .as("__m"))
        .select(col("o_orderkey"), (-col("__m.ns")).as(outCol))
    val a10 = assign(hashed, "shard10")
    val a9 = assign(hashed.filter(col("__s") < 9), "shard9")
    // the a10⋈a9 frame feeds BOTH rollups (departures per shard10,
    // arrivals per shard9) — pin it once or the 10×-exploded md5
    // aggregation upstream executes twice per consumer (the
    // double-consumed-subtree gotcha; this was the 2nd-slowest bench
    // query while it re-derived the join in each branch)
    val moves = a10.join(a9, Seq("o_orderkey")).localCheckpoint()
    moves
      .groupBy(col("shard10").as("shard"))
      .agg(count(lit(1)).cast("bigint").as("n_keys"),
        sum(when(col("shard9") =!= col("shard10"), 1L).otherwise(0L))
          .cast("bigint").as("n_departures"))
      .join(
        moves
          .filter(col("shard9") =!= col("shard10"))
          .groupBy(col("shard9").as("shard"))
          .agg(count(lit(1)).cast("bigint").as("n_arrivals")),
        Seq("shard"), "left")
      .select(col("shard").cast("bigint").as("shard"), col("n_keys"),
        col("n_departures"),
        coalesce(col("n_arrivals"), lit(0L)).cast("bigint")
          .as("n_arrivals"))
      .orderBy("shard")
  }

  /** CUPED variance reduction (Deng et al. 2013) — the
    * experimentation-platform readout: per-customer PRE-period spend
    * (1995-97) is the covariate X, POST-period spend (1998+) the
    * metric Y, treatment T a deterministic md5 coin, and the adjusted
    * metric Yadj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) POOLED
    * across arms. Everything is integer-exact: the five sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²) come from ONE aggregate pass
    * with decimal(38,0) products (the q199 overflow rule),
    * θ lands as micros via one decimal DIV, and each arm's adjusted
    * mean is carried CROSS-MULTIPLIED — sum over the arm of
    * (n·y − n·ȳ-free form) … concretely Σ_g[y·10⁶·n − θµ·(n·x − Σx)]
    * DIV (n_g·n) — so no float touches the pipeline and both engines
    * agree bit-for-bit. The variance-reduction claim itself is
    * reported as the exact integer Σ(n·x−Σx)² scale factor, not a
    * rounded ratio. One fact scan, one broadcastable 1-row stats
    * frame: the 100 TB plan is two map-side-combined aggregations.
    */
  def q263Cuped(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"),
        (year(col("o_orderdate")) <= 1997).as("__pre"))
      .groupBy("o_custkey")
      .agg(sum(when(col("__pre"), col("__c")).otherwise(0L)).as("x"),
        sum(when(!col("__pre"), col("__c")).otherwise(0L)).as("y"))
      .withColumn("t",
        pmod(graft.operators.Scale.md5Prefix32(
          concat(lit("t:"), col("o_custkey").cast("string"))), lit(2L)))
      .localCheckpoint() // feeds pooled stats AND the per-arm fold
    val stats = per.agg(count(lit(1)).as("__n"),
      sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("__sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("__sxx"))
    // θ·10⁶ = (n·Σxy − Σx·Σy)·10⁶ DIV (n·Σx² − Σx·Σx), all decimal
    val withTheta = per.crossJoin(broadcast(stats))
      .withColumn("__theta6", expr(
        """CAST((CAST(__n AS DECIMAL(38,0)) * __sxy
          |  - CAST(__sx AS DECIMAL(38,0)) * __sy) * 1000000
          |  DIV (CAST(__n AS DECIMAL(38,0)) * __sxx
          |  - CAST(__sx AS DECIMAL(38,0)) * __sx) AS DECIMAL(38,0))
          |""".stripMargin))
    withTheta
      .withColumn("__adj", expr(
        """CAST(y AS DECIMAL(38,0)) * 1000000 * __n
          |  - __theta6 * (CAST(x AS DECIMAL(38,0)) * __n - __sx)
          |""".stripMargin))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("__ng"),
        sum(col("y")).as("__sumy"),
        sum(col("__adj")).as("__sumadj"),
        max(col("__theta6")).as("__t6"),
        max(col("__n")).as("__nn"))
      .select(col("t").cast("bigint").as("t"),
        col("__ng").cast("bigint").as("n_units"),
        col("__sumy").cast("bigint").as("sum_y_cents"),
        expr("CAST(CAST(__sumy AS DECIMAL(38,0)) * 1000000 DIV __ng " +
          "AS BIGINT)").as("mean_y_micros"),
        expr("CAST(__sumadj DIV (CAST(__ng AS DECIMAL(38,0)) * __nn) " +
          "AS BIGINT)").as("mean_yadj_micros"),
        col("__t6").cast("bigint").as("theta_micros"))
      .orderBy("t")
  }

  /** STREAMING CUSUM drift monitor — q255's alarm statistic over
    * state a stream maintains instead of a batch scan: events replay
    * as micro-batches (one file per trigger), the per-day counts are
    * an incrementally-maintained streaming aggregate (update-mode
    * state, the q168 shape), and the closed-form CUSUM fold runs on
    * the maintained series. The hash gate pins the WHOLE composition
    * to the batch definition — the oracle is literally q255's SQL —
    * so watermark/state bugs can't hide behind "it's streaming". At
    * 100 TB the state is |days| rows per partition spine, and each
    * trigger touches only the days its batch contains.
    */
  def q261StreamCusum(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("ts"), col("event_id"))
    val root = java.nio.file.Files.createTempDirectory("q261-stream")
      .toString
    val src = s"$root/src"
    val slices = Seq(0, 1, 2).map { r =>
      FeedMemo.copySlice(dir, s"q261_s$r", src, 1000000000000L + r * 60000L) {
        ev.filter(pmod(col("event_id"), lit(3)) === r)
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      graft.streaming.EventsStream
        .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
          maxFilesPerTrigger = Some(1))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
    } {
      cusumOverDaily(_)
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** CUBE — the last member of the grouping-extension family (ROLLUP
    * q22, GROUPING SETS q120): all four (returnflag × linestatus)
    * margins in one Expand pass, with GROUPING() flags distinguishing
    * a real NULL key from a subtotal row (the reason the flags exist).
    */
  def q146Cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).cast("bigint").as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("__q"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("g_rf"), col("g_ls"), col("n"),
        col("__q").cast("decimal(18,2)").cast("double").as("sum_qty"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag"), col("l_linestatus"))

  /** Null-semantics suite — the behaviors every engine swap trips
    * over, pinned cross-engine in one query: a key column made ~1/7
    * NULL (nullif), grouped WITH the null group retained; count(*) vs
    * count(col) (null-skipping); and a NULL-SAFE equi-join (`<=>` /
    * IS NOT DISTINCT FROM) between per-side aggregates, where the
    * null↔null group MUST match (an inner equi-join would silently
    * drop it — `matched` pins which engine semantics ran). Aggregating
    * BEFORE the null-safe join keeps it one row per key; Spark plans
    * `<=>` as a hash join on the key exactly like `=` (null-safe
    * equality is still an equi-key), so the shape survives scale.
    */
  def q147NullSemantics(s: SparkSession, dir: String): DataFrame = {
    val nk = when(pmod(col("c_nationkey"), lit(7)) === 0, lit(null))
      .otherwise(col("c_nationkey")).cast("int")
    val cust = Tables.customer(s, dir).select(nk.as("nk"))
      .groupBy("nk").agg(count(lit(1)).as("n_cust"))
    val snk = when(pmod(col("s_nationkey"), lit(7)) === 0, lit(null))
      .otherwise(col("s_nationkey")).cast("int")
    val supp = Tables.supplier(s, dir).select(snk.as("snk"))
      .groupBy("snk").agg(count(lit(1)).as("n_supp"))
    cust.join(supp, col("nk") <=> col("snk"), "left")
      .select(col("nk"),
        col("n_cust").cast("bigint").as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).cast("bigint").as("n_supp"),
        col("n_supp").isNotNull.as("matched"))
      .orderBy(asc_nulls_first("nk"))
  }

  /** CDC MERGE at the declared surface ([[Relational.mergeCdc]]): a
    * change feed synthesized from orders — every order is a CDC record
    * against its customer (or, for every 5th order, a brand-NEW key),
    * every 7th order a DELETE, sequenced by orderkey — is net-reduced
    * last-op-wins and merged into the customer snapshot. Update
    * payloads carry the target row with the balance replaced (the
    * matched-UPDATE arm), new keys synthesize full rows (the
    * not-matched-INSERT arm), and net deletes drop the row. The result
    * is the complete merged snapshot, row-for-row.
    */
  def q148MergeCdc(s: SparkSession, dir: String): DataFrame = {
    val tgt = Tables.customer(s, dir).select(col("c_custkey"),
      col("c_name"), col("c_nationkey").cast("int").as("c_nationkey"),
      col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"),
      col("c_mktsegment"))
    val raw = Tables.orders(s, dir).select(
      when(pmod(col("o_orderkey"), lit(5)) === 0,
        col("o_custkey") + 100000).otherwise(col("o_custkey"))
        .as("c_custkey"),
      col("o_orderkey").as("__seq"),
      when(pmod(col("o_orderkey"), lit(7)) === 0, lit("D"))
        .otherwise(lit("U")).as("__op"),
      col("o_totalprice").cast("decimal(18,2)").as("__bal"))
    // build full-row change payloads: matched keys carry the target's
    // other columns, new keys synthesize them — the MERGE arms made
    // explicit before the generic net-reduce/apply
    val changes = raw.join(tgt.select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment")), Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("c_name"),
          concat(lit("NEW#"), col("c_custkey"))).as("c_name"),
        coalesce(col("c_nationkey"),
          pmod(col("c_custkey"), lit(25)).cast("int")).as("c_nationkey"),
        col("__bal").as("c_acctbal"),
        coalesce(col("c_mktsegment"), lit("CDC")).as("c_mktsegment"),
        col("__seq"), col("__op"))
    Relational.mergeCdc(tgt, changes, Seq("c_custkey"), "__seq", "__op")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast("double").as("c_acctbal"),
        col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Support-pruned co-purchase pair mining (the a-priori 2-itemset
    * pass): parts that co-occur in the same order, counted over
    * DISTINCT (order, part) pairs, with the a-priori prune applied
    * BEFORE pairing — only parts whose own order-support clears the
    * floor enter the per-order self-join, so the quadratic step runs
    * over the frequent-item slice, never the raw basket stream (at
    * 100 TB the prune is what keeps the pair space finite; baskets
    * bound the per-order blowup at items²). Pair support then filters
    * again and the result ranks by lift-free raw support.
    */
  def q149CopurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val (pairs, _, _, _) = copurchaseCounts(s, dir, minItem = 25L, minPair = 3L)
    pairs
      .select(col("part_a"), col("part_b"),
        col("__nab").cast("bigint").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
  }

  /** Deterministic stratified sampling — k customers per market
    * segment, elected by an engine-portable hash order
    * ([[graft.operators.Scale.md5Prefix32]]) so the "random" sample is
    * reproducible across runs, engines, and partitionings (the property
    * a training-data pipeline needs for auditable splits). Runs on the
    * custom [[graft.plans.TopKPerKey]] physical operator: bounded heap
    * per stratum (O(n log k), no per-partition full sort) — at 100 TB
    * the strata are few and huge, exactly the regime where heap
    * selection beats the window-sort plan. Tie-break on c_custkey makes
    * the order total (md5 collisions can't flip membership).
    */
  def q150StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 20
    val hashed = Tables.customer(s, dir).select(
      col("c_mktsegment"), col("c_custkey"), col("c_name"),
      col("c_acctbal"),
      graft.operators.Scale.md5Prefix32(col("c_custkey")).as("__h"))
    graft.plans.TopK.topKPerKey(hashed, Seq("c_mktsegment"),
        Seq(("__h", true), ("c_custkey", true)), k)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_name"),
        col("c_acctbal"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Rolling 7-day distinct users (WAU) next to same-day DAU — the
    * sliding-distinct aggregate Spark windows can't express (no
    * count(DISTINCT) over a frame). Scale shape: dedup events to the
    * (user, day) grid FIRST (one shuffle collapses ~100s of events per
    * user-day to one row), then a bounded 7× calendar fan-out of the
    * GRID (not the raw events) feeds a distinct count per target day.
    * Day fan-out beats a day-range self-join at scale: no skew on hot
    * days, and the expand is map-side. Output days are restricted to
    * observed days (semi join against the grid's day set).
    */
  def q151RollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .localCheckpoint() // grid feeds fan-out, DAU, and the day filter
    val days = grid.select(col("day")).distinct()
    val wau = grid
      .withColumn("__off", explode(sequence(lit(0), lit(6))))
      .select(col("user_id"),
        date_add(col("day"), col("__off").cast("int")).as("day"))
      .join(days, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = grid.groupBy("day")
      .agg(countDistinct(col("user_id")).as("dau"))
    wau.join(dau, Seq("day"))
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("dau").cast("bigint").as("dau"),
        col("wau").cast("bigint").as("wau"))
      .orderBy("day")
  }

  /** 2-D skyline (Pareto frontier: minimize p_retailprice, maximize
    * p_size) via the O(n log n) sweep instead of the O(n²) dominance
    * self-join: collapse to one row per distinct price (max size),
    * running-max the size over STRICTLY cheaper prices (ROWS frame on
    * the distinct-price relation), then a part is dominated iff a
    * cheaper price reached its size or its own price level holds a
    * strictly larger size. Comparisons only — no double arithmetic, so
    * the engines agree bit-for-bit. The oracle is the textbook NOT
    * EXISTS dominance definition: the check proves sweep ≡ definition.
    * At 100 TB the price-level rollup is the reduction AND the sweep
    * itself is two-phase parallel: prices range-partition into buckets
    * (equal prices co-located, bucket order = price order), each bucket
    * sweeps locally under a partitionBy(bucket) window, and the only
    * cross-bucket state is one running max carried over the
    * |buckets|-row summary — the classic "local skylines, then a
    * skyline of skylines" decomposition, executed. No row-scale
    * unpartitioned window anywhere (the r12 audit caught the old
    * single-task `Window.orderBy(price)` form); the lone global window
    * left is the |buckets|-row carry, bounded by construction.
    */
  def q152Skyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val nPart = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .toOption.filter(_ > 0).getOrElse(32) // "auto"-safe parse
    val perPrice = p.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("__mx"))
      // bucket = range-partition id: ascending price ranges, so bucket
      // order IS price order and the carry below is a legal prefix
      .repartitionByRange(nPart, col("p_retailprice"))
      .withColumn("__bkt", spark_partition_id())
      .localCheckpoint() // feeds the local sweep twice (rows + summary)
    // phase 1: strictly-cheaper running max WITHIN each bucket (parallel)
    val local = Window.partitionBy(col("__bkt"))
      .orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // phase 2: per-bucket max, prefix-maxed over STRICTLY preceding
    // buckets — a |buckets|-row frame, the bounded-window envelope
    val carry = perPrice.groupBy(col("__bkt"))
      .agg(max(col("__mx")).as("__bmx"))
      .withColumn("__carry", max(col("__bmx")).over(
        Window.orderBy(col("__bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__bkt"), col("__carry"))
    val frontier = perPrice
      .withColumn("__mx_local", max(col("__mx")).over(local))
      .join(broadcast(carry), Seq("__bkt"))
      .withColumn("__mx_lt",
        when(col("__mx_local").isNull, col("__carry"))
          .when(col("__carry").isNull, col("__mx_local"))
          .otherwise(greatest(col("__mx_local"), col("__carry"))))
    p.join(frontier, Seq("p_retailprice"))
      .filter((col("__mx_lt").isNull || col("__mx_lt") < col("p_size")) &&
        col("__mx") <= col("p_size"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
        col("p_size").cast("int").as("p_size"))
      .orderBy("p_retailprice", "p_partkey")
  }

  /** Calendar gap-fill (the time-series densification every metrics
    * pipeline needs): per-user daily counts, densified to a contiguous
    * per-user date spine via `sequence(min_day, max_day)` — the spine
    * is |users| × span rows, NOT a function of raw event volume — then
    * left-joined back, with missing days zero-filled and a
    * forward-fill of the last active day. The forward-fill is
    * `max(CASE WHEN active THEN day END)` over the running frame —
    * day is monotone within the frame, so running-max ≡ last-non-null
    * but avoids engine-specific IGNORE NULLS forms entirely. One
    * shuffle on user_id serves the rollup, the spine join, and the
    * window. Dates and counts only — no doubles anywhere.
    */
  def q154GapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
      .select(col("user_id"),
        explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("last_active_day",
        max(when(col("n").isNotNull, col("day"))).over(w))
      .select(col("user_id"),
        col("day").cast("timestamp_ntz").as("day"),
        coalesce(col("n"), lit(0L)).cast("bigint").as("n_events"),
        col("n").isNull.as("is_gap"),
        col("last_active_day").cast("timestamp_ntz")
          .as("last_active_day"),
        datediff(col("day"), col("last_active_day")).cast("int")
          .as("days_since_active"))
      .orderBy("user_id", "day")
  }

  /** Exact moving median — type-1 (ordinal ceil(n/2), the q145
    * convention: no interpolation semantics to reconcile between
    * engines) over a trailing 7-row frame per user. Spark has no
    * median-over-frame, so the frame is materialized as a sorted
    * array (`sort_array(collect_list over window)`) and indexed — the
    * array is bounded at 7 elements, so per-row state is O(frame), not
    * O(partition). Selection only, no arithmetic on the doubles: the
    * elected value is bit-identical across engines by construction.
    */
  def q155MovingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("event_id"), col("value"))
      .withColumn("__arr", sort_array(collect_list(col("value")).over(w)))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        size(col("__arr")).as("n_window"),
        element_at(col("__arr"),
          ceil(size(col("__arr")) / lit(2.0)).cast("int")).as("med7"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Burst detection — per event type and day, flag days whose count
    * exceeds 2× the trailing-7-day mean, with the comparison as an
    * integer cross-multiplication (n·n_prev_days > 2·prev7 — no
    * division, no doubles at the boundary) and a 3-observed-day
    * minimum so a series' first days can't self-flag. The RANGE frame
    * spans calendar distance on a day index (gap-days count as absent,
    * exactly like q111), and the rollup happens BEFORE the window, so
    * the window runs over ≤ types×days rows, never raw events.
    */
  def q157BurstDetection(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__idx",
        datediff(col("day"), lit("2024-01-01").cast("date")))
    val w = Window.partitionBy("event_type").orderBy(col("__idx"))
      .rangeBetween(-7, -1)
    daily
      .withColumn("prev7", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("n_prev_days", count(col("n")).over(w))
      .select(col("event_type"),
        col("day").cast("timestamp_ntz").as("day"),
        col("n").cast("bigint").as("n"),
        col("prev7").cast("bigint").as("prev7"),
        col("n_prev_days").cast("bigint").as("n_prev_days"),
        (col("n_prev_days") >= 3 &&
          col("n") * col("n_prev_days") > col("prev7") * 2)
          .as("is_burst"))
      .orderBy("event_type", "day")
  }

  /** SCD Type-2 dimension build — the warehouse-canonical "track every
    * attribute version with validity intervals" op, derived from a
    * change feed (orders as per-customer changes, effective at
    * o_orderdate): one lead() over the (date, orderkey)-total order
    * yields the EXCLUSIVE end bound, the last version per key carries
    * a NULL end and is_current. One shuffle, one window pass; at
    * 100 TB the feed shuffles once on the business key and each key's
    * history sorts independently.
    */
  def q158Scd2Build(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderstatus"), col("o_orderdate"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").cast("timestamp_ntz").as("valid_from"),
        col("valid_to").cast("timestamp_ntz").as("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** Chi-square contingency cells (event_type × user-parity cohort):
    * observed counts vs independence-expected, each cell's χ² term as
    * (o·N − r·c)² / (N·r·c) — margins and the numerator stay exact
    * integers, ONE double division per cell, reported in
    * floor-fixed-point micros (identical IEEE inputs → identical
    * floor on both engines; no order-dependent double summation
    * anywhere — the statistic total is the integer sum of cell
    * micros). The contingency table is |types| × |cohorts| rows — the
    * reduction happens in the first aggregate, so the test costs one
    * groupBy at any scale.
    */
  def q159ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"),
        pmod(col("user_id"), lit(2)).cast("int").as("cohort"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("event_type").agg(sum(col("o")).as("__r"))
    val cols_ = cells.groupBy("cohort").agg(sum(col("o")).as("__c"))
    val n = cells.agg(sum(col("o")).as("__n"))
    cells.join(broadcast(rows), Seq("event_type"))
      .join(broadcast(cols_), Seq("cohort"))
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("cohort"),
        col("o").cast("bigint").as("o"),
        floor(col("__r") * col("__c") / col("__n").cast("double") * 1e6)
          .cast("bigint").as("e_micros"),
        floor((col("o") * col("__n") - col("__r") * col("__c")) *
            (col("o") * col("__n") - col("__r") * col("__c")) /
            (col("__n") * col("__r") * col("__c")).cast("double") * 1e6)
          .cast("bigint").as("chi2_micros"))
      .orderBy("event_type", "cohort")
  }

  /** TPC-H Q16 shape — supplier-diversity count: distinct suppliers
    * per (brand, type, size) bucket, EXCLUDING a blacklist (every
    * 13th supplier stands in for Q16's complaint scan) via the NOT-IN
    * anti-join, excluding one brand and a type prefix. The
    * count(DISTINCT) runs AFTER the anti-join and the dim filters, so
    * the distinct shuffle carries only surviving (bucket, supplier)
    * pairs; the part dim broadcasts, the blacklist broadcasts as an
    * anti side.
    */
  def q160SupplierDiversity(s: SparkSession, dir: String): DataFrame = {
    val blacklist = Tables.supplier(s, dir)
      .filter(pmod(col("s_suppkey"), lit(13)) === 0)
      .select(col("s_suppkey").as("l_suppkey"))
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#21" &&
        !col("p_type").startsWith("SMALL") &&
        col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      .select(col("p_partkey").as("l_partkey"), col("p_brand"),
        col("p_type"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(blacklist), Seq("l_suppkey"), "left_anti")
      .join(broadcast(parts), Seq("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"),
        col("p_size").cast("int").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** Incremental materialized-view maintenance via partial-aggregate
    * algebra: the "view" (per-segment order stats) is maintained as
    * partials — count/sum/min/max computed independently on the base
    * slice (orders before the cutoff) and the delta slice (after) —
    * then MERGED by re-aggregation (sum of counts, sum of sums, min
    * of mins, max of maxes; avg derived from merged sum/count at the
    * very end). The oracle computes the full aggregate directly, so
    * hash equality IS the algebraic proof that merge(partial(A),
    * partial(B)) = full(A ∪ B) — the property that lets a 100 TB view
    * absorb a daily partition in O(delta) instead of O(history).
    */
  def q161IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .join(broadcast(seg), Seq("o_custkey"))
    val cutoff = lit("1999-01-01").cast("timestamp")
    def partial(df: DataFrame): DataFrame =
      df.groupBy("c_mktsegment").agg(
        count(lit(1)).as("__n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("__s"),
        min(col("o_totalprice")).as("__mn"),
        max(col("o_totalprice")).as("__mx"))
    partial(o.filter(col("o_orderdate") < cutoff))
      .unionByName(partial(o.filter(col("o_orderdate") >= cutoff)))
      .groupBy("c_mktsegment")
      .agg(sum(col("__n")).as("n_orders"),
        sum(col("__s")).as("__total"),
        min(col("__mn")).as("min_price"),
        max(col("__mx")).as("max_price"))
      .select(col("c_mktsegment"),
        col("n_orders").cast("bigint").as("n_orders"),
        col("__total").cast("double").as("total_price"),
        col("min_price"), col("max_price"),
        (col("__total").cast("double") / col("n_orders"))
          .as("avg_price"))
      .orderBy("c_mktsegment")
  }

  /** Gaps-and-islands — longest consecutive-day activity streak per
    * user, via the day-index-minus-row-number trick: within a user,
    * consecutive days share (idx − rn), so one window pass labels
    * every island and a count per (user, island) measures each
    * streak. The election of the longest (earliest start on ties) is
    * one max(struct) aggregate. Runs on the deduped (user, day) grid,
    * so window and aggregate cost scale with active user-days, not
    * events. Integers and dates only.
    */
  def q162Streaks(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("__idx",
        datediff(col("day"), lit("2024-01-01").cast("date")))
    val w = Window.partitionBy("user_id").orderBy("__idx")
    val islands = grid
      .withColumn("__isl", col("__idx") - row_number().over(w))
      .groupBy(col("user_id"), col("__isl"))
      .agg(count(lit(1)).as("__len"), min(col("day")).as("__start"),
        max(col("day")).as("__end"), min(col("__idx")).as("__sidx"))
    islands.groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"),
        max(struct(col("__len"), (-col("__sidx")).as("__neg"),
          col("__start"), col("__end"))).as("__best"))
      .select(col("user_id"),
        col("n_streaks").cast("bigint").as("n_streaks"),
        col("__best.__len").cast("bigint").as("best_len"),
        col("__best.__start").cast("timestamp_ntz").as("streak_start"),
        col("__best.__end").cast("timestamp_ntz").as("streak_end"))
      .orderBy("user_id")
  }

  /** Exact per-group mode with a deterministic tie-break (most
    * frequent l_quantity per return flag; lowest value wins ties):
    * count per (group, value), then ONE max(struct(count, −value))
    * aggregate elects the mode — two shuffles total, no window over
    * the value histogram. The doubles are compared and negated only
    * (selection, bit-exact both engines).
    */
  def q163GroupMode(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("__c"))
      .groupBy("l_returnflag")
      .agg(max(struct(col("__c"), (-col("l_quantity")).as("__nv")))
        .as("__m"))
      .select(col("l_returnflag"),
        (-col("__m.__nv")).as("mode_qty"),
        col("__m.__c").cast("bigint").as("mode_count"))
      .orderBy("l_returnflag")
  }

  /** Exact 3-sigma outlier detection per event type — the data-
    * cleaning pass, with the entire test in EXACT integer arithmetic:
    * values in cents (2dp-exact decimals), per-group moments as
    * decimal sums (n, Σx, Σx²), and the verdict cross-multiplied as
    * (n·x − Σx)² > 9·(n·Σx² − (Σx)²) — algebraically (x−μ)² > 9σ²
    * with every division cleared, so there is NO floating-point
    * boundary anywhere (the z² report is the only derived double,
    * floored to micros from identical exact integers). One aggregate
    * + one broadcast join back; moments are O(groups) rows at any
    * scale.
    */
  def q164SigmaOutliers(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)")
    val e = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        cents.as("__x"))
    val m = e.groupBy("event_type").agg(
      count(lit(1)).as("__n"),
      sum(col("__x")).as("__s"),
      sum((col("__x") * col("__x")).cast("decimal(37,0)")).as("__s2"))
    val d = (col("__n") * col("__x") - col("__s")).cast("decimal(18,0)")
    val varN2 = col("__n") * col("__s2") - col("__s") * col("__s")
    e.join(broadcast(m), Seq("event_type"))
      .filter((d * d).cast("decimal(38,0)") >
        (varN2 * 9).cast("decimal(38,0)"))
      .select(col("event_type"), col("event_id"), col("value"),
        (col("__n") * col("__x") > col("__s")).as("above_mean"),
        floor((d * d).cast("double") / varN2.cast("double") * 1e6)
          .cast("bigint").as("z2_micros"))
      .orderBy("event_type", "event_id")
  }

  /** JSON-column analytics at the declared surface: the `props` JSON
    * string is parsed in place (get_json_object — no UDF, codegen
    * path) and the extracted field aggregates per event type. At
    * 100 TB the parse rides the scan projection; nothing materializes
    * the parsed form.
    */
  def q165JsonExtract(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_parsed"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("distinct_k"))
      .select(col("event_type"),
        col("n_parsed").cast("bigint").as("n_parsed"),
        col("sum_k").cast("bigint").as("sum_k"),
        col("min_k").cast("bigint").as("min_k"),
        col("max_k").cast("bigint").as("max_k"),
        col("distinct_k").cast("bigint").as("distinct_k"))
      .orderBy("event_type")
  }

  /** Cumulative distinct users by day — the "total uniques to date"
    * curve — via the first-seen trick: cumulative count(DISTINCT) has
    * no window form, but every user contributes exactly once at their
    * FIRST day, so min(day) per user + a per-day count + a running
    * sum over the day series is the same curve with no distinct state
    * at all. The running sum spans ≤ |days| rows; the heavy lifting
    * is one user-keyed aggregate. Days with no first-timers still
    * appear (spine from observed days, zero-filled).
    */
  def q166CumulativeDistinct(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firsts = grid.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("__new"))
    val days = grid.select(col("day")).distinct()
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(firsts, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("__new"), lit(0L)))
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("new_users").cast("bigint").as("new_users"),
        sum(col("new_users")).over(w).cast("bigint")
          .as("cumulative_users"))
      .orderBy("day")
  }

  /** Ratio-to-report — each (segment, priority) cell's share of its
    * segment's revenue, in exact fixed-point micros: cell and segment
    * totals are exact decimals, the share is ONE floored double
    * division of identical exact inputs (the portable form; no
    * percentage drifts at bucket boundaries). Cell rollup first, the
    * share via a window sum over the ≤ segments×priorities cells —
    * never a second pass over facts.
    */
  def q167ShareOfTotal(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val cells = Tables.orders(s, dir)
      .join(broadcast(seg), Seq("o_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("__rev"))
    val w = Window.partitionBy("c_mktsegment")
    cells
      .withColumn("__tot", sum(col("__rev")).over(w))
      .select(col("c_mktsegment"), col("o_orderpriority"),
        col("__rev").cast("double").as("revenue"),
        floor(col("__rev").cast("double") / col("__tot").cast("double")
          * 1e6).cast("bigint").as("share_micros"))
      .orderBy("c_mktsegment", "o_orderpriority")
  }

  /** Streaming incremental view maintenance — q161's partial-merge
    * algebra run by the engine itself: the per-type stats view
    * (count / decimal sum / min / max) is maintained as Structured
    * Streaming aggregation STATE across three chronology-agnostic
    * micro-batches (complete mode), and the final state must equal
    * the batch full recompute (the DuckDB oracle computes exactly
    * that). This is the production shape of q161: the view absorbs
    * each arriving slice in O(slice), never re-reads history, and the
    * decimal sum keeps the merge order-free so ANY slicing yields the
    * identical answer.
    */
  def q168StreamIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("q168-stream").toString
    val src = s"$root/src"
    val slices = Seq(0, 1, 2).map { r =>
      FeedMemo.copySlice(dir, s"q168_s$r", src, 1000000000000L + r * 60000L) {
        ev.filter(pmod(col("event_id"), lit(3)) === r)
      }
    }
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      graft.streaming.EventsStream
        .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
          maxFilesPerTrigger = Some(1))
        .withColumn("__v", col("value").cast("decimal(18,2)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("__v")).as("total"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .writeStream.outputMode("complete")
    } {
      _.select(col("event_type"), col("n").cast("bigint").as("n"),
          col("total").cast("decimal(18,2)").cast("double")
            .as("total_value"),
          col("min_value"), col("max_value"),
          (col("total").cast("decimal(18,2)").cast("double") / col("n"))
            .as("avg_value"))
        .orderBy("event_type")
        .localCheckpoint(true) // materialize before the finally deletes
    } finally TmpTrees.delete(root)
  }

  /** Last-touch attribution — each purchase credited to the user's
    * most recent view/click within a 30-minute lookback, else
    * "direct". NO join at all: one window per user over the (ts,
    * event_id)-total order carries the running max(CASE) of touch
    * structs (struct max = lexicographic latest touch), purchases
    * just read it — the union-and-window form that replaces the
    * per-conversion as-of join with a single shuffle at any scale.
    * The gap rides exact epoch-micros integer division.
    */
  def q169Attribution(s: SparkSession, dir: String): DataFrame = {
    val touch = col("event_type").isin("view", "click")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("__lt", max(when(touch,
        struct(col("ts"), col("event_id").as("__id"),
          col("event_type").as("__ty")))).over(w))
      .filter(col("event_type") === "purchase")
      // gap in exact integer MICROS; the 30-min window and the
      // reported seconds both derive from it with no float boundary
      .withColumn("__gap_us",
        unix_micros(col("ts")) - unix_micros(col("__lt.ts")))
      .withColumn("__hit",
        col("__lt").isNotNull && col("__gap_us") <= 1800L * 1000000L)
      .select(col("user_id"), col("event_id"),
        when(col("__hit"), col("__lt.__ty")).otherwise(lit("direct"))
          .as("attributed"),
        when(col("__hit"), floor(col("__gap_us") / 1e6).cast("bigint"))
          .as("gap_seconds"))
      .orderBy("user_id", "event_id")
  }

  /** Activity heatmap — the (day-of-week × hour-of-day) rollup every
    * product dashboard draws, with exact decimal value totals. The
    * bucket projection is pure codegen; one shuffle on the 7×24 key
    * grid at any scale (map-side partials collapse everything first).
    * Day-of-week pinned to 0=Sunday on both engines.
    */
  def q170TimeHeatmap(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy((dayofweek(col("ts")) - 1).cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hod"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("__t"))
      .select(col("dow"), col("hod"),
        col("n").cast("bigint").as("n"),
        col("__t").cast("double").as("total_value"))
      .orderBy("dow", "hod")
  }

  /** Period-over-period growth — weekly revenue with the
    * week-over-week delta and growth rate, all in exact integer
    * cents: the lag is one window step over the |weeks|-row rollup,
    * the rate a single floored micros division of exact cents (no
    * percentage drift). The fact pass is one aggregate; everything
    * after runs on the tiny week series.
    */
  def q171WowGrowth(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(s, dir)
      .groupBy(date_trunc("week", col("o_orderdate")).as("week"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)")).as("__cents"))
    val w = Window.orderBy("week")
    weekly
      .withColumn("__prev", lag(col("__cents"), 1).over(w))
      .select(col("week").cast("timestamp_ntz").as("week"),
        (col("__cents").cast("double") / 100).as("revenue"),
        ((col("__cents") - col("__prev")).cast("double") / 100)
          .as("delta"),
        floor((col("__cents") - col("__prev")).cast("double")
          / col("__prev").cast("double") * 1e6)
          .cast("bigint").as("growth_micros"))
      .orderBy("week")
  }

  /** Golden-record survivorship — entity resolution's merge step:
    * duplicate records (customers clustered by a synthetic dup key)
    * collapse to ONE golden row with a DIFFERENT election rule per
    * field — latest source wins the name (max custkey), richest wins
    * the balance (max), mode wins the segment (argmax count, lexical
    * low tie-break), and provenance counts ride along. Everything is
    * ONE aggregate pass: per-field struct-max elections compose in a
    * single groupBy, so survivorship costs exactly one shuffle on
    * the entity key at any scale (the mode needs its histogram
    * pre-pass on the same key — two total).
    */
  def q172GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .withColumn("__ek", pmod(col("c_custkey"), lit(500)))
    // mode with tie-break lexically LAST (strings can't ride the
    // numeric-negation trick; the rule just has to be total and
    // mirrored verbatim in the oracle)
    val modeSeg = c.groupBy("__ek", "c_mktsegment")
      .agg(count(lit(1)).as("__n"))
      .groupBy("__ek")
      .agg(max(struct(col("__n"), col("c_mktsegment"))).as("__m"))
      .select(col("__ek"), col("__m.c_mktsegment").as("mode_segment"))
    c.groupBy("__ek")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("c_custkey"), col("c_name"))).as("__latest"),
        max(col("c_acctbal")).as("best_acctbal"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
      .join(modeSeg, Seq("__ek"))
      .select(col("__ek").cast("bigint").as("entity_key"),
        col("n_members").cast("bigint").as("n_members"),
        col("__latest.c_name").as("golden_name"),
        col("best_acctbal"),
        col("mode_segment"),
        col("n_segments").cast("bigint").as("n_segments"))
      .orderBy("entity_key")
  }

  /** Largest-remainder allocation — distribute an integer budget of
    * 1,000,000 units across a segment's priority cells EXACTLY
    * proportionally to exact-cents revenue: base = ⌊budget·cell/total⌋
    * (integer), then the leftover units go one each to the cells with
    * the largest remainders (budget·cell mod total, priority string
    * tie-break) — so the allocations PROVABLY sum to the budget with
    * no rounding drift, entirely in integer arithmetic. The rank runs
    * over the ≤ segments×priorities cell table; facts are touched by
    * one rollup.
    */
  def q173LargestRemainder(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val seg = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val cells = Tables.orders(s, dir)
      .join(broadcast(seg), Seq("o_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)")).as("__c"))
    val w = Window.partitionBy("c_mktsegment")
    val wr = Window.partitionBy("c_mktsegment")
      .orderBy(col("__rem").desc, col("o_orderpriority"))
    cells
      .withColumn("__tot", sum(col("__c")).over(w))
      .withColumn("__prod", (col("__c") * budget).cast("decimal(38,0)"))
      // floor division done EXACTLY: remainder first (exact decimal
      // %), then (prod − rem)/tot divides evenly — decimal division
      // of an exact multiple is integer-valued at any scale, so no
      // quotient rounding can cross an integer (floor(decimal-div)
      // would: Spark rounds quotients half-up at result scale)
      .withColumn("__rem",
        (col("__prod") % col("__tot")).cast("decimal(38,0)"))
      .withColumn("__base",
        ((col("__prod") - col("__rem")) / col("__tot")).cast("long"))
      .withColumn("__left",
        (lit(budget) - sum(col("__base")).over(w)).cast("long"))
      .withColumn("__rk", row_number().over(wr))
      .select(col("c_mktsegment"), col("o_orderpriority"),
        col("__base").cast("bigint").as("base_units"),
        (col("__base") +
          when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .cast("bigint").as("alloc_units"))
      .orderBy("c_mktsegment", "o_orderpriority")
  }

  /** Exponential time-decay scoring — the recency-weighted popularity
    * aggregate (score = Σ value·2^(−age_days/7)) made EXACT: with
    * integer day ages and a 7-day half-life, each term is
    * cents·2^((maxAge−age)/1) … i.e. multiplying through by 2^(maxAge/7)
    * turns every 7-day bucket weight into a power of two, so the sum
    * runs in exact decimal integers (order-free, engine-identical)
    * and ONE double division at the end scales it back. The generic
    * float form of this aggregate is order-dependent under Spark's
    * partial aggregation — this is the portable shape.
    */
  def q174DecayScore(s: SparkSession, dir: String): DataFrame = {
    // the decay window is EXPLICIT, not assumed: only January 2024
    // events score (age 0..29, k = 0..4). An out-of-window event used
    // to drive k negative and throw on element_at index 0 — a
    // fresh-seed dataset with one post-Jan-30 timestamp hit exactly
    // that (seed-gate find, r17); the filter is mirrored in the oracle
    val age = datediff(lit("2024-01-30").cast("date"), to_date(col("ts")))
    val k = floor(age / lit(7.0)).cast("int")
    val cents = (col("value").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)")
    Tables.events(s, dir)
      .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2024-01-31").cast("timestamp"))
      .select(col("event_type"), cents.as("__c"),
        element_at(array(lit(16L), lit(8L), lit(4L), lit(2L), lit(1L)),
          k + 1).as("__w"))
      .groupBy("event_type")
      .agg(sum((col("__c") * col("__w")).cast("decimal(38,0)"))
        .as("__s"), count(lit(1)).as("n"))
      .select(col("event_type"), col("n").cast("bigint").as("n"),
        // scale back by 2^4·100: one double division of an exact int
        floor(col("__s").cast("double") / (16.0 * 100.0) * 1e6)
          .cast("bigint").as("score_micros"))
      .orderBy("event_type")
  }

  /** Equi-depth quartile binning — bucket boundaries from EXACT
    * type-1 ordinal quantiles (the q145 convention: ceil(q·n)-th
    * value, no interpolation), then every order assigned its quartile
    * by boundary comparison and the bin occupancy audited. Boundaries
    * are one window pass over the value rollup; assignment is a
    * broadcast join of the 3-row boundary table — the 100 TB shape
    * for histogram-equalized binning. Ordinals come from the
    * range-partitioned [[graft.operators.Relational.globalOrdinals]]
    * scheme (never a single-task `row_number() OVER (ORDER BY …)`),
    * and n rides a broadcast 1-row aggregate.
    */
  def q175QuartileBinning(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val ranked = graft.operators.Relational.globalOrdinals(o,
        Seq(col("o_totalprice"), col("o_orderkey")), rnCol = "__rn")
      .crossJoin(broadcast(o.agg(count(lit(1)).as("__n"))))
    val bounds = ranked
      .filter(col("__rn") === ceil(col("__n") / lit(4.0)) ||
        col("__rn") === ceil(col("__n") * 2 / lit(4.0)) ||
        col("__rn") === ceil(col("__n") * 3 / lit(4.0)))
      .select(col("o_totalprice").as("__b"))
      .agg(sort_array(collect_list(col("__b"))).as("__bs"))
    o.crossJoin(broadcast(bounds))
      .select(col("o_orderkey"), col("o_totalprice"),
        (when(col("o_totalprice") <= element_at(col("__bs"), 1), 1)
          .when(col("o_totalprice") <= element_at(col("__bs"), 2), 2)
          .when(col("o_totalprice") <= element_at(col("__bs"), 3), 3)
          .otherwise(4)).cast("int").as("quartile"))
      .groupBy("quartile")
      .agg(count(lit(1)).cast("bigint").as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("quartile")
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo merge/purge) —
    * the third record-linkage candidate scheme next to q138's
    * deletion-mask blocking and q153's prefix filter: sort once on
    * the blocking key, slide a w=3 window via lead() (candidates are
    * only the w−1 FORWARD neighbors per row — each unordered pair
    * surfaces exactly once), verify with edit distance ≤ 2. One
    * global sort, zero joins: candidate volume is exactly (w−1)·n at
    * any scale, the property that makes sorted-neighborhood the
    * cheap first pass of production ER stacks. At 100 TB the sort
    * runs as [[graft.operators.Relational.globalOrdinals]]'s
    * range-partitioned scheme (local windows + offset rollup — never
    * one task), and the w−1 forward neighbors resolve by ORDINAL
    * equi-join (rn ↔ rn+d): hash-partitioned on a unique long key, so
    * partition-boundary neighbors cross through the join with no
    * bespoke overlap handoff — exact even when a range partition
    * holds fewer than w−1 rows, the case that breaks naive
    * head-row handoffs.
    */
  def q177SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val ranked = graft.operators.Relational.globalOrdinals(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
      Seq(col("c_name"), col("c_custkey")), rnCol = "__rn")
    Seq(1, 2).map { d =>
      ranked.select(col("c_custkey").as("id_a"),
          col("c_name").as("name_a"), col("__rn"))
        .join(ranked.select((col("__rn") - d).as("__rn"),
          col("c_custkey").as("id_b"), col("c_name").as("name_b")),
          Seq("__rn"))
        .drop("__rn")
    }.reduce(_.unionByName(_))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("int")
          .as("edit_dist"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding cluster-quality audit — per label: vector count, mean
    * intra-cluster squared distance to the centroid, and the nearest
    * OTHER centroid (the Davies–Bouldin ingredients) — with every
    * distance in EXACT integer arithmetic: components floor to
    * micros, centroids stay as (component-sum, count) rationals, and
    * denominators are cleared — intra terms as (v·n − S)², inter as
    * (S_a·n_b − S_b·n_a)² — so sums are order-free exact integers
    * and the single scaled double division happens at the very end.
    * Scale shape: one posexplode pass, component aggregates keyed by
    * (label, dim) — 640 rows regardless of corpus size — and a
    * 10×10 centroid cross that never touches vectors.
    */
  def q178ClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val comp = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")))
      .toDF("vec_id", "label", "dim", "x")
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * 1e6).cast("long").as("v"))
      .localCheckpoint() // feeds centroids AND the intra pass
    val ns = comp.select("vec_id", "label").distinct()
      .groupBy("label").agg(count(lit(1)).as("__n"))
    val cent = comp.groupBy("label", "dim")
      .agg(sum(col("v")).as("__sd"))
    val intra = comp
      .join(broadcast(cent), Seq("label", "dim"))
      .join(broadcast(ns), Seq("label"))
      .select(col("label"), col("__n"),
        ((col("v") * col("__n") - col("__sd")) *
          (col("v") * col("__n") - col("__sd")))
          .cast("decimal(38,0)").as("__t"))
      .groupBy("label", "__n").agg(sum(col("__t")).as("__tot"))
    val cw = cent.join(broadcast(ns), Seq("label"))
    val inter = cw.select(col("label").as("__la"), col("dim"),
        col("__sd").as("__sa"), col("__n").as("__na"))
      .join(cw.select(col("label").as("__lb"), col("dim"),
        col("__sd").as("__sb"), col("__n").as("__nb")), Seq("dim"))
      .filter(col("__la") =!= col("__lb"))
      .withColumn("__dd",
        (col("__sa") * col("__nb") - col("__sb") * col("__na"))
          .cast("decimal(18,0)"))
      .groupBy("__la", "__lb", "__na", "__nb")
      .agg(sum((col("__dd") * col("__dd")).cast("decimal(38,0)"))
        .as("__d2"))
      .withColumn("__dist", col("__d2").cast("double") /
        (col("__na") * col("__nb")).cast("double") /
        (col("__na") * col("__nb")).cast("double"))
      .groupBy(col("__la").as("label"))
      .agg(min(struct(col("__dist"), col("__lb"))).as("__nearest"))
    intra.join(inter, Seq("label"))
      .select(col("label"),
        col("__n").cast("bigint").as("n_vectors"),
        floor(col("__tot").cast("double") /
          (col("__n") * col("__n") * col("__n")).cast("double") / 1e6)
          .cast("bigint").as("avg_sq_dist_micros"),
        col("__nearest.__lb").cast("int").as("nearest_label"),
        floor(col("__nearest.__dist") / 1e6).cast("bigint")
          .as("nearest_sq_dist_micros"))
      .orderBy("label")
  }

  /** CDC feed → SCD-2 history — the composition of q148's change
    * feed and q158's interval build, with DELETE semantics: only
    * upserts OPEN a version; any next change (upsert or delete)
    * CLOSES the current one, so a deleted key's history ends with a
    * closed interval and no current row. One window pass over the
    * feed; is_current falls out of "last change for the key is an
    * upsert". The warehouse-standard CDC→dimension pipeline in one
    * shuffle.
    */
  def q179CdcScd2(s: SparkSession, dir: String): DataFrame = {
    val feed = Tables.orders(s, dir).select(
      when(pmod(col("o_orderkey"), lit(5)) === 0,
        col("o_custkey") + 100000).otherwise(col("o_custkey"))
        .as("key"),
      col("o_orderkey").as("seq"),
      when(pmod(col("o_orderkey"), lit(7)) === 0, lit("D"))
        .otherwise(lit("U")).as("op"),
      col("o_totalprice").cast("decimal(18,2)").as("payload"))
    val w = Window.partitionBy("key").orderBy("seq")
    feed
      .withColumn("__next_seq", lead(col("seq"), 1).over(w))
      .filter(col("op") === "U") // only upserts open versions
      .select(col("key"), col("seq").cast("bigint").as("valid_from_seq"),
        col("__next_seq").cast("bigint").as("valid_to_seq"),
        col("payload").cast("double").as("payload"),
        col("__next_seq").isNull.as("is_current"))
      .orderBy("key", "valid_from_seq")
  }

  /** Session bounce rate — per day, the share of 30-minute sessions
    * containing exactly one event, the rate integer-cross-multiplied
    * into micros. Composes the session_window operator (q116) with a
    * daily rollup: sessions aggregate once, days aggregate the
    * |sessions| rows — no second pass over events.
    */
  def q180BounceRate(s: SparkSession, dir: String): DataFrame = {
    val sess = Tables.events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("__n"))
      .select(to_date(col("sw.start")).as("day"),
        (col("__n") === 1).cast("long").as("__bounce"))
    sess.groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("__bounce")).as("n_bounces"))
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("n_sessions").cast("bigint").as("n_sessions"),
        col("n_bounces").cast("bigint").as("n_bounces"),
        floor(col("n_bounces").cast("double") /
          col("n_sessions").cast("double") * 1e6)
          .cast("bigint").as("bounce_micros"))
      .orderBy("day")
  }

  /** Time-to-convert — per user, the gap from FIRST view to FIRST
    * subsequent purchase, and the corpus-level exact type-1 median of
    * those gaps (the q145 ordinal convention, seconds as exact
    * integers). Two conditional-aggregate elections (no self-join),
    * one |users|-row ordinal pass for the median (the
    * [[graft.operators.Relational.globalOrdinals]] range-partitioned
    * scheme — no single-task global window); the 1-row median frame
    * broadcasts back next to each user's gap.
    */
  def q181TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view",
          unix_micros(col("ts")))).as("__v"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("__p"))
      .filter(col("__v").isNotNull && col("__p").isNotNull &&
        col("__p") >= col("__v"))
      .select(col("user_id"),
        floor((col("__p") - col("__v")) / 1e6).cast("bigint")
          .as("gap_seconds"))
      .localCheckpoint() // feeds the rank pass, the count, and the output
    val ranked = graft.operators.Relational.globalOrdinals(firsts,
      Seq(col("gap_seconds"), col("user_id")), rnCol = "__rn")
    val med = ranked
      .crossJoin(broadcast(firsts.agg(count(lit(1)).as("__n"))))
      .filter(col("__rn") === ceil(col("__n") / lit(2.0)).cast("int"))
      .select(col("gap_seconds").as("__med"))
    firsts.crossJoin(broadcast(med))
      .select(col("user_id"), col("gap_seconds"),
        col("__med").cast("bigint").as("median_gap_seconds"))
      .orderBy("user_id")
  }

  /** RFM segmentation — recency / frequency / monetary quintiles per
    * customer with a deterministic total order (metric, then custkey)
    * so every ntile boundary is engine-pinned, monetary in exact
    * cents. Scale shape: the per-customer rollup collapses the fact
    * stream FIRST (one shuffle over |orders|); each quintile is a
    * [[graft.operators.Relational.globalOrdinals]] range-partitioned
    * rank over the |customers|-row rollup (never a single-task
    * `ntile() OVER (ORDER BY …)`), mapped to the exact SQL NTILE
    * bucket by the integer formula — with n = 5q + r, the first r
    * buckets take q+1 rows: tile(rn) = ⌈rn/(q+1)⌉ while
    * rn ≤ r(q+1), else r + ⌈(rn − r(q+1))/q⌉.
    */
  def q182RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(unix_micros(col("o_orderdate").cast("timestamp")))
          .as("last_order_us"),
        count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)")).as("__mon"))
      .localCheckpoint() // feeds three rank passes + the count
    def ranks(sortCol: String, out: String): DataFrame =
      graft.operators.Relational.globalOrdinals(per,
          Seq(col(sortCol), col("custkey")), rnCol = out)
        .select(col("custkey"), col(out))
    def tile(rn: String): Column = expr(
      s"""CAST(CASE WHEN $rn <= (__n % 5) * (__n DIV 5 + 1)
         |THEN ($rn + (__n DIV 5)) DIV (__n DIV 5 + 1)
         |ELSE (__n % 5) + ($rn - (__n % 5) * (__n DIV 5 + 1)
         |  + greatest(__n DIV 5, 1) - 1) DIV greatest(__n DIV 5, 1)
         |END AS INT)""".stripMargin)
    per
      .join(ranks("last_order_us", "__rr"), Seq("custkey"))
      .join(ranks("n_orders", "__rf"), Seq("custkey"))
      .join(ranks("__mon", "__rm"), Seq("custkey"))
      .crossJoin(broadcast(per.agg(count(lit(1)).as("__n"))))
      .withColumn("r_score", tile("__rr"))
      .withColumn("f_score", tile("__rf"))
      .withColumn("m_score", tile("__rm"))
      .select(col("custkey"), col("last_order_us"),
        col("n_orders").cast("bigint").as("n_orders"),
        col("__mon").cast("bigint").as("monetary_cents"),
        col("r_score").cast("bigint").as("r_score"),
        col("f_score").cast("bigint").as("f_score"),
        col("m_score").cast("bigint").as("m_score"),
        concat(col("r_score").cast("string"),
          col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
      .orderBy("custkey")
  }

  /** ABC / Pareto classification — parts ranked by gross revenue
    * (exact cents), classified by cumulative share with the 80/95
    * boundaries cross-multiplied into integer space (cum·10 ≤ tot·8,
    * cum·20 ≤ tot·19) so no division — and no float boundary — exists.
    * Scale shape: revenue aggregates per part first (one shuffle over
    * lineitem); the part rollup is FACT-PROPORTIONAL (|parts| grows
    * with the catalog), so the running revenue share rides the
    * range-partitioned [[graft.operators.Relational.globalOrdinals]]
    * prefix-sum composition — never a single-task
    * `sum() OVER (ORDER BY …)` — and the grand total is one broadcast
    * 1-row aggregate.
    */
  def q183AbcPareto(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)")).as("__rev"))
    val ranked = graft.operators.Relational.globalOrdinals(rev,
      Seq(col("__rev").desc, col("partkey")),
      runningSums = Seq("__cum" -> col("__rev")))
    // total re-aggregated from the checkpointed ordinal frame — NOT
    // from `rev`, which would rescan lineitem (the double-consumed-
    // subtree gotcha)
    ranked
      .crossJoin(broadcast(ranked.agg(sum(col("__rev")).as("__tot"))))
      .withColumn("abc_class",
        when(col("__cum") * 10 <= col("__tot") * 8, "A")
          .when(col("__cum") * 20 <= col("__tot") * 19, "B")
          .otherwise("C"))
      .select(col("partkey"),
        col("__rev").cast("bigint").as("rev_cents"),
        col("__cum").cast("bigint").as("cum_cents"),
        col("abc_class"))
      .orderBy("partkey")
  }

  /** Shared basket mining core for q149/q184: distinct (order, part)
    * baskets, per-item order support, and the a-priori-pruned pair
    * supports — only items whose own support clears `minItem` enter
    * the per-order pair self-join (the prune is what keeps the pair
    * space finite at 100 TB), and the pruned basket set is pinned
    * once so both sides of the self-join reuse one computation.
    */
  private def copurchaseCounts(s: SparkSession, dir: String,
      minItem: Long, minPair: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // round 20 (§2.4): pin the basket grid — it has two consumers in
    // `pruned`'s single plan (the probe side and the support filter's
    // lineage), so the distinct executed twice per call. A spread
    // ahead of the distinct was ALSO tried and measured net-negative
    // (the extra exchange of 600k pairs costs more than the
    // single-task distinct partial saves at sf0.1) — reverted, like
    // the same A/B on q288/q289/q338/q279.
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val itemSup = baskets.groupBy("l_partkey")
      .agg(count(lit(1)).as("__sup"))
    val frequent = itemSup.filter(col("__sup") >= minItem)
      .select(col("l_partkey"))
    val pruned = baskets.join(broadcast(frequent), Seq("l_partkey"))
      .localCheckpoint()
    val pairs = pruned
      .select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(pruned.select(col("l_orderkey"),
        col("l_partkey").as("part_b")), Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("__nab"))
      .filter(col("__nab") >= minPair)
    (pairs, itemSup, pruned, baskets)
  }

  /** Association rules from the a-priori pair pass — each surviving
    * pair emits both rule directions with exact integer confidence and
    * lift: conf = ⌊n(ab)·1e6 / n(a)⌋ and lift = ⌊n(ab)·N·1e6 /
    * (n(a)·n(b))⌋ via integral `div` (no float division anywhere; the
    * numerators stay < 2⁶³). The basket count N rides a 1-row
    * broadcast aggregate, not a driver action; item supports broadcast
    * against the pair set.
    */
  def q184AssocRules(s: SparkSession, dir: String): DataFrame = {
    val (pairs, itemSup, _, baskets) = copurchaseCounts(s, dir, 25L, 3L)
    // basket count from the checkpointed UNPRUNED basket grid
    // (round 20): the distinct orderkeys of the (order, part) grid ARE
    // lineitem's distinct orderkeys (every lineitem row carries both
    // keys), so this drops a third full fact pass whose countDistinct
    // partial ran in the single scan task
    val nb = baskets.agg(countDistinct(col("l_orderkey")).as("__nb"))
    val rules = pairs
      .select(col("part_a").as("antecedent"),
        col("part_b").as("consequent"), col("__nab"))
      .union(pairs.select(col("part_b").as("antecedent"),
        col("part_a").as("consequent"), col("__nab")))
    rules
      .join(broadcast(itemSup.select(col("l_partkey").as("antecedent"),
        col("__sup").as("__na"))), Seq("antecedent"))
      .join(broadcast(itemSup.select(col("l_partkey").as("consequent"),
        col("__sup").as("__nc"))), Seq("consequent"))
      .crossJoin(broadcast(nb))
      .select(col("antecedent"), col("consequent"),
        col("__nab").cast("bigint").as("n_ab"),
        col("__na").cast("bigint").as("n_ant"),
        col("__nc").cast("bigint").as("n_cons"),
        expr("CAST((__nab * 1000000L) DIV __na AS BIGINT)")
          .as("conf_micros"),
        expr("CAST((__nab * __nb * 1000000L) DIV (__na * __nc) AS BIGINT)")
          .as("lift_micros"))
      .orderBy(col("conf_micros").desc, col("antecedent"),
        col("consequent"))
  }

  /** MAD robust outliers — median absolute deviation over customer
    * balances in exact cents, both medians by the q145 type-1 ordinal
    * convention (rn == ⌈n/2⌉ under a total order), outlier when
    * |x − med| > 3·MAD in pure integer comparison. Robust to the very
    * outliers it hunts (unlike q164's moment-based sigma test — the
    * two are complementary gates). Both ordinal passes ride the
    * [[graft.operators.Relational.globalOrdinals]] range-partitioned
    * scheme over the |customers|-row slice (no single-task global
    * window); each elected median is a 1-row broadcast.
    */
  def q185MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("c_acctbal").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("bigint")
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), cents.as("bal_cents"))
      .localCheckpoint() // feeds two rank passes, the count, the output
    val nDf = broadcast(c.agg(count(lit(1)).as("__n")))
    def ordinalPick(df: DataFrame, v: String, out: String): DataFrame =
      broadcast(graft.operators.Relational.globalOrdinals(df,
          Seq(col(v), col("c_custkey")), rnCol = "__gr")
        .crossJoin(nDf)
        .filter(col("__gr") === ceil(col("__n") / lit(2.0)).cast("int"))
        .select(col(v).as(out)))
    val withMed = c
      .crossJoin(ordinalPick(c, "bal_cents", "med_cents"))
      .withColumn("dev_cents", abs(col("bal_cents") - col("med_cents")))
      .localCheckpoint() // feeds the second rank pass and the output
    withMed
      .crossJoin(ordinalPick(withMed, "dev_cents", "mad_cents"))
      .select(col("c_custkey"), col("bal_cents"),
        col("med_cents").cast("bigint").as("med_cents"),
        col("dev_cents").cast("bigint").as("dev_cents"),
        col("mad_cents").cast("bigint").as("mad_cents"),
        (col("dev_cents") > col("mad_cents") * 3).as("is_outlier"))
      .orderBy("c_custkey")
  }

  /** l-diversity audit ([[graft.operators.Quality.lDiversity]]) over
    * the q129 quasi-identifiers with the account-balance BAND as the
    * sensitive attribute (banded on exact cents so the category
    * boundaries are engine-pinned): every (nation, segment) class
    * needs ≥ 3 distinct bands or it leaks its members' balance tier
    * even at k-anonymous sizes.
    */
  def q186LDiversity(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("c_acctbal").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("bigint")
    val banded = Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"), cents.as("__c"))
      .withColumn("bal_band",
        when(col("__c") < 0L, "neg")
          .when(col("__c") < 500000L, "low")
          .otherwise("high"))
    graft.operators.Quality.lDiversity(banded,
        Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 3)
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("n_rows").cast("bigint").as("n_rows"),
        col("l_distinct").cast("bigint").as("l_distinct"),
        col("is_diverse"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Leave-one-out target encoding — the ML-prep categorical encoder
    * that replaces each row's category with the mean target of the
    * OTHER rows in its category (self excluded, so the feature can't
    * leak its own label). Sums in exact cents; the encoded value is
    * one floored IEEE division at the end (identical bit pattern in
    * every engine), micros of dollars. One aggregate + one broadcast
    * join — the category stats are dimension-sized at any fact scale.
    */
  def q187TargetEncoding(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("c_acctbal").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("bigint")
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), cents.as("__x"))
    val agg = c.groupBy("c_mktsegment")
      .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
    c.join(broadcast(agg), Seq("c_mktsegment"))
      .filter(col("__n") > 1)
      .select(col("c_custkey"), col("c_mktsegment"),
        col("__x").as("bal_cents"),
        (col("__s") - col("__x")).cast("bigint").as("loo_sum_cents"),
        (col("__n") - 1).cast("bigint").as("n_others"),
        floor((col("__s") - col("__x")).cast("double") /
          (col("__n") - 1).cast("double") * 1e4)
          .cast("bigint").as("loo_mean_micros"))
      .orderBy("c_custkey")
  }

  /** Point-in-time (PIT) join — the feature-store training-data rule:
    * each fact may only see the dimension version that was live AT ITS
    * OWN timestamp (no leakage from the future), including delete
    * semantics (a key whose latest change before the fact is a DELETE
    * has NO live state). Versions: the customer payload as of each
    * order (upserts; every 7th change is a delete). Facts: that
    * customer's lineitems at ship time. Scale shape: NO interval or
    * inequality join anywhere — versions and facts UNION into one
    * stream, one window pass per key carries the last-version state
    * forward (ignore-nulls last over an unbounded-preceding frame),
    * ties pinned by (t, src, version seq) with versions sorting before
    * same-instant facts. The classic backward as-of at CDC semantics,
    * one shuffle total.
    */
  def q191PitJoin(s: SparkSession, dir: String): DataFrame = {
    val versions = Tables.orders(s, dir).select(
      col("o_custkey").as("key"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
      lit(0).as("src"),
      col("o_orderkey").as("__vseq"),
      when(pmod(col("o_orderkey"), lit(7)) === 0, lit("D"))
        .otherwise(lit("U")).as("__op"),
      col("o_totalprice").cast("decimal(18,2)").as("__pay"),
      lit(null).cast("bigint").as("l_orderkey"),
      lit(null).cast("int").as("l_linenumber"))
    val facts = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")), // the fact's own
        col("l_orderkey") === col("o_orderkey"))      // key lookup
      .select(col("o_custkey").as("key"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("t"),
        lit(1).as("src"),
        lit(null).cast("bigint").as("__vseq"),
        lit(null).cast("string").as("__op"),
        lit(null).cast("decimal(18,2)").as("__pay"),
        col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy("key")
      .orderBy(col("t"), col("src"), coalesce(col("__vseq"), lit(0L)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions.unionByName(facts)
      .withColumn("__lop", last(col("__op"), ignoreNulls = true).over(w))
      .withColumn("__lpay", last(col("__pay"), ignoreNulls = true).over(w))
      .withColumn("__lt", last(when(col("src") === 0, col("t")),
        ignoreNulls = true).over(w))
      .withColumn("__lseq", last(col("__vseq"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("key"),
        col("t").as("ship_us"),
        coalesce(col("__lop") === "U", lit(false)).as("has_state"),
        when(col("__lop") === "U", col("__lt")).cast("bigint")
          .as("state_from_us"),
        when(col("__lop") === "U", col("__lseq")).cast("bigint")
          .as("state_seq"),
        when(col("__lop") === "U", col("__lpay")).cast("double")
          .as("payload"))
      // (orderkey, linenumber) is NOT unique in this feed — pin the
      // full order so the output is deterministic row-for-row
      .orderBy("l_orderkey", "l_linenumber", "ship_us")
  }

  /** Engine-portable HyperLogLog (m=64) — the approx-distinct sketch
    * promoted from rows-only (q100's builtin) to ORACLE-GATED: every
    * register value is exact integer arithmetic from md5-derived
    * 32-bit hashes (6-bit bucket, rho = 26 − ⌊log2(rest)⌋ — log2 of
    * an exact integer < 2⁵³ floors identically in every IEEE engine),
    * so DuckDB rebuilds the sketch bit-for-bit. The harmonic-mean sum
    * is cleared to integers (Σ 2^(27−reg)); only the DISPLAY estimate
    * divides, as one pinned literal-over-integer IEEE expression. The
    * exact distinct count rides along for the error audit. Scale
    * shape: the sketch is one groupBy over (bucket) — 64 cells of
    * state at any corpus size, mergeable across partitions by max.
    */
  def q192HllRegisters(s: SparkSession, dir: String): DataFrame = {
    val m = 64
    val withH = Tables.events(s, dir)
      .select(col("user_id"),
        graft.operators.Scale.md5Prefix32(col("user_id")).as("__h"))
    val regs = withH
      .select(pmod(col("__h"), lit(m)).cast("int").as("bucket"),
        expr("CAST(__h DIV 64 AS BIGINT)").as("__rest"))
      .select(col("bucket"),
        when(col("__rest") === 0L, lit(27L))
          .otherwise(lit(26L) - floor(log2(col("__rest"))))
          .as("__rho"))
      .groupBy("bucket").agg(max(col("__rho")).as("register"))
    val spine = s.range(0, m).select(col("id").cast("int").as("bucket"))
    val full = spine.join(regs, Seq("bucket"), "left")
      .na.fill(0L, Seq("register"))
    val summary = full
      .agg(sum(expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(27 - register AS INT))"))
        .as("sum_pow"),
        sum(when(col("register") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .crossJoin(withH.agg(countDistinct(col("user_id")).as("n_exact")))
    // Flajolet's small-range correction: when the raw harmonic-mean
    // estimate is ≤ 2.5m and empty registers remain, linear counting
    // m·ln(m/V) is the estimator — both branches are single pinned
    // IEEE expressions over exact integers, so engines agree bitwise.
    val raw = ((lit(0.709) * 4096.0) * 134217728.0) /
      col("sum_pow").cast("double")
    full.crossJoin(broadcast(summary))
      .select(col("bucket"), col("register").cast("bigint").as("register"),
        col("n_exact").cast("bigint").as("n_exact"),
        col("sum_pow").cast("bigint").as("sum_pow"),
        col("n_zero").cast("bigint").as("n_zero"),
        when(raw <= 160.0 && col("n_zero") > 0,
          floor(lit(64.0) * log(lit(64.0) / col("n_zero").cast("double"))
            * 1000000.0))
          .otherwise(floor(raw * 1000000.0))
          .cast("bigint").as("est_micros"))
      .orderBy("bucket")
  }

  /** Semi-additive measure rollup — the warehouse rule for balances:
    * sum across ACCOUNTS, but take the LAST value across TIME. Per
    * (customer, month) the latest order's amount wins — one
    * `max(struct(t, seq, value))` aggregate, no window over the fact
    * stream — then months sum the |customers × months| rollup.
    */
  def q193SemiAdditive(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("__t"),
      col("o_orderkey").as("__seq"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("__c"))
    o.groupBy("o_custkey", "month")
      .agg(max(struct(col("__t"), col("__seq"), col("__c"))).as("__last"))
      .groupBy("month")
      .agg(count(lit(1)).cast("bigint").as("n_accounts"),
        sum(col("__last.__c")).cast("bigint").as("eom_balance_cents"))
      .orderBy("month")
  }

  /** Interval concurrency sweep — how many orders are OPEN (ordered,
    * not yet fully shipped) at the end of each day, from the +1/−1
    * boundary trick: starts and ends aggregate to per-day net deltas
    * FIRST (one shuffle over the facts), then one running sum over
    * the |days|-row net series — never a global window over raw
    * boundaries, and no interval self-join at all. Half-open [start,
    * end): an order ending the day it starts contributes zero to that
    * day's close; an order with NO ship events yet has no end
    * boundary and stays open — the "not fully shipped" reading.
    */
  def q194ConcurrencySweep(s: SparkSession, dir: String): DataFrame = {
    val starts = Tables.orders(s, dir)
      .select(col("o_orderdate").cast("date").as("day"))
      .groupBy("day").agg(count(lit(1)).as("__ns"))
    // the synthetic ship dates are independent of order dates, so an
    // order can "finish shipping" before it exists — clamp the end
    // boundary to the start so the sweep's invariant (end ≥ start)
    // holds; a clamped order opens and closes the same day (net zero)
    val ends = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate").cast("date")).as("__sd"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("__od")),
        col("l_orderkey") === col("o_orderkey"))
      .select(greatest(col("__sd"), col("__od")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("__ne"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    starts.join(ends, Seq("day"), "full_outer")
      .na.fill(0L, Seq("__ns", "__ne"))
      .withColumn("open_eod", sum(col("__ns") - col("__ne")).over(w))
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("__ns").cast("bigint").as("n_starts"),
        col("__ne").cast("bigint").as("n_ends"),
        col("open_eod").cast("bigint").as("open_eod"))
      .orderBy("day")
  }

  /** Exact weighted median — smallest price with cumulative weight
    * covering half the total, the 2·cum ≥ tot verdict cross-multiplied
    * (no division, no float boundary). Prices pre-aggregate to
    * (value, weight) cells before the ordinal pass — the running sum
    * orders the distinct-value rollup, not the fact stream.
    */
  def q195WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .groupBy(((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint")).as("price_cents"))
      .agg(sum(col("l_quantity").cast("decimal(18,0)").cast("bigint"))
        .as("__w"))
    val w = Window.orderBy("price_cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = Window.partitionBy(lit(1))
    g.withColumn("__cum", sum(col("__w")).over(w))
      .withColumn("__tot", sum(col("__w")).over(t))
      .filter(col("__cum") * 2 >= col("__tot"))
      .orderBy("price_cents")
      .limit(1)
      .select(col("price_cents"),
        col("__cum").cast("bigint").as("cum_weight"),
        col("__tot").cast("bigint").as("total_weight"))
  }

  /** Differentially-private release counts — the third member of the
    * privacy family (k-anonymity q129, l-diversity q186): per-nation
    * customer counts with seeded Laplace(b = 1/ε, ε = 1) noise. The
    * noise is DETERMINISTIC and engine-portable: the md5-derived
    * 32-bit group hash maps to u = (h + 0.5)/2³² — an EXACT double
    * (integer plus half, divided by a power of two) that can never
    * hit 0, ½, or 1 — and the inverse-CDF transform
    * −b·sign(u−½)·ln(1−2|u−½|) is one pinned IEEE expression. Scale
    * shape: noise is a projection over the |groups| rollup; nothing
    * touches the fact rows twice. (Seeded noise is an AUDIT mode —
    * production ε-DP would draw fresh randomness; determinism is what
    * makes the release oracle-checkable.)
    */
  def q196DpCounts(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.customer(s, dir)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("__n"))
    val u = (graft.operators.Scale.md5Prefix32(
      concat(lit("dp:"), col("c_nationkey"))).cast("double") + 0.5) /
      4294967296.0
    val t = u - 0.5
    val lap = -signum(t) * log(lit(1.0) - abs(t) * 2.0)
    g.select(col("c_nationkey"),
        col("__n").cast("bigint").as("true_count"),
        floor((col("__n").cast("double") + lap) * 1000000.0)
          .cast("bigint").as("noisy_micros"))
      .orderBy("c_nationkey")
  }

  /** Feature hashing with a collision audit — the hashing-trick
    * vocabulary (token → md5 % 64 bucket) plus the report every
    * hashed feature space owes its users: buckets where DISTINCT
    * terms collide, with term counts and total frequency. One
    * explode + two aggregates; the bucket space is fixed-size at any
    * corpus scale.
    */
  def q197FeatureHashing(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(filter(split(
        graft.operators.TextAnalysis.normalizeText(col("text")), " "),
        t => t =!= "")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("__tf"))
      .select(col("term"), col("__tf"),
        pmod(graft.operators.Scale.md5Prefix32(col("term")), lit(64))
          .cast("int").as("bucket"))
    toks.groupBy("bucket")
      .agg(countDistinct(col("term")).as("n_terms"),
        sum(col("__tf")).as("total_tf"),
        min(col("term")).as("first_term"))
      .filter(col("n_terms") >= 2)
      .select(col("bucket"), col("n_terms").cast("bigint").as("n_terms"),
        col("total_tf").cast("bigint").as("total_tf"), col("first_term"))
      .orderBy("bucket")
  }

  /** Benford first-digit audit — the fraud-analytics screen over
    * order amounts: observed first-digit shares against Benford's
    * log₁₀(1 + 1/d) expectation. The digit comes from the DECIMAL's
    * STRING form (no float log near power-of-ten boundaries — a
    * 1000.00 can never land in the 9 bin); shares are floored-micros
    * of exact counts; the Benford reference is a pinned literal IEEE
    * expression per digit.
    */
  def q198BenfordAudit(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir)
      .select(substring(col("o_totalprice").cast("decimal(18,2)")
        .cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("__n"))
    val tot = Window.partitionBy(lit(1))
    d.withColumn("__t", sum(col("__n")).over(tot))
      .select(col("digit"), col("__n").cast("bigint").as("n"),
        expr("CAST((__n * 1000000L) DIV __t AS BIGINT)")
          .as("share_micros"),
        floor(log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
          / log(lit(10.0)) * 1000000.0)
          .cast("bigint").as("benford_micros"))
      .orderBy("digit")
  }

  /** Pearson correlation ingredient matrix — the feature-screening
    * pass an ML pipeline runs before training: for each numeric
    * column pair, the five sufficient statistics (Σx, Σy, Σxy, Σx²,
    * Σy²) plus n, from which r (and the regression line) follow.
    * ALL pairs come out of ONE aggregate pass over the fact table —
    * adding a pair adds aggregate expressions, never a scan — then
    * one explode pivots to a row per pair. Inputs are quantized to
    * exact integers (whole dollars, basis points) so the sums are
    * associative and engine-independent; r²·10⁶ is one pinned IEEE
    * expression over those exact integers (the q192 precedent).
    */
  def q199CorrIngredients(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("decimal(18,0)").cast("bigint").as("__q"),
      expr("CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
        "AS DECIMAL(18,0)) AS BIGINT) DIV 100").as("__p"),
      (col("l_discount").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("__d"))
    val vars = Seq("q" -> col("__q"), "p" -> col("__p"), "d" -> col("__d"))
    val sums = vars.flatMap { case (n, c) =>
      Seq(sum(c).as(s"s_$n"),
        sum((c * c).cast("decimal(38,0)")).as(s"ss_$n"))
    } ++ Seq("qp" -> ("__q", "__p"), "qd" -> ("__q", "__d"),
      "pd" -> ("__p", "__d")).map { case (n, (a, b)) =>
      sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"sp_$n")
    }
    val agg = li.agg(count(lit(1)).as("n"), sums: _*)
    val pairs = Seq(("qty_price", "q", "p", "qp"),
      ("qty_disc", "q", "d", "qd"), ("price_disc", "p", "d", "pd"))
    val rows = pairs.map { case (name, x, y, xy) =>
      val n = col("n").cast("decimal(38,0)")
      val num = (n * col(s"sp_$xy") -
        col(s"s_$x").cast("decimal(38,0)") * col(s"s_$y")).cast("double")
      val den1 = (n * col(s"ss_$x") -
        col(s"s_$x").cast("decimal(38,0)") * col(s"s_$x")).cast("double")
      val den2 = (n * col(s"ss_$y") -
        col(s"s_$y").cast("decimal(38,0)") * col(s"s_$y")).cast("double")
      struct(lit(name).as("pair"), col("n").cast("bigint").as("n"),
        col(s"s_$x").cast("bigint").as("sum_x"),
        col(s"s_$y").cast("bigint").as("sum_y"),
        col(s"sp_$xy").cast("bigint").as("sum_xy"),
        col(s"ss_$x").cast("bigint").as("sum_x2"),
        col(s"ss_$y").cast("bigint").as("sum_y2"),
        signum(num).cast("bigint").as("r_sign"),
        floor(num * num / (den1 * den2) * lit(1000000.0))
          .cast("bigint").as("r2_micros"))
    }
    agg.select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy("pair")
  }

  /** Per-nation revenue trend — exact ordinary-least-squares over the
    * weekly revenue series, the "is this market growing?" screen.
    * Facts aggregate to (nation, week) FIRST (one shuffle over
    * orders), so the regression runs on the tiny weekly series; x is
    * recentered per nation (slope is shift-invariant) to keep every
    * moment bigint-small. The slope ships as sign + |num|·10³ DIV den
    * — exact integer arithmetic end to end, no doubles anywhere.
    */
  def q200OlsTrend(s: SparkSession, dir: String): DataFrame = {
    val n8n = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val weekly = Tables.orders(s, dir)
      .select(col("o_custkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), " +
          "DATE '1970-01-01') AS BIGINT) DIV 7").as("__wk"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n8n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("__wk"))
      .agg(sum(col("__c")).as("__y"))
    import org.apache.spark.sql.expressions.Window
    val recentered = weekly
      .withColumn("__x",
        col("__wk") - min(col("__wk")).over(
          Window.partitionBy(col("n_name"))))
    val moments = recentered.groupBy("n_name").agg(
      count(lit(1)).as("n_weeks"),
      sum(col("__x")).as("sx"),
      sum(col("__y")).as("sy"),
      // cast one operand to decimal(38,0) before the product-sum (the
      // repo-wide overflow rule, cf. q199/q204): x·y is week-offset ×
      // cents and a long*long sum can silently wrap at large SF while
      // the DuckDB oracle's HUGEINT keeps going
      sum(col("__x").cast("decimal(38,0)") * col("__y")).as("sxy"),
      sum(col("__x").cast("decimal(38,0)") * col("__x")).as("sxx"))
    val n = col("n_weeks").cast("decimal(38,0)")
    val num = n * col("sxy") - col("sx").cast("decimal(38,0)") * col("sy")
    val den = n * col("sxx") - col("sx").cast("decimal(38,0)") * col("sx")
    moments.select(col("n_name"),
      col("n_weeks").cast("bigint").as("n_weeks"),
      col("sy").cast("bigint").as("rev_cents"),
      when(num > 0, 1L).when(num < 0, -1L).otherwise(0L)
        .cast("bigint").as("slope_sign"),
      expr("CAST((abs(CAST(n_weeks AS DECIMAL(38,0)) * sxy " +
        "- CAST(sx AS DECIMAL(38,0)) * sy) * 1000) DIV " +
        "(CAST(n_weeks AS DECIMAL(38,0)) * sxx " +
        "- CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)")
        .as("slope_milli_abs"))
      .orderBy("n_name")
  }

  /** Per-nation Gini concentration of customer spend — the inequality
    * audit a marketplace runs on its revenue base. The fact table
    * folds to per-customer totals first (one shuffle), the per-nation
    * rank is one window over that small table, and the closed form
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted spend
    * is exact integers until the single DIV to micros. Ties break on
    * custkey, making the rank — and thus every engine's Σ i·xᵢ —
    * total and reproducible.
    */
  def q201Gini(s: SparkSession, dir: String): DataFrame = {
    val n8n = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint")).as("__x"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n8n), col("c_nationkey") === col("n_nationkey"))
    import org.apache.spark.sql.expressions.Window
    val ranked = spend.withColumn("__i",
      row_number().over(Window.partitionBy(col("n_name"))
        .orderBy(col("__x"), col("o_custkey"))))
    ranked.groupBy("n_name").agg(
      count(lit(1)).as("n_customers"),
      sum(col("__x")).as("__tot"),
      // decimal(38,0) operand per the repo overflow rule: rank × cents
      // summed as long*long can wrap at large SF (oracle is HUGEINT)
      sum(col("__i").cast("decimal(38,0)") * col("__x")).as("__w"))
      .select(col("n_name"),
        col("n_customers").cast("bigint").as("n_customers"),
        col("__tot").cast("bigint").as("spend_cents"),
        expr("CAST((CAST(2 AS DECIMAL(38,0)) * __w " +
          "- (CAST(n_customers AS DECIMAL(38,0)) + 1) * __tot) " +
          "* 1000000 DIV (CAST(n_customers AS DECIMAL(38,0)) * __tot) " +
          "AS BIGINT)").as("gini_micros"))
      .orderBy("n_name")
  }

  /** t-closeness over the q186 release shape — same quasi-identifiers
    * (nation, market segment), same three ordered balance bands, now
    * gating each class's DISTRIBUTION against the global one at
    * EMD ≤ 15 % (see [[graft.operators.Quality.tCloseness]]).
    */
  def q202TCloseness(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("c_acctbal").cast("decimal(18,2)") * 100)
      .cast("decimal(18,0)").cast("bigint")
    val banded = Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"), cents.as("__c"))
      .withColumn("bal_band",
        when(col("__c") < 0L, "neg")
          .when(col("__c") < 500000L, "low")
          .otherwise("high"))
    graft.operators.Quality.tCloseness(banded,
        Seq("c_nationkey", "c_mktsegment"), "bal_band",
        Seq("neg", "low", "high"), tPct = 15)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Kaplan–Meier survival (risk) table over user lifetimes — the
    * churn/retention curve's exact ingredients. A user's lifetime is
    * first→last event in ELAPSED HOURS (the synthetic feed spans one
    * month); users still active in the final 24 hours of the observed
    * window are CENSORED (they didn't churn, observation just ended —
    * the defining subtlety of survival analysis). Per distinct death
    * time: n at risk, deaths, censored, and the discrete hazard dᵢ/nᵢ
    * in exact micros. The fact stream folds to one row per user (one
    * shuffle), the risk table is one window over the ≤|distinct
    * durations| series — survival S(t) = Π(1−hᵢ) is left to the
    * caller, as the running product is the one non-associative step.
    */
  def q203Survival(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(col("ts")).as("__f"), max(col("ts")).as("__l"))
    val horizon = per.agg(max(col("__l")).as("__h"))
    val lab = per.crossJoin(broadcast(horizon))
      .select(
        expr("CAST((unix_micros(__l) - unix_micros(__f)) " +
          "DIV 3600000000 AS BIGINT)").as("dur_hours"),
        (col("__l") < col("__h") - expr("INTERVAL 24 HOURS"))
          .as("__died"))
    val perDur = lab.groupBy("dur_hours").agg(
      sum(when(col("__died"), 1L).otherwise(0L)).as("deaths"),
      sum(when(!col("__died"), 1L).otherwise(0L)).as("censored"),
      count(lit(1)).as("__n"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("dur_hours").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDur.withColumn("n_risk", sum(col("__n")).over(w))
      .filter(col("deaths") > 0)
      .select(col("dur_hours"),
        col("n_risk").cast("bigint").as("n_risk"),
        col("deaths").cast("bigint").as("deaths"),
        col("censored").cast("bigint").as("censored"),
        expr("CAST((deaths * 1000000L) DIV n_risk AS BIGINT)")
          .as("hazard_micros"))
      .orderBy("dur_hours")
  }

  /** Lag-k autocorrelation ingredients of the daily event-count
    * series — the seasonality screen (lag 1: momentum; lag 7: weekly
    * cycle). The fact stream folds to the |days|-row series first;
    * each lag is one window over that series and one moment
    * aggregate. Same exact-integer sufficient statistics + one pinned
    * IEEE r²·10⁶ expression as q199.
    */
  def q204Autocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("ts").cast("date").as("day"))
      .groupBy("day").agg(count(lit(1)).as("__y"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day")
    val lagged = Seq(1, 7).map { k =>
      daily.withColumn("__p", lag(col("__y"), k).over(w))
        .filter(col("__p").isNotNull)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("__y")).as("sy"), sum(col("__p")).as("sp"),
          sum((col("__y") * col("__p")).cast("decimal(38,0)")).as("syp"),
          sum((col("__y") * col("__y")).cast("decimal(38,0)")).as("syy"),
          sum((col("__p") * col("__p")).cast("decimal(38,0)")).as("spp"))
        .select(lit(k.toLong).as("lag"),
          col("n_pairs").cast("bigint").as("n_pairs"),
          col("sy").cast("bigint").as("sum_y"),
          col("sp").cast("bigint").as("sum_prev"),
          col("syp").cast("bigint").as("sum_yp"),
          col("syy").cast("bigint").as("sum_y2"),
          col("spp").cast("bigint").as("sum_prev2"),
          signum((col("n_pairs").cast("decimal(38,0)") * col("syp") -
            col("sy").cast("decimal(38,0)") * col("sp")).cast("double"))
            .cast("bigint").as("r_sign"),
          floor({
            val n = col("n_pairs").cast("decimal(38,0)")
            val num = (n * col("syp") -
              col("sy").cast("decimal(38,0)") * col("sp")).cast("double")
            val d1 = (n * col("syy") -
              col("sy").cast("decimal(38,0)") * col("sy")).cast("double")
            val d2 = (n * col("spp") -
              col("sp").cast("decimal(38,0)") * col("sp")).cast("double")
            num * num / (d1 * d2) * lit(1000000.0)
          }).cast("bigint").as("r2_micros"))
    }
    lagged.reduce(_ unionAll _).orderBy("lag")
  }

  /** Ordered string aggregation — the LISTAGG / string_agg surface:
    * per market segment, the top-5 customers by balance concatenated
    * in rank order. The rank is one bounded window (ties broken on
    * custkey, making the concat total); the aggregation is
    * collect_list + array_sort on the (rank, name) struct — exactly
    * the deterministic-ordered-concat plan shape, never dependent on
    * row arrival order.
    */
  def q205Listagg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey")))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_name"),
        col("c_acctbal"),
        (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"))
      .withColumn("__rn", rn).filter(col("__rn") <= 5)
      .groupBy("c_mktsegment")
      .agg(collect_list(struct(col("__rn"), col("c_name"))).as("__xs"),
        sum(col("__c")).as("top5_bal_cents"))
      .select(col("c_mktsegment"),
        array_join(transform(array_sort(col("__xs")),
          x => x.getField("c_name")), ",").as("top5_names"),
        col("top5_bal_cents").cast("bigint").as("top5_bal_cents"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q22 shape — "idle wealthy accounts": customers with NO
    * RECENT orders (none since 2000) whose balance beats the average
    * POSITIVE balance, rolled up by nation. The correlated scalar-avg subquery is
    * one broadcast 1-row aggregate, the NOT EXISTS is one anti join
    * against the distinct buyer set, and the above-average test
    * CROSS-MULTIPLIES (bal·n > Σbal) in exact cents — the decorrelated
    * plan Catalyst should pick, stated explicitly.
    */
  def q207IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"))
    val pos = cust.filter(col("__c") > 0L)
      .agg(sum(col("__c")).as("__sp"), count(lit(1)).as("__np"))
    val buyers = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(pos))
      .filter(col("__c") * col("__np") > col("__sp"))
      .join(buyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).cast("bigint").as("n_cust"),
        sum(col("__c")).cast("bigint").as("total_bal_cents"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q7 shape — shipping volume between nation PAIRS: the
    * five-table join where one dimension (nation) participates TWICE
    * under different roles (supplier's vs customer's), the case join
    * planners get wrong by collapsing the aliases. Both nation sides
    * broadcast; the fact join tree stays a single shuffle spine
    * (lineitem⋈orders⋈customer). Revenue is the exact decimal(18,4)
    * convention.
    */
  def q208NationVolume(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date"))
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("__nk1"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("__nk2"), col("n_name").as("cust_nation"))
    li.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("__nk1"))
      .join(broadcast(n2), col("c_nationkey") === col("__nk2"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("decimal(18,4)").cast("double")
        .as("revenue"),
        count(lit(1)).cast("bigint").as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** percent_rank / cume_dist in exact fixed point — the distribution
    * windows whose double division drifts across engines: re-expressed
    * as (rank−1)·10⁶ DIV (n−1) and tie-inclusive RANGE-frame counts,
    * so every value is an exact integer. One window family per
    * partition, no extra shuffles.
    */
  def q209PercentRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n8n = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("bal_cents"))
      .join(broadcast(n8n), col("c_nationkey") === col("n_nationkey"))
    val byBal = Window.partitionBy("n_name").orderBy("bal_cents")
    val cnt = Window.partitionBy("n_name")
    cust
      .withColumn("rnk", rank().over(byBal))
      .withColumn("__n", count(lit(1)).over(cnt))
      .withColumn("__le", count(lit(1)).over(
        byBal.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("c_custkey"), col("n_name"), col("bal_cents"),
        col("rnk").cast("bigint").as("rnk"),
        // SQL-standard singleton partition: percent_rank of a 1-row
        // group is 0, not a DIV-by-zero throw (a fresh-seed nation
        // with exactly one customer hit this — seed-gate find, r17)
        expr("""CAST(CASE WHEN __n = 1 THEN 0
                ELSE ((rnk - 1) * 1000000L) DIV (__n - 1)
                END AS BIGINT)""")
          .as("pct_rank_micros"),
        expr("CAST((__le * 1000000L) DIV __n AS BIGINT)")
          .as("cume_dist_micros"))
      .orderBy("n_name", "bal_cents", "c_custkey")
  }

  /** SAX-style symbolic run-length encoding of the daily event-count
    * series — the time-series compression step behind motif/anomaly
    * mining: each day maps to an equi-depth quartile SYMBOL by pure
    * ordinal arithmetic ((rn−1)·4 DIV n over the (count, day) total
    * order — no boundary doubles to drift), then consecutive equal
    * symbols collapse to runs via the q12 lag/cumsum trick. Every
    * window runs over the |days|-row series, never the raw facts.
    */
  def q210SaxRuns(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("ts").cast("date").as("day"))
      .groupBy("day").agg(count(lit(1)).as("__y"))
    val byVal = Window.orderBy(col("__y"), col("day"))
    val all = Window.partitionBy(lit(1))
    val sym = daily
      .withColumn("__rn", row_number().over(byVal))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("symbol", expr("CAST(((__rn - 1) * 4) DIV __n AS INT)"))
    val byDay = Window.orderBy("day")
    val cum = byDay.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    sym
      .withColumn("__chg",
        when(lag(col("symbol"), 1).over(byDay).isNull ||
          col("symbol") =!= lag(col("symbol"), 1).over(byDay), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("__chg")).over(cum))
      .groupBy("run_id")
      .agg(min(col("symbol")).as("symbol"),
        min(col("day")).as("__s"), max(col("day")).as("__e"),
        count(lit(1)).as("n_days"))
      .select(col("run_id").cast("bigint").as("run_id"),
        col("symbol").cast("int").as("symbol"),
        col("__s").cast("timestamp_ntz").as("start_day"),
        col("__e").cast("timestamp_ntz").as("end_day"),
        col("n_days").cast("bigint").as("n_days"))
      .orderBy("run_id")
  }

  /** Stationary distribution of the user-journey Markov chain — the
    * steady-state "where do users end up" vector: transition counts
    * from per-user lag pairs (one shuffle over the facts), then six
    * unrolled power-iteration rounds in INTEGER MICROS with per-edge
    * floor division ((πᵢ·Cᵢⱼ) DIV Sᵢ summed as exact longs) — the
    * q115 fixed-point template, bit-identical under any aggregation
    * order and join plan. The k×k transition table is
    * dimension-sized; each round is one broadcast join + one
    * aggregate.
    */
  def q211MarkovStationary(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val trans = ev
      .withColumn("__prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("__c"))
    val edges = trans.join(
      trans.groupBy("src").agg(sum(col("__c")).as("__s")), Seq("src"))
      .localCheckpoint()
    val states = edges.select(col("src").as("event_type")).distinct()
    var pi = states.select(col("event_type"),
      expr("CAST(1000000L DIV 5 AS BIGINT)").as("pi_micros"))
    for (_ <- 1 to 6) {
      pi = edges
        .join(broadcast(pi), col("src") === pi("event_type"))
        .select(col("dst"),
          expr("CAST((pi_micros * __c) DIV __s AS BIGINT)").as("__t"))
        .groupBy(col("dst").as("event_type"))
        .agg(sum(col("__t")).cast("bigint").as("pi_micros"))
        .localCheckpoint()
    }
    pi.orderBy("event_type")
  }

  /** Information gain — the decision-tree / feature-selection screen:
    * IG(Y; X) = H(Y) − H(Y|X) where Y is "balance above the global
    * mean" (cross-multiplied in cents, never a divided threshold) and
    * X ranges over the categorical features. Every probability is a
    * ratio of exact counts; each entropy TERM is one pinned IEEE
    * expression floored to micros, and terms are then summed as
    * integers — so no float aggregate ordering exists anywhere (the
    * q192 rule: doubles only inside a single fixed expression over
    * exact integers).
    */
  def q212InfoGain(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"))
    val tot = cust.agg(count(lit(1)).as("__nn"), sum(col("__c")).as("__t"))
    val lab = cust.crossJoin(broadcast(tot))
      .withColumn("__y",
        when(col("__c") * col("__nn") > col("__t"), 1L).otherwise(0L))
    // one entropy term m·ln(base/m)/(N·ln2) in micros; 0·ln(…) := 0
    def term(m: Column, base: Column, n: Column): Column =
      when(m === 0L, 0L).otherwise(
        floor(m.cast("double") *
          log(base.cast("double") / m.cast("double")) /
          (n.cast("double") * log(lit(2.0))) * lit(1000000.0))
          .cast("bigint"))
    def gain(feature: String): DataFrame = {
      val perX = lab.groupBy(col(feature).cast("string").as("__x"))
        .agg(count(lit(1)).as("__nx"), sum(col("__y")).as("__nx1"))
        .crossJoin(broadcast(
          lab.agg(count(lit(1)).as("__nn"), sum(col("__y")).as("__n1"))))
      perX.agg(
        max(col("__nn")).as("n"),
        max(term(col("__n1"), col("__nn"), col("__nn")) +
          term(col("__nn") - col("__n1"), col("__nn"), col("__nn")))
          .as("h_y_micros"),
        sum(term(col("__nx1"), col("__nx"), col("__nn")) +
          term(col("__nx") - col("__nx1"), col("__nx"), col("__nn")))
          .as("h_y_given_x_micros"))
        .select(lit(feature).as("feature"),
          col("n").cast("bigint").as("n"),
          col("h_y_micros").cast("bigint").as("h_y_micros"),
          col("h_y_given_x_micros").cast("bigint")
            .as("h_y_given_x_micros"),
          (col("h_y_micros") - col("h_y_given_x_micros")).cast("bigint")
            .as("info_gain_micros"))
    }
    gain("c_mktsegment").unionAll(gain("c_nationkey"))
      .orderBy("feature")
  }

  /** Calendar-dimension spine — the warehouse date dimension built on
    * the fly: one generated day-spine over the fact table's own date
    * range (so EMPTY days exist as rows — the property a plain GROUP
    * BY over facts cannot produce), left-joined to per-day order
    * rollups and folded by ISO weekday. The spine derives from a
    * 1-row min/max aggregate, so no hand-maintained dimension table
    * and no driver-side date math.
    */
  def q213CalendarSpine(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderdate").cast("date").as("day"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("__c"))
    val perDay = o.groupBy("day")
      .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__r"))
    val bounds = o.agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
    val spine = bounds.select(explode(expr(
      "sequence(__lo, __hi, interval 1 day)")).as("day"))
    spine.join(perDay, Seq("day"), "left")
      .groupBy((weekday(col("day")) + 1).as("isodow"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
        sum(when(col("__n").isNotNull, 1L).otherwise(0L))
          .cast("bigint").as("n_order_days"),
        coalesce(sum(col("__n")), lit(0L)).cast("bigint").as("n_orders"),
        coalesce(sum(col("__r")), lit(0L)).cast("bigint").as("rev_cents"))
      .orderBy("isodow")
  }

  /** percentile_cont with EXACT linear interpolation — the continuous
    * percentile re-expressed so no engine ever divides: the target
    * position p·(n−1) stays a rational over 100, the bracketing
    * ordinals are integer DIV/mod, and the interpolated value is
    * cents·10⁶ plus the exact integer remainder term. One rank window
    * per group; the four percentiles share it via a 4-row spine.
    */
  def q214PercentileCont(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("__c"))
    val ranked = li
      .withColumn("__rn", row_number().over(
        Window.partitionBy("l_returnflag").orderBy("__c")))
      .localCheckpoint() // consumed twice: lo and hi ordinal probes
    val stats = ranked.groupBy("l_returnflag")
      .agg(max(col("__rn")).as("__n"))
    import s.implicits._
    val ps = stats.crossJoin(broadcast(Seq(25, 50, 75, 90).toDF("p")))
      .withColumn("__pos", col("p").cast("bigint") * (col("__n") - 1))
      .withColumn("__lo", expr("CAST(__pos DIV 100 AS BIGINT)"))
      .withColumn("__rem", expr("CAST(__pos % 100 AS BIGINT)"))
      .withColumn("__hi_rn",
        when(col("__rem") === 0L, col("__lo") + 1)
          .otherwise(col("__lo") + 2))
    ps
      .join(ranked.select(col("l_returnflag").as("__rf1"),
        col("__rn").as("__rn1"), col("__c").as("__vlo")),
        col("l_returnflag") === col("__rf1") &&
          col("__rn1") === col("__lo") + 1)
      .join(ranked.select(col("l_returnflag").as("__rf2"),
        col("__rn").as("__rn2"), col("__c").as("__vhi")),
        col("l_returnflag") === col("__rf2") &&
          col("__rn2") === col("__hi_rn"))
      .select(col("l_returnflag"), col("p").cast("int").as("p"),
        col("__n").cast("bigint").as("n"),
        (col("__vlo") * 1000000L +
          expr("CAST(((__vhi - __vlo) * 1000000L * __rem) DIV 100 " +
            "AS BIGINT)")).cast("bigint").as("value_micros"))
      .orderBy("l_returnflag", "p")
  }

  /** Degree assortativity of the supplier–part sourcing graph — "do
    * high-degree suppliers serve high-degree parts?": exact Pearson
    * ingredient moments (the q199 convention) over the DISTINCT edge
    * list between the two endpoint degrees. Edges and both degree
    * tables come from the same one dedup pass; degrees join back by
    * key (the part side broadcast-sized), and the moment fold is one
    * aggregate — no adjacency matrix anywhere.
    */
  def q215DegreeAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .localCheckpoint() // feeds both degree folds and the moment join
    val dSupp = edges.groupBy("l_suppkey")
      .agg(count(lit(1)).as("__ds"))
    val dPart = edges.groupBy("l_partkey")
      .agg(count(lit(1)).as("__dp"))
    val m = edges.join(dSupp, Seq("l_suppkey"))
      .join(dPart, Seq("l_partkey"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("__ds")).as("sx"), sum(col("__dp")).as("sy"),
        sum((col("__ds") * col("__dp")).cast("decimal(38,0)")).as("sxy"),
        sum((col("__ds") * col("__ds")).cast("decimal(38,0)")).as("sxx"),
        sum((col("__dp") * col("__dp")).cast("decimal(38,0)")).as("syy"))
    val n = col("n_edges").cast("decimal(38,0)")
    val num = (n * col("sxy") -
      col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
    val d1 = (n * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    val d2 = (n * col("syy") -
      col("sy").cast("decimal(38,0)") * col("sy")).cast("double")
    m.select(col("n_edges").cast("bigint").as("n_edges"),
      col("sx").cast("bigint").as("sum_dsupp"),
      col("sy").cast("bigint").as("sum_dpart"),
      col("sxy").cast("bigint").as("sum_dd"),
      signum(num).cast("bigint").as("r_sign"),
      floor(num * num / (d1 * d2) * lit(1000000.0))
        .cast("bigint").as("r2_micros"))
  }

  /** Time-weighted average (TWAP) of each user's event value stream —
    * the finance/metering aggregate where a value holds until the next
    * observation: Σ vᵢ·Δtᵢ / Σ Δtᵢ over lag-defined intervals, carried
    * as exact integers (value floored to micros once, durations in
    * µs, the divide a single DIV at the end). One window per user,
    * one aggregate — the interval sweep never self-joins.
    */
  def q216Twap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 1000000.0).cast("bigint").as("__v"))
      .withColumn("__nt", lead(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("__nt").isNotNull)
      .withColumn("__dt", col("__nt") - unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("__dt")).as("__den"),
        sum(col("__v").cast("decimal(38,0)") * col("__dt"))
          .as("__num"))
      .select(col("user_id"),
        col("n_intervals").cast("bigint").as("n_intervals"),
        col("__den").cast("bigint").as("span_micros"),
        expr("CAST(__num DIV __den AS BIGINT)").as("twap_micros"))
      .orderBy("user_id")
  }

  /** EWMA (α = 1/4) over each event type's daily count series, as an
    * INTEGER recurrence: sₜ = (yₜ·10⁶ + 3·sₜ₋₁) DIV 4, s₁ = y₁·10⁶ —
    * floor-fixed-point, so the entire trajectory is exact and
    * engine-portable (the q115 rule applied to a scan, not a join
    * loop). Spark folds the recurrence in ONE `aggregate()` lambda
    * over the per-type sorted day array — no driver loop, no N-round
    * join plan — while the oracle replays it as a recursive CTE. The
    * array is |days|-sized (the series, not the facts).
    */
  def q217Ewma(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("__y"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("__y"))))
        .as("__s"))
      .select(col("event_type"),
        size(col("__s")).cast("bigint").as("n_days"),
        expr("""CAST(aggregate(
            slice(transform(__s, x -> x.__y), 2, size(__s) - 1),
            element_at(__s, 1).__y * 1000000L,
            (acc, y) -> (y * 1000000L + 3L * acc) DIV 4L)
          AS BIGINT)""").as("ewma_micros"))
      .orderBy("event_type")
  }

  /** Log-domain aggregates — geometric mean and mean-log of order
    * values per nation: each row contributes floor(ln(cents)·10⁶)
    * (one pinned IEEE op per row on identical doubles), the sums are
    * then exact integers under any aggregation order, and the
    * geometric mean re-exponentiates ONCE from the integer mean-log.
    * The pattern that makes multiplicative statistics safe on a
    * cluster — never a float product, never an ordered float sum.
    */
  def q218LogStats(s: SparkSession, dir: String): DataFrame = {
    val n8n = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        floor(log((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint").cast("double"))
          * lit(1000000.0)).cast("bigint").as("__ln"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n8n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("__ln")).as("sum_ln_micros"))
      .select(col("n_name"),
        col("n_orders").cast("bigint").as("n_orders"),
        col("sum_ln_micros").cast("bigint").as("sum_ln_micros"),
        floor(exp(expr("CAST(sum_ln_micros DIV n_orders AS BIGINT)")
          .cast("double") / lit(1000000.0)) * lit(100.0))
          .cast("bigint").as("geo_mean_x100"))
      .orderBy("n_name")
  }

  /** FIFO inventory matching — returns restock, sales consume, and
    * each sale is allocated against return lots in arrival order: both
    * streams become half-open intervals on the per-part CUMULATIVE
    * quantity axis (one window each), and FIFO allocation is exactly
    * interval overlap — min(ends) − max(starts). The join is an
    * equi-join on partkey with the overlap as its residual condition;
    * per-part stream lengths bound the fan-out (at lake scale the
    * cumulative axis buckets like [[graft.operators.Relational
    * .intervalJoin]]). All quantities are exact integers.
    */
  def q219FifoMatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def stream(df: DataFrame, pfx: String): DataFrame = {
      val w = Window.partitionBy("l_partkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity").cast("decimal(18,0)").cast("bigint")
            .as("__q"))
        .withColumn(s"${pfx}_end", sum(col("__q")).over(w))
        .select(col("l_partkey"),
          (col(s"${pfx}_end") - col("__q")).as(s"${pfx}_start"),
          col(s"${pfx}_end"))
    }
    val li = Tables.lineitem(s, dir)
    val ret = stream(li.filter(col("l_returnflag") === "R"), "r")
    val sale = stream(li.filter(col("l_returnflag") =!= "R"), "s")
    ret.join(sale, Seq("l_partkey"))
      .filter(col("r_start") < col("s_end") &&
        col("s_start") < col("r_end"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).cast("bigint").as("n_matches"),
        sum(least(col("r_end"), col("s_end")) -
          greatest(col("r_start"), col("s_start")))
          .cast("bigint").as("matched_qty"))
      .orderBy("l_partkey")
  }

  /** Runtime Bloom-filter join pruning (sideways information passing):
    * the selective dimension's key set becomes a Bloom sketch applied
    * to the FACT SCAN as a map-only pre-filter, so at shuffle-join
    * scale the fact side sheds ~all non-matching rows before any
    * exchange. False positives are harmless — the join re-verifies —
    * so the result is EXACTLY the plain join (which is the oracle: the
    * optimization is proven semantics-free, not just plausible). The
    * sketch is built with one job on the dimension side, the side that
    * is never 100 TB.
    */
  def q220RuntimeBloomJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val dim = Tables.supplier(s, dir)
      .filter(col("s_nationkey") === 7)
      .select(col("s_suppkey"), col("s_name"))
    val nDim = dim.count()
    // an EMPTY dimension admits nothing — the degenerate runtime
    // filter is `false`, and building a 0-item sketch is undefined
    val prune: Column = if (nDim == 0) lit(false) else {
      val bloom = dim.stat.bloomFilter("s_suppkey", nDim, 0.001)
      val bytes = {
        val b = new java.io.ByteArrayOutputStream()
        bloom.writeTo(b); b.toByteArray
      }
      val bloomLit = Literal.create(bytes,
        org.apache.spark.sql.types.BinaryType)
      ColumnBridge.column(BloomFilterMightContain(bloomLit,
        ColumnBridge.expression(col("l_suppkey"))))
    }
    val pruned = Tables.lineitem(s, dir).filter(prune)
    pruned.join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).cast("bigint").as("n_items"),
        sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(18,0)").cast("bigint")).cast("bigint")
          .as("rev_cents"))
      .orderBy("s_suppkey")
  }

  /** Merkle-style table reconciliation — the anti-entropy sweep two
    * replicas run without shipping full rows: per-row md5 digests fold
    * into per-CHUNK (key DIV 1000) integer sums, chunk summaries
    * compare first (|chunks| rows cross the wire), and only rows of
    * MISMATCHED chunks are exchanged and diffed. Replica B is replica
    * A with planted drift — keys ≡0 mod 2003 deleted, ≡0 mod 1009
    * repriced — so the probe has known answers. Digest sums are exact
    * longs; the md5 prefix convention is the portable q55 one.
    */
  def q221TableReconcile(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).select(col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("__c"))
    val b = a.filter(pmod(col("o_orderkey"), lit(2003)) =!= 0)
      .withColumn("__c", when(pmod(col("o_orderkey"), lit(1009)) === 0,
        col("__c") + 1).otherwise(col("__c")))
    def prep(df: DataFrame): DataFrame = df.select(col("o_orderkey"),
      expr("CAST(o_orderkey DIV 1000 AS BIGINT)").as("chunk"),
      graft.operators.Scale.md5Prefix32(
        concat_ws(":", col("o_orderkey"), col("__c"))).as("__d"))
    // each digest table feeds its chunk summary AND the drill probe —
    // pin once or the md5 scan runs twice per side (the q125 lesson)
    val pa = prep(a).localCheckpoint()
    val pb = prep(b).localCheckpoint()
    def chunks(df: DataFrame, n: String, d: String): DataFrame =
      df.groupBy("chunk")
        .agg(count(lit(1)).as(n), sum(col("__d")).as(d))
    val bad = chunks(pa, "__na", "__da")
      .join(chunks(pb, "__nb", "__db"), Seq("chunk"), "full_outer")
      .filter(coalesce(col("__na"), lit(-1L)) =!=
          coalesce(col("__nb"), lit(-1L)) ||
        coalesce(col("__da"), lit(-1L)) =!=
          coalesce(col("__db"), lit(-1L)))
      .select(col("chunk"))
    val ra = pa.join(broadcast(bad), Seq("chunk"))
    val rb = pb.join(broadcast(bad), Seq("chunk"))
    ra.select(col("chunk"), col("o_orderkey"), col("__d").as("__d_a"))
      .join(rb.select(col("o_orderkey"), col("__d").as("__d_b")),
        Seq("o_orderkey"), "full_outer")
      .filter(col("__d_a").isNull || col("__d_b").isNull ||
        col("__d_a") =!= col("__d_b"))
      .select(col("o_orderkey"), col("chunk").cast("bigint").as("chunk"),
        when(col("__d_b").isNull, "only_a")
          .when(col("__d_a").isNull, "only_b")
          .otherwise("changed").as("status"))
      .orderBy("o_orderkey")
  }

  /** Weekly seasonal index of daily revenue — avg(dow) / avg(overall)
    * per ISO weekday, CROSS-MULTIPLIED to micros over exact integer
    * sums (no divided averages anywhere, the q140 rule). Facts fold to
    * the daily series first; the index is |7| rows against one 1-row
    * broadcast.
    */
  def q222SeasonalIndex(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint")).as("__r"))
    val all = daily.agg(count(lit(1)).as("__n"), sum(col("__r")).as("__t"))
    daily.groupBy((weekday(col("day")) + 1).as("isodow"))
      .agg(count(lit(1)).as("__nd"), sum(col("__r")).as("__rd"))
      .crossJoin(broadcast(all))
      .select(col("isodow"),
        col("__nd").cast("bigint").as("n_days"),
        col("__rd").cast("bigint").as("rev_cents"),
        expr("CAST((CAST(__rd AS DECIMAL(38,0)) * __n * 1000000) DIV " +
          "(CAST(__nd AS DECIMAL(38,0)) * __t) AS BIGINT)")
          .as("seasonal_index_micros"))
      .orderBy("isodow")
  }

  /** Streaming TWAP — [[graft.streaming.TwapStream]] driven by three
    * time-sliced micro-batches with pinned arrival order (the q105
    * harness), then the decimal-exact interval fold. The oracle is
    * q216's BATCH SQL verbatim: the stream must reproduce the batch
    * lag-sweep exactly, completed interval by completed interval.
    */
  def q223StreamTwap(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(s, dir)
    val root = java.nio.file.Files.createTempDirectory("q223-stream").toString
    val src = s"$root/src"
    val bounds = Seq("1900-01-01", "2024-01-11", "2024-01-21", "2100-01-01")
    val slices = bounds.sliding(2).zipWithIndex.collect {
      case (Seq(a, b), i) =>
        // memoized render + pinned mtime order (graft.FeedMemo)
        FeedMemo.copySlice(dir, s"q223_s$i", src, 1000000000000L + i * 60000L) {
          raw.filter(col("ts") >= lit(a).cast("timestamp") &&
            col("ts") < lit(b).cast("timestamp"))
        }
    }.toList
    val name = java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    try StreamRun.toMemory(s, name) {
      val events = graft.streaming.EventsStream
        .readEvents(s, src, Tables.eventsRaw(s, slices.head).schema,
          maxFilesPerTrigger = Some(1))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as(org.apache.spark.sql.Encoders
          .product[graft.streaming.EventsStream.Event])
      graft.streaming.TwapStream.intervals(events)
        .toDF()
        .writeStream.outputMode("append")
    } {
      _.groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt_micros")).as("__den"),
          sum(col("v_micros").cast("decimal(38,0)") * col("dt_micros"))
            .as("__num"))
        .select(col("user_id"),
          col("n_intervals").cast("bigint").as("n_intervals"),
          col("__den").cast("bigint").as("span_micros"),
          expr("CAST(__num DIV __den AS BIGINT)").as("twap_micros"))
        .orderBy("user_id")
        .localCheckpoint(true)
    } finally TmpTrees.delete(root)
  }

  /** Quantile normalization (the bioinformatics/feature-prep op):
    * three columns of different scales are forced onto ONE reference
    * distribution — the rank-wise mean. Each column's total-order rank
    * is computed DISTRIBUTED: range-partition on the value, rank
    * locally per partition (parallel window), then add per-partition
    * offsets from a partition-count rollup (a |partitions|-row frame).
    * Equal values land in one range partition, so the rank→value
    * sequence is exactly the global sort's — no single-partition
    * `row_number() OVER (ORDER BY v)` anywhere, which at 100 TB would
    * funnel the whole fact table through one task. The reference value
    * at each rank is the exact integer mean in micros. Output is the
    * |n|-row reference distribution itself.
    */
  def q224QuantileNorm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE multi-column pass (round 20, guide §2.4 — this was three
    // independent range-sort → rank → join passes over the same frame,
    // i.e. three full-data range shuffles plus two sort-merge joins on
    // rank). The three columns ride ONE range exchange keyed
    // (tag, v): tuples order lexicographically, so within each tag the
    // values stay globally sorted across partitions and equal (tag, v)
    // pairs land in one partition — exactly the per-column guarantee
    // the old per-column exchanges gave, so each column's rank→value
    // sequence is unchanged (ties swap positions only among EQUAL
    // values, which cannot change the value at any rank). And because
    // every rank appears exactly once per tag, the rank-wise mean
    // needs no 3-way join: sum over the 3 tagged rows at a rank IS
    // vq + vp + vd. At 100 TB: one range shuffle of 3N narrow rows
    // instead of three of N plus two N-row join shuffles.
    val li = Tables.lineitem(s, dir)
    // checkpointed once (round 19): the range exchange SAMPLES its
    // child before shuffling it — unpinned, the scan+casts+explode
    // would execute twice
    val tagged = li.select(explode(array(
        struct(lit(0).as("tag"),
          col("l_quantity").cast("decimal(18,0)").cast("bigint").as("v")),
        struct(lit(1).as("tag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("bigint").as("v")),
        struct(lit(2).as("tag"),
          (col("l_discount").cast("decimal(18,2)") * 100)
            .cast("decimal(18,0)").cast("bigint").as("v"))))
        .as("c"))
      .select(col("c.tag").as("tag"), col("c.v").as("v"))
    val taggedM = PlanSpy.spy("tagged_prechk", tagged).localCheckpoint()
    val nPart = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .toOption.filter(_ > 0).getOrElse(32) // "auto"-safe parse
    // local rank per range partition (materialized once — the offset
    // rollup below reads it again), then global rank = per-tag offset
    // + local; 3× the per-column partition count keeps per-task volume
    // identical to the old per-column exchanges at any width
    val local = PlanSpy.spy("rank_prechk", taggedM
      .repartitionByRange(3 * nPart, col("tag"), col("v"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(
        Window.partitionBy("__pid", "tag").orderBy("v"))))
      .localCheckpoint()
    val offsets = local.groupBy("__pid", "tag")
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(Window.partitionBy("tag")
          .orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("tag"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid", "tag"))
      .select((col("__lr") + col("__off")).as("rank"), col("v"))
      .groupBy("rank")
      .agg(sum(col("v")).as("__sum"))
      .select(col("rank").cast("bigint").as("rank"),
        expr("CAST((__sum * 1000000L) DIV 3 AS BIGINT)").as("ref_micros"))
      .orderBy("rank")
  }

  /** Cohort LTV curve — cumulative revenue per signup cohort at each
    * month offset, per capita in exact micros: cohort = first-order
    * month (one fold), offsets by integer month arithmetic, the
    * cumulative sweep one window over the |cohorts × offsets| rollup,
    * and LTV-per-customer a single DIV against the broadcast cohort
    * sizes.
    */
  def q225CohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("bigint").as("__m"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("__c"))
    val cohort = o.groupBy("o_custkey").agg(min(col("__m")).as("__cm"))
    val sizes = cohort.groupBy("__cm").agg(count(lit(1)).as("__sz"))
    val cells = o.join(cohort, Seq("o_custkey"))
      .groupBy(col("__cm"), (col("__m") - col("__cm")).as("offset"))
      .agg(sum(col("__c")).as("__rev"))
    val w = Window.partitionBy("__cm").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("__cum", sum(col("__rev")).over(w))
      .join(broadcast(sizes), Seq("__cm"))
      .select(col("__cm").cast("bigint").as("cohort_month"),
        col("offset").cast("bigint").as("offset"),
        col("__sz").cast("bigint").as("cohort_size"),
        col("__cum").cast("bigint").as("cum_rev_cents"),
        expr("CAST((CAST(__cum AS DECIMAL(38,0)) * 1000000) DIV __sz " +
          "AS BIGINT)").as("ltv_micros"))
      .orderBy("cohort_month", "offset")
  }

  /** Strict time-boxed funnel — signup → view → purchase where each
    * step must land within 24 h of the PREVIOUS step's first
    * qualifying time (q103's loose funnel can credit a view from
    * weeks later; conversion analysis usually can't). Three
    * conditional-min folds, each a broadcast join of the previous
    * stage's per-user anchor — no window over the raw event stream,
    * no self-join explosion.
    */
  def q226StrictFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("__t"))
    val day = 86400000000L
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("__t")).as("__t1"))
    val s2 = ev.filter(col("event_type") === "view")
      .join(s1, Seq("user_id"))
      .filter(col("__t") > col("__t1") && col("__t") <= col("__t1") + day)
      .groupBy("user_id").agg(min(col("__t")).as("__t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("__t") > col("__t2") && col("__t") <= col("__t2") + day)
      .groupBy("user_id").agg(min(col("__t")).as("__t3"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_view_24h")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_24h")))
      .select(col("n_signup").cast("bigint").as("n_signup"),
        col("n_view_24h").cast("bigint").as("n_view_24h"),
        col("n_purchase_24h").cast("bigint").as("n_purchase_24h"))
  }

  /** Audience-overlap (Jaccard) matrix between market segments over
    * the parts they purchase — "how distinct are these audiences":
    * per-part segment FLAGS come out of one aggregate, and ALL
    * pairwise intersections are flag-product sums in the same second
    * aggregate — 10 pairs, two passes total, never a pairwise join.
    * Jaccard in exact DIV micros.
    */
  def q227SegmentOverlap(s: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val flags = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("l_partkey")
      .agg(segs.map(g =>
        max(when(col("c_mktsegment") === g, 1L).otherwise(0L))
          .as(s"__f_$g")).head,
        segs.map(g =>
          max(when(col("c_mktsegment") === g, 1L).otherwise(0L))
            .as(s"__f_$g")).tail: _*)
    val pairs = segs.combinations(2).toSeq.map { case Seq(a, b) =>
      (a, b)
    }
    val aggs = segs.map(g => sum(col(s"__f_$g")).as(s"__n_$g")) ++
      pairs.map { case (a, b) =>
        sum(col(s"__f_$a") * col(s"__f_$b")).as(s"__i_${a}_$b")
      }
    val m = flags.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("seg_a"), lit(b).as("seg_b"),
        col(s"__n_$a").cast("bigint").as("n_a"),
        col(s"__n_$b").cast("bigint").as("n_b"),
        col(s"__i_${a}_$b").cast("bigint").as("n_both"),
        expr(s"CAST((__i_${a}_$b * 1000000L) DIV " +
          s"(__n_$a + __n_$b - __i_${a}_$b) AS BIGINT)")
          .as("jaccard_micros"))
    }
    m.select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy("seg_a", "seg_b")
  }

  /** Join-cardinality estimation from per-key count statistics — the
    * optimizer-stats op: |A ⋈ₖ B| = Σₖ cA(k)·cB(k), computed from two
    * key-count aggregates and a key-table join WITHOUT running the
    * fact join — then audited against the actual join count (they
    * must match exactly; the estimator is exact when the full count
    * tables are kept, and degrades to a sketch only when they're
    * truncated). Output: the estimate, the actual, and the top-5
    * heaviest key contributions (the skew the planner cares about).
    */
  def q228JoinSizeStats(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.lineitem(s, dir).select(col("l_partkey"))
    val b = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R").select(col("l_partkey"))
    val ca = a.groupBy("l_partkey").agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy("l_partkey").agg(count(lit(1)).as("__cb"))
    val contrib = ca.join(cb, Seq("l_partkey"))
      .select(col("l_partkey"),
        (col("__ca") * col("__cb")).as("__p"))
      .localCheckpoint() // feeds the total and the top-5 probe
    val est = contrib.agg(sum(col("__p")).as("est"))
    val actual = a.join(b, Seq("l_partkey"))
      .agg(count(lit(1)).as("actual"))
    val top = contrib.orderBy(col("__p").desc, col("l_partkey")).limit(5)
      .agg(sum(col("__p")).as("top5_contrib"),
        min(col("__p")).as("top5_min"))
    est.crossJoin(actual).crossJoin(top)
      .select(col("est").cast("bigint").as("est"),
        col("actual").cast("bigint").as("actual"),
        col("top5_contrib").cast("bigint").as("top5_contrib"),
        col("top5_min").cast("bigint").as("top5_min"))
  }

  /** Duplicate-invoice detection — the fintech dedup screen: two
    * orders from the SAME customer in the SAME thousand-dollar amount
    * band are flagged as suspected duplicates (cent-exact equality
    * never collides on synthetic amounts; real screens band too). The
    * join is an equi-join on the (customer, band) business key —
    * candidate volume is bounded by band-collision counts, never a
    * time-window cross — with i<j de-mirroring; the day gap ships as
    * evidence.
    */
  def q229DupInvoices(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("__d"),
      expr("CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
        "AS DECIMAL(18,0)) AS BIGINT) DIV 100000").as("__band"))
    o.select(col("o_custkey"), col("__band"),
        col("o_orderkey").as("k1"), col("__d").as("d1"))
      .join(o.select(col("o_custkey"), col("__band"),
        col("o_orderkey").as("k2"), col("__d").as("d2")),
        Seq("o_custkey", "__band"))
      .filter(col("k1") < col("k2"))
      .select(col("o_custkey"), col("__band").as("amount_band"),
        col("k1"), col("k2"),
        abs(datediff(col("d2"), col("d1"))).cast("bigint").as("day_gap"))
      .orderBy("o_custkey", "k1", "k2")
  }

  /** Population Stability Index — THE drift monitor for serving
    * pipelines: early-era (≤1997) vs late-era order-value
    * distributions over 10 fixed bins, PSI = Σ (pa−pb)·ln(pa/pb).
    * Laplace-smoothed counts (+1, over n+10) keep every bin defined;
    * each bin's term is ONE pinned IEEE expression over four exact
    * integers, floored to micros, and the 10 terms sum as integers
    * (the q212 no-float-aggregation rule). The bin spine is generated,
    * so empty bins exist as rows.
    */
  def q230PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      least(expr("CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) " +
        "* 100 AS DECIMAL(18,0)) AS BIGINT) DIV 6000000 AS INT)"),
        lit(9)).as("bin"),
      (year(col("o_orderdate")) <= 1997).as("__early"))
    val counts = o.groupBy("bin").agg(
      sum(when(col("__early"), 1L).otherwise(0L)).as("__a"),
      sum(when(!col("__early"), 1L).otherwise(0L)).as("__b"))
    val spine = s.range(0, 10).select(col("id").cast("int").as("bin"))
    val full = spine.join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("__a", "__b"))
      .crossJoin(broadcast(o.agg(
        sum(when(col("__early"), 1L).otherwise(0L)).as("__na"),
        sum(when(!col("__early"), 1L).otherwise(0L)).as("__nb"))))
    val pa = (col("__a") + 1).cast("double") / (col("__na") + 10).cast("double")
    val pb = (col("__b") + 1).cast("double") / (col("__nb") + 10).cast("double")
    full.select(col("bin"),
        col("__a").cast("bigint").as("n_early"),
        col("__b").cast("bigint").as("n_late"),
        floor((pa - pb) * log(pa / pb) * lit(1000000.0))
          .cast("bigint").as("psi_term_micros"))
      .orderBy("bin")
  }

  /** Exact AUC by rank-sum (Mann–Whitney U) — the model-eval metric
    * computed without a single float: score = lifetime spend, label =
    * bought in the final year, ties by AVERAGE rank carried as
    * 2·avg = 2·rank_min + ties − 1 (an integer), and
    * AUC = (2U)·10⁶ DIV (2·n⁺·n⁻). Ordinals ride the
    * [[graft.operators.Relational.globalOrdinals]] range-partitioned
    * scheme (tiebreak custkey), then ties fold in ONE keyed rollup:
    * rank(score) = min row_number within the score group, tie count
    * its size — so 2·avg-rank = 2·min_rn + ties − 1 per score, and
    * the positives' rank-sum is Σ pos(score)·(2·min_rn + tc − 1).
    * No single-task global window anywhere.
    */
  def q231AucExact(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val spend = o.groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint")).as("__score"),
        max(when(col("o_orderdate") >= lit("2001-01-01").cast("date"),
          1L).otherwise(0L)).as("__y"))
    val perScore = graft.operators.Relational.globalOrdinals(spend,
        Seq(col("__score"), col("o_custkey")), rnCol = "__rn")
      .groupBy("__score")
      .agg(min(col("__rn")).as("__mn"), count(lit(1)).as("__tc"),
        sum(col("__y")).as("__py"))
    perScore.agg(
        sum(col("__py") *
          (lit(2L) * col("__mn") + col("__tc") - 1L)).as("__sr2"),
        sum(col("__py")).as("n_pos"),
        (sum(col("__tc")) - sum(col("__py"))).as("n_neg"))
      .select(col("n_pos").cast("bigint").as("n_pos"),
        col("n_neg").cast("bigint").as("n_neg"),
        expr("CAST(((__sr2 - CAST(n_pos AS DECIMAL(38,0)) * " +
          "(n_pos + 1)) * 1000000) DIV " +
          "(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg) AS BIGINT)")
          .as("auc_micros"))
  }

  /** Decile gains/lift table — the campaign-targeting eval: customers
    * ranked by score into ordinal deciles ((rank−1)·10 DIV n — no
    * percentile doubles), per-decile response rate and lift vs the
    * base rate, both cross-multiplied to micros, plus the cumulative
    * gain sweep. Ranks ride the range-partitioned
    * [[graft.operators.Relational.globalOrdinals]] scheme (desc
    * score, custkey tiebreak — never a single-task global window);
    * the only unpartitioned window left is the 10-row decile sweep.
    */
  def q232DecileLift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val spend = o.groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint")).as("__score"),
        max(when(col("o_orderdate") >= lit("2001-01-01").cast("date"),
          1L).otherwise(0L)).as("__y"))
      .localCheckpoint() // feeds the rank pass, the count, the totals
    val ranked = graft.operators.Relational.globalOrdinals(spend,
        Seq(col("__score").desc, col("o_custkey")), rnCol = "__rk")
      .crossJoin(broadcast(spend.agg(count(lit(1)).as("__n"))))
      .withColumn("decile",
        expr("CAST(((__rk - 1) * 10) DIV __n AS INT)"))
    val tot = spend.agg(count(lit(1)).as("__nn"), sum(col("__y")).as("__np"))
    val byDec = ranked.groupBy("decile")
      .agg(count(lit(1)).as("__nd"), sum(col("__y")).as("__pd"))
      .crossJoin(broadcast(tot))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDec.withColumn("__cp", sum(col("__pd")).over(w))
      .select(col("decile"),
        col("__nd").cast("bigint").as("n_customers"),
        col("__pd").cast("bigint").as("n_pos"),
        expr("CAST((__pd * 1000000L) DIV __nd AS BIGINT)")
          .as("response_micros"),
        expr("CAST((CAST(__pd AS DECIMAL(38,0)) * __nn * 1000000) DIV " +
          "(CAST(__nd AS DECIMAL(38,0)) * __np) AS BIGINT)")
          .as("lift_micros"),
        expr("CAST((__cp * 1000000L) DIV __np AS BIGINT)")
          .as("cum_gain_micros"))
      .orderBy("decile")
  }

  /** Multi-source BFS hop distance over the co-purchase graph — the
    * frontier-expansion traversal (recommendation radius, blast-radius
    * analysis, seeds = parts ≡ 0 mod 10) Spark expresses as iterative
    * joins: each round joins
    * ONLY the previous frontier against the edge list, anti-joins the
    * settled set, and checkpoints — work per round is O(frontier
    * edges), never O(V·E), and rounds = the hop bound (4). The
    * oracle replays via a bounded recursive CTE with a min-hop fold.
    */
  def q233BfsHops(s: SparkSession, dir: String): DataFrame = {
    val (pairs, _, _, _) = copurchaseCounts(s, dir, minItem = 25L, minPair = 3L)
    val edges = pairs.select(col("part_a").as("src"), col("part_b").as("dst"))
      .unionByName(pairs.select(col("part_b").as("src"),
        col("part_a").as("dst")))
      .localCheckpoint() // probed once per round
    var dist = edges.select(col("src").as("id")).distinct()
      .filter(pmod(col("id"), lit(10)) === 0)
      .withColumn("hop", lit(0L))
      .localCheckpoint()
    var frontier = dist
    for (h <- 1 to 4) {
      val next = frontier
        .join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .localCheckpoint()
      dist = dist.unionByName(next).localCheckpoint()
      frontier = next
    }
    dist.select(col("id").cast("bigint").as("part_id"),
        col("hop").cast("bigint").as("hop"))
      .orderBy("part_id")
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — the
    * distribution-drift test PSI (q230) bins away: D = sup |F̂A − F̂B|
    * computed WITHOUT a single division by cross-multiplying the
    * empirical CDFs (|cumA·nB − cumB·nA| over the merged value
    * ladder). One union, one cumulative window over the |distinct
    * values| ladder, one max — all exact integers until the final
    * DIV to micros.
    */
  def q235KsTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).select(
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint").as("__v"),
      (year(col("o_orderdate")) <= 1997).as("__early"))
    val perV = o.groupBy("__v").agg(
      sum(when(col("__early"), 1L).otherwise(0L)).as("__a"),
      sum(when(!col("__early"), 1L).otherwise(0L)).as("__b"))
    val w = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perV
      .withColumn("__ca", sum(col("__a")).over(w))
      .withColumn("__cb", sum(col("__b")).over(w))
    val tot = o.agg(
      sum(when(col("__early"), 1L).otherwise(0L)).as("__na"),
      sum(when(!col("__early"), 1L).otherwise(0L)).as("__nb"))
    cum.crossJoin(broadcast(tot))
      .agg(max(abs(col("__ca").cast("decimal(38,0)") * col("__nb") -
        col("__cb").cast("decimal(38,0)") * col("__na"))).as("__dnum"),
        max(col("__na")).as("n_early"), max(col("__nb")).as("n_late"))
      .select(col("n_early").cast("bigint").as("n_early"),
        col("n_late").cast("bigint").as("n_late"),
        expr("CAST((__dnum * 1000000) DIV " +
          "(CAST(n_early AS DECIMAL(38,0)) * n_late) AS BIGINT)")
          .as("ks_micros"))
  }

  /** Lorenz curve by customer decile — the distributional companion
    * to q201's Gini scalar: customers ranked ascending by spend into
    * ordinal deciles, cumulative spend share per decile in
    * cross-multiplied micros. The customer rollup is fact-proportional,
    * so ranks ride the range-partitioned
    * [[graft.operators.Relational.globalOrdinals]] composition (never
    * a single-task global row_number); n and the grand total come off
    * the checkpointed ordinal frame as one broadcast 1-row aggregate.
    * The curve itself is |10| rows; everything integer.
    */
  def q236LorenzCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint")).as("__x"))
    val ord = graft.operators.Relational.globalOrdinals(spend,
      Seq(col("__x"), col("o_custkey")), rnCol = "__rk")
    // n and total off the checkpointed ordinal frame — not `spend`,
    // which would rescan orders (double-consumed-subtree gotcha)
    val tot = ord.agg(count(lit(1)).as("__n"), sum(col("__x")).as("__t"))
    val byDec = ord.crossJoin(broadcast(tot))
      .withColumn("decile",
        expr("CAST(((__rk - 1) * 10) DIV __n AS INT)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("__nd"), sum(col("__x")).as("__sd"),
        max(col("__t")).as("__t"))
    // 10-row decile rollup: the unpartitioned window here is
    // value-bounded by construction
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDec.withColumn("__cs", sum(col("__sd")).over(w))
      .select(col("decile"),
        col("__nd").cast("bigint").as("n_customers"),
        col("__sd").cast("bigint").as("spend_cents"),
        expr("CAST((CAST(__cs AS DECIMAL(38,0)) * 1000000) DIV __t " +
          "AS BIGINT)").as("cum_share_micros"))
      .orderBy("decile")
  }

  /** Sequential probability-ratio test (Wald's SPRT) over the event
    * stream — the always-valid A/B monitor: H₁ error-rate 0.30 vs H₀
    * 0.25 at A = B = 19. The log-likelihood increment takes only TWO
    * values, each ONE pinned IEEE constant floored to micros — so the
    * cumulative walk is an exact integer prefix sum. The walk LOOKS
    * sequential but its increments are associative, so it distributes
    * by the [[graft.operators.Relational.globalOrdinals]] offset
    * composition: range-partition on the stream order, local prefix
    * sums in parallel, then each partition shifts by the broadcast
    * total of everything before it — the full stream is never sorted
    * in one task. The decision is the FIRST boundary crossing (one
    * filtered min over the composed walk).
    */
  def q237Sprt(s: SparkSession, dir: String): DataFrame = {
    val stepErr = floor(log(lit(0.30) / lit(0.25)) * lit(1000000.0))
      .cast("bigint")
    val stepOk = floor(log(lit(0.70) / lit(0.75)) * lit(1000000.0))
      .cast("bigint")
    val bound = floor(log(lit(19.0)) * lit(1000000.0)).cast("bigint")
    val walk = graft.operators.Relational.globalOrdinals(
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("__t"),
          (col("event_type") === "error").as("__x"))
        .withColumn("__llr",
          when(col("__x"), stepErr).otherwise(stepOk)),
      Seq(col("__t"), col("event_id")), rnCol = "__rn",
      runningSums = Seq("__cum" -> col("__llr")))
    val crossed = walk
      .filter(col("__cum") >= bound || col("__cum") <= -bound)
      .agg(min(struct(col("__rn"), col("__cum"))).as("__first"))
    val last = walk.agg(max(struct(col("__rn"), col("__cum"))).as("__l"))
    crossed.crossJoin(last)
      .select(
        coalesce(col("__first.__rn"), col("__l.__rn"))
          .cast("bigint").as("n_obs"),
        coalesce(col("__first.__cum"), col("__l.__cum"))
          .cast("bigint").as("llr_micros"),
        when(col("__first.__rn").isNull, "continue")
          .when(col("__first.__cum") >= bound, "accept_h1")
          .otherwise("accept_h0").as("decision"))
  }

  /** Split-conformal interval calibration — per nation, the 90 %
    * quantile of |spend − median| residuals gives a
    * distribution-free prediction band: both the median and the
    * residual quantile are EXACT ordinal selections (the q145
    * convention — no interpolation doubles), so the band is an
    * integer. Two rank windows per nation, both over the small
    * per-customer fold.
    */
  def q238ConformalInterval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n8n = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)").cast("bigint")).as("__x"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n8n), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_custkey"), col("__x"))
    val byVal = Window.partitionBy("n_name")
      .orderBy(col("__x"), col("o_custkey"))
    val cnt = Window.partitionBy("n_name")
    val med = spend
      .withColumn("__rk", row_number().over(byVal))
      .withColumn("__n", count(lit(1)).over(cnt))
      .filter(col("__rk") === expr("CAST((__n + 1) DIV 2 AS INT)"))
      .select(col("n_name"), col("__x").as("__med"),
        col("__n").as("__nn"))
    val resid = spend.join(broadcast(med), Seq("n_name"))
      .withColumn("__r", abs(col("__x") - col("__med")))
    val byRes = Window.partitionBy("n_name")
      .orderBy(col("__r"), col("o_custkey"))
    resid
      .withColumn("__rr", row_number().over(byRes))
      .filter(col("__rr") ===
        least(expr("CAST((( __nn + 1) * 9 + 9) DIV 10 AS INT)"),
          col("__nn").cast("int")))
      .select(col("n_name"),
        col("__nn").cast("bigint").as("n_customers"),
        col("__med").cast("bigint").as("median_cents"),
        col("__r").cast("bigint").as("q90_resid_cents"))
      .orderBy("n_name")
  }

  /** Next-event prediction accuracy — the Markov model (q211's
    * transition counts) evaluated as a predictor: predict
    * argmax-count next type per previous type (ties broken
    * alphabetically — a total order both engines share), score
    * against every actual transition. Counts and the argmax are one
    * aggregate each; the eval join broadcasts the k-row model.
    */
  def q239NextEventAccuracy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("__prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("__prev").isNotNull)
      .select(col("__prev").as("src"), col("event_type").as("dst"))
      .localCheckpoint() // feeds both the model fit and the eval scan
    // min-struct on (−count, dst): the most frequent successor, ties
    // to the alphabetically smallest — a total order both engines share
    val modelMin = trans.groupBy("src", "dst")
      .agg(count(lit(1)).as("__c"))
      .groupBy("src")
      .agg(min(struct((-col("__c")).as("nc"), col("dst").as("d")))
        .as("__m"))
      .select(col("src"), col("__m.d").as("predicted"))
    trans.join(broadcast(modelMin), Seq("src"))
      .groupBy("src", "predicted")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("dst") === col("predicted"), 1L).otherwise(0L))
          .as("__hit"))
      .select(col("src"), col("predicted"),
        col("__n").cast("bigint").as("n_transitions"),
        col("__hit").cast("bigint").as("n_correct"),
        expr("CAST((__hit * 1000000L) DIV __n AS BIGINT)")
          .as("accuracy_micros"))
      .orderBy("src")
  }

  /** RFC-4180 CSV export — the sink surface for messy text: each
    * document becomes one properly quoted CSV line (quotes doubled,
    * field wrapped when it contains comma, quote, or newline) built
    * by pure string expressions — verifiable cross-engine, unlike an
    * opaque writer. A real export would `.write.text` the line
    * column; the declared surface IS the line, so quoting bugs
    * hash-fail.
    */
  def q240CsvExport(s: SparkSession, dir: String): DataFrame = {
    // NULL fields export as empty (coalesce BEFORE quoting, mirrored in
    // the oracle) — concat_ws would silently DROP a null field and
    // collapse the column count, corrupting the CSV shape; and a bare
    // CR is a quote trigger alongside , " \n per RFC 4180.
    def quoted(c0: Column): Column = {
      val c = coalesce(c0, lit(""))
      val escaped = regexp_replace(c, "\"", "\"\"")
      when(c.contains(",") || c.contains("\"") || c.contains("\n")
          || c.contains("\r"),
        concat(lit("\""), escaped, lit("\""))).otherwise(c)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat_ws(",", col("doc_id").cast("string"), quoted(col("lang")),
          quoted(col("source")), quoted(col("text"))).as("csv_line"))
      .orderBy("doc_id")
  }

  /** TWO-LEVEL DEFAULT/OVERRIDE lookup with coalesce fallback — the J3
    * shape (reference: experts_etl/oit_to_edw/employee_job.py:170-180):
    * each fact row takes an attribute from its level-1 dim (jobcode
    * defaults ↔ per-brand defaults here); when the level-1 row marks
    * the attribute OVERRIDEABLE, a level-2 (jobcode, deptid) ↔
    * (brand, size) lookup applies — a KNOWN pair may carry an override
    * row (coalesce back to the default when it doesn't), and an
    * UNKNOWN pair is recorded as an error-context row (the reference's
    * record_unknown_jobcode_deptid_errors branch) while keeping the
    * default. Both dim levels are derived from the part table itself
    * (deterministic aggregates) and broadcast — they are
    * dimension-sized at any fact scale, so the fact never shuffles:
    * scan → two broadcast hash joins → brand rollup.
    */
  def q298JobcodeOverride(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val defaults = p.groupBy("p_brand")
      .agg((count(lit(1)) % 2 === 0).as("__overrideable"),
        (sum(col("p_size")) % 3 === 0).as("__dflt"))
    val pairs = p.groupBy("p_brand", "p_size")
      .agg(count(lit(1)).as("__cnt"), sum(col("p_partkey")).as("__sk"))
    val known = pairs.filter(col("__cnt") >= 2)
      .select(col("p_brand"), col("p_size"), lit(true).as("__known"))
    // overrides are a HASH-subset of the known pairs (not a higher
    // count threshold, which would leave the branch vacuously unfired
    // at small scale factors — Round16QueriesSpec caught exactly that)
    val overrides = pairs.filter(col("__cnt") >= 2 && col("__sk") % 3 === 0)
      .select(col("p_brand"), col("p_size"),
        (col("__sk") % 2 === 0).as("__ov"))
    p.join(broadcast(defaults), Seq("p_brand"))
      .join(broadcast(known), Seq("p_brand", "p_size"), "left")
      .join(broadcast(overrides), Seq("p_brand", "p_size"), "left")
      .select(col("p_brand"),
        when(col("__overrideable") && col("__known").isNotNull,
          coalesce(col("__ov"), col("__dflt")))
          .otherwise(col("__dflt")).as("__eff"),
        (col("__overrideable") && col("__known").isNotNull &&
          col("__ov").isNotNull).as("__used_ov"),
        (col("__overrideable") && col("__known").isNull).as("__unknown"))
      .groupBy("p_brand")
      .agg(count(lit(1)).cast("bigint").as("n_parts"),
        sum(col("__eff").cast("int")).cast("bigint").as("n_profiled"),
        sum(col("__used_ov").cast("int")).cast("bigint").as("n_overridden"),
        sum(col("__unknown").cast("int")).cast("bigint").as("n_unknown_pair"))
      .orderBy("p_brand")
  }

  /** MAX-VERSION CHANGE CONSUMPTION with buffer→history split — the W7
    * shape (reference: experts_etl/changes_buffer_managers.py:4-44):
    * the change buffer holds (family, uuid, version) rows; per uuid
    * only the MAX version is consumed (stale lower versions are
    * skipped), and ALL rows move to the history table insert-if-absent
    * — rows already present (simulated here as version ≡ 0 mod 7) are
    * not re-inserted. Events stand in for the buffer: family ↔
    * event_type, uuid ↔ user_id, version ↔ event_id. ONE fact-keyed
    * shuffle — groupBy (family, uuid) computes the consumption verdict
    * per uuid (count, max version, already-present count) with
    * map-side partial aggregation, then a family-sized rollup; nothing
    * downstream is fact-proportional.
    */
  def q299ChangeConsumption(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .select(col("event_type").as("family"), col("user_id"),
        col("event_id"))
      .groupBy("family", "user_id")
      .agg(count(lit(1)).as("__n"), max(col("event_id")).as("__maxv"),
        sum((col("event_id") % 7 === 0).cast("int")).as("__already"))
    per.groupBy("family")
      .agg(sum(col("__n")).cast("bigint").as("n_changes"),
        count(lit(1)).cast("bigint").as("n_consumed"),
        sum(col("__n") - 1).cast("bigint").as("n_stale"),
        sum(col("__already")).cast("bigint").as("n_already_in_hst"),
        (sum(col("__n")) - sum(col("__already"))).cast("bigint")
          .as("n_new_hst"),
        sum(col("__maxv")).cast("bigint").as("consumed_version_sum"))
      .orderBy("family")
  }

  /** DELETE-RECREATE merge at document granularity — the C10-C12 shape
    * (reference: experts_etl/transformer_loaders/pure_api_pub.py:
    * 389-405): re-importing a document DELETES every existing
    * association row for its uuid and inserts the incoming list, so
    * the final state is (old rows for untouched docs) ∪ (incoming rows
    * for batch docs) — including the cascade-delete case where the
    * incoming list is empty and the doc's associations vanish.
    * Lineitem stands in for the association table (doc ↔ l_orderkey);
    * the batch is orders from 2000 onward, whose incoming lists drop
    * returned lines (so recreated ⊂ deleted, and some docs recreate to
    * zero rows). ONE pass over the fact: a single left join against
    * the batch key set flags each row, and a conditional-array explode
    * fans each row into its tags (kept / deleted / recreated) — no
    * per-tag re-join, no second fact scan; AQE picks broadcast vs
    * shuffle for the key-set join by the batch's actual size.
    */
  def q300DeleteRecreate(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= expr("TIMESTAMP '2000-01-01 00:00:00'"))
      .select(col("o_orderkey").as("l_orderkey"), lit(1).as("__b"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_returnflag"))
      .join(batch, Seq("l_orderkey"), "left")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"),
        explode(when(col("__b").isNull, array(lit("kept")))
          .otherwise(concat(array(lit("deleted")),
            when(col("l_returnflag") =!= "R", array(lit("recreated")))
              .otherwise(array().cast("array<string>"))))).as("origin"))
      .groupBy("origin")
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        countDistinct(col("l_orderkey")).cast("bigint").as("n_docs"),
        sum(col("l_suppkey")).cast("bigint").as("supp_sum"),
        sum(col("l_linenumber")).cast("bigint").as("line_sum"))
      .orderBy("origin")
  }

  val queries: Map[String, Q] = Map(
    "q298_jobcode_override" -> q298JobcodeOverride _,
    "q299_change_consumption" -> q299ChangeConsumption _,
    "q300_delete_recreate" -> q300DeleteRecreate _,
    "q239_next_event_accuracy" -> q239NextEventAccuracy _,
    "q240_csv_export" -> q240CsvExport _,
    "q241_quantile_histogram" -> q241QuantileHistogram _,
    "q244_interval_coverage" -> q244IntervalCoverage _,
    "q245_priority_sample" -> q245PrioritySample _,
    "q246_stream_enrich" -> q246StreamEnrich _,
    "q247_weighted_quantiles" -> q247WeightedQuantiles _,
    "q248_pivot" -> q248Pivot _,
    "q249_unpivot" -> q249Unpivot _,
    "q250_zorder_key" -> q250ZorderKey _,
    "q251_edit_distance_join" -> q251EditDistanceJoin _,
    "q252_retention_matrix" -> q252RetentionMatrix _,
    "q253_bitmap_distinct" -> q253BitmapDistinct _,
    "q264_bitmap_setops" -> q264BitmapSetops _,
    "q267_hll_shard_merge" -> q267HllShardMerge _,
    "q268_apriori_triples" -> q268AprioriTriples _,
    "q270_kmv_jaccard" -> q270KmvJaccard _,
    "q271_poisson_bootstrap" -> q271PoissonBootstrap _,
    "q272_equidepth_stats" -> q272EquidepthStats _,
    "q273_stream_hll" -> q273StreamHll _,
    "q274_dbscan" -> q274Dbscan _,
    "q275_weighted_paths" -> q275WeightedPaths _,
    "q254_incremental_rollup" -> q254IncrementalRollup _,
    "q255_cusum" -> q255Cusum _,
    "q256_grid_radius_join" -> q256GridRadiusJoin _,
    "q257_kcore" -> q257KCore _,
    "q258_max_drawdown" -> q258MaxDrawdown _,
    "q259_holt_trend" -> q259HoltTrend _,
    "q260_link_predict" -> q260LinkPredict _,
    "q262_rendezvous_shards" -> q262RendezvousShards _,
    "q263_cuped" -> q263Cuped _,
    "q261_stream_cusum" -> q261StreamCusum _,
    "q236_lorenz_curve" -> q236LorenzCurve _,
    "q237_sprt" -> q237Sprt _,
    "q238_conformal_interval" -> q238ConformalInterval _,
    "q235_ks_test" -> q235KsTest _,
    "q233_bfs_hops" -> q233BfsHops _,
    "q231_auc_exact" -> q231AucExact _,
    "q232_decile_lift" -> q232DecileLift _,
    "q228_join_size_stats" -> q228JoinSizeStats _,
    "q229_dup_invoices" -> q229DupInvoices _,
    "q230_psi_drift" -> q230PsiDrift _,
    "q224_quantile_norm" -> q224QuantileNorm _,
    "q225_cohort_ltv" -> q225CohortLtv _,
    "q226_strict_funnel" -> q226StrictFunnel _,
    "q227_segment_overlap" -> q227SegmentOverlap _,
    "q223_stream_twap" -> q223StreamTwap _,
    "q220_runtime_bloom_join" -> q220RuntimeBloomJoin _,
    "q221_table_reconcile" -> q221TableReconcile _,
    "q222_seasonal_index" -> q222SeasonalIndex _,
    "q217_ewma" -> q217Ewma _,
    "q218_log_stats" -> q218LogStats _,
    "q219_fifo_match" -> q219FifoMatch _,
    "q213_calendar_spine" -> q213CalendarSpine _,
    "q214_percentile_cont" -> q214PercentileCont _,
    "q215_degree_assortativity" -> q215DegreeAssortativity _,
    "q216_twap" -> q216Twap _,
    "q210_sax_runs" -> q210SaxRuns _,
    "q211_markov_stationary" -> q211MarkovStationary _,
    "q212_info_gain" -> q212InfoGain _,
    "q207_idle_balance" -> q207IdleBalance _,
    "q208_nation_volume" -> q208NationVolume _,
    "q209_percent_rank" -> q209PercentRank _,
    "q203_survival" -> q203Survival _,
    "q204_autocorr" -> q204Autocorr _,
    "q205_listagg" -> q205Listagg _,
    "q199_corr_ingredients" -> q199CorrIngredients _,
    "q200_ols_trend" -> q200OlsTrend _,
    "q201_gini" -> q201Gini _,
    "q202_t_closeness" -> q202TCloseness _,
    "q196_dp_counts" -> q196DpCounts _,
    "q197_feature_hashing" -> q197FeatureHashing _,
    "q198_benford_audit" -> q198BenfordAudit _,
    "q192_hll_registers" -> q192HllRegisters _,
    "q193_semi_additive" -> q193SemiAdditive _,
    "q194_concurrency_sweep" -> q194ConcurrencySweep _,
    "q195_weighted_median" -> q195WeightedMedian _,
    "q191_pit_join" -> q191PitJoin _,
    "q186_l_diversity" -> q186LDiversity _,
    "q187_target_encoding" -> q187TargetEncoding _,
    "q182_rfm_segments" -> q182RfmSegments _,
    "q183_abc_pareto" -> q183AbcPareto _,
    "q184_assoc_rules" -> q184AssocRules _,
    "q185_mad_outliers" -> q185MadOutliers _,
    "q179_cdc_scd2" -> q179CdcScd2 _,
    "q180_bounce_rate" -> q180BounceRate _,
    "q181_time_to_convert" -> q181TimeToConvert _,
    "q178_cluster_quality" -> q178ClusterQuality _,
    "q177_sorted_neighborhood" -> q177SortedNeighborhood _,
    "q174_decay_score" -> q174DecayScore _,
    "q175_quartile_binning" -> q175QuartileBinning _,
    "q172_golden_record" -> q172GoldenRecord _,
    "q173_largest_remainder" -> q173LargestRemainder _,
    "q169_attribution" -> q169Attribution _,
    "q170_time_heatmap" -> q170TimeHeatmap _,
    "q171_wow_growth" -> q171WowGrowth _,
    "q168_stream_incremental_agg" -> q168StreamIncrementalAgg _,
    "q166_cumulative_distinct" -> q166CumulativeDistinct _,
    "q167_share_of_total" -> q167ShareOfTotal _,
    "q164_sigma_outliers" -> q164SigmaOutliers _,
    "q165_json_extract" -> q165JsonExtract _,
    "q161_incremental_agg" -> q161IncrementalAgg _,
    "q162_streaks" -> q162Streaks _,
    "q163_group_mode" -> q163GroupMode _,
    "q158_scd2_build" -> q158Scd2Build _,
    "q159_chi_square" -> q159ChiSquare _,
    "q160_supplier_diversity" -> q160SupplierDiversity _,
    "q150_stratified_sample" -> q150StratifiedSample _,
    "q154_gap_fill" -> q154GapFill _,
    "q155_moving_median" -> q155MovingMedian _,
    "q157_burst_detection" -> q157BurstDetection _,
    "q151_rolling_distinct" -> q151RollingDistinct _,
    "q152_skyline" -> q152Skyline _,
    "q148_merge_cdc" -> q148MergeCdc _,
    "q149_copurchase_pairs" -> q149CopurchasePairs _,
    "q146_cube" -> q146Cube _,
    "q147_null_semantics" -> q147NullSemantics _,
    "q143_only_returner" -> q143OnlyReturner _,
    "q144_count_distribution" -> q144CountDistribution _,
    "q145_exact_quantiles" -> q145ExactQuantiles _,
    "q142_compaction_identity" -> q142CompactionIdentity _,
    "q141_kleene_pattern" -> q141KleenePattern _,
    "q139_star_join" -> q139StarJoin _,
    "q140_small_qty_revenue" -> q140SmallQtyRevenue _,
    "q132_bucketed_join" -> q132BucketedJoin _,
    "q135_ohlc_bars" -> q135OhlcBars _,
    "q136_zorder_layout" -> q136ZorderLayout _,
    "q137_asof_nearest" -> q137AsofNearest _,
    "q138_hamming_neighbors" -> q138HammingNeighbors _,
    "q108_interval_join" -> q108IntervalJoin _,
    "q130_sequence_match" -> q130SequenceMatch _,
    "q129_k_anonymity" -> q129KAnonymity _,
    "q128_stream_static_join" -> q128StreamStaticJoin _,
    "q127_partition_pruned_scan" -> q127PartitionPrunedScan _,
    "q124_data_quality" -> q124DataQuality _,
    "q123_asof_forward" -> q123AsofForward _,
    "q120_grouping_sets" -> q120GroupingSets _,
    "q121_rank_suite" -> q121RankSuite _,
    "q122_intersect" -> q122Intersect _,
    "q119_stream_stream_join" -> q119StreamStreamJoin _,
    "q116_session_window" -> q116SessionWindow _,
    "q117_group_stats" -> q117GroupStats _,
    "q114_unpivot" -> q114Unpivot _,
    "q113_stream_error_accumulate" -> q113StreamErrorAccumulate _,
    "q111_moving_average" -> q111MovingAverage _,
    "q109_event_transitions" -> q109EventTransitions _,
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_filter_project" -> q02FilterProject _,
    "q03_inlist" -> q03InList _,
    "q04_broadcast_dim_join" -> q04BroadcastDimJoin _,
    "q05_latest_order_per_customer" -> q05LatestOrderPerCustomer _,
    "q06_semi_join" -> q06SemiJoin _,
    "q07_anti_join" -> q07AntiJoin _,
    "q08_except_distinct" -> q08ExceptDistinct _,
    "q09_except_all" -> q09ExceptAll _,
    "q10_union_tagged" -> q10UnionTagged _,
    "q11_lead_lag" -> q11LeadLag _,
    "q12_sessionize" -> q12Sessionize _,
    "q13_elect_primary" -> q13ElectPrimary _,
    "q14_keep_one_preferred" -> q14KeepOnePreferred _,
    "q15_distinct" -> q15Distinct _,
    "q16_symmetric_diff" -> q16SymmetricDiff _,
    "q17_latest_not_null" -> q17LatestNotNull _,
    "q18_error_rollup" -> q18ErrorRollup _,
    "q19_multiformat_dates" -> q19MultiFormatDates _,
    "q20_tree_closure" -> q20TreeClosure _,
    "q21_scalar_suite" -> q21ScalarSuite _,
    "q22_rollup" -> q22Rollup _,
    "q23_distinct_count" -> q23DistinctCount _,
    "q24_stints" -> q24Stints _,
    "q25_json_shred" -> q25JsonShred _,
    "q26_freshness_guard" -> q26FreshnessGuard _,
    "q27_snapshot_diff" -> q27SnapshotDiff _,
    "q28_running_total" -> q28RunningTotal _,
    "q29_asof_join" -> q29AsOfJoin _,
    "q2a_pivot" -> q2aPivot _,
    "q43_error_accumulate" -> q43ErrorAccumulate _,
    "q44_mptt_labels" -> q44MpttLabels _,
    "q45_salted_join" -> q45SaltedJoin _,
    "q45b_salted_join_hotkeys" -> q45bSaltedJoinHotkeys _,
    "q71_plain_join_aqe" -> q71PlainJoinAqe _,
    "q73_skew_split_join" -> q73SkewSplitJoin _,
    "q93_stream_window_counts" -> q93StreamWindowCounts _,
    "q103_funnel" -> q103Funnel _,
    "q104_retention_cohorts" -> q104RetentionCohorts _,
    "q105_stream_sessions" -> q105StreamSessions _,
    "q51_hash_split" -> q51HashSplit _,
    "q76_stratified_sample" -> q76StratifiedSample _,
    "q57_person_xml" -> q57PersonXml _,
    "q64_org_user_xml" -> q64OrgUserXml _,
  )
}
