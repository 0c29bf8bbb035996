package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Runner

/** q342: the WHOLE-CYCLE composition gate (VERDICT r16 item 2).
  *
  * `etl/Runner.syncCycle` (reference `runner.py:88-169` — the sixteen
  * sequential subprocesses as one composition) is where cross-module
  * bugs live: stage wiring, handoff schemas, dim-union precedence.
  * Every stage has its own gated analog and golden fixtures, but until
  * this query the COMPOSITION itself was only RunnerSpec-tested, never
  * driver-gated.
  *
  * Design: all CycleInputs derive deterministically from the standard
  * tables — customers become HR demographics + employee entries AND
  * internal-person CDC documents, nations/regions become the org tree,
  * suppliers the external persons, a 2 % order slice the publication
  * documents. The Spark side builds REAL JSON documents
  * (`to_json(struct(...))`) and runs the REAL pipeline — JSON parse,
  * freshness guards, skip routing, MPTT-free org shred, person/pub
  * validation, the full HR derivation + election + folds, and the
  * error-channel expansion. The DuckDB twin derives the SAME outputs
  * from the SAME base tables directly (it never parses JSON — the
  * round-trip is exactly what the Spark side is being tested on), so
  * any wiring or shred bug is a hash mismatch over the canonical
  * (tbl, k, v) serialization of ALL cycle outputs.
  *
  * Branch coverage riding the modulo classes (c = c_custkey,
  * nk = c_nationkey, o = o_orderkey). Round-18 (VERDICT r17 item 3):
  * every SKIP-ROUTING class below is SEED-SALTED — the residue tests
  * run on c+cS / o+oS / nk+cS / sk+cS, where (cS, oS) = [[salts]] are
  * data-derived scalars that change with every generator seed, so the
  * randomized-data gate fuzzes WHICH rows take the invalid / stale /
  * missing branches, not just the row content. Content-only classes
  * (orcid c%21, scopus c%6, endDate c%23, scival c%10, the HR job
  * classes) stay unsalted — they vary values, not routing. The DuckDB
  * twin computes the identical salts in csalt/osalt CTEs.
  *  - org: stale skip ((nk+cS)%7==3 pre-existing with a NEWER
  *    modified), parent resolution batch- and dim-side, deptid claims
  *    vs the HR dim (fresh shred beats 'DIM'||d), a dept (23) absent
  *    everywhere;
  *  - person (all on c+cS): missing_emplid (%11==1), missing_pure_id
  *    (%13==2), stale (%5==3), org_not_in_edw (%19==4),
  *    missing_job_description (%17==3, can CO-OCCUR with %19==4),
  *    surrogate reuse (%5==0) vs derived md5 uuids, scival person ids
  *    (c%10==0, unsalted);
  *  - pub (routing classes on o+oS): stale (%1000==500),
  *    owner_org_not_in_edw (%100==1), person_not_in_edw (author's
  *    customer invalid AND not in the EDW dim),
  *    person_missing_pure_uuid (%1000==300), org_not_in_edw
  *    (%300==200), db rows (%500==0); content classes unsalted:
  *    external-person authors (o%3==0), author collaborations
  *    (o%7==0), doi last-wins (o%6==0), partial-date precision (month
  *    only on even o), epub status without a date (o%4==0);
  *  - HR: inactive jobs with/without last_date_worked (c%4==2 /
  *    c%8==6), unknown_dept + no_job_data (nk==23), the two-level
  *    profiled override incl. the unknown-pair error channel
  *    (MACHINERY × odd dept), visibility campus guard (c%2),
  *    person-level folds and the autoid dedup.
  *
  * Scale shape: every stage is the production operator — keyed
  * shuffles on emplid/uuid, broadcast dims; the serialization is one
  * union of projections. Error-record ids (sha1) are spec-gated in
  * ErrorsSpec and EXCLUDED from the twin only because DuckDB ships no
  * sha1; every other error field is serialized.
  */
object QueriesCycle {
  type Q = (SparkSession, String) => DataFrame

  private val T0 = "2020-01-01 00:00:00"
  private val T1 = "2020-06-01 00:00:00"
  private val T2 = "2020-12-31 00:00:00"
  private val T3 = "2021-06-01 00:00:00"
  private def ts(s: String): Column = lit(s).cast("timestamp")

  private val textT = "array<struct<locale:string,value:string>>"
  private val idsT =
    "array<struct<type:struct<uri:string>,value:struct<value:string>>>"
  private val uuidArrT = "array<struct<uuid:string>>"

  private def enText(v: Column): Column =
    array(struct(lit("en_US").as("locale"), v.as("value")))
  private def term(v: Column): Column =
    struct(struct(enText(v).as("text")).as("term"))
  private def idOf(uri: String, v: Column): Column =
    struct(struct(lit(uri).as("uri")).as("type"),
      struct(v.as("value")).as("value"))
  private val emptyIds = array().cast(idsT)

  /** The seed-derived branch salts (cS for customer/nation/supplier
    * classes, oS for order classes): tiny exact-integer folds over the
    * FULL unsliced tables, identical in the DuckDB twins' csalt/osalt
    * CTEs. c_nationkey / o_custkey are seed-random in the generator,
    * so every fresh-seed dataset re-deals which rows take which skip
    * branch. Arithmetic is overflow-safe by construction (products
    * ≤ 25·96, sums ≤ ~1e10 at any plausible sf — far inside long and
    * DuckDB's HUGEINT agrees on non-negative operands). The two
    * 1-row aggregates are driver-side scalars feeding plan literals —
    * k-bounded control flow, same posture as the Bloom sketch fold.
    */
  private[graft] def salts(s: SparkSession, dir: String): (Long, Long) =
    saltsMemo.synchronized(saltsMemo.getOrElseUpdate(dir, {
      val cS = Tables.customer(s, dir)
        .agg(coalesce(sum((col("c_nationkey") + lit(1)) *
          (col("c_custkey") % 97)), lit(0L)) % 1009)
        .head.getLong(0)
      val oS = Tables.orders(s, dir)
        .agg(coalesce(sum((col("o_custkey") % 97 + lit(1)) *
          (col("o_orderkey") % 89)), lit(0L)) % 1009)
        .head.getLong(0)
      (cS, oS)
    }))

  /** The cycle gates' derived feeds (JSON renders over the base
    * tables, EDW seed states, HR entry tables) go through
    * [[FeedMemo]], keyed by (testdata dir, slice) — VERDICT r18 item
    * 4: deriving them in every gate re-ran the big to_json expression
    * trees per gate AND shipped those trees inside every downstream
    * stage's serialized task binary (~1.4 MB broadcasts, hundreds of
    * stages per gate). Built once per process and read back as
    * parquet, the gates' pipelines stay identical (the REAL JSON
    * documents still come from the real plan, and every
    * parse/validate/shred stage downstream is unchanged) while the
    * lineage above each gate collapses to a parquet scan. The salts
    * are memoized alongside, per dir; both memos die with the JVM
    * (fresh-seed runs fork a new JVM, so a regenerated testdata dir
    * can never meet a stale entry).
    */
  private val saltsMemo =
    scala.collection.mutable.HashMap.empty[String, (Long, Long)]

  /** [[Confs.narrow]]: the cycle's frames are tiny keyed cascades
    * (thousands of rows at bench sf), so 32-wide shuffles pay pure
    * scheduling; width scales off the session conf so a wider session
    * still gets proportional parallelism.
    *
    * Also pins unionOutputPartitioning off inside the scope (our own
    * sessions disable it globally — see Sessions.scala — but the gates
    * must survive a FOREIGN session too): the cycle's co-partitioned
    * family unions trigger the invalid union-partitioning claim.
    *
    * NOTE (round 20): a 64 MB autoBroadcastJoinThreshold inside this
    * scope was re-tested under the real bench protocol after the par
    * restructure (an in-JVM warm probe sequence suggested
    * 4.25 → 3.6 s) and measured DECISIVELY worse — family 35.9 →
    * 63.9 s isolated, q342 4.22 → 11.45 — consistent with r19's
    * sequential-cycle measurement of the same knob. Reverted twice
    * now; do not re-try without a real-protocol win.
    */
  private def narrowed[T](s: SparkSession, n: Int)(body: => T): T =
    Confs.scoped(s, Confs.narrow(s, n),
      "spark.sql.unionOutputPartitioning" -> "false")(body)

  /** All cycle inputs, derived from the standard tables. `custMod` /
    * `ordsMod` slice the world (c % custMod == 0 customers+suppliers,
    * o % ordsMod < 2 orders) — q342 runs unsliced; q345's two-cycle
    * composition runs a 1/3 slice. Note the slice trims ROW volume,
    * not stage count: at bench scale both cycles sit on the same
    * per-stage scheduling floor (q342 ~12 s, q345 ~24 s at sf0.1,
    * both probed flat), so the slice's payoff grows with sf.
    */
  private[graft] def inputs(s: SparkSession, dir: String,
      custMod: Int = 1, ordsMod: Int = 100): Runner.CycleInputs = {
    val (cS, oS) = salts(s, dir)
    // salted views of the routing keys — every skip/db/freshness class
    // below tests residues of these, never of the raw keys
    def cx = col("c") + lit(cS)
    def ox = col("o") + lit(oS)
    lazy val cust = Tables.customer(s, dir)
      .filter(col("c_custkey") % custMod === 0)
      .select(
      col("c_custkey").as("c"), col("c_nationkey").as("nk"),
      col("c_mktsegment").as("seg"))
    lazy val nation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("nk"), col("n_name"),
        col("n_regionkey").as("rk"))
    lazy val region = Tables.region(s, dir)
      .select(col("r_regionkey").as("rk"), col("r_name"))
    lazy val supp = Tables.supplier(s, dir)
      .filter(col("s_suppkey") % custMod === 0)
      .select(col("s_suppkey").as("sk"), col("s_nationkey").as("snk"))
    lazy val ords = Tables.orders(s, dir)
      .filter(col("o_orderkey") % ordsMod < 2)
      .select(col("o_orderkey").as("o"), col("o_custkey").as("c"))
      .join(cust.select(col("c"), col("nk")), Seq("c"))

    // ---- CDC: internal orgs (nations + regions, one JSON doc each)
    val nationOrgJson = to_json(struct(
      concat(lit("o"), col("nk")).as("uuid"),
      concat(lit("ORG"), col("nk")).as("externalId"),
      struct(enText(col("n_name")).as("text")).as("name"),
      term(lit("Department")).as("type"),
      array(struct(concat(lit("r"), col("rk")).as("uuid"))).as("parents"),
      when(col("nk") =!= 23, array(idOf(
        "/dk/atira/pure/organisation/organisationsources/peoplesoft_deptid",
        col("nk").cast("string")))).otherwise(emptyIds).as("ids")))
    val regionOrgJson = to_json(struct(
      concat(lit("r"), col("rk")).as("uuid"),
      concat(lit("RORG"), col("rk")).as("externalId"),
      struct(enText(col("r_name")).as("text")).as("name"),
      term(lit("College")).as("type"),
      when(col("rk") === 4, array(struct(lit("oz").as("uuid"))))
        .otherwise(array().cast(uuidArrT)).as("parents"),
      emptyIds.as("ids")))
    lazy val rawInternalOrgs = nation
      .select(concat(lit("o"), col("nk")).as("uuid"), ts(T1).as("modified"),
        nationOrgJson.as("json"))
      .unionByName(region.select(concat(lit("r"), col("rk")).as("uuid"),
        ts(T1).as("modified"), regionOrgJson.as("json")))

    lazy val existingOrgs = nation.filter((col("nk") + lit(cS)) % 7 === 3)
      .select(concat(lit("o"), col("nk")).as("pure_uuid"),
        concat(lit("OLDORG"), col("nk")).as("pure_id"),
        ts(T2).as("pure_modified"))
      .unionByName(region.filter(col("rk") === 0)
        .select(lit("oz").as("pure_uuid"), lit("ORGZ").as("pure_id"),
          ts(T0).as("pure_modified")))

    // ---- CDC: external orgs (regions)
    lazy val rawExternalOrgs = region.select(
      concat(lit("x"), col("rk")).as("uuid"), ts(T1).as("modified"),
      to_json(struct(
        concat(lit("x"), col("rk")).as("uuid"),
        struct(enText(concat(lit("X "), col("r_name"))).as("text"))
          .as("name"),
        term(lit("External collaborator")).as("type"))).as("json"))

    // ---- CDC: internal persons (customers)
    val ids = filter(array(
      idOf("/dk/atira/pure/person/personsources/employee",
        col("c").cast("string")),
      idOf("/dk/atira/pure/person/personsources/umn",
        concat(lit("u"), col("c"))),
      idOf("/dk/atira/pure/person/personsources/scopusauthor",
        concat(lit("S"), col("c")))),
      (_, i) => (i === 0 && cx % 11 =!= 1) ||
        (i === 1 && col("c") % 3 =!= 1) ||
        (i === 2 && col("c") % 6 === 0))
    val assoc = struct(
      struct(when(cx % 19 === 4, lit("zz-missing"))
        .otherwise(concat(lit("o"), col("nk"))).as("uuid"))
        .as("organisationalUnit"),
      struct(when(cx % 17 === 3, array().cast(textT))
        .otherwise(enText(lit("Professor"))).as("text")).as("jobDescription"),
      term(lit("Academic")).as("employmentType"),
      term(lit("Academic")).as("staffType"),
      struct(lit("2015-09-01").as("startDate"),
        when(col("c") % 23 === 7, lit("2019-12-31"))
          .otherwise(lit(null).cast("string")).as("endDate")).as("period"),
      lit(true).as("isPrimaryAssociation"))
    lazy val rawInternalPersons = cust.select(
      concat(lit("p"), col("c")).as("uuid"), ts(T1).as("modified"),
      to_json(struct(
        concat(lit("p"), col("c")).as("uuid"),
        when(cx % 13 =!= 2, concat(lit("PP"), col("c")))
          .as("externalId"),
        when(col("c") % 21 === 5, concat(lit("0000-"), col("c"))).as("orcid"),
        when(col("c") % 6 === 0, (col("c") % 40).cast("int"))
          .as("scopusHIndex"),
        struct(concat(lit("PF"), col("c")).as("firstName"),
          concat(lit("PL"), col("c")).as("lastName")).as("name"),
        ids.as("ids"),
        array(assoc).as("staffOrganisationAssociations"))).as("json"))

    lazy val existingPersons = cust.filter(cx % 5 === 0 || cx % 5 === 3)
      .select(concat(lit("dbu"), col("c")).as("uuid"),
        col("c").cast("string").as("emplid"),
        concat(lit("p"), col("c")).as("pure_uuid"),
        when(cx % 5 === 0, ts(T0)).otherwise(ts(T2))
          .as("pure_modified"))

    // ---- CDC: external persons (suppliers)
    lazy val rawExternalPersons = supp.select(
      concat(lit("xp"), col("sk")).as("uuid"), ts(T1).as("modified"),
      to_json(struct(
        concat(lit("xp"), col("sk")).as("uuid"),
        struct(concat(lit("XF"), col("sk")).as("firstName"),
          concat(lit("XL"), col("sk")).as("lastName")).as("name"),
        array(idOf("/dk/atira/pure/person/personsources/scopusauthor",
          concat(lit("XS"), col("sk")))).as("ids"),
        array(struct(concat(lit("x"), pmod(col("snk"), lit(5))).as("uuid")))
          .as("externalOrganisations"))).as("json"))

    // ---- CDC: publications (2 % of orders)
    val collabT = "struct<uuid:string," +
      "name:struct<text:array<struct<locale:string,value:string>>>>"
    val pRefT = "struct<uuid:string>"
    val role = term(lit("Author"))
    def pAssoc(personUuid: Column, external: Boolean, tag: String,
        orgUnits: Column, extOrgs: Column): Column = struct(
      lit(null).cast(collabT).as("authorCollaboration"),
      role.as("personRole"),
      (if (external) lit(null).cast(pRefT)
       else struct(personUuid.as("uuid"))).as("person"),
      (if (external) struct(personUuid.as("uuid"))
       else lit(null).cast(pRefT)).as("externalPerson"),
      struct(concat(lit(s"AF$tag"), col("o")).as("firstName"),
        concat(lit(s"AL$tag"), col("o")).as("lastName")).as("name"),
      orgUnits.as("organisationalUnits"),
      extOrgs.as("externalOrganisations"))
    val emptyU = array().cast(uuidArrT)
    val a1 = pAssoc(concat(lit("p"), col("c")), external = false, "1",
      when(ox % 300 === 200, array(struct(lit("zz-org").as("uuid"))))
        .otherwise(array(struct(concat(lit("o"), col("nk")).as("uuid")))),
      emptyU)
    val a2 = pAssoc(concat(lit("xp"), col("o") % 10), external = true, "2",
      emptyU, array(struct(concat(lit("x"), col("o") % 5).as("uuid"))))
    val collabAssoc = struct(
      struct(concat(lit("col"), col("o") % 4).as("uuid"),
        struct(enText(concat(lit("Collab "), col("o") % 4)).as("text"))
          .as("name")).as("authorCollaboration"),
      role.as("personRole"),
      lit(null).cast(pRefT).as("person"),
      lit(null).cast(pRefT).as("externalPerson"),
      lit(null).cast("struct<firstName:string,lastName:string>").as("name"),
      emptyU.as("organisationalUnits"), emptyU.as("externalOrganisations"))
    val nullAuthor = struct(
      lit(null).cast(collabT).as("authorCollaboration"),
      role.as("personRole"),
      lit(null).cast(pRefT).as("person"),
      lit(null).cast(pRefT).as("externalPerson"),
      struct(lit("NF").as("firstName"), lit("NL").as("lastName")).as("name"),
      emptyU.as("organisationalUnits"), emptyU.as("externalOrganisations"))
    // presence by index-filter (keeps ordinals compact and sidesteps
    // hand-written empty-array DDL for the big assoc struct)
    val assocs = filter(array(a1, a2, collabAssoc, nullAuthor),
      (_, i) => i === 0 ||
        (i === 1 && col("o") % 3 === 0) ||
        (i === 2 && col("o") % 7 === 0) ||
        (i === 3 && ox % 1000 === 300))
    val statusDateT = "struct<year:int,month:int,day:int>"
    val published = struct(
      struct(lit("/a/publicationstatuses/published").as("uri"))
        .as("publicationStatus"),
      lit(true).as("current"),
      struct((lit(1995) + col("o") % 6).cast("int").as("year"),
        when(col("o") % 2 === 0, (col("o") % 12 + 1).cast("int"))
          .otherwise(lit(null).cast("int")).as("month"),
        lit(null).cast("int").as("day")).as("publicationDate"))
    val epub = struct(
      struct(lit("/a/publicationstatuses/epub").as("uri"))
        .as("publicationStatus"),
      lit(false).as("current"),
      lit(null).cast(statusDateT).as("publicationDate"))
    val statuses = filter(array(published, epub),
      (_, i) => i === 0 || col("o") % 4 === 0)
    val doiT = "array<struct<doi:string>>"
    val eversions = when(col("o") % 6 === 0,
      array(struct(concat(lit("10.1/a"), col("o")).as("doi")),
        struct(concat(lit("10.1/b"), col("o")).as("doi"))))
      .otherwise(array(struct(concat(lit("10.1/a"), col("o")).as("doi")),
        lit(null).cast("struct<doi:string>")).cast(doiT))
    val aids = when(col("o") % 5 === 0,
      array(struct(lit("Scopus").as("idSource"),
          concat(lit("asc"), col("o")).as("value")),
        struct(lit("PubMed").as("idSource"),
          concat(lit("pm"), col("o")).as("value"))))
      .otherwise(array(struct(lit("Scopus").as("idSource"),
        concat(lit("asc"), col("o")).as("value"))))
    lazy val rawPubs = ords.select(
      concat(lit("pub"), col("o")).as("uuid"), ts(T1).as("modified"),
      to_json(struct(
        concat(lit("pub"), col("o")).as("uuid"),
        when(col("o") % 2 === 0, lit("Scopus")).otherwise(lit("Other"))
          .as("externalIdSource"),
        concat(lit("EX"), col("o")).as("externalId"),
        struct(lit("/dk/type/contributiontojournal/article").as("uri"))
          .as("type"),
        struct(concat(lit("T"), col("o")).as("value")).as("title"),
        struct(struct(concat(lit("J"), col("o") % 20).as("value"))
            .as("title"),
          struct(concat(lit("1234-"), col("o") % 10).as("value")).as("issn"))
          .as("journalAssociation"),
        statuses.as("publicationStatuses"),
        eversions.as("electronicVersions"),
        (col("o") % 9).cast("string").as("volume"),
        (col("o") % 11).cast("string").as("journalNumber"),
        concat(lit("p"), col("o") % 30).as("pages"),
        (col("o") % 50).cast("int").as("totalScopusCitations"),
        struct(when(ox % 100 === 1, lit("zz-gone"))
          .otherwise(concat(lit("o"), col("o") % 25)).as("uuid"))
          .as("managingOrganisationalUnit"),
        struct(aids.as("additionalExternalIds"),
          array().cast("array<string>").as("previousUuids")).as("info"),
        assocs.as("personAssociations"))).as("json"))

    lazy val existingPubs = ords.filter(ox % 500 === 0)
      .select(concat(lit("dbp"), col("o")).as("uuid"),
        concat(lit("pub"), col("o")).as("pure_uuid"),
        when(ox % 1000 === 500, ts(T2)).otherwise(ts(T0))
          .as("pure_modified"))

    // ---- HR side
    lazy val demog = cust.select(
      col("c").cast("string").as("emplid"),
      when(col("c") % 3 =!= 1, concat(lit("u"), col("c"))).as("internet_id"),
      concat(lit("F"), col("c")).as("first_name"),
      when(col("c") % 2 === 0, lit("M")).as("middle_initial"),
      concat(lit("L"), col("c")).as("last_name"),
      when(col("c") % 9 === 0, lit("Jr")).as("name_suffix"),
      concat(lit("e"), col("c"), lit("@x.org")).as("instl_email_addr"),
      lit("0").as("primary_empl_rcdno"),
      ts(T1).as("timestamp"))
    lazy val scival = cust.filter(col("c") % 10 === 0)
      .select(col("c").cast("string").as("emplid"),
        concat(lit("SV"), col("c")).as("scival_id"))
    lazy val empEntries = cust.select(
      col("c").cast("string").as("emplid"),
      lit("0").as("empl_rcdno"),
      lit("P1").as("position_nbr"),
      ts(T0).as("effdt"),
      lit(0).as("effseq"),
      lit("2016-03-04 00:00:00").cast("timestamp").as("job_entry_dt"),
      concat(lit("JC_"), col("seg")).as("jobcode"),
      col("nk").cast("string").as("deptid"),
      when(col("c") % 4 === 2, lit("T")).otherwise(lit("A"))
        .as("empl_status"),
      lit("C").as("status_flg"),
      when(col("c") % 8 === 6, lit("2019-05-06 00:00:00").cast("timestamp"))
        .as("last_date_worked"),
      concat(lit("Desc "), col("seg")).as("jobcode_descr"),
      concat(lit("D"), col("nk")).as("deptid_descr"),
      when(col("c") % 2 === 0, lit("TXXX")).otherwise(lit("XOTH"))
        .as("um_campus"),
      when(col("c") % 2 === 0, lit("TC")).otherwise(lit("OT"))
        .as("um_campus_descr"),
      concat(lit("CL"), col("nk") % 3).as("um_college"),
      concat(lit("CLD"), col("nk") % 3).as("um_college_descr"))
    lazy val deptOrg = nation.filter(col("nk") =!= 23)
      .select(col("nk").cast("string").as("deptid"),
        concat(lit("DIM"), col("nk")).as("pure_org_id"))
    import s.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val empJobcodes = segs.map { g =>
      (s"JC_$g", s"PJD $g", s"EA_$g",
        if (g == "FURNITURE" || g == "MACHINERY") "academic"
        else "nonacademic",
        if (g == "BUILDING") "Restricted" else "Public",
        g == "FURNITURE" || g == "HOUSEHOLD",
        g == "MACHINERY")
    }.toDF("jobcode", "pure_job_description", "default_employed_as",
      "default_staff_type", "default_visibility", "default_profiled",
      "default_profiled_overrideable")
    val knownOverrideable = (0 to 24 by 2)
      .map(d => ("JC_MACHINERY", d.toString))
      .toDF("jobcode", "deptid")
    val overrides = (0 to 24 by 4)
      .map(d => ("JC_MACHINERY", d.toString, d % 8 == 0))
      .toDF("jobcode", "deptid", "profiled")

    // data-derived frames go through the process-lifetime parquet
    // memo (FeedMemo): built once per (dir, slice), read back as
    // plain scans by every gate. Literal/limit(0) frames stay inline.
    // The derived frames above are lazy: on a memo hit their thunks
    // are never forced, so their expression trees (rawPubs' to_json)
    // are never analysed either.
    def cached(tag: String, df: => DataFrame): DataFrame =
      FeedMemo.frame(s, dir, s"${tag}_${custMod}_$ordsMod")(df)
    val emp = cached("emp", empEntries)
    // empty shapes, projected off the memoized emp frame so that no
    // table load is forced on a hit
    val affEntries = emp.select(col("emplid"), col("deptid"),
      lit("A1").as("um_affiliate_id"),
      lit("9401").as("um_affil_relation"),
      ts(T0).as("effdt"),
      lit("A").as("status"),
      lit("C").as("status_flg"),
      lit("t").as("title"),
      concat(lit("D"), col("deptid")).as("deptid_descr"),
      lit("CL0").as("um_college"), lit("CLD0").as("um_college_descr"),
      lit("TXXX").as("um_campus"), lit("TC").as("um_campus_descr"))
      .limit(0)
    Runner.CycleInputs(
      demogHistory = cached("demog", demog), scival = cached("scival", scival),
      empEntries = emp,
      poiEntries = emp.drop("last_date_worked").limit(0),
      affEntries = affEntries,
      deptOrg = cached("deptorg", deptOrg),
      empJobcodes = empJobcodes,
      poiJobcodes = empJobcodes.drop("default_profiled_overrideable"),
      affJobcodes = empJobcodes.drop("default_profiled_overrideable"),
      knownOverrideable = knownOverrideable, overrides = overrides,
      rawInternalOrgs = cached("riorg", rawInternalOrgs),
      rawExternalOrgs = cached("rxorg", rawExternalOrgs),
      rawInternalPersons = cached("riper", rawInternalPersons),
      rawExternalPersons = cached("rxper", rawExternalPersons),
      rawPubs = cached("rpub", rawPubs),
      existingOrgs = cached("eorg", existingOrgs),
      existingPersons = cached("eper", existingPersons),
      existingPubs = cached("epub", existingPubs),
      personOrgs = Seq.empty[(String, String)]
        .toDF("person_uuid", "pure_org_uuid"),
      scopusIds = Seq.empty[(String, String)]
        .toDF("person_uuid", "scopus_id"))
  }

  private val NUL = "∅" // '∅' — the null marker in v strings

  private def v(cols: Column*): Column =
    concat_ws("|", cols.map(c =>
      coalesce(c.cast("string"), lit(NUL))): _*)
  private def fmt(c: Column): Column =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  private def rows(df: DataFrame, tbl: String, k: Column,
      vs: Column*): DataFrame =
    df.select(lit(tbl).as("tbl"), k.cast("string").as("k"), v(vs: _*).as("v"))

  // one materialization per stage boundary (the mat hook): Spark has
  // no cross-branch subplan reuse, so without it the 14-way
  // serialization union below re-executes the cycle's deep shared
  // lineage once per branch (measured 75 s at sf0.1 vs 12 s with the
  // boundaries cut) — and the reference serializes the same
  // boundaries through EDW stage tables between its subprocesses
  // narrowed(8) + an eager final pin: every shuffle in the cycle runs
  // at the narrow width INSIDE the conf scope (the stage frames are
  // thousands of rows at bench sf — 32-wide shuffles pay pure
  // scheduling), and the pinned result is what the caller sorts/sinks
  def q342RunnerCycle(s: SparkSession, dir: String): DataFrame =
    narrowed(s, 8) {
      cycleRows(s, dir, _.localCheckpoint(false), par = true)
        .localCheckpoint(true)
    }

  /** q342 body parameterized on the stage materializer —
    * Round17Spec asserts `mat` is semantics-free (identity ≡
    * checkpoint), so the perf hook can never change the gate; `par`
    * overlaps independent boundary materializations (Runner.syncCycle
    * scaladoc) and Round20Spec pins par ≡ sequential.
    */
  private[graft] def cycleRows(s: SparkSession, dir: String,
      mat: DataFrame => DataFrame, par: Boolean = false): DataFrame =
    serializeOutputs(Runner.syncCycle(inputs(s, dir), mat, par), mat)

  /** Canonical (tbl, k, v) serialization of ALL cycle outputs — shared
    * by q342 (first cycle) and q345 (second, incremental cycle).
    *
    * `mat` cuts the union ONCE before the global sort (round 19,
    * guide §2.4/§5): a range sort SAMPLES its child to compute
    * partition bounds and then shuffles it — executing the whole
    * 14-way union twice, including every branch the cycle didn't
    * checkpoint (deptOrgs, skips, errorRecords ride live lineage).
    * Measured on q342 at sf0.1: the final serialize action dropped
    * from ~4.5 s / 61 AQE stage-jobs to a single pass over the
    * materialized union. Semantics-free like every mat hook
    * (Round17Spec pins identity ≡ checkpoint).
    *
    * The union is coalesced before the cut: it has one partition per
    * branch partition, and each of its tasks deserializes the whole
    * 14-branch task binary (~77 ms on a 4-vCPU VM), in the cut and
    * again in the sort's map stage (q342 at sf0.01: 50 tasks each →
    * 8). The coalesce is a narrow dependency, so it also sets the
    * task count of every live branch back to its last shuffle: its
    * width is the session's shuffle width (narrowed by the callers'
    * scopes) but never fewer than one task per core. It groups by
    * partition index ([[coalesceByIndex]]), not by locality.
    */
  private def serializeOutputs(out: Runner.CycleOutputs,
      mat: DataFrame => DataFrame = identity): DataFrame = {
    val stems = Seq("eissued", "inpress", "inprep", "issued", "submitted",
      "unissued")
    val stateCols: Seq[Column] = stems.flatMap(st =>
      Seq(fmt(col(st)), col(s"${st}_current"), col(s"${st}_precision")))
    val parts = Seq(
      rows(out.orgs, "org", col("pure_uuid"),
        col("pure_internal"), col("name_en"), col("pure_id"),
        col("parent_pure_uuid"), col("parent_pure_id"), col("type"),
        fmt(col("pure_modified"))),
      rows(out.deptOrgs, "deptorg", col("deptid"),
        col("pure_org_id"), col("pure_org_uuid")),
      rows(out.persons, "person", col("pure_uuid"),
        col("uuid"), col("pure_id"), col("pure_internal"), col("emplid"),
        col("internet_id"), col("first_name"), col("last_name"),
        col("orcid"), col("hindex"), fmt(col("pure_modified"))),
      rows(out.umnPersonPureOrgs, "upo",
        concat_ws("/", col("person_uuid"), col("pure_org_uuid")),
        col("pure_person_id"), col("emplid"), col("pure_org_id"),
        col("job_description"), col("employed_as"), col("staff_type"),
        fmt(col("start_date")), fmt(col("end_date")), col("primary")),
      rows(out.pubShred.pubs, "pub", col("pure_uuid"),
        Seq(col("uuid"), col("scopus_id"), col("pmid"), col("doi"),
          col("pure_type"), col("pure_subtype"), col("title"),
          col("container_title"), col("issn"), col("volume"), col("issue"),
          col("pages"), col("citation_total"), col("owner_pure_org_uuid"),
          fmt(col("pure_modified"))) ++ stateCols: _*),
      rows(out.pubShred.pubPersons, "pubperson",
        concat_ws("/", col("pub_uuid"), col("person_uuid")),
        col("person_ordinal"), col("person_role"),
        col("person_pure_internal"), col("first_name"), col("last_name"),
        col("emplid")),
      rows(out.pubShred.pubPersonOrgs, "pubpersonorg",
        concat_ws("/", col("pub_uuid"), col("person_uuid"),
          col("pure_org_uuid"))),
      rows(out.pubShred.pubAuthorCollabs, "pubcollab",
        concat_ws("/", col("pub_uuid"), col("collab_pure_uuid")),
        col("author_ordinal"), col("author_role")),
      rows(out.pubShred.authorCollabs, "collab", col("pure_uuid"),
        col("name")),
      rows(out.skips, "skip", col("uuid"), col("skip_reason")),
      rows(out.sync.personData, "persondata", col("person_id"),
        col("first_name"), col("last_name"), col("visibility"),
        col("profiled"), col("emplid"), col("internet_id"),
        col("postnominal")),
      rows(out.sync.staffOrgAssociations, "soa",
        col("staff_org_association_id"),
        col("affiliation_id"), col("person_id"),
        fmt(col("period_start_date")), fmt(col("period_end_date")),
        col("org_id"), col("employment_type"), col("staff_type"),
        col("visibility"), col("primary_association"),
        col("job_description"), col("email_address")),
      rows(out.sync.userData, "userdata", col("person_id"),
        col("first_name"), col("last_name"), col("user_name"),
        col("email")),
      // error_id (sha1) excluded: DuckDB ships no sha1 — the id
      // construction is gated by ErrorsSpec; all content fields ride
      rows(out.errorRecords, "err", col("exception"),
        col("message"), col("emplid"), col("internet_id"), col("jobcode"),
        col("jobcode_descr"), col("deptid"), col("deptid_descr"),
        col("persons_in_dept"), col("um_college"), col("um_college_descr"),
        col("um_campus"), col("um_campus_descr")))
    val union = PlanSpy.spy("serialize_union_premat",
      parts.reduce(_.unionByName(_)))
    val width = math.max(
      union.sparkSession.conf.get(Confs.ShufflePartitions).toInt,
      union.sparkSession.sparkContext.defaultParallelism)
    mat(coalesceByIndex(union, width)).orderBy("tbl", "k", "v")
  }

  /** `df` in at most `n` partitions, partition i in group i % n.
    * `Dataset.coalesce` groups partitions by their preferred locations,
    * and a lazily checkpointed boundary reports its cached blocks once
    * some job has computed it and its lineage's locations before. So
    * the serialize union's groups followed whichever boundaries had
    * run when the cut was planned, and changed from cycle to cycle:
    * the stage's longest task with them, and whether the sort's range
    * sampler ran its extra re-sampling job for an oversized group. The
    * plan is run here, as the cut's own action would run it under AQE
    * (its shuffle stages now, its last stage lazily).
    */
  private[graft] def coalesceByIndex(df: DataFrame, n: Int): DataFrame = {
    val rows = df.queryExecution.toRdd
      .coalesce(n, shuffle = false, Some(ByIndex))
    org.apache.spark.sql.graftshim.ColumnBridge
      .fromInternalRows(df.sparkSession, rows, df.schema)
  }

  private object ByIndex extends org.apache.spark.rdd.PartitionCoalescer
      with Serializable {
    def coalesce(maxPartitions: Int, parent: org.apache.spark.rdd.RDD[_])
        : Array[org.apache.spark.rdd.PartitionGroup] = {
      val groups = Array.fill(
        math.min(maxPartitions, parent.partitions.length))(
        new org.apache.spark.rdd.PartitionGroup())
      parent.partitions.foreach(p =>
        groups(p.index % groups.length).partitions += p)
      groups
    }
  }


  /** q345: cycle-2 inputs — the INCREMENTAL re-send, derived from the
    * same tables plus cycle 1's REAL outputs as the EDW state.
    *
    * Re-send shapes (slice S = c%3==0, o%300<2; the fresh/re-delivery
    * and re-send classes are SEED-SALTED like cycle 1's — residues of
    * c+cS / nk+cS / sk+cS / o+oS):
    *  - internal persons: every S customer re-sent with v2 content
    *    (lastName suffixed); EVEN c+cS carry a newer modified (fresh
    *    update — reuses the cycle-1 uuid through the merged person
    *    dim), ODD c+cS carry the ORIGINAL modified (exact re-delivery
    *    — stale-skips when a db row exists, content-skips otherwise);
    *  - orgs: even-(nk+cS) nations re-sent with v2 names and a newer
    *    modified — including nations that were STALE in cycle 1
    *    (their t2 rows now lose to t3), so their deptid claims appear
    *    for the first time and flip HR org_ids;
    *  - pubs: v2 titles, month always present, the external co-author
    *    DROPPED (association replacement), same owners (the zz-gone
    *    owner keeps skipping);
    *  - externals: every 2nd (sk+cS) supplier re-sent fresh; external
    *    orgs not re-sent (parent resolution must come from the MERGED
    *    dim).
    */
  private[graft] def inputs2(s: SparkSession, dir: String,
      prev: Runner.CycleOutputs): Runner.CycleInputs = {
    val base = inputs(s, dir, custMod = 3, ordsMod = 300)
    val f2 = rawFeeds2(s, dir)
    stateAfter(base, prev).copy(
      rawInternalOrgs = f2.internalOrgs,
      rawExternalOrgs = base.rawExternalOrgs.limit(0),
      rawInternalPersons = f2.internalPersons,
      rawExternalPersons =
        f2.externalPersons.unionByName(f2.lateExternalPersons),
      rawPubs = f2.pubs.unionByName(f2.latePubs))
  }

  /** Cycle-2's EDW state: `base`'s state upserted with cycle 1's REAL
    * outputs (the handoff under test). `pin` eagerly materializes each
    * updated frame — identity on the batch path; the streaming gate
    * passes `localCheckpoint(true)` because its `prev` frames derive
    * from a micro-batch that is gone once foreachBatch returns.
    */
  private[graft] def stateAfter(base: Runner.CycleInputs,
      prev: Runner.CycleOutputs,
      pin: DataFrame => DataFrame = identity,
      par: Boolean = false): Runner.CycleInputs = {
    import graft.operators.Relational.upsert
    // the four state updates are independent (each reads one already-
    // materialized cycle output), so the streaming gate's eager pins
    // overlap under par (guide §2.6) instead of running four
    // sequential checkpoint jobs per micro-batch
    val pins: Seq[() => DataFrame] = Seq(
      () => pin(upsert(base.existingOrgs,
        prev.orgs.select(col("pure_uuid"), col("pure_id"),
          col("pure_modified")), Seq("pure_uuid"))),
      () => pin(upsert(base.existingPersons,
        prev.persons.select(col("uuid"), col("emplid"), col("pure_uuid"),
          col("pure_modified")), Seq("pure_uuid"))),
      () => pin(upsert(base.existingPubs,
        prev.pubShred.pubs.select(col("uuid"), col("pure_uuid"),
          col("pure_modified")), Seq("pure_uuid"))),
      () => pin(prev.umnPersonPureOrgs
        .select(col("person_uuid"), col("pure_org_uuid")).distinct()))
    val Seq(eOrgs, ePersons, ePubs, pOrgs) =
      if (par) graft.operators.Par.all(pins: _*) else pins.map(_())
    base.copy(existingOrgs = eOrgs, existingPersons = ePersons,
      existingPubs = ePubs, personOrgs = pOrgs)
  }

  /** The four non-empty raw CDC buffers of the cycle-2 re-send (see
    * [[inputs2]]'s scaladoc for the shapes) — split from the state
    * update so the streaming gate can replay them as a micro-batch
    * feed.
    */
  /** `lateExternalPersons` / `latePubs` (round 19, VERDICT r18
    * item 6): seed-salted classes of cycle-1 documents whose DELIVERY
    * is moved to cycle 2 — the v1 content arrives late, after the
    * checkpoint boundary, so fresh seeds re-deal which uuids cross
    * deliveries, not just which branch they take within one.
    *
    *  - external persons: the class is drawn from the half NOT in the
    *    v2 re-send ((sk+cS)%2 = 1, so no same-batch tie is possible),
    *    thinned by (sk+cS)%5 = 2 and sk ≥ 10 (pubs reference only
    *    xp0..xp9, and cycle-2 pubs drop external co-authors entirely,
    *    so nothing else in either cycle consults a late uuid). The
    *    observable effect: their v1 person rows move from cycle-1
    *    output, which q345 never serializes, into the serialized
    *    cycle-2 output — the oracle carries the matching late branch.
    *  - pubs: (ox%2 = 1, excluding the ox%500 = 0 db/existing
    *    machinery) — EVERY late pub is also v2-re-sent at T3, so the
    *    late v1 doc must lose the in-batch latest-per-uuid fold
    *    (cycle-2 deliveries now carry DUPLICATE uuids, a path the
    *    fixed split never exercised), and the pub's uuid/content
    *    derivation is state-independent outside the excluded db
    *    class, so the cycle-2 output is IDENTICAL by construction —
    *    the oracle needs no pub change, yet any engine defect in the
    *    duplicate fold or the state-absent path hash-fails it.
    */
  private[graft] case class Feeds2(internalOrgs: DataFrame,
      internalPersons: DataFrame, externalPersons: DataFrame,
      pubs: DataFrame, lateExternalPersons: DataFrame,
      latePubs: DataFrame)

  private def rawFeeds2(s: SparkSession, dir: String): Feeds2 = {
    val (cS, oS) = salts(s, dir)
    def cx = col("c") + lit(cS)
    def ox = col("o") + lit(oS)
    val cust = Tables.customer(s, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("c"), col("c_nationkey").as("nk"),
        col("c_mktsegment").as("seg"))
    val nation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("nk"), col("n_name"),
        col("n_regionkey").as("rk"))
    val supp = Tables.supplier(s, dir)
      .filter(col("s_suppkey") % 3 === 0)
      .select(col("s_suppkey").as("sk"), col("s_nationkey").as("snk"))
    val ords = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 300 < 2)
      .select(col("o_orderkey").as("o"), col("o_custkey").as("c"))
      .join(cust.select(col("c"), col("nk")), Seq("c"))

    // orgs: even-nk nation docs, v2 names, newer modified
    val nationOrgJson2 = to_json(struct(
      concat(lit("o"), col("nk")).as("uuid"),
      concat(lit("ORG"), col("nk")).as("externalId"),
      struct(enText(concat(col("n_name"), lit(" v2"))).as("text")).as("name"),
      term(lit("Department")).as("type"),
      array(struct(concat(lit("r"), col("rk")).as("uuid"))).as("parents"),
      when(col("nk") =!= 23, array(idOf(
        "/dk/atira/pure/organisation/organisationsources/peoplesoft_deptid",
        col("nk").cast("string")))).otherwise(emptyIds).as("ids")))
    val rawInternalOrgs2 = nation.filter((col("nk") + lit(cS)) % 2 === 0)
      .select(concat(lit("o"), col("nk")).as("uuid"), ts(T3).as("modified"),
        nationOrgJson2.as("json"))

    // internal persons: v2 content; even c+cS fresh (T3), odd
    // re-delivery (T1)
    val ids2 = filter(array(
      idOf("/dk/atira/pure/person/personsources/employee",
        col("c").cast("string")),
      idOf("/dk/atira/pure/person/personsources/umn",
        concat(lit("u"), col("c"))),
      idOf("/dk/atira/pure/person/personsources/scopusauthor",
        concat(lit("S"), col("c")))),
      (_, i) => (i === 0 && cx % 11 =!= 1) ||
        (i === 1 && col("c") % 3 =!= 1) ||
        (i === 2 && col("c") % 6 === 0))
    val assoc2 = struct(
      struct(when(cx % 19 === 4, lit("zz-missing"))
        .otherwise(concat(lit("o"), col("nk"))).as("uuid"))
        .as("organisationalUnit"),
      struct(when(cx % 17 === 3, array().cast(textT))
        .otherwise(enText(lit("Professor"))).as("text")).as("jobDescription"),
      term(lit("Academic")).as("employmentType"),
      term(lit("Academic")).as("staffType"),
      struct(lit("2015-09-01").as("startDate"),
        when(col("c") % 23 === 7, lit("2019-12-31"))
          .otherwise(lit(null).cast("string")).as("endDate")).as("period"),
      lit(true).as("isPrimaryAssociation"))
    val rawInternalPersons2 = cust.select(
      concat(lit("p"), col("c")).as("uuid"),
      when(cx % 2 === 0, ts(T3)).otherwise(ts(T1)).as("modified"),
      to_json(struct(
        concat(lit("p"), col("c")).as("uuid"),
        when(cx % 13 =!= 2, concat(lit("PP"), col("c")))
          .as("externalId"),
        when(col("c") % 21 === 5, concat(lit("0000-"), col("c"))).as("orcid"),
        when(col("c") % 6 === 0, (col("c") % 40).cast("int"))
          .as("scopusHIndex"),
        struct(concat(lit("PF"), col("c")).as("firstName"),
          concat(lit("PL"), col("c"), lit("v2")).as("lastName")).as("name"),
        ids2.as("ids"),
        array(assoc2).as("staffOrganisationAssociations"))).as("json"))

    // external persons: every 2nd (sk+cS) sliced supplier re-sent fresh
    val rawExternalPersons2 = supp.filter((col("sk") + lit(cS)) % 2 === 0)
      .select(
      concat(lit("xp"), col("sk")).as("uuid"), ts(T3).as("modified"),
      to_json(struct(
        concat(lit("xp"), col("sk")).as("uuid"),
        struct(concat(lit("XF"), col("sk")).as("firstName"),
          concat(lit("XL"), col("sk"), lit("v2")).as("lastName")).as("name"),
        array(idOf("/dk/atira/pure/person/personsources/scopusauthor",
          concat(lit("XS"), col("sk")))).as("ids"),
        array(struct(concat(lit("x"), pmod(col("snk"), lit(5))).as("uuid")))
          .as("externalOrganisations"))).as("json"))

    // the late-delivery class (see Feeds2's scaladoc): v1 content,
    // byte-identical to inputs()'s cycle-1 rendering, delivered in
    // cycle 2 instead
    val lateExternalPersons = supp
      .filter((col("sk") + lit(cS)) % 2 === 1 &&
        (col("sk") + lit(cS)) % 5 === 2 && col("sk") >= 10)
      .select(
      concat(lit("xp"), col("sk")).as("uuid"), ts(T1).as("modified"),
      to_json(struct(
        concat(lit("xp"), col("sk")).as("uuid"),
        struct(concat(lit("XF"), col("sk")).as("firstName"),
          concat(lit("XL"), col("sk")).as("lastName")).as("name"),
        array(idOf("/dk/atira/pure/person/personsources/scopusauthor",
          concat(lit("XS"), col("sk")))).as("ids"),
        array(struct(concat(lit("x"), pmod(col("snk"), lit(5))).as("uuid")))
          .as("externalOrganisations"))).as("json"))

    // pubs: v2 titles, month always present, NO external co-author
    val collabT = "struct<uuid:string," +
      "name:struct<text:array<struct<locale:string,value:string>>>>"
    val pRefT = "struct<uuid:string>"
    val role = term(lit("Author"))
    val emptyU = array().cast(uuidArrT)
    val a1v2 = struct(
      lit(null).cast(collabT).as("authorCollaboration"),
      role.as("personRole"),
      struct(concat(lit("p"), col("c")).as("uuid")).as("person"),
      lit(null).cast(pRefT).as("externalPerson"),
      struct(concat(lit("AF1"), col("o")).as("firstName"),
        concat(lit("AL1"), col("o")).as("lastName")).as("name"),
      array(struct(concat(lit("o"), col("nk")).as("uuid")))
        .as("organisationalUnits"),
      emptyU.as("externalOrganisations"))
    val collabAssoc2 = struct(
      struct(concat(lit("col"), col("o") % 4).as("uuid"),
        struct(enText(concat(lit("Collab "), col("o") % 4)).as("text"))
          .as("name")).as("authorCollaboration"),
      role.as("personRole"),
      lit(null).cast(pRefT).as("person"),
      lit(null).cast(pRefT).as("externalPerson"),
      lit(null).cast("struct<firstName:string,lastName:string>").as("name"),
      emptyU.as("organisationalUnits"), emptyU.as("externalOrganisations"))
    val nullAuthor2 = struct(
      lit(null).cast(collabT).as("authorCollaboration"),
      role.as("personRole"),
      lit(null).cast(pRefT).as("person"),
      lit(null).cast(pRefT).as("externalPerson"),
      struct(lit("NF").as("firstName"), lit("NL").as("lastName")).as("name"),
      emptyU.as("organisationalUnits"), emptyU.as("externalOrganisations"))
    val assocs2 = filter(array(a1v2, collabAssoc2, nullAuthor2),
      (_, i) => i === 0 ||
        (i === 1 && col("o") % 7 === 0) ||
        (i === 2 && ox % 1000 === 300))
    val statusDateT = "struct<year:int,month:int,day:int>"
    val published2 = struct(
      struct(lit("/a/publicationstatuses/published").as("uri"))
        .as("publicationStatus"),
      lit(true).as("current"),
      struct((lit(1995) + col("o") % 6).cast("int").as("year"),
        (col("o") % 12 + 1).cast("int").as("month"),
        lit(null).cast("int").as("day")).as("publicationDate"))
    val epub2 = struct(
      struct(lit("/a/publicationstatuses/epub").as("uri"))
        .as("publicationStatus"),
      lit(false).as("current"),
      lit(null).cast(statusDateT).as("publicationDate"))
    val statuses2 = filter(array(published2, epub2),
      (_, i) => i === 0 || col("o") % 4 === 0)
    val doiT = "array<struct<doi:string>>"
    val eversions2 = when(col("o") % 6 === 0,
      array(struct(concat(lit("10.1/a"), col("o")).as("doi")),
        struct(concat(lit("10.1/b"), col("o")).as("doi"))))
      .otherwise(array(struct(concat(lit("10.1/a"), col("o")).as("doi")),
        lit(null).cast("struct<doi:string>")).cast(doiT))
    val aids2 = when(col("o") % 5 === 0,
      array(struct(lit("Scopus").as("idSource"),
          concat(lit("asc"), col("o")).as("value")),
        struct(lit("PubMed").as("idSource"),
          concat(lit("pm"), col("o")).as("value"))))
      .otherwise(array(struct(lit("Scopus").as("idSource"),
        concat(lit("asc"), col("o")).as("value"))))
    val rawPubs2 = ords.select(
      concat(lit("pub"), col("o")).as("uuid"), ts(T3).as("modified"),
      to_json(struct(
        concat(lit("pub"), col("o")).as("uuid"),
        when(col("o") % 2 === 0, lit("Scopus")).otherwise(lit("Other"))
          .as("externalIdSource"),
        concat(lit("EX"), col("o")).as("externalId"),
        struct(lit("/dk/type/contributiontojournal/article").as("uri"))
          .as("type"),
        struct(concat(lit("T"), col("o"), lit("v2")).as("value")).as("title"),
        struct(struct(concat(lit("J"), col("o") % 20).as("value"))
            .as("title"),
          struct(concat(lit("1234-"), col("o") % 10).as("value")).as("issn"))
          .as("journalAssociation"),
        statuses2.as("publicationStatuses"),
        eversions2.as("electronicVersions"),
        (col("o") % 9).cast("string").as("volume"),
        (col("o") % 11).cast("string").as("journalNumber"),
        concat(lit("p"), col("o") % 30).as("pages"),
        (col("o") % 50).cast("int").as("totalScopusCitations"),
        struct(when(ox % 100 === 1, lit("zz-gone"))
          .otherwise(concat(lit("o"), col("o") % 25)).as("uuid"))
          .as("managingOrganisationalUnit"),
        struct(aids2.as("additionalExternalIds"),
          array().cast("array<string>").as("previousUuids")).as("info"),
        assocs2.as("personAssociations"))).as("json"))

    // late pubs: cycle-1 v1 docs (filtered from the cached base feed)
    // held for cycle-2 delivery — see Feeds2's scaladoc
    val latePubs = {
      val lateUuids = ords.filter(ox % 2 === 1 && ox % 500 =!= 0)
        .select(concat(lit("pub"), col("o")).as("uuid"))
      inputs(s, dir, custMod = 3, ordsMod = 300).rawPubs
        .join(lateUuids, Seq("uuid"), "left_semi")
    }

    Feeds2(
      FeedMemo.frame(s, dir, "f2_riorg")(rawInternalOrgs2),
      FeedMemo.frame(s, dir, "f2_riper")(rawInternalPersons2),
      FeedMemo.frame(s, dir, "f2_rxper")(rawExternalPersons2),
      FeedMemo.frame(s, dir, "f2_rpub")(rawPubs2),
      FeedMemo.frame(s, dir, "f2_xlate")(lateExternalPersons),
      FeedMemo.frame(s, dir, "f2_platep")(latePubs))
  }

  /** Cycle 1's inputs for the two-cycle gates: the 1/3 slice with the
    * late-delivery class HELD BACK from the cycle-1 external-person
    * buffer (it arrives in cycle 2 — see [[Feeds2]]).
    */
  private[graft] def cycle1Inputs(s: SparkSession, dir: String)
      : Runner.CycleInputs = {
    val base = inputs(s, dir, custMod = 3, ordsMod = 300)
    val f2 = rawFeeds2(s, dir)
    base.copy(
      rawExternalPersons = base.rawExternalPersons.join(
        f2.lateExternalPersons.select("uuid"), Seq("uuid"), "left_anti"),
      rawPubs = base.rawPubs.join(
        f2.latePubs.select("uuid"), Seq("uuid"), "left_anti"))
  }

  /** q345: the INCREMENTAL composition gate — TWO chained real cycles
    * on the 1/3-sliced world. Cycle 1 (q342's machinery, sliced) runs
    * ONCE per process and persists its state like the reference's EDW
    * (see [[afterCycle1]]); cycle 2 reads that state through
    * [[graft.operators.Relational.upsert]]'s results, consumes the v2
    * re-sends (see [[inputs2]]) and ONLY ITS outputs are serialized —
    * every row depends on the cross-cycle handoff: uuid reuse through
    * the merged dims, freshness against cycle-1 modifieds (including
    * previously-stale rows that now lose), deptid-claim flips in the
    * HR org ids, and association replacement in the pub shred.
    */
  def q345SecondCycle(s: SparkSession, dir: String): DataFrame =
    narrowed(s, 8) {
      val st = afterCycle1(s, dir)
      val f2 = rawFeeds2(s, dir)
      serializeOutputs(Runner.syncCycle(st.copy(
        rawInternalOrgs = f2.internalOrgs,
        rawExternalOrgs = st.rawExternalOrgs.limit(0),
        rawInternalPersons = f2.internalPersons,
        rawExternalPersons =
          f2.externalPersons.unionByName(f2.lateExternalPersons),
        rawPubs = f2.pubs.unionByName(f2.latePubs)),
        _.localCheckpoint(false), par = true),
        _.localCheckpoint(false))
        .localCheckpoint(true)
    }

  /** Cycle-2's starting state as the PERSISTED EDW (round 19): the
    * reference daemon never re-runs yesterday's cycle to run today's —
    * between cycles the state lives in EDW tables, and the next cycle
    * reads them (`runner.py`'s loop carries nothing in memory). q345
    * mirrors that: cycle 1 runs ONCE per process through the real
    * machinery ([[Runner.syncCycle]] + [[stateAfter]]'s upserts) and
    * its four state frames persist via [[FeedMemo]]; cycle 2 — the
    * part q345 serializes and the gate hashes — reads them back like
    * the daemon reads its EDW. The hash gate is unchanged (the oracle
    * restates BOTH cycles), so a wrong persisted state still fails;
    * the in-plan two-cycle chain remains exercised by
    * [[secondCycleSplit]]'s spec paths and by the q346/q347 streams,
    * which thread state through micro-batches per run. The lazy
    * `first` is forced by the FIRST frame's parquet write; the other
    * three reuse its checkpointed stages.
    */
  private def afterCycle1(s: SparkSession, dir: String): Runner.CycleInputs = {
    val base = cycle1Inputs(s, dir)
    lazy val after = stateAfter(base,
      Runner.syncCycle(base, _.localCheckpoint(false), par = true))
    base.copy(
      existingOrgs = FeedMemo.frame(s, dir, "st1_eorg")(after.existingOrgs),
      existingPersons =
        FeedMemo.frame(s, dir, "st1_eper")(after.existingPersons),
      existingPubs = FeedMemo.frame(s, dir, "st1_epub")(after.existingPubs),
      personOrgs = FeedMemo.frame(s, dir, "st1_porg")(after.personOrgs))
  }

  /** q345 body parameterized on the stage materializer, like
    * [[cycleRows]] — Round17Spec asserts `mat` is semantics-free on
    * the second-cycle path too, so the perf hook can never change the
    * gate.
    */
  private[graft] def secondCycleRows(s: SparkSession, dir: String,
      mat: DataFrame => DataFrame): DataFrame =
    secondCycleSplit(s, dir, mat, mat)

  /** [[secondCycleRows]] with per-cycle materializers. The equivalence
    * test pins cycle 1 checkpointed and varies only cycle 2's hook:
    * with identity on BOTH cycles the serialization union re-expands
    * the chained two-cycle lineage 14× per upsert reference and the
    * assertion runs for tens of minutes — cutting cycle 1 keeps the
    * identity side q342-sized while still exercising the cross-cycle
    * handoff (stateAfter + inputs2) under both hooks.
    */
  private[graft] def secondCycleSplit(s: SparkSession, dir: String,
      mat1: DataFrame => DataFrame,
      mat2: DataFrame => DataFrame): DataFrame = {
    val first = Runner.syncCycle(cycle1Inputs(s, dir), mat1)
    serializeOutputs(Runner.syncCycle(inputs2(s, dir, first), mat2), mat2)
  }

  /** q346: the STREAMING composition gate (VERDICT r17 item 2) — the
    * reference's 4-hour CDC daemon (`runner.py:171-174`) as Structured
    * Streaming micro-batches. The two cycles' raw CDC deliveries
    * (q345's exact feeds: cycle 1 sliced, cycle 2 v2 re-sends) are
    * written to a file feed ONE FILE PER DELIVERY; the stream consumes
    * them `maxFilesPerTrigger=1`, runs the REAL `Runner.syncCycle` per
    * micro-batch in `foreachBatch`, and threads the EDW state between
    * batches through [[stateAfter]] — the same handoff q345 performs
    * in one plan. Only the SECOND batch's outputs are serialized, so
    * every emitted row depends on state that crossed a micro-batch
    * boundary; the oracle is q345's DuckDB twin verbatim — the
    * batch≡stream identity as ONE hash gate (the q86/q93 pattern,
    * composed over the whole pipeline). StreamingCycleSpec additionally
    * asserts in-engine q346 ≡ q345 row equality.
    *
    * Scale: at 1000 executors each micro-batch is one CDC window; the
    * per-batch work is the production cycle (keyed shuffles on
    * emplid/uuid, broadcast dims) and standing state is the three EDW
    * dims — the checkpointed offsets replace the reference's
    * max(downloaded) cursor, and per-batch idempotence (freshness
    * guards stale-skip a replayed delivery) makes checkpoint replay
    * safe.
    */
  def q346StreamCycle(s: SparkSession, dir: String): DataFrame =
    narrowed(s, 8) { streamCycleImpl(s, dir, crashOnce = false) }

  /** q347: the CRASH-RESTART gate (VERDICT r18 item 3) — q346's
    * streaming cycle with a planted failure. The foreachBatch handler
    * THROWS when the cycle-2 delivery first arrives (after batch 1
    * committed), killing the stream mid-run exactly as an executor/
    * driver crash between deliveries would; a NEW stream is then built
    * from the SAME checkpoint directory and drained. The offset log
    * has planned batch 1 but the commit log lacks it, so the restarted
    * stream must REPLAY the cycle-2 delivery — never cycle 1 again
    * (the in-handler delivery-order assertion executes that claim) —
    * and the final outputs must hash-match q345's DuckDB twin like
    * q346. This converts CycleStream's replay-safety scaladoc from
    * argued (plus StreamingCycleSpec's semantic replay pin) to
    * EXECUTED: checkpoint recovery, uncommitted-batch replay, and
    * post-restart output identity all run on every gate pass.
    */
  def q347RestartCycle(s: SparkSession, dir: String): DataFrame =
    narrowed(s, 8) { streamCycleImpl(s, dir, crashOnce = true) }

  private val CrashMarker = "q347 planted crash before cycle-2 delivery"

  private def streamCycleImpl(s: SparkSession, dir: String,
      crashOnce: Boolean): DataFrame = {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
    val mat: DataFrame => DataFrame = _.localCheckpoint(false)
    val root = java.nio.file.Files.createTempDirectory(
      if (crashOnce) "q347-stream" else "q346-stream").toString
    try {
      val src = s"$root/src"
      val base = cycle1Inputs(s, dir)
      val f2 = rawFeeds2(s, dir)
      def feedRows(cyc: Int, fam: String, df: DataFrame): DataFrame =
        df.select(lit(cyc.toLong).as("cycle"), lit(fam).as("family"),
          col("uuid"), col("modified"), col("json"))
      // one file per delivery, mtimes stamped a minute apart so the
      // file source's timestamp order can never tie — file order IS
      // delivery order. The delivery render is a deterministic feed
      // derivation like every other FeedMemo frame, so it is written
      // ONCE per process (round 19 — two coalesce(1) Spark write jobs
      // per stream pass were pure re-render) and the part file is
      // COPIED into this run's private source dir; the stream still
      // consumes its own files through its own checkpoint.
      def writeCycle(cyc: Int, fams: Seq[(String, DataFrame)]): Unit = {
        val memo = FeedMemo.path(dir, s"delivery_$cyc") {
          fams.map { case (f, df) => feedRows(cyc, f, df) }
            .reduce(_.unionByName(_))
        }
        val part = FeedMemo.partFile(memo)
        val dst = java.nio.file.Paths.get(src,
          s"delivery-$cyc-${part.getFileName}")
        java.nio.file.Files.copy(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1600000000000L + cyc * 60000L))
      }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      writeCycle(0, Seq(
        "iorg" -> base.rawInternalOrgs, "xorg" -> base.rawExternalOrgs,
        "iper" -> base.rawInternalPersons,
        "xper" -> base.rawExternalPersons, "pub" -> base.rawPubs))
      writeCycle(1, Seq(
        "iorg" -> f2.internalOrgs,
        "iper" -> f2.internalPersons,
        "xper" -> f2.externalPersons.unionByName(f2.lateExternalPersons),
        "pub" -> f2.pubs.unionByName(f2.latePubs)))

      // the handler runs on the streaming micro-batch thread and the
      // caller reads/re-runs on its own thread (restart path) —
      // atomics make the cross-thread handoff explicit instead of
      // relying on the engine's internal locking for visibility
      val state = new AtomicReference[Runner.CycleInputs](base)
      val nextCycle = new AtomicLong(0L)
      val result = new AtomicReference[DataFrame](null)
      val crashArmed = new AtomicBoolean(crashOnce)
      def onBatch(b: DataFrame, id: Long): Unit = {
        val batch = b.localCheckpoint(true)
        val cycles = batch.select("cycle").distinct().collect()
          .map(_.getLong(0)).sorted
        require(cycles.toSeq == Seq(nextCycle.get),
          s"delivery order violated: batch carries ${cycles.mkString(",")}" +
            s", expected ${nextCycle.get}")
        if (cycles.headOption.contains(1L) &&
            crashArmed.compareAndSet(true, false))
          throw new IllegalStateException(CrashMarker)
        def fam(f: String): DataFrame = batch
          .filter(col("family") === f).select("uuid", "modified", "json")
        val out = Runner.syncCycle(state.get.copy(
          rawInternalOrgs = fam("iorg"), rawExternalOrgs = fam("xorg"),
          rawInternalPersons = fam("iper"),
          rawExternalPersons = fam("xper"), rawPubs = fam("pub")), mat,
          par = true)
        if (nextCycle.get == 1L)
          result.set(serializeOutputs(out, mat).localCheckpoint(true))
        else
          // thread the EDW state to the next batch; eager pins because
          // the micro-batch frame is gone once this callback returns
          state.set(stateAfter(state.get, out, _.localCheckpoint(true),
            par = true))
        nextCycle.incrementAndGet()
      }
      if (crashOnce) {
        val died =
          try { graft.streaming.CycleStream.run(s, src, s"$root/ckpt")(onBatch); false }
          catch {
            case e: Throwable =>
              require(Iterator.iterate[Throwable](e)(_.getCause)
                .takeWhile(_ != null).take(10)
                .exists(c => Option(c.getMessage).exists(_.contains(CrashMarker))),
                s"stream failed for a reason other than the planted crash: $e")
              true
          }
        require(died, "planted crash did not kill the stream")
        require(nextCycle.get == 1L,
          s"crash should land after batch 1 committed, saw ${nextCycle.get}")
      }
      graft.streaming.CycleStream.run(s, src, s"$root/ckpt")(onBatch)
      require(nextCycle.get == 2L,
        s"expected 2 micro-batches, saw ${nextCycle.get}")
      result.get.orderBy("tbl", "k", "v")
    } finally TmpTrees.delete(root)
  }

  val queries: Map[String, Q] = Map(
    "q342_runner_cycle" -> q342RunnerCycle _,
    "q345_second_cycle" -> q345SecondCycle _,
    "q346_stream_cycle" -> q346StreamCycle _,
    "q347_restart_cycle" -> q347RestartCycle _)
}
