package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The whole-system sync cycle (reference `runner.py:88-169`: sixteen
  * sequential subprocesses, a changes pool and a collections pool) as
  * ONE composition of the pipeline modules. The reference serializes
  * everything through Oracle tables and OS processes; here each stage
  * is a DataFrame handoff and the engine schedules the work — stages
  * without data dependencies parallelize naturally inside Spark.
  *
  * The composition is pure (DataFrames in → DataFrames out); callers
  * persist the outputs wherever their EDW lives. [[OitToEdw]] and
  * [[graft.sources.XmlSync]] handle the serialization edges.
  */
object Runner {

  /** Everything a cycle consumes. HR side per FIXTURES.md schemas; CDC
    * side is the five raw (uuid, modified, json) buffers plus the
    * current EDW state used for freshness/identity/validation.
    */
  case class CycleInputs(
      // HR feeds
      demogHistory: DataFrame,
      scival: DataFrame,
      empEntries: DataFrame,
      poiEntries: DataFrame,
      affEntries: DataFrame,
      // HR dims
      deptOrg: DataFrame,
      empJobcodes: DataFrame,
      poiJobcodes: DataFrame,
      affJobcodes: DataFrame,
      knownOverrideable: DataFrame,
      overrides: DataFrame,
      // CDC raw buffers (uuid, modified, json)
      rawInternalOrgs: DataFrame,
      rawExternalOrgs: DataFrame,
      rawInternalPersons: DataFrame,
      rawExternalPersons: DataFrame,
      rawPubs: DataFrame,
      // current EDW state
      existingOrgs: DataFrame, // (pure_uuid, pure_id, pure_modified)
      existingPersons: DataFrame, // (uuid, emplid, pure_uuid, pure_modified)
      existingPubs: DataFrame, // (uuid, pure_uuid, pure_modified)
      personOrgs: DataFrame,
      scopusIds: DataFrame)

  case class CycleOutputs(
      sync: OitToEdw.SyncTables,
      orgs: DataFrame,
      deptOrgs: DataFrame,
      persons: DataFrame,
      umnPersonPureOrgs: DataFrame,
      pubShred: PureDocs.PubShred,
      skips: DataFrame,
      /** Per-occurrence content-addressed error records (the daemon
        * merges these into its accumulated table via
        * [[graft.operators.Errors.accumulate]] with the cycle time).
        */
      errorRecords: DataFrame)

  /** One full cycle: org families first (persons validate against
    * orgs), then person families, then publications (which validate
    * against both), then the HR → sync-staging derivation and its
    * downstream XML input tables.
    *
    * `mat` marks materializable stage boundaries, threaded through to
    * every fact-scale shredder (identity by default — callers that
    * want one plan per output pass nothing). A cycle whose outputs are
    * serialized N ways should pass `_.localCheckpoint()`: Spark has no
    * cross-branch subplan reuse, so each boundary otherwise re-executes
    * once per downstream consumer — the reference materializes the
    * same boundaries as EDW stage tables between its subprocesses.
    *
    * `par` overlaps INDEPENDENT boundary materializations on driver
    * threads (guide §2.6; round 20). A non-identity mat boundary
    * blocks its calling thread through AQE stage materialization, so
    * sequentially-written independent sub-pipelines — the two org
    * shredders, the two person shredders, the five pub output frames,
    * and the whole HR branch (which consumes only deptOrgs + the HR
    * feeds, nothing from persons/pubs) — otherwise serialize ~140
    * tiny stage-jobs per cycle on one thread while the other cores
    * idle (a job-anatomy probe, round 19). Par only changes WHEN each frame
    * materializes, never what it computes; Round20Spec pins
    * par ≡ sequential row equality.
    */
  def syncCycle(in: CycleInputs,
      mat: DataFrame => DataFrame = identity,
      par: Boolean = false): CycleOutputs = {
    import graft.operators.Par
    def both[A, B](a: => A, b: => B): (A, B) =
      if (par) Par.par2(a, b) else (a, b)
    def matAll(dfs: (() => DataFrame)*): Seq[DataFrame] =
      if (par) Par.all(dfs: _*) else dfs.map(_()).toSeq

    // 1. orgs (internal + external) — dims for everything downstream;
    // the two shredders share no lineage, so they overlap under par
    val ((internalOrgs, deptOrgs0, intOrgSkips),
        (externalOrgs, extOrgSkips)) = both(
      PureOrgs.shredOrgs(
        PureExternals.latest(in.rawInternalOrgs), in.existingOrgs, mat),
      PureExternals.shredExternalOrgs(
        PureExternals.latest(in.rawExternalOrgs), in.existingOrgs, mat))
    // deptOrgs has TWO consumers (HR's dim merge + the serialized
    // output): one boundary instead of re-running the latest-per-key
    // fold per consumer (round 20 — it was previously mat'ed only at
    // the output, so the HR lineage re-executed it)
    val Seq(deptOrgs, orgs) = matAll(
      () => mat(deptOrgs0),
      () => mat(internalOrgs.unionByName(externalOrgs,
        allowMissingColumns = true)))
    val orgDim = mat(in.existingOrgs.select("pure_uuid")
      .unionByName(orgs.select("pure_uuid")).distinct())

    // 4. HR → sync staging (the oit_to_edw person flow) — depends only
    // on deptOrgs and the HR feeds, so under par the whole branch
    // (incl. its error channel and output boundaries) overlaps the
    // person+pub shredders below. The dept→org dim merge is
    // deterministic: a freshly shredded row always beats the existing
    // dim row for the same deptid (dropDuplicates would pick an
    // arbitrary winner per shuffle, making the HR derivation
    // nondeterministic across runs).
    def hrBranch(): (OitToEdw.SyncTables, DataFrame) = {
      val deptOrgDim = graft.operators.Relational.latestPerKey(
        in.deptOrg.select(col("deptid"), col("pure_org_id"))
          .withColumn("__fresh", lit(0))
          .unionByName(deptOrgs.select(col("deptid"), col("pure_org_id"))
            .withColumn("__fresh", lit(1))),
        Seq("deptid"),
        // nulls LAST: a fresh row carrying a real org id must beat a
        // sibling with a null pure_org_id (plain asc sorts nulls first)
        Seq(col("__fresh").desc, col("pure_org_id").asc_nulls_last))
        .drop("__fresh")
      val sync = OitToEdw.personSync(in.demogHistory, in.scival,
        in.empEntries, in.poiEntries, in.affEntries,
        deptOrgDim,
        in.empJobcodes, in.poiJobcodes, in.affJobcodes,
        in.knownOverrideable, in.overrides, mat)
      // error channel → content-addressed exception records. The
      // persons_in_dept enrichment counts the HR feed's distinct
      // persons per dept (the reference's
      // count_pure_eligible_persons_in_dept over EDW — the emp feed is
      // the same population pre-load). errors is mat'ed first:
      // errorRecords fans it out into SIX filtered branches, each of
      // which would otherwise re-run the whole HR error channel
      // (measured 1.6 s of the cycle's eager breakdown at sf0.1)
      val syncErrors = mat(sync.errors)
      val eligible = in.empEntries.select(col("emplid"), col("deptid"))
        .distinct()
      val errorRecords = mat(graft.operators.Errors.errorRecords(
        syncErrors, eligible))
      // every output a caller serializes is a mat boundary (round 19):
      // the N-way serialization union otherwise drags each
      // unmaterialized output's full cycle lineage into ONE plan, and
      // the driver spends seconds re-optimizing it per action
      val Seq(personData, staffOrgAssociations, userData) = matAll(
        () => mat(sync.personData),
        () => mat(sync.staffOrgAssociations),
        () => mat(sync.userData))
      (OitToEdw.SyncTables(personData, staffOrgAssociations, userData,
        syncErrors), errorRecords)
    }
    val hrForked = if (par) Some(Par.fork("hr")(hrBranch())) else None

    // 2. persons (internal + external), validated against the org dim
    val (internal, external) = both(
      PurePersons.shredInternalPersons(
        PureExternals.latest(in.rawInternalPersons),
        in.existingPersons.select("uuid", "emplid", "pure_modified"),
        in.personOrgs, in.scopusIds, orgDim, mat),
      PureExternals.shredExternalPersons(
        PureExternals.latest(in.rawExternalPersons),
        in.existingPersons.select("uuid", "pure_uuid", "pure_modified"),
        in.personOrgs, in.scopusIds, orgDim, mat))
    // external persons carry no pure_id column; align by name
    val persons = mat(internal.persons.unionByName(external.persons,
      allowMissingColumns = true))
    val personDim = in.existingPersons
      .select(col("uuid"), col("pure_uuid"), col("emplid"))
      .unionByName(persons.select("uuid", "pure_uuid", "emplid"))
      .dropDuplicates("pure_uuid")

    // 3. publications, validated against person + org dims
    val pubShred0 = PureDocs.shredPubs(
      PureDocs.latestDocs(in.rawPubs), in.existingPubs, personDim, orgDim,
      mat)
    // output boundaries: the pub frames project wide nested-doc
    // expression trees that would otherwise be re-optimized inside
    // every serialization branch; skips and umnPersonPureOrgs ride the
    // same independent-boundary group
    val Seq(pubsM, pubPersonsM, pubPersonOrgsM, pubAuthorCollabsM,
        authorCollabsM, skips, umnPersonPureOrgs) = matAll(
      () => mat(pubShred0.pubs),
      () => mat(pubShred0.pubPersons),
      () => mat(pubShred0.pubPersonOrgs),
      () => mat(pubShred0.pubAuthorCollabs),
      () => mat(pubShred0.authorCollabs),
      () => mat(internal.skips.unionByName(external.skips)
        .unionByName(pubShred0.skips).unionByName(extOrgSkips)
        .unionByName(intOrgSkips)),
      () => mat(internal.umnPersonPureOrgs))
    val pubShred = PureDocs.PubShred(pubsM, pubPersonsM, pubPersonOrgsM,
      pubAuthorCollabsM, authorCollabsM, pubShred0.skips)

    val (syncTables, errorRecords) =
      hrForked.map(_.join()).getOrElse(hrBranch())
    CycleOutputs(syncTables, orgs, deptOrgs, persons,
      umnPersonPureOrgs, pubShred, skips, errorRecords)
  }
}
