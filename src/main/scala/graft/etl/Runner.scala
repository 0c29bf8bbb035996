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
    * The cycle is a flat list of [[graft.operators.Par]] stages, one
    * per boundary group, each `get`ting the stages it reads: the data
    * dependencies alone decide what overlaps. With `par` every stage
    * starts on its own driver thread — a non-identity mat boundary
    * blocks its thread through AQE stage materialization, and on one
    * thread the independent sub-pipelines (the org shredders, the
    * person shredders, the pub outputs, the HR branch, which reads
    * only deptOrgs and the HR feeds) serialize ~140 tiny stage-jobs
    * while the other cores idle (a job-anatomy probe, round 19).
    * Without `par` each stage runs on the caller's thread when first
    * read. Every stage is joined before the cycle returns or throws;
    * Round20Spec pins par ≡ sequential row equality.
    */
  def syncCycle(in: CycleInputs,
      mat: DataFrame => DataFrame = identity,
      par: Boolean = false): CycleOutputs =
    graft.operators.Par.scope(par) { sc =>
      import sc.stage

      // 1. orgs (internal + external) — dims for everything downstream
      val intOrgs = stage("int-orgs")(PureOrgs.shredOrgs(
        PureExternals.latest(in.rawInternalOrgs), in.existingOrgs, mat))
      val extOrgs = stage("ext-orgs")(PureExternals.shredExternalOrgs(
        PureExternals.latest(in.rawExternalOrgs), in.existingOrgs, mat))
      // deptOrgs has TWO consumers (HR's dim merge + the serialized
      // output): one boundary instead of re-running the latest-per-key
      // fold per consumer
      val deptOrgs = stage("dept-orgs")(mat(intOrgs.get._2))
      val orgs = stage("orgs")(mat(intOrgs.get._1.unionByName(
        extOrgs.get._1, allowMissingColumns = true)))
      val orgDim = stage("org-dim")(mat(in.existingOrgs.select("pure_uuid")
        .unionByName(orgs.get.select("pure_uuid")).distinct()))

      // 4. HR → sync staging (the oit_to_edw person flow) — reads only
      // deptOrgs and the HR feeds. The dept→org dim merge is
      // deterministic: a freshly shredded row always beats the existing
      // dim row for the same deptid (dropDuplicates would pick an
      // arbitrary winner per shuffle, making the HR derivation
      // nondeterministic across runs).
      val sync = stage("hr") {
        val deptOrgDim = graft.operators.Relational.latestPerKey(
          in.deptOrg.select(col("deptid"), col("pure_org_id"))
            .withColumn("__fresh", lit(0))
            .unionByName(deptOrgs.get.select(col("deptid"), col("pure_org_id"))
              .withColumn("__fresh", lit(1))),
          Seq("deptid"),
          // nulls LAST: a fresh row carrying a real org id must beat a
          // sibling with a null pure_org_id (plain asc sorts nulls first)
          Seq(col("__fresh").desc, col("pure_org_id").asc_nulls_last))
          .drop("__fresh")
        OitToEdw.personSync(in.demogHistory, in.scival,
          in.empEntries, in.poiEntries, in.affEntries,
          deptOrgDim,
          in.empJobcodes, in.poiJobcodes, in.affJobcodes,
          in.knownOverrideable, in.overrides, mat)
      }
      // error channel → content-addressed exception records. The
      // persons_in_dept enrichment counts the HR feed's distinct
      // persons per dept (the reference's
      // count_pure_eligible_persons_in_dept over EDW — the emp feed is
      // the same population pre-load). errors is mat'ed first:
      // errorRecords fans it out into SIX filtered branches, each of
      // which would otherwise re-run the whole HR error channel
      // (measured 1.6 s of the cycle's eager breakdown at sf0.1)
      val syncErrors = stage("hr-errors")(mat(sync.get.errors))
      val errorRecords = stage("error-records")(mat(
        graft.operators.Errors.errorRecords(syncErrors.get,
          in.empEntries.select(col("emplid"), col("deptid")).distinct())))
      // every output a caller serializes is a mat boundary (round 19):
      // the N-way serialization union otherwise drags each
      // unmaterialized output's full cycle lineage into ONE plan, and
      // the driver spends seconds re-optimizing it per action
      val personData = stage("person-data")(mat(sync.get.personData))
      val staffOrgAssociations =
        stage("staff-orgs")(mat(sync.get.staffOrgAssociations))
      val userData = stage("user-data")(mat(sync.get.userData))

      // 2. persons (internal + external), validated against the org dim
      val internal = stage("int-persons")(PurePersons.shredInternalPersons(
        PureExternals.latest(in.rawInternalPersons),
        in.existingPersons.select("uuid", "emplid", "pure_modified"),
        in.personOrgs, in.scopusIds, orgDim.get, mat))
      val external = stage("ext-persons")(PureExternals.shredExternalPersons(
        PureExternals.latest(in.rawExternalPersons),
        in.existingPersons.select("uuid", "pure_uuid", "pure_modified"),
        in.personOrgs, in.scopusIds, orgDim.get, mat))
      // external persons carry no pure_id column; align by name
      val persons = stage("persons")(mat(internal.get.persons.unionByName(
        external.get.persons, allowMissingColumns = true)))
      val umnPersonPureOrgs =
        stage("umn-person-orgs")(mat(internal.get.umnPersonPureOrgs))

      // 3. publications, validated against person + org dims
      val pubShred = stage("pubs") {
        val personDim = in.existingPersons
          .select(col("uuid"), col("pure_uuid"), col("emplid"))
          .unionByName(persons.get.select("uuid", "pure_uuid", "emplid"))
          .dropDuplicates("pure_uuid")
        PureDocs.shredPubs(PureDocs.latestDocs(in.rawPubs), in.existingPubs,
          personDim, orgDim.get, mat)
      }
      // output boundaries: the pub frames project wide nested-doc
      // expression trees that would otherwise be re-optimized inside
      // every serialization branch
      val pubs = stage("pubs-out")(mat(pubShred.get.pubs))
      val pubPersons = stage("pub-persons")(mat(pubShred.get.pubPersons))
      val pubPersonOrgs = stage("pub-orgs")(mat(pubShred.get.pubPersonOrgs))
      val pubCollabs = stage("pub-collabs")(mat(pubShred.get.pubAuthorCollabs))
      val collabs = stage("collabs")(mat(pubShred.get.authorCollabs))
      val skips = stage("skips")(mat(internal.get.skips
        .unionByName(external.get.skips).unionByName(pubShred.get.skips)
        .unionByName(extOrgs.get._2).unionByName(intOrgs.get._3)))

      CycleOutputs(
        OitToEdw.SyncTables(personData.get, staffOrgAssociations.get,
          userData.get, syncErrors.get),
        orgs.get, deptOrgs.get, persons.get, umnPersonPureOrgs.get,
        PureDocs.PubShred(pubs.get, pubPersons.get, pubPersonOrgs.get,
          pubCollabs.get, collabs.get, pubShred.get.skips),
        skips.get, errorRecords.get)
    }
}
