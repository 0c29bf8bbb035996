package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, DataType}
import graft.functions.Fns
import graft.operators.Relational

/** Pure CDC document pipelines (reference `transformer_loaders/` +
  * `changes_buffer_managers.py`): raw JSON documents staged as
  * (uuid, modified, json) rows are shredded into normalized tables with
  * explicit schemas — `from_json`, never inference — and set-level
  * validation replacing the reference's row-at-a-time N+1 queries.
  *
  * Scale notes: every step is a keyed shuffle or a broadcast join; the
  * "all-or-nothing per document" rule (pure_api_pub.py:362-381) becomes
  * a per-document validity aggregate computed BEFORE any child-table
  * output — no driver involvement, no per-row lookups.
  */
object PureDocs {

  /** Research-output document schema — only the fields the reference
    * navigates (pure_api_pub.py:177-360); everything else is pruned at
    * parse time, which also keeps the 100 TB scan narrow.
    */
  val pubSchema: StructType = DataType.fromDDL(
    """
    uuid STRING,
    externalIdSource STRING,
    externalId STRING,
    type STRUCT<uri: STRING>,
    title STRUCT<value: STRING>,
    journalAssociation STRUCT<title: STRUCT<value: STRING>,
                              issn: STRUCT<value: STRING>>,
    publicationStatuses ARRAY<STRUCT<
      publicationStatus: STRUCT<uri: STRING>,
      current: BOOLEAN,
      publicationDate: STRUCT<year: INT, month: INT, day: INT>>>,
    electronicVersions ARRAY<STRUCT<doi: STRING>>,
    volume STRING,
    journalNumber STRING,
    pages STRING,
    totalScopusCitations INT,
    managingOrganisationalUnit STRUCT<uuid: STRING>,
    info STRUCT<additionalExternalIds: ARRAY<STRUCT<idSource: STRING,
                                                    value: STRING>>,
                previousUuids: ARRAY<STRING>>,
    personAssociations ARRAY<STRUCT<
      authorCollaboration: STRUCT<uuid: STRING,
        name: STRUCT<text: ARRAY<STRUCT<locale: STRING, value: STRING>>>>,
      personRole: STRUCT<term: STRUCT<text: ARRAY<STRUCT<locale: STRING,
                                                         value: STRING>>>>,
      person: STRUCT<uuid: STRING>,
      externalPerson: STRUCT<uuid: STRING>,
      name: STRUCT<firstName: STRING, lastName: STRING>,
      organisationalUnits: ARRAY<STRUCT<uuid: STRING>>,
      externalOrganisations: ARRAY<STRUCT<uuid: STRING>>>>
    """).asInstanceOf[StructType]

  /** state URI tail → EDW column stem (pure_api_pub.py:20-28). */
  val pubStateMap: Map[String, String] = Map(
    "published" -> "issued", "epub" -> "eissued",
    "unpublished" -> "unissued", "inprep" -> "inprep",
    "submitted" -> "submitted", "in_press" -> "inpress",
    "inpress" -> "inpress")

  /** W6: latest raw document per uuid (extract_api_pubs,
    * pure_api_pub.py:64-72) — one window pass over the buffer.
    */
  def latestDocs(raw: DataFrame): DataFrame =
    Relational.latestPerKey(raw, Seq("uuid"), Seq(col("modified").desc))

  /** W7 (changes_buffer_managers.py:4-44): per-uuid max-version change
    * drives the action; ALL rows move buffer→history. Returns
    * (actions, history) — actions has one row per uuid with the winning
    * change_type; history is the full input (append target).
    */
  def consumeChanges(changes: DataFrame, familyNames: Seq[String]): (DataFrame, DataFrame) = {
    val filtered = changes.filter(col("family_system_name").isin(familyNames: _*))
    val actions = Relational.latestPerKey(filtered, Seq("uuid"),
      Seq(col("version").desc))
    (actions, filtered)
  }

  /** CDC resume offset (pure_api_changes.py:28-41): max(downloaded)
    * across buffer and history; caller supplies the default when both
    * are empty. Returns a 1-row DataFrame (offset TIMESTAMP).
    */
  def resumeOffset(buffer: DataFrame, history: DataFrame): DataFrame =
    buffer.select(col("downloaded"))
      .unionByName(history.select(col("downloaded")))
      .agg(max(col("downloaded")).as("offset"))

  /** Name-based surrogate uuid (deterministic across plan
    * re-executions — see shredPubs): md5 of (namespace, source id)
    * formatted as a uuid string.
    */
  def derivedUuid(namespace: Column, sourceId: Column): Column = {
    val h = md5(concat_ws(":", namespace, sourceId))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  private def localeEn(textArr: Column): Column =
    Fns.localeValueStrict(textArr)

  /** Shred the latest research-output documents into normalized outputs
    * (pure_api_pub.py:138-424). Inputs:
    *  - `raw`: (uuid, modified, json) — pre-filtered to latest per uuid;
    *  - `existingPubs`: (uuid, pure_uuid, pure_modified) current pub dim
    *    (freshness guard P8 + stable surrogate uuid reuse);
    *  - `persons`: (uuid, pure_uuid, emplid) person dim (J8);
    *  - `orgs`: (pure_uuid) org dim (J8 + owner validation).
    *
    * Returns PubShred(pubs, pubPersons, pubPersonOrgs,
    * pubAuthorCollabs, authorCollabs, skips): only documents passing
    * ALL validations contribute to ANY output (all-or-nothing); `skips`
    * carries (uuid, skip_reason).
    */
  case class PubShred(
      pubs: DataFrame,
      pubPersons: DataFrame,
      pubPersonOrgs: DataFrame,
      pubAuthorCollabs: DataFrame,
      authorCollabs: DataFrame,
      skips: DataFrame)

  /** `mat` marks materializable stage boundaries (the
    * [[PurePersons.shredInternalPersons]] convention): `withDb` (one
    * JSON parse), `personAssocsRanked` (three consumers),
    * `orgRefs` (two), `skipsAssoc` (five anti-joins). Identity by
    * default — existing callers' plans are unchanged.
    */
  def shredPubs(
      raw: DataFrame,
      existingPubs: DataFrame,
      persons: DataFrame,
      orgs: DataFrame,
      mat: DataFrame => DataFrame = identity): PubShred = {

    val parsed = raw
      .withColumn("doc", from_json(col("json"), pubSchema))
      .select(col("uuid"), col("modified"), col("doc"))

    // P8 freshness + surrogate-uuid reuse: left join the pub dim.
    // mat boundary (round 19): both the fresh path and the stale skip
    // branch read withDb — without it the stale branch re-runs the
    // full JSON parse above for a handful of skip rows
    val withDb = mat(parsed.join(
      existingPubs.select(col("pure_uuid").as("uuid"),
        col("uuid").as("__db_uuid"), col("pure_modified").as("__db_modified")),
      Seq("uuid"), "left"))
    val stale = withDb.filter(
      Fns.isNotFresh(col("__db_modified"), col("modified")))
      .select(col("uuid"), Fns.staleReason(col("__db_modified"), col("modified")).as("skip_reason"))
    // surrogate for NEW docs is derived (not uuid()): each of the six
    // shred outputs re-executes this subplan on write, and a
    // nondeterministic uuid would mint DIFFERENT keys per action,
    // orphaning child rows. Name-based uuid from the source uuid is
    // stable across executions and collision-free per source.
    val fresh = withDb.filter(
        Fns.isFresh(col("__db_modified"), col("modified")))
      .withColumn("pub_uuid",
        coalesce(col("__db_uuid"), derivedUuid(lit("pub"), col("uuid"))))

    // owner org validation (pure_api_pub.py:207-225): no owner → skip;
    // owner not in org dim → skip
    val ownerChecked = fresh.join(
      broadcast(orgs.select(col("pure_uuid").as("__owner_ok"))),
      col("doc.managingOrganisationalUnit.uuid") === col("__owner_ok"), "left")
    val noOwner = ownerChecked
      .filter(col("doc.managingOrganisationalUnit.uuid").isNull)
      .select(col("uuid"), lit("no_owner_org").as("skip_reason"))
    val ownerMissing = ownerChecked
      .filter(col("doc.managingOrganisationalUnit.uuid").isNotNull &&
        col("__owner_ok").isNull)
      .select(col("uuid"), lit("owner_org_not_in_edw").as("skip_reason"))
    val owned = ownerChecked.filter(col("__owner_ok").isNotNull)

    // associations: posexplode → ordinal (W8); validate at set level
    val assocs = owned.select(col("uuid"), col("pub_uuid"),
        posexplode_outer(col("doc.personAssociations"))
          .as(Seq("__pos", "assoc")))
      .withColumn("author_ordinal", col("__pos") + 1)
      .filter(col("assoc").isNotNull)
    val isCollab = col("assoc.authorCollaboration.uuid").isNotNull
    // externalPerson OVERRIDES person when both are present — the
    // reference's two sequential ifs (pure_api_pub.py:294-300) make
    // the external branch win
    val personPureUuid = coalesce(col("assoc.externalPerson.uuid"),
      col("assoc.person.uuid"))

    val personAssocs = assocs.filter(!isCollab)
      .withColumn("person_pure_uuid", personPureUuid)
      .withColumn("person_pure_internal",
        when(col("assoc.externalPerson.uuid").isNotNull, "N").otherwise("Y"))
      .join(persons.select(col("pure_uuid").as("person_pure_uuid"),
        col("uuid").as("person_uuid"), col("emplid")),
        Seq("person_pure_uuid"), "left")

    // per-document validity (J8 + missing-uuid; only the FIRST assoc of
    // each person contributes orgs, matching the reference's
    // dup-person `continue` at pure_api_pub.py:337)
    val firstOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("uuid"), col("person_uuid"))
    val personAssocsRanked = mat(personAssocs.withColumn("__first_ord",
      min(col("author_ordinal")).over(firstOcc)))
    val orgRefs = personAssocsRanked
      .filter(col("author_ordinal") === col("__first_ord"))
      .select(col("uuid"), col("pub_uuid"), col("person_uuid"),
        explode(concat(
          coalesce(col("assoc.organisationalUnits"),
            array().cast("array<struct<uuid:string>>")),
          coalesce(col("assoc.externalOrganisations"),
            array().cast("array<struct<uuid:string>>"))))
          .as("orgref"))
      .select(col("uuid"), col("pub_uuid"), col("person_uuid"),
        col("orgref.uuid").as("pure_org_uuid"))
      .join(broadcast(orgs.select(col("pure_uuid").as("pure_org_uuid"),
        lit(true).as("__org_ok"))), Seq("pure_org_uuid"), "left")
    val orgRefsM = mat(orgRefs)

    // read off the personAssocsRanked cut: re-deriving personAssocs
    // here re-ran its owner broadcast and person-dim join, whose AQE
    // sort-merge → broadcast switch raced that broadcast and scheduled
    // 5 or 6 jobs per cycle
    val docValidity = personAssocsRanked
      .groupBy("uuid")
      .agg(
        max(when(col("person_pure_uuid").isNull, 1).otherwise(0))
          .as("__missing_uuid"),
        max(when(col("person_pure_uuid").isNotNull &&
          col("person_uuid").isNull, 1).otherwise(0)).as("__missing_person"))
      .join(orgRefsM.groupBy("uuid")
        .agg(max(when(col("__org_ok").isNull, 1).otherwise(0))
          .as("__missing_org")), Seq("uuid"), "outer")
      .na.fill(0, Seq("__missing_uuid", "__missing_person", "__missing_org"))

    val skipsAssoc0 = docValidity
      .filter(col("__missing_uuid") === 1 || col("__missing_person") === 1 ||
        col("__missing_org") === 1)
      .select(col("uuid"),
        when(col("__missing_person") === 1, "person_not_in_edw")
          .when(col("__missing_uuid") === 1, "person_missing_pure_uuid")
          .otherwise("org_not_in_edw").as("skip_reason"))
    val skipsAssoc = mat(skipsAssoc0)

    val validDocs = owned.join(skipsAssoc.select("uuid"), Seq("uuid"), "left_anti")

    // ---- outputs (valid docs only) ----

    val doc = col("doc")
    // F17 id routing: last electronicVersions doi wins; additional ids
    // by source, last wins (pure_api_pub.py:74-99)
    def lastNonNull(arr: Column): Column =
      try_element_at(reverse(filter(arr, x => x.isNotNull)), lit(1))
    val doiCol = lastNonNull(transform(
      coalesce(doc.getField("electronicVersions"),
        array().cast("array<struct<doi:string>>")),
      v => v.getField("doi")))
    def additionalId(source: String): Column = lastNonNull(transform(
      filter(coalesce(doc.getField("info").getField("additionalExternalIds"),
        array().cast("array<struct<idSource:string,value:string>>")),
        x => x.getField("idSource") === source),
      x => x.getField("value")))

    // C8 state pivot: 6 column triples from the statuses array
    val states = doc.getField("publicationStatuses")
    def stateCols: Seq[Column] = pubStateMap.values.toSeq.distinct.sorted.flatMap { stem =>
      val uris = pubStateMap.filter(_._2 == stem).keys.toSeq
      // filter(null) is null; try_element_at(null) is null → a doc with
      // no statuses yields all-null state columns (nullify_pub_states)
      val matching = filter(states,
        s => uris.map(u =>
          Fns.uriLast(s.getField("publicationStatus").getField("uri")) === u)
          .reduce(_ || _))
      // reference applies statuses in array order, mutating columns
      // independently (update_pub_state): _current comes from the LAST
      // matching status of any shape; date/precision come from the last
      // matching status that CARRIES a publicationDate — a later
      // dateless status must not erase an earlier date
      val last = try_element_at(matching, lit(-1))
      val lastWithDate = try_element_at(reverse(filter(matching,
        x => x.getField("publicationDate").isNotNull)), lit(1))
      val d = lastWithDate.getField("publicationDate")
      Seq(
        when(lastWithDate.isNotNull,
          make_timestamp(d.getField("year"),
            coalesce(d.getField("month"), lit(1)),
            coalesce(d.getField("day"), lit(1)),
            lit(0), lit(0), lit(0))).as(stem),
        when(last.isNotNull, coalesce(last.getField("current"), lit(false)))
          .as(s"${stem}_current"),
        when(lastWithDate.isNotNull,
          when(d.getField("day").isNotNull, 1)
            .when(d.getField("month").isNotNull, 31)
            .otherwise(366)).as(s"${stem}_precision"))
    }

    val typeTail = Fns.uriTail(doc.getField("type").getField("uri"), 3)

    val pubs = validDocs.select(Seq(
      col("pub_uuid").as("uuid"),
      col("uuid").as("pure_uuid"),
      when(doc.getField("externalIdSource") === "Scopus",
        doc.getField("externalId")).as("scopus_id"),
      additionalId("PubMed").as("pmid"),
      doiCol.as("doi"),
      try_element_at(typeTail, lit(2)).as("pure_type"),
      try_element_at(typeTail, lit(1)).as("pure_subtype"),
      doc.getField("title").getField("value").as("title"),
      doc.getField("journalAssociation").getField("title").getField("value")
        .as("container_title"),
      doc.getField("journalAssociation").getField("issn").getField("value")
        .as("issn"),
      doc.getField("volume").as("volume"),
      doc.getField("journalNumber").as("issue"),
      doc.getField("pages").as("pages"),
      doc.getField("totalScopusCitations").as("citation_total"),
      doc.getField("managingOrganisationalUnit").getField("uuid")
        .as("owner_pure_org_uuid"),
      col("modified").as("pure_modified")) ++ stateCols: _*)

    val validPersonAssocs = personAssocsRanked
      .join(skipsAssoc.select("uuid"), Seq("uuid"), "left_anti")

    // D6: first occurrence of each person keeps the row (+its ordinal)
    val pubPersons = validPersonAssocs
      .filter(col("author_ordinal") === col("__first_ord"))
      .select(col("pub_uuid"), col("person_uuid"),
        col("author_ordinal").as("person_ordinal"),
        lower(localeEn(col("assoc.personRole.term.text"))).as("person_role"),
        col("person_pure_internal"),
        col("assoc.name.firstName").as("first_name"),
        col("assoc.name.lastName").as("last_name"),
        col("emplid"))

    // D3: (person, org) pair dedup per pub
    val pubPersonOrgs = orgRefsM
      .join(skipsAssoc.select("uuid"), Seq("uuid"), "left_anti")
      .select(col("pub_uuid"), col("person_uuid"), col("pure_org_uuid"))
      .dropDuplicates("pub_uuid", "person_uuid", "pure_org_uuid")

    // D2: author-collaboration dedup within a document (first wins)
    val collabAssocs = assocs.filter(isCollab)
      .join(skipsAssoc.select("uuid"), Seq("uuid"), "left_anti")
      .withColumn("collab_pure_uuid", col("assoc.authorCollaboration.uuid"))
    val collabFirst = Relational.latestPerKey(collabAssocs,
      Seq("uuid", "collab_pure_uuid"), Seq(col("author_ordinal").asc))
    val pubAuthorCollabs = collabFirst.select(
      col("pub_uuid"), col("collab_pure_uuid"),
      col("author_ordinal"),
      lower(localeEn(col("assoc.personRole.term.text"))).as("author_role"))
    val authorCollabs = collabFirst.select(
      col("collab_pure_uuid").as("pure_uuid"),
      localeEn(col("assoc.authorCollaboration.name.text")).as("name"))
      .dropDuplicates("pure_uuid")

    val skips = stale.unionByName(noOwner).unionByName(ownerMissing)
      .unionByName(skipsAssoc)

    PubShred(pubs, pubPersons, pubPersonOrgs, pubAuthorCollabs,
      authorCollabs, skips)
  }

  /** C10: delete cascade — remove from `child` all rows whose `keyCol`
    * is in `deletedKeys` (anti-join; reference
    * extractor_loaders/pure_api_persons.py:53-76).
    */
  def deleteCascade(child: DataFrame, keyCol: String, deletedKeys: DataFrame): DataFrame =
    child.join(deletedKeys.select(col(deletedKeys.columns.head).as(keyCol))
      .distinct(), Seq(keyCol), "left_anti")

  /** C9 (extractor_loaders/pure_api_organisational_units.py:56-66):
    * when an owning org is deleted, its publications are reassigned to
    * the root org — an update-merge over the pub dim.
    */
  def reassignOwnerToRoot(
      pubs: DataFrame,
      deletedOrgUuids: DataFrame,
      rootOrgUuid: String): DataFrame = {
    val deleted = deletedOrgUuids
      .select(col(deletedOrgUuids.columns.head).as("owner_pure_org_uuid"))
      .distinct().withColumn("__del", lit(true))
    pubs.join(broadcast(deleted), Seq("owner_pure_org_uuid"), "left")
      .withColumn("owner_pure_org_uuid",
        when(col("__del"), lit(rootOrgUuid))
          .otherwise(col("owner_pure_org_uuid")))
      .drop("__del")
  }

  /** C11: merged-record cleanup — previousUuids of incoming documents
    * are deleted from `target` by `keyCol` (pure_api_persons.py:78-82).
    */
  def previousUuidCleanup(target: DataFrame, keyCol: String, docs: DataFrame): DataFrame = {
    val prev = docs
      .select(explode(from_json(col("json"), pubSchema)
        .getField("info").getField("previousUuids")).as(keyCol))
    deleteCascade(target, keyCol, prev)
  }
}
