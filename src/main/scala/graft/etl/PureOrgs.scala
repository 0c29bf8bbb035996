package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.functions.Fns
import graft.operators.Relational

/** Internal-organisation CDC pipeline (reference
  * `transformer_loaders/pure_api_internal_org.py`): org document
  * shredding, dept→org dimension maintenance, parent resolution as a
  * self-join (replacing the reference's per-row HTTP fetch, J11), and
  * MPTT nested-set recomputation from parent pointers (the reference
  * mutates labels incrementally via DFS; we rebuild declaratively —
  * SURVEY.md §7.4.3).
  */
object PureOrgs {

  val orgSchema: StructType = DataType.fromDDL(
    """
    uuid STRING,
    externalId STRING,
    name STRUCT<text: ARRAY<STRUCT<locale: STRING, value: STRING>>>,
    type STRUCT<term: STRUCT<text: ARRAY<STRUCT<locale: STRING,
                                               value: STRING>>>>,
    parents ARRAY<STRUCT<uuid: STRING>>,
    ids ARRAY<STRUCT<type: STRUCT<uri: STRING>,
                     value: STRUCT<value: STRING>>>
    """).asInstanceOf[StructType]

  private def localeEn(textArr: Column): Column =
    Fns.localeValueStrict(textArr)

  /** pure_id: externalId, else the id row with the organisationid
    * source uri (get_pure_id, pure_api_internal_org.py:105-113).
    */
  private def pureId(doc: Column): Column = coalesce(
    doc.getField("externalId"),
    try_element_at(filter(doc.getField("ids"),
      i => i.getField("type").getField("uri") ===
        "/dk/atira/pure/organisation/organisationsources/organisationid"),
      lit(1)).getField("value").getField("value"))

  /** Shred latest org documents → (orgs, deptOrgs, skips).
    * Parent pure_id resolution (reference: per-row HTTP GET of the
    * parent, :238-247) becomes one self-join of the shredded batch
    * unioned with the existing dim.
    */
  def shredOrgs(
      raw: DataFrame,
      existingOrgs: DataFrame,
      mat: DataFrame => DataFrame = identity): (DataFrame, DataFrame, DataFrame) = {
    val parsed = raw
      .withColumn("doc", from_json(col("json"), orgSchema))
      .select(col("uuid"), col("modified"), col("doc"))

    // mat boundary (round 19): the fresh path and the stale-skip
    // branch both read withDb — without the cut the parse+dim join
    // re-executes once per consumer
    val withDb = mat(parsed.join(
      existingOrgs.select(col("pure_uuid").as("uuid"),
        col("pure_modified").as("__db_modified")),
      Seq("uuid"), "left"))
    val fresh = withDb.filter(
      Fns.isFresh(col("__db_modified"), col("modified")))
    // stale docs are skipped, not silently dropped — same side-channel
    // contract as the person/pub shredders (SURVEY.md §7.4.7); the skip
    // filter is the exact complement of fresh so null-modified docs
    // against an existing DB row surface here instead of vanishing
    val skips = withDb
      .filter(Fns.isNotFresh(col("__db_modified"), col("modified")))
      .select(col("uuid"), Fns.staleReason(col("__db_modified"), col("modified")).as("skip_reason"))

    val doc = col("doc")
    val base = fresh.select(
      col("uuid").as("pure_uuid"),
      lit("Y").as("pure_internal"),
      localeEn(doc.getField("name").getField("text")).as("name_en"),
      pureId(doc).as("pure_id"),
      try_element_at(doc.getField("parents"), lit(1)).getField("uuid")
        .as("parent_pure_uuid"),
      lower(localeEn(doc.getField("type").getField("term").getField("text")))
        .as("type"),
      col("modified").as("pure_modified"),
      doc.getField("ids").as("__ids"),
      col("modified").as("__modified"))

    // J11: parent pure_id via self-join — the incoming batch's value
    // takes precedence; the existing dim only fills parents absent from
    // the batch (max() over the union would let a stale dim id win)
    val batchIds = base.select(col("pure_uuid").as("__pk"),
      col("pure_id").as("__pid"))
    val idLookup = batchIds.unionByName(
      existingOrgs.select(col("pure_uuid").as("__pk"),
          col("pure_id").as("__pid"))
        .join(batchIds.select("__pk"), Seq("__pk"), "left_anti"))
    val orgs = base
      .join(broadcast(idLookup), base("parent_pure_uuid") === idLookup("__pk"),
        "left")
      .withColumn("parent_pure_id", col("__pid"))
      .drop("__pk", "__pid", "__ids", "__modified")

    // dept→org dimension rows (load_db_dept_orgs, :71-91): ids tagged
    // with the peoplesoft_deptid source become (deptid → org) upserts.
    // Two org docs can claim the same deptid — pick the latest-modified
    // one (tie-break pure_uuid) so the dept→org dim is deterministic
    // across runs, instead of dropDuplicates' arbitrary winner.
    val deptOrgs = Relational.latestPerKey(
      base.select(col("pure_uuid"), col("pure_id"), col("__modified"),
          explode(col("__ids")).as("id"))
        .filter(Fns.uriLast(col("id.type.uri")) === "peoplesoft_deptid")
        .select(col("id.value.value").as("deptid"),
          col("pure_id").as("pure_org_id"),
          col("pure_uuid").as("pure_org_uuid"),
          col("__modified")),
      Seq("deptid"),
      Seq(col("__modified").desc, col("pure_org_uuid").asc))
      .drop("__modified")

    (orgs, deptOrgs, skips)
  }

  /** Rebuild the MPTT internal-org table from parent pointers
    * (update_db_mptt_orgs, :136-199): nodes reachable from the root
    * through internal non-deptid children (db_org_children filter,
    * :128-134), nested-set labels recomputed, surrogate ids preserved
    * for existing rows and allocated past max(id) for new ones (A10),
    * orphans dropped (J7 — rows whose pure_uuid no longer exists).
    *
    * `existing`: (id, pure_uuid) current pure_internal_org rows;
    * `rootUuid`: the tree root (reference: the row with left == 1).
    */
  def rebuildInternalOrgs(
      orgs: DataFrame,
      existing: DataFrame,
      rootUuid: String): DataFrame = {

    val eligible = orgs.filter(col("pure_internal") === "Y" &&
      (col("type").isNull || col("type") =!= "peoplesoft deptid") ||
      col("pure_uuid") === rootUuid)
    val nodes = eligible.select(col("pure_uuid").as("id"),
      when(col("pure_uuid") === rootUuid, lit(null).cast("string"))
        .otherwise(col("parent_pure_uuid")).as("parent_id"),
      col("pure_id"), col("name_en"))
    val labeled = Relational.mpttLabels(
        nodes.select("id", "parent_id"), "id", "parent_id")
      .filter(col("root_id") === rootUuid)

    // preserve existing surrogate ids; new nodes take max(id)+rank
    val withExisting = labeled
      .join(existing.select(col("pure_uuid").as("id"),
        col("id").as("__existing_id")), Seq("id"), "left")
    val maxId = withExisting.agg(
      coalesce(max(col("__existing_id")), lit(0L)).as("m"))
    // new nodes rank within the is-new partition; existing keep their id
    val wNew = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__existing_id").isNull).orderBy(col("preorder"))
    val result = withExisting.crossJoin(broadcast(maxId))
      .withColumn("mptt_id",
        coalesce(col("__existing_id"), col("m") + row_number().over(wNew)))
      .drop("__existing_id", "m")
    result
      .join(nodes.select(col("id"), col("pure_id"), col("name_en")), Seq("id"))
      .select(col("mptt_id").as("id"), col("id").as("pure_uuid"),
        col("pure_id"), col("name_en"), col("depth"),
        col("lft"), col("rgt"))
  }
}
