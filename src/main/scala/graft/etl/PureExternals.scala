package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.functions.Fns
import graft.operators.Relational

/** External-person and external-org CDC pipelines (reference
  * `transformer_loaders/pure_api_external_person.py` /
  * `pure_api_external_org.py`) — the two remaining document families.
  * External persons are keyed by the document uuid (not emplid), carry
  * no internal ids/jobs, and reconcile flat externalOrganisations +
  * scopus-id sets; external orgs are a name/type update with
  * pure_internal='N'.
  */
object PureExternals {

  val externalPersonSchema: StructType = DataType.fromDDL(
    """
    uuid STRING,
    name STRUCT<firstName: STRING, lastName: STRING>,
    ids ARRAY<STRUCT<type: STRUCT<uri: STRING>,
                     value: STRUCT<value: STRING>>>,
    externalOrganisations ARRAY<STRUCT<uuid: STRING>>
    """).asInstanceOf[StructType]

  val externalOrgSchema: StructType = DataType.fromDDL(
    """
    uuid STRING,
    name STRUCT<text: ARRAY<STRUCT<locale: STRING, value: STRING>>>,
    type STRUCT<term: STRUCT<text: ARRAY<STRUCT<locale: STRING,
                                               value: STRING>>>>
    """).asInstanceOf[StructType]

  case class ExternalPersonShred(
      persons: DataFrame,
      personOrgAdds: DataFrame,
      personOrgDeletes: DataFrame,
      scopusAdds: DataFrame,
      scopusDeletes: DataFrame,
      skips: DataFrame)

  /** Shred latest external-person documents
    * (pure_api_external_person.py:96-190). `existingPersons` is keyed
    * by pure_uuid; a person whose api-only orgs are missing from the
    * org dim is skipped whole.
    */
  def shredExternalPersons(
      raw: DataFrame,
      existingPersons: DataFrame, // (uuid, pure_uuid, pure_modified)
      personOrgs: DataFrame, // (person_uuid, pure_org_uuid)
      scopusIds: DataFrame, // (person_uuid, scopus_id)
      orgs: DataFrame,
      mat: DataFrame => DataFrame = identity): ExternalPersonShred = {

    val parsed = raw
      .withColumn("doc", from_json(col("json"), externalPersonSchema))
      .select(col("uuid"), col("modified"), col("doc"))
      .withColumn("scopus_ids", array_distinct(transform(
        filter(col("doc.ids"), i => i.getField("type").getField("uri") ===
          "/dk/atira/pure/person/personsources/scopusauthor"),
        i => i.getField("value").getField("value"))))

    // mat boundaries (round 19): withDb feeds the stale skip AND the
    // fresh path; skipKeys anti-joins 3 consumers — each cut stops the
    // JSON parse/dim join above re-executing per consumer
    val withDb = mat(parsed.join(
      existingPersons.select(col("pure_uuid").as("uuid"),
        col("uuid").as("__db_uuid"), col("pure_modified").as("__db_modified")),
      Seq("uuid"), "left"))
    val skipStale = withDb.filter(
        Fns.isNotFresh(col("__db_modified"), col("modified")))
      .select(col("uuid"), Fns.staleReason(col("__db_modified"), col("modified")).as("skip_reason"))
    val fresh = withDb.filter(
        Fns.isFresh(col("__db_modified"), col("modified")))
      .withColumn("person_uuid", coalesce(col("__db_uuid"),
        PureDocs.derivedUuid(lit("ext-person"), col("uuid"))))

    val apiOrgs = fresh.select(col("uuid"), col("person_uuid"),
        explode_outer(col("doc.externalOrganisations").getField("uuid"))
          .as("pure_org_uuid"))
      .filter(col("pure_org_uuid").isNotNull).distinct()
    val dbOrgs = fresh.select(col("uuid"), col("person_uuid"))
      .join(personOrgs, Seq("person_uuid"))
      .select(col("uuid"), col("person_uuid"), col("pure_org_uuid"))
    val apiOnly = apiOrgs.join(dbOrgs,
      Seq("uuid", "person_uuid", "pure_org_uuid"), "left_anti")
    val dbOnly = dbOrgs.join(apiOrgs,
      Seq("uuid", "person_uuid", "pure_org_uuid"), "left_anti")

    val skipMissingOrg = apiOnly.join(
        broadcast(orgs.select(col("pure_uuid").as("pure_org_uuid"),
          lit(true).as("__ok"))), Seq("pure_org_uuid"), "left")
      .filter(col("__ok").isNull)
      .select(col("uuid"), lit("org_not_in_edw").as("skip_reason")).distinct()

    val skips = skipStale.unionByName(skipMissingOrg)
    val skipKeys = mat(skips.select("uuid").distinct())
    val valid = fresh.join(skipKeys, Seq("uuid"), "left_anti")

    val persons = valid.select(
      col("person_uuid").as("uuid"),
      col("uuid").as("pure_uuid"),
      lit("N").as("pure_internal"),
      lit(null).cast("string").as("emplid"),
      lit(null).cast("string").as("internet_id"),
      col("doc.name.firstName").as("first_name"),
      col("doc.name.lastName").as("last_name"),
      lit(null).cast("string").as("orcid"),
      lit(null).cast("int").as("hindex"),
      col("modified").as("pure_modified"))

    val personOrgAdds = apiOnly.join(skipKeys, Seq("uuid"), "left_anti")
      .select("person_uuid", "pure_org_uuid")
    val personOrgDeletes = dbOnly.join(skipKeys, Seq("uuid"), "left_anti")
      .select("person_uuid", "pure_org_uuid")

    val apiScopus = valid.select(col("person_uuid"),
        explode_outer(col("scopus_ids")).as("scopus_id"))
      .filter(col("scopus_id").isNotNull).distinct()
    val dbScopus = valid.select(col("person_uuid"))
      .join(scopusIds, Seq("person_uuid"))
    val scopusAdds = apiScopus.join(dbScopus,
      Seq("person_uuid", "scopus_id"), "left_anti")
    val scopusDeletes = dbScopus.join(apiScopus,
      Seq("person_uuid", "scopus_id"), "left_anti")

    ExternalPersonShred(persons, personOrgAdds, personOrgDeletes,
      scopusAdds, scopusDeletes, skips)
  }

  /** Shred latest external-org documents
    * (pure_api_external_org.py:94-131): fresh docs become
    * (pure_uuid, pure_internal='N', name_en, type, pure_modified) rows.
    */
  def shredExternalOrgs(
      raw: DataFrame,
      existingOrgs: DataFrame,
      mat: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val parsed = raw
      .withColumn("doc", from_json(col("json"), externalOrgSchema))
      .select(col("uuid"), col("modified"), col("doc"))
    // mat boundary (round 19): stale + fresh both read withDb
    val withDb = mat(parsed.join(
      existingOrgs.select(col("pure_uuid").as("uuid"),
        col("pure_modified").as("__db_modified")),
      Seq("uuid"), "left"))
    val stale = withDb.filter(
        Fns.isNotFresh(col("__db_modified"), col("modified")))
      .select(col("uuid"), Fns.staleReason(col("__db_modified"), col("modified")).as("skip_reason"))
    val orgs = withDb.filter(
        Fns.isFresh(col("__db_modified"), col("modified")))
      .select(
        col("uuid").as("pure_uuid"),
        lit("N").as("pure_internal"),
        Fns.localeValueStrict(col("doc.name.text")).as("name_en"),
        lower(Fns.localeValueStrict(col("doc.type.term.text"))).as("type"),
        col("modified").as("pure_modified"))
    (orgs, stale)
  }

  /** The reference processes only the LATEST document per uuid; expose
    * the shared reduction for callers wiring raw buffers directly.
    */
  def latest(raw: DataFrame): DataFrame =
    Relational.latestPerKey(raw, Seq("uuid"), Seq(col("modified").desc))
}
