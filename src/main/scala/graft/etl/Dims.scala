package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** Dimension upserts (A3 + J1 in SURVEY §2), reference `db.py:69-86`:
  *
  *  - `studies`: `INSERT DISTINCT study_id ... ON CONFLICT DO NOTHING`
  *    -> distinct + left-anti against existing, append;
  *  - `participants`: `INSERT DISTINCT (study, participant, site)
  *    ... ON CONFLICT (study, participant) DO UPDATE SET site_id=EXCLUDED`
  *    -> full-outer merge where the incoming site wins.
  *
  * Both inputs are job-scoped scans of staging. Dimensions are tiny
  * relative to facts, so downstream joins against them broadcast.
  */
object Dims {

  /** `studies` as an idempotent append of the job's distinct `study_id`s
    * (known from the input pass, [[Stage.Scan.studies]], so no distinct
    * shuffle); the caller lands it together with the job's other
    * append-if-absent sinks ([[Warehouse.appendIfAbsentMany]]). */
  def studiesAppend(wh: Warehouse, studies: Seq[String]): wh.Append = {
    import wh.spark.implicits._
    wh.Append("studies", Schemas.studies, studies.toDF("study_id"), Seq("study_id"),
      orderCol = "study_id", dedupWithinBatch = false)
  }

  def upsertParticipants(wh: Warehouse, jobStaging: DataFrame): Unit = {
    // DISTINCT like the reference; if one job carries two sites for the
    // same participant Postgres would abort ("cannot affect row a second
    // time") — we resolve deterministically to max(site_id) instead.
    val newParticipants = jobStaging
      .groupBy("study_id", "participant_id")
      .agg(max("site_id").as("site_id"))
    wh.mergeReplace("participants", Schemas.participants, newParticipants,
      combine = (old, incoming) => {
        val keys = Seq("study_id", "participant_id")
        old.join(incoming, keys, "full_outer")
          .select(
            col("study_id"),
            col("participant_id"),
            // EXCLUDED.site_id wins when the key arrives again
            coalesce(incoming("site_id"), old("site_id")).as("site_id"))
      })
  }
}
