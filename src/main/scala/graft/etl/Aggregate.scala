package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** Rollups (A1 + S7/J2/A8 in SURVEY §2).
  *
  * Build (reference `etl-service/src/etl.py:200-227`): numeric processed
  * rows grouped by (study, participant, site, type) -> cnt/avg/min/max.
  * NOTE the reference computes a `day` column and then does NOT group by it
  * (`etl.py:210-211`) — faithfully omitted here.
  *
  * Merge (reference `db.py:110-127`): per key,
  *   cnt, avg  <- latest job (last-writer-wins),
  *   min_num   <- LEAST(old, new),  max_num <- GREATEST(old, new)
  * i.e. min/max are true cross-job merges while cnt/avg are replaced.
  * Map-side partial aggregation handles the heavy lifting; the merge joins
  * only rollup-sized data (|keys| << |facts|).
  */
object Aggregate {

  def buildForJob(processed: DataFrame, jobId: String): DataFrame =
    processed
      .filter(col("value_num").isNotNull)
      .groupBy("study_id", "participant_id", "site_id", "measurement_type")
      .agg(
        count(lit(1)).as("cnt"),
        avg(col("value_num")).cast(Schemas.ValueDecimal).as("avg_num"),
        min(col("value_num")).as("min_num"),
        max(col("value_num")).as("max_num"))
      .withColumn("job_id", lit(jobId))

  /** Partition-scoped by study: a batch's merge reads and rewrites only
    * the `study_id=` partitions it touches (see
    * [[Warehouse.mergeReplacePartitions]]). `studies` must be exactly the
    * distinct `study_id`s of `incoming` — for a job's own rollups,
    * [[Stage.Scan.valueNumStudies]] — so the merge rewrites the same
    * partitions as if it had collected them itself. */
  def mergeIntoWarehouse(wh: Warehouse, incoming: DataFrame,
                         studies: Seq[String]): Unit =
    wh.mergeReplacePartitions("measurement_aggregations", Schemas.aggregations,
      incoming, partitionCols = Seq("study_id"),
      partitionValues = Map("study_id" -> studies),
      combine = (old, nw) => {
        val keys = Schemas.aggregationKey
        old.join(nw, keys, "full_outer").select(
          keys.map(col) ++ Seq(
            coalesce(nw("cnt"), old("cnt")).as("cnt"),
            coalesce(nw("avg_num"), old("avg_num")).as("avg_num"),
            // LEAST/GREATEST are null-skipping in Postgres; least/greatest
            // in Spark return null if ANY input is null -> coalesce guards
            when(old("min_num").isNull, nw("min_num"))
              .when(nw("min_num").isNull, old("min_num"))
              .otherwise(least(old("min_num"), nw("min_num"))).as("min_num"),
            when(old("max_num").isNull, nw("max_num"))
              .when(nw("max_num").isNull, old("max_num"))
              .otherwise(greatest(old("max_num"), nw("max_num"))).as("max_num"),
            coalesce(nw("job_id"), old("job_id")).as("job_id")): _*)
      })
}
