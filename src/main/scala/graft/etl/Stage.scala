package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.ClinicalCols
import graft.schema.Schemas

/** Staging (G4 + S4 in SURVEY §2): assign file-order row numbers + row
  * UUIDs, normalize nulls, land in the staging table.
  *
  * Reference (`etl-service/src/etl.py:72-98`): `row_num = 1..n` in file
  * order, fresh `uuid4` per row, `unit` "" -> null, `quality_score`
  * ""/"null" -> null else float (junk raises -> job fails).
  *
  * File order at scale: `monotonically_increasing_id()` increases with
  * byte offset within each input split; across splits of one large CSV
  * Spark guarantees only a stable partition-index order, so `row_num` is
  * deterministic but follows split order, not byte order, for files
  * larger than `spark.sql.files.maxPartitionBytes`. The reference's unit
  * of work is one (small) file per job (`main.py:47-69`), where the two
  * coincide.
  */
object Stage {

  /** Add `raw_id` + `row_num` (file order) to a validated ingest frame. */
  def assignRowIds(df: DataFrame): DataFrame = scan(df, Nil).withIds

  /** What the input pass learns about a job's rows besides their
    * numbering. `firstInvalidScore` is the first junk `quality_score` in
    * file order; `ruleCounts` follow the `rules` given to [[scan]];
    * `studies` are the distinct `study_id`s of the job and
    * `valueNumStudies` those with at least one row that yields a
    * `value_num` observation — exactly the `study_id` partitions of the
    * job's processed rows and of its aggregates. */
  final case class Scan(withIds: DataFrame, blankStudyRows: Long,
                        firstInvalidScore: Option[String], ruleCounts: Seq[Long],
                        studies: Seq[String], valueNumStudies: Seq[String]) {
    /** Raise the row-level contract violations in the reference's order:
      * blank `study_id` (checked at read, `etl.py:68-70`), then junk
      * `quality_score` (raised while staging, `etl.py:93`). */
    def requireValid(): Unit = {
      if (blankStudyRows > 0) throw Ingest.ContractViolation(Ingest.BlankStudyMessage)
      firstInvalidScore.foreach(s => throw Ingest.ContractViolation(Ingest.junkScoreMessage(s)))
    }
  }

  /** The one Spark pass over a job's input: numbers the rows and, in the
    * same per-(file, partition) aggregate, counts blank `study_id`s, finds
    * the first junk `quality_score`, counts each of `rules` and collects
    * the job's `study_id`s — the work that would otherwise be a probe
    * action each.
    *
    * Sort-free two-phase numbering: `monotonically_increasing_id()` is
    * consecutive within each partition, so the local index is
    * `mono - min(mono)` per (file, partition); a driver-side cumulative
    * sum over the per-partition counts (one tiny row per partition)
    * yields each partition's starting offset, applied by a literal-map
    * lookup. Unlike a `row_number().over(partitionBy(file))` window this
    * never funnels a whole file through one task — measured 2x end-to-end
    * pipeline throughput at 1M rows — while producing the same
    * deterministic numbering (partition-index order, which is what the
    * window's mono-id ordering gave too). The mono id also orders the junk scores:
    * the smallest is the first in file order. */
  def scan(df: DataFrame, rules: Seq[Quality.Rule]): Scan = {
    val withPid = df
      .withColumn("__file", input_file_name())
      .withColumn("__mono", monotonically_increasing_id())
      // partition id lives in the high bits of the mono id (shift 33)
      .withColumn("__pid", shiftrightunsigned(col("__mono"), 33))
    val badScore = ClinicalCols.qualityScoreInvalid(col("quality_score"))
    val badMono = when(badScore, col("__mono"))
    val stats = withPid.groupBy("__file", "__pid")
      .agg(count(lit(1)).as("__n"), (Seq(
        min("__mono").as("__min_mono"),
        sum(when(Ingest.blankStudy, 1L).otherwise(0L)).as("__blank"),
        min(badMono).as("__bad_mono"),
        min_by(col("quality_score"), badMono).as("__bad_score"),
        collect_set(col("study_id")).as("__studies"),
        collect_set(when(Transform.yieldsValueNum(col("measurement_type"), col("value")),
          col("study_id"))).as("__num_studies")) ++
        Quality.countColumns(rules)): _*)
      .collect()
    // cumulative offsets, restarting at 0 for each file (row_num is 1..n
    // per file, reference etl.py:78): row_num = mono + delta per (file,
    // partition), looked up in a literal map — no broadcast join, so no
    // broadcast job either
    val deltas = stats.groupBy(_.getString(0)).map { case (file, rows) =>
      var offset = 0L
      file -> rows.sortBy(_.getLong(1)).map { r =>
        val d = r.getLong(1) -> (offset - r.getAs[Long]("__min_mono") + 1)
        offset += r.getAs[Long]("__n")
        d
      }.toMap
    }
    val withIds = withPid
      .withColumn("row_num", (col("__mono") +
        element_at(element_at(typedLit(deltas), col("__file")), col("__pid"))).cast("int"))
      .withColumn("raw_id", expr("uuid()"))
      .drop("__file", "__mono", "__pid")
    def studySet(c: String) =
      stats.flatMap(r => r.getSeq[String](r.fieldIndex(c))).distinct.sorted.toSeq
    Scan(withIds,
      blankStudyRows = stats.map(_.getAs[Long]("__blank")).sum,
      firstInvalidScore = stats.filter(r => !r.isNullAt(r.fieldIndex("__bad_mono")))
        .minByOption(_.getAs[Long]("__bad_mono")).map(_.getAs[String]("__bad_score")),
      ruleCounts = rules.map(r => stats.map(_.getAs[Long](r.name)).sum),
      studies = studySet("__studies"),
      valueNumStudies = studySet("__num_studies"))
  }

  /** Project to the staging schema (typed, null-normalized). The junk
    * `quality_score` check that fails the job is [[Scan.requireValid]]. */
  def toStagingRows(df: DataFrame, jobId: String, filename: String): DataFrame = {
    df.select(
      col("raw_id").as("id"),
      lit(jobId).as("job_id"),
      lit(filename).as("source_filename"),
      col("row_num").cast("int").as("row_num"),
      col("study_id"),
      col("participant_id"),
      col("measurement_type"),
      col("value"),
      ClinicalCols.normUnit(col("unit")).as("unit"),
      to_timestamp(col("timestamp")).as("timestamp"),
      col("site_id"),
      ClinicalCols.normQualityScore(col("quality_score")).as("quality_score"))
  }

  /** S4: idempotent append on (job_id, source_filename, row_num) —
    * row_num is unique within the batch by construction, so only the
    * cross-batch anti-join is needed (no within-batch dedup window). */
  def stagingAppend(wh: Warehouse, stagingRows: DataFrame): wh.Append =
    wh.Append("staging_clinical_measurements", Schemas.staging,
      stagingRows, Schemas.stagingKey, orderCol = "row_num",
      dedupWithinBatch = false)
}
