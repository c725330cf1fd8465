package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Schemas
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit

/** End-to-end job orchestration (SURVEY §3.A), reference
  * `etl-service/src/etl.py:232-266` + job control `db.py:31-67`.
  *
  * The six reference stages are lazy DataFrames over one numbered,
  * cached input. A job runs these Spark actions; AQE runs each exchange,
  * broadcast and cache build inside an action as a Spark job of its own,
  * so the jobs of a warmed 12-row job on `local[4]` are (pinned by
  * `PipelineSpec`):
  *
  *  - "running" status: the `etl_jobs` prior-row collect and rewrite (2);
  *  - reading (from milestone 10): the CSV header (1);
  *  - staging (30): the input pass ([[Stage.scan]]: row numbering,
  *    contract checks, quality rule counts and the job's studies in one
  *    aggregate, 2); one staging count for staging, `studies` and
  *    processed (8); one append per sink with fresh rows (0-3);
  *  - dimensions (45): the participants merge rewrite (3);
  *  - quality (75): the report append, when a rule fires (0-1);
  *  - aggregations (90): the partition-scoped merge rewrite (3);
  *  - "completed" status: the rewrite, carrying the running row (1).
  *
  * Milestone 65 marks no work of its own: processed lands with staging.
  * Stage progress (the reference's 10/30/45/65/75/90/100 milestones,
  * `etl.py:237-263`) surfaces through the `onProgress` callback; job state
  * lives in a tiny `etl_jobs` control table instead of the reference's
  * process-local dict (`state.py:3-5`) so it survives restarts — the
  * *intended* semantics of the reference's memory-then-DB fallback
  * (`main.py:71-89`, whose DB path is broken by a missing `return`,
  * `db.py:29`; we implement the intent, not the bug).
  */
final class Pipeline(spark: SparkSession, wh: Warehouse,
                     onProgress: (String, Int, String) => Unit = (_, _, _) => (),
                     dataRoot: Option[String] = None) {

  import Pipeline.{JobResult, JobRow}

  /** Reference `main.py:30-34` (`valid_path`): job inputs are named
    * relative to a configured data dir, resolved, and must be an
    * existing regular file — rejected with "Not a file." otherwise. We
    * implement the intent and additionally refuse resolved paths that
    * escape the root: containment compares REAL paths (symlinks
    * followed), so neither `../` nor a symlink planted inside the root
    * can reach outside it — both escapes the reference's `resolve()` +
    * `is_file` would follow. With no root configured (library use) the
    * path passes straight through to the reader: directories, globs and
    * non-local URIs stay valid Spark inputs there. */
  private def resolveInput(csvPath: String): Either[String, Path] = dataRoot match {
    case None => Right(Paths.get(csvPath))
    case Some(root) =>
      try {
        val rootReal = Paths.get(root).toRealPath()
        val p = rootReal.resolve(csvPath).toRealPath()
        if (p.startsWith(rootReal) && Files.isRegularFile(p)) Right(p)
        else Left("Not a file.")
      } catch { case _: java.io.IOException => Left("Not a file.") }
  }

  def processJob(jobId: String, csvPath: String, format: String = "csv"): JobResult = {
    val filename = Paths.get(csvPath).getFileName.toString
    resolveInput(csvPath) match {
      case Left(err) =>
        markStatus(jobId, "failed", Some(err), Some(filename))
        onProgress(jobId, 100, s"failed: $err")
        JobResult(jobId, "failed", 0, 0, Some(err))
      case Right(p) => runJob(jobId, p.toString, filename, format, Quality.landReports)
    }
  }

  /** The job body shared by [[processJob]] and the streaming pipeline's
    * per-file jobs; they differ only in how quality reports land. */
  private[graft] def runJob(jobId: String, path: String, filename: String,
                            format: String,
                            landReports: (Warehouse, DataFrame) => Unit): JobResult = {
    var row: Option[JobRow] = None
    var withIds: Option[DataFrame] = None
    try {
      row = Some(writeStatus(jobId, "running", Some("reading csv"),
        priorRow(jobId, Some(filename))))
      onProgress(jobId, 10, "reading csv")
      val raw = Ingest.read(spark, path, format)

      onProgress(jobId, 30, "staging rows")
      // the one input pass: row numbering, contract checks, rule counts
      // and the job's studies
      val scan = Stage.scan(raw, Quality.ReferenceRules)
      scan.requireValid()
      // shared by staging, transform and the aggregates; small enough per
      // job-file to cache (the reference holds it fully in pandas RAM)
      withIds = Some(scan.withIds.cache())
      val stagingRows = Stage.toStagingRows(withIds.get, jobId, filename)
      // the reference re-selects staging WHERE job_id = :j (db.py:71-84);
      // the in-flight stagingRows ARE that set — no need to re-read disk
      val processed = Transform.processedRows(stagingRows)
      // staging, studies and processed never read each other: their
      // idempotent appends stage and count in one action
      val Seq(staged, _, landed) = wh.appendIfAbsentMany(Seq(
        Stage.stagingAppend(wh, stagingRows),
        Dims.studiesAppend(wh, scan.studies),
        Transform.processedAppend(wh, processed, scan.studies)))

      onProgress(jobId, 45, "upserting dimensions")
      Dims.upsertParticipants(wh, stagingRows)

      // processed landed with staging above; the milestone keeps the
      // reference's progress sequence
      onProgress(jobId, 65, "building processed")

      onProgress(jobId, 75, "quality checks")
      landReports(wh,
        Quality.reports(spark, Quality.ReferenceRules, scan.ruleCounts, jobId))

      onProgress(jobId, 90, "aggregations")
      // reference aggregates the job's OWN processed rows (pre-dedup),
      // etl.py:260: build_aggs_from_processed(job_id, processed)
      Aggregate.mergeIntoWarehouse(wh, Aggregate.buildForJob(processed, jobId),
        scan.valueNumStudies)

      writeStatus(jobId, "completed", None, row.get)
      onProgress(jobId, 100, "completed")
      JobResult(jobId, "completed", staged, landed, None)
    } catch {
      case e: Exception =>
        writeStatus(jobId, "failed", Option(e.getMessage),
          row.getOrElse(priorRow(jobId, Some(filename))))
        onProgress(jobId, 100, s"failed: ${e.getMessage}")
        JobResult(jobId, "failed", 0, 0, Option(e.getMessage))
    } finally withIds.foreach(_.unpersist())
  }

  /** S8/S9: upsert into the `etl_jobs` control table. The table is tiny
    * (one row per job) — a driver-side merge + overwrite is appropriate. */
  def markStatus(jobId: String, status: String, message: Option[String],
                 filename: Option[String] = None): Unit =
    writeStatus(jobId, status, message, priorRow(jobId, filename))

  /** The job's `etl_jobs` row as the next transition needs it: the stored
    * row (one collect), with `filename` taking over when given. */
  private def priorRow(jobId: String, filename: Option[String]): JobRow = {
    val old = wh.read("etl_jobs", Schemas.etlJobs).filter(col("id") === jobId)
      .select("created_at", "completed_at", "filename", "study_id").collect().headOption
    def at[T](i: Int): Option[T] = old.flatMap(r => Option(r.getAs[T](i)))
    JobRow(at[Timestamp](0), at[Timestamp](1), filename.orElse(at[String](2)),
      at[String](3))
  }

  /** Write one status transition and return the row it wrote, which the
    * job's next transition carries instead of re-reading the table. */
  private def writeStatus(jobId: String, status: String, message: Option[String],
                          prior: JobRow): JobRow = {
    import spark.implicits._
    // one clock reading per transition, at current_timestamp() precision,
    // so the carried created_at is exactly what was written
    val now = Timestamp.from(Instant.now().truncatedTo(ChronoUnit.MICROS))
    val terminal = status == "completed" || status == "failed"
    val written = JobRow(prior.createdAt.orElse(Some(now)),
      if (terminal) Some(now) else prior.completedAt, prior.filename, prior.studyId)
    val row = Seq((jobId, written.filename.orNull, written.studyId.orNull, status,
        message.orNull, written.createdAt.get, now, written.completedAt.orNull))
      .toDF("id", "filename", "study_id", "status", "error_message",
        "created_at", "updated_at", "completed_at")
      .select(Schemas.etlJobs.fieldNames.toSeq.map(col): _*)
    val existing = wh.read("etl_jobs", Schemas.etlJobs).filter(col("id") =!= jobId)
    wh.replace("etl_jobs", existing.unionByName(row))
    written
  }

  /** S10 point lookup. Malformed job ids short-circuit to None before any
    * table read — the reference's status edge validates UUID shape first
    * (`etl.service.ts:79-81`: `if (!isUuid(jobId)) return null`). */
  def jobStatus(jobId: String): Option[DataFrame] = {
    if (!Pipeline.isUuid(jobId)) return None
    val df = wh.read("etl_jobs", Schemas.etlJobs).filter(col("id") === jobId)
    if (df.isEmpty) None else Some(df)
  }
}

object Pipeline {
  final case class JobResult(jobId: String, status: String,
                             stagedRows: Long, processedRows: Long,
                             message: Option[String])

  /** The `etl_jobs` columns one status transition carries to the next. */
  private final case class JobRow(createdAt: Option[Timestamp],
                                  completedAt: Option[Timestamp],
                                  filename: Option[String], studyId: Option[String])

  // RFC-4122 textual shape, any version — same acceptance as the
  // reference's `isUuid` check at its status endpoint
  private val UuidRe =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$".r

  def isUuid(s: String): Boolean = s != null && UuidRe.matches(s)
}
