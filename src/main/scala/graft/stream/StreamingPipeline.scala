package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.etl._
import graft.schema.Schemas

/** Streaming form of the job pipeline (SURVEY §2.10).
  *
  * The reference is micro-batch-by-job: each POSTed CSV is one
  * asynchronously processed batch (`etl-service/src/main.py:47-69`), with
  * incrementality living entirely in the sinks (idempotent appends S4/S5,
  * cross-batch merge S7). The idiomatic Spark lowering is a file-source
  * stream over a landing directory with `foreachBatch` running the batch
  * job body ([[Pipeline.runJob]]) per file — `foreachBatch` is the
  * canonical home for upsert sinks, and one body keeps streaming and batch
  * semantics identical by construction.
  *
  * Each file in a micro-batch is processed as its own job (the
  * reference's unit of work), with `job id = file name` — so a file
  * re-dropped into landing re-runs idempotently rather than duplicating.
  * A file violating the ingest contract marks its job failed and does NOT
  * kill the stream (the reference fails one job, not the service).
  *
  * At scale: the landing listing is incremental (file-source log), each
  * micro-batch touches only its own files, and every sink is either an
  * append or a rollup-sized merge — state does not grow with history
  * except in the warehouse tables themselves.
  */
final class StreamingPipeline(spark: SparkSession, wh: Warehouse,
                              landingDir: String, checkpointDir: String,
                              onProgress: (String, Int, String) => Unit = (_, _, _) => ()) {

  private val pipeline = new Pipeline(spark, wh, onProgress)

  /** Start the landing-directory stream. `availableNow` processes what is
    * there and stops (batch-like test mode); otherwise runs continuously.
    *
    * The stream itself is used ONLY for exactly-once file discovery (the
    * file-source log + checkpoint). Each discovered file is then re-read
    * through the batch [[Ingest.readCsv]], so header validation, the
    * null/empty-string discipline ([[Ingest.CsvOptions]]), and every other
    * contract rule are shared with the batch path by construction — a
    * landing file with reordered or missing columns fails ITS job exactly
    * like batch `validateContract`, instead of being silently bound
    * positionally against a forced schema. */
  def start(availableNow: Boolean = false): StreamingQuery = {
    val raw = spark.readStream
      .schema(Schemas.measurementCsv)
      .options(Ingest.CsvOptions)
      .csv(landingDir)
    val writer = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch) }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One micro-batch: enumerate the batch's source files and run each as
    * its own job under `job id = "stream-" + file name`, through the batch
    * job body ([[Pipeline.runJob]]). Only the report sink differs: stream
    * job ids are deterministic per file, so a replayed micro-batch would
    * duplicate the report rows through the plain append — reports land
    * keyed append-if-absent instead. A failing file marks its own job
    * failed; the stream goes on. */
  private[stream] def processBatch(batch: DataFrame): Unit = {
    val files = batch.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    files.sorted.foreach { file =>
      val name = file.substring(file.lastIndexOf('/') + 1)
      pipeline.runJob(s"stream-$name", file, name, "csv", Quality.landReportsIfAbsent)
    }
  }
}

/** Event-time extensions beyond the reference: watermarked tumbling-window
  * rollups — the natural streaming form of the daily-bucket intent the
  * reference left vestigial (`uq_ma_daily`, `etl.py:210-211`). */
object StreamingRollups {

  /** Daily per-(study, participant, type) averages over a measurement
    * stream, tolerating `lateness` of out-of-order data before state for
    * a day is finalized and dropped — bounded state at any scale. */
  def dailyRollup(measurements: DataFrame, lateness: String = "1 day"): DataFrame =
    measurements
      .filter(col("value_num").isNotNull)
      .withWatermark("measured_at", lateness)
      .groupBy(window(col("measured_at"), "1 day").as("day"),
        col("study_id"), col("participant_id"), col("measurement_type"))
      .agg(count(lit(1)).as("cnt"),
        avg("value_num").as("avg_num"),
        min("value_num").as("min_num"),
        max("value_num").as("max_num"))
      .select(col("day.start").as("day"), col("study_id"),
        col("participant_id"), col("measurement_type"),
        col("cnt"), col("avg_num"), col("min_num"), col("max_num"))
}
