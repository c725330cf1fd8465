package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.ClinicalCols.toDecimal
import graft.schema.Schemas

/** The signature transform (G1-G3 in SURVEY §2): staged rows -> processed
  * observations, reference `etl-service/src/etl.py:103-150`.
  *
  * Per staged row:
  *  - `blood_pressure` with a valid "S/D" value -> TWO rows
  *    (`blood_pressure_systolic` / `blood_pressure_diastolic`), integral
  *    `value_num`, unit forced to "mmHg";
  *  - otherwise decimal-parseable value -> one `value_num` row;
  *  - otherwise -> one `value_text` row (value verbatim, original type).
  *
  * Implemented as a single `explode` over a per-row generated array — the
  * whole routing stays in one whole-stage-codegen pass with no shuffle.
  * An invalid BP ("120-80", "300/80") falls through to the text row with
  * `measurement_type` still `blood_pressure` (both-or-neither,
  * `etl.py:120-135` then `:143-149`).
  */
object Transform {

  private def validBp(mtype: Column, systolic: Column): Column =
    mtype === "blood_pressure" && systolic.isNotNull

  /** Whether a row routes to `value_num` observations in [[processedRows]]
    * (a valid BP split or a decimal value) rather than to one `value_text`
    * row: the test that decides which studies a job's aggregates touch. */
  def yieldsValueNum(mtype: Column, value: Column): Column =
    validBp(mtype, graft.expr.ParseBloodPressure(value).getField("systolic")) ||
      toDecimal(value).isNotNull

  def processedRows(staged: DataFrame): DataFrame = {
    // Parse ONCE in a projection ahead of the Generate: the generator
    // expression gets no subexpression elimination, so inlining the parse
    // tree into explode() re-evaluates split/regex/casts per output row
    // (measured 15x slower at sf0.1).
    val parsed = staged
      .withColumn("__bp", graft.expr.ParseBloodPressure(col("value")))
      .withColumn("__sys", col("__bp.systolic"))
      .withColumn("__dia", col("__bp.diastolic"))
      .withColumn("__num", toDecimal(col("value")))

    val obs = struct(
      col("measurement_type").as("m_type"),
      lit(null).cast(Schemas.ValueDecimal).as("value_num"),
      lit(null).cast("string").as("value_text"),
      col("unit").as("o_unit"))

    val rows = when(validBp(col("measurement_type"), col("__sys")),
        array(
          struct(lit("blood_pressure_systolic").as("m_type"),
            col("__sys").cast(Schemas.ValueDecimal).as("value_num"),
            lit(null).cast("string").as("value_text"),
            lit("mmHg").as("o_unit")),
          struct(lit("blood_pressure_diastolic").as("m_type"),
            col("__dia").cast(Schemas.ValueDecimal).as("value_num"),
            lit(null).cast("string").as("value_text"),
            lit("mmHg").as("o_unit"))))
      .when(col("__num").isNotNull,
        array(obs.withField("value_num", col("__num"))))
      .otherwise(
        array(obs.withField("value_text", col("value"))))

    parsed
      .withColumn("__obs", explode(rows))
      .select(
        expr("uuid()").as("id"),
        col("study_id"),
        col("participant_id"),
        col("site_id"),
        col("__obs.m_type").as("measurement_type"),
        col("timestamp").as("measured_at"),
        col("__obs.value_num").as("value_num"),
        col("__obs.value_text").as("value_text"),
        col("__obs.o_unit").as("unit"),
        col("quality_score"),
        col("id").as("raw_row_id"),
        col("job_id"),
        col("row_num"))
  }

  /** S5: land processed rows with cross-job observation dedup on
    * `uq_pm_obs` (study, participant, type, measured_at, site); first
    * occurrence in file order wins within a batch. `studies` must be
    * exactly the batch's distinct `study_id`s ([[Stage.Scan.studies]]):
    * the anti-join then reads only those partitions without a job of its
    * own to find them. */
  def processedAppend(wh: Warehouse, processed: DataFrame,
                      studies: Seq[String]): wh.Append =
    wh.Append("processed_measurements", Schemas.processed,
      processed,
      Schemas.processedKey, orderCol = "row_num",
      partitionBy = Seq("study_id"),
      partitionValues = Map("study_id" -> studies))
}
