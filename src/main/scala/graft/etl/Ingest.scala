package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** CSV ingest contract (S1-S3, P1-P2 in SURVEY §2).
  *
  * Reference behavior (`etl-service/src/etl.py:57-70`):
  *  - every column read as string, empty string is NOT null
  *    (`pd.read_csv(dtype=str, keep_default_na=False)`);
  *  - reject the whole file when a required column is missing;
  *  - default `quality_score` to "" when the column is absent;
  *  - trim `unit`;
  *  - reject the whole file when any `study_id` is blank.
  */
object Ingest {

  final case class ContractViolation(message: String) extends RuntimeException(message)

  /** Shared CSV reader options — single source of truth for the contract's
    * parsing semantics, used by both this batch path and the streaming
    * landing-directory reader so the two can never diverge. `nullValue` is
    * a sentinel byte that cannot occur in CSV text, so nothing maps to
    * null (pandas `keep_default_na=False`: "" stays "").
    * Reference: `etl-service/src/etl.py:60`. */
  val CsvOptions: Map[String, String] = Map(
    "header" -> "true",
    "inferSchema" -> "false",
    "nullValue" -> "\u0000",
    "emptyValue" -> "")

  /** Schema-on-read scan: header CSV, all columns string, "" preserved.
    * Column presence is checked against the file header (schema is NOT
    * forced on read, so extra columns pass through like in pandas). */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .options(CsvOptions)
      .csv(path)
    validateContract(df)
  }

  /** JSON-lines ingest under the same contract. The schema is forced (one
    * string field per contract column), so a column missing from the file
    * surfaces as nulls rather than an absent column; the blank-`study_id`
    * rule still rejects files without the key column. */
  def readJson(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .schema(Schemas.measurementCsv)
      .json(path)
    validateContract(df)
  }

  /** Parquet ingest (already-typed landing data re-entering the contract):
    * every column is cast back to string so late typing stays uniform. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val asStrings = raw.columns.foldLeft(raw)((d, c) =>
      d.withColumn(c, col(c).cast("string")))
    validateContract(asStrings)
  }

  /** Format-dispatching read for the measurement contract. */
  def read(spark: SparkSession, path: String, format: String): DataFrame =
    format match {
      case "csv" => readCsv(spark, path)
      case "json" => readJson(spark, path)
      case "parquet" => readParquet(spark, path)
      case other => throw ContractViolation(s"unsupported ingest format: $other")
    }

  /** S2/P1/P2 on an already-loaded all-string frame: the column contract
    * and normalization. Runs no Spark action; the row-level rules (S3's
    * blank `study_id`, the junk `quality_score`) are counted by the
    * pipeline's one input pass ([[Stage.scan]]) and raised by
    * [[Stage.Scan.requireValid]]. */
  def validateContract(raw: DataFrame): DataFrame = {
    val missing = Schemas.RequiredColumns.filterNot(raw.columns.contains)
    if (missing.nonEmpty)
      throw ContractViolation(s"missing columns: ${missing.mkString("[", ", ", "]")}")
    val withOptional =
      if (raw.columns.contains("quality_score")) raw
      else raw.withColumn("quality_score", lit(""))
    withOptional.withColumn("unit", trim(col("unit")))
  }

  /** S3: a row whose `study_id` is null or blank rejects the whole file. */
  val blankStudy: Column = coalesce(trim(col("study_id")), lit("")) === ""

  val BlankStudyMessage = "study_id is required for all rows and cannot be blank"

  /** Junk `quality_score` fails the job like the reference's `float()`
    * raising (`etl.py:93` + `:264-266`). */
  def junkScoreMessage(score: String): String =
    s"could not convert string to float: '$score'"
}
