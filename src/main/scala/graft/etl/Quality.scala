package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.ClinicalCols._
import graft.schema.Schemas

/** Quality rules (A7 in SURVEY §2), reference `etl-service/src/etl.py:155-195`.
  *
  * Three conditional counts over the RAW pre-split frame, each emitted as a
  * report row only when its count is positive:
  *
  *  1. `missing_unit_required` (warn)  — type requires a unit, unit blank;
  *  2. `malformed_blood_pressure` (error) — BP row whose value fails
  *     `parse_bp` (wrong separator, non-int parts, OR out-of-bounds parts —
  *     `300/80` counts as malformed, not out-of-range, `etl.py:53-55`);
  *  3. `numeric_out_of_range` (warn)   — decimal-parseable value outside
  *     the per-type RANGES bound, summed across types. The `blood_pressure_1
  *     /_2` range entries never match a raw `measurement_type`, so raw BP
  *     rows can't be out-of-range (faithful to `etl.py:181-194`).
  *
  * The rules are plain predicates ([[ReferenceRules]]): the pipeline
  * counts them inside its one input pass instead of a pass of their own.
  * The RANGES lookup is inlined as a chained expression (7 entries), which
  * keeps everything in whole-stage codegen rather than broadcasting a join.
  */
object Quality {

  /** A named per-row predicate; a rule is violated by the rows it holds
    * for. */
  final case class Rule(name: String, severity: String, violatedWhen: Column)

  /** The reference's three rules, in report order. Each is a per-row
    * predicate, so their counts can ride any aggregation pass over the
    * raw frame (the pipeline's input pass, [[Stage.scan]]). */
  val ReferenceRules: Seq[Rule] = {
    // pandas reads a blank unit as "" (keep_default_na=False); Spark's CSV
    // reader yields null for an unquoted empty field — treat both as blank
    val missingUnit =
      col("measurement_type").isin(Schemas.RequiredUnitTypes: _*) &&
        coalesce(trim(col("unit")), lit("")) === ""

    val malformedBp =
      col("measurement_type") === "blood_pressure" &&
        bpSystolic(col("value")).isNull

    // the RANGES types are distinct, so a row matches at most one entry:
    // OR-ing the per-type tests counts exactly what summing them did
    val num = toDecimal(col("value"))
    val outOfRange = Schemas.Ranges.map { case (mtype, low, high) =>
      col("measurement_type") === mtype && num.isNotNull &&
        (num < lit(low) || num > lit(high))
    }.reduce(_ || _)

    Seq(
      Rule("missing_unit_required", "warn", missingUnit),
      Rule("malformed_blood_pressure", "error", malformedBp),
      Rule("numeric_out_of_range", "warn", outOfRange))
  }

  /** One violation-count column per rule, named after it. */
  def countColumns(rules: Seq[Rule]): Seq[Column] =
    rules.map(r => sum(when(r.violatedWhen, 1L).otherwise(0L)).as(r.name))

  /** Report rows for per-rule counts given in `rules` order, emitted only
    * for positive counts (etl.py:165,177,192). */
  def reports(spark: SparkSession, rules: Seq[Rule], counts: Seq[Long],
              jobId: String): DataFrame = {
    import spark.implicits._
    rules.zip(counts)
      .collect { case (r, n) if n > 0 => (jobId, r.name, r.severity, n) }
      .toDF("job_id", "rule_name", "severity", "affected_rows")
  }

  def landReports(wh: Warehouse, reports: DataFrame): Unit =
    if (!reports.isEmpty) wh.append("data_quality_reports", reports)

  /** Replay-idempotent report landing for STREAMING job ids: stream jobs
    * derive a DETERMINISTIC id from the file name, so a redelivered
    * micro-batch would land the identical report rows twice through the
    * plain append — keyed append-if-absent on (job_id, rule_name) makes
    * the replay a no-op. The batch pipeline keeps [[landReports]]: its
    * uuid job ids never collide, and the reference semantics there are
    * a plain append. */
  def landReportsIfAbsent(wh: Warehouse, reports: DataFrame): Unit =
    if (!reports.isEmpty)
      wh.appendIfAbsent("data_quality_reports",
        org.apache.spark.sql.types.StructType.fromDDL(
          "job_id STRING, rule_name STRING, severity STRING, " +
            "affected_rows BIGINT"),
        reports, keys = Seq("job_id", "rule_name"), orderCol = "rule_name",
        dedupWithinBatch = false)

  /** Generic rule engine the reference rules above are an instance of:
    * declare named per-row predicates, get one report row per violated
    * rule. ALL rules evaluate in a single aggregation pass (one
    * `sum(when(...))` per rule, partial-combined map-side) — adding a rule
    * never adds a scan, which is what keeps a 50-rule suite viable over a
    * 100 TB table. */
  def check(spark: SparkSession, df: DataFrame, rules: Seq[Rule],
            jobId: String): DataFrame = {
    require(rules.nonEmpty, "no rules given")
    val sums = countColumns(rules)
    val counts = df.agg(sums.head, sums.tail: _*).head()
    reports(spark, rules,
      rules.indices.map(i => if (counts.isNullAt(i)) 0L else counts.getLong(i)), jobId)
  }
}
