package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom
import scala.collection.mutable

/** One reference-shaped measurement row together with what the pipeline
  * must make of it. The expectations are derived from how the row was
  * planted, never by calling the program's own parsers. */
final case class Row(study: String, participant: String, site: String,
                     mtype: String, value: String, unit: String, epochSec: Long,
                     quality: String,
                     // measurement types of the processed rows this row becomes
                     // (two for a valid blood pressure, else one)
                     processedTypes: Seq[String],
                     numeric: Boolean,
                     missingUnit: Boolean, malformedBp: Boolean,
                     outOfRange: Boolean) {
  def csv: String =
    s"$study,$participant,$mtype,$value,$unit,${Instant.ofEpochSecond(epochSec)},$site,$quality"
  /** quality_score as hundredths, when it is a number. */
  def qualityPct: Option[Int] =
    if (quality.isEmpty || quality == "null") None else Some(quality.drop(2).toInt)
}

/** Deterministic input generator: the same seed gives byte-identical files.
  * Every row gets its own timestamp (`slot`), so observation keys never
  * collide by accident — duplicates come only from planted resubmissions. */
object Gen {
  val Header = "study_id,participant_id,measurement_type,value,unit,timestamp,site_id,quality_score"
  val Types: Array[String] =
    Array("glucose", "cholesterol", "weight", "height", "heart_rate", "blood_pressure")
  /** 2024-01-01T00:00:00Z; row slots advance 61 s each. */
  val BaseEpoch = 1704067200L
  val SlotSec = 61L
  private val UnitRequired = Set("glucose", "cholesterol", "weight", "height", "blood_pressure")

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** One row at timestamp slot `slot`. */
  def row(r: SplittableRandom, studies: Int, participants: Int, sites: Int,
          slot: Long): Row = {
    val study = f"STUDY${r.nextInt(studies)}%02d"
    val p = r.nextInt(participants)
    // a participant always reports from the same site, so the dimension
    // upsert never flips a site and the aggregate keys stay stable
    val site = s"SITE_${p % sites}"
    val t = Types(r.nextInt(Types.length))
    def num(lo: Int, span: Int) = s"${lo + r.nextInt(span)}.${r.nextInt(10)}"
    val u = r.nextDouble()
    // (value, numeric, outOfRange, malformedBp, processed types)
    val (value, numeric, oor, badBp, ptypes) = t match {
      case "glucose" =>
        if (u < 0.06) ("900", true, true, false, Seq(t))
        else if (u < 0.10) ("pending", false, false, false, Seq(t))
        else (num(70, 90), true, false, false, Seq(t))
      case "cholesterol" =>
        if (u < 0.05) ("20", true, true, false, Seq(t)) else (num(120, 140), true, false, false, Seq(t))
      case "weight" => (num(45, 80), true, false, false, Seq(t))
      case "height" => (num(150, 50), true, false, false, Seq(t))
      case "heart_rate" =>
        if (u < 0.05) ("300", true, true, false, Seq(t)) else (num(50, 60), true, false, false, Seq(t))
      case _ =>
        if (u < 0.04) ("120-80", false, false, true, Seq(t))
        else if (u < 0.08) ("300/80", false, false, true, Seq(t))
        else (s"${100 + r.nextInt(60)}/${60 + r.nextInt(40)}", true, false, false,
          Seq("blood_pressure_systolic", "blood_pressure_diastolic"))
    }
    val unitName = t match {
      case "glucose" | "cholesterol" => "mg/dL"
      case "weight" => "kg"
      case "height" => "cm"
      case "heart_rate" => "bpm"
      case _ => "mmHg"
    }
    val blankUnit = r.nextDouble() < 0.05
    val qu = r.nextDouble()
    val quality = if (qu < 0.10) "" else if (qu < 0.15) "null" else f"0.${50 + r.nextInt(50)}%02d"
    Row(study, f"P$p%04d", site, t, value, if (blankUnit) "" else unitName,
      BaseEpoch + slot * SlotSec, quality, ptypes, numeric,
      missingUnit = blankUnit && UnitRequired(t), malformedBp = badBp, outOfRange = oor)
  }

  /** Rows in slots `firstSlot until firstSlot + n`. */
  def rows(r: SplittableRandom, n: Int, studies: Int, participants: Int, sites: Int,
           firstSlot: Long): Vector[Row] =
    Vector.tabulate(n)(i => row(r, studies, participants, sites, firstSlot + i))

  def write(path: Path, rows: Seq[Row]): Unit = {
    val w = Files.newBufferedWriter(path, UTF_8)
    try {
      w.write(Header); w.write('\n')
      rows.foreach { x => w.write(x.csv); w.write('\n') }
    } finally w.close()
  }

  // --- the clinical job stream -------------------------------------------

  val JobStudies = 4
  val JobParticipants = 40
  val JobSites = 3
  val SeedRows = 120

  /** The seed file every clinical run starts from (slots below 0 never
    * collide with job slots). */
  def seedRows(seed: Long): Vector[Row] =
    rows(rng(seed, -1), SeedRows, JobStudies, JobParticipants, JobSites, -1000000L)

  /** Whether job `i` resubmits an earlier file: every 10th job, starting
    * with the third, so that even a short run holds one. */
  def isResubmission(i: Int): Boolean = i % 10 == 2

  /** Job `i` of the closed loop: 1–12 rows, or a resubmission of one of the
    * two files before it. Returns (file index to submit, rows). */
  def job(seed: Long, i: Int): (Int, Vector[Row]) =
    if (isResubmission(i)) {
      val j = i - 1 - rng(seed, i).nextInt(2)
      (j, job(seed, j)._2)
    } else {
      val r = rng(seed, i)
      (i, rows(r, 1 + r.nextInt(12), JobStudies, JobParticipants, JobSites, i * 100L))
    }

  def jobFileName(i: Int): String = f"visit_$i%05d.csv"

  /** Deterministic job id (UUID-shaped, as the status endpoint requires). */
  def jobId(seed: Long, i: Int): String = {
    val r = rng(seed, 1000000L + i)
    new java.util.UUID(r.nextLong(), r.nextLong()).toString
  }

  // --- API warehouse data (the PipelineBench row shape) ---------------------

  val ApiStudies = 20
  val ApiParticipants = 5000
  val ApiSites = 7

  def apiRows(seed: Long, n: Int): Vector[Row] =
    rows(rng(seed, -2), n, ApiStudies, ApiParticipants, ApiSites, 0L)
}

/** Expected warehouse contents after a sequence of jobs — a model of the
  * reference semantics: staging keeps every row of every job, processed
  * keeps the first row per observation key, quality reports are per-job
  * rule counts emitted when positive, and each aggregate key is owned by
  * the last job that carried a numeric row for it. */
final class Model {
  private val obsKeys = mutable.HashSet.empty[(String, String, String, Long, String)]
  private val aggOwner = mutable.HashMap.empty[(String, String, String, String), String]
  val quality = mutable.HashMap.empty[String, Map[String, Long]]
  var staged = 0L

  /** Apply one job; returns (staged rows, newly landed processed rows). */
  def apply(jobId: String, rows: Seq[Row]): (Long, Long) = {
    var landed = 0L
    for (x <- rows; t <- x.processedTypes) {
      if (obsKeys.add((x.study, x.participant, t, x.epochSec, x.site))) landed += 1
      if (x.numeric) aggOwner((x.study, x.participant, x.site, t)) = jobId
    }
    staged += rows.size
    val rules = Map(
      "missing_unit_required" -> rows.count(_.missingUnit).toLong,
      "malformed_blood_pressure" -> rows.count(_.malformedBp).toLong,
      "numeric_out_of_range" -> rows.count(_.outOfRange).toLong).filter(_._2 > 0)
    quality(jobId) = rules
    (rows.size.toLong, landed)
  }

  def processed: Long = obsKeys.size
  def aggregates: Long = aggOwner.size
  def aggregatesByJob: Map[String, Long] =
    aggOwner.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
}
