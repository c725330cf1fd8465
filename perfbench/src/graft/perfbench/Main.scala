package graft.perfbench

import graft.etl.{Pipeline, Warehouse}
import graft.query.{Measurements, Views}
import graft.schema.Schemas
import org.apache.spark.sql.{Row => SRow, SparkSession}
import org.apache.spark.sql.functions._
import java.io.PrintWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One operation of a workload, prepared outside the timed region. */
final case class Op(kind: String, run: () => Any, check: Any => Option[String],
                    id: String = "", csvBytes: Long = 0L)

/** A workload: set-up (timed as set-up, repeated), then a closed loop of
  * operations with one client, then end-of-run checks that may fail
  * operations retroactively (by op id). */
trait Workload {
  def setup(spark: SparkSession, dir: Path): Unit
  def prepare(i: Int): Op
  /** Warehouse whose files the trace walks around the next operation. */
  def warehouse: Warehouse
  /** Returns (failed op ids, run-level errors). */
  def finish(): (Set[String], Seq[String])
}

object Main {
  /** The operation hook `Pipeline.onProgress` forwards to; a no-op except
    * around traced operations. */
  @volatile var progress: (String, Int, String) => Unit = (_, _, _) => ()
  def pipeline(spark: SparkSession, wh: Warehouse) =
    new Pipeline(spark, wh, (id, pct, msg) => progress(id, pct, msg))

  /** Set-up repetitions; the first is a warm-up (JIT, codegen) and is not
    * part of `setup_s`. */
  val SetupReps = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("gen-only")) { genOnly(a("seed").toLong, Paths.get(a("gen-only"))); return }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tmp = Paths.get(a("tmp"))
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(a("out")), UTF_8))
    def emit(fields: (String, Any)*): Unit = { out.println(Json.obj(fields)); out.flush() }
    val cores = Runtime.getRuntime.availableProcessors
    val w: Workload = a("workload") match {
      case "clinical_jobs" => new ClinicalJobs(seed)
      case "api_reads" => new ApiReads(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start, input generation, warehouse seeding — the
    // whole of it, several times, so that the median of the repetitions
    // after the warm-up is the steady set-up cost
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val dir = Files.createDirectories(tmp.resolve(s"rep$rep"))
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, tmp)
      w.setup(spark, dir)
      emit("type" -> "setup", "rep" -> rep, "warmup" -> (rep == 0),
        "s" -> (System.nanoTime() - t0) / 1e9)
      if (rep > 0) deleteTree(tmp.resolve(s"rep${rep - 1}"))
    }

    val tracer = new SparkTrace
    var spanId = 0
    // operations seen so far per kind
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val op = w.prepare(i)
      // in a traced run every other op of each kind is traced, the rest
      // give the untraced reference for the tracing overhead; counting per
      // kind puts every kind on both sides
      val isTraced = traced && seen(op.kind) % 2 == 0
      seen(op.kind) += 1
      val before = if (isTraced) FileStats.walk(w.warehouse) else Map.empty[String, Long]
      val progressMarks = mutable.ArrayBuffer.empty[(Int, Double)]
      if (isTraced) {
        progress = (_, pct, _) => progressMarks.synchronized(progressMarks += ((pct, Clock.ms())))
        tracer.attach(spark)
      }
      val start = Clock.ms()
      val t0 = System.nanoTime()
      val result = try Right(op.run()) catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val end = Clock.ms()
      val layers = mutable.LinkedHashMap.empty[String, Any]
      if (isTraced) {
        val (jobs, catalyst) = tracer.detach(spark)
        progress = (_, _, _) => ()
        val spans = Spans.build(i, op.kind, start, end, progressMarks.toSeq, jobs, catalyst, spanId)
        spanId += spans.size
        spans.foreach { s =>
          emit(Seq("type" -> "span", "id" -> s.id, "name" -> s.name, "start" -> s.start,
            "end" -> s.end, "parent" -> s.parent, "op" -> s.op) ++ s.c.fields: _*)
        }
        val after = FileStats.walk(w.warehouse)
        val written = after.filter { case (p, _) => !before.contains(p) }
        val jobMs = Spans.jobUnionMs(start, end, jobs)
        layers ++= spans.head.c.fields
        layers ++= Seq("job_ms" -> jobMs, "driver_gap_ms" -> (ms - jobMs),
          "files_written" -> written.size, "bytes_written" -> written.values.sum)
        spans.tail.filter(_.name.startsWith("etl.")).foreach(s => layers(s.name + "_ms") = s.end - s.start)
      }
      val error = result match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(r) => try op.check(r) catch { case e: Throwable => Some(s"check threw: $e") }
      }
      val rows = result.toOption.collect { case a: Array[_] => a.length }.getOrElse(0)
      emit(Seq("type" -> "op", "i" -> i, "kind" -> op.kind, "id" -> op.id, "ms" -> ms,
        "traced" -> isTraced, "error" -> error.orNull, "csv_bytes" -> op.csvBytes,
        "rows" -> rows) ++ layers.toSeq: _*)
      i += 1
    }

    val (failedIds, errors) = try w.finish() catch {
      case e: Throwable => (Set.empty[String], Seq(s"end-of-run check threw: $e"))
    }
    val live = FileStats.live(w.warehouse)
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    emit("type" -> "summary", "cores" -> cores, "failed_ids" -> failedIds.toSeq,
      "errors" -> errors, "live_files" -> live.size, "live_bytes" -> live.values.sum,
      "cache_mb" -> cacheMb)
    out.close()
    spark.stop()
  }

  def session(cores: Int, tmp: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]").appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", tmp.resolve("spark-warehouse").toString)
    .getOrCreate()

  /** The generator's outputs for a seed, for the byte-identity test. */
  def genOnly(seed: Long, dir: Path): Unit = {
    Files.createDirectories(dir)
    Gen.write(dir.resolve("seed.csv"), Gen.seedRows(seed))
    for (i <- 0 until 20) Gen.write(dir.resolve(s"job_$i.csv"), Gen.job(seed, i)._2)
    val apiRows = Gen.apiRows(seed, ApiReads.Rows)
    Gen.write(dir.resolve("api.csv"), apiRows)
    Files.writeString(dir.resolve("requests.txt"),
      (0 until 50).map(ApiReads.request(seed, _, apiRows).toString).mkString("\n"))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Check a finished job's result against the model's expectation. */
  def checkJob(r: Any, staged: Long, landed: Long): Option[String] = {
    val res = r.asInstanceOf[Pipeline.JobResult]
    if (res.status != "completed") Some(s"status ${res.status}: ${res.message.orNull}")
    else if (res.stagedRows != staged) Some(s"staged ${res.stagedRows}, expected $staged")
    else if (res.processedRows != landed) Some(s"processed ${res.processedRows}, expected $landed")
    else None
  }

  /** Per-job quality reports and aggregate ownership as the warehouse holds them. */
  def qualityByJob(wh: Warehouse): Map[String, Map[String, Long]] =
    wh.read("data_quality_reports", Schemas.qualityReports).collect().toSeq
      .groupBy(_.getString(0))
      .map { case (j, rs) => j -> rs.map(r => r.getString(1) -> r.getLong(3)).toMap }

  def aggregatesByJob(wh: Warehouse): Map[String, Long] =
    wh.read("measurement_aggregations", Schemas.aggregations)
      .groupBy("job_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object FileStats {
  /** Every regular file under the warehouse root, with its size. */
  def walk(wh: Warehouse): Map[String, Long] = files(Paths.get(wh.root))

  /** Files of the live generation of every table. */
  def live(wh: Warehouse): Map[String, Long] = {
    val root = Paths.get(wh.root)
    if (!Files.isDirectory(root)) return Map.empty
    val s = Files.list(root)
    val tables = try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith("_")).toVector finally s.close()
    tables.flatMap(t => wh.currentDir(t).toSeq).flatMap(files).toMap
  }

  private def files(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
}

/** Users' real traffic: reference-shaped files of 1–12 rows submitted one
  * after another on a warehouse seeded the same way on every run. */
final class ClinicalJobs(seed: Long) extends Workload {
  private var wh: Warehouse = _
  private var pipe: Pipeline = _
  private var data: Path = _
  private var model: Model = _
  private var jobs = 0

  def warehouse: Warehouse = wh

  def setup(spark: SparkSession, dir: Path): Unit = {
    data = Files.createDirectories(dir.resolve("data"))
    val rows = Gen.seedRows(seed)
    val csv = data.resolve("seed.csv")
    Gen.write(csv, rows)
    wh = new Warehouse(spark, dir.resolve("wh").toString)
    pipe = Main.pipeline(spark, wh)
    model = new Model
    val id = Gen.jobId(seed, -1)
    val (staged, landed) = model(id, rows)
    Main.checkJob(pipe.processJob(id, csv.toString), staged, landed)
      .foreach(e => throw new IllegalStateException(s"seed job: $e"))
    jobs = 1
  }

  def prepare(i: Int): Op = {
    val (file, rows) = Gen.job(seed, i)
    val csv = data.resolve(Gen.jobFileName(file))
    if (!Files.exists(csv)) Gen.write(csv, rows)
    val id = Gen.jobId(seed, i)
    val kind = if (Gen.isResubmission(i)) "job.resubmit" else "job"
    Op(kind, () => pipe.processJob(id, csv.toString), r => {
      jobs += 1
      val (staged, landed) = model(id, rows)
      Main.checkJob(r, staged, landed)
    }, id, Files.size(csv))
  }

  def finish(): (Set[String], Seq[String]) = {
    val errors = mutable.ArrayBuffer.empty[String]
    val staging = wh.read("staging_clinical_measurements", Schemas.staging).count()
    if (staging != model.staged) errors += s"staging holds $staging rows, expected ${model.staged}"
    val processed = wh.read("processed_measurements", Schemas.processed).count()
    if (processed != model.processed) errors += s"processed holds $processed rows, expected ${model.processed}"
    val statuses = wh.read("etl_jobs", Schemas.etlJobs).groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (statuses != Map("completed" -> jobs.toLong)) errors += s"etl_jobs statuses $statuses, expected $jobs completed"
    val aggs = Main.aggregatesByJob(wh)
    if (aggs.values.sum != model.aggregates) errors += s"aggregations hold ${aggs.values.sum} keys, expected ${model.aggregates}"
    val quality = Main.qualityByJob(wh)
    val expAggs = model.aggregatesByJob
    val badJobs = model.quality.keySet.filter { j =>
      quality.getOrElse(j, Map.empty) != model.quality(j) || aggs.getOrElse(j, 0L) != expAggs.getOrElse(j, 0L)
    }.toSet
    val seedId = Gen.jobId(seed, -1)
    if (badJobs(seedId)) errors += "the seed job's quality reports or aggregates differ from the model"
    (badJobs - seedId, errors.toSeq)
  }
}

object ApiReads {
  val Rows = 30000
  /** The endpoint's row cap (`LIMIT 1000` in the reference). */
  val Cap = 1000
  val ViewNames = Seq("study_quality", "glucose_trend", "counts_by_site", "low_quality",
    "recent_30d", "participants_per_study")
  /** Fixed `now` for the 30-day view: ten days after the last row. */
  val NowEpoch: Long = Gen.BaseEpoch + Rows * Gen.SlotSec + 10 * 86400L

  sealed trait Request
  final case class Data(f: Measurements.Filters, shape: String) extends Request
  final case class View(name: String) extends Request

  /** Request `i` over the warehouse built from `rows`. Each block of ten
    * holds eight `/api/data` requests, two of each filter shape (keys taken
    * from a random stored row, so every filter matches something), and two
    * views, the next ones in turn. The shapes differ in cost, so a fixed
    * mix keeps the median from moving with the seed's draw of shapes. */
  def request(seed: Long, i: Int, rows: Vector[Row]): Request = {
    val r = Gen.rng(seed, 2000000L + i)
    val slot = i % 10
    if (slot >= 8) View(ViewNames((i / 10 * 2 + slot - 8) % ViewNames.size))
    else {
      val x = rows(r.nextInt(rows.size))
      def ts(s: Long) = new Timestamp(s * 1000)
      slot % 4 match {
        case 0 => Data(Measurements.Filters(studyId = Some(x.study)), "study")
        case 1 => Data(Measurements.Filters(studyId = Some(x.study),
          participantId = Some(x.participant)), "participant")
        case 2 =>
          val days = 1 + r.nextInt(5)
          Data(Measurements.Filters(studyId = Some(x.study), measurementType = Some(x.mtype),
            startDate = Some(ts(x.epochSec - days * 86400L)),
            endDate = Some(ts(x.epochSec + days * 86400L))), "type_range")
        case _ => Data(Measurements.Filters(), "all")
      }
    }
  }
}

/** The read path: `/api/data` and the six views over a warehouse built in
  * set-up, with no writes while measuring. */
final class ApiReads(seed: Long) extends Workload {
  import ApiReads._
  private var wh: Warehouse = _
  private var all: Vector[Row] = _
  // rows newest first, as the endpoint orders them
  private lazy val byTsDesc = all.sortBy(-_.epochSec)
  // expected (row count, sum of the count column) per view
  private lazy val viewRows: Map[String, (Long, Option[Long])] = {
    val processed = all.flatMap(x => x.processedTypes.map(t => (x, t)))
    val day = 86400L
    Map(
      "study_quality" -> (all.map(_.study).distinct.size.toLong, None),
      "glucose_trend" -> (processed.collect { case (x, "glucose") if x.numeric =>
        (x.study, x.participant, x.epochSec / day) }.distinct.size.toLong, None),
      "counts_by_site" -> (processed.map { case (x, t) => (x.study, x.site, t) }.distinct.size.toLong,
        Some(processed.size.toLong)),
      "low_quality" -> (processed.count(_._1.qualityPct.exists(_ < 95)).toLong, None),
      "recent_30d" -> (processed.count(_._1.epochSec >= NowEpoch - 30 * day).toLong, None),
      "participants_per_study" -> (all.map(_.study).distinct.size.toLong,
        Some(all.map(x => (x.study, x.participant)).distinct.size.toLong)))
  }

  def warehouse: Warehouse = wh

  def setup(spark: SparkSession, dir: Path): Unit = {
    val data = Files.createDirectories(dir.resolve("data"))
    val csv = data.resolve("api_study.csv")
    all = Gen.apiRows(seed, Rows)
    Gen.write(csv, all)
    wh = new Warehouse(spark, dir.resolve("wh").toString)
    val model = new Model
    val id = Gen.jobId(seed, -1)
    val (staged, landed) = model(id, all)
    Main.checkJob(Main.pipeline(spark, wh).processJob(id, csv.toString), staged, landed)
      .foreach(e => throw new IllegalStateException(s"warehouse build: $e"))
  }

  def prepare(i: Int): Op = request(seed, i, all) match {
    case Data(f, shape) =>
      def ok(x: Row) = f.studyId.forall(_ == x.study) &&
        f.participantId.forall(_ == x.participant) &&
        f.measurementType.forall(_ == x.mtype) &&
        f.startDate.forall(_.getTime <= x.epochSec * 1000) &&
        f.endDate.forall(_.getTime >= x.epochSec * 1000)
      val top = byTsDesc.iterator.filter(ok).take(Cap).map(_.epochSec * 1000).toVector
      Op(s"api.data.$shape", () => Measurements.toDto(Measurements.query(
        wh.read("staging_clinical_measurements", Schemas.staging), f)).collect(), r => {
        val got = r.asInstanceOf[Array[SRow]].map(_.getAs[Timestamp]("timestamp").getTime).toVector
        if (got != top) Some(s"${got.size} rows, expected ${top.size} (or order differs)") else None
      })
    case View(name) =>
      def processed = wh.read("processed_measurements", Schemas.processed)
      def df = name match {
        case "study_quality" => Views.studyQuality(processed)
        case "glucose_trend" => Views.glucoseTrend(processed)
        case "counts_by_site" => Views.countsBySite(processed)
        case "low_quality" => Views.lowQuality(processed)
        case "recent_30d" => Views.recent30d(processed, lit(new Timestamp(NowEpoch * 1000)))
        case _ => Views.participantsPerStudy(wh.read("participants", Schemas.participants))
      }
      val (n, sum) = viewRows(name)
      Op(s"api.view.$name", () => df.collect(), r => {
        val rs = r.asInstanceOf[Array[SRow]]
        val total = sum.map(_ => rs.map(_.getAs[Long](rs.head.length - 1)).sum)
        if (rs.length != n || total != sum) Some(s"${rs.length} rows (sum $total), expected $n ($sum)")
        else None
      })
  }

  def finish(): (Set[String], Seq[String]) = (Set.empty, Nil)
}

/** Minimal JSON writer for the benchmark's raw records. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
