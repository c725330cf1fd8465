package graft.etl

import graft.{Fixtures, SparkSpec}
import graft.schema.Schemas
import org.apache.spark.sql.functions._

/** End-to-end golden tests for the six-stage job pipeline and the three
  * sink disciplines, pinned to `etl-service/src/etl.py:232-266` +
  * `db.py`. */
class PipelineSpec extends SparkSpec {

  private def freshPipeline() = {
    val wh = new Warehouse(spark, tmpDir("wh").toString)
    (new Pipeline(spark, wh), wh)
  }
  private def csv(name: String, content: String): String = {
    val dir = tmpDir("data")
    writeCsv(dir, name, content)
  }

  test("happy path: staging, dims, processed, aggs all land; job completes") {
    val (pipe, wh) = freshPipeline()
    val res = pipe.processJob("job-1", csv("study001.csv", Fixtures.study001))
    assert(res.status == "completed", res.message)
    assert(res.stagedRows == 6 && res.processedRows == 6)

    assert(wh.read("studies", Schemas.studies).count() == 1)
    val parts = wh.read("participants", Schemas.participants)
    assert(parts.count() == 3)
    assert(parts.filter(col("site_id") === "SITE_A").count() == 3)

    val aggs = wh.read("measurement_aggregations", Schemas.aggregations)
    val glucoseP001 = aggs.filter(col("participant_id") === "P001" &&
      col("measurement_type") === "glucose").head()
    assert(glucoseP001.getAs[Long]("cnt") == 2)
    assert(glucoseP001.getAs[java.math.BigDecimal]("avg_num").doubleValue() == 98.35)
    assert(glucoseP001.getAs[java.math.BigDecimal]("min_num").doubleValue() == 95.5)
    assert(glucoseP001.getAs[java.math.BigDecimal]("max_num").doubleValue() == 101.2)

    // no quality rules on the happy path
    assert(wh.read("data_quality_reports", Schemas.qualityReports).isEmpty)

    val job = wh.read("etl_jobs", Schemas.etlJobs).head()
    assert(job.getAs[String]("status") == "completed")
    assert(job.getAs[java.sql.Timestamp]("completed_at") != null)
  }

  test("re-running the same file under a new job id is idempotent in processed/aggs") {
    val (pipe, wh) = freshPipeline()
    val path = csv("study001.csv", Fixtures.study001)
    pipe.processJob("job-1", path)
    val first = wh.read("processed_measurements", Schemas.processed).count()
    pipe.processJob("job-2", path)

    // staging grows (different job_id in the key), processed dedups on
    // uq_pm_obs (same observation identity across jobs)
    assert(wh.read("staging_clinical_measurements", Schemas.staging).count() == 12)
    assert(wh.read("processed_measurements", Schemas.processed).count() == first)

    // aggs: cnt/avg replaced by job-2, min/max merged, still one row per key
    val aggs = wh.read("measurement_aggregations", Schemas.aggregations)
    assert(aggs.count() == 5)
    assert(aggs.filter(col("job_id") === "job-2").count() == 5)
  }

  test("BP file: each valid BP row lands as two processed observations") {
    val (pipe, wh) = freshPipeline()
    pipe.processJob("job-1", csv("study002.csv", Fixtures.study002))
    val p = wh.read("processed_measurements", Schemas.processed)
    assert(p.count() == 6) // 2 BP rows -> 4 + heart_rate + weight
    assert(p.filter(col("measurement_type") === "blood_pressure_systolic").count() == 2)
  }

  test("quality rules: malformed BP (error), missing unit (warn), out of range (warn)") {
    val (pipe, wh) = freshPipeline()
    pipe.processJob("j-bad", csv("bad_bp.csv", Fixtures.badBp))
    pipe.processJob("j-unit", csv("missing_unit.csv", Fixtures.missingUnit))
    pipe.processJob("j-oor", csv("out_of_range.csv", Fixtures.outOfRange))
    pipe.processJob("j-oob", csv("oob_bp.csv", Fixtures.oobBp))

    val q = wh.read("data_quality_reports", Schemas.qualityReports)
    def rule(job: String) = q.filter(col("job_id") === job)
      .select("rule_name", "severity", "affected_rows").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    assert(rule("j-bad") == Set(("malformed_blood_pressure", "error", 1L)))
    assert(rule("j-unit") == Set(("missing_unit_required", "warn", 1L)))
    assert(rule("j-oor") == Set(("numeric_out_of_range", "warn", 1L)))
    // 300/80 is malformed (parse_bp bounds), NOT numeric_out_of_range
    assert(rule("j-oob") == Set(("malformed_blood_pressure", "error", 1L)))

    // out-of-range row still lands in processed + aggs (rules only count)
    val oor = wh.read("processed_measurements", Schemas.processed)
      .filter(col("study_id") === "STUDYZ")
    assert(oor.count() == 1)
    assert(oor.head().getAs[java.math.BigDecimal]("value_num").doubleValue() == 1000.0)
  }

  test("junk quality_score fails the whole job, like float() raising") {
    val (pipe, wh) = freshPipeline()
    val res = pipe.processJob("j-q", csv("junk.csv", Fixtures.junkQuality))
    assert(res.status == "failed")
    assert(res.message.exists(_.contains("could not convert")))
    assert(wh.read("etl_jobs", Schemas.etlJobs).head().getAs[String]("status") == "failed")
    assert(!wh.exists("processed_measurements"))
  }

  test("blank study_id rejects the whole file") {
    val (pipe, _) = freshPipeline()
    val res = pipe.processJob("j-b", csv("blank.csv", Fixtures.blankStudy))
    assert(res.status == "failed")
    assert(res.message.exists(_.contains("study_id is required")))
  }

  test("missing required column fails with the column named") {
    val (pipe, _) = freshPipeline()
    val res = pipe.processJob("j-m", csv("missing_col.csv", Fixtures.missingColumn))
    assert(res.status == "failed")
    assert(res.message.exists(_.contains("missing columns")))
    assert(res.message.exists(_.contains("site_id")))
  }

  test("participants merge: a later job's site_id wins (EXCLUDED semantics)") {
    val (pipe, wh) = freshPipeline()
    pipe.processJob("j-1", csv("a.csv", Fixtures.study002))
    val moved = Fixtures.study002.replace("SITE_B", "SITE_C")
    pipe.processJob("j-2", csv("b.csv", moved))
    val parts = wh.read("participants", Schemas.participants)
    assert(parts.count() == 2)
    assert(parts.filter(col("site_id") === "SITE_C").count() == 2)
  }

  test("agg merge across jobs: cnt/avg last-writer, min/max merged") {
    val (pipe, wh) = freshPipeline()
    val v1 =
      s"""${Fixtures.header}
         |S,P,glucose,100,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.9
         |S,P,glucose,200,mg/dL,2024-01-02T00:00:00Z,SITE_A,0.9
         |""".stripMargin
    val v2 =
      s"""${Fixtures.header}
         |S,P,glucose,150,mg/dL,2024-01-03T00:00:00Z,SITE_A,0.9
         |""".stripMargin
    pipe.processJob("j-1", csv("v1.csv", v1))
    pipe.processJob("j-2", csv("v2.csv", v2))
    val agg = wh.read("measurement_aggregations", Schemas.aggregations).head()
    assert(agg.getAs[Long]("cnt") == 1)                 // replaced by j-2
    assert(agg.getAs[java.math.BigDecimal]("avg_num").doubleValue() == 150.0)
    assert(agg.getAs[java.math.BigDecimal]("min_num").doubleValue() == 100.0) // merged
    assert(agg.getAs[java.math.BigDecimal]("max_num").doubleValue() == 200.0) // merged
    assert(agg.getAs[String]("job_id") == "j-2")
  }

  test("agg merge is partition-scoped: other studies' files are untouched") {
    val (pipe, wh) = freshPipeline()
    val sA =
      s"""${Fixtures.header}
         |SA,P,glucose,100,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.9
         |""".stripMargin
    val sB =
      s"""${Fixtures.header}
         |SB,P,glucose,150,mg/dL,2024-01-02T00:00:00Z,SITE_B,0.9
         |""".stripMargin
    pipe.processJob("j-a", csv("sa.csv", sA))
    def saDir = wh.currentDir("measurement_aggregations").get.resolve("study_id=SA")
    def filesOf(p: java.nio.file.Path): Map[String, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> java.nio.file.Files.getLastModifiedTime(f))
        .toMap
    }
    val before = filesOf(saDir)
    pipe.processJob("j-b", csv("sb.csv", sB))   // touches only study SB
    // SA's files carried into the new generation as hard links: same
    // names, same mtimes (same inodes) — never rewritten
    assert(filesOf(saDir) == before)
    val aggs = wh.read("measurement_aggregations", Schemas.aggregations)
    assert(aggs.count() == 2)                   // both studies present
    assert(aggs.filter(org.apache.spark.sql.functions.col("study_id") === "SA")
      .head().getAs[java.math.BigDecimal]("avg_num").doubleValue() == 100.0)
  }

  test("job status is queryable and progress milestones fire in order") {
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val wh = new Warehouse(spark, tmpDir("wh").toString)
    val pipe = new Pipeline(spark, wh, (_, pct, _) => seen += pct)
    val jobId = java.util.UUID.randomUUID().toString
    pipe.processJob(jobId, csv("study001.csv", Fixtures.study001))
    assert(seen.toSeq == Seq(10, 30, 45, 65, 75, 90, 100))
    assert(pipe.jobStatus(jobId).isDefined)
    // valid-but-unknown UUID: empty after a table read
    assert(pipe.jobStatus(java.util.UUID.randomUUID().toString).isEmpty)
  }

  test("job inputs resolve inside the data root only (reference main.py:30-34)") {
    val wh = new Warehouse(spark, tmpDir("wh").toString)
    val dataDir = tmpDir("uploads")
    writeCsv(dataDir, "ok.csv", Fixtures.study001)
    val outside = tmpDir("elsewhere")
    writeCsv(outside, "evil.csv", Fixtures.study001)
    val pipe = new Pipeline(spark, wh, dataRoot = Some(dataDir.toString))
    // a name relative to the root works
    assert(pipe.processJob("j-ok", "ok.csv").status == "completed")
    // escapes and absolute paths outside the root fail with the
    // reference's error, without reading anything
    val esc = pipe.processJob("j-esc",
      s"../${outside.getFileName}/evil.csv")
    assert(esc.status == "failed" && esc.message.contains("Not a file."))
    val abs = pipe.processJob("j-abs", outside.resolve("evil.csv").toString)
    assert(abs.status == "failed" && abs.message.contains("Not a file."))
    // nonexistent and non-file inputs fail the same way
    assert(pipe.processJob("j-miss", "missing.csv").message.contains("Not a file."))
    assert(pipe.processJob("j-dir", ".").message.contains("Not a file."))
    // a symlink planted INSIDE the root pointing outside is the escape
    // the lexical startsWith check would miss: real-path containment
    // refuses it
    java.nio.file.Files.createSymbolicLink(
      dataDir.resolve("sneaky.csv"), outside.resolve("evil.csv"))
    val sym = pipe.processJob("j-sym", "sneaky.csv")
    assert(sym.status == "failed" && sym.message.contains("Not a file."))
  }

  test("with no data root, inputs pass through to the reader unvalidated") {
    val (pipe, _) = freshPipeline()
    // a DIRECTORY of csv files is a perfectly good Spark input in
    // library use — the regular-file gate applies only to root-relative
    // job inputs (reference main.py:30-34 guards its upload dir, not
    // arbitrary engine reads)
    val dir = tmpDir("data")
    writeCsv(dir, "study001.csv", Fixtures.study001)
    assert(pipe.processJob("j-dir-ok", dir.toString).status == "completed")
  }

  test("malformed job ids are rejected at the status edge (reference etl.service.ts:79-81)") {
    val wh = new Warehouse(spark, tmpDir("wh").toString)
    val pipe = new Pipeline(spark, wh)
    // a job row EXISTS under this non-UUID id, but the status edge
    // validates shape before reading — same as the reference returning
    // null from getJobStatus for any non-UUID id
    pipe.processJob("j-1", csv("study001.csv", Fixtures.study001))
    assert(pipe.jobStatus("j-1").isEmpty)
    assert(pipe.jobStatus("").isEmpty)
    assert(pipe.jobStatus("123e4567-e89b-12d3-a456-42661417400").isEmpty)  // 11-char tail
    assert(pipe.jobStatus("123e4567-e89b-12d3-a456-4266141740zz").isEmpty) // non-hex
    assert(pipe.jobStatus("123e4567-e89b-12d3-a456-426614174000").isEmpty) // valid shape, absent
  }

  /** Reference-shaped 12-row job over two studies: numeric, BP-split and
    * text rows, with planted rule violations (2 missing units, 1 malformed
    * BP, 1 out of range). */
  private val twelveRows: String =
    s"""${Fixtures.header}
       |STUDYA,P001,glucose,95.5,mg/dL,2024-01-15T09:30:00Z,SITE_A,0.98
       |STUDYA,P001,blood_pressure,120/80,mmHg,2024-01-15T09:31:00Z,SITE_A,0.97
       |STUDYA,P002,heart_rate,72,bpm,2024-01-15T10:00:00Z,SITE_A,
       |STUDYA,P002,weight,82.5,kg,2024-01-15T10:01:00Z,SITE_A,null
       |STUDYA,P003,glucose,100.0,,2024-01-15T11:00:00Z,SITE_A,0.9
       |STUDYA,P003,blood_pressure,120-80,mmHg,2024-01-15T11:01:00Z,SITE_A,0.9
       |STUDYB,P101,cholesterol,180.5,mg/dL,2024-01-16T09:00:00Z,SITE_B,0.95
       |STUDYB,P101,glucose,1000,mg/dL,2024-01-16T09:01:00Z,SITE_B,0.95
       |STUDYB,P102,height,175.0,,2024-01-16T10:00:00Z,SITE_B,0.99
       |STUDYB,P102,note,fasting,,2024-01-16T10:01:00Z,SITE_B,
       |STUDYB,P103,blood_pressure,135/90,mmHg,2024-01-16T11:00:00Z,SITE_B,0.93
       |STUDYB,P103,weight,70.25,kg,2024-01-16T11:01:00Z,SITE_B,0.96
       |""".stripMargin

  // Spark jobs of one warmed 12-row job (local[4]): running status (2),
  // CSV header (1), input pass (2), the fused staging/studies/processed
  // count (8) and its two writes (2), participants merge (3), quality
  // report append (1), aggregate merge (3) and completed status (1). A
  // probe action added anywhere fails this spec.
  private val JobBudget = 23

  test("a warmed 12-row job stays within its Spark-job budget") {
    val (pipe, _) = freshPipeline()
    assert(pipe.processJob("warm", csv("warm.csv", twelveRows)).status == "completed")
    // new observations (shifted dates) so every sink lands rows again
    val next = twelveRows.replace("2024-01-", "2024-02-")
    val path = csv("next.csv", next)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = pipe.processJob("measured", path)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(res.status == "completed", res.message)
      assert(res.stagedRows == 12 && res.processedRows == 14)
      assert(jobs.get() <= JobBudget,
        s"a warmed 12-row job ran ${jobs.get()} Spark jobs; budget $JobBudget")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a file with a blank study_id AND a junk quality_score fails on the study") {
    val (pipe, _) = freshPipeline()
    val both =
      s"""${Fixtures.header}
         |STUDYQ,P001,glucose,100.0,mg/dL,2024-03-04T08:00:00Z,SITE_X,abc
         |,P002,glucose,100.0,mg/dL,2024-03-04T08:00:00Z,SITE_X,0.9
         |""".stripMargin
    val res = pipe.processJob("j-both", csv("both.csv", both))
    assert(res.status == "failed")
    assert(res.message.exists(_.contains("study_id is required")), res.message)
  }

  test("of two junk quality_scores the first in file order is named") {
    val (pipe, _) = freshPipeline()
    val two =
      s"""${Fixtures.header}
         |STUDYQ,P001,glucose,100.0,mg/dL,2024-03-04T08:00:00Z,SITE_X,0.9
         |STUDYQ,P001,glucose,101.0,mg/dL,2024-03-05T08:00:00Z,SITE_X,first-junk
         |STUDYQ,P002,glucose,102.0,mg/dL,2024-03-06T08:00:00Z,SITE_X,0.8
         |STUDYQ,P002,glucose,103.0,mg/dL,2024-03-07T08:00:00Z,SITE_X,abc
         |""".stripMargin
    val res = pipe.processJob("j-two", csv("two.csv", two))
    assert(res.status == "failed")
    assert(res.message.contains("could not convert string to float: 'first-junk'"),
      res.message)
  }

  test("quality report rows per fixture are the reference rule counts") {
    val (pipe, wh) = freshPipeline()
    val expected = Seq(
      ("study001.csv", Fixtures.study001, Set.empty[(String, String, Long)]),
      ("study002.csv", Fixtures.study002, Set.empty[(String, String, Long)]),
      ("bad_bp.csv", Fixtures.badBp, Set(("malformed_blood_pressure", "error", 1L))),
      ("oob_bp.csv", Fixtures.oobBp, Set(("malformed_blood_pressure", "error", 1L))),
      ("missing_unit.csv", Fixtures.missingUnit, Set(("missing_unit_required", "warn", 1L))),
      ("out_of_range.csv", Fixtures.outOfRange, Set(("numeric_out_of_range", "warn", 1L))),
      ("twelve.csv", twelveRows, Set(("missing_unit_required", "warn", 2L),
        ("malformed_blood_pressure", "error", 1L), ("numeric_out_of_range", "warn", 1L))))
    expected.zipWithIndex.foreach { case ((name, content, _), i) =>
      assert(pipe.processJob(s"q-$i", csv(name, content)).status == "completed", name)
    }
    val q = wh.read("data_quality_reports", Schemas.qualityReports).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getLong(3)))
    expected.zipWithIndex.foreach { case ((name, content, rows), i) =>
      assert(q.filter(_._1 == s"q-$i").map(_._2).toSet == rows, name)
      // the fused input pass counts what one standalone rule pass counts
      val standalone = Quality.check(spark, Ingest.readCsv(spark, csv(name, content)),
        Quality.ReferenceRules, s"q-$i").collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(standalone == rows, name)
    }
  }

  test("agg merge rewrites exactly the studies with numeric rows") {
    val (pipe, wh) = freshPipeline()
    val first =
      s"""${Fixtures.header}
         |SA,P,glucose,100,mg/dL,2024-01-01T00:00:00Z,SITE_A,0.9
         |SB,P,glucose,150,mg/dL,2024-01-01T00:00:00Z,SITE_B,0.9
         |""".stripMargin
    // SA arrives again with text values only: no aggregate row of SA
    // changes, so its partition must not be rewritten; SB's must be
    val second =
      s"""${Fixtures.header}
         |SA,P,note,fasting,,2024-01-02T00:00:00Z,SITE_A,0.9
         |SB,P,glucose,50,mg/dL,2024-01-02T00:00:00Z,SITE_B,0.9
         |""".stripMargin
    pipe.processJob("j-1", csv("first.csv", first))
    def filesOf(study: String): Map[String, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      val p = wh.currentDir("measurement_aggregations").get.resolve(s"study_id=$study")
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> java.nio.file.Files.getLastModifiedTime(f))
        .toMap
    }
    val (sa, sb) = (filesOf("SA"), filesOf("SB"))
    assert(pipe.processJob("j-2", csv("second.csv", second)).status == "completed")
    assert(filesOf("SA") == sa)
    assert(filesOf("SB").keySet != sb.keySet)
    val aggs = wh.read("measurement_aggregations", Schemas.aggregations)
    assert(aggs.filter(col("study_id") === "SA").head().getAs[String]("job_id") == "j-1")
    assert(aggs.filter(col("study_id") === "SB").head()
      .getAs[java.math.BigDecimal]("min_num").doubleValue() == 50.0)
  }

  private def persistentRddIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a job failing mid-pipeline releases its cached input") {
    val (pipe, wh) = freshPipeline()
    // a regular file where the aggregates table belongs: the job fails in
    // its last stage, after the cached input has been materialized
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(wh.root, "measurement_aggregations"), "not a table")
    val before = persistentRddIds()
    val res = pipe.processJob("j-fail", csv("study001.csv", Fixtures.study001))
    assert(res.status == "failed")
    assert(wh.read("staging_clinical_measurements", Schemas.staging).count() == 6)
    assert(persistentRddIds() -- before == Set.empty)
  }

  test("a write failing inside appendIfAbsentMany releases every staged cache") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("whleak").toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, v INT")
    val batch = (0 until 5).map(i => (i, 1)).toDF("id", "v")
    val before = persistentRddIds()
    // the staging count succeeds; b's write names a missing partition column
    intercept[Exception] {
      wh.appendIfAbsentMany(Seq(
        wh.Append("a", schema, batch, Seq("id"), "id"),
        wh.Append("b", schema, batch, Seq("id"), "id", partitionBy = Seq("missing"))))
    }
    assert(wh.read("a", schema).count() == 5)
    assert(persistentRddIds() -- before == Set.empty)
  }
}
