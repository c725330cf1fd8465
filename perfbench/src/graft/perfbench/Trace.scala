package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Work counters recorded at one span boundary. */
final class Counters {
  var jobs, stages, tasks, taskMs, shuffleBytes, inputBytes, inputRecords,
      outputBytes, spillBytes = 0L
  var catalystMs = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; outputBytes += o.outputBytes
    spillBytes += o.spillBytes; catalystMs += o.catalystMs
  }

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "catalyst_ms" -> catalystMs, "shuffle_bytes" -> shuffleBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "spill_bytes" -> spillBytes)
}

/** Benchmark-owned listener: Spark job intervals with the task metrics of
  * their stages, plus Catalyst phase times from each query execution's
  * tracker. Attached only around traced operations. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val start: Long) {
    var end: Long = start
    val c = new Counters
    c.jobs = 1
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // (first phase start in epoch ms, total analysis+optimization+planning ms)
  private val catalyst = mutable.ArrayBuffer.empty[(Long, Double)]

  def attach(spark: SparkSession): Unit = synchronized {
    jobs.clear(); stageJob.clear(); catalyst.clear()
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait for every queued event, detach, and return what was seen. */
  def detach(spark: SparkSession): (Seq[Job], Seq[(Long, Double)]) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    synchronized((jobs.values.toVector, catalyst.toVector))
  }

  private def jobOfStage(stageId: Int): Option[Job] = stageJob.get(stageId).flatMap(jobs.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage(e.stageInfo.stageId).foreach(_.c.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    jobOfStage(e.stageId).foreach { j =>
      j.c.tasks += 1
      if (m != null) {
        j.c.taskMs += m.executorRunTime
        j.c.inputBytes += m.inputMetrics.bytesRead
        j.c.inputRecords += m.inputMetrics.recordsRead
        j.c.outputBytes += m.outputMetrics.bytesWritten
        j.c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      catalyst += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** A traced interval: an operation, one `onProgress` stage of a clinical
  * job, or one Spark job. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int, c: Counters)

object Spans {
  /** `onProgress` milestones (percent) ending each pipeline stage, in order. */
  val Stages: Seq[(Int, String)] = Seq(10 -> "etl.start", 30 -> "etl.ingest",
    45 -> "etl.stage", 65 -> "etl.dims", 75 -> "etl.transform", 90 -> "etl.quality",
    100 -> "etl.finish")

  /** Build the span tree of operation `op`: the op span, a child per
    * pipeline stage (from the progress timestamps), and a grandchild per
    * Spark job under the stage that was running when the job started.
    * Catalyst time is attributed the same way by its first phase start. */
  def build(op: Int, name: String, start: Double, end: Double,
            progress: Seq[(Int, Double)], jobs: Seq[SparkTrace#Job],
            catalyst: Seq[(Long, Double)], firstId: Int): Seq[Span] = {
    var next = firstId
    def id(): Int = { next += 1; next - 1 }
    val root = Span(id(), name, start, end, -1, op, new Counters)
    // a stage runs from the previous milestone (or the call) to its own;
    // the last one ends when processJob returns
    val stageSpans = {
      val marks = Stages.flatMap { case (pct, n) =>
        progress.find(_._1 == pct).map(p => (n, p._2)) }
      var from = start
      marks.zipWithIndex.map { case ((n, t), k) =>
        val to = if (k == marks.size - 1) end else t
        val s = Span(id(), n, from, to, root.id, op, new Counters)
        from = to
        s
      }
    }
    def owner(t: Double): Span =
      stageSpans.find(s => t >= s.start && t < s.end).getOrElse(root)
    val jobSpans = jobs.map { j =>
      val o = owner(j.start.toDouble)
      o.c.add(j.c); if (o ne root) root.c.add(j.c)
      Span(id(), "spark.job", j.start.toDouble, j.end.toDouble, o.id, op, j.c)
    }
    catalyst.foreach { case (t, ms) =>
      val o = owner(t.toDouble)
      o.c.catalystMs += ms; if (o ne root) root.c.catalystMs += ms
    }
    root +: (stageSpans ++ jobSpans)
  }

  /** Milliseconds of [start, end] covered by at least one job interval. */
  def jobUnionMs(start: Double, end: Double, jobs: Seq[SparkTrace#Job]): Double = {
    val iv = jobs.map(j => (math.max(start, j.start.toDouble), math.min(end, j.end.toDouble)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map(x => x._2 - x._1).getOrElse(0.0)
  }
}
