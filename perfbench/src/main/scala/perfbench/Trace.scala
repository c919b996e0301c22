package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work counted between two boundaries of the benchmark's own loop. */
final class Work {
  var jobs, stages, tasks, failedTasks, singleTaskStages, maxTasksPerStage = 0L
  var taskRunMs, taskCpuNs, gcMs, waitMs = 0L
  var scanBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes, resultBytes = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; singleTaskStages += o.singleTaskStages
    maxTasksPerStage = math.max(maxTasksPerStage, o.maxTasksPerStage)
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    waitMs += o.waitMs; scanBytes += o.scanBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; resultBytes += o.resultBytes
    this
  }

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "single_task_stages" -> singleTaskStages,
    "max_tasks_per_stage" -> maxTasksPerStage, "task_run_ms" -> taskRunMs,
    "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs, "task_wait_ms" -> waitMs,
    "scan_bytes" -> scanBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "result_bytes" -> resultBytes)
}

/** One traced interval. Times are milliseconds since the run started. */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      start: Double, end: Double, counters: String = "{}") {
  def json: String = {
    val base = Json.obj("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
      "layer" -> layer, "start_ms" -> start, "end_ms" -> end)
    if (counters == "{}") base else base.dropRight(1) + ",\"counters\":" + counters + "}"
  }
}

/** The traced run's recorder: a SparkListener that counts jobs, stages and
  * tasks into the current bucket, plus the span tree
  * run → operation → layer phase → Spark job, kept in memory and written
  * once when the run ends. The untraced run never creates one. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private var cur = new Work
  private var jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  val spans = ArrayBuffer.empty[Span]
  val total = new Work
  private var nextId = 1
  spark.sparkContext.addSparkListener(this)

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def wallToRel(ms: Long): Double = (ms - t0Ms).toDouble

  def newId(): Int = { val i = nextId; nextId += 1; i }

  /** Wait for the listener bus, then hand over and reset the bucket and the
    * job spans counted since the previous call. */
  def take(keep: Boolean = true): (Work, Seq[(Int, Double, Double)]) = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    synchronized {
      val w = cur; val js = jobSpans
      cur = new Work; jobSpans = ArrayBuffer.empty
      if (keep) total.add(w)
      (w, js.map { case (id, s, e) => (id, (s - t0Ms).toDouble, (e - t0Ms).toDouble) }.toSeq)
    }
  }

  /** Record a finished phase span with its counters and its job children. */
  def phase(parent: Int, op: Int, name: String, layer: String,
            start: Double, end: Double): (Int, Work) = {
    val (w, js) = take()
    val id = newId()
    spans += Span(id, parent, op, name, layer, start, end, w.json)
    js.foreach { case (j, s, e) => spans += Span(newId(), id, op, s"job $j", "spark", s, e) }
    (id, w)
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans += ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = t)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val n = e.stageInfo.numTasks.toLong
    cur.stages += 1
    if (n == 1) cur.singleTaskStages += 1
    cur.maxTasksPerStage = math.max(cur.maxTasksPerStage, n)
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    if (e.reason != Success) cur.failedTasks += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s =>
      cur.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.scanBytes += m.inputMetrics.bytesRead
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.resultBytes += m.resultSize
    }
  }

  /** Self time per layer: a span's duration minus the part of it covered by
    * its children. */
  def selfTimes: Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1).toSeq)
      s.layer -> ((s.end - s.start - covered) / 1000.0)
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }.toSeq.sortBy(-_._2)
  }

  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (s, e)) =>
      if (e <= end) (acc, end)
      else (acc + e - math.max(s, end), e)
    }._1
}
