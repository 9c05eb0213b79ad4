package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** Spark-side trace of one `Extract.run` call: `attach` registers the
  * listener on the benchmark's own session just before the call and
  * `detach` removes it after, so untraced calls carry no listener. The
  * listener keeps job, stage and task records in memory; `window` turns the
  * records of the call into spans and the Spark-side layer metrics.
  *
  * Both `attach` and `detach` run a one-task marker job and wait for its end
  * event. The bus delivers in order, so after `detach` every event of the
  * call has arrived; and since the scheduler numbers jobs consecutively,
  * the call's jobs are exactly the ids between the two markers — a job the
  * listener missed shows as a hole in that range.
  */
final class SparkTrace extends SparkListener {
  import SparkTrace._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageNames = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val writeExecs = mutable.Set.empty[Long]
  private val markers = mutable.ArrayBuffer.empty[Int]
  @volatile private var marker: CountDownLatch = new CountDownLatch(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, exec, group == MarkerGroup)
    if (group == MarkerGroup) markers += e.jobId
    e.stageInfos.foreach { s =>
      if (!stageJob.contains(s.stageId)) stageJob(s.stageId) = e.jobId
      stageNames(s.stageId) = s.name
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val isMarker = synchronized {
      jobs.get(e.jobId).map { j => jobs(e.jobId) = j.copy(end = e.time); j.marker }.getOrElse(false)
    }
    if (isMarker) marker.countDown()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, i.attemptNumber, i.speculative,
      i.successful,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleWriteMetrics.writeTime,
      if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.outputMetrics.recordsWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      if (s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
        synchronized(writeExecs += s.executionId)
    case _ => ()
  }

  /** Forget what an earlier call left, register, and mark the start. */
  def attach(spark: SparkSession): Unit = {
    synchronized {
      jobs.clear(); stageJob.clear(); stageNames.clear(); tasks.clear(); writeExecs.clear()
      markers.clear()
    }
    spark.sparkContext.addSparkListener(this)
    runMarker(spark)
  }

  /** Mark the end, wait until the bus has delivered it, unregister. */
  def detach(spark: SparkSession): Unit =
    try runMarker(spark)
    finally spark.sparkContext.removeSparkListener(this)

  private def runMarker(spark: SparkSession): Unit = {
    marker = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "trace marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    require(marker.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
  }

  /** The jobs between the two markers (the traced call's), as spans under
    * `parent`, plus the Spark-side layer metrics of the call and the checks
    * of the trace against figures it did not produce:
    *  - every job id between the markers has a start and an end record;
    *  - the write jobs' tasks read at least the `rows` input rows and wrote
    *    at least the `docs` rows the manifest counts (a lost task event
    *    shows as a shortfall);
    *  - the write jobs fit inside `bucketSecs`, the program's own per-bucket
    *    time from the manifest, which runs from each bucket's scan to its
    *    written files.
    */
  def window(startMs: Long, endMs: Long, wallS: Double, cores: Int, rows: Long, docs: Long,
             bucketSecs: Double, outFiles: Int, spans: Spans, parent: Int): Window = synchronized {
    require(markers.length == 2, s"expected 2 marker jobs, saw ${markers.length}")
    val js = jobs.values.filter(!_.marker).toVector
    val jobIds = js.map(_.id).toSet
    val unrecorded = (markers(0) + 1 until markers(1)).filterNot(id =>
      jobIds.contains(id) && jobs(id).end >= 0)
    val ts = tasks.filter(t => stageJob.get(t.stageId).exists(jobIds.contains)).toVector
    val byStage = ts.groupBy(_.stageId)
    val isWrite = js.map(j => j.id -> j.exec.exists(writeExecs.contains)).toMap
    def stageWrite(s: Int) = isWrite.getOrElse(stageJob(s), false)
    // parse stage: the write job's stage that reads the payload shuffle and
    // writes the parquet files; scan stage: the write job's stage that
    // reads the pages table and writes the shuffle
    val parseStages = byStage.filter { case (s, t) => stageWrite(s) && t.exists(_.outBytes > 0) }
    val scanStages = byStage.filter { case (s, t) => stageWrite(s) && t.exists(_.shWBytes > 0) }

    // spans: job -> stage -> task aggregate
    js.sortBy(_.start).foreach { j =>
      val kind = if (isWrite(j.id)) "write" else if (j.exec.isDefined) "readback" else "other"
      val jSpan = spans.add(s"job.$kind", parent, j.start.toDouble, j.end.toDouble,
        "job_id" -> j.id)
      byStage.filter { case (s, _) => stageJob(s) == j.id }.toVector.sortBy(_._1).foreach {
        case (s, t) =>
          val st = t.map(_.launch).min.toDouble
          val en = t.map(_.finish).max.toDouble
          val sSpan = spans.add("stage", jSpan, st, en, "stage_id" -> s,
            "name" -> stageNames.getOrElse(s, ""))
          spans.add("tasks", sSpan, st, en, "n" -> t.length, "task_ms_sum" -> t.map(_.dur).sum,
            "cpu_ms_sum" -> t.map(_.cpuNs).sum / 1e6, "gc_ms_sum" -> t.map(_.gcMs).sum)
      }
    }

    val covered = union(js.map(j => (math.max(j.start, startMs), math.min(j.end, endMs))))
    val wallMs = wallS * 1000
    val gapS = math.max(0.0, wallMs - covered) / 1000
    val readbackS = union(js.filter(j => !isWrite(j.id) && j.exec.isDefined)
      .map(j => (j.start, j.end))) / 1000
    val parseTasks = parseStages.values.flatten.toVector
    val skew = parseStages.values.toVector.map { t =>
      val ok = t.filter(_.successful).map(_.dur.toDouble)
      if (ok.isEmpty) 1.0 else ok.max / math.max(1.0, Stats.median(ok))
    }
    def sumL(xs: Iterable[TaskRec])(f: TaskRec => Long) = xs.iterator.map(f).sum.toDouble
    val scanTasks = scanStages.values.flatten
    val writeTasks = ts.filter(t => isWrite(stageJob(t.stageId)))
    val writeS = union(js.filter(j => isWrite(j.id)).map(j => (j.start, j.end))) / 1000
    val recordsRead = sumL(writeTasks)(_.inRecords).toLong
    val recordsWritten = sumL(writeTasks)(_.outRecords).toLong
    val problems = Vector(
      if (unrecorded.isEmpty) None
      else Some(s"no complete record of job(s) ${unrecorded.mkString(",")}"),
      if (recordsRead >= rows) None
      else Some(s"write-job tasks read $recordsRead records of $rows input rows"),
      if (recordsWritten >= docs) None
      else Some(s"write-job tasks wrote $recordsWritten records of $docs committed docs"),
      // event times are whole milliseconds: allow 2 ms per job
      if (writeS <= bucketSecs + 0.002 * js.length) None
      else Some(f"write jobs took $writeS%.3f s, longer than the buckets' $bucketSecs%.3f s")
    ).flatten
    val metrics = Vector(
      ("scan.input_records", recordsRead.toDouble, "count"),
      ("shuffle.write_mb", sumL(scanTasks)(_.shWBytes) / 1e6, "MB"),
      ("shuffle.write_s", sumL(scanTasks)(_.shWTimeNs) / 1e9, "s"),
      ("parse_stage.shuffle_fetch_wait_s", sumL(parseTasks)(_.fetchWaitMs) / 1e3, "s"),
      ("parse_stage.task_s", sumL(parseTasks)(_.dur) / 1e3, "s"),
      ("parse_stage.cpu_s", sumL(parseTasks)(_.cpuNs) / 1e9, "s"),
      ("parse_stage.gc_s", sumL(parseTasks)(_.gcMs) / 1e3, "s"),
      ("parse_stage.tasks", parseTasks.length.toDouble, "count"),
      ("parse_stage.task_retries",
        ts.count(t => t.attempt > 0 || t.speculative || !t.successful).toDouble, "count"),
      ("parse_stage.task_max_over_median", if (skew.isEmpty) 1.0 else Stats.median(skew), "ratio"),
      ("core_util", sumL(ts)(_.dur) / (wallMs * cores), "frac"),
      ("write.output_mb", sumL(parseTasks)(_.outBytes) / 1e6, "MB"),
      ("write.files", outFiles.toDouble, "count"),
      ("readback_job.s", readbackS, "s"),
      ("driver.gap_s", gapS, "s"),
      ("jobs", js.length.toDouble, "count"),
      ("bucket.write_job_share", writeS / math.max(1e-9, bucketSecs), "frac"))
    Window(metrics, problems)
  }
}

object SparkTrace {
  val MarkerGroup = "perfbench-trace-marker"

  /** Metrics of one traced call, and the checks it failed. */
  final case class Window(metrics: Vector[(String, Double, String)], problems: Vector[String])

  final case class JobRec(id: Int, start: Long, end: Long, exec: Option[Long], marker: Boolean)
  final case class TaskRec(stageId: Int, launch: Long, finish: Long, attempt: Int,
                           speculative: Boolean, successful: Boolean, cpuNs: Long, gcMs: Long,
                           outBytes: Long, shWBytes: Long, shWTimeNs: Long,
                           fetchWaitMs: Long, inRecords: Long, outRecords: Long) {
    def dur: Long = finish - launch
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
