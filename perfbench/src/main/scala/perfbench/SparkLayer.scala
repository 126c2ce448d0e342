package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One completed Spark stage, as the listener saw it. */
final case class StageRec(
    stageId: Int, group: String, execId: Long, jobId: Int,
    scans: Set[String], writesFiles: Boolean,
    startMs: Long, endMs: Long, cpuNs: Long, gcMs: Long, runMs: Long,
    shuffleWrite: Long, inputBytes: Long, outputBytes: Long, taskMs: Seq[Long])

/** Listener the traced run attaches. Jobs are attributed to the job group
  * the benchmark sets around each call; scans are labelled by the table a
  * stage reads, found by matching the stage's SQL-metric accumulators to
  * the scan nodes of the SQL plan (so no program code is touched).
  */
final class StageRecorder extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, (String, Long, Int)]
  private val accTable = mutable.Map.empty[Long, String]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[StageRec]

  private def tableOf(location: String): String =
    if (location.contains("/docs.parquet")) "docs"
    else if (location.contains("/media.parquet")) "media"
    else if (location.contains("/extracted")) "extracted"
    else "other"

  private def register(p: SparkPlanInfo): Unit = {
    p.metadata.get("Location").foreach { loc =>
      val t = tableOf(loc)
      p.metrics.foreach(m => accTable(m.accumulatorId) = t)
    }
    p.children.foreach(register)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => register(u.sparkPlanInfo)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    j.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = (group, exec, j.jobId))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
  }

  override def onStageCompleted(c: SparkListenerStageCompleted): Unit = synchronized {
    val si = c.stageInfo
    val m = si.taskMetrics
    val (group, exec, job) = stageGroup.getOrElse(si.stageId, ("", -1L, -1))
    val scans = si.accumulables.keys.flatMap(accTable.get).toSet
    done += StageRec(si.stageId, group, exec, job, scans,
      writesFiles = m != null && m.outputMetrics.bytesWritten > 0,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      taskMs.remove(si.stageId).map(_.toList).getOrElse(Nil))
  }

  /** Completed stages of one job group; waits for the listener bus first. */
  def stagesOf(spark: org.apache.spark.sql.SparkSession, group: String): Seq[StageRec] = {
    SparkLayer.drain(spark)
    synchronized(done.filter(_.group == group).toList)
  }
}

object SparkLayer {
  val Families = Seq("scan_text", "scan_media", "join", "assemble_commit", "metrics", "resume_scan")
  val Measures = Seq("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "task_skew")

  /** Waits until every posted listener event has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.perfbenchshim.BusShim.drain(spark.sparkContext)
  }

  /** Stage family of each stage of one extraction op. The extraction
    * execution is the first SQL execution whose stages scan the docs
    * table; jobs before it read committed snapshots (resume_scan), jobs
    * after it write and read back run metrics (metrics).
    */
  def families(stages: Seq[StageRec]): Seq[(String, StageRec)] = {
    val extractionExec = stages.filter(_.scans("docs")).map(_.execId).filter(_ >= 0)
      .sorted.headOption.getOrElse(Long.MaxValue)
    val firstExtractionJob = stages.filter(_.execId == extractionExec).map(_.jobId)
      .sorted.headOption.getOrElse(Int.MaxValue)
    stages.map { s =>
      val fam =
        if (s.execId == extractionExec) {
          if (s.scans("docs")) "scan_text"
          else if (s.scans("media")) "scan_media"
          else if (s.scans("extracted")) "resume_scan"
          else if (s.writesFiles) "assemble_commit"
          else "join"
        } else if (s.jobId < firstExtractionJob) "resume_scan"
        else "metrics"
      fam -> s
    }
  }

  /** Per-family measures of one op. task_skew = max / median task time. */
  def familyMetrics(stages: Seq[StageRec]): Map[String, Double] = {
    val byFam = families(stages).groupBy(_._1).map { case (f, ss) => f -> ss.map(_._2) }
    Families.flatMap { f =>
      val ss = byFam.getOrElse(f, Nil)
      val tasks = ss.flatMap(_.taskMs).sorted
      val skew =
        if (tasks.isEmpty) 0.0
        else tasks.last.toDouble / math.max(1L, tasks(tasks.size / 2)).toDouble
      Seq(
        s"spark.$f.wall_s" -> ss.map(s => (s.endMs - s.startMs) / 1e3).sum,
        s"spark.$f.cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        s"spark.$f.gc_s" -> ss.map(_.gcMs).sum / 1e3,
        s"spark.$f.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
        s"spark.$f.task_skew" -> skew)
    }.toMap
  }
}
