package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.corpus.Gen
import graft.spark.{IcebergLite, Runner}

/** Runner's run metrics: counted by the write job itself, they must equal
  * a rescan of the committed snapshot, and computing them must not read
  * that snapshot back.
  */
class RunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val corpusDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rcorpus").toString
    Gen.writeCorpus(spark, dir, nDocs = 200)
    dir
  }

  def freshOut(): String =
    java.nio.file.Files.createTempDirectory("graft-rout").toString

  def half(docs: DataFrame): DataFrame =
    docs.filter(abs(hash(col("doc_id"))) % 2 === 0)

  /** The metrics as a rescan of one committed snapshot: the groupBy the
    * runner used before counting in the write job, plus the issue
    * taxonomy from groupBy(part_id, issue_type). wall_ms is a constant.
    */
  def rescanMetrics(snapDf: DataFrame, snap: Long): DataFrame = {
    val counts = snapDf.groupBy(col("run_id"), col("part_id")).agg(
      count(lit(1)).as("docs"),
      sum(when(col("status") === "ok", 1L).otherwise(0L)).as("docs_ok"),
      sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("docs_failed"),
      sum(col("bytes_in")).as("bytes_in"),
      sum(size(col("spans"))).as("out_spans"))
      .withColumn("snapshot_id", lit(snap))
      .withColumn("wall_ms", lit(0L))
    val issues = snapDf.filter(col("issue_type") =!= "")
      .groupBy(col("part_id"), col("issue_type")).count()
      .groupBy(col("part_id"))
      .agg(map_from_entries(collect_list(struct(col("issue_type"), col("count"))))
        .as("issue_type_counts"))
    counts.join(issues, Seq("part_id"), "left")
      .select(counts.columns.map(col).toIndexedSeq :+
        coalesce(col("issue_type_counts"), map().cast("map<string,bigint>"))
          .as("issue_type_counts"): _*)
  }

  /** Every column but wall_ms, one tuple per row, sorted by part_id. */
  def canon(df: DataFrame) =
    df.collect().toSeq.map { r =>
      (r.getAs[String]("run_id"), r.getAs[Int]("part_id"), r.getAs[Long]("docs"),
        r.getAs[Long]("docs_ok"), r.getAs[Long]("docs_failed"),
        r.getAs[Long]("bytes_in"), r.getAs[Long]("out_spans"),
        r.getAs[Long]("snapshot_id"),
        r.getMap[String, Long](r.fieldIndex("issue_type_counts")).toMap)
    }.sortBy(_._2)

  def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** Runs one Runner.run and checks its metrics rows and RunStats against
    * the rescan of the snapshot it committed.
    */
  def runAndCheck(docs: DataFrame, media: DataFrame, outDir: String,
      runId: String): Runner.RunStats = {
    val stats = Runner.run(spark, docs, media, outDir, runId)
    val snapDf = IcebergLite.readSnapshot(spark, Runner.extractedDir(outDir),
      stats.snapshotId)
    // one metrics snapshot per run, committed next to the extracted one
    assert(IcebergLite.currentSnapshot(Runner.metricsDir(outDir)) == stats.snapshotId)
    val metrics = IcebergLite.readSnapshot(spark, Runner.metricsDir(outDir),
      stats.snapshotId)
    val expected = rescanMetrics(snapDf, stats.snapshotId)
    assert(types(metrics) == types(expected))
    assert(metrics.columns.toSeq == Seq("run_id", "part_id", "docs", "docs_ok",
      "docs_failed", "bytes_in", "out_spans", "snapshot_id", "wall_ms",
      "issue_type_counts"))
    assert(canon(metrics) == canon(expected), s"run $runId")
    assert(stats.docsProcessed == snapDf.count())
    assert(stats.docsFailed == snapDf.filter(col("status") =!= "ok").count())
    stats
  }

  test("metrics rows and RunStats equal a rescan of the committed snapshot") {
    spark.sparkContext.setLogLevel("WARN")
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    // fresh: half the docs into an empty table
    val s1 = runAndCheck(half(docs), media, outDir, "run-1")
    assert(s1.docsProcessed > 0 && s1.docsProcessed < 200)
    // resumed: the rest (media gate on)
    val s2 = runAndCheck(docs, media, outDir, "run-2")
    assert(s1.docsProcessed + s2.docsProcessed == 200)
    // nothing to do: an empty metrics snapshot
    val s3 = runAndCheck(docs, media, outDir, "run-3")
    assert(s3.docsProcessed == 0 && s3.docsFailed == 0)
    assert(IcebergLite.readSnapshot(spark, Runner.metricsDir(outDir), s3.snapshotId)
      .count() == 0)
    // the corpus has failures, so the taxonomy column is exercised
    val issues = IcebergLite.readAll(spark, Runner.metricsDir(outDir)).get
      .select(explode(col("issue_type_counts"))).count()
    assert(issues > 0)
  }

  test("Runner.run never scans the snapshot it just committed") {
    val outDir = freshOut()
    val docs = Gen.readDocs(spark, corpusDir)
    val media = Gen.readMedia(spark, corpusDir)
    val scanned = new ConcurrentLinkedQueue[String]()
    val markers = new AtomicInteger(0)
    val marker = "runner_spec_marker"
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => scanned.add(p.toUri.getPath.stripSuffix("/")))
            case _ =>
          }
          case _ =>
        }
        if (qe.analyzed.output.exists(_.name == marker)) markers.incrementAndGet()
      }
    }
    // listener events arrive asynchronously and in order: a marker query
    // after each run flushes the run's own queries to the listener
    def scansOf(body: => Runner.RunStats): (Runner.RunStats, Seq[String]) = {
      scanned.clear()
      val seen = markers.get()
      val stats = body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (markers.get() == seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markers.get() > seen, "listener never saw the marker query")
      (stats, scanned.asScala.toSeq)
    }
    def snapDir(id: Long) = s"${Runner.extractedDir(outDir)}/data/snap-$id"

    spark.listenerManager.register(listener)
    try {
      val (s1, fresh) = scansOf(Runner.run(spark, half(docs), media, outDir, "run-1"))
      assert(fresh.exists(_.endsWith("/docs.parquet")), s"write not seen: $fresh")
      assert(!fresh.contains(snapDir(s1.snapshotId)), s"fresh run read back its snapshot: $fresh")
      val (s2, resumed) = scansOf(Runner.run(spark, docs, media, outDir, "run-2"))
      assert(resumed.contains(snapDir(s1.snapshotId)), s"resume scan not seen: $resumed")
      assert(!resumed.contains(snapDir(s2.snapshotId)),
        s"resumed run read back its snapshot: $resumed")
    } finally spark.listenerManager.unregister(listener)
  }
}
