package graft.spark

import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.AccumulatorV2

/** Orchestrates one extraction run over a corpus with exact resumability
  * and per-partition lineage + metrics (north rule):
  *
  *  - committed work = doc_ids visible in the extracted table's current
  *    snapshot chain (the table IS the checkpoint: a snapshot only becomes
  *    visible on the atomic manifest commit, so a crash mid-run leaves no
  *    partial state and rerunning resumes via left_anti join);
  *  - lineage: every output row carries (run_id, part_id) of the task that
  *    produced it;
  *  - metrics: the write job's own tasks count docs ok/failed, bytes in,
  *    output spans and the issue taxonomy per part_id; the driver appends
  *    those counts (one row per non-empty partition) to an append-only
  *    metrics table. Nothing rescans the committed snapshot.
  */
object Runner {

  final case class RunStats(
      runId: String, snapshotId: Long, docsProcessed: Long,
      docsFailed: Long, wallMs: Long)

  def extractedDir(outDir: String) = s"$outDir/extracted"
  def metricsDir(outDir: String) = s"$outDir/metrics"

  /** Metrics table rows: one per (run_id, part_id) with committed docs. */
  private val MetricsSchema: StructType = StructType(Seq(
    StructField("run_id", StringType),
    StructField("part_id", IntegerType),
    StructField("docs", LongType),
    StructField("docs_ok", LongType),
    StructField("docs_failed", LongType),
    StructField("bytes_in", LongType),
    StructField("out_spans", LongType),
    StructField("snapshot_id", LongType),
    StructField("wall_ms", LongType),
    StructField("issue_type_counts", MapType(StringType, LongType))))

  def run(spark: SparkSession, docs: DataFrame, media: DataFrame,
      outDir: String, runId: String,
      cfg: Pipeline.Config = Pipeline.Config()): RunStats = {
    import spark.implicits._
    val t0 = System.nanoTime()

    // resume: anti-join against already-committed doc_ids
    val done = IcebergLite.readAll(spark, extractedDir(outDir))
      .map(_.select("doc_id").distinct())
    val todo = done.fold(docs)(d => docs.join(d, Seq("doc_id"), "left_anti"))

    // resume runs gate the media scan by the todo set's referenced keys
    // (the gate's purpose); fresh runs skip the gate's extra docs scan —
    // output rows are identical either way (see Config.gateMediaByReference)
    val runCfg =
      if (done.isDefined) cfg.copy(gateMediaByReference = true) else cfg

    // counted in the write's result stage, after the assembly exchange:
    // Spark applies a result task's accumulator update once (first
    // successful attempt), so retried or speculative tasks never count
    // twice. The task's partition id is the spark_partition_id() that
    // stamps part_id in this same stage.
    val counter = new PartitionCounter
    spark.sparkContext.register(counter)
    val extracted = Pipeline.extract(spark, todo, media, runCfg)
      .mapPartitions { rows =>
        val part = TaskContext.getPartitionId()
        rows.map { r => counter.add(part -> r); r }
      }
      .toDF()
      .withColumn("part_id", spark_partition_id())
      .withColumn("run_id", lit(runId))

    val snap = IcebergLite.append(extracted, extractedDir(outDir))
    val wallMs = (System.nanoTime() - t0) / 1000000L

    val parts = counter.value.toSeq.sortBy(_._1)
    val rows = parts.map { case (part, c) =>
      Row(runId, part, c.docs, c.docsOk, c.docsFailed, c.bytesIn,
        c.outSpans, snap, wallMs, c.issues)
    }
    IcebergLite.append(
      spark.createDataFrame(rows.asJava, MetricsSchema).coalesce(1),
      metricsDir(outDir))

    val total = parts.map(_._2).foldLeft(PartitionCounts.Zero)(_ ++ _)
    RunStats(runId, snap, total.docs, total.docsFailed,
      (System.nanoTime() - t0) / 1000000L)
  }

  /** Counts of one partition's committed rows. */
  private[spark] final case class PartitionCounts(
      docs: Long, docsOk: Long, bytesIn: Long, outSpans: Long,
      issues: Map[String, Long]) {

    def docsFailed: Long = docs - docsOk

    def +(r: ExtractedRow): PartitionCounts = PartitionCounts(
      docs + 1,
      docsOk + (if (r.status == "ok") 1 else 0),
      bytesIn + r.bytes_in,
      outSpans + r.spans.size,
      if (r.issue_type.isEmpty) issues
      else issues.updated(r.issue_type, issues.getOrElse(r.issue_type, 0L) + 1))

    def ++(o: PartitionCounts): PartitionCounts = PartitionCounts(
      docs + o.docs, docsOk + o.docsOk, bytesIn + o.bytesIn,
      outSpans + o.outSpans,
      o.issues.foldLeft(issues) { case (m, (k, n)) =>
        m.updated(k, m.getOrElse(k, 0L) + n)
      })
  }

  private[spark] object PartitionCounts {
    val Zero = PartitionCounts(0L, 0L, 0L, 0L, Map.empty)
  }

  /** (part_id, row) -> per-partition counts. */
  private[spark] final class PartitionCounter
      extends AccumulatorV2[(Int, ExtractedRow), Map[Int, PartitionCounts]] {
    private var parts = Map.empty[Int, PartitionCounts]

    def isZero: Boolean = parts.isEmpty
    def copy(): PartitionCounter = { val c = new PartitionCounter; c.parts = parts; c }
    def reset(): Unit = parts = Map.empty
    def add(v: (Int, ExtractedRow)): Unit =
      parts = parts.updated(v._1, parts.getOrElse(v._1, PartitionCounts.Zero) + v._2)
    def merge(other: AccumulatorV2[(Int, ExtractedRow), Map[Int, PartitionCounts]]): Unit =
      other.value.foreach { case (k, c) =>
        parts = parts.updated(k, parts.get(k).fold(c)(_ ++ c))
      }
    def value: Map[Int, PartitionCounts] = parts
  }

  /** Issue-taxonomy rollup over the whole extracted table (the reference's
    * bad_targets report, reference: lib/rika/cli/rika_command.rb:94-123).
    * Examples are capped at [[MaxExampleDocIds]] per issue: an unbounded
    * collect_list is a single-row bomb at 10^12 docs (one pervasive issue
    * = the whole corpus in one aggregation buffer).
    */
  val MaxExampleDocIds = 100

  def issueReport(spark: SparkSession, outDir: String): DataFrame = {
    IcebergLite.readAll(spark, extractedDir(outDir)) match {
      case Some(df) =>
        df.filter(col("issue_type") =!= "")
          .groupBy("issue_type")
          .agg(count(lit(1)).as("n"),
            slice(sort_array(collect_list("doc_id")), 1, MaxExampleDocIds)
              .as("example_doc_ids"))
          .orderBy("issue_type")
      case None => spark.emptyDataFrame
    }
  }
}
