package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Gen
import graft.spark.{IcebergLite, Pipeline, Runner}
import graft.streaming.StreamingFacade

/** The streaming facade: identical kernels lifted into Structured
  * Streaming via readStream + foreachBatch (SURVEY.md §2.10). The batch
  * pipeline's output is the oracle.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming extraction == batch extraction (AvailableNow over the corpus)") {
    spark.sparkContext.setLogLevel("WARN")
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-scorpus").toString
    Gen.writeCorpus(spark, corpusDir, nDocs = 200)
    val outDir = java.nio.file.Files.createTempDirectory("graft-sout").toString

    val q = StreamingFacade.start(spark, s"$corpusDir/docs.parquet",
      s"$corpusDir/media.parquet", outDir)
    q.awaitTermination(120000)

    val streamed = IcebergLite.readAll(spark, Runner.extractedDir(outDir)).get
    assert(streamed.count() == 200)
    assert(streamed.select("doc_id").distinct().count() == 200)

    // batch oracle: identical span fingerprints per doc
    val batch = Pipeline.extract(spark,
      Gen.readDocs(spark, corpusDir), Gen.readMedia(spark, corpusDir)).toDF()
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), sha2(to_json(col("spans")), 256).as("fp"))
    val diff = fp(streamed).as("a").join(fp(batch).as("b"), Seq("doc_id"), "full_outer")
      .filter(col("a.fp").isNull || col("b.fp").isNull || col("a.fp") =!= col("b.fp"))
      .count()
    assert(diff == 0)
    // micro-batches left lineage: multiple stream-<n> run ids
    assert(streamed.select("run_id").distinct().count() >= 2)
    // each micro-batch's metrics count only its own batch
    def perRun(df: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.Column) =
      df.groupBy("run_id").agg(n).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val metrics = IcebergLite.readAll(spark, Runner.metricsDir(outDir)).get
    assert(perRun(metrics, sum("docs")) == perRun(streamed, count(lit(1))))
  }

  test("watermarked hourly windowed agg: stream (update mode) == batch") {
    import graft.streaming.StreamingOps
    spark.sparkContext.setLogLevel("WARN")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      // the table stores TIMESTAMP_NTZ; watermarks need TIMESTAMP
      .select(col("event_type"), col("ts").cast("timestamp").as("ts"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sevents").toString
    events.repartition(6).write.parquet(s"$dir/in") // several files => several micro-batches
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$dir/in")
    // files replay in arbitrary time order, so equality needs a watermark
    // covering the corpus span (a tight watermark legitimately DROPS the
    // out-of-order replays — asserted separately below)
    val q = StreamingOps.hourlyCounts(stream, watermark = "365 days")
      .writeStream.format("memory").queryName("hourly")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // update mode re-emits a window on every refinement; the LAST emit per
    // key is the final value — dedup by max n
    val streamed = spark.table("hourly")
      .groupBy("win_start", "event_type")
      .agg(max(struct(col("n"), col("sum_value"))).as("s"))
      .select(col("win_start"), col("event_type"), col("s.n"), col("s.sum_value"))
    val batch = StreamingOps.hourlyCounts(events)
    val diff = streamed.as("a").join(batch.as("b"),
        Seq("win_start", "event_type"), "full_outer")
      .filter(col("a.n").isNull || col("b.n").isNull ||
        col("a.n") =!= col("b.n") || col("a.sum_value") =!= col("b.sum_value"))
      .count()
    assert(diff == 0)
    assert(batch.count() > 0)
  }

  test("watermark drops late data (crafted two-batch scenario)") {
    import graft.streaming.StreamingOps
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    // Two sequential AvailableNow runs over one checkpoint make the
    // arrival order deterministic (FileStreamSource's listing order is
    // not): run 1 sees the on-time events and commits watermark 22:30 to
    // the checkpoint; run 2 sees only the LATE 10:30 event.
    val schema = Seq(("a", ts(0, 0), 1.0)).toDF("event_type", "ts", "value").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      // APPEND mode: a window is emitted exactly once, when the watermark
      // passes its end; rows arriving after that are dropped. (Update
      // mode gives no late-drop guarantee while state is still live.)
      val q = StreamingOps.hourlyCounts(stream, watermark = "30 minutes")
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    Seq(("a", ts(10, 0), 1.0), ("a", ts(10, 20), 1.0), ("a", ts(23, 0), 1.0))
      .toDF("event_type", "ts", "value").repartition(1).write.parquet(s"$dir/in")
    run() // emits window 10:00 (n=2) once the watermark passes 11:00
    Seq(("a", ts(10, 30), 1.0)).toDF("event_type", "ts", "value")
      .repartition(1).write.mode("append").parquet(s"$dir/in")
    run() // the late 10:30 row is older than the committed watermark: dropped
    val out = spark.read.parquet(s"$dir/out")
    val rows = out.filter(col("win_start") === ts(10, 0)).collect()
    assert(rows.length == 1, rows.mkString(", "))
    assert(rows(0).getAs[Long]("n") == 2,
      s"late 10:30 event must be dropped, got ${rows(0)}")
    // the 23:00 window never closed (watermark stops at 22:30): not emitted
    assert(out.filter(col("win_start") === ts(23, 0)).count() == 0)
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark drops re-deliveries, state expires") {
    import graft.streaming.StreamingOps
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val schema = Seq(("h", ts(0, 0))).toDF("text_hash", "ts").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      val q = StreamingOps.dedupStream(stream, watermark = "30 minutes")
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // batch 1: two copies of hashA within one batch + hashB -> one each;
    // committed watermark stays at 09:40 (max 10:10 - 30m), so hashA
    // state (expires 10:30) is still live for the next batch
    Seq(("hashA", ts(10, 0)), ("hashA", ts(10, 5)), ("hashB", ts(10, 10)))
      .toDF("text_hash", "ts").repartition(1).write.parquet(s"$dir/in")
    run()
    // batch 2: a re-delivery of hashA while its state is live is
    // dropped; a fresh hashC passes
    Seq(("hashA", ts(10, 20)), ("hashC", ts(10, 25)))
      .toDF("text_hash", "ts").repartition(1).write.mode("append").parquet(s"$dir/in")
    run()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.filter(col("text_hash") === "hashA").count() == 1, "re-delivery must dedup")
    assert(out.filter(col("text_hash") === "hashB").count() == 1)
    assert(out.filter(col("text_hash") === "hashC").count() == 1)
    // batch 3: advance the watermark past hashA's expiry (12:00 - 30m =
    // 11:30 > 10:00 + 30m) so its state is GC'd...
    Seq(("hashD", ts(12, 0)))
      .toDF("text_hash", "ts").repartition(1).write.mode("append").parquet(s"$dir/in")
    run()
    // ...batch 4: hashA re-appears long after expiry and passes —
    // bounded-state semantics, not an eternal global set
    Seq(("hashA", ts(20, 0)))
      .toDF("text_hash", "ts").repartition(1).write.mode("append").parquet(s"$dir/in")
    run()
    val out2 = spark.read.parquet(s"$dir/out")
    assert(out2.filter(col("text_hash") === "hashA").count() == 2,
      "expired state must re-admit the hash (bounded-state contract)")
  }

  test("flatMapGroupsWithState sessionization: gap-closed and timeout-closed sessions") {
    import graft.streaming.StreamingOps
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    def ts(min: Int, sec: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")
    // user 1: two sessions split by a 10-min gap (events 1-3, then 4-5);
    // user 2: one session far in the past (closed by watermark timeout)
    val batch1 = Seq(
      StreamingOps.Evt(1L, 1L, ts(0)), StreamingOps.Evt(1L, 2L, ts(1)),
      StreamingOps.Evt(1L, 3L, ts(2)),
      StreamingOps.Evt(2L, 10L, ts(0)), StreamingOps.Evt(2L, 11L, ts(3)))
    val batch2 = Seq(
      StreamingOps.Evt(1L, 4L, ts(12)), StreamingOps.Evt(1L, 5L, ts(13)),
      // watermark driver: far-future event pushes the watermark past
      // user 2's last+gap, closing their session by timeout
      StreamingOps.Evt(9L, 99L, ts(59)))
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    batch1.toDS().repartition(1).write.parquet(s"$dir/in/b1")
    batch2.toDS().repartition(1).write.parquet(s"$dir/in/b2")
    val stream = spark.readStream.schema(batch1.toDS().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
      .as[StreamingOps.Evt]
    val q = StreamingOps.sessionize(stream, gapSec = 300) // 5-min gap
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("sessions")
      .as[StreamingOps.SessionOut].collect().sortBy(s => (s.user_id, s.duration_s))
    // user 1's first session (3 events, 2 min) closes by in-stream gap;
    // the second (2 events, 1 min) and user 2's (2 events, 3 min) close
    // by event-time timeout once the 10:59 event drives the watermark
    // past last+gap. User 9's own session stays open (watermark = 10:59
    // - 10s delay < 10:59 + gap) and must NOT be emitted.
    val u1 = out.filter(_.user_id == 1L).sortBy(_.n_events)
    assert(u1.length == 2, out.mkString(", "))
    assert(u1(1).n_events == 3 && u1(1).duration_s == 120 && u1(1).closed_by == "gap")
    assert(u1(0).n_events == 2 && u1(0).duration_s == 60 && u1(0).closed_by == "timeout")
    val u2 = out.filter(_.user_id == 2L)
    assert(u2.length == 1 && u2.head.n_events == 2 &&
      u2.head.duration_s == 180 && u2.head.closed_by == "timeout", out.mkString(", "))
    assert(out.forall(_.user_id != 9L), "open session must not be emitted")
  }
}
