package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Gen
import graft.kernel.Extract
import graft.operators.{Curation, Dedup, ImageOps, Multimodal, Par, TextOps}
import graft.spark.{IcebergLite, Runner}

/** One timed op: wall time, process CPU, JIT compiler time and GC pause
  * time over the timed call, docs in its input, peak heap, and the error
  * its correctness check found (checks run after the timer stopped).
  */
final case class OpResult(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long, docs: Long,
    heapPeakMb: Double, error: Option[String], layer: Map[String, Double] = Map.empty)

object Ctx {
  /** Large enough that seeds differ in which docs they draw, small enough
    * that every seed draws most of it: what a seed changes is then mostly
    * which docs it gets, not how heavy its mix is.
    */
  val PoolDocs = 2000
  val CorpusCacheSize = 24

  def written(table: File): Boolean = new File(table, "_SUCCESS").exists()
}

/** The context every workload runs in. */
final class Ctx(val spark: SparkSession, val root: File, val seed: Long) {
  val trace = new Trace
  /** Set for the traced phase of a traced run. */
  var recorder: Option[StageRecorder] = None
  val work = new File(root, ".bench_build/work")
  val corpusHash: String = Inputs.corpusSourceHash(root)

  private val cache = new File(root, ".bench_build/corpus")

  /** The generator pool every run's corpus is drawn from: Gen.writeCorpus
    * over [[Ctx.PoolDocs]] docs, made once per checkout and generator
    * version (the key holds the generator source hash).
    */
  private def pool(): File = {
    val dir = new File(cache, s"pool-n${Ctx.PoolDocs}-c$corpusHash")
    if (!Ctx.written(new File(dir, "golden.parquet")))
      atomically(dir)(tmp => Gen.writeCorpus(spark, tmp.getPath, Ctx.PoolDocs))
    dir
  }

  /** The run's docs and media tables: `nDocs` docs drawn from the pool by
    * the seed ([[draw]]), written with the generator's table layout. Cached
    * by (seed, doc count, pool size, generator source hash), apart from
    * every directory the program itself uses; the least recently used
    * entries beyond [[Ctx.CorpusCacheSize]] are dropped. Returns the corpus
    * dir, the pool dir and the drawn ids.
    */
  def corpus(nDocs: Int): (String, String, DataFrame) = {
    val dir = new File(cache, Inputs.inputKey(seed, nDocs, Ctx.PoolDocs, corpusHash))
    val (p, ids) = draw(nDocs)
    if (!Ctx.written(new File(dir, "media.parquet"))) {
      atomically(dir) { tmp =>
        val docs = Gen.readDocs(spark, p).join(ids, "doc_id")
        docs.repartition(4, col("doc_id")).write.partitionBy("kind_major")
          .parquet(s"$tmp/docs.parquet")
        val refs = docs.select(explode(col("spans.media_ref")).as("media_ref"))
          .filter(col("media_ref").isNotNull)
        Gen.readMedia(spark, p).join(broadcast(refs), "media_ref")
          .repartition(64, col("media_ref")).write.parquet(s"$tmp/media.parquet")
      }
    }
    dir.setLastModified(System.currentTimeMillis())
    Option(cache.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("s"))
      .sortBy(-_.lastModified()).drop(Ctx.CorpusCacheSize)
      .foreach(f => Inputs.deleteTree(f.toPath))
    (dir.getPath, p, ids)
  }

  /** The pool and a broadcast table of the `nDocs` doc ids drawn from it
    * by the seed, stratified by (kind, size class) so every seed gets the
    * same mix.
    */
  def draw(nDocs: Int): (String, DataFrame) = {
    val p = pool().getPath
    val meta = Gen.readDocs(spark, p).select("doc_id", "kind_major", "size_class").collect()
      .map(r => r.getString(0) -> s"${r.getString(1)}/${r.getInt(2)}")
    import spark.implicits._
    (p, broadcast(Inputs.stratifiedDraw(seed, meta.toSeq, nDocs).toDF("doc_id")))
  }

  /** Writes into a scratch dir, then renames it to `dir`. */
  private def atomically(dir: File)(write: File => Unit): Unit = {
    val tmp = new File(cache, s".tmp-${ProcessHandle.current().pid()}")
    Inputs.deleteTree(tmp.toPath)
    write(tmp)
    Inputs.deleteTree(dir.toPath)
    Files.move(tmp.toPath, dir.toPath)
  }

  /** Runs `body` under the job group `group` (the listener attributes its
    * stages by it).
    */
  def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }
}

trait Workload {
  def nDocs: Int
  /** Fewest timed ops per run, whatever --seconds says. */
  def minOps: Int
  /** Checked, untimed ops before the first timed op. */
  def warmOps: Int
  /** Makes the run's seeded inputs under `dir` (outside every metric). */
  def prepare(dir: File): Unit
  /** The system's set-up before the first op (opening the input tables;
    * resume: the base run), repeated per run, each time into a fresh `dir`.
    */
  def setup(dir: File): Unit
  /** One op: untimed preparation, the timed call, then the correctness
    * check outside the timer.
    */
  def op(i: Int): OpResult
  /** Per-layer numbers measured once per traced run, after the ops. */
  def layers(ops: Seq[OpResult]): Map[String, Double]
  /** Digest of the seeded inputs, recorded with every result. */
  def inputDigest: String
}

/** Heap in use after each garbage collection, from the collectors'
  * notifications; keeps the largest since the last reset.
  */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private var max = 0L

  def reset(now: Long): Unit = synchronized { max = now }
  def peak: Long = synchronized(max)

  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, handback: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            HeapWatch.synchronized { if (used > max) max = used }
          }
      }, null, null)
    case _ =>
  }
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "fresh"  => new Extraction(ctx, resume = false)
    case "resume" => new Extraction(ctx, resume = true)
    case "curate" => new Curate(ctx)
    case other    => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs = gcs.map(_.getCollectionTime).sum
  final case class Timing(wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long, heapPeakMb: Double)

  /** Times `body` after a full GC: wall, process CPU across all threads,
    * JIT compiler time, GC pause time, and peak heap: the most heap any GC
    * during the call left in use (the call's live set; the heap before a
    * collection mostly measures when the collector chose to run).
    */
  def timed[T](body: => T): (T, Timing) = {
    System.gc()
    HeapWatch.reset(heapPools.map(_.getUsage.getUsed).sum)
    val j0 = jit.getTotalCompilationTime
    val g0 = gcMs
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    val wall = System.nanoTime() - t0
    val cpu = os.getProcessCpuTime - c0
    val peak = HeapWatch.peak / 1e6
    (r, Timing(wall, cpu, jit.getTotalCompilationTime - j0, gcMs - g0, peak))
  }

  /** Process CPU of a call without the JIT compiler's share. */
  def workCpuNs(t: Timing): Double = t.cpuNs - t.jitMs * 1e6
  def workCpuNs(o: OpResult): Double = o.cpuNs - o.jitMs * 1e6

  def result(t: Timing, docs: Long, error: Option[String], layer: Map[String, Double]): OpResult =
    OpResult(t.wallNs, t.cpuNs, t.jitMs, t.gcMs, docs, t.heapPeakMb, error,
      if (layer.isEmpty) layer
      else layer ++ Map("jvm.jit_s" -> t.jitMs / 1e3, "jvm.gc_pause_s" -> t.gcMs / 1e3))

  def md5Rows(rows: Seq[Row]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.map(_.toString).mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def fingerprints(df: DataFrame): DataFrame =
    df.select(col("doc_id"), sha2(to_json(col("spans")), 256).as("fp"))

  /** Span-equality gate (the SweepCheck join) over every committed
    * snapshot of `outDir`, plus the exactly-once check on doc_id.
    */
  def spanCheck(spark: SparkSession, outDir: String, golden: DataFrame, nDocs: Long): Option[String] = {
    val ext = IcebergLite.readAll(spark, Runner.extractedDir(outDir))
      .getOrElse(return Some("no committed snapshot"))
    val bad = fingerprints(ext).as("a").join(golden.as("b"), Seq("doc_id"), "full_outer")
      .filter(col("a.fp").isNull || col("b.fp").isNull || col("a.fp") =!= col("b.fp"))
      .count()
    val r = ext.agg(count(lit(1)), countDistinct(col("doc_id"))).collect()(0)
    if (bad > 0) Some(s"$bad span mismatches against generator goldens")
    else if (r.getLong(0) != r.getLong(1)) Some(s"${r.getLong(0) - r.getLong(1)} doc_ids committed twice")
    else if (r.getLong(1) != nDocs) Some(s"${r.getLong(1)} of $nDocs docs committed")
    else None
  }
}

/** fresh: extract the whole seeded corpus into an empty table.
  * resume: a seeded ~99% of docs is committed by an untimed base run; the
  * timed run finishes the rest.
  */
final class Extraction(ctx: Ctx, resume: Boolean) extends Workload {
  import Workloads._
  import ctx.spark

  val nDocs = 1500
  val TodoPercent = 1
  val minOps = 4
  // op times still fall after the first op of a fresh JVM: the second
  // warm-up op keeps that slope out of the timed ops
  val warmOps = 2

  private var dir: File = _
  private var docs: DataFrame = _
  private var media: DataFrame = _
  private var golden: DataFrame = _
  private var todoIds: Seq[String] = Nil
  private var referencedMedia = 0L
  private var corpusDir = ""
  private var ids: Seq[String] = Nil
  private def baseDir = new File(dir, "base")

  def prepare(d: File): Unit = {
    val (cdir, pool, drawn) = ctx.corpus(nDocs)
    corpusDir = cdir
    val all = Gen.readDocs(spark, corpusDir)
    ids = all.select("doc_id").collect().map(_.getString(0)).sorted.toSeq
    val rng = new SplittableRandom(ctx.seed)
    todoIds = if (resume) ids.filter(_ => rng.nextInt(100) < TodoPercent) else ids
    val todo = if (resume) all.filter(col("doc_id").isin(todoIds: _*)) else all
    referencedMedia = todo.select(explode(col("spans.media_ref")).as("r"))
      .filter(col("r").isNotNull).distinct().count()
    // the goldens' fingerprints are cached with the corpus they describe
    val fp = new File(corpusDir, "golden_fp.parquet")
    if (!Ctx.written(fp))
      fingerprints(Gen.readGolden(spark, pool).join(drawn, "doc_id"))
        .write.mode("overwrite").parquet(fp.getPath)
    golden = spark.read.parquet(fp.getPath).cache()
    golden.count()
  }

  def setup(d: File): Unit = {
    dir = d
    docs = Gen.readDocs(spark, corpusDir)
    media = Gen.readMedia(spark, corpusDir)
    if (resume) {
      Runner.run(spark, docs.filter(!col("doc_id").isin(todoIds: _*)), media,
        baseDir.getPath, runId = "base")
    }
  }

  def op(i: Int): OpResult = {
    val out = new File(dir, s"op-$i")
    if (resume) copyTree(baseDir, out)
    val group = s"op-$i"
    val calls0 = Extract.mediaCalls.get()
    val (stats, t) = timed {
      ctx.trace.span("spark.Runner.run") {
        ctx.inGroup(group)(Runner.run(spark, docs, media, out.getPath, runId = "bench"))
      }
    }
    val mediaCalls = Extract.mediaCalls.get() - calls0
    val err =
      if (stats.docsProcessed != todoIds.size)
        Some(s"run committed ${stats.docsProcessed} docs, expected ${todoIds.size}")
      else spanCheck(spark, out.getPath, golden, nDocs)
    val layer = ctx.recorder.map { rec =>
      val stages = rec.stagesOf(spark, group)
      SparkLayer.families(stages).foreach { case (fam, s) =>
        ctx.trace.add(s"spark.stage.$fam", "spark.Runner.run",
          Trace.msToNano(s.startMs), Trace.msToNano(s.endMs))
      }
      val input = stages.map(_.inputBytes).sum.toDouble.max(1.0)
      SparkLayer.familyMetrics(stages) ++ Map(
        "spark.exchange_per_input_byte" -> stages.map(_.shuffleWrite).sum / input,
        "spark.commit_bytes_per_input_byte" -> stages.map(_.outputBytes).sum / input,
        "spark.media_calls" -> mediaCalls.toDouble,
        "spark.media_useful_share" -> (if (mediaCalls == 0) 0.0 else referencedMedia.toDouble / mediaCalls),
        "spark.cpu_unaccounted_share" -> (1.0 - stages.map(_.cpuNs).sum.toDouble / workCpuNs(t)))
    }.getOrElse(Map.empty)
    Inputs.deleteTree(out.toPath)
    result(t, stats.docsProcessed, err, layer)
  }

  def layers(ops: Seq[OpResult]): Map[String, Double] = {
    // the same payloads the timed ops extracted: the todo docs' spans with
    // their media resolved, in span order
    val mediaById = media.join(
        docs.filter(col("doc_id").isin(todoIds: _*))
          .select(explode(col("spans.media_ref")).as("media_ref")), "media_ref")
      .select("media_ref", "bytes_b64").collect()
      .map(r => r.getString(0) -> java.util.Base64.getDecoder.decode(r.getString(1))).toMap
    val payloads = docs.filter(col("doc_id").isin(todoIds: _*)).orderBy("doc_id")
      .select(col("spans")).collect().toSeq.map { r =>
        r.getSeq[Row](0).sortBy(_.getAs[Int]("offset")).map { s =>
          val ref = s.getAs[String]("media_ref")
          if (ref == null) KernelLayer.Payload(s.getAs[String]("kind"), s.getAs[String]("text"), null)
          else KernelLayer.Payload("media", null, mediaById.getOrElse(ref, null))
        }
      }
    val (m, busy) = ctx.trace.span("kernel.extraction")(KernelLayer.extraction(payloads, ctx.trace))
    m + ("kernel.share_of_cpu" -> busy / Stats.median(ops.map(o => workCpuNs(o) / 1e9)))
  }

  def inputDigest: String = Inputs.digest(ctx.corpusHash, ids, Nil)
}

/** curate: the operator chain over generator-truth text and the media
  * table, with exact and near duplicates planted from the seed.
  */
final class Curate(ctx: Ctx) extends Workload {
  import Workloads._
  import ctx.spark

  val nDocs = 1000
  // one chain is ~10 s on a 4-core host; two ops make every run fit the
  // same number of ops, whose peak heap differs (the second op runs while
  // the first op's cached operator outputs are still held)
  val minOps = 2
  val warmOps = 1

  private var text: DataFrame = _
  private var media: DataFrame = _
  private var nText = 0L
  private var nMedia = 0L
  private var textPairs: Seq[(String, String)] = Nil
  private var imagePairs: Seq[(String, String)] = Nil
  private var firstMd5: Map[String, String] = Map.empty
  private var planted: Seq[(String, String)] = Nil
  private var docIds: Seq[String] = Nil
  private var inputDir = ""

  /** The curate tables: the drawn docs' generator-truth text and media,
    * with the seeded duplicates planted.
    */
  def prepare(d: File): Unit = {
    inputDir = d.getPath
    val (pool, ids) = ctx.draw(nDocs)
    val golden = Gen.readGolden(spark, pool).join(ids, "doc_id")
      .select(col("doc_id"), col("spans.kind").as("k"), col("spans.text").as("t"))
      .collect().map { r =>
        val ks = r.getSeq[String](1)
        val ts = r.getSeq[String](2)
        r.getString(0) -> Inputs.goldenText(ks.indices.filter(ks(_) == "text").map(ts))
      }.filter(_._2.nonEmpty)
    val plantedText = Inputs.plantText(ctx.seed, golden)
    textPairs = plantedText.pairs
    import spark.implicits._
    (golden.toSeq ++ plantedText.rows).toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(s"$inputDir/text.parquet")
    val refs = Gen.readDocs(spark, pool).join(ids, "doc_id")
      .select(explode(col("spans.media_ref")).as("media_ref")).filter(col("media_ref").isNotNull)
    val m = Gen.readMedia(spark, pool).join(broadcast(refs), "media_ref")
      .select("media_ref", "bytes_b64").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val plantedImg = Inputs.plantImages(ctx.seed, m)
    imagePairs = plantedImg.pairs
    (m.toSeq ++ plantedImg.rows).toDF("media_ref", "bytes_b64")
      .repartition(4).write.mode("overwrite").parquet(s"$inputDir/media.parquet")
    nText = golden.length + plantedText.rows.size
    nMedia = m.length + plantedImg.rows.size
    planted = plantedText.rows ++ plantedImg.rows
    docIds = golden.map(_._1).sorted.toSeq
  }

  def setup(d: File): Unit = {
    Par.tune(spark)
    text = spark.read.parquet(s"$inputDir/text.parquet")
    media = spark.read.parquet(s"$inputDir/media.parquet")
  }

  private final case class Call(op: String, rows: Seq[Row], df: DataFrame, wallNs: Long)

  private def chain(i: Int, key: String): Seq[Call] = {
    var minhash: DataFrame = null
    def call(op: String)(df: => DataFrame): Call =
      ctx.trace.span(s"operators.$op") {
        ctx.inGroup(s"op-$i:$op") {
          val t0 = System.nanoTime()
          val d = df
          val rows = d.collect().toSeq
          Call(op, rows, d, System.nanoTime() - t0)
        }
      }
    Seq(
      call("quality")(TextOps.quality(text)),
      call("lang_id")(TextOps.langId(spark, text)),
      call("fingerprint")(TextOps.fingerprint(text)),
      call("filter_pipeline")(Curation.filterPipeline(text)),
      call("minhash_lsh") { minhash = Dedup.minhashLshCached(text, 0.5, key); minhash },
      call("simhash_pairs")(Dedup.simhashPairs(text)),
      call("ngram_jaccard")(Dedup.ngramJaccard(text, 0.5)),
      call("dup_clusters")(Curation.dupClusters(minhash)),
      call("image_analysis")(Multimodal.imageAnalysisCached(spark, media, key).orderBy("media_ref")),
      call("dup_images")(ImageOps.dupImages(spark, media, cacheKey = Some(key))),
      call("audio_features")(Multimodal.audioFeatures(spark, media).toDF().orderBy("media_ref")),
      call("frame_sample")(Multimodal.frameSample(spark, media).orderBy("media_ref", "frame_idx")))
  }

  private def pairsOf(rows: Seq[Row]): Set[(String, String)] =
    rows.map(r => (r.getString(0), r.getString(1))).toSet

  def op(i: Int): OpResult = {
    val key = s"op-$i"
    val (out, t) = timed(chain(i, key))
    val byOp = out.map(c => c.op -> c.rows).toMap
    val md5 = byOp.map { case (n, rows) => n -> md5Rows(rows) }
    val errs = Seq(
      "minhash_lsh" -> textPairs, "simhash_pairs" -> textPairs, "ngram_jaccard" -> textPairs,
      "dup_images" -> imagePairs).flatMap { case (opName, want) =>
        val missing = want.toSet -- pairsOf(byOp(opName))
        if (missing.isEmpty) None else Some(s"$opName missed planted pairs ${missing.take(3).mkString(",")}")
      } ++ (if (firstMd5.isEmpty) Nil else
        md5.collect { case (n, h) if firstMd5(n) != h => s"$n output differs from the first op's" })
    if (firstMd5.isEmpty) firstMd5 = md5
    val layer = ctx.recorder.map { rec =>
      out.flatMap { c =>
        val stages = rec.stagesOf(spark, s"op-$i:${c.op}")
        Seq(
          s"operators.${c.op}.wall_s" -> c.wallNs / 1e9,
          s"operators.${c.op}.shuffle_mb" -> stages.map(_.shuffleWrite).sum / 1e6,
          s"operators.${c.op}.exchanges" -> Plans.exchanges(c.df).toDouble)
      }.toMap
    }.getOrElse(Map.empty)
    result(t, nText + nMedia, errs.headOption, layer)
  }

  def outputMd5: Map[String, String] = firstMd5

  def layers(ops: Seq[OpResult]): Map[String, Double] = {
    val bytes = media.select("bytes_b64").collect().toSeq
      .map(r => java.util.Base64.getDecoder.decode(r.getString(0)))
    val (pix, pixBusy) = ctx.trace.span("kernel.pixels")(KernelLayer.pixels(bytes, ctx.trace))
    val rec = ctx.recorder.get
    val t = col("text")
    val fns: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "shingles" -> graft.functions.shingles(t, 3),
      "shingles_distinct" -> graft.functions.shingles_distinct(t, 3),
      "h64" -> graft.functions.h64(t),
      "lower_u8" -> graft.functions.lower_u8(t),
      "text_stats" -> graft.functions.text_stats(t),
      "lang_of" -> graft.functions.lang_of(t))
    val fnBusy = fns.map { case (n, c) =>
      val busy = (0 until 3).map { r =>
        val g = s"fn-$n-$r"
        ctx.trace.span(s"functions.$n") {
          ctx.inGroup(g)(text.select(c).write.format("noop").mode("overwrite").save())
        }
        rec.stagesOf(spark, g).map(_.runMs).sum / 1e3
      }
      s"functions.$n.busy_s" -> Stats.median(busy)
    }
    pix ++ fnBusy + ("kernel.share_of_cpu" -> pixBusy / Stats.median(ops.map(o => workCpuNs(o) / 1e9)))
  }

  def inputDigest: String = Inputs.digest(ctx.corpusHash, docIds, planted)
}

object Curate {
  val Operators = Seq("quality", "lang_id", "fingerprint", "filter_pipeline", "minhash_lsh",
    "simhash_pairs", "ngram_jaccard", "dup_clusters", "image_analysis", "dup_images",
    "audio_features", "frame_sample")
  val Functions = Seq("shingles", "shingles_distinct", "h64", "lower_u8", "text_stats", "lang_of")
}

/** Exchange count of a DataFrame's executed plan (adaptive stages and
  * cached relations included; reused exchanges are not counted twice).
  */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

  def exchanges(df: DataFrame): Int = count(df.queryExecution.executedPlan)

  private def count(p: SparkPlan): Int = {
    val here = p match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    here + inner.map(count).sum + p.subqueries.map(count).sum
  }
}
