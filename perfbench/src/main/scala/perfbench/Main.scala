package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The benchmark: one workload, one seed, one closed-loop client.
  *
  * Usage: perfbench.Main --workload fresh|resume|curate --seed N
  *          --seconds S --trace 0|1 --root CHECKOUT
  *
  * Untraced (--trace 0): the workload's inputs are set up from the seed
  * [[SetupReps]] times, each time from scratch; then timed ops run until
  * their summed wall time reaches S seconds. Every op is checked outside
  * its timer. The last stdout line is the result JSON with the end-to-end
  * metrics; a report with the host, the per-op samples and the input key
  * goes to .bench_build/reports.
  *
  * Traced (--trace 1): one set-up, then untraced and traced ops (listener
  * and spans on) alternate for S seconds, and the layer passes run. The
  * result carries every per-layer metric (0 for layers the workload does
  * not run) and the spans go to .bench_build/traces.
  */
object Main {
  val SetupReps = 3
  /** Ops stop once the run is this old, whatever --seconds says. */
  val RunBudgetS = 140

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val root = new File(opts.getOrElse("root", ".")).getCanonicalFile
    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage

    // one core is left to the driver thread, GC and JIT: with a task
    // thread on every core, anything else that wants a core (on a shared
    // host, another tenant) stalls a task and, with it, its whole stage
    val threads = (nproc - 1).max(1)
    val conf = Seq(
      "spark.master" -> s"local[$threads]",
      "spark.sql.shuffle.partitions" -> threads.toString,
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> new File(root, ".bench_build/spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(root, ".bench_build/warehouse").getPath)
    val spark = conf.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, root, seed)
    val wl = Workloads(workload, ctx)
    val key = Inputs.inputKey(seed, wl.nDocs, Ctx.PoolDocs, ctx.corpusHash)
    val runDir = new File(ctx.work, s"$workload-$key-${ProcessHandle.current().pid()}")
    val errors = ArrayBuffer.empty[String]
    def elapsedS = (System.nanoTime() - t0) / 1e9

    def safeOp(i: Int): OpResult =
      try { ctx.trace.startOp(i); wl.op(i) }
      catch { case e: Exception => OpResult(0L, 0L, 0L, 0L, 0L, 0.0, Some(s"op $i threw: $e")) }

    // the run's seeded inputs (not part of any metric), then the set-up,
    // each time from scratch, then the workload's checked warm-up ops
    val g0 = System.nanoTime()
    wl.prepare(new File(runDir, "inputs"))
    val corpusS = (System.nanoTime() - g0) / 1e9
    val setupS = (1 to (if (traced) 1 else SetupReps)).map { k =>
      val dir = new File(runDir, s"setup-$k")
      val s0 = System.nanoTime()
      wl.setup(dir)
      val s = (System.nanoTime() - s0) / 1e9
      if (k > 1) Inputs.deleteTree(new File(runDir, s"setup-${k - 1}").toPath)
      s
    }
    val warmS = (0 until wl.warmOps).map { i =>
      val w0 = System.nanoTime()
      safeOp(i).error.foreach(e => errors += s"warm-up $i: $e")
      (System.nanoTime() - w0) / 1e9
    }

    // closed loop: the next op starts when the previous one (and its
    // check) is done, until the ops' summed wall time reaches the budget;
    // op indices continue after the warm-up ops', so no op reuses a
    // warm-up op's output dirs or cache keys
    def loop(budgetS: Double, minOps: Int)(op: Int => OpResult): Seq[OpResult] = {
      val ops = ArrayBuffer.empty[OpResult]
      var spent = 0L
      while ((spent < budgetS * 1e9 || ops.size < minOps) && elapsedS < RunBudgetS) {
        val r = op(wl.warmOps + ops.size)
        ops += r
        spent += r.wallNs
      }
      ops.toSeq
    }

    val ticks0 = Host.cpuTicks()
    val (ops, metrics, extra) =
      if (!traced) {
        val ops = loop(seconds, wl.minOps)(safeOp)
        (ops, endToEnd(ops, setupS), Map.empty[String, Any])
      } else {
        // untraced and traced ops alternate, so both see the same JIT and
        // host state; their wall-time ratio is the tracing overhead
        val rec = new StageRecorder
        val both = loop(seconds, 2) { i =>
          val on = (i - wl.warmOps) % 2 == 1
          if (on) spark.sparkContext.addSparkListener(rec)
          ctx.recorder = if (on) Some(rec) else None
          ctx.trace.enabled = on
          try safeOp(i) finally {
            ctx.trace.enabled = false
            if (on) spark.sparkContext.removeSparkListener(rec)
          }
        }
        val (ops, plain) = both.zipWithIndex.partition(_._2 % 2 == 1) match {
          case (a, b) => (a.map(_._1), b.map(_._1))
        }
        ctx.recorder = Some(rec)
        spark.sparkContext.addSparkListener(rec)
        ctx.trace.enabled = true
        val ok = ops.filter(_.error.isEmpty)
        val perOp = ok.flatMap(_.layer.keys).distinct
          .map(k => k -> Stats.median(ok.flatMap(_.layer.get(k)))).toMap
        val layers = try wl.layers(ok) catch {
          case e: Exception => errors += s"layer passes threw: $e"; Map.empty[String, Double]
        }
        val overhead = Stats.median(ok.map(_.wallNs.toDouble)) /
          Stats.median(plain.filter(_.error.isEmpty).map(_.wallNs.toDouble)) - 1.0
        val all = perOp ++ layers + ("trace.overhead_share" -> overhead)
        val traceFile = new File(root, s".bench_build/traces/$workload-s$seed.spans.jsonl")
        ctx.trace.write(traceFile)
        val topSelf = Trace.selfByName(ctx.trace.all).toSeq.sortBy(-_._2).take(15)
        (both, Layers.names.map(n => n -> all.getOrElse(n, 0.0)),
          Map("traced_ops" -> ops.map(opRow), "trace_file" -> traceFile.getPath,
            "undeclared_layers" -> (all -- Layers.names),
            "self_time_s" -> topSelf.toMap,
            "cpu_unaccounted_share" -> all.getOrElse("spark.cpu_unaccounted_share", Double.NaN),
            "tracing_overhead_share" -> overhead))
      }

    val failed = ops.count(_.error.isDefined)
    ops.flatMap(_.error).foreach(errors += _)
    val load1 = os.getSystemLoadAverage
    val steal = Host.stealShare(ticks0, Host.cpuTicks())
    val report = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "input_key" -> key, "input_digest" -> wl.inputDigest, "docs" -> wl.nDocs,
      "host" -> Map("nproc" -> nproc, "loadavg_before" -> load0, "loadavg_after" -> load1,
        "steal_share_during_ops" -> steal,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "session_conf" -> conf.toMap),
      "session_s" -> sessionS, "inputs_s" -> corpusS, "setup_s" -> setupS,
      "warmup_ops_s" -> warmS,
      "ops" -> ops.map(opRow), "errors" -> errors.toSeq,
      "wall_s" -> summary(ops.filter(_.error.isEmpty).map(_.wallNs / 1e9)),
      "output_md5" -> (wl match { case c: Curate => c.outputMd5; case _ => Map.empty }),
      "metrics" -> metrics.toMap) ++ extra
    val reportFile = new File(root,
      s".bench_build/reports/$workload-s$seed-t${if (traced) 1 else 0}.json")
    reportFile.getParentFile.mkdirs()
    val w = new PrintWriter(reportFile, "UTF-8")
    try w.println(Json.render(report)) finally w.close()
    Inputs.deleteTree(runDir.toPath)
    spark.stop()

    errors.take(10).foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    System.err.println(f"[perfbench] $workload seed=$seed ops=${ops.size} failed=$failed " +
      f"nproc=$nproc load=$load0%.2f->$load1%.2f steal=$steal%.3f report=${reportFile.getPath}")
    val units = Layers.units
    val result = Map(
      "correct" -> errors.isEmpty, "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v) =>
        n -> Map("value" -> v, "unit" -> units(n)) }: _*))
    println(Json.render(result))
    System.out.flush()
    sys.exit(0)
  }

  private def opRow(o: OpResult): Map[String, Any] = Map(
    "wall_s" -> o.wallNs / 1e9, "cpu_s" -> o.cpuNs / 1e9, "docs" -> o.docs,
    "peak_heap_mb" -> o.heapPeakMb, "jit_s" -> o.jitMs / 1e3, "gc_pause_s" -> o.gcMs / 1e3,
    "error" -> o.error.orNull)

  private def summary(xs: Seq[Double]): Map[String, Any] = {
    val (label, top) = Stats.topPercentile(xs)
    Map("n" -> xs.size, "median" -> Stats.median(xs), label -> top)
  }

  /** End-to-end metrics over the ops that passed their check.
    * cpu_ms_per_doc leaves out the JIT compiler's time, which shrinks op by
    * op as the run's JVM warms and follows the compiler's scheduling, not
    * the program's work.
    */
  def endToEnd(ops: Seq[OpResult], setupS: Seq[Double]): Seq[(String, Double)] = {
    val ok = ops.filter(o => o.error.isEmpty && o.docs > 0)
    Seq(
      "docs_per_s" -> Stats.median(ok.map(o => o.docs / (o.wallNs / 1e9))),
      "cpu_ms_per_doc" -> Stats.median(ok.map(o => Workloads.workCpuNs(o) / 1e6 / o.docs)),
      "setup_s" -> Stats.median(setupS),
      "peak_heap_mb" -> Stats.median(ok.map(_.heapPeakMb)))
  }
}

/** The host's CPU time as the kernel counts it, where /proc/stat exists. */
object Host {
  /** (steal, total) jiffies over all CPUs since boot. */
  def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
  } catch { case _: Exception => None }

  /** Share of all CPU time between two readings that the hypervisor gave
    * to other guests: on a shared host, the part of a slow run that is
    * not the program's doing. NaN without both readings.
    */
  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => Double.NaN
  }
}

/** Names and units of every metric the benchmark reports. */
object Layers {
  val EndToEnd = Seq("docs_per_s" -> "1/s", "cpu_ms_per_doc" -> "ms", "setup_s" -> "s",
    "peak_heap_mb" -> "MB")

  val names: Seq[String] =
    KernelLayer.Families.flatMap(f => KernelLayer.Measures.map(m => s"kernel.$f.$m")) ++
      Seq("kernel.lang.busy_s", "kernel.share_of_cpu") ++
      KernelLayer.PixelKinds.map(k => s"kernel.pixel.$k.busy_s") ++
      // resume_scan only runs on the resume workload, which BENCHMARK.json
      // does not declare; a resume run reports it in its report file
      SparkLayer.Families.filter(_ != "resume_scan")
        .flatMap(f => SparkLayer.Measures.map(m => s"spark.$f.$m")) ++
      Seq("spark.exchange_per_input_byte", "spark.commit_bytes_per_input_byte",
        "spark.media_calls", "spark.media_useful_share", "spark.cpu_unaccounted_share") ++
      Curate.Operators.flatMap(o => Seq("wall_s", "shuffle_mb", "exchanges").map(m => s"operators.$o.$m")) ++
      Curate.Functions.map(f => s"functions.$f.busy_s") ++
      Seq("jvm.jit_s", "jvm.gc_pause_s", "trace.overhead_share")

  def unitOf(name: String): String = name.split('.').last match {
    case "calls" | "media_calls" | "exchanges" => "count"
    case "share_of_cpu" => "share"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_us") => "us"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_share") => "share"
    case _ => "ratio"
  }

  val units: Map[String, String] = EndToEnd.toMap ++ names.map(n => n -> unitOf(n))
}
