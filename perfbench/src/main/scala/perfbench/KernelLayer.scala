package perfbench

import graft.kernel.{Extract, Lang, Magic}
import graft.operators.Multimodal

/** Kernel layer, timed single-threaded without Spark over the very payloads
  * the workload feeds the pipeline.
  */
object KernelLayer {
  val Families = Seq("pdf", "office_xml", "office_legacy", "html", "text", "jpeg",
    "image_other", "av", "archive", "other")
  val Measures = Seq("calls", "busy_s", "p99_us", "issue_share")
  val PixelKinds = Seq("jpeg", "png", "webp", "other")

  def familyOf(k: Magic.Kind): String = {
    import Magic.Kind._
    k match {
      case Pdf => "pdf"
      case Docx | Xlsx | Pptx | Odt | Ods | Odp | Epub => "office_xml"
      case Doc | Rtf => "office_legacy"
      case Html => "html"
      case Text | Eml => "text"
      case Jpeg => "jpeg"
      case Png | Gif | Tiff | Bmp | Webp | Heic | Heif | Avif | Ico | Psd => "image_other"
      case Mp3 | Wav | Mp4 | Webm | Mkv | Flac | Ogg | Midi => "av"
      case Zip | Gzip | Tar | Bz2 | Xz | Zstd | SevenZ | Rar => "archive"
      case _ => "other"
    }
  }

  /** One span payload: inline text or media bytes (null when unresolved). */
  final case class Payload(kind: String, text: String, bytes: Array[Byte])

  private final case class Call(family: String, ns: Long, issue: Boolean)

  /** Extracts every payload of every doc (span order, as assembly sees it)
    * twice; the first pass warms the JIT, the second is recorded. Returns
    * the per-family measures plus kernel.lang.busy_s and the total kernel
    * busy seconds.
    */
  def extraction(docs: Seq[Seq[Payload]], trace: Trace): (Map[String, Double], Double) = {
    val opt = Extract.Options()
    def pass(record: Boolean): (Seq[Call], Long) = {
      val calls = Seq.newBuilder[Call]
      var langNs = 0L
      docs.foreach { spans =>
        val sample = new StringBuilder
        spans.foreach { p =>
          val fam = familyOf(if (p.bytes != null) Magic.sniff(p.bytes) else Magic.sniffText(p.text))
          val t0 = System.nanoTime()
          val out =
            if (record) trace.span(s"kernel.$fam")(run(p, opt))
            else run(p, opt)
          calls += Call(fam, System.nanoTime() - t0, out.issue.isDefined)
          out.blocks.foreach { b =>
            if (sample.length < 4096) { sample.append(b.take(4096 - sample.length)); sample.append('\n') }
          }
        }
        val t0 = System.nanoTime()
        if (record) trace.span("kernel.lang")(Lang.detect(sample.toString)) else Lang.detect(sample.toString)
        langNs += System.nanoTime() - t0
      }
      (calls.result(), langNs)
    }
    pass(record = false)
    val (calls, langNs) = pass(record = true)
    val byFam = calls.groupBy(_.family)
    val m = Families.flatMap { f =>
      val cs = byFam.getOrElse(f, Nil)
      val ns = cs.map(_.ns).sorted
      Seq(
        s"kernel.$f.calls" -> cs.size.toDouble,
        s"kernel.$f.busy_s" -> ns.sum / 1e9,
        s"kernel.$f.p99_us" -> (if (ns.isEmpty) 0.0 else Stats.nearestRank(ns.map(_.toDouble), 0.99) / 1e3),
        s"kernel.$f.issue_share" -> (if (cs.isEmpty) 0.0 else cs.count(_.issue).toDouble / cs.size))
    }.toMap + ("kernel.lang.busy_s" -> langNs / 1e9)
    (m, (calls.map(_.ns).sum + langNs) / 1e9)
  }

  private def run(p: Payload, opt: Extract.Options): Extract.Out =
    if (p.bytes != null) Extract.extractBytes(p.kind, p.bytes, opt)
    else Extract.extractText(p.kind, p.text, opt)

  /** Multimodal.decodePixels over media payloads, per codec family. */
  def pixels(media: Seq[Array[Byte]], trace: Trace): (Map[String, Double], Double) = {
    def kindOf(k: Magic.Kind) = k match {
      case Magic.Kind.Jpeg => "jpeg"
      case Magic.Kind.Png => "png"
      case Magic.Kind.Webp => "webp"
      case _ => "other"
    }
    val kinds = media.map(b => b -> Magic.sniff(b))
    def pass(record: Boolean): Map[String, Long] =
      kinds.map { case (b, k) =>
        val name = kindOf(k)
        val t0 = System.nanoTime()
        if (record) trace.span(s"kernel.pixel.$name")(Multimodal.decodePixels(b, k))
        else Multimodal.decodePixels(b, k)
        name -> (System.nanoTime() - t0)
      }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }
    pass(record = false)
    val busy = pass(record = true)
    (PixelKinds.map(k => s"kernel.pixel.$k.busy_s" -> busy.getOrElse(k, 0L) / 1e9).toMap,
      busy.values.sum / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def nearestRank(sorted: Seq[Double], q: Double): Double =
    sorted(math.min(sorted.size - 1, math.max(0, math.ceil(q * sorted.size).toInt - 1)))

  /** Highest percentile with at least ten samples above it, as (label,
    * value); with fewer than 20 samples only the maximum is supported.
    */
  def topPercentile(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted
    if (s.size < 20) ("max", s.lastOption.getOrElse(Double.NaN))
    else {
      val q = 1.0 - 10.0 / s.size
      (f"p${q * 100}%.0f", nearestRank(s, q))
    }
  }
}
