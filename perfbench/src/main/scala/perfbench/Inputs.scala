package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.unsafe.types.UTF8String

/** Seeded benchmark inputs. Everything here is a pure function of
  * (seed, doc count, corpus generator sources): the program under test
  * only ever receives what this object generates.
  */
object Inputs {

  /** Hash of the corpus generator's sources (`src/main/scala/graft/corpus`
    * under `root`): part of the input key, so a generator change can never
    * be measured against inputs made by the old generator.
    */
  def corpusSourceHash(root: File): String = {
    val dir = new File(root, "src/main/scala/graft/corpus").toPath
    val md = MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq.sortBy(_.toString)
    require(files.nonEmpty, s"no corpus generator sources under $dir")
    files.foreach { p =>
      md.update(dir.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** Directory name of one run's inputs: (seed, doc count, pool size,
    * generator hash).
    */
  def inputKey(seed: Long, nDocs: Long, poolDocs: Int, corpusHash: String): String =
    s"s$seed-n$nDocs-p$poolDocs-c$corpusHash"

  /** Digest of one run's inputs: the generator version, the docs drawn
    * from the pool and the rows planted into them. The pool is a pure
    * function of the generator, so these fix every input byte.
    */
  def digest(corpusHash: String, docIds: Seq[String], planted: Seq[(String, String)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(corpusHash.getBytes("UTF-8"))
    docIds.foreach(id => md.update((id + "\n").getBytes("UTF-8")))
    planted.foreach { case (k, v) => md.update(s"$k|$v\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Seeded draw of `n` doc ids stratified by `docs`' stratum label: each
    * stratum contributes its share of `n` (largest remainder, ties by
    * stratum order), so the mix of kinds and sizes is the same for every
    * seed and only which docs are drawn changes.
    */
  def stratifiedDraw(seed: Long, docs: Seq[(String, String)], n: Int): Seq[String] = {
    require(n <= docs.size, s"cannot draw $n of ${docs.size} docs")
    val rng = new SplittableRandom(seed)
    val strata = docs.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1).sorted.toArray)
    val quota = strata.map(_.length.toDouble * n / docs.size)
    val base = quota.map(_.toInt)
    val bonus = quota.indices.sortBy(i => (base(i) - quota(i), i)).take(n - base.sum).toSet
    strata.zipWithIndex.flatMap { case (ids, i) =>
      val order = shuffled(ids.indices.toArray, rng)
      order.take(base(i) + (if (bonus(i)) 1 else 0)).map(ids(_))
    }.sorted
  }

  /** Curate text of one doc: its golden text spans joined by a space. */
  def goldenText(spans: Seq[String]): String = spans.mkString(" ")

  /** Planted duplicates: extra rows to append to the table, and the
    * (original, copy) pairs every near-dup operator must report.
    */
  final case class Planted(rows: Seq[(String, String)], pairs: Seq[(String, String)])

  val ExactTextDups = 6
  val NearTextDups = 6
  val ImageDups = 6

  /** Plant exact and near-duplicate documents. A near copy changes one
    * token; it is kept only when [[Reference]] shows that MinHash-LSH,
    * SimHash (<= 3 bits) and shingle Jaccard (>= 0.5) must all pair it with
    * its source, so a miss is always the program's fault.
    */
  def plantText(seed: Long, docs: Array[(String, String)]): Planted = {
    val rng = new SplittableRandom(seed * 31 + 7)
    val pool = docs.filter { case (_, t) => Reference.tokens(t).length >= 60 }
      .sortBy(_._1)
    val order = shuffled(pool.indices.toArray, rng)
    val rows = Seq.newBuilder[(String, String)]
    val pairs = Seq.newBuilder[(String, String)]
    var exact = 0
    var near = 0
    var k = 0
    while (k < order.length && (exact < ExactTextDups || near < NearTextDups)) {
      val (id, text) = pool(order(k))
      if (exact < ExactTextDups) {
        rows += (s"$id.x" -> text); pairs += (id -> s"$id.x"); exact += 1
      } else {
        nearCopy(text, rng).foreach { t =>
          rows += (s"$id.n" -> t); pairs += (id -> s"$id.n"); near += 1
        }
      }
      k += 1
    }
    Planted(rows.result(), pairs.result())
  }

  private def nearCopy(text: String, rng: SplittableRandom): Option[String] = {
    val toks = text.split(" ", -1)
    (0 until 20).iterator.map { _ =>
      val p = toks.length / 4 + rng.nextInt(math.max(1, toks.length / 2))
      val repl = toks(rng.nextInt(toks.length))
      toks.updated(p, if (repl == toks(p)) repl + "s" else repl).mkString(" ")
    }.find(t => t != text && Reference.nearDup(text, t))
  }

  /** Plant exact byte copies and lossless variants (an extra ancillary
    * tEXt chunk: different bytes, identical pixels) of PNG payloads.
    */
  def plantImages(seed: Long, media: Array[(String, String)]): Planted = {
    val rng = new SplittableRandom(seed * 17 + 3)
    val pngs = media.filter { case (_, b64) => b64 != null && b64.startsWith("iVBORw0KGgo") }
      .sortBy(_._1)
    val order = shuffled(pngs.indices.toArray, rng).take(ImageDups)
    val rows = Seq.newBuilder[(String, String)]
    val pairs = Seq.newBuilder[(String, String)]
    order.zipWithIndex.foreach { case (j, n) =>
      val (ref, b64) = pngs(j)
      if (n % 2 == 0) { rows += (s"$ref.x" -> b64); pairs += (ref -> s"$ref.x") }
      else {
        val bytes = java.util.Base64.getDecoder.decode(b64)
        val withText = insertTextChunk(bytes, s"perfbench $seed $ref")
        rows += (s"$ref.n" -> java.util.Base64.getEncoder.encodeToString(withText))
        pairs += (ref -> s"$ref.n")
      }
    }
    Planted(rows.result(), pairs.result())
  }

  /** Inserts a tEXt chunk right after IHDR (signature 8 + IHDR 25 bytes). */
  def insertTextChunk(png: Array[Byte], text: String): Array[Byte] = {
    val body = ("Comment" + 0.toChar + text).getBytes("ISO-8859-1")
    val typ = "tEXt".getBytes("ISO-8859-1")
    val crc = new java.util.zip.CRC32
    crc.update(typ); crc.update(body)
    val chunk = java.nio.ByteBuffer.allocate(12 + body.length)
      .putInt(body.length).put(typ).put(body).putInt(crc.getValue.toInt).array()
    png.take(33) ++ chunk ++ png.drop(33)
  }

  private def shuffled(a: Array[Int], rng: SplittableRandom): Array[Int] = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** Independent restatement of the near-dup criteria of the operators the
  * curate workload runs (token/shingle rules, the md5-prefix hash, the
  * MinHash constants and 4x4 banding, 60-bit SimHash voting). Used only to
  * decide which planted pairs each operator is obliged to find.
  */
object Reference {
  private val Space = UTF8String.fromString(" ")
  private val P = 2147483647L
  private val A = (0 until 16).map(i => ((2L * i + 1) * 2654435761L) % P)
  private val B = (0 until 16).map(i => (i.toLong * 40503L + 2531011L) % P)

  def tokens(text: String): Array[UTF8String] =
    UTF8String.fromString(text).toLowerCase.split(Space, -1)

  def h64(s: UTF8String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong >>> 4
  }

  def shingles(text: String): Seq[UTF8String] = {
    val t = tokens(text)
    (0 until math.max(t.length - 2, 1)).map(j =>
      UTF8String.concatWs(Space, java.util.Arrays.copyOfRange(t, j, math.min(j + 3, t.length)): _*))
  }

  def simhash(text: String): Long = {
    val votes = new Array[Int](60)
    tokens(text).filter(_.numBytes > 0).foreach { tok =>
      val h = h64(tok)
      var b = 0
      while (b < 60) { votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
    }
    (0 until 60).foldLeft(0L)((sig, b) => if (votes(b) > 0) sig | (1L << b) else sig)
  }

  def minhash(text: String): IndexedSeq[Long] = {
    val hs = shingles(text).map(s => Math.floorMod(h64(s), P))
    (0 until 16).map(i => hs.map(h => Math.floorMod(A(i) * h + B(i), P)).min)
  }

  def jaccard(a: String, b: String): Double = {
    val sa = shingles(a).toSet
    val sb = shingles(b).toSet
    val inter = sa.intersect(sb).size
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** True when all three near-dup operators must pair `a` with `b`. */
  def nearDup(a: String, b: String): Boolean = {
    val (ma, mb) = (minhash(a), minhash(b))
    val bandHit = (0 until 4).exists(band => (0 until 4).forall(r => ma(band * 4 + r) == mb(band * 4 + r)))
    val j = jaccard(a, b)
    bandHit && j >= 0.55 && java.lang.Long.bitCount(simhash(a) ^ simhash(b)) <= 3
  }
}
