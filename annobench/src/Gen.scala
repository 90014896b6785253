package annobench

import graft.dict.{DictionaryEntry => DE}

import java.util.SplittableRandom
import scala.collection.mutable

/** One workload's inputs: two dictionary versions (B replaces every 25th
  * entry of A; only streams reload to B) and the documents. Doc ids are
  * the indexes into `docs`; `blob` marks the docs that carry a long
  * alphanumeric token.
  */
final case class Inputs(dictA: IndexedSeq[DE], dictB: IndexedSeq[DE],
    docs: IndexedSeq[String], blob: Set[Int])

/** Shape of a workload, everything the generator and the runs need. */
final case class Spec(
    name: String,
    dictSize: Int,
    docs: Int,
    /** the first `sparkDocs` docs are the parquet input of the Spark jobs;
      * all `docs` go through the single-thread library pass */
    sparkDocs: Int,
    medianChars: Int,
    blobShare: Double,
    stream: Boolean,
    /** offered docs/s of the open-loop generator when this workload
      * streams (the whole run for `stream_reload`, a short phase of the
      * traced run otherwise) */
    streamRate: Int)

object Spec {
  val all: Seq[Spec] = Seq(
    Spec("mixed_crawl", dictSize = 80000, docs = 10000, sparkDocs = 1000,
      medianChars = 1500, blobShare = 0.002, stream = false, streamRate = 400),
    Spec("stream_reload", dictSize = 5000, docs = 0, sparkDocs = 5000,
      medianChars = 500, blobShare = 0.0, stream = true, streamRate = 800))

  def byName(n: String): Spec = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** The single seeded generator of every workload's dictionary and
  * documents. Everything is a function of (spec, seed, doc count): the
  * same arguments give byte-identical dictionary JSON and doc texts.
  */
object Gen {

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private val Syllables = Array("ka", "lo", "mi", "ren", "to", "sa", "vi",
    "dor", "el", "an", "pu", "ri", "go", "ne", "tal", "bo", "cu", "fe",
    "lin", "mar", "os", "qui", "ze", "ha", "ju", "wen", "yi", "ster", "tra",
    "pol", "dis", "ex", "gru", "nim", "op")
  private val Accents = Map('a' -> "á", 'e' -> "é", 'o' -> "ø", 'u' -> "ü",
    'i' -> "í", 'n' -> "ñ")
  private val Cyrillic = Array("центр", "город", "новости", "данные",
    "поиск", "время", "работа", "компания")
  private val Alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** `n` distinct words of 2–4 syllables; 3% of them carry one non-ASCII
    * letter.
    */
  def lexicon(r: SplittableRandom, n: Int): Array[String] = {
    val out = new mutable.LinkedHashSet[String]
    while (out.size < n) {
      val k = 2 + r.nextInt(3)
      var w = (0 until k).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
      if (r.nextDouble() < 0.03) {
        val i = w.indexWhere(Accents.contains)
        if (i >= 0) w = w.substring(0, i) + Accents(w(i)) + w.substring(i + 1)
      }
      out += w
    }
    out.toArray
  }

  /** Zipf(s = 1) rank sampler over `n` ranks. */
  final class Zipf(n: Int) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def poisson(r: SplittableRandom, lambda: Double): Int = {
    val l = math.exp(-lambda)
    var k = 0
    var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }

  private def title(w: String) = w.substring(0, 1).toUpperCase + w.substring(1)

  // ------------------------------------------------------ mixed dictionaries

  private final class Lex(seed: Long) {
    val words: Array[String] = lexicon(rng(seed, 3), 20000)
    val zipf = new Zipf(words.length)
    def zipfWord(r: SplittableRandom): String = words(zipf.sample(r))
    /** entry words skip the 50 most common ranks, so entries rarely match
      * by chance and per-doc annotation counts follow the planted phrases */
    def entryWord(r: SplittableRandom): String = words(50 + r.nextInt(words.length - 50))
  }

  /** The repo's mixed-config spread by entry index (20% stemmed, 20% case-
    * insensitive, 10% slop 1, 10% slop 2 in-order, 20% with a synonym, 5%
    * fuzziness 1, the rest plain) plus 0.5% fuzziness-2 entries.
    */
  private def mixedEntry(lex: Lex, r: SplittableRandom, i: Int, id: String): DE = {
    val n = if (r.nextInt(10) < 7) 2 else 3
    val text = (0 until n).map(_ => lex.entryWord(r)).mkString(" ")
    val e = DE(text, id = Some(id))
    if (i % 200 == 9) e.copy(fuzzy = Some(true), fuzziness = Some(2))
    else (i % 20) match {
      case 0 | 5 | 10 | 15 => e.copy(stem = Some(true))
      case 1 | 6 | 11 | 16 => e.copy(caseSensitive = Some(false))
      case 2 | 12          => e.copy(slop = Some(1))
      case 7 | 17          => e.copy(slop = Some(2), inOrder = Some(true))
      case 3 | 8 | 13 | 18 => e.copy(synonyms = Seq(text.split(" ").reverse.mkString(" ")))
      case 4               => e.copy(fuzzy = Some(true), fuzziness = Some(1))
      case _               => e
    }
  }

  /** A surface form of `e` that its config should match: inflected,
    * re-cased, with words inserted under slop, the synonym, or with
    * character edits under fuzziness.
    */
  private def render(e: DE, lex: Lex, r: SplittableRandom): String = {
    val ws = e.text.split(" ")
    def edit(w: String): String = {
      val i = r.nextInt(w.length)
      val c = ('a' + r.nextInt(26)).toChar
      w.substring(0, i) + (if (c == w(i)) 'z' else c) + w.substring(i + 1)
    }
    if (e.fuzzy.contains(true)) {
      val j = ws.indices.maxBy(k => ws(k).length)
      ws(j) = if (e.fuzziness.contains(2)) edit(edit(ws(j))) else edit(ws(j))
      ws.mkString(" ")
    } else if (e.synonyms.nonEmpty) e.synonyms.head
    else if (e.stem.contains(true)) ws.map(w => if (r.nextBoolean()) w + "s" else w).mkString(" ")
    else if (e.caseSensitive.contains(false))
      if (r.nextBoolean()) e.text.toUpperCase else ws.map(title).mkString(" ")
    else e.slop match {
      case Some(s) if s > 0 =>
        val gap = (0 until (1 + r.nextInt(s.toInt))).map(_ => lex.zipfWord(r))
        (ws.head +: gap ++: ws.tail).mkString(" ")
      case _ => e.text
    }
  }

  /** Crawl-like text: lognormal length around `medianChars`, Zipf words,
    * capitalised sentence starts, some title-case, accented and Cyrillic
    * words, about 1.5 planted dictionary phrases, and optionally one long
    * alphanumeric blob token.
    */
  private def crawlDoc(lex: Lex, r: SplittableRandom, medianChars: Int,
      plants: IndexedSeq[DE], blobLen: Int): String = {
    val target = math.max(120, math.min(8 * medianChars,
      (medianChars * math.exp(0.5 * gaussian(r))).toInt))
    val sentences = mutable.ArrayBuffer.empty[String]
    var len = 0
    while (len < target) {
      val n = 8 + r.nextInt(13)
      val ws = (0 until n).map { k =>
        val w = if (r.nextInt(100) == 0) Cyrillic(r.nextInt(Cyrillic.length)) else lex.zipfWord(r)
        if (k == 0 || r.nextInt(50) == 0) title(w) else w
      }
      val s = ws.mkString(" ") + "."
      sentences += s
      len += s.length + 1
    }
    def insert(s: String): Unit = sentences.insert(r.nextInt(sentences.length + 1), s)
    (0 until poisson(r, 1.5)).foreach(_ => insert(render(plants(r.nextInt(plants.length)), lex, r) + "."))
    if (blobLen > 0) insert(blob(r, blobLen))
    sentences.mkString(" ")
  }

  private def blob(r: SplittableRandom, len: Int): String =
    (0 until len).map(_ => Alnum(r.nextInt(Alnum.length))).mkString

  /** Blob docs of a workload that has none: its first `n` docs, each with
    * one blob appended, lengths stratified over 64..256 like
    * [[Inputs.blob]]'s.
    */
  def blobProbes(docs: IndexedSeq[String], seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 7)
    docs.take(n).zipWithIndex.map { case (d, k) =>
      d + " " + blob(r, 64 + (192 * (k + r.nextDouble()) / n).toInt) + "."
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's is not splittable)
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Inputs of `spec` under `seed` with `nDocs` documents. */
  def inputs(spec: Spec, seed: Long, nDocs: Int): Inputs = {
    val lex = new Lex(seed)
    val r = rng(seed, 4)
    val dictA = (0 until spec.dictSize).map(i => mixedEntry(lex, r, i, s"e$i"))
    val dictB = variant(dictA, i => mixedEntry(lex, r, i, s"v$i"))
    val plants = if (spec.stream) dictA ++ dictB.filter(_.id.exists(_.startsWith("v"))) else dictA
    // a fixed number of blob docs at seeded positions, their lengths
    // stratified over 64..256 so that the tail the blobs form keeps its
    // shape from seed to seed
    val nBlobs = math.round(spec.blobShare * nDocs).toInt
    val br = rng(seed, 5)
    val blobPos = shuffle(br, (0 until nDocs).toIndexedSeq).take(nBlobs)
    val blobLen: Map[Int, Int] = blobPos.zipWithIndex.map { case (p, k) =>
      p -> (64 + (192 * (k + br.nextDouble()) / math.max(1, nBlobs)).toInt)
    }.toMap
    val dr = rng(seed, 6)
    val docs = (0 until nDocs).map(i =>
      crawlDoc(lex, dr, spec.medianChars, plants, blobLen.getOrElse(i, 0)))
    Inputs(dictA, dictB, docs, blobPos.toSet)
  }

  /** Version B of a dictionary: every 25th entry replaced by a fresh one. */
  private def variant(a: IndexedSeq[DE], fresh: Int => DE): IndexedSeq[DE] =
    a.indices.map(i => if (i % 25 == 24) fresh(i) else a(i))

  private def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** The dictionary file the program reads: a JSON array, one entry per
    * line, in the kebab keys of the reference's schema.
    */
  def dictJson(entries: Seq[DE]): String = {
    val sw = new java.io.StringWriter
    val g = new com.fasterxml.jackson.core.JsonFactory().createGenerator(sw)
    g.writeStartArray()
    entries.foreach { e =>
      g.writeRaw("\n")
      g.writeStartObject()
      g.writeStringField("text", e.text)
      e.id.foreach(g.writeStringField("id", _))
      if (e.synonyms.nonEmpty) {
        g.writeArrayFieldStart("synonyms")
        e.synonyms.foreach(g.writeString)
        g.writeEndArray()
      }
      e.caseSensitive.foreach(g.writeBooleanField("case-sensitive?", _))
      e.stem.foreach(g.writeBooleanField("stem?", _))
      e.slop.foreach(g.writeNumberField("slop", _))
      e.inOrder.foreach(g.writeBooleanField("in-order?", _))
      e.fuzzy.foreach(g.writeBooleanField("fuzzy?", _))
      e.fuzziness.foreach(g.writeNumberField("fuzziness", _))
      g.writeEndObject()
    }
    g.writeRaw("\n")
    g.writeEndArray()
    g.close()
    sw.toString
  }
}
