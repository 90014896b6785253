package annobench

import scala.util.hashing.MurmurHash3

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples needed beyond a reported percentile (EDBT 2023, quantile
    * sketches over streams: a tail estimate resting on fewer is noise).
    */
  val MinBeyond = 10

  /** Nearest-rank `q`-quantile of `xs`, or None when fewer than
    * [[MinBeyond]] samples rank above it.
    */
  def tail(xs: Array[Double], q: Double): Option[Double] = {
    val n = xs.length
    val rank = math.max(1, math.ceil(q * n - 1e-9).toInt) // 1-based
    if (n - rank < MinBeyond) None
    else {
      val s = xs.clone()
      java.util.Arrays.sort(s)
      Some(s(rank - 1))
    }
  }

  /** [[tail]] for percentiles the benchmark must report: a run too short
    * to support one fails rather than print a guess.
    */
  def mustTail(xs: Array[Double], q: Double, what: String): Double =
    tail(xs, q).getOrElse(throw new IllegalStateException(
      s"$what: ${xs.length} samples leave fewer than $MinBeyond beyond p${q * 100}"))

  /** Order-independent digest of a multiset of annotation rows: their
    * count and the sum of their 64-bit hashes.
    */
  final case class Digest(count: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  }

  object Digest {
    val empty: Digest = Digest(0, 0)

    def row(doc: Long, entryId: String, begin: Int, end: Int, text: String): Digest = {
      val s = s"$doc\u0001$entryId\u0001$begin\u0001$end\u0001$text"
      Digest(1, (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL))
    }

    def of(doc: Long, anns: Seq[graft.dict.Annotation]): Digest =
      anns.foldLeft(empty)((d, a) =>
        d + row(doc, a.dictEntryId, a.beginOffset, a.endOffset, a.text))
  }
}
