package annobench

import annobench.Stats.Digest

/** The benchmark's own tests; exits non-zero on the first failure.
  * `python3 annobench/run.py --self-test`
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case scala.util.control.NonFatal(e) => println(s"  $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    Spec.all.foreach { spec =>
      check(s"${spec.name}: the same seed gives byte-identical inputs") {
        def bytes(seed: Long) = {
          val in = Gen.inputs(spec, seed, 300)
          (Gen.dictJson(in.dictA) + Gen.dictJson(in.dictB) + in.docs.mkString("\u0000") +
            in.blob.toSeq.sorted.mkString(",")).getBytes("UTF-8")
        }
        java.util.Arrays.equals(bytes(7), bytes(7)) && !java.util.Arrays.equals(bytes(7), bytes(8))
      }
    }

    check("a percentile is reported only with at least 10 samples beyond it") {
      val xs = (1 to 1000).map(_.toDouble).toArray
      Stats.tail(xs, 0.99).contains(990.0) &&
      Stats.tail(xs, 0.999).isEmpty && // one sample beyond p99.9 of 1000
      Stats.tail((1 to 10000).map(_.toDouble).toArray, 0.999).contains(9990.0) &&
      Stats.tail((1 to 999).map(_.toDouble).toArray, 0.99).isEmpty && // rank 990: 9 beyond
      Stats.tail((1 to 10009).map(_.toDouble).toArray, 0.999).contains(9999.0)
    }

    check("the row digest is independent of row order") {
      val rows = (0 until 200).map(i => (i.toLong % 17, s"e$i", i, i + 3, s"text $i"))
      def digest(rs: Seq[(Long, String, Int, Int, String)]) =
        rs.foldLeft(Digest.empty) { case (d, (doc, id, b, e, t)) => d + Digest.row(doc, id, b, e, t) }
      val r = new scala.util.Random(3)
      digest(rows) == digest(r.shuffle(rows)) &&
      digest(rows) != digest(rows.updated(5, rows(5).copy(_3 = 99))) &&
      digest(rows) != digest(rows :+ rows.head) // a duplicate row shows
    }

    check("the mixed generator plants about 1-2 matches per crawl doc") {
      val spec = Spec.byName("mixed_crawl").copy(dictSize = 5000)
      val in = Gen.inputs(spec, 1, 300)
      val ph = new graft.engine.PhraseHighlighter(in.dictA)
      val perDoc = in.docs.map(ph.annotate(_).length).sum.toDouble / in.docs.length
      println(f"  annotations per doc: $perDoc%.2f")
      perDoc >= 0.8 && perDoc <= 3.0
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
