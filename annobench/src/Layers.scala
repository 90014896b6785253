package annobench

import annobench.Runs._
import annobench.Stats.Digest
import graft.analysis.{Analyzer, Token}
import graft.dict.Annotation
import graft.engine.{FieldTokens, Matcher}
import graft.spark.AnnotateExpression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The traced run: every layer timed from outside, by wrapping calls to
  * its public functions, on the workload's own dictionary and docs.
  */
object Layers {

  /** Seconds of the stream phase of a batch workload's traced run. */
  val StreamPhaseSeconds = 6

  private def nsPerDoc(ns: Long, n: Int) = Metric(ns.toDouble / n, "ns/doc")

  def run(ctx: Ctx, inputs: Inputs, dictPath: String, tinyPath: String, docsPath: String)
      : (Map[String, Metric], Checked) = {
    val t = ctx.tracer
    val sc = ctx.spark.sparkContext
    t.onSpan = id => sc.setLocalProperty(SparkSpans.Property, id.toString)
    val listener = new SparkSpans(t)
    sc.addSparkListener(listener)
    // everything single-threaded replays the Spark jobs' docs
    val n = sparkDocs(ctx, inputs)
    val docs = inputs.docs.take(n)

    // dict, compile and spark set-up layers
    val (reps, hl, _) = setup(ctx, dictPath, tinyPath, SetupReps)
    val cd = hl.compiled
    val out = mutable.LinkedHashMap.empty[String, Metric]
    def med(f: SetupRep => Long) = Metric(Stats.median(reps.map(r => f(r) / 1e6)), "ms", reps.length)
    out("dict.read_ms") = med(_.readNs)
    out("dict.validate_ms") = med(_.validateNs)
    out("compile.ms") = med(_.compileNs)
    out("compile.queries") = Metric(cd.queries.length, "count")
    out("compile.fields") = Metric(cd.fieldConfs.length, "count")
    out("compile.ac_share") = Metric(
      cd.queries.count(q => !q.span && q.slop == 0).toDouble / cd.queries.length, "share")
    out("compile.fuzzy_index_keys") = Metric(cd.fuzzyDel.map(_.size).sum, "count")
    out("compile.serialized_bytes") = Metric(serializedBytes(cd).toDouble, "bytes")
    out("spark.broadcast_ms") = med(_.broadcastNs)
    out("spark.job_overhead_ms") = med(_.jobNs)

    def job(): Double = {
      val t0 = System.nanoTime()
      noop(hl.annotateExploded(ctx.spark.read.parquet(docsPath), "text"))
      (System.nanoTime() - t0) / 1e9
    }
    // local[nproc]: four pairs of jobs, untraced (listener off, no spans)
    // and traced, in alternating order; the sleeps let the listener bus
    // drain before the listener comes off
    job()
    var taskRunMs, taskGcMs, taskCpuNs = 0L
    def untracedJob(): Double = {
      Thread.sleep(300)
      sc.removeSparkListener(listener)
      try job() finally sc.addSparkListener(listener)
    }
    def tracedJob(): Double = {
      taskRunMs -= listener.runMs.get; taskGcMs -= listener.gcMs.get; taskCpuNs -= listener.cpuNs.get
      val v = t.timed("spark.annotate_exploded")(job())._1
      Thread.sleep(300)
      taskRunMs += listener.runMs.get; taskGcMs += listener.gcMs.get; taskCpuNs += listener.cpuNs.get
      v
    }
    val (untraced, traced) = (1 to 4).map { k =>
      if (k % 2 == 1) { val u = untracedJob(); (u, tracedJob()) }
      else { val v = tracedJob(); (untracedJob(), v) }
    }.unzip
    out("spark.gc_share") = Metric(taskGcMs.toDouble / taskRunMs, "share")
    out("spark.cpu_share") = Metric(taskCpuNs / 1e6 / taskRunMs, "share")
    val dpsUntraced = n / Stats.median(untraced)
    val dpsTraced = n / Stats.median(traced)

    // one task (the local[1] shape): annotate column alone, then exploded;
    // the fastest of three, once the task thread's fuzzy memo is warm
    def oneTask(name: String, f: DataFrame => DataFrame): Long =
      (1 to 3).map(_ => t.timed(name)(noop(f(ctx.spark.read.parquet(docsPath).coalesce(1))))._2).min
    val columnNs = oneTask("spark.one_task.column", df => hl.annotate(df, "text", "anns"))
    val explodedNs = oneTask("spark.one_task.exploded", df => hl.annotateExploded(df, "text"))

    // single-thread replay: a cold sweep (first touch of the per-thread
    // fuzzy memo, as a fresh library caller sees it), then a warm pass
    // with a span per layer per doc
    val coldMs = new Array[Double](n)
    t.timed("replay.cold") {
      var i = 0
      while (i < n) {
        val t0 = System.nanoTime()
        cd.matchDoc(docs(i))
        coldMs(i) = (System.nanoTime() - t0) / 1e6
        i += 1
      }
    }
    var analysisNs, positionsNs, acNs, matchNs = 0L
    var tokens, maxTokenChars, candidates, verified, annotations = 0L
    val anns = new Array[Seq[Annotation]](n)
    val library = new Array[Digest](n)
    val errored = mutable.Set.empty[Long]
    t.timed("replay.warm") {
      var i = 0
      while (i < n) {
        val text = docs(i)
        val key = s"doc$i"
        t.timed("replay.doc", key) {
          val (fields, a) = t.timed("analysis", key)(cd.fieldConfs.map(c => Analyzer.analyze(c, text)))
          val (ft, p) = t.timed("engine.positions", key)(fields.map(FieldTokens(_)))
          val (acHit, c) = t.timed("engine.ac", key)(acQueries(cd, ft))
          val (res, m) = t.timed("engine.match", key)(
            try Some(cd.matchDoc(text)) catch { case scala.util.control.NonFatal(_) => None })
          analysisNs += a; positionsNs += p; acNs += c; matchNs += m
          fields.foreach { f =>
            tokens += f.length
            f.foreach((tk: Token) => maxTokenChars = math.max(maxTokenChars, tk.end - tk.begin))
          }
          // candidates from the public indexes: non-fuzzy anchor hits
          // plus Aho-Corasick hits; every AC hit is a match
          val anchored = anchorQueries(cd, ft)
          candidates += anchored.length + acHit.size
          verified += acHit.size + anchored.count { q =>
            val buf = mutable.ArrayBuffer.empty[Annotation]
            Matcher.matchQuery(cd.queries(q), ft(cd.queries(q).fieldIdx), text, cd.typeName, buf)
            buf.nonEmpty
          }
          anns(i) = res.getOrElse(Nil)
          annotations += anns(i).length
          library(i) = if (res.isEmpty) { errored += i; Digest(-1, 0) } else Digest.of(i, anns(i))
        }
        i += 1
      }
    }
    out("analysis.ns_per_doc") = nsPerDoc(analysisNs, n)
    out("analysis.tokens_per_doc") = Metric(tokens.toDouble / n, "tokens")
    out("analysis.max_token_chars") = Metric(maxTokenChars.toDouble, "chars")
    out("engine.match_ns_per_doc") = nsPerDoc(matchNs, n)
    out("engine.positions_ns_per_doc") = nsPerDoc(positionsNs, n)
    out("engine.ac_ns_per_doc") = nsPerDoc(acNs, n)
    out("engine.presearch_verify_ns_per_doc") = nsPerDoc(matchNs - analysisNs - positionsNs - acNs, n)
    out("engine.candidates_per_doc") = Metric(candidates.toDouble / n, "queries")
    out("engine.verify_yield") = Metric(if (candidates == 0) 0 else verified.toDouble / candidates, "share")
    out("engine.annotations_per_doc") = Metric(annotations.toDouble / n, "annotations")
    // every blob doc, cold: its token is new to the memo (a workload
    // without blob docs gets 20 of its docs with a blob appended)
    val blobDocs =
      if (inputs.blob.nonEmpty) inputs.blob.toSeq.sorted.map(inputs.docs(_))
      else Gen.blobProbes(inputs.docs, ctx.seed, 20)
    val blobMs = blobDocs.zipWithIndex.map { case (text, k) =>
      t.timed("engine.blob_doc", s"blob$k")(cd.matchDoc(text))._2 / 1e6
    }
    out("engine.slowest_doc_ms") = Metric((coldMs ++ blobMs).max, "ms", n + blobMs.length)
    out("engine.blob_doc_ms_p50") =
      Metric(Stats.median(blobMs), "ms", blobMs.length,
        if (inputs.blob.isEmpty) "probes: docs with a blob appended" else "")

    // spark annotate layers, single thread, second of two rounds
    val utf8 = docs.map(UTF8String.fromString)
    val arrays = new Array[GenericArrayData](n)
    val proj = UnsafeProjection.create(Array[DataType](AnnotateExpression.outputType))
    def loop(name: String)(body: Int => Unit): Long =
      (1 to 2).map { _ =>
        t.timed(name) { var i = 0; while (i < n) { body(i); i += 1 } }._2
      }.last
    val decodeNs = loop("spark.decode")(i => utf8(i).toString)
    val rowNs = loop("spark.row_build")(i => arrays(i) = AnnotateExpression.toCatalyst(anns(i)))
    val unsafeNs = loop("spark.unsafe")(i => proj(InternalRow(arrays(i))))
    out("spark.decode_ns_per_doc") = nsPerDoc(decodeNs, n)
    out("spark.row_build_ns_per_doc") = nsPerDoc(rowNs, n)
    out("spark.unsafe_ns_per_doc") = nsPerDoc(unsafeNs, n)
    out("spark.column_ns_per_doc") = nsPerDoc(columnNs, n)
    out("spark.explode_ns_per_doc") = nsPerDoc(explodedNs - columnNs, n)
    out("spark.overhead_ns_per_doc") = nsPerDoc(columnNs - matchNs, n)
    out("spark.parallel_efficiency") = Metric(dpsUntraced / (ctx.nproc * n / (explodedNs / 1e9)), "share")

    // streaming layers: the whole run for a streaming workload, a short
    // phase over the first docs otherwise
    val s = t.timed("stream") {
      if (ctx.spec.stream)
        stream(ctx, inputs, inputs.docs, StreamPrime, streamWarm(ctx.spec), ctx.spec.streamRate,
          ReloadSeconds, timeLibrary = false)
      else {
        // two priming batches keep the phase short; its figures are
        // per-layer only
        val prime = 2 * PrimeBatchDocs
        val m = math.min(inputs.docs.length, prime + ctx.spec.streamRate * StreamPhaseSeconds)
        stream(ctx, inputs, inputs.docs.take(m), prime, ctx.spec.streamRate / 2,
          ctx.spec.streamRate, StreamPhaseSeconds / 2.0, timeLibrary = false)
      }
    }._1
    out ++= s.layers

    out("trace.overhead_share") = Metric((dpsUntraced - dpsTraced) / dpsUntraced, "share")
    out("trace.reconcile_ratio") = Metric(
      (matchNs + decodeNs + rowNs + unsafeNs + (explodedNs - columnNs)).toDouble / explodedNs, "ratio")

    val batch = batchChecks(ctx, hl, docsPath, inputs, library, errored.toSet, cd)
    sc.removeSparkListener(listener)
    (out.toMap, Checked(math.max(batch.attempted, s.checked.attempted), batch.failed ++ s.checked.failed))
  }

  private def serializedBytes(o: AnyRef): Long = {
    var count = 0L
    val sink = new java.io.OutputStream {
      override def write(b: Int): Unit = count += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = count += len
    }
    val oos = new java.io.ObjectOutputStream(sink)
    oos.writeObject(o)
    oos.close()
    count
  }

  private def acQueries(cd: graft.engine.CompiledDictionary, ft: Array[FieldTokens]): Set[Int] = {
    val hit = mutable.Set.empty[Int]
    var f = 0
    while (f < ft.length) {
      val a = cd.ac(f)
      if (a != null && ft(f).tokens.nonEmpty)
        a.run(ft(f).tokens.map(_.term), (q, _, _) => { hit += q; () })
      f += 1
    }
    hit.toSet
  }

  private def anchorQueries(cd: graft.engine.CompiledDictionary, ft: Array[FieldTokens]): Seq[Int] = {
    val out = mutable.ArrayBuffer.empty[Int]
    var f = 0
    while (f < ft.length) {
      val idx = cd.anchor(f)
      if (!idx.isEmpty) ft(f).positions.keySet().forEach { term =>
        val hit = idx.get(term)
        if (hit != null) out ++= hit
      }
      f += 1
    }
    out.toSeq
  }
}
