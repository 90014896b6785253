package annobench

import annobench.Stats.Digest
import graft.analysis.Analyzer
import graft.dict.{Annotation, Readers, ValidatorCli, Validator, DictionaryEntry => DE}
import graft.engine.{CompiledDictionary, FieldTokens, Matcher, PhraseHighlighter, PostProcess}
import graft.spark.{AnnotateExpression, SparkHighlighter}
import graft.streaming.{IdempotentSink, RefreshingAnnotator}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Metric(value: Double, unit: String, samples: Long = 0, note: String = "")

/** Shared state of one run. `work` holds this run's generated inputs. */
final class Ctx(val spark: SparkSession, val spec: Spec, val seed: Long,
    val seconds: Int, val tracer: Tracer, val work: Path, val nproc: Int) {
  def path(name: String): String = work.resolve(name).toString
}

/** What a run checked: docs attempted and the ids of the docs whose
  * output was missing, duplicated, wrong or errored.
  */
final case class Checked(attempted: Long, failed: Set[Long])

object Runs {

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Writes the docs as `4 × nproc` parquet files of (id, text), each read
    * as one partition.
    */
  def writeDocs(ctx: Ctx, docs: IndexedSeq[String], name: String): String = {
    import ctx.spark.implicits._
    val p = ctx.path(name)
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(4 * ctx.nproc).write.parquet(p)
    p
  }

  // ------------------------------------------------------------------ setup

  final case class SetupRep(readNs: Long, validateNs: Long, compileNs: Long,
      broadcastNs: Long, jobNs: Long, totalNs: Long)

  /** Dictionary file → highlighter ready to annotate, `reps` times:
    * `Readers` parse, `Validator`, compile, broadcast and a first
    * annotate job over one doc. Returns the reps and the last
    * highlighter with its entries.
    */
  def setup(ctx: Ctx, dictPath: String, tinyPath: String, reps: Int)
      : (Seq[SetupRep], SparkHighlighter, Seq[DE]) = {
    val t = ctx.tracer
    var last: (SparkHighlighter, Seq[DE]) = null
    val out = (1 to reps).map { r =>
      val ((rep, hl, entries), total) = t.timed("setup", s"rep$r") {
        val (entries, readNs) = t.timed("dict.read")(Readers.readJson(ctx.spark, dictPath))
        val (errs, validateNs) = t.timed("dict.validate")(Validator.validate(entries))
        require(errs.isEmpty, s"generated dictionary is invalid: ${errs.take(3).mkString("; ")}")
        val (hl, compileNs) = t.timed("compile")(new SparkHighlighter(entries))
        val tiny = ctx.spark.read.parquet(tinyPath)
        val (col, broadcastNs) = t.timed("spark.broadcast")(hl.annotateColumn(tiny, "text"))
        val (_, jobNs) = t.timed("spark.job_overhead")(tiny.select(col).collect())
        (SetupRep(readNs, validateNs, compileNs, broadcastNs, jobNs, 0L), hl, entries)
      }
      last = (hl, entries)
      rep.copy(totalNs = total)
    }
    (out, last._1, last._2)
  }

  // ----------------------------------------------------------------- checks

  /** Per-doc digests of the exploded rows Spark produces. */
  def sparkDigests(ctx: Ctx, hl: SparkHighlighter, docsPath: String): Map[Long, Digest] =
    hl.annotateExploded(ctx.spark.read.parquet(docsPath), "text")
      .select("id", "dict_entry_id", "begin_offset", "end_offset", "matched_text")
      .rdd.mapPartitions { rows =>
        // explode keeps a doc's rows in its partition
        val m = mutable.HashMap.empty[Long, Digest]
        rows.foreach { r =>
          val id = r.getLong(0)
          m(id) = m.getOrElse(id, Digest.empty) +
            Digest.row(id, r.getString(1), r.getInt(2), r.getInt(3), r.getString(4))
        }
        m.iterator
      }.collect().toMap

  /** The matcher with every optimisation off: each compiled query over
    * freshly analyzed fields, no anchors, no Aho-Corasick, no deletion
    * index, then `PostProcess`.
    */
  def bruteForce(cd: CompiledDictionary, text: String): Seq[Annotation] = {
    if (text == null || text.trim.isEmpty) return Nil
    val fields = cd.fieldConfs.map(c => FieldTokens(Analyzer.analyze(c, text)))
    val out = mutable.ArrayBuffer.empty[Annotation]
    cd.queries.foreach(q => Matcher.matchQuery(q, fields(q.fieldIdx), text, cd.typeName, out))
    out.map(PostProcess.apply).toSeq
  }

  private def rowsOf(anns: Seq[Annotation]) =
    anns.map(a => (a.dictEntryId, a.beginOffset, a.endOffset, a.text)).sorted

  /** Docs in the parquet input of the Spark jobs. */
  def sparkDocs(ctx: Ctx, inputs: Inputs): Int = math.min(ctx.spec.sparkDocs, inputs.docs.length)

  /** Progress of a run's phases, on stderr. */
  def log(msg: String): Unit = System.err.println(
    f"[annobench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  /** Batch checks: Spark's per-doc digests equal the library's, and a
    * seeded sample (plus a blob doc, if any) equals brute force.
    */
  def batchChecks(ctx: Ctx, hl: SparkHighlighter, docsPath: String, inputs: Inputs,
      library: Array[Digest], errored: Set[Long], cd: CompiledDictionary): Checked = {
    val spark = sparkDigests(ctx, hl, docsPath)
    val digestBad = (0 until sparkDocs(ctx, inputs)).filter(i =>
      spark.getOrElse(i.toLong, Digest.empty) != library(i)).map(_.toLong)
    val r = new java.util.SplittableRandom(ctx.seed ^ 0x5eed)
    val sample = ((0 until 8).map(_ => r.nextInt(inputs.docs.length)) ++
      inputs.blob.toSeq.sorted.take(1)).distinct
    val bruteBad = sample.filter { i =>
      val text = inputs.docs(i)
      rowsOf(bruteForce(cd, text)) != rowsOf(cd.matchDoc(text))
    }.map(_.toLong)
    Checked(library.length, digestBad.toSet ++ bruteBad ++ errored)
  }

  // ---------------------------------------------------- library (one thread)

  /** `PhraseHighlighter.annotate` on this thread, doc by doc: per-doc µs,
    * digests, and the ids of docs that threw.
    */
  final class LibraryPass(docs: IndexedSeq[String]) {
    val latUs = new Array[Double](docs.length)
    val digests = new Array[Digest](docs.length)
    val errored = mutable.Set.empty[Long]

    def run(ph: PhraseHighlighter, from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val t0 = System.nanoTime()
        try {
          val anns = ph.annotate(docs(i))
          latUs(i) = (System.nanoTime() - t0) / 1e3
          digests(i) = Digest.of(i, anns)
        } catch {
          case scala.util.control.NonFatal(_) =>
            latUs(i) = (System.nanoTime() - t0) / 1e3
            digests(i) = Digest(-1, 0)
            errored += i
        }
        i += 1
      }
    }
  }

  /** Library digests of every doc on all cores (reference outputs only). */
  def parallelDigests(ph: PhraseHighlighter, docs: IndexedSeq[String]): Array[Digest] = {
    val out = new Array[Digest](docs.length)
    java.util.stream.IntStream.range(0, docs.length).parallel().forEach { i =>
      out(i) = try Digest.of(i, ph.annotate(docs(i)))
        catch { case scala.util.control.NonFatal(_) => Digest(-1, 0) }
    }
    out
  }

  // -------------------------------------------------------- batch, untraced

  def setupMetric(reps: Seq[SetupRep]): Metric =
    Metric(Stats.median(reps.map(_.totalNs / 1e9)), "s", reps.length)

  /** Set-ups timed per run; `setup_s` is their median. */
  val SetupReps = 5

  /** Rounds of a batch run. Each runs a Spark job, a slice of the library
    * pass and, until there are enough, a set-up, so that every metric
    * samples the whole measured interval.
    */
  val Rounds = 10

  /** Spark jobs a batch run makes before it measures. */
  val WarmJobs = 6

  /** A batch workload (`mixed_crawl`) end to end. */
  def batch(ctx: Ctx, inputs: Inputs, dictPath: String, tinyPath: String,
      docsPath: String): (Map[String, Metric], Checked) = {
    val (first, hl, entries) = setup(ctx, dictPath, tinyPath, 1)
    val n = sparkDocs(ctx, inputs)
    def job(): Double = {
      val t0 = System.nanoTime()
      noop(hl.annotateExploded(ctx.spark.read.parquet(docsPath), "text"))
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up (JIT, per-thread memos): after three seconds alone, the
    // first measured job was still the slowest, by up to 1.6x
    val w0 = System.nanoTime()
    var warm = 0
    while (warm < WarmJobs || System.nanoTime() - w0 < 3000000000L) { job(); warm += 1 }
    log(f"warm-up: $warm jobs in ${(System.nanoTime() - w0) / 1e9}%.1f s")
    val ph = new PhraseHighlighter(entries)
    val pass = new LibraryPass(inputs.docs)
    val reps = mutable.ArrayBuffer.empty[SetupRep] ++= first
    val roundJobs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val d = inputs.docs.length
    (0 until Rounds).foreach { r =>
      roundJobs += job()
      pass.run(ph, r * d / Rounds, (r + 1) * d / Rounds)
      if (reps.length < SetupReps) reps ++= setup(ctx, dictPath, tinyPath, 1)._1
    }
    val jobs = roundJobs.clone()
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) jobs += job()
    log(f"${(System.nanoTime() - t0) / 1e9}%.1f s measured; jobs ${jobs.map(j => f"$j%.2f").mkString(" ")}; " +
      f"setups ${reps.map(r => f"${r.totalNs / 1e9}%.2f").mkString(" ")}")
    val lat = pass.latUs
    // every doc of a job is due when the job is submitted and committed
    // when its noop write returns, so a job's docs share its latency and
    // are not independent samples. Over the round jobs, the doc-weighted
    // median is the median job and the doc-weighted p99 is the slowest
    // job: the same order statistic in every run, with no ten samples
    // beyond it.
    val event = roundJobs.map(_ * 1e3).toSeq
    val metrics = Map(
      "docs_per_s" -> Metric(n / Stats.median(jobs.toSeq), "docs/s", jobs.length),
      "doc_latency_p50_us" -> Metric(Stats.median(lat.toSeq), "us", lat.length),
      "doc_latency_p999_us" -> Metric(Stats.mustTail(lat, 0.999, "doc latency"), "us", lat.length),
      "event_latency_p50_ms" -> Metric(Stats.median(event), "ms", Rounds, s"median of $Rounds jobs"),
      "event_latency_p99_ms" -> Metric(event.max, "ms", Rounds, s"slowest of $Rounds jobs"),
      "setup_s" -> setupMetric(reps.toSeq))
    val checked = batchChecks(ctx, hl, docsPath, inputs, pass.digests, pass.errored.toSet, ph.compiled)
    log("checks done")
    (metrics, checked)
  }

  // ------------------------------------------------------------------ stream

  final case class BatchRec(batchId: Long, broadcastId: Long, writeStartNs: Long, writeEndNs: Long)

  final case class StreamOut(
      measured: Int, eventMs: Array[Double], docsPerS: Double, checked: Checked,
      latA: Array[Double], layers: Map[String, Metric])

  private def broadcastId(df: DataFrame): Long =
    df.queryExecution.logical.flatMap(_.expressions.flatMap(_.collect {
      case a: AnnotateExpression => a.bc.id
    })).headOption.getOrElse(-1L)

  /** Open-loop stream: the first `prime` docs start the query in batches
    * of [[PrimeBatchDocs]], each run to completion, then a generator
    * thread offers the rest at `rate` docs/s to a MemoryStream; the first
    * `warm` of those are excluded from the measurements.
    * `RefreshingAnnotator.writer` annotates and `IdempotentSink` commits
    * each batch; every `reloadS` seconds the dictionary file is replaced
    * atomically by the other version. Checks every doc is committed once
    * with the library output of version A or B. With `timeLibrary`, the
    * library pass with version A runs twice, before and after the stream,
    * each on a fresh highlighter whose memo the priming docs warm; the
    * latencies of the other docs in both passes are returned.
    */
  def stream(ctx: Ctx, inputs: Inputs, docs: IndexedSeq[String], prime: Int, warm: Int,
      rate: Int, reloadS: Double, timeLibrary: Boolean): StreamOut = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = ctx.work.resolve("stream")
    Files.createDirectories(dir)
    val dictFile = dir.resolve("dict.json")
    val jsonA = Gen.dictJson(inputs.dictA)
    val jsonB = Gen.dictJson(inputs.dictB)
    Files.write(dictFile, jsonA.getBytes(UTF_8))
    var swaps = 0
    def swap(): Unit = {
      swaps += 1
      val tmp = dir.resolve("dict.json.tmp")
      Files.write(tmp, (if (swaps % 2 == 1) jsonB else jsonA).getBytes(UTF_8))
      Files.move(tmp, dictFile, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    val entriesA = ValidatorCli.readJsonString(jsonA)
    def libraryPass(): LibraryPass = {
      val p = new LibraryPass(docs)
      p.run(new PhraseHighlighter(entriesA), 0, docs.length)
      p
    }
    val before = if (timeLibrary) Some(libraryPass()) else None
    if (timeLibrary) log("library pass before the stream done")

    val outDir = dir.resolve("out").toString
    val recs = new java.util.concurrent.ConcurrentHashMap[Long, BatchRec]()
    val progress = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.put(e.progress.batchId, e.progress.durationMs.asScala.map {
          case (k, v) => k -> v.longValue
        }.toMap)
    }
    if (ctx.tracer.enabled) spark.streams.addListener(listener)

    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)](ctx.nproc)
    val annotator = new RefreshingAnnotator(dictFile.toString)
    val query = ctx.tracer.timed("stream.start")(
      annotator.writer(ms.toDF().toDF("id", "due_ns", "text"), "text") { (df, batchId) =>
        val bc = broadcastId(df)
        val (_, writeNs) = ctx.tracer.timed("sink.write_batch", s"batch$batchId")(
          IdempotentSink.writeBatch(df, outDir, batchId))
        val end = System.nanoTime()
        recs.put(batchId, BatchRec(batchId, bc, end - writeNs, end))
      }.option("checkpointLocation", dir.resolve("checkpoint").toString).start())._1

    var primed = -1L // the last batch of the priming docs
    val dueNs = new Array[Long](docs.length)
    val addNs = new Array[Long](docs.length)
    try {
      (0 until prime).grouped(PrimeBatchDocs).foreach { ids =>
        val p0 = System.nanoTime()
        ms.addData(ids.map(i => (i.toLong, p0, docs(i))): _*)
        query.processAllAvailable()
        ids.foreach { i => dueNs(i) = p0; addNs(i) = p0 }
      }
      primed = recs.keySet().asScala.maxOption.getOrElse(-1L)
      log(s"stream primed: ${primed + 1} batches")
      val periodNs = 1e9 / rate
      val start = System.nanoTime() + 20000000L
      def due(k: Int): Long = start + ((k - prime) * periodNs).toLong
      val gen = new Thread(() => {
        var i = prime
        var nextSwap = start + (reloadS * 1e9).toLong
        while (i < docs.length) {
          val now = System.nanoTime()
          if (now < due(i)) java.util.concurrent.locks.LockSupport.parkNanos(due(i) - now)
          else {
            var j = i
            while (j < docs.length && due(j) <= now) j += 1
            ms.addData((i until j).map { k => dueNs(k) = due(k); (k.toLong, dueNs(k), docs(k)) }: _*)
            val added = System.nanoTime()
            (i until j).foreach(k => addNs(k) = added)
            i = j
            if (added >= nextSwap && i < docs.length) { swap(); nextSwap += (reloadS * 1e9).toLong }
          }
        }
      }, "annobench-generator")
      ctx.tracer.timed("stream.run") {
        gen.start()
        gen.join()
        query.processAllAvailable()
      }
    } finally query.stop()
    log("stream stopped")
    if (ctx.tracer.enabled) {
      // progress events arrive asynchronously; wait for the last batch's
      val lastBatch = recs.keySet().asScala.maxOption.getOrElse(-1L)
      val deadline = System.nanoTime() + 10000000000L
      while (!progress.containsKey(lastBatch) && System.nanoTime() < deadline) Thread.sleep(20)
      spark.streams.removeListener(listener)
    }

    // read back exactly the committed batches, with their batch ids
    val committed = Files.list(Path.of(outDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_committed_"))
      .map(_.stripPrefix("_committed_").toLong).toSeq.sorted
    val rows = spark.read.option("basePath", outDir)
      .parquet(committed.map(b => s"$outDir/batch=$b"): _*)
      .selectExpr("batch", "id", "transform(annotations, a -> struct(a.dictEntryId, a.beginOffset, a.endOffset, a.text)) AS anns")
      .collect()
    val seen = new Array[Int](docs.length)
    val batchOf = new Array[Long](docs.length)
    val outDigest = new Array[Digest](docs.length)
    val stray = mutable.Set.empty[Long]
    rows.foreach { r =>
      val id = r.getLong(1)
      if (id < 0 || id >= docs.length) stray += id
      else {
        seen(id.toInt) += 1
        batchOf(id.toInt) = r.getAs[Number](0).longValue
        outDigest(id.toInt) = r.getSeq[org.apache.spark.sql.Row](2).foldLeft(Digest.empty) { (d, a) =>
          d + Digest.row(id, a.getString(0), a.getInt(1), a.getInt(2), a.getString(3))
        }
      }
    }
    val (latA, libA, erroredA) = before match {
      case Some(b) =>
        val a = libraryPass()
        // the two passes must agree doc by doc
        val differ = docs.indices.filter(i => a.digests(i) != b.digests(i)).map(_.toLong)
        (b.latUs.drop(prime) ++ a.latUs.drop(prime), a.digests, a.errored.toSet ++ b.errored ++ differ)
      case None =>
        (Array.empty[Double], parallelDigests(new PhraseHighlighter(entriesA), docs), Set.empty[Long])
    }
    val libB = parallelDigests(new PhraseHighlighter(ValidatorCli.readJsonString(jsonB)), docs)
    val bad = docs.indices.filter(i =>
      seen(i) != 1 || (outDigest(i) != libA(i) && outDigest(i) != libB(i))).map(_.toLong)
    val checked = Checked(docs.length, bad.toSet ++ stray ++ erroredA)

    val commitEnd = recs.asScala.map { case (b, r) => b -> r.writeEndNs }
    log(f"stream: ${recs.size} batches, write ms p50 " +
      f"${Stats.median(recs.asScala.values.map(r => (r.writeEndNs - r.writeStartNs) / 1e6).toSeq)}%.0f")
    val first = prime + warm
    val measuredIds = first until docs.length
    val eventMs = measuredIds.filter(i => seen(i) == 1)
      .map(i => (commitEnd(batchOf(i)) - dueNs(i)) / 1e6).toArray
    val lastCommit = measuredIds.filter(i => seen(i) == 1).map(i => commitEnd(batchOf(i))).max
    val docsPerS = measuredIds.length / ((lastCommit - dueNs(first)) / 1e9)

    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Metric]
      else streamLayers(recs.asScala.values.toSeq.sortBy(_.batchId), primed, progress.asScala.toMap,
        batchOf, seen, dueNs, addNs, first, outDir, docs.length)
    StreamOut(measuredIds.length, eventMs, docsPerS, checked, latA, layers)
  }

  private def pct(xs: Seq[Double], q: Double): (Double, Long) =
    if (xs.isEmpty) (0.0, 0L)
    else {
      val s = xs.sorted
      (s(math.max(0, math.ceil(q * s.length).toInt - 1)), s.length.toLong)
    }

  private def tailNote(n: Long, q: Double): String =
    if (n - math.ceil(q * n) < Stats.MinBeyond) s"fewer than ${Stats.MinBeyond} beyond" else ""

  private def streamLayers(recs: Seq[BatchRec], primed: Long, progress: Map[Long, Map[String, Long]],
      batchOf: Array[Long], seen: Array[Int], dueNs: Array[Long], addNs: Array[Long],
      warm: Int, outDir: String, nDocs: Int): Map[String, Metric] = {
    // the priming batches load the first version; a reload is a batch
    // whose broadcast differs from its predecessor's
    val measured = recs.filter(_.batchId > primed)
    val reload = measured.filter(r => recs.find(_.batchId == r.batchId - 1).exists(_.broadcastId != r.broadcastId))
      .map(_.batchId).toSet
    def dur(b: Long, k: String): Option[Double] = progress.get(b).flatMap(_.get(k)).map(_.toDouble)
    def refresh(r: BatchRec): Option[Double] =
      dur(r.batchId, "addBatch").map(a => a - (r.writeEndNs - r.writeStartNs) / 1e6)
    val trig = measured.flatMap(r => dur(r.batchId, "triggerExecution"))
    val docsIn = batchOf.indices.filter(i => i >= warm && seen(i) == 1).groupBy(i => batchOf(i))
      .map { case (b, ids) => b -> ids.length }
    val committedBefore = measured.scanLeft(0L)((acc, r) => acc + docsIn.getOrElse(r.batchId, 0)).tail
    val backlog = measured.zip(committedBefore).map { case (r, done) =>
      addNs.indices.count(i => i >= warm && addNs(i) != 0 && addNs(i) <= r.writeEndNs) - done
    }
    val bytes = Files.walk(Path.of(outDir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size(_)).sum
    val lag = (warm until nDocs).map(i => (addNs(i) - dueNs(i)) / 1e6)
    def m50(xs: Seq[Double], unit: String) = Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), unit, xs.length)
    def m99(xs: Seq[Double], unit: String) = {
      val (v, n) = pct(xs, 0.99)
      Metric(v, unit, n, tailNote(n, 0.99))
    }
    Map(
      "stream.trigger_ms_p50" -> m50(trig, "ms"),
      "stream.trigger_ms_p99" -> m99(trig, "ms"),
      "stream.planning_ms_p50" -> m50(measured.flatMap(r => dur(r.batchId, "queryPlanning")), "ms"),
      "stream.wal_commit_ms_p50" -> m50(measured.flatMap(r => dur(r.batchId, "walCommit")), "ms"),
      "stream.refresh_ms_p50" -> m50(measured.filterNot(r => reload(r.batchId)).flatMap(refresh), "ms"),
      "stream.reload_ms_p50" -> m50(measured.filter(r => reload(r.batchId)).flatMap(refresh), "ms"),
      "stream.reloads" -> Metric(reload.size, "count"),
      "stream.docs_per_batch_p50" -> m50(measured.map(r => docsIn.getOrElse(r.batchId, 0).toDouble), "docs"),
      "stream.backlog_docs_max" -> Metric(if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "docs"),
      "sink.write_batch_ms_p50" -> m50(measured.map(r => (r.writeEndNs - r.writeStartNs) / 1e6), "ms"),
      "sink.bytes_per_doc" -> Metric(bytes.toDouble / nDocs, "bytes"),
      "gen.lag_ms_p99" -> m99(lag, "ms"))
  }

  /** `stream_reload` end to end. */
  def streamE2E(ctx: Ctx, inputs: Inputs, dictPath: String, tinyPath: String)
      : (Map[String, Metric], Checked) = {
    val (reps, _, _) = setup(ctx, dictPath, tinyPath, SetupReps)
    log("set-ups done")
    val out = stream(ctx, inputs, inputs.docs, StreamPrime, streamWarm(ctx.spec),
      ctx.spec.streamRate, ReloadSeconds, timeLibrary = true)
    val lat = out.latA
    val metrics = Map(
      "docs_per_s" -> Metric(out.docsPerS, "docs/s", out.measured),
      "doc_latency_p50_us" -> Metric(Stats.median(lat.toSeq), "us", lat.length),
      "doc_latency_p999_us" -> Metric(Stats.mustTail(lat, 0.999, "doc latency"), "us", lat.length),
      "event_latency_p50_ms" -> Metric(Stats.median(out.eventMs.toSeq), "ms", out.eventMs.length),
      "event_latency_p99_ms" -> Metric(Stats.mustTail(out.eventMs, 0.99, "event latency"), "ms",
        out.eventMs.length),
      "setup_s" -> setupMetric(reps))
    (metrics, out.checked)
  }

  /** Seconds between dictionary replacements in a stream. */
  val ReloadSeconds = 2.0
  /** Docs that start a stream, before the open loop: they warm the
    * query's code paths and the task threads' memos, so that the
    * measurements do not open on a backlog.
    */
  val StreamPrime = 4000
  val PrimeBatchDocs = 400
  /** Offered docs excluded from a stream's measurements (one second). */
  def streamWarm(spec: Spec): Int = spec.streamRate
  /** Docs a `stream_reload` run offers: `seconds` of measurement, and
    * at least 10k, so that the two library passes give at least 20
    * samples beyond p99.9.
    */
  def streamDocs(spec: Spec, seconds: Int): Int =
    StreamPrime + math.max(10000, streamWarm(spec) + spec.streamRate * seconds)
}
