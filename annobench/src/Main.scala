package annobench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Annotate-path benchmark.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  * Prints a host line, a table of every metric and, as the last line,
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics untraced, the per-layer metrics traced. `--out` receives the
  * run's inputs (deleted at exit), a result file and, traced, the spans.
  */
object Main {

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Path.of("/proc/loadavg")), UTF_8).trim.split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument '$k'"); k.drop(2) -> v
    }.toMap
    Seq("workload", "seed", "seconds", "trace", "out").foreach(k =>
      require(m.contains(k), s"missing --$k"))
    m
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spec = Spec.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") match {
      case "0" => false
      case "1" => true
      case o   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    require(seconds >= 1, "--seconds must be at least 1")
    val out = Path.of(a("out")).toAbsolutePath
    val work = out.resolve(s"work-${spec.name}-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val load0 = loadavg()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("annobench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // one partition per doc file: writeDocs sizes the files for the cores
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.files.openCostInBytes", "256m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tracer = new Tracer(trace)
      val ctx = new Ctx(spark, spec, seed, seconds, tracer, work, nproc)
      val nDocs = if (spec.stream) Runs.streamDocs(spec, seconds) else spec.docs
      val inputs = Gen.inputs(spec, seed, nDocs)
      Runs.log(s"inputs ready: ${inputs.docs.length} docs")
      val dictPath = ctx.path("dict.json")
      Files.write(Path.of(dictPath), Gen.dictJson(inputs.dictA).getBytes(UTF_8))
      val tinyPath = Runs.writeDocs(ctx, inputs.docs.take(1), "tiny.parquet")
      val docsPath =
        if (spec.stream && !trace) ""
        else Runs.writeDocs(ctx, inputs.docs.take(Runs.sparkDocs(ctx, inputs)), "docs.parquet")
      val (metrics, checked) =
        if (trace) Layers.run(ctx, inputs, dictPath, tinyPath, docsPath)
        else if (spec.stream) Runs.streamE2E(ctx, inputs, dictPath, tinyPath)
        else Runs.batch(ctx, inputs, dictPath, tinyPath, docsPath)
      val load1 = loadavg()
      val host = Seq(
        "workload" -> s""""${spec.name}"""", "seed" -> seed.toString, "seconds" -> seconds.toString,
        "trace" -> (if (trace) "1" else "0"), "nproc" -> nproc.toString,
        "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "jdk" -> s""""${System.getProperty("java.version")}"""",
        "spark" -> s""""${spark.version}"""",
        "loadavg_1m_start" -> load0.toString, "loadavg_1m_end" -> load1.toString,
        "docs" -> inputs.docs.length.toString)
      val hostJson = host.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"host $hostJson")
      val errorRate = checked.failed.size.toDouble / checked.attempted
      println(f"${"metric"}%-36s ${"value"}%16s ${"unit"}%-12s ${"samples"}%8s note")
      (metrics.toSeq.sortBy(_._1) :+ ("error_rate" -> Metric(errorRate, "share", checked.attempted)))
        .foreach { case (k, m) =>
          println(f"$k%-36s ${m.value}%16.4f ${m.unit}%-12s ${m.samples}%8d ${m.note}")
        }
      if (checked.failed.nonEmpty)
        println(s"failing doc ids: ${checked.failed.toSeq.sorted.take(200).mkString(",")}")
      if (trace) {
        println("spans (name, count, total ms, self ms):")
        tracer.summary.foreach { case (name, count, total, self) =>
          println(f"  $name%-28s $count%8d ${total / 1e6}%12.1f ${self / 1e6}%12.1f")
        }
        tracer.write(out.resolve(s"trace-${spec.name}-$seed.jsonl"))
      }
      val metricsJson = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        s""""$k":{"value":${m.value},"unit":"${m.unit}"}"""
      }.mkString("{", ",", "}")
      val result = s"""{"correct":${checked.failed.isEmpty},"attempted":${checked.attempted},""" +
        s""""failed":${checked.failed.size},"metrics":$metricsJson}"""
      val full = s"""{"host":$hostJson,"error_rate":$errorRate,""" +
        s""""failing_doc_ids":${checked.failed.toSeq.sorted.mkString("[", ",", "]")},""" +
        s""""samples":${metrics.toSeq.sortBy(_._1).map { case (k, m) => s""""$k":${m.samples}""" }.mkString("{", ",", "}")},""" +
        s""""result":$result}"""
      Files.write(out.resolve(s"result-${spec.name}-$seed-trace${if (trace) 1 else 0}.json"),
        full.getBytes(UTF_8))
      println(result)
    } finally {
      spark.stop()
      deleteTree(work)
      Runs.log("done")
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(q => Files.deleteIfExists(q))
}
