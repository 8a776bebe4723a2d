package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** What a workload measured, before it becomes metrics. */
final class Figures {
  /** Seconds of each repetition of the workload's set-up. */
  var setup: Seq[Double] = Nil
  /** Input sizes, written to the results file. */
  val sizes = mutable.LinkedHashMap.empty[String, Double]
  /** Untraced latency samples of the workload's client call, seconds. */
  var calls: Seq[Double] = Nil
  /** Work items completed by untraced calls, and the seconds they took. */
  var items = 0.0
  var itemSeconds = 0.0
  val bytesPerTextByte = mutable.ArrayBuffer.empty[Double]
  /** Workload-specific figures, reported with the per-layer metrics. */
  val named = mutable.LinkedHashMap.empty[String, Double]
}

object Figures {
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** The benchmark driver: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --results <dir> [--commit <id>]`.
  *
  * Prints a provenance line, then as its last stdout line one JSON object
  * with `correct`, `attempted`, `failed` and the metrics: the end-to-end
  * metrics untraced, the per-layer metrics with `--trace 1`.
  */
object Main {
  val Cores = 4

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "call_p50_ms" -> "ms",
    "index_bytes_per_text_byte" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.extract_s" -> "s", "sources.files" -> "count",
    "sources.input_mb" -> "MB", "sources.failed_files" -> "count",
    "functions.clean_s" -> "s",
    "chunkers.fixed_s" -> "s", "chunkers.sentence_s" -> "s",
    "chunkers.paragraph_s" -> "s", "chunkers.chunks" -> "count",
    "embeddings.embed_s" -> "s", "embeddings.chunks" -> "count",
    "embeddings.query_embed_ms" -> "ms",
    "index.write_s" -> "s", "index.bytes_written" -> "bytes",
    "index.files_written" -> "count", "index.append_s" -> "s",
    "index.append_fresh_ratio" -> "ratio",
    "search.exact_call_ms" -> "ms", "search.ivf_call_ms" -> "ms",
    "search.batch_call_s" -> "s", "search.rows_scanned_per_result" -> "rows",
    "search.ivf_files_read" -> "count", "search.ivf_build_s" -> "s",
    "search.ivf_append_s" -> "s", "search.ivf_files_per_cluster" -> "count",
    "search.compact_s" -> "s", "search.compact_bytes_rewritten" -> "bytes",
    "dedup.fold_s" -> "s", "dedup.fold_jobs" -> "count",
    "dedup.patch_rows" -> "rows", "dedup.planted_pair_recall" -> "ratio",
    "dedup.compact_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s", "spark.input_records" -> "rows",
    "trace.overhead_ratio" -> "ratio", "trace.layer_coverage" -> "ratio",
    "peak_rss_mb" -> "MB",
    "ingest_mb_per_s" -> "MB/s", "search_exact_p50_ms" -> "ms",
    "search_exact_p90_ms" -> "ms", "search_ivf_p50_ms" -> "ms",
    "search_ivf_p90_ms" -> "ms", "search_batch_qps" -> "1/s",
    "ivf_recall_at_10" -> "ratio", "update_docs_per_s" -> "1/s",
    "fresh_query_p50_ms" -> "ms", "fresh_query_p90_ms" -> "ms",
    "failed_op_ratio" -> "ratio")

  /** Span (layer.name) whose per-call self time each per-layer metric is. */
  private val SpanMetrics: Seq[(String, String, Double)] = Seq(
    ("sources.extract_s", "sources.readDocumentsLenient", 1.0),
    ("functions.clean_s", "functions.cleanText", 1.0),
    ("chunkers.fixed_s", "chunkers.fixed", 1.0),
    ("chunkers.sentence_s", "chunkers.sentence", 1.0),
    ("chunkers.paragraph_s", "chunkers.paragraph", 1.0),
    ("embeddings.embed_s", "embeddings.embedDataset", 1.0),
    ("index.write_s", "index.writeIndex", 1.0),
    ("index.append_s", "index.appendIndex", 1.0),
    ("search.exact_call_ms", "search.topK", 1e3),
    ("search.ivf_call_ms", "search.ivfTopKFromIndex", 1e3),
    ("search.batch_call_s", "search.topKPerQuery", 1.0),
    ("search.ivf_append_s", "search.appendIvfIndex", 1.0),
    ("search.compact_s", "search.compactIvfIndex", 1.0),
    ("dedup.fold_s", "dedup.foldSoftDedupWeightsBatch", 1.0),
    ("dedup.compact_s", "dedup.compactSoftDedupWeights", 1.0))

  /** Root calls whose query embedding is one query (not a batch of 32). */
  private val SingleQueryCalls = Set("exact", "ivf", "fresh")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean, work: Path, results: Path, commit: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("scale").contains("tiny"),
      Paths.get(need("work")), Paths.get(need("results")),
      m.getOrElse("commit", "unknown"))
  }

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val Workloads: Map[String, Run => Figures] = Map(
    "ingest_bulk" -> IngestBulk.run,
    "search_serve" -> SearchServe.run,
    "update_mixed" -> UpdateMixed.run)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    Files.createDirectories(a.work)
    val spark = session(a.work, Cores)
    try {
      val listener = new SpanListener
      if (a.trace) spark.sparkContext.addSparkListener(listener)
      val r = new Run(spark, a.seed, a.seconds, a.work, a.trace, a.tiny)
      val f = workload(r)
      r.log(s"done: setups ${f.setup.map(s => f"$s%.1f").mkString(", ")} s, attempted ${r.attempted}")
      PerfbenchBus.drain(spark.sparkContext)
      val metrics =
        if (a.trace) perLayer(r, f, OpTrace.summarize(r.tracer, listener))
        else endToEnd(f)
      val provenance = Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "seconds" -> Json.num(a.seconds), "trace" -> a.trace.toString,
        "master" -> Json.str(spark.sparkContext.master),
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "mem_total_kb" -> memTotalKb.toString,
        "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
        "spark" -> Json.str(spark.version), "commit" -> Json.str(a.commit),
        "note" -> Json.str(s"local[$Cores] on this host; not comparable with the r19/r20 local[32] artifacts")))
      val correct = r.failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
      val result = Json.obj(Seq(
        "correct" -> correct.toString, "attempted" -> r.attempted.toString,
        "failed" -> r.failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v) =>
          val unit = (EndToEnd ++ PerLayer).toMap.apply(n)
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
        })))
      Files.createDirectories(a.results)
      Files.write(a.results.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
        Json.obj(Seq("provenance" -> provenance, "sizes" -> Json.obj(f.sizes.toSeq.map {
          case (k, v) => k -> Json.num(v) }), "setup_runs_s" -> Json.arr(f.setup.map(Json.num)),
          "untraced_calls_s" -> Json.obj(r.untraced.toSeq.map { case (k, v) =>
            k -> Json.arr(v.map(Json.num).toSeq) }), "failures" -> Json.arr(r.failures.map(Json.str).toSeq),
          "spans" -> Json.arr(r.tracer.spans.map(s => spanJson(s, listener.work.get(s.id))).toSeq),
          "result" -> result))
          .getBytes("UTF-8"))
      println(Json.obj(Seq("provenance" -> provenance)))
      println(result)
    } finally spark.stop()
  }

  private def memTotalKb: Long =
    scala.io.Source.fromFile("/proc/meminfo").getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** A span with the Spark work its own jobs did (children excluded). */
  private def spanJson(s: Span, w: Option[SparkWork]): String = Json.obj(Seq(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
    "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
    "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString) ++
    w.toSeq.flatMap(w => Seq("jobs" -> w.jobs.toString, "stages" -> w.stages.toString,
      "tasks" -> w.tasks.toString, "shuffle_write_bytes" -> w.shuffleWrite.toString,
      "shuffle_read_bytes" -> w.shuffleRead.toString, "spill_bytes" -> w.spill.toString,
      "gc_ms" -> w.gcMs.toString, "input_records" -> w.inputRecords.toString)))

  def endToEnd(f: Figures): Seq[(String, Double)] = Seq(
    "setup_s" -> Stats.median(f.setup),
    "items_per_s" -> f.items / f.itemSeconds,
    "call_p50_ms" -> Stats.quantileOrNaN(f.calls, 0.5) * 1e3,
    "index_bytes_per_text_byte" -> Stats.median(f.bytesPerTextByte.toSeq))

  def perLayer(r: Run, f: Figures, ops: Seq[OpTrace]): Seq[(String, Double)] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    r.layer.foreach { case (k, v) => out(k) = Stats.median(v.toSeq) }
    // a replayed batch no-ops in every store; its spans would halve the
    // per-batch medians
    val delivered = ops.filter(_.root.name != "replay")
    SpanMetrics.foreach { case (metric, span, scale) =>
      val xs = delivered.flatMap(_.spanSelf.get(span))
      if (xs.nonEmpty) out(metric) = Stats.median(xs) * scale
    }
    val single = ops.filter(o => SingleQueryCalls(o.root.name))
    val embeds = single.flatMap(_.spanSelf.get("embeddings.query_embed"))
    if (embeds.nonEmpty) out("embeddings.query_embed_ms") = Stats.median(embeds) * 1e3
    if (single.nonEmpty)
      out("search.rows_scanned_per_result") =
        Stats.median(single.map(_.spark.inputRecords.toDouble / SearchServe.K))
    val folds = delivered.flatMap(_.spanJobs.get("dedup.foldSoftDedupWeightsBatch"))
    if (folds.nonEmpty) out("dedup.fold_jobs") = Stats.median(folds.map(_.toDouble))
    if (ops.nonEmpty) {
      def perCall(g: OpTrace => Double) = Stats.mean(ops.map(g))
      out("spark.jobs") = perCall(_.spark.jobs)
      out("spark.stages") = perCall(_.spark.stages)
      out("spark.tasks") = perCall(_.spark.tasks.toDouble)
      out("spark.driver_gap_s") = perCall(_.driverGapS)
      out("spark.shuffle_write_bytes") = perCall(_.spark.shuffleWrite.toDouble)
      out("spark.shuffle_read_bytes") = perCall(_.spark.shuffleRead.toDouble)
      out("spark.spill_bytes") = perCall(_.spark.spill.toDouble)
      out("spark.gc_s") = perCall(_.spark.gcMs / 1e3)
      out("spark.input_records") = perCall(_.spark.inputRecords.toDouble)
      val wall = ops.map(_.root.seconds).sum
      out("trace.layer_coverage") = ops.map(_.layerSelf.values.sum).sum / wall
      // traced vs untraced wall per call kind, weighted by untraced calls
      val kinds = r.untraced.keySet.intersect(r.traced.keySet).toSeq
      val base = kinds.map(k => r.untraced(k).length * Stats.median(r.untraced(k).toSeq)).sum
      val withTrace = kinds.map(k => r.untraced(k).length * Stats.median(r.traced(k).toSeq)).sum
      if (base > 0) out("trace.overhead_ratio") = withTrace / base
    }
    f.named.foreach { case (k, v) => out(k) = v }
    out("failed_op_ratio") = r.failed.toDouble / math.max(1L, r.attempted)
    out("peak_rss_mb") = Fs.peakRssMb()
    PerLayer.map { case (n, _) => n -> out.getOrElse(n, 0.0) }
  }
}

/** Minimal JSON writer: values arrive already encoded. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
