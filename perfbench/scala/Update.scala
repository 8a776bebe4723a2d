package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.model.SplitStrategy
import graft.operators.{Chunkers, Dedup, Embeddings, Index, Search}

/** `update_mixed`: batches of short documents appended to a chunk index,
  * an IVF index with frozen (sampled) centroids and a soft-dedup weights
  * store, each
  * batch followed by read-after-write IVF queries; compaction every
  * `CompactEvery` batches; one batch delivered twice.
  */
object UpdateMixed {
  val PlantedPerBatch = 3
  val DocChars = 1000
  val NProbe = 4
  val K = 10
  val CompactEvery = 2
  val ReplayAt = 2

  private val strategy = SplitStrategy.Fixed(1200, 200)
  private val embedder = new Embeddings.HashingTfEmbedder(Pipeline.Dim)

  private def docsFrame(docs: Seq[GenDoc])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.index.toLong, "update", d.text)).toDF("doc_id", "source", "text")
  }

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))

  /** The IVF store's rows: one id per chunk. */
  private def ivfRows(chunks: DataFrame): DataFrame =
    chunks.select((col("doc_id") * 1000 + col("chunk_index")).as("chunk_id"),
      col("doc_id"), col("chunk_index"), col("filename"), col("chunk_text"), col("embedding"))

  def run(r: Run): Figures = {
    implicit val spark: SparkSession = r.spark
    val f = new Figures
    val t = r.tracer
    val BaseDocs = r.size(160, 30)
    val BatchDocs = r.size(24, 8)
    val Clusters = r.size(8, 4)
    val QueriesPerBatch = r.size(10, 3)
    val cfg = Pipeline.config(strategy)
    var corpus: Corpus = null
    var base = Vector.empty[GenDoc]
    var indexDir, ivfDir, storeDir: Path = null
    f.setup = (0 until r.size(2, 1)).map { i =>
      Figures.timed {
        corpus = new Corpus(r.seed)
        base = Vector.tabulate(BaseDocs)(j => corpus.shortDoc(j, DocChars))
        val docs = docsFrame(base)
        indexDir = r.dir(s"index$i")
        Index.writeIndex(Index.buildIndex(docs, cfg), indexDir.toString)
        ivfDir = r.dir(s"ivf$i")
        val rows = ivfRows(spark.read.parquet(indexDir.toString))
        Search.writeIvfIndex(rows, "embedding",
          Search.sampledCentroids(rows, "chunk_id", "embedding", Clusters, s"seed${r.seed}"),
          ivfDir.toString)
        storeDir = r.dir(s"dedup$i")
        Dedup.foldSoftDedupWeightsBatch(tokens(docs), "doc_id", "toks", storeDir.toString, 0L)
      }
    }
    r.log("set up")
    val all = mutable.ArrayBuffer.from(base)
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    var textBytes = base.map(_.text.getBytes("UTF-8").length.toLong).sum
    var nextIndex = BaseDocs
    var gen = 0

    def makeBatch(): Vector[GenDoc] = {
      val fresh = Vector.fill(BatchDocs - PlantedPerBatch) {
        nextIndex += 1; corpus.shortDoc(nextIndex, DocChars)
      }
      val dups = Vector.fill(PlantedPerBatch) {
        val src = all(corpus.nextInt(all.length))
        nextIndex += 1
        planted += ((src.index.toLong, nextIndex.toLong))
        corpus.nearDuplicate(src, nextIndex)
      }
      val b = fresh ++ dups
      all ++= b
      b
    }
    def expectedRows(b: Seq[GenDoc]): Long =
      b.map(d => Chunkers.splitTyped(Corpus.clean(d.text), strategy).size.toLong).sum

    /** One delivery of a batch through the three stores. */
    def deliver(b: Seq[GenDoc], batchId: Long): (Long, Long, Long) = {
      val docs = docsFrame(b)
      val rows = t.span("index", "appendIndex")(Index.appendIndex(docs, indexDir.toString, cfg))
      val ids = b.map(_.index.toLong)
      val ivf = t.span("search", "appendIvfIndex") {
        Search.appendIvfIndex(ivfRows(spark.read.parquet(indexDir.toString)
          .where(col("doc_id").isin(ids: _*))), "chunk_id", "embedding", ivfDir.toString)
      }
      val patch = t.span("dedup", "foldSoftDedupWeightsBatch") {
        Dedup.foldSoftDedupWeightsBatch(tokens(docs), "doc_id", "toks",
          storeDir.toString, batchId)
      }
      (rows, ivf, patch)
    }

    def fresh(q: String, traced: Boolean): Array[org.apache.spark.sql.Row] =
      if (!traced) Index.searchTextIvf(spark, ivfDir.toString, q, K, Pipeline.Dim, NProbe).collect()
      else {
        val qv = t.span("embeddings", "query_embed")(embedder.embed(Seq(q)).head)
        t.span("search", "ivfTopKFromIndex") {
          Search.ivfTopKFromIndex(spark, ivfDir.toString, "embedding", qv.toSeq, K, NProbe)
            .select(col("doc_id"), col("chunk_index"), col("chunk_text"),
              col("filename"), round(col("score"), 3).as("score")).collect()
        }
      }

    def compact(upTo: Long): Long = {
      gen += 1
      val ivfNext = r.dir(s"ivf-gen$gen")
      t.span("search", "compactIvfIndex") {
        Search.compactIvfIndex(spark, ivfDir.toString, ivfNext.toString)
        r.record("search.compact_bytes_rewritten", Fs.bytes(ivfNext).toDouble)
        Fs.delete(ivfDir)
        ivfDir = ivfNext
      }
      t.span("dedup", "compactSoftDedupWeights") {
        val staged = r.dir(s"dedup-gen$gen")
        val n = Dedup.compactSoftDedupWeights(spark, storeDir.toString, staged.toString,
          upTo, "doc_id")
        Seq("weights", "pairs").foreach(sub => Fs.swap(staged.resolve(sub), storeDir.resolve(sub)))
        Fs.delete(staged)
        n
      }
    }

    def storeBytes: Long = Fs.bytes(indexDir) + Fs.bytes(ivfDir) + Fs.bytes(storeDir)

    // the set-ups warmed the write paths; warm the query path, untimed
    for (traced <- Seq(false, r.traceRun).distinct; d <- base.take(3))
      fresh(Corpus.clean(d.text), traced)

    r.startClock()
    var batchId = 0L
    var replayed: Seq[GenDoc] = Nil
    var offered, appended = 0L
    val batchSeconds = mutable.ArrayBuffer.empty[Double]
    var docsAppended = 0L
    while (r.more(batchId, CompactEvery)) {
      batchId += 1
      val b = makeBatch()
      val want = expectedRows(b)
      val traced = r.nextTraced("batch")
      val t0 = System.nanoTime()
      val got = r.call("batch", traced)(deliver(b, batchId)) { case (rows, ivf, patch) =>
        rows == want && ivf == want && patch >= b.length
      }
      offered += want
      got.foreach { case (rows, _, patch) =>
        appended += rows
        if (!traced) docsAppended += b.length
        r.record("dedup.patch_rows", patch.toDouble)
      }
      textBytes += b.map(_.text.getBytes("UTF-8").length.toLong).sum
      if (batchId == ReplayAt) {
        // at-least-once delivery: the previous batch arrives again
        val want0 = expectedRows(replayed)
        offered += want0
        r.call("replay", traced)(deliver(replayed, batchId - 1)) { case (rows, ivf, patch) =>
          rows == 0 && ivf == 0 && patch == 0
        }
      }
      if (batchId % CompactEvery == 0) {
        r.call("compact", traced)(compact(batchId))(_ > 0)
        f.bytesPerTextByte += storeBytes.toDouble / textBytes
      }
      if (!traced) batchSeconds += (System.nanoTime() - t0) / 1e9
      replayed = b
      r.record("search.ivf_files_per_cluster", {
        val dirs = Fs.parquetFiles(ivfDir.resolve("vectors")).groupBy(_.getParent)
        Stats.mean(dirs.values.map(_.length.toDouble).toSeq)
      })
      // read-after-write: each query is the full text of a document of the
      // batch just appended and must find that document
      for (i <- 0 until QueriesPerBatch) {
        val d = b(i % b.length)
        val tq = r.nextTraced("fresh")
        r.call("fresh", tq)(fresh(Corpus.clean(d.text), tq))(rows =>
          rows.exists(_.getLong(0) == d.index.toLong))
      }
    }
    if (f.bytesPerTextByte.isEmpty) f.bytesPerTextByte += storeBytes.toDouble / textBytes

    r.check("planted_pairs") {
      val w = Dedup.readSoftDedupWeights(spark, storeDir.toString, "doc_id")
        .select(col("doc_id"), col("rep")).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      val found = planted.count { case (a, b) => w.contains(a) && w.get(a) == w.get(b) }
      val recall = if (planted.isEmpty) 1.0 else found.toDouble / planted.length
      r.record("dedup.planted_pair_recall", recall)
      // MinHash banding misses a pair of Jaccard ~0.96 with probability
      // ~(1 - 0.96^3)^4 = 2e-4; one miss among a run's pairs is chance,
      // two are a defect
      planted.length - found <= 1
    }

    r.record("index.append_fresh_ratio", if (offered == 0) 0.0 else appended.toDouble / offered)
    val q = r.untraced.getOrElse("fresh", Nil).toSeq
    f.calls = q
    f.items = docsAppended.toDouble
    f.itemSeconds = batchSeconds.sum
    f.named("update_docs_per_s") = docsAppended / batchSeconds.sum
    f.named("fresh_query_p50_ms") = Stats.quantileOrNaN(q, 0.5) * 1e3
    f.named("fresh_query_p90_ms") = Stats.quantileOrNaN(q, 0.9) * 1e3
    f.sizes ++= Seq("base_docs" -> BaseDocs.toDouble, "batch_docs" -> BatchDocs.toDouble,
      "batches" -> batchId.toDouble, "fresh_queries" -> q.length.toDouble,
      "planted_pairs" -> planted.length.toDouble)
    f
  }
}
