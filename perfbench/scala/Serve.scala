package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Index, Search}

/** Driver-side brute-force cosine over every stored chunk: the reference
  * answer the serve path's results are checked against.
  */
final class BruteForce(ids: Array[(Long, Int)], vecs: Array[Array[Float]]) {
  def scores(q: Array[Float]): Array[Double] = {
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    vecs.map { v =>
      var dot = 0.0; var vn = 0.0; var i = 0
      while (i < v.length) { dot += v(i).toDouble * q(i); vn += v(i).toDouble * v(i); i += 1 }
      if (qn == 0 || vn == 0) 0.0 else dot / (math.sqrt(vn) * qn)
    }
  }

  /** The exact top-k ids, and the k-th best score (the tie boundary). */
  def topK(q: Array[Float], k: Int): (Set[(Long, Int)], Double, Map[(Long, Int), Double]) = {
    val s = scores(q)
    val order = s.indices.sortBy(i => -s(i)).take(k)
    (order.map(ids).toSet, s(order.last), ids.indices.map(i => ids(i) -> s(i)).toMap)
  }

  /** A top-k answer is right when it has k distinct rows that all score at
    * least the true k-th best (ties at the boundary may break either way).
    */
  def agrees(q: Array[Float], got: Seq[(Long, Int)], k: Int): Boolean = {
    val (_, kth, all) = topK(q, k)
    got.length == math.min(k, ids.length) && got.distinct.length == got.length &&
      got.forall(g => all.get(g).exists(_ >= kth - 1e-6))
  }
}

object BruteForce {
  def load(index: DataFrame): BruteForce = {
    val rows = index.select(col("doc_id"), col("chunk_index"), col("embedding")).collect()
    new BruteForce(rows.map(r => (r.getLong(0), r.getInt(1))),
      rows.map(_.getSeq[Float](2).toArray))
  }
}

/** `search_serve`: a built chunk index and IVF index, then a closed loop of
  * IVF search (nProbe 4), exact single-query search (one single call in
  * three) and batched top-k (32 queries per call, after every 12 single
  * calls) over a Zipf-popular query stream. The end-to-end call latency is
  * the IVF call's, the at-scale serving path.
  */
object SearchServe {
  val DocChars = 9000
  val NProbe = 4
  val K = 10
  /** One cycle of the loop: this many single-query calls, then one batch
    * call. The loop stops only between cycles, so every run has the same
    * mix of calls.
    */
  val SinglesPerBatch = 12
  /** Of the single-query calls, one in this many is exact, the rest IVF. */
  val ExactEvery = 3

  private val embedder = new Embeddings.HashingTfEmbedder(Pipeline.Dim)
  private def embed(q: String): Array[Float] = embedder.embed(Seq(q)).head

  private def ids(rows: Array[Row]): Seq[(Long, Int)] =
    rows.map(r => (r.getLong(0), r.getInt(1))).toSeq

  def run(r: Run): Figures = {
    implicit val spark: SparkSession = r.spark
    val f = new Figures
    val t = r.tracer
    val Docs = r.size(128, 24)
    val Clusters = r.size(16, 4)
    val BatchQueries = r.size(32, 8)
    val PoolSize = r.size(200, 40)
    var corpus: Corpus = null
    var docs = Vector.empty[GenDoc]
    var indexDir, ivfDir: Path = null
    f.setup = (0 until r.size(2, 1)).map { i =>
      Figures.timed {
        corpus = new Corpus(r.seed)
        docs = Vector.tabulate(Docs)(j => corpus.doc(j, DocChars, corpus.formats(j % 4)))
        val files = r.dir(s"corpus$i")
        Corpus.writeFiles(docs, files)
        indexDir = r.dir(s"index$i")
        Pipeline.ingest(spark, files, indexDir)
        ivfDir = r.dir(s"ivf$i")
        val t0 = System.nanoTime()
        Index.buildIvfIndex(spark.read.parquet(indexDir.toString), ivfDir.toString,
          Clusters, r.seed)
        r.record("search.ivf_build_s", (System.nanoTime() - t0) / 1e9)
      }
    }
    r.log("set up")
    val textBytes = docs.map(_.extracted.getBytes("UTF-8").length.toLong).sum
    val index = spark.read.parquet(indexDir.toString) // opened once, as a server would
    val brute = BruteForce.load(index)
    f.bytesPerTextByte += (Fs.bytes(indexDir) + Fs.bytes(ivfDir)).toDouble / textBytes
    val pool = corpus.queryPool(docs, PoolSize)
    val stream = corpus.queryStream(pool)
    val clusterFiles = Files.list(ivfDir.resolve("vectors")).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("cluster_id="))
      .map(p => p.getFileName.toString.stripPrefix("cluster_id=").toInt -> Fs.parquetFiles(p).length)
      .toMap
    val centroids = Search.readIvfCentroids(spark, ivfDir.toString)
    f.sizes ++= Seq("docs" -> Docs.toDouble, "text_mb" -> textBytes / 1e6,
      "chunks" -> index.count().toDouble, "clusters" -> Clusters.toDouble,
      "query_pool" -> PoolSize.toDouble)
    r.record("search.ivf_files_per_cluster", Stats.mean(clusterFiles.values.map(_.toDouble).toSeq))

    val recall = mutable.Map.empty[String, Double]

    def exact(q: String, traced: Boolean): Array[Row] =
      if (!traced) Index.searchText(index, q, K, Pipeline.Dim).collect()
      else {
        val qv = t.span("embeddings", "query_embed")(embed(q))
        t.span("search", "topK") {
          Search.topK(index, "embedding", qv.toSeq, K, "cosine")
            .select(col("doc_id"), col("chunk_index"), col("chunk_text"),
              col("filename"), round(col("score"), 3).as("score")).collect()
        }
      }

    def ivf(q: String, traced: Boolean): Array[Row] =
      if (!traced) Index.searchTextIvf(spark, ivfDir.toString, q, K, Pipeline.Dim, NProbe).collect()
      else {
        val qv = t.span("embeddings", "query_embed")(embed(q))
        r.record("search.ivf_files_read", Search.probeClusters(centroids, qv.toSeq, NProbe)
          .map(c => clusterFiles.getOrElse(c, 0)).sum.toDouble)
        t.span("search", "ivfTopKFromIndex") {
          Search.ivfTopKFromIndex(spark, ivfDir.toString, "embedding", qv.toSeq, K, NProbe)
            .select(col("doc_id"), col("chunk_index"), col("chunk_text"),
              col("filename"), round(col("score"), 3).as("score")).collect()
        }
      }

    def batch(qs: Seq[String], traced: Boolean): Array[Row] = {
      import spark.implicits._
      val qdf = t.span("embeddings", "query_embed") {
        embedder.embed(qs).zipWithIndex.map { case (v, i) => (i, v) }.toDF("query_id", "qv")
      }
      t.span("search", "topKPerQuery") {
        Search.topKPerQuery(index, "embedding", qdf, "query_id", "qv", K, "cosine",
          Seq("doc_id", "chunk_index"))
          .select(col("query_id"), col("doc_id"), col("chunk_index")).collect()
      }
    }

    def checkExact(q: String, rows: Array[Row]): Boolean = brute.agrees(embed(q), ids(rows), K)

    /** IVF answers come from a subset of clusters: each row must carry its
      * true cosine and rows must come best first.
      */
    def checkIvf(q: String, rows: Array[Row]): Boolean = {
      val (truth, _, all) = brute.topK(embed(q), K)
      val got = ids(rows)
      recall.getOrElseUpdate(q, got.count(truth.contains).toDouble / K)
      val scores = rows.map(_.getDouble(4))
      rows.length == K && scores.sameElements(scores.sortBy(-_)) &&
        got.zip(scores).forall { case (id, s) => all.get(id).exists(v => math.abs(v - s) <= 5e-4 + 1e-9) }
    }

    def checkBatch(qs: Seq[String], rows: Array[Row]): Boolean = {
      val byQuery = rows.groupBy(_.getInt(0))
      qs.indices.forall { i =>
        brute.agrees(embed(qs(i)), byQuery.getOrElse(i, Array.empty[Row]).map(r =>
          (r.getLong(1), r.getInt(2))).toSeq, K)
      }
    }

    // warm-up: every op kind, in each form the run uses
    for (traced <- Seq(false, r.traceRun).distinct; q <- pool.take(3)) {
      exact(q, traced); ivf(q, traced)
    }
    batch(pool.take(BatchQueries), traced = false)
    if (r.traceRun) batch(pool.take(BatchQueries), traced = true)

    r.startClock()
    var cycles = 0L
    while (r.more(cycles, 2)) {
      cycles += 1
      for (i <- 1 to SinglesPerBatch) {
        val q = stream.next()
        if (i % ExactEvery == 0) {
          val traced = r.nextTraced("exact")
          r.call("exact", traced)(exact(q, traced))(checkExact(q, _))
        } else {
          val traced = r.nextTraced("ivf")
          r.call("ivf", traced)(ivf(q, traced))(checkIvf(q, _))
        }
      }
      val traced = r.nextTraced("batch")
      val qs = Seq.fill(BatchQueries)(stream.next())
      r.call("batch", traced)(batch(qs, traced))(checkBatch(qs, _))
    }
    val ex = r.untraced.getOrElse("exact", Nil).toSeq
    val iv = r.untraced.getOrElse("ivf", Nil).toSeq
    val ba = r.untraced.getOrElse("batch", Nil).toSeq
    f.calls = iv
    f.items = (ex.length + iv.length + ba.length * BatchQueries).toDouble
    f.itemSeconds = ex.sum + iv.sum + ba.sum
    f.named("search_exact_p50_ms") = Stats.quantileOrNaN(ex, 0.5) * 1e3
    f.named("search_exact_p90_ms") = Stats.quantileOrNaN(ex, 0.9) * 1e3
    f.named("search_ivf_p50_ms") = Stats.quantileOrNaN(iv, 0.5) * 1e3
    f.named("search_ivf_p90_ms") = Stats.quantileOrNaN(iv, 0.9) * 1e3
    f.named("search_batch_qps") = ba.length * BatchQueries / ba.sum
    f.named("ivf_recall_at_10") = Stats.mean(recall.values.toSeq)
    f.sizes ++= Seq("exact_calls" -> ex.length.toDouble, "ivf_calls" -> iv.length.toDouble,
      "batch_calls" -> ba.length.toDouble, "cycles" -> cycles.toDouble)
    f
  }
}
