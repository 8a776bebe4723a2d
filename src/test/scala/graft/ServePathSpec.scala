package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Search

/** Job-count pins for the persisted-index serve paths (the `*FromIndex`
  * readers). Each query opens its store through
  * [[graft.sources.StoreParquet]], so the only Spark jobs left are the
  * query's own: no footer-merge schema-inference job per open, and — for
  * the cluster-partitioned stores — no parallel-listing job either,
  * because only the probed `cluster_id=` directories are listed. The
  * answers are pinned equal to the pre-change spelling (the same query
  * over a bare `spark.read.parquet` of the store) on the same store.
  *
  * Measured on this fixture (local[4], AQE on, sf0.001 embeddings, dim
  * 64), bare-read spelling → StoreParquet:
  *
  *   ivfTopKFromIndex, 16 clusters           2 → 1 job
  *   ivfTopKFromIndex, 64 clusters           3 → 1 job
  *   ivfTopKFromIndexQuantized               3 → 2 jobs
  *   ivfPqTopKFromIndex                      3 → 2 jobs
  *   ivfPqResidualTopKFromIndex              3 → 2 jobs
  *   pqTopKFromIndex                         3 → 2 jobs
  *   opqTopKFromIndex                        3 → 2 jobs
  *   ivfPqResidualAdcScores                  2 → 1 job
  *   bm25TopKFromIndex (three stores)        9 → 6 jobs
  */
class ServePathSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val vecs: Map[Long, Seq[Float]] =
    emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def ids(df: DataFrame): Seq[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSeq

  /** (answer, jobs) of one serve call, DataFrame construction included —
    * the bare read's inference job runs at construction time.
    */
  private def served(body: => DataFrame): (Seq[org.apache.spark.sql.Row], Int) =
    countJobs(body.collect().toSeq)

  /** Serve through the path and through its pre-change spelling: same
    * rows, at most `maxJobs` jobs, and strictly fewer than the bare read.
    */
  private def pin(what: String, maxJobs: Int)(path: => DataFrame)(
      bare: => DataFrame): Int = {
    val (got, jobs) = served(path)
    val (want, bareJobs) = served(bare)
    assert(got == want, s"$what: answers differ from the bare-read spelling")
    assert(jobs <= maxJobs && jobs < bareJobs,
      s"$what: $jobs jobs (pin $maxJobs; bare-read spelling $bareJobs)")
    info(s"$what: $jobs jobs (bare-read spelling: $bareJobs)")
    jobs
  }

  private def centroidsOf(n: Int): Seq[(Int, Array[Float])] =
    (0 until n).map(i => i -> vecs(i.toLong).toArray)

  private val queries = Seq(1L, 77L, 250L, 499L)

  test("ivfTopKFromIndex: ONE Spark job per query at 16 and at 64 clusters, ≡ in-memory ivfTopK") {
    Seq(16, 64).foreach { nClusters =>
      val dir = tmp(s"ivfjobs$nClusters")
      val centroids = centroidsOf(nClusters)
      Search.writeIvfIndex(emb, "embedding", centroids, dir)
      val assigned = Search.ivfAssign(emb, "embedding", centroids)
      queries.foreach { id =>
        val q = vecs(id)
        val jobs = pin(s"$nClusters clusters, query $id", maxJobs = 1) {
          Search.ivfTopKFromIndex(spark, dir, "embedding", q, k = 10, nProbe = 4)
        } {
          Search.ivfTopK(spark.read.parquet(s"$dir/vectors"), "embedding",
            centroids, q, 10, nProbe = 4)
        }
        assert(jobs == 1)
        assert(ids(Search.ivfTopKFromIndex(spark, dir, "embedding", q, k = 10,
          nProbe = 4)) == ids(Search.ivfTopK(assigned, "embedding", centroids, q,
          10, nProbe = 4)))
      }
    }
  }

  test("ivfTopKFromIndexQuantized: job pin, ≡ the bare-read spelling") {
    val dir = tmp("ivfqjobs")
    val centroids = centroidsOf(16)
    Search.writeIvfIndexQuantized(emb, "vec_id", "embedding", centroids, dir)
    queries.foreach { id =>
      val q = vecs(id)
      pin(s"quantized IVF, query $id", maxJobs = 2) {
        Search.ivfTopKFromIndexQuantized(spark, dir, emb, "vec_id", "embedding",
          q, k = 10, nProbe = 4, rescore = 30)
      } {
        val probeIds = Search.probeClusters(Search.readIvfCentroids(spark, dir), q, 4)
        val maxAbs = q.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
        val s = maxAbs / 127.0
        val qCodes =
          if (s == 0.0) q.map(_ => 0) else q.map(x => math.floor(x / s + 0.5).toInt)
        val candidates = spark.read.parquet(s"$dir/vectors")
          .where(col("cluster_id").isin(probeIds: _*))
          .withColumn("qscore", graft.functions.VectorFunctions.i8Cosine(
            transform(col("codes"), _.cast("int")), lit(qCodes.toArray)))
          .orderBy(col("qscore").desc, col("vec_id")).limit(30).select(col("vec_id"))
        emb.join(broadcast(candidates), "vec_id")
          .withColumn("score", graft.functions.VectorFunctions.cosine(
            col("embedding"), lit(q.toArray)))
          .orderBy(col("score").desc, col("vec_id")).limit(10)
      }
    }
  }

  test("pqTopKFromIndex and opqTopKFromIndex: job pins, ≡ the bare-read spelling") {
    val cb = Search.pqTrainCodebooks(emb, "embedding", 64, 8, 16, seed = 42L)
    val pq = tmp("pqjobs")
    Search.pqWriteIndex(emb, "vec_id", "embedding", cb, pq)
    val model = Search.opqTrainCodebooks(emb, "embedding", 64, 8, 16,
      seed = 42L, maxIter = 5, opqIters = 2)
    val opq = tmp("opqjobs")
    Search.opqWriteIndex(emb, "vec_id", "embedding", model, opq)
    def bareCodes(path: String): DataFrame = spark.read.parquet(s"$path/codes")
      .select(col("vec_id"), transform(col("pq_codes"), _.cast("int")).as("pq_codes"))
    queries.foreach { id =>
      val q = vecs(id)
      pin(s"PQ, query $id", maxJobs = 2) {
        Search.pqTopKFromIndex(spark, pq, emb, "vec_id", "embedding", q,
          k = 10, rescore = 30)
      } {
        Search.pqTopK(bareCodes(pq), emb, "vec_id", "embedding",
          Search.readPqCodebooks(spark, pq), q, 10, 30)
      }
      pin(s"OPQ, query $id", maxJobs = 2) {
        Search.opqTopKFromIndex(spark, opq, emb, "vec_id", "embedding", q,
          k = 10, rescore = 30)
      } {
        Search.opqTopK(bareCodes(opq), emb, "vec_id", "embedding",
          Search.readOpqModel(spark, opq), q, 10, 30)
      }
    }
  }

  test("ivfPqTopKFromIndex and ivfPqResidualTopKFromIndex: job pins, ≡ the bare-read spelling") {
    val centroids = centroidsOf(16)
    val cb = Search.pqTrainCodebooks(emb, "embedding", 64, 8, 16, seed = 42L)
    val plain = tmp("ivfpqjobs")
    Search.writeIvfPqIndex(emb, "vec_id", "embedding", centroids, cb, plain)
    val rcb = Search.pqResidualSampledCodebooks(emb, "vec_id", "embedding",
      centroids, 64, 8, 16)
    val resid = tmp("ivfpqrjobs")
    Search.writeIvfPqResidualIndex(emb, "vec_id", "embedding", centroids, rcb, resid)
    def rescored(candidates: DataFrame, q: Seq[Float]): DataFrame =
      emb.join(broadcast(candidates), "vec_id")
        .withColumn("score", graft.functions.VectorFunctions.cosine(
          col("embedding"), typedLit(q)))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
    queries.foreach { id =>
      val q = vecs(id)
      pin(s"IVF-PQ, query $id", maxJobs = 2) {
        Search.ivfPqTopKFromIndex(spark, plain, emb, "vec_id", "embedding", q,
          k = 10, nProbe = 4, rescore = 30)
      } {
        val probeIds = Search.probeClusters(Search.readIvfCentroids(spark, plain), q, 4)
        val tables = Search.pqAdcTables(Search.readPqCodebooks(spark, plain),
          Search.pqQueryCodes(q))
        rescored(spark.read.parquet(s"$plain/codes")
          .where(col("cluster_id").isin(probeIds: _*))
          .select(col("vec_id"), transform(col("pq_codes"), _.cast("int")).as("pq_codes"))
          .withColumn("_adc", Search.pqAdcScoreCol(col("pq_codes"), tables))
          .orderBy(col("_adc").desc, col("vec_id")).limit(30).select(col("vec_id")), q)
      }
      pin(s"residual IVF-PQ scores, query $id", maxJobs = 1) {
        Search.ivfPqResidualAdcScores(spark, resid, "vec_id", q, 4)
      } {
        adcOverBareRead(resid, q, 4)
      }
      pin(s"residual IVF-PQ, query $id", maxJobs = 2) {
        Search.ivfPqResidualTopKFromIndex(spark, resid, emb, "vec_id",
          "embedding", q, k = 10, nProbe = 4, rescore = 30)
      } {
        rescored(adcOverBareRead(resid, q, 4)
          .orderBy(col("_adc").desc, col("vec_id")).limit(30)
          .select(col("vec_id")), q)
      }
    }
    // every other family's reader refuses the residual store before any
    // job: plain ADC tables over residual codes would rank silently wrong
    val q = vecs(queries.head)
    Seq[(String, () => DataFrame)](
      "pqTopKFromIndex" -> (() => Search.pqTopKFromIndex(spark, resid, emb,
        "vec_id", "embedding", q, k = 10, rescore = 30)),
      "opqTopKFromIndex" -> (() => Search.opqTopKFromIndex(spark, resid, emb,
        "vec_id", "embedding", q, k = 10, rescore = 30)),
      "ivfTopKFromIndex" -> (() => Search.ivfTopKFromIndex(spark, resid,
        "embedding", q, k = 10, nProbe = 4)),
      "ivfTopKFromIndexQuantized" -> (() => Search.ivfTopKFromIndexQuantized(
        spark, resid, emb, "vec_id", "embedding", q, k = 10, nProbe = 4,
        rescore = 30)),
      "ivfPqTopKFromIndex" -> (() => Search.ivfPqTopKFromIndex(spark, resid,
        emb, "vec_id", "embedding", q, k = 10, nProbe = 4, rescore = 30))
    ).foreach { case (reader, read) =>
      val (refusal, jobs) = countJobs(
        scala.util.Try(read().collect()).failed.toOption)
      refusal match {
        case Some(e: IllegalArgumentException) =>
          assert(e.getMessage.contains("fp_residual"),
            s"$reader: the refusal must name the store's encoding: ${e.getMessage}")
        case other =>
          fail(s"$reader over a residual IVF-PQ store: expected an " +
            s"IllegalArgumentException, got $other")
      }
      assert(jobs == 0, s"$reader: $jobs Spark jobs before the refusal")
    }
  }

  /** [[Search.ivfPqResidualAdcScores]]' pre-change spelling. */
  private def adcOverBareRead(path: String, q: Seq[Float],
      nProbe: Int): DataFrame = {
    import graft.functions.VectorFunctions.fpCodesLocal
    val centroids = Search.readIvfCentroids(spark, path)
    val probeIds = Search.probeClusters(centroids, q, nProbe)
    val qFp = fpCodesLocal(q)
    val byId = centroids.toMap
    val offsets = probeIds.map { cid =>
      val cFp = fpCodesLocal(byId(cid).toSeq)
      cid -> qFp.zip(cFp).foldLeft(0.0) { case (acc, (a, b)) =>
        acc + a.toDouble * b.toDouble
      }
    }.toMap
    spark.read.parquet(s"$path/codes")
      .where(col("cluster_id").isin(probeIds: _*))
      .select(col("vec_id"), col("cluster_id"),
        transform(col("pq_codes"), _.cast("int")).as("pq_codes"))
      .withColumn("_adc", Search.pqAdcScoreCol(col("pq_codes"),
        Search.pqAdcTables(Search.readPqCodebooks(spark, path), qFp)) +
        element_at(typedLit(offsets), col("cluster_id")))
      .select(col("vec_id"), col("cluster_id"), col("_adc"))
  }

  test("bm25TopKFromIndex: job pin over its three stores, ≡ the bare-read spelling bit-for-bit") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
    val path = tmp("bm25jobs")
    Search.writeTextIndex(docs, "doc_id", "toks", path)
    Seq(Seq("data", "model"), Seq("query"), Seq("spark", "index", "vector")).foreach { terms =>
      pin(s"BM25 $terms", maxJobs = 6) {
        Search.bm25TopKFromIndex(spark, path, terms, 10)
      } {
        val (k1, b) = (1.2, 0.75)
        val hits = spark.read.parquet(s"$path/postings")
          .where(col("term").isin(terms: _*)).dropDuplicates("term", "id")
          .withColumn("df",
            count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
          .select(col("term"), col("df"), col("id"), col("tf").cast("double").as("tf"))
        val stats = spark.read.parquet(s"$path/stats")
          .select(col("n_docs"),
            (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
        spark.read.parquet(s"$path/doclens")
          .join(broadcast(hits), "id").crossJoin(broadcast(stats))
          .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
            (col("df") + 0.5)))
          .withColumn("w", col("idf") * (col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .groupBy(col("id"))
          .agg(sum(col("w").cast("decimal(24,12)")).cast("double").as("score"))
          .orderBy(col("score").desc, col("id")).limit(10)
      }
    }
  }

  test("probeClusters ≡ the boxed-Seq spelling, including the (-score, cid) tie order") {
    // the pre-change spelling, verbatim
    def reference(centroids: Seq[(Int, Array[Float])], query: Seq[Float],
        nProbe: Int): Seq[Int] = {
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val d = a.lazyZip(b).foldLeft(0.0)((s, p) => s + p._1.toDouble * p._2)
        val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x))
        val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x))
        if (na == 0 || nb == 0) 0.0 else d / (na * nb)
      }
      centroids
        .map { case (cid, v) => (cos(v.toSeq, query), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(nProbe).map(_._2)
    }
    val rnd = new scala.util.Random(7)
    def vec(d: Int): Array[Float] = Array.fill(d)(rnd.nextGaussian().toFloat)
    (1 to 200).foreach { t =>
      val d = 1 + rnd.nextInt(48)
      val base = (0 until 12).map(i => i -> vec(d))
      // ties: duplicated and rescaled centroids score equal under cosine;
      // a zero centroid scores 0; shuffled ids exercise the cid tiebreak
      val centroids = rnd.shuffle(base ++ Seq(
        100 -> base(3)._2.clone(), 101 -> base(3)._2.map(_ * 2f),
        102 -> Array.fill(d)(0f), 103 -> base(5)._2.clone()))
      val q = if (t % 17 == 0) Seq.fill(d)(0f) else vec(d).toSeq
      Seq(1, 3, centroids.size).foreach { n =>
        assert(Search.probeClusters(centroids, q, n) == reference(centroids, q, n),
          s"trial $t, nProbe $n")
      }
    }
    // the 64 x 768 serve shape
    val big = (0 until 64).map(i => i -> vec(768))
    (0 until 20).foreach { _ =>
      val q = vec(768).toSeq
      assert(Search.probeClusters(big, q, 4) == reference(big, q, 4))
    }
  }
}
