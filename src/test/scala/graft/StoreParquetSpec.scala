package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Index, Profile, Search, Sketches}
import graft.sources.StoreParquet

/** [[StoreParquet]] opens a store with the schema read from one footer on
  * the driver instead of Spark's inference job. That is only sound if the
  * two agree, so this pins `StoreParquet.open(dir).schema ==
  * spark.read.parquet(dir).schema` for every store family graft writes,
  * after the write, an append and a compaction; plus the edges where the
  * helper falls back: a probed cluster with no partition directory, a
  * missing store and a `_SUCCESS`-only store. Last, every operator's
  * store gate once: the append-or-create sites refuse a foreign
  * directory without writing into it and treat commit leftovers as an
  * empty store; the must-exist sites refuse an empty or missing store
  * before any write.
  */
class StoreParquetSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val vecs: Map[Long, Seq[Float]] =
    emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
  private lazy val centroids = (0 until 8).map(i => i -> vecs(i.toLong).toArray)
  private lazy val cb = Search.pqTrainCodebooks(emb, "embedding", 64, 8, 16,
    seed = 42L, maxIter = 5)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** The helper's schema equals inference's, and so do the rows. */
  private def sameAsInferred(dir: String): Unit = {
    val opened = StoreParquet.open(spark, dir)
    val inferred = spark.read.parquet(dir)
    assert(opened.schema == inferred.schema, s"schema differs at $dir")
    assert(opened.count() == inferred.count(), s"row count differs at $dir")
  }

  private val (a, b) = (col("vec_id") < 300, col("vec_id") >= 300)

  test("IVF vectors and quantized vectors: write, append, compaction") {
    val (dir, dst) = (tmp("sp-ivf"), tmp("sp-ivf-c"))
    Search.writeIvfIndex(emb.where(a), "embedding", centroids, dir)
    sameAsInferred(s"$dir/vectors")
    Search.appendIvfIndex(emb.where(b), "vec_id", "embedding", dir)
    sameAsInferred(s"$dir/vectors")
    Search.compactIvfIndex(spark, dir, dst)
    sameAsInferred(s"$dst/vectors")
    // probed directories under basePath: same schema as the whole store
    val probed = StoreParquet.openPartitions(spark, s"$dir/vectors",
      "cluster_id", Seq(1, 5))
    assert(probed.schema == spark.read.parquet(s"$dir/vectors").schema)
    val q = tmp("sp-ivfq")
    Search.writeIvfIndexQuantized(emb, "vec_id", "embedding", centroids, q)
    sameAsInferred(s"$q/vectors")
  }

  test("PQ, OPQ and IVF-PQ codes: write, append, compaction") {
    val (pq, pqC) = (tmp("sp-pq"), tmp("sp-pq-c"))
    Search.pqWriteIndex(emb.where(a), "vec_id", "embedding", cb, pq)
    sameAsInferred(s"$pq/codes")
    Search.appendPqIndex(emb.where(b), "vec_id", "embedding", pq)
    sameAsInferred(s"$pq/codes")
    Search.compactPqIndex(spark, pq, pqC)
    sameAsInferred(s"$pqC/codes")

    val model = Search.opqTrainCodebooks(emb, "embedding", 64, 8, 16,
      seed = 42L, maxIter = 5, opqIters = 2)
    val opq = tmp("sp-opq")
    Search.opqWriteIndex(emb.where(a), "vec_id", "embedding", model, opq)
    sameAsInferred(s"$opq/codes")
    Search.appendOpqIndex(emb.where(b), "vec_id", "embedding", opq)
    sameAsInferred(s"$opq/codes")

    val (ip, ipC) = (tmp("sp-ivfpq"), tmp("sp-ivfpq-c"))
    Search.writeIvfPqIndex(emb.where(a), "vec_id", "embedding", centroids, cb, ip)
    sameAsInferred(s"$ip/codes")
    Search.appendIvfPqIndex(emb.where(b), "vec_id", "embedding", ip)
    sameAsInferred(s"$ip/codes")
    Search.compactIvfPqIndex(spark, ip, ipC)
    sameAsInferred(s"$ipC/codes")
  }

  test("text index postings, stats and doclens: write, append, compaction") {
    val docs = Seq((1L, Seq("a", "b", "a")), (2L, Seq("b", "c")),
      (3L, Seq("c", "d", "d")), (4L, Seq("a", "d"))).toDF("doc_id", "toks")
    val (dir, dst) = (tmp("sp-text"), tmp("sp-text-c"))
    Search.writeTextIndex(docs.where(col("doc_id") <= 2), "doc_id", "toks", dir)
    def all(root: String): Unit =
      Seq("postings", "stats", "doclens").foreach(s => sameAsInferred(s"$root/$s"))
    all(dir)
    Search.appendTextIndex(docs.where(col("doc_id") > 2), "doc_id", "toks", dir)
    all(dir)
    Search.compactTextIndex(spark, dir, dst)
    all(dst)
  }

  test("dedup weights and pairs: fold, second fold, compaction; basePath opens") {
    def docs(ids: Range): DataFrame =
      ids.map(i => (i.toLong,
          Seq.fill(12)(s"tok${i % 7}") ++ Seq(s"w$i", s"x${i % 3}", s"y$i")))
        .toDF("doc_id", "toks")
    val (store, dst) = (tmp("sp-dedup"), tmp("sp-dedup-c"))
    Dedup.foldSoftDedupWeightsBatch(docs(0 until 30), "doc_id", "toks", store,
      batchId = 0, threshold = 0.4)
    Seq("weights", "pairs").foreach(s => sameAsInferred(s"$store/$s"))
    Dedup.foldSoftDedupWeightsBatch(docs(30 until 50), "doc_id", "toks", store,
      batchId = 1, threshold = 0.4)
    Seq("weights", "pairs").foreach(s => sameAsInferred(s"$store/$s"))
    val dirs = Seq(0, 1).map(i => s"$store/weights/batch_id=$i")
    assert(StoreParquet.open(spark, s"$store/weights", dirs).schema ==
      spark.read.option("basePath", s"$store/weights").parquet(dirs: _*).schema)
    Dedup.compactSoftDedupWeights(spark, store, dst, upToBatchId = 0,
      idCol = "doc_id")
    Seq("weights", "pairs").foreach(s => sameAsInferred(s"$dst/$s"))
  }

  test("sketch stores: append, second append, compaction; near-dup sketch store") {
    val data = (0 until 200).map(i => (s"g${i % 4}", s"v${i % 37}"))
      .toDF("grp", "item")
    val (store, dst) = (tmp("sp-sk"), tmp("sp-sk-c"))
    Sketches.appendDistinctSketches(data, "grp", "item", "b0", store)
    sameAsInferred(store)
    Sketches.appendDistinctSketches(data, "grp", "item", "b1", store)
    sameAsInferred(store)
    Sketches.compactSketchStore(spark, store, dst, "hll", Seq("b0", "b1"), "b0-1")
    sameAsInferred(dst)

    val nd = tmp("sp-nd")
    val batch = (0 until 20).map(i => (i.toLong,
        Seq.fill(8)(s"t${i % 5}") ++ Seq(s"u$i"))).toDF("doc_id", "toks")
    Dedup.incrementalNearDupPairs(batch, "doc_id", "toks", nd)
    val sketches = new java.io.File(nd).listFiles().filter(_.isDirectory)
      .map(_.getPath).filterNot(_.split('/').last.startsWith("_"))
    assert(sketches.nonEmpty)
    sketches.foreach(sameAsInferred)
  }

  test("a probed cluster with no partition directory returns the same rows as today") {
    val dir = tmp("sp-gone")
    Search.writeIvfIndex(emb, "embedding", centroids, dir)
    val q = vecs(3L)
    val probes = Search.probeClusters(Search.readIvfCentroids(spark, dir), q, 3)
    // the middle probe's directory vanishes (a cluster with no rows)
    val gone = java.nio.file.Paths.get(dir, "vectors", s"cluster_id=${probes(1)}")
    java.nio.file.Files.walk(gone).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.delete(p); () })
    def bare(ids: Seq[Int]) = spark.read.parquet(s"$dir/vectors")
      .where(col("cluster_id").isin(ids: _*))
      .withColumn("score", graft.functions.VectorFunctions.cosine(
        col("embedding"), lit(q.toArray)))
      .orderBy(col("score").desc).limit(10)
    val got = Search.ivfTopKFromIndex(spark, dir, "embedding", q, k = 10, nProbe = 3)
    assert(got.collect().toSeq == bare(probes).collect().toSeq)
    // every probed directory missing: the same (empty) answer, same schema
    val none = StoreParquet.openPartitions(spark, s"$dir/vectors", "cluster_id",
      Seq(probes(1), 999)).where(col("cluster_id").isin(probes(1), 999))
    val today = spark.read.parquet(s"$dir/vectors")
      .where(col("cluster_id").isin(probes(1), 999))
    assert(none.schema == today.schema)
    assert(none.collect().isEmpty && today.collect().isEmpty)
  }

  test("a missing store, a _SUCCESS-only store and a corrupt footer raise the same error class as today") {
    // the error class, and for an AnalysisException its condition too
    // (PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA)
    def errorOf(body: => DataFrame): (Class[_], String) =
      intercept[Exception] { body.collect(); () } match {
        case e: AnalysisException => (e.getClass, e.getCondition)
        case e => (e.getClass, "")
      }
    val missing = s"${tmp("sp-missing")}/nope"
    val onlySuccess = tmp("sp-success")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(onlySuccess, "_SUCCESS"))
    // a data file overwritten in place: the driver-side footer read fails,
    // and the open falls through to the inferring read's job failure
    val corrupt = tmp("sp-corrupt")
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(corrupt)
    new java.io.File(corrupt).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.write(f.toPath,
        Array.fill[Byte](f.length.toInt)('x'.toByte)))
    Seq(missing, onlySuccess).foreach { p =>
      val today = errorOf(spark.read.parquet(p))
      assert(classOf[AnalysisException].isAssignableFrom(today._1), today)
    }
    Seq(missing, onlySuccess, corrupt).foreach { p =>
      val today = errorOf(spark.read.parquet(p))
      assert(errorOf(StoreParquet.open(spark, p)) == today, p)
      assert(errorOf(StoreParquet.openPartitions(spark, p, "cluster_id",
        Seq(1))) == today, p)
    }
  }

  /** Every file under `root`, hidden ones included (empty when absent). */
  private def tree(root: String): Set[String] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Set.empty
    else {
      val it = java.nio.file.Files.walk(p)
      try {
        val b = Set.newBuilder[String]
        it.forEach(f => { b += p.relativize(f).toString; () })
        b.result()
      } finally it.close()
    }
  }

  /** `leg` under a fresh store root, in one of the states a gate tells
    * apart: a foreign file, a `_SUCCESS`-only commit, or a crashed task's
    * orphan under `_temporary` (junk bytes: reading it would fail).
    */
  private def seeded(state: String, leg: String): String = {
    val root = s"${tmp(s"gate-$state")}/store"
    val dir = java.nio.file.Paths.get(root, leg)
    state match {
      case "foreign" =>
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve("notes.txt"), "x".getBytes)
      case "success" =>
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.createFile(dir.resolve("_SUCCESS"))
      case "temporary" =>
        val t = dir.resolve("_temporary/0/_temporary/attempt_0")
        java.nio.file.Files.createDirectories(t)
        java.nio.file.Files.write(t.resolve("part-00000.parquet"), "junk".getBytes)
    }
    root
  }

  test("append-or-create gates: a foreign directory refuses unwritten; commit leftovers are an empty store") {
    val toks = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h")).toDF("doc_id", "text")
      .withColumn("toks", split(col("text"), " "))
    val seqs = (0 until 6).map(f => (1L, f, 0x5a5aL * (f + 1))).toDF("id", "f", "h")
    val cfg = Index.IndexConfig(graft.model.SplitStrategy.Fixed(100, 20), 8)
    val sites: Seq[(String, String, String => Unit)] = Seq(
      ("Index.appendIndex", "", root => assert(Index.appendIndex(
        toks.select(col("doc_id"), lit("s").as("source"), col("text")), root, cfg) > 0)),
      ("Search.appendTextIndex", "doclens", root =>
        assert(Search.appendTextIndex(toks, "doc_id", "toks", root) == 2)),
      ("Dedup.incrementalLineDedup lines", "lines", root => assert(Dedup
        .incrementalLineDedup(toks, "doc_id", "text", root, delim = " ").count() == 2)),
      ("Dedup.incrementalLineDedup docs", "docs", root => assert(Dedup
        .incrementalLineDedup(toks, "doc_id", "text", root, delim = " ").count() == 2)),
      // a read: the leftovers read as the typed empty store
      ("Dedup.readSoftDedupWeights", "weights", root =>
        assert(Dedup.readSoftDedupWeights(spark, root).count() == 0)),
      ("Dedup.incrementalSequenceNearDups", "sigs", root => {
        Dedup.incrementalSequenceNearDups(seqs, "id", "f", "h", root).collect()
        assert(StoreParquet.open(spark, s"$root/sigs").count() == 6)
      }),
      ("Dedup.incrementalNearDupPairs", "sketches", root => {
        Dedup.incrementalNearDupPairs(toks, "doc_id", "toks", root).collect()
        assert(StoreParquet.open(spark, s"$root/sketches").count() == 2)
      }),
      ("Sketches.appendDistinctSketches", "", root => assert(
        Sketches.appendDistinctSketches(toks, "doc_id", "text", "b0", root) == 2)),
      ("Profile.appendProfile", "", root => assert(
        Profile.appendProfile(toks, Seq("doc_id"), "b0", root) == 1)))
    sites.foreach { case (site, leg, append) =>
      val foreign = seeded("foreign", leg)
      val before = tree(foreign)
      intercept[IllegalArgumentException](append(foreign))
      assert(tree(foreign) == before, s"$site wrote under a refused store")
      Seq("success", "temporary").foreach(st => append(seeded(st, leg)))
    }
  }

  test("must-exist gates: an empty or missing store refuses before any write") {
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val sites: Seq[(String, String, (String, String) => Unit)] = Seq(
      ("Search.appendIvfIndex", "vectors", (src, _) => {
        Search.appendIvfIndex(vecs, "vec_id", "embedding", src); () }),
      ("Search.appendSeededLshIndex", "codes", (src, _) => {
        Search.appendSeededLshIndex(vecs, "vec_id", "embedding", src); () }),
      ("Search.refreshIvfIndex", "vectors", (src, dst) => {
        Search.refreshIvfIndex(vecs, "vec_id", "embedding", src, dst, 2); () }),
      ("Search.compactTextIndex", "postings", (src, dst) => {
        Search.compactTextIndex(spark, src, dst); () }),
      ("Dedup.compactSoftDedupWeights", "weights", (src, dst) => {
        Dedup.compactSoftDedupWeights(spark, src, dst, upToBatchId = 0); () }),
      ("Dedup.compactNearDupSketches", "sketches", (src, dst) => {
        Dedup.compactNearDupSketches(spark, src, dst); () }),
      ("Dedup.compactSequenceStore", "sigs", (src, dst) => {
        Dedup.compactSequenceStore(spark, src, dst); () }),
      ("Dedup.compactSequencePairs", "pairs", (src, dst) => {
        Dedup.compactSequencePairs(spark, src, dst, upToBatchId = 0); () }))
    sites.foreach { case (site, leg, run) =>
      val missing = s"${tmp("gate-missing")}/store"
      Seq(missing, seeded("success", leg)).foreach { src =>
        val dst = s"${tmp("gate-dst")}/out"
        val before = tree(src)
        intercept[IllegalArgumentException](run(src, dst))
        assert(tree(src) == before && tree(dst).isEmpty,
          s"$site wrote before refusing '$src'")
      }
    }
  }
}
