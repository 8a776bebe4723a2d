package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Maintenance, QuiescenceRefusalException, Search, Sketches}
import graft.operators.Maintenance._
import graft.sources.Generations

/** [[Maintenance.maintainAll]] — the one-call sweep over the five store
  * policies (VERDICT r16 item 2): mixed healthy/fragmented stores in one
  * pass, per-store verdicts, and the isolation contract (a refusal or
  * error on one store never starves the rest of the sweep).
  */
class MaintenanceSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  // ---- fixtures ----------------------------------------------------

  /** A published sequence catalog: two folds (epoch 0 into the staged
    * gen-0, epoch 1 into the live one), so sigs hold two file-sets and
    * pairs hold one real duplicate row.
    */
  private def sequenceCatalog(seed: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def rows(seqs: Seq[(Long, Seq[Long])]) =
      seqs.flatMap { case (id, hs) =>
        hs.zipWithIndex.map { case (h, f) => (id, f, h) } }.toDF("id", "f", "h")
    val base = (0L until 5L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    val root = tmp("maintallseq")
    def fold(b: Seq[(Long, Seq[Long])], store: String, epoch: Long) =
      Dedup.incrementalSequenceNearDups(rows(b), "id", "f", "h", store,
        minVoteFrac = 0.7, maxShift = 3,
        onPairs = out => {
          out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$store/pairs/batch_id=$epoch")
          ()
        }).count()
    val g0 = Generations.stage(root, conf)
    assert(fold(base, g0, 0L) == 0L)
    Generations.publish(root, g0, conf)
    assert(fold(Seq((100L, base(1)._2.drop(2))),
      Generations.resolve(root, conf), 1L) == 1L)
    root
  }

  /** A published frequency-sketch catalog with `batches` append
    * file-sets.
    */
  private def sketchCatalog(batches: Int): String = {
    import spark.implicits._
    val root = tmp("maintallsk")
    val g0 = Generations.stage(root, conf)
    for (b <- 0 until batches)
      Sketches.appendFrequencySketches(
        (0 until 40).map(i => ("all", s"item_${i % 5}")).toDF("grp", "item"),
        "grp", "item", batchId = s"b$b", storeDir = g0)
    Generations.publish(root, g0, conf)
    root
  }

  /** A published IVF vector catalog over `n` one-hot vectors. */
  private def vectorCatalog(n: Int): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val dim = 4
    def v(id: Long): Seq[Float] = {
      val a = Array.fill(dim)(0.0f); a((id % dim).toInt) = 1.0f; a.toSeq
    }
    val corpus = (1L to n.toLong).map(id => (id, v(id))).toDF("vec_id", "embedding")
    val root = tmp("maintallvec")
    val g0 = Generations.stage(root, conf)
    Search.writeIvfIndex(corpus, "embedding",
      Search.sampledCentroids(corpus, "vec_id", "embedding", 2, "ma"), g0)
    Generations.publish(root, g0, conf)
    (root, corpus)
  }

  // ---- the sweep ----------------------------------------------------

  test("maintainAll: one sweep over mixed healthy/fragmented stores ticks only the unhealthy ones, in registration order") {
    val seqRoot = sequenceCatalog(77)
    val skRoot = sketchCatalog(batches = 3)
    val (vecRoot, _) = vectorCatalog(12)
    val reports = Maintenance.maintainAll(spark, Seq(
      // healthy: three sketch file-sets under a budget of ten
      SketchPolicy(skRoot, "freq", closedBatchIds = Seq("b0", "b1"),
        compactedBatchId = "b0-1", maxDataFiles = 10, targetFiles = 2),
      // fragmented: two sigs file-sets past a budget of one
      SequencePolicy(seqRoot, committedBatchId = 1L, maxSigFiles = 1,
        targetFiles = 1),
      // healthy: threshold below any cosine mean
      VectorPolicy(vecRoot, threshold = -2.0,
        observe = p => Search.minClusterSimilarity(spark, p, "embedding"),
        refresh = (_, _) => fail("a healthy store must never refresh"))))
    assert(reports.map(_.kind) == Seq("sketch", "sequence", "vector"),
      "registration order is report order")
    val Seq(sk, sq, vec) = reports
    assert(sk.verdict == "healthy" && sk.published.isEmpty)
    assert(sk.observed == 3.0, "sketch observable = live data-file count")
    assert(sq.verdict == "published" && sq.published.contains("gen-1"))
    assert(sq.observed >= 2.0, "sequence observable = live sigs file count")
    assert(Generations.resolve(seqRoot, conf).endsWith("gen-1"),
      "the fragmented store's pointer swung")
    assert(Generations.resolve(skRoot, conf).endsWith("gen-0"),
      "the healthy store's pointer never moved")
    assert(vec.verdict == "healthy" && !vec.observed.isNaN,
      "the vector observable is captured from the policy's own observe call")
    // the whole catalog reads healthy on the next sweep
    val again = Maintenance.maintainAll(spark, Seq(
      SketchPolicy(skRoot, "freq", Seq("b0", "b1"), "b0-1",
        maxDataFiles = 10, targetFiles = 2),
      SequencePolicy(seqRoot, committedBatchId = 1L, maxSigFiles = 1,
        targetFiles = 1)))
    assert(again.map(_.verdict) == Seq("healthy", "healthy"))
  }

  test("maintainAll: a quiescence refusal is reported as `refused` and the sweep continues to the remaining stores") {
    import spark.implicits._
    val (vecRoot, corpus) = vectorCatalog(12)
    val skRoot = sketchCatalog(batches = 2)
    val late = Seq((501L, Seq(0.5f, 0.5f, 0f, 0f))).toDF("vec_id", "embedding")
    val reports = Maintenance.maintainAll(spark, Seq(
      // drifted (threshold above any cosine), and the refresh closure
      // simulates the race: an append COMMITS into the live generation
      // while the retrain rebuilds from the corpus snapshot
      VectorPolicy(vecRoot, threshold = 2.0,
        observe = p => Search.minClusterSimilarity(spark, p, "embedding"),
        refresh = (src, dst) => {
          assert(Search.appendIvfIndex(late, "vec_id", "embedding", src) == 1L)
          Search.refreshIvfIndex(corpus, "vec_id", "embedding", src, dst,
            nClusters = 2, salt = "ma2")
        }),
      SketchPolicy(skRoot, "freq", Seq("b0"), "b0c",
        maxDataFiles = 10, targetFiles = 2)))
    val Seq(vec, sk) = reports
    assert(vec.verdict == "refused" && vec.published.isEmpty)
    assert(vec.detail.contains("mid-refresh"))
    assert(Generations.resolve(vecRoot, conf).endsWith("gen-0"),
      "the refused store's pointer never moved")
    assert(sk.verdict == "healthy",
      "the store registered AFTER the refusal still got its sweep")
    // the abandoned staged generation is vacuum's to reclaim — then a
    // quiet re-tick (writer paused: refresh with no concurrent append)
    // publishes
    assert(Generations.vacuum(vecRoot, keep = 0, conf) == Seq("gen-1"))
    val retick = Maintenance.maintainAll(spark, Seq(
      VectorPolicy(vecRoot, threshold = 2.0,
        observe = p => Search.minClusterSimilarity(spark, p, "embedding"),
        refresh = (src, dst) => Search.refreshIvfIndex(
          spark.read.parquet(s"$src/vectors").select("vec_id", "embedding"),
          "vec_id", "embedding", src, dst, nClusters = 2, salt = "ma3"))))
    assert(retick.head.verdict == "published")
    // vacuum removed the abandoned gen-1, so staging re-allocates it
    assert(retick.head.published.contains("gen-1"))
    assert(Generations.resolve(vecRoot, conf).endsWith("gen-1"))
  }

  test("maintainAll: one sweep spans ALL FIVE policy families — mixed healthy/fragmented, every ticked store answers unchanged") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // vector (healthy), text (fragmented), weights (fragmented),
    // sketch (healthy), sequence (fragmented) — the full fleet a
    // scheduler would register, in one registration list
    val (vecRoot, _) = vectorCatalog(12)
    val docs = Tables.documents(spark, sf001).select(col("doc_id"),
      TextFunctions.wordTokens(col("text")).as("toks"))
    val textRoot = tmp("maintalltext")
    val tg0 = Generations.stage(textRoot, conf)
    Search.writeTextIndex(docs.where(col("doc_id") < 100), "doc_id", "toks",
      tg0)
    Generations.publish(textRoot, tg0, conf)
    (1 to 4).foreach { i =>
      Search.appendTextIndex(
        docs.where(col("doc_id") >= i * 100 && col("doc_id") < (i + 1) * 100),
        "doc_id", "toks", Generations.resolve(textRoot, conf))
    }
    val bmBefore = Search.bm25TopKFromIndex(spark, Generations.resolve(textRoot, conf),
      Seq("data", "model", "search"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ta = "alpha beta gamma delta"; val tb = "epsilon zeta eta theta"
    def wdocs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val wRoot = tmp("maintallw")
    val wg0 = Generations.stage(wRoot, conf)
    assert(Dedup.foldSoftDedupWeightsBatch(wdocs(1L -> ta, 2L -> ta,
      3L -> tb), "doc_id", "toks", wg0, 0) > 0L)
    Generations.publish(wRoot, wg0, conf)
    assert(Dedup.foldSoftDedupWeightsBatch(wdocs(11L -> ta), "doc_id",
      "toks", Generations.resolve(wRoot, conf), 1) > 0L)
    assert(Dedup.foldSoftDedupWeightsBatch(wdocs(21L -> tb), "doc_id",
      "toks", Generations.resolve(wRoot, conf), 2) > 0L)
    def weightsRead() = Dedup.readSoftDedupWeights(spark,
        Generations.resolve(wRoot, conf), idCol = "doc_id").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val wBefore = weightsRead()
    val skRoot = sketchCatalog(batches = 3)
    val seqRoot = sequenceCatalog(4217)
    val pairsBefore = spark.read.parquet(
        s"${Generations.resolve(seqRoot, conf)}/pairs")
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    def fleet = Seq(
      VectorPolicy(vecRoot, threshold = -2.0,
        observe = p => Search.minClusterSimilarity(spark, p, "embedding"),
        refresh = (_, _) => fail("a healthy store must never refresh")),
      TextPolicy(textRoot, maxPostingsFiles = 8, targetFiles = 4),
      WeightsPolicy(wRoot, maxBatches = 2, committedBatchId = 2L,
        idCol = "doc_id"),
      SketchPolicy(skRoot, "freq", closedBatchIds = Seq("b0", "b1"),
        compactedBatchId = "b0-1", maxDataFiles = 10, targetFiles = 2),
      SequencePolicy(seqRoot, committedBatchId = 1L, maxSigFiles = 1,
        targetFiles = 1))
    val sweep = Maintenance.maintainAll(spark, fleet)
    assert(sweep.map(r => (r.kind, r.verdict)) == Seq(
      "vector" -> "healthy", "text" -> "published",
      "weights" -> "published", "sketch" -> "healthy",
      "sequence" -> "published"),
      s"one sweep, five families, only the fragmented three tick: $sweep")
    assert(sweep(1).observed > 8.0, "text observable = live postings files")
    assert(sweep(2).observed == 3.0, "weights observable = committed batches")
    assert(sweep(3).observed == 3.0, "sketch observable = live data files")
    // every ticked store's answer is unchanged through its swap
    assert(Search.bm25TopKFromIndex(spark, Generations.resolve(textRoot, conf),
      Seq("data", "model", "search"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == bmBefore,
      "bm25 scores bit-identical through the text compaction")
    assert(Search.dataFileCount(spark,
      s"${Generations.resolve(textRoot, conf)}/postings") <= 4)
    assert(weightsRead() == wBefore,
      "weights read-through-catalog identical through the fold")
    assert(spark.read.parquet(s"${Generations.resolve(seqRoot, conf)}/pairs")
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == pairsBefore,
      "sequence pairs identical through the compaction")
    // the whole five-family fleet reads healthy on the next sweep (the
    // vector policy's refresh closure fails the test if it ever runs)
    assert(Maintenance.maintainAll(spark, fleet)
      .map(_.verdict).forall(_ == "healthy"))
  }

  test("maintainAll classifies refusals by TYPE: a plain IllegalArgumentException with refusal vocabulary is an error, the typed exception is refused") {
    // The classification contract since r18 is the
    // QuiescenceRefusalException TYPE (thrown via
    // QuiescenceRefusal.refuseUnless at the five tripwires), not the
    // message text — a reworded require can no longer silently
    // reclassify an expected refusal. Drive both directions through a
    // vector policy whose observe throws.
    val (root, _) = vectorCatalog(12)
    def reportFor(e: => Nothing): String =
      Maintenance.maintainAll(spark, Seq(
        VectorPolicy(root, threshold = 2.0,
          observe = _ => e,
          refresh = (_, _) => fail("refresh must not run")))).head.verdict
    assert(reportFor(throw new QuiescenceRefusalException(
      "synthetic refusal with NO vocabulary at all")) == "refused",
      "the typed exception alone must classify as refused")
    assert(reportFor(throw new IllegalArgumentException(
      "untyped but vocabulary-bearing: mid-compaction (files 1 -> 2)"))
      == "error",
      "an untyped exception must classify as error even with the vocabulary")
  }

  test("the five policies' quiescence refusals keep the vocabulary and the typed-throw discipline (whole-src scan)") {
    // Belt for the report TEXT (classification itself is by type, above):
    // the "mid-compaction ("/"mid-refresh (" vocabulary operators read in
    // StoreReport.detail stays pinned, and — per ADVICE r17 — the scan
    // walks ALL of src/main/scala so a sixth policy family emitting its
    // refusal from a new file must register here. The five policies'
    // refusal details live on their StorePolicy wiring in
    // Maintenance.scala, and the ONE tick throws them through the single
    // typed QuiescenceRefusal.refuseUnless site; Queries.scala's hit is a
    // probe-scaladoc mention, pinned as comment-only.
    def countIn(s: String, tok: String): Int = {
      var i = 0; var n = 0
      while ({ i = s.indexOf(tok, i); i >= 0 }) { n += 1; i += 1 }
      n
    }
    val root = java.nio.file.Paths.get("src/main/scala")
    def scan(toks: Seq[String]): Map[String, Map[String, Int]] = {
      val found = scala.collection.mutable.Map[String, Map[String, Int]]()
      val walk = java.nio.file.Files.walk(root)
      try walk.forEach { p =>
        if (p.toString.endsWith(".scala")) {
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          val m = toks.map(t => t -> countIn(src, t)).filter(_._2 > 0).toMap
          if (m.nonEmpty) found(root.relativize(p).toString) = m
        }
      } finally walk.close()
      found.toMap
    }
    val want = Map(
      "graft/operators/Maintenance.scala" ->
        Map("mid-refresh (" -> 1, "mid-compaction (" -> 4),
      "graft/Queries.scala" -> Map("mid-compaction (" -> 1))
    assert(scan(Seq("mid-refresh (", "mid-compaction (")) == want,
      "quiescence-vocabulary sites drifted — a new/reworded refusal " +
        "must keep the vocabulary AND throw QuiescenceRefusalException " +
        "via the maintenance tick's single typed throw (update this pin with it)")
    // and the one typed throw is the tick's
    assert(scan(Seq("QuiescenceRefusal.refuseUnless(")) == Map(
      "graft/operators/Maintenance.scala" ->
        Map("QuiescenceRefusal.refuseUnless(" -> 1)),
      "expected exactly one typed refusal throw, in the maintenance tick")
  }

  test("maintainAll: a store that errors (no published generation) is reported and isolated") {
    val skRoot = sketchCatalog(batches = 2)
    val reports = Maintenance.maintainAll(spark, Seq(
      WeightsPolicy(tmp("maintallempty"), maxBatches = 2,
        committedBatchId = 0L),
      SketchPolicy(skRoot, "freq", Seq("b0"), "b0c",
        maxDataFiles = 10, targetFiles = 2)))
    val Seq(bad, ok) = reports
    assert(bad.verdict == "error")
    assert(bad.observed.isNaN, "failed before observing")
    assert(bad.detail.contains("no published generation"))
    assert(ok.verdict == "healthy",
      "one broken registration never starves the fleet")
  }
}
