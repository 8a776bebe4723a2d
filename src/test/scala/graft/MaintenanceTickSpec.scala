package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Maintenance, QuiescenceRefusalException, Search, Sketches}
import graft.operators.Maintenance._
import graft.sources.Generations

/** The one maintenance tick ([[Maintenance.tick]]) that all five store
  * policies share, driven table-style: per policy, a write injected after
  * the rewrite refuses the publish with the typed exception, leaves the
  * pointer where it was and leaves the staged generation to vacuum; a
  * healthy tick runs no Spark job; the `observed` value `maintainAll`
  * reports is exactly the value the trigger compared (the budget set to
  * it reads healthy, one step past it publishes); and a published tick
  * runs the same number of Spark jobs as the per-policy maintainers did
  * before they shared the tick.
  */
class MaintenanceTickSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** A published catalog with `build`'s store in gen-0. */
  private def catalog(tag: String)(build: String => Unit): String = {
    val root = tmp(tag)
    val g0 = Generations.stage(root, conf)
    build(g0)
    Generations.publish(root, g0, conf)
    root
  }

  /** One policy family's row of the table.
    *
    * @param policy    the policy over a root at a budget (the trigger's
    *                  threshold or file/batch limit)
    * @param idle      a budget the fixture is healthy under
    * @param past      the budget one step past an observed value, which
    *                  must tick
    * @param write     a write of the kind the policy races, into a live
    *                  generation
    * @param jobs      Spark jobs of the published tick (measured on the
    *                  per-policy maintainers before the shared tick)
    */
  private case class Row(kind: String, build: () => String,
      policy: (String, Double) => StorePolicy, idle: Double,
      past: Double => Double, write: String => Unit, jobs: Int)

  private def docs(from: Long, n: Int): DataFrame = {
    import spark.implicits._
    val words = Vector("data", "model", "search", "index", "vector",
      "query", "shard", "batch", "token", "score")
    (from until from + n).map { id =>
      (id, (0 until 6).map(j => words(((id * 7 + j * 3) % words.size).toInt))
        .mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
  }

  private def oneHot(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map { id =>
      val a = Array.fill(4)(0.0f); a((id % 4).toInt) = 1.0f; (id, a.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def foldSeq(store: String, epoch: Long,
      seqs: Seq[(Long, Seq[Long])]): Long = {
    import spark.implicits._
    Dedup.incrementalSequenceNearDups(
      seqs.flatMap { case (id, hs) =>
        hs.zipWithIndex.map { case (h, f) => (id, f, h) } }.toDF("id", "f", "h"),
      "id", "f", "h", store, minVoteFrac = 0.7, maxShift = 3,
      onPairs = out => {
        out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$store/pairs/batch_id=$epoch")
        ()
      }).count()
  }

  private val weightsText = Seq("alpha beta gamma delta",
    "epsilon zeta eta theta")
  private def weightsBatch(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, weightsText((id % 2).toInt))).toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
  }

  private def items(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => ("all", s"item_${i % 5}")).toDF("grp", "item")
  }

  private val seqBase = {
    val rnd = new scala.util.Random(4217)
    (0L until 5L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
  }

  private lazy val rows: Seq[Row] = Seq(
    Row("vector",
      () => catalog("tickvec") { g0 =>
        val c = oneHot(1L to 12L)
        Search.writeIvfIndex(c, "embedding",
          Search.sampledCentroids(c, "vec_id", "embedding", 2, "tk"), g0)
        ()
      },
      (root, threshold) => VectorPolicy(root, threshold, _ => 0.5,
        (src, dst) => Search.refreshIvfIndex(oneHot(1L to 12L), "vec_id",
          "embedding", src, dst, nClusters = 2, salt = "tk2")),
      idle = 0.0, past = _ + 0.25,
      live => { Search.appendIvfIndex(oneHot(Seq(501L)), "vec_id",
        "embedding", live); () },
      jobs = 8),
    Row("text",
      () => catalog("ticktext") { g0 =>
        Search.writeTextIndex(docs(0L, 40), "doc_id", "toks", g0)
        Search.appendTextIndex(docs(40L, 40), "doc_id", "toks", g0)
        ()
      },
      (root, max) => TextPolicy(root, max.toInt, targetFiles = 1),
      idle = 1000.0, past = _ - 1,
      live => { Search.appendTextIndex(docs(900L, 10), "doc_id", "toks",
        live); () },
      jobs = 7),
    Row("weights",
      () => catalog("tickw") { g0 =>
        (0 until 2).foreach(b => Dedup.foldSoftDedupWeightsBatch(
          weightsBatch(10L * b + 1, 10L * b + 2, 10L * b + 3), "doc_id",
          "toks", g0, b.toLong))
      },
      (root, max) => WeightsPolicy(root, max.toInt, committedBatchId = 1L,
        idCol = "doc_id"),
      idle = 1000.0, past = _ - 1,
      live => { Dedup.foldSoftDedupWeightsBatch(weightsBatch(31L, 32L),
        "doc_id", "toks", live, 2L); () },
      jobs = 20),
    Row("sketch",
      () => catalog("ticksk") { g0 =>
        (0 until 2).foreach(b => Sketches.appendFrequencySketches(items(40),
          "grp", "item", batchId = s"b$b", storeDir = g0))
      },
      (root, max) => SketchPolicy(root, "freq", Seq("b0", "b1"), "b0-1",
        maxDataFiles = max.toInt, targetFiles = 1),
      idle = 1000.0, past = _ - 1,
      live => { Sketches.appendFrequencySketches(items(10), "grp", "item",
        batchId = "b9", storeDir = live); () },
      jobs = 4),
    Row("sequence",
      () => catalog("tickseq") { g0 =>
        foldSeq(g0, 0L, seqBase)
        foldSeq(g0, 1L, Seq((100L, seqBase(1)._2.drop(2))))
        ()
      },
      (root, max) => SequencePolicy(root, committedBatchId = 1L,
        maxSigFiles = max.toInt, targetFiles = 1),
      idle = 1000.0, past = _ - 1,
      live => { foldSeq(live, 2L, Seq((200L, seqBase(3)._2.drop(1)))); () },
      jobs = 19))

  private def sweep(p: StorePolicy): StoreReport =
    Maintenance.maintainAll(spark, Seq(p)).head

  rows.map(_.kind).foreach { kind =>
    test(s"$kind: one tick — a write after the rewrite refuses; healthy runs no job; observed is the trigger's value; the publish runs the pinned jobs") {
      val r = rows.find(_.kind == kind).get
      val root = r.build()
      def live = Generations.resolve(root, conf)

      // (1) the tripwire: a write of the raced kind lands after the rewrite
      val refused = Maintenance.tick(spark, r.policy(root, r.past(
        sweep(r.policy(root, r.idle)).observed)), () => r.write(live))
      assert(refused.published.failed.toOption.exists(
        _.isInstanceOf[QuiescenceRefusalException]),
        s"$kind: expected a typed refusal, got ${refused.published}")
      assert(live.endsWith("gen-0"), s"$kind: the pointer must not move")
      assert(Generations.history(root, conf) == Seq("gen-0", "gen-1"))
      assert(Generations.vacuum(root, keep = 0, conf) == Seq("gen-1"),
        s"$kind: vacuum reclaims the abandoned staged generation")

      // (2) a healthy tick is driver listings only
      val (healthy, healthyJobs) = countJobs(sweep(r.policy(root, r.idle)))
      assert(healthy.verdict == "healthy" && !healthy.observed.isNaN)
      assert(healthyJobs == 0, s"$kind: a healthy tick ran $healthyJobs job(s)")

      // (3) the reported value is the compared value: the budget AT it is
      // healthy, one step past it ticks
      val o = healthy.observed
      val atBudget = sweep(r.policy(root, o))
      assert(atBudget.verdict == "healthy" && atBudget.observed == o,
        s"$kind: $atBudget")
      val (published, jobs) = countJobs(sweep(r.policy(root, r.past(o))))
      assert(published.verdict == "published" &&
        published.published.contains("gen-1") && published.observed == o,
        s"$kind: $published")
      assert(live.endsWith("gen-1"))
      assert(jobs == r.jobs, s"$kind: the published tick ran $jobs jobs, " +
        s"the per-policy maintainer ran ${r.jobs}")
    }
  }

  test("maintainAll: one root spelled /x, /x/ and file:/x ticks sequentially, never concurrently") {
    val root = catalog("tickroot") { g0 =>
      Search.writeIvfIndex(oneHot(1L to 4L), "embedding",
        Search.sampledCentroids(oneHot(1L to 4L), "vec_id", "embedding", 2,
          "tr"), g0)
      ()
    }
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val met = new java.util.concurrent.CountDownLatch(3)
    // each observe waits briefly for the others: concurrent ticks overlap
    // here, sequential ticks time out one after another
    def observe(live: String): Double = {
      peak.accumulateAndGet(active.incrementAndGet(), math.max(_, _))
      met.countDown()
      met.await(400, java.util.concurrent.TimeUnit.MILLISECONDS)
      active.decrementAndGet()
      1.0
    }
    val reports = Maintenance.maintainAll(spark,
      Seq(root, s"$root/", s"file:$root").map(r =>
        VectorPolicy(r, threshold = 0.0, observe,
          (_, _) => fail("a healthy store must never refresh"))))
    assert(reports.map(_.verdict) == Seq.fill(3)("healthy"))
    assert(peak.get == 1, s"${peak.get} ticks on one root overlapped")
  }

  test("Generations.history skips stray gen- names: history, stage and vacuum keep working") {
    import spark.implicits._
    val root = catalog("tickstray") { g0 =>
      Seq(1, 2).toDF("x").write.parquet(s"$g0/data")
    }
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val strays = Seq("gen-", "gen-99999999999999999999", "gen-1x", "gen--1")
    strays.foreach(n => fs.mkdirs(new org.apache.hadoop.fs.Path(root, n)))
    assert(Generations.history(root, conf) == Seq("gen-0"))
    assert(Generations.stage(root, conf).endsWith("gen-1"))
    assert(Generations.history(root, conf) == Seq("gen-0", "gen-1"))
    assert(Generations.vacuum(root, keep = 0, conf) == Seq("gen-1"))
    assert(strays.forall(n => fs.exists(new org.apache.hadoop.fs.Path(root, n))),
      "names that are not generations are not vacuum's to delete")
  }
}
