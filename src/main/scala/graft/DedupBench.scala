package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial scale smoke for the MinHash+LSH band join (VERDICT r3 item
  * 9): 100k synthetic documents engineered to stress exactly what breaks a
  * naive LSH at scale —
  *
  *   - 10% near-duplicate mutated copies (the signal: pairs must be found);
  *   - a 5% HOT CLUSTER sharing a long common prefix, so thousands of docs
  *     land in the same band buckets (the skew the salted join exists for);
  *   - the rest unique background noise.
  *
  * Runs `Dedup.minhashNearDupPairs` + count 3×, prints one JSON line with
  * min/median seconds and the pair count. Recorded in BASELINE.md so a
  * persist/salting regression shows up as a number, not an anecdote.
  */
object DedupBench {

  /** Deterministic doc text for `id` (seeded per-id Random — no global
    * state, identical across runs/partitions).
    */
  def synthText(id: Long, nDocs: Long): String = {
    val rnd = new scala.util.Random(id * 2654435761L + 11)
    def word() = s"w${rnd.nextInt(5000)}"
    // branch order matters: the near-dup branch must only source from
    // BACKGROUND docs (id-1 outside the hot cluster), else the "copy"
    // regenerates background text while its source is a hot doc and the
    // pair isn't a near-dup at all
    if (id % 10 == 1 && id - 1 >= nDocs / 20) {
      // near-dup of id-1: same token stream, tail mutated
      val src = new scala.util.Random((id - 1) * 2654435761L + 11)
      val base = Seq.fill(100)(s"w${src.nextInt(5000)}")
      (base.dropRight(5) ++ Seq.fill(5)(word())).mkString(" ")
    } else if (id < nDocs / 20) {
      // hot cluster: 5% of docs share an identical 60-token prefix
      val hot = (0 until 60).map(i => s"hot$i")
      (hot ++ Seq.fill(40)(word())).mkString(" ")
    } else {
      Seq.fill(100)(word()).mkString(" ")
    }
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_DEDUP_DOCS", "100000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.buildSession(cpus)
    import spark.implicits._

    val docs = spark.range(n).map(id => (id, synthText(id, n)))
      .toDF("id", "text")
      .withColumn("toks", split(col("text"), " "))
      .select(col("id"), col("toks"))

    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.minhashNearDupPairs(
        docs, "id", "toks", shingleN = 3, numHashes = 12, numBands = 4,
        threshold = 0.5, bandSalts = 8)
      val count = pairs.count()
      ((System.nanoTime() - t0) / 1e9, count)
    }
    val secs = runs.map(_._1).sorted
    val pairCount = runs.head._2
    require(runs.forall(_._2 == pairCount), "pair count must be run-stable")
    require(pairCount > 0, "near-dup mutated copies must be found")
    println(s"""{"metric":"dedup_smoke_100k","docs":$n,"pairs":$pairCount,""" +
      s""""min_sec":${secs.head},"median_sec":${secs(1)},"max_sec":${secs(2)},""" +
      s""""runs_sec":[${runs.map(r => f"${r._1}%.2f").mkString(",")}]}""")

    // Hot-key floor for corpus line dedup: every doc opens with the SAME
    // three boilerplate lines (one digest key holding n occurrences each —
    // the skew the partial-aggregatable min verdict exists for), followed
    // by unique lines. Correctness pins: each boilerplate line survives
    // exactly once corpus-wide, all unique lines survive.
    val lineDocs = spark.range(n).map { id =>
      val uniq = (0 until 5).map(j => s"unique line $id $j").mkString("\n")
      (id, s"shared header one\nshared header two\nshared header three\n$uniq")
    }.toDF("id", "text")
    val lineRuns = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val out = graft.operators.Dedup.dedupLinesAcrossCorpus(lineDocs, "id", "text")
      val kept = out.agg(sum(col("n_kept"))).head().getLong(0)
      ((System.nanoTime() - t0) / 1e9, kept)
    }
    val lineSecs = lineRuns.map(_._1).sorted
    val keptLines = lineRuns.head._2
    require(lineRuns.forall(_._2 == keptLines), "kept-line count must be run-stable")
    require(keptLines == 5L * n + 3, s"expected ${5L * n + 3} survivors, got $keptLines")
    println(s"""{"metric":"line_dedup_hotkey_100k","docs":$n,"kept_lines":$keptLines,""" +
      s""""min_sec":${lineSecs.head},"median_sec":${lineSecs(1)},"max_sec":${lineSecs(2)},""" +
      s""""runs_sec":[${lineRuns.map(r => f"${r._1}%.2f").mkString(",")}]}""")

    // Guard-refusal floors (VERDICT r6 item 7): the loud guards must fire
    // BEFORE the quadratic work, not after it materializes. Both cases are
    // engineered so the unguarded computation would be ~n² (10¹⁰ pairs /
    // 10⁸ exploded bins); the recorded floor is wall-clock TO REFUSAL,
    // which stays in prefix-build / first-stage territory (seconds).
    def timeTo[A](body: => A): (Double, Option[Throwable]) = {
      val t0 = System.nanoTime()
      val ex = try { body; None } catch { case e: Throwable => Some(e) }
      ((System.nanoTime() - t0) / 1e9, ex)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: chain(e.getCause))
    // near-constant corpus: every doc shares the SAME shingle set, so the
    // prefix tokens' df ≈ n and the candidate block would be n²/2 pairs
    val constShingles = spark.range(n).select(col("id"),
      array((0 until 6).map(i => lit(s"c$i")): _*).as("sh"))
    val (jacSec, jacEx) = timeTo {
      graft.operators.Dedup.jaccardJoinPrefix(constShingles, "id", "sh",
        thetaPpm = 800000L, maxPrefixDf = n / 2).count()
    }
    require(jacEx.exists(chain(_).exists(_.contains("maxPrefixDf"))),
      s"jaccard guard must refuse the near-constant corpus, got $jacEx")
    require(jacSec < 60.0,
      f"jaccard refusal took $jacSec%.1f s — the guard is firing AFTER " +
        "significant work, not before the candidate block")
    // one adversarial interval spanning 10⁸ bins among n healthy ones
    val healthyL = spark.range(n)
      .select((col("id") * 10).as("l_lo"), (col("id") * 10 + 5).as("l_hi"))
    val rights = spark.range(n)
      .select((col("id") * 10 + 2).as("r_lo"), (col("id") * 10 + 7).as("r_hi"))
    val (healthySec, healthyEx) = timeTo {
      graft.operators.Joins.binnedOverlapJoin(
        healthyL, "l_lo", "l_hi", rights, "r_lo", "r_hi", binSize = 10).count()
    }
    require(healthyEx.isEmpty, s"healthy overlap join failed: $healthyEx")
    val adversarial = healthyL.unionByName(
      Seq((0L, 1000000000L)).toDF("l_lo", "l_hi"))
    val (ovSec, ovEx) = timeTo {
      graft.operators.Joins.binnedOverlapJoin(
        adversarial, "l_lo", "l_hi", rights, "r_lo", "r_hi", binSize = 10).count()
    }
    require(ovEx.exists(chain(_).exists(_.contains("spans more than"))),
      s"overlap guard must refuse the mega-span interval, got $ovEx")
    require(ovSec < 60.0,
      f"overlap refusal took $ovSec%.1f s — the guard is firing AFTER " +
        "the exploded shuffle, not in the first stage")
    println(s"""{"metric":"guard_refusal_100k","docs":$n,""" +
      f""""jaccard_refusal_sec":$jacSec%.2f,"overlap_healthy_sec":$healthySec%.2f,""" +
      f""""overlap_refusal_sec":$ovSec%.2f}""")

    // Compaction cost floors (VERDICT r14 item 7): the two highest-cadence
    // store compactions frozen as wall-clock on a 100k-doc store, so
    // "compaction is cheap at maintenance cadence" is a regression-gated
    // number, not an assumption. The TEXT store pays a real fragmented
    // build (write evens + append odds — the q161 construction); the
    // WEIGHTS store's patch history is synthesized directly (n-row
    // snapshot-sized batch 0 + two 10% patches): the fold that would
    // produce it is the minhash pass benched above, and building it here
    // would time that build, not the compaction.
    val cmpRoot = java.nio.file.Files.createTempDirectory("graftcmp")
    val textIdx = cmpRoot.resolve("tix").toString
    implicit val sparkImplicit: SparkSession = spark
    graft.operators.Search.writeTextIndex(
      docs.where(col("id") % 2 === 0), "id", "toks", textIdx)
    graft.operators.Search.appendTextIndex(
      docs.where(col("id") % 2 === 1), "id", "toks", textIdx)
    val textCmpSecs = (1 to 3).map { i =>
      val dst = cmpRoot.resolve(s"tix_c$i").toString
      val t0 = System.nanoTime()
      val nd = graft.operators.Search.compactTextIndex(spark, textIdx, dst,
        targetFiles = 16)
      require(nd == n, s"text compaction doc count $nd != $n")
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val wStore = cmpRoot.resolve("wst").toString
    def weightsPatch(b: Long, df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$wStore/weights/batch_id=$b")
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$wStore/weights/batch_id=$b", "_COMMIT"))
      spark.range(1).select(lit(b).as("id1"), lit(b + 1).as("id2"))
        .write.mode("overwrite").parquet(s"$wStore/pairs/batch_id=$b")
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$wStore/pairs/batch_id=$b", "_COMMIT"))
    }
    weightsPatch(0, spark.range(n).select(col("id"), col("id").as("rep"),
      lit(1L).as("cluster_size"), lit(1000000L).as("weight_ppm")))
    weightsPatch(1, spark.range(n / 10).select((col("id") * 10).as("id"),
      (col("id") * 10).as("rep"), lit(2L).as("cluster_size"),
      lit(500000L).as("weight_ppm")))
    weightsPatch(2, spark.range(n / 10).select((col("id") * 10 + 1).as("id"),
      (col("id") * 10 + 1).as("rep"), lit(2L).as("cluster_size"),
      lit(500000L).as("weight_ppm")))
    val weightsCmpSecs = (1 to 3).map { i =>
      val dst = cmpRoot.resolve(s"wst_c$i").toString
      val t0 = System.nanoTime()
      val rows = graft.operators.Dedup.compactSoftDedupWeights(spark,
        wStore, dst, upToBatchId = 2, idCol = "id")
      require(rows == n, s"weights snapshot rows $rows != $n")
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(s"""{"metric":"compaction_100k","docs":$n,""" +
      f""""text_compact_min_sec":${textCmpSecs.head}%.2f,""" +
      f""""text_compact_median_sec":${textCmpSecs(1)}%.2f,""" +
      f""""weights_compact_min_sec":${weightsCmpSecs.head}%.2f,""" +
      f""""weights_compact_median_sec":${weightsCmpSecs(1)}%.2f}""")
    java.nio.file.Files.walk(cmpRoot).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
    spark.stop()
  }
}
