package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sketches}

/** r20 job-count pins for the per-fold job diet (VERDICT r19 item 2 —
  * "done = measured jobs-per-fold drop"): the weights fold, the sketch
  * append and the sketch compaction each lost whole Spark jobs (ledger
  * probe → driver-side read, checkpoint-then-write → materialize-via-
  * sink, persist+count+write → observe-on-write, double store probe →
  * one probe, read-back count → Observation, driver-local ledger write
  * → driver-side parquet). Measured on this fixture (local[4], AQE
  * stage-jobs included), r19 tree vs r20 tree:
  *
  *   fresh weights fold        21 → 19 jobs
  *   absorbed-batch replay      1 → 0 jobs (the ledger probe)
  *   fresh sketch append        5 → 2 jobs
  *   sketch compaction         11 → 5 jobs
  *
  * Opening the stores through StoreParquet (schema from one footer on
  * the driver, no inference job) then took one more job out of the
  * sketch compaction, 5 → 4; the fresh fold reads no existing store and
  * stays at 19.
  *
  * The pins are upper bounds with a job of slack so plan jitter cannot
  * flap them; the exact figures live in OPTIMIZATION_r20.md.
  */
class FoldJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def docs(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong,
        Seq.fill(12)(s"tok${i % 7}") ++ Seq(s"w$i", s"x${i % 3}", s"y$i")))
      .toDF("doc_id", "toks")

  test("weights fold job counts: fresh fold, marker replay, absorbed replay") {
    val root = java.nio.file.Files.createTempDirectory("foldjobs")
    val store = root.resolve("store").toString
    val (_, jobs1) = countJobs {
      Dedup.foldSoftDedupWeightsBatch(docs(0 until 40), "doc_id", "toks",
        store, batchId = 0, threshold = 0.4)
    }
    assert(jobs1 <= 20, s"fresh fold ran $jobs1 jobs (r19: 21, r20: 19)")
    info(s"fresh fold: $jobs1 jobs")
    val (_, jobs2) = countJobs {
      Dedup.foldSoftDedupWeightsBatch(docs(0 until 40), "doc_id", "toks",
        store, batchId = 0, threshold = 0.4)
    }
    // committed-batch replay short-circuits on the _COMMIT marker with
    // zero jobs, before and after — pinned so the diet never breaks it
    assert(jobs2 == 0, s"marker replay ran $jobs2 jobs (expected 0)")
    // compact batch 0 away (the q157 swap), then replay it: the
    // absorbed-batch gate is now a DRIVER-SIDE ledger read — zero jobs
    // (the r19 shape ran a one-row-filter Spark job here, every
    // micro-batch, forever, once a store had ever compacted)
    Dedup.foldSoftDedupWeightsBatch(docs(40 until 60), "doc_id", "toks",
      store, batchId = 1, threshold = 0.4)
    val gen2 = root.resolve("gen2").toString
    Dedup.compactSoftDedupWeights(spark, store, gen2, upToBatchId = 1,
      idCol = "doc_id")
    Seq("weights", "pairs").foreach { sub =>
      val cur = java.nio.file.Paths.get(store, sub)
      java.nio.file.Files.walk(cur).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
      java.nio.file.Files.move(java.nio.file.Paths.get(gen2, sub), cur)
    }
    val (_, jobs3) = countJobs {
      Dedup.foldSoftDedupWeightsBatch(docs(0 until 40), "doc_id", "toks",
        store, batchId = 0, threshold = 0.4)
    }
    assert(jobs3 == 0, s"absorbed replay ran $jobs3 jobs (expected 0)")
  }

  test("sketch append and compaction job counts") {
    val store = freshDir("skjobs")
    val data = (0 until 200).map(i => (s"g${i % 4}", s"v${i % 37}"))
      .toDF("grp", "item")
    val (_, jAppend) = countJobs {
      Sketches.appendDistinctSketches(data, "grp", "item", "b0", store)
    }
    assert(jAppend <= 3, s"fresh append ran $jAppend jobs (r19: 5, r20: 2)")
    info(s"fresh append: $jAppend jobs")
    Sketches.appendDistinctSketches(data, "grp", "item", "b1", store)
    val dst = freshDir("skjobs_dst")
    val (n, jCompact) = countJobs {
      Sketches.compactSketchStore(spark, store, dst, "hll",
        Seq("b0", "b1"), "b0-1")
    }
    assert(n == 4L)
    assert(jCompact <= 5,
      s"compaction ran $jCompact jobs (r19: 11, r20: 5, StoreParquet opens: 4)")
    info(s"compaction: $jCompact jobs")
  }
}
