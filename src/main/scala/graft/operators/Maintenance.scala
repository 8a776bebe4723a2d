package graft.operators

import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}
import graft.sources.{Generations, PathState, StoreParquet}

/** The operational entry point over the engine's five persisted-store
  * maintenance policies (VERDICT r16 item 2): a scheduler registers every
  * catalog root once, calls [[Maintenance.maintainAll]] hourly, and gets
  * back a structured per-store report — which stores were observed
  * healthy, which were ticked and what generation was published, and
  * which refused their publish (quiescence tripwire) or failed outright.
  *
  * Every policy ([[Search.maintainVectorIndex]], [[Search.maintainTextIndex]],
  * [[Dedup.maintainSoftDedupWeights]], [[Sketches.maintainSketchStore]],
  * [[Dedup.maintainSequenceStore]]) runs the ONE [[tick]] below: the
  * policy supplies its observable, its quiescence fingerprint and its
  * rewrite as [[Parts]]; resolving, staging, the tripwire and the
  * publish are spelled once.
  *
  *   - A HEALTHY store costs its fingerprint's driver-side listings (the
  *     vector axis adds its own observe — one sidecar read) and runs no
  *     Spark job — a sweep over hundreds of registered stores is
  *     metadata-cheap, which is what makes an hourly cadence viable at
  *     100 TB.
  *   - Stores tick CONCURRENTLY from a small bounded pool (guide §2.6 —
  *     r20 optimization round, VERDICT r19 item 4): each policy owns its
  *     catalog root (single-writer discipline is PER ROOT, and the sweep
  *     refuses to overlap two policies that share a root — it falls back
  *     to sequential there), so independent stores' rewrites legally
  *     overlap and the next store's jobs back-fill the executors the
  *     current store's shuffle tail leaves idle. The pool bound (default
  *     4) keeps the cluster's concurrent shuffle footprint bounded by a
  *     few stores' rewrites, not the fleet's.
  *   - One store's failure never aborts the sweep: a quiescence REFUSAL
  *     (a fold/append landed mid-rewrite — re-tick with the writer
  *     paused) and any other per-store error are both caught, reported,
  *     and the sweep moves on. Forty healthy stores must not miss their
  *     maintenance because one store's stream wasn't paused.
  *
  * The reference (`index_documents.py`) has no maintenance story at all —
  * it rebuilds its Postgres table per run (lines 198-249); this is the
  * scale-out replacement for that rebuild-the-world posture.
  */
object Maintenance {

  /** A registered store: which policy maintains `root` and its budget. */
  sealed trait StorePolicy {
    /** Catalog root ([[graft.sources.Generations]] layout). */
    def root: String
    /** Policy-family tag carried into the report. */
    def kind: String
    /** This policy's parts of the [[tick]]. Argument checks run here, so
      * an invalid registration fails inside the tick (an `error` row),
      * never at registration.
      */
    private[graft] def parts(spark: SparkSession): Parts[_]
  }

  /** [[Search.maintainVectorIndex]] — drift-triggered retrain.
    * `observe` is the drift metric (e.g. [[Search.minClusterSimilarity]],
    * O(stats) via the driftstats sidecar when healthy); `refresh` the
    * family's retrain partially applied over the caller's corpus.
    */
  final case class VectorPolicy(root: String, threshold: Double,
      observe: String => Double,
      refresh: (String, String) => Long) extends StorePolicy {
    def kind: String = "vector"
    private[graft] def parts(spark: SparkSession) = Parts[Int](
      "maintainVectorIndex: append(s)",
      live => files(spark, live, "vectors") + files(spark, live, "codes"),
      (live, _) => observe(live), _ >= threshold,
      (live, staged) => refresh(live, staged),
      (b, a) => s"mid-refresh (data files $b -> $a)")
  }

  /** [[Search.maintainTextIndex]] — postings-fragmentation compaction. */
  final case class TextPolicy(root: String, maxPostingsFiles: Int,
      targetFiles: Int = 16) extends StorePolicy {
    def kind: String = "text"
    private[graft] def parts(spark: SparkSession) = {
      requireBudget("maxPostingsFiles", maxPostingsFiles, targetFiles)
      Parts[Int]("maintainTextIndex: append(s)",
        files(spark, _, "postings"), (_, n) => n, _ <= maxPostingsFiles,
        Search.compactTextIndex(spark, _, _, targetFiles),
        (b, a) => s"mid-compaction (postings files $b -> $a)")
    }
  }

  /** [[Dedup.maintainSoftDedupWeights]] — weights-batch-count fold. */
  final case class WeightsPolicy(root: String, maxBatches: Int,
      committedBatchId: Long, idCol: String = "id",
      targetFiles: Int = 4) extends StorePolicy {
    def kind: String = "weights"
    private[graft] def parts(spark: SparkSession) = {
      require(maxBatches >= 1, "maxBatches must be >= 1 (a snapshot IS " +
        s"one batch subdir), got $maxBatches")
      val conf = spark.sparkContext.hadoopConfiguration
      Parts[(Seq[Long], Seq[Long])]("maintainSoftDedupWeights: fold(s)",
        live => (Dedup.committedWeightsBatches(spark, live),
          Dedup.batchDirs(s"$live/pairs", conf)._1.map(_._1)),
        (_, f) => f._1.size, _ <= maxBatches,
        (live, staged) => {
          Dedup.compactSoftDedupWeights(spark, live, staged,
            committedBatchId, idCol, targetFiles)
          if (PathState.classify(s"$live/neardup/sketches", conf) ==
              PathState.Data)
            Dedup.compactNearDupSketches(spark, s"$live/neardup",
              s"$staged/neardup")
        },
        (b, a) => s"mid-compaction (weights ${b._1} -> ${a._1}, pairs " +
          s"${b._2} -> ${a._2})")
    }
  }

  /** [[Sketches.maintainSketchStore]] — sketch-blob file-count fold. */
  final case class SketchPolicy(root: String, family: String,
      closedBatchIds: Seq[String], compactedBatchId: String,
      maxDataFiles: Int, targetFiles: Int = 16, k: Int = 200,
      maxMapSize: Int = 1024) extends StorePolicy {
    def kind: String = "sketch"
    private[graft] def parts(spark: SparkSession) = {
      requireBudget("maxDataFiles", maxDataFiles, targetFiles)
      Parts[Int]("maintainSketchStore: append(s)",
        Search.dataFileCount(spark, _), (_, n) => n, _ <= maxDataFiles,
        Sketches.compactSketchStore(spark, _, _, family, closedBatchIds,
          compactedBatchId, k, maxMapSize, targetFiles),
        (b, a) => s"mid-compaction (data files $b -> $a)")
    }
  }

  /** [[Dedup.maintainSequenceStore]] — sigs-fragmentation compaction. */
  final case class SequencePolicy(root: String, committedBatchId: Long,
      maxSigFiles: Int, targetFiles: Int = 16) extends StorePolicy {
    def kind: String = "sequence"
    private[graft] def parts(spark: SparkSession) = {
      requireBudget("maxSigFiles", maxSigFiles, targetFiles)
      Parts[(Int, Int)]("maintainSequenceStore: fold(s)",
        live => (files(spark, live, "sigs"), files(spark, live, "pairs")),
        (_, f) => f._1, _ <= maxSigFiles,
        (live, staged) => {
          Dedup.compactSequenceStore(spark, live, staged, targetFiles)
          // an all-empty pairs store is skipped, not folded (see the policy)
          if (PathState.classify(s"$live/pairs",
                spark.sparkContext.hadoopConfiguration) == PathState.Data &&
              StoreParquet.open(spark, s"$live/pairs").limit(1).count() > 0)
            Dedup.compactSequencePairs(spark, live, staged, committedBatchId,
              targetFiles)
        },
        (b, a) => s"mid-compaction (sigs ${b._1} -> ${a._1}, pairs " +
          s"${b._2} -> ${a._2})")
    }
  }

  private def files(spark: SparkSession, live: String, sub: String): Int =
    Search.dataFileCount(spark, s"$live/$sub")

  private def requireBudget(name: String, max: Int, targetFiles: Int): Unit =
    require(max >= targetFiles, s"$name ($max) below targetFiles " +
      s"($targetFiles) would re-trigger compaction on every tick")

  /** One policy's share of a [[tick]]; `F` is its quiescence observable.
    *
    * @param writer      the maintainer and the writes it races, leading
    *                    the refusal text
    * @param fingerprint the quiescence observable of a generation
    *                    (driver-side listings, never a Spark job)
    * @param observe     the trigger value, from the live path and its
    *                    baseline fingerprint
    * @param healthy     true when the trigger value needs no work
    * @param rewrite     builds the staged generation from the live one
    * @param moved       the refusal detail for a baseline → re-listed change
    */
  private[graft] final case class Parts[F](writer: String,
      fingerprint: String => F, observe: (String, F) => Double,
      healthy: Double => Boolean, rewrite: (String, String) => Unit,
      moved: (F, F) => String)

  /** A tick's outcome: the trigger value it compared (NaN when it failed
    * before observing) and the published generation (None when healthy),
    * or what the tick threw.
    */
  private[graft] final case class Ticked(observed: Double,
      published: Try[Option[String]])

  /** One maintenance tick — the single publish path of all five
    * policies: resolve the live generation once, fingerprint it, observe
    * the trigger, and only when unhealthy stage a generation, rewrite
    * into it, re-fingerprint the live generation, and publish.
    *
    * QUIESCENCE (ADVICE r15; the contract every policy inherits): a
    * fold/append whose job COMMITS into the live generation between the
    * baseline fingerprint and the publish would exist only in the
    * superseded generation — a committed epoch never replays, and a
    * vector refresh rebuilds from the caller's corpus snapshot, so the
    * published store would silently drop it. The baseline is taken
    * BEFORE the observe (an append landing while the drift metric scores
    * is caught too) and re-taken after the rewrite; any change REFUSES
    * the publish with the typed [[QuiescenceRefusalException]] (the
    * staged generation is abandoned unpublished — vacuum reclaims it).
    * Re-run the tick with the writer paused. Detection is best-effort (a
    * write landing between the re-check and the pointer rename is not
    * seen) — pausing the single writer for the tick is the contract, the
    * fingerprint is the tripwire.
    *
    * @param afterRewrite runs after the rewrite, before the re-fingerprint
    *        (the race proofs inject a mid-rewrite write here)
    */
  private[graft] def tick(spark: SparkSession, p: StorePolicy,
      afterRewrite: () => Unit = () => ()): Ticked = {
    var observed = Double.NaN
    def run[F](t: Parts[F]): Option[String] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val live = Generations.resolve(p.root, conf)
      val before = t.fingerprint(live)
      observed = t.observe(live, before)
      if (t.healthy(observed)) None
      else {
        val staged = Generations.stage(p.root, conf)
        t.rewrite(live, staged)
        afterRewrite()
        val after = t.fingerprint(live)
        QuiescenceRefusal.refuseUnless(after == before,
          s"${t.writer} landed in the live generation " +
            s"${t.moved(before, after)} — refusing to publish a generation " +
            "missing them; the staged dir is abandoned (vacuum reclaims " +
            "it). Re-run the tick with the writer paused")
        Some(Generations.publish(p.root, staged, conf))
      }
    }
    val published = Try(run(p.parts(spark)))
    Ticked(observed, published)
  }

  /** One store's sweep outcome.
    *
    * @param observed  the value the policy's trigger compared — the drift
    *                  metric for the vector axis, the file/batch count for
    *                  the layout axes; NaN when the tick failed before
    *                  observing
    * @param verdict   `healthy` (no work, nothing staged) | `published`
    *                  (rewrite + atomic pointer swing) | `refused` (the
    *                  quiescence tripwire — a write landed mid-rewrite;
    *                  the staged generation is abandoned for vacuum,
    *                  re-tick with the writer paused) | `error` (anything
    *                  else; see `detail`)
    * @param published the published generation name when verdict is
    *                  `published`
    * @param detail    the refusal/error message, empty otherwise
    */
  final case class StoreReport(root: String, kind: String, observed: Double,
      verdict: String, published: Option[String], detail: String)

  /** Sweep every registered store: observe each, tick only the unhealthy
    * ones, never let one store's failure starve the rest. Reports come
    * back in registration order.
    *
    * Independent stores tick CONCURRENTLY from a bounded driver thread
    * pool (guide §2.6; see the class doc). `maxConcurrent <= 1`, a
    * single policy, or any two policies sharing a catalog root fall back
    * to the sequential sweep — overlapping two writers on one root would
    * break the per-root single-writer discipline every policy assumes.
    * Roots compare qualified through their filesystem, so `/x`, `/x/`
    * and `file:/x` are one root.
    */
  def maintainAll(spark: SparkSession, policies: Seq[StorePolicy],
      maxConcurrent: Int = 4): Seq[StoreReport] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // an unqualifiable root stays raw: its own tick reports the error
    def qualified(root: String): String = Try {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(conf).makeQualified(p).toString
    }.getOrElse(root)
    val distinctRoots =
      policies.map(p => qualified(p.root)).distinct.size == policies.size
    if (policies.size <= 1 || maxConcurrent <= 1 || !distinctRoots)
      policies.map(p => sweepOne(spark, p))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrent, policies.size))
      try {
        val futures = policies.map { p =>
          pool.submit(new java.util.concurrent.Callable[StoreReport] {
            override def call(): StoreReport = sweepOne(spark, p)
          })
        }
        // sweepOne catches per-store failures itself (refusals and errors
        // become report rows), so get() only rethrows genuinely fatal
        // driver-side failures — the contract the sequential sweep had
        futures.map(_.get())
      } finally { pool.shutdown(); () }
    }
  }

  /** The tick's outcome as a report row. A refusal is classified by the
    * [[QuiescenceRefusalException]] TYPE — operationally expected (pause
    * the writer and re-tick), unlike a genuine error; the
    * "mid-compaction"/"mid-refresh" vocabulary stays pinned by spec only
    * as a belt for the human-readable detail.
    */
  private def sweepOne(spark: SparkSession, p: StorePolicy): StoreReport = {
    val t = tick(spark, p)
    val (verdict, detail) = t.published match {
      case Success(gen) => (if (gen.isEmpty) "healthy" else "published", "")
      case Failure(e: QuiescenceRefusalException) => ("refused", e.getMessage)
      case Failure(e) => ("error",
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
    StoreReport(p.root, p.kind, t.observed, verdict,
      t.published.toOption.flatten, detail)
  }
}
