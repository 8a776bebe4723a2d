package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.StoreParquet

/** Deduplication operators for large-scale training-data pipelines
  * (EXT mandate; SURVEY.md §2.9 V4). The reference stores blindly duplicated
  * rows on re-run (SERIAL ids, no dedup — index_documents.py:217,248-249);
  * dedup is therefore a pure extension, designed Spark-first.
  *
  * Scale notes (100 TB posture):
  *   - exact dedup = one hash-shuffle on a 64-hex digest, not on the text;
  *   - MinHash/LSH candidate generation = band-bucket equi-join (shuffle on
  *     short band keys), NEVER an all-pairs cross join;
  *   - verification (exact Jaccard / cosine) runs only on candidate pairs.
  */
object Dedup {

  /** Exact duplicate removal on a column's content hash. Keeps the row with
    * the minimum `keyCol` per duplicate group (deterministic winner).
    * Shuffles on the 256-bit digest — constant-width keys regardless of text
    * length.
    */
  def exactDedup(df: DataFrame, textCol: Column, keyCol: Column): DataFrame = {
    val h = sha2(textCol, 256)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(h).orderBy(keyCol)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** C4-style LINE-level dedup ACROSS the corpus (Raffel et al. 2020 §2.2:
    * "we discarded all but one of any three-sentence span occurring more
    * than once" — generalized here to the delimiter-defined line, the unit
    * C4's public implementation hashes): every distinct non-blank line
    * keeps exactly its FIRST occurrence (min `(idCol, position)`), each
    * document is rebuilt from its surviving lines in original order, and
    * documents whose every line was claimed elsewhere come back with empty
    * text (caller decides whether to drop).
    *
    * Scale shape: the keep-first window shuffles on the line's 256-bit
    * digest (constant-width key regardless of line length — the line text
    * rides as a value, which any text pipeline pays), then one `groupBy`
    * on the document id rebuilds. No self-join, no collect; both shuffle
    * keys are bounded-width. Digest collisions conflate lines at the
    * usual 2⁻²⁵⁶ odds.
    *
    * @return one row per input row: `idCol`, n_kept (lines surviving),
    *         n_lines (non-blank lines before dedup), text rebuilt with
    *         `delim`
    */
  def dedupLinesAcrossCorpus(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    // keep-first as a MIN aggregation, not a row_number window: a
    // boilerplate line duplicated across millions of docs is one hot
    // digest key, and a window must sort its whole occurrence list in one
    // task — min(struct(id, idx)) combines map-side, so the hot key
    // reduces before it ever shuffles. The winner join is digest-keyed on
    // both sides (co-partitioned with the groupBy, no extra line shuffle).
    val lines = explodeLines(df, idCol, textCol, delim)
      .withColumn("_h", sha2(col("_line"), 256))
    val winners = lines.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("_idx"))).as("_win"))
    val flagged = lines.join(winners, "_h")
      .withColumn("_keep",
        col("_win")(idCol) === col(idCol) && col("_win")("_idx") === col("_idx"))
    rebuildFromLines(df, flagged, idCol, delim)
  }

  /** RefinedWeb-style BOILERPLATE stripping: a line appearing in MORE THAN
    * `maxDocFreq` distinct documents (nav bars, cookie banners, footers) is
    * removed from EVERY document; everything else is kept in place. The
    * complement of [[dedupLinesAcrossCorpus]] — that keeps one canonical
    * occurrence, this removes all occurrences of over-frequent lines.
    *
    * Scale shape: doc-frequency is a `groupBy` on the line's sha2 digest
    * (map-side partial counts; bounded key), joined back to the exploded
    * lines on the same digest — co-partitioned by construction, so the
    * join adds no extra shuffle of the lines — then one `groupBy` on the
    * doc id rebuilds.
    */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int, delim: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val lines = explodeLines(df, idCol, textCol, delim)
      .withColumn("_h", sha2(col("_line"), 256))
    val freq = lines.groupBy(col("_h"))
      .agg(countDistinct(col(idCol)).as("_df"))
    val flagged = lines.join(freq, "_h")
      .withColumn("_keep", col("_df") <= maxDocFreq)
    rebuildFromLines(df, flagged, idCol, delim)
  }

  /** Nearest-centroid assignment with ZERO shuffle and ZERO row
    * duplication (VERDICT r10 item 1): the centroid set — broadcast-small
    * by construction (SemDeDup's k ≈ √N·c, topic-sample's numClusters) —
    * collects to the driver once (bounded: k rows of dim floats), sorts
    * by cid ascending, and inlines as ONE literal `array<array<float>>`;
    * each data row then folds all k cosines inside a single codegen'd
    * expression ([[org.apache.spark.sql.graft.NearestCentroidExpr]]) and
    * maps the winning index back to its cid via `element_at` on a literal
    * cid array. The previous formulation — crossJoin(broadcast) +
    * `row_number over (partition by id)` — duplicated every row ×k and
    * hash-exchanged them WITH the embedding column (~k× the corpus's
    * vector bytes through one shuffle at dim 768, k 32); this one is a
    * narrow projection, argmax decisions bit-identical (same double
    * accumulation, ties to smallest cid, undefined cosines never win,
    * all-undefined rows take the smallest cid's index... except a NULL
    * `vecCol`, which now yields a NULL cid instead of the smallest —
    * embeddings are non-nullable everywhere in the engine, and a null
    * assignment is the honest answer where the window form silently
    * picked cid₀).
    *
    * Unlike the window form, duplicate `idCol` values no longer drop rows
    * here (there is no per-id window) — the id contract moves to the
    * consumers that need it (pair resolution, exact-k draws).
    *
    * @param centroids `(cidCol, cvCol)` — any orderable cid type; must be
    *                  non-empty
    * @return df + `outCol` = the assigned cid (nearest by cosine)
    */
  def assignNearestCentroid(df: DataFrame, vecCol: String,
      centroids: DataFrame, cidCol: String = "cid", cvCol: String = "cv",
      outCol: String = "cid"): DataFrame = {
    import org.apache.spark.sql.graft.VectorColumns
    // bounded driver collect: the centroid set is broadcast-small by
    // construction (it was a broadcast literal in the join form too)
    val rows = centroids.select(col(cidCol), col(cvCol))
      .orderBy(col(cidCol)).collect()
    require(rows.nonEmpty, "assignNearestCentroid needs at least one centroid")
    // duplicate cids would make the cid→index order (and thus tie-breaks)
    // nondeterministic — refuse loudly (the module's guard discipline)
    require(rows.map(_.get(0)).distinct.length == rows.length,
      s"duplicate centroid ids in '$cidCol' — the smallest-cid tie-break " +
        "needs a unique id per centroid")
    // a NULL centroid vector would otherwise surface as an opaque NPE in
    // the getSeq below — fail with the module's loud-guard discipline
    require(rows.forall(!_.isNullAt(1)),
      s"NULL centroid vector in '$cvCol' (cid " +
        s"${rows.find(_.isNullAt(1)).map(_.get(0)).getOrElse("?")}) — " +
        "every centroid needs a vector")
    val cvs: Seq[Seq[Float]] = rows.toSeq.map(_.getSeq[Float](1).toSeq)
    val dims = cvs.map(_.length).distinct
    require(dims.size == 1,
      s"centroid vectors disagree on dimension: ${dims.sorted.mkString(", ")}")
    val idx = VectorColumns.nearestCentroidIdx(col(vecCol), typedlit(cvs))
    val cids = array(rows.toSeq.map(r => lit(r.get(0))): _*)
    df.withColumn(outCol, element_at(cids, idx + 1))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster embeddings, prune
    * near-identical pairs WITHIN each cluster, keep one representative per
    * semantic-duplicate group (min id via [[resolveClusters]] /
    * [[dropNearDuplicates]]). Clustering is what makes the pairwise step
    * tractable — O(Σ clusterSize²) instead of O(N²), the paper's central
    * trick.
    *
    * `centroids` is `(cid, cv)` — from [[Search.kmeansCentroids]] in the
    * real path, or any deterministic seed set for oracle replay. Assignment
    * broadcasts the centroids (k×dim, tiny) and takes the per-row argmax —
    * narrow, no shuffle; the within-cluster self-join shuffles on the
    * cluster id. Cluster-size skew is the operator's scale hazard: the
    * paper's answer is raising k (k ≈ √N·c), and on top of that this
    * implementation CAPS every cluster at `maxClusterSize` rows — any
    * oversized cluster is recursively re-keyed (exact identical-vector
    * collapse + deterministic bisection, see [[capClusterSizes]]) before
    * the pair scan, so no single task is ever quadratic in a degenerate
    * mega-cluster. Cells still oversized after `maxSplitDepth` levels fail
    * loudly instead of silently running a quadratic task.
    *
    * @param assumeUniqueIds skip the eager duplicate-id refusal (one
    *                        bounded aggregation per call, ~0.1–0.3 s at
    *                        sf0.1 — material when a 100 TB caller invokes
    *                        this inside a loop). Opt in ONLY when id
    *                        uniqueness is already CERTIFIED upstream —
    *                        [[graft.operators.Profile.duplicateKeys]] is
    *                        the certifying check (empty result = unique).
    *                        With duplicates and the guard off, copies of
    *                        the same id silently survive dedup (no pair
    *                        forms under `id1 < id2`). VERDICT r11 item 6.
    * @return the input rows minus semantic duplicates (keep-min-id policy)
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, simThreshold: Double,
      maxClusterSize: Int = 8192, maxSplitDepth: Int = 24,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
      assumeUniqueIds: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions
    require(maxClusterSize > 1, "maxClusterSize must exceed 1")
    val assigned = assignNearestCentroid(
        df.select(col(idCol), col(vecCol)), vecCol, centroids)
      .select(col(idCol), col("cid"), col(vecCol))
      // both sides of the pair self-join read this — persist so the
      // centroid argmax runs once, released after the (eager) resolution
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Duplicate ids would silently survive dedup (a pair never forms
    // between two rows of the SAME id — id1 < id2 — so neither copy
    // prunes the other; the retired window form collapsed them as a side
    // effect). Fail loudly instead; the check rides the cached
    // assignment, so it costs one cheap job, not a rescan. Callers who
    // have CERTIFIED uniqueness (Profile.duplicateKeys) may opt out via
    // `assumeUniqueIds` and skip the job entirely.
    val dupId =
      if (assumeUniqueIds) Array.empty[org.apache.spark.sql.Row]
      else assigned.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
        .where(col("_n") > 1).limit(1).collect()
    if (dupId.nonEmpty) {
      assigned.unpersist(false)
      throw new IllegalArgumentException(
        s"semanticDedup requires unique '$idCol' values — id " +
          s"'${dupId.head.get(0)}' appears ${dupId.head.getLong(1)} times " +
          "(dedupe or re-key upstream first)")
    }
    def pairsWithin(rows: DataFrame, keys: Seq[String]): DataFrame = rows
      .select(keys.map(col) :+ col(idCol).as("id1") :+ col(vecCol).as("_v1"): _*)
      .join(rows.select(
        keys.map(col) :+ col(idCol).as("id2") :+ col(vecCol).as("_v2"): _*), keys)
      .where(col("id1") < col("id2"))
      .where(VectorFunctions.cosine(col("_v1"), col("_v2")) >= simThreshold)
      .select(col("id1"), col("id2"))
    // the sizing pass is also the ROUTER (VERDICT r6 item 4): one agg over
    // the (cached) assignment collects the oversized cid set driver-side —
    // bounded by the centroid count, which is broadcast-small by
    // construction — so the common all-within-cap case keeps a join-free
    // pairs lineage, and the capped path sizes ONLY the oversized
    // clusters' rows instead of re-sizing the whole corpus after a
    // boolean pre-check. (A first attempt routed everything through
    // capClusterSizes unconditionally; its level-0 sizing join in the
    // pairs lineage measured 2.4× on q87 — the cheap driver-side route
    // is the right fold.)
    val oversized = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("_n"))
      .where(col("_n") > maxClusterSize)
      .select(col("cid")).collect().map(_.get(0)).toSeq
    val (pairs, capHandles) =
      if (oversized.isEmpty) (pairsWithin(assigned, Seq("cid")), Nil)
      else {
        val ok = assigned.where(!col("cid").isInCollection(oversized))
        val big = assigned.where(col("cid").isInCollection(oversized))
        val (settled, exactPairs, handles) =
          capClusterSizes(big, idCol, vecCol, maxClusterSize, maxSplitDepth,
            checkpoint)
        (pairsWithin(ok, Seq("cid"))
          .unionByName(pairsWithin(settled, Seq("cid", "_sub")))
          .unionByName(exactPairs), handles)
      }
    // dropNearDuplicates resolves components EAGERLY (the caller's
    // CheckpointStrategy cut inside resolveClusters), so pairs are fully
    // consumed before release
    val out = dropNearDuplicates(df, idCol, pairs, checkpoint)
    assigned.unpersist(false)
    capHandles.foreach(_.unpersist(false))
    out
  }

  /** Re-key oversized SemDeDup clusters until every (cid, `_sub`) cell
    * holds ≤ `maxClusterSize` rows, bounding the within-cell pair scan.
    * Two mechanisms compose, per recursion level:
    *
    *   1. EXACT identical-vector collapse — the actual degenerate
    *      mega-cluster at crawl scale is millions of byte-equal embeddings
    *      (empty docs, boilerplate). Rows grouping to the same vector VALUE
    *      keep the min id and the rest are emitted DIRECTLY as duplicate
    *      pairs: cosine(v,v)=1 ≥ any threshold, so this is
    *      semantics-preserving, no pair scan needed. Zero-norm and NaN
    *      vectors are excluded (their cosine is NULL — never a duplicate)
    *      and settle as inert singleton cells instead.
    *   2. Deterministic bisection (the bisecting-k-means split step,
    *      Steinbach et al. 2000, with deterministic init): pole A = the
    *      min-id row's vector, pole B = the vector least cosine-similar to
    *      A (ties to the smaller id); rows go to the nearer pole, exact
    *      equidistance broken by xxhash64(id, depth) parity — depth-seeded
    *      so each level splits on an independent bit and colinear cells
    *      still make progress.
    *
    * Bisection is the operator's one approximation knob: a near-dup pair
    * split across sub-cells is missed exactly as a pair split across the
    * paper's own k-means cells is — the cap only refines the candidate
    * cells. Cells still oversized after `maxSplitDepth` levels throw
    * rather than letting one task go quadratic.
    *
    * @return (settled rows keyed by (cid, `_sub`), exact duplicate pairs
    *         from the identical-vector collapse, persisted handles for the
    *         caller to release after eager consumption)
    */
  private[graft] def capClusterSizes(assigned: DataFrame, idCol: String,
      vecCol: String, maxClusterSize: Int, maxSplitDepth: Int,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    import graft.functions.VectorFunctions
    val spark = assigned.sparkSession
    import spark.implicits._
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
      .select(col("id1").cast(assigned.schema(idCol).dataType).as("id1"),
        col("id2").cast(assigned.schema(idCol).dataType).as("id2"))
    val handles = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val settledParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val pairParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var cur = assigned.withColumn("_sub", lit(""))
    var depth = 0
    while (depth >= 0) {
      val sized = cur.join(
        cur.groupBy(col("cid"), col("_sub")).agg(count(lit(1)).as("_n")),
        Seq("cid", "_sub"))
      settledParts += sized.where(col("_n") <= maxClusterSize).drop("_n")
      // CUT the plan per level, not just cache it: `big` feeds this level's
      // self-joins at multiple sites, so without a lineage cut the logical
      // plan grows ~8-16× PER LEVEL and a cell needing a handful of levels
      // OOMs the driver on plan strings alone. Parquet cuts go to per-level
      // sub-paths so levels never overwrite the frame they read.
      val levelCut = checkpoint match {
        case CheckpointStrategy.Parquet(dir) =>
          CheckpointStrategy.Parquet(s"$dir/cap-level-$depth")
        case other => other
      }
      val big = CheckpointStrategy.materialize(
        sized.where(col("_n") > maxClusterSize).drop("_n"), levelCut)
      handles += big
      if (big.limit(1).count() == 0) {
        big.unpersist(false)
        depth = -1 // done — every cell is within the cap
      } else if (depth >= maxSplitDepth) {
        val worst = big.groupBy(col("cid"), col("_sub"))
          .agg(count(lit(1)).as("_n")).orderBy(col("_n").desc).limit(1)
          .collect().headOption.map(r => s"cid=${r.get(0)} sub='${r.get(1)}' n=${r.get(2)}")
        handles.foreach(_.unpersist(false))
        throw new IllegalStateException(
          s"SemDeDup cell still exceeds maxClusterSize=$maxClusterSize after " +
            s"$maxSplitDepth bisection levels ($worst) — raise the centroid " +
            "count k (paper: k ≈ √N) or maxClusterSize")
      } else {
        // vectors whose cosine is NULL against everything can never pair —
        // settle each as its own inert singleton cell, off the scan path
        val finite = exists(col(vecCol), x => x =!= 0.0f) &&
          !exists(col(vecCol), x => isnan(x))
        settledParts += big.where(!finite)
          .withColumn("_sub", concat(col("_sub"), lit("#z"), col(idCol)))
        // exact collapse: keep the min id per identical vector value, emit
        // the rest straight to the duplicate-pair stream
        val grouped = big.where(finite)
          .groupBy(col("cid"), col("_sub"), col(vecCol))
          .agg(min(col(idCol)).as("_rep"))
        val withRep = big.where(finite)
          .join(grouped, Seq("cid", "_sub", vecCol))
        pairParts += withRep.where(col(idCol) =!= col("_rep"))
          .select(col("_rep").as("id1"), col(idCol).as("id2"))
        val reps = withRep.where(col(idCol) === col("_rep")).drop("_rep")
        // bisect the surviving distinct vectors between two poles
        val poleA = reps.groupBy(col("cid"), col("_sub"))
          .agg(min(struct(col(idCol).as("i"), col(vecCol).as("v"))).as("_pa"))
          .select(col("cid"), col("_sub"), col("_pa.v").as("_av"))
        val withA = reps.join(poleA, Seq("cid", "_sub"))
          .withColumn("_simA", VectorFunctions.cosine(col(vecCol), col("_av")))
        val poleB = withA.groupBy(col("cid"), col("_sub"))
          .agg(min(struct(col("_simA").as("s"), col(idCol).as("i"),
            col(vecCol).as("v"))).as("_pb"))
          .select(col("cid"), col("_sub"), col("_pb.v").as("_bv"))
        val side = {
          val simB = VectorFunctions.cosine(col(vecCol), col("_bv"))
          // seed the equidistance tie-break with the recursion depth: a
          // per-level-independent parity, so a cell of exactly-equidistant
          // (colinear) vectors keeps halving instead of re-splitting on the
          // same bit forever and spuriously exhausting maxSplitDepth
          when(col("_simA") === simB,
            pmod(xxhash64(col(idCol), lit(depth)), lit(2)).cast("string"))
            .otherwise(when(col("_simA") > simB, lit("0")).otherwise(lit("1")))
        }
        cur = withA.join(poleB, Seq("cid", "_sub"))
          .withColumn("_sub", concat(col("_sub"), lit("/"), side))
          .select(col(idCol), col("cid"), col(vecCol), col("_sub"))
        depth += 1
      }
    }
    val settled = settledParts.reduce(_ unionByName _)
    val exactPairs = pairParts.foldLeft(emptyPairs)(_ unionByName _)
    (settled, exactPairs, handles.toSeq)
  }

  /** Incremental cross-batch LINE dedup: each arriving batch keeps only
    * lines whose digest has never been seen — not in the persisted line
    * store (every previous batch) and not earlier in this batch
    * (keep-first within the batch) — rebuilds its documents from the
    * survivors, hands them to the caller's sink, and folds the new
    * digests in. The streaming sibling of [[dedupLinesAcrossCorpus]],
    * following [[incrementalNearDupPairs]]'s store discipline.
    *
    * The store holds only 32-byte digests (`lines`) and processed doc ids
    * (`docs`) — never text. Replay safety: processed doc ids anti-join
    * out, so a replayed batch emits nothing instead of emptied documents.
    * Durability ordering: the output sink runs FIRST (a crash before any
    * append replays and re-emits — at-least-once); then doc ids append,
    * then line digests. A crash between the two appends leaks at most
    * duplicate-line tolerance into FUTURE batches (benign); the reverse
    * order would make a replayed batch see its own lines as foreign and
    * emit empty docs (corruption).
    *
    * @return the deduped batch rows `(idCol, n_kept, n_lines, text)` —
    *         already-processed doc ids excluded
    */
  def incrementalLineDedup(batch: DataFrame, idCol: String, textCol: String,
      storePath: String, delim: String = "\n",
      onBatch: DataFrame => Unit = _ => (),
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val spark = batch.sparkSession
    val linePath = s"$storePath/lines"
    val docPath = s"$storePath/docs"
    def classified(p: String): graft.sources.PathState.Value =
      graft.sources.PathState.classify(p, spark.sparkContext.hadoopConfiguration)
    Seq(linePath, docPath).foreach { p =>
      require(classified(p) != graft.sources.PathState.Foreign,
        s"line-dedup store '$p' exists but holds no parquet data files — " +
          "refusing to fold state into a directory that is not a store")
    }
    val lineStore =
      if (classified(linePath) == graft.sources.PathState.Data)
        StoreParquet.open(spark, linePath)
      else spark.emptyDataFrame.withColumn("_h", lit(null).cast("string")).limit(0)
    val docStore =
      if (classified(docPath) == graft.sources.PathState.Data)
        StoreParquet.open(spark, docPath)
      else spark.emptyDataFrame.withColumn("_id", lit(null).cast("long")).limit(0)
    val fresh = batch.dropDuplicates(idCol)
      .join(docStore, batch(idCol) === docStore("_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lines = explodeLines(fresh, idCol, textCol, delim)
      .withColumn("_h", sha2(col("_line"), 256))
    val winners = lines.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("_idx"))).as("_win"))
      .join(lineStore, Seq("_h"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val flagged = lines.join(winners, Seq("_h"), "left")
      .withColumn("_keep", col("_win").isNotNull &&
        col("_win")(idCol) === col(idCol) && col("_win")("_idx") === col("_idx"))
    val out = CheckpointStrategy.materialize(
      rebuildFromLines(fresh, flagged, idCol, delim), checkpoint)
    onBatch(out)
    fresh.select(col(idCol).as("_id")).write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(docPath)
    winners.select(col("_h")).write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(linePath)
    fresh.unpersist(false)
    winners.unpersist(false)
    out
  }

  /** Exact duplicate-SPAN removal (Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better", the ExactSubstr policy): any
    * `spanTokens`-token window whose text occurs more than once ACROSS the
    * corpus marks its occurrences' token positions; covered positions are
    * removed and each document is rebuilt from its surviving tokens in
    * order (single-space joined — token-normalized output, whitespace runs
    * collapse).
    *
    * Coverage is EXACTLY the union of maximal duplicated substrings of
    * ≥ `spanTokens` tokens: every L-window inside a duplicated span is
    * itself duplicated, and every duplicated L-window lies inside such a
    * span — the windowed formulation needs no suffix array. With
    * `keepFirst` (the paper's leave-one-occurrence policy), each window's
    * canonical occurrence — min `(id, position)` — is exempt from
    * coverage, so for non-overlapping copies the earliest copy survives
    * intact and every later copy is removed whole.
    *
    * Scale shape: window digests shuffle as bounded 256-bit keys with
    * partial-aggregatable `count`/`min(struct)` verdicts (hot boilerplate
    * windows combine map-side); the verdict joins back digest-keyed
    * (co-partitioned); coverage explodes duplicated occurrences ×L then
    * `distinct`s on `(id, pos)` — bounded both. No self-join, no collect,
    * no suffix-array build.
    *
    * @return `(idCol, n_tokens, n_kept_tokens, text)`
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, keepFirst: Boolean = true): DataFrame = {
    require(spanTokens >= 2, "span length must be >= 2 tokens")
    val L = spanTokens
    val base = df.select(col(idCol),
      filter(split(trim(col(textCol)), "\\s+"), t => t =!= "").as("_toks"))
    val starts = when(size(col("_toks")) >= L,
        sequence(lit(1), size(col("_toks")) - (L - 1)))
      .otherwise(array().cast("array<int>"))
    val occs = base.select(col(idCol),
        explode(transform(starts, p => struct(p.as("_p"),
          sha2(array_join(slice(col("_toks"), p, lit(L)), " "), 256).as("_h")))).as("_o"))
      .select(col(idCol), col("_o._p").as("_p"), col("_o._h").as("_h"))
    val stats = occs.groupBy(col("_h")).agg(
      count(lit(1)).as("_cnt"),
      min(struct(col(idCol), col("_p"))).as("_win"))
    val canonical =
      if (keepFirst) col("_win")(idCol) === col(idCol) && col("_win")("_p") === col("_p")
      else lit(false)
    val covered = occs.join(stats, "_h")
      .where(col("_cnt") > 1 && !canonical)
      .select(col(idCol), explode(sequence(col("_p"), col("_p") + (L - 1))).as("_pos"))
      .distinct()
    val toks = base.select(col(idCol), posexplode(col("_toks")))
      .select(col(idCol), (col("pos") + 1).as("_pos"), col("col").as("_tok"))
    val rebuilt = toks.join(covered, Seq(idCol, "_pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_kept_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_tok")))),
            x => x.getField("_tok")), " ").as("_text"))
    base.select(col(idCol), size(col("_toks")).as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept_tokens"), lit(0)).as("n_kept_tokens"),
        coalesce(col("_text"), lit("")).as("text"))
  }

  /** Delimiter-split lines with per-doc positions, blanks (space-trimmed
    * empty) dropped: `(idCol, _idx, _line)`.
    */
  private def explodeLines(df: DataFrame, idCol: String, textCol: String,
      delim: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim))))
      .withColumnRenamed("pos", "_idx").withColumnRenamed("col", "_line")
      .where(length(trim(col("_line"))) > 0)

  /** Rebuild each document from its `_keep`-flagged lines in original
    * order; docs whose every line was removed (or that had none) come back
    * with empty text via the left join on the original ids.
    */
  private def rebuildFromLines(df: DataFrame, flagged: DataFrame, idCol: String,
      delim: String): DataFrame = {
    val rebuilt = flagged
      .groupBy(col(idCol))
      .agg(
        sum(when(col("_keep"), 1).otherwise(0)).cast("int").as("n_kept"),
        count(lit(1)).cast("int").as("n_lines"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_keep"), struct(col("_idx"), col("_line"))))),
            x => x.getField("_line")),
          delim).as("_text"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("n_lines"), lit(0)).as("n_lines"),
        coalesce(col("_text"), lit("")).as("text"))
  }

  /** Portable MinHash signature of a shingle-array column: for each of
    * `numHashes` seeded hash functions, the minimum md5-bucket value over the
    * shingles. md5(seed || '|' || shingle) is identical in Spark and DuckDB,
    * so signatures (and the LSH pipeline built on them) are
    * oracle-checkable — unlike MLlib's MinHashLSH (JVM-internal hashes).
    * Empty shingle sets yield NULL (no signature, never matches).
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    // Evaluated by MinhashSigExpr — ONE codegen pass keeping numHashes
    // running minima (r20 optimization round, guide §4). The previous
    // relational spelling,
    //   when(size(sh) === 0, null).otherwise(transform(
    //     sequence(0, numHashes-1), seed =>
    //       array_min(transform(sh, s => md5SeedPrefixLong(seed, s)))))
    // ran BOTH nested transform lambdas INTERPRETED (HOFs are
    // CodegenFallback) — numHashes boxed arrays + array_min passes per
    // row around the same md5 work. Element-identical by construction
    // (same md5SeedPrefix bytes, same null algebra — DedupSpec pins the
    // old spelling against the kernel, null elements/input included).
    org.apache.spark.sql.graft.HashColumns.minhashSig(shinglesCol, numHashes)

  /** LSH banding over a minhash signature: `numBands` band keys, each a
    * concatenation of `rowsPerBand` consecutive signature entries. Docs
    * sharing ANY band key are candidate pairs.
    */
  def lshBandKeys(sigCol: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(numBands - 1)),
      b => concat_ws(",",
        concat(b.cast("string"), lit(":")),
        concat_ws(",", transform(slice(sigCol, b * rowsPerBand + 1, lit(rowsPerBand)),
          v => v.cast("string")))))

  /** End-to-end MinHash+LSH near-dup candidate pairs with exact-Jaccard
    * verification, fully relational:
    *
    *   shingle → minhash → band → self-equi-join on band key (the only
    *   shuffle) → distinct candidate pairs (id1 < id2) → exact Jaccard on
    *   the shingle sets → keep pairs ≥ `threshold`.
    *
    * @param df       input with `idCol` (numeric id) and `tokensCol`
    *                 (materialized token array)
    * @param checkpoint how the verified pair set is eagerly materialized so
    *                 the shingle/band caches can be released: Local
    *                 (single-JVM default), Reliable (cluster-durable via
    *                 setCheckpointDir) or Parquet(dir) — see
    *                 [[CheckpointStrategy]]
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, tokensCol: String,
      shingleN: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5, bandSalts: Int = 4,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    require(bandSalts > 0)
    val rowsPerBand = numHashes / numBands
    // The shingle subplan is consumed three times (both self-join sides and
    // pair verification). Persisting the raw shingle-STRING arrays (round ≤3)
    // was the engine's one memory cliff: at sf0.1/8g the cached string blocks
    // GC-thrashed the driver bench 3s↔17s, and at 100 TB they simply don't
    // fit. Instead, ONE pass over the strings computes (a) the minhash
    // signature and (b) each shingle hashed to a 60-bit md5 long, and only
    // (id, sig, shl) is persisted — ~10× smaller, constant-width elements.
    // Exact-Jaccard verification runs on the long arrays: the md5 mapping is
    // injective on real shingle sets (2^60 space), so |∩|/|∪| is unchanged
    // and the DuckDB oracle (which verifies on strings) still hash-matches.
    val sh = df
      .select(col(idCol).as("id"), TextFunctions.shingles(col(tokensCol), shingleN).as("sh0"))
      .where(size(col("sh0")) > 0)
      .select(
        col("id"),
        minhashSignature(col("sh0"), numHashes).as("sig"),
        // one codegen pass over the shingle array (≡ the interpreted
        // transform(sh0, s => md5PrefixLong(s)) lambda — DedupSpec pin)
        org.apache.spark.sql.graft.HashColumns.md5PrefixLongArray(col("sh0")).as("shl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sh
      .select(col("id"), explode(lshBandKeys(col("sig"), numBands, rowsPerBand)).as("band"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Salted self-join: join key = (band, salt) so a pathological mega-band
    // (every doc sharing one band key) spreads over `bandSalts` reduce tasks
    // instead of one. Left side carries a deterministic id-hash salt; right
    // side is replicated bandSalts× — pair (i<j) matches exactly once, where
    // b's replicated salt equals hash(a.id) % bandSalts, so the result set is
    // identical to the unsalted join (DedupSpec asserts both properties).
    val a = banded.withColumn("_sa", pmod(hash(col("id")), lit(bandSalts)))
    val b = banded.withColumn("_sb", explode(sequence(lit(0), lit(bandSalts - 1))))
    val cand = a.as("a")
      .join(b.as("b"),
        col("a.band") === col("b.band") && col("a._sa") === col("b._sb") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val verified = cand
      .join(sh.select(col("id").as("id1"), col("shl").as("sh1")), "id1")
      .join(sh.select(col("id").as("id2"), col("shl").as("sh2")), "id2")
      // shingle arrays are distinct ⇒ |∪| = |a|+|b|-|∩| (size arithmetic is
      // portable; array_union's element order is not)
      .withColumn("_inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("_inter").cast("double") / (size(col("sh1")) + size(col("sh2")) - col("_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
    // Eagerly materialize the (small, by construction) verified pair set,
    // then RELEASE the cached intermediates: leaving them pinned leaked the
    // full shingle+signature blocks for the life of the session — under an
    // 8g driver that accumulation regressed the round-2 bench 8.5× on this
    // one probe. The materialized cut holds only the output rows; HOW it is
    // cut (executor-local blocks vs reliable checkpoint vs parquet) is the
    // caller's durability decision — see CheckpointStrategy.
    val out = CheckpointStrategy.materialize(verified, checkpoint)
    sh.unpersist(false)
    banded.unpersist(false)
    out
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering (the AllPairs /
    * PPJoin principle — Bayardo et al. WWW'07, Xiao et al. WWW'08): the
    * exact-answer sibling of [[minhashNearDupPairs]]. MinHash+LSH trades
    * recall for speed; this operator returns EVERY pair with
    * Jaccard ≥ θ — the prefix filter is a sound candidate generator, never
    * a heuristic: two sets sharing i common tokens must share one inside
    * their (|s|−i+1)-prefixes under any common total order, and J ≥ θ
    * forces i ≥ ⌈θ·|s|⌉ for both sets, so probing the
    * (|s|−⌈θ·|s|⌉+1)-prefixes cannot miss a qualifying pair.
    *
    * Relational shape (one term-keyed shuffle, the inverted-index
    * precedent): global df per shingle → per-doc tokens sorted by
    * (df asc, tok asc) — the published ordering that pushes common
    * shingles OUT of prefixes — → explode prefixes → self-equi-join on the
    * prefix token with id1 < id2 + the integer length filter
    * (min·10⁶ ≥ θppm·max, cross-multiplied, no float drift) → distinct
    * candidates → exact verify on the candidate pairs' shingle arrays only
    * (candidate-generation-then-verify; raw arrays ship for candidates,
    * never corpus-wide).
    *
    * Threshold is taken in ppm (θ = thetaPpm / 10⁶) and every comparison
    * is an integer cross-multiply, so "exactly at θ" pairs are kept
    * deterministically in both engines. Scale guard: after the df-ordered
    * prefixes materialize, a prefix token held by more than `maxPrefixDf`
    * docs (a quadratic candidate block — adversarial near-constant corpus)
    * REFUSES loudly rather than running the blow-up.
    *
    * @return (id1, id2, jaccard_ppm) — exact floor(10⁶·J), id1 < id2
    */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, shinglesCol: String,
      thetaPpm: Long, maxPrefixDf: Long = 100000L,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    require(thetaPpm > 0 && thetaPpm <= 1000000L,
      s"thetaPpm must be in (0, 1000000], got $thetaPpm")
    // persist the shingled corpus ONCE: it feeds df counting, the prefix
    // build and both verify sides — without the cache the (expensive)
    // upstream shingling lineage re-evaluates four times
    val sets = df
      .select(col(idCol).as("id"), array_distinct(col(shinglesCol)).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("len", size(col("sh")).cast("long"))
      .persist()
    val toks = sets.select(col("id"), col("len"), explode(col("sh")).as("tok"))
    val dfTab = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // prefix length p = len − ⌈θ·len⌉ + 1, integer-exact ceil
    val ceilTheta =
      call_function("div", col("len") * thetaPpm + 999999L, lit(1000000L))
    val prefixes = toks.join(dfTab, "tok")
      .groupBy(col("id"), col("len"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("sorted"))
      .select(col("id"), col("len"),
        explode(slice(col("sorted"), lit(1),
          (col("len") - ceilTheta + 1L).cast("int"))).as("p"))
      .select(col("id"), col("len"), col("p.tok").as("tok"))
      .persist()
    try {
      // max over zero groups is NULL (no docs had a non-empty shingle set):
      // that is an empty, trivially-safe input, not a guard violation
      val hottestRow = prefixes.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head()
      val hottest = if (hottestRow.isNullAt(0)) 0L else hottestRow.getLong(0)
      require(hottest <= maxPrefixDf,
        s"a prefix shingle appears in $hottest docs (> maxPrefixDf " +
          s"$maxPrefixDf) — the candidate block would be quadratic; raise " +
          "the shingle size or pre-drop boilerplate")
      val a = prefixes.select(
        col("id").as("id1"), col("len").as("l1"), col("tok"))
      val b = prefixes.select(
        col("id").as("id2"), col("len").as("l2"), col("tok"))
      val cand = a.join(b,
          a("tok") === b("tok") && col("id1") < col("id2")
            && least(col("l1"), col("l2")) * 1000000L >=
               greatest(col("l1"), col("l2")) * thetaPpm)
        .select(col("id1"), col("id2")).distinct()
      val verified = cand
        .join(sets.select(col("id").as("id1"), col("sh").as("sh1"),
          col("len").as("l1")), "id1")
        .join(sets.select(col("id").as("id2"), col("sh").as("sh2"),
          col("len").as("l2")), "id2")
        .withColumn("inter",
          size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
        .withColumn("uni", col("l1") + col("l2") - col("inter"))
        .where(col("inter") * 1000000L >= col("uni") * thetaPpm)
        .select(col("id1"), col("id2"),
          call_function("div", col("inter") * 1000000L, col("uni"))
            .as("jaccard_ppm"))
      // materialize the (small) verified pair set so the prefix cache can
      // be released; durability is the caller's CheckpointStrategy, as in
      // minhashNearDupPairs
      CheckpointStrategy.materialize(verified, checkpoint)
    } finally { prefixes.unpersist(false); sets.unpersist(false); () }
  }

  /** Connected-components-lite over near-dup pairs: resolve each id to the
    * MINIMUM id reachable through the pair graph (transitive closure), so a
    * whole near-dup cluster keeps exactly one representative.
    *
    * Distributed min-label propagation: each iteration joins labels across
    * the symmetrized edge list and takes the element-wise min; fixpoint in
    * ≤ diameter iterations (near-dup clusters are shallow — chains of
    * mutated copies — so `maxIter` 10 covers real data; the loop exits early
    * when an iteration changes nothing). The per-round lineage cut is the
    * caller's [[CheckpointStrategy]] (default Local — right for
    * single-JVM runs; pass Reliable/Parquet on a cluster where losing an
    * executor mid-iteration must not lose the labels). Parquet cuts go to
    * per-step sub-paths of the given dir, so rounds never overwrite the
    * frame they are reading.
    *
    * @param pairs DataFrame with `id1`, `id2` columns (id1 < id2)
    * @return (id, rep) — one row per id appearing in any pair
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 10,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
      maxDriverEdges: Long = 262144L): DataFrame = {
    def cut(df: DataFrame, step: String): DataFrame =
      CheckpointStrategy.materialize(df, checkpoint match {
        case CheckpointStrategy.Parquet(dir) => CheckpointStrategy.Parquet(s"$dir/$step")
        case other => other
      })
    val symmetric = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    // SCALE-ADAPTIVE small-graph path (r19 optimization round, guide §1.2
    // "the distributed algorithm" + §2's derive-from-input-size rule): the
    // iterative loop costs ~3 jobs per round however small the graph, and
    // in the weights-fold probes the pair graphs are a few THOUSAND edges
    // — pure scheduling overhead. When the edge list is
    // driver-bounded (≤ maxDriverEdges ≈ 4 MB of id pairs — the same
    // order as a broadcast build side), the ids are integral, and the cut
    // is the single-JVM Local strategy (Reliable/Parquet callers signal a
    // cluster posture AND a durability contract — the per-step cut dirs —
    // that the driver path must not silently skip), an exact union-find
    // over the collected edges produces the identical min-reachable-id
    // labels in ONE collect instead of per-round shuffle joins. Above the
    // bound the distributed loop runs unchanged, so 100 TB graphs never
    // touch the driver (inventoried in PLANS.md; CollectInventorySpec).
    val idType = symmetric.schema("src").dataType
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    if (checkpoint == CheckpointStrategy.Local && integralIds) {
      // Bounded probe-and-collect (r20, ADVICE r19 / VERDICT item 6),
      // now BEFORE the lineage cut (r20 second pass): the cheap gates are
      // evaluated FIRST (Reliable/Parquet and non-integral callers pay
      // nothing), and the size gate is ONE job that collects at most
      // maxDriverEdges+1 rows — local limits stop each partition scan
      // early, so data-scale graphs never pay a full-edge-list pass to be
      // told they are large. A short probe IS the complete edge list, so
      // it feeds the union-find directly, and the small-graph path never
      // materializes the `edges` cut at all — one job total where the r19
      // shape paid cut + probe. Large Local graphs pay the (early-exit,
      // bounded) probe and then the cut exactly as before; callers
      // passing an expensive unmaterialized `pairs` lineage re-evaluate
      // at most the probe's bounded prefix of it.
      val probeLimit = math.min(maxDriverEdges, (Int.MaxValue - 2).toLong).toInt
      val probe = symmetric.limit(probeLimit + 1).collect()
      if (probe.length <= maxDriverEdges) {
        val spark = pairs.sparkSession
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        probe.foreach { row =>
          val a = row.get(0).asInstanceOf[Number].longValue
          val b = row.get(1).asInstanceOf[Number].longValue
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        // roots carry the component min by construction (unions always point
        // the larger root at the smaller), so rep(id) = find(id)
        val ids = parent.keySet().toArray(Array.empty[java.lang.Long])
        import spark.implicits._
        val out = ids.map(id => (id.longValue, find(id.longValue))).toSeq
          .toDF("id", "rep")
        return out.select(col("id").cast(idType).as("id"),
          col("rep").cast(idType).as("rep"))
      }
    }
    // the distributed loop's edge list, materialized once per call (the
    // small-graph path above returns before paying this)
    val edges = cut(symmetric, "edges")
    // labels0 folds the FIRST neighbor-min propagation into the init
    // (r19 optimization round): rep₀(id) = min(id, min neighbor) costs the
    // same single aggregation the old `distinct()` init did, reaches the
    // same fixpoint, and saves one full loop round on the common shallow
    // (star/short-chain) graphs — one row per distinct id, as before.
    var labels = cut(edges.groupBy(col("src")).agg(min(col("dst")).as("_m"))
      .select(col("src").as("id"), least(col("src"), col("_m")).as("rep")),
      "labels0")
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("rep", "nrep"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nrep")).as("nbr_rep"))
      // `next` is cut BEFORE the pointer-jump self-join (r19 optimization
      // round): without the cut both join sides re-evaluate the whole
      // viaNeighbors subtree — the loop's dominant exchange — doubling the
      // per-round work; `prev` rides along so convergence below is a scan
      // of the checkpointed frame, not another shuffle join.
      val next = cut(labels.join(viaNeighbors, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"),
          col("rep").as("prev")), s"next$i")
      // pointer jumping: rep := rep(rep). With it each round squares the
      // reach (O(log diameter) rounds), so maxIter=10 covers chains of
      // ~2¹⁰ hops that plain neighbor-min would need 1024 rounds for.
      // Every rep is itself a node id, so the self-join always resolves.
      val jumped = cut(next.as("a")
        .join(next.select(col("id").as("_rid"), col("rep").as("_rrep")),
          col("a.rep") === col("_rid"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("_rrep"), col("a.rep")).as("rep"),
          col("a.prev").as("prev")), s"iter$i")
      converged = jumped.where(col("rep") =!= col("prev")).isEmpty
      labels = jumped.select(col("id"), col("rep"))
      i += 1
    }
    // silence would mean WRONG components (chains longer than the budget
    // keep stale labels) — refuse instead; callers raise maxIter
    require(converged,
      s"resolveClusters did not converge within $maxIter iterations — " +
        "component diameter exceeds the budget; raise maxIter")
    labels
  }

  /** End-to-end keep-min near-dup removal: every row whose id resolves to a
    * cluster representative other than itself is dropped.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val losers = resolveClusters(pairs, checkpoint = checkpoint)
      .where(col("rep") =!= col("id")).select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** SOFT dedup (round 13): downweight near-dup clusters instead of
    * dropping them — the mixing-side alternative to [[dropNearDuplicates]]
    * when duplication frequency itself carries signal (popular content is
    * popular; a hard drop erases that prior, a 1/cluster_size weight keeps
    * the CONTENT's total sampling mass at one document's worth however
    * many copies exist — the standard drop-vs-reweight trade-off in
    * web-corpus curation).
    *
    * Every doc in `docs` gets `(id, rep, cluster_size, weight_ppm)`:
    * singletons (no near-dup edge) are their own rep at weight 1 000 000
    * ppm; members of a pairs-closure cluster share the min-id rep and
    * carry `1_000_000 div cluster_size` ppm — INTEGER arithmetic, so the
    * result is engine-portable and oracle-checkable exactly (q154); the
    * ≤ size−1 ppm a cluster loses to floor truncation is documented
    * rather than hidden behind a float. The weights feed the existing
    * samplers directly ([[Sampling.weightedSamplePerGroup]]'s weight
    * column, or a multiply into temperature/token-budget mixes).
    *
    * 100 TB posture: the closure is [[resolveClusters]] (pointer-jumping,
    * refuses on non-convergence); the assignment join and the rep-count
    * aggregate shuffle only (id, rep) pairs — the cluster map is
    * data-scale, so NOTHING here assumes broadcast; sizes come from one
    * map-side-combinable count. No row ever carries text.
    */
  def softDedupWeights(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 10,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val clusters = resolveClusters(pairs, maxIter, checkpoint)
      .withColumnRenamed("id", idCol)
    val assigned = docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("rep"), col(idCol)).as("rep"))
    val sizes = assigned.groupBy(col("rep"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, Seq("rep"))
      .select(col(idCol), col("rep"), col("cluster_size"),
        expr("CAST(1000000 DIV cluster_size AS BIGINT)").as("weight_ppm"))
  }

  /** INCREMENTAL soft-dedup weights (round 13): fold a new document batch
    * into an existing [[softDedupWeights]] table with O(change) work —
    * the weights-maintenance twin of [[incrementalNearDupPairs]] (which
    * produces `newPairs`: every near-dup edge involving at least one
    * batch doc; old×old edges were already folded into `oldWeights`).
    *
    * The trick that makes the old pair history unnecessary: an already-
    * resolved cluster's connectivity is fully summarized by its (rep, id)
    * STAR edges — every member reaches every other through the rep — so
    * re-clustering `newPairs ∪ stars(touched old clusters)` yields
    * exactly the components the full-history closure would on the
    * affected subgraph (min-id reps included: stars preserve vertex
    * sets, and [[resolveClusters]] takes the min over each merged
    * component). Old clusters no new edge touches keep their rows
    * UNCHANGED (an anti-join on rep — never recomputed, never
    * reshuffled); batch docs with no edge become singletons at
    * 1 000 000 ppm. Handles every topology: old singleton gaining a dup
    * (weight halves), batch doc bridging two old clusters (they merge —
    * sizes and reps recompute across the union), pure-new clusters.
    *
    * Id spaces must be disjoint (a batch doc already weighted would
    * silently double-count its cluster): checked with one bounded
    * `limit(1)` probe; `assumeDisjointIds = true` skips the job for
    * certified callers (the q121/semanticDedup hatch discipline).
    *
    * 100 TB posture: the untouched partition of the store moves through
    * ONE column-pruned anti-join on rep; the recomputed subgraph is
    * O(touched clusters + batch); every shuffle carries (id, rep) pairs
    * only. Incremental ≡ fresh build is oracle-proven cross-engine
    * (q156 — DuckDB recomputes from the union corpus and never sees this
    * path) and property-spec'd (DedupSpec).
    */
  def updateSoftDedupWeights(oldWeights: DataFrame, idCol: String,
      newIds: DataFrame, newPairs: DataFrame, maxIter: Int = 10,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
      assumeDisjointIds: Boolean = false,
      patchOnly: Boolean = false): DataFrame = {
    val batch = newIds.select(col(idCol)).dropDuplicates(idCol)
    if (!assumeDisjointIds) {
      val overlap = batch.join(oldWeights.select(col(idCol)), Seq(idCol))
        .limit(1).collect()
      require(overlap.isEmpty,
        s"updateSoftDedupWeights: batch id ${overlap.headOption.map(_.get(0))} " +
          "already present in the weights store — id spaces must be disjoint " +
          "(pass assumeDisjointIds = true only when certified upstream)")
    }
    // old clusters touched by any new edge (either endpoint may be the
    // old doc — incrementalNearDupPairs emits least/greatest ordered ids)
    val touched = newPairs.select(col("id1").as(idCol))
      .union(newPairs.select(col("id2").as(idCol))).distinct()
    val affectedReps = oldWeights.join(touched, Seq(idCol), "left_semi")
      .select(col("rep")).distinct()
    val affectedOld = oldWeights.join(affectedReps, Seq("rep"), "left_semi")
    // star edges preserve each touched cluster's connectivity without
    // its original pair list; singletons (id == rep) need no edge — they
    // enter the universe below and re-singleton unless a new edge holds
    val stars = affectedOld.where(col(idCol) =!= col("rep"))
      .select(col("rep").as("id1"), col(idCol).as("id2"))
    val clusters = resolveClusters(newPairs.select(col("id1"), col("id2"))
        .unionByName(stars), maxIter, checkpoint)
      .withColumnRenamed("id", idCol)
    val universe = affectedOld.select(col(idCol)).unionByName(batch)
    val assigned = universe.join(clusters, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("rep"), col(idCol)).as("rep"))
    val sizes = assigned.groupBy(col("rep"))
      .agg(count(lit(1)).as("cluster_size"))
    val recomputed = assigned.join(sizes, Seq("rep"))
      .select(col(idCol), col("rep"), col("cluster_size"),
        expr("CAST(1000000 DIV cluster_size AS BIGINT)").as("weight_ppm"))
    // patchOnly: just the rows whose weight could have moved (affected
    // old clusters + the batch) — the streaming store's per-batch PATCH,
    // O(change) rows written instead of an O(store) rewrite per batch
    if (patchOnly) recomputed
    else oldWeights.join(affectedReps, Seq("rep"), "left_anti")
      .select(col(idCol), col("rep"), col("cluster_size"), col("weight_ppm"))
      .unionByName(recomputed)
  }

  /** `_COMMIT` marker discipline for the weights store's per-batch
    * subdirs (ADVICE r13): `PathState.classify` calls ANY visible parquet
    * file Data, but a crash MID job-commit (some task files renamed into
    * place, some not) leaves a partially-visible subdir that would replay
    * as a completed batch and serve an incomplete patch forever. The fold
    * therefore touches an explicit `_COMMIT` file only AFTER the subdir's
    * write job returns, and every reader / replay check keys off that
    * marker. Underscore-prefixed, so Spark reads and PathState both
    * ignore it; a markerless subdir is invisible to reads and is
    * Overwritten whole when its batch replays.
    */
  private def subdirCommitted(path: String,
      hconf: org.apache.hadoop.conf.Configuration): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_COMMIT")
    p.getFileSystem(hconf).exists(p)
  }

  private def markSubdirCommitted(path: String,
      hconf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_COMMIT")
    p.getFileSystem(hconf).create(p, true).close()
  }

  /** Spark's own job-commit marker: present exactly when the subdir's
    * write JOB completed (task files all renamed into place). The
    * `_COMMIT`/`_SUCCESS` split is what tells a LEGACY subdir (complete
    * data written before the `_COMMIT` discipline existed — or the
    * micro-window of a crash between job commit and marker touch) apart
    * from a mid-job-commit crash (no `_SUCCESS`, partially-renamed task
    * files): the former holds real data that must NOT be silently served
    * as empty, the latter must stay invisible until its batch replays.
    *
    * Premise limit: deployments writing with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` produce no
    * `_SUCCESS` at all, so their complete LEGACY batches classify as
    * mid-commit crashes here (invisible, never adopted automatically) —
    * stores written by THIS code are unaffected (`_COMMIT` is ours), and
    * [[adoptLegacySoftDedupStore]]'s `assumeJobCommitted` hatch is the
    * documented migration for such legacy stores.
    */
  private def subdirJobCommitted(path: String,
      hconf: org.apache.hadoop.conf.Configuration): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(hconf).exists(p)
  }

  /** Refuse loudly when a weights/pairs partition root carries LEGACY
    * batch subdirs — job-committed (`_SUCCESS`) but `_COMMIT`-less
    * (ADVICE r14): reading past them would serve a store full of data as
    * empty (and a fold replay would then overwrite durable pairs with
    * nothing — the exact loss window the marker discipline closed).
    * Mid-commit crashes (no `_SUCCESS`) are NOT legacy — they stay
    * invisible and replay, as designed. Callers that already hold a
    * [[batchDirs]] listing pass its PARTIAL side to avoid re-listing.
    */
  private def requireNoLegacySubdirs(root: String, op: String,
      hconf: org.apache.hadoop.conf.Configuration,
      partialListed: Option[Seq[(Long, String)]] = None): Unit = {
    val legacy = partialListed.getOrElse(batchDirs(root, hconf)._2)
      .filter { case (_, p) => subdirJobCommitted(p, hconf) }
    require(legacy.isEmpty,
      s"$op: batches ${legacy.map(_._1).mkString(", ")} under '$root' hold " +
        "complete data (_SUCCESS) but no _COMMIT marker — a store written " +
        "before the commit-marker discipline. Refusing to silently treat " +
        "them as uncommitted; run Dedup.adoptLegacySoftDedupStore once " +
        "(single writer, store quiescent) to grandfather them in")
  }

  /** One-shot migration for weights stores written BEFORE the `_COMMIT`
    * discipline (ADVICE r14 — the explicit grandfathering the Search
    * model-marker gives unmarked stores): touch `_COMMIT` on every batch
    * subdir under `weights/` and `pairs/` whose write job completed
    * (`_SUCCESS` present). A markerless subdir WITHOUT `_SUCCESS` refuses
    * the whole migration — its data may be a partially-committed crash,
    * and certifying it complete is not this operator's call — UNLESS the
    * caller passes `assumeJobCommitted = true`: the escape hatch for
    * deployments that write with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` (common on
    * object stores), where complete legacy batches carry no `_SUCCESS`
    * either and the caller must certify completeness themselves (the
    * flag adopts every markerless subdir that holds parquet data).
    * Caller contract: single writer, store quiescent (no fold in
    * flight).
    *
    * @return adopted (root-relative subdir, batch id) pairs, ascending
    */
  def adoptLegacySoftDedupStore(spark: SparkSession, storePath: String,
      assumeJobCommitted: Boolean = false): Seq[(String, Long)] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    Seq("weights", "pairs").flatMap { sub =>
      val root = s"$storePath/$sub"
      val unmarked = batchDirs(root, hconf)._2
      val torn = unmarked.filterNot { case (_, p) => subdirJobCommitted(p, hconf) }
      require(assumeJobCommitted || torn.isEmpty,
        s"adoptLegacySoftDedupStore: batches ${torn.map(_._1).mkString(", ")} " +
          s"under '$root' have neither _COMMIT nor _SUCCESS — a crashed " +
          "write, not a legacy batch; let its batch replay instead of " +
          "certifying incomplete data (or pass assumeJobCommitted = true " +
          "ONLY for _SUCCESS-less deployments after certifying completeness)")
      val adoptable =
        if (assumeJobCommitted)
          unmarked.filter { case (_, p) =>
            graft.sources.PathState.classify(p, hconf) ==
              graft.sources.PathState.Data }
        else unmarked
      // mark in DESCENDING batch-id order: a crash mid-loop then leaves
      // the unmarked leftovers at ids BELOW some marked batch — a shape
      // the read path hard-refuses as legacy — never the single
      // trailing-max shape readSoftDedupWeights tolerates as an in-flight
      // fold (which would silently and permanently hide the unadopted
      // batch's data; legacy batches have no stream epoch to replay them)
      adoptable.sortBy(-_._1).map { case (id, p) =>
        markSubdirCommitted(p, hconf); (s"$sub/batch_id=$id", id)
      }.sortBy(_._2)
    }
  }

  /** `batch_id=N` subdirs under a weights-store partition root, split by
    * `_COMMIT` state, each side ascending by id. Driver-side listing —
    * bounded by batches since the last [[compactSoftDedupWeights]] fold
    * (which is exactly what compaction bounds).
    */
  private[operators] def batchDirs(root: String,
      hconf: org.apache.hadoop.conf.Configuration)
      : (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(hconf)
    if (!fs.exists(rp)) return (Seq.empty, Seq.empty)
    val (ok, partial) = fs.listStatus(rp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .map(st => (st.getPath.getName.stripPrefix("batch_id=").toLong,
        st.getPath.toString))
      .partition { case (_, p) => subdirCommitted(p, hconf) }
    (ok.sortBy(_._1), partial.sortBy(_._1))
  }

  /** Read the current weights table out of a [[foldSoftDedupWeightsBatch]]
    * patch store: every id's LATEST patch row wins (an id re-appears in a
    * later patch exactly when a new edge touched its cluster). Only
    * `_COMMIT`-marked batch subdirs are read — a subdir whose write job
    * crashed mid-commit is invisible until its batch replays (ADVICE
    * r13). Missing/empty store reads as the empty table (typed via
    * `idType` — the store's id column need not be long, ADVICE r13), so
    * the first fold needs no special base case; a Foreign path (non-store
    * content) refuses loudly like every other store. One partitioned
    * window on id — the only shuffle.
    *
    * In-flight tolerance (ADVICE r15): every healthy fold passes through
    * a job-committed-but-`_COMMIT`-less patch subdir between its write
    * job and [[markSubdirCommitted]], so a reader racing a normal fold
    * would otherwise hit the legacy hard-refusal mid-window. The single
    * TRAILING such subdir — batch id above every committed batch, the
    * only shape a single-writer fold can produce — is therefore treated
    * as in-flight/replayable (invisible: the read serves the pre-batch
    * view), and the hard legacy refusal is reserved for every other
    * shape (multiple unmarked-with-`_SUCCESS` subdirs, or one at/below a
    * committed id — states only a pre-discipline store produces).
    * [[adoptLegacySoftDedupStore]] marks in DESCENDING id order precisely
    * so a crashed adoption can never counterfeit the tolerated shape. The
    * degenerate case this tolerance accepts: a LEGACY store holding
    * exactly one batch also reads as empty here — but the first fold or
    * compaction against it still refuses loudly before any mutation, so
    * the loss window stays closed; only the read-side diagnosis is
    * deferred to the write side.
    */
  def readSoftDedupWeights(spark: SparkSession, storePath: String,
      idCol: String = "id",
      idType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val weightsPath = s"$storePath/weights"
    val state = graft.sources.PathState.classify(weightsPath, hconf)
    require(state != graft.sources.PathState.Foreign,
      s"weights store '$weightsPath' holds non-parquet content — refusing " +
        "to read it as an empty store")
    val committed =
      if (state == graft.sources.PathState.Data) {
        val (ok, partial) = batchDirs(weightsPath, hconf)
        val maxCommitted = ok.lastOption.map(_._1)
        val jobCommitted = partial
          .filter { case (_, p) => subdirJobCommitted(p, hconf) }
        val inFlight = jobCommitted
          .filter { case (id, _) => maxCommitted.forall(id > _) } match {
          case Seq(one) => Some(one._1) // the single trailing micro-window
          case _ => None
        }
        requireNoLegacySubdirs(weightsPath, "readSoftDedupWeights", hconf,
          Some(partial.filterNot(e => inFlight.contains(e._1))))
        ok
      } else Seq.empty
    if (committed.isEmpty)
      return spark.range(0).select(col("id").cast(idType).as(idCol),
        col("id").cast(idType).as("rep"), col("id").as("cluster_size"),
        col("id").as("weight_ppm"))
    import org.apache.spark.sql.expressions.Window
    StoreParquet.open(spark, weightsPath, committed.map(_._2))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("batch_id").desc)))
      .where(col("_rn") === 1)
      .select(col(idCol), col("rep"), col("cluster_size"), col("weight_ppm"))
  }

  /** [[readSoftDedupWeights]] against a [[graft.sources.Generations]]
    * catalog: resolve the live generation once, then read it undisturbed
    * by any publish landing meanwhile (VERDICT r15 item 4 — the weights
    * read's catalog twin, so no caller passes a raw generation path).
    */
  def readSoftDedupWeightsFromCatalog(spark: SparkSession,
      catalogRoot: String, idCol: String = "id",
      idType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): DataFrame =
    readSoftDedupWeights(spark, graft.sources.Generations.resolve(
      catalogRoot, spark.sparkContext.hadoopConfiguration), idCol, idType)

  /** One micro-batch of STREAMING soft-dedup weight maintenance (the
    * foreachBatch body of `Streams.streamingSoftDedupWeights`, exposed so
    * specs can drive batches and crash orderings directly).
    *
    * Store layout under `storePath`:
    *   - `neardup/sketches` — [[incrementalNearDupPairs]]'s fold store
    *   - `pairs/batch_id=N` — the batch's verified near-dup pairs, written
    *     DURABLY before the sketch fold (the incremental family's
    *     ordering) and never recomputed once present
    *   - `weights/batch_id=N` — the weights PATCH: only rows whose weight
    *     could have moved (touched clusters + batch), latest-wins per id
    *     ([[readSoftDedupWeights]])
    *
    * Idempotence and crash ordering, window by window: the batch's COMMIT
    * MARKER is the patch subdir's `_COMMIT` file, touched only after the
    * patch write job returns (NOT bare parquet visibility — a crash mid
    * job-commit leaves partially-renamed task files that must replay, not
    * serve; ADVICE r13) — if the marker exists the whole fold no-ops (a
    * replayed completed batch), and so does a batch id the store's
    * `_folded` ledger lists (absorbed by [[compactSoftDedupWeights]] —
    * its subdir is gone, but a replay must STILL be a no-op or it would
    * re-run against a sketch store that anti-joins its ids away and
    * permanently under-cluster). If the pairs subdir is committed but the
    * patch is not (crash between), the pairs are taken from the durable
    * subdir and NOT recomputed — this closes the loss window a replayed
    * sketch-folded batch would otherwise hit (its ids anti-join out of
    * the sketch probe, so recomputing would overwrite the durable pairs
    * with nothing and silently under-cluster the weights). Only when
    * neither artifact exists does the batch run the full incremental
    * probe; a crash before the fold replays identically (same
    * deterministic pairs, same overwrite).
    *
    * @return number of patch rows written (0 for a no-op replay), taken
    *         from an [[org.apache.spark.sql.Observation]] on the write
    *         job itself — no read-back job (VERDICT r13)
    */
  def foldSoftDedupWeightsBatch(batch: DataFrame, idCol: String,
      tokensCol: String, storePath: String, batchId: Long,
      shingleN: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5, maxIter: Int = 10): Long = {
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val ledgerPath = s"$storePath/weights/_folded"
    // the absorbed-batch ledger probe is a DRIVER-SIDE read of the KB
    // `_folded` sidecar (one row per absorbed batch id, coalesce(1) by
    // construction) instead of a one-row-filter Spark job — the probe ran
    // at the TOP of every fold, so it taxed every micro-batch once the
    // store had ever compacted (r20 optimization round, guide §5;
    // VERDICT r19 item 2's "Observation-fed ledger" shape)
    if (graft.sources.PathState.classify(ledgerPath, hconf) ==
        graft.sources.PathState.Data &&
        graft.sources.SidecarParquet.readGroups(ledgerPath, hconf)
          .exists(g =>
            graft.sources.SidecarParquet.longAt(g, "batch_id") == batchId))
      return 0L // absorbed by compaction: replay stays a no-op
    val patchPath = s"$storePath/weights/batch_id=$batchId"
    if (subdirCommitted(patchPath, hconf))
      return 0L // commit marker present: completed batch replayed
    val pairsPath = s"$storePath/pairs/batch_id=$batchId"
    // LEGACY refusals run BEFORE any mutation — the own pairs self-adopt
    // included (review r15 + r16 + ADVICE r15): a legacy store's sketches
    // already contain other batches' ids, so running the probe against
    // one would recompute empty pairs and certify the loss; and marking
    // the own-id pairs subdir on a store that then refuses as legacy
    // would certify a pre-discipline subdir's foreign content as durable.
    // The OWN batch id is excluded from both listings — its unmarked
    // leftovers are this replay's to recompute (weights) or adopt
    // (pairs, below), not evidence of a legacy store.
    def ownExcluded(root: String): Seq[(Long, String)] =
      batchDirs(root, hconf)._2.filter(_._1 != batchId)
    requireNoLegacySubdirs(s"$storePath/pairs", "foldSoftDedupWeightsBatch",
      hconf, Some(ownExcluded(s"$storePath/pairs")))
    requireNoLegacySubdirs(s"$storePath/weights", "foldSoftDedupWeightsBatch",
      hconf, Some(ownExcluded(s"$storePath/weights")))
    // SELF-ADOPT the own batch's job-committed-but-unmarked pairs subdir
    // (ADVICE r15): a crash in the pairs job-commit→`_COMMIT` micro-window
    // and a legacy subdir for this very batch id are indistinguishable,
    // and in BOTH cases adoption — mark, then resume from the durable
    // rows — is the correct recovery (the sketch fold may already hold
    // this batch's ids, so the probe's recompute could be EMPTY and its
    // onPairs write would overwrite the durable pairs with nothing).
    // Previously this state hard-refused and demanded a manual
    // adoptLegacySoftDedupStore run; a streaming restart now resumes
    // automatically. Runs AFTER the refusals: a refused fold must not
    // have certified anything.
    if (!subdirCommitted(pairsPath, hconf) &&
        subdirJobCommitted(pairsPath, hconf))
      markSubdirCommitted(pairsPath, hconf)
    // only now drop the own unmarked weights leftovers (job-committed or
    // torn — recomputed below either way); doing it behind the checks
    // keeps a refused fold mutation-free
    val ownPatch = new org.apache.hadoop.fs.Path(patchPath)
    val ownFs = ownPatch.getFileSystem(hconf)
    if (ownFs.exists(ownPatch)) { ownFs.delete(ownPatch, true); () }
    val pairsDurable = subdirCommitted(pairsPath, hconf)
    // the durable pairs write IS the materialization (r20 optimization
    // round — one job instead of checkpoint-then-write; VERDICT r19
    // item 2): the sink writes the UNmaterialized pairs, marks the
    // subdir, and the fold continues from the durable frame. On a
    // pairs-durable replay the sink never evaluates the pair subtree at
    // all (the r19 shape paid a full wasted checkpoint job there). The
    // schema-explicit read keeps a zero-pair batch readable (an empty
    // parquet write lands no part files).
    val newPairs = incrementalNearDupPairs(batch, idCol, tokensCol,
      s"$storePath/neardup",
      shingleN = shingleN, numHashes = numHashes, numBands = numBands,
      threshold = threshold,
      pairsSink = Some { p =>
        if (!pairsDurable) {
          p.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(pairsPath)
          markSubdirCommitted(pairsPath, hconf)
        }
        spark.read.schema(p.schema).parquet(pairsPath)
      })
    val old = readSoftDedupWeights(spark, storePath, idCol,
      batch.schema(idCol).dataType)
    val fresh = batch.select(col(idCol)).dropDuplicates(idCol)
      .join(old.select(col(idCol)), Seq(idCol), "left_anti")
    val patch = updateSoftDedupWeights(old, idCol, fresh, newPairs,
      maxIter = maxIter, assumeDisjointIds = true, patchOnly = true)
    val obs = org.apache.spark.sql.Observation(s"weights_patch_$batchId")
    patch.observe(obs, count(lit(1)).as("rows"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(patchPath)
    markSubdirCommitted(patchPath, hconf)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Compact a [[foldSoftDedupWeightsBatch]] store (VERDICT r13 — the one
    * `weak`): sustained ingest appends one `weights/batch_id=N` patch and
    * one `pairs/batch_id=N` subdir per micro-batch, and the latest-wins
    * reader scans the FULL patch history on every serve — after 10⁴–10⁵
    * micro-batches the serving path degrades linearly and the store is a
    * directory-count problem. Fold the CLOSED range `batch_id ≤
    * upToBatchId` into one snapshot generation:
    *
    *   - `weights/batch_id=$upToBatchId` — the latest-wins SNAPSHOT over
    *     the folded range (one row per id, id-range-sorted into
    *     `targetFiles` files); live patches above the boundary carried
    *     over per-subdir untouched, so latest-wins reads are invariant
    *     (snapshot rows sort below every live patch).
    *   - `pairs/batch_id=$upToBatchId` — the closed pairs rows preserved
    *     EXACTLY (parity-verified), provenance coarsened to the fold
    *     boundary ([[compactSequencePairs]]'s compacted-log contract);
    *     live pairs subdirs carried over untouched, so the in-flight
    *     epoch's durable-pairs resume keeps working.
    *   - `weights/_folded` — absorbed batch ids ledgered (merged with any
    *     prior generation's ledger), consulted FIRST by every fold, so
    *     replaying an absorbed batch against the compacted store is still
    *     a no-op instead of a silent re-run (the [[Sketches
    *     .compactSketchStore]] contract verbatim).
    *
    * Writes a NEW directory — `$dstPath/weights` + `$dstPath/pairs` — and
    * the caller swaps the two subtrees atomically (never compact in
    * place); `$storePath/neardup` is untouched (its replay idempotence
    * keys off store CONTENT via the id anti-join, and its small-files
    * story is [[compactNearDupSketches]] — the third leg). `upToBatchId`
    * MUST be a batch
    * id the stream's checkpoint has committed PAST (only the in-flight
    * epoch can replay concurrently) and must itself be a committed batch:
    * folding up to a FUTURE id would turn that epoch's eventual first run
    * into a silent no-op against the snapshot dir — data loss, refused
    * loudly. Every subdir at or below the boundary must carry its
    * `_COMMIT` marker (a mid-commit batch below the boundary means the
    * checkpoint has NOT committed past it — refuse rather than fold past
    * a batch that still has to replay).
    *
    * @return snapshot row count (== distinct ids in the folded range)
    */
  def compactSoftDedupWeights(spark: SparkSession, storePath: String,
      dstPath: String, upToBatchId: Long, idCol: String = "id",
      targetFiles: Int = 4): Long = {
    require(storePath != dstPath,
      "compactSoftDedupWeights writes a NEW directory (caller swaps atomically)")
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val hconf = spark.sparkContext.hadoopConfiguration
    val weightsPath = s"$storePath/weights"
    require(graft.sources.PathState.classify(weightsPath, hconf) ==
      graft.sources.PathState.Data,
      s"'$weightsPath' holds no parquet data files — not a weights store")
    // legacy (job-committed, marker-less) subdirs refuse EVERYWHERE, not
    // just below the boundary: one above it would be silently dropped
    // from the live carry-over — data loss on the swap (ADVICE r14).
    // One listing per root feeds both the legacy check and the plan.
    val (committed, partial) = batchDirs(weightsPath, hconf)
    requireNoLegacySubdirs(weightsPath, "compactSoftDedupWeights", hconf,
      Some(partial))
    val stalePartial = partial.filter(_._1 <= upToBatchId)
    require(stalePartial.isEmpty,
      s"weights batches ${stalePartial.map(_._1).mkString(", ")} at or below " +
        s"the fold boundary $upToBatchId have no _COMMIT marker — they still " +
        "have to replay; compact only past the checkpoint's committed epoch")
    val closed = committed.filter(_._1 <= upToBatchId)
    require(closed.exists(_._1 == upToBatchId),
      s"fold boundary $upToBatchId is not a committed batch in the store — " +
        "folding up to a future epoch would no-op its eventual first run")
    val live = committed.filter(_._1 > upToBatchId)
    // ---- weights: latest-wins snapshot over the closed range ----
    import org.apache.spark.sql.expressions.Window
    val snap = StoreParquet.open(spark, weightsPath, closed.map(_._2))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("batch_id").desc)))
      .where(col("_rn") === 1)
      .select(col(idCol), col("rep"), col("cluster_size"), col("weight_ppm"))
    val snapDir = s"$dstPath/weights/batch_id=$upToBatchId"
    // the return count rides an Observation on the snapshot write job
    // itself — no read-back job (VERDICT r14: the store's own R168
    // discipline applied to its compactor). The metrics node sits ABOVE
    // the range exchange: below it, the boundary-sampling pass executes
    // the observed subtree a second time and doubles the count.
    val snapObs = org.apache.spark.sql.Observation("weights_snapshot")
    snap.repartitionByRange(targetFiles, col(idCol))
      .sortWithinPartitions(idCol)
      .observe(snapObs, count(lit(1)).as("rows"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(snapDir)
    markSubdirCommitted(snapDir, hconf)
    // live patches carried over verbatim, one small job each (bounded by
    // epochs since the boundary — the in-flight window)
    live.foreach { case (id, src) =>
      val dst = s"$dstPath/weights/batch_id=$id"
      StoreParquet.open(spark, src)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dst)
      markSubdirCommitted(dst, hconf)
    }
    // ---- ledger: prior generations' absorbed ids carried forward ----
    import spark.implicits._
    val ledgerPath = s"$weightsPath/_folded"
    // prior generations' ledger rows come from a DRIVER-SIDE read of the
    // KB sidecar (r20 — the fold probe's rationale); the merge itself is
    // a bounded local computation, so the ledger write job runs over a
    // LocalTableScan instead of union+aggregate subtrees
    val prior: Seq[(Long, Long)] =
      if (graft.sources.PathState.classify(ledgerPath, hconf) ==
          graft.sources.PathState.Data)
        graft.sources.SidecarParquet.readGroups(ledgerPath, hconf)
          .map(g => (graft.sources.SidecarParquet.longAt(g, "batch_id"),
            graft.sources.SidecarParquet.longAt(g, "folded_into")))
      else Seq.empty
    // a previous snapshot id re-folds into the new boundary: keep the
    // LATEST fold target per absorbed id (boundaries are monotonic).
    // Driver-local rows → driver-side write, zero jobs (r20)
    graft.sources.SidecarParquet.writeFlat(s"$dstPath/weights/_folded", hconf,
      Seq("batch_id" -> "long", "folded_into" -> "long"),
      (closed.map { case (id, _) => (id, upToBatchId) } ++ prior)
        .groupBy(_._1).map { case (id, vs) => (id, vs.map(_._2).max) }
        .toSeq.sortBy(_._1).map(p => Seq(p._1, p._2)))
    // ---- pairs: closed rows fold to the boundary subdir, rows exact ----
    val pairsPath = s"$storePath/pairs"
    val (pairsCommitted, pairsPartial) = batchDirs(pairsPath, hconf)
    requireNoLegacySubdirs(pairsPath, "compactSoftDedupWeights", hconf,
      Some(pairsPartial))
    val pairsOrphan = (pairsCommitted ++ pairsPartial)
      .filter(p => p._1 <= upToBatchId && !closed.exists(_._1 == p._1))
    require(pairsOrphan.isEmpty,
      s"pairs batches ${pairsOrphan.map(_._1).mkString(", ")} at or below the " +
        s"boundary $upToBatchId have no committed weights patch — those " +
        "batches crashed mid-fold and still have to replay from their " +
        "durable pairs; compacting them away would reopen the loss window")
    val closedPairsDirs = pairsCommitted.filter(_._1 <= upToBatchId)
    val livePairsDirs = pairsCommitted.filter(_._1 > upToBatchId)
    if (closedPairsDirs.nonEmpty) {
      // the batch subdirs are the data; the fold re-partitions them
      val closedPairs = StoreParquet.open(spark, pairsPath,
        closedPairsDirs.map(_._2)).drop("batch_id")
      val n = closedPairs.count()
      val dataCols = closedPairs.columns.toSeq.map(col)
      val foldDir = s"$dstPath/pairs/batch_id=$upToBatchId"
      closedPairs.repartitionByRange(
          math.max(1, math.min(targetFiles, closedPairsDirs.size)), dataCols: _*)
        .sortWithinPartitions(dataCols: _*)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(foldDir)
      val out = StoreParquet.open(spark, foldDir).count()
      require(out == n, s"pairs compaction row mismatch: source $n, folded $out")
      markSubdirCommitted(foldDir, hconf)
    }
    livePairsDirs.foreach { case (id, src) =>
      val dst = s"$dstPath/pairs/batch_id=$id"
      StoreParquet.open(spark, src)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dst)
      markSubdirCommitted(dst, hconf)
    }
    snapObs.get("rows").asInstanceOf[Long]
  }

  /** Committed (`_COMMIT`-marked) weights-batch ids of a
    * [[foldSoftDedupWeightsBatch]] store, ascending — the patch-history
    * observable a maintenance policy thresholds on (one driver-side
    * listing; the latest-wins reader's cost is linear in this count).
    */
  def committedWeightsBatches(spark: SparkSession,
      storePath: String): Seq[Long] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val weightsPath = s"$storePath/weights"
    if (graft.sources.PathState.classify(weightsPath, hconf) !=
      graft.sources.PathState.Data) Seq.empty
    else batchDirs(weightsPath, hconf)._1.map(_._1)
  }

  /** The maintenance POLICY for the streaming weights store —
    * [[graft.operators.Search.maintainTextIndex]]'s contract on the
    * PATCH-HISTORY axis, closing the store's last manual runbook (the
    * probes' caller-side subtree swap): what sustained micro-batch
    * ingest erodes is the batch-subdir COUNT the latest-wins reader
    * scans, so the policy observes the LIVE generation's committed
    * weights batches (driver-side listings of the weights and pairs
    * batches — a healthy store costs nothing else) and only past
    * `maxBatches` pays the [[compactSoftDedupWeights]] fold into a staged
    * generation of a [[graft.sources.Generations]] catalog, then
    * publishes atomically.
    *
    * The catalog holds WHOLE-STORE generations: compaction writes the
    * weights + pairs subtrees; the `neardup` sketch store — untouched
    * by the fold's contract — is carried into the new generation
    * through [[compactNearDupSketches]] (a distributed, parity-verified,
    * file-bounded rewrite — NOT a driver-side byte copy, which would be
    * serial in total sketch bytes), so each generation is
    * self-contained, vacuuming a superseded one can never pull the live
    * generation's sketches out from under it, and ALL THREE of the
    * store's growth legs are bounded by the one tick.
    *
    * `committedBatchId` is the fold boundary: the caller's stream
    * checkpoint MUST have committed past it (only the in-flight epoch
    * may replay concurrently — [[compactSoftDedupWeights]]'s contract;
    * synchronous drivers pass their last-folded batch id). Folds keep
    * running against `Generations.resolve(root)`: the carried `_folded`
    * ledger keeps absorbed replays no-op across the swap, and
    * later-epoch subdirs carry over live.
    *
    * QUIESCENCE ([[Maintenance.tick]] states the contract): the tripwire
    * fingerprint is the live generation's committed weights AND pairs
    * batch sets — a fold completing during the compaction (its subdirs and
    * late sketch rows missing from the staged generation) refuses the
    * publish.
    *
    * @return the published generation name, or None when healthy
    */
  def maintainSoftDedupWeights(spark: SparkSession, catalogRoot: String,
      maxBatches: Int, committedBatchId: Long,
      idCol: String = "id", targetFiles: Int = 4): Option[String] =
    Maintenance.tick(spark, Maintenance.WeightsPolicy(catalogRoot,
      maxBatches, committedBatchId, idCol, targetFiles)).published.get

  /** The perceptual sequence store's maintenance policy —
    * [[maintainSoftDedupWeights]]'s contract on the FIFTH store axis
    * (R190): sustained [[incrementalSequenceNearDups]] ingest appends one
    * sigs file-set and one `pairs/batch_id=<epoch>` subdir per
    * micro-batch, so both the banded self-join's scan and any pairs read
    * open O(batches) files forever. This observes the live generation's
    * sigs data-file count (driver-side listings of sigs and pairs — a
    * healthy store costs nothing else) and, only past `maxSigFiles`, pays
    * BOTH rewrites into a staged generation — [[compactSequenceStore]]
    * (sigs re-range-sorted on (id, frame) into `targetFiles` files) and,
    * when a pairs store exists, [[compactSequencePairs]] (closed epochs `<= committedBatchId`
    * folded to one bounded subdir, live epochs carried untouched) — then
    * publishes atomically. Fold replay stays idempotent across the swap
    * (the sigs anti-join keys off store CONTENT, preserved row-for-row);
    * the boundary is the caller's checkpoint-committed epoch, per the
    * pairs compactor's contract.
    *
    * QUIESCENCE ([[Maintenance.tick]] states the contract): the tripwire
    * fingerprint is the live sigs AND pairs file counts.
    *
    * A pairs store whose every epoch holds ZERO rows (a dedup stream that
    * has found no duplicates yet — the sink still lands an empty epoch
    * subdir per micro-batch as its durability marker) is skipped rather
    * than folded: [[compactSequencePairs]] refuses an empty source, and
    * letting that refusal abort the tick would wedge the policy forever
    * while the sigs fragmentation it exists to bound keeps growing
    * (ADVICE r16). Dropping the empty subdirs loses nothing — pair rows
    * are preserved 0-for-0, and a replay of the in-flight epoch
    * recomputes the same (empty) content against the row-for-row
    * preserved sigs and lands it fresh in the new generation.
    *
    * @param afterRewrite test seam: runs after both rewrites, before the
    *        quiescence re-listing — crash/race proofs inject a
    *        mid-compaction fold here
    * @return the published generation name, or None when healthy
    */
  def maintainSequenceStore(spark: SparkSession, catalogRoot: String,
      committedBatchId: Long, maxSigFiles: Int,
      targetFiles: Int = 16,
      afterRewrite: () => Unit = () => ()): Option[String] =
    Maintenance.tick(spark, Maintenance.SequencePolicy(catalogRoot,
      committedBatchId, maxSigFiles, targetFiles), afterRewrite).published.get

  /** SimHash fingerprint (bitwise majority of per-token hashes), `bits` wide.
    * Portable: bit i of md5-hash(token) taken via integer div/mod — identical
    * in DuckDB. Near-dups = fingerprints within small Hamming distance.
    */
  def simhash(tokensCol: Column, bits: Int = 16): Column = {
    val hashes = transform(tokensCol,
      t => org.apache.spark.sql.graft.HashColumns.md5PrefixLong(t))
    aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, i) => {
        // votes = count of tokens with bit i set, minus count with it unset
        val mask = call_function("shiftleft", lit(1L), i.cast("int"))
        val ones = size(filter(hashes, h => h.bitwiseAND(mask) =!= 0L))
        val votes = ones * 2 - size(hashes)
        acc + when(votes > 0, mask).otherwise(lit(0L))
      })
  }

  /** Hamming distance between two simhash fingerprints (popcount of XOR —
    * `bit_count` exists in both Spark and DuckDB).
    */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Embedding-cosine near-dup pairs over an `array<float>` column.
    * Brute-force O(N²) within-group; callers MUST pre-bucket at scale (e.g.
    * via [[Search.ivfAssign]] clusters or LSH) — this is the verifier, not
    * the candidate generator.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos_sim", VectorFunctions.cosine(col("v1"), col("v2")))
      .where(col("cos_sim") >= threshold)
      .select(col("id1"), col("id2"), col("cos_sim"))
  }

  /** EXACT Hamming near-dup pairs over 64-bit perceptual hashes (the
    * image-dedup step after [[graft.sources.Multimodal.imageDHashes]],
    * equally valid for any 64-bit signature): split the hash into
    * `numBands` contiguous bit-bands — two hashes within Hamming distance
    * t differ in at most t bands, so for t < numBands they MATCH on at
    * least one band (pigeonhole) and band equality is a LOSSLESS candidate
    * key. Popcount-verify on the candidates makes the result exact: no
    * recall loss, no all-pairs scan. Shuffles move only (band, id, hash) —
    * 20-byte rows, never image bytes.
    *
    * @return (id1, id2, hamming) — id1 < id2, exact for maxHamming < numBands
    */
  def hammingNearDupPairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, numBands: Int = 4): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    require(maxHamming >= 0 && maxHamming < numBands,
      s"exactness needs maxHamming < numBands (pigeonhole) — got " +
        s"$maxHamming with $numBands bands; raise numBands for a larger radius")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = df
      .select(col(idCol).as("_id"), col(hashCol).cast("long").as("_h"))
      .withColumn("_band", explode(array((0 until numBands).map { b =>
        struct(lit(b).as("i"),
          shiftrightunsigned(col("_h"), b * width).bitwiseAND(lit(mask)).as("v"))
      }: _*)))
      .select(col("_id"), col("_h"),
        col("_band.i").as("_bi"), col("_band.v").as("_bv"))
    banded.select(col("_bi"), col("_bv"), col("_id").as("id1"), col("_h").as("h1"))
      .join(banded.select(
        col("_bi"), col("_bv"), col("_id").as("id2"), col("_h").as("h2")),
        Seq("_bi", "_bv"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id1", "id2")
  }

  /** EXACT sequence-vote near-dup pairs over per-frame 64-bit signatures
    * (the full-sequence video-dedup step after
    * [[graft.sources.Multimodal.videoSequenceDHashes]], equally valid for
    * any `(id, frame_idx, hash)` signature sequence): two sequences are
    * near-dups when at least `minVoteFrac` of their ALIGNED frames (same
    * `frameCol` — the re-encode/re-container model, timeline preserved)
    * are within Hamming `maxHamming`. Candidates come from the
    * [[hammingNearDupPairs]] banding, extended with frame alignment: a
    * matching frame pair differs in ≤ maxHamming < numBands bit-bands, so
    * it shares a (frame, band) key (pigeonhole) — and any qualifying
    * sequence pair has ≥ 1 matching frame (minVoteFrac > 0), so banding is
    * LOSSLESS and the popcount-verified vote makes the result exact.
    * Shuffles move only (frame, band, id) rows and 64-bit hashes — never
    * pixels; the verify join ships each sequence's hashes only for
    * candidate pairs.
    *
    * `total_frames = greatest(n₁, n₂)`, so a truncated clip is penalized
    * by its missing tail rather than trivially matching its own prefix.
    * Precondition: one row per (id, frame) — [[graft.sources.Multimodal
    * .videoSequenceDHashes]] guarantees it; duplicate frame rows would
    * inflate votes. Scale guard (the jaccardJoinPrefix discipline): a
    * (frame, band-value) bucket shared by more than `maxBandBucket`
    * sequences — a near-constant corpus, e.g. black intro frames
    * corpus-wide — would make the candidate block quadratic; the build
    * REFUSES loudly instead. Pre-dropping low-entropy frames (a constant
    * frame hashes to 0L) is the standard mitigation.
    *
    * @return (id1, id2, matched_frames, total_frames, vote_frac), id1 < id2
    */
  def sequenceVoteNearDupPairs(sigs: DataFrame, idCol: String,
      frameCol: String, hashCol: String, maxHamming: Int = 3,
      numBands: Int = 4, minVoteFrac: Double = 0.8,
      maxBandBucket: Long = 100000L,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    require(maxHamming >= 0 && maxHamming < numBands,
      s"exactness needs maxHamming < numBands (pigeonhole) — got " +
        s"$maxHamming with $numBands bands; raise numBands for a larger radius")
    require(minVoteFrac > 0.0 && minVoteFrac <= 1.0,
      s"minVoteFrac must be in (0, 1] — at 0 every pair qualifies and " +
        s"band candidates are no longer lossless; got $minVoteFrac")
    require(maxBandBucket > 0, s"maxBandBucket must be positive")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val base = sigs
      .select(col(idCol).as("_id"), col(frameCol).cast("int").as("_f"),
        col(hashCol).cast("long").as("_h"))
      .persist()
    try {
      val banded = base
        .withColumn("_band", explode(array((0 until numBands).map { b =>
          struct(lit(b).as("i"),
            shiftrightunsigned(col("_h"), b * width).bitwiseAND(lit(mask)).as("v"))
        }: _*)))
        .select(col("_id"), col("_f"),
          col("_band.i").as("_bi"), col("_band.v").as("_bv"))
        .persist()
      try {
        val hottestRow = banded.groupBy(col("_f"), col("_bi"), col("_bv"))
          .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
        val hottest = if (hottestRow.isNullAt(0)) 0L else hottestRow.getLong(0)
        require(hottest <= maxBandBucket,
          s"a (frame, band) bucket is shared by $hottest sequences (> " +
            s"maxBandBucket $maxBandBucket) — the candidate block would be " +
            "quadratic; pre-drop constant/low-entropy frames")
        val cand = banded
          .select(col("_f"), col("_bi"), col("_bv"), col("_id").as("id1"))
          .join(banded.select(
            col("_f"), col("_bi"), col("_bv"), col("_id").as("id2")),
            Seq("_f", "_bi", "_bv"))
          .where(col("id1") < col("id2"))
          .select(col("id1"), col("id2")).distinct()
        val counts = base.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
        val matched = cand
          .join(base.select(col("_id").as("id1"), col("_f"), col("_h").as("h1")),
            Seq("id1"))
          .join(base.select(col("_id").as("id2"), col("_f"), col("_h").as("h2")),
            Seq("id2", "_f"))
          .where(bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxHamming)
          .groupBy(col("id1"), col("id2"))
          .agg(count(lit(1)).as("matched_frames"))
        val out = matched
          .join(counts.select(col("_id").as("id1"), col("_n").as("_n1")), Seq("id1"))
          .join(counts.select(col("_id").as("id2"), col("_n").as("_n2")), Seq("id2"))
          .withColumn("total_frames", greatest(col("_n1"), col("_n2")))
          // threshold in ppm with an integer cross-multiply (the
          // jaccardJoinPrefix discipline): boundary votes (e.g. exactly
          // 4/5 at minVoteFrac=0.8) must not depend on double rounding;
          // vote_frac is an OUTPUT column only, never compared. FLOOR, not
          // round: a 2/3 vote at minVoteFrac=2.0/3.0 is ≥ the double
          // threshold in exact rationals, and floor(666666.66) keeps it
          // where round would drop it
          .where(col("matched_frames") * lit(1000000L) >=
            col("total_frames") * lit(math.floor(minVoteFrac * 1e6).toLong))
          .withColumn("vote_frac",
            col("matched_frames").cast("double") / col("total_frames"))
          .select(col("id1"), col("id2"), col("matched_frames"),
            col("total_frames"), col("vote_frac"))
        // materialize the (small) verified pair set so the signature caches
        // can be released; durability is the caller's CheckpointStrategy,
        // the jaccardJoinPrefix discipline
        CheckpointStrategy.materialize(out, checkpoint)
      } finally { banded.unpersist(false); () }
    } finally { base.unpersist(false); () }
  }

  /** SHIFT-TOLERANT sequence-vote near-dup pairs — [[sequenceVoteNearDupPairs]]
    * extended to trimmed/padded duplicates (the timeline is preserved up to
    * a constant offset of at most `maxShift` frames: a clip with its intro
    * cut, or junk frames prepended). For each candidate pair the vote is
    * taken at every offset d ∈ [-maxShift, maxShift] independently and the
    * BEST offset's row is returned (ties break to the smallest |d|, then
    * smallest d — deterministic).
    *
    * EXACT by the same pigeonhole argument, per offset: a matching frame
    * pair (Hamming ≤ maxHamming < numBands) shares a bit-band value, so it
    * surfaces in the banded self-join; the offset restriction is applied to
    * the joined frame indexes, and any qualifying (pair, offset) has ≥ 1
    * matching frame pair at that offset (minVoteFrac > 0) — banding loses
    * nothing. `total_frames = greatest(n₁, n₂)` as in the aligned variant,
    * so a trim of k frames costs k votes (callers tolerate it via
    * minVoteFrac, NOT via a shorter denominator — min(n₁, n₂) would let a
    * 1-frame clip "fully match" any long video).
    *
    * Scale shape: candidate buckets are keyed by band VALUE only (no frame
    * key — that is what buys shift tolerance), so buckets are ~nFrames×
    * hotter than the aligned variant's; the same loud quadratic-bucket
    * refusal applies at the (band, value) grain, and only (id, frame,
    * 64-bit hash) rows ever shuffle — never pixels. The best-offset
    * selection is a per-pair row_number over ≤ 2·maxShift+1 rows
    * (WindowGroupLimit-prunable, the q69 top-k discipline).
    *
    * @return (id1, id2, frame_offset, matched_frames, total_frames,
    *         vote_frac), id1 < id2; frame_offset d means seq1 frame f is
    *         compared to seq2 frame f + d
    */
  def shiftedSequenceVoteNearDupPairs(sigs: DataFrame, idCol: String,
      frameCol: String, hashCol: String, maxHamming: Int = 3,
      numBands: Int = 4, minVoteFrac: Double = 0.8, maxShift: Int = 3,
      maxBandBucket: Long = 100000L,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    require(maxHamming >= 0 && maxHamming < numBands,
      s"exactness needs maxHamming < numBands (pigeonhole) — got " +
        s"$maxHamming with $numBands bands; raise numBands for a larger radius")
    require(minVoteFrac > 0.0 && minVoteFrac <= 1.0,
      s"minVoteFrac must be in (0, 1] — at 0 every pair qualifies and " +
        s"band candidates are no longer lossless; got $minVoteFrac")
    require(maxShift >= 0, s"maxShift must be ≥ 0, got $maxShift")
    require(maxBandBucket > 0, s"maxBandBucket must be positive")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val base = sigs
      .select(col(idCol).as("_id"), col(frameCol).cast("int").as("_f"),
        col(hashCol).cast("long").as("_h"))
      .persist()
    try {
      val banded = base
        .withColumn("_band", explode(array((0 until numBands).map { b =>
          struct(lit(b).as("i"),
            shiftrightunsigned(col("_h"), b * width).bitwiseAND(lit(mask)).as("v"))
        }: _*)))
        .select(col("_id"), col("_f"),
          col("_band.i").as("_bi"), col("_band.v").as("_bv"))
        .persist()
      try {
        // bucket grain is (band, value) — coarser than the aligned
        // variant's (frame, band, value) by design; refuse before the join
        val hottestRow = banded.groupBy(col("_bi"), col("_bv"))
          .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
        val hottest = if (hottestRow.isNullAt(0)) 0L else hottestRow.getLong(0)
        require(hottest <= maxBandBucket,
          s"a (band, value) bucket is shared by $hottest frame rows (> " +
            s"maxBandBucket $maxBandBucket) — the candidate block would be " +
            "quadratic; pre-drop constant/low-entropy frames")
        val cand = banded
          .select(col("_bi"), col("_bv"), col("_id").as("id1"), col("_f").as("_f1"))
          .join(banded.select(
            col("_bi"), col("_bv"), col("_id").as("id2"), col("_f").as("_f2")),
            Seq("_bi", "_bv"))
          .where(col("id1") < col("id2") &&
            abs(col("_f2") - col("_f1")) <= maxShift)
          .select(col("id1"), col("id2"),
            (col("_f2") - col("_f1")).as("frame_offset"))
          .distinct()
        val out = offsetVoteFromCandidates(cand, base, maxHamming, minVoteFrac)
        CheckpointStrategy.materialize(out, checkpoint)
      } finally { banded.unpersist(false); () }
    } finally { base.unpersist(false); () }
  }

  /** CROP/PAD-TOLERANT grid-vote near-dup pairs — the SPATIAL analog of
    * [[shiftedSequenceVoteNearDupPairs]]: signatures are per-TILE 64-bit
    * hashes on a 2-D grid (`(id, tile_x, tile_y, hash)`, e.g.
    * [[graft.sources.Multimodal.imageTileDHashes]]) and a duplicate whose
    * content is translated by a constant whole-tile offset — a crop, a
    * letterbox pad, a margin trim — is caught at its best offset
    * (dx, dy) with |dx| ≤ maxShiftX, |dy| ≤ maxShiftY. The case
    * whole-image dHash misses: cropping shifts every pooling cell, so the
    * global hash moves ~half its bits, while the tile grid keeps the
    * surviving tiles bit-identical.
    *
    * EXACT per offset by the 1-D pigeonhole argument: a matching tile
    * pair (Hamming ≤ maxHamming < numBands) shares a bit-band value and
    * surfaces in the banded self-join; any qualifying (pair, dx, dy) has
    * ≥ 1 matching tile at that offset (minVoteFrac > 0), so banding loses
    * nothing. `total_tiles = greatest(n₁, n₂)` — a crop of k tiles costs
    * k votes, tolerated via minVoteFrac, never via a shorter denominator.
    *
    * Implementation SHARES the exact vote tail with the temporal family
    * ([[offsetVoteFromCandidates]]) by linearizing the grid: tile (x, y)
    * → x·K + y and offset (dx, dy) → dx·K + dy with K = 2¹⁶. Linear
    * aliasing is impossible by construction: coordinates are guarded to
    * 0 ≤ y < K − maxShiftY (and x bounded so the index fits an int), so
    * an out-of-range y + dy would alias to a y' ≥ K − maxShiftY that no
    * real tile carries — the aliased join key matches nothing. Best-offset
    * ties therefore break on the LINEARIZED magnitude (|dx| major, then
    * the signed linear code) — deterministic, partitioning/retry-stable.
    *
    * Scale shape: identical to the temporal variant — candidate buckets at
    * the (band, value) grain with the same loud quadratic refusal, only
    * (id, 2 small ints, 64-bit hash) rows ever shuffle (never pixels),
    * votes verified on candidates only, best offset via a bounded
    * per-pair window (≤ (2·maxShiftX+1)·(2·maxShiftY+1) rows).
    *
    * @return (id1, id2, offset_x, offset_y, matched_tiles, total_tiles,
    *         vote_frac), id1 < id2; offset (dx, dy) means id1's tile
    *         (x, y) is compared to id2's tile (x+dx, y+dy)
    */
  def croppedGridVoteNearDupPairs(tiles: DataFrame, idCol: String,
      xCol: String, yCol: String, hashCol: String, maxHamming: Int = 3,
      numBands: Int = 4, minVoteFrac: Double = 0.5, maxShiftX: Int = 2,
      maxShiftY: Int = 2, maxBandBucket: Long = 100000L,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    require(maxHamming >= 0 && maxHamming < numBands,
      s"exactness needs maxHamming < numBands (pigeonhole) — got " +
        s"$maxHamming with $numBands bands; raise numBands for a larger radius")
    require(minVoteFrac > 0.0 && minVoteFrac <= 1.0,
      s"minVoteFrac must be in (0, 1] — at 0 every pair qualifies and " +
        s"band candidates are no longer lossless; got $minVoteFrac")
    require(maxShiftX >= 0 && maxShiftY >= 0,
      s"shift window must be ≥ 0, got ($maxShiftX, $maxShiftY)")
    require(maxBandBucket > 0, s"maxBandBucket must be positive")
    val axisK = 1 << 16
    require(maxShiftY < axisK, s"maxShiftY must be < $axisK")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val coords = tiles
      .select(col(idCol).as("_id"), col(xCol).cast("int").as("_tx"),
        col(yCol).cast("int").as("_ty"), col(hashCol).cast("long").as("_h"))
      .persist()
    try {
      // aliasing-safety guards (see scaladoc): the linearized index must
      // be injective over the grid EXTENDED by the shift window
      val b = coords.agg(min(col("_tx")), min(col("_ty")),
        max(col("_tx")), max(col("_ty"))).head()
      if (!b.isNullAt(0)) {
        require(b.getInt(0) >= 0 && b.getInt(1) >= 0,
          s"tile coordinates must be ≥ 0, got min (${b.getInt(0)}, ${b.getInt(1)})")
        require(b.getInt(3).toLong + maxShiftY < axisK,
          s"tile_y + maxShiftY must stay < $axisK (linearization pitch) — " +
            s"got max y ${b.getInt(3)} with window $maxShiftY")
        require(b.getInt(2).toLong + maxShiftX < (Int.MaxValue / axisK).toLong,
          s"tile_x + maxShiftX must stay < ${Int.MaxValue / axisK} — " +
            s"got max x ${b.getInt(2)} with window $maxShiftX")
      }
      val base = coords.select(col("_id"),
        (col("_tx") * axisK + col("_ty")).as("_f"), col("_h"))
      val banded = coords
        .withColumn("_band", explode(array((0 until numBands).map { bi =>
          struct(lit(bi).as("i"),
            shiftrightunsigned(col("_h"), bi * width).bitwiseAND(lit(mask)).as("v"))
        }: _*)))
        .select(col("_id"), col("_tx"), col("_ty"),
          col("_band.i").as("_bi"), col("_band.v").as("_bv"))
        .persist()
      try {
        // bucket grain is (band, value) — the shift-tolerant coarsening;
        // refuse a quadratic block before the join (the R135 guard)
        val hottestRow = banded.groupBy(col("_bi"), col("_bv"))
          .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
        val hottest = if (hottestRow.isNullAt(0)) 0L else hottestRow.getLong(0)
        require(hottest <= maxBandBucket,
          s"a (band, value) bucket is shared by $hottest tile rows (> " +
            s"maxBandBucket $maxBandBucket) — the candidate block would be " +
            "quadratic; pre-drop constant/low-entropy tiles")
        val cand = banded
          .select(col("_bi"), col("_bv"), col("_id").as("id1"),
            col("_tx").as("_x1"), col("_ty").as("_y1"))
          .join(banded.select(col("_bi"), col("_bv"), col("_id").as("id2"),
            col("_tx").as("_x2"), col("_ty").as("_y2")), Seq("_bi", "_bv"))
          .where(col("id1") < col("id2") &&
            abs(col("_x2") - col("_x1")) <= maxShiftX &&
            abs(col("_y2") - col("_y1")) <= maxShiftY)
          .select(col("id1"), col("id2"),
            ((col("_x2") - col("_x1")) * axisK + (col("_y2") - col("_y1")))
              .as("frame_offset"))
          .distinct()
        val verified = offsetVoteFromCandidates(cand, base, maxHamming, minVoteFrac)
        // decode the linear code: d = dx·K + dy with |dy| ≤ maxShiftY < K,
        // so pmod(d + maxShiftY, K) − maxShiftY = dy (floor semantics) and
        // the remainder-free quotient recovers dx exactly
        val out = verified
          .withColumn("offset_y",
            (pmod(col("frame_offset") + lit(maxShiftY), lit(axisK)) -
              lit(maxShiftY)).cast("int"))
          .withColumn("offset_x",
            ((col("frame_offset") - col("offset_y")) / axisK).cast("int"))
          .select(col("id1"), col("id2"), col("offset_x"), col("offset_y"),
            col("matched_frames").as("matched_tiles"),
            col("total_frames").as("total_tiles"), col("vote_frac"))
        CheckpointStrategy.materialize(out, checkpoint)
      } finally { banded.unpersist(false); () }
    } finally { coords.unpersist(false); () }
  }

  /** SPEED/FPS-CHANGE-TOLERANT sequence-vote near-dup pairs —
    * [[shiftedSequenceVoteNearDupPairs]] extended to RATE-changed
    * duplicates: a clip re-encoded at half the frame rate (or uniformly
    * sped up s×) keeps every surviving frame bit-identical but lands it at
    * frame index f instead of s·f + c, so no constant offset aligns the
    * timelines and the shifted vote scores ≤ 1/s. Here the hypothesis
    * space is (stride s ∈ [1, maxStride], phase r ∈ [0, s), offset
    * |d| ≤ maxShift, which side is the slow/full-rate one): the slow
    * side's sequence is DECIMATED to its (s, r) arithmetic subsequence
    * (frame s·f' + r → index f'), after which the fast side aligns with it
    * at a constant offset in decimated index space and the vote proceeds
    * exactly as in the shifted family.
    *
    * EXACT per hypothesis by the same pigeonhole argument: a matching
    * frame pair shares a bit-band value and surfaces in the banded join;
    * any qualifying (pair, s, r, d) has ≥ 1 matching frame at that
    * hypothesis (minVoteFrac > 0), so banding loses nothing. The
    * denominator is `greatest(n_fast, n_slow_decimated)` — the
    * greatest(n₁, n₂) discipline per hypothesis: a half-rate duplicate of
    * a 2n-frame clip compares n frames against a decimated view of n
    * frames, so a true rate-change scores 1.0, while the WRONG hypothesis
    * (e.g. stride 2 between two equal-length restages) caps at 1/s and
    * drops for any minVoteFrac > 0.5. Per pair the BEST hypothesis's row
    * is returned (max votes; ties to smallest stride, then smallest |d|,
    * then smallest d, then decimated side 0/1/2, then smallest phase —
    * deterministic).
    *
    * Scale shape: the variant universe multiplies banded rows by
    * maxStride (each stride's phases partition the frames), so candidate
    * buckets at the (band, value) grain are ~maxStride× hotter than the
    * shifted variant's — same loud quadratic refusal, and only
    * (id, 3 small ints, 64-bit hash) rows ever shuffle, never media.
    * Votes verify on candidates only; best-hypothesis selection is a
    * bounded per-pair window (≤ (2·maxShift+1)·Σs hypotheses/pair,
    * WindowGroupLimit-prunable).
    *
    * @return (id1, id2, stride, phase, decimated, frame_offset,
    *         matched_frames, total_frames, vote_frac), id1 < id2.
    *         `decimated` names the slow side whose sequence was
    *         stride-decimated: 0 = none (stride 1), 1 = id1, 2 = id2.
    *         `frame_offset` d: the FAST (non-decimated) side's frame f is
    *         compared to the decimated side's decimated-index frame f + d;
    *         at stride 1 this is the [[shiftedSequenceVoteNearDupPairs]]
    *         convention (id1's frame f vs id2's frame f + d).
    */
  def speedSequenceVoteNearDupPairs(sigs: DataFrame, idCol: String,
      frameCol: String, hashCol: String, maxHamming: Int = 3,
      numBands: Int = 4, minVoteFrac: Double = 0.7, maxShift: Int = 3,
      maxStride: Int = 2, maxBandBucket: Long = 100000L,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    require(maxHamming >= 0 && maxHamming < numBands,
      s"exactness needs maxHamming < numBands (pigeonhole) — got " +
        s"$maxHamming with $numBands bands; raise numBands for a larger radius")
    require(minVoteFrac > 0.0 && minVoteFrac <= 1.0,
      s"minVoteFrac must be in (0, 1] — at 0 every pair qualifies and " +
        s"band candidates are no longer lossless; got $minVoteFrac")
    require(maxShift >= 0, s"maxShift must be ≥ 0, got $maxShift")
    require(maxStride >= 1 && maxStride <= 16,
      s"maxStride must be in [1, 16], got $maxStride")
    require(maxBandBucket > 0, s"maxBandBucket must be positive")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val base = sigs
      .select(col(idCol).as("_id"), col(frameCol).cast("int").as("_f"),
        col(hashCol).cast("long").as("_h"))
      .persist()
    try {
      // decimation index arithmetic needs non-negative frame indexes
      val fmin = base.agg(min(col("_f"))).head()
      if (!fmin.isNullAt(0)) require(fmin.getInt(0) >= 0,
        s"frame indexes must be ≥ 0 for stride decimation, got min ${fmin.getInt(0)}")
      // the (stride, phase) variant universe; (1, 0) is the identity view
      val variants = for { s <- 1 to maxStride; r <- 0 until s } yield (s, r)
      val vbase = variants.map { case (s, r) =>
        base.where(pmod(col("_f"), lit(s)) === r)
          .select(col("_id"), lit(s).as("_s"), lit(r).as("_r"),
            ((col("_f") - lit(r)) / lit(s)).cast("int").as("_vf"), col("_h"))
      }.reduce(_ unionAll _).persist()
      try {
        val counts = vbase.groupBy(col("_id"), col("_s"), col("_r"))
          .agg(count(lit(1)).as("_n"))
        val banded = vbase
          .withColumn("_band", explode(array((0 until numBands).map { b =>
            struct(lit(b).as("i"),
              shiftrightunsigned(col("_h"), b * width).bitwiseAND(lit(mask)).as("v"))
          }: _*)))
          .select(col("_id"), col("_s"), col("_r"), col("_vf"),
            col("_band.i").as("_bi"), col("_band.v").as("_bv"))
          .persist()
        try {
          // bucket grain is (band, value) over ALL variants — ~maxStride×
          // hotter than the shifted family's; refuse before the join
          val hottestRow = banded.groupBy(col("_bi"), col("_bv"))
            .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
          val hottest = if (hottestRow.isNullAt(0)) 0L else hottestRow.getLong(0)
          require(hottest <= maxBandBucket,
            s"a (band, value) bucket is shared by $hottest variant frame rows " +
              s"(> maxBandBucket $maxBandBucket) — the candidate block would " +
              "be quadratic; pre-drop constant/low-entropy frames")
          // fast side = the identity view; slow side = any (s, r) variant.
          // stride-1 pairs are the plain shifted family — emit once (idB <
          // idA); stride > 1 keeps both orientations (either id may be the
          // slow side)
          val bandedFast = banded.where(col("_s") === 1 && col("_r") === 0)
            .select(col("_bi"), col("_bv"), col("_id").as("_idB"),
              col("_vf").as("_fB"))
          val cand = bandedFast
            .join(banded.select(col("_bi"), col("_bv"), col("_id").as("_idA"),
              col("_s"), col("_r"), col("_vf").as("_fA")), Seq("_bi", "_bv"))
            .where((col("_s") > 1 && col("_idA") =!= col("_idB") ||
                col("_s") === 1 && col("_r") === 0 && col("_idB") < col("_idA")) &&
              abs(col("_fA") - col("_fB")) <= maxShift)
            .select(col("_idA"), col("_s"), col("_r"), col("_idB"),
              (col("_fA") - col("_fB")).as("_d"))
            .distinct()
          val fastView = vbase.where(col("_s") === 1 && col("_r") === 0)
            .select(col("_id").as("_idB"), col("_vf").as("_fB"),
              col("_h").as("_hB"))
          val matched = cand
            .join(fastView, Seq("_idB"))
            .withColumn("_fA", col("_fB") + col("_d"))
            .join(vbase.select(col("_id").as("_idA"), col("_s"), col("_r"),
              col("_vf").as("_fA"), col("_h").as("_hA")),
              Seq("_idA", "_s", "_r", "_fA"))
            .where(bit_count(col("_hA").bitwiseXOR(col("_hB"))) <= maxHamming)
            .groupBy(col("_idA"), col("_s"), col("_r"), col("_idB"), col("_d"))
            .agg(count(lit(1)).as("matched_frames"))
          val qualified = matched
            .join(counts.select(col("_id").as("_idA"), col("_s"), col("_r"),
              col("_n").as("_nA")), Seq("_idA", "_s", "_r"))
            .join(counts.where(col("_s") === 1)
              .select(col("_id").as("_idB"), col("_n").as("_nB")), Seq("_idB"))
            .withColumn("total_frames", greatest(col("_nA"), col("_nB")))
            // ppm cross-multiply, floor — the sequenceVoteNearDupPairs rule
            .where(col("matched_frames") * lit(1000000L) >=
              col("total_frames") * lit(math.floor(minVoteFrac * 1e6).toLong))
            .withColumn("id1", least(col("_idA"), col("_idB")))
            .withColumn("id2", greatest(col("_idA"), col("_idB")))
            .withColumn("stride", col("_s"))
            .withColumn("phase", col("_r"))
            .withColumn("decimated", when(col("_s") === 1, lit(0))
              .when(col("_idA") < col("_idB"), lit(1)).otherwise(lit(2)))
            .withColumn("frame_offset", col("_d"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("id1"), col("id2"))
            .orderBy(col("matched_frames").desc, col("stride").asc,
              abs(col("frame_offset")).asc, col("frame_offset").asc,
              col("decimated").asc, col("phase").asc)
          val out = qualified
            .withColumn("_rk", row_number().over(w))
            .where(col("_rk") === 1)
            .withColumn("vote_frac",
              col("matched_frames").cast("double") / col("total_frames"))
            .select(col("id1"), col("id2"), col("stride"), col("phase"),
              col("decimated"), col("frame_offset"), col("matched_frames"),
              col("total_frames"), col("vote_frac"))
          CheckpointStrategy.materialize(out, checkpoint)
        } finally { banded.unpersist(false); () }
      } finally { vbase.unpersist(false); () }
    } finally { base.unpersist(false); () }
  }

  /** Shared tail of the shifted sequence-vote family: given candidate
    * (id1, id2, frame_offset) triples and the full signature set
    * (`_id`, `_f`, `_h`), verify votes by popcount at each offset, apply
    * the floor-ppm integer threshold, and keep each pair's best offset
    * (max votes; ties to smallest |offset|, then smallest offset —
    * deterministic). Used by [[shiftedSequenceVoteNearDupPairs]] and
    * [[incrementalSequenceNearDups]].
    */
  private def offsetVoteFromCandidates(cand: DataFrame, base: DataFrame,
      maxHamming: Int, minVoteFrac: Double): DataFrame = {
    val counts = base.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    val matched = cand
      .join(base.select(col("_id").as("id1"), col("_f").as("_f1"),
        col("_h").as("h1")), Seq("id1"))
      .withColumn("_f2", col("_f1") + col("frame_offset"))
      .join(base.select(col("_id").as("id2"), col("_f").as("_f2"),
        col("_h").as("h2")), Seq("id2", "_f2"))
      .where(bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxHamming)
      .groupBy(col("id1"), col("id2"), col("frame_offset"))
      .agg(count(lit(1)).as("matched_frames"))
    val qualified = matched
      .join(counts.select(col("_id").as("id1"), col("_n").as("_n1")), Seq("id1"))
      .join(counts.select(col("_id").as("id2"), col("_n").as("_n2")), Seq("id2"))
      .withColumn("total_frames", greatest(col("_n1"), col("_n2")))
      // ppm cross-multiply, floor — the sequenceVoteNearDupPairs rule
      .where(col("matched_frames") * lit(1000000L) >=
        col("total_frames") * lit(math.floor(minVoteFrac * 1e6).toLong))
    // best offset per pair; threshold-first shrinks the window input
    // and cannot change the winner (the max-vote row qualifies iff any)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1"), col("id2"))
      .orderBy(col("matched_frames").desc, abs(col("frame_offset")).asc,
        col("frame_offset").asc)
    qualified
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .withColumn("vote_frac",
        col("matched_frames").cast("double") / col("total_frames"))
      .select(col("id1"), col("id2"), col("frame_offset"),
        col("matched_frames"), col("total_frames"), col("vote_frac"))
  }

  /** INCREMENTAL sequence near-dup detection against a persisted signature
    * store — the continuous-ingest shape for perceptual video/audio dedup
    * ([[incrementalNearDupPairs]]'s discipline applied to R135/R136): each
    * arriving batch of `(id, frame, 64-bit hash)` sequences is checked
    * against the ENTIRE history at every offset |d| ≤ maxShift WITHOUT
    * re-pairing the history against itself, then folded into the store.
    * Media bytes are never stored and never re-read — the store holds
    * signatures only (`$storePath/sigs`: id, f, h).
    *
    * Candidates are ASYMMETRIC: only the fresh batch's banded rows probe
    * the full (store ∪ fresh) banded set — new×new pairs once
    * (`a.id < b.id`), new×old always from the new side, old×old never.
    * Pair ids are normalized to id1 < id2 with the offset sign flipped to
    * match, then the shared exact vote tail applies
    * ([[offsetVoteFromCandidates]]).
    *
    * Replay idempotence: batch ids already in the store anti-join out, so
    * a replayed batch after a successful fold emits no duplicate pairs
    * and folds nothing twice. Durability ORDERING as in
    * [[incrementalNearDupPairs]]: pairs materialize → `onPairs` sink →
    * THEN the fold; a crash between sink and fold replays to the same
    * pairs (at-least-once), never loses them. A crashed previous fold
    * (only `_temporary` leftovers) classifies as Empty and recovers;
    * visible foreign content refuses loudly.
    *
    * @return (id1, id2, frame_offset, matched_frames, total_frames,
    *         vote_frac) — every pair involves ≥ 1 batch id
    */
  def incrementalSequenceNearDups(batch: DataFrame, idCol: String,
      frameCol: String, hashCol: String, storePath: String,
      maxHamming: Int = 3, numBands: Int = 4, minVoteFrac: Double = 0.8,
      maxShift: Int = 3, maxBandBucket: Long = 100000L,
      onPairs: DataFrame => Unit = _ => (),
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
      pairsSink: Option[DataFrame => DataFrame] = None): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    require(maxHamming >= 0 && maxHamming < numBands,
      s"exactness needs maxHamming < numBands (pigeonhole) — got " +
        s"$maxHamming with $numBands bands")
    require(minVoteFrac > 0.0 && minVoteFrac <= 1.0,
      s"minVoteFrac must be in (0, 1], got $minVoteFrac")
    require(maxShift >= 0, s"maxShift must be ≥ 0, got $maxShift")
    require(maxBandBucket > 0, s"maxBandBucket must be positive")
    val spark = batch.sparkSession
    val sigPath = s"$storePath/sigs"
    val state = graft.sources.PathState.classify(
      sigPath, spark.sparkContext.hadoopConfiguration)
    require(state != graft.sources.PathState.Foreign,
      s"signature store '$sigPath' exists but holds no parquet data files — " +
        "refusing to fold signatures into a directory that is not a store")
    val store =
      if (state == graft.sources.PathState.Data) StoreParquet.open(spark, sigPath)
      else spark.emptyDataFrame
        .withColumn("id", lit(null).cast("long"))
        .withColumn("f", lit(null).cast("int"))
        .withColumn("h", lit(null).cast("long")).limit(0)
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val fresh = batch
      .select(col(idCol).cast("long").as("id"), col(frameCol).cast("int").as("f"),
        col(hashCol).cast("long").as("h"))
      .dropDuplicates("id", "f")
      .join(store.select(col("id")).distinct(), Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val all = fresh.withColumn("_new", lit(true))
        .unionByName(store.withColumn("_new", lit(false)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        def bands(df: DataFrame): DataFrame = df
          .withColumn("_band", explode(array((0 until numBands).map { b =>
            struct(lit(b).as("i"),
              shiftrightunsigned(col("h"), b * width).bitwiseAND(lit(mask)).as("v"))
          }: _*)))
          .select(col("id"), col("f"), col("_new"),
            col("_band.i").as("_bi"), col("_band.v").as("_bv"))
        val bandedAll = bands(all)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val hottestRow = bandedAll.groupBy(col("_bi"), col("_bv"))
            .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
          val hottest = if (hottestRow.isNullAt(0)) 0L else hottestRow.getLong(0)
          require(hottest <= maxBandBucket,
            s"a (band, value) bucket is shared by $hottest frame rows (> " +
              s"maxBandBucket $maxBandBucket) — the candidate block would be " +
              "quadratic; pre-drop constant/low-entropy frames")
          val a = bands(fresh.withColumn("_new", lit(true)))
          val cand = a.as("a").join(bandedAll.as("b"),
              col("a._bi") === col("b._bi") && col("a._bv") === col("b._bv") &&
                abs(col("b.f") - col("a.f")) <= maxShift &&
                // new×new once; new×old always from the new side
                when(col("b._new"), col("a.id") < col("b.id"))
                  .otherwise(col("a.id") =!= col("b.id")))
            // normalize to id1 < id2; the offset sign follows the swap
            .select(least(col("a.id"), col("b.id")).as("id1"),
              greatest(col("a.id"), col("b.id")).as("id2"),
              when(col("a.id") < col("b.id"), col("b.f") - col("a.f"))
                .otherwise(col("a.f") - col("b.f")).as("frame_offset"))
            .distinct()
          val base = all.select(col("id").as("_id"), col("f").as("_f"), col("h").as("_h"))
          val verified = offsetVoteFromCandidates(cand, base, maxHamming, minVoteFrac)
          // materialize-via-sink when the caller's durable write can BE
          // the cut (one job instead of checkpoint-then-write — see
          // incrementalNearDupPairs's ordering + pairsSink notes)
          val out = pairsSink match {
            case Some(sink) => sink(verified)
            case None =>
              val m = CheckpointStrategy.materialize(verified, checkpoint)
              onPairs(m)
              m
          }
          fresh.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(sigPath)
          out
        } finally { bandedAll.unpersist(false); () }
      } finally { all.unpersist(false); () }
    } finally { fresh.unpersist(false); () }
  }

  /** Incremental near-dup detection against a persisted sketch store (EXT):
    * the shape a streaming/batch-ingest pipeline actually needs — each
    * arriving batch is checked against the ENTIRE historical corpus without
    * rescanning any text, then folded into the store.
    *
    * The store (`$path/sketches`) holds one row per seen doc: (id, sig,
    * shl) — minhash signature + 60-bit-hashed shingles, the compact form
    * from [[minhashNearDupPairs]]; text is never stored. Per batch:
    *
    *   1. sketch the new docs (one pass over their text);
    *   2. anti-join on id vs the store — replayed docs drop out, so
    *      at-least-once delivery stays idempotent;
    *   3. LSH-band join of new sketches against (store ∪ new) sketches —
    *      candidates are new×old and new×new, never old×old (already
    *      reported when those docs arrived);
    *   4. exact-Jaccard verify on the hashed shingles, threshold;
    *   5. job-commit append of the new sketches to the store.
    *
    * @return verified pairs (id1 < id2, jaccard) involving ≥1 new doc
    */
  def incrementalNearDupPairs(batch: DataFrame, idCol: String, tokensCol: String,
      storePath: String, shingleN: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5, bandSalts: Int = 4,
      onPairs: DataFrame => Unit = _ => (),
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local,
      pairsSink: Option[DataFrame => DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    val rowsPerBand = numHashes / numBands
    val sketchPath = s"$storePath/sketches"
    // explicit FS classification shared with Index.appendIndex: a
    // crashed previous append (only _temporary leftovers) classifies as
    // Empty and RECOVERS; visible foreign content refuses loudly
    val state = graft.sources.PathState.classify(
      sketchPath, spark.sparkContext.hadoopConfiguration)
    require(state != graft.sources.PathState.Foreign,
      s"sketch store '$sketchPath' exists but holds no parquet data files — " +
        "refusing to fold sketches into a directory that is not a store")
    val storeExists = state == graft.sources.PathState.Data
    val store =
      if (storeExists) StoreParquet.open(spark, sketchPath)
      else spark.emptyDataFrame
        .withColumn("id", lit(null).cast("long"))
        .withColumn("sig", lit(null).cast("array<bigint>"))
        .withColumn("shl", lit(null).cast("array<bigint>")).limit(0)
    val fresh = batch
      .select(col(idCol).as("id"), TextFunctions.shingles(col(tokensCol), shingleN).as("sh0"))
      .where(size(col("sh0")) > 0)
      .select(col("id"),
        minhashSignature(col("sh0"), numHashes).as("sig"),
        // one codegen pass (≡ the interpreted transform lambda — see
        // minhashNearDupPairs)
        org.apache.spark.sql.graft.HashColumns.md5PrefixLongArray(col("sh0")).as("shl"))
      .dropDuplicates("id")
      .join(store.select(col("id")), Seq("id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val all = fresh.withColumn("_new", lit(true))
      .unionByName(store.withColumn("_new", lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bands(df: DataFrame) = df.select(col("id"), col("_new"),
      explode(lshBandKeys(col("sig"), numBands, rowsPerBand)).as("band"))
    // salted asymmetric join: the (small) new side replicates over salts,
    // the full side carries a deterministic id-hash salt — same result set
    // as the unsalted join, mega-bands spread over bandSalts tasks
    val a = bands(fresh.withColumn("_new", lit(true)))
      .withColumn("_sa", explode(sequence(lit(0), lit(bandSalts - 1))))
    val b = bands(all).withColumn("_sb", pmod(hash(col("id")), lit(bandSalts)))
    val cand = a.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a._sa") === col("b._sb") &&
          // new×new once (a.id < b.id); new×old always from the new side
          (when(col("b._new"), col("a.id") < col("b.id"))
            .otherwise(col("a.id") =!= col("b.id"))))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"))
      .distinct()
    val verified = cand
      .join(all.select(col("id").as("id1"), col("shl").as("sh1")), "id1")
      .join(all.select(col("id").as("id2"), col("shl").as("sh2")), "id2")
      .withColumn("_inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("_inter").cast("double") / (size(col("sh1")) + size(col("sh2")) - col("_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
    // ORDERING MATTERS for durability: materialize pairs, hand them to the
    // caller's sink (`onPairs` — e.g. the streaming wrapper's parquet
    // append) and only THEN fold sketches into the store. A crash after
    // the sink but before the store append replays the batch and at worst
    // re-emits the same pairs (at-least-once); the reverse order would
    // LOSE them forever (replayed ids anti-join out, pairs never written).
    // Durability of the cut itself is the caller's CheckpointStrategy
    // (cluster runs: Reliable or Parquet — the default Local cut is
    // single-JVM, as in minhashNearDupPairs).
    //
    // `pairsSink` (r20 optimization round, guide §1.2): when the caller's
    // sink is itself a durable parquet write, that write IS the
    // materialization — sink the UNmaterialized pairs and continue from
    // the durable frame the sink returns, one job instead of
    // checkpoint-then-write. Same crash ordering (the sink still runs
    // before the sketch fold); a sink that skips the write on a replayed
    // durable epoch simply never evaluates the pair subtree at all.
    val out = pairsSink match {
      case Some(sink) => sink(verified)
      case None =>
        val m = CheckpointStrategy.materialize(verified, checkpoint)
        onPairs(m)
        m
    }
    fresh.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(sketchPath)
    fresh.unpersist(false)
    all.unpersist(false)
    out
  }

  /** Cross-corpus perceptual CONTAMINATION (the text-decontamination
    * operator's twin for 64-bit perceptual hashes): which corpus items
    * are within Hamming `maxHamming` of ANY eval/benchmark item — the
    * image/audio/video hygiene check a training pipeline runs before
    * eval sets leak into training data. Asymmetric banded join: both
    * sides split into bit-bands ([[hammingNearDupPairs]]), the join is
    * equi on (band, value) with the popcount verify riding the
    * condition — LOSSLESS for maxHamming < numBands (pigeonhole), so the
    * result is EXACT. The eval side is small by nature (benchmark sets),
    * so its banded rows are explicitly BROADCAST; the corpus explodes
    * its bands once and is never self-joined — per-corpus-row cost is
    * O(bands × bucket collisions), never O(|corpus|²) or
    * O(|corpus|·|eval|).
    *
    * @return (idCol, evalIdCol, hamming) — one row per contaminated
    *         (corpus, eval) pair; semi-join or distinct on idCol for a
    *         drop list
    */
  def hammingContaminationPairs(corpus: DataFrame, idCol: String,
      hashCol: String, evalSet: DataFrame, evalIdCol: String,
      evalHashCol: String, maxHamming: Int = 3, numBands: Int = 4): DataFrame = {
    require(numBands > 0 && 64 % numBands == 0,
      s"numBands must divide 64, got $numBands")
    require(maxHamming >= 0 && maxHamming < numBands,
      s"exactness needs maxHamming < numBands (pigeonhole) — got " +
        s"$maxHamming with $numBands bands; raise numBands for a larger radius")
    require(idCol != evalIdCol,
      s"idCol and evalIdCol are both '$idCol' — the output carries one column " +
        "per side, so identical names make every downstream select ambiguous; " +
        "alias one side (e.g. eval.withColumnRenamed) before calling")
    val width = 64 / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    def banded(df: DataFrame, id: String, h: String, outId: String, outH: String) =
      df.select(col(id).as(outId), col(h).cast("long").as(outH))
        .withColumn("_band", explode(array((0 until numBands).map { b =>
          struct(lit(b).as("i"),
            shiftrightunsigned(col(outH), b * width).bitwiseAND(lit(mask)).as("v"))
        }: _*)))
        .select(col(outId), col(outH),
          col("_band.i").as("_bi"), col("_band.v").as("_bv"))
    banded(corpus, idCol, hashCol, "_cid", "_ch")
      .join(broadcast(banded(evalSet, evalIdCol, evalHashCol, "_eid", "_eh")),
        Seq("_bi", "_bv"))
      .where(bit_count(col("_ch").bitwiseXOR(col("_eh"))) <= maxHamming)
      .select(col("_cid").as(idCol), col("_eid").as(evalIdCol),
        bit_count(col("_ch").bitwiseXOR(col("_eh"))).cast("long").as("hamming"))
      .dropDuplicates(idCol, evalIdCol)
  }

  /** Compact the incremental near-dup SKETCH store
    * ([[incrementalNearDupPairs]]' `$storePath/sketches` — one appended
    * file-set per micro-batch, so the probe side's store scan opens
    * O(batches) files after sustained ingest): rewrite into `targetFiles`
    * id-range-sorted files at `$dstPath/sketches`. The
    * [[compactSequenceStore]] discipline verbatim — NO ledger needed
    * (replay idempotence keys off store CONTENT via the id anti-join,
    * preserved row-for-row, parity-verified), new directory, caller
    * swaps atomically. Together with [[compactSoftDedupWeights]] (the
    * weights + pairs legs) this bounds ALL THREE legs of the streaming
    * weights store's file growth.
    *
    * @return number of sketch rows (== source)
    */
  def compactNearDupSketches(spark: SparkSession, storePath: String,
      dstPath: String, targetFiles: Int = 16): Long = {
    require(storePath != dstPath,
      "compactNearDupSketches writes a NEW directory (caller swaps atomically)")
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val src = s"$storePath/sketches"
    val state = graft.sources.PathState.classify(
      src, spark.sparkContext.hadoopConfiguration)
    require(state == graft.sources.PathState.Data,
      s"'$src' holds no parquet data files — not a near-dup sketch store")
    val sk = StoreParquet.open(spark, src)
    val n = sk.count()
    sk.repartitionByRange(targetFiles, col("id"))
      .sortWithinPartitions("id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dstPath/sketches")
    val out = StoreParquet.open(spark, s"$dstPath/sketches").count()
    require(out == n, s"compaction row mismatch: source $n, compacted $out")
    out
  }

  /** Compact the incremental sequence-signature store
    * ([[incrementalSequenceNearDups]]): sustained ingest appends one
    * parquet file-set per batch, so after thousands of micro-batches the
    * store is a small-files problem. Rewrite `$storePath/sigs` into
    * `targetFiles` id-range-sorted files at `$dstPath/sigs` — the caller
    * swaps directories atomically (the compactSketchStore discipline:
    * never compact in place). Unlike the sketch store, NO `_folded`
    * ledger is needed: replay idempotence keys off store CONTENT (the id
    * anti-join), which compaction preserves row-for-row — a replayed
    * batch is a no-op against the compacted store exactly as before.
    * Sorting by (id, frame) clusters each sequence into one row-group
    * range (min/max stats prune id probes; better compression).
    * Row-count parity is verified before returning.
    */
  def compactSequenceStore(spark: SparkSession, storePath: String,
      dstPath: String, targetFiles: Int = 16): Long = {
    require(storePath != dstPath,
      "compactSequenceStore writes a NEW directory (caller swaps atomically)")
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val src = s"$storePath/sigs"
    val state = graft.sources.PathState.classify(
      src, spark.sparkContext.hadoopConfiguration)
    require(state == graft.sources.PathState.Data,
      s"'$src' holds no parquet data files — not a signature store")
    val sigs = StoreParquet.open(spark, src)
    val n = sigs.count()
    sigs.repartitionByRange(targetFiles, col("id"), col("f"))
      .sortWithinPartitions("id", "f")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dstPath/sigs")
    val out = StoreParquet.open(spark, s"$dstPath/sigs").count()
    require(out == n, s"compaction row mismatch: source $n, compacted $out")
    out
  }

  /** Compact the PAIRS side of a streaming sequence-dedup store
    * ([[graft.streaming.Streams.streamingSequenceDedup]] lands one
    * `$storePath/pairs/batch_id=<epoch>` subdir per micro-batch — a
    * directory-count problem after thousands of epochs, the sigs-side
    * twin of which [[compactSequenceStore]] already folds; VERDICT r10
    * item 4). Epochs ≤ `upToBatchId` (the CLOSED range) fold into ONE
    * `batch_id=$upToBatchId` subdir of `targetFiles` pair-sorted files;
    * epochs above it are carried over per-subdir untouched, so the
    * sink's overwrite-own-subdir replay idempotence keeps working for
    * every epoch that can still replay. Log-compaction semantics: pair
    * ROWS are preserved exactly (parity-verified before returning) while
    * closed rows' batch_id provenance coarsens to the fold boundary —
    * readers that filter `batch_id > X` for incremental consumption must
    * only ever use X ≥ the latest fold boundary, the usual compacted-log
    * contract.
    *
    * Same discipline as the sigs side: writes a NEW directory, the
    * caller swaps atomically. `upToBatchId` MUST be an epoch the
    * stream's checkpoint has committed PAST (only the in-flight epoch
    * can replay; a replay of a folded epoch would re-create its subdir
    * next to the fold and double its pairs — unreachable under the
    * foreachBatch commit protocol when the boundary is below the last
    * committed epoch).
    *
    * @return total pair rows in the compacted store (== source)
    */
  def compactSequencePairs(spark: SparkSession, storePath: String,
      dstPath: String, upToBatchId: Long, targetFiles: Int = 16): Long = {
    require(storePath != dstPath,
      "compactSequencePairs writes a NEW directory (caller swaps atomically)")
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val src = s"$storePath/pairs"
    val state = graft.sources.PathState.classify(
      src, spark.sparkContext.hadoopConfiguration)
    require(state == graft.sources.PathState.Data,
      s"'$src' holds no parquet data files — not a pairs store")
    val pairs = StoreParquet.open(spark, src)
    require(pairs.columns.contains("batch_id"),
      s"'$src' has no batch_id partition column — not a streaming pairs store")
    val n = pairs.count()
    require(n > 0, s"'$src' is empty — nothing to compact")
    val dataCols = pairs.columns.filterNot(_ == "batch_id").toSeq.map(col)
    val live = pairs.where(col("batch_id") > upToBatchId)
    // live epochs first (their partitioned write owns the dst root); the
    // fold then adds its own subdir
    if (live.limit(1).count() > 0)
      live.write.partitionBy("batch_id")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dstPath/pairs")
    val closed = pairs.where(col("batch_id") <= upToBatchId)
      .select(dataCols: _*)
    if (closed.limit(1).count() > 0)
      closed.repartitionByRange(targetFiles, dataCols: _*)
        .sortWithinPartitions(dataCols: _*)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dstPath/pairs/batch_id=$upToBatchId")
    val out = StoreParquet.open(spark, s"$dstPath/pairs").count()
    require(out == n, s"compaction row mismatch: source $n, compacted $out")
    n
  }

  /** Benchmark-contamination scores (EXT, training-data hygiene): for each
    * document, the fraction of its distinct n-grams that appear in ANY text
    * of a (small) benchmark/eval set — the decontamination signal used by
    * pretraining pipelines (the reference stores raw documents untested,
    * index_documents.py has no analogue; pure extension).
    *
    * Shape at 100 TB: the benchmark side is distinct-aggregated (tiny — eval
    * sets are thousands of rows) and BROADCAST; the corpus explodes its
    * n-grams once, hits the broadcast semi-join (no corpus-side wide
    * shuffle beyond the per-doc count re-aggregation keyed by doc id), and
    * per-doc totals ride a narrow size() — the corpus is never joined to
    * itself and never shuffled on n-gram keys.
    *
    * @param docs       corpus with `idCol` and `tokensCol` (token array)
    * @param benchmark  eval texts with `benchTokensCol` (token array)
    * @return (id, n_grams, n_overlap, score) — score in [0,1], 0 for docs
    *         with fewer than n tokens (no n-grams)
    */
  def contaminationScores(docs: DataFrame, idCol: String, tokensCol: String,
      benchmark: DataFrame, benchTokensCol: String, n: Int = 8): DataFrame = {
    val docGrams = docs
      .select(col(idCol).as("id"),
        TextFunctions.shingles(col(tokensCol), n).as("grams"))
    val benchGrams = benchmark
      .select(explode(TextFunctions.shingles(col(benchTokensCol), n)).as("gram"))
      .distinct()
    val overlap = docGrams
      .select(col("id"), explode(col("grams")).as("gram"))
      .join(broadcast(benchGrams), "gram") // doc grams are distinct ⇒ 1 hit/gram
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
    docGrams
      .select(col("id"), size(col("grams")).as("n_grams"))
      .join(overlap, Seq("id"), "left_outer")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("score",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_overlap").cast("double") / col("n_grams")))
  }

  /** Typed mean-of-vectors Aggregator (SURVEY.md §2.6 A6): element-wise sum
    * in Double + count → mean vector. The one genuinely custom aggregate in
    * the engine (no built-in vector centroid). Partial-aggregation friendly:
    * merge is element-wise sum, so map-side combine applies.
    */
  final class CentroidAggregator(dim: Int)
      extends Aggregator[Array[Float], (Array[Double], Long), Array[Float]] {
    def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    def reduce(b: (Array[Double], Long), a: Array[Float]): (Array[Double], Long) = {
      require(a.length == dim, s"dimension mismatch: ${a.length} != $dim")
      var i = 0
      while (i < dim) { b._1(i) += a(i); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    def finish(r: (Array[Double], Long)): Array[Float] =
      if (r._2 == 0L) new Array[Float](dim)
      else r._1.map(s => (s / r._2).toFloat)
    def bufferEncoder: Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    def outputEncoder: Encoder[Array[Float]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
  }

  /** [[CentroidAggregator]]'s exact sibling: element-wise sums carried as
    * DECIMAL(18,9)-scaled LONGS, so the sum is an integer: order-independent
    * across partitions/retries and bit-replayable by a DuckDB decimal sum
    * (the q64/q29 discipline, applied to the typed path). Returns (per-dim
    * scaled sums, count); the mean is `sums[i] / 1e9 / n` downstream at
    * whatever rounding the caller wants. Map-side combine applies (merge =
    * element-wise long add).
    *
    * Rounding: HALF_EVEN on the EXACT binary double (`new BigDecimal(d)`,
    * not `valueOf`) — this is what DuckDB's `CAST(double AS DECIMAL(18,9))`
    * does. Ties are REAL here: a dyadic float like 0.1494140625 lands
    * exactly on …062.5 at scale 9 (10⁹ carries 2⁹, so any float with ≤9
    * fractional bits ties); HALF_UP/valueOf diverged on exactly one element
    * at sf0.1. Spark's own decimal cast rounds HALF_UP, so this aggregator
    * matches DuckDB, not `cast(x as decimal(18,9))`.
    */
  final class QuantizedCentroidAggregator(dim: Int)
      extends Aggregator[Array[Float], (Array[Long], Long), (Array[Long], Long)] {
    private def scaled(v: Float): Long =
      new java.math.BigDecimal(v.toDouble)
        .setScale(9, java.math.RoundingMode.HALF_EVEN)
        .unscaledValue().longValueExact()
    def zero: (Array[Long], Long) = (new Array[Long](dim), 0L)
    def reduce(b: (Array[Long], Long), a: Array[Float]): (Array[Long], Long) = {
      require(a.length == dim, s"dimension mismatch: ${a.length} != $dim")
      var i = 0
      while (i < dim) { b._1(i) += scaled(a(i)); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(x: (Array[Long], Long), y: (Array[Long], Long)): (Array[Long], Long) = {
      var i = 0
      while (i < dim) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    def finish(r: (Array[Long], Long)): (Array[Long], Long) = r
    def bufferEncoder: Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()
    def outputEncoder: Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()
  }
}
