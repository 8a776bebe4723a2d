package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.StoreParquet

/** Similarity search — the reference's implied query surface (pgvector
  * `ORDER BY embedding <=> q LIMIT k`, `/root/reference/README.md:16,83-91`),
  * re-expressed Spark-first (SURVEY.md §2.9, §3.3).
  *
  * Three tiers, by scale:
  *   1. [[topK]] — brute-force exact, single query vector: narrow scan +
  *      `TakeOrderedAndProject` (partial top-k per partition, driver merge —
  *      no global sort, no shuffle of the data).
  *   2. [[topKPerQuery]] — exact, a small batch of query vectors: broadcast
  *      the queries, per-query window top-k.
  *   3. [[ivfAssign]] / [[ivfTopK]] — IVF-style ANN: assign vectors to their
  *      nearest centroid once (narrow), search only the query's cluster —
  *      the 100 TB path (scan cost /= nClusters; fully relational).
  *   4. [[LshIndex]] — MLlib random-projection LSH for approximate joins.
  */
object Search {

  /** BM25 ranked keyword search (EXT): the lexical sibling of the vector
    * tiers — RAG stacks pair pgvector ANN with a keyword ranker, and the
    * corpus-statistics shape (df/tf/doclen) is the canonical "aggregate
    * twice, broadcast the small side" Spark pattern.
    *
    * Formula (Robertson/Lucene practice):
    *   idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
    *   score(d)= Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape: tokens explode ONCE and are filtered to the query terms
    * BEFORE any shuffle (the per-term frames are tiny from that point on);
    * doc lengths are a narrow size(); N and avgdl are one scalar aggregate;
    * df joins broadcast. No corpus-wide term-keyed shuffle for a query —
    * only the final per-doc sum keyed by doc id over query-term hits.
    *
    * Determinism note: per-doc summation goes through DECIMAL(24,12) (the
    * repo's double-sum discipline — combine-order independent), so scores
    * are reproducible run-to-run and floor-at-3dp oracle-checkable.
    *
    * @return (id, score) — every doc containing ≥1 query term
    */
  def bm25Scores(docs: DataFrame, idCol: String, tokensCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val base = docs.select(col(idCol).as("id"), col(tokensCol).as("toks"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      avg(size(col("toks")).cast("double")).as("avgdl"))
    val hits = base
      .select(col("id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(queryTerms: _*)) // prune BEFORE the shuffle
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df_ = hits.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    hits
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(stats)) // one row: N + avgdl
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(sum(col("w").cast("decimal(24,12)")).cast("double").as("score"))
  }

  /** Materialized inverted index (EXT): the persisted sibling of
    * [[bm25Scores]]'s transient corpus statistics — one row per distinct
    * term: (term, df, postings) with the posting list ordered by doc id.
    *
    * Scale shape: tokens explode once; tf is a (term, id)-keyed partial-
    * aggregatable count; everything term-keyed after that shares ONE
    * shuffle (both window passes and the final collect use the same
    * partitioning). Hot stopword keys are bounded two ways: `minDf`
    * prunes the hapax tail (most distinct-term volume), and
    * `maxPostingsPerTerm` caps the per-term list (true df is computed
    * BEFORE the cap) so no single term materializes an unbounded array.
    */
  def buildInvertedIndex(docs: DataFrame, idCol: String, tokensCol: String,
      minDf: Long = 1L, maxPostingsPerTerm: Option[Int] = None): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    maxPostingsPerTerm.foreach(c => require(c >= 1, s"cap must be >= 1, got $c"))
    val tf = docs
      .select(col(idCol).as("id"), explode(col(tokensCol)).as("term"))
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy(col("term"))
    val withDf = tf.withColumn("df", count(lit(1)).over(byTerm))
    val capped = maxPostingsPerTerm match {
      case Some(cap) => withDf
        .withColumn("_rn", row_number().over(byTerm.orderBy(col("id"))))
        .where(col("_rn") <= cap).drop("_rn")
      case None => withDf
    }
    capped
      .where(col("df") >= minDf)
      .groupBy(col("term"))
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(struct(col("id"), col("tf")))).as("postings"))
  }

  /** Persist a BM25-queryable text index: flat postings (term, id, tf)
    * range-partitioned and sorted by term — a term-equality predicate
    * prunes to a handful of parquet row groups via min/max stats — plus a
    * doc-length table and a one-row EXACT-LONG stats sidecar (n_docs,
    * sum_dl). Index once, query many: a query's read cost is proportional
    * to ITS terms' postings, never to the corpus (the transient
    * [[bm25Scores]] re-scans and re-aggregates the whole corpus per query).
    *
    * Deliberately stores NO df and NO per-term cap: df is derived at query
    * time from the pruned hits themselves (count per term — tiny after the
    * prune), which is what keeps the index APPENDABLE ([[appendTextIndex]])
    * without any stored statistic going stale. Bounded-postings variants
    * belong to [[buildInvertedIndex]].
    */
  def writeTextIndex(docs: DataFrame, idCol: String, tokensCol: String,
      path: String): Unit = {
    val base = docs.select(col(idCol).as("id"), col(tokensCol).as("toks"))
    postingsOf(base)
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$path/postings")
    doclensOf(base).write.mode("overwrite").parquet(s"$path/doclens")
    statsOf(base).write.mode("overwrite").parquet(s"$path/stats")
  }

  private def postingsOf(base: DataFrame): DataFrame = base
    .select(col("id"), explode(col("toks")).as("term"))
    .groupBy(col("term"), col("id"))
    .agg(count(lit(1)).as("tf"))

  private def doclensOf(base: DataFrame): DataFrame =
    base.select(col("id"), size(col("toks")).cast("long").as("dl"))

  private def statsOf(base: DataFrame): DataFrame =
    base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("sum_dl"))

  /** Append a document batch to a [[writeTextIndex]] index. Docs whose ids
    * are already indexed are anti-joined out (the id read is one pruned
    * column of doclens, like Index.appendIndex), so replays are no-ops.
    *
    * Durability ordering: postings commit FIRST, doclens second, stats
    * last. A crash between jobs leaves orphan postings (df drifts by at
    * most the crashed batch; the docs stay invisible to scoring because
    * the doclens join drops them) — the RETRY re-appends the batch, and
    * the read path's per-(term,id) dedup makes the duplicated postings
    * harmless, restoring exactness. The reverse order would lose docs:
    * committed doclens would anti-join the retry out before its postings
    * ever landed.
    *
    * @return number of new documents appended (0 on full replay)
    */
  def appendTextIndex(docs: DataFrame, idCol: String, tokensCol: String,
      path: String)(implicit spark: SparkSession): Long = {
    import graft.sources.PathState
    val state = PathState.classify(s"$path/doclens",
      spark.sparkContext.hadoopConfiguration)
    require(state != PathState.Foreign,
      s"appendTextIndex target '$path/doclens' exists but holds no parquet — " +
        "refusing to append into a directory that is not a text index")
    val base0 = docs.select(col(idCol).as("id"), col(tokensCol).as("toks"))
    val base = (if (state == PathState.Empty) base0
      else {
        val existing = StoreParquet.open(spark, s"$path/doclens").select(col("id"))
        base0.join(existing, base0("id") === existing("id"), "left_anti")
      }).dropDuplicates("id").persist()
    try {
      val n = base.count()
      if (n > 0) {
        // batch + old stats are read BEFORE any append: the doclens append
        // below recaches-by-path every cached plan that reads doclens —
        // including `base` (its anti-join) — and a post-append recompute of
        // base would see its own ids as "already indexed" and go empty
        val batch = statsOf(base).head()
        val (oldN, oldSum) =
          if (state == PathState.Empty) (0L, 0L)
          else {
            // driver-side read of the 1-row stats sidecar (zero jobs — r20)
            import graft.sources.SidecarParquet
            val r = SidecarParquet.readGroups(s"$path/stats",
              spark.sparkContext.hadoopConfiguration).head
            (SidecarParquet.longAt(r, "n_docs"),
              SidecarParquet.longAt(r, "sum_dl"))
          }
        postingsOf(base).write.mode(SaveMode.Append).parquet(s"$path/postings")
        doclensOf(base).write.mode(SaveMode.Append).parquet(s"$path/doclens")
        // driver-local totals → driver-side stats write, zero jobs (r20)
        graft.sources.SidecarParquet.writeFlat(s"$path/stats",
          spark.sparkContext.hadoopConfiguration,
          Seq("n_docs" -> "long", "sum_dl" -> "long"),
          Seq(Seq(oldN + batch.getLong(0), oldSum + batch.getLong(1))))
      }
      n
    } finally base.unpersist()
  }

  /** Rebuild a text index MINUS the given doc ids into a NEW directory —
    * the delete half of index maintenance ([[appendTextIndex]] being the
    * insert half; an UPDATE of changed docs = remove(changed) then
    * append(changed), the composition [[graft.operators.Snapshots]] feeds
    * — spec-proven equal to a fresh build of the surviving corpus).
    *
    * New-directory contract (same as Layout.compactParquet): the rewrite
    * is job-commit all-or-nothing into `dstPath`, the source index stays
    * readable throughout, and the swap is the caller's atomic rename. A
    * deletion is a full pass over postings by construction (they are
    * term-keyed, not id-keyed — that is what makes QUERIES fast), so at
    * scale deletions batch and amortize: accumulate removed ids (tiny),
    * anti-join ONCE. Stats are recomputed from surviving doclens (exact
    * longs — cannot stale); the postings layout (term range-partition +
    * sort) is re-established so term pruning on the new index is as sharp
    * as on a fresh build.
    *
    * @return number of surviving documents in the new index
    */
  def removeFromTextIndex(spark: SparkSession, srcPath: String,
      dstPath: String, removeIds: DataFrame, idCol: String): Long = {
    require(srcPath != dstPath,
      "removeFromTextIndex writes a NEW directory (caller swaps atomically)")
    val drop = removeIds.select(col(idCol).cast("long").as("id")).distinct()
    StoreParquet.open(spark, s"$srcPath/postings")
      .join(drop, Seq("id"), "left_anti")
      // re-dedup (term,id): orphan postings from a crashed append must not
      // survive into the rebuilt index with doubled tf
      .groupBy(col("term"), col("id")).agg(first(col("tf")).as("tf"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$dstPath/postings")
    // stats observed ON the doclens write (r19 optimization round — the
    // R168 no-read-back discipline): the job-committed write's own counts
    // are exactly what a re-read would aggregate, without the extra scan
    val obs = org.apache.spark.sql.Observation()
    StoreParquet.open(spark, s"$srcPath/doclens")
      .join(drop, Seq("id"), "left_anti")
      .observe(obs, count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dstPath/doclens")
    val n = obs.get("n_docs").asInstanceOf[Long]
    // driver-local totals → driver-side stats write, zero jobs (r20)
    graft.sources.SidecarParquet.writeFlat(s"$dstPath/stats",
      spark.sparkContext.hadoopConfiguration,
      Seq("n_docs" -> "long", "sum_dl" -> "long"),
      Seq(Seq(n, obs.get("sum_dl").asInstanceOf[Long])))
    n
  }

  /** The IVF twin of [[removeFromTextIndex]]: copy a persisted IVF index
    * minus the given ids into a NEW directory. The vector store is
    * cluster-partitioned, so the anti-join is a partition-preserving
    * filter re-written partitionBy cluster_id; centroids copy verbatim
    * (deletion does not move the frozen quantizer). The drift-stats
    * sidecar is NOT carried (removal changes the statistic and this
    * entry point does not know the vector column) — the destination's
    * next append or [[seedIvfDriftStats]] heals it; until then
    * [[minClusterSimilarity]] falls back to the exact recompute.
    *
    * @return number of surviving vectors
    */
  def removeFromIvfIndex(spark: SparkSession, srcPath: String,
      dstPath: String, removeIds: DataFrame, idCol: String): Long =
    VectorStores.remove(VectorStores.Ivf, "removeFromIvfIndex", spark,
      srcPath, dstPath, removeIds, idCol)

  /** FUSED text-index update — the remove-then-append composition
    * ([[removeFromTextIndex]] + [[appendTextIndex]]) in ONE rewrite:
    * the new index at `dstPath` holds the source index minus
    * `retireIds` minus the refresh batch's own ids, plus the refresh
    * docs indexed fresh. Spec-proven equal to a fresh
    * [[writeTextIndex]] of the updated corpus AND to the two-step
    * composition (IncrementalPipelineSpec).
    *
    * Why fused: the two-step path writes every surviving posting TWICE
    * (the remove pass rewrites survivors into the new directory, the
    * append pass then re-reads its doclens for the idempotency
    * anti-join and appends on top). Here survivors and the fresh batch
    * union into a single term-range-partitioned write, so the
    * steady-state crawl update pays ONE pass over the postings — at
    * 100 TB the postings rewrite IS the update cost, and halving it is
    * the difference between an update window that fits the crawl
    * cadence and one that does not. Refresh docs need no idempotency
    * anti-join at all: their ids are in the drop set, so a re-run of a
    * crashed update can never double-index them.
    *
    * New-directory contract (same as [[removeFromTextIndex]]): the
    * source index stays readable throughout, the rewrite is
    * job-commit all-or-nothing per artifact, and the swap to `dstPath`
    * is the caller's atomic rename — a crash mid-update leaves a
    * partial directory that was never swapped in, never a
    * half-updated live index. Stats are recomputed from the WRITTEN
    * doclens (exact longs — cannot stale vs what is on disk).
    *
    * @return number of documents in the new index
    */
  def updateTextIndex(spark: SparkSession, srcPath: String, dstPath: String,
      retireIds: DataFrame, retireIdCol: String,
      refreshDocs: DataFrame, idCol: String, tokensCol: String): Long = {
    require(srcPath != dstPath,
      "updateTextIndex writes a NEW directory (caller swaps atomically)")
    val base = refreshDocs
      .select(col(idCol).cast("long").as("id"), col(tokensCol).as("toks"))
      .dropDuplicates("id")
      .persist()
    try {
      val drop = retireIds.select(col(retireIdCol).cast("long").as("id"))
        .unionByName(base.select(col("id"))).distinct()
      // survivors re-dedup (term,id) like removeFromTextIndex: orphan
      // postings from a crashed in-place append must not carry doubled tf
      StoreParquet.open(spark, s"$srcPath/postings")
        .join(drop, Seq("id"), "left_anti")
        .groupBy(col("term"), col("id")).agg(first(col("tf")).as("tf"))
        .unionByName(postingsOf(base))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"))
        .write.mode("overwrite").parquet(s"$dstPath/postings")
      // stats observed ON the doclens write (r19 optimization round —
      // the R168 no-read-back discipline): same exact values as the
      // re-read aggregate, two fewer jobs per update
      val obs = org.apache.spark.sql.Observation()
      StoreParquet.open(spark, s"$srcPath/doclens")
        .join(drop, Seq("id"), "left_anti")
        .unionByName(doclensOf(base))
        .observe(obs, count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$dstPath/doclens")
      val n = obs.get("n_docs").asInstanceOf[Long]
      // driver-local totals → driver-side stats write, zero jobs (r20)
      graft.sources.SidecarParquet.writeFlat(s"$dstPath/stats",
        spark.sparkContext.hadoopConfiguration,
        Seq("n_docs" -> "long", "sum_dl" -> "long"),
        Seq(Seq(n, obs.get("sum_dl").asInstanceOf[Long])))
      n
    } finally { base.unpersist(); () }
  }

  /** The IVF twin of [[updateTextIndex]]: source index minus `retireIds`
    * minus the refresh batch's ids, plus the batch assigned under the
    * FROZEN sidecar centroids (update never moves the quantizer), in ONE
    * cluster-partitioned write instead of the remove-rewrite followed by
    * an append. Same new-directory contract; centroids copy verbatim.
    *
    * @return number of vectors in the new index
    */
  def updateIvfIndex(spark: SparkSession, srcPath: String, dstPath: String,
      retireIds: DataFrame, refreshBatch: DataFrame,
      idCol: String, vecCol: String): Long = {
    requireIvfBatchColumns("updateIvfIndex", refreshBatch,
      StoreParquet.open(spark, s"$srcPath/vectors"))
    VectorStores.update(VectorStores.Ivf, "updateIvfIndex", spark, srcPath,
      dstPath, retireIds, refreshBatch, idCol, vecCol)
    // the return count comes from the drift-stats seed — a narrow
    // (vec + cluster_id) scan of the NEW store, which is MORE than the
    // metadata-only count() it replaces but is bounded by the full-store
    // rewrite this op just paid, and it keeps every policy tick after an
    // update O(stats) instead of O(store) (R183)
    seedIvfDriftStats(spark, dstPath, vecCol)
  }

  /** BM25 top-k against a persisted [[writeTextIndex]] index. Same formula
    * and decimal-sum discipline as [[bm25Scores]] (df/tf widen to double at
    * the same points, avgdl = exact-long sum_dl / n_docs — the identical
    * double), so scores are bit-identical; the postings scan is term-pruned
    * at the parquet layer, df is counted over the pruned hits (always
    * fresh, append-safe), the hits broadcast against the doc-length table,
    * and the per-doc sum is the only shuffle.
    */
  def bm25TopKFromIndex(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val hits = StoreParquet.open(spark, s"$path/postings")
      .where(col("term").isin(queryTerms: _*)) // parquet row-group prune
      .dropDuplicates("term", "id")            // crash-retry dup guard
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .select(col("term"), col("df"), col("id"), col("tf").cast("double").as("tf"))
    val stats = StoreParquet.open(spark, s"$path/stats")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    StoreParquet.open(spark, s"$path/doclens")
      .join(broadcast(hits), "id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(sum(col("w").cast("decimal(24,12)")).cast("double").as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Top-k over [[bm25Scores]], ties broken by id — deterministic ranking. */
  def bm25TopK(docs: DataFrame, idCol: String, tokensCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(docs, idCol, tokensCol, queryTerms, k1, b)
      .orderBy(col("score").desc, col("id"))
      .limit(k)

  /** 1-based rank of each row by `orderCols` — a helper for fusion inputs.
    * The single-partition window is FINE here by contract: fusion inputs
    * are top-k lists (tens of rows), not corpora.
    */
  def rankByScore(df: DataFrame, orderCols: Seq[Column],
      rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol,
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(orderCols: _*))
        .cast("long"))

  /** Reciprocal-rank fusion (EXT): merge two ranked retrieval lists (e.g.
    * BM25 keyword top-k and embedding-cosine top-k — the standard hybrid
    * RAG pattern) into one ranking with
    *
    *   rrf(d) = Σ_lists 1 / (rrfK + rank_list(d))
    *
    * (Cormack/Clarke/Buettcher's K=60 default). Rank-based, so the two
    * lists' score scales never need calibration. Both inputs are tiny
    * (top-k lists) — the join broadcasts; determinism comes from the
    * CALLERS ranking on floored scores with id tiebreaks.
    *
    * @param a,b  frames with `idCol` and a 1-based `rankCol`
    * @return (id, rrf_score, rank_a, rank_b) sorted by rrf desc, id asc
    */
  def reciprocalRankFusion(a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String = "rank", rrfK: Int = 60): DataFrame = {
    val left = a.select(col(idCol).as("id"), col(rankCol).as("rank_a"))
    val right = b.select(col(idCol).as("id"), col(rankCol).as("rank_b"))
    left.join(right, Seq("id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_b")), lit(0.0)))
      .orderBy(col("rrf_score").desc, col("id"))
  }

  /** Maximal-marginal-relevance re-rank (EXT): diversify a per-query
    * candidate list — the standard post-ANN step when retrieved context
    * (RAG) or selected training data should not be k near-copies of the
    * same document. Greedy MMR (Carbonell/Goldstein '98):
    *
    *   pick argmax_d  λ·rel(d) − (1−λ)·max_{s∈picked} cos(d, s)
    *
    * Scale shape: the greedy loop is inherently sequential in k, so it
    * does NOT distribute within a query — and should not: candidates are
    * a top-N list (tens to hundreds, post-[[topKPerQuery]]/[[ivfTopKFromIndex]]
    * by contract). Parallelism comes from the MANY queries: one hash
    * exchange on the query id, then an O(k·N·dim) local loop per group
    * (`flatMapGroups` — genuinely non-relational iterative state, the
    * documented justification for leaving Column expressions).
    *
    * Determinism: candidates iterate sorted (rel DESC, id ASC); score
    * ties break to the lower id; the pairwise cosine replicates
    * `CosineSimilarityExpr`'s exact loop (ascending index, double
    * accumulators, sqrt(na)·sqrt(nb) denominator), so results are
    * bit-reproducible and DuckDB-replayable (probe q99).
    *
    * @param candidates (queryIdCol, idCol, vecCol, relCol) rows
    * @param lambda     relevance↔diversity tradeoff in [0,1]; the first
    *                   pick is always the pure-relevance argmax
    * @return (query_id, rank, id, mmr_score) — rank 1..min(k, |cands|)
    */
  def mmrRerank(candidates: DataFrame, queryIdCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val mu = 1.0 - lambda // oracle spells (1.0 - λ) too: 1-0.7 ≠ 0.3 in IEEE
    candidates
      .select(col(queryIdCol).cast("long"), col(idCol).cast("long"),
        col(vecCol), col(relCol).cast("double"))
      .as[(Long, Long, Array[Float], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // (rel DESC, id ASC) order fixes iteration AND makes index 0 the
        // deterministic first pick (maxSim starts at 0 for everyone).
        val cand = it.toArray.sortBy(t => (-t._4, t._2))
        val n = cand.length
        val picked = new Array[Boolean](n)
        // max sim to the picked set — CAN be negative (an anti-similar
        // candidate earns a diversity bonus; clamping at 0 would be a
        // different operator). -Inf marks "no picks yet" → penalty 0,
        // the oracle's coalesce(max(..), 0.0) for the empty set.
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val out = Vector.newBuilder[(Long, Int, Long, Double)]
        var r = 1
        while (r <= math.min(k, n)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val pen = if (maxSim(i) == Double.NegativeInfinity) 0.0 else maxSim(i)
              val s = lambda * cand(i)._4 - mu * pen
              // strict > : ties stay with the earlier (higher-rel/lower-id)
              if (s > bestScore) { best = i; bestScore = s }
            }
            i += 1
          }
          out += ((qid, r, cand(best)._2, bestScore))
          picked(best) = true
          var j = 0
          while (j < n) {
            if (!picked(j)) {
              val s = cosineLocal(cand(j)._3, cand(best)._3)
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          r += 1
        }
        out.result()
      }
      .toDF("query_id", "rank", "id", "mmr_score")
  }

  /** CosineSimilarityExpr's exact arithmetic as a local function (same
    * ascending loop, double accumulators, sqrt·sqrt denominator) — keeps
    * [[mmrRerank]]'s driver-free inner loop bit-identical to the
    * relational tiers and the DuckDB `list_cosine_similarity` spelling.
    */
  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Metric names match pgvector's operators: cosine `<=>`, l2 `<->`, ip `<#>`. */
  def score(metric: String, v: Column, q: Column): Column = metric match {
    case "cosine" => cosine(v, q)
    case "l2"     => l2Distance(v, q)
    case "ip"     => dot(v, q)
    case other    => throw new IllegalArgumentException(s"Unknown metric: $other")
  }

  /** Exact top-k for ONE query vector. Plans as scan → project →
    * TakeOrderedAndProject: each partition keeps only k rows, the driver
    * merges — the optimal distributed plan for single-query search.
    * For l2 the order is ascending (distance), else descending (similarity).
    */
  def topK(index: DataFrame, vecCol: String, query: Seq[Float], k: Int,
      metric: String = "cosine"): DataFrame = {
    val q = lit(query.toArray)
    val scored = index.withColumn("score", score(metric, col(vecCol), q))
    val ordered =
      if (metric == "l2") scored.orderBy(col("score").asc)
      else scored.orderBy(col("score").desc)
    ordered.limit(k)
  }

  /** Exact top-k per query row (queries small ⇒ broadcast). The data side
    * streams once past every query — one scan regardless of query count.
    *
    * @param tiebreak extra ascending order columns after the score — pass
    *                 a unique id for fully deterministic ranks (ties on
    *                 exact score are otherwise partition-order-dependent)
    */
  def topKPerQuery(index: DataFrame, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, metric: String = "cosine", tiebreak: Seq[String] = Nil): DataFrame = {
    val scored = index
      .crossJoin(broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("_qv"))))
      .withColumn("score", score(metric, col(vecCol), col("_qv")))
      .drop("_qv")
    val ord = (if (metric == "l2") col("score").asc else col("score").desc) +:
      tiebreak.map(col(_).asc)
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(ord: _*)))
      .where(col("rank") <= k)
  }

  /** IVF cluster assignment: nearest centroid id per vector (cosine), as ONE
    * narrow codegen'd fold — centroids inlined as a literal array (they are
    * few; this is the broadcast), the argmax via
    * [[org.apache.spark.sql.graft.NearestCentroidExpr]] (max sim, ties to
    * the LOWEST centroid id, undefined cosines never win — the identical
    * decisions of the earlier `array_max` over `(sim, -cid)` structs, spec-
    * pinned, minus the k struct/array allocations per row). No join, no
    * window, no shuffle; [[writeIvfIndex]] persists the result partitioned
    * by `cluster_id` so queries prune to the probed clusters' files.
    */
  def ivfAssign(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): DataFrame = {
    import org.apache.spark.sql.graft.VectorColumns
    require(centroids.nonEmpty, "ivfAssign needs at least one centroid")
    require(centroids.map(_._1).distinct.length == centroids.length,
      "duplicate centroid ids — the smallest-cid tie-break needs unique ids")
    val sorted = centroids.sortBy(_._1)
    val idx = VectorColumns.nearestCentroidIdx(col(vecCol),
      typedLit(sorted.map(_._2.toSeq)))
    df.withColumn("cluster_id",
      element_at(array(sorted.map(c => lit(c._1)): _*), idx + 1))
  }

  /** Driver-side probe selection: the `nProbe` centroids nearest the query
    * (cosine; ties to the lowest id). Centroids are tiny — this is plain
    * Scala, never a Spark job: primitive loops, the query norm computed
    * once per call.
    */
  def probeClusters(centroids: Seq[(Int, Array[Float])],
      query: Seq[Float], nProbe: Int): Seq[Int] = {
    val q = query.toArray
    var nq = 0.0
    var i = 0
    while (i < q.length) { nq += q(i).toDouble * q(i); i += 1 }
    val nb = math.sqrt(nq)
    def cos(a: Array[Float]): Double = {
      // a·q over the shorter length, ‖a‖ over all of a, both accumulated
      // in index order — ServePathSpec pins the ranking, ties included
      var d = 0.0
      var na2 = 0.0
      val n = math.min(a.length, q.length)
      var j = 0
      while (j < n) { d += a(j).toDouble * q(j); j += 1 }
      j = 0
      while (j < a.length) { na2 += a(j).toDouble * a(j); j += 1 }
      val na = math.sqrt(na2)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    centroids
      .map { case (cid, v) => (cos(v), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(nProbe).map(_._2)
  }

  /** IVF ANN top-k: restrict the scan to the query's `nProbe` nearest
    * clusters (driver-side centroid argmax — centroids are tiny), then exact
    * top-k within. Approximate (recall < 1 when the true neighbor lives in an
    * unprobed cluster); recall tested vs [[topK]].
    */
  def ivfTopK(indexWithClusters: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])],
      query: Seq[Float], k: Int, nProbe: Int = 1): DataFrame = {
    val probeIds = probeClusters(centroids, query, nProbe)
    indexWithClusters
      .where(col("cluster_id").isin(probeIds: _*))
      .withColumn("score", cosine(col(vecCol), lit(query.toArray)))
      .orderBy(col("score").desc).limit(k)
  }

  // ------------------------------------------------- persisted IVF index ---

  /** Materialize an IVF index on disk: vectors assigned to their nearest
    * centroid, written parquet PARTITIONED BY `cluster_id`, plus the
    * centroids as a tiny sidecar table. This is what turns IVF from a query
    * shape into an index: a query reads ONLY the probed clusters' files
    * (partition pruning — `PartitionFilters` in the scan, asserted in
    * SearchSpec), so scan cost divides by nClusters/nProbe at any scale.
    */
  def writeIvfIndex(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])], path: String): Long = {
    import org.apache.spark.sql.SaveMode
    ivfAssign(df, vecCol, centroids)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cluster_id").parquet(s"$path/vectors")
    val spark = df.sparkSession
    import spark.implicits._
    writeCentroidsSidecar(spark, path, centroids)
    // seed the drift-stats sidecar from a READ-BACK of the written store,
    // never from a second evaluation of `df`: a non-deterministic input
    // (sample, rand-derived) re-evaluates to different rows, and the seed
    // would then certify stats that describe rows not in the store (the
    // fingerprint matches — the fallback never triggers). One narrow
    // (vec + cluster_id) scan, bounded by the write that just produced it;
    // a healthy maintainVectorIndex tick then observes KB of stats
    // instead of re-scoring the store (VERDICT r15 #2). The seed's count
    // doubles as the builder's return value (r19 optimization round), so
    // refresh callers need no read-back count job.
    seedIvfDriftStats(spark, path, vecCol)
  }

  /** Incrementally maintain a persisted IVF index: assign a NEW batch to
    * the FROZEN sidecar centroids and append into the cluster-partitioned
    * store. At 100 TB you do not re-cluster per arriving batch — the
    * coarse quantizer freezes at build time and appends only touch the
    * partitions the batch lands in; the existing billions of rows are
    * never rewritten (same maintenance contract as [[appendTextIndex]]).
    *
    * Idempotency: re-delivered ids are dropped by an anti-join against the
    * existing index's id column (a column-pruned scan — ids only, never
    * vectors), so at-least-once upstreams and crash-retries cannot
    * duplicate a vector. The append itself is a job-commit parquet write:
    * a batch is either fully visible or not at all.
    *
    * Drift is the caller's to watch: [[ivfDriftStats]] reports per-cluster
    * occupancy and mean similarity-to-centroid — when new data stops
    * matching the frozen quantizer, rebuild with [[writeIvfIndex]].
    *
    * @return number of NEW vectors appended (0 for a pure replay)
    */
  def appendIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Long = {
    import graft.sources.PathState
    val spark = batch.sparkSession
    val state = PathState.classify(s"$path/vectors",
      spark.sparkContext.hadoopConfiguration)
    require(state == PathState.Data,
      s"appendIvfIndex requires an existing index at '$path' " +
        "(writeIvfIndex first — appends need its frozen centroids)")
    val centroids = readIvfCentroids(spark, path)
    val existing = StoreParquet.open(spark, s"$path/vectors")
    requireIvfBatchColumns("appendIvfIndex", batch, existing)
    val fresh = batch
      .join(existing, batch(idCol) === existing(idCol), "left_anti")
      .dropDuplicates(idCol).persist()
    try {
      val n = fresh.count()
      if (n > 0) {
        // sidecar currency is judged BEFORE the write: if the recorded
        // fingerprint matches the pre-append listing, this batch's delta
        // rows extend it incrementally (exact long sums — associative);
        // otherwise the store is pre-sidecar or crash-staled and ONE
        // re-seed scan heals it, after which appends are incremental again.
        // The delta is also COLLECTED before the write: writing into
        // `vectors` invalidates `fresh`'s cache and refreshes the path's
        // file index, so a post-write re-evaluation would anti-join the
        // batch against itself and see zero rows
        val validBefore = readDriftMarker(spark, path)
          .contains(storeFingerprint(spark, s"$path/vectors"))
        val delta =
          if (validBefore) collectDriftRows(
            ivfAssign(fresh, vecCol, centroids), vecCol, centroids)
          else Seq.empty[(Int, Long, Long)]
        ivfAssign(fresh, vecCol, centroids)
          .write.mode(SaveMode.Append)
          .partitionBy("cluster_id").parquet(s"$path/vectors")
        if (validBefore) {
          writeDriftRows(spark, path, delta, SaveMode.Append)
          writeDriftMarker(spark, path,
            storeFingerprint(spark, s"$path/vectors"))
        } else { seedIvfDriftStats(spark, path, vecCol); () }
      }
      n
    } finally { fresh.unpersist(); () }
  }

  /** Files written into an IVF store must carry the index's exact column
    * set — a silently divergent schema would make later reads
    * footer-dependent.
    */
  private def requireIvfBatchColumns(op: String, batch: DataFrame,
      existing: DataFrame): Unit =
    require(batch.columns.toSet + "cluster_id" == existing.columns.toSet,
      s"$op batch columns ${batch.columns.sorted.mkString(",")} " +
        s"must match the index's ${existing.columns.sorted.mkString(",")} (minus cluster_id)")

  /** Per-cluster health of a persisted IVF index: occupancy and mean
    * cosine-to-assigned-centroid (one narrow scan + one small agg). Falling
    * mean similarity or ballooning skew in `n` = the frozen quantizer no
    * longer fits the data — time to re-cluster and rebuild.
    */
  def ivfDriftStats(spark: SparkSession, path: String, vecCol: String): DataFrame = {
    val cents = StoreParquet.open(spark, s"$path/centroids")
      .select(col("cluster_id"), col("centroid").cast("array<float>").as("_c"))
    StoreParquet.open(spark, s"$path/vectors")
      .join(broadcast(cents), "cluster_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        avg(cosine(col(vecCol), col("_c"))).as("mean_sim"))
      .orderBy(col("cluster_id"))
  }

  // --------------------- O(stats) drift observation (VERDICT r15 #2) ---

  /** Fixed-point scale for the drift-stats sidecar: per-row cosines round
    * to 1e-9 before the long sum, so the accumulated statistic is
    * combine-order independent and EXACTLY reproducible — the same
    * discipline as the engine's decimal score sums. The sidecar can
    * therefore be maintained as associative per-batch deltas: appends
    * add their own rows and the reader sums, with no float drift between
    * the incremental total and a from-scratch recompute.
    */
  private val DriftFpScale = 1000000000L

  /** Per-cluster sufficient drift statistics — (cluster_id, n,
    * Σ round(cos·1e9)) — of an ASSIGNED frame (`vecCol` + `cluster_id`)
    * against broadcast centroids. The rows the `driftstats` sidecar
    * stores; exact longs, so deltas from independent batches sum to the
    * full-store statistic.
    */
  private def driftStatRows(assigned: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cents = centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cluster_id", "_c")
      .select(col("cluster_id"), col("_c").cast("array<float>").as("_c"))
    guardDriftStatOverflow(
      assigned.join(broadcast(cents), "cluster_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(cosine(col(vecCol), col("_c")) * DriftFpScale)
            .cast("long")).as("sim_fp_sum")))
  }

  /** Long.MaxValue / DriftFpScale, floored to a round bound. */
  private val DriftStatMaxClusterRows = 9000000000L

  /** Each row contributes at most ±1e9 to a cluster's fixed-point sum, so
    * the long accumulation is exact up to ~9.2e9 rows PER CLUSTER — past
    * that it would wrap silently. Refuse loudly instead (applied to every
    * per-cluster aggregation, the summed sidecar deltas included): a
    * nine-billion-vector cluster is itself the drift/skew signal — the
    * probed-cluster scan unit is broken long before the statistic is —
    * the same posture as the engine's quadratic-cell refusals.
    */
  private def guardDriftStatOverflow(stats: DataFrame): DataFrame =
    stats.withColumn("n",
      when(col("n") <= DriftStatMaxClusterRows, col("n"))
        .otherwise(raise_error(concat(
          lit("drift stats: cluster "), col("cluster_id").cast("string"),
          lit(s" holds more than $DriftStatMaxClusterRows vectors — the " +
            "fixed-point sum would overflow; re-train the coarse " +
            "quantizer (this cluster size is itself the drift signal)")))))

  /** [[ivfDriftStats]] in the sidecar's EXACT fixed-point form —
    * (cluster_id, n, sim_fp_sum) by a full store scan. This is the
    * ground truth the incremental sidecar is spec-compared against, and
    * the fallback [[minClusterSimilarity]] pays when the sidecar is
    * stale or absent.
    */
  def ivfDriftStatsExact(spark: SparkSession, path: String,
      vecCol: String): DataFrame =
    driftStatRows(StoreParquet.open(spark, s"$path/vectors"), vecCol,
      readIvfCentroids(spark, path))

  /** Content fingerprint of a store subdir: md5 over the sorted
    * (relative path, length, mtime) list of its visible parquet data
    * files — ONE driver-side listing, no data read. This is what lets
    * the `driftstats` sidecar be trusted without scanning a vector:
    * every sidecar write records the vectors dir's fingerprint at that
    * moment, and a reader re-lists and compares. A crash between a
    * vectors commit and the sidecar update leaves the fingerprint stale,
    * so the reader falls back to the full recompute instead of serving
    * an undercount — the sidecar is a verified cache, never a second
    * source of truth. The mtime term closes the same-name same-length
    * in-place rewrite hole (ADVICE r16): an external restore/rewrite
    * tool that preserves names and sizes still moves the filesystem's
    * modification stamp, so the sidecar is distrusted and the exact
    * recompute serves. (A rewrite that forges all three terms is outside
    * the contract — the fingerprint is a listing-metadata cache key, not
    * a content hash; hashing bytes would cost the full-store read the
    * sidecar exists to avoid.)
    */
  def storeFingerprint(spark: SparkSession, dir: String): String = {
    val entries = visibleParquetFiles(spark, dir)
      .map { case (rel, len, mtime) => s"$rel:$len:$mtime" }.sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def driftStatsDir(path: String): String = s"$path/driftstats"

  /** Atomically (temp + overwrite-rename, the [[graft.sources.Generations]]
    * pointer discipline) record the vectors fingerprint the sidecar rows
    * are valid for. Written LAST in every sidecar update, so a crash at
    * any earlier point invalidates rather than corrupts.
    */
  private def writeDriftMarker(spark: SparkSession, path: String,
      digest: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(driftStatsDir(path))
    val fs = dir.getFileSystem(hconf)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, "_valid.tmp")
    val cur = new org.apache.hadoop.fs.Path(dir, "_valid")
    val out = fs.create(tmp, true)
    out.write(digest.getBytes("UTF-8"))
    out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, hconf)
      .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readDriftMarker(spark: SparkSession,
      path: String): Option[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val cur = new org.apache.hadoop.fs.Path(driftStatsDir(path), "_valid")
    val fs = cur.getFileSystem(hconf)
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** Collected stat rows are nClusters-bounded (the coarse quantizer's
    * size, hundreds at most) — a documented driver-bounded collect.
    */
  private def writeDriftRows(spark: SparkSession, path: String,
      rows: Seq[(Int, Long, Long)], mode: SaveMode): Unit =
    // nClusters-bounded driver rows → driver-side write, zero jobs (r20)
    graft.sources.SidecarParquet.writeFlat(driftStatsDir(path),
      spark.sparkContext.hadoopConfiguration,
      Seq("cluster_id" -> "int", "n" -> "long", "sim_fp_sum" -> "long"),
      rows.map(r => Seq[Any](r._1, r._2, r._3)),
      append = mode == SaveMode.Append)

  private def collectDriftRows(assigned: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): Seq[(Int, Long, Long)] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    driftStatRows(assigned, vecCol, centroids)
      .select(col("cluster_id").cast("int"), col("n"), col("sim_fp_sum"))
      .as[(Int, Long, Long)].collect().toSeq
  }

  /** Seed (or re-seed) the drift-stats sidecar of a persisted IVF store
    * from the frame in hand — the mutators call this with the batch they
    * are already scanning, so seeding is one extra NARROW aggregate pass
    * over the input, never a re-read of the store just written.
    *
    * Parity-checked before certifying (ADVICE r16): the stat rows come
    * from an inner join against the centroids sidecar, so a vectors row
    * whose `cluster_id` is missing from `centroids` (a corrupt or
    * hand-edited store) would silently drop from both the count and the
    * drift statistic — the seed compares Σn against a plain count of the
    * frame and refuses loudly on mismatch, mirroring the compaction
    * row-parity requires. The count is a second pass, but only on seed
    * paths that are already O(store) by construction.
    *
    * @return total vectors accounted (Σ n, == the frame's row count)
    */
  private def seedDriftStatsFrom(assigned: DataFrame, vecCol: String,
      centroids: Seq[(Int, Array[Float])], path: String): Long = {
    val spark = assigned.sparkSession
    val rows = collectDriftRows(assigned, vecCol, centroids)
    val accounted = rows.map(_._2).sum
    val total = assigned.count()
    require(accounted == total,
      s"drift-stats seed at '$path' accounted $accounted of $total " +
        s"vectors — ${total - accounted} row(s) carry a cluster_id " +
        "missing from the centroids sidecar (corrupt or hand-edited " +
        "store); refusing to certify statistics that undercount")
    writeDriftRows(spark, path, rows, SaveMode.Overwrite)
    writeDriftMarker(spark, path, storeFingerprint(spark, s"$path/vectors"))
    accounted
  }

  /** Re-seed a store's sidecar from the STORE (one narrow scan of
    * vec + cluster_id) — the self-heal path for a pre-sidecar store or a
    * crash-staled one. After one seed, maintenance is incremental again.
    *
    * @return total vectors accounted (Σ n)
    */
  def seedIvfDriftStats(spark: SparkSession, path: String,
      vecCol: String): Long =
    seedDriftStatsFrom(StoreParquet.open(spark, s"$path/vectors"), vecCol,
      readIvfCentroids(spark, path), path)

  /** The sidecar's per-cluster totals IF they are provably current for
    * the store's content (recorded fingerprint == one fresh listing of
    * `vectors`): (cluster_id, n, sim_fp_sum) with per-batch delta rows
    * summed. None = stale/absent — fall back to
    * [[ivfDriftStatsExact]]. Reading the sidecar moves KB regardless of
    * store size: this is what makes a healthy [[maintainVectorIndex]]
    * tick O(stats) instead of a full-store re-score (VERDICT r15 #2).
    */
  def ivfDriftStatsFromSidecar(spark: SparkSession,
      path: String): Option[DataFrame] = {
    import graft.sources.PathState
    val hconf = spark.sparkContext.hadoopConfiguration
    readDriftMarker(spark, path) match {
      case Some(digest)
          if digest == storeFingerprint(spark, s"$path/vectors") &&
            PathState.classify(driftStatsDir(path), hconf) == PathState.Data =>
        Some(guardDriftStatOverflow(StoreParquet.open(spark, driftStatsDir(path))
          .groupBy(col("cluster_id"))
          .agg(sum(col("n")).as("n"), sum(col("sim_fp_sum")).as("sim_fp_sum"))))
      case _ => None
    }
  }

  /** Driver-side centroid-sidecar write (KB model rows already on the
    * driver; the old toDF+coalesce(1) write was one Spark job per index
    * build/refresh — r20, guide §5).
    */
  private def writeCentroidsSidecar(spark: SparkSession, path: String,
      centroids: Seq[(Int, Array[Float])]): Unit =
    graft.sources.SidecarParquet.writeFlat(s"$path/centroids",
      spark.sparkContext.hadoopConfiguration,
      Seq("cluster_id" -> "int", "centroid" -> "floatarray"),
      centroids.map(c => Seq[Any](c._1, c._2)))

  /** [[writeCentroidsSidecar]]'s codebook twin. */
  private def writeCodebooksSidecar(spark: SparkSession, path: String,
      cb: PqCodebooks): Unit =
    graft.sources.SidecarParquet.writeFlat(s"$path/codebooks",
      spark.sparkContext.hadoopConfiguration,
      Seq("s" -> "int", "j" -> "int", "center" -> "floatarray"),
      cb.centers.zipWithIndex.flatMap { case (cents, s) =>
        cents.zipWithIndex.map { case (c, j) => Seq[Any](s, j, c) }
      })

  /** Load the sidecar centroids of a persisted IVF index — a DRIVER-SIDE
    * parquet read ([[graft.sources.SidecarParquet]], r20 optimization
    * round): centroid sidecars are model-scale (KB) by construction, and
    * the previous spark.read-then-collect paid one full Spark job per
    * load — serve paths and maintenance ops load this once or twice EACH.
    * Values are read raw from the same bytes (DOUBLE narrows exactly as
    * the old `cast("array<float>")` did), so the result is bit-identical.
    */
  def readIvfCentroids(spark: SparkSession, path: String): Seq[(Int, Array[Float])] = {
    import graft.sources.SidecarParquet
    SidecarParquet.readGroups(s"$path/centroids",
        spark.sparkContext.hadoopConfiguration)
      .map(g => (SidecarParquet.intAt(g, "cluster_id"),
        SidecarParquet.floatArrayAt(g, "centroid")))
      .sortBy(_._1)
  }

  /** ANN top-k against a persisted IVF index: probe clusters chosen
    * driver-side from the sidecar, then a scan of the probed partitions'
    * directories only ([[graft.sources.StoreParquet.openPartitions]] — no
    * schema-inference or listing job, so the query is ONE Spark job at any
    * cluster count); the `cluster_id IN (...)` predicate stays as the
    * plan's partition filter.
    */
  def ivfTopKFromIndex(spark: SparkSession, path: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 1): DataFrame = {
    requireConsistentModel(spark, path, "ivfTopKFromIndex")
    val centroids = readIvfCentroids(spark, path)
    val probeIds = probeClusters(centroids, query, nProbe)
    StoreParquet.openPartitions(spark, s"$path/vectors", "cluster_id",
        probeIds)
      .where(col("cluster_id").isin(probeIds: _*))
      .withColumn("score", cosine(col(vecCol), lit(query.toArray)))
      .orderBy(col("score").desc).limit(k)
  }

  /** Materialize a QUANTIZED IVF index: like [[writeIvfIndex]] but storing
    * int8 codes (tinyint array) + one float scale per vector instead of the
    * float32 array — the index is ~4× smaller, so every probed-cluster scan
    * moves 4× fewer bytes. Full-precision vectors stay in the PRIMARY
    * store; ANN reads rescore candidates against it by id
    * ([[ivfTopKFromIndexQuantized]]).
    */
  def writeIvfIndexQuantized(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Float])], path: String): Unit = {
    import org.apache.spark.sql.SaveMode
    import graft.functions.VectorFunctions
    ivfAssign(df, vecCol, centroids)
      .select(col(idCol), col("cluster_id"),
        transform(VectorFunctions.i8Codes(col(vecCol)), _.cast("byte")).as("codes"),
        VectorFunctions.i8Scale(col(vecCol)).cast("float").as("scale"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cluster_id").parquet(s"$path/vectors")
    val spark = df.sparkSession
    import spark.implicits._
    writeCentroidsSidecar(spark, path, centroids)
  }

  /** ANN over a quantized IVF index with full-precision rescoring: probe
    * clusters (partition-pruned scan of the small code arrays), rank by
    * code-space cosine, keep `rescore` candidates, then join the candidate
    * ids back to `fullPrecision` (broadcast — candidate sets are tiny) and
    * return the exact-cosine top-k. Classic coarse-then-exact ANN: the
    * expensive float vectors are read for `rescore` rows, not the cluster.
    */
  def ivfTopKFromIndexQuantized(spark: SparkSession, path: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 1, rescore: Int = 50): DataFrame = {
    import graft.functions.VectorFunctions
    require(rescore >= k, "rescore candidate count must be >= k")
    val centroids = readIvfCentroids(spark, path)
    val probeIds = probeClusters(centroids, query, nProbe)
    val qCodes = {
      // quantize the query driver-side with the same floor(x+0.5) rule
      val maxAbs = query.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
      val s = maxAbs / 127.0
      if (s == 0.0) query.map(_ => 0) else query.map(x => math.floor(x / s + 0.5).toInt)
    }
    val candidates = StoreParquet.openPartitions(spark, s"$path/vectors",
        "cluster_id", probeIds)
      .where(col("cluster_id").isin(probeIds: _*))
      .withColumn("qscore", VectorFunctions.i8Cosine(
        transform(col("codes"), _.cast("int")), lit(qCodes.toArray)))
      .orderBy(col("qscore").desc, col(idCol))
      .limit(rescore)
      .select(col(idCol))
    fullPrecision
      .join(broadcast(candidates), idCol)
      .withColumn("score", cosine(col(vecCol), lit(query.toArray)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------ binary (1-bit) tier

  /** Sign-bit binary quantization: each dimension becomes one bit
    * (coordinate >= 0), packed 64 per long — `array<bigint>` of
    * ceil(dim/64) words. 32× smaller than float32; Hamming distance over
    * the codes is a monotone proxy for angular distance (random-hyperplane
    * LSH with identity projections — the embedding axes are already a
    * rotation of a random projection for learned embeddings). The 100 TB
    * read path: scan 8 bytes/vector instead of 256, XOR+popcount in
    * whole-stage codegen, exact-rescore only the survivors.
    *
    * Entirely built-in expressions (sequence/aggregate/shiftleft) — stays
    * inside codegen; no UDF, no custom expression needed at this tier.
    */
  def binaryCodes(vecCol: String, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    val nWords = (dim + 63) / 64
    // SQL-string form: the lambda variables (w, i) must appear inside
    // shiftleft's shift argument, which the Column DSL only takes as a
    // literal Int.
    expr(s"""transform(sequence(0, ${nWords - 1}), w ->
      aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
        CASE WHEN w * 64 + i < $dim
                  AND element_at($vecCol, w * 64 + i + 1) >= CAST(0.0 AS FLOAT)
             THEN acc | shiftleft(CAST(1 AS BIGINT), i) ELSE acc END))""")
  }

  /** Hamming distance between two packed codes (same word count):
    * popcount of the per-word XOR, summed. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Binary-tier ANN top-k: rank by Hamming distance on the packed codes,
    * keep `k * rescoreFactor` candidates (ties by id — deterministic),
    * exact-cosine rescore the survivors. The candidate scan reads ONLY the
    * code column (bounded bytes/row); full-precision vectors are joined
    * back for the tiny candidate set only.
    */
  def binaryTopK(index: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], dim: Int, k: Int, rescoreFactor: Int = 4): DataFrame = {
    require(query.length == dim, s"query dim ${query.length} != $dim")
    val qCode = packBits(query.map(_ >= 0f))
    val candidates = index
      .withColumn("_code", binaryCodes(vecCol, dim))
      .withColumn("hamming", hammingDistance(col("_code"), lit(qCode)))
      .orderBy(col("hamming").asc, col(idCol).asc) // TakeOrderedAndProject
      .limit(k * rescoreFactor)
      .select(col(idCol), col("hamming"))
    index
      .join(broadcast(candidates), idCol)
      .withColumn("score", cosine(col(vecCol), lit(query.toArray)))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------------- matryoshka prefix tier

  /** Matryoshka / adaptive retrieval (Kusupati et al. 2022, public):
    * MRL-trained embeddings order information by coordinate, so the first
    * `prefixDim` dims are themselves a usable embedding. Funnel search:
    * rank candidates by cosine on the prefix (reads prefixDim/dim of the
    * bytes), exact-rescore the survivors at full dimension. Cosine is
    * scale-invariant, so no renormalization step is needed for ranking —
    * the prefix slice IS the truncated embedding up to a constant factor.
    */
  def matryoshkaTopK(index: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], prefixDim: Int, k: Int,
      rescoreFactor: Int = 4): DataFrame = {
    require(prefixDim > 0 && prefixDim <= query.length,
      s"prefixDim $prefixDim out of range for dim ${query.length}")
    val qPrefix = lit(query.take(prefixDim).toArray)
    val candidates = index
      .withColumn("prefix_score",
        cosine(slice(col(vecCol), 1, prefixDim), qPrefix))
      .orderBy(col("prefix_score").desc, col(idCol).asc)
      .limit(k * rescoreFactor)
      .select(col(idCol), col("prefix_score"))
    index
      .join(broadcast(candidates), idCol)
      .withColumn("score", cosine(col(vecCol), lit(query.toArray)))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Driver-side bit packing (for query vectors — one row, never data). */
  def packBits(bits: Seq[Boolean]): Array[Long] = {
    val words = new Array[Long]((bits.length + 63) / 64)
    bits.zipWithIndex.foreach { case (b, i) =>
      if (b) words(i / 64) |= (1L << (i % 64))
    }
    words
  }

  // ---------------------------------------- product quantization (PQ/ADC) ---

  /** PQ codebooks: `centers(s)(j)` = center j of subspace s, a `subdim`-long
    * vector in int8-CODE space (the q75 quantization — integer coordinates
    * for the sampled builder, kmeans means for the trained builder). Tiny by
    * construction (m × ksub × subdim floats, e.g. 8×16×8 = 1 KiB), so
    * codebooks live driver-side and enter plans as broadcast literals, the
    * [[ivfAssign]] discipline.
    */
  final case class PqCodebooks(dim: Int, m: Int, ksub: Int,
      centers: Seq[IndexedSeq[Array[Float]]]) {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(centers.length == m && centers.forall(_.length == ksub),
      "centers must be m × ksub")
    val subdim: Int = dim / m
  }

  /** DETERMINISTIC PQ codebooks by md5-ranked sampling — the
    * oracle-checkable tier (the q112 discipline: a fixed md5-derived
    * construction instead of a PRNG, so DuckDB replays it exactly).
    * Center j of subspace s = the s-th code-subvector of the row with the
    * (j+1)-th smallest `md5(s || '|' || id)` (60-bit int, ties by id) —
    * kmeans++-style "centers are data points", no Lloyd iterations, which
    * keeps every later distance integer-exact (centers have integer
    * coordinates). Lower recall than trained codebooks at equal (m, ksub);
    * [[pqTrainCodebooks]] is the quality tier, this is the determinism tier.
    *
    * Scale shape: the ranking pass carries only (s, id, hash) tuples — the
    * window shuffle never moves vectors — and the m×ksub selected rows come
    * back through a broadcast semi-join. At 100 TB you would hash-sample the
    * corpus to ~1e6 rows first (Sampling.hashSample); codebooks are
    * estimates, the sample suffices.
    */
  def pqSampledCodebooks(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int): PqCodebooks = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    sampledCodebooksOf(df.select(col(idCol).as("_id"),
      i8Codes(col(vecCol)).cast("array<float>").as("_c")), dim, m, ksub)
  }

  /** [[pqSampledCodebooks]]'s body over an ALREADY-ENCODED (_id, _c)
    * frame — the code space is the caller's choice (per-vector i8 for the
    * flat tiers, fixed-point residuals for [[pqResidualSampledCodebooks]]).
    * The md5 ranking depends only on (s, _id), so two builders over the
    * same ids pick the same ROWS and differ only in the code geometry.
    */
  private def sampledCodebooksOf(codes: DataFrame,
      dim: Int, m: Int, ksub: Int): PqCodebooks = {
    val subdim = dim / m
    val ranked = codes.select(col("_id"))
      .crossJoin(spark_range_df(codes, m))
      .withColumn("_h", org.apache.spark.sql.graft.HashColumns.md5PrefixLong(
        concat(col("_s").cast("string"), lit("|"), col("_id").cast("string"))))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("_s").orderBy(col("_h"), col("_id"))))
      .where(col("_rk") <= ksub)
    val picked = ranked.join(codes, "_id")
      .select(col("_s"), col("_rk"), col("_c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val centers = (0 until m).map { s =>
      picked.filter(_._1 == s).sortBy(_._2)
        .map { case (_, _, c) => c.slice(s * subdim, (s + 1) * subdim) }
        .toIndexedSeq
    }
    require(centers.forall(_.length == ksub),
      s"corpus has fewer than ksub=$ksub rows")
    PqCodebooks(dim, m, ksub, centers)
  }

  /** tiny helper: a 1-column (_s: int) frame with values 0..m-1, built from
    * `df`'s session so the cross join stays a local broadcast of m rows
    */
  private def spark_range_df(df: DataFrame, m: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    broadcast((0 until m).toDF("_s"))
  }

  /** TRAINED PQ codebooks: seeded MLlib KMeans per subspace over the int8
    * code space (same space as the sampled builder, so [[pqEncode]] /
    * [[pqTopK]] serve both). Deterministic given the same data + seed, but
    * not engine-portable (Lloyd means are data-order-hardened floats, not
    * replayable in SQL) — quality is pinned by the RecallBench staircase +
    * SearchSpec floors instead of a DuckDB oracle, like the IVF tiers.
    */
  def pqTrainCodebooks(df: DataFrame, vecCol: String, dim: Int, m: Int,
      ksub: Int, seed: Long = 42L, maxIter: Int = 20): PqCodebooks = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    trainedCodebooksOf(df.select(
      i8Codes(col(vecCol)).cast("array<float>").as("_c")), dim, m, ksub,
      seed, maxIter)
  }

  /** [[pqTrainCodebooks]]'s body over an already-encoded (_c) frame — the
    * trained twin of [[sampledCodebooksOf]].
    */
  private def trainedCodebooksOf(df: DataFrame, dim: Int, m: Int,
      ksub: Int, seed: Long, maxIter: Int): PqCodebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val subdim = dim / m
    val codes = df.select(col("_c")).persist()
    try {
      val centers = (0 until m).map { s =>
        val prepared = codes.select(array_to_vector(
          slice(col("_c"), s * subdim + 1, subdim).cast("array<double>")).as("_features"))
        val model = new KMeans().setK(ksub).setSeed(seed + s).setMaxIter(maxIter)
          .setFeaturesCol("_features").fit(prepared)
        model.clusterCenters.map(_.toArray.map(_.toFloat)).toIndexedSeq
      }
      PqCodebooks(dim, m, ksub, centers)
    } finally { codes.unpersist(); () }
  }

  /** An OPQ model: a learned ORTHOGONAL rotation applied before product
    * quantization, plus the codebooks trained in the rotated space.
    * Rotating first lets the m independent subspaces share the corpus's
    * variance instead of inheriting whatever the raw coordinate order
    * happens to couple — the standard next rung above plain PQ (Ge et
    * al. 2013, "Optimized Product Quantization"; VERDICT r10 item 5).
    * Rotation preserves inner products, so the ADC scan approximates the
    * same similarity; the exact rescore still runs on ORIGINAL vectors.
    */
  case class OpqModel(rotation: IndexedSeq[Array[Float]], cb: PqCodebooks) {
    require(rotation.nonEmpty && rotation.forall(_.length == rotation.length),
      "rotation must be square")
    require(rotation.length == cb.dim, "rotation dim must match codebooks")
  }

  /** R·vec as ONE codegen'd mat-vec kernel over the rotation (held as
    * one primitive array, [[org.apache.spark.sql.graft.FloatMatrixExpr]]) —
    * narrow, whole-stage codegen, no shuffle. Previously composed as d
    * independent `dot(vec, row_i)` expressions in one `array(...)`: at
    * dim 768 that projection's generated method blew janino's 64 KB
    * bytecode limit and the rotation silently ran INTERPRETED (the only
    * janino failures in the whole build, caught by the round-17 live
    * fallback census). [[org.apache.spark.sql.graft.MatVecFloatExpr]]'s
    * generated code is one nested loop, size-independent of the
    * dimension, bit-identical accumulation (VectorExprSpec pins it
    * against the composed form at dims 4 and 768).
    */
  def rotateCol(vec: Column, rotation: IndexedSeq[Array[Float]]): Column =
    org.apache.spark.sql.graft.VectorColumns.matVecFloat(vec,
      org.apache.spark.sql.graft.VectorColumns.floatMatrix(rotation))

  /** Driver-side R·q with the same left-to-right double accumulation as
    * the fused dot kernel.
    */
  private def rotateQuery(rotation: IndexedSeq[Array[Float]],
      q: Seq[Float]): Seq[Float] =
    rotation.map { row =>
      var acc = 0.0
      var j = 0
      while (j < row.length) { acc += row(j).toDouble * q(j).toDouble; j += 1 }
      acc.toFloat
    }

  /** Train an OPQ model (non-parametric alternation): starting from the
    * identity rotation, repeat — (1) train per-subspace codebooks on the
    * i8 codes of the ROTATED corpus ([[pqTrainCodebooks]], same seed every
    * round so the alternation, not the RNG, drives the improvement);
    * (2) reconstruct each row in float space (per-row i8 scale × the
    * concatenated winning centers) and solve the orthogonal Procrustes
    * problem min_R ‖R·x − x̂‖² — R = U·Vᵀ from the SVD of the d×d
    * cross-covariance Σ x̂ xᵀ (driver-side breeze SVD; the matrix itself
    * reduces distributively via treeAggregate, d² doubles per partition
    * buffer, vectors never shuffle).
    *
    * Deterministic for a fixed input partitioning + seed (the d×d
    * reduction is a float sum in combiner order — same caveat as every
    * MLlib tier); NOT engine-portable, so quality is pinned by the
    * RecallBench staircase + SearchSpec floors, the trained-PQ
    * discipline. At 100 TB: train on a hash-sample
    * (Sampling.sampleByHash) — codebooks and rotations are estimates,
    * the sample suffices; encoding applies the frozen model corpus-wide.
    */
  def opqTrainCodebooks(df: DataFrame, vecCol: String, dim: Int, m: Int,
      ksub: Int, seed: Long = 42L, maxIter: Int = 20,
      opqIters: Int = 4): OpqModel = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(opqIters > 0, s"opqIters must be positive, got $opqIters")
    val spark = df.sparkSession
    import spark.implicits._
    var rotation: IndexedSeq[Array[Float]] = (0 until dim).map { i =>
      val r = new Array[Float](dim); r(i) = 1f; r
    }
    var cb: PqCodebooks = null
    for (it <- 0 until opqIters) {
      val withRot = df.select(col(vecCol).as("_x"),
        rotateCol(col(vecCol), rotation).as("_rv"))
      cb = pqTrainCodebooks(withRot, "_rv", dim, m, ksub, seed, maxIter)
      if (it < opqIters - 1) {
        // staged projections (the pqEncode discipline): codes, scale and
        // the pq code array each materialize as attributes before the
        // next stage references them repeatedly — an inline nesting is
        // re-evaluated per reference once the tree exceeds codegen's
        // limits (dim 768: 8 element_at × m slices × ksub dots over a
        // per-element-scale i8 transform measured HOURS interpreted;
        // staged, the same pass is seconds)
        val enc = withRot.select(col("_x"), col("_rv"),
          i8Codes(col("_rv")).cast("array<float>").as("_codes"),
          i8Scale(col("_rv")).as("_scale"))
        val encoded = enc.select(col("_x"), col("_scale"),
          pqEncodeCol(col("_codes"), cb).as("_pq"))
        val recon = concat((0 until m).map { s =>
          element_at(typedLit(cb.centers(s).map(_.toSeq)),
            element_at(col("_pq"), s + 1) + 1)
        }: _*)
        val y = transform(recon, c => c.cast("double") * col("_scale"))
        val pairs = encoded.select(col("_x"), y.as("_y"))
          .as[(Array[Float], Array[Double])]
        val M = pairs.rdd.treeAggregate(new Array[Double](dim * dim))(
          (acc, xy) => {
            val (x, yv) = xy
            var i = 0
            while (i < dim) {
              val yi = yv(i)
              var j = 0
              while (j < dim) { acc(i * dim + j) += yi * x(j).toDouble; j += 1 }
              i += 1
            }
            acc
          },
          (a, b) => {
            var i = 0
            while (i < dim * dim) { a(i) += b(i); i += 1 }
            a
          })
        val mb = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
        for (i <- 0 until dim; j <- 0 until dim) mb(i, j) = M(i * dim + j)
        val decomp = breeze.linalg.svd(mb)
        val r = decomp.U * decomp.Vt
        rotation = (0 until dim).map { i =>
          Array.tabulate(dim)(j => r(i, j).toFloat)
        }
      }
    }
    OpqModel(rotation, cb)
  }

  /** (id, R·vec as `vecCol`) — the rotated frame every OPQ encode takes. */
  private[graft] def rotated(df: DataFrame, idCol: String, vecCol: String,
      rotation: IndexedSeq[Array[Float]]): DataFrame =
    df.select(col(idCol), rotateCol(col(vecCol), rotation).as(vecCol))

  /** Encode with an OPQ model: rotate, then the plain PQ encoder. */
  def opqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: OpqModel): DataFrame =
    pqEncode(rotated(df, idCol, vecCol, model.rotation), idCol, vecCol,
      model.cb)

  /** OPQ ANN top-k: ADC tables from the ROTATED query over the
    * rotated-space codebooks; the exact rescore runs on the ORIGINAL
    * vectors with the ORIGINAL query (rotation preserves cosine
    * mathematically, and keeping the rescore in the primary space keeps
    * it bit-identical to exact search).
    */
  def opqTopK(encoded: DataFrame, fullPrecision: DataFrame, idCol: String,
      vecCol: String, model: OpqModel, query: Seq[Float], k: Int,
      rescore: Int = 50): DataFrame = {
    val tables = pqAdcTables(model.cb,
      pqQueryCodes(rotateQuery(model.rotation, query)))
    pqTopKCore(encoded, fullPrecision, idCol, vecCol, tables, query, k, rescore)
  }

  /** Persist an OPQ index: the PQ byte-code store + codebook sidecar,
    * plus a `rotation` sidecar ((i, row) rows). Re-readable with no
    * session state; appends reuse [[appendPqIndex]] on the rotated batch.
    */
  def opqWriteIndex(df: DataFrame, idCol: String, vecCol: String,
      model: OpqModel, path: String): Long = {
    val n = pqWriteIndex(rotated(df, idCol, vecCol, model.rotation), idCol,
      vecCol, model.cb, path)
    val spark = df.sparkSession
    // driver-local model rows → driver-side write, zero jobs (r20)
    graft.sources.SidecarParquet.writeFlat(s"$path/rotation",
      spark.sparkContext.hadoopConfiguration,
      Seq("i" -> "int", "row" -> "floatarray"),
      model.rotation.zipWithIndex.map { case (row, i) => Seq[Any](i, row) })
    n
  }

  /** Load a persisted OPQ model (codebook + rotation sidecars) —
    * driver-side parquet reads, zero Spark jobs ([[readIvfCentroids]]'s
    * rationale).
    */
  def readOpqModel(spark: SparkSession, path: String): OpqModel = {
    import graft.sources.SidecarParquet
    val rows = SidecarParquet.readGroups(s"$path/rotation",
        spark.sparkContext.hadoopConfiguration)
      .map(g => (SidecarParquet.intAt(g, "i"),
        SidecarParquet.floatArrayAt(g, "row")))
      .sortBy(_._1).map(_._2)
    OpqModel(rows.toIndexedSeq, readPqCodebooks(spark, path))
  }

  /** ANN top-k against a persisted OPQ index. */
  def opqTopKFromIndex(spark: SparkSession, path: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, rescore: Int = 50): DataFrame = {
    requireConsistentModel(spark, path, "opqTopKFromIndex")
    val model = readOpqModel(spark, path)
    val encoded = StoreParquet.open(spark, s"$path/codes")
      .select(col(idCol), transform(col("pq_codes"), _.cast("int")).as("pq_codes"))
    opqTopK(encoded, fullPrecision, idCol, vecCol, model, query, k, rescore)
  }

  /** Incrementally maintain a persisted OPQ index: rotate the batch with
    * the FROZEN rotation sidecar, then the PQ append contract (frozen
    * codebooks, id anti-join idempotency).
    */
  def appendOpqIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Long =
    VectorStores.append(VectorStores.Opq, "appendOpqIndex", batch, idCol,
      vecCol, path)

  /** The PQ code array (m small ints) for an i8-code column: per subspace,
    * the argmin-L2 center. Ranking key = c·c − 2·(sub·c) (the ||sub||² term
    * is constant per row, dropped); with integer-coordinate centers every
    * product ≤ 127² and every sum ≤ subdim·2·127² < 2⁵³, so the double
    * accumulation in the fused dot kernel is EXACT and the argmin (ties →
    * lowest j, via struct ordering) is engine-portable. Fully codegen'd:
    * m × ksub fused-dot calls + one array_min per subspace, no UDF.
    */
  def pqEncodeCol(codesCol: Column, cb: PqCodebooks): Column =
    array((0 until cb.m).map { s =>
      val sub = slice(codesCol, s * cb.subdim + 1, cb.subdim)
      val cands = array(cb.centers(s).zipWithIndex.map { case (c, j) =>
        val cNorm = c.foldLeft(0.0)((acc, x) => acc + x.toDouble * x)
        struct((lit(cNorm) - lit(2.0) * dot(sub, typedLit(c.toSeq))).as("d"),
          lit(j).as("j"))
      }: _*)
      array_min(cands).getField("j")
    }: _*)

  /** Encode a vector column into PQ codes: (id, pq_codes array<int> of
    * length m). m bytes of payload per vector once stored ([[pqWriteIndex]]
    * casts to tinyint) vs 4·dim for float32 — 32× smaller at dim=64/m=8,
    * the compression rung between int8 (4×, q75) and 1-bit (32× but
    * sign-only, q92): PQ keeps a learned/sampled per-subspace geometry, so
    * equal bytes buy more recall.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebooks): DataFrame =
    // TWO projections, not one nested expression: pqEncodeCol slices its
    // codes argument m times (each feeding ksub dots), so an INLINE
    // i8Codes expression would be re-evaluated per reference whenever the
    // tree falls out of whole-stage codegen and its subexpression
    // elimination — which it does past ~100 dims (the dim-768 audit,
    // VERDICT r11 item 7: interpreted eval has no CSE, and i8Codes
    // itself re-evaluates its scale per element, making the fallback
    // quadratic in dim per reference). Materializing the codes as an
    // attribute makes every slice reference cheap; Catalyst's
    // CollapseProject keeps the boundary (multi-referenced non-cheap
    // producer), and under codegen the fused plan is the same work as
    // before.
    df.select(col(idCol), i8Codes(col(vecCol)).cast("array<float>").as("__i8"))
      .select(col(idCol), pqEncodeCol(col("__i8"), cb).as("pq_codes"))

  /** Driver-side i8 quantization of a query vector — the same
    * floor(x/s + 0.5) rule as [[graft.functions.VectorFunctions.i8Codes]].
    */
  def pqQueryCodes(query: Seq[Float]): Array[Float] = {
    val maxAbs = query.foldLeft(0.0)((mx, x) => math.max(mx, math.abs(x.toDouble)))
    val s = maxAbs / 127.0
    if (s == 0.0) query.map(_ => 0f).toArray
    else query.map(x => math.floor(x / s + 0.5).toFloat).toArray
  }

  /** ADC (asymmetric distance computation) lookup tables for one query:
    * tables(s)(j) = IP(query-subvector s, center j of subspace s) — m×ksub
    * doubles, built driver-side in microseconds. The scan side then scores
    * a vector as Σ_s tables(s)(code_s): m array lookups per row, no
    * per-row dot products — THE property that makes PQ the 100 TB serving
    * tier (the scan reads m bytes and does m adds per candidate).
    */
  def pqAdcTables(cb: PqCodebooks, qCodes: Array[Float]): Seq[Array[Double]] = {
    require(qCodes.length == cb.dim, s"query dim ${qCodes.length} != ${cb.dim}")
    cb.centers.zipWithIndex.map { case (cents, s) =>
      cents.map { c =>
        var acc = 0.0
        var i = 0
        while (i < cb.subdim) { acc += qCodes(s * cb.subdim + i).toDouble * c(i); i += 1 }
        acc
      }.toArray
    }
  }

  /** The ADC score column: Σ_s tables(s)(pq_codes[s]). The tables enter the
    * plan as literal arrays (KBs); element_at is codegen'd, so the whole
    * score is a WholeStageCodegen span of m lookups + adds.
    */
  def pqAdcScoreCol(pqCodesCol: Column, tables: Seq[Array[Double]]): Column =
    tables.zipWithIndex.map { case (tbl, s) =>
      element_at(typedLit(tbl.toSeq), element_at(pqCodesCol, s + 1) + 1)
    }.reduce(_ + _)

  /** PQ ANN top-k with exact rescore: rank the encoded corpus by ADC score
    * (deterministic — integer arithmetic for integer-coordinate codebooks,
    * ties by id), keep `rescore` candidates, then exact-cosine rescore
    * against the full-precision primary store (broadcast — candidate sets
    * are tiny) and return the true top-k. The candidate scan reads m bytes
    * per vector instead of 4·dim; the float vectors are read for `rescore`
    * rows only — the [[ivfTopKFromIndexQuantized]] coarse-then-exact shape
    * one compression rung further down.
    */
  def pqTopK(encoded: DataFrame, fullPrecision: DataFrame, idCol: String,
      vecCol: String, cb: PqCodebooks, query: Seq[Float], k: Int,
      rescore: Int = 50): DataFrame =
    pqTopKCore(encoded, fullPrecision, idCol, vecCol,
      pqAdcTables(cb, pqQueryCodes(query)), query, k, rescore)

  /** Shared candidate-then-rescore body: ADC rank by the given tables,
    * exact-cosine rescore with `query` against the primary store.
    */
  private def pqTopKCore(encoded: DataFrame, fullPrecision: DataFrame,
      idCol: String, vecCol: String, tables: Seq[Array[Double]],
      query: Seq[Float], k: Int, rescore: Int): DataFrame = {
    require(rescore >= k, "rescore candidate count must be >= k")
    rescoreByAdc(encoded.withColumn("_adc",
      pqAdcScoreCol(col("pq_codes"), tables)), fullPrecision, idCol, vecCol,
      query, k, rescore)
  }

  /** Keep the top-`rescore` rows of `scored` by `_adc` (ties by id), then
    * exact-cosine rescore those ids against the primary store (broadcast —
    * the candidate set is `rescore` ids) and return the top-k.
    */
  private def rescoreByAdc(scored: DataFrame, fullPrecision: DataFrame,
      idCol: String, vecCol: String, query: Seq[Float], k: Int,
      rescore: Int): DataFrame = {
    val candidates = scored
      .orderBy(col("_adc").desc, col(idCol))
      .limit(rescore)
      .select(col(idCol))
    fullPrecision
      .join(broadcast(candidates), idCol)
      .withColumn("score", cosine(col(vecCol), typedLit(query)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Materialize a PQ index: (id, pq_codes array<tinyint>) — m BYTES per
    * vector — plus the codebooks as a tiny sidecar ((s, j, center) rows;
    * dim/m/ksub are recoverable from its shape). ksub ≤ 128 so codes fit
    * signed bytes. Like the other persisted tiers the store is re-readable
    * by [[pqTopKFromIndex]] with no session state.
    */
  def pqWriteIndex(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebooks, path: String): Long = {
    require(cb.ksub <= 128, s"ksub=${cb.ksub} > 128 codes do not fit tinyint")
    val n = VectorStores.writeCounted(pqEncodedBytes(df, idCol, vecCol, cb),
      s"$path/codes")
    writeCodebooksSidecar(df.sparkSession, path, cb)
    n
  }

  /** [[pqEncode]] with the codes narrowed to the stored tinyint array. */
  private[graft] def pqEncodedBytes(df: DataFrame, idCol: String,
      vecCol: String, cb: PqCodebooks): DataFrame =
    pqEncode(df, idCol, vecCol, cb)
      .select(col(idCol), transform(col("pq_codes"), _.cast("byte")).as("pq_codes"))

  /** Load the sidecar codebooks of a persisted PQ index — driver-side
    * parquet read, zero Spark jobs ([[readIvfCentroids]]'s rationale).
    */
  def readPqCodebooks(spark: SparkSession, path: String): PqCodebooks = {
    import graft.sources.SidecarParquet
    val rows = SidecarParquet.readGroups(s"$path/codebooks",
        spark.sparkContext.hadoopConfiguration)
      .map(g => (SidecarParquet.intAt(g, "s"), SidecarParquet.intAt(g, "j"),
        SidecarParquet.floatArrayAt(g, "center")))
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val subdim = rows.head._3.length
    val centers = (0 until m).map { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3).toIndexedSeq
    }
    PqCodebooks(subdim * m, m, ksub, centers)
  }

  /** ANN top-k against a persisted PQ index: codebooks from the sidecar,
    * ADC scan over the byte codes, exact rescore against `fullPrecision`.
    */
  def pqTopKFromIndex(spark: SparkSession, path: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, rescore: Int = 50): DataFrame = {
    requireConsistentModel(spark, path, "pqTopKFromIndex")
    val cb = readPqCodebooks(spark, path)
    val encoded = StoreParquet.open(spark, s"$path/codes")
      .select(col(idCol), transform(col("pq_codes"), _.cast("int")).as("pq_codes"))
    pqTopK(encoded, fullPrecision, idCol, vecCol, cb, query, k, rescore)
  }

  /** Incrementally maintain a persisted PQ index: encode a NEW batch with
    * the FROZEN sidecar codebooks and append — the [[appendIvfIndex]]
    * maintenance contract (frozen quantizer, id anti-join idempotency,
    * job-commit visibility; drift = rebuild, not re-train-per-batch).
    *
    * @return number of NEW vectors appended (0 for a pure replay)
    */
  def appendPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Long =
    VectorStores.append(VectorStores.Pq, "appendPqIndex", batch, idCol,
      vecCol, path)

  // ------------------------------------- composed IVF-PQ index (IVFADC) ---

  /** Materialize the COMPOSED IVF-PQ index — the standard 100 TB ANN
    * serving architecture (IVFADC; Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search", §IV): a coarse quantizer
    * routes every vector to its nearest IVF centroid, and within each
    * cluster the vector is stored as m PQ BYTES. Until now the engine's
    * IVF and PQ tiers were parallel rungs — IVF pruned the scan but read
    * full vectors ([[writeIvfIndex]]) or int8 codes
    * ([[writeIvfIndexQuantized]]), while PQ scanned m-byte codes but over
    * the WHOLE corpus ([[pqWriteIndex]]). Composed, a query reads
    * |probed clusters| × m bytes: the scan cost divides by
    * nClusters/nProbe AND shrinks ~4× vs the int8-quantized tier
    * (VERDICT r11 item 2).
    *
    * Layout: `path/codes` = (id, pq_codes array<tinyint>) parquet
    * PARTITIONED BY cluster_id (partition pruning gives the probed-only
    * read — `PartitionFilters` asserted in SearchSpec); `path/centroids`
    * and `path/codebooks` are the parents' exact sidecar shapes, so
    * [[readIvfCentroids]] and [[readPqCodebooks]] work against this path
    * unchanged. Codes are the PLAIN pq encoding of the vector (not the
    * residual vec − centroid of the original IVFADC): the engine's ADC
    * ranks in the per-vector-scaled i8 code space where the residual
    * inner-product decomposition does not hold, the exact rescore
    * absorbs the ranking difference, and plain codes keep the encoder
    * shared verbatim with the q130-oracle-pinned flat tier — one
    * deterministic, DuckDB-replayable encode for both.
    */
  def writeIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Float])], cb: PqCodebooks,
      path: String): Long = {
    require(cb.ksub <= 128, s"ksub=${cb.ksub} > 128 codes do not fit tinyint")
    val n = VectorStores.writeCounted(
      ivfPqEncoded(df, idCol, vecCol, centroids, cb),
      s"$path/codes", partitionCol = Some("cluster_id"))
    val spark = df.sparkSession
    writeCentroidsSidecar(spark, path, centroids)
    writeCodebooksSidecar(spark, path, cb)
    n
  }

  /** ANN top-k against a persisted [[writeIvfPqIndex]] index: probe
    * clusters chosen driver-side from the centroid sidecar
    * ([[probeClusters]] — nProbe nearest, ties to lowest cid), ADC tables
    * built driver-side from the codebook sidecar (m×ksub doubles,
    * microseconds), then ONE partition-pruned scan of the probed
    * clusters' m-byte codes scored as Σ_s tables(s)(code_s) inside
    * whole-stage codegen, top-`rescore` candidates by (adc desc, id),
    * exact-cosine rescore against the full-precision primary store
    * (broadcast — the candidate set is `rescore` ids). Every stage of the
    * funnel is deterministic, so the result is oracle-checkable (q148)
    * unlike trained-quantizer tiers.
    */
  def ivfPqTopKFromIndex(spark: SparkSession, path: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 1,
      rescore: Int = 50): DataFrame = {
    require(rescore >= k, "rescore candidate count must be >= k")
    VectorStores.requireEncoding(VectorStores.IvfPq, spark, path,
      "ivfPqTopKFromIndex")
    requireConsistentModel(spark, path, "ivfPqTopKFromIndex")
    val centroids = readIvfCentroids(spark, path)
    val cb = readPqCodebooks(spark, path)
    val probeIds = probeClusters(centroids, query, nProbe)
    pqTopKCore(StoreParquet.openPartitions(spark, s"$path/codes",
        "cluster_id", probeIds)
      .where(col("cluster_id").isin(probeIds: _*))
      .select(col(idCol),
        transform(col("pq_codes"), _.cast("int")).as("pq_codes")),
      fullPrecision, idCol, vecCol, pqAdcTables(cb, pqQueryCodes(query)),
      query, k, rescore)
  }

  /** (id, cluster_id, pq_codes tinyint) for a vector batch under frozen
    * models — the shared encode of the IVF-PQ write/append/update paths.
    * The i8 codes stage as a materialized attribute for the same reason
    * as [[pqEncode]]: inline, the nesting falls out of whole-stage
    * codegen past ~100 dims and interpreted eval re-computes the i8
    * scale per pqEncodeCol reference (the dim-768 audit, VERDICT r11
    * item 7) — quadratic in dim; staged, every slice reference is cheap
    * and under codegen the plan is the same work as the fused form.
    */
  private[graft] def ivfPqEncoded(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Float])], cb: PqCodebooks): DataFrame =
    ivfAssign(df, vecCol, centroids)
      .select(col(idCol), col("cluster_id"),
        i8Codes(col(vecCol)).cast("array<float>").as("__i8"))
      .select(col(idCol), col("cluster_id"),
        transform(pqEncodeCol(col("__i8"), cb), _.cast("byte")).as("pq_codes"))

  /** Incrementally maintain a persisted IVF-PQ index: assign + encode a
    * NEW batch with BOTH frozen sidecar models (coarse centroids AND
    * codebooks) and append into the cluster-partitioned code store — the
    * [[appendIvfIndex]]/[[appendPqIndex]] maintenance contract (frozen
    * quantizers, id anti-join idempotency over a column-pruned id scan,
    * job-commit visibility; drift = [[ivfDriftStats]] on the assignment,
    * rebuild when the frozen models stop fitting).
    *
    * @return number of NEW vectors appended (0 for a pure replay)
    */
  def appendIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Long =
    VectorStores.append(VectorStores.IvfPq, "appendIvfPqIndex", batch, idCol,
      vecCol, path)

  /** The delete half of IVF-PQ index maintenance — the
    * [[removeFromIvfIndex]] contract on the composed store: copy the
    * cluster-partitioned code store minus the given ids into a NEW
    * directory (job-commit all-or-nothing; the caller swaps atomically),
    * both frozen-model sidecars verbatim (deletion moves neither
    * quantizer). With [[appendIvfPqIndex]] this completes the tier's
    * CRUD story: UPDATE = remove(changed) + append(changed), the
    * [[graft.operators.Snapshots]] composition q149 oracle-proves for
    * the parent indexes.
    *
    * @return number of surviving vectors
    */
  def removeFromIvfPqIndex(spark: SparkSession, srcPath: String,
      dstPath: String, removeIds: DataFrame, idCol: String): Long =
    VectorStores.remove(VectorStores.IvfPq, "removeFromIvfPqIndex", spark,
      srcPath, dstPath, removeIds, idCol)

  /** FUSED IVF-PQ update — the [[updateIvfIndex]] contract on the
    * composed store: source codes minus `retireIds` minus the refresh
    * batch's ids, plus the batch assigned+encoded under BOTH frozen
    * models, in one cluster-partitioned write. Same new-directory swap
    * contract; both sidecars copy verbatim.
    *
    * @return number of vectors in the new index
    */
  def updateIvfPqIndex(spark: SparkSession, srcPath: String, dstPath: String,
      retireIds: DataFrame, refreshBatch: DataFrame,
      idCol: String, vecCol: String): Long =
    VectorStores.update(VectorStores.IvfPq, "updateIvfPqIndex", spark,
      srcPath, dstPath, retireIds, refreshBatch, idCol, vecCol)

  // ------------------------------------------- residual IVF-PQ (IVFADC) ---

  /** (id, cluster_id, _r) fixed-point residuals under frozen coarse
    * centroids: `_r = fpCodes(vec) − fpCodes(centroid(cluster))`,
    * element-wise integer subtraction in the GLOBAL fixed-point space
    * ([[graft.functions.VectorFunctions.fpCodes]] — one shared scale, so
    * the subtraction is meaningful across vectors, unlike the per-vector
    * i8 space where it is not; that linearity is the whole point of this
    * tier). One narrow projection: the codegen'd nearest-centroid argmax
    * ([[ivfAssign]]), a literal-map centroid lookup, one zip_with — no
    * join, no shuffle, exact integers end to end.
    */
  def ivfFpResiduals(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Float])]): DataFrame = {
    import graft.functions.VectorFunctions.{fpCodes, fpCodesLocal}
    val centFp = typedLit(centroids.map { case (cid, v) =>
      cid -> fpCodesLocal(v.toSeq).toSeq
    }.toMap)
    ivfAssign(df, vecCol, centroids)
      .select(col(idCol), col("cluster_id"),
        zip_with(fpCodes(col(vecCol)).cast("array<float>"),
          element_at(centFp, col("cluster_id")),
          (a, b) => a - b).as("_r"))
  }

  /** Deterministic (md5-sampled, DuckDB-replayable) PQ codebooks over the
    * RESIDUAL space of `centroids` — the oracle tier for
    * [[writeIvfPqResidualIndex]] (q151). Same row selection as
    * [[pqSampledCodebooks]] (the ranking hashes only ids); the centers
    * are residual sub-vectors, so they model the LOCAL geometry around
    * each coarse centroid instead of the global cloud — the reason
    * residual PQ outranks plain PQ at equal bytes (Jégou et al. 2011 §IV:
    * residual energy is a fraction of vector energy, so the same ksub
    * cells quantize it finer).
    */
  def pqResidualSampledCodebooks(df: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Int, Array[Float])],
      dim: Int, m: Int, ksub: Int): PqCodebooks = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    sampledCodebooksOf(ivfFpResiduals(df, idCol, vecCol, centroids)
      .select(col(idCol).as("_id"), col("_r").as("_c")), dim, m, ksub)
  }

  /** Seeded-KMeans codebooks over the residual space — the quality tier
    * (RecallBench `ivfpqres` staircase), like [[pqTrainCodebooks]] vs
    * [[pqSampledCodebooks]].
    */
  def pqResidualTrainCodebooks(df: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Int, Array[Float])], dim: Int,
      m: Int, ksub: Int, seed: Long = 42L, maxIter: Int = 20): PqCodebooks = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    trainedCodebooksOf(ivfFpResiduals(df, idCol, vecCol, centroids)
      .select(col("_r").as("_c")), dim, m, ksub, seed, maxIter)
  }

  /** (id, cluster_id, pq_codes tinyint) under frozen coarse centroids AND
    * frozen residual codebooks — the shared encode of the residual
    * write/append/update paths. The residual stages as a materialized
    * attribute before [[pqEncodeCol]] consumes it m×ksub times (the
    * [[pqEncode]] interpreted-eval discipline).
    */
  private[graft] def ivfPqResidualEncoded(df: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[(Int, Array[Float])],
      cb: PqCodebooks): DataFrame =
    ivfFpResiduals(df, idCol, vecCol, centroids)
      .select(col(idCol), col("cluster_id"),
        transform(pqEncodeCol(col("_r"), cb), _.cast("byte")).as("pq_codes"))

  /** Materialize the RESIDUAL IVF-PQ index — the original IVFADC encoding
    * (Jégou et al. 2011 §IV): each vector stores the PQ codes of its
    * residual `v − c(v)` against its coarse centroid, not of the vector
    * itself. [[writeIvfPqIndex]]'s plain codes quantize the global cloud;
    * residual codes quantize only the within-cluster displacement, whose
    * energy is a fraction of the vector's — the same m bytes rank
    * measurably better at TIGHT rescore budgets (the plain tier's ranking
    * loss is absorbed only when rescore is generous). Everything runs in
    * the GLOBAL fixed-point integer space
    * ([[graft.functions.VectorFunctions.fpCodes]]), where the residual
    * decomposition `q·v ≈ q·c + q·r` holds exactly and every distance is
    * integer-exact — deterministic, engine-portable, DuckDB-replayable
    * (q151), unlike a float residual pipeline.
    *
    * Layout = [[writeIvfPqIndex]]'s (codes partitioned by cluster_id,
    * centroid + codebook sidecars in the parents' shapes) plus an
    * `encoding='fp_residual'` marker sidecar; both families refuse each
    * other's stores, so the two ADC semantics can never be crossed.
    * Scale posture unchanged: a query reads |probed clusters| × m bytes,
    * partition-pruned; the shared ADC table set (m × ksub doubles) and
    * the nProbe per-cluster offsets are driver-side microseconds.
    */
  def writeIvfPqResidualIndex(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Float])], cb: PqCodebooks,
      path: String): Long = {
    require(cb.ksub <= 128, s"ksub=${cb.ksub} > 128 codes do not fit tinyint")
    val n = VectorStores.writeCounted(
      ivfPqResidualEncoded(df, idCol, vecCol, centroids, cb),
      s"$path/codes", partitionCol = Some("cluster_id"))
    val spark = df.sparkSession
    writeCentroidsSidecar(spark, path, centroids)
    writeCodebooksSidecar(spark, path, cb)
    // driver-local marker → driver-side write, zero jobs (r20)
    graft.sources.SidecarParquet.writeFlat(s"$path/encoding",
      spark.sparkContext.hadoopConfiguration,
      Seq("encoding" -> "string"), Seq(Seq("fp_residual")))
    n
  }

  /** The ADC candidate stage of [[ivfPqResidualTopKFromIndex]]: one
    * partition-pruned scan of the probed clusters scored by the residual
    * decomposition `fp(q)·v̂ = fp(q)·fp(c) + fp(q)·r̂` — ONE shared ADC
    * table set built from `fp(q)` itself (inner-product tables depend only
    * on the query and the codebooks; `tables(s)(code_s)` sums to
    * `fp(q)·r̂`) plus a per-cluster scalar offset `fp(q)·fp(c)` looked up
    * from a literal map on the partition column. A table set built from
    * the QUERY RESIDUAL `fp(q)−fp(c)` — the L2-table recipe — would score
    * `fp(q)·v̂ − fp(c)·r̂`, a per-vector bias that distorts exactly the
    * ranking the residual tier exists to sharpen (ADVICE r12); this form
    * is pinned ≡ a driver-side exact fixed-point inner product in
    * SearchSpec. Exposed so specs and q151's oracle replay can see the
    * pre-rescore scores; returns (idCol, cluster_id, _adc).
    */
  def ivfPqResidualAdcScores(spark: SparkSession, path: String,
      idCol: String, query: Seq[Float], nProbe: Int): DataFrame = {
    import graft.functions.VectorFunctions.fpCodesLocal
    VectorStores.requireEncoding(VectorStores.IvfPqResidual, spark, path,
      "ivfPqResidualAdcScores")
    requireConsistentModel(spark, path, "ivfPqResidualAdcScores")
    val centroids = readIvfCentroids(spark, path)
    val cb = readPqCodebooks(spark, path)
    val probeIds = probeClusters(centroids, query, nProbe)
    val qFp = fpCodesLocal(query)
    val byId = centroids.toMap
    val tables = pqAdcTables(cb, qFp)
    val offsets = probeIds.map { cid =>
      val cFp = fpCodesLocal(byId(cid).toSeq)
      cid -> qFp.zip(cFp).foldLeft(0.0) { case (acc, (a, b)) =>
        acc + a.toDouble * b.toDouble
      }
    }.toMap
    StoreParquet.openPartitions(spark, s"$path/codes", "cluster_id",
        probeIds)
      .where(col("cluster_id").isin(probeIds: _*))
      .select(col(idCol), col("cluster_id"),
        transform(col("pq_codes"), _.cast("int")).as("pq_codes"))
      .withColumn("_adc", pqAdcScoreCol(col("pq_codes"), tables) +
        element_at(typedLit(offsets), col("cluster_id")))
      .select(col(idCol), col("cluster_id"), col("_adc"))
  }

  /** ANN top-k against a persisted [[writeIvfPqResidualIndex]] index.
    * Same funnel as [[ivfPqTopKFromIndex]] — driver-side probe selection,
    * one partition-pruned scan, ADC inside whole-stage codegen, exact
    * rescore — but the ADC realizes the residual decomposition
    * ([[ivfPqResidualAdcScores]]): `score = fp(q)·fp(c) + fp(q)·r̂ =
    * fp(q)·v̂`, integer-exact end to end, so the ranking is deterministic,
    * DuckDB-replayable (q151) and cross-cluster comparable — the plain
    * tier's scale-free ADC compares i8 directions only, which is exactly
    * what residual coding fixes.
    */
  def ivfPqResidualTopKFromIndex(spark: SparkSession, path: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 1,
      rescore: Int = 50): DataFrame = {
    require(rescore >= k, "rescore candidate count must be >= k")
    rescoreByAdc(ivfPqResidualAdcScores(spark, path, idCol, query, nProbe),
      fullPrecision, idCol, vecCol, query, k, rescore)
  }

  /** Incrementally maintain a persisted residual index — the
    * [[appendIvfPqIndex]] contract (BOTH models frozen, id anti-join
    * idempotency, job-commit visibility) with the residual encode.
    *
    * @return number of NEW vectors appended (0 for a pure replay)
    */
  def appendIvfPqResidualIndex(batch: DataFrame, idCol: String,
      vecCol: String, path: String): Long =
    VectorStores.append(VectorStores.IvfPqResidual,
      "appendIvfPqResidualIndex", batch, idCol, vecCol, path)

  /** The delete half of residual-index maintenance
    * ([[removeFromIvfPqIndex]]'s contract; the encoding marker rides
    * along — dropping it would silently demote the store to plain-code
    * semantics).
    *
    * @return number of surviving vectors
    */
  def removeFromIvfPqResidualIndex(spark: SparkSession, srcPath: String,
      dstPath: String, removeIds: DataFrame, idCol: String): Long =
    VectorStores.remove(VectorStores.IvfPqResidual,
      "removeFromIvfPqResidualIndex", spark, srcPath, dstPath, removeIds, idCol)

  /** FUSED residual-index update — [[updateIvfPqIndex]]'s one-write
    * contract with the residual encode; all three sidecars copy verbatim.
    *
    * @return number of vectors in the new index
    */
  def updateIvfPqResidualIndex(spark: SparkSession, srcPath: String,
      dstPath: String, retireIds: DataFrame, refreshBatch: DataFrame,
      idCol: String, vecCol: String): Long =
    VectorStores.update(VectorStores.IvfPqResidual,
      "updateIvfPqResidualIndex", spark, srcPath, dstPath, retireIds,
      refreshBatch, idCol, vecCol)

  /** The delete half of flat-PQ index maintenance (same contract as
    * [[removeFromIvfPqIndex]], minus the coarse partitioning — the code
    * store is id-keyed flat parquet).
    *
    * @return number of surviving vectors
    */
  def removeFromPqIndex(spark: SparkSession, srcPath: String,
      dstPath: String, removeIds: DataFrame, idCol: String): Long =
    VectorStores.remove(VectorStores.Pq, "removeFromPqIndex", spark, srcPath,
      dstPath, removeIds, idCol)

  /** FUSED flat-PQ update ([[updateIvfIndex]] contract, id-keyed flat
    * code store): survivors and the freshly encoded refresh batch land
    * in one codes write under the frozen codebooks.
    *
    * @return number of vectors in the new index
    */
  def updatePqIndex(spark: SparkSession, srcPath: String, dstPath: String,
      retireIds: DataFrame, refreshBatch: DataFrame,
      idCol: String, vecCol: String): Long =
    VectorStores.update(VectorStores.Pq, "updatePqIndex", spark, srcPath,
      dstPath, retireIds, refreshBatch, idCol, vecCol)

  /** The delete half of OPQ index maintenance: [[removeFromPqIndex]] plus
    * the rotation sidecar copied verbatim.
    *
    * @return number of surviving vectors
    */
  def removeFromOpqIndex(spark: SparkSession, srcPath: String,
      dstPath: String, removeIds: DataFrame, idCol: String): Long =
    VectorStores.remove(VectorStores.Opq, "removeFromOpqIndex", spark,
      srcPath, dstPath, removeIds, idCol)

  /** FUSED OPQ update: the [[updatePqIndex]] contract with the refresh
    * batch rotated under the frozen rotation; the rotation sidecar copies
    * verbatim.
    *
    * @return number of vectors in the new index
    */
  def updateOpqIndex(spark: SparkSession, srcPath: String, dstPath: String,
      retireIds: DataFrame, refreshBatch: DataFrame,
      idCol: String, vecCol: String): Long =
    VectorStores.update(VectorStores.Opq, "updateOpqIndex", spark, srcPath,
      dstPath, retireIds, refreshBatch, idCol, vecCol)

  // --------------------------- quantizer refresh (model re-train) ---

  /** Deterministic (md5-ranked, DuckDB-replayable) coarse IVF centroids
    * sampled from the corpus — the oracle-checkable twin of
    * [[kmeansCentroids]], i.e. the [[pqSampledCodebooks]] discipline
    * applied to the coarse tier: centroid cid (0-based) = the vector of
    * the row with the (cid+1)-th smallest `md5(salt || '|' || id)`
    * (60-bit int, ties by id) — kmeans++-style "centers are data
    * points", no Lloyd iterations. Lower quality than
    * [[kmeansCentroids]] at equal k; this is the determinism tier the
    * refresh probes replay in SQL.
    *
    * Scale shape: the ranking pass carries (id, hash) tuples only —
    * vectors come back through a join of the nClusters winning ids. At
    * 100 TB hash-sample the corpus first (Sampling.hashSample);
    * centroids are estimates, the sample suffices.
    */
  def sampledCentroids(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, salt: String = "ivf"): Seq[(Int, Array[Float])] = {
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val picked = centroidRanking(df, idCol, nClusters, salt)
      .join(df.select(col(idCol).as("_id"), col(vecCol).as("_v")), "_id")
      .select(col("_rk"), col("_v"))
      .collect()
      .map(r => (r.getInt(0) - 1, r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    // split diagnostics (ADVICE r14): a join-back that MULTIPLIED rows
    // means duplicate ids, a distinct failure mode from a too-small
    // corpus — and an ambiguous centroid pick, so it refuses rather than
    // returning duplicate ranks
    require(picked.length >= nClusters,
      s"corpus has fewer than nClusters=$nClusters rows")
    require(picked.length == nClusters,
      s"corpus carries duplicate '$idCol' values — the $nClusters ranked " +
        s"ids joined back to ${picked.length} rows; centroid picks would " +
        "be ambiguous, dedupe the id column upstream")
    picked
  }

  /** The md5 rank frame behind [[sampledCentroids]], exposed so the spec
    * can pin its plan: on Spark 4.1 the `<= nClusters` filter over the
    * empty-partition `row_number` window plans as a
    * `TakeOrderedAndProject(limit=nClusters)` feeding the window
    * (per-partition top-k + size-bounded merge; InferWindowGroupLimit is
    * the fallback shape) — a partial top-k BEFORE the single-partition
    * exchange, which is the only reason this global-window shape is
    * acceptable. The spec asserts the node so a regression to a
    * single-task full sort is caught (VERDICT r14 watch).
    */
  private[graft] def centroidRanking(df: DataFrame, idCol: String,
      nClusters: Int, salt: String): DataFrame =
    df.select(col(idCol).as("_id"))
      .withColumn("_h", org.apache.spark.sql.graft.HashColumns.md5PrefixLong(
        concat(lit(salt), lit("|"), col("_id").cast("string"))))
      .withColumn("_rk", row_number().over(
        Window.orderBy(col("_h"), col("_id"))))
      .where(col("_rk") <= nClusters)

  /** Model version of a store: its `model` marker's, 0 for a store that
    * was never refreshed ([[VectorStores]] holds the marker protocol).
    */
  def readModelVersion(spark: SparkSession, path: String): Long =
    VectorStores.readModelVersion(spark, path)

  /** Refuse a store whose artifacts carry another model generation's tags
    * than its `model` marker — a refresh swap that died half-way. Run by
    * every family's `*FromIndex` reader; unmarked stores pass at no cost.
    */
  def requireConsistentModel(spark: SparkSession, path: String,
      op: String): Unit =
    VectorStores.requireConsistentModel(spark, path, op)

  /** Re-train the coarse quantizer of a persisted IVF index on the
    * CURRENT corpus and rebuild (VERDICT r13 item 2 — the operator
    * [[ivfDriftStats]] exists to trigger): appends keep the quantizer
    * frozen, so sustained drift erodes recall until a re-train; this is
    * the re-train. Centroids come from the deterministic md5-sampled
    * path ([[sampledCentroids]] — oracle-checkable); the corpus
    * re-encodes in full into a NEW directory (the [[removeFromTextIndex]]
    * job-commit contract: the live index stays readable throughout and
    * the caller swaps the ROOT atomically), every artifact tagged with
    * model version = src version + 1 and the `model` marker written
    * last, so a query against a mid-swap store refuses loudly
    * ([[requireConsistentModel]]).
    *
    * @param df the current full-precision corpus (id + vector + any
    *        payload columns — they ride into the rebuilt store verbatim)
    * @return number of vectors in the refreshed index
    */
  def refreshIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      srcPath: String, dstPath: String, nClusters: Int,
      salt: String = "refresh"): Long =
    VectorStores.refresh(VectorStores.Ivf, "refreshIvfIndex", df, idCol,
      vecCol, srcPath, dstPath)(
      sampledCentroids(df, idCol, vecCol, nClusters, salt))

  /** [[refreshIvfIndex]] for the flat PQ family: codebooks re-train on
    * the current corpus via the deterministic sampled recipe
    * ([[pqSampledCodebooks]]) and every vector re-encodes under them.
    *
    * @return number of vectors in the refreshed index
    */
  def refreshPqIndex(df: DataFrame, idCol: String, vecCol: String,
      srcPath: String, dstPath: String, dim: Int, m: Int,
      ksub: Int): Long =
    VectorStores.refresh(VectorStores.Pq, "refreshPqIndex", df, idCol,
      vecCol, srcPath, dstPath)(
      pqSampledCodebooks(df, idCol, vecCol, dim, m, ksub))

  /** [[refreshIvfIndex]] for the composed IVF-PQ family: BOTH models —
    * coarse centroids and PQ codebooks — re-train on the current corpus
    * (md5-sampled, so the whole refresh is DuckDB-replayable — q158) and
    * the corpus re-encodes under them.
    *
    * @return number of vectors in the refreshed index
    */
  def refreshIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      srcPath: String, dstPath: String, nClusters: Int, dim: Int, m: Int,
      ksub: Int, salt: String = "refresh"): Long =
    VectorStores.refresh(VectorStores.IvfPq, "refreshIvfPqIndex", df, idCol,
      vecCol, srcPath, dstPath)(
      (sampledCentroids(df, idCol, vecCol, nClusters, salt),
        pqSampledCodebooks(df, idCol, vecCol, dim, m, ksub)))

  /** [[refreshIvfPqIndex]] for the RESIDUAL family: centroids re-sample,
    * residual codebooks re-train against them
    * ([[pqResidualSampledCodebooks]]), full re-encode; the
    * `fp_residual` encoding marker rides into the new generation (and is
    * version-tagged like the other sidecars).
    *
    * @return number of vectors in the refreshed index
    */
  def refreshIvfPqResidualIndex(df: DataFrame, idCol: String,
      vecCol: String, srcPath: String, dstPath: String, nClusters: Int,
      dim: Int, m: Int, ksub: Int, salt: String = "refresh"): Long =
    VectorStores.refresh(VectorStores.IvfPqResidual,
      "refreshIvfPqResidualIndex", df, idCol, vecCol, srcPath, dstPath) {
      val cents = sampledCentroids(df, idCol, vecCol, nClusters, salt)
      (cents, pqResidualSampledCodebooks(df, idCol, vecCol, cents, dim, m,
        ksub))
    }

  /** [[refreshPqIndex]] for the OPQ family — completing refresh symmetry
    * across all five persisted vector-index families. OPQ's models
    * (rotation + codebooks) are the seeded-KMeans QUALITY tier, not the
    * md5-sampled determinism tier, so this refresh is spec-checked
    * (refreshed ≡ fresh build under the same seed) rather than
    * oracle-replayed, exactly like the family's build path (q43/q112
    * split). Same contract otherwise: full re-encode into a NEW
    * directory, version = src + 1, artifacts tagged, marker last.
    *
    * @return number of vectors in the refreshed index
    */
  def refreshOpqIndex(df: DataFrame, idCol: String, vecCol: String,
      srcPath: String, dstPath: String, dim: Int, m: Int, ksub: Int,
      seed: Long = 42L, maxIter: Int = 20, opqIters: Int = 4): Long =
    VectorStores.refresh(VectorStores.Opq, "refreshOpqIndex", df, idCol,
      vecCol, srcPath, dstPath)(
      opqTrainCodebooks(df, vecCol, dim, m, ksub, seed, maxIter, opqIters))

  // ------------- catalog-resolved serving + the drift-policy loop ---

  /** Resolve the live generation of a [[graft.sources.Generations]]
    * catalog once (one tiny pointer read) for a serving call.
    */
  private def resolved(spark: SparkSession, catalogRoot: String): String =
    graft.sources.Generations.resolve(catalogRoot,
      spark.sparkContext.hadoopConfiguration)

  /** Resolve-aware serving (VERDICT r14 — the last inch of the
    * operational story): every maintenance op here writes a NEW
    * directory and defers the swap to the caller, and
    * [[graft.sources.Generations]] IS that swap. These entry points
    * close the loop: they take a CATALOG ROOT instead of a raw store
    * path, resolve the live generation ONCE, and read it undisturbed by
    * any publish that lands meanwhile (vacuum stays a separate,
    * explicitly-deferred decision). Named variants exist for the
    * families the lifecycle probes drive; every other `*FromIndex`
    * entry point composes identically —
    * `opqTopKFromIndex(spark, Generations.resolve(root, hconf), …)`.
    */
  def bm25TopKFromCatalog(spark: SparkSession, catalogRoot: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKFromIndex(spark, resolved(spark, catalogRoot), queryTerms, k, k1, b)

  /** [[bm25TopKFromCatalog]] for the plain IVF family. */
  def ivfTopKFromCatalog(spark: SparkSession, catalogRoot: String,
      vecCol: String, query: Seq[Float], k: Int, nProbe: Int = 1): DataFrame =
    ivfTopKFromIndex(spark, resolved(spark, catalogRoot), vecCol, query, k,
      nProbe)

  /** [[bm25TopKFromCatalog]] for the composed IVF-PQ family (q162). */
  def ivfPqTopKFromCatalog(spark: SparkSession, catalogRoot: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 1,
      rescore: Int = 50): DataFrame =
    ivfPqTopKFromIndex(spark, resolved(spark, catalogRoot), fullPrecision,
      idCol, vecCol, query, k, nProbe, rescore)

  /** [[bm25TopKFromCatalog]] for the quantized-IVF family (VERDICT r15
    * item 4 — every read entry point gets a catalog twin, so no caller
    * ever passes a raw generation path again).
    */
  def ivfTopKFromCatalogQuantized(spark: SparkSession, catalogRoot: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 1,
      rescore: Int = 50): DataFrame =
    ivfTopKFromIndexQuantized(spark, resolved(spark, catalogRoot),
      fullPrecision, idCol, vecCol, query, k, nProbe, rescore)

  /** [[bm25TopKFromCatalog]] for the flat PQ family. */
  def pqTopKFromCatalog(spark: SparkSession, catalogRoot: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, rescore: Int = 50): DataFrame =
    pqTopKFromIndex(spark, resolved(spark, catalogRoot), fullPrecision,
      idCol, vecCol, query, k, rescore)

  /** [[bm25TopKFromCatalog]] for the OPQ family. */
  def opqTopKFromCatalog(spark: SparkSession, catalogRoot: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, rescore: Int = 50): DataFrame =
    opqTopKFromIndex(spark, resolved(spark, catalogRoot), fullPrecision,
      idCol, vecCol, query, k, rescore)

  /** [[bm25TopKFromCatalog]] for the residual IVF-PQ family. */
  def ivfPqResidualTopKFromCatalog(spark: SparkSession, catalogRoot: String,
      fullPrecision: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 1,
      rescore: Int = 50): DataFrame =
    ivfPqResidualTopKFromIndex(spark, resolved(spark, catalogRoot),
      fullPrecision, idCol, vecCol, query, k, nProbe, rescore)

  /** [[bm25TopKFromCatalog]] for the seeded-LSH pair reader. */
  def seededLshPairsFromCatalog(spark: SparkSession, catalogRoot: String,
      simThreshold: Double = 0.9): DataFrame =
    seededLshPairsFromIndex(spark, resolved(spark, catalogRoot),
      simThreshold)

  /** [[minClusterSimilarity]] for the families that store only CODES
    * (PQ / IVF-PQ / residual): the store has no raw vectors to score, so
    * drift is observed on the caller's FULL-PRECISION primary corpus
    * against the live generation's coarse centroids — one narrow
    * map-side aggregate pass over the corpus (assign + fixed-point
    * cosine, no shuffle of vectors), reading nothing from the store but
    * the KB centroids sidecar. Same 1e-9 fixed-point mean as the
    * vectors-family observable, so thresholds are comparable across
    * families. Refuses an empty corpus — "nothing to observe" is a
    * lifecycle bug, not a drift signal.
    */
  def minCorpusClusterSimilarity(spark: SparkSession, path: String,
      corpus: DataFrame, vecCol: String): Double = {
    val cents = readIvfCentroids(spark, path)
    val h = driftStatRows(ivfAssign(corpus, vecCol, cents), vecCol, cents)
      .agg(min(col("sim_fp_sum").cast("double") /
        (col("n").cast("double") * lit(DriftFpScale.toDouble))).as("m"))
      .head()
    require(!h.isNullAt(0),
      "empty corpus — nothing to observe drift on")
    h.getDouble(0)
  }

  /** The minimum per-cluster mean cosine-to-centroid of a store holding
    * raw vectors ([[ivfDriftStats]] collapsed to the one number a
    * threshold policy needs). Refuses an empty store — "no vectors" is a
    * lifecycle bug, not a drift signal.
    */
  def minClusterSimilarity(spark: SparkSession, path: String,
      vecCol: String): Double = {
    // O(stats) when the sidecar is provably current (VERDICT r15 #2):
    // the healthy policy tick then reads KB of per-cluster totals and
    // never re-scores a vector. Stale/absent → the exact fixed-point
    // full recompute, same value bit-for-bit (both paths are the 1e-9
    // fixed-point mean, so the threshold comparison cannot flap on
    // which path served it).
    val stats = ivfDriftStatsFromSidecar(spark, path)
      .getOrElse(ivfDriftStatsExact(spark, path, vecCol))
    val h = stats
      .agg(min(col("sim_fp_sum").cast("double") /
        (col("n").cast("double") * lit(DriftFpScale.toDouble))).as("m"))
      .head()
    require(!h.isNullAt(0),
      s"'$path' holds no vectors — nothing to observe drift on")
    h.getDouble(0)
  }

  /** The operational drift loop as ONE operator (VERDICT r14 item 6 —
    * previously a runbook spread across StreamsSpec's R174 case):
    * observe the LIVE generation's health, and only past the threshold
    * retrain into a staged generation and atomically publish it.
    *
    *   - `observe(livePath)` — the drift metric; [[minClusterSimilarity]]
    *     for stores with raw vectors (plain IVF — the construction the
    *     drift specs use). Families that store only codes observe on
    *     their full-precision primary store instead.
    *   - healthy (`observe >= threshold`): None — NO staging, no write,
    *     the pointer never moves.
    *   - drifted: `refresh(livePath, stagedPath)` — the family's retrain
    *     ([[refreshIvfIndex]], [[refreshIvfPqIndex]], …, partially
    *     applied over the current corpus) — then publish. Returns the
    *     published generation name.
    *
    * Readers resolve per query and so pick up the new generation on
    * their next call; superseded generations stay readable until a
    * separate [[graft.sources.Generations.vacuum]] decision. Restarting
    * any streaming maintenance against the new generation is the
    * caller's move (checkpoint-preserving — the R174 loop), since only
    * the caller owns the stream handle.
    *
    * QUIESCENCE ([[Maintenance.tick]] states the contract): the tripwire
    * fingerprint is the live generation's data-file count (`vectors` +
    * `codes` — whichever the family stores), taken before `observe` —
    * the refresh closure rebuilds from the caller's corpus snapshot, so
    * an append committing meanwhile refuses the publish.
    */
  def maintainVectorIndex(spark: SparkSession, catalogRoot: String,
      threshold: Double, observe: String => Double,
      refresh: (String, String) => Long): Option[String] =
    Maintenance.tick(spark, Maintenance.VectorPolicy(catalogRoot, threshold,
      observe, refresh)).published.get

  /** Visible parquet data files under one store subdir (driver-side
    * listing — the fragmentation observable a layout policy needs).
    * Visibility is judged on EVERY path component below the target
    * (the [[graft.sources.PathState]] rule), so in-flight or
    * crash-orphaned task files under `_temporary/...` never count — a
    * name-only check would let them trip compactions the real visible
    * file count does not justify.
    */
  def dataFileCount(spark: SparkSession, dir: String): Int =
    visibleParquetFiles(spark, dir).size

  /** (relative path, length, mtime) of every visible parquet data file
    * under `dir` — the one recursive listing [[dataFileCount]] and
    * [[storeFingerprint]] share. Visibility is judged on EVERY path
    * component below the target (the [[graft.sources.PathState]] rule).
    */
  private def visibleParquetFiles(spark: SparkSession,
      dir: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val rootUri = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        val f = st.getPath
        val rel = f.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        val hidden = rel.split('/')
          .exists(c => c.startsWith("_") || c.startsWith("."))
        if (!hidden && f.getName.endsWith(".parquet"))
          buf += ((rel, st.getLen, st.getModificationTime))
      }
      buf.toSeq
    }
  }

  /** [[maintainVectorIndex]] on the LAYOUT axis for the text index: a
    * text store has no model to drift — what sustained
    * [[appendTextIndex]] ingest erodes is the postings' term-range
    * layout and file count (R175). This observes the live generation's
    * postings fragmentation (one driver-side listing) and, only past
    * `maxPostingsFiles`, pays the [[compactTextIndex]] rewrite into a
    * staged generation and publishes it atomically. Appends keep landing
    * in whatever generation is live (their idempotence keys off doclens
    * CONTENT, which compaction preserves row-for-row, so replays no-op
    * across the swap); healthy stores cost one fs listing and nothing
    * else. Returns the published generation name, or None when healthy.
    *
    * QUIESCENCE ([[Maintenance.tick]] states the contract): the tripwire
    * fingerprint is the live postings' file count — an append committing
    * mid-compaction refuses the publish (a committed epoch never
    * replays, so publishing would be silent loss).
    */
  def maintainTextIndex(spark: SparkSession, catalogRoot: String,
      maxPostingsFiles: Int, targetFiles: Int = 16): Option[String] =
    Maintenance.tick(spark, Maintenance.TextPolicy(catalogRoot,
      maxPostingsFiles, targetFiles)).published.get

  // ------------------------- persisted-store compaction (small files) ---

  /** Compact a persisted text index ([[writeTextIndex]] +
    * [[appendTextIndex]]): sustained appends land one unsorted file-set
    * per batch, so after 10⁴ batches the postings are BOTH a small-files
    * problem AND un-clustered — the original build's term-range layout
    * (min/max row-group stats prune term-pruned reads to a few files) is
    * what appends erode, and every BM25 query then opens every appended
    * file. Rewrite restores it: postings re-normalized to exactly-once
    * (term, id) rows (absorbing the crash-retry duplicates the read path
    * tolerates via dropDuplicates — the [[updateTextIndex]] survivor
    * discipline), re-range-partitioned and sorted on term into
    * `targetFiles` files; doclens coalesced; stats recomputed from the
    * WRITTEN doclens (cannot stale). Same new-directory contract as
    * every compaction here: the live index stays readable, the caller
    * swaps atomically. Replay idempotence is unaffected — appends key
    * off doclens CONTENT (id anti-join), which compaction preserves
    * row-for-row (parity-verified).
    *
    * @return number of documents in the compacted index
    */
  def compactTextIndex(spark: SparkSession, srcPath: String,
      dstPath: String, targetFiles: Int = 16): Long = {
    require(srcPath != dstPath,
      "compactTextIndex writes a NEW directory (caller swaps atomically)")
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(graft.sources.PathState.classify(s"$srcPath/postings",
      spark.sparkContext.hadoopConfiguration) == graft.sources.PathState.Data,
      s"'$srcPath/postings' holds no parquet data files — not a text index")
    StoreParquet.open(spark, s"$srcPath/postings")
      .groupBy(col("term"), col("id")).agg(first(col("tf")).as("tf"))
      .repartitionByRange(targetFiles, col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dstPath/postings")
    val dl = StoreParquet.open(spark, s"$srcPath/doclens")
    val n = dl.count()
    // stats come from an Observation ON the doclens write job — the same
    // "from the WRITTEN rows, cannot stale" guarantee the read-back gave,
    // without re-reading what was just written (VERDICT r14 — the store's
    // own R168 discipline applied to its compactor); the source count
    // above stays as the deliberate parity check
    // the metrics node sits ABOVE the range exchange: below it, the
    // boundary-sampling pass executes the observed subtree a second time
    // and doubles the counts
    val obs = org.apache.spark.sql.Observation("compact_doclens")
    dl.repartitionByRange(math.max(1, targetFiles / 4), col("id"))
      .sortWithinPartitions(col("id"))
      .observe(obs, count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dstPath/doclens")
    val written = obs.get("n_docs").asInstanceOf[Long]
    require(written == n,
      s"doclens compaction row mismatch: source $n, wrote $written")
    val sumDl = obs.get("sum_dl") match {
      case null => 0L
      case x: java.lang.Number => x.longValue
    }
    // driver-local totals → driver-side stats write, zero jobs (r20)
    graft.sources.SidecarParquet.writeFlat(s"$dstPath/stats",
      spark.sparkContext.hadoopConfiguration,
      Seq("n_docs" -> "long", "sum_dl" -> "long"),
      Seq(Seq(written, sumDl)))
    written
  }

  /** The compaction layout shared by the cluster-partitioned stores:
    * `targetFilesPerCluster == 1` is the EXACT one-file-per-cluster
    * contract (hash repartition on cluster_id routes each cluster to one
    * task); above 1 the rows range-partition on (cluster_id, id) into a
    * TOTAL budget of `nClusters × target` contiguous ranges, so the
    * parameter is a size-proportional TARGET, not an exact count — a
    * skewed cluster splits into proportionally MORE id-ranged files (the
    * point of raising it: bounding file size) and a tiny cluster into
    * fewer, with id-sorted row groups either way (ADVICE r14 — the
    * parameter was previously validated but ignored).
    */
  private[graft] def clusterCompactionLayout(src: DataFrame, idCol: String,
      nClusters: => Long, targetFilesPerCluster: Int): DataFrame = {
    // nClusters is by-name: the default one-file-per-cluster path never
    // evaluates it, so the centroids-count job only runs when the file
    // budget actually needs it (review r15)
    val laid =
      if (targetFilesPerCluster == 1) src.repartition(col("cluster_id"))
      else src.repartitionByRange(
        (nClusters * targetFilesPerCluster).toInt,
        col("cluster_id"), col(idCol))
    laid.sortWithinPartitions(col("cluster_id"), col(idCol))
  }

  /** Compact a cluster-partitioned IVF store ([[writeIvfIndex]] or the
    * quantized variant): appends land one file-set per batch in EVERY
    * touched cluster directory, so a probed-cluster read opens
    * O(appends) files after sustained ingest. Rewrite each cluster's
    * rows id-sorted under a `nClusters × targetFilesPerCluster` total
    * file budget ([[clusterCompactionLayout]] — 1 = exactly one file per
    * cluster; above 1 a size-proportional target, so row-group stats
    * prune id probes too); centroids copy verbatim; a refreshed
    * store's model marker + tags carry forward (compaction changes
    * layout, not the model generation). Rows parity-verified.
    *
    * @return number of vectors in the compacted index
    */
  def compactIvfIndex(spark: SparkSession, srcPath: String,
      dstPath: String, targetFilesPerCluster: Int = 1): Long = {
    val out = VectorStores.compact(VectorStores.Ivf, "compactIvfIndex", spark,
      srcPath, dstPath, targetFilesPerCluster)
    // compaction preserves content row-for-row, so a VALID source sidecar
    // carries verbatim (aggregated — the per-batch delta rows collapse);
    // a stale/absent one is simply not carried and heals later (R183)
    ivfDriftStatsFromSidecar(spark, srcPath).foreach { st =>
      import spark.implicits._
      val rows = st
        .select(col("cluster_id").cast("int"), col("n"), col("sim_fp_sum"))
        .as[(Int, Long, Long)].collect().toSeq
      writeDriftRows(spark, dstPath, rows, SaveMode.Overwrite)
      writeDriftMarker(spark, dstPath,
        storeFingerprint(spark, s"$dstPath/vectors"))
    }
    out
  }

  /** [[compactIvfIndex]] for the composed IVF-PQ families (plain AND
    * residual — the `encoding` sidecar rides along when present, so the
    * two ADC semantics stay unmixable through compaction).
    *
    * @return number of vectors in the compacted index
    */
  def compactIvfPqIndex(spark: SparkSession, srcPath: String,
      dstPath: String, targetFilesPerCluster: Int = 1): Long =
    VectorStores.compact(
      if (hasArtifact(spark, srcPath, "encoding")) VectorStores.IvfPqResidual
      else VectorStores.IvfPq,
      "compactIvfPqIndex", spark, srcPath, dstPath, targetFilesPerCluster)

  /** [[compactIvfIndex]] for the flat PQ/OPQ stores: codes rewrite into
    * `targetFiles` id-range-sorted files (id probes prune on row-group
    * stats); codebooks — and the OPQ rotation when present — copy
    * verbatim; markers carry.
    *
    * @return number of vectors in the compacted index
    */
  def compactPqIndex(spark: SparkSession, srcPath: String,
      dstPath: String, targetFiles: Int = 16): Long =
    if (hasArtifact(spark, srcPath, "rotation"))
      VectorStores.compact(VectorStores.Opq, "compactPqIndex", spark, srcPath,
        dstPath, targetFiles)
    else VectorStores.compact(VectorStores.Pq, "compactPqIndex", spark,
      srcPath, dstPath, targetFiles)

  private def hasArtifact(spark: SparkSession, path: String,
      artifact: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$artifact")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Learn IVF centroids with MLlib KMeans (seeded, deterministic given the
    * same data+seed). Returns them driver-side — centroids are tiny (k ×
    * dim) and feed [[ivfAssign]]'s broadcast-literal argmax.
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, k: Int,
      seed: Long = 42L, maxIter: Int = 20): Seq[(Int, Array[Float])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val prepared = df.select(array_to_vector(col(vecCol).cast("array<double>")).as("_features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("_features").fit(prepared)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      i -> c.toArray.map(_.toFloat)
    }.toSeq
  }

  /** The ±1 hyperplane weight for (table, bit, dim-index) in
    * [[seededLshPairs]]: parity of the first hex digit of
    * md5("t_k_i") — portable (DuckDB computes the same md5 of the same
    * string), so the whole hash family is pinned by construction, not by a
    * PRNG seed.
    */
  def seededLshWeight(t: Int, k: Int, i: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${t}_${k}_${i}".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 1) == 0) 1 else -1
  }

  /** Seeded, fully DETERMINISTIC LSH near-dup pairs — the hash-matchable
    * twin of the MLlib tier ([[LshIndex]], q43). Signed random projections
    * (Charikar 2002, SimHash for vectors) over int8-QUANTIZED codes:
    *
    *   - codes = symmetric int8 quantization (the q75 storage tier) —
    *     integer arithmetic end to end, so buckets are engine-exact;
    *   - bit (t,k) = sign(Σᵢ codeᵢ · w) with w = ±1 from md5 parity
    *     ([[seededLshWeight]]) — a FIXED hash family, no PRNG, no
    *     data-order dependence;
    *   - candidates = rows sharing a (table, bucket) band key, distinct
    *     across tables, verified on exact quantized cosine ≥ threshold.
    *
    * Scale shape matches the other dedup tiers: one narrow pass computes
    * codes+buckets, the only shuffle is the band join on (t, bucket) —
    * never all-pairs — and verification touches candidate pairs only.
    *
    * @return (id1, id2, cos8_m) — id1 < id2, cos8_m = floor(1000·cosine)
    */
  def seededLshPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      numTables: Int = 4, bitsPerTable: Int = 12,
      simThreshold: Double = 0.9): DataFrame = {
    require(numTables > 0 && bitsPerTable > 0 && bitsPerTable < 31)
    val codes = seededCodes(df, idCol, vecCol)
    val banded = seededBands(codes, dim, numTables, bitsPerTable)
    seededVerifiedPairs(banded, codes, simThreshold)
  }

  // All arithmetic rides the codegen'd fused-loop dot (VectorExpressions)
  // over FLOAT copies of the int8 codes: every product |c·w| ≤ 127² and
  // every sum ≤ dim·127² < 2²⁴, so float/double arithmetic is EXACT and
  // bit-identical to the integer formulation the oracle replays — while
  // avoiding 32 allocating higher-order aggregates per row (the q24
  // lesson: HOF zip_with+aggregate cost 50× on the hot path).
  private def seededCodes(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("_id"),
      i8Codes(col(vecCol)).cast("array<float>").as("_c"))

  private def seededBands(codes: DataFrame, dim: Int,
      numTables: Int, bitsPerTable: Int): DataFrame = {
    val bucketCols = (0 until numTables).map { t =>
      val bits = (0 until bitsPerTable).map { k =>
        val w = typedLit((0 until dim).map(i => seededLshWeight(t, k, i).toFloat))
        when(dot(col("_c"), w) >= 0, lit(1L << k)).otherwise(lit(0L))
      }
      struct(lit(t).as("t"), bits.reduce(_ + _).as("bucket"))
    }
    codes
      .withColumn("_tb", explode(array(bucketCols: _*)))
      .select(col("_id"), col("_tb.t").as("_t"), col("_tb.bucket").as("_b"))
  }

  // the band self-join shuffles ONLY (t, bucket, id) — never the code
  // arrays (the library's no-vectors-through-exchanges principle); codes
  // re-join by id onto the (far smaller) deduped candidate set. The
  // (id1, id2) dedup also makes duplicated band rows (a crashed append's
  // orphans) harmless to the pair output.
  private def seededVerifiedPairs(banded: DataFrame, codes: DataFrame,
      simThreshold: Double): DataFrame = {
    val candidates = banded.select(col("_t"), col("_b"), col("_id").as("id1"))
      .join(banded.select(col("_t"), col("_b"), col("_id").as("id2")), Seq("_t", "_b"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .dropDuplicates("id1", "id2")
      .join(codes.select(col("_id").as("id1"), col("_c").as("_c1")), "id1")
      .join(codes.select(col("_id").as("id2"), col("_c").as("_c2")), "id2")
    // quantized cosine on the float codes: integer-exact dots, zero-norm → 0
    val n1 = dot(col("_c1"), col("_c1"))
    val n2 = dot(col("_c2"), col("_c2"))
    val cos = when(n1 === 0.0 || n2 === 0.0, lit(0.0))
      .otherwise(dot(col("_c1"), col("_c2")) / (sqrt(n1) * sqrt(n2)))
    candidates
      .withColumn("_cos", cos)
      .where(col("_cos") >= simThreshold)
      .select(col("id1"), col("id2"),
        (floor(col("_cos") * 1000) / 1).as("cos8_m"))
  }

  /** Materialize the seeded-LSH tier as a PERSISTED index (VERDICT r6
    * item 6: maintenance parity for the oracle-checkable ANN tier). The
    * hash family itself is pinned by construction ([[seededLshWeight]] —
    * md5, no PRNG), so the only frozen state is the family SHAPE: `meta`
    * holds (dim, num_tables, bits_per_table); `bands` holds the
    * (id, t, bucket) rows t-partitioned; `codes` holds each id's int8
    * code (as float — exact, see [[seededCodes]]) for pair verification.
    */
  def writeSeededLshIndex(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, path: String, numTables: Int = 4, bitsPerTable: Int = 12): Unit = {
    require(numTables > 0 && bitsPerTable > 0 && bitsPerTable < 31)
    val spark = df.sparkSession
    import spark.implicits._
    val codes = seededCodes(df, idCol, vecCol)
    seededBands(codes, dim, numTables, bitsPerTable)
      .select(col("_id").as("id"), col("_t").as("t"), col("_b").as("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("t").parquet(s"$path/bands")
    codes.select(col("_id").as("id"), col("_c").as("code"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    // driver-local family shape → driver-side write, zero jobs (r20)
    graft.sources.SidecarParquet.writeFlat(s"$path/meta",
      spark.sparkContext.hadoopConfiguration,
      Seq("dim" -> "int", "num_tables" -> "int", "bits_per_table" -> "int"),
      Seq(Seq(dim, numTables, bitsPerTable)))
  }

  /** The seeded-LSH family-shape sidecar, read DRIVER-SIDE (one KB row;
    * the old one-row spark job ran per append/update/lookup — r20,
    * guide §5).
    */
  private def readSeededLshMeta(spark: SparkSession,
      path: String): (Int, Int, Int) = {
    import graft.sources.SidecarParquet
    val g = SidecarParquet.readGroups(s"$path/meta",
      spark.sparkContext.hadoopConfiguration).head
    (SidecarParquet.intAt(g, "dim"), SidecarParquet.intAt(g, "num_tables"),
      SidecarParquet.intAt(g, "bits_per_table"))
  }

  /** Append a batch to a [[writeSeededLshIndex]] index under the frozen
    * family shape — the R81/R85 maintenance discipline: already-indexed
    * ids anti-join out against a column-pruned id scan of `codes`, so
    * replays are no-ops; band rows commit FIRST and codes SECOND, because
    * the CODES store is the idempotency gate — a crash between the two
    * appends leaves orphan band rows the retry re-appends, which the read
    * path's (id1, id2) dedup absorbs, whereas the reverse order would
    * gate the retry out with its band rows never landed (silent recall
    * loss).
    *
    * @return number of NEW vectors appended (0 for a pure replay)
    */
  def appendSeededLshIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Long = {
    import graft.sources.PathState
    val spark = batch.sparkSession
    val state = PathState.classify(s"$path/codes",
      spark.sparkContext.hadoopConfiguration)
    require(state == PathState.Data,
      s"appendSeededLshIndex requires an existing index at '$path' " +
        "(writeSeededLshIndex first — appends need its frozen family shape)")
    val (dim, nt, bpt) = readSeededLshMeta(spark, path)
    val existing = StoreParquet.open(spark, s"$path/codes").select(col("id"))
    // exact duplicate rows (same id AND vector) collapse deterministically;
    // the same id carrying DIFFERENT vectors is refused loudly — a
    // dropDuplicates(id) would keep an arbitrary row, making the persisted
    // codes/bands nondeterministic across retries/partitionings (ADVICE
    // r7) and silently breaking build+append ≡ full-build
    val fresh = batch
      .join(existing, batch(idCol) === existing("id"), "left_anti")
      .dropDuplicates(idCol, vecCol).persist()
    try {
      val n = fresh.count()
      if (n > 0) {
        val nIds = fresh.select(col(idCol)).distinct().count()
        require(nIds == n,
          s"appendSeededLshIndex: batch carries ${n - nIds} conflicting " +
            s"vector(s) for the same $idCol — refusing a nondeterministic " +
            "index (dedupe upstream or fix the ids)")
      }
      if (n > 0) {
        val codes = seededCodes(fresh, idCol, vecCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          seededBands(codes, dim, nt, bpt)
            .select(col("_id").as("id"), col("_t").as("t"), col("_b").as("bucket"))
            .write.mode(SaveMode.Append).partitionBy("t").parquet(s"$path/bands")
          codes.select(col("_id").as("id"), col("_c").as("code"))
            .write.mode(SaveMode.Append).parquet(s"$path/codes")
        } finally { codes.unpersist(false); () }
      }
      n
    } finally { fresh.unpersist(); () }
  }

  /** Near-dup pairs from a persisted seeded-LSH index: the band self-join
    * and exact quantized-cosine verification of [[seededLshPairs]], but
    * over the materialized `bands`/`codes` stores — no re-hash of the
    * corpus. Build + append ≡ full build (spec-proven), so the incremental
    * path returns bit-identical pairs.
    */
  def seededLshPairsFromIndex(spark: SparkSession, path: String,
      simThreshold: Double = 0.9): DataFrame = {
    val banded = StoreParquet.open(spark, s"$path/bands")
      .select(col("id").as("_id"), col("t").as("_t"), col("bucket").as("_b"))
    val codes = StoreParquet.open(spark, s"$path/codes")
      .select(col("id").as("_id"), col("code").as("_c"))
    seededVerifiedPairs(banded, codes, simThreshold)
  }

  /** The delete half of seeded-LSH index maintenance
    * ([[appendSeededLshIndex]] being the insert half): copy bands, codes
    * and meta MINUS the given ids into a NEW directory — the
    * removeFromTextIndex contract (job-commit all-or-nothing, source
    * readable throughout, caller swaps atomically). The rewrite also
    * re-dedups (id, t, bucket) band rows and per-id codes, so orphans
    * from any crashed append are compacted away rather than carried
    * forever.
    *
    * @return number of surviving vectors in the new index
    */
  def removeFromSeededLshIndex(spark: SparkSession, srcPath: String,
      dstPath: String, removeIds: DataFrame, idCol: String): Long = {
    require(srcPath != dstPath,
      "removeFromSeededLshIndex writes a NEW directory (caller swaps atomically)")
    val drop = removeIds.select(col(idCol).as("id")).distinct()
    StoreParquet.open(spark, s"$srcPath/bands")
      .join(drop, Seq("id"), "left_anti")
      .dropDuplicates("id", "t", "bucket")
      .write.mode(SaveMode.Overwrite).partitionBy("t").parquet(s"$dstPath/bands")
    val n = VectorStores.writeCounted(StoreParquet.open(spark, s"$srcPath/codes")
        .join(drop, Seq("id"), "left_anti")
        .dropDuplicates("id"),
      s"$dstPath/codes")
    VectorStores.copySidecarFiles(spark, s"$srcPath/meta", s"$dstPath/meta")
    n
  }

  /** FUSED seeded-LSH update ([[updateIvfIndex]] contract): survivors
    * and the refresh batch hashed under the index's frozen family shape
    * land in one bands write + one codes write; meta copies verbatim.
    * Carries [[appendSeededLshIndex]]'s conflicting-id refusal — a batch
    * with two different vectors under one id would make the persisted
    * stores nondeterministic across retries.
    *
    * @return number of vectors in the new index
    */
  def updateSeededLshIndex(spark: SparkSession, srcPath: String,
      dstPath: String, retireIds: DataFrame, refreshBatch: DataFrame,
      idCol: String, vecCol: String): Long = {
    require(srcPath != dstPath,
      "updateSeededLshIndex writes a NEW directory (caller swaps atomically)")
    val (dim, nt, bpt) = readSeededLshMeta(spark, srcPath)
    val fresh = refreshBatch.dropDuplicates(idCol, vecCol).persist()
    try {
      val n = fresh.count()
      val nIds = fresh.select(col(idCol)).distinct().count()
      require(nIds == n,
        s"updateSeededLshIndex: batch carries ${n - nIds} conflicting " +
          s"vector(s) for the same $idCol — refusing a nondeterministic " +
          "index (dedupe upstream or fix the ids)")
      val drop = retireIds.select(col(idCol).as("id"))
        .unionByName(fresh.select(col(idCol).as("id"))).distinct()
      val codes = seededCodes(fresh, idCol, vecCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out =
        try {
          StoreParquet.open(spark, s"$srcPath/bands")
            .join(drop, Seq("id"), "left_anti")
            .dropDuplicates("id", "t", "bucket")
            .unionByName(seededBands(codes, dim, nt, bpt)
              .select(col("_id").as("id"), col("_t").as("t"), col("_b").as("bucket")))
            .write.mode(SaveMode.Overwrite).partitionBy("t").parquet(s"$dstPath/bands")
          VectorStores.writeCounted(StoreParquet.open(spark, s"$srcPath/codes")
              .join(drop, Seq("id"), "left_anti")
              .dropDuplicates("id")
              .unionByName(codes.select(col("_id").as("id"), col("_c").as("code"))),
            s"$dstPath/codes")
        } finally { codes.unpersist(false); () }
      VectorStores.copySidecarFiles(spark, s"$srcPath/meta", s"$dstPath/meta")
      out
    } finally { fresh.unpersist(); () }
  }

  /** Online near-dup LOOKUP against a persisted seeded-LSH index — the
    * dedup-at-ingest serving path ("is this new batch a near-dup of
    * anything already indexed?"). Query vectors bucket under the index's
    * frozen family shape (read from `meta`), probe ONLY matching
    * (t, bucket) band rows, and verify exact quantized cosine on the
    * candidate set — the corpus is never re-hashed and its codes ship
    * only for candidates. Self-matches (a query id already indexed)
    * appear with cosine 1 — callers deduplicating an incoming batch
    * filter `query_id =!= index_id`.
    *
    * @return (query_id, index_id, cos8_m), one row per verified match
    */
  def seededLshLookup(queries: DataFrame, idCol: String, vecCol: String,
      path: String, simThreshold: Double = 0.9): DataFrame = {
    val spark = queries.sparkSession
    val (dim, nt, bpt) = readSeededLshMeta(spark, path)
    val qCodes = seededCodes(queries, idCol, vecCol)
    val qBands = seededBands(qCodes, dim, nt, bpt)
      .select(col("_id").as("query_id"), col("_t"), col("_b"))
    val ixBands = StoreParquet.open(spark, s"$path/bands")
      .select(col("id").as("index_id"), col("t").as("_t"), col("bucket").as("_b"))
    val cand = qBands.join(ixBands, Seq("_t", "_b"))
      .select(col("query_id"), col("index_id"))
      .dropDuplicates("query_id", "index_id")
    val withCodes = cand
      .join(qCodes.select(col("_id").as("query_id"), col("_c").as("_c1")), "query_id")
      .join(StoreParquet.open(spark, s"$path/codes")
        .select(col("id").as("index_id"), col("code").as("_c2")), "index_id")
    val n1 = dot(col("_c1"), col("_c1"))
    val n2 = dot(col("_c2"), col("_c2"))
    val cos = when(n1 === 0.0 || n2 === 0.0, lit(0.0))
      .otherwise(dot(col("_c1"), col("_c2")) / (sqrt(n1) * sqrt(n2)))
    withCodes.withColumn("_cos", cos)
      .where(col("_cos") >= simThreshold)
      .select(col("query_id"), col("index_id"),
        (floor(col("_cos") * 1000) / 1).as("cos8_m"))
  }

  /** MLlib BucketedRandomProjectionLSH wrapper over `array<float>` columns
    * (converts to ml Vector only at the boundary — SURVEY.md §7.4 risk 6).
    */
  final class LshIndex(bucketLength: Double = 2.0, numTables: Int = 3, seed: Long = 42L) {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector

    private def withVec(df: DataFrame, vecCol: String): DataFrame =
      df.withColumn("_features", array_to_vector(
        col(vecCol).cast("array<double>")))

    def fit(df: DataFrame, vecCol: String): org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel =
      new BucketedRandomProjectionLSH()
        .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
        .setInputCol("_features").setOutputCol("_hashes")
        .fit(withVec(df, vecCol))

    /** Approximate self-join: pairs within `maxL2Dist`, id1 < id2.
      *
      * The hashed frame is computed ONCE and persisted before the join —
      * one hashing pass for both join sides (the recompute was the
      * round-2 bench's 3.5–16 s run-to-run variance: two concurrent
      * hashing subplans GC-thrashing). The small result is materialized
      * eagerly and the hash cache released — no session-lifetime blocks.
      *
      * r19 optimization round: the candidate join is EXPLICIT instead of
      * `model.approxSimilarityJoin` — MLlib's join explodes FULL rows
      * (vectors + hash arrays), runs `distinct()` over the row pairs and
      * scores every ordered pair (both directions and self-pairs) through
      * a non-codegen keyDistance UDF. Here only `(table, bucket, id)`
      * crosses the exchange (guide §2.3 — shuffle the proxy, not the
      * payload), the distinct runs on bare id pairs with id1 < id2 (half
      * the candidates, no self-pairs), and vectors are re-attached once
      * per surviving pair for ONE fused-codegen l2 evaluation.
      * Equivalence is bit-exact: the buckets come from the SAME fitted
      * model's `transform`, membership means sharing ≥ 1 `(table,
      * bucket)` exactly as MLlib's exploded equi-join, and
      * [[graft.functions.VectorFunctions.l2Distance]] accumulates
      * left-to-right in double over the float→double-exact inputs —
      * bit-identical to `Vectors.sqdist` + sqrt, with the same STRICT
      * `< maxL2Dist` filter (SearchSpec pins set equality against
      * approxSimilarityJoin).
      */
    def approxPairs(df: DataFrame, idCol: String, vecCol: String,
        maxL2Dist: Double,
        checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
      import org.apache.spark.ml.functions.vector_to_array
      val prepared = withVec(df, vecCol)
      val model = new BucketedRandomProjectionLSH()
        .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
        .setInputCol("_features").setOutputCol("_hashes")
        .fit(prepared)
      val hashed = model.transform(prepared)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // BRP-LSH emits one 1-element vector per table: bucket =
      // floor(dot/bucketLength), a whole double — joined AS a double
      // (ADVICE r19: a long cast clamps beyond ±2⁶³, which could alias
      // two distinct extreme-magnitude buckets into one candidate key;
      // Spark normalizes -0.0 on join keys exactly as MLlib's exploded
      // hash-entry join does, so the pinned pair-set equivalence holds
      // universally, not just for realistic magnitudes)
      val buckets = hashed.select(col(idCol).as("_id"),
          posexplode(col("_hashes")).as(Seq("_t", "_h")))
        .select(col("_id"), col("_t"),
          vector_to_array(col("_h")).getItem(0).as("_b"))
      val cand = buckets.select(col("_id").as("id1"), col("_t"), col("_b"))
        .join(buckets.select(col("_id").as("id2"), col("_t"), col("_b")),
          Seq("_t", "_b"))
        .where(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
      val pairs = cand
        .join(hashed.select(col(idCol).as("id1"), col(vecCol).as("_v1")), "id1")
        .join(hashed.select(col(idCol).as("id2"), col(vecCol).as("_v2")), "id2")
        .withColumn("l2_dist",
          graft.functions.VectorFunctions.l2Distance(col("_v1"), col("_v2")))
        .where(col("l2_dist") < maxL2Dist)
        .select(col("id1"), col("id2"), col("l2_dist"))
      // eager cut so `hashed` can be released immediately (round-2 variance
      // fix); the cut's durability is the caller's CheckpointStrategy —
      // default Local is single-JVM, cluster runs pass Reliable/Parquet.
      val out = CheckpointStrategy.materialize(pairs, checkpoint)
      hashed.unpersist(false)
      out
    }

    /** Approximate k-nearest-neighbors of one query vector (MLlib
      * `approxNearestNeighbors`: hash-bucket probe first, distance rank
      * within — the single-query ANN read path at scale).
      */
    def approxTopK(df: DataFrame, idCol: String, vecCol: String,
        query: Seq[Float], k: Int): DataFrame = {
      val prepared = withVec(df, vecCol)
      val model = new BucketedRandomProjectionLSH()
        .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
        .setInputCol("_features").setOutputCol("_hashes")
        .fit(prepared)
      val q = org.apache.spark.ml.linalg.Vectors.dense(query.map(_.toDouble).toArray)
      model.approxNearestNeighbors(prepared, q, k, "l2_dist")
        .select(col(idCol), col("l2_dist"))
    }
  }
}
