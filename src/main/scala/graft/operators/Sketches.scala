package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.StoreParquet

/** Persisted mergeable sketches (EXT incremental-analytics surface):
  * "distinct users per domain per day" or "p95 doc length per source per
  * day" over a 100 TB history is cheap on the day a batch arrives and
  * PROHIBITIVE to recompute across history — unless each batch persists a
  * mergeable sketch. Two families share the store discipline: DataSketches
  * HLL for cardinality (`hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate`, built into Spark 4) and DataSketches KLL for
  * quantiles (no SQL surface — a two-phase map-side fold below). Sketches
  * are a few KB per group, merge associatively, and carry provable error
  * bounds — so any time-range cardinality/quantile collapses to a scan of
  * (groups × batches) sketch rows, never the raw history.
  *
  * Shape: per-batch sketch build is one groupBy over the batch (bounded
  * key + binary sketch out); range queries union per-group sketches —
  * partial-aggregatable, so the merge combines map-side. Appends are
  * idempotent per (group, batch) via the same job-commit parquet append
  * discipline as the index stores.
  */
object Sketches {

  /** The exactly-once replay gate shared by all four stores: a batch id is
    * "already applied" if it appears in the live store OR in the store's
    * `_folded` ledger (batches absorbed by [[compactSketchStore]] — their
    * per-batch rows are gone, but a replay must STILL be a no-op or
    * compaction would double-count every absorbed batch on retry). The
    * `_folded` ledger lives under an underscore-prefixed sub-path, which
    * Spark's hidden-file filter excludes from reads of the store itself.
    */
  private def alreadyApplied(spark: SparkSession, storeDir: String,
      store: DataFrame, batchId: String): Boolean = {
    import graft.sources.{PathState, SidecarParquet}
    val conf = spark.sparkContext.hadoopConfiguration
    val inMain = store.where(col("batch_id") === batchId).limit(1).count() > 0
    // the `_folded` leg reads the KB ledger sidecar DRIVER-SIDE (r20,
    // guide §5) — the store-body probe above stays a (limit-1) job
    // because the body is data-scale
    inMain || (PathState.hasData(s"$storeDir/_folded", conf) &&
      SidecarParquet.readGroups(s"$storeDir/_folded", conf)
        .exists(g => SidecarParquet.stringAt(g, "batch_id") == batchId))
  }

  /** The append gate shared by all four stores: refuse a directory that
    * holds non-parquet content, no-op a replayed `batchId`
    * ([[alreadyApplied]]), otherwise append `sketches` tagged with the
    * batch id. The row count is observed ON the write job itself
    * ([[VectorStores.writeCounted]]) — one job, exactly the rows the
    * job-committed append landed.
    *
    * @return number of group rows appended (0 on replay)
    */
  private def appendOnce(df: DataFrame, batchId: String, storeDir: String)(
      sketches: => DataFrame): Long = {
    val spark = df.sparkSession
    if (StoreParquet.openAppendable(spark, storeDir,
        s"sketch store '$storeDir' holds non-parquet content — refusing to append")
        .exists(alreadyApplied(spark, storeDir, _, batchId))) 0L
    else VectorStores.writeCounted(sketches.withColumn("batch_id", lit(batchId)),
      storeDir, mode = SaveMode.Append)
  }

  /** Build per-(group, batch) HLL sketches of `valueCol` and append them
    * to the store. Replaying the same `batchId` is a no-op (anti-join on
    * the batch id — the store stays exactly-once per batch).
    *
    * @return number of group rows appended (0 on replay)
    */
  def appendDistinctSketches(df: DataFrame, groupCol: String, valueCol: String,
      batchId: String, storeDir: String): Long =
    appendOnce(df, batchId, storeDir) {
      df.groupBy(col(groupCol).as("group_key"))
        .agg(expr(s"hll_sketch_agg($valueCol)").as("sketch"))
    }

  /** Distinct-count estimates per group across a set of batches (all
    * batches when `batchIds` is empty): one scan of the sketch rows, one
    * partial-aggregatable union per group. The raw history is never read.
    */
  def estimateDistinct(spark: SparkSession, storeDir: String,
      batchIds: Seq[String] = Nil): DataFrame = {
    val base = StoreParquet.open(spark, storeDir)
    val scoped =
      if (batchIds.isEmpty) base else base.where(col("batch_id").isin(batchIds: _*))
    scoped.groupBy(col("group_key"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").cast("long")
        .as("n_distinct_est"))
      .orderBy(col("group_key"))
  }

  // ---- mergeable QUANTILE sketches (KLL) — the HLL store's sibling -----
  //
  // "p95 document length per source per day" over history has the same
  // shape as the distinct-count problem: exact recomputation rescans
  // everything, but DataSketches KLL (on the Spark classpath) sketches
  // merge associatively with a provable rank-error bound (~1.65% at
  // k=200), so per-batch sketch rows make any time-range quantile a scan
  // of (groups × batches) KB-sized blobs. No SQL surface exists for KLL
  // in Spark, so the build is a two-phase map-side fold: per-partition
  // HashMap of sketches (one pass, no shuffle of values), then one
  // bounded (group → ≤ P blobs) merge — the same partial-then-final
  // discipline an Aggregator would compile to, without kryo-ing sketch
  // internals through a UDAF buffer.

  private def mergeSketchBlobs(parts: Iterator[Array[Byte]], k: Int)
      : org.apache.datasketches.kll.KllDoublesSketch = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val acc = KllDoublesSketch.newHeapInstance(k)
    parts.foreach(b => acc.merge(KllDoublesSketch.heapify(Memory.wrap(b))))
    acc
  }

  /** Build per-(group, batch) KLL doubles sketches of `valueCol` and
    * append them to the store; replaying a `batchId` is a no-op (the
    * [[appendDistinctSketches]] exactly-once discipline).
    *
    * @return number of group rows appended (0 on replay)
    */
  def appendQuantileSketches(df: DataFrame, groupCol: String, valueCol: String,
      batchId: String, storeDir: String, k: Int = 200): Long = {
    import org.apache.datasketches.kll.KllDoublesSketch
    val spark = df.sparkSession
    import spark.implicits._
    appendOnce(df, batchId, storeDir)(df
      .select(col(groupCol).cast("string").as("g"), col(valueCol).cast("double").as("v"))
      .as[(String, Double)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, KllDoublesSketch]
        it.foreach { case (g, v) =>
          m.getOrElseUpdate(g, KllDoublesSketch.newHeapInstance(k)).update(v)
        }
        m.iterator.map { case (g, s) => (g, s.toByteArray) }
      }
      .toDF("group_key", "part")
      .groupBy(col("group_key"))
      .agg(collect_list(col("part")).as("parts")) // ≤ one blob per partition
      .as[(String, Seq[Array[Byte]])]
      .map { case (g, parts) => (g, mergeSketchBlobs(parts.iterator, k).toByteArray) }
      .toDF("group_key", "sketch"))
  }

  // ---- mergeable FREQUENCY sketches (Misra-Gries) — the store's third leg
  //
  // "which items dominate this stream" (hot tokens, hot URLs, hot shingles)
  // is the last of the three classic mergeable-sketch questions after
  // cardinality (HLL above) and quantiles (KLL above). DataSketches'
  // frequent-items sketch (a Misra-Gries / Space-Saving hybrid, on the
  // Spark classpath) keeps at most `maxMapSize` counters per sketch and
  // guarantees NO FALSE NEGATIVES above its tracked maximum error
  // (≤ 3.5·N/maxMapSize): every item whose true count ≥ threshold is in
  // the candidate set whenever threshold > maxError. That guarantee is
  // what makes the sketch composable with the repo's standing
  // candidate-generation-then-verify discipline: the sketch (KBs) nominates
  // a bounded candidate set from the store, one semi-join back to the
  // batch data exact-counts ONLY the candidates, and the final answer is
  // EXACT — DuckDB-oracle-matchable — while the full-stream groupBy that a
  // naive top-k would need (one shuffle of every item at 100 TB) never runs.

  private def freqSerde = new org.apache.datasketches.common.ArrayOfStringsSerDe

  private def mergeFreqBlobs(parts: Iterator[Array[Byte]], maxMapSize: Int)
      : org.apache.datasketches.frequencies.ItemsSketch[String] = {
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.datasketches.memory.Memory
    val acc = new ItemsSketch[String](maxMapSize)
    parts.foreach(b => acc.merge(ItemsSketch.getInstance(Memory.wrap(b), freqSerde)))
    acc
  }

  /** Build per-(group, batch) frequent-items sketches of `valueCol` and
    * append them to the store; replaying a `batchId` is a no-op (the
    * [[appendDistinctSketches]] exactly-once discipline). `maxMapSize`
    * must be a power of two ≥ 8 (sketch library contract) and bounds both
    * the sketch size and the error: maxError ≤ 3.5·N/maxMapSize.
    *
    * @return number of group rows appended (0 on replay)
    */
  def appendFrequencySketches(df: DataFrame, groupCol: String, valueCol: String,
      batchId: String, storeDir: String, maxMapSize: Int = 1024): Long = {
    import org.apache.datasketches.frequencies.ItemsSketch
    require(maxMapSize >= 8 && Integer.bitCount(maxMapSize) == 1,
      s"maxMapSize must be a power of two >= 8, got $maxMapSize")
    val spark = df.sparkSession
    import spark.implicits._
    appendOnce(df, batchId, storeDir)(df
      .select(col(groupCol).cast("string").as("g"), col(valueCol).cast("string").as("v"))
      .as[(String, String)]
      .mapPartitions { it =>
        val serde = freqSerde
        val m = scala.collection.mutable.HashMap.empty[String, ItemsSketch[String]]
        it.foreach { case (g, v) =>
          m.getOrElseUpdate(g, new ItemsSketch[String](maxMapSize)).update(v)
        }
        m.iterator.map { case (g, s) => (g, s.toByteArray(serde)) }
      }
      .toDF("group_key", "part")
      .groupBy(col("group_key"))
      .agg(collect_list(col("part")).as("parts")) // ≤ one blob per partition
      .as[(String, Seq[Array[Byte]])]
      .map { case (g, parts) =>
        (g, mergeFreqBlobs(parts.iterator, maxMapSize).toByteArray(freqSerde))
      }
      .toDF("group_key", "sketch"))
  }

  /** Heavy-hitter CANDIDATES per group across a set of batches (all when
    * empty): one scan of sketch rows, one bounded merge per group. The
    * NO_FALSE_NEGATIVES guarantee — every item with true count ≥ `minCount`
    * appears — holds only when `minCount` exceeds the merged sketch's
    * tracked maximum error, and the method REFUSES (loudly, per the repo
    * error discipline) rather than silently returning an incomplete set
    * when it doesn't. Callers wanting exact answers semi-join the
    * candidates back to the data and exact-count only those items (the
    * q114 probe does exactly this).
    *
    * @return (group_key, item, estimate, lower_bound, upper_bound,
    *         max_error), ordered; estimate/bounds are the sketch's, the
    *         exact count lies in [lower_bound, upper_bound]
    */
  def heavyHitterCandidates(spark: SparkSession, storeDir: String,
      minCount: Long, batchIds: Seq[String] = Nil,
      maxMapSize: Int = 1024): DataFrame = {
    import org.apache.datasketches.frequencies.ErrorType
    import spark.implicits._
    require(minCount > 0, "minCount must be positive")
    val base = StoreParquet.open(spark, storeDir)
    val scoped =
      if (batchIds.isEmpty) base else base.where(col("batch_id").isin(batchIds: _*))
    scoped.select(col("group_key").cast("string"), col("sketch"))
      .as[(String, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val acc = mergeFreqBlobs(it.map(_._2), maxMapSize)
        val maxErr = acc.getMaximumError
        require(minCount > maxErr,
          s"heavy-hitter threshold $minCount is within the sketch error bound " +
            s"$maxErr for group '$g' — the no-false-negative guarantee does " +
            "not hold; rebuild with a larger maxMapSize or raise minCount")
        acc.getFrequentItems(minCount, ErrorType.NO_FALSE_NEGATIVES).iterator.map {
          r => (g, r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound, maxErr)
        }
      }
      .toDF("group_key", "item", "estimate", "lower_bound", "upper_bound", "max_error")
      .orderBy(col("group_key"), col("item"))
  }

  // ---- mergeable THETA sketches — distinct-count SET ALGEBRA ----------
  //
  // HLL answers |A|, |B| and |A ∪ B| but fundamentally cannot intersect.
  // The questions a history store actually gets asked are intersections:
  // "users active on day 1 AND day 7" (retention — q110 computes it
  // exactly from the raw frame), "documents in both crawls", "customers
  // in segment A but not B". DataSketches theta sketches (on the Spark
  // classpath) close that gap: they carry the hash SAMPLE, not just a
  // cardinality state, so union/intersection/difference compose with
  // provable error bounds. Same store discipline as HLL/KLL: per-(group,
  // batch) KB-sized blobs, exactly-once appends, range queries touch only
  // sketch rows.

  private def mergeThetaBlobs(parts: Iterator[Array[Byte]])
      : org.apache.datasketches.theta.Union = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{SetOperation, Sketches => ThetaSketches}
    val u = SetOperation.builder().buildUnion()
    parts.foreach(b => u.union(ThetaSketches.wrapSketch(Memory.wrap(b))))
    u
  }

  /** Build per-(group, batch) theta sketches of `valueCol` and append them
    * to the store; replaying a `batchId` is a no-op (the
    * [[appendDistinctSketches]] exactly-once discipline).
    *
    * @return number of group rows appended (0 on replay)
    */
  def appendThetaSketches(df: DataFrame, groupCol: String, valueCol: String,
      batchId: String, storeDir: String): Long = {
    import org.apache.datasketches.theta.UpdateSketch
    val spark = df.sparkSession
    import spark.implicits._
    appendOnce(df, batchId, storeDir)(df
      .select(col(groupCol).cast("string").as("g"), col(valueCol).cast("string").as("v"))
      .as[(String, String)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, UpdateSketch]
        it.foreach { case (g, v) =>
          m.getOrElseUpdate(g, UpdateSketch.builder().build()).update(v)
        }
        m.iterator.map { case (g, s) => (g, s.compact().toByteArray) }
      }
      .toDF("group_key", "part")
      .groupBy(col("group_key"))
      .agg(collect_list(col("part")).as("parts")) // ≤ one blob per partition
      .as[(String, Seq[Array[Byte]])]
      .map { case (g, parts) =>
        (g, mergeThetaBlobs(parts.iterator).getResult.toByteArray)
      }
      .toDF("group_key", "sketch"))
  }

  /** Distinct-count SET ALGEBRA per group between two batch ranges: for
    * each group, A = union of its sketches over `batchIdsA`, B = over
    * `batchIdsB`, and the estimate is |A ∪ B|, |A ∩ B| or |A \ B| per
    * `op`. One scan of sketch rows, one bounded per-group fold — the raw
    * history is never read. Returns the DataSketches ±2-stddev bounds
    * alongside (intersections of small overlaps carry wide RELATIVE
    * error — the bounds say so honestly; callers needing the exact answer
    * run the raw-frame join, as probe q110 does for retention).
    *
    * @return (group_key, estimate, lower_bound, upper_bound), ordered
    */
  def estimateSetOp(spark: SparkSession, storeDir: String, op: String,
      batchIdsA: Seq[String], batchIdsB: Seq[String]): DataFrame = {
    import org.apache.datasketches.theta.SetOperation
    import spark.implicits._
    require(Set("union", "intersect", "diff").contains(op),
      s"op must be union|intersect|diff, got '$op'")
    require(batchIdsA.nonEmpty && batchIdsB.nonEmpty,
      "both batch ranges must be non-empty")
    val base = StoreParquet.open(spark, storeDir)
      .where(col("batch_id").isin((batchIdsA ++ batchIdsB): _*))
      .select(col("group_key").cast("string"), col("batch_id"), col("sketch"))
    val aSet = batchIdsA.toSet
    val bSet = batchIdsB.toSet
    base.as[(String, String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        // a batch id present in BOTH ranges contributes to BOTH unions —
        // a partition() here would silently drop it from B and skew the
        // intersect/diff estimates on overlapping ranges
        val rows = it.toSeq
        val as = rows.filter(r => aSet.contains(r._2))
        val bs = rows.filter(r => bSet.contains(r._2))
        val a = mergeThetaBlobs(as.iterator.map(_._3)).getResult
        val b = mergeThetaBlobs(bs.iterator.map(_._3)).getResult
        val r = op match {
          case "union" =>
            val u = SetOperation.builder().buildUnion()
            u.union(a); u.union(b); u.getResult
          case "intersect" =>
            val i = SetOperation.builder().buildIntersection()
            i.intersect(a); i.intersect(b); i.getResult
          case "diff" =>
            SetOperation.builder().buildANotB().aNotB(a, b)
        }
        (g, math.rint(r.getEstimate).toLong,
          math.floor(r.getLowerBound(2)).toLong,
          math.ceil(r.getUpperBound(2)).toLong)
      }
      .toDF("group_key", "estimate", "lower_bound", "upper_bound")
      .orderBy(col("group_key"))
  }

  /** Quantile estimates per group at the requested `ranks` across a set
    * of batches (all when empty): one scan of sketch rows, one bounded
    * merge per group — the raw history is never read.
    *
    * @return (group_key, rank, quantile_est), ordered
    */
  def estimateQuantiles(spark: SparkSession, storeDir: String,
      ranks: Seq[Double], batchIds: Seq[String] = Nil, k: Int = 200): DataFrame = {
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    import spark.implicits._
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      "ranks must be in [0,1]")
    val base = StoreParquet.open(spark, storeDir)
    val scoped =
      if (batchIds.isEmpty) base else base.where(col("batch_id").isin(batchIds: _*))
    scoped.select(col("group_key").cast("string"), col("sketch"))
      .as[(String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        val acc = mergeSketchBlobs(it.map(_._2), k)
        (g, ranks.map(r => acc.getQuantile(r, QuantileSearchCriteria.INCLUSIVE)))
      }
      .flatMap { case (g, qs) => ranks.zip(qs).map { case (r, q) => (g, r, q) } }
      .toDF("group_key", "rank", "quantile_est")
      .orderBy(col("group_key"), col("rank"))
  }

  /** Compact a sketch store: merge the blobs of a CLOSED set of batches
    * into ONE blob per group (merge is the operation sketches exist for)
    * under a single synthetic batch id, rewriting into a NEW directory —
    * the removeFromTextIndex contract: job-commit all-or-nothing into
    * `dstDir`, the source store stays readable throughout, the swap is the
    * caller's atomic rename. Without compaction every estimate scans one
    * blob per (group, batch) forever — a year of hourly batches is 8.7k
    * blobs per group per query; after compaction a closed range is one.
    *
    * Batch ids are opaque strings, so the closed range is named
    * explicitly (`batchIds`), not inferred from an ordering. Granularity
    * inside a compacted range is deliberately gone — compact only ranges
    * no query will ever scope INTO (e.g. hours of a closed month queried
    * monthly); estimates over the whole store, over the compacted id, or
    * over unions of compacted ids and live batches are invariant
    * (sketch-merge associativity).
    *
    * Replay safety across the boundary: absorbed batch ids move to the
    * `_folded` ledger (hidden sub-path, carried forward from any previous
    * compaction), and every append consults it — so replaying an absorbed
    * batch against the compacted store is still a no-op instead of a
    * silent double-count.
    *
    * @param family one of "hll", "kll", "freq", "theta" — must match what
    *        the store's appends wrote (blob formats differ)
    * @param k KLL accuracy parameter — must equal the store's (kll only)
    * @param maxMapSize frequency-sketch capacity — must equal the store's
    *        (freq only)
    * @return number of compacted group rows written
    */
  def compactSketchStore(spark: SparkSession, srcDir: String, dstDir: String,
      family: String, batchIds: Seq[String], compactedBatchId: String,
      k: Int = 200, maxMapSize: Int = 1024, targetFiles: Int = 16): Long = {
    import spark.implicits._
    StoreParquet.requireNewDirectory("compactSketchStore", srcDir, dstDir)
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(Set("hll", "kll", "freq", "theta").contains(family),
      s"family must be hll|kll|freq|theta, got '$family'")
    require(batchIds.nonEmpty, "batchIds must name the closed range to fold")
    require(!batchIds.contains(compactedBatchId),
      "compactedBatchId must be a FRESH id, not one being folded")
    val base = StoreParquet.open(spark, srcDir)
      .select(col("group_key"), col("sketch"), col("batch_id"))
    val idSet = batchIds.toSet
    // ONE probe job answers both guards (r20 optimization round, guide
    // §1.2 — the fresh-id check and the every-id-present check previously
    // scanned the store body twice): the distinct batch ids among
    // (folded range ∪ compacted id) in a single aggregation
    val probed = base
      .where(col("batch_id").isin((batchIds :+ compactedBatchId): _*))
      .select(col("batch_id").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    require(!probed.contains(compactedBatchId),
      s"batch id '$compactedBatchId' already exists in the store")
    // every id being folded must actually BE in the store: folding an
    // absent id would ledger it anyway, turning a later (legitimate,
    // first-ever) append of that batch into a silent no-op — data loss
    val present = probed & idSet
    require((idSet -- present).isEmpty,
      s"batch ids ${(idSet -- present).toSeq.sorted.mkString(", ")} are not " +
        "in the store — folding an absent batch would make its future " +
        "replay a silent no-op (append it first, or drop it from the range)")
    val absorbed = base.where(col("batch_id").isin(batchIds: _*))
    val keep = base.where(!col("batch_id").isin(batchIds: _*))
    val mergedPairs: DataFrame = family match {
      case "hll" =>
        // group_key keeps the store's own type (HLL appends don't cast;
        // the other families' stores are string-keyed at build time)
        absorbed.groupBy(col("group_key"))
          .agg(expr("hll_union_agg(sketch)").as("sketch"))
      case "kll" =>
        absorbed.select(col("group_key").cast("string"), col("sketch"))
          .as[(String, Array[Byte])]
          .groupByKey(_._1)
          .mapGroups { (g, it) => (g, mergeSketchBlobs(it.map(_._2), k).toByteArray) }
          .toDF("group_key", "sketch")
      case "freq" =>
        absorbed.select(col("group_key").cast("string"), col("sketch"))
          .as[(String, Array[Byte])]
          .groupByKey(_._1)
          .mapGroups { (g, it) =>
            (g, mergeFreqBlobs(it.map(_._2), maxMapSize).toByteArray(freqSerde))
          }
          .toDF("group_key", "sketch")
      case "theta" =>
        absorbed.select(col("group_key").cast("string"), col("sketch"))
          .as[(String, Array[Byte])]
          .groupByKey(_._1)
          .mapGroups { (g, it) =>
            (g, mergeThetaBlobs(it.map(_._2)).getResult.toByteArray)
          }
          .toDF("group_key", "sketch")
    }
    val merged = mergedPairs.withColumn("batch_id", lit(compactedBatchId))
    // the store body first, the ledger second: a crash in between leaves a
    // dstDir whose ledger is missing — the caller has not swapped yet, so
    // nothing reads it; the retry overwrites both. Bounded to `targetFiles`
    // (blob rows are KB-sized; the whole point of compaction is that the
    // store stops being a file-count problem)
    // the compacted-row count rides an Observation ON the body write
    // (conditional sum — identical to the old read-back's filtered count
    // over the job-committed, all-or-nothing write), so the extra
    // full-store read-back job is gone (r20; the writeCounted discipline)
    val obs = org.apache.spark.sql.Observation("sketch_compaction")
    keep.unionByName(merged)
      .coalesce(targetFiles)
      .observe(obs, sum(when(col("batch_id") === compactedBatchId, 1L)
        .otherwise(0L)).as("compacted_rows"))
      .write.mode(SaveMode.Overwrite).parquet(dstDir)
    import graft.sources.{PathState, SidecarParquet}
    // prior ledger rows read DRIVER-SIDE (KB sidecar — the fold probe's
    // rationale); the ledger write runs over a LocalTableScan
    val prior: Seq[(String, String)] =
      if (PathState.hasData(s"$srcDir/_folded", spark.sparkContext.hadoopConfiguration))
        SidecarParquet.readGroups(s"$srcDir/_folded",
            spark.sparkContext.hadoopConfiguration)
          .map(g => (SidecarParquet.stringAt(g, "batch_id"),
            SidecarParquet.stringAt(g, "folded_into")))
      else Seq.empty
    // driver-local ledger rows → driver-side write, zero jobs (r20)
    SidecarParquet.writeFlat(s"$dstDir/_folded",
      spark.sparkContext.hadoopConfiguration,
      Seq("batch_id" -> "string", "folded_into" -> "string"),
      (idSet.toSeq.sorted.map(b => (b, compactedBatchId)) ++ prior)
        .map(p => Seq(p._1, p._2)))
    Option(obs.get("compacted_rows")).map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** The sketch stores' maintenance policy —
    * [[graft.operators.Search.maintainTextIndex]]'s contract on the
    * FOURTH store axis (R190): sketch blobs have no model to drift and no
    * layout to erode — what sustained [[appendDistinctSketches]]-family
    * ingest grows is the blob-row count (one per (group, batch)) and the
    * data-file count (one file-set per append), and every estimate scans
    * one blob per (group, batch) forever. This observes the live
    * generation's data-file count (ONE driver listing — a healthy store
    * costs nothing else) and, only past `maxDataFiles`, pays the
    * [[compactSketchStore]] merge of the caller-named CLOSED range into a
    * staged generation and publishes it atomically. The closed range
    * stays the CALLER's to name — batch ids are opaque and only the
    * caller knows which ranges no query will ever scope into (the
    * compactor's own contract); the policy owns observe, swap and the
    * tripwire. Estimates are invariant through the swap (sketch-merge
    * associativity); absorbed replays stay no-ops via the carried
    * `_folded` ledger.
    *
    * QUIESCENCE ([[Maintenance.tick]] states the contract): the tripwire
    * fingerprint is the live generation's data-file count.
    *
    * @return the published generation name, or None when healthy
    */
  def maintainSketchStore(spark: SparkSession, catalogRoot: String,
      family: String, closedBatchIds: Seq[String], compactedBatchId: String,
      maxDataFiles: Int, targetFiles: Int = 16, k: Int = 200,
      maxMapSize: Int = 1024): Option[String] =
    Maintenance.tick(spark, Maintenance.SketchPolicy(catalogRoot, family,
      closedBatchIds, compactedBatchId, maxDataFiles, targetFiles, k,
      maxMapSize)).published.get
}
