package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: z-order (Morton) clustering for
  * file-level data skipping (EXT scale mandate; no reference counterpart —
  * the reference stores rows in Postgres, `index_documents.py:202-249`).
  *
  * WHY AT 100 TB: a parquet lake is scanned through per-file/row-group
  * min-max statistics. Sorting by one column gives perfect skipping on
  * that column and NONE on any other. Interleaving the bits of d columns
  * into one sort key bounds EVERY dimension's spread inside each file
  * (a file covering a contiguous z-range covers a small hyper-rectangle
  * of the original space), so conjunctive range predicates on any subset
  * of the z-columns prune files. This is the standard lakehouse technique
  * (Delta/Iceberg `OPTIMIZE ZORDER BY`), built here from plain codegen'd
  * bit arithmetic — no custom physical operator needed: compute the key,
  * `repartitionByRange` on it (sampled range boundaries → balanced files
  * even under skew), sort within partitions, write.
  *
  * Everything is integer bit math (`shiftright`/`bitwiseAND`/`shiftleft`
  * /`bitwiseOR`), bit-identical to the DuckDB oracle spelling
  * `((c >> b) & 1) << k` — no doubles anywhere in the key.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of each column
    * (column i contributes bit b to output position `b*n + i`). Inputs
    * must already be non-negative grid coordinates (see [[gridCoord]]);
    * values are masked to `bits` bits, so out-of-range inputs wrap rather
    * than error — callers own the bounding. `n*bits` must fit a signed
    * long. The expansion is `n*bits` codegen'd integer ops — a single
    * whole-stage-codegen projection, no UDF.
    */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits > 0 && bits * cols.size <= 63,
      s"bits*cols must fit a signed long, got $bits*${cols.size}")
    val n = cols.size
    val terms =
      for { b <- 0 until bits; (c, i) <- cols.zipWithIndex }
        yield shiftleft(
          shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Map a numeric column onto the `[0, 2^bits)` grid given its global
    * min/max (one tiny agg the caller runs once): integer-exact
    * `floor((c - min) * (2^bits - 1) / (max - min))` for integer inputs
    * computed entirely in LONG arithmetic — multiply before divide via
    * the SQL `div` (IntegralDivide, truncating; operands are non-negative
    * so it equals DuckDB's floor-dividing `//` bit-for-bit; Column./ would
    * go through doubles and lose exactness past 2^53). For floating
    * inputs prefer pre-bucketing to integers upstream; cross-engine float
    * division parity is not guaranteed. The caller owns overflow:
    * `(max - min) * (2^bits - 1)` must fit a long.
    */
  def gridCoord(c: Column, min: Long, max: Long, bits: Int): Column = {
    require(max > min, s"degenerate range [$min,$max]")
    val m = (1L << bits) - 1
    call_function("div", (c.cast("long") - lit(min)) * lit(m), lit(max - min))
  }

  /** Write `df` as `numFiles` parquet files clustered by the z-order of
    * `zCols` (already grid coordinates, see [[gridCoord]]). Layout only:
    * the written schema is exactly `df`'s — the key is dropped after the
    * exchange+sort, which Spark preserves through the trailing projection.
    *
    * `repartitionByRange` SAMPLES key quantiles, so files stay balanced
    * under arbitrary key skew (a hash layout would not give contiguous
    * z-ranges; a global sort would funnel through one task per range
    * anyway — this IS the global sort, split into `numFiles` writers).
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[Column],
      bits: Int, numFiles: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    df.withColumn("_graft_z", zValue(zCols, bits))
      .repartitionByRange(numFiles, col("_graft_z"))
      .sortWithinPartitions(col("_graft_z"))
      .drop("_graft_z")
      .write.mode(mode).parquet(path)
  }

  /** Rank-based grid coordinate for SKEWED columns: [[gridCoord]]'s
    * min-max scaling collapses a zipf-ish column into a few cells (one
    * outlier stretches the range; the mass lands in bucket 0) and the
    * z-curve loses its locality on that dimension. Bucketing by QUANTILE
    * boundaries instead gives equal-mass cells regardless of the
    * distribution. Boundaries come from `approxQuantile` (one pass,
    * Greenwald-Khanna, driver-side array of 2^bits-1 doubles — tiny) and
    * are inlined as a literal; the per-row work is a codegen'd binary
    * search (`width_bucket` semantics via array comparison).
    */
  def gridCoordByQuantiles(df: DataFrame, c: String, bits: Int,
      relativeError: Double = 0.001): Column = {
    require(bits > 0 && bits <= 16, s"bits must be in [1,16], got $bits")
    val n = (1 << bits) - 1
    val probs = (1 to n).map(_.toDouble / (n + 1)).toArray
    val bounds = df.stat.approxQuantile(c, probs, relativeError)
    // count boundaries ≤ value = the bucket index in [0, 2^bits)
    val arr = lit(bounds)
    aggregate(arr, lit(0L),
      (acc, b) => when(col(c).cast("double") >= b, acc + 1L).otherwise(acc))
  }

  /** Write parquet with BLOOM FILTERS on the given columns — the layout
    * lever for POINT lookups that min-max stats cannot serve: a z-order /
    * range sort bounds each file's value RANGE, but an id-equality probe
    * on an unsorted high-cardinality column (content digest, user id,
    * canonical URL) still touches every row group whose wide range happens
    * to cover the key. A bloom filter answers "definitely absent" per row
    * group at ~1 byte/row, so the scan skips row groups membership-style.
    * These are STANDARD parquet footer structures (format ≥ 2.9) written
    * via the writer options the parquet-mr library honors — engines that
    * don't read blooms just ignore them.
    *
    * @param ndv expected distinct values per column (sizes the filter)
    */
  def writeWithBloomFilters(df: DataFrame, path: String, cols: Seq[String],
      ndv: Long = 100000L, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(cols.nonEmpty, "need at least one bloom-filter column")
    require(ndv > 0, "ndv must be positive")
    val w = cols.foldLeft(df.write.mode(mode)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.parquet(path)
  }

  /** Single-column counterpart for A/B-ing layouts in specs and docs:
    * global range-sort by `c` into `numFiles` files (perfect skipping on
    * `c`, none elsewhere).
    */
  def writeRangeSorted(df: DataFrame, path: String, c: Column,
      numFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    df.repartitionByRange(numFiles, c)
      .sortWithinPartitions(c)
      .write.mode(mode).parquet(path)
  }

  /** Compact a parquet directory into ~`targetBytes` files (small-file
    * maintenance — the other half of layout hygiene: a 100 TB lake fed by
    * streaming/incremental appends accretes kilobyte files whose per-file
    * open/footer/task overhead eventually dominates scans; NameNode/
    * listing pressure grows unbounded). File count is sized from the
    * ACTUAL input bytes (one filesystem listing, no data pass), then one
    * round-robin repartition spreads rows evenly regardless of input
    * skew. Writes to a NEW directory (job-commit all-or-nothing) — swap
    * is the caller's atomic rename, never an in-place rewrite.
    *
    * @return the number of output files chosen
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetBytes: Long = 128L << 20,
      sortWithin: Seq[Column] = Nil): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(inDir != outDir,
      "compactParquet writes a NEW directory — overwriting the input while " +
        "reading it would corrupt the lake; swap via atomic rename after")
    val n = filesFor(spark, inDir, targetBytes)
    val df = spark.read.parquet(inDir).repartition(n)
    val sorted = if (sortWithin.isEmpty) df else df.sortWithinPartitions(sortWithin: _*)
    sorted.write.mode(SaveMode.Overwrite).parquet(outDir)
    n
  }

  /** Re-establish z-order clustering on an append-degraded directory:
    * [[compactParquet]]'s byte-derived file sizing + [[writeZOrdered]]'s
    * layout in one maintenance pass. Incremental appends land z-unsorted
    * (each batch is clustered internally at best), so periodic
    * re-clustering is what keeps multi-dimensional skipping sharp — run it
    * when [[fileBounds]] shows bounding boxes widening. Same new-directory
    * contract as compaction.
    *
    * @return the number of output files chosen
    */
  def recluster(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, zCols: Seq[Column], bits: Int,
      targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(inDir != outDir,
      "recluster writes a NEW directory (same contract as compactParquet)")
    val n = filesFor(spark, inDir, targetBytes)
    writeZOrdered(spark.read.parquet(inDir), outDir, zCols, bits, n)
    n
  }

  /** Output files of ~`targetBytes` for the VISIBLE parquet bytes under
    * `dir`: a crashed writer's `_temporary/…` orphans are not input.
    */
  private def filesFor(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long): Int = {
    val bytes = graft.sources.PathState.visibleParquet(dir,
      spark.sparkContext.hadoopConfiguration).map(_._2.getLen).sum
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** Per-file bounding boxes of `cols` for a parquet directory — the
    * skipping-quality diagnostic: the sum over files of matching-range
    * width is what a min-max pruner scans. One pass, one small agg
    * (|files| × |cols| rows).
    */
  def fileBounds(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
    }
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
