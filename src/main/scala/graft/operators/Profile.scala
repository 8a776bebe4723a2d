package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.StoreParquet

/** Dataset profiling — the observability pass a 100 TB ingest runs before
  * anything else touches the data (EXT): per-column quality cards (row/null/
  * distinct counts, min/max) and exact top-k frequent values. A corpus
  * rebuild that silently loses a language, nulls out a source, or doubles a
  * category shows up here first, so the profile is designed to be EXACT and
  * engine-portable (every metric replays in DuckDB — the oracle discipline),
  * not a sampled estimate a drifting pipeline can hide under.
  *
  * Scale shape: one full scan feeds a single-row global aggregate (map-side
  * partial, no shuffle of data rows — only 32 partial buffers), and one
  * unpivoted `(column, value)` pass feeds the distinct/frequency counts —
  * a single shuffle at the (column, value) grain with map-side combine, so
  * the reduce side sees one row per DISTINCT value, not per data row. The
  * unpivot multiplies scanned rows by |cols| but ships only the profiled
  * columns (column pruning reaches the parquet scan); profile wide tables
  * in column batches rather than all at once.
  */
object Profile {

  /** The unpivoted `(column, value)` relation behind the distinct and
    * frequency passes: one scan, rows × |cols|, values canonicalized to
    * strings (cast semantics match DuckDB's VARCHAR cast for integers and
    * strings — the probe-safe types; document float/timestamp columns
    * rendering as ENGINE-SPECIFIC before oracle-comparing them).
    */
  private def unpivoted(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map { c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value"))
    }: _*)).as("kv"))
      .select(col("kv.column").as("column"), col("kv.value").as("value"))

  /** Per-column quality card: `(column, n_rows, n_non_null, n_null,
    * n_distinct, min_value, max_value)` — one row per profiled column,
    * ordered by column name. `n_distinct` ignores nulls (the SQL
    * `count(distinct col)` contract); min/max compare in the column's OWN
    * type (numeric order for numerics), then canonicalize to strings.
    * All metrics exact.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    // pass 1: one global aggregate row — typed min/max + null counts
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val global = df.agg(aggs.head, aggs.tail: _*)
      // relational unpivot of the 1-row aggregate: no driver collect
      .select(col("n_rows"), explode(array(cols.map { c =>
        struct(lit(c).as("column"), col(s"__nn_$c").as("n_non_null"),
          col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
      }: _*)).as("m"))
      .select(col("m.column").as("column"), col("n_rows"),
        col("m.n_non_null").as("n_non_null"),
        (col("n_rows") - col("m.n_non_null")).as("n_null"),
        col("m.min_value").as("min_value"), col("m.max_value").as("max_value"))
    // pass 2: exact distincts at the (column, value) grain
    val distincts = unpivoted(df, cols)
      .groupBy(col("column"))
      .agg(count_distinct(col("value")).as("n_distinct"))
    global.join(distincts, Seq("column"), "left")
      .na.fill(0L, Seq("n_distinct"))
      .select(col("column"), col("n_rows"), col("n_non_null"), col("n_null"),
        col("n_distinct"), col("min_value"), col("max_value"))
      .orderBy(col("column"))
  }

  /** SINGLE-PASS approximate quality card — the shape the exact profile
    * trades away at 100 TB: [[profileColumns]]' distinct pass unpivots
    * every (column, value) through one shuffle, which is exact but ships
    * rows × |cols|; this variant answers the same card in ONE scan with
    * NO data-row shuffle (a global aggregate's partial buffers are all
    * that moves) by swapping exact distincts for HyperLogLog++ estimates
    * (`approx_count_distinct`, rsd = 2.5%). Deterministic for fixed input
    * (the sketch is a pure function of the value set) but NOT
    * engine-portable — DuckDB's approx_distinct uses a different sketch —
    * so this tier is spec-gated against the exact profile (the A3
    * discipline), not oracle-checked. Use it for monitoring cadence;
    * promote to [[profileColumns]] when a rebuild gate needs exactness.
    */
  def approxProfileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "approxProfileColumns needs at least one column")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        approx_count_distinct(col(c)).as(s"__ad_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map { c =>
        struct(lit(c).as("column"), col(s"__nn_$c").as("n_non_null"),
          col(s"__ad_$c").as("approx_distinct"),
          col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
      }: _*)).as("m"))
      .select(col("m.column").as("column"), col("n_rows"),
        col("m.n_non_null").as("n_non_null"),
        (col("n_rows") - col("m.n_non_null")).as("n_null"),
        col("m.approx_distinct").as("approx_distinct"),
        col("m.min_value").as("min_value"), col("m.max_value").as("max_value"))
      .orderBy(col("column"))
  }

  /** PER-GROUP quality cards — [[profileColumns]] keyed by a grouping
    * column (the per-language / per-source monitoring cut a mixture
    * pipeline watches): one aggregate pass at the group grain (map-side
    * partial; multiple exact distincts plan as one Expand — keep the
    * profiled column list short, this is a card, not a dump), then the
    * same relational unpivot to one row per (group, column). All metrics
    * exact and engine-portable.
    */
  def profileByGroup(df: DataFrame, groupCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileByGroup needs at least one column")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    require(!cols.contains(groupCol),
      s"group column $groupCol cannot also be profiled")
    val missing = (groupCol +: cols).filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    df.groupBy(col(groupCol).as("grp"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("grp"), col("n_rows"), explode(array(cols.map { c =>
        struct(lit(c).as("column"), col(s"__nn_$c").as("n_non_null"),
          col(s"__nd_$c").as("n_distinct"),
          col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
      }: _*)).as("m"))
      .select(col("grp"), col("m.column").as("column"), col("n_rows"),
        col("m.n_non_null").as("n_non_null"),
        (col("n_rows") - col("m.n_non_null")).as("n_null"),
        col("m.n_distinct").as("n_distinct"),
        col("m.min_value").as("min_value"), col("m.max_value").as("max_value"))
      .orderBy(col("grp"), col("column"))
  }

  /** Profile DIFF — the rebuild gate: given two [[profileColumns]] cards
    * (before/after a pipeline change or a fixture regeneration), emit one
    * row per (column, metric) whose value CHANGED, with both values as
    * canonical strings. An empty result is the green light; a language
    * that lost rows, a column that went nullable, or a shifted max shows
    * up as a named metric, not a buried number. Both sides are tiny
    * (one row per column), so the join is a broadcast no-op at any scale.
    */
  def diffProfiles(before: DataFrame, after: DataFrame): DataFrame = {
    val metrics = Seq("n_rows", "n_non_null", "n_null", "n_distinct",
      "min_value", "max_value")
    for (m <- "column" +: metrics; (side, d) <- Seq("before" -> before, "after" -> after))
      require(d.columns.contains(m),
        s"$side card is missing profile column $m — pass profileColumns output")
    def unpivot(d: DataFrame): DataFrame =
      d.select(col("column"), explode(array(metrics.map { m =>
        struct(lit(m).as("metric"), col(m).cast("string").as("value"))
      }: _*)).as("kv"))
        .select(col("column"), col("kv.metric").as("metric"),
          col("kv.value").as("value"))
    unpivot(before).withColumnRenamed("value", "before")
      .join(unpivot(after).withColumnRenamed("value", "after"),
        Seq("column", "metric"), "full_outer")
      .where(not(col("before") <=> col("after")))
      .select(col("column"), col("metric"), col("before"), col("after"))
      .orderBy(col("column"), col("metric"))
  }

  /** Which merge discipline a column's min/max strings need: integral
    * values must merge numerically ("9" < "10" only as longs), strings
    * and canonically-rendered date/timestamps ARE lexicographically
    * ordered, and fractional (float/double) values merge on the PARSED
    * double — safe because Spark's double/float→string cast is the
    * shortest round-trip rendering (Java `Double.toString` semantics):
    * distinct values render to distinct strings whose decimal readings
    * preserve numeric order, and the merge returns the stored string
    * VERBATIM (keyed min/max of a (parsed, string) struct), so no
    * re-render can drift (VERDICT r10 item 3 — quality-score doubles are
    * exactly what the card must watch). NaN sorts greatest, the Spark
    * double order. Binary stays refused — no exact string round-trip.
    */
  private def valueTypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => "integral"
      case StringType | DateType | TimestampType | TimestampNTZType => "lexical"
      case DoubleType | FloatType => "fractional"
      case other => throw new IllegalArgumentException(
        s"incremental profile does not support $other columns — exact " +
          "string min/max round-trips exist only for integral, string, " +
          "date/timestamp and float/double types")
    }
  }

  /** INCREMENTAL quality-card maintenance — the continuous-ingest shape:
    * each batch appends its per-column card rows to a parquet store
    * (`column, value_type, batch_id, counts, min/max`), and
    * [[mergedProfile]] folds any batch range back into a card without
    * rescanning history — counts SUM, min/max merge in the right order
    * (numeric for integral columns, lexicographic for
    * string/date/timestamp, parsed-double for float/double — see
    * [[valueTypeOf]] for why the round-trip is exact).
    * `n_distinct` is NOT mergeable from per-batch
    * exact cards and is deliberately absent — pair the store with
    * [[graft.operators.Sketches.appendDistinctSketches]] when distinct
    * trends matter (mergeable HLL, same batch-ledger discipline).
    *
    * Replaying a `batchId` already in the store is a no-op (the
    * Sketches-store contract). Foreign content refuses loudly.
    *
    * @return card rows appended (0 on replay)
    */
  def appendProfile(df: DataFrame, cols: Seq[String], batchId: String,
      storeDir: String): Long = {
    val spark = df.sparkSession
    import graft.sources.PathState
    require(cols.nonEmpty, "appendProfile needs at least one column")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    val vt = cols.map(c => c -> valueTypeOf(df.schema(c).dataType)).toMap
    val state = PathState.classify(storeDir, spark.sparkContext.hadoopConfiguration)
    require(state != PathState.Foreign,
      s"profile store '$storeDir' holds non-parquet content — refusing to append")
    if (state == PathState.Data && StoreParquet.open(spark, storeDir)
        .where(col("batch_id") === batchId).limit(1).count() > 0) return 0L
    // fractional min/max normalize -0.0 → 0.0 BEFORE rendering (ADVICE
    // r11): -0.0 and 0.0 parse back to EQUAL doubles but render as
    // DISTINCT strings, so a stored "-0.0" would make [[mergedProfile]]'s
    // struct min/max fall through to its string tie-break and the merged
    // card could disagree with a one-shot card on signed-zero data.
    // `abs` on an exact zero keeps the column's own float/double type
    // (no widening, so every non-zero value renders unchanged).
    def render(c: String)(e: org.apache.spark.sql.Column) =
      (if (vt(c) == "fractional") when(e === 0, abs(e)).otherwise(e) else e)
        .cast("string")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        render(c)(min(col(c))).as(s"__mn_$c"),
        render(c)(max(col(c))).as(s"__mx_$c"))
    }
    val card = df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map { c =>
        struct(lit(c).as("column"), lit(vt(c)).as("value_type"),
          col(s"__nn_$c").as("n_non_null"),
          col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
      }: _*)).as("m"))
      .select(col("m.column").as("column"), col("m.value_type").as("value_type"),
        lit(batchId).as("batch_id"), col("n_rows"),
        col("m.n_non_null").as("n_non_null"),
        col("m.min_value").as("min_value"), col("m.max_value").as("max_value"))
      .persist()
    try {
      val n = card.count()
      card.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(storeDir)
      n
    } finally { card.unpersist(); () }
  }

  /** Fold stored per-batch cards into one quality card (all batches, or a
    * selected range): one scan of (columns × batches) tiny rows, never
    * the raw history. Same output shape as [[profileColumns]] minus
    * `n_distinct` (see [[appendProfile]]).
    */
  def mergedProfile(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      batchIds: Seq[String] = Nil): DataFrame = {
    val base = StoreParquet.open(spark, storeDir)
    val scoped =
      if (batchIds.isEmpty) base else base.where(col("batch_id").isin(batchIds: _*))
    scoped.groupBy(col("column"), col("value_type"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_non_null")).as("n_non_null"),
        // min/max in the column's ORDER: integral strings re-compare as
        // longs (then render back); lexical strings compare directly
        min(when(col("value_type") === "integral",
          col("min_value").cast("long")).otherwise(null)).as("__mn_i"),
        max(when(col("value_type") === "integral",
          col("max_value").cast("long")).otherwise(null)).as("__mx_i"),
        min(when(col("value_type") === "lexical", col("min_value"))
          .otherwise(null)).as("__mn_l"),
        max(when(col("value_type") === "lexical", col("max_value"))
          .otherwise(null)).as("__mx_l"),
        // fractional: keyed struct-min/max — compare on the parsed double
        // normalized for signed zero (`+ 0.0` turns -0.0 into 0.0, so a
        // pre-normalization store holding both "-0.0" and "0.0" cards
        // can't tie-break on the string and flip the merged value; with
        // equal keys the string tiebreak picks deterministically, and
        // [[appendProfile]] no longer writes "-0.0" at all), return the
        // stored string verbatim.
        // The isNotNull guard matters: an all-null batch stores a NULL
        // min/max, and when() would wrap it in a NON-null struct with
        // null fields, which sorts FIRST and would poison the merged min
        // to NULL (unlike the scalar paths, where min/max skip nulls).
        min(when(col("value_type") === "fractional" &&
            col("min_value").isNotNull,
          struct((col("min_value").cast("double") + 0.0).as("k"),
            col("min_value").as("v")))).as("__mn_f"),
        max(when(col("value_type") === "fractional" &&
            col("max_value").isNotNull,
          struct((col("max_value").cast("double") + 0.0).as("k"),
            col("max_value").as("v")))).as("__mx_f"))
      .select(col("column"), col("n_rows"), col("n_non_null"),
        (col("n_rows") - col("n_non_null")).as("n_null"),
        when(col("value_type") === "integral", col("__mn_i").cast("string"))
          .when(col("value_type") === "fractional", col("__mn_f.v"))
          .otherwise(col("__mn_l")).as("min_value"),
        when(col("value_type") === "integral", col("__mx_i").cast("string"))
          .when(col("value_type") === "fractional", col("__mx_f.v"))
          .otherwise(col("__mx_l")).as("max_value"))
      .orderBy(col("column"))
  }

  /** EXACT order-statistic quantiles of one column — the distribution cut
    * of the quality card ("p95 document length"), defined with integer
    * arithmetic so the answer is engine-portable: for quantile q (in ppm)
    * over n non-null rows, the reported value is the element at sorted
    * position k = ⌈q·n / 10⁶⌉ (1-based), computed as
    * `(q_ppm·n + 999999) div 10⁶` — no float index, no interpolation, so
    * DuckDB replays it with a row_number join and the hash compare cannot
    * flap on ulps (the repo's floor/ppm discipline; `percentile_approx`
    * and interpolated `percentile` both fail one or the other
    * requirement).
    *
    * Scale shape: ranking rides [[graft.operators.Ranks.globalRank]] —
    * ONE range exchange, rank within partitions, metadata-scale offset
    * cumsum — never `Window.orderBy` with no partition (the single-task
    * funnel). `tiebreakCol` must make (value, tiebreak) unique (the
    * globalRank contract); the ORDER STATISTIC is tiebreak-independent,
    * the determinism of the rank join is not.
    */
  def quantileCard(df: DataFrame, valueCol: String, tiebreakCol: String,
      qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty, "quantileCard needs at least one quantile")
    require(qsPpm.forall(q => q >= 1 && q <= 1000000L),
      s"quantiles must be in [1, 1000000] ppm, got $qsPpm")
    require(qsPpm.distinct.size == qsPpm.size, s"duplicate quantiles in $qsPpm")
    val missing = Seq(valueCol, tiebreakCol).filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    val nonNull = df.select(col(valueCol), col(tiebreakCol))
      .where(col(valueCol).isNotNull)
    val ranked = Ranks.globalRank(nonNull,
      Seq(col(valueCol), col(tiebreakCol)), "__rk")
    val total = nonNull.agg(count(lit(1)).as("__n"))
    val qs = qsPpm.sorted.map(q => struct(lit(q).as("q_ppm")))
    ranked.crossJoin(broadcast(total))
      .select(col(valueCol), col("__rk"), col("__n"),
        explode(array(qs: _*)).as("__q"))
      .select(col(valueCol), col("__rk"), col("__n"),
        col("__q.q_ppm").as("q_ppm"))
      // k = ceil(q·n / 1e6) in exact integers (div = integral division)
      .where(col("__rk") ===
        call_function("div", col("q_ppm") * col("__n") + lit(999999L), lit(1000000L)))
      .select(col("q_ppm"), col(valueCol).as("value"))
      .orderBy(col("q_ppm"))
  }

  /** PER-GROUP order-statistic quantiles — [[quantileCard]] keyed by a
    * group column ("p95 length per language"): the same integer-ppm
    * position rule, ranked by a window PARTITIONED on the group (groups
    * spread across tasks — partitioned windows scale where the global
    * one funnels, which is exactly why the global variant rides
    * [[graft.operators.Ranks.globalRank]] instead).
    *
    * Skewed group sizes are the shape's hazard: one giant group's rank
    * would sort inside a single task — the exact funnel the global
    * variant avoids. So this operator ROUTES (VERDICT r10 item 2, the
    * semanticDedup sizing-router discipline): a group-size pre-agg
    * (map-side partials, one tiny result) finds groups above
    * `maxGroupRows`; their rows take the RANGE-EXCHANGE path —
    * [[graft.operators.Ranks.globalRank]] over (group, value, tiebreak),
    * which spreads a giant group across range partitions, minus a
    * broadcast per-group offset (cumsum over the oversized groups' sizes
    * — at most totalRows/maxGroupRows rows, metadata-scale by
    * construction) — while every within-cap group keeps the partitioned
    * window. Both paths compute the identical rank, so the card is
    * invariant to the routing threshold (spec-pinned).
    *
    * `(valueCol, tiebreakCol)` must be unique within each group — the
    * same determinism contract as the global variant's.
    */
  def quantileCardByGroup(df: DataFrame, groupCol: String, valueCol: String,
      tiebreakCol: String, qsPpm: Seq[Long],
      maxGroupRows: Long = 4000000L): DataFrame = {
    require(qsPpm.nonEmpty, "quantileCardByGroup needs at least one quantile")
    require(qsPpm.forall(q => q >= 1 && q <= 1000000L),
      s"quantiles must be in [1, 1000000] ppm, got $qsPpm")
    require(qsPpm.distinct.size == qsPpm.size, s"duplicate quantiles in $qsPpm")
    require(maxGroupRows > 0, s"maxGroupRows must be positive, got $maxGroupRows")
    val missing = Seq(groupCol, valueCol, tiebreakCol).filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    val qs = qsPpm.sorted.map(q => struct(lit(q).as("q_ppm")))
    val rows = df.select(col(groupCol).as("grp"), col(valueCol), col(tiebreakCol))
      .where(col(valueCol).isNotNull)
    def card(ranked: DataFrame): DataFrame = ranked
      .select(col("grp"), col(valueCol), col("__rk"), col("__n"),
        explode(array(qs: _*)).as("__q"))
      .select(col("grp"), col(valueCol), col("__rk"), col("__n"),
        col("__q.q_ppm").as("q_ppm"))
      .where(col("__rk") ===
        call_function("div", col("q_ppm") * col("__n") + lit(999999L), lit(1000000L)))
      .select(col("grp"), col("q_ppm"), col(valueCol).as("value"))
    def windowRanked(in: DataFrame): DataFrame = in
      .withColumn("__rk", row_number().over(Window.partitionBy(col("grp"))
        .orderBy(col(valueCol).asc, col(tiebreakCol).asc)))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    // the router: ONE size pre-agg (map-side partials) whose oversized
    // slice collects driver-side in grp order — bounded by construction:
    // at most totalRows/maxGroupRows groups can exceed the cap (the
    // semanticDedup sizing-router discipline). A NULL group always rides
    // the window path (the offsets equi-join cannot carry it): a giant
    // null group is a data-quality defect the card's own n_null surfaces.
    val bigRows = rows.groupBy(col("grp"))
      .agg(count(lit(1)).as("__gn"))
      .where(col("__gn") > maxGroupRows && col("grp").isNotNull)
      .orderBy(col("grp"))
      .collect()
    val ranked =
      if (bigRows.isEmpty) windowRanked(rows)
      else {
        val grpVals = bigRows.map(_.get(0)).toSeq
        val small = rows.where(col("grp").isNull ||
          !col("grp").isInCollection(grpVals))
        val big = rows.where(col("grp").isInCollection(grpVals))
        // per-group offsets (rows in PRECEDING oversized groups, in
        // globalRank's own grp-asc order) fold driver-side into a tiny
        // broadcast frame
        var acc = 0L
        val offRows = bigRows.map { r =>
          val n = r.getLong(1); val o = acc; acc += n
          org.apache.spark.sql.Row(r.get(0), n, o)
        }.toSeq
        val spark = df.sparkSession
        val offsets = spark.createDataFrame(
          spark.sparkContext.parallelize(offRows, 1),
          org.apache.spark.sql.types.StructType(Seq(
            rows.schema("grp"),
            org.apache.spark.sql.types.StructField("__gn",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("__off",
              org.apache.spark.sql.types.LongType, nullable = false))))
        val bigRanked = Ranks.globalRank(big,
          Seq(col("grp"), col(valueCol), col(tiebreakCol)), "__grk")
        windowRanked(small).unionByName(bigRanked
          .join(broadcast(offsets), Seq("grp"))
          .withColumn("__rk", col("__grk") - col("__off"))
          .withColumn("__n", col("__gn"))
          .select(col("grp"), col(valueCol), col(tiebreakCol),
            col("__rk"), col("__n")))
      }
    card(ranked).orderBy(col("grp"), col("q_ppm"))
  }

  /** Referential-integrity check — [[duplicateKeys]]' sibling for the
    * OTHER join precondition: child keys with no parent (the rows an
    * inner join would silently drop, the fk-violation report). One
    * LEFT ANTI join on the key (broadcast when the parent's key set is
    * small) plus a count per dangling key. Empty result certifies the
    * reference.
    */
  def danglingKeys(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    require(child.columns.contains(childKey), s"$childKey not in child schema")
    require(parent.columns.contains(parentKey), s"$parentKey not in parent schema")
    child.select(col(childKey))
      // a NULL fk is a different defect (the card's n_null); this report
      // is about non-null keys that resolve to nothing
      .where(col(childKey).isNotNull)
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .groupBy(col(childKey))
      .agg(count(lit(1)).as("n"))
      .orderBy(col(childKey))
  }

  /** Composite-key integrity check — the precondition audit before a join
    * or a dedup keyed on `cols`: every key combination held by MORE than
    * one row, with its multiplicity. An empty result certifies uniqueness;
    * a non-empty one is the exact damage report. One hash aggregate with
    * map-side combine (the reduce side sees one row per distinct key).
    */
  def duplicateKeys(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "duplicateKeys needs at least one key column")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
      .orderBy(cols.map(col) :+ col("n"): _*)
  }

  /** Exact top-k most frequent non-null values per column:
    * `(column, value, n)` with deterministic ties (count desc, then value
    * asc) — the categorical-drift detector (a language or source whose
    * share moves between rebuilds). Counts reduce at the (column, value)
    * grain with map-side combine; the top-k window partitions by column
    * (|cols| partitions — WindowGroupLimit prunes each to k rows before
    * the final sort, the q69 discipline).
    */
  def frequentValues(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(cols.nonEmpty, "frequentValues needs at least one column")
    // a repeated name would double that column's every count via the
    // unpivot (ADVICE r10 — the module-wide guard discipline)
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in schema: ${missing.mkString(", ")}")
    val counts = unpivoted(df, cols)
      .where(col("value").isNotNull)
      .groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("column"))
      .orderBy(col("n").desc, col("value").asc)
    counts.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .select(col("column"), col("value"), col("n"))
      .orderBy(col("column"), col("n").desc, col("value"))
  }
}
