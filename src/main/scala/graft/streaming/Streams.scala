package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the `events` shape (EXT mandate,
  * SURVEY.md §2.9 ST1–ST3). Every transform here takes a DataFrame and works
  * identically on a batch frame and a `readStream` frame — the batch t2
  * probes (Q18) and the streaming harness tests share these definitions, so
  * batch/stream parity is by construction.
  */
object Streams {

  /** ST1 — tumbling window aggregate: per (window, event_type) count and
    * rounded sum. On a stream, pair with [[withEventTimeWatermark]] so state
    * is bounded (append-mode emission after watermark passes window end).
    * The sum goes through DECIMAL(18,2) before rounding — double summation
    * is order-sensitive, and a streaming run folds values in micro-batch
    * order while the batch twin (Q18) folds in scan order; the decimal sum
    * makes both (and the DuckDB oracle) bit-identical.
    */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** ST2 — sliding window: overlapping windows of `width` every `slide`. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"), col("n"))

  /** ST2b — session window: gap-based sessions per user. */
  def sessionCounts(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Watermark wrapper (streaming only — no-op semantics on batch frames). */
  def withEventTimeWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** ST3 — stateful streaming dedup on a business key within the watermark:
    * late duplicates beyond the delay are dropped with bounded state.
    * On a batch frame use `dropDuplicates` (same key set) instead.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state (EXT mandate: `mapGroupsWithState` for state the
    * built-in windows can't express): per-user cumulative count + sum with a
    * processing-time idle timeout that finalizes and removes a user's state.
    * Works on `Dataset[(Long, Double)]` (user_id, value) from any stream.
    */
  def runningTotalsWithState(
      pairs: org.apache.spark.sql.Dataset[(Long, Double)],
      idleTimeout: Option[String] = None)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import pairs.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout // timeouts retrigger batches — opt-in
    pairs.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](timeoutConf) {
        case (user, rows, state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, s) = state.get
            state.remove()
            (user, n, s)
          } else {
            val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var s = s0
            rows.foreach { r => n += 1; s += r._2 }
            state.update((n, s))
            idleTimeout.foreach(state.setTimeoutDuration)
            (user, n, s)
          }
      }
  }

  /** ST4 — stream-stream inner join with event-time interval bounds: for
    * each left event, right events of the SAME user whose timestamp falls in
    * `[l_ts, l_ts + maxDelay]` (e.g. click → purchase attribution). On
    * streams, watermark BOTH inputs before calling (Spark derives the state
    * retention from the watermark + the interval condition, so join state is
    * bounded); identical semantics on batch frames (spec-tested parity).
    * One shuffle per side on user_id — the scalable stream-join shape.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      maxDelay: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val l = left.select(col("event_id").as("l_id"), col("user_id").as("l_user"),
      col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.select(col("event_id").as("r_id"), col("user_id").as("r_user"),
      col("ts").as("r_ts"), col("event_type").as("r_type"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"),
      joinType)
  }

  /** ST4b — LEFT OUTER stream-stream interval join: like [[intervalJoin]]
    * but a left event with NO in-window right match still emits (right
    * side null) once the watermark proves no match can arrive — the
    * attribution shape "every click, with its purchase if any". Same
    * bounded state; Spark withholds the null row until
    * `l_ts + maxDelay` passes both watermarks, so outer results are
    * late by design, never wrong.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      maxDelay: String = "1 hour"): DataFrame =
    intervalJoin(left, right, maxDelay, "left_outer")

  /** ST5 — `flatMapGroupsWithState`: gap-based sessionization that EMITS
    * closed sessions (0..n outputs per trigger — the flatMap shape the
    * built-in `session_window` can't give you when you need custom
    * state/output logic). Input rows are (user_id, epochMillis).
    *
    * Handles ARBITRARY event order: state is the set of disjoint open
    * session intervals per key; each event merges into every interval whose
    * gap envelope it touches (possibly bridging several into one). A
    * session closes — is emitted as (user, start, end, count) — only when
    * the key's high-water mark passes `end + gap + allowedLateness`, i.e.
    * no in-contract event can extend it anymore (the per-key analog of a
    * watermark; events later than the lateness contract start a fresh
    * interval and close by the same rule). State is bounded by the number
    * of concurrently-open intervals, not by history.
    */
  def closedSessions(
      pairs: org.apache.spark.sql.Dataset[(Long, Long)], gapMillis: Long,
      allowedLatenessMillis: Long = 0L)
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import pairs.sparkSession.implicits._
    // state: (highWater, open intervals sorted by start: (start, last, n))
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[(Long, Long, Long)]), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Seq[(Long, Long, Long)])]) =>
          val ts = rows.map(_._2).toSeq
          var (highWater, intervals) =
            state.getOption.getOrElse((Long.MinValue, Seq.empty[(Long, Long, Long)]))
          ts.foreach { t =>
            val (touching, rest) = intervals.partition { case (s, l, _) =>
              t >= s - gapMillis && t <= l + gapMillis
            }
            val merged =
              if (touching.isEmpty) (t, t, 1L)
              else ((touching.map(_._1) :+ t).min,
                    (touching.map(_._2) :+ t).max,
                    touching.map(_._3).sum + 1L)
            intervals = (rest :+ merged).sortBy(_._1)
            highWater = math.max(highWater, t)
          }
          val (closed, open) = intervals.partition { case (_, l, _) =>
            l + gapMillis + allowedLatenessMillis < highWater
          }
          state.update((highWater, open))
          closed.map { case (s, l, n) => (user, s, l, n) }.iterator
      }
  }

  /** Production file sink: append the streaming frame to a parquet
    * directory with exactly-once file-commit semantics (the sink's commit
    * log + the source's offset log via `checkpoint`). The memory sink in
    * tests is for assertions; this is the durable shape.
    */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** The one `foreachBatch` wiring behind every maintenance wrapper below:
    * `body` runs on each micro-batch with its epoch id, and the epoch
    * commits to `checkpoint` only after `body` returns.
    */
  private def foreachEpoch(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        body(batch, id)
      }
      .outputMode("update")
      .start()

  /** Streaming index maintenance: a stream of documents (doc_id, source,
    * text) continuously folded into a chunk index via `foreachBatch` +
    * [[graft.operators.Index.appendIndex]] — each micro-batch anti-joins
    * against what is already indexed, so replayed/overlapping batches
    * (at-least-once sources, restarts) stay idempotent. The streaming
    * complement of the reference's one-shot main(): same pipeline, same
    * schema, arriving data.
    */
  def streamingIndexMaintenance(docs: DataFrame, indexPath: String,
      checkpoint: String,
      cfg: graft.operators.Index.IndexConfig = graft.operators.Index.IndexConfig())
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachEpoch(docs, checkpoint) { (batch, _) =>
      implicit val spark: SparkSession = batch.sparkSession
      graft.operators.Index.appendIndex(batch, indexPath, cfg)
    }

  /** Streaming TEXT-index maintenance: each micro-batch of documents folds
    * into a persisted BM25 index via
    * [[graft.operators.Search.appendTextIndex]] — replayed batches anti-
    * join out on the doclens ids, so at-least-once delivery and restarts
    * stay exactly-once in the index. Queries against the index
    * ([[graft.operators.Search.bm25TopKFromIndex]]) need no refresh hook:
    * df is derived from postings at query time and the stats sidecar is
    * updated by the append itself.
    *
    * @param tokenize how to derive the token array from the batch columns
    */
  def streamingTextIndexMaintenance(docs: DataFrame, idCol: String,
      tokenize: org.apache.spark.sql.Column, indexPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    foreachEpoch(docs, checkpoint) { (batch, _) =>
      implicit val spark: SparkSession = batch.sparkSession
      graft.operators.Search.appendTextIndex(
        batch.withColumn("_toks", tokenize), idCol, "_toks", indexPath)
    }

  /** Streaming near-dup maintenance: every micro-batch is checked against
    * the ENTIRE historical corpus via the persisted sketch store
    * ([[graft.operators.Dedup.incrementalNearDupPairs]] — no text is ever
    * re-read), verified pairs append to `pairsOut`, and the batch's
    * sketches fold into the store. Replayed batches (at-least-once
    * sources) add nothing — the id anti-join keeps the whole loop
    * idempotent.
    */
  def streamingNearDupMaintenance(docs: DataFrame, idCol: String, tokensCol: String,
      storePath: String, checkpoint: String, pairsOut: String,
      threshold: Double = 0.5,
      pairsSink: Option[DataFrame => Unit] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val sink = pairsSink.getOrElse { df: DataFrame =>
      df.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(pairsOut)
    }
    foreachEpoch(docs, checkpoint) { (batch, _) =>
      // pairs are written via onPairs BEFORE the sketch store mutates:
      // a crash between the two replays the batch and re-emits the same
      // pairs (at-least-once) instead of losing them (see
      // Dedup.incrementalNearDupPairs ordering note; the kill-between-
      // sink-and-append recovery is an executable proof in StreamsSpec).
      // `pairsSink` is injectable so that proof can crash at exactly the
      // sink/store boundary.
      graft.operators.Dedup.incrementalNearDupPairs(
        batch, idCol, tokensCol, storePath, threshold = threshold,
        onPairs = sink)
    }
  }

  /** Streaming corpus-level line dedup: each micro-batch keeps only
    * never-seen lines (cross-batch, via the digest store) and appends its
    * rebuilt documents to `outPath`. Same sink-before-store ordering as
    * [[streamingNearDupMaintenance]] — the sink is injectable so recovery
    * tests can crash at the boundary (see
    * [[graft.operators.Dedup.incrementalLineDedup]]'s ordering note).
    */
  def streamingLineDedup(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, checkpoint: String, outPath: String,
      delim: String = "\n",
      batchSink: Option[DataFrame => Unit] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val sink = batchSink.getOrElse { df: DataFrame =>
      df.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
    }
    foreachEpoch(docs, checkpoint) { (batch, _) =>
      graft.operators.Dedup.incrementalLineDedup(
        batch, idCol, textCol, storePath, delim, onBatch = sink)
    }
  }

  /** Streaming SKETCH-store maintenance: every micro-batch folds a
    * per-(group, batch) sketch row into a persisted store — the streaming
    * face of the four [[graft.operators.Sketches]] legs (HLL distinct,
    * KLL quantile, frequency, theta set-algebra). The batch id is the
    * micro-batch id, so Structured Streaming's at-least-once replay meets
    * the store's exactly-once-per-batch append discipline (a replayed
    * micro-batch re-presents the same id and appends nothing) — restarts
    * never double-count. Range queries (estimateDistinct / Quantiles /
    * heavyHitterCandidates / estimateSetOp) read the store as usual; no
    * refresh hook.
    *
    * @param kind  hll | kll | freq | theta
    */
  def streamingSketchMaintenance(rows: DataFrame, kind: String,
      groupCol: String, valueCol: String, storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(Set("hll", "kll", "freq", "theta").contains(kind),
      s"kind must be hll|kll|freq|theta, got '$kind'")
    foreachEpoch(rows, checkpoint) { (df, id) =>
      import graft.operators.Sketches
      val bid = s"stream-$id"
      kind match {
        case "hll"   => Sketches.appendDistinctSketches(df, groupCol, valueCol, bid, storeDir)
        case "kll"   => Sketches.appendQuantileSketches(df, groupCol, valueCol, bid, storeDir)
        case "freq"  => Sketches.appendFrequencySketches(df, groupCol, valueCol, bid, storeDir)
        case "theta" => Sketches.appendThetaSketches(df, groupCol, valueCol, bid, storeDir)
      }
    }
  }

  /** Streaming maintenance of a seeded-LSH index
    * ([[graft.operators.Search.writeSeededLshIndex]]): each micro-batch
    * appends under the index's frozen family shape via
    * `appendSeededLshIndex`, whose id anti-join absorbs at-least-once
    * replay (a re-delivered micro-batch appends nothing) — the
    * [[streamingSketchMaintenance]] discipline for the ANN-dedup tier.
    * The index must exist before the stream starts (`writeSeededLshIndex`
    * first — appends need its frozen family shape and fail fast without
    * it). Online queries ([[graft.operators.Search.seededLshLookup]] /
    * `seededLshPairsFromIndex`) read the stores as usual; no refresh
    * hook.
    */
  def streamingLshMaintenance(rows: DataFrame, idCol: String, vecCol: String,
      indexPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    foreachEpoch(rows, checkpoint) { (batch, _) =>
      graft.operators.Search.appendSeededLshIndex(
        batch, idCol, vecCol, indexPath)
    }
  }

  /** Streaming maintenance of a persisted VECTOR index (VERDICT r12 item
    * 7 — the last maintenance family without a streaming wrapper): each
    * micro-batch of `(id, vector)` rows folds into an existing
    * IVF / flat-PQ / OPQ / composed IVF-PQ / residual IVF-PQ store via
    * that family's append op, all of which share the frozen-model append
    * contract (quantizers never move; the id anti-join absorbs
    * at-least-once replay, so a re-delivered micro-batch appends nothing
    * — the [[streamingLshMaintenance]] discipline). The index must exist
    * before the stream starts (the family's write op first — appends need
    * its frozen models and fail fast without them); queries read the
    * stores as usual, no refresh hook. Model drift under a long-lived
    * stream closes through the batch refresh loop (r14): watch
    * `ivfDriftStats`, stop the query, `Search.refreshIvfIndex` (or the
    * family's refresh) onto a new directory, swap atomically, restart
    * against the SAME checkpoint — the refresh re-encodes every streamed
    * id, so the content-keyed anti-join keeps absorbing at-least-once
    * replays across the generation swap (StreamsSpec pins the full loop).
    *
    * @param family ivf | pq | opq | ivfpq | ivfpqres
    */
  def streamingVectorIndexMaintenance(rows: DataFrame, idCol: String,
      vecCol: String, indexPath: String, checkpoint: String,
      family: String = "ivf")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Search
    val append: DataFrame => Long = family match {
      case "ivf"      => Search.appendIvfIndex(_, idCol, vecCol, indexPath)
      case "pq"       => Search.appendPqIndex(_, idCol, vecCol, indexPath)
      case "opq"      => Search.appendOpqIndex(_, idCol, vecCol, indexPath)
      case "ivfpq"    => Search.appendIvfPqIndex(_, idCol, vecCol, indexPath)
      case "ivfpqres" => Search.appendIvfPqResidualIndex(_, idCol, vecCol, indexPath)
      case other => throw new IllegalArgumentException(
        s"family must be ivf|pq|opq|ivfpq|ivfpqres, got '$other'")
    }
    foreachEpoch(rows, checkpoint) { (batch, _) =>
      append(batch)
    }
  }

  /** Streaming perceptual dedup at ingest: each micro-batch of
    * `(id, frame, 64-bit hash)` sequence signatures is checked against the
    * persisted signature store at every offset and folded in
    * ([[graft.operators.Dedup.incrementalSequenceNearDups]]); detected
    * pairs land under `$storePath/pairs/batch_id=<epoch>` BEFORE the fold.
    * The fold side is idempotent via the store's id anti-join; the pairs
    * side is made idempotent too by keying the write on the foreachBatch
    * epoch id — and a DURABLE epoch subdir (its `_SUCCESS` present, or
    * visible data files: a [[graft.operators.Dedup.compactSequencePairs]]
    * carry leaves the job marker at the pairs root, not per subdir) is
    * never rewritten: a replay whose FOLD already committed (the crash
    * window between the sigs append and the epoch's checkpoint commit)
    * recomputes EMPTY pairs — the batch's ids anti-join away — and an
    * unconditional overwrite would replace the durable pairs with
    * nothing (the exact loss class the weights store's pairs-resume
    * closed, review r16). A pre-fold replay's NON-empty recompute is
    * set-compared against the durable rows (identical → skip,
    * idempotent); durable-but-DIFFERENT content means a fresh-checkpoint
    * stream is colliding with a previous stream's epochs, where skipping
    * and overwriting each silently lose one side — the sink refuses
    * loudly instead. Only a TORN previous write is overwritten. Readers
    * of `$storePath/pairs` see batch_id as a trailing partition column;
    * sustained ingest folds the closed epochs' subdirs with
    * [[graft.operators.Dedup.compactSequencePairs]] (the sigs side has
    * [[graft.operators.Dedup.compactSequenceStore]]; the whole swap is
    * [[graft.operators.Dedup.maintainSequenceStore]]'s tick). The
    * [[streamingLshMaintenance]] discipline for the video/audio dedup
    * tier; upstream decode (videoSequenceDHashes /
    * audioSequenceEnvelopeHashes) runs inside the stream's own
    * mapPartitions, so only signatures reach the sink.
    *
    * @param afterFold test seam, called after the fold inside the epoch
    *        (before the checkpoint commit) — the crash-window recovery
    *        proof in StreamsSpec throws here
    */
  def streamingSequenceDedup(sigs: DataFrame, idCol: String, frameCol: String,
      hashCol: String, storePath: String, checkpoint: String,
      maxHamming: Int = 3, numBands: Int = 4, minVoteFrac: Double = 0.8,
      maxShift: Int = 3, afterFold: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    foreachEpoch(sigs, checkpoint) { (batch, batchId) =>
      val dir = s"$storePath/pairs/batch_id=$batchId"
      val spark = batch.sparkSession
      val hconf = spark.sparkContext.hadoopConfiguration
      // durability is data-or-marker, not the marker alone:
      // compactSequencePairs carries live epochs via a partitionBy
      // write whose single `_SUCCESS` sits at the pairs ROOT — a
      // marker-only probe would read a carried subdir as non-durable
      // and let the post-swap replay empty it (review r16)
      val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
      val durable = success.getFileSystem(hconf).exists(success) ||
        graft.sources.PathState.hasData(dir, hconf)
      graft.operators.Dedup.incrementalSequenceNearDups(
        batch, idCol, frameCol, hashCol, storePath,
        maxHamming = maxHamming, numBands = numBands,
        minVoteFrac = minVoteFrac, maxShift = maxShift,
        onPairs = out =>
          if (!durable) {
            out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(dir)
            ()
          } else if (!out.isEmpty) {
            // a durable subdir plus a NON-empty recompute is either the
            // pre-fold crash retry (recompute ≡ durable rows — skip,
            // idempotent) or a FRESH-checkpoint stream whose epoch ids
            // collide with a previous stream's durable epochs — there
            // both skipping and overwriting silently lose one side's
            // pairs, so refuse loudly instead (review r16). The set
            // compare is two anti-joins on per-epoch frames, no collect
            val existing = graft.sources.StoreParquet.open(spark, dir)
              .select(out.columns.map(org.apache.spark.sql.functions.col): _*)
            require(out.exceptAll(existing).isEmpty &&
                existing.exceptAll(out).isEmpty,
              s"pairs epoch subdir '$dir' already holds DIFFERENT " +
                "durable content — a stream restarted with a fresh " +
                "checkpoint is colliding with a previous stream's " +
                "epochs; resume from the original checkpoint or point " +
                "the stream at a new store generation")
          })
      afterFold(batchId)
    }
  }

  /** Streaming soft-dedup weight maintenance — the continuous form of
    * [[graft.operators.Dedup.softDedupWeights]]: each micro-batch of
    * `(id, tokens)` docs probes the near-dup sketch store asymmetrically
    * and folds an O(change) weights PATCH under its epoch-derived batch
    * id ([[graft.operators.Dedup.foldSoftDedupWeightsBatch]] — the
    * weights patch doubles as the batch's commit marker, so a replayed
    * micro-batch no-ops, and a crash between the durable pairs write and
    * the patch resumes from the pairs subdir instead of recomputing them
    * into nothing). [[graft.operators.Dedup.readSoftDedupWeights]] serves
    * the live latest-wins table at any point; samplers consume it
    * directly (the q155 composition).
    */
  def streamingSoftDedupWeights(docs: DataFrame, idCol: String,
      tokensCol: String, storePath: String, checkpoint: String,
      shingleN: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    foreachEpoch(docs, checkpoint) { (batch, batchId) =>
      graft.operators.Dedup.foldSoftDedupWeightsBatch(
        batch, idCol, tokensCol, storePath, batchId,
        shingleN = shingleN, numHashes = numHashes, numBands = numBands,
        threshold = threshold)
    }
  }

  /** Streaming quality-card maintenance — the continuous form of
    * [[graft.operators.Profile.appendProfile]]: each micro-batch appends
    * its per-column card rows under the epoch-derived batch id, so a
    * micro-batch RETRY replays the same id and the append no-ops (the
    * profile store's ledger contract makes this wrapper exactly-once
    * without any sink-side dedup). [[graft.operators.Profile
    * .mergedProfile]] reads the live card at any point; the raw stream is
    * never re-scanned.
    */
  def streamingProfile(rows: DataFrame, cols: Seq[String], storePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    foreachEpoch(rows, checkpoint) { (batch, batchId) =>
      graft.operators.Profile.appendProfile(
        batch, cols, s"epoch_$batchId", storePath)
    }
  }

  /** File-stream wiring: an events parquet directory tailed as a stream →
    * watermarked tumbling counts → memory sink. `ts` precision is decided
    * from the staged file's own footer via the shared precision-aware
    * helper (Tables.eventsStream) — `readStream` needs the schema up front,
    * so the probe is a batch footer read. Production sinks would be
    * kafka/parquet with a checkpointLocation.
    */
  def streamTumblingToMemory(spark: SparkSession, eventsDir: String, queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = graft.Tables.eventsStream(spark, eventsDir)
    tumblingCounts(withEventTimeWatermark(stream))
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
  }

  /** The drain-to-completion twin of [[streamTumblingToMemory]]: COMPLETE
    * output mode, so after `processAllAvailable()` the memory table holds
    * EVERY window — append mode withholds windows the watermark never
    * passes (the tail `max(ts) - delay` of a finite stream), which is
    * correct for unbounded ingest but makes a drained finite run a strict
    * subset of the batch twin. Complete mode + the decimal-exact sum make
    * the drained table bit-identical to Q18's batch aggregate, which is
    * what lets the q50 probe share Q18's DuckDB oracle. Finite
    * replays/backfills only — state is unbounded by design here; unbounded
    * ingest uses the watermarked append variant.
    */
  def streamTumblingToMemoryComplete(spark: SparkSession, eventsDir: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = graft.Tables.eventsStream(spark, eventsDir)
    tumblingCounts(stream)
      .writeStream.format("memory").queryName(queryName)
      .outputMode("complete").start()
  }

  /** The APPEND-mode watermarked variant — the production semantics
    * ([[streamTumblingToMemory]]) with a caller-chosen delay, exposed so
    * the q147 probe can drive the watermark's BOTH effects against an
    * oracle: late rows whose window the watermark already closed are
    * DROPPED (lateness is window-end-based — StreamsSpec pins it), and a
    * drained finite run holds exactly the windows whose end the final
    * watermark passed (the rest stay withheld in state). Unlike the
    * complete-mode drain this is NOT the batch aggregate — the oracle
    * must replay the drop set and the emission cut explicitly.
    */
  def streamTumblingToMemoryAppend(spark: SparkSession, eventsDir: String,
      queryName: String, delay: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = graft.Tables.eventsStream(spark, eventsDir)
    tumblingCounts(withEventTimeWatermark(stream, delay))
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
  }

  /** Driver-contract entry for q150: [[closedSessions]] over a live
    * events file stream into an append-mode memory sink — the ST5 session
    * semantics under a REAL multi-micro-batch run (the q147 drain shape).
    * Everything is integer-millisecond arithmetic with matching
    * strictness on both engines (merge iff delta ≤ gap, close iff
    * end + gap < the key's high water), so the drained output is exactly
    * a SQL gaps-and-islands replay restricted to closed sessions — no
    * boundary-equality hazard anywhere, unlike the float paths.
    */
  def streamClosedSessionsToMemory(spark: SparkSession, eventsDir: String,
      queryName: String, gapMillis: Long, maxUserId: Long)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unix_millis}
    val pairs = graft.Tables.eventsStream(spark, eventsDir)
      .where(col("user_id") < maxUserId)
      .select(col("user_id").cast("long"), unix_millis(col("ts")))
      .as[(Long, Long)]
    closedSessions(pairs, gapMillis)
      .toDF("user_id", "session_start_ms", "session_end_ms", "n")
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
  }
}
