package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Structured Streaming operators (ST1–ST3) on MemoryStream — deterministic,
  * processing-time-free (SURVEY.md §5.2.5), plus batch/stream parity for the
  * tumbling window.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamsSpec extends SparkSpec {

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("ST1: tumbling hour counts — batch and stream agree; watermark drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(10), 1, "click", 2.0),
      Ev(3, ts(59), 2, "view", 3.0),
      Ev(4, Timestamp.valueOf("2024-01-01 11:01:00"), 1, "click", 4.0))

    // batch form
    val batch = Streams.tumblingCounts(rows.toDF()).orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(batch.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L), ("2024-01-01 10:00:00.0", "view", 1L),
      ("2024-01-01 11:00:00.0", "click", 1L)))

    // stream form: first batch advances watermark past 10:00 window, then a
    // too-late event for that window arrives and must be dropped.
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingCounts(Streams.withEventTimeWatermark(mem.toDF(), "10 minutes"))
      .writeStream.format("memory").queryName("st1").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData(Ev(5, Timestamp.valueOf("2024-01-01 12:30:00"), 3, "view", 5.0))
      q.processAllAvailable() // watermark → 12:20; closes the 10:00 and 11:00 windows
      mem.addData(Ev(6, ts(30), 9, "late", 9.9)) // 10:30 < watermark ⇒ dropped
      q.processAllAvailable()
      val got = spark.table("st1").orderBy("window_start", "event_type")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(got.toSeq == Seq(
        ("2024-01-01 10:00:00.0", "click", 2L), ("2024-01-01 10:00:00.0", "view", 1L),
        ("2024-01-01 11:00:00.0", "click", 1L)))
      assert(!got.exists(_._2 == "late"))
    } finally q.stop()
  }

  test("append-mode watermark: lateness judged on WINDOW END, emission cut at the final watermark") {
    // Pins the exact drop/emit semantics the q147 oracle models: a row
    // whose ts is behind the watermark but whose WINDOW is still open
    // (end > watermark) folds in — lateness is window-end-based for
    // windowed aggregation — and the drained sink holds exactly the
    // windows whose end the FINAL watermark passed.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingCounts(
        Streams.withEventTimeWatermark(mem.toDF(), "10 minutes"))
      .writeStream.format("memory").queryName("wmdrop").outputMode("append").start()
    try {
      mem.addData(
        Ev(1, at("2024-01-01 10:59:00"), 1, "click", 1.0),
        Ev(2, at("2024-01-01 13:05:00"), 1, "click", 2.0)) // wm → 12:55
      q.processAllAvailable()
      mem.addData(
        Ev(3, at("2024-01-01 10:30:00"), 1, "click", 4.0),  // window end 11:00 ≤ wm: DROPPED
        Ev(4, at("2024-01-01 12:50:00"), 1, "click", 8.0),  // ts < wm, window end 13:00 > wm: KEPT
        Ev(5, at("2024-01-01 13:40:00"), 1, "click", 16.0)) // fresh
      q.processAllAvailable()
      mem.addData(Ev(6, at("2024-01-01 16:00:00"), 1, "click", 32.0)) // wm → 15:50
      q.processAllAvailable()
      val got = spark.table("wmdrop")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getDouble(3))).toSet
      assert(got === Set(
        ("2024-01-01 10:00:00.0", 1L, 1.0),   // row 3 dropped
        ("2024-01-01 12:00:00.0", 1L, 8.0),   // row 4 kept — window-end basis
        ("2024-01-01 13:00:00.0", 2L, 18.0)), // rows 2+5; the 16:00 window (end > wm) withheld
        s"unexpected drained set $got")
    } finally q.stop()
  }

  test("ST2: sliding windows produce overlapping membership") {
    import spark.implicits._
    val rows = Seq(Ev(1, ts(10), 1, "click", 1.0))
    val out = Streams.slidingCounts(rows.toDF(), "1 hour", "15 minutes")
      .collect().map(_.getLong(2))
    assert(out.length == 4) // a point belongs to 4 overlapping 1h/15m windows
  }

  test("ST2b: session windows close after the gap") {
    import spark.implicits._
    val rows = Seq(
      Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(2), 1, "a", 1.0), // session 1
      Ev(3, ts(20), 1, "a", 1.0),                            // session 2
      Ev(4, ts(1), 2, "a", 1.0))                             // user 2
    val out = Streams.sessionCounts(rows.toDF(), "5 minutes")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("mapGroupsWithState: per-user running totals accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = Streams.runningTotalsWithState(mem.toDS())
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    try {
      mem.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("state_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // update mode: latest emission per user per batch
      assert(rows.contains((1L, 2L, 5.0)))   // batch 1: two events
      assert(rows.contains((2L, 1L, 10.0)))
      assert(rows.contains((1L, 3L, 10.0)))  // batch 2: state carried over
    } finally q.stop()
  }

  test("ST4: stream-stream interval join ≡ batch twin; state bounded by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      Ev(1, ts(0), 1, "click", 0), Ev(2, ts(30), 1, "click", 0), Ev(3, ts(0), 2, "click", 0))
    val buys = Seq(
      Ev(10, ts(20), 1, "purchase", 9.99),  // joins click 1 (+20m) only
      Ev(11, ts(45), 1, "purchase", 5.0),   // joins clicks 1 (+45m) and 2 (+15m)
      Ev(12, ts(50), 3, "purchase", 1.0))   // no matching user
    val expect = Set((1L, 10L), (1L, 11L), (2L, 11L))

    // batch twin
    val batch = Streams.intervalJoin(clicks.toDF(), buys.toDF(), "1 hour")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(batch == expect)

    // streaming: both sides watermarked, append output
    val ml = MemoryStream[Ev]; val mr = MemoryStream[Ev]
    val joined = Streams.intervalJoin(
      Streams.withEventTimeWatermark(ml.toDF(), "2 hours"),
      Streams.withEventTimeWatermark(mr.toDF(), "2 hours"), "1 hour")
    val q = joined.select("l_id", "r_id")
      .writeStream.format("memory").queryName("st4").outputMode("append").start()
    try {
      ml.addData(clicks: _*); mr.addData(buys: _*)
      q.processAllAvailable()
      // advance watermarks so pending results flush
      ml.addData(Ev(99, Timestamp.valueOf("2024-01-01 23:00:00"), 99, "click", 0))
      mr.addData(Ev(98, Timestamp.valueOf("2024-01-01 23:00:00"), 98, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("st4").as[(Long, Long)].collect().toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("ST4b: LEFT OUTER interval join emits unmatched lefts after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      Ev(1, ts(0), 1, "click", 0), Ev(2, ts(30), 1, "click", 0), Ev(3, ts(0), 2, "click", 0))
    val buys = Seq(
      Ev(10, ts(20), 1, "purchase", 9.99),
      Ev(11, ts(45), 1, "purchase", 5.0))
    val expect = Set((1L, Some(10L)), (1L, Some(11L)), (2L, Some(11L)), (3L, None))

    val batch = Streams.intervalJoinLeftOuter(clicks.toDF(), buys.toDF(), "1 hour")
      .select("l_id", "r_id").as[(Long, Option[Long])].collect().toSet
    assert(batch == expect)

    val ml = MemoryStream[Ev]; val mr = MemoryStream[Ev]
    val joined = Streams.intervalJoinLeftOuter(
      Streams.withEventTimeWatermark(ml.toDF(), "2 hours"),
      Streams.withEventTimeWatermark(mr.toDF(), "2 hours"), "1 hour")
    val q = joined.select("l_id", "r_id")
      .writeStream.format("memory").queryName("st4b").outputMode("append").start()
    try {
      ml.addData(clicks: _*); mr.addData(buys: _*)
      q.processAllAvailable()
      // watermark must pass l_ts + maxDelay before the null row may emit
      ml.addData(Ev(99, Timestamp.valueOf("2024-01-01 23:00:00"), 99, "click", 0))
      mr.addData(Ev(98, Timestamp.valueOf("2024-01-01 23:00:00"), 98, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("st4b").as[(Long, Option[Long])].collect().toSet
        .filter(_._1 < 90) // the watermark-advancer click is itself still open
      assert(got == expect)
    } finally q.stop()
  }

  test("ST5: flatMapGroupsWithState emits closed sessions only; open session carries over") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ms(minute: Int): Long = ts(minute).getTime
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.closedSessions(mem.toDS(), gapMillis = 5 * 60 * 1000)
      .toDF("user_id", "start_ms", "end_ms", "n")
      .writeStream.format("memory").queryName("st5").outputMode("append").start()
    try {
      mem.addData((1L, ms(0)), (1L, ms(2)), (2L, ms(1)))
      q.processAllAvailable()
      assert(spark.table("st5").count() == 0) // both sessions still open
      mem.addData((1L, ms(20))) // >5m gap closes user 1's first session
      q.processAllAvailable()
      val got = spark.table("st5")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((1L, ms(0), ms(2), 2L)))
      mem.addData((1L, ms(40)), (2L, ms(30))) // close 1's second and 2's first
      q.processAllAvailable()
      val all = spark.table("st5")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(all == Set(
        (1L, ms(0), ms(2), 2L), (1L, ms(20), ms(20), 1L), (2L, ms(1), ms(1), 1L)))
    } finally q.stop()
  }

  test("ST5: out-of-order late events merge into the open session, never corrupt it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ms(minute: Int): Long = ts(minute).getTime
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.closedSessions(mem.toDS(), gapMillis = 5 * 60 * 1000)
      .toDF("user_id", "start_ms", "end_ms", "n")
      .writeStream.format("memory").queryName("st5late").outputMode("append").start()
    try {
      mem.addData((1L, ms(10)))            // open session (10,10,1)
      q.processAllAvailable()
      mem.addData((1L, ms(7)))             // LATE: inside gap envelope → merge (7,10,2)
      q.processAllAvailable()
      mem.addData((1L, ms(13)))            // in-gap continuation → (7,13,3)
      q.processAllAvailable()
      mem.addData((1L, ms(30)))            // closes (7,13,3)
      q.processAllAvailable()
      val got = spark.table("st5late")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set((ms(7), ms(13), 3L))) // end >= start, no spurious splits
    } finally q.stop()
  }

  test("streaming sketch maintenance: micro-batches fold into the store; replay appends nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("skstore").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("skckpt").toString
    val mem = MemoryStream[(String, String)]
    val q = Streams.streamingSketchMaintenance(
      mem.toDF().toDF("domain", "uid"), "hll", "domain", "uid", store, ckpt)
    try {
      mem.addData((0 until 500).map(i => (s"d${i % 2}", s"u$i")): _*)
      q.processAllAvailable()
      mem.addData((250 until 900).map(i => (s"d${i % 2}", s"u$i")): _*)
      q.processAllAvailable()
      // two micro-batches × two domains
      assert(spark.read.parquet(store).count() === 4)
      val est = graft.operators.Sketches.estimateDistinct(spark, store)
        .as[(String, Long)].collect().toMap
      // true distinct: 450 per domain; HLL within 3%
      est.foreach { case (d, e) =>
        assert(math.abs(e - 450).toDouble / 450 < 0.03, s"$d: $e")
      }
      // at-least-once replay: re-presenting a processed micro-batch id is
      // a no-op through the store's exactly-once discipline
      val replay = graft.operators.Sketches.appendDistinctSketches(
        Seq(("d0", "uX")).toDF("domain", "uid"), "domain", "uid",
        "stream-0", store)
      assert(replay === 0L)
    } finally q.stop()
  }

  test("streamingSoftDedupWeights: micro-batch folds serve the fresh-build table; replay no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.functions.TextFunctions
    val store = java.nio.file.Files.createTempDirectory("softwstream").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("softwstreamck").toString
    def withToks(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("toks", TextFunctions.wordTokens(org.apache.spark.sql.functions.col("text")))
    val texts = Seq("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu")
    def t(i: Long) = texts((i % 3).toInt)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingSoftDedupWeights(
      withToks(mem.toDF().toDF("doc_id", "text")), "doc_id", "toks", store, ckpt)
    try {
      mem.addData((1L to 6L).map(i => (i, t(i))): _*)
      q.processAllAvailable()
      mem.addData((7L to 12L).map(i => (i, t(i))): _*)
      q.processAllAvailable()
      val served = Dedup.readSoftDedupWeights(spark, store, "doc_id")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val all = withToks((1L to 12L).map(i => (i, t(i))).toDF("doc_id", "text"))
      val fresh = Dedup.softDedupWeights((1L to 12L).toDF("doc_id"), "doc_id",
          Dedup.minhashNearDupPairs(all, "doc_id", "toks"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(served == fresh) // 3 text clusters of 4 docs each, cross-batch
      assert(served.forall(_._4 == 250000L))
      // a processed micro-batch id replays as a no-op (commit marker)
      assert(Dedup.foldSoftDedupWeightsBatch(
        withToks(Seq((99L, t(0L))).toDF("doc_id", "text")),
        "doc_id", "toks", store, 1) == 0L)
    } finally q.stop()
  }

  test("streamingProfile: micro-batch cards fold to the whole-stream card; epoch replay no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Profile
    val store = java.nio.file.Files.createTempDirectory("profstream").toString + "/p"
    val ckpt = java.nio.file.Files.createTempDirectory("profstreamck").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingProfile(
      mem.toDF().toDF("id", "lang"), Seq("id", "lang"), store, ckpt)
    try {
      mem.addData((1L to 40L).map(i => (i, s"l${i % 3}")): _*)
      q.processAllAvailable()
      mem.addData((41L to 100L).map(i => (i, s"l${i % 5}")): _*)
      q.processAllAvailable()
      val merged = Profile.mergedProfile(spark, store).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(4), r.getString(5)))
      // the merged card equals the whole-stream card's mergeable metrics
      assert(merged.toSeq === Seq(
        ("id", 100L, "1", "100"), ("lang", 100L, "l0", "l4")))
      // an epoch id already folded no-ops through the store ledger
      assert(Profile.appendProfile(Seq((999L, "zz")).toDF("id", "lang"),
        Seq("id", "lang"), "epoch_0", store) === 0L)
    } finally q.stop()
  }

  test("streamingLshMaintenance: micro-batch appends ≡ batch build; overlap replays absorbed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Search
    val dim = 8
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(i * 13 + j).toFloat)
    val all = (0 until 60).map(i => (i.toLong, vec(i / 2))) // planted pairs
    val ix = java.nio.file.Files.createTempDirectory("slshix").toString + "/ix"
    val ckpt = java.nio.file.Files.createTempDirectory("slshck").toString
    // seed the index with the first 10 vectors (appends need a build)
    Search.writeSeededLshIndex(all.take(10).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim, ix, numTables = 4, bitsPerTable = 6)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.streamingLshMaintenance(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", ix, ckpt)
    try {
      mem.addData(all.slice(10, 40): _*)
      q.processAllAvailable()
      // overlapping delivery (at-least-once): 30–39 re-delivered with 40–59
      mem.addData(all.slice(30, 60): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$ix/codes").count() === 60L,
        "re-delivered ids must append nothing")
      val fullIx = java.nio.file.Files.createTempDirectory("slshfull").toString + "/ix"
      Search.writeSeededLshIndex(all.toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim, fullIx, numTables = 4, bitsPerTable = 6)
      def pairs(p: String) = Search.seededLshPairsFromIndex(spark, p, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(ix) === pairs(fullIx), "streamed index ≡ batch build")
      assert(pairs(ix).nonEmpty, "planted duplicate vectors must pair")
    } finally q.stop()
  }

  test("streamingVectorIndexMaintenance: micro-batch appends ≡ batch build; replays absorbed; families route; unknown refuses") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Search
    val dim = 8
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(i * 13 + j).toFloat)
    val all = (0 until 60).map(i => (i.toLong, vec(i)))
    val df = all.toDF("vec_id", "embedding")
    val centroids = (0 until 4).map(i => i -> vec(i * 7))
    def contents(p: String) = spark.read.parquet(s"$p/codes")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster_id"),
        r.getSeq[Byte](r.fieldIndex("pq_codes")).toSeq)).toSet
    def dir(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
    // composed IVF-PQ family: seed with 10, stream the rest with an
    // at-least-once overlap, compare against a one-shot batch build
    val cb = Search.pqSampledCodebooks(df, "vec_id", "embedding", dim, 4, 8)
    val ix = dir("svecix")
    Search.writeIvfPqIndex(all.take(10).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, cb, ix)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streams.streamingVectorIndexMaintenance(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      ix, dir("sveck"), family = "ivfpq")
    try {
      mem.addData(all.slice(10, 40): _*)
      q.processAllAvailable()
      // overlapping delivery (at-least-once): 30–39 re-delivered with 40–59
      mem.addData(all.slice(30, 60): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$ix/codes").count() === 60L,
        "re-delivered ids must append nothing")
      val fullIx = dir("svecfull")
      Search.writeIvfPqIndex(df, "vec_id", "embedding", centroids, cb, fullIx)
      assert(contents(ix) === contents(fullIx), "streamed index ≡ batch build")
      // queries against the maintained store need no refresh hook
      assert(Search.ivfPqTopKFromIndex(spark, ix, df, "vec_id", "embedding",
        vec(5).toSeq, k = 5, nProbe = 2, rescore = 10).count() === 5L)
    } finally q.stop()
    // the residual family routes to ITS append (encoding marker honored);
    // a full replay including the seeded rows folds to the batch build
    val rcb = Search.pqResidualSampledCodebooks(df, "vec_id", "embedding",
      centroids, dim, 4, 8)
    val rix = dir("svecres")
    Search.writeIvfPqResidualIndex(all.take(10).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, rcb, rix)
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = Streams.streamingVectorIndexMaintenance(
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      rix, dir("svecresck"), family = "ivfpqres")
    try {
      mem2.addData(all: _*)
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$rix/codes").count() === 60L)
      val rFull = dir("svecresfull")
      Search.writeIvfPqResidualIndex(df, "vec_id", "embedding", centroids, rcb, rFull)
      assert(contents(rix) === contents(rFull), "streamed residual index ≡ batch build")
    } finally q2.stop()
    intercept[IllegalArgumentException](Streams.streamingVectorIndexMaintenance(
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      rix, dir("sveckx"), family = "bogus"))
  }

  test("streaming maintenance × quantizer refresh: mid-stream retrain swaps generations; replay idempotence and the marker survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Search
    // the SearchSpec drift construction: region A hugs axes e0..e3,
    // region B (arriving on the stream) hugs e4..e7
    val dim = 8
    def v(axis: Int, id: Long): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      a(axis) = 1.0f
      a((id % 3).toInt) = a((id % 3).toInt) + 0.02f * ((id % 5) + 1)
      a
    }
    val aRows = (1L to 40L).map(id => (id, v((id % 4).toInt, id)))
    val b1 = (101L to 120L).map(id => (id, v(4 + (id % 4).toInt, id)))
    val b2 = (121L to 140L).map(id => (id, v(4 + (id % 4).toInt, id)))
    def dir(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
    val store = dir("drifix")
    val ck = dir("drifck")
    // generation 0: quantizer trained when only region A existed
    Search.writeIvfIndex(aRows.toDF("vec_id", "embedding"), "embedding",
      Search.sampledCentroids(aRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", 4, "g0"), store)
    // the stream drifts the corpus: region B folds in under the frozen model
    val mem = MemoryStream[(Long, Array[Float])]
    val q1 = Streams.streamingVectorIndexMaintenance(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      store, ck, family = "ivf")
    try { mem.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    // drift OBSERVED: some cluster's mean similarity has collapsed
    val sick = Search.ivfDriftStats(spark, store, "embedding")
      .collect().map(_.getDouble(2)).min
    assert(sick < 0.7, s"drifted store should show a sick cluster, got $sick")
    // the operational loop: refresh on the CURRENT corpus → atomic swap
    val gen2 = dir("drifg2")
    Search.refreshIvfIndex(
      (aRows ++ b1).toDF("vec_id", "embedding"), "vec_id", "embedding",
      store, gen2, nClusters = 8, salt = "g1")
    val storeP = java.nio.file.Paths.get(store)
    java.nio.file.Files.walk(storeP).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
    java.nio.file.Files.move(java.nio.file.Paths.get(gen2), storeP)
    assert(Search.readModelVersion(spark, store) == 1L)
    // the stream RESUMES against the same checkpoint: new appends land
    // under the new generation; a replay overlapping pre-refresh ids
    // appends nothing (the refresh re-encoded every streamed id, so the
    // content-keyed anti-join still absorbs it)
    val q2 = Streams.streamingVectorIndexMaintenance(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      store, ck, family = "ivf")
    try {
      mem.addData((b1 ++ b2): _*) // b1 = at-least-once replay across the swap
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(s"$store/vectors").count() == 80L,
      "replayed ids must append nothing across the generation swap")
    // the swapped-and-appended store ≡ refresh-then-batch-append, and the
    // generation guard still holds on the serving path
    val twin = dir("driftwin")
    Search.writeIvfIndex((aRows ++ b1).toDF("vec_id", "embedding"), "embedding",
      Search.sampledCentroids((aRows ++ b1).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 8, "g1"), twin)
    Search.appendIvfIndex(b2.toDF("vec_id", "embedding"), "vec_id",
      "embedding", twin)
    def rows(p: String) = spark.read.parquet(s"$p/vectors")
      .select("vec_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows(store) == rows(twin))
    // recall recovered for region-B queries (nProbe=1, the drift spec's bar)
    val all = aRows ++ b1 ++ b2
    def cosRef(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2).sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val hits = b2.take(8).map { case (qid, qv) =>
      val exact = all.filter(_._1 != qid)
        .map { case (id, w) => (id, cosRef(w.toSeq, qv.toSeq)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      val got = Search.ivfTopKFromIndex(spark, store, "embedding",
          qv.toSeq, k = 6, nProbe = 1)
        .select("vec_id").collect().map(_.getLong(0))
        .filter(_ != qid).take(5).toSet
      exact.intersect(got).size.toDouble / 5.0
    }
    assert(hits.sum / hits.size > 0.5,
      s"post-refresh recall should recover: ${hits.sum / hits.size}")
  }

  test("streamingSequenceDedup: cross-batch pairs against the store; replay emits no duplicates into the fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(55)
    val seqs: Seq[(Long, Seq[Long])] =
      (0L until 6L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    def rows(ss: Seq[(Long, Seq[Long])]): Seq[(Long, Int, Long)] =
      ss.flatMap { case (id, hs) => hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
    val store = java.nio.file.Files.createTempDirectory("sseq").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sseqck").toString
    val mem = MemoryStream[(Long, Int, Long)]
    val q = Streams.streamingSequenceDedup(
      mem.toDF().toDF("id", "f", "h"), "id", "f", "h", store, ckpt,
      minVoteFrac = 0.7)
    try {
      mem.addData(rows(seqs): _*)          // batch 1: six originals
      q.processAllAvailable()
      // batch 2: a trimmed dup of id 0 — pairs against HISTORY — plus a
      // replay of id 5's rows (absorbed by the store's anti-join)
      mem.addData(rows(Seq((100L, seqs(0)._2.drop(2)), (5L, seqs(5)._2))): _*)
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$store/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(pairs === Set((0L, 100L, -2)))
      assert(spark.read.parquet(s"$store/sigs").count() === 6 * 8 + 6L,
        "replayed ids must fold nothing")
    } finally q.stop()
  }

  test("sequence-dedup crash recovery: kill between fold and epoch commit; the replay must not empty the durable pairs") {
    // Executable proof of the sequence sink's durable-pairs discipline
    // (review r16): the fold appends sigs BEFORE the epoch's checkpoint
    // commit, so a crash in that window replays an epoch whose batch ids
    // are ALREADY in the store — the pairs recompute is EMPTY, and an
    // unconditional epoch-keyed overwrite would replace the durable pairs
    // with nothing. The sink now skips job-committed epoch subdirs; this
    // drives the exact window and asserts the pairs survive.
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val seqs: Seq[(Long, Seq[Long])] =
      (0L until 6L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    def rows(ss: Seq[(Long, Seq[Long])]): Seq[(Long, Int, Long)] =
      ss.flatMap { case (id, hs) => hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
    val root = java.nio.file.Files.createTempDirectory("sseqcrash")
    val src = root.resolve("src").toString
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    def feed(ss: Seq[(Long, Seq[Long])]): Unit = {
      // ATOMIC single-file feed: a multi-part write can be caught
      // mid-listing by the file source and split across micro-batches,
      // tearing a clip's frames apart and shifting epoch numbers (flaked
      // under full-suite load); one coalesced file moved in by rename is
      // one epoch's worth, indivisibly
      val tmp = java.nio.file.Files.createTempDirectory("seqfeed")
      rows(ss).toDF("id", "f", "h").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      java.nio.file.Files.move(part, java.nio.file.Paths.get(src,
        s"feed-${System.nanoTime()}.parquet"))
      ()
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("f", "int").add("h", "long")
    def stream(crashEpoch: Long) = Streams.streamingSequenceDedup(
      spark.readStream.schema(schema).parquet(src), "id", "f", "h",
      store, ckpt, minVoteFrac = 0.7,
      afterFold = b => if (b == crashEpoch)
        throw new RuntimeException("injected crash between fold and commit"))
    feed(seqs) // epoch 0: six originals, no pairs
    val q1 = stream(crashEpoch = 1L)
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      feed(Seq((100L, seqs(0)._2.drop(2)))) // epoch 1: dup of history id 0
      q1.processAllAvailable()
    }
    assert(failure.getMessage.contains("injected crash"))
    q1.stop()
    // the window's state: pairs durable AND sigs folded, epoch uncommitted
    def pairSet() = spark.read.parquet(s"$store/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairSet() === Set((0L, 100L, -2)))
    assert(spark.read.parquet(s"$store/sigs")
      .where(col("id") === 100L).count() === 6L)
    // restart from the same checkpoint: epoch 1 replays, its ids anti-join
    // out, and the DURABLE pairs subdir is skipped — not emptied
    val q2 = stream(crashEpoch = -1L)
    try {
      q2.processAllAvailable()
      assert(pairSet() === Set((0L, 100L, -2)),
        "the replay must not overwrite the durable pairs with its empty recompute")
      // the loop keeps working: a fresh dup pairs against carried history
      feed(Seq((300L, seqs(3)._2.drop(1))))
      q2.processAllAvailable()
      assert(pairSet() === Set((0L, 100L, -2), (3L, 300L, -1)))
    } finally q2.stop()
  }

  test("sequence-dedup pairs survive the policy swap's carried epochs; a fresh-checkpoint collision refuses instead of losing a side") {
    // review r16 follow-up on the durable-pairs fix: (1) compactSequencePairs
    // carries live epochs via a partitionBy write whose _SUCCESS sits at the
    // pairs ROOT — durability must read the carried subdir's DATA, or the
    // post-swap replay of a crashed epoch empties it; (2) a stream restarted
    // with a FRESH checkpoint over an existing store re-numbers epochs from
    // zero — where its recompute differs from a durable subdir, skipping and
    // overwriting each silently lose one side, so the sink must refuse.
    import spark.implicits._
    import graft.operators.Dedup
    import graft.sources.Generations
    val conf = spark.sparkContext.hadoopConfiguration
    val rnd = new scala.util.Random(88)
    val seqs: Seq[(Long, Seq[Long])] =
      (0L until 6L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    def rows(ss: Seq[(Long, Seq[Long])]): Seq[(Long, Int, Long)] =
      ss.flatMap { case (id, hs) => hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
    val root0 = java.nio.file.Files.createTempDirectory("sseqswap")
    val src = root0.resolve("src").toString
    val ckpt = root0.resolve("ckpt").toString
    val cat = root0.resolve("cat").toString
    def feed(ss: Seq[(Long, Seq[Long])]): Unit = {
      // ATOMIC single-file feed: a multi-part write can be caught
      // mid-listing by the file source and split across micro-batches,
      // tearing a clip's frames apart and shifting epoch numbers (flaked
      // under full-suite load); one coalesced file moved in by rename is
      // one epoch's worth, indivisibly
      val tmp = java.nio.file.Files.createTempDirectory("seqfeed")
      rows(ss).toDF("id", "f", "h").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      java.nio.file.Files.move(part, java.nio.file.Paths.get(src,
        s"feed-${System.nanoTime()}.parquet"))
      ()
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("f", "int").add("h", "long")
    def stream(storePath: String, checkpoint: String, crashEpoch: Long) =
      Streams.streamingSequenceDedup(
        spark.readStream.schema(schema).parquet(src), "id", "f", "h",
        storePath, checkpoint, minVoteFrac = 0.7,
        afterFold = b => if (b == crashEpoch)
          throw new RuntimeException("injected crash between fold and commit"))
    val g0 = Generations.stage(cat, conf)
    feed(seqs) // epoch 0: six originals, no pairs
    val q1 = stream(g0, ckpt, crashEpoch = 1L)
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      Generations.publish(cat, g0, conf)
      feed(Seq((100L, seqs(0)._2.drop(2)))) // epoch 1: dup of history id 0
      q1.processAllAvailable() // folds, writes durable pairs, crashes pre-commit
    }
    assert(failure.getMessage.contains("injected crash"))
    q1.stop()
    // the policy swaps with the crashed epoch CARRIED (boundary = last
    // committed epoch 0): its subdir loses the per-subdir _SUCCESS
    assert(Dedup.maintainSequenceStore(spark, cat, committedBatchId = 0L,
      maxSigFiles = 1, targetFiles = 1).contains("gen-1"))
    val live = Generations.resolve(cat, conf)
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(live, "pairs", "batch_id=1", "_SUCCESS")),
      "the carried epoch must have lost its per-subdir marker (the trap)")
    def pairSet(p: String) = spark.read.parquet(s"$p/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairSet(live) === Set((0L, 100L, -2)))
    // restart against the new generation, SAME checkpoint: epoch 1
    // replays with an empty recompute — the carried subdir's DATA must
    // keep it durable (a marker-only probe would empty it here)
    val q2 = stream(live, ckpt, crashEpoch = -1L)
    try {
      q2.processAllAvailable()
      assert(pairSet(live) === Set((0L, 100L, -2)),
        "the post-swap replay must not empty the carried durable pairs")
    } finally q2.stop()
    // a FRESH checkpoint over the same store re-numbers epochs: its
    // epoch 1 recomputes DIFFERENT pairs than the durable batch_id=1 —
    // the sink refuses loudly, and the durable side is unharmed
    val ckpt2 = root0.resolve("ckpt2").toString
    val q3 = stream(live, ckpt2, crashEpoch = -1L)
    val collide = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable() // epoch 0: full replayed history, no fresh ids
      feed(Seq((400L, seqs(4)._2.drop(2)))) // its epoch 1: dup of id 4
      q3.processAllAvailable()
    }
    assert(collide.getMessage.contains("DIFFERENT durable content"))
    q3.stop()
    assert(pairSet(live) === Set((0L, 100L, -2)),
      "a refused collision must leave the durable pairs unharmed")
  }

  test("parquet streaming sink: durable append with checkpoint, read-back matches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val mem = MemoryStream[Ev]
    val q = Streams.writeParquetStream(
      Streams.tumblingCounts(Streams.withEventTimeWatermark(mem.toDF(), "10 minutes")),
      out, ckpt)
    try {
      mem.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(10), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, Timestamp.valueOf("2024-01-01 12:00:00"), 2, "view", 3.0))
      q.processAllAvailable() // watermark closes the 10:00 window -> appended
      val rows = spark.read.parquet(out)
        .collect().map(r => (r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(("click", 2L)))
    } finally q.stop()
  }

  test("ST5: very-late events form their own session together; one event bridges two intervals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ms(minute: Int): Long = ts(minute).getTime
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.closedSessions(mem.toDS(), gapMillis = 5 * 60 * 1000)
      .toDF("user_id", "start_ms", "end_ms", "n")
      .writeStream.format("memory").queryName("st5vl").outputMode("append").start()
    try {
      mem.addData((1L, ms(50)))               // open (50,50,1), hw=50
      q.processAllAvailable()
      // two very-late events 4m apart: ONE late session, closed by hw=50
      mem.addData((1L, ms(11)), (1L, ms(15)))
      q.processAllAvailable()
      val afterLate = spark.table("st5vl")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(afterLate == Set((ms(11), ms(15), 2L)))
      // bridging within one batch: 58 opens apart from (50,50); 54 touches
      // both envelopes and merges everything into (50,58,3). (Across
      // batches the high-water would have already closed (50,50) under
      // allowedLateness=0 — that is the contract, not a bug.)
      mem.addData((1L, ms(58)), (1L, ms(54)))
      q.processAllAvailable()
      mem.addData((1L, ms(90)))               // hw passes → close the bridged session
      q.processAllAvailable()
      val all = spark.table("st5vl")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(all == Set((ms(11), ms(15), 2L), (ms(50), ms(58), 3L)))
    } finally q.stop()
  }

  test("streaming line dedup: cross-batch suppression via the digest store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("ldsstore").toString + "/st"
    val ckpt = java.nio.file.Files.createTempDirectory("ldsckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ldsout").toString + "/docs"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingLineDedup(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", store, ckpt, out)
    try {
      mem.addData(1L -> "alpha\nbeta", 2L -> "beta\ngamma")
      q.processAllAvailable()
      mem.addData(3L -> "gamma\ndelta\nalpha")
      q.processAllAvailable()
      val docs = spark.read.parquet(out)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(docs == Map(1L -> "alpha\nbeta", 2L -> "gamma", 3L -> "delta"))
    } finally q.stop()
  }

  test("streaming near-dup maintenance: cross-batch pairs via the sketch store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("ndstore").toString + "/st"
    val ckpt = java.nio.file.Files.createTempDirectory("ndckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ndout").toString + "/pairs"
    val mem = MemoryStream[(Long, String)]
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val q = Streams.streamingNearDupMaintenance(
      mem.toDF().toDF("doc_id", "text")
        .withColumn("toks", split(col("text"), " ")),
      "doc_id", "toks", store, ckpt, out, threshold = 0.4)
    try {
      mem.addData(1L -> base, 2L -> ((41 to 80).map(i => s"tok$i").mkString(" ")))
      q.processAllAvailable()
      // batch 2's near-dup of doc 1 is caught via the STORE, not the batch
      mem.addData(3L -> (base + " extra trailer"))
      q.processAllAvailable()
      val pairs = spark.read.parquet(out)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 3L)))
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
      assert(spark.read.parquet(s"$store/sketches").count() == 3)
    } finally q.stop()
  }

  test("line-dedup crash recovery: kill between doc-sink and store-append, restart") {
    // Executable proof of incrementalLineDedup's durability ordering: the
    // rebuilt documents reach their sink BEFORE the doc-id/line stores
    // mutate, so a crash at exactly that boundary (a) leaves both stores
    // untouched, (b) replays the batch on restart from the same
    // checkpoint, and (c) re-emits the same documents (at-least-once) —
    // never empty-text docs, which is what the reverse ordering would
    // produce on replay.
    val root = java.nio.file.Files.createTempDirectory("ldcrash")
    val src = root.resolve("src").toString
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("docs").toString
    import spark.implicits._
    Seq((1L, "alpha\nbeta"), (2L, "beta\ngamma")).toDF("doc_id", "text")
      .write.parquet(src)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def docsStream = spark.readStream.schema(schema).parquet(src)
    val crashing = Streams.streamingLineDedup(
      docsStream, "doc_id", "text", store, ckpt, out,
      batchSink = Some { df =>
        df.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(out)
        throw new RuntimeException("injected crash between doc sink and store append")
      })
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashing.processAllAvailable()
    }
    assert(failure.getMessage.contains("injected crash"))
    crashing.stop()
    // docs are durable; NEITHER store mutated
    val sunk = spark.read.parquet(out)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(sunk == Map(1L -> "alpha\nbeta", 2L -> "gamma"))
    Seq("docs", "lines").foreach { d =>
      assert(!new java.io.File(s"$store/$d").exists() ||
        spark.read.parquet(s"$store/$d").count() == 0,
        s"a crash before the store append must leave $d unchanged")
    }
    // restart from the same checkpoint: the uncommitted batch replays with
    // full output (the doc ids were never marked processed)
    val recovered = Streams.streamingLineDedup(
      docsStream, "doc_id", "text", store, ckpt, out)
    try {
      recovered.processAllAvailable()
      val all = spark.read.parquet(out)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      assert(all.size >= 4, "replayed batch re-emits its documents (at-least-once)")
      assert(all.toSet == Set(1L -> "alpha\nbeta", 2L -> "gamma"),
        "re-emitted docs carry full text, never emptied by their own store entries")
      assert(spark.read.parquet(s"$store/docs").count() == 2)
      assert(spark.read.parquet(s"$store/lines").count() == 3)
    } finally recovered.stop()
  }

  test("near-dup crash recovery: kill between pairs-sink and store-append, restart") {
    // Executable proof of the durability ordering (Dedup.incrementalNearDupPairs):
    // pairs reach their sink BEFORE the sketch store mutates, so a crash at
    // exactly that boundary (a) loses no sketches — the store is untouched,
    // (b) replays the batch on restart from the same checkpoint, and
    // (c) re-emits the same pairs (at-least-once), never zero-emits them.
    val root = java.nio.file.Files.createTempDirectory("ndcrash")
    val src = root.resolve("src").toString
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("pairs").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    // file source: real checkpoint recovery semantics across query restarts
    import spark.implicits._
    Seq((1L, base), (2L, base + " extra trailer"))
      .toDF("doc_id", "text").write.parquet(src)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def docsStream = spark.readStream.schema(schema).parquet(src)
      .withColumn("toks", split(col("text"), " "))
    // run 1: the sink writes pairs, then the process "dies" before the
    // store append (the injected crash throws at the sink/store boundary)
    val crashing = Streams.streamingNearDupMaintenance(
      docsStream, "doc_id", "toks", store, ckpt, out, threshold = 0.4,
      pairsSink = Some { df =>
        df.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(out)
        throw new RuntimeException("injected crash between pairs sink and store append")
      })
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashing.processAllAvailable()
    }
    assert(failure.getMessage.contains("injected crash"))
    crashing.stop()
    // after the crash: pairs are durable, the store was NOT mutated
    val pairsAfterCrash = spark.read.parquet(out)
      .select("id1", "id2").as[(Long, Long)].collect().toSeq
    assert(pairsAfterCrash == Seq((1L, 2L)), "pairs must be sunk before the crash point")
    assert(!new java.io.File(s"$store/sketches").exists() ||
      spark.read.parquet(s"$store/sketches").count() == 0,
      "a crash before the store append must leave the store unchanged")
    // run 2 (restart, same checkpoint): the uncommitted batch replays
    val recovered = Streams.streamingNearDupMaintenance(
      docsStream, "doc_id", "toks", store, ckpt, out, threshold = 0.4)
    try {
      recovered.processAllAvailable()
      // at-least-once: the pair was re-emitted, duplicates allowed, never lost
      val all = spark.read.parquet(out).select("id1", "id2").as[(Long, Long)].collect().toSeq
      assert(all.nonEmpty && all.toSet == Set((1L, 2L)))
      assert(all.size >= 2, "replayed batch re-emits the sunk pairs (at-least-once)")
      // no lost sketches: both docs' sketches landed on the restart
      assert(spark.read.parquet(s"$store/sketches").select("id")
        .as[Long].collect().toSet == Set(1L, 2L))
      // and a later batch still dedups against the recovered store
      Seq((3L, base + " another tail")).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      recovered.processAllAvailable()
      val withB2 = spark.read.parquet(out).select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(withB2.contains((1L, 3L)) && withB2.contains((2L, 3L)))
      assert(spark.read.parquet(s"$store/sketches").count() == 3)
    } finally recovered.stop()
  }

  test("streaming index maintenance: overlapping micro-batches stay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("sidx").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("sckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.streamingIndexMaintenance(
      mem.toDF().toDF("doc_id", "source", "text"), idx, ckpt,
      graft.operators.Index.IndexConfig(graft.model.SplitStrategy.Fixed(100, 20), 8))
    try {
      mem.addData((1L, "s", "alpha beta " * 30), (2L, "s", "gamma delta " * 30))
      q.processAllAvailable()
      val doc2ChunksFirst = spark.read.parquet(idx).where(col("doc_id") === 2).count()
      assert(doc2ChunksFirst > 0)
      // second batch overlaps doc 2 and adds doc 3: only 3 must be appended
      mem.addData((2L, "s", "gamma delta " * 30), (3L, "s", "epsilon zeta " * 30))
      q.processAllAvailable()
      val back = spark.read.parquet(idx)
      assert(back.select("doc_id").distinct().count() == 3)
      // the replayed doc 2 appended nothing — chunk count unchanged
      assert(back.where(col("doc_id") === 2).count() == doc2ChunksFirst)
    } finally q.stop()
  }

  test("streaming text-index maintenance: appends fold in, replays no-op, queries see fresh stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("stidx").toString + "/ti"
    val ckpt = java.nio.file.Files.createTempDirectory("stickpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingTextIndexMaintenance(
      mem.toDF().toDF("doc_id", "text"), "doc_id",
      graft.functions.TextFunctions.wordTokens(col("text")), idx, ckpt)
    try {
      mem.addData((1L, "data model data"), (2L, "search engine"))
      q.processAllAvailable()
      val top1 = graft.operators.Search
        .bm25TopKFromIndex(spark, idx, Seq("data"), 5)
        .collect().map(_.getLong(0)).toSeq
      assert(top1 == Seq(1L))
      // overlap doc 2, add doc 3 — replay adds nothing, doc 3 lands
      mem.addData((2L, "search engine"), (3L, "data lake"))
      q.processAllAvailable()
      val stats = spark.read.parquet(s"$idx/stats").head()
      assert(stats.getLong(0) == 3L) // n_docs exact after replay
      assert(stats.getLong(1) == 7L) // 3 + 2 + 2 tokens
      val top2 = graft.operators.Search
        .bm25TopKFromIndex(spark, idx, Seq("data"), 5)
        .collect().map(_.getLong(0)).toSeq
      assert(top2.toSet == Set(1L, 3L))
    } finally q.stop()
  }

  test("ST3: dropDuplicatesWithinWatermark drops the in-window duplicate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(mem.toDF(), "10 minutes")
      .select("event_id", "user_id")
      .writeStream.format("memory").queryName("st3").outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(1, ts(1), 1, "a", 1.0), Ev(2, ts(2), 1, "a", 1.0))
      q.processAllAvailable()
      val ids = spark.table("st3").select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  // ---- maintenance policies composed with LIVE streams (VERDICT r15
  // item 5): the quiescence contract exercised against real streaming
  // queries in the same JVM, not simulated — a quiescent-but-running
  // stream publishes cleanly, a racing append refuses cleanly, and in
  // neither case is a document or vector ever lost.

  test("text layout policy under a LIVE maintenance stream: quiescent tick publishes; restarted stream folds into the new generation; replay no-ops across the swap") {
    import spark.implicits._
    import graft.operators.Search
    import graft.sources.Generations
    import graft.functions.TextFunctions
    val conf = spark.sparkContext.hadoopConfiguration
    val root0 = java.nio.file.Files.createTempDirectory("tpstream")
    val src = root0.resolve("src").toString
    val ckpt = root0.resolve("ckpt").toString
    val cat = root0.resolve("cat").toString
    def docsOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .select("doc_id", "toks")
    val a = Seq(1L -> "data model data", 2L -> "search engine")
    val b = Seq(3L -> "data lake", 4L -> "model registry")
    val c = Seq(5L -> "vector search data")
    val g0 = Generations.stage(cat, conf)
    Search.writeTextIndex(docsOf(a), "doc_id", "toks", g0)
    Generations.publish(cat, g0, conf)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def stream() = Streams.streamingTextIndexMaintenance(
      spark.readStream.schema(schema).parquet(src), "doc_id",
      TextFunctions.wordTokens(col("text")),
      Generations.resolve(cat, conf), ckpt)
    b.toDF("doc_id", "text").write.mode("append").parquet(src)
    val q1 = stream()
    try {
      q1.processAllAvailable() // batch B folds into the LIVE generation
      // the tick runs while the stream is ALIVE but drained (the
      // single-writer quiescence contract): the fragmented store trips,
      // compacts into gen-1 and publishes — cleanly, under a live query
      assert(q1.isActive)
      assert(Search.maintainTextIndex(spark, cat,
        maxPostingsFiles = 1, targetFiles = 1).contains("gen-1"))
      assert(Search.maintainTextIndex(spark, cat,
        maxPostingsFiles = 1, targetFiles = 1).isEmpty)
    } finally q1.stop()
    // the caller's restart move (checkpoint-preserving): the new stream
    // runs against the NEW live generation; batch C lands there, and a
    // REPLAY of batch B's documents no-ops — appendTextIndex keys off
    // doclens content, which the compaction preserved row-for-row
    c.toDF("doc_id", "text").write.mode("append").parquet(src)
    b.toDF("doc_id", "text").write.mode("append").parquet(src) // replay
    val q2 = stream()
    try q2.processAllAvailable() finally q2.stop()
    val live = Generations.resolve(cat, conf)
    assert(live.endsWith("gen-1"))
    assert(spark.read.parquet(s"$live/doclens").count() == 5L,
      "every document exactly once: no loss, no replay duplication")
    val got = Search.bm25TopKFromIndex(spark, live, Seq("data"), 5)
      .collect().map(_.getLong(0)).toSeq
    val want = Search.bm25TopK(docsOf(a ++ b ++ c), "doc_id", "toks",
      Seq("data"), 5).collect().map(_.getLong(0)).toSeq
    assert(got == want, "the policy-swapped store ranks like a fresh build")
  }

  test("weights policy under a LIVE maintenance stream: quiescent tick publishes; restarted stream folds into the new generation; read-through-catalog equals the fresh recompute") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.sources.Generations
    import graft.functions.TextFunctions
    val conf = spark.sparkContext.hadoopConfiguration
    val root0 = java.nio.file.Files.createTempDirectory("wpstream")
    val src = root0.resolve("src").toString
    val ckpt = root0.resolve("ckpt").toString
    val cat = root0.resolve("cat").toString
    val texts = Seq("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu")
    def t(i: Long) = texts((i % 3).toInt)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def stream(storePath: String) = Streams.streamingSoftDedupWeights(
      spark.readStream.schema(schema).parquet(src)
        .withColumn("toks", TextFunctions.wordTokens(col("text")))
        .select("doc_id", "toks"),
      "doc_id", "toks", storePath, ckpt)
    // the stream itself bootstraps generation 0 (folds into the staged
    // dir), and only then is it published — no manual fold whose batch id
    // could collide with the stream's epoch sequence
    val g0 = Generations.stage(cat, conf)
    (1L to 4L).map(i => (i, t(i))).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q1 = stream(g0)
    try {
      q1.processAllAvailable() // epoch 0 into the staged store
      Generations.publish(cat, g0, conf)
      (5L to 8L).map(i => (i, t(i))).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      q1.processAllAvailable() // epoch(s) into the (now live) generation
      // the policy tick runs while the stream is ALIVE but drained. The
      // fold boundary is DISCOVERED from the drained store (the file
      // source may split a feed across micro-batches under load, so epoch
      // numbers are not assumable): every committed patch batch is below
      // the boundary, so the compaction folds the whole history and the
      // next tick must read the one-snapshot store as healthy
      assert(q1.isActive)
      val live0 = Generations.resolve(cat, conf)
      val boundary = new java.io.File(s"$live0/weights").listFiles()
        .map(_.getName).filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).max
      assert(Dedup.maintainSoftDedupWeights(spark, cat, maxBatches = 1,
        committedBatchId = boundary, idCol = "doc_id").contains("gen-1"))
      assert(Dedup.maintainSoftDedupWeights(spark, cat, maxBatches = 1,
        committedBatchId = boundary, idCol = "doc_id").isEmpty)
    } finally q1.stop()
    // restart against the NEW live generation from the SAME checkpoint;
    // epoch 2 folds there (the carried ledger + sketches keep cross-batch
    // pairs and replay protection across the swap)
    (9L to 12L).map(i => (i, t(i))).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val q2 = stream(Generations.resolve(cat, conf))
    try q2.processAllAvailable() finally q2.stop()
    val served = Dedup.readSoftDedupWeights(spark,
      Generations.resolve(cat, conf), "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val all = (1L to 12L).map(i => (i, t(i))).toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val fresh = Dedup.softDedupWeights((1L to 12L).toDF("doc_id"), "doc_id",
        Dedup.minhashNearDupPairs(all, "doc_id", "toks"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(served == fresh,
      "stream → policy swap → stream must serve the fresh-build table")
  }

  test("vector policy racing a LIVE maintenance stream: the mid-refresh append refuses the publish; nothing is lost; the paused retry publishes") {
    import spark.implicits._
    import graft.operators.Search
    import graft.sources.Generations
    val conf = spark.sparkContext.hadoopConfiguration
    val dim = 4
    def vec(id: Long): Seq[Float] = {
      val a = Array.fill(dim)(0.0f); a((id % dim).toInt) = 1.0f; a.toSeq
    }
    val root0 = java.nio.file.Files.createTempDirectory("vpstream")
    val src = root0.resolve("src").toString
    val ckpt = root0.resolve("ckpt").toString
    val cat = root0.resolve("cat").toString
    val a = (1L to 12L).map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val g0 = Generations.stage(cat, conf)
    Search.writeIvfIndex(a, "embedding",
      Search.sampledCentroids(a, "vec_id", "embedding", 2, "vp"), g0)
    Generations.publish(cat, g0, conf)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long")
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    Seq((101L, vec(101L))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(src)
    val q = Streams.streamingVectorIndexMaintenance(
      spark.readStream.schema(schema).parquet(src), "vec_id", "embedding",
      Generations.resolve(cat, conf), ckpt, family = "ivf")
    try {
      q.processAllAvailable()
      // the race, LIVE: the refresh closure lets the running stream
      // deliver an append into the live generation mid-retrain — the
      // tripwire must refuse the publish built from the stale snapshot
      val err = intercept[IllegalArgumentException] {
        Search.maintainVectorIndex(spark, cat, threshold = 2.0,
          observe = p => Search.minClusterSimilarity(spark, p, "embedding"),
          refresh = (srcGen, dst) => {
            Seq((102L, vec(102L))).toDF("vec_id", "embedding")
              .write.mode("append").parquet(src)
            q.processAllAvailable() // the stream commits into the live gen
            Search.refreshIvfIndex(a, "vec_id", "embedding", srcGen, dst,
              nClusters = 2, salt = "vp2")
          })
      }
      assert(err.getMessage.contains("mid-refresh"))
      assert(Generations.resolve(cat, conf).endsWith("gen-0"))
      assert(spark.read.parquet(
          s"${Generations.resolve(cat, conf)}/vectors")
        .where(col("vec_id").isin(101L, 102L)).count() == 2L,
        "both streamed appends survive the refused publish")
    } finally q.stop()
    // the contract's happy path: with the writer PAUSED (stream stopped),
    // the retry retrains on the full corpus — streamed ids included — and
    // publishes; vacuum reclaims the abandoned staged generation
    val live = Generations.resolve(cat, conf)
    val full = a.unionByName(
      spark.read.parquet(s"$live/vectors")
        .where(col("vec_id") > 100L).select("vec_id", "embedding"))
    assert(Search.maintainVectorIndex(spark, cat, threshold = 2.0,
      observe = p => Search.minClusterSimilarity(spark, p, "embedding"),
      refresh = (srcGen, dst) => Search.refreshIvfIndex(full, "vec_id",
        "embedding", srcGen, dst, nClusters = 2, salt = "vp3"))
      .contains("gen-2"))
    assert(spark.read.parquet(
        s"${Generations.resolve(cat, conf)}/vectors")
      .where(col("vec_id").isin(101L, 102L)).count() == 2L,
      "the published generation carries the streamed ids — never loss")
  }
}
