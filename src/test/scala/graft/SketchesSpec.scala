package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Persisted HLL sketch store: per-batch build, exactly-once append,
  * cross-batch union ≈ true distinct over the union — the incremental
  * cardinality surface (no DuckDB oracle: sketch binaries are
  * engine-internal; tolerance-checked against exact counts instead).
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Range, domains: Int) =
    ids.map(i => (s"d${i % domains}", s"user-$i")).toDF("domain", "uid")

  test("append + estimate: per-group estimates within 3% of exact; replay no-op") {
    val store = Files.createTempDirectory("hll").toString + "/s"
    val b1 = batch(0 until 3000, 3)
    val b2 = batch(1500 until 6000, 3) // overlaps b1 — union must dedupe
    assert(Sketches.appendDistinctSketches(b1, "domain", "uid", "day1", store) === 3L)
    assert(Sketches.appendDistinctSketches(b2, "domain", "uid", "day2", store) === 3L)
    // replays append nothing
    assert(Sketches.appendDistinctSketches(b1, "domain", "uid", "day1", store) === 0L)
    assert(spark.read.parquet(store).count() === 6)

    val exact = b1.unionByName(b2).groupBy("domain")
      .agg(countDistinct("uid").as("n")).as[(String, Long)].collect().toMap
    val est = Sketches.estimateDistinct(spark, store)
      .as[(String, Long)].collect().toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (d, e) =>
      val x = exact(d)
      assert(math.abs(e - x).toDouble / x < 0.03, s"$d: est $e vs exact $x")
    }
    // single-batch scoping reads only that batch's sketches
    val day1 = Sketches.estimateDistinct(spark, store, Seq("day1"))
      .as[(String, Long)].collect().toMap
    val exact1 = b1.groupBy("domain").agg(countDistinct("uid").as("n"))
      .as[(String, Long)].collect().toMap
    day1.foreach { case (d, e) =>
      assert(math.abs(e - exact1(d)).toDouble / exact1(d) < 0.03)
    }
  }

  test("KLL quantile store: merged estimates within rank-error bound; replay no-op") {
    val store = Files.createTempDirectory("kll").toString + "/s"
    // two overlapping batches of a known uniform distribution per group
    def vbatch(r: Range) = r.map(i => (s"src${i % 2}", (i % 10000).toDouble))
      .toDF("source", "len")
    assert(Sketches.appendQuantileSketches(
      vbatch(0 until 8000), "source", "len", "day1", store) === 2L)
    assert(Sketches.appendQuantileSketches(
      vbatch(8000 until 20000), "source", "len", "day2", store) === 2L)
    assert(Sketches.appendQuantileSketches(
      vbatch(0 until 8000), "source", "len", "day1", store) === 0L)
    assert(spark.read.parquet(store).count() === 4)
    val all = vbatch(0 until 8000).unionByName(vbatch(8000 until 20000))
    val est = Sketches.estimateQuantiles(spark, store, Seq(0.1, 0.5, 0.95))
      .as[(String, Double, Double)].collect()
      .map { case (g, r, q) => (g, r) -> q }.toMap
    assert(est.keySet.map(_._1) === Set("src0", "src1"))
    // KLL k=200 guarantees ~1.65% RANK error: check each estimate's true
    // rank, not its value
    for (((g, r), q) <- est) {
      val grp = all.where(col("source") === g)
      val n = grp.count().toDouble
      val below = grp.where(col("len") <= q).count().toDouble
      assert(math.abs(below / n - r) < 0.03, s"($g, $r): est $q has rank ${below / n}")
    }
    // batch scoping: day1-only quantiles reflect day1's distribution
    val d1 = Sketches.estimateQuantiles(spark, store, Seq(0.5), Seq("day1"))
      .as[(String, Double, Double)].collect()
    assert(d1.length === 2 && d1.forall { case (_, _, q) => q >= 0 && q < 10000 })
  }

  test("frequency store: candidates cover every true heavy hitter; verify path is exact; replay no-op") {
    val store = Files.createTempDirectory("freq").toString + "/s"
    // 4 hot items at 15% each + singleton tail (60% of rows, ~2400 distinct)
    // per group: far more distinct items than the 64-slot sketch holds, so
    // Misra-Gries purges MUST occur for the test to mean anything
    def fbatch(r: Range) = r.map { i =>
      val item = if (i % 10 < 6) s"cold-$i" else s"hot-${i % 4}"
      (s"g${i % 2}", item)
    }.toDF("grp", "item")
    assert(Sketches.appendFrequencySketches(
      fbatch(0 until 2000), "grp", "item", "day1", store, maxMapSize = 64) === 2L)
    assert(Sketches.appendFrequencySketches(
      fbatch(2000 until 4000), "grp", "item", "day2", store, maxMapSize = 64) === 2L)
    assert(Sketches.appendFrequencySketches(
      fbatch(0 until 2000), "grp", "item", "day1", store, maxMapSize = 64) === 0L)
    assert(spark.read.parquet(store).count() === 4)

    val all = fbatch(0 until 4000)
    val minCount = 100L // 5% of each group's 2000 rows; hot items sit at ~300
    val cand = Sketches.heavyHitterCandidates(spark, store, minCount, maxMapSize = 64)
      .as[(String, String, Long, Long, Long, Long)].collect()
    // purges actually happened (else the sketch was trivially exact)
    assert(cand.forall(_._6 > 0), "expected a non-zero error bound (purges)")
    // exact count always inside [lower, upper]
    val exact = all.groupBy("grp", "item").count()
      .as[(String, String, Long)].collect().map { case (g, i, n) => (g, i) -> n }.toMap
    cand.foreach { case (g, i, _, lb, ub, _) =>
      val t = exact((g, i)); assert(lb <= t && t <= ub, s"($g,$i): $t not in [$lb,$ub]")
    }
    // NO FALSE NEGATIVES: every true heavy hitter is nominated
    val trueHh = exact.filter(_._2 >= minCount).keySet
    val nominated = cand.map(c => (c._1, c._2)).toSet
    assert(trueHh.subsetOf(nominated), s"missing ${trueHh -- nominated}")
    // candidate-then-verify reproduces the exact full-stream answer
    val candDf = Sketches.heavyHitterCandidates(spark, store, minCount, maxMapSize = 64)
      .select(col("group_key").as("grp"), col("item"))
    val verified = all.join(candDf, Seq("grp", "item"), "left_semi")
      .groupBy("grp", "item").count().where(col("count") >= minCount)
      .as[(String, String, Long)].collect().toSet
    val full = all.groupBy("grp", "item").count().where(col("count") >= minCount)
      .as[(String, String, Long)].collect().toSet
    assert(verified === full)
  }

  test("frequency store refuses a threshold inside the error bound") {
    val store = Files.createTempDirectory("freq2").toString + "/s"
    val df = (0 until 4000).map(i => ("g", s"item-$i")).toDF("grp", "item")
    Sketches.appendFrequencySketches(df, "grp", "item", "b", store, maxMapSize = 8)
    val ex = intercept[Exception] {
      Sketches.heavyHitterCandidates(spark, store, minCount = 1, maxMapSize = 8)
        .collect()
    }
    assert(ex.getMessage.contains("no-false-negative") ||
      Option(ex.getCause).exists(_.getMessage.contains("no-false-negative")))
  }

  test("theta store: set algebra across batches — intersect/diff/union match exact within bounds; replay no-op") {
    val store = Files.createTempDirectory("theta").toString + "/s"
    val b1 = batch(0 until 3000, 2)    // per-domain users {i : i ≡ d (mod 2)}
    val b2 = batch(1500 until 6000, 2) // overlap 1500..2999
    assert(Sketches.appendThetaSketches(b1, "domain", "uid", "day1", store) === 2L)
    assert(Sketches.appendThetaSketches(b2, "domain", "uid", "day7", store) === 2L)
    assert(Sketches.appendThetaSketches(b1, "domain", "uid", "day1", store) === 0L)
    assert(spark.read.parquet(store).count() === 4)

    def exact(op: (Set[String], Set[String]) => Set[String]) = {
      def users(r: Range, d: Int) = r.filter(_ % 2 == d).map(i => s"user-$i").toSet
      (0 until 2).map { d =>
        s"d$d" -> op(users(0 until 3000, d), users(1500 until 6000, d)).size.toLong
      }.toMap
    }
    val cases = Seq(
      "intersect" -> exact((a, b) => a & b),  // 750 per domain
      "diff"      -> exact((a, b) => a -- b), // 750 per domain
      "union"     -> exact((a, b) => a | b))  // 3000 per domain
    for ((op, want) <- cases) {
      val got = Sketches.estimateSetOp(spark, store, op, Seq("day1"), Seq("day7"))
        .as[(String, Long, Long, Long)].collect()
      assert(got.map(_._1).toSet === want.keySet, op)
      got.foreach { case (d, est, lb, ub) =>
        val x = want(d)
        assert(lb <= x && x <= ub, s"$op $d: exact $x outside [$lb,$ub]")
        // cardinalities < k = sketches in exact mode: estimate IS exact
        assert(est === x, s"$op $d: est $est vs exact $x in exact mode")
      }
    }
  }

  test("set algebra with OVERLAPPING batch ranges routes shared batches to both sides") {
    val store = Files.createTempDirectory("theta2").toString + "/s"
    val b1 = batch(0 until 1000, 2)
    val b2 = batch(1000 until 2000, 2)
    val b3 = batch(500 until 1500, 2)
    Sketches.appendThetaSketches(b1, "domain", "uid", "d1", store)
    Sketches.appendThetaSketches(b2, "domain", "uid", "d2", store)
    Sketches.appendThetaSketches(b3, "domain", "uid", "d3", store)
    // A = {d1,d2}, B = {d2,d3}: d2 is in BOTH ranges and must contribute to
    // both unions — dropping it from B would skew intersect/diff
    def users(r: Range, d: Int) = r.filter(_ % 2 == d).map(i => s"user-$i").toSet
    def side(d: Int, rs: Range*) = rs.map(users(_, d)).reduce(_ | _)
    for ((op, f) <- Seq[(String, (Set[String], Set[String]) => Set[String])](
        "intersect" -> (_ & _), "diff" -> (_ -- _), "union" -> (_ | _))) {
      val got = Sketches.estimateSetOp(spark, store, op, Seq("d1", "d2"), Seq("d2", "d3"))
        .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
      (0 until 2).foreach { d =>
        val x = f(side(d, 0 until 1000, 1000 until 2000),
          side(d, 1000 until 2000, 500 until 1500)).size.toLong
        assert(got(s"d$d") === x, s"$op d$d: est ${got(s"d$d")} vs exact $x (exact mode)")
      }
    }
  }

  test("compactSketchStore: estimate-invariant for all four families; replay-safe across the boundary") {
    import graft.operators.Sketches
    val b1 = batch(0 until 2000, 2)
    val b2 = batch(1000 until 4000, 2)
    val b3 = batch(3000 until 5000, 2)

    // HLL: all-batches estimate and mixed compacted+live scoping invariant
    val hllSrc = Files.createTempDirectory("chll").toString + "/s"
    val hllDst = Files.createTempDirectory("chll").toString + "/s"
    Seq(("m1", b1), ("m2", b2), ("m3", b3)).foreach { case (id, df) =>
      Sketches.appendDistinctSketches(df, "domain", "uid", id, hllSrc)
    }
    val before = Sketches.estimateDistinct(spark, hllSrc)
      .as[(String, Long)].collect().toMap
    val nGroups = Sketches.compactSketchStore(spark, hllSrc, hllDst, "hll",
      Seq("m1", "m2"), "m1-2")
    assert(nGroups === 2L)
    assert(spark.read.parquet(hllDst).count() === 4L, "2 kept (m3) + 2 compacted")
    val after = Sketches.estimateDistinct(spark, hllDst)
      .as[(String, Long)].collect().toMap
    assert(after === before, "all-batches estimate must be invariant")
    val scoped = Sketches.estimateDistinct(spark, hllDst, Seq("m1-2", "m3"))
      .as[(String, Long)].collect().toMap
    assert(scoped === before, "compacted-id + live-batch scoping must be invariant")
    // replaying an ABSORBED batch against the compacted store is a no-op
    assert(Sketches.appendDistinctSketches(b1, "domain", "uid", "m1", hllDst) === 0L)
    // a genuinely new batch still appends
    assert(Sketches.appendDistinctSketches(
      batch(5000 until 5500, 2), "domain", "uid", "m4", hllDst) === 2L)

    // KLL: quantiles invariant pre/post
    val kllSrc = Files.createTempDirectory("ckll").toString + "/s"
    val kllDst = Files.createTempDirectory("ckll").toString + "/s"
    def lens(ids: Range) = ids.map(i => (s"d${i % 2}", (i % 997).toDouble)).toDF("g", "v")
    Sketches.appendQuantileSketches(lens(0 until 2000), "g", "v", "m1", kllSrc)
    Sketches.appendQuantileSketches(lens(2000 until 4000), "g", "v", "m2", kllSrc)
    val qBefore = Sketches.estimateQuantiles(spark, kllSrc, Seq(0.5, 0.95))
      .as[(String, Double, Double)].collect()
      .map { case (g, r, q) => (g, r) -> q }.toMap
    Sketches.compactSketchStore(spark, kllSrc, kllDst, "kll", Seq("m1", "m2"), "all")
    val qAfter = Sketches.estimateQuantiles(spark, kllDst, Seq(0.5, 0.95))
      .as[(String, Double, Double)].collect()
      .map { case (g, r, q) => (g, r) -> q }.toMap
    assert(qAfter.keySet === qBefore.keySet)
    // KLL level compaction is randomized, so merge-then-query and
    // query-time-merge agree only within the sketch's rank error (~1.65%
    // at k=200); values span 0..996, so allow a few % of the range
    qAfter.foreach { case (key, v) =>
      assert(math.abs(v - qBefore(key)) <= 50.0, s"$key: $v vs ${qBefore(key)}")
    }

    // FREQ: heavy-hitter candidates invariant (same merged sketch state)
    val fSrc = Files.createTempDirectory("cfrq").toString + "/s"
    val fDst = Files.createTempDirectory("cfrq").toString + "/s"
    def items(r: Range) = r.map(i => ("g", if (i % 10 == 0) "hot" else s"i$i"))
      .toDF("g", "item")
    Sketches.appendFrequencySketches(items(0 until 3000), "g", "item", "m1", fSrc,
      maxMapSize = 64)
    Sketches.appendFrequencySketches(items(3000 until 6000), "g", "item", "m2", fSrc,
      maxMapSize = 64)
    val hhBefore = Sketches.heavyHitterCandidates(spark, fSrc, 400, maxMapSize = 64)
      .select("group_key", "item").as[(String, String)].collect().toSet
    Sketches.compactSketchStore(spark, fSrc, fDst, "freq", Seq("m1", "m2"), "all",
      maxMapSize = 64)
    val hhAfter = Sketches.heavyHitterCandidates(spark, fDst, 400, maxMapSize = 64)
      .select("group_key", "item").as[(String, String)].collect().toSet
    assert(hhAfter === hhBefore)

    // THETA: set algebra across a compacted A-range vs a live B-batch
    val tSrc = Files.createTempDirectory("ctht").toString + "/s"
    val tDst = Files.createTempDirectory("ctht").toString + "/s"
    Sketches.appendThetaSketches(b1, "domain", "uid", "m1", tSrc)
    Sketches.appendThetaSketches(b2, "domain", "uid", "m2", tSrc)
    Sketches.appendThetaSketches(b3, "domain", "uid", "m3", tSrc)
    val sBefore = Sketches.estimateSetOp(spark, tSrc, "intersect",
      Seq("m1", "m2"), Seq("m3")).as[(String, Long, Long, Long)].collect().toSet
    Sketches.compactSketchStore(spark, tSrc, tDst, "theta", Seq("m1", "m2"), "m1-2")
    val sAfter = Sketches.estimateSetOp(spark, tDst, "intersect",
      Seq("m1-2"), Seq("m3")).as[(String, Long, Long, Long)].collect().toSet
    assert(sAfter === sBefore)

    // second-generation compaction carries the ledger forward: fold the
    // compacted blob itself + m3, then replay BOTH generations' originals
    val tDst2 = Files.createTempDirectory("ctht").toString + "/s"
    Sketches.compactSketchStore(spark, tDst, tDst2, "theta",
      Seq("m1-2", "m3"), "m1-3")
    assert(Sketches.appendThetaSketches(b1, "domain", "uid", "m1", tDst2) === 0L)
    assert(Sketches.appendThetaSketches(b3, "domain", "uid", "m3", tDst2) === 0L)

    // guards: same dir, folding a fresh id, colliding compacted id, and
    // folding a batch id that is NOT in the store (its future first-ever
    // append would replay as a silent no-op = data loss)
    intercept[IllegalArgumentException](
      Sketches.compactSketchStore(spark, tDst2, tDst2, "theta", Seq("x"), "y"))
    intercept[IllegalArgumentException](
      Sketches.compactSketchStore(spark, tDst2, Files.createTempDirectory("z").toString + "/s",
        "theta", Seq("m1-3"), "m1-3"))
    val exAbsent = intercept[IllegalArgumentException](
      Sketches.compactSketchStore(spark, tDst2,
        Files.createTempDirectory("z2").toString + "/s",
        "theta", Seq("m1-3", "never-appended"), "m1-4"))
    assert(exAbsent.getMessage.contains("never-appended"))
  }

  test("the union aggregate is partial-aggregatable (map-side combine in the plan)") {
    val store = Files.createTempDirectory("hll2").toString + "/s"
    Sketches.appendDistinctSketches(batch(0 until 500, 2), "domain", "uid", "b", store)
    val plan = Sketches.estimateDistinct(spark, store)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_hll_union_agg") || plan.contains("partial_"),
      plan.take(1200))
  }

  test("maintainSketchStore: healthy catalog no-ops; past-budget tick folds the closed range + publishes; estimates invariant; absorbed replays no-op; self-thrash refused") {
    import graft.sources.Generations
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("skpol").toString
    val b1 = batch(0 until 2000, 2)
    val b2 = batch(1000 until 4000, 2)
    val b3 = batch(3000 until 5000, 2)
    val g0 = Generations.stage(root, conf)
    Seq(("m1", b1), ("m2", b2), ("m3", b3)).foreach { case (id, df) =>
      Sketches.appendDistinctSketches(df, "domain", "uid", id, g0); ()
    }
    Generations.publish(root, g0, conf)
    val before = Sketches.estimateDistinct(spark, Generations.resolve(root, conf))
      .as[(String, Long)].collect().toMap
    val files = graft.operators.Search.dataFileCount(spark,
      Generations.resolve(root, conf))
    assert(files >= 3, "three appends must leave at least three file-sets")
    // healthy at the current footprint: nothing staged, the pointer stays
    assert(Sketches.maintainSketchStore(spark, root, "hll", Seq("m1", "m2"),
      "m1-2", maxDataFiles = files, targetFiles = 1).isEmpty)
    assert(Generations.history(root, conf) == Seq("gen-0"))
    // past budget: the caller-named closed range folds into gen-1
    assert(Sketches.maintainSketchStore(spark, root, "hll", Seq("m1", "m2"),
      "m1-2", maxDataFiles = files - 1, targetFiles = 1).contains("gen-1"))
    assert(Generations.resolve(root, conf).endsWith("gen-1"))
    // estimates invariant through the swap, all scopings
    val after = Sketches.estimateDistinct(spark, Generations.resolve(root, conf))
      .as[(String, Long)].collect().toMap
    assert(after === before, "all-batches estimate must survive the swap")
    assert(Sketches.estimateDistinct(spark, Generations.resolve(root, conf),
      Seq("m1-2", "m3"))
      .as[(String, Long)].collect().toMap === before)
    // compaction honored its file budget: the next tick reads healthy at
    // a budget of targetFiles, under any shuffle-partition count
    assert(Sketches.maintainSketchStore(spark, root, "hll", Seq("m3"),
      "m3c", maxDataFiles = 1, targetFiles = 1).isEmpty)
    // absorbed replay no-ops via the carried ledger, THROUGH the catalog
    assert(Sketches.appendDistinctSketches(b1, "domain", "uid", "m1",
      Generations.resolve(root, conf)) === 0L)
    // a genuinely new batch appends to the live generation
    assert(Sketches.appendDistinctSketches(batch(5000 until 5500, 2),
      "domain", "uid", "m4", Generations.resolve(root, conf)) === 2L)
    // vacuum stays separate; the live generation keeps serving
    assert(Generations.vacuum(root, keep = 0, conf) == Seq("gen-0"))
    assert(Sketches.estimateDistinct(spark, Generations.resolve(root, conf))
      .count() === 2L)
    // a budget below the compaction target refuses (self-thrash)
    intercept[IllegalArgumentException](Sketches.maintainSketchStore(spark,
      root, "hll", Seq("m4"), "m4c", maxDataFiles = 1, targetFiles = 2))
  }
}
