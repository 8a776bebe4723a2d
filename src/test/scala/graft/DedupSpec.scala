package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Dedup family (V4 + A6): exact keep-min, MinHash/LSH near-dup recall on
  * planted duplicates, simhash locality, centroid aggregator correctness.
  */
class DedupSpec extends SparkSpec {

  test("exactDedup keeps exactly one row per content, the min-key one") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "t")
    val out = Dedup.exactDedup(df, col("t"), col("id")).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("dedupLinesAcrossCorpus: keep-first across docs, in-doc repeats, emptied doc") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha"),   // in-doc repeat: second alpha dropped
      (2L, "beta\ngamma"),          // beta claimed by doc 1
      (3L, "alpha\nbeta"),          // fully claimed ⇒ empty text
      (4L, "  \ndelta")             // blank line ignored entirely
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossCorpus(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((2, 3, "alpha\nbeta")))
    assert(out(2L) == ((1, 2, "gamma")))
    assert(out(3L) == ((0, 2, "")))
    assert(out(4L) == ((1, 1, "delta")))
  }

  test("stripBoilerplateLines: over-frequent lines removed EVERYWHERE, rest kept in place") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "cookie banner\nreal content one"),
      (2L, "cookie banner\nreal content two"),
      (3L, "cookie banner\nreal content one"), // "real content one" df=2 ≤ 2 kept
      (4L, "unique only")
    ).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, "doc_id", "text", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // "cookie banner" df=3 > 2 ⇒ stripped from ALL docs (incl. every copy)
    assert(out(1L) == ((1, 2, "real content one")))
    assert(out(2L) == ((1, 2, "real content two")))
    assert(out(3L) == ((1, 2, "real content one")))
    assert(out(4L) == ((1, 1, "unique only")))
  }

  test("removeDuplicateSpans: later copy removed whole, earliest intact; keepFirst=false removes both") {
    import graft.operators.Dedup
    import spark.implicits._
    // doc 1 and doc 2 share the 4-token span "p q r s"; doc 3 is clean
    val docs = Seq(
      (1L, "a b p q r s c d"),
      (2L, "x p q r s y z w"),
      (3L, "m n o t u v a b")
    ).toDF("doc_id", "text")
    val keepFirst = Dedup.removeDuplicateSpans(docs, "doc_id", "text", spanTokens = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(keepFirst(1L) == ((8, 8, "a b p q r s c d"))) // canonical copy untouched
    assert(keepFirst(2L) == ((8, 4, "x y z w")))         // span excised, rest in order
    assert(keepFirst(3L) == ((8, 8, "m n o t u v a b")))
    val removeAll = Dedup.removeDuplicateSpans(docs, "doc_id", "text",
        spanTokens = 4, keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(removeAll(1L) == "a b c d" && removeAll(2L) == "x y z w")
    // doc shorter than the span: untouched even if identical to a window
    val tiny = Dedup.removeDuplicateSpans(
        Seq((1L, "p q r"), (2L, "p q r")).toDF("doc_id", "text"),
        "doc_id", "text", spanTokens = 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(tiny(1L) == "p q r" && tiny(2L) == "p q r")
  }

  test("semanticDedup: within-cluster near-identicals collapse to min id; distinct vectors survive") {
    import graft.operators.Dedup
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.001f, 0.0f)), // ≈ dup of 1 ⇒ dropped
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.999f, 0.001f)), // ≈ dup of 3 ⇒ dropped
      (5L, Array(0.0f, 0.0f, 1.0f))      // alone in its neighborhood
    ).toDF("id", "vec")
    val cents = Seq((0, Array(1.0f, 0.0f, 0.0f)), (1, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "cv")
    val kept = Dedup.semanticDedup(vecs, "id", "vec", cents, 0.99)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
    // duplicates in DIFFERENT clusters are NOT compared (the SemDeDup
    // trade: candidate generation is the cluster) — both survive
    val crossCluster = Seq(
      (1L, Array(0.71f, 0.70f, 0.0f)),  // argmax → cluster 0 (tie broken by cid? no: sim differs)
      (2L, Array(0.70f, 0.71f, 0.0f))   // argmax → cluster 1
    ).toDF("id", "vec")
    val kept2 = Dedup.semanticDedup(crossCluster, "id", "vec", cents, 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L, 2L))
    // duplicate ids refuse loudly: a same-id pair never forms (id1 < id2),
    // so both copies would silently survive (review r11)
    val dupIds = Seq((1L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("id", "vec")
    val ex = intercept[IllegalArgumentException](
      Dedup.semanticDedup(dupIds, "id", "vec", cents, 0.9))
    assert(ex.getMessage.contains("unique 'id'"))
    // assumeUniqueIds skips the guard's extra aggregation (VERDICT r11
    // item 6) — on certified-unique input the answer is identical...
    val keptCertified = Dedup.semanticDedup(crossCluster, "id", "vec",
      cents, 0.9, assumeUniqueIds = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptCertified === kept2)
    // ...and on UNcertified duplicate input both copies silently survive —
    // the documented hazard that makes the hatch opt-in only
    assert(Dedup.semanticDedup(dupIds, "id", "vec", cents, 0.9,
      assumeUniqueIds = true).count() === 2L)
  }

  test("assignNearestCentroid: zero-exchange plan, window-form equivalence, ties, undefined cosines") {
    import graft.operators.Dedup
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // unsorted, non-contiguous cids: assignment must still tie-break to the
    // SMALLEST cid (the helper sorts driver-side before inlining)
    val cents = Seq((7, Array(0.0f, 1.0f, 0.0f)), (3, Array(1.0f, 0.0f, 0.0f)),
      (5, Array(0.0f, 0.0f, 1.0f))).toDF("cid", "cv")
    val rows = Seq(
      (1L, Array(0.9f, 0.1f, 0.0f)),   // clear nearest: cid 3
      (2L, Array(0.0f, 0.2f, 0.9f)),   // clear nearest: cid 5
      (3L, Array(1.0f, 1.0f, 0.0f)),   // exact tie 3 vs 7 ⇒ smallest cid 3
      (4L, Array(0.0f, 0.0f, 0.0f)),   // zero norm: every cosine undefined ⇒ cid 3
      (5L, Array(-1.0f, -1.0f, -1.0f)) // all sims negative: still a winner
    ).toDF("id", "vec")
    val assigned = Dedup.assignNearestCentroid(rows, "vec", cents)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"assignment must not window:\n$plan")
    // bit-identical decisions vs the retired crossJoin+window formulation
    val w = Window.partitionBy(col("id")).orderBy(col("_csim").desc, col("cid"))
    val reference = rows.crossJoin(broadcast(cents))
      .withColumn("_csim", VectorFunctions.cosine(col("vec"), col("cv")))
      .withColumn("_r", row_number().over(w))
      .where(col("_r") === 1)
      .select(col("id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = assigned.select("id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == reference, s"got $got, window form says $reference")
    assert(got(3L) == 3 && got(4L) == 3)
    // guards: empty centroid set and mixed dimensions fail loudly
    intercept[IllegalArgumentException](
      Dedup.assignNearestCentroid(rows, "vec", cents.where(lit(false))))
    val badDims = Seq((0, Array(1.0f, 0.0f)), (1, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "cv")
    intercept[IllegalArgumentException](
      Dedup.assignNearestCentroid(rows, "vec", badDims))
    val dupCids = Seq((3, Array(1.0f, 0.0f, 0.0f)), (3, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "cv")
    intercept[IllegalArgumentException](
      Dedup.assignNearestCentroid(rows, "vec", dupCids))
    // a NULL centroid vector fails with the module's descriptive require,
    // not an opaque NPE (ADVICE r11)
    val nullCv = Seq((3, Option(Array(1.0f, 0.0f, 0.0f))), (5, None))
      .toDF("cid", "cv")
    val exNull = intercept[IllegalArgumentException](
      Dedup.assignNearestCentroid(rows, "vec", nullCv))
    assert(exNull.getMessage.contains("NULL centroid vector"))
  }

  test("semanticDedup: mega-cluster is capped — bounded cells, exact collapse, loud failure") {
    import graft.operators.Dedup
    import spark.implicits._
    // degenerate mega-cluster: 60 byte-identical copies of u (ids 0–59),
    // 60 of v (ids 100–159), u·v below threshold, ONE centroid — without
    // the cap this is a single 120²-pair task; with it the identical-vector
    // collapse resolves both groups exactly
    val u = Array(1.0f, 0.0f, 0.0f)
    val v = Array(0.0f, 1.0f, 0.0f)
    val rows = ((0L until 60L).map(i => (i, u)) ++
      (100L until 160L).map(i => (i, v))).toDF("id", "vec")
    val cents = Seq((0, Array(0.7f, 0.7f, 0.0f))).toDF("cid", "cv")
    val kept = Dedup.semanticDedup(rows, "id", "vec", cents, 0.9,
        maxClusterSize = 8, maxSplitDepth = 16)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 100L), s"collapse must keep exactly the min ids, got $kept")
    // capClusterSizes invariant: every settled cell is within the cap
    val assigned = rows.select(col("id"), lit(0).as("cid"), col("vec"))
    val (settled, exactPairs, handles) =
      Dedup.capClusterSizes(assigned, "id", "vec", maxClusterSize = 8, maxSplitDepth = 16)
    val worst = settled.groupBy(col("cid"), col("_sub")).count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(worst <= 8, s"a settled cell still holds $worst rows")
    assert(exactPairs.count() == 118, "59 + 59 collapse pairs expected")
    handles.foreach(_.unpersist(false))
    // zero vectors can never pair (cosine NULL) — they settle as inert
    // singletons and all survive, never tripping the depth limit
    val zeros = (0L until 30L).map(i => (i, Array(0.0f, 0.0f, 0.0f))).toDF("id", "vec")
    val keptZ = Dedup.semanticDedup(zeros, "id", "vec", cents, 0.9,
        maxClusterSize = 4, maxSplitDepth = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptZ == (0L until 30L).toSet)
    // DISTINCT near-identical vectors that cannot reach the cap within the
    // depth budget fail LOUDLY instead of running a quadratic task
    val crowded = (0L until 32L).map { i =>
      (i, Array(1.0f, i.toFloat * 1e-6f, 0.0f))
    }.toDF("id", "vec")
    val ex = intercept[IllegalStateException](
      Dedup.semanticDedup(crowded, "id", "vec", cents, 0.99,
        maxClusterSize = 2, maxSplitDepth = 1).collect())
    assert(ex.getMessage.contains("maxClusterSize"))
    // two well-separated blobs inside one oversized cell: bisection must
    // separate them and keep-min-id within each blob
    val blobs = ((0L until 12L).map(i => (i, Array(1.0f, 1e-4f * i, 0.0f))) ++
      (100L until 112L).map(i => (i, Array(0.0f, 1e-4f * (i - 100), 1.0f)))).toDF("id", "vec")
    val keptB = Dedup.semanticDedup(blobs, "id", "vec", cents, 0.999,
        maxClusterSize = 16, maxSplitDepth = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptB == Set(0L, 100L), s"one survivor per blob expected, got $keptB")
  }

  test("capClusterSizes: colinear (exactly-equidistant) cells still converge") {
    import graft.operators.Dedup
    import spark.implicits._
    // distinct positive power-of-two multiples of one axis vector: every
    // pairwise cosine is EXACTLY 1.0f, so every row is exactly equidistant
    // from both bisection poles at every level — only the hash-parity
    // tie-break can make progress. The depth-seeded parity gives each level
    // an independent bit; a constant parity would re-split on the same bit
    // forever and spuriously exhaust maxSplitDepth.
    val colinear = (0L until 16L).map { k =>
      (k, Array(math.pow(2.0, k.toDouble).toFloat, 0.0f, 0.0f))
    }.toDF("id", "vec")
    // a constant parity re-splits on the same bit: after level 0 every cell
    // is parity-pure, no later level makes progress, and this THROWS depth
    // exhaustion. Depth-seeded parity must instead settle every cell ≤ cap.
    val assigned = colinear.select(col("id"), lit(0).as("cid"), col("vec"))
    val (settled, exactPairs, handles) =
      Dedup.capClusterSizes(assigned, "id", "vec", maxClusterSize = 2, maxSplitDepth = 16)
    val worst = settled.groupBy(col("cid"), col("_sub")).count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(worst <= 2, s"a settled cell still holds $worst rows")
    assert(settled.count() === 16L, "every row settles (distinct values: no collapse)")
    assert(exactPairs.count() === 0L)
    handles.foreach(_.unpersist(false))
  }

  test("jaccardJoinPrefix: empty input (no non-empty shingle sets) returns empty") {
    import spark.implicits._
    val df = Seq((1L, Seq.empty[String]), (2L, Seq.empty[String])).toDF("id", "sh")
    val out = graft.operators.Dedup.jaccardJoinPrefix(df, "id", "sh", 500000L)
    assert(out.count() === 0L)
  }

  test("hammingNearDupPairs ≡ brute force on random hashes; exact for t < numBands; guards") {
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    // random base hashes + planted near-dups at controlled distances
    val base = (0L until 120L).map(i => (i, rnd.nextLong()))
    val planted = base.take(30).zipWithIndex.map { case ((id, h), k) =>
      val flips = k % 4 // 0..3 bit flips — all within t = 3
      val mutated = (0 until flips).foldLeft(h)((acc, f) =>
        acc ^ (1L << ((k * 17 + f * 23) % 64)))
      (id + 1000L, mutated)
    }
    val all = base ++ planted
    for (t <- Seq(0, 2, 3); bands <- Seq(4, 8)) {
      val got = Dedup.hammingNearDupPairs(all.toDF("id", "h"), "id", "h",
          maxHamming = t, numBands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (i1, h1) <- all; (i2, h2) <- all if i1 < i2
        d = java.lang.Long.bitCount(h1 ^ h2) if d <= t
      } yield (i1, i2, d.toLong)).toSet
      assert(got === want, s"t=$t bands=$bands")
    }
    // partitioning-stability
    val a = Dedup.hammingNearDupPairs(all.toDF("id", "h"), "id", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.hammingNearDupPairs(all.toDF("id", "h").repartition(17), "id", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    // t ≥ numBands would silently lose recall — refused
    intercept[IllegalArgumentException](
      Dedup.hammingNearDupPairs(all.toDF("id", "h"), "id", "h",
        maxHamming = 4, numBands = 4))
    intercept[IllegalArgumentException](
      Dedup.hammingNearDupPairs(all.toDF("id", "h"), "id", "h", numBands = 7))
  }

  test("sequenceVoteNearDupPairs ≡ brute force; splice/truncation semantics; guards") {
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    // base sequences of varying length; planted: identical copies, copies
    // with a few frames nudged ≤ t bits, truncated copies, and splices
    // sharing only frame 0 — the full semantic surface
    val base: Seq[(Long, Seq[Long])] =
      (0L until 30L).map(i => (i, Seq.fill(4 + (i % 3).toInt)(rnd.nextLong())))
    val planted: Seq[(Long, Seq[Long])] = base.take(12).zipWithIndex.map {
      case ((id, hs), k) =>
        val mutated = k % 4 match {
          case 0 => hs // identical
          case 1 => hs.zipWithIndex.map { case (h, f) => // ≤3-bit nudges
            if (f % 2 == 0) h ^ (1L << ((k * 13 + f) % 64)) else h }
          case 2 => hs.take(hs.length - 1) // truncated by one frame
          case _ => hs.head +: hs.tail.map(_ => rnd.nextLong()) // splice
        }
        (id + 1000L, mutated)
    }
    val all = base ++ planted
    val rows = all.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
    def brute(t: Int, frac: Double): Set[(Long, Long, Long, Long)] =
      (for {
        (i1, h1) <- all; (i2, h2) <- all if i1 < i2
        matched = h1.zip(h2).count { case (x, y) => java.lang.Long.bitCount(x ^ y) <= t }
        total = math.max(h1.length, h2.length)
        if matched.toDouble / total >= frac
      } yield (i1, i2, matched.toLong, total.toLong)).toSet
    for (t <- Seq(0, 3); bands <- Seq(4, 8); frac <- Seq(0.5, 0.8, 1.0)) {
      val got = Dedup.sequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
          "id", "f", "h", maxHamming = t, numBands = bands, minVoteFrac = frac)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === brute(t, frac), s"t=$t bands=$bands frac=$frac")
    }
    // partitioning-stability
    val a = Dedup.sequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
      "id", "f", "h").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.sequenceVoteNearDupPairs(rows.toDF("id", "f", "h").repartition(13),
      "id", "f", "h").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    // guards: losslessness preconditions + the quadratic-bucket refusal
    intercept[IllegalArgumentException](Dedup.sequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h"), "id", "f", "h", maxHamming = 4, numBands = 4))
    intercept[IllegalArgumentException](Dedup.sequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h"), "id", "f", "h", minVoteFrac = 0.0))
    val constantFrame = (0L until 50L).map(i => (i, 0, 0L)) // black intro corpus-wide
    intercept[IllegalArgumentException](Dedup.sequenceVoteNearDupPairs(
      constantFrame.toDF("id", "f", "h"), "id", "f", "h", maxBandBucket = 10L))
  }

  test("shiftedSequenceVoteNearDupPairs ≡ brute force over offsets; trim/pad caught; guards") {
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val maxShift = 3
    // base sequences; planted: identical, intro-trimmed (≤ maxShift),
    // junk-padded heads, nudged-and-trimmed, and shifted splices sharing
    // one frame at a nonzero offset
    val base: Seq[(Long, Seq[Long])] =
      (0L until 24L).map(i => (i, Seq.fill(6 + (i % 3).toInt)(rnd.nextLong())))
    val planted: Seq[(Long, Seq[Long])] = base.take(15).zipWithIndex.map {
      case ((id, hs), k) =>
        val mutated = k % 5 match {
          case 0 => hs                                   // identical, offset 0
          case 1 => hs.drop(1 + k % maxShift)            // intro trim
          case 2 => Seq.fill(2)(rnd.nextLong()) ++ hs    // junk-padded head
          case 3 => hs.drop(2).zipWithIndex.map { case (h, f) => // trim + ≤3-bit nudge
            if (f % 2 == 0) h ^ (1L << ((k * 11 + f) % 64)) else h }
          case _ => rnd.nextLong() +: hs(3) +: Seq.fill(4)(rnd.nextLong()) // shifted splice
        }
        (id + 1000L, mutated)
    }
    val all = base ++ planted
    val rows = all.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
    def brute(t: Int, frac: Double): Set[(Long, Long, Int, Long, Long)] = {
      val thrPpm = math.floor(frac * 1e6).toLong
      (for {
        (i1, h1) <- all; (i2, h2) <- all if i1 < i2
        votes = (-maxShift to maxShift).map { d =>
          val m = h1.indices.count { f =>
            val f2 = f + d
            f2 >= 0 && f2 < h2.length &&
              java.lang.Long.bitCount(h1(f) ^ h2(f2)) <= t
          }
          (d, m.toLong)
        }
        total = math.max(h1.length, h2.length).toLong
        qualifying = votes.filter { case (_, m) => m * 1000000L >= total * thrPpm }
        if qualifying.nonEmpty
        best = qualifying.minBy { case (d, m) => (-m, math.abs(d), d) }
      } yield (i1, i2, best._1, best._2, total)).toSet
    }
    for (t <- Seq(0, 3); frac <- Seq(0.5, 0.7)) {
      val got = Dedup.shiftedSequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
          "id", "f", "h", maxHamming = t, numBands = 4, minVoteFrac = frac,
          maxShift = maxShift)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got === brute(t, frac), s"t=$t frac=$frac")
    }
    // maxShift=0 degenerates to the aligned variant's pair set
    val aligned = Dedup.sequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
      "id", "f", "h", maxHamming = 3, numBands = 4, minVoteFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val shifted0 = Dedup.shiftedSequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
      "id", "f", "h", maxHamming = 3, numBands = 4, minVoteFrac = 0.5,
      maxShift = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(shifted0 === aligned)
    // partitioning-stability
    val a = Dedup.shiftedSequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
      "id", "f", "h", minVoteFrac = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = Dedup.shiftedSequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h").repartition(13),
      "id", "f", "h", minVoteFrac = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a === b)
    // guards
    intercept[IllegalArgumentException](Dedup.shiftedSequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h"), "id", "f", "h", maxHamming = 4, numBands = 4))
    intercept[IllegalArgumentException](Dedup.shiftedSequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h"), "id", "f", "h", maxShift = -1))
    val constantFrame = (0L until 50L).map(i => (i, 0, 0L))
    intercept[IllegalArgumentException](Dedup.shiftedSequenceVoteNearDupPairs(
      constantFrame.toDF("id", "f", "h"), "id", "f", "h", maxBandBucket = 10L))
  }

  test("speedSequenceVoteNearDupPairs ≡ brute force over hypotheses; rate change caught; guards") {
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    val maxShift = 2
    val maxStride = 3
    // base sequences; planted: identical restage, half-rate (even frames),
    // half-rate odd phase, third-rate, half-rate with a trimmed head, and
    // a nudged half-rate — the rate-change families the shifted vote misses
    val base: Seq[(Long, Seq[Long])] =
      (0L until 18L).map(i => (i, Seq.fill(8 + (i % 3).toInt)(rnd.nextLong())))
    val planted: Seq[(Long, Seq[Long])] = base.take(12).zipWithIndex.map {
      case ((id, hs), k) =>
        val mutated = k % 6 match {
          case 0 => hs                                            // identical
          case 1 => hs.indices.collect { case f if f % 2 == 0 => hs(f) } // half-rate
          case 2 => hs.indices.collect { case f if f % 2 == 1 => hs(f) } // odd phase
          case 3 => hs.indices.collect { case f if f % 3 == 0 => hs(f) } // third-rate
          case 4 => hs.indices.collect { case f if f % 2 == 0 => hs(f) }.drop(1)
          case _ => hs.indices.collect { case f if f % 2 == 0 =>          // ≤3-bit nudge
            if (f % 4 == 0) hs(f) ^ (1L << ((k * 13 + f) % 64)) else hs(f) }
        }
        (id + 1000L, mutated.toSeq)
    }
    val all = base ++ planted
    val rows = all.flatMap { case (id, hs) =>
      hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
    // brute force over the full hypothesis space: (slow side A, fast side
    // B, stride s, phase r, offset d) — A's (s, r) arithmetic subsequence
    // vs B at constant decimated-index offset d; stride-1 hypotheses only
    // from the smaller id's side (the operator's emit-once rule)
    def brute(t: Int, frac: Double)
        : Set[(Long, Long, Int, Int, Int, Int, Long, Long)] = {
      val thrPpm = math.floor(frac * 1e6).toLong
      (for {
        (x, hx) <- all; (y, hy) <- all if x < y
        hyps = for {
          s <- 1 to maxStride; r <- 0 until s
          (a, ha, b, hb, decimated) <- if (s == 1)
            Seq((y, hy, x, hx, 0)) // B = smaller id, A = larger
          else Seq((x, hx, y, hy, 1), (y, hy, x, hx, 2))
          d <- -maxShift to maxShift
          aDec = ha.indices.collect { case f if f % s == r => ha(f) }
          votes = hb.indices.count { f =>
            val j = f + d
            j >= 0 && j < aDec.length &&
              java.lang.Long.bitCount(hb(f) ^ aDec(j)) <= t
          }
          total = math.max(hb.length, aDec.length).toLong
          if votes * 1000000L >= total * thrPpm
        } yield (s, r, decimated, d, votes.toLong, total)
        if hyps.nonEmpty
        best = hyps.minBy { case (s, r, dec, d, v, _) =>
          (-v, s, math.abs(d), d, dec, r) }
      } yield (x, y, best._1, best._2, best._3, best._4, best._5, best._6)).toSet
    }
    for (t <- Seq(0, 3); frac <- Seq(0.5, 0.7)) {
      val got = Dedup.speedSequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
          "id", "f", "h", maxHamming = t, numBands = 4, minVoteFrac = frac,
          maxShift = maxShift, maxStride = maxStride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7)))
        .toSet
      assert(got === brute(t, frac), s"t=$t frac=$frac")
    }
    // maxStride=1 degenerates to the shifted variant's result exactly
    val shifted = Dedup.shiftedSequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
      "id", "f", "h", maxHamming = 3, numBands = 4, minVoteFrac = 0.5,
      maxShift = maxShift)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    val speed1 = Dedup.speedSequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
      "id", "f", "h", maxHamming = 3, numBands = 4, minVoteFrac = 0.5,
      maxShift = maxShift, maxStride = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(5),
        r.getLong(6), r.getLong(7))).toSet
    assert(speed1 === shifted)
    // partitioning-stability
    val a = Dedup.speedSequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
      "id", "f", "h", minVoteFrac = 0.5, maxShift = maxShift).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(5))).toSet
    val b = Dedup.speedSequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h").repartition(13),
      "id", "f", "h", minVoteFrac = 0.5, maxShift = maxShift).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(5))).toSet
    assert(a === b)
    // guards
    intercept[IllegalArgumentException](Dedup.speedSequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h"), "id", "f", "h", maxStride = 0))
    intercept[IllegalArgumentException](Dedup.speedSequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h"), "id", "f", "h", maxStride = 17))
    intercept[IllegalArgumentException](Dedup.speedSequenceVoteNearDupPairs(
      rows.toDF("id", "f", "h"), "id", "f", "h", maxHamming = 4, numBands = 4))
    intercept[IllegalArgumentException](Dedup.speedSequenceVoteNearDupPairs(
      Seq((1L, -1, 0L)).toDF("id", "f", "h"), "id", "f", "h"))
    val constantFrame = (0L until 50L).map(i => (i, 0, 0L))
    intercept[IllegalArgumentException](Dedup.speedSequenceVoteNearDupPairs(
      constantFrame.toDF("id", "f", "h"), "id", "f", "h", maxBandBucket = 10L))
  }

  test("croppedGridVoteNearDupPairs ≡ brute force over 2-D offsets; crop/pad caught; guards") {
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(13131)
    val (sx, sy) = (2, 2) // operator window
    // base grids (4×3, some 3×3); planted: identical, corner-cropped,
    // padded (grid shifted +1,+1), cropped-and-nudged, and a 2-D splice
    // sharing ONE tile at a nonzero offset
    def grid(w: Int, h: Int): Map[(Int, Int), Long] =
      (for { x <- 0 until w; y <- 0 until h } yield ((x, y), rnd.nextLong())).toMap
    val base: Seq[(Long, Map[(Int, Int), Long])] =
      (0L until 20L).map(i => (i, grid(4 - (i % 2).toInt, 3)))
    val planted: Seq[(Long, Map[(Int, Int), Long])] =
      base.take(15).zipWithIndex.map { case ((id, g), k) =>
        val mutated: Map[(Int, Int), Long] = k % 5 match {
          case 0 => g // identical, offset (0,0)
          case 1 => // crop the first tile column and row: offset (-1,-1)
            g.collect { case ((x, y), h) if x >= 1 && y >= 1 => ((x - 1, y - 1), h) }
          case 2 => // pad one tile of junk on the left and top: offset (+1,+1)
            g.map { case ((x, y), h) => ((x + 1, y + 1), h) } ++
              Map((0, 0) -> rnd.nextLong(), (0, 1) -> rnd.nextLong())
          case 3 => // crop + ≤3-bit nudge on half the tiles
            g.collect { case ((x, y), h) if x >= 1 =>
              ((x - 1, y), if ((x + y) % 2 == 0) h ^ (1L << ((k * 7 + x) % 64)) else h) }
          case _ => // splice: one tile of g at (0,0), junk elsewhere
            Map((0, 0) -> g((2, 1))) ++
              (for { x <- 0 until 4; y <- 0 until 3; if (x, y) != ((0, 0)) }
                yield ((x, y), rnd.nextLong()))
        }
        (id + 1000L, mutated)
      }
    val all = base ++ planted
    val rows = all.flatMap { case (id, g) =>
      g.map { case ((x, y), h) => (id, x, y, h) } }
    def brute(t: Int, frac: Double): Set[(Long, Long, Int, Int, Long, Long)] = {
      val thrPpm = math.floor(frac * 1e6).toLong
      val k = 1 << 16
      (for {
        (i1, g1) <- all; (i2, g2) <- all if i1 < i2
        votes = (for { dx <- -sx to sx; dy <- -sy to sy } yield {
          val m = g1.count { case ((x, y), h) =>
            g2.get((x + dx, y + dy))
              .exists(h2 => java.lang.Long.bitCount(h ^ h2) <= t)
          }
          ((dx, dy), m.toLong)
        })
        total = math.max(g1.size, g2.size).toLong
        qualifying = votes.filter { case (_, m) => m * 1000000L >= total * thrPpm }
        if qualifying.nonEmpty
        // the operator breaks best-offset ties on the LINEARIZED code
        best = qualifying.minBy { case ((dx, dy), m) =>
          (-m, math.abs(dx.toLong * k + dy), dx.toLong * k + dy) }
      } yield (i1, i2, best._1._1, best._1._2, best._2, total)).toSet
    }
    for (t <- Seq(0, 3); frac <- Seq(0.5, 0.7)) {
      val got = Dedup.croppedGridVoteNearDupPairs(rows.toDF("id", "x", "y", "h"),
          "id", "x", "y", "h", maxHamming = t, numBands = 4, minVoteFrac = frac,
          maxShiftX = sx, maxShiftY = sy)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3), r.getLong(4), r.getLong(5))).toSet
      assert(got === brute(t, frac), s"t=$t frac=$frac")
    }
    // window (0,0) degenerates to the ALIGNED sequence vote on the
    // linearized tile index — the same equivalence the 1-D variant pins
    val linear = rows.map { case (id, x, y, h) => (id, x * (1 << 16) + y, h) }
    val aligned = Dedup.sequenceVoteNearDupPairs(linear.toDF("id", "f", "h"),
        "id", "f", "h", maxHamming = 3, numBands = 4, minVoteFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val grid0 = Dedup.croppedGridVoteNearDupPairs(rows.toDF("id", "x", "y", "h"),
        "id", "x", "y", "h", maxHamming = 3, numBands = 4, minVoteFrac = 0.5,
        maxShiftX = 0, maxShiftY = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(grid0 === aligned)
    // partitioning-stability
    val a = Dedup.croppedGridVoteNearDupPairs(rows.toDF("id", "x", "y", "h"),
      "id", "x", "y", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val b = Dedup.croppedGridVoteNearDupPairs(
      rows.toDF("id", "x", "y", "h").repartition(13),
      "id", "x", "y", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(a === b)
    // guards: pigeonhole, window, quadratic bucket, coordinate domain
    intercept[IllegalArgumentException](Dedup.croppedGridVoteNearDupPairs(
      rows.toDF("id", "x", "y", "h"), "id", "x", "y", "h",
      maxHamming = 4, numBands = 4))
    intercept[IllegalArgumentException](Dedup.croppedGridVoteNearDupPairs(
      rows.toDF("id", "x", "y", "h"), "id", "x", "y", "h", maxShiftX = -1))
    val constantTile = (0L until 50L).map(i => (i, 0, 0, 0L))
    intercept[IllegalArgumentException](Dedup.croppedGridVoteNearDupPairs(
      constantTile.toDF("id", "x", "y", "h"), "id", "x", "y", "h",
      maxBandBucket = 10L))
    val negCoord = Seq((1L, -1, 0, 5L), (2L, 0, 0, 5L))
    intercept[IllegalArgumentException](Dedup.croppedGridVoteNearDupPairs(
      negCoord.toDF("id", "x", "y", "h"), "id", "x", "y", "h"))
    val hugeY = Seq((1L, 0, (1 << 16) - 1, 5L), (2L, 0, 0, 5L))
    intercept[IllegalArgumentException](Dedup.croppedGridVoteNearDupPairs(
      hugeY.toDF("id", "x", "y", "h"), "id", "x", "y", "h", maxShiftY = 1))
  }

  test("hammingContaminationPairs ≡ brute force; broadcast eval; guards") {
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(2024)
    val corpus = (0L until 200L).map(i => (i, rnd.nextLong()))
    // eval: 8 nudged copies of corpus hashes (≤3 bits), 2 exact, 5 unrelated
    val eval = (0 until 8).map { k =>
      (500L + k, corpus(k * 11)._2 ^ ((1L << (k * 7 % 64)) |
        (if (k % 2 == 0) 1L << ((k * 13 + 31) % 64) else 0L))) } ++
      (0 until 2).map(k => (520L + k, corpus(100 + k)._2)) ++
      (0 until 5).map(k => (530L + k, rnd.nextLong()))
    def brute(t: Int): Set[(Long, Long, Long)] =
      (for {
        (ci, ch) <- corpus; (ei, eh) <- eval
        d = java.lang.Long.bitCount(ch ^ eh) if d <= t
      } yield (ci, ei, d.toLong)).toSet
    for (t <- Seq(0, 2, 3); bands <- Seq(4, 8)) {
      val got = Dedup.hammingContaminationPairs(
          corpus.toDF("id", "h"), "id", "h",
          eval.toDF("eid", "eh"), "eid", "eh", maxHamming = t, numBands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === brute(t), s"t=$t bands=$bands")
    }
    // the eval side broadcasts (the 100 TB posture: benchmark sets are small)
    val plan = Dedup.hammingContaminationPairs(
      corpus.toDF("id", "h"), "id", "h",
      eval.toDF("eid", "eh"), "eid", "eh").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"eval side must broadcast:\n$plan")
    intercept[IllegalArgumentException](Dedup.hammingContaminationPairs(
      corpus.toDF("id", "h"), "id", "h",
      eval.toDF("eid", "eh"), "eid", "eh", maxHamming = 4, numBands = 4))
  }

  test("incrementalSequenceNearDups: history pairing, replay idempotence, foreign refusal") {
    import graft.operators.{Dedup, CheckpointStrategy}
    import spark.implicits._
    val rnd = new scala.util.Random(987)
    val store = java.nio.file.Files.createTempDirectory("seqstore").toString
    def rows(seqs: Seq[(Long, Seq[Long])]): org.apache.spark.sql.DataFrame =
      seqs.flatMap { case (id, hs) =>
        hs.zipWithIndex.map { case (h, f) => (id, f, h) } }.toDF("id", "f", "h")
    val baseSeqs: Seq[(Long, Seq[Long])] =
      (0L until 10L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    // batch 1: ten originals + one internal trimmed dup of id 0
    val batch1 = baseSeqs :+ (100L, baseSeqs(0)._2.drop(2))
    def run(b: Seq[(Long, Seq[Long])]) =
      Dedup.incrementalSequenceNearDups(rows(b), "id", "f", "h", store,
          minVoteFrac = 0.7, maxShift = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(run(batch1) === Set((0L, 100L, -2, 6L, 8L)))
    val storeRows1 = spark.read.parquet(s"$store/sigs").count()
    assert(storeRows1 == 10 * 8 + 6)
    // batch 2: a restage of history id 1 (offset 0), a junk-padded head of
    // history id 2 (offset +2), one fresh clip and ITS trimmed dup —
    // history pairs surface WITHOUT re-pairing history against itself
    val freshClip = (202L, Seq.fill(8)(rnd.nextLong()))
    val batch2 = Seq(
      (200L, baseSeqs(1)._2),
      (201L, Seq.fill(2)(rnd.nextLong()) ++ baseSeqs(2)._2),
      freshClip,
      (203L, freshClip._2.drop(2)))
    assert(run(batch2) === Set(
      (1L, 200L, 0, 8L, 8L),
      (2L, 201L, 2, 8L, 10L),
      (202L, 203L, -2, 6L, 8L)))
    // replay after a successful fold: ids anti-join out — no duplicate
    // pairs, nothing folded twice
    assert(run(batch2) === Set.empty)
    assert(spark.read.parquet(s"$store/sigs").count() ==
      storeRows1 + 8 + 10 + 8 + 6)
    // crash-recovery classification: a visibly-foreign directory refuses
    val foreign = java.nio.file.Files.createTempDirectory("seqforeign")
    java.nio.file.Files.createDirectories(foreign.resolve("sigs"))
    java.nio.file.Files.writeString(foreign.resolve("sigs/notes.txt"), "x")
    intercept[IllegalArgumentException](
      Dedup.incrementalSequenceNearDups(rows(batch1), "id", "f", "h",
        foreign.toString))
    // compaction: two appended file-sets rewrite into targetFiles sorted
    // files; row parity verified; replay idempotence and fresh pairing
    // behave identically against the compacted store
    val compacted = java.nio.file.Files.createTempDirectory("seqcompact").toString
    val nRows = Dedup.compactSequenceStore(spark, store, compacted, targetFiles = 2)
    assert(nRows == spark.read.parquet(s"$store/sigs").count())
    val dataFiles = new java.io.File(s"$compacted/sigs").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles <= 2, s"expected ≤ 2 compacted files, got $dataFiles")
    def runAgainst(st: String, b: Seq[(Long, Seq[Long])]) =
      Dedup.incrementalSequenceNearDups(rows(b), "id", "f", "h", st,
          minVoteFrac = 0.7, maxShift = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(runAgainst(compacted, batch2) === Set.empty) // replay still no-op
    val batch3 = Seq((300L, baseSeqs(3)._2.drop(1))) // trimmed dup of history id 3
    assert(runAgainst(compacted, batch3) === Set((3L, 300L, -1)))
    // in-place compaction and non-store sources refuse
    intercept[IllegalArgumentException](
      Dedup.compactSequenceStore(spark, compacted, compacted))
    intercept[IllegalArgumentException](
      Dedup.compactSequenceStore(spark,
        java.nio.file.Files.createTempDirectory("seqempty").toString,
        java.nio.file.Files.createTempDirectory("seqdst").toString))
  }

  test("compactSequencePairs: closed epochs fold to one bounded subdir, live epochs untouched") {
    import graft.operators.Dedup
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pairscomp")
    val store = root.resolve("store").toString
    val dst = root.resolve("dst").toString
    def epochRows(b: Int) =
      (0 until 10).map(i => (b * 100L + i, b * 100L + i + 50, -2)).toDF("id1", "id2", "off")
    // six streamed epochs, one subdir each (the sink's layout)
    for (b <- 0 to 5)
      epochRows(b).write.mode("overwrite").parquet(s"$store/pairs/batch_id=$b")
    val n = Dedup.compactSequencePairs(spark, store, dst, upToBatchId = 3L,
      targetFiles = 2)
    assert(n === 60L)
    val out = spark.read.parquet(s"$dst/pairs")
    // pair-content parity (batch_id provenance coarsens to the boundary)
    def content(df: org.apache.spark.sql.DataFrame) = df
      .select("id1", "id2", "off").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(content(out) === content(spark.read.parquet(s"$store/pairs")))
    val byBatch = out.groupBy(col("batch_id").cast("long").as("b")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBatch === Map(3L -> 40L, 4L -> 10L, 5L -> 10L))
    // bounded file count in the folded subdir
    val folded = new java.io.File(s"$dst/pairs/batch_id=3").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(folded <= 2, s"expected ≤ 2 folded files, got $folded")
    // a still-replayable live epoch overwrites its own subdir on the
    // compacted store exactly as before — idempotent, parity intact
    epochRows(5).write.mode("overwrite").parquet(s"$dst/pairs/batch_id=5")
    assert(spark.read.parquet(s"$dst/pairs").count() === 60L)
    // guards: in-place, empty and non-store sources refuse
    intercept[IllegalArgumentException](
      Dedup.compactSequencePairs(spark, dst, dst, 3L))
    intercept[IllegalArgumentException](
      Dedup.compactSequencePairs(spark,
        java.nio.file.Files.createTempDirectory("pairsempty").toString,
        java.nio.file.Files.createTempDirectory("pairsdst").toString, 3L))
  }

  test("maintainSequenceStore: healthy catalog no-ops; past-budget tick compacts sigs + closed pairs epochs and publishes; folds and replays survive the swap") {
    import graft.operators.Dedup
    import graft.sources.Generations
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rnd = new scala.util.Random(654)
    def rows(seqs: Seq[(Long, Seq[Long])]): org.apache.spark.sql.DataFrame =
      seqs.flatMap { case (id, hs) =>
        hs.zipWithIndex.map { case (h, f) => (id, f, h) } }.toDF("id", "f", "h")
    val baseSeqs: Seq[(Long, Seq[Long])] =
      (0L until 6L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    val root = java.nio.file.Files.createTempDirectory("seqpol").toString
    def fold(b: Seq[(Long, Seq[Long])], store: String, epoch: Long) =
      Dedup.incrementalSequenceNearDups(rows(b), "id", "f", "h", store,
          minVoteFrac = 0.7, maxShift = 3,
          onPairs = out => {
            out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$store/pairs/batch_id=$epoch")
            ()
          })
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val g0 = Generations.stage(root, conf)
    assert(fold(baseSeqs, g0, 0L) === Set.empty)
    Generations.publish(root, g0, conf)
    // epoch 1 into the live generation: a trimmed dup of history id 1
    val batch2 = Seq((200L, baseSeqs(1)._2.drop(2)))
    assert(fold(batch2, Generations.resolve(root, conf), 1L) ===
      Set((1L, 200L, -2)))
    val pairsBefore = spark.read
      .parquet(s"${Generations.resolve(root, conf)}/pairs")
      .select("id1", "id2", "frame_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // healthy at the current footprint: nothing staged, the pointer stays
    val files = graft.operators.Search.dataFileCount(spark,
      s"${Generations.resolve(root, conf)}/sigs")
    assert(files >= 2, "two folds must leave at least two sigs file-sets")
    assert(Dedup.maintainSequenceStore(spark, root, committedBatchId = 1L,
      maxSigFiles = files, targetFiles = 1).isEmpty)
    assert(Generations.history(root, conf) == Seq("gen-0"))
    // past budget: BOTH legs compact into gen-1 and the pointer swings
    assert(Dedup.maintainSequenceStore(spark, root, committedBatchId = 1L,
      maxSigFiles = 1, targetFiles = 1).contains("gen-1"))
    assert(Generations.resolve(root, conf).endsWith("gen-1"))
    // the next tick reads healthy (compaction honored its file budget)
    assert(Dedup.maintainSequenceStore(spark, root, committedBatchId = 1L,
      maxSigFiles = 1, targetFiles = 1).isEmpty)
    // pairs content parity through the swap (epochs folded to one subdir)
    val live = Generations.resolve(root, conf)
    val pairsAfter = spark.read.parquet(s"$live/pairs")
      .select("id1", "id2", "frame_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairsAfter === pairsBefore)
    // replay of epoch 1 no-ops against the compacted sigs (content-keyed)
    assert(Dedup.incrementalSequenceNearDups(rows(batch2), "id", "f", "h",
      live, minVoteFrac = 0.7, maxShift = 3).isEmpty)
    // a fresh fold into the NEW live generation cross-batch-probes the
    // carried history
    val batch3 = Seq((300L, baseSeqs(3)._2.drop(1)))
    assert(Dedup.incrementalSequenceNearDups(rows(batch3), "id", "f", "h",
        live, minVoteFrac = 0.7, maxShift = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      Set((3L, 300L, -1)))
    // vacuum stays separate; the live generation keeps serving
    assert(Generations.vacuum(root, keep = 0, conf) == Seq("gen-0"))
    assert(spark.read.parquet(s"$live/sigs").count() > 0)
    // a budget below the compaction target refuses (self-thrash)
    intercept[IllegalArgumentException](Dedup.maintainSequenceStore(spark,
      root, committedBatchId = 1L, maxSigFiles = 1, targetFiles = 2))
  }

  test("maintainSequenceStore: a zero-row pairs store (empty epoch subdirs) is skipped, not a permanent wedge (ADVICE r16)") {
    // a dedup stream that has found no duplicates yet still lands one
    // EMPTY pairs epoch subdir per micro-batch (the sink's durability
    // marker); empty parquet classifies as Data, so the pre-fix policy
    // handed compactSequencePairs an empty source and its n>0 require
    // aborted EVERY tick past the sigs budget — the fragmentation the
    // policy exists to bound grew forever
    import graft.operators.Dedup
    import graft.sources.Generations
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rnd = new scala.util.Random(991)
    def rows(seqs: Seq[(Long, Seq[Long])]): org.apache.spark.sql.DataFrame =
      seqs.flatMap { case (id, hs) =>
        hs.zipWithIndex.map { case (h, f) => (id, f, h) } }.toDF("id", "f", "h")
    val root = java.nio.file.Files.createTempDirectory("seqpolempty").toString
    def fold(b: Seq[(Long, Seq[Long])], store: String, epoch: Long) =
      Dedup.incrementalSequenceNearDups(rows(b), "id", "f", "h", store,
        minVoteFrac = 0.7, maxShift = 3,
        onPairs = out => {
          out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$store/pairs/batch_id=$epoch")
          ()
        })
    // two all-original epochs: both pairs subdirs land EMPTY
    val g0 = Generations.stage(root, conf)
    val b0 = (0L until 4L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    val b1 = (10L until 14L).map(i => (i, Seq.fill(8)(rnd.nextLong())))
    assert(fold(b0, g0, 0L).isEmpty)
    Generations.publish(root, g0, conf)
    assert(fold(b1, Generations.resolve(root, conf), 1L).isEmpty)
    assert(spark.read
      .parquet(s"${Generations.resolve(root, conf)}/pairs").count() === 0L)
    val sigsBefore = spark.read
      .parquet(s"${Generations.resolve(root, conf)}/sigs")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    // the tick must PUBLISH (sigs leg compacted, pairs leg skipped) —
    // not abort on the empty pairs source
    assert(Dedup.maintainSequenceStore(spark, root, committedBatchId = 1L,
      maxSigFiles = 1, targetFiles = 1).contains("gen-1"))
    val live = Generations.resolve(root, conf)
    assert(live.endsWith("gen-1"))
    val sigsAfter = spark.read.parquet(s"$live/sigs")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(sigsAfter === sigsBefore, "sigs carried row-for-row")
    // nothing was lost: zero pair rows before, zero (or no dir) after
    assert(graft.sources.PathState.classify(s"$live/pairs", conf) !=
      graft.sources.PathState.Data ||
      spark.read.parquet(s"$live/pairs").count() === 0L)
    // the next tick reads healthy, and the stream keeps working against
    // the new generation: a real duplicate now lands pairs fresh
    assert(Dedup.maintainSequenceStore(spark, root, committedBatchId = 1L,
      maxSigFiles = 1, targetFiles = 1).isEmpty)
    val dup = Seq((500L, b0.head._2.drop(2)))
    assert(fold(dup, live, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      Set((0L, 500L, -2)))
    assert(spark.read.parquet(s"$live/pairs").count() === 1L)
  }

  test("sequenceVoteNearDupPairs: exact-threshold votes are kept (integer compare)") {
    // boundary discipline (R133): a pair at EXACTLY minVoteFrac must be kept
    // deterministically — the ppm cross-multiply, not a double divide,
    // decides. 4/5 matched at minVoteFrac=0.8 stays; 3/5 drops.
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val a = Seq.fill(5)(rnd.nextLong())
    val exactlyAt = a.updated(4, ~a(4)) // frames 0-3 match, frame 4 far
    val justBelow = exactlyAt.updated(3, ~a(3)) // 3/5
    val rows = Seq(1L -> a, 2L -> exactlyAt, 3L -> justBelow).flatMap {
      case (id, hs) => hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
    val got = Dedup.sequenceVoteNearDupPairs(rows.toDF("id", "f", "h"),
        "id", "f", "h", maxHamming = 0, numBands = 4, minVoteFrac = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // (1,2) 4/5 and (2,3) 4/5 (they share the flipped frame 4) are kept at
    // the boundary; (1,3) at 3/5 drops
    assert(got === Set((1L, 2L, 4L), (2L, 3L, 4L)))
    // at minVoteFrac = 2/3 (non-terminating in binary AND decimal), a 2/3
    // vote is on the boundary: ppm floor keeps it
    val got23 = Dedup.sequenceVoteNearDupPairs(
        Seq(1L -> Seq(a(0), a(1), a(2)), 2L -> Seq(a(0), a(1), ~a(2))).flatMap {
          case (id, hs) => hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
          .toDF("id", "f", "h"),
        "id", "f", "h", maxHamming = 0, numBands = 4, minVoteFrac = 2.0 / 3.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got23 === Set((1L, 2L, 2L)))
  }

  test("line/span verdict plans stay partial-aggregatable (skew posture pinned)") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"shared boilerplate line\nunique $i line"))
      .toDF("doc_id", "text")
    // keep-first verdict must be a map-side-combinable min, NOT a window
    // sort of the hot digest's whole occurrence list
    val lines = Dedup.dedupLinesAcrossCorpus(docs, "doc_id", "text")
    lines.collect()
    val linePlan = lines.queryExecution.executedPlan.toString
    assert(linePlan.contains("partial_min"), linePlan.take(600))
    assert(!linePlan.contains("Window"), linePlan.take(600))
    val spans = Dedup.removeDuplicateSpans(docs, "doc_id", "text", spanTokens = 3)
    spans.collect()
    val spanPlan = spans.queryExecution.executedPlan.toString
    assert(spanPlan.contains("partial_min") && spanPlan.contains("partial_count"),
      spanPlan.take(600))
  }

  test("incrementalLineDedup: cross-batch line suppression, doc replay idempotence") {
    import graft.operators.Dedup
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("ldstore").toString + "/st"
    val b1 = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    val o1 = Dedup.incrementalLineDedup(b1, "doc_id", "text", store)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(o1 == Map(1L -> "a\nb", 2L -> "c")) // "b" claimed in-batch by doc 1
    // batch 2: "c" and "a" are suppressed via the STORE, not the batch
    val b2 = Seq((3L, "c\nd\na")).toDF("doc_id", "text")
    val o2 = Dedup.incrementalLineDedup(b2, "doc_id", "text", store)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(o2 == Map(3L -> "d"))
    // replayed batch: processed doc ids anti-join out — NO emptied docs
    val o2again = Dedup.incrementalLineDedup(b2, "doc_id", "text", store)
    assert(o2again.count() == 0)
    // the store holds digests and ids only, never text
    val cols = spark.read.parquet(s"$store/lines").columns.toSeq
    assert(cols == Seq("_h"))
    assert(spark.read.parquet(s"$store/docs").count() == 3)
  }

  test("property: line dedup & span removal invariants on random corpora") {
    import graft.operators.Dedup
    import spark.implicits._
    import org.scalacheck.{Gen, Prop}
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val line = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val doc = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, line)).map(_.mkString("\n"))
    val corpus = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    checkProp(Prop.forAll(corpus) { docs =>
      val df = docs.toDF("doc_id", "text")
      val deduped = Dedup.dedupLinesAcrossCorpus(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      val keptLines = docs.flatMap { case (id, _) =>
        deduped(id).split("\n", -1).filter(_.nonEmpty) }
      val distinctInput = docs.flatMap(_._2.split("\n", -1)).filter(_.trim.nonEmpty).distinct
      // 1. every distinct non-blank line survives EXACTLY once corpus-wide
      val once = keptLines.sorted.toSeq == distinctInput.sorted.toSeq
      // 2. each doc's kept lines are a subsequence of its original lines
      def isSubseq(sub: Seq[String], full: Seq[String]): Boolean = {
        var i = 0
        full.foreach(x => if (i < sub.length && sub(i) == x) i += 1)
        i == sub.length
      }
      val ordered = docs.forall { case (id, t) =>
        isSubseq(deduped(id).split("\n", -1).filter(_.nonEmpty).toSeq,
          t.split("\n", -1).filter(_.trim.nonEmpty).toSeq)
      }
      // 3. span removal keeps a token-subsequence and never grows a doc
      val spans = Dedup.removeDuplicateSpans(df, "doc_id", "text", spanTokens = 2)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      val spanOk = docs.forall { case (id, t) =>
        val orig = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
        isSubseq(spans(id).split(" ").filter(_.nonEmpty).toSeq, orig)
      }
      once && ordered && spanOk
    }, minTests = 15)
  }

  test("property: incremental line dedup over batch splits — exactly-once per distinct line") {
    import graft.operators.Dedup
    import spark.implicits._
    import org.scalacheck.{Gen, Prop}
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val line = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val doc = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, line)).map(_.mkString("\n"))
    val corpus = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    checkProp(Prop.forAll(corpus) { docs =>
      val store = java.nio.file.Files.createTempDirectory("ldprop").toString + "/st"
      val (b1, b2) = docs.partition(_._1 % 2 == 0)
      val out = Seq(b1, b2).filter(_.nonEmpty).flatMap { b =>
        Dedup.incrementalLineDedup(b.toDF("doc_id", "text"), "doc_id", "text", store)
          .collect().map(r => r.getLong(0) -> r.getString(3))
      }.toMap
      val keptAll = docs.flatMap { case (id, _) =>
        out(id).split("\n", -1).filter(_.nonEmpty) }
      val distinctInput = docs.flatMap(_._2.split("\n", -1)).filter(_.trim.nonEmpty).distinct
      // exactly-once corpus-wide, regardless of which batch won the line
      keptAll.sorted.toSeq == distinctInput.sorted.toSeq
    }, minTests = 8)
  }

  test("shingles: fewer than n tokens → empty (no partial shingles)") {
    import spark.implicits._
    val df = Seq("one two", "one two three four").toDF("t")
      .withColumn("toks", TextFunctions.wordTokens(col("t")))
      .select(TextFunctions.shingles(col("toks"), 3).as("sh"))
    val Seq(a, b) = df.as[Seq[String]].collect().toSeq
    assert(a.isEmpty)
    assert(b == Seq("one two three", "two three four"))
  }

  test("shingles kernel ≡ the old relational spelling, element-identical") {
    import spark.implicits._
    // The r20 codegen ShinglesExpr replaced
    //   array_distinct(transform(sequence(0, size-n), i ->
    //     concat_ws(" ", slice(tokens, i+1, n))))
    // — pin element-for-element equality against that exact spelling,
    // including dedup ORDER (first occurrence), null elements (concat_ws
    // skips them), unicode tokens, short arrays and null input.
    def oldShingles(tokens: org.apache.spark.sql.Column, n: Int) =
      when(size(tokens) < n, array().cast("array<string>"))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, lit(n))))))
    val rows = Seq(
      Seq("a", "b", "c", "d"),
      Seq("a", "b", "a", "b", "a", "b"),       // duplicate windows: dedup order
      Seq("日本", "語", "テスト", "日本", "語"), // multi-byte + repeats
      Seq("one", "two"),                        // fewer than n → empty
      Seq.empty[String],
      Seq("x", null, "y", "z"),                 // null element: concat_ws skips
      null.asInstanceOf[Seq[String]],           // null array → null
      Seq("", "a", "", "b", "")                 // empty-string tokens
    )
    for (n <- Seq(1, 2, 3)) {
      // repartition defeats ConvertToLocalRelation so the kernel runs
      // its codegen path, not constant folding
      val df = rows.toDF("toks").repartition(2)
        .select(col("toks"),
          TextFunctions.shingles(col("toks"), n).as("got"),
          oldShingles(col("toks"), n).as("want"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n toks=${r.getSeq[String](0)}: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
      }
    }
  }

  test("minhash signature kernel ≡ the old relational spelling, element-identical") {
    import spark.implicits._
    // The r20 codegen MinhashSigExpr replaced
    //   when(size(sh) === 0, null).otherwise(transform(
    //     sequence(0, numHashes-1), seed =>
    //       array_min(transform(sh, s => md5SeedPrefixLong(seed, s)))))
    // — pin element-for-element equality against that exact spelling on
    // the FULL input space: unicode shingles, null elements (array_min
    // skips the null hashes), an all-null array (numHashes null minima),
    // empty input (whole-result null), and null input (numHashes nulls —
    // the otherwise branch's outer transform input is non-null).
    def oldSig(sh: org.apache.spark.sql.Column, numHashes: Int) =
      when(size(sh) === 0, lit(null).cast("array<bigint>"))
        .otherwise(transform(
          sequence(lit(0), lit(numHashes - 1)),
          seed => array_min(transform(sh, s =>
            org.apache.spark.sql.graft.HashColumns.md5SeedPrefixLong(seed, s)))))
    def oldShl(sh: org.apache.spark.sql.Column) =
      transform(sh, s => org.apache.spark.sql.graft.HashColumns.md5PrefixLong(s))
    val rows = Seq(
      Seq("one two three", "two three four", "alpha beta gamma"),
      Seq("日本 語 テスト", "語 テスト 日本"),
      Seq("single"),
      Seq("dup dup", "dup dup"),                // duplicate shingles
      Seq("x", null, "y"),                      // null element skipped
      Seq(null.asInstanceOf[String], null),     // all-null → null minima
      Seq.empty[String],                        // empty → null signature
      null.asInstanceOf[Seq[String]],           // null → array of nulls
      Seq("", "a")                              // empty-string shingle
    )
    for (nh <- Seq(1, 12)) {
      // repartition defeats ConvertToLocalRelation so the kernel runs
      // its codegen path, not constant folding
      val df = rows.toDF("sh").repartition(2)
        .select(col("sh"),
          Dedup.minhashSignature(col("sh"), nh).as("got"),
          oldSig(col("sh"), nh).as("want"),
          org.apache.spark.sql.graft.HashColumns.md5PrefixLongArray(col("sh")).as("got_shl"),
          oldShl(col("sh")).as("want_shl"))
      df.collect().foreach { r =>
        assert(r.getSeq[Any](1) == r.getSeq[Any](2),
          s"sig nh=$nh sh=${r.getSeq[String](0)}: ${r.getSeq[Any](1)} vs ${r.getSeq[Any](2)}")
        assert(r.getSeq[Any](3) == r.getSeq[Any](4),
          s"shl sh=${r.getSeq[String](0)}: ${r.getSeq[Any](3)} vs ${r.getSeq[Any](4)}")
      }
    }
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base + " extra"
    val far = "completely different content about database engines and columnar storage"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "toks",
      shingleN = 3, numHashes = 12, numBands = 6, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getDouble(2) > 0.8)
  }

  test("band-salted candidate join: adversarial mega-band, no pair lost or duplicated") {
    import spark.implicits._
    // 80 near-identical docs (one shared token stream, distinct tails): every
    // doc lands in the SAME LSH band buckets — the pathological hot key the
    // salt exists for. With bandSalts=8 the candidate join's key space is
    // (band × 8), so the mega-bucket spreads; results must be identical to
    // the unsalted (bandSalts=1) join.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = (1L to 80L).map(i => (i, s"$base tail$i")).toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    def run(salts: Int) =
      Dedup.minhashNearDupPairs(df, "doc_id", "toks",
          shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.5, bandSalts = salts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val salted = run(8)
    assert(salted == run(1))
    assert(salted.nonEmpty && salted.size == salted.distinct.size)
  }

  test("CheckpointStrategy: Local / Reliable / Parquet cuts return identical pairs") {
    import spark.implicits._
    import graft.operators.CheckpointStrategy
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq((1L, base), (2L, base + " extra"),
        (3L, "completely different content about database engines and columnar storage"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    def run(s: CheckpointStrategy) =
      Dedup.minhashNearDupPairs(df, "doc_id", "toks",
          shingleN = 3, numHashes = 12, numBands = 6, threshold = 0.5, checkpoint = s)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // Reliable without a checkpoint dir must fail FAST (before any job)
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      intercept[IllegalArgumentException] { run(CheckpointStrategy.Reliable) }
    val local = run(CheckpointStrategy.Local)
    val pqDir = java.nio.file.Files.createTempDirectory("ckpt-pq").toString
    val viaParquet = run(CheckpointStrategy.Parquet(s"$pqDir/pairs"))
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("ckpt-rel").toString)
    val reliable = run(CheckpointStrategy.Reliable)
    assert(local == Seq((1L, 2L)))
    assert(viaParquet == local && reliable == local)
    // the Parquet cut is a durable artifact: re-readable after the fact
    assert(spark.read.parquet(s"$pqDir/pairs").count() == 1)
    // the ITERATIVE cluster-resolution path (under q48/q67/q87 and the
    // q88-style funnels) also honors the full matrix — Parquet rounds land
    // in per-step sub-paths so no round overwrites the frame it reads
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    def resolve(s: CheckpointStrategy) =
      Dedup.resolveClusters(chain, checkpoint = s)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expect = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L))
    assert(resolve(CheckpointStrategy.Local) == expect)
    assert(resolve(CheckpointStrategy.Reliable) == expect)
    val rcDir = java.nio.file.Files.createTempDirectory("ckpt-rc").toString
    assert(resolve(CheckpointStrategy.Parquet(s"$rcDir/rc")) == expect)
    assert(spark.read.parquet(s"$rcDir/rc/labels0").count() == 6)
  }

  test("jaccardJoinPrefix ≡ brute force on random corpora, boundary thetas included") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // random small token sets with forced overlaps: ids sharing i % 7 draw
    // from the same pool, so qualifying pairs exist at several thresholds;
    // some sets identical (J = 1), some empty (must be dropped)
    val rows = (0 until 120).map { i =>
      val pool = (0 until 30).map(k => s"t${i % 7}_$k")
      val n = if (i % 13 == 0) 0 else 3 + rnd.nextInt(10)
      (i.toLong, rnd.shuffle(pool).take(n).toArray)
    }
    val df = rows.toDF("id", "sh")
    for (thetaPpm <- Seq(250000L, 500000L, 1000000L)) {
      val got = graft.operators.Dedup
        .jaccardJoinPrefix(df, "id", "sh", thetaPpm)
        .as[(Long, Long, Long)].collect().toSet
      val sets = rows.map { case (id, sh) => id -> sh.distinct.toSet }.toMap
      val want = (for {
        (i1, s1) <- sets.toSeq; (i2, s2) <- sets.toSeq
        if i1 < i2 && s1.nonEmpty && s2.nonEmpty
        inter = (s1 & s2).size.toLong
        uni = s1.size + s2.size - inter
        if inter * 1000000L >= thetaPpm * uni
      } yield (i1, i2, inter * 1000000L / uni)).toSet
      assert(got === want, s"thetaPpm=$thetaPpm")
      assert(thetaPpm != 250000L || want.nonEmpty) // the loosest run is non-vacuous
    }
  }

  test("jaccardJoinPrefix refuses a quadratic prefix block loudly") {
    import spark.implicits._
    // every doc shares one ubiquitous token that WILL land in prefixes
    // (all dfs equal, so ordering cannot save it)
    val df = (0 until 50).map(i => (i.toLong, Array(s"a$i", "common")))
      .toDF("id", "sh")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Dedup.jaccardJoinPrefix(df, "id", "sh",
        thetaPpm = 100000L, maxPrefixDf = 10L)
    }
    assert(ex.getMessage.contains("quadratic"))
  }

  test("simhash: identical docs identical; near docs close in Hamming distance") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark query engine with columnar storage and fast joins here"),
      (2L, "spark query engine with columnar storage and fast joins there"),
      (3L, "unrelated poetry about mountains rivers clouds sunsets horizons"))
      .toDF("id", "t")
      .withColumn("toks", TextFunctions.wordTokens(col("t")))
      .withColumn("sh", Dedup.simhash(col("toks"), 16))
    val m = df.select("id", "sh").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
    // hammingDistance column ≡ bitCount
    val hd = df.as("a").crossJoin(df.as("b"))
      .where(col("a.id") === 1 && col("b.id") === 3)
      .select(Dedup.hammingDistance(col("a.sh"), col("b.sh"))).head().getInt(0)
    assert(hd == ham(m(1L), m(3L)))
  }

  test("embeddingNearDupPairs finds the planted near-identical vector") {
    import spark.implicits._
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val vNear = v.clone(); vNear(0) += 0.01f
    val vFar = Array.tabulate(8)(i => if (i % 2 == 0) 5f else -5f)
    val df = Seq((1L, v.toSeq), (2L, vNear.toSeq), (3L, vFar.toSeq)).toDF("id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val pairs = Dedup.embeddingNearDupPairs(df, "id", "emb", 0.99).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("resolveClusters: pointer jumping resolves a 100-hop chain in the 10-round budget") {
    import graft.operators.Dedup
    import spark.implicits._
    // plain neighbor-min needs ~100 rounds here; rep := rep(rep) squares
    // the reach each round, and non-convergence now throws, never returns
    // stale labels
    val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.resolveClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 100 && labels.values.forall(_ == 1L))
  }

  test("resolveClusters: driver union-find path ≡ distributed loop on random graphs") {
    // r19 optimization round: graphs whose edge cut is driver-bounded
    // resolve via an exact in-memory union-find (Local strategy only) —
    // this pins label-for-label equality against the distributed loop
    // (forced via maxDriverEdges = 0) across chains, stars, merged
    // components and singleton pairs
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = ((1L to 80L).map(i => (i, i + 1)) ++ // one long chain
      (0 until 60).map(_ => { val a = 200L + rnd.nextInt(50)
        val b = 200L + rnd.nextInt(50); (math.min(a, b), math.max(a, b)) })
        .filter(p => p._1 != p._2) ++
      Seq((500L, 900L), (900L, 1300L), (100L, 1300L))) // bridge merge
      .toDF("id1", "id2")
    val small = Dedup.resolveClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dist = Dedup.resolveClusters(pairs, maxDriverEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(small == dist)
    assert(small.nonEmpty)
  }

  test("resolveClusters: transitive min-label over chains and separate clusters") {
    import spark.implicits._
    // cluster {1,2,3,9} via chain 1-2, 2-3, 3-9; cluster {5,7}; singleton pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L)).toDF("id1", "id2")
    val reps = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 7L -> 5L))
  }

  test("dropNearDuplicates keeps exactly the cluster representatives") {
    import spark.implicits._
    val df = (1L to 9L).map(i => (i, s"doc$i")).toDF("doc_id", "t")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("id1", "id2")
    val kept = Dedup.dropNearDuplicates(df, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L, 8L, 9L)) // dropped: 2,3 (rep 1), 7 (rep 5)
  }

  test("softDedupWeights: 1/size ppm per cluster, singletons at 1e6, stable") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "t")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val rows = Dedup.softDedupWeights(docs, "doc_id", pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L), (3L, 1L, 3L, 333333L),
      (4L, 4L, 2L, 500000L), (5L, 4L, 2L, 500000L),
      (6L, 6L, 1L, 1000000L)))
    // floor truncation loses at most size-1 ppm per cluster, never gains
    rows.groupBy(_._2).foreach { case (_, members) =>
      val total = members.map(_._4).sum
      val size = members.head._3
      assert(total <= 1000000L && total >= 1000000L - (size - 1))
    }
    // empty pairs: every doc a singleton at full weight
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.softDedupWeights(docs, "doc_id", empty)
      .where(col("weight_ppm") === 1000000L && col("rep") === col("doc_id"))
      .count() == 6)
    // repartition stability (the q131 discipline)
    val re = Dedup.softDedupWeights(docs.repartition(7), "doc_id",
        pairs.repartition(3)).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(re.toSeq == rows.toSeq)
    // composes with the weighted sampler: weight column feeds directly
    val weighted = Dedup.softDedupWeights(docs, "doc_id", pairs)
      .withColumn("w", col("weight_ppm").cast("double") / 1e6)
    assert(weighted.agg(sum(col("w"))).head().getDouble(0) > 2.9) // 3 clusters ≈ 3.0
  }

  test("updateSoftDedupWeights: O(change) fold ≡ fresh build, merges, guards") {
    import spark.implicits._
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // v1: clusters {1,2,3} {4,5}, singletons 6,7
    val oldIds = (1L to 7L).toDF("doc_id")
    val oldPairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val v1 = Dedup.softDedupWeights(oldIds, "doc_id", oldPairs)
    // batch: 10 BRIDGES the two old clusters (merge), 11 duplicates old
    // singleton 6, 12 has no edges, 13/14 form a pure-new cluster
    val batch = Seq(10L, 11L, 12L, 13L, 14L).toDF("doc_id")
    val newPairs = Seq((2L, 10L), (4L, 10L), (6L, 11L), (13L, 14L)).toDF("id1", "id2")
    val v2 = Dedup.updateSoftDedupWeights(v1, "doc_id", batch, newPairs)
    val fresh = Dedup.softDedupWeights(oldIds.union(batch), "doc_id",
      oldPairs.union(newPairs))
    assert(tup(v2) == tup(fresh)) // incremental ≡ fresh, row for row
    val m = tup(v2).map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(m(10L) == ((1L, 6L, 166666L)) && m(4L) == ((1L, 6L, 166666L))) // merged {1..5,10}
    assert(m(6L) == ((6L, 2L, 500000L)))    // old singleton gained a dup
    assert(m(7L) == ((7L, 1L, 1000000L)))   // untouched singleton unchanged
    assert(m(12L) == ((12L, 1L, 1000000L))) // edge-less batch doc
    assert(m(13L) == ((13L, 2L, 500000L)))  // pure-new cluster
    // chained folds compose: fold {10,11,12} then {13,14} ≡ one-shot
    val v2a = Dedup.updateSoftDedupWeights(v1, "doc_id",
      Seq(10L, 11L, 12L).toDF("doc_id"),
      Seq((2L, 10L), (4L, 10L), (6L, 11L)).toDF("id1", "id2"))
    val v2b = Dedup.updateSoftDedupWeights(v2a, "doc_id",
      Seq(13L, 14L).toDF("doc_id"), Seq((13L, 14L)).toDF("id1", "id2"))
    assert(tup(v2b) == tup(fresh))
    // disjointness guard refuses a batch id already weighted; the
    // certified hatch skips the probe job
    val err = intercept[IllegalArgumentException] {
      Dedup.updateSoftDedupWeights(v1, "doc_id", Seq(5L).toDF("doc_id"), newPairs)
    }
    assert(err.getMessage.contains("disjoint"))
    assert(Dedup.updateSoftDedupWeights(v1, "doc_id", Seq(5L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("id1", "id2"),
      assumeDisjointIds = true).count() == 8)
  }

  test("foldSoftDedupWeightsBatch: patch store ≡ fresh, commit-marker replay, pairs-durable resume, O(change) patches") {
    import spark.implicits._
    import graft.functions.TextFunctions
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ta = "alpha beta gamma delta"; val tb = "epsilon zeta eta theta"
    val tc = "iota kappa lambda mu"; val td = "nu xi omicron pi rho"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    // batch 0: clusters {1,2} (ta) and {3,4} (tb), singleton 5 (tc)
    val b0 = docs(1L -> ta, 2L -> ta, 3L -> tb, 4L -> tb, 5L -> tc)
    // batch 1: 11 joins the ta cluster; 12 is a fresh singleton (td)
    val b1 = docs(11L -> ta, 12L -> td)
    val store = java.nio.file.Files.createTempDirectory("softwst").toString + "/s"
    assert(Dedup.foldSoftDedupWeightsBatch(b0, "doc_id", "toks", store, 0) == 5)
    // CRASH WINDOW for batch 1: durable pairs written (and _COMMIT-marked,
    // which the real fold does right after the pairs write) AND sketches
    // folded, but no weights patch — exactly the state
    // foldSoftDedupWeightsBatch leaves if it dies between its two store
    // writes. A naive resume would re-probe (ids anti-join out), get ZERO
    // pairs, and under-cluster.
    Dedup.incrementalNearDupPairs(b1, "doc_id", "toks", s"$store/neardup",
      onPairs = { p =>
        p.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$store/pairs/batch_id=1")
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(s"$store/pairs/batch_id=1", "_COMMIT"))
        ()
      })
    assert(Dedup.foldSoftDedupWeightsBatch(b1, "doc_id", "toks", store, 1) > 0)
    val served = Dedup.readSoftDedupWeights(spark, store, "doc_id")
    val fresh = Dedup.softDedupWeights(
      Seq(1L, 2L, 3L, 4L, 5L, 11L, 12L).toDF("doc_id"), "doc_id",
      Dedup.minhashNearDupPairs(
        docs(1L -> ta, 2L -> ta, 3L -> tb, 4L -> tb, 5L -> tc,
          11L -> ta, 12L -> td), "doc_id", "toks"))
    assert(tup(served) == tup(fresh)) // the store lifecycle ≡ fresh build
    assert(tup(served).map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      .apply(11L) == ((1L, 3L, 333333L)))
    // O(change): the batch-1 patch holds only the touched cluster {1,2,11}
    // and the new singleton 12 — the untouched {3,4} and 5 never rewrite
    assert(spark.read.parquet(s"$store/weights/batch_id=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 11L, 12L))
    // completed-batch replay: the weights patch is the commit marker
    assert(Dedup.foldSoftDedupWeightsBatch(b1, "doc_id", "toks", store, 1) == 0)
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == tup(fresh))
  }

  test("compactSoftDedupWeights: snapshot ≡ uncompacted ≡ fresh; ledger replay safety both generations; file-count bound; refusal guards") {
    import spark.implicits._
    import graft.functions.TextFunctions
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ta = "alpha beta gamma delta"; val tb = "epsilon zeta eta theta"
    val tc = "iota kappa lambda mu"; val td = "nu xi omicron pi rho"
    val te = "sigma tau upsilon phi chi"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val b0 = docs(1L -> ta, 2L -> ta, 3L -> tb, 4L -> tb, 5L -> tc)
    val b1 = docs(11L -> ta, 12L -> td)
    val b2 = docs(21L -> tb, 22L -> te) // 21 joins {3,4} AFTER compaction
    val root = java.nio.file.Files.createTempDirectory("softwcomp")
    val store = root.resolve("s").toString
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Dedup.foldSoftDedupWeightsBatch(b, "doc_id", "toks", store, id)
    def swap(gen: String): Unit = Seq("weights", "pairs").foreach { sub =>
      val cur = java.nio.file.Paths.get(store, sub)
      java.nio.file.Files.walk(cur).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
      java.nio.file.Files.move(java.nio.file.Paths.get(gen, sub), cur)
    }
    def weightSubdirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(store, "weights")).toArray
      .map(_.toString.split('/').last).filter(_.startsWith("batch_id=")).toSet
    assert(fold(b0, 0) == 5L); assert(fold(b1, 1) == 4L)
    val uncompacted = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    val pairRowsBefore = spark.read.parquet(s"$store/pairs").count()
    // guard: in-place compaction refused
    intercept[IllegalArgumentException] {
      Dedup.compactSoftDedupWeights(spark, store, store, 1, "doc_id") }
    // guard: a FUTURE boundary (epoch that never ran) refused — its first
    // run would no-op against the snapshot dir
    intercept[IllegalArgumentException] {
      Dedup.compactSoftDedupWeights(spark, store,
        root.resolve("gx").toString, 99, "doc_id") }
    val gen2 = root.resolve("g2").toString
    // job-count gate (VERDICT r14): the return count rides an Observation
    // on the snapshot write, not a dst read-back. The frozen cap is the
    // measured composition (snapshot sample+write, ledger write, closed
    // pairs count, pairs fold sample+write, the DELIBERATE pairs parity
    // re-read, with AQE materializing each shuffle stage as its own job)
    // — re-adding the snapshot read-back job pushes past it. Opening the
    // stores through StoreParquet (no schema-inference job per open) took
    // it 14 → 11.
    val (snapRows, compactJobs) = countJobs {
      Dedup.compactSoftDedupWeights(spark, store, gen2, 1, "doc_id",
        targetFiles = 2) }
    info(s"compactSoftDedupWeights jobs: $compactJobs")
    assert(snapRows == 7L)
    assert(compactJobs <= 12, s"compactSoftDedupWeights ran $compactJobs " +
      "jobs — the snapshot count must ride the write's Observation, not a read-back")
    swap(gen2)
    // compacted read ≡ uncompacted, pairs rows exactly preserved
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == uncompacted)
    assert(spark.read.parquet(s"$store/pairs").count() == pairRowsBefore)
    // directory + file-count bound: ONE weights subdir of ≤ targetFiles files
    assert(weightSubdirs == Set("batch_id=1"))
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(store, "weights", "batch_id=1")).toArray
      .map(_.toString).count(_.endsWith(".parquet")) <= 2)
    // replay safety generation 1: absorbed batches no-op through the ledger
    assert(fold(b0, 0) == 0L); assert(fold(b1, 1) == 0L)
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == uncompacted)
    // ...and it is the LEDGER that no-ops them, not a neutral re-run: a
    // re-run would have re-created the absorbed pairs subdirs (empty)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=0")))
    // post-compaction fold ≡ fresh over the union corpus
    assert(fold(b2, 2) > 0L)
    val allDocs = docs(1L -> ta, 2L -> ta, 3L -> tb, 4L -> tb, 5L -> tc,
      11L -> ta, 12L -> td, 21L -> tb, 22L -> te)
    val fresh = tup(Dedup.softDedupWeights(
      allDocs.select(col("doc_id")), "doc_id",
      Dedup.minhashNearDupPairs(allDocs, "doc_id", "toks")))
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == fresh)
    // second-generation compaction absorbs the gen-1 snapshot; the merged
    // ledger keeps EVERY absorbed id no-op (replay safety generation 2)
    val gen3 = root.resolve("g3").toString
    Dedup.compactSoftDedupWeights(spark, store, gen3, 2, "doc_id")
    swap(gen3)
    assert(weightSubdirs == Set("batch_id=2"))
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == fresh)
    assert(fold(b0, 0) == 0L); assert(fold(b1, 1) == 0L); assert(fold(b2, 2) == 0L)
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == fresh)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=1")))
    // the THIRD leg: the near-dup sketch store compacts too — bounded
    // sorted files, rows exact, cross-batch probing and replay unchanged
    val nd2 = root.resolve("nd2").toString
    val sketchRows = spark.read.parquet(s"$store/neardup/sketches").count()
    assert(Dedup.compactNearDupSketches(spark, s"$store/neardup", nd2,
      targetFiles = 2) == sketchRows)
    val ndCur = java.nio.file.Paths.get(s"$store/neardup")
    java.nio.file.Files.walk(ndCur).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
    java.nio.file.Files.move(java.nio.file.Paths.get(nd2), ndCur)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$store/neardup/sketches")).toArray
      .map(_.toString).count(_.endsWith(".parquet")) <= 2)
    // a NEW batch still probes the compacted sketches cross-batch (31
    // duplicates doc 1's text → pair across the compaction boundary) and
    // a replay of an absorbed batch still folds to a no-op
    val b3 = docs(31L -> ta)
    assert(fold(b3, 3) > 0L)
    val served = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    assert(served.exists(r => r._1 == 31L && r._2 == 1L),
      s"31 should join doc 1's cluster through the compacted sketches: $served")
    assert(fold(b0, 0) == 0L)
  }

  test("weights store crash surface: mid-commit patch invisible until replay; durable-pairs resume across compaction; orphan-pairs refusal; Foreign refusal; typed empty read") {
    import spark.implicits._
    import graft.functions.TextFunctions
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ta = "alpha beta gamma delta"; val tb = "epsilon zeta eta theta"
    val td = "nu xi omicron pi rho"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val b0 = docs(1L -> ta, 2L -> ta, 3L -> tb)
    val b1 = docs(11L -> ta, 12L -> td)
    val root = java.nio.file.Files.createTempDirectory("softwcrash")
    val store = root.resolve("s").toString
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Dedup.foldSoftDedupWeightsBatch(b, "doc_id", "toks", store, id)
    assert(fold(b0, 0) == 3L)
    // batch 1 crash window: durable (marked) pairs + folded sketches, no patch
    Dedup.incrementalNearDupPairs(b1, "doc_id", "toks", s"$store/neardup",
      onPairs = { p =>
        p.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$store/pairs/batch_id=1")
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(s"$store/pairs/batch_id=1", "_COMMIT"))
        ()
      })
    // compacting INTO the crash window is refused: batch 1's pairs are ≤ the
    // boundary but its weights never committed — folding them away would
    // reopen the under-clustering loss window... so boundary 1 refuses
    // outright (not a committed weights batch),
    intercept[IllegalArgumentException] {
      Dedup.compactSoftDedupWeights(spark, store,
        root.resolve("gx").toString, 1, "doc_id") }
    // ...and compacting BELOW it (boundary 0) carries the durable pairs
    // subdir over untouched, so the resume still works across the swap
    val gen2 = root.resolve("g2").toString
    Dedup.compactSoftDedupWeights(spark, store, gen2, 0, "doc_id")
    Seq("weights", "pairs").foreach { sub =>
      val cur = java.nio.file.Paths.get(store, sub)
      java.nio.file.Files.walk(cur).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
      java.nio.file.Files.move(java.nio.file.Paths.get(gen2, sub), cur)
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=1", "_COMMIT")))
    assert(fold(b1, 1) > 0L) // resume from the carried-over durable pairs
    val fresh = {
      val all = docs(1L -> ta, 2L -> ta, 3L -> tb, 11L -> ta, 12L -> td)
      tup(Dedup.softDedupWeights(all.select(col("doc_id")), "doc_id",
        Dedup.minhashNearDupPairs(all, "doc_id", "toks")))
    }
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == fresh)
    // mid-commit crash: parquet rows visible in a patch subdir WITHOUT the
    // _COMMIT marker are invisible to reads and Overwritten whole on replay.
    // A TRUE mid-job-commit crash leaves no _SUCCESS either — scrub the one
    // the simulation's completed write dropped (a completed-but-unmarked
    // subdir is the LEGACY class and refuses instead; ADVICE r14, spec'd in
    // the legacy-store test)
    Seq((99L, 99L, 1L, 777L)).toDF("doc_id", "rep", "cluster_size", "weight_ppm")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$store/weights/batch_id=2")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$store/weights/batch_id=2", "_SUCCESS"))
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == fresh)
    val b2 = docs(21L -> tb) // duplicates doc 3 ⇒ patch = {3, 21}
    assert(fold(b2, 2) == 2L) // replay overwrites the partial subdir
    val served = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    assert(!served.exists(_._1 == 99L) && served.exists(_._1 == 21L))
    // a committed pairs dir whose weights patch is missing BELOW the
    // boundary refuses compaction (the orphan guard)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=1")) // ensure exists
    val cur2 = java.nio.file.Paths.get(s"$store/weights/batch_id=1")
    java.nio.file.Files.walk(cur2).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
    intercept[IllegalArgumentException] {
      Dedup.compactSoftDedupWeights(spark, store,
        root.resolve("gy").toString, 2, "doc_id") }
    // Foreign weights path refuses instead of reading as empty (ADVICE r13)
    val foreign = root.resolve("f").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$foreign/weights"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$foreign/weights/junk.txt"), "not a store")
    intercept[IllegalArgumentException] {
      Dedup.readSoftDedupWeights(spark, foreign, "doc_id") }
    // missing store reads as a TYPED empty frame (ADVICE r13: id need not
    // be long)
    val empty = Dedup.readSoftDedupWeights(spark,
      root.resolve("missing").toString, "doc_id",
      org.apache.spark.sql.types.StringType)
    assert(empty.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(empty.schema("rep").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(empty.count() == 0L)
  }

  test("legacy marker-less weights store: reads refuse loudly, adoption grandfathers, crash micro-window still replays automatically") {
    import spark.implicits._
    import graft.functions.TextFunctions
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ta = "alpha beta gamma delta"; val tb = "epsilon zeta eta theta"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val b0 = docs(1L -> ta, 2L -> ta, 3L -> tb)
    val b1 = docs(11L -> ta)
    val root = java.nio.file.Files.createTempDirectory("softwlegacy")
    val store = root.resolve("s").toString
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Dedup.foldSoftDedupWeightsBatch(b, "doc_id", "toks", store, id)
    assert(fold(b0, 0) == 3L); assert(fold(b1, 1) == 3L)
    val served = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    // a pre-_COMMIT-era store: complete batches (the parquet write's own
    // _SUCCESS present) but no markers — strip them off batch 0
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/weights/batch_id=0", "_COMMIT"))
    // ADVICE r14: the read REFUSES (pre-fix it served the store as if
    // batch 0 never happened — silently wrong weights), naming the cure
    val err = intercept[IllegalArgumentException] {
      Dedup.readSoftDedupWeights(spark, store, "doc_id") }
    assert(err.getMessage.contains("adoptLegacySoftDedupStore"))
    // compaction refuses the same store (a legacy dir ABOVE the boundary
    // would silently vanish from the live carry-over)
    intercept[IllegalArgumentException] {
      Dedup.compactSoftDedupWeights(spark, store,
        root.resolve("gx").toString, 1, "doc_id") }
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=1", "_COMMIT"))
    // one-shot migration: marks every job-committed subdir, both subtrees
    val adopted = Dedup.adoptLegacySoftDedupStore(spark, store)
    assert(adopted.map(_._1).toSet ==
      Set("weights/batch_id=0", "pairs/batch_id=1"))
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == served)
    assert(Dedup.adoptLegacySoftDedupStore(spark, store).isEmpty) // idempotent
    // a legacy PAIRS subdir ALONE (weights all marked) also refuses
    // compaction — the durable-pairs resume would lose it on the swap
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=1", "_COMMIT"))
    val pairsErr = intercept[IllegalArgumentException] {
      Dedup.compactSoftDedupWeights(spark, store,
        root.resolve("gy").toString, 1, "doc_id") }
    assert(pairsErr.getMessage.contains("pairs"))
    // ...and the FOLD refuses it too, BEFORE its probe can overwrite the
    // durable rows with an empty recompute and certify the loss with a
    // marker (review r15 — the one mutation path the read-side guard
    // could not reach in time)
    val durablePairRows =
      spark.read.parquet(s"$store/pairs/batch_id=1").count()
    val foldLegacyErr = intercept[IllegalArgumentException] {
      fold(docs(41L -> tb), 4) }
    assert(foldLegacyErr.getMessage.contains("adoptLegacySoftDedupStore"))
    assert(spark.read.parquet(s"$store/pairs/batch_id=1").count()
      == durablePairRows) // the legacy pairs are byte-for-byte unharmed
    assert(Dedup.adoptLegacySoftDedupStore(spark, store)
      .map(_._1) == Seq("pairs/batch_id=1"))
    // adoption refuses to certify a TORN subdir (no _SUCCESS): that is a
    // crashed write that must replay, not a legacy batch
    val torn = java.nio.file.Paths.get(s"$store/weights/batch_id=2")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-0.parquet"), "x")
    val tornErr = intercept[IllegalArgumentException] {
      Dedup.adoptLegacySoftDedupStore(spark, store) }
    assert(tornErr.getMessage.contains("replay"))
    // the torn subdir stays INVISIBLE to reads (mid-commit semantics)...
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == served)
    // ...and the job-commit→marker micro-window replays AUTOMATICALLY: a
    // completed patch write missing only its marker is recomputed in
    // place by its own batch's fold, no migration needed (the fold drops
    // its own unmarked leftovers before the legacy check can see them)
    java.nio.file.Files.walk(torn).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
    val b2 = docs(21L -> tb)
    assert(fold(b2, 2) == 2L) // {3, 21}
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/weights/batch_id=2", "_COMMIT"))
    assert(fold(b2, 2) == 2L) // replays, not refuses
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
      .exists(r => r._1 == 21L && r._2 == 3L))
    // _SUCCESS-less deployments (marksuccessfuljobs=false): a complete
    // legacy batch carries NEITHER marker — default adoption refuses it
    // (indistinguishable from a crash), the caller-certified hatch
    // grandfathers it, and the store serves identically afterwards
    val pre = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/weights/batch_id=2", "_COMMIT"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$store/weights/batch_id=2", "_SUCCESS"))
    intercept[IllegalArgumentException] {
      Dedup.adoptLegacySoftDedupStore(spark, store) }
    assert(Dedup.adoptLegacySoftDedupStore(spark, store,
      assumeJobCommitted = true).map(_._1) == Seq("weights/batch_id=2"))
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == pre)
  }

  test("weights store fold/read hardening (ADVICE r15): reads tolerate the trailing fold micro-window; own pairs micro-window self-adopts; a refused fold mutates nothing") {
    import spark.implicits._
    import graft.functions.TextFunctions
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ta = "alpha beta gamma delta"; val tb = "epsilon zeta eta theta"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val root = java.nio.file.Files.createTempDirectory("softwharden")
    val store = root.resolve("s").toString
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Dedup.foldSoftDedupWeightsBatch(b, "doc_id", "toks", store, id)
    val b0 = docs(1L -> ta, 2L -> ta, 3L -> tb)
    val b1 = docs(11L -> ta)
    assert(fold(b0, 0) == 3L)
    val preBatchView = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    assert(fold(b1, 1) == 3L)
    val fullView = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    // 1) the job-commit→marker micro-window of a HEALTHY fold: the single
    // TRAILING unmarked-with-_SUCCESS patch is in-flight, so a racing
    // reader serves the PRE-BATCH view instead of a misleading legacy
    // hard-failure (ADVICE r15 medium)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/weights/batch_id=1", "_COMMIT"))
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
      == preBatchView)
    // the window closes by the batch's own replay, and the read catches up
    assert(fold(b1, 1) == 3L)
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == fullView)
    // ...but a trailing unmarked patch BELOW a committed id is still the
    // legacy class (no single-writer fold produces that shape) and refuses
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/weights/batch_id=0", "_COMMIT"))
    val err = intercept[IllegalArgumentException] {
      Dedup.readSoftDedupWeights(spark, store, "doc_id") }
    assert(err.getMessage.contains("adoptLegacySoftDedupStore"))
    Dedup.adoptLegacySoftDedupStore(spark, store)
    // 2) the OWN batch's pairs micro-window self-adopts (ADVICE r15): a
    // crash between the pairs job commit and its _COMMIT leaves durable
    // pairs the replay must RESUME from, not recompute (the sketch fold
    // may already hold the batch's ids, making the recompute empty) —
    // previously this hard-refused and demanded a manual adoption run
    val b2 = docs(21L -> tb, 22L -> tb)
    assert(fold(b2, 2) == 3L) // {3, 21, 22} cluster
    val durablePairs = spark.read.parquet(s"$store/pairs/batch_id=2")
      .orderBy("id1", "id2").collect().toSeq
    val afterB2 = tup(Dedup.readSoftDedupWeights(spark, store, "doc_id"))
    // simulate the crash: pairs durable but unmarked, patch gone,
    // sketches already folded (the dangerous half of the window)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=2", "_COMMIT"))
    val patch2 = java.nio.file.Paths.get(s"$store/weights/batch_id=2")
    java.nio.file.Files.walk(patch2).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
    assert(fold(b2, 2) == 3L) // resumes automatically — no operator step
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=2", "_COMMIT")))
    assert(spark.read.parquet(s"$store/pairs/batch_id=2")
      .orderBy("id1", "id2").collect().toSeq == durablePairs,
      "the durable pairs must be resumed from, not recomputed over")
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == afterB2)
    // 3) a REFUSED fold is mutation-free (ADVICE r15 low + review r16):
    // with a legacy weights subdir from ANOTHER batch present, the
    // replaying fold refuses BEFORE deleting its own unmarked patch
    // leftovers AND before self-adopting its own pairs subdir — marking
    // the own pairs on a store that then refuses as legacy would certify
    // pre-discipline content as durable
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/weights/batch_id=0", "_COMMIT"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/weights/batch_id=2", "_COMMIT"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=2", "_COMMIT"))
    val ownFiles = java.nio.file.Files.list(patch2).count()
    val refuse = intercept[IllegalArgumentException] { fold(b2, 2) }
    assert(refuse.getMessage.contains("adoptLegacySoftDedupStore"))
    assert(java.nio.file.Files.exists(patch2) &&
      java.nio.file.Files.list(patch2).count() == ownFiles,
      "a refused fold must leave the store bit-identical — own leftovers included")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/pairs/batch_id=2", "_COMMIT")),
      "a refused fold must not have self-adopted (certified) its own pairs")
    Dedup.adoptLegacySoftDedupStore(spark, store)
    assert(tup(Dedup.readSoftDedupWeights(spark, store, "doc_id")) == afterB2)
  }

  test("maintainSoftDedupWeights: healthy catalog no-ops; past-budget tick folds + publishes; folds, replays and cross-batch probes survive the swap") {
    import spark.implicits._
    import graft.functions.TextFunctions
    import graft.sources.Generations
    val conf = spark.sparkContext.hadoopConfiguration
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ta = "alpha beta gamma delta"; val tb = "epsilon zeta eta theta"
    val td = "nu xi omicron pi rho"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val b0 = docs(1L -> ta, 2L -> ta, 3L -> tb)
    val b1 = docs(11L -> ta, 12L -> td)
    val b2 = docs(21L -> tb)
    val b3 = docs(31L -> ta)
    val root = java.nio.file.Files.createTempDirectory("maintsw").toString
    def fold(b: org.apache.spark.sql.DataFrame, id: Long) =
      Dedup.foldSoftDedupWeightsBatch(b, "doc_id", "toks",
        Generations.resolve(root, conf), id)
    def maintain(maxBatches: Int, boundary: Long) =
      Dedup.maintainSoftDedupWeights(spark, root, maxBatches, boundary,
        idCol = "doc_id")
    // generation 0 bootstraps by folding INTO the staged dir, then publishes
    val g0 = Generations.stage(root, conf)
    assert(Dedup.foldSoftDedupWeightsBatch(b0, "doc_id", "toks", g0, 0) == 3L)
    Generations.publish(root, g0, conf)
    assert(fold(b1, 1) == 4L) // folds run against resolve()
    // within budget: a TRUE no-op — nothing staged, the pointer unmoved
    assert(maintain(maxBatches = 2, boundary = 1).isEmpty)
    assert(Generations.history(root, conf) == Seq("gen-0"))
    assert(fold(b2, 2) == 2L) // {3, 21} — third subdir, past budget
    // past budget: fold into a staged generation + atomic publish
    assert(maintain(maxBatches = 2, boundary = 2).contains("gen-1"))
    val live = Generations.resolve(root, conf)
    assert(live.endsWith("gen-1"))
    assert(Dedup.committedWeightsBatches(spark, live) == Seq(2L))
    // the generation is SELF-CONTAINED: the sketch store rode along
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(live, "neardup", "sketches")))
    // read-through-resolve ≡ fresh recompute over the union corpus
    val all = docs(1L -> ta, 2L -> ta, 3L -> tb, 11L -> ta, 12L -> td,
      21L -> tb)
    val fresh = tup(Dedup.softDedupWeights(all.select(col("doc_id")),
      "doc_id", Dedup.minhashNearDupPairs(all, "doc_id", "toks")))
    assert(tup(Dedup.readSoftDedupWeights(spark, live, "doc_id")) == fresh)
    // absorbed replays no-op through the CARRIED ledger
    assert(fold(b0, 0) == 0L); assert(fold(b1, 1) == 0L); assert(fold(b2, 2) == 0L)
    // a NEW batch folds into the new generation and still probes the
    // carried sketches cross-batch (31 duplicates doc 1's text)
    assert(fold(b3, 3) > 0L)
    assert(tup(Dedup.readSoftDedupWeights(spark, live, "doc_id"))
      .exists(r => r._1 == 31L && r._2 == 1L))
    // healthy again (snapshot + one live patch ≤ budget); vacuum separate
    assert(maintain(maxBatches = 2, boundary = 3).isEmpty)
    assert(Generations.vacuum(root, keep = 0, conf) == Seq("gen-0"))
    assert(tup(Dedup.readSoftDedupWeights(spark,
      Generations.resolve(root, conf), "doc_id"))
      .exists(r => r._1 == 31L && r._2 == 1L))
    // a zero budget would re-trigger every tick (the snapshot itself is
    // one subdir)
    intercept[IllegalArgumentException] { maintain(0, 3) }
  }

  test("updateSoftDedupWeights property: random multi-batch folds ≡ fresh; reps agree with dropNearDuplicates") {
    import spark.implicits._
    def tup(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val rnd = new scala.util.Random(13L)
    for (trial <- 0 until 3) {
      // ids partitioned into 3 arrival batches; random sparse pair graph,
      // each pair drawn between any two already-arrived ids — so folds see
      // merges, promotions, chains and pure-new clusters in random order
      val n = 30 + trial * 10
      val ids = (1L to n.toLong).toVector
      val batchOf = ids.map(i => i -> rnd.nextInt(3)).toMap
      def arrived(b: Int) = ids.filter(i => batchOf(i) <= b)
      val pairs = (0 until n * 2).map { _ =>
        val pool = ids
        val a = pool(rnd.nextInt(pool.size)); val b = pool(rnd.nextInt(pool.size))
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // a pair becomes visible in the FIRST batch where both ends exist
      def pairsVisibleAt(b: Int) = pairs.filter { case (x, y) =>
        math.max(batchOf(x), batchOf(y)) == b }
      var table = Dedup.softDedupWeights(
        ids.filter(i => batchOf(i) == 0).toDF("doc_id"), "doc_id",
        pairsVisibleAt(0).toDF("id1", "id2"))
      for (b <- 1 until 3) {
        table = Dedup.updateSoftDedupWeights(table, "doc_id",
          ids.filter(i => batchOf(i) == b).toDF("doc_id"),
          pairsVisibleAt(b).toDF("id1", "id2"), maxIter = 14)
      }
      val fresh = Dedup.softDedupWeights(ids.toDF("doc_id"), "doc_id",
        pairs.toDF("id1", "id2"), maxIter = 14)
      assert(tup(table) == tup(fresh), s"trial $trial diverged from fresh")
      // reps consistency: dropNearDuplicates keeps EXACTLY the rep rows
      val kept = Dedup.dropNearDuplicates(ids.toDF("doc_id"), "doc_id",
          pairs.toDF("id1", "id2")).collect().map(_.getLong(0)).toSet
      val reps = tup(fresh).filter(r => r._1 == r._2).map(_._1).toSet
      assert(kept == reps, s"trial $trial: drop vs soft-weight reps disagree")
      // total corpus mass ≈ number of clusters (ppm floor loss bounded)
      val mass = tup(fresh).map(_._4).sum
      assert(mass <= reps.size * 1000000L &&
        mass > reps.size * 1000000L - n, s"trial $trial mass $mass")
    }
  }

  test("incrementalNearDupPairs: cross-batch detection, replay idempotence") {
    import spark.implicits._
    import org.apache.spark.sql.functions.split
    val store = java.nio.file.Files.createTempDirectory("nds").toString + "/store"
    def mk(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("toks", split(col("text"), " "))
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val mutated = base + " omega psi"
    // batch 1: A and B are near-dups of each other, C unrelated
    val p1 = graft.operators.Dedup.incrementalNearDupPairs(
      mk(1L -> base, 2L -> mutated, 3L -> ("uno dos tres cuatro cinco seis " * 8).trim),
      "doc_id", "toks", store, threshold = 0.4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(p1 == Set((1L, 2L)))
    // batch 2: D is a near-dup of A (seen only via the STORE — text gone)
    val p2 = graft.operators.Dedup.incrementalNearDupPairs(
      mk(4L -> (base + " extra token"), 5L -> ("qqq www eee rrr ttt yyy " * 8).trim),
      "doc_id", "toks", store, threshold = 0.4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(p2.contains((1L, 4L)) && p2.contains((2L, 4L)))
    assert(!p2.exists(p => p._1 == 3L || p._2 == 3L))
    // replaying batch 2 (at-least-once delivery) reports nothing new and
    // leaves the store row count unchanged
    val p3 = graft.operators.Dedup.incrementalNearDupPairs(
      mk(4L -> (base + " extra token"), 5L -> ("qqq www eee rrr ttt yyy " * 8).trim),
      "doc_id", "toks", store, threshold = 0.4).count()
    assert(p3 == 0L)
    assert(spark.read.parquet(s"$store/sketches").count() == 5L)
  }

  test("contaminationScores: benchmark members 1.0, partial overlap exact, disjoint 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split}
    def toks(s: String) = s.split(" ").toSeq
    val docs = Seq(
      (1L, "a b c d e f"),            // = benchmark doc → score 1.0
      (2L, "a b c d x y"),            // 3-grams: abc bcd cde? n=3: abc bcd cdx dxy → 2 of 4 in bench
      (3L, "p q r s t u"),            // disjoint → 0
      (4L, "a b")                     // too short for 3-grams → 0, n_grams 0
    ).toDF("id", "text").withColumn("toks", split(col("text"), " "))
    val bench = Seq(Tuple1("a b c d e f")).toDF("text")
      .withColumn("toks", split(col("text"), " "))
    val out = graft.operators.Dedup
      .contaminationScores(docs, "id", "toks", bench, "toks", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((4, 4L, 1.0)))
    assert(out(2L) == ((4, 2L, 0.5)))  // "a b c","b c d" hit; "c d x","d x y" miss
    assert(out(3L) == ((4, 0L, 0.0)))
    assert(out(4L) == ((0, 0L, 0.0)))
  }

  test("CentroidAggregator computes per-dimension means (A6, G5)") {
    import spark.implicits._
    val data = Seq(
      (0, Array(1f, 2f, 3f)), (0, Array(3f, 4f, 5f)),
      (1, Array(10f, 0f, -2f)))
    val out = data.toDS()
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new Dedup.CentroidAggregator(3).toColumn.name("c"))
      .collect().toMap
    assert(out(0).toSeq == Seq(2f, 3f, 4f))
    assert(out(1).toSeq == Seq(10f, 0f, -2f))
  }

  test("CentroidAggregator rejects mismatched dimensions") {
    import spark.implicits._
    val data = Seq((0, Array(1f, 2f)), (0, Array(1f, 2f, 3f)))
    val e = intercept[org.apache.spark.SparkException] {
      data.toDS().groupByKey(_._1).mapValues(_._2)
        .agg(new Dedup.CentroidAggregator(2).toColumn.name("c")).collect()
    }
    assert(e.getMessage != null)
  }
}
