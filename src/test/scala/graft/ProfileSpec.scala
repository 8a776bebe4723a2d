package graft

import graft.operators.Profile
import org.apache.spark.sql.functions.col

/** Profile (dataset quality cards): exact per-column metrics, null
  * semantics, deterministic frequency ties, and guards.
  */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Some("en"), Some("web"), Some(10L)),
    (2L, Some("en"), Some("web"), Some(20L)),
    (3L, Some("de"), None, Some(10L)),
    (4L, None, Some("books"), None),
    (5L, Some("fr"), Some("web"), Some(-5L))
  ).toDF("id", "lang", "source", "n")

  test("profileColumns: exact counts, null handling, typed min/max") {
    val got = Profile.profileColumns(df, Seq("id", "lang", "source", "n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6)))
    assert(got.toSeq === Seq(
      ("id", 5L, 5L, 0L, 5L, "1", "5"),
      ("lang", 5L, 4L, 1L, 3L, "de", "fr"),
      ("n", 5L, 4L, 1L, 3L, "-5", "20"),     // numeric order: -5 < 10, 20 max
      ("source", 5L, 4L, 1L, 2L, "books", "web")))
  }

  test("profileColumns: all-null column profiles to zero distincts, null min/max") {
    val d2 = Seq((1L, Option.empty[String]), (2L, None)).toDF("id", "s")
    val got = Profile.profileColumns(d2, Seq("s")).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ("s", 2L, 0L, 2L, 0L))
    assert(r.isNullAt(5) && r.isNullAt(6))
  }

  test("frequentValues: exact top-k, count-desc/value-asc ties, nulls excluded") {
    val got = Profile.frequentValues(df, Seq("lang", "source"), k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // lang: en×2, then the de/fr tie at 1 breaks to "de"; source: web×3, books×1
    assert(got.toSeq === Seq(
      ("lang", "en", 2L), ("lang", "de", 1L),
      ("source", "web", 3L), ("source", "books", 1L)))
    // k larger than the distinct count returns everything, still ordered
    val all = Profile.frequentValues(df, Seq("lang"), k = 10)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(all.toSeq === Seq(("en", 2L), ("de", 1L), ("fr", 1L)))
    // a repeated column would double its counts via the unpivot — refuse
    // (ADVICE r10, the module's guard discipline)
    intercept[IllegalArgumentException](
      Profile.frequentValues(df, Seq("lang", "lang"), k = 2))
  }

  test("approxProfileColumns: counts exact, distincts within tolerance of the exact card") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val cols = Seq("doc_id", "lang", "source")
    val exact = Profile.profileColumns(docs, cols).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6))).toMap
    val approx = Profile.approxProfileColumns(docs, cols).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6))).toMap
    assert(approx.keySet === exact.keySet)
    for (c <- cols) {
      val (en, enn, enull, ed, emn, emx) = exact(c)
      val (an, ann, anull, ad, amn, amx) = approx(c)
      // everything but the distinct estimate is the SAME exact value
      assert((an, ann, anull, amn, amx) === (en, enn, enull, emn, emx), c)
      // HLL++ at rsd 2.5%: allow 5% relative error
      assert(math.abs(ad - ed) <= math.max(1L, (0.05 * ed).toLong),
        s"$c: approx $ad vs exact $ed")
    }
    // determinism: the sketch is a pure function of the value set
    val again = Profile.approxProfileColumns(docs, cols).collect()
      .map(r => (r.getString(0), r.getLong(4)))
    assert(again.toSeq === approx.toSeq.sortBy(_._1).map { case (c, t) => (c, t._4) })
  }

  test("profileByGroup: exact per-group metrics, null group kept, ordering") {
    val d = Seq(
      (Some("en"), Some("web"), Some(10L)),
      (Some("en"), None, Some(20L)),
      (Some("de"), Some("books"), Some(10L)),
      (None, Some("web"), None)
    ).toDF("lang", "source", "n")
    val got = Profile.profileByGroup(d, "lang", Seq("source", "n"))
      .collect().map(r => (Option(r.getString(0)).getOrElse("∅"), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        Option(r.getString(6)).getOrElse("∅"), Option(r.getString(7)).getOrElse("∅")))
    assert(got.toSeq === Seq(
      ("∅", "n", 1L, 0L, 1L, 0L, "∅", "∅"),
      ("∅", "source", 1L, 1L, 0L, 1L, "web", "web"),
      ("de", "n", 1L, 1L, 0L, 1L, "10", "10"),
      ("de", "source", 1L, 1L, 0L, 1L, "books", "books"),
      ("en", "n", 2L, 2L, 0L, 2L, "10", "20"),
      ("en", "source", 2L, 1L, 1L, 1L, "web", "web")))
    intercept[IllegalArgumentException](
      Profile.profileByGroup(d, "lang", Seq("lang")))
    intercept[IllegalArgumentException](
      Profile.profileByGroup(d, "lang", Seq.empty))
  }

  test("diffProfiles: changed metrics surface with both values; identical cards diff empty") {
    val cols = Seq("id", "lang", "n")
    val before = Profile.profileColumns(df.toDF("id", "lang", "source", "n")
      .select("id", "lang", "n"), cols)
    // identical cards → empty diff (the green light)
    assert(Profile.diffProfiles(before, before).count() === 0L)
    // a filtered rebuild changes counts and the max id; mins/maxes of
    // untouched value ranges stay put and do NOT surface
    val after = Profile.profileColumns(df.where(col("id") <= 3)
      .select("id", "lang", "n"), cols)
    val diff = Profile.diffProfiles(before, after)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3)))
    assert(diff.contains(("id", "n_rows", "5", "3")))
    assert(diff.contains(("id", "max_value", "5", "3")))
    assert(diff.contains(("lang", "n_distinct", "3", "2")))
    // id rows 1..3 keep min 1: min_value must NOT appear for id
    assert(!diff.exists(d => d._1 == "id" && d._2 == "min_value"))
    // guard: a non-card input is refused
    intercept[IllegalArgumentException](
      Profile.diffProfiles(df, before))
  }

  test("incremental profile: merged batches ≡ one-shot mergeable card; integral order; replay no-op") {
    import java.nio.file.Files
    val store = Files.createTempDirectory("profstore").toString
    // the "9"/"10" trap: batch 1 holds n ∈ {9}, batch 2 {10} — a lexical
    // merge would report min "10"; the integral discipline must not
    val d1 = Seq((1L, Some("en"), Some(9L)), (2L, Some("de"), Some(9L)))
      .toDF("id", "lang", "n")
    val d2 = Seq((3L, Option.empty[String], Some(10L)), (4L, Some("fr"), None))
      .toDF("id", "lang", "n")
    assert(Profile.appendProfile(d1, Seq("id", "lang", "n"), "b1", store) === 3L)
    assert(Profile.appendProfile(d2, Seq("id", "lang", "n"), "b2", store) === 3L)
    // replay is a no-op
    assert(Profile.appendProfile(d2, Seq("id", "lang", "n"), "b2", store) === 0L)
    val merged = Profile.mergedProfile(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    val oneShot = Profile.profileColumns(d1.unionAll(d2), Seq("id", "lang", "n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(5), r.getString(6)))
    assert(merged.toSeq === oneShot.toSeq)
    assert(merged.find(_._1 == "n").get._5 === "9") // numeric, not lexical, min
    // batch scoping folds a sub-range
    val b1Only = Profile.mergedProfile(spark, store, Seq("b1")).collect()
    assert(b1Only.map(_.getLong(1)).forall(_ === 2L))
    // fractional merge: "9.5"/"10.5" is the float shape of the integral
    // trap (lexical min would be "10.5"); min/max must merge on the
    // parsed double and return the stored strings verbatim, matching the
    // one-shot card
    val fstore = Files.createTempDirectory("profstore_f").toString
    val f1 = Seq((1L, 9.5), (2L, 9.75)).toDF("id", "x")
    val f2 = Seq((3L, 10.5), (4L, 0.125)).toDF("id", "x")
    assert(Profile.appendProfile(f1, Seq("x"), "f1", fstore) === 1L)
    assert(Profile.appendProfile(f2, Seq("x"), "f2", fstore) === 1L)
    val fMerged = Profile.mergedProfile(spark, fstore).collect()
      .map(r => (r.getString(0), r.getString(4), r.getString(5)))
    assert(fMerged.toSeq === Seq(("x", "0.125", "10.5")))
    val fOneShot = Profile.profileColumns(f1.unionAll(f2), Seq("x"))
      .collect().map(r => (r.getString(0), r.getString(5), r.getString(6)))
    assert(fMerged.toSeq === fOneShot.toSeq)
    // an ALL-NULL fractional batch stores NULL min/max; the merge must
    // skip it, not let a null-keyed struct win the min (review r11)
    val f3 = Seq((5L, Option.empty[Double]), (6L, Option.empty[Double])).toDF("id", "x")
    assert(Profile.appendProfile(f3, Seq("x"), "f3", fstore) === 1L)
    val fMerged2 = Profile.mergedProfile(spark, fstore).collect()
      .map(r => (r.getString(0), r.getString(4), r.getString(5)))
    assert(fMerged2.toSeq === Seq(("x", "0.125", "10.5")),
      s"all-null batch must not poison the fractional merge: ${fMerged2.toSeq}")
    // signed zero (ADVICE r11): -0.0 and 0.0 parse to EQUAL doubles but
    // render as distinct strings — append-time normalization must store
    // "0.0" for a -0.0 extremum so the merge never string-tie-breaks into
    // a value a one-shot card wouldn't produce
    val zstore = Files.createTempDirectory("profstore_z").toString
    val z1 = Seq((1L, -0.0), (2L, 5.0)).toDF("id", "x")
    val z2 = Seq((3L, 0.0), (4L, 7.0)).toDF("id", "x")
    assert(Profile.appendProfile(z1, Seq("x"), "z1", zstore) === 1L)
    assert(Profile.appendProfile(z2, Seq("x"), "z2", zstore) === 1L)
    val zCards = spark.read.parquet(zstore)
      .select("batch_id", "min_value").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(zCards === Map("z1" -> "0.0", "z2" -> "0.0"),
      s"-0.0 must normalize at append time, stored: $zCards")
    val zMerged = Profile.mergedProfile(spark, zstore).collect()
      .map(r => (r.getString(0), r.getString(4), r.getString(5)))
    assert(zMerged.toSeq === Seq(("x", "0.0", "7.0")))
    // still-unsupported types are refused loudly
    val db = Seq((1L, Array[Byte](1, 2))).toDF("id", "x")
    intercept[IllegalArgumentException](
      Profile.appendProfile(db, Seq("x"), "b3", store))
    // foreign content refuses
    val foreign = Files.createTempDirectory("profforeign")
    Files.writeString(foreign.resolve("junk.txt"), "not parquet")
    intercept[IllegalArgumentException](
      Profile.appendProfile(d1, Seq("id"), "b1", foreign.toString))
  }

  test("appendProfile: a fresh batch is a replay probe plus one counted write; a replay adds no file") {
    import java.nio.file.Files
    val store = Files.createTempDirectory("profjobs").toString
    def files: Set[String] = {
      val it = Files.walk(java.nio.file.Paths.get(store))
      try { val b = Set.newBuilder[String]; it.forEach(p => { b += p.toString; () }); b.result() }
      finally it.close()
    }
    val d1 = Seq((1L, 9.5), (2L, 9.75)).toDF("id", "x")
    val d2 = Seq((3L, 10.5), (4L, 0.125)).toDF("id", "x")
    assert(Profile.appendProfile(d1, Seq("id", "x"), "j1", store) === 2L)
    val (n, jobs) = countJobs(
      Profile.appendProfile(d2, Seq("id", "x"), "j2", store))
    assert(n === 2L)
    assert(jobs == 4, s"a fresh-batch append ran $jobs jobs")
    val before = files
    assert(Profile.appendProfile(d2, Seq("id", "x"), "j2", store) === 0L)
    assert(files == before, "a replay must add no file")
  }

  test("quantileCard ≡ driver-side order statistics; tiebreak-independent; guards") {
    val rnd = new scala.util.Random(99)
    val vals = (1 to 537).map(_ => rnd.nextInt(1000).toLong)
    val d = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val qs = Seq(1L, 10000L, 500000L, 900000L, 1000000L)
    val got = Profile.quantileCard(d, "v", "id", qs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = vals.sorted
    val want = qs.sorted.map { q =>
      val k = ((q * sorted.length + 999999L) / 1000000L).toInt // ceil(q·n/1e6)
      (q, sorted(k - 1))
    }
    assert(got.toSeq === want)
    // the order statistic ignores the tiebreak column's content
    val d2 = vals.zipWithIndex.map { case (v, i) => (-i.toLong, v) }.toDF("id", "v")
    val got2 = Profile.quantileCard(d2, "v", "id", qs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.toSeq === want)
    // nulls excluded from n and from positions
    val withNulls = d.unionAll(Seq((9999L, Option.empty[Long])).toDF("id", "v"))
    val got3 = Profile.quantileCard(withNulls, "v", "id", Seq(1000000L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got3.toSeq === Seq((1000000L, sorted.last)))
    intercept[IllegalArgumentException](Profile.quantileCard(d, "v", "id", Nil))
    intercept[IllegalArgumentException](
      Profile.quantileCard(d, "v", "id", Seq(0L)))
    intercept[IllegalArgumentException](
      Profile.quantileCard(d, "v", "id", Seq(1000001L)))
    intercept[IllegalArgumentException](
      Profile.quantileCard(d, "nope", "id", Seq(1L)))
  }

  test("duplicateKeys: exact multiplicities; empty result certifies a key; guards") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("id", "k")
    val dups = Profile.duplicateKeys(d, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dups.toSeq === Seq(("a", 2L), ("b", 3L)))
    // a true key comes back empty — the certification contract
    assert(Profile.duplicateKeys(d, Seq("id")).count() === 0L)
    // composite keys count at the tuple grain
    val comp = Seq((1L, "x", "p"), (1L, "x", "p"), (1L, "y", "p"))
      .toDF("a", "b", "c")
    val cd = Profile.duplicateKeys(comp, Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(cd.toSeq === Seq((1L, "x", 2L)))
    intercept[IllegalArgumentException](Profile.duplicateKeys(d, Seq.empty))
    intercept[IllegalArgumentException](Profile.duplicateKeys(d, Seq("zz")))
  }

  test("quantileCardByGroup ≡ per-group driver-side order statistics; guards") {
    val rnd = new scala.util.Random(123)
    val rows = (1 to 300).map(i =>
      (i.toLong, s"g${i % 3}", rnd.nextInt(100).toLong))
    val d = rows.toDF("id", "g", "v")
    val qs = Seq(500000L, 950000L)
    val got = Profile.quantileCardByGroup(d, "g", "v", "id", qs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = rows.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (g, grp) =>
      val sorted = grp.map(_._3).sorted
      qs.sorted.map { q =>
        val k = ((q * sorted.length + 999999L) / 1000000L).toInt
        (g, q, sorted(k - 1))
      }
    }
    assert(got.toSeq === want)
    intercept[IllegalArgumentException](
      Profile.quantileCardByGroup(d, "g", "v", "id", Nil))
    intercept[IllegalArgumentException](
      Profile.quantileCardByGroup(d, "g", "nope", "id", Seq(1L)))
    intercept[IllegalArgumentException](
      Profile.quantileCardByGroup(d, "g", "v", "id", qs, maxGroupRows = 0L))
  }

  test("quantileCardByGroup: a mega-group routes through the range exchange, card invariant") {
    val rnd = new scala.util.Random(77)
    // one giant group (2000 rows), two small ones, plus a null group —
    // values deliberately collide so the tiebreak matters
    val rows = (1 to 2000).map(i => (i.toLong, Some("mega"), rnd.nextInt(50).toLong)) ++
      (2001 to 2060).map(i => (i.toLong, Some("s1"), rnd.nextInt(50).toLong)) ++
      (2061 to 2100).map(i => (i.toLong, Some("s2"), rnd.nextInt(50).toLong)) ++
      (2101 to 2130).map(i => (i.toLong, Option.empty[String], rnd.nextInt(50).toLong))
    val d = rows.toDF("id", "g", "v")
    val qs = Seq(250000L, 500000L, 990000L)
    val pureWindow = Profile.quantileCardByGroup(d, "g", "v", "id", qs)
    val routed = Profile.quantileCardByGroup(d, "g", "v", "id", qs,
      maxGroupRows = 500L)
    // the routed plan carries globalRank's range exchange on (grp, value,
    // tiebreak); the pure-window plan must not (its only rangepartitioning
    // is the final orderBy on (grp, q_ppm))
    val rankExchange = """rangepartitioning\(grp#\d+ asc nulls first, v#""".r
    val routedPlan = routed.queryExecution.executedPlan.toString.toLowerCase
    assert(rankExchange.findFirstIn(routedPlan).isDefined,
      s"mega-group must take the range-exchange path:\n$routedPlan")
    assert(rankExchange.findFirstIn(
      pureWindow.queryExecution.executedPlan.toString.toLowerCase).isEmpty)
    // identical card either way (threshold-invariance contract), null
    // group included
    def grab(x: org.apache.spark.sql.DataFrame) = x.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSeq
    val a = grab(pureWindow)
    assert(a === grab(routed))
    assert(a.exists(_._1.isEmpty), "null group must keep its quantiles")
    assert(a.count(_._1.contains("mega")) === qs.size)
  }

  test("danglingKeys: unresolved fks with multiplicities; clean reference certifies; null fks excluded") {
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val got = Profile.danglingKeys(child, "fk", parent, "pk")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 9 dangles (once); nulls are the card's business, not this report's
    assert(got.toSeq === Seq((9L, 1L)))
    // a clean reference comes back empty — the certification contract
    assert(Profile.danglingKeys(child.where(col("fk") < 3), "fk",
      parent, "pk").count() === 0L)
    intercept[IllegalArgumentException](
      Profile.danglingKeys(child, "zz", parent, "pk"))
    intercept[IllegalArgumentException](
      Profile.danglingKeys(child, "fk", parent, "zz"))
  }

  test("profile guards: empty/duplicate/missing columns, bad k") {
    intercept[IllegalArgumentException](Profile.profileColumns(df, Seq.empty))
    intercept[IllegalArgumentException](
      Profile.profileColumns(df, Seq("id", "id")))
    intercept[IllegalArgumentException](
      Profile.profileColumns(df, Seq("nope")))
    intercept[IllegalArgumentException](
      Profile.frequentValues(df, Seq("lang"), k = 0))
    intercept[IllegalArgumentException](
      Profile.frequentValues(df, Seq("nope"), k = 1))
  }
}
