package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Search
import graft.sources.SidecarParquet

/** One table-driven lifecycle for the five persisted quantized vector-store
  * families — IVF, flat PQ, OPQ, IVF-PQ and residual IVF-PQ: write →
  * append → remove → update → compact → refresh → remove-after-refresh
  * over a tiny synthetic corpus (dim 16, 4 coarse clusters, m 4, ksub 8).
  *
  * Every step pins, on the store it leaves behind: the artifact
  * directories, the `_v<n>` model tags, the `model` marker (version and
  * family), the residual family's `encoding` sidecar, the operation's
  * return count, an order-free content fingerprint of the data artifact
  * and the operation's Spark job count ([[SparkSpec.countJobs]]). The id
  * set of every store is also checked against the set the step sequence
  * implies, so the pins describe correct stores.
  */
class VectorLifecycleSpec extends SparkSpec {

  private val Dim = 16
  private val M = 4
  private val Ksub = 8
  private val NClusters = 4
  private val (idCol, vecCol) = ("vec_id", "embedding")

  /** Deterministic vector for `seed`: cluster `seed % 4`'s one-hot block
    * plus gaussian noise.
    */
  private def vec(seed: Long): Seq[Float] = {
    val rng = new scala.util.Random(seed)
    val c = (seed % NClusters).toInt
    (0 until Dim).map { j =>
      ((if (j / (Dim / NClusters) == c) 1.0 else 0.0) +
        0.3 * rng.nextGaussian()).toFloat
    }
  }

  private def frame(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF(idCol, vecCol)
  }

  private def idFrame(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.toDF(idCol)
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private lazy val base: Seq[(Long, Seq[Float])] =
    (0L until 90L).map(i => i -> vec(i))
  private lazy val seedCents: Seq[(Int, Array[Float])] =
    (0 until NClusters).map(c => c -> vec(c.toLong).toArray)
  private lazy val cb = Search.pqSampledCodebooks(frame(base), idCol, vecCol,
    Dim, M, Ksub)
  private lazy val cbRes = Search.pqResidualSampledCodebooks(frame(base),
    idCol, vecCol, seedCents, Dim, M, Ksub)
  private lazy val opqModel = Search.opqTrainCodebooks(frame(base), vecCol,
    Dim, M, Ksub, seed = 42L, maxIter = 5, opqIters = 2)

  /** The public lifecycle of one family, spelled through `Search`. */
  private case class Family(name: String, data: String,
      write: (DataFrame, String) => Long,
      append: (DataFrame, String) => Long,
      remove: (String, String, DataFrame) => Long,
      update: (String, String, DataFrame, DataFrame) => Long,
      compact: (String, String) => Long,
      refresh: (DataFrame, String, String) => Long)

  private lazy val families = Seq(
    Family("ivf", "vectors",
      (df, p) => Search.writeIvfIndex(df, vecCol, seedCents, p),
      (b, p) => Search.appendIvfIndex(b, idCol, vecCol, p),
      (s, d, ids) => Search.removeFromIvfIndex(spark, s, d, ids, idCol),
      (s, d, r, b) => Search.updateIvfIndex(spark, s, d, r, b, idCol, vecCol),
      (s, d) => Search.compactIvfIndex(spark, s, d),
      (df, s, d) => Search.refreshIvfIndex(df, idCol, vecCol, s, d,
        NClusters, "lc")),
    Family("pq", "codes",
      (df, p) => Search.pqWriteIndex(df, idCol, vecCol, cb, p),
      (b, p) => Search.appendPqIndex(b, idCol, vecCol, p),
      (s, d, ids) => Search.removeFromPqIndex(spark, s, d, ids, idCol),
      (s, d, r, b) => Search.updatePqIndex(spark, s, d, r, b, idCol, vecCol),
      (s, d) => Search.compactPqIndex(spark, s, d, targetFiles = 2),
      (df, s, d) => Search.refreshPqIndex(df, idCol, vecCol, s, d, Dim, M,
        Ksub)),
    Family("opq", "codes",
      (df, p) => Search.opqWriteIndex(df, idCol, vecCol, opqModel, p),
      (b, p) => Search.appendOpqIndex(b, idCol, vecCol, p),
      (s, d, ids) => Search.removeFromOpqIndex(spark, s, d, ids, idCol),
      (s, d, r, b) => Search.updateOpqIndex(spark, s, d, r, b, idCol, vecCol),
      (s, d) => Search.compactPqIndex(spark, s, d, targetFiles = 2),
      (df, s, d) => Search.refreshOpqIndex(df, idCol, vecCol, s, d, Dim, M,
        Ksub, seed = 42L, maxIter = 5, opqIters = 2)),
    Family("ivfpq", "codes",
      (df, p) => Search.writeIvfPqIndex(df, idCol, vecCol, seedCents, cb, p),
      (b, p) => Search.appendIvfPqIndex(b, idCol, vecCol, p),
      (s, d, ids) => Search.removeFromIvfPqIndex(spark, s, d, ids, idCol),
      (s, d, r, b) => Search.updateIvfPqIndex(spark, s, d, r, b, idCol,
        vecCol),
      (s, d) => Search.compactIvfPqIndex(spark, s, d),
      (df, s, d) => Search.refreshIvfPqIndex(df, idCol, vecCol, s, d,
        NClusters, Dim, M, Ksub, "lc")),
    Family("ivfpq_residual", "codes",
      (df, p) => Search.writeIvfPqResidualIndex(df, idCol, vecCol, seedCents,
        cbRes, p),
      (b, p) => Search.appendIvfPqResidualIndex(b, idCol, vecCol, p),
      (s, d, ids) => Search.removeFromIvfPqResidualIndex(spark, s, d, ids,
        idCol),
      (s, d, r, b) => Search.updateIvfPqResidualIndex(spark, s, d, r, b,
        idCol, vecCol),
      (s, d) => Search.compactIvfPqIndex(spark, s, d),
      (df, s, d) => Search.refreshIvfPqResidualIndex(df, idCol, vecCol, s, d,
        NClusters, Dim, M, Ksub, "lc")))

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** One pinned line describing `path` after a step. */
  private def observe(f: Family, step: String, path: String, rows: Long,
      jobs: Int): String = {
    val root = new java.io.File(path)
    val dirs = root.listFiles().filter(d => d.isDirectory &&
      !d.getName.startsWith("_") && !d.getName.startsWith(".")).sortBy(_.getName)
    val tags = dirs.flatMap { d =>
      val ts = d.list().filter(_.matches("_v\\d+")).sorted
      if (ts.isEmpty) None else Some(s"${d.getName}:${ts.map(_.drop(1)).mkString("+")}")
    }
    val marker =
      if (!new java.io.File(root, "model").isDirectory) "none"
      else {
        val g = SidecarParquet.readGroups(s"$path/model", hconf).head
        s"v${SidecarParquet.longAt(g, "model_version")}/" +
          SidecarParquet.stringAt(g, "family")
      }
    val enc =
      if (!new java.io.File(root, "encoding").isDirectory) "none"
      else SidecarParquet.stringAt(
        SidecarParquet.readGroups(s"$path/encoding", hconf).head, "encoding")
    val stored = spark.read.parquet(s"$path/${f.data}")
    val fp = stored.agg(coalesce(bit_xor(xxhash64(
      stored.columns.sorted.map(col).toIndexedSeq: _*)), lit(0L))).head().getLong(0)
    s"$step rows=$rows jobs=$jobs dirs=${dirs.map(_.getName).mkString(",")} " +
      s"tags=${tags.mkString(",")} marker=$marker enc=$enc fp=$fp"
  }

  /** Distinct ids stored in the data artifact of `path`. */
  private def storedIds(f: Family, path: String): Set[Long] =
    spark.read.parquet(s"$path/${f.data}").select(idCol).distinct()
      .collect().map(_.getLong(0)).toSet

  /** Run the lifecycle of `f`; returns one observed line per step. */
  private def run(f: Family): Seq[String] = {
    // the live corpus the steps imply: id -> vector
    var live = scala.collection.immutable.SortedMap(base: _*)
    val out = Seq.newBuilder[String]
    def step(name: String, path: String, want: Long = -1L)(
        body: => Long): Unit = {
      val (rows, jobs) = countJobs(body)
      val expect = if (want < 0) live.size.toLong else want
      assert(rows == expect, s"${f.name} $name returned $rows, expected $expect")
      assert(storedIds(f, path) == live.keySet, s"${f.name} $name: stored ids")
      out += observe(f, name, path, rows, jobs)
    }
    val p0 = tmp(s"lc-${f.name}-0")
    cb; cbRes; opqModel // models train outside the counted steps
    step("write", p0)(f.write(frame(base), p0))

    val batch = (80L until 110L).map(i => i -> vec(i))
    live = live ++ batch
    step("append", p0, want = 20L)(f.append(frame(batch), p0))

    val p1 = tmp(s"lc-${f.name}-1")
    live = live -- Seq(1L, 2L, 3L, 95L)
    step("remove", p1)(f.remove(p0, p1, idFrame(1L, 2L, 3L, 95L)))

    val p2 = tmp(s"lc-${f.name}-2")
    val refreshed = Seq(6L -> vec(206L), 7L -> vec(207L),
      110L -> vec(110L), 111L -> vec(111L))
    live = live -- Seq(4L, 5L) ++ refreshed
    step("update", p2)(f.update(p1, p2, idFrame(4L, 5L), frame(refreshed)))

    val p3 = tmp(s"lc-${f.name}-3")
    step("compact", p3)(f.compact(p2, p3))

    val p4 = tmp(s"lc-${f.name}-4")
    val corpus = frame(live.toSeq)
    step("refresh", p4)(f.refresh(corpus, p3, p4))

    val p5 = tmp(s"lc-${f.name}-5")
    live = live -- Seq(8L, 9L)
    step("remove-after-refresh", p5)(f.remove(p4, p5, idFrame(8L, 9L)))
    out.result()
  }

  /** Pinned per family and step (local[4], shuffle partitions 4, AQE on):
    * a moved value is a changed store layout, marker, encode or job count.
    */
  private val expected: Map[String, Seq[String]] = Map(
    "ivf" -> Seq(
      "write rows=90 jobs=6 dirs=centroids,driftstats,vectors " +
        "tags= marker=none enc=none fp=2798922393506168316",
      "append rows=20 jobs=9 dirs=centroids,driftstats,vectors " +
        "tags= marker=none enc=none fp=-6768755623290157986",
      "remove rows=106 jobs=3 dirs=centroids,vectors " +
        "tags= marker=none enc=none fp=8442097251495635409",
      "update rows=106 jobs=10 dirs=centroids,driftstats,vectors " +
        "tags= marker=none enc=none fp=-2969268774220682687",
      "compact rows=106 jobs=8 dirs=centroids,driftstats,vectors " +
        "tags= marker=none enc=none fp=-2969268774220682687",
      "refresh rows=106 jobs=8 dirs=centroids,driftstats,model,vectors " +
        "tags=centroids:v1,vectors:v1 marker=v1/ivf enc=none fp=-3764286630181963043",
      "remove-after-refresh rows=104 jobs=3 dirs=centroids,model,vectors " +
        "tags=centroids:v1,vectors:v1 marker=v1/ivf enc=none fp=-3015522842708398800"),
    "pq" -> Seq(
      "write rows=90 jobs=1 dirs=codebooks,codes " +
        "tags= marker=none enc=none fp=-5810388929876681146",
      "append rows=20 jobs=6 dirs=codebooks,codes " +
        "tags= marker=none enc=none fp=-1329186891351101398",
      "remove rows=106 jobs=3 dirs=codebooks,codes " +
        "tags= marker=none enc=none fp=8826929576612740311",
      "update rows=106 jobs=5 dirs=codebooks,codes " +
        "tags= marker=none enc=none fp=-6846148914279617779",
      "compact rows=106 jobs=7 dirs=codebooks,codes " +
        "tags= marker=none enc=none fp=-6846148914279617779",
      "refresh rows=106 jobs=5 dirs=codebooks,codes,model " +
        "tags=codebooks:v1,codes:v1 marker=v1/pq enc=none fp=-7169832799551293986",
      "remove-after-refresh rows=104 jobs=3 dirs=codebooks,codes,model " +
        "tags=codebooks:v1,codes:v1 marker=v1/pq enc=none fp=280035464731574089"),
    "opq" -> Seq(
      "write rows=90 jobs=1 dirs=codebooks,codes,rotation " +
        "tags= marker=none enc=none fp=1815009955493466161",
      "append rows=20 jobs=6 dirs=codebooks,codes,rotation " +
        "tags= marker=none enc=none fp=6845872846438202042",
      "remove rows=106 jobs=3 dirs=codebooks,codes,rotation " +
        "tags= marker=none enc=none fp=-6155541457751579159",
      "update rows=106 jobs=5 dirs=codebooks,codes,rotation " +
        "tags= marker=none enc=none fp=7949780549533320114",
      "compact rows=106 jobs=7 dirs=codebooks,codes,rotation " +
        "tags= marker=none enc=none fp=7949780549533320114",
      "refresh rows=106 jobs=131 dirs=codebooks,codes,model,rotation " +
        "tags=codebooks:v1,codes:v1,rotation:v1 marker=v1/opq enc=none fp=748822429672129362",
      "remove-after-refresh rows=104 jobs=3 dirs=codebooks,codes,model,rotation " +
        "tags=codebooks:v1,codes:v1,rotation:v1 marker=v1/opq enc=none fp=16198015893039548"),
    "ivfpq" -> Seq(
      "write rows=90 jobs=1 dirs=centroids,codebooks,codes " +
        "tags= marker=none enc=none fp=-4804570151843959634",
      "append rows=20 jobs=6 dirs=centroids,codebooks,codes " +
        "tags= marker=none enc=none fp=5940190155290302462",
      "remove rows=106 jobs=3 dirs=centroids,codebooks,codes " +
        "tags= marker=none enc=none fp=-6958480707194166477",
      "update rows=106 jobs=5 dirs=centroids,codebooks,codes " +
        "tags= marker=none enc=none fp=3683270357315827573",
      "compact rows=106 jobs=6 dirs=centroids,codebooks,codes " +
        "tags= marker=none enc=none fp=3683270357315827573",
      "refresh rows=106 jobs=7 dirs=centroids,codebooks,codes,model " +
        "tags=centroids:v1,codebooks:v1,codes:v1 marker=v1/ivfpq enc=none fp=5761516726647204503",
      "remove-after-refresh rows=104 jobs=3 dirs=centroids,codebooks,codes,model " +
        "tags=centroids:v1,codebooks:v1,codes:v1 marker=v1/ivfpq enc=none fp=5369194586848978340"),
    "ivfpq_residual" -> Seq(
      "write rows=90 jobs=1 dirs=centroids,codebooks,codes,encoding " +
        "tags= marker=none enc=fp_residual fp=3274473893453417211",
      "append rows=20 jobs=6 dirs=centroids,codebooks,codes,encoding " +
        "tags= marker=none enc=fp_residual fp=-8459660935295061858",
      "remove rows=106 jobs=3 dirs=centroids,codebooks,codes,encoding " +
        "tags= marker=none enc=fp_residual fp=3185855663941930001",
      "update rows=106 jobs=5 dirs=centroids,codebooks,codes,encoding " +
        "tags= marker=none enc=fp_residual fp=-9133061710733205334",
      "compact rows=106 jobs=6 dirs=centroids,codebooks,codes,encoding " +
        "tags= marker=none enc=fp_residual fp=-9133061710733205334",
      "refresh rows=106 jobs=7 dirs=centroids,codebooks,codes,encoding,model " +
        "tags=centroids:v1,codebooks:v1,codes:v1,encoding:v1 marker=v1/ivfpq_residual enc=fp_residual fp=2667019756587248300",
      "remove-after-refresh rows=104 jobs=3 dirs=centroids,codebooks,codes,encoding,model " +
        "tags=centroids:v1,codebooks:v1,codes:v1,encoding:v1 marker=v1/ivfpq_residual enc=fp_residual fp=-4024847235450511497"))

  test("five-family lifecycle: artifacts, tags, marker, encoding, counts and jobs are pinned per step") {
    val got = families.map(f => f.name -> run(f)).toMap
    val diff = families.map(_.name).flatMap { n =>
      val (g, e) = (got(n), expected.getOrElse(n, Nil))
      if (g == e) None
      else Some(s"$n:\n    got:\n      ${g.mkString("\n      ")}\n" +
        s"    pinned:\n      ${e.mkString("\n      ")}")
    }
    assert(diff.isEmpty, s"lifecycle pins differ:\n  ${diff.mkString("\n  ")}")
  }

  test("OPQ rewrites write the model marker once, last: a rewrite that dies before its last sidecar leaves no marker") {
    val corpus = frame((0L until 60L).map(i => i -> vec(i)))
    val (o0, o1, o2) = (tmp("mk-opq0"), tmp("mk-opq1"), tmp("mk-opq2"))
    Search.opqWriteIndex(corpus, idCol, vecCol, opqModel, o0)
    Search.refreshOpqIndex(corpus, idCol, vecCol, o0, o1, Dim, M, Ksub,
      seed = 42L, maxIter = 5, opqIters = 2)
    // the rotation sidecar is the last artifact an OPQ rewrite carries;
    // make its copy fail
    val rot = new java.io.File(o1, "rotation")
    rot.listFiles().foreach(_.delete())
    rot.delete()
    intercept[Exception] {
      Search.removeFromOpqIndex(spark, o1, o2, idFrame(1L), idCol) }
    assert(!new java.io.File(o2, "model").exists(),
      "a rewrite that failed before carrying every artifact published a marker")
  }

  test("CRUD refuses a torn source: remove/update/compact never launder a mid-swap store") {
    val corpus = frame((0L until 60L).map(i => i -> vec(i)))
    // a refreshed IVF store whose vectors carry another generation's tag
    val (i0, i1) = (tmp("torn-ivf0"), tmp("torn-ivf1"))
    Search.writeIvfIndex(corpus, vecCol, seedCents, i0)
    Search.refreshIvfIndex(corpus, idCol, vecCol, i0, i1, NClusters, "torn")
    java.nio.file.Files.delete(java.nio.file.Paths.get(i1, "vectors", "_v1"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(i1, "vectors", "_v99"))
    intercept[IllegalArgumentException] {
      Search.removeFromIvfIndex(spark, i1, tmp("torn-ivf2"), idFrame(1L), idCol) }
    // the same tear on a refreshed IVF-PQ store
    val (q0, q1) = (tmp("torn-pq0"), tmp("torn-pq1"))
    Search.writeIvfPqIndex(corpus, idCol, vecCol, seedCents, cb, q0)
    Search.refreshIvfPqIndex(corpus, idCol, vecCol, q0, q1, NClusters, Dim, M,
      Ksub, "torn")
    java.nio.file.Files.delete(java.nio.file.Paths.get(q1, "codes", "_v1"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(q1, "codes", "_v99"))
    intercept[IllegalArgumentException] {
      Search.updateIvfPqIndex(spark, q1, tmp("torn-pq2"), idFrame(1L),
        frame(Seq(2L -> vec(302L))), idCol, vecCol) }
    intercept[IllegalArgumentException] {
      Search.compactIvfPqIndex(spark, q1, tmp("torn-pq3")) }
  }
}
