package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{PathState, SidecarParquet, StoreParquet}
import Search.{OpqModel, PqCodebooks}

/** The lifecycle of the five persisted quantized vector-store families —
  * IVF, flat PQ, OPQ, IVF-PQ and residual IVF-PQ — written once over a
  * [[VectorFamily]] descriptor. `Search`'s public maintainers forward
  * here with their own name, which every refusal message carries, and
  * its `*FromIndex` readers open their store through [[open]].
  *
  * Store layout: one data artifact (`vectors` or `codes`, optionally
  * partitioned by `cluster_id`) plus frozen-model sidecars (centroids,
  * codebooks, rotation, encoding). Appends encode under the FROZEN models
  * and anti-join already-indexed ids, so replays are no-ops; remove,
  * update and compact rewrite into a NEW directory (job-commit
  * all-or-nothing, the source stays readable, the caller swaps
  * atomically) and carry the sidecars verbatim; refresh re-trains the
  * models and re-encodes the corpus into a new directory as the next
  * model generation.
  *
  * Model-version discipline: serving a store whose artifacts mix two
  * model generations — a subtree-level swap that died half-way — would be
  * silently wrong (codes encoded under one model decoded under another).
  * Refresh therefore tags every artifact directory with a hidden
  * `_v<version>` file and writes the `model` marker (version + family)
  * LAST; [[requireConsistentModel]] — run by every family's reader
  * (through [[open]]) and by every rewrite on its source — verifies all
  * tags agree with the marker and refuses loudly otherwise. Rewrites keep
  * the frozen model, so they carry the marker and tags to the destination,
  * marker last. Stores that were never refreshed carry no marker and skip
  * the check (zero cost). Only this module writes markers and tags.
  */
private[graft] object VectorStores {

  type Centroids = Seq[(Int, Array[Float])]

  /** One persisted vector-store family.
    *
    * @param family     the family name written to the `model` marker
    * @param data       the data artifact: `vectors` or `codes`
    * @param sidecars   frozen-model artifacts, carried verbatim by rewrites
    * @param partitioned whether `data` is partitioned by `cluster_id`
    * @param encoding   the required `encoding` sidecar value (None: absent)
    * @param writer     the public first-build name, for refusals
    * @param readModel  loads the frozen model from a store path
    * @param encode     (batch, idCol, vecCol, model) → rows of `data`
    * @param write      (corpus, idCol, vecCol, model, path) → rows written
    */
  final case class VectorFamily[M](family: String, data: String,
      sidecars: Seq[String], partitioned: Boolean, encoding: Option[String],
      writer: String,
      readModel: (SparkSession, String) => M,
      encode: (DataFrame, String, String, M) => DataFrame,
      write: (DataFrame, String, String, M, String) => Long) {
    def artifacts: Seq[String] = data +: sidecars
  }

  val Ivf: VectorFamily[Centroids] = VectorFamily("ivf", "vectors",
    Seq("centroids"), partitioned = true, encoding = None, "writeIvfIndex",
    Search.readIvfCentroids,
    (b, _, vec, cents) => Search.ivfAssign(b, vec, cents),
    (df, _, vec, cents, p) => Search.writeIvfIndex(df, vec, cents, p))

  val Pq: VectorFamily[PqCodebooks] = VectorFamily("pq", "codes",
    Seq("codebooks"), partitioned = false, encoding = None, "pqWriteIndex",
    Search.readPqCodebooks, Search.pqEncodedBytes, Search.pqWriteIndex)

  val Opq: VectorFamily[OpqModel] = VectorFamily("opq", "codes",
    Seq("codebooks", "rotation"), partitioned = false, encoding = None,
    "opqWriteIndex", Search.readOpqModel,
    (b, id, vec, m) => Search.pqEncodedBytes(
      Search.rotated(b, id, vec, m.rotation), id, vec, m.cb),
    Search.opqWriteIndex)

  private def ivfPqModel(spark: SparkSession,
      path: String): (Centroids, PqCodebooks) =
    (Search.readIvfCentroids(spark, path), Search.readPqCodebooks(spark, path))

  val IvfPq: VectorFamily[(Centroids, PqCodebooks)] = VectorFamily("ivfpq",
    "codes", Seq("centroids", "codebooks"), partitioned = true,
    encoding = None, "writeIvfPqIndex", ivfPqModel,
    (b, id, vec, m) => Search.ivfPqEncoded(b, id, vec, m._1, m._2),
    (df, id, vec, m, p) => Search.writeIvfPqIndex(df, id, vec, m._1, m._2, p))

  val IvfPqResidual: VectorFamily[(Centroids, PqCodebooks)] = VectorFamily(
    "ivfpq_residual", "codes", Seq("centroids", "codebooks", "encoding"),
    partitioned = true, encoding = Some("fp_residual"),
    "writeIvfPqResidualIndex", ivfPqModel,
    (b, id, vec, m) => Search.ivfPqResidualEncoded(b, id, vec, m._1, m._2),
    (df, id, vec, m, p) =>
      Search.writeIvfPqResidualIndex(df, id, vec, m._1, m._2, p))

  private val families: Seq[VectorFamily[_]] =
    Seq(Ivf, Pq, Opq, IvfPq, IvfPqResidual)

  private def hconf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  // ------------------------------------------------------ operations ---

  /** Append a batch under the frozen models: ids already in `data` are
    * anti-joined out (a column-pruned id scan), and the append itself is a
    * job-commit write — a batch is fully visible or not at all.
    *
    * @return number of NEW vectors appended (0 for a pure replay)
    */
  def append[M](f: VectorFamily[M], op: String, batch: DataFrame,
      idCol: String, vecCol: String, path: String): Long = {
    val spark = batch.sparkSession
    f.artifacts.foreach(a => StoreParquet.requireExisting(spark, s"$path/$a",
      s"$op requires an existing index at '$path' " +
        s"(${f.writer} first — appends need its frozen models)"))
    requireEncoding(f, spark, path, op)
    val model = f.readModel(spark, path)
    val existing = StoreParquet.open(spark, s"$path/${f.data}").select(col(idCol))
    val fresh = batch
      .join(existing, batch(idCol) === existing(idCol), "left_anti")
      .dropDuplicates(idCol).persist()
    try {
      val n = fresh.count()
      if (n > 0)
        writeData(f, f.encode(fresh, idCol, vecCol, model), path,
          SaveMode.Append)
      n
    } finally { fresh.unpersist(); () }
  }

  /** Copy the store minus `removeIds` into `dstPath`; deletion moves no
    * model, so the sidecars carry verbatim.
    *
    * @return number of surviving vectors
    */
  def remove[M](f: VectorFamily[M], op: String, spark: SparkSession,
      srcPath: String, dstPath: String, removeIds: DataFrame,
      idCol: String): Long =
    rewrite(f, op, spark, srcPath, dstPath) {
      val drop = removeIds.select(col(idCol)).distinct()
      writeCounted(survivors(f, spark, srcPath, drop, idCol),
        s"$dstPath/${f.data}", partitionCol(f))
    }

  /** Fused update: the source minus `retireIds` minus the refresh batch's
    * ids, plus the batch encoded under the frozen models, in ONE write
    * (not a remove rewrite followed by an append).
    *
    * @return number of vectors in the new index
    */
  def update[M](f: VectorFamily[M], op: String, spark: SparkSession,
      srcPath: String, dstPath: String, retireIds: DataFrame,
      refreshBatch: DataFrame, idCol: String, vecCol: String): Long =
    rewrite(f, op, spark, srcPath, dstPath) {
      val model = f.readModel(spark, srcPath)
      val fresh = refreshBatch.dropDuplicates(idCol)
      val drop = retireIds.select(col(idCol))
        .unionByName(fresh.select(col(idCol))).distinct()
      writeCounted(survivors(f, spark, srcPath, drop, idCol)
          .unionByName(f.encode(fresh, idCol, vecCol, model)),
        s"$dstPath/${f.data}", partitionCol(f))
    }

  /** Rewrite the data artifact against small-file drift: a partitioned
    * store is laid out per cluster ([[Search.clusterCompactionLayout]]),
    * a flat one into `targetFiles` id-range-sorted files (id probes prune
    * on row-group stats). Rows are parity-checked against the source.
    *
    * @return number of vectors in the compacted index
    */
  def compact[M](f: VectorFamily[M], op: String, spark: SparkSession,
      srcPath: String, dstPath: String, targetFiles: Int): Long = {
    require(targetFiles > 0, s"${if (f.partitioned) "targetFilesPerCluster"
      else "targetFiles"} must be positive, got $targetFiles")
    rewrite(f, op, spark, srcPath, dstPath) {
      val src = StoreParquet.open(spark, s"$srcPath/${f.data}")
      val n = src.count()
      val idCol = src.columns.find(c => c != "cluster_id" && c != "pq_codes").head
      val dst = s"$dstPath/${f.data}"
      val out =
        if (!f.partitioned)
          StoreParquet.rewriteSorted(src, Seq(col(idCol)), targetFiles, dst)
        else {
          // nClusters from a driver-side sidecar read, evaluated only when
          // the per-cluster file budget needs it
          writeData(f, Search.clusterCompactionLayout(src, idCol,
            SidecarParquet.readGroups(s"$srcPath/centroids", hconf(spark))
              .size.toLong, targetFiles), dstPath, SaveMode.Overwrite)
          StoreParquet.open(spark, dst).count()
        }
      require(out == n,
        s"${f.data} compaction row mismatch: source $n, got $out")
      out
    }
  }

  /** Re-train the models on the current corpus (`train`) and re-encode it
    * in full into a NEW directory as model version = source version + 1:
    * every artifact tagged, the `model` marker written last.
    *
    * @return number of vectors in the refreshed index
    */
  def refresh[M](f: VectorFamily[M], op: String, df: DataFrame,
      idCol: String, vecCol: String, srcPath: String, dstPath: String)(
      train: => M): Long = {
    val spark = df.sparkSession
    StoreParquet.requireNewDirectory(op, srcPath, dstPath)
    StoreParquet.requireExisting(spark, s"$srcPath/${f.data}",
      s"$op requires an existing index at '$srcPath' — a first build is " +
        f.writer)
    requireEncoding(f, spark, srcPath, op)
    val version = readModelVersion(spark, srcPath) + 1
    val n = f.write(df, idCol, vecCol, train, dstPath)
    f.artifacts.foreach(a => tagModelVersion(s"$dstPath/$a", version,
      hconf(spark)))
    writeModelMarker(spark, dstPath, version, f.family)
    n
  }

  /** The new-directory skeleton of remove/update/compact: refuse an
    * in-place rewrite, a store of another encoding and a torn source
    * (before anything is written), run `body`, then carry the sidecars
    * and the model generation — marker last.
    */
  private def rewrite[M](f: VectorFamily[M], op: String,
      spark: SparkSession, srcPath: String, dstPath: String)(
      body: => Long): Long = {
    StoreParquet.requireNewDirectory(op, srcPath, dstPath)
    requireEncoding(f, spark, srcPath, op)
    requireConsistentModel(spark, srcPath, op)
    val n = body
    f.sidecars.foreach(s => copySidecarFiles(spark, s"$srcPath/$s",
      s"$dstPath/$s"))
    carryModelMarker(spark, srcPath, dstPath, f.artifacts)
    n
  }

  private def survivors[M](f: VectorFamily[M], spark: SparkSession,
      srcPath: String, drop: DataFrame, idCol: String): DataFrame =
    StoreParquet.open(spark, s"$srcPath/${f.data}")
      .join(drop, Seq(idCol), "left_anti")

  private def partitionCol[M](f: VectorFamily[M]): Option[String] =
    if (f.partitioned) Some("cluster_id") else None

  /** Write `df` as the data artifact of the store at `path`. */
  private def writeData[M](f: VectorFamily[M], df: DataFrame, path: String,
      mode: SaveMode): Unit = {
    val w = df.write.mode(mode)
    partitionCol(f).fold(w)(c => w.partitionBy(c)).parquet(s"$path/${f.data}")
  }

  /** The one read entry of every family's `*FromIndex` reader: refuse a
    * store of another encoding or a torn model generation (driver-side,
    * zero jobs), load the frozen model, and open the data artifact
    * through [[StoreParquet]]. A partitioned family opens only the
    * directories of the clusters `probe` picks from the model, and keeps
    * `cluster_id IN (…)` as the plan's partition filter; a flat family
    * ignores `probe`.
    *
    * @return (model, probed cluster ids — empty for a flat family, data)
    */
  def open[M](f: VectorFamily[M], op: String, spark: SparkSession,
      path: String)(probe: M => Seq[Int]): (M, Seq[Int], DataFrame) = {
    requireEncoding(f, spark, path, op)
    requireConsistentModel(spark, path, op)
    val model = f.readModel(spark, path)
    val dir = s"$path/${f.data}"
    if (!f.partitioned) (model, Nil, StoreParquet.open(spark, dir))
    else {
      val ids = probe(model)
      (model, ids, StoreParquet.openPartitions(spark, dir, "cluster_id", ids)
        .where(col("cluster_id").isin(ids: _*)))
    }
  }

  /** Refuse a store whose `encoding` sidecar (absent on plain stores,
    * `fp_residual` on residual IVF-PQ ones) is not `f`'s, so the plain and
    * residual ADC semantics can never be crossed.
    */
  private def requireEncoding[M](f: VectorFamily[M], spark: SparkSession,
      path: String, op: String): Unit = {
    val enc =
      if (!PathState.hasData(s"$path/encoding", hconf(spark))) None
      else Some(SidecarParquet.stringAt(SidecarParquet.readGroups(
        s"$path/encoding", hconf(spark)).head, "encoding"))
    require(enc == f.encoding,
      s"$op expects a ${f.writer} store (encoding " +
        s"'${f.encoding.getOrElse("none")}') but '$path' is encoded " +
        s"'${enc.getOrElse("none")}' — use the family that wrote it")
  }

  // ---------------------------------------------- marker protocol ---

  /** The model version of a store: the `model` marker's, 0 if none. */
  def readModelVersion(spark: SparkSession, path: String): Long =
    if (PathState.hasData(s"$path/model", hconf(spark)))
      SidecarParquet.longAt(SidecarParquet.readGroups(s"$path/model",
        hconf(spark)).head, "model_version")
    else 0L

  private def writeModelMarker(spark: SparkSession, path: String,
      version: Long, family: String): Unit =
    // driver-local values → driver-side parquet write, zero jobs
    SidecarParquet.writeFlat(s"$path/model", hconf(spark),
      Seq("model_version" -> "long", "family" -> "string"),
      Seq(Seq(version, family)))

  private def tagModelVersion(dir: String, version: Long,
      hconf: Configuration): Unit = {
    val p = new Path(dir, s"_v$version")
    p.getFileSystem(hconf).create(p, true).close()
  }

  /** Distinct `_v<n>` tags present in an artifact dir (None = dir absent). */
  private def artifactTags(dir: String,
      hconf: Configuration): Option[Set[Long]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("_v") && n.drop(2).nonEmpty &&
        n.drop(2).forall(_.isDigit))
      .map(_.drop(2).toLong).toSet)
  }

  /** Refuse a store whose artifacts carry another generation's tags than
    * its `model` marker. Driver-side (KB marker, one listing per
    * artifact), zero Spark jobs; unmarked stores return at once.
    */
  private def requireConsistentModel(spark: SparkSession, path: String,
      op: String): Unit = {
    val version = readModelVersion(spark, path)
    if (version > 0) families.flatMap(_.artifacts).distinct.foreach { a =>
      artifactTags(s"$path/$a", hconf(spark)).foreach { tags =>
        require(tags == Set(version),
          s"$op: '$path/$a' carries model tag(s) " +
            s"${if (tags.isEmpty) "NONE" else tags.toSeq.sorted.map("v" + _).mkString(",")} " +
            s"but the index marker says v$version — a mid-swap store (one " +
            "generation's artifact under another generation's model); " +
            "refusing to serve it")
      }
    }
  }

  /** Carry a refreshed store's artifact tags and marker (rewritten last)
    * through a new-directory rewrite: the destination is the SAME model
    * generation and must say so, or one update after a refresh would
    * silently drop the mid-swap protection. Legacy sources (no marker)
    * carry nothing.
    */
  private def carryModelMarker(spark: SparkSession, srcPath: String,
      dstPath: String, artifacts: Seq[String]): Unit =
    if (PathState.hasData(s"$srcPath/model", hconf(spark))) {
      val row = SidecarParquet.readGroups(s"$srcPath/model", hconf(spark)).head
      val version = SidecarParquet.longAt(row, "model_version")
      artifacts.foreach { a =>
        val p = new Path(s"$dstPath/$a")
        if (p.getFileSystem(hconf(spark)).exists(p))
          tagModelVersion(s"$dstPath/$a", version, hconf(spark))
      }
      writeModelMarker(spark, dstPath, version,
        SidecarParquet.stringAt(row, "family"))
    }

  /** Verbatim sidecar carry-over as a DRIVER-SIDE byte copy of the parquet
    * data files, `_SUCCESS` last so a torn copy never classifies as a
    * complete sidecar. Sidecars are model-scale (KBs), so a distributed
    * read+write would be two Spark jobs of pure overhead per operation.
    * Version tags and markers (`_`-files) are not copied; the caller
    * writes them afterwards.
    */
  def copySidecarFiles(spark: SparkSession, src: String, dst: String): Unit = {
    val srcP = new Path(src)
    val fs = srcP.getFileSystem(hconf(spark))
    val dstP = new Path(dst)
    if (fs.exists(dstP)) { fs.delete(dstP, true); () }
    fs.mkdirs(dstP)
    fs.listStatus(srcP).filter(_.isFile)
      .filter { f =>
        val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      .foreach { f =>
        FileUtil.copy(fs, f.getPath, fs, new Path(dstP, f.getPath.getName),
          false, hconf(spark))
      }
    val success = new Path(srcP, "_SUCCESS")
    if (fs.exists(success)) {
      FileUtil.copy(fs, success, fs, new Path(dstP, "_SUCCESS"), false,
        hconf(spark))
      ()
    }
  }

  /** Write `df` and return the row count observed ON the write job — no
    * read-back job; the (all-or-nothing, job-committed) write landed
    * exactly those rows.
    */
  def writeCounted(df: DataFrame, path: String,
      partitionCol: Option[String] = None,
      mode: SaveMode = SaveMode.Overwrite): Long = {
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, count(lit(1)).as("rows")).write.mode(mode)
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }
}
