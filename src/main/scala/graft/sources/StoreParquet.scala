package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** ZERO-JOB opener for graft-written parquet stores — [[SidecarParquet]]'s
  * twin for DATA-scale stores (vectors, codes, postings, weights, sketch
  * blobs). A bare `spark.read.parquet(dir)` infers the schema with a
  * footer-merge Spark job (one footer, read on an executor) on EVERY
  * open, and a store with more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * partition directories adds a parallel-listing job on top — two or
  * three scheduler round-trips before the read itself runs. Serve paths
  * open their stores once per query, so that fixed cost was most of an
  * interactive query's latency.
  *
  * This reads ONE data file's footer on the driver and converts it with
  * Spark's own conversion (`ParquetFileFormat.readSchemaFromFooter` — the
  * Spark schema stored in the footer, else `ParquetToSparkSchemaConverter`
  * under the session conf): the same code, on the same bytes, that the
  * inference job runs with `mergeSchema` off. The read then passes that
  * schema, so Spark skips inference; partition columns are still
  * discovered from the directory names exactly as before, and the
  * resulting DataFrame schema equals the inferred one (pinned per store
  * family in StoreParquetSpec).
  *
  * A path with no visible data file (missing, `_SUCCESS`-only) or whose
  * footer cannot be read (corrupt) falls through to the plain inferring
  * read, so it fails with exactly the error it always did; so does a
  * session with `mergeSchema` on, where inference reads every footer.
  *
  * Operators open their stores through its two gates, [[openAppendable]]
  * and [[openExisting]]; compactors rewrite a leg with [[rewriteSorted]].
  */
object StoreParquet {

  /** A single store directory (or file). */
  def open(spark: SparkSession, store: String): DataFrame =
    read(spark, Seq(store), basePath = None)

  /** Selected sub-directories of a partitioned store, opened under
    * `basePath = root` so the partition columns stay in the schema.
    */
  def open(spark: SparkSession, root: String, dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, s"StoreParquet.open: no directories under '$root'")
    read(spark, dirs, basePath = Some(root))
  }

  /** The `partCol=value` directories of `root` for the wanted values that
    * EXIST, opened under `basePath = root`: a probed scan lists (and
    * plans over) only its own partitions, so a store with many clusters
    * never crosses the parallel-discovery threshold. Callers keep their
    * `partCol IN (...)` filter — pruning still shows in the plan's
    * PartitionFilters, and the filter is what makes the fallbacks below
    * exact:
    *   - none of the wanted directories exists: one existing partition
    *     is opened so the schema holds, and the filter prunes it away
    *     (the same empty answer the whole-store scan gave);
    *   - no partition directory at all (or no root): the whole-store
    *     open, with its usual result or error.
    */
  def openPartitions(spark: SparkSession, root: String, partCol: String,
      values: Seq[Any]): DataFrame = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present =
      if (!fs.exists(rootP) || !fs.getFileStatus(rootP).isDirectory) Seq.empty[String]
      else fs.listStatus(rootP).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith(s"$partCol=")).sorted
    val wanted = values.map(v => s"$partCol=$v").toSet
    val probed = present.filter(wanted)
    val dirs = if (probed.nonEmpty) probed else present.take(1)
    if (dirs.isEmpty) open(spark, root)
    else open(spark, root, dirs.map(d => new Path(rootP, d).toString))
  }

  /** The append-or-create gate: whether `path` holds a store yet; visible
    * non-parquet content is refused with `refusal`.
    */
  private[graft] def appendable(spark: SparkSession, path: String,
      refusal: => String): Boolean = {
    val state = PathState.classify(path, spark.sparkContext.hadoopConfiguration)
    require(state != PathState.Foreign, refusal)
    state == PathState.Data
  }

  private[graft] def openAppendable(spark: SparkSession, path: String,
      refusal: => String): Option[DataFrame] =
    if (appendable(spark, path, refusal)) Some(open(spark, path)) else None

  /** The must-exist gate: anything but a store at `path` is refused. */
  private[graft] def requireExisting(spark: SparkSession, path: String,
      refusal: => String): Unit =
    require(PathState.hasData(path, spark.sparkContext.hadoopConfiguration), refusal)

  private[graft] def openExisting(spark: SparkSession, path: String,
      refusal: => String): DataFrame = {
    requireExisting(spark, path, refusal)
    open(spark, path)
  }

  /** A rewrite writes a NEW directory; the caller swaps it in atomically. */
  private[graft] def requireNewDirectory(op: String, src: String, dst: String): Unit =
    require(src != dst, s"$op writes a NEW directory (caller swaps atomically)")

  /** The typed zero-row frame read for a store not written yet. */
  private[graft] def emptyStore(spark: SparkSession,
      cols: (String, String)*): DataFrame =
    cols.foldLeft(spark.emptyDataFrame) { case (df, (c, t)) =>
      df.withColumn(c, lit(null).cast(t)) }.limit(0)

  /** One compaction leg: `df` range-sorted on `keys` into `files` files over
    * `dir`; returns the rows read back at `countAt` (default `dir`).
    */
  private[graft] def rewriteSorted(df: DataFrame, keys: Seq[Column], files: Int,
      dir: String, countAt: Option[String] = None): Long = {
    df.repartitionByRange(files, keys: _*).sortWithinPartitions(keys: _*)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    open(df.sparkSession, countAt.getOrElse(dir)).count()
  }

  private def read(spark: SparkSession, paths: Seq[String],
      basePath: Option[String]): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val reader = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    val footerFile =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else paths.iterator.map(p => firstDataFile(new Path(p), hconf))
        .collectFirst { case Some(f) => f }
    footerFile.flatMap(f => footerSchema(spark, f, hconf)) match {
      case Some(schema) => reader.schema(schema).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  /** The Spark schema of one parquet file, read on the driver; None when
    * the footer cannot be read (a corrupt or truncated file), so the open
    * falls through to the inferring read and fails as it always did.
    */
  private def footerSchema(spark: SparkSession, f: FileStatus,
      hconf: Configuration): Option[StructType] =
    try {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hconf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    } catch { case NonFatal(_) => None }

  /** Spark's hidden-path rule (a `_`-prefixed name is hidden unless it is
    * a `k=v` partition directory; `.`-prefixed names and in-flight
    * `._COPYING_` files always are).
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** First visible data file at or below `p`, files before sub-directories,
    * both by name; None when `p` is absent or holds no data file.
    */
  private def firstDataFile(p: Path, hconf: Configuration): Option[FileStatus] = {
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) return None
    val st = fs.getFileStatus(p)
    if (st.isFile) return Some(st)
    val (files, dirs) = fs.listStatus(p).toSeq
      .filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.getName).partition(_.isFile)
    files.headOption.orElse(
      dirs.iterator.map(d => firstDataFile(d.getPath, hconf))
        .collectFirst { case Some(f) => f })
  }
}
