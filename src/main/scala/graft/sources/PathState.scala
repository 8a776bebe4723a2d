package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Shared explicit filesystem classification for graft's parquet stores,
  * and the one visible-file walk under it. Never classifies by
  * exception-message matching — that shifts across Spark versions/locales.
  *
  * States:
  *   - `Empty`   — path absent, or present with no VISIBLE files (only
  *     `_SUCCESS`/`_temporary`/dot-files from a failed or completed commit):
  *     safe to treat as "nothing written yet";
  *   - `Data`    — visible parquet data files present: read them (corrupt
  *     footers then fail the read loudly, as they should);
  *   - `Foreign` — visible NON-parquet files present: refuse to append into
  *     a directory that isn't this sink's own layout.
  *
  * Visibility is judged on path components RELATIVE to the target (so an
  * index stored under a dot-directory ancestor like `~/.cache/idx` is not
  * misclassified as hidden — only components BELOW the target count).
  *
  * Users: [[StoreParquet]]'s two store gates (every operator's store
  * open), the sidecar and ledger presence checks, and through
  * [[visibleParquet]] `Search.dataFileCount`, `Search.storeFingerprint` and
  * `Layout`'s compaction sizing.
  */
object PathState extends Enumeration {
  val Empty, Data, Foreign = Value

  def classify(path: String, hadoopConf: Configuration): Value = {
    var state = Empty
    val it = visibleFiles(path, hadoopConf)
    while (state != Data && it.hasNext)
      state = if (it.next()._2.getPath.getName.endsWith(".parquet")) Data else Foreign
    state
  }

  /** Whether `path` holds visible parquet data (a store, ledger or sidecar). */
  private[graft] def hasData(path: String, hadoopConf: Configuration): Boolean =
    classify(path, hadoopConf) == Data

  /** The one recursive listing: every file at or below `path` with its
    * relative path, minus those under a `_`- or `.`-prefixed component
    * (in-flight or crash-orphaned `_temporary/…` files). Lazy, so
    * [[classify]] stops at its first parquet file.
    */
  private def visibleFiles(path: String,
      hadoopConf: Configuration): Iterator[(String, FileStatus)] = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(hadoopConf)
    if (!fs.exists(hPath)) Iterator.empty
    else {
      val rootUri = fs.makeQualified(hPath).toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(hPath, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => f.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/") -> f)
        .filterNot(_._1.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
    }
  }

  /** (relative path, status) of every visible parquet file under `path`. */
  private[graft] def visibleParquet(path: String,
      hadoopConf: Configuration): Seq[(String, FileStatus)] =
    visibleFiles(path, hadoopConf).filter(_._2.getPath.getName.endsWith(".parquet")).toSeq
}
