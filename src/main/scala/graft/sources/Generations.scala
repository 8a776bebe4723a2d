package graft.sources

import org.apache.hadoop.fs.{FileContext, Options, Path}

/** Atomic generation publication for the engine's persisted stores — the
  * concrete "caller swaps atomically" that every new-directory writer
  * (`removeFrom*` / `update*` / `refresh*` / `compact*`,
  * `compactSoftDedupWeights`, …) defers to. Layout under a catalog root:
  *
  *   root/gen-<n>/…     generation directories (any store layout inside)
  *   root/_current      one-line pointer: the live generation's NAME,
  *                      replaced by an ATOMIC RENAME (FileContext with
  *                      Rename.OVERWRITE — atomic on HDFS and local), so
  *                      a reader never observes a partial pointer and a
  *                      crash mid-publish leaves the OLD pointer intact
  *                      (the new generation is simply unreferenced and a
  *                      retry re-publishes it).
  *
  * Why a pointer and not an in-place directory swap: the stores are read
  * by long-running queries — an in-place rename yanks files out from
  * under an in-flight scan. Here a query RESOLVES once (one tiny read),
  * then reads its resolved directory undisturbed however many publishes
  * happen meanwhile; reclaiming superseded generations is a separate,
  * explicitly-deferred [[vacuum]] so publication never races a reader.
  * The underscore pointer name keeps it invisible to Spark's readers and
  * [[PathState]] if the root is ever scanned directly.
  *
  * Single-writer assumption (the engine's store discipline throughout):
  * one publisher per catalog root; readers are unlimited.
  */
object Generations {

  private val Pointer = "_current"
  private val GenPrefix = "gen-"

  private def fc(p: Path, conf: org.apache.hadoop.conf.Configuration) =
    FileContext.getFileContext(p.toUri, conf)

  /** Generation names present under the root, ascending by sequence.
    * Only `gen-<n>` with `n` an ASCII-digit non-negative Long counts: a
    * stray `gen-` or an out-of-range digit run is skipped, never parsed
    * into a NumberFormatException that would wedge every tick on the root.
    */
  def history(root: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(conf)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(GenPrefix))
      .flatMap(name => Some(name.stripPrefix(GenPrefix))
        .filter(_.forall(c => c >= '0' && c <= '9')).flatMap(_.toLongOption)
        .map(_ -> name))
      .sortBy(_._1).map(_._2)
  }

  /** Allocate the next generation directory (created empty, NOT yet
    * published): writers build the store inside it, then [[publish]].
    * A crash after staging leaves an unpublished dir the next [[vacuum]]
    * (or a re-stage — sequence numbers only grow) cleans up.
    */
  def stage(root: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val next = history(root, conf).lastOption
      .map(_.stripPrefix(GenPrefix).toLong + 1).getOrElse(0L)
    val dir = new Path(root, s"$GenPrefix$next")
    dir.getFileSystem(conf).mkdirs(dir)
    dir.toString
  }

  /** Swing the pointer to `genDir` (a staged child of `root` holding
    * data). The write is temp-file + atomic overwrite-rename: readers see
    * either the old pointer or the new one, never a torn write.
    *
    * @return the published generation name
    */
  def publish(root: String, genDir: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val gp = new Path(genDir)
    val name = gp.getName
    require(name.startsWith(GenPrefix),
      s"'$genDir' is not a staged generation directory (stage() names them)")
    // qualify BOTH sides through the root's filesystem (ADVICE r14): a
    // relative or differently-qualified-but-identical root must pass, and
    // a genDir on a different filesystem must fail, so the comparison is
    // full qualified-Path equality, not a raw path-string one
    val rootFs = new Path(root).getFileSystem(conf)
    require(rootFs.makeQualified(gp).getParent ==
      rootFs.makeQualified(new Path(root)),
      s"'$genDir' is not a child of the catalog root '$root'")
    require(PathState.hasData(genDir, conf),
      s"'$genDir' holds no parquet data — refusing to publish an empty " +
        "or foreign generation")
    val rp = new Path(root)
    val tmp = new Path(rp, s"$Pointer.tmp")
    val cur = new Path(rp, Pointer)
    val fs = rp.getFileSystem(conf)
    val out = fs.create(tmp, true)
    out.write(name.getBytes("UTF-8"))
    out.close()
    fc(rp, conf).rename(tmp, cur, Options.Rename.OVERWRITE)
    name
  }

  /** The live generation's absolute path. Refuses loudly when nothing
    * was ever published or the pointer names a vanished directory (a
    * vacuum bug, not a state to guess around).
    */
  def resolve(root: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val rp = new Path(root)
    val cur = new Path(rp, Pointer)
    val fs = rp.getFileSystem(conf)
    require(fs.exists(cur),
      s"catalog '$root' has no published generation (publish() first)")
    val in = fs.open(cur)
    val name = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    val dir = new Path(rp, name)
    require(fs.exists(dir),
      s"catalog '$root' points at '$name' which does not exist — " +
        "was it vacuumed while current?")
    dir.toString
  }

  /** Delete superseded generations, keeping the CURRENT one (always —
    * deleting it is refused even via `keep = 0`) plus the `keep` highest
    * other sequence numbers (staged-but-unpublished dirs count as
    * candidates too — a crashed publish's leftovers age out the same
    * way). Run this only after in-flight readers of old generations have
    * drained — the whole point of the pointer design is that vacuum is a
    * SEPARATE decision from publish.
    *
    * @return names deleted, ascending
    */
  def vacuum(root: String, keep: Int,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    val current = new Path(resolve(root, conf)).getName
    val others = history(root, conf).filterNot(_ == current)
    val doomed = others.dropRight(keep)
    val rp = new Path(root)
    val fs = rp.getFileSystem(conf)
    doomed.foreach { name =>
      require(name != current, s"refusing to vacuum the live generation $name")
      fs.delete(new Path(rp, name), true)
    }
    doomed
  }
}
