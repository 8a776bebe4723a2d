package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-inventory gate for store opens (modelled on
  * [[CollectInventorySpec]]): every parquet store an operator writes is
  * opened through [[graft.sources.StoreParquet]], which reads the schema
  * from one footer on the driver. A bare `spark.read.parquet(store)` —
  * or its `.read.option(...).parquet(...)` spelling — silently brings
  * back a schema-inference Spark job per open (and a parallel-listing job
  * past 32 partition directories). This scans `graft/operators` for that
  * spelling, outside comments, and fails on any site not in the
  * allow-list below: reads of CALLER-SUPPLIED input, whose layout graft
  * does not own. A read that passes its own schema
  * (`.read.schema(s).parquet(...)`) runs no inference and is not matched.
  *
  * A second pattern set keeps the vector-store marker protocol in one
  * module: outside comments, `tagModelVersion(`, `writeModelMarker(` and
  * `carryModelMarker(` may appear only in
  * `graft/operators/VectorStores.scala`, so a new store family reuses the
  * generic lifecycle instead of forking the marker-last protocol.
  *
  * A third keeps the generation publish protocol in one place: outside
  * comments, `Generations.stage(`, `Generations.publish(` and
  * `QuiescenceRefusal.refuseUnless(` appear in `graft/operators` and
  * `graft/streaming` only in `graft/operators/Maintenance.scala`, once
  * each — every maintenance policy publishes through its one tick.
  *
  * A fourth keeps one Spark job counter: outside comments, a listener is
  * declared or attached (`SparkListener {`, `extends SparkListener`,
  * `addSparkListener(`) under `src/main/scala` and `src/test/scala` only
  * in [[org.apache.spark.sql.graft.SparkJobs]] and its spec's bus stall.
  *
  * A fifth keeps one read path for the vector stores: outside comments,
  * the read guards `requireEncoding(` and `requireConsistentModel(` appear
  * under `graft/operators` only in `graft/operators/VectorStores.scala`
  * (every `*FromIndex` reader opens through `VectorStores.open`), and no
  * `def …FromCatalog` exists under `src/main/scala` — a catalog read is
  * the reader over `Generations.resolve(root, hconf)`.
  *
  * A sixth keeps one banded-hash core and one streaming sink wiring:
  * outside comments, `shiftrightunsigned(` (the bit-band projection)
  * appears once under `graft/operators` — in `Dedup`'s shared band
  * helper — and `.foreachBatch {` appears once in
  * `graft/streaming/Streams.scala`.
  *
  * A seventh keeps one store gate and one visible-file walk: outside
  * comments, under `graft/operators`, `graft/sources` and
  * `graft/streaming`, `PathState.Foreign` appears only in
  * `graft/sources/` (operators open their stores through
  * `StoreParquet`'s append-or-create and must-exist gates), and a
  * recursive `listFiles(…, true)` appears once, in
  * `graft/sources/PathState.scala`.
  */
class StoreReadInventorySpec extends AnyFunSuite {

  /** file (relative to src/main/scala) -> allowed bare reads, and why */
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/operators/Layout.scala" -> (2,
      "compactParquet / zOrderParquet rewrite an arbitrary caller directory"))

  private val bareRead =
    """\.read\s*(\.\s*option\s*\([^()]*\)\s*)*\.\s*parquet\s*\(""".r

  /** Source text minus `//` and scaladoc/block-comment lines. */
  private def code(src: String): String =
    src.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .map(l => l.indexOf("// ") match { case -1 => l; case i => l.take(i) })
      .mkString("\n")

  private val markerProtocol =
    """\b(tagModelVersion|writeModelMarker|carryModelMarker)\s*\(""".r

  private val markerHome = "graft/operators/VectorStores.scala"

  private val publishProtocol =
    """\b(Generations\s*\.\s*(stage|publish)|QuiescenceRefusal\s*\.\s*refuseUnless)\s*\(""".r

  private val publishHome = "graft/operators/Maintenance.scala"

  private val listenerSpelling =
    """(SparkListener\s*\{|\bextends\s+SparkListener\b|\baddSparkListener\s*\()""".r
  private val counterHome = "org/apache/spark/sql/graft/SparkJobs.scala"
  private val stallHome = "graft/SparkJobsSpec.scala"

  private val readGuards =
    """\b(requireEncoding|requireConsistentModel)\s*(\[[^\]]*\])?\s*\(""".r
  private val readHome = "graft/operators/VectorStores.scala"
  private val catalogTwin = """\bdef\s+\w*FromCatalog\w*""".r

  private val bandProjection = """\bshiftrightunsigned\s*\(""".r
  private val bandHome = "graft/operators/Dedup.scala"
  private val sinkWiring = """\.\s*foreachBatch\s*\{""".r
  private val sinkHome = "graft/streaming/Streams.scala"

  private val foreignState = """\bPathState\s*\.\s*Foreign\b""".r
  private val recursiveListing =
    """\blistFiles\s*\((?:[^()]|\([^()]*\))*,\s*true\s*\)""".r
  private val gateDirs = Seq("graft/operators", "graft/sources", "graft/streaming")
  private val walkHome = "graft/sources/PathState.scala"

  private val root = java.nio.file.Paths.get("src/main/scala")
  private val testRoot = java.nio.file.Paths.get("src/test/scala")

  /** file (relative to `in`) -> matches of `pattern` outside comments,
    * for every .scala file under `dir` with at least one.
    */
  private def scan(dir: String, pattern: scala.util.matching.Regex,
      in: java.nio.file.Path = root): Map[String, Int] = {
    val base = in.resolve(dir)
    assert(java.nio.file.Files.isDirectory(base),
      s"expected to run from the repo root, cwd=${sys.props("user.dir")}")
    val counts = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(base).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val n = pattern.findAllMatchIn(code(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))).size
        if (n > 0) counts(in.relativize(p).toString) = n
      }
      ()
    }
    counts.toMap
  }

  test("every bare .read.parquet( in graft/operators is an allow-listed caller-input read") {
    val counts = scan("graft/operators", bareRead)
    val diff = (counts.keySet ++ allowed.keySet).toSeq.sorted.flatMap { f =>
      (counts.getOrElse(f, 0), allowed.get(f).fold(0)(_._1)) match {
        case (o, a) if o == a => None
        case (o, a) => Some(s"$f: $o bare read(s) in source vs $a allow-listed")
      }
    }
    assert(diff.isEmpty,
      "open graft-written stores with graft.sources.StoreParquet (no " +
        "schema-inference job); allow-list only reads of caller-supplied " +
        s"input, with the reason:\n  ${diff.mkString("\n  ")}")
  }

  test("the vector-store marker protocol is spelled only in VectorStores.scala") {
    val counts = scan("graft", markerProtocol)
    val outside = counts.keySet - markerHome
    assert(outside.isEmpty,
      "tagModelVersion / writeModelMarker / carryModelMarker belong to " +
        s"$markerHome (run the generic lifecycle over a VectorFamily " +
        s"descriptor instead of forking it); found in: ${outside.toSeq.sorted.mkString(", ")}")
    assert(counts.getOrElse(markerHome, 0) > 0,
      s"expected the marker protocol in $markerHome")
  }

  test("the generation publish protocol is spelled once, in the maintenance tick") {
    val counts = scan("graft/operators", publishProtocol) ++
      scan("graft/streaming", publishProtocol)
    assert(counts == Map(publishHome -> 3),
      "Generations.stage / Generations.publish / " +
        "QuiescenceRefusal.refuseUnless belong to the one tick in " +
        s"$publishHome (give a new policy its Parts instead of forking " +
        s"the publish path); found: $counts")
    val home = new String(java.nio.file.Files.readAllBytes(
      root.resolve(publishHome)), "UTF-8")
    assert(publishProtocol.findAllMatchIn(code(home)).map(_.group(1))
      .map(_.replaceAll("\\s", "")).toSeq.sorted == Seq(
        "Generations.publish", "Generations.stage",
        "QuiescenceRefusal.refuseUnless"))
  }

  test("one SparkListener: the job counter's, plus its spec's bus stall") {
    val main = scan("", listenerSpelling)
    val test = scan("", listenerSpelling, testRoot)
    assert(main.keySet == Set(counterHome) && test.keySet.subsetOf(Set(stallHome)),
      "count Spark jobs with org.apache.spark.sql.graft.SparkJobs.count " +
        "(one listener, drained bus) instead of attaching a listener; " +
        s"found under src/main/scala: $main, under src/test/scala: $test")
  }

  test("one vector-store read path: the read guards live in VectorStores.scala, and no catalog twins") {
    val guards = scan("graft/operators", readGuards)
    assert(guards.keySet == Set(readHome),
      "requireEncoding / requireConsistentModel belong to " +
        s"$readHome (open the store through VectorStores.open instead of " +
        s"spelling the guards in a reader); found: $guards")
    val twins = scan("", catalogTwin)
    assert(twins.isEmpty,
      "read a catalog as the reader over Generations.resolve(root, hconf) " +
        s"instead of adding a *FromCatalog twin; found: $twins")
  }

  test("one banded-hash core in Dedup and one foreachBatch wiring in Streams") {
    val bands = scan("graft/operators", bandProjection)
    assert(bands == Map(bandHome -> 1),
      "split 64-bit hashes into bit-bands through Dedup's shared band " +
        s"helper instead of spelling the projection again; found: $bands")
    val sinks = scan("graft/streaming", sinkWiring)
    assert(sinks == Map(sinkHome -> 1),
      "wire a streaming maintenance wrapper through Streams' shared " +
        s"foreachBatch helper instead of spelling the chain again; found: $sinks")
  }

  test("one store gate and one visible-file walk in graft.sources") {
    val foreign = gateDirs.map(scan(_, foreignState)).reduce(_ ++ _)
    assert(foreign.nonEmpty && foreign.keySet.forall(_.startsWith("graft/sources/")),
      "open a store through StoreParquet.openAppendable / openExisting " +
        s"instead of spelling the PathState.Foreign refusal; found: $foreign")
    val walks = gateDirs.map(scan(_, recursiveListing)).reduce(_ ++ _)
    assert(walks == Map(walkHome -> 1),
      "list a store's visible files through PathState instead of a " +
        s"recursive listFiles walk of its own; found: $walks")
  }

  test("the scan sees the spellings it gates") {
    val src = """val a = spark.read.parquet(s"$p/vectors")
      |val b = spark.read.option("basePath", w)
      |  .parquet(dirs: _*)
      |// spark.read.parquet(commented)
      |  * `spark.read.parquet(src)` in a scaladoc
      |val c = spark.read.schema(s).parquet(p)""".stripMargin
    assert(bareRead.findAllMatchIn(code(src)).size == 2)
    val marker = """writeModelMarker(spark, dst, v, f)
      |  carryModelMarker (spark, s, d, a)
      |// tagModelVersion(commented)
      |  * [[tagModelVersion]] in a scaladoc, tagModelVersion(x) too
      |val readModelVersion = 1""".stripMargin
    assert(markerProtocol.findAllMatchIn(code(marker)).size == 2)
    val publish = """val staged = Generations.stage(p.root, conf)
      |  graft.sources.Generations.publish (root, g, conf)
      |QuiescenceRefusal.refuseUnless(after == before, msg)
      |// Generations.stage(commented)
      |  * [[Generations.publish]] in a scaladoc, Generations.publish(x) too
      |def refuseUnless(condition: Boolean, message: => String): Unit""".stripMargin
    assert(publishProtocol.findAllMatchIn(code(publish)).size == 3)
    // spelled through `L` so this file stays out of its own scan
    val L = "SparkListener"
    val listeners = s"""val l = new $L {
      |private class Stall extends $L {
      |spark.sparkContext.add$L(l)
      |  * [[$L]] in a scaladoc, new $L { too
      |override def onJobStart(e: ${L}JobStart): Unit = {
      |class Q extends StreamingQueryListener {""".stripMargin
    assert(listenerSpelling.findAllMatchIn(code(listeners)).size == 3)
    val guards = """requireConsistentModel(spark, path, op)
      |  VectorStores.requireEncoding (VectorStores.IvfPq, spark, path, op)
      |private def requireEncoding[M](f: VectorFamily[M], spark: SparkSession,
      |// requireEncoding(commented)
      |  * [[requireConsistentModel]] in a scaladoc, requireEncoding(x) too
      |val requireConsistent = 1""".stripMargin
    assert(readGuards.findAllMatchIn(code(guards)).size == 3)
    val twins = """def bm25TopKFromCatalog(spark: SparkSession, root: String,
      |  def  ivfTopKFromCatalogQuantized(spark: SparkSession,
      |// def pqTopKFromCatalog(commented)
      |  * [[opqTopKFromCatalog]] in a scaladoc, def opqTopKFromCatalog too
      |Search.ivfTopKFromCatalog(spark, root, "embedding", q, 5)""".stripMargin
    assert(catalogTwin.findAllMatchIn(code(twins)).size == 2)
    val band = """shiftrightunsigned(col(h), b * width).bitwiseAND(lit(mask))
      |  functions.shiftrightunsigned (c, 16)
      |// shiftrightunsigned(commented)
      |  * [[shiftrightunsigned]] in a scaladoc, shiftrightunsigned(x) too
      |val shiftrightunsignedBits = 1""".stripMargin
    assert(bandProjection.findAllMatchIn(code(band)).size == 2)
    val sink = """.foreachBatch { (batch: Dataset[Row], id: Long) =>
      |  stream.writeStream. foreachBatch {
      |// .foreachBatch { commented
      |  * via `foreachBatch` + appendIndex in a scaladoc, .foreachBatch { too
      |.foreachBatch(new VoidFunction2[Dataset[Row], java.lang.Long] {""".stripMargin
    assert(sinkWiring.findAllMatchIn(code(sink)).size == 2)
    val gate = """require(state != PathState.Foreign, refusal)
      |  graft.sources.PathState .Foreign
      |// PathState.Foreign commented
      |  * [[PathState.Foreign]] in a scaladoc, PathState.Foreign too
      |val PathStateForeign = PathState.Foreigner""".stripMargin
    assert(foreignState.findAllMatchIn(code(gate)).size == 2)
    val walk = """val it = fs.listFiles(hPath, true)
      |  fs.listFiles (new Path(dir), true)
      |// fs.listFiles(p, true) commented
      |  * `fs.listFiles(p, true)` in a scaladoc, listFiles(p, true) too
      |fs.listFiles(p, false)
      |new java.io.File(d).listFiles()""".stripMargin
    assert(recursiveListing.findAllMatchIn(code(walk)).size == 2)
  }
}
