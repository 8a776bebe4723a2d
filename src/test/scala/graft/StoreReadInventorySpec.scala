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

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** file (relative to src/main/scala) -> matches of `pattern` outside
    * comments, for every .scala file under `dir` with at least one.
    */
  private def scan(dir: String,
      pattern: scala.util.matching.Regex): Map[String, Int] = {
    val base = root.resolve(dir)
    assert(java.nio.file.Files.isDirectory(base),
      s"expected to run from the repo root, cwd=${sys.props("user.dir")}")
    val counts = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(base).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val n = pattern.findAllMatchIn(code(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))).size
        if (n > 0) counts(root.relativize(p).toString) = n
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
  }
}
