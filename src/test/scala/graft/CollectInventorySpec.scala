package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard for PLANS.md §"Driver-side materialization inventory" (VERDICT
  * r16 item 5): every `.collect()` in src/main must have an inventory
  * entry stating its bound and why driver-side is correct. The pin is
  * per-file counts — adding (or removing) a collect anywhere fails this
  * suite until the inventory is updated, so the inventory cannot rot.
  * `limit(1)`/`head()` single-row probes are out of scope (O(1) by
  * construction); the grep matches the exact token `.collect()`.
  */
class CollectInventorySpec extends AnyFunSuite {

  /** file (relative to src/main/scala) -> inventoried collect() count */
  private val inventoried: Map[String, Int] = Map(
    "graft/Queries.scala" -> 9,
    "graft/operators/Search.scala" -> 3,
    "graft/operators/LmScore.scala" -> 1,
    "graft/RecallBench.scala" -> 7,
    "graft/operators/Sampling.scala" -> 5,
    "graft/operators/Dedup.scala" -> 6,
    "graft/plans/PlanSignature.scala" -> 1,
    "graft/operators/Sketches.scala" -> 1,
    "graft/operators/Profile.scala" -> 1,
    "graft/operators/Index.scala" -> 1,
    "graft/functions/TextFeatures.scala" -> 1,
    "graft/functions/Bpe.scala" -> 1,
    "graft/Bench.scala" -> 1,
    "graft/PlanDump.scala" -> 1,
    "graft/CensusChannel.scala" -> 1)

  test("every .collect() in src/main is inventoried in PLANS.md") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected to run from the repo root, cwd=${sys.props("user.dir")}")
    // simple substring count (no regex-escaping pitfalls)
    def countIn(s: String): Int = {
      var i = 0; var n = 0
      while ({ i = s.indexOf(".collect()", i); i >= 0 }) { n += 1; i += 1 }
      n
    }
    val counts = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val n = countIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        if (n > 0) counts(root.relativize(p).toString) = n
      }
      ()
    }
    val observed = counts.toMap
    val diff = (observed.keySet ++ inventoried.keySet).toSeq.sorted.flatMap { f =>
      (observed.getOrElse(f, 0), inventoried.getOrElse(f, 0)) match {
        case (o, i) if o == i => None
        case (o, i) => Some(s"$f: $o in source vs $i inventoried")
      }
    }
    assert(diff.isEmpty,
      "collect() census drifted from PLANS.md §'Driver-side " +
        "materialization inventory' — document the new site's bound (or " +
        s"drop the stale entry) and update CollectInventorySpec:\n  " +
        diff.mkString("\n  "))
  }
}
