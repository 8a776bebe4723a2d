package perfbench

import graft.operators.Chunkers
import graft.sources.DocFormats

/** Unit checks of the benchmark's own code: the generator, the format
  * round trip the chunk recount relies on, the statistics, the span
  * arithmetic and the brute-force reference. Exits non-zero on the first
  * failed check. Run through `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private def ok(name: String)(cond: => Boolean): Unit = {
    if (!cond) throw new AssertionError(s"selftest $name failed")
    println(s"selftest $name: ok")
  }

  def main(args: Array[String]): Unit = {
    def docs(seed: Long) = {
      val c = new Corpus(seed)
      val ds = Vector.tabulate(8)(i => c.doc(i, 9000, c.formats(i % 4)))
      (ds, c.queryPool(ds, 20), Vector.fill(4)(c.shortDoc(100, 1000)))
    }
    val (a, qa, sa) = docs(5)
    ok("same seed, same inputs")(docs(5) == ((a, qa, sa)))
    ok("other seed, other inputs")(docs(6)._1 != a)

    ok("documents have sentences and paragraphs")(a.forall { d =>
      d.text.length >= 9000 && Chunkers.paragraphsTyped(d.text).size > 3 &&
        Chunkers.sentenceGroupsTyped(d.text, 1200).size > 3 &&
        Chunkers.sentencesTyped(d.text).size > 20
    })
    ok("short documents fit one fixed chunk")(sa.forall(d =>
      d.text.length <= 1000 && Chunkers.fixedTyped(d.text, 1200, 200).size == 1))

    ok("four formats extract to the expected text")(a.forall { d =>
      val got = d.format match {
        case "pdf14" | "pdf15" => DocFormats.MinimalPdf.extractText(d.bytes)
        case "docx" => DocFormats.MinimalDocx.extractText(d.bytes)
        case "txt" => new String(d.bytes, "UTF-8")
      }
      got == d.extracted
    } && a.map(_.format).toSet == Set("pdf14", "pdf15", "docx", "txt"))

    val c = new Corpus(9)
    val src = c.shortDoc(1, 1000)
    val dup = c.nearDuplicate(src, 2)
    ok("near-duplicate differs in one word")(
      src.text.split(" ").zip(dup.text.split(" ")).count { case (x, y) => x != y } == 1)

    val pool = Vector.tabulate(50)(_.toString)
    val draws = c.queryStream(pool).take(5000).toVector.groupBy(identity).view.mapValues(_.size)
    ok("query stream is Zipf-popular")(draws("0") > draws.getOrElse("10", 0) &&
      draws.size < 50 + 1 && draws("0") > 5000 / 10)

    val xs = (1 to 10).map(_.toDouble)
    ok("quantiles interpolate")(Stats.quantile(xs, 0.5) == 5.5 &&
      math.abs(Stats.quantile(xs, 0.9) - 9.1) < 1e-12)

    val t = new Tracer(true, None)
    t.op("call") {
      t.span("a", "x")(Thread.sleep(20))
      t.span("b", "y")(t.span("c", "z")(Thread.sleep(20)))
    }
    val self = t.selfSeconds
    ok("self time excludes children")(t.spans.length == 4 && {
      val Seq(root, x, y, z) = t.spans.toSeq
      math.abs(self(root.id) - (root.seconds - x.seconds - y.seconds)) < 1e-9 &&
        math.abs(self(y.id) - (y.seconds - z.seconds)) < 1e-9 &&
        self(x.id) == x.seconds && z.parent == y.id && x.op == root.op
    })
    ok("untraced calls record nothing")({
      val u = new Tracer(false, None)
      u.op("call")(u.span("a", "x")(1)) == 1 && u.spans.isEmpty
    })

    val bf = new BruteForce(Array((1L, 0), (2L, 0), (3L, 0)),
      Array(Array(1f, 0f), Array(1f, 0f), Array(0f, 1f)))
    ok("brute force accepts either tie")(bf.agrees(Array(1f, 0f), Seq((1L, 0)), 1) &&
      bf.agrees(Array(1f, 0f), Seq((2L, 0)), 1) && !bf.agrees(Array(1f, 0f), Seq((3L, 0)), 1) &&
      !bf.agrees(Array(1f, 0f), Seq((1L, 0), (1L, 0)), 2))
  }
}
