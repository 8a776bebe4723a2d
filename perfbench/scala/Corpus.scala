package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.model.SplitStrategy
import graft.operators.Chunkers
import graft.sources.DocFormats

/** One generated document and the text graft should extract from its file. */
final case class GenDoc(index: Int, format: String, paragraphs: Vector[String]) {
  /** Paragraphs separated by blank lines, sentences by terminators. */
  def text: String = paragraphs.mkString("\n\n")

  /** What extraction returns: DOCX extraction keeps non-blank paragraphs
    * joined by single newlines (python-docx semantics); PDF and TXT keep
    * the drawn text as is.
    */
  def extracted: String = if (format == "docx") paragraphs.mkString("\n") else text

  def fileName: String = f"d$index%06d." + (format match {
    case "pdf14" | "pdf15" => "pdf"
    case other => other
  })

  def bytes: Array[Byte] = format match {
    case "pdf14" => DocFormats.MinimalPdf.write(text)
    case "pdf15" => DocFormats.MinimalPdf.writeObjStm(text)
    case "docx" => DocFormats.MinimalDocx.write(paragraphs)
    case "txt" => text.getBytes(UTF_8)
  }
}

/** Zipf(s) sampler over ranks 0 until n (rank 0 most popular). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded corpus and query generator. Every document, query and planted
  * near-duplicate is a pure function of the seed.
  *
  * Text is built from a synthetic vocabulary with per-topic Zipf word
  * popularity, so hashed-TF embeddings cluster by topic (IVF has structure
  * to find). Sentences end in `.`, `!` or `?` followed by a space and
  * paragraphs are separated by blank lines, so the sentence and paragraph
  * chunkers do real work.
  */
final class Corpus(seed: Long, nTopics: Int = 16) {
  private val rnd = new SplittableRandom(seed)

  private val vocabulary: Vector[String] = {
    val syllables = Vector("ka", "lo", "mi", "ra", "ten", "vo", "shi", "pu",
      "dar", "el", "no", "qui", "sa", "tor", "ub", "ve", "wen", "xi", "yo", "zan",
      "bre", "cal", "dom", "fi", "gur", "hel", "jo", "kin", "lum", "mar")
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 4000) {
      val n = 1 + r.nextInt(3)
      words += (0 until n).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }
    words.toVector
  }
  // 200 shared function-like words plus 300 words per topic
  private val common = vocabulary.take(200)
  private val topicWords: Vector[Vector[String]] = Vector.tabulate(nTopics) { _ =>
    Vector.fill(300)(vocabulary(200 + rnd.nextInt(vocabulary.length - 200)))
  }
  private val commonZipf = new Zipf(common.length, 1.1)
  private val topicZipf = new Zipf(300, 1.0)

  private def word(topic: Int): String =
    if (rnd.nextInt(10) < 4) common(commonZipf.draw(rnd))
    else topicWords(topic)(topicZipf.draw(rnd))

  private def sentence(topic: Int): String = {
    val n = 6 + rnd.nextInt(13)
    val words = Vector.tabulate(n) { i =>
      val w = word(topic)
      val cap = if (i == 0) w.capitalize else w
      if (i > 0 && i < n - 1 && rnd.nextInt(12) == 0) cap + "," else cap
    }
    val end = rnd.nextInt(10) match { case 0 => "?"; case 1 => "!"; case _ => "." }
    words.mkString(" ") + end
  }

  private def paragraph(topic: Int): String =
    Vector.fill(3 + rnd.nextInt(5))(sentence(topic)).mkString(" ")

  /** Formats in a fixed rotation by document index. */
  val formats: Vector[String] = Vector("pdf14", "pdf15", "docx", "txt")

  /** A document of at least `targetChars` characters on one topic. */
  def doc(index: Int, targetChars: Int, format: String): GenDoc = {
    val topic = rnd.nextInt(nTopics)
    val paras = Vector.newBuilder[String]
    var len = 0
    while (len < targetChars) {
      val p = paragraph(topic)
      paras += p
      len += p.length + 2
    }
    GenDoc(index, format, paras.result())
  }

  /** Short single-paragraph document of at most `maxChars` characters. */
  def shortDoc(index: Int, maxChars: Int): GenDoc = {
    val topic = rnd.nextInt(nTopics)
    val sb = new StringBuilder
    var s = sentence(topic)
    while (sb.length + s.length + 1 <= maxChars) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(s)
      s = sentence(topic)
    }
    GenDoc(index, "txt", Vector(sb.toString))
  }

  /** A near-duplicate of `d`: one word of its middle sentence replaced. */
  def nearDuplicate(d: GenDoc, index: Int): GenDoc = {
    val words = d.paragraphs.head.split(" ")
    val i = words.length / 2
    words(i) = vocabulary(rnd.nextInt(vocabulary.length))
    GenDoc(index, d.format, (words.mkString(" ") +: d.paragraphs.tail))
  }

  /** `n` distinct query texts, each a 4–8 word span of one sentence of a
    * corpus document.
    */
  def queryPool(docs: IndexedSeq[GenDoc], n: Int): Vector[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val d = docs(rnd.nextInt(docs.length))
      val p = d.paragraphs(rnd.nextInt(d.paragraphs.length))
      val sentences = Chunkers.sentencesTyped(p)
      val words = sentences(rnd.nextInt(sentences.length)).split(" ")
      val len = math.min(words.length, 4 + rnd.nextInt(5))
      val start = rnd.nextInt(words.length - len + 1)
      out += words.slice(start, start + len).mkString(" ")
    }
    out.toVector
  }

  /** Zipf-popular draws from a query pool, so some queries repeat. */
  def queryStream(pool: Vector[String], s: Double = 1.0): Iterator[String] = {
    val z = new Zipf(pool.length, s)
    Iterator.continually(pool(z.draw(rnd)))
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object Corpus {
  /** The three chunkers, assigned to documents in fixed thirds. */
  val strategies: Vector[SplitStrategy] = Vector(
    SplitStrategy.Fixed(1200, 200), SplitStrategy.Sentence(1200),
    SplitStrategy.Paragraph)

  def strategyOf(d: GenDoc): SplitStrategy = strategies(d.index % 3)

  /** Driver-side twin of `TextFunctions.cleanText` (same regexes, same order). */
  def clean(s: String): String =
    s.replace('\u00a0', ' ').replaceAll("[ \\t]+", " ")
      .replaceAll("\\n{3,}", "\n\n").replaceAll("^\\s+|\\s+$", "")

  /** The chunks graft should produce for `d`, recounted on the driver. */
  def expectedChunks(d: GenDoc): Seq[String] =
    Chunkers.splitTyped(clean(d.extracted), strategyOf(d))

  /** Write `docs` as files under `dir/<strategy>/`, one directory per
    * chunker third. Returns the bytes written.
    */
  def writeFiles(docs: Seq[GenDoc], dir: Path): Long = {
    strategies.foreach(s => Files.createDirectories(dir.resolve(s.name)))
    docs.map { d =>
      val b = d.bytes
      Files.write(dir.resolve(strategyOf(d).name).resolve(d.fileName), b)
      b.length.toLong
    }.sum
  }
}
