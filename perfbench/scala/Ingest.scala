package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model._
import graft.operators.{Chunkers, Embeddings, Index}
import graft.sources.DocumentSources

/** The reference pipeline, extract → clean → chunk → embed → write, over
  * a corpus laid out as one directory per chunker third.
  */
object Pipeline {
  val Dim = 768
  val BatchSize = 32

  def config(s: SplitStrategy): Index.IndexConfig = Index.IndexConfig(s, Dim, BatchSize)

  /** `readDocuments` output in the documents-table shape `Index.prepare` takes. */
  private def documents(raw: Dataset[RawDocument]): DataFrame =
    raw.select(col("docId").as("doc_id"), col("filename").as("source"), col("text"))

  /** Fused form: one lazy plan per third, one write job. */
  def ingest(spark: SparkSession, corpus: Path, out: Path): Unit = {
    val rows = Corpus.strategies.map { s =>
      Index.buildIndex(documents(DocumentSources.readDocuments(
        spark, corpus.resolve(s.name).toString)), config(s))(spark)
    }.reduce(_ union _)
    Index.writeIndex(rows, out.toString)
  }

  /** Traced form: each layer's output is persisted and counted inside its
    * own span, so every layer boundary has a real duration.
    */
  def ingestTraced(r: Run, corpus: Path, out: Path): IngestCounts = {
    implicit val spark: SparkSession = r.spark
    import spark.implicits._
    val t = r.tracer
    val cached = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def keep[T](ds: Dataset[T]): (Dataset[T], Long) = {
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      cached += ds
      (ds, ds.count())
    }
    var files, failedFiles, chunks, embedded = 0L
    val parts = Corpus.strategies.map { s =>
      val raw = t.span("sources", "readDocumentsLenient") {
        val (ds, n) = keep(DocumentSources.readDocumentsLenient(
          spark, corpus.resolve(s.name).toString))
        files += n
        failedFiles += ds.filter(_._2.isDefined).count()
        ds.filter(_._2.isEmpty).map(_._1)
      }
      val prepared = t.span("functions", "cleanText") {
        keep(Index.prepare(documents(raw)))._1
      }
      val chunked = t.span("chunkers", s.name) {
        val (ds, n) = keep(Chunkers.chunkDataset(prepared, s))
        chunks += n
        ds
      }
      t.span("embeddings", "embedDataset") {
        val (ds, n) = keep(Embeddings.embedDataset(chunked,
          () => new Embeddings.HashingTfEmbedder(Dim), BatchSize))
        embedded += n
        ds
      }
    }
    t.span("index", "writeIndex") {
      Index.writeIndex(parts.reduce(_ union _), out.toString)
      cached.foreach(_.unpersist(blocking = false))
    }
    IngestCounts(files, failedFiles, chunks, embedded)
  }
}

final case class IngestCounts(files: Long, failedFiles: Long, chunks: Long, embedded: Long)

/** `ingest_bulk`: repeated cold bulk indexes of a multi-format corpus of
  * ~9 KB documents, each pass into a new directory.
  */
object IngestBulk {
  val DocChars = 9000

  def run(r: Run): Figures = {
    val f = new Figures
    val Docs = r.size(120, 24)
    var docs = Vector.empty[GenDoc]
    var corpusDir: Path = null
    var inputBytes = 0L
    f.setup = (0 until r.size(5, 1)).map { i =>
      Figures.timed {
        val c = new Corpus(r.seed)
        docs = Vector.tabulate(Docs)(j => c.doc(j, DocChars, c.formats(j % 4)))
        corpusDir = r.dir(s"corpus$i")
        inputBytes = Corpus.writeFiles(docs, corpusDir)
      }
    }
    val expected = docs.map(d => d -> Corpus.expectedChunks(d))
    val totalChunks = expected.map(_._2.size.toLong).sum
    val textBytes = docs.map(_.extracted.getBytes("UTF-8").length.toLong).sum
    f.sizes ++= Seq("docs" -> Docs.toDouble, "text_mb" -> textBytes / 1e6,
      "input_mb" -> inputBytes / 1e6, "chunks" -> totalChunks.toDouble)

    r.log("set up")
    // warm-up: JIT, codegen and file listing caches, both forms; the first
    // pass of a JVM runs ~4x slower and the next two still ~10-20% slower
    for (i <- 0 until r.size(3, 1)) {
      Pipeline.ingest(r.spark, corpusDir, r.dir(s"warm$i"))
      if (r.traceRun) Pipeline.ingestTraced(r, corpusDir, r.dir(s"warm-traced$i"))
    }

    r.startClock()
    var pass = 0
    var last: Path = null
    while (r.more(pass, r.size(5, 2))) {
      val traced = r.nextTraced("ingest")
      val out = r.dir(s"index$pass")
      val counts = r.call("ingest", traced) {
        if (traced) Some(Pipeline.ingestTraced(r, corpusDir, out))
        else { Pipeline.ingest(r.spark, corpusDir, out); None }
      } { c =>
        c.forall(x => x.failedFiles == 0 && x.files == Docs && x.chunks == totalChunks) &&
          r.spark.read.parquet(out.toString).count() == totalChunks
      }
      counts.flatten.foreach { c =>
        r.record("sources.files", c.files.toDouble)
        r.record("sources.failed_files", c.failedFiles.toDouble)
        r.record("chunkers.chunks", c.chunks.toDouble)
        r.record("embeddings.chunks", c.embedded.toDouble)
        r.record("index.bytes_written", Fs.bytes(out).toDouble)
        r.record("index.files_written", Fs.parquetFiles(out).length.toDouble)
      }
      f.bytesPerTextByte += Fs.bytes(out).toDouble / textBytes
      if (last != null) Fs.delete(last)
      last = out
      pass += 1
    }
    r.record("sources.input_mb", inputBytes / 1e6)
    r.log(s"$pass passes")

    // driver-side recount of a sample of documents against the index
    r.check("chunk_recount") {
      val sample = expected.filter(_._1.index % 17 == 0)
      val names = sample.map(_._1.fileName)
      val got = r.spark.read.parquet(last.toString)
        .select(substring_index(col("filename"), "/", 1).as("name"),
          col("chunk_index"), col("chunk_text"))
        .where(col("name").isin(names: _*))
        .collect().groupBy(_.getString(0))
        .map { case (n, rows) => n -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq }
      sample.forall { case (d, chunks) => got.getOrElse(d.fileName, Nil) == chunks }
    }

    val passes = r.untraced.getOrElse("ingest", Nil).toSeq
    f.calls = passes
    f.items = Docs.toDouble * passes.length
    f.itemSeconds = passes.sum
    f.named("ingest_mb_per_s") = textBytes / 1e6 * passes.length / passes.sum
    f
  }
}
