package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.model._
import graft.sources.PathState
import graft.sources.StoreParquet

/** The end-to-end indexing pipeline — the reference's whole purpose
  * (`/root/reference/index_documents.py:253-311`), as ONE lazy narrow
  * DataFrame chain: read → clean → chunk → embed → write. Zero shuffles
  * (SURVEY.md §3.1): ids are per-document chunk indices, not a global
  * SERIAL, so no global ordering exchange is needed.
  *
  * Failure semantics deliberately upgraded from the reference: parquet job
  * commit is all-or-nothing and task-retry-idempotent, vs the reference's
  * per-batch transactions that leave a partially-indexed, duplicating state
  * on re-run (index_documents.py:248-249; SURVEY.md §3.1).
  */
object Index {

  final case class IndexConfig(
      strategy: SplitStrategy = SplitStrategy.Fixed(1200, 200),
      embeddingDim: Int = 64,
      batchSize: Int = 32)

  /** documents-table DataFrame → cleaned Dataset[RawDocument].
    * Mirrors main()'s extract→clean→guard prefix (index_documents.py:274-277).
    */
  def prepare(docs: DataFrame)(implicit spark: SparkSession): Dataset[RawDocument] = {
    import spark.implicits._
    docs
      .select(
        col("doc_id").cast("long").as("docId"),
        concat(col("source"), lit("/"), col("doc_id"), lit(".txt")).as("filename"),
        TextFunctions.cleanText(col("text")).as("text"))
      .where(length(col("text")) > 0) // empty-text guard (index_documents.py:276-277)
      .as[RawDocument]
  }

  /** Full pipeline: documents DataFrame → Dataset[ChunkRow] (not yet written). */
  def buildIndex(docs: DataFrame, cfg: IndexConfig = IndexConfig())(
      implicit spark: SparkSession): Dataset[ChunkRow] = {
    val prepared = prepare(docs)
    val chunks = Chunkers.chunkDataset(prepared, cfg.strategy)
    Embeddings.embedDataset(chunks,
      () => new Embeddings.HashingTfEmbedder(cfg.embeddingDim), cfg.batchSize)
  }

  /** The materialized `document_chunks` frame, reference column set INCLUDING
    * `created_at` — one shared UTC timestamp per write batch, exactly like
    * the reference's single `datetime.now(timezone.utc)` captured once per
    * insert call (index_documents.py:222,235; README.md:89). Deterministic
    * when `createdAt` is supplied (tests/oracles); wall-clock otherwise.
    */
  def indexFrame(rows: Dataset[ChunkRow],
      createdAt: Option[java.time.Instant] = None): DataFrame =
    rows.toDF("doc_id", "filename", "chunk_index", "split_strategy", "chunk_text", "embedding")
      .withColumn("created_at",
        createdAt.map(i => lit(java.sql.Timestamp.from(i))).getOrElse(current_timestamp()))

  /** Write the index. Partitioned by split_strategy (low cardinality — enables
    * partition pruning per strategy); embedding stays a `list<float>` column
    * so text-only queries never read it (column pruning, SURVEY.md §4.4).
    */
  def writeIndex(rows: Dataset[ChunkRow], path: String,
      createdAt: Option[java.time.Instant] = None): Unit =
    indexFrame(rows, createdAt)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("split_strategy")
      .parquet(path)

  /** Incremental index maintenance — the idempotent re-run the reference
    * lacks (it re-inserts every chunk with fresh SERIAL ids on each run,
    * index_documents.py:248-249): anti-join the incoming documents against
    * doc_ids already in the index, chunk+embed ONLY the new ones, append.
    * The anti-join reads just the doc_id column of the existing index
    * (column pruning — never the text or vectors); the append is a parquet
    * job commit, so a failed run leaves the index unchanged.
    *
    * @return number of chunk rows appended (0 when everything was indexed)
    */
  def appendIndex(docs: DataFrame, path: String,
      cfg: IndexConfig = IndexConfig(),
      createdAt: Option[java.time.Instant] = None)(
      implicit spark: SparkSession): Long = {
    // Explicit filesystem classification (graft.sources.PathState — shared
    // with the dedup sketch store): empty/failed-first-write targets
    // recover, parquet targets are read (corrupt footers fail the read
    // loudly), and a directory holding OTHER visible files is refused —
    // appending chunks into a non-index would duplicate/mix data.
    val state = PathState.classify(path, spark.sparkContext.hadoopConfiguration)
    require(state != PathState.Foreign,
      s"appendIndex target '$path' exists but contains no parquet data files — " +
        "refusing to append into a directory that is not an index")
    val existingIds =
      if (state == PathState.Empty)
        spark.emptyDataFrame.withColumn("doc_id", lit(null).cast("long")).limit(0)
      else StoreParquet.open(spark, path).select(col("doc_id")).distinct()
    // the anti join only excludes docs already ON DISK; an at-least-once
    // source can deliver the same doc_id twice WITHIN one batch — keep one
    // (retries carry identical payloads, so the winner is immaterial)
    val fresh = docs.join(existingIds,
        docs("doc_id") === existingIds("doc_id"), "left_anti")
      .dropDuplicates("doc_id")
    val rows = buildIndex(fresh, cfg)
    val obs = new org.apache.spark.sql.Observation()
    indexFrame(rows, createdAt)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append)
      .partitionBy("split_strategy")
      .parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** Observed index write: attach Spark `Observation` metrics to the write
    * job so chunk/character/zero-vector counts come back WITH the job — no
    * second scan, no accumulator plumbing. At 100 TB an extra "count my
    * output" pass is real money; observe() rides the existing action.
    * Returns (chunk rows written, total chunk chars, zero-vector chunks).
    */
  def writeIndexObserved(rows: Dataset[ChunkRow], path: String,
      createdAt: Option[java.time.Instant] = None): (Long, Long, Long) = {
    val obs = new org.apache.spark.sql.Observation("graft_index_write")
    indexFrame(rows, createdAt)
      .observe(obs,
        count(lit(1)).as("n_chunks"),
        sum(length(col("chunk_text"))).cast("long").as("n_chars"),
        sum(when(expr("aggregate(embedding, 0.0D, (a, x) -> a + abs(x))") === 0.0, 1L)
          .otherwise(0L)).as("n_zero_vectors"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("split_strategy")
      .parquet(path)
    val m = obs.get
    (m("n_chunks").asInstanceOf[Long],
     Option(m("n_chars")).map(_.asInstanceOf[Long]).getOrElse(0L),
     m("n_zero_vectors").asInstanceOf[Long])
  }

  /** The semantic-search read path (SURVEY.md §3.3): embed the query text
    * with the same provider, score, top-k.
    */
  def searchText(index: DataFrame, queryText: String, k: Int, dim: Int): DataFrame = {
    val provider = new Embeddings.HashingTfEmbedder(dim)
    val qv = provider.embed(Seq(queryText)).head
    Search.topK(index, "embedding", qv.toSeq, k, "cosine")
      .select(col("doc_id"), col("chunk_index"), col("chunk_text"),
        col("filename"), round(col("score"), 3).as("score"))
  }

  /** The oracle-portable relational twin of [[searchText]] — the same
    * clean → chunk → hashed-TF → cosine → top-k read path, expressed as one
    * declarative plan over portable SQL primitives: fixedRelational windows,
    * md5-bucket term counts, and a sparse cosine computed on UNNORMALIZED
    * integer counts (cosine is scale-invariant, so the score equals the
    * normalized form's while every intermediate stays an exact integer —
    * order-independent, hence DuckDB-replayable bit-for-bit; one sqrt and
    * one division at the end are single IEEE ops).
    *
    * 100 TB shape: token explode → one hash-aggregate on the narrow
    * (doc_id, win_pos, bucket) key (map-side partial combine applies), the
    * query vector rides along as a LITERAL map (never shuffled, no join for
    * the dot product), and the top-k is a TakeOrderedAndProject. Winner
    * rehydration re-chunks ONLY the winning documents (k-row driver
    * materialization + id pushdown) — the operator is therefore EAGER: the
    * scoring job runs at call time, like the library's other top-k read
    * paths.
    */
  def searchTextRelational(docs: DataFrame, queryText: String, k: Int,
      dim: Int = 64, chunkSize: Int = 1200, overlap: Int = 200): DataFrame = {
    import graft.functions.TextFunctions
    val qCounts: Map[Int, Long] = Embeddings.tokensOf(queryText)
      .groupBy(t => Embeddings.md5Bucket(t, dim))
      .view.mapValues(_.size.toLong).toMap
    require(qCounts.nonEmpty, s"query text '$queryText' contains no tokens")
    val qNorm = math.sqrt(qCounts.values.map(c => c.toDouble * c).sum)
    val cleaned = docs
      .select(col("doc_id"), TextFunctions.cleanText(col("text")).as("text"))
      .where(length(col("text")) > 0)
    val chunks = Chunkers.fixedRelational(cleaned, col("text"), chunkSize, overlap)
      .select(col("doc_id"), col("win_pos"), col("chunk_text"))
    val counts = chunks
      .select(col("doc_id"), col("win_pos"),
        explode(TextFunctions.wordTokens(col("chunk_text"))).as("_tok"))
      .groupBy(col("doc_id"), col("win_pos"),
        Embeddings.md5BucketCol(col("_tok"), dim).as("b"))
      .agg(count(lit(1)).as("cnt"))
    val qMap = typedlit(qCounts)
    val scored = counts
      .groupBy(col("doc_id"), col("win_pos"))
      .agg(
        sum(col("cnt") * coalesce(element_at(qMap, col("b")), lit(0L))).as("dot"),
        sum(col("cnt") * col("cnt")).as("ss"))
      .select(col("doc_id"), col("win_pos"),
        (col("dot").cast("double") /
          (sqrt(col("ss").cast("double")) * lit(qNorm))).as("score"))
    // materialize the k winners (k rows to the driver — the same budget as
    // any top-k read path), then rehydrate chunk_text by re-chunking ONLY
    // the winning documents: without the id pushdown, the join's probe
    // side re-cleans and re-chunks the ENTIRE corpus to serve k rows — a
    // full extra corpus pass at 100 TB (and a measured 1.5× on q41).
    val winners = scored
      .orderBy(col("score").desc, col("doc_id"), col("win_pos")).limit(k)
      .collect()
    val winIds = winners.map(_.get(0)).distinct.toSeq
    val winDf = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(winners: _*), scored.schema)
    winDf.join(chunks.where(col("doc_id").isin(winIds: _*)), Seq("doc_id", "win_pos"))
      .select(col("doc_id"), col("win_pos"), col("chunk_text"), col("score"))
      .orderBy(col("score").desc, col("doc_id"), col("win_pos"))
  }

  /** Materialize the ANN read path for a written chunk index: learn IVF
    * centroids over the chunk embeddings and persist the cluster-partitioned
    * index + centroid sidecar next to it (see Search.writeIvfIndex). One
    * batch job; queries then touch only the probed clusters' files.
    */
  def buildIvfIndex(index: DataFrame, ivfPath: String, nClusters: Int = 64,
      seed: Long = 42L): Unit = {
    val centroids = Search.kmeansCentroids(index, "embedding", nClusters, seed)
    Search.writeIvfIndex(index, "embedding", centroids, ivfPath)
  }

  /** ANN text search against a [[buildIvfIndex]] output: embed the query
    * with the same provider, probe `nProbe` clusters, exact top-k within —
    * the at-scale sibling of [[searchText]] (recall traded for scan cost
    * ÷ nClusters/nProbe; recall spec in SearchSpec).
    */
  def searchTextIvf(spark: SparkSession, ivfPath: String, queryText: String,
      k: Int, dim: Int, nProbe: Int = 2): DataFrame = {
    val provider = new Embeddings.HashingTfEmbedder(dim)
    val qv = provider.embed(Seq(queryText)).head
    Search.ivfTopKFromIndex(spark, ivfPath, "embedding", qv.toSeq, k, nProbe)
      .select(col("doc_id"), col("chunk_index"), col("chunk_text"),
        col("filename"), round(col("score"), 3).as("score"))
  }
}
