package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ChangeDetection, Chunker, Dedup, Retrieval, Similarity}
import graft.pipeline.Embedder
import graft.sources.DocumentSource
import graft.store.{AnnStore, IndexStore, VectorStore}

/** The ingest and refresh routines a user of the data plane runs:
  * load → chunk → dedup → embed → vector store, then the IVF and inverted
  * index stores; and the flat refresh protocol
  * (list → processed → detect → deleteStale → re-ingest → merge).
  *
  * With tracing on, each layer's output is materialized at its boundary so
  * the layer's span holds its execution, not only plan building. */
final class Ingest(spark: SparkSession, tr: Tracer) {
  import Ingest._

  val embedFn: Embedder.EmbedFn = Embedder.stubEmbed(Dim)

  /** IVF codebook: the embedding of each topic's signature words. */
  val centroids: Seq[(Int, Seq[Float])] =
    (0 until Corpus.Topics).map(t => t -> embedFn(Seq(Corpus.topicSignature(t))).head.toSeq)

  def centroidFrame: DataFrame = {
    import spark.implicits._
    centroids.map { case (c, v) => (c, v.toArray) }.toDF("cid", "cv")
  }

  /** Cache and count `df` when tracing, so the enclosing span executes it. */
  private def boundary(df: DataFrame, counter: String): DataFrame =
    if (!tr.enabled) df
    else {
      val c = df.cache()
      tr.record(counter, c.count().toDouble)
      c
    }

  private def load(dir: Path, glob: String): DataFrame =
    tr.span("sources", "sources.load") {
      boundary(DocumentSource.loadCorpus(spark, dir.toString, glob)
        .filter(col("parse_ok")), "sources.files_parsed")
    }

  /** Chunks with numeric ids (file number × 10000 + chunk index) and the
    * per-file metadata change detection compares against the listing. */
  private def chunks(corpus: DataFrame): DataFrame =
    tr.span("operators", "chunker") {
      val listedName = concat(element_at(split(col("path"), "/"), -2), lit("_"), col("filename"))
      val etag = md5(concat(col("path"), lit(":"), col("size").cast("string"), lit(":"),
        unix_millis(col("time_modified")).cast("string")))
      boundary(Chunker.chunkWithIds(corpus, "filename", "text", ChunkSize, ChunkOverlap)
        .select(
          (regexp_extract(col("filename"), "d(\\d+)", 1).cast("long") * 10000L +
            col("chunk_index")).as("id"),
          col("chunk").as("text"),
          map(lit("filename"), listedName, lit("etag"), etag,
            lit("time_modified"), unix_millis(col("time_modified")).cast("string"),
            lit("size"), col("size").cast("string"),
            lit("chunk_id"), col("chunk_id")).as("metadata")),
        "chunker.chunks")
    }

  private def dedup(chunks: DataFrame): DataFrame =
    tr.span("operators", "dedup") {
      boundary(Dedup.exactDedup(chunks, "text", "id"), "dedup.kept")
    }

  private def embed(df: DataFrame): DataFrame = {
    if (tr.enabled)
      tr.record("embedder.batches", df.rdd.mapPartitions(it => Iterator(it.size))
        .collect().map(n => math.ceil(n / BatchSize.toDouble)).sum)
    tr.span("pipeline", "embedder") {
      boundary(Embedder.embed(df, "text", embedFn, BatchSize), "embedder.rows")
    }
  }

  /** Chunked, deduplicated, embedded rows of the files under `dir`
    * matching `glob`. */
  def embedded(dir: Path, glob: String = "*"): DataFrame =
    embed(dedup(chunks(load(dir, glob))))

  /** Bulk ingest into `root`: vector store and, with `indexes`, the IVF
    * store and the index store. Returns the number of stored chunks. */
  def build(dir: Path, root: Path, indexes: Boolean = true): Long = {
    val rows = embedded(dir)
    tr.span("store", "vectorstore.write") {
      VectorStore.write(rows, root.toString, StoreName, StoreConfig)
    }
    spark.catalog.clearCache()
    val stored = VectorStore.read(spark, root.toString, StoreName)
    if (indexes) tr.span("store", "annstore.write") {
      AnnStore.write(Similarity.assignNearestCentroid(stored.select("id", "embedding"),
        "embedding", "id", centroidFrame, "cid", "cv"), annPath(root))
    }
    if (indexes) tr.span("store", "indexstore.write") {
      IndexStore.write(Retrieval.invertedIndex(stored, "id", "text"), indexPath(root),
        IndexBuckets)
    }
    stored.count()
  }

  /** One refresh cycle of the store under `root` against the files in
    * `dir`. Returns the number of files classified new, modified, deleted. */
  def refresh(dir: Path, root: Path): Map[String, Int] = {
    val listing = tr.span("sources", "sources.list") {
      boundary(DocumentSource.listFiles(spark, dir.toString)
        .select("name", "etag", "time_modified"), "sources.files_listed")
    }
    val processed = tr.span("store", "vectorstore.processed") {
      boundary(VectorStore.processedFiles(VectorStore.read(spark, root.toString, StoreName)),
        "vectorstore.files_processed")
    }
    val statuses = tr.span("operators", "changedetect") {
      ChangeDetection.detectChanges(listing, processed).collect()
        .map(r => r.getString(0) -> r.getString(1))
    }
    spark.catalog.clearCache()
    def named(s: String): Seq[String] = statuses.collect { case (n, st) if st == s => n }.toSeq
    val (added, modified, deleted) = (named("new"), named("modified"), named("deleted"))
    if (tr.enabled)
      tr.record("changedetect.changed_ratio",
        (added.size + modified.size + deleted.size).toDouble / statuses.length)
    if (modified.nonEmpty || deleted.nonEmpty)
      tr.span("store", "vectorstore.delete") {
        VectorStore.deleteStale(spark, root.toString, StoreName, modified ++ deleted)
      }
    val changed = added ++ modified
    if (changed.nonEmpty) {
      val prefix = dir.getFileName.toString + "_"
      val glob = changed.map(_.stripPrefix(prefix)).mkString("{", ",", "}")
      val delta = embedded(dir, glob)
      tr.span("store", "vectorstore.merge") {
        VectorStore.merge(spark, root.toString, StoreName, delta)
      }
      spark.catalog.clearCache()
    }
    Map("new" -> added.size, "modified" -> modified.size, "deleted" -> deleted.size)
  }

  /** (rows, distinct ids, order-insensitive checksum over id, text and
    * embedding) of the vector store under `root`, plus its sorted ids. */
  def digest(root: Path): (Long, Long, BigDecimal, Seq[Long]) = {
    val df = VectorStore.read(spark, root.toString, StoreName)
    val r = df.agg(count(lit(1)), countDistinct(col("id")),
      sum(xxhash64(col("id"), col("text"), col("embedding")).cast("decimal(38,0)"))).head()
    val ids = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)), ids)
  }
}

object Ingest {
  val Dim = 64
  val ChunkSize = 200
  val ChunkOverlap = 50
  val BatchSize = 500
  val IndexBuckets = 16
  val StoreName = "DOCS"
  val StoreConfig: String =
    """{"alias": "docs", "embedding_model": {"provider": "stub", "id": "hash64"},""" +
      """ "chunk_size": 200, "chunk_overlap": 50, "distance_strategy": "COSINE"}"""

  def annPath(root: Path): String = root.resolve("ann").toString
  def indexPath(root: Path): String = root.resolve("index").toString

  /** Bytes of every regular file below `p`. */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try {
      var n = 0L
      s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally s.close()
  }

  /** path → (size, mtime) of every regular file below `p`. */
  def snapshot(p: Path): Map[String, (Long, Long)] = {
    val s = Files.walk(p)
    try {
      val b = Map.newBuilder[String, (Long, Long)]
      s.forEach(f => if (Files.isRegularFile(f))
        b += f.toString -> (Files.size(f) -> Files.getLastModifiedTime(f).toMillis))
      b.result()
    } finally s.close()
  }

  /** Bytes of files present in `after` that are new or changed since
    * `before`. */
  def bytesWritten(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (f, v) if !before.get(f).contains(v) => v._1 }.sum
}
