package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Parquet-backed vector store with a JSON catalog.
  *
  * Mirrors the reference's per-config Oracle tables + `GENAI:` comment
  * catalog (reference: src/server/app/embed/vector_store.py:47-88 naming,
  * :323-337 catalog comment; database/registry.py:29-77 discovery), and its
  * staged-merge write protocol (`_TMP` table → anti-join merge → drop,
  * vector_store.py:122-264).
  *
  * Store schema: (id STRING, text STRING, metadata MAP<STRING,STRING>,
  * embedding ARRAY<FLOAT>).
  *
  * Scale: writes go to a staging directory and are promoted with an atomic
  * rename (Spark's commit protocol makes the staging write itself
  * all-or-nothing). Merge is a left-anti join on `id` — the existing store
  * is only read, the delta only written; at 100 TB the store would be
  * partitioned by a filename hash bucket so stale-delete rewrites touch only
  * affected partitions instead of the full table.
  */
object VectorStore {

  /** Deterministic store table name, exactly the reference's rule
    * (vector_store.py:47-88; pinned by its unit test
    * tests/embed/test_vector_store.py:35-48):
    * `{ALIAS}_{PROVIDER}_{MODEL}_{SIZE}_{OVERLAP}_{DISTANCE}_{INDEX}`,
    * uppercased, `\W → _`. */
  def storeName(alias: String, provider: String, model: String,
                chunkSize: Int, chunkOverlap: Int,
                distance: String, indexType: String): String = {
    val parts = Seq(alias, provider, model, chunkSize.toString,
      chunkOverlap.toString, distance, indexType)
    parts.mkString("_").replaceAll("\\W", "_").toUpperCase
  }

  /** Filename → alias compaction (reference:
    * api/v1/endpoints/embed.py:101-140): `\W→_`, uppercase, cap at 20 chars
    * with an 8-hex sha256 suffix when truncated. */
  def filenameAlias(filename: String): String = {
    val base = filename.replaceAll("\\W", "_").toUpperCase
    if (base.length <= 20) base
    else {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(filename.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      base.take(12) + "_" + digest.toUpperCase
    }
  }

  private def catalogPath(root: String) = Paths.get(root, "_catalog.json")

  private val json = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The catalog under `root` (empty if there is none yet); a catalog that
    * is not one JSON object fails naming its file rather than losing the
    * other stores' entries on the next write. */
  private def readCatalog(root: String): ObjectNode = {
    val cat = catalogPath(root)
    if (!Files.exists(cat)) json.createObjectNode()
    else try json.readValue(cat.toFile, classOf[ObjectNode]) catch {
      case e: JsonProcessingException =>
        throw new IllegalStateException(s"store catalog $cat is not one JSON object", e)
    }
  }

  /** Set the catalog entry `name` to the parsed `configJson`, replacing any
    * earlier entry of that name; the file is swapped in by atomic rename. */
  private def updateCatalog(root: String, name: String, configJson: String): Unit = {
    val merged = readCatalog(root)
    merged.set[ObjectNode](name, json.readTree(configJson))
    val tmp = Paths.get(root, "_catalog.json.tmp")
    Files.writeString(tmp, json.writeValueAsString(merged))
    Files.move(tmp, catalogPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write (overwrite) a store and record its config in the catalog. */
  def write(df: DataFrame, root: String, name: String, configJson: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/$name")
    updateCatalog(root, name, configJson)
  }

  def read(spark: SparkSession, root: String, name: String): DataFrame =
    spark.read.parquet(s"$root/$name")

  /** Write a store hash-partitioned by filename bucket. At 100 TB this is
    * the layout that makes stale-file deletes (J2) and per-file refresh
    * touch `1/numBuckets` of the data instead of a full rewrite, and lets
    * filename-filtered scans partition-prune (`PartitionFilters` in
    * explain). The IVF layout does the same with `centroid_id` for ANN
    * probes. */
  def writePartitioned(df: DataFrame, root: String, name: String,
                       configJson: String, numBuckets: Int = 64): Unit = {
    val bucketed = df.withColumn("file_bucket",
      pmod(xxhash64(element_at(col("metadata"), "filename")), lit(numBuckets)).cast("int"))
    bucketed.write.mode(SaveMode.Overwrite)
      .partitionBy("file_bucket").parquet(s"$root/$name")
    updateCatalog(root, name, configJson)
  }

  /** Read only the partitions that can contain `filename` — the pruned
    * probe path for a store written with [[writePartitioned]]. The filter
    * lands in the scan's `PartitionFilters`, so only 1/numBuckets of the
    * store is listed and read. */
  def readForFilename(spark: SparkSession, root: String, name: String,
                      filename: String, numBuckets: Int = 64): DataFrame =
    spark.read.parquet(s"$root/$name")
      .filter(col("file_bucket") ===
        expr(s"cast(pmod(xxhash64('${filename.replace("'", "''")}'), $numBuckets) as int)"))
      // residual within-bucket filter; the bucket predicate above is what
      // prunes the scan to 1/numBuckets of the store
      .filter(element_at(col("metadata"), "filename") === filename)

  /** List catalogued store names (discovery — registry.py:29-77). */
  def listStores(root: String): Seq[String] =
    readCatalog(root).fieldNames().asScala.toSeq

  /** Insert-if-absent merge: rows of `incoming` whose `id` is not already in
    * the store are appended (reference J1 anti-join merge,
    * vector_store.py:250-257). Returns the number of inserted rows. */
  def merge(spark: SparkSession, root: String, name: String,
            incoming: DataFrame): Long = {
    val path = s"$root/$name"
    val existing = spark.read.parquet(path).select("id")
    val delta = incoming.join(existing, Seq("id"), "left_anti").cache()
    val n = delta.count()
    if (n > 0) delta.write.mode(SaveMode.Append).parquet(path)
    delta.unpersist()
    n
  }

  /** Row-level upsert (Delta-style MERGE: WHEN MATCHED THEN UPDATE, WHEN NOT
    * MATCHED THEN INSERT) against a store written with [[writePartitioned]].
    * Only the filename-hash buckets present in `incoming` are read and
    * rewritten — the remaining partitions are never listed, read, or
    * touched, so the rewrite cost scales with the delta, not the store
    * (the reference's upsert is delete-children-then-reinsert,
    * testbed/database.py:83-121; its merge is staged `_TMP` + anti-join,
    * vector_store.py:250-257 — this is both, bounded to affected buckets).
    * Bucket swaps are individually atomic (rename), not transactional as a
    * group — same guarantee as the reference's executemany delete loop.
    * Returns (updated, inserted). */
  def upsertPartitioned(spark: SparkSession, root: String, name: String,
                        incoming: DataFrame, numBuckets: Int = 64): (Long, Long) = {
    val path = s"$root/$name"
    val bucketed = incoming.withColumn("file_bucket",
      pmod(xxhash64(element_at(col("metadata"), "filename")), lit(numBuckets)).cast("int"))
      .cache()
    // Fail fast on a null filename: it would hash to a null bucket, NPE
    // below, and (worse) land rows no bucket-pruned read could find.
    val nullFn = bucketed.filter(col("file_bucket").isNull).count()
    if (nullFn > 0)
      throw new IllegalArgumentException(
        s"upsertPartitioned: $nullFn incoming row(s) have a null " +
          "metadata.filename; every row must carry a non-null filename")
    val buckets = bucketed.select("file_bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    // An id's filename is IMMUTABLE under this layout: the merge prunes to
    // the buckets of incoming filenames, so an id re-appearing under a NEW
    // filename would leave its old row stranded in an untouched bucket —
    // a duplicate id after the merge. Guard with an id-column-only scan
    // (column-pruned) of the unaffected buckets.
    val strayIds = spark.read.parquet(path)
      .filter(!col("file_bucket").isin(buckets.map(Integer.valueOf).toSeq: _*))
      .select("id")
      .join(bucketed.select("id"), Seq("id"), "left_semi").count()
    if (strayIds > 0)
      throw new IllegalArgumentException(
        s"upsertPartitioned: $strayIds incoming id(s) already exist under a " +
          "different filename bucket; an id's filename is immutable — " +
          "delete the old rows (deleteStale) before re-ingesting under a " +
          "new filename")
    // partition-pruned read: only the affected buckets are scanned
    val existing = spark.read.parquet(path)
      .filter(col("file_bucket").isin(buckets.map(Integer.valueOf).toSeq: _*))
    val updated = bucketed.join(existing.select("id"), Seq("id"), "left_semi").count()
    val inserted = bucketed.count() - updated
    val staging = s"$root/_staging_$name"
    existing.join(bucketed.select("id"), Seq("id"), "left_anti")
      .unionByName(bucketed)
      .write.mode(SaveMode.Overwrite).partitionBy("file_bucket").parquet(staging)
    buckets.foreach { b =>
      val src = Paths.get(staging, s"file_bucket=$b")
      val dst = Paths.get(path, s"file_bucket=$b")
      val old = Paths.get(s"$root/_old_${name}_b$b")
      // a leftover _old dir from a crashed cleanup would make the next
      // dst→old move throw; it is garbage — clear it before swapping
      if (Files.exists(old))
        org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
      if (Files.exists(dst)) Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(old))
        org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(staging).toFile)
    bucketed.unpersist()
    (updated, inserted)
  }

  /** Delete all chunks belonging to `filenames` (stale-file delete before
    * re-embed — reference J2, vector_store.py:239-245: DELETE WHERE
    * JSON_VALUE(metadata,'$.filename') = :fname). Plain Parquet has no
    * row-level delete, so this is a filtered rewrite through a staging dir
    * with atomic swap — the analog of the reference's `_TMP` + `PURGE`
    * protocol. A store written with [[writePartitioned]] is rewritten with
    * its `file_bucket` partitions, so later bucket-pruned reads and
    * [[upsertPartitioned]] still see one layout. */
  def deleteStale(spark: SparkSession, root: String, name: String,
                  filenames: Seq[String]): Unit = {
    val path = s"$root/$name"
    val staging = s"$root/_staging_$name"
    val store = spark.read.parquet(path)
    val kept = store
      .filter(!element_at(col("metadata"), "filename").isin(filenames: _*) ||
              element_at(col("metadata"), "filename").isNull)
      .write.mode(SaveMode.Overwrite)
    if (store.columns.contains("file_bucket")) kept.partitionBy("file_bucket").parquet(staging)
    else kept.parquet(staging)
    val dir = Paths.get(path)
    val tmpOld = Paths.get(s"$root/_old_$name")
    Files.move(dir, tmpOld, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(staging), dir, StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteDirectory(tmpOld.toFile)
  }

  /** Per-file rollup of processed-chunk metadata — the change-detection
    * input (reference A1/A2, vector_store.py:379-396: GROUP BY filename with
    * MAX(etag/mtime/size), pushed down so output is file-cardinality). */
  def processedFiles(store: DataFrame): DataFrame =
    store
      .select(element_at(col("metadata"), "filename").as("filename"),
        element_at(col("metadata"), "etag").as("etag"),
        element_at(col("metadata"), "time_modified").as("time_modified"),
        element_at(col("metadata"), "size").cast("long").as("size"))
      .filter(col("filename").isNotNull)
      .groupBy("filename")
      .agg(max("etag").as("etag"),
        max("time_modified").as("time_modified"),
        max("size").as("size"),
        count(lit(1)).as("chunks"))
}
