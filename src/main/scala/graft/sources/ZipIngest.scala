package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._
import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

/** Bounded ZIP ingest (reference S11).
  *
  * Mirrors the reference's extraction caps and safety rules
  * (reference: src/server/app/embed/staging.py:119-241; caps :33-35):
  * max 500 entries, 500 MB total, 100 MB per file; nested archives
  * rejected; entry paths flattened. Runs distributed over
  * `binaryFile`-read archives — one task per archive, entries exploded
  * to rows; per-archive atomicity falls out of Spark's all-or-nothing
  * task retry.
  */
object ZipIngest {

  val MaxFiles = 500            // staging.py:33
  val MaxTotalBytes: Long = 500L * 1024 * 1024 // staging.py:34
  val MaxFileBytes: Long = 100L * 1024 * 1024  // staging.py:35
  private val nestedExts = Set("zip", "jar", "tar", "gz", "7z", "rar")

  case class Limits(maxFiles: Int = MaxFiles, maxTotalBytes: Long = MaxTotalBytes,
                    maxFileBytes: Long = MaxFileBytes)

  /** Extract one archive's entries; throws IllegalStateException on any cap
    * violation or nested archive — per-archive all-or-nothing, like the
    * reference's atomic promotion. */
  def extractEntries(zipBytes: Array[Byte], limits: Limits = Limits()):
      Seq[(String, Array[Byte])] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(zipBytes))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var total = 0L
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          val name = DocumentSource.flattenName(entry.getName)
          val ext = name.substring(name.lastIndexOf('.') + 1).toLowerCase
          if (nestedExts.contains(ext))
            throw new IllegalStateException(s"nested archive rejected: $name")
          if (out.size + 1 > limits.maxFiles)
            throw new IllegalStateException(s"too many entries (> ${limits.maxFiles})")
          val bytes = readBounded(zin, limits.maxFileBytes, name)
          total += bytes.length
          if (total > limits.maxTotalBytes)
            throw new IllegalStateException(s"archive exceeds ${limits.maxTotalBytes} bytes total")
          out += name -> bytes
        }
        entry = zin.getNextEntry
      }
    } finally zin.close()
    out.toSeq
  }

  private def readBounded(zin: ZipInputStream, cap: Long, name: String): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = zin.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      if (buf.size() > cap)
        throw new IllegalStateException(s"entry $name exceeds $cap bytes")
      n = zin.read(chunk)
    }
    buf.toByteArray
  }

  /** Distributed: archives from `binaryFile` → one row per extracted entry
    * (archive_path, entry_name, content, ok, error). A failed archive
    * yields a single error row (no partial entries). */
  def explodeArchives(spark: SparkSession, dir: String, glob: String = "*.zip"):
      DataFrame = {
    val raw = DocumentSource.binaryFiles(spark, dir, glob).select("path", "content")
    val schema = StructType(Seq(
      StructField("archive_path", StringType),
      StructField("entry_name", StringType),
      StructField("content", BinaryType),
      StructField("ok", BooleanType, nullable = false),
      StructField("error", StringType)))
    val enc = RowEncoder.encoderFor(schema)
    raw.mapPartitions { it =>
      it.flatMap { r =>
        val path = r.getString(0)
        try extractEntries(r.getAs[Array[Byte]](1)).iterator
          .map { case (n, b) => Row(path, n, b, true, null) }
        catch { case e: IllegalStateException =>
          Iterator(Row(path, null, null, false, e.getMessage))
        }
      }
    }(enc)
  }
}
