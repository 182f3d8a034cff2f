package graft.api

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Driver-side paginated sources (SURVEY §2.1 S13–S15, §2.4 A12): the
 * reference walks remote APIs page-by-page on the driver and loads the
 * accumulated batch. Re-expressed as pluggable fetch functions (no network
 * dependency in the engine core; a production deployment injects an HTTP
 * fetcher) with the reference's pagination invariants: page-count drift
 * detection, retry with linear backoff, cursor walking.
 *
 * Reference: cda_bq_etl/pdc_helpers.py:26-168 (offset/limit + drift +
 * retry), CDA/PDC/create_tables_quant_data_matrix_pdc.py:49-131 (cursor
 * pagination), common_etl/support.py:542-573 (manifest POST).
 */
object Sources {

  final class PageDriftException(msg: String) extends RuntimeException(msg)

  /** Retry with linear backoff (pdc_helpers.py:42-76: ≤10 tries, linear).
    * Only non-fatal failures are retried: an interrupt or a JVM error
    * propagates from the first attempt. */
  def retry[T](maxAttempts: Int = 10, backoffMs: Long = 100)(f: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxAttempts) {
      try return f
      catch {
        case NonFatal(e) =>
          last = e; attempt += 1
          if (attempt < maxAttempts) Thread.sleep(backoffMs * attempt)
      }
    }
    throw last
  }

  /**
   * S13/A12 — offset/limit pagination with drift detection: `fetch(offset,
   * limit)` returns (rows, totalCount); if totalCount changes between pages
   * the walk aborts (pdc_helpers.py:152-154).
   */
  def fetchPaged[T](pageSize: Int)(fetch: (Int, Int) => (Seq[T], Int)): Seq[T] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var offset = 0
    var expected = -1
    var done = false
    while (!done) {
      val (rows, total) = retry()(fetch(offset, pageSize))
      if (expected < 0) expected = total
      else if (expected != total)
        throw new PageDriftException(s"page-count drift: expected $expected, now $total")
      out ++= rows
      offset += pageSize
      done = rows.isEmpty || offset >= expected
    }
    if (out.size != expected)
      throw new PageDriftException(s"accumulated ${out.size} rows, expected $expected")
    out.toSeq
  }

  /**
   * S14 — cursor pagination (`Link: rel="next"` walk): `fetch(cursor)`
   * returns (rows, nextCursor); stops when nextCursor is None.
   */
  def fetchCursor[T](fetch: Option[String] => (Seq[T], Option[String])): Seq[T] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var cursor: Option[String] = None
    var first = true
    while (first || cursor.isDefined) {
      first = false
      val (rows, next) = retry()(fetch(cursor))
      out ++= rows
      cursor = next
    }
    out.toSeq
  }

  /** Materialize driver-fetched rows as a DataFrame (the load step of every
    * API source: accumulate → createDataFrame → write). */
  def toDataFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)), schema)

  /**
   * S16 — bucket puller (common_etl/support.py:661-752): parallel fetch of a
   * pull-list. The reference thread-pools gs:// downloads on one machine;
   * here the pull-list is a DataFrame and the fetch runs per-partition on
   * executors — same semantics, cluster-parallel. `fetchFn` maps a source
   * URI to bytes (injected; tests use local-file reads).
   */
  def pullToDir(urls: DataFrame, uriCol: String, destDir: String,
                fetchFn: String => Array[Byte]): Unit = {
    val dest = destDir
    val col = uriCol
    urls.select(col).rdd.foreachPartition { it =>
      val d = new java.io.File(dest); d.mkdirs()
      it.foreach { r =>
        val uri = r.getString(0)
        val name = uri.substring(uri.lastIndexOf('/') + 1)
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dest/$name"), fetchFn(uri))
      }
    }
  }

  /**
   * S17 — zip/gzip extraction source (CDA/extract_from_tsv.py:44-99):
   * unpack an archive into per-entity files, skipping empty entries.
   * Returns extracted file paths. (Tarballs in the reference arrive as
   * .tgz; the JDK ships zip+gzip codecs, which cover the same staging
   * semantics.)
   */
  def extractZip(zipPath: String, destDir: String): Seq[String] = {
    val zf = new java.util.zip.ZipFile(zipPath)
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val entries = zf.entries()
      new java.io.File(destDir).mkdirs()
      while (entries.hasMoreElements) {
        val e = entries.nextElement()
        if (!e.isDirectory && e.getSize != 0) {
          val target = s"$destDir/${new java.io.File(e.getName).getName}"
          val in = zf.getInputStream(e)
          try java.nio.file.Files.copy(in, java.nio.file.Paths.get(target),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
          out += target
        }
      }
      out.toSeq
    } finally zf.close()
  }

  def extractGzip(gzPath: String, destPath: String): String = {
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(gzPath))
    try java.nio.file.Files.copy(in, java.nio.file.Paths.get(destPath),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    destPath
  }
}
