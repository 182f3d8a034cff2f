package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Ledger-based incremental ingest edges (the registered s34 row carries
  * the DuckDB oracle; these pin the first-run / empty-directory contract). */
class IncrementalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def emptyLedger = Seq.empty[String].toDF("path")
  private def tmpDir: java.io.File = new java.io.File(tempDir("graft-inc"))

  test("readNewFiles on a missing directory returns an empty delta, no crash") {
    val dir = new java.io.File(tmpDir, "never-written").getAbsolutePath
    val (df, paths) = Incremental.readNewFiles(spark, dir, emptyLedger)
    assert(paths.isEmpty)
    assert(df.count() === 0L)
  }

  test("readNewFiles on a directory with zero parquet files returns an empty delta") {
    val d = new java.io.File(tmpDir, "only-markers")
    d.mkdirs()
    new java.io.File(d, "_SUCCESS").createNewFile()
    val (df, paths) = Incremental.readNewFiles(spark, d.getAbsolutePath, emptyLedger)
    assert(paths.isEmpty)
    assert(df.count() === 0L)
  }

  test("first real run reads everything; a caught-up ledger yields an empty delta") {
    val d = new java.io.File(tmpDir, "inc-data").getAbsolutePath
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.mode("overwrite").parquet(d)
    val (df1, p1) = Incremental.readNewFiles(spark, d, emptyLedger)
    assert(p1.nonEmpty)
    assert(df1.count() === 2L)
    val (df2, p2) = Incremental.readNewFiles(spark, d, p1.toDF("path"))
    assert(p2.isEmpty)
    assert(df2.count() === 0L)
    assert(df2.columns.toSeq === Seq("id", "s")) // schema preserved on empty delta
  }
}
