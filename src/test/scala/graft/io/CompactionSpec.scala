package graft.io

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compaction: contiguous bin semantics on a hand table, and a physical
  * many-small-files → few-big-files rewrite with row fidelity. */
class CompactionSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("planBins cuts contiguous bins at the preceding-cumsum boundary") {
    val files = Seq(("a", 40L), ("b", 40L), ("c", 40L), ("d", 10L),
      ("e", 100L), ("f", 5L)).toDF("file", "bytes")
    val plan = Compaction.planBins(files, Seq("file"), "bytes", 100L)
      .orderBy("file").as[(String, Long, Long)].collect()
    // cum_before: a=0 b=40 c=80 d=120 e=130 f=230
    assert(plan.map(r => r._1 -> r._3).toSeq ===
      Seq("a" -> 0L, "b" -> 0L, "c" -> 0L, "d" -> 1L, "e" -> 1L, "f" -> 2L))
    // order preservation: bins are monotone in file order
    assert(plan.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("a row larger than the target gets a bin without stalling the cut") {
    val files = Seq(("a", 500L), ("b", 10L)).toDF("file", "bytes")
    val plan = Compaction.planBins(files, Seq("file"), "bytes", 100L)
      .orderBy("file").as[(String, Long, Long)].collect()
    assert(plan.map(_._3).toSeq === Seq(0L, 5L))
  }

  test("compactDir rewrites many small files into one file per bin, rows intact") {
    val root = tempDir("compaction_spec")
    val dir = s"$root/small"
    val out = s"$root/compacted"
    val df = spark.range(0, 20000).select(col("id"),
      concat(lit("row-payload-"), col("id")).as("payload"))
    df.repartition(40).write.mode("overwrite").parquet(dir)
    val before = Compaction.listDataFiles(spark, dir)
    assert(before.count() === 40L)
    val totalBytes = before.agg(sum("bytes")).collect()(0).getLong(0)

    val plan = Compaction.compactDir(spark, dir, targetBytes = totalBytes / 4,
      outDir = out)
    val nBins = plan.agg(max("bin_id")).collect()(0).getLong(0) + 1
    assert(nBins >= 3 && nBins <= 6, s"expected ~4-5 bins, got $nBins")

    // one data file per bin directory
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L until nBins).foreach { b =>
      val files = fs.listStatus(new Path(s"$out/bin_id=$b"))
        .filter(s => s.getPath.getName.endsWith(".parquet"))
      assert(files.length === 1, s"bin $b has ${files.length} files")
    }
    // row fidelity: same ids, same payloads
    val back = spark.read.parquet(out)
    assert(back.count() === 20000L)
    assert(back.select("id", "payload").exceptAll(df).count() === 0L)
    assert(df.exceptAll(back.select("id", "payload")).count() === 0L)
  }

  test("compactDir on an empty directory returns the empty plan, no throw, no output") {
    import org.apache.hadoop.fs.Path
    val root = tempDir("compaction_spec")
    val dir = s"$root/empty"
    val out = s"$root/empty_out"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir), true); fs.delete(new Path(out), true)
    fs.mkdirs(new Path(dir))
    val plan = Compaction.compactDir(spark, dir, targetBytes = 1000L, outDir = out)
    assert(plan.count() === 0L)
    assert(!fs.exists(new Path(out)), "no rewrite must happen for an empty plan")
  }

  test("compactDir keeps rows whose file names need URI decoding (space, plus, percent)") {
    import org.apache.hadoop.fs.Path
    val root = tempDir("compaction_spec")
    val dir = s"$root/oddnames"
    val out = s"$root/oddnames_out"
    val df = spark.range(0, 300).select(col("id"))
    df.repartition(3).write.mode("overwrite").parquet(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rename the three part files to the characters that break a raw
    // input_file_name() match: space (URI %20), literal '+' (form-decode
    // trap), and an actual percent escape in the RAW name
    val parts = fs.listStatus(new Path(dir))
      .filter(s => s.getPath.getName.endsWith(".parquet")).map(_.getPath)
    val odd = Seq("with space.parquet", "with+plus.parquet", "with%20raw.parquet")
    parts.zip(odd).foreach { case (p, n) =>
      assert(fs.rename(p, new Path(dir, n)), s"rename to $n")
    }
    val plan = Compaction.compactDir(spark, dir, targetBytes = Long.MaxValue, outDir = out)
    assert(plan.count() === 3L)
    val back = spark.read.parquet(out)
    assert(back.count() === 300L, "every row must survive the odd-name rewrite")
    assert(back.select("id").exceptAll(df).count() === 0L)
  }
}
