package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class IoSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String = tempDir("iospec")

  test("readTsv: duplicate headers deduped, cells normalized (data_helpers.py:489-557)") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.tsv"),
      "id\tname\tname\n001\tNA\tYes\n2\t100.0\t x \n".getBytes("UTF-8"))
    val df = Io.readTsv(spark, s"$dir/t.tsv")
    assert(df.columns.toSeq === Seq("id", "name", "name_1"))
    val rows = df.as[(String, String, String)].collect().toSet
    assert(rows === Set(("001", null, "True"), ("2", "100", "x")))
  }

  test("readTsv multi-file dirs: header from the FIRST non-empty file; empty input diagnosable") {
    val dir = tmp()
    // part files sort b < c; the empty a-file and the _SUCCESS marker must
    // both be ignored when resolving the header
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a_empty.tsv"), Array.empty[Byte])
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_SUCCESS"), Array.empty[Byte])
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.tsv"),
      "id\tv\n1\tx\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.tsv"),
      "id\tv\n2\ty\n".getBytes("UTF-8"))
    val df = Io.readTsv(spark, dir)
    assert(df.columns.toSeq === Seq("id", "v"))
    // per-file header lines are consumed as headers, never as data rows
    assert(df.as[(String, String)].collect().toSet === Set(("1", "x"), ("2", "y")))
    // a whole directory of empty files fails with a diagnosable error, not
    // an ArrayIndexOutOfBounds from a headerless collect
    val emptyDir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$emptyDir/a.tsv"), Array.empty[Byte])
    val e = intercept[IllegalArgumentException] { Io.readTsv(spark, emptyDir) }
    assert(e.getMessage.contains("no non-empty input files"))
  }

  test("readTsv verifyHeaders: column-order disagreement fails with a named error") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.tsv"),
      "id\tv\n1\tx\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.tsv"),
      "v\tid\ny\t2\n".getBytes("UTF-8"))
    // default (unverified) read silently misaligns b.tsv to a.tsv's header —
    // the documented fast-path tradeoff; the guard turns it into a hard error
    val e = intercept[IllegalArgumentException] {
      Io.readTsv(spark, dir, verifyHeaders = true)
    }
    assert(e.getMessage.contains("header mismatch"))
    assert(e.getMessage.contains("b.tsv"))
    // agreeing headers pass the guard unchanged
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.tsv"),
      "id\tv\n2\ty\n".getBytes("UTF-8"))
    val ok = Io.readTsv(spark, dir, verifyHeaders = true)
    assert(ok.as[(String, String)].collect().toSet === Set(("1", "x"), ("2", "y")))
  }

  test("readTsvChecked row-count invariant holds (data_helpers.py:550-557)") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.tsv"),
      "a\tb\n1\t2\n3\t4\n".getBytes("UTF-8"))
    assert(Io.readTsvChecked(spark, s"$dir/t.tsv").count() === 2)
  }

  test("ctasParquet throws on zero rows (create_modify.py:126-128)") {
    val dir = tmp()
    intercept[Io.ZeroRowsException] {
      Io.ctasParquet(spark, Seq((1, "a")).toDF("k", "v").filter(lit(false)), s"$dir/empty")
    }
    val ok = Io.ctasParquet(spark, Seq((1, "a")).toDF("k", "v"), s"$dir/full")
    assert(ok.count() === 1)
  }

  test("createView refuses when a persistent table holds the name (create_modify.py:314-323)") {
    Catalog.createView(spark, "iospec_view", Seq((1, "a")).toDF("k", "v"))
    assert(spark.table("iospec_view").count() === 1)
    // replace is fine for views
    Catalog.createView(spark, "iospec_view", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(spark.table("iospec_view").count() === 2)
    assert(Catalog.dropViewIfExists(spark, "iospec_view"))
    assert(!Catalog.dropViewIfExists(spark, "iospec_view")) // idempotent
  }

  test("columnDrift reports missing/extra columns (lookup.py:544-645)") {
    val df = Seq((1, "a")).toDF("id", "v")
    val (missing, extra) = Catalog.columnDrift(df, Seq("id", "v", "created"))
    assert(missing === Seq("created") && extra === Seq.empty)
    val (m2, e2) = Catalog.columnDrift(df, Seq("id"))
    assert(m2.isEmpty && e2 === Seq("v"))
    intercept[IllegalArgumentException] {
      Catalog.requireColumns(df, Seq("id", "nope"))
    }
    Catalog.requireColumns(df, Seq("id", "v"))
  }

  test("TSV null-marker round-trip preserves nulls (data_helpers.py:35-56)") {
    val dir = tmp()
    val src = Seq((1L, Some("x")), (2L, None)).toDF("id", "v")
    Io.writeTsv(src, s"$dir/out")
    val back = Io.readTsvTyped(spark, s"$dir/out",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    assert(back.as[(Long, Option[String])].collect().toSet === Set((1L, Some("x")), (2L, None)))
  }

  test("partitioned write + read prunes partitions (filter is a PartitionFilter, not a scan predicate)") {
    val dir = tmp()
    val src = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
      .toDF("id", "part", "v")
    src.write.partitionBy("part").mode("overwrite").parquet(s"$dir/t")
    val pruned = spark.read.parquet(s"$dir/t").filter(col("part") === "a")
    assert(pruned.select("id").as[Long].collect().toSet === Set(1L, 2L))
    val plan = pruned.queryExecution.executedPlan.toString
    // the partition filter must bind at planning time: PartitionFilters
    // non-empty and the predicate NOT pushed as a data filter over files
    assert(plan.contains("PartitionFilters: [isnotnull(part"),
      s"expected a bound PartitionFilter in:\n$plan")
    // scanning only partition a: the scan's resolved file list must
    // exclude the b and c directories entirely
    val scanFiles = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
      }.flatten
    assert(scanFiles.nonEmpty && scanFiles.forall(_.contains("part=a")),
      s"scan must read only part=a files, got: $scanFiles")
  }

  test("DYNAMIC partition pruning: runtime dim-filter values prune the fact scan") {
    // the s31 shape at sf0.001: DPP's benefit heuristic compares the fact
    // scan's size against the dim subquery's, so the fact side must be a
    // real table, not a toy literal frame (a 6-row fixture plans NO
    // dynamicpruning filter — verified, that's the heuristic working)
    val dir = tmp()
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("ship_month", month(col("l_shipdate")))
      .write.partitionBy("ship_month").mode("overwrite").parquet(s"$dir/t")
    val fact = spark.read.parquet(s"$dir/t")
    val dim = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(month(col("l_shipdate")).as("m")).distinct()
      .withColumn("quarter", expr("(m - 1) div 3 + 1"))
    val joined = fact.join(broadcast(dim.filter(col("quarter") === 2)),
      col("ship_month") === col("m"))
    // the fact scan must carry a dynamicpruning expression in its
    // partition filters — the pruning values exist only at runtime
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$plan")
    // correctness: exactly the Q2 months survive
    val months = joined.select("ship_month").distinct()
      .as[Int].collect().toSet
    assert(months.subsetOf(Set(4, 5, 6)) && months.nonEmpty, s"got months $months")
  }

  test("fixed-width round-trip: alignment, adjacent fields, all-blank NULLs, negative numbers") {
    val dir = tmp() + "/fw"
    val spec = Seq(Io.FixedWidthCol("id", 5, "long"),
      Io.FixedWidthCol("name", 8, "string"),
      Io.FixedWidthCol("bal", 7, "long"))
    val src = Seq((1L, Option("ab c"), Option(-42L)),   // inner space preserved
      (22L, None, Option(7L)),                          // NULL string field
      (333L, Option("x"), None))                        // NULL numeric field
      .toDF("id", "name", "bal")
    Io.writeFixedWidth(src, dir, spec)
    // raw layout check: number right-aligned, string left-aligned, no separators
    val lines = spark.read.text(dir).as[String].collect().sortBy(_.trim)
    assert(lines.exists(_ == "    1ab c        -42"))
    assert(lines.exists(_ == "   22              7"))
    assert(lines.exists(_ == "  333x              "))
    val back = Io.readFixedWidth(spark, dir, spec)
      .as[(Long, Option[String], Option[Long])].collect().toSet
    assert(back === Set((1L, Some("ab c"), Some(-42L)),
      (22L, None, Some(7L)), (333L, Some("x"), None)))
  }

  test("fixed-width writer refuses values wider than their field") {
    val dir = tmp() + "/fw_over"
    val spec = Seq(Io.FixedWidthCol("name", 3, "string"))
    val ex = intercept[Exception] {
      Io.writeFixedWidth(Seq(Tuple1("toolong")).toDF("name"), dir, spec)
    }
    assert(ex.getMessage.contains("fixed-width overflow") ||
      ex.getCause != null && ex.getCause.getMessage.contains("fixed-width overflow"))
  }

  test("readSince: only files newer than the watermark are scanned; watermark advances") {
    import org.apache.hadoop.fs.Path
    val dir = s"${tempDir("io_spec")}/since"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def setMtimes(skip: Set[String], t: Long): Unit =
      fs.listStatus(new Path(dir))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .filterNot(s => skip.contains(s.getPath.getName))
        .foreach(s => fs.setTimes(s.getPath, t, -1))
    def names: Set[String] = fs.listStatus(new Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSet

    val t0 = 1700000000000L
    Seq(2L, 4L, 6L).toDF("id").write.mode("overwrite").parquet(dir)
    val batch1 = names
    setMtimes(Set.empty, t0)
    Seq(1L, 3L).toDF("id").write.mode("append").parquet(dir)
    setMtimes(batch1, t0 + 5000L)

    val (all, wmAll, seenAll) = Io.readSince(spark, dir, 0L)
    assert(all.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 6L))
    assert(wmAll === t0 + 5000L)
    assert(seenAll === (names -- batch1), "boundary set = files at the new watermark")

    // the checkpoint is the PAIR (watermark, names consumed at it):
    // batch1 sits exactly AT t0, so it is excluded by name, not by mtime
    val (inc, wmInc, seenInc) = Io.readSince(spark, dir, t0, batch1)
    assert(inc.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    assert(wmInc === t0 + 5000L)
    assert(seenInc === (names -- batch1))

    val (none, wmNone, seenNone) = Io.readSince(spark, dir, t0 + 5000L, seenInc)
    assert(none.count() === 0L)
    assert(none.schema.fieldNames.toSeq === Seq("id"))
    assert(wmNone === t0 + 5000L)
    assert(seenNone === seenInc, "checkpoint unchanged when nothing is new")
  }

  test("readSince: a file landing in the SAME millisecond as the watermark is not lost") {
    import org.apache.hadoop.fs.Path
    val dir = s"${tempDir("io_spec")}/since_boundary"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names: Set[String] = fs.listStatus(new Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSet
    val t0 = 1700000000000L
    Seq(10L).toDF("id").write.mode("overwrite").parquet(dir)
    val batch1 = names
    batch1.foreach(n => fs.setTimes(new Path(s"$dir/$n"), t0, -1))

    // run 1 consumes batch1 and checkpoints (t0, batch1 names)
    val (r1, wm1, seen1) = Io.readSince(spark, dir, 0L)
    assert(r1.select("id").as[Long].collect().toSeq === Seq(10L))
    assert(wm1 === t0 && seen1 === batch1)

    // a straggler lands with mtime EQUAL to the checkpointed watermark —
    // the strict-> filter of the round-9 implementation dropped it forever
    Seq(11L).toDF("id").write.mode("append").parquet(dir)
    (names -- batch1).foreach(n => fs.setTimes(new Path(s"$dir/$n"), t0, -1))
    val (r2, wm2, seen2) = Io.readSince(spark, dir, wm1, seen1)
    assert(r2.select("id").as[Long].collect().toSeq === Seq(11L),
      "same-millisecond straggler must be admitted exactly once")
    assert(wm2 === t0 && seen2 === names, "boundary set now covers both files")

    // run 3: nothing new, nothing re-read
    val (r3, _, _) = Io.readSince(spark, dir, wm2, seen2)
    assert(r3.count() === 0L, "already-consumed boundary files must not re-read")
  }
}
