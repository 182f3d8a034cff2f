package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Correctness dump: each SparkEntry.queries result → parquet under
 * `outDir/<name>`, plus oracle_sql.json for the DuckDB compare
 * (tools/local_check.py) and failures.json naming every query that threw.
 *
 * Usage: Verify <sfDir> <outDir> [threads=1] [fifo|fair]
 *
 * With threads > 1 the workers share ONE SparkSession — the concurrency
 * gate (CORRECTNESS_CONCURRENT.json): session-conf leaks across queries,
 * temp-view or scratch-path collisions, non-thread-safe driver state and
 * scheduler starvation all show up as failed or wrong dumps. Under `fair`
 * each worker is its own FAIR scheduler pool, so one heavy query cannot
 * convoy the rest.
 *
 * Prints one JSON summary line (per-query seconds, errors, failed count).
 * The exit status stays 0 when queries fail: the dumps of the others are
 * still compared, and failures.json plus the summary name the failed ones.
 */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val threads = args.lift(2).fold(1)(_.toInt)
    val fair = args.lift(3).exists(_.equalsIgnoreCase("fair"))
    val spark =
      if (fair) GraftSession("spark.scheduler.mode" -> "FAIR") else GraftSession()
    new java.io.File(outDir).mkdirs()

    // dev-only filter: SPARK_GRAFT_ONLY=<prefix,...> limits the dump
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    // deterministic heavy/light interleave: adjacent pickups mix query
    // families instead of draining one file's queries together
    val work = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .sortBy { case (name, _) => java.util.Objects.hashCode(name.reverse) }
    val queue = new ConcurrentLinkedQueue(work.asJava)
    val times = new ConcurrentHashMap[String, Double]()
    val errors = new ConcurrentHashMap[String, String]()
    val done = new AtomicInteger(0)

    def worker(i: Int): Unit = {
      if (fair) spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-pool-$i")
      var next = queue.poll()
      while (next != null) {
        val (name, fn) = next
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          times.put(name, (System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          errors.put(name, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        val n = done.incrementAndGet()
        if (n % 25 == 0) System.err.println(s"[verify] $n/${work.size} done")
        next = queue.poll()
      }
    }
    val pool = Executors.newFixedThreadPool(threads)
    // get() rethrows a fatal error from any worker and fails the run
    try (0 until threads).map(i => pool.submit[Unit](() => worker(i))).foreach(_.get())
    finally pool.shutdown()

    def sorted[V](m: ConcurrentHashMap[String, V]) = m.asScala.toSeq.sortBy(_._1)
    def write(path: String, text: String): Unit = Files.writeString(Paths.get(path), text)
    def strMap(kvs: Iterable[(String, String)]) = Json.obj(kvs.map { case (k, v) => k -> Json.str(v) })
    val errorsJson = strMap(sorted(errors))
    write(s"$outDir/oracle_sql.json", strMap(SparkEntry.oracleSql))
    write(s"$outDir/failures.json", errorsJson)
    // twin manifest (round 10): each no-oracle row → its oracled portable
    // twin. Written next to the dump and to the tracked bench/TWINS.json
    // (registry-derived and deterministic, so re-runs never dirty git).
    val twinsJson = strMap(graft.queries.Registry.twins.toSeq.sorted)
    write(s"$outDir/twins.json", twinsJson)
    try write("bench/TWINS.json", twinsJson)
    catch { case NonFatal(e) =>
      System.err.println(s"[verify] could not write bench/TWINS.json: ${e.getMessage}")
    }

    val timesJson = Json.obj(sorted(times).map { case (k, v) => k -> f"$v%.3f" })
    println(s"""{"mode":"${if (fair) "fair" else "fifo"}","threads":$threads,""" +
      s""""queries":${work.size},"failed":${errors.size},""" +
      s""""times":$timesJson,"errors":$errorsJson}""")
    spark.stop()
  }
}
