package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side: sets up the session, runs untimed warm-up
 * passes of the workload (the first also samples the heap at every step
 * boundary), then timed passes until the time budget is spent, and writes
 * what it measured (run.json), the spans of the traced passes (spans.jsonl)
 * and the outputs to check (checks.json) under `--out`. perfbench/run.py
 * turns these into metrics and checks every output against its oracle.
 *
 * With `--setup-only 1` it only sets up, writes run.json with the moment the
 * session was ready, and exits; run.py starts such JVMs to repeat the
 * set-up from process start.
 *
 * Usage: perfbench.Main --workload W --data DIR --out DIR --seconds S
 *          --trace 0|1 --cores N --seed N --change-bp N [--setup-only 1]
 */
object Main {

  /** Untimed passes before the timed ones. After one, the next pass still
    * ran 10–40% more CPU than later ones (the JIT compilers were busy
    * through it); after two, a run's timed passes stay within about 10%
    * of each other. */
  val WarmupPasses = 2

  /** Session settings, identical to graft.Bench's so that a later change to
    * how sessions are made is compared like for like. */
  def session(cores: String, out: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // keep every file the run writes inside its output root
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()

  /** Waits (at most 20 s) until the JIT compilers have been idle for half a
    * second, so the methods the warm-up passes made hot are compiled before
    * the timed passes instead of competing with them for cores. Returns
    * the seconds waited. */
  private def jitQuiesce(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var idle = false
    while (!idle && System.nanoTime() - t0 < 20e9) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      idle = now - last < 25
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU nanoseconds the whole process has used so far: every thread,
    * including GC and JIT compiler threads and threads that have ended. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU nanoseconds the JIT compiler threads have used so far, from Linux's
    * per-thread scheduler statistics. run.py starts the JVM with a fixed set
    * of compiler threads, so none ends and takes its time with it. */
  private def jitCpuNs(): Long =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")))
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler"))
          new String(Files.readAllBytes(t.toPath.resolve("schedstat"))).split(' ')(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum

  /** Seconds since the Unix epoch, to the microsecond: run.py subtracts the
    * moment it started the process. */
  private def epochS(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload.byName(a("workload"))
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traceMode = a("trace") == "1"
    val cores = a("cores")
    Files.createDirectories(Paths.get(out))

    // set-up: session and input views; run.py times it from process start
    val spark = session(cores, out)
    spark.sparkContext.setLogLevel("WARN")
    for (t <- workload.tables)
      spark.read.parquet(s"${a("data")}/$t.parquet").createOrReplaceTempView(t)
    val readyEpochS = epochS()
    if (a.get("setup-only").contains("1")) {
      Files.write(Paths.get(out, "run.json"),
        Json.obj("ready_epoch_s" -> Json.num(readyEpochS)).getBytes(StandardCharsets.UTF_8))
      spark.stop()
      return
    }
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, a("data"), out, a("seed").toLong, a("change-bp").toInt)

    val plain = new Tracer(spark, traced = false)
    val traced = new Tracer(spark, traced = true)
    val warmS = ArrayBuffer.empty[Double]
    val untracedWall = ArrayBuffer.empty[Double]
    val tracedWall = ArrayBuffer.empty[Double]
    val untracedCpu = ArrayBuffer.empty[Double]
    val untracedJit = ArrayBuffer.empty[Double]
    /** Runs pass `k`; returns its wall seconds, its CPU seconds without the
      * JIT compilers' and the JIT compilers' CPU seconds. */
    def onePass(k: Int, tr: Tracer): (Double, Double, Double) = {
      workload.beforePass(ctx, k)
      if (tr.traced) { tr.pass = k; sc.addSparkListener(tr.listener) }
      val (c0, j0) = (processCpuNs(), jitCpuNs())
      val t0 = System.nanoTime()
      workload.pass(ctx, tr)
      val wall = (System.nanoTime() - t0) / 1e9
      val jit = (jitCpuNs() - j0) / 1e9
      val cpu = (processCpuNs() - c0) / 1e9 - jit
      if (tr.traced) { ListenerBusDrain(sc); sc.removeSparkListener(tr.listener) }
      (wall, cpu, jit)
    }

    // untimed warm-up passes: JIT, codegen caches and the previous release;
    // the step boundaries of the first feed heap_peak_mb
    for (k <- 0 until WarmupPasses) {
      ctx.heapProbe = k == 0
      warmS += onePass(k, plain)._1
    }
    ctx.heapProbe = false
    val quietS = jitQuiesce()

    // timed passes until the budget is spent; a traced run alternates
    // untraced and traced passes (at least untraced, traced, untraced), so
    // the tracing overhead is read against the untraced passes either side
    var k = WarmupPasses
    var spent = 0.0
    while (k == WarmupPasses || spent < seconds ||
        (traceMode && (tracedWall.isEmpty || untracedWall.size < 2))) {
      val useTrace = traceMode && (k - WarmupPasses) % 2 == 1
      val (wall, cpu, jit) = onePass(k, if (useTrace) traced else plain)
      if (useTrace) tracedWall += wall
      else { untracedWall += wall; untracedCpu += cpu; untracedJit += jit }
      spent += wall
      k += 1
    }

    val checks = workload.checks(ctx)
    Files.write(Paths.get(out, "checks.json"),
      Json.arr(checks).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(out, "spans.jsonl"),
      traced.spansJson.toSeq.asJava, StandardCharsets.UTF_8)
    val u = traced.listener.unattributed
    Files.write(Paths.get(out, "run.json"), Json.obj(
      "ready_epoch_s" -> Json.num(readyEpochS),
      "warmup_wall_s" -> Json.nums(warmS),
      "untraced_wall_s" -> Json.nums(untracedWall),
      "traced_wall_s" -> Json.nums(tracedWall),
      "step_heap_mb" -> Json.nums(ctx.heapMb),
      "jit_quiesce_s" -> Json.num(quietS),
      "untraced_cpu_s" -> Json.nums(untracedCpu),
      "untraced_jit_cpu_s" -> Json.nums(untracedJit),
      "cores" -> cores,
      "unattributed" -> u.json).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
