package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR.
 *
 * Emits TWO artifacts:
 *
 *  1. stdout — ONE compact JSON line
 *     `{"metric":"total","value":N,"unit":"sec","queries":{...},...}`.
 *     The driver captures only the LAST ~2000 chars of output, so the
 *     per-query map uses each query's unique short prefix (the part before
 *     the first '_': `l5p_minhash_lsh_pairs_portable` → `"l5p"`) and
 *     3-decimal seconds. With full names the line never fit the window —
 *     every prior round's driver-side parse came back null.
 *  2. a full JSON artifact (COMPLETE record: full query names,
 *     full-precision per-rep seconds, per-rep GC-time deltas, per-query
 *     shuffle read/write + spill bytes via [[graft.tools.ShuffleTelemetry]]
 *     — the measured-bytes side of the 100 TB shuffle audit, run
 *     provenance). Artifact provenance is pinned by PATH (round 9 —
 *     the round-8 driver run silently overwrote the committed round-close
 *     artifact, 141.3 s vs 174.3 s, and the working tree read as doc
 *     drift):
 *       - default             → `bench/BENCH_DRIVER.json` (gitignored;
 *         what the driver's per-round run produces — never dirties git)
 *       - SPARK_GRAFT_ONLY    → `bench/BENCH_DEV.json`   (gitignored)
 *       - SPARK_GRAFT_BENCH_OUT=bench/BENCH_LOCAL.json → the TRACKED
 *         round-close artifact, written only by an explicit opt-in run.
 *     Every artifact also carries `run_id`/hostname/load so two runs can
 *     never be confused even if a file is copied around.
 *
 * Noise-robust protocol (round 9): each query runs SPARK_GRAFT_REPS times
 * (default 3), INTERLEAVED suite-wide — pass 1 of every query, then pass 2,
 * then pass 3 — and the reported per-query number — and the headline
 * "value" (their sum) — is the per-query MEDIAN. Round 7 burned a full
 * judge adjudication proving a 2× wall inflation was host noise; round 8's
 * back-to-back median-of-3 fixed one-rep cliffs but was blind to SUSTAINED
 * contention: the r8 driver window inflated all three consecutive reps of
 * c14 (6.8 s vs 0.99 s isolated) and a1 (1.28 s vs 0.34 s). With
 * interleaving, a multi-second contention window inflates one PASS of many
 * queries instead of all reps of one query, and the per-query median
 * self-corrects. The artifact carries min/max/all-reps so any residual
 * outlier is attributable without a rerun.
 *
 * Measurement hygiene:
 *  - an untimed warmup pass exercises the Janino/codegen + JIT cold path
 *    (first generated-class compile costs hundreds of ms that would
 *    otherwise land on whichever query runs first with a native
 *    expression);
 *  - cached/localCheckpointed RDDs are unpersisted after every query
 *    (c9/l13/l16 checkpoint; letting blocks accumulate across 116 queries
 *    builds GC pressure that can cliff an unlucky mid-suite query);
 *  - per-query GC-time deltas go into the full JSON so a one-off outlier
 *    (like the driver's r5 l5p=39.2 s) is attributable from the artifact
 *    alone.
 *
 * Failed queries are reported under "errors" and excluded from
 * "queries"/"value" so a broken query can never be mistaken for a fast one.
 * A query that succeeded on earlier passes and failed later keeps its
 * successful reps in the full artifact under `"partial":true` (still
 * excluded from the headline), so a cross-round diff can see the
 * flakiness instead of misreading the shrunken total as a speedup.
 */
object Bench {

  /** Short display key: unique prefix before the first '_' (falls back to
    * the full name if two registered names would collide). */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    val pref = names.groupBy(n => n.takeWhile(_ != '_'))
    names.map { n =>
      val p = n.takeWhile(_ != '_')
      n -> (if (pref(p).lengthCompare(1) == 0) p else n)
    }.toMap
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Drop every cached/localCheckpointed block the previous query left
    * behind; each registered query is independent, so nothing is reused. */
  private def clearPersisted(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Untimed warmup: a tiny end-to-end plan through the registered native
    * expressions + md5 + a shuffle, so Janino, the codegen cache machinery
    * and the parquet/noop writer JIT-compile before anything is timed. */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val warm = spark.range(256)
      .select(col("id"), split(concat(col("id").cast("string"), lit(" warm up tokens")), " ").as("toks"))
      .select(
        md5(col("id").cast("string").cast("binary")).as("m"),
        graft.llm.SimHash64.simhashCol(spark, "toks").as("sh"),
        graft.llm.SimHashPortable60.simhashCol(spark, "toks").as("shp"),
        graft.llm.TextOps.docFingerprint(col("id").cast("string")).as("fp"),
        graft.llm.TextOps.portableDocFingerprint(col("id").cast("string")).as("pfp"))
    warm.groupBy("m").agg(max("sh"), max("shp"), max("fp"), max("pfp"))
      .write.format("noop").mode("overwrite").save()
    // also exercise the ObjectHashAggregate collect_set → sort_array →
    // array_join path: s18's cold-rep probe (round 11) showed the first
    // volume pass through that generated class costs ~5× task time
    // (238 s vs 44–57 s warm at sf1) purely in C2-JIT compilation
    spark.range(4096)
      .select((col("id") % 64).as("k"), col("id").cast("string").as("v"))
      .groupBy("k")
      .agg(array_join(sort_array(collect_set(col("v"))), "|").as("agg"),
        countDistinct(col("v")).as("n"))
      .write.format("noop").mode("overwrite").save()
    clearPersisted(spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = GraftSession.cores
    // a FILTERED dev run (SPARK_GRAFT_ONLY) must never clobber the tracked
    // full-registry artifact — it burned one round-8 commit before this
    // guard: the single-query JSON silently replaced the 160-query one
    // and the DRIVER's own full-registry run must not clobber it either
    // (round 8: driver overwrote the committed 141.3 s artifact with its
    // contended 174.3 s run) — so the tracked path is explicit-opt-in only
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_ONLY")) "bench/BENCH_DEV.json"
      else "bench/BENCH_DRIVER.json")
    val spark = GraftSession()

    warmUp(spark)

    // dev-only filter: SPARK_GRAFT_ONLY=<prefix> limits the run; the driver
    // doesn't set it, so round benches always run the full registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // per query: all successful rep times (sec) and their gc deltas (ms).
    // INTERLEAVED passes (round 9): pass p of EVERY query, then pass p+1 —
    // a sustained host-contention window now lands on one pass of many
    // queries (median-correctable) instead of all reps of one query.
    val repSec = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val repGc  = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]
    // per-rep shuffle/spill byte deltas (round 10): measured bytes, not plan
    // shapes, back the 100 TB shuffle-volume audit in PERF.md. One query
    // runs at a time and the listener bus is drained before each snapshot,
    // so a delta is attributable to exactly one (query, rep).
    val repShuffle = scala.collection.mutable.LinkedHashMap.empty[String, Vector[graft.tools.ShuffleTelemetry.Snap]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      repSec += n -> Vector.empty; repGc += n -> Vector.empty
      repShuffle += n -> Vector.empty
    }
    val telemetry = new graft.tools.ShuffleTelemetry(spark.sparkContext)
    var pass = 0
    while (pass < reps) {
      names.foreach { name =>
        if (!errors.contains(name)) {  // a failed query stays failed; skip its later passes
          val fn = SparkEntry.queries(name)
          val sh0 = telemetry.snapshot()
          val gc0 = gcMillis()
          val t0 = System.nanoTime()
          try {
            // noop sink evaluates the full physical plan (count() would let
            // Catalyst prune every projection and undercount the work).
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            repSec(name) :+= (System.nanoTime() - t0) / 1e9
            repGc(name)  :+= (gcMillis() - gc0)
            repShuffle(name) :+= (telemetry.snapshot() - sh0)
          } catch {
            case NonFatal(e) =>
              errors += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
          }
          clearPersisted(spark)
        }
      }
      pass += 1
    }
    // a query with an error keeps any earlier successful reps as PARTIAL
    // data (full artifact only, flagged) — never in the headline, so a
    // flaky query can't shrink "value" into a phantom speedup unnoticed
    val partialSec = repSec.collect { case (k, v) if errors.contains(k) && v.nonEmpty => k -> v }
    val partialGc  = repGc.collect  { case (k, v) if errors.contains(k) && v.nonEmpty => k -> v }
    errors.keys.foreach { k => repSec -= k; repGc -= k }
    repSec.filterInPlace((_, v) => v.nonEmpty)
    repGc.filterInPlace((_, v) => v.nonEmpty)

    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val med = repSec.map { case (k, v) => k -> median(v) }
    val total = if (med.nonEmpty) med.values.sum else 0.0
    val es = errors.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",", "}")

    // full-fidelity artifact: complete names, every rep, gc telemetry;
    // partial (errored-later) queries carry their reps flagged, outside the headline
    def qEntry(k: String, v: Vector[Double], gc: Vector[Long], partial: Boolean): String = {
      // shuffle bytes are plan-determined (stable across reps modulo AQE),
      // so the artifact carries the per-rep MAX of each counter — one number
      // per query per counter, honest about the worst rep
      val sh = repShuffle.getOrElse(k, Vector.empty)
      val shJson = if (sh.isEmpty) "" else
        ",\"shuffle_rw_bytes\":[" + sh.map(_.readBytes).max + "," + sh.map(_.writeBytes).max + "]" +
        ",\"spill_bytes\":[" + sh.map(_.memSpillBytes).max + "," + sh.map(_.diskSpillBytes).max + "]"
      Json.str(k) + ":{\"sec\":" + f"${median(v)}%.6f" +
        ",\"min\":" + f"${v.min}%.6f" + ",\"max\":" + f"${v.max}%.6f" +
        ",\"reps\":" + v.map(x => f"$x%.6f").mkString("[", ",", "]") +
        ",\"gc_ms\":" + gc.mkString("[", ",", "]") + shJson +
        (if (partial) ",\"partial\":true" else "") + "}"
    }
    val fullQs = (
      repSec.map { case (k, v) => qEntry(k, v, repGc(k), partial = false) } ++
      partialSec.map { case (k, v) => qEntry(k, v, partialGc(k), partial = true) }
    ).mkString("{", ",", "}")
    // run provenance: pins WHICH run produced an artifact even if the file
    // is copied — round-8's committed-vs-driver artifact confusion is
    // unambiguous with run_id + hostname + load in the record
    val host = try java.net.InetAddress.getLocalHost.getHostName catch { case NonFatal(_) => "unknown" }
    val startedAt = java.time.Instant.now().toString
    val runId = f"${host}-${ProcessHandle.current.pid}%d-${System.currentTimeMillis()}%d"
    val loadAvg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median","reps":$reps,"interleaved":true,"sf":${Json.str(sfDir)},"cpus":$cpus,""" +
      s""""run_id":${Json.str(runId)},"hostname":${Json.str(host)},"written_at":${Json.str(startedAt)},"load_avg_end":$loadAvg,""" +
      s""""queries":$fullQs,"errors":$es,""" +
      s""""jvm":${Json.str(System.getProperty("java.version"))},"heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}}"""
    try {
      val p = Paths.get(outPath)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, full.getBytes(StandardCharsets.UTF_8))
    } catch { case NonFatal(e) =>
      System.err.println(s"bench: could not write $outPath: ${e.getMessage}")
    }

    // compact stdout line (must fit the driver's ~2000-char tail window)
    val short = shortKeys(names)
    val qs = med.map { case (k, v) => Json.str(short(k)) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","stat":"median","reps":$reps,"queries":$qs,"errors":$es,""" +
      s""""sf":${Json.str(sfDir)},"keys":"prefix-before-first-underscore","full":${Json.str(outPath)}}""")
    // Round 15, additions-only: at 329 queries the per-query line above is
    // ~8 KB, longer than the driver's ~2000-char tail capture, so its JSON
    // parse came back null every round (PERF_r14 "prev_bench_ok": false
    // despite rc 0). A SECOND, short, LAST line carries the headline —
    // total, count, errors, and the path of the full artifact — so any
    // tail-window capture gets a complete parseable JSON object. The
    // per-query line, timing protocol and env contract are untouched.
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"total_sec":${f"$total%.3f"},"unit":"sec","stat":"median","reps":$reps,""" +
      s""""n":${med.size},"errors":$es,"sf":${Json.str(sfDir)},"cpus":$cpus,"full":${Json.str(outPath)}}""")
    spark.stop()
  }
}
