package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.GraftSession
import graft.streaming.{HourlyCount, StreamDoc, Streaming}

/**
 * Streaming THROUGHPUT evidence (round-12 verdict ask): the stateful
 * streaming twins are correctness-spec'd (incl. kill+restart) but carried
 * no rate/latency numbers. This main feeds the two hardest stateful
 * streams — [[Streaming.nearDupDetectStream]] (LSH banding +
 * flatMapGroupsWithState keeper state) and [[Streaming.anomalyStream]]
 * (per-key trailing-window z-test state) — from a MemoryStream at two
 * ingest granularities each (many small micro-batches vs few large ones:
 * the latency-vs-throughput ends of the trigger spectrum) and records
 * rows/s plus per-micro-batch trigger latency (p50/max) from the
 * engine's own StreamingQueryProgress.
 *
 * The near-dup feed is the REAL sf0.1 documents corpus (50k docs,
 * realistic shingle/banding cost), event times spaced 1 s apart with a
 * 10 s watermark; the anomaly feed is 64 keys × 2000 hourly buckets with
 * planted spikes. Results → `bench/BENCH_STREAM.json` (tracked; written
 * only by explicit runs of this main).
 *
 * Usage: runMain graft.tools.StreamBench [docsDir] [outPath]
 */
object StreamBench {

  private final case class RunStats(workload: String, chunkRows: Int,
                                    rows: Long, outRows: Long, wallSec: Double,
                                    batches: Int, latP50Ms: Long, latMaxMs: Long)

  def main(args: Array[String]): Unit = {
    val docsDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("bench/BENCH_STREAM.json")
    val cpus = GraftSession.cores
    val spark = GraftSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ---- feeds (deterministic) -----------------------------------------
    val docs: Array[StreamDoc] = spark.read
      .parquet(s"$docsDir/documents.parquet")
      .selectExpr("doc_id", "text").as[(Long, String)].collect()
      .sortBy(_._1)
      .map { case (id, text) =>
        StreamDoc(id, new java.sql.Timestamp(1700000000000L + id * 1000L), text) }
    val buckets: Array[HourlyCount] = (for {
      h <- 0L until 2000L
      k <- 0 until 64
    } yield HourlyCount(s"k$k", h,
      100 + (h * 31 + k * 7) % 23 + (if ((h + k) % 97 == 0) 500L else 0L)
    )).toArray

    /** Run one streaming query to completion over `data` fed in
      * `chunkRows`-sized MemoryStream chunks; stats from the engine's own
      * progress events. The query is started BEFORE the first chunk and
      * each chunk is processed to quiescence — micro-batch boundaries are
      * the chunk boundaries, so chunk size IS the ingest granularity. */
    def run[T: org.apache.spark.sql.Encoder](workload: String, data: Array[T],
        chunkRows: Int)(build: MemoryStream[T] => org.apache.spark.sql.Dataset[_]): RunStats = {
      val mem = MemoryStream[T]
      val q = build(mem).writeStream.format("noop")
        .outputMode(OutputMode.Append()).start()
      val t0 = System.nanoTime()
      data.grouped(chunkRows).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      val lats = prog.map(_.durationMs.get("triggerExecution").longValue).sorted
      val outRows = prog.map(p => Option(p.sink)
        .map(_.numOutputRows).getOrElse(0L)).sum
      q.stop()
      RunStats(workload, chunkRows, data.length.toLong, outRows, wall,
        prog.length, if (lats.isEmpty) 0L else lats(lats.length / 2),
        if (lats.isEmpty) 0L else lats.last)
    }

    def nearDup(chunk: Int): RunStats =
      run[StreamDoc]("near_dup_detect", docs, chunk) { mem =>
        Streaming.nearDupDetectStream(
          mem.toDS().withWatermark("ts", "10 seconds"), retentionMs = 3600000L)
      }
    def anomaly(chunk: Int): RunStats =
      run[HourlyCount]("anomaly", buckets, chunk) { mem =>
        Streaming.anomalyStream(mem.toDS(), windowHours = 24, zThresh = 3)
      }

    // warmup (codegen/JIT) — small slices, untimed
    run[StreamDoc]("warmup", docs.take(2000), 1000) { mem =>
      Streaming.nearDupDetectStream(
        mem.toDS().withWatermark("ts", "10 seconds"), retentionMs = 3600000L) }
    run[HourlyCount]("warmup", buckets.take(8000), 4000) { mem =>
      Streaming.anomalyStream(mem.toDS(), windowHours = 24, zThresh = 3) }

    val stats = Seq(nearDup(1000), nearDup(10000), anomaly(8000), anomaly(64000))

    val runs = stats.map { s =>
      f"""{"workload":"${s.workload}","chunk_rows":${s.chunkRows},""" +
        f""""rows":${s.rows},"out_rows":${s.outRows},""" +
        f""""wall_sec":${s.wallSec}%.3f,"rows_per_sec":${s.rows / s.wallSec}%.0f,""" +
        f""""micro_batches":${s.batches},"trigger_ms_p50":${s.latP50Ms},""" +
        f""""trigger_ms_max":${s.latMaxMs}}"""
    }.mkString("[", ",", "]")
    val json = s"""{"docs_dir":"$docsDir","cpus":$cpus,""" +
      s""""written_at":"${java.time.Instant.now()}","runs":$runs}"""
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
