package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.GraftSession
import graft.streaming.{HourlyCount, StreamDoc, Streaming}

/**
 * sf1 streaming-parity gate (round 14, verdict ask #6): the streaming
 * twins are spec-tested at fixture scale; this main replays the FULL sf1
 * replica through the three stateful streams in MemoryStream chunks and
 * asserts stream ≡ batch row-for-row on the whole corpus —
 *
 *   1. nearDupDetectStream over every sf1 document (event-time order, so
 *      both membership AND min-keeper attribution must equal
 *      Dedup.nearDupDetectBatch),
 *   2. anomalyStream over the hourly buckets of every sf1 event vs
 *      ops.Anomaly.rollingCountAnomaly (bit-identical for in-order feeds),
 *   3. the l60 COMPOSED curation ingest (normalize → gate inside the
 *      stream, incremental dedup per micro-batch) vs the same increments
 *      run as plain batches.
 *
 * Writes one JSON artifact (STREAM_SF1.json shape): per-workload rows
 * compared, equality, and chunk geometry. Exit 1 on any mismatch.
 */
object StreamSf1 {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("target/testdata/sf1")
    val outPath = args.lift(1).getOrElse("STREAM_SF1.json")
    val cpus = GraftSession.cores
    val spark = GraftSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def table(name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")

    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    var allOk = true
    def record(workload: String, rowsStream: Long, rowsBatch: Long,
               equal: Boolean, detail: String): Unit = {
      allOk &&= equal
      results += s"""{"workload":"$workload","rows_stream":$rowsStream,""" +
        s""""rows_batch":$rowsBatch,"equal":$equal,"detail":"$detail"}"""
      println(s"[stream-sf1] $workload: stream=$rowsStream batch=$rowsBatch " +
        s"equal=$equal ($detail)")
    }

    // ---- 1. near-dup detector over every sf1 document --------------------
    {
      val docs: Array[StreamDoc] = table("documents")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
        .sortBy(_._1)
        .map { case (id, t) =>
          StreamDoc(id, new java.sql.Timestamp(1700000000000L + id * 1000L), t) }
      // retention beyond the whole stream's event-time span: the batch twin
      // never expires keepers, so parity needs none expired here either
      val retentionMs = docs.last.ts.getTime - docs.head.ts.getTime + 3600000L
      val chunk = 50000
      val mem = MemoryStream[StreamDoc]
      val got = Streaming.nearDupDetectStream(
          mem.toDS().withWatermark("ts", "10 seconds"), retentionMs)
      val sink = got.writeStream.format("memory").queryName("neardup_sf1")
        .outputMode(OutputMode.Append()).start()
      docs.grouped(chunk).foreach { c =>
        mem.addData(c.toIndexedSeq); sink.processAllAvailable() }
      sink.stop()
      // one verdict per doc: min (dup_of_ts, dup_of) across buckets — the
      // documented aggregation for batch-twin attribution parity
      val stream = spark.table("neardup_sf1")
        .groupBy("doc_id")
        .agg(min(struct(col("dup_of_ts"), col("dup_of"))).getField("dup_of").as("dup_of"))
        .as[(Long, Long)].collect().toMap
      val batch = graft.llm.Dedup.nearDupDetectBatch(
          table("documents").select(col("doc_id"), col("text"),
            (lit(1700000000000L) + col("doc_id") * 1000L).as("ts_ms")),
          "text", "doc_id", "ts_ms")
        .as[(Long, Long)].collect().toMap
      record("near_dup_detect", stream.size.toLong, batch.size.toLong,
        stream == batch, s"chunk=$chunk, full (doc_id -> dup_of) map compared")
    }

    // ---- 2. anomaly monitor over every sf1 event's hourly buckets --------
    {
      val events = graft.queries.Registry.tdEventsUs(spark, sfDir)
      val hourly = events
        .groupBy(col("event_type").as("key"),
          expr("ts_us div 3600000000").as("hour_idx"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val buckets = hourly.as[HourlyCount].collect().sortBy(b => (b.hour_idx, b.key))
      val chunk = 10000
      val mem = MemoryStream[HourlyCount]
      val sink = Streaming.anomalyStream(mem.toDS(), windowHours = 24, zThresh = 3)
        .writeStream.format("memory").queryName("anomaly_sf1")
        .outputMode(OutputMode.Append()).start()
      buckets.grouped(chunk).foreach { c =>
        mem.addData(c.toIndexedSeq); sink.processAllAvailable() }
      sink.stop()
      val stream = spark.table("anomaly_sf1")
        .select("key", "hour_idx", "cnt", "baseline_n", "is_anomaly")
        .as[(String, Long, Long, Long, Long)].collect().sorted.toSeq
      val batch = graft.ops.Anomaly.rollingCountAnomaly(
          events, "event_type", "ts_us", windowHours = 24, zThresh = 3)
        .select("key", "hour_idx", "cnt", "baseline_n", "is_anomaly")
        .as[(String, Long, Long, Long, Long)].collect().sorted.toSeq
      record("anomaly", stream.size.toLong, batch.size.toLong, stream == batch,
        s"chunk=$chunk, in-order feed, verdicts bit-compared")
    }

    // ---- 3. l60 composed curation ingest over the sf1 split --------------
    {
      import graft.llm.{Curation, QualityClassifier, TextOps}
      val model = QualityClassifier.DefaultModel
      val docs = table("documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        .select("doc_id", "text").localCheckpoint()
      val increment: Array[StreamDoc] = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
        .sortBy(_._1)
        .map { case (id, t) => StreamDoc(id, new java.sql.Timestamp(1000L), t) }
      val chunk = 20000
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Any)]()
      def gate(df: DataFrame): DataFrame = {
        val norm = df.select(col("doc_id"), TextOps.normalizeText(col("text")).as("norm"))
        QualityClassifier.scoreStreamable(norm, "doc_id", "norm", model,
            carry = Seq("norm"))
          .withColumnRenamed("id", "doc_id")
      }
      val mem = MemoryStream[StreamDoc]
      val sink = gate(mem.toDF()).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Curation.admitIncrement(batch, corpus, "doc_id", "text")
            .collect().foreach(r => got.add((r.getLong(0), r.getString(2),
              if (r.isNullAt(3)) null else r.getLong(3))))
        }
        .outputMode(OutputMode.Append()).start()
      increment.grouped(chunk).foreach { c =>
        mem.addData(c.toIndexedSeq); sink.processAllAvailable() }
      sink.stop()
      val stream = got.toArray(Array.empty[(Long, String, Any)])
        .map(v => v._1 -> ((v._2, v._3))).toMap
      // the batch twin runs the SAME increments as plain batches — identical
      // chunk geometry, so per-chunk dedup semantics line up by construction
      val batch = increment.grouped(chunk).flatMap { c =>
        val df = c.map(d => (d.doc_id, d.text)).toSeq.toDF("doc_id", "text")
        Curation.admitIncrement(gate(df), corpus, "doc_id", "text")
          .collect().map(r => r.getLong(0) -> ((r.getString(2),
            if (r.isNullAt(3)) null else r.getLong(3))))
      }.toMap
      record("composed_ingest", stream.size.toLong, batch.size.toLong,
        stream == batch, s"chunk=$chunk, full (doc_id -> verdict, dup_of) map compared")
    }

    val json = s"""{"sf_dir":"$sfDir","cpus":$cpus,""" +
      s""""all_equal":$allOk,"workloads":${results.mkString("[", ",", "]")}}"""
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
