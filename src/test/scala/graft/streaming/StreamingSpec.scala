package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkTestBase

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, tSec: Long, user: Long, typ: String = "click", v: Double = 1.0) =
    Event(id, new java.sql.Timestamp(tSec * 1000), user, typ, v)

  test("windowed counts run identically as a stream (watermark) and a batch") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(1, 10, 1), ev(2, 20, 1), ev(3, 70, 2), ev(4, 80, 2, "view"), ev(5, 130, 1))

    // stream
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = Streaming.windowedCounts(mem.toDS(), "1 minute", "10 seconds")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("wc")
      .select("window_start", "event_type", "n", "value_sum")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet

    // batch, same plan
    val batch = Streaming.windowedCounts(events.toDS(), "1 minute", "10 seconds")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet

    assert(streamed === batch)
    assert(batch.exists { case (_, t, n, _) => t == "click" && n == 2 }) // 0-60s window, user1
  }

  test("native session_window: stream and batch agree; TOUCHING sessions merge at the exact gap") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // user 1: events at 0 s, 60 s, then 1861 s — strictly more than the
    // 1800 s gap after the second event, so a new session starts
    val events = Seq(ev(1, 0, 1), ev(2, 60, 1), ev(3, 1861, 1), ev(4, 100, 2))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("s"),
        unix_micros(col("session_window.end")).as("e"), col("n"))

    // streaming session windows are APPEND-mode only: a session is emitted
    // once the watermark passes its end, so a second micro-batch carries a
    // far-future flush event (user 9) that finalizes every real session
    // and itself stays withheld in state
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = agg(mem.toDS().toDF()).writeStream.format("memory")
      .queryName("nsw").outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    mem.addData(ev(99, 100000, 9))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("nsw").as[(Long, Long, Long, Long)].collect().toSet

    val batch = agg(events.toDF()).as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    // user 1 has TWO sessions: [0, 60+1800] x2 events and [1861, 1861+1800] x1
    assert(batch === Set(
      (1L, 0L, (60L + 1800L) * 1000000L, 2L),
      (1L, 1861L * 1000000L, (1861L + 1800L) * 1000000L, 1L),
      (2L, 100L * 1000000L, (100L + 1800L) * 1000000L, 1L)))

    // boundary semantics (what the w16 oracle encodes with its > islands
    // split, the same boundary as w3): TOUCHING [ts, ts+gap) windows
    // MERGE — an event arriving EXACTLY gap after the previous one stays
    // in the session
    val exact = agg(Seq(ev(1, 0, 1), ev(2, 1800, 1)).toDF())
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(exact === Set((1L, 0L, 3600L * 1000000L, 2L)))
  }

  test("stream-stream attribution join: cross-batch pairing, window bounds, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      ev(10, 100, 1, "view"), ev(11, 200, 1, "view"),
      ev(12, 150, 2, "view"), ev(13, 5000, 3, "view"))
    val clicks = Seq(
      ev(20, 210, 1), // in-window for views 10 (110s back) and 11 (10s back)
      ev(21, 2000, 2), // 1850 s after view 12 — outside the 30-min (1800 s) window
      ev(22, 5100, 3)) // pairs with view 13

    val vMem = MemoryStream[Event]
    val cMem = MemoryStream[Event]
    // views arrive FIRST, the matching click in a LATER micro-batch —
    // cross-batch state buffering is what makes it a stream-stream join
    vMem.addData(views: _*)
    val out = Streaming.attributionPairs(vMem.toDS(), cMem.toDS(),
      windowMs = 30L * 60 * 1000, watermarkDelay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    cMem.addData(clicks: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("attr")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    // click 20 pairs with BOTH in-window views; click 21's view is 1850 s
    // stale (> 30 min) and must not pair; click 22 pairs across users? no —
    // only its own user's view
    assert(streamed === Set((20L, 10L), (20L, 11L), (22L, 13L)))

    // the same plan over batch frames (watermarks no-op) agrees
    val batch = Streaming.attributionPairs(views.toDS(), clicks.toDS(),
        30L * 60 * 1000, "10 seconds")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    assert(batch === streamed)
  }

  test("LEFT-OUTER stream-stream attribution: unattributed clicks emit null only after the watermark proves no view can arrive") {
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[Event]
    val cMem = MemoryStream[Event]
    vMem.addData(ev(10, 100, 1, "view"), ev(12, 150, 2, "view"))
    val out = Streaming.attributionPairsLeftOuter(vMem.toDS(), cMem.toDS(),
      windowMs = 30L * 60 * 1000, watermarkDelay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("attr_lo")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    cMem.addData(ev(20, 210, 1), ev(21, 2000, 2)) // 21: view 12 is 1850s stale
    q.processAllAvailable()
    def rows() = spark.table("attr_lo").select("click_id", "view_id")
      .as[(Long, Option[Long])].collect().toSet
    // matched click emitted; the UNMATCHED click is still held in state —
    // emitting it now would be wrong (a matching view could still arrive)
    assert(rows() === Set((20L, Some(10L))),
      s"unmatched click must be withheld before the watermark: ${rows()}")
    // advance both watermarks past click 21's join bound, then one more
    // micro-batch to run state eviction
    vMem.addData(ev(90, 6000, 9, "view")); cMem.addData(ev(91, 6100, 9))
    q.processAllAvailable()
    vMem.addData(ev(92, 6200, 9, "view")); cMem.addData(ev(93, 6300, 9))
    q.processAllAvailable(); q.stop()
    val streamed = rows()
    assert(streamed.contains((21L, None)),
      s"unattributed click must emit its null lane after the watermark: $streamed")
    assert(streamed.contains((20L, Some(10L))) && streamed.contains((91L, Some(90L))))
    // batch parity: the same plan over batch frames (watermarks no-op)
    // yields the identical row set, nulls included
    val views = Seq(ev(10, 100, 1, "view"), ev(12, 150, 2, "view"),
      ev(90, 6000, 9, "view"), ev(92, 6200, 9, "view"))
    val clicks = Seq(ev(20, 210, 1), ev(21, 2000, 2), ev(91, 6100, 9), ev(93, 6300, 9))
    val batch = Streaming.attributionPairsLeftOuter(views.toDS(), clicks.toDS(),
        30L * 60 * 1000, "10 seconds")
      .select("click_id", "view_id").as[(Long, Option[Long])].collect().toSet
    assert(batch === streamed, s"stream $streamed != batch $batch")
  }

  private def doc(id: Long, tSec: Long, text: String) =
    StreamDoc(id, new java.sql.Timestamp(tSec * 1000), text)

  test("streaming curation gate: normalize + classifier verdicts match batch exactly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{QualityClassifier, TextOps}
    val m = QualityClassifier.DefaultModel
    val texts = Seq(
      (1L, "the query planner pushes each filter below the join so the scan reads fewer pages"),
      (2L, "click here click here click here best price best price best price"),
      (3L, "café mélange:  a  small essay on sort merge joins and broadcast tables"),
      (4L, ""))
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      QualityClassifier.scoreStreamable(
        df.select(col("doc_id"), TextOps.normalizeText(col("text")).as("norm")),
        "doc_id", "norm", m)
    val mem = MemoryStream[StreamDoc]
    val q = gate(mem.toDF()).writeStream
      .format("memory").queryName("curation_gate").outputMode("append").start()
    try {
      mem.addData(texts.map { case (id, t) => StreamDoc(id, new java.sql.Timestamp(1000), t) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("curation_gate")
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
      val batch = gate(texts.toDF("doc_id", "text"))
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
      assert(streamed === batch)
      assert(streamed.size === 4)
      val byId = streamed.map(r => r._1 -> r).toMap
      assert(byId(1L)._4 === true)   // technical prose passes
      assert(byId(2L)._4 === false)  // spam fails
      assert(byId(4L)._2 === 0L && byId(4L)._4 === false) // empty doc: verdict, not a drop
    } finally q.stop()
  }

  test("streaming near-dup detector: keep-first verdicts, out-of-order repair, batch-twin agreement") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      doc(10, 5, base),                                // keeper (earliest)
      doc(11, 30, base + " ok"),                       // near-dup of 10
      doc(12, 40, "completely different content about spark catalyst optimizer internals"),
      doc(13, 20, base + " ok"))                       // EARLIER than 11, arrives later
    val mem = MemoryStream[StreamDoc]
    val q = Streaming.nearDupDetectStream(
        mem.toDS().withWatermark("ts", "1 hour"), retentionMs = 3600000L)
      .writeStream.format("memory").queryName("nd").outputMode(OutputMode.Append()).start()
    mem.addData(docs(0), docs(1), docs(2))
    q.processAllAvailable()
    mem.addData(docs(3)) // out-of-order arrival inside the watermark
    q.processAllAvailable()
    q.stop()
    // resolve multi-bucket verdicts the way the batch twin does: earliest
    // (dup_of_ts, dup_of) keeper wins
    val verdicts = spark.table("nd").select("doc_id", "dup_of_ts", "dup_of")
      .as[(Long, java.sql.Timestamp, Long)].collect().groupBy(_._1).view
      .mapValues(vs => vs.map(v => (v._2.getTime, v._3)).min._2).toMap
    assert(verdicts.keySet === Set(11L, 13L), verdicts)  // 12 unrelated; 10 is the keeper
    assert(verdicts(13L) === 10L)  // repaired: 13 precedes 11, dups against 10 only
    assert(verdicts(11L) === 10L)

    // batch-mode run of the SAME stateful operator ≡ relational batch twin
    import org.apache.spark.sql.functions.{min, struct}
    val streamedBatch = Streaming.nearDupDetectStream(docs.toDS(), retentionMs = 3600000L)
      .groupBy($"doc_id")
      .agg(min(struct($"dup_of_ts", $"dup_of")).getField("dup_of").as("dup_of"))
      .as[(Long, Long)].collect().toSet
    val relational = graft.llm.Dedup.nearDupDetectBatch(
        docs.toDF(), "text", "doc_id", "ts")
      .as[(Long, Long)].collect().toSet
    assert(streamedBatch === relational, s"streamed=$streamedBatch relational=$relational")
    assert(relational === Set((11L, 10L), (13L, 10L)))
  }

  test("streaming ≡ batch near-dup verdicts under randomized in-watermark arrival orders") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{min, struct}
    // deterministic pseudo-random corpus: clusters of near-identical docs
    // with shuffled event times, delivered in ARRIVAL order unrelated to
    // event time, split across micro-batches at varying points
    val rng = new scala.util.Random(1234)
    val stems = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "completely different content about spark catalyst optimizer internals",
      "a third cluster of text describing minhash signatures and lsh bands nicely")
    val docs = (0 until 24).map { i =>
      val stem = stems(i % 3)
      val text = if (i < 18) stem + " v" + (i % 2) else s"unique doc $i with totally distinct words ${('a' + i).toChar}"
      doc(i.toLong, 100 + rng.nextInt(500), text)
    }
    val relational = graft.llm.Dedup.nearDupDetectBatch(
        docs.toDF(), "text", "doc_id", "ts")
      .as[(Long, Long)].collect().toMap
    // evidence set for attribution validity: genuine LSH bucket-sharers
    val candidates = graft.llm.Dedup.minhashCandidatePairs(
        docs.toDF(), "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    val order = docs.map(d => d.doc_id -> (d.ts.getTime, d.doc_id)).toMap
    for (trial <- 1 to 3) {
      val arrival = new scala.util.Random(trial).shuffle(docs)
      val (b1, rest) = arrival.splitAt(8)
      val (b2, b3) = rest.splitAt(8)
      val mem = MemoryStream[StreamDoc]
      // watermark 1 hour: every disorder in this corpus is in-watermark
      val q = Streaming.nearDupDetectStream(
          mem.toDS().withWatermark("ts", "1 hour"), retentionMs = 7200000L)
        .writeStream.format("memory").queryName(s"ndp$trial")
        .outputMode(OutputMode.Append()).start()
      Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table(s"ndp$trial")
        .groupBy($"doc_id")
        .agg(min(struct($"dup_of_ts", $"dup_of")).getField("dup_of").as("dup_of"))
        .as[(Long, Long)].collect().toMap
      // the convergence contract: dup MEMBERSHIP equals the batch twin for
      // any in-watermark disorder (an early-arriving doc that later proves
      // to be a dup is displaced and emitted); ATTRIBUTION is best-effort
      // in append mode (already-emitted verdicts cannot be retracted), but
      // every named keeper must be a genuine bucket-sharer that precedes
      // the dup in (ts, id)
      assert(streamed.keySet === relational.keySet,
        s"trial $trial: streamed=${streamed.keySet} relational=${relational.keySet}")
      streamed.foreach { case (d, k) =>
        val pair = (math.min(d, k), math.max(d, k))
        assert(candidates.contains(pair), s"trial $trial: $d -> $k not a bucket pair")
        assert(implicitly[Ordering[(Long, Long)]].lt(order(k), order(d)),
          s"trial $trial: keeper $k does not precede $d")
      }
    }
  }

  test("streaming near-dup detector: keeper state expires after the retention horizon") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val mem = MemoryStream[StreamDoc]
    // retention 60s, watermark 0s: the keeper for base's buckets must be
    // gone once the watermark passes its ts + 60s
    val q = Streaming.nearDupDetectStream(
        mem.toDS().withWatermark("ts", "0 seconds"), retentionMs = 60000L)
      .writeStream.format("memory").queryName("ndexp").outputMode(OutputMode.Append()).start()
    mem.addData(doc(1, 10, base))
    q.processAllAvailable()
    // unrelated doc far in the future advances the watermark past 10s+60s
    mem.addData(doc(2, 600, "completely different content about spark catalyst optimizer internals"))
    q.processAllAvailable()
    // near-dup of doc 1 arrives after the horizon: NOT flagged (doc 1's
    // keeper state expired); it becomes the new keeper instead
    mem.addData(doc(3, 610, base + " ok"))
    q.processAllAvailable()
    // ...which a prompt follower IS deduped against
    mem.addData(doc(4, 620, base + " ok"))
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.table("ndexp").select("doc_id", "dup_of")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    assert(verdicts === Map(4L -> 3L), verdicts)
  }

  test("COMPOSED curation ingest streams end-to-end with checkpoint recovery (normalize → gate → incremental-dedup → sink)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{Curation, QualityClassifier, TextOps}
    val m = QualityClassifier.DefaultModel
    val ckpt = tempDir("curckpt")
    // the standing corpus the increment dedups against (static side)
    val corpusTexts = Seq(
      (100L, "the query planner pushes each filter below the join so the scan reads fewer pages"),
      (101L, "a sort merge join shuffles both sides by key while a broadcast join ships the small table"))
    val corpus = corpusTexts.toDF("doc_id", "text")

    // normalize + quality gate run INSIDE the stream (stateless,
    // append-safe); the corpus-verdict tail (l56 incremental dedup, which
    // aggregates) runs per micro-batch — the composed daily-ingest shape
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Any)]()
    def build(mem: MemoryStream[StreamDoc]) = {
      val norm = mem.toDF().select(col("doc_id"),
        TextOps.normalizeText(col("text")).as("norm"))
      QualityClassifier.scoreStreamable(norm, "doc_id", "norm", m, carry = Seq("norm"))
        .withColumnRenamed("id", "doc_id")
    }
    def start(mem: MemoryStream[StreamDoc]) = build(mem).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Curation.admitIncrement(batch, corpus, "doc_id", "text")
          .collect().foreach(r => got.add((r.getLong(0), r.getString(2),
            if (r.isNullAt(3)) null else r.getLong(3))))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    def doc(id: Long, text: String) = StreamDoc(id, new java.sql.Timestamp(1000), text)
    val phase1 = Seq(
      doc(1, "window functions rank rows inside a partition without collapsing the group"),
      doc(2, "click here click here click here best price best price best price"),
      doc(3, corpusTexts.head._2)) // byte-identical to corpus doc 100
    val phase2 = Seq(
      doc(4, corpusTexts(1)._2 + " ok"), // near-dup of corpus doc 101
      doc(5, "the optimizer prunes unused columns early which keeps the exchange narrow and fast"))

    // phase 1: ingest, commit, KILL the query
    val mem = MemoryStream[StreamDoc]
    val q1 = start(mem)
    mem.addData(phase1: _*)
    q1.processAllAvailable()
    q1.stop()
    // phase 2: more docs arrive only after RESTART from the checkpoint;
    // the committed phase-1 batch must NOT be re-emitted
    mem.addData(phase2: _*)
    val q2 = start(mem)
    q2.processAllAvailable()
    q2.stop()

    val verdicts = got.toArray(Array.empty[(Long, String, Any)])
    assert(verdicts.length === 5, s"each doc exactly one verdict (no replay): ${verdicts.toSeq}")
    val byId = verdicts.map(v => v._1 -> ((v._2, v._3))).toMap
    assert(byId(1L) === (("admitted", null)))
    assert(byId(2L) === (("rejected_quality", null)))
    assert(byId(3L) === (("exact_dup", 100L)))
    assert(byId(4L) === (("near_dup", 101L)))
    assert(byId(5L) === (("admitted", null)))

    // ≡ the same increments run as plain batches (stream adds nothing)
    def batchGate(texts: Seq[StreamDoc]) = {
      val df = texts.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
        .select(col("doc_id"), TextOps.normalizeText(col("text")).as("norm"))
      QualityClassifier.scoreStreamable(df, "doc_id", "norm", m, carry = Seq("norm"))
        .withColumnRenamed("id", "doc_id")
    }
    val batchVerdicts = (Seq(phase1, phase2).flatMap { ph =>
      Curation.admitIncrement(batchGate(ph), corpus, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getString(2),
          if (r.isNullAt(3)) null else r.getLong(3))))
    }).toMap
    assert(byId === batchVerdicts, "stream ≡ batch on the composed path")
  }

  test("near-dup keeper state survives a checkpoint stop/restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("ckpt")
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val mem = MemoryStream[StreamDoc]
    // memory sink refuses checkpoint recovery in Append mode; foreachBatch
    // is the recovery-capable test sink
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start() = Streaming.nearDupDetectStream(
        mem.toDS().withWatermark("ts", "1 hour"), retentionMs = 3600000L)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[NearDupEvent], _: Long) =>
        df.collect().foreach(e => got.add((e.doc_id, e.dup_of)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // phase 1: establish the keeper, commit the batch, KILL the query
    val q1 = start()
    mem.addData(doc(1, 5, base),
      doc(2, 8, "completely different content about spark catalyst optimizer internals"))
    q1.processAllAvailable()
    q1.stop()
    assert(got.isEmpty) // no dups yet

    // phase 2: a near-dup arrives only AFTER restart. Doc 1's batch is
    // committed and never replayed, so the only way doc 3 can be flagged
    // against doc 1 is the keeper state store surviving the restart.
    mem.addData(doc(3, 30, base + " ok"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val restarted = got.toArray(Array.empty[(Long, Long)])
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    assert(restarted === Map(3L -> 1L),
      s"keeper state lost across restart: $restarted")

    // ≡ the uninterrupted run over the same arrivals
    val mem2 = MemoryStream[StreamDoc]
    val qU = Streaming.nearDupDetectStream(
        mem2.toDS().withWatermark("ts", "1 hour"), retentionMs = 3600000L)
      .writeStream.format("memory").queryName("ckptu")
      .outputMode(OutputMode.Append()).start()
    mem2.addData(doc(1, 5, base),
      doc(2, 8, "completely different content about spark catalyst optimizer internals"))
    qU.processAllAvailable()
    mem2.addData(doc(3, 30, base + " ok"))
    qU.processAllAvailable()
    qU.stop()
    val uninterrupted = spark.table("ckptu").select("doc_id", "dup_of")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    assert(restarted === uninterrupted)
  }

  test("open-session state survives a checkpoint stop/restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("ckpt")
    val mem = MemoryStream[Event]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[UserSession]()
    def start() = Streaming.sessionize(
        mem.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[UserSession], _: Long) =>
        df.collect().foreach(got.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // phase 1: user 1's session is OPEN (no gap yet) when the query dies
    val q1 = start()
    mem.addData(ev(1, 10, 1), ev(2, 30, 1))
    q1.processAllAvailable()
    q1.stop()
    assert(got.isEmpty) // nothing closed yet

    // phase 2: restart; an event within the gap EXTENDS the restored
    // session, then a far event closes it — start time 10 proves the
    // pre-kill state (never replayed) survived
    mem.addData(ev(3, 50, 1), ev(4, 200, 1))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val closed = got.toArray(Array.empty[UserSession])
      .filter(_.session_start.getTime == 10000L)
    assert(closed.length === 1, s"restored session not closed once: ${got}")
    assert(closed(0).session_end.getTime === 50000L)
    assert(closed(0).n_events === 3L) // 2 pre-kill + 1 post-restart
  }

  test("streaming parquet file sink is exactly-once across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("fsink")
    val mem = MemoryStream[Event]
    def start() = Streaming.windowedCounts(mem.toDS(), "1 minute", "10 seconds")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    mem.addData(ev(1, 10, 1), ev(2, 20, 1))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint; late-window rows flush when the
    // watermark passes (append mode only emits finalized windows)
    mem.addData(ev(3, 200, 2), ev(4, 500, 1))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // the file-sink log must yield each finalized window EXACTLY once —
    // no duplicated batches from the restart replay
    val rows = spark.read.parquet(s"$base/out")
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    assert(rows.size === rows.distinct.size, s"duplicated sink rows: $rows")
    // windows 0-60s (2 events) and 180-240s (1 event) are final; 480-540s
    // still open at stop
    val byStart = rows.map(r => r._1.getTime -> r._3).toMap
    assert(byStart === Map(0L -> 2L, 180000L -> 1L), rows)
  }

  test("stateful sessionization emits on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionize(
        mem.toDS().withWatermark("ts", "0 seconds"), gapMs = 60000)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()

    // session 1: user 1, events at 5s & 35s (NOT t=0 — the initial watermark
    // is epoch 0 and the stateful-op late filter is strict `ts > watermark`);
    // then a 10-minute jump advances the watermark past session_end+gap →
    // timeout fires
    mem.addData(ev(1, 5, 1), ev(2, 35, 1))
    q.processAllAvailable()
    mem.addData(ev(3, 600, 99))
    q.processAllAvailable()
    mem.addData(ev(4, 1800, 99)) // push watermark again so user 99 session 1 can close
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sess")
      .select("user_id", "n_events", "value_sum").as[(Long, Long, Double)].collect()
    assert(sessions.contains((1L, 2L, 2.0)), sessions.mkString(","))
    assert(sessions.exists(_._1 == 99L))
  }

  test("streaming dedup within watermark drops repeated keys") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.dedupWithinWatermark(mem.toDS(), Seq("event_id"), "1 minute")
      .writeStream.format("memory").queryName("dd").outputMode(OutputMode.Append()).start()
    mem.addData(ev(1, 5, 1), ev(1, 6, 1), ev(2, 7, 2))  // id 1 duplicated
    q.processAllAvailable()
    mem.addData(ev(1, 8, 1), ev(3, 9, 3))               // id 1 again, still in state
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dd").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("batch run of the stateful sessionizer emits trailing open sessions") {
    // single-session user: before the batch-mode flush, the only session was
    // parked in state and silently dropped (no timeout fires after a batch)
    val events = Seq(
      ev(1, 0, 1), ev(2, 30, 1),      // user 1, one open session
      ev(3, 300, 2), ev(4, 500, 2))   // user 2, gap-closed + trailing session
    val out = Streaming.sessionize(events.toDS(), gapMs = 60000)
      .collect().map(s => (s.user_id, s.n_events)).toSeq.sorted
    assert(out === Seq((1L, 2L), (2L, 1L), (2L, 1L)))
    // batch stateful path now agrees with the window-function batch path
    val wf = Streaming.sessionizeBatch(events.toDS(), gapMs = 60000)
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq.sorted
    assert(out === wf)
  }

  test("batch sessionization (window-function path) splits on gaps") {
    val events = Seq(
      ev(1, 0, 1), ev(2, 30, 1),      // session A
      ev(3, 300, 1), ev(4, 310, 1),   // session B (gap 270s > 60s)
      ev(5, 100, 2))                  // session C
    val out = Streaming.sessionizeBatch(events.toDS(), gapMs = 60000)
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq.sorted
    assert(out === Seq((1L, 2L), (1L, 2L), (2L, 1L)))
  }

  test("streaming anomaly monitor matches the batch operator across batches") {
    implicit val sqlCtx = spark.sqlContext
    val HourUs = 3600000000L
    // key "a": wobbly baseline then a spike at hour 5; key "b": flat, never flags
    val buckets = Seq(
      HourlyCount("a", 0, 10), HourlyCount("a", 1, 12), HourlyCount("a", 2, 10),
      HourlyCount("a", 3, 12), HourlyCount("a", 4, 10), HourlyCount("a", 5, 40),
      HourlyCount("b", 0, 7), HourlyCount("b", 1, 7), HourlyCount("b", 2, 7))
    val (first, second) = buckets.partition(_.hour_idx <= 2)

    val mem = MemoryStream[HourlyCount]
    val q = Streaming.anomalyStream(mem.toDS(), windowHours = 24, zThresh = 3)
      .writeStream.format("memory").queryName("anom")
      .outputMode(OutputMode.Append()).start()
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*) // baseline for these lives in STATE from batch 1
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("anom")
      .select("key", "hour_idx", "cnt", "baseline_n", "is_anomaly")
      .as[(String, Long, Long, Long, Long)].collect().toSet

    // batch twin over raw events expanded from the same buckets
    val raw = buckets.flatMap(b =>
      Seq.fill(b.cnt.toInt)((b.key, b.hour_idx * HourUs + 1))).toDF("k", "ts_us")
    val batch = graft.ops.Anomaly.rollingCountAnomaly(raw, "k", "ts_us", 24, 3)
      .select("key", "hour_idx", "cnt", "baseline_n", "is_anomaly")
      .as[(String, Long, Long, Long, Long)].collect().toSet

    assert(streamed === batch)
    assert(streamed.contains(("a", 5L, 40L, 5L, 1L))) // the spike pages
    assert(streamed.forall(v => v._1 != "b" || v._5 == 0L))
  }

  test("anomaly monitor state is bounded: old hours evicted from the frame") {
    implicit val sqlCtx = spark.sqlContext
    // w=2: hour 3 is judged only against hours 1-2 (both 100) → not anomalous
    val mem = MemoryStream[HourlyCount]
    val q = Streaming.anomalyStream(mem.toDS(), windowHours = 2, zThresh = 3)
      .writeStream.format("memory").queryName("anom_w2")
      .outputMode(OutputMode.Append()).start()
    mem.addData(HourlyCount("a", 0, 1), HourlyCount("a", 1, 100))
    q.processAllAvailable()
    mem.addData(HourlyCount("a", 2, 100), HourlyCount("a", 3, 100))
    q.processAllAvailable()
    q.stop()
    val flags = spark.table("anom_w2")
      .select("hour_idx", "baseline_n", "is_anomaly")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(flags(3L) === ((2L, 0L))) // hour-0 outlier already out of the frame
  }

  test("stream-static enrichment: dim lookup joins across micro-batches, null lane kept, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_key", "segment")
    val events = Seq(ev(1, 10, 1), ev(2, 20, 2), ev(3, 30, 9), ev(4, 40, 1))

    val mem = MemoryStream[Event]
    mem.addData(events.take(2): _*)                       // two micro-batches:
    val q = Streaming.enrichWithDim(mem.toDS(), dim, "user_key", Seq("segment"))
      .writeStream.format("memory").queryName("enrich").outputMode(OutputMode.Append())
      .start()
    q.processAllAvailable()
    mem.addData(events.drop(2): _*)                       // dim must re-serve batch 2
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enrich")
      .select("event_id", "user_id", "segment")
      .as[(Long, Long, Option[String])].collect().toSet

    val batch = Streaming.enrichWithDim(events.toDS(), dim, "user_key", Seq("segment"))
      .select("event_id", "user_id", "segment")
      .as[(Long, Long, Option[String])].collect().toSet

    assert(streamed === batch)
    assert(streamed === Set((1L, 1L, Some("GOLD")), (2L, 2L, Some("SILVER")),
      (3L, 9L, None), (4L, 1L, Some("GOLD"))), "unmatched user stays as the null lane")
  }
}
