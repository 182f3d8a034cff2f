package graft.publish

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class PublishSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = tempDir("pubspec")

  test("publish: v1, identical skip, changed v2 (create_modify.py:210-277)") {
    val root = freshRoot()
    val t1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val r1 = Publish.publish(spark, t1, root, "t")
    assert(r1.published && r1.version === 1)
    val r2 = Publish.publish(spark, t1, root, "t")
    assert(!r2.published && r2.version === 1)
    val t2 = Seq((1L, "a"), (2L, "CHANGED")).toDF("id", "v")
    val r3 = Publish.publish(spark, t2, root, "t")
    assert(r3.published && r3.version === 2)
    assert(Publish.latestVersion(root, "t") === 2)
    val current = spark.read.parquet(s"$root/t_current").as[(Long, String)].collect().toSet
    assert(current === Set((1L, "a"), (2L, "CHANGED")))
  }

  test("pointer mode: same gate semantics, atomic pointer, time travel") {
    val root = freshRoot()
    val t1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val r1 = Publish.publish(spark, t1, root, "t", Publish.PointerCurrent)
    assert(r1.published && r1.version === 1)
    assert(Publish.currentVersion(root, "t") === 1)
    // identical → skip, pointer unmoved (gate semantics match CopyCurrent)
    val r2 = Publish.publish(spark, t1, root, "t", Publish.PointerCurrent)
    assert(!r2.published && Publish.currentVersion(root, "t") === 1)
    val t2 = Seq((1L, "a"), (2L, "CHANGED")).toDF("id", "v")
    val r3 = Publish.publish(spark, t2, root, "t", Publish.PointerCurrent)
    assert(r3.published && r3.version === 2)
    assert(Publish.currentVersion(root, "t") === 2)
    // no parquet copy was written — the pointer IS the current
    assert(!new java.io.File(s"$root/t_current").exists())
    assert(Publish.readCurrent(spark, root, "t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "CHANGED")))
    // time travel: v1 still readable and intact
    assert(Publish.readVersion(spark, root, "t", 1).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // no half-state left behind
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/t_current.ptr.tmp")))
  }

  test("readCurrent falls back to the copy dir for CopyCurrent families") {
    val root = freshRoot()
    val t1 = Seq((7L, "z")).toDF("id", "v")
    Publish.publish(spark, t1, root, "t")
    assert(Publish.currentVersion(root, "t") === 0) // no pointer
    assert(Publish.readCurrent(spark, root, "t").as[(Long, String)].collect().toSet
      === Set((7L, "z")))
  }

  test("mixed-mode lineage: copy publish then pointer publish shares versions") {
    val root = freshRoot()
    Publish.publish(spark, Seq((1L, "a")).toDF("id", "v"), root, "t")
    val r = Publish.publish(spark, Seq((1L, "b")).toDF("id", "v"), root, "t",
      Publish.PointerCurrent)
    assert(r.published && r.version === 2)
    assert(Publish.currentVersion(root, "t") === 2)
  }

  test("mode switch back to copy re-aims a stale pointer (readCurrent never serves old data)") {
    val root = freshRoot()
    Publish.publish(spark, Seq((1L, "a")).toDF("id", "v"), root, "t", Publish.PointerCurrent)
    assert(Publish.currentVersion(root, "t") === 1)
    // switch the family back to CopyCurrent with NEW content: without the
    // pointer re-aim, readCurrent would resolve the v1 pointer forever
    val r = Publish.publish(spark, Seq((1L, "NEWER")).toDF("id", "v"), root, "t")
    assert(r.published && r.version === 2)
    assert(Publish.readCurrent(spark, root, "t").as[(Long, String)].collect().toSet
      === Set((1L, "NEWER")))
  }

  test("CAS publish: gate, generations, time travel (lookup.py:650-727 on a no-rename store)") {
    val root = freshRoot()
    val t1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val r1 = CasPublish.publish(spark, t1, root, "t")
    assert(r1.published && r1.generation === 1)
    // identical → diff gate skips, no new generation, staged dir dropped
    val r2 = CasPublish.publish(spark, t1, root, "t")
    assert(!r2.published && r2.generation === 1)
    assert(CasPublish.currentGeneration(root, "t") === 1)
    val t2 = Seq((1L, "a"), (2L, "CHANGED")).toDF("id", "v")
    val r3 = CasPublish.publish(spark, t2, root, "t")
    assert(r3.published && r3.generation === 2)
    assert(CasPublish.readCurrent(spark, root, "t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "CHANGED")))
    // time travel: gen 1 immutable and readable
    assert(CasPublish.readGeneration(spark, root, "t", 1).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // only committed data dirs + log remain (skip's staged dir was dropped)
    val dataDirs = new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("t_d_"))
    assert(dataDirs.length === 2)
  }

  test("CAS publish: concurrent publishers — one winner per generation, no mixed reads") {
    val root = freshRoot()
    CasPublish.publish(spark, Seq((0L, "base")).toDF("id", "v"), root, "t")
    // 4 publishers race DISTINCT content from the same base generation.
    // Every publisher must land (distinct content never skips), generations
    // must be contiguous with exactly one winner each, and every committed
    // generation must read back as EXACTLY one publisher's full content.
    val contents = (1 to 4).map(i => Seq((i.toLong, s"writer$i"), (100L + i, s"w$i")).toSet)
    val dfs = contents.map(c => c.toSeq.toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = dfs.map(df => pool.submit(new java.util.concurrent.Callable[CasPublish.CasResult] {
        def call(): CasPublish.CasResult = CasPublish.publish(spark, df, root, "t")
      }))
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.forall(_.published), s"every distinct-content publisher must land: $results")
      assert(results.map(_.generation).toSet === Set(2L, 3L, 4L, 5L), "contiguous, one winner per gen")
      assert(CasPublish.currentGeneration(root, "t") === 5)
      // no torn reads: each generation is bit-for-bit one publisher's table
      val seen = (2L to 5L).map { g =>
        CasPublish.readGeneration(spark, root, "t", g).as[(Long, String)].collect().toSet
      }
      assert(seen.toSet === contents.toSet, "each generation is exactly one publisher's content")
    } finally pool.shutdownNow()
  }

  test("CAS publish: racing identical content — one winner, the loser skips") {
    val root = freshRoot()
    val same = Seq((1L, "same"), (2L, "same")).toDF("id", "v")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[CasPublish.CasResult] {
        def call(): CasPublish.CasResult = CasPublish.publish(spark, same, root, "t")
      }))
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // both may win distinct gens only if neither saw the other's commit
      // before its own put — with a shared base gen 0 the put target is the
      // SAME gen 1 for both, so exactly one can win it; the loser re-gates
      // against the winner's identical content and must skip
      assert(results.count(_.published) === 1, s"exactly one writer commits: $results")
      assert(CasPublish.currentGeneration(root, "t") === 1)
    } finally pool.shutdownNow()
  }

  test("CAS publish under list-after-write lag: stale heads delay, never double-commit") {
    // object-store fault model the POSIX FileStore can't exhibit: listings
    // lag puts (eventual consistency); per-gen reads stay read-after-write
    val root = freshRoot()
    val st = new LaggyStore(lagReads = 3)
    val r1 = CasPublish.publishWith(spark, Seq((1L, "a")).toDF("id", "v"), root, "t", st)
    assert(r1.published && r1.generation === 1)
    // different content, stale listing: head reads 0 until the lag drains,
    // so putIfAbsent(1) keeps losing to the existing manifest — the loop
    // must retry THROUGH the lag and land at gen 2, never re-commit gen 1
    val r2 = CasPublish.publishWith(spark, Seq((1L, "b")).toDF("id", "v"), root, "t", st)
    assert(r2.published && r2.generation === 2,
      s"converges to the next free generation: $r2")
    assert(r2.attempts === 3, s"retried through the 3-listing lag: $r2")
    assert(st.committedCount === 2, "exactly one manifest per generation")
  }

  test("CAS publish under lag: identical content converges to skip, not a duplicate generation") {
    val root = freshRoot()
    val st = new LaggyStore(lagReads = 2)
    val same = Seq((1L, "same")).toDF("id", "v")
    assert(CasPublish.publishWith(spark, same, root, "t", st).published)
    val r = CasPublish.publishWith(spark, same, root, "t", st)
    // while the listing lags, the diff gate can't see the winner — the
    // conditional put keeps failing until visibility catches up, and THEN
    // the gate sees identical content and skips (no phantom generation)
    assert(!r.published && r.generation === 1, s"skips once the head is visible: $r")
    assert(st.committedCount === 1)
    // the skip dropped its staged dir: only the winner's data dir remains
    val dataDirs = new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("t_d_"))
    assert(dataDirs.length === 1, s"staged dir of the skip was dropped: ${dataDirs.toSeq}")
  }

  test("CAS publish under lag: bounded retries fail loudly and drop the staged dir") {
    val root = freshRoot()
    val st = new LaggyStore(lagReads = 10)
    assert(CasPublish.publishWith(spark, Seq((1L, "a")).toDF("id", "v"), root, "t", st).published)
    val e = intercept[IllegalStateException] {
      CasPublish.publishWith(spark, Seq((1L, "b")).toDF("id", "v"), root, "t", st,
        maxAttempts = 3)
    }
    assert(e.getMessage.contains("lost 3 consecutive races"))
    assert(st.committedCount === 1, "no partial commit")
    val dataDirs = new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("t_d_"))
    assert(dataDirs.length === 1, "the failed publisher's staged dir was dropped")
  }

  test("CAS publish: concurrent publishers over a lagging store — one winner per generation") {
    val root = freshRoot()
    val st = new LaggyStore(lagReads = 2)
    assert(CasPublish.publishWith(spark, Seq((0L, "base")).toDF("id", "v"), root, "t", st).published)
    val contents = (1 to 3).map(i => Set((i.toLong, s"writer$i")))
    val dfs = contents.map(c => c.toSeq.toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futures = dfs.map(df => pool.submit(new java.util.concurrent.Callable[CasPublish.CasResult] {
        def call(): CasPublish.CasResult =
          CasPublish.publishWith(spark, df, root, "t", st, maxAttempts = 30)
      }))
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.forall(_.published), s"every distinct-content publisher lands: $results")
      assert(results.map(_.generation).toSet === Set(2L, 3L, 4L),
        "contiguous generations, one winner each, despite stale listings")
      assert(st.committedCount === 4)
      // no torn state: each committed generation maps to exactly one
      // publisher's staged dir, readable in full
      val seen = (2L to 4L).map { g =>
        spark.read.parquet(s"$root/${laggyDataDir(st, g)}")
          .as[(Long, String)].collect().toSet
      }
      assert(seen.toSet === contents.toSet)
    } finally pool.shutdownNow()
  }

  /** Data-dir name from a LaggyStore manifest (mirrors CasPublish's parse). */
  private def laggyDataDir(st: LaggyStore, gen: Long): String =
    """"data":\s*"([^"]+)"""".r.findFirstMatchIn(st.read(gen)).get.group(1)

  test("tag templating (create_modify.py:525-711)") {
    assert(Publish.applyTags("{---a---}/{---b---}", Map("a" -> "x", "b" -> "y")) === "x/y")
    val meta = Publish.templateMetadata(
      Map("name" -> "{---rel---} table"), Map("rel" -> "r9"))
    assert(meta("name") === "r9 table")
  }

  test("vacuum: age grace keeps young versions, keepLast floor, survivors stay readable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("vac")
    val t = Seq((1L, "a")).toDF("k", "v")
    (1 to 3).foreach(i => Publish.publish(spark, t.withColumn("k", col("k") + i),
      root, "fam", Publish.PointerCurrent))
    // all three dirs were just written: a 1-hour grace keeps everything
    // even with keepLast = 1
    val now = System.currentTimeMillis()
    val graced = Publish.vacuumPlan(root, "fam", keepLast = 1,
      minAgeMs = 3600L * 1000, nowMs = now)
    assert(graced.map(d => d.version -> (d.action, d.reason)).toMap ===
      Map(1 -> ("keep", "age"), 2 -> ("keep", "age"), 3 -> ("keep", "current")))
    // no grace: v1 expires, v2 survives only as last-n? keepLast=2 → keep
    val applied = Publish.vacuum(root, "fam", keepLast = 2, minAgeMs = 0L, nowMs = now)
    assert(applied.map(d => d.version -> d.action).toMap ===
      Map(1 -> "delete", 2 -> "keep", 3 -> "keep"))
    assert(!new java.io.File(s"$root/fam_v1").exists())
    assert(Publish.readVersion(spark, root, "fam", 2).count() === 1L)
    assert(Publish.readCurrent(spark, root, "fam").count() === 1L)
    intercept[IllegalArgumentException] {
      Publish.vacuumPlan(root, "fam", keepLast = 0, minAgeMs = 0L, nowMs = now)
    }
  }
}

/**
 * Fault-injecting [[graft.publish.CasPublish.PointerStore]]: the
 * object-store consistency model the POSIX FileStore cannot exhibit.
 * Conditional puts are atomic (exactly one winner per generation — S3
 * If-None-Match / GCS generation-match semantics) and per-generation reads
 * are read-after-write, but LISTINGS lag: each committed generation stays
 * invisible to `latestGen()` for `lagReads` subsequent listing calls —
 * the classic list-after-write eventual consistency window.
 */
final class LaggyStore(lagReads: Int) extends graft.publish.CasPublish.PointerStore {
  private val log = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicInteger]()

  // synchronized: register-countdown + log-put must be atomic vs listings,
  // or a losing racer's cleanup could delete the WINNER's countdown (the
  // round-10 review finding) and a listing could glimpse a commit before
  // its countdown registers — either silently weakens the fault model the
  // concurrency test claims to exercise. A test double doesn't care about
  // lock contention; it cares that the injected lag is always real.
  def putIfAbsent(gen: Long, payload: String): Boolean = synchronized {
    val won = log.putIfAbsent(gen, payload) == null
    if (won) pending.put(gen, new java.util.concurrent.atomic.AtomicInteger(lagReads))
    won
  }

  def latestGen(): Long = synchronized {
    pending.forEach((_, c) => c.decrementAndGet())
    var max = 0L
    log.forEach { (g, _) =>
      val p = pending.get(g)
      if ((p == null || p.get() <= 0) && g > max) max = g
    }
    max
  }

  def read(gen: Long): String = {
    val v = log.get(gen)
    require(v != null, s"generation $gen not committed")
    v
  }

  def committedCount: Int = log.size()
}
