package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class BloomIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** JVM replay of the portable bit positions: first 15 hex chars of
    * md5("bf<i>|<key>") as a long, mod mBits. */
  private def jvmPos(key: Long, i: Int, mBits: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"bf$i|$key".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % mBits).toInt
  }

  test("buildIndex matches an exact JVM md5 replay of every word's bits") {
    val rows = Seq((0L, 10L), (0L, 11L), (1L, 10L), (1L, 99L), (2L, 7L))
    val idx = BloomIndex.buildIndex(rows.toDF("f", "k"), col("f"), col("k"),
        k = 4, mBits = 16380)
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val expect = rows.flatMap { case (f, k) =>
      (0 until 4).map(i => (f, jvmPos(k, i, 16380)))
    }.groupBy { case (f, p) => (f, p / 60) }
      .view.mapValues(_.map { case (_, p) => 1L << (p % 60) }.reduce(_ | _)).toMap
    assert(idx === expect)
  }

  test("probeAudit: no false negatives; absent key yields no present row") {
    val rows = (1L to 400L).map(k => (k % 8, k)) // key k lives ONLY in file k%8
    val audit = BloomIndex.probeAudit(rows.toDF("f", "k"), col("f"), col("k"),
        probes = Seq(13L, 250L, 9999L), k = 4, mBits = 16380)
      .as[(Long, Long, Boolean, Boolean, Boolean)].collect()
    assert(!audit.exists(r => r._4 && !r._3), "present must imply candidate")
    assert(audit.filter(_._1 == 13L).filter(_._4).map(_._2).toSet === Set(5L))
    assert(audit.filter(_._1 == 250L).filter(_._4).map(_._2).toSet === Set(2L))
    assert(!audit.filter(_._1 == 9999L).exists(_._4), "absent key is nowhere present")
  }

  test("real parquet files: the index prunes the scan to candidate files, same answer") {
    val path = s"${tempDir("bloom_spec")}/orders16"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    orders.repartition(16, col("o_orderkey")).write.mode("overwrite").parquet(path)

    // index keyed by the REAL file each row landed in
    val withFile = spark.read.parquet(path).withColumn("file", input_file_name())
    val index = BloomIndex.buildIndex(withFile, col("file"), col("o_custkey"))
    val nFiles = withFile.select("file").distinct().count()
    assert(nFiles === 16L)

    val probe = withFile.select(max(col("o_custkey")).as("k")).as[Long].head()
    val cand = BloomIndex.candidates(
        index, Seq(probe).toDF("probe"), "probe")
      .filter(col("candidate")).select(col("file_id")).as[String].collect().sorted

    // ground truth: every file that truly holds the key must be a candidate
    val truth = withFile.filter(col("o_custkey") === probe)
      .select("file").distinct().as[String].collect().sorted
    assert(truth.forall(cand.contains), "no false negatives on real files")
    assert(cand.length < 16, s"the Bloom index must skip files (got ${cand.length}/16)")

    // the pruned scan (only candidate files) returns the full-scan answer
    val pruned = spark.read.parquet(cand: _*)
      .filter(col("o_custkey") === probe)
      .agg(count(lit(1)).cast("long"), sum(col("o_orderkey")).cast("long"))
      .as[(Long, Long)].head()
    val full = spark.read.parquet(path)
      .filter(col("o_custkey") === probe)
      .agg(count(lit(1)).cast("long"), sum(col("o_orderkey")).cast("long"))
      .as[(Long, Long)].head()
    assert(pruned === full)
    info(s"probe=$probe: ${cand.length}/16 candidate files (truth ${truth.length}), " +
      s"${16 - cand.length} files skipped")
  }

  test("bloomSemiJoin: output equals the plain semi join; pre-filter alone cuts most fact rows") {
    import org.apache.spark.sql.functions._
    val fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val dim = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .filter(col("p_partkey") % 97 === 0)
    val out = BloomIndex.bloomSemiJoin(fact, dim, "l_partkey", "p_partkey")
    val plain = fact.join(dim.select(col("p_partkey")),
      col("l_partkey") === col("p_partkey"), "left_semi")
    // identical row multiset: no false negatives, false positives all die
    assert(out.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(out).count() === 0L)
    // the expression pre-filter ALONE (what runs before the exchange) must
    // pass every true match and cut the fact side hard
    val words = BloomIndex.buildFilterWords(dim, "p_partkey")
    val total = fact.count()
    val matches = plain.count()
    val passed = fact.filter(BloomIndex.mightContain(col("l_partkey"), words)).count()
    assert(passed >= matches, "no false negatives before the join")
    assert(passed <= total / 2,
      s"pre-filter must cut the fact side: passed $passed of $total (matches $matches)")
    info(s"bloom pre-filter: $passed of $total fact rows enter the join " +
      f"(true matches $matches; fp mass ${(passed - matches).toDouble / total}%.4f)")
  }
}
