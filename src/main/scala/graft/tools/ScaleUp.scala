package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession

/**
 * Synthesizes a ×N replica of a driver testdata dir (default: sf0.1 → a
 * local "sf1") for elasticity measurement past the overhead-dominated
 * regime — the driver ships no sf1, and the sf0.01→sf0.1 table's largest
 * point is still small enough that constant overheads dominate.
 *
 * Scaling model (what a corpus ×10 actually looks like, so the
 * measurement exercises the engine rather than a data-construction
 * artifact):
 *  - FACT tables (orders/lineitem/events/customer/supplier/part/
 *    documents/embeddings) are replicated N× with re-keyed ids: replica r
 *    offsets every PK/FK by r·stride (replica 0 unshifted, so id-pinned
 *    queries — l9's vec_id=0, l10's vec_id<16 — keep their semantics).
 *    Referential integrity holds within each replica because both sides
 *    of every FK shift by the same stride.
 *  - DIMENSION tables (region/nation) stay FIXED — ×10 data does not
 *    grow the number of regions; their join fan-out per fact row is
 *    unchanged, exactly like TPC-H scaling.
 *  - documents.text is Caesar-ciphered per replica (a–z rotated by r,
 *    case-preserving): token lengths/counts/punctuation are identical,
 *    but replicas share no tokens, so the corpus-wide DUP RATE and
 *    LSH bucket occupancy stay at the sf0.1 level instead of every doc
 *    gaining 9 byte-identical twins (which would measure a fixture
 *    artifact — quadratic in-bucket pair growth — not the engine).
 *  - embeddings are sign-flipped per replica by a deterministic ±1
 *    diagonal (replica 0 identity): an isometry, so intra-replica
 *    geometry (cosines, neighbors, cells) is EXACTLY preserved while
 *    cross-replica vectors decorrelate — the ANN workload grows ×10
 *    without manufacturing 9 exact twins of every vector.
 *
 * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [factor]
 */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Caesar-rotate a-z/A-Z by `shift` (other chars untouched). */
  private def cipher(text: Column, shift: Int): Column =
    if (shift % 26 == 0) text
    else {
      val s = shift % 26
      translate(text, Lower + Upper,
        Lower.drop(s) + Lower.take(s) + Upper.drop(s) + Upper.take(s))
    }

  /** Deterministic ±1 sign for (replica, dim). */
  private def sign(r: Int, d: Int): Int =
    if (r == 0) 1
    else if (((scala.util.hashing.MurmurHash3.productHash((r, d)) >>> 1) & 1) == 0) 1 else -1

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = args.lift(1).getOrElse("target/testdata/sf1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession()

    val BigStride = 10000000L   // orderkey/event_id (max ~1.5e6 at sf0.1)
    val SmallStride = 1000000L  // entity keys (max ~2e4 at sf0.1)

    // one scan per table: explode a replica index, then shift per replica.
    // Output is hash-repartitioned on the PK into 32 files: the source is
    // ONE small file, so the narrow explode inherits its 1-2 input splits
    // and would write 1-2 part files — and a 1-2-file replica caps every
    // scan-bound query at 1-2 tasks on a 32-core host (the l76 seam; one
    // parquet row group per small file, so in-file range splits can't
    // recover parallelism). 32 right-shaped files is what s28 compaction
    // would produce on a real lake region.
    def replicated(table: String, key: String)(build: (DataFrame, Column) => DataFrame): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
        .withColumn("_r", explode(array((0 until n).map(lit): _*)))
      val shifted = build(df, col("_r").cast("long")).drop("_r")
      shifted.repartition(32, col(key))
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"$table: ${spark.read.parquet(s"$out/$table.parquet").count()} rows")
    }

    // dims stay fixed
    for (t <- Seq("region", "nation")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"$t: copied unscaled")
    }

    replicated("customer", "c_custkey") { (df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + r * SmallStride) }
    replicated("supplier", "s_suppkey") { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + r * SmallStride) }
    replicated("part", "p_partkey") { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + r * SmallStride) }
    replicated("orders", "o_orderkey") { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + r * BigStride)
        .withColumn("o_custkey", col("o_custkey") + r * SmallStride) }
    replicated("lineitem", "l_orderkey") { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + r * BigStride)
        .withColumn("l_partkey", col("l_partkey") + r * SmallStride)
        .withColumn("l_suppkey", col("l_suppkey") + r * SmallStride) }
    replicated("events", "event_id") { (df, r) =>
      df.withColumn("event_id", col("event_id") + r * BigStride)
        .withColumn("user_id", col("user_id") + r * SmallStride) }
    replicated("documents", "doc_id") { (df, r) =>
      val ciphered = (1 until n).foldLeft(col("text")) { (acc, rep) =>
        when(r === rep, cipher(col("text"), rep)).otherwise(acc)
      }
      df.withColumn("doc_id", col("doc_id") + r * SmallStride)
        .withColumn("text", ciphered) }
    replicated("embeddings", "vec_id") { (df, r) =>
      val dim = spark.read.parquet(s"$src/embeddings.parquet")
        .select(size(col("embedding"))).head().getInt(0)
      val signs = array((0 until n).map(rep =>
        array((0 until dim).map(d => lit(sign(rep, d))): _*)): _*)
      df.withColumn("vec_id", col("vec_id") + r * SmallStride)
        .withColumn("embedding",
          zip_with(col("embedding"), element_at(signs, (r + 1).cast("int")),
            (x, s) => (x * s).cast("float"))) }

    spark.stop()
  }
}
