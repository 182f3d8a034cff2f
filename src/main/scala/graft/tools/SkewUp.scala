package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/**
 * Synthesizes a SKEWED replica of a driver testdata dir: same schema,
 * same oracle semantics, but with planted hot keys — the adversarial
 * key distribution a 100 TB corpus actually has (one viral document
 * duplicated everywhere, one bot user emitting a third of the event
 * stream, one mega-order) and the thing uniform synthetic data never
 * exercises. The correctness gate then runs the FULL registry against
 * this dir vs DuckDB on the same parquet (CORRECTNESS_SKEW.json): a
 * query whose plan silently assumes balanced keys (per-key buffers,
 * driver collects proportional to the hottest key, tie-breaks that
 * only look deterministic under uniqueness) diverges or dies here.
 *
 * Planted skew (all appended rows carry fresh ids offset by 2·10⁹ —
 * outside every replica keyspace, the round-12 fixture rule — while the
 * HOT key column itself is preserved):
 *  - events: the busiest user_id gains ×`evK` copies of its own rows
 *    (fresh event_id, ts preserved) — one user ≈ a quarter of the
 *    stream; stresses sessionize/windows/funnels/as-of.
 *  - lineitem: the widest l_orderkey's rows ×`liK` — one join key
 *    holding ~20% of the fact table; stresses every orders⋈lineitem.
 *  - orders: the busiest o_custkey's rows ×`ordK` with fresh
 *    o_orderkey — a hot customer dimension key.
 *  - documents: the first doc's text ×`docK` fresh doc_ids — a
 *    boilerplate mega-cluster; stresses dedup/LSH bucket caps and the
 *    exact-pair paths (caps must drop it WHOLE, not explode).
 *
 * Dimension tables and embeddings copy through unchanged.
 *
 * Usage: runMain graft.tools.SkewUp [srcDir] [outDir] [evK] [liK] [ordK] [docK]
 */
object SkewUp {

  /** Fresh-id base + per-copy stride: appended ids are 2·10⁹ + r·10⁶ +
    * origId — outside every replica keyspace (the round-12 fixture rule)
    * AND below the 2³³ ceiling the keep-best dedup's (merit, id) packing
    * documents (docK ≤ 2000 ⇒ max id 4·10⁹ < 8.59·10⁹), so the skew
    * replica exercises skew, not an unrelated id-range contract. Source
    * ids are < 10⁶ at every shipped SF (asserted below). */
  private val Off = 2000000000L
  private val Stride = 1000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = args.lift(1).getOrElse("target/testdata/skew01")
    val evK = args.lift(2).map(_.toInt).getOrElse(300)
    val liK = args.lift(3).map(_.toInt).getOrElse(8000)
    val ordK = args.lift(4).map(_.toInt).getOrElse(1500)
    val docK = args.lift(5).map(_.toInt).getOrElse(2000)

    val spark = GraftSession()

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** The key with the most rows (smallest key breaks ties). */
    def hottest(df: DataFrame, key: String): Long =
      df.groupBy(key).count()
        .orderBy(col("count").desc, col(key).asc).limit(1)
        .collect()(0).getLong(0)

    /** The fresh-id scheme packs origId into a 10⁶ stride slot. */
    def requireIdRange(df: DataFrame, idCol: String): Unit = {
      val mx = df.agg(max(col(idCol))).collect()(0).getLong(0)
      require(mx < Stride, s"$idCol max $mx >= stride $Stride — widen Stride")
    }

    /** `k` copies of `hotRows`, replica index r = 1..k via explode. */
    def fan(hotRows: DataFrame, k: Int): DataFrame =
      hotRows.withColumn("_r",
        explode(sequence(lit(1L), lit(k.toLong)))) // fresh-id seed per copy

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[skewup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // events — hot user, fresh event_ids
    val ev = t("events")
    requireIdRange(ev, "event_id")
    val hotUser = hottest(ev, "user_id")
    val evHot = fan(ev.filter(col("user_id") === hotUser), evK)
      .withColumn("event_id", lit(Off) + col("_r") * Stride + col("event_id")).drop("_r")
    write(ev.unionByName(evHot), "events")
    println(s"[skewup] hot user_id=$hotUser x$evK")

    // lineitem — hot join key, rows replicated verbatim
    val li = t("lineitem")
    val hotOrder = hottest(li, "l_orderkey")
    write(li.unionByName(fan(li.filter(col("l_orderkey") === hotOrder), liK)
      .drop("_r")), "lineitem")
    println(s"[skewup] hot l_orderkey=$hotOrder x$liK")

    // orders — hot customer, fresh orderkeys
    val ord = t("orders")
    requireIdRange(ord, "o_orderkey")
    val hotCust = hottest(ord, "o_custkey")
    val ordHot = fan(ord.filter(col("o_custkey") === hotCust), ordK)
      .withColumn("o_orderkey", lit(Off) + col("_r") * Stride + col("o_orderkey")).drop("_r")
    write(ord.unionByName(ordHot), "orders")
    println(s"[skewup] hot o_custkey=$hotCust x$ordK")

    // documents — mega dup-cluster of the first doc, fresh doc_ids
    val docs = t("documents")
    requireIdRange(docs, "doc_id")
    val seed = docs.orderBy("doc_id").limit(1)
    val docHot = fan(seed, docK)
      .withColumn("doc_id", lit(Off) + col("_r") * Stride + col("doc_id")).drop("_r")
    write(docs.unionByName(docHot), "documents")
    println(s"[skewup] doc mega-cluster x$docK")

    for (name <- Seq("region", "nation", "customer", "supplier", "part",
      "embeddings"))
      write(t(name), name)
    println(s"[skewup] wrote $out")
    spark.stop()
  }
}
