package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class ZOrderSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("zValue: hand-computed Morton interleave") {
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b")).as("z")).as[Long].head()
    // a=101, b=011 → bits: a0→0, b0→1, a1→2, b1→3, a2→4, b2→5
    // z = 1·1 + 1·2 + 0·4 + 1·8 + 1·16 + 0·32 = 27
    assert(got === 27L)
    // interleave is monotone-compatible: (0,0) < (1,0) < (1,1) on the curve
    val z = (aa: Long, bb: Long) => Seq((aa, bb)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b")).as("z")).as[Long].head()
    assert(z(0, 0) < z(1, 0) && z(1, 0) < z(1, 1))
  }

  test("z-order layout skips files on BOTH dimensions; linear sort only on one") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice")).cast("long").as("pb"))
    val nFiles = 8
    val root = tempDir("zorder_spec")
    val zPath = s"$root/z"
    val lPath = s"$root/linear"
    // NORMALIZE to comparable widths before interleaving (the documented
    // requirement): cust is 8-bit (0..149); price spans ~19 bits, so take
    // its top 8 (>> 11). Interleaving the raw 19-bit price instead
    // degenerates to a linear price sort — asserted at the bottom.
    ZOrder.zOrderWrite(orders, zPath, col("o_custkey"),
      shiftright(col("pb"), 11), nFiles)
    orders.repartitionByRange(nFiles, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(lPath)

    // per-FILE min/max footers: the stats a scan planner prunes with
    def boxes(path: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          spark.read.parquet(f.getAbsolutePath)
            .agg(min("o_custkey"), max("o_custkey"), min("pb"), max("pb"))
            .as[(Long, Long, Long, Long)].head()
        }
    // fraction of files whose [min,max] admits a point probe, averaged
    // over a grid of probes (= expected scan fraction for point lookups)
    def scanFrac(bx: Seq[(Long, Long, Long, Long)], dim: String, probes: Seq[Long]): Double =
      probes.map { p =>
        bx.count { case (cLo, cHi, pLo, pHi) =>
          if (dim == "cust") cLo <= p && p <= cHi else pLo <= p && p <= pHi
        }.toDouble / bx.size
      }.sum / probes.size

    val zb = boxes(zPath)
    val lb = boxes(lPath)
    assert(zb.size === nFiles && lb.size === nFiles)
    val custProbes = (0L until 150L by 15).toSeq
    val priceProbes = (1000L until 500000L by 50000).toSeq
    // linear layout: near-perfect on the sort column, useless on the other
    assert(scanFrac(lb, "cust", custProbes) < 0.35)
    assert(scanFrac(lb, "price", priceProbes) >= 0.85)
    // z-order: SKIPS ON BOTH — each dimension's scan fraction is bounded
    // away from the full scan the linear layout needs on its weak dim
    val zc = scanFrac(zb, "cust", custProbes)
    val zp = scanFrac(zb, "price", priceProbes)
    assert(zc < 0.8, s"zorder cust scan fraction $zc")
    assert(zp < 0.8, s"zorder price scan fraction $zp")
    assert(zp < scanFrac(lb, "price", priceProbes), "no gain over linear on the weak dim")

    // the degenerate layout the doc warns about: interleaving the RAW
    // 19-bit price against 8-bit cust sorts by price and skips nothing
    // on cust
    val dPath = s"${tempDir("zorder_spec")}/degenerate"
    ZOrder.zOrderWrite(orders, dPath, col("o_custkey"), col("pb"), nFiles)
    val db = boxes(dPath)
    assert(scanFrac(db, "cust", custProbes) > 0.9, "degenerate layout should not prune cust")
  }
}
