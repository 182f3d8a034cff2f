package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/**
 * Storage-layout proof for the 100 TB posture: bucketed tables co-locate
 * join keys so a fact⋈fact join runs WITHOUT a shuffle (the Spark analogue
 * of the reference's CLUSTER BY, gdc_file_utils.py:599-614).
 */
class BucketingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("join of co-bucketed tables plans without Exchange") {
    spark.sql("DROP TABLE IF EXISTS bspec_a")
    spark.sql("DROP TABLE IF EXISTS bspec_b")
    // the in-memory catalog is fresh per JVM but the warehouse dir persists —
    // orphaned locations must go or CTAS refuses
    Seq("bspec_a", "bspec_b").foreach { t =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(s"${SparkTestBase.Warehouse}/$t"))
    }
    (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bspec_a")
    (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bspec_b")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bspec_a").join(spark.table("bspec_b"), "k")
      assert(joined.count() === 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")

      // control: the same join on unbucketed parquet DOES shuffle
      val ua = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val ub = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      val uj = ua.join(ub, "k")
      assert(uj.count() === 1000)
      assert(uj.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
