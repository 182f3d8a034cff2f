package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class BucketingSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val root = tempDir("bucketing_spec")

  private def orders = spark.read.parquet(s"$sf/orders.parquet")
  private def customer = spark.read.parquet(s"$sf/customer.parquet")

  private def writeBoth(): Unit = {
    Bucketing.writeBucketed(orders, "spec_bkt_orders", "o_custkey", 8, s"$root/orders")
    Bucketing.writeBucketed(customer, "spec_bkt_customer", "c_custkey", 8, s"$root/customer")
  }

  test("writeBucketed: catalog records the bucket spec and exactly one file per bucket") {
    writeBoth()
    val cat = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("spec_bkt_orders"))
    assert(cat.bucketSpec.isDefined)
    assert(cat.bucketSpec.get.numBuckets === 8)
    assert(cat.bucketSpec.get.bucketColumnNames === Seq("o_custkey"))
    // pre-partitioning on the bucket hash → exactly one data file per bucket
    val files = new java.io.File(s"$root/orders").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length === 8, s"expected 8 bucket files, got ${files.length}")
  }

  test("bucketedJoin plans a sort-merge join with ZERO exchanges (and no sort)") {
    writeBoth()
    val joined = Bucketing.bucketedJoin(spark,
      "spec_bkt_orders", "o_custkey", "spec_bkt_customer", "c_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(2000)}")
    assert(plan.contains("Bucketed: true"), plan.take(2000))
    assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan.take(2000))
  }

  test("the same join on raw parquet DOES shuffle both sides — the cost bucketing removes") {
    val raw = orders.join(customer.hint("merge"), col("o_custkey") === col("c_custkey"))
    val plan = raw.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2, plan.take(2000))
  }

  test("aggregation on the bucket key also plans without an exchange") {
    writeBoth()
    val agg = spark.table("spec_bkt_orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed groupBy(bucket key) must not shuffle:\n${plan.take(2000)}")
  }

  test("bucketedJoin result equals the plain join") {
    writeBoth()
    val bucketed = Bucketing.bucketedJoin(spark,
        "spec_bkt_orders", "o_custkey", "spec_bkt_customer", "c_custkey")
      .select("o_orderkey", "c_custkey")
    val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey")
    assert(bucketed.exceptAll(plain).isEmpty && plain.exceptAll(bucketed).isEmpty)
    assert(bucketed.count() === plain.count())
  }
}
