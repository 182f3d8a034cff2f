package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class PagingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    (1L, 10L), (1L, 20L), (2L, 5L), (2L, 6L), (3L, 1L), (3L, 2L), (4L, 9L))
    .toDF("a", "b")

  test("chained pages cover the table exactly once, duplicate-boundary safe") {
    // walk the whole table in pages of 3 via (a, b) cursors
    var cursor = (Long.MinValue, Long.MinValue)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var page = Paging.keysetPage(df, Seq("a" -> lit(cursor._1), "b" -> lit(cursor._2)), 3)
      .as[(Long, Long)].collect().toSeq
    while (page.nonEmpty) {
      seen ++= page
      cursor = page.last
      page = Paging.keysetPage(df, Seq("a" -> lit(cursor._1), "b" -> lit(cursor._2)), 3)
        .as[(Long, Long)].collect().toSeq
    }
    assert(seen.toSeq === df.orderBy("a", "b").as[(Long, Long)].collect().toSeq,
      "pages must tile the table in order with no skips or repeats")
    // the duplicate-a boundary (page splits inside a=2 or a=3) is covered
    // by pages of 3 over 7 rows: cursors land mid-group twice
  }

  test("plan: pushed tuple predicate + TakeOrderedAndProject, never a global sort") {
    val dir = tempDir("page")
    df.write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    val p = Paging.keysetPage(t, Seq("a" -> lit(2L), "b" -> lit(5L)), 3)
    val plan = p.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
    assert(plan.contains("PushedFilters: [Or("),
      s"cursor predicate must push to the scan:\n$plan")
    assert(p.as[(Long, Long)].collect().toSeq === Seq((2L, 6L), (3L, 1L), (3L, 2L)))
  }
}
