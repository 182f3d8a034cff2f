package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class GoldenSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("four comparison modes flag the right failures (shared_test_functions.py)") {
    val expected = Seq((1L, "a", "x;y"), (2L, "b", "p;q")).toDF("id", "v", "tags")
    val sameReordered = Seq((2L, "b", "q;p"), (1L, "a", "y;x")).toDF("id", "v", "tags")
    val allGood = Golden.compare(sameReordered, expected, Seq("id"), concatCols = Seq("tags"))
    assert(allGood.forall(_.passed), allGood.mkString(", "))

    val broken = Seq((1L, "CHANGED", "x;y"), (3L, "c", "z")).toDF("id", "v", "tags")
    val checks = Golden.compare(broken, expected, Seq("id"), concatCols = Seq("tags"))
      .map(c => c.mode -> c.passed).toMap
    assert(!checks("key_coverage"))  // id 2 missing, id 3 extra
    assert(!checks("row_diff"))      // id 1 value changed
    intercept[IllegalArgumentException] {
      Golden.assertAllPassed(Golden.compare(broken, expected, Seq("id")))
    }
  }

  test("compareToGolden blesses on first run, compares after") {
    val dir = tempDir("golden")
    val df = Seq((1L, "a")).toDF("id", "v")
    val first = Golden.compareToGolden(spark, df, s"$dir/g", Seq("id"))
    assert(first.head.mode === "blessed")
    val second = Golden.compareToGolden(spark, df, s"$dir/g", Seq("id"))
    assert(second.forall(_.passed))
  }
}
