package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.ops.Expectations._

class ExpectationsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    (1L, Option("AA"), Option(10L), Option("1-HI")),
    (2L, Option("AA"), Option(50L), Option("2-LO")),
    (3L, None,         Option(999L), Option("9-XX")),
    (4L, Option("BB"), None,        None))
    .toDF("k", "seg", "price", "prio")

  private def run(rules: Seq[Expectation]): Map[String, (String, String, Long, Long, Boolean)] =
    gate(df, rules).as[(String, String, String, Long, Long, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap

  test("each rule kind counts exactly its own violations; null ownership is not_null's alone") {
    val out = run(Seq(
      ExpectNotNull("nn", "seg"),              // row 3
      ExpectUnique("uqk", "k"),                // all distinct
      ExpectUnique("uqs", "seg"),              // AA twice → 1 extra copy (null ignored)
      ExpectInRange("rng", "price", 0L, 100L), // 999 only; NULL price is NOT a range violation
      ExpectMatches("rx", "prio", "^[12]-"),   // 9-XX only; NULL prio not counted
      ExpectInSet("st", "seg", Seq("AA"))))    // BB only
    assert(out("nn") === (("not_null", "seg", 1L, 4L, false)))
    assert(out("uqk") === (("unique", "k", 0L, 4L, true)))
    assert(out("uqs") === (("unique", "seg", 1L, 4L, false)))
    assert(out("rng") === (("in_range", "price", 1L, 4L, false)))
    assert(out("rx") === (("matches", "prio", 1L, 4L, false)))
    assert(out("st") === (("in_set", "seg", 1L, 4L, false)))
  }

  test("all-pass suite, duplicate rule ids refused, empty table yields zero-violation passes") {
    val out = run(Seq(ExpectNotNull("a", "k"), ExpectInRange("b", "k", 0L, 100L)))
    assert(out.values.forall(_._5))
    intercept[IllegalArgumentException] {
      gate(df, Seq(ExpectNotNull("dup", "k"), ExpectUnique("dup", "k")))
    }
    val empty = gate(df.filter($"k" < 0L), Seq(ExpectNotNull("a", "seg"), ExpectUnique("b", "k")))
      .as[(String, String, String, Long, Long, Boolean)].collect()
    assert(empty.forall(r => r._4 === 0L && r._5 === 0L && r._6))
  }

  test("refGate: orphans counted, null keys owned by not_null, dup parents don't double-count") {
    val child = Seq((1L, Option(10L)), (2L, Option(20L)), (3L, Option(99L)),
      (4L, None)).toDF("k", "fk")
    // parent carries key 10 TWICE: the distinct inside refGate must keep
    // the child scan 1:1 (a dup parent key must not duplicate child rows)
    val parent = Seq(10L, 10L, 20L).toDF("pk")
    val out = refGate(child, Seq(ExpectForeignKey("fk1", "fk", parent, "pk")))
      .as[(String, String, String, Long, Long, Boolean)].collect()
    assert(out.toSeq === Seq(("fk1", "foreign_key", "fk", 1L, 4L, false)))
  }

  test("refGate: multiple rules in one pass, all-pass verdict") {
    val child = Seq((1L, 10L, 100L), (2L, 20L, 100L)).toDF("k", "a", "b")
    val pa = Seq(10L, 20L).toDF("pk")
    val pb = Seq(100L).toDF("pk")
    val out = refGate(child, Seq(
      ExpectForeignKey("ra", "a", pa, "pk"),
      ExpectForeignKey("rb", "b", pb, "pk")))
      .as[(String, String, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("ra")._6 && out("rb")._6)
    assert(out.values.forall(_._5 === 2L))
  }

  test("one scan for the whole suite (rules are expressions, not jobs)") {
    val dir = tempDir("expect")
    df.write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    val out = gate(t, Seq(ExpectNotNull("a", "seg"), ExpectInRange("b", "price", 0L, 100L),
      ExpectMatches("c", "prio", "^[12]-")))
    val plan = out.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length === 1, s"expected one scan:\n$plan")
  }
}
