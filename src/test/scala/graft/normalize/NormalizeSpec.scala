package graft.normalize

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class NormalizeSpec extends AnyFunSuite with SparkTestBase {

  test("normalizeValueScala — null markers, bools, trivial floats (data_helpers.py:447-486)") {
    import Normalize.normalizeValueScala
    Normalize.NullMarkers.foreach { m =>
      assert(normalizeValueScala(m).isEmpty, s"marker '$m'")
      assert(normalizeValueScala(m.toUpperCase).isEmpty, s"marker '${m.toUpperCase}'")
    }
    assert(normalizeValueScala("  none ").isEmpty)
    assert(normalizeValueScala("Yes").contains("True"))
    assert(normalizeValueScala("FALSE").contains("False"))
    assert(normalizeValueScala("100.0").contains("100"))
    assert(normalizeValueScala("-10001.0").contains("-10001"))
    assert(normalizeValueScala("007").contains("007"))   // id kept verbatim
    assert(normalizeValueScala("0.001").contains("0.001"))
    assert(normalizeValueScala(" hello ").contains("hello"))
    assert(normalizeValueScala(null).isEmpty)
    // >18-digit strings stay verbatim (bounded regex; no Long overflow)
    assert(normalizeValueScala("99999999999999999999").contains("99999999999999999999"))
    assert(normalizeValueScala("+42").contains("42"))
    // int-valued exponent strings collapse (ADVICE: reference int(float(v)))
    assert(normalizeValueScala("2.01803E+13").contains("20180300000000"))
    assert(normalizeValueScala("1e5").contains("100000"))
    assert(normalizeValueScala("1.5e1").contains("15"))
    assert(normalizeValueScala("1.5e0").contains("1.5e0"))  // non-integral → verbatim
    assert(normalizeValueScala("1e30").contains("1e30"))    // huge exponent → verbatim
  }

  test("normalizeValue Column matches pure-Scala twin") {
    import spark.implicits._
    val inputs = Seq("na", "N/A", "--", "yes", "No", "100.0", "007", "0.5",
      "text value", " padded ", "[Not Available]", "-5403", null)
    val df = inputs.toDF("v").select(Normalize.normalizeValue($"v").as("n"))
    val got = df.collect().map(r => Option(r.getString(0)))
    val expected = inputs.map(v => Normalize.normalizeValueScala(v))
    assert(got.toSeq == expected)
  }

  test("makeNameBqFriendly (utils.py:140-155)") {
    import Normalize.makeNameBqFriendly
    assert(makeNameBqFriendly("% tumor nuclei") == "percent_tumor_nuclei")
    assert(makeNameBqFriendly("days to birth") == "days_to_birth")
    assert(makeNameBqFriendly("a  b") == "a_b")
    assert(makeNameBqFriendly("odd-char(s)!") == "odd_char_s")
    assert(makeNameBqFriendly("already_fine_09") == "already_fine_09")
  }

  test("convertConcatToMulti (file_metadata_gdc.py:44-75)") {
    import spark.implicits._
    val nine = (1 to 9).map(_.toString).mkString(";")
    val eight = (1 to 8).map(_.toString).mkString(";")
    val dup = "a;b;a;c;a;b;a;b;a"   // 9 raw, 3 distinct
    val df = Seq(nine, eight, dup, "solo", null).toDF("v")
    val plain = df.select(Normalize.convertConcatToMulti($"v").as("r")).collect().map(_.getString(0))
    assert(plain.toSeq == Seq("multi", eight, "multi", "solo", null))
    val filtered = df.select(Normalize.convertConcatToMulti($"v", filterDuplicates = true).as("r"))
      .collect().map(_.getString(0))
    assert(filtered.toSeq == Seq("multi", eight, "a;b;c", "solo", null))
    // boundary edges: raw count over max but DISTINCT count exactly max →
    // kept (deduped); distinct count one over max → multi even after dedup
    val atMax  = eight + ";1"            // 9 raw, 8 distinct
    val overMax = nine + ";1"            // 10 raw, 9 distinct
    val edges = Seq(atMax, overMax).toDF("v")
      .select(Normalize.convertConcatToMulti($"v", filterDuplicates = true).as("r"))
      .collect().map(_.getString(0))
    assert(edges.toSeq == Seq(eight, "multi"))
  }

  test("dedupHeader (data_helpers.py:497-516)") {
    assert(Normalize.dedupHeader(Seq("Col", "col", "col", "other")) ==
      Seq("col", "col_1", "col_2", "other"))
    assert(Normalize.dedupHeader(Seq("a", "A", "a_1")) == Seq("a", "a_1", "a_1_1"))
  }
}
