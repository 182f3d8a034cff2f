package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  /** The `key=value` session settings listed in perfbench/README.md
    * § Protocol, with `<cores>` bound to `cores`. */
  private def protocol(cores: String): Map[String, String] = {
    val readme = Files.readString(Paths.get("perfbench/README.md"))
    val section = readme.split("\n## Protocol\n", 2)(1).split("\n## ", 2)(0)
    val session = section.split("\n- ").find(_.startsWith("Session:"))
      .getOrElse(fail("no Session bullet in perfbench/README.md § Protocol"))
    "`(spark\\.[A-Za-z.]+)=([^`]+)`".r.findAllMatchIn(session)
      .map(m => m.group(1) -> m.group(2).replace("<cores>", cores)).toMap
  }

  private def sameSetting(a: String, b: String): Boolean =
    a == b || Try(JavaUtils.byteStringAsBytes(a) == JavaUtils.byteStringAsBytes(b)).getOrElse(false)

  test("the factory's settings are the benchmark protocol's (Spark defaults aside)") {
    val want = protocol("7")
    assert(want.size >= 7, s"protocol parse found only $want")
    val got = GraftSession.settings("7")
    assert(got.keySet.subsetOf(want.keySet), s"not in the protocol: ${got.keySet -- want.keySet}")
    got.foreach { case (k, v) => assert(v === want(k), k) }
    // a protocol entry the factory leaves out must be Spark's own default
    (want.keySet -- got.keySet).foreach { k =>
      val default = new SQLConf().getConfString(k)
      assert(sameSetting(default, want(k)), s"$k: protocol ${want(k)}, Spark default $default")
    }
  }

  test("the shared test session carries every factory setting and the graft functions") {
    GraftSession.settings(GraftSession.cores).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(spark.conf.get("spark.sql.warehouse.dir").contains(SparkTestBase.Warehouse))
    val s = spark.sql("SELECT graft_simhash64(array('the', 'quick', 'fox')) AS s").collect()(0)
    assert(s.getLong(0) !== 0L)
  }

  test("deployment and core settings are read from the environment only in GraftSession") {
    val root = Paths.get("src/main/scala")
    val env = "SPARK_GRAFT_(MASTER|JARS|EXECUTOR_MEM|CPUS)\\b".r
    val readers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter((p: Path) => env.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toSet
    assert(readers === Set("graft/GraftSession.scala"))
  }
}
