package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Shared local session for module specs: the engine's one session factory,
  * with the warehouse kept inside the build's own target/. */
trait SparkTestBase {
  lazy val spark: SparkSession =
    GraftSession("spark.sql.warehouse.dir" -> SparkTestBase.Warehouse)

  /** A fresh directory under target/test-tmp for one spec's files. */
  def tempDir(prefix: String): String = Files.createTempDirectory(
    Files.createDirectories(SparkTestBase.Target.resolve("test-tmp")), prefix).toString
}

object SparkTestBase {
  /** The build output root; forked tests run with the repo root as cwd. */
  val Target: Path = Paths.get("target").toAbsolutePath
  val Warehouse: String = Target.resolve("spark-warehouse").toString
}
