package graft

import org.apache.spark.sql.SparkSession

/**
 * The one place a SparkSession is built: every main and the test base call
 * [[GraftSession.apply]], so the settings below cannot drift between them.
 * They are the settings of perfbench/README.md § Protocol (perfbench keeps
 * its own copy, pinned to these).
 *
 * Deployment comes from the environment, read here and nowhere else:
 *  - `SPARK_GRAFT_CPUS` — cores of the local master and the shuffle
 *    partition count (default: the JVM's available processors);
 *  - `SPARK_GRAFT_MASTER` — overrides the master, e.g.
 *    `local-cluster[4,8,4096]` for the cluster smoke (real executor JVMs);
 *  - `SPARK_GRAFT_JARS` — the packaged library for those executors
 *    (`spark.jars`), with `SPARK_GRAFT_EXECUTOR_MEM` (default 3g).
 */
object GraftSession {

  /** Cores of the local master, also the shuffle partition count. */
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The session settings every caller shares, for `cores` cores. The AQE
    * coalescing floor stays at Spark's 1m default: 256k/64k floors lost the
    * full-registry A/B at sf0.1 (312.8 s vs 260.6 s,
    * bench/BENCH_R14_MID{2,3}.json). */
  def settings(cores: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.session.timeZone" -> "UTC",
    // one replica file = one scan task (PERF.md rule 13)
    "spark.sql.files.maxPartitionBytes" -> "8m",
    // events.ts ships as TIMESTAMP(NANOS) in some testdata generations,
    // which the parquet reader rejects unless read as long
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  private def deployment: Map[String, String] =
    sys.env.get("SPARK_GRAFT_JARS").fold(Map.empty[String, String]) { jars =>
      Map("spark.jars" -> jars,
        "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
    }

  /** The shared session; `own` holds the few settings that are truly the
    * caller's (e.g. FAIR scheduling, a test warehouse). */
  def apply(own: (String, String)*): SparkSession = {
    val c = cores
    val spark = (settings(c) ++ deployment ++ own)
      .foldLeft(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$c]"))) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
