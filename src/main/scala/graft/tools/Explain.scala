package graft.tools

import scala.util.control.NonFatal

import graft.GraftSession
import graft.queries.Registry

/**
 * Plan-audit main: dumps the formatted physical plan of each registered
 * query to target/explains/<name>.txt, plus a one-line summary (exchange /
 * broadcast / codegen-span counts, pushed filters, scan schema widths) to
 * stdout — the feedback loop for the 100 TB posture checks in PERF.md.
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only = args.lift(1)
    val spark = GraftSession()
    val outDir = new java.io.File("target/explains"); outDir.mkdirs()

    Registry.all.filter(q => only.forall(q._1.startsWith)).foreach { case (name, q) =>
      try {
        val df = q.fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan.getBytes("UTF-8"))
        val exchanges = "Exchange".r.findAllIn(plan).size
        val bcasts = "BroadcastHashJoin".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        // codegen spans only surface in SIMPLE mode as `*(n)` operator
        // prefixes (formatted mode never prints the WholeStageCodegen label
        // pre-execution) — count DISTINCT span ids
        val simple = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(simple)
          .map(_.group(1)).toSet.size
        val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan)
          .count(!_.contains("[]"))
        println(f"$name%-28s exch=$exchanges bhj=$bcasts smj=$smj wsc=$codegen pushedFilters=$pushed")
      } catch {
        case NonFatal(e) => println(s"$name EXPLAIN FAILED: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
