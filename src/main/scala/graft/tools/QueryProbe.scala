package graft.tools

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.GraftSession

/**
 * Per-query diagnostic: runs one or more registered queries for N reps on
 * one SF dir and prints, per rep, the wall time, GC delta, shuffle/spill
 * deltas AND a per-stage breakdown (run time, GC, shuffle bytes, spill,
 * task count) — the evidence layer Bench deliberately aggregates away.
 *
 * Built for the round-10 verdict's open adjudications:
 *  - s18's sf1 rep variance (45.1 s median vs 31.6 s min on identical
 *    code): is the slow rep a particular STAGE (sort-fallback in the
 *    ObjectHashAggregate? scan skew?) or ambient (GC/host)?
 *  - c2's 10.7× sf0.1→sf1 hop: fan-out-linear (output rows grew 10×,
 *    time followed) or a shuffle-partition artifact?
 *
 * Usage: runMain graft.tools.QueryProbe <names,csv> <sfDir> [reps] [--rows]
 *   --rows additionally counts output rows (one extra evaluation).
 */
object QueryProbe {

  private final case class StageRow(id: Int, name: String, tasks: Int,
    runMs: Long, gcMs: Long, shRead: Long, shWrite: Long,
    memSpill: Long, diskSpill: Long)

  private final class StageTap extends SparkListener {
    val rows = mutable.ArrayBuffer.empty[StageRow]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) rows += StageRow(si.stageId,
        si.name.linesIterator.next().take(96), si.numTasks,
        m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled)
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala2.map(b => math.max(b.getCollectionTime, 0L)).sum

  // scala.jdk.CollectionConverters without the import noise
  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala2: Iterator[A] = { val it = l.iterator(); Iterator.continually(it).takeWhile(_.hasNext).map(_.next()) }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args(1)
    val reps = args.lift(2).filterNot(_.startsWith("--")).map(_.toInt).getOrElse(3)
    val wantRows = args.contains("--rows")
    val spark = GraftSession()

    val tap = new StageTap
    spark.sparkContext.addSparkListener(tap)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      println(s"\n=== $name @ $sfDir (reps=$reps) ===")
      if (wantRows) {
        val n = fn(spark, sfDir).count()
        println(f"output_rows=$n%d")
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      (1 to reps).foreach { rep =>
        GraftListenerBridge.drainListenerBus(spark.sparkContext)
        tap.rows.clear()
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val gcD = gcMillis() - gc0
        GraftListenerBridge.drainListenerBus(spark.sparkContext)
        val st = tap.rows.toVector.sortBy(-_.runMs)
        val totSpill = st.map(_.diskSpill).sum
        println(f"rep$rep%d wall=$wall%.2fs driver_gc=${gcD}ms stages=${st.size}%d disk_spill=${totSpill}B")
        st.take(8).foreach { r =>
          println(f"  stage${r.id}%-5d run=${r.runMs}%7dms gc=${r.gcMs}%6dms tasks=${r.tasks}%4d " +
            f"shR=${r.shRead / 1024 / 1024}%5dMB shW=${r.shWrite / 1024 / 1024}%5dMB " +
            f"spill=${r.memSpill / 1024 / 1024}%5dMB/${r.diskSpill / 1024 / 1024}%dMB  ${r.name}%s")
        }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
