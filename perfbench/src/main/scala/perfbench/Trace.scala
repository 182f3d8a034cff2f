package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Listener totals for one span (or for the jobs no span claimed). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var inputRecords = 0L

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
      s""""run_ms":$runMs,"cpu_ns":$cpuNs,"gc_ms":$gcMs,"sched_delay_ms":$schedDelayMs,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""output_bytes":$outputBytes,"output_records":$outputRecords,""" +
      s""""input_records":$inputRecords}"""
}

/**
 * One traced interval. A step span (`phase = "step"`) has `build`, `plan`
 * and `exec` children; listener counters land on the child whose interval
 * started the job.
 */
final case class Span(id: Int, parent: Int, pass: Int, name: String, module: String,
                      phase: String, startNs: Long, var durNs: Long = 0L,
                      counters: Counters = new Counters)

/**
 * Routes every job, stage and task event to the span that was open on the
 * client thread when the job started. The span id travels as a Spark local
 * property, which Spark copies onto the threads that run broadcast and
 * adaptive sub-queries, so their jobs are attributed too.
 */
final class SpanListener(spans: Int => Option[Span]) extends SparkListener {
  val unattributed = new Counters
  private val stageSpan = new ConcurrentHashMap[Int, Counters]()

  private def of(props: java.util.Properties): Counters =
    Option(props).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .flatMap(id => spans(id.toInt)).map(_.counters).getOrElse(unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = of(e.properties)
    c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
    e.stageIds.foreach(stageSpan.put(_, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = Option(stageSpan.get(e.stageId)).getOrElse(unattributed)
    val info = e.taskInfo
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (!info.successful) c.failedTasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

object SpanListener {
  val Key = "perfbench.span"
}

/** The three phases of a step, as the step body sees them. */
trait Phases {
  /** The module's public call, including any eager work it does. */
  def build[T](f: => T): T
  /** Forces physical planning of `df` (traced runs only). */
  def plan(df: DataFrame): Unit
  /** Materialises the step's result at its sink. */
  def exec[T](f: => T): T
}

/**
 * Times steps. Untraced, a step is one interval and nothing else is
 * recorded. Traced, each step gets a span with build/plan/exec children and
 * listener counters; spans stay in memory until [[spansJson]] writes them.
 */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  val listener = new SpanListener(id => Option(byId.get(id)))
  var pass = 0

  private def open(parent: Int, name: String, module: String, phase: String): Span = {
    val s = Span(spans.size, parent, pass, name, module, phase, System.nanoTime())
    spans += s
    byId.put(s.id, s)
    s
  }

  private def timed[T](parent: Span, phase: String)(f: => T): T = {
    val s = open(parent.id, parent.name, parent.module, phase)
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanListener.Key, s.id.toString)
    try f
    finally {
      s.durNs = System.nanoTime() - s.startNs
      sc.setLocalProperty(SpanListener.Key, null)
    }
  }

  private object Direct extends Phases {
    def build[T](f: => T): T = f
    def plan(df: DataFrame): Unit = ()
    def exec[T](f: => T): T = f
  }

  /** Runs one step. */
  def step(name: String, module: String)(body: Phases => Unit): Unit =
    if (!traced) body(Direct)
    else {
      val s = open(-1, name, module, "step")
      body(new Phases {
        def build[T](f: => T): T = timed(s, "build")(f)
        def plan(df: DataFrame): Unit = timed(s, "plan")(df.queryExecution.executedPlan)
        def exec[T](f: => T): T = timed(s, "exec")(f)
      })
      s.durNs = System.nanoTime() - s.startNs
    }

  /** Every span so far, one JSON object per line. */
  def spansJson: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"name":"${s.name}",""" +
      s""""module":"${s.module}","phase":"${s.phase}","start_ns":${s.startNs},""" +
      s""""dur_ns":${s.durNs},"counters":${s.counters.json}}"""
  }
}
