package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one bucket of work: the Spark jobs, stages and tasks it ran
  * and the query-planning phases of its actions.
  */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var schedDelayMs = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  /** Wall time covered by at least one job, in ms. */
  def jobWallMs: Long = {
    var (covered, end) = (0L, Long.MinValue)
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** Spark and query-execution listener that files every event under the
  * bucket that is current when the event is handled. [[Trace.op]] drains
  * the listener bus before it switches buckets, so events land in the op
  * that caused them.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  @volatile var current: SparkCounts = new SparkCounts
  private val jobStart = mutable.Map[Int, (Long, SparkCounts)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.jobs += 1
    jobStart(e.jobId) = (e.time, current)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, c) => c.jobIntervals += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    current.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val i = e.taskInfo
      c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    current.analysisMs += ms("analysis")
    current.optimizationMs += ms("optimization")
    current.planningMs += ms("planning")
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Outside-in tracer: spans around the benchmark's calls into each layer's
  * public functions, and per-op Spark counters from [[Collector]]. Spans are
  * kept in memory and written out once, at the end of the run. With tracing
  * off every method runs its body and records nothing.
  */
final class Trace(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int](0)
  private var collector: Collector = _
  private var spark: SparkSession = _
  /** Spark counters per op name (ops do not nest). */
  val ops = mutable.LinkedHashMap[String, SparkCounts]()
  /** Wall time per op name, summed. */
  val opWallNs = mutable.Map[String, Long]().withDefaultValue(0L)

  /** Install the listeners on `s`, once per session. */
  def setup(s: SparkSession): Unit = if (enabled && (spark ne s)) {
    collector = new Collector
    s.sparkContext.addSparkListener(collector)
    s.listenerManager.register(collector)
    spark = s
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + 1
      val parent = stack.top
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  /** A span whose Spark events are counted under `name`. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val counts = ops.getOrElseUpdate(name, new SparkCounts)
      collector.current = counts
      val t0 = System.nanoTime()
      try span(name)(body)
      finally {
        drain()
        opWallNs(name) += System.nanoTime() - t0
        collector.current = new SparkCounts
      }
    }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Summed span seconds per name. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def counts(pred: String => Boolean): Seq[SparkCounts] = ops.collect { case (n, c) if pred(n) => c }.toSeq

  def writeSpans(path: String): Unit = if (enabled) {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}
