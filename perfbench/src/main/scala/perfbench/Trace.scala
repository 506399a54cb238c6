package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}

/** One layer call: start and end in ms since the tracer's origin. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    op: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Parents come from a per-thread stack, so a
  * span opened inside another on the same thread nests under it. When
  * disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  @volatile private var ownNs = 0L

  private def nowMs: Double = (System.nanoTime() - origin) / 1e6

  def span[T](name: String, layer: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowMs
      ownNs += System.nanoTime() - b0
      try body
      finally {
        val b1 = System.nanoTime()
        stack.set(stack.get.tail)
        recorded.add(Span(id, parent, name, layer, op, t0, nowMs))
        ownNs += System.nanoTime() - b1
      }
    }

  /** Time spent recording spans. */
  def ownSeconds: Double = ownNs / 1e9

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  /** Self time per layer: a span's duration minus that of its direct
    * children, summed over the spans of each layer.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Scheduler totals for one traced stretch of work. */
final case class SparkTotals(jobs: Long, stages: Long, tasks: Long, cpuS: Double,
    runS: Double, shuffleBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, taskSkew: Double)

/** Aggregates task and stage events. Callbacks run on the listener-bus
  * thread; readers call [[drained]] first so every event of the work
  * before it has been counted.
  */
final class SparkStats(sc: SparkContext) extends SparkListener {
  private var jobs, stages, tasks, shuffle, spill, input, output = 0L
  private var cpuNs, runMs = 0L
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shuffle += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }

  @volatile private var drainNs = 0L

  def drained(): SparkStats = {
    val t0 = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(sc)
    drainNs += System.nanoTime() - t0
    this
  }

  /** Time readers spent waiting for the bus: the tracing overhead the
    * traced pass pays on its own thread.
    */
  def drainSeconds: Double = drainNs / 1e9

  def reset(): Unit = { drained(); synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffle = 0; spill = 0; input = 0; output = 0
    cpuNs = 0; runMs = 0
    taskMs.clear()
  } }

  def taskCount: Long = { drained(); synchronized(tasks) }

  /** Totals since the last reset; task skew is the worst stage's
    * max/median task time over stages of at least two tasks.
    */
  def totals(): SparkTotals = { drained(); synchronized {
    val skews = taskMs.values.filter(_.size >= 2).map { ds =>
      val sorted = ds.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)).toDouble
    }
    SparkTotals(jobs, stages, tasks, cpuNs / 1e9, runMs / 1e3, shuffle, spill,
      input, output, if (skews.isEmpty) 1.0 else skews.max)
  } }
}

/** JVM-wide gauges the listener cannot see: collector time and heap peak. */
object JvmGauges {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Plan-shape counters for one result, read from the physical plan the
  * session would run with adaptive execution off, so the counts depend
  * only on the query and the input files' sizes, never on run-time
  * statistics.
  */
object PlanShape {
  final case class Counts(interpreted: Int, hof: Int)

  def of(spark: SparkSession, df: DataFrame): Counts = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = spark.sessionState.executePlan(df.queryExecution.analyzed).executedPlan
      Counts(interpreted(plan, inCodegen = false),
        plan.collect { case p => p.expressions.map(_.collect { case h: HigherOrderFunction => h }.size).sum }.sum)
    } finally spark.conf.set(key, prev)
  }

  /** Operators that run outside a WholeStageCodegen stage. */
  private def interpreted(p: SparkPlan, inCodegen: Boolean): Int = p match {
    case w: WholeStageCodegenExec => interpreted(w.child, inCodegen = true)
    case a: InputAdapter => interpreted(a.child, inCodegen = false)
    case other => (if (inCodegen) 0 else 1) + other.children.map(interpreted(_, inCodegen)).sum
  }
}
