package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.util.QueryExecutionListener

/** The work one span caused: task metrics of the jobs started under it,
  * node counts and scan metrics of the final (AQE) plans of the query
  * executions that ran under it, those plans themselves, and the
  * executions that failed.
  */
final class SpanStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var executions = 0L
  var failures = 0L
  var exchanges = 0L
  var smj = 0L
  var bhj = 0L
  var scanFiles = 0L
  var scanBytes = 0L
  var scanRows = 0L
  /** `qe.executedPlan` of each successful execution, in completion order. */
  val plans = mutable.ArrayBuffer.empty[SparkPlan]

  def add(o: SpanStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    executions += o.executions; failures += o.failures
    exchanges += o.exchanges; smj += o.smj; bhj += o.bhj
    scanFiles += o.scanFiles; scanBytes += o.scanBytes; scanRows += o.scanRows
    plans ++= o.plans
  }
}

final case class Span(id: Int, name: String, parent: Option[Int], startNs: Long) {
  var endNs: Long = startNs
  val stats = new SpanStats
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into graft, with the Spark work each caused.
  * While enabled, the tracer is a registered SparkListener and
  * QueryExecutionListener; it names the open span in a SparkContext
  * local property of its own, so jobs carry it, and drains the listener
  * bus at each span boundary so late events land on the right span.
  * When disabled (the state it starts in), [[span]] only runs its body.
  */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val spanKey = s"graft.obs.span.${Trace.instances.incrementAndGet()}"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var current: Option[Span] = None
  private var enabled = false

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    SparkShims.drainListeners(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      SparkShims.drainListeners(sc)
      val s = Span(spans.size, name, open.headOption.map(_.id), System.nanoTime())
      spans += s
      open = s :: open
      setCurrent(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        SparkShims.drainListeners(sc)
        open = open.tail
        setCurrent(open.headOption)
      }
    }

  private def setCurrent(s: Option[Span]): Unit = {
    current = s
    sc.setLocalProperty(spanKey, s.map(_.id.toString).orNull)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Stats of the last span with this name, descendants included;
    * empty when there is none.
    */
  def last(name: String): SpanStats = named(name).lastOption.map(subtree).getOrElse(new SpanStats)

  private def subtree(s: Span): SpanStats = {
    val out = new SpanStats
    out.add(s.stats)
    spans.filter(_.parent.contains(s.id)).foreach(c => out.add(subtree(c)))
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(spanKey)))
    id.map(_.toInt).filter(_ < spans.size).foreach { i =>
      val s = spans(i)
      s.stats.synchronized(s.stats.jobs += 1)
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null && e.taskMetrics != null) s.stats.synchronized {
      val m = e.taskMetrics
      s.stats.tasks += 1
      s.stats.cpuNs += m.executorCpuTime
      s.stats.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.stats.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.stats.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.stats.peakExecMem = math.max(s.stats.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.foreach { s =>
      // a cached frame's own plan sits behind its in-memory scan
      val plans = qe.executedPlan +: collect(qe.executedPlan) {
        case m: InMemoryTableScanExec => m.relation.cachedPlan
      }
      def count(pf: PartialFunction[SparkPlan, Unit]): Long =
        plans.map(p => collect(p)(pf.andThen(_ => 1)).size.toLong).sum
      val scans = plans.flatMap(p => collect(p) { case f: FileSourceScanExec => f })
      def metric(f: FileSourceScanExec, k: String): Long = f.metrics.get(k).map(_.value).getOrElse(0L)
      s.stats.synchronized {
        s.stats.executions += 1
        s.stats.plans += qe.executedPlan
        s.stats.exchanges += count { case _: ShuffleExchangeExec => }
        s.stats.smj += count { case _: SortMergeJoinExec => }
        s.stats.bhj += count { case _: BroadcastHashJoinExec => }
        s.stats.scanFiles += scans.map(metric(_, "numFiles")).sum
        s.stats.scanBytes += scans.map(metric(_, "filesSize")).sum
        s.stats.scanRows += scans.map(metric(_, "numOutputRows")).sum
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    current.foreach(s => s.stats.synchronized(s.stats.failures += 1))
}

object Trace {
  private val instances = new AtomicInteger

  /** Runs `body` in one span of a tracer enabled for it alone, and
    * returns its result with the span's stats.
    */
  def capture[T](spark: SparkSession)(body: => T): (T, SpanStats) = {
    val t = new Trace(spark)
    t.enable()
    try {
      val r = t.span("capture")(body)
      (r, t.last("capture"))
    } finally t.disable()
  }
}
