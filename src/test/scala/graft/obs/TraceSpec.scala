package graft.obs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Listeners
import org.scalatest.funsuite.AnyFunSuite

/** What a span records: the jobs, tasks and final plans of the work
  * run under it, its children's work rolled up, failed executions; and
  * nothing at all while the tracer is disabled.
  */
class TraceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.TestSpark.spark

  /** One shuffle: 4 map tasks, then the aggregate's reduce side. */
  private def twoStage: DataFrame =
    spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()

  private def traced[T](body: Trace => T): (Trace, T) = {
    val t = new Trace(spark)
    t.enable()
    try (t, body(t)) finally t.disable()
  }

  test("a span records the jobs, tasks and AQE-final exchanges of a two-stage query") {
    val (t, rows) = traced(_.span("agg")(twoStage.collect()))
    assert(rows.length === 10)
    val s = t.last("agg")
    assert(s.executions === 1 && s.failures === 0)
    assert(s.plans.size === 1)
    val plan = s.plans.head
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size === 1, plan.toString)
    assert(s.exchanges === 1)
    val reducers = collect(plan) { case r: AQEShuffleReadExec => r.partitionSpecs.size }
      .headOption.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(s.jobs === 2)
    assert(s.tasks === 4 + reducers)
    assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes > 0 && s.cpuNs > 0)
  }

  test("a nested span's stats roll up into its parent") {
    val (t, _) = traced { t =>
      t.span("outer") {
        spark.range(5).collect()
        t.span("inner")(twoStage.collect())
      }
    }
    val Seq(outer) = t.named("outer")
    val Seq(inner) = t.named("inner")
    assert(inner.parent === Some(outer.id))
    val (all, in) = (t.last("outer"), t.last("inner"))
    assert(in.executions === 1 && outer.stats.executions === 1 && all.executions === 2)
    assert(all.jobs === outer.stats.jobs + in.jobs && in.jobs === 2)
    assert(all.tasks === outer.stats.tasks + in.tasks)
    assert(all.exchanges === 1)
    assert(all.plans.size === 2 && all.plans.contains(in.plans.head))
  }

  test("a failed execution is counted") {
    val (_, s) = Trace.capture(spark)(intercept[Exception](
      spark.range(3).select(expr("raise_error(concat('boom ', id))")).collect()))
    assert(s.failures === 1)
    assert(s.executions === 0 && s.plans.isEmpty)
  }

  test("a disabled tracer runs the body and records and registers nothing") {
    val t = new Trace(spark)
    assert(t.span("off")(spark.range(5).collect().length) === 5)
    assert(t.spans.isEmpty && t.last("off").executions === 0)
    assert(!Listeners.registered(spark, t))
    t.enable()
    assert(Listeners.registered(spark, t))
    t.disable()
    assert(!Listeners.registered(spark, t))
    spark.range(5).collect()
    assert(t.spans.isEmpty)
  }
}
