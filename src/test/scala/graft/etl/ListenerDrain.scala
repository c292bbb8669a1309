package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Waits until a session's `QueryExecutionListener` has seen every
  * query issued before the call: runs one marker query and drains the
  * listener's queue until the marker's plan arrives (listener events
  * are delivered in order).
  */
private[etl] object ListenerDrain {
  private val Marker = "__listener_drain_marker"

  def drain(spark: SparkSession,
            plans: java.util.concurrent.BlockingQueue[SparkPlan]): Seq[SparkPlan] = {
    spark.range(1).toDF(Marker).collect()
    val out = Seq.newBuilder[SparkPlan]
    var done = false
    while (!done) {
      val p = Option(plans.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(throw new AssertionError("listener drain timed out"))
      if (p.output.exists(_.name == Marker)) done = true else out += p
    }
    out.result()
  }
}
