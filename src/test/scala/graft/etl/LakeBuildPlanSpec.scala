package graft.etl

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shuffles of an ingest: the AQE-final plan of
  * `Lake.write(Lake.build(..))`, captured from the write command.
  */
class LakeBuildPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.TestSpark.spark
  private lazy val cohort = RandomCohorts.write(spark, 7L, Files.createTempDirectory("plan-cohort"))

  private def ingestPlan(conf: (String, String)*): SparkPlan = {
    val plans = new LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.put(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val c = cohort // generated before the listener sees any write
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.listenerManager.register(listener)
    try {
      Lake.write(Lake.build(spark, c.vcfs, c.impact, c.dbSnp, t2t = false, c.gnomad, c.alpha),
        Files.createTempDirectory("plan-lake").toString)
      Option(plans.poll(30, TimeUnit.SECONDS)).getOrElse(fail("no write plan captured"))
    } finally {
      spark.listenerManager.unregister(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case s: ShuffleExchangeExec => s }

  test("broadcast annotations: one repartition on (chrom, pos_bucket) plus the impact dedup") {
    val plan = ingestPlan()
    val exchanges = shuffles(plan)
    assert(exchanges.size === 2, plan.toString)
    val byCol = exchanges.filter(_.shuffleOrigin == REPARTITION_BY_COL)
    assert(byCol.size === 1, plan.toString)
    val keys = byCol.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case other => fail(s"repartition is not hash-partitioned: $other")
    }
    assert(keys === Seq("chrom", "pos_bucket"))
    assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan.toString)
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size === 4, plan.toString)
  }

  test("sort-merge annotations: the shuffle count this ingest plans") {
    val plan = ingestPlan("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    assert(collect(plan) { case j: SortMergeJoinExec => j }.size === 4, plan.toString)
    assert(shuffles(plan).size === 8, plan.toString)
  }
}
