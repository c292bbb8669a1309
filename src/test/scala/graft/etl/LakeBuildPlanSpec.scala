package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Trace

/** Pins the shuffles of an ingest: the AQE-final plan of
  * `Lake.write(Lake.build(..))`, captured from the write command.
  */
class LakeBuildPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.TestSpark.spark
  private lazy val cohort = RandomCohorts.write(spark, 7L, Files.createTempDirectory("plan-cohort"))

  private def ingestPlan(conf: (String, String)*): SparkPlan = {
    val c = cohort // generated outside the traced span
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val (_, span) = try Trace.capture(spark)(
        Lake.write(Lake.build(spark, c.vcfs, c.impact, c.dbSnp, t2t = false, c.gnomad, c.alpha),
          Files.createTempDirectory("plan-lake").toString))
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    span.plans.find(p => find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
      .getOrElse(fail("no write plan captured"))
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
