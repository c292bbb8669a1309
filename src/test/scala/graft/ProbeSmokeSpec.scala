package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs each `Profile` mode once at its smallest size on the shared
  * session, over sf0.001: each prints its line, throws nothing and
  * leaves the session running. `LAKESTRESS` builds its lake from the
  * reference fixtures (`graft.etl.Fixtures`) and is not run here.
  */
class ProbeSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  Seq(
    ("QUERY", "q4_join_multi", "PROFILE QUERY q4_join_multi rows="),
    ("EXPLAIN", "q117", "PROFILE EXPLAIN q117_sql_merge"),
    ("DEDUP", "10", "stage=verify"),
    ("SCALING", "2", "{\"probe\":\"dedup_scaling\""),
    ("STRESS", "2", "PROFILE stress 2x scaling factor = "),
    ("SEMSTRESS", "2", "PROFILE semstress 2x scaling factor = "),
    ("INCSTRESS", "2", "PROFILE incstress 2x scaling factor = "),
    ("DELTACHAIN", "100", "PROFILE deltachain n=100 "),
    ("MANIFESTREAD", "100", "PROFILE manifestread n=100 "),
    ("CLONE", "100", "PROFILE clone n=100 "),
    ("DEEPCLONE", "200", "PROFILE deepclone n=200 "),
    ("MANIFESTSTRESS", "2", "PROFILE manifest read @  64 commits"),
  ).foreach { case (mode, arg, line) =>
    test(s"$mode=$arg prints its line") {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(Profile.run(spark, "/root/testdata/sf0.001", Map(mode -> arg)))
      assert(out.toString.contains(line), out.toString)
      assert(!spark.sparkContext.isStopped)
    }
  }
}
