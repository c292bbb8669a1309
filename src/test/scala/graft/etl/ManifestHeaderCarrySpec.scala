package graft.etl

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Header facts survive every commit that does not own them.
  *
  * Races: a data verb that loses the version race to a metadata commit
  * (a table comment, user and engine properties) must rebase its header
  * onto the head — re-publishing its snapshot's header would silently
  * revert the winner. Delete, update and compact are the controls.
  *
  * Metadata verbs: each one, on a table with every header fact set,
  * changes exactly the facts it documents and carries the rest.
  */
class ManifestHeaderCarrySpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def freshDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/table"

  private def head(dir: String): ManifestLake.Manifest = {
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    ManifestLake.readManifest(fs, root, ManifestLake.currentVersion(spark, dir).get)
  }

  /** Every header fact a commit may carry; `op` and `cdf` describe one
    * commit and are left out.
    */
  private def facts(m: ManifestLake.Manifest): Map[String, Any] = Map(
    "schema" -> m.schema, "partCols" -> m.partCols, "txns" -> m.txns,
    "constraints" -> m.constraints, "colMap" -> m.colMap,
    "droppedPhys" -> m.droppedPhys, "bloomCols" -> m.bloomCols,
    "generated" -> m.generated, "fieldMap" -> m.fieldMap,
    "statsColsDefault" -> m.statsColsDefault, "fieldDropped" -> m.fieldDropped,
    "defaults" -> m.defaults, "identity" -> m.identity,
    "clusterCols" -> m.clusterCols, "extras" -> m.extras, "requires" -> m.requires)

  private def changed(before: ManifestLake.Manifest,
                      after: ManifestLake.Manifest): Set[String] = {
    val b = facts(before)
    facts(after).collect { case (k, v) if b(k) != v => k }.toSet
  }

  private def rows(xs: (String, Long, String)*): DataFrame = {
    import spark.implicits._
    xs.map { case (g, id, p) => (g, id, id, p) }.toDF("grp", "id", "n", "payload")
  }

  /** Three appends, so each partition holds three files to compact. */
  private def raceTable(tag: String): String = {
    val dir = freshDir(tag)
    (0 until 3).foreach { k =>
      ManifestLake.write(spark,
        rows((0 until 4).map(i => ("a", (k * 4 + i).toLong, s"p$k$i")) ++
          (0 until 4).map(i => ("b", (100 + k * 4 + i).toLong, s"q$k$i")): _*),
        dir, Seq("grp"), replace = k == 0)
    }
    dir
  }

  /** Run `verb` while a racing thread commits a table comment and
    * three properties between its snapshot and its publish.
    */
  private def racing[T](dir: String, op: String)(verb: => T): T = {
    ManifestLake.raceHook.set { fired =>
      assert(fired === op)
      Await.result(Future {
        spark.sparkContext.clearJobGroup()
        ManifestLake.setComments(spark, dir, table = Some(Some("raced comment")))
        ManifestLake.setTableProperties(spark, dir, Map("owner" -> "racer",
          "graft.statsCols" -> "n", "graft.bloomCols" -> "n"))
      }, 2.minutes): Unit
    }
    try verb
    finally {
      assert(ManifestLake.raceHook.getAndSet(null) == null,
        s"$op never reached its publish")
    }
  }

  private def assertRacerKept(dir: String, op: String): Unit = {
    val m = head(dir)
    assert(m.op === Some(op))
    assert(m.extras.contains("comment" -> "raced comment"), m.extras)
    assert(m.extras.contains("prop:owner" -> "racer"), m.extras)
    assert(m.statsColsDefault === Seq("n"))
    assert(m.bloomCols === Seq("n"))
  }

  private def payloads(dir: String): Map[Long, String] =
    ManifestLake.read(spark, dir).select("id", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** One race per verb: its published head must carry the racer's
    * facts, its own op and its own rows (`check` sees id -> payload).
    */
  private def raceTest(op: String, what: String)(run: String => Any)(
      check: Map[Long, String] => Unit): Unit =
    test(s"$op losing the race to a metadata commit keeps the winner's header$what") {
      val dir = raceTable(s"carry-race-$op")
      racing(dir, op)(run(dir))
      assertRacerKept(dir, op)
      check(payloads(dir))
    }

  raceTest("append", "") { dir =>
    ManifestLake.write(spark, rows(("a", 500L, "APPENDED")), dir, Seq("grp"), replace = false)
  } { p => assert(p.get(500L) === Some("APPENDED") && p.size === 25, p) }

  raceTest("upsert", "") { dir =>
    ManifestLake.upsert(spark, dir, rows(("a", 1L, "UPSERTED"), ("a", 501L, "NEW")),
      Seq("grp"), Seq("grp", "id"))
  } { p =>
    assert(p.get(1L) === Some("UPSERTED") && p.get(501L) === Some("NEW") && p.size === 25, p)
  }

  raceTest("merge", "") { dir =>
    ManifestLake.merge(spark, dir, rows(("a", 2L, "MERGED"), ("a", 502L, "NEW")),
      Seq("grp"), Seq("grp", "id"))
  } { p =>
    assert(p.get(2L) === Some("MERGED") && p.get(502L) === Some("NEW") && p.size === 25, p)
  }

  raceTest("replacepart", " (overwritePartitions)") { dir =>
    ManifestLake.overwritePartitions(spark, dir, rows(("a", 503L, "REPLACED")))
  } { p =>
    // partition a is exactly the batch; b's 12 rows carry
    assert(p.get(503L) === Some("REPLACED") && p.size === 13, p)
  }

  raceTest("delete", " (control)") { dir =>
    ManifestLake.delete(spark, dir, col("id") === 1L)
  } { p => assert(!p.contains(1L) && p.size === 23, p) }

  raceTest("update", " (control)") { dir =>
    ManifestLake.update(spark, dir, col("id") === 1L, Map("payload" -> lit("UPDATED")))
  } { p => assert(p.get(1L) === Some("UPDATED") && p.size === 24, p) }

  raceTest("compact", " (control)") { dir =>
    val before = head(dir).files.size
    ManifestLake.compact(spark, dir)
    assert(head(dir).files.size < before)
  } { p => assert(p.size === 24, p) }

  test("each metadata verb changes only the header facts it owns") {
    import spark.implicits._
    val dir = freshDir("carry-verbs")
    ManifestLake.write(spark,
      (0 until 6).map(i => (if (i % 2 == 0) "a" else "b", i.toLong, i.toLong, s"p$i", i, s"s$i", i.toLong))
        .toDF("grp", "id", "n", "payload", "small", "spare", "seq")
        .withColumn("meta", struct(col("small").as("q"))),
      dir, Seq("grp"), statsCols = Seq("n"), bloomCols = Seq("payload"))
    ManifestLake.setTableProperties(spark, dir,
      Map("graft.clusterCols" -> "id", "owner" -> "me"))
    ManifestLake.setComments(spark, dir, table = Some(Some("the table")),
      cols = Map("n" -> Some("a number")))
    ManifestLake.setColumnDefault(spark, dir, "payload", Some("'dflt'"))
    ManifestLake.addConstraint(spark, dir, "id_nonneg", "id >= 0")
    ManifestLake.addGeneratedColumn(spark, dir, "twice", LongType, "id * 2", backfill = true)
    val full = head(dir)
    assert(full.statsColsDefault.nonEmpty && full.bloomCols.nonEmpty &&
      full.clusterCols.nonEmpty && full.extras.nonEmpty && full.defaults.nonEmpty &&
      full.constraints.nonEmpty && full.generated.nonEmpty, facts(full))

    def check(verb: String, owns: Set[String])(run: => Long): Unit = {
      val before = head(dir)
      val vBefore = ManifestLake.currentVersion(spark, dir).get
      assert(run > vBefore, s"$verb published nothing")
      val after = head(dir)
      assert(changed(before, after) === owns, s"$verb: ${facts(before)} -> ${facts(after)}")
    }

    check("addConstraint", Set("constraints")) {
      ManifestLake.addConstraint(spark, dir, "n_nonneg", "n >= 0")
    }
    check("dropConstraint", Set("constraints")) {
      ManifestLake.dropConstraint(spark, dir, "n_nonneg")
    }
    check("setTableProperties", Set("extras")) {
      ManifestLake.setTableProperties(spark, dir, Map("owner" -> "you"))
    }
    check("setComments", Set("extras")) {
      ManifestLake.setComments(spark, dir, table = Some(Some("renamed table")))
    }
    check("setColumnDefault", Set("defaults")) {
      ManifestLake.setColumnDefault(spark, dir, "spare", Some("'x'"))
    }
    check("declareIdentity", Set("identity", "statsColsDefault")) {
      ManifestLake.declareIdentity(spark, dir, "seq")
    }
    check("analyzeStats", Set("statsColsDefault")) {
      ManifestLake.analyzeStats(spark, dir, Seq("id"))
    }
    check("renameColumn", Set("colMap", "defaults")) {
      ManifestLake.renameColumn(spark, dir, "spare", "spare2")
    }
    check("addColumn", Set("schema", "colMap")) {
      ManifestLake.addColumn(spark, dir, "extra1", org.apache.spark.sql.types.StringType)
    }
    check("dropColumn", Set("schema", "colMap", "droppedPhys", "defaults")) {
      ManifestLake.dropColumn(spark, dir, "spare2")
    }
    check("widenColumnType", Set("schema")) {
      ManifestLake.widenColumnType(spark, dir, "small", LongType)
    }
    // the sticky stats set outlives the widen: the next append's file
    // records bounds for `n`
    val beforeAppend = head(dir).files.map(_.path).toSet
    ManifestLake.write(spark,
      Seq(("a", 50L, 50L, "p50", 50L, "e")).toDF("grp", "id", "n", "payload", "small", "extra1")
        .withColumn("meta", struct(lit(5).as("q"))),
      dir, Seq("grp"), replace = false)
    val appended = head(dir).files.filterNot(f => beforeAppend(f.path))
    assert(appended.nonEmpty && appended.forall(_.stats.contains("n")),
      appended.map(_.stats.keySet))
    check("widenColumnType (nested)", Set("schema")) {
      ManifestLake.widenColumnType(spark, dir, "meta.q", LongType)
    }
    val target = ManifestLake.currentVersion(spark, dir).get
    check("addGeneratedColumn", Set("schema", "colMap", "generated")) {
      ManifestLake.addGeneratedColumn(spark, dir, "thrice", LongType, "id * 3", backfill = true)
    }
    // restore owns every fact but the txn ledger and the identity
    // watermark: the rest is the target version's
    val targetM = {
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      ManifestLake.readManifest(fs, root, target)
    }
    ManifestLake.restore(spark, dir, target)
    assert(changed(targetM, head(dir)) -- Set("txns", "identity") === Set.empty)
    assert(head(dir).op === Some("restore"))

    // materialize copies a shallow clone's external files in; the
    // header is the clone's
    val clone = freshDir("carry-clone")
    ManifestLake.shallowClone(spark, dir, clone)
    val cloned = head(clone)
    val vm = ManifestLake.materialize(spark, clone)
    assert(vm === 2L)
    assert(changed(cloned, head(clone)) === Set.empty)
    assert(head(clone).op === Some("materialize"))
  }
}
