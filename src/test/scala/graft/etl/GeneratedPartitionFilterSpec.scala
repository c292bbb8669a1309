package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generated-partition-column filter INFERENCE: a table partitioned by
  * a GENERATED column queried by the BASE column must prune to exactly
  * the derivable partitions — the Delta OptimizeGeneratedColumn idiom.
  * Verified by the executed scan's numFiles metric (plan-shape ground
  * truth, not row counts), with a correctness leg on every pruned
  * query and the sound-skip cases (range filters, null-deriving
  * literals, multi-base expressions) left unpruned.
  */
class GeneratedPartitionFilterSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/table"

  /** Manifest live-file count whose path carries one of the given hive
    * `k=v` partition segments — the exact numFiles a pruned scan of
    * those partitions must read.
    */
  private def filesIn(spark: org.apache.spark.sql.SparkSession, dir: String,
                      segs: Set[String]): Long = {
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files
      .count(f => segs.exists(s => f.path.contains("/" + s + "/"))).toLong
  }

  private def filesRead(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val n = df.collect().length.toLong
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    (n, scan.metrics("numFiles").value)
  }

  test("equality and IN filters on the base column prune generated partitions") {
    import spark.implicits._
    val dir = freshDir("genpart")
    val t = s"`graft-manifest`.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, payload STRING,
         |  bkt STRING GENERATED ALWAYS AS (CAST(id % 4 AS STRING)))
         |USING `graft-manifest` PARTITIONED BY (bkt)""".stripMargin)
    (0 until 80).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
      .createOrReplaceTempView("genpart_src")
    spark.sql(s"INSERT INTO $t (id, payload) SELECT * FROM genpart_src")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val total = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files.length.toLong
    assert(total >= 4, s"need one file per partition at least, got $total")
    val perPart = total / 4
    // equality on the BASE column prunes to ONE partition
    val (n1, f1) = filesRead(
      spark.sql(s"SELECT id, payload FROM $t WHERE id = 42"))
    assert(n1 === 1L)
    assert(f1 <= perPart,
      s"id = 42 must prune to partition bkt=2's files ($f1 of $total read)")
    // literal-first spelling prunes the same way
    val (n1b, f1b) = filesRead(
      spark.sql(s"SELECT id FROM $t WHERE 42 = id"))
    assert(n1b === 1L && f1b <= perPart)
    // IN-list prunes to the union of derived partitions (42%4=2, 43%4=3)
    val (n2, f2) = filesRead(
      spark.sql(s"SELECT id FROM $t WHERE id IN (42, 43)"))
    assert(n2 === 2L)
    assert(f2 <= 2 * perPart, s"IN must prune to two partitions ($f2/$total)")
    // a RANGE filter cannot derive a partition value — sound no-prune
    // (every partition read; correctness intact)
    val (n3, f3) = filesRead(
      spark.sql(s"SELECT id FROM $t WHERE id > 77"))
    assert(n3 === 2L && f3 === total,
      s"range filters must not infer (got $f3 of $total)")
    // combined predicates keep working: base equality AND a data filter
    val (n4, f4) = filesRead(spark.sql(
      s"SELECT id FROM $t WHERE id = 42 AND payload = 'p42'"))
    assert(n4 === 1L && f4 <= perPart)
    // correctness at the partition boundary: every row accounted for
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) === 80L)
  }

  test("timestamp range filters prune CAST(ts AS DATE) generated partitions") {
    import spark.implicits._
    val dir = freshDir("genpart-range")
    val t = s"`graft-manifest`.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (ts TIMESTAMP, payload STRING,
         |  day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))
         |USING `graft-manifest` PARTITIONED BY (day)""".stripMargin)
    // 8 days x 10 rows, hourly-ish spread inside each day
    val rows = for (d <- 0 until 8; h <- 0 until 10)
      yield (java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d ${h * 2}%02d:30:00"),
        s"p$d-$h")
    rows.toDF("ts", "payload").createOrReplaceTempView("genpart_range_src")
    spark.sql(s"INSERT INTO $t (ts, payload) SELECT * FROM genpart_range_src")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val total = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files.length.toLong
    assert(total >= 8, s"need one file per day at least, got $total")
    def days(ds: Int*): Set[String] = ds.map(d => f"day=2024-03-$d%02d").toSet
    // BETWEEN-shaped range spanning exactly two days prunes to them
    val (n1, f1) = filesRead(spark.sql(
      s"""SELECT ts, payload FROM $t
         |WHERE ts >= TIMESTAMP '2024-03-03 00:00:00'
         |  AND ts < TIMESTAMP '2024-03-05 00:00:00'""".stripMargin))
    assert(n1 === 20L)
    assert(f1 === filesIn(spark, dir, days(3, 4)),
      s"a two-day ts range must prune to exactly days 03+04 ($f1 of $total)")
    // closed single-day range prunes to one day
    val (n2, f2) = filesRead(spark.sql(
      s"""SELECT ts FROM $t
         |WHERE ts >= TIMESTAMP '2024-03-03 00:00:00'
         |  AND ts <= TIMESTAMP '2024-03-03 23:59:59'""".stripMargin))
    assert(n2 === 10L && f2 === filesIn(spark, dir, days(3)),
      s"one-day range read $f2 of $total")
    // one-sided strict bound: ts > 23:59:59 tightens to 23:59:59.000001,
    // still day 03-06 — the boundary day stays readable
    val (n3, f3) = filesRead(spark.sql(
      s"SELECT ts FROM $t WHERE ts > TIMESTAMP '2024-03-06 23:59:59'"))
    assert(n3 === 20L)
    assert(f3 === filesIn(spark, dir, days(6, 7, 8)),
      s"an open lower bound keeps only days >= f(lo) ($f3 of $total)")
    // correctness: full count intact
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) === 80L)
  }

  test("floor-division bucket partitions prune under base-column ranges") {
    import spark.implicits._
    val dir = freshDir("genpart-floor")
    val t = s"`graft-manifest`.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, payload STRING,
         |  bkt BIGINT GENERATED ALWAYS AS (FLOOR(id / 20)))
         |USING `graft-manifest` PARTITIONED BY (bkt)""".stripMargin)
    (0 until 100).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
      .createOrReplaceTempView("genpart_floor_src")
    spark.sql(s"INSERT INTO $t (id, payload) SELECT * FROM genpart_floor_src")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val total = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files.length.toLong
    val (n, f) = filesRead(
      spark.sql(s"SELECT id FROM $t WHERE id >= 45 AND id < 62"))
    assert(n === 17L)
    assert(f === filesIn(spark, dir, Set("bkt=2", "bkt=3")),
      s"id in [45,62) lives in buckets 2..3 only ($f of $total read)")
    // strict bounds land exactly on bucket edges: id > 59 AND id < 80
    // tightens to [60, 79] before f applies — floor(60/20)=3,
    // floor(79/20)=3 — so EXACTLY bucket 3 is read
    val (n2, f2) = filesRead(
      spark.sql(s"SELECT id FROM $t WHERE id > 59 AND id < 80"))
    assert(n2 === 20L && f2 === filesIn(spark, dir, Set("bkt=3")))
  }

  test("a STRING day partition generated from CAST(ts AS DATE) prunes ranges (ISO order)") {
    import spark.implicits._
    val dir = freshDir("genpart-strday")
    val t = s"`graft-manifest`.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (ts TIMESTAMP, v BIGINT,
         |  day STRING GENERATED ALWAYS AS (CAST(CAST(ts AS DATE) AS STRING)))
         |USING `graft-manifest` PARTITIONED BY (day)""".stripMargin)
    val rows = for (d <- 0 until 6; h <- 0 until 5)
      yield (java.sql.Timestamp.valueOf(f"2024-11-${d + 8}%02d 0$h:00:00"), (d * 5 + h).toLong)
    rows.toDF("ts", "v").createOrReplaceTempView("genpart_strday_src")
    spark.sql(s"INSERT INTO $t (ts, v) SELECT * FROM genpart_strday_src")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val total = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files.length.toLong
    val (n, f) = filesRead(spark.sql(
      s"""SELECT v FROM $t WHERE ts >= TIMESTAMP '2024-11-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-11-12 00:00:00'""".stripMargin))
    assert(n === 10L)
    assert(f === filesIn(spark, dir, Set("day=2024-11-10", "day=2024-11-11")),
      s"ISO string day order must prune the ts range ($f of $total)")
  }

  test("timezone pin: tz-sensitive generation refuses mismatched writes; inference disengages, correctness holds") {
    import spark.implicits._
    val dir = freshDir("genpart-tz")
    val t = s"`graft-manifest`.`$dir`"
    val declaredTz = spark.conf.get("spark.sql.session.timeZone")
    spark.sql(
      s"""CREATE TABLE $t (ts TIMESTAMP, v BIGINT,
         |  day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))
         |USING `graft-manifest` PARTITIONED BY (day)""".stripMargin)
    val rows = for (d <- 0 until 4; h <- 0 until 4)
      yield (java.sql.Timestamp.valueOf(f"2024-06-${d + 1}%02d 0$h:00:00"),
        (d * 4 + h).toLong)
    rows.toDF("ts", "v").createOrReplaceTempView("genpart_tz_src")
    spark.sql(s"INSERT INTO $t (ts, v) SELECT * FROM genpart_tz_src")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val total = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files.length.toLong
    val rangeSql =
      s"""SELECT v FROM $t WHERE ts >= TIMESTAMP '2024-06-02 00:00:00'
         |  AND ts < TIMESTAMP '2024-06-04 00:00:00'""".stripMargin
    // same-zone reader: inference prunes to the two spanned days
    val (n0, f0) = filesRead(spark.sql(rangeSql))
    assert(n0 === 8L && f0 === filesIn(spark, dir,
      Set("day=2024-06-02", "day=2024-06-03")))
    val otherTz =
      if (declaredTz == "America/New_York") "UTC" else "America/New_York"
    spark.conf.set("spark.sql.session.timeZone", otherTz)
    try {
      // a WRITE under another zone refuses typed — CAST(ts AS DATE) is
      // a different function there and would fork the layout silently
      val e = intercept[Exception] {
        ManifestLake.write(spark,
          Seq((java.sql.Timestamp.valueOf("2024-06-09 01:00:00"), 99L))
            .toDF("ts", "v"), dir, Seq("day"), replace = false)
      }
      assert(e.getMessage.contains("timezone") &&
        e.getMessage.contains(declaredTz), e.getMessage)
      // a READ under another zone stays CORRECT: inference disengages
      // (every file read) instead of deriving a wrong row predicate.
      // NOTE the timestamp literals themselves re-resolve in the new
      // zone, so the matching ROW SET shifts — what must hold is that
      // the result equals the unpruned ground truth, not n0.
      val (nTz, fTz) = filesRead(spark.sql(rangeSql))
      assert(fTz === total,
        s"a mismatched-zone reader must scan unpruned ($fTz of $total)")
      val truth = spark.sql(
        s"""SELECT v FROM (SELECT ts, v FROM $t)
           |WHERE ts >= TIMESTAMP '2024-06-02 00:00:00'
           |  AND ts < TIMESTAMP '2024-06-04 00:00:00'""".stripMargin)
        .collect().length.toLong
      assert(nTz === truth)
    } finally spark.conf.set("spark.sql.session.timeZone", declaredTz)
    // back in the declared zone: writes land, inference re-engages
    ManifestLake.write(spark,
      Seq((java.sql.Timestamp.valueOf("2024-06-09 01:00:00"), 99L))
        .toDF("ts", "v"), dir, Seq("day"), replace = false)
    val (n2, f2) = filesRead(spark.sql(rangeSql))
    assert(n2 === 8L && f2 === filesIn(spark, dir,
      Set("day=2024-06-02", "day=2024-06-03")))
  }

  test("non-monotone shapes never prune ranges: numeric-as-string and modulo buckets") {
    import spark.implicits._
    val dir = freshDir("genpart-nomono")
    val t = s"`graft-manifest`.`$dir`"
    // floor-bucket stored as STRING: "10" < "9" breaks order — range
    // inference must stay off even though floor(x/N) is monotone
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT,
         |  bkt STRING GENERATED ALWAYS AS (CAST(FLOOR(id / 10) AS STRING)))
         |USING `graft-manifest` PARTITIONED BY (bkt)""".stripMargin)
    (0 until 120).map(_.toLong).toDF("id")
      .createOrReplaceTempView("genpart_nomono_src")
    spark.sql(s"INSERT INTO $t (id) SELECT * FROM genpart_nomono_src")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val total = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files.length.toLong
    val (n, f) = filesRead(
      spark.sql(s"SELECT id FROM $t WHERE id >= 95 AND id < 105"))
    assert(n === 10L && f === total,
      s"a numeric bucket stored as STRING must not range-prune ($f of $total)")
    // equality inference still works on the same table
    val (ne, fe) = filesRead(spark.sql(s"SELECT id FROM $t WHERE id = 97"))
    assert(ne === 1L && fe < total)
  }

  test("sound skips: multi-base expressions and filters on other columns never prune") {
    import spark.implicits._
    val dir = freshDir("genpart-skip")
    val t = s"`graft-manifest`.`$dir`"
    // two-base generated partition column: inference must stay OFF
    spark.sql(
      s"""CREATE TABLE $t (a BIGINT, b BIGINT,
         |  bkt STRING GENERATED ALWAYS AS (CAST((a + b) % 2 AS STRING)))
         |USING `graft-manifest` PARTITIONED BY (bkt)""".stripMargin)
    val rows = (0 until 40).map(i => (i.toLong, (i % 3).toLong))
    rows.toDF("a", "b").createOrReplaceTempView("genpart_skip_src")
    spark.sql(s"INSERT INTO $t (a, b) SELECT * FROM genpart_skip_src")
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val total = ManifestLake.readManifest(fs, root,
      ManifestLake.currentVersion(spark, dir).get).files.length.toLong
    val (n, f) = filesRead(spark.sql(s"SELECT a FROM $t WHERE a = 7"))
    assert(n === 1L && f === total,
      s"a multi-base generated expression must not infer ($f of $total)")
    // explicit partition predicates still prune as before
    val expect0 = rows.count { case (a, b) => (a + b) % 2 == 0 }.toLong
    val (np, fp) = filesRead(
      spark.sql(s"SELECT a FROM $t WHERE bkt = '0'"))
    assert(np === expect0 && fp < total)
  }

  test("a filtered readChanges prunes generated partitions like a table read") {
    import spark.implicits._
    val dir = freshDir("genpart-changes")
    val t = s"`graft-manifest`.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, payload STRING,
         |  bkt STRING GENERATED ALWAYS AS (CAST(id % 4 AS STRING)))
         |USING `graft-manifest` PARTITIONED BY (bkt)""".stripMargin)
    val created = ManifestLake.currentVersion(spark, dir).getOrElse(0L)
    (0 until 80).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
      .createOrReplaceTempView("genpart_changes_src")
    spark.sql(s"INSERT INTO $t (id, payload) SELECT * FROM genpart_changes_src")
    spark.sql(s"INSERT INTO $t (id, payload) SELECT id + 80, payload FROM genpart_changes_src")
    val head = ManifestLake.currentVersion(spark, dir).get
    val (n, f) = filesRead(ManifestLake.readChanges(spark, dir, created, head)
      .where(col("id") === 42L))
    val pruned = filesIn(spark, dir, Set("bkt=2"))
    assert(n === 1L)
    assert(f <= pruned, s"id = 42 must prune the change feed to bkt=2 ($f read, $pruned there)")
  }
}
