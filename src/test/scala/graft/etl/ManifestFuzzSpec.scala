package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded fuzz over the manifest lifecycle ACROSS CHAIN BOUNDARIES:
  * a randomized interleaving of append / upsert / row delete / DV
  * delete / compact / restore / vacuum / ANALYZE / dynamic partition
  * overwrite / static-prefix overwrite / clause MERGE under a tight
  * checkpoint cadence (3), with a driver-side model tracking the
  * expected content of EVERY published version. Invariants after
  * every op and at the end:
  *   - the head read always equals the model;
  *   - every version vacuum retained reads back exactly its recorded
  *     content (delta chains resolve through retained bases; DV masks,
  *     change files, and blooms stay honest with their versions);
  *   - restore reproduces the target version's content bit-for-bit
  *     even when the target sits mid-chain.
  *
  * The happy-path cadence/retention pins live in ManifestDeltaSpec;
  * this spec exists to catch interleavings nobody thought to write.
  */
class ManifestFuzzSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def runFuzz(seed: Long, steps: Int): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"mlake-fuzz-$seed").toString + "/table"
    val (fs, root) = ManifestLake.fsFor(spark, dir)
    val rnd = new scala.util.Random(seed)
    val prevInterval = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 3
    try {
      // model: key -> payload (keys are (part, id)); history: version ->
      // full content snapshot
      var model = Map.empty[(String, Long), String]
      val history = scala.collection.mutable.Map.empty[Long, Map[(String, Long), String]]
      var nextId = 0L
      def df(rows: Seq[((String, Long), String)]) =
        rows.map { case ((p, k), v) => (p, k, v) }.toDF("part", "id", "payload")
      def record(): Unit = {
        val v = ManifestLake.currentVersion(spark, dir).get
        history(v) = model
      }
      // every commit publishes the one manifest form: a gzipped
      // v<N>.list.gz whose header records the schema
      def assertOneFormat(v: Long, at: String): Unit = {
        val names = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_manifest"))
          .map(_.getPath.getName).toSet
        assert(names.contains(f"v$v%06d.list.gz") && !names.contains(f"v$v%06d.list"),
          s"$at: v$v is not published as v<N>.list.gz")
        assert(ForeignManifests.lines(fs, root, v).exists(_.startsWith("#schema\t")),
          s"$at: v$v carries no #schema header")
      }
      def readNow(v: Option[Long] = None) = {
        val d = v.map(ManifestLake.readVersion(spark, dir, _))
          .getOrElse(ManifestLake.read(spark, dir))
        d.collect().map(r =>
          (r.getAs[String]("part"), r.getAs[Long]("id")) ->
            r.getAs[String]("payload")).toMap
      }
      // v1: seed
      val seedRows = (0 until 12).map { i =>
        val key = (s"p${i % 3}", nextId); nextId += 1
        key -> s"s$i"
      }
      ManifestLake.write(spark, df(seedRows), dir, Seq("part"),
        statsCols = Seq("id"))
      model = seedRows.toMap
      record()
      assertOneFormat(1L, s"seed=$seed seed write")

      // the change feed of commit v, replayed onto the model at v-1:
      // delete/update_preimage rows leave (each must be a row the model
      // held), insert/update_postimage rows arrive
      def replayFeed(v: Long): Map[(String, Long), String] = {
        val feed = ManifestLake.readChangeFeed(spark, dir, v - 1, v).collect()
          .map(r => (r.getAs[String]("_change_type"),
            (r.getAs[String]("part"), r.getAs[Long]("id")) -> r.getAs[String]("payload")))
        val gone = feed.collect { case (t, kv) if t == "delete" || t == "update_preimage" => kv }
        val added = feed.collect { case (t, kv) if t == "insert" || t == "update_postimage" => kv }
        assert(feed.length === gone.length + added.length, s"v$v: unknown change types")
        gone.foreach { case (k, p) =>
          assert(history(v - 1).get(k).contains(p), s"v$v: feed removes a row v${v - 1} lacks: $k")
        }
        assert(gone.map(_._1).distinct.length === gone.length, s"v$v: a row leaves twice")
        history(v - 1) -- gone.map(_._1) ++ added
      }
      // the ops whose commits change rows and stamp or derive a feed
      val dataOps = Set(0, 1, 2, 3, 4, 5, 6, 11, 12, 13)

      (1 to steps).foreach { step =>
        val headBefore = ManifestLake.currentVersion(spark, dir).get
        val op = rnd.nextInt(14)
        op match {
          case 0 | 1 | 2 => // append fresh keys
            val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
              val key = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              key -> s"a$step"
            }
            ManifestLake.write(spark, df(rows), dir, Seq("part"),
              replace = false, statsCols = Seq("id"))
            model = model ++ rows
            record()
          case 3 | 4 => // upsert: update an existing key + insert a new one
            val upd = if (model.isEmpty) Seq.empty
              else Seq(model.keys.toSeq.sortBy(_._2)
                .apply(rnd.nextInt(model.size)) -> s"u$step")
            val ins = { val key = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              Seq(key -> s"n$step") }
            val rows = upd ++ ins
            ManifestLake.upsert(spark, dir, df(rows), Seq("part"), Seq("part", "id"))
            model = model ++ rows
            record()
          case 5 => // row delete (rewrite path when it references data)
            val r = rnd.nextInt(7)
            ManifestLake.delete(spark, dir, pmod(col("id"), lit(7L)) === r)
            model = model.filterNot { case ((_, id), _) => id % 7 == r }
            record()
          case 6 => // DV delete
            val r = rnd.nextInt(5)
            ManifestLake.delete(spark, dir, pmod(col("id"), lit(5L)) === r,
              deletionVectors = true)
            model = model.filterNot { case ((_, id), _) => id % 5 == r }
            record()
          case 7 => // compact (content no-op, layout op; may publish)
            val before = ManifestLake.currentVersion(spark, dir).get
            ManifestLake.compact(spark, dir, targetBytes = 1L << 20)
            if (ManifestLake.currentVersion(spark, dir).get != before) record()
          case 8 => // restore to a random still-existing version
            val vs = ManifestLake.versions(spark, dir).map(_._1)
            val target = vs(rnd.nextInt(vs.size))
            ManifestLake.restore(spark, dir, target)
            model = history(target)
            record()
          case 9 => // vacuum with a small keep window
            val keep = 2 + rnd.nextInt(3)
            ManifestLake.vacuum(spark, dir, keepVersions = keep,
              stagedGraceMs = 0L)
          case 10 => // ANALYZE backfill (metadata-only; content no-op)
            val before = ManifestLake.currentVersion(spark, dir).get
            ManifestLake.analyzeStats(spark, dir, Seq("id", "payload"))
            if (ManifestLake.currentVersion(spark, dir).get != before) record()
          case 11 => // dynamic partition overwrite: the batch's partition swaps
            val p = s"p${rnd.nextInt(3)}"
            val rows = (0 until (1 + rnd.nextInt(2))).map { _ =>
              val key = (p, nextId); nextId += 1
              key -> s"o$step"
            }
            ManifestLake.overwritePartitions(spark, dir, df(rows))
            model = model.filterNot(_._1._1 == p) ++ rows
            record()
          case 12 => // static-prefix overwrite: the WHOLE prefix clears,
            // including via an empty batch
            val p = s"p${rnd.nextInt(3)}"
            val rows = (0 until rnd.nextInt(2)).map { _ =>
              val key = (p, nextId); nextId += 1
              key -> s"w$step"
            }
            val before = ManifestLake.currentVersion(spark, dir).get
            ManifestLake.overwritePartitions(spark, dir, df(rows),
              staticPrefix = Seq("part" -> p))
            model = model.filterNot(_._1._1 == p) ++ rows
            if (ManifestLake.currentVersion(spark, dir).get != before) record()
          case 13 => // clause MERGE: delete one key, update another, insert one
            val keys = model.keys.toSeq.sortBy(_._2)
            if (keys.size >= 2) {
              val delKey = keys(rnd.nextInt(keys.size))
              val updC = keys.filterNot(_ == delKey)
              val updKey = updC(rnd.nextInt(updC.size))
              val newKey = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              val src = Seq(
                (delKey._1, delKey._2, "", true),
                (updKey._1, updKey._2, s"m$step", false),
                (newKey._1, newKey._2, s"mi$step", false))
                .toDF("part", "id", "payload", "del")
              ManifestLake.mergeClauses(spark, dir, src, Seq("part"),
                Seq("part", "id"),
                matched = Seq(
                  ManifestLake.MergeDelete(Some(col("s.del"))),
                  ManifestLake.MergeUpdate(None, None)),
                notMatched = Seq(ManifestLake.MergeInsert(Some(!col("s.del")), None)))
              model = model - delKey + (updKey -> s"m$step") + (newKey -> s"mi$step")
              record()
            }
        }
        // invariant 1: the head always equals the model
        assert(readNow() === model,
          s"seed=$seed step=$step op=$op: head diverged from the model")
        val headAfter = ManifestLake.currentVersion(spark, dir).get
        ((headBefore + 1) to headAfter).foreach(v =>
          assertOneFormat(v, s"seed=$seed step=$step op=$op"))
        // invariant 2: a data commit's change feed replays the model
        if (dataOps(op) && headAfter == headBefore + 1)
          assert(replayFeed(headAfter) === model,
            s"seed=$seed step=$step op=$op: v$headAfter's change feed does not replay v$headBefore")
      }
      // invariant 3: every surviving version reads back exactly its
      // recorded content — chains, masks, and sidecars stayed honest
      // through every vacuum/restore boundary
      val survivors = ManifestLake.versions(spark, dir).map(_._1)
      assert(survivors.nonEmpty)
      survivors.foreach { v =>
        history.get(v).foreach { expect =>
          assert(readNow(Some(v)) === expect,
            s"seed=$seed: surviving v$v diverged from its recorded content")
        }
      }
    } finally ManifestLake.CheckpointInterval = prevInterval
  }

  /** The SAME lifecycle fuzz driven through PURE SQL — every op is a
    * `spark.sql` statement (INSERT INTO / MERGE INTO / DELETE /
    * INSERT OVERWRITE PARTITION / OPTIMIZE / RESTORE / VACUUM /
    * ANALYZE), so a randomized interleaving certifies the SQL
    * dispatch is semantically identical to the Scala API under the
    * same per-version content model.
    */
  private def runSqlFuzz(seed: Long, steps: Int, opMax: Int = 9): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"mlake-sqlfuzz-$seed").toString + "/table"
    val t = s"`graft-manifest`.`$dir`"
    val rnd = new scala.util.Random(seed)
    val prevInterval = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 3
    try {
      var model = Map.empty[(String, Long), String]
      val history = scala.collection.mutable.Map.empty[Long, Map[(String, Long), String]]
      var nextId = 0L
      def record(): Unit = {
        val v = ManifestLake.currentVersion(spark, dir).get
        history(v) = model
      }
      def readNow(v: Option[Long] = None) = {
        val d = v.map(ManifestLake.readVersion(spark, dir, _))
          .getOrElse(ManifestLake.read(spark, dir))
        d.collect().map(r =>
          (r.getAs[String]("part"), r.getAs[Long]("id")) ->
            r.getAs[String]("payload")).toMap
      }
      def values(rows: Seq[((String, Long), String)]): String =
        rows.map { case ((p, k), v) => s"('$p', $k, '$v')" }.mkString(", ")
      spark.sql(s"CREATE TABLE $t (part STRING, id BIGINT, payload STRING) " +
        s"USING `graft-manifest` PARTITIONED BY (part) " +
        s"TBLPROPERTIES ('graft.statsCols' = 'id')")
      val seedRows = (0 until 12).map { i =>
        val key = (s"p${i % 3}", nextId); nextId += 1
        key -> s"s$i"
      }
      spark.sql(s"INSERT INTO $t VALUES ${values(seedRows)}")
      model = seedRows.toMap
      record()

      // (headBefore, headAfter) of every CDC-stamping content op — the
      // windows the table_changes cross-check (op 10) replays
      val cdcPairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      (1 to steps).foreach { step =>
        val headBefore = ManifestLake.currentVersion(spark, dir).get
        val op = rnd.nextInt(opMax)
        op match {
          case 0 | 1 => // INSERT INTO fresh keys
            val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
              val key = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              key -> s"a$step"
            }
            spark.sql(s"INSERT INTO $t VALUES ${values(rows)}")
            model = model ++ rows
            record()
          case 2 | 3 => // MERGE: update one key, delete another, insert one
            val keys = model.keys.toSeq.sortBy(_._2)
            if (keys.size >= 2) {
              val delKey = keys(rnd.nextInt(keys.size))
              val updC = keys.filterNot(_ == delKey)
              val updKey = updC(rnd.nextInt(updC.size))
              val newKey = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              Seq((delKey._1, delKey._2, "", true),
                (updKey._1, updKey._2, s"m$step", false),
                (newKey._1, newKey._2, s"mi$step", false))
                .toDF("part", "id", "payload", "del")
                .createOrReplaceTempView("sqlfuzz_src")
              spark.sql(
                s"""MERGE INTO $t x USING sqlfuzz_src s
                   |ON x.part = s.part AND x.id = s.id
                   |WHEN MATCHED AND s.del THEN DELETE
                   |WHEN MATCHED THEN UPDATE SET payload = s.payload
                   |WHEN NOT MATCHED AND NOT s.del THEN
                   |  INSERT (part, id, payload) VALUES (s.part, s.id, s.payload)
                   |""".stripMargin)
              model = model - delKey + (updKey -> s"m$step") + (newKey -> s"mi$step")
              record()
            }
          case 4 => // DELETE WHERE
            val r = rnd.nextInt(7)
            spark.sql(s"DELETE FROM $t WHERE id % 7 = $r")
            model = model.filterNot { case ((_, id), _) => id % 7 == r }
            record()
          case 5 => // INSERT OVERWRITE a static partition (clears + rewrites)
            val p = s"p${rnd.nextInt(3)}"
            val rows = (0 until (1 + rnd.nextInt(2))).map { _ =>
              val key = (p, nextId); nextId += 1
              key -> s"w$step"
            }
            spark.sql(s"INSERT OVERWRITE $t PARTITION (part='$p') VALUES " +
              rows.map { case ((_, k), v) => s"($k, '$v')" }.mkString(", "))
            model = model.filterNot(_._1._1 == p) ++ rows
            record()
          case 6 => // OPTIMIZE (content no-op; may publish)
            val before = ManifestLake.currentVersion(spark, dir).get
            spark.sql(s"OPTIMIZE $t").collect()
            if (ManifestLake.currentVersion(spark, dir).get != before) record()
          case 7 => // RESTORE to a random surviving version
            val vs = ManifestLake.versions(spark, dir).map(_._1)
            val target = vs(rnd.nextInt(vs.size))
            spark.sql(s"RESTORE TABLE $t TO VERSION AS OF $target").collect()
            model = history(target)
            record()
          case 8 => // VACUUM / ANALYZE (metadata ops)
            if (rnd.nextBoolean()) {
              spark.sql(s"VACUUM $t KEEP ${2 + rnd.nextInt(3)} VERSIONS").collect()
            } else {
              val before = ManifestLake.currentVersion(spark, dir).get
              spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS " +
                "FOR COLUMNS id, payload").collect()
              if (ManifestLake.currentVersion(spark, dir).get != before) record()
            }
          case 9 => // SQL UPDATE (r17 mix)
            val r = rnd.nextInt(5)
            spark.sql(s"UPDATE $t SET payload = concat(payload, '!u$step') " +
              s"WHERE id % 5 = $r")
            model = model.map { case (k @ (_, id), v) =>
              k -> (if (id % 5 == r) s"$v!u$step" else v) }
            if (ManifestLake.currentVersion(spark, dir).get != headBefore)
              record()
          case 10 => // table_changes cross-check against the model diff
            val vs = ManifestLake.versions(spark, dir).map(_._1).toSet
            val eligible = cdcPairs.filter { case (a, b) =>
              a < b && history.contains(a) && history.contains(b) &&
                (a to b).forall(vs.contains)
            }
            if (eligible.nonEmpty) {
              val (a, b) = eligible(rnd.nextInt(eligible.size))
              val aM = history(a); val bM = history(b)
              val feed = spark.sql(
                s"SELECT * FROM table_changes('$dir', ${a + 1}, $b)")
                .collect().map(r => (r.getAs[String]("_change_type"),
                  r.getAs[String]("part"), r.getAs[Long]("id"),
                  r.getAs[String]("payload"))).toSet
              val expected =
                (bM.keySet -- aM.keySet).map(k => ("insert", k._1, k._2, bM(k))) ++
                (aM.keySet -- bM.keySet).map(k => ("delete", k._1, k._2, aM(k))) ++
                (aM.keySet & bM.keySet).filter(k => aM(k) != bM(k)).flatMap(k =>
                  Seq(("update_preimage", k._1, k._2, aM(k)),
                    ("update_postimage", k._1, k._2, bM(k))))
              assert(feed === expected,
                s"seed=$seed step=$step: table_changes(${a + 1}, $b) diverged " +
                  s"from the model diff")
            }
          case 11 => // SET/UNSET TBLPROPERTIES flips live table facts
            if (rnd.nextBoolean())
              spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
                "('graft.bloomCols' = 'payload')").collect()
            else
              spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES IF EXISTS " +
                "('graft.bloomCols')").collect()
          case 12 => // ADD then DROP a column: schema commits + column
            // mapping machinery inside the lifecycle (net-neutral shape
            // so positional INSERTs keep working); a re-add after a
            // drop mints a fresh physical name
            spark.sql(s"ALTER TABLE $t ADD COLUMNS (note$step STRING)").collect()
            spark.sql(s"ALTER TABLE $t DROP COLUMN note$step").collect()
          case 13 => // read-only maintenance surface stays coherent
            val ddl = spark.sql(s"SHOW CREATE TABLE $t").head().getString(0)
            assert(ddl.contains("CREATE TABLE") && ddl.contains("part"))
            assert(spark.sql(s"DESCRIBE DETAIL $t").collect().length === 1)
            assert(spark.sql(s"DESCRIBE HISTORY $t LIMIT 3").collect().nonEmpty)
        }
        val headAfter = ManifestLake.currentVersion(spark, dir).get
        if ((op <= 5 || op == 9) && headAfter > headBefore)
          cdcPairs += ((headBefore, headAfter))
        assert(readNow() === model,
          s"seed=$seed step=$step op=$op: SQL-driven head diverged from the model")
      }
      val survivors = ManifestLake.versions(spark, dir).map(_._1)
      assert(survivors.nonEmpty)
      survivors.foreach { v =>
        history.get(v).foreach { expect =>
          assert(readNow(Some(v)) === expect,
            s"seed=$seed: surviving v$v diverged (SQL-driven)")
        }
      }
    } finally ManifestLake.CheckpointInterval = prevInterval
  }

  test("fuzz seed 0xC0FFEE: 30 random lifecycle ops stay readable and hash-stable at every surviving version") {
    runFuzz(0xC0FFEE, 30)
  }

  test("fuzz seed 0x5EED: 30 random lifecycle ops stay readable and hash-stable at every surviving version") {
    runFuzz(0x5EED, 30)
  }

  test("fuzz seed 0xBEEF16: 40 random lifecycle ops incl. partition overwrites and clause merges") {
    runFuzz(0xBEEF16, 40)
  }

  test("SQL-driven fuzz seed 0x16A: 30 lifecycle ops through pure spark.sql stay model-exact") {
    runSqlFuzz(0x16A, 30)
  }

  test("SQL-driven fuzz seed 0xACE: 35 lifecycle ops through pure spark.sql stay model-exact") {
    runSqlFuzz(0xACE, 35)
  }

  test("SQL-driven fuzz seed 0xD17: 40 ops incl. UPDATE, table_changes model-diff cross-checks, TBLPROPERTIES flips, ADD/DROP COLUMN, SHOW CREATE/DETAIL") {
    runSqlFuzz(0xD17, 40, opMax = 14)
  }

  /** FUZZ SEED 4 — CONCURRENT INTERLEAVINGS: every round launches TWO
    * racing sessions over the op mix (append / upsert / delete /
    * DV-delete / compact / restore / properties / analyze) on a start
    * barrier, and the driver-side model accepts EITHER serialization:
    * each op carries a composable model function, and the head after
    * the round must equal fnB(fnA(m)) or fnA(fnB(m)) when both
    * committed, the winner's effect alone when one lost (losing is
    * legal ONLY with the engine's typed contention/conflict error —
    * the table intact at the winner's version), and the unchanged
    * model when both lost. This hunts the races the targeted
    * concurrency specs didn't think of: any torn state, silent
    * half-application, or untyped failure fails the round loudly.
    */
  private def runRaceFuzz(seed: Long, rounds: Int,
                          extendedMix: Boolean = false,
                          cdcConsumer: Boolean = false,
                          autoCompact: Boolean = false): Unit = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory(s"mlake-racefuzz-$seed").toString + "/table"
    val rnd = new scala.util.Random(seed)
    val prevInterval = ManifestLake.CheckpointInterval
    ManifestLake.CheckpointInterval = 3
    try {
      type Model = Map[(String, Long), String]
      var model: Model = Map.empty
      val history = scala.collection.mutable.Map.empty[Long, Model]
      var nextId = 0L
      def df(rows: Seq[((String, Long), String)]) =
        rows.map { case ((p, k), v) => (p, k, v) }.toDF("part", "id", "payload")
      def readNow(v: Option[Long] = None): Model = {
        val d = v.map(ManifestLake.readVersion(spark, dir, _))
          .getOrElse(ManifestLake.read(spark, dir))
        d.collect().map(r =>
          (r.getAs[String]("part"), r.getAs[Long]("id")) ->
            r.getAs[String]("payload")).toMap
      }
      val seedRows = (0 until 12).map { i =>
        val key = (s"p${i % 3}", nextId); nextId += 1
        key -> s"s$i"
      }
      ManifestLake.write(spark, df(seedRows), dir, Seq("part"),
        statsCols = Seq("id"))
      model = seedRows.toMap
      history(1L) = model
      // the auto-compact variant: every fuzz append is tiny, so the
      // write-time pack fires CONSTANTLY as follow-on commits racing
      // the second session's op — the exact interleaving class the
      // r19 compact-vs-DV-delete race lived in, now drawn dozens of
      // times per seed. Packs are content no-ops, so every model
      // assertion (and the CDC consumer's replay, when combined)
      // must hold unchanged.
      if (autoCompact)
        ManifestLake.setTableProperties(spark, dir, set = Map(
          "graft.autoCompact.targetFileBytes" -> (1L << 20).toString,
          "graft.autoCompact.minNumFiles" -> "3")): Unit
      // losing a race is legal ONLY through the engine's typed vocabulary
      def typedRaceError(e: Throwable): Boolean = {
        val m = Option(e.getMessage).getOrElse("") +
          Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
        m.contains("race") || m.contains("contention") ||
          m.contains("serialize committers") || m.contains("intact")
      }
      // explicit op-mix compacts that actually PUBLISHED (a non-empty
      // rewrite report = one commit; most draws no-op on an
      // already-packed table), so the auto-compact variant's
      // non-vacuity bar can attribute the remaining compact commits
      // to the write-time packs. Atomic: two racing compacts may both
      // publish.
      val explicitCompactCommits = new java.util.concurrent.atomic.AtomicInteger
      // one racing op: the engine action plus its composable model fn
      def mkOp(step: Int, tag: String): (String, () => Unit, Model => Model) = {
        val draw0 = rnd.nextInt(if (extendedMix) 12 else 9)
        // the CDC-consumer variant draws only feed-compatible verbs:
        // replace and restore END a change-feed stream typed (the
        // documented contract — they have no row-level diff), so the
        // consumer-side fuzz swaps restore for analyze; everything
        // else (append/upsert/delete/DV-delete/compact/properties)
        // must flow through the live consumer exactly once
        val draw = if (cdcConsumer && draw0 == 6) 8 else draw0
        draw match {
          case 9 => // REPLACE wholesale — the strongest writer
            val rows = (0 until (2 + rnd.nextInt(3))).map { _ =>
              val key = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              key -> s"r$step$tag"
            }
            ("replace", () => ManifestLake.write(spark, df(rows), dir,
              Seq("part"), replace = true, statsCols = Seq("id")): Unit,
              _ => rows.toMap)
          case 10 => // clone OUT of the racing table — content no-op on
            // it; deep clones also race the distributed copy against
            // whatever the other session is committing
            val tgt = Files.createTempDirectory(s"mlake-racefuzz-clone-$seed")
              .toString + "/t"
            val deep = rnd.nextBoolean()
            (if (deep) "deep-clone" else "clone",
              () => {
                if (deep) ManifestLake.deepClone(spark, dir, tgt)
                else ManifestLake.shallowClone(spark, dir, tgt)
                // whichever version the clone pinned, it must READ —
                // a torn pin would fail here loudly
                ManifestLake.read(spark, tgt).count(): Unit
              }, m => m)
          case 11 => // fsck / materialize — metadata no-ops on a healthy
            // local table, racing real committers
            if (rnd.nextBoolean())
              ("fsck", () => ManifestLake.fsck(spark, dir): Unit, m => m)
            else
              ("materialize", () => ManifestLake.materialize(spark, dir): Unit,
                m => m)
          case 0 | 1 => // append fresh keys
            val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
              val key = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              key -> s"a$step$tag"
            }
            ("append", () => ManifestLake.write(spark, df(rows), dir,
              Seq("part"), replace = false, statsCols = Seq("id")): Unit,
              m => m ++ rows)
          case 2 => // upsert: update a pre-round key + insert a new one
            val upd = if (model.isEmpty) Seq.empty
              else Seq(model.keys.toSeq.sortBy(_._2)
                .apply(rnd.nextInt(model.size)) -> s"u$step$tag")
            val ins = { val key = (s"p${rnd.nextInt(3)}", nextId); nextId += 1
              Seq(key -> s"n$step$tag") }
            val rows = upd ++ ins
            ("upsert", () => ManifestLake.upsert(spark, dir, df(rows),
              Seq("part"), Seq("part", "id")): Unit,
              m => m ++ rows)
          case 3 => // row delete (rewrite path)
            val r = rnd.nextInt(7)
            ("delete", () => ManifestLake.delete(spark, dir,
              pmod(col("id"), lit(7L)) === r): Unit,
              m => m.filterNot { case ((_, id), _) => id % 7 == r })
          case 4 => // DV delete
            val r = rnd.nextInt(5)
            ("dv-delete", () => ManifestLake.delete(spark, dir,
              pmod(col("id"), lit(5L)) === r, deletionVectors = true): Unit,
              m => m.filterNot { case ((_, id), _) => id % 5 == r })
          case 5 => // compact — content no-op; the extended mix also
            // draws the FULL (re-cluster everything) and PURGE-only
            // (materialize DV masks) modes, racing the same rebase
            val mode = if (extendedMix) rnd.nextInt(3) else 0
            (if (mode == 1) "compact-full"
             else if (mode == 2) "reorg-purge" else "compact",
              () => {
                val r = ManifestLake.compact(spark, dir,
                  targetBytes = 1L << 20,
                  full = mode == 1, purgeOnly = mode == 2)
                if (r.nonEmpty) explicitCompactCommits.incrementAndGet(): Unit
              }, m => m)
          case 6 => // restore to a pre-round recorded version
            val targets = history.keys.toSeq.sorted
            val target = targets(rnd.nextInt(targets.size))
            ("restore", () => ManifestLake.restore(spark, dir, target): Unit,
              _ => history(target))
          case 7 => // properties flip — content no-op
            val cols = if (rnd.nextBoolean()) "id" else "id,payload"
            ("properties", () => ManifestLake.setTableProperties(spark, dir,
              set = Map("graft.statsCols" -> cols)): Unit, m => m)
          case _ => // analyze backfill — content no-op
            ("analyze", () => ManifestLake.analyzeStats(spark, dir,
              Seq("id")): Unit, m => m)
        }
      }
      // LIVE CDC CONSUMER across the whole fuzzed sequence — the
      // consumer-side twin of the writer invariants: every change row
      // each raced commit stamped must arrive EXACTLY ONCE, in commit
      // order, while the races are in flight. Collected rows replay
      // against the serialized model at the end.
      val consumed = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, Long, String, String, Long)]()
      val cdcQuery = if (!cdcConsumer) None else Some {
        spark.readStream.format("graft-manifest")
          .option("readChangeFeed", "true").option("startingVersion", "0")
          .load(dir)
          .writeStream.outputMode("append")
          .option("checkpointLocation",
            Files.createTempDirectory(s"racefuzz-cdc-$seed").toString)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r => consumed.add((
              r.getAs[String]("part"), r.getAs[Long]("id"),
              r.getAs[String]("payload"), r.getAs[String]("_change_type"),
              r.getAs[Long]("_commit_version")))): Unit
          }.start()
      }
      (1 to rounds).foreach { step =>
        val (nameA, runA, fnA) = mkOp(step, "x")
        val (nameB, runB, fnB) = mkOp(step, "y")
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        def race(run: () => Unit): Future[Option[Throwable]] = Future {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          try { run(); None } catch { case e: Throwable => Some(e) }
        }
        val (errA, errB) = Await.result(
          race(runA).zip(race(runB)), 180.seconds)
        val head = readNow()
        val ctx = s"seed=$seed step=$step ops=$nameA+$nameB"
        (errA, errB) match {
          case (None, None) =>
            val ab = fnB(fnA(model)); val ba = fnA(fnB(model))
            assert(head === ab || head === ba,
              s"$ctx: both committed but the head matches NEITHER " +
                s"serialization — torn state")
            model = if (head == ab) ab else ba
          case (Some(e), None) =>
            assert(typedRaceError(e), s"$ctx: $nameA lost with an UNTYPED " +
              s"error: ${e.getMessage}")
            assert(head === fnB(model),
              s"$ctx: $nameA failed but its effect leaked")
            model = fnB(model)
          case (None, Some(e)) =>
            assert(typedRaceError(e), s"$ctx: $nameB lost with an UNTYPED " +
              s"error: ${e.getMessage}")
            assert(head === fnA(model),
              s"$ctx: $nameB failed but its effect leaked")
            model = fnA(model)
          case (Some(ea), Some(eb)) =>
            assert(typedRaceError(ea) && typedRaceError(eb),
              s"$ctx: untyped double failure: ${ea.getMessage} / ${eb.getMessage}")
            assert(head === model, s"$ctx: both failed but the table moved")
        }
        history(ManifestLake.currentVersion(spark, dir).get) = model
      }
      // every surviving round-boundary version still reads back exactly
      val survivors = ManifestLake.versions(spark, dir).map(_._1).toSet
      history.foreach { case (v, expect) =>
        if (survivors.contains(v))
          assert(readNow(Some(v)) === expect,
            s"seed=$seed: surviving v$v diverged from its recorded content")
      }
      if (autoCompact) {
        // the variant must not be vacuous: the compact commits in the
        // surviving history must EXCEED what the op mix's own explicit
        // compact draws could have published (each draw commits at most
        // once) — the excess is provably the write-time packs
        val (ffs, froot) = ManifestLake.fsFor(spark, dir)
        val packs = ManifestLake.versions(spark, dir).map(_._1).count(v =>
          ManifestLake.readManifest(ffs, froot, v).op.contains("compact"))
        assert(packs - explicitCompactCommits.get >= 3,
          s"seed=$seed: expected >= 3 auto-compact follow-on commits beyond " +
            s"the ${explicitCompactCommits.get} explicit compact commits, " +
            s"found $packs compact commits total")
      }
      cdcQuery.foreach { q =>
        try { q.processAllAvailable() } finally q.stop()
        import scala.jdk.CollectionConverters._
        val all = consumed.asScala.toSeq
        // EXACTLY-ONCE: no change row delivered twice across the whole
        // raced sequence (preimage/postimage are distinct types)
        val dupes = all.groupBy(r => (r._5, r._4, r._1, r._2))
          .filter(_._2.size > 1)
        assert(dupes.isEmpty,
          s"seed=$seed: change rows delivered more than once: " +
            s"${dupes.keys.take(5).mkString(", ")}")
        // REPLAY: folding the consumed changes in commit order must
        // reproduce the serialized model at every recorded boundary
        // and at the head — no loss, no reordering, no leaked rows
        // from losing racers
        def replay(upTo: Long): Model =
          all.filter(_._5 <= upTo).groupBy(_._5).toSeq.sortBy(_._1)
            .foldLeft(Map.empty: Model) { case (m, (_, vr)) =>
              val dels = vr.filter(_._4 == "delete").map(r => (r._1, r._2))
              val sets = vr.filter(r =>
                r._4 == "insert" || r._4 == "update_postimage")
              (m -- dels) ++ sets.map(r => (r._1, r._2) -> r._3)
            }
        assert(replay(Long.MaxValue) === model,
          s"seed=$seed: CDC replay of the full sequence diverged from the head")
        history.toSeq.sortBy(_._1).foreach { case (v, expect) =>
          assert(replay(v) === expect,
            s"seed=$seed: CDC replay up to v$v diverged from the " +
              "serialized model at that boundary")
        }
      }
    } finally ManifestLake.CheckpointInterval = prevInterval
  }

  test("race fuzz seed 0xF0A: 30 rounds of two-session interleavings accept either serialization, never tear") {
    runRaceFuzz(0xF0A, 30)
  }

  test("race fuzz seed 0xBA2: a second 30-round interleaving draw") {
    runRaceFuzz(0xBA2, 30)
  }

  test("race fuzz seed 0x5EED5: the round-19 verbs enter the mix — " +
    "replace wholesale, shallow/deep clone, fsck, materialize") {
    runRaceFuzz(0x5EED5, 30, extendedMix = true)
  }

  test("race fuzz seed 0xD1CE: a second extended-mix draw") {
    runRaceFuzz(0xD1CE, 30, extendedMix = true)
  }

  test("race fuzz seed 0xCDC1: a LIVE change-feed consumer spans 30 raced " +
    "rounds — every stamped change row arrives exactly once and replays " +
    "to the serialized model") {
    runRaceFuzz(0xCDC1, 30, cdcConsumer = true)
  }

  test("race fuzz seed 0xACDC: write-time auto-compact packs fire as " +
    "follow-on commits racing every op AND a live CDC consumer — " +
    "content, serialization, and exactly-once all hold") {
    runRaceFuzz(0xACDC, 30, cdcConsumer = true, autoCompact = true)
  }

  test("upsert refuses duplicate keys mid-fuzz shape (guard the fuzz's own assumptions)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mlake-fuzz-dup").toString + "/table"
    ManifestLake.write(spark,
      Seq(("p0", 1L, "x")).toDF("part", "id", "payload"), dir, Seq("part"))
    val e = intercept[IllegalArgumentException] {
      ManifestLake.upsert(spark, dir,
        Seq(("p0", 2L, "a"), ("p0", 2L, "b")).toDF("part", "id", "payload"),
        Seq("part"), Seq("part", "id"))
    }
    assert(e.getMessage.contains("key-unique"))
  }
}
