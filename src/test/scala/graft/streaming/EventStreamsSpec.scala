package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming specs driven through MemoryStream with real micro-batch
  * execution (processAllAvailable), asserting on in-memory sinks.
  */
class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  import EventStreams.Event

  test("tumbling window with watermark emits closed windows once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.hourlyByType(in.toDF(), lateness = "10 minutes")
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    try {
      // hour 0 fills, then an event far past it advances the watermark
      in.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(30), 2, "view", 3.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(200), 1, "click", 4.0)) // watermark → 03:10
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n_events, sum_value FROM hourly ORDER BY event_type").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ===
        Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("session windows close after the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.userSessions(in.toDF(), gap = "30 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then 60 min silence,
      // then another event (second session)
      in.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 1.0),
        Event(3, ts(70), 1, "view", 2.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(600), 2, "click", 0.0)) // advance watermark far
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events FROM sessions WHERE user_id = 1 ORDER BY sess_start").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((1L, 2L), (1L, 1L)))
    } finally q.stop()
  }

  test("sliding windows overlap and the watermark drops too-late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.slidingVolume(in.toDF(), lateness = "10 minutes")
      .writeStream.format("memory").queryName("sliding").outputMode("append").start()
    try {
      in.addData(Event(1, ts(35), 1, "click", 5.0))
      q.processAllAvailable()
      in.addData(Event(2, ts(300), 1, "click", 1.0)) // watermark → 04:50
      q.processAllAvailable()
      // an event at 00:05 is now far behind the watermark: its windows
      // are closed and it must NOT resurrect them
      in.addData(Event(3, ts(5), 1, "click", 100.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(600), 1, "click", 0.0)) // flush everything
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, n_events FROM sliding ORDER BY window_start")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
      // the 00:35 event emitted one row per overlapping 15-min slide
      assert(rows.count(_._1.startsWith("2024-01-01 00:")) >= 3)
      // every event is temporally isolated → no window ever merges two,
      // and in append mode the late event can't re-emit a closed window
      assert(rows.forall(_._2 == 1L))
      // the late 00:05 event's exclusive windows (23:15/23:30 starts)
      // must not exist; only 23:45 (shared with the 00:35 event) may
      assert(rows.count(_._1.startsWith("2023-12-31 23:")) === 1)
    } finally q.stop()
  }

  test("transformWithState dedups replayed events across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Event]
    val q = EventStreams.dedupByEventId(in.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      // replay event 1 (same id), plus a genuinely new event
      in.addData(Event(1, ts(0), 1, "click", 1.0), Event(3, ts(2), 2, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_stream ORDER BY event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(1L, 2L, 3L))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dedup state TTL: an expired fingerprint re-admits the next occurrence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Doc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val corpus = Seq((100L, "existing corpus document")).toDF("doc_id", "text")
    val in = MemoryStream[Doc]
    // Two processing-time realities shape this test. (1) The engine
    // must keep running batches with NO new data (TTL reaping fires on
    // them), so the default 0ms trigger busy-loops — pace it. (2) For
    // the same reason shouldRunAnotherBatch never goes false, so
    // processAllAvailable() NEVER RETURNS for a TTL'd query — drive
    // the test by polling the sink for the expected state instead.
    val q = EventStreams.streamDedupAgainstCorpus(in.toDS(), corpus, "text",
      ttl = Some(java.time.Duration.ofSeconds(5)))
      .writeStream.format("memory").queryName("ttl_dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
      .outputMode("append").start()
    def sinkIds: Seq[Long] = spark.sql("SELECT doc_id FROM ttl_dedup ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    def awaitSink(n: Int): Seq[Long] = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var ids = sinkIds
      while (ids.length < n && System.nanoTime() < deadline) {
        Thread.sleep(200); ids = sinkIds
      }
      ids
    }
    try {
      // same-batch dup (and a corpus recrawl): exactly one survivor
      in.addData(Doc(1, "volatile page content"), Doc(2, "volatile page content"),
        Doc(3, "existing corpus document"))
      val first = awaitSink(1)
      assert(first.length === 1, s"one survivor per content expected, got $first")
      // outlive the TTL, then recrawl the same content: the expired
      // fingerprint must RE-ADMIT it (without TTL this would drop
      // forever — the non-TTL test above pins that contract)
      Thread.sleep(8000)
      in.addData(Doc(4, "volatile page content"))
      val after = awaitSink(2)
      assert(after.length === 2, s"post-expiry occurrence must re-admit, got $after")
      assert(after.last === 4L)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join attributes purchases to in-horizon clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.attributedPurchases(clicks.toDF(), purchases.toDF(),
      horizon = "1 hour", lateness = "10 minutes")
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      clicks.addData(
        Event(1, ts(0), 1, "click", 0.0),     // user 1 clicks at 00:00
        Event(2, ts(0), 2, "click", 0.0))     // user 2 clicks at 00:00
      purchases.addData(
        Event(10, ts(30), 1, "purchase", 9.0),  // 30 min after user 1's click: attributed
        Event(11, ts(90), 2, "purchase", 5.0))  // 90 min after user 2's click: outside horizon
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT purchase_id, click_id, user_id, purchase_value FROM attrib ORDER BY purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(rows === Seq((10L, 1L, 1L, 9.0)))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins without state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "trial")).toDF("user_id", "tier")
    val q = EventStreams.enrichWithDim(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 3, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, tier FROM enriched ORDER BY event_id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
      // user 3 has no dim row: left join keeps the event with a null tier
      assert(rows === Seq((1L, Some("gold")), (2L, None)))
    } finally q.stop()
  }

  test("stream dedup vs static corpus: recrawls drop, in-stream dups drop once, fresh docs pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Doc
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val corpus = Seq((100L, "existing corpus document")).toDF("doc_id", "text")
    val in = MemoryStream[Doc]
    val q = EventStreams.streamDedupAgainstCorpus(in.toDS(), corpus, "text")
      .writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    try {
      in.addData(
        Doc(1, "existing corpus document"),  // verbatim recrawl → drops
        Doc(2, "a genuinely new document"),  // passes
        Doc(3, "a genuinely new document"))  // same-batch dup → drops
      q.processAllAvailable()
      // later batch: replay of doc 2's content, plus another fresh doc
      in.addData(Doc(4, "a genuinely new document"), Doc(5, "another new one"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM ingest_dedup ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      // exactly one survivor per distinct content not already in the corpus
      assert(ids.toSet === Set(2L, 5L) || ids.toSet === Set(3L, 5L))
      assert(ids.length === 2)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("manifestUpsertSink: each trigger is one manifest version; time travel + idempotent replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.ManifestLake
    val lake = java.nio.file.Files.createTempDirectory("stream-mupsert").toString + "/table"
    val in = MemoryStream[(String, Long, Long, String)]
    val stream = in.toDF().toDF("part", "key", "version", "payload")
    val q = EventStreams.manifestUpsertSink(stream, lake,
      partitionCols = Seq("part"), keyCols = Seq("part", "key"),
      appId = "mupsert-spec", versionCol = Some("version")).start()
    def tableAt(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("part"), r.getAs[Long]("key")) ->
        r.getAs[String]("payload")).toMap
    try {
      in.addData(("a", 1L, 1L, "a1-v1"), ("a", 1L, 2L, "a1-v2"), ("b", 1L, 1L, "b1-v1"))
      q.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(1L))
      assert(tableAt(ManifestLake.read(spark, lake))
        === Map(("a", 1L) -> "a1-v2", ("b", 1L) -> "b1-v1"))
      // trigger 2: re-delivered key wins, partition b untouched
      in.addData(("a", 1L, 3L, "a1-v3"), ("a", 2L, 1L, "a2-v1"))
      q.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(2L))
      assert(tableAt(ManifestLake.read(spark, lake)) === Map(
        ("a", 1L) -> "a1-v3", ("a", 2L) -> "a2-v1", ("b", 1L) -> "b1-v1"))
      // time travel: the table as of trigger 1 is still served verbatim
      assert(tableAt(ManifestLake.readVersion(spark, lake, 1L))
        === Map(("a", 1L) -> "a1-v2", ("b", 1L) -> "b1-v1"))
      // at-least-once re-delivery of trigger 2's DATA arrives as a new
      // batchId: a new version publishes, the table CONTENT converges
      in.addData(("a", 1L, 3L, "a1-v3"), ("a", 2L, 1L, "a2-v1"))
      q.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(3L))
      assert(tableAt(ManifestLake.read(spark, lake))
        === tableAt(ManifestLake.readVersion(spark, lake, 2L)))
      // the txn ledger tracked every trigger (batchIds 0..2) — a TRUE
      // replay (same batchId after a checkpoint restart) would be
      // skipped against it, which ManifestLakeSpec pins directly
      assert(ManifestLake.lastCommitted(spark, lake, "mupsert-spec") === Some(2L))
    } finally q.stop()
  }

  test("manifest sinks refuse a blank appId — a shared default id would eat fresh-checkpoint batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the ledger skips batchIds at or below appId's watermark, so two
    // streams accidentally sharing an id would have the younger one's
    // restarted-from-0 batches silently dropped; identity is explicit
    val in = MemoryStream[(String, Long)]
    val stream = in.toDF().toDF("part", "key")
    intercept[IllegalArgumentException] {
      EventStreams.manifestAppendSink(stream, "/tmp/never", Seq("part"), appId = "  ")
    }
    intercept[IllegalArgumentException] {
      EventStreams.manifestUpsertSink(stream, "/tmp/never", Seq("part"),
        keyCols = Seq("part", "key"), appId = "")
    }
  }

  test("manifestAppendSink: every batch accretes as one append commit with the txn ledger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.ManifestLake
    val lake = java.nio.file.Files.createTempDirectory("stream-mappend").toString + "/table"
    val in = MemoryStream[(String, Long, String)]
    val stream = in.toDF().toDF("part", "seq", "payload")
    val q = EventStreams.manifestAppendSink(stream, lake,
      partitionCols = Seq("part"), appId = "log-stream").start()
    try {
      in.addData(("a", 1L, "e1"), ("b", 2L, "e2"))
      q.processAllAvailable()
      // append semantics: a re-delivered ROW is a new fact, not an upsert
      in.addData(("a", 1L, "e1"), ("a", 3L, "e3"))
      q.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(2L))
      assert(ManifestLake.read(spark, lake).count() === 4)
      assert(ManifestLake.readVersion(spark, lake, 1L).count() === 2)
      assert(ManifestLake.lastCommitted(spark, lake, "log-stream") === Some(1L))
    } finally q.stop()
  }

  test("manifestUpsertSink maintainEvery: the sink compacts and vacuums on its own cadence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.ManifestLake
    val lake = java.nio.file.Files.createTempDirectory("stream-mmaint").toString + "/table"
    val in = MemoryStream[(String, Long, Long, String)]
    val stream = in.toDF().toDF("part", "key", "version", "payload")
    val q = EventStreams.manifestUpsertSink(stream, lake,
      partitionCols = Seq("part"), keyCols = Seq("part", "key"),
      versionCol = Some("version"), appId = "maint-stream",
      maintainEvery = Some(2)).start()
    try {
      // four triggers, all landing in one partition: per-trigger commits
      // fragment it; the every-2nd-batch maintenance pass folds it back
      (0 until 4).foreach { i =>
        in.addData(("a", i.toLong, 1L, s"p$i"))
        q.processAllAvailable()
      }
      val inv = ManifestLake.inventory(spark, lake, targetBytes = 1L << 30).collect()
      assert(inv.forall(r => !r.getAs[Boolean]("needs_compaction")),
        s"maintenance should have compacted: ${inv.mkString(", ")}")
      // content survived the maintenance passes
      val rows = ManifestLake.read(spark, lake).collect()
        .map(r => r.getAs[Long]("key") -> r.getAs[String]("payload")).toMap
      assert(rows === Map(0L -> "p0", 1L -> "p1", 2L -> "p2", 3L -> "p3"))
      // and the ledger survived vacuum (it rides the current manifest)
      assert(ManifestLake.lastCommitted(spark, lake, "maint-stream") === Some(3L))
    } finally q.stop()
  }

  test("end to end: watermarked hourly aggregates maintained in a manifest table exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.ManifestLake
    import org.apache.spark.sql.functions.col
    // the realistic composition: event-time windows close under the
    // watermark, each trigger's CLOSED windows upsert into a manifest
    // table keyed on (event_type, window_start) — per-trigger versions,
    // replay-safe via the txn ledger, readable mid-stream by any batch
    // job at an atomic version
    val lake = java.nio.file.Files.createTempDirectory("stream-e2e").toString + "/table"
    val in = MemoryStream[Event]
    val agg = EventStreams.hourlyByType(in.toDF(), lateness = "10 minutes")
    val q = EventStreams.manifestUpsertSink(agg, lake,
      partitionCols = Seq("event_type"),
      keyCols = Seq("event_type", "window_start"),
      appId = "hourly-agg").start()
    try {
      in.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(30), 2, "view", 3.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(200), 1, "click", 4.0)) // watermark → hour 0 closes
      q.processAllAvailable()
      val rows = ManifestLake.read(spark, lake)
        .select(col("event_type"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
      // each closed-window trigger that carried data became a version,
      // and the ledger watermark tracked the LAST batch id
      assert(ManifestLake.currentVersion(spark, lake).exists(_ >= 1L))
      assert(ManifestLake.lastCommitted(spark, lake, "hourly-agg").nonEmpty)
    } finally q.stop()
  }

  test("manifestMergeSink: per-clause CDC apply, exactly-once across a forced restart replaying a batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.ManifestLake
    val base = java.nio.file.Files.createTempDirectory("stream-mmerge")
    val lake = base.toString + "/table"
    val ckpt = base.toString + "/ckpt"
    // seed: the table stores (part, key, payload); the STREAM additionally
    // carries an op marker the table never stores — the superset-source
    // contract (clause conditions read it as s.op)
    ManifestLake.write(spark,
      Seq(("a", 1L, "seed-a1"), ("a", 2L, "seed-a2"), ("b", 1L, "seed-b1"))
        .toDF("part", "key", "payload"),
      lake, Seq("part"))                                                       // v1
    val in = MemoryStream[(String, Long, String, String)]
    val stream = in.toDF().toDF("part", "key", "payload", "op")
    def start() = EventStreams.manifestMergeSink(stream, lake,
      partitionCols = Seq("part"), keyCols = Seq("part", "key"),
      appId = "mmerge-spec",
      updateWhen = Some(col("s.op") === "u"),
      deleteWhen = Some(col("s.op") === "d"),
      insertWhen = Some(col("s.op") =!= "d"))
      .option("checkpointLocation", ckpt).start()
    def tableNow() = ManifestLake.read(spark, lake).collect()
      .map(r => (r.getAs[String]("part"), r.getAs[Long]("key")) ->
        r.getAs[String]("payload")).toMap
    val q1 = start()
    try {
      // batch 0: update a1, tombstone a2, insert b2; an unmatched
      // tombstone (c9) must route to DELETE-clause no-op, not insert
      in.addData(("a", 1L, "a1-upd", "u"), ("a", 2L, "", "d"),
        ("b", 2L, "b2-new", "u"), ("c", 9L, "", "d"))
      q1.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(2L))
      assert(tableNow() === Map(("a", 1L) -> "a1-upd", ("b", 1L) -> "seed-b1",
        ("b", 2L) -> "b2-new"))
      // batch 1: another round, then force the replay window
      in.addData(("b", 1L, "b1-upd", "u"))
      q1.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(3L))
      assert(ManifestLake.lastCommitted(spark, lake, "mmerge-spec") === Some(1L))
    } finally q1.stop()
    // FORCED RESTART MID-BATCH: delete batch 1's checkpoint commit
    // marker — the crash window between the merge's manifest publish
    // and the checkpoint commit. On restart Spark re-runs batch 1
    // (foreachBatch at-least-once); the ledger must swallow the replay
    // without publishing a version.
    val commitMarker = new java.io.File(s"$ckpt/commits/1")
    assert(commitMarker.exists, "test setup: batch 1's commit marker must exist")
    assert(commitMarker.delete())
    // the local FS writes a checksum sidecar; a stale .crc makes the
    // replayed batch's marker rewrite fail as FileAlreadyExists
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      assert(ManifestLake.currentVersion(spark, lake) === Some(3L),
        "a ledger-known batch must replay as a no-op — no new version")
      assert(tableNow() === Map(("a", 1L) -> "a1-upd", ("b", 1L) -> "b1-upd",
        ("b", 2L) -> "b2-new"))
      // and the stream keeps moving: a genuinely new batch applies
      in.addData(("a", 1L, "", "d"))
      q2.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(4L))
      assert(tableNow() === Map(("b", 1L) -> "b1-upd", ("b", 2L) -> "b2-new"))
      assert(ManifestLake.lastCommitted(spark, lake, "mmerge-spec") === Some(2L))
    } finally q2.stop()
  }

  test("CDC relay e2e: table A's change-feed stream drives the merge sink on table B — exactly-once across a forced restart, B mirrors A") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.etl.ManifestLake
    val base = java.nio.file.Files.createTempDirectory("stream-cdcrelay")
    val aDir = base.toString + "/a"
    val bDir = base.toString + "/b"
    val ckpt = base.toString + "/ckpt"
    // A: the source-of-truth table, mutated by upsert / update / DV
    // delete / merge; B: the mirror, fed ONLY through the relay
    ManifestLake.write(spark,
      Seq(("x", 1L, "p1"), ("x", 2L, "p2"), ("y", 3L, "p3"))
        .toDF("part", "key", "payload"),
      aDir, Seq("part"))                                                       // A v1
    ManifestLake.write(spark,
      Seq.empty[(String, Long, String)].toDF("part", "key", "payload"),
      bDir, Seq("part"))                                                       // B v1 (empty)
    def mirror() = {
      // the classic CDC-mirror composition: drop pre-images, route
      // deletes to tombstones, everything else upserts; within-batch
      // multi-version key churn collapses by _commit_version
      val feed = spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(aDir)
      val src = feed.where(col("_change_type") =!= "update_preimage")
        .withColumn("op",
          when(col("_change_type") === "delete", lit("d")).otherwise(lit("u")))
        .drop("_change_type")
      EventStreams.manifestMergeSink(src, bDir,
        partitionCols = Seq("part"), keyCols = Seq("part", "key"),
        appId = "cdc-relay-spec",
        updateWhen = Some(col("s.op") === "u"),
        deleteWhen = Some(col("s.op") === "d"),
        insertWhen = Some(col("s.op") =!= "d"),
        versionCol = Some("_commit_version"))
        .option("checkpointLocation", ckpt).start()
    }
    def contentOf(dir: String) = ManifestLake.read(spark, dir)
      .select("part", "key", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val q1 = mirror()
    try {
      q1.processAllAvailable()
      assert(contentOf(bDir) === contentOf(aDir), "initial replay must mirror A v1")
      // a burst of heterogeneous commits on A: upsert, UPDATE, DV delete
      ManifestLake.upsert(spark, aDir,
        Seq(("x", 1L, "p1-v2"), ("y", 4L, "p4")).toDF("part", "key", "payload"),
        Seq("part"), Seq("part", "key"))                                       // A v2
      ManifestLake.update(spark, aDir, col("key") === 3L,
        Map("payload" -> lit("p3-upd")))                                       // A v3
      ManifestLake.delete(spark, aDir, col("key") === 2L,
        deletionVectors = true)                                                // A v4
      q1.processAllAvailable()
      assert(contentOf(bDir) === contentOf(aDir),
        "B must mirror A across upsert+update+DV-delete commits")
      assert(contentOf(bDir) ===
        Set(("x", 1L, "p1-v2"), ("y", 3L, "p3-upd"), ("y", 4L, "p4")))
    } finally q1.stop()
    // FORCED RESTART replaying the last batch: the crash window between
    // B's merge publish and the checkpoint commit. BOTH ends replay —
    // the source re-offers the same version window from its offsets
    // log, and the sink's txn ledger must swallow the duplicate apply.
    val lastBatch = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toLong).max
    val bVersionBefore = ManifestLake.currentVersion(spark, bDir)
    assert(new java.io.File(s"$ckpt/commits/$lastBatch").delete())
    new java.io.File(s"$ckpt/commits/.$lastBatch.crc").delete()
    val q2 = mirror()
    try {
      q2.processAllAvailable() // replays the last batch on both ends
      assert(ManifestLake.currentVersion(spark, bDir) === bVersionBefore,
        "a ledger-known replayed batch must publish nothing on B")
      assert(contentOf(bDir) === contentOf(aDir))
      // and the relay keeps flowing: a post-restart merge on A mirrors
      val st = ManifestLake.merge(spark, aDir,
        Seq(("x", 1L, "", "del"), ("y", 5L, "p5", "add"))
          .toDF("part", "key", "payload", "op"),
        Seq("part"), Seq("part", "key"),
        updateWhen = None,
        deleteWhen = Some(col("s.op") === "del"),
        insertWhen = Some(col("s.op") === "add"))                              // A v5
      assert(st.deleted === 1L && st.inserted === 1L)
      q2.processAllAvailable()
      assert(contentOf(bDir) === contentOf(aDir),
        "B must mirror A's post-restart merge (delete + insert)")
      assert(contentOf(bDir) ===
        Set(("y", 3L, "p3-upd"), ("y", 4L, "p4"), ("y", 5L, "p5")))
    } finally q2.stop()
  }

  test("manifestPartitionOverwriteSink: each batch swaps exactly its partitions; ledger-exact replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.ManifestLake
    val base = java.nio.file.Files.createTempDirectory("stream-powp")
    val lake = base.toString + "/table"
    val ckpt = base.toString + "/ckpt"
    ManifestLake.write(spark,
      Seq(("r1", 1L, "a"), ("r1", 2L, "b"), ("r2", 3L, "c"))
        .toDF("region", "id", "payload"),
      lake, Seq("region"))                                                     // v1
    val in = MemoryStream[(String, Long, String)]
    def start() = EventStreams.manifestPartitionOverwriteSink(
      in.toDF().toDF("region", "id", "payload"), lake, appId = "powp-spec")
      .option("checkpointLocation", ckpt).start()
    def content() = ManifestLake.read(spark, lake).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val q1 = start()
    try {
      // batch 0: a recomputed r1 snapshot — r1 swaps wholesale (the old
      // id=2 row must NOT survive, which is what upsert would get wrong),
      // r2 untouched
      in.addData(("r1", 10L, "a2"))
      q1.processAllAvailable()
      assert(content() === Set(("r1", 10L, "a2"), ("r2", 3L, "c")))
      assert(ManifestLake.currentVersion(spark, lake) === Some(2L))
    } finally q1.stop()
    // restart replaying batch 0: the ledger swallows it
    val marker = new java.io.File(s"$ckpt/commits/0")
    assert(marker.delete()); new java.io.File(s"$ckpt/commits/.0.crc").delete()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(ManifestLake.currentVersion(spark, lake) === Some(2L),
        "a ledger-known replayed batch must publish nothing")
      in.addData(("r2", 30L, "c2"))
      q2.processAllAvailable()
      assert(content() === Set(("r1", 10L, "a2"), ("r2", 30L, "c2")))
    } finally q2.stop()
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.runningTotals(in.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(EventStreams.runningTotalsMode).start()
    try {
      in.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 2.0))
      q.processAllAvailable()
      in.addData(Event(3, ts(2), 1, "view", 3.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n_events, total_value FROM running WHERE user_id = 1 ORDER BY n_events DESC LIMIT 1")
        .collect()(0)
      assert(last.getLong(0) === 3L)
      assert(last.getDouble(1) === 6.0)
    } finally q.stop()
  }
}
