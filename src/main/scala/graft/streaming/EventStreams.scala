package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming transforms over the events schema
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference system is batch-only (SURVEY §2.9); these provide the
  * streaming engine capabilities its categories map to: tumbling /
  * sliding / session windows with event-time watermarks, and arbitrary
  * stateful processing via flatMapGroupsWithState.
  *
  * Scale notes: all aggregations key on (window, event_type) or user_id —
  * state is bounded by watermark expiry; shuffle partitioning follows the
  * group keys so state store access is local to each task. For very hot
  * keys (a viral user_id), pre-aggregate per trigger with a salted key
  * and fold the salt out in a second stage.
  */
object EventStreams {

  /** Tumbling one-hour counts with a watermark: late rows beyond
    * `lateness` are dropped, closed windows emit exactly once in append
    * mode.
    */
  def hourlyByType(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding windows: 1-hour span advancing every 15 minutes. */
  def slidingVolume(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))

  /** Native session windows: 30-minute inactivity gap per user —
    * the streaming analog of the batch q30_sessionize query.
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
                   lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("s.start").as("sess_start"),
        col("s.end").as("sess_end"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join — click-to-purchase attribution: each
    * purchase joins the SAME USER's clicks that happened in the
    * preceding `horizon`. Both sides carry watermarks and the join
    * condition bounds event-time distance in BOTH directions, so the
    * state store can expire rows once the watermark passes the horizon
    * — without the time bound, stream-stream join state grows forever.
    * Shuffles on user_id; state access stays task-local.
    */
  def attributedPurchases(clicks: DataFrame, purchases: DataFrame,
                          horizon: String = "1 hour",
                          lateness: String = "30 minutes"): DataFrame = {
    val c = clicks
      .withWatermark("ts", lateness)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", lateness)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-static enrichment: the static dimension is re-read per
    * micro-batch and broadcast — no state, no watermark needed; the
    * 100 TB/day stream never shuffles for the join.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  // ---- arbitrary stateful processing ----

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running totals via explicit state — the
    * mapGroupsWithState shape for logic window aggregates can't express
    * (counters, custom machines). Emits the updated total per user per
    * trigger (Update mode).
    */
  def runningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val batch = rows.toSeq
          val next = UserRunning(userId,
            prev.n_events + batch.size,
            prev.total_value + batch.map(_.value).sum)
          state.update(next)
          next
      }
  }

  /** Output mode expected by runningTotals sinks. */
  val runningTotalsMode: OutputMode = OutputMode.Update()

  /** Streaming exactly-once deduplication via Spark 4's
    * transformWithState: the first event per event_id passes, replays
    * and retransmissions are dropped for as long as state lives.
    *
    * vs dropDuplicates-on-stream: explicit state gives TTL control per
    * key (bound memory at 100 TB/day ingest by expiring ids after the
    * retransmission window) and composes with custom emission logic.
    * Requires the RocksDB state store provider (set
    * spark.sql.streaming.stateStore.providerClass).
    *
    * `ttl` bounds state: a fingerprint the state store hasn't seen for
    * longer than the TTL expires (native transformWithState TTL — the
    * store reaps it, no timer logic here), and the NEXT occurrence is
    * re-admitted as if new. That is the deliberate memory/exactness
    * trade at 100 TB/day: size the TTL to the retransmission (or
    * recrawl) window and state stays proportional to the window, not
    * the stream's lifetime. No TTL = exact forever, unbounded state.
    */
  class FirstSeenDedup(ttl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Event] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
          .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE))

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Event] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        rows.take(1)
      }
    }
  }

  /** TTL state requires processing-time semantics; untimed state keeps
    * TimeMode.None. Shared by both stateful dedup entry points.
    */
  private def timeModeFor(ttl: Option[java.time.Duration]) =
    if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    else org.apache.spark.sql.streaming.TimeMode.None()

  def dedupByEventId(events: Dataset[Event],
                     ttl: Option[java.time.Duration] = None): Dataset[Event] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_id)
      .transformWithState(new FirstSeenDedup(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  // ---- streaming ingest dedup against a static corpus ----

  final case class Doc(doc_id: Long, text: String)

  /** First document per content fingerprint passes; later stream
    * occurrences (same batch or any later batch) drop. Same contract
    * as FirstSeenDedup, keyed on the md5 fingerprint string, including
    * the TTL bound (expired fingerprints re-admit — size the TTL to
    * the recrawl window).
    */
  class FirstFingerprintWins(ttl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Doc), Doc] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
          .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE))

    override def handleInputRows(key: String, rows: Iterator[(String, Doc)],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Doc] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        rows.take(1).map(_._2)
      }
    }
  }

  /** Within-batch key-collision resolution shared by the keyed manifest sinks:
    * with a `versionCol`, the row with the max version wins, ties
    * broken by the full row for determinism; without one, the batch
    * passes through and duplicate keys fail the upsert's key-unique
    * precondition loudly.
    */
  private def dedupWithinBatch(batch: DataFrame, keyCols: Seq[String],
                               versionCol: Option[String]): DataFrame =
    versionCol match {
      case Some(v) =>
        val cols = batch.columns
        batch.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(cols.map(col): _*),
            struct(col(v) +: cols.map(col): _*)).as("__r"))
          .select(cols.map(c => col(s"__r.$c")): _*)
      case None => batch
    }

  /** The keyed stream sink: every micro-batch commits through
    * [[graft.etl.ManifestLake.upsert]] — re-delivered keys overwrite,
    * new keys append, untouched partitions are carried by reference —
    * and each trigger becomes ONE manifest version (immutable data
    * files + atomic manifest publish), so it needs no rename to be a
    * metadata-only operation and runs on S3-class stores. A hive lake
    * written by [[graft.etl.Lake.write]] takes this sink after one
    * [[graft.etl.ManifestLake.adopt]]. `versionCol` resolves
    * within-batch key collisions (`dedupWithinBatch`). Streaming
    * is exactly the workload that accretes commits (one per trigger);
    * the manifest read path stays O(1) in commit count by design, and
    * periodic `ManifestLake.compact`/`vacuum` runs — from the SAME
    * maintenance writer, per the checked single-writer contract —
    * bound file count and storage.
    *
    * What the manifest commit buys a stream specifically: per-batch
    * versions (time travel to the table as of any trigger), readers
    * never observing a half-written batch, and EXACTLY-ONCE batch
    * application — each commit records `(appId, batchId)` in the
    * manifest's transaction ledger, so a replayed micro-batch
    * (foreachBatch is at-least-once) is detected against the ledger
    * and skipped without publishing anything. `appId` identifies this
    * logical stream in the ledger and is deliberately REQUIRED (no
    * default): the ledger skips any batchId at or below the recorded
    * watermark, so two different streams sharing one id — which is
    * exactly what a default invites — would have the later stream's
    * early batches (fresh checkpoint, batchIds restarting at 0)
    * silently dropped as "replays". Delta's txnAppId is explicit
    * opt-in for the same reason. Give each distinct stream writing
    * the table (sequentially — single-writer) its own id, and keep
    * it stable across restarts (pair it with the checkpoint dir).
    *
    * `maintainEvery = Some(n)` runs [[graft.etl.ManifestLake.maintain]]
    * (compact + vacuum) after every n-th batch — small per-trigger
    * commits are exactly the workload that fragments a table, and the
    * sink is the single writer, so the maintenance cadence belongs
    * here. Note vacuum prunes manifests past `keepVersions = 2`, which
    * bounds how far back time travel reaches on a maintained table.
    */
  def manifestUpsertSink(stream: DataFrame, lakePath: String,
                         partitionCols: Seq[String], keyCols: Seq[String],
                         appId: String,
                         versionCol: Option[String] = None,
                         maintainEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(appId.trim.nonEmpty, "appId must be a non-empty stable stream identity")
    maintainEvery.foreach(n => require(n > 0,
      s"maintainEvery must be positive, got $n (every batch = Some(1))"))
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val unique = dedupWithinBatch(batch, keyCols, versionCol)
        // ManifestLake.upsert pins the batch itself for its own actions;
        // the extra pin here covers the isEmpty probe too
        unique.persist()
        try {
          if (!unique.isEmpty)
            graft.etl.ManifestLake.upsert(batch.sparkSession, lakePath, unique,
              partitionCols, keyCols, txn = Some((appId, batchId)))
        } finally unique.unpersist()
        maintainEvery.foreach { n =>
          if (batchId % n == n - 1)
            graft.etl.ManifestLake.maintain(batch.sparkSession, lakePath,
              clusterBy = keyCols)
        }
        ()
    }
  }

  /** Conditional-merge manifest sink — [[manifestUpsertSink]] with
    * per-clause MERGE INTO semantics: every micro-batch drives
    * [[graft.etl.ManifestLake.merge]], so a matched source row may
    * UPDATE or DELETE by condition and an unmatched row may
    * conditionally INSERT — the CDC-apply shape (a change stream whose
    * rows carry an op marker tombstones with `deleteWhen` and upserts
    * with the rest) rather than blanket last-write-wins. Same
    * exactly-once contract as the upsert sink: each applied batch
    * records `(appId, batchId)` in the manifest's transaction ledger
    * IN the merge's own commit, so a replayed micro-batch — foreachBatch
    * is at-least-once, and a crash BETWEEN the merge publish and the
    * checkpoint write replays the batch on restart — is detected
    * against the ledger and skipped without publishing anything.
    *
    * The clause conditions see the classified join: `t.*` target
    * columns, `s.*` source columns (a condition like
    * `col("s.op") === "d"` routes source tombstones to DELETE).
    * Within-batch duplicate keys collapse via `versionCol` first —
    * merge refuses a key-duplicated source by design.
    */
  def manifestMergeSink(stream: DataFrame, lakePath: String,
                        partitionCols: Seq[String], keyCols: Seq[String],
                        appId: String,
                        updateWhen: Option[Column] = Some(lit(true)),
                        deleteWhen: Option[Column] = None,
                        insertWhen: Option[Column] = Some(lit(true)),
                        versionCol: Option[String] = None,
                        maintainEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(appId.trim.nonEmpty, "appId must be a non-empty stable stream identity")
    maintainEvery.foreach(n => require(n > 0,
      s"maintainEvery must be positive, got $n (every batch = Some(1))"))
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val unique = dedupWithinBatch(batch, keyCols, versionCol)
        unique.persist()
        try {
          if (!unique.isEmpty)
            graft.etl.ManifestLake.merge(batch.sparkSession, lakePath, unique,
              partitionCols, keyCols, updateWhen = updateWhen,
              deleteWhen = deleteWhen, insertWhen = insertWhen,
              txn = Some((appId, batchId)))
        } finally unique.unpersist()
        maintainEvery.foreach { n =>
          if (batchId % n == n - 1)
            graft.etl.ManifestLake.maintain(batch.sparkSession, lakePath,
              clusterBy = keyCols)
        }
        ()
    }
  }

  /** Partition-overwrite manifest sink — the periodic-snapshot shape:
    * every micro-batch REPLACES exactly the partitions it carries
    * ([[graft.etl.ManifestLake.overwritePartitions]], one atomic
    * commit each), leaving every other partition untouched. The fit is
    * a stream of recomputed partition snapshots — an hourly dimension
    * refresh keyed by region, a daily re-export keyed by date — where
    * upsert semantics would leave deleted rows behind and a full
    * replace would drop the partitions this batch didn't recompute.
    * Same exactly-once txn-ledger contract as the other manifest
    * sinks; the overwrite's delete+insert change stamps make each
    * trigger's swap CDC-consumable.
    */
  def manifestPartitionOverwriteSink(stream: DataFrame, lakePath: String,
                                     appId: String,
                                     maintainEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(appId.trim.nonEmpty, "appId must be a non-empty stable stream identity")
    maintainEvery.foreach(n => require(n > 0,
      s"maintainEvery must be positive, got $n (every batch = Some(1))"))
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.etl.ManifestLake.overwritePartitions(batch.sparkSession,
            lakePath, batch, txn = Some((appId, batchId)))
        maintainEvery.foreach { n =>
          if (batchId % n == n - 1)
            graft.etl.ManifestLake.maintain(batch.sparkSession, lakePath)
        }
        ()
    }
  }

  /** Append-only manifest sink — the log-shaped sibling of
    * [[manifestUpsertSink]] for streams with no key semantics (event
    * logs, audit trails): every micro-batch lands as one APPEND commit
    * (new files only, previous live set carried by reference — no
    * partition is ever rewritten), with the same exactly-once txn
    * ledger, per-batch time travel, and atomic visibility. Use the
    * upsert sink when re-delivered keys must overwrite; use this when
    * rows are facts and every delivered batch accretes.
    */
  def manifestAppendSink(stream: DataFrame, lakePath: String,
                         partitionCols: Seq[String],
                         appId: String,
                         maintainEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(appId.trim.nonEmpty, "appId must be a non-empty stable stream identity")
    maintainEvery.foreach(n => require(n > 0,
      s"maintainEvery must be positive, got $n (every batch = Some(1))"))
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.etl.ManifestLake.write(batch.sparkSession, batch, lakePath,
            partitionCols, replace = false, txn = Some((appId, batchId)))
        maintainEvery.foreach { n =>
          if (batchId % n == n - 1)
            graft.etl.ManifestLake.maintain(batch.sparkSession, lakePath)
        }
        ()
    }
  }

  /** Streaming incremental ingest dedup — the stream analog of
    * `Dedup.dedupAgainstCorpus`'s exact pass: a document stream drops
    * payloads whose content fingerprint already exists in the STATIC
    * corpus (stream-static anti-join — stateless, the corpus
    * fingerprint table is re-read per micro-batch so a growing corpus
    * is picked up without restarts) or was already seen earlier in the
    * stream itself (transformWithState keyed on the fingerprint —
    * first occurrence wins across micro-batches and replays). State is
    * one boolean per distinct surviving fingerprint; pass `ttl` sized
    * to the recrawl window to bound it (expired fingerprints re-admit
    * the next occurrence — EventStreamsSpec pins the behavior).
    *
    * Join strategy is deliberately LEFT TO THE OPTIMIZER (same call as
    * the batch twin, Dedup.dedupAgainstCorpus): at the 100 TB north
    * star the corpus fingerprint set is billions of rows — a forced
    * broadcast would OOM the driver — so the anti-join must be free to
    * shuffle; AQE broadcasts at runtime when the set is actually small
    * (tests, young corpora).
    */
  def streamDedupAgainstCorpus(docs: Dataset[Doc], corpus: DataFrame,
                               text: String,
                               ttl: Option[java.time.Duration] = None): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val corpusFp = corpus.select(md5(col(text)).as("__fp")).distinct()
    docs.toDF()
      .withColumn("__fp", md5(col("text")))
      .join(corpusFp, Seq("__fp"), "left_anti")
      .select(col("__fp"), struct(col("doc_id"), col("text")).as("doc"))
      .as[(String, Doc)]
      .groupByKey(_._1)
      .transformWithState(new FirstFingerprintWins(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }
}
