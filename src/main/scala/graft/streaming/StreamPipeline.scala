package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.JobLabel
import graft.pipeline.MatchPipeline
import graft.rules.Rules
import graft.sink.{EmailJobSink, StatusStore}
import graft.sink.EmailJobSink.TxnLog

/** Per-record outcome emitted by the streaming pipeline. */
case class StreamOutcome(
    recordId: String,
    eventId: String,
    guestId: String,
    emailKey: String,
    action: String,
    reason: String)

/** State kept per (event_id, lower(guest_email)): whether an email job
  * has already been triggered for the key, and the event time (epoch
  * millis) after which the state counts as absent. Without a TTL the
  * state never expires ([[EmailKeyState.NeverExpires]]). The two fields
  * keep the (boolean, long) layout of the earlier `(triggered,
  * firstSeq)` state, so a checkpoint written before the expiry moved
  * into the state still loads; under [[StreamPipeline.outcomesWithTtl]]
  * such a checkpoint's keys read their old sequence number as an
  * expiry long past, and can trigger again at their next record. */
case class EmailKeyState(triggered: Boolean, expiresAtMs: Long)

object EmailKeyState {
  val NeverExpires: Long = Long.MaxValue
}

/** Pre-decided record entering the keyed state machine.
  * `reachesDupCheck`: passed O2..O6 — the reference consults the dedup
  * lookup before validation (index.js:228 vs :246), so a record with an
  * existing email job is duplicate_prevented even if it would have
  * failed validation afterwards. */
private[streaming] case class PreDecided(
    recordId: String,
    eventId: String,
    guestId: String,
    emailKey: String,
    seq: Long,
    reachesDupCheck: Boolean,
    statelessAction: String,
    statelessReason: String)

/** [[PreDecided]] plus the synthetic event-time column the TTL variant
  * watermarks on. */
private[streaming] case class PreDecidedEvt(
    recordId: String,
    eventId: String,
    guestId: String,
    emailKey: String,
    seq: Long,
    reachesDupCheck: Boolean,
    statelessAction: String,
    statelessReason: String,
    evtTime: java.sql.Timestamp) {
  def pre: PreDecided = PreDecided(recordId, eventId, guestId, emailKey,
    seq, reachesDupCheck, statelessAction, statelessReason)
}

/** Structured Streaming assembly of the CDC match pipeline.
  *
  * The stateless operator chain (O2..O6, O9, O10 — decode, image filters,
  * validation, business rules) is the same Column logic the batch
  * pipeline uses. The dedup layers (O7 lookup + O11 CCAS, reference
  * index.js:107-141, 448-497) become ONE keyed state machine: the state
  * store keyed by (event_id, lower(guest_email)) is the serialization
  * point, so the reference's conditional-write race simply cannot occur
  * inside a query — the first would-trigger record of a key wins, every
  * later one (same batch or any later batch) is duplicate_prevented.
  *
  * Honest scoping (SURVEY.md §7.4): cross-process writers mutating an
  * external status table mid-flight are out of scope; within the query,
  * checkpointing makes the state-transition + output atomic, which is
  * strictly stronger than the reference's revert-compensation (O12).
  *
  * Scale posture: one hash exchange on the state key; state size is one
  * boolean per distinct (event, email) — bounded by live keys, with
  * GroupStateTimeout available for eviction when events expire.
  */
object StreamPipeline {

  /** Decode + stateless rules; the dedup branch is deferred to the state
    * machine (dupHit=false here — a later record can only become a
    * duplicate via state). The thresholds come from the session conf,
    * read and checked the way [[MatchPipeline.decide]] reads them, so
    * stream and batch decide a record alike. */
  private def preDecide(envelope: DataFrame): DataFrame = {
    val (minMatches, denyDomains, denyPrefixes) =
      MatchPipeline.confRules(envelope.sparkSession)
    MatchPipeline.decoded(envelope)
      .withColumn("decision",
        MatchPipeline.decision(lit(false), minMatches, denyDomains, denyPrefixes))
      .select(
        col("record_id").as("recordId"),
        coalesce(col("event_id"), lit("")).as("eventId"),
        coalesce(col("guest_id"), lit("")).as("guestId"),
        concat_ws("|", coalesce(col("event_id"), lit("\u0000")),
          Rules.asciiLower(coalesce(col("guest_email"), lit("\u0000"))))
          .as("emailKey"),
        coalesce(col("seq"), lit(0L)).as("seq"),
        coalesce(MatchPipeline.reachesDupCheck, lit(false)).as("reachesDupCheck"),
        col("decision").getField("action").as("statelessAction"),
        col("decision").getField("reason").as("statelessReason"))
  }

  /** The keyed state machine. Records of one key are processed in
    * sequence order (the reference's in-batch loop order, §3.4). */
  private def stateFn(
      key: String,
      rows: Iterator[PreDecided],
      state: GroupState[EmailKeyState]): Iterator[StreamOutcome] = {
    var triggered = state.getOption.exists(_.triggered)
    val out = rows.toSeq.sortBy(_.seq).map { r =>
      if (r.reachesDupCheck && triggered)
        StreamOutcome(r.recordId, r.eventId, r.guestId, r.emailKey,
          "duplicate_prevented", "Email job already exists for this address")
      else if (r.statelessAction == "email_triggered") {
        triggered = true
        StreamOutcome(r.recordId, r.eventId, r.guestId, r.emailKey,
          "email_triggered", "All criteria met")
      } else
        StreamOutcome(r.recordId, r.eventId, r.guestId, r.emailKey,
          r.statelessAction, r.statelessReason)
    }
    if (triggered) state.update(EmailKeyState(triggered = true, EmailKeyState.NeverExpires))
    out.iterator
  }

  /** Streaming (or batch — the plan is mode-agnostic) outcome stream. */
  def outcomes(envelope: DataFrame): Dataset[StreamOutcome] = {
    val spark = envelope.sparkSession
    import spark.implicits._
    preDecide(envelope)
      .as[PreDecided]
      .groupByKey(_.emailKey)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(stateFn)
  }

  /** [[stateFn]] under an EVENT-time TTL: an expired key's state is
    * removed (its next record would trigger again — the availability
    * trade the reference makes too: its dedup horizon is whatever the
    * status table retains). Bounding state by TTL is what keeps the
    * state store finite over an unbounded key universe at stream scale;
    * the reference's keys (live photo events) age out the same way.
    * Event-time (watermark-driven) rather than processing-time: the
    * eviction point is a property of the DATA, so replays and tests are
    * deterministic, and a timer never keeps an idle query spinning.
    *
    * Expiry is part of the data path: the engine fires a timeout only
    * for keys with no data in a batch, so a key whose state expired
    * and that gets data before any batch fired its timeout would be
    * called with stale state. Stored state whose expiry is below the
    * current watermark — the engine's own strict `<` — is therefore
    * dropped before [[stateFn]] runs. The outcome then does not depend
    * on whether a zero-row batch happened to run between the two
    * records, and the CDC sink can run without them. */
  private def stateFnTtl(ttlMs: Long)(
      key: String,
      rows: Iterator[PreDecidedEvt],
      state: GroupState[EmailKeyState]): Iterator[StreamOutcome] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      if (state.getOption.exists(_.expiresAtMs < state.getCurrentWatermarkMs()))
        state.remove()
      val rs = rows.toSeq
      val out = stateFn(key, rs.map(_.pre).iterator, state)
      if (state.exists) {
        val expiresAtMs = rs.map(_.evtTime.getTime).max + ttlMs
        state.update(EmailKeyState(triggered = true, expiresAtMs))
        state.setTimeoutTimestamp(expiresAtMs)
      }
      out
    }

  /** Outcome stream with TTL-evicted dedup state. The synthetic event
    * time is the record sequence number (the stream's own ordering
    * dimension — DynamoDB SequenceNumbers are monotone per shard), one
    * second per sequence unit; a real deployment maps its ingest
    * timestamp here instead. */
  def outcomesWithTtl(envelope: DataFrame, ttlMs: Long): Dataset[StreamOutcome] = {
    val spark = envelope.sparkSession
    import spark.implicits._
    preDecide(envelope)
      .withColumn("evtTime", timestamp_seconds(col("seq")))
      .withWatermark("evtTime", "0 seconds")
      .as[PreDecidedEvt]
      .groupByKey(_.emailKey)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stateFnTtl(ttlMs))
  }

  /** Status-key counts of a sink batch: the keys `(eventId, guestId)`
    * it triggers, the keys it marks duplicate, and the keys it does
    * both to. */
  private case class SinkCounts(triggerKeys: Long, dupKeys: Long, overlapKeys: Long)

  /** The counts every sink batch starts from, in ONE job (labelled
    * `sink:count`): an aggregate over the cached batch that collects
    * the set of triggered and the set of duplicate status keys, so the
    * overlap needs no shuffle by key. The sets are bounded by the
    * batch's size. It must be an aggregate, which scans every
    * partition, and not `isEmpty` or `take`, which stop early: only a
    * full scan makes the stateful operator upstream commit all of its
    * state-store partitions. */
  private def actionCounts(batch: DataFrame): SinkCounts = {
    val key = struct(col("eventId"), col("guestId"))
    val r = JobLabel(batch.sparkSession, "sink:count") {
      batch.agg(
          collect_set(when(col("action") === "email_triggered", key)).as("t"),
          collect_set(when(col("action") === "duplicate_prevented", key)).as("d"))
        .select(size(col("t")), size(col("d")),
          size(array_intersect(col("t"), col("d"))))
        .head()
    }
    SinkCounts(r.getInt(0), r.getInt(1), r.getInt(2))
  }

  private val StatusKey = Seq("event_id", "guest_id")

  /** The email jobs of a batch's `email_triggered` outcomes; dedup_id is
    * the event id plus the email half of emailKey ("event|loweremail"). */
  private def triggeredJobs(batch: DataFrame): DataFrame =
    batch.filter(col("action") === "email_triggered")
      .select(col("recordId").as("record_id"), col("eventId").as("event_id"),
        col("guestId").as("guest_id"),
        concat(col("eventId"), lit("-"),
          substring_index(col("emailKey"), "|", -1)).as("dedup_id"))

  /** Runs `write` for a batch the sink's commit log (`_txn` under the
    * jobs dir, underscore-prefixed so parquet readers skip it) has not
    * seen, over the batch cached for the length of the call. A replayed
    * batch id is skipped outright, with no job. The log holds one
    * marker, the newest committed batch id. */
  private def onceWithLog(batch: Dataset[StreamOutcome], batchId: Long,
      jobsDir: String)(write: DataFrame => Unit): Unit = {
    val df = batch.toDF().cache()
    try { TxnLog.runOnce(s"$jobsDir/_txn", batchId)(write(df)); () }
    finally df.unpersist()
  }

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Full streaming delivery over an outcome stream ([[outcomes]] or
    * [[outcomesWithTtl]], fed by any source): inside foreachBatch, the
    * status table behind the cross-process CCAS store
    * (graft.sink.StatusStore) and the batch's email-job write — the
    * reference's conditional UpdateItem + revert, order per
    * index.js:448-522:
    *
    *  1. ONE status commit: triggered keys CAS 'pending' → 'processing',
    *     and duplicate outcomes mark 'delivered' unconditionally
    *     (index.js:324-344). A key some OTHER process already moved is
    *     rejected, and its email job is NOT written (the lost
    *     conditional write, index.js:483-489);
    *  2. the CAS winners' email jobs are written as the batch's own
    *     partition of the jobs table ([[EmailJobSink.writeBatch]]);
    *  3. if that write (the "send") fails, winners revert
    *     'processing' → 'pending' + email_error_at (index.js:509-522)
    *     and the batch rethrows — offsets don't advance, the replay
    *     re-runs the CAS against the reverted table, re-applies the
    *     markers, and rewrites the batch's partition;
    *  4. a key the batch both triggers and marks duplicate keeps the
    *     order CAS, send, 'delivered': its marker is left out of step
    *     1 and committed here, in a second commit that runs only when
    *     such a key exists.
    *
    * Sink-before-state order per SURVEY.md §7.4.2. A replay converges
    * after a failed send that reverted, and `TxnLog` makes the replay
    * of a committed batch free. It does NOT converge after a crash
    * between step 1's commit and step 2's write: the replay's CAS finds
    * the batch's own keys 'processing' and rejects them, so those keys
    * stay 'processing' with no job — at-most-once in that window.
    * `failSend` injects a send failure (tests of the revert path).
    *
    * One micro-batch per input: the query starts with no-data
    * micro-batches off ([[stateFnTtl]] makes TTL outcomes independent
    * of them). The conf is set on the session around `start()`, which
    * clones it, and the caller's value is restored afterwards.
    *
    * Job budget per micro-batch: one counting job ([[actionCounts]])
    * runs first, and each step runs only when its count says it has
    * input. A batch with neither triggers nor duplicates (an
    * all-`skipped` batch) runs that one job and no sink I/O. Otherwise
    * the status commit runs one job (the snapshot write, which also
    * counts its verdicts) and the job write one: 3 jobs with AQE off,
    * whatever the broadcast threshold. When the trigger CAS rejects no
    * key, the winners are the triggered rows themselves and no semi-join
    * re-derives them from the CAS verdicts. A replayed batch the commit
    * log holds runs no job. Each step's jobs carry a [[graft.JobLabel]] (`sink:count`,
    * `cas:commit`, `jobs:write`, `cas:revert`, `cas:delivered`). */
  def casSinkTo(out: Dataset[StreamOutcome], checkpoint: String,
      jobsDir: String, statusDir: String,
      failSend: () => Boolean = () => false): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = out.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[StreamOutcome], batchId: Long) =>
        onceWithLog(batch, batchId, jobsDir) { df =>
          val spark = df.sparkSession
          val n = actionCounts(df)
          if (n.triggerKeys + n.dupKeys > 0) {
            val triggered = triggeredJobs(df)
            val triggerKeys = triggered.select("event_id", "guest_id")
            val dupKeys = df.filter(col("action") === "duplicate_prevented")
              .select(col("eventId").as("event_id"), col("guestId").as("guest_id"))
            val earlyDups = if (n.overlapKeys == 0) dupKeys
              else dupKeys.join(triggerKeys, StatusKey, "left_anti")
            val updates = Seq(
              Option.when(n.triggerKeys > 0)(StatusStore.markProcessing(triggerKeys)),
              Option.when(n.dupKeys > n.overlapKeys)(StatusStore.markDelivered(earlyDups)))
              .flatten.reduce(_ unionByName _)
            val cas = JobLabel(spark, "cas:commit")(StatusStore.casMerge(updates, statusDir))
            // a marker always holds, so every rejected row is a trigger
            // whose key another process moved: only OUR CAS winners own
            // their key and may send; with no key rejected every
            // triggered row won
            if (n.triggerKeys > cas.rejected) {
              val winners = if (cas.rejected == 0) triggered
                else triggered.join(cas.appliedKeys, StatusKey, "left_semi")
              try {
                if (failSend()) throw new RuntimeException("injected send failure")
                EmailJobSink.writeBatch(winners, jobsDir, batchId)
              } catch {
                case e: Throwable =>
                  JobLabel(spark, "cas:revert") {
                    StatusStore.casMerge(
                      StatusStore.revertToPending(
                        winners.select("event_id", "guest_id"),
                        java.time.Instant.ofEpochMilli(0L).toString), statusDir)
                  }
                  throw e
              }
            }
            if (n.overlapKeys > 0) JobLabel(spark, "cas:delivered") {
              StatusStore.casMerge(StatusStore.markDelivered(
                dupKeys.join(triggerKeys, StatusKey, "left_semi")), statusDir)
            }
          }
        }
      }
    val spark = out.sparkSession
    val was = spark.conf.getOption(NoDataBatches)
    spark.conf.set(NoDataBatches, "false")
    try writer.start()
    finally was.fold(spark.conf.unset(NoDataBatches))(spark.conf.set(NoDataBatches, _))
  }
}
