package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.decode.DynamoDecode
import graft.metrics.Observability
import graft.rules.Rules

/** Batch assembly of the CDC match-notification pipeline: the reference's
  * operator chain O2..O15 (SURVEY.md §2.1) as composable DataFrame
  * transforms. Streaming assembly lives in graft.streaming.
  *
  * Scale posture: everything up to the dedup join is a pure projection /
  * filter chain (whole-stage codegen, no exchange). The dedup lookup (O7)
  * is the single shuffle: a distinct over the status keys and an equi-join
  * on (event_id, guest_email). Both sides hash-partition on the same keys,
  * and AQE broadcasts the (small, post-filter, post-distinct) status side
  * when it fits — at 100 TB the status table is still orders of magnitude
  * smaller than the stream batch because it holds only keys in a terminal
  * or in-flight status.
  */
object MatchPipeline {

  /** O4 on both images + envelope metadata → flat decoded frame. */
  def decoded(envelope: DataFrame): DataFrame = {
    val img = col("dynamodb").getField("NewImage")
    val old = col("dynamodb").getField("OldImage")
    envelope.select(
      Seq(
        col("eventID").as("record_id"),
        col("eventName").as("event_name"),
        // DynamoDB Streams order records per shard by SequenceNumber;
        // the reference's in-order batch loop (index.js:53) makes that
        // the intra-batch processing order.
        col("dynamodb").getField("SequenceNumber").cast("long").as("seq"),
        img.isNotNull.as("has_new_image")) ++
        DynamoDecode.decodeImage(img) ++
        DynamoDecode.decodeOldImage(old): _*)
  }

  /** O7's right side — the keys currently visible as processing / delivered
    * / sent (the reference's FilterExpression, index.js:114). */
  def statusKeys(dec: DataFrame): DataFrame =
    dec.filter(
        col("delivery_status").isin("processing", "delivered") ||
          col("email_status") === "sent")
      .select(col("event_id"), col("guest_email"))
      .distinct()

  /** O7 — dedup lookup, two layers exactly like the reference:
    *
    * 1. **Snapshot lookup** (equi-join): does any row of the state table
    *    already show (event_id, guest_email=lower(probe)) as
    *    processing/delivered/sent (index.js:107-141)? The probe email is
    *    lowercased, the stored one compared raw — the reference's
    *    case-quirk, preserved deliberately.
    * 2. **Intra-batch writes** (window): the reference processes records
    *    sequentially and writes delivery_status='processing' (triggered,
    *    index.js:448-497) or 'delivered' (duplicate, index.js:324-344)
    *    back to the table before the next record, so a later record in
    *    the same batch probing the same (event_id, lower(email)) finds
    *    the earlier write. A record blocks later probes iff it reaches
    *    the dedup check and is either a duplicate itself or passes the
    *    remaining validation/business rules (otherwise it writes
    *    nothing); its stored email only matches a lowercased probe when
    *    it is itself all-lowercase. A windowed conditional count over
    *    (event_id, lower(email)) ordered by stream sequence reproduces
    *    that chain exactly — blocked blockers add no new keys, since a
    *    lowercase blocker's key equals its own group key (already
    *    blocked by the same earlier writer) and an uppercase blocker's
    *    key can never equal any lowercased probe.
    *
    * Scale: both layers hash-partition on (event_id, lower(email)) —
    * the same exchange serves the join build and the window sort. */
  def withDupHit(dec: DataFrame, minMatches: Int,
      denyDomains: Seq[String], denyPrefixes: Seq[String]): DataFrame = {
    val st = statusKeys(dec)
      .withColumnRenamed("event_id", "s_event_id")
      .withColumnRenamed("guest_email", "s_guest_email")
      .withColumn("s_hit", lit(true))
    val lowerEmail = Rules.asciiLower(col("guest_email"))
    val snap = dec.join(st,
        col("event_id") === col("s_event_id") &&
          col("s_guest_email") === lowerEmail,
        "left")
      .withColumn("snap_dup", coalesce(col("s_hit"), lit(false)))
      .drop("s_event_id", "s_guest_email", "s_hit")

    val wouldWrite = col("snap_dup") || Rules.passesValidationAndRules(
      eventId = col("event_id"),
      guestId = col("guest_id"),
      guestName = col("guest_name"),
      guestEmail = col("guest_email"),
      deliveryStatus = col("delivery_status"),
      totalMatches = col("total_matches"),
      minMatches = minMatches,
      denyDomains = denyDomains,
      denyPrefixes = denyPrefixes)
    val blocker = reachesDupCheck && wouldWrite &&
      col("guest_email") === lowerEmail
    val w = Window
      .partitionBy(col("event_id"), lowerEmail)
      .orderBy(col("seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    snap
      .withColumn("in_batch_dup",
        col("event_id").isNotNull && col("guest_email").isNotNull &&
          coalesce(sum(when(blocker, 1).otherwise(0)).over(w), lit(0)) > 0)
      .withColumn("dup_hit", col("snap_dup") || col("in_batch_dup"))
      .drop("snap_dup", "in_batch_dup")
  }

  /** Decode + dedup join + full rule cascade with thresholds read from
    * the session conf (graft.GraftConf — the reference's ENV CONFIG
    * block, index.js:11-23): `spark.graft.minMatches`,
    * `spark.graft.denyList.{domains,prefixes}`. */
  def decide(envelope: DataFrame): DataFrame = {
    val (minMatches, denyDomains, denyPrefixes) = confRules(envelope.sparkSession)
    decide(envelope, minMatches, denyDomains, denyPrefixes)
  }

  /** Decode + dedup join + full rule cascade → decoded frame with
    * (action, reason) attached. The cascade is one struct-valued CaseWhen
    * evaluated behind a projection boundary — see Rules.decisionStruct.
    * The threshold/deny-list also feed the in-batch blocker (withDupHit):
    * in the reference's sequential model a record that fails them writes
    * no status row, so it cannot block later records. */
  def decide(envelope: DataFrame, minMatches: Int,
      denyDomains: Seq[String] = Rules.DefaultDenyDomains,
      denyPrefixes: Seq[String] = Rules.DefaultDenyPrefixes): DataFrame = {
    val d = withDupHit(decoded(envelope), minMatches, denyDomains, denyPrefixes)
    val out = d
      .withColumn("decision",
        decision(col("dup_hit"), minMatches, denyDomains, denyPrefixes))
      .withColumn("action", col("decision").getField("action"))
      .withColumn("reason", col("decision").getField("reason"))
      .drop("decision")
    // ENABLE_DEBUG_LOGGING dump sites (index.js:38-40, 223-225): at
    // Spark scale the useful dump is the decided frame's schema +
    // optimized plan, not row payloads — zero jobs, driver-side only.
    graft.GraftLog.debugPlan("decide", out)
    out
  }

  /** The cascade's thresholds from the session conf — (minMatches,
    * denyDomains, denyPrefixes) — read after the fail-fast check of
    * every `spark.graft.*` conf, so a malformed deployment stops before
    * any record is processed. */
  def confRules(spark: SparkSession): (Int, Seq[String], Seq[String]) = {
    graft.GraftConf.validate(spark)
    (graft.GraftConf.minMatches(spark),
      graft.GraftConf.denyDomains(spark), graft.GraftConf.denyPrefixes(spark))
  }

  /** Whether a record reaches the O7 dedup lookup (Rules.reachesDupCheck)
    * over the decoded column names. */
  def reachesDupCheck: Column = Rules.reachesDupCheck(
    eventName = col("event_name"),
    hasNewImage = col("has_new_image"),
    parseError = col("parse_error"),
    emailStatus = col("email_status"),
    emailSent = col("email_sent"),
    deliveryStatus = col("delivery_status"),
    newMatches = col("new_matches"),
    oldEmailStatus = col("old_email_status"),
    oldEmailSent = col("old_email_sent"),
    oldDeliveryStatus = col("old_delivery_status"),
    oldTotalMatches = col("old_total_matches"))

  /** The full rule cascade (Rules.decisionStruct) over the decoded
    * column names, `dupHit` standing for the O7 verdict. The batch
    * pipeline passes its dedup join's hit; the stream passes false and
    * lets its state machine find the duplicates. */
  def decision(dupHit: Column, minMatches: Int,
      denyDomains: Seq[String], denyPrefixes: Seq[String]): Column =
    Rules.decisionStruct(
      eventName = col("event_name"),
      hasNewImage = col("has_new_image"),
      parseError = col("parse_error"),
      eventId = col("event_id"),
      guestId = col("guest_id"),
      guestName = col("guest_name"),
      guestEmail = col("guest_email"),
      emailStatus = col("email_status"),
      emailSent = col("email_sent"),
      deliveryStatus = col("delivery_status"),
      totalMatches = col("total_matches"),
      newMatches = col("new_matches"),
      oldEmailStatus = col("old_email_status"),
      oldEmailSent = col("old_email_sent"),
      oldDeliveryStatus = col("old_delivery_status"),
      oldTotalMatches = col("old_total_matches"),
      dupHit = dupHit,
      minMatches = minMatches,
      denyDomains = denyDomains,
      denyPrefixes = denyPrefixes)

  /** Per-record outcome — the reference's handler result rows
    * (index.js:63-68, 148-315). Takes a decide()d frame so callers can
    * share one materialization across the sibling queries. */
  def actions(decided: DataFrame): DataFrame =
    decided.select(col("record_id"), col("action"), col("reason"))

  /** O13/O14 — enriched email jobs for the triggered records. */
  def emailJobs(decided: DataFrame): DataFrame =
    EmailJobs.enrich(decided.filter(col("action") === "email_triggered"))

  /** O13's top-K slice, exploded to one row per kept match. */
  def topMatches(decided: DataFrame): DataFrame =
    EmailJobs.topMatches(decided.filter(col("action") === "email_triggered"))

  /** O8 + O11 — the status writes the batch would issue: duplicates are
    * marked delivered (index.js:324-344), triggered records transition to
    * processing (index.js:448-497). */
  def statusUpdates(decided: DataFrame): DataFrame =
    decided
      .filter(col("action").isin("duplicate_prevented", "email_triggered"))
      .select(
        col("record_id"),
        col("event_id"),
        col("guest_id"),
        when(col("action") === "duplicate_prevented", "delivered")
          .otherwise("processing").as("new_delivery_status"),
        when(col("action") === "duplicate_prevented", "duplicate_detected_at")
          .otherwise("email_triggered_at").as("touch_field"))

  /** O1's partial-batch-failure contract: the record ids of error rows,
    * returned to the stream source for redelivery
    * (batchItemFailures, index.js:94-97). */
  def batchFailures(decided: DataFrame): DataFrame =
    decided.filter(col("action") === "error")
      .select(col("record_id").as("item_identifier"))

  /** O15 — the per-batch metrics record (index.js:42-49): the
    * [[Observability.Counters]] as a single partial+final aggregation;
    * no keyed shuffle. */
  def metrics(decided: DataFrame): DataFrame =
    decided.agg(Observability.Counters.head, Observability.Counters.tail: _*)
}
