package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** O13 (enrichment projection + positional top-K slice, index.js:528-568)
  * and O14 (idempotent-intent envelope, index.js:570-611) as pure column
  * projections. The positional `slice(matchedImages, 1, 10)` preserves the
  * reference's producer-ordering assumption (index.js:529 — no re-sort).
  */
object EmailJobs {

  val GalleryPrefix = "https://hapzea.com/gallery/" // index.js:555

  def priority(totalMatches: Column): Column =
    when(totalMatches >= 10, "high").otherwise("normal") // index.js:563

  def delaySeconds(totalMatches: Column): Column =
    when(totalMatches >= 10, 0).otherwise(5) // index.js:599

  def dedupId(eventId: Column, email: Column): Column =
    concat(eventId, lit("-"), graft.rules.Rules.asciiLower(email)) // index.js:572

  def galleryUrl(eventId: Column, guestId: Column): Column =
    concat(lit(GalleryPrefix), eventId, lit("/"), guestId)

  /** Flat (oracle-friendly) projection of the email job scalars. */
  def enrich(triggered: DataFrame): DataFrame =
    triggered.select(
      col("record_id"),
      col("event_id"),
      col("guest_id"),
      col("guest_name"),
      col("guest_email"),
      col("guest_phone"),
      col("guest_registration_id").as("registration_id"),
      col("guest_selfie_url").as("selfie_url"),
      col("total_matches"),
      col("new_matches"),
      col("best_similarity"),
      col("average_similarity"),
      col("profile_quality"),
      galleryUrl(col("event_id"), col("guest_id")).as("gallery_url"),
      concat(lit("Event "), col("event_id")).as("event_label"),
      col("processed_at"),
      col("algorithm_version"),
      priority(col("total_matches")).as("priority"),
      delaySeconds(col("total_matches")).cast("int").as("delay_seconds"),
      dedupId(col("event_id"), col("guest_email")).as("dedup_id"),
      least(size(col("matched_images")), lit(10)).cast("int")
        .as("n_top_matches"))

  /** Positional top-10 slice with per-element field remap
    * (index.js:529-534), exploded to rows. */
  def topMatches(triggered: DataFrame): DataFrame =
    triggered
      .select(
        col("record_id"), col("event_id"), col("guest_id"),
        posexplode(slice(col("matched_images"), 1, 10)))
      .select(
        col("record_id"), col("event_id"), col("guest_id"),
        (col("pos") + 1).cast("int").as("match_rank"),
        col("col.pool_url").as("image_url"),
        col("col.pool_filename").as("filename"),
        col("col.similarity_score").as("similarity"),
        col("col.match_confidence").as("confidence"))

  /** The full nested email-job struct, shape-for-shape with
    * createEmailJob (index.js:536-567). `createdAt` is injected for
    * determinism (SURVEY.md §7.4: the reference stamps wall-clock time). */
  def emailJobStruct(createdAt: Column): Column = struct(
    col("event_id").as("eventId"),
    col("guest_id").as("guestId"),
    struct(
      col("guest_name").as("name"),
      col("guest_email").as("email"),
      col("guest_phone").as("phone"),
      col("guest_registration_id").as("registrationId"),
      col("guest_selfie_url").as("selfieUrl")).as("guestInfo"),
    struct(
      col("total_matches").as("totalMatches"),
      col("new_matches").as("newMatches"),
      col("best_similarity").as("bestSimilarity"),
      col("average_similarity").as("averageSimilarity"),
      col("profile_quality").as("profileQuality"),
      transform(slice(col("matched_images"), 1, 10), m => struct(
        m.getField("pool_url").as("imageUrl"),
        m.getField("pool_filename").as("filename"),
        m.getField("similarity_score").as("similarity"),
        m.getField("match_confidence").as("confidence"))).as("topMatches"))
      .as("matchInfo"),
    struct(
      galleryUrl(col("event_id"), col("guest_id")).as("galleryUrl"),
      concat(lit("Event "), col("event_id")).as("eventName"),
      col("processed_at").as("processedAt"),
      col("algorithm_version").as("algorithmVersion"),
      lit("face_search_results").as("triggerSource")).as("emailMetadata"),
    struct(
      createdAt.as("createdAt"),
      priority(col("total_matches")).as("priority"),
      lit(0).as("retryCount"),
      lit(3).as("maxRetries")).as("jobMetadata"))

  /** O14 — SQS-shaped envelope: JSON body + typed attribute columns +
    * delay (index.js:574-599). `queuedAt`/`nowMillis` injected for
    * determinism. */
  def sqsEnvelope(triggered: DataFrame, queuedAt: Column,
      nowMillis: Column): DataFrame = {
    val job = emailJobStruct(queuedAt)
    triggered.select(
      concat(lit("email_"), col("event_id"), lit("_"), col("guest_id"),
        lit("_"), nowMillis.cast("string")).as("id"),
      lit("photo_match_notification").as("type"),
      to_json(struct(
        concat(lit("email_"), col("event_id"), lit("_"), col("guest_id"),
          lit("_"), nowMillis.cast("string")).as("id"),
        lit("photo_match_notification").as("type"),
        job.as("payload"),
        struct(
          queuedAt.as("queuedAt"),
          lit("1.0").as("version"),
          dedupId(col("event_id"), col("guest_email")).as("dedupId"))
          .as("metadata"))).as("body"),
      // the six typed message attributes (index.js:588-598)
      lit("photo_match_notification").as("attr_message_type"),
      col("event_id").as("attr_event_id"),
      col("guest_id").as("attr_guest_id"),
      graft.rules.Rules.asciiLower(col("guest_email")).as("attr_guest_email"),
      priority(col("total_matches")).as("attr_priority"),
      col("total_matches").cast("string").as("attr_total_matches"),
      delaySeconds(col("total_matches")).cast("int").as("delay_seconds"),
      dedupId(col("event_id"), col("guest_email")).as("dedup_id"))
  }
}
