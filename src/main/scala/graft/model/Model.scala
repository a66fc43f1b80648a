package graft.model

import org.apache.spark.sql.types._

/** Data model for the CDC match-notification pipeline.
  *
  * The reference consumes DynamoDB Streams change records whose row images
  * are AttributeValue-encoded (every scalar wrapped in a single-entry struct
  * tagging the type: {S}, {N: numeric-as-string}, {BOOL}) — see
  * /root/reference/index.js:350-385. We model that envelope as a fixed,
  * all-nullable StructType and decode it with pure Column projections.
  */
object Model {

  /** One element of the embedded matched_images JSON array
    * (reference index.js:378, field names read at index.js:530-533). */
  val matchedImageSchema: StructType = StructType(Seq(
    StructField("pool_url", StringType),
    StructField("pool_filename", StringType),
    StructField("similarity_score", DoubleType),
    StructField("match_confidence", DoubleType)))

  private def av(tag: String, t: DataType): StructType =
    StructType(Seq(StructField(tag, t)))

  private val S    = av("S", StringType)
  private val N    = av("N", StringType) // DynamoDB numbers travel as strings
  private val BOOL = av("BOOL", BooleanType)

  /** AttributeValue-encoded row image of the face_match_results item:
    * the 24 fields the reference decodes (index.js:350-385). */
  val imageSchema: StructType = StructType(Seq(
    StructField("eventId", S),
    StructField("guestId", S),
    StructField("guest_name", S),
    StructField("guest_email", S),
    StructField("guest_phone", S),
    StructField("email_status", S),
    StructField("whatsapp_status", S),
    StructField("guest_selfie_url", S),
    StructField("guest_registration_id", S),
    StructField("delivery_status", S),
    StructField("processed_at", S),
    StructField("created_at", S),
    StructField("algorithm_version", S),
    StructField("update_mode", S),
    StructField("total_matches", N),
    StructField("new_matches", N),
    StructField("best_similarity", N),
    StructField("average_similarity", N),
    StructField("profile_quality", N),
    StructField("overall_score", N),
    StructField("email_sent", BOOL),
    StructField("whatsapp_sent", BOOL),
    StructField("matched_images", S),   // JSON-string-embedded array of structs
    StructField("match_statistics", S)  // JSON-string-embedded object (opaque)
  ))

  /** Full stream-record envelope (FIXTURES.md §1; reference index.js:53-57,
    * 143-164): event metadata + before/after images. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("eventID", StringType),
    StructField("eventName", StringType), // INSERT | MODIFY | REMOVE
    StructField("eventSourceARN", StringType),
    StructField("dynamodb", StructType(Seq(
      StructField("SequenceNumber", StringType), // per-shard order
      StructField("NewImage", imageSchema),
      StructField("OldImage", imageSchema))))))

  /** Per-record pipeline outcome (reference index.js:63-68). */
  val Actions: Seq[String] =
    Seq("email_triggered", "skipped", "duplicate_prevented", "error")
}
