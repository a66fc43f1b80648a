package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{MatchFixture, MatchPipeline}
import graft.streaming.StreamPipeline

/** End-to-end batch pipeline behavior on a tiny controlled fixture:
  * each outcome path, the intra-batch dedup chain, and the error path. */
class PipelineSpec extends SparkSpec {

  /** customer-shaped frame for chosen keys. */
  private def cust(ks: Long*): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, s"Customer#$k")).toDF("c_custkey", "c_name")
  }

  private def decidedFor(ks: Long*): Map[String, (String, String)] =
    MatchPipeline.decide(MatchFixture.envelope(cust(ks: _*)))
      .select("record_id", "action", "reason").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap

  /** The same map from the stream's keyed state machine, run in batch
    * mode. */
  private def streamedFor(ks: Long*): Map[String, (String, String)] =
    StreamPipeline.outcomes(MatchFixture.envelope(cust(ks: _*)))
      .select("recordId", "action", "reason").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap

  test("REMOVE events are skipped as irrelevant (k%10==9)") {
    val d = decidedFor(19)
    assert(d("r19")._1 == "skipped")
    assert(d("r19")._2 == "Event type REMOVE not relevant")
  }

  test("missing NewImage skips (k%17==3)") {
    val d = decidedFor(20) // 20%17==3, 20%10!=9, 20%3!=0 → INSERT w/o image
    assert(d("r20") == ("skipped", "No NewImage data"))
  }

  test("corrupt matched_images json → error (k%53==17)") {
    val d = decidedFor(17)
    assert(d("r17") == ("error", "Failed to parse DynamoDB record"))
  }

  test("intra-batch duplicate: same (event_id, email) later record prevented") {
    // k=18 and k=568 collide: both %50=18 → ev18, both %11=7 → guest7,
    // both map to hapzea.com, and both pass every other filter — the
    // earlier record triggers, the later one must see its status write.
    val d = decidedFor(18, 568)
    assert(d("r18")._1 == "email_triggered")
    assert(d("r568") ==
      ("duplicate_prevented", "Email job already exists for this address"))
  }

  test("spark.graft.minMatches raises the trigger threshold (ENV CONFIG, index.js:18)") {
    // k=18 triggers under the default threshold (previous test); with
    // the conf raised its match count is insufficient and the cascade
    // reports the configured bound in the reason string
    spark.conf.set(GraftConf.MinMatchesKey, "999")
    try {
      val d = decidedFor(18)
      assert(d("r18")._1 == "skipped")
      assert(d("r18")._2.startsWith("Insufficient matches: "))
      assert(d("r18")._2.endsWith(" < 999"))
      // the stream reads the same conf, so it skips the record alike
      assert(streamedFor(18)("r18") == d("r18"))
    } finally spark.conf.unset(GraftConf.MinMatchesKey)
    assert(decidedFor(18)("r18")._1 == "email_triggered") // default restored
    assert(streamedFor(18)("r18")._1 == "email_triggered")
  }

  test("spark.graft.denyList.domains extends the deny list at runtime") {
    spark.conf.set(GraftConf.DenyDomainsKey, "example.com,test.com,hapzea.com")
    try {
      val d = decidedFor(18)
      assert(d("r18") == ("skipped", "Test or invalid email address"))
      assert(streamedFor(18)("r18") == d("r18"))
    } finally spark.conf.unset(GraftConf.DenyDomainsKey)
  }

  test("metrics count all four action classes") {
    val m = MatchPipeline.metrics(
      MatchPipeline.decide(MatchFixture.envelope(cust(18, 568, 17, 19, 20))))
      .head
    assert(m.getLong(0) == 5)           // total
    assert(m.getLong(1) == 4)           // processed (error excluded)
    assert(m.getLong(2) == 1)           // triggered (k=18)
    assert(m.getLong(3) == 2)           // skipped (19, 20)
    assert(m.getLong(4) == 1)           // duplicates (568)
    assert(m.getLong(5) == 1)           // errors (17)
  }

  test("email job enrichment: gallery url, priority, dedup id") {
    val jobs = MatchPipeline.emailJobs(
      MatchPipeline.decide(MatchFixture.envelope(cust(18))))
      .collect()
    assert(jobs.length == 1)
    val j = jobs.head
    assert(j.getAs[String]("gallery_url") == "https://hapzea.com/gallery/ev18/g18")
    assert(j.getAs[String]("dedup_id") == "ev18-guest7@hapzea.com")
    assert(j.getAs[Int]("delay_seconds") == 5)
  }

  test("top matches are the positional first 10 with rank starting at 1") {
    val tm = MatchPipeline.topMatches(
      MatchPipeline.decide(MatchFixture.envelope(cust(18))))
      .orderBy("match_rank").collect()
    assert(tm.nonEmpty && tm.length <= 10)
    assert(tm.head.getAs[Int]("match_rank") == 1)
    assert(tm.head.getAs[String]("image_url").startsWith("https://pool/18/"))
  }
}
