package graft

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.pipeline.MatchFixture
import graft.streaming.StreamPipeline

/** Micro-batch-driven tests of the keyed state machine: in-batch dedup,
  * cross-batch dedup (state persistence), and pass-through of stateless
  * skips. */
class StreamPipelineSpec extends SparkSpec {

  private def envelopeFor(ks: Seq[Long]) = {
    import spark.implicits._
    MatchFixture.envelope(
      ks.map(k => (k, s"Customer#$k")).toDF("c_custkey", "c_name"))
  }

  /** Runs `out` into the memory sink `name`, checkpointed in a fresh
    * temp dir. */
  private def toMemory(out: Dataset[_], name: String): StreamingQuery =
    out.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()

  test("state machine dedups within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // feed raw customer keys; build the envelope on the stream
    val input = MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(
      input.toDF().toDF("c_custkey", "c_name"))
    val q = toMemory(StreamPipeline.outcomes(envelope), "outcomes_test")
    try {
      // batch 0: k=28 triggers; k=578 same (event, email) → in-batch dup
      input.addData((28L, "Customer#28"), (578L, "Customer#578"))
      q.processAllAvailable()
      // batch 1: k=1128 ≡ 28 (mod 550), same key again → cross-batch dup
      input.addData((1128L, "Customer#1128"))
      q.processAllAvailable()

      val out = spark.table("outcomes_test")
        .select("recordId", "action").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out("r28") == "email_triggered")
      assert(out("r578") == "duplicate_prevented")
      assert(out("r1128") == "duplicate_prevented")
    } finally q.stop()
  }

  test("stateless skips flow through unchanged (REMOVE, no image, error)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(
      input.toDF().toDF("c_custkey", "c_name"))
    val q = toMemory(StreamPipeline.outcomes(envelope), "outcomes_test2")
    try {
      input.addData((19L, "Customer#19"), (20L, "Customer#20"),
        (17L, "Customer#17"))
      q.processAllAvailable()
      val out = spark.table("outcomes_test2")
        .select("recordId", "action").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out("r19") == "skipped")
      assert(out("r20") == "skipped")
      assert(out("r17") == "error")
    } finally q.stop()
  }

  test("event-time TTL evicts dedup state; the key can trigger again after expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(
      input.toDF().toDF("c_custkey", "c_name"))
    // synthetic event time = seq = customer key, 1s per unit; ttl 60s
    val q = toMemory(
      StreamPipeline.outcomesWithTtl(envelope, ttlMs = 60000L), "ttl_test")
    try {
      // batch 0: k=28 triggers; its timer is set to evt(28s) + 60s = 88s
      input.addData((28L, "Customer#28"))
      q.processAllAvailable()
      // batch 1: future key; after this batch the watermark is 2000s
      input.addData((2000L, "Customer#2000"))
      q.processAllAvailable()
      // batch 2: executes with watermark 2000s > 88s → 28's due timer
      // fires (its key has no data in the batch) → state evicted
      input.addData((2001L, "Customer#2001"))
      q.processAllAvailable()
      // batch 3: same email key as 28 (3878 ≡ 28 mod 550), event time
      // ahead of the watermark (not late) → state is gone, so it
      // triggers AGAIN instead of duplicate_prevented
      input.addData((3878L, "Customer#3878"))
      q.processAllAvailable()
      val out = spark.table("ttl_test")
        .select("recordId", "action").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out("r28") == "email_triggered")
      assert(out("r3878") == "email_triggered")
    } finally q.stop()
  }

  test("TTL outcomes do not depend on no-data micro-batches; casSinkTo leaves the setting as it was") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val was = spark.conf.getOption(key)
    try {
      for (noData <- Seq(true, false); spacer <- Seq(false, true)) {
        val input = MemoryStream[(Long, String)]
        val envelope = MatchFixture.envelope(
          input.toDF().toDF("c_custkey", "c_name"))
        val name = s"ttl_nodata_${noData}_spacer_$spacer"
        spark.conf.set(key, noData.toString)
        val q = toMemory(
          StreamPipeline.outcomesWithTtl(envelope, ttlMs = 60000L), name)
        try {
          // 28 triggers (expiry 28s + 60s); 2000 moves the watermark to
          // 2000s; the spacer is a batch in which 28's timeout fires;
          // 3878 has 28's email key and arrives after the expiry
          (Seq(28L, 2000L) ++ (if (spacer) Seq(2001L) else Nil) :+ 3878L).foreach { k =>
            input.addData((k, s"Customer#$k"))
            q.processAllAvailable()
          }
          val out = spark.table(name)
            .select("recordId", "action").collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap
          assert(out("r28") == "email_triggered")
          assert(out("r3878") == "email_triggered",
            s"noDataMicroBatches=$noData spacer=$spacer: r3878 ${out("r3878")}")
        } finally q.stop()
      }
      // the CDC sink turns no-data batches off for its own query only
      spark.conf.set(key, "true")
      val input = MemoryStream[graft.streaming.StreamOutcome]
      val base = Files.createTempDirectory("graft-nodata-conf").toString
      StreamPipeline.casSinkTo(input.toDS(), s"$base/ck", s"$base/jobs",
        s"$base/status").stop()
      assert(spark.conf.get(key) == "true")
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streaming metrics: observed counters arrive once per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new graft.metrics.Observability.StreamingMetricsListener(
      (_, row) => rows.add(row), name = "stream_metrics",
      owner = Some(spark))
    spark.streams.addListener(listener)
    val input = MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(
      input.toDF().toDF("c_custkey", "c_name"))
    val q = toMemory(graft.metrics.Observability.observed(
      StreamPipeline.outcomes(envelope).toDF(), "stream_metrics"), "metrics_test")
    try {
      // 28 triggers, 19 skips, 17 errors → one observed row for the batch
      input.addData((28L, "Customer#28"), (19L, "Customer#19"),
        (17L, "Customer#17"))
      q.processAllAvailable()
      // listener events are delivered async — wait for the row
      val deadline = System.nanoTime() + 10_000_000_000L
      while (rows.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!rows.isEmpty, "no observed metrics row arrived")
      val m = rows.peek()
      assert(m.getAs[Long]("total_records") == 3L)
      assert(m.getAs[Long]("emails_triggered") == 1L)
      assert(m.getAs[Long]("skipped_records") == 1L)
      assert(m.getAs[Long]("error_records") == 1L)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("batch mode gives the same outcomes as the batch pipeline") {
    val env = envelopeFor(Seq(18L, 568L, 17L, 19L))
    val streamed = StreamPipeline.outcomes(env)
      .select(col("recordId"), col("action")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed("r18") == "email_triggered")
    assert(streamed("r568") == "duplicate_prevented")
    assert(streamed("r17") == "error")
    assert(streamed("r19") == "skipped")
  }
}
