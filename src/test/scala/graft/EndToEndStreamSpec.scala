package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.model.Model
import graft.pipeline.MatchFixture
import graft.sources.ShardStreamSource
import graft.streaming.StreamPipeline

/** The flagship end-to-end streaming test: custom DSv2 shard source →
  * TTL'd keyed state machine → CCAS sink, through a MID-STREAM RESTART,
  * asserting source offsets, dedup state, and sink idempotency in ONE
  * query (previously verified pairwise across ShardSourceSpec /
  * StreamPipelineSpec / SinkSpec).
  *
  * The restart proof is observational: if offsets did NOT restore, the
  * source would redeliver shard-000 and r28 would become a duplicate,
  * flipping g28's status to 'delivered' — so g28 still 'processing'
  * after the restart pins the offset log; r1128 (same email key as 28,
  * never seen by the restarted process) turning duplicate pins the
  * state store; jobs staying at one-row-per-event pins the sink. */
class EndToEndStreamSpec extends SparkSpec {

  private def writeShard(dir: String, name: String, ks: Seq[Long]): Unit = {
    import spark.implicits._
    val lines = MatchFixture.envelope(
      ks.map(k => (k, s"Customer#$k")).toDF("c_custkey", "c_name"))
      .select(to_json(struct(col("*"))).as("j"))
      .collect().map(_.getString(0))
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private def startQuery(shardDir: String, base: String) = {
    val raw = spark.readStream.format(classOf[ShardStreamSource].getName)
      .option("path", shardDir).load()
    val envelope = raw.select(
      from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*")
    // TTL far beyond the fixture's event times: state must survive, not expire
    StreamPipeline.casSinkTo(
      StreamPipeline.outcomesWithTtl(envelope, ttlMs = 10_000_000_000L),
      s"$base/ck", s"$base/jobs", s"$base/status")
  }

  test("shard source → TTL state machine → CCAS sink survives a restart") {
    val shardDir = Files.createTempDirectory("graft-e2e-shards").toString
    val base = Files.createTempDirectory("graft-e2e").toString

    // ---- phase 1: r28 triggers, r578 is an IN-batch duplicate --------
    writeShard(shardDir, "shard-000.json", Seq(28L, 578L))
    val q1 = startQuery(shardDir, base)
    try q1.processAllAvailable() finally q1.stop()

    val jobs1 = spark.read.parquet(s"$base/jobs").collect()
    assert(jobs1.length == 1 && jobs1.head.getAs[String]("dedup_id").startsWith("ev28-"))
    val st1 = graft.sink.StatusStore.read(spark, s"$base/status").get.collect()
      .map(r => r.getAs[String]("guest_id") -> r.getAs[String]("delivery_status")).toMap
    assert(st1 == Map("g28" -> "processing", "g578" -> "delivered"))

    // ---- phase 2 (after restart): r1128 shares 28's email key and is
    // a CROSS-batch duplicate only if the state store restored; r1146
    // is a fresh key and must trigger exactly one new job ------------
    writeShard(shardDir, "shard-001.json", Seq(1128L, 1146L))
    val q2 = startQuery(shardDir, base)
    try q2.processAllAvailable() finally q2.stop()

    val jobs2 = spark.read.parquet(s"$base/jobs").collect()
      .map(_.getAs[String]("dedup_id")).sorted
    assert(jobs2.length == 2, s"expected 2 jobs, got ${jobs2.mkString(",")}")
    assert(jobs2.exists(_.startsWith("ev28-")) && jobs2.exists(_.startsWith("ev46-")))

    val st2 = graft.sink.StatusStore.read(spark, s"$base/status").get.collect()
      .map(r => r.getAs[String]("guest_id") -> r.getAs[String]("delivery_status")).toMap
    // g28 'processing' ⇒ shard-000 was NOT redelivered (offsets held);
    // g1128 'delivered' ⇒ the dedup state survived the restart;
    // g1146 'processing' ⇒ the new key went through the full CAS path
    assert(st2 == Map("g28" -> "processing", "g578" -> "delivered",
      "g1128" -> "delivered", "g1146" -> "processing"))

    // every batch id committed, and the restarted query continued the
    // id sequence instead of restarting it, which would have been
    // skipped as replays. The sink's commit log keeps one marker, the
    // high-water mark at q2's last batch id.
    val last1 = q1.lastProgress.batchId
    val last2 = q2.lastProgress.batchId
    assert(last2 > last1, s"q1 ended at batch $last1, q2 at $last2")
    val log = s"$base/jobs/_txn"
    assert(DirIO.listNames(Paths.get(log)) == List(s"batch-$last2"))
    assert(graft.sink.EmailJobSink.TxnLog.highWaterMark(log) == last2)
  }

  test("batch split: files of 1, 7 and all records give the same jobs and status table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // k and k+550 share an email key. Split into files of 7, the feed is
    // [17 .. 28] [32 .. 583] [1103]: the duplicates 568 and 578 come a
    // file after their triggers 18 and 28, and 1103, a null-guest
    // duplicate of 553 whose status key is (ev3, ""), comes a file after
    // 553. 582 is given 32's guest, as a second update of one guest row:
    // its status key (ev32, g32) is triggered by 32 and marked duplicate
    // by 582 in the same file. Files of 1 put every record in its own
    // micro-batch; one file puts them all in one.
    val feed = Seq(17L, 18L, 19L, 20L, 21L, 22L, 28L,
      32L, 33L, 553L, 568L, 578L, 582L, 583L, 1103L).map(k => (k, s"Customer#$k"))
    def envelope(customer: org.apache.spark.sql.DataFrame) =
      MatchFixture.envelope(customer.toDF("c_custkey", "c_name"))
        .withColumn("dynamodb", when(col("dynamodb.SequenceNumber") === "582",
          col("dynamodb").withField("NewImage.guestId", struct(lit("g32").as("S"))))
          .otherwise(col("dynamodb")))
    val twin = StreamPipeline.outcomes(envelope(feed.toDF()))
      .select("recordId", "eventId", "guestId", "action").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(twin("r32") == (("ev32", "g32", "email_triggered")))
    assert(twin("r582") == (("ev32", "g32", "duplicate_prevented")))
    assert(twin("r28") == (("ev28", "g28", "email_triggered")))
    assert(twin("r578") == (("ev28", "g578", "duplicate_prevented")))
    assert(twin("r1103") == (("ev3", "", "duplicate_prevented")))

    def run(perFile: Int): (Set[(String, String)], Set[(String, String, String, String)]) = {
      val base = Files.createTempDirectory(s"graft-split-$perFile").toString
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val q = StreamPipeline.casSinkTo(
        StreamPipeline.outcomesWithTtl(envelope(input.toDF()), ttlMs = 10_000_000_000L),
        s"$base/ck", s"$base/jobs", s"$base/status")
      try feed.grouped(perFile).foreach { file =>
        input.addData(file: _*)
        q.processAllAvailable()
      } finally q.stop()
      val jobs = spark.read.parquet(s"$base/jobs").select("record_id", "dedup_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val status = graft.sink.StatusStore.read(spark, s"$base/status").get.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      (jobs, status)
    }
    val (jobs, status) = run(feed.size)
    assert(jobs.map(_._1) == twin.collect { case (r, (_, _, "email_triggered")) => r }.toSet)
    assert(status.contains(("ev32", "g32", "delivered", null)))
    assert(status.contains(("ev28", "g28", "processing", null)))
    assert(status.contains(("ev3", "", "delivered", null)))
    Seq(7, 1).foreach { n =>
      val (splitJobs, splitStatus) = run(n)
      assert(splitJobs == jobs, s"files of $n: jobs differ from one file")
      assert(splitStatus == status, s"files of $n: status differs from one file")
    }
  }

  test("a query started on an empty shard directory writes the jobs of the first file landed") {
    val shardDir = Files.createTempDirectory("graft-e2e-empty").toString
    val base = Files.createTempDirectory("graft-e2e-empty-sink").toString
    val q = startQuery(shardDir, base)
    try {
      // the data-less first batch leaves only the `_txn` log under jobs
      q.processAllAvailable()
      writeShard(shardDir, "shard-000.json", Seq(28L))
      q.processAllAvailable()
    } finally q.stop()
    val jobs = spark.read.parquet(s"$base/jobs").collect()
    assert(jobs.length == 1 && jobs.head.getAs[String]("dedup_id").startsWith("ev28-"))
  }
}
