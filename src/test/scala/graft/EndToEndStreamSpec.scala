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

    // every batch id committed (the watermark machinery appends empty
    // batches — also committed), and the restarted query continued the
    // id sequence instead of restarting it, which would have been
    // skipped as replays. The sink compacts its commit log after each
    // commit, so the log is one high-water mark at q2's last batch id.
    val last1 = q1.lastProgress.batchId
    val last2 = q2.lastProgress.batchId
    assert(last2 > last1, s"q1 ended at batch $last1, q2 at $last2")
    val log = s"$base/jobs/_txn"
    assert(DirIO.listNames(Paths.get(log)) == List("hwm"))
    assert(graft.sink.EmailJobSink.TxnLog.highWaterMark(log) == last2)
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
