package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.model.Model
import graft.pipeline.MatchFixture
import graft.sources.ShardStreamSource
import graft.streaming.StreamPipeline

/** The DSv2 shard-file micro-batch source, end to end: JSON shards →
  * source → from_json decode → keyed state machine. */
class ShardSourceSpec extends SparkSpec {

  /** Write one shard file holding the fixture envelopes for `ks`. */
  private def writeShard(dir: String, name: String, ks: Seq[Long]): Unit = {
    import spark.implicits._
    val lines = MatchFixture.envelope(
      ks.map(k => (k, s"Customer#$k")).toDF("c_custkey", "c_name"))
      .select(to_json(struct(col("*"))).as("j"))
      .collect().map(_.getString(0))
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  test("micro-batch stream: files appended later arrive as later batches") {
    val dir = Files.createTempDirectory("graft-shards2").toString
    writeShard(dir, "shard-000.json", Seq(28L, 578L))
    val raw = spark.readStream.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
    // the source's own rows, undecoded: payload plus provenance
    val rawQ = raw.writeStream.format("memory").queryName("shard_raw")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck-raw").toString)
      .start()
    val envelope = raw.select(
      from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*")
    val q = StreamPipeline.outcomes(envelope).writeStream
      .outputMode(OutputMode.Append).format("memory")
      .queryName("shard_outcomes")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // (start, end) offsets of the raw query's batches that read rows
    def rawBatches = rawQ.recentProgress.filter(_.numInputRows > 0)
      .map(p => p.sources.head.startOffset -> p.sources.head.endOffset).toSeq
    def rawRows = spark.table("shard_raw").collect().map { r =>
      (Paths.get(r.getAs[String]("shard_file")).getFileName.toString,
        r.getAs[Long]("line_no"), r.getAs[String]("value"))
    }.toSet
    // what the raw query must hold for `names`: each line, 0-based
    def linesOf(names: String*) = names.flatMap { n =>
      Files.readAllLines(Paths.get(dir, n)).toArray(Array.empty[String])
        .zipWithIndex.map { case (v, i) => (n, i.toLong, v) }
    }.toSet
    try {
      q.processAllAvailable(); rawQ.processAllAvailable()
      assert(rawBatches == Seq((null, "1")))
      assert(rawRows == linesOf("shard-000.json"))
      assert(rawRows.size == 2)

      // staging (`.`) and metadata (`_`) names are never data: no rows
      // and no offset step
      writeShard(dir, ".shard-001.json.tmp", Seq(18L))
      writeShard(dir, "_manifest", Seq(19L))
      assert(ShardStreamSource.sortedShards(dir).size == 1)
      q.processAllAvailable(); rawQ.processAllAvailable()
      assert(rawBatches == Seq((null, "1")))
      assert(rawRows == linesOf("shard-000.json"))

      // a new shard lands (as in a live stream) by a rename from its `.`
      // name → consumed as the next batch
      writeShard(dir, ".shard-002.json.tmp", Seq(1128L))
      Files.move(Paths.get(dir, ".shard-002.json.tmp"),
        Paths.get(dir, "shard-002.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable(); rawQ.processAllAvailable()
      assert(rawBatches == Seq((null, "1"), ("1", "2")))
      assert(rawRows == linesOf("shard-000.json", "shard-002.json"))
      val out = spark.table("shard_outcomes")
        .select("recordId", "action").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out.keySet == Set("r28", "r578", "r1128"))
      assert(out("r28") == "email_triggered")
      assert(out("r578") == "duplicate_prevented")   // same batch
      assert(out("r1128") == "duplicate_prevented")  // state across batches
    } finally { q.stop(); rawQ.stop() }
  }

  test("restart from checkpoint: offsets and dedup state both survive") {
    val dir = Files.createTempDirectory("graft-shards3").toString
    val base = Files.createTempDirectory("graft-restart").toString
    def start() = {
      val raw = spark.readStream.format(classOf[ShardStreamSource].getName)
        .option("path", dir).load()
      val envelope = raw.select(
        from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*")
      // the durable foreachBatch delivery path (memory sink can't recover)
      StreamPipeline.casSinkTo(StreamPipeline.outcomes(envelope), s"$base/ck",
        s"$base/jobs", s"$base/status")
    }
    // run 1: k=28 triggers its email key, then the process "dies"
    writeShard(dir, "shard-000.json", Seq(28L))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // run 2, same checkpoint: a new shard with the same email key
    // (1128 ≡ 28 mod 550) plus a fresh key (18)
    writeShard(dir, "shard-001.json", Seq(1128L, 18L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val jobs = spark.read.parquet(s"$base/jobs").collect()
        .map(_.getAs[String]("record_id")).toSet
      // 28's job from run 1 not duplicated; 1128 blocked by RESTORED state
      assert(jobs == Set("r28", "r18"), s"jobs: $jobs")
      val status = graft.sink.StatusStore.read(spark, s"$base/status").get.collect()
        .map(r => r.getAs[String]("guest_id") ->
          r.getAs[String]("delivery_status")).toMap
      assert(status("g28") == "processing")
      assert(status("g1128") == "delivered") // duplicate ⇒ marked delivered
      assert(status("g18") == "processing")
    } finally q2.stop()
  }

  test("the offset poll closes its directory listing: 1,000 sortedShards calls open no descriptor") {
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs a /proc/self/fd listing")
    val dir = Files.createTempDirectory("graft-shard-fds").toString
    writeShard(dir, "shard-000.json", Seq(18L))
    writeShard(dir, "shard-001.json", Seq(28L))
    def open(): Int = { System.gc(); DirIO.listNames(fds).size }
    val before = open()
    (1 to 1000).foreach { _ =>
      assert(ShardStreamSource.sortedShards(dir).size == 2)
    }
    // an unclosed Files.list keeps its descriptor past GC: a leak shows
    // as >= 1,000 here; the margin absorbs the session's own threads
    val grown = open() - before
    assert(grown < 100, s"$grown descriptors left open by 1,000 polls")
  }
}
