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

  test("batch read: every shard line becomes a row with provenance") {
    val dir = Files.createTempDirectory("graft-shards").toString
    writeShard(dir, "shard-000.json", Seq(18L, 19L))
    writeShard(dir, "shard-001.json", Seq(20L))
    val df = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
    assert(df.count() == 3)
    assert(df.select("shard_file").distinct().count() == 2)
    val parsed = df.select(
      from_json(col("value"), Model.envelopeSchema).as("r"))
      .select(col("r.eventID")).collect().map(_.getString(0)).toSet
    assert(parsed == Set("r18", "r19", "r20"))
  }

  test("batch read pushes shard_file filters down to file pruning") {
    val dir = Files.createTempDirectory("graft-shards-pd").toString
    writeShard(dir, "shard-000.json", Seq(18L, 19L))
    writeShard(dir, "shard-001.json", Seq(20L))
    writeShard(dir, "other-000.json", Seq(21L))

    // unit level: the ScanBuilder prunes planned partitions. Predicates
    // arrive in V2 form (SupportsPushDownV2Filters) — build them the
    // way catalyst's translation does: column ref + string literal.
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    def strPred(name: String, column: String, v: String) = new Predicate(name,
      Array(Expressions.column(column), Expressions.literal(v)))
    val b = new graft.sources.ShardScanBuilder(dir)
    val unsupported = new Predicate("=",
      Array(Expressions.column("line_no"),
        Expressions.literal(java.lang.Long.valueOf(0L))))
    val residual = b.pushPredicates(Array(
      strPred("STARTS_WITH", "shard_file", s"$dir/shard-"),
      unsupported)) // non-shard_file → residual
    assert(residual.toSeq == Seq(unsupported))
    assert(b.pushedPredicates().length == 1)
    val planned = b.build().asInstanceOf[graft.sources.ShardScan].prunedFiles
    assert(planned == Seq(s"$dir/shard-000.json", s"$dir/shard-001.json"))

    // end to end: the filtered query returns exactly the pruned files' rows
    val rows = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
      .filter(col("shard_file").startsWith(s"$dir/shard-"))
      .select(from_json(col("value"), Model.envelopeSchema).as("r"))
      .select(col("r.eventID")).collect().map(_.getString(0)).toSet
    assert(rows == Set("r18", "r19", "r20"))
  }

  test("batch read answers COUNT(*) from the source without materializing rows") {
    val dir = Files.createTempDirectory("graft-shards-agg").toString
    writeShard(dir, "shard-000.json", Seq(18L, 19L))
    writeShard(dir, "shard-001.json", Seq(20L))
    writeShard(dir, "other-000.json", Seq(21L))
    val df = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()

    // plain count: the scan relation's read schema must be the pushed
    // partial-count column, NOT the row schema — proof the aggregate
    // reached the source and no `value` string was ever built
    val q = df.groupBy().count()
    val scanSchemas = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema()
    }
    assert(scanSchemas.nonEmpty)
    assert(scanSchemas.head.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType))
    assert(!scanSchemas.head.fieldNames.contains("value"))
    assert(q.collect().head.getLong(0) == 4L)

    // composes with pushed file filters: count only the pruned files,
    // and the FILTERED count must still build the partial-count scan —
    // this is what V2 predicate pushdown buys (under the V1 Filter
    // interface the pushed filter lingered as a plan residual and
    // Spark skipped aggregate pushdown for every filtered count)
    val filtered = df.filter(col("shard_file").startsWith(s"$dir/shard-"))
      .groupBy().count()
    val filteredScans = filtered.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema()
    }
    assert(filteredScans.nonEmpty)
    assert(!filteredScans.head.fieldNames.contains("value"),
      "filtered COUNT(*) fell back to a row scan — aggregate pushdown lost")
    assert(filtered.collect().head.getLong(0) == 3L)

    // equality and IN predicates prune too (the other keepFile shapes)
    val eq = df.filter(col("shard_file") === s"$dir/shard-001.json")
      .groupBy().count()
    assert(eq.collect().head.getLong(0) == 1L)
    val in = df.filter(col("shard_file").isin(
      s"$dir/shard-000.json", s"$dir/other-000.json")).groupBy().count()
    assert(in.collect().head.getLong(0) == 3L)

    // grouped aggregates are declined: the full row scan still works
    val grouped = df.groupBy(col("shard_file")).count()
      .collect().map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(grouped == Map("shard-000.json" -> 2L, "shard-001.json" -> 1L,
      "other-000.json" -> 1L))
  }

  test("batch read prunes unrequested columns down to the reader") {
    val dir = Files.createTempDirectory("graft-shards-prune").toString
    writeShard(dir, "shard-000.json", Seq(18L, 19L))
    val df = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
      .select(col("line_no"))
    // plan level: the v2 scan's output is just the pruned column —
    // the payload string is never materialized
    val scanOutput = df.queryExecution.executedPlan.collectLeaves()
      .map(_.output.map(_.name)).head
    assert(scanOutput == Seq("line_no"), s"scan emits $scanOutput")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
  }

  test("batch read pushes a partial limit: readers stop early, result stays exact") {
    val dir = Files.createTempDirectory("graft-shards-limit").toString
    writeShard(dir, "shard-000.json", Seq(18L, 19L, 20L))
    writeShard(dir, "shard-001.json", Seq(21L, 22L))
    val df = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load().limit(2)
    // correctness: exactly 2 rows survive the global limit
    assert(df.count() == 2)
    // unit level: the reader caps rows per partition at the limit
    val b = new graft.sources.ShardScanBuilder(dir)
    assert(!b.pushLimit(2)) // partial push: Spark keeps the global limit
    val scan = b.build().asInstanceOf[graft.sources.ShardScan]
    val parts = scan.toBatch.planInputPartitions()
    val factory = scan.toBatch.createReaderFactory()
    val firstPartRows = Iterator.continually {
      val r = factory.createReader(parts.head)
      r
    }.take(1).flatMap { r =>
      Iterator.continually(r.next()).takeWhile(identity).map(_ => 1)
    }.sum
    assert(firstPartRows == 2, s"reader emitted $firstPartRows rows, limit was 2")
  }

  test("micro-batch stream: files appended later arrive as later batches") {
    val dir = Files.createTempDirectory("graft-shards2").toString
    writeShard(dir, "shard-000.json", Seq(28L, 578L))
    val raw = spark.readStream.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
    val envelope = raw.select(
      from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*")
    val q = StreamPipeline.outcomes(envelope).writeStream
      .outputMode(OutputMode.Append).format("memory")
      .queryName("shard_outcomes")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      // a new shard lands (as in a live stream) → consumed as a new batch
      writeShard(dir, "shard-001.json", Seq(1128L))
      q.processAllAvailable()
      val out = spark.table("shard_outcomes")
        .select("recordId", "action").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out("r28") == "email_triggered")
      assert(out("r578") == "duplicate_prevented")   // same batch
      assert(out("r1128") == "duplicate_prevented")  // state across batches
    } finally q.stop()
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

  test("batch write: staged two-phase commit publishes shards + manifest, round-trips") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink").toString
    val values = (1 to 20).map(i => s"""{"k":$i}""")
    values.toDF("value").repartition(4)
      .write.format(classOf[ShardStreamSource].getName)
      .option("path", dir).mode("append").save()
    val files = Files.list(Paths.get(dir)).iterator()
    val names = Iterator.continually(files)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString).toSeq
    assert(names.count(_.startsWith("shard-")) == 4)
    assert(names.count(_.startsWith("_manifest-")) == 1)
    assert(!names.exists(_.startsWith(".staging")) ||
      Files.list(Paths.get(dir, ".staging")).count() == 0)
    // manifest row counts total the write
    val manifest = Files.readAllLines(
      Paths.get(dir, names.find(_.startsWith("_manifest-")).get))
    assert(manifest.size == 4)
    // the reader sees exactly the written payloads and never the manifest
    val back = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
    assert(back.select("value").as[String].collect().sorted
      === values.sorted.toArray)
    assert(back.select("shard_file").distinct().count() == 4)
  }

  test("batch write: a manifest temp left by a crashed commit is invisible and is not a manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink-torn").toString
    val values = (1 to 6).map(i => s"""{"k":$i}""")
    values.toDF("value").repartition(2)
      .write.format(classOf[ShardStreamSource].getName)
      .option("path", dir).mode("append").save()
    assert(!DirIO.listNames(Paths.get(dir)).exists(_.startsWith("._manifest-")))
    // a second job that died after writing its manifest temp and
    // before linking it (the name Generations.commit gives its temp)
    val crashed = java.util.UUID.randomUUID()
    Files.write(Paths.get(dir, s"._manifest-$crashed.tmp-$crashed"),
      s"""{"shard":"shard-$crashed-00000.json","rows":1}\n""".getBytes("UTF-8"))
    val names = DirIO.listNames(Paths.get(dir))
    assert(names.count(_.startsWith("_manifest-")) == 1, names)
    assert(ShardStreamSource.sortedShards(dir)
      .map(p => Paths.get(p).getFileName.toString)
      .count(_.startsWith("shard-")) == 2)
    assert(ShardStreamSource.sortedShards(dir).size == 2)
    val back = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
    assert(back.select("value").as[String].collect().sorted
      === values.sorted.toArray)
  }

  test("batch write: extra columns are accepted, only `value` lands in the shard") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink2").toString
    Seq(("""{"a":1}""", "ignored", 7L)).toDF("value", "extra", "n")
      .write.format(classOf[ShardStreamSource].getName)
      .option("path", dir).mode("append").save()
    val back = spark.read.format(classOf[ShardStreamSource].getName)
      .option("path", dir).load()
    assert(back.select("value").as[String].collect().toSeq ==
      Seq("""{"a":1}"""))
  }

  test("batch write: aborted task leaves no staged or visible output") {
    import graft.sources.{ShardCommitMessage, ShardWriterFactory}
    val dir = Files.createTempDirectory("graft-sink3").toString
    val factory = ShardWriterFactory(dir, "test-write", 0)
    val w = factory.createWriter(0, 42L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("{}")))
    w.abort()
    // staged file gone; nothing published; a second attempt can retry
    assert(Files.list(Paths.get(dir, ".staging", "test-write")).count() == 0)
    val w2 = factory.createWriter(0, 43L)
    w2.write(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("""{"ok":1}""")))
    val msg = w2.commit().asInstanceOf[ShardCommitMessage]
    assert(msg.rows == 1L && msg.partitionId == 0)
    assert(Files.isRegularFile(Paths.get(msg.stagedPath)))
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
