package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.metrics.Observability
import graft.model.Model
import graft.pipeline.{MatchFixture, MatchPipeline}
import graft.rules.Rules
import graft.sink.StatusStore
import graft.sources.ShardStreamSource
import graft.streaming.{StreamOutcome, StreamPipeline}

/** The reference's path as one Lambda-style consumer of one shard:
  * shard files → `from_json(Model.envelopeSchema)` →
  * `StreamPipeline.outcomesWithTtl` → `Observability.observed` →
  * `StreamPipeline.casSinkTo`, driven in a closed loop. Each file is
  * landed by an atomic rename from a dot-prefixed name (which
  * ShardStreamSource skips), and the next file lands only after
  * `processAllAvailable` returns, i.e. after the data micro-batch and
  * the zero-row batch the TTL watermark adds have both committed —
  * the way an event-source mapping polls the next batch only after
  * the handler returns. */
object Cdc {

  /** Records per shard file of `cdc_small_batch`: the default
    * `BatchSize` of a Lambda DynamoDB-Streams event-source mapping,
    * where the per-file fixed cost dominates. */
  val SmallRecordsPerFile = 100
  /** Records per shard file of `cdc_large_batch`: a bulk batch, where
    * per-record work and the status table's size weigh as much as the
    * per-file fixed cost. */
  val LargeRecordsPerFile = 20000
  /** Every set-up lands one file of this size: starting the query and
    * committing its first file is the set-up a cold consumer pays. */
  val WarmRecords = 100
  val SetupReps = 3
  /** Paired `noop` runs behind each prefix timing. */
  val PrefixReps = 9
  /** Files every run lands, however long they take, so every run
    * measures the same files with a status table of the same size;
    * a traced run's exact counts cover these. */
  val MinFiles = 2
  /** Long enough that no key expires within a run, so the batch twin
    * (no TTL) is an exact oracle. */
  val TtlMs = 10000000000L

  private def fileName(i: Int) = f"shard-$i%06d.json"

  /** Seed-chosen first key; the feed is consecutive keys from it. */
  def firstKey(seed: Long): Long = 1L + java.lang.Math.floorMod(seed * 1000003L, 5000000L)

  /** The feed: file 0 holds the warm records, files 1.. hold `perFile`
    * consecutive keys each. Files are generated on demand, a chunk of
    * about 5,000 records per Spark job, as dot-prefixed files in `dir`;
    * generation runs between files, never inside a timed file. */
  private final class Feed(spark: SparkSession, dir: Path, k0: Long, perFile: Int) {
    private val chunk = math.max(1, 5000 / perFile)
    private var staged = -1

    private def firstKeyOf(f: Int): Long =
      if (f == 0) k0 else k0 + WarmRecords + (f - 1).toLong * perFile

    def records(files: Int): Long = firstKeyOf(files + 1) - k0

    def ensure(f: Int): Unit = if (f > staged) {
      val (from, to) = (staged + 1, staged + chunk)
      val parts = dir.resolve("parts").toString
      val key = col("dynamodb.SequenceNumber").cast("long")
      val off = key - k0 - WarmRecords
      MatchFixture.envelope(Gen.customer(spark, firstKeyOf(from),
          (firstKeyOf(to + 1) - firstKeyOf(from)).toInt))
        .select(when(off < 0, 0).otherwise((off / perFile).cast("int") + 1).as("f"),
          to_json(struct(col("*"))).as("j"))
        .write.partitionBy("f").text(parts)
      (from to to).foreach { i =>
        val out = Files.newOutputStream(dir.resolve("." + fileName(i)))
        val s = Files.list(Paths.get(parts, s"f=$i"))
        try s.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.toString).foreach(p => Files.copy(p, out))
        finally { s.close(); out.close() }
      }
      Fs.deleteTree(Paths.get(parts))
      staged = to
    }

    /** Atomic rename of staged file `f` into the shard directory. */
    def land(f: Int, shards: Path): Unit = {
      ensure(f)
      Files.move(dir.resolve("." + fileName(f)), shards.resolve(fileName(f)),
        StandardCopyOption.ATOMIC_MOVE)
    }

    /** Land a copy of staged file `f`, keeping it staged for later. */
    def landCopy(f: Int, shards: Path): Unit = {
      ensure(f)
      Files.copy(dir.resolve("." + fileName(f)), shards.resolve("." + fileName(f)))
      Files.move(shards.resolve("." + fileName(f)), shards.resolve(fileName(f)),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def start(spark: SparkSession, base: String): StreamingQuery = {
    import spark.implicits._
    val env = spark.readStream.format(classOf[ShardStreamSource].getName)
      .option("path", s"$base/shards").load()
      .select(from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*")
    val out = Observability.observed(
      StreamPipeline.outcomesWithTtl(env, TtlMs).toDF()).as[StreamOutcome]
    StreamPipeline.casSinkTo(out, s"$base/ck", s"$base/jobs", s"$base/status")
  }

  /** Snapshot directory a committed status version points at. */
  private def snapshotOf(statusDir: String, v: Long): String =
    Paths.get(statusDir, new String(Files.readAllBytes(
      Paths.get(statusDir, "_commits", f"$v%08d")), StandardCharsets.UTF_8).trim).toString

  def run(spark: SparkSession, work: String, seed: Long, seconds: Double,
      trace: Boolean, perFile: Int): Outcome = {
    val k0 = firstKey(seed)
    val feed = new Feed(spark, Files.createDirectories(Paths.get(work, "feed")), k0, perFile)
    feed.ensure(1)
    Main.phase("feed")

    // set-up: fresh dirs, start the query, commit the warm file; the
    // last repetition's query goes on into the timed phase. (The query
    // is never started on an empty shard directory: its first batch
    // then carries no data, leaves only the commit log in the jobs
    // directory, and EmailJobSink's next read of that directory fails.)
    var q: StreamingQuery = null
    var base = ""
    val setupS = (0 until SetupReps).map { r =>
      if (q != null) { q.stop(); Fs.deleteTree(Paths.get(base)) }
      base = s"$work/rep$r"
      val shards = Files.createDirectories(Paths.get(base, "shards"))
      val t = System.nanoTime()
      q = start(spark, base)
      feed.landCopy(0, shards)
      q.processAllAvailable()
      Main.phase(s"rep $r")
      (System.nanoTime() - t) / 1e9
    }
    Main.phase("setup")
    val shards = Paths.get(base, "shards")
    val statusDir = s"$base/status"

    val counter = if (trace) Some(JobCounter.attach(spark)) else None
    val sampler = if (trace) {
      val s = new StackSampler(() => StackSampler.streamThread(), 10)
      s.start(); Some(s)
    } else None
    val batch0 = q.lastProgress.batchId
    val v0 = StatusStore.currentVersion(statusDir)

    // timed phase: closed loop, one file outstanding, until the files'
    // latencies add up to the run length and MinFiles have landed. Per
    // file: latency, the status version and last batch id it left, and
    // (traced) the engine's counters [jobs, tasks, cpu ns, shuffle
    // bytes, spill bytes, compiles].
    val lat = ArrayBuffer.empty[Double]
    val versions = ArrayBuffer.empty[Long]
    val batchIds = ArrayBuffer.empty[Long]
    val counts = ArrayBuffer.empty[Array[Long]]
    var failedFiles = 0L
    // bytes under the sink, checkpoint and status dirs once MinFiles
    // files have committed: a fixed count, so bytes per file do not
    // grow with the number of files a faster program fits in the run
    def diskBytes(): Long = Fs.bytesUnder(s"$base/ck", s"$base/jobs", statusDir)
    var diskMinFiles = 0L
    var i = 1
    while ((i <= MinFiles || lat.sum < seconds * 1e3) &&
        failedFiles == 0) {
      feed.ensure(i)
      counter.foreach(_ => JobCounter.drain(spark))
      val before = counter.map(_.snap)
      val compiles0 = Codegen.compiles
      sampler.foreach(_.active = true)
      val s = System.nanoTime()
      try {
        feed.land(i, shards)
        q.processAllAvailable()
      } catch { case e: Exception =>
        failedFiles += 1
        System.err.println(s"[perfbench] file $i failed: ${e.getMessage}")
      }
      lat += (System.nanoTime() - s) / 1e6
      sampler.foreach(_.active = false)
      counter.foreach { c =>
        JobCounter.drain(spark)
        counts += c.snap.zip(before.get).map { case (a, b) => a - b } :+
          (Codegen.compiles - compiles0)
      }
      versions += StatusStore.currentVersion(statusDir)
      if (lat.size == MinFiles) diskMinFiles = diskBytes()
      batchIds += q.lastProgress.batchId
      i += 1
    }
    val files = lat.size
    Main.phase(s"timed ${lat.map(_.toInt).mkString(",")} ms")
    val allProgress = q.recentProgress.toSeq
    val progress: Seq[StreamingQueryProgress] = allProgress.filter(_.batchId > batch0)
    q.stop()
    sampler.foreach(_.shutdown())
    val heapMb = Heap.retainedMb()
    val diskMbPerFile =
      if (files >= MinFiles) diskMinFiles / 1048576.0 / MinFiles
      else diskBytes() / 1048576.0 / files

    // ---- correctness, outside the timed window -------------------------
    // Batch twin over every record the query consumed (the warm file
    // included): the executable spec of each record's action.
    val twin = StreamPipeline.outcomes(MatchFixture.envelope(
        Gen.customer(spark, k0, feed.records(files).toInt)))
      .select("recordId", "eventId", "guestId", "action").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    val twinCounts = twin.groupBy(_._4).view.mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val jobs = spark.read.parquet(s"$base/jobs").select("record_id", "dedup_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val jobsOk = jobs.length == twinCounts("email_triggered") &&
      jobs.map(_._2).distinct.length == jobs.length &&
      jobs.map(_._1).toSet == twin.filter(_._4 == "email_triggered").map(_._1).toSet
    // the status each key must end in: a duplicate marks 'delivered'
    // unconditionally, a trigger CASes 'pending' → 'processing'
    val expected = twin.filter(t => t._4 == "email_triggered" || t._4 == "duplicate_prevented")
      .groupBy(t => (t._2, t._3)).view
      .mapValues(ts => if (ts.exists(_._4 == "duplicate_prevented")) "delivered" else "processing")
      .toMap
    val status = StatusStore.read(spark, statusDir).get
      .select("event_id", "guest_id", "delivery_status").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getString(2)))
    val statusRows = status.length.toLong
    val statusKeys = status.map(_._1).distinct.length.toLong
    val statusSetOk = status.toSet == expected.toSet
    val observed = allProgress.flatMap(p =>
      Option(p.observedMetrics.get(Observability.MetricName)))
    def obsSum(f: String): Long = observed.map(_.getAs[Long](f)).sum
    val countersOk =
      obsSum("total_records") == feed.records(files) &&
      obsSum("emails_triggered") == twinCounts("email_triggered") &&
      obsSum("duplicates_prevented") == twinCounts("duplicate_prevented") &&
      obsSum("skipped_records") == twinCounts("skipped") &&
      obsSum("error_records") == twinCounts("error")
    // one row per (event_id, guest_id), checked on the snapshot each
    // file committed
    val hasDupKeys = versions.distinct.filter(_ > 0).map { v =>
      val snap = spark.read.parquet(snapshotOf(statusDir, v))
      v -> (snap.count() != snap.select("event_id", "guest_id").distinct().count())
    }.toMap.withDefaultValue(false)
    val dupKeyFiles = versions.count(hasDupKeys).toLong
    val outputsOk = jobsOk && statusSetOk && countersOk
    val checks = Seq(
      ("jobs_equal_batch_twin_and_dedup_ids_distinct", jobsOk,
        s"jobs=${jobs.length} twin_triggered=${twinCounts("email_triggered")}"),
      ("status_keys_and_values_equal_batch_twin", statusSetOk, ""),
      ("status_one_row_per_key", statusRows == statusKeys,
        s"rows=$statusRows keys=$statusKeys files_with_duplicate_keys=$dupKeyFiles"),
      ("observed_counters_equal_twin", countersOk,
        s"observed_batches=${observed.size} twin=${twinCounts.toSeq.sorted.mkString(",")}"),
      ("no_file_failed", failedFiles == 0, s"failed_files=$failedFiles"))
    Main.phase("checked")
    // a wrong final output fails every file; a duplicate-key snapshot
    // fails the file that committed it
    val failed = if (!outputsOk) files.toLong else math.max(failedFiles, dupKeyFiles)

    val (metrics, traceChecks) =
      if (!trace) (Map(
        "setup_s" -> Metric(Stats.median(setupS), "s"),
        "batch_p50_ms" -> Metric(Stats.median(lat.toSeq), "ms"),
        "items_per_s" -> Metric(perFile.toDouble * files / (lat.sum / 1e3), "1/s"),
        "retained_heap_mb" -> Metric(heapMb, "MB"),
        "disk_mb_per_op" -> Metric(diskMbPerFile, "MB")), Nil)
      else {
        val n = files.toDouble
        def perFile(k: Int): Double = counts.map(_(k)).sum.toDouble / n
        // counts over the first MinFiles files, the same files on
        // every run with one seed, so they must repeat exactly
        // (fewer only when a file failed and the loop stopped early)
        val m = math.min(MinFiles, files)
        def exact(k: Int): Double = counts.take(m).map(_(k)).sum.toDouble / m
        val exactBatches = progress.filter(_.batchId <= batchIds(m - 1))
        def dur(p: StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val states = progress.flatMap(_.stateOperators)
        val last = progress.reverse.find(_.stateOperators.nonEmpty)
        val noData = progress.filter(_.numInputRows == 0).map(p => dur(p, "triggerExecution"))
        val charged = sampler.get.chargedMs.withDefaultValue(0.0)
        val sampledGap = math.abs(charged.values.sum - lat.sum) / lat.sum
        // self times from the engine's own accounting: every timed
        // phase of every micro-batch the timed files ran (latestOffset,
        // getBatch, queryPlanning, walCommit, addBatch, commitOffsets,
        // ...), summed without their envelope, triggerExecution
        val timedBatches = progress.filter(_.batchId <= batchIds.last)
        val selfMs = timedBatches.map(p => p.durationMs.asScala.collect {
          case (k, v) if k != "triggerExecution" => v.doubleValue
        }.sum).sum
        val selfGap = math.abs(selfMs - lat.sum) / lat.sum
        val snapRows = (v0 + 1 to versions.last).map { v =>
          spark.read.parquet(snapshotOf(statusDir, v)).count()
        }.sum
        val (decodeMs, rulesMs) = prefixTimings(spark, shards, files)
        (Layers.zeros ++ Map(
          "spark.jobs_per_file" -> Metric(exact(0), "count"),
          "spark.tasks_per_file" -> Metric(exact(1), "count"),
          "spark.task_cpu_ms" -> Metric(perFile(2) / 1e6, "ms"),
          "spark.shuffle_write_bytes" -> Metric(perFile(3), "bytes"),
          "spark.spill_bytes" -> Metric(perFile(4), "bytes"),
          "spark.codegen_compiles" -> Metric(exact(5), "count"),
          "spark.codegen_compile_ms" -> Metric(perFile(5) * Codegen.meanMs, "ms"),
          "streaming.micro_batches_per_file" ->
            Metric(exactBatches.size.toDouble / m, "count"),
          "streaming.nodata_batch_ms" ->
            Metric(if (noData.isEmpty) 0.0 else Stats.median(noData), "ms"),
          "streaming.query_planning_ms" ->
            Metric(progress.map(dur(_, "queryPlanning")).sum / n, "ms"),
          "streaming.wal_commit_ms" ->
            Metric(progress.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / n, "ms"),
          "sources.latest_offset_ms" ->
            Metric(progress.map(dur(_, "latestOffset")).sum / n, "ms"),
          "streaming.state_update_ms" -> Metric(states.map(_.allUpdatesTimeMs).sum / n, "ms"),
          "streaming.state_commit_ms" -> Metric(states.map(_.commitTimeMs).sum / n, "ms"),
          "streaming.state_rows" ->
            Metric(last.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble, "count"),
          "streaming.state_bytes" ->
            Metric(last.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L).toDouble, "bytes"),
          "decode.ms_per_10k" -> Metric(decodeMs, "ms"),
          "rules.ms_per_10k" -> Metric(rulesMs, "ms"),
          "sink.cas_ms" -> Metric(charged("sink.cas") / n, "ms"),
          "sink.append_ms" -> Metric(charged("sink.append") / n, "ms"),
          "sink.txnlog_ms" -> Metric(charged("sink.txnlog") / n, "ms"),
          "streaming.foreach_batch_ms" -> Metric(charged("streaming.foreach_batch") / n, "ms"),
          "sink.cas_commits_per_file" ->
            Metric((versions(m - 1) - v0).toDouble / m, "count"),
          "sink.status_rows_per_key" -> Metric(statusRows.toDouble / statusKeys, "ratio"),
          "sink.snapshot_rows_written" -> Metric(snapRows / n, "count"),
          "metrics.observed_batches" -> Metric(exactBatches.count(
            _.observedMetrics.containsKey(Observability.MetricName)).toDouble / m, "count"),
          "trace.engine_ms" -> Metric(charged("spark.engine") / n, "ms"),
          "trace.self_time_gap" -> Metric(selfGap, "share"),
          "trace.sampled_gap" -> Metric(sampledGap, "share"),
          "trace.batch_p50_ms" -> Metric(Stats.median(lat.toSeq), "ms")),
        Seq(Layers.gapCheck("self_times_add_up_to_file_wall", selfGap, Layers.SelfTimeTolerance),
          Layers.gapCheck("sampled_layers_cover_file_wall", sampledGap, Layers.SampledTolerance)))
      }
    Outcome(correct = (checks ++ traceChecks).forall(_._2), attempted = files.toLong,
      failed = failed, metrics = metrics, checks = checks ++ traceChecks)
  }

  /** `noop`-sink timings of the fused stateless prefix over the landed
    * files. Each layer is timed on top of the cached output of the one
    * before it, so the difference it is read from sits on a cheap
    * in-memory scan: decode is (parsed, cached) + `MatchPipeline.decoded`
    * minus the cached parse; rules is (decoded, cached) +
    * `Rules.decisionStruct` minus the cached decode. Each is the median
    * of `PrefixReps` paired runs, the two runs of a pair back to back,
    * in ms per 10,000 records. */
  private def prefixTimings(spark: SparkSession, shards: Path, files: Int): (Double, Double) = {
    val paths = (0 to files).map(i => shards.resolve(fileName(i)).toString)
    val parsed = spark.read.text(paths: _*)
      .select(from_json(col("value"), Model.envelopeSchema).as("r")).select("r.*").cache()
    val decoded = MatchPipeline.decoded(parsed)
    // a copy of `decoded` that is cached once decode is timed: caching
    // `decoded` itself would let the cache answer the decode timing
    val decodedCached = MatchPipeline.decoded(parsed)
    val ruled = decodedCached.withColumn("decision", Rules.decisionStruct(
      eventName = col("event_name"), hasNewImage = col("has_new_image"),
      parseError = col("parse_error"), eventId = col("event_id"),
      guestId = col("guest_id"), guestName = col("guest_name"),
      guestEmail = col("guest_email"), emailStatus = col("email_status"),
      emailSent = col("email_sent"), deliveryStatus = col("delivery_status"),
      totalMatches = col("total_matches"), newMatches = col("new_matches"),
      oldEmailStatus = col("old_email_status"), oldEmailSent = col("old_email_sent"),
      oldDeliveryStatus = col("old_delivery_status"),
      oldTotalMatches = col("old_total_matches"), dupHit = lit(false)))
    val records = parsed.count().toDouble
    def once(df: DataFrame): Double = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e6
    }
    def diff(base: DataFrame, layer: DataFrame): Double = {
      once(base); once(layer) // compile both before timing
      Stats.median((0 until PrefixReps).map(_ => -once(base) + once(layer))) / records * 1e4
    }
    val decodeMs = diff(parsed, decoded)
    decodedCached.cache().count()
    val out = (decodeMs, diff(decodedCached, ruled))
    decodedCached.unpersist()
    parsed.unpersist()
    out
  }
}
