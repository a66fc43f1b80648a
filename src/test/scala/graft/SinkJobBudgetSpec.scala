package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.MatchFixture
import graft.sink.StatusStore
import graft.streaming.{StreamOutcome, StreamPipeline}

object SinkJobBudgetSpec {

  /** The properties of every job started, and of every stage submitted,
    * while registered. A stage the scheduler skips (its shuffle output
    * already exists) is never submitted. */
  class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]()
    val stages = new ConcurrentLinkedQueue[java.util.Properties]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach(jobs.add)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).foreach(stages.add)

    /** Listener-bus delivery is async: polls until the count is stable. */
    def settle(): Unit = {
      var last = -1
      var spins = 0
      while (jobs.size != last && spins < 100) {
        last = jobs.size
        Thread.sleep(100)
        spins += 1
      }
    }
  }

  /** Runs `body` with AQE off and, unless `broadcast`, broadcast joins
    * off, so the job count does not depend on runtime statistics, then
    * restores both. With `broadcast` the session's own threshold stays,
    * the conf the benchmark runs under. */
  def countingConf[A](spark: SparkSession, broadcast: Boolean = false)(body: => A): A = {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if (!broadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
    }
  }
}

/** Pins the job budget of the stream sink (`casSinkTo`) per micro-batch.
  *
  * Every sink batch starts with one counting job; a batch whose counts
  * say there is nothing to write stops there. A regression that puts
  * back a schema-inference read, a second count or an unconditional
  * CAS on an empty batch fails here, and so does a join in the status
  * commit that plans as a broadcast (its build is a job of its own).
  * Jobs are counted per `streaming.sql.batchId` from the job-start
  * properties, under the same AQE-off, broadcast-off conf as
  * [[BarrierCountSpec]], and for the mixed batch also under the
  * session's default broadcast threshold. A multi-partition batch pins
  * the file and stage budget too: one jobs file per batch, and a status
  * write whose keyed updates need no shuffle of their own.
  */
class SinkJobBudgetSpec extends SparkSpec {
  import SinkJobBudgetSpec._

  /** Runs `body` with a started query under the counting conf, then
    * returns the job descriptions per batch id of that query. */
  private def jobsPerBatch(start: => StreamingQuery, broadcast: Boolean = false)(
      body: StreamingQuery => Unit): Map[Long, Seq[String]] =
    labelsPerBatch(start, broadcast)(body)._1

  /** [[jobsPerBatch]] plus the descriptions of the stages each batch
    * submitted. */
  private def labelsPerBatch(start: => StreamingQuery, broadcast: Boolean = false)(
      body: StreamingQuery => Unit): (Map[Long, Seq[String]], Map[Long, Seq[String]]) = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val q = countingConf(spark, broadcast)(start)
    try body(q) finally q.stop()
    log.settle()
    spark.sparkContext.removeSparkListener(log)
    val id = q.id.toString
    def perBatch(props: ConcurrentLinkedQueue[java.util.Properties]) =
      props.asScala.toSeq.flatMap { p =>
        val b = p.getProperty("streaming.sql.batchId")
        if (p.getProperty("sql.streaming.queryId") == id && b != null)
          Some(b.toLong -> p.getProperty("spark.job.description"))
        else None
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    (perBatch(log.jobs), perBatch(log.stages))
  }

  /** Data files of a table dir (the commit log and Spark's hidden files
    * left out). */
  private def dataFiles(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else DirIO.listNames(p).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
  }

  private def out(r: String, ev: String, action: String) =
    StreamOutcome(r, ev, s"g$r", s"$ev|$r@x.com", action, "")

  test("CAS sink: an empty or all-skipped batch runs one job and writes nothing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-budget-cas").toString
    val statusDir = s"$base/status"
    val jobsDir = s"$base/jobs"
    val input = MemoryStream[StreamOutcome]
    var afterTrigger = (0L, Set.empty[String])
    val perBatch = jobsPerBatch(StreamPipeline.casSinkTo(input.toDS(),
        s"$base/ck", jobsDir, statusDir)) { q =>
      input.addData(out("r1", "ev1", "email_triggered"))       // batch 0
      q.processAllAvailable()
      afterTrigger = (StatusStore.currentVersion(statusDir), dataFiles(jobsDir))
      input.addData(Seq.empty[StreamOutcome])                   // batch 1
      q.processAllAvailable()
      input.addData(out("r2", "ev2", "skipped"),                // batch 2
        out("r3", "ev3", "skipped"))
      q.processAllAvailable()
    }
    assert(afterTrigger._1 == 1L && afterTrigger._2.nonEmpty)
    // the trigger-only batch: count, the status commit (one snapshot
    // write) and the job write
    val trig = perBatch.getOrElse(0L, Nil)
    assert(trig == CommitBatch, s"trigger-only batch ran ${trig.size} jobs: $trig")
    Seq(1L, 2L).foreach { b =>
      assert(perBatch.getOrElse(b, Nil) == Seq("sink:count"),
        s"batch $b ran ${perBatch.getOrElse(b, Nil)}")
    }
    assert(StatusStore.currentVersion(statusDir) == afterTrigger._1)
    assert(dataFiles(jobsDir) == afterTrigger._2)
  }

  /** A batch with input: the count, the status commit's one snapshot
    * write, the job write. */
  private val CommitBatch = Seq("sink:count", "cas:commit cas:write", "jobs:write")

  Seq(false, true).foreach { broadcast =>
    val conf = if (broadcast) "the default broadcast threshold" else "broadcast joins off"
    test(s"CAS sink: a batch with triggers and duplicates makes one status commit in 3 jobs under $conf") {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val base = Files.createTempDirectory("graft-budget-mixed").toString
      val statusDir = s"$base/status"
      // a stored row, so the status commit joins a non-empty snapshot
      StatusStore.casMerge(StatusStore.markDelivered(
        Seq(("ev0", "gr0")).toDF("event_id", "guest_id")), statusDir)
      val input = MemoryStream[StreamOutcome]
      val perBatch = jobsPerBatch(StreamPipeline.casSinkTo(input.toDS(),
          s"$base/ck", s"$base/jobs", statusDir), broadcast) { q =>
        input.addData(out("r1", "ev1", "email_triggered"),
          out("r2", "ev2", "email_triggered"),
          out("r3", "ev3", "duplicate_prevented"),
          out("r4", "ev4", "duplicate_prevented"))
        q.processAllAvailable()
      }
      val mixed = perBatch.getOrElse(0L, Nil)
      assert(mixed == CommitBatch, s"mixed batch ran ${mixed.size} jobs: $mixed")
      assert(StatusStore.currentVersion(statusDir) == 2L)
      val st = StatusStore.read(spark, statusDir).get.collect()
        .map(r => r.getAs[String]("guest_id") -> r.getAs[String]("delivery_status")).toMap
      assert(st == Map("gr0" -> "delivered", "gr1" -> "processing",
        "gr2" -> "processing", "gr3" -> "delivered", "gr4" -> "delivered"))
      assert(spark.read.parquet(s"$base/jobs").count() == 2L)
    }
  }

  test("CAS sink: a TTL stream runs exactly one micro-batch per landed input") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-budget-ttl").toString
    val input = MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(input.toDF().toDF("c_custkey", "c_name"))
    val ks = Seq(28L, 2000L, 3878L)
    var batches = Seq.empty[(Long, Long)]
    val perBatch = jobsPerBatch(StreamPipeline.casSinkTo(
        StreamPipeline.outcomesWithTtl(envelope, ttlMs = 1000L),
        s"$base/ck", s"$base/jobs", s"$base/status")) { q =>
      ks.foreach { k =>
        input.addData((k, s"Customer#$k"))
        q.processAllAvailable()
      }
      batches = q.recentProgress.toSeq.map(p => (p.batchId, p.numInputRows))
    }
    // each input moves the watermark, and no zero-row batch may follow
    // it (idle progress reports repeat the last batch id with 0 rows,
    // so batch ids are counted, not reports)
    val ran = batches.collect { case (b, _) if b >= 0 => b }.distinct.sorted
    assert(ran == ks.indices.map(_.toLong), s"batches: $batches")
    assert(perBatch.keySet == ran.toSet, s"jobs per batch: $perBatch")
    ran.foreach { b =>
      assert(batches.exists { case (id, rows) => id == b && rows == 1L },
        s"batch $b carried no input: $batches")
    }
  }

  test("CAS sink: a key the batch both triggers and marks duplicate is delivered by a second commit") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-budget-overlap").toString
    val statusDir = s"$base/status"
    val input = MemoryStream[StreamOutcome]
    // one guest updated twice in one batch: the first record triggers,
    // the second is its duplicate
    val perBatch = jobsPerBatch(StreamPipeline.casSinkTo(input.toDS(),
        s"$base/ck", s"$base/jobs", statusDir)) { q =>
      input.addData(StreamOutcome("r1", "ev1", "g1", "ev1|a@x.com", "email_triggered", ""),
        StreamOutcome("r2", "ev1", "g1", "ev1|a@x.com", "duplicate_prevented", ""))
      q.processAllAvailable()
    }
    val ran = perBatch.getOrElse(0L, Nil)
    assert(ran == CommitBatch :+ "cas:delivered cas:write",
      s"overlap batch ran ${ran.size} jobs: $ran")
    assert(spark.read.parquet(s"$base/jobs").select("record_id").as[String]
      .collect().toSeq == Seq("r1"))
    val st = StatusStore.read(spark, statusDir).get.collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("guest_id"),
        r.getAs[String]("delivery_status"))).toSeq
    assert(st == Seq(("ev1", "g1", "delivered")))
  }

  test("CAS sink: a multi-partition batch writes one jobs file and its status write runs 3 stages") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-budget-files").toString
    val statusDir = s"$base/status"
    val jobsDir = s"$base/jobs"
    // a stored row, so the status write joins a non-empty snapshot
    StatusStore.casMerge(StatusStore.markDelivered(
      Seq(("ev0", "gr0")).toDF("event_id", "guest_id")), statusDir)
    val input = MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(input.toDF().toDF("c_custkey", "c_name"))
    val (jobs, stages) = labelsPerBatch(StreamPipeline.casSinkTo(
        StreamPipeline.outcomesWithTtl(envelope, ttlMs = 1000000L),
        s"$base/ck", jobsDir, statusDir)) { q =>
      input.addData((1L to 400L).map(k => (k, s"Customer#$k")))
      q.processAllAvailable()
    }
    assert(jobs.getOrElse(0L, Nil) == CommitBatch, s"jobs: $jobs")
    // 127 triggers, hashed by email key over all 4 state partitions
    val written = spark.read.parquet(jobsDir).count()
    assert(written == 127L, s"$written jobs")
    val parts = DirIO.listNames(Paths.get(s"$jobsDir/batch_id=0")).filter(_.startsWith("part-"))
    assert(parts.size == 1, s"jobs files: $parts")
    val casStages = stages.getOrElse(0L, Nil).count(_ == "cas:commit cas:write")
    assert(casStages == 3, s"cas:commit cas:write ran $casStages stages: $stages")
  }

  test("JobLabel nests inside an outer step and restores the description") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer batch")
    try {
      val seen = JobLabel(spark, "cas:delivered") {
        val inner = JobLabel(spark, "cas:write")(sc.getLocalProperty("spark.job.description"))
        (inner, sc.getLocalProperty("spark.job.description"))
      }
      assert(seen == ("cas:delivered cas:write", "cas:delivered"))
      assert(sc.getLocalProperty("spark.job.description") == "outer batch")
      intercept[RuntimeException](JobLabel(spark, "x")(throw new RuntimeException("boom")))
      assert(sc.getLocalProperty("spark.job.description") == "outer batch")
    } finally sc.setJobDescription(null)
  }
}
