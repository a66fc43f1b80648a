package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{MatchFixture, MatchPipeline}
import graft.sink.EmailJobSink
import graft.streaming.StreamPipeline

/** Idempotent sink behavior: replay cannot double-send; the status table
  * moves only by conditional writes. */
class SinkSpec extends SparkSpec {

  private def decidedFor(ks: Long*) = {
    import spark.implicits._
    MatchPipeline.decide(MatchFixture.envelope(
      ks.map(k => (k, s"Customer#$k")).toDF("c_custkey", "c_name")))
  }

  test("writeBatch replaces a batch's own partition when the batch is written again") {
    val dir = Files.createTempDirectory("graft-jobs").toString + "/jobs"
    val jobs = MatchPipeline.emailJobs(decidedFor(18L, 32L))
    EmailJobSink.writeBatch(jobs, dir, 0L)
    // replay the same batch: its partition is replaced, nothing doubles
    EmailJobSink.writeBatch(jobs, dir, 0L)
    assert(spark.read.parquet(dir).count() == 2L)
    // a later batch adds its own partition and leaves batch 0's alone
    EmailJobSink.writeBatch(MatchPipeline.emailJobs(decidedFor(42L)), dir, 1L)
    val perBatch = spark.read.parquet(dir).groupBy("batch_id").count().collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 2L, 1L -> 1L))
    assert(spark.read.parquet(dir).select("dedup_id").distinct().count() == 3L)
  }

  test("stream sink compacts its commit log and still skips a committed batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-txn-compact").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamOutcome]
    val q = StreamPipeline.casSinkTo(input.toDS(), s"$base/ck",
      s"$base/jobs", s"$base/status")
    try (1 to 4).foreach { i =>
      input.addData(graft.streaming.StreamOutcome(s"r$i", s"ev$i", s"g$i",
        s"ev$i|a@x.com", if (i % 2 == 0) "duplicate_prevented" else "email_triggered", ""))
      q.processAllAvailable()
    } finally q.stop()
    val log = s"$base/jobs/_txn"
    // one marker, the newest batch id: it is the high-water mark
    assert(graft.DirIO.listNames(java.nio.file.Paths.get(log)) == List("batch-3"))
    assert(EmailJobSink.TxnLog.highWaterMark(log) == 3L)
    var ran = false
    assert(!EmailJobSink.TxnLog.runOnce(log, 2L) { ran = true })
    assert(!ran)
    assert(spark.read.parquet(s"$base/jobs").count() == 2L)
  }

  test("txn log runs a batch once and skips its replay") {
    val log = Files.createTempDirectory("graft-txn").toString
    var runs = 0
    assert(graft.sink.EmailJobSink.TxnLog.runOnce(log, 7L) { runs += 1 })
    assert(!graft.sink.EmailJobSink.TxnLog.runOnce(log, 7L) { runs += 1 })
    assert(graft.sink.EmailJobSink.TxnLog.runOnce(log, 8L) { runs += 1 })
    assert(runs == 2)
    // a write that THROWS must not commit - the retry executes it
    intercept[RuntimeException] {
      graft.sink.EmailJobSink.TxnLog.runOnce(log, 9L) {
        throw new RuntimeException("sink down")
      }
    }
    assert(graft.sink.EmailJobSink.TxnLog.runOnce(log, 9L) { runs += 1 })
    assert(runs == 3)
  }

  // ---- cross-process CCAS (StatusStore) ------------------------------

  private def casUpdate(ev: String, g: String, expected: Option[String],
      next: String, errorAt: Option[String] = None) = {
    import spark.implicits._
    Seq((ev, g, expected.orNull, next, errorAt.orNull))
      .toDF("event_id", "guest_id", "expected_status", "new_status", "error_at")
  }

  test("casMerge applies only when the current status matches the expectation") {
    import graft.sink.StatusStore
    val dir = Files.createTempDirectory("graft-cas").toString + "/status"
    // absent key reads as 'pending' (attribute_not_exists semantics)
    val r1 = StatusStore.casMerge(casUpdate("e1", "g1", Some("pending"), "processing"), dir)
    assert(r1.applied == 1L && r1.rejected == 0L && r1.version == 1L)
    // same transition again: current is now 'processing' → condition fails
    val r2 = StatusStore.casMerge(casUpdate("e1", "g1", Some("pending"), "processing"), dir)
    assert(r2.applied == 0L && r2.rejected == 1L)
    // NULL expectation is unconditional (the duplicate→delivered marker)
    val r3 = StatusStore.casMerge(casUpdate("e1", "g1", None, "delivered"), dir)
    assert(r3.applied == 1L)
    val row = StatusStore.read(spark, dir).get.collect()
    assert(row.length == 1 && row.head.getAs[String]("delivery_status") == "delivered")
  }

  test("two concurrent writers race one key: exactly one CAS wins") {
    import graft.sink.StatusStore
    val dir = Files.createTempDirectory("graft-cas-race").toString + "/status"
    val results = new java.util.concurrent.ConcurrentLinkedQueue[StatusStore.CasResult]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          gate.await()
          results.add(StatusStore.casMerge(
            casUpdate("e1", "g1", Some("pending"), "processing"), dir))
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer threw: ${errors.peek()}")
    val rs = results.toArray(Array.empty[StatusStore.CasResult])
    assert(rs.length == 2)
    // exactly one winner — the loser's retry re-read the winner's commit
    // and saw 'processing' ≠ 'pending', the lost conditional write
    assert(rs.map(_.applied).sum == 1L)
    assert(rs.map(_.rejected).sum == 1L)
    val st = StatusStore.read(spark, dir).get.collect()
    assert(st.length == 1 && st.head.getAs[String]("delivery_status") == "processing")
  }

  test("revert path: processing → pending + email_error_at, only while owned") {
    import graft.sink.StatusStore
    val dir = Files.createTempDirectory("graft-cas-revert").toString + "/status"
    import spark.implicits._
    val keys = Seq(("e1", "g1")).toDF("event_id", "guest_id")
    assert(StatusStore.casMerge(StatusStore.markProcessing(keys), dir).applied == 1L)
    // the send fails → compensate (index.js:509-522)
    val rv = StatusStore.casMerge(
      StatusStore.revertToPending(keys, "1970-01-01T00:00:00Z"), dir)
    assert(rv.applied == 1L)
    val row = StatusStore.read(spark, dir).get.collect().head
    assert(row.getAs[String]("delivery_status") == "pending")
    assert(row.getAs[String]("email_error_at") == "1970-01-01T00:00:00Z")
    // a second revert finds 'pending', not 'processing' → rejected
    assert(StatusStore.casMerge(
      StatusStore.revertToPending(keys, "x"), dir).applied == 0L)
    // and the key can be re-acquired (the retry after a revert converges)
    assert(StatusStore.casMerge(StatusStore.markProcessing(keys), dir).applied == 1L)
  }

  test("casMerge agrees with a map model over seeded random update rounds") {
    import graft.sink.StatusStore
    import spark.implicits._
    type Key = (String, String)
    val dir = Files.createTempDirectory("graft-cas-model").toString + "/status"
    val rnd = new scala.util.Random(2017L)
    val keys = (0 until 12).map(i => (s"e${i % 3}", s"g$i"))
    val statuses = Seq("pending", "processing", "delivered", "deleted")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    var model = Map.empty[Key, (String, String)] // status, email_error_at
    var version = 0L
    def snapshots() = {
      val p = java.nio.file.Paths.get(dir)
      if (!Files.exists(p)) 0 else graft.DirIO.listNames(p).count(_.startsWith("snap-"))
    }
    (1 to 20).foreach { round =>
      def current(k: Key) = model.get(k).map(_._1).getOrElse("pending")
      // one update per picked key: unconditional, matching, or a random
      // expectation that mostly mismatches (absent keys read 'pending')
      val rows = rnd.shuffle(keys).take(1 + rnd.nextInt(6)).map { k =>
        val expected = rnd.nextInt(3) match {
          case 0 => null
          case 1 => current(k)
          case _ => pick(statuses)
        }
        val errorAt = if (rnd.nextBoolean()) s"t$round" else null
        (k._1, k._2, expected, pick(statuses), errorAt)
      }
      val holding = rows.filter { case (e, g, exp, _, _) => exp == null || exp == current((e, g)) }
      // identical duplicates of some rows collapse to one
      val batch = rnd.shuffle(rows ++ rows.filter(_ => rnd.nextInt(3) == 0))
      val res = StatusStore.casMerge(batch.toDF(
        "event_id", "guest_id", "expected_status", "new_status", "error_at"), dir)
      model ++= holding.map { case (e, g, _, next, err) => (e, g) -> (next, err) }
      if (holding.nonEmpty) version += 1
      val what = s"round $round: $rows"
      assert(res.applied == holding.size.toLong, what)
      assert(res.rejected == (rows.size - holding.size).toLong, what)
      assert(res.version == version && StatusStore.currentVersion(dir) == version, what)
      assert(snapshots() == version, s"$what: a snapshot without a commit")
      val stored = StatusStore.read(spark, dir).toSeq.flatMap(_.collect().toSeq).map { r =>
        (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3))
      }
      assert(stored.size == model.size && stored.toMap == model, what)
      val won = res.appliedKeys.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(won.sorted == holding.map(h => (h._1, h._2)).sorted, what)
    }
    val none = StatusStore.casMerge(Seq.empty[(String, String, String, String, String)]
      .toDF("event_id", "guest_id", "expected_status", "new_status", "error_at"), dir)
    assert(none.applied == 0L && none.rejected == 0L && none.version == version)
    assert(none.appliedKeys.collect().isEmpty && snapshots() == version)
  }

  test("a casMerge whose snapshot write throws leaves nothing cached") {
    import graft.sink.StatusStore
    import spark.implicits._
    // a regular file where the status dir's parent belongs: the update
    // applies, then the snapshot write throws
    val blocker = Files.createFile(Files.createTempDirectory("graft-cas-fail").resolve("blocker"))
    val dir = blocker.resolve("status").toString
    // numCachedEntries is spark-private in Scala, public in bytecode
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached() = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val before = cached()
    intercept[Exception](StatusStore.casMerge(StatusStore.markProcessing(
      Seq(("e1", "g1")).toDF("event_id", "guest_id")), dir))
    assert(cached() == before)
  }

  test("batch replay through the CAS store produces no duplicate email intent") {
    import graft.sink.StatusStore
    val base = Files.createTempDirectory("graft-cas-replay").toString
    val statusDir = s"$base/status"
    val jobsDir = s"$base/jobs"
    import spark.implicits._
    val triggered = Seq(("r1", "e1", "g1", "e1-a@b.co"))
      .toDF("record_id", "event_id", "guest_id", "dedup_id")

    def runBatch(): Long = {
      val cas = StatusStore.casMerge(
        StatusStore.markProcessing(triggered.select("event_id", "guest_id")), statusDir)
      if (cas.applied > 0) EmailJobSink.writeBatch(triggered.join(cas.appliedKeys,
        Seq("event_id", "guest_id"), "left_semi"), jobsDir, 0L)
      cas.applied
    }
    assert(runBatch() == 1L) // first delivery: job written
    // replay of the same batch by a recovered worker WITHOUT a txn log:
    // the CAS rejects (key already 'processing') → zero winners → no job
    assert(runBatch() == 0L)
    assert(spark.read.parquet(jobsDir).count() == 1L)
    val st = StatusStore.read(spark, statusDir).get.collect()
    assert(st.length == 1 && st.head.getAs[String]("delivery_status") == "processing")
  }

  test("streaming CAS sink: injected send failure reverts, restart converges") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-cas-stream").toString
    val fail = new java.util.concurrent.atomic.AtomicBoolean(true)
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(input.toDF().toDF("c_custkey", "c_name"))
    val q1 = StreamPipeline.casSinkTo(StreamPipeline.outcomes(envelope), s"$base/ck",
      s"$base/jobs", s"$base/status", failSend = () => fail.get())
    input.addData((28L, "Customer#28"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    // the failed send compensated: status back to 'pending' with the
    // error timestamp, and NO email intent landed
    val reverted = graft.sink.StatusStore.read(spark, s"$base/status").get.collect()
    assert(reverted.length == 1)
    assert(reverted.head.getAs[String]("delivery_status") == "pending")
    assert(reverted.head.getAs[String]("email_error_at") != null)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/jobs"))
      || spark.read.parquet(s"$base/jobs").count() == 0L)

    // restart: offsets were never committed, the batch replays, the CAS
    // re-acquires the reverted key, the send succeeds exactly once
    fail.set(false)
    val q2 = StreamPipeline.casSinkTo(StreamPipeline.outcomes(envelope), s"$base/ck",
      s"$base/jobs", s"$base/status")
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$base/jobs").count() == 1L)
      val st = graft.sink.StatusStore.read(spark, s"$base/status").get.collect()
      assert(st.length == 1 && st.head.getAs[String]("delivery_status") == "processing")
    } finally q2.stop()
  }

  test("a crash between the trigger CAS and the job write loses the job: the key stays 'processing'") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.sink.StatusStore
    import graft.streaming.StreamOutcome
    val base = Files.createTempDirectory("graft-cas-crash").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamOutcome]
    val batch = Seq(
      StreamOutcome("r1", "ev1", "g1", "ev1|a@x.com", "email_triggered", ""),
      StreamOutcome("r2", "ev2", "g2", "ev2|b@x.com", "email_triggered", ""))
    // the crashed attempt of batch 0 committed its trigger CAS and died
    // before the job write: no job, no commit-log entry, no offset commit
    StatusStore.casMerge(StatusStore.markProcessing(
      batch.map(o => (o.eventId, o.guestId)).toDF("event_id", "guest_id")), s"$base/status")
    // the replay of batch 0: its CAS finds the batch's own keys
    // 'processing' and rejects them, so neither job is written
    val q = StreamPipeline.casSinkTo(input.toDS(), s"$base/ck",
      s"$base/jobs", s"$base/status")
    try {
      input.addData(batch: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.DirIO.readParquet(spark, s"$base/jobs").forall(_.count() == 0L),
      "a job was written for a key the crashed attempt already moved")
    val st = StatusStore.read(spark, s"$base/status").get.collect()
      .map(r => r.getAs[String]("guest_id") -> r.getAs[String]("delivery_status")).toMap
    assert(st == Map("g1" -> "processing", "g2" -> "processing"))
    assert(StatusStore.currentVersion(s"$base/status") == 1L)
  }

  test("streaming foreachBatch sink: triggered jobs land once, status merges") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-stream-sink").toString
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val envelope = MatchFixture.envelope(
      input.toDF().toDF("c_custkey", "c_name"))
    val q = StreamPipeline.casSinkTo(StreamPipeline.outcomes(envelope), s"$base/ck",
      s"$base/jobs", s"$base/status")
    try {
      input.addData((28L, "Customer#28"), (578L, "Customer#578"))
      q.processAllAvailable()
      // same email key again in a later batch: no new job, status stays
      input.addData((1128L, "Customer#1128"))
      q.processAllAvailable()
      val jobs = spark.read.parquet(s"$base/jobs")
      assert(jobs.count() == 1L)
      assert(jobs.head.getAs[String]("dedup_id").startsWith("ev28-"))
      val status = graft.sink.StatusStore.read(spark, s"$base/status").get.collect()
      // g28 processing (triggered); g578 & g1128 delivered (duplicates)
      val byGuest = status.map(r => r.getAs[String]("guest_id") ->
        r.getAs[String]("delivery_status")).toMap
      assert(byGuest("g28") == "processing")
      assert(byGuest("g578") == "delivered")
      assert(byGuest("g1128") == "delivered")
    } finally q.stop()
  }

  test("CAS sink: null-guest triggers and duplicates of one event leave one status row per key") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-cas-nullguest").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamOutcome]
    // a null guest_id decodes to "", so these share the keys (ev1, "")
    // and (ev2, ""): two triggers with different emails, two duplicates
    def out(r: String, ev: String, email: String, action: String) =
      graft.streaming.StreamOutcome(r, ev, "", s"$ev|$email", action, "")
    val q = StreamPipeline.casSinkTo(input.toDS(), s"$base/ck",
      s"$base/jobs", s"$base/status")
    try {
      input.addData(
        out("r1", "ev1", "a@x.com", "email_triggered"),
        out("r2", "ev1", "b@x.com", "email_triggered"),
        out("r3", "ev2", "c@x.com", "duplicate_prevented"),
        out("r4", "ev2", "d@x.com", "duplicate_prevented"))
      q.processAllAvailable()
      // a later commit must not multiply the keys already stored
      input.addData(
        out("r5", "ev2", "c@x.com", "duplicate_prevented"),
        out("r6", "ev2", "d@x.com", "duplicate_prevented"))
      q.processAllAvailable()
    } finally q.stop()
    val st = graft.sink.StatusStore.read(spark, s"$base/status").get
      .collect().map(r => (r.getAs[String]("event_id"), r.getAs[String]("guest_id"),
        r.getAs[String]("delivery_status"))).sorted.toSeq
    assert(st == Seq(("ev1", "", "processing"), ("ev2", "", "delivered")))
    // both emails of ev1 still get their job
    assert(spark.read.parquet(s"$base/jobs").count() == 2L)
  }
}
