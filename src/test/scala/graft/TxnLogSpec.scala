package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sink.EmailJobSink.TxnLog
import graft.streaming.{CorpusIngest, StreamOutcome, StreamPipeline}

/** The batch-commit log every effectively-once writer shares
  * ([[TxnLog]]): one marker per log whatever the batch count, a lost
  * race for a batch id fails loudly, and logs in the earlier layouts
  * (a marker per batch, a folded `hwm` file, or both) read the same
  * committed ids. */
class TxnLogSpec extends SparkSpec {
  import spark.implicits._

  private def entries(log: String): List[String] =
    DirIO.listNames(Paths.get(log)).sorted

  /** Ids 0..newest are skipped without running; newest + 1 runs. */
  private def skipsUpTo(log: String, newest: Long): Unit = {
    (0L to newest).foreach { b =>
      assert(!TxnLog.runOnce(log, b)(fail(s"batch $b of $log ran again")))
    }
    assert(!TxnLog.committed(log, newest + 1))
  }

  test("two writers running one batch id: exactly one commits, the other throws, one marker remains") {
    val log = Files.createTempDirectory("graft-txn-race").toString
    val bothInWrite = new CyclicBarrier(2)
    val rounds = 8
    val outcomes = Array.fill(2)(new ConcurrentLinkedQueue[(Int, Try[Boolean])]())
    val threads = (0 until 2).map { w =>
      new Thread(() => (0 until rounds).foreach { r =>
        // both attempts pass the committed check before either commits
        outcomes(w).add(r -> Try(TxnLog.runOnce(log, r.toLong) {
          bothInWrite.await(); ()
        }))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    (0 until rounds).foreach { r =>
      val got = outcomes.flatMap(_.asScala.collect { case (`r`, t) => t })
      assert(got.length == 2, s"round $r: $got")
      assert(got.count(_.toOption.contains(true)) == 1, s"round $r: $got")
      assert(got.count(_.isFailure) == 1, s"round $r: $got")
      assert(got.collect { case scala.util.Failure(e) => e }
        .forall(_.isInstanceOf[IllegalStateException]), s"round $r: $got")
    }
    assert(entries(log) == List(s"batch-${rounds - 1}"))
  }

  test("six batches through every writer leave one marker per log; replays skip, the next id runs") {
    implicit val ctx = spark.sqlContext
    val base = Files.createTempDirectory("graft-txn-six").toString
    def docs(b: Long) = (0 until 3).map(i => (b * 100 + i, s"doc $b $i text"))
      .toDF("doc_id", "text")
    def quoting(b: Long) =
      Seq((b * 100, s"x$b y$b q1 q2 q3 q4 q5 q6 z$b")).toDF("doc_id", "text")

    // the CDC sink, through its stream
    val input = MemoryStream[StreamOutcome]
    val q = StreamPipeline.casSinkTo(input.toDS(), s"$base/ck",
      s"$base/jobs", s"$base/status")
    try (0 until 6).foreach { i =>
      input.addData(StreamOutcome(s"r$i", s"ev$i", s"g$i", s"ev$i|a@x.com",
        "email_triggered", ""))
      q.processAllAvailable()
    } finally q.stop()
    val sinkLog = s"$base/jobs/_txn"
    assert(entries(sinkLog) == List("batch-5"))
    skipsUpTo(sinkLog, 5L)

    // the corpus writers, called per batch id
    val corpus = s"$base/corpus"
    val decontam = s"$base/decontam"
    val sketch = s"$base/kmv"
    CorpusIngest.writeEvalIndex(
      Seq((1000L, "q1 q2 q3 q4 q5 q6")).toDF("doc_id", "text"), decontam)
    (0L until 6L).foreach { b =>
      assert(CorpusIngest.ingestBatch(docs(b), b, corpus) == 3L)
      assert(CorpusIngest.tombstoneDocs(docs(b).limit(1), b, corpus) == 1L)
      assert(CorpusIngest.decontamBatch(quoting(b), b, decontam) == 1L)
      CorpusIngest.updateKmvSketch(docs(b), b, sketch, k = 8)
    }
    val logs = Seq(s"$corpus/_txn", s"$corpus/_txn_tombs",
      s"$decontam/_txn", s"$sketch/_txn")
    logs.foreach { log =>
      assert(entries(log) == List("batch-5"), log)
      skipsUpTo(log, 5L)
    }
    // a replayed id with NEW content is skipped by the log alone ...
    assert(CorpusIngest.ingestBatch(docs(9), 2L, corpus) == 0L)
    assert(CorpusIngest.tombstoneDocs(docs(9), 2L, corpus) == 0L)
    assert(CorpusIngest.decontamBatch(quoting(9), 2L, decontam) == 0L)
    // ... and the next id runs, leaving its own marker alone in the log
    assert(CorpusIngest.ingestBatch(docs(9), 6L, corpus) == 3L)
    assert(CorpusIngest.tombstoneDocs(docs(9).limit(1), 6L, corpus) == 1L)
    assert(CorpusIngest.decontamBatch(quoting(9), 6L, decontam) == 1L)
    CorpusIngest.updateKmvSketch(docs(9), 6L, sketch, k = 8)
    logs.foreach(log => assert(entries(log) == List("batch-6"), log))
    // the sketch keeps its two newest versions, located without markers
    assert(DirIO.listNames(Paths.get(sketch)).filter(_.startsWith("mins-"))
      .sorted == List("mins-5", "mins-6"))
    assert(CorpusIngest.readKmvSketch(spark, sketch).get.count() == 8L)
  }

  test("logs in the earlier layouts read the same committed ids; their next commit leaves one marker") {
    def layout(markers: Seq[Long], hwm: Option[Long]): String = {
      val log = Files.createTempDirectory("graft-txn-legacy")
      markers.foreach(b => Files.createFile(log.resolve(s"batch-$b")))
      hwm.foreach(h => Files.write(log.resolve("hwm"), h.toString.getBytes("UTF-8")))
      log.toString
    }
    // a marker per batch (no compaction ran)
    val markersOnly = layout(0L to 3L, None)
    // a compacted log: the high-water mark only
    val hwmOnly = layout(Nil, Some(7L))
    // a compacted sketch log: the hwm plus the retained versions' markers
    val hwmAndMarkers = layout(Seq(4L, 5L), Some(3L))
    Seq(markersOnly -> 3L, hwmOnly -> 7L, hwmAndMarkers -> 5L).foreach {
      case (log, newest) =>
        assert(TxnLog.highWaterMark(log) == newest, log)
        skipsUpTo(log, newest)
        assert(TxnLog.runOnce(log, newest + 1)(()))
        assert(entries(log) == List(s"batch-${newest + 1}"), log)
        skipsUpTo(log, newest + 1)
    }
    // a sketch whose log an earlier layout compacted still reads its
    // newest version, and a dir above the newest id stays invisible
    val sketch = Files.createTempDirectory("graft-txn-legacy-kmv").toString
    (0L until 6L).foreach { b =>
      CorpusIngest.updateKmvSketch(Seq((b, s"t$b")).toDF("doc_id", "text"),
        b, sketch, k = 8)
    }
    val newest = CorpusIngest.readKmvSketch(spark, sketch).get
      .as[Long].collect().sorted.toSeq
    val log = Paths.get(sketch, "_txn")
    Files.delete(log.resolve("batch-5"))
    Seq(4L, 5L).foreach(b => Files.createFile(log.resolve(s"batch-$b")))
    Files.write(log.resolve("hwm"), "3".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(sketch, "mins-6"))
    assert(CorpusIngest.readKmvSketch(spark, sketch).get
      .as[Long].collect().sorted.toSeq == newest)
  }
}
