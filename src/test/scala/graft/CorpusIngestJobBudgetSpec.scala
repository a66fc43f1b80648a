package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.CorpusIngest

/** Pins the Spark jobs per call of the two ingest layers that
  * `corpus_tombstone_active` runs: `ingestBatch` and `tombstoneDocs`.
  *
  * For each layer, three calls: a first batch into an empty corpus, a
  * later batch against the stored corpus, and a replay of that later
  * batch, which the commit log skips before any job runs. Jobs are
  * counted per call through a job group, under [[SinkJobBudgetSpec]]'s
  * listener and its AQE-off, broadcast-off conf. A regression that adds
  * a schema-inference read, a second count or an unpinned write fails
  * here.
  */
class CorpusIngestJobBudgetSpec extends SparkSpec {
  import SinkJobBudgetSpec._
  import spark.implicits._

  /** The result of `body` and the number of jobs it started. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"ingest-budget-${java.util.UUID.randomUUID}"
    val log = new JobLog
    sc.addSparkListener(log)
    sc.setJobGroup(group, group)
    val out = try countingConf(spark)(body) finally sc.clearJobGroup()
    log.settle()
    sc.removeSparkListener(log)
    (out, log.jobs.asScala.count(_.getProperty("spark.jobGroup.id") == group))
  }

  test("ingestBatch: jobs of a first batch, a later batch and a replay") {
    val dir = Files.createTempDirectory("graft-ingest-budget").toString
    val b0 = Seq((1L, "alpha content"), (2L, "beta content"),
      (11L, "alpha content")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha content"), (4L, "gamma content"))
      .toDF("doc_id", "text")
    // pin the decision, count it, write it
    assert(jobsOf(CorpusIngest.ingestBatch(b0, 0L, dir)) == (2L, 3))
    // plus the stored digests' schema-inference read
    assert(jobsOf(CorpusIngest.ingestBatch(b1, 1L, dir)) == (1L, 4))
    assert(jobsOf(CorpusIngest.ingestBatch(b1, 1L, dir)) == (0L, 0))
  }

  test("tombstoneDocs: jobs of a first batch, a later batch and a replay") {
    val dir = Files.createTempDirectory("graft-tomb-budget").toString
    val m0 = Seq(1L, 2L, 2L).toDF("doc_id")
    val m1 = Seq(2L, 3L).toDF("doc_id")
    assert(jobsOf(CorpusIngest.tombstoneDocs(m0, 0L, dir)) == (2L, 3))
    assert(jobsOf(CorpusIngest.tombstoneDocs(m1, 1L, dir)) == (1L, 4))
    assert(jobsOf(CorpusIngest.tombstoneDocs(m1, 1L, dir)) == (0L, 0))
  }
}
