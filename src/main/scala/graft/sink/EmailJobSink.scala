package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.JobLabel

/** O14 as an effectively-once batch sink (SURVEY.md §7.4.2): email jobs
  * appended idempotently by dedup_id, plus the commit log that makes a
  * replayed micro-batch free. The status table (O8/O11) is not kept
  * here: it lives behind the conditional-write store
  * [[graft.sink.StatusStore]], and graft.streaming.StreamPipeline's
  * `casSinkTo` drives both.
  *
  * The job append anti-joins the incoming batch against the keys already
  * in the sink, so replaying a batch (checkpoint recovery, at-least-once
  * upstream) cannot double-send — the engine-side realization of the
  * reference's advisory dedupId (index.js:572, advisory only because
  * standard SQS doesn't enforce it).
  *
  * Storage is plain parquet appends; a transactional table format
  * (Delta/Iceberg) gives the same anti-join append at production scale.
  */
object EmailJobSink {

  /** Idempotent append: only jobs whose dedup_id is not yet in the sink
    * are written. Returns the number of newly written rows.
    *
    * Two jobs at most: the count (`append:dedup`) materializes the
    * anti-joined frame into the cache, and the write (`append:write`)
    * reads it from there, so the anti-join runs once. The jobs dir is
    * read with the one column the anti-join needs, so no
    * schema-inference job runs. The write stays conditional: an empty
    * Append would still create the directory. */
  def appendJobs(jobs: DataFrame, jobsDir: String): Long = {
    val spark = jobs.sparkSession
    val fresh = (graft.DirIO.readParquet(spark, jobsDir, Some(DedupIdSchema)) match {
      case Some(existing) =>
        jobs.join(existing.distinct(), Seq("dedup_id"), "left_anti")
      case None => jobs
    }).cache()
    try {
      val n = JobLabel(spark, "append:dedup")(fresh.count())
      if (n > 0) JobLabel(spark, "append:write") {
        fresh.write.mode(SaveMode.Append).parquet(jobsDir)
      }
      n
    } finally fresh.unpersist()
  }

  private val DedupIdSchema = StructType(Seq(StructField("dedup_id", StringType)))

  /** Batch-commit log: the exactly-once foreachBatch pattern. A batch id
    * is committed by creating a marker file AFTER its writes complete;
    * `runOnce` skips batches whose marker already exists, so a replay
    * after a crash between sink-write and checkpoint-commit does nothing
    * (the data-level idempotence above already makes the replay safe —
    * the log makes it also FREE, and gives downstream readers a watermark
    * of fully-committed batches). Marker creation is atomic at the
    * filesystem level (create-new); object stores replace this with a
    * conditional PUT — same protocol. */
  object TxnLog {
    /** Committed = explicit marker present OR at/below the compacted
      * high-water mark. Micro-batch ids commit in order within a
      * stream, so "id ≤ max committed id" is exactly the replay-skip
      * predicate the per-batch markers encode — the hwm file is their
      * lossless compaction. */
    def committed(logDir: String, batchId: Long): Boolean =
      Files.exists(Paths.get(logDir, s"batch-$batchId")) ||
        batchId <= highWaterMark(logDir)

    /** Max batch id folded into the hwm file by [[compact]]; -1 when
      * no compaction has run. */
    def highWaterMark(logDir: String): Long = {
      val p = Paths.get(logDir, "hwm")
      if (!Files.exists(p)) -1L
      else scala.util.Try(
        new String(Files.readAllBytes(p), "UTF-8").trim.toLong).getOrElse(-1L)
    }

    /** All batch ids with an explicit marker file (excludes ids only
      * covered by the hwm). */
    def markerIds(logDir: String): Seq[Long] = {
      val log = Paths.get(logDir)
      if (!Files.exists(log)) Seq.empty
      else {
        graft.DirIO.numberedEntries(log, "batch-")
      }
    }

    /** Fold committed markers into the hwm file, then delete every
      * marker at/below it except those in `retain` (ids whose sidecar
      * artifacts — e.g. versioned sketch dirs — still exist and are
      * located via their markers). Without this the log grows one file
      * per micro-batch for the stream's lifetime. Crash-safe: the hwm
      * is written to a temp file and atomically moved BEFORE any
      * marker is deleted, so a crash at any point leaves every id
      * still provably committed (marker or hwm). */
    def compact(logDir: String, retain: Set[Long] = Set.empty): Unit = {
      val ids = markerIds(logDir)
      if (ids.nonEmpty) {
        val hwm = math.max(ids.max, highWaterMark(logDir))
        val tmp = Paths.get(logDir, "hwm.tmp")
        Files.write(tmp, hwm.toString.getBytes("UTF-8"))
        Files.move(tmp, Paths.get(logDir, "hwm"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ids.filter(id => id <= hwm && !retain.contains(id)).foreach { id =>
          Files.deleteIfExists(Paths.get(logDir, s"batch-$id")); ()
        }
      }
    }

    /** Run `write` iff `batchId` is not yet committed, then commit it.
      * Returns true when the batch executed, false when skipped. */
    def runOnce(logDir: String, batchId: Long)(write: => Unit): Boolean =
      if (committed(logDir, batchId)) false
      else {
        write
        Files.createDirectories(Paths.get(logDir))
        Files.createFile(Paths.get(logDir, s"batch-$batchId"))
        true
      }
  }
}
