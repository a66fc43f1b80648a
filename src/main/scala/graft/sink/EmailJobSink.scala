package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.JobLabel

/** O14 as an effectively-once batch sink (SURVEY.md §7.4.2): each
  * micro-batch's email jobs written as its own partition of the jobs
  * table, plus the commit log that makes a replayed micro-batch free.
  * The status table (O8/O11) is not kept here: it lives behind the
  * conditional-write store [[graft.sink.StatusStore]], and
  * graft.streaming.StreamPipeline's `casSinkTo` drives both.
  *
  * A batch's write needs no read of the jobs already written. A job
  * reaches the write only when the trigger CAS moved its status key
  * 'pending' → 'processing', and every later CAS on that key rejects,
  * so no later batch writes a job for it again; a replay of a
  * committed batch is skipped by [[TxnLog]]; and a replay of a batch
  * whose write failed overwrites that batch's own partition. (A dedup
  * id is not a key here: an email key whose TTL expired triggers again
  * under a new status key, and its job is written, as the TTL means.) This
  * is the engine-side realization of the reference's advisory dedupId
  * (index.js:572, advisory only because standard SQS doesn't enforce
  * it).
  *
  * Storage is one parquet directory per batch, `batch_id=<id>`, which
  * a reader of the jobs dir sees as a partition column; a
  * transactional table format (Delta/Iceberg) gives the same
  * per-batch replace at production scale.
  */
object EmailJobSink {

  /** Writes the jobs of micro-batch `batchId` as the partition
    * `batch_id=<batchId>` under `jobsDir`, replacing whatever an
    * earlier attempt of the same batch left there. One job, labelled
    * `jobs:write`; the caller writes only a non-empty batch, since an
    * empty write would still create the partition. */
  def writeBatch(jobs: DataFrame, jobsDir: String, batchId: Long): Unit =
    JobLabel(jobs.sparkSession, "jobs:write") {
      jobs.write.mode(SaveMode.Overwrite).parquet(s"$jobsDir/batch_id=$batchId")
    }

  /** Batch-commit log: the exactly-once foreachBatch pattern. A batch id
    * is committed by creating a marker file AFTER its writes complete;
    * `runOnce` skips batches whose marker already exists, so a replay
    * after a crash between sink-write and checkpoint-commit does nothing
    * (the per-batch overwrite above already makes the replay safe —
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
