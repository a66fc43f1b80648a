package graft.sink

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.{DirIO, Generations, JobLabel}

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
    * is committed by the marker `batch-<id>`, published AFTER its
    * writes complete through [[graft.Generations.commit]] (temp write,
    * hard link: atomic, first writer wins); `runOnce` skips a committed
    * batch, so a replay after a crash between sink-write and
    * checkpoint-commit does nothing (the per-batch overwrite above
    * already makes the replay safe — the log makes it also FREE, and
    * gives downstream readers a watermark of fully-committed batches).
    *
    * The log keeps ONE marker: after a commit, the markers below it are
    * deleted, so the newest marker is the high-water mark and a batch
    * is committed iff its id is at or below it. That holds because
    * micro-batch ids commit in increasing order within a stream, as
    * foreachBatch provides; an id LOWER than the newest marker reads as
    * committed without running. A crash between the link and the
    * deletes leaves extra markers below the newest: harmless, the next
    * commit deletes them. A log an earlier layout wrote (one marker per
    * batch, or an `hwm` file holding the folded-away maximum, or both)
    * reads as committed up to the largest id they hold; its next commit
    * deletes them. Object stores replace the link with a conditional
    * PUT — same protocol. */
  object TxnLog {

    /** The newest committed batch id: the newest marker, or the `hwm`
      * file an earlier layout folded its markers into; -1 when no batch
      * has committed. */
    def highWaterMark(logDir: String): Long = {
      val legacy = Paths.get(logDir, "hwm")
      val folded = if (!Files.exists(legacy)) None else Try(
        new String(Files.readAllBytes(legacy), "UTF-8").trim.toLong).toOption
      (DirIO.numberedEntries(Paths.get(logDir), "batch-") ++ folded)
        .maxOption.getOrElse(-1L)
    }

    def committed(logDir: String, batchId: Long): Boolean =
      batchId <= highWaterMark(logDir)

    /** Run `write` iff `batchId` is not yet committed, then commit it and
      * delete what the new marker supersedes. Returns true when the
      * batch executed, false when skipped; throws when another writer
      * committed the same id first. */
    def runOnce(logDir: String, batchId: Long)(write: => Unit): Boolean =
      if (committed(logDir, batchId)) false
      else {
        write
        val log = Paths.get(logDir)
        if (!Generations.commit(log.resolve(s"batch-$batchId"), ""))
          throw new IllegalStateException(s"batch $batchId at $logDir was " +
            "committed by a concurrent writer")
        DirIO.numberedEntries(log, "batch-").filter(_ < batchId).foreach {
          id => Files.deleteIfExists(log.resolve(s"batch-$id")); ()
        }
        Files.deleteIfExists(log.resolve("hwm"))
        true
      }
  }
}
