package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{DirIO, Generations}
import graft.ext.{CentroidStore, DedupOps, EmbedOps, TextOps}
import graft.sink.EmailJobSink.TxnLog

/** Continuous corpus ingestion with incremental dedup — the streaming
  * assembly of [[graft.ext.DedupOps.incrementalNewDocs]]'s join shape:
  * each micro-batch keeps one canonical doc per content digest within
  * the batch (min doc_id — deterministic, replay-stable), anti-joins
  * the survivors against the digests already in the corpus, and appends
  * only never-seen content.
  *
  * Effectively-once across restarts: the append runs under
  * [[TxnLog.runOnce]] (batch-id marker committed AFTER the write), so a
  * replayed micro-batch after a crash between sink-write and
  * checkpoint-commit is skipped; even without the marker the anti-join
  * re-suppresses previously appended content — the two layers mirror
  * the reference's dedupId + conditional-write pairing (index.js:572,
  * 448-497). Every ingest layer commits through one step,
  * [[appendOnce]]: a layer is a decision plus the writes of its rows.
  * A stream runs a layer per micro-batch with
  * `writeStream.foreachBatch`.
  *
  * Scale posture: the anti-join probe reads ONLY the digest column of
  * the corpus (column pruning → a 16-byte-per-doc scan); at 100 TB the
  * digest index would be a separate compacted table (same join, smaller
  * scan) and the parquet append a transactional-table commit — the
  * dataflow is identical. Digest keys are uniform: no skew.
  */
object CorpusIngest {

  /** The one effectively-once append step of every ingest layer.
    * Unless `batchId` is already committed under `logDir`, it evaluates
    * `decide`, pins the decision (localCheckpoint), counts it, and runs
    * `write` only when the count is above 0; the batch marker commits
    * after the write. The pin makes the count and every write act on
    * ONE evaluation: the decision's lazy plan reads the dirs the writes
    * append to, so a second write would otherwise re-evaluate it after
    * the first and see its own rows (the read-your-own-write hazard).
    * `decide` caches the frames it reuses through the function it is
    * given; they are released when the step ends, also when it throws.
    * A decision of None (nothing to decide against) appends nothing
    * and runs no job. Returns the rows appended, 0 for a replay. */
  private def appendOnce(logDir: String, batchId: Long)(
      decide: (DataFrame => DataFrame) => Option[DataFrame])(
      write: DataFrame => Unit): Long = {
    val cached = ArrayBuffer.empty[DataFrame]
    var n = 0L
    try TxnLog.runOnce(logDir, batchId) {
      decide { df => cached += df.cache(); df }.foreach { decision =>
        val fresh = decision.localCheckpoint()
        n = fresh.count()
        if (n > 0) write(fresh)
      }
    } finally cached.foreach(_.unpersist())
    n
  }

  private def append(rows: DataFrame, dir: String): Unit =
    rows.write.mode(SaveMode.Append).parquet(dir)

  /** `rows` without those whose `key` is in `stored`. */
  private def minus(rows: DataFrame, stored: Option[DataFrame],
      key: String): DataFrame =
    stored.fold(rows)(s => rows.join(s, Seq(key), "left_anti"))

  /** The exact-digest step: one canonical doc per content digest
    * within the batch (min doc_id), minus the digests `dataDir`
    * already stores. */
  private def newContent(batch: DataFrame, dataDir: String): DataFrame =
    minus(batch
      .withColumn("content_md5", md5(col("text").cast("binary")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("content_md5")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn"),
      DirIO.readParquet(batch.sparkSession, dataDir)
        .map(_.select(col("content_md5")).distinct()),
      "content_md5")

  /** Dedup + anti-join + append for one micro-batch; returns rows
    * appended (0 when the batch replays or brings nothing new). */
  def ingestBatch(batch: DataFrame, batchId: Long, corpusDir: String): Long =
    appendOnce(s"$corpusDir/_txn", batchId) { _ =>
      Some(newContent(batch, s"$corpusDir/data"))
    }(append(_, s"$corpusDir/data"))

  // ------------------------------------------------------------------
  // REMOVE-event excision (r19 — [[graft.pipeline.Tombstones]]'s
  // corpus half). Deletes are LOGICAL: excision markers append to a
  // small `tombs/` table and every read anti-joins it — the standard
  // tombstone design at 100 TB (an in-place rewrite of an append-only
  // corpus per delete would be a full-corpus write amplification; a
  // tombstone is one tiny append + a broadcast-sized anti-join at
  // read time, and the PHYSICAL rewrite happens once, on the
  // operator's schedule, exactly like the retrain migrations: stop
  // the stream, re-ingest [[activeCorpus]] into a fresh dir, point
  // the stream at it). Works uniformly over any ingest layer whose
  // data/ carries `doc_id`.
  // ------------------------------------------------------------------

  /** Append excision markers (any frame with a `doc_id` column — the
    * [[graft.pipeline.Tombstones.excisionMarkers]] shape) to the
    * corpus's tombstone table. Effectively-once like every ingest
    * append: TxnLog marker for replay skip, PLUS a doc_id drain so a
    * replayed batch without its marker converges (appends nothing
    * already tombstoned). Returns markers appended. */
  def tombstoneDocs(markers: DataFrame, batchId: Long,
      corpusDir: String): Long = {
    val tombsDir = s"$corpusDir/tombs"
    appendOnce(s"$corpusDir/_txn_tombs", batchId) { _ =>
      Some(minus(markers.select(col("doc_id")).distinct(),
        DirIO.readParquet(markers.sparkSession, tombsDir), "doc_id"))
    }(append(_, tombsDir))
  }

  /** The live view of a corpus under logical excision: data/ minus
    * tombs/. Without tombstones this IS the data frame (no join in
    * the plan). The tombstone side is deletes-are-rare small —
    * broadcast-anti-join territory; at worst a shuffle on the same
    * doc_id key every other probe uses. */
  def activeCorpus(spark: SparkSession, corpusDir: String): DataFrame = {
    val data = DirIO.readParquet(spark, s"$corpusDir/data").getOrElse(
      throw new IllegalArgumentException(s"no corpus at $corpusDir/data"))
    DirIO.readParquet(spark, s"$corpusDir/tombs") match {
      case Some(t) =>
        data.join(broadcast(t.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_anti")
      case None => data
    }
  }

  /** [[ingestBatch]] plus a NEAR-dup layer: after exact suppression,
    * the batch dedups against ITSELF at the near level (one canonical
    * doc per in-batch minhash cluster), then probes the corpus's
    * STORED band index ([[graft.ext.DedupOps.bandKeys]], appended at
    * every ingest) for collision candidates; only candidate corpus
    * docs are re-read for exact-Jaccard verification — the band index
    * prunes the read, the verify is the shared relational stage.
    * Incoming docs with a verified near-dup in the corpus are dropped;
    * survivors append to data/ and their band keys to bands/.
    *
    * Scale posture: per batch, work is |batch| band probes against an
    * indexed (band → doc) table plus shingling of |batch| + |candidate
    * hits| docs — never a corpus rescan. The band index is the same
    * artifact the batch `dedup_incremental_near` query derives on the
    * fly; the stream materializes it once and appends. */
  def ingestBatchNear(batch: DataFrame, batchId: Long, corpusDir: String,
      threshold: Double = 0.5): Long = {
    val spark = batch.sparkSession
    val dataDir = s"$corpusDir/data"
    val bandsDir = s"$corpusDir/bands"
    appendOnce(s"$corpusDir/_txn", batchId) { cache =>
      val exactNew = newContent(batch, dataDir)
      // in-batch near dedup: keep each cluster's canonical (min doc_id)
      val canon = cache(exactNew.join(
        DedupOps.nearDupClusters(exactNew, threshold, cache)
          .filter(col("is_canonical")).select(col("doc_id")),
        Seq("doc_id"), "left_semi"))
      Some(DirIO.readParquet(spark, bandsDir) match {
        case Some(storedBands) =>
          val cand = DedupOps.bandKeys(canon)
            .select(col("band"), col("doc_id").as("doc_a"))
            .join(storedBands.select(col("band"), col("doc_id").as("doc_b")),
              Seq("band"))
            .select(col("doc_a"), col("doc_b")).distinct()
          // only corpus docs that collide on a band get re-read+shingled
          val corpusCand = spark.read.parquet(dataDir)
            .join(cand.select(col("doc_b").as("doc_id")).distinct(),
              Seq("doc_id"), "left_semi")
          val dupIds = DedupOps.verifyJaccardPairs(
              cand,
              canon.select(col("doc_id"), col("text"))
                .unionByName(corpusCand.select(col("doc_id"), col("text"))),
              threshold, cache)
            .select(col("doc_a").as("doc_id")).distinct()
          canon.join(dupIds, Seq("doc_id"), "left_anti")
        case None => canon
      })
    } { fresh =>
      append(fresh, dataDir)
      append(DedupOps.bandKeys(fresh), bandsDir)
    }
  }

  /** Semantic ingestion against a PERSISTED
    * [[graft.ext.CentroidStore]] — incremental SemDeDup: the batch
    * `embed_semdedup` query's EXACT geometry (frozen k-means
    * centroids, quantized cosine, semDedupFrom's keep rule) applied
    * per micro-batch. Per micro-batch:
    *
    *   1. replay-drain against the append-only corpus's vec ids
    *      (vec_id is the IMMUTABLE identity, the same contract as
    *      [[ingestBatchSubstring]]'s doc_id drain) — a crash between
    *      the data append and the txn marker must not re-admit; on
    *      replay evidence the reps append lost in the second crash
    *      window is HEALED from stored state;
    *   2. assign incoming vectors to the frozen centroids
    *      ([[graft.ext.EmbedOps.assignAgainst]] — broadcast argmin,
    *      no re-clustering, ever);
    *   3. in-batch semantic dedup via
    *      [[graft.ext.EmbedOps.semDedupKeepIds]] over those
    *      assignments — keep exactly the member the batch query
    *      would keep;
    *   4. suppress survivors that cosine-verify (≥ threshold)
    *      against their cluster's BOUNDED representative set
    *      (reps/ — at most `repCap` stored vectors per centroid, in
    *      admission order);
    *   5. append survivors (with centroid_id) to data/ and admit
    *      them to reps/ up to each cluster's remaining capacity.
    *
    * WHY the probe is bounded: centroids are train-time FROZEN (the
    * [[graft.ext.CentroidStore]] contract — moving one re-labels
    * history), so [[graft.ext.EmbedOps.scaledK]] bounds cluster
    * occupancy at TRAIN time only; as the stream appends past the
    * training corpus, stored rows per centroid grow without bound,
    * and a probe against the FULL stored cluster (the pre-r18 form)
    * costs Σ_c batch_c × stored_c per batch — linear in everything
    * ever ingested, a per-batch scale-killer over a long stream. The
    * reps cap makes the probe's candidate set ≤ |batch| × repCap by
    * construction, so per-batch wall is flat in corpus lifetime
    * (measured: `bench_results/ingest_growth.json`).
    *
    * The TRADE: suppression is exact (identical keep set to a
    * full-corpus probe — CorpusIngestSpec pins it) while every
    * cluster holds ≤ repCap stored vectors; past the cap, a new
    * vector is probed against the first repCap arrivals only, so a
    * duplicate of a LATER-arrived member can slip through — the
    * recall trade is MEASURED, never silent ([[semanticProbeAudit]]:
    * saturated-cluster and unrepresented-row counts), and the
    * backstop is the retrain EPOCH: a fresh [[graft.ext
    * .CentroidStore.build]] re-buckets the grown corpus at its own
    * scaledK, restoring ~targetBlock occupancy so repCap ≥
    * targetBlock again covers whole clusters. The default repCap =
    * 1024 is exactly scaledK's targetBlock.
    *
    * Same effectively-once layering as every ingest path: TxnLog
    * batch marker for replay skip, the vec_id drain re-suppresses a
    * replayed batch even without it, and the reps heal closes the
    * two-append crash window.
    *
    * Scale posture: the only corpus-sized read is the vec_id drain
    * (column-pruned 8-byte-per-row scan — at 100 TB a compacted id
    * index, same join); the probe joins the batch against the
    * k×repCap-bounded reps table; cosine verification pays only for
    * candidate pairs. */
  def ingestBatchSemanticCentroid(batch: DataFrame, batchId: Long,
      indexDir: String, centroidDir: String,
      threshold: Double = Double.NaN, repCap: Int = 1024): Long = {
    require(repCap >= 1, s"repCap must be >= 1 (got $repCap)")
    val spark = batch.sparkSession
    val thr = if (threshold.isNaN)
      graft.GraftConf.cosineThreshold(spark) else threshold
    val dataDir = s"$indexDir/data"
    val repsDir = s"$indexDir/reps"
    // the stored centroid_id column is only meaningful under ONE
    // frozen geometry: after a RETRAIN (a fresh CentroidStore epoch),
    // new batches would assign against epoch E+1 while stored rows
    // carry epoch-E buckets — the equi probe would silently compare
    // unrelated cluster ids (no false suppression, cosine still
    // verifies, but true neighbors stop colliding: a silent recall
    // hole, the substring path's mixed-width-window class). Reject
    // loudly; the migration is [[rebucketSemanticCentroid]] into a
    // fresh dir (retrain-as-epoch, serving dirs included).
    val epoch = CentroidStore.manifest(centroidDir)
      .getOrElse(throw new IllegalStateException(
        s"no committed centroid store at $centroidDir")).epoch
    val geometry = Map("centroid_epoch" -> epoch.toString)
    def checkEpoch(): Unit = checkStamp(indexDir, geometry) { got =>
      s"semantic-centroid corpus at $indexDir was bucketed under " +
        s"centroid epoch ${got("centroid_epoch")}; the " +
        s"store now serves epoch $epoch — stored centroid_ids only " +
        "match their own geometry, so this ingest would silently " +
        "stop colliding with history (migrate with " +
        "rebucketSemanticCentroid into a fresh dir, or point the " +
        "stream back at the old generation)"
    }
    checkEpoch()
    appendOnce(s"$indexDir/_txn", batchId) { cache =>
      val cents = CentroidStore.centroids(spark, centroidDir)
      // replay drain + reps heal (crash window 2: data appended, reps
      // append lost). Also bootstraps reps/ for a corpus written
      // before the bounded-probe layout existed: a data dir with no
      // reps would otherwise probe against nothing.
      val incoming = DirIO.readParquet(spark, dataDir) match {
        case Some(stored) =>
          val already = batch
            .join(stored.select(col("vec_id")), Seq("vec_id"), "left_semi")
            .select(col("vec_id")).localCheckpoint()
          val replayed = already.count() > 0
          val repsEmpty = !DirIO.nonEmpty(repsDir)
          if (replayed || repsEmpty) {
            // heal scope: on replay, the replayed ids; on an
            // unrepresented legacy/torn store, everything stored
            val scope =
              if (repsEmpty) stored
              else stored.join(already, Seq("vec_id"), "left_semi")
            val missing = minus(scope,
              DirIO.readParquet(spark, repsDir).map(_.select(col("vec_id"))),
              "vec_id")
            admitReps(spark, missing.select(col("centroid_id"),
              col("vec_id"), col("embedding")), repsDir, repCap)
          }
          batch.join(already, Seq("vec_id"), "left_anti")
        case None => batch
      }
      val asg = EmbedOps.assignAgainst(incoming, cents)
      // the bounded-lifetime form: semDedupFrom's internal pair cache
      // would otherwise accumulate one dead frame per micro-batch
      val keepIds = EmbedOps.semDedupKeepIds(incoming, asg, thr)
      val canon = cache(incoming.join(keepIds, Seq("vec_id"), "left_semi")
        .join(asg.select(col("vec_id"), col("centroid_id")), Seq("vec_id")))
      Some(DirIO.readParquet(spark, repsDir) match {
        case Some(reps) =>
          val cand = canon
            .select(col("centroid_id"), col("vec_id").as("vec_a"))
            .join(reps.select(col("centroid_id"),
              col("vec_id").as("vec_b")), Seq("centroid_id"))
            .select(col("vec_a"), col("vec_b"))
          val dupIds = EmbedOps.verifyCosinePairs(
              cand,
              canon.select(col("vec_id"), col("embedding"))
                .unionByName(
                  reps.select(col("vec_id"), col("embedding"))),
              thr)
            .select(col("vec_a").as("vec_id")).distinct()
          canon.join(dupIds, Seq("vec_id"), "left_anti")
        case None => canon
      })
    } { fresh =>
      // epoch committed BEFORE the first data lands, first writer
      // wins, then re-checked — the substring path's (w, occCap)
      // stamp discipline applied to the clustering geometry. A dir
      // that already holds data/ rows but carries NO stamp is REFUSED:
      // those rows were bucketed under an unknown — in practice older
      // — geometry, and stamping the current epoch onto them would
      // grandfather a mixed-geometry corpus into exactly the
      // silent-recall-hole state the check exists to reject loudly.
      require(Files.exists(Paths.get(indexDir, "_meta")) ||
        !DirIO.nonEmpty(dataDir),
        s"semantic-centroid corpus at $indexDir holds data/ rows but " +
          "no _meta epoch stamp — its rows were bucketed under an " +
          s"unknown (likely pre-stamp) geometry, and stamping epoch " +
          s"$epoch onto them would silently mix geometries (stored " +
          "centroid_ids stop colliding with new arrivals: a recall " +
          "hole). Migrate with rebucketSemanticCentroid into a fresh " +
          "dir, or restore the dir's original _meta")
      stamp(indexDir, geometry)
      checkEpoch()
      // order matters for the crash windows: data first (the drain
      // key), then reps (healed from data on replay evidence)
      append(fresh, dataDir)
      admitReps(spark, fresh.select(col("centroid_id"), col("vec_id"),
        col("embedding")), repsDir, repCap)
    }
  }

  /** Reject an ingest whose parameters disagree with the `_meta` stamp
    * of `dir` — a stored index only matches at the parameters it was
    * built with. `mismatch` words the error from the stamped values
    * ("?" for a missing key). No-op until a first successful batch
    * stamps the dir. */
  private[graft] def checkStamp(dir: String, expected: Map[String, String])(
      mismatch: Map[String, String] => String): Unit = {
    val meta = Paths.get(dir, "_meta")
    if (Files.exists(meta)) {
      val got = Generations.read(meta).withDefaultValue("?")
      require(expected.forall { case (k, v) => got(k) == v }, mismatch(got))
    }
  }

  /** Commit `kv` as the `_meta` stamp of `dir`, FIRST WRITER WINS
    * through [[graft.Generations.commit]] (a hard link carries complete
    * content, unlike a bare CREATE_NEW write whose partial flush a
    * concurrent reader could see). A losing racer returns normally;
    * the caller's re-check against the committed stamp
    * ([[checkStamp]]) is what fails its batch. Without hard links the
    * commit is a rename, last writer wins, and that re-check catches
    * a mismatch on the NEXT batch instead. */
  private[graft] def stamp(dir: String, kv: Map[String, String]): Unit = {
    val meta = Paths.get(dir, "_meta")
    if (!Files.exists(meta)) {
      Generations.commit(meta, kv.map { case (k, v) => s"$k=$v\n" }.mkString)
      ()
    }
  }

  /** RETRAIN MIGRATION — the documented backstop made executable:
    * re-bucket a semantic-centroid corpus under the CURRENT committed
    * geometry into a FRESH dir. Reads the old dir's stored vectors,
    * re-assigns them against the new epoch's centroids, writes
    * data/ + a repCap-bounded reps/ (admission in vec_id order — the
    * deterministic rule, since original arrival order is gone) and
    * stamps the new epoch. Crash-safe by construction: the old dir is
    * never touched, and a torn destination is re-run with the same
    * arguments (mode Overwrite). Single-writer contract: stop the
    * stream, rebucket, restart it against `newIndexDir`.
    *
    * Scale posture: one assignment pass over the stored corpus
    * (broadcast argmin — the irreducible exact-assignment cost of a
    * retrain) + one bounded rep admission; no pair work. Returns rows
    * migrated. */
  def rebucketSemanticCentroid(spark: SparkSession, oldIndexDir: String,
      newIndexDir: String, centroidDir: String,
      repCap: Int = 1024): Long = {
    // canonical compare: normalize() collapses '.'/'..' segments and
    // toRealPath() (when the dir exists) resolves symlink aliases —
    // toAbsolutePath alone let '/x/./a' vs '/x/a' (or a symlink twin)
    // slip past the guard and the Overwrite below clobber the source
    // dir the doc promises stays readable
    def canonical(p: String): java.nio.file.Path = {
      val a = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      try a.toRealPath() catch { case _: java.io.IOException => a }
    }
    require(canonical(oldIndexDir) != canonical(newIndexDir),
      "rebucket must target a FRESH dir (the old dir stays readable " +
        "until the stream has switched over)")
    val man = CentroidStore.manifest(centroidDir).getOrElse(
      throw new IllegalStateException(
        s"no committed centroid store at $centroidDir"))
    val storedOpt = DirIO.readParquet(spark, s"$oldIndexDir/data")
    if (storedOpt.isEmpty) return 0L
    val stored = storedOpt.get.drop("centroid_id")
    val cents = CentroidStore.centroids(spark, centroidDir)
    val rebucketed = stored.join(
      EmbedOps.assignAgainst(stored, cents)
        .select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .localCheckpoint()
    val n = rebucketed.count()
    rebucketed.write.mode(SaveMode.Overwrite)
      .parquet(s"$newIndexDir/data")
    rebucketed
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("centroid_id")).orderBy(col("vec_id"))))
      .filter(col("rn") <= repCap)
      .drop("rn")
      .write.mode(SaveMode.Overwrite).parquet(s"$newIndexDir/reps")
    // every stored row was just re-assigned under the current
    // geometry, so the new epoch is stamped onto them
    Files.deleteIfExists(Paths.get(newIndexDir, "_meta"))
    stamp(newIndexDir, Map("centroid_epoch" -> man.epoch.toString))
    n
  }

  /** Admit `cands` (centroid_id, vec_id, embedding) to the bounded
    * representative set: each cluster takes candidates in vec_id
    * order up to its remaining capacity (repCap − already-admitted).
    * Reading reps/ for the occupancy counts is bounded by k×repCap
    * rows. */
  private def admitReps(spark: SparkSession, cands: DataFrame,
      repsDir: String, repCap: Int): Unit = {
    val have = DirIO.readParquet(spark, repsDir) match {
      case Some(r) => r.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("have"))
      case None => null
    }
    val ranked = cands
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("centroid_id")).orderBy(col("vec_id"))))
    val admit = (if (have == null) ranked.withColumn("have", lit(0L))
      else ranked.join(have, Seq("centroid_id"), "left")
        .withColumn("have", coalesce(col("have"), lit(0L))))
      .filter(col("rn") <= lit(repCap.toLong) - col("have"))
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
      .localCheckpoint()
    if (admit.count() > 0)
      append(admit, repsDir)
  }

  /** The bounded probe's recall exposure, MEASURED instead of silent
    * (the [[graft.ext.TextOps.dupSpanAudit]] posture): one row over
    * the semantic-centroid store — stored rows, representative rows,
    * clusters, clusters AT the cap (whose later arrivals are no
    * longer probed against), and stored rows not represented. A
    * nonzero `n_unrepresented` quantifies the duplicate mass the
    * bounded probe can no longer see; a pipeline gates the retrain-
    * epoch cadence on this row. */
  def semanticProbeAudit(spark: SparkSession, indexDir: String,
      repCap: Int = 1024): DataFrame = {
    val stored = DirIO.readParquet(spark, s"$indexDir/data")
      .map(_.select(col("centroid_id"), col("vec_id")))
      .getOrElse(spark.range(0).select(col("id").as("centroid_id"),
        col("id").as("vec_id")))
    val reps = DirIO.readParquet(spark, s"$indexDir/reps")
      .map(_.select(col("centroid_id"), col("vec_id")))
      .getOrElse(spark.range(0).select(col("id").as("centroid_id"),
        col("id").as("vec_id")))
    val perCluster = stored.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_stored"))
      .join(reps.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_reps")), Seq("centroid_id"), "left")
      .withColumn("n_reps", coalesce(col("n_reps"), lit(0L)))
    perCluster.agg(
      coalesce(sum(col("n_stored")), lit(0L)).as("n_stored"),
      coalesce(sum(col("n_reps")), lit(0L)).as("n_reps"),
      count(lit(1)).as("n_clusters"),
      coalesce(sum(when(col("n_reps") >= repCap, 1L).otherwise(0L)),
        lit(0L)).as("n_saturated_clusters"),
      coalesce(sum(col("n_stored") - col("n_reps")), lit(0L))
        .as("n_unrepresented"))
  }

  /** SUBSTRING-dedup ingestion — the incremental form of
    * [[graft.ext.TextOps.dedupExcise]] (Lee et al.'s removal step):
    * the corpus keeps a WINDOW INDEX (the stride-1 w-token hashes of
    * every stored doc's FINAL text), and each micro-batch
    *
    *   1. probes it with its own windows ([[graft.ext.TextOps
    *      .crossDupSpans]] — equi on the 16-byte hash, per-hash
    *      fan-out occCap²-bounded), recovering every maximal block
    *      the batch shares with ALREADY-STORED text and excising it
    *      from the incoming doc (history is the first occurrence, by
    *      arrival order);
    *   2. runs the batch-local [[graft.ext.TextOps.dedupExcise]] over
    *      the phase-1-cleaned docs (first occurrence WITHIN the batch
    *      keeps, by doc_id);
    *   3. appends the final cleaned docs to data/, THEIR windows
    *      (post-excision — the index always reflects what the corpus
    *      actually stores) to wins/, and the windows' per-hash counts
    *      to wincnt/ — the incrementally-maintained table the next
    *      batch's occCap filter reads instead of re-aggregating the
    *      whole index ([[substringIndexAudit]] measures its drift and
    *      the cap's standing exposure).
    *
    * Same effectively-once layering as every ingest path: TxnLog
    * marker for replay skip, and the stored-index probe re-excises
    * a replayed block to an already-stored copy even without it.
    * Batch contract: (doc_id, text); returns docs appended.
    *
    * Scale posture: the probe is an equi join on a uniform hash with
    * capped fan-out, its stored-side cap filter a sum over the
    * pre-aggregated count deltas; the index is |corpus tokens|
    * 16-byte rows — at 100 TB a compacted, hash-bucketed table whose
    * probe touches only matching buckets, same dataflow. */
  def ingestBatchSubstring(batch: DataFrame, batchId: Long,
      corpusDir: String, w: Int = 8, occCap: Int = 64): Long = {
    val spark = batch.sparkSession
    val dataDir = s"$corpusDir/data"
    val winsDir = s"$corpusDir/wins"
    val cntDir = s"$corpusDir/wincnt"
    // the window index is only meaningful at ONE window width: a
    // restart with a different w would probe 4-token hashes against
    // 8-token hashes and silently match nothing — reject loudly (the
    // CentroidStore manifest discipline, minimally). Check only; the
    // stamp lands inside the first SUCCESSFUL batch below, so a
    // misconfigured run that never ingested anything doesn't lock an
    // empty corpus to the wrong parameters.
    val params = Map("w" -> w.toString, "occ_cap" -> occCap.toString)
    def checkParams(): Unit = checkStamp(corpusDir, params) { got =>
      s"substring corpus at $corpusDir was built with " +
        s"w=${got("w")} occ_cap=${got("occ_cap")}; this ingest was " +
        s"started with w=$w occ_cap=$occCap — the stored window index " +
        "only matches at its own parameters (restart with them, or " +
        "rebuild the corpus)"
    }
    checkParams()
    appendOnce(s"$corpusDir/_txn", batchId) { _ =>
      // doc-id replay drain: a crash BETWEEN the data append and the
      // txn marker leaves the docs stored but the batch unmarked; on
      // replay the excision path would re-admit them (an already-
      // stored doc excises against its own windows to an empty row,
      // and a short doc has no windows at all), so the layer every
      // other ingest path gets from digest/cosine suppression is an
      // anti-join on the append-only corpus's doc ids. CONTRACT:
      // doc_id is the IMMUTABLE identity — a re-send with changed
      // text is a replay here and is dropped; revision streams must
      // mint new doc ids (or run the corpus-upsert path), the same
      // identity rule as the digest-keyed layers.
      val incoming0 = batch.select(col("doc_id"), col("text"))
      val incoming = DirIO.readParquet(spark, dataDir) match {
        case Some(stored) =>
          val already = incoming0
            .join(stored.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .select(col("doc_id")).localCheckpoint()
          if (already.count() > 0) {
            // replay evidence — HEAL the other crash window: data
            // appended but the wins append lost. Without this, those
            // docs' windows would be missing from the index forever
            // and future batches would silently stop excising text
            // duplicated from them. Windows come from the STORED
            // (cleaned) text, never the raw resend.
            val missing = minus(already, DirIO.readParquet(spark, winsDir)
              .map(_.select(col("doc_id")).distinct()), "doc_id")
            val heal = TextOps.winOcc(
              stored.join(missing, Seq("doc_id"), "left_semi"), w)
              .localCheckpoint()
            if (heal.count() > 0) {
              append(heal, winsDir)
              // keep the count table in step with the healed windows
              append(heal.groupBy(col("h")).agg(count(lit(1)).as("cnt")),
                cntDir)
            }
          }
          incoming0.join(already, Seq("doc_id"), "left_anti")
        case None => incoming0
      }
      // phase 1 pinned: dedupExcise's plan references its input three
      // times (eligible agg, hits join, rebuild join) — unpinned, the
      // stored-index probe would re-run for each
      val phase1 = (DirIO.readParquet(spark, winsDir) match {
        case Some(storedWins) =>
          // the stored side's occCap filter comes from the MAINTAINED
          // per-hash count table (pre-aggregated (h, cnt) deltas, one
          // row per (append, hash), summed here), not a per-batch
          // re-aggregation of every stored window OCCURRENCE — the
          // pre-r18 form's groupBy(h) over the whole index re-paid the
          // corpus's token count every batch. Counts can only UNDER-
          // count (the cnt append follows the wins append, so its
          // crash window leaves a hash eligible longer — extra probe
          // work, never a recall hole); drift is measured, not silent:
          // [[substringIndexAudit]]. A legacy/pre-count corpus
          // bootstraps the table from a one-time recount.
          val storedCnt = DirIO.readParquet(spark, cntDir) match {
            case Some(c) => c.groupBy(col("h"))
              .agg(sum(col("cnt")).as("nocc"))
            case None =>
              // legacy/pre-count corpus bootstrap, FIRST WRITER WINS:
              // the recount may only be PERSISTED once — two
              // concurrent bootstrappers both appending it would
              // double every count, and doubled counts OVERCOUNT,
              // the one drift direction that silently drops recall
              // (a hash at occCap/2 true occurrences reads as
              // capped). The first-writer-wins marker commit admits
              // exactly one persister; losers (and a winner that
              // crashed between marker and append — permanent benign
              // undercount, visible in substringIndexAudit) still USE
              // the in-flight recount for this batch's filter.
              val init = storedWins.groupBy(col("h"))
                .agg(count(lit(1)).as("cnt")).localCheckpoint()
              if (Generations.commit(
                  Paths.get(corpusDir, ".wincnt_bootstrap"), ""))
                append(init, cntDir)
              init.select(col("h"), col("cnt").as("nocc"))
          }
          val spans = TextOps.crossDupSpansWithCounts(
            storedWins, storedCnt, TextOps.winOcc(incoming, w), w, occCap)
          TextOps.exciseIntervals(incoming,
            spans.select(col("doc_b").as("doc_id"),
              col("start_b").as("s"), col("end_b").as("e")))
            .select(col("doc_id"), col("clean_text").as("text"))
        case None => incoming
      }).localCheckpoint()
      // phase 2 over the cleaned text
      Some(TextOps.dedupExcise(phase1, w, occCap)
        .select(col("doc_id"), col("clean_text").as("text")))
    } { cleaned =>
      // parameters committed BEFORE the first data lands, FIRST
      // WRITER WINS (hard-link create — atomic, complete content,
      // EEXIST for the loser), then re-checked against the
      // COMMITTED stamp: of two racing first-batch writers with
      // different (w, occCap), the loser fails HERE — before its
      // wrong-width windows could land in wins/ where they would
      // silently match nothing forever (and before its docs could
      // be admitted unexcised at the surviving parameters)
      stamp(corpusDir, params)
      checkParams()
      append(cleaned, dataDir)
      val ws = TextOps.winOcc(cleaned, w).localCheckpoint()
      append(ws, winsDir)
      append(ws.groupBy(col("h")).agg(count(lit(1)).as("cnt")), cntDir)
    }
  }

  /** The maintained count table's drift vs the ground truth, MEASURED
    * instead of silent (the [[semanticProbeAudit]] /
    * [[graft.ext.TextOps.dupSpanAudit]] posture): one row comparing a
    * RECOUNT of wins/ against the summed wincnt/ deltas —
    * `n_hashes_drifted` > 0 means a cnt append was lost in its crash
    * window (benign direction: the probe over-includes, never
    * under-recalls) — plus the cap's standing exposure on the TRUE
    * counts: hashes at/over occCap (`n_hashes_capped`) and the
    * occurrences inside them (`n_occ_capped`) — the boilerplate mass
    * the stored-side probe no longer excises as naturally common
    * phrases accumulate. A pipeline gates re-compaction (or an occCap
    * retune + corpus rebuild) on this row. */
  def substringIndexAudit(spark: SparkSession, corpusDir: String,
      occCap: Int = 64): DataFrame = {
    val empty = spark.range(0).select(
      col("id").cast("string").as("h"), col("id").as("n"))
    val truth = DirIO.readParquet(spark, s"$corpusDir/wins")
      .map(_.groupBy(col("h")).agg(count(lit(1)).as("n")))
      .getOrElse(empty)
    val maintained = DirIO.readParquet(spark, s"$corpusDir/wincnt")
      .map(_.groupBy(col("h")).agg(sum(col("cnt")).as("n")))
      .getOrElse(empty)
    truth.select(col("h"), col("n").as("n_true"))
      .join(maintained.select(col("h"), col("n").as("n_kept")),
        Seq("h"), "full")
      .select(coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .agg(count(lit(1)).as("n_hashes"),
        coalesce(sum(when(col("n_true") =!= col("n_kept"), 1L)
          .otherwise(0L)), lit(0L)).as("n_hashes_drifted"),
        coalesce(max(col("n_true") - col("n_kept")), lit(0L))
          .as("max_undercount"),
        coalesce(sum(when(col("n_true") > occCap, 1L).otherwise(0L)),
          lit(0L)).as("n_hashes_capped"),
        coalesce(sum(when(col("n_true") > occCap, col("n_true"))
          .otherwise(0L)), lit(0L)).as("n_occ_capped"))
  }

  /** Publish (or refresh) the stored eval-shingle index the streaming
    * decontamination layer probes: the distinct 6-gram shingles of the
    * benchmark suite, one string column `s`. Eval suites are tiny next
    * to the corpus and change rarely (a new benchmark release), so a
    * full overwrite per release is the right cadence — the per-batch
    * path only ever READS this. */
  def writeEvalIndex(benchDocs: DataFrame, decontamDir: String): Unit =
    TextOps.sixGramShingles(benchDocs)
      .select(col("s")).distinct()
      .write.mode(SaveMode.Overwrite).parquet(s"$decontamDir/eval_shingles")

  /** Streaming benchmark decontamination — the contamination layer of
    * the ingest family: each micro-batch of incoming documents is
    * probed against the STORED eval-shingle index
    * ([[writeEvalIndex]]), and every contaminated doc's span-level
    * excision plan (the exact
    * [[graft.ext.TextOps.decontaminateSpansAgainst]] report — span
    * count, contaminated token count, clean fraction) is appended to
    * `reports/`. Sharing that one span-merge core means a doc flagged
    * by the stream carries the same excision plan the batch query
    * would produce — stream ≡ batch by construction, and the spec
    * pins it.
    *
    * Effectively-once: the append runs under [[appendOnce]], so a
    * replayed micro-batch after a crash between write and
    * checkpoint-commit is skipped. A missing eval index means no
    * benchmark is registered yet: nothing is flagged (decontamination
    * against an empty suite is vacuous), and the batch commits as
    * processed. Returns the docs flagged.
    *
    * Scale posture: per batch, work is |batch| docs shingled once +
    * one equi join against an eval-sized index (broadcastable in
    * practice; unhinted for the same reason as the batch op) + the
    * span window over MATCHED positions only — never a corpus rescan,
    * nothing corpus-shaped materialized. */
  def decontamBatch(batch: DataFrame, batchId: Long,
      decontamDir: String): Long =
    appendOnce(s"$decontamDir/_txn", batchId) { _ =>
      DirIO.readParquet(batch.sparkSession, s"$decontamDir/eval_shingles")
        .map(TextOps.decontaminateSpansAgainst(batch, _))
    }(append(_, s"$decontamDir/reports"))

  /** Streaming KMV cardinality-sketch maintenance: each micro-batch
    * merges the stored k-minimum-values sketch with the batch's
    * content hashes — union + re-take-k, the KMV merge law
    * SketchesSpec proves for shard sketches, applied over time instead
    * of space. The sketch answers "how many distinct contents has this
    * corpus ever seen" from k rows, without rescanning the corpus —
    * the streaming complement of [[graft.ext.Sketches.kmvDistinct]]
    * (same [[graft.ext.Sketches.h60]] hash, so stream and batch agree
    * bit-for-bit).
    *
    * Replay-safe twice over: [[TxnLog.runOnce]] skips a committed
    * batch id, and the merge itself is idempotent AND monotone
    * (re-merging already-absorbed values changes nothing), so even a
    * torn rerun converges to the same sketch. The merged frame is
    * pinned (localCheckpoint) BEFORE the overwrite — rewriting the
    * directory currently being read is the read-your-own-write hazard
    * the ingest paths pin against.
    *
    * Scale posture: per batch, one `distinct → k-min`
    * (TakeOrderedAndProject — k rows per partition move) over the
    * batch plus a union with a k-row stored frame. Corpus size never
    * enters the per-batch cost. */
  def updateKmvSketch(batch: DataFrame, batchId: Long, sketchDir: String,
      k: Int = 64): Unit =
    mergePublish(batch.sparkSession, sketchDir, "mins", batchId) { prev =>
      val batchMins = graft.ext.Sketches.kmvMins(
        batch.select(graft.ext.Sketches.h60(col("text")).as("hv")), k)
      prev match {
        case Some(p) =>
          graft.ext.Sketches.kmvMins(p.select(col("hv")).union(batchMins), k)
        case None => batchMins
      }
    }

  /** Streaming count-min counter maintenance: each micro-batch's
    * depth×width counter frame ([[graft.ext.Sketches.cmsCounters]] —
    * the same build the batch query uses) merges into the stored one
    * by position-wise sum, the CMS merge law SketchesSpec proves for
    * shard counters. The running sketch answers heavy-hitter point
    * queries over the WHOLE ingested history from ≤ depth·width rows —
    * the streaming feed for [[graft.ext.Skew.keySkewReport]]'s
    * "does this key need salting" decision, available while the data
    * is still arriving. Same versioned publish + TxnLog commit as the
    * KMV path; the position-wise sum is replay-safe through the
    * batch-id guard (NOT idempotent by itself — a re-sum would double-
    * count, which is why the guard is load-bearing here and the spec
    * pins it). */
  def updateCmsSketch(batch: DataFrame, batchId: Long, sketchDir: String,
      depth: Int = 4, width: Int = 1024): Unit =
    mergePublish(batch.sparkSession, sketchDir, "counters", batchId) { prev =>
      val bc = graft.ext.Sketches.cmsCounters(batch, depth, width)
      prev match {
        case Some(p) => p.select(col("j"), col("pos"), col("cnt"))
          .union(bc).groupBy(col("j"), col("pos"))
          .agg(sum(col("cnt")).as("cnt"))
        case None => bc
      }
    }

  /** Streaming HLL register maintenance: each micro-batch's
    * per-(type, bucket) max-rank register frame
    * ([[graft.ext.Sketches.hllRegisters]] — the same build the batch
    * query uses) merges into the stored one by position-wise MAX, the
    * register merge law SketchesSpec proves for shard sketches. The
    * running registers answer "how many distinct users has each type
    * ever seen" from m·|types| rows without a rescan. Same versioned
    * publish + TxnLog commit as the KMV path; like KMV (and unlike
    * CMS's sum), the max-merge is idempotent AND monotone, so even a
    * torn rerun converges to the same registers. */
  def updateHllSketch(batch: DataFrame, batchId: Long,
      sketchDir: String): Unit =
    mergePublish(batch.sparkSession, sketchDir, "hllregs", batchId) { prev =>
      val br = graft.ext.Sketches.hllRegisters(batch)
      prev match {
        case Some(p) =>
          p.select(col("event_type"), col("bucket"), col("mreg").as("rank"))
            .unionByName(br.withColumnRenamed("mreg", "rank"))
            .groupBy(col("event_type"), col("bucket"))
            .agg(max(col("rank")).as("mreg"))
        case None => br
      }
    }

  /** Current per-type HLL estimates from the stored registers — shares
    * [[graft.ext.Sketches.hllEstimateFrom]] with the batch query.
    * Empty (0-row) frame before the first commit. */
  def hllEstimate(spark: SparkSession, sketchDir: String): DataFrame =
    readLatest(spark, sketchDir, "hllregs") match {
      case Some(regs) => graft.ext.Sketches.hllEstimateFrom(regs)
      case None => spark.range(0).select(
        col("id").cast("string").as("event_type"), col("id").as("z_empty"),
        col("id").as("s_scaled"), col("id").cast("double").as("raw_est"),
        col("id").cast("double").as("hll_est"))
    }

  /** Streaming quantile-sketch maintenance: each micro-batch's
    * bottom-k row sample ([[graft.ext.Sketches.quantileSample]] — the
    * same build the batch query uses) merges with the stored one by
    * union + per-type re-take-k, the bottom-k merge law SketchesSpec
    * proves for shard sketches. The running sample answers per-type
    * quantile point queries over the WHOLE ingested history from
    * ≤ k·|types| rows — the distribution-drift monitor a training
    * pipeline wants while data is still arriving. Same versioned
    * publish + TxnLog commit as the KMV path; the merge is idempotent
    * AND monotone (identical rows dedup on (type, event_id) before the
    * re-take, so a torn rerun converges — the KMV `distinct` property,
    * spelled out because bottom-k over a bag would double-count). */
  def updateQuantileSketch(batch: DataFrame, batchId: Long,
      sketchDir: String, k: Int = 256): Unit =
    mergePublish(batch.sparkSession, sketchDir, "qsample", batchId) { prev =>
      val cols = Seq("event_type", "event_id", "value")
      val batchRows = batch.select(cols.head, cols.tail: _*)
      val all = prev match {
        case Some(p) => p.select(cols.head, cols.tail: _*)
          .unionByName(batchRows)
        case None => batchRows
      }
      graft.ext.Sketches.quantileSample(
        all.dropDuplicates(Seq("event_type", "event_id")), k)
    }

  /** Streaming DSIR bucket-stat maintenance: each micro-batch's
    * (bucket, ct, cr) target/raw token counts
    * ([[graft.ext.TextOps.dsirBucketStats]] — the same build the batch
    * query uses) merge into the stored frame by position-wise SUM —
    * the CMS merge law, replay-safe through the batch-id guard and,
    * like CMS, NOT idempotent by itself (a re-sum double-counts; the
    * guard is load-bearing). The running stats let the pipeline score
    * any candidate slice against the FULL ingested history via
    * [[dsirScore]] while data is still arriving — importance weights
    * that sharpen as the reference corpus grows, without a rescan. */
  def updateDsirStats(batch: DataFrame, batchId: Long, statsDir: String,
      targetSources: Seq[String] = Seq("src0", "src1"),
      buckets: Int = 1024): Unit =
    mergePublish(batch.sparkSession, statsDir, "dsirstats", batchId) { prev =>
      val bs = graft.ext.TextOps.dsirBucketStats(batch, targetSources, buckets)
      prev match {
        case Some(p) => p.select(col("bucket"), col("ct"), col("cr"))
          .union(bs).groupBy(col("bucket"))
          .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
        case None => bs
      }
    }

  /** Deterministic DSIR top-k of `rawDocs` against the stored stats —
    * shares [[graft.ext.TextOps.dsirResampleFrom]] with the batch
    * query (`buckets` must match the maintenance calls). Tokens in
    * buckets the stats have never seen drop out of the score — the
    * inner-join semantics of the batch path, acceptable because a
    * maintained reference corpus has populated every bucket raw
    * candidates hit. Empty (0-row) frame before the first commit. */
  def dsirScore(spark: SparkSession, statsDir: String, rawDocs: DataFrame,
      buckets: Int = 1024, k: Int = 200): DataFrame =
    readLatest(spark, statsDir, "dsirstats") match {
      case Some(stats) =>
        graft.ext.TextOps.dsirResampleFrom(rawDocs, stats, buckets, k)
      case None => spark.range(0).select(
        col("id").as("doc_id"), col("id").cast("string").as("source"),
        col("id").as("n_tokens"), col("id").as("weight_bits"))
    }

  /** Current per-type quantile estimates from the stored sample —
    * shares [[graft.ext.Sketches.quantileEstimatesFrom]] with the
    * batch query. Empty (0-row) frame before the first commit. */
  def quantileEstimate(spark: SparkSession, sketchDir: String,
      k: Int = 256): DataFrame =
    readLatest(spark, sketchDir, "qsample") match {
      case Some(s) => graft.ext.Sketches.quantileEstimatesFrom(s, k)
      case None => spark.range(0).select(
        col("id").cast("string").as("event_type"), col("id").as("sample_k"),
        col("id").cast("double").as("p50_est"),
        col("id").cast("double").as("p90_est"),
        col("id").cast("double").as("p99_est"))
    }

  /** Point-query the stored counter sketch for `keys` (0-row frame
    * before the first commit; never-inserted keys estimate 0). */
  def cmsLookup(spark: SparkSession, sketchDir: String, keys: Seq[String],
      depth: Int = 4, width: Int = 1024): DataFrame =
    readLatest(spark, sketchDir, "counters") match {
      case Some(counters) =>
        graft.ext.Sketches.cmsLookupFrom(counters, keys, depth, width)
      case None => spark.range(0).select(
        col("id").cast("string").as("event_type"), col("id").as("cms_est"))
    }

  /** Versioned micro-batch publish: build the merged frame from the
    * latest COMMITTED version, write it to an immutable
    * <prefix>-<batchId> dir, then commit the batch through
    * [[TxnLog.runOnce]]. The versions are the <prefix>-<id> dirs at or
    * below the log's newest committed id: a dir above it is a torn
    * write (its marker never landed), invisible and overwritten by the
    * batch's replay. A crash mid-write therefore leaves the previous
    * committed version untouched — an in-place Overwrite instead
    * deletes the old files before the new job commits, so a crash
    * there (or a concurrent reader that listed the old files) loses
    * the sketch. The merged frame is pinned (localCheckpoint) before
    * the write — the read-your-own-write hazard pin the ingest paths
    * share. After the commit, every version but the two newest is
    * deleted (the older one guards a reader that listed it just before
    * this batch published); versions are sketch-sized (k rows /
    * depth·width rows), so retention cost is trivial either way. */
  private def mergePublish(spark: SparkSession, sketchDir: String,
      prefix: String, batchId: Long)
      (merge: Option[DataFrame] => DataFrame): Unit = {
    TxnLog.runOnce(s"$sketchDir/_txn", batchId) {
      val merged = merge(readLatest(spark, sketchDir, prefix))
        .localCheckpoint()
      merged.write.mode(SaveMode.Overwrite)
        .parquet(s"$sketchDir/$prefix-$batchId")
    }
    committedIds(sketchDir, prefix).dropRight(2).foreach { id =>
      scala.util.Try(
        DirIO.deleteRecursively(Paths.get(s"$sketchDir/$prefix-$id")))
    }
  }

  private def committedIds(sketchDir: String, prefix: String): Seq[Long] = {
    val newest = TxnLog.highWaterMark(s"$sketchDir/_txn")
    DirIO.numberedEntries(Paths.get(sketchDir), s"$prefix-")
      .filter(_ <= newest)
  }

  /** The latest COMMITTED version of a sketch frame, if any batch has
    * published one (a torn write above the newest marker is
    * invisible). */
  private def readLatest(spark: SparkSession, sketchDir: String,
      prefix: String): Option[DataFrame] =
    committedIds(sketchDir, prefix).lastOption.map(id =>
      spark.read.parquet(s"$sketchDir/$prefix-$id"))

  /** The latest committed KMV mins frame ([[updateKmvSketch]]). */
  def readKmvSketch(spark: SparkSession, sketchDir: String): Option[DataFrame] =
    readLatest(spark, sketchDir, "mins").map(_.select(col("hv")))

  /** Current distinct-count estimate from the stored sketch — shares
    * [[graft.ext.Sketches.kmvEstimateFrom]] (including the
    * below-capacity exactness refinement) with the batch query. Empty
    * (0-row) frame before the first batch commits. */
  def kmvEstimate(spark: SparkSession, sketchDir: String,
      k: Int = 64): DataFrame =
    readKmvSketch(spark, sketchDir) match {
      case Some(mins) => graft.ext.Sketches.kmvEstimateFrom(mins, k)
      case None => spark.range(0).select(
        col("id").as("k"), col("id").as("vk"),
        col("id").cast("double").as("n_distinct_est"))
    }
}
