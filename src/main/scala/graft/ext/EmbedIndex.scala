package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Generations

/** A PERSISTED, incrementally-maintained IVF-PQ index — the missing
  * half of the ANN family: [[EmbedOps.trainPq]]/[[EmbedOps.ivfPqTopKFrom]]
  * train per session; this stores the trained artifacts and lets later
  * sessions (and appends) reuse them without retraining. The reference
  * has no ANN at all (its one lookup is the keyed dedup query,
  * index.js:107-141); this is the LLM-pipeline extension surface.
  *
  * On-disk layout (parquet dirs + tiny text files, under `dir`):
  * {{{
  *   e<E>-cents-<n>/            (sub, centroid_id, cv) codebooks — FROZEN
  *   e<E>-seg-<id>-<n>/         (vec_id, sub, centroid_id, label) codes
  *   e<E>-cseg-<gen>-<n>/       a compaction-folded code segment
  *   e<E>-sums-<id>-<n>/        (label, i, s, n) CUMULATIVE coarse stats
  *   _commits/manifest-<gen>    the commit: which dirs are live (+geometry)
  * }}}
  * `<n>` is a writer nonce ([[graft.Generations.fresh]]): two writers
  * racing for one generation write disjoint dirs, so the committed
  * manifest names only the winner's.
  *
  * Commit protocol — MANIFEST GENERATIONS (Iceberg-style, single-file
  * atomicity): data dirs are immutable once written and carry no
  * authority; the only source of truth is the highest-generation
  * manifest, a small text file naming the live codebook dir, the live
  * segment dirs, the live sums dir, the PQ geometry, and two counters.
  * Every commit (build, append, streamed batch, compaction) writes its
  * data dirs FIRST, then publishes a NEW manifest through
  * [[graft.Generations]]: write-temp + hard link, first writer wins, so
  * a writer that lost a race for a generation fails loudly instead of
  * replacing the committed manifest. A writer dying mid-operation
  * leaves orphan dirs and no manifest — a torn write is invisible,
  * readers keep serving the previous generation. Compaction is what
  * the manifest protocol buys: folding N segments into one is a single
  * manifest swap, impossible to make atomic with per-segment commit
  * markers.
  *
  * Two id namespaces, deliberately DISJOINT:
  *
  *  - `high` is the BATCH high-water mark: the highest append-segment
  *    id ever committed in the current epoch. Only [[build]] (resets
  *    to 0) and appends (bump by 1) move it; [[compact]] NEVER does.
  *    Compacted segments live under `cseg-<gen>` names in their own
  *    namespace, so the batchId→segId mapping of a replaying stream
  *    survives any number of compactions — a post-compaction
  *    micro-batch maps to `high+1` and commits, instead of being
  *    mistaken for an already-committed replay and silently dropped.
  *  - `epoch` scopes every data-dir name (`e<E>-…`). [[build]] on a
  *    populated index bumps the epoch and writes a WHOLE NEW
  *    generation beside the old one — no wipe, so a crash mid-rebuild
  *    leaves the previous generation fully committed and readers
  *    (including time-travel readers) never observe a window with no
  *    index. Old epochs become garbage for [[vacuum]], the only
  *    destructive step in the protocol.
  *
  * Incremental maintenance contract: appends encode the delta with the
  * FROZEN codebooks ([[EmbedOps.encodePq]]) and merge the coarse
  * sufficient statistics by integer addition — so the derived coarse
  * centroids after N appends are bit-identical to a single build over
  * the concatenated corpus with the same codebooks. That exactness is
  * what lets the incremental search hash-gate against a from-scratch
  * SQL oracle. Codes are append-only segments: an append writes
  * O(|delta|) code rows + an nlist×dims sums frame, never rewrites the
  * corpus — the 100-TB property (re-encoding 100 TB per append would
  * be a rebuild in disguise). Read amplification from many small
  * streamed segments is bounded by [[compact]], which rewrites codes
  * rows but never touches raw vectors.
  *
  * What appends do NOT do: retrain codebooks or re-list old vectors.
  * Quantization drift under a shifting distribution is a monitored
  * RETRAIN decision ([[EmbedOps.ivfPqRecallCompare]] is the monitor) —
  * triggering [[build]] again, which publishes the retrained index as
  * the next generation (a stream maintaining the old epoch must be
  * restarted with a fresh checkpoint; its first post-rebuild batch
  * would otherwise trip the epoch guard in [[appendBatch]]).
  */
object EmbedIndex {

  /** One committed generation: the live data-dir names, the PQ
    * geometry, the build epoch, and `high` — the highest APPEND
    * segment id ever committed this epoch (compaction folds segments
    * away but never bumps it, so replayed stream batches stay
    * recognizable and NEW batches stay appendable after a compaction). */
  final case class Manifest(gen: Long, epoch: Long, high: Long,
      m: Int, dsub: Int, cents: String, sums: String, segs: Seq[String])

  /** The loaded read-view of an index generation: frozen codebooks,
    * the union of live code segments, derived coarse centroids, and
    * the stored PQ geometry (searchers must slice queries exactly the
    * way the index was built — it rides with the index, not the
    * caller). */
  final case class State(cents: DataFrame, codes: DataFrame,
      coarse: DataFrame, m: Int, dsub: Int)

  /** Manifest format version. v2 (r14) added `epoch` (rebuild
    * namespacing), inlined the PQ geometry, and moved segment/sums/
    * codebook references to explicit dir NAMES (the cseg compaction
    * namespace). Bumped on any incompatible layout change; a version
    * mismatch is a LOUD error, never a silent reinterpretation. */
  private val FormatVersion = 2

  private def gens(dir: String) = new Generations(dir, "index",
    FormatVersion, unversioned = 1)((gen, kv) => Manifest(gen,
      kv("epoch").toLong, kv("high").toLong, kv("m").toInt,
      kv("dsub").toInt, kv("cents"), kv("sums"),
      kv("segs").split(",").filter(_.nonEmpty).toSeq))

  /** The current committed manifest, if any generation has published
    * (a hard-linked manifest is complete or absent — never torn). */
  def manifest(dir: String): Option[Manifest] = gens(dir).latest

  /** Publish a manifest generation — the single filesystem operation
    * every commit rides; a lost race for `m.gen` throws. */
  private def publish(dir: String, m: Manifest): Unit =
    gens(dir).publish(m.gen, "epoch" -> m.epoch, "high" -> m.high,
      "m" -> m.m, "dsub" -> m.dsub, "cents" -> m.cents, "sums" -> m.sums,
      "segs" -> m.segs.mkString(","))

  /** Train on `embeddings` and publish the result as the next
    * generation at `dir`: codebooks, segment 0's codes (with their
    * inverted-list label), the coarse sufficient statistics, and the
    * manifest. A FIRST build commits generation 0; a REBUILD (retrain
    * trigger) writes everything under a fresh epoch prefix beside the
    * committed data and swaps the manifest last — the previous
    * generation stays fully readable (and time-travel-able) through
    * the entire rebuild, and a crash mid-build leaves it untouched.
    * Old-epoch data is reclaimed by [[vacuum]]. */
  def build(embeddings: DataFrame, dir: String, m: Int = 4,
      dsub: Int = 16, ksub: Int = 8): Unit = {
    // UPGRADE PATH: an older-format manifest reads as "no committed
    // index here that this build can extend" — NOT a dead end. The
    // rebuild starts past the legacy generations (so the new manifest
    // is the one readers pick up) under an epoch that cannot collide
    // with legacy data names; the old files sit beside it until
    // vacuum. Readers still fail loudly on the old format — only
    // build() recovers, because rebuilding is the documented remedy.
    val (gen, epoch) = gens(dir).next(_.epoch)
    val pq = EmbedOps.trainPq(embeddings, m, dsub, ksub)
    val cents = Generations.fresh(s"e$epoch-cents")
    val seg = Generations.fresh(s"e$epoch-seg-0")
    val sums = Generations.fresh(s"e$epoch-sums-0")
    try {
      pq.cents.write.parquet(s"$dir/$cents")
      pq.codes
        .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
        .write.parquet(s"$dir/$seg")
      EmbedOps.coarseSums(embeddings).write.parquet(s"$dir/$sums")
      publish(dir, Manifest(gen = gen, epoch = epoch, high = 0,
        m = m, dsub = dsub, cents = cents, sums = sums, segs = Seq(seg)))
    } finally {
      // build is one-shot: the trainPq caches have served their writes
      pq.subs.unpersist(); pq.codes.unpersist(); ()
    }
  }

  /** Append `delta` as a new segment: encode with the frozen codebooks,
    * write O(|delta|) code rows, merge the coarse sums exactly, publish
    * the next manifest generation. Readers racing the append see the
    * previous generation until the manifest link lands. */
  def append(delta: DataFrame, dir: String): Unit = {
    val man = manifest(dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed index at $dir — build() first"))
    appendAt(delta, dir, man, man.high + 1)
  }

  /** Idempotent per-micro-batch append — the STREAMING maintenance
    * entry ([[startAppend]]). The segment id derives from the batch id
    * (seg-0 is the build), so a batch replayed after a crash
    * re-commits the SAME segment instead of double-appending — the
    * batch-id guard that makes [[graft.streaming.CorpusIngest]]'s
    * sketch stores replay-safe, load-bearing here for the same reason
    * (codes would duplicate, sums would double-count). The replay
    * check is against `high`, which counts ONLY append segments —
    * [[compact]]'s folded segments live in a separate namespace and
    * never advance it — so the mapping survives compaction in both
    * directions: a replayed batch whose segment was folded away is
    * still recognized as committed, and the first NEW batch after a
    * compaction still maps to `high+1` and commits (with a shared
    * namespace it would satisfy `segId <= high` and be silently
    * discarded — permanent data loss under the documented
    * compact-between-batches usage). A torn dir from a crashed attempt
    * is an orphan [[vacuum]] reclaims (the retry writes fresh dirs); a
    * batch id that maps BEHIND the high-water mark without being a
    * replay (a stream restarted with a FRESH checkpoint against a
    * populated index) fails loudly rather than silently rewriting
    * history. */
  def appendBatch(delta: DataFrame, dir: String, batchId: Long): Unit = {
    val man = manifest(dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed index at $dir — build() first"))
    val segId = 1 + batchId
    if (segId > man.high) {
      require(segId == man.high + 1,
        s"batch $batchId maps to segment $segId but the committed " +
          s"high-water is ${man.high} at $dir — a gap means lost " +
          "batches; one stream checkpoint per index epoch")
      appendAt(delta, dir, man, segId)
    } // segId <= high: replayed batch, already committed — no-op
  }

  /** Maintain the persisted index from an embedding stream
    * (vec_id, label, embedding): one replay-safe segment per
    * micro-batch. Searchers polling [[search]] between batches always
    * see a complete committed generation. */
  def startAppend(vectors: DataFrame, dir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, dir, batchId); ()
      }
      .start()

  private def appendAt(delta: DataFrame, dir: String, man: Manifest,
      segId: Long): Unit = {
    val spark = delta.sparkSession
    val seg = Generations.fresh(s"e${man.epoch}-seg-$segId")
    val sums = Generations.fresh(s"e${man.epoch}-sums-$segId")
    val cents = spark.read.parquet(s"$dir/${man.cents}")
    EmbedOps.encodePq(delta, cents, man.m, man.dsub)
      .join(delta.select(col("vec_id"), col("label")), Seq("vec_id"))
      .write.parquet(s"$dir/$seg")
    spark.read.parquet(s"$dir/${man.sums}")
      .unionByName(EmbedOps.coarseSums(delta))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      .write.parquet(s"$dir/$sums")
    publish(dir, man.copy(gen = man.gen + 1, high = segId,
      sums = sums, segs = man.segs :+ seg))
  }

  /** Fold all live segments into one: rewrites code rows (never raw
    * vectors), then swaps the manifest in one commit — the atomic
    * multi-segment replace the manifest protocol exists for. Results
    * are identical by construction (same rows, one dir); sums and the
    * batch high-water mark are untouched (the folded segment lives in
    * the `cseg` namespace precisely so the next stream batch still
    * maps to `high+1` — see [[appendBatch]]). Old segment dirs become
    * garbage for [[vacuum]]. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val man = manifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no committed index at $dir"))
    if (man.segs.size > 1) {
      val seg = Generations.fresh(s"e${man.epoch}-cseg-${man.gen + 1}")
      spark.read.parquet(man.segs.map(n => s"$dir/$n"): _*)
        .write.parquet(s"$dir/$seg")
      publish(dir, man.copy(gen = man.gen + 1, segs = Seq(seg)))
    }
  }

  /** Delete data dirs and manifests no longer referenced by the
    * current generation (including whole superseded build epochs).
    * Separated from [[compact]]/[[build]] (and from every commit) so a
    * deployment can impose a grace period for readers still scanning
    * an older generation — deletion is the only non-reversible step in
    * the protocol. */
  def vacuum(dir: String, graceMs: Long = 15 * 60 * 1000L): Unit =
    gens(dir).vacuum(keep = 1, graceMs)(m => m.segs ++ Seq(m.sums, m.cents))

  /** Load the committed read-view: the current generation's live code
    * segments, the frozen codebooks, and centroids derived from the
    * live sums. */
  def load(spark: SparkSession, dir: String): State =
    loadAt(spark, dir, manifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no committed index at $dir")))

  /** TIME-TRAVEL read: load a specific retained generation. Immutable
    * data dirs + generation-named manifests make every un-vacuumed
    * generation a consistent snapshot — a reader pinned to gen G sees
    * exactly the index as of G's commit, regardless of concurrent
    * appends, compactions, or even full rebuilds (each rebuild's data
    * lives under its own epoch prefix). Fails loudly when the
    * generation was vacuumed away. */
  def loadAt(spark: SparkSession, dir: String, gen: Long): State = {
    require(gens(dir).committed.contains(gen),
      s"generation $gen at $dir does not exist or was vacuumed")
    loadAt(spark, dir, gens(dir).at(gen))
  }

  private def loadAt(spark: SparkSession, dir: String,
      man: Manifest): State =
    State(
      cents = spark.read.parquet(s"$dir/${man.cents}"),
      codes = spark.read.parquet(man.segs.map(n => s"$dir/$n"): _*),
      coarse = EmbedOps.coarseCentroidsFromSums(
        spark.read.parquet(s"$dir/${man.sums}")),
      m = man.m, dsub = man.dsub)

  /** Search the persisted index: load the committed state and run the
    * broadcast-only ADC search ([[EmbedOps.ivfPqSearch]]). `queries`
    * carry raw embeddings; the corpus side is codes only. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val st = load(spark, dir)
    EmbedOps.ivfPqSearch(queries, st.cents, st.codes, st.coarse, k, nprobe,
      st.m, st.dsub)
  }
}
