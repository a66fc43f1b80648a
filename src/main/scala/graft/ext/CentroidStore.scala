package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Generations

/** PERSISTED k-means centroids — the frozen clustering geometry behind
  * semantic dedup, published once and loaded by every consumer:
  * [[EmbedOps.assignAgainst]] assigns new vectors without
  * re-clustering the corpus, and
  * [[graft.streaming.CorpusIngest.ingestBatchSemanticCentroid]] runs
  * incremental SemDeDup against the SAME geometry the batch
  * `embed_semdedup` query uses (replacing the hyperplane-signature
  * stand-in, which approximated cosine neighborhoods with random
  * projections unrelated to the batch clustering).
  *
  * On-disk layout (one parquet dir per epoch + tiny manifests):
  * {{{
  *   e<E>-centroids-<nonce>/ (centroid_id, cv: array<long>) — FROZEN
  *   _commits/manifest-<gen> the commit: which dir is live, k, iters
  * }}}
  *
  * Commit protocol — MANIFEST GENERATIONS through [[graft.Generations]],
  * shared with [[EmbedIndex]] and [[TokenizerStore]]: data dirs are
  * immutable and carry no authority, the highest-generation manifest
  * is the only truth, and every publish is write-temp + hard link,
  * first writer wins. A writer dying mid-train leaves orphan dirs and
  * no manifest; a torn manifest temp is invisible to readers.
  *
  * Like the tokenizer (and PQ codebooks), centroids are train-time
  * FROZEN: there are no streaming appends, because moving a centroid
  * re-labels history — half-updated geometry would change which
  * cluster an already-ingested vector deduped into. The only mutation
  * is a RETRAIN, published as a fresh epoch beside the committed one
  * (old generations stay readable as time travel until [[vacuum]]).
  */
object CentroidStore {

  /** One committed generation: the live centroid dir + the training
    * shape (k, iters) a consumer can sanity-check. */
  final case class Manifest(gen: Long, epoch: Long, k: Int, iters: Int,
      centroids: String)

  /** Manifest format version — a mismatch errors LOUDLY for readers;
    * only [[build]] recovers (retrain as a fresh epoch). */
  private val FormatVersion = 1

  private def gens(dir: String) = new Generations(dir, "centroid store",
    FormatVersion, unversioned = 0)((gen, kv) => Manifest(gen,
      kv("epoch").toLong, kv("k").toInt, kv("iters").toInt, kv("centroids")))

  /** The current committed manifest, if any generation has published. */
  def manifest(dir: String): Option[Manifest] = gens(dir).latest

  /** Commit a manifest generation FIRST WRITER WINS
    * ([[graft.Generations.commit]]): a racing builder that computed
    * the same generation cannot clobber the committed one, and errors
    * loudly — its data dir is an orphan [[vacuum]] reclaims. */
  private[graft] def publish(dir: String, m: Manifest): Unit =
    gens(dir).publish(m.gen, "epoch" -> m.epoch, "k" -> m.k,
      "iters" -> m.iters, "centroids" -> m.centroids)

  /** Train at the [[EmbedOps.scaledK]] cluster count and publish the
    * centroid frame as the next generation at `dir`. A first build
    * commits generation 0; a retrain writes under a fresh epoch
    * prefix beside the committed data and swaps the manifest last. An
    * old-format manifest reads as "no committed store this build can
    * extend": the rebuild starts past the legacy generations under a
    * non-colliding epoch (the [[EmbedIndex]] upgrade path).
    *
    * CONCURRENCY: each attempt trains into its OWN nonce-suffixed dir
    * (recorded in the manifest), so a published generation can never
    * reference a directory another writer touched; the manifest link
    * is first-writer-wins, so two racing builders that computed the
    * same generation number publish exactly one of them and the loser
    * fails loudly. A crashed build leaves an orphan dir and no
    * manifest — invisible to readers, reclaimed by [[vacuum]]. */
  def build(embeddings: DataFrame, dir: String,
      targetBlock: Int = 1024, iters: Int = 2): Unit = {
    val (gen, epoch) = gens(dir).next(_.epoch)
    val k = EmbedOps.scaledK(embeddings.count(), targetBlock)
    val dataName = Generations.fresh(s"e$epoch-centroids")
    EmbedOps.kmeansCentroids(embeddings, k, iters)
      .write.parquet(s"$dir/$dataName")
    publish(dir, Manifest(gen = gen, epoch = epoch, k = k,
      iters = iters, centroids = dataName))
  }

  /** The committed centroid frame — [[EmbedOps.assignAgainst]] takes
    * exactly this. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    centroidsAt(spark, dir, manifest(dir).getOrElse(
      throw new IllegalStateException(
        s"no committed centroid store at $dir")).gen)

  /** Time travel: the centroid frame of a retained generation. */
  def centroidsAt(spark: SparkSession, dir: String, gen: Long): DataFrame = {
    require(gens(dir).committed.contains(gen),
      s"generation $gen is not committed at $dir")
    spark.read.parquet(s"$dir/${gens(dir).at(gen).centroids}")
  }

  /** Reclaim superseded generations (their manifests AND the data
    * dirs only they reference), orphan data dirs no manifest
    * references, and abandoned manifest temps — the only destructive
    * step in the protocol. Keeps the newest `keepGenerations`
    * manifests readable as time travel (default 1 — the
    * [[EmbedIndex.vacuum]] posture: only the latest survives);
    * generations older than that are GONE after this, so a session
    * that rebuilds per run without bounding the store should vacuum
    * after each commit ([[graft.SparkEntry]]'s store helper does).
    * Non-live dirs touched within `graceMs` are spared: they may be a
    * concurrent builder's un-published attempt or a generation a live
    * reader still scans (shared store roots); `graceMs = 0` is the
    * single-writer teardown form. */
  def vacuum(dir: String, keepGenerations: Int = 1,
      graceMs: Long = 15 * 60 * 1000L): Unit =
    gens(dir).vacuum(keepGenerations, graceMs)(m => Seq(m.centroids))
}
