package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Generations

/** A PERSISTED trained BPE tokenizer — the shared artifact of a real
  * training-data pipeline: one job trains the merge rules
  * ([[TextOps.bpeTrainMerges]]), publishes them here, and every
  * encoder session loads the frozen artifact instead of retraining
  * (the reference has no tokenizer at all; this is LLM-pipeline
  * extension surface, same posture as [[EmbedIndex]]).
  *
  * On-disk layout (parquet dirs + tiny text files, under `dir`):
  * {{{
  *   e<E>-merges-<n>/        (merge_rank, pair_left, pair_right,
  *                            merged, pair_count) — FROZEN rule table
  *   e<E>-vocab-<n>/         (token_id, token, kind) — base alphabet +
  *                            merged tokens, deterministic ids
  *   _commits/manifest-<gen> the commit: which dirs are live
  * }}}
  *
  * Commit protocol — MANIFEST GENERATIONS through [[graft.Generations]],
  * exactly [[EmbedIndex]]'s contract: data dirs are immutable and carry
  * no authority; the highest-generation manifest is the only truth;
  * every publish is write-temp + hard link, first writer wins, so a
  * writer dying mid-train leaves orphan dirs and no manifest (readers
  * keep serving the previous generation), a torn manifest temp is
  * invisible, and a builder that lost the race for a generation fails
  * loudly. `<n>` is a writer nonce ([[graft.Generations.fresh]]), so
  * racing builders never write each other's dirs.
  *
  * What this store deliberately does NOT have: streaming appends.
  * Merge rules are train-time-frozen like PQ codebooks — applying
  * half-updated rules would change every encoder's output mid-stream —
  * so the only mutation is a RETRAIN, which [[build]] publishes as a
  * whole new epoch beside the committed one (old generations stay
  * readable / time-travel-able until [[vacuum]]).
  *
  * Vocabulary ids are deterministic by construction (real tokenizers
  * ship exactly this shape): the base alphabet — every distinct
  * code-point token of the training corpus — sorted by binary
  * collation takes ids 0..B-1, then merged tokens follow in merge-rank
  * order. Two trainings over the same corpus produce bit-identical
  * artifacts. */
object TokenizerStore {

  /** One committed generation: live data-dir names + the training
    * round count (an encoder can sanity-check rule depth). */
  final case class Manifest(gen: Long, epoch: Long, rounds: Int,
      merges: String, vocab: String)

  /** Manifest format version. Bumped on any incompatible layout
    * change; a version mismatch is a LOUD error for readers, never a
    * silent reinterpretation — only [[build]] recovers (retraining is
    * the documented remedy, exactly [[EmbedIndex]]'s rule). */
  private val FormatVersion = 1

  private def gens(dir: String) = new Generations(dir, "tokenizer store",
    FormatVersion, unversioned = 0)((gen, kv) => Manifest(gen,
      kv("epoch").toLong, kv("rounds").toInt, kv("merges"), kv("vocab")))

  /** The current committed manifest, if any generation has published. */
  def manifest(dir: String): Option[Manifest] = gens(dir).latest

  /** Train on `documents` and publish merges + vocab as the next
    * generation at `dir`. A FIRST build commits generation 0; a
    * RETRAIN writes everything under a fresh epoch prefix beside the
    * committed data and swaps the manifest last — readers (including
    * time-travel readers) never observe a window with no tokenizer.
    * An old-format manifest reads as "no committed store this build
    * can extend": the rebuild starts past the legacy generations under
    * a non-colliding epoch (the [[EmbedIndex]] upgrade path). */
  def build(documents: DataFrame, dir: String, rounds: Int = 3): Unit = {
    val (gen, epoch) = gens(dir).next(_.epoch)
    val merges = TextOps.bpeTrainMerges(documents, rounds)
      .localCheckpoint() // pin: the vocab derives from the same rules
    val mergesDir = Generations.fresh(s"e$epoch-merges")
    val vocabDir = Generations.fresh(s"e$epoch-vocab")
    merges.write.parquet(s"$dir/$mergesDir")
    // base alphabet: every code-point token of the training corpus's
    // words (the same seeding as the trainer / encoder), binary-sorted
    // with dense ids 0..B-1. The distinct-token frame is bounded by
    // the code-point space — model-artifact-sized by contract, the
    // same adjudicated-collect posture as bpeEncodeFrom's merge table
    // (and a real tokenizer ships exactly this list) — so ids are
    // assigned driver-side rather than through a global window the
    // NoGlobalWindowGuard exists to flag.
    val spark = documents.sparkSession
    val alphabet: Array[String] = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(explode(expr("filter(split(word, '(?!^)'), t -> t != '')"))
        .as("token"))
      .distinct()
      .collect().map(_.getString(0)).sorted
    val baseCount = alphabet.length.toLong
    import spark.implicits._
    val base = alphabet.zipWithIndex.toSeq
      .map { case (t, i) => (i.toLong, t, "base") }
      .toDF("token_id", "token", "kind")
    val mergedToks = merges
      .select((col("merge_rank").cast("long") + lit(baseCount - 1))
        .as("token_id"), col("merged").as("token"),
        lit("merged").as("kind"))
    base.unionAll(mergedToks).write.parquet(s"$dir/$vocabDir")
    gens(dir).publish(gen, "epoch" -> epoch, "rounds" -> rounds,
      "merges" -> mergesDir, "vocab" -> vocabDir)
  }

  /** The committed merge table — [[TextOps.bpeEncodeFrom]]'s loaded
    * form takes exactly this frame. */
  def merges(spark: SparkSession, dir: String): DataFrame =
    mergesAt(spark, dir, manifest(dir).getOrElse(
      throw new IllegalStateException(s"no committed tokenizer at $dir")).gen)

  /** Time travel: the merge table of a retained earlier generation. */
  def mergesAt(spark: SparkSession, dir: String, gen: Long): DataFrame = {
    require(gens(dir).committed.contains(gen),
      s"generation $gen is not committed at $dir")
    spark.read.parquet(s"$dir/${gens(dir).at(gen).merges}")
  }

  /** The committed token vocabulary (token_id, token, kind). */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    val man = manifest(dir).getOrElse(
      throw new IllegalStateException(s"no committed tokenizer at $dir"))
    spark.read.parquet(s"$dir/${man.vocab}")
  }

  /** Reclaim data dirs no manifest generation references and abandoned
    * manifest temps — the only destructive step in the protocol. Every
    * committed generation stays readable, and nothing is spared for
    * being recent (the single-writer form of the shared vacuum). */
  def vacuum(dir: String): Unit =
    gens(dir).vacuum(keep = Int.MaxValue, graceMs = 0L)(m =>
      Seq(m.merges, m.vocab))
}
