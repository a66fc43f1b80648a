package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` table: token counting, quality
  * scoring, language-ID heuristics, and content fingerprinting — the
  * text-side half of a training-data pipeline (BASELINE north star).
  *
  * Everything is built-in Column expressions (codegen'd, no UDFs), and
  * every formula is reproducible in ANSI SQL for the DuckDB oracle:
  * occurrence counts via length-difference, ratios via a single IEEE
  * double division, fingerprints via md5.
  *
  * Scale posture: all queries are embarrassingly parallel scans — no
  * shuffle except the explicit aggregates.
  */
object TextOps {

  /** Number of non-overlapping occurrences of `needle`, via the
    * length-difference trick (portable to any SQL dialect). */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(replace(text, lit(needle), lit(""))))
      / needle.length).cast("int")

  /** Whitespace tokenization — documents are single-space separated. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Deterministic hash-based sampling: keep a doc iff
    * md5(doc_id) mod 100 < pct. Unlike rand()-based `sample`, the
    * decision is a pure function of the KEY — reproducible across runs,
    * engines, partitionings and retries, and composable (a 10% sample is
    * a superset-invariant of a 5% one with the same hash). This is how a
    * training pipeline takes a stable corpus slice at 100 TB. */
  /** The key-pure sampling residue in [0, 100): md5 of the doc_id —
    * ONE definition, because [[hashSample]], [[stratifiedSample]] and
    * [[datasetSplits]] all PROMISE the same hash (superset-invariance
    * across rates, append-stable splits) and that only holds if a
    * width tweak cannot hit one copy and miss another. */
  private def keyResidue: Column =
    conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("bigint") % 100

  def hashSample(documents: DataFrame, pct: Int = 10): DataFrame =
    documents
      .filter(keyResidue < pct)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Deterministic TRAIN/VALID/TEST split — the assignment every
    * training corpus needs frozen before anything else touches it:
    * the same key-pure md5 residue as [[hashSample]] cut at 80/90, so
    * membership is a pure function of doc_id (reproducible across
    * runs/engines/partitionings, stable under corpus growth — an
    * appended doc never moves an existing one between splits, the
    * property a random split destroys). Emitted as per-(split, lang)
    * counts + each split's min/max residue as the audit columns; the
    * splits are disjoint and exhaustive BY CONSTRUCTION (one residue,
    * three half-open ranges). */
  def datasetSplits(documents: DataFrame): DataFrame = {
    documents
      .withColumn("res", keyResidue)
      .withColumn("split",
        when(col("res") < 80, "train")
          .otherwise(when(col("res") < 90, "valid").otherwise("test")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("res")).as("min_residue"),
        max(col("res")).as("max_residue"))
  }

  /** Leakage-SAFE train/valid/test split: the residue is hashed from
    * the near-dup CLUSTER REPRESENTATIVE, not the doc_id, so every
    * member of a near-duplicate cluster lands in the same split by
    * construction. The doc-keyed [[datasetSplits]] silently leaks: a
    * near-dup pair whose two doc_ids hash across the 80/90 cuts puts a
    * paraphrase of a training document into the test set — the classic
    * eval-contamination bug that inflates held-out metrics. Splitting
    * on the cluster id (min doc_id of the component, from
    * [[DedupOps.nearDupClustersFrom]]) removes that failure mode while
    * staying key-pure and engine-reproducible. Append-stability is
    * WEAKER than the doc-keyed split's, though: a new doc joining an
    * existing cluster inherits the cluster's frozen split, but an
    * append that CHANGES a cluster's representative — a member with a
    * smaller doc_id than the current min, or a doc that bridges two
    * clusters into one — re-hashes the merged cluster's residue and
    * can move its existing members between splits. That is the price
    * of the leakage guarantee (the bridged clusters MUST co-locate,
    * and they can't both keep their old splits); pipelines that need
    * hard doc-level stability freeze the label frame at split time.
    *
    * Scale posture: one equi join of the corpus to the doc-universe
    *-sized label frame on doc_id, then a 3-group aggregate. The
    * cluster labels are the dedup pipeline's existing output — a real
    * pipeline materializes them once and reuses them here for free. */
  def leakageSafeSplits(documents: DataFrame,
      clusters: DataFrame): DataFrame = {
    val res = conv(substring(
      md5(col("cluster_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 100
    documents.select(col("doc_id"), col("n_chars"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"))
      .withColumn("res", res)
      .withColumn("split",
        when(col("res") < 80, "train")
          .otherwise(when(col("res") < 90, "valid").otherwise("test")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_chars")).as("n_chars"))
  }

  /** Split-leakage audit: over the verified near-dup pair graph, count
    * pairs whose two documents land in DIFFERENT splits under (a) the
    * naive doc_id-keyed policy of [[datasetSplits]] and (b) the
    * cluster-keyed policy of [[leakageSafeSplits]]. One row:
    * `n_pairs`, `leaked_naive` (the contamination the naive split
    * ships — nonzero whenever any cluster straddles a hash cut),
    * `leaked_safe` (zero BY CONSTRUCTION — both endpoints of a pair
    * share a component, hence a cluster_id, hence a split; the audit
    * proves the construction end-to-end rather than asserting it).
    *
    * Scale posture: the pair frame is LSH-block-bounded, the label
    * join is two equi joins on doc ids, the result is one global row. */
  def splitLeakage(documents: DataFrame, pairs: DataFrame,
      clusters: DataFrame): DataFrame = {
    def residue(c: Column): Column = conv(substring(
      md5(c.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 100
    def splitOf(r: Column): Column =
      when(r < 80, "train").otherwise(when(r < 90, "valid").otherwise("test"))
    val lab = documents.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"))
      .select(col("doc_id"),
        splitOf(residue(col("doc_id"))).as("naive_split"),
        splitOf(residue(col("cluster_id"))).as("safe_split"))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(lab.select(col("doc_id").as("doc_a"),
        col("naive_split").as("na"), col("safe_split").as("sa")), Seq("doc_a"))
      .join(lab.select(col("doc_id").as("doc_b"),
        col("naive_split").as("nb"), col("safe_split").as("sb")), Seq("doc_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L))
          .as("leaked_naive"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as("leaked_safe"))
  }

  /** Stratified deterministic sampling: a per-language keep rate (the
    * usual rebalancing move when one language dominates a crawl),
    * decided by the same key-pure hash as [[hashSample]] — so each
    * stratum's sample is reproducible, composable across rates, and
    * independent of partitioning/retries. The rate table is a literal
    * `when` cascade (a handful of strata → codegen'd branch, no join);
    * a thousand-stratum table would become a broadcast-joined dim
    * instead — same semantics, stated trade. */
  def stratifiedSample(documents: DataFrame,
      rates: Seq[(String, Int)] = Seq("en" -> 10, "de" -> 50, "fr" -> 100, "es" -> 25),
      defaultPct: Int = 0): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (l, p)) =>
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    documents
      .filter(
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
          16, 10).cast("bigint") % 100 < pct)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Deterministic weighted BUDGET sampling: exactly `k` documents,
    * inclusion biased toward high weight, decided by an integerized
    * bottom-k priority — the fixed-BUDGET complement of the
    * rate-based samplers above ("give me 500 docs, favor quality"
    * vs "keep 10%"). Priority = (h · 10^6) div w, with h the same
    * key-pure md5 hash family as [[hashSample]] (full 32-bit width,
    * not mod 100) and w an integer weight ≥ 1 (here a length-derived
    * quality proxy, 1..50); LOW priority wins, ties break on doc_id.
    * This is weighted bottom-k sampling — the deterministic cousin of
    * A-Res reservoir sampling, with the float `u^(1/w)` key replaced
    * by an integer floor-division so the ranking is bit-identical
    * across engines (IEEE pow is not correctly rounded and could flip
    * boundary ranks). Reproducible across runs, partitionings and
    * retries — the property a rand()-keyed reservoir destroys — and
    * it plans as a TakeOrdered top-k: per-partition heaps + one
    * driver merge of k·parts rows, no global sort, no corpus
    * shuffle. h·10^6 < 2^52, so the product is overflow-safe at any
    * corpus size (the hash width is fixed, not data-dependent). */
  def weightedSample(documents: DataFrame, k: Int = 500): DataFrame = {
    val h = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("bigint")
    val w = lit(1L) + least(expr("n_chars div 100"), lit(49L))
    documents
      .select(col("doc_id"), col("lang"), w.as("weight"),
        h.as("h"))
      .withColumn("priority", expr("(h * 1000000) div weight"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"), col("weight"), col("priority"))
  }

  /** Per-source document caps — the domain-cap policy of web-corpus
    * pipelines (CCNet / RefinedWeb style): no single source may
    * contribute more than `cap` documents, and the kept set is the
    * source's TOP-quality slice, not an arbitrary one — the standard
    * defense against one crawler-friendly domain flooding the training
    * mix. Ranking is the [[qualityScore]] signal (already
    * oracle-exact) descending with a doc_id tie-break, so the kept set
    * is a pure function of the data.
    *
    * Scale posture: rank ≤ cap over a per-source window rewrites to
    * WindowGroupLimit (cap ≤ 1000), so at most `cap` rows per map task
    * reach the exchange per source — the same bounded-output posture
    * as the top-k samplers; no corpus-wide sort anywhere. The
    * quality expression is a codegen'd per-row projection. */
  def sourceCaps(documents: DataFrame, cap: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokenCount(col("text"))
    val q = least(lit(1.0), toks.cast("double") / 100) * 0.4 +
      size(array_distinct(tokens(col("text")))).cast("double") / toks * 0.4 +
      least(lit(1.0), (occurrences(col("text"), "the ")
        + occurrences(col("text"), "a ")).cast("double") / 5) * 0.2
    documents
      .select(col("doc_id"), col("source"), q.as("quality_score"))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("quality_score").desc_nulls_last, col("doc_id"))))
      .filter(col("src_rank") <= cap)
  }

  /** Feature hashing (the "hashing trick", Weinberger et al., ICML
    * 2009): each document becomes a sparse `dim`-bucket term-frequency
    * vector with the vocabulary REPLACED by a hash — the featurizer
    * that needs no vocabulary build, no dictionary broadcast, and no
    * second pass, which is why it is the default first featurizer at
    * corpus scale (a learned vocab is a corpus-wide groupBy + a
    * broadcast that grows with the vocabulary; the hash is a codegen'd
    * per-row expression). Bucket = md5-residue of the token mod `dim`
    * — the same engine-exact hash family as the samplers, so the
    * oracle replays it bit-for-bit. Emitted sparse, top-`k` buckets
    * per doc by (tf DESC, bucket) through WindowGroupLimit — the
    * bounded-output posture; collisions are the accepted trade and are
    * deterministic. One explode + one (doc, bucket) aggregate + one
    * doc-keyed window: the aggregate's exchange on (doc_id, bucket)
    * is reused by nothing, but the window's doc_id exchange rides the
    * SAME shrinking per-doc frame — no corpus-sized shuffle. */
  def hashFeatures(documents: DataFrame, dim: Int = 64, k: Int = 8): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("bucket",
        conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("bigint") % dim)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("bucket"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("bucket"), col("tf"), col("rk"))
  }

  /** Canonical text normalization — the pass that runs before exact
    * dedup so trivially-different bytes (case, punctuation, whitespace)
    * hash identically: lowercase → non-alphanumerics to spaces →
    * collapse runs → trim, plus the md5 of the canonical form. Pure
    * codegen'd scan, no shuffle; at 100 TB this is the cheapest stage
    * of the pipeline and the one that most increases dedup recall. */
  def normalize(documents: DataFrame): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    documents.select(
      col("doc_id"),
      canon.as("norm_text"),
      md5(canon.cast("binary")).as("norm_md5"),
      length(canon).as("n_chars_norm"))
  }

  /** Per-document statistics + a quality score in [0,1]: long-enough,
    * not-too-repetitive documents with a healthy stopword rate score
    * high (the usual pre-training heuristics, deterministic form). */
  def stats(documents: DataFrame): DataFrame = {
    val toks = tokenCount(col("text"))
    val stop = (occurrences(col("text"), "the ") +
      occurrences(col("text"), "a ")).cast("int")
    documents.select(
      col("doc_id"),
      col("lang"),
      length(col("text")).as("n_chars"),
      toks.as("n_tokens"),
      stop.as("n_stopwords"),
      size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
      (length(col("text")).cast("double") / toks).as("avg_token_len"),
      (stop.cast("double") / toks).as("stopword_ratio"),
      (size(array_distinct(tokens(col("text")))).cast("double") / toks)
        .as("distinct_ratio"),
      least(lit(1.0), toks.cast("double") / 100).as("length_score"))
  }

  /** Composite quality score: 0.4·length + 0.4·lexical-diversity +
    * 0.2·stopword-presence. Fixed evaluation order → bit-identical in
    * both engines. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokenCount(col("text"))
    val lengthScore = least(lit(1.0), toks.cast("double") / 100)
    val diversity = size(array_distinct(tokens(col("text")))).cast("double") / toks
    val stop = (occurrences(col("text"), "the ") + occurrences(col("text"), "a "))
    val stopScore = least(lit(1.0), stop.cast("double") / 5)
    documents.select(
      col("doc_id"),
      (lengthScore * 0.4 + diversity * 0.4 + stopScore * 0.2)
        .as("quality_score"))
  }

  /** DSIR-style importance RESAMPLING (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — the published
    * data-selection method that reweights a raw crawl toward a clean
    * target domain using hashed n-gram features, reduced here to
    * unigram hash buckets and integer-bit logs so every value
    * hash-gates:
    *
    *   1. every token maps to one of `buckets` md5 hash buckets;
    *   2. bucket counts are taken separately over the TARGET slice
    *      (here: the `targetSources` sources — the stand-in for the
    *      paper's Wikipedia+books reference) and the RAW remainder,
    *      add-1 smoothed over the fixed bucket universe;
    *   3. each bucket's importance is the quantized log likelihood
    *      ratio log₂(P̂_target(b) / P̂_raw(b)), as integer bits via the
    *      same length(bin(x)) ⌊log₂⌋ idiom as [[unigramSurprisalFrom]]
    *      (the corpus-total term is a per-corpus constant, kept so the
    *      weights center correctly);
    *   4. each raw document scores the sum of its tokens' bucket bits
    *      (token multiplicity counts, as in the paper's bag model);
    *   5. the "sample" is the deterministic top-k by (weight, doc_id)
    *      — the key-pure stand-in for the paper's Gumbel draw, same
    *      posture as [[weightedSample]]'s integerized bottom-k.
    *
    * Scale posture: one corpus explode feeds both the bucket-stat
    * aggregate (output bounded at `buckets` rows) and the per-doc
    * scoring join; the bits table is a broadcast by construction;
    * the final top-k plans as TakeOrdered. No corpus-wide sort, no
    * second explode. */
  def dsirResample(documents: DataFrame,
      targetSources: Seq[String] = Seq("src0", "src1"),
      buckets: Int = 1024, k: Int = 200): DataFrame =
    dsirResampleFrom(
      documents.filter(!col("source").isin(targetSources: _*)),
      dsirBucketStats(documents, targetSources, buckets), buckets, k)

  /** The (bucket, ct, cr) target/raw token-count frame step 2 builds —
    * public and MERGEABLE (two shards' stats merge by position-wise
    * sum, the CMS merge law), which is what lets
    * [[graft.streaming.CorpusIngest.updateDsirStats]] maintain the
    * same frame incrementally as the corpus streams in. */
  def dsirBucketStats(documents: DataFrame,
      targetSources: Seq[String] = Seq("src0", "src1"),
      buckets: Int = 1024): DataFrame = {
    val isTarget = col("source").isin(targetSources: _*)
    dsirTokenBuckets(documents, buckets)
      .groupBy(col("bucket"))
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
        sum(when(isTarget, 0L).otherwise(1L)).as("cr"))
  }

  /** Score + deterministic top-k of `rawDocs` against a (possibly
    * streaming-maintained) bucket-stat frame — steps 3–5 of
    * [[dsirResample]]. `buckets` must match the stats build. */
  def dsirResampleFrom(rawDocs: DataFrame, stats: DataFrame,
      buckets: Int = 1024, k: Int = 200): DataFrame = {
    // pin the bucket-stat frame (≤ `buckets` rows): it feeds TWO
    // broadcast subtrees (`totals` and `bits`), and unpinned each
    // subtree re-ran the corpus token explode + per-token hash behind
    // it — measured as two ~1.7 s-CPU duplicate stages in sample_dsir's
    // profile. The lazy localCheckpoint computes the explode once and
    // both broadcasts read the bucket-sized blocks; the "one corpus
    // explode feeds the stats" scale claim in [[dsirResample]]'s doc
    // now actually holds in the executed plan.
    val pinnedStats = stats.localCheckpoint(false)
    // totals over the FIXED bucket universe: Σ counts + 1 per bucket
    val totals = pinnedStats.agg(
      (sum(col("ct")) + buckets).as("nt"),
      (sum(col("cr")) + buckets).as("nr"))
    val bits = pinnedStats.crossJoin(broadcast(totals))
      .select(col("bucket"),
        ((length(expr("bin(ct + 1)")) - length(expr("bin(cr + 1)"))) -
          (length(expr("bin(nt)")) - length(expr("bin(nr)"))))
          .cast("long").as("bits"))
    dsirTokenBuckets(rawDocs, buckets)
      .join(broadcast(bits), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("weight_bits"))
      .orderBy(col("weight_bits").desc, col("doc_id"))
      .limit(k)
  }

  private def dsirTokenBuckets(documents: DataFrame,
      buckets: Int): DataFrame =
    documents
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("bigint") % buckets)

  /** Gopher-style RULE gate (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", App. A1.1) —
    * the published heuristic filter suite real web-corpus pipelines
    * run, as per-rule boolean columns plus the AND'd keep flag, so a
    * pipeline can audit WHICH rule dropped a document (the published
    * practice) rather than just that one did:
    *
    *   r_wc     word count within bounds (floor adapted 50 → 20: the
    *            synthetic corpus tops out at ~100 words, the published
    *            floor would reject half of it; the SHAPE is the rule)
    *   r_mwl    mean word length in [3, 10] characters
    *   r_sym    symbol-to-word ratio (# and ellipsis) ≤ 0.1
    *   r_alpha  ≥ 80% of words contain an alphabetic character
    *   r_stop   ≥ 2 distinct members of the stopword probe list
    *
    * All measurements are integer-exact (milli-ratios via floor
    * division on non-negative operands, word-boundary hits on the
    * space-padded text) so every column hash-gates against the SQL
    * oracle — no IEEE ratio ever compares against a threshold.
    * Scale posture: embarrassingly parallel corpus scan, one
    * projection, no shuffle. */
  def gopherGate(documents: DataFrame): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val stopDistinct = Seq("the", "and", "a", "of", "to", "in")
      .map(w => when(locate(s" $w ", padded) > 0, 1).otherwise(0))
      .reduce(_ + _)
    val sym = occurrences(col("text"), "#") + occurrences(col("text"), "...")
    documents
      .select(col("doc_id"), col("lang"), col("text"),
        tokenCount(col("text")).cast("bigint").as("wc"),
        sym.cast("bigint").as("sym"),
        size(expr("filter(split(text, ' '), x -> x rlike '[a-z]')"))
          .cast("bigint").as("alpha_words"),
        stopDistinct.cast("bigint").as("stop_distinct"))
      .select(col("doc_id"), col("lang"), col("wc"),
        expr("((cast(length(text) AS bigint) - (wc - 1)) * 1000) div wc")
          .as("mwl_milli"),
        expr("(sym * 1000) div wc").as("sym_milli"),
        expr("(alpha_words * 1000) div wc").as("alpha_milli"),
        col("stop_distinct"))
      .withColumn("r_wc", col("wc") >= 20 && col("wc") <= 100000)
      .withColumn("r_mwl",
        col("mwl_milli") >= 3000 && col("mwl_milli") <= 10000)
      .withColumn("r_sym", col("sym_milli") <= 100)
      .withColumn("r_alpha", col("alpha_milli") >= 800)
      .withColumn("r_stop", col("stop_distinct") >= 2)
      .withColumn("keep", col("r_wc") && col("r_mwl") && col("r_sym") &&
        col("r_alpha") && col("r_stop"))
  }

  /** Language-ID by stopword-profile scoring: count hits of a tiny
    * per-language marker lexicon, predict the argmax (deterministic
    * first-wins tie-break in a fixed language order). The driver corpus
    * is synthetic ASCII, so this demonstrates the operator shape — a
    * real deployment swaps the lexicons. */
  def langId(documents: DataFrame): DataFrame = {
    val scores = Seq(
      "en" -> (occurrences(col("text"), "the ") + occurrences(col("text"), "a ")
        + occurrences(col("text"), "and ")),
      "de" -> (occurrences(col("text"), "der ") + occurrences(col("text"), "und ")
        + occurrences(col("text"), "die ")),
      "fr" -> (occurrences(col("text"), "le ") + occurrences(col("text"), "la ")
        + occurrences(col("text"), "et ")),
      "es" -> (occurrences(col("text"), "el ") + occurrences(col("text"), "los ")
        + occurrences(col("text"), "y ")))
    // argmax with first-wins tie-break, expressed as a when-cascade
    val Seq(en, de, fr, es) = scores.map(_._2)
    val pred = when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    documents.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("score_en"), de.as("score_de"), fr.as("score_fr"), es.as("score_es"),
      pred.as("predicted_lang"))
  }

  /** Token counting two ways: whitespace words, and a BPE-ish subword
    * estimate — each word contributes ceil(len/4) pieces, the regex-free
    * arithmetic equivalent of counting matches of `[a-z0-9]{1,4}` within
    * words — plus the resulting chars-per-token ratio (the usual
    * tokenizer-budget planning statistic). */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val bpe = bpeCount
    documents.select(
      col("doc_id"),
      size(toks).as("ws_tokens"),
      bpe.cast("int").as("bpe_tokens"),
      (length(col("text")).cast("double") / bpe).as("chars_per_bpe_token"))
  }

  /** Token-budget shard packing: assign each document to a training
    * shard so every shard holds ≈`budget` BPE-estimated tokens, packed
    * in deterministic doc_id order WITHIN each language — shard_id =
    * (running token total before this doc) div budget. This is the
    * step that turns a cleaned corpus into fixed-size training inputs.
    *
    * Scale posture: the running sum windows per lang, so strata pack
    * in parallel and one reducer never sees the whole corpus; the
    * per-stratum form is what multilingual pipelines shard by anyway.
    * A single GLOBAL packing order is [[globalTokenShards]]' two-phase
    * prefix sum. */
  def tokenShards(documents: DataFrame, budget: Long = 2048L): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), bpeCount.as("n_tokens"))
      .withColumn("shard_id",
        expr(s"(sum(n_tokens) over (partition by lang order by doc_id " +
          s"rows between unbounded preceding and current row) - n_tokens) div $budget"))

  /** [[tokenShards]] packing with EXACT tokenizer counts: `counts` is
    * a per-doc (doc_id, n_bpe_tokens) frame — [[bpeIdsFrom]] output,
    * or any stored count table — so shards hold ≈`budget` of the
    * tokens the TRAINER will actually see, not the regex estimate
    * (the estimate drifts with vocabulary; shard sizes built from it
    * drift with it). Same deterministic per-lang doc_id packing order
    * and running-sum window as [[tokenShards]]; zero-token documents
    * ride in a shard but consume no budget. */
  def tokenShardsExact(documents: DataFrame, counts: DataFrame,
      budget: Long = 2048L): DataFrame =
    documents.select(col("doc_id"), col("lang"))
      .join(counts.select(col("doc_id"),
        col("n_bpe_tokens").as("n_tokens")), Seq("doc_id"))
      .withColumn("shard_id",
        expr(s"(sum(n_tokens) over (partition by lang order by doc_id " +
          s"rows between unbounded preceding and current row) - n_tokens) div $budget"))

  /** BPE-estimated token count of the `text` column — the same
    * per-word ceil(len/4) estimate [[tokenCounts]]/[[tokenShards]]
    * use, shared by the packing operators below. */
  private def bpeCount: Column =
    aggregate(tokens(col("text")), lit(0L),
      (acc, w) => acc + floor((length(w) + 3) / 4).cast("long"))

  /** Training-sequence packing, concat-then-chunk: per language, the
    * documents are laid end-to-end in deterministic doc_id order and
    * the token stream is cut into fixed `seqLen` windows — each output
    * row is the SPAN a document occupies in one training sequence
    * (`seq_id`, token range [tok_start, tok_end) within the doc). A doc
    * longer than the remaining window space SPLITS across sequences —
    * exactly how GPT-style pretraining consumes a corpus (no padding,
    * no document alignment), and the complement of [[tokenShards]],
    * which keeps documents whole.
    *
    * Scale posture: one window cumsum per language stratum (strata pack
    * in parallel), then a stateless explode of each doc's covered
    * sequence range — rows out ≈ docs + splits, never tokens. All
    * integer arithmetic → full hash oracle. */
  def packSequences(documents: DataFrame, seqLen: Long = 2048L): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), bpeCount.as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("tok_offset", expr(
        "sum(n_tokens) over (partition by lang order by doc_id " +
          "rows between unbounded preceding and current row) - n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("tok_offset"),
        explode(expr(
          s"sequence(tok_offset div $seqLen, (tok_offset + n_tokens - 1) div $seqLen)"))
          .as("seq_id"))
      .select(col("doc_id"), col("lang"), col("seq_id"),
        greatest(lit(0L), col("seq_id") * seqLen - col("tok_offset")).as("tok_start"),
        least(col("n_tokens"), (col("seq_id") + 1) * seqLen - col("tok_offset")).as("tok_end"))

  /** GLOBAL token-order shard packing via a two-phase distributed
    * prefix sum — the operator [[tokenShards]]'s scaladoc names as the
    * stated trade and this ships: a single global running sum over
    * doc_id order, computed WITHOUT one reducer ever seeing the corpus.
    *
    * Phase 1: range-partition by doc_id, sort within partitions, and
    * carry the local prefix with one mapPartitions scan — the canonical
    * justified use of per-partition imperative logic (a scan-carry has
    * no relational form that avoids re-shuffling: a window `partition
    * by pid` would insert a SECOND full exchange of the corpus on
    * hash(pid), measured in the plan). Phase 2: the per-partition
    * totals — `partitions` rows, not corpus rows — cumsum into
    * partition offsets (map-side-combined groupBy) and broadcast-join
    * back; global offset = partition offset + local prefix. The corpus
    * is shuffled exactly ONCE.
    *
    * The partition identity is DATA-DERIVED — each chunk is keyed by
    * its own first doc_id (monotone across range partitions, boundaries
    * are sorted) — NOT TaskContext.getPartitionId(): a narrow
    * downstream coalesce (e.g. coalesce(1) before a single-file write)
    * pipelines many upstream partitions into one task, collapsing every
    * task-derived id to 0 while the per-chunk scan function still runs
    * once per parent partition — task ids identify the TASK, not the
    * data chunk. With data-derived keys the output is a pure function
    * of (doc_id order, token counts): range boundaries shift with
    * sampling, but offset(doc) = Σ tokens of all lower doc_ids no
    * matter where the cuts fall — so the hash oracle is a plain
    * single-window cumsum. */
  def globalTokenShards(documents: DataFrame, budget: Long = 2048L,
      partitions: Int = 32): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val local = documents
      .select(col("doc_id"), bpeCount.as("n_tokens")).as[(Long, Long)]
      .repartitionByRange(partitions, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          val pkey = first._1 // the chunk's first (lowest) doc_id
          var acc = 0L
          (Iterator.single(first) ++ it).map { case (id, n) =>
            val off = acc; acc += n; (pkey, id, n, off)
          }
        }
      }.toDF("pkey", "doc_id", "n_tokens", "local_prefix")
      // materialized ONCE: both the offsets subtree and the probe side
      // reference this frame, and without pinning it the two executions
      // would each re-sample range boundaries — identical in practice
      // (deterministic sampling + exchange reuse) but a silent-wrong-
      // join hazard if either assumption breaks. Same lineage-pinning
      // move as the iterative ops.
      .localCheckpoint()
    val offsets = local.groupBy(col("pkey"))
      .agg(sum(col("n_tokens")).as("part_total"))
      .withColumn("part_offset", expr(
        "sum(part_total) over (order by pkey " +
          "rows between unbounded preceding and current row) - part_total"))
      .select(col("pkey"), col("part_offset"))
    local.join(broadcast(offsets), Seq("pkey"))
      .select(col("doc_id"),
        (col("part_offset") + col("local_prefix")).as("tok_offset"),
        expr(s"(part_offset + local_prefix) div $budget").as("shard_id"))
  }

  /** Unigram-LM surprisal quality score — the CCNet move (score each
    * document by how surprising its tokens are under a language model
    * trained on the corpus itself; boilerplate scores low-surprise,
    * gibberish high) with the LM reduced to corpus unigram counts and
    * the log reduced to INTEGER bits: token surprisal ≈ ⌊log₂ N⌋ −
    * ⌊log₂ c⌋ where c is the token's corpus count and N the total.
    *
    * Why integer bits instead of −log p: cross-engine hash equality.
    * ln/log2 are not correctly-rounded in either engine and a per-doc
    * SUM of floats is shuffle-order-dependent; ⌊log₂ n⌋ computed as
    * length(bin(n))−1 (the position of the highest set bit — no float
    * anywhere) makes every per-doc sum an exact 64-bit integer, and
    * the single mean division happens once per output row. The score
    * is a quantized surprisal (resolution 1 bit ≈ factor-2 probability
    * bands) — the ranking signal survives, the oracle is exact.
    *
    * Scale posture: two passes — a map-side-combined unigram count
    * (vocab-sized output), then explode→join→per-doc integer sum. The
    * count frame broadcasts while small; at web-corpus vocab it
    * becomes a shuffle join on the token (Zipf-hot tokens are exactly
    * the well-estimated ones, and AQE's skew split handles "the"). */
  def unigramSurprisal(documents: DataFrame): DataFrame =
    unigramSurprisalFrom(termFrequencies(documents))

  /** [[unigramSurprisal]] over a precomputed [[termFrequencies]] frame:
    * every per-token quantity folds through the tf weights (corpus
    * count c = Σ tf, per-doc bit sum = Σ tf·bits), so the whole query
    * is aggregates of the shared posting frame — no second corpus
    * explode; result row-identical to the explode form. */
  def unigramSurprisalFrom(tf: DataFrame): DataFrame = {
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val total = counts.select(sum(col("c")).as("n_total"))
    tf.join(counts, Seq("term"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        (col("tf") * (length(expr("bin(n_total)")) - length(expr("bin(c)")))
          .cast("long")).as("bits"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_tokens"), col("total_bits"),
        (col("total_bits").cast("double") / col("n_tokens")).as("bits_per_token"))
  }

  /** Bigram-LM surprisal — [[unigramSurprisal]]'s CCNet scoring with a
    * first-order context model: each adjacent pair (w1, w2) is scored
    * by the MLE conditional P(w2|w1) = c₁₂/c₁, quantized to integer
    * bits as ⌊log₂ c₁⌋ − ⌊log₂ c₁₂⌋ (always ≥ 0 since c₁₂ ≤ c₁).
    * Context-aware surprisal separates fluent text from shuffled-word
    * salad that unigram frequencies score identically — the actual
    * discriminator CCNet's 5-gram KenLM buys, reduced to order 2 and
    * integer arithmetic so the per-doc sums hash-gate exactly.
    *
    * Self-scored (the LM's counts come from the corpus being scored),
    * so every doc bigram is in the table and no smoothing is needed —
    * the same closed-world framing as [[unigramSurprisal]]. Docs with
    * fewer than two tokens have no bigrams and emit no row.
    *
    * Scale posture — NO corpus-wide exchange: the r14 form pre-folded
    * raw occurrences to a per-(doc, pair) tf frame so both branches
    * could share one exchange, but that fold IS a corpus-sized 3-key
    * shuffle, and it is algebraically unnecessary (Σ tf·bits over
    * folded pairs ≡ Σ bits over raw occurrences) — dropping it cut the
    * 30× ladder wall ~27 → ~19 s (PLANS.md "text_perplexity — r15").
    * Now: the pair counts c₁₂ aggregate straight off the raw explode
    * (map-side combined — shuffle volume is per-partition-distinct
    * pairs, vocab-shaped, not corpus-shaped), the context frame c₁
    * folds into the pair frame first (vocab × vocab join, never a
    * t1-keyed probe whose Zipf-hot context keys would skew), and the
    * corpus side pays one join from RAW occurrences plus the per-doc
    * aggregate whose map-side combine ships one row per doc. The
    * explode runs twice (two scans of the token column) — cheaper
    * than shuffling the corpus once, and at web-corpus vocab, where
    * the pair frame stops broadcasting and the scoring join must
    * shuffle the raw side by pair key, the worst case merely equals
    * the old fold exchange it replaced. */
  def bigramSurprisal(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val pairs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("t1"),
          element_at(toks, i + 1).as("t2"))))
      .otherwise(array().cast("array<struct<t1:string,t2:string>>"))
    val raw = documents.select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.t1").as("t1"), col("p.t2").as("t2"))
    val c12 = raw.groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("t1")).agg(sum(col("c12")).as("c1"))
    val pairBits = c12.join(c1, Seq("t1"))
      .select(col("t1"), col("t2"),
        (length(expr("bin(c1)")) - length(expr("bin(c12)")))
          .cast("long").as("pair_bits"))
    raw.join(pairBits, Seq("t1", "t2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("pair_bits")).as("total_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        (col("total_bits").cast("double") / col("n_bigrams"))
          .as("bits_per_bigram"))
  }

  /** Retrieval-style document chunking — the step between a cleaned
    * corpus and an embedding index: each document becomes overlapping
    * windows of `w` tokens advanced by `stride` (overlap w − stride),
    * each chunk carrying its token span, text, and content md5 (the
    * id an embedding cache keys on). Distinct from [[packSequences]],
    * which concatenates ACROSS documents for training batches; this
    * windows WITHIN each document so every chunk remains attributable
    * to its source doc — the RAG/passage-retrieval shape.
    *
    * Chunk k covers tokens [k·stride + 1, min(k·stride + w, n)];
    * k runs to ⌈max(n − w, 0) / stride⌉, so the final window always
    * reaches the last token and a doc shorter than `w` yields exactly
    * one chunk. All-integer span math → full hash oracle.
    *
    * Scale posture: a pure narrow map — per-row `sequence` explode
    * (fan-out ≈ n/stride, bounded by doc length) and array `slice`,
    * no shuffle, no join, nothing corpus-shaped materialized. The
    * 100-TB form is exactly this plan with the output partitioned by
    * whatever the embedding stage wants; chunk identity is
    * data-derived (doc_id, chunk_idx), never task-derived. */
  def chunkDocuments(documents: DataFrame, w: Int = 64,
      stride: Int = 48): DataFrame = {
    require(w > 0 && stride > 0 && stride <= w,
      s"need 0 < stride <= w, got w=$w stride=$stride")
    val toks = tokens(col("text"))
    documents
      .select(col("doc_id"), toks.as("t"), size(toks).as("n"))
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0),
          expr(s"cast((greatest(n - $w, 0) + ${stride - 1}) div $stride as int)")))
          .as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride + 1)
      .withColumn("end_tok", least(col("start_tok") + (w - 1), col("n")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("t"), col("start_tok"),
          col("end_tok") - col("start_tok") + 1)).as("chunk_text"))
      .withColumn("chunk_md5", md5(col("chunk_text").cast("binary")))
  }

  /** Adjacent-token bigram statistics, top-k per language — the merge-
    * candidate counting at the heart of BPE/WordPiece tokenizer
    * training (each merge round picks the most frequent adjacent pair),
    * and the collocation report of corpus analysis.
    *
    * Scale posture: explode to one row per adjacent pair (rows ≈
    * tokens — the same fan-out as [[topTerms]]' unigram explode),
    * hash-aggregate on (lang, bigram) with map-side combine, then a
    * per-lang top-k window over the already-aggregated counts.
    * Deterministic rank ties on the bigram string → full hash oracle. */
  def bigrams(documents: DataFrame, k: Int = 10): DataFrame = {
    val toks = tokens(col("text"))
    val pairs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    documents.select(col("lang"), explode(pairs).as("bigram"))
      .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
      .withColumn("rank", expr(
        "row_number() over (partition by lang order by n desc, bigram)"))
      .filter(col("rank") <= k)
  }

  /** Top collocations per language by integer PMI-lift — the
    * association-mining step behind phrase detection (word2vec's
    * phrase pass, collocation extraction for tokenizer vocab): rank
    * adjacent pairs by how much more often they co-occur than their
    * unigram frequencies predict, lift = p(xy)/(p(x)·p(y)) =
    * c_xy·N/(c_x·c_y) with N the language's token count. PMI is
    * log(lift); since log is monotone the integer milli-lift
    * `(c_xy·N·1000) div (c_x·c_y)` ranks identically and hash-gates
    * exactly (no float log). `minPair` suppresses the classic PMI
    * pathology of rare-pair explosions.
    *
    * Overflow: c_xy·N·1000 ≤ N²·1000; int64 holds up to N ≈ 3·10⁷
    * tokens per language — beyond that, promote the numerator to
    * DECIMAL. Stated bound, same trade as the moments query.
    *
    * Scale posture: two map-side-combinable explode→aggregates (pairs
    * and unigrams, both vocab-sized outputs), two hash joins keyed by
    * (lang, token) — the Zipf-hot token rows are already aggregated to
    * one row per key, so no skew amplification — and the per-lang
    * top-k window runs over the pair vocabulary, not the corpus. */
  def collocations(documents: DataFrame, k: Int = 10,
      minPair: Long = 3L): DataFrame = {
    val toks = tokens(col("text"))
    val pairs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("t1"),
          element_at(toks, i + 1).as("t2"))))
      .otherwise(array().cast("array<struct<t1:string,t2:string>>"))
    val pc = documents.select(col("lang"), explode(pairs).as("p"))
      .select(col("lang"), col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy(col("lang"), col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_pair"))
    val uni = documents.select(col("lang"), explode(toks).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n_tok"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("n_tok")).as("n_lang"))
    pc.filter(col("n_pair") >= minPair)
      .join(uni.select(col("lang"), col("tok").as("t1"),
        col("n_tok").as("n_t1")), Seq("lang", "t1"))
      .join(uni.select(col("lang"), col("tok").as("t2"),
        col("n_tok").as("n_t2")), Seq("lang", "t2"))
      .join(tot, Seq("lang"))
      .withColumn("lift_milli",
        expr("(n_pair * n_lang * 1000) div (n_t1 * n_t2)"))
      .withColumn("rank", expr("row_number() over (partition by lang " +
        "order by lift_milli desc, n_pair desc, t1, t2)"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("t1"), col("t2"), col("n_pair"),
        col("n_t1"), col("n_t2"), col("lift_milli"), col("rank"))
  }

  /** Per-language unigram diversity profile — the dataset-card entropy
    * row (is this slice boilerplate or varied?): vocabulary size,
    * type-token ratio, and corpus unigram entropy in quantized integer
    * bits, H ≈ Σ_tok c·(⌊log₂N⌋−⌊log₂c⌋)/N — the same
    * highest-set-bit log as [[unigramSurprisal]] (length(bin(n))−1
    * cancels in the difference), so the numerator is an exact int64
    * sum and the only doubles are the two final per-row divisions.
    *
    * Scale posture: one explode→(lang, tok) hash aggregate (vocab-
    * sized), a per-lang rollup of that, and a vocab-sized join back —
    * all map-side combinable; nothing is per-document after the first
    * aggregate. */
  def unigramEntropy(documents: DataFrame): DataFrame =
    unigramEntropyFrom(termFrequencies(documents), documents)

  /** [[unigramEntropy]] over a precomputed [[termFrequencies]] frame
    * (language attached by a doc-keyed join — the posting frame is
    * term-count-sized, far smaller than the token explode it
    * replaces); result row-identical to the explode form. */
  def unigramEntropyFrom(tf: DataFrame, documents: DataFrame): DataFrame = {
    val counts = tf
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("term"))
      .agg(sum(col("tf")).as("c"))
    val tot = counts.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"))
    counts.join(tot, Seq("lang"))
      .select(col("lang"), col("n_tokens"), col("vocab"),
        (col("c") * (length(expr("bin(n_tokens)")) - length(expr("bin(c)")))
          .cast("long")).as("bits"))
      .groupBy(col("lang"), col("n_tokens"), col("vocab"))
      .agg(sum(col("bits")).as("total_bits"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("total_bits"),
        (col("total_bits").cast("double") / col("n_tokens"))
          .as("bits_per_token"),
        (col("vocab").cast("double") / col("n_tokens"))
          .as("type_token_ratio"))
  }

  /** Per-language percentile quality gating — "keep the top `keepPct`%
    * of each language by quality score", the threshold form every
    * curated-corpus recipe applies after scoring (C4/CCNet keep the
    * high-quality tail per language, not a global cut that would
    * empty low-resource languages).
    *
    * The cutoff is percentile_disc by rank arithmetic over the
    * AGGREGATED per-(lang, score) counts — the same trick as
    * [[graft.ext.Analytics.statusPercentiles]]: the cumulative window
    * runs over the distinct-score frame (vocabulary of scores), never
    * over documents, so one language being 90% of the corpus doesn't
    * put 90% of the corpus in one window partition. Keep semantics are
    * `score ≥ threshold` where threshold is the score at rank
    * ⌈keepPct%·n⌉ from the top — boundary ties all survive
    * (deterministic, side-effect of percentile_disc; stated). */
  def qualityGate(documents: DataFrame, keepPct: Int = 75): DataFrame = {
    val q = documents.select(col("doc_id"), col("lang"))
      .join(qualityScore(documents), Seq("doc_id"))
    val scoreCounts = q.groupBy(col("lang"), col("quality_score"))
      .agg(count(lit(1)).as("c"))
    // rank from the top: docs with score >= this one
    val cum = scoreCounts
      .withColumn("cum", expr("sum(c) over (partition by lang " +
        "order by quality_score desc rows between unbounded preceding " +
        "and current row)"))
      .withColumn("n_lang", expr("sum(c) over (partition by lang)"))
    val thr = cum
      .filter(col("cum") >= expr(s"(n_lang * $keepPct + 99) div 100"))
      .groupBy(col("lang"))
      .agg(max(col("quality_score")).as("threshold"),
        max(col("n_lang")).as("n_lang"))
    q.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("threshold"), col("n_lang"),
        (col("quality_score") >= col("threshold")).as("keep"))
  }

  /** PII detection + scrubbing — the privacy pass every released
    * training corpus runs (C4 removed pages with blocklisted strings;
    * modern curation redacts emails/phones/IPs in place): count and
    * mask three pattern families with anchors chosen to be
    * semantics-identical between Java regex (Spark) and RE2 (DuckDB
    * oracle) — no backrefs, no lookaround, POSIX classes only.
    *
    * Scale posture: a pure per-row projection — zero shuffle, zero
    * state; the regexes are compiled once per task and the scan stays
    * inside whole-stage codegen. At 100 TB this is the cheapest kind
    * of pass there is (bandwidth-bound), which is why production
    * pipelines fuse it with the first read. */
  def piiScrub(documents: DataFrame): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phone = "\\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}"
    val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    // Column-form regexp_count (not expr()-embedded SQL text: the SQL
    // string literal would re-process the pattern's backslashes)
    def nMatches(pat: String): Column =
      regexp_count(col("text"), lit(pat))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), email, "<EMAIL>"),
        phone, "<PHONE>"),
      ip, "<IP>")
    documents.select(col("doc_id"), col("lang"),
      nMatches(email).as("n_emails"),
      nMatches(phone).as("n_phones"),
      nMatches(ip).as("n_ips"),
      (nMatches(email) + nMatches(phone) + nMatches(ip) > 0).as("has_pii"),
      md5(scrubbed.cast("binary")).as("scrubbed_md5"))
  }

  /** Temperature-scaled data-mixing weights per corpus source: the
    * sampling proportions a training run draws each domain with,
    * w_s = n_s^α / Σ n^α over BPE-estimated token counts, α = 0.5
    * (τ = 2 temperature — upweights small domains relative to raw
    * proportional sampling, the standard multilingual/multi-domain
    * mixing move).
    *
    * Cross-engine determinism: n^0.5 is a single correctly-rounded
    * IEEE sqrt per group, and the normalizing total is a LEFT FOLD
    * over the source-sorted list of weights — not an unordered double
    * SUM — so the total (and each quotient) is bit-identical in Spark
    * and the SQL oracle. General α would need pow(), whose rounding is
    * not guaranteed identical across engines — stated trade.
    *
    * Scale posture: one map-side-combinable aggregation over the
    * corpus; the per-source frame is a handful of rows, so the ordered
    * fold and the broadcast of the total are free. */
  def mixtureWeights(documents: DataFrame): DataFrame = {
    val bySource = documents.select(col("source"), bpeCount.as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .withColumn("w", sqrt(col("n_tokens").cast("double")))
    val total = bySource.agg(aggregate(
      transform(array_sort(collect_list(struct(col("source"), col("w")))),
        e => e.getField("w")),
      lit(0.0), (acc, x) => acc + x).as("total"))
    bySource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("w") / col("total")).as("weight"))
  }

  /** Token-length histogram per language: fixed `width`-token buckets
    * (capped at bucket `cap` — the long tail folds into one bucket,
    * keeping output cardinality fixed), with each bucket's doc count
    * and token mass. The distribution report a curation pipeline reads
    * before and after filtering — dataset cards publish exactly this
    * table. Integer bucketing → hash oracle; one map-side-combined
    * aggregate, |langs|×buckets rows out. */
  def lengthHistogram(documents: DataFrame, width: Long = 50L,
      cap: Long = 9L): DataFrame =
    documents
      .select(col("lang"), bpeCount.as("n_tokens"))
      .withColumn("bucket", least(expr(s"n_tokens div $width"), lit(cap)))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_total"))
      .select(col("lang"), col("bucket"), (col("bucket") * width).as("bucket_lo"),
        col("n_docs"), col("n_tokens_total"))

  /** Top-k distinctive terms per document by integer-bit TF-IDF:
    * tf × (⌊log₂ N⌋ − ⌊log₂ df⌋) — the rarity weight in BITS via
    * length(bin(n)), the same float-free log as [[unigramSurprisal]],
    * so scores are exact integers and the per-doc ranking (ties on the
    * term string) hash-matches SQL. [[topTerms]] ranks by raw tf; this
    * is the keyword/topic signal that DOWN-weights corpus-wide terms.
    *
    * Scale posture: the same explode→(doc, term) tf aggregate as
    * topTerms, a vocab-sized df aggregate over it, a broadcast of the
    * single doc count, and a per-doc top-k window over the already
    * aggregated tf frame. */
  /** The per-(doc, term) frequency frame every lexical-ranking query
    * consumes: one token explode + one map-side-combined aggregate.
    * Exposed as a suite-shared artifact (SparkEntry memo) because
    * [[topTermsFrom]], [[tfidfTermsFrom]] and [[bm25TopDocsFrom]] all
    * derive from it — at 100 TB this is the materialized inverted-index
    * posting table the ranking jobs read, not a per-query re-explode of
    * the corpus. */
  def termFrequencies(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  def tfidfTerms(documents: DataFrame, k: Int = 3): DataFrame =
    tfidfTermsFrom(termFrequencies(documents), documents, k)

  /** Vocabulary encoding — the tokenizer-apply step between curation
    * and sequence packing: map every token to its id in a fixed-size
    * frequency vocabulary (rank by document frequency, deterministic
    * term tie-break; OOV → id 0) and report per document the token/OOV
    * counts plus an md5 fingerprint of the POSITION-ORDERED id
    * sequence — the content-addressable identity of the encoded sample
    * that downstream packing/shuffling jobs can verify against.
    *
    * Built over the suite's shared [[termFrequencies]] posting frame —
    * the vocabulary derivation is one vocab-sized aggregate of it, not
    * a second corpus scan.
    *
    * Scale posture: the vocabulary is catalog-sized (`vocabSize` rows)
    * and broadcasts; the encode join is a per-token equi probe of that
    * broadcast, and the per-doc reassembly sorts each doc's (pos, id)
    * list INSIDE the row (sort_array after collect) — no corpus-wide
    * ordering anywhere. At real vocab sizes (50k-100k) the broadcast
    * is a few MB — still a map-side join. */
  def vocabEncodeFrom(tf: DataFrame, documents: DataFrame,
      vocabSize: Int = 100): DataFrame = {
    // global row_number + rank<=k rewrites to WindowGroupLimit: each
    // map partition pre-selects its local top-k before the single
    // merge, so the "global window" never sees the full term vocab
    // (same plan guarantee KMeansSpec asserts for balancedSample)
    val vocab = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn("token_id", expr(
        "row_number() over (order by df desc, term)"))
      .filter(col("token_id") <= vocabSize)
      .select(col("term"), col("token_id"))
    val pos = documents.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    pos.join(broadcast(vocab), Seq("term"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(0)).as("id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(struct(col("pos"), col("id")))),
            e => e.getField("id").cast("string"))).cast("binary"))
          .as("ids_md5"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"),
        col("ids_md5"))
  }

  /** [[tfidfTerms]] over a precomputed [[termFrequencies]] frame. */
  def tfidfTermsFrom(tf: DataFrame, documents: DataFrame,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = broadcast(documents.agg(count(lit(1)).as("n_docs")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_bits").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(nDocs)
      .withColumn("tfidf_bits",
        col("tf") * (length(expr("bin(n_docs)")) - length(expr("bin(df)"))).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("tfidf_bits"))
  }

  def bm25TopDocs(documents: DataFrame,
      query: Seq[String] = Seq("dup", "spark", "data"),
      k: Int = 20): DataFrame =
    bm25TopDocsFrom(termFrequencies(documents), documents, query, k)

  /** BM25 keyword retrieval: rank documents against a fixed term query
    * with Okapi saturation (k1 = 6/5, b = 3/4) — the lexical-search
    * operator a curation stack runs next to embedding retrieval.
    *
    * Every quantity is EXACT INTEGER arithmetic, so the result hash-
    * gates cross-engine:
    *  - the tf saturation core tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *    is cleared of fractions by multiplying through by 20·T
    *    (avgdl = T/N): core = 44·T·tf / (20·T·tf + 6·T + 18·dl·N),
    *    fixed-point-scaled by 10⁶ under a truncating `div` whose
    *    operands are all positive (Spark `div` truncates toward zero,
    *    DuckDB `//` floors — they agree only on non-negative operands);
    *  - idf is the RATIONAL Robertson form (N+½)/(df+½) scaled to
    *    integers as (1000·(2N+1)) div (2df+1) — per-term monotone in
    *    the classic log idf, but log-free: ln() is transcendental and
    *    libm rounding differs across engines, so a log-BM25 score could
    *    never hash-gate. The ranking this produces is our engine's
    *    spec'd scoring function, documented as the "rational-idf BM25"
    *    variant.
    * Per-term scores are exact BIGINTs, so the per-doc SUM is shuffle-
    * order-free. At 100-TB corpus sizes the 10⁶·44·T·tf numerator
    * outgrows BIGINT (T ≳ 10¹³); the same expression in DECIMAL(38,0)
    * (DuckDB HUGEINT) is the stated scale path.
    *
    * Scale posture: the query-term tf slice is a tiny filter of the
    * shared [[termFrequencies]] posting frame (|query| terms ×
    * matching docs); df and the (T, N) totals are broadcast one-row/
    * |query|-row frames; the global top-k executes as
    * TakeOrderedAndProject — k rows per partition move, never the
    * corpus. */
  def bm25TopDocsFrom(tf: DataFrame, documents: DataFrame,
      query: Seq[String] = Seq("dup", "spark", "data"),
      k: Int = 20): DataFrame = {
    val dl = documents.select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("dl"))
    val totals = broadcast(dl.agg(
      sum(col("dl")).as("t_tokens"),
      count(lit(1)).as("n_docs")))
    val qtf = tf.filter(col("term").isin(query: _*))
    val dfreq = broadcast(
      qtf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val scored = qtf
      .join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(totals)
      .withColumn("idf_scaled",
        expr("(1000 * (2 * n_docs + 1)) div (2 * df + 1)"))
      .withColumn("core_scaled",
        expr("(1000000 * 44 * t_tokens * tf) div " +
          "(20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs)"))
      .withColumn("term_score", col("idf_scaled") * col("core_scaled"))
    scored.groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_hit"), sum(col("term_score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Materialize the temperature mixture: a deterministic corpus
    * subsample at each source's [[mixtureWeights]] rate — the step that
    * turns the mixing REPORT into actual training data. A doc survives
    * iff its key-pure hash bucket (md5(doc_id) mod 10⁶, the
    * [[hashSample]] rule) falls under ⌊weight·10⁶⌋.
    *
    * Cross-engine exactness of a float-derived THRESHOLD: the weights
    * are bit-identical by the ordered-fold construction, weight·10⁶ is
    * one correctly-rounded multiply, and the comparison bound goes
    * through an explicit floor() — never a raw double→int cast, whose
    * rounding direction differs between engines (Spark casts truncate,
    * DuckDB casts round). Same sample on every run, engine,
    * partitioning, and retry.
    *
    * Scale posture: the weight frame is |sources| rows, broadcast; the
    * filter is a key-pure scan predicate — no shuffle beyond the tiny
    * weight aggregation. */
  def mixtureSample(documents: DataFrame): DataFrame = {
    val w = mixtureWeights(documents).select(col("source"),
      expr("CAST(floor(weight * 1000000) AS BIGINT)").as("keep_bound"))
    val bucket = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 1000000
    documents.join(broadcast(w), Seq("source"))
      .filter(bucket < col("keep_bound"))
      .select(col("doc_id"), col("source"), col("keep_bound"))
  }

  /** Within-document repetition signals (the Gopher-rules family):
    * 3-gram total/distinct counts, the hottest 3-gram's count, and the
    * duplicate-3-gram fraction — the filters that catch boilerplate,
    * keyword stuffing, and degenerate generated text that plain
    * length/stopword scores miss.
    *
    * Scale posture: relational, not per-row O(n²) array scans —
    * explode 3-grams, count per (doc, gram) with map-side combine,
    * then re-aggregate per doc; both exchanges hash on keys whose
    * cardinality is bounded by document length, so the shape survives
    * arbitrarily many documents. */
  def repetition(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val grams = transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(3))))
    documents.select(col("doc_id"), explode(grams).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"), col("top_count"),
        ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .as("dup_ratio"))
  }

  /** The fixture's benchmark ("eval suite") membership:
    * doc_id % 11 == 0 AND doc_id < [[BenchIdCeil]]. The id cap is what
    * makes the fixture production-shaped: a real eval suite is FIXED
    * SIZE while the corpus grows, so the bench side of every
    * contamination join must stay broadcast-small at every corpus
    * scale. Without the cap the % 11 split grows WITH the corpus and
    * the joins flip broadcast→SMJ on scaled replicas — the r12
    * standing probe measured corpus_decontam_spans at 3.6× wall for
    * 10× data from exactly that flip. At every driver SF (≤ sf0.1)
    * all doc_ids are < 5000, so the cap is inert at gate scales and
    * bites only where fixed-bench is the honest semantics. */
  val BenchIdCeil = 5000L

  /** Fixture eval-suite membership predicate; corpus side is !this. */
  def isBenchDoc: Column =
    col("doc_id") % 11 === 0 && col("doc_id") < BenchIdCeil

  /** Benchmark decontamination: flag corpus documents sharing any
    * 6-token shingle with the benchmark set ([[isBenchDoc]], standing
    * in for an eval suite), with the count of distinct shared
    * shingles as the contamination strength. The n-gram-overlap
    * decontamination pass every serious pre-training pipeline runs.
    *
    * Scale posture: benchmark shingles are a small distinct set (eval
    * suites are tiny next to the corpus) — broadcastable, or a bloom
    * filter feeding the scan at 100 TB; the join is equi on the
    * shingle string, and per-doc distinct shingles bound the fan-out. */
  def benchmarkContamination(documents: DataFrame): DataFrame =
    benchmarkContaminationFrom(sixGramShingles(documents))

  /** (doc_id, s): each document's DISTINCT 6-token shingles, exploded —
    * the frame both sides of the contamination join read. Exposed so a
    * suite builds it once (SparkEntry memoizes it): the two consumers
    * are projections of the SAME frame, and the lambda-bearing shingle
    * expression gets fresh ExprIds per construction, so without sharing
    * the tokenize→shingle→explode pass runs twice. */
  def sixGramShingles(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val sh = transform(
      sequence(lit(1), greatest(size(toks) - 5, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(6))))
    documents.select(col("doc_id"), explode(array_distinct(sh)).as("s"))
  }

  /** [[benchmarkContamination]] over a prebuilt [[sixGramShingles]]
    * frame. A REAL benchmark side is eval-suite-sized (tiny next to
    * the corpus) and size estimation broadcasts it on its own — the
    * [[isBenchDoc]] id cap keeps the fixture's bench that size at
    * every corpus scale, so no explicit hint is needed. */
  def benchmarkContaminationFrom(exploded: DataFrame): DataFrame = {
    val bench = exploded.filter(isBenchDoc)
      .select(col("s")).distinct()
    exploded.filter(!isBenchDoc)
      .join(bench, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_benchmark_shingles"))
  }

  /** SPAN-level benchmark decontamination — the surgical form of
    * [[benchmarkContamination]]: instead of flagging whole documents,
    * locate WHICH token ranges the benchmark shingles cover, merge
    * overlapping hits into maximal contaminated spans, and report the
    * excision plan per document (span count, contaminated token count,
    * surviving-clean fraction). This is how production decontamination
    * actually ships — dropping a 10k-token doc for one quoted eval
    * question destroys yield; cutting the 6-token span keeps it.
    *
    * Span merge without self-joins: matches are fixed-length (6-token)
    * intervals, so sorted by start position the running maximum of
    * span ends is just the previous start + 5 — a new span begins
    * exactly when `pos - lag(pos) > 5`. One per-doc window (shuffle on
    * doc_id), a flag-cumsum island id, and two integer aggregates.
    * All arithmetic is integer (milli clean-ratio via `div`), so the
    * full excision plan hash-gates cross-engine.
    *
    * Scale posture, two-phase: the POSITIONAL explode (position
    * arithmetic + one string per token position) only ever runs over
    * documents already known contaminated. Phase 1 probes the cheap
    * DISTINCT-shingle frame ([[sixGramShingles]] — per-doc
    * array_distinct, no positions) against the benchmark with a
    * left-semi join to get the contaminated doc ids — real
    * contamination is sparse (‰-level), so this id set is tiny and
    * broadcasts. Phase 2 positional-explodes ONLY those docs and runs
    * the span merge. Result-identical to exploding everything (a doc
    * with no distinct-shingle hit contributes no span either way);
    * the corpus-shaped work drops from "positions of every doc" to
    * "distinct shingles of every doc" — and when the suite shares the
    * memoized shingle frame ([[decontaminateSpansFrom]]), phase 1
    * reads an already-materialized artifact, the production shape
    * (contamination, spans, and excision all probe ONE shingle
    * index). Only the BENCHMARK shingle set is materialized; it is
    * fixed-size by [[isBenchDoc]], so the probe join stays broadcast
    * at every corpus scale. */
  def decontaminateSpans(documents: DataFrame): DataFrame =
    decontaminateSpansFrom(sixGramShingles(documents), documents)

  /** [[decontaminateSpans]] over a prebuilt [[sixGramShingles]] frame
    * (the memoized index the whole contamination family probes). */
  def decontaminateSpansFrom(exploded: DataFrame,
      documents: DataFrame): DataFrame = {
    val bench = exploded.filter(isBenchDoc)
      .select(col("s")).distinct()
      // pin the SMALL side only: it's re-read nowhere, but the pinned
      // stats let the join pick its build side from a known size
      .localCheckpoint(false)
    decontaminateSpansAgainst(contaminatedDocs(exploded, documents, bench),
      bench)
  }

  /** Phase-1 prefilter: the corpus documents with at least one distinct
    * 6-gram in the benchmark set — the only docs whose positions the
    * span stage needs to look at. */
  private def contaminatedDocs(exploded: DataFrame, documents: DataFrame,
      bench: DataFrame): DataFrame = {
    val ids = exploded.filter(!isBenchDoc)
      .join(bench, Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
    documents.filter(!isBenchDoc).join(ids, Seq("doc_id"), "left_semi")
  }

  /** The span-merge core of [[decontaminateSpans]] against an EXPLICIT
    * benchmark shingle frame (one string column `s`) — the face the
    * streaming layer ([[graft.streaming.CorpusIngest]]) probes its
    * STORED eval-shingle index through, so batch and stream share one
    * definition of "contaminated span" and cannot drift. */
  def decontaminateSpansAgainst(documents: DataFrame,
      benchShingles: DataFrame): DataFrame =
    contaminatedSpansAgainst(documents, benchShingles)
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        sum(col("n_hits")).as("n_matches"),
        count(lit(1)).as("n_spans"),
        sum(col("end") - col("start") + 1).as("n_tokens_contaminated"))
      .withColumn("clean_milli", expr(
        "(1000 * (n_tokens - n_tokens_contaminated)) div n_tokens"))

  /** The merged contaminated INTERVALS themselves — one row per
    * maximal span: (doc_id, n_tokens, island, start, end, n_hits).
    * Shared by the per-doc report ([[decontaminateSpansAgainst]]) and
    * the surgical application ([[decontaminateExciseAgainst]]), so the
    * plan and its execution cannot disagree about what a span is. */
  def contaminatedSpansAgainst(documents: DataFrame,
      benchShingles: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val positioned = documents
      .select(col("doc_id"), size(toks).as("n_tokens"),
        posexplode(transform(sequence(lit(1), greatest(size(toks) - 5, lit(1))),
          i => concat_ws(" ", slice(toks, i, lit(6))))).as(Seq("idx", "s")))
      .select(col("doc_id"), col("n_tokens"), (col("idx") + 1).as("pos"),
        col("s"))
    val hits = positioned
      .join(benchShingles.select(col("s")), Seq("s"))
      .select(col("doc_id"), col("n_tokens"), col("pos")).distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > 5, 1L)
          .otherwise(when(lag(col("pos"), 1).over(w).isNull, 1L).otherwise(0L)))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg(min(col("pos")).as("start"),
        least(max(col("pos")) + 5, col("n_tokens").cast("long")).as("end"),
        count(lit(1)).as("n_hits"))
  }

  /** APPLY the excision plan — the step after [[decontaminateSpans]]'
    * report: re-emit each corpus document with every contaminated span
    * cut out (clean docs pass through byte-identical), plus the cut
    * count and the cleaned text's md5 (the content-addressable
    * identity downstream ingest would dedup on). This is the operator
    * that actually SAVES the 10k-token doc a whole-doc filter would
    * discard for one quoted eval question.
    *
    * The cut itself is a per-doc array expression — `filter` over the
    * token array with an `exists` probe into that doc's merged
    * interval list — so no corpus-shaped explode happens on the apply
    * side at all: the only exploded frame is the hits side inside
    * [[contaminatedSpansAgainst]], already semi-filtered by the
    * benchmark join. The interval list per doc is spans-sized (a few
    * entries), so the join that attaches it is a contaminated-docs
    * frame against the corpus — broadcastable in practice, unhinted
    * for the same fixture-growth reason as the bench set. */
  def decontaminateExciseAgainst(documents: DataFrame,
      benchShingles: DataFrame): DataFrame =
    decontaminateExciseAgainst(documents, benchShingles, documents)

  /** [[decontaminateExciseAgainst]] with the span stage reading a
    * (possibly pre-narrowed) document frame of its own — `spanDocs`
    * must contain every contaminated doc of `documents`; passing a
    * phase-1 prefilter output keeps the positional explode off the
    * clean bulk of the corpus. */
  def decontaminateExciseAgainst(documents: DataFrame,
      benchShingles: DataFrame, spanDocs: DataFrame): DataFrame = {
    val cuts = contaminatedSpansAgainst(spanDocs, benchShingles)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start"), col("end"))).as("cut"))
    val toks = tokens(col("text"))
    documents.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cut").isNull, col("text")).otherwise(concat_ws(" ",
          filter(toks, (t, i) => !exists(col("cut"), c =>
            (i + lit(1)) >= c.getField("start") &&
              (i + lit(1)) <= c.getField("end"))))).as("clean_text"),
        coalesce(size(col("cut")), lit(0)).as("n_spans_cut"))
      .withColumn("clean_md5", md5(col("clean_text").cast("binary")))
  }

  /** [[decontaminateExciseAgainst]] with the fixture's benchmark split
    * (doc_id % 11), mirroring [[decontaminateSpans]]. */
  def decontaminateExcise(documents: DataFrame): DataFrame =
    decontaminateExciseFrom(sixGramShingles(documents), documents)

  /** [[decontaminateExcise]] over a prebuilt [[sixGramShingles]] frame:
    * the spans side runs phase-1-prefiltered (positions only for docs
    * with a distinct-shingle hit — see [[decontaminateSpans]]), while
    * the pass-through left join still reads EVERY corpus doc, clean
    * ones byte-identical. */
  def decontaminateExciseFrom(exploded: DataFrame,
      documents: DataFrame): DataFrame = {
    val bench = exploded.filter(isBenchDoc)
      .select(col("s")).distinct()
      .localCheckpoint(false)
    decontaminateExciseAgainst(documents.filter(!isBenchDoc), bench,
      contaminatedDocs(exploded, documents, bench))
  }

  /** Canonical-form fingerprint (md5 of the normalized text) plus a
    * shingle fingerprint: the minimum md5 over all 3-token shingles —
    * the min-hash form of a rolling-window content signature, robust to
    * local edits in a way the whole-document hash is not. */
  /** Content-defined fingerprint via the native codegen'd Rabin-Karp
    * rolling hash (graft.functions.RollingMinHash): min 16-byte-window
    * polynomial hash per document — one O(n) pass per doc, O(1) rolling
    * update, pure 64-bit integer math (engine-independent, SQL oracle
    * recomputes each window's polynomial independently). */
  def rollingFingerprints(documents: DataFrame): DataFrame = {
    graft.GraftSql.registerFunctions(documents.sparkSession)
    documents.select(
      col("doc_id"),
      expr("rolling_min_hash(text)").as("min_rolling_hash"),
      (length(col("text")) - 15).as("n_windows"))
  }

  def fingerprints(documents: DataFrame): DataFrame = {
    // materialize the token array first — an inline split() inside the
    // shingle lambda re-tokenizes the text per shingle index (O(n²))
    val withToks = documents.select(col("doc_id"), col("text"),
      tokens(col("text")).as("toks"))
    val n = size(col("toks"))
    val shingles = transform(
      sequence(lit(1), greatest(n - 2, lit(1))),
      i => concat_ws(" ", slice(col("toks"), i, lit(3))))
    withToks.select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("content_md5"),
      array_min(transform(shingles, s => md5(s.cast("binary"))))
        .as("min_shingle_md5"),
      n.as("n_tokens"))
  }

  /** Non-overlapping `w`-token segments — the "paragraph"/"line" unit
    * for segment-level dedup and repetition. Real corpora split on
    * newlines; the fixture text is a flat single-space token stream, so
    * the segmenter is fixed-width — a documented stand-in (the same
    * honest-fixture move as [[benchmarkContamination]]'s synthetic eval
    * set). Everything downstream is agnostic to the segmenter: swap
    * `split(text, "\n")` in and the relational shapes are unchanged.
    * Segment count is ceil(n/w) with non-negative operands only, so the
    * DuckDB `//` mirror floors identically. */
  private def segmentsOf(w: Int): Column = {
    val toks = tokens(col("text"))
    val nseg = greatest(
      floor((size(toks) + (w - 1)).cast("double") / w).cast("int"), lit(1))
    transform(sequence(lit(1), nseg),
      i => concat_ws(" ", slice(toks, (i - lit(1)) * w + 1, lit(w))))
  }

  /** Corpus-level segment ("paragraph") dedup — the RefinedWeb /
    * exact-substring family: every w-token segment is deduplicated
    * ACROSS the whole corpus, the canonical survivor being the lowest
    * (doc_id, position) occurrence; per document we report how many of
    * its segments survive vs. are corpus-wide repeats. This catches
    * boilerplate (headers, navbars, license blocks) that document-level
    * dedup never sees because the surrounding text differs.
    *
    * Scale posture: segments join on their md5 — a fixed-width,
    * uniformly distributed key, so the groupBy and the join back both
    * hash-partition evenly no matter how skewed the text is, and the
    * shuffle carries 16-byte keys instead of segment strings. The
    * per-segment canonical pick is min(struct(doc_id, pos)) — one
    * map-side-combinable aggregate; nothing is ever all-pairs. */
  def paragraphDedup(documents: DataFrame, w: Int = 8,
      pin: Boolean = true): DataFrame = {
    // both the canonical pick and the join-back read this frame; the
    // lambda-bearing segment explode defeats exchange reuse, so a lazy
    // localCheckpoint shares one computed RDD instead of segmenting +
    // hashing the corpus twice (same pattern as sessionFunnel).
    // `pin = false` skips the checkpoint for callers that collapse the
    // join-back to a window (SparkEntry's WinMagic opt-in, r20): with
    // ONE consumer left, pinning would only add a store+reread round
    // trip between the explode and the window exchange.
    val raw = documents.select(col("doc_id"),
        posexplode(segmentsOf(w)).as(Seq("pos", "seg")))
      .select(col("doc_id"), col("pos"), md5(col("seg").cast("binary")).as("seg_md5"))
    val occ = if (pin) raw.localCheckpoint(false) else raw
    val canon = occ.groupBy(col("seg_md5"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    occ.join(canon, Seq("seg_md5"))
      .select(col("doc_id"),
        (col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")).cast("long").as("kept"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), sum(col("kept")).as("n_kept"))
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        (col("n_segments") - col("n_kept")).as("n_dropped"),
        ((col("n_segments") - col("n_kept")).cast("double") / col("n_segments"))
          .as("dup_seg_frac"))
  }

  /** Within-document duplicate-segment signals — the Gopher
    * duplicate-line / duplicate-paragraph fraction pair: the share of
    * segments that are repeats of an earlier segment in the SAME
    * document, and the share of characters inside those repeats. These
    * catch templated and degenerate-generation text whose 3-gram
    * profile ([[repetition]]) still looks diverse.
    *
    * Scale posture: two map-side-combinable aggregates keyed by
    * (doc_id, segment) then doc_id — cardinality bounded by document
    * length; char math is integer until the final two divisions, so
    * the doubles hash exactly cross-engine. */
  def dupSegments(documents: DataFrame, w: Int = 4): DataFrame =
    documents.select(col("doc_id"), explode(segmentsOf(w)).as("seg"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("c"), length(col("seg")).cast("long").as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_segments"),
        count(lit(1)).as("n_distinct"),
        sum((col("c") - 1) * col("len")).as("dup_chars"),
        sum(col("c") * col("len")).as("total_chars"))
      .select(col("doc_id"), col("n_segments"), col("n_distinct"),
        ((col("n_segments") - col("n_distinct")).cast("double") / col("n_segments"))
          .as("dup_seg_frac"),
        (col("dup_chars").cast("double") / col("total_chars"))
          .as("dup_char_frac"))

  /** Cross-document duplicated-span signal — the exact-substring-dedup
    * family (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): every stride-1 window of `w` tokens is hashed,
    * a span is DUPLICATED when the same window text occurs in ≥ 2
    * distinct documents, and per document we report both the share of
    * spans that are duplicated and the share of TOKENS covered by at
    * least one duplicated span (the paper's removal unit). Differs from
    * [[paragraphDedup]] (fixed-width, non-overlapping, corpus survivor
    * choice) in that overlapping windows catch duplicated passages at
    * ANY alignment, not just on segment boundaries.
    *
    * Scale posture: stride-1 windows cost O(tokens · w) hash input per
    * document — the verifiable-everywhere md5 form; the repo's
    * RollingMinHash expression ([[rollingFingerprints]]) is the O(tokens)
    * rolling-hash alternative when w grows. Every shuffle is keyed on a
    * 16-byte uniform md5 or on doc_id — no skew can reach a blocking
    * key, nothing is all-pairs; the coverage explode multiplies only
    * DUPLICATED spans by w, which on a mostly-clean corpus is a sliver.
    * Token coverage is an exact distinct-position count, integer until
    * the two final divisions (each a single correctly-rounded IEEE op,
    * so the oracle hashes exactly). */
  def dupSpans(documents: DataFrame, w: Int = 8): DataFrame = {
    val toks = tokens(col("text"))
    val wins = when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - (w - 1)),
          i => md5(concat_ws(" ", slice(toks, i, lit(w))).cast("binary"))))
      .otherwise(array().cast("array<string>"))
    val occ = documents
      .select(col("doc_id"), posexplode(wins).as(Seq("pos", "h")))
    val shared = occ.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("h"), lit(1L).as("dup"))
    val flagged = occ.join(shared, Seq("h"), "left")
    val spanAgg = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("dup"), lit(0L))).as("dup_spans"))
    val covered = flagged.filter(col("dup").isNotNull)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("tok")).as("dup_tokens"))
    documents.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(spanAgg, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("dup_spans"), col("dup_tokens"),
        when(col("n_spans") === 0L, lit(0.0))
          .otherwise(col("dup_spans").cast("double") / col("n_spans"))
          .as("dup_span_frac"),
        (col("dup_tokens").cast("double") / col("n_tokens"))
          .as("dup_token_frac"))
  }

  /** UNBOUNDED exact-substring dedup (the rest of the Lee et al.
    * family): maximal duplicated substrings of ANY length ≥ `w`
    * tokens per document pair — the "find the 6,000-token duplicated
    * boilerplate block" case [[dupSpans]]'s fixed-width windows only
    * report as w-sized fragments. The relational recovery is the
    * DIAGONAL island merge: a substring of length L shared by docs
    * a and b at offsets (sa, sb) puts equal w-token windows at
    * (sa+i, sb+i) for every i ≤ L−w — all on one diagonal
    * d = pos_b − pos_a — so grouping window matches by
    * (doc_a, doc_b, d) and merging CONSECUTIVE pos_a runs (the
    * lag-gap machinery of [[decontaminateSpansFrom]], generalized
    * doc×doc) reconstructs each maximal shared substring as a unit:
    * start/end in both docs, length = run + w − 1. Positions are
    * 0-based token offsets, end inclusive.
    *
    * `occCap` bounds the blocked self-join: a window hash occurring
    * n times corpus-wide fans out to ≤ n² matches, so hashes with
    * more than `occCap` occurrences — corpus-pervasive boilerplate —
    * are EXCLUDED here (their pair set is quadratic by nature; the
    * corpus-survivor path for them is [[paragraphDedup]]'s canonical
    * pick, which never enumerates pairs). The cap is a recall bound,
    * not a correctness bound, and is stated per query.
    *
    * Scale posture: the only self-join is equi on the 16-byte uniform
    * window hash with per-key fan-out ≤ occCap² — blocked by
    * construction, never corpus²; the island windows partition by
    * (doc_a, doc_b, diag) — pair-bounded groups; every value is an
    * integer so the oracle hashes exactly. */
  def maximalDupSpans(documents: DataFrame, w: Int = 8,
      occCap: Int = 64): DataFrame = {
    // pin the window-occurrence frame: it feeds BOTH the eligibility
    // aggregate and the hits join, and unpinned the stride-1 explode +
    // per-window md5 ran twice per execution (measured as two ~5 s-CPU
    // duplicate stages in text_dup_islands' profile — the single most
    // expensive subtree of the whole substring family). The lazy
    // localCheckpoint computes it once; both consumers read the blocks.
    val occ = winOcc(documents, w).localCheckpoint(false)
    val eligible = occ.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"),
        count(lit(1)).as("nocc"))
      .filter(col("ndocs") >= 2 && col("nocc") <= occCap)
      .select(col("h"))
    // hits stays pinned too: it feeds both sides of the pair self-join
    // below, and its blocks are far smaller than occ's (eligible
    // windows only) — the paragraphDedup pattern
    val hits = occ.join(eligible, Seq("h")).localCheckpoint(false)
    islandize(hits.select(col("h"), col("doc_id").as("doc_a"),
        col("pos").as("pos_a"))
      .join(hits.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pos_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b")), w)
  }

  /** Maximal duplicated spans BETWEEN two window-occurrence frames
    * (both in [[winOcc]]'s (doc_id, pos, h) shape) — the cross-corpus
    * form of [[maximalDupSpans]] the streaming substring-dedup ingest
    * probes a STORED window index with: occA is the first-occurrence
    * side (kept), occB the later side (excised). Per-side occCap
    * bounds the per-hash fan-out at occCap² exactly like the batch
    * form; no doc-id ordering is applied — the caller's frame split
    * IS the keep policy. */
  private[graft] def crossDupSpans(occA: DataFrame, occB: DataFrame,
      w: Int = 8, occCap: Int = 64): DataFrame =
    crossDupSpansWithCounts(occA,
      occA.groupBy(col("h")).agg(count(lit(1)).as("nocc")),
      occB, w, occCap)

  /** [[crossDupSpans]] with the A-side per-hash occurrence counts
    * PRECOMPUTED — the streaming substring ingest maintains them
    * incrementally (`wincnt/`), so the stored-side cap filter reads a
    * pre-aggregated table instead of re-counting every stored window
    * occurrence per micro-batch. `cntA` is (h, nocc); the cap is
    * applied as an ANTI join on hashes KNOWN to exceed it, so a hash
    * absent from (or lagging in) the maintained counts stays eligible
    * — the maintained table can only undercount (its append trails
    * the wins append), and undercounting must widen the probe, never
    * silently drop recall. */
  private[graft] def crossDupSpansWithCounts(occA: DataFrame,
      cntA: DataFrame, occB: DataFrame, w: Int, occCap: Int): DataFrame = {
    val cappedA = occA.join(
      cntA.filter(col("nocc") > occCap).select(col("h")),
      Seq("h"), "left_anti")
    val cappedB = occB.join(
      occB.groupBy(col("h")).agg(count(lit(1)).as("nocc"))
        .filter(col("nocc") <= occCap).select(col("h")), Seq("h"))
    islandize(cappedA.select(col("h"), col("doc_id").as("doc_a"),
        col("pos").as("pos_a"))
      .join(cappedB.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pos_b")), Seq("h")), w)
  }

  /** The diagonal island merge shared by [[maximalDupSpans]] and
    * [[crossDupSpans]]: (h, doc_a, pos_a, doc_b, pos_b) window
    * matches in, maximal per-pair spans out. */
  private def islandize(matched: DataFrame, w: Int): DataFrame = {
    val wDiag = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    matched
      .select(col("doc_a"), col("doc_b"),
        (col("pos_b") - col("pos_a")).as("diag"), col("pos_a"))
      .withColumn("brk",
        when(col("pos_a") - lag(col("pos_a"), 1).over(wDiag) === 1, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(
        wDiag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pos_a")).as("start_a"),
        max(col("pos_a")).as("last_w"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_a"), col("doc_b"),
        col("start_a").cast("long").as("start_a"),
        (col("last_w") + (w - 1)).cast("long").as("end_a"),
        (col("start_a") + col("diag")).cast("long").as("start_b"),
        (col("last_w") + col("diag") + (w - 1)).cast("long").as("end_b"),
        (col("last_w") - col("start_a") + w).cast("long").as("span_tokens"),
        col("n_windows"))
  }

  /** (doc_id, pos, h): every stride-1 w-token window's md5, 0-based
    * start position — the occurrence frame [[maximalDupSpans]],
    * [[dupSpanAudit]] and the streaming substring-dedup ingest's
    * stored index share. */
  private[graft] def winOcc(documents: DataFrame, w: Int): DataFrame = {
    val toks = tokens(col("text"))
    val wins = when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - (w - 1)),
          i => md5(concat_ws(" ", slice(toks, i, lit(w))).cast("binary"))))
      .otherwise(array().cast("array<string>"))
    documents.select(col("doc_id"), posexplode(wins).as(Seq("pos", "h")))
  }

  /** The occCap recall bound of [[maximalDupSpans]], MEASURED instead
    * of silent: one row counting the shared window hashes the span
    * recovery saw (`n_hashes_shared`), how many it EXCLUDED for
    * exceeding the occurrence cap (`n_hashes_capped`) and the
    * occurrences inside them (`n_occ_capped`) — nonzero means
    * corpus-pervasive boilerplate exists that the pair path skipped
    * and [[paragraphDedup]]'s canonical-survivor pass should handle.
    * A pipeline gates on this row before trusting the span report.
    *
    * Scale posture: the shared [[winOcc]] scan, one hash-keyed
    * aggregate (16-byte uniform key), one global 1-row reduce. */
  def dupSpanAudit(documents: DataFrame, w: Int = 8,
      occCap: Int = 64): DataFrame =
    winOcc(documents, w)
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"),
        count(lit(1)).as("nocc"))
      .filter(col("ndocs") >= 2)
      .agg(count(lit(1)).as("n_hashes_shared"),
        sum(when(col("nocc") > occCap, 1L).otherwise(0L))
          .as("n_hashes_capped"),
        sum(when(col("nocc") > occCap, col("nocc")).otherwise(0L))
          .as("n_occ_capped"))
      .select(col("n_hashes_shared"),
        coalesce(col("n_hashes_capped"), lit(0L)).as("n_hashes_capped"),
        coalesce(col("n_occ_capped"), lit(0L)).as("n_occ_capped"))

  /** Per-document MAXIMAL duplicated intervals — [[maximalDupSpans]]'
    * pair spans projected onto each document and interval-merged
    * (overlapping or token-adjacent spans from ANY partner coalesce),
    * so each output row is one maximal run of tokens covered by
    * cross-document duplication: the removal unit an excision pass
    * would cut. The merge is the classic running-max window: a new
    * island starts where start > max(end so far) + 1, islands close
    * over overlap AND adjacency. `n_sources` counts the pair spans
    * the island absorbed (≥ 2 means multiple partners or multiple
    * alignments fused).
    *
    * Scale posture: inherits [[maximalDupSpans]]' blocked joins; the
    * merge windows partition by doc_id — document-bounded, and only
    * DUPLICATED intervals enter them. */
  def maximalDupIslands(documents: DataFrame, w: Int = 8,
      occCap: Int = 64): DataFrame = {
    val spans = maximalDupSpans(documents, w, occCap)
    mergeIntervals(
      spans.select(col("doc_a").as("doc_id"),
          col("start_a").as("s"), col("end_a").as("e"))
        .unionAll(spans.select(col("doc_b"), col("start_b"), col("end_b"))))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"),
        col("n_sources"))
  }

  /** Classic per-key interval merge (running-max window): coalesce
    * (doc_id, s, e) rows overlapping or token-adjacent into maximal
    * (doc_id, start_tok, end_tok, n_sources) islands. Shared by
    * [[maximalDupIslands]] and [[dedupExcise]]; partitions are
    * doc-bounded and only duplicated intervals enter them. */
  private def mergeIntervals(ivals: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("s"), col("e"))
    ivals
      .withColumn("prev_max", max(col("e")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("s") <= coalesce(col("prev_max"), lit(-1L)) + 1, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("start_tok"), max(col("e")).as("end_tok"),
        count(lit(1)).as("n_sources"))
  }

  /** Lee et al.'s REMOVAL step over the maximal-span recovery: every
    * duplicated substring keeps its FIRST occurrence (the lower
    * doc_id of each pair — `doc_a < doc_b` by construction) and is
    * EXCISED from every later one, so the corpus retains exactly one
    * copy of each recovered block. Output per document: original
    * token count, tokens removed, the rebuilt text (byte-identical
    * pass-through for untouched docs) and its md5 — the same
    * excision surface as [[decontaminateExciseAgainst]], driven by
    * the dedup pair spans instead of a benchmark.
    *
    * Scale posture: inherits [[maximalDupSpans]]' blocked joins; the
    * cut table is collect_list'd per doc (bounded by doc length) and
    * the rebuild is one codegen'd filter HOF over the token array —
    * clean docs never explode. */
  def dedupExcise(documents: DataFrame, w: Int = 8,
      occCap: Int = 64): DataFrame = {
    val spans = maximalDupSpans(documents, w, occCap)
    exciseIntervals(documents,
      spans.select(col("doc_b").as("doc_id"),
        col("start_b").as("s"), col("end_b").as("e")))
  }

  /** Cut the (merged) `ivals` (doc_id, s, e) token intervals out of
    * each document — the rebuild stage [[dedupExcise]] and the
    * streaming substring ingest share: one codegen'd filter HOF per
    * doc, untouched docs byte-identical pass-through. */
  private[graft] def exciseIntervals(documents: DataFrame,
      ivals: DataFrame): DataFrame = {
    val cuts = mergeIntervals(ivals)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok")))
        .as("cut"))
    val toks = tokens(col("text"))
    val kept = when(col("cut").isNull, toks).otherwise(
      filter(toks, (_, i) => !exists(col("cut"), c =>
        i >= c.getField("start_tok") && i <= c.getField("end_tok"))))
    documents.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(kept)).cast("long").as("n_removed"),
        concat_ws(" ", kept).as("clean_text"))
      .withColumn("clean_md5", md5(col("clean_text").cast("binary")))
  }

  /** Hashed-n-gram linear quality model — the fastText-classifier
    * INFERENCE shape: each bigram hashes into one of `buckets` feature
    * slots, each slot carries an integer weight, and the document score
    * is the mean bucket weight. The weight table here is a
    * deterministic pseudo-model (Knuth-hash of the bucket id, mapped
    * into [-1000, 1000]) standing in for trained weights — stated
    * openly, like [[benchmarkContamination]]'s synthetic eval set; a
    * real model swaps in a broadcast-joined weight table (buckets ≤ a
    * few million rows — always broadcastable) with identical shape.
    * Because the pseudo-weights are a pure function of the bucket id,
    * the whole score inlines into ONE codegen'd expression: zero
    * shuffle, zero join, one corpus scan — the cheapest possible plan,
    * which is exactly what a 100-TB quality-filter pass must be.
    *
    * Integer sums; the only float is the final mean, so the oracle
    * hashes exactly. Bucket ids come from md5 (engine-portable, like
    * [[hashSample]]); weights stay in BIGINT range (bucket < 4096 →
    * products ≤ 4096·2654435761 ≈ 1.1e13). */
  def qualityModelScore(documents: DataFrame, buckets: Int = 4096): DataFrame = {
    val toks = tokens(col("text"))
    val grams = transform(
      sequence(lit(1), greatest(size(toks) - 1, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(2))))
    val bucket = (g: Column) =>
      conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("bigint") % buckets
    val weight = (g: Column) =>
      (bucket(g) * 2654435761L) % 4294967296L % 2001L - 1000L
    documents.select(col("doc_id"),
        aggregate(grams, lit(0L), (acc, g) => acc + weight(g)).as("score_sum"),
        size(grams).cast("long").as("n_features"))
      .select(col("doc_id"), col("n_features"), col("score_sum"),
        (col("score_sum").cast("double") / (col("n_features") * 1000L))
          .as("model_score"))
  }

  /** Top-K terms per document by term frequency — explode → tf groupBy →
    * df join → per-doc ranking; the canonical term-statistics shuffle.
    * Ranking is fully tie-broken (tf desc, df asc, term asc) and all
    * outputs are integers/strings, so the oracle hashes exactly. The df
    * side is a modest-vocabulary dimension — broadcastable at scale. */
  def topTerms(documents: DataFrame, k: Int = 3): DataFrame =
    topTermsFrom(termFrequencies(documents), k)

  /** [[topTerms]] over a precomputed [[termFrequencies]] frame. */
  def topTermsFrom(tf: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
  }

  /** Sparse-vector near-dup pairs over the INVERTED INDEX — the
    * lexical complement of the dense-embedding ANN family: document
    * similarity as tf-vector cosine, with candidate generation by
    * shared RARE terms (2 ≤ df ≤ dfMax) instead of minhash bands.
    * This is the posting-list self-join every search engine's
    * "more-like-this" runs, and it catches topical near-dups whose
    * shingle Jaccard is low (same vocabulary, different order).
    *
    * Exactness without floats: cosine² is a RATIONAL of integer tf
    * sums — (Σ tf_a·tf_b)² / (Σtf_a² · Σtf_b²) — so the emitted score
    * is integer milli-cos² via `div`: bit-identical cross-engine, and
    * cos² ≥ t² ⇔ cos ≥ t on nonnegative tf vectors. Overflow bound:
    * dot²·1000 needs dot < 3·10⁶ — docs of ~50k tokens of one
    * repeated term; promote to DECIMAL beyond that (stated trade,
    * same as the moments query).
    *
    * Scale posture — candidates come from the SAME uniform minhash
    * band-0 blocking index as the Jaccard / containment / edit-
    * distance families ("one LSH index, many verify measures"): band
    * keys are hash outputs, so block sizes track true-duplicate
    * density, not vocabulary statistics. The first cut of this
    * operator blocked on rare terms (df ≤ n/16) instead — and the 10×
    * scale probe KILLED it: this synthetic corpus draws from a small
    * dense vocabulary whose every df grows linearly with corpus size,
    * so the corpus-relative cap admits (n/16)²-sized posting
    * self-joins — quadratic candidate growth, measured as a probe
    * timeout. On a real Zipf corpus a small CONSTANT df cap (10-50)
    * is the production rare-term setting; on any corpus the band
    * index is the shape that survives, so it is the shape shipped.
    * The verify dot product joins the candidate pairs back through
    * the posting frame on (doc, term) — hash-partitioned aggregates
    * over already-aggregated frames. */
  def sparseCosineNearDupsFrom(tf: DataFrame, signatures: DataFrame,
      milliCos2Min: Long = 250L): DataFrame = {
    val cand = DedupOps.band0Candidates(signatures)
    val norms = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("norm2"))
    cand
      .join(tf.select(col("doc_id").as("doc_a"), col("term"),
        col("tf").as("tf_a")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("term"),
        col("tf").as("tf_b")), Seq("doc_b", "term"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("norm2").as("na")),
        Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("norm2").as("nb")),
        Seq("doc_b"))
      .withColumn("milli_cos2", expr("(dot * dot * 1000) div (na * nb)"))
      .filter(col("milli_cos2") >= milliCos2Min)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("milli_cos2"))
  }

  /** Distributed batch-perceptron TRAINING — the second model-training
    * loop (after [[bpeTrainMerges]]): learn integer weights separating
    * English from non-English documents on surface statistics, with
    * the classic batch perceptron update w ← w + Σ_{misclassified} y·x
    * run as one map-side-combinable aggregate per round. Everything is
    * 64-bit integer (features are counts, margins are dot products,
    * updates are sums), so the full training trajectory — weights AND
    * mistake counts per round — hash-gates against the SQL oracle
    * exactly: a bit-reproducible training run, the property real
    * distributed training infra fights for.
    *
    * Scale posture: the feature frame is computed once (one corpus
    * scan, then localCheckpoint); each round is ONE job — a crossJoin
    * with the broadcast 1-row weight frame and a conditional-sum
    * aggregate (partial+final, map-side combined). Rounds are
    * inherently sequential (w_{t+1} needs w_t), the same bounded-
    * barrier posture as BPE/PageRank/k-core. */
  def perceptronTrain(documents: DataFrame, rounds: Int = 3): DataFrame = {
    val toksCol = split(col("text"), " ")
    val feats = documents.select(
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      lit(1L).as("x0"),
      size(toksCol).cast("long").as("x1"),
      expr("length(text) div 10").as("x2"),
      expr("size(filter(split(text, ' '), t -> length(t) > 6))")
        .cast("long").as("x3"))
      .localCheckpoint()
    var w = feats.sparkSession.range(1).select(
      lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"), lit(0L).as("w3"))
      .localCheckpoint()
    val out = (1 to rounds).map { r =>
      val margin = col("y") *
        (col("w0") * col("x0") + col("w1") * col("x1") +
          col("w2") * col("x2") + col("w3") * col("x3"))
      def upd(i: Int) =
        sum(when(margin <= 0, col("y") * col(s"x$i")).otherwise(lit(0L)))
          .as(s"d$i")
      val step = feats.crossJoin(broadcast(w))
        .agg(upd(0), upd(1), upd(2), upd(3),
          sum(when(margin <= 0, 1L).otherwise(0L)).as("n_mistakes"))
        .crossJoin(broadcast(w))
        .select(
          (col("w0") + col("d0")).as("w0"), (col("w1") + col("d1")).as("w1"),
          (col("w2") + col("d2")).as("w2"), (col("w3") + col("d3")).as("w3"),
          col("n_mistakes"))
        .localCheckpoint() // 1 row; pins round t for round t+1 and the union
      w = step.select(col("w0"), col("w1"), col("w2"), col("w3"))
      step.select(lit(r).as("round"), col("n_mistakes"),
        col("w0"), col("w1"), col("w2"), col("w3"))
    }
    out.reduce(_ unionAll _)
  }

  /** Distributed BPE merge-rule TRAINING — the actual tokenizer-
    * training loop (Sennrich et al. 2016, "Neural Machine Translation
    * of Rare Words with Subword Units") run as Spark aggregates: per
    * round, count adjacent token-pair frequencies corpus-wide, pick
    * the most frequent pair (ties broken by pair string — both engines
    * binary-collate ASCII identically), and merge it greedily
    * left-to-right inside every word. Emits the learned merge table
    * (rank, pair, merged token, corpus pair count) — the artifact a
    * real tokenizer ships.
    *
    * Scale posture — why this trains on 100 TB: the corpus is scanned
    * exactly ONCE (the word-frequency count, map-side combinable);
    * every merge round then operates on the VOCAB-sized (word, freq)
    * frame — the same word-level pre-tokenization real BPE trainers
    * use, orders of magnitude smaller than the corpus and independent
    * of corpus growth beyond vocabulary saturation. Per round: one
    * pair-count aggregate + top-1 (a 1-row frame, localCheckpointed so
    * the final union never re-derives it), then the greedy merge as a
    * per-row `aggregate()` fold with the pair broadcast in — two
    * driver barriers per round, inherent to the sequential dependence
    * of merge r+1 on merge r (the same bounded-rounds posture as
    * [[Graph.pageRank]]).
    *
    * The fold IS one-pass greedy left-to-right ("a a a" + (a,a) →
    * ["aa","a"], "a b a b" + (a,b) → ["ab","ab"]): a merged token can
    * never create a NEW occurrence of its own pair (a+b ≠ a and
    * a+b ≠ b, tokens are non-empty), so single-pass and
    * repeat-until-fixpoint coincide — the oracle exploits the same
    * invariant. */
  def bpeTrainMerges(documents: DataFrame, rounds: Int = 3): DataFrame = {
    val words = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // (?!^) splits before every char — but it also matches at END of
      // string, and Spark's split keeps trailing empties (Java split
      // with limit -1), so strip the empty edge token explicitly
      .select(expr("filter(split(word, '(?!^)'), t -> t != '')").as("toks"),
        col("freq"))
    var cur = words.localCheckpoint()
    val mergesOut = (1 to rounds).map { r =>
      val best = cur
        .select(col("freq"), explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), " +
            "slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(1)
        .select(
          split(col("pair"), " ").getItem(0).as("bp_a"),
          split(col("pair"), " ").getItem(1).as("bp_b"),
          col("pair_count"))
        .localCheckpoint() // 1 row; pins the round's winner for the union
      cur = cur.crossJoin(broadcast(best))
        .select(expr(
          """aggregate(toks, cast(array() as array<string>),
            |  (acc, t) -> case when size(acc) > 0
            |      and element_at(acc, -1) = bp_a and t = bp_b
            |    then concat(slice(acc, 1, size(acc) - 1),
            |                array(concat(bp_a, bp_b)))
            |    else concat(acc, array(t)) end)""".stripMargin).as("toks"),
          col("freq"))
        .localCheckpoint()
      best.select(lit(r).as("merge_rank"),
        col("bp_a").as("pair_left"), col("bp_b").as("pair_right"),
        concat(col("bp_a"), col("bp_b")).as("merged"), col("pair_count"))
    }
    mergesOut.reduce(_ unionAll _)
  }

  /** BPE APPLICATION — tokenize the corpus with a trained merge table
    * (the other half of [[bpeTrainMerges]]: training ships the rules,
    * this is the op that actually runs on the 100 TB). Per document:
    * the word count, the total BPE token count, and the first word's
    * token sequence (a value-dense probe of the actual segmentation,
    * not just its length).
    *
    * Scale posture — ENCODE THE VOCABULARY, NOT THE CORPUS: merge
    * rules apply per word, so each DISTINCT word is folded once
    * (vocab-sized work, saturating as the corpus grows) and the
    * corpus-sized side only pays an explode + equi-join against the
    * encoded vocab + one grouped sum — no per-document iterative work
    * anywhere, and the join key (word) is the natural hash key.
    *
    * Plan depth is O(1) IN THE RULE COUNT: the merge table is
    * collected once (model-artifact-sized by contract — a real
    * tokenizer ships 30k–100k merges, a few MB; the collect is the
    * codebook-broadcast posture, not a corpus collect), broadcast to
    * executors, and applied inside ONE typed `mapPartitions` over the
    * distinct-vocab frame — rules in rank order, each a single greedy
    * left-to-right pass, bit-identical to the training fixpoint for
    * in-vocab words. The earlier form folded one nested `aggregate()`
    * Column per rule (plan depth O(#rules)), which stalls Catalyst
    * analysis/codegen at real rule counts long before data size
    * matters; the per-word executor loop has no such wall (pinned by
    * the ≥500-merge ExtOpsSpec case). A per-word token HashSet skips
    * rules whose operands are absent, so typical per-word cost is
    * O(|word| + matching rules), not O(#rules). mapPartitions is
    * justified here exactly as in the binary codecs: a rank-ordered
    * sequential fold with data-dependent rule skipping has no
    * bounded-depth Catalyst expression form. */
  def bpeEncodeFrom(documents: DataFrame, merges: DataFrame): DataFrame = {
    val encoded = bpeEncodeVocab(documents, merges)
    val dw = documents.select(col("doc_id"),
      expr("filter(split(text, ' '), w -> w != '')").as("ws"))
    val counts = dw
      .select(col("doc_id"), explode(col("ws")).as("word"))
      .join(encoded, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(size(col("toks"))).as("nt"))
    // try_element_at: ANSI element_at THROWS on the empty array an
    // empty-text document produces (caught by BpePropertySpec's
    // empty-doc case; the null word left-joins to null head_tokens)
    dw.select(col("doc_id"), try_element_at(col("ws"), lit(1)).as("word"))
      .join(encoded, Seq("word"), "left")
      .select(col("doc_id"), array_join(col("toks"), "|").as("head_tokens"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("head_tokens"),
        coalesce(col("nt"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("nw"), lit(0L)).as("n_words"))
  }

  /** The vocab-encode half of [[bpeEncodeFrom]], reusable on its own:
    * every DISTINCT word of the corpus folded through the trained
    * merge rules once → `(word, toks)`. Vocab-sized work that
    * saturates as the corpus grows; the merge table collects to the
    * driver (model-artifact-sized by contract) and applies inside ONE
    * mapPartitions in rank order — O(1) plan depth at any rule count. */
  def bpeEncodeVocab(documents: DataFrame, merges: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val rules: Array[(String, String)] = merges
      .orderBy(col("merge_rank"))
      .select(col("pair_left"), col("pair_right"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bcRules = spark.sparkContext.broadcast(rules)
    val vocab = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
      .as[String]
    vocab.mapPartitions { it =>
      val rs = bcRules.value
      it.map { word =>
        // seed: one token per code point — same seeding as the
        // trainer's split(word, '(?!^)') (regex positions are between
        // code points, never inside a surrogate pair)
        var toks: Array[String] =
          word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        val present = new java.util.HashSet[String]()
        toks.foreach(present.add)
        var ri = 0
        while (ri < rs.length) {
          val (a, b) = rs(ri)
          if (present.contains(a) && present.contains(b)) {
            // one greedy left-to-right pass == fixpoint for this rule
            // (a merged token never recreates its own pair)
            val buf = new scala.collection.mutable.ArrayBuffer[String](toks.length)
            var i = 0
            var merged = false
            while (i < toks.length) {
              if (buf.nonEmpty && buf.last == a && toks(i) == b) {
                buf(buf.length - 1) = a + b
                merged = true
              } else buf += toks(i)
              i += 1
            }
            if (merged) {
              toks = buf.toArray
              present.clear()
              toks.foreach(present.add)
            }
          }
          ri += 1
        }
        (word, toks.toSeq)
      }
    }.toDF("word", "toks")
  }

  /** Tokenize the corpus to BPE token-ID sequences — the step that
    * actually feeds a trainer: per document, the total token count and
    * the md5 of its position-ordered id sequence (the
    * [[vocabEncodeFrom]] ids_md5 convention — value-dense proof of the
    * exact id stream without shipping it).
    *
    * `merges` and `vocab` are the persisted tokenizer's two frames
    * ([[TokenizerStore.merges]] / [[TokenizerStore.vocab]]). Ids
    * resolve through the vocab with a min-id dedupe first: two
    * different merges CAN concatenate to the same surface string
    * ("ab"+"c" and "a"+"bc"), and a real tokenizer maps the string to
    * its first id rather than emitting two.
    *
    * Scale posture — the [[bpeEncodeFrom]] discipline end-to-end:
    * per-word id strings precompute at VOCAB scale (fold + posexplode
    * + broadcast vocab probe + per-word collect, all saturating with
    * vocabulary); the corpus side pays one word explode, one equi join
    * against the word→ids frame, and one per-doc ordered collect —
    * document-length bounded, the vocabEncodeFrom posture. */
  def bpeIdsFrom(documents: DataFrame, merges: DataFrame,
      vocab: DataFrame): DataFrame = {
    val ids = vocab.groupBy(col("token"))
      .agg(min(col("token_id")).as("token_id"))
    val wordIds = bpeEncodeVocab(documents, merges)
      .select(col("word"), posexplode(col("toks")).as(Seq("tpos", "token")))
      .join(broadcast(ids), Seq("token"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_toks"),
        concat_ws(",", transform(
          sort_array(collect_list(struct(col("tpos"), col("token_id")))),
          e => e.getField("token_id").cast("string"))).as("ids_str"))
    val dw = documents.select(col("doc_id"),
      expr("filter(split(text, ' '), w -> w != '')").as("ws"))
    val docIds = dw
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("wpos", "word")))
      .join(wordIds, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_toks")).as("nt"),
        concat_ws(",", transform(
          sort_array(collect_list(struct(col("wpos"), col("ids_str")))),
          e => e.getField("ids_str"))).as("ids"))
    dw.select(col("doc_id")).join(docIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nt"), lit(0L)).as("n_bpe_tokens"),
        md5(coalesce(col("ids"), lit("")).cast("binary")).as("ids_md5"))
  }

  /** Tokenizer FERTILITY evaluation — the standard multilingual
    * tokenizer health metric (tokens per word, a.k.a. fertility, and
    * its inverse compression in characters per token), per language,
    * computed through the SAME trained merge table the corpus ships
    * with. A tokenizer trained on an English-heavy mix fragments other
    * languages into more tokens per word; this table is how a pipeline
    * SEES that before a trainer pays for it (the metric reported by
    * every multilingual tokenizer study since mBERT).
    *
    * Integer milli-ratios via floor division (non-negative operands)
    * so every column hash-gates. Scale posture: the encode runs on the
    * DISTINCT vocabulary ([[bpeEncodeVocab]] — vocab-sized, shared
    * with the encode/ids queries); the corpus side pays one explode +
    * equi join + a per-language aggregate. */
  def tokenizerFertility(documents: DataFrame,
      merges: DataFrame): DataFrame = {
    val wordToks = bpeEncodeVocab(documents, merges)
      .select(col("word"), size(col("toks")).cast("bigint").as("n_toks"),
        length(col("word")).cast("bigint").as("n_chars_w"))
    documents
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), w -> w != '')")).as("word"))
      .join(wordToks, Seq("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_bpe_tokens"),
        sum(col("n_chars_w")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        expr("(n_bpe_tokens * 1000) div n_words").as("fertility_milli"),
        expr("(n_chars * 1000) div n_bpe_tokens")
          .as("chars_per_token_milli"))
  }

  /** DETOKENIZE — decode the per-word token-id sequences back through
    * the persisted vocabulary and prove the tokenizer is lossless:
    * per document, the reassembled text must equal the
    * whitespace-normalized original (BPE merges only concatenate
    * adjacent tokens and the seeding is one token per code point, so
    * concat(tokens(w)) = w for every word; the oracle asserts exactly
    * this theorem, so a decode bug — id collision, ordering slip,
    * dropped token — breaks the hash). Ids resolve through the same
    * min-id surface dedupe as [[bpeIdsFrom]]; the id→token direction
    * stays injective because the dedupe only DROPS duplicate-surface
    * rows, it never aliases two surfaces to one id.
    *
    * The decode rides the word-positioned id frame rather than the
    * flat per-doc id stream deliberately: this tokenizer has no
    * word-boundary marker (no '</w>' suffix / 'Ġ' prefix), so the flat
    * stream is not boundary-recoverable — the scheme a production
    * tokenizer would add; documented here as the boundary of the
    * surface, not hidden.
    *
    * Scale posture — the [[bpeEncodeFrom]] discipline: encode AND
    * decode both run at VOCAB scale (fold, id probe, id→token probe —
    * all saturating with vocabulary); the corpus side pays one word
    * explode, one equi join against the decoded-word frame, and one
    * per-doc ordered reassembly. */
  def bpeDecodeRoundtrip(documents: DataFrame, merges: DataFrame,
      vocab: DataFrame): DataFrame = {
    val ids = vocab.groupBy(col("token"))
      .agg(min(col("token_id")).as("token_id"))
    // word → ordered id sequence (the bpeIdsFrom frame, ids kept live)
    val wordIds = bpeEncodeVocab(documents, merges)
      .select(col("word"), posexplode(col("toks")).as(Seq("tpos", "token")))
      .join(broadcast(ids), Seq("token"))
      .select(col("word"), col("tpos"), col("token_id"))
    // DECODE: ids back to surfaces, reassembled in token order
    val decoded = wordIds
      .join(broadcast(ids.select(col("token_id"), col("token"))),
        Seq("token_id"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_toks"),
        concat_ws("", transform(
          sort_array(collect_list(struct(col("tpos"), col("token")))),
          e => e.getField("token"))).as("decoded_word"))
    val dw = documents.select(col("doc_id"),
      expr("filter(split(text, ' '), w -> w != '')").as("ws"))
    val docDec = dw
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("wpos", "word")))
      .join(decoded, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_toks")).as("nt"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("wpos"), col("decoded_word")))),
          e => e.getField("decoded_word"))).as("decoded"))
    dw.select(col("doc_id"), array_join(col("ws"), " ").as("norm"))
      .join(docDec, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nt"), lit(0L)).as("n_bpe_tokens"),
        md5(coalesce(col("decoded"), lit("")).cast("binary"))
          .as("decoded_md5"),
        (coalesce(col("decoded"), lit("")) === col("norm"))
          .as("roundtrip_ok"))
  }
}
