package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (array<float>, 64-dim):
  * brute-force top-k as the exact baseline, a hyperplane-LSH bucketed
  * near-duplicate variant as the scale path, and a label-partitioned
  * (IVF-style coarse quantizer) top-k.
  *
  * Determinism across engines: vectors are quantized to integers
  * (round(x·1000)) so dot products and norms are exact 64-bit sums —
  * independent of accumulation order — and cosine is a single IEEE
  * double division by a correctly-rounded sqrt, bit-identical in the
  * JVM and DuckDB. Float-sum nondeterminism never enters the plan.
  *
  * Scale posture: the query side of top-k is tiny and broadcast; the
  * big side streams. The LSH variant buckets on a 16-bit signature so
  * the self-join is equi, never a cross product. The IVF variant
  * prunes the scan to the query's own partition (label).
  */
object EmbedOps {

  /** Integer-quantized copy of the embedding: round(x·1000) per dim. */
  private def quantized(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product of two quantized vectors. */
  private def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  private def qnorm2(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x)

  /** Cosine from exact integer dot/norms: one IEEE sqrt + one division. */
  def cosine(qa: Column, qb: Column): Column =
    qdot(qa, qb).cast("double") /
      sqrt(qnorm2(qa).cast("double") * qnorm2(qb).cast("double"))

  /** Cosine from a per-pair dot and per-VECTOR precomputed squared norms
    * (the norms are attributes from below the join — recomputing them
    * inside the pair stage triples the interpreted per-pair HOF work).
    * Arithmetic identical to the oracle: integer product, one cast, one
    * sqrt, one division. */
  private def cosineFromParts(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / sqrt((n2a * n2b).cast("double"))

  /** Brute-force top-k cosine neighbors for the query subset
    * (vec_id % 97 == 0): broadcast the quantized queries against the
    * full table, rank per query with a deterministic tie-break. */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val base = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val queries = base.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("n2").as("n2q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qq"), col("q")), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** Generic kNN JOIN — each row of `left` (the query set) joined to
    * its `k` nearest rows of `right` (the corpus) by quantized cosine,
    * ties broken on neighbor id: the relational form of
    * [[bruteForceTopK]] with caller-supplied sides, and the engine
    * behind the `knn_join` SQL TVF ([[graft.plans.KnnSql]]). Both
    * sides expose the same id/vector column names; output is
    * (query_id, rank, neighbor_id, cosine). Self-matches are NOT
    * excluded — a corpus row that is also a query row ranks first at
    * cosine 1.0; callers joining a table to itself filter
    * `query_id != neighbor_id` if they want strict neighbors.
    *
    * Scale posture: the LEFT side is broadcast by contract (a query
    * set, not a second corpus — the same asymmetry every ANN serving
    * path assumes); the corpus side streams through one scan, and the
    * per-query rank ≤ k rewrites to WindowGroupLimit so only k rows
    * per (query, task) reach the exchange. Quantized integer
    * dot/norms keep the score engine-exact (the hash-gated family),
    * one IEEE sqrt + divide at the end. */
  def knnJoin(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = left.select(col(idCol).as("query_id"),
      quantized(col(vecCol)).as("qq"))
      .withColumn("n2q", qnorm2(col("qq")))
    val c = right.select(col(idCol).as("neighbor_id"),
      quantized(col(vecCol)).as("qn"))
      .withColumn("n2n", qnorm2(col("qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qq"), col("qn")), col("n2q"), col("n2n")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"))
  }

  /** Max-inner-product top-k (MIPS) — the RECOMMENDER retrieval
    * objective, distinct from cosine: dot product rewards magnitude
    * (a popular item with a long vector wins ties a unit-normalized
    * search would not), which is exactly what matrix-factorization
    * scores mean. Same broadcast-queries × corpus-scan shape as
    * [[bruteForceTopK]], but the score is the PURE INTEGER quantized
    * dot — no sqrt, no division, no float anywhere, so the entire
    * ranking hash-gates with zero IEEE caveats.
    *
    * Scale path, documented: MIPS reduces to cosine search by the
    * norm-augmentation trick (append sqrt(M² − ‖x‖²) to each corpus
    * vector, 0 to queries), after which the IVF/PQ machinery above
    * applies unchanged; the reduction's sqrt makes it float-bearing,
    * so the oracle-gated form here is the exact integer baseline the
    * approximate forms would be measured against (the same
    * baseline-vs-recall pairing as [[pqRecall]]). */
  def mipsTopK(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val base = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val queries = base.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("dot", qdot(col("qq"), col("q")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("dot"))
  }

  /** Two-stage prefix-dimension retrieval — the Matryoshka-embedding
    * serving pattern: stage 1 ranks EVERY corpus vector by cosine over
    * only the first `prefixDims` dimensions (MRL-trained embeddings
    * front-load information, so a prefix is a usable coarse scorer) and
    * keeps `candidates` per query; stage 2 re-scores just those by
    * full-dimension cosine and emits the top `k`. Results are exact
    * whenever the true top-k survives the prefix cut — the recall knob
    * is `candidates`, exactly like nprobe in IVF.
    *
    * Scale posture: stage 1's arithmetic (and, on columnar storage
    * with a split layout, its I/O) is dims/prefixDims× cheaper than a
    * full-dim scan — here 4× — and its rank ≤ candidates filter
    * rewrites to WindowGroupLimit (partial top-C before the exchange).
    * Stage 2 touches candidates×|queries| rows only. Queries stay
    * broadcast; the corpus streams through one scan. */
  def prefixRerankTopK(embeddings: DataFrame, prefixDims: Int = 16,
      candidates: Int = 20, k: Int = 5): DataFrame = {
    val base = embeddings.select(
        col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("qp", slice(col("q"), 1, prefixDims))
      .withColumn("n2", qnorm2(col("q")))
      .withColumn("n2p", qnorm2(col("qp")))
    val queries = base.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("qp").as("qqp"), col("n2").as("n2q"), col("n2p").as("n2qp"))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    val cand = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("pcos",
        cosineFromParts(qdot(col("qqp"), col("qp")), col("n2qp"), col("n2p")))
      .withColumn("prank", row_number().over(wPre))
      .filter(col("prank") <= candidates)
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand
      .withColumn("cosine",
        cosineFromParts(qdot(col("qq"), col("q")), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** Hyperplane-sign signature. Hyperplane j's weight for dim i is ±1
    * from the top bit of md5(64j + i) — a fixed deterministic
    * pseudo-random matrix both engines rebuild from the same formula.
    *
    * md5, not an LCG: the original LCG mix (`1103515245·x + 12345`,
    * bit 16, sampled at stride 64) produced hyperplanes with up to
    * 0.94 pairwise correlation — classic LCG lattice structure — which
    * collapsed the signature's effective entropy to a fraction of its
    * nominal width. The 10× scale rehearsal caught it: candidate pairs
    * grew 62× instead of 10× even after the width fix, and the excess
    * was all cross-replica pairs of provably-decorrelated vectors (see
    * tools/ScaleGen.scala) colliding in the degenerate buckets. md5
    * bits are iid, so planes are balanced and mutually uncorrelated,
    * and bucket occupancy matches the uniform model.
    *
    * The weight matrix is data-independent, so it is evaluated HERE, at
    * plan-build time, and embedded as literal ±1 arrays: recomputing
    * the mix inside the lambda costs 64·planes interpreted ops and
    * `planes` sequence() allocations per ROW — plan-build hashing costs
    * 64·planes md5 calls per QUERY. */
  def lshSignature(q: Column, dims: Int = 64, planes: Int = 12): Column = {
    val bits = (0 until planes).map { j =>
      val weights: Seq[Long] = (0 until dims).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(String.valueOf(j * 64 + i).getBytes("UTF-8"))
        if (((h(0) & 0xFF) >>> 4) < 8) 1L else -1L
      }
      val dot = aggregate(zip_with(q, typedlit(weights), (x, w) => x * w),
        lit(0L), (acc, x) => acc + x)
      when(dot > 0, lit(1L << j)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Signature width for an n-vector corpus: ceil(log2 n) + 2 bits,
    * floored at the historical 12 and capped at 24. With 2^bits ≈ n
    * buckets a RANDOM collision is O(1) expected per vector, so the
    * candidate pair count stays linear in n; a FIXED width is quadratic
    * (pairs ≈ n²/2^bits), which the 10× scale rehearsal measured
    * directly — candidates grew 96× under 12 fixed planes and the data
    * transform was provably not the cause (a dense random rotation per
    * replica left the growth unchanged). The +2 margin (4× bucket
    * headroom) exists because real corpora are CLUSTERED, not random:
    * cluster members agree on more planes than chance, so realized
    * collisions run a small constant factor above the n²/2^bits
    * estimate — the r12 standing probe measured 15.9× candidate growth
    * for 10× data at exact ceil(log2 n) sizing, back under ~10× with
    * the margin. Sizing the signature at index build is what
    * production ANN systems do; the cap bounds the single-probe recall
    * decay (each extra plane multiplies recall by P(plane agrees) < 1)
    * — beyond ~4M vectors per index, banded multi-probe or the IVF
    * path is the right tool, not a wider single signature. */
  def adaptivePlanes(n: Long): Int = {
    val bits = if (n <= 2) 1 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.max(12, math.min(24, bits + 2))
  }

  /** All bucket-colliding candidate pairs with their exact cosine — the
    * probe stage of near-dup detection; a caller applies its own
    * threshold (none here so the small-SF gate exercises the path).
    *
    * The signature width is sized from the corpus ([[adaptivePlanes]]):
    * the count() is one extra scan at INDEX BUILD time — this frame is
    * built once per corpus (SparkEntry memoizes it as the
    * `embed/lsh_pairs` artifact) and a real deployment persists the
    * width in the index metadata. */
  def lshNearDups(embeddings: DataFrame): DataFrame = {
    val planes = adaptivePlanes(embeddings.count())
    // cache: both sides of the bucket self-join (and the CC pass in
    // nearDupClusters) reference this frame — uncached, the whole
    // interpreted quantize+signature pipeline runs once per reference
    // (2× measured). At corpus scale the cached projection is
    // (id, 64 longs, 2 longs) per row — far smaller than the source —
    // and spills to disk gracefully if it outgrows executor memory.
    val sigs = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("sig", lshSignature(col("q"), planes = planes))
      .withColumn("n2", qnorm2(col("q")))
      .cache()
    val a = sigs.select(col("sig"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("n2").as("n2a"))
    val b = sigs.select(col("sig"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("n2").as("n2b"))
    a.join(b, Seq("sig"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qa"), col("qb")), col("n2a"), col("n2b")))
      .select(col("vec_a"), col("vec_b"), col("sig"), col("cosine"))
  }

  /** Exact-cosine verification of candidate (vec_a, vec_b) pairs
    * against the given vectors — the shared verify stage for any
    * candidate generator (stored-index probe, band join). Only
    * candidate pairs pay the arithmetic; norms are computed once per
    * vector below the joins. */
  def verifyCosinePairs(pairs: DataFrame, vectors: DataFrame,
      threshold: Double): DataFrame = {
    val base = vectors.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val a = base.select(col("vec_id").as("vec_a"),
      col("q").as("qa"), col("n2").as("n2a"))
    val b = base.select(col("vec_id").as("vec_b"),
      col("q").as("qb"), col("n2").as("n2b"))
    pairs.join(a, Seq("vec_a")).join(b, Seq("vec_b"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qa"), col("qb")), col("n2a"), col("n2b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Exact cosine near-duplicate pairs within a coarse partition: every
    * same-label pair with cosine ≥ threshold, brute force inside the
    * partition. The exact complement of [[lshNearDups]] — LSH trades
    * recall for an equi-join; this trades quadratic-in-partition cost
    * for exactness, which is the right trade when a coarse key (label,
    * cluster id, shard) already bounds partition size. At 100 TB the
    * partitioner IS the index: pair count is Σ n_p² over partitions,
    * never N². */
  def exactNearDups(embeddings: DataFrame, threshold: Double = Double.NaN): DataFrame = {
    val thr = resolvedThreshold(embeddings, threshold)
    val base = embeddings.select(
      col("label"), col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val a = base.select(col("label"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("n2").as("n2a"))
    val b = base.select(col("label"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("n2").as("n2b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qa"), col("qb")), col("n2a"), col("n2b")))
      .filter(col("cosine") >= thr)
      .select(col("label"), col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** The k most-similar pairs per label block — the BOUNDED-OUTPUT form
    * of [[exactNearDups]], and the one whose output survives scale.
    *
    * Why it exists: threshold-pair mining emits every pair above t, and
    * at dim d the random-pair cosine is ≈ N(0, 1/d) — σ = 0.125 at
    * d = 64 — so any threshold within a few σ of zero admits a noise
    * tail that grows with the SQUARE of the block size while true
    * near-dup mass grows linearly. The r12 standing probe measured
    * exactly that: 108× pair growth for 10× replica-decorrelated data
    * at t = 0.35 (2.8σ), ~90% of the big-side output being tail noise.
    * Top-k per block caps output at k·|blocks| — linear in block count,
    * immune to where the threshold sits relative to the noise floor —
    * which is why dataset-card "most similar pairs" reports and dedup
    * triage queues use this form at corpus scale.
    *
    * Scale posture: the same one-shuffle blocked self-join as
    * [[exactNearDups]], then a per-label rank that Spark rewrites to
    * WindowGroupLimit — each task keeps only its local top k before
    * the exchange, so the n_p² pair stream is never materialized
    * through a shuffle. Deterministic ties on (vec_a, vec_b) → full
    * hash oracle. */
  def topKNearDups(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val base = embeddings.select(
      col("label"), col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val a = base.select(col("label"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("n2").as("n2a"))
    val b = base.select(col("label"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("n2").as("n2b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qa"), col("qb")), col("n2a"), col("n2b")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
          .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank"), col("vec_a"), col("vec_b"),
        col("cosine"))
  }

  /** Parameter wins; unset (NaN) falls back to the session conf
    * (spark.graft.embed.cosineThreshold, default 0.35) — the embedding
    * analog of the curation thresholds in [[Corpus.cleanDecisions]]. */
  private def resolvedThreshold(df: DataFrame, threshold: Double): Double =
    if (threshold.isNaN) graft.GraftConf.cosineThreshold(df.sparkSession)
    else threshold

  /** Brute-force top-k on the RAW float vectors via the native codegen'd
    * cosine_sim expression (graft.functions.CosineSimilarity) — the
    * performance path when cross-engine bit-exactness isn't required
    * (float accumulation order differs between engines, so this variant
    * gets a rows-only gate, not a hash oracle). */
  def bruteForceTopKNative(embeddings: DataFrame, k: Int = 5): DataFrame = {
    graft.GraftSql.registerFunctions(embeddings.sparkSession)
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val queries = base.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", expr("cosine_sim(qe, embedding)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** Embedding near-duplicate CLUSTERS: connected components over the
    * LSH candidate pairs that verify at cosine ≥ threshold — the
    * embedding-space analog of [[DedupOps.nearDupClusters]], sharing
    * [[Graph.connectedComponents]] (min-label propagation + pointer
    * jumping, O(log diameter) rounds). This is the semantic-dedup pass
    * of a training pipeline: keep one canonical vector per cluster of
    * mutually-near embeddings, drop the rest.
    *
    * Candidate generation stays the equi self-join on the 12-plane
    * signature — never all-pairs — so cluster recall equals LSH pair
    * recall (same-bucket collisions), the documented trade of the
    * scale path. */
  def nearDupClusters(embeddings: DataFrame, threshold: Double = Double.NaN): DataFrame =
    nearDupClustersFrom(embeddings, lshNearDups(embeddings), threshold)

  /** [[nearDupClusters]] over a precomputed LSH candidate+cosine frame
    * ([[lshNearDups]] output) — one signature pass feeds both the pair
    * query and the clustering in a suite run. */
  def nearDupClustersFrom(embeddings: DataFrame, lshPairs: DataFrame,
      threshold: Double = Double.NaN): DataFrame = {
    val pairs = lshPairs
      .filter(col("cosine") >= resolvedThreshold(embeddings, threshold))
      .select(col("vec_a"), col("vec_b"))
    val labels = Graph.connectedComponents(
      embeddings.select(col("vec_id")), pairs)
    Graph.clusterSummary(labels, "vec_id")
  }

  /** Distributed k-means (Lloyd's) over the quantized embeddings — the
    * clustering pass a training pipeline uses for semantic data mixing
    * and for TRAINING the coarse quantizer that [[ivfTopK]] probes
    * (there the `label` column stands in for a fitted one).
    *
    * Fully deterministic and cross-engine exact, so the whole fit is
    * hash-oracle-able in SQL: seeds are the k lowest vec_ids; distances
    * are 64-bit integer Σ(x−c)²; argmin ties break on lowest centroid
    * id; and the centroid update is FLOOR division of integer per-dim
    * sums (s − pmod(s, n)) / n — no float accumulation anywhere.
    *
    * Scale posture per step: assignment is a broadcast of k tiny
    * centroid rows against the streaming corpus, and the argmin is
    * `groupBy(vec).agg(min(struct(d2, cid, …)))` — a map-side-combinable
    * aggregate, NOT a window sort over N×k rows. The update is
    * posexplode → partial per-(centroid, dim) sums, so the shuffle
    * carries k×64 rows per partition regardless of corpus size.
    * Centroids are eagerly cache-pinned each round (k rows — see
    * [[pinned]] for why cache, not localCheckpoint); swap for
    * reliable checkpoint() on a cluster. */
  /** Deterministic hash-spread seed order: a multiplicative (Knuth)
    * hash with one xor-fold of the high half — enough avalanche that
    * CONSECUTIVE ids (appended shards, where id order correlates with
    * content) land all over the ordering, unlike first-k-by-id whose
    * seeds all come from one region and make Lloyd start degenerate.
    * Integer-only and non-negative throughout (`div 65536` ≡ `>> 16` ≡
    * DuckDB `// 65536` on non-negative operands), so the oracle
    * reproduces the exact seed set; the `% 4194304` pre-fold bounds the
    * product at ~1.1e16 — no BIGINT overflow in either engine. Ties
    * (ids ≡ mod 4194304) break on vec_id. */
  private def seedSpread: Column = {
    val h = "((vec_id % 4194304 + 99991) * 2654435761) % 4294967296"
    expr(s"($h) ^ (($h) div 65536)")
  }

  /** Eagerly materialized cache — the pinning idiom for the k-row
    * centroid frames the iterative trainers thread through long-lived
    * artifact plans. cache+count rather than localCheckpoint: a
    * checkpointed block evicted under memory pressure is
    * UNRECOVERABLE (lineage truncated —
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, hit when a multi-rung ladder
    * run evicted an artifact-held centroid frame), while an evicted
    * cache block recomputes from its retained lineage — which is
    * bit-deterministic here (integer-exact Lloyd rounds). Lineage
    * depth stays bounded because the loops run a FIXED small round
    * count (2 Lloyd rounds, 1 PQ round); an unbounded loop must keep
    * truncating (see [[Graph.connectedComponents]]). */
  private def pinned(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  /** Scale-aware cluster count: k grows with the corpus so the
    * EXPECTED cluster size stays fixed at `targetBlock`. This is what
    * keeps [[semDedupFrom]]'s within-cluster pair join linear — with
    * balanced clusters the candidate count is Σ n_c² ≈ N²/k, so at
    * FIXED k it is quadratic in the corpus (the SemDeDup paper's
    * blocking only bounds the scan because their k scales with N:
    * tens of thousands of clusters for billions of embeddings), while
    * at k = N/targetBlock it is N·targetBlock — linear with a
    * tunable constant. The floor of 8 keeps small/demo corpora on the
    * historical 8-cluster geometry; the 2²⁰ cap bounds the broadcast
    * centroid frame (64 longs × 1M rows ≈ 0.5 GB, the broadcast
    * limit's neighborhood — beyond that the assignment itself needs
    * an ANN coarse quantizer, which is [[coarseCentroids]]' IVF
    * territory).
    *
    * The TRADE this buys: Lloyd assignment is O(N·k·iters) =
    * O(N²/targetBlock) — also quadratic, but with a 1/1024 constant
    * and a codegen'd integer inner loop, it crosses the pair join's
    * cost only far beyond the broadcast cap; corpora near the cap
    * should train centroids on a bounded [[TextOps.hashSample]]-style
    * subsample and assign the full corpus once (one O(N·k) pass is
    * the irreducible exact-assignment cost — the paper's deployment
    * pays it on GPUs). */
  def scaledK(n: Long, targetBlock: Int = 1024): Int = {
    // division-form ceil: the additive form n + targetBlock - 1
    // overflows Long for n near Long.MaxValue and would wrap the k
    // floor back to 8 — exactly the silent-truncation class the TVF
    // guards reject loudly
    val k = n / targetBlock + (if (n % targetBlock == 0L) 0L else 1L)
    math.min(math.max(8L, k), 1L << 20).toInt
  }

  /** [[kmeansAssignments]] at the [[scaledK]] cluster count — the
    * corpus-scale entry point ([[semDedupFrom]]'s intended partner).
    * The count() is one COUNT(*) job (metadata-only on parquet). */
  def kmeansAssignmentsScaled(embeddings: DataFrame,
      targetBlock: Int = 1024, iters: Int = 2): DataFrame =
    kmeansAssignments(embeddings,
      scaledK(embeddings.count(), targetBlock), iters)

  def kmeansAssignments(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    // cache lifetime is CALLER-MANAGED (same policy as lshNearDups'
    // sigs cache): the returned plan still references it, so this
    // method cannot unpersist. Spark drops it LRU under memory
    // pressure; long-lived sessions issuing many fits should
    // spark.catalog.clearCache() between rounds.
    val base = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q")).cache()
    assignStep(base, trainCentroids(base, k, iters))
      .select(col("vec_id"), col("centroid_id"), col("d2"))
  }

  /** The TRAINED centroid frame itself — (centroid_id, cv), k rows —
    * which is what [[CentroidStore]] persists so later sessions (and
    * the streaming semantic-dedup path) assign against the frozen
    * geometry instead of re-clustering the corpus. Same seeding and
    * Lloyd rounds as [[kmeansAssignments]]; in fact that method IS
    * one [[assignAgainst]] over this frame. */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val base = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q")).cache()
    trainCentroids(base, k, iters)
  }

  /** [[kmeansCentroids]] trained on a BOUNDED deterministic subsample
    * — the corpus-scale mitigation [[scaledK]]'s docstring promises:
    * Lloyd training is O(|train|·k·iters), so capping the training
    * set makes the fit corpus-size-independent while the one full
    * [[assignAgainst]] pass stays the irreducible exact-assignment
    * cost. The sample is the key-pure md5 order of
    * [[TextOps.hashSample]] (reproducible across runs/retries/
    * partitionings, no rand()), taken as a TakeOrdered — cap-bounded
    * driver merge, never a corpus sort. Centroid QUALITY degrades
    * gracefully (a uniform subsample preserves cluster structure —
    * the standard minibatch/subsample k-means argument); centroid
    * IDENTITY changes vs the full fit, so a pipeline must pick one
    * route and persist it ([[CentroidStore]] takes either). */
  def kmeansCentroidsSampled(embeddings: DataFrame, sampleCap: Int = 65536,
      k: Int = 8, iters: Int = 2): DataFrame = {
    val hk = conv(substring(
      md5(col("vec_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("bigint")
    kmeansCentroids(embeddings.orderBy(hk, col("vec_id")).limit(sampleCap),
      k, iters)
  }

  private def trainCentroids(base: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = pinned(base.orderBy(seedSpread, col("vec_id")).limit(k)
      .select(col("vec_id").as("centroid_id"), col("q").as("cv")))
    for (_ <- 1 to iters)
      cents = pinned(lloydUpdate(assignStep(base, cents), cents))
    cents
  }

  /** Nearest-centroid assignment against a PRECOMPUTED (usually
    * loaded-from-[[CentroidStore]]) centroid frame — the frozen-
    * geometry contract: (vec_id, centroid_id, d2), broadcast-argmin,
    * integer-exact, bit-equal to [[kmeansAssignments]]' final step
    * when `centroids` is that fit's own [[kmeansCentroids]] frame. */
  def assignAgainst(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    assignStep(
      embeddings.select(col("vec_id"), quantized(col("embedding")).as("q")),
      centroids.select(col("centroid_id"), col("cv")))
      .select(col("vec_id"), col("centroid_id"), col("d2"))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication") — semantic
    * duplicate KEEP/DROP decisions over the k-means geometry:
    *
    *   1. candidate pairs form only WITHIN a k-means cluster (the
    *      paper's blocking move — pair search is block-bounded, never
    *      corpus²);
    *   2. a pair is a semantic duplicate when integer-quantized
    *      cosine ≥ threshold (the repo's engine-exact cosine);
    *   3. duplicates group by connected components (min-id group
    *      label, [[Graph.connectedComponents]]);
    *   4. each group KEEPS exactly one member — the one FARTHEST from
    *      its centroid (max d2, tie-break min vec_id), the paper's
    *      "keep low centroid-similarity" rule (the outlier carries
    *      the most information; the near-centroid copies are the
    *      redundant ones). NOTE: max-L2-from-centroid coincides with
    *      min-cosine-to-centroid only for (near-)constant-norm
    *      embeddings — the paper's setting (unit-normalized CLIP
    *      embeddings) and this corpus's. For unnormalized vectors the
    *      d2 rank can pick a different member than a cosine rank
    *      would (a long vector pointing AT the centroid out-distances
    *      a short one pointing away); normalize upstream, or rank by
    *      cosine-to-centroid, if that regime is in scope.
    *
    * Output per vector: (vec_id, centroid_id, group_id, group_size,
    * keep) — singletons are their own group and always keep.
    *
    * Scale posture: the pair join is equi on centroid_id (cluster-
    * bounded); CC is a single-shuffle per-cluster union-find (exact —
    * the blocking means no component spans a cluster, and the
    * per-group state is [[scaledK]]-bounded); the keep rank and group
    * size are windows over GROUP-bounded partitions.
    * `assignments` is [[kmeansAssignments]]' output, shared with the
    * kmeans/balanced-sample queries via the session artifact.
    *
    * THE scale knob is k, the cluster count: candidate pairs grow as
    * N²/k, so at FIXED k the within-cluster scan is quadratic (the
    * r16 1×/3×/10× ladder measured segment α → 1.1 already at 20k
    * vectors). The shipped posture is [[kmeansAssignmentsScaled]] —
    * k = max(8, ⌈N/1024⌉) per [[scaledK]] — under which the pair
    * count saturates at N·targetBlock/2 (linear); the r17 re-ladder
    * to 30× measures the drop (`bench_results/semdedup_ladder.json`).
    * Callers passing their own assignments at corpus scale must use
    * the scaled k, not the 8-cluster demo default. */
  def semDedupFrom(embeddings: DataFrame, assignments: DataFrame,
      threshold: Double = Double.NaN): DataFrame = {
    val (labeled, _) = semDedupLabeled(embeddings, assignments,
      resolvedThreshold(embeddings, threshold))
    val keepW = Window.partitionBy(col("group_id"))
      .orderBy(col("d2").desc, col("vec_id"))
    labeled
      .withColumn("keep", row_number().over(keepW) === 1)
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(col("group_id")))
          .cast("bigint"))
      .select(col("vec_id"), col("centroid_id"), col("group_id"),
        col("group_size"), col("keep"))
  }

  /** [[semDedupFrom]]'s keep DECISION with a BOUNDED cache lifetime —
    * the per-micro-batch form ([[graft.streaming.CorpusIngest
    * .ingestBatchSemanticCentroid]]'s): the internal verified-pair
    * cache is unpersisted before returning (a long-running stream
    * calling [[semDedupFrom]] would leave one dead cached frame per
    * batch in the registry), and the (vec_id) keep set comes back
    * eagerly pinned (localCheckpoint — consumed within the batch,
    * the ingest layers' idiom). Long-lived batch sessions use
    * [[semDedupFrom]], whose cache lifetime is caller-managed. */
  def semDedupKeepIds(embeddings: DataFrame, assignments: DataFrame,
      threshold: Double = Double.NaN): DataFrame = {
    val (labeled, pairs) = semDedupLabeled(embeddings, assignments,
      resolvedThreshold(embeddings, threshold))
    val keepW = Window.partitionBy(col("group_id"))
      .orderBy(col("d2").desc, col("vec_id"))
    val out = labeled
      .withColumn("rn", row_number().over(keepW))
      .filter(col("rn") === 1)
      .select(col("vec_id"))
      .localCheckpoint()
    pairs.unpersist()
    out
  }

  /** [[semDedupFrom]] with the keep rank on QUANTIZED COSINE to the
    * own centroid (ascending — keep the member LEAST similar to its
    * centroid), the paper's literal rule for regimes where vector
    * norms vary: max-L2-from-centroid and min-cosine-to-centroid
    * coincide only for (near-)constant-norm embeddings, and for
    * unnormalized vectors a long vector pointing AT the centroid can
    * out-distance a short one pointing away (the d2 rank would keep
    * the wrong member). Takes the centroid frame (the assignments
    * don't carry cv) — [[kmeansCentroids]] or a loaded
    * [[CentroidStore]] epoch; the duplicate groups are identical to
    * [[semDedupFrom]]'s, only the keeper can differ. Output adds the
    * audit column `centroid_cosine`. */
  def semDedupByCosineFrom(embeddings: DataFrame, assignments: DataFrame,
      centroids: DataFrame, threshold: Double = Double.NaN): DataFrame = {
    val (labeled, _) = semDedupLabeled(embeddings, assignments,
      resolvedThreshold(embeddings, threshold))
    // LEFT joins + a raise_error branch INSIDE the retained cosine
    // expression, not inner joins: a centroids frame from a DIFFERENT
    // fit/epoch than the assignments (or an embeddings subset missing
    // assigned ids) would otherwise drop whole vectors silently —
    // undercounting group_size and moving keepers. The guard must
    // live in a column the plan KEEPS: an assert_true in a
    // subsequently-dropped column is pruned by Catalyst and never
    // fires (measured on this Spark build), and null cosines would
    // sort FIRST in the ascending keep rank — the mismatched vector
    // would silently win.
    val withCos = labeled
      .join(embeddings.select(col("vec_id"),
          quantized(col("embedding")).as("q"))
        .withColumn("n2q", qnorm2(col("q"))), Seq("vec_id"), "left")
      .join(broadcast(centroids.select(col("centroid_id"), col("cv"))),
        Seq("centroid_id"), "left")
      .withColumn("centroid_cosine",
        when(col("q").isNotNull && col("cv").isNotNull,
          cosineFromParts(qdot(col("q"), col("cv")), col("n2q"),
            qnorm2(col("cv"))))
          .otherwise(raise_error(
            concat(lit("semDedupByCosineFrom: vec_id "), col("vec_id"),
              lit(" / centroid_id "), col("centroid_id"),
              lit(" missing from the embeddings/centroids frames — " +
                "assignments and centroids must come from the SAME " +
                "fit (epoch)")))))
    val keepW = Window.partitionBy(col("group_id"))
      .orderBy(col("centroid_cosine").asc, col("vec_id"))
    withCos
      .withColumn("keep", row_number().over(keepW) === 1)
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(col("group_id")))
          .cast("bigint"))
      .select(col("vec_id"), col("centroid_id"), col("group_id"),
        col("group_size"), col("centroid_cosine"), col("keep"))
  }

  /** Shared label derivation for the semDedup keep-rule variants:
    * (vec_id, centroid_id, d2, group_id) — the pair join, the
    * per-cluster union-find, and the singleton restore. Also returns
    * the CACHED pair frame so bounded-lifetime callers
    * ([[semDedupKeepIds]]) can unpersist it. The plain variants
    * discard the handle: their returned plan references the cache,
    * so it lives until Spark's LRU evicts it — a long-lived session
    * issuing MANY fits should run spark.catalog.clearCache() between
    * rounds (the [[kmeansAssignments]] cache policy), or use
    * [[semDedupKeepIds]] where only the keep set is needed. */
  /** Per-task vertex-map bound for [[semDedupLabeled]]'s per-cluster
    * union-find: a cluster whose 2·edges exceed this falls back to the
    * distributed CC. 2¹⁶ map entries ≈ a few MB per task — 64× the
    * [[scaledK]] targetBlock, far above any scaled assignment and far
    * below executor-heap danger. */
  private[graft] val DegenerateClusterVertexBound: Long = 1L << 16

  private[graft] def semDedupLabeled(embeddings: DataFrame,
      assignments: DataFrame, thr: Double,
      ufBound: Long = DegenerateClusterVertexBound)
      : (DataFrame, DataFrame) = {
    val base = embeddings
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
      .join(assignments.select(col("vec_id"), col("centroid_id")),
        Seq("vec_id"))
    val a = base.select(col("centroid_id"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("n2").as("n2a"))
    val b = base.select(col("centroid_id"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("n2").as("n2b"))
    // Materialize (eager cache) before CC: the verified dup edges are
    // a tiny frame, but as a LAZY plan its size statistic is the
    // quadratic candidate join's estimate, so with AQE off every CC
    // round plans shuffled sort-merge joins against it (measured 2-6×
    // the whole query). Once materialized, InMemoryRelation reports
    // the REAL byte size and CC's rounds plan broadcast-sized joins.
    // cache+count rather than localCheckpoint: a checkpointed block
    // evicted under memory pressure is UNRECOVERABLE (lineage
    // truncated — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, hit at the 10×
    // ladder rung), while an evicted cache block just recomputes.
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qa"), col("qb")), col("n2a"), col("n2b")))
      .filter(col("cosine") >= thr)
      .select(col("centroid_id"), col("vec_a"), col("vec_b"))
      .cache()
    pairs.count()
    // Connected components are GROUP-LOCAL here by construction:
    // every dup edge is within one k-means cluster, so no component
    // ever spans clusters — which makes the generic iterative CC
    // ([[Graph.connectedComponents]]: measured 12 pointer-jumping
    // rounds ≈ 36 shuffle stages on this graph) the wrong plan. One
    // groupByKey(centroid_id) + an in-JVM union-find per cluster is
    // exact, one shuffle of the (tiny, verified) edge frame, and its
    // per-group state is bounded by the cluster size [[scaledK]]
    // pins at ~targetBlock — the imperative-per-bounded-group case
    // mapGroups exists for. Union-by-min-id keeps each tree's root
    // the component minimum, so labels match the iterative CC (and
    // the oracle's recursive CTE) bit-for-bit. Singletons are
    // restored by the left join + coalesce below (the oracle's
    // COALESCE(group_id, vec_id) shape).
    // Degenerate-k guard (the union-find's memory contract): one task
    // holds one map entry per vertex that appears in a cluster's edge
    // set — ≤ 2·edges(cluster), which under scaledK assignments is
    // ~targetBlock. But the public entries accept ANY k (semDedupFrom's
    // demo default is 8, the TVF allows k=1), where one cluster's edge
    // set can approach N²/2 and the per-task map becomes an executor-
    // memory bomb. The edge frame is already materialized (cached +
    // counted above), so the per-cluster max is one cheap aggregate;
    // past the bound, fall back to the distributed iterative CC —
    // O(log diameter) shuffle rounds instead of one, but memory-
    // bounded. Labels are IDENTICAL on both paths (union-by-min-id ==
    // min-label propagation: both converge to the component minimum),
    // so the fallback changes cost, never answers — KMeansSpec's
    // degenerate-k guard test pins the equality across the boundary.
    val maxClusterEdges =
      Option(pairs.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    import embeddings.sparkSession.implicits._
    val labels = if (2L * maxClusterEdges > ufBound) {
      val verts = pairs.select(col("vec_a").as("vec_id"))
        .unionByName(pairs.select(col("vec_b").as("vec_id"))).distinct()
      Graph.connectedComponents(verts,
          pairs.select(col("vec_a"), col("vec_b")))
        .select(col("id").as("vec_id"), col("label").as("group_id"))
    } else pairs.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, edges) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (_, va, vb) =>
          parent.getOrElseUpdate(va, va)
          parent.getOrElseUpdate(vb, vb)
          val ra = find(va); val rb = find(vb)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        parent.keysIterator.map(v => (v, find(v))).toSeq
      }
      .toDF("vec_id", "group_id")
    (assignments.select(col("vec_id"), col("centroid_id"), col("d2"))
      .join(labels, Seq("vec_id"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col("vec_id"))),
      pairs)
  }

  /** Cluster-balanced (diversity) sampling — the curation move that
    * keeps a training mix from being dominated by one dense region of
    * embedding space: cap each k-means cluster at `perCluster` members,
    * picked in the key-pure md5 order of [[graft.ext.TextOps.hashSample]]
    * (reproducible across runs/retries/partitionings, no rand()).
    * Dense clusters are down-sampled hard, sparse clusters survive
    * whole — the subset covers every region the clustering found.
    *
    * Scale posture: the per-cluster pick is `row_number ≤ n` over a
    * window — which Catalyst rewrites via WindowGroupLimit (Spark 3.5+)
    * into a per-map-task partial top-n BEFORE the exchange, so the
    * shuffle carries at most k·n rows per map task, not the corpus
    * (BalancedSampleSpec asserts the rewrite fired). The cluster step
    * underneath is [[kmeansAssignments]]'s broadcast-argmin shape. */
  def balancedSample(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      perCluster: Int = 20): DataFrame =
    balancedSampleFrom(kmeansAssignments(embeddings, k, iters), perCluster)

  /** [[balancedSample]] over PRECOMPUTED assignments — the train-once /
    * derive-many form (same pattern as the shared PqModel): a suite or
    * pipeline that already materialized the clustering pays only the
    * group-limit here. */
  def balancedSampleFrom(assignments: DataFrame,
      perCluster: Int = 20): DataFrame = {
    val hk = conv(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("bigint")
    assignments
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("centroid_id")).orderBy(hk, col("vec_id"))))
      .filter(col("rk") <= perCluster)
      .select(col("centroid_id"), col("vec_id"), col("d2"),
        col("rk").cast("long").as("rk"))
  }

  /** Nearest centroid per vector: broadcast-join the centroid rows
    * (equi on `keys` — empty for plain k-means, the subspace id for
    * PQ), integer squared L2, argmin via min(struct(d2, cid, q)) —
    * (d2, cid) is unique per (vector, keys) so q never decides the
    * order; it just rides along for the update step without a
    * re-join. */
  private def assignStep(base: DataFrame, centroids: DataFrame,
      keys: Seq[String] = Nil, passthrough: Seq[String] = Nil): DataFrame = {
    val d2 = aggregate(
      zip_with(col("q"), col("cv"), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, x) => acc + x)
    val joined =
      if (keys.isEmpty) base.crossJoin(broadcast(centroids))
      else base.join(broadcast(centroids), keys)
    // passthrough columns are functionally dependent on vec_id, so
    // adding them to the grouping changes nothing but keeps them around
    joined
      .withColumn("d2", d2)
      .groupBy(col("vec_id") +: (keys ++ passthrough).map(col): _*)
      .agg(min(struct(col("d2"), col("centroid_id"), col("q"))).as("m"))
      .select((col("vec_id") +: (keys ++ passthrough).map(col)) ++ Seq(
        col("m.centroid_id").as("centroid_id"),
        col("m.d2").as("d2"), col("m.q").as("q")): _*)
  }

  /** One Lloyd update: per-(keys, centroid, dim) integer sums via
    * posexplode (map-side combine bounds the shuffle at |centroids|×dims
    * rows per partition), floor-divide, re-pack ordered arrays, and
    * keep the old centroid where a cluster emptied out. */
  private def lloydUpdate(assigned: DataFrame, centroids: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val cid = keys.map(col) :+ col("centroid_id")
    val sums = assigned
      .select(cid :+ posexplode(col("q")).as(Seq("i", "x")): _*)
      .groupBy(cid :+ col("i"): _*)
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val packed = sums
      // `div` (integer division) — the quotient is exact at ANY
      // magnitude; a float `/` would be exact only while per-dim sums
      // stay below 2^53. (s − pmod(s, n)) is divisible by n, so every
      // division convention agrees and DuckDB's `//` mirrors exactly.
      .withColumn("c", expr("(s - pmod(s, n)) div n"))
      .groupBy(cid: _*)
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("c")))),
        e => e.getField("c")).as("cv_new"))
    centroids.join(packed, keys :+ "centroid_id", "left")
      .select(cid :+ coalesce(col("cv_new"), col("cv")).as("cv"): _*)
  }

  /** Product-quantization top-k (IVF-PQ's compression half): split each
    * vector into `m` subvectors, train a per-subspace codebook with one
    * Lloyd round (reusing the subspace-keyed [[assignStep]]/
    * [[lloydUpdate]]), encode the corpus as m small codes, and answer
    * queries by asymmetric distance — the query's exact distance to
    * each centroid, summed over the corpus codes via a lookup join.
    *
    * Scale posture: the codebook is m×ksub tiny rows (broadcast twice:
    * encode + distance tables); the corpus is touched twice, both times
    * streaming (encode scan, then the codes⋈tables lookup join whose
    * probe side is |queries|×m×ksub rows). At 100 TB the codes frame is
    * the persisted artifact — 4 bytes/vector here vs 256 — and ADC
    * reads ONLY codes, never raw vectors: that compression is the whole
    * point of PQ. Same integer arithmetic as [[kmeansAssignments]], so
    * the full fit→encode→search pipeline hash-matches a SQL oracle. */
  /** A trained product-quantization model: the subvector frame the
    * training scan produced (`subs` — (vec_id, sub, q), cached), the
    * per-subspace codebook (`cents` — m×ksub rows, checkpointed), and
    * the encoded corpus (`codes` — (vec_id, sub, centroid_id), cached).
    * This is the train-once/encode-many contract of a production ANN
    * index: codebooks and codes are persisted artifacts that every
    * search and recall eval derives from, never retrained per query.
    * At 100 TB `codes` IS the index — 4 bytes/vector vs 256 raw. */
  final case class PqModel(subs: DataFrame, cents: DataFrame, codes: DataFrame)

  /** Train PQ codebooks (one Lloyd round per subspace, first-ksub
    * seeds) and encode the corpus — the shared artifact behind
    * [[pqTopKFrom]] / [[ivfPqTopKFrom]] and both recall evals. Caches
    * `subs`/`codes` (caller-managed lifetime, see [[kmeansAssignments]])
    * and eagerly checkpoints the m×ksub codebook. */
  /** (vec_id, sub, q): the `m` per-subspace integer subvectors of each
    * embedding — the shared front half of PQ training, frozen-codebook
    * encoding ([[encodePq]]), and query-side ADC-table construction
    * ([[ivfPqSearch]]). */
  def pqSubvectors(embeddings: DataFrame, m: Int = 4,
      dsub: Int = 16): DataFrame = {
    val base = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    base.select(col("vec_id"), explode(array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("q"), s * dsub + 1, dsub).as("q"))): _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.q").as("q"))
  }

  /** Encode vectors against an EXISTING (frozen) codebook — the append
    * path of a persisted index ([[EmbedIndex]]): new corpus segments
    * get codes without retraining. Freezing is the production
    * contract — codebook drift is a monitored retrain *decision*, not
    * a per-append side effect, and frozen codebooks are what make old
    * and new codes comparable inside one ADC scan. */
  def encodePq(embeddings: DataFrame, cents: DataFrame,
      m: Int = 4, dsub: Int = 16): DataFrame =
    assignStep(pqSubvectors(embeddings, m, dsub), cents, Seq("sub"))
      .select(col("vec_id"), col("sub"), col("centroid_id"))

  def trainPq(embeddings: DataFrame, m: Int = 4, dsub: Int = 16,
      ksub: Int = 8): PqModel = {
    val base = embeddings.select(
      col("vec_id"), quantized(col("embedding")).as("q"))
    val subs = pqSubvectors(embeddings, m, dsub).cache()
    val seedIds = base.orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id").as("centroid_id"))
    val seeds = pinned(subs.join(broadcast(seedIds),
      subs("vec_id") === seedIds("centroid_id"))
      .select(col("sub"), col("centroid_id"), col("q").as("cv")))
    val cents = pinned(
      lloydUpdate(assignStep(subs, seeds, Seq("sub")), seeds, Seq("sub")))
    val codes = assignStep(subs, cents, Seq("sub"))
      .select(col("vec_id"), col("sub"), col("centroid_id"))
      .cache()
    PqModel(subs, cents, codes)
  }

  /** Per-(query, subspace, centroid) asymmetric distance tables from a
    * trained model: |queries|×m×ksub tiny broadcast rows. */
  private def adcTables(pq: PqModel): DataFrame = {
    val d2 = aggregate(
      zip_with(col("q"), col("cv"), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, x) => acc + x)
    pq.subs.filter(col("vec_id") % 97 === 0)
      .join(broadcast(pq.cents), Seq("sub"))
      .withColumn("dt", d2)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("centroid_id"), col("dt"))
  }

  def pqTopK(embeddings: DataFrame, m: Int = 4, dsub: Int = 16,
      ksub: Int = 8, k: Int = 5): DataFrame =
    pqTopKFrom(trainPq(embeddings, m, dsub, ksub), k)

  /** ADC top-k from an already-trained [[PqModel]] — the search half of
    * [[pqTopK]], reading ONLY the model's codes and codebook. */
  def pqTopKFrom(pq: PqModel, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    pq.codes.join(broadcast(adcTables(pq)), Seq("sub", "centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dt")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
  }

  /** IVF-PQ with multi-probe: the production ANN shape at corpus scale.
    * The coarse quantizer is one integer centroid per `label` list (the
    * floor-mean of the list's quantized vectors — deterministic, so the
    * whole probe ranking hash-matches SQL); each query ranks the lists
    * by squared L2 to those centroids and probes the nearest `nprobe`,
    * and within the probed lists distances come from the PQ codes,
    * never the raw vectors. nprobe is THE recall/cost dial of deployed
    * IVF: recall lost to a query landing near a list boundary is
    * recovered by probing its runner-up lists, at nprobe× the code
    * lookups — [[ivfPqRecallCompare]] measures exactly that gain.
    *
    * The codebook is shared across lists (trained on the full corpus,
    * the standard IVF-PQ design); the ADC lookup join carries the
    * probed label as a third equi key, so each query only ever meets
    * its probed lists' codes. Cost per query: nprobe·|list|·m code
    * lookups vs |corpus|·d multiplications for brute force. The coarse
    * centroid build is one posexplode aggregate (map-side combinable,
    * nlist×64 rows out); probe selection is |queries|×nlist tiny
    * broadcast rows. */
  /** (query_id, plabel): each query's `nprobe` nearest inverted lists,
    * ranked by integer squared L2 to the per-label coarse centroids
    * (floor-mean of the list's quantized vectors — deterministic, so
    * probe ranking hash-matches SQL). Probe sets at increasing nprobe
    * are NESTED (same ranking, longer prefix) — the property that makes
    * probe coverage monotone in [[ivfPqRecallCompare]]. */
  def coarseProbes(embeddings: DataFrame, nprobe: Int): DataFrame =
    coarseProbesFrom(embeddings, coarseCentroids(embeddings), nprobe)

  /** (label, ccv): one integer coarse centroid per inverted list — the
    * per-list floor-mean of the quantized vectors, same arithmetic as
    * lloydUpdate (exact `div`, any magnitude). In a deployed IVF index
    * this frame IS part of the persisted index (built with the codes,
    * loaded by every searcher), so callers running several searches
    * against one index should build it once and pass it to the `*From`
    * variants — SparkEntry memoizes it next to the PqModel. */
  def coarseCentroids(embeddings: DataFrame): DataFrame =
    coarseCentroidsFromSums(coarseSums(embeddings))

  /** (label, i, s, n): per-list per-dimension integer sums + counts —
    * the SUFFICIENT STATISTICS behind [[coarseCentroids]]. Persisting
    * these instead of the derived centroids is what makes the index
    * incrementally maintainable: sums merge exactly under addition, so
    * centroids after an append are bit-identical to a full recompute
    * over base+delta ([[EmbedIndex.append]]). */
  def coarseSums(embeddings: DataFrame): DataFrame =
    embeddings.select(col("label"), quantized(col("embedding")).as("q"))
      .select(col("label"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))

  /** Derive the per-list floor-mean centroids from stored sums. */
  def coarseCentroidsFromSums(sums: DataFrame): DataFrame =
    sums
      .withColumn("c", expr("(s - pmod(s, n)) div n"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("c")))),
        e => e.getField("c")).as("ccv"))

  /** [[coarseProbes]] against a prebuilt [[coarseCentroids]] frame. */
  def coarseProbesFrom(embeddings: DataFrame, coarse: DataFrame,
      nprobe: Int): DataFrame = {
    val queries = embeddings.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("query_id"),
        quantized(col("embedding")).as("qq"))
    val cd2 = aggregate(
      zip_with(col("qq"), col("ccv"), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, x) => acc + x)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cd2"), col("label"))
    queries.crossJoin(broadcast(coarse))
      .withColumn("cd2", cd2)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("label").as("plabel"))
  }

  def ivfPqTopK(embeddings: DataFrame, m: Int = 4, dsub: Int = 16,
      ksub: Int = 8, k: Int = 5, nprobe: Int = 2): DataFrame =
    ivfPqTopKFrom(embeddings, trainPq(embeddings, m, dsub, ksub), k, nprobe)

  /** IVF-PQ search from an already-trained [[PqModel]] (shared with
    * plain PQ — the codebook is corpus-global, the standard IVF-PQ
    * design): attach each code row's inverted-list label, rank lists
    * per query via [[coarseProbes]], and ADC only inside probed
    * lists. */
  def ivfPqTopKFrom(embeddings: DataFrame, pq: PqModel, k: Int = 5,
      nprobe: Int = 2, coarse: DataFrame = null): DataFrame = {
    val probes = coarseProbesFrom(embeddings,
      Option(coarse).getOrElse(coarseCentroids(embeddings)), nprobe)
    val codes = pq.codes
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    // distance tables × probe set: |queries|·m·ksub·nprobe broadcast rows
    val tables = adcTables(pq)
      .select(col("query_id"),
        col("sub").as("qsub"), col("centroid_id").as("qcid"), col("dt"))
      .join(probes, Seq("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    codes.join(broadcast(tables),
      codes("sub") === tables("qsub") &&
        codes("centroid_id") === tables("qcid") &&
        codes("label") === tables("plabel"))
      .filter(col("vec_id") =!= col("query_id"))
      // label is functionally dependent on vec_id (the neighbor's list)
      .groupBy(col("query_id"), col("vec_id"), col("label"))
      .agg(sum(col("dt")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("label"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
  }

  /** IVF-PQ search against LOADED index artifacts — the read path of
    * the persisted index ([[EmbedIndex]]). `queries` carry raw
    * embeddings (ADC needs each query's exact subvectors); `cents` /
    * `codes` / `coarse` come off the index store, so the search never
    * touches the raw corpus vectors — the property that lets 1000
    * searchers share one compact index instead of re-deriving it.
    * `codes` must carry the inverted-list `label` per row (the index
    * writes it with the codes). Output contract and ranking are
    * identical to [[ivfPqTopKFrom]] over the same corpus: same window,
    * same integer ADC arithmetic, same oracle.
    *
    * Scale posture: cents (m·ksub rows), coarse (nlist rows) and the
    * per-query distance tables (|queries|·m·ksub·nprobe rows) are all
    * broadcast; the corpus-sized codes frame streams through ONE
    * broadcast-hash join + one aggregate — no corpus shuffle besides
    * the (query, vec) partial-aggregated exchange. */
  def ivfPqSearch(queries: DataFrame, cents: DataFrame, codes: DataFrame,
      coarse: DataFrame, k: Int = 5, nprobe: Int = 2,
      m: Int = 4, dsub: Int = 16): DataFrame = {
    val d2 = aggregate(
      zip_with(col("q"), col("cv"), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, x) => acc + x)
    val dt = pqSubvectors(queries, m, dsub)
      .join(broadcast(cents), Seq("sub"))
      .withColumn("dt", d2)
      .select(col("vec_id").as("query_id"), col("sub").as("qsub"),
        col("centroid_id").as("qcid"), col("dt"))
    val qq = queries.select(col("vec_id").as("query_id"),
      quantized(col("embedding")).as("qq"))
    val cd2 = aggregate(
      zip_with(col("qq"), col("ccv"), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, x) => acc + x)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cd2"), col("label"))
    val probes = qq.crossJoin(broadcast(coarse))
      .withColumn("cd2", cd2)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("label").as("plabel"))
    val tables = dt.join(probes, Seq("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    codes.join(broadcast(tables),
      codes("sub") === tables("qsub") &&
        codes("centroid_id") === tables("qcid") &&
        codes("label") === tables("plabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"), col("label"))
      .agg(sum(col("dt")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("label"), col("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
  }

  /** The nprobe recall dial, measured two ways per query against the
    * exact global top-k: final-top-k HITS of the IVF-PQ search at
    * nprobe 1 vs 2, and probe COVERAGE — how many of the exact top-k
    * live in a probed list. Coverage is monotone in nprobe BY
    * CONSTRUCTION (probe sets are nested prefixes of one ranking — the
    * candidate pool only grows); final hits are monotone in the typical
    * clustered regime but CAN dip on adversarial data, because with k
    * fixed the extra probed list contributes ADC-cheap impostors that
    * displace true neighbors quantization scored badly — coverage vs
    * hits is exactly the decomposition that separates "probed the wrong
    * list" (fix: nprobe) from "codebook too coarse" (fix: m/ksub/
    * iters). Deterministic end-to-end, so the comparison hash-matches a
    * SQL oracle; PQSpec asserts the clustered-regime gain and the
    * coverage monotonicity. */
  def ivfPqRecallCompare(embeddings: DataFrame, k: Int = 5): DataFrame =
    ivfPqRecallCompareFrom(embeddings,
      bruteForceTopK(embeddings, k), trainPq(embeddings), k)

  /** [[ivfPqRecallCompare]] over a precomputed exact baseline and a
    * shared trained model — both nprobe settings search the SAME
    * codebook/codes, so the eval isolates the probe dial. */
  def ivfPqRecallCompareFrom(embeddings: DataFrame, exactTopK: DataFrame,
      pq: PqModel, k: Int = 5, coarse: DataFrame = null): DataFrame = {
    val exact = exactTopK
      .select(col("query_id"), col("neighbor_id"))
    val nbrLabel = embeddings
      .select(col("vec_id").as("neighbor_id"), col("label"))
    // one coarse-centroid build feeds all four probe passes below (the
    // index's quantizer is a constant of the comparison, not a variable)
    val cc = Option(coarse).getOrElse(coarseCentroids(embeddings))
    def hitsAt(nprobe: Int, out: String) =
      exact.join(
        ivfPqTopKFrom(embeddings, pq, k = k, nprobe = nprobe, coarse = cc)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(out))
    def coverageAt(nprobe: Int, out: String) =
      exact.join(nbrLabel, Seq("neighbor_id"))
        .join(coarseProbesFrom(embeddings, cc, nprobe)
          .withColumnRenamed("plabel", "label"), Seq("query_id", "label"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(out))
    exact.select(col("query_id")).distinct()
      .join(hitsAt(1, "h1"), Seq("query_id"), "left")
      .join(hitsAt(2, "h2"), Seq("query_id"), "left")
      .join(coverageAt(1, "c1"), Seq("query_id"), "left")
      .join(coverageAt(2, "c2"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h1"), lit(0L)).as("hits_nprobe1"),
        coalesce(col("h2"), lit(0L)).as("hits_nprobe2"),
        coalesce(col("c1"), lit(0L)).as("covered_nprobe1"),
        coalesce(col("c2"), lit(0L)).as("covered_nprobe2"),
        (coalesce(col("h1"), lit(0L)).cast("double") / k).as("recall_nprobe1"),
        (coalesce(col("h2"), lit(0L)).cast("double") / k).as("recall_nprobe2"))
  }

  /** PQ recall against the exact baseline: per query, how many of the
    * exact cosine top-k survive in the PQ ADC top-k — the approximation-
    * quality eval every ANN deployment tracks before trading exactness
    * for 64× compression. Both sides are deterministic, so even this
    * eval hash-matches a SQL oracle. The join is on the (query,
    * neighbor) pair key of two k-row-per-query frames — negligible next
    * to the searches themselves.
    *
    * On the synthetic near-random test corpus with the default tiny
    * codebook (ksub=8, one Lloyd round) recall@5 ≈ 0.2 — random
    * directions are PQ's adversarial case, and surfacing that number
    * is the eval's job; a production fit raises ksub/m/iters until
    * this query clears its recall budget. */
  def pqRecall(embeddings: DataFrame, k: Int = 5): DataFrame =
    pqRecallFrom(bruteForceTopK(embeddings, k),
      pqTopKFrom(trainPq(embeddings), k), k)

  /** [[pqRecall]] over precomputed exact and PQ top-k frames — recall
    * as a derivation of the two materialized search outputs. */
  def pqRecallFrom(exactTopK: DataFrame, pqTopK: DataFrame, k: Int): DataFrame = {
    val exact = exactTopK
      .select(col("query_id"), col("neighbor_id"))
    val pq = pqTopK
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(pq, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Int8 scalar quantization (the FAISS SQ8 storage path): each
    * vector's quantized-integer dims compress to one signed byte via a
    * per-VECTOR integer scale, with the reconstruction-error stats an
    * embedding store tracks before committing to 4× compression
    * (64 dims × 8 bytes → 64 bytes + 1 scale).
    *
    * All-integer arithmetic end-to-end, so the whole op hash-matches
    * SQL: scale = ceil(maxabs/127) by integer division (never 0 —
    * clamped to ≥1), code = round-half-away-from-zero division —
    * (x + sign·⌊scale/2⌋) div scale, exact in both engines — and the
    * reconstruction error Σ(x − code·scale)² is an exact 64-bit sum.
    * Per-vector scales (vs one global scale) are what make SQ8 robust
    * to outlier dims; the max|code| ≤ 127 bound is asserted in spec.
    *
    * Scale posture: embarrassingly parallel scan, no shuffle; the codes
    * column is the persisted artifact. */
  def scalarQuantize8(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("maxabs", array_max(transform(col("q"), x => abs(x))))
      .withColumn("scale", greatest(lit(1L), expr("(maxabs + 126) div 127")))
      // symmetric round-half-away-from-zero: sign · ((|x| + s/2) div s).
      // Keeping every div operand NON-NEGATIVE matters cross-engine:
      // Spark's `div` truncates toward zero, DuckDB's `//` floors —
      // they agree only on non-negative operands.
      .withColumn("codes", expr(
        "transform(q, x -> if(x < 0, -1L, 1L) * ((abs(x) + scale div 2) div scale))"))
      .withColumn("err2", expr(
        "aggregate(zip_with(q, codes, (x, c) -> (x - c * scale) * (x - c * scale)), " +
          "0L, (acc, e) -> acc + e)"))
      .select(col("vec_id"), col("scale"),
        expr("array_max(transform(codes, c -> abs(c)))").as("max_code"),
        col("err2"),
        (col("err2").cast("double") / 64).as("mse_per_dim"))

  /** Per-label embedding table diagnostics — the dataset-card row of an
    * embedding store (and the pre-flight read before choosing an ANN
    * index): vector counts, dimensionality consistency (min=max=dims
    * proves no ragged rows made it past ingestion), and the quantized
    * squared-norm distribution. Un-normalized embedding models show up
    * here as a wide norm range; a norm collapse (all ≈ equal) says the
    * table was already L2-normalized and dot product ≡ cosine.
    *
    * Exactness: norms are the suite's standard integer quantization, so
    * min/max/sum are exact int64 and the single mean division is the
    * only double. Scale posture: one map-side-combinable aggregate over
    * a scan; output is nlist-sized. */
  def normProfile(embeddings: DataFrame): DataFrame =
    embeddings.select(col("label"),
      size(col("embedding")).as("dims"),
      qnorm2(quantized(col("embedding"))).as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dims")).as("min_dims"), max(col("dims")).as("max_dims"),
        min(col("n2")).as("min_norm2"), max(col("n2")).as("max_norm2"),
        sum(col("n2")).as("sum_norm2"))
      .withColumn("mean_norm2",
        col("sum_norm2").cast("double") / col("n_vecs"))

  /** IVF-style top-k: the coarse quantizer is the `label` column — each
    * query searches only its own partition (1/10th of the corpus here;
    * 1/nlist in general). The exact analog of probing one inverted
    * list; at 100 TB this is what turns a full scan into a pruned one. */
  def ivfTopK(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val base = embeddings.select(
      col("vec_id"), col("label"), quantized(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val queries = base.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("query_id"), col("label"),
        col("q").as("qq"), col("n2").as("n2q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    base.join(broadcast(queries), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("qq"), col("q")), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("label"), col("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
  }
}
