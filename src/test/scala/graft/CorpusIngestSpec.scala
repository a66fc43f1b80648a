package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.CorpusIngest

object CorpusIngestSpec {

  /** Starts a stream that runs one ingest `layer` on every micro-batch
    * of `input`. */
  def ingestStream(input: DataFrame, checkpoint: String)(
      layer: (DataFrame, Long) => Long): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        layer(batch, batchId); ()
      }
      .start()
}

/** Streaming incremental corpus ingestion: intra-batch dedup,
  * cross-batch digest suppression, and replay idempotency (TxnLog). */
class CorpusIngestSpec extends SparkSpec {
  import CorpusIngestSpec.ingestStream
  import spark.implicits._

  test("stream ingestion appends each content exactly once across batches") {
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = Files.createTempDirectory("graft-corpus").toString
    val checkpoint = Files.createTempDirectory("graft-corpus-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = ingestStream(input.toDF().toDF("doc_id", "text"), checkpoint)(
      CorpusIngest.ingestBatch(_, _, corpusDir))
    try {
      // batch 0: two distinct contents; 11 duplicates 1's content
      // intra-batch → canonical survivor is min doc_id
      input.addData((1L, "alpha content"), (2L, "beta content"),
        (11L, "alpha content"))
      q.processAllAvailable()
      val after0 = spark.read.parquet(s"$corpusDir/data")
      assert(after0.count() == 2)
      assert(after0.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))

      // batch 1: known content (suppressed) + genuinely new content
      input.addData((3L, "alpha content"), (4L, "gamma content"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(s"$corpusDir/data")
      assert(after1.count() == 3)
      assert(after1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("near-dup ingestion suppresses in-batch and cross-batch near duplicates") {
    val corpusDir = Files.createTempDirectory("graft-corpus-near").toString
    val rich = "the quick brown fox jumps over a lazy dog and then " +
      "the fox runs far away to a quiet den where it rests until dawn " +
      "and a new day begins with the sun rising over a calm valley"
    val other = "an entirely different story about winter mountains " +
      "and the snow that falls there every single year without fail " +
      "covering peaks and valleys in deep white silence until spring"
    // batch 0: rich + its near-dup (in-batch) + one unrelated doc
    val b0 = Seq(
      (1L, rich),
      (2L, rich.replace("calm valley", "calm meadow")),
      (3L, other)).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchNear(b0, 0L, corpusDir) == 2L) // 1 & 3
    val after0 = spark.read.parquet(s"$corpusDir/data")
      .select("doc_id").as[Long].collect().toSet
    assert(after0 == Set(1L, 3L))
    // batch 1: near-dup of stored doc 1 (dropped via the band index),
    // exact dup of stored doc 3 (dropped via digest), one genuinely new
    val b1 = Seq(
      (4L, rich.replace("quiet den", "cozy den")),
      (5L, other),
      (6L, "completely novel content about gardens and the many plants " +
        "that grow there through summer heat and autumn rain alike " +
        "yielding fruit and seed for every season that follows after")
    ).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchNear(b1, 1L, corpusDir) == 1L) // only 6
    val after1 = spark.read.parquet(s"$corpusDir/data")
      .select("doc_id").as[Long].collect().toSet
    assert(after1 == Set(1L, 3L, 6L))
    // band index grew with the survivors only
    val bandDocs = spark.read.parquet(s"$corpusDir/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(bandDocs == Set(1L, 3L, 6L))
    // replay of batch 1 is a txn-log no-op
    assert(CorpusIngest.ingestBatchNear(b1, 1L, corpusDir) == 0L)
  }

  test("a near ingest whose append throws releases the frame it cached") {
    val corpusDir = Files.createTempDirectory("graft-near-fail").toString
    val b0 = Seq((1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchNear(b0, 0L, corpusDir) == 1L)
    // a regular file where the parquet committer puts its staging dir
    // makes the next data append throw after the decision is cached
    Files.createFile(Paths.get(corpusDir, "data", "_temporary"))
    val b1 = Seq((2L, "red green blue cyan magenta yellow black white"))
      .toDF("doc_id", "text")
    // numCachedEntries is spark-private in Scala, public in bytecode
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached() = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val before = cached()
    intercept[Exception](CorpusIngest.ingestBatchNear(b1, 1L, corpusDir))
    assert(cached() == before)
    assert(!graft.sink.EmailJobSink.TxnLog.committed(s"$corpusDir/_txn", 1L))
  }

  test("centroid-path semantic ingestion: frozen-geometry dedup in-batch and cross-batch; stream equals batch") {
    val centDir = Files.createTempDirectory("graft-cent-store").toString + "/c"
    val idxBatch = Files.createTempDirectory("graft-cent-ingest-b").toString
    val idxStream = Files.createTempDirectory("graft-cent-ingest-s").toString
    // frozen geometry trained ONCE on a separate corpus — incoming
    // batches assign against it, never re-cluster
    val training = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 1.0f, 0.0f)
      else Array(0.0f, 1.0f, 0.0f, -1.0f)
      (100L + i, base.map(_ + i * 0.001f))
    }.toDF("vec_id", "embedding")
    graft.ext.CentroidStore.build(training, centDir)
    // batch 0: v1 ≈ v2 (in-batch semantic dup), v3 in the other group
    val b0 = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (2L, Array(0.99f, 0.0f, 1.01f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding")
    val kept0 = CorpusIngest.ingestBatchSemanticCentroid(
      b0, 0L, idxBatch, centDir)
    assert(kept0 == 2L)
    val stored0 = spark.read.parquet(s"$idxBatch/data")
    // survivors carry their frozen-centroid assignment
    assert(stored0.columns.contains("centroid_id"))
    // the in-batch keep decision IS semDedupFrom's over the same
    // frozen assignments — the batch-query geometry, not a separate
    // signature heuristic
    val expectKeep = graft.ext.EmbedOps.semDedupFrom(
        b0, graft.ext.EmbedOps.assignAgainst(
          b0, graft.ext.CentroidStore.centroids(spark, centDir)))
      .filter("keep").select("vec_id").as[Long].collect().toSet
    assert(stored0.select("vec_id").as[Long].collect().toSet == expectKeep)
    // batch 1: v4 ≈ a stored batch-0 survivor in the same cluster
    // (suppressed by the stored-corpus probe), v5 genuinely new
    val b1 = Seq(
      (4L, Array(1.0f, 0.01f, 0.99f, 0.0f)),
      (5L, Array(1.0f, 1.0f, -1.0f, 1.0f))).toDF("vec_id", "embedding")
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b1, 1L, idxBatch, centDir) == 1L)
    val afterB1 = spark.read.parquet(s"$idxBatch/data")
      .select("vec_id").as[Long].collect().toSet
    assert(afterB1 == expectKeep + 5L, afterB1)
    // replay of batch 1 is a txn-log no-op
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b1, 1L, idxBatch, centDir) == 0L)
    // STREAM ≡ BATCH: the same two batches through the streaming
    // entry land the identical corpus (vec_id + centroid_id rows)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val ck = Files.createTempDirectory("graft-cent-ck").toString
    val q = ingestStream(input.toDF().toDF("vec_id", "embedding"), ck)(
      CorpusIngest.ingestBatchSemanticCentroid(_, _, idxStream, centDir))
    try {
      input.addData((1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
        (2L, Array(0.99f, 0.0f, 1.01f, 0.0f)),
        (3L, Array(0.0f, 1.0f, 0.0f, -1.0f)))
      q.processAllAvailable()
      input.addData((4L, Array(1.0f, 0.01f, 0.99f, 0.0f)),
        (5L, Array(1.0f, 1.0f, -1.0f, 1.0f)))
      q.processAllAvailable()
    } finally q.stop()
    def rows(dir: String) = spark.read.parquet(s"$dir/data")
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(idxStream) == rows(idxBatch))
  }

  test("substring ingestion excises duplicated blocks in-batch, cross-batch, and skips replays") {
    val dir = Files.createTempDirectory("graft-substr-ingest").toString
    val block = (1 to 10).map(i => s"b$i").mkString(" ")
    // batch 0: doc 1 carries the block first; doc 2 repeats it —
    // the in-batch pass (phase 2) excises doc 2's copy
    val b0 = Seq(
      (1L, s"p1 p2 p3 $block s1 s2"),
      (2L, s"q1 $block r1 r2 r3")).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchSubstring(b0, 0L, dir, w = 4) == 2L)
    def stored() = spark.read.parquet(s"$dir/data")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stored() == Map(
      1L -> s"p1 p2 p3 $block s1 s2", 2L -> "q1 r1 r2 r3"))
    // batch 1: doc 3 brings the block AGAIN — the stored window
    // index (phase 1) excises it against history; doc 4 is all-new
    val b1 = Seq(
      (3L, s"$block z1 z2 z3"),
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10")).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchSubstring(b1, 1L, dir, w = 4) == 2L)
    assert(stored()(3L) == "z1 z2 z3")
    assert(stored()(4L) == "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10")
    // the index holds the windows of what the corpus ACTUALLY stores:
    // the block's windows appear exactly once (doc 1's copy)
    val wins = spark.read.parquet(s"$dir/wins")
    val blockWin = java.security.MessageDigest.getInstance("MD5")
      .digest("b1 b2 b3 b4".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(wins.filter($"h" === blockWin).count() == 1L)
    // replay of batch 1 is a txn-log no-op
    assert(CorpusIngest.ingestBatchSubstring(b1, 1L, dir, w = 4) == 0L)
    assert(stored().size == 4)
    // crash WINDOW replay: the append landed but the txn marker
    // didn't (delete it to simulate) — the doc-id drain must re-admit
    // NOTHING: without it, stored docs would re-append as empty rows
    // (excised against their own windows) or verbatim (short docs)
    Files.delete(java.nio.file.Paths.get(dir, "_txn", "batch-1"))
    assert(CorpusIngest.ingestBatchSubstring(b1, 1L, dir, w = 4) == 0L)
    assert(stored().size == 4)
    assert(stored()(3L) == "z1 z2 z3")
    // parameter drift is rejected loudly, naming both shapes
    val eW = intercept[IllegalArgumentException] {
      CorpusIngest.ingestBatchSubstring(b1, 9L, dir, w = 6)
    }
    assert(eW.getMessage.contains("w=4") &&
      eW.getMessage.contains("w=6"), eW.getMessage)
  }

  test("substring ingestion heals a wins append lost in the crash window") {
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("graft-substr-heal").toString
    val b0 = Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10")).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchSubstring(b0, 0L, dir, w = 4) == 1L)
    // simulate the crash BETWEEN the data append and the wins append
    // of batch 1: the doc landed in data/, its windows and the txn
    // marker did not
    val crashedText = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"
    Seq((5L, crashedText)).toDF("doc_id", "text")
      .write.mode(SaveMode.Append).parquet(s"$dir/data")
    assert(spark.read.parquet(s"$dir/wins")
      .filter($"doc_id" === 5L).count() == 0L)
    // the replay drains the doc (0 appended) AND heals its windows
    // from the STORED text
    assert(CorpusIngest.ingestBatchSubstring(
      Seq((5L, crashedText)).toDF("doc_id", "text"), 1L, dir, w = 4) == 0L)
    assert(spark.read.parquet(s"$dir/wins")
      .filter($"doc_id" === 5L).count() == 7L) // 10 - 4 + 1 windows
    // and the healed index actually dedups: a later doc repeating the
    // crashed doc's text is excised against it
    assert(CorpusIngest.ingestBatchSubstring(
      Seq((6L, s"x0 $crashedText")).toDF("doc_id", "text"),
      2L, dir, w = 4) == 1L)
    val doc6 = spark.read.parquet(s"$dir/data")
      .filter($"doc_id" === 6L).select("text").as[String].head()
    assert(doc6 == "x0", doc6)
  }

  test("centroid-path bounded probe: keep set equals the full-scan probe at gate scale; audit reads clean") {
    // the r17 weak: the stored-corpus probe joined each batch against
    // the FULL stored cluster — unbounded under frozen centroids. The
    // r18 probe is bounded by the per-cluster representative set;
    // repCap = Int.MaxValue makes EVERY stored row a representative,
    // i.e. the probe IS the full scan — so feeding the same batches at
    // the default cap and at MaxValue pins bounded ≡ full-scan while
    // clusters sit under the cap (every gate corpus).
    val centDir = Files.createTempDirectory("graft-cent-eq").toString + "/c"
    val training = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 1.0f, 0.0f)
      else Array(0.0f, 1.0f, 0.0f, -1.0f)
      (100L + i, base.map(_ + i * 0.001f))
    }.toDF("vec_id", "embedding")
    graft.ext.CentroidStore.build(training, centDir)
    val bounded = Files.createTempDirectory("graft-cent-bnd").toString
    val fullScan = Files.createTempDirectory("graft-cent-full").toString
    val batches = Seq(
      Seq((1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
        (2L, Array(0.99f, 0.0f, 1.01f, 0.0f)),
        (3L, Array(0.0f, 1.0f, 0.0f, -1.0f))),
      Seq((4L, Array(1.0f, 0.01f, 0.99f, 0.0f)),
        (5L, Array(1.0f, 1.0f, -1.0f, 1.0f))),
      Seq((6L, Array(0.0f, 0.99f, 0.01f, -1.0f)),
        (7L, Array(-1.0f, 0.5f, 0.5f, 0.0f))))
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("vec_id", "embedding")
      val kb = CorpusIngest.ingestBatchSemanticCentroid(
        df, i.toLong, bounded, centDir)
      val kf = CorpusIngest.ingestBatchSemanticCentroid(
        df, i.toLong, fullScan, centDir, repCap = Int.MaxValue)
      assert(kb == kf, s"batch $i: bounded kept $kb, full-scan kept $kf")
    }
    def ids(dir: String) = spark.read.parquet(s"$dir/data")
      .select("vec_id").as[Long].collect().toSet
    assert(ids(bounded) == ids(fullScan) && ids(bounded).nonEmpty)
    // under-cap store: every stored row represented, nothing saturated
    val audit = CorpusIngest.semanticProbeAudit(spark, bounded).head()
    assert(audit.getAs[Long]("n_stored") == audit.getAs[Long]("n_reps"))
    assert(audit.getAs[Long]("n_saturated_clusters") == 0L)
    assert(audit.getAs[Long]("n_unrepresented") == 0L)
  }

  test("centroid-path cap saturation: the recall trade is measured by the audit, not silent") {
    val centDir = Files.createTempDirectory("graft-cent-sat").toString + "/c"
    // duplicate-pattern training: identical copies per group make the
    // duplicate centroids IDENTICAL, so every same-pattern test vector
    // tie-breaks to the same (lowest-id) centroid — the assignment is
    // robust by construction, not by numeric accident
    val training = (0 until 12).map { i =>
      val base = if (i < 6) Array(1.0f, 0.0f, 1.0f, 0.0f)
      else Array(0.0f, 1.0f, 0.0f, -1.0f)
      (100L + i, base)
    }.toDF("vec_id", "embedding")
    graft.ext.CentroidStore.build(training, centDir)
    val dir = Files.createTempDirectory("graft-cent-cap1").toString
    // repCap = 1: batch 0 stores two same-cluster members whose mutual
    // cosine sits BELOW the dup threshold (1 vs 8: cos 0.235 < 0.35 —
    // distinct content sharing a coarse bucket); only the first (min
    // vec_id) becomes the representative
    val b0 = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (8L, Array(1.0f, 0.0f, -0.6f, 0.3f))).toDF("vec_id", "embedding")
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b0, 0L, dir, centDir, repCap = 1) == 2L)
    // batch 1: a near-dup of NON-representative 8 (cos ≈ 1.0 to 8,
    // 0.24 to rep 1) slips through — the documented recall trade past
    // the cap...
    val b1 = Seq((9L, Array(1.0f, 0.01f, -0.59f, 0.3f)))
      .toDF("vec_id", "embedding")
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b1, 1L, dir, centDir, repCap = 1) == 1L)
    // ...and the audit REPORTS the exposure: saturated cluster(s),
    // unrepresented stored rows > 0 — the retrain-epoch gate signal
    val audit = CorpusIngest.semanticProbeAudit(spark, dir, repCap = 1)
      .head()
    assert(audit.getAs[Long]("n_saturated_clusters") >= 1L)
    assert(audit.getAs[Long]("n_unrepresented") >= 1L)
    // while a near-dup of the REPRESENTATIVE is still suppressed
    val b2 = Seq((10L, Array(1.0f, 0.001f, 0.999f, 0.0f)))
      .toDF("vec_id", "embedding")
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b2, 2L, dir, centDir, repCap = 1) == 0L)
  }

  test("centroid-path replay drains on vec_id and heals a reps append lost in the crash window") {
    import org.apache.spark.sql.SaveMode
    val centDir = Files.createTempDirectory("graft-cent-heal").toString + "/c"
    val training = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 1.0f, 0.0f)
      else Array(0.0f, 1.0f, 0.0f, -1.0f)
      (100L + i, base.map(_ + i * 0.001f))
    }.toDF("vec_id", "embedding")
    graft.ext.CentroidStore.build(training, centDir)
    val dir = Files.createTempDirectory("graft-cent-heal-ix").toString
    val b0 = Seq((1L, Array(1.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b0, 0L, dir, centDir) == 1L)
    // simulate the crash BETWEEN the data append and the reps append
    // of batch 1: the vector landed in data/ (with its assignment),
    // its representative row and the txn marker did not
    val crashed = Seq((5L, Array(0.0f, 1.0f, 0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val asg5 = graft.ext.EmbedOps.assignAgainst(
      crashed, graft.ext.CentroidStore.centroids(spark, centDir))
    crashed.join(asg5.select($"vec_id", $"centroid_id"), Seq("vec_id"))
      .write.mode(SaveMode.Append).parquet(s"$dir/data")
    assert(spark.read.parquet(s"$dir/reps")
      .filter($"vec_id" === 5L).count() == 0L)
    // the replay drains the vector (0 appended) AND heals its rep row
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      crashed, 1L, dir, centDir) == 0L)
    assert(spark.read.parquet(s"$dir/reps")
      .filter($"vec_id" === 5L).count() == 1L)
    // and the healed rep actually dedups: a later near-dup of the
    // crashed vector is suppressed by the bounded probe
    val b2 = Seq((6L, Array(0.0f, 0.99f, 0.01f, -1.0f)))
      .toDF("vec_id", "embedding")
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b2, 2L, dir, centDir) == 0L)
  }

  test("centroid-path epoch guard: a retrain is rejected loudly; rebucket migrates the corpus to the new geometry") {
    val centDir = Files.createTempDirectory("graft-cent-epoch").toString + "/c"
    def training(n: Int) = (0 until n).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 1.0f, 0.0f)
      else Array(0.0f, 1.0f, 0.0f, -1.0f)
      (100L + i, base.map(_ + i * 0.001f))
    }.toDF("vec_id", "embedding")
    graft.ext.CentroidStore.build(training(12), centDir)
    val dir = Files.createTempDirectory("graft-cent-epoch-ix").toString
    val b0 = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding")
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      b0, 0L, dir, centDir) == 2L)
    // RETRAIN: a fresh epoch re-labels the geometry — stored
    // centroid_ids no longer mean what new assignments mean, so the
    // next ingest must fail LOUDLY naming both epochs (the silent
    // alternative: true neighbors stop colliding, recall evaporates)
    graft.ext.CentroidStore.build(training(10), centDir)
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.ingestBatchSemanticCentroid(
        Seq((5L, Array(1.0f, 0.01f, 0.99f, 0.0f)))
          .toDF("vec_id", "embedding"), 1L, dir, centDir)
    }
    assert(e.getMessage.contains("epoch 0") &&
      e.getMessage.contains("epoch 1") &&
      e.getMessage.contains("rebucket"), e.getMessage)
    // the executable backstop: re-bucket into a FRESH dir under the
    // new geometry (old dir untouched)
    val dir2 = Files.createTempDirectory("graft-cent-epoch-ix2").toString
    assert(CorpusIngest.rebucketSemanticCentroid(
      spark, dir, dir2, centDir) == 2L)
    assert(spark.read.parquet(s"$dir/data").count() == 2L) // untouched
    // suppression works against the MIGRATED corpus under the new
    // epoch: a near-dup of an old doc is dropped, new content lands
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      Seq((5L, Array(1.0f, 0.001f, 0.999f, 0.0f)))
        .toDF("vec_id", "embedding"), 0L, dir2, centDir) == 0L)
    assert(CorpusIngest.ingestBatchSemanticCentroid(
      Seq((6L, Array(1.0f, 1.0f, -1.0f, 1.0f)))
        .toDF("vec_id", "embedding"), 1L, dir2, centDir) == 1L)
    assert(spark.read.parquet(s"$dir2/data")
      .select("vec_id").as[Long].collect().toSet == Set(1L, 3L, 6L))
    // a same-dir rebucket is refused (the old dir must stay readable)
    intercept[IllegalArgumentException] {
      CorpusIngest.rebucketSemanticCentroid(spark, dir2, dir2, centDir)
    }
    // ...including an ALIASED same-dir spelling: '/x/./a' and a
    // symlink twin both canonicalize to dir2, and passing either would
    // let the Overwrite clobber the source (r19 ADVICE pin)
    val aliased = dir2.reverse.replaceFirst("/", "/./".reverse).reverse
    assert(aliased != dir2)
    intercept[IllegalArgumentException] {
      CorpusIngest.rebucketSemanticCentroid(spark, dir2, aliased, centDir)
    }
    val link = Files.createTempDirectory("graft-cent-epoch-ln")
      .resolve("twin")
    Files.createSymbolicLink(link, Paths.get(dir2))
    intercept[IllegalArgumentException] {
      CorpusIngest.rebucketSemanticCentroid(
        spark, dir2, link.toString, centDir)
    }
    // an unstamped dir that already holds data/ is NEVER grandfathered
    // into the current epoch (r19 ADVICE pin): pre-stamp rows were
    // bucketed under an unknown geometry — stamping the store's
    // current epoch onto them would silently mix geometries, so the
    // ingest refuses and directs to rebucketSemanticCentroid
    Files.delete(Paths.get(dir2, "_meta"))
    val g = intercept[IllegalArgumentException] {
      CorpusIngest.ingestBatchSemanticCentroid(
        // orthogonal to every stored vector (cos = 0 to all three) so
        // the batch genuinely tries to append under ANY threshold —
        // the guard sits on the pre-append stamp, which only a
        // non-empty append reaches
        Seq((9L, Array(-1.0f, 1.0f, 1.0f, 1.0f)))
          .toDF("vec_id", "embedding"), 2L, dir2, centDir)
    }
    assert(g.getMessage.contains("no _meta epoch stamp") &&
      g.getMessage.contains("rebucketSemanticCentroid"), g.getMessage)
    // nothing was appended by the refused batch
    assert(spark.read.parquet(s"$dir2/data")
      .select("vec_id").as[Long].collect().toSet == Set(1L, 3L, 6L))
  }

  test("substring wincnt counts track the index; drift is measured, undercount only widens the probe") {
    val dir = Files.createTempDirectory("graft-substr-cnt").toString
    val block = (1 to 10).map(i => s"c$i").mkString(" ")
    val b0 = Seq((1L, s"p1 p2 p3 $block s1 s2")).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchSubstring(b0, 0L, dir, w = 4) == 1L)
    val b1 = Seq((2L, "k1 k2 k3 k4 k5 k6 k7 k8")).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatchSubstring(b1, 1L, dir, w = 4) == 1L)
    // maintained counts == a recount of the stored windows, zero drift
    val a0 = CorpusIngest.substringIndexAudit(spark, dir, occCap = 64).head()
    assert(a0.getAs[Long]("n_hashes") > 0L)
    assert(a0.getAs[Long]("n_hashes_drifted") == 0L)
    assert(a0.getAs[Long]("max_undercount") == 0L)
    // simulate the cnt append lost in ITS crash window (wins landed,
    // wincnt did not): wipe the count table — the audit must REPORT
    // the undercount...
    graft.DirIO.listPaths(java.nio.file.Paths.get(dir, "wincnt"))
      .foreach(p => {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
      })
    val a1 = CorpusIngest.substringIndexAudit(spark, dir, occCap = 64).head()
    assert(a1.getAs[Long]("n_hashes_drifted") > 0L)
    assert(a1.getAs[Long]("max_undercount") > 0L)
    // ...and the probe still EXCISES (undercount = a hash stays
    // eligible; recall is never lost in this direction): a later doc
    // repeating the stored block is still cut against history
    assert(CorpusIngest.ingestBatchSubstring(
      Seq((3L, s"$block z1 z2 z3")).toDF("doc_id", "text"),
      2L, dir, w = 4) == 1L)
    val doc3 = spark.read.parquet(s"$dir/data")
      .filter($"doc_id" === 3L).select("text").as[String].head()
    assert(doc3 == "z1 z2 z3", doc3)
  }

  test("substring meta stamp: first writer wins and the loser's parameters are rejected before any append") {
    val dir = Files.createTempDirectory("graft-substr-race").toString
    // the r17 ADVICE race: two concurrent FIRST-batch writers with
    // different (w, occCap) both pass the top-of-batch validation (no
    // _meta yet); the stamp primitive must admit exactly one, and the
    // loser must fail its re-validation BEFORE its wrong-width windows
    // land. Drive the primitives in the losing order:
    val winner = Map("w" -> "4", "occ_cap" -> "64")
    val other = Map("w" -> "6", "occ_cap" -> "32")
    def mismatch(got: Map[String, String]) =
      s"stamped w=${got("w")}, asked w=${other("w")}"
    CorpusIngest.stamp(dir, winner)
    CorpusIngest.stamp(dir, other)
    // first stamp survives (hard-link create, EEXIST for the loser)
    CorpusIngest.checkStamp(dir, winner)(mismatch) // winner passes
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.checkStamp(dir, other)(mismatch)
    }
    assert(e.getMessage.contains("w=4") && e.getMessage.contains("w=6"),
      e.getMessage)
    // and the losing INGEST therefore lands nothing: its batch fails
    // loudly at the re-validation inside the append section
    val loser = Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8")).toDF("doc_id", "text")
    val eIngest = intercept[IllegalArgumentException] {
      CorpusIngest.ingestBatchSubstring(loser, 2L, dir, w = 6, occCap = 32)
    }
    assert(eIngest.getMessage.contains("w=4") &&
      eIngest.getMessage.contains("w=6"), eIngest.getMessage)
    assert(!graft.DirIO.nonEmpty(s"$dir/data"))
    assert(!graft.DirIO.nonEmpty(s"$dir/wins"))
  }

  test("near ingestion survives a stream restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = Files.createTempDirectory("graft-near-restart").toString
    val checkpoint = Files.createTempDirectory("graft-near-restart-ck").toString
    val rich = "the quick brown fox jumps over a lazy dog and then " +
      "the fox runs far away to a quiet den where it rests until dawn " +
      "and a new day begins with the sun rising over a calm valley"
    val input = MemoryStream[(Long, String)]
    val q1 = ingestStream(input.toDF().toDF("doc_id", "text"), checkpoint)(
      CorpusIngest.ingestBatchNear(_, _, corpusDir))
    try {
      input.addData((1L, rich))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: same checkpoint; the offsets of batch 0 are committed,
    // the band index persists, near-dups of doc 1 keep being suppressed
    val input2 = MemoryStream[(Long, String)]
    input2.addData((1L, rich)) // source replays from its own start
    val q2 = ingestStream(input2.toDF().toDF("doc_id", "text"), checkpoint)(
      CorpusIngest.ingestBatchNear(_, _, corpusDir))
    try {
      input2.addData((2L, rich.replace("calm valley", "calm meadow")))
      q2.processAllAvailable()
      val ids = spark.read.parquet(s"$corpusDir/data")
        .select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L))
    } finally q2.stop()
  }

  test("a replayed micro-batch is skipped by the txn log and changes nothing") {
    val corpusDir = Files.createTempDirectory("graft-corpus-replay").toString
    val batch = Seq((1L, "doc one"), (2L, "doc two")).toDF("doc_id", "text")
    assert(CorpusIngest.ingestBatch(batch, 0L, corpusDir) == 2L)
    // crash-replay of the same batch id: marker exists → no work
    assert(CorpusIngest.ingestBatch(batch, 0L, corpusDir) == 0L)
    // same CONTENT under a new batch id: anti-join layer suppresses it
    assert(CorpusIngest.ingestBatch(batch, 1L, corpusDir) == 0L)
    assert(spark.read.parquet(s"$corpusDir/data").count() == 2)
  }

  test("streaming decontamination reports equal the batch span reports; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-decontam").toString
    val checkpoint = Files.createTempDirectory("graft-decontam-ck").toString
    // the registered benchmark: one 6-token eval question
    val evalDocs = Seq((1000L, "q1 q2 q3 q4 q5 q6")).toDF("doc_id", "text")
    CorpusIngest.writeEvalIndex(evalDocs, dir)

    // corpus docs: A quotes the eval question mid-document, B is clean,
    // C (second batch) quotes it twice with a >5-token gap → two spans
    val docA = (2L, "a1 a2 a3 q1 q2 q3 q4 q5 q6 a4 a5 a6")
    val docB = (3L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12")
    val docC = (4L, "q1 q2 q3 q4 q5 q6 c1 c2 c3 c4 c5 c6 c7 " +
      "q1 q2 q3 q4 q5 q6")
    val input = MemoryStream[(Long, String)]
    val q = ingestStream(input.toDF().toDF("doc_id", "text"), checkpoint)(
      CorpusIngest.decontamBatch(_, _, dir))
    try {
      input.addData(docA, docB)
      q.processAllAvailable()
      input.addData(docC)
      q.processAllAvailable()
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("doc_id"), r.getAs[Int]("n_tokens"),
      r.getAs[Long]("n_matches"), r.getAs[Long]("n_spans"),
      r.getAs[Long]("n_tokens_contaminated"), r.getAs[Long]("clean_milli"))
    val streamed = spark.read.parquet(s"$dir/reports").collect().map(key).toSet

    // stream ≡ batch: the union of per-batch reports must equal one
    // batch run of the SAME core over all docs and the stored index
    val all = Seq(docA, docB, docC).toDF("doc_id", "text")
    val evalIdx = spark.read.parquet(s"$dir/eval_shingles")
    val batchRun = graft.ext.TextOps
      .decontaminateSpansAgainst(all, evalIdx).collect().map(key).toSet
    assert(streamed == batchRun)

    // the reports themselves: A one 6-token span (clean 500‰ of 12
    // tokens), C two spans (12 of 19 contaminated), B absent
    assert(streamed == Set(
      (2L, 12, 1L, 1L, 6L, 500L),
      (4L, 19, 2L, 2L, 12L, 368L)))

    // crash-replay of a committed batch id: marker exists → no work,
    // report table unchanged
    val replayed = Seq(docA, docB).toDF("doc_id", "text")
    assert(CorpusIngest.decontamBatch(replayed, 0L, dir) == 0L)
    assert(spark.read.parquet(s"$dir/reports").count() == 2)
  }

  test("streaming KMV sketch over batches equals the batch sketch over the whole corpus") {
    import org.apache.spark.sql.functions._
    val sketchDir = Files.createTempDirectory("graft-kmv").toString
    val k = 16
    // 3 micro-batches, 30 docs each, with cross-batch duplicate texts
    val batches = (0 until 3).map { b =>
      (0 until 30).map { i =>
        val id = b * 30L + i
        // every 5th doc repeats a batch-0 text → cross-batch dups
        val t = if (i % 5 == 0) s"shared text ${i / 5}" else s"text $b-$i"
        (id, t)
      }.toDF("doc_id", "text")
    }
    // before the first commit: empty estimate, no throw
    assert(CorpusIngest.kmvEstimate(spark, sketchDir, k).count() == 0)
    batches.zipWithIndex.foreach { case (b, i) =>
      CorpusIngest.updateKmvSketch(b, i.toLong, sketchDir, k)
    }
    def storedMins = CorpusIngest.readKmvSketch(spark, sketchDir).get
      .orderBy("hv").as[Long].collect().toSeq
    // batch reference: k smallest distinct hashes of the FULL corpus
    val whole = batches.reduce(_ unionByName _)
      .select(conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
        .cast("bigint").as("hv"))
      .distinct().orderBy("hv").limit(k).as[Long].collect().toSeq
    assert(storedMins == whole) // stream-over-time ≡ batch-over-space
    // txn-log replay of a committed batch id: no work, sketch unchanged
    CorpusIngest.updateKmvSketch(batches(1), 1L, sketchDir, k)
    assert(storedMins == whole)
    // torn rerun (same data, NEW batch id): merge is idempotent,
    // sketch converges to the same value
    CorpusIngest.updateKmvSketch(batches(1), 99L, sketchDir, k)
    assert(storedMins == whole)
    // estimate columns derive from the stored frame
    val est = CorpusIngest.kmvEstimate(spark, sketchDir, k).head
    assert(est.getAs[Long]("k") == k.toLong)
    assert(est.getAs[Long]("vk") == whole.max)
  }

  test("streaming HLL registers over batches equal the batch registers over the whole stream") {
    import org.apache.spark.sql.functions._
    val sketchDir = Files.createTempDirectory("graft-hll").toString
    // 3 micro-batches, 2 types, with cross-batch duplicate users
    val batches = (0 until 3).map { b =>
      (0 until 60).map { i =>
        val u = if (i % 4 == 0) i / 4L else b * 1000L + i // cross-batch dups
        (b * 60L + i, s"t${i % 2}", u)
      }.toDF("event_id", "event_type", "user_id")
    }
    // before the first commit: empty estimate, no throw
    assert(CorpusIngest.hllEstimate(spark, sketchDir).count() == 0)
    batches.zipWithIndex.foreach { case (b, i) =>
      CorpusIngest.updateHllSketch(b, i.toLong, sketchDir)
    }
    def streamed = CorpusIngest.hllEstimate(spark, sketchDir)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("z_empty"), r.getAs[Long]("s_scaled"),
          r.getAs[Double]("hll_est"))).toMap
    // batch reference: registers of the FULL stream in one pass
    val whole = graft.ext.Sketches
      .hllDistinct(batches.reduce(_ unionByName _))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("z_empty"), r.getAs[Long]("s_scaled"),
          r.getAs[Double]("hll_est"))).toMap
    assert(streamed == whole) // stream-over-time ≡ batch-over-space
    // txn-log replay of a committed batch id: no work, registers unchanged
    CorpusIngest.updateHllSketch(batches(1), 1L, sketchDir)
    assert(streamed == whole)
    // torn rerun (same data, NEW batch id): max-merge is idempotent
    // and monotone — registers converge to the same value
    CorpusIngest.updateHllSketch(batches(1), 99L, sketchDir)
    assert(streamed == whole)
  }

  test("streaming quantile sketch over batches equals the batch sketch over the whole stream") {
    val sketchDir = Files.createTempDirectory("graft-qsk").toString
    val k = 32
    // 3 micro-batches x 60 events, 2 types, values interleaved so each
    // batch alone has a different distribution than the whole
    val batches = (0 until 3).map { b =>
      (0 until 60).map { i =>
        val id = b * 60L + i
        (id, s"t${i % 2}", ((id * 13) % 97).toDouble)
      }.toDF("event_id", "event_type", "value")
    }
    // before the first commit: empty estimate, no throw
    assert(CorpusIngest.quantileEstimate(spark, sketchDir, k).count() == 0)
    batches.zipWithIndex.foreach { case (b, i) =>
      CorpusIngest.updateQuantileSketch(b, i.toLong, sketchDir, k)
    }
    def estMap = CorpusIngest.quantileEstimate(spark, sketchDir, k)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("sample_k"), r.getAs[Double]("p50_est"),
          r.getAs[Double]("p99_est"))).toMap
    // batch reference: the sketch of the whole stream in one pass
    val whole = graft.ext.Sketches
      .quantileSketch(batches.reduce(_ unionByName _), k)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("sample_k"), r.getAs[Double]("p50_est"),
          r.getAs[Double]("p99_est"))).toMap
    val streamed = estMap
    assert(streamed == whole) // stream-over-time ≡ batch-over-space
    // txn-log replay of a committed batch id: no work, sketch unchanged
    CorpusIngest.updateQuantileSketch(batches(1), 1L, sketchDir, k)
    assert(estMap == whole)
    // torn rerun (same data, NEW batch id): the (type, event_id) dedup
    // inside the merge makes it idempotent — same sketch
    CorpusIngest.updateQuantileSketch(batches(1), 99L, sketchDir, k)
    assert(estMap == whole)
  }

  test("a torn sketch write without its commit marker is invisible; its replay converges") {
    import org.apache.spark.sql.functions._
    val sketchDir = Files.createTempDirectory("graft-kmv-torn").toString
    val k = 8
    val b0 = (0 until 20).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    CorpusIngest.updateKmvSketch(b0, 0L, sketchDir, k)
    val committed = CorpusIngest.readKmvSketch(spark, sketchDir).get
      .orderBy("hv").as[Long].collect().toSeq
    // simulate a crash MID-WRITE of batch 1: version dir exists with
    // garbage, but no batch-1 marker was ever committed
    val torn = Files.createDirectories(
      java.nio.file.Paths.get(s"$sketchDir/mins-1"))
    Files.writeString(torn.resolve("part-garbage"), "not parquet")
    // readers still see batch 0's committed sketch
    assert(CorpusIngest.readKmvSketch(spark, sketchDir).get
      .orderBy("hv").as[Long].collect().toSeq == committed)
    // the stream replays batch 1: overwrite of the torn dir + commit
    val b1 = (20 until 40).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    CorpusIngest.updateKmvSketch(b1, 1L, sketchDir, k)
    val whole = (b0 unionByName b1)
      .select(conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
        .cast("bigint").as("hv"))
      .distinct().orderBy("hv").limit(k).as[Long].collect().toSeq
    assert(CorpusIngest.readKmvSketch(spark, sketchDir).get
      .orderBy("hv").as[Long].collect().toSeq == whole)
    // below capacity (8 mins of 40 distinct → at capacity here); use a
    // tiny corpus for the refinement: distinct < k → exact estimate
    val tinyDir = Files.createTempDirectory("graft-kmv-tiny").toString
    CorpusIngest.updateKmvSketch(
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text"),
      0L, tinyDir, k)
    val est = CorpusIngest.kmvEstimate(spark, tinyDir, k).head
    assert(est.getAs[Long]("k") == 2L)
    assert(est.getAs[Double]("n_distinct_est") == 2.0) // refinement
  }

  test("streaming CMS counters across batches answer whole-history point queries; replay can't double-count") {
    val sketchDir = Files.createTempDirectory("graft-cms").toString
    val (depth, width) = (4, 256)
    def events(lo: Int, hi: Int) = (lo until hi).map(i =>
      (i.toLong, s"type${i % 5}")).toDF("event_id", "event_type")
    // before the first commit: empty frame, absent keys later → 0
    assert(CorpusIngest.cmsLookup(spark, sketchDir, Seq("type0"),
      depth, width).count() == 0)
    CorpusIngest.updateCmsSketch(events(0, 100), 0L, sketchDir, depth, width)
    CorpusIngest.updateCmsSketch(events(100, 250), 1L, sketchDir, depth, width)
    def lookups = CorpusIngest.cmsLookup(spark, sketchDir,
      Seq("type0", "type1", "type4", "never_seen"), depth, width)
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Long]("cms_est")).toMap
    // exact per-type counts over the full 250-event history
    val exact = (0 until 250).groupBy(i => s"type${i % 5}")
      .map { case (t, xs) => t -> xs.size.toLong }
    val got = lookups
    // CMS never underestimates; at width 256 over 5 types it is exact
    assert(got("type0") == exact("type0") && got("type1") == exact("type1")
      && got("type4") == exact("type4"), s"got $got exact $exact")
    assert(got("never_seen") == 0L) // left join + coalesce, not dropped
    // txn-log replay of batch 1: the position-wise sum is NOT
    // idempotent, so the batch-id guard is what prevents double counts
    CorpusIngest.updateCmsSketch(events(100, 250), 1L, sketchDir, depth, width)
    assert(lookups == got)
  }

  test("TxnLog markers compact into a high-water mark; replay skipping and readers survive") {
    import graft.sink.EmailJobSink.TxnLog
    val sketchDir = Files.createTempDirectory("graft-kmv-compact").toString
    val logDir = s"$sketchDir/_txn"
    val k = 8
    // 6 micro-batches → without compaction, 6 marker files forever
    (0 until 6).foreach { b =>
      val batch = (b * 10 until b * 10 + 10)
        .map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
      CorpusIngest.updateKmvSketch(batch, b.toLong, sketchDir, k)
    }
    // the log keeps one marker, the newest batch id, and mergePublish
    // keeps the two newest version dirs, found without markers
    assert(DirIO.listNames(Paths.get(logDir)) == List("batch-5"))
    assert(TxnLog.highWaterMark(logDir) == 5L)
    assert(DirIO.listNames(Paths.get(sketchDir)).filter(_.startsWith("mins-"))
      .sorted == List("mins-4", "mins-5"))
    // every historical batch id still reads as committed (replay skip)
    (0 until 6).foreach(b => assert(TxnLog.committed(logDir, b.toLong)))
    assert(!TxnLog.committed(logDir, 6L))
    // a replayed compacted batch is a no-op
    val sketchBefore = CorpusIngest.readKmvSketch(spark, sketchDir).get
      .orderBy("hv").as[Long].collect().toSeq
    CorpusIngest.updateKmvSketch(
      Seq((0L, "t0")).toDF("doc_id", "text"), 0L, sketchDir, k)
    assert(CorpusIngest.readKmvSketch(spark, sketchDir).get
      .orderBy("hv").as[Long].collect().toSeq == sketchBefore)
    // readLatest still locates the newest version through the marker
    val whole = (0 until 60).map(i => s"t$i").toDF("text")
      .select(org.apache.spark.sql.functions.conv(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(
            $"text".cast("binary")), 1, 15), 16, 10)
        .cast("bigint").as("hv"))
      .distinct().orderBy("hv").limit(k).as[Long].collect().toSeq
    assert(sketchBefore == whole)
  }

  test("streaming DSIR stats: stream-over-time equals batch-over-space; replay is a no-op") {
    val statsDir = Files.createTempDirectory("graft-dsir").toString
    val targetText = "alpha beta gamma delta"
    val offText = "zeta eta theta iota"
    val batches = Seq(
      Seq((1L, "t", targetText), (10L, "r", targetText), (20L, "r", offText)),
      Seq((2L, "t", targetText), (11L, "r", targetText), (21L, "r", offText)),
      Seq((3L, "t", targetText), (12L, "r", offText)))
      .map(_.toDF("doc_id", "source", "text"))
    batches.zipWithIndex.foreach { case (b, i) =>
      CorpusIngest.updateDsirStats(b, i.toLong, statsDir, Seq("t"), 64)
    }
    val all = batches.reduce(_ unionByName _)
    val raw = all.filter($"source" === "r")
    def streamed = CorpusIngest.dsirScore(spark, statsDir, raw, 64, 10)
      .collect().map(_.toSeq).toSeq
    // batch reference: the resample over the whole corpus in one pass
    val whole = graft.ext.TextOps.dsirResample(all, Seq("t"), 64, 10)
      .collect().map(_.toSeq).toSeq
    assert(streamed == whole && whole.nonEmpty)
    // target-like raw docs outrank off-target ones through the stored stats
    val ranked = streamed.map(_(0).asInstanceOf[Long])
    assert(Set(10L, 11L).subsetOf(ranked.take(2).toSet), ranked)
    // txn-log replay of a committed batch id: the position-wise sum
    // would double-count, so the guard is load-bearing — no-op
    CorpusIngest.updateDsirStats(batches(1), 1L, statsDir, Seq("t"), 64)
    assert(streamed == whole)
  }
}
