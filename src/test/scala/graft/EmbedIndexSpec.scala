package graft

import java.nio.file.{Files, Paths}

import graft.ext.{EmbedIndex, EmbedOps}

/** The persisted IVF-PQ index: parity with the in-session search,
  * exactness of the frozen-codebook incremental append, marker-gated
  * crash atomicity, and the broadcast-only search plan. */
class EmbedIndexSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_idx_$tag")
    d.toFile.deleteOnExit()
    d.toString + "/idx"
  }

  private def emb(rows: (Long, Int, Array[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "embedding")
  }

  /** 40 vectors in 4 dims, 2 labels, clustered per label — enough
    * structure that ADC rankings are non-trivial but tiny enough that
    * every path runs in milliseconds. vec_id 0 is the one query
    * (0 % 97 == 0). */
  private def fixture = {
    val rnd = new scala.util.Random(7)
    emb((0L until 40L).map { id =>
      val label = (id % 2).toInt
      (id, label, Array.tabulate(4)(d =>
        (if (d == label * 2) 1.0f else 0.1f) + rnd.nextFloat() * 0.4f))
    }: _*)
  }

  private def searchSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** A data-dir name without its writer nonce ([[Generations.fresh]]). */
  private def unnonced(name: String) = name.replaceAll("-[0-9a-f]+$", "")

  test("an old-format manifest is upgradable THROUGH build(), not a dead end") {
    // simulate a v1 (pre-epoch) index: a committed manifest without the
    // current format key. Readers must fail loudly naming the remedy;
    // build() must treat it as no-extendable-index and publish a fresh
    // readable generation PAST the legacy ones (so readers pick it up)
    // instead of throwing the same error its message recommends fixing
    // with.
    val dir = tmpDir("upgrade")
    Files.createDirectories(Paths.get(s"$dir/_commits"))
    Files.write(Paths.get(s"$dir/_commits/manifest-3"),
      "high=0\nm=4\ndsub=16\ncents=cents\nsums=sums-0\nsegs=seg-0\n"
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      EmbedIndex.manifest(dir)
    }
    assert(e.getMessage.contains("format 1") &&
      e.getMessage.contains("build()"), e.getMessage)
    // the recommended remedy actually works
    EmbedIndex.build(fixture, dir, m = 2, dsub = 2, ksub = 4)
    val m = EmbedIndex.manifest(dir).get
    assert(m.gen == 4L, s"fresh gen must pass the legacy ones: $m")
    val queries = fixture.filter(
      org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("vec_id", "embedding")
    assert(searchSet(EmbedIndex.search(spark, dir, queries)).nonEmpty)
  }

  test("persisted search equals the in-session IVF-PQ on real data") {
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val dir = tmpDir("real")
    EmbedIndex.build(e, dir)
    val queries = e.filter(org.apache.spark.sql.functions.col("vec_id") % 97 === 0)
      .select("vec_id", "embedding")
    val persisted = searchSet(EmbedIndex.search(spark, dir, queries))
    val inSession = searchSet(
      EmbedOps.ivfPqTopKFrom(e, EmbedOps.trainPq(e),
        coarse = EmbedOps.coarseCentroids(e)))
    assert(persisted.nonEmpty && persisted == inSession)
  }

  test("append encodes with FROZEN codebooks and merges coarse sums exactly") {
    import org.apache.spark.sql.functions.col
    val all = fixture
    val base = all.filter(col("vec_id") % 5 =!= 0)
    val delta = all.filter(col("vec_id") % 5 === 0)
    val dir = tmpDir("incr")
    EmbedIndex.build(base, dir, m = 2, dsub = 2, ksub = 4)
    EmbedIndex.append(delta, dir)
    val st = EmbedIndex.load(spark, dir)
    // codes: identical to a frozen-codebook encode of the FULL corpus
    // (base codes from training + delta codes from append = one encode)
    val expectCodes = EmbedOps.encodePq(all, st.cents, m = 2, dsub = 2)
      .join(all.select(col("vec_id"), col("label")), Seq("vec_id"))
      .collect().map(_.toSeq).toSet
    assert(st.codes.collect().map(_.toSeq).toSet == expectCodes)
    // coarse centroids: the incremental sums merge is EXACT — equal to
    // a from-scratch recompute over base+delta
    val gotCoarse = st.coarse.collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Long](1)).toMap
    val wantCoarse = EmbedOps.coarseCentroids(all).collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Long](1)).toMap
    assert(gotCoarse == wantCoarse)
    // the merged-index search equals a search over directly-computed
    // artifacts of the same (frozen-codebook) semantics
    val queries = all.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding")
    val got = searchSet(EmbedIndex.search(spark, dir, queries))
    val want = searchSet(EmbedOps.ivfPqSearch(queries, st.cents,
      EmbedOps.encodePq(all, st.cents, m = 2, dsub = 2)
        .join(all.select(col("vec_id"), col("label")), Seq("vec_id")),
      EmbedOps.coarseCentroids(all), m = 2, dsub = 2))
    assert(got.nonEmpty && got == want)
  }

  test("two appends produce three visible segments; versioned sums advance") {
    import org.apache.spark.sql.functions.col
    val all = fixture
    val dir = tmpDir("multi")
    EmbedIndex.build(all.filter(col("vec_id") < 20), dir, m = 2, dsub = 2, ksub = 4)
    EmbedIndex.append(all.filter(col("vec_id") >= 20 && col("vec_id") < 30), dir)
    EmbedIndex.append(all.filter(col("vec_id") >= 30), dir)
    val appended = EmbedIndex.manifest(dir).get.segs
    assert(appended.map(unnonced) == Seq("e0-seg-0", "e0-seg-1", "e0-seg-2"))
    val st = EmbedIndex.load(spark, dir)
    assert(st.codes.select("vec_id").distinct().count() == 40)
    // latest sums cover the whole corpus
    val wantCoarse = EmbedOps.coarseCentroids(all).collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Long](1)).toMap
    val gotCoarse = st.coarse.collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Long](1)).toMap
    assert(gotCoarse == wantCoarse)
    // compaction folds the three segments into one in a single
    // manifest swap; results are identical, then vacuum reclaims the
    // dead dirs and the index still serves
    val queries = all.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding")
    val before = searchSet(EmbedIndex.search(spark, dir, queries))
    EmbedIndex.compact(spark, dir)
    val manC = EmbedIndex.manifest(dir).get
    // the fold lives in the cseg namespace; the BATCH high-water mark
    // is untouched (compaction must never consume append segment ids)
    assert(manC.segs.map(unnonced) == Seq("e0-cseg-3") && manC.high == 2L)
    assert(searchSet(EmbedIndex.search(spark, dir, queries)) == before)
    EmbedIndex.vacuum(dir, graceMs = 0L)
    assert(appended.forall(s => !Files.exists(Paths.get(dir, s))))
    assert(searchSet(EmbedIndex.search(spark, dir, queries)) == before)
    // a replayed stream batch whose segment was compacted away is still
    // recognized as committed (the check is against `high`, not the
    // live list): no duplicate append
    EmbedIndex.appendBatch(all.filter(col("vec_id") >= 30), dir, batchId = 1)
    assert(EmbedIndex.manifest(dir).get == manC)
  }

  test("a NEW stream batch arriving after a compaction commits (no silent drop)") {
    import org.apache.spark.sql.functions.col
    val all = fixture
    val dir = tmpDir("postcompact")
    EmbedIndex.build(all.filter(col("vec_id") < 20), dir, m = 2, dsub = 2, ksub = 4)
    EmbedIndex.appendBatch(
      all.filter(col("vec_id") >= 20 && col("vec_id") < 30), dir, batchId = 0)
    EmbedIndex.compact(spark, dir)
    // the documented usage: compact() bounds streamed segments BETWEEN
    // micro-batches. The next batch (id 1 → segment 2) must append —
    // with a shared id namespace the fold would have consumed id 2 and
    // this batch's rows would be silently discarded as a "replay"
    EmbedIndex.appendBatch(all.filter(col("vec_id") >= 30), dir, batchId = 1)
    val st = EmbedIndex.load(spark, dir)
    assert(st.codes.select("vec_id").distinct().count() == 40,
      "the post-compaction micro-batch was dropped")
    assert(EmbedIndex.manifest(dir).get.high == 2L)
    // and the replay of that same batch is still a no-op
    val manAfter = EmbedIndex.manifest(dir).get
    EmbedIndex.appendBatch(all.filter(col("vec_id") >= 30), dir, batchId = 1)
    assert(EmbedIndex.manifest(dir).get == manAfter)
  }

  test("rebuild publishes a new epoch WITHOUT destroying the committed index") {
    import org.apache.spark.sql.functions.col
    val all = fixture
    val dir = tmpDir("rebuild")
    EmbedIndex.build(all.filter(col("vec_id") < 30), dir, m = 2, dsub = 2, ksub = 4)
    val queries = all.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding")
    val gen0 = searchSet(EmbedIndex.search(spark, dir, queries))
    val man0 = EmbedIndex.manifest(dir).get
    // retrain-triggered rebuild over the full corpus: a NEW generation
    // under a NEW epoch prefix — the old generation's data dirs are
    // untouched until vacuum
    EmbedIndex.build(all, dir, m = 2, dsub = 2, ksub = 4)
    val man1 = EmbedIndex.manifest(dir).get
    assert(man1.gen == 1L && man1.epoch == 1L && man1.high == 0L)
    assert(EmbedIndex.load(spark, dir)
      .codes.select("vec_id").distinct().count() == 40)
    // the PRE-REBUILD generation still reads as its historical
    // snapshot (the atomic-replace contract: readers keep serving the
    // previous generation through any rebuild)
    val st0 = EmbedIndex.loadAt(spark, dir, gen = 0)
    assert(st0.codes.select("vec_id").distinct().count() == 30)
    assert(searchSet(graft.ext.EmbedOps.ivfPqSearch(queries, st0.cents,
      st0.codes, st0.coarse, m = 2, dsub = 2)) == gen0)
    // appends keep working against the rebuilt epoch (a fresh stream
    // checkpoint starts at batch 0 → segment 1)
    EmbedIndex.appendBatch(all.filter(col("vec_id") >= 30), dir, batchId = 0)
    assert(EmbedIndex.manifest(dir).get.high == 1L)
    // vacuum reclaims the superseded epoch; gen 0 then fails loudly
    EmbedIndex.vacuum(dir, graceMs = 0L)
    assert((man0.segs :+ man0.cents)
      .forall(s => !Files.exists(Paths.get(dir, s))))
    intercept[IllegalArgumentException] {
      EmbedIndex.loadAt(spark, dir, gen = 0)
    }
    assert(EmbedIndex.load(spark, dir)
      .codes.select("vec_id").distinct().count() == 40)
  }

  test("time-travel: a retained generation reads as its historical snapshot") {
    import org.apache.spark.sql.functions.col
    val all = fixture
    val dir = tmpDir("travel")
    val base = all.filter(col("vec_id") < 30)
    EmbedIndex.build(base, dir, m = 2, dsub = 2, ksub = 4)
    val queries = all.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding")
    val atGen0 = searchSet(EmbedOps.ivfPqSearch(queries,
      EmbedIndex.load(spark, dir).cents, EmbedIndex.load(spark, dir).codes,
      EmbedIndex.load(spark, dir).coarse, m = 2, dsub = 2))
    EmbedIndex.append(all.filter(col("vec_id") >= 30), dir)
    // current generation sees the append; gen 0 still reads the
    // pre-append snapshot, byte-identical
    val st0 = EmbedIndex.loadAt(spark, dir, gen = 0)
    assert(st0.codes.select("vec_id").distinct().count() == 30)
    assert(searchSet(EmbedOps.ivfPqSearch(queries, st0.cents, st0.codes,
      st0.coarse, m = 2, dsub = 2)) == atGen0)
    assert(EmbedIndex.load(spark, dir).codes
      .select("vec_id").distinct().count() == 40)
    // vacuum retains only the current generation; gen 0 now fails loudly
    EmbedIndex.vacuum(dir, graceMs = 0L)
    intercept[IllegalArgumentException] {
      EmbedIndex.loadAt(spark, dir, gen = 0)
    }
  }

  test("two builders racing one empty index: every round's committed generation serves exactly the winner's rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("graft_idx_race")
    val ranges = Seq(0L until 20L, 20L until 40L)
    val rows = ranges.map(r =>
      fixture.filter(col("vec_id") >= r.start && col("vec_id") < r.end))
    val won = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val rounds = 8
    val (_, none) = GenerationsSpec.race(root, rounds) { (target, body) =>
      val w = body.stripPrefix("writer-").toInt
      try {
        EmbedIndex.build(rows(w), target.toString, m = 2, dsub = 2, ksub = 4)
        won.add(target.toString -> w)
        true
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("concurrent builder") => false
      }
    }
    assert(none == 0, s"$none rounds committed no build")
    (0 until rounds).foreach { r =>
      val dir = root.resolve(f"$r%08d").toString
      val winners = won.toArray(Array.empty[(String, Int)])
        .collect { case (`dir`, w) => ranges(w).toSet }
      val served = EmbedIndex.load(spark, dir).codes
        .select("vec_id").as[Long].collect().toSet
      assert(winners.contains(served), s"round $r serves ${served.toSeq.sorted}")
    }
  }

  test("a torn append (data dirs without a manifest, abandoned manifest temp) is invisible") {
    import org.apache.spark.sql.functions.col
    val all = fixture
    val dir = tmpDir("torn")
    EmbedIndex.build(all.filter(col("vec_id") < 30), dir, m = 2, dsub = 2, ksub = 4)
    val queries = all.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding")
    val before = searchSet(EmbedIndex.search(spark, dir, queries))
    // torn write: segment + sums dirs exist but no manifest generation
    // ever referenced them
    Files.createDirectories(Paths.get(dir, "e0-seg-1"))
    Files.createDirectories(Paths.get(dir, "e0-sums-1"))
    // abandoned manifest temp (writer died before the atomic rename):
    // not a manifest, never read
    Files.write(Paths.get(dir, "_commits", ".manifest-9.tmp"),
      "epoch=0\nhigh=9\nm=2\ndsub=2\ncents=e0-cents\nsums=e0-sums-9\nsegs=e0-seg-9\n"
        .getBytes("UTF-8"))
    assert(EmbedIndex.manifest(dir).get.segs.map(unnonced) == Seq("e0-seg-0"))
    assert(searchSet(EmbedIndex.search(spark, dir, queries)) == before)
  }

  test("a pre-v2 manifest fails loudly instead of being reinterpreted") {
    val dir = tmpDir("oldfmt")
    Files.createDirectories(Paths.get(dir, "_commits"))
    // the r13 (format-1) manifest layout: no format key, numeric segs
    Files.write(Paths.get(dir, "_commits", "manifest-0"),
      "high=0\nsums=0\nsegs=0\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { EmbedIndex.manifest(dir) }
    assert(e.getMessage.contains("manifest format 1"))
  }

  test("appendBatch is replay-safe: a re-delivered batch id commits nothing new") {
    import org.apache.spark.sql.functions.col
    val all = fixture
    val dir = tmpDir("replay")
    EmbedIndex.build(all.filter(col("vec_id") < 30), dir, m = 2, dsub = 2, ksub = 4)
    val delta = all.filter(col("vec_id") >= 30)
    EmbedIndex.appendBatch(delta, dir, batchId = 0)
    val afterFirst = EmbedIndex.load(spark, dir).codes.count()
    // crash-replay of the same micro-batch: same id, same data
    EmbedIndex.appendBatch(delta, dir, batchId = 0)
    assert(EmbedIndex.manifest(dir).get.segs.map(unnonced) ==
      Seq("e0-seg-0", "e0-seg-1"))
    assert(EmbedIndex.load(spark, dir).codes.count() == afterFirst)
    // a batch id AHEAD of the high-water mark (skipped batches — a
    // desynced checkpoint) must fail loudly, not leave a silent gap
    intercept[IllegalArgumentException] {
      EmbedIndex.appendBatch(delta, dir, batchId = 5)
    }
  }

  test("streaming maintenance: per-batch appends converge to the batch-built state") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = fixture
    val dir = tmpDir("stream")
    EmbedIndex.build(all.filter(col("vec_id") < 20), dir, m = 2, dsub = 2, ksub = 4)
    val rows = all.filter(col("vec_id") >= 20).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val input = MemoryStream[(Long, Int, Array[Float])]
    val ckpt = Files.createTempDirectory("graft_idx_ckpt").toString
    val q = EmbedIndex.startAppend(
      input.toDF().toDF("vec_id", "label", "embedding"), dir, ckpt)
    try {
      input.addData(rows.filter(_._1 < 30).toSeq)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 >= 30).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val st = EmbedIndex.load(spark, dir)
    assert(st.codes.select("vec_id").distinct().count() == 40)
    // the streamed index's coarse state equals a from-scratch recompute
    val wantCoarse = EmbedOps.coarseCentroids(all).collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Long](1)).toMap
    val gotCoarse = st.coarse.collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Long](1)).toMap
    assert(gotCoarse == wantCoarse)
  }

  test("persisted search plan is broadcast-only: no shuffle join, no cartesian") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("plan")
    EmbedIndex.build(fixture, dir, m = 2, dsub = 2, ksub = 4)
    val queries = fixture.filter(col("vec_id") % 97 === 0)
      .select("vec_id", "embedding")
    val plan = EmbedIndex.search(spark, dir, queries)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
  }
}
