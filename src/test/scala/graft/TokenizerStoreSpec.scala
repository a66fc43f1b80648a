package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.ext.{TextOps, TokenizerStore}

/** The persisted BPE tokenizer artifact: load-path parity with the
  * in-memory trained merges, deterministic vocabulary ids, and the
  * manifest protocol's crash-atomicity / format-guard / retrain-epoch
  * pins — mirroring EmbedIndexSpec, which shares the commit
  * discipline. */
class TokenizerStoreSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_tok_$tag")
    d.toFile.deleteOnExit()
    d.toString + "/tok"
  }

  /** A corpus whose 3-round merge sequence is unambiguous: "ab" wins
    * round 1 (freq 6), then "abc" (4), then "de" (3). */
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "abc abc abd"),
      (2L, "abc abc de"),
      (3L, "de de ab"))
      .toDF("doc_id", "text")
  }

  test("loaded merges reproduce the in-memory training bit-for-bit") {
    val dir = tmpDir("parity")
    TokenizerStore.build(corpus, dir, rounds = 3)
    val trained = TextOps.bpeTrainMerges(corpus, rounds = 3)
      .collect().map(_.toSeq).toSet
    val loaded = TokenizerStore.merges(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(loaded == trained && loaded.size == 3, loaded)
  }

  test("encode through the store equals the in-memory encode path") {
    val dir = tmpDir("encode")
    TokenizerStore.build(corpus, dir, rounds = 3)
    val viaStore = TextOps.bpeEncodeFrom(corpus,
      TokenizerStore.merges(spark, dir))
      .collect().map(_.toSeq).toSet
    val inMemory = TextOps.bpeEncodeFrom(corpus,
      TextOps.bpeTrainMerges(corpus, rounds = 3))
      .collect().map(_.toSeq).toSet
    assert(viaStore == inMemory && viaStore.nonEmpty)
  }

  test("vocabulary: binary-sorted base alphabet then merges in rank order, ids dense") {
    val dir = tmpDir("vocab")
    TokenizerStore.build(corpus, dir, rounds = 3)
    val v = TokenizerStore.vocab(spark, dir)
      .orderBy(col("token_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // alphabet of the corpus: a b c d e
    assert(v.take(5).toSeq == Seq(
      (0L, "a", "base"), (1L, "b", "base"), (2L, "c", "base"),
      (3L, "d", "base"), (4L, "e", "base")), v.toSeq)
    assert(v.drop(5).map(t => (t._2, t._3)).toSeq ==
      Seq(("ab", "merged"), ("abc", "merged"), ("de", "merged")), v.toSeq)
    assert(v.map(_._1).toSeq == (0L until v.length.toLong), "dense ids")
  }

  test("a torn build (data dirs + manifest temp, no committed manifest) is invisible") {
    val dir = tmpDir("torn")
    TokenizerStore.build(corpus, dir, rounds = 2)
    val before = TokenizerStore.merges(spark, dir)
      .collect().map(_.toSeq).toSet
    // torn writer: orphan data dirs no manifest references, plus an
    // abandoned manifest temp (died before the atomic rename)
    Files.createDirectories(Paths.get(dir, "e1-merges"))
    Files.createDirectories(Paths.get(dir, "e1-vocab"))
    Files.write(Paths.get(dir, "_commits", ".manifest-1.tmp"),
      "format=1\nepoch=1\nrounds=2\nmerges=e1-merges\nvocab=e1-vocab\n"
        .getBytes("UTF-8"))
    val m = TokenizerStore.manifest(dir).get
    assert(m.gen == 0L && m.merges.startsWith("e0-merges-"), m)
    assert(TokenizerStore.merges(spark, dir)
      .collect().map(_.toSeq).toSet == before)
  }

  test("a future-format manifest fails loudly instead of being reinterpreted") {
    val dir = tmpDir("fmt")
    Files.createDirectories(Paths.get(dir, "_commits"))
    Files.write(Paths.get(dir, "_commits", "manifest-0"),
      "format=99\nepoch=0\nrounds=3\nmerges=e0-merges\nvocab=e0-vocab\n"
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { TokenizerStore.manifest(dir) }
    assert(e.getMessage.contains("format 99") &&
      e.getMessage.contains("build()"), e.getMessage)
  }

  test("an unversioned legacy manifest is upgradable THROUGH build(), not a dead end") {
    val dir = tmpDir("upgrade")
    Files.createDirectories(Paths.get(dir, "_commits"))
    // no format key at all — reads as format 0, a loud error naming
    // the remedy; build() must start PAST the legacy generations
    Files.write(Paths.get(dir, "_commits", "manifest-3"),
      "epoch=0\nrounds=3\nmerges=merges\nvocab=vocab\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { TokenizerStore.manifest(dir) }
    assert(e.getMessage.contains("format 0"), e.getMessage)
    TokenizerStore.build(corpus, dir, rounds = 2)
    val m = TokenizerStore.manifest(dir).get
    assert(m.gen == 4L, s"fresh gen must pass the legacy ones: $m")
    assert(TokenizerStore.merges(spark, dir).count() == 2L)
  }

  test("bpeIdsFrom: hand-computed id streams through the stored merges + vocab") {
    val dir = tmpDir("ids")
    TokenizerStore.build(corpus, dir, rounds = 3)
    // vocab: a..e = 0..4, ab = 5, abc = 6, de = 7. Encodings:
    //   abc -> [abc] = [6]; abd -> [ab, d] = [5,3]; de -> [7]; ab -> [5]
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = graft.ext.TextOps.bpeIdsFrom(corpus,
      TokenizerStore.merges(spark, dir), TokenizerStore.vocab(spark, dir))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2))).toMap
    assert(got(1L) == (4L, md5hex("6,6,5,3"))) // abc abc abd
    assert(got(2L) == (3L, md5hex("6,6,7")))   // abc abc de
    assert(got(3L) == (3L, md5hex("7,7,5")))   // de de ab
  }

  test("retrain publishes a new epoch; the old generation stays time-travel-able; vacuum reclaims") {
    val dir = tmpDir("retrain")
    TokenizerStore.build(corpus, dir, rounds = 2)
    val gen0 = TokenizerStore.merges(spark, dir)
      .collect().map(_.toSeq).toSet
    TokenizerStore.build(corpus, dir, rounds = 3)
    val m1 = TokenizerStore.manifest(dir).get
    assert(m1.gen == 1L && m1.epoch == 1L && m1.rounds == 3, m1)
    assert(TokenizerStore.merges(spark, dir).count() == 3L)
    // time travel: generation 0 still reads as its historical snapshot
    assert(TokenizerStore.mergesAt(spark, dir, 0L)
      .collect().map(_.toSeq).toSet == gen0)
    // vacuum keeps every dir a committed generation references (both
    // epochs are still referenced), drops only orphans + temps
    Files.createDirectories(Paths.get(dir, "e9-merges"))
    TokenizerStore.vacuum(dir)
    assert(!Files.exists(Paths.get(dir, "e9-merges")))
    assert(TokenizerStore.mergesAt(spark, dir, 0L).count() == 2L)
    assert(TokenizerStore.merges(spark, dir).count() == 3L)
  }

  test("tokenizerFertility: hand-computed per-language fertility; consistent with bpeIdsFrom") {
    import spark.implicits._
    val dir = tmpDir("fertility")
    // lang-tagged twin of the fixture: merges ab, abc, de
    val d = Seq(
      (1L, "en", "abc abc abd"),  // abc=1 tok, abc=1, abd=[ab,d]=2
      (2L, "en", "abc abc de"),   // 1 + 1 + de=1
      (3L, "fr", "de de ab"))     // 1 + 1 + ab=1
      .toDF("doc_id", "lang", "text")
    TokenizerStore.build(d, dir, rounds = 3)
    val merges = TokenizerStore.merges(spark, dir)
    val got = TextOps.tokenizerFertility(d, merges).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("fertility_milli"),
          r.getAs[Long]("chars_per_token_milli"))).toMap
    assert(got("en") == ((2L, 6L, 7L, 17L, 7000L / 6, 17000L / 7)))
    assert(got("fr") == ((1L, 3L, 3L, 6L, 1000L, 2000L)))
    // consistency law: per-lang token totals equal the per-doc id
    // stream's counts summed over the language
    val perDoc = TextOps.bpeIdsFrom(d, merges, TokenizerStore.vocab(spark, dir))
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    assert(perDoc(1L) + perDoc(2L) == got("en")._3)
    assert(perDoc(3L) == got("fr")._3)
  }
}
