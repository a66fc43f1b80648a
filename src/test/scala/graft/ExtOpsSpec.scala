package graft

import org.apache.spark.sql.functions._

import graft.ext.{Analytics, DedupOps, EmbedOps, Scored, TextOps, TopK}

/** Behavior tests of the extension operators on tiny controlled frames. */
class ExtOpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup maps duplicates to the minimum doc_id") {
    val d = DedupOps.exactDups(docs(
      1L -> "alpha beta gamma", 2L -> "alpha beta gamma", 3L -> "other text here"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_doc_id"), r.getAs[Boolean]("is_duplicate"))).toMap
    assert(d(1L) == (1L, false))
    assert(d(2L) == (1L, true))
    assert(d(3L) == (3L, false))
  }

  test("minhash finds near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tonight"
    val far = "completely different content about database engines and query plans"
    val pairs = DedupOps.minhashNearDups(
      docs(1L -> base, 2L -> near, 3L -> far), threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("funnel counts users by deepest stage reached, in order") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val events = Seq(
      // user 1: full funnel in order → depth 3
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // user 2: purchase BEFORE the first view doesn't count; click after
      // the view does → depth 2
      (2L, ts(1), "purchase"), (2L, ts(2), "view"), (2L, ts(3), "click"),
      // user 3: only a view → depth 1
      (3L, ts(1), "view"),
      // user 4: no view at all → never enters the funnel
      (4L, ts(1), "click"))
      .toDF("user_id", "ts", "event_type")
    val got = graft.ext.EventOps.funnel(events)
      .collect().map(r => r.getAs[Int]("funnel_stage") -> r.getAs[Long]("n_users")).toMap
    assert(got == Map(3 -> 1L, 2 -> 1L, 1 -> 1L))
  }

  test("retentionCohorts builds the cohort matrix with exact shares") {
    import spark.implicits._
    def ts(d: String) = java.sql.Timestamp.valueOf(s"2024-01-$d 12:00:00")
    // 1992-base week buckets split at 2024-01-03: Jan 1-2 are one week,
    // Jan 3-9 the next
    val events = Seq(
      (1L, ts("01")), (1L, ts("09")),   // active weeks 0 and 1
      (2L, ts("02")),                   // week 0 only
      (3L, ts("08")), (3L, ts("09")))   // joins in week 1, one week active
      .toDF("user_id", "ts")
    val got = graft.ext.EventOps.retentionCohorts(events)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val w0 = got.keys.map(_._1).min
    assert(got((w0, 0L)) == (2L, 2L, 1.0))       // cohort of 2, both at offset 0
    assert(got((w0, 1L)) == (1L, 2L, 0.5))       // one of them returns
    assert(got((w0 + 1, 0L)) == (1L, 1L, 1.0))   // week-1 joiner
    assert(!got.contains((w0 + 1, 1L)))
  }

  test("repetition flags degenerate 3-gram loops and clears diverse text") {
    import spark.implicits._
    val r = graft.ext.TextOps.repetition(Seq(
      (1L, "spam spam spam spam spam"),   // 3 grams, all identical
      (2L, "a b c d e"))                  // 3 grams, all distinct
      .toDF("doc_id", "text"))
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_grams"), x.getAs[Long]("n_distinct"),
         x.getAs[Long]("top_count"), x.getAs[Double]("dup_ratio"))).toMap
    assert(r(1L) == (3L, 1L, 3L, 2.0 / 3.0))
    assert(r(2L) == (3L, 3L, 1L, 0.0))
  }

  test("simhash is identical for identical token multisets") {
    val s = DedupOps.simhash(docs(
      1L -> "a b c d e f g h", 2L -> "a b c d e f g h", 3L -> "x y z w v u t s"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash32")).toMap
    assert(s(1L) == s(2L))
    assert(s(1L) != s(3L))
  }

  test("cosine of identical vectors is 1.0 and tops the ranking") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f), 0),
      (97L, Array(1.0f, 0.0f, 2.0f), 0),   // query — 97 % 97 == 0
      (5L, Array(-1.0f, 0.5f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = EmbedOps.bruteForceTopK(emb, k = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    val (bestId, bestCos) = top((97L, 1))
    assert(bestId == 0L)
    assert(math.abs(bestCos - 1.0) < 1e-12)
  }

  test("token stats and quality score are sane") {
    val r = TextOps.stats(docs(1L -> "the cat sat on a mat")
      .withColumn("lang", lit("en"))).head
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("n_stopwords") == 2) // "the " + "a "
    val q = TextOps.qualityScore(docs(1L -> "the cat sat on a mat")).head
    val score = q.getAs[Double]("quality_score")
    assert(score > 0.0 && score <= 1.0)
  }

  test("q1 pricing aggregates one group correctly") {
    import spark.implicits._
    val li = Seq(
      ("A", "F", 10.0, 100.0, 0.10, 0.05, java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
      ("A", "F", 20.0, 200.0, 0.00, 0.00, java.sql.Timestamp.valueOf("1995-01-02 00:00:00")))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate")
    val r = Analytics.pricingSummary(li).head
    // money sums are rendered as canonical full-scale decimal strings
    assert(r.getAs[String]("sum_qty") == "30.00")
    assert(r.getAs[String]("sum_base_price") == "300.00")
    // disc_price = 100*0.9 + 200*1.0 = 290; charge = 90*1.05 + 200 = 294.5
    assert(r.getAs[String]("sum_disc_price") == "290.0000")
    assert(r.getAs[String]("sum_charge") == "294.500000")
    assert(r.getAs[Long]("count_order") == 2L)
  }

  test("basket pairs: support counts, Apriori prune is semantics-free, exact lift") {
    import spark.implicits._
    // 4 orders; parts (1,2) co-occur 3x, (1,3) once, part 9 below support
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 9L),
      (200L, 1L), (200L, 2L),
      (300L, 1L), (300L, 2L),
      (400L, 1L), (400L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val out = Analytics.basketPairs(li, minSupport = 3L).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) == ((1L, 2L)))
    assert(r.getAs[Long]("support") == 3L)
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 3L)
    // lift = (3 pairs * 4 orders * 1000) div (4 * 3)
    assert(r.getAs[Long]("lift_milli") == 1000L)
    assert(r.getAs[Int]("rank") == 1)
  }

  test("basket pairs: an oversized basket is excluded entirely and loudly counted") {
    import spark.implicits._
    // an organic pattern — (1,2) co-occur in 3 small orders — plus one
    // pathological crawler cart: order 999 holds cap+1 distinct parts,
    // which uncapped would emit (cap+1)·cap/2 pairs on its own, every
    // one clearing minSupport = 1
    val cap = 8
    val organic = Seq(
      (100L, 1L), (100L, 2L),
      (200L, 1L), (200L, 2L),
      (300L, 1L), (300L, 2L))
    val cart = (0 until cap + 1).map(i => (999L, 1000L + i))
    val li = (organic ++ cart).toDF("l_orderkey", "l_partkey")
    val out = Analytics.basketPairs(li, minSupport = 1L, k = 1000,
      maxBasket = cap).collect()
    // pair output is bounded by cap²: the cart's parts contribute
    // NOTHING — not pairs, not supports, not the order universe
    assert(out.length <= cap * cap)
    assert(!out.exists(r => r.getAs[Long]("part_a") >= 1000L ||
      r.getAs[Long]("part_b") >= 1000L))
    val r = out.find(x => x.getAs[Long]("part_a") == 1L &&
      x.getAs[Long]("part_b") == 2L).get
    assert(r.getAs[Long]("support") == 3L)
    // n_orders excludes the dropped cart → lift over the capped universe
    assert(r.getAs[Long]("lift_milli") == 1000L) // (3*3*1000) div (3*3)
    // the loud part: the drop count rides on every output row
    assert(out.forall(_.getAs[Long]("orders_dropped") == 1L))
    // and with a generous cap nothing is dropped
    val uncapped = Analytics.basketPairs(li, minSupport = 1L, k = 1000,
      maxBasket = 1024).collect()
    assert(uncapped.forall(_.getAs[Long]("orders_dropped") == 0L))
    assert(uncapped.exists(r => r.getAs[Long]("part_a") >= 1000L))
  }

  test("q14 promo share: conditional decimal sums and the exact percentage") {
    import spark.implicits._
    val part = Seq((1L, "PROMO"), (2L, "STANDARD")).toDF("p_partkey", "p_type")
    val li = Seq(
      // in-window: promo 100.00 at 10% disc → 90.00; standard 50.00 → 45.00
      (1L, "1995-09-10 00:00:00", 100.0, 0.10),
      (2L, "1995-09-20 00:00:00", 50.0, 0.10),
      // out-of-window row must be filtered
      (1L, "1995-10-02 00:00:00", 999.0, 0.0))
      .toDF("l_partkey", "ship", "l_extendedprice", "l_discount")
      .withColumn("l_shipdate", col("ship").cast("timestamp"))
    val r = Analytics.promoRevenue(part, li).collect().head
    assert(r.getAs[String]("promo_revenue") == "90.0000")
    assert(r.getAs[String]("total_revenue") == "135.0000")
    assert(r.getAs[Double]("promo_pct") == 100.0 * 90.0 / 135.0)
    assert(r.getAs[Long]("n_items") == 2L)
  }

  test("cube emits the full grouping lattice incl. grand total") {
    import spark.implicits._
    val o = Seq(("O", "1-URGENT", 10.0), ("O", "2-HIGH", 20.0), ("F", "1-URGENT", 30.0))
      .toDF("o_orderstatus", "o_orderpriority", "o_totalprice")
    val r = Analytics.statusPriorityCube(o).collect()
    assert(r.length == 3 + 2 + 2 + 1) // cells + per-status + per-priority + total
    val total = r.find(x => x.isNullAt(0) && x.isNullAt(1)).get
    assert(total.getAs[String]("revenue") == "60.00")
    assert(total.getAs[Long]("n_orders") == 3L)
  }

  test("near-dup clusters merge transitive pairs to the min doc_id") {
    // 1~2 and 2~3 are near-dups (one-token edits), 1~3 may or may not
    // pair directly — the component must still merge all three; 4 is far
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = DedupOps.nearDupClusters(docs(
      1L -> base,
      2L -> base.replace("today", "tonight"),
      3L -> base.replace("quick", "slow"),
      4L -> "completely different content about database engines and query plans"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Boolean]("is_canonical")))).toMap
    assert(d(1L) == ((1L, 3L, true)))
    assert(d(2L) == ((1L, 3L, false)))
    assert(d(3L) == ((1L, 3L, false)))
    assert(d(4L) == ((4L, 1L, true)))
  }

  test("cluster propagation closes a pairwise-similar chain (multi-hop)") {
    // doc_i shares 14 of 15 tokens with doc_{i+1} only — a pure chain:
    // 1-2-3-4-5; closing it requires transitive propagation, not one hop
    val words = (0 until 20).map(i => s"w$i")
    val chain = (1L to 5L).map { i =>
      i -> words.slice(i.toInt - 1, i.toInt + 14).mkString(" ")
    }
    val d = DedupOps.nearDupClusters(docs(chain: _*))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(d.values.toSet == Set(1L), s"chain not fully merged: $d")
  }

  test("salted two-phase aggregation equals the single-phase groupBy") {
    import spark.implicits._
    val e = (1L to 1000L).map(i => (i, s"type${i % 3}", (i % 7).toDouble / 2))
      .toDF("event_id", "event_type", "value")
    val salted = graft.ext.Skew.saltedTypeCounts(e, salts = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val plain = e.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("string").as("s"))
      .orderBy($"event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("GraftSql serves registered tables and native functions to SQL text") {
    val dir = "/root/testdata/sf0.001"
    val n = GraftSql.sql(spark, dir,
      "SELECT count(*) AS n FROM lineitem").head.getLong(0)
    assert(n > 0)
    val c = GraftSql.sql(spark, dir, """
      SELECT cosine_sim(embedding, embedding) AS c FROM embeddings LIMIT 1""")
      .head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-6)
  }

  test("length histogram buckets fixed widths, folds the tail, and conserves totals") {
    import spark.implicits._
    // 10/60/620-token docs (1-char words → 1 bpe token each): buckets
    // 0, 1, and the cap (620 div 50 = 12 → folded to 9)
    val d = Seq(
      (0L, "en", Seq.fill(10)("w").mkString(" ")),
      (1L, "en", Seq.fill(60)("w").mkString(" ")),
      (2L, "en", Seq.fill(620)("w").mkString(" ")),
      (3L, "de", Seq.fill(60)("w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.lengthHistogram(d).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bucket")) ->
        (r.getAs[Long]("bucket_lo"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens_total")))
      .toMap
    assert(out(("en", 0L)) == ((0L, 1L, 10L)))
    assert(out(("en", 1L)) == ((50L, 1L, 60L)))
    assert(out(("en", 9L)) == ((450L, 1L, 620L))) // tail folded to cap
    assert(out(("de", 1L)) == ((50L, 1L, 60L)))
    assert(out.values.map(_._3).sum == 10 + 60 + 620 + 60) // mass conserved
  }

  test("session funnel splits journeys at the gap and counts per-session depths") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 session A: view+click (depth 2); >30min gap; session B:
    // purchase only (no view → not counted). u2: one session with the
    // full chain (depth 3). u3: view then click 31min later — the gap
    // SPLITS them: session of view = depth 1, click session uncounted.
    val rows = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, t("2024-01-01 10:10:00"), 1L, "click", 0.0, "{}"),
      (3L, t("2024-01-01 11:00:00"), 1L, "purchase", 0.0, "{}"),
      (4L, t("2024-01-01 09:00:00"), 2L, "view", 0.0, "{}"),
      (5L, t("2024-01-01 09:05:00"), 2L, "click", 0.0, "{}"),
      (6L, t("2024-01-01 09:10:00"), 2L, "purchase", 0.0, "{}"),
      (7L, t("2024-01-01 08:00:00"), 3L, "view", 0.0, "{}"),
      (8L, t("2024-01-01 08:31:00"), 3L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ext.EventOps.sessionFunnel(rows).collect()
      .map(r => r.getAs[Int]("funnel_stage") -> r.getAs[Long]("n_sessions")).toMap
    // u1 sessA depth 2 (purchase is 50min after click → next session,
    // which has no view), u2 depth 3, u3 first session depth 1
    assert(out == Map(2 -> 1L, 3 -> 1L, 1 -> 1L), s"got $out")
  }

  test("tfidf ranks a rare term above a corpus-wide term of equal tf") {
    import spark.implicits._
    // "shared" appears in every doc (idf bits = 0); "distinct0" only in
    // doc 0 — same tf within doc 0, so the idf weight decides
    val d = (0L to 7L).map(i =>
      (i, s"shared shared distinct$i distinct$i filler$i")).toDF("doc_id", "text")
    val out = TextOps.tfidfTerms(d, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tfidf_bits"))).toMap
    // N=8 docs → bin length 4; df(shared)=8 → bits 0; df(distinct0)=1 → bits 3
    assert(out((0L, 1))._1 == "distinct0")
    assert(out((0L, 1))._2 == 2 * 3)
    assert(!out.exists { case ((_, r), (t, _)) => t == "shared" && r == 1 })
  }

  test("BM25: rational idf favors the rare term; tf saturates sublinearly") {
    import spark.implicits._
    // equal dl=6 isolates idf and saturation; df(rare)=1, df(common)=8
    val d = Seq(
      (0L, "rare common f0 f0 f0 f0"),
      (1L, "common x1 x1 x1 x1 x1"),
      (2L, "common common common common x2 x2")).++(
      (3L to 7L).map(i => (i, s"common y$i y$i y$i y$i y$i")))
      .toDF("doc_id", "text")
    val out = TextOps.bm25TopDocs(d, query = Seq("rare", "common"), k = 8)
      .collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_hit"), r.getAs[Long]("score"))).toMap
    // T=48, N=8, dl=6 → core(tf)=1e6·2112·tf div (960·tf+1152);
    // idf: rare = 17000 div 3 = 5666, common = 17000 div 17 = 1000
    assert(out.head.getAs[Long]("doc_id") == 0L) // rare-term doc wins
    assert(byDoc(0L) == ((2L, 5666L * 1000000 + 1000L * 1000000)))
    // saturation: 4× the tf buys well under 4× the score
    val s1 = byDoc(1L)._2.toDouble
    val s2 = byDoc(2L)._2.toDouble
    assert(s2 > s1 && s2 < 4 * s1, s"tf=4 score $s2 vs tf=1 $s1")
    // tied scores (docs 1,3..7) break deterministically by doc_id
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ==
      Seq(0L, 2L, 1L, 3L, 4L, 5L, 6L, 7L))
  }

  test("key-skew report: hot key first, exact fixed-point ratios") {
    import spark.implicits._
    // user 1: 60 rows; users 2..11: 4 rows each → 100 rows, 11 keys
    val e = ((0 until 60).map(i => (i.toLong, 1L)) ++
      (0 until 40).map(i => (100L + i, 2L + i % 10)))
      .toDF("event_id", "user_id")
    val out = graft.ext.Skew.keySkewReport(e, key = "user_id", n = 5).collect()
    assert(out.length == 5)
    val top = out.head
    assert(top.getAs[Long]("user_id") == 1L && top.getAs[Long]("cnt") == 60L)
    assert(top.getAs[Long]("share_ppm") == 600000L)
    assert(top.getAs[Long]("n_keys") == 11L)
    assert(top.getAs[Long]("max_cnt") == 60L)
    assert(top.getAs[Long]("mean_cnt_x1000") == 9090L) // 100000 div 11
    assert(top.getAs[Long]("skew_x1000") == 6600L) // 1000·60·11 div 100
    // cnt ties (4 each) break by user_id ascending
    assert(out.drop(1).map(_.getAs[Long]("user_id")).toSeq ==
      Seq(2L, 3L, 4L, 5L))
  }

  test("table profile: exact nulls, cardinalities and ranges in one row") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf(_: String)
    val e = Seq(
      (1L, t("2024-01-01 00:00:00"), 7L, "click", 1.5, "{}"),
      (2L, t("2024-01-02 00:00:00"), 7L, "view", -2.0, null),
      (3L, t("2024-01-03 00:00:00"), 9L, null, 4.25, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.ext.Diagnostics.tableProfile(e).head
    assert(r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[Long]("n_null_event_type") == 1L)
    assert(r.getAs[Long]("n_null_props") == 1L)
    assert(r.getAs[Long]("n_null_user_id") == 0L)
    assert(r.getAs[Long]("n_distinct_user_id") == 2L)
    assert(r.getAs[Long]("n_distinct_event_type") == 2L) // nulls excluded
    assert(r.getAs[Long]("min_user_id") == 7L)
    assert(r.getAs[Long]("max_user_id") == 9L)
    assert(r.getAs[Double]("min_value") == -2.0)
    assert(r.getAs[Double]("max_value") == 4.25)
    assert(r.getAs[java.sql.Timestamp]("max_ts") == t("2024-01-03 00:00:00"))
  }

  test("mixture sample is deterministic and keeps ≈rate per source") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val d = (0L until 4000L).map { i =>
      val src = s"s${i % 2}"
      (i, src, Seq.fill(20)("tok").mkString(" "))
    }.toDF("doc_id", "source", "text")
    def run() = TextOps.mixtureSample(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"))).toSet
    val got = run()
    assert(run() == got) // key-pure: identical on re-run
    // two equal-token sources → weight 0.5 each → ~50% kept per source
    val bySrc = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc.keySet == Set("s0", "s1"))
    bySrc.values.foreach(n => assert(math.abs(n - 1000) < 150, s"per-source kept $n"))
  }

  test("value anomalies flag exactly the planted outlier") {
    import spark.implicits._
    // 200 clicks near 10.0 plus one at 500; a different type's values
    // spread wide enough that 500 there would NOT be an outlier
    val rows = (1L to 200L).map(i =>
      (i, "click", 10.0 + (i % 5) * 0.1)) ++ Seq((666L, "click", 500.0)) ++
      (300L to 320L).map(i => (i, "spread", (i - 300) * 100.0))
    val df = rows.map { case (id, t, v) =>
      (id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ext.EventOps.valueAnomalies(df, z = 3.0).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
    assert(out.toSeq == Seq((666L, "click")), s"got ${out.toSeq}")
  }

  test("integer PageRank matches a driver-side reference and ranks the hub highest") {
    import spark.implicits._
    // star: 0 at the center of 1..4, plus the isolated 9
    val nodes = (0L to 4L).toDF("id").unionAll(Seq(9L).toDF("id"))
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val got = graft.ext.Graph.pageRank(nodes, pairs, iters = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_scaled")).toMap

    // reference: same integer recurrence, incl. the dangling share
    val scale = 1000000000000L
    val n = 6L
    val edges = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L).flatMap(e => Seq(e, e.swap))
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = (Seq(0L, 1L, 2L, 3L, 4L, 9L).map(_ -> scale / n)).toMap
    for (_ <- 1 to 3) {
      val dm = r.collect { case (id, rv) if !deg.contains(id) => rv }.sum
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = r.keys.map(id => id ->
        ((15 * (scale / n)) / 100 +
          (85 * (inflow.getOrElse(id, 0L) + dm / n)) / 100)).toMap
    }
    assert(got == r)
    assert(got(0L) > got(1L)) // the hub outranks the spokes
    assert(got(9L) < got(1L)) // isolated: dangling share only, no inflow
  }

  test("PageRank fixed-point early exit is result-identical to running all rounds") {
    import spark.implicits._
    // a symmetric 2-clique reaches its integer fixed point immediately
    // (both nodes keep Scale/2 by symmetry), so iters=40 must return
    // exactly the iters=2 frame — and do so via the early exit rather
    // than 38 more join rounds (this test completing in seconds, not
    // minutes, IS the observable)
    val nodes = Seq(0L, 1L).toDF("id")
    val pairs = Seq((0L, 1L)).toDF("a", "b")
    def run(iters: Int) = graft.ext.Graph.pageRank(nodes, pairs, iters)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_scaled")).toMap
    val few = run(2)
    val many = run(40)
    assert(few == many)
  }

  test("directed PageRank with a sink conserves total mass within the quantization leak") {
    import spark.implicits._
    // chain 0 → 1 → 2 plus isolated 7: node 2 and 7 are sinks; without
    // dangling redistribution their inflow mass drains every round.
    val nodes = Seq(0L, 1L, 2L, 7L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = graft.ext.Graph.pageRankDirected(nodes, edges, iters = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_scaled")).toMap
    val scale = 1000000000000L
    val total = got.values.sum
    // each round truncates ≤1 unit per div: base, share, damped term,
    // and per-edge contribution → a generous 4·(n+edges)·iters bound,
    // microscopic against Scale = 10¹²
    val leakBound = 4L * (4 + 2) * 3
    assert(total <= scale && total >= scale - leakBound,
      s"mass $total drifted from $scale by more than $leakBound")
    // the sink-fed node still outranks the chain head (it has inflow)
    assert(got(2L) > got(0L))
  }

  test("SQ8 codes stay in int8 range and reconstruction error is bounded by scale/2 per dim") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 30L).map(id =>
      (id, Array.fill(64)(rnd.nextFloat() * 4f - 2f), "x")) :+
      ((30L, Array.fill(64)(0.05f), "x")) // small-magnitude: scale=1, exact roundtrip
    val out = EmbedOps.scalarQuantize8(vecs.toDF("vec_id", "embedding", "label"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("scale"), r.getAs[Long]("max_code"), r.getAs[Long]("err2"))).toMap
    out.foreach { case (id, (scale, maxCode, err2)) =>
      assert(maxCode <= 127, s"vec $id code $maxCode out of int8 range")
      // per-dim rounding error ≤ scale/2 → err2 ≤ 64·(scale/2+1)²
      assert(err2 <= 64L * (scale / 2 + 1) * (scale / 2 + 1), s"vec $id err2 $err2 scale $scale")
    }
    // quantized values ≤ 127 in magnitude → scale 1 → lossless
    assert(out(30L)._1 == 1L && out(30L)._3 == 0L)
  }

  test("unigram surprisal gives rare-token docs more bits than boilerplate") {
    import spark.implicits._
    val d = Seq(
      (0L, "x", "common common common common"),
      (1L, "x", "common common rareword unique")).toDF("doc_id", "lang", "text")
    val out = TextOps.unigramSurprisal(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
          r.getAs[Double]("bits_per_token"))).toMap
    // N=8 total tokens: "common"×6 (bits = len(bin 8)-len(bin 6) = 4-3 = 1),
    // "rareword"/"unique" ×1 (bits = 4-1 = 3)
    assert(out(0L) == ((4L, 4L, 1.0)))
    assert(out(1L)._2 == (1 + 1 + 3 + 3))
    assert(out(1L)._3 > out(0L)._3)
  }

  test("packSequences tiles the per-lang token stream exactly, splitting long docs") {
    import spark.implicits._
    // lang "a": 5+8+10 = 23 tokens → with seqLen=8, sequences 0,1 full
    // (8 each) and 2 partial (7); doc 2 (10 tokens at offset 13) must
    // SPLIT across sequences 1 and 2
    val d = Seq(
      (0L, "a", Seq.fill(5)("w").mkString(" ")),   // 5 bpe tokens (len-1 words)
      (1L, "a", Seq.fill(8)("w").mkString(" ")),
      (2L, "a", Seq.fill(10)("w").mkString(" ")),
      (3L, "b", Seq.fill(3)("w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.packSequences(d, seqLen = 8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("seq_id"), r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end")))
    // every doc's spans cover [0, n_tokens) contiguously
    val byDoc = out.groupBy(_._1)
    assert(byDoc(2L).map(t => t._5 - t._4).sum == 10)
    assert(byDoc(2L).map(_._3).sorted.toSeq == Seq(1L, 2L)) // the split
    // every sequence holds exactly seqLen tokens except the last per lang
    val perSeq = out.groupBy(t => (t._2, t._3))
      .map { case (k, ts) => k -> ts.map(t => t._5 - t._4).sum }
    assert(perSeq(("a", 0L)) == 8 && perSeq(("a", 1L)) == 8 && perSeq(("a", 2L)) == 7)
    assert(perSeq(("b", 0L)) == 3)
  }

  test("two-phase global prefix sum equals the single-window cumsum at any partition count") {
    import spark.implicits._
    val d = (0L until 200L).map(i =>
      (i, "x", Seq.fill((i % 7 + 1).toInt)("word").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    def result(parts: Int) = TextOps.globalTokenShards(d, budget = 64, partitions = parts)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("tok_offset"), r.getAs[Long]("shard_id"))).toSet
    val one = result(1) // one partition = trivially the global cumsum
    assert(result(5) == one)
    assert(result(32) == one)
    // a narrow downstream coalesce pipelines all range partitions into
    // ONE task — the partition key must be data-derived (a task-id key
    // collapses to 0 and zeroes every partition offset; this is the
    // exact shape of Verify's coalesce(1)-before-write)
    val coalesced = TextOps.globalTokenShards(d, budget = 64, partitions = 32)
      .coalesce(1).collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("tok_offset"), r.getAs[Long]("shard_id"))).toSet
    assert(coalesced == one)
    // offsets are the exclusive prefix sum of per-doc token counts
    val counts = (0L until 200L).map(i => i -> (i % 7 + 1)).toMap
    val want = (0L until 200L).scanLeft(0L) { case (acc, i) => acc + counts(i) }
    one.foreach { case (id, off, sh) =>
      assert(off == want(id.toInt)); assert(sh == off / 64)
    }
  }

  test("bigram top-k matches a driver-side count with deterministic ties") {
    import spark.implicits._
    val d = Seq(
      (0L, "en", "a b a b c"),
      (1L, "en", "a b x"),
      (2L, "de", "z z z")).toDF("doc_id", "lang", "text")
    val got = TextOps.bigrams(d, k = 2).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("bigram"), r.getAs[Long]("n"))).toMap
    // en pairs: "a b"×3 ("a b","b a","a b" from doc0 → a-b, b-a, a-b, b-c; doc1 → a-b, b-x)
    // counts: "a b"=3, "b a"=1, "b c"=1, "b x"=1 → rank1 = "a b", rank2 = tie → "b a"
    assert(got(("en", 1)) == ("a b", 3L))
    assert(got(("en", 2)) == ("b a", 1L))
    assert(got(("de", 1)) == ("z z", 2L))
  }

  test("typed top-K aggregator keeps K best with deterministic ties") {
    import spark.implicits._
    val ds = Seq(
      Scored("g1", "a", 0.9), Scored("g1", "b", 0.8), Scored("g1", "c", 0.95),
      Scored("g1", "d", 0.8), Scored("g2", "x", 0.1)).toDS()
    val out = TopK.topKPerKey(ds, 3).collect().toMap
    assert(out("g1") == Seq("c", "a", "b")) // 0.8 tie: "b" beats "d"
    assert(out("g2") == Seq("x"))
  }

  test("approx percentiles stay within the sketch's rank-error bound of the exact form") {
    import spark.implicits._
    val o = (1 to 6000).map { i =>
      (s"S${i % 3}", (i * 37 % 5000) + 1.0, i.toLong)
    }.toDF("o_orderstatus", "o_totalprice", "o_orderkey")
    val exact = Analytics.statusPercentiles(o).collect()
      .map(r => r.getAs[String]("order_status") ->
        Seq("p50_price", "p90_price", "p99_price").map(c =>
          BigDecimal(r.getAs[String](c)).toDouble)).toMap
    val approx = Analytics.statusPercentilesApprox(o, accuracy = 10000).collect()
    assert(approx.length == 3)
    approx.foreach { r =>
      val e = exact(r.getAs[String]("order_status"))
      val a = Seq("p50_price", "p90_price", "p99_price").map(c => r.getAs[Double](c))
      // accuracy=10000 on 2000-row groups → rank error < 1 → values of
      // nearby ranks; the fixture's value step is ~2.5/rank, so 1% of
      // the exact value comfortably covers the bound
      a.zip(e).foreach { case (av, ev) =>
        assert(math.abs(av - ev) <= math.max(ev * 0.01, 5.0), s"approx=$av exact=$ev")
      }
    }
  }

  test("approx distinct customers stays within 5% of exact") {
    import spark.implicits._
    val o = (1 to 5000).map(i => (s"P${i % 3}", (i % 700).toLong))
      .toDF("o_orderpriority", "o_custkey")
    Analytics.approxDistinctCustomers(o).collect().foreach { r =>
      val approx = r.getAs[Long]("approx_customers").toDouble
      val exact = r.getAs[Long]("exact_customers").toDouble
      assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
    }
  }

  test("paragraph dedup keeps first corpus occurrence, drops cross- and within-doc repeats") {
    val segA = (1 to 8).map(i => s"a$i").mkString(" ")
    val segB = (1 to 8).map(i => s"b$i").mkString(" ")
    val segC = (1 to 8).map(i => s"c$i").mkString(" ")
    val r = TextOps.paragraphDedup(docs(
        1L -> s"$segA $segB",     // both novel
        2L -> s"$segA $segC",     // segA is doc 1's — dropped
        3L -> s"$segC $segC"))    // first C is doc 2's; second repeats in-doc
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_segments"), x.getAs[Long]("n_kept"),
         x.getAs[Long]("n_dropped"), x.getAs[Double]("dup_seg_frac"))).toMap
    assert(r(1L) == (2L, 2L, 0L, 0.0))
    assert(r(2L) == (2L, 1L, 1L, 0.5))
    assert(r(3L) == (2L, 0L, 2L, 1.0))
  }

  test("dup segments reports within-doc duplicate-segment and duplicate-char fractions") {
    // 3 four-token segments, first two identical: 7+7+7 chars, 7 duplicated
    val r = TextOps.dupSegments(docs(
        1L -> "a b c d a b c d e f g h",
        2L -> "p q r s t u v w"))       // no repeats
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_segments"), x.getAs[Long]("n_distinct"),
         x.getAs[Double]("dup_seg_frac"), x.getAs[Double]("dup_char_frac"))).toMap
    assert(r(1L) == (3L, 2L, 1.0 / 3, 1.0 / 3))
    assert(r(2L) == (2L, 2L, 0.0, 0.0))
  }

  test("dup spans: cross-doc windows at any alignment count, within-doc repeats don't") {
    val run = (1 to 8).map(i => s"w$i").mkString(" ")   // shared 8-token run
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val r = TextOps.dupSpans(docs(
        1L -> s"$run x y",      // run at pos 0; 10 tokens, 3 spans
        2L -> s"z $run",        // same run at pos 1 — different alignment
        3L -> "a b c d e f g",  // 7 tokens: no span at all
        4L -> s"$rep $rep"))    // within-doc repeat only: not cross-doc
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_spans"),
         x.getAs[Long]("dup_spans"), x.getAs[Long]("dup_tokens"),
         x.getAs[Double]("dup_span_frac"), x.getAs[Double]("dup_token_frac"))).toMap
    assert(r(1L) == (10L, 3L, 1L, 8L, 1.0 / 3, 0.8))
    assert(r(2L) == (9L, 2L, 1L, 8L, 0.5, 8.0 / 9))
    assert(r(3L) == (7L, 0L, 0L, 0L, 0.0, 0.0))
    assert(r(4L)._3 == 0L)  // 16 tokens, 9 spans, zero DUPLICATED spans
  }

  test("quality model score is key-pure, bounded, and counts bigram features") {
    val r = TextOps.qualityModelScore(docs(
        1L -> "the quick brown fox", 2L -> "the quick brown fox", 3L -> "solo"))
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_features"), x.getAs[Long]("score_sum"),
         x.getAs[Double]("model_score"))).toMap
    assert(r(1L) == r(2L))                      // pure function of the text
    assert(r(1L)._1 == 3L)                      // n_tokens - 1 bigrams
    assert(r(3L)._1 == 1L)                      // single-token doc: 1 feature
    r.values.foreach { case (n, s, m) =>
      assert(m == s.toDouble / (n * 1000))
      assert(m >= -1.0 && m <= 1.0)
    }
  }

  test("minhash estimator eval: exact 1.0 on identical docs, bounded error, FPs kept") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs(1L -> base, 2L -> base,
      3L -> "the quick brown fox jumps over the lazy dog again and again tonight",
      4L -> "completely different content about database engines and query plans")
    val sigs = DedupOps.minhashSignatures(d).cache()
    val out = DedupOps.minhashEstimateEvalFrom(
      DedupOps.shingleSets(d), sigs, DedupOps.bandKeysFrom(sigs))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Int]("matches"), r.getAs[Double]("est_jaccard"),
         r.getAs[Double]("jaccard"), r.getAs[Double]("abs_err"))).toMap
    // identical docs: every signature position matches, both jaccards 1
    assert(out((1L, 2L)) == ((8, 1.0, 1.0, 0.0)))
    // the near pair is a candidate; its estimate is a valid fraction and
    // err is consistent with the two reported values
    assert(out.contains((1L, 3L)) || out.contains((2L, 3L)))
    out.values.foreach { case (m, est, j, err) =>
      assert(m >= 0 && m <= 8 && est == m / 8.0)
      assert(j >= 0.0 && j <= 1.0)
      assert(err == math.abs(est - j))
    }
    // the unrelated doc never collides with the near-dup group
    assert(!out.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("top paths: per-user ordered 3-step windows, cross-user counts") {
    import spark.implicits._
    val ev = Seq(
      // user 1: v>c>p, c>p>v   user 2: v>c>p   user 3: only 2 events
      (1L, "2024-01-01 00:00:01", 1L, "view"),
      (2L, "2024-01-01 00:00:02", 1L, "click"),
      (3L, "2024-01-01 00:00:03", 1L, "purchase"),
      (4L, "2024-01-01 00:00:04", 1L, "view"),
      (5L, "2024-01-01 00:00:01", 2L, "view"),
      (6L, "2024-01-01 00:00:02", 2L, "click"),
      (7L, "2024-01-01 00:00:03", 2L, "purchase"),
      (8L, "2024-01-01 00:00:01", 3L, "view"),
      (9L, "2024-01-01 00:00:02", 3L, "click"))
      .toDF("event_id", "t", "user_id", "event_type")
      .withColumn("ts", col("t").cast("timestamp"))
    val m = ext.EventOps.topPaths(ev).collect()
      .map(r => r.getAs[String]("path") ->
        (r.getAs[Long]("n"), r.getAs[Int]("rank"))).toMap
    assert(m("view>click>purchase") == ((2L, 1)))
    assert(m("click>purchase>view") == ((1L, 2)))
    assert(m.size == 2)  // user 3 has no 3-step window
  }

  test("upsert merge: max-version wins, ops labeled insert/update/keep") {
    // ids 1..5: 3 gets an update (%3), 5 spawns an insert (%5)
    val d = docs(1L -> "one", 2L -> "two", 3L -> "drow", 4L -> "four", 5L -> "five")
    val m = ext.Corpus.upsertMerge(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("version"), r.getAs[String]("op"))).toMap
    assert(m(1L) == ((1L, "keep")))
    assert(m(3L) == ((2L, "update")))   // reversed text wins at v2
    assert(m(10000005L) == ((2L, "insert")))
    assert(m.size == 6)  // 5 snapshot keys + 1 insert
  }

  test("vocab encode: df-ranked ids, OOV zeros, position-ordered fingerprint") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = docs(1L -> "a b c", 2L -> "a b a")
    // df: a=2, b=2, c=1 → vocab(2) = {a→1, b→2}; c is OOV
    val m = TextOps.vocabEncodeFrom(TextOps.termFrequencies(d), d, vocabSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
         r.getAs[Double]("oov_rate"), r.getAs[String]("ids_md5"))).toMap
    assert(m(1L) == ((3L, 1L, 1.0 / 3, md5hex("1,2,0"))))
    assert(m(2L) == ((3L, 0L, 0.0, md5hex("1,2,1"))))
  }

  test("triangle stats: forward counting matches hand-counted graphs") {
    import spark.implicits._
    def stats(edges: (Long, Long)*) = {
      val df = edges.toSeq.toDF("doc_a", "doc_b")
      ext.Graph.triangleStats(df).collect().head
    }
    // triangle + pendant: T=1, degrees (2,2,3,1) → wedges 1+1+3+0=5
    val r1 = stats(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L)
    assert(r1.getAs[Long]("n_vertices") == 4L)
    assert(r1.getAs[Long]("n_edges") == 4L)
    assert(r1.getAs[Long]("n_wedges") == 5L)
    assert(r1.getAs[Long]("n_triangles") == 1L)
    assert(r1.getAs[Double]("global_clustering") == 3.0 / 5)
    // K4: every wedge closes — T=4, wedges=12, coefficient exactly 1
    val r2 = stats(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    assert(r2.getAs[Long]("n_triangles") == 4L)
    assert(r2.getAs[Long]("n_wedges") == 12L)
    assert(r2.getAs[Double]("global_clustering") == 1.0)
    // star hub: wedges but no triangles → coefficient 0
    val r3 = stats(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L)
    assert(r3.getAs[Long]("n_triangles") == 0L)
    assert(r3.getAs[Long]("n_wedges") == 6L)
    assert(r3.getAs[Double]("global_clustering") == 0.0)
  }

  test("embedding norm profile: exact per-label counts, dims, and norm stats") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),   // n2 = 1000²
      (2L, Array(0.0f, 2.0f), 0),   // n2 = 2000²
      (3L, Array(1.0f, 1.0f), 1))   // n2 = 2·1000²
      .toDF("vec_id", "embedding", "label")
    val m = EmbedOps.normProfile(e).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Int]("min_dims"), r.getAs[Int]("max_dims"),
         r.getAs[Long]("min_norm2"), r.getAs[Long]("max_norm2"),
         r.getAs[Long]("sum_norm2"), r.getAs[Double]("mean_norm2"))).toMap
    assert(m(0) == ((2L, 2, 2, 1000000L, 4000000L, 5000000L, 2500000.0)))
    assert(m(1) == ((1L, 2, 2, 2000000L, 2000000L, 2000000L, 2000000.0)))
  }

  private def langDocs(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("collocations rank the always-together pair by exact integer lift") {
    // en corpus: 12 tokens, 'peanut butter' adjacent 3×; every other
    // adjacent pair occurs < 3 times and is suppressed by minPair.
    val out = TextOps.collocations(langDocs(
        (1L, "peanut butter x y", "en"),
        (2L, "peanut butter x z", "en"),
        (3L, "peanut butter y z", "en")))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("t1") == "peanut" && r.getAs[String]("t2") == "butter")
    assert(r.getAs[Long]("n_pair") == 3L)
    assert(r.getAs[Long]("n_t1") == 3L && r.getAs[Long]("n_t2") == 3L)
    // lift_milli = (3 · 12 · 1000) div (3 · 3)
    assert(r.getAs[Long]("lift_milli") == 4000L)
    assert(r.getAs[Int]("rank") == 1)
  }

  test("unigram entropy: zero for a constant stream, log2(n) bits for uniform") {
    val m = TextOps.unigramEntropy(langDocs(
        (1L, "a a a a", "en"),     // N=4, one type → 0 bits
        (2L, "a b c d", "de")))    // N=4, uniform over 4 → 2 bits/token
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
         r.getAs[Long]("total_bits"), r.getAs[Double]("bits_per_token"),
         r.getAs[Double]("type_token_ratio"))).toMap
    assert(m("en") == (4L, 1L, 0L, 0.0, 0.25))
    assert(m("de") == (4L, 4L, 8L, 2.0, 1.0))
  }

  test("quality gate keeps the per-lang top 75% and drops the low tail") {
    // Four docs with strictly increasing quality (longer + more diverse
    // + stopwords); ceil(0.75·4) = 3 → the single worst doc is dropped.
    val out = TextOps.qualityGate(langDocs(
        (1L, "x x", "en"),
        (2L, "the quick brown fox jumps", "en"),
        (3L, "the quick brown fox jumps over a lazy dog today", "en"),
        (4L, "the quick brown fox jumps over a lazy dog while the sun " +
          "sets behind a quiet hill and evening birds return home", "en")))
      .collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[Long]("n_lang") == 4L))
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Double]("quality_score"), r.getAs[Boolean]("keep"))).toMap
    val worst = byId.minBy(_._2._1)._1
    assert(worst == 1L && !byId(1L)._2)
    assert(Seq(2L, 3L, 4L).forall(byId(_)._2))
    // threshold is the 3rd-highest score — every survivor is ≥ it
    val thr = out.head.getAs[Double]("threshold")
    assert(byId.filter(_._2._2).values.forall(_._1 >= thr))
  }

  test("pii scrub counts and masks emails, phones, and IPs; clean text untouched") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val m = TextOps.piiScrub(langDocs(
        (1L, "contact me.now+x@sub.example.com today", "en"),
        (2L, "call +1-555-0100 or 555-123-4567 now", "en"),
        (3L, "server 10.0.0.1 and 192.168.1.255 up", "en"),
        (4L, "perfectly clean text here", "en")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"),
         r.getAs[Int]("n_ips"), r.getAs[Boolean]("has_pii"),
         r.getAs[String]("scrubbed_md5"))).toMap
    assert(m(1L)._1 == 1 && m(1L)._4)
    assert(m(1L)._5 == md5hex("contact <EMAIL> today"))
    assert(m(2L)._2 == 1 && m(2L)._4)  // +1-555-0100 is not a 3-3/4-4 shape
    assert(m(2L)._5 == md5hex("call +1-555-0100 or <PHONE> now"))
    assert(m(3L)._3 == 2 && m(3L)._4)
    assert(m(3L)._5 == md5hex("server <IP> and <IP> up"))
    assert(m(4L) == ((0, 0, 0, false, md5hex("perfectly clean text here"))))
  }

  test("containment catches a contained doc that symmetric Jaccard misses") {
    val long = "the quick brown fox jumps over the lazy dog near the quiet " +
      "river bank at dawn every single day"
    val contained = long.split(" ").drop(8).mkString(" ") // suffix: J≈0.53
    val other = "completely different content about database engines today"
    val d = docs(1L -> long, 2L -> contained, 3L -> other)
    val cont = DedupOps.containmentPairs(d, threshold = 0.6).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) == ((1L, 2L)))
    assert(r.getAs[Double]("containment") == 1.0) // all of doc 2 is in doc 1
    // the symmetric measure at the same cut rejects this pair
    val jac = DedupOps.ngramJaccardPairs(d, threshold = 0.6).collect()
    assert(!jac.exists(x => x.getAs[Long]("doc_a") == 1L &&
      x.getAs[Long]("doc_b") == 2L))
  }

  test("equi-depth histogram matches ntile semantics without a global window") {
    import spark.implicits._
    // 23 rows, 10 buckets → q=2, r=3: buckets 1-3 hold 3 rows, 4-10 hold 2
    val orders = (1 to 23).map(i =>
        (i.toLong, 1L, "O", i * 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val h = graft.ext.Diagnostics.equiDepthHistogram(orders, buckets = 10,
        partitions = 4)
      .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Double]("lo"),
        r.getAs[Double]("hi"), r.getAs[Long]("n_rows")))
    assert(h.length == 10)
    assert(h.take(3).forall(_._4 == 3L) && h.drop(3).forall(_._4 == 2L))
    assert(h.head == ((1, 10.0, 30.0, 3L)))
    assert(h.last == ((10, 220.0, 230.0, 2L)))
    // buckets tile the sorted domain: each lo is the previous hi + 10
    assert(h.sliding(2).forall { case Array(a, b) => b._2 > a._3; case _ => true })
  }

  test("batch perceptron reproduces the hand-computed training trajectory") {
    import spark.implicits._
    // doc1: en, x=[1,2,0,0], y=+1 ; doc2: de, x=[1,3,0,0], y=-1
    // r1: w=0 → all margins 0 → 2 mistakes, w=[0,-1,0,0]
    // r2: doc1 margin -2 (mistake), doc2 margin +3 → w=[1,1,0,0]
    // r3: doc1 margin +3, doc2 margin -4 (mistake) → w=[0,-2,0,0]
    val d = Seq((1L, "aa bb", "en"), (2L, "cc dd ee", "de"))
      .toDF("doc_id", "text", "lang")
    val t = TextOps.perceptronTrain(d, rounds = 3)
      .collect().map(r => r.getAs[Int]("round") ->
        (r.getAs[Long]("n_mistakes"), r.getAs[Long]("w0"),
         r.getAs[Long]("w1"), r.getAs[Long]("w2"), r.getAs[Long]("w3"))).toMap
    assert(t(1) == ((2L, 0L, -1L, 0L, 0L)))
    assert(t(2) == ((1L, 1L, 1L, 0L, 0L)))
    assert(t(3) == ((1L, 0L, -2L, 0L, 0L)))
  }

  test("span decontamination merges overlapping hits and counts excised tokens") {
    // doc 11 is the benchmark (doc_id % 11 == 0); doc 1 embeds the
    // benchmark's 8-token text at positions 3..10 AND 16..23 of a
    // 25-token doc: each embedding yields 3 consecutive 6-gram hits
    // (starts p, p+1, p+2) that must merge into ONE 8-token span.
    val benchText = "q1 q2 q3 q4 q5 q6 q7 q8"
    val filler = (1 to 2).map(i => s"f$i").mkString(" ")
    val doc1 = s"$filler $benchText $filler " +
      s"a b c $benchText"  // spans [3,10] and [16,23], 2 clean gaps
    val r = TextOps.decontaminateSpans(docs(11L -> benchText, 1L -> doc1))
      .collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("doc_id") == 1L)
    assert(row.getAs[Int]("n_tokens") == 23)
    assert(row.getAs[Long]("n_spans") == 2L)
    assert(row.getAs[Long]("n_matches") == 6L) // 3 shingle starts per span
    assert(row.getAs[Long]("n_tokens_contaminated") == 16L)
    assert(row.getAs[Long]("clean_milli") == 1000L * 7 / 23)
  }

  test("k-core peeling strips pendant chains and keeps the dense core") {
    import spark.implicits._
    // triangle {1,2,3} + pendant chain 3-4-5: the 2-core is the
    // triangle. One peel drops 5 (deg 1), the second drops 4 (deg
    // fell to 1), the third confirms — exactly the bounded 3 rounds.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val core = graft.ext.Graph.kCore(pairs, k = 2, rounds = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("deg"))
      .toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("scale guard rejects ORDER-BY-only windows when enabled, passes otherwise") {
    import spark.implicits._
    val df = Seq((1L, 2.0), (2L, 1.0)).toDF("k", "v")
    val global = df.select(expr("row_number() over (order by v)").as("rn"))
    val partitioned = df.select(
      expr("row_number() over (partition by k order by v)").as("rn"))
    val on = graft.plans.NoGlobalWindowGuard(key =>
      if (key == "spark.graft.guards.failOnGlobalWindow") Some("true") else None)
    val e = intercept[IllegalStateException] {
      on(global.queryExecution.analyzed)
    }
    assert(e.getMessage.contains("single-partition"))
    on(partitioned.queryExecution.analyzed) // partitioned window passes
    val off = graft.plans.NoGlobalWindowGuard(_ => None)
    off(global.queryExecution.analyzed) // guard disabled: no throw
    // the extensions installer wires the rule without erroring
    new graft.functions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("label propagation keeps bridged communities apart where CC merges them") {
    import spark.implicits._
    // barbell: triangles {1,2,3} and {4,5,6} bridged by 3-4. CC
    // collapses everything to component 1; LPA's plurality vote lets
    // neither side's single bridge edge outvote the triangle's two
    // internal edges → labels [1,1,1,3,3,3] after 3 synchronous
    // rounds (hand-computed with the count DESC, label ASC tie-break)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("doc_a", "doc_b")
    val verts = (1L to 6L).toDF("doc_id")
    val lpa = graft.ext.Graph.labelPropagation(verts, pairs, rounds = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("community"), r.getAs[Long]("community_size"))).toMap
    assert(lpa == Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      4L -> (3L, 3L), 5L -> (3L, 3L), 6L -> (3L, 3L)))
    val cc = graft.ext.Graph.connectedComponents(verts, pairs)
      .collect().map(_.getAs[Long]("label")).toSet
    assert(cc == Set(1L)) // reachability: one component
  }

  test("BPE training learns merges in frequency order, greedy left-to-right") {
    // corpus: "abab" ×3, "aaa" ×2 → round-1 pairs: (a,b)=6, (b,a)=3,
    // (a,a)=4 → merge 1 = (a,b)→ab with count 6. After merging,
    // "abab"→[ab,ab], "aaa"→[a,a,a] (untouched) → round-2 pairs:
    // (ab,ab)=3, (a,a)=4 → merge 2 = (a,a)→aa count 4, and "aaa"
    // folds GREEDILY to [aa,a] (not [a,aa]). Round 3: (ab,ab)=3 beats
    // (aa,a)=2 → merge 3 = (ab,ab) count 3.
    val m = TextOps.bpeTrainMerges(docs(
        1L -> "abab abab", 2L -> "abab aaa", 3L -> "aaa"), rounds = 3)
      .collect().map(r => r.getAs[Int]("merge_rank") ->
        (r.getAs[String]("pair_left"), r.getAs[String]("pair_right"),
         r.getAs[String]("merged"), r.getAs[Long]("pair_count"))).toMap
    assert(m(1) == (("a", "b", "ab", 6L)))
    assert(m(2) == (("a", "a", "aa", 4L)))
    assert(m(3) == (("ab", "ab", "abab", 3L)))
  }

  test("BPE encode survives a 500-merge table with O(1) plan depth") {
    // one word of 501 strictly-ascending distinct chars: every round's
    // lexicographically-smallest pair is (prefix, next char), so
    // training learns exactly 500 prefix-extension merges — a merge
    // table 167× the shipped default, the scale the chained-select
    // encoder form stalled on in Catalyst analysis.
    val cs = (0x100 until 0x100 + 501).map(_.toChar.toString)
    val word = cs.mkString
    val m = TextOps.bpeTrainMerges(docs(1L -> word), rounds = 500)
    assert(m.count() == 500L)
    // encode: the trained word collapses to ONE token; a word sharing
    // no rule-left prefix (first char dropped) matches NO rule (the
    // HashSet skip path); a strict prefix stops at its last learnable
    // rule and still folds to one token.
    val enc = TextOps.bpeEncodeFrom(
      docs(1L -> word, 2L -> cs.drop(1).mkString, 3L -> cs.take(251).mkString),
      m).collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("head_tokens"), r.getAs[Long]("n_bpe_tokens"))).toMap
    assert(enc(1L) == ((word, 1L)))
    assert(enc(2L) == ((cs.drop(1).mkString("|"), 500L)))
    assert(enc(3L) == ((cs.take(251).mkString, 1L)))
  }

  test("bigram surprisal charges rare continuations, not rare tokens") {
    // doc 0 = "a b a b a b": bigrams (a,b)×3, (b,a)×2
    // doc 1 = "a b c d": (a,b), (b,c), (c,d);  doc 2 has no bigram
    // counts: c12(a,b)=4 c12(b,a)=2 c12(b,c)=1 c12(c,d)=1;
    //         c1(a)=4 c1(b)=3 c1(c)=1
    // bits: (a,b)=⌊lg4⌋−⌊lg4⌋=0, (b,a)=⌊lg3⌋−⌊lg2⌋=0,
    //       (b,c)=⌊lg3⌋−⌊lg1⌋=1, (c,d)=⌊lg1⌋−⌊lg1⌋=0
    val out = TextOps.bigramSurprisal(docs(
        0L -> "a b a b a b", 1L -> "a b c d", 2L -> "solo"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("total_bits"))).toMap
    assert(out(0L) == ((5L, 0L))) // perfectly predictable alternation
    assert(out(1L) == ((3L, 1L))) // one surprising continuation (b→c)
    assert(!out.contains(2L))     // <2 tokens → no bigrams → no row
  }

  test("chunkDocuments covers every token with the stated overlap and stops at n") {
    val d = docs(
      1L -> (1 to 10).map(i => s"t$i").mkString(" "), // n=10 > w
      2L -> "a b c",                                  // n=3 < w → 1 chunk
      3L -> "p q r s")                                // n=4 = w → 1 chunk
    val out = TextOps.chunkDocuments(d, w = 4, stride = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) ->
        (r.getAs[Int]("start_tok"), r.getAs[Int]("end_tok"),
          r.getAs[Int]("n_chunk_tokens"), r.getAs[String]("chunk_text"))).toMap
    // doc 1: K = ⌈(10−4)/3⌉ = 2 → spans [1,4] [4,7] [7,10], 1-token overlap
    assert(out((1L, 0)) == ((1, 4, 4, "t1 t2 t3 t4")))
    assert(out((1L, 1)) == ((4, 7, 4, "t4 t5 t6 t7")))
    assert(out((1L, 2)) == ((7, 10, 4, "t7 t8 t9 t10")))
    assert(!out.contains((1L, 3))) // never a window past the last token
    assert(out((2L, 0)) == ((1, 3, 3, "a b c")))
    assert(out((3L, 0)) == ((1, 4, 4, "p q r s")))
    // md5 is over the chunk text (the embedding-cache key contract)
    val m = TextOps.chunkDocuments(d, w = 4, stride = 3)
      .filter(col("doc_id") === 2L).head()
    assert(m.getAs[String]("chunk_md5") ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("a b c"))
  }

  test("feature hashing: buckets exact vs plain-JVM md5, top-k order pinned") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa bb aa cc aa bb"),  // tf: aa=3, bb=2, cc=1
      (2L, "dd")
    ).toDF("doc_id", "text")
    def bucket(tok: String): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(tok).substring(0, 8), 16) % 64
    val out = TextOps.hashFeatures(d, dim = 64, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"),
        r.getAs[Long]("tf"), r.getAs[Int]("rk")))
    // doc 1 keeps its two most frequent buckets (aa then bb); cc cut
    assert(out.filter(_._1 == 1L).sortBy(_._4).toSeq == Seq(
      (1L, bucket("aa"), 3L, 1), (1L, bucket("bb"), 2L, 2)))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, bucket("dd"), 1L, 1)))
  }

  test("weighted sample: integer priorities exact vs a plain-JVM recomputation") {
    import spark.implicits._
    // even ids are long docs (weight 50), odd ids short (weight 1) —
    // with ~uniform hashes the big-weight docs must dominate the budget
    val d = (1L to 200L)
      .map(i => (i, "en", if (i % 2 == 0) 10000L else 50L))
      .toDF("doc_id", "lang", "n_chars")
    val out = TextOps.weightedSample(d, k = 50).collect()
    def h(id: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(id.toString).substring(0, 8), 16)
    def w(n: Long): Long = 1L + math.min(n / 100, 49L)
    val exp = (1L to 200L)
      .map(i => (i, h(i) * 1000000L / w(if (i % 2 == 0) 10000L else 50L)))
      .sortBy(t => (t._2, t._1)).take(50)
    assert(out.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("priority"))).toSeq == exp)
    assert(out.count(_.getAs[Long]("doc_id") % 2 == 0) > 40)
    // determinism: a second run returns the identical list
    assert(TextOps.weightedSample(d, k = 50).collect()
      .map(_.getAs[Long]("doc_id")).toSeq == exp.map(_._1))
  }

  test("dsirResample ranks target-like raw docs above off-target ones, excludes the target slice") {
    import spark.implicits._
    val targetText = "alpha beta gamma delta alpha beta gamma delta"
    val offText = "zeta eta theta iota zeta eta theta iota"
    val d = ((1L to 5L).map(i => (i, "t", targetText)) ++
      (10L to 14L).map(i => (i, "r", targetText)) ++
      (20L to 24L).map(i => (i, "r", offText)))
      .toDF("doc_id", "source", "text")
    val got = TextOps.dsirResample(d, targetSources = Seq("t"), k = 10)
      .collect()
    assert(got.length == 10)                      // every raw doc, no target doc
    assert(got.forall(_.getAs[String]("source") == "r"))
    val w = got.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("weight_bits")).toMap
    val likeTarget = (10L to 14L).map(w)
    val offTarget = (20L to 24L).map(w)
    assert(likeTarget.min > offTarget.max,
      s"target-like $likeTarget vs off-target $offTarget")
    // deterministic: a second run returns the identical ranking
    assert(TextOps.dsirResample(d, targetSources = Seq("t"), k = 10)
      .collect().map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("gopherGate: each rule fires on its engineered violator; keep is the AND") {
    import spark.implicits._
    // each doc violates EXACTLY one rule (stopword/length budgets are
    // balanced so no violation bleeds into a second rule)
    val good = "the quick brown fox and lazy dog of note " +
      (1 to 12).map(i => s"word$i").mkString(" ")        // 21 words, all rules pass
    val short = "the data of " + (1 to 7).map(i => s"word$i").mkString(" ") // 10 words
    val skinny = ("a " * 23).trim + " the of"            // 25 words, mwl 28000/25 = 1120
    val symbolic = (1 to 18).map(_ => "abc#").mkString(" ") + " the of"  // sym 18/20
    val numeric = (1 to 18).map(_ => "12345").mkString(" ") + " the of"  // alpha 2/20
    val nostop = (1 to 20).map(i => s"token$i").mkString(" ")            // 0 stopwords
    val d = Seq((1L, good), (2L, short), (3L, skinny), (4L, symbolic),
      (5L, numeric), (6L, nostop)).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val got = TextOps.gopherGate(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def rules(id: Long): (Boolean, Boolean, Boolean, Boolean, Boolean, Boolean) = {
      val r = got(id)
      (r.getAs[Boolean]("r_wc"), r.getAs[Boolean]("r_mwl"),
        r.getAs[Boolean]("r_sym"), r.getAs[Boolean]("r_alpha"),
        r.getAs[Boolean]("r_stop"), r.getAs[Boolean]("keep"))
    }
    assert(rules(1L) == ((true, true, true, true, true, true)))
    assert(rules(2L) == ((false, true, true, true, true, false)))
    assert(rules(3L) == ((true, false, true, true, true, false)))
    assert(rules(4L) == ((true, true, false, true, true, false)))
    assert(rules(5L) == ((true, true, true, false, true, false)))
    assert(rules(6L) == ((true, true, true, true, false, false)))
    // spot-check the integer milli arithmetic by hand
    assert(got(3L).getAs[Long]("mwl_milli") == 1120)   // 28 chars over 25 words
    assert(got(4L).getAs[Long]("sym_milli") == 900)    // 18 symbols over 20 words
    assert(got(5L).getAs[Long]("alpha_milli") == 100)  // 2 alpha words over 20
  }
}
