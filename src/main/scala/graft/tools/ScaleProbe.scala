package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The standing 10×-scale gate for pair-generating operators.
  *
  * Runs a query set at two SF dirs (sf0.1 and its [[ScaleGen]] replica)
  * and records, per query and mode (static / AQE): median wall seconds
  * over interleaved passes AND the OUTPUT ROW COUNT at each scale. The
  * row-growth column is the point — r11's probe caught two quadratic
  * designs by wall time, but output superlinearity (the 32-bit-simhash
  * saturation class: pairs growing 14× for 10× docs) is only visible
  * in rows, and this makes it a mechanical flag instead of a manual
  * read of the numbers.
  *
  * A query is flagged `superlinear_rows` when rows_big exceeds
  * replicas × rows_small × SLACK with an absolute floor (tiny outputs
  * — top-k lists, scalar reports — jitter multiplicatively without
  * meaning anything). Structure preservation in [[ScaleGen]] is what
  * makes linear growth the null hypothesis: group sizes and join
  * fan-outs are invariant, so pair output SHOULD grow ~R×, and any
  * excess is random-collision mass that would keep compounding at
  * 100×.
  *
  * Defaults to [[PairGenerating]] — every query that emits pairs,
  * candidates, or spans (the shapes that can go quadratic) — per the
  * r11 review's standing-gate requirement. Writes the artifact JSON to
  * the path in arg 4 (default bench_results/sf1_probe.json).
  *
  * Run: ScaleProbe [smallDir] [bigDir] [replicas] [outPath] [names]
  */
object ScaleProbe {

  /** Every query whose output is pairs / candidates / spans — the
    * operators with a quadratic failure mode. Kept as an explicit
    * prefix-plus-extras rule so a NEW dedup_* query is probed by
    * default, not remembered manually. */
  def pairGenerating: Seq[String] =
    (SparkEntry.queries.keys.filter(n =>
      n.startsWith("dedup_") || n.contains("neardup")).toSeq ++
      Seq("corpus_cross_signal", "corpus_dedup_report",
        "corpus_decontam_spans", "corpus_decontam_excise",
        "orders_basket", "sql_dedup_exact",
        "sql_dedup_minhash", "text_dup_segments", "text_dup_spans",
        "text_paragraph_dedup")).distinct.sorted

  private val RowSlack = 1.5
  private val RowFloor = 1000L

  /** Flags that are UNDERSTOOD and accepted, with the analysis and the
    * shipped scale path. The gate stays mechanical — these queries are
    * still measured and still listed under superlinear_row_flags — but
    * the artifact records the adjudication next to the flag so a
    * reader can tell "known, analyzed, alternative shipped" from "new
    * regression". An adjudicated flag whose growth worsens past its
    * recorded baseline should be treated as new. */
  val adjudicated: Map[String, String] = Map(
    "embed_neardup_exact" -> ("threshold-pair mining over fixed-cardinality " +
      "label blocks: output is sum(n_p^2) tail mass by contract, and at " +
      "dim 64 the 0.35 threshold sits 2.8 sigma above the random-cosine " +
      "noise floor (sigma = 1/sqrt(d)), so replica-decorrelated pairs leak " +
      "through the tail (~90% of big-side output; measured 108x at 10x). " +
      "Bounded scale path shipped as embed_neardup_topk (k per block, " +
      "linear in block count) — see EmbedOps.topKNearDups scaladoc."))

  def main(args: Array[String]): Unit = {
    val smallDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bigDir = args.drop(1).headOption.getOrElse("target/scaled/sf1")
    val replicas = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val outPath = args.drop(3).headOption
      .getOrElse("bench_results/sf1_probe.json")
    val names = args.drop(4).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(pairGenerating)
    val passes = sys.env.getOrElse("GRAFT_PROBE_PASSES", "3").toInt
    val cpus = GraftSession.cores
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // (mode, query, dir) -> samples / rows
    val samples = collection.mutable.Map
      .empty[(String, String, String), Vector[Double]]
    val rows = collection.mutable.Map.empty[(String, String, String), Long]

    for (mode <- Seq("static", "aqe")) {
      val spark = GraftSession.start(GraftSession.builder(cpus)
        .config("spark.sql.adaptive.enabled", (mode == "aqe").toString))
      // one untimed warmup pass per mode (JIT + codegen compile)
      for (n <- names) SparkEntry.queries(n)(spark, smallDir).count()
      for (_ <- 1 to passes; dir <- Seq(smallDir, bigDir); n <- names) {
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(n)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        samples((mode, n, dir)) =
          samples.getOrElse((mode, n, dir), Vector.empty) :+ sec
        rows((mode, n, dir)) = c
      }
      spark.stop()
      // a fresh session per mode needs a cleared default, or the next
      // builder returns the stopped one
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    def med(xs: Vector[Double]): Double = graft.BenchStats.median(xs)
    def fmt(d: Double): String = f"$d%.3f"

    val perQuery = names.map { n =>
      val sS = med(samples(("static", n, smallDir)))
      val sB = med(samples(("static", n, bigDir)))
      val aS = med(samples(("aqe", n, smallDir)))
      val aB = med(samples(("aqe", n, bigDir)))
      val rS = rows(("static", n, smallDir))
      val rB = rows(("static", n, bigDir))
      // AQE and static counts must agree — a mismatch is a correctness
      // bug, not a performance note; fail the probe loudly
      require(rows(("aqe", n, smallDir)) == rS &&
        rows(("aqe", n, bigDir)) == rB,
        s"$n: AQE row count differs from static")
      val growth = if (rS == 0) (if (rB == 0) 1.0 else Double.PositiveInfinity)
        else rB.toDouble / rS
      val superlinear =
        rB > RowFloor && growth > replicas * RowSlack
      (n, sS, sB, aS, aB, rS, rB, growth, superlinear)
    }

    val totS = perQuery.map(_._2).sum; val totB = perQuery.map(_._3).sum
    val totAS = perQuery.map(_._4).sum; val totAB = perQuery.map(_._5).sum
    val flags = perQuery.filter(_._9).map(_._1)
    val body = perQuery.map { case (n, sS, sB, aS, aB, rS, rB, g, f) =>
      s""""$n":{"static_sec":[${fmt(sS)},${fmt(sB)}],""" +
        s""""aqe_sec":[${fmt(aS)},${fmt(aB)}],""" +
        s""""wall_ratio":${fmt(sB / math.max(sS, 1e-9))},""" +
        s""""rows":[$rS,$rB],"row_growth":${fmt(g)},""" +
        s""""superlinear_rows":$f}"""
    }.mkString(",\n  ")
    val json =
      s"""{
  "probe": "${replicas}x structure-preserving replica of $smallDir (tools/ScaleGen); standing gate over every pair/candidate/span-emitting query, with OUTPUT-ROW growth recorded so superlinear candidate mass is flagged mechanically",
  "host": "local[$cpus], $passes interleaved passes per mode, per-query medians",
  "n_queries": ${names.size},
  "replicas": $replicas,
  "row_growth_rule": "flag if rows_big > $RowFloor and row_growth > replicas * $RowSlack",
  "total_sec": {"small": ${fmt(totS)}, "big": ${fmt(totB)}, "ratio": ${fmt(totB / totS)}},
  "aqe_total_sec": {"small": ${fmt(totAS)}, "big": ${fmt(totAB)}, "ratio": ${fmt(totAB / totAS)}},
  "superlinear_row_flags": [${flags.map("\"" + _ + "\"").mkString(",")}],
  "adjudicated_flags": {${flags.filter(adjudicated.contains)
        .map(n => s""""$n": "${adjudicated(n)}"""").mkString(", ")}},
  "unexplained_flags": [${flags.filterNot(adjudicated.contains)
        .map("\"" + _ + "\"").mkString(",")}],
  "per_query": {
  $body
  }
}"""
    // getParent is null for a bare filename (cwd-relative) — skip mkdir
    Option(Paths.get(outPath).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(json)
    println(s"[scaleprobe] wrote $outPath; ${flags.size} superlinear-row flag(s)" +
      (if (flags.nonEmpty) s": ${flags.mkString(", ")}" else ""))
  }
}
