package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale ladder for the as-of family IN ITS DESIGN REGIME: a DIM-SIZED
  * right side (a 20k-row rate table: 1k keys × 20 effective-dated
  * entries) probed by facts growing 1×/3×/10×/30× (1M → 30M rows).
  *
  * The r13 broadcast measurement used a corpus-sized right side — the
  * documented ANTI-case for the broadcast form (shipping a fact-sized
  * table to every executor is the wrong plan by contract), so it said
  * nothing about the regime the exec exists for. This ladder runs the
  * three physical spellings of the same as-of contract on the
  * fact-probes-dimension shape:
  *
  *  - `merge`     — [[graft.plans.AsOfJoinExec]]: both sides hashed +
  *                  sorted (one exchange each), streaming merge.
  *  - `broadcast` — [[graft.plans.BroadcastAsOfJoinExec]]: rate table
  *                  ships once, facts probed IN PLACE (zero fact
  *                  shuffles), index built once per executor (r14
  *                  memo).
  *  - `window`    — the union + last-IGNORE-NULLS ordered-window
  *                  rewrite ([[graft.ext.TemporalJoins]]'s default
  *                  spelling): inflates the union with the dim rows,
  *                  shuffles and sorts the whole union.
  *
  * Facts are generated with spark.range (deterministic, no I/O — the
  * ladder measures the JOIN's scaling, not parquet decode), keys
  * uniform over the dim keys, timestamps scattered over the rate
  * table's effective range so ~all probes match. Each form is forced
  * through a sum(rate) aggregate so every match is actually produced.
  *
  * Expectation (the r14 verdict's "done" shape): broadcast α ≈ merge α
  * ≈ 1 (both linear in facts — the dim is constant), with the
  * broadcast CONSTANT ahead because the facts never cross an exchange
  * and never sort. The window form pays the same exchange as merge
  * plus the union inflation and a wider sort — its constant should
  * trail. α is fitted exactly like [[ScaleLadder]] (ln-ln least
  * squares over the ≥3× rungs).
  *
  * Run: AsOfLadder [outPath]. Env: GRAFT_LADDER_PASSES (default 2).
  */
object AsOfLadder {

  private val DimKeys = 1000
  private val EntriesPerKey = 20
  private val BaseFacts = 1000000L
  private val Rungs = Seq(1, 3, 10, 30)

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("bench_results/asof_ladder.json")
    val passes = sys.env.getOrElse("GRAFT_LADDER_PASSES", "2").toInt
    val cpus = graft.GraftSession.cores
    val spark = graft.GraftSession.start(graft.GraftSession.builder(cpus)
      .config("spark.sql.adaptive.enabled", "true"))

    // rate table: 1k keys x 20 entries, effective timestamps spread
    // over [0, 20e9) us — dim-sized by construction (20k rows)
    val rates = spark.range(DimKeys.toLong * EntriesPerKey)
      .select(
        (col("id") % DimKeys).as("k"),
        // NB: `/` is double division in Spark SQL — cast back to long
        ((col("id") / DimKeys).cast("long") * 1000000000L).as("r_ts"),
        (col("id") * 7 % 1000).cast("double").as("rate"))

    def facts(scale: Int): DataFrame =
      spark.range(BaseFacts * scale).select(
        (col("id") % DimKeys).as("k"),
        // scatter fact timestamps over the rate table's full effective
        // range (+1 entry period of headroom) with a coprime stride so
        // every key probes every rate generation
        ((col("id") * 2654435761L) %
          (EntriesPerKey.toLong * 1000000000L)).as("ts"))

    def run(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.agg(sum(col("rate")), count(lit(1))).collect()
      (System.nanoTime() - t0) / 1e9
    }

    def merge(f: DataFrame): DataFrame =
      graft.plans.AsOfJoin.asOf(f, rates, Seq("k"), "ts", "r_ts",
        broadcastRight = Some(false))
    def bcast(f: DataFrame): DataFrame =
      graft.plans.AsOfJoin.asOf(f, rates, Seq("k"), "ts", "r_ts",
        broadcastRight = Some(true))
    def window(f: DataFrame): DataFrame = {
      val r = rates.select(col("k"), col("r_ts").as("ts"), lit(0).as("side"),
        col("r_ts").as("m_ts"), col("rate").as("m_rate"))
      val l = f.select(col("k"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("m_ts"),
        lit(null).cast("double").as("m_rate"))
      val w = Window.partitionBy(col("k")).orderBy(col("ts"), col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r.unionByName(l)
        .withColumn("rate", last(col("m_rate"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
    }

    val forms: Seq[(String, DataFrame => DataFrame)] =
      Seq("merge" -> merge, "broadcast" -> bcast, "window" -> window)

    // warmup at 1x (codegen + JIT for all three plan families)
    forms.foreach { case (_, fn) => run(fn(facts(1))) }

    val samples = collection.mutable.Map
      .empty[(String, Int), Vector[Double]]
    for (_ <- 1 to passes; r <- Rungs; (name, fn) <- forms)
      samples((name, r)) =
        samples.getOrElse((name, r), Vector.empty) :+ run(fn(facts(r)))

    def med(xs: Vector[Double]) = graft.BenchStats.median(xs)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def taskWall(parts: Int): Double = {
      val f = facts(10).repartition(parts)
      run(bcast(f)) // warm
      med(Vector.fill(passes)(run(bcast(f))))
    }
    // CONTROL for the task probe: the identical repartition + aggregate
    // with NO as-of in the plan. Whatever ratio the control shows at
    // 512 vs 32 tasks is exchange-width + task-dispatch overhead (512
    // shuffle partitions write/read more, smaller blocks, 16x the
    // scheduling events on a sub-second job) — only the as-of ratio IN
    // EXCESS of the control is attributable to the prober's per-task
    // setup (the r14 open question).
    def controlWall(parts: Int): Double = {
      val f = facts(10).repartition(parts)
      def one(): Double = {
        val t0 = System.nanoTime()
        f.agg(sum(col("ts")), count(lit(1))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      one() // warm
      med(Vector.fill(passes)(one()))
    }
    val w32 = taskWall(32)
    val w512 = taskWall(512)
    val c32 = controlWall(32)
    val c512 = controlWall(512)
    spark.stop()

    def fmt(d: Double) = f"$d%.3f"
    def alpha(points: Seq[(Int, Double)]): Double = {
      val tail = points.filter(_._1 >= 3)
      val xs = tail.map(p => math.log(p._1.toDouble))
      val ys = tail.map(p => math.log(math.max(p._2, 1e-9)))
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
    }

    val body = forms.map { case (name, _) =>
      val walls = Rungs.map(r => (r, med(samples((name, r)))))
      s""""$name":{"wall_sec":[${walls.map(w => fmt(w._2)).mkString(",")}],""" +
        s""""alpha":${fmt(alpha(walls))}}"""
    }.mkString(",\n  ")

    // ---- per-task setup probe --------------------------------------
    // If the broadcast prober rebuilt its index per task, multiplying
    // the task count at FIXED total rows would multiply the total
    // index-build work 16x; with the per-executor memo the wall should
    // be ~flat. Same 10M facts, left repartitioned to 32 vs 512
    // (AQE off for the probe so the 512 tasks stay real).
    val json =
      s"""{
  "probe": "as-of scale ladder in the DIM-SHAPED design regime: ${DimKeys * EntriesPerKey}-row rate table, facts ${BaseFacts} x ${Rungs.mkString("/")}; alpha = ln-ln least-squares over the >=3x rungs",
  "host": "local[$cpus], AQE on, $passes interleaved passes per rung, medians",
  "rungs": [${Rungs.mkString(",")}],
  "forms": {
  $body
  },
  "task_scaling_probe": {
    "what": "broadcast form, fixed 10M facts, left repartitioned 32 vs 512 tasks. NOT flat: the measured ratio bundles exchange-width + task-dispatch overhead with any per-task probe setup — the control row (same repartition + aggregate, no as-of) isolates the former, and only the EXCESS over the control is the prober's own per-task cost. A per-task index rebuild would instead scale the build work ~16x; the per-executor memo removes that term.",
    "wall_sec_32_tasks": ${fmt(w32)},
    "wall_sec_512_tasks": ${fmt(w512)},
    "ratio": ${fmt(w512 / w32)},
    "control_wall_sec_32_tasks": ${fmt(c32)},
    "control_wall_sec_512_tasks": ${fmt(c512)},
    "control_ratio": ${fmt(c512 / c32)},
    "asof_excess_ratio_vs_control": ${fmt((w512 / w32) / (c512 / c32))}
  }
}"""
    Option(Paths.get(outPath).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(json)
  }
}
