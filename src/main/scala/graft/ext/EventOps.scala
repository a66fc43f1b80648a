package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table — the window
  * operator family absent from the reference (SURVEY.md §2.2). Written as
  * batch queries (the DuckDB oracle is batch SQL).
  *
  * Determinism: `value` is cast to DECIMAL before summing and the exact
  * decimal sum is emitted as a canonical string (decimal output columns
  * render trailing zeros differently across readers — see Analytics);
  * window starts are rendered as formatted strings so both engines compare
  * wall-clock labels, not engine-specific timestamp encodings.
  */
object EventOps {

  private val fmt = "yyyy-MM-dd HH:mm:ss"
  private def decValue = col("value").cast("decimal(18,2)")

  /** Tumbling 1-hour windows per event type: count + exact sum. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(decValue).as("sum_value"))
      .select(
        date_format(col("w.start"), fmt).as("window_start"),
        col("event_type"), col("n_events"),
        col("sum_value").cast("string").as("sum_value"))

  /** Sliding 1-hour windows every 30 minutes: each event lands in two
    * overlapping windows. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), fmt).as("window_start"),
        col("event_type"), col("n_events"))

  /** Session windows per user with a 30-minute inactivity gap. In batch
    * Spark, session_window() computes the same gaps-and-islands grouping
    * the oracle derives with lag + a cumulative sum. */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(decValue).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), fmt).as("session_start"),
        col("n_events"),
        col("sum_value").cast("string").as("sum_value"))

  /** JSON path extraction from the props payload column (the decode
    * shape of O4's embedded-JSON fields, applied to the events table):
    * get_json_object → typed cast → integer aggregates per type. */
  def propsStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))

  /** Deduplication to the first event per (user, type) — the
    * deterministic form of dropDuplicates (min-by instead of
    * arbitrary-row-wins, so the oracle can reproduce it). */
  def firstEventPerUserType(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        min(col("event_id")).as("first_event_id"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"),
        count(lit(1)).as("n_total"))

  /** Global top-K event types by volume through the typed
    * [[TopKAggregator]] — the bounded-heap Aggregator as a production
    * query (elsewhere it is only spec-driven). The aggregate counts
    * shrink the input to one row per type BEFORE the heap, so the
    * Aggregator's map-side combine carries ≤ K tuples per partition —
    * the shape that makes global top-K a near-free reduction at 100 TB.
    * Ordering contract (score desc, item asc tie-break) matches the
    * windowed row_number form, so a plain SQL oracle reproduces it. */
  /** Ordered funnel analysis: per user, the earliest stage-1 event,
    * then the earliest stage-2 event STRICTLY AFTER it, and so on —
    * the sequential-pattern query behind conversion reporting. Output
    * is the user count per reached depth (users with no stage-1 event
    * don't enter the funnel).
    *
    * Shape per stage: an equi join on user_id immediately followed by
    * a groupBy on the same key — the aggregation reuses the join's
    * hash partitioning, so each extra stage costs one exchange of the
    * (small) per-user frame, never a re-shuffle of the events fact.
    * Monotonicity is free: a null t_{n-1} nulls every later stage
    * through the three-valued comparison. */
  def funnel(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    var cur = events.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    stages.tail.zipWithIndex.foreach { case (st, i) =>
      val prev = s"t${i + 1}"
      cur = cur.join(
        events.filter(col("event_type") === st)
          .select(col("user_id"), col("ts").as("e_ts")),
        Seq("user_id"), "left")
        .groupBy(col("user_id") +: (1 to i + 1).map(j => col(s"t$j")): _*)
        .agg(min(when(col("e_ts") > col(prev), col("e_ts"))).as(s"t${i + 2}"))
    }
    val depth = (2 to stages.size).foldLeft(lit(1)) { (acc, j) =>
      when(col(s"t$j").isNotNull, j).otherwise(acc)
    }
    cur.select(depth.as("funnel_stage"))
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Funnel WITHIN sessions: gap-based sessionization (a >gapMinutes
    * silence starts a new session — lag + running sum of boundary
    * flags, the per-event assignment `session_window` aggregation
    * can't give), then the [[funnel]] stage chain keyed by (user,
    * session) — "did the journey convert in one sitting", the
    * product-analytics composition of the two operators.
    *
    * Scale posture: the session assignment windows per user (one
    * exchange of the events frame); every funnel join+agg then reuses
    * hash partitioning on (user, session); boundary flags and session
    * ids are exact integers, so the whole report hash-matches SQL. */
  def sessionFunnel(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      gapMinutes: Int = 30): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLag = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    // every funnel stage references this frame, and the 2-window
    // sessionization is the expensive subtree — a LAZY localCheckpoint
    // makes all stage references share one computed RDD within the
    // query's single action (vs re-running the window pass per stage),
    // without cache()'s cross-call storage leak: the blocks die with
    // the plan object
    val sess = events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("new_sess",
        when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wLag) > gapUs,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("session_id", sum(col("new_sess")).over(w))
      .localCheckpoint(false)
    var cur = sess.filter(col("event_type") === stages.head)
      .groupBy(col("user_id"), col("session_id")).agg(min(col("ts")).as("t1"))
    stages.tail.zipWithIndex.foreach { case (st, i) =>
      val prev = s"t${i + 1}"
      cur = cur.join(
        sess.filter(col("event_type") === st)
          .select(col("user_id"), col("session_id"), col("ts").as("e_ts")),
        Seq("user_id", "session_id"), "left")
        .groupBy(col("user_id") +: col("session_id") +:
          (1 to i + 1).map(j => col(s"t$j")): _*)
        .agg(min(when(col("e_ts") > col(prev), col("e_ts"))).as(s"t${i + 2}"))
    }
    val depth = (2 to stages.size).foldLeft(lit(1)) { (acc, j) =>
      when(col(s"t$j").isNotNull, j).otherwise(acc)
    }
    cur.select(depth.as("funnel_stage"))
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Epoch-week of an event's ts (against the house 1992 base). */
  private def weekCol: Column = expr(
    "CAST(datediff(CAST(ts AS DATE), DATE '1992-01-01') div 7 AS BIGINT)")

  /** Weekly cohort retention: users grouped by their first active week,
    * then counted per (cohort, week offset) with the share of the
    * cohort still active — the companion report to [[funnel]].
    *
    * All keys are integers (epoch-day div 7 against the house 1992
    * base) and the single double division happens per output row, so
    * the matrix hash-matches the SQL oracle. Shape: one distinct over
    * (user, week) — map-side combinable — then user-keyed min + join
    * that reuse one partitioning; the final per-cohort frame is tiny. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val weekly = events.select(col("user_id"), weekCol.as("week")).distinct()
    val cohort = weekly.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val counts = weekly.join(cohort, Seq("user_id"))
      .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = counts.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    counts.join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
  }

  /** Value-outlier detection per event type: events whose value sits
    * more than `z` standard deviations from their type's mean — the
    * data-quality / fraud sweep over an event stream, composed from the
    * exact-moment discipline of [[Analytics.orderMoments]].
    *
    * Determinism: values quantize to integers (round(v·10⁶), the
    * embedding-quantization move), so Σv and Σv² are exact 64-bit /
    * decimal sums independent of shuffle order; mean and std come out
    * via one division and one correctly-rounded sqrt, and each event's
    * z-score is a fixed three-op IEEE expression — bit-identical in
    * both engines, so even the float z-score column hash-matches. The
    * quantization scale cancels in the z-score.
    *
    * Scale posture: one map-side-combinable aggregate (|event types|
    * rows out), broadcast back over the streaming scan — no window, no
    * per-event shuffle. */
  def valueAnomalies(events: DataFrame, z: Double = 3.0): DataFrame = {
    val v = expr("CAST(round(value * 1000000) AS BIGINT)")
    val stats = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(v).as("sv"),
      // The square is formed IN decimal (cast one operand to DECIMAL(38,0)
      // before the multiply): a BIGINT×BIGINT product would silently wrap
      // under non-ANSI semantics once |value| ≳ 3037 (v² > Long.MaxValue),
      // while the DuckDB oracle's checked HUGEINT arithmetic stays exact.
      sum(expr("CAST(CAST(round(value * 1000000) AS BIGINT) AS DECIMAL(38,0)) " +
        "* CAST(round(value * 1000000) AS BIGINT)")).as("sv2"))
      .select(col("event_type"),
        (col("sv").cast("double") / col("n")).as("mean_q"),
        sqrt((col("sv2").cast("double") - col("sv").cast("double")
          * col("sv").cast("double") / col("n")) / col("n")).as("std_q"))
      .filter(col("std_q") > 0)
    events
      .join(broadcast(stats), Seq("event_type"))
      .withColumn("zscore", (v.cast("double") - col("mean_q")) / col("std_q"))
      .filter(abs(col("zscore")) > z)
      .select(col("event_id"), col("event_type"), col("value"), col("zscore"))
  }

  def topEventTypes(events: DataFrame, k: Int = 3): DataFrame = {
    import events.sparkSession.implicits._
    val counts = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val scored = counts.select(
      lit("all").as("key"), col("event_type").as("item"),
      col("n").cast("double").as("score")).as[Scored]
    TopK.topKPerKey(scored, k).toDF("key", "top")
      .select(posexplode(col("top")).as(Seq("pos", "event_type")))
      .select((col("pos") + 1).as("rank"), col("event_type"))
  }

  /** Top-k 3-step event-type paths — the path/flow-mining read behind
    * Sankey funnels ("what do users actually do, in order?"): each
    * user's event stream in (ts, event_id) order yields its sliding
    * window of 3 consecutive types; count each path corpus-wide, rank
    * the top k deterministically.
    *
    * Scale posture: ONE exchange on user_id feeds the lead() window
    * (per-user streams are small — frames never buffer more than a
    * user), the path count map-side combines to path-vocabulary size,
    * and the global top-k window rewrites to WindowGroupLimit (partial
    * per-partition top-k before the single merge). */
  def topPaths(events: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .withColumn("rank", expr("row_number() over (order by n desc, path)"))
      .filter(col("rank") <= k)
  }
}
