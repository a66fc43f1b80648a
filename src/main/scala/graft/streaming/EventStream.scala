package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode}

/** One buffered funnel-stage event (stage = index into the stage list). */
case class StageEvent(userId: Long, stage: Int, ts: java.sql.Timestamp)

/** Per-user funnel buffer: stage events seen so far + the max event
  * time, which anchors the quiet-period timeout. */
case class FunnelBuf(evts: List[StageEvent], maxEvtMs: Long)

/** A closed user's funnel depth (1-based; only users who entered the
  * funnel emit). */
case class FunnelDepth(user_id: Long, funnel_stage: Int)

/** Streaming assembly of the event-time window operators (the
  * watermark/window family the reference lacks — SURVEY.md §2.2). The
  * aggregation expressions are the same ones graft.ext.EventOps uses in
  * batch; here they run under `withWatermark`, so state for closed
  * windows is evicted and late data beyond the bound is dropped —
  * the knobs that keep windowed state finite at 100 TB/day rates.
  */
object EventStream extends Serializable {

  /** Tumbling 1-hour windows with a 2-hour lateness bound. Append mode:
    * a window emits once its end passes the watermark. */
  def tumblingCounts(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming funnel core: per-user ordered-stage progression as a
    * keyed state machine ([[StageEvent]] buffer + event-time timeout),
    * the streaming form of [[graft.ext.EventOps.funnel]]'s join chain.
    *
    * Events buffer per user (arrival order is irrelevant — the depth is
    * computed from TIMESTAMPS once the user closes, so out-of-order
    * arrival within the watermark is handled exactly, which a greedy
    * running state machine would get wrong). A user closes when the
    * watermark passes their last event + `quietMs`; the buffer then
    * collapses to one [[FunnelDepth]] row and the state is removed —
    * state is bounded by ACTIVE users in the quiet horizon, not the
    * user universe.
    *
    * `quietMs` is the funnel's CONVERSION WINDOW, not an implementation
    * detail: a user whose consecutive events sit further apart than
    * quietMs closes mid-journey and later events open a NEW observation
    * (possibly emitting a second row for the same user — only
    * observations with a stage-0 event emit at all). [[funnelCounts]]
    * therefore counts funnel OBSERVATIONS; the batch form is the
    * infinite-conversion-window limit, and stream ≡ batch exactly when
    * every user's whole event span fits inside one quiet window — both
    * the equivalence and the window-split divergence are spec-pinned.
    * An unbounded window in streaming would mean state that never
    * closes; a finite conversion window is what every production
    * funnel defines anyway.
    *
    * The stage-count report is [[funnelCounts]] over the accumulated
    * depth rows — a k-row batch aggregate, the same split as
    * [[weeklyActivity]]/retentionFromWeekly. */
  def funnelDepths(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      lateness: String = "2 hours",
      quietMs: Long = 2L * 3600 * 1000): Dataset[FunnelDepth] = {
    val spark = events.sparkSession
    import spark.implicits._
    val nStages = stages.size
    val stageIdx = stages.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (st, i)) => when(col("event_type") === st, lit(i)).otherwise(acc)
    }

    def fn(key: Long, rows: Iterator[StageEvent],
        state: GroupState[FunnelBuf]): Iterator[FunnelDepth] =
      if (state.hasTimedOut) {
        val buf = state.get
        state.remove()
        depthOf(buf.evts, nStages).map(FunnelDepth(key, _)).iterator
      } else {
        val rs = rows.toList
        val old = state.getOption.getOrElse(FunnelBuf(Nil, 0L))
        val merged = FunnelBuf(old.evts ++ rs,
          math.max(old.maxEvtMs, rs.map(_.ts.getTime).max))
        state.update(merged)
        state.setTimeoutTimestamp(merged.maxEvtMs + quietMs)
        Iterator.empty
      }

    events
      .withWatermark("ts", lateness)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id").as("userId"), stageIdx.as("stage"), col("ts"))
      .as[StageEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  private implicit val tsOrd: Ordering[java.sql.Timestamp] =
    (a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b)

  /** The same funnel under `transformWithState` (the v2 arbitrary-state
    * API — see [[FunnelProcessor]] for what it buys over fMGWS). Needs
    * the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`); the HDFS-backed
    * default does not implement transformWithState. */
  def funnelDepthsTws(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      lateness: String = "2 hours",
      quietMs: Long = 2L * 3600 * 1000): Dataset[FunnelDepth] = {
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (st, i)) => when(col("event_type") === st, lit(i)).otherwise(acc)
    }
    events
      .withWatermark("ts", lateness)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id").as("userId"), stageIdx.as("stage"), col("ts"))
      .as[StageEvent]
      .groupByKey(_.userId)
      .transformWithState(new FunnelProcessor(stages.size, quietMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Funnel depth of one closed user's buffered events: t1 = min stage-0
    * ts, then sequentially t_{i+1} = min stage-i ts strictly after t_i —
    * the same recurrence EventOps.funnel expresses with joins. None if
    * the user never hit stage 0 (batch funnel omits them too). Shared by
    * the fMGWS and transformWithState processors. */
  private[streaming] def depthOfEvents(evts: Seq[StageEvent], nStages: Int): Option[Int] =
    depthOf(evts, nStages)

  private def depthOf(evts: Seq[StageEvent], nStages: Int): Option[Int] = {
    val byStage = evts.groupBy(_.stage)
    byStage.get(0).map(_.map(_.ts).min).map { t1 =>
      var cur = t1
      var depth = 1
      var s = 1
      var done = false
      while (s < nStages && !done) {
        byStage.getOrElse(s, Nil).map(_.ts).filter(_.compareTo(cur) > 0) match {
          case Nil => done = true
          case later => cur = later.min; depth = s + 1; s += 1
        }
      }
      depth
    }
  }

  /** The funnel REPORT over accumulated [[funnelDepths]] rows — the
    * same (funnel_stage, n_users) shape as EventOps.funnel, run as a
    * tiny batch aggregate over the streaming sink. `n_users` counts
    * funnel OBSERVATIONS (one per closed quiet window — see the
    * conversion-window note on [[funnelDepths]]); it equals distinct
    * users exactly when no user spans multiple windows. */
  def funnelCounts(depths: DataFrame): DataFrame =
    depths.groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_users"))

  /** Streaming retention core: exactly-once (user_id, week) activity
    * rows via watermarked streaming dedup — the distinct() of the batch
    * retention matrix, emitted incrementally. The default lateness
    * covers a full week plus a day of straggle: dropDuplicates-
    * WithinWatermark only guarantees dedup INSIDE the watermark delay,
    * and the dedup key (the week) spans 7 days of event time, so a
    * shorter horizon would re-emit a week-straddling user. State is one
    * narrow row per (active user, week) inside the horizon.
    *
    * The retention REPORT is EventOps.retentionFromWeekly over the
    * accumulated sink — cohort mins, offsets, and ratios are a tiny
    * batch query; the heavy per-event work (the dedup shuffle) is what
    * streams. */
  def weeklyActivity(events: DataFrame, lateness: String = "8 days"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .select(col("ts"), col("user_id"),
        graft.ext.EventOps.weekCol.as("week"))
      .dropDuplicatesWithinWatermark("user_id", "week")
      .select(col("user_id"), col("week"))

  /** Stream-stream interval join: clicks within `bandMinutes` after each
    * purchase of the same user — the streaming form of
    * graft.ext.TemporalJoins.clicksAfterPurchase. Both sides carry
    * watermarks and the join condition bounds the time distance in BOTH
    * directions, so each side's buffered state is evicted once the other
    * side's watermark passes the band — the state-boundedness contract
    * that makes a stream-stream join runnable indefinitely. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      bandMinutes: Int = 60, lateness: String = "1 hour"): DataFrame = {
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event_id"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id").as("c_user"), col("event_id").as("click_event_id"),
        col("ts").as("c_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") > col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr(s"INTERVAL $bandMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_event_id"),
        col("click_event_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("gap_us"))
  }
}
