package graft

import org.apache.spark.sql.SparkSession

/** The reference's ENV-driven CONFIG block (index.js:11-23) surfaced as
  * Spark session confs: a deployment tunes the pipeline with `--conf`
  * (or `spark.conf.set` at runtime) instead of rebuilding, exactly as
  * the Lambda is tuned with environment variables.
  *
  * Conf reads happen at PLAN-BUILD time (the values become literals in
  * the compiled plan), so a `spark.conf.set` applies to queries built
  * after it — the same visibility env vars have across Lambda cold
  * starts.
  */
object GraftConf {

  /** MIN_MATCHES_FOR_EMAIL (index.js:18): minimum total_matches before
    * an email job is triggered. */
  val MinMatchesKey = "spark.graft.minMatches"

  /** Deny-listed email domains (index.js:433-436), comma-separated. */
  val DenyDomainsKey = "spark.graft.denyList.domains"

  /** Deny-listed email prefixes (index.js:437-438), comma-separated. */
  val DenyPrefixesKey = "spark.graft.denyList.prefixes"

  /** Corpus curation knobs (ext.Corpus): quality floor and near-dup
    * Jaccard threshold of the keep/drop cascade — the curation analog
    * of the pipeline's threshold envs. */
  val QualityThresholdKey = "spark.graft.corpus.qualityThreshold"
  val NearDupThresholdKey = "spark.graft.corpus.nearDupThreshold"

  /** Embedding-space near-dup cosine threshold (ext.EmbedOps semantic
    * dedup / streaming semantic ingestion). */
  val CosineThresholdKey = "spark.graft.embed.cosineThreshold"

  /** ENABLE_DEBUG_LOGGING (index.js:15): promotes the library's debug
    * dumps (plan/schema renders, per-batch detail) to visible log
    * output by setting the `graft` log4j logger to DEBUG — see
    * [[GraftLog.applyLevel]]. Default off, like the reference. */
  val DebugLoggingKey = "spark.graft.debugLogging"

  /** ENABLE_METRICS (index.js:14): gates metric publication (the
    * CloudWatch PutMetricData analog). Observation itself is free
    * (Dataset.observe computes inline); this switches the LISTENER
    * publish side off. Default on, like the reference (`!== 'false'`). */
  val MetricsEnabledKey = "spark.graft.enableMetrics"

  /** Kill switch of the WinMagic self-join-back → window rewrite
    * ([[graft.plans.WinMagic]]); on by default. */
  val WinMagicKey = "spark.graft.optimizer.winmagic"

  /** Kill switch of filter/projection pushdown through the native as-of
    * join ([[graft.plans.AsOfPushdown]]); on by default. */
  val AsOfPushdownKey = "spark.graft.optimizer.asofPushdown"

  /** Opt-in plan-time rejection of windows with no PARTITION BY
    * ([[graft.plans.NoGlobalWindowGuard]]); off by default. */
  val FailOnGlobalWindowKey = "spark.graft.guards.failOnGlobalWindow"

  private val BooleanKeys = Seq(DebugLoggingKey, MetricsEnabledKey,
    WinMagicKey, AsOfPushdownKey, FailOnGlobalWindowKey)

  /** The single source of truth for the semantic near-dup threshold.
    * The DuckDB oracle SQL ([[graft.oracle.OracleSqlExt]]) interpolates
    * THIS constant — the conf knob above only affects the Spark side,
    * so a non-default value is incompatible with oracle-gated runs
    * (the driver compares against SQL built from the default). Tuning
    * deployments set the conf; correctness gates leave it alone. */
  val DefaultCosineThreshold = 0.35

  def minMatches(spark: SparkSession): Int =
    spark.conf.get(MinMatchesKey, "1").toInt

  def qualityThreshold(spark: SparkSession): Double =
    spark.conf.get(QualityThresholdKey, "0.5").toDouble

  def nearDupThreshold(spark: SparkSession): Double =
    spark.conf.get(NearDupThresholdKey, "0.5").toDouble

  def cosineThreshold(spark: SparkSession): Double =
    spark.conf.get(CosineThresholdKey, DefaultCosineThreshold.toString).toDouble

  def debugLogging(spark: SparkSession): Boolean =
    flag(spark.conf.getOption, DebugLoggingKey, default = false)

  def metricsEnabled(spark: SparkSession): Boolean =
    flag(spark.conf.getOption, MetricsEnabledKey, default = true)

  // The optimizer rules read their switch through the lookup their
  // session hands them, so these take the lookup rather than a session.
  def winMagic(conf: String => Option[String]): Boolean =
    flag(conf, WinMagicKey, default = true)

  def asofPushdown(conf: String => Option[String]): Boolean =
    flag(conf, AsOfPushdownKey, default = true)

  def failOnGlobalWindow(conf: String => Option[String]): Boolean =
    flag(conf, FailOnGlobalWindowKey, default = false)

  /** Booleans: only the literal true/false spellings — the reference's
    * `=== 'true'` / `!== 'false'` coercions silently swallow typos
    * ("ture" meaning enabled-off forever); here a typo fails loudly,
    * naming the key. */
  private def flag(conf: String => Option[String], key: String,
      default: Boolean): Boolean = conf(key) match {
    case None => default
    case Some("true") => true
    case Some("false") => false
    case Some(v) => bad(key, v, "must be 'true' or 'false'")
  }

  private def bad(key: String, v: String, why: String): Nothing =
    throw new IllegalArgumentException(s"graft conf $key = '$v' is invalid: $why")

  def denyDomains(spark: SparkSession): Seq[String] =
    csv(spark.conf.get(DenyDomainsKey, graft.rules.Rules.DefaultDenyDomains.mkString(",")))

  def denyPrefixes(spark: SparkSession): Seq[String] =
    csv(spark.conf.get(DenyPrefixesKey, graft.rules.Rules.DefaultDenyPrefixes.mkString(",")))

  private def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Eager fail-fast over every `spark.graft.*` conf — the analog of the
    * reference's init-time config check (index.js:662-665), which
    * rejects a malformed deployment before any record is processed
    * instead of failing mid-batch. Invoked by Verify / Bench / the
    * pipeline entry points; throws IllegalArgumentException naming the
    * offending KEY and VALUE so a misconfigured `--conf` is a one-line
    * diagnosis.
    *
    * Checks: numeric confs must parse (Int / Double), thresholds must
    * lie in [0, 1], minMatches must be ≥ 0, and deny-list entries must
    * be lowercase and whitespace-free. The deny checks validate against
    * the ACTUAL matching semantics (Rules.denyListed: substring
    * containment per domain entry, startsWith per prefix — so a full
    * address in the domain list is legal and matches itself): emails in
    * the stream are lowercase and contain no whitespace, so an
    * uppercase or space-carrying entry can never match anything and is
    * a config typo worth failing on; anything else is permitted. */
  def validate(spark: SparkSession): Unit = {
    val mm = spark.conf.get(MinMatchesKey, "1")
    val mmV = mm.toIntOption.getOrElse(bad(MinMatchesKey, mm, "not an integer"))
    if (mmV < 0) bad(MinMatchesKey, mm, "must be >= 0")

    // Each threshold validates against ITS OWN default (not a shared
    // literal): a shared "0.5" fallback would silently skip range-checking
    // any future default that itself violates [0, 1].
    for ((key, default) <- Seq(
        QualityThresholdKey -> "0.5",
        NearDupThresholdKey -> "0.5",
        CosineThresholdKey -> DefaultCosineThreshold.toString)) {
      val raw = spark.conf.get(key, default)
      val v = raw.toDoubleOption.getOrElse(bad(key, raw, "not a number"))
      if (v.isNaN || v < 0.0 || v > 1.0) bad(key, raw, "must lie in [0, 1]")
    }

    // each boolean must parse; flag throws, naming the key, if it does not
    for (key <- BooleanKeys) flag(spark.conf.getOption, key, default = false)

    for ((key, entries) <- Seq(DenyDomainsKey -> denyDomains(spark),
        DenyPrefixesKey -> denyPrefixes(spark)); e <- entries) {
      if (e.exists(_.isWhitespace) || e.exists(_.isUpper))
        bad(key, e, "deny entries must be lowercase and whitespace-free " +
          "(stream emails are; such an entry can never match)")
    }
  }
}
