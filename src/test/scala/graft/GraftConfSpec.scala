package graft

/** Eager conf validation ([[GraftConf.validate]]) — the init-time
  * fail-fast mirroring the reference's config check (index.js:662-665):
  * a malformed `--conf` must throw at session init, naming the key,
  * never mid-query. */
class GraftConfSpec extends SparkSpec {

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("default confs validate cleanly") {
    GraftConf.validate(spark)
  }

  test("a non-numeric threshold fails at init, naming the key") {
    withConf(GraftConf.NearDupThresholdKey -> "very-similar") {
      val e = intercept[IllegalArgumentException](GraftConf.validate(spark))
      assert(e.getMessage.contains(GraftConf.NearDupThresholdKey))
      assert(e.getMessage.contains("very-similar"))
    }
  }

  test("an out-of-range threshold fails at init") {
    withConf(GraftConf.CosineThresholdKey -> "1.7") {
      val e = intercept[IllegalArgumentException](GraftConf.validate(spark))
      assert(e.getMessage.contains("[0, 1]"))
    }
  }

  test("a non-integer minMatches fails at init") {
    withConf(GraftConf.MinMatchesKey -> "two") {
      val e = intercept[IllegalArgumentException](GraftConf.validate(spark))
      assert(e.getMessage.contains(GraftConf.MinMatchesKey))
    }
  }

  test("a full address in the deny-DOMAIN list validates (matching is substring containment)") {
    // Rules.denyListed matches domains by email.contains(entry), so a
    // full address entry is legal and blocks exactly that address
    withConf(GraftConf.DenyDomainsKey -> "example.com,bob@spam.net") {
      GraftConf.validate(spark)
    }
  }

  test("uppercase / whitespace deny entries fail at init") {
    withConf(GraftConf.DenyDomainsKey -> "Example.com") {
      intercept[IllegalArgumentException](GraftConf.validate(spark))
    }
    withConf(GraftConf.DenyPrefixesKey -> "no reply@") {
      intercept[IllegalArgumentException](GraftConf.validate(spark))
    }
  }

  test("a misspelled boolean toggle fails at init (the reference's coercion would silently ignore it)") {
    withConf(GraftConf.DebugLoggingKey -> "ture") {
      val e = intercept[IllegalArgumentException](GraftConf.validate(spark))
      assert(e.getMessage.contains(GraftConf.DebugLoggingKey))
    }
    for (key <- Seq(GraftConf.MetricsEnabledKey, GraftConf.WinMagicKey,
        GraftConf.AsOfPushdownKey, GraftConf.FailOnGlobalWindowKey))
      withConf(key -> "yes") {
        val e = intercept[IllegalArgumentException](GraftConf.validate(spark))
        assert(e.getMessage.contains(key))
      }
  }

  test("debugLogging conf drives the graft logger level (ENABLE_DEBUG_LOGGING analog)") {
    try {
      withConf(GraftConf.DebugLoggingKey -> "true") {
        GraftLog.applyLevel(spark)
        assert(GraftLog.debugEnabled)
        // lazy message: thunk runs when enabled
        var built = 0
        GraftLog.debug { built += 1; "dump" }
        assert(built == 1)
      }
      withConf(GraftConf.DebugLoggingKey -> "false") {
        GraftLog.applyLevel(spark)
        assert(!GraftLog.debugEnabled)
        // zero-cost when disabled: the message string is never built
        var built = 0
        GraftLog.debug { built += 1; "dump" }
        assert(built == 0)
        GraftLog.debugPlan("noop", spark.range(1).toDF())
      }
    } finally {
      GraftLog.applyLevel(spark) // restore from the default (off)
    }
  }

  test("enableMetrics=false gates the publish side of the batch listener (ENABLE_METRICS analog)") {
    @volatile var published = 0
    val listener = new graft.metrics.Observability.MetricsListener(
      (_, _) => published += 1)
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      withConf(GraftConf.MetricsEnabledKey -> "false") {
        val env = graft.pipeline.MatchFixture.envelope(
          Seq((31L, "Customer#31")).toDF("c_custkey", "c_name"))
        graft.metrics.Observability
          .observed(graft.pipeline.MatchPipeline.decide(env)).collect()
        // listener bus is async; give a would-be publish time to land
        Thread.sleep(1000)
        assert(published == 0)
      }
      withConf(GraftConf.MetricsEnabledKey -> "true") {
        val env = graft.pipeline.MatchFixture.envelope(
          Seq((32L, "Customer#32")).toDF("c_custkey", "c_name"))
        graft.metrics.Observability
          .observed(graft.pipeline.MatchPipeline.decide(env)).collect()
        val deadline = System.currentTimeMillis() + 10000
        while (published == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(published == 1)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("a tuned-but-well-formed deployment validates") {
    withConf(
      GraftConf.MinMatchesKey -> "3",
      GraftConf.QualityThresholdKey -> "0.8",
      GraftConf.DenyDomainsKey -> "spam.net,junk.org",
      GraftConf.DenyPrefixesKey -> "noreply@,bot-") {
      GraftConf.validate(spark)
    }
  }
}
