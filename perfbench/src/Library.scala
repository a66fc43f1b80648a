package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `SparkEntry.queries` entries over seeded `documents` and
  * `embeddings` tables, run in passes over a fixed list. Each
  * query is timed in three parts, the split of the repo's planning
  * probe: construction (`fn(spark, dir)`, with the eager jobs it
  * runs), planning (`executedPlan`) and execution (`collect`). Every
  * pass starts with the shared memos cleared and the artifact stores
  * the entries persist under `java.io.tmpdir` removed, so each pass
  * does the same work. */
object Library {

  /** The entries timed, in pass order. They were chosen from one
    * measured pass over every entry that runs on the tables below: by
    * construction-time jobs per second of wall, the densest first,
    * leaving out entries whose DuckDB mirror takes over 1 s (the check
    * runs in every run), while the pass stayed within 4 s
    * (perfbench/README.md has the numbers). `corpus_tombstone_active`
    * builds its corpus through `CorpusIngest.ingestBatch` and
    * `tombstoneDocs`, so the ingest layer runs in every pass. */
  val Queries: Seq[String] = Seq(
    "text_perceptron_train", "text_bpe_train", "embed_assign_persisted",
    "embed_kmeans_sampled", "corpus_tombstone_active", "sample_hash")

  /** Table sizes: the row counts of the repo's sf0.01 test data. */
  val Docs = 500
  val Vectors = 500
  val SetupReps = 3
  /** Passes every run makes, however long they take, so every run
    * measures the same work. */
  val MinPasses = 3

  private def writeTables(spark: SparkSession, dir: String, seed: Long): Unit = {
    Gen.documents(spark, seed, Docs).write.parquet(s"$dir/documents.parquet")
    Gen.embeddings(spark, seed, Vectors).write.parquet(s"$dir/embeddings.parquet")
  }

  private def artifactRoots(): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(sys.props("java.io.tmpdir")))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_")).toList
    finally s.close()
  }

  /** Start a pass from nothing: no memoized frames, no persisted stores. */
  private def coldPass(): Unit = {
    SparkEntry.clearMemos()
    artifactRoots().foreach(Fs.deleteTree)
  }

  def run(spark: SparkSession, work: String, seed: Long, seconds: Double,
      trace: Boolean): Outcome = {
    val data = s"$work/data"
    writeTables(spark, data, seed)

    // set-up: one untimed pass from cold; the timed passes then all run
    // with the JIT warm (a pass still compiles generated code: it needs
    // more classes than Spark's codegen cache keeps)
    val setupS = (0 until SetupReps).map { r =>
      coldPass()
      val t = System.nanoTime()
      Queries.foreach(q => SparkEntry.queries(q)(spark, data).collect())
      Main.phase(s"rep $r")
      (System.nanoTime() - t) / 1e9
    }

    val counter = if (trace) Some(JobCounter.attach(spark)) else None
    val main = Thread.currentThread()
    val sampler = if (trace) {
      val s = new StackSampler(() => Some(main), 10)
      s.start(); Some(s)
    } else None
    // per pass, traced: [jobs, tasks, cpu ns, shuffle bytes, spill
    // bytes, compiles]; exact counts come from pass 0, the same work on
    // every run with one seed
    val counts = ArrayBuffer.empty[Array[Long]]

    val lat = ArrayBuffer.empty[Double]
    val parts = ArrayBuffer.empty[(Double, Double, Double)]
    val passWall = ArrayBuffer.empty[Double]
    val kept = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    var failed = 0L
    var pass = 0
    val t0 = System.nanoTime()
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      coldPass()
      counter.foreach(_ => JobCounter.drain(spark))
      val before = counter.map(_.snap :+ Codegen.compiles)
      val p0 = System.nanoTime()
      Queries.foreach { q =>
        sampler.foreach(_.active = true)
        val s = System.nanoTime()
        try {
          spark.sparkContext.setJobGroup(s"construct-$pass-$q", q)
          val df = try SparkEntry.queries(q)(spark, data)
            finally spark.sparkContext.clearJobGroup()
          val s1 = System.nanoTime()
          df.queryExecution.executedPlan
          val s2 = System.nanoTime()
          val rows = df.collect()
          val s3 = System.nanoTime()
          parts += (((s1 - s) / 1e6, (s2 - s1) / 1e6, (s3 - s2) / 1e6))
          if (pass == 0) kept(q) = (rows, df.schema)
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
        }
        lat += (System.nanoTime() - s) / 1e6
        sampler.foreach(_.active = false)
      }
      passWall += (System.nanoTime() - p0) / 1e6
      counter.foreach { c =>
        JobCounter.drain(spark)
        counts += (c.snap :+ Codegen.compiles).zip(before.get).map { case (a, b) => a - b }
      }
      pass += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    Main.phase(s"timed $pass passes ${passWall.map(_.toInt).mkString(",")} ms")
    sampler.foreach(_.shutdown())
    val tombMb = Fs.bytesUnder(artifactRoots()
      .filter(_.getFileName.toString.startsWith("graft_tombcorpus")).map(_.toString): _*) / 1048576.0
    val heapMb = Heap.retainedMb()

    // ---- correctness, outside the timed window: run.py compares each
    // first-pass result with its DuckDB mirror over the same tables
    val results = s"$work/results"
    kept.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$results/$q")
    }
    val missing = kept.keys.filterNot(SparkEntry.oracleSql.contains).toSeq
    Files.createDirectories(Paths.get(results))
    Files.writeString(Paths.get(s"$results/oracle_sql.json"), Json.obj(
      kept.keys.toSeq.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))))
    val diskMbPerQuery = Fs.bytesUnder(results) / 1048576.0 / math.max(kept.size, 1)
    val checks = Seq(
      ("every_query_has_a_mirror", missing.isEmpty, missing.mkString(",")),
      ("no_query_failed", failed == 0, s"failed=$failed passes=$pass"))

    // the entries differ by up to 5x in latency, so a median over single
    // queries jumps from one entry to the next; the median over passes
    // of a pass's wall per query moves with every entry instead
    val perQueryMs = Stats.median(passWall.map(_ / Queries.size).toSeq)
    val (metrics, traceChecks) =
      if (!trace) (Map(
        "setup_s" -> Metric(Stats.median(setupS), "s"),
        "batch_p50_ms" -> Metric(perQueryMs, "ms"),
        "items_per_s" -> Metric(lat.size / elapsedS, "1/s"),
        "retained_heap_mb" -> Metric(heapMb, "MB"),
        "disk_mb_per_op" -> Metric(diskMbPerQuery, "MB")), Nil)
      else {
        val n = pass.toDouble
        val q = lat.size.toDouble
        def total(k: Int): Double = counts.map(_(k)).sum.toDouble
        val charged = sampler.get.chargedMs.withDefaultValue(0.0)
        // the three timed parts of every query against the pass walls,
        // which also hold the bookkeeping between queries
        val selfGap = math.abs(parts.map(p => p._1 + p._2 + p._3).sum - passWall.sum) / passWall.sum
        val sampledGap = math.abs(charged.values.sum - lat.sum) / lat.sum
        (Layers.zeros ++ Map(
          "SparkEntry.construct_ms" -> Metric(parts.map(_._1).sum / n, "ms"),
          "SparkEntry.construct_jobs" ->
            Metric(Queries.map(x => counter.get.inGroup(s"construct-0-$x")).sum.toDouble, "count"),
          "plans.plan_ms" -> Metric(parts.map(_._2).sum / n, "ms"),
          "spark.exec_ms" -> Metric(parts.map(_._3).sum / n, "ms"),
          "library.pass_s" -> Metric(Stats.median(passWall.toSeq) / 1e3, "s"),
          "spark.jobs_per_query" -> Metric(counts(0)(0).toDouble / Queries.size, "count"),
          "spark.task_cpu_ms" -> Metric(total(2) / 1e6 / q, "ms"),
          "spark.shuffle_write_bytes" -> Metric(total(3) / q, "bytes"),
          "spark.spill_bytes" -> Metric(total(4) / q, "bytes"),
          "spark.codegen_compiles" -> Metric(counts(0)(5).toDouble, "count"),
          "spark.codegen_compile_ms" -> Metric(total(5) * Codegen.meanMs / n, "ms"),
          "CorpusIngest.self_ms" -> Metric(charged("CorpusIngest") / n, "ms"),
          "CorpusIngest.jobs_per_pass" -> Metric(
            counter.get.inGroup("construct-0-corpus_tombstone_active").toDouble, "count"),
          "CorpusIngest.index_mb" -> Metric(tombMb, "MB"),
          "trace.engine_ms" -> Metric(charged("spark.engine") / q, "ms"),
          "trace.self_time_gap" -> Metric(selfGap, "share"),
          "trace.sampled_gap" -> Metric(sampledGap, "share"),
          "trace.batch_p50_ms" -> Metric(perQueryMs, "ms")),
          Seq(Layers.gapCheck("self_times_add_up_to_pass_wall", selfGap, Layers.SelfTimeTolerance),
            Layers.gapCheck("sampled_layers_cover_query_wall", sampledGap, Layers.SampledTolerance)))
      }
    Outcome(correct = (checks ++ traceChecks).forall(_._2), attempted = lat.size.toLong,
      failed = failed, metrics = metrics, checks = checks ++ traceChecks)
  }
}
