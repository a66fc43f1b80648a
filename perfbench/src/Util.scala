package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One reported metric: value plus unit, as the result line prints it. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]: the result-line fields, its
  * metrics (end-to-end when untraced, per-layer when traced) and each
  * correctness check as (name, passed, detail). */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Map[String, Metric],
    checks: Seq[(String, Boolean, String)])

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted.toIndexedSeq
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Fs {
  def bytesUnder(dirs: String*): Long = dirs.map { d =>
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }.sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Heap in use after a full collection: what the run keeps alive. */
object Heap {
  def retainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Counts jobs, tasks and task metrics as the scheduler reports them.
  * Jobs are also counted per job group, so a caller can wrap one
  * public call in `sc.setJobGroup` and read how many jobs it ran. */
class JobCounter extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    byGroup.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m: TaskMetrics = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def inGroup(g: String): Long = Option(byGroup.get(g)).map(_.get).getOrElse(0L)

  /** A snapshot to diff against after a phase. */
  def snap: Array[Long] =
    Array(jobs.get, tasks.get, cpuNs.get, shuffleWrite.get, spill.get)
}

object JobCounter {
  def attach(spark: SparkSession): JobCounter = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Listener events arrive asynchronously; counts are read only after
    * the bus has delivered everything posted before this call. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Samples one thread's stack every `intervalMs` and charges the time
  * since the previous sample to a layer: the innermost `graft.*` frame
  * on the stack names it, and a stack with no `graft.*` frame is
  * charged to the engine itself. Sampling is on only while `active`,
  * so the charged time covers exactly the windows the caller timed. */
class StackSampler(target: () => Option[Thread], intervalMs: Int)
    extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile var active = false
  @volatile private var stopped = false
  private val charged = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def run(): Unit = {
    var thread: Option[Thread] = None
    var last = System.nanoTime()
    while (!stopped) {
      Thread.sleep(intervalMs.toLong)
      val now = System.nanoTime()
      if (active) {
        if (thread.forall(!_.isAlive)) thread = target()
        thread.foreach { t =>
          val layer = StackSampler.layerOf(t.getStackTrace)
          charged.synchronized { charged(layer) += now - last }
        }
      }
      last = now
    }
  }

  def shutdown(): Unit = { stopped = true; join() }

  def chargedMs: Map[String, Double] = charged.synchronized {
    charged.view.mapValues(_ / 1e6).toMap
  }
}

object StackSampler {
  /** Layer names by class-name prefix, most specific first; any other
    * `graft.*` class is charged to its package. */
  private val layers = Seq(
    "graft.sink.StatusStore" -> "sink.cas",
    "graft.sink.EmailJobSink$TxnLog" -> "sink.txnlog",
    "graft.sink.EmailJobSink" -> "sink.append",
    "graft.streaming.StreamPipeline" -> "streaming.foreach_batch",
    "graft.streaming.CorpusIngest" -> "CorpusIngest",
    "graft.SparkEntry" -> "SparkEntry")

  def layerOf(stack: Array[StackTraceElement]): String =
    stack.iterator.map(_.getClassName).find(_.startsWith("graft.")) match {
      case Some(c) => layers.collectFirst { case (p, l) if c.startsWith(p) => l }
        .getOrElse(c.split('.').take(2).mkString("."))
      case None => "spark.engine"
    }

  def streamThread(): Option[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.startsWith("stream execution thread"))
}

/** Codegen compiles as Spark's own codegen metrics count them. The
  * histogram keeps a bounded reservoir, so compile time is its mean
  * times the compile count. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def compiles: Long = h.getCount
  def meanMs: Double = h.getSnapshot.getMean
}

/** Conditions of the run, recorded with every result. */
object Host {
  /** (1-minute load average, steal jiffies, total jiffies). */
  def sample(): (Double, Long, Long) = {
    val load = scala.util.Try(new String(Files.readAllBytes(
      Paths.get("/proc/loadavg"))).split(" ")(0).toDouble).getOrElse(-1.0)
    val cpu = scala.util.Try(Files.readAllLines(Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    (load, if (cpu.length > 7) cpu(7) else -1L, cpu.sum)
  }
}
