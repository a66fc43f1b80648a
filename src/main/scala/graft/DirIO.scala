package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one place the directory-stream-hygiene idiom lives: every
  * `Files.list` / `Files.walk` MUST be closed (the javadoc requires
  * try-with-resources; an unclosed stream keeps its file descriptor
  * open, even after GC — fatal on per-micro-batch hot paths like the
  * shard source's offset poll, TxnLog marker scans and manifest
  * reads). Hand-rolling the try/finally at each call site is exactly
  * how the leak recurred across five files, so `tools/precommit.sh`
  * refuses either call in `src/main` outside this file and
  * [[Generations]]. */
object DirIO {

  /** Entry names of `dir`, stream closed. */
  def listNames(dir: Path): List[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }

  /** Entry paths of `dir`, stream closed. */
  def listPaths(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList
    finally s.close()
  }

  /** True when `dir` exists and has at least one entry. */
  def nonEmpty(dir: String): Boolean = {
    val p = Paths.get(dir)
    Files.exists(p) && {
      val s = Files.list(p)
      try s.findFirst().isPresent finally s.close()
    }
  }

  /** `dir` read as parquet, or None while it holds no data entry. Names
    * starting with `_` or `.` do not count — Spark's own hidden-file
    * rule — so a directory holding only a `_txn` commit log reads as
    * empty instead of failing schema inference. With a `schema` the
    * read takes it (a subset of the stored columns is fine) and runs
    * no schema-inference job; without one Spark infers it. */
  def readParquet(spark: SparkSession, dir: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val p = Paths.get(dir)
    val hasData = Files.exists(p) && {
      val s = Files.list(p)
      try s.anyMatch { e =>
        val n = e.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      } finally s.close()
    }
    if (!hasData) None
    else Some(schema.fold(spark.read)(spark.read.schema).parquet(dir))
  }

  /** The `<prefix><long>` entries of `dir`, parsed and ascending —
    * the manifest-generation / txn-marker / status-version scan every
    * store shares. Names that do not parse (a commit temp) are skipped. */
  def numberedEntries(dir: Path, prefix: String): List[Long] =
    if (!Files.exists(dir)) Nil
    else listNames(dir)
      .flatMap(n =>
        if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption else None)
      .sorted

  /** Delete `p` and everything under it; nothing when it is absent. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }
}
