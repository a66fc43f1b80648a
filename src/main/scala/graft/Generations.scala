package graft

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths,
  StandardCopyOption}

/** The manifest generations of one store rooted at `dir` — the commit
  * protocol [[graft.ext.EmbedIndex]], [[graft.ext.TokenizerStore]] and
  * [[graft.ext.CentroidStore]] share:
  * {{{
  *   <data dirs>/             immutable once written, no authority
  *   _commits/manifest-<gen>  `key=value` lines, the first `format=<v>`
  * }}}
  * The highest committed generation is the only truth. A build or
  * append writes its data dirs FIRST, then publishes the next manifest
  * through [[Generations.commit]]; a writer dying before that leaves
  * orphan dirs and no manifest, which readers never see and [[vacuum]]
  * reclaims. A manifest of another format is a LOUD error for readers;
  * only a build recovers, by publishing past it ([[next]]).
  *
  * `what` names the store in errors; `unversioned` is the format a
  * manifest without a `format` key reads as; `parse` turns a checked
  * manifest body into the store's own manifest type. */
final class Generations[M](dir: String, what: String, format: Int,
    unversioned: Int)(parse: (Long, Map[String, String]) => M) {

  private val commits = Paths.get(dir, "_commits")

  private def file(gen: Long): Path = commits.resolve(s"manifest-$gen")

  /** Every committed generation, ascending — listed without reading a
    * body, so it works across format versions. */
  def committed: List[Long] = DirIO.numberedEntries(commits, "manifest-")

  /** The newest committed manifest, if any generation has published. */
  def latest: Option[M] = committed.lastOption.map(at)

  /** The manifest of committed generation `gen`, format-checked. */
  def at(gen: Long): M = {
    val kv = Generations.read(file(gen))
    val found = kv.get("format").map(_.toInt).getOrElse(unversioned)
    if (found != format) throw new IllegalStateException(
      s"$what at $dir uses manifest format $found; this build reads " +
        s"format $format — run build() (it starts a fresh epoch beside " +
        "the old data and publishes a readable generation; vacuum " +
        "reclaims the old files), or read with a matching library version")
    parse(gen, kv)
  }

  /** The (gen, epoch) a build publishes next: one past the newest
    * committed generation, and one past its epoch. When the newest
    * manifest is of another format the epoch is the new gen itself,
    * which no legacy data name can collide with (the upgrade path). */
  def next(epoch: M => Long): (Long, Long) =
    committed.lastOption.fold((0L, 0L)) { last =>
      val e = try epoch(at(last)) + 1 catch {
        case _: IllegalStateException => last + 1
      }
      (last + 1, e)
    }

  /** Publish generation `gen` with `fields` after the format line.
    * Throws when a concurrent writer committed `gen` first: this
    * commit's data dirs are then orphans [[vacuum]] reclaims. */
  def publish(gen: Long, fields: (String, Any)*): Unit = {
    val body = (("format" -> format) +: fields)
      .map { case (k, v) => s"$k=$v\n" }.mkString
    if (!Generations.commit(file(gen), body)) throw new IllegalStateException(
      s"$what at $dir: generation $gen was committed by a concurrent " +
        "builder — this commit is NOT published; re-run to publish the " +
        "next generation (vacuum reclaims the orphan data)")
  }

  /** Reclaim superseded manifests, the data dirs only they name, orphan
    * data dirs no manifest names and abandoned temps — the only
    * destructive step. The newest `keep` generations stay readable
    * (`live` lists the data dirs a manifest names). Entries touched
    * within `graceMs` are spared: a concurrent builder's unpublished
    * dir, a publisher's temp, or a generation a reader still scans;
    * `graceMs = 0` is the single-writer teardown form. */
  def vacuum(keep: Int, graceMs: Long)(live: M => Seq[String]): Unit = {
    require(keep >= 1, s"keepGenerations must be >= 1 (got $keep)")
    val root = Paths.get(dir)
    if (Files.isDirectory(root)) {
      val kept = committed.takeRight(keep)
      val newest = kept.lastOption.getOrElse(Long.MinValue)
      val liveNames = kept.flatMap(g => live(at(g))).toSet + "_commits"
      val cutoff = System.currentTimeMillis() - graceMs
      def graced(p: Path): Boolean = scala.util.Try(
        Files.getLastModifiedTime(p).toMillis <= cutoff).getOrElse(false)
      // ORDER: manifests first, data dirs second — a crash between the
      // two leaves an orphan dir (re-vacuumable), never a committed
      // manifest naming a deleted dir. Only a manifest STRICTLY BELOW
      // the newest kept one is superseded: one published after the
      // listing above is never touched.
      if (Files.isDirectory(commits))
        DirIO.listPaths(commits).filter { p =>
          val n = p.getFileName.toString
          graced(p) && (n.startsWith(".") ||
            n.stripPrefix("manifest-").toLongOption
              .exists(g => g < newest && !kept.contains(g)))
        }.foreach(p => { Files.deleteIfExists(p); () })
      DirIO.listPaths(root)
        .filter(p => !liveNames(p.getFileName.toString) && graced(p))
        .foreach(DirIO.deleteRecursively)
    }
  }
}

object Generations {

  /** Commit `body` at `target` FIRST WRITER WINS — the conditional PUT
    * of every store here: the full body goes to a temp beside `target`,
    * which is then hard-linked to `target`. link(2) is atomic, publishes
    * complete content and fails with EEXIST for every writer but the
    * first; a rename would REPLACE a committed target on POSIX. Returns
    * false when another writer committed `target` first. A temp left by
    * a crash starts with `.`, so no listing here reads it as committed.
    * On a filesystem without hard links (exFAT, some NFS or object-store
    * mounts) the commit falls back to an atomic rename, where the LAST
    * writer wins: single-writer use is then the operator's contract. */
  def commit(target: Path, body: String): Boolean = {
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(
      s".${target.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes("UTF-8"))
    try { Files.createLink(target, tmp); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        true
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** `base` suffixed with a fresh writer nonce — the name of a data dir
    * a build or append is about to write. Two writers that computed the
    * same generation and epoch then write disjoint dirs, so the one
    * whose manifest commits serves only its own rows; the loser's dirs
    * are orphans [[Generations.vacuum]] reclaims. */
  def fresh(base: String): String =
    s"$base-${java.lang.Long.toHexString(
      java.util.UUID.randomUUID().getLeastSignificantBits)}"

  /** The `key=value` lines of a committed body; other lines are skipped. */
  def read(file: Path): Map[String, String] =
    new String(Files.readAllBytes(file), "UTF-8")
      .linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim }
      .toMap
}
