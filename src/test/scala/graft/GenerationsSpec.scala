package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.CyclicBarrier

import org.scalatest.funsuite.AnyFunSuite

/** The one publish step every generation store commits through
  * ([[Generations]]): first writer wins under a real race, and a crash
  * at either step of write-temp + link converges. */
class GenerationsSpec extends AnyFunSuite {

  private def store(dir: Path) =
    new Generations[Map[String, String]](dir.toString, "test store",
      format = 1, unversioned = 0)((gen, kv) => kv + ("gen" -> gen.toString))

  test("two barrier-synced writers publishing one generation: exactly one wins every round") {
    val dir = Files.createTempDirectory("graft-gen-race")
    val (double, none) = GenerationsSpec.race(dir, rounds = 2000)(
      Generations.commit)
    assert(double == 0 && none == 0, s"double wins $double, no wins $none")
  }

  test("a temp written but not linked is invisible: latest stays at the previous generation") {
    val dir = Files.createTempDirectory("graft-gen-torn")
    val gens = store(dir)
    gens.publish(0L, "epoch" -> 0, "data" -> "e0-data")
    // a writer that died after its temp and before the link
    val commits = dir.resolve("_commits")
    Files.write(commits.resolve(".manifest-1.tmp-crashed"),
      "format=1\nepoch=1\ndata=e1-data\n".getBytes("UTF-8"))
    assert(gens.committed == List(0L))
    assert(gens.latest.map(_("gen")).contains("0"))
    assert(gens.next(_("epoch").toLong) == ((1L, 1L)))
    // the status-version scan skips it too
    assert(DirIO.numberedEntries(commits, "") == Nil)
  }

  test("a link made but its temp not deleted counts as committed, and vacuum reclaims the temp") {
    val dir = Files.createTempDirectory("graft-gen-linked")
    val gens = store(dir)
    gens.publish(0L, "epoch" -> 0, "data" -> "e0-data")
    Files.createDirectories(dir.resolve("e0-data"))
    Files.createDirectories(dir.resolve("e1-data"))
    // a writer that died after the link and before deleting its temp
    val commits = dir.resolve("_commits")
    val tmp = commits.resolve(".manifest-1.tmp-crashed")
    Files.write(tmp, "format=1\nepoch=1\ndata=e1-data\n".getBytes("UTF-8"))
    Files.createLink(commits.resolve("manifest-1"), tmp)
    assert(gens.committed == List(0L, 1L))
    assert(gens.latest.map(_("data")).contains("e1-data"))
    gens.vacuum(keep = 1, graceMs = 0L)(m => Seq(m("data")))
    assert(!Files.exists(tmp))
    assert(gens.committed == List(1L))
    assert(!Files.exists(dir.resolve("e0-data")))
    assert(Files.exists(dir.resolve("e1-data")))
    assert(gens.latest.map(_("data")).contains("e1-data"))
  }

  test("publishing a committed generation again throws and leaves the committed body") {
    val dir = Files.createTempDirectory("graft-gen-lost")
    val gens = store(dir)
    gens.publish(0L, "epoch" -> 0, "data" -> "first")
    val e = intercept[IllegalStateException] {
      gens.publish(0L, "epoch" -> 0, "data" -> "second")
    }
    assert(e.getMessage.contains("concurrent builder"), e.getMessage)
    assert(gens.latest.map(_("data")).contains("first"))
    assert(DirIO.listNames(dir.resolve("_commits")) == List("manifest-0"))
  }
}

object GenerationsSpec {

  /** Two threads, released together by a barrier, each `commit` the
    * same target once per round with their own body. Returns the
    * rounds both writers reported a win and the rounds neither did. */
  def race(dir: Path, rounds: Int)(
      commit: (Path, String) => Boolean): (Int, Int) = {
    val barrier = new CyclicBarrier(2)
    val won = Array.fill(2)(new Array[Boolean](rounds))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try (0 until rounds).foreach { r =>
          barrier.await()
          won(w)(r) = commit(dir.resolve(f"$r%08d"), s"writer-$w")
        } catch { case t: Throwable => errors.add(t); barrier.reset() }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    require(errors.isEmpty, s"writer threw: ${errors.peek()}")
    val wins = (0 until rounds).map(r => won.count(_(r)))
    (wins.count(_ == 2), wins.count(_ == 0))
  }
}
