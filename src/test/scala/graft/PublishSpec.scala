package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The publish contract on plain files — no Spark: the build bodies
  * write text files, so every case runs in milliseconds. */
class PublishSpec extends AnyFunSuite {

  private def freshPath(): String =
    Files.createTempDirectory("publish_spec").resolve("artifact").toString

  private def tagOf(path: String): String =
    Files.readString(Paths.get(path, "_GRAFT_TAG"))

  private def names(path: String): Set[String] =
    new java.io.File(path).list().toSet

  private def writeFile(dir: String, name: String, body: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), body)
  }

  private def mtimes(path: String): Map[String, Long] =
    new java.io.File(path).listFiles().map(f => f.getName -> f.lastModified).toMap

  test("a leftover temp directory without a tag is cleared and rebuilt") {
    val path = freshPath()
    writeFile(path + ".tmp", "partial.txt", "half a dump")
    Publish.once(path, "t1")(writeFile(_, "part-0.txt", "rows"))
    assert(names(path) == Set("part-0.txt", "_GRAFT_TAG"),
      s"partial content survived: ${names(path)}")
    assert(tagOf(path) == "t1")
    assert(!Files.exists(Paths.get(path + ".tmp")))
  }

  test("a stale tag triggers a rebuild that replaces the old content") {
    val path = freshPath()
    Publish.once(path, "old")(writeFile(_, "old.txt", "v1"))
    var builds = 0
    Publish.once(path, "new") { tmp => builds += 1; writeFile(tmp, "new.txt", "v2") }
    assert(builds == 1)
    assert(tagOf(path) == "new")
    assert(names(path) == Set("new.txt", "_GRAFT_TAG"))
  }

  test("a fresh tag never calls the build and moves no mtime") {
    val path = freshPath()
    Publish.once(path, "t")(writeFile(_, "a.txt", "x"))
    val before = mtimes(path)
    Thread.sleep(20)
    Publish.once(path, "t")(_ => fail("build ran on a fresh tag"))
    assert(mtimes(path) == before)
  }

  test("a build that throws leaves the old artifact and its tag intact") {
    val path = freshPath()
    Publish.once(path, "good")(writeFile(_, "a.txt", "kept"))
    val err = intercept[IllegalStateException] {
      Publish.once(path, "next") { tmp =>
        writeFile(tmp, "a.txt", "partial")
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    assert(tagOf(path) == "good")
    assert(Files.readString(Paths.get(path, "a.txt")) == "kept")
    assert(names(path) == Set("a.txt", "_GRAFT_TAG"))
  }

  test("two threads publishing one path build once and both return") {
    val path = freshPath()
    val builds = new AtomicInteger()
    val secondStarted = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def publish(): Unit = Publish.once(path, "t") { tmp =>
      builds.incrementAndGet()
      // hold the lock until the other thread is inside once()
      secondStarted.await(10, TimeUnit.SECONDS)
      Thread.sleep(200)
      writeFile(tmp, "a.txt", "x")
    }
    val first = new Thread(() =>
      try publish() catch { case e: Throwable => errors.add(e) })
    first.start()
    while (builds.get() == 0) Thread.sleep(5)
    val second = new Thread(() =>
      try { secondStarted.countDown(); publish() }
      catch { case e: Throwable => errors.add(e) })
    second.start()
    first.join(30000)
    second.join(30000)
    assert(errors.isEmpty, s"a caller failed: ${errors.peek()}")
    assert(builds.get() == 1)
    assert(tagOf(path) == "t")
  }
}
