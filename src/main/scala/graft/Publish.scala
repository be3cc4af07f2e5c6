package graft

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE, WRITE}

/** The one publish primitive for one-time artifacts (migration dumps,
  * dedup indexes, MVs, layouts, stream logs, frozen models): every
  * `/tmp/graft_*` artifact is built at most once per tag and appears
  * under its path only when complete.
  *
  * Contract of [[once]], in order:
  *   1. take the lock on `path` ([[locked]]);
  *   2. return at once if `path/_GRAFT_TAG` equals `tag`;
  *   3. otherwise clear any `path.tmp` and run `build(path + ".tmp")`;
  *   4. write the tag into the temp directory last, delete the old
  *      `path`, and rename the temp directory to `path`.
  * A JVM killed anywhere in 3-4 leaves either the old tagged artifact,
  * no artifact, or an untagged temp directory — all of which the next
  * call rebuilds. The tag lives inside the artifact: Spark skips
  * `_`-prefixed files and every oracle glob matches data files only.
  * Any path stored INSIDE an artifact must be relative to it, because
  * the build runs under `path.tmp`.
  *
  * Each call logs one stderr line, `[publish] <path> built <s>s` or
  * `[publish] <path> reused`, so build cost is visible; stdout stays
  * untouched for the bench's one-line JSON contract. */
object Publish {

  private val tagName = "_GRAFT_TAG"

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Exclusive section on `path`: a per-path monitor serialises the
    * threads of this JVM (an OS `FileLock` is held per JVM, so a
    * second thread locking the same file gets an
    * OverlappingFileLockException instead of waiting), then a
    * `FileLock` on `path.lock` serialises JVMs — an overlapping Bench
    * and Verify must not race writes into one artifact. */
  def locked[A](path: String)(body: => A): A =
    monitors.computeIfAbsent(path, _ => new Object).synchronized {
      val ch = FileChannel.open(Paths.get(path + ".lock"), CREATE, WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }

  def once(path: String, tag: String)(build: String => Unit): Unit =
    locked(path) {
      val tagFile = Paths.get(path, tagName)
      if (Files.exists(tagFile) && Files.readString(tagFile) == tag)
        System.err.println(s"[publish] $path reused")
      else {
        val t0 = System.nanoTime()
        val tmp = Paths.get(path + ".tmp")
        delete(tmp)
        build(tmp.toString)
        Files.writeString(tmp.resolve(tagName), tag)
        delete(Paths.get(path))
        Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
        System.err.println(
          f"[publish] $path built ${(System.nanoTime() - t0) / 1e9}%.3fs")
      }
    }

  private def delete(p: Path): Unit =
    new scala.reflect.io.Directory(p.toFile).deleteRecursively()
}
