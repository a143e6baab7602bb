package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** Scratch-space router for the harness's EPHEMERAL directories —
  * streaming checkpoints, replay split files, bucketed-table scratch.
  * These dirs live only for one JVM (the root's shutdown hook deletes
  * everything under it; per-query checkpoints are deleted as soon as
  * their query stops) and are pure harness state: a real
  * deployment passes a durable `checkpointLocation` on reliable
  * storage, but a bounded-replay twin (`StreamingQueries.replay`)
  * re-creates its checkpoint from scratch every run, so its only
  * requirement is "fast local scratch".
  *
  * Resolution order (guide §6 — put ephemeral I/O on the fastest
  * local medium available):
  *   1. `SPARK_GRAFT_EPHEMERAL_DIR` (explicit override — a cluster
  *      deployment points this at its local SSD scratch);
  *   2. `/dev/shm` when it exists and is writable (Linux tmpfs: the
  *      checkpoint WAL/commit-log writes and state-store delta files
  *      become memory writes — measured A/B in OPTIMIZATION_r17.md);
  *   3. `java.io.tmpdir` (the pre-r17 behavior, and the portable
  *      fallback).
  *
  * NOT routed to tmpfs: anything persisted across runs (nothing is —
  * see the no-caching rule in OPTIMIZATION_r17.md), the driver's
  * input fixtures (`/root/testdata` stays the driver's contract), and
  * DATA-SIZED scratch (ScaleBench's scaled-table copies, the
  * per-format document materializations) — those go through
  * [[dataDir]], which prefers `java.io.tmpdir` so a memory-backed
  * `/dev/shm` is never asked to hold a table copy at a high scale
  * factor (ADVICE r17). Checkpoint/metadata-log/split-file scratch
  * (KB-to-MB-sized) stays on the shm-preferring [[dir]] route.
  */
object Ephemeral {

  /** Resolved once per JVM; all scratch dirs share this one root,
    * whose shutdown hook deletes everything under it.
    */
  lazy val base: Path = root("graft-ephemeral-", fromEnv.orElse(
    Some(Paths.get("/dev/shm")).filter(p => Files.isDirectory(p) && Files.isWritable(p))))

  /** Drop-in for `Files.createTempDirectory(prefix)` on the scratch
    * base. */
  def dir(prefix: String): Path = Files.createTempDirectory(base, prefix)

  /** Base for DATA-SIZED ephemeral dirs: `SPARK_GRAFT_EPHEMERAL_DIR`
    * if set, else `java.io.tmpdir` — never the tmpfs default, which a
    * scaled table copy could exhaust (ADVICE r17). Same per-JVM
    * subdir + shutdown-hook cleanup story as [[base]].
    */
  lazy val dataBase: Path = root("graft-ephemeral-data-", fromEnv)

  private def fromEnv: Option[Path] =
    sys.env.get("SPARK_GRAFT_EPHEMERAL_DIR").map(Paths.get(_))

  /** A fresh `prefix` dir under `preferred`, else under
    * `java.io.tmpdir`, deleted with everything under it at JVM exit.
    * One per-JVM subdir keeps concurrent JVMs and leftover crash debris
    * apart, and gives cleanup a single root.
    */
  private def root(prefix: String, preferred: Option[Path]): Path = {
    val chosen = preferred.getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
    val root = Files.createTempDirectory(chosen, prefix)
    sys.addShutdownHook {
      try deleteTree(root) catch { case _: Exception => () }
    }
    root
  }

  /** [[dir]] for data-sized artifacts (table copies, per-format
    * document materializations) — disk-backed, not tmpfs.
    */
  def dataDir(prefix: String): Path = Files.createTempDirectory(dataBase, prefix)

  /** Deletes `p` and everything under it, children first. A path that
    * is already gone — `p` itself, or an entry deleted concurrently
    * during the walk — counts as deleted; any other I/O error is thrown.
    */
  def deleteTree(p: Path): Unit =
    Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      private def gone(e: IOException) =
        if (e == null || e.isInstanceOf[NoSuchFileException]) FileVisitResult.CONTINUE
        else throw e
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult = gone(e)
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        gone(e)
        Files.deleteIfExists(d)
        FileVisitResult.CONTINUE
      }
    })
}
