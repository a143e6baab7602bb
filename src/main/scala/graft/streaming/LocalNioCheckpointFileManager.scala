package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileAlreadyExistsException => NioFileAlreadyExists, Files, NoSuchFileException, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** `CheckpointFileManager` for LOCAL (`file:`) checkpoint dirs built on
  * `java.nio` — the per-batch offset/commit/file-source metadata-log
  * writes and the state-store delta files bypass the Hadoop
  * FileContext + ChecksumFileSystem code path (per-write FileContext
  * resolution, CRC shadow files, fsync plumbing) that dominates a
  * micro-batch's fixed cost on a bounded replay (r18 per-batch
  * progress: walCommit ≈ 40 ms + commitOffsets ≈ 38 ms + state commit
  * ≈ 250 ms per batch on tmpfs, where actual I/O is memcpy — the r17
  * tmpfs A/B proved the cost is code-path, not disk).
  *
  * Scope: the bounded replays of the `stream_*` twins, whose
  * checkpoints are EPHEMERAL BY DESIGN (each replay owns a scratch
  * checkpoint dir and deletes it after `processAllAvailable()` — see
  * `StreamingQueries.replay`). A deployment with durable
  * checkpoints on HDFS/S3 keeps the default manager; this class
  * refuses non-local paths loudly. Atomicity is preserved: writes go
  * to a temp file and `ATOMIC_MOVE` into place, and a losing writer
  * surfaces the same `org.apache.hadoop.fs.FileAlreadyExistsException`
  * the metadata log's concurrent-batch detection relies on.
  */
class LocalNioCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val scheme = Option(root.toUri.getScheme)
  require(scheme.forall(_ == "file"),
    s"LocalNioCheckpointFileManager handles file: paths only, got $root")

  // RawLocalFileSystem (NOT the checksummed LocalFileSystem): used for
  // open/list where Hadoop stream/status types are required; no .crc
  // shadow files are ever written or expected.
  private val fs: RawLocalFileSystem = {
    val f = new RawLocalFileSystem()
    f.initialize(URI.create("file:///"), conf)
    f
  }

  private def nio(p: Path) = Paths.get(p.toUri.getPath)

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = nio(path)
    val parent = target.getParent
    if (parent != null && !Files.isDirectory(parent)) Files.createDirectories(parent)
    val tmp = parent.resolve(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    val out = new BufferedOutputStream(Files.newOutputStream(tmp))
    new CancellableFSDataOutputStream(out) {
      private var terminated = false
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          super.close() // flush + close the temp stream
          if (overwriteIfPossible)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else {
            // POSIX rename(2) silently REPLACES an existing target, so
            // a plain ATOMIC_MOVE cannot give fail-if-exists (the
            // semantics the metadata log's concurrent-writer detection
            // needs — NioCkptFmSpec pins it). A hard LINK is atomic,
            // fails if the target exists, and the target appears with
            // its full content (no empty-file window for readers).
            try {
              Files.createLink(target, tmp)
              Files.deleteIfExists(tmp)
            } catch {
              // translate nio's exception to the HADOOP one callers catch
              case _: NioFileAlreadyExists =>
                Files.deleteIfExists(tmp)
                throw new FileAlreadyExistsException(
                  s"rename destination $path already exists")
              case _: UnsupportedOperationException =>
                // no-hardlink filesystem: exists-check + move (the
                // FileContext manager's own level of atomicity)
                if (Files.exists(target)) {
                  Files.deleteIfExists(tmp)
                  throw new FileAlreadyExistsException(
                    s"rename destination $path already exists")
                }
                Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
            }
          }
        }
      }
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try super.close() catch { case _: Exception => () }
          Files.deleteIfExists(tmp)
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = fs.open(path)

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = nio(path)
    if (!Files.exists(dir))
      throw new FileNotFoundException(s"$path does not exist")
    if (!Files.isDirectory(dir)) {
      val st = fs.getFileStatus(path)
      return if (filter.accept(st.getPath)) Array(st) else Array.empty
    }
    val entries = Files.list(dir)
    try entries.iterator().asScala
      .map(p => new Path(p.toUri))
      .filter(filter.accept)
      .map(fs.getFileStatus)
      .toArray
    finally entries.close() // the directory stream holds an fd until closed
  }

  override def mkdirs(path: Path): Unit = Files.createDirectories(nio(path))

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    val p = nio(path)
    try {
      if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
        finally walk.close()
      } else Files.deleteIfExists(p)
    } catch {
      // a concurrent delete removed the path (or part of it) first
      case _: FileNotFoundException | _: NoSuchFileException => ()
      case e: UncheckedIOException if e.getCause.isInstanceOf[NoSuchFileException] => ()
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(root))
    fs.makeQualified(root)
  }
}
