package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}

import graft.streaming.LocalNioCheckpointFileManager

/** Pins the `LocalNioCheckpointFileManager` contract the streaming
  * twins' metadata logs and state stores rely on (r18 — the per-batch
  * WAL/commit/state-file writes route through it): atomic
  * write-then-rename visibility, the HADOOP FileAlreadyExistsException
  * on a losing concurrent writer, cancel() leaving nothing behind,
  * list/exists/delete semantics, list() closing its directory stream,
  * and the non-local-path refusal.
  */
class NioCkptFmSpec extends SparkSpec {

  private def mgr(dir: java.nio.file.Path) =
    new LocalNioCheckpointFileManager(
      new Path(dir.toUri), new Configuration(false))

  test("createAtomic: content appears only after close, reads back") {
    val dir = Files.createTempDirectory("nio-ckpt-spec-")
    val fm = mgr(dir)
    val f = new Path(new Path(dir.toUri), "offsets/0")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("v1\nbatch-0".getBytes("UTF-8"))
    assert(!fm.exists(f), "file must not be visible before close()")
    out.close()
    assert(fm.exists(f))
    val in = fm.open(f)
    val buf = new Array[Byte](64)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") == "v1\nbatch-0")
  }

  test("createAtomic without overwrite throws hadoop FileAlreadyExists") {
    val dir = Files.createTempDirectory("nio-ckpt-spec-")
    val fm = mgr(dir)
    val f = new Path(new Path(dir.toUri), "commits/7")
    val a = fm.createAtomic(f, overwriteIfPossible = false)
    a.write("first".getBytes); a.close()
    val b = fm.createAtomic(f, overwriteIfPossible = false)
    b.write("second".getBytes)
    intercept[FileAlreadyExistsException](b.close())
    // the loser's temp file is cleaned up, the winner's content stays
    assert(Files.list(dir.resolve("commits")).count() == 1)
    // overwrite=true replaces
    val c = fm.createAtomic(f, overwriteIfPossible = true)
    c.write("third".getBytes); c.close()
    val in = fm.open(f); val buf = new Array[Byte](16)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n) == "third")
  }

  test("cancel leaves nothing behind; list filters; delete is recursive") {
    val dir = Files.createTempDirectory("nio-ckpt-spec-")
    val fm = mgr(dir)
    val f = new Path(new Path(dir.toUri), "state/1.delta")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("junk".getBytes); out.cancel()
    assert(!fm.exists(f))
    assert(Files.list(dir.resolve("state")).count() == 0)
    Seq("0", "1", "2.tmp").foreach { name =>
      val o = fm.createAtomic(new Path(new Path(dir.toUri), s"state/$name"), false)
      o.write(name.getBytes); o.close()
    }
    val listed = fm.list(new Path(new Path(dir.toUri), "state"),
      (p: Path) => !p.getName.endsWith(".tmp"))
    assert(listed.map(_.getPath.getName).sorted.toSeq == Seq("0", "1"))
    fm.delete(new Path(new Path(dir.toUri), "state"))
    assert(!fm.exists(new Path(new Path(dir.toUri), "state")))
    // deleting a missing path is a no-op, like the FileContext manager
    fm.delete(new Path(new Path(dir.toUri), "state"))
  }

  test("list closes its directory stream: no fd growth over 200 calls") {
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs /proc/self/fd to count open fds")
    val dir = Files.createTempDirectory("nio-ckpt-spec-")
    val fm = mgr(dir)
    val offsets = new Path(new Path(dir.toUri), "offsets")
    Seq("0", "1").foreach { name =>
      val o = fm.createAtomic(new Path(offsets, name), overwriteIfPossible = false)
      o.write(name.getBytes); o.close()
    }
    assert(fm.list(offsets).length == 2)
    val before = fdDir.list().length
    (1 to 200).foreach(_ => fm.list(offsets))
    val grown = fdDir.list().length - before
    // a leaked directory stream costs one fd per call; allow slack for
    // fds other threads open meanwhile
    assert(grown < 20, s"list() leaked $grown fds over 200 calls")
  }

  test("refuses non-local schemes loudly") {
    intercept[IllegalArgumentException](
      new LocalNioCheckpointFileManager(
        new Path("hdfs://nn/ckpt"), new Configuration(false)))
  }

  test("drives a real bounded stateful replay end to end") {
    import org.apache.spark.sql.functions._
    val s = spark
    val src = Files.createTempDirectory("nio-ckpt-src-")
    val ckpt = Files.createTempDirectory("nio-ckpt-run-")
    import scala.jdk.CollectionConverters._
    (0 to 2).foreach { i =>
      s.range(i * 10, i * 10 + 10).toDF("v")
        .coalesce(1).write.parquet(src.resolve(s"w$i").toString)
      val part = Files.list(src.resolve(s"w$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      Files.move(part, src.resolve(f"$i%03d.parquet"))
      Files.setLastModifiedTime(src.resolve(f"$i%03d.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000))
    }
    val prev = s.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[LocalNioCheckpointFileManager].getName)
    try {
      val q = s.readStream
        .schema("v LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .groupBy((col("v") % 3).as("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .writeStream.outputMode("complete")
        .queryName("nio_ckpt_spec_out")
        .option("checkpointLocation", ckpt.toString)
        .format("memory").start()
      try q.processAllAvailable()
      finally q.stop()
      val got = s.table("nio_ckpt_spec_out")
        .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // 0..29 grouped by v % 3: each residue has 10 members
      assert(got.toSeq == Seq((0L, 10L, 135L), (1L, 10L, 145L), (2L, 10L, 155L)))
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.streaming.checkpointFileManagerClass", v)
        case None => s.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
      }
      s.catalog.dropTempView("nio_ckpt_spec_out")
    }
  }
}
