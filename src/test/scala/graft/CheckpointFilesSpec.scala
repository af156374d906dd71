package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFiles

/** A `FileContext` binding for the made-up `graftmem:` scheme, so the
  * manager's non-local branch can be exercised without a cluster. */
class GraftMemFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf,
      "graftmem", false)

class CheckpointFilesSpec extends AnyFunSuite {

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-ckpt-")
    try body(dir)
    finally FileSystem.getLocal(new Configuration())
      .delete(new Path(dir.toUri), true)
  }

  private def manager(dir: JPath) =
    new LocalCheckpointFiles(new Path(dir.toUri), new Configuration())

  private def names(dir: JPath): Set[String] =
    dir.toFile.list().toSet

  private def write(out: java.io.OutputStream, s: String): Unit =
    out.write(s.getBytes(UTF_8))

  test("a closed createAtomic stream makes the file visible, with no " +
      ".crc sidecar") {
    withDir { dir =>
      val fm = manager(dir)
      val target = new Path(dir.toUri.toString, "0")
      val out = fm.createAtomic(target, overwriteIfPossible = false)
      write(out, "v1\n{\"batchWatermarkMs\":0}")
      assert(!fm.exists(target), "visible before close")
      out.close()
      assert(fm.exists(target))
      assert(names(dir) == Set("0"), names(dir))
      // a second writer of the same log entry fails and changes nothing
      val again = fm.createAtomic(target, overwriteIfPossible = false)
      write(again, "v1\n{}")
      intercept[FileAlreadyExistsException](again.close())
      val in = fm.open(target)
      try assert(new String(in.readAllBytes(), UTF_8) ==
        "v1\n{\"batchWatermarkMs\":0}")
      finally in.close()
    }
  }

  test("cancel() leaves neither the target nor a temp file") {
    withDir { dir =>
      val fm = manager(dir)
      val target = new Path(dir.toUri.toString, "1.delta")
      val out = fm.createAtomic(target, overwriteIfPossible = true)
      write(out, "partial")
      out.cancel()
      assert(!fm.exists(target))
      assert(names(dir).isEmpty, names(dir))
    }
  }

  test("overwriting a file with a Hadoop-written .crc reads back the new " +
      "bytes through LocalFileSystem") {
    withDir { dir =>
      val local = FileSystem.getLocal(new Configuration())
      val target = new Path(dir.toUri.toString, "2.delta")
      val old = local.create(target, true)
      try write(old, "old bytes, checksummed by Hadoop")
      finally old.close()
      assert(names(dir) == Set("2.delta", ".2.delta.crc"), names(dir))
      val out = manager(dir).createAtomic(target, overwriteIfPossible = true)
      write(out, "new")
      out.close()
      // the rename dropped the stale checksum, so the read is unverified
      // rather than failing with a ChecksumException
      assert(names(dir) == Set("2.delta"), names(dir))
      val in = local.open(target)
      try assert(new String(in.readAllBytes(), UTF_8) == "new")
      finally in.close()
    }
  }

  test("a non-file: path goes to the manager Spark itself would build") {
    val conf = new Configuration()
    conf.set("fs.graftmem.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.graftmem.impl.disable.cache", true)
    val path = new Path("graftmem:///checkpoints/q")
    def spark(c: Configuration) = CheckpointFileManager.create(path, c)
    // no FileContext binding for the scheme: Spark's FileSystem fallback
    val fallback = new LocalCheckpointFiles(path, conf).delegate
    assert(fallback.getClass == classOf[FileSystemBasedCheckpointFileManager])
    assert(fallback.getClass == spark(conf).getClass)
    // with one (as HDFS has): Spark's FileContext-based default
    conf.set("fs.AbstractFileSystem.graftmem.impl", classOf[GraftMemFs].getName)
    val fc = new LocalCheckpointFiles(path, conf).delegate
    assert(fc.getClass == classOf[FileContextBasedCheckpointFileManager])
    assert(fc.getClass == spark(conf).getClass)
    // a file: path gets graft's own manager, not Spark's default
    val local = new LocalCheckpointFiles(new Path("file:///tmp/q"), conf)
    assert(local.delegate.getClass != classOf[FileSystemBasedCheckpointFileManager])
    assert(local.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }
}
