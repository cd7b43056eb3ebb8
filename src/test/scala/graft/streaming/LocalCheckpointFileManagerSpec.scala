package graft.streaming

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** A local file system under the `graftcount` scheme that counts renames. */
class CountingRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftcount:///")
  override def getScheme: String = "graftcount"
  override def rename(src: Path, dst: Path): Boolean = {
    CountingRenameFileSystem.renames.incrementAndGet()
    super.rename(src, dst)
  }
}
object CountingRenameFileSystem {
  val renames = new AtomicInteger()
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def tempDir(): File = Files.createTempDirectory("graft-cfm").toFile

  private def write(fm: CheckpointFileManager, p: Path, body: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  /** Reads through Hadoop's LocalFileSystem, which verifies the sidecar CRC. */
  private def readLocal(p: Path): String = {
    val in = FileSystem.getLocal(conf).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: File): Set[String] = dir.list().toSet

  test("no-overwrite createAtomic onto an existing file throws and leaves it and its .crc intact") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val dst = new Path(dir.toURI.toString, "0")
    write(fm, dst, "first")
    val crc = new File(dir, ".0.crc")
    val crcBytes = Files.readAllBytes(crc.toPath)
    intercept[FileAlreadyExistsException](write(fm, dst, "second, longer"))
    assert(readLocal(dst) == "first")
    assert(Files.readAllBytes(crc.toPath).sameElements(crcBytes))
    assert(names(dir) == Set("0", ".0.crc"), "temp files left behind")
  }

  test("overwrite publishes the new file with a matching .crc") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val dst = new Path(dir.toURI.toString, "state")
    write(fm, dst, "old")
    write(fm, dst, "new and longer", overwrite = true)
    assert(readLocal(dst) == "new and longer")
    assert(names(dir) == Set("state", ".state.crc"))
  }

  test("cancel leaves no temp files") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val out = fm.createAtomic(new Path(dir.toURI.toString, "1"), overwriteIfPossible = false)
    out.write("half".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
  }

  test("a published file reads back through LocalFileSystem; a flipped data byte fails the CRC") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val dst = new Path(dir.toURI.toString, "2")
    write(fm, dst, "v1\n{\"shardId-000000000000\":\"000000000000000000042\"}")
    assert(readLocal(dst).startsWith("v1\n"))
    val in = fm.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8).startsWith("v1\n")) finally in.close()
    val raf = new RandomAccessFile(new File(dir, "2"), "rw")
    try { raf.seek(5); val b = raf.read(); raf.seek(5); raf.write(b ^ 0x01) } finally raf.close()
    intercept[ChecksumException](readLocal(dst))
    intercept[ChecksumException] {
      val in = fm.open(dst)
      try in.readAllBytes() finally in.close()
    }
  }

  test("list returns the same names as Spark's default manager, without .crc files") {
    val dir = tempDir()
    val root = new Path(dir.toURI)
    val fm = new LocalCheckpointFileManager(root, conf)
    val spark = CheckpointFileManager.create(root, conf)
    assert(spark.getClass != fm.getClass)
    (0 to 3).foreach(i => write(fm, new Path(root, i.toString), s"batch $i"))
    write(spark, new Path(root, "4"), "batch 4")
    fm.mkdirs(new Path(root, "sub"))
    fm.delete(new Path(root, "1"))
    def listed(m: CheckpointFileManager) = m.list(root).map(_.getPath.getName).toSet
    assert(listed(fm) == Set("0", "2", "3", "4", "sub"))
    assert(listed(fm) == listed(spark))
    assert(names(dir) == Set("0", "2", "3", "4", "sub", ".0.crc", ".2.crc", ".3.crc", ".4.crc"))
    assert(fm.exists(new Path(root, "4")) && !fm.exists(new Path(root, "1")))
  }

  test("no process is forked for checkpoint file operations") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val dir = tempDir()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val root = new Path(dir.toURI.toString, "ckpt")
      val fm = new LocalCheckpointFileManager(root, conf)
      fm.createCheckpointDirectory()
      val offsets = new Path(root, "offsets")
      fm.mkdirs(offsets)
      (0 to 4).foreach { i =>
        val p = new Path(offsets, i.toString)
        if (!fm.exists(p)) write(fm, p, s"v1\n$i")
        val in = fm.open(p)
        try in.readAllBytes() finally in.close()
      }
      write(fm, new Path(root, "metadata"), "{}", overwrite = true)
      fm.list(offsets)
      fm.delete(new Path(offsets, "0"))
    } finally rec.stop()
    val jfr = Files.createTempFile("graft-cfm", ".jfr")
    rec.dump(jfr)
    rec.close()
    val forked = RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command")).filter(_.contains(dir.getPath))
    assert(forked.isEmpty, s"forked for checkpoint I/O: ${forked.mkString("; ")}")
  }

  test("a non-file scheme goes to the manager Spark would pick") {
    val c = new Configuration(conf)
    c.set("fs.graftcount.impl", classOf[CountingRenameFileSystem].getName)
    c.setBoolean("fs.graftcount.impl.disable.cache", true)
    c.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val dir = tempDir()
    val root = new Path(s"graftcount://${dir.toURI.getPath}")
    val fm = new LocalCheckpointFileManager(root, c)
    val before = CountingRenameFileSystem.renames.get
    write(fm, new Path(root, "0"), "remote")
    assert(CountingRenameFileSystem.renames.get == before + 1, "the write did not go through the scheme's file system")
    val in = fm.open(new Path(root, "0"))
    try assert(new String(in.readAllBytes(), UTF_8) == "remote") finally in.close()
    assert(fm.list(root).map(_.getPath.getName).toSet == Set("0"))
  }
}
