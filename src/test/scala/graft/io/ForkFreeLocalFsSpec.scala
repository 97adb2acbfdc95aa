package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream,
  FileAlreadyExistsException, FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the fork-free local file system with Hadoop's stock one on
  * the same temp tree: link status, permissions, rename-onto-existing
  * and `.crc` verification — and no process start while doing them. */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private def stockRaw = raw(new RawLocalFileSystem)
  private def forkFreeRaw = raw(new ForkFreeRawLocalFileSystem)

  private def fileContext(stock: Boolean): FileContext = {
    val conf = new Configuration()
    if (!stock) ForkFreeLocalFs.hadoopConfs.foreach { case (k, v) => conf.set(k, v) }
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  private def tree(): JPath = {
    val root = Files.createTempDirectory("graft_ffs")
    Files.write(root.resolve("f"), "hello".getBytes("UTF-8"))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("ln"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nope"))
    root
  }

  private def view(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else null)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("getFileLinkStatus matches the stock file system") {
    val root = tree()
    val (stock, ours) = (stockRaw, forkFreeRaw)
    def outcome(fs: RawLocalFileSystem, p: Path) =
      Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    // a qualified path (file:/...) and a bare one: the stock code runs
    // `readlink` on the path's string, which only resolves the bare form
    for (name <- Seq("f", "d", "ln", "dangling", "missing");
         p <- Seq(new Path(root.resolve(name).toUri), new Path(root.resolve(name).toString))) {
      assert(outcome(ours, p) == outcome(stock, p), p)
    }
    assert(outcome(ours, new Path(root.resolve("missing").toUri)) ==
      Left(classOf[FileNotFoundException]))
    assert(outcome(ours, new Path(root.resolve("ln").toString)).exists(_._4), "bare symlink")
  }

  test("setPermission writes the modes the stock file system writes") {
    val root = tree()
    val modes = Seq(0x1a4, 0x1ed, 0x1c0, 0x3ff) // 0644, 0755, 0700, 01777
    for ((fs, tag) <- Seq(stockRaw -> "stock", forkFreeRaw -> "ours"); m <- modes) {
      val file = Files.createFile(root.resolve(s"${tag}_f_$m"))
      val dir = Files.createDirectory(root.resolve(s"${tag}_d_$m"))
      for (p <- Seq(file, dir)) {
        fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
        assert(mode(p) == m, s"$tag $p")
        if (m <= 0x1ff) assert(Files.getPosixFilePermissions(p).asScala ==
          PosixFilePermissions.fromString(new FsPermission(m.toShort).toString).asScala)
      }
    }
    // GNU chmod keeps a directory's setgid bit under a 4-digit mode
    for ((fs, tag) <- Seq(stockRaw -> "stock", forkFreeRaw -> "ours")) {
      val dir = Files.createDirectory(root.resolve(s"${tag}_setgid"))
      new ProcessBuilder("chmod", "2755", dir.toString).start().waitFor()
      fs.setPermission(new Path(dir.toUri), new FsPermission(0x1c0.toShort)) // 0700
      assert(mode(dir) == 0x5c0, tag) // 02700
    }
    intercept[java.io.IOException](forkFreeRaw.setPermission(
      new Path(root.resolve("missing").toUri), new FsPermission(0x1a4.toShort)))
  }

  test("FileContext.rename onto an existing file still throws FileAlreadyExistsException") {
    for (stock <- Seq(true, false)) {
      val root = tree()
      val fc = fileContext(stock)
      def write(name: String, body: String): Path = {
        val p = new Path(root.resolve(name).toUri)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
        out.write(body.getBytes("UTF-8")); out.close()
        p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      val moved = new Path(root.resolve("moved").toUri)
      fc.rename(src, moved, Options.Rename.NONE)
      assert(Files.exists(root.resolve(".moved.crc")) && !Files.exists(root.resolve(".src.crc")))
      fc.rename(moved, dst, Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(root.resolve("dst")), "UTF-8") == "new")
    }
  }

  test("written bytes and .crc sidecars equal the stock ones; a flipped byte fails the read") {
    val body = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
    val written = for (stock <- Seq(true, false)) yield {
      val root = Files.createTempDirectory("graft_ffs_crc")
      val fc = fileContext(stock)
      val p = new Path(root.resolve("data").toUri)
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      out.write(body); out.close()
      val bytes = Seq("data", ".data.crc").map(n => Files.readAllBytes(root.resolve(n)).toSeq)
      val f = root.resolve("data")
      val flipped = Files.readAllBytes(f)
      flipped(1234) = (flipped(1234) ^ 1).toByte
      Files.write(f, flipped)
      def read(in: FSDataInputStream) = try in.readAllBytes() finally in.close()
      intercept[ChecksumException](read(fc.open(p, 4096)))
      // the stock FileContext.open(Path) goes through FilterFs straight
      // to the raw file system; the fork-free one verifies it too
      if (stock) assert(read(fc.open(p)).toSeq == flipped.toSeq)
      else intercept[ChecksumException](read(fc.open(p)))
      bytes
    }
    assert(written.head == written(1))
  }

  test("create, mkdir, rename and link-status lookups start no process") {
    val root = tree()
    val tag = root.getFileName.toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val fc = fileContext(stock = false)
      for (i <- 0 until 3) {
        val dir = new Path(root.resolve(s"dir$i").toUri)
        fc.mkdir(dir, FsPermission.getDirDefault, true)
        val tmp = new Path(dir, s".tmp$i")
        val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE))
        out.write(i); out.close()
        fc.rename(tmp, new Path(dir, s"$i"), Options.Rename.NONE)
      }
      forkFreeRaw.getFileLinkStatus(new Path(root.resolve("f").toUri))
    } finally rec.stop()
    val dump = Files.createTempFile("graft_ffs", ".jfr")
    rec.dump(dump); rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command")).filter(_.contains(tag))
    Files.delete(dump)
    assert(commands.isEmpty, commands.mkString("\n"))
  }
}
