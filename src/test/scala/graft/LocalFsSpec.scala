package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the fork-free local filesystem with the one a session
  * gets without it, through both client APIs: `FileSystem` (parquet
  * writes, listing) and `FileContext` (Spark's checkpoint and
  * state-store files). Only the mechanism of `setPermission` and link
  * status may differ; what lands on disk and every error a caller sees
  * must not. */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val root = URI.create("file:///")

  /** Instances built directly, not through Hadoop's per-JVM cache. The
    * stock one is what a plain conf resolves `file:` to (on Spark's
    * classpath, Hive's `ProxyLocalFileSystem`, a `LocalFileSystem`). */
  private def stockFs: FileSystem = FileSystem.newInstance(root, conf)
  private def forkFreeFs: FileSystem = {
    val fs = new ForkFreeLocalFileSystem; fs.initialize(root, conf); fs
  }
  private def stockFc: FileContext = FileContext.getLocalFSFileContext(new Configuration())
  private def forkFreeFc: FileContext = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    FileContext.getLocalFSFileContext(c)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte], perm: FsPermission = null): Unit = {
    val out =
      if (perm == null) fs.create(p)
      else fs.create(p, perm, false, 4096, fs.getDefaultReplication(p), fs.getDefaultBlockSize(p), null)
    try out.write(bytes) finally out.close()
  }

  private def write(fc: FileContext, p: Path, bytes: Array[Byte], perm: FsPermission): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(perm), Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
  }

  /** Every file and directory under `dir` (relative name → mode bits). */
  private def modes(dir: JPath): Map[String, Int] = {
    val w = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(_ != dir).map(p => dir.relativize(p).toString -> mode(p)).toMap
    } finally w.close()
  }

  /** The same create/mkdirs/setPermission sequence through one client. */
  private def layDown(fs: FileSystem, fc: FileContext, dir: JPath): Unit = {
    val d = new Path(dir.toUri)
    val data = "0123456789".getBytes
    write(fs, new Path(d, "fs/default.bin"), data)
    write(fs, new Path(d, "fs/p640.bin"), data, new FsPermission("640"))
    fs.mkdirs(new Path(d, "fs/dir-default"))
    fs.mkdirs(new Path(d, "fs/dir-750"), new FsPermission("750"))
    write(fs, new Path(d, "fs/chmod.bin"), data)
    fs.setPermission(new Path(d, "fs/chmod.bin"), new FsPermission("604"))
    write(fc, new Path(d, "fc/p600.bin"), data, new FsPermission("600"))
    write(fc, new Path(d, "fc/p644.bin"), data, FsPermission.getFileDefault)
    fc.mkdir(new Path(d, "fc/dir-700"), new FsPermission("700"), true)
    fc.mkdir(new Path(d, "fc/dir-default"), FsPermission.getDirDefault, true)
  }

  test("created files and directories get the stock mode bits, .crc sidecars included") {
    val a = Files.createTempDirectory("graft_lfs_stock")
    val b = Files.createTempDirectory("graft_lfs_forkfree")
    layDown(stockFs, stockFc, a)
    layDown(forkFreeFs, forkFreeFc, b)
    val (ma, mb) = (modes(a), modes(b))
    assert(ma.nonEmpty && ma == mb)
    // the requested modes landed (umask 022 from the default conf)
    assert(mb("fs/p640.bin") == Integer.parseInt("640", 8))
    assert(mb("fs/dir-750") == Integer.parseInt("750", 8))
    assert(mb("fs/chmod.bin") == Integer.parseInt("604", 8))
    assert(mb("fc/p600.bin") == Integer.parseInt("600", 8))
    assert(mb("fc/dir-700") == Integer.parseInt("700", 8))
    // the checksum sidecars are written by both clients, byte-identical
    for (f <- Seq("fs/default.bin", "fs/p640.bin", "fc/p600.bin", "fc/p644.bin")) {
      val crc = s"${f.takeWhile(_ != '/')}/.${f.dropWhile(_ != '/').drop(1)}.crc"
      assert(mb.contains(crc), s"no sidecar $crc")
      assert(java.util.Arrays.equals(Files.readAllBytes(a.resolve(crc)),
        Files.readAllBytes(b.resolve(crc))), crc)
    }
  }

  test("a corrupted byte still raises ChecksumException on read (FileSystem and FileContext)") {
    def corrupt(p: JPath): Unit = {
      val bytes = Files.readAllBytes(p)
      bytes(1000) = (bytes(1000) ^ 0x5a).toByte
      Files.write(p, bytes)
    }
    def readAll(open: => java.io.InputStream): Unit = {
      val in = open
      try { val buf = new Array[Byte](8192); while (in.read(buf) >= 0) {} } finally in.close()
    }
    val data = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    for ((fs, fc, name) <- Seq((stockFs, stockFc, "stock"), (forkFreeFs, forkFreeFc, "fork-free"))) {
      val dir = Files.createTempDirectory(s"graft_lfs_crc_$name")
      val viaFs = new Path(dir.resolve("fs.bin").toUri)
      val viaFc = new Path(dir.resolve("fc.bin").toUri)
      write(fs, viaFs, data)
      write(fc, viaFc, data, FsPermission.getFileDefault)
      readAll(fs.open(viaFs)) // intact files read back cleanly
      readAll(fc.open(viaFc, 4096))
      corrupt(dir.resolve("fs.bin"))
      corrupt(dir.resolve("fc.bin"))
      intercept[ChecksumException](readAll(fs.open(viaFs)))
      // FileContext verifies through open(path, bufferSize); its one-argument
      // open skips ChecksumFs in Hadoop itself, for either filesystem
      intercept[ChecksumException](readAll(fc.open(viaFc, 4096)))
    }
  }

  test("FileSystem rename onto an existing file is still refused") {
    for ((fs, name) <- Seq((stockFs, "stock"), (forkFreeFs, "fork-free"))) {
      val dir = new Path(Files.createTempDirectory(s"graft_lfs_fsmv_$name").toUri)
      val (src, dst) = (new Path(dir, "src.bin"), new Path(dir, "dst.bin"))
      write(fs, src, "new".getBytes)
      write(fs, dst, "old".getBytes)
      assert(!fs.rename(src, dst), name)
      assert(fs.exists(src), name)
      val moved = new Path(dir, "moved.bin")
      assert(fs.rename(src, moved), name)
      assert(!fs.exists(src) && fs.exists(new Path(dir, ".moved.bin.crc")), name)
    }
  }

  test("FileContext rename without overwrite onto an existing target still fails") {
    for ((fc, name) <- Seq((stockFc, "stock"), (forkFreeFc, "fork-free"))) {
      val dir = new Path(Files.createTempDirectory(s"graft_lfs_mv_$name").toUri)
      val (src, dst) = (new Path(dir, "src.bin"), new Path(dir, "dst.bin"))
      write(fc, src, "new".getBytes, FsPermission.getFileDefault)
      write(fc, dst, "old".getBytes, FsPermission.getFileDefault)
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      assert(fc.util().exists(src), name)
      // with OVERWRITE the rename goes through and the sidecar follows it
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util().exists(src) && fc.util().exists(new Path(dir, ".dst.bin.crc")), name)
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes()) == "new", name) finally in.close()
    }
  }

  test("a real symlink is still reported as a link; a plain file is not") {
    val dir = Files.createTempDirectory("graft_lfs_link")
    val target = dir.resolve("target.bin")
    Files.write(target, "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link.bin"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling.bin"), dir.resolve("gone.bin"))
    val (fs, stock) = (forkFreeFs, stockFs)
    // unqualified paths: the form Hadoop's readlink fallback can resolve
    for (l <- Seq(link, dangling)) {
      val p = new Path(l.toString)
      val (ours, theirs) = (fs.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert(ours.isSymlink && theirs.isSymlink, l)
      assert(ours.getSymlink == theirs.getSymlink, l)
      assert(ours.getLen == theirs.getLen, l)
      assert(fs.getLinkTarget(p) == stock.getLinkTarget(p), l)
    }
    val plain = new Path(target.toString)
    assert(!fs.getFileLinkStatus(plain).isSymlink && !stock.getFileLinkStatus(plain).isSymlink)
    intercept[java.io.IOException](fs.getLinkTarget(plain))
    intercept[java.io.FileNotFoundException](
      fs.getFileLinkStatus(new Path(dir.resolve("missing.bin").toString)))
    // through FileContext, with a qualified path
    val fc = forkFreeFc
    val st = fc.getFileLinkStatus(new Path(link.toUri))
    assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString)
    assert(!fc.getFileLinkStatus(new Path(target.toUri)).isSymlink)
  }

  test("a sticky-bit permission takes Hadoop's own path and still lands") {
    // NIO has no sticky bit, so this mode must go through the fallback
    val dir = Files.createTempDirectory("graft_lfs_sticky").resolve("d")
    val fs = forkFreeFs
    fs.mkdirs(new Path(dir.toString))
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    fs.setPermission(new Path(dir.toString), new FsPermission("751"))
    assert(mode(dir) == Integer.parseInt("751", 8))
  }
}
