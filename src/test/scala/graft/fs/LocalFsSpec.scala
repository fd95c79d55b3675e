package graft.fs

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` binding from `core-site.xml` and the semantics the java.nio
  * overrides must keep: modes, link status, and Hadoop's checksums. */
class LocalFsSpec extends AnyFunSuite {
  private def fs = FileSystem.get(new URI("file:///"), new Configuration())
  private def fc = FileContext.getLocalFSFileContext()
  private def tmp() = Files.createTempDirectory("graft-localfs")
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def perm(octal: String) = new FsPermission(octal)

  test("core-site.xml binds file: to the java.nio local filesystems") {
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    val afs = fc.getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
  }

  test("setPermission and mkdirs leave the requested modes on disk") {
    val dir = tmp()
    val file = dir.resolve("f")
    Files.write(file, Array[Byte](1))
    for (m <- Seq("600", "644", "700", "755")) {
      fs.setPermission(new Path(file.toUri), perm(m))
      assert(mode(file) === Integer.parseInt(m, 8), s"setPermission $m")
      val sub = dir.resolve(s"d$m")
      assert(fs.mkdirs(new Path(sub.toUri), perm(m)))
      assert(mode(sub) === Integer.parseInt(m, 8), s"mkdirs $m")
    }
    // the sticky bit is beyond java.nio and still reaches the disk
    fs.setPermission(new Path(dir.toUri), perm("1755"))
    assert(mode(dir) === Integer.parseInt("1755", 8))
  }

  test("getFileLinkStatus: plain status, real symlinks, missing paths") {
    val dir = tmp()
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    def view(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory,
      s.isSymlink, s.getModificationTime, s.getPermission)
    val p = new Path(file.toUri)
    assert(view(fs.getFileLinkStatus(p)) === view(fs.getFileStatus(p)))
    assert(view(fc.getFileLinkStatus(p)) === view(fc.getFileStatus(p)))

    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("d"), dir.resolve("gone"))
    for (l <- Seq(link, dangling)) {
      val lp = new Path(l.toUri)
      val target = Files.readSymbolicLink(l).toString
      for (st <- Seq(fs.getFileLinkStatus(lp), fc.getFileLinkStatus(lp))) {
        assert(st.isSymlink, s"$l")
        assert(st.getSymlink.toUri.getPath === target)
      }
      assert(fs.getLinkTarget(lp) === new Path(target))
    }

    val missing = new Path(dir.resolve("missing").toUri)
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
  }

  test("checksums are still written and enforced through FileContext") {
    val dir = tmp()
    val p = new Path(dir.resolve("data").toUri)
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    try out.write(Array.tabulate[Byte](4096)(_.toByte)) finally out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    val raf = new RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    // Hadoop's FilterFs sends FileContext.open(path) straight to the raw
    // stream; ChecksumFs verifies behind open(path, bufferSize) and the
    // FileSystem API
    for (in <- Seq(fc.open(p, 4096), fs.open(p)))
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }
}
