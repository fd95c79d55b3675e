package graft.fs

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with `chmod` and `readlink` done by
  * java.nio instead of a child process.
  *
  * Without `libhadoop`, [[RawLocalFileSystem]] runs every
  * `setPermission` (so every `create`/`mkdirs` with a permission) as a
  * `chmod` process and every `getFileLinkStatus` (every `FileContext`
  * rename) as a `readlink` process. Spark's streaming checkpoint
  * (offsets, commits, state deltas) and the parquet committer hit both
  * on every file, several milliseconds a spawn. Only those three methods
  * change; checksums, renames, umask and listing stay Hadoop's code.
  *
  * `getFileLinkStatus` keeps Hadoop's observable answer: a plain
  * `getFileStatus` for anything that is not a symlink. Hadoop's shell
  * path hands `readlink` the `file:` URI string, which always fails, so
  * that is what it returns today for every qualified path; for a real
  * symlink this builds the link status Hadoop meant to.
  *
  * Bound to `file:` by `core-site.xml` through [[NioLocalFileSystem]]
  * (`FileSystem` API) and [[NioLocalFs]] (`FileContext` API). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through java.nio; sticky/setuid/setgid, which
    * java.nio cannot express, go to Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's order is owner r,w,x, group r,w,x, others r,w,x
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val p = pathToFile(f).toPath
    if (!Files.isSymbolicLink(p)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(p).toString)
      val link = if (!Files.exists(p)) // dangling: no target status to borrow
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            target, f)
        else {
          val st = getFileStatus(f)
          new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
            st.getModificationTime, st.getAccessTime, st.getPermission,
            st.getOwner, st.getGroup, target, f)
        }
      link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      link
    }
  }

  override def getLinkTarget(f: Path): Path = {
    val p = pathToFile(f).toPath
    if (Files.isSymbolicLink(p)) new Path(Files.readSymbolicLink(p).toString)
    else {
      getFileStatus(f) // FileNotFoundException when nothing is there
      throw new IOException(s"Path $f is not a symbolic link")
    }
  }
}

/** `fs.file.impl`: Hadoop's checksummed [[LocalFileSystem]] over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a [[ChecksumFs]]
  * over `RawLocalFs`) with [[NioRawLocalFileSystem]] underneath.
  * `RawLocalFs`'s constructors are package-private, so the anonymous
  * delegate repeats its overrides. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
