package graft.sinks

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local `file:` filesystem adapter for environments WITHOUT the native
  * Hadoop library (libhadoop.so): stock Hadoop then implements every
  * permission change by FORKING a `chmod` process
  * (`RawLocalFileSystem.setPermission` → `Shell.execCommand`), and the
  * checksummed local filesystem shadows every file with a `.crc` — so
  * ONE staged parquet file costs two creates and up to four fork+exec
  * round trips (~20–60 ms each). Profiled on the bench: the
  * multi-commit lakehouse queries spent more executor time forking
  * chmod than writing data.
  *
  * Extends [[LocalFileSystem]] (Hadoop's `FileSystem.getLocal` casts to
  * it) around a raw filesystem whose [[RawLocalFileSystem.setPermission]]
  * is a no-op — files keep the process umask, which is what a
  * container/test environment wants anyway — and switches write/verify
  * checksums off, dropping the `.crc` shadow files. Parquet integrity
  * does not regress: the format carries its own page/footer checksums.
  *
  * Local-mode plumbing only: installed via `fs.file.impl` in
  * [[graft.GraftSession]]. Real deployments read and write s3a/hdfs/
  * abfs schemes, which never route through this class, and clusters
  * with the native library never fork in the first place.
  */
class FastLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
      override def setPermission(p: Path, permission: FsPermission): Unit = ()
      override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus =
        FastLocalFileSystem.linkStatus(this, f)(super.getFileLinkStatus(f))
    }) {

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }

  /** Plain-java file status: stock Hadoop's lazy `loadPermissionInfo`
    * FORKS `ls -ld` (and `readlink` for links) the first time a
    * caller reads owner/permission off a status — and the FileContext
    * stack (streaming checkpoint managers, state stores) does read
    * them. Permissions are process-umask fiction on this filesystem
    * anyway (setPermission is a no-op above), so answer from NIO
    * attributes and never fork.
    */
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    FastLocalFileSystem.nioStatus(this, f)

  /** Same answer for the link-aware lookup: stock raw local FORKS
    * `readlink` on every call to learn whether `f` is a symlink, and
    * `FileContext.rename` (every checkpoint offset/commit/sources/
    * `_spark_metadata` log entry) asks it for both sides of the rename.
    * One NIO no-follow stat answers it; real symlinks keep the stock
    * resolution.
    */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    FastLocalFileSystem.linkStatus(this, f)(super.getFileLinkStatus(f))

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val st = getFileStatus(f) // throws FileNotFoundException like stock
    if (!st.isDirectory) return Array(st)
    val dir = java.nio.file.Paths.get(f.toUri.getPath)
    val out = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    val ds = java.nio.file.Files.newDirectoryStream(dir)
    try {
      ds.forEach { p =>
        // skip checksum shadows: stock listing goes through
        // ChecksumFileSystem, which hides `.<name>.crc` entries —
        // directories written through stock local bindings before this
        // class was installed (pre-existing checkpoints, test fixtures)
        // still hold them, and surfacing a new entry class to every
        // lister would change listing semantics
        val name = p.getFileName.toString
        if (!org.apache.hadoop.fs.ChecksumFileSystem.isChecksumFile(new Path(f, name)))
          out += FastLocalFileSystem.nioStatus(this, new Path(f, name))
      }
    } finally ds.close()
    out.toArray
  }

  /** No-clobber rename, pinned explicitly: every log entry of the four
    * table formats becomes visible through `CommitKernel.publish`,
    * whose optimistic concurrency needs a rename that refuses an
    * existing target, and raw POSIX rename(2) silently overwrites. A
    * regular file moves by hard link + unlink: link(2) refuses an
    * existing name atomically, so of N writers racing for one name
    * exactly one wins. Directories keep the stock rename behind an
    * exists check.
    */
  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst)) false
    else {
      val (s, d) = (FastLocalFileSystem.nio(src), FastLocalFileSystem.nio(dst))
      if (!java.nio.file.Files.isRegularFile(s, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        super.rename(src, dst)
      else try {
        java.nio.file.Files.createLink(d, s)
        java.nio.file.Files.delete(s)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // no parent dir, or no hard links here: stock rename decides
        case _: java.io.IOException | _: UnsupportedOperationException =>
          super.rename(src, dst)
      }
    }
}

object FastLocalFileSystem {

  private val DirPerm = new FsPermission(Integer.parseInt("755", 8).toShort)
  private val FilePerm = new FsPermission(Integer.parseInt("644", 8).toShort)

  private[sinks] def nio(f: Path): java.nio.file.Path = java.nio.file.Paths.get(f.toUri.getPath)

  private def attributes(f: Path,
      options: java.nio.file.LinkOption*): java.nio.file.attribute.BasicFileAttributes =
    try java.nio.file.Files.readAttributes(nio(f),
      classOf[java.nio.file.attribute.BasicFileAttributes], options: _*)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(s"File $f does not exist")
    }

  /** FileStatus from NIO attributes in ONE stat call, permissions fixed
    * at umask-style defaults (never read back through a forked `ls`).
    */
  private[sinks] def nioStatus(fs: org.apache.hadoop.fs.FileSystem,
      f: Path): org.apache.hadoop.fs.FileStatus =
    statusOf(fs, f, attributes(f))

  /** `getFileLinkStatus` without the `readlink` fork: a no-follow stat
    * of anything but a symlink IS its link status; a real symlink goes
    * to `stock` (target resolution stays Hadoop's).
    */
  private[sinks] def linkStatus(fs: org.apache.hadoop.fs.FileSystem, f: Path)(
      stock: => org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus = {
    val attrs = attributes(f, java.nio.file.LinkOption.NOFOLLOW_LINKS)
    if (attrs.isSymbolicLink) stock else statusOf(fs, f, attrs)
  }

  private def statusOf(fs: org.apache.hadoop.fs.FileSystem, f: Path,
      attrs: java.nio.file.attribute.BasicFileAttributes): org.apache.hadoop.fs.FileStatus = {
    val dir = attrs.isDirectory
    new org.apache.hadoop.fs.FileStatus(
      if (dir) 0L else attrs.size(), dir, 1,
      fs.getDefaultBlockSize(f), attrs.lastModifiedTime().toMillis,
      attrs.lastAccessTime().toMillis,
      if (dir) FastLocalFileSystem.DirPerm else FastLocalFileSystem.FilePerm,
      System.getProperty("user.name"), System.getProperty("user.name"),
      null,
      fs.makeQualified(f), false, false, false)
  }
}

/** [[FastLocalFileSystem]]'s FileContext-side twin, registered as the
  * `AbstractFileSystem` for the `file:` scheme. Structured Streaming's
  * checkpoint managers and state stores go through `FileContext`, whose
  * stock local binding (`LocalFs` = `ChecksumFs(RawLocalFs)`) pays the
  * same two local-mode taxes the `FileSystem` side already had removed:
  * a `.crc` shadow create+rename per metadata file (offset log, commit
  * log, every state-store delta) and fork+exec'd `ls`/`readlink` for
  * permission/symlink answers. Delegating to [[FastLocalFileSystem]]
  * keeps the no-clobber rename the rename-based checkpoint protocol
  * relies on. `file:` scheme only — cluster checkpoints live on
  * hdfs/s3a/abfs bindings, which never route through this class.
  */
class FastLocalFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new FastLocalFileSystem, conf, "file", false) {

  /** An OVERWRITE rename of a file onto a file is one rename(2), which
    * replaces the target atomically; the stock path deletes the target
    * first and leaves a window in which it is missing.
    */
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    val (s, d) = (FastLocalFileSystem.nio(src), FastLocalFileSystem.nio(dst))
    val nofollow = java.nio.file.LinkOption.NOFOLLOW_LINKS
    if (overwrite && java.nio.file.Files.isRegularFile(s, nofollow) &&
        java.nio.file.Files.isRegularFile(d, nofollow))
      java.nio.file.Files.move(s, d, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else super.renameInternal(src, dst, overwrite)
  }
}
