package graft

import java.io.{DataOutput, File, FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSDataInputStream,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local (`file:`) filesystem of the engine's sessions, for the
  * `FileSystem` API (file sinks' `FileOutputCommitter`). Same as Hadoop's
  * `LocalFileSystem`, `.crc` checksums included, over [[LocalFs.Raw]].
  * [[LocalFs.Context]] is its twin for the `FileContext` API, which
  * Spark's streaming checkpoints (offset and commit logs, metadata, state
  * store files) go through. `Sessions.install` sets both on a session.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Hadoop's `RawLocalFileSystem` without its process spawns. Without
    * Hadoop's native library (none ships with Spark) the stock class runs
    * `chmod` for every permission it sets, `ls -ld` for every permission
    * or owner it reads and `readlink` for every link status, each a new
    * process (Spark's `createAtomic` of a 200-byte checkpoint file took
    * 25-27 ms that way, 0.7-1.2 ms without, on a 4-vCPU box). Here the
    * same work is one `java.nio` call: `setPermission` writes
    * `unix:mode`, and statuses load permission, owner and group lazily
    * (as the stock ones do) from `unix:mode`, `unix:owner` and
    * `unix:group`. Everything else is the stock class.
    */
  class Raw extends RawLocalFileSystem {
    private var blockSize = 0L

    override def initialize(uri: URI, conf: Configuration): Unit = {
      super.initialize(uri, conf)
      blockSize = getDefaultBlockSize(new Path(uri))
    }

    /** As `chmod` with a four-digit octal mode: a directory keeps its
      * setuid and setgid bits.
      */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val keep = if ((old & S_IFMT) == S_IFDIR) old & S_ISUID_ISGID else 0
      Files.setAttribute(f, "unix:mode", Int.box(perm.toShort & PermBits | keep))
    }

    /** One `stat` of the file (links followed) where the stock class makes
      * five; the path is qualified the same way.
      */
    override def getFileStatus(p: Path): FileStatus = {
      val f = pathToFile(p)
      val a = try Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $p does not exist") }
      new Status(a.size, a.isDirectory, blockSize, a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis,
        new Path(f.getPath).makeQualified(getUri, getWorkingDirectory), null, f.getPath)
    }

    /** The stock listing builds each entry with [[getFileStatus]]; only a
      * plain file's own status is built apart, so that case is redirected.
      */
    override def listStatus(p: Path): Array[FileStatus] =
      if (pathToFile(p).isDirectory) super.listStatus(p) else Array(getFileStatus(p))

    override def getFileLinkStatus(p: Path): FileStatus = {
      val st = linkStatus(p)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

    override def getLinkTarget(p: Path): Path = linkStatus(p).getSymlink

    /** The stock link status with the target unqualified: a link's status
      * is its target's with `isDirectory` false, a dangling link's is
      * empty. The stock class looks the link up by the path's string, so
      * it misses links named by a `file:` URI; this one does not.
      */
    private def linkStatus(p: Path): FileStatus = {
      val f = pathToFile(p)
      if (!Files.isSymbolicLink(f.toPath)) getFileStatus(p)
      else {
        val target = new Path(Files.readSymbolicLink(f.toPath).toString)
        try {
          val t = getFileStatus(p)
          new Status(t.getLen, false, t.getBlockSize, t.getModificationTime, t.getAccessTime,
            p, target, f.getPath)
        } catch {
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, p)
        }
      }
    }
  }

  // st_mode bits, in hex (Scala has no octal literals): file type mask
  // 0170000, directory 0040000, setuid|setgid 06000, and the bits an
  // FsPermission holds, rwx for all plus sticky, 01777.
  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val S_ISUID_ISGID = 0xc00
  private val PermBits = 0x3ff

  /** A status whose permission, owner and group are read on first use,
    * from the file `local` names (links followed). A file gone by then
    * reads as the stock status does after `ls` fails: default permission,
    * empty owner and group.
    */
  private final class Status(len: Long, dir: Boolean, block: Long, mtime: Long, atime: Long,
      path: Path, link: Path, local: String)
    extends FileStatus(len, dir, 1, block, mtime, atime, null, null, null, link, path) {
    @volatile private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        try {
          val a = Files.readAttributes(new File(local).toPath, "unix:mode,owner,group")
          setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & PermBits).toShort))
          setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
          setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        } catch {
          case _: NoSuchFileException =>
            setPermission(null); setOwner(null); setGroup(null)
          case e: IOException => throw new UncheckedIOException(e)
        }
        loaded = true
      }
    }

    override def getPermission: FsPermission = { if (!loaded) load(); super.getPermission }
    override def getOwner: String = { if (!loaded) load(); super.getOwner }
    override def getGroup: String = { if (!loaded) load(); super.getGroup }
    // deprecated in Hadoop but still called; it must write loaded fields
    @annotation.nowarn("cat=deprecation")
    override def write(out: DataOutput): Unit = { if (!loaded) load(); super.write(out) }
  }

  /** [[Raw]] behind the `AbstractFileSystem` API, as Hadoop's
    * `local.RawLocalFs` puts `RawLocalFileSystem` there.
    */
  private final class RawContext(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(p: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The `FileContext` twin of [[LocalFs]]: Hadoop's `local.LocalFs`
    * (checksums included) over [[Raw]]. Like it, it ignores `uri`.
    * Its one-argument `open`, which Spark's checkpoint reads use, checks
    * sums too (`FilterFs` sends it past `ChecksumFs` to the raw one).
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf)) {
    override def open(p: Path): FSDataInputStream = open(p, getServerDefaults(p).getFileBufferSize)
  }
}
