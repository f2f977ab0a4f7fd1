package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.commons.io.FileUtils

/** The engine's scratch directories, and the one place that names
  * `java.io.tmpdir`, makes temp directories or adds a shutdown hook.
  *  - [[dir]]: one directory per scratch query, emptied on every build.
  *    A build returns a frame that reads its directory lazily, so the
  *    directory outlives the build; reusing it keeps one copy per query
  *    however long a Verify, Bench or test JVM runs. Contract: the next
  *    build of a query invalidates any frame from its earlier build, so
  *    run a frame before building its query again. Listings stay right:
  *    every new `InMemoryFileIndex` gets its own client view of Spark's
  *    shared `FileStatusCache`.
  *  - [[fresh]]: a unique directory that its caller deletes.
  *  - [[store]]: a persisted index store, named by what it holds, kept
  *    for the next run to resume or serve from.
  * [[dir]] and [[fresh]] live under [[root]], one `graft_scratch_*`
  * directory per JVM (two engine JVMs can share a tmpdir), removed by the
  * shutdown hook. Driver-local paths are a LOCAL-MODE assumption: on a
  * cluster they must be on shared storage (HDFS/S3), or executors cannot
  * read what the driver-side path names.
  */
object Scratch {
  private val tmp = new File(sys.props("java.io.tmpdir"))

  private[graft] lazy val root: Path = {
    val p = Files.createTempDirectory(tmp.toPath, "graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(p.toFile)))
    p
  }

  /** `<root>/<tag>`, emptied and created again on every call. */
  def dir(tag: String): String = {
    val d = root.resolve(tag)
    FileUtils.deleteQuietly(d.toFile)
    Files.createDirectories(d).toString
  }

  /** A new directory under [[root]] whose name starts with `prefix`. */
  def fresh(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** `<tmpdir>/graft_<name>_<first 16 hex digits of md5(key)>`, never deleted. */
  def store(name: String, key: String): File = {
    val md5 = MessageDigest.getInstance("MD5").digest(key.getBytes(StandardCharsets.UTF_8))
    new File(tmp, s"graft_${name}_${md5.map("%02x".format(_)).mkString.take(16)}")
  }

  /** `d|length|mtime` of table `t`'s file in dataset `d`, the part of a
    * [[store]] key that changes with the dataset.
    */
  def fileKey(d: String, t: String): String = {
    val f = new File(s"$d/$t.parquet")
    s"$d|${f.length}|${f.lastModified}"
  }
}
