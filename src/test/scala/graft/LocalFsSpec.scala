package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] against Hadoop's own `RawLocalFileSystem` as the oracle,
  * and its wiring: every session the engine installs resolves `file:` to
  * it through both Hadoop APIs, and a drained stream's checkpoint keeps
  * its `.crc` files.
  */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val root = URI.create("file:///")

  private def initialized[T <: FileSystem](fs: T): T = {
    fs.initialize(root, new Configuration()); fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val ours = initialized(new LocalFs.Raw)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  // modes are in hex: Scala has no octal literals (0x1a4 = 0644, 0x3ff =
  // 01777, 0x5e8 = 02750)
  private def chmod(p: JPath, m: Int): Unit = Files.setAttribute(p, "unix:mode", Int.box(m))

  private def fields(s: FileStatus): Seq[Any] = Seq(s.getPath, s.getPermission,
    s.getPermission.getStickyBit, s.getOwner, s.getGroup, s.getLen, s.isDirectory,
    s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getModificationTime,
    s.getReplication, s.getBlockSize)

  /** Files and dirs with the modes the engine meets and the special bits,
    * one link to a file and one dangling link.
    */
  private def tree(): JPath = {
    val d = Scratch.fresh("localfs")
    for ((n, m) <- Seq("f600" -> 0x180, "f644" -> 0x1a4)) {
      Files.write(d.resolve(n), n.getBytes); chmod(d.resolve(n), m)
    }
    for ((n, m) <- Seq("d755" -> 0x1ed, "d1777" -> 0x3ff, "d2750" -> 0x5e8)) {
      Files.createDirectory(d.resolve(n)); chmod(d.resolve(n), m)
    }
    Files.createSymbolicLink(d.resolve("link"), d.resolve("f644"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    d
  }

  test("statuses, listings and links equal stock RawLocalFileSystem's") {
    val d = tree()
    assert(mode(d.resolve("d1777")) == 0x3ff && mode(d.resolve("d2750")) == 0x5e8)
    val dir = new Path(d.toString)
    val names = Seq("f600", "f644", "d755", "d1777", "d2750", "link")
    for (n <- names; p = new Path(dir, n)) {
      assert(fields(ours.getFileStatus(p)) == fields(stock.getFileStatus(p)), n)
      assert(fields(ours.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), n)
      assert(ours.listStatus(p).map(fields).toSeq == stock.listStatus(p).map(fields).toSeq, n)
    }
    val link = ours.getFileLinkStatus(new Path(dir, "link"))
    assert(link.isSymlink && link.getSymlink == new Path("file:" + d.resolve("f644")))
    assert(ours.getLinkTarget(new Path(dir, "link")) == stock.getLinkTarget(new Path(dir, "link")))
    val dangling = new Path(dir, "dangling")
    assert(fields(ours.getFileLinkStatus(dangling)) == fields(stock.getFileLinkStatus(dangling)))
    intercept[java.io.FileNotFoundException](ours.getFileStatus(dangling))
    val sticky = ours.getFileStatus(new Path(dir, "d1777")).getPermission
    assert(sticky.getStickyBit && sticky.toShort == 0x3ff)
    // the listing skips the dangling link, as stock does
    assert(ours.listStatus(dir).map(fields).sortBy(_.head.toString).toSeq ==
      stock.listStatus(dir).map(fields).sortBy(_.head.toString).toSeq)
    assert(ours.listStatus(dir).length == names.size)
    intercept[java.io.FileNotFoundException](ours.getFileStatus(new Path(dir, "gone")))
    intercept[java.io.FileNotFoundException](ours.listStatus(new Path(dir, "gone")))
  }

  test("setPermission writes what stock chmod writes, setgid kept on dirs") {
    val d = tree()
    val cases = Seq(("f644", 0x180), ("f600", 0x1ff), ("d755", 0x3ff), ("d1777", 0x1ed),
      ("d2750", 0x1ed), ("d2750", 0x3e8))
    for (((n, want), i) <- cases.zipWithIndex) {
      val perm = new FsPermission(want.toShort)
      val twins = Seq("stock", "ours").map { side =>
        val p = d.resolve(s"$side$i")
        if (n.startsWith("d")) Files.createDirectory(p) else Files.write(p, Array[Byte](1))
        chmod(p, mode(d.resolve(n)))
        p
      }
      stock.setPermission(new Path(twins.head.toString), perm)
      ours.setPermission(new Path(twins(1).toString), perm)
      assert(mode(twins(1)) == mode(twins.head), s"$n -> ${perm}")
      assert(stock.getFileStatus(new Path(twins(1).toString)).getPermission == perm)
    }
    assert(mode(d.resolve("stock4")) == 0x5ed, "stock chmod keeps a dir's setgid bit")
  }

  private def flip(p: JPath): Unit = {
    val f = new RandomAccessFile(p.toFile, "rw")
    try { f.seek(3); val b = f.read(); f.seek(3); f.write(b ^ 0xff) } finally f.close()
  }

  test("the .crc layer guards both APIs; rename without OVERWRITE refuses") {
    val conf = spark.sessionState.newHadoopConf()
    val d = Scratch.fresh("localfs_crc")
    val bytes = Array.tabulate[Byte](2000)(i => (i * 7).toByte)

    val fs = FileSystem.get(root, conf)
    assert(fs.getClass == classOf[LocalFs])
    val a = new Path(d.toString, "a")
    val out = fs.create(a); out.write(bytes); out.close()
    assert(Files.exists(d.resolve(".a.crc")))
    flip(d.resolve("a"))
    intercept[ChecksumException](fs.open(a).readAllBytes())

    val fc = FileContext.getFileContext(root, conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[LocalFs.Context])
    val (b, c) = (new Path(d.toString, "b"), new Path(d.toString, "c"))
    for (p <- Seq(b, c)) {
      val o = fc.create(p, EnumSet.of(CreateFlag.CREATE)); o.write(bytes); o.close()
    }
    assert(Files.exists(d.resolve(".b.crc")) && Files.exists(d.resolve(".c.crc")))
    intercept[FileAlreadyExistsException](fc.rename(b, c))
    fc.rename(b, c, Options.Rename.OVERWRITE)
    assert(!Files.exists(d.resolve("b")) && !Files.exists(d.resolve(".b.crc")))
    assert(fc.open(c, 4096).readAllBytes().sameElements(bytes))
    flip(d.resolve("c"))
    intercept[ChecksumException](fc.open(c, 4096).readAllBytes())
    // the one-argument open, which Spark's checkpoint reads use, checks
    // sums too (stock ChecksumFs hands it to the raw filesystem)
    intercept[ChecksumException](fc.open(c).readAllBytes())
  }

  /** Drains a stateful stream on `s` from `d/src` (a small parquet
    * table, written on the first call) into the checkpoint `d/cp`, which
    * it returns; a second call restarts the query over that checkpoint.
    */
  private def drain(s: org.apache.spark.sql.SparkSession, d: JPath): JPath = {
    val src = d.resolve("src").toString
    if (!Files.exists(d.resolve("src")))
      s.range(0, 100).withColumn("k", col("id") % 7).write.parquet(src)
    val cp = d.resolve("cp")
    val q = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
      .groupBy("k").count()
      .writeStream.outputMode(OutputMode.Complete()).format("noop")
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    cp
  }

  test("installed sessions resolve file: to LocalFs; a stream checkpoint keeps its .crc") {
    val child = Sessions.child(spark)
    for (s <- Seq(spark, child)) {
      val conf = s.sessionState.newHadoopConf()
      assert(FileSystem.get(root, conf).getClass == classOf[LocalFs])
      assert(AbstractFileSystem.get(root, conf).getClass == classOf[LocalFs.Context])
    }
    val cp = drain(child, Scratch.fresh("localfs_stream"))
    for (log <- Seq("offsets", "commits"))
      assert(Files.exists(cp.resolve(s"$log/0")) && Files.exists(cp.resolve(s"$log/.0.crc")), log)
    val deltas = Files.walk(cp.resolve("state")).toArray.map(_.toString)
    assert(deltas.exists(_.endsWith("/1.delta")) && deltas.exists(_.endsWith("/.1.delta.crc")))
  }

  test("a stream restarted over a corrupted offset log fails on its checksum") {
    val child = Sessions.child(spark)
    val d = Scratch.fresh("localfs_restart")
    val cp = drain(child, d)
    // one digit of the batch timestamp, so the log still parses and only
    // its .crc can tell
    val off = cp.resolve("offsets/0")
    val text = Files.readString(off)
    val at = "\"batchTimestampMs\":(\\d+)".r.findFirstMatchIn(text).get.end(1) - 1
    Files.writeString(off, text.updated(at, ((text(at) - '0' + 1) % 10 + '0').toChar))
    val e = intercept[Exception](drain(child, d))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ChecksumException]), chain.mkString("\n"))
  }
}
