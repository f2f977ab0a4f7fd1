package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.GraftSqlShim

/** Session helpers: the object-store conf passthrough the entry-point
  * mains build their root session with, [[install]], which puts the
  * whole engine (planner strategies, native functions and the local
  * filesystem) on a session,
  * and [[child]], the one constructor for the engine's per-call child
  * sessions.
  *
  * Object-store passthrough (SURVEY.md §2.1 / S4): the reference reads and
  * writes s3a:// URIs (reference etl.py:15-18,30-39 with credentials from
  * settings.cfg:1-4). This sandbox has no object store, so S4 is a
  * configuration concern, not a code one: any `GRAFT_HADOOP_CONF_*`
  * environment variable is forwarded as a `spark.hadoop.*` conf key
  * (double underscore → dot), e.g.
  *
  *   GRAFT_HADOOP_CONF_fs__s3a__endpoint=https://s3.example.com
  *   GRAFT_HADOOP_CONF_fs__s3a__access__key=...
  *
  * becomes `spark.hadoop.fs.s3a.endpoint` / `spark.hadoop.fs.s3a.access.key`,
  * after which every `spark.read.parquet("s3a://bucket/...")` in the
  * library works unchanged — paths are opaque strings everywhere.
  * With no such variables set (the sandbox) this is a no-op.
  */
object Sessions {
  def withObjectStoreConf(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.foldLeft(b) {
      case (acc, (k, v)) if k.startsWith("GRAFT_HADOOP_CONF_") =>
        acc.config("spark.hadoop." +
          k.stripPrefix("GRAFT_HADOOP_CONF_").replace("__", "."), v)
      case (acc, _) => acc
    }

  /** The planner strategies the engine adds to a session. [[install]]
    * and `graft.expr.GraftExtensions` both read this list.
    */
  private[graft] val strategies: Seq[SparkStrategy] = Seq(
    plans.TopKPerKeyStrategy, plans.AsOfJoinStrategy, plans.SmallSortStrategy)

  /** The session Hadoop keys that put [[LocalFs]] on `file:` paths.
    *  - `fs.file.impl`: the `FileSystem` API (file sinks' committer).
    *  - `fs.AbstractFileSystem.file.impl`: the `FileContext` API, which
    *    Spark's streaming checkpoints (offset and commit logs, state store
    *    files) use.
    *  - `fs.file.impl.disable.cache`: Hadoop caches `FileSystem`
    *    instances by scheme, authority and user, not by conf, so a cached
    *    `file:` instance made before would be served in place of
    *    [[LocalFs]]. An uncached lookup costs ~4-15 µs (4-vCPU box).
    * They are session keys, not SparkContext ones, because a session's
    * `newHadoopConf()` (its file sources and sinks, the sessions a stream
    * clones and their state-store tasks) reads them, and the engine does
    * not own the builders of the root sessions it is handed.
    */
  private val localFsConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Context].getName)

  /** Idempotently installs the engine on `s`: [[strategies]] on its
    * planner, `graft.expr.VectorExprs.functions` in its function registry
    * and [[LocalFs]] for its `file:` paths ([[localFsConf]]).
    * `SparkEntry.queries` calls it before every builder, [[child]] on each
    * child (a `newSession()` inherits no runtime conf), and the
    * `topK`/`asOf` operator APIs on their input's session;
    * `GraftExtensions` injects the same planner strategies and functions
    * at session build.
    */
  def install(s: SparkSession): Unit = {
    strategies.foreach(GraftSqlShim.registerStrategy(s, _))
    localFsConf.foreach { case (k, v) =>
      if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v)
    }
    // Idempotent AND self-owned: skipping on mere name presence would let
    // a foreign same-named function (registered by the user or another
    // library) silently serve graft's own queries. So each function is
    // tagged with its implementing class in ExpressionInfo: skip only when
    // the existing entry is provably ours, otherwise (re)register and own
    // the name for graft's frames (documented override).
    val reg = s.sessionState.functionRegistry
    expr.VectorExprs.functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.lookupFunction(id).exists(_.getClassName == f.cls.getName))
        reg.registerFunction(id, f.info, f.builder)
    }
  }

  /** A `newSession()` child of `s` with artifact isolation off, so it and
    * every session a stream clones from it run their tasks under the one
    * application class loader. Spark 4.1 keys its codegen cache by class
    * loader, so an isolated child (its own executor class loader) would
    * recompile every generated class on each call. The engine adds no
    * session-scoped artifacts, so this changes which loader runs the code,
    * not what the code can see. The conf is read once, on the child's
    * first use, so it is set before the child runs anything. The child
    * has its own planner, so it gets [[install]] too.
    */
  def child(s: SparkSession): SparkSession = {
    val c = s.newSession()
    c.conf.set("spark.sql.artifact.isolation.enabled", "false")
    install(c)
    c
  }
}
