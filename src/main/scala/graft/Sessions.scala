package graft

import org.apache.spark.sql.SparkSession

/** Session helpers: the object-store conf passthrough the entry-point
  * mains build their root session with, [[install]], which puts the
  * engine's planner strategy on a session, and [[child]], the one
  * constructor for the engine's per-call child sessions.
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

  /** Idempotently adds [[graft.plans.SmallSortStrategy]] to `s`'s planner.
    * `SparkEntry.queries` calls it before every builder, [[child]] on each
    * child, and `graft.expr.GraftExtensions` injects the same object.
    */
  def install(s: SparkSession): Unit =
    org.apache.spark.sql.graft.GraftSqlShim.registerStrategy(s, plans.SmallSortStrategy)

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
