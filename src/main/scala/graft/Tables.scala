package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders for the driver test data (TESTDATA.md).
  *
  * All tables are parquet, read with a declared schema: without one,
  * every `spark.read.parquet` runs a Spark job to infer the schema from
  * the footer, the largest fixed cost of building a small query. The nine
  * fixed tables are declared below with exactly the types inference gives
  * (`TablesSpec` checks them against the footers); only `events.ts` has
  * more than one shape on disk, so its type is read from the footer
  * in-process, which runs no job. Loaders are thin on purpose so Catalyst
  * sees a plain `LogicalRelation` and can push filters/projections into
  * the vectorized parquet reader.
  */
object Tables {
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Declared schemas of the nine tables whose shape is fixed. The two
    * date columns are TIMESTAMP_NTZ: the files store them as
    * TIMESTAMP_MICROS with isAdjustedToUTC=false.
    */
  private val fixedSchemas: Map[String, StructType] = Map(
    "region" -> struct("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> struct("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> struct("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> struct("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> struct("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> struct("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> struct("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "documents" -> struct("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> struct("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** The reader schema of table `name` in `dir`: declared for the fixed
    * tables; for events, declared except for `ts`, whose type is read
    * from the footer ([[eventsTsType]]).
    */
  def schemaOf(s: SparkSession, dir: String, name: String): StructType =
    if (name == "events") struct("event_id" -> LongType,
      "ts" -> eventsTsType(s, dir), "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
    else fixedSchemas(name)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** Multi-path scan (reference `readMultipleParquet`, etl.py:49-59): N
    * lineitem paths unioned at the file level into one DataFrame.
    */
  def loadMulti(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(fixedSchemas("lineitem")).parquet(paths: _*)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped in two physical shapes across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark refuses by default
    * (PARQUET_TYPE_ILLEGAL), so it is read as a nanos long and truncated to
    * microseconds, the same ns→µs truncation DuckDB applies — and plain
    * TIMESTAMP_MICROS (isAdjustedToUTC=false → TIMESTAMP_NTZ in Spark).
    * The loader adapts to whichever shape the files carry instead of
    * hard-coding one; any third shape is a loud failure, never a silent
    * unit reinterpretation.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))

  /** Normalize the `ts` column to a session-zoned TIMESTAMP regardless of
    * how the parquet files encoded it:
    *  - LongType         → nanos-as-long (legacy TIMESTAMP(NANOS) files),
    *                       truncate ns→µs exactly like DuckDB;
    *  - TimestampNTZType → TIMESTAMP_MICROS files; cast to TIMESTAMP, an
    *                       identity on the micros value under the UTC
    *                       session zone the entry points pin;
    *  - TimestampType    → already what downstream expects, pass through.
    * Anything else throws: a surprise encoding must fail analysis, not
    * shift every timestamp by a unit factor (the r9 failure mode).
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as $other; expected nanos-as-long (LongType), " +
          "TIMESTAMP_NTZ, or TIMESTAMP — refusing to guess a time unit")
    }

  /** The type `ts` reads as, taken from the footer of `events.parquet`
    * (of its first data file when it is a directory, skipping names that
    * start with `_` or `.`) in-process: no Spark job. Spark's own
    * footer converter under the session conf, with nanosAsLong enabled,
    * gives exactly the type schema inference would. Read on every call.
    * The reader gets its options from the session's Hadoop conf copy:
    * `ParquetFileReader.open(file)` alone builds them around a fresh
    * `Configuration`, which parses `core-default.xml` and `core-site.xml`
    * out of the jars each time (4.4 ms against 0.2 ms a call, sf0.1, on a
    * 4-vCPU box).
    */
  private[graft] def eventsTsType(s: SparkSession, d: String): DataType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val hadoopConf = s.sessionState.newHadoopConf()
    val path = new Path(s"$d/events.parquet")
    val fs = path.getFileSystem(hadoopConf)
    val file = if (!fs.getFileStatus(path).isDirectory) path else
      fs.listStatus(path).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .sortBy(_.getName).headOption
        .getOrElse(throw new IllegalStateException(s"$path holds no data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hadoopConf),
      HadoopReadOptions.builder(hadoopConf).build())
    val footer = try reader.getFooter finally reader.close()
    new ParquetToSparkSchemaConverter(s.sessionState.conf)
      .convert(footer.getFileMetaData.getSchema)("ts").dataType
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Spread a CPU-bound stage's input across the session's cores WHEN the
    * incoming plan under-parallelizes it. The driver test corpus is a
    * single parquet row group, so scans of it are 1-partition and every
    * narrow per-row pipeline downstream (shingle+md5, tokenize, decode)
    * runs on one core of 32; on a properly split production input the
    * scan already carries ≥ defaultParallelism partitions and this helper
    * is the IDENTITY — it never adds a shuffle at scale. (The physical
    * partition probe builds the RDD DAG but runs no job.)
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // no physical-partition probe on streams
    // The probe (toRdd.getNumPartitions) is free ONLY on scan-, filter-,
    // or checkpoint-rooted frames; on an exchange-bearing plan AQE's
    // doExecute would materialize the shuffle stages eagerly (running the
    // query's jobs twice). Frames whose logical plan already contains an
    // exchange-inducing operator keep their partitioning: AQE sizes those
    // stages itself.
    import org.apache.spark.sql.catalyst.plans.logical._
    val exchangeBearing = df.queryExecution.analyzed.collectFirst {
      case _: Aggregate => (); case _: Join => (); case _: Window => ()
      case _: Sort => (); case _: Distinct => (); case _: Deduplicate => ()
      case _: RepartitionOperation => (); case _: GlobalLimit => ()
    }.isDefined
    if (exchangeBearing) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target)
    else df
  }
}

/** Determinism helpers for the DuckDB-oracle differential harness
  * (SURVEY.md §5, §7.4). Floating-point SUM/AVG are order-dependent in
  * IEEE double; at 1000 executors the combine order is nondeterministic,
  * so every verified aggregate goes through exact fixed-point arithmetic
  * and only converts to double at the very end. This is both the
  * correctness fix for the oracle AND the right call at 100 TB — the
  * result no longer depends on partitioning.
  *
  * The fixed-point kernel. Each row becomes integer units of 10^-scale
  * ([[units]]: exactly Spark's `CAST(x AS DECIMAL(prec, scale))`, as its
  * unscaled long, through [[graft.expr.DecimalUnits]]). A sum splits
  * each row's units into three limbs — bits 0–23 and 24–47 unsigned, the
  * rest signed — and sums each limb with Spark's own checked `long` SUM;
  * [[graft.expr.LimbSum]] recombines the limb totals once per group into
  * an exact DECIMAL(38, scale), and a Spark `CAST(… AS DOUBLE)` ends it,
  * so the double is that exact total's `BigDecimal.doubleValue`, as with
  * a decimal SUM.
  *
  * Width policy and headroom: `prec` ≤ 18 (a row's units fit a long;
  * every measure in the schema is ≤ ~1e7, and 18 is the default). The
  * unsigned limbs are < 2^24, so a limb total stays exact for at least
  * 2^39 rows per group, and the recombined total of that many rows of
  * any 18-digit value fits DECIMAL(38, scale) — wider than the
  * DECIMAL(prec+10, scale) a decimal SUM would give. Past 2^39 rows a
  * limb total can overflow, which the ANSI long SUM raises as an error,
  * never a wrapped value. A double that is not next to a rounding tie
  * costs long arithmetic only: no BigDecimal per row, no non-compact
  * decimal aggregation buffer.
  */
object Det {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.GraftSqlShim
  import graft.expr.{DecimalUnits, LimbSum}

  /** Exact integer units of `CAST(c AS DECIMAL(prec, scale))` (prec ≤ 18),
    * as a long: Spark's own cast, with its nulls and ANSI errors.
    */
  def units(c: Column, scale: Int, prec: Int = 18): Column =
    GraftSqlShim.column(DecimalUnits(GraftSqlShim.expression(c.cast(DecimalType(prec, scale)))))

  /** 10^-4 fixed-point units as BIGINT. Oracle twin:
    * `CAST(CAST(CAST(x AS DECIMAL(18,4)) * 10000 AS DECIMAL(19,0)) AS BIGINT)`.
    */
  def micros(c: Column): Column = units(c, 4)

  private val LimbBits = 24
  private val LimbMask = (1L << LimbBits) - 1

  /** `u` (long units) as its three limbs, each with its bit offset past `at`. */
  private def limbs(u: Column, at: Int = 0): Seq[(Column, Int)] = Seq(
    (u.bitwiseAND(LimbMask), at),
    (shiftright(u, LimbBits).bitwiseAND(LimbMask), at + LimbBits),
    (shiftright(u, 2 * LimbBits), at + 2 * LimbBits))

  /** Exact DECIMAL(38, scale) total of the limbs: one long SUM per limb,
    * recombined once per group.
    */
  private[graft] def limbSum(parts: Seq[(Column, Int)], scale: Int): Column =
    GraftSqlShim.column(LimbSum(parts.map(p => GraftSqlShim.expression(sum(p._1))),
      parts.map(_._2), scale))

  /** Order-independent sum: exact fixed-point units per row, exact limb
    * sums, final cast to double. Oracle twin:
    * `CAST(SUM(CAST(x AS DECIMAL(30,scale))) AS DOUBLE)` — values are
    * identical at any precision wide enough for the row values.
    */
  def dsum(c: Column, scale: Int = 4, prec: Int = 18): Column =
    limbSum(limbs(units(c, scale, prec)), scale).cast(DoubleType)

  /** Order-independent average (sum/count in double at the end).
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(30,scale))) AS DOUBLE) / COUNT(x)`.
    */
  def davg(c: Column, scale: Int = 4, prec: Int = 18): Column =
    dsum(c, scale, prec) / count(c)

  /** Rewrite-proof exact COUNT DISTINCT, for exactness-critical columns
    * (sketch-verification baselines like `true_distinct`/`exact7`, QC dup
    * rates). [[graft.plans.RewriteExactDistinctToApprox]] — when its
    * session flag is on — swaps every single-argument COUNT(DISTINCT x)
    * for an HLL++ sketch at optimization time, which happens at ACTION
    * time, after any builder-local conf pinning has been restored. The
    * two-argument form COUNT(DISTINCT x, 0) is semantically identical
    * (the never-null literal doesn't change the tuple count, and rows
    * with null x are skipped either way) but counts distinct TUPLES,
    * which the rule faithfully refuses to rewrite — so columns built with
    * this helper stay exact under any session configuration.
    */
  def exactDistinct(c: Column): Column = count_distinct(c, lit(0))

  /** SQL-side twin of dsum, for building oracle strings. */
  def sqlSum(x: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($x AS DECIMAL(30,$scale))) AS DOUBLE)"

  def sqlAvg(x: String, scale: Int = 4): String =
    s"(CAST(SUM(CAST($x AS DECIMAL(30,$scale))) AS DOUBLE) / COUNT($x))"

  /** IMPORTANT: dsum/davg are safe on RAW columns (clean decimal data).
    * For COMPUTED doubles (e.g. price*(1-discount)) casting the product to
    * decimal is NOT portable: Spark converts double→decimal via the
    * shortest string representation (HALF_UP), DuckDB via the exact binary
    * value — they can disagree by 1 ulp of the target scale. Instead cast
    * each factor to its natural decimal scale first and multiply exactly
    * in decimal: [[money]] / [[rate]].
    */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Rates like l_discount / l_tax: 2-decimal values in [0,1). */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))

  /** 1 - rate, exact in decimal. */
  def oneMinus(c: Column): Column =
    lit(1).cast(DecimalType(3, 2)) - rate(c)

  /** 1 + rate, exact in decimal. */
  def onePlus(c: Column): Column =
    lit(1).cast(DecimalType(3, 2)) + rate(c)

  /** Units of `money(price) * oneMinus(discount)` (scale 4), exact:
    * |price units| < 10^12 and |1 − rate| < 10^3, so the product fits a long.
    */
  private def discPriceUnits(price: Column, discount: Column): Column =
    units(price, 2, 12) * (lit(100L) - units(discount, 2, 4))

  /** The ubiquitous discounted-price revenue measure, exact in fixed
    * point, cast to double at the very end. SQL twin: [[sqlRevenue]].
    */
  def revenue(price: Column, discount: Column): Column =
    limbSum(limbs(discPriceUnits(price, discount)), 4).cast(DoubleType)

  /** TPC-H Q1's charge, `SUM(money(price) * oneMinus(discount) *
    * onePlus(tax))` (scale 6) as a double. The per-row product can pass a
    * long, so the discounted price is split at bit 24 first: each part
    * times the tax factor fits a long, and both parts feed the limb sums.
    * SQL twin: `CAST(SUM(<discounted price> * (1 + CAST(tax AS
    * DECIMAL(4,2)))) AS DOUBLE)`.
    */
  def charge(price: Column, discount: Column, tax: Column): Column = {
    val dp = discPriceUnits(price, discount)
    val t = lit(100L) + units(tax, 2, 4)
    limbSum(limbs(dp.bitwiseAND(LimbMask) * t) ++
      limbs(shiftright(dp, LimbBits) * t, LimbBits), 6).cast(DoubleType)
  }

  def sqlRevenue(price: String = "l_extendedprice",
      discount: String = "l_discount"): String =
    s"CAST(SUM(CAST($price AS DECIMAL(12,2)) * (1 - CAST($discount AS DECIMAL(4,2)))) AS DOUBLE)"
}
