package graft

import scala.util.{Random, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The fixed-point kernel behind [[Det]]: [[graft.expr.DecimalUnits]]
  * must give exactly Spark's own `CAST(x AS DECIMAL(p, s))` as units
  * (same value, same null, same error) for every double, in interpreted
  * and in generated code; the limb sums must be exact up to their bound
  * and fail loudly past it; and the Det aggregates must equal the
  * decimal SUMs they replace, to the bit.
  */
class FixedPointSpec extends AnyFunSuite {
  import TestSpark.spark

  /** Interpreted projections vs whole-stage generated code. Interpreted
    * subexpression elimination would swap the shared `CAST(x AS DECIMAL)`
    * for a proxy, which sends the kernel down its exact path only; off,
    * the interpreted fast path is what gets compared.
    */
  private val modes: Seq[(String, Map[String, String])] = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.subexpressionElimination.enabled" -> "false"),
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  private def inMode[T](confs: Map[String, String])(body: => T): T = {
    val old = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A frame over an RDD, so the optimizer cannot fold it to literals. */
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  private val xSchema = StructType(Seq(StructField("id", LongType),
    StructField("x", DoubleType, nullable = true)))

  /** The reference: Spark's cast, read as units by exact decimal steps. */
  private def castUnits(c: Column, p: Int, s: Int): Column =
    (c.cast(DecimalType(p, s)) * lit(BigDecimal(10).pow(s)))
      .cast(DecimalType(p + 1, 0)).cast(LongType)

  /** `n` finite doubles whose cast to DECIMAL(p, s) fits: 2-decimal
    * prices, values a few ulps from `k + 0.5·10^-s`, magnitudes up to the
    * edge of `p` digits, raw bit patterns (subnormals included), all of
    * both signs, plus zeros and the smallest doubles.
    */
  private def doubles(p: Int, s: Int, n: Int, seed: Long): Seq[Double] = {
    val rnd = new Random(seed)
    val top = math.pow(10, p - s) // exclusive bound of |x|
    // rounded to s places, |x| must stay below 10^(p-s)
    val fits = (x: Double) => !x.isNaN && !x.isInfinite &&
      math.abs(x) < top - 0.6 * math.pow(10, -s)
    def sign(x: Double) = if (rnd.nextBoolean()) -x else x
    def ulps(x: Double, k: Int): Double =
      Iterator.iterate(x)(v => if (k > 0) math.nextUp(v) else math.nextDown(v))
        .drop(math.abs(k)).next()
    val price = () => sign(rnd.nextLong(math.min(1000000000L, (top * 100).toLong)) / 100.0)
    val nearTie = () => {
      val k = rnd.nextLong(math.max(1L, math.min(1L << 52, (top * math.pow(10, s)).toLong)))
      sign(ulps((k + 0.5) / math.pow(10, s), rnd.nextInt(9) - 4))
    }
    val magnitude = () =>
      sign(rnd.nextDouble() * math.pow(10, rnd.nextDouble() * (p - s + 8) - 8))
    val bits = () => java.lang.Double.longBitsToDouble(rnd.nextLong())
    val gens = Seq(price, nearTie, magnitude, bits)
    val fixed = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL,
      math.nextDown(top), -math.nextDown(top),
      graft.expr.DecimalUnits.FastLimit / math.pow(10, s))
    fixed.filter(fits) ++ Iterator.continually(gens(rnd.nextInt(gens.size))())
      .filter(fits).take(n).toSeq
  }

  private def compareBulk(p: Int, s: Int, xs: Seq[Double]): Unit = {
    val rows = xs.zipWithIndex.map { case (x, i) => Row(i.toLong, x) } ++
      (0 until 16).map(i => Row(xs.size.toLong + i, null))
    val df = frame(rows, xSchema)
      .select(col("id"), col("x"), castUnits(col("x"), p, s).as("want"),
        Det.units(col("x"), s, p).as("got"))
    for ((mode, confs) <- modes) inMode(confs) {
      val bad = df.filter(!(col("got") <=> col("want")))
      val n = bad.count()
      assert(n == 0, s"DECIMAL($p,$s) $mode: $n of ${rows.size} rows differ, e.g. " +
        bad.limit(5).collect().map(r => s"x=${r.get(1)} want=${r.get(2)} got=${r.get(3)}")
          .mkString("; "))
    }
  }

  test("kernel equals Spark's cast on 10^6 doubles at DECIMAL(18,4), both modes") {
    compareBulk(18, 4, doubles(18, 4, 1000000, 1L))
  }

  test("kernel equals Spark's cast at other widths and scales, both modes") {
    for (((p, s), i) <- Seq((12, 2), (4, 2), (8, 4), (18, 0), (18, 6), (15, 9)).zipWithIndex)
      compareBulk(p, s, doubles(p, s, 100000, 100L + i))
  }

  /** The root error condition of a failed action, if any. */
  private def condition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case e: SparkThrowable if e.getCondition != null => e.getCondition
    }

  test("kernel gives the cast's null or error on NaN, ±Inf, null and overflow, both modes") {
    val edges: Seq[(Int, Int, java.lang.Double)] =
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, null,
        1e14, -1e14, math.nextUp(1e14), math.nextDown(1e14), 99999999999999.99995,
        1e300, -1e300, Double.MaxValue, 5e-5, -5e-5, 1e-5, 0.00015, 2.5e-4,
        -0.0, Double.MinPositiveValue)
        .map(x => (18, 4, x.asInstanceOf[java.lang.Double])) ++
      Seq(99.99, 99.995, -99.995, 100.0, 0.005, -0.005, 0.015, Double.NaN)
        .map(x => (4, 2, Double.box(x)))
    for ((mode, confs) <- modes; (p, s, x) <- edges) inMode(confs) {
      val one = frame(Seq(Row(0L, x)), xSchema)
      def run(c: Column): Try[Option[Long]] =
        Try(one.select(c).collect()(0)).map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      val (want, got) = (run(castUnits(col("x"), p, s)), run(Det.units(col("x"), s, p)))
      val same = (want, got) match {
        case (scala.util.Success(a), scala.util.Success(b)) => a == b
        case (scala.util.Failure(a), scala.util.Failure(b)) =>
          condition(a).isDefined && condition(a) == condition(b)
        case _ => false
      }
      assert(same, s"DECIMAL($p,$s) $mode x=$x: cast $want, kernel $got")
    }
  }

  private val limbSchema = StructType(Seq("g", "l0", "l1", "l2")
    .map(StructField(_, LongType)))
  private val limbCols = Seq((col("l0"), 0), (col("l1"), 24), (col("l2"), 48))

  test("limb sums are exact up to the long bound and fail loudly past it") {
    val p62 = 1L << 62
    val rowsPerGroup = 1L << 39
    // group 1: every limb total at its long extreme; group 2: the totals
    // 2^39 rows of the largest 18-digit units reach (limbs < 2^24, top < 2^12)
    val groups = Seq(
      1L -> Seq(Seq(p62, p62 - 1, -p62), Seq(p62 - 1, p62 - 1, -p62)),
      2L -> Seq(Seq(rowsPerGroup * ((1L << 24) - 1), rowsPerGroup * ((1L << 24) - 1),
        rowsPerGroup * ((1L << 12) - 1))),
      3L -> Seq(Seq(0L, 0L, -rowsPerGroup * (1L << 12))))
    val rows = groups.flatMap { case (g, ls) => ls.map(l => Row(g +: l: _*)) }
    def reference(ls: Seq[Seq[Long]]): java.math.BigDecimal = {
      val total = ls.transpose.map(_.map(BigInt(_)).sum).zip(Seq(0, 24, 48))
        .map { case (t, sh) => t << sh }.sum
      new java.math.BigDecimal(total.bigInteger, 4)
    }
    val df = frame(rows, limbSchema).groupBy(col("g"))
      .agg(Det.limbSum(limbCols, 4).as("total"))
    for ((mode, confs) <- modes) inMode(confs) {
      val got = df.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      for ((g, ls) <- groups)
        assert(got(g).compareTo(reference(ls)) == 0, s"$mode group $g: ${got(g)}")
      val over = frame(Seq(Row(1L, p62, 0L, 0L), Row(1L, p62, 0L, 0L)), limbSchema)
        .groupBy(col("g")).agg(Det.limbSum(limbCols, 4).as("total"))
      val e = intercept[Exception](over.collect())
      assert(condition(e).contains("ARITHMETIC_OVERFLOW"), s"$mode: $e")
    }
  }

  test("dsum, davg, revenue and charge equal the decimal SUMs they replace") {
    val rnd = new Random(7)
    val schema = StructType(Seq("g", "x", "price", "disc", "tax").map(n =>
      StructField(n, if (n == "g") LongType else DoubleType)))
    def cents(max: Long) = (if (rnd.nextBoolean()) -1 else 1) * rnd.nextLong(max) / 100.0
    val rows = (0 until 20000).map { i =>
      val wild = i % 50 == 0 // out-of-range rates and 10-digit prices
      Row((i % 7).toLong,
        if (i % 97 == 0) null else Double.box(cents(if (wild) 9999999999999999L else 100000000L)),
        Double.box(cents(if (wild) 999999999999L else 10000000L)),
        Double.box(if (wild) cents(10000L) else rnd.nextInt(11) / 100.0),
        Double.box(if (wild) cents(10000L) else rnd.nextInt(9) / 100.0))
    }
    val money = col("price").cast(DecimalType(12, 2))
    val oneMinus = lit(1).cast(DecimalType(3, 2)) - col("disc").cast(DecimalType(4, 2))
    val onePlus = lit(1).cast(DecimalType(3, 2)) + col("tax").cast(DecimalType(4, 2))
    val df = frame(rows, schema).groupBy(col("g")).agg(
      Det.dsum(col("x")).as("dsum"),
      sum(col("x").cast(DecimalType(18, 4))).cast(DoubleType).as("dsum_ref"),
      Det.davg(col("x"), scale = 2).as("davg"),
      (sum(col("x").cast(DecimalType(18, 2))).cast(DoubleType) / count(col("x")))
        .as("davg_ref"),
      Det.revenue(col("price"), col("disc")).as("rev"),
      sum(money * oneMinus).cast(DoubleType).as("rev_ref"),
      Det.charge(col("price"), col("disc"), col("tax")).as("charge"),
      sum(money * oneMinus * onePlus).cast(DoubleType).as("charge_ref"))
    for ((mode, confs) <- modes) inMode(confs) {
      for (r <- df.collect(); m <- Seq("dsum", "davg", "rev", "charge")) {
        val (got, want) = (r.getAs[Double](m), r.getAs[Double](s"${m}_ref"))
        assert(java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(want),
          s"$mode group ${r.getLong(0)} $m: $got vs $want")
      }
    }
  }
}
