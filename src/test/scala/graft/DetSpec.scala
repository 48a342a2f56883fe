package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** `Det`'s long-based exact sums against the decimal-cast definitions they
  * replace — `sum(CAST(x AS DECIMAL(18,4)))` and the `davg`/`dstd` built
  * on it — bit for bit, grouped and inside window frames, plus the per-row
  * capture against Spark's `Cast` and `knuthU` against its DECIMAL(38,0)
  * form. */
class DetSpec extends AnyFunSuite with SparkTestBase {

  private def money(c: Column) = c.cast(Det.Money)
  private def decimalSum(c: Column) = sum(money(c)).cast(DoubleType)
  private def decimalAvg(c: Column) = decimalSum(c) / count(c).cast(DoubleType)
  private def decimalStd(c: Column) = {
    val s = decimalSum(c)
    val s2 = sum(money(c) * money(c)).cast(DoubleType)
    val n = count(c).cast(DoubleType)
    sqrt((s2 - s * s / n) / (n - lit(1.0)))
  }

  /** Doubles spread over 12 decades: ≤ 4-decimal values, their products,
    * full-precision values, exact .00005 ties, values near 2³⁷ and 10¹⁴,
    * negatives and −0.0. */
  private def doubles(rng: Random, n: Int): Seq[Double] = {
    val twoTo37 = math.pow(2, 37)
    def dec(digits: Int) = {
      val e = rng.nextInt(12) - 2
      BigDecimal(rng.nextDouble() * math.pow(10, e)).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val fixed = Seq(0.0, -0.0, 0.03125, -0.03125, 123456.78125, 1234567.03125, 0.00005, 0.00015,
      twoTo37, -twoTo37, Math.nextDown(twoTo37), Math.nextUp(twoTo37), twoTo37 - 0.0001,
      99999999999999.98, -99999999999999.98, 9.99999999999999e13, 1e13 + 0.0625)
    fixed ++ Seq.fill(n) {
      val x = rng.nextInt(7) match {
        case 0 => dec(rng.nextInt(5))
        case 1 => dec(2) * (1.0 - dec(2) / 100.0)        // l_extendedprice * (1 - l_discount)
        case 2 => rng.nextDouble() * math.pow(10, rng.nextInt(14) - 2)
        case 3 => rng.nextLong() % 100000000L + (2 * rng.nextInt(16) + 1) / 32.0  // ties at 5 decimals
        case 4 => twoTo37 + (rng.nextInt(2001) - 1000) * 0.0001
        case 5 => 1e14 - rng.nextInt(100000) * 0.01
        case _ => dec(6)
      }
      if (rng.nextBoolean()) -x else x
    }
  }

  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  })

  private def assertSameBits(ours: DataFrame, theirs: DataFrame): Unit = {
    val a = bits(ours.collect())
    val b = bits(theirs.collect())
    assert(a.nonEmpty && a == b, a.zip(b).filter(p => p._1 != p._2).take(5))
  }

  /** The condition of the Spark error a failed action raised. */
  private def condition(f: => Any): String = {
    val e = intercept[Throwable](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collect {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.toSeq.lastOption.getOrElse(fail(s"no Spark error condition in $e"))
  }

  /** The rows' bits, or the condition of the error collecting them raised. */
  private def outcome(df: DataFrame): Either[String, Seq[Seq[Any]]] =
    scala.util.Try(bits(df.collect())).toEither.left.map(e => condition(throw e))

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try f finally spark.conf.set(key, old)
  }

  test("per-row capture equals Cast to DECIMAL(18,4) on 1 M doubles, interpreted") {
    val cast = Cast(org.apache.spark.sql.catalyst.expressions.BoundReference(0, DoubleType, nullable = false),
      Det.Money, None, EvalMode.ANSI)
    val ours = MoneyUnscaled(Literal(0.0), EvalMode.ANSI)
    val xs = doubles(new Random(1), 1000000).filter(x => Math.abs(x) < 1e14)
    val bad = xs.filter { x =>
      val want = cast.eval(org.apache.spark.sql.catalyst.InternalRow(x))
        .asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong
      ours.copy(child = Literal(x)).eval() != want
    }
    assert(bad.isEmpty, bad.take(5))
    assert(ours.copy(child = Literal(0.03125)).eval() == 313L)
    assert(ours.copy(child = Literal(123456.78125)).eval() == 1234567813L)
    assert(ours.copy(child = Literal(1234567.03125)).eval() == 12345670313L)
  }

  test("per-row capture equals Cast in generated code") {
    import spark.implicits._
    val df = doubles(new Random(2), 200000).filter(x => Math.abs(x) < 1e14).toDF("x")
    val ours = Bridge.column(MoneyUnscaled(Bridge.expression(col("x"))))
    val want = (money(col("x")) * lit(10000)).cast(LongType)
    assert(df.filter(!(ours <=> want)).count() == 0)
  }

  private def table(seed: Int, n: Int): DataFrame = {
    import spark.implicits._
    val rng = new Random(seed)
    val xs = doubles(rng, n).filter(x => Math.abs(x) < 1e9)   // totals of thousands of rows stay in range
    xs.zipWithIndex.map { case (x, i) =>
      val g = rng.nextInt(40)
      // group 40 is all-null; about 5 % of the other rows are null
      if (i % 97 == 0) (40, i.toLong, None)
      else (g, i.toLong, if (rng.nextInt(20) == 0) None else Some(x))
    }.toDF("g", "id", "x")
  }

  test("grouped dsum / davg / dstd equal the decimal definitions bit for bit") {
    val t = table(3, 50000).repartition(7)
    def agg(s: Column => Column, a: Column => Column, d: Column => Column) =
      t.groupBy("g").agg(s(col("x")), a(col("x")), d(col("x")), count(col("x"))).orderBy("g")
    assertSameBits(agg(Det.dsum, Det.davg, Det.dstd), agg(decimalSum, decimalAvg, decimalStd))
    // the all-null group sums to null, as the decimal sum does
    assert(agg(Det.dsum, Det.davg, Det.dstd).filter(col("g") === 40).head().isNullAt(1))
  }

  test("large totals: above 2^53 unscaled and past the long range of the low part") {
    import spark.implicits._
    val rng = new Random(4)
    val t = Seq.fill(4000)((rng.nextInt(3), 9e13 + rng.nextInt(1000000) * 0.0001)).toDF("g", "x")
      .union(Seq.fill(100)((3, -(9e13 + rng.nextInt(1000000) * 0.01))).toDF("g", "x"))
    assertSameBits(t.groupBy("g").agg(Det.dsum(col("x"))).orderBy("g"),
      t.groupBy("g").agg(decimalSum(col("x"))).orderBy("g"))
  }

  test("empty input and ungrouped sums") {
    val t = table(5, 2000)
    assertSameBits(t.agg(Det.dsum(col("x")), Det.davg(col("x")), Det.dstd(col("x"))),
      t.agg(decimalSum(col("x")), decimalAvg(col("x")), decimalStd(col("x"))))
    val none = t.filter(col("id") < 0)
    val r = none.agg(Det.dsum(col("x")), Det.davg(col("x"))).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(none.groupBy("g").agg(Det.dsum(col("x"))).count() == 0)
  }

  test("window frames: running, sliding and whole-partition sums and means") {
    val t = table(6, 20000)
    val byG = Window.partitionBy("g").orderBy("id")
    Seq(byG.rowsBetween(Window.unboundedPreceding, Window.currentRow), byG.rowsBetween(-6, 0),
        Window.partitionBy("g")).foreach { w =>
      val s = sum(money(col("x"))).over(w).cast(DoubleType)
      val n = count(col("x")).over(w).cast(DoubleType)
      def frame(cols: Column*) = t.select(col("id") +: cols: _*).orderBy("id")
      assertSameBits(frame(Det.dsum(col("x")).over(w), Det.davg(col("x"), w)), frame(s, s / n))
    }
  }

  test("a two-level sum through dsumPartial equals the one-level dsum") {
    val t = table(7, 20000)
    val twoLevel = t.groupBy(col("g"), (col("id") % 13).as("sub"))
      .agg(Det.dsumPartial(col("x")).as("p"))
      .groupBy("g").agg(Det.dsumPartial(col("p")).as("p"))    // a partial of partials
      .groupBy("g").agg(Det.dsum(col("p")).as("s")).orderBy("g")
    assertSameBits(twoLevel, t.groupBy("g").agg(Det.dsum(col("x")).as("s")).orderBy("g"))
  }

  test("NaN, infinities and |x| >= 1e14 raise the Cast's ANSI error, or give null outside ANSI") {
    import spark.implicits._
    // the Cast raises for |x| >= 1e14 only (NaN and ±Inf cast to null);
    // dsum raises that same error for all seven, as the oracle does
    val raised = withAnsi(on = true) {
      outcome(Seq((0, 1e14)).toDF("g", "x").groupBy("g").agg(decimalSum(col("x"))))
    }
    assert(raised.isLeft, s"the decimal cast raised no error for 1e14: $raised")
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e14, -1e14, 1e15, 1e300)
      .foreach { x =>
        val t = Seq((0, 1.5), (0, x)).toDF("g", "x")
        withAnsi(on = true) {
          assert(outcome(t.groupBy("g").agg(Det.dsum(col("x")))) == raised, s"x = $x")
          assert(outcome(t.groupBy("g").agg(Det.davg(col("x")))) == raised, s"x = $x")
        }
        withAnsi(on = false) {
          assertSameBits(t.groupBy("g").agg(Det.dsum(col("x")), Det.davg(col("x"))),
            t.groupBy("g").agg(decimalSum(col("x")), decimalAvg(col("x"))))
        }
      }
  }

  test("a total past DECIMAL(28,4) raises the decimal-sum overflow error, or gives null outside ANSI") {
    import spark.implicits._
    // two partials of 6·10²³ each: the 1.2·10²⁴ total needs 29 digits
    val t = Seq((0, 6000000000L, 0L), (0, 6000000000L, 0L)).toDF("g", "hi", "lo")
      .select(col("g"), struct(col("hi"), col("lo")).as("p"))
    withAnsi(on = true) {
      assert(condition(t.groupBy("g").agg(Det.dsum(col("p"))).collect()) == "ARITHMETIC_OVERFLOW")
    }
    withAnsi(on = false) {
      assert(t.groupBy("g").agg(Det.dsum(col("p"))).head().isNullAt(1))
    }
    // just inside: 10²⁴ − 10⁻⁴ is the largest DECIMAL(28,4) value
    val edge = Seq((0, 9999999999L, 999999999999999999L)).toDF("g", "hi", "lo")
      .select(col("g"), struct(col("hi"), col("lo")).as("p"))
    assert(edge.groupBy("g").agg(Det.dsum(col("p"))).head().getDouble(1) == 1e24)
  }

  test("knuthU equals the DECIMAL(38,0) form on random, extreme and negative longs") {
    import spark.implicits._
    val rng = new Random(8)
    val ids = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, Long.MaxValue - 1, Long.MinValue + 1,
        3400000000L, 4294967296L, -4294967296L, 29000000000L) ++
      Seq.fill(20000)(rng.nextLong()) ++ Seq.fill(2000)(Long.MaxValue - rng.nextInt(1 << 20)) ++
      Seq.fill(2000)(Long.MinValue + rng.nextInt(1 << 20)) ++ Seq.fill(2000)(-rng.nextInt(Int.MaxValue).toLong)
    val t = ids.map(Option(_)).:+(None).toDF("id")
    val decimal = ((col("id").cast(DecimalType(38, 0)) * lit(2654435761L)) % lit(4294967296L)).cast(LongType)
    assert(t.filter(!(Det.knuthU(col("id")) <=> decimal)).count() == 0)
    assert(t.select(Det.knuthU(col("id"))).collect().count(_.isNullAt(0)) == 1)
  }
}
