package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.PortableLog

/** Pins the cross-engine determinism contract of [[PortableLog]]: the
  * compiled `portable_ln` kernel and the Columns built on it must produce
  * the BIT-IDENTICAL double to two references for every input — the
  * plain-Scala sequence (`lnRef`/`log2Ref`/`log10RatioRef`) and the Spark
  * SQL text the kernel replaced ([[RetiredSparkLog]]). If they do, any
  * IEEE-754 engine evaluating the same op sequence agrees, and the
  * floor-quantized decimals on the oracle comparison surface can never flip
  * with the oracle engine's libm build (the round-8 classifier bug class).
  * Every comparison runs with generated code only and interpreted only,
  * under ANSI on and off. Also pins accuracy against java.lang.Math to 1e-8
  * so the surrogate stays a genuine logarithm semantically.
  */
class PortabilitySpec extends SparkSpec {

  // powers of two and their neighbours (range-reduction edges), small counts,
  // large counts, and a dense band — the inputs count columns actually take
  private val probes: Seq[Long] =
    (1L to 512L) ++
      (1 to 50).map(i => (1L << (i % 50)) max 1L).flatMap(p => Seq(p - 1, p, p + 1)).filter(_ >= 1) ++
      Seq(999999L, 1000000L, 12345678L, 987654321L, (1L << 52) - 1, 1L << 52, Long.MaxValue)

  private val nSchema = StructType(Seq(StructField("n", LongType)))
  private def ns(xs: Seq[java.lang.Long]): DataFrame = frame(nSchema, xs.map(Row(_)): _*)
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("ln / log2 kernel == lnRef == retired fragment, bit for bit") {
    val df = ns(probes.map(Long.box) :+ null)
    evalModes {
      val rows = df.select(col("n"),
        PortableLog.ln(col("n")).as("ln"), PortableLog.log2(col("n")).as("l2"),
        expr(RetiredSparkLog.lnSql("n")).as("ln_sql"),
        expr(RetiredSparkLog.log2Sql("n")).as("l2_sql")).collect()
      assert(rows.length == probes.length + 1)
      rows.foreach { r =>
        if (r.isNullAt(0)) assert((1 to 4).forall(r.isNullAt), s"null in, null out: $r")
        else {
          val n = r.getLong(0)
          assert(bits(r.getDouble(1)) == bits(PortableLog.lnRef(n)),
            s"ln($n): kernel=${r.getDouble(1)} ref=${PortableLog.lnRef(n)}")
          assert(bits(r.getDouble(1)) == bits(r.getDouble(3)),
            s"ln($n): kernel=${r.getDouble(1)} sql=${r.getDouble(3)}")
          assert(bits(r.getDouble(2)) == bits(PortableLog.log2Ref(n)),
            s"log2($n): kernel=${r.getDouble(2)} ref=${PortableLog.log2Ref(n)}")
          assert(bits(r.getDouble(2)) == bits(r.getDouble(4)),
            s"log2($n): kernel=${r.getDouble(2)} sql=${r.getDouble(4)}")
        }
      }
    }
  }

  test("n <= 0 raises an error naming portable_ln") {
    evalModes {
      for (n <- Seq(0L, -1L, Long.MinValue)) {
        val e = intercept[Exception](
          ns(Seq(Long.box(n))).select(PortableLog.ln(col("n"))).collect())
        val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage))
        assert(messages.exists(_.contains("portable_ln")), s"n=$n: $e")
      }
    }
  }

  test("log10-ratio Column == references, bit for bit") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val pairs = for (a <- Seq(1L, 3L, 7L, 58L, 196L, 999L, 65536L, 999999L);
                     b <- Seq(1L, 2L, 58L, 1000L, 987654L)) yield (a, b)
    val df = frame(schema, pairs.map { case (a, b) => Row(a, b) }: _*)
    evalModes {
      df.select(col("a"), col("b"),
        PortableLog.log10Ratio(col("a"), col("b")).as("l"),
        expr(RetiredSparkLog.log10RatioSql("a", "b")).as("l_sql"))
        .collect().foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          assert(bits(r.getDouble(2)) == bits(PortableLog.log10RatioRef(a, b)),
            s"log10($a/$b): kernel=${r.getDouble(2)} ref=${PortableLog.log10RatioRef(a, b)}")
          assert(bits(r.getDouble(2)) == bits(r.getDouble(3)),
            s"log10($a/$b): kernel=${r.getDouble(2)} sql=${r.getDouble(3)}")
        }
    }
  }

  test("surrogate is an accurate logarithm (vs java.lang.Math, 1e-8)") {
    probes.foreach { n =>
      assert(math.abs(PortableLog.lnRef(n) - math.log(n.toDouble)) <
        1e-8 * math.max(1.0, math.abs(math.log(n.toDouble))),
        s"lnRef($n) drifted from Math.log")
    }
  }

  test("floor-quantization of the identical double is boundary-proof") {
    // perturb counts across every power-of-two edge: quantization flips
    // BETWEEN inputs are fine; within one input the Column and both
    // references must land in the same 1e-6 cell because the doubles are
    // bit-identical (asserted above) — this pins the end-to-end decimal
    val df = ns(probes.map(Long.box))
    evalModes {
      df.select(col("n"), PortableLog.floorDec6(PortableLog.log2(col("n"))).as("d"),
        expr(RetiredSparkLog.floorDec6Sql(RetiredSparkLog.log2Sql("n"))).as("d_sql"))
        .collect().foreach { r =>
          val n = r.getLong(0)
          val expected = java.math.BigDecimal.valueOf(
            math.floor(PortableLog.log2Ref(n) * 1000000.0).toLong, 6)
          assert(r.getDecimal(1).compareTo(expected) == 0,
            s"dec6(log2($n)): kernel=${r.getDecimal(1)} ref=$expected")
          assert(r.getDecimal(1) == r.getDecimal(2),
            s"dec6(log2($n)): kernel=${r.getDecimal(1)} sql=${r.getDecimal(2)}")
        }
    }
  }

  test("planted .xxxx50 ties: the floor idiom is stable where round(double, 4) is engine-defined") {
    import spark.implicits._
    // exact .5-at-the-5th-decimal ratios — the HALF_UP tie class the r10
    // sweep moved off every hash surface (Dedup/Similarity/TextAnalysis/
    // Profiling). round(x, 4) on these depends on whether an engine rounds
    // the DECIMAL rendering (→ up) or the exact binary value (→ either
    // side); floor(x·10⁴)/10⁴ is one IEEE multiply + floor of the identical
    // double — a single deterministic answer on every engine.
    val ties = Seq(
      (1L, 1.0, 16.0),   // 1/16  = 0.0625       → 4dp tie .000050-class scaled
      (2L, 5.0, 8.0),    // 5/8   = 0.625
      (3L, 10001.0, 200000.0), // 0.050005 — a true 5th-decimal .5 tie
      (4L, 3.0, 32.0),   // 0.09375
      (5L, -10001.0, 200000.0)) // negative tie — floor ≠ truncate here
      .toDF("id", "num", "den")
      .select(col("id"),
        (floor((col("num") / col("den")) * 10000).cast("double") / 10000.0)
          .as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // same arithmetic in plain Scala (strict IEEE on Java 17) — bit-equal
    def ref(n: Double, d: Double) = math.floor(n / d * 10000) / 10000
    assert(ties(1L) == ref(1.0, 16.0) && ties(1L) == 0.0625)
    assert(ties(2L) == ref(5.0, 8.0) && ties(2L) == 0.625)
    assert(ties(3L) == ref(10001.0, 200000.0) && ties(3L) == 0.05)
    assert(ties(4L) == ref(3.0, 32.0) && ties(4L) == 0.0937)
    assert(ties(5L) == ref(-10001.0, 200000.0) && ties(5L) == -0.0501,
      s"negative tie must floor DOWN, got ${ties(5L)}")
  }
}

/** The Spark SQL text PortableLog's Spark side ran before the compiled
  * kernel, kept only as a reference the kernel must match bit for bit.
  */
private object RetiredSparkLog {

  /** An explicitly DOUBLE-typed literal — a bare `2.0` parses as DECIMAL in
    * Spark, which then runs `2.0/3.0` as 6-digit decimal division.
    */
  private def d(lit: String): String = s"${lit}D"

  def lnSql(n: String): String = {
    val k = s"(length(bin($n)) - 1)"
    val pow2k = s"cast(shiftleft(cast(1 as bigint), $k) as double)"
    val m = s"(cast(($n) as double) / $pow2k)"
    def c(num: String, den: String) = s"(${d(num)} / ${d(den)})"
    val one = d("1.0")
    val two = d("2.0")
    val u = s"(($m - $one) / ($m + $one))"
    val u2 = s"($u * $u)"
    val ser = s"($u * ($two + $u2 * (${c("2.0", "3.0")} + $u2 * (${c("2.0", "5.0")} + " +
      s"$u2 * (${c("2.0", "7.0")} + $u2 * (${c("2.0", "9.0")} + $u2 * (${c("2.0", "11.0")} + " +
      s"$u2 * (${c("2.0", "13.0")} + $u2 * ${c("2.0", "15.0")}))))))))"
    s"(cast($k as double) * ${d("0.6931471805599453")} + $ser)"
  }

  def log10RatioSql(a: String, b: String): String =
    s"((${lnSql(a)} - ${lnSql(b)}) * ${d("0.4342944819032518")})"

  def log2Sql(n: String): String = s"(${lnSql(n)} * ${d("1.4426950408889634")})"

  def floorDec6Sql(x: String): String =
    s"cast(cast(floor($x * 1000000.0D) as decimal(18,0)) * cast(0.000001 as decimal(7,6)) as decimal(18,6))"
}
