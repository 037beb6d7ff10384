package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{floor, lit}
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}

/** Cross-engine-deterministic logarithms over positive integers — NO libm
  * call anywhere.
  *
  * Why: round 8 proved that any `round(libm_fn(x), 6)` on the oracle
  * comparison surface inherits the oracle ENGINE's libm build — glibc and
  * musl (or two glibc versions) disagree by an ulp on `exp`/`log` near a
  * rounding boundary, flipping a 6th decimal and the hash with it. IEEE-754
  * BASIC operations (+, −, ×, ÷, sqrt) are correctly rounded by the
  * standard, so a logarithm evaluated as a FIXED sequence of basic double
  * ops produces the bit-identical double on the JVM (all fp is strict since
  * Java 17) and on any C++ SQL engine that evaluates the expression as
  * written (vectorized engines run one kernel per operator — no fusion, no
  * reassociation). Quantizing THAT value is then deterministic by
  * construction: both engines floor the same double.
  *
  * Method, for integer n ≥ 1 (n < 2^53 so the double cast is exact):
  *   k  = floor(log2 n) = 63 − numberOfLeadingZeros(n) = length(bin(n)) − 1
  *   m  = n / 2^k ∈ [1, 2)                         (2^k via bit shift; exact)
  *   u  = (m−1)/(m+1) ∈ [0, 1/3]
  *   ln m = 2·atanh(u) ≈ u·(2 + u²·(2/3 + u²·(2/5 + … + u²·(2/15))))
  *   ln n = k·ln2 + ln m
  * The 8-term Horner series truncates below 1e-9 at u = 1/3 — and the
  * truncation is the SAME on every engine, which is all the determinism
  * contract needs; accuracy only has to be "a correct log10" for the
  * operator's semantics (CCNet-style LM filters threshold at whole-number
  * log-prob scales).
  *
  * The two sides of the contract:
  *  - Spark: [[ln]], [[log10Ratio]], [[log2]] and [[floorDec6]] are Columns
  *    over the compiled [[PortableLn]] kernel — no SQL text to parse;
  *  - DuckDB oracle: [[lnSql]], [[log10RatioSql]], [[log2Sql]] and
  *    [[floorDec6Sql]] spell the same op sequence as SQL text.
  * Both evaluate the same left-to-right double operations; PortabilitySpec
  * pins the kernel bit for bit to [[lnRef]], written separately here.
  *
  * The constants are the shortest decimal representations of the doubles
  * nearest ln 2, 1/ln 10, 1/ln 2 — decimal→double parsing is correctly
  * rounded in the JVM and in strtod, so both engines hold the identical
  * bit pattern.
  */
object PortableLog {

  private val Ln2 = "0.6931471805599453"
  private val InvLn10 = "0.4342944819032518"
  private val InvLn2 = "1.4426950408889634"

  /** ln(n) of a positive bigint Column, as a double; an int Column is
    * widened to bigint. Null in, null out; n ≤ 0 raises.
    */
  def ln(n: Column): Column =
    GraftSqlShims.columnOf(PortableLn(GraftSqlShims.expressionOf(n)))

  /** log10(a/b) for positive bigint Columns — evaluated as
    * (ln a − ln b) · (1/ln 10) so no division result ever feeds the series.
    */
  def log10Ratio(a: Column, b: Column): Column =
    (ln(a) - ln(b)) * lit(InvLn10.toDouble)

  /** log2(n) for a positive bigint Column. */
  def log2(n: Column): Column = ln(n) * lit(InvLn2.toDouble)

  /** Floor-quantize a double Column to 6dp as DECIMAL(18,6) — floor of the
    * identical double is identical; no round(), no HALF_UP tie class.
    */
  def floorDec6(x: Column): Column =
    (floor(x * lit(1000000.0)).cast(DecimalType(18, 0)) *
      lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
      .cast(DecimalType(18, 6))

  /** An explicitly DOUBLE-typed literal — a bare `2.0` parses as DECIMAL in
    * DuckDB, which would then run `2.0/3.0` as decimal division and
    * silently change the series coefficients.
    */
  private def d(lit: String): String = s"${lit}::DOUBLE"

  /** ln(n) as a DuckDB double-typed SQL fragment over a positive bigint
    * expression `n` — the oracle's text of [[ln]].
    */
  def lnSql(n: String): String = {
    val k = s"(length(bin($n)) - 1)"
    val pow2k = s"((1::BIGINT << $k)::DOUBLE)"
    val m = s"(cast(($n) as double) / $pow2k)"
    def c(num: String, den: String) = s"(${d(num)} / ${d(den)})"
    val one = d("1.0")
    val two = d("2.0")
    val u = s"(($m - $one) / ($m + $one))"
    val u2 = s"($u * $u)"
    val ser = s"($u * ($two + $u2 * (${c("2.0", "3.0")} + $u2 * (${c("2.0", "5.0")} + " +
      s"$u2 * (${c("2.0", "7.0")} + $u2 * (${c("2.0", "9.0")} + $u2 * (${c("2.0", "11.0")} + " +
      s"$u2 * (${c("2.0", "13.0")} + $u2 * ${c("2.0", "15.0")}))))))))"
    s"(cast($k as double) * ${d(Ln2)} + $ser)"
  }

  /** The oracle's text of [[log10Ratio]]. */
  def log10RatioSql(a: String, b: String): String =
    s"((${lnSql(a)} - ${lnSql(b)}) * ${d(InvLn10)})"

  /** The oracle's text of [[log2]]. */
  def log2Sql(n: String): String = s"(${lnSql(n)} * ${d(InvLn2)})"

  /** The oracle's text of [[floorDec6]]. */
  def floorDec6Sql(x: String): String =
    s"(floor($x * 1000000.0::DOUBLE)::DECIMAL(18,0) * 0.000001::DECIMAL(7,6))::DECIMAL(18,6)"

  /** The same fixed op sequence in plain Scala (Java 17 doubles are strict):
    * the independent reference PortabilitySpec pins the kernel to.
    */
  def lnRef(n: Long): Double = {
    require(n >= 1, s"lnRef needs n >= 1, got $n")
    val k = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val m = n.toDouble / (1L << k).toDouble
    val u = (m - 1.0) / (m + 1.0)
    val u2 = u * u
    val ser = u * (2.0 + u2 * (2.0 / 3.0 + u2 * (2.0 / 5.0 + u2 * (2.0 / 7.0 +
      u2 * (2.0 / 9.0 + u2 * (2.0 / 11.0 + u2 * (2.0 / 13.0 + u2 * (2.0 / 15.0))))))))
    k.toDouble * 0.6931471805599453 + ser
  }

  def log10RatioRef(a: Long, b: Long): Double =
    (lnRef(a) - lnRef(b)) * 0.4342944819032518

  def log2Ref(n: Long): Double = lnRef(n) * 1.4426950408889634
}

/** The [[PortableLn]] kernel's loop, shared by its interpreted and
  * generated paths.
  */
private[graft] object PortableLnKernel {
  private final val C3 = 2.0 / 3.0
  private final val C5 = 2.0 / 5.0
  private final val C7 = 2.0 / 7.0
  private final val C9 = 2.0 / 9.0
  private final val C11 = 2.0 / 11.0
  private final val C13 = 2.0 / 13.0
  private final val C15 = 2.0 / 15.0

  def ln(n: Long): Double = {
    if (n <= 0) throw new IllegalArgumentException(
      s"portable_ln is defined for n >= 1 only, got $n")
    val k = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val m = n.toDouble / (1L << k).toDouble
    val u = (m - 1.0) / (m + 1.0)
    val u2 = u * u
    var s = C15
    s = C13 + u2 * s
    s = C11 + u2 * s
    s = C9 + u2 * s
    s = C7 + u2 * s
    s = C5 + u2 * s
    s = C3 + u2 * s
    s = 2.0 + u2 * s
    k.toDouble * 0.6931471805599453 + u * s
  }
}

/** `portable_ln(n)`: the libm-free [[PortableLog]] logarithm of a bigint
  * as a double. Null in, null out; n ≤ 0 raises an error naming
  * `portable_ln` (the series has no meaning there).
  */
case class PortableLn(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "portable_ln"

  override def nullSafeEval(n: Any): Any = PortableLnKernel.ln(n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, n => s"graft.functions.PortableLnKernel.ln($n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
