package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, ImperativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SUM
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact wide decimal sums on primitive longs: `sum(CAST(x AS DECIMAL(p, s)))`
  * over a double, float or integral `x`, with p + 10 > 18 (where Spark's own
  * `DecimalAggregates` does not apply), as [[DecimalSum]] — a 192-bit
  * two's-complement unscaled accumulator in three longs instead of a
  * `java.math.BigDecimal` per row. The answer is Spark's, bit for bit.
  *
  * The exact unscaled value of a row, n = x · 10^s, takes a fast path:
  *   n = Math.round(x · 10^s), accepted only when n / 10^s == x (one
  *   correctly rounded double division; n and 10^s are exact doubles, as
  *   |n| < 2^53 and s ≤ 22) and |x| < 2^50 / 10^s.
  * Proof that this n is what Spark's cast gives: Spark rounds HALF_UP, to s
  * places, the decimal string D = `Double.toString(x)`, and D parses back
  * to x. The check says q = n · 10^-s also rounds to x. So D and q both lie
  * in x's rounding interval, whose width is at most ulp(x) ≤ |x| · 2^-52
  * < 2^-2 · 10^-s, under half a step of 10^-s. q is a multiple of 10^-s, so
  * the nearest multiple to D is q and D is not a tie: rounding D gives q.
  * This holds for any D in the interval, so it does not depend on D being
  * the shortest string. The bound also keeps |n| ≤ 2^50 + 1. An integral
  * x takes n = x · 10^s when that fits a long (s ≤ 18). Every other row —
  * NaN, ±Inf, subnormals, a double without an s-place decimal in its
  * interval, |x| past the bound, a value over p digits — goes through
  * Spark's own cast, which gives its ANSI errors and its non-ANSI nulls.
  *
  * Overflow follows the buffer Spark's `Sum` would have held, which the
  * physical aggregate decides and which Spark does not make consistent: an
  * UnsafeRow buffer drops a partial sum past the result precision at every
  * step, while a safe-row or generated-code-local buffer keeps the exact
  * sum and checks it only where a partial result is written out and at the
  * end. [[ExactDecimalSums]] names the kind for each node
  * ([[DecimalSumKernel.UnsafeBuffer]] and the others), and the kernel
  * replays it. The 192 bits hold any exact sum of 38-digit values over
  * fewer than 2^63 rows.
  */
private[graft] object DecimalSumKernel {

  /** Spark's sum buffer in an UnsafeRow (hash and interpreted aggregation):
    * a partial sum past the result precision overflows at that step.
    */
  final val UnsafeBuffer = 0
  /** In a safe row (object-hash and sort aggregation, windows): the exact
    * sum, checked where a partial result is written out and at the end.
    */
  final val SafeBuffer = 1
  /** In generated-code locals (whole-stage aggregation without keys): as a
    * safe row, except that a final stage fused with its one partial stage
    * (a single input partition, no exchange) takes that partial unchecked.
    * The merge state tells: 0 no merge yet, 1 one partial in range, 2 one
    * partial out of range (an overflow once a second partial arrives), 3
    * two or more.
    */
  final val LocalBuffer = 2

  /** The fast path does not apply, or the value is outside (-2^62, 2^62). */
  final val Wide = Long.MinValue

  private val Pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  private val Pow10D: Array[Double] = Array.tabulate(23)(i => s"1e$i".toDouble)
  private val Bound: Array[Double] = Array.tabulate(23)(i => Math.scalb(1.0, 50) / Pow10D(i))
  private val Pow10Hi: Array[Long] =
    Array.tabulate(39)(i => BigInteger.TEN.pow(i).shiftRight(64).longValue)
  private val Pow10Lo: Array[Long] = Array.tabulate(39)(i => BigInteger.TEN.pow(i).longValue)

  /** x · 10^s exactly, or [[Wide]] when the fast path cannot prove it. */
  def ofDouble(x: Double, s: Int, p: Int): Long = {
    if (s > 22 || !(Math.abs(x) < Bound(s))) return Wide
    val f = Pow10D(s)
    val n = Math.round(x * f)
    if (n / f != x || (p <= 18 && Math.abs(n) >= Pow10L(p))) Wide else n
  }

  /** n · 10^s, or [[Wide]] when it needs more than a long or p digits. */
  def ofLong(n: Long, s: Int, p: Int): Long = {
    if (s > 18) return Wide
    val lim = Long.MaxValue / Pow10L(s)
    if (n > lim || n < -lim) return Wide
    val v = n * Pow10L(s)
    if (p <= 18 && (v >= Pow10L(p) || v <= -Pow10L(p))) Wide else v
  }

  /** The unscaled value of a cast result, or [[Wide]] past 62 bits. */
  def ofDecimal(d: Decimal): Long = {
    val u = d.toJavaBigDecimal.unscaledValue
    if (u.bitLength < 63) u.longValue else Wide
  }

  /** Low (or high) 64 bits of a cast result's 128-bit unscaled value. */
  def word(d: Decimal, high: Boolean): Long = {
    val u = d.toJavaBigDecimal.unscaledValue
    if (high) u.shiftRight(64).longValue else u.longValue
  }

  /** Word `slot` (0 low, 1 middle, 2 top) of (lo, hi, top) + (aLo, aHi, aTop). */
  def add(slot: Int, lo: Long, hi: Long, top: Long, aLo: Long, aHi: Long, aTop: Long): Long = {
    val l = lo + aLo
    if (slot == 0) return l
    val c1 = if (java.lang.Long.compareUnsigned(l, lo) < 0) 1L else 0L
    val h0 = hi + aHi
    val h = h0 + c1
    if (slot == 1) return h
    val c2 = (if (java.lang.Long.compareUnsigned(h0, hi) < 0) 1L else 0L) +
      (if (java.lang.Long.compareUnsigned(h, h0) < 0) 1L else 0L)
    top + aTop + c2
  }

  /** |(lo, hi, top)| < 10^precision. */
  def fits(lo: Long, hi: Long, top: Long, precision: Int): Boolean = {
    if (top != (hi >> 63)) return false
    val (mLo, mHi) = if (hi >= 0) (lo, hi) else (-lo, ~hi + (if (lo == 0) 1L else 0L))
    mHi >= 0 && (mHi < Pow10Hi(precision) ||
      (mHi == Pow10Hi(precision) && java.lang.Long.compareUnsigned(mLo, Pow10Lo(precision)) < 0))
  }

  /** Whether one step of a `buffer`-kind sum overflows: an update only in
    * an UnsafeRow, at its result; a merge where that partial result was
    * checked when written out (see [[LocalBuffer]] for the merge state).
    */
  def overflows(buffer: Int, merge: Boolean, state: Int, lo: Long, hi: Long, top: Long,
      aLo: Long, aHi: Long, aTop: Long, precision: Int): Boolean =
    if (buffer == UnsafeBuffer)
      !fits(add(0, lo, hi, top, aLo, aHi, aTop), add(1, lo, hi, top, aLo, aHi, aTop),
        add(2, lo, hi, top, aLo, aHi, aTop), precision)
    else merge && (if (buffer == SafeBuffer || state == 1 || state == 3)
      !fits(aLo, aHi, aTop, precision) else state == 2)

  /** The merge state after merging one partial (aLo, aHi, aTop). */
  def nextState(buffer: Int, state: Int, aLo: Long, aHi: Long, aTop: Long, precision: Int): Int =
    if (buffer != LocalBuffer) state
    else if (state == 0) (if (fits(aLo, aHi, aTop, precision)) 1 else 2)
    else 3

  /** The sum as a Decimal: compact when it fits a long (every long fits
    * the result precision, which is at least 19), else from its digits so
    * the caller's precision check sees them.
    */
  def toDecimal(lo: Long, hi: Long, top: Long, precision: Int, scale: Int): Decimal =
    if (top == (hi >> 63) && hi == (lo >> 63)) Decimal(lo, precision, scale)
    else {
      val words = BigInteger.valueOf(top).shiftLeft(128)
        .or(new BigInteger(1, java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array()))
      Decimal(new JBigDecimal(words, scale))
    }
}

/** `CAST(x AS target)` as the replaced sum wrote it (mode, time zone and
  * origin), bound to one input value: the kernel's fallback. Generated code
  * calls it as an object, so each sum adds one line instead of Spark's
  * cast code, and two queries that differ only in attribute ids share
  * generated code.
  */
case class DecimalCast private (bound: Cast) {
  def target: DecimalType = bound.dataType.asInstanceOf[DecimalType]
  def apply(x: Any): Decimal =
    bound.eval(new GenericInternalRow(Array[Any](x))).asInstanceOf[Decimal]
  def over(x: Expression): Expression = bound.withNewChildren(Seq(x))
}

object DecimalCast {
  def apply(c: Cast): DecimalCast = new DecimalCast(
    c.withNewChildren(Seq(BoundReference(0, c.child.dataType, nullable = true))).asInstanceOf[Cast])
}

/** Generated code that applies `cast` to the value `x` of type `t`. */
private object CastCall {
  def apply(ctx: CodegenContext, cast: DecimalCast, x: String, t: DataType): String =
    s"${ctx.addReferenceObj("decimalCast", cast, classOf[DecimalCast].getName)}" +
      s".apply(${CodeGenerator.boxedType(t)}.valueOf($x))"
}

/** The exact unscaled value of `CAST(child AS cast.target)` as a long: the
  * [[DecimalSumKernel]] fast path, else the cast itself. Null when the cast
  * is null; [[DecimalSumKernel.Wide]] when the value needs more than 62
  * bits, which [[DecimalSum]] then reads as two words.
  */
case class UnscaledAddend(child: Expression, cast: DecimalCast) extends UnaryExpression {
  private def s = cast.target.scale
  private def p = cast.target.precision

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def stringArgs: Iterator[Any] = Iterator(cast.over(child))

  private def fast(v: Any): Long = child.dataType match {
    case DoubleType => DecimalSumKernel.ofDouble(v.asInstanceOf[Double], s, p)
    case FloatType => DecimalSumKernel.ofDouble(v.asInstanceOf[Float].toDouble, s, p)
    case _ => DecimalSumKernel.ofLong(v.asInstanceOf[Number].longValue, s, p)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val n = fast(v)
    if (n != DecimalSumKernel.Wide) n
    else cast(v) match {
      case null => null
      case d => DecimalSumKernel.ofDecimal(d)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = "graft.functions.DecimalSumKernel"
    val xe = child.genCode(ctx)
    val d = ctx.freshName("decimal")
    val call = child.dataType match {
      case DoubleType | FloatType => s"$k.ofDouble((double) ${xe.value}, $s, $p)"
      case _ => s"$k.ofLong((long) ${xe.value}, $s, $p)"
    }
    ev.copy(code = code"""
      |${xe.code}
      |boolean ${ev.isNull} = ${xe.isNull};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $call;
      |  if (${ev.value} == ${Long.MinValue}L) {
      |    Decimal $d = ${CastCall(ctx, cast, xe.value.toString, child.dataType)};
      |    ${ev.isNull} = $d == null;
      |    if (!${ev.isNull}) ${ev.value} = $k.ofDecimal($d);
      |  }
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The low or high 64 bits of a wide value's unscaled 128: read only where
  * [[UnscaledAddend]] gave [[DecimalSumKernel.Wide]], so the cast is not
  * null.
  */
case class UnscaledWord(child: Expression, cast: DecimalCast, high: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def stringArgs: Iterator[Any] = Iterator(cast.over(child), high)

  override def nullSafeEval(x: Any): Any = DecimalSumKernel.word(cast(x), high)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => "graft.functions.DecimalSumKernel.word(" +
      s"${CastCall(ctx, cast, x, child.dataType)}, $high)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Word `slot` of a [[DecimalSum]] buffer after one step: 0-2 the sum's
  * words, 3 the merge state. Children: the buffer (lo, hi, top, state) and
  * the addend (aLo, aHi, aTop) — one row's value, or the other buffer's sum
  * when `merge`. A null aLo is a null row: the buffer stays. A null `top`
  * marks an overflowed sum, and slot 2 is null once either side has
  * overflowed or [[DecimalSumKernel.overflows]] says this step does.
  */
case class SumStep(slot: Int, precision: Int, buffer: Int, merge: Boolean,
    children: Seq[Expression]) extends Expression {
  override def dataType: DataType = if (slot == 3) IntegerType else LongType
  override def nullable: Boolean = slot == 2

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (v(4) == null) return v(slot)
    val Seq(lo, hi, top, aLo, aHi, aTop) =
      Seq(v(0), v(1), v(2), v(4), v(5), v(6)).map(w => if (w == null) 0L else w.asInstanceOf[Long])
    val state = v(3).asInstanceOf[Int]
    slot match {
      case 3 => if (merge) DecimalSumKernel.nextState(buffer, state, aLo, aHi, aTop, precision)
        else state
      case 2 if v(2) == null || v(6) == null || DecimalSumKernel.overflows(buffer, merge, state,
        lo, hi, top, aLo, aHi, aTop, precision) => null
      case _ => DecimalSumKernel.add(slot, lo, hi, top, aLo, aHi, aTop)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = "graft.functions.DecimalSumKernel"
    val e = children.map(_.genCode(ctx))
    val Seq(lo, hi, top, state, aLo, aHi, aTop) = e.map(_.value)
    val words = s"$lo, $hi, $top, $aLo, $aHi, $aTop"
    val body = slot match {
      case 3 if merge =>
        s"${ev.value} = $k.nextState($buffer, $state, $aLo, $aHi, $aTop, $precision);"
      case 3 => s"${ev.value} = $state;"
      case 2 =>
        s"""${ev.isNull} = ${e(2).isNull} || ${e(6).isNull} ||
           |  $k.overflows($buffer, $merge, $state, $words, $precision);
           |${ev.value} = $k.add(2, $words);""".stripMargin
      case _ => s"${ev.value} = $k.add($slot, $words);"
    }
    val javaType = if (slot == 3) "int" else "long"
    ev.copy(code = code"""
      |${e.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = false;
      |$javaType ${ev.value} = 0;
      |if (${e(4).isNull}) {
      |  ${ev.isNull} = ${e(slot).isNull};
      |  ${ev.value} = ${e(slot).value};
      |} else {
      |  $body
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** A [[DecimalSum]] buffer's value as a Decimal; null once it overflowed. */
case class SumValue(lo: Expression, hi: Expression, top: Expression, resultType: DecimalType)
    extends TernaryExpression {
  override def first: Expression = lo
  override def second: Expression = hi
  override def third: Expression = top
  override def dataType: DataType = resultType

  override def nullSafeEval(l: Any, h: Any, t: Any): Any = DecimalSumKernel.toDecimal(
    l.asInstanceOf[Long], h.asInstanceOf[Long], t.asInstanceOf[Long],
    resultType.precision, resultType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, h, t) => "graft.functions.DecimalSumKernel.toDecimal(" +
      s"$l, $h, $t, ${resultType.precision}, ${resultType.scale})")

  override protected def withNewChildrenInternal(
      l: Expression, h: Expression, t: Expression): Expression = copy(lo = l, hi = h, top = t)
}

/** `sum(CAST(x AS DECIMAL(p, s)))` on the [[DecimalSumKernel]]: same type,
  * value, nulls and errors as Spark's `Sum`, with a buffer of three longs
  * (the 192-bit unscaled sum; `top` null once it overflowed), the merge
  * state and Spark's `isEmpty`. `buffer` is the kind of buffer Spark's sum
  * would have had ([[DecimalSumKernel.UnsafeBuffer]] and the others);
  * `nullOnOverflow` and `context` are the replaced `Sum`'s, for its final
  * overflow check.
  */
case class DecimalSum(child: Expression, cast: DecimalCast, buffer: Int,
    nullOnOverflow: Boolean, context: Option[QueryContext])
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private lazy val resultType =
    DecimalType(math.min(cast.target.precision + 10, DecimalType.MAX_PRECISION), cast.target.scale)

  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = "decimal_sum"
  override def flatArguments: Iterator[Any] = Iterator(cast.over(child))

  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val top = AttributeReference("top", LongType)()
  private lazy val merges = AttributeReference("merges", IntegerType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lo, hi, top, merges, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L), Literal(0), Literal(true))

  private def steps(slots: Range, merge: Boolean, words: Expression*): Seq[Expression] =
    slots.map(i => SumStep(i, resultType.precision, buffer, merge, words))

  override lazy val updateExpressions: Seq[Expression] = {
    val a = UnscaledAddend(child, cast)
    val wide = EqualTo(a, Literal(DecimalSumKernel.Wide))
    val aLo = If(wide, UnscaledWord(child, cast, high = false), a)
    val aHi = If(wide, UnscaledWord(child, cast, high = true), ShiftRight(a, Literal(63)))
    steps(0 to 2, merge = false, lo, hi, top, merges, aLo, aHi, ShiftRight(aHi, Literal(63))) ++
      Seq(merges, And(isEmpty, IsNull(a)))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    steps(0 to 3, merge = true, lo.left, hi.left, top.left, merges.left,
      lo.right, hi.right, top.right) :+ And(isEmpty.left, isEmpty.right)

  override lazy val evaluateExpression: Expression = If(isEmpty, Literal.create(null, resultType),
    CheckOverflowInSum(SumValue(lo, hi, top, resultType), resultType, nullOnOverflow,
      context.orNull))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Optimizer rule: `Sum(Cast(x, DecimalType(p, s)))` → [[DecimalSum]] in
  * aggregates and window aggregates, for a deterministic double, float or
  * integral `x` and p + 10 > 18. The buffer kind follows the physical
  * aggregate Spark plans for the node. A window's cast sits in the project
  * below it (the analyzer moves it there); the rewrite projects `x` beside
  * it and keeps the window's output. DISTINCT sums, aggregates without
  * keys beside a DISTINCT, and streaming plans (whose state holds the
  * buffer) are left alone.
  */
object ExactDecimalSums extends Rule[LogicalPlan] {
  import DecimalSumKernel.{LocalBuffer, SafeBuffer, UnsafeBuffer}

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformUpWithPruning(_.containsPattern(SUM)) {
      // without keys, a DISTINCT plans stages grouped by its columns
      // (UnsafeRow buffers) under stages in locals: no one buffer kind
      case a: Aggregate if a.groupingExpressions.isEmpty && a.aggregateExpressions
          .exists(_.exists { case e: AggregateExpression => e.isDistinct; case _ => false }) => a
      case a: Aggregate =>
        val fns = a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression => e })
          .map(_.aggregateFunction)
        val buffer =
          if (a.groupingExpressions.isEmpty && conf.wholeStageEnabled &&
            !fns.exists(_.isInstanceOf[ImperativeAggregate])) LocalBuffer
          else if (Aggregate.supportsHashAggregate(fns.flatMap(_.aggBufferAttributes),
            a.groupingExpressions)) UnsafeBuffer
          else SafeBuffer
        a.copy(aggregateExpressions = a.aggregateExpressions.map(rewrite(_, buffer, {
          case c: Cast if eligible(c) => Some(c.child -> c)
          case _ => None
        })))
      case w @ Window(exprs, _, _, p @ Project(list, _), _) =>
        val casts = list.collect { case al @ Alias(c: Cast, _) if eligible(c) => al.exprId -> c }
          .toMap
        val inputs = scala.collection.mutable.LinkedHashMap[ExprId, Alias]()
        val rewritten = exprs.map(rewrite(_, SafeBuffer, {
          case ar: AttributeReference if casts.contains(ar.exprId) =>
            val c = casts(ar.exprId)
            val x = inputs.getOrElseUpdate(ar.exprId, Alias(c.child, "decimal_sum_input")())
            Some(x.toAttribute -> c)
          case _ => None
        }))
        if (inputs.isEmpty) w
        else Project(w.output, w.copy(windowExpressions = rewritten,
          child = p.copy(projectList = list ++ inputs.values)))
    }

  private def eligible(c: Cast): Boolean = c.dataType match {
    case t: DecimalType => t.precision + 10 > 18 && c.child.deterministic &&
      (c.child.dataType match {
        case DoubleType | FloatType | ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    case _ => false
  }

  /** Each non-DISTINCT sum in `e` whose child `input` resolves to an
    * eligible (x, cast) on the kernel.
    */
  private def rewrite(e: NamedExpression, buffer: Int,
      input: Expression => Option[(Expression, Cast)]): NamedExpression =
    e.transformUp {
      case ae @ AggregateExpression(s: Sum, _, false, _, _) =>
        input(s.child).map { case (x, c) =>
          ae.copy(aggregateFunction = DecimalSum(x, DecimalCast(c), buffer,
            s.evalContext.evalMode != EvalMode.ANSI, Option(s.getContextOrNull())))
        }.getOrElse(ae)
    }.asInstanceOf[NamedExpression]
}
