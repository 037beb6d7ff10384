package graft.functions

import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Compiled vector kernels over the quantized exact-integer grid — the
  * distance, argmin, PQ-encode, LUT and ADC math the vector operators
  * ([[graft.operators.Semantic]], [[graft.operators.Similarity]]) run per
  * row. Each is a Catalyst expression whose generated code calls the same
  * loop its interpreted `eval` runs, so whole-stage codegen never falls
  * back to an interpreted higher-order lambda.
  *
  * Bit-identity contract with the SQL forms they replace:
  *  - squared distances are Σ (a_i − b_i)² in BIGINT, each term widened to
  *    double and summed left to right (the `aggregate(zip_with…)` order);
  *  - null for a null or unequal-length pair and for any null element;
  *  - under ANSI mode the same overflow and array-index errors Spark's own
  *    `-`, `*`, `element_at` and casts raise (the mode is fixed when the
  *    expression is built, as Spark's arithmetic fixes its eval mode).
  */
private[graft] object VectorKernels {

  /** The squared distance of the two windows a[from, from+w) and
    * b[from, from+w), each clipped to its array (the `slice` rule).
    * NaN stands for SQL null: a sum of squared longs is never NaN. Every
    * non-null pair is computed even once the result is null, so overflow
    * errors surface exactly where the lambda form raised them.
    */
  def l2(a: ArrayData, b: ArrayData, from: Int, w: Int, ansi: Boolean): Double = {
    val la = math.max(0, math.min(w, a.numElements() - from))
    val lb = math.max(0, math.min(w, b.numElements() - from))
    var isNull = la != lb
    var acc = 0.0
    var i = from
    val end = from + math.min(la, lb)
    try {
      while (i < end) {
        if (a.isNullAt(i) || b.isNullAt(i)) isNull = true
        else {
          val x = a.getLong(i); val y = b.getLong(i)
          val d = if (ansi) Math.subtractExact(x, y) else x - y
          acc += (if (ansi) Math.multiplyExact(d, d) else d * d).toDouble
        }
        i += 1
      }
    } catch { case e: ArithmeticException => throw GraftSqlShims.arithmeticOverflow(e) }
    if (isNull) Double.NaN else acc
  }

  def l2sq(a: ArrayData, b: ArrayData, ansi: Boolean): Double =
    l2(a, b, 0, Int.MaxValue, ansi)

  /** floor(x · 1e6 + 0.5) per component, as Spark's `floor` of a double. */
  def quantize6(v: ArrayData, fromDouble: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (fromDouble) v.getDouble(i) else v.getFloat(i).toDouble
        out(i) = math.floor(x * 1000000.0 + 0.5).toLong
      }
      i += 1
    }
    withNulls(UnsafeArrayData.fromPrimitiveArray(out), v)
  }

  private def withNulls(out: UnsafeArrayData, like: ArrayData): UnsafeArrayData = {
    var i = 0
    while (i < like.numElements()) { if (like.isNullAt(i)) out.setNullAt(i); i += 1 }
    out
  }

  /** (d2, key) of the nearest seed — `min(struct(d2, key))` over the
    * (vector × seed) pairs: smallest d2 with null first, then the smallest
    * key (seeds are held in that key order, so the first winner stands). A
    * null vector is at null distance from every seed. Null when there are
    * no seeds, where the cross-join emitted no row.
    */
  def nearest(qv: ArrayData, seeds: Seeds, ansi: Boolean): InternalRow = {
    var best = -1
    var bestD = 0.0
    var s = 0
    while (s < seeds.size) {
      val d = if (qv == null) Double.NaN else l2(qv, seeds.vecs(s), 0, Int.MaxValue, ansi)
      if (best < 0 || (!bestD.isNaN && (d.isNaN || d < bestD))) { best = s; bestD = d }
      s += 1
    }
    if (best < 0) null
    else new GenericInternalRow(Array[Any](if (bestD.isNaN) null else bestD, seeds.keys(best)))
  }

  /** PQ codes: per subspace j, `min(d_j · 64 + r)` over the codebook,
    * then `(key as bigint) % 64` as a tinyint — null where every d_j is
    * null (min ignores nulls).
    */
  def pqEncode(qv: ArrayData, cb: Seeds, m: Int, dsub: Int, ansi: Boolean): ArrayData = {
    val out = new Array[Byte](m)
    val nulls = new Array[Boolean](m)
    var j = 0
    while (j < m) {
      var best = Double.NaN
      var s = 0
      while (s < cb.size) {
        val d = if (qv == null) Double.NaN else l2(qv, cb.vecs(s), j * dsub, dsub, ansi)
        if (!d.isNaN) {
          val key = d * 64.0 + cb.rank(s).toDouble
          if (best.isNaN || key < best) best = key
        }
        s += 1
      }
      if (best.isNaN) nulls(j) = true
      else out(j) = (toLong(best, ansi) % 64).toByte
      j += 1
    }
    val arr = UnsafeArrayData.fromPrimitiveArray(out)
    var k = 0
    while (k < m) { if (nulls(k)) arr.setNullAt(k); k += 1 }
    arr
  }

  /** The query's flattened ADC table: lut[j·ks + s] = d_j to the s-th
    * codebook entry in rank order (ks = codebook size), null where d_j is.
    */
  def pqLut(qv: ArrayData, cb: Seeds, m: Int, dsub: Int, ansi: Boolean): ArrayData = {
    val ks = cb.size
    val out = new Array[Double](m * ks)
    var j = 0
    while (j < m) {
      var s = 0
      while (s < ks) {
        out(j * ks + s) =
          if (qv == null) Double.NaN else l2(qv, cb.vecs(s), j * dsub, dsub, ansi)
        s += 1
      }
      j += 1
    }
    val arr = UnsafeArrayData.fromPrimitiveArray(out)
    var i = 0
    while (i < out.length) { if (out(i).isNaN) arr.setNullAt(i); i += 1 }
    arr
  }

  /** Spark's double → bigint cast: saturating, or CAST_OVERFLOW under ANSI. */
  private def toLong(x: Double, ansi: Boolean): Long =
    if (ansi && !(math.floor(x) <= Long.MaxValue && math.ceil(x) >= Long.MinValue))
      throw GraftSqlShims.castOverflow(x, DoubleType, LongType)
    else x.toLong

  /** `element_at` position check: the 0-based slot of 1-based `index`
    * (negative counts from the end), -1 where the non-ANSI form is null.
    */
  def slot(index: Int, n: Int, ansi: Boolean): Int =
    if (n < math.abs(index)) {
      if (ansi) throw GraftSqlShims.elementAtIndexError(index, n) else -1
    } else if (index == 0) throw GraftSqlShims.indexOfZeroError()
    else if (index > 0) index - 1
    else n + index

  /** Spark's int `*` and `+`: wrapping, or ARITHMETIC_OVERFLOW under ANSI. */
  def mulInt(a: Int, b: Int, ansi: Boolean): Int =
    try if (ansi) Math.multiplyExact(a, b) else a * b
    catch { case e: ArithmeticException => throw GraftSqlShims.arithmeticOverflow(e) }

  /** The 1-based LUT index `jk + code + 1`, evaluated left to right. */
  def lutIndex(jk: Int, code: Int, ansi: Boolean): Int =
    try if (ansi) Math.addExact(Math.addExact(jk, code), 1) else jk + code + 1
    catch { case e: ArithmeticException => throw GraftSqlShims.arithmeticOverflow(e) }
}

/** A frozen seed set: k (key, quantized vector) rows collected once per
  * operator call — bounded plan-time metadata, like the IVF sidecars.
  * Rows are held in ascending key order, nulls first: the order
  * `min(struct(d2, key))` breaks distance ties in, and codebook rank order.
  */
final class Seeds private (val keys: Array[Any], val keyType: DataType,
    val vecs: Array[ArrayData]) extends Serializable {
  def size: Int = keys.length
  def rank(s: Int): Int = keys(s).asInstanceOf[Int]
  override def toString: String = s"Seeds(${keys.length} × ${keyType.simpleString})"
}

object Seeds {
  /** Collect `df`'s (keyCol, vecCol) rows — vecCol an array<bigint>. */
  def collect(df: DataFrame, keyCol: String, vecCol: String): Seeds = {
    val part = df.select(df.col(keyCol), df.col(vecCol).cast(ArrayType(LongType)))
    val schema = part.schema
    val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    val order = InterpretedOrdering.forSchema(Seq(schema.head.dataType))
    val rows = part.collect()
      .map(r => toUnsafe(toRow(r).asInstanceOf[InternalRow]).copy())
      .sortWith((a, b) => order.compare(a, b) < 0)
    new Seeds(rows.map(_.get(0, schema.head.dataType)), schema.head.dataType,
      rows.map(_.getArray(1)))
  }
}

private object KernelTypes {
  def arrayOf(t: DataType, elem: DataType*): Boolean = t match {
    case ArrayType(e, _) => elem.contains(e)
    case _ => false
  }

  def check(name: String, ok: Boolean, want: String, got: Seq[DataType]): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects $want, got (${got.map(_.simpleString).mkString(", ")})")

  val kernels = "graft.functions.VectorKernels"
}
import KernelTypes._

/** `l2sq(a, b)`: squared L2 distance of two BIGINT arrays as a double. */
case class L2Sq(left: Expression, right: Expression,
    ansi: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    check(prettyName, arrayOf(left.dataType, LongType) && arrayOf(right.dataType, LongType),
      "(array<bigint>, array<bigint>)", Seq(left.dataType, right.dataType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val d = VectorKernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ansi)
    if (d.isNaN) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = $kernels.l2sq($a, $b, $ansi);
         |${ev.isNull} = Double.isNaN(${ev.value});""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `quantize6(v)`: float (or double) array → bigint array, floor(x·1e6 + 0.5). */
case class Quantize6(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    check(prettyName, arrayOf(child.dataType, FloatType, DoubleType),
      "array<float> or array<double>", Seq(child.dataType))
  private def containsNull = child.dataType.asInstanceOf[ArrayType].containsNull
  private def fromDouble = child.dataType == ArrayType(DoubleType, containsNull)
  override def dataType: DataType = ArrayType(LongType, containsNull)
  override def prettyName: String = "quantize6"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.quantize6(v.asInstanceOf[ArrayData], fromDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"$kernels.quantize6($v, $fromDouble)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shared shape of the frozen-seed kernels: one bigint-array child that may
  * be null (a null vector is at null distance from every seed), the seed set
  * bound into generated code as a reference.
  */
abstract class SeedKernel extends UnaryExpression {
  def seeds: Seeds
  protected def call(v: String, seedsRef: String): String
  protected def run(qv: ArrayData): Any

  override def checkInputDataTypes(): TypeCheckResult =
    check(prettyName, arrayOf(child.dataType, LongType), "array<bigint>", Seq(child.dataType))

  override def eval(input: InternalRow): Any = run(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("seeds", seeds, classOf[Seeds].getName)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${call(s"(${c.isNull} ? null : ${c.value})", ref)};
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
}

/** `nearest(qv)`: struct(d2, seed_id) of the nearest seed. */
case class NearestSeed(child: Expression, seeds: Seeds,
    ansi: Boolean = SQLConf.get.ansiEnabled) extends SeedKernel {
  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType), StructField("seed_id", seeds.keyType)))
  override def nullable: Boolean = seeds.size == 0
  override def prettyName: String = "nearest"
  protected def run(qv: ArrayData): Any = VectorKernels.nearest(qv, seeds, ansi)
  protected def call(v: String, ref: String) = s"$kernels.nearest($v, $ref, $ansi)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pqEncode(qv)`: the m per-subspace codes against a rank-keyed codebook. */
case class PqEncode(child: Expression, seeds: Seeds, m: Int, dsub: Int,
    ansi: Boolean = SQLConf.get.ansiEnabled) extends SeedKernel {
  override def dataType: DataType = ArrayType(ByteType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_encode"
  protected def run(qv: ArrayData): Any = VectorKernels.pqEncode(qv, seeds, m, dsub, ansi)
  protected def call(v: String, ref: String) = s"$kernels.pqEncode($v, $ref, $m, $dsub, $ansi)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pqLut(qv)`: the query's flattened j-major ADC lookup table. */
case class PqLut(child: Expression, seeds: Seeds, m: Int, dsub: Int,
    ansi: Boolean = SQLConf.get.ansiEnabled) extends SeedKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_lut"
  protected def run(qv: ArrayData): Any = VectorKernels.pqLut(qv, seeds, m, dsub, ansi)
  protected def call(v: String, ref: String) = s"$kernels.pqLut($v, $ref, $m, $dsub, $ansi)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `adcDist(codes, lut, ks)`: Σ_{j<m} lut[j·ks + codes[j]] as a double —
  * `aggregate(sequence(0, m−1), 0.0d, (acc, j) -> acc + element_at(lut,
  * j·ks + cast(element_at(codes, j + 1) as int) + 1))`: the sum stops at the
  * first null term (later terms are never looked up, so raise nothing).
  */
case class AdcDist(codes: Expression, lut: Expression, ks: Expression, m: Int,
    ansi: Boolean = SQLConf.get.ansiEnabled) extends TernaryExpression {
  require(m >= 1, "adcDist needs m >= 1 subspaces")
  override def first: Expression = codes
  override def second: Expression = lut
  override def third: Expression = ks
  override def checkInputDataTypes(): TypeCheckResult =
    check(prettyName, arrayOf(codes.dataType, ByteType) && arrayOf(lut.dataType, DoubleType) &&
      ks.dataType == IntegerType, "(array<tinyint>, array<double>, int)",
      Seq(codes.dataType, lut.dataType, ks.dataType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_dist"

  override def nullSafeEval(c: Any, l: Any, k: Any): Any = {
    val cs = c.asInstanceOf[ArrayData]; val lt = l.asInstanceOf[ArrayData]
    val n = k.asInstanceOf[Int]
    var acc = 0.0
    var j = 0
    while (j < m) {
      val jk = VectorKernels.mulInt(j, n, ansi)
      val cj = VectorKernels.slot(j + 1, cs.numElements(), ansi)
      if (cj < 0 || cs.isNullAt(cj)) return null
      val idx = VectorKernels.lutIndex(jk, cs.getByte(cj).toInt, ansi)
      val p = VectorKernels.slot(idx, lt.numElements(), ansi)
      if (p < 0 || lt.isNullAt(p)) return null
      acc += lt.getDouble(p)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l, k) => {
      val j = ctx.freshName("j"); val jk = ctx.freshName("jk")
      val p = ctx.freshName("p"); val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  int $jk = $kernels.mulInt($j, $k, $ansi);
         |  int $p = $kernels.slot($j + 1, $c.numElements(), $ansi);
         |  if ($p < 0 || $c.isNullAt($p)) { ${ev.isNull} = true; break; }
         |  $p = $kernels.slot($kernels.lutIndex($jk, (int) $c.getByte($p), $ansi),
         |    $l.numElements(), $ansi);
         |  if ($p < 0 || $l.isNullAt($p)) { ${ev.isNull} = true; break; }
         |  $acc += $l.getDouble($p);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      c: Expression, l: Expression, k: Expression): Expression =
    copy(codes = c, lut = l, ks = k)
}
