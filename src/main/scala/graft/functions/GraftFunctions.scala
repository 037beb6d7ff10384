package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Registration + Column-level API for graft's custom functions.
  * `register` installs them into the session FunctionRegistry for `spark.sql`
  * text and `call_function`; the cosine and vector-kernel Columns below are
  * built straight from their expressions and need no registration.
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // "source" must be one of Spark 4's fixed FunctionRegistry source tags;
    // custom Catalyst expressions register as "scala_udf".
    reg.createOrReplaceTempFunction(
      "cosine_sim", (e: Seq[Expression]) => CosineSimilarity(e(0), e(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "dot_product", (e: Seq[Expression]) => DotProduct(e(0), e(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "word_ngrams", (e: Seq[Expression]) => WordNGrams(e(0), e(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "current_engine", (_: Seq[Expression]) => CurrentEngine(), "scala_udf")
    spark.udf.register("geomean", udaf(GeoMean))
  }

  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def wordNGrams(text: Column, n: Int): Column = call_function("word_ngrams", text, lit(n))
  def currentEngine(): Column = call_function("current_engine")
  def geoMean(c: Column): Column = call_function("geomean", c)

  // Native expressions built straight into a Column — no registry lookup,
  // so operators need no `register` call to reach them.
  private def native(e: Expression): Column = GraftSqlShims.columnOf(e)
  private def ex(c: Column): Expression = GraftSqlShims.expressionOf(c)

  def cosineSim(a: Column, b: Column): Column = native(CosineSimilarity(ex(a), ex(b)))

  /** Squared L2 distance of two BIGINT arrays, Σ (a_i − b_i)² summed left
    * to right into a double (exact while the terms are integers whose sum
    * stays below 2^53 — the quantized-vector contract). Null for a null or
    * unequal-length pair or a null element. See [[VectorKernels]].
    */
  def l2sq(a: Column, b: Column): Column = native(L2Sq(ex(a), ex(b)))

  /** Cosine similarity floor-quantized to 4dp integer units (a BIGINT in
    * [-10000, 10000]) — the hash-portable similarity surface every ranking
    * on cosine uses.
    */
  def cos4(a: Column, b: Column): Column = floor(cosineSim(a, b) * 10000)

  /** The quantized grid: floor(x · 1e6 + 0.5) per float component. */
  def quantize6(v: Column): Column = native(Quantize6(ex(v)))

  /** struct(d2, seed_id): the nearest of the frozen `seeds` to the BIGINT
    * vector `qv`, ties to the smaller seed id (`min(struct(d2, seed_id))`).
    */
  def nearest(qv: Column, seeds: Seeds): Column = native(NearestSeed(ex(qv), seeds))

  /** The m PQ codes (array<tinyint>) of `qv` against a rank-keyed codebook
    * of dsub-wide subspaces: per subspace the minimum packed key d·64 + r.
    */
  def pqEncode(qv: Column, codebook: Seeds, m: Int, dsub: Int): Column =
    native(PqEncode(ex(qv), codebook, m, dsub))

  /** The query's flattened ADC table: lut[j·ks + r] = subspace-j distance
    * from `qv` to codebook entry r (ks = codebook size).
    */
  def pqLut(qv: Column, codebook: Seeds, m: Int, dsub: Int): Column =
    native(PqLut(ex(qv), codebook, m, dsub))

  /** ADC distance Σ_{j<m} lut[j·ks + codes[j]] as a double. */
  def adcDist(codes: Column, lut: Column, ks: Column, m: Int): Column =
    native(AdcDist(ex(codes), ex(lut), ex(ks), m))

  /** 64-bit sign-random-projection signature (see RandomHyperplaneBits). */
  def rhBits(v: Column, numBits: Int, seed: Long): Column =
    call_function("rh_bits_" + numBits + "_" + seed, v)

  /** rh_bits needs per-(numBits, seed) registration since those are constructor
    * params, not child expressions. Idempotent.
    */
  def registerRhBits(spark: SparkSession, numBits: Int, seed: Long): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rh_bits_" + numBits + "_" + seed,
      (e: Seq[Expression]) => RandomHyperplaneBits(e.head, numBits, seed), "scala_udf")
}
