package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Registration + Column-level API for graft's custom functions.
  * Functions are installed into the session FunctionRegistry so they work from both
  * the DataFrame API (via `call_function`) and `spark.sql` text.
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

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def wordNGrams(text: Column, n: Int): Column = call_function("word_ngrams", text, lit(n))
  def currentEngine(): Column = call_function("current_engine")
  def geoMean(c: Column): Column = call_function("geomean", c)

  /** Squared L2 distance of two numeric arrays, Σ (a_i − b_i)², summed
    * left to right into a double (exact while the terms are integers whose
    * sum stays below 2^53 — the quantized-vector contract). Arrays of
    * unequal length pad the shorter with nulls, so the result is null.
    */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d)

  /** Cosine similarity floor-quantized to 4dp integer units (a BIGINT in
    * [-10000, 10000]) — the hash-portable similarity surface every ranking
    * on cosine uses.
    */
  def cos4(a: Column, b: Column): Column = floor(cosineSim(a, b) * 10000)

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
