package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.PortableLog

/** Driver-build CANARY queries — five one-row diagnostics that isolate the
  * type/primitive behaviors the driver's oracle build has diverged on (or
  * could): DECIMAL(18,6) rendering, DECIMAL(38,0)/HUGEINT rendering, the
  * hex-literal→BIGINT cast idiom, the PortableLog basic-op series, and the
  * round(double, 4) HALF_UP tie class.
  *
  * Purpose (VERDICT r9 ask #2): rounds 8 and 9 each burned their headline on
  * a divergence between the builder's local DuckDB and the driver's build —
  * and localizing it cost a full round each time because no query isolated a
  * single primitive. Each canary here computes ONE primitive on a constant,
  * so a future CORRECTNESS red bisects itself: whichever canary is red names
  * the diverging primitive, and every canary-green round certifies the
  * corresponding idiom for the whole corpus. They cost microseconds and ride
  * the normal oracle gate.
  *
  * Values are constants (no table read): `spark.range(1)` on the engine
  * side, a literal SELECT on the oracle side.
  */
object CanaryQueries {

  /** floor(x · 10⁶) as BIGINT micro-units. */
  private def e6(x: Column): Column = floor(x * 1000000.0).cast("bigint")

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DECIMAL(18,6) on the comparison surface — the r9 red class. Two
    // values: one with a non-trivial 6dp tail, one ending in zeros (the
    // rendering variants: "0.100000" vs "0.1").
    "q_canary_decimal18" -> ((s, _) =>
      s.range(1).select(
        lit(new java.math.BigDecimal("1.234500")).cast(DecimalType(18, 6))
          .as("d_tail"),
        lit(new java.math.BigDecimal("0.100000")).cast(DecimalType(18, 6))
          .as("d_zeros"),
        lit(new java.math.BigDecimal("-7.000001")).cast(DecimalType(18, 6))
          .as("d_neg"))),

    // DECIMAL(38,0) / HUGEINT — the q_clf_auc u2 class: a literal wider
    // than 64 bits plus a HUGEINT-range product computed from BIGINTs.
    "q_canary_decimal38" -> ((s, _) =>
      s.range(1).select(
        lit(new java.math.BigDecimal("123456789012345678901234567890"))
          .cast(DecimalType(38, 0)).as("d38"),
        (lit(new java.math.BigDecimal("3037000499")).cast(DecimalType(38, 0)) *
          lit(new java.math.BigDecimal("3037000499")).cast(DecimalType(38, 0)))
          .cast(DecimalType(38, 0)).as("d38_prod"))),

    // the hex→BIGINT cast idiom every md5-keyed sampler here relies on:
    // Spark conv(hex, 16, 10) must equal DuckDB ('0x' || hex)::BIGINT
    "q_canary_hexcast" -> ((s, _) =>
      s.range(1).select(
        expr("cast(conv(substring(md5('graft-canary'), 1, 8), 16, 10) as bigint)")
          .as("h32"),
        expr("cast(conv(substring(md5('graft-canary'), 1, 15), 16, 10) as bigint)")
          .as("h60"))),

    // PortableLog's basic-op series on fixed integers (a prime near 1e6 and
    // a power-of-two boundary neighbor), floor-quantized to e6: the compiled
    // kernel here, its SQL text on the oracle side — any libm or
    // fp-evaluation divergence in the driver's build lands exactly here
    "q_canary_portable_log" -> ((s, _) =>
      s.range(1).select(
        e6(PortableLog.ln(lit(1000003))).as("ln_prime_e6"),
        e6(PortableLog.ln(lit(1048575))).as("ln_pow2m1_e6"),
        e6(PortableLog.log10Ratio(lit(999999937), lit(7))).as("log10_ratio_e6"))),

    // the HALF_UP tie class this repo swept OFF its hash surfaces (r10):
    // round(double, 4) on .xxxx5 ties — if the driver's build rounds these
    // differently, THIS canary goes red, not a headline operator
    "q_canary_round_tie" -> ((s, _) =>
      s.range(1).select(
        round(lit(1.00005), 4).as("tie_up"),
        round(lit(2.00015), 4).as("tie_odd"),
        round(lit(-1.00005), 4).as("tie_neg"),
        (floor(lit(1.00005) * 10000).cast("double") / 10000.0).as("tie_floor"))))

  def oracles: Map[String, String] = Map(
    "q_canary_decimal18" ->
      """SELECT 1.234500::DECIMAL(18,6) AS d_tail,
        |  0.100000::DECIMAL(18,6) AS d_zeros,
        |  (-7.000001)::DECIMAL(18,6) AS d_neg""".stripMargin,

    "q_canary_decimal38" ->
      """SELECT '123456789012345678901234567890'::DECIMAL(38,0) AS d38,
        |  (3037000499::DECIMAL(38,0) * 3037000499::DECIMAL(38,0))::DECIMAL(38,0)
        |    AS d38_prod""".stripMargin,

    "q_canary_hexcast" ->
      """SELECT ('0x' || substr(md5('graft-canary'), 1, 8))::BIGINT AS h32,
        |  ('0x' || substr(md5('graft-canary'), 1, 15))::BIGINT AS h60""".stripMargin,

    "q_canary_portable_log" ->
      (s"SELECT CAST(floor(${PortableLog.lnSql("1000003")} " +
        "* 1000000.0::DOUBLE) AS BIGINT) AS ln_prime_e6,\n" +
        s"  CAST(floor(${PortableLog.lnSql("1048575")} " +
        "* 1000000.0::DOUBLE) AS BIGINT) AS ln_pow2m1_e6,\n" +
        s"  CAST(floor(${PortableLog.log10RatioSql("999999937", "7")} " +
        "* 1000000.0::DOUBLE) AS BIGINT) AS log10_ratio_e6"),

    "q_canary_round_tie" ->
      """SELECT round(1.00005::DOUBLE, 4) AS tie_up,
        |  round(2.00015::DOUBLE, 4) AS tie_odd,
        |  round(-1.00005::DOUBLE, 4) AS tie_neg,
        |  floor(1.00005::DOUBLE * 10000) / 10000 AS tie_floor""".stripMargin)
}
