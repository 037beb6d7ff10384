package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GraftFunctions, Seeds}

/** The compiled vector kernels against the SQL forms they replaced — the
  * higher-order lambdas and the (vector × seed) cross-join + groupBy argmin —
  * on edge inputs: null arrays and elements, unequal and empty lengths,
  * null and short codes, argmin ties, one-row seed sets, and the ANSI
  * overflow and index errors. Every comparison runs with generated code
  * only and again with interpreted evaluation only, under ANSI on and off.
  */
class KernelsSpec extends SparkSpec {

  private def modes(f: => Unit): Unit =
    for ((factory, compiled) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false");
         ansi <- Seq("true", "false")) {
      val confs = Seq("spark.sql.codegen.factoryMode" -> factory,
        "spark.sql.codegen.wholeStage" -> compiled,
        // a generated-code compile failure must fail, not fall back quietly
        "spark.sql.codegen.fallback" -> (if (compiled == "true") "false" else "true"),
        "spark.sql.ansi.enabled" -> ansi)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try withClue(s"[$factory, ansi=$ansi] ")(f)
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }

  /** Rows from an RDD, so no optimizer rule folds the projection away. */
  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** The rows, or the error condition the query raised. */
  private def outcome(df: => DataFrame, order: String): Either[String, Seq[Row]] =
    try Right(df.orderBy(order).collect().toSeq)
    catch {
      case e: Throwable =>
        Left(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
          .getOrElse(e.toString))
    }

  private def same(kernel: => DataFrame, reference: => DataFrame, order: String): Unit = {
    val (k, r) = (outcome(kernel, order), outcome(reference, order))
    assert(k == r, s"kernel $k != reference $r")
  }

  private val longs = ArrayType(LongType)
  private def seq(xs: java.lang.Long*): Seq[java.lang.Long] = xs

  private val lambdaL2 =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0.0d, (acc, d) -> acc + d)"

  test("l2sq: nulls, unequal and empty lengths, overflow") {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", longs), StructField("b", longs)))
    val values = frame(schema,
      Row(1, seq(1L, 2L, 3L), seq(4L, -5L, 6L)),
      Row(2, null, seq(1L)),
      Row(3, seq(1L, null, 3L), seq(1L, 2L, 3L)),
      Row(4, seq(1L, 2L), seq(1L, 2L, 3L)),
      Row(5, seq(), seq()),
      Row(6, seq(), seq(1L)),
      Row(7, seq(3000000000L, -7L), seq(-3000000000L, 7L)))
    val overflow = frame(schema, Row(1, seq(Long.MaxValue), seq(-1L)))
    val square = frame(schema, Row(1, seq(null, 4000000000L), seq(1L, -4000000000L)))
    modes {
      for (df <- Seq(values, overflow, square))
        same(df.select(col("id"), GraftFunctions.l2sq(col("a"), col("b"))),
          df.select(col("id"), expr(lambdaL2)), "id")
    }
  }

  test("quantize6: null array and element, empty array, non-finite floats") {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", ArrayType(FloatType))))
    def fs(xs: java.lang.Float*): Seq[java.lang.Float] = xs
    val df = frame(schema,
      Row(1, fs(0.1f, -0.25f, 1e-7f, -0.4999999f, 3.3e3f)),
      Row(2, null),
      Row(3, fs(null, 0.5f)),
      Row(4, fs()),
      Row(5, fs(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)))
    modes {
      same(df.select(col("id"), GraftFunctions.quantize6(col("v"))),
        df.select(col("id"),
          expr("transform(v, x -> floor(cast(x as double) * 1000000.0d + 0.5d))")), "id")
    }
  }

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("qv", longs)))
  private def vecs = frame(vecSchema,
    Row(1L, seq(1L, 1L)), Row(2L, seq(0L, 0L)), Row(3L, null),
    Row(4L, seq(1L, null)), Row(5L, seq(1L, 1L, 1L)), Row(6L, seq()),
    Row(7L, seq(9L, 12L)))
  private val seedSchema = StructType(Seq(StructField("seed_id", LongType),
    StructField("sv", longs)))

  test("nearest: min(struct(d2, seed_id)) order — ties, null d2 first, one-row seed set") {
    val base = Seq(Row(5L, seq(0L, 0L)), Row(3L, seq(2L, 2L)), Row(9L, seq(10L, 10L)))
    val seedSets = Seq(
      "ties" -> base, // (1, 1) is equidistant from seeds 5 and 3
      "null element" -> (base :+ Row(7L, seq(1L, null))),
      "one row" -> Seq(Row(4L, seq(1L, 1L))))
    for ((label, rows) <- seedSets) withClue(s"$label: ") {
      val seeds = frame(seedSchema, rows: _*)
      modes {
        val frozen = Seeds.collect(seeds, "seed_id", "sv")
        same(vecs.select(col("vec_id"), GraftFunctions.nearest(col("qv"), frozen).as("m"))
            .select(col("vec_id"), col("m.d2"), col("m.seed_id")),
          vecs.crossJoin(seeds)
            .select(col("vec_id"), col("seed_id"),
              expr(lambdaL2.replace("(a, b", "(qv, sv")).as("d2"))
            .groupBy("vec_id").agg(min(struct(col("d2"), col("seed_id"))).as("m"))
            .select(col("vec_id"), col("m.d2"), col("m.seed_id")),
          "vec_id")
      }
    }
  }

  /** Codebook (r, sv) of three 4-dim entries: m = 2 subspaces of 2. */
  private val codebookSchema = StructType(Seq(StructField("r", IntegerType),
    StructField("sv", longs)))
  private def codebook = frame(codebookSchema,
    Row(1, seq(1L, 1L, 5L, 5L)), Row(0, seq(1L, 1L, 0L, 0L)),
    Row(2, seq(3L, 3L, null, 0L)))
  private def pqVecs = frame(vecSchema,
    Row(1L, seq(1L, 1L, 2L, 2L)), // subspace 0 ties r = 0 and r = 1
    Row(2L, seq(3L, 3L, 9L, 9L)), Row(3L, null),
    Row(4L, seq(1L, null, 0L, 0L)), Row(5L, seq(1L, 1L, 0L)), // short
    Row(6L, seq()), Row(7L, seq(0L, 0L, 0L, 0L, 7L))) // long

  /** The per-subspace distance columns the encode and LUT paths computed. */
  private def subspaceDists(m: Int, dsub: Int): Seq[Column] = (0 until m).map { j =>
    val lo = j * dsub + 1
    expr(s"aggregate(zip_with(slice(qv, $lo, $dsub), slice(sv, $lo, $dsub), " +
      "(x, y) -> (x - y) * (x - y)), 0.0d, (acc, d) -> acc + d)").as(s"d$j")
  }

  test("pqEncode: per-subspace packed-key argmin — ties on rank, null and short vectors") {
    val (m, dsub) = (2, 2)
    modes {
      val frozen = Seeds.collect(codebook, "r", "sv")
      val keys = (0 until m).map(j => min(col(s"d$j") * 64 + col("r")).as(s"k$j"))
      same(pqVecs.select(col("vec_id"), GraftFunctions.pqEncode(col("qv"), frozen, m, dsub)),
        pqVecs.crossJoin(codebook)
          .select(col("vec_id") +: col("r") +: subspaceDists(m, dsub): _*)
          .groupBy("vec_id").agg(keys.head, keys.tail: _*)
          .select(col("vec_id"), array((0 until m).map(j =>
            (col(s"k$j").cast("long") % 64).cast("tinyint")): _*)),
        "vec_id")
    }
  }

  test("pqLut: flattened j-major table in rank order, null and short queries") {
    val (m, dsub) = (2, 2)
    modes {
      val frozen = Seeds.collect(codebook, "r", "sv")
      val fields = col("r") +: (0 until m).map(j => col(s"d$j"))
      same(pqVecs.select(col("vec_id"), lit(frozen.size),
          GraftFunctions.pqLut(col("qv"), frozen, m, dsub)),
        pqVecs.crossJoin(codebook)
          .select(col("vec_id") +: col("r") +: subspaceDists(m, dsub): _*)
          .groupBy("vec_id")
          .agg(array_sort(collect_list(struct(fields: _*))).as("ls"))
          .select(col("vec_id"), size(col("ls")),
            flatten(array((0 until m).map(j => expr(s"transform(ls, s -> s.d$j)")): _*))),
        "vec_id")
    }
  }

  test("adcDist: null and short codes, null LUT entries, out-of-range codes") {
    val m = 2
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("codes", ArrayType(ByteType)), StructField("lut", ArrayType(DoubleType)),
      StructField("ks", IntegerType)))
    def bs(xs: java.lang.Byte*): Seq[java.lang.Byte] = xs
    def ds(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    val lut = ds(1.0, 2.0, 4.0, 8.0, 16.0, 32.0)
    val values = frame(schema,
      Row(1, bs(2.toByte, 0.toByte), lut, 3),
      Row(2, null, lut, 3),
      Row(3, bs(null, 1.toByte), lut, 3),
      Row(4, bs(1.toByte, 2.toByte), ds(1.0, null, 4.0, 8.0, 16.0, 32.0), 3),
      Row(5, bs(0.toByte, 1.toByte, 2.toByte), lut, 3), // longer than m
      Row(6, bs(0.toByte, 0.toByte), null, 3),
      Row(7, bs(0.toByte, 0.toByte), lut, null))
    val short = frame(schema, Row(1, bs(1.toByte), lut, 3))
    val outOfLut = frame(schema, Row(1, bs(0.toByte, 9.toByte), lut, 3))
    val nullBeforeShort = frame(schema, Row(1, bs(null.asInstanceOf[java.lang.Byte]), lut, 3))
    modes {
      for (df <- Seq(values, short, outOfLut, nullBeforeShort))
        same(df.select(col("id"),
            GraftFunctions.adcDist(col("codes"), col("lut"), col("ks"), m).cast("long")),
          df.select(col("id"), expr(s"cast(aggregate(sequence(0, ${m - 1}), 0.0d, " +
            "(acc, j) -> acc + element_at(lut, j * ks + cast(element_at(codes, j + 1) " +
            "as int) + 1)) as long)")),
          "id")
    }
  }
}
