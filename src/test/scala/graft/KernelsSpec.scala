package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ExactDecimalSums, GraftFunctions, Seeds}

/** The compiled vector kernels against the SQL forms they replaced — the
  * higher-order lambdas and the (vector × seed) cross-join + groupBy argmin —
  * on edge inputs: null arrays and elements, unequal and empty lengths,
  * null and short codes, argmin ties, one-row seed sets, and the ANSI
  * overflow and index errors. Every comparison runs with generated code
  * only and again with interpreted evaluation only, under ANSI on and off.
  * The decimal-sum kernel is compared with Spark's own `Sum` by running the
  * same query with its rule excluded.
  */
class KernelsSpec extends SparkSpec {

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
    evalModes {
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
    evalModes {
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
      evalModes {
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
    evalModes {
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
    evalModes {
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
    evalModes {
      for (df <- Seq(values, short, outOfLut, nullBeforeShort))
        same(df.select(col("id"),
            GraftFunctions.adcDist(col("codes"), col("lut"), col("ks"), m).cast("long")),
          df.select(col("id"), expr(s"cast(aggregate(sequence(0, ${m - 1}), 0.0d, " +
            "(acc, j) -> acc + element_at(lut, j * ks + cast(element_at(codes, j + 1) " +
            "as int) + 1)) as long)")),
          "id")
    }
  }

  private def dsum(c: String, t: String): Column = sum(col(c).cast(t))

  private val sumSchema = StructType(Seq(StructField("k", IntegerType),
    StructField("o", IntegerType), StructField("d", DoubleType), StructField("f", FloatType),
    StructField("i", IntegerType), StructField("l", LongType)))

  /** `d`, `f`, `i`, `l` per row, keyed 0-4 in turn; group 9 is all nulls. */
  private def sumRows(ds: Seq[java.lang.Double], fs: Seq[java.lang.Float] = Nil,
      is: Seq[Integer] = Nil, ls: Seq[java.lang.Long] = Nil): Seq[Row] = {
    val n = Seq(ds.size, fs.size, is.size, ls.size).max
    def at[T](xs: Seq[T], j: Int): Any = if (j < xs.size) xs(j) else null
    (0 until n).map(j => Row(j % 5, j, at(ds, j), at(fs, j), at(is, j), at(ls, j))) ++
      (0 until 3).map(j => Row(9, n + j, null, null, null, null))
  }

  /** Seeded money amounts and `price * (1 - discount)` products, raw doubles
    * of every magnitude up to 1e21 (the fallback range from 1e15), ±0.0,
    * subnormals, half-way values, the fast path's |x| bound at scale 8, and
    * ints, floats and longs to 2^63 (past 62 bits at scale 16).
    */
  private val finiteRows = {
    val r = new scala.util.Random(20261020L)
    def money = Math.round(r.nextDouble() * 2e7 - 1e7) / 100.0
    val drawn = (0 until 400).map { j =>
      val v: java.lang.Double = j % 6 match {
        case 0 => money
        case 1 => money * (1 - r.nextInt(11) / 100.0)
        case 2 => r.nextGaussian() * math.pow(10, r.nextInt(26) - 6)
        case 3 => (r.nextInt(2000001) - 1000000).toDouble
        case 4 => r.nextDouble() * math.pow(10, 15 + r.nextInt(7))
        case _ => if (r.nextInt(4) == 0) null else money / 7
      }
      v
    }
    val edges: Seq[java.lang.Double] = Seq(0.0, -0.0, 0.123456785, -0.123456785, 1.000000005,
      2.5e-9, 1.5e-8, -1.5e-8, 0.000000015, 1234.567890125, 4.9e-324, -4.9e-324,
      2.2250738585072014e-308, 1e-300, 0.1, 0.7, 1e7, 123456789.12345678,
      11258999.06842624, 11258999.068426242, -11258999.06842624, 1.5e15, -3.3e16,
      1.2345678901234567e20, 9.99e20, 9.999999999999998e21, -9.999999999999998e21)
    val ds = edges ++ drawn
    sumRows(ds, ds.map(v => if (v == null) null else java.lang.Float.valueOf(v.floatValue)),
      ds.indices.map(j => if (j % 7 == 3) null else Integer.valueOf(r.nextInt())),
      ds.indices.map(j => java.lang.Long.valueOf(j % 4 match {
        case 0 => r.nextLong()
        case 1 => r.nextInt(19) - 9L
        case 2 => Long.MaxValue - r.nextInt(5)
        case _ => Long.MinValue + r.nextInt(5)
      })))
  }

  /** One sum per query where ANSI mode raises: NaN, ±Inf and 1e22 under
    * DECIMAL(30,8) (the cast overflows), 1e7 under DECIMAL(9,2) and the
    * drawn ints under DECIMAL(9,0).
    */
  private val raising = Seq(
    "nan" -> (sumRows(Seq(1.5, Double.NaN, 2.25)), dsum("d", "decimal(30,8)")),
    "inf" -> (sumRows(Seq(1.5, Double.PositiveInfinity, Double.NegativeInfinity)),
      dsum("d", "decimal(30,8)")),
    "cast overflow" -> (sumRows(Seq(1.5, 1e22, -1.0000000000000001e22, 9.999999999999998e21)),
      dsum("d", "decimal(30,8)")),
    "decimal(9,2)" -> (sumRows(Seq(9999999.99, 1e7)), dsum("d", "decimal(9,2)")),
    "decimal(9,0)" -> (finiteRows, dsum("i", "decimal(9,0)")))

  /** Partial sums past 10^38 at DECIMAL(38,0) and (for longs) DECIMAL(38,20):
    * group 0 passes it and comes back, group 1 ends past it, group 2 stays
    * under, group 3 passes 2^127 and comes back.
    */
  private val overflowRows = Seq(0 -> 6e37, 0 -> 6e37, 0 -> -6e37, 1 -> 6e37, 1 -> 6e37,
    2 -> 5e37, 2 -> -5e37, 2 -> 5e37, 3 -> 9e37, 3 -> 9e37, 3 -> 9e37, 3 -> -9e37, 3 -> -9e37)
    .zipWithIndex.map { case ((k, d), o) =>
      Row(k, o, d, null, null, (d / 1e20).toLong) }

  /** `rows` over `parts` input partitions: in slices, or each key's rows
    * together and in order (where an overflow depends on the order).
    */
  private def sumFrame(rows: Seq[Row], parts: Int, byKey: Boolean): DataFrame =
    if (!byKey) spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), sumSchema)
    else spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sumSchema)
      .repartition(parts, col("k"))

  /** The query with the kernel, and again with the kernel's rule excluded;
    * the first must hold `decimal_sum` where the second holds Spark's sum.
    */
  private def sameSums(query: => DataFrame, order: String): Unit = {
    def run(kernel: Boolean): Either[String, Seq[Row]] = {
      val plan = query.queryExecution.optimizedPlan.toString
      assert(plan.contains("decimal_sum(") == kernel, plan)
      outcome(query, order)
    }
    val kernel = run(kernel = true)
    spark.conf.set("spark.sql.optimizer.excludedRules", ExactDecimalSums.ruleName)
    val reference = try run(kernel = false)
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(kernel == reference, s"kernel $kernel != Spark $reference")
  }

  /** Every shape the kernel can run in: grouped hash aggregation, without
    * keys, object-hash aggregation (beside collect_set), grouped beside a
    * DISTINCT count, a running and a whole-partition window.
    */
  private def sumShapes(df: DataFrame, sums: Seq[Column], windows: Boolean): Unit = {
    def named(f: Column => Column) = sums.zipWithIndex.map { case (c, j) => f(c).as(s"s$j") }
    val aggs = named(identity)
    sameSums(df.groupBy("k").agg(aggs.head, aggs.tail: _*), "k")
    sameSums(df.agg(aggs.head, aggs.tail: _*), "s0")
    sameSums(df.groupBy("k").agg(size(collect_set("o")).as("n"), aggs: _*), "k")
    sameSums(df.groupBy("k").agg(count_distinct(col("o")).as("n"), aggs: _*), "k")
    if (windows) {
      val running = Window.partitionBy("k").orderBy("o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sameSums(df.select(col("o") +: named(_.over(running)): _*), "o")
      sameSums(df.select(col("o") +: named(_.over(Window.partitionBy("k"))): _*), "o")
    }
  }

  test("decimal sum kernel: Spark's sum, nulls, errors and overflow over 1, 4 and 8 partitions") {
    val finiteSums = Seq(dsum("d", "decimal(30,8)"), dsum("d", "decimal(38,0)"),
      dsum("d", "decimal(20,12)"), dsum("f", "decimal(30,8)"), dsum("i", "decimal(30,8)"),
      dsum("l", "decimal(38,16)"), dsum("l", "decimal(28,0)"))
    val overflowSums = Seq(dsum("d", "decimal(38,0)"), dsum("l", "decimal(38,20)"))
    for (parts <- Seq(1, 4, 8)) withClue(s"[$parts partitions] ") {
      evalModes {
        val windows = parts == 4
        sumShapes(sumFrame(finiteRows, parts, byKey = false), finiteSums, windows)
        sumShapes(sumFrame(Nil, parts, byKey = false), finiteSums, windows)
        for ((label, (rows, sum)) <- raising) withClue(s"$label: ") {
          sumShapes(sumFrame(rows, parts, byKey = false), Seq(sum), windows)
        }
        for (rows <- Seq(overflowRows, overflowRows.filter(_.getInt(0) == 0)))
          sumShapes(sumFrame(rows, parts, byKey = true), overflowSums, windows)
        // the first input partition's partial passes 10^38, the total
        // comes back under it
        sumShapes(sumFrame(Seq(6e37, 6e37, -5e37, -5e37, 0.0, 0.0, 0.0, 0.0).zipWithIndex
          .map { case (d, o) => Row(0, o, d, null, null, (d / 1e20).toLong) }, parts,
          byKey = false), overflowSums, windows)
      }
    }
  }
}
