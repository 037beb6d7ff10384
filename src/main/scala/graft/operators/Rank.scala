package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-group ranking shapes the operators share — each written once
  * here so a plan-shape fix lands in one place.
  */
object Rank {

  /** The first `k` rows of every `partitionBy` group in `orderBy` order,
    * numbered 1..k in `rankCol` (ties broken by whatever `orderBy` lists).
    * The `row_number() <= literal` filter is exactly the shape Spark's
    * InferWindowGroupLimit rewrites into a WindowGroupLimit below the window
    * sort, so each partition keeps at most k rows per group before sorting;
    * an empty `partitionBy` ranks the whole frame as one group.
    */
  def topK(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[Column],
      k: Int, rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)))
      .filter(col(rankCol) <= k)

  /** Each row's 0-based EXCLUSIVE running total of `weight` (the row count
    * when absent) within its `keys` group in `order` order, added as column
    * `out`. `bucket` names a column of `df` that is monotone in `order`
    * (sorting by (bucket, order) equals sorting by order — e.g. the leading
    * hex pair of an md5 order key, or a grid cell of a score), which turns
    * a per-key window — one reducer per key, the straggler a hot key makes —
    * into two levels (REPOSE's local-rank-then-global-merge):
    *   1. a partial prefix within (keys, bucket), every bucket in parallel;
    *   2. per-(keys, bucket) totals, prefix-summed over the buckets of each
    *      key (a ≤ |keys|·|buckets|-row aggregate), broadcast back as offsets.
    * offset + partial is exactly the single-window value: integer sums do
    * not depend on order and the buckets tile the order. Null keys form one
    * group, as they do in a window partition — the offsets join is
    * null-safe. `df` is read twice (both levels); cache it when it is not
    * cheap to recompute.
    */
  def bucketedPrefix(df: DataFrame, keys: Seq[String], bucket: String,
      order: Seq[Column], weight: Option[Column] = None,
      out: String = "__pre"): DataFrame = {
    val okeys = keys.indices.map(i => s"__ok$i")
    val offsets = df.groupBy((keys :+ bucket).map(col): _*)
      .agg(weight.fold(count(lit(1)))(w => sum(w)).as("__bn"))
      .select((keys.zip(okeys).map { case (k, o) => col(k).as(o) } :+
        col(bucket).as("__ob") :+
        coalesce(sum("__bn").over(Window.partitionBy(keys.map(col): _*)
          .orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("__off")): _*)
    val wPart = Window.partitionBy((keys :+ bucket).map(col): _*).orderBy(order: _*)
    val partial = weight.fold(row_number().over(wPart) - 1)(w => coalesce(
      sum(w).over(wPart.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val on = keys.zip(okeys).map { case (k, o) => col(k) <=> col(o) }
      .foldLeft(col(bucket) === col("__ob"))(_ && _)
    df.withColumn("__part", partial)
      .join(broadcast(offsets), on)
      .withColumn(out, col("__off") + col("__part"))
      .drop(("__part" +: "__ob" +: "__off" +: okeys): _*)
  }

  /** `df` plus `__ord`, the md5 of `idCol`'s string form — the
    * engine-portable shuffle order the samplers draw in — and `__salt`, its
    * leading hex pair: 256 buckets, each a contiguous range of that order.
    */
  def md5Salted(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("__ord", md5(col(idCol).cast("string")))
      .withColumn("__salt", substring(col("__ord"), 1, 2))

  /** [[bucketedPrefix]] in (md5, id) order over a [[md5Salted]] frame. */
  def md5Prefix(df: DataFrame, keys: Seq[String], idCol: String,
      weight: Option[Column] = None, out: String = "__pre"): DataFrame =
    bucketedPrefix(df, keys, "__salt", Seq(col("__ord"), col(idCol)), weight, out)
}
