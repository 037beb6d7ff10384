package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming extension (SURVEY.md §2.9 — absent from the reference; Trino 400 has
  * no streaming). The transforms are expressed once and run identically in batch
  * (for oracle verification) and with `readStream` (Structured Streaming): windowed
  * aggregation is the same logical plan; in streaming it becomes incremental state
  * with watermark-based eviction — state size bounded by (watermark horizon ×
  * key cardinality), which is what keeps it viable on an unbounded 100 TB/day feed.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event_type. Works on batch or streaming df.
    * The value sum rides the exact-DECIMAL/BIGINT-cents idiom (the r11 sf1
    * sweep's fix for order-dependent double sums): per-row doubles are cast to
    * DECIMAL(30,8) and summed exactly, so the hash surface cannot flip a last
    * ulp when accumulation order changes at scale.
    */
  def tumbling(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count("*").as("n"),
        (round(sum(col("value").cast("decimal(30,8)")), 2) * 100)
          .cast("long").as("sum_value_c2"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value_c2"))

  /** Sliding-window event counts. */
  def sliding(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count("*").as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows per user with the given inactivity gap. Session end =
    * last event + gap (Spark session_window semantics).
    */
  def sessions(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count("*").as("n"),
        (round(sum(col("value").cast("decimal(30,8)")), 2) * 100)
          .cast("long").as("sum_value_c2"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"), col("sum_value_c2"))

  /** OHLC bars per series per tumbling window — the financial bar-building
    * aggregation generalized to any event stream (open/close = first/last
    * observation, high/low = extremes, n = volume). Deterministic
    * first/last via min/max over (µs-time, event_id, value) STRUCTS — a
    * total order, unlike min_by/max_by's unspecified tie behavior — so
    * the oracle's window-rank restatement matches value-for-value. Values
    * are carried verbatim (stored doubles, no arithmetic on the hash
    * surface). One map-side-combinable grouped aggregate; in streaming the
    * same plan runs incrementally with watermark eviction.
    */
  def ohlcBars(events: DataFrame, width: String,
      seriesCol: String = "event_type"): DataFrame =
    events
      .select(window(col("ts"), width).as("w"), col(seriesCol).as("series"),
        unix_micros(col("ts")).as("__tsu"), col("event_id"), col("value"))
      .groupBy(col("w.start").as("window_start"), col("series"))
      .agg(
        min(struct(col("__tsu"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("__tsu"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"))

  /** Ordered-funnel completion (the product-analytics primitive): per
    * user, the EARLIEST time each step can complete given the previous
    * step's completion time — t₁ = first `steps(0)` event, tₖ = first
    * `steps(k)` event STRICTLY after tₖ₋₁. Output: one row per user who
    * completed the whole funnel, with every step's timestamp. The greedy
    * earliest-completion chain is the standard semantics (if any
    * assignment completes the funnel, the greedy one does).
    *
    * Scale shape: k map-side-combinable per-user min-aggregates chained by
    * per-user equi-joins — each step's frame is one row per surviving
    * user, so every join after the first is against a shrinking keyed
    * frame; no windows, no per-user event sorting.
    */
  def funnel(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("user_id"))
      .agg(min(col(tsCol)).as("t1"))
    for (k <- 2 to steps.size) {
      val prevCols = (1 until k).map(i => col(s"t$i"))
      cur = events.filter(col(typeCol) === steps(k - 1))
        .select(col(userCol).as("user_id"), col(tsCol).as("__ts"))
        .join(cur, "user_id")
        .filter(col("__ts") > col(s"t${k - 1}"))
        .groupBy((col("user_id") +: prevCols): _*)
        .agg(min(col("__ts")).as(s"t$k"))
    }
    cur
  }

  /** Cohort retention (the product-analytics matrix): users grouped by
    * their FIRST-event day (the cohort), then counted per whole-week
    * offset in which they were active again. All calendar math is exact
    * integer day arithmetic (to_date + datediff div 7) — no
    * bucket-alignment function whose epoch origin could differ across
    * engines. Output: (cohort_day, week_offset, n_users), week 0 = the
    * cohort's own week.
    *
    * Scale shape: one per-user min-aggregate (map-side combined), one
    * broadcast-or-shuffle join back, one distinct + grouped count — no
    * windows over event history.
    */
  def retention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val firstDay = events
      .groupBy(col(userCol).as("user_id"))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    events.select(col(userCol).as("user_id"), to_date(col(tsCol)).as("d"))
      .join(firstDay, "user_id")
      .select(col("user_id"), col("cohort_day"),
        expr("cast(datediff(d, cohort_day) as bigint) div 7")
          .as("week_offset"))
      .distinct()
      .groupBy("cohort_day", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** SCD2 validity intervals from a change history: per key, each change
    * row becomes a (valid_from, valid_to) interval — valid_to = the NEXT
    * change's time (null for the current row), order tie-broken by
    * `tieCol` so the intervals are deterministic under equal timestamps.
    * The warehouse dimension-building primitive complementing the
    * snapshot diff/refresh ops. One window per key over that key's
    * change history (bounded by per-key change counts, not the corpus).
    */
  def scd2(history: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("valid_from").asc, col(tieCol).asc)
    history.select((Seq(col(keyCol), col(tsCol).as("valid_from"),
      col(tieCol)) ++ payloadCols.map(col)): _*)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
  }

  /** Open the events fixture as a genuine stream (file source). */
  def readEventStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Streaming tumbling aggregation with watermark — the canonical incremental
    * plan: state per (window, event_type), evicted once the watermark passes.
    */
  def streamingTumbling(events: DataFrame, width: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count("*").as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming exact dedup: first occurrence of each id wins; dedup state is
    * evicted once the watermark passes — the incremental counterpart of
    * Dedup.exact for an unbounded training-data feed.
    */
  def streamingDedup(events: DataFrame, idCol: String, tsCol: String,
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicates(idCol)

  /** Custom keyed state (SURVEY.md §2.9): per-user running totals via
    * `mapGroupsWithState` — the extension point for stateful logic that windowed
    * aggregates can't express. State is one small record per user, updated
    * incrementally per micro-batch; at 100 TB/day the state size is bounded by
    * key cardinality, not input volume.
    */
  def statefulUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout()) {
        (uid, rows, state) =>
          val prior = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prior.n; var s = prior.sumValue
          rows.foreach { r => n += 1; s += r._2 }
          val updated = UserTotal(uid, n, math.rint(s * 100) / 100)
          state.update(updated)
          updated
      }.toDF()
  }

  /** CDC-style streaming upsert into a graft catalog table (r13): each
    * micro-batch of `(key..., values..., op)` rows is applied with ONE
    * `MERGE INTO` — `op = 'D'` deletes the matched key, anything else
    * upserts. The merge write is the catalog's staged swap (or
    * partition-scoped replace for partitioned targets), so every batch is
    * all-or-nothing: readers see the table before or after a batch, never
    * mid-batch, and a crashed batch leaves the previous state live. Later
    * duplicates win within a batch via the `seqCol` max-row pick (the
    * standard CDC compaction), so replaying a batch after a failure
    * converges instead of double-applying.
    *
    * Returns the started query; the caller owns its lifecycle. At 100 TB
    * the per-batch cost is the merge's: partition-scoped if the target is
    * partitioned and the batch touches few partitions.
    *
    * `guardSeq = true` (r13 VERDICT ask #4) extends the ordering guarantee
    * ACROSS batches: the target persists `seqCol` as a data column and
    * every matched branch carries `AND s.seq > t.seq`, so a late-arriving
    * batch bearing an older seq for a key can never overwrite (or delete
    * under) newer data, and replaying a batch after a restart converges to
    * the same contents instead of double-applying. Off by default — the
    * original contract (target has no seq column; within-batch ordering
    * only) is unchanged.
    */
  def upsertSink(changes: DataFrame, targetTable: String, keyCols: Seq[String],
      opCol: String, seqCol: String, checkpoint: String,
      guardSeq: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // within-batch compaction: one change per key, the newest wins
        val latest = graft.operators.Rank.topK(batch, keyCols,
          Seq(col(seqCol).desc), 1, "__rn").drop("__rn")
        val view = s"__graft_upserts_${java.util.UUID.randomUUID().toString.take(8)}"
        latest.createOrReplaceTempView(view)
        val on = keyCols.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
        // under the cross-batch guard the seq column IS a data column of
        // the target — it must persist so the next batch can compare
        val dataCols = latest.columns.filterNot(c =>
          c.equalsIgnoreCase(opCol) ||
            (!guardSeq && c.equalsIgnoreCase(seqCol)))
        // key-column matching is case-insensitive like opCol/seqCol above —
        // a differently-cased key name must not leak into the SET list
        val setCols = dataCols.filterNot(c => keyCols.exists(_.equalsIgnoreCase(c)))
        val setList = setCols.map(c => s"t.`$c` = s.`$c`").mkString(", ")
        // a target whose every column is a key has nothing to update on
        // match (the matched row already equals the incoming one) — an
        // empty SET list would be malformed SQL, so the branch is omitted
        val guard = if (guardSeq) s" AND s.`$seqCol` > t.`$seqCol`" else ""
        val updateBranch =
          if (setCols.isEmpty) "" else s"WHEN MATCHED$guard THEN UPDATE SET $setList\n"
        val insCols = dataCols.map(c => s"`$c`").mkString(", ")
        val insVals = dataCols.map(c => s"s.`$c`").mkString(", ")
        try spark.sql(
          s"""MERGE INTO $targetTable t USING $view s ON $on
             |WHEN MATCHED AND s.`$opCol` = 'D'$guard THEN DELETE
             |$updateBranch""".stripMargin +
          s"WHEN NOT MATCHED AND s.`$opCol` <> 'D' THEN INSERT ($insCols) VALUES ($insVals)")
        finally spark.catalog.dropTempView(view)
        ()
      }
      .start()
  }
}

case class UserTotal(userId: Long, n: Long, sumValue: Double)
