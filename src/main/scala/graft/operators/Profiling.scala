package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Data-profiling utilities for corpus curation: cheap distribution summaries
  * a pipeline runs before choosing thresholds (quality cutoffs, packing
  * lengths, sampling rates).
  */
object Profiling {

  /** Equi-width histogram with EXPLICIT bounds: bucket i covers
    * [lo + i·w, lo + (i+1)·w) for w = (hi - lo)/n, out-of-range values clamp
    * into the edge buckets, and null / NaN values surface as their own
    * buckets -1 / -2 so the profile is a total account of the column in
    * ONE scan. Explicit bounds rather than a data min/max pre-pass keep the
    * operator a single narrow pass + one tiny map-side-combined groupBy — at
    * 100 TB a min/max pre-pass would double the read, and profile bounds are
    * usually known (or taken from a previous profile).
    *
    * The bucket index is `floor((x - lo) · n / (hi - lo))` computed in that
    * exact operation order — single IEEE ops, so an external engine
    * reproduces the bucketing bit-for-bit (same reasoning as
    * [[Semantic.assignCells]]'s quantization).
    */
  /** Per-column SUMMARY profile — the "describe the corpus" table a curation
    * run opens with: row count, null count, exact distinct count, and (for
    * numeric columns) min/max as doubles, one output row per requested
    * column. Exact distincts, not HLL: the point of a profile is catching
    * "this join key is 40% null" / "source has 3 values, not 30", where an
    * approximate count hides exactly the anomaly. String min/max are omitted
    * (null) — engines disagree on collation, which would break the oracle
    * contract for no curation value.
    *
    * Scale shape: ONE scan. The multi-column exact distincts expand the
    * aggregation input ×k (Spark's Expand for multiple DISTINCT aggregates)
    * over the PROJECTED k columns only — at 100 TB that is k narrow columns
    * through a map-side-combined aggregate, not k passes over the table.
    */
  def summary(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.flatMap { c =>
      val numeric = df.schema(c).dataType.isInstanceOf[NumericType]
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        countDistinct(col(c)).as(s"__dist_$c"),
        (if (numeric) min(col(c).cast("double")) else lit(null).cast("double"))
          .as(s"__min_$c"),
        (if (numeric) max(col(c).cast("double")) else lit(null).cast("double"))
          .as(s"__max_$c"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"), col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_d"), col(s"__max_$c").as("max_d"))): _*))
      .as("r"))
      .select("r.*")
  }

  /** KEY-SKEW report: the top-`k` heaviest values of a join/grouping key with
    * row counts and corpus share in integer basis points — the diagnostic a
    * scale audit runs BEFORE a 100 TB join ("which keys would wedge a
    * reducer and need salting"). One map-side-combined groupBy over the
    * projected key + a TakeOrdered top-k; ties break on the key's string
    * form so the report is deterministic. Null keys count as a value (they
    * hash to one reducer like any other — the skew report exists precisely
    * to surface them).
    */
  def keySkew(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val counts = df
      .select(coalesce(col(keyCol).cast("string"), lit("<null>")).as("key"))
      .groupBy("key").agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum("n_rows").as("__t"))
    counts.crossJoin(broadcast(total))
      .select(col("key"), col("n_rows"),
        expr("(n_rows * 10000) div __t").as("share_bp"))
      .orderBy(col("n_rows").desc, col("key").asc)
      .limit(k)
  }

  def histogram(df: DataFrame, valueCol: String,
      lo: Double, hi: Double, n: Int): DataFrame = {
    require(n >= 1 && hi > lo, "need n >= 1 and hi > lo")
    val x = col(valueCol).cast("double")
    // NaN gets its own bucket like null: clamped into bucket 0 it would
    // inflate the lowest bin AND poison its min/max (engines also disagree
    // on NaN ordering inside min/max, breaking the oracle contract)
    val bucket = when(x.isNull, lit(-1)).when(isnan(x), lit(-2)).otherwise(
      least(lit(n - 1), greatest(lit(0),
        floor((x - lit(lo)) * lit(n.toDouble) / lit(hi - lo)).cast("int"))))
    df.select(bucket.as("bucket"), x.as("x"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        (floor(min(col("x")) * 10000).cast("double") / 10000.0).as("x_min"),
        (floor(max(col("x")) * 10000).cast("double") / 10000.0).as("x_max"))
  }

  /** The DATASET CARD: the one-row summary a corpus release ships with —
    * doc/token/char totals, exact-duplicate rate (normalized-text md5, the
    * [[Dedup.exact]] fingerprint), domain/language cardinalities, and the
    * dominant domain/language with basis-point shares. All exact integers
    * and strings (shares via `div`-floor myriads; top-1 ties break on the
    * value's string form), so the card is engine-portable.
    *
    * Scale shape: one aggregate over a narrow projection (counts, token
    * sums, distinct fingerprints/domains/langs ride Spark's Expand in a
    * single scan) plus two map-side-combinable top-1 aggregations over
    * (domain) and (lang) — three passes over ~40-byte rows, never the text
    * after the scan stage.
    */
  def datasetCard(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, domainCol: String): DataFrame = {
    import graft.operators.Keys
    val base = docs.select(
      Keys.id(docs, idCol).as("doc_id"),
      md5(regexp_replace(lower(coalesce(col(textCol), lit(""))), "\\s+", " ")).as("fp"),
      size(TextAnalysis.words(coalesce(col(textCol), lit(""))))
        .cast("long").as("n_tok"),
      length(coalesce(col(textCol), lit(""))).cast("long").as("n_chars"),
      coalesce(col(langCol).cast("string"), lit("<null>")).as("lang"),
      coalesce(col(domainCol).cast("string"), lit("<null>")).as("domain"))
    val totals = base.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("n_tokens"),
      sum("n_chars").as("n_chars"),
      countDistinct("fp").as("__dfp"),
      countDistinct("domain").as("n_domains"),
      countDistinct("lang").as("n_langs"))
    def top1(c: String, outName: String, outBp: String) =
      base.groupBy(c).agg(count(lit(1)).as("__cnt"))
        .orderBy(col("__cnt").desc, col(c))
        .limit(1)
        .select(col(c).as(outName), col("__cnt").as(s"__c_$outName"))
    totals
      .crossJoin(broadcast(top1("domain", "top_domain", "top_domain_bp")))
      .crossJoin(broadcast(top1("lang", "top_lang", "top_lang_bp")))
      .select(
        col("n_docs"), col("n_tokens"), col("n_chars"),
        (col("n_docs") - col("__dfp")).as("n_dup_docs"),
        expr("(n_docs - __dfp) * 10000 div n_docs").as("dup_bp"),
        col("n_domains"), col("n_langs"),
        col("top_domain"),
        expr("__c_top_domain * 10000 div n_docs").as("top_domain_bp"),
        col("top_lang"),
        expr("__c_top_lang * 10000 div n_docs").as("top_lang_bp"))
  }

  /** The (domain, fp, cnt) stream behind the coverage family: one row per
    * (domain, content-fingerprint) with its occurrence count. Documents
    * with null text are dropped (no content to cover); null domains keyed
    * `<null>` (the [[datasetCard]] convention).
    */
  private def coveragePairs(docs: DataFrame, textCol: String,
      domainCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(
        coalesce(col(domainCol).cast("string"), lit("<null>")).as("domain"),
        md5(col(textCol).cast("string")).as("fp"))
      .groupBy("domain", "fp").agg(count(lit(1)).as("cnt"))

  /** Per-domain corpus COVERAGE report — the crawl-diversity dashboard:
    * how many fetches landed per domain, how many were DISTINCT documents
    * (by content fingerprint), and the duplicate rate in basis points.
    * A domain whose dup_bp climbs round over round is re-serving content —
    * the signal that retires it from the frontier (with [[Urls.hostCap]]
    * bounding volume and robots crawl-delay bounding rate).
    *
    * Scale shape: one narrow scan → one (domain, fp) aggregate → one
    * domain aggregate, both map-side-combinable; no driver materialization.
    */
  def coverage(docs: DataFrame, textCol: String,
      domainCol: String): DataFrame =
    coverageReport(coveragePairs(docs, textCol, domainCol))

  /** The PERSISTED exact coverage state: (domain, fp, cnt) — the keyed
    * membership-with-multiplicity table [[coverageIncremental]] merges
    * batches into. Exact, so state is O(distinct docs): right up to the
    * scale where [[coverageSketch]] takes over.
    */
  def coverageState(docs: DataFrame, textCol: String,
      domainCol: String): DataFrame =
    coveragePairs(docs, textCol, domainCol)

  /** Merge a new crawl batch into a [[coverageState]]: pointwise count sum
    * on the (domain, fp) key — one keyed outer-merge aggregate, the same
    * exchange class as the incremental dedups it runs beside. The merged
    * state's [[coverageReport]] equals [[coverage]] of the concatenated
    * corpus (spec + oracle-pinned), so slicing a crawl into rounds never
    * changes the dashboard.
    */
  def coverageIncremental(newDocs: DataFrame, textCol: String,
      domainCol: String, state: DataFrame): DataFrame =
    coveragePairs(newDocs, textCol, domainCol)
      .unionByName(state.select(col("domain"), col("fp"), col("cnt")))
      .groupBy("domain", "fp").agg(sum("cnt").as("cnt"))

  /** Collapse a coverage state to the per-domain report. */
  def coverageReport(state: DataFrame): DataFrame =
    state.groupBy("domain").agg(
      sum("cnt").as("n_docs"),
      count(lit(1)).as("n_distinct"),
      expr("(sum(cnt) - count(1)) * 10000 div sum(cnt)").as("dup_bp"))

  /** The SKETCHED coverage state for the scale where even the distinct
    * fingerprint set is too large to keep: per domain, the exact fetch
    * count plus an Apache DataSketches HLL sketch of the fingerprints —
    * state is O(domains × sketch bytes) however large the crawl. Sketches
    * merge associatively (`hll_union`), so batch states compose exactly
    * like [[coverageIncremental]]; estimates carry HLL's documented
    * ~1.6% (lgK=12) relative error, which a DASHBOARD tolerates and a
    * dedup decision never would — this feeds the former, the fp states
    * feed the latter. Merge-of-slices ≡ one-shot sketch is spec-pinned
    * (union determinism); not oracle-hashable (sketch internals are
    * engine-private), so its query surfaces rows-only by design.
    */
  def coverageSketch(docs: DataFrame, textCol: String,
      domainCol: String, lgK: Int = 12): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(
        coalesce(col(domainCol).cast("string"), lit("<null>")).as("domain"),
        md5(col(textCol).cast("string")).as("fp"))
      .groupBy("domain").agg(
        count(lit(1)).as("n_docs"),
        hll_sketch_agg(col("fp"), lit(lgK)).as("fp_hll"))

  /** Merge a batch's [[coverageSketch]] into a persisted one: count sum +
    * HLL union on the domain key (full outer — new domains enter, quiet
    * domains persist).
    */
  def coverageSketchMerge(state: DataFrame, batch: DataFrame): DataFrame = {
    val s = state.select(col("domain"), col("n_docs").as("n1"),
      col("fp_hll").as("h1"))
    val b = batch.select(col("domain"), col("n_docs").as("n2"),
      col("fp_hll").as("h2"))
    s.join(b, Seq("domain"), "full_outer")
      .select(col("domain"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)))
          .as("n_docs"),
        when(col("h1").isNull, col("h2"))
          .when(col("h2").isNull, col("h1"))
          .otherwise(hll_union(col("h1"), col("h2"))).as("fp_hll"))
  }

  /** The sketched dashboard: per-domain fetches, estimated distincts, and
    * the estimated duplicate rate.
    */
  def coverageSketchReport(state: DataFrame): DataFrame =
    state.select(col("domain"), col("n_docs"),
      hll_sketch_estimate(col("fp_hll")).as("n_distinct_est"))
}
