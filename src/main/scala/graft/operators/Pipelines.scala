package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data curation (the north-star use case, SURVEY.md §2.13):
  * quality gate → language gate → exact dedup, composed from the individual
  * operators so the whole pipeline stays one declarative plan.
  *
  * Plan shape: the quality and language stages are narrow (pure projections and
  * filters over each document — they fuse into one codegen'd pass over the
  * corpus); the only shuffle is the dedup groupBy on the text fingerprint. At
  * 100 TB that is a single map-heavy stage plus one hash-partitioned exchange
  * of (fingerprint, doc_id) pairs — the minimum any dedup needs.
  */
object Pipelines {

  /** Curate a document corpus: keep docs passing the quality thresholds, in the
    * wanted language, and unique by normalized text (smallest doc_id wins).
    * Returns (doc_id) of survivors.
    *
    * Both gates are column expressions evaluated in the same narrow stage — no
    * self-joins of the corpus — so the plan is exactly: one codegen'd
    * scan+filter pass, then the dedup exchange.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 5, maxTokens: Int = 100000,
      lang: String = "en"): DataFrame = {
    val text = col(textCol)
    val nTokens = size(filter(split(lower(text), "\\s+"), w => length(w) > 0))
    val kept = docs
      .filter(nTokens.between(minTokens, maxTokens) &&
        TextAnalysis.langPred(text) === lang)
      .select(Keys.id(docs, idCol).as("doc_id"), text.as("__text"))
    Dedup.exact(kept, "doc_id", "__text")
  }

  /** Sequence packing for training-data prep: concatenate documents (in
    * deterministic doc_id order within a shard) and cut every `maxTokens`
    * tokens — the standard concat-and-chunk packing an LLM data loader does,
    * with documents allowed to straddle pack boundaries. Returns per document
    * its shard, token count, pack id, and starting offset inside the pack.
    *
    * Scale shape: one shuffle on the shard key, an in-partition sort by
    * doc_id, and a linear running-sum window — packing 100 TB is exactly one
    * exchange of (doc_id, n_tokens) pairs. Shards are independent (a doc
    * never crosses shards), so downstream writers can emit one pack stream
    * per shard with no coordination.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 2048, shards: Int = 64): DataFrame = {
    require(maxTokens > 0 && shards > 0, "maxTokens and shards must be positive")
    val nTok = size(filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0))
    val base = Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      nTok.cast("long").as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(shards)).cast("int"))
    // exclusive running sum = where this doc's tokens start in the shard's
    // concatenated token stream; pack id / offset are pure arithmetic on it
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // pack_id/pack_offset are PURE INTEGER arithmetic (`div`/`pmod` on longs):
    // start_tok >= 0 so truncating division == floor division, and unlike
    // floor(start_tok / maxTokens) there is no double-precision intermediate —
    // exact at any token count, not just below 2^53.
    base
      .withColumn("start_tok", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"start_tok div ${maxTokens.toLong}L").as("pack_id"),
        pmod(col("start_tok"), lit(maxTokens.toLong)).as("pack_offset"))
  }

  /** End-to-end near-duplicate REMOVAL: MinHash-LSH candidate pairs →
    * connected-component clusters → keep each cluster's smallest doc_id (plus
    * every unclustered doc). This is the composed form a curation pipeline
    * actually runs — `minHashLshPairs` and `clusters` are its building blocks.
    *
    * Scale shape: the pair/cluster stages are the audited LSH + CC plans
    * (PLANS.md); the final cut is a LEFT ANTI join of the corpus against the
    * non-representative cluster members. The member side is NOT hint-forced to
    * broadcast: on the corpora dedup exists for (heavily near-duplicated),
    * members is an unbounded fraction of the corpus and a forced broadcast is
    * the one thing that cannot survive the 100-TB design point. AQE sees the
    * members side's true post-shuffle size (the CC loop ends in materialized
    * localCheckpoint leaves) and picks broadcast when it actually fits,
    * shuffled anti-join when it doesn't — graceful on both ends.
    */
  def dedupNear(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    // minHashClusters, not clusters∘minHashLshPairs: CC over distinct
    // shingle sets — a g-clone boilerplate group costs g star rows through
    // the label join, never the C(g,2) pair rows the pair surface owes
    // (see its scaladoc; labels are provably identical)
    val members = Dedup.minHashClusters(docs, idCol, textCol, n, numPerm,
      bands, threshold)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.select(Keys.id(docs, idCol).as("doc_id"))
      .join(members, Seq("doc_id"), "left_anti")
  }

  /** Canonical-document selection: [[dedupNear]] upgraded from "smallest
    * doc_id wins" to "BEST doc wins" — per near-duplicate cluster keep the
    * document with the highest `scoreCol` (quality score, length, recency —
    * any numeric column already on the corpus), ties broken by smallest
    * doc_id. Keeping an arbitrary cluster member discards the one free choice
    * dedup offers; real curation keeps the cleanest copy. Unclustered
    * documents pass through as their own singleton cluster (cluster_id =
    * doc_id). Null scores sort last, so a scored member always beats an
    * unscored one. Returns (doc_id, cluster_id, score) of the survivors —
    * every cluster contributes exactly one row.
    *
    * Scale shape: the pair/cluster stages are the audited LSH + CC plans; the
    * argmax window shuffles ONLY the clustered subset (∝ duplication found,
    * not corpus size) — unclustered docs ride a LEFT ANTI join against the
    * label table and never repartition by cluster. Both joins leave the
    * broadcast decision to AQE, which sees the label table's true
    * post-shuffle size (the CC loop ends in materialized localCheckpoint
    * leaves) — same rationale as [[dedupNear]].
    */
  def selectCanonical(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String, n: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    // minHashClusters labels EVERY doc (singletons self-label); restrict to
    // multi-doc clusters so the argmax window still shuffles only the
    // clustered subset (∝ duplication found) — the semi-join keys are
    // narrow cluster ids, themselves ∝ duplication
    val labels = Dedup.minHashClusters(docs, idCol, textCol, n, numPerm,
      bands, threshold)
    val multi = labels.filter(col("doc_id") =!= col("cluster_id"))
      .select("cluster_id").distinct()
    val labeled = labels.join(multi, Seq("cluster_id"), "left_semi")
    val base = docs.select(Keys.id(docs, idCol).as("doc_id"),
      col(scoreCol).cast("double").as("score"))
    val canon = Rank.topK(base.join(labeled, Seq("doc_id")), Seq("cluster_id"),
        Seq(col("score").desc_nulls_last, col("doc_id").asc), 1, "rn")
      .select("doc_id", "cluster_id", "score")
    val singletons = base
      .join(labeled.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"), col("score"))
    canon.unionByName(singletons)
  }

  /** Corpus-level line deduplication (the C4/CCNet preprocessing step): drop
    * every line whose corpus-wide occurrence count reaches `minCount`
    * (`keepFirst = true` instead keeps the globally-first occurrence, ordered
    * by (doc_id, position) — CCNet's variant). Returns per document the
    * reassembled text plus kept/dropped line counts; documents whose lines are
    * all dropped survive with empty text, and a null-text document is treated
    * as empty text (one empty line), so the output is a total function of the
    * input corpus — every input doc_id appears exactly once.
    *
    * Scale shape: one exchange hash-partitioned on the line (both the
    * occurrence count and the first-occurrence rank come from window functions
    * over that same partitioning), then one exchange on doc_id to reassemble.
    * Two shuffles of (doc_id, pos, line) triples is the floor for a corpus-wide
    * line count + per-doc reassembly; no self-join of the corpus ever forms.
    * A pathological line shared by m documents costs one reducer O(m) — counts
    * and ranks are streaming aggregates, never m² pairs.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int = 2, keepFirst: Boolean = false, sep: String = "\n",
      aggregateCounts: Boolean = true): DataFrame = {
    require(minCount >= 2, "minCount must be >= 2 (1 would drop every line)")
    // coalesce: split(NULL) yields no posexplode rows, which would silently
    // drop null-text docs from the output and break totality
    val lines = Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val byLine = Window.partitionBy("line")
    // Two equivalent counting strategies (PrepPropertySpec proves identity):
    //  - aggregateCounts (default): groupBy(line) with MAP-SIDE PARTIAL
    //    AGGREGATION joined back. One more (tiny, combiner-compressed)
    //    exchange than the window path but never sorts, and a line duplicated
    //    m times shuffles as one (line, m) row instead of m sort keys — the
    //    right default because extreme duplication is exactly the corpus
    //    shape line dedup exists for.
    //  - window: one exchange on the line; WindowExec groups by sorting each
    //    partition — equivalent, fine when duplication is known-moderate.
    val counted =
      if (aggregateCounts) {
        val counts = lines.groupBy("line").agg(count(lit(1)).as("cnt"))
        val firsts =
          if (keepFirst) counts.join(
            lines.groupBy("line").agg(min(struct(col("doc_id"), col("pos"))).as("first")),
            "line")
          else counts
        lines.join(firsts, "line")
      } else lines.withColumn("cnt", count(lit(1)).over(byLine))
    val keep =
      if (keepFirst && aggregateCounts) counted.withColumn("keep",
        col("cnt") < minCount ||
          (col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos")))
      else if (keepFirst) counted
        .withColumn("rn", row_number().over(byLine.orderBy("doc_id", "pos")))
        .withColumn("keep", col("cnt") < minCount || col("rn") === 1)
      else counted.withColumn("keep", col("cnt") < minCount)
    keep.groupBy("doc_id").agg(
      array_join(
        transform(
          array_sort(collect_list(when(col("keep"), struct(col("pos"), col("line"))))),
          s => s.getField("line")),
        sep).as("clean_text"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Corpus-duplicated token-span detection — the substring-level dedup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): a rolling window of `w` tokens is DUPLICATED when its
    * exact token sequence occurs at least `minCount` times anywhere in the
    * corpus (other documents or elsewhere in the same one). Returns per
    * document the window count, how many of its windows are duplicated, and
    * the duplicated fraction — the score a curation pipeline thresholds on or
    * feeds to a span-removal pass. Documents shorter than `w` tokens have
    * zero windows and report dup_frac 0, so the output is total over the
    * corpus.
    *
    * Scale shape — dedupLines' aggregate-count plan with rolling windows in
    * place of lines: windows materialize as (doc_id, h) rows with the window
    * text hashed to 8 bytes BEFORE any exchange (suffix arrays are the
    * single-node tool for this job; hashed rolling windows are the
    * shuffle-friendly equivalent, with hash equality standing in for string
    * equality exactly as in [[Dedup.shingles]]); occurrence counts come from
    * one map-side-combined groupBy on the hash — a window duplicated m times
    * crosses the wire as one (h, m) row — and one broadcast-or-shuffled join
    * back plus the per-doc groupBy. No self-join, no sort, ~3 exchanges of
    * narrow keyed rows regardless of corpus size. EXACT-DUPLICATE STREAM
    * COLLAPSE first (see [[collapseStreams]]): the window explode runs once
    * per DISTINCT token stream with multiplicity-weighted counts, so a crawl
    * corpus that is 60-90% verbatim-duplicate text pays for its distinct
    * content, not its copy count.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10, minCount: Int = 2): DataFrame = {
    require(w >= 1 && minCount >= 2, "w must be >= 1 and minCount >= 2")
    val (docMap, streams) = collapseStreams(docs, idCol, textCol)
    val wins = streams.select(col("sh"), explode(windowHashExpr(w)).as("h"))
    // corpus occurrence count of window h = Σ over distinct streams of
    // (occurrences within the stream × the stream's copy count)
    val counts = wins.join(streams.select("sh", "m"), "sh")
      .groupBy("h").agg(sum("m").as("cnt"))
    val perStream = wins.join(counts, "h")
      .groupBy("sh").agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("cnt") >= minCount, 1L).otherwise(0L)).as("n_dup_windows"))
    // left join restores zero-window streams (shorter than w tokens)
    docMap.join(perStream, Seq("sh"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(coalesce(col("n_windows"), lit(0L)) === 0L, lit(0.0))
          // floor of the EXACT integer ratio scaled to 4dp: long DIV has no
          // double representation and no HALF_UP tie class, so Spark and any
          // SQL oracle agree bit-for-bit (see TextAnalysis.tfidfTopTerms —
          // round(double, 4) diverged cross-engine on .xxxx5 ties at sf0.1)
          .otherwise(expr("cast(n_dup_windows * 10000 div n_windows as double) / 10000.0"))
          .as("dup_frac"))
  }

  /** Duplicated-span REMOVAL — the transformation [[duplicateSpans]] is the
    * signal for: every token covered by at least one corpus-duplicated
    * w-token window is dropped, and each document's remaining tokens are
    * reassembled in order (Lee et al. 2022's dedup applied at span
    * granularity). Returns (doc_id, clean_text, n_kept, n_dropped); docs with
    * no duplicated spans pass through verbatim token-wise, and sub-w-token /
    * null-text docs survive untouched — the output is total.
    *
    * Scale shape: the window-count stages are [[duplicateSpans]]' plan; the
    * removal adds one explode of DUPLICATED windows only into their covered
    * token indices (w rows per flagged window — proportional to the
    * duplication actually found, not the corpus), an anti-join on
    * (stream, token index), and the per-stream reassembly groupBy.
    * Everything keys on an 8-byte hash; no self-join, no window sort. The
    * EXACT-DUPLICATE STREAM COLLAPSE ([[collapseStreams]]) makes the whole
    * explode + anti-join + reassembly run once per DISTINCT token stream —
    * previously a flagged window duplicated across 200k verbatim copies paid
    * its w-token explode 200k times; now once, with survivors re-expanded to
    * doc ids by one narrow join.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10, minCount: Int = 2): DataFrame = {
    require(w >= 1 && minCount >= 2, "w must be >= 1 and minCount >= 2")
    val (docMap, streams) = collapseStreams(docs, idCol, textCol)
    val wins = streams.select(col("sh"), posexplode(windowHashExpr(w)).as(Seq("p", "h")))
    val dupCounts = wins.join(streams.select("sh", "m"), "sh")
      .groupBy("h").agg(sum("m").as("cnt"))
      .filter(col("cnt") >= minCount)
    val perStream = dropCoveredTokens(streams, wins.join(dupCounts, "h"), w)
    docMap.join(perStream, "sh")
      .select("doc_id", "clean_text", "n_kept", "n_dropped")
  }

  /** Per-doc lower-cased whitespace tokens as an array column (null-safe:
    * null text tokenizes to an empty array, keeping span ops total).
    */
  private def tokenArrays(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(df).select(
      Keys.id(df, idCol).as("doc_id"),
      filter(split(lower(coalesce(col(textCol), lit(""))), "\\s+"),
        x => length(x) > 0).as("ws"))

  /** Exact-duplicate TOKEN-STREAM collapse shared by the span ops — the
    * [[Dedup.hammingPairs]] discipline applied to whole token streams: a
    * crawl corpus that is 60-90% verbatim-duplicate text must pay the
    * window/token machinery once per DISTINCT stream, never per copy. `sh`
    * is the xxhash64 of the joined token stream, hash equality standing in
    * for stream equality exactly as in [[windowHashExpr]].
    *
    * Shuffle discipline: NO token-array payload ever exchanges. The
    * per-stream representatives are materialized as NARROW exploded rows
    * ((sh, p, h) windows / (sh, idx, tok) tokens) deduplicated on their
    * (sh, position) key — a hash aggregate whose map-side partial collapses
    * a clone flood inside each input partition BEFORE the exchange, so a
    * 90%-one-page corpus ships its distinct content plus one surviving row
    * per (clone, partition), not per copy. The tokenized `words` projection
    * is re-derived per branch (a narrow codegen'd compute — cheaper than
    * caching millions of token arrays).
    */
  private def streamWords(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenArrays(docs, idCol, textCol)
      .withColumn("sh", xxhash64(concat_ws(" ", col("ws"))))

  /** (doc_id, sh) stream membership (narrow, separate scan) + ONE
    * aggregation collapsing the corpus to its DISTINCT streams:
    * (sh, ws = a representative's tokens, m = copy count). The agg is a
    * single exchange whose map-side partial collapses a clone flood inside
    * each input partition before any bytes move; every downstream explode
    * (windows, tokens, sizes) runs on the collapsed frame, i.e. AFTER the
    * collapse. The collapsed frame is cached (caller releases per the
    * [[Caches]] contract) because three consumers read it — on a crawl-shaped
    * corpus it is a fraction of the input, and caching pre-collapse rows
    * instead measured strictly worse on both corpus shapes (round-9 A/B).
    */
  private def collapseStreams(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val words = streamWords(docs, idCol, textCol)
    (words.select("doc_id", "sh"),
      words.groupBy("sh")
        .agg(first("ws").as("ws"), count(lit(1)).as("m"))
        .cache())
  }

  /** xxhash64'd w-token rolling windows over the `ws` token array; empty for
    * docs shorter than w tokens (the sequence() descending gotcha).
    */
  private def windowHashExpr(w: Int): org.apache.spark.sql.Column = expr(
    s"case when size(ws) >= $w then " +
      s"transform(sequence(1, size(ws) - ${w - 1}), " +
      s"i -> xxhash64(concat_ws(' ', slice(ws, i, $w)))) " +
      "else cast(array() as array<bigint>) end")

  /** Drop every token covered by a flagged window ((sh, p, ...) rows, p
    * 0-based) and reassemble each DISTINCT stream's remaining tokens in
    * order; total over `reps` — zero-window and fully-scrubbed streams
    * come back with empty text. Returns (sh, clean_text, n_kept, n_dropped).
    */
  private def dropCoveredTokens(reps: DataFrame, flagged: DataFrame,
      w: Int): DataFrame = {
    val repToks = reps.select(col("sh"), posexplode(col("ws")).as(Seq("idx", "tok")))
    val totals = reps.select(col("sh"), size(col("ws")).cast("long").as("n_total"))
    // covered token indices of flagged windows only (0-based token idx)
    val dropped = flagged
      .select(col("sh"), explode(expr(s"sequence(p, p + ${w - 1})")).as("idx"))
      .distinct()
    val kept = repToks.join(dropped, Seq("sh", "idx"), "left_anti")
    // left join keeps zero-token streams (short, empty, or fully-dropped)
    totals.join(
      kept.groupBy("sh").agg(
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept")),
      Seq("sh"), "left")
      .select(col("sh"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Span-level decontamination — the surgical alternative to dropping whole
    * contaminated documents: every token covered by a w-token window whose
    * exact token sequence occurs in `evalDocs` is removed and the remaining
    * tokens reassembled ([[decontaminate]] flags documents; this repairs
    * them). Output (doc_id, clean_text, n_kept, n_dropped), total over the
    * corpus.
    *
    * Scale shape: the eval window set is small (eval corpora are) and
    * broadcast; corpus windows hash to 8 bytes in a narrow pass, the
    * broadcast semi-join keeps only CONTAMINATED windows, and the removal is
    * [[removeDuplicateSpans]]' explode + anti-join + reassembly, its volume
    * proportional to contamination found. One pass over the corpus, no
    * corpus-side distinct, no self-join — and the same EXACT-DUPLICATE
    * STREAM COLLAPSE ([[collapseStreams]]): a contaminated boilerplate page
    * crawled 200k times is scrubbed once and re-expanded, not 200k times.
    */
  def removeContaminatedSpans(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, w: Int = 10): DataFrame = {
    require(w >= 1, "w must be >= 1")
    val evalSet = tokenArrays(evalDocs, idCol, textCol)
      .select(explode(windowHashExpr(w)).as("h")).distinct()
    val (docMap, streams) = collapseStreams(docs, idCol, textCol)
    val wins = streams.select(col("sh"), posexplode(windowHashExpr(w)).as(Seq("p", "h")))
    val perStream = dropCoveredTokens(streams, wins.join(broadcast(evalSet), "h"), w)
    docMap.join(perStream, "sh")
      .select("doc_id", "clean_text", "n_kept", "n_dropped")
  }

  /** Test-set decontamination: count, per document, how many of its distinct
    * word n-gram shingles also occur in `evalDocs` (the benchmark/eval corpus),
    * and return documents with at least `minHits` overlapping shingles — the
    * standard n-gram–overlap contamination check run before training.
    *
    * Scale shape: the corpus side is narrow — per-doc distinct shingle arrays
    * (no corpus-wide distinct), exploded straight into a broadcast hash join
    * against the (small) eval shingle set, so only matching (doc, shingle)
    * hits reach the single groupBy exchange. At 100 TB this is one map-heavy
    * pass over the corpus plus a shuffle of just the contaminated hits.
    * Shingles are xxhash64-hashed (as in [[Dedup.shingles]]): the join runs on
    * 8-byte keys, never on n-gram strings.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 3, minHits: Int = 1): DataFrame = {
    require(n >= 1 && minHits >= 1, "n and minHits must be positive")
    def shingleSets(df: DataFrame) = df
      .select(Keys.id(df, idCol).as("doc_id"),
        filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0).as("w"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingleArrayExpr(n))).as("sh"))
    val evalSet = shingleSets(evalDocs).select("sh").distinct()
    shingleSets(docs)
      .join(broadcast(evalSet), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Deterministic stratified exact-k sampling: keep exactly `k` rows per
    * stratum (fewer if the stratum is smaller), chosen by md5-of-id order — a
    * reproducible, engine-portable "give me 1000 docs per source" eval-set
    * cut. One exchange hash-partitioned on the stratum + an in-partition
    * top-k rank; at 100 TB only (id, stratum) pairs shuffle.
    */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    Rank.topK(
        docs.select(Keys.id(docs, idCol).as("doc_id"), col(strataCol).as("stratum")),
        Seq("stratum"), Seq(md5(col("doc_id").cast("string")), col("doc_id")), k, "rn")
      .select(col("doc_id"), col("stratum"), col("rn"))
  }

  /** Deterministic WEIGHTED sampling: keep a row iff its md5-derived uniform
    * draw falls below `rate · weight` (clamped to [0, 1]) — quality-weighted
    * downsampling ("keep high-quality docs proportionally more often"), the
    * importance-sampling counterpart of [[hashSample]]'s per-source rates.
    * The draw is the row's md5 32-bit prefix scaled to [0, 1); the keep
    * decision compares it to `rate · weight` in double arithmetic — both
    * engine-portable, so the exact kept-set is reproducible anywhere, unlike
    * seeded RNG sampling. Null and NaN weights drop the row (no weight, no
    * mass — and under Spark's NaN-is-largest ordering an unfiltered NaN
    * weight would pass EVERY rate, rate 0 included).
    * Narrow filter, zero shuffles; re-weighting re-reads, never re-shuffles.
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      rate: Double): DataFrame = {
    require(rate >= 0.0, "rate must be non-negative")
    // 32-bit md5 prefix as an exact integer in [0, 2^32) — u/2^32 is an
    // exact power-of-two division, so the draw is bit-identical everywhere
    val draw = expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) " +
      "as double) / 4294967296.0d")
    docs
      .select(Keys.id(docs, idCol).as("doc_id"), col(weightCol).cast("double").as("w"))
      .filter(col("w").isNotNull && !isnan(col("w")) &&
        draw < least(lit(1.0), lit(rate) * col("w")))
      .select(col("doc_id"), col("w").as("weight"))
  }

  /** Deterministic hash-based mixture sampling: keep a row iff the first 8 hex
    * chars of md5(doc_id) sort below the rate's threshold — the reproducible
    * per-source downsampling a training-mixture spec needs ("25% of web, 90%
    * of books"). md5 is stable across engines and the comparison is plain
    * string ordering, so the exact kept-set is portable (and SQL-oracle-able),
    * unlike seeded RNG sampling whose kept-set is engine-private. Rates
    * clamp: >= 1 keeps everything, <= 0 keeps nothing. Narrow filter, no
    * shuffle; resampling with a different mixture re-reads, never re-shuffles.
    */
  def hashSample(docs: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    def thresholdHex(r: Double): String =
      if (r >= 1.0) "g" // sorts above every hex digit → keep all
      else if (r <= 0.0) "" // nothing sorts below empty → keep none
      else f"${(r * (1L << 32)).toLong}%08x"
    val bucket = substring(md5(col(idCol).cast("string")), 1, 8)
    val threshold = rates.foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (src, r)) => when(col(sourceCol) === src, lit(thresholdHex(r))).otherwise(acc)
    }
    docs.filter(bucket < threshold)
      .select(Keys.id(docs, idCol).as("doc_id"), col(sourceCol).as("source"))
  }

  /** Deterministic EPOCH UPSAMPLING: repeat each document per its domain's
    * epoch factor — the other half of mixture building ([[hashSample]] /
    * [[tokenBudgetSample]] cut domains DOWN; a training mixture also runs
    * high-quality domains for MORE than one epoch, e.g. "2.5 epochs of
    * wikipedia"). A factor w emits floor(w) copies of every document plus one
    * more iff the document's md5-derived uniform draw falls below frac(w), so
    * each domain's expected token multiple is exactly w and the chosen
    * fractional-epoch subset is a deterministic, engine-portable function of
    * (corpus, factors) — the same draw [[weightedSample]] uses, so the
    * fractional copies are the md5-smallest documents, stable under factor
    * bumps. Output is (doc_id, domain, copy) with copy in [0, ceil(w));
    * factors <= 0 drop the domain.
    *
    * Scale shape: narrow — one sequence+explode per row, no shuffle; the
    * blow-up is exactly the configured epoch factor. Downstream shuffling
    * (the pack/shard stage) sees copies as independent rows, which is what
    * epoch semantics mean.
    */
  def upsampleMixture(docs: DataFrame, idCol: String, domainCol: String,
      factors: Map[String, Double], defaultFactor: Double = 1.0): DataFrame = {
    require((factors.values ++ Seq(defaultFactor)).forall(_ <= 1000.0),
      "epoch factor > 1000 is almost certainly a unit mistake")
    val factor = factors.foldLeft(lit(defaultFactor)) {
      case (acc, (dom, w)) => when(col(domainCol) === dom, lit(w)).otherwise(acc)
    }
    // 32-bit md5 prefix scaled to [0, 1) — exact power-of-two division,
    // identical to weightedSample's draw
    val draw = expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) " +
      "as double) / 4294967296.0d")
    docs
      .select(Keys.id(docs, idCol).as("doc_id"), col(domainCol).as("domain"),
        factor.as("__w"))
      .withColumn("__n", floor(col("__w")).cast("long") +
        when(draw < col("__w") - floor(col("__w")), 1L).otherwise(0L))
      .filter(col("__n") > 0L)
      .select(col("doc_id"), col("domain"),
        explode(expr("sequence(0L, __n - 1L)")).as("copy"))
  }

  /** Deterministic TOKEN-BUDGET sampling: per domain, take documents in
    * md5(doc_id) order until a cumulative token budget is reached — the
    * "2B tokens of web, 500M of code" cut a training-mixture spec is actually
    * written in (token budgets, not document rates — [[hashSample]]'s rate
    * form needs a priori token statistics to hit a budget; this form hits it
    * by construction). A document is kept iff the tokens BEFORE it in its
    * domain's md5 stream are strictly under the budget, so the straddling
    * document is included (total kept ≥ budget, and any positive budget keeps
    * at least one document; budget ≤ 0 keeps none). The md5 order makes the
    * kept-set a deterministic, engine-portable function of (corpus, budgets):
    * re-running, or raising a budget later, extends the same prefix instead
    * of reshuffling the sample — a budget bump is an incremental top-up.
    *
    * Scale shape: one exchange of (doc_id, domain, n_tokens) triples
    * hash-partitioned on the domain, then an in-partition sort + running-sum
    * window. Only the ~24-byte projection shuffles — the text stays in the
    * scan stage; callers semi-join the kept ids back against the corpus. A
    * domain's stream is one partition, so domains parallelize independently;
    * a corpus with few huge domains is the same single-reducer-per-key shape
    * as any per-domain window and would salt the same way if a domain's
    * (id, count) pairs outgrew a reducer.
    */
  /** MIXTURE REPORT: the per-domain summary table a training-mixture spec is
    * reviewed against — doc count, token count, corpus share, and the
    * effective (post-epoch-factor) tokens and share under `factors` — i.e.
    * what [[upsampleMixture]] with these factors would actually feed the
    * trainer. Shares are integer BASIS POINTS (floor of the exact
    * n·10000/total ratio) and effective tokens floor(n_tokens·w₄/10000) with
    * w₄ the factor at 4dp — all integer arithmetic, no cross-engine rounding
    * class to diverge on. One groupBy(domain) exchange over (domain, n_tok)
    * pairs plus a 1-row total broadcast: a 100 TB corpus reports in one scan.
    */
  def mixtureReport(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, factors: Map[String, Double],
      defaultFactor: Double = 1.0): DataFrame = {
    val nTok = size(filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0))
    val myriad = factors.foldLeft(lit(math.round(defaultFactor * 10000))) {
      case (acc, (dom, w)) =>
        when(col("domain") === dom, lit(math.round(w * 10000))).otherwise(acc)
    }
    val perDomain = Par.spread(docs)
      .select(col(domainCol).as("domain"), nTok.cast("long").as("__nt"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
      .withColumn("__w4", myriad.cast("long"))
      .withColumn("eff_tokens", expr("(n_tokens * __w4) div 10000"))
    val totals = perDomain.agg(
      sum("n_tokens").as("__tt"), sum("eff_tokens").as("__te"))
    perDomain.crossJoin(broadcast(totals))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 10000) div __tt").as("token_bp"),
        col("eff_tokens"),
        expr("(eff_tokens * 10000) div __te").as("eff_bp"))
  }

  /** Target-SHARE mixture cut — the form a training-mixture spec is written
    * in when it says "50% web, 30% books, 20% code": given per-domain
    * shares in basis points (must sum to exactly 10000), keep the LARGEST
    * corpus subset whose domain proportions hit the shares. The limiting
    * domain determines the total: total = min_d ⌊n_d·10⁴/bp_d⌋, then each
    * domain keeps its first ⌊bp_d·total/10⁴⌋ documents in md5(doc_id)
    * order — deterministic, engine-portable, and monotone (adding corpus
    * never evicts a previously kept doc of a non-limiting domain's prefix).
    * Domains absent from `shares` are dropped (share 0); a share-listed
    * domain with NO corpus rows makes the whole cut empty (the spec is
    * unsatisfiable — surfacing that loudly beats silently re-normalizing).
    * All arithmetic is integer floor division.
    *
    * Scale shape: one count aggregate collected as ≤|shares| rows (bounded
    * by the ARGUMENT, not the corpus — the IVF-codebook discipline), then
    * the cut ranks by [[Rank.bucketedPrefix]] over the md5 order's 256
    * leading-hex buckets — no per-domain single reducer.
    */
  def mixtureApply(docs: DataFrame, idCol: String, domainCol: String,
      shares: Map[String, Int]): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be positive basis points")
    require(shares.values.sum == 10000,
      s"shares must sum to 10000 bp, got ${shares.values.sum}")
    val base = Rank.md5Salted(docs
      .select(Keys.id(docs, idCol).as("doc_id"),
        col(domainCol).cast("string").as("domain"))
      .filter(col("domain").isin(shares.keys.toSeq: _*)), "doc_id")
      .cache()
    val counts = base.groupBy("domain").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = shares.map { case (d, bp) =>
      counts.getOrElse(d, 0L) * 10000L / bp }.min
    val targets = shares.map { case (d, bp) => d -> bp.toLong * total / 10000L }
    // per-domain caps ride a BROADCAST (domain, cap) frame, not a literal
    // CaseWhen chain — the temperatureMixture fix applied here too: a
    // when-chain's expression depth equals the share count and Catalyst
    // falls over at a few thousand nested branches
    val spark = docs.sparkSession
    import spark.implicits._
    val capDf = targets.toSeq.toDF("domain", "__cap")
    capCut(base, capDf)
  }

  /** Each domain's first `__cap` documents of the [[Rank.md5Salted]]
    * (doc_id, domain) frame `base` in (md5, doc_id) order — the cut
    * [[mixtureApply]] and [[temperatureMixture]] share.
    */
  private def capCut(base: DataFrame, capDf: DataFrame): DataFrame =
    Rank.md5Prefix(base, Seq("domain"), "doc_id")
      .join(broadcast(capDf), Seq("domain"))
      .filter(col("__pre") < col("__cap"))
      .select("doc_id", "domain")

  /** Temperature-flattened mixture sampling — the multilingual α-sampling
    * standard (mBERT/XLM-R practice: sample domain d with probability
    * ∝ n_d^α, α < 1 up-weighting tail domains). Supported α are 1/2 and
    * 1/4 (`alphaQuarters` = 2 or 1), whose powers evaluate as one or two
    * IEEE sqrt's: sqrt is a CORRECTLY ROUNDED basic operation (unlike
    * exp/log/pow — the BASELINE.md portability contract), so any engine
    * holds the bit-identical weight double, and it is floor-quantized to
    * 1e-6 units before any further arithmetic — shares and caps are then
    * exact integer: s_bp(d) = w6_d·10⁴ div Σw6, cap(d) = s_bp·T div 10⁴.
    * Keeps each domain's first cap(d) documents in md5(doc_id) order;
    * `totalDocs` T is the sample-size knob (Σ kept ≤ T by floor).
    *
    * Scale shape: one count aggregate collected as |domains| rows (a
    * mixture domain is a config-scale label — source/language, not a host;
    * the guard rejects unbounded key spaces) and the [[mixtureApply]] cut.
    */
  def temperatureMixture(docs: DataFrame, idCol: String, domainCol: String,
      totalDocs: Long, alphaQuarters: Int = 2): DataFrame = {
    require(totalDocs >= 1, "need totalDocs >= 1")
    require(alphaQuarters == 1 || alphaQuarters == 2,
      "supported temperatures: alphaQuarters = 2 (α = 1/2) or 1 (α = 1/4)")
    val base = Rank.md5Salted(docs
      .select(Keys.id(docs, idCol).as("doc_id"),
        coalesce(col(domainCol).cast("string"), lit("<null>")).as("domain")), "doc_id")
      .cache()
    val counts = base.groupBy("domain").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.size <= 65536,
      s"${counts.size} mixture domains — this operator is for config-scale " +
        "domain labels; cap hosts with Urls.hostCap instead")
    def w6(n: Long): Long = {
      val a = math.sqrt(n.toDouble)
      math.floor((if (alphaQuarters == 1) math.sqrt(a) else a) * 1000000.0).toLong
    }
    val sw = counts.values.map(w6).sum
    // per-domain caps ride a BROADCAST (domain, cap) frame, not a literal
    // CaseWhen chain — r9 ADVICE: a when-chain's expression depth equals
    // the domain count, and Catalyst analysis/codegen falls over at a few
    // thousand nested branches, far below the 65,536-domain guard
    val spark = docs.sparkSession
    import spark.implicits._
    val capDf = counts.toSeq.map { case (d, n) =>
      (d, (w6(n) * 10000L / sw) * totalDocs / 10000L) }
      .toDF("domain", "__cap")
    capCut(base, capDf)
  }

  /** [[mixtureApply]] in the denomination mixture specs are actually
    * written in — TOKENS ("2B of web, 1B of code" as 6667/3333 bp): solve
    * the limiting-domain token total total = min_d ⌊tok_d·10⁴/bp_d⌋ from a
    * per-domain token-count sidecar (bounded by |shares|), turn shares into
    * absolute budgets ⌊bp_d·total/10⁴⌋, and delegate the cut to
    * [[tokenBudgetSample]]'s salted two-level prefix sum. Proportions are
    * exact up to the straddling document per domain (the budget form's
    * documented inclusion rule). Domains absent from `shares` are dropped;
    * a share-listed domain with no tokens makes the cut empty (loud
    * unsatisfiability, like [[mixtureApply]]).
    */
  def tokenShareApply(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, shares: Map[String, Int]): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be positive basis points")
    require(shares.values.sum == 10000,
      s"shares must sum to 10000 bp, got ${shares.values.sum}")
    val nTok = size(filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0))
    val inShares = docs.filter(
      col(domainCol).cast("string").isin(shares.keys.toSeq: _*))
    val toks = inShares
      .select(col(domainCol).cast("string").as("domain"),
        nTok.cast("long").as("__nt"))
      .groupBy("domain").agg(sum("__nt").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = shares.map { case (d, bp) =>
      toks.getOrElse(d, 0L) * 10000L / bp }.min
    val budgets = shares.map { case (d, bp) => d -> bp.toLong * total / 10000L }
    tokenBudgetSample(inShares, idCol, textCol, domainCol, budgets,
      defaultBudget = 0L)
  }

  /** Deterministic pre-training SHARD SHUFFLE assignment: every document gets
    * a (shard, pos) — shard = its 32-bit md5 prefix mod `shards`, pos = its
    * rank within the shard by (md5, doc_id). Training wants the corpus
    * globally shuffled and split into N sequential shard files; doing it with
    * a seeded RNG makes the permutation engine-private and unrepeatable,
    * while the md5 order is a deterministic, engine-portable permutation of
    * (corpus, N): re-running reproduces it bit-for-bit, and because md5 is
    * uniform the shards balance to ±O(√(n/N)) without a planned split.
    * [[graft.sources.Writers.shuffledShards]] materializes this assignment as
    * N sorted shard files.
    *
    * Scale shape: one exchange of (doc_id) keyed on the shard, then an
    * in-partition sort — exactly a shuffle write's cost, which is what a
    * global permutation IS; there is no cheaper shape. N should be >= the
    * cluster's parallelism so shards, not stragglers, bound the write.
    */
  def shardAssign(docs: DataFrame, idCol: String, shards: Int): DataFrame = {
    require(shards >= 1, "need shards >= 1")
    val h = expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) " +
      "as bigint)")
    docs
      .select(Keys.id(docs, idCol).as("doc_id"))
      .withColumn("shard", (h % shards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))) - 1L)
  }

  /** Corpus SNAPSHOT DIFF: classify every doc_id across two snapshots as
    * added / removed / changed / unchanged by (id, content fingerprint) —
    * the audit an incremental curation pipeline runs between ingests ("what
    * did this refresh actually do?"), and the input an incremental dedup
    * pass wants (only `added` + `changed` rows need re-checking). One full
    * outer join on the id over ~48-byte (id, md5) projections — the text
    * itself never moves; fingerprints are computed in the scan stage.
    */
  def datasetDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def fp(df: DataFrame, side: String) = df
      .select(Keys.id(df, idCol).as("doc_id"),
        md5(coalesce(col(textCol), lit(""))).as(s"fp_$side"))
    fp(oldDocs, "old").join(fp(newDocs, "new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Keyed snapshot MERGE — apply a CDC-shaped delta to a corpus snapshot
    * and produce the refreshed snapshot: `upserts` rows replace (or add)
    * their ids, `deletes` ids drop, every other snapshot row passes
    * through untouched. The complement of [[datasetDiff]]: diff tells a
    * rolling refresh WHAT changed, applyDiff is the final step that
    * materializes the next snapshot from (current snapshot, delta) — so
    * by construction `applyDiff(snap, upserts(diff), removed(diff))` over
    * `diff = datasetDiff(snap, next)` reproduces `next` exactly (the
    * PipelinesSpec identity).
    *
    * Semantics: ids are compared via [[Keys.id]] (integral ids widened to
    * long, string ids as-is); `upserts` must carry every snapshot column
    * (matched by NAME — extra columns are dropped, the snapshot's column
    * order wins); a duplicate id inside `upserts` is the caller's
    * ambiguity and passes through as duplicate rows (the SQL MERGE
    * multiple-source-match case — dedup the delta first if that can
    * occur).
    *
    * Scale shape: ONE id-keyed left-anti join of the snapshot against the
    * (upsert ∪ delete) id set plus a union — the delta id frame is
    * ~8-byte rows and typically ≪ snapshot, so AQE broadcasts the
    * anti-join and the corpus-sized side never shuffles; there is no
    * cheaper shape for an upsert into an unordered corpus. At 100 TB the
    * snapshot rewrite cost is the unavoidable output write, not this
    * plan.
    */
  def applyDiff(snapshot: DataFrame, upserts: DataFrame,
      deletes: DataFrame, idCol: String): DataFrame = {
    val retire = upserts.select(Keys.id(upserts, idCol).as("__retire_id"))
      .unionByName(deletes.select(Keys.id(deletes, idCol).as("__retire_id")))
      .distinct()
    val kept = snapshot.join(retire,
      Keys.id(snapshot, idCol) === col("__retire_id"), "left_anti")
    kept.unionByName(
      upserts.select(snapshot.columns.map(col).toIndexedSeq: _*))
  }

  /** Per-domain QUANTILE quality gate: keep each domain's top `q` fraction of
    * documents by score — the form quality thresholds are actually set in
    * ("keep the best 60% of web, best 90% of books"): an absolute score
    * cutoff that is right for one domain guts another, so the threshold must
    * be a within-domain quantile. EXACT rank-based, not approx-percentile:
    * rank by (score desc, doc_id) within the domain, keep iff
    * (rank-1)·10000 < q₄·n where q₄ is the quantile at 4dp resolution and n
    * the domain's doc count — pure integer comparison, so the kept-set is a
    * deterministic, engine-portable function of (corpus, q) with no IEEE
    * threshold arithmetic to diverge on, and every nonempty domain keeps at
    * least one document for q > 0. Null scores are dropped (a doc with no
    * score cannot be quality-ranked).
    *
    * Scale shape: each domain's score range [min, max] and count n (one
    * tiny broadcast aggregate) cut the domain into 256 grid buckets,
    * monotone DESCENDING along the rank order, and [[Rank.bucketedPrefix]]
    * ranks within them — EXACTLY the single-reducer result for any score
    * distribution. Degenerate residual: a domain whose kept boundary falls
    * inside one massive EQUAL-score tie group still concentrates that group
    * in one bucket (ties cut by doc_id are inherently one ordered stream).
    * The narrow (doc_id, domain, score) projection is cached (caller
    * releases per [[Caches]]) — the range aggregate and the rank both read it.
    */
  def quantileFilter(docs: DataFrame, idCol: String, scoreCol: String,
      domainCol: String, q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    val myriad = math.round(q * 10000).toInt // 4dp resolution
    val base = docs
      .select(Keys.id(docs, idCol).as("doc_id"),
        col(domainCol).as("domain"), col(scoreCol).cast("double").as("score"))
      .filter(col("score").isNotNull && !isnan(col("score")))
      .cache()
    // per-domain score range + count: one broadcastable row per domain,
    // joined back null-safe so null-domain rows rank as one group
    val rng = base.groupBy(col("domain").as("__rd")).agg(
      min("score").as("__lo"), max("score").as("__hi"),
      count(lit(1)).as("__n"))
    // grid bucket, monotone DESCENDING in score so bucket order = rank order
    val bucketed = base.join(broadcast(rng), col("domain") <=> col("__rd"))
      .withColumn("__b", when(col("__hi") === col("__lo"), lit(0)).otherwise(
        least(lit(255), floor((col("__hi") - col("score"))
          / (col("__hi") - col("__lo")) * 256).cast("int"))))
    Rank.bucketedPrefix(bucketed, Seq("domain"), "__b",
        Seq(col("score").desc, col("doc_id").asc))
      .filter(col("__pre") * 10000L < lit(myriad.toLong) * col("__n"))
      .select("doc_id", "domain", "score")
  }

  /** Per-domain TOKEN-BUDGET sampling: keep each domain's md5-ordered prefix of
    * documents until the domain's token budget is spent (the straddling doc is
    * kept — same exclusive-prefix convention as [[packSequences]]). `start_tok`
    * is the exclusive running token sum before the doc in md5 order, so the
    * kept-set is a deterministic, engine-portable function of (corpus, budgets).
    *
    * Scale shape: `start_tok` is [[Rank.bucketedPrefix]] of the token counts
    * over the md5 order's 256 leading-hex buckets, so no domain routes through
    * one reducer (ProfileSkew's 90%-one-domain corpus pins the no-straggler
    * claim). The narrow (doc_id, domain, n_tokens) projection is cached
    * (caller releases per the [[Caches]] contract) because both levels of the
    * prefix read it — without the cache the tokenization pass would run twice.
    */
  def tokenBudgetSample(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue): DataFrame = {
    val nTok = size(filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0))
    val base = Rank.md5Salted(Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      col(domainCol).as("domain"),
      nTok.cast("long").as("n_tokens")), "doc_id")
      .cache()
    // a null domain never equals a configured name, so it draws the default
    // budget — the pre-split Window semantics
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (dom, b)) => when(col("domain") === dom, lit(b)).otherwise(acc)
    }
    Rank.md5Prefix(base, Seq("domain"), "doc_id", Some(col("n_tokens")), "start_tok")
      .filter(col("start_tok") < budget)
      .select(col("doc_id"), col("domain"), col("n_tokens"), col("start_tok"))
  }

  /** Persisted TOKEN-BUDGET state: tokens already shipped per domain — one
    * row per domain seen so far, the [[graft.operators.Urls.urlState]]
    * pattern for the mixture gates. Append-merge across crawl snapshots by
    * summing (integer sums are order- and slicing-insensitive, so the state
    * after N batches is identical however the stream was cut). Callers pass
    * the KEPT rows of each batch (what actually shipped to training), i.e.
    * [[tokenBudgetIncremental]]'s output.
    */
  def tokenBudgetState(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String): DataFrame = {
    val nTok = size(filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0))
    Par.spread(docs)
      .select(col(domainCol).as("domain"), nTok.cast("long").as("n_tokens"))
      .groupBy("domain").agg(sum("n_tokens").as("spent_tok"))
  }

  /** Incremental [[tokenBudgetSample]] — the rolling-crawl form: each new
    * snapshot keeps its per-domain md5-ordered prefix only until the
    * REMAINING budget (budget minus the persisted [[tokenBudgetState]]
    * spend) is exhausted, straddling doc kept, already-exhausted domains
    * contribute nothing. `start_tok` reported is the GLOBAL running total
    * (state spend + within-batch exclusive prefix), so consecutive batches
    * chain exactly: feeding batches one at a time with the state rolled
    * forward keeps the same doc set as one concatenated batch would, except
    * each straddling doc resets per batch boundary — the exact semantics of
    * shipping data as it arrives.
    *
    * Scale shape: [[tokenBudgetSample]]'s prefix plus one broadcast join of
    * the ≤|domains|-row state — no new exchange, no per-domain reducer.
    */
  def tokenBudgetIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, domainCol: String, state: DataFrame,
      budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue): DataFrame = {
    require(state.columns.contains("domain") && state.columns.contains("spent_tok"),
      "state must be a tokenBudgetState table carrying (domain, spent_tok)")
    val nTok = size(filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0))
    val base = Rank.md5Salted(Par.spread(newDocs).select(
      Keys.id(newDocs, idCol).as("doc_id"),
      col(domainCol).as("domain"),
      nTok.cast("long").as("n_tokens")), "doc_id")
      .cache()
    // the ≤|domains|-row spend state, joined null-safe on the domain name
    val spent = state.select(col("domain").cast("string").as("__sd"),
      col("spent_tok").cast("long").as("__spent"))
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (dom, b)) => when(col("domain") === dom, lit(b)).otherwise(acc)
    }
    Rank.md5Prefix(base, Seq("domain"), "doc_id", Some(col("n_tokens")))
      .join(broadcast(spent), col("domain").cast("string") <=> col("__sd"), "left")
      .withColumn("start_tok", coalesce(col("__spent"), lit(0L)) + col("__pre"))
      .filter(col("start_tok") < budget)
      .select(col("doc_id"), col("domain"), col("n_tokens"), col("start_tok"))
  }

  /** Persisted per-domain SCORE-HISTOGRAM state for the rolling quantile
    * gate: counts over a FROZEN 6dp-decimal score grid [lo, hi] cut into
    * `bins` equal cells (scores clamp to the grid edges; all bucket
    * arithmetic is integer on non-negative operands, so the cell of a score
    * is engine-portable). A rolling crawl cannot keep every historical score
    * to re-rank exactly; the fixed grid is the bounded summary that makes
    * the threshold deterministic — the frozen-seed discipline
    * ([[graft.operators.Semantic]]) applied to the score axis. State is
    * additive: histograms from any batch slicing sum to the same table
    * (merge by summing `n` per (domain, bucket)).
    */
  def quantileState(docs: DataFrame, idCol: String, scoreCol: String,
      domainCol: String, lo: Double, hi: Double, bins: Int = 64): DataFrame = {
    val (lo6, hi6) = (dec6(lo), dec6(hi))
    require(hi6 > lo6, s"need lo < hi at 6dp, got [$lo, $hi]")
    require(bins >= 2 && bins <= 65536, "bins must be in [2, 65536]")
    docs
      .filter(col(scoreCol).isNotNull && !isnan(col(scoreCol).cast("double")))
      .select(col(domainCol).as("domain"),
        (col(scoreCol).cast("decimal(18,6)") * lit(1000000L)).cast("long").as("__s6"))
      .withColumn("__c6", greatest(lit(lo6), least(lit(hi6), col("__s6"))))
      .withColumn("bucket", expr(
        s"cast(least(${bins - 1}L, ((__c6 - (${lo6}L)) * ${bins}L) div ${hi6 - lo6}L) as int)"))
      .groupBy("domain", "bucket").agg(count(lit(1)).as("n"))
  }

  /** Incremental [[quantileFilter]] — the rolling-crawl quantile gate: keep
    * each domain's batch rows whose grid cell lies above the quantile
    * cutoff of the MERGED score distribution (persisted [[quantileState]]
    * histogram + this batch), at grid resolution: a cell is kept iff the
    * rows in strictly-higher cells are still under the q-quota
    * (above·10⁴ < q₄·n — the boundary cell is kept whole, an over-keep of
    * at most one grid cell per domain; the exact-rank batch op is the
    * within-snapshot tool, this is the cross-snapshot one). Deterministic
    * integer arithmetic end to end, so the kept-set is an engine-portable
    * function of (state, batch, q, grid).
    *
    * Scale shape: the batch histogram is one map-side-combinable groupBy;
    * the merged histogram, cutoffs and totals live on ≤ |domains|·bins rows
    * (tiny — windowed and broadcast back); batch rows join the kept-cell
    * set by (domain, bucket). No per-domain reducer touches corpus rows.
    */
  def quantileIncremental(newDocs: DataFrame, idCol: String, scoreCol: String,
      domainCol: String, state: DataFrame, q: Double,
      lo: Double, hi: Double, bins: Int = 64): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    require(state.columns.contains("domain") && state.columns.contains("bucket"),
      "state must be a quantileState table carrying (domain, bucket, n)")
    val myriad = math.round(q * 10000)
    val (lo6, hi6) = (dec6(lo), dec6(hi))
    require(hi6 > lo6, s"need lo < hi at 6dp, got [$lo, $hi]")
    val batch = newDocs
      .filter(col(scoreCol).isNotNull && !isnan(col(scoreCol).cast("double")))
      .select(Keys.id(newDocs, idCol).as("doc_id"),
        col(domainCol).as("domain"),
        col(scoreCol).cast("double").as("score"),
        (col(scoreCol).cast("decimal(18,6)") * lit(1000000L)).cast("long").as("__s6"))
      .withColumn("__c6", greatest(lit(lo6), least(lit(hi6), col("__s6"))))
      .withColumn("bucket", expr(
        s"cast(least(${bins - 1}L, ((__c6 - (${lo6}L)) * ${bins}L) div ${hi6 - lo6}L) as int)"))
      .withColumn("__dk", coalesce(col("domain").cast("string"), lit("")))
      .withColumn("__dn", col("domain").isNull)
    val batchHist = batch.groupBy("__dk", "__dn", "bucket")
      .agg(count(lit(1)).as("n"))
    val stateHist = state.select(
      coalesce(col("domain").cast("string"), lit("")).as("__dk"),
      col("domain").isNull.as("__dn"),
      col("bucket").cast("int").as("bucket"),
      col("n").cast("long").as("n"))
    val hist = stateHist.unionByName(batchHist)
      .groupBy("__dk", "__dn", "bucket").agg(sum("n").as("n"))
    val tots = hist.groupBy("__dk", "__dn").agg(sum("n").as("__tot"))
    val keptCells = hist
      .withColumn("__above", coalesce(sum("n").over(
        Window.partitionBy("__dk", "__dn").orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(tots, Seq("__dk", "__dn"))
      .filter(col("__above") * 10000L < lit(myriad) * col("__tot"))
      .select("__dk", "__dn", "bucket")
    batch.join(broadcast(keptCells), Seq("__dk", "__dn", "bucket"))
      .select("doc_id", "domain", "score")
  }

  /** 6dp fixed-point interpretation of a grid/threshold constant (the
    * [[graft.operators.QualityClassifier]] convention).
    */
  private def dec6(v: Double): Long = {
    val v6 = math.rint(v * 1000000L).toLong
    require(math.abs(v6 / 1e6 - v) < 1e-12,
      s"grid bound must be expressible at 6dp precision, got $v")
    v6
  }
}
