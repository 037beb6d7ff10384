package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSqlShims}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._

import graft.functions.PortableLog

/** Text-analysis operators over a document corpus (north-star extension,
  * SURVEY.md §2.13). Everything here is pure `functions._` composition — codegen'd,
  * no UDFs, trivially distributed: one narrow map stage over the corpus, so at
  * 100 TB it scales linearly with input splits and never shuffles.
  */
object TextAnalysis {

  /** The word tokenizer every Spark-side text operator shares: the
    * non-empty runs of a lower-cased text split on whitespace. A null text
    * yields null; callers that want it total wrap the text in
    * `coalesce(…, "")` first.
    */
  private[graft] def words(textCol: Column): Column =
    filter(split(lower(textCol), "\\s+"), w => length(w) > 0)

  /** Per-document stats: token count, char count, avg word length, stopword ratio,
    * punctuation ratio, uppercase ratio.
    */
  def qualityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    val nTok = size(w)
    val stop = size(filter(w, x => x.isin("the", "a", "an", "and", "of", "to", "in")))
    val punct = length(regexp_replace(col(textCol), "[^.,;:!?'\"()-]", ""))
    val upper = length(regexp_replace(col(textCol), "[^A-Z]", ""))
    val chars = length(col(textCol))
    Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      chars.as("n_chars"),
      nTok.as("n_tokens"),
      (floor(((chars - (nTok - 1)).cast("double") / nTok) * 10000)
        .cast("double") / 10000.0).as("avg_word_len"),
      (floor((stop.cast("double") / nTok) * 10000)
        .cast("double") / 10000.0).as("stopword_ratio"),
      (floor((punct.cast("double") / chars) * 10000)
        .cast("double") / 10000.0).as("punct_ratio"),
      (floor((upper.cast("double") / chars) * 10000)
        .cast("double") / 10000.0).as("upper_ratio"))
  }

  /** The GOPHER quality rules (Rae et al. 2021, A1.1) as a deterministic
    * gate: every ratio threshold is evaluated as an INTEGER cross-multiplied
    * comparison (the quantileFilter myriad discipline), so the verdict is an
    * engine-portable function of the text with no IEEE thresholds:
    *   1. word count in [minWords, maxWords];
    *   2. mean word length in [3, 10]           (3n ≤ Σ|w| ≤ 10n);
    *   3. symbol-to-word ratio ≤ 0.1            (10·(#'#' + #'...') ≤ n);
    *   4. ≤ 90% of lines start with a bullet    (10·bullets ≤ 9·lines);
    *   5. ≤ 30% of lines end with an ellipsis   (10·ellipsis ≤ 3·lines);
    *   6. ≥ 80% of words contain a letter       (10·alpha ≥ 8·n);
    *   7. ≥ 2 distinct Gopher stop words present.
    * Output: per-rule booleans + the conjunction. One narrow codegen'd pass.
    */
  /** The Gopher rule columns over a (coalesced) text column: n_words plus
    * the seven ok_ flags, in declaration order — shared by [[gopherGate]]
    * (which surfaces each flag) and [[tagDocs]] (which surfaces the
    * conjunction).
    */
  private def gopherRuleCols(t: Column, minWords: Int,
      maxWords: Int): Seq[(String, Column)] = {
    val ws = words(t)
    val n = size(ws).cast("long")
    val totalLen = aggregate(transform(ws, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val hashes = (length(t) - length(replace(t, lit("#"), lit("")))).cast("long")
    val dots = ((length(t) - length(replace(t, lit("..."), lit("")))) / 3).cast("long")
    val lines = filter(transform(split(t, "\n"), l => trim(l)),
      l => length(l) > 0)
    val nl = size(lines).cast("long")
    val bullets = size(filter(lines,
      l => substring(l, 1, 1).isin("•", "‣", "-", "*"))).cast("long")
    val ellipsis = size(filter(lines,
      l => l.endsWith("...") || l.endsWith("…"))).cast("long")
    // \p{L}: Gopher's rule is "contains at least one ALPHABETIC character" —
    // [a-z] would fail every non-Latin-script word (Cyrillic, Greek, CJK);
    // \p{L} is interpreted identically by Java regex and RE2
    val alpha = size(filter(ws, w => w.rlike("\\p{L}"))).cast("long")
    val stops = array(GopherStopWords.map(lit): _*)
    val nStops = size(array_intersect(array_distinct(ws), stops))
    Seq(
      "n_words" -> n,
      "ok_word_count" -> n.between(minWords, maxWords),
      "ok_mean_word_len" ->
        (lit(3L) * n <= totalLen && totalLen <= lit(10L) * n),
      "ok_symbol_ratio" -> (lit(10L) * (hashes + dots) <= n),
      "ok_bullet_lines" -> (lit(10L) * bullets <= lit(9L) * nl),
      "ok_ellipsis_lines" -> (lit(10L) * ellipsis <= lit(3L) * nl),
      "ok_alpha_words" -> (lit(10L) * alpha >= lit(8L) * n),
      "ok_stop_words" -> (nStops >= 2))
  }

  def gopherGate(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val cols = gopherRuleCols(t, minWords, maxWords)
    Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id") +:
      cols.map { case (name, c) => c.as(name) }: _*)
      .withColumn("passed",
        cols.drop(1).map { case (name, _) => col(name) }.reduce(_ && _))
  }

  /** Gopher's stop-word presence list (Rae 2021 A1.1). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The C4 cleaning rules (Raffel et al. 2020 §2.2) as a deterministic
    * line-level gate:
    *   - keep only lines that end in terminal punctuation (. ! ? ")
    *     AND have ≥ `minLineWords` words AND do not contain "javascript";
    *   - drop the DOC if the cleaned text has < 3 sentence terminators,
    *     or the raw text contains "lorem ipsum" or "{".
    * Output: (doc_id, text = kept lines re-joined, n_kept, kept). One narrow
    * codegen'd pass, no shuffle — composes with [[htmlExtract]] upstream.
    */
  /** The C4 rule columns over a (coalesced) text column:
    * (cleaned text, kept-line count, doc verdict) — shared by [[c4Gate]]
    * and [[tagDocs]].
    */
  private def c4Cols(t: Column, minLineWords: Int): (Column, Column, Column) = {
    val lines = transform(split(t, "\n"),
      l => trim(regexp_replace(l, "\\s+", " ")))
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")) &&
        size(filter(split(l, " "), w => length(w) > 0)) >= minLineWords &&
        !lower(l).contains("javascript"))
    val cleaned = array_join(kept, "\n")
    val verdict = size(regexp_extract_all(cleaned, lit("[.!?]"), lit(0))) >= 3 &&
      !lower(t).contains("lorem ipsum") &&
      !t.contains("{")
    (cleaned, size(kept), verdict)
  }

  def c4Gate(docs: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val (cleaned, nKept, verdict) = c4Cols(t, minLineWords)
    Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      cleaned.as("text"), nKept.as("n_kept"), verdict.as("kept"))
  }

  /** Word-list gate — the C4 blocklist rule (Raffel et al. 2020 §2.2 drop
    * any page containing a word from a configured "bad words" list). Tokens
    * are the usual lower-cased whitespace words with leading/trailing
    * non-alphanumerics stripped, so boundary punctuation cannot hide a hit
    * ("word!" matches "word") while substrings never match ("class" never
    * matches "ass" — the over-dropping a naive contains() filter is famous
    * for). Output: (doc_id, n_hits = matching token OCCURRENCES,
    * kept = n_hits <= maxHits).
    *
    * Scale shape: one narrow codegen'd pass, zero shuffles at any corpus
    * size; the list rides the plan as a literal array (real lists are a few
    * hundred entries — bytes of plan, no broadcast, no join).
    */
  /** Blocklist hit count over a (coalesced) text column — shared by
    * [[wordlistGate]] and [[tagDocs]].
    */
  private def wordlistHitCount(t: Column, blocklist: Seq[String]): Column = {
    // entries get the SAME boundary strip the tokens get — a list scraped
    // from a real blocklist file can carry punctuation that would otherwise
    // make the entry unmatchable forever
    val entries = blocklist.map(_.toLowerCase
      .replaceAll("^[^\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+$", "")).filter(_.nonEmpty)
    require(entries.nonEmpty, "blocklist is empty after boundary stripping")
    val block = array(entries.map(lit): _*)
    val stripped = transform(words(t), w =>
      regexp_replace(regexp_replace(w, "^[^\\p{L}\\p{N}]+", ""),
        "[^\\p{L}\\p{N}]+$", ""))
    size(filter(stripped, w => array_contains(block, w)))
  }

  def wordlistGate(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String], maxHits: Int = 0): DataFrame = {
    require(blocklist.nonEmpty, "need a non-empty blocklist")
    val hits = wordlistHitCount(coalesce(col(textCol), lit("")), blocklist)
    Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      hits.as("n_hits"),
      (hits <= maxHits).as("kept"))
  }

  /** BM25 ranked-retrieval scores for a term query over the corpus — the
    * standard lexical relevance function (Robertson/Spärck Jones; the
    * scorer behind Lucene/Elasticsearch defaults) at k1 = 1.2, b = 0.75,
    * with the Lucene-style +1 inside the idf log so scores stay positive.
    * Output: (doc_id, bm25_e6 BIGINT — the score in exact 1e-6 micro-units;
    * divide by 1e6 for display) for every document containing at least one
    * query term (retrieval semantics — non-matching docs score 0 and are
    * omitted). The surface is a plain BIGINT, not a DECIMAL: round 9 proved
    * the driver's oracle build diverges on DECIMAL-typed comparison columns
    * even when the values agree, so micro-units ARE the contract.
    *
    * Determinism (the BASELINE.md oracle-portability contract): idf =
    * ln((2N+2)/(2·df+1)) — a ratio of exact integers — evaluated by the
    * compiled [[PortableLog.ln]] kernel (bit-identical to the oracle's SQL
    * text on any engine) and floor-quantized to 1e-6 units; the
    * tf/length-normalization factor is evaluated wholly in integer
    * arithmetic as tfq6 = (22·tf·10⁶) div (10·tf + 3 + q) with
    * q = (9·dl·N) div L — the k1/b constants cleared to integers and the
    * avgdl ratio floor-quantized (|error| < 1 in a ≥ 10·tf+3 denominator;
    * documented deviation from real-division BM25, irrelevant to ranking).
    * Per-(doc, term) contributions are integer micro-units, so the per-doc
    * sum is exact and order-free. Overflow headroom: safe while dl·N < 1e18
    * (an exabyte-class corpus) and tf < 4e11.
    *
    * Scale shape: two narrow passes over a (doc_id, words) projection (one
    * corpus-stats aggregate broadcast as one row, one term-filtered explode
    * — the filter keeps only query-term tokens, so the exploded stream is
    * the MATCHING token volume, not the corpus), a broadcast join of the
    * ≤|terms|-row df table, and one map-side-combinable per-doc sum.
    */
  /** The BM25 integer arithmetic, shared verbatim by the in-plan scorers
    * and the materialized-index probe: consumes (tf, dl, df, nd, ltot)
    * columns, yields the per-(doc, term) micro-unit contribution `c6` and
    * the per-doc BIGINT micro-unit sum (exact, order-free). All three
    * columns are built as Columns: idf6 runs the compiled [[PortableLog.ln]]
    * kernel twice per row and the tf factor is plain BIGINT `div`, the same
    * expressions and evaluation order the DuckDB oracle text spells out.
    */
  private def bm25Contribution(scored: DataFrame): DataFrame =
    scored
      .withColumn("idf6", e6(PortableLog.ln(lit(2) * col("nd") + lit(2)) -
        PortableLog.ln(lit(2) * col("df") + lit(1))))
      .withColumn("tfq6", div(lit(22L) * col("tf") * lit(1000000L),
        lit(10L) * col("tf") + lit(3L) + div(lit(9L) * col("dl") * col("nd"), col("ltot"))))
      .withColumn("c6", div(col("idf6") * col("tfq6"), lit(1000000L)))

  private val bm25SumExpr = sum(col("c6"))

  /** `a div b`: Spark's BIGINT integral division, as the SQL operator. */
  private def div(a: Column, b: Column): Column = GraftSqlShims.columnOf(
    IntegralDivide(GraftSqlShims.expressionOf(a), GraftSqlShims.expressionOf(b)))

  /** floor(x · 10⁶) as BIGINT micro-units. */
  private def e6(x: Column): Column = floor(x * 1000000.0).cast("bigint")

  /** lp6[num/den]: the [[PortableLog]] log10 of an exact integer ratio as
    * BIGINT micro-units — the per-entry log-prob of the LM and DSIR tables.
    */
  private def lp6(num: Column, den: Column): Column = e6(PortableLog.log10Ratio(num, den))

  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
      query: String): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query must contain at least one term")
    val base = Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      words(coalesce(col(textCol), lit(""))).as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
    val stats = base.agg(count(lit(1)).as("nd"),
      coalesce(sum("dl"), lit(0L)).as("ltot"))
    val tok = base.select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .filter(col("term").isin(terms.map(lit): _*))
    val tf = tok.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val dfT = tok.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    bm25Contribution(tf
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats)))
      .groupBy("doc_id")
      .agg(bm25SumExpr.as("bm25_e6"))
  }

  /** Materialize a BM25 POSTING-LIST index: postings partitioned by the
    * term's 2-hex md5 bucket (256 directories), rows
    * (term, doc_id, tf, dl); sidecar `<dir>.stats` holds the 1-row corpus
    * statistics (N docs, total tokens), `<dir>.docs` the per-doc lengths
    * (doc_id, dl — the Lucene-norms table; what lets [[bm25IndexDelete]]
    * retire documents with EXACT stats maintenance instead of a rebuild).
    * df is deliberately NOT stored: a probe recomputes it exactly as the
    * posting count per term over the pruned partitions, so no second
    * per-term sidecar can drift from the postings. This is the
    * [[graft.operators.Similarity.ivfWrite]] story
    * for lexical search — at 100 TB a probe reads ONLY the query terms'
    * bucket directories (~|terms|/256 of the index), never the corpus and
    * never the full index.
    */
  def bm25IndexWrite(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = docs.sparkSession
    // the writes below share the tokenize pass
    Par.pinned(Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      words(coalesce(col(textCol), lit(""))).as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))) { base =>
      // three independent outputs off the shared pinned tokenize pass —
      // overlap them (guide §2.6)
      Par.inParallel(
        () => base.agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("ltot"))
          .write.mode("overwrite").parquet(s"$dir.stats"),
        () => base.select("doc_id", "dl")
          .write.mode("overwrite").parquet(s"$dir.docs"),
        () => base.select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
          .groupBy("term", "doc_id")
          .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
          .withColumn("bucket", concat(lit("b"), substring(md5(col("term")), 1, 2)))
          // hash-cluster by bucket before the partitioned write so each bucket
          // directory holds one file per writing task that OWNS it, not one
          // per upstream partition (guide §6 small-files; the Similarity
          // ivfWrite rationale) — probes open ~|terms| files, not |terms|·cores
          .repartition(col("bucket"))
          .write.partitionBy("bucket").mode("overwrite").parquet(dir))
      // a rebuild starts from a clean slate: clear any tombstones left by
      // bm25IndexDelete against the PREVIOUS index generation
      val (fs, pTomb) = fsAt(spark, s"$dir.tombstones")
      if (fs.exists(pTomb)) fs.delete(pTomb, true)
    }
  }

  private def fsAt(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The staged-sidecar commit protocol shared by [[bm25IndexAppend]] and
    * [[bm25IndexDelete]]: `<dir>.stats.next` is staged BEFORE the payload
    * (postings / tombstones) lands, and an empty `_PAYLOAD_COMMITTED`
    * marker is dropped inside it AFTER — so recovery can tell the two
    * crash windows apart (the r9 ADVICE gap: without the marker, an
    * operator completing the swap after a crash-before-payload would
    * install stats that count documents whose postings never landed).
    */
  private def requireNoStagedSidecar(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (fs, pNext) = fsAt(spark, s"$dir.stats.next")
    if (fs.exists(pNext)) {
      val committed =
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir.stats.next/_PAYLOAD_COMMITTED"))
      if (committed)
        throw new IllegalStateException(
          s"$dir.stats.next exists WITH its payload-committed marker: a " +
            "previous append/delete crashed after its payload landed — " +
            "finish the swap (rename .stats.next over .stats), then retry")
      else
        throw new IllegalStateException(
          s"$dir.stats.next exists WITHOUT its payload-committed marker: a " +
            "previous append/delete crashed and its payload may not have " +
            "landed — REBUILD the index (bm25IndexWrite); completing the " +
            "swap could install stats counting documents with no postings")
    }
  }

  private def markPayloadCommitted(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (fs, marker) = fsAt(spark, s"$dir.stats.next/_PAYLOAD_COMMITTED")
    fs.create(marker, true).close()
  }

  /** [[graft.catalog.Swap.replace]] `<dir>.stats.next` over `<dir>.stats`
    * — never a torn 1-row sidecar.
    */
  private def swapStats(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (fs, p) = fsAt(spark, s"$dir.stats")
    graft.catalog.Swap.replace(fs, new org.apache.hadoop.fs.Path(s"$dir.stats.next"),
      p, new org.apache.hadoop.fs.Path(s"$dir.stats.old"))()
  }

  /** Append NEW documents to a materialized [[bm25IndexWrite]] index — the
    * rolling-crawl form: postings for the batch land as appended files
    * under the same bucket directories (touching no existing file), and the
    * stats sidecar is rewritten as old + delta. df needs no maintenance at
    * all — probes recompute it from the postings, so an incrementally-grown
    * index probes IDENTICALLY to one built in a single shot (spec-proven).
    * Contract (the exactIncremental discipline): batch doc_ids must be new
    * — re-appending a doc would double its postings; dedupe upstream.
    *
    * Crash semantics, stated exactly: the SIDECAR swap itself can never
    * tear (either the old or the new 1-row file is in place), but postings
    * commit before the swap, so a crash in between leaves the batch's
    * postings live against the pre-batch stats — probes then score with a
    * slightly stale idf/avgdl until recovery. The staged `.stats.next`
    * directory is the recovery marker, and its `_PAYLOAD_COMMITTED` flag
    * disambiguates the windows: marker present ⇒ postings landed, the
    * operator completes the swap; marker absent ⇒ postings uncertain,
    * rebuild. Either way this function REFUSES to run while `.stats.next`
    * exists (a blind retry would double-append the batch).
    */
  def bm25IndexAppend(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val spark = docs.sparkSession
    requireNoStagedSidecar(spark, dir)
    Par.pinned(Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      words(coalesce(col(textCol), lit(""))).as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))) { base =>
      val delta = base.agg(count(lit(1)).as("nd"),
        coalesce(sum("dl"), lit(0L)).as("ltot")).head()
      val prev = spark.read.parquet(s"$dir.stats").head()
      import spark.implicits._
      // merged sidecar staged beside, postings appended, then the sidecar
      // rename-swapped (the ivfPqCompact idiom) — a crash leaves either the
      // old or the new sidecar in place, never a torn or missing one.
      // The staged sidecar is the recovery marker, so it lands FIRST and
      // alone: were it written beside the payload and failed while the
      // appends landed, a retry would find no marker and append twice
      Seq((prev.getLong(0) + delta.getLong(0), prev.getLong(1) + delta.getLong(1)))
        .toDF("nd", "ltot").write.mode("overwrite").parquet(s"$dir.stats.next")
      // the two payload appends are independent (disjoint paths) and the
      // commit marker only lands after both — overlap (guide §2.6)
      Par.inParallel(
        () => base.select("doc_id", "dl")
          .write.mode("append").parquet(s"$dir.docs"),
        () => base.select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
          .groupBy("term", "doc_id")
          .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
          .withColumn("bucket", concat(lit("b"), substring(md5(col("term")), 1, 2)))
          .repartition(col("bucket")) // bucket-clustered append (see write)
          .write.partitionBy("bucket").mode("append").parquet(dir))
      markPayloadCommitted(spark, dir)
      swapStats(spark, dir)
    }
  }

  /** Retire documents from a materialized BM25 index — the takedown /
    * recrawl-retraction form (VERDICT r9 missing #2: append existed
    * everywhere, removal forced a rebuild). Deletion is a TOMBSTONE, not a
    * rewrite: the doc_ids land in the `<dir>.tombstones` sidecar and every
    * probe anti-joins it, so no posting file is touched — O(|deleted|)
    * work regardless of index size, the only delete shape that holds at
    * 100 TB. Correctness is maintenance-free by construction:
    *  - df: probes recompute it from SURVIVING postings (post-anti-join),
    *    so term rarity reflects the retirements exactly;
    *  - nd/ltot: recomputed EXACTLY from the `<dir>.docs` length sidecar
    *    minus the full tombstone set and rename-swapped in — no drift, no
    *    estimate (this is why [[bm25IndexWrite]] keeps the norms table);
    * so probe(build + append + delete) ≡ probe(one-shot build on the
    * surviving set) bit-for-bit (q_bm25_delete's oracle + spec).
    *
    * Contract: a tombstoned doc_id must NOT be re-appended until the index
    * is rebuilt ([[bm25IndexWrite]] clears tombstones) — the tombstone
    * would silently hide the new postings. Deleting an id absent from the
    * index is a no-op (tombstones are an anti-join set). Crash discipline
    * is [[bm25IndexAppend]]'s staged-sidecar protocol verbatim; the
    * payload here is the tombstone append.
    */
  def bm25IndexDelete(docIds: DataFrame, idCol: String, dir: String): Unit = {
    val spark = docIds.sparkSession
    requireNoStagedSidecar(spark, dir)
    Par.pinned(docIds.select(Keys.id(docIds, idCol).as("doc_id")).distinct()) { ids =>
      val (fs, pTomb) = fsAt(spark, s"$dir.tombstones")
      val removed =
        if (fs.exists(pTomb))
          ids.unionByName(spark.read.parquet(s"$dir.tombstones")).distinct()
        else ids
      spark.read.parquet(s"$dir.docs")
        .join(removed, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("ltot"))
        .write.mode("overwrite").parquet(s"$dir.stats.next")
      ids.write.mode("append").parquet(s"$dir.tombstones")
      markPayloadCommitted(spark, dir)
      swapStats(spark, dir)
    }
  }

  /** Probe a materialized [[bm25IndexWrite]] index: read ONLY the query
    * terms' bucket partitions (directory-level pruning via the `bucket
    * isin` filter — PlanSpec pins the PartitionFilters line), recompute df
    * from the pruned postings, and score with the IDENTICAL integer
    * arithmetic as [[bm25Score]] — so the probe hash-matches the in-plan
    * scorer exactly (q_bm25_probe shares q_bm25's oracle).
    */
  def bm25Probe(spark: org.apache.spark.sql.SparkSession, dir: String,
      query: String): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query must contain at least one term")
    val buckets = terms.map { t =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f"b${d(0) & 0xff}%02x"
    }.distinct
    val stats = spark.read.parquet(s"$dir.stats")
    val raw = spark.read.parquet(dir)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms.map(lit): _*))
    // retirement filter: tombstoned docs drop BEFORE df recomputation, so
    // term rarity reflects only surviving documents (the delete contract);
    // the tombstone side is the small side — Spark broadcasts the anti-join
    val (fs, pTomb) = fsAt(spark, s"$dir.tombstones")
    val postings =
      if (fs.exists(pTomb))
        raw.join(spark.read.parquet(s"$dir.tombstones"), Seq("doc_id"), "left_anti")
      else raw
    val dfT = postings.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Contribution(postings
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats)))
      .groupBy("doc_id")
      .agg(bm25SumExpr.as("bm25_e6"))
  }

  /** [[bm25Probe]] for a QUERIES DataFrame — the index-serving workload
    * shape (the [[bm25ScoreBatch]] convention applied to the MATERIALIZED
    * index): prune the posting scan to the UNION of every query's term
    * buckets, recompute df from the pruned postings (maintenance-free, the
    * probe contract — tombstoned docs drop first), fan out per query via
    * the broadcast query-term list, WindowGroupLimit top-k per query_id.
    * The distinct term list collects to pick bucket directories — bounded
    * by the query workload (plan-time data, exactly what the single-query
    * probe already holds as a string). At 100 TB a batch of Q queries
    * reads the union of their buckets ONCE — not Q scans, not the corpus.
    */
  def bm25ProbeBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "need k >= 1")
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(words(coalesce(col(queryTextCol), lit("")))))
        .as("term")).distinct()
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq // bounded: the query workload
    require(terms.nonEmpty, "queries must contain at least one term")
    val buckets = terms.map { t =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f"b${d(0) & 0xff}%02x"
    }.distinct
    val stats = spark.read.parquet(s"$dir.stats")
    val raw = spark.read.parquet(dir)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms.map(lit): _*))
    val (fs, pTomb) = fsAt(spark, s"$dir.tombstones")
    val postings =
      if (fs.exists(pTomb))
        raw.join(spark.read.parquet(s"$dir.tombstones"), Seq("doc_id"), "left_anti")
      else raw
    val dfT = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = bm25Contribution(postings
      .join(broadcast(dfT), "term")
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats)))
      .groupBy("query_id", "doc_id")
      .agg(bm25SumExpr.as("bm25_e6"))
    Rank.topK(scored, Seq("query_id"), Seq(col("bm25_e6").desc, col("doc_id")),
        k, "rank")
      .select("query_id", "doc_id", "rank", "bm25_e6")
  }

  /** [[bm25Score]] for a QUERIES DataFrame (query_id, query text) — the
    * actual search workload shape: every query scored in ONE plan, no
    * per-query job loop (the pqTopKBatch convention). Output:
    * (query_id, doc_id, rank, bm25_e6) — the top `k` docs per query in
    * (bm25_e6 DESC, doc_id) order.
    *
    * Scale shape: corpus-sized work happens ONCE for the union of all
    * query terms (tf per (doc, term), df per term — both
    * map-side-combinable aggregates over the term-filtered token stream);
    * the per-query fan-out joins those small tables against the BROADCAST
    * query-term list, and the per-query top-k is a WindowGroupLimit-pruned
    * rank over query_id — high query cardinality, no skew. Identical
    * integer/PortableLog arithmetic to the single-query form.
    */
  def bm25ScoreBatch(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "need k >= 1")
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(words(coalesce(col(queryTextCol), lit("")))))
        .as("term")).distinct()
    val base = Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      words(coalesce(col(textCol), lit(""))).as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
    val stats = base.agg(count(lit(1)).as("nd"),
      coalesce(sum("dl"), lit(0L)).as("ltot"))
    val anyTerm = qterms.select("term").distinct()
    val tok = base.select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .join(broadcast(anyTerm), "term")
    val tf = tok.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val dfT = tok.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = bm25Contribution(tf
      .join(broadcast(dfT), "term")
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats)))
      .groupBy("query_id", "doc_id")
      .agg(bm25SumExpr.as("bm25_e6"))
    Rank.topK(scored, Seq("query_id"), Seq(col("bm25_e6").desc, col("doc_id")),
        k, "rank")
      .select("query_id", "doc_id", "rank", "bm25_e6")
  }

  /** HARD-NEGATIVE mining over batch BM25 — the retrieval-training-pair
    * generator (the DPR / sentence-transformers recipe, Karpukhin et al.
    * 2020 §3.2: BM25-top passages that are NOT the positive make the
    * hardest negatives): for each query, pair the top-ranked document (the
    * lexical positive) with every lower-ranked candidate whose score sits
    * at least `marginE6` micro-units below it — near-ties are SKIPPED, the
    * standard guard against mining an unlabeled positive as a negative.
    *
    * Output: (query_id, pos_doc, pos_e6, neg_doc, neg_e6, margin_e6),
    * margin_e6 = pos_e6 − neg_e6 ≥ marginE6 exact integers.
    *
    * Scale shape: everything downstream of [[bm25ScoreBatch]] operates on
    * its ≤ k-per-query output — the join back to the rank-1 row is
    * query-keyed over ≤ k rows per query, so mining cost is bounded by
    * |queries|·k however large the corpus.
    */
  def hardNegatives(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int = 10, marginE6: Long = 0L): DataFrame = {
    require(marginE6 >= 0L, "marginE6 must be non-negative")
    val sc = bm25ScoreBatch(docs, idCol, textCol, queries, queryIdCol,
      queryTextCol, k)
    val pos = sc.filter(col("rank") === 1)
      .select(col("query_id"), col("doc_id").as("pos_doc"),
        col("bm25_e6").as("pos_e6"))
    sc.filter(col("rank") >= 2)
      .join(pos, "query_id")
      .filter(col("pos_e6") - col("bm25_e6") >= marginE6)
      .select(col("query_id"), col("pos_doc"), col("pos_e6"),
        col("doc_id").as("neg_doc"), col("bm25_e6").as("neg_e6"),
        (col("pos_e6") - col("bm25_e6")).as("margin_e6"))
  }

  /** Per-document ATTRIBUTE TAGGING — the Dolma "taggers" shape: compute
    * every cheap quality attribute in ONE narrow pass and persist the
    * attribute table, so changing a FILTER threshold later re-reads the
    * ~40-byte attribute rows instead of re-scanning 100 TB of text. The
    * decoupling (tag once, filter many times) is how production curation
    * pipelines actually iterate.
    *
    * Attributes: n_chars, n_words, lang (marker-word heuristic —
    * [[langPred]]), gopher_passed (the full rule conjunction), c4_kept (the
    * doc-level C4 verdict), badword_hits ([[wordlistGate]]'s count). Every
    * column is the SAME expression the standalone gate computes, so tags
    * and gates can never disagree (QualityGatesSpec pins tagDocs ≡ the
    * component operators row-for-row).
    *
    * Scale shape: one narrow codegen'd pass, zero shuffles — all six
    * attributes fuse into the scan band; the output is doc_id + fixed-width
    * columns, partitionable however the filter stage wants.
    */
  def tagDocs(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String], minWords: Int = 50,
      maxWords: Int = 100000, minLineWords: Int = 5): DataFrame = {
    require(blocklist.nonEmpty, "need a non-empty blocklist")
    val t = coalesce(col(textCol), lit(""))
    val gopher = gopherRuleCols(t, minWords, maxWords)
    val (_, _, c4Verdict) = c4Cols(t, minLineWords)
    Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      length(t).as("n_chars"),
      gopher.head._2.as("n_words"),
      langPred(t).as("lang"),
      gopher.drop(1).map(_._2).reduce(_ && _).as("gopher_passed"),
      c4Verdict.as("c4_kept"),
      wordlistHitCount(t, blocklist).as("badword_hits"))
  }

  /** Deterministic RANDOM negatives for contrastive training — the uniform
    * complement to [[hardNegatives]] (mixing random with hard negatives is
    * the standard retrieval-training recipe, e.g. DPR, Karpukhin 2020):
    * for each (query, positive) pair, `k` corpus documents drawn
    * reproducibly and engine-portably, excluding the positive.
    *
    * "Random" = the md5 shuffle: every document gets the exact global rank
    * 0..D−1 of (md5(doc_id), doc_id) from [[Rank.bucketedPrefix]] over
    * the 256 md5-prefix buckets; a query reads the documents at positions
    * off, off+1, …, off+k with off = hex(md5(query_id)[0:8]) mod D,
    * skipping the positive (k+1 candidates guarantee k survivors).
    * Contiguous positions after the shuffle ARE the uniform draw — the md5
    * order is the shuffle — and the candidate set probes the rank table by
    * position equality instead of any per-query corpus scan.
    *
    * Output: (query_id, pos_id, neg_id, rk), rk 1..k in draw order. The
    * rank table is built once per call; the probe ships |pairs|·(k+1)
    * position keys — batch-sized, never a q×D cross.
    */
  def randomNegatives(pairs: DataFrame, docs: DataFrame, queryIdCol: String,
      posIdCol: String, docIdCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be positive")
    val ids = Rank.md5Salted(
      docs.select(Keys.id(docs, docIdCol).as("neg_id")).distinct(), "neg_id")
    // pinned: the size check's count and the returned probe both read it
    val ranked = Par.pin(Rank.md5Prefix(ids, Nil, "neg_id", out = "__r")
      .select("neg_id", "__r"))
    val nD = ranked.count()
    require(nD > k, s"need more than k=$k distinct documents, got $nD")
    val cands = pairs
      .select(col(queryIdCol).as("query_id"),
        Keys.id(pairs, posIdCol).as("pos_id"))
      .withColumn("__qoff", expr(
        "cast(conv(substring(md5(cast(query_id as string)), 1, 8), 16, 10)" +
          s" as bigint) % ${nD}L"))
      .withColumn("__j", explode(sequence(lit(0), lit(k))))
      .withColumn("__r", (col("__qoff") + col("__j")) % nD)
      .join(ranked, "__r")
      .filter(col("neg_id") =!= col("pos_id"))
    Rank.topK(cands, Seq("query_id", "pos_id"), Seq(col("__j")), k, "rk")
      .select("query_id", "pos_id", "neg_id", "rk")
  }

  private val langMarkers = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  /** The language decision as a single column expression over the raw text —
    * usable inside any narrow stage (see Pipelines.curate) without a join.
    */
  def langPred(textCol: Column): Column = {
    val score = langMarkers.toMap.view.mapValues(ms =>
      size(filter(words(textCol), x => x.isin(ms.map(lit): _*)))).toMap
    val (en, fr, es, de) = (score("en"), score("fr"), score("es"), score("de"))
    when(en >= greatest(fr, es, de) && en > 0, "en")
      .when(fr >= greatest(es, de) && fr > 0, "fr")
      .when(es >= de && es > 0, "es")
      .when(de > 0, "de")
      .otherwise("und")
  }

  /** Language-ID heuristic: count marker-word hits per language, pick the max with
    * deterministic tie priority en > fr > es > de; zero hits → "und".
    * The decision rule is deliberately a pure CASE over the four scores so an SQL
    * oracle can state the identical rule.
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(Keys.id(docs, idCol).as("doc_id"),
      langPred(col(textCol)).as("lang_pred"))

  /** Character-trigram language profiles for [[languageIdNgram]] — the top
    * trigrams of each language in frequency-rank order (Cavnar & Trenkle 1994,
    * "N-Gram-Based Text Categorization"), drawn from each language's
    * function-word inventory. 12 languages × 20 ranks. Spaces mark word
    * boundaries, the C-T convention. The SQL oracle is GENERATED from this
    * same constant, so engine and oracle can never drift.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "da" -> Seq("er ", "en ", " de", "det", "og ", " og", "at ", " at", "til",
      " ti", "den", "nde", "de ", " fo", "for", "or ", "ing", "ng ", "ede", "ler"),
    "de" -> Seq("er ", "en ", " de", "der", "ie ", "die", " di", "ch ", "ein",
      " ei", "ich", "nde", "sch", "und", " un", "ung", "ng ", "ten", "cht", "ber"),
    "en" -> Seq(" th", "the", "he ", "ed ", " an", "and", "nd ", " of", "of ",
      "ing", "ng ", " in", "in ", "ion", " to", "to ", "er ", " is", "is ", "on "),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "el ", " el", "as ", "ión",
      "ón ", "es ", " en", "en ", " co", "ar ", "ue ", " qu", "que", "nte", "do "),
    "fi" -> Seq("en ", "in ", "an ", "ist", "sta", "ta ", "aan", " on", "on ",
      "ssa", "sa ", "lla", "la ", "itt", "tä ", "än ", "een", "nen", "ksi", "ja "),
    "fr" -> Seq(" de", "de ", "es ", " le", "le ", "ent", "nt ", "et ", " et",
      "la ", " la", "ion", "on ", "re ", " pa", "ais", "que", " qu", "ue ", "les"),
    "it" -> Seq(" di", "di ", "to ", "la ", " la", "re ", "che", " ch", "he ",
      "no ", " co", "ion", "one", "ne ", "lla", " pe", "per", "er ", "del", "ell"),
    "nl" -> Seq("en ", "de ", " de", "et ", "an ", " he", "het", "van", " va",
      " en", "een", " ee", "ing", "ng ", "er ", " ge", "aar", "ede", "den", "ver"),
    "pl" -> Seq("ie ", "nie", " ni", " po", "na ", " na", "ego", "go ", "prz",
      "rze", "ch ", "ych", " w ", "do ", " do", "owa", "ani", "ać ", "się", "ię "),
    "pt" -> Seq(" de", "de ", "os ", " co", "ão ", "ção", "ent", "nt ", "da ",
      " da", "es ", "ado", "do ", " pa", "par", "ara", "ra ", " se", "em ", "que"),
    "sv" -> Seq("en ", "et ", " de", "det", "att", " at", "tt ", "och", " oc",
      "ch ", "ar ", "för", " fö", "som", " so", "om ", "til", " ti", "ing", "and"),
    "tr" -> Seq("ar ", "er ", " bi", "bir", "ir ", "lar", "ler", "an ", "in ",
      " ka", "da ", "de ", " de", "ını", "nın", "ın ", "lik", "ik ", "eri", " ya"))

  /** Rank-order (Cavnar-Trenkle) language-ID over character trigrams — the
    * multilingual upgrade of [[languageId]]'s 4-language marker heuristic:
    *
    *  1. normalize: lower-case, collapse every non-letter run to one space,
    *     pad with spaces (so word-boundary trigrams exist);
    *  2. doc profile: the `topM` most frequent trigrams, rank 1..topM, ties
    *     broken bytewise by trigram (deterministic on any engine);
    *  3. out-of-place distance to each language profile: Σ over the doc's
    *     ranked trigrams of |doc_rank − lang_rank|, with a fixed penalty of
    *     `ProfileDepth` when the trigram is absent from the profile (C-T's
    *     "maximum distance");
    *  4. predicted language = the minimum distance, ties broken by language
    *     code — a pure argmin over integer sums, so an SQL oracle restates
    *     it exactly. Docs with no letters → "und" with NULL distance.
    *
    * Scale shape: trigram explode + one (doc_id, tri) count exchange + one
    * per-doc window for the top-M ranks; the 240-row profile table and the
    * 12-row language list broadcast; the (doc × lang) score frame is
    * topM × 12 rows per doc, aggregated map-side. Linear in the corpus.
    */
  def languageIdNgram(docs: DataFrame, idCol: String, textCol: String,
      topM: Int = 20): DataFrame = {
    require(LangProfiles.forall { case (_, ts) =>
      ts.distinct.size == ts.size && ts.forall(_.length == 3) },
      "profiles must be distinct trigrams of length 3")
    val spark = docs.sparkSession
    import spark.implicits._
    val profileDf = LangProfiles.flatMap { case (l, ts) =>
      ts.zipWithIndex.map { case (tri, i) => (l, tri, i + 1) }
    }.toDF("plang", "tri", "lr_")
    languageIdWith(docs, idCol, textCol, profileDf, topM, ProfileDepth)
  }

  /** Normalized character trigrams per doc, one row per OCCURRENCE — shared
    * by classification and profile training.
    */
  private def normTrigrams(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val norm = concat(lit(" "),
      trim(regexp_replace(lower(coalesce(col(textCol), lit(""))),
        "[^\\p{L}]+", " ")), lit(" "))
    graft.operators.Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"), norm.as("s"))
      .select(col("doc_id"), explode(expr(
        "case when length(s) >= 3 then " +
          "transform(sequence(1, length(s) - 2), i -> substring(s, i, 3)) " +
          "else cast(array() as array<string>) end")).as("tri"))
  }

  /** TRAIN Cavnar-Trenkle rank profiles from a LABELED corpus: the `depth`
    * most frequent normalized trigrams per language, rank 1..depth, ties
    * bytewise by trigram — the learned counterpart of the [[LangProfiles]]
    * constant, for classifying with [[languageIdWith]] (train on a labeled
    * reference half, serve on everything — the scoring corpus never feeds
    * its own profiles). Scale shape: one vocabulary-bounded (lang, tri)
    * count exchange + a per-lang top-depth window over that tiny table.
    */
  def trainLangProfiles(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, depth: Int = 20): DataFrame = {
    require(depth >= 1, "need depth >= 1")
    val counts = normTrigrams(docs, idCol, textCol)
      .join(docs.select(Keys.id(docs, idCol).as("doc_id"),
        col(langCol).as("plang")), "doc_id")
      .groupBy("plang", "tri").count()
    Rank.topK(counts, Seq("plang"), Seq(col("count").desc, col("tri").asc),
        depth, "lr_")
      .select("plang", "tri", "lr_")
  }

  /** Rank-order classification against an explicit (plang, tri, lr_) profile
    * table — the shared engine behind [[languageIdNgram]] (static profiles)
    * and [[trainLangProfiles]] (learned profiles). See languageIdNgram's
    * scaladoc for the algorithm and scale shape.
    */
  def languageIdWith(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame, topM: Int = 20, penalty: Int = 20): DataFrame = {
    require(topM >= 1 && penalty >= 1, "need topM >= 1 and penalty >= 1")
    val profileDf = profiles.select("plang", "tri", "lr_")
    val langsDf = profileDf.select("plang").distinct()
    val ids = docs.select(Keys.id(docs, idCol).as("doc_id"))
    // per-doc window for the top-M ranks: A/B'd (BASELINE.md round 8) against
    // a collect_list + in-memory array_sort aggregate — the window form is
    // ~10% faster here (the agg pays struct allocation per trigram), and
    // doc_id is a high-cardinality partition key, so no reducer skew
    val top = Rank.topK(
      normTrigrams(docs, idCol, textCol).groupBy("doc_id", "tri").count(),
      Seq("doc_id"), Seq(col("count").desc, col("tri").asc), topM, "dr")
    val scored = top.crossJoin(broadcast(langsDf))
      .join(broadcast(profileDf), Seq("plang", "tri"), "left")
      .groupBy("doc_id", "plang")
      .agg(sum(coalesce(abs(col("dr") - col("lr_")), lit(penalty)))
        .cast("long").as("oop"))
    val pick = scored.groupBy("doc_id")
      .agg(min(struct(col("oop"), col("plang"))).as("m"))
      .select(col("doc_id"), col("m.plang").as("lang_pred"),
        col("m.oop").as("oop"))
    ids.join(pick, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lang_pred"), lit("und")).as("lang_pred"), col("oop"))
  }

  /** Absent-trigram out-of-place penalty = profile depth (each profile's
    * length), the C-T maximum-distance convention.
    */
  val ProfileDepth: Int = 20

  /** HTML → text extraction + line-density boilerplate removal — the FIRST
    * stage of every web-scale curation pipeline (CCNet / RefinedWeb start from
    * markup, not clean text). Deterministic rule pipeline, every step a
    * Catalyst built-in (regexp/replace/split/higher-order array ops — no UDF),
    * restricted to regex syntax Java and RE2 interpret identically (separate
    * script/style patterns instead of a backreference; no lookaround), so an
    * external SQL engine can restate the exact transform:
    *
    *  1. drop non-content element BODIES: `<script>…</script>`,
    *     `<style>…</style>` (case-insensitive, dot-matches-newline,
    *     non-greedy);
    *  2. turn block-level boundaries (`<br>`, `<hr>`, and closing
    *     p/div/li/h1-6/tr/table/ul/ol/blockquote/section/article/header/
    *     footer/nav/title tags) into newlines BEFORE tags vanish — this is
    *     what gives the line structure the boilerplate gate scores;
    *  3. strip every remaining tag to a space;
    *  4. decode the common entities, `&amp;` LAST (so `&amp;lt;` decodes to
    *     the literal text `&lt;`, and text that looked like a tag only after
    *     decoding is NOT stripped — the classic ordering bug, done right);
    *  5. per line: collapse whitespace, trim, and keep only lines with at
    *     least `minWords` whitespace words — the line-density rule that kills
    *     nav menus, list stubs, and footer fragments while keeping prose.
    *
    * Output: (doc_id, text = kept lines joined by \n, n_kept, n_total).
    * Scale shape: one narrow codegen'd pass over the corpus, no shuffle —
    * linear at 100 TB like the rest of this file.
    */
  def htmlExtract(docs: DataFrame, idCol: String, htmlCol: String,
      minWords: Int = 5): DataFrame = {
    require(minWords >= 1, "need minWords >= 1")
    val withBreaks = htmlWithBreaks(col(htmlCol))
    val noTags = regexp_replace(withBreaks, "(?s)<[^>]*>", " ")
    val decoded = decodeEntities(noTags)
    val lines = transform(split(decoded, "\n"),
      l => trim(regexp_replace(l, "\\s+", " ")))
    val kept = filter(lines,
      l => size(filter(split(l, " "), w => length(w) > 0)) >= minWords)
    Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      array_join(kept, "\n").as("text"),
      size(kept).as("n_kept"),
      size(lines).as("n_total"))
  }

  /** script/style bodies dropped, block boundaries turned into newlines —
    * the shared front of both HTML extractors (steps 1-2 of [[htmlExtract]]).
    */
  private def htmlWithBreaks(html: org.apache.spark.sql.Column) = {
    val noScript = regexp_replace(coalesce(html, lit("")),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    regexp_replace(noStyle,
      "(?i)<(br|hr)[^>]*>|</(p|div|li|h1|h2|h3|h4|h5|h6|tr|table|ul|ol|blockquote|section|article|header|footer|nav|title)[^>]*>",
      "\n")
  }

  /** The common HTML entities, `&amp;` LAST (so `&amp;lt;` decodes to the
    * literal text `&lt;`, and text that looked like a tag only after decoding
    * is NOT stripped — the classic ordering bug, done right).
    */
  private def decodeEntities(c: org.apache.spark.sql.Column) =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (e, r)) => replace(acc, lit(e), lit(r)) }

  /** [[htmlExtract]] upgraded with the PER-BLOCK LINK-DENSITY rule of
    * jusText / RefinedWeb: a line whose words are mostly ANCHOR TEXT is
    * navigation/footer boilerplate no matter how wordy it is — nav menus and
    * "related articles" link farms sail through a pure word-count gate, and
    * this is the standard rule that kills them. Per line (lines cut BEFORE
    * tags vanish, so the `<a>…</a>` spans are still visible):
    *
    *  - `n_words`: whitespace words of the line's visible text (tags
    *    stripped, entities decoded, whitespace collapsed — [[htmlExtract]]'s
    *    exact text path);
    *  - `n_anchor`: whitespace words of the concatenated `<a …>…</a>` inner
    *    texts of the line, through the same strip/decode path (nested inline
    *    tags inside an anchor count as part of its text; an anchor split by
    *    a block boundary contributes its per-line fragments);
    *  - keep iff `n_words >= minWords` AND `n_anchor * 10000 <=
    *    maxAnchorBp * n_words` — the anchor-ratio threshold in basis points
    *    as an integer cross-multiplication (the gopherGate discipline: no
    *    double division, no rounding tie class, restatable in any engine).
    *
    * Default 2000 bp = the jusText max_link_density 0.2 convention. Output
    * schema and scale shape are [[htmlExtract]]'s: one narrow codegen'd
    * pass, no shuffle, linear at 100 TB.
    */
  def htmlExtractDense(docs: DataFrame, idCol: String, htmlCol: String,
      minWords: Int = 5, maxAnchorBp: Int = 2000): DataFrame = {
    require(minWords >= 1, "need minWords >= 1")
    require(maxAnchorBp >= 0 && maxAnchorBp <= 10000,
      "maxAnchorBp is a basis-point ratio in [0, 10000]")
    def visible(l: org.apache.spark.sql.Column) =
      trim(regexp_replace(
        decodeEntities(regexp_replace(l, "(?s)<[^>]*>", " ")), "\\s+", " "))
    def nWords(v: org.apache.spark.sql.Column) =
      size(filter(split(v, " "), w => length(w) > 0))
    val rawLines = split(htmlWithBreaks(col(htmlCol)), "\n")
    val lines = transform(rawLines, l => {
      val v = visible(l)
      // `<a(?:\s[^>]*)?>` — the tag NAME must end after 'a' (whitespace or
      // an immediate '>'), so <aside>/<abbr>/<address> prose never counts
      // as anchor text
      val anchor = visible(array_join(
        regexp_extract_all(l, lit("(?is)<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)), " "))
      struct(v.as("v"), nWords(v).as("nw"), nWords(anchor).as("na"))
    })
    // long counts: a single machine-generated line can hold >214k anchor
    // words, where 32-bit na*10000 would wrap negative and KEEP the farm
    val kept = filter(lines, s =>
      s.getField("nw") >= minWords &&
        s.getField("na").cast("long") * lit(10000L) <=
          lit(maxAnchorBp.toLong) * s.getField("nw").cast("long"))
    Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      array_join(transform(kept, _.getField("v")), "\n").as("text"),
      size(kept).as("n_kept"),
      size(rawLines).as("n_total"))
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lower-cased text. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      md5(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("fp"))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric non-space chars — the classic pre-tokenizer split.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      size(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"),
      size(words(col(textCol))).as("n_ws_tokens"))

  /** PII scrubbing: replace emails, IPv4 addresses, and phone-like digit runs
    * with typed placeholders, and report per-kind hit counts. Patterns are
    * deliberately restricted to syntax that Java regex and RE2 interpret
    * identically (no backrefs, no lookaround), so an external SQL engine can
    * state the same rewrite — and so the operator ports to any regex engine a
    * production scrubber would use. Scrub order (email → ip → phone) matters:
    * emails and IPs contain digit runs the phone pattern would otherwise eat.
    * One narrow codegen'd pass, no shuffle — linear at 100 TB.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+?\\d[0-9()\\- ]{6,}[0-9]"

  def scrubPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EmailPattern, "[EMAIL]")
    val t2 = regexp_replace(t1, Ipv4Pattern, "[IP]")
    val t3 = regexp_replace(t2, PhonePattern, "[PHONE]")
    Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      t3.as("scrubbed"),
      regexp_count(t0, lit(EmailPattern)).as("n_emails"),
      regexp_count(t1, lit(Ipv4Pattern)).as("n_ips"),
      regexp_count(t2, lit(PhonePattern)).as("n_phones"))
  }

  /** TF-IDF top terms per document (keyword extraction / feature selection):
    * term frequency within the doc × inverse document frequency across the
    * corpus, top `k` terms per doc ranked by (score desc, term asc).
    *
    * Scale shape: one (doc, term) count exchange, a small groupBy(term)
    * document-frequency aggregate that BROADCASTS back (the vocabulary is
    * tiny next to the corpus), and one window exchange on doc_id for the
    * top-k — the corpus text itself moves through exactly two shuffles of
    * (doc, term, count) triples.
    *
    * Determinism: idf = floor-to-6dp of the [[PortableLog]] log10(nDocs/df)
    * (a fixed IEEE basic-op sequence — no libm, so the quantized input is
    * bit-identical on any engine) held as DECIMAL(18,6); score = tf × idf in
    * exact decimal arithmetic, so ranking ties and the final doubles are
    * identical on any engine and any partitioning.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, "k must be positive")
    val tokens = Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      explode(words(col(textCol))).as("w"))
    val tf = tokens.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(Keys.id(docs, idCol)).as("nd"))
    val idf = dfreq.crossJoin(broadcast(nDocs)).select(col("w"),
      PortableLog.floorDec6(PortableLog.log10Ratio(col("nd"), col("df"))).as("idf"))
    Rank.topK(tf.join(broadcast(idf), "w").withColumn("score", col("tf") * col("idf")),
        Seq("doc_id"), Seq(col("score").desc, col("w").asc), k, "rnk")
      // 4dp by FLOOR of the exact decimal, not round(double, 4): a 6dp
      // decimal score can land exactly on a .xxxx50 tie, where Spark's
      // BigDecimal HALF_UP and DuckDB's multiply-based round() disagree
      // (observed at sf0.1); floor of an exact decimal has no ties and both
      // engines compute it identically
      .select(col("doc_id"), col("rnk"), col("w").as("term"),
        (floor(col("score") * 10000).cast("double") / 10000.0).as("score"))
  }

  /** Rebuild each document's text as `sep`-joined lines of `k` words each —
    * a deterministic "linefier" for corpora (like the synthetic fixture) whose
    * documents carry no line structure of their own. Purely narrow; feeds
    * [[Pipelines.dedupLines]].
    */
  def toLines(docs: DataFrame, idCol: String, textCol: String, k: Int,
      sep: String = "\n"): DataFrame = {
    require(k >= 1, "k must be positive")
    require(!sep.contains("'") && !sep.contains("\\"),
      "sep is spliced into a SQL literal; quotes/backslashes are not supported")
    Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"),
        filter(split(col(textCol), "\\s+"), w => length(w) > 0).as("w"))
      .select(col("doc_id"), expr(
        s"case when size(w) = 0 then '' else array_join(" +
          s"transform(sequence(1, cast(ceil(size(w) / ${k}.0) as int)), " +
          s"i -> concat_ws(' ', slice(w, (i - 1) * $k + 1, $k))), '$sep') end")
        .as("text"))
  }

  /** Gopher-style repetition signals (cf. Rae et al. 2021, appendix A1.1):
    * duplicate-word fraction (1 − distinct/total) and the fraction of the
    * document covered by its most frequent word bigram. Documents with fewer
    * than 2 words are dropped (every ratio is 0/0 for them). One narrow pass;
    * the most-frequent-bigram search is O(d²) in the DOCUMENT's length — a
    * per-row cost independent of corpus size, bounded in practice by the
    * max-doc-length gate every curation pipeline applies first.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
    base.select(
      col("doc_id"),
      size(col("w")).as("n_words"),
      size(array_distinct(col("w"))).as("n_distinct_words"),
      (floor((lit(1.0) - size(array_distinct(col("w"))).cast("double") /
        size(col("w"))) * 10000).cast("double") / 10000.0).as("dup_word_frac"),
      (floor((expr("array_max(transform(array_distinct(bg), x -> size(filter(bg, y -> y = x))))")
        .cast("double") / size(col("bg"))) * 10000).cast("double") / 10000.0)
        .as("top_bigram_frac"))
  }

  /** Unigram language-model quality scoring (the KenLM-filter shape, cf.
    * CCNet, Wenzek et al. 2020, with a unigram model): build a top-`topV`
    * vocabulary with corpus frequencies, then score every document by its
    * total and mean log10 word probability; out-of-vocabulary words get the
    * 1/total floor. Low (very negative) mean log-prob = gibberish or
    * boilerplate-speak relative to the corpus.
    *
    * Scale shape: the model build is one groupBy(word) exchange plus a
    * TakeOrdered for the top-V cut; scoring is a narrow explode into a
    * BroadcastHashJoin against the (small, capped) vocabulary and one final
    * groupBy(doc) exchange. No driver-side collect — the corpus total rides
    * in as a broadcast 1-row cross join.
    *
    * Cross-engine determinism: each word's log10 prob is a [[PortableLog]]
    * fixed-IEEE-op evaluation (no libm — a libm log10 would inherit the
    * oracle engine's build at the 6th decimal, the round-8 classifier bug
    * class) floor-quantized to 6dp and summed as DECIMAL(18,6) — decimal
    * addition is exact and order-free, so the per-doc sum is bit-identical
    * no matter how Spark or the oracle engine orders the aggregation (a raw
    * double sum would drift by ulps with partitioning). Only the final
    * division back to double rounds.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      topV: Int = 65536): DataFrame = {
    require(topV >= 1, "topV must be positive")
    val tokens = Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
      explode(words(col(textCol))).as("w"))
    val freq = tokens.groupBy("w").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").as("t"))
    val vocab = freq.crossJoin(broadcast(total))
      .orderBy(col("c").desc, col("w").asc).limit(topV)
      .select(col("w"),
        PortableLog.floorDec6(PortableLog.log10Ratio(col("c"), col("t"))).as("lp"))
    val oov = total.select(
      PortableLog.floorDec6(PortableLog.log10Ratio(lit(1L), col("t"))).as("oov_lp"))
    tokens
      .join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(oov))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("lp"), col("oov_lp"))).as("__s"))
      // floor-to-4dp of the exact decimal sum (see tfidfTopTerms — decimal
      // sums of 6dp terms hit exact .xxxx50 ties where cross-engine
      // round(double) diverges); avg divides the already-floored sum so both
      // engines run the identical IEEE division on identical inputs, no
      // further rounding step to disagree on
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("__s") * 10000).cast("double") / 10000.0).as("sum_log10p"),
        (floor(col("__s") * 10000).cast("double") / 10000.0 / col("n_tokens"))
          .as("avg_log10p"))
  }

  /** Bigram language-model quality scoring — [[unigramLogProb]]'s CCNet-style
    * filter upgraded to first-order context: score every document by its total
    * and mean log10 CONDITIONAL word probability P(wᵢ | wᵢ₋₁) =
    * c(wᵢ₋₁ wᵢ) / c(wᵢ₋₁ ·) under a top-`topV` bigram table; bigrams outside
    * the table get the 1/total-bigrams floor. A bigram model separates fluent
    * text from bag-of-frequent-words boilerplate that a unigram model scores
    * identically (same words, scrambled order). Documents with fewer than 2
    * words have no bigrams and are dropped.
    *
    * Scale shape: bigram extraction is a narrow transform+explode (no
    * self-join of the token stream); the model build is one groupBy(w1, w2)
    * exchange, a re-aggregation of that (already tiny) count table for the
    * context totals, and a TakeOrdered top-V cut; scoring is a
    * BroadcastHashJoin against the capped table plus one groupBy(doc)
    * exchange — the same two-exchange shape as the unigram filter.
    *
    * Cross-engine determinism: identical to [[unigramLogProb]] — per-bigram
    * [[PortableLog]] log10 probs (libm-free) floor-quantized to 6dp, summed
    * as DECIMAL(18,6) (exact, order-free), final sum floored to 4dp before
    * the one IEEE division; the top-V cut totally orders ties by
    * (count desc, w1, w2).
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      topV: Int = 65536): DataFrame =
    bigramLogProbAgainst(docs, docs, idCol, textCol, topV)

  /** [[bigramLogProb]] with the model corpus SPLIT from the scored corpus —
    * the form CCNet actually runs: the LM is trained on a clean REFERENCE
    * corpus (wikipedia) and every candidate document is scored by how well
    * the reference model predicts it, so boilerplate that dominates the
    * candidate pool cannot launder its own probability mass into the model
    * (self-trained scoring rates pervasive spam as fluent). `refDocs` feeds
    * the count table and the OOV floor; `docs` is what gets scored. Same
    * plan shape — the model-side aggregations see the reference corpus, the
    * scoring join + per-doc groupBy see the target — and the same
    * decimal-exact arithmetic, so the split form stays hash-oracle-able.
    * Passing the same DataFrame for both sides IS [[bigramLogProb]].
    */
  def bigramLogProbAgainst(refDocs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, topV: Int = 65536): DataFrame = {
    require(topV >= 1, "topV must be positive")
    def bigramsOf(df: DataFrame): DataFrame = Par.spread(df)
      .select(Keys.id(df, idCol).as("doc_id"), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val refBigrams = bigramsOf(refDocs)
    val bigrams = if (refDocs eq docs) refBigrams else bigramsOf(docs)
    val freq = refBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // context total c(w1 ·) = w1's occurrences in non-final position — a
    // re-aggregation of the count table, not another corpus pass
    val ctx = freq.groupBy("w1").agg(sum("c12").as("c1"))
    val total = freq.agg(sum("c12").as("t"))
    val vocab = freq.join(ctx, "w1")
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc).limit(topV)
      .select(col("w1"), col("w2"),
        PortableLog.floorDec6(PortableLog.log10Ratio(col("c12"), col("c1"))).as("lp"))
    val oov = total.select(
      PortableLog.floorDec6(PortableLog.log10Ratio(lit(1L), col("t"))).as("oov_lp"))
    bigrams
      .join(broadcast(vocab), Seq("w1", "w2"), "left")
      .crossJoin(broadcast(oov))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("lp"), col("oov_lp"))).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("__s") * 10000).cast("double") / 10000.0).as("sum_log10p"),
        (floor(col("__s") * 10000).cast("double") / 10000.0 / col("n_bigrams"))
          .as("avg_log10p"))
  }

  /** SMOOTHED n-gram LM quality scoring — stupid backoff (Brants et al.
    * 2007, "Large Language Models in Machine Translation" §4): the
    * web-scale simplification of Katz/KenLM smoothing that CCNet-grade
    * filtering approximates. Each token is scored by its TRIGRAM
    * conditional probability, backing off with factor α = 0.4 per level
    * when the higher-order n-gram is unseen:
    *
    *   S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂·)        if the trigram is in the table
    *              = α · c(w₂w₃)/c(w₂·)         else if the bigram is
    *              = α² · c(w₃)/T               else if the unigram is
    *              = α² · 1/T                   else (OOV floor)
    *
    * The model trains on `refDocs` (the CCNet reference-corpus discipline —
    * [[bigramLogProbAgainst]]); `docs` is what gets scored. Passing the
    * same frame for both is the self-trained form.
    *
    * Cross-engine determinism — the whole point of the formulation: α = 2/5
    * FOLDS INTO the count ratios, so every per-token log-prob is one
    * [[PortableLog]] log10 of an EXACT INTEGER ratio (trigram: c₁₂₃/c₁₂·;
    * bigram: 2·c₂₃ / 5·c₂·; unigram: 4·c₃ / 25·T; OOV: 4 / 25·T) — no libm,
    * no float α multiplication, no quantization composition. Each token's
    * log10 is floor-quantized to 1e-6 BIGINT micro-units and the per-doc
    * sum is an exact integer — surfaced as `sum_log10p_e6` BIGINT from day
    * one (the r9 DECIMAL-off-the-hash-surface contract); `avg_log10p` is
    * the one IEEE double division of identical inputs. Docs with fewer
    * than 3 words have no trigrams and are dropped.
    *
    * Scale shape: the trigram count table is one groupBy(w1,w2,w3) exchange
    * over the REFERENCE corpus; the bigram/unigram tables and every context
    * total are RE-AGGREGATIONS of it (no second corpus pass); each is
    * top-`topV`-capped under a total order (count desc, then words) and
    * BROADCAST. Scoring is a narrow trigram explode of the target corpus
    * into three broadcast left joins and one map-side-combinable per-doc
    * sum — the [[unigramLogProb]] two-exchange shape. At 100 TB the
    * reference corpus is curated (bounded), the capped tables are MBs, and
    * the corpus-sized work is one explode + one aggregation.
    */
  def backoffLogProb(refDocs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, topV: Int = 65536): DataFrame = {
    require(topV >= 1, "topV must be positive")
    def trigramsOf(df: DataFrame): DataFrame = Par.spread(df)
      .select(Keys.id(df, idCol).as("doc_id"), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), " +
          "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2, " +
          "element_at(w, i + 2) as w3))")).as("tg"))
      .select(col("doc_id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
    val refTri = trigramsOf(refDocs)
    val target = if (refDocs eq docs) refTri else trigramsOf(docs)
    // pinned: four re-aggregations + the top-V cut read the trigram counts
    // from three broadcast stages, which exchange reuse does not share
    // (each re-runs the tokenize, explode and partial count)
    val freq3 = Par.pin(refTri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123")))
    // every lower-order table re-aggregates the trigram counts — the
    // bigramLogProb "non-final position" convention, one corpus pass total
    val ctx12 = freq3.groupBy("w1", "w2").agg(sum("c123").as("c12"))
    val freq2 = freq3.groupBy("w2", "w3").agg(sum("c123").as("c23"))
    val ctx2 = freq2.groupBy("w2").agg(sum("c23").as("c2"))
    val freq1 = freq2.groupBy("w3").agg(sum("c23").as("c3"))
    val total = freq1.agg(sum("c3").as("t"))
    val triV = freq3.join(ctx12, Seq("w1", "w2"))
      .orderBy(col("c123").desc, col("w1").asc, col("w2").asc, col("w3").asc)
      .limit(topV)
      .select(col("w1"), col("w2"), col("w3"),
        lp6(col("c123"), col("c12")).as("lp3"))
    val biV = freq2.join(ctx2, Seq("w2"))
      .orderBy(col("c23").desc, col("w2").asc, col("w3").asc).limit(topV)
      .select(col("w2"), col("w3"), lp6(lit(2) * col("c23"), lit(5) * col("c2")).as("lp2"))
    val uniV = freq1.crossJoin(total)
      .orderBy(col("c3").desc, col("w3").asc).limit(topV)
      .select(col("w3"), lp6(lit(4) * col("c3"), lit(25) * col("t")).as("lp1"))
    val oov = total.select(lp6(lit(4L), lit(25) * col("t")).as("lp0"))
    val scored = target
      .join(broadcast(triV), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(biV), Seq("w2", "w3"), "left")
      .join(broadcast(uniV), Seq("w3"), "left")
      .crossJoin(broadcast(oov))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_trigrams"),
        sum(coalesce(col("lp3"), col("lp2"), col("lp1"), col("lp0")))
          .as("sum_log10p_e6"))
    scored.select(col("doc_id"), col("n_trigrams"), col("sum_log10p_e6"),
      (col("sum_log10p_e6").cast("double") / 1000000.0 / col("n_trigrams"))
        .as("avg_log10p"))
  }

  /** Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 §2.7) — the PROPER-smoothing
    * counterpart of [[backoffLogProb]]: where stupid backoff rescales
    * lower-order MLE counts, KN subtracts a fixed discount D from every
    * seen bigram and redistributes that mass over the CONTINUATION
    * distribution — how many distinct contexts a word follows — the
    * property that makes "francisco" unlikely outside "san francisco"
    * however frequent it is:
    *
    *   P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·) + λ(w₁)·Pcont(w₂)
    *   λ(w₁) = D·N1+(w₁·)/c(w₁·)       Pcont(w₂) = N1+(·w₂)/N1+(··)
    *
    * Cross-engine determinism: the fixed discount D = 3/4 FOLDS INTO the
    * ratio, clearing every branch to ONE [[PortableLog]] log10 of an exact
    * integer ratio (c₁ = c(w₁·), n1 = N1+(w₁·) distinct continuations of
    * w₁, nc = N1+(·w₂) distinct contexts of w₂, Nb = N1+(··) distinct
    * bigrams):
    *
    *   seen bigram:       lp6[((4·c₁₂ − 3)·Nb + 3·n1·nc) / (4·c₁·Nb)]
    *   seen context only: lp6[3·n1 / (4·c₁)] + lp6[max(nc,1) / Nb] — the
    *                      λ(w₁)·Pcont term, an unseen continuation carrying
    *                      one pseudo-context (the OOV-floor analog; without
    *                      it KN assigns exact zero and the log diverges)
    *   seen continuation: lp6[nc / Nb]                     — pure Pcont
    *   OOV:               lp6[1 / (4·Nb)]
    *
    * where lp6[·] = floor(log10(·)·10⁶) as a BIGINT micro-unit. The
    * seen-context branch is BY SPEC the sum of its two separately-
    * quantized factors (≤ 2 µunit difference from single-floor): that
    * factorization is what makes every branch a PRECOMPUTED lookup —
    * lp12 per capped bigram, lp_ctx per context word, lp_cont per
    * continuation word, two scalar constants — so the corpus-sized
    * scoring stage runs ZERO log evaluations: three broadcast joins, one
    * conditional add, one map-side-combinable per-doc sum. Per-doc sums
    * are exact integers (`sum_log10p_e6` — the r9 DECIMAL contract).
    * Integer headroom: the seen-bigram numerator needs c₁₂·Nb ≲ 2.3e18 —
    * holds to billion-bigram reference corpora (and reference corpora are
    * curated, bounded sets by the CCNet discipline).
    *
    * Model tables: ONE groupBy(w1, w2) pass over the reference corpus;
    * context (c1, n1), continuation (nc) and Nb are re-aggregations of it.
    * The bigram table broadcasts top-`topV` under a total order; the
    * context/continuation tables broadcast UNCAPPED — they are vocab-sized
    * (≪ bigram count) and capping them would strand capped bigrams without
    * their denominators. Docs with fewer than 2 words have no bigrams and
    * are dropped.
    */
  def kneserNeyLogProb(refDocs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, topV: Int = 65536): DataFrame = {
    require(topV >= 1, "topV must be positive")
    def bigramsOf(df: DataFrame): DataFrame = Par.spread(df)
      .select(Keys.id(df, idCol).as("doc_id"), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val refBg = bigramsOf(refDocs)
    val target = if (refDocs eq docs) refBg else bigramsOf(docs)
    // pinned as in backoffLogProb: three re-aggregations + the top-V cut
    // read the bigram counts from broadcast stages that do not share them
    val freq2 = Par.pin(refBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val ctx = freq2.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1"))
    val cont = freq2.groupBy("w2").agg(count(lit(1)).as("nc"))
    val nb = freq2.agg(count(lit(1)).as("nb"))
    // every branch precomputed on vocab-/topV-sized frames — the scoring
    // stage evaluates no log series
    val bgV = freq2.join(ctx, "w1").join(cont, "w2").crossJoin(nb)
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc).limit(topV)
      .select(col("w1"), col("w2"),
        lp6((lit(4) * col("c12") - lit(3)) * col("nb") + lit(3) * col("n1") * col("nc"),
          lit(4) * col("c1") * col("nb")).as("lp12"))
    val ctxL = ctx.select(col("w1"),
      lp6(lit(3) * col("n1"), lit(4) * col("c1")).as("lp_ctx"))
    val contL = cont.crossJoin(nb).select(col("w2"),
      lp6(col("nc"), col("nb")).as("lp_cont"))
    val consts = nb.select(
      lp6(lit(1L), col("nb")).as("lp_cont0"),
      lp6(lit(1L), lit(4) * col("nb")).as("lp_oov"))
    val lpSql =
      """CASE
        |  WHEN lp12 IS NOT NULL THEN lp12
        |  WHEN lp_ctx IS NOT NULL
        |    THEN lp_ctx + coalesce(lp_cont, lp_cont0)
        |  WHEN lp_cont IS NOT NULL THEN lp_cont
        |  ELSE lp_oov
        |END""".stripMargin
    target
      .join(broadcast(bgV), Seq("w1", "w2"), "left")
      .join(broadcast(ctxL), Seq("w1"), "left")
      .join(broadcast(contL), Seq("w2"), "left")
      .crossJoin(broadcast(consts))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(expr(lpSql)).as("sum_log10p_e6"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_log10p_e6"),
        (col("sum_log10p_e6").cast("double") / 1000000.0 / col("n_bigrams"))
          .as("avg_log10p"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling" — the hashed-n-gram recipe behind
    * "pick the web slice that looks like the target corpus"): fit two
    * bag-of-hashed-unigram multinomials — p over a curated TARGET corpus,
    * q over the RAW pool — and score every raw document by its
    * log-importance Σ_tokens [log p(b(w)) − log q(b(w))]. High scores mark
    * raw documents whose token mix resembles the target distribution.
    *
    * Determinism contract (the r9/r10 DECIMAL discipline): both per-bucket
    * probabilities are add-one-smoothed exact integer ratios
    * (c_b + 1)/(T + B), so each bucket weight is the DIFFERENCE OF TWO
    * separately-floor-quantized [[PortableLog]] log10 terms — the
    * kneserNeyLogProb factorization spec (≤ 2 µunit from single-floor,
    * and it keeps every log operand an exact BIGINT product far from
    * overflow: a fused (ct+1)·(Traw+B) numerator would overflow int64 at
    * ~1e9-count buckets over a ~1e12-token pool, exactly the 100 TB
    * regime). Weights and per-doc sums are BIGINT micro-units
    * (`dsir_e6`); no libm, no DECIMAL on the hash surface.
    *
    * Scale shape: the target pass is bounded (curated reference sets are
    * small by the CCNet/fastText practice); the raw pass is one token
    * explode into a map-side-combinable groupBy(f) of ≤ `nBuckets` rows;
    * the weight table (≤ `nBuckets` rows) broadcasts to the scoring join,
    * so the corpus-sized stage is one broadcast join + one per-doc
    * aggregate — the unigramLogProb shape. Bucket the hash via the
    * classifier's md5 idiom so the oracle restates it verbatim.
    *
    * Reference behavior context: cerebro-data/okera-trino exposes no data
    * selection — this extends the engine along SURVEY §2.13.
    */
  private def dsirToks(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = Par.spread(df)
    .select(Keys.id(df, idCol).as("doc_id"),
      explode(words(coalesce(col(textCol), lit("")))).as("w"))
    .select(col("doc_id"),
      expr(s"cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint) % $nBuckets")
        .as("f"))

  /** The trained DSIR selector: per-bucket importance weight table
    * (f, w6), one row per bucket present in EITHER sample (target-only
    * buckets keep their target counts with cr = 0 — r10 ADVICE) plus the
    * OOV row at f = -1 (the classifier's bias-row convention) carrying the
    * both-counts-zero smoothed weight — what a token hashing into a
    * bucket the raw sample never produced scores under [[dsirScoreWith]].
    * This is the persistable model state of the train/serve split: fit
    * once on (curated target, raw SAMPLE), then score every rolling batch
    * against the frozen table — the fastText/CCNet serving discipline,
    * and the reason scoring a 100 TB stream needs no model pass.
    */
  def dsirWeights(targetDocs: DataFrame, rawDocs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val tgt = dsirToks(targetDocs, idCol, textCol, nBuckets)
    val raw = dsirToks(rawDocs, idCol, textCol, nBuckets)
    // bag counts (token INSTANCES, not distinct presence — DSIR is a
    // multinomial importance ratio, unlike the classifier's presence bits)
    val ct = tgt.groupBy("f").agg(count(lit(1)).as("ct"))
    val cr = raw.groupBy("f").agg(count(lit(1)).as("cr"))
    val tots = ct.agg(sum("ct").as("tt")).crossJoin(cr.agg(sum("cr").as("tr")))
    // FULL outer (r10 ADVICE): a bucket with target evidence but absent
    // from the raw sample keeps its ct (cr coalesced to 0) instead of
    // falling to the both-zero OOV weight — the paper's importance ratio
    // up-weights exactly those target-like tokens, so the serve table must
    // carry them; in-sample (target ⊆ raw) the branch never fires
    val weights = cr.join(ct, Seq("f"), "full").crossJoin(tots)
      .select(col("f"),
        (lp6(coalesce(col("ct"), lit(0L)) + lit(1), col("tt") + lit(nBuckets)) -
          lp6(coalesce(col("cr"), lit(0L)) + lit(1), col("tr") + lit(nBuckets))).as("w6"))
    val oov = tots.select(lit(-1L).as("f"),
      (lp6(lit(1L), col("tt") + lit(nBuckets)) -
        lp6(lit(1L), col("tr") + lit(nBuckets))).as("w6"))
    weights.unionByName(oov)
  }

  /** Score any document batch against a FROZEN [[dsirWeights]] table —
    * the serve half of the split (and the incremental form: batch N
    * scores against the table round 0 trained; no model recomputation,
    * no batch can launder its own tokens into the weights). Tokens in
    * buckets outside the table take the f = -1 OOV weight. One broadcast
    * join + one per-doc aggregate — the corpus-sized stage of
    * [[dsirScore]], alone.
    */
  def dsirScoreWith(weights: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 1024): DataFrame = {
    val oov = weights.filter(col("f") === -1L).select(col("w6").as("w0"))
    dsirToks(docs, idCol, textCol, nBuckets)
      .join(broadcast(weights.filter(col("f") =!= -1L)), Seq("f"), "left")
      .crossJoin(broadcast(oov))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w6"), col("w0"))).as("dsir_e6"))
  }

  def dsirScore(targetDocs: DataFrame, rawDocs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 1024): DataFrame =
    // in-sample scoring: every raw bucket is in the table, so the serve
    // path's OOV coalesce never fires — ONE scoring definition, the
    // Links.dampedRank can't-fork discipline
    dsirScoreWith(dsirWeights(targetDocs, rawDocs, idCol, textCol, nBuckets),
      rawDocs, idCol, textCol, nBuckets)

  /** Deterministic top-`n` selection over [[dsirScore]] output — the
    * resampling step run as exact rank selection (score desc, doc_id asc
    * tiebreak) rather than Gumbel draws: sampled selection would put a
    * transcendental of a uniform on the hash surface, and at corpus scale
    * the top-weight slice is what DSIR's sampled selection concentrates on
    * anyway. `TakeOrderedAndProject` — no global sort materializes.
    */
  def dsirSelect(scored: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "n must be positive")
    scored.orderBy(col("dsir_e6").desc, col("doc_id").asc).limit(n)
  }

  /** CCNet-style perplexity terciles (Wenzek et al. 2020 §3.3 — "head /
    * middle / tail"): partition each language's documents into thirds by
    * language-model score, the bucketing CCNet publishes as its quality
    * strata (head = best-scoring third, the slice usually kept or
    * up-weighted). Generic over any of this file's LM scorers: input is a
    * scored frame carrying a BIGINT micro-unit log-prob SUM column and its
    * n-gram COUNT column; the per-document normalized score is the exact
    * divisible floor division avg_e6 = (s − pmod(s, n)) div n (the
    * kmeansTrain idiom — subtracting the nonnegative remainder first makes
    * the dividend divisible, so the oracle engine's truncation direction on
    * negative sums drops out).
    *
    * Tercile rule (deterministic, tie-stable): per group order the DISTINCT
    * avg_e6 values descending (higher log-prob = lower perplexity = head);
    * with cb = number of docs scoring strictly better and n_g the group
    * size, bucket = (3·cb) div n_g ∈ {0, 1, 2} → head/middle/tail. All
    * docs sharing a score land in one bucket by construction.
    *
    * Scale shape: the cumulative window runs over the avg_e6 CODOMAIN per
    * group (per-token log10-probs in micro-units span ~[−8e6, 0] — the
    * q_clf_auc discipline: bounded regardless of corpus size), never over
    * doc rows; the docs join back on (group, avg_e6) keys. At 100 TB:
    * one groupBy exchange of codomain-sized rows, one window over them,
    * one keyed join — no global sort of the corpus ever materializes.
    */
  def perplexityBuckets(scored: DataFrame, idCol: String, groupCol: String,
      sumCol: String, nCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned: the scored frame (often a full LM scoring pass) feeds BOTH
    // the codomain count and the final join, through different exchanges —
    // unpinned it would run twice
    val a = Par.pin(scored.select(Keys.id(scored, idCol).as("doc_id"),
      col(groupCol).as("grp"), avgE6Expr(sumCol, nCol).as("avg_e6")))
    val cnt = a.groupBy("grp", "avg_e6").agg(count(lit(1)).as("c"))
    val desc6 = Window.partitionBy("grp").orderBy(col("avg_e6").desc)
    val buckets = cnt.select(col("grp"), col("avg_e6"),
      coalesce(sum("c").over(
        desc6.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("cb"),
      sum("c").over(Window.partitionBy("grp")).as("ng"))
      .select(col("grp"), col("avg_e6"), expr(
        "case (3 * cb) div ng when 0 then 'head' when 1 then 'middle' " +
          "else 'tail' end").as("bucket"))
    a.join(buckets, Seq("grp", "avg_e6"))
      .select(col("doc_id"), col("grp").as(groupCol), col("avg_e6"),
        col("bucket"))
  }

  private def avgE6Expr(sumCol: String, nCol: String) =
    expr(s"($sumCol - pmod($sumCol, $nCol)) div $nCol")

  /** The persistable stratum state of [[perplexityBuckets]]: per group the
    * minimum avg_e6 that still lands in head and in middle — two BIGINT
    * cut points per group. A rolling pipeline computes these ONCE on a
    * reference round and then serves every later batch against the frozen
    * cuts ([[perplexityBucketsWith]]) — recomputing terciles per batch
    * would let each batch's own quality mix move the goalposts (the same
    * laundering argument as the LM train/serve split), and at 100 TB the
    * serve path is a broadcast join instead of a distribution pass.
    */
  def perplexityCuts(scored: DataFrame, idCol: String, groupCol: String,
      sumCol: String, nCol: String): DataFrame =
    perplexityBuckets(scored, idCol, groupCol, sumCol, nCol)
      .groupBy(groupCol)
      .agg(min(when(col("bucket") === "head", col("avg_e6"))).as("head_min"),
        min(when(col("bucket") === "middle", col("avg_e6"))).as("mid_min"))

  /** Bucket a scored batch against FROZEN [[perplexityCuts]]: head if
    * avg_e6 ≥ head_min, middle if ≥ mid_min, else tail. A group absent
    * from the cuts table (a language the reference round never saw)
    * defaults to TAIL — conservative: unvetted strata don't get promoted.
    * One broadcast join (cuts = 2 longs per group) + the narrow avg
    * projection; no window, no distribution pass.
    */
  def perplexityBucketsWith(cuts: DataFrame, scored: DataFrame, idCol: String,
      groupCol: String, sumCol: String, nCol: String): DataFrame = {
    val a = scored.select(Keys.id(scored, idCol).as("doc_id"),
      col(groupCol).as("grp"), avgE6Expr(sumCol, nCol).as("avg_e6"))
    a.join(broadcast(cuts.withColumnRenamed(groupCol, "grp")), Seq("grp"), "left")
      .select(col("doc_id"), col("grp").as(groupCol), col("avg_e6"),
        when(col("head_min").isNotNull && col("avg_e6") >= col("head_min"), "head")
          .when(col("mid_min").isNotNull && col("avg_e6") >= col("mid_min"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Per-document word-distribution ENTROPY — the gibberish/boilerplate
    * signal the LM scorers don't give: near-zero entropy flags one-phrase
    * spam (same words repeated), anomalously high entropy flags
    * random-token noise; both slip a frequency-based quality gate. Uses the
    * identity H = log2(n) − (Σ c·log2 c)/n so the per-distinct-word term
    * needs only its own count — no join against the doc total before the
    * final fold. Cross-engine determinism by the unigramLogProb recipe:
    * [[PortableLog]] log2 outputs (libm-free) floor-quantized to 6dp as
    * DECIMAL, c·log2c products and the log2(n)·n − Σ combination in exact
    * decimal arithmetic, one floor to 4dp, then the single IEEE division by
    * n. Zero-word docs are dropped.
    *
    * Scale shape: one exchange of (doc_id, word) tokens into the
    * per-(doc, word) count, then a map-side-combined per-doc fold of the
    * (already small) count rows — the TF-IDF shape without the broadcast.
    */
  def wordEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wc = Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"), explode(words(col(textCol))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * PortableLog.floorDec6(PortableLog.log2(col("c")))).as("__s"))
      .select(col("doc_id"), col("n_words"),
        (floor((PortableLog.floorDec6(PortableLog.log2(col("n_words")))
          * col("n_words") - col("__s")) * 10000).cast("double") / 10000.0)
          .as("ent_sum"))
      .withColumn("entropy", col("ent_sum") / col("n_words"))
  }

  /** Overlapping word-window chunking (RAG / context-window prep): cut each
    * document into windows of `width` words advancing by `stride`, emitting
    * (doc_id, chunk_id, n_words, chunk). The last window is the final partial
    * tail (if any); a doc shorter than `width` yields one chunk. Purely narrow —
    * chunking 100 TB is a map-only job whose output order is (doc_id,
    * chunk_id), no shuffle.
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width,
      "need width >= stride >= 1 (stride > width would drop words)")
    Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"),
        words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        // number of windows = 1 + ceil((n - width) / stride) clamped at >= 1
        s"transform(sequence(1, greatest(1, cast(ceil((size(w) - $width) / $stride.0) as int) + 1)), " +
          s"i -> concat_ws(' ', slice(w, (i - 1) * $stride + 1, $width)))"))
        .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        size(split(col("chunk"), " ")).as("n_words"), col("chunk"))
  }

  /** Winnowing fingerprint (rolling-hash document sketch, cf. Schleimer et al.
    * SIGMOD'03 "Winnowing: Local Algorithms for Document Fingerprinting"):
    * hash every word k-gram (the rolling window), keep the `sketchSize`
    * smallest hashes as the document sketch. Two documents sharing content
    * share sketch entries; overlap of sketches estimates containment. One
    * narrow pass, array output — no shuffle, same scale shape as minhash.
    */
  def winnowingSketch(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, sketchSize: Int = 16, portableHash: Boolean = false): DataFrame = {
    // xxhash64 (codegen'd, 8-byte) is the production hash; portableHash=true
    // swaps in md5 hex strings — ~same plan, slower hash — so an external SQL
    // engine can recompute the sketch verbatim (md5 is engine-universal,
    // xxhash64 is not)
    val (hashOf, emptyType) =
      if (portableHash) ("md5(concat_ws(' ', slice(w, i, %d)))", "array<string>")
      else ("xxhash64(concat_ws(' ', slice(w, i, %d)))", "array<bigint>")
    Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"),
        words(col(textCol)).as("w"))
      .select(col("doc_id"), expr(
        // Guard: sequence(1, 0) is DESCENDING [1, 0], so an unguarded transform
        // over a short doc calls slice(w, 0, k) and throws (cf. Dedup.shingles).
        s"case when size(w) >= $k then " +
          s"slice(array_sort(array_distinct(transform(" +
          s"sequence(1, size(w) - ${k - 1}), " +
          s"i -> ${hashOf.format(k)}))), 1, $sketchSize) " +
          s"else cast(array() as $emptyType) end")
        .as("sketch"))
  }

  /** The corpus word n-gram stream (one row per OCCURRENCE) — shared by
    * [[ngramHeavyHitters]]'s two passes.
    */
  /** Per-document n-gram NOVELTY against a reference corpus — the
    * contamination/overlap REPORT complementing span-level removal
    * ([[Pipelines.decontaminate]] DROPS overlapping spans; this MEASURES
    * per-doc overlap, the audit a release runs against its benchmark suite
    * before and after decontamination, and the novelty signal
    * dataset-mixing recipes weight by): novelty_bp = basis points of the
    * document's DISTINCT word n-gram shingles absent from the reference
    * set. Integer cross-multiplied ratio (the gopherGate discipline) — no
    * float on the hash surface.
    *
    * Engine shingles ride [[Dedup.shingles]]' xxhash64 keys (16-byte join
    * keys at 100 TB instead of n-word strings); the oracle counts raw
    * n-gram strings — counts agree (the jaccardOracle convention: a
    * counting xxhash64 collision is ~2⁻⁶⁴ per pair and would only shift a
    * count by 1). Scale: two narrow shingle explodes, one distinct, one
    * (AQE-broadcastable) left join on the hash key, one map-side-combined
    * per-doc aggregate. Docs with < n words have no shingles and drop out.
    */
  def ngramNovelty(refDocs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    require(n >= 1, "n must be positive")
    val refSh = Dedup.shingles(refDocs, idCol, textCol, n)
      .select(col("sh")).distinct().withColumn("__seen", lit(1))
    Dedup.shingles(docs, idCol, textCol, n)
      .join(refSh, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
        expr("(n_novel * 10000) div n_ngrams").as("novelty_bp"))
  }

  private def ngramStream(docs: DataFrame, textCol: String, n: Int): DataFrame =
    Par.spread(docs)
      .select(words(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(w, i, $n)))")).as("ngram"))

  /** EXACT corpus-scale n-gram heavy hitters — the boilerplate-discovery
    * primitive ("subscribe to our newsletter" at billions of occurrences is
    * how template rot is FOUND before anyone writes a removal rule): every
    * word n-gram occurring at least `minCount` times, with its exact count.
    *
    * Two-pass plan (the shape that survives 100 TB, where a full n-gram
    * groupBy's shuffle — one key per DISTINCT n-gram, near one per
    * occurrence on clean text — is the scale-killer):
    *  - pass 1: a bounded-memory [[graft.functions.MisraGries]] summary
    *    (map-side partial aggregation; every executor holds ≤ k-1
    *    counters; ONE ≤ (k-1)-entry summary reaches the driver — a bounded
    *    sidecar read, not a corpus materialization);
    *  - guarantee check: MG retains every item with true count > total/k,
    *    so `k·minCount > total` certifies the summary's key set is a
    *    SUPERSET of the true heavy hitters — violating it throws (raise k)
    *    rather than silently dropping a hitter;
    *  - pass 2: exact recount of the ≤ k-1 candidates only (broadcast
    *    semi-join on the stream, map-side-combinable count) → the sketch
    *    never touches the OUTPUT, it only bounds the candidate set, so the
    *    result is exact and merge-order-independent (oracle-hashable).
    *
    * Output: (ngram, cnt), cnt ≥ minCount exact.
    */
  def ngramHeavyHitters(docs: DataFrame, textCol: String,
      n: Int = 3, minCount: Long = 100L, k: Int = 8192): DataFrame = {
    require(n >= 1 && n <= 8, "need 1 <= n <= 8")
    require(minCount >= 1L, "minCount must be positive")
    require(k >= 2, "need k >= 2 MG counters")
    val spark = docs.sparkSession
    val grams = ngramStream(docs, textCol, n)
    val summary = grams.select(col("ngram").as("value"))
      .as(Encoders.STRING)
      .select(new graft.functions.MisraGries(k).toColumn)
      .head()
    require(summary.total < k.toLong * minCount,
      s"ngramHeavyHitters: stream length ${summary.total} >= k*minCount = " +
        s"${k.toLong * minCount} voids the Misra-Gries superset guarantee " +
        s"— raise k (or minCount) so k*minCount exceeds the n-gram count")
    val cand = spark.createDataset(summary.items.keys.toSeq)(Encoders.STRING)
      .toDF("ngram")
    grams.join(broadcast(cand), "ngram")
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** The persisted EXACT n-gram count state behind rolling boilerplate
    * discovery: (ngram, cnt) over everything crawled so far. Exact, so
    * state is O(distinct n-grams) — the full-fidelity companion of the
    * bounded [[graft.functions.MisraGries]] summaries (which merge across
    * rounds by the same Aggregator `merge`, spec-pinned, when even the
    * count table is too large to keep).
    */
  def ngramCountState(docs: DataFrame, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 8, "need 1 <= n <= 8")
    ngramStream(docs, textCol, n)
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
  }

  /** Merge a crawl batch into an [[ngramCountState]]: pointwise count sum
    * on the n-gram key — one keyed union-merge aggregate (the
    * `Profiling.coverageIncremental` exchange class). Report of the merged
    * state ≡ [[ngramHeavyHitters]] over the concatenated corpus.
    */
  def ngramCountIncremental(newDocs: DataFrame, textCol: String, n: Int,
      state: DataFrame): DataFrame =
    ngramStream(newDocs, textCol, n)
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .unionByName(state.select(col("ngram"), col("cnt")))
      .groupBy("ngram").agg(sum("cnt").as("cnt"))

  /** The heavy hitters of a (possibly merged) count state. */
  def ngramHeavyHittersReport(state: DataFrame, minCount: Long): DataFrame = {
    require(minCount >= 1L, "minCount must be positive")
    state.filter(col("cnt") >= minCount)
      .select(col("ngram"), col("cnt"))
  }

  /** Readability scoring — Flesch reading ease and Flesch–Kincaid grade
    * (Kincaid et al. 1975), the classic complexity signals a curation
    * pipeline mixes into quality gates and difficulty-bucketed sampling.
    * This is the standard HEURISTIC restated engine-portably, not
    * linguistic truth: sentences = runs of [.!?], syllables = vowel-group
    * runs [aeiouy]+ in the lower-cased text (the usual approximation).
    *
    * Both scores surface as BIGINT 1e-3 units (the micro-unit contract —
    * nothing on the hash surface is DECIMAL or float):
    *
    *   flesch_e3 = 206835 − (1015·W) div S⁺ − (84600·Y) div W⁺
    *   grade_e3  = (390·W) div S⁺ + (11800·Y) div W⁺ − 15590
    *
    * with S⁺/W⁺ = greatest(1, ·) guarding empty docs. Every division has
    * non-negative operands (truncation = floor in any engine); the final
    * subtraction may go negative but divides nothing. Overflow headroom:
    * 84600·Y at Y ≤ 1e8 syllables/doc ≪ 2^63.
    *
    * One narrow codegen pass — three regexp counts per row, no shuffle.
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    Par.spread(docs).select(
      Keys.id(docs, idCol).as("doc_id"),
      size(words(t)).cast("long").as("n_words"),
      regexp_count(t, lit("[.!?]+")).cast("long").as("n_sentences"),
      regexp_count(lower(t), lit("[aeiouy]+")).cast("long").as("n_syllables"))
      .withColumn("flesch_e3",
        expr("206835L - (1015L * n_words) div greatest(1L, n_sentences)" +
          " - (84600L * n_syllables) div greatest(1L, n_words)"))
      .withColumn("grade_e3",
        expr("(390L * n_words) div greatest(1L, n_sentences)" +
          " + (11800L * n_syllables) div greatest(1L, n_words) - 15590L"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): per
    * document, PageRank over the word co-occurrence graph (undirected
    * distinct edges between tokens at sequence distance ≤ `window`), top-k
    * words by rank — the unsupervised keyword tagger a curation pipeline
    * uses for topical routing and mixture labels.
    *
    * The whole recurrence is [[Links.pageRank]]'s 1e-12 fixed-point BIGINT
    * loop ([[Links.dampedRank]], ranks in [[Links.Scale]] units) keyed by
    * (doc_id, word): r0 = Scale div
    * n_d, r' = (10000−dampBp)·Scale div n_d div 10000 + dampBp·Σ contrib div
    * 10000 — per-document graphs, but every iteration is ONE corpus-wide
    * (doc_id, word)-keyed equi-join + hash aggregate, so document count
    * costs nothing extra and no per-doc loop exists. All operands
    * non-negative → truncating division is floor in both engines.
    *
    * Co-occurrence edges derive NARROWLY: each token joins the tokens at
    * positions pos+1..pos+window on the (doc_id, position) equality key —
    * window·tokens rows, never the |tokens|² per-doc self-join. Edge set
    * and node set are distinct-collapsed; self-pairs (repeated words) drop.
    *
    * Output: (doc_id, word, rank, rk) for the `topK` words per document,
    * rank descending, ties on the word — one WindowGroupLimit pass.
    */
  def textRankKeywords(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 2, iters: Int = 3, topK: Int = 10,
      dampBp: Int = 8500): DataFrame = {
    require(window >= 1 && window <= 16, "need 1 <= window <= 16")
    require(iters >= 1 && iters <= 20, "need 1 <= iters <= 20")
    require(topK >= 1, "topK must be positive")
    require(dampBp >= 0 && dampBp <= 10000, "dampBp is basis points")
    // pinned: both sides of the window join and the node set read it
    val toks = Par.pin(Par.spread(docs.filter(col(textCol).isNotNull))
      .select(Keys.id(docs, idCol).as("doc_id"),
        posexplode(words(col(textCol))).as(Seq("pos", "w"))))
    // renamed right-side keys: both sides are `toks`, and a shared-lineage
    // join key trips DetectAmbiguousSelfJoin
    val fwd = toks
      .select(col("doc_id"), col("w"), explode(
        sequence(col("pos") + 1, col("pos") + window)).as("pos2"))
      .join(toks.select(col("doc_id").as("d2"), col("pos").as("p2"),
        col("w").as("w2")),
        col("doc_id") === col("d2") && col("pos2") === col("p2"))
      .filter(col("w") =!= col("w2"))
      .select("doc_id", "w", "w2")
    val e = fwd.select(col("doc_id"), col("w").as("src"), col("w2").as("dst"))
      .unionByName(fwd.select(col("doc_id"), col("w2").as("src"),
        col("w").as("dst")))
      .distinct()
    // pinned: every rank round reads the per-doc node frame
    val nodes = Par.pin(toks.select("doc_id", "w").distinct())
    val perDoc = nodes.join(
      nodes.groupBy(col("doc_id").as("nd_doc")).agg(count(lit(1)).as("n")),
      col("doc_id") === col("nd_doc"))
    val ranks = Links.dampedRank(Links.flow(e, Seq("doc_id")), perDoc,
      expr(s"(${10000L - dampBp} * ${Links.Scale}L) div n div 10000L"),
      perDoc.select(col("doc_id"), col("w"), expr(s"${Links.Scale}L div n").as("rank")),
      Seq("doc_id"), "w", iters, dampBp)
    Rank.topK(ranks, Seq("doc_id"), Seq(col("rank").desc, col("w")), topK, "rk")
      .select(col("doc_id"), col("w").as("word"), col("rank"), col("rk"))
  }
}
