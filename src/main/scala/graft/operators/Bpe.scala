package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich et al. 2016) — the tokenizer
  * side of a training-data pipeline ([[graft.operators.TextAnalysis]] counts
  * BPE-ish tokens with a fixed regex; this LEARNS the merge table).
  *
  * Greedy merge application is a LEFT FOLD over the symbol array — merge the
  * incoming symbol into the accumulator's last element when they form the
  * pair, else append — which reproduces the reference algorithm's
  * left-to-right non-overlapping scan exactly ("aaa" under (a,a) → [aa, a])
  * without a UDF: `aggregate(...)` stays inside Catalyst.
  *
  * Scale shape: training runs on the WORD-TYPE table (distinct words +
  * counts), which is the classic trick that makes BPE tractable — one
  * corpus-sized groupBy up front, then every merge iteration touches only
  * |vocab| rows (pair counting is a map-side-combined aggregate; the argmax
  * is a 1-row TakeOrdered collect, plan-time metadata cost like the CC
  * convergence probes). The per-iteration fold rewrite grows the logical
  * plan, so the word frame is pinned ([[Par.pin]]) every iteration — the
  * [[Dedup.clusters]] lesson. Training is inherently iterative, so the
  * corpus entries are rows-only; BpeSpec proves the merge table and
  * segmentation equal an independent reference implementation.
  */
object Bpe {

  /** The learned merge table: (rank, left, right, pair_count), rank 0 first.
    * Ties break on (count desc, left asc, right asc) — deterministic.
    */
  def trainMerges(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, idCol, textCol, numMerges)._1.toDF("rank", "left", "right", "pair_count")
  }

  /** Per-document BPE token count under the trained segmentation: the word →
    * symbol-sequence table train() produces IS the tokenizer (vocabulary-
    * table-driven tokenization, the shape a deployed pipeline uses), so
    * tokenizing is one narrow explode + one join on the word + a per-doc sum.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    val seg = train(docs, idCol, textCol, numMerges)._2
      .select(col("w"), size(col("syms")).as("n_syms"))
    val counts = docs.select(Keys.id(docs, idCol).as("doc_id"),
      explode(TextAnalysis.words(coalesce(col(textCol), lit("")))).as("w"))
      .join(seg, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"))
    // left join restores null/whitespace-only docs with zero counts — the
    // output is total over the corpus, like every sibling operator
    docs.select(Keys.id(docs, idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Shared trainer: returns (merges, final word-type segmentation frame
    * (w, cnt, syms)).
    */
  private def train(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(numMerges >= 1 && numMerges <= 1000, "need 1 <= numMerges <= 1000")
    val types = Par.pin(docs
      .select(explode(TextAnalysis.words(coalesce(col(textCol), lit("")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"), split(col("w"), "").as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    val words = Par.iterate(types, numMerges) { (words, round) =>
      // adjacent-pair counts weighted by word frequency; map-side combined
      val top = words
        .select(col("cnt"), explode(expr(
          "case when size(syms) >= 2 then transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) as l, element_at(syms, i + 1) as r)) " +
            "else cast(array() as array<struct<l:string,r:string>>) end")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) words
      else {
        val (l, r, n) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((round - 1, l, r, n))
        // greedy left-to-right merge as a fold; literals are SQL-escaped
        def q(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
        words.withColumn("syms", expr(
          s"aggregate(syms, cast(array() as array<string>), (acc, x) -> " +
            s"case when size(acc) > 0 and element_at(acc, -1) = ${q(l)} and x = ${q(r)} " +
            s"then concat(slice(acc, 1, size(acc) - 1), array(${q(l + r)})) " +
            "else concat(acc, array(x)) end)"))
      }
    }
    (merges.toSeq, words)
  }
}
