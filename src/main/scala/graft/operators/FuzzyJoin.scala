package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy string self-join (entity resolution over names/titles/keys): all
  * pairs within edit distance k, EXACTLY, with no quadratic comparison ever
  * forming.
  *
  * Two blocking schemes, both yielding a candidate superset that a final
  * `levenshtein <= k` filter makes exact:
  *
  *  - k <= 2: FastSS deletion neighborhoods (Bocek et al. 2007) — two strings
  *    are within one edit iff their deletion neighborhoods (the string plus
  *    every single-character deletion; depth 2 for k = 2) intersect, so an
  *    equality join on neighborhood hashes blocks candidates.
  *  - k >= 3: PassJoin-style segment blocking (Li, Deng, Feng 2011) — split
  *    each string into k+1 segments; if ed(s, t) <= k then (pigeonhole over an
  *    optimal alignment) at least one segment of s survives UNEDITED and
  *    appears verbatim in t, displaced by at most k positions. Candidates come
  *    from an equality join of per-string segments against per-string
  *    windowed substrings on (length, segment index, content). Deletion
  *    neighborhoods blow up combinatorially past k = 2 (O(len^k) variants);
  *    segments stay linear: k+1 segment rows and O(k^2) probe rows per string.
  *
  * EXACT-DUPLICATE COLLAPSE (both schemes): blocking runs over DISTINCT
  * strings only; pairs re-expand through equality joins on the string
  * afterwards (cross-group pairs inherit the representative distance,
  * within-group pairs are distance 0 by definition). On real corpora with
  * repeated names this bounds blocking-bucket width by the DISTINCT-string
  * count — m copies of one name cost m rows in one re-expansion join, never
  * m× wider candidate buckets.
  *
  * Scale shape: every stage is a narrow explode or a hash-partitioned
  * equality join (variant hash / segment key / exact string); candidate
  * pairs deduplicate BEFORE the levenshtein verify, so each pair pays the
  * edit-distance DP exactly once no matter how many blocking keys it shares
  * (O(len) shared variants at k = 2). Strings shorter than k+1 chars cannot host k+1 non-empty
  * segments — but any two such strings are trivially within k edits, so they
  * meet in one constant-key bucket (tiny on real corpora: names shorter than
  * k+1 characters).
  */
object FuzzyJoin {

  def pairsWithin1(df: DataFrame, idCol: String, strCol: String): DataFrame =
    pairsWithin(df, idCol, strCol, k = 1)

  /** All pairs within edit distance `k`, exact. Output: (id_a, id_b, dist)
    * with id_a < id_b, each pair once.
    */
  def pairsWithin(df: DataFrame, idCol: String, strCol: String, k: Int): DataFrame =
    pairsWithinScheme(df, idCol, strCol, k, forceSegments = false)

  /** [[pairsWithin]] with the blocking scheme pinned: `forceSegments` runs
    * PassJoin segment blocking below k = 3 too (both schemes are EXACT at
    * any k — deletion neighborhoods are merely assumed faster at k <= 2).
    * Profiling hook (ProfileFuzzy A/B), not part of the public surface.
    */
  private[graft] def pairsWithinScheme(df: DataFrame, idCol: String,
      strCol: String, k: Int, forceSegments: Boolean): DataFrame = {
    require(k >= 1 && k <= 8, "pairsWithin supports 1 <= k <= 8")
    val ids = df.select(Keys.id(df, idCol).as("id"), col(strCol).as("s"))
    // blocking over distinct strings only (see scaladoc)
    val reps = distinctReps(ids, "s")
    val repPairs =
      if (k <= 2 && !forceSegments) deletionPairs(reps, k)
      else segmentPairs(Par.pin(reps), k)
    // re-expand distinct-string pairs to id pairs: every id holding sa pairs
    // with every id holding sb (the pair set a dup-oblivious blocking would
    // have produced, at join cost proportional to the OUTPUT, not the blocks)
    val byStr = (a: String, i: String) =>
      ids.select(col("id").as(i), col("s").as(a))
    val cross = repPairs
      .join(byStr("sa", "ia"), "sa")
      .join(byStr("sb", "ib"), "sb")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
    // ids sharing one exact string are distance 0 — a pair class the collapse
    // removed from the blocking and must restore explicitly
    val withinGroup = ids.as("x").join(ids.as("y"), "s")
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0).as("dist"))
    cross.unionByName(withinGroup)
  }

  /** Cross-table fuzzy join (entity resolution across two datasets): all
    * (left_id, right_id, dist) with ed(leftStr, rightStr) <= k, EXACTLY.
    * Same blocking schemes and exact-duplicate collapse as [[pairsWithin]],
    * but pairs keep their (left, right) orientation and equal strings match
    * at distance 0 — the "link dirty names to the clean registry" shape.
    *
    * Scale shape matches pairsWithin: blocking runs over the two DISTINCT
    * string sets, candidates come from an equality join of left variants vs
    * right variants (k <= 2) or segments-vs-windows in BOTH orientations
    * (k >= 3 — the pigeonhole argument only guarantees discovery with the
    * longer string on the segment side), and ids re-expand afterwards at
    * output-proportional cost.
    */
  def pairsBetween(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 8, "pairsBetween supports 1 <= k <= 8")
    val l = left.select(Keys.id(left, leftId).as("lid"), col(leftStr).as("sl"))
    val r = right.select(Keys.id(right, rightId).as("rid"), col(rightStr).as("sr"))
    val lRep = distinctReps(l, "sl")
    val rRep = distinctReps(r, "sr")
    val strPairs =
      if (k <= 2) {
        val lv = variantHashes(lRep, "sl", k)
        val rv = variantHashes(rRep, "sr", k)
        lv.join(rv, "vh")
          .filter(abs(length(col("sl")) - length(col("sr"))) <= k)
          .select("sl", "sr").distinct()
      } else {
        // both orientations of segment-vs-window, then the short-short
        // bucket; pinned, since the segment and probe sides of one string
        // set are planned apart and exchange reuse cannot share them
        val (lReps, rReps) = (Par.pin(lRep), Par.pin(rRep))
        val fwd = segmentSide(lReps, "sl", k).join(probeSide(rReps, "sr", k),
          Seq("L", "i", "seg")).select("sl", "sr")
        val bwd = probeSide(lReps, "sl", k).join(segmentSide(rReps, "sr", k),
          Seq("L", "i", "seg")).select("sl", "sr")
        val shortL = lReps.filter(length(col("sl")) < k + 1)
          .withColumn("z", pmod(xxhash64(col("sl")), lit(1)))
        val shortR = rReps.filter(length(col("sr")) < k + 1)
          .withColumn("z", pmod(xxhash64(col("sr")), lit(1)))
        val short = shortL.join(shortR, "z").select("sl", "sr")
        fwd.unionByName(bwd).unionByName(short).distinct()
      }
    strPairs
      .withColumn("dist", levenshtein(col("sl"), col("sr"), k))
      .filter(col("dist") >= 0)
      .join(l, "sl").join(r, "sr")
      .select(col("lid").as("left_id"), col("rid").as("right_id"), col("dist"))
  }

  /** The distinct strings of column `c`, hash-partitioned one partition
    * per core. The variant and segment explodes over them cost far more
    * per row than the strings' bytes suggest; a distinct left to adaptive
    * execution is coalesced into one partition when small, and ran them in
    * one task (q_fuzzy_join2, sf0.1, 4 cores: 104 s against 34 s). For
    * k <= 2 every reader is in the caller's one query, where the
    * fixed-count exchange is shared as a ReusedExchange; the segment path
    * (k >= 3) pins them, since its two sides are planned apart.
    */
  private def distinctReps(df: DataFrame, c: String): DataFrame =
    df.select(c)
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(c))
      .distinct()

  /** Depth-<=k (k <= 2) deletion-neighborhood variant hashes of the distinct
    * strings in column `c`: (c, vh) rows, shared by the self- and cross-join
    * paths.
    */
  private def variantHashes(reps: DataFrame, c: String, k: Int): DataFrame = {
    val d1 = s"transform(sequence(1, length($c)), " +
      s"i -> concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))))"
    val neighborhood =
      if (k == 1) s"array_distinct(concat(array($c), $d1))"
      else s"array_distinct(concat(array($c), $d1, " +
        s"flatten(transform($d1, v -> case when length(v) >= 1 then " +
        "transform(sequence(1, length(v)), " +
        "j -> concat(substring(v, 1, j - 1), substring(v, j + 1, length(v)))) " +
        "else cast(array() as array<string>) end))))"
    reps.select(col(c), explode(expr(neighborhood)).as("v"))
      .select(col(c), xxhash64(col("v")).as("vh"))
  }

  /** FastSS deletion-neighborhood candidate pairs over distinct strings.
    * Completeness at k = 2: in an optimal alignment each side has at most k
    * positions where it differs; deleting exactly those positions from both
    * sides yields a common string in both depth-<=k neighborhoods.
    * Output: (sa, sb, dist), sa < sb, dist <= k, each string pair once.
    */
  private def deletionPairs(reps: DataFrame, k: Int): DataFrame = {
    // the completeness-critical neighborhood expression lives ONLY in
    // variantHashes — the self-join and cross-join paths must never drift
    val variants = variantHashes(reps, "s", k)
    // deduplicate candidate pairs BEFORE the levenshtein verify: a pair at
    // distance <= k shares MANY depth-<=k variants (O(len) at k = 2), so
    // verifying per joined row recomputes the same edit distance that many
    // times, where distinct-first pays ONE DP per candidate pair no matter
    // the collision multiplicity (A/B on sf0.1 customer names: equal within
    // this box's noise, structurally bounded CPU). The length prefilter
    // (|len diff| <= k is necessary for ed <= k) drops false candidates
    // before they reach the exchange.
    variants.as("x").join(variants.as("y"), "vh")
      .filter(col("x.s") < col("y.s") &&
        abs(length(col("x.s")) - length(col("y.s"))) <= k)
      .select(col("x.s").as("sa"), col("y.s").as("sb"))
      .distinct()
      // bounded verify: the 3-arg levenshtein runs the banded O(k·len) DP
      // with early exit (vs O(len²) unbounded) and returns -1 past the
      // threshold — same surviving pairs, same distances, ~len/k× less CPU
      // on the verify stage, which dominates this operator's bench cost
      .select(col("sa"), col("sb"), levenshtein(col("sa"), col("sb"), k).as("dist"))
      .filter(col("dist") >= 0)
  }

  /** PassJoin-style segment-blocking candidate pairs over distinct strings,
    * any k. Segment scheme for a string of length L: n = k+1 segments, the
    * first n - (L mod n) of length (L div n), the rest one longer — a pure
    * function of L both sides compute identically. One side explodes its own
    * segments keyed (L, i, content); the other generates, for every plausible
    * partner length L within +-k of its own and every i, its substrings of
    * the scheme's length at start positions within +-k of the scheme's start
    * (an unedited segment displaces by at most the k edits around it).
    * Both roles are complete supersets of the tight PassJoin windows; the
    * levenshtein verify makes the result exact.
    */
  // segment geometry as SQL fragments of (L, i): all integer arithmetic
  private def segLen(n: Int)(l: String, i: String) =
    s"(($l) div $n + (case when ($i) >= $n - (($l) % $n) then 1 else 0 end))"
  private def segStart(n: Int)(l: String, i: String) =
    s"(($i) * (($l) div $n) + greatest(0, ($i) - ($n - (($l) % $n))))"
  // sequence(a, b) is DESCENDING when a > b (the Dedup.shingleArrayExpr
  // gotcha) — every range needs an emptiness guard
  private def seqG(a: String, b: String) =
    s"(case when ($a) <= ($b) then sequence($a, $b) else array() end)"

  /** One side's own k+1 segments keyed (L, i, seg); strings shorter than k+1
    * cannot host k+1 non-empty segments and are excluded (the short-string
    * bucket handles them).
    */
  private def segmentSide(reps: DataFrame, c: String, k: Int): DataFrame = {
    val n = k + 1
    reps.filter(length(col(c)) >= n)
      .select(col(c), explode(expr(
        s"transform(sequence(0, $k), i -> named_struct(" +
          s"'L', length($c), 'i', i, " +
          s"'seg', substring($c, ${segStart(n)(s"length($c)", "i")} + 1, " +
          s"${segLen(n)(s"length($c)", "i")})))"))
        .as("b"))
      .select(col(c), col("b.L").as("L"), col("b.i").as("i"), col("b.seg").as("seg"))
  }

  /** The probing side: for every plausible partner length L within ±k and
    * every segment index, the substrings of the scheme's length at start
    * positions within ±k of the scheme's start.
    */
  private def probeSide(reps: DataFrame, c: String, k: Int): DataFrame = {
    val n = k + 1
    reps
      .select(col(c), explode(expr(
        s"flatten(transform(${seqG(s"greatest(length($c) - $k, $n)", s"length($c) + $k")}, L -> " +
          s"flatten(transform(sequence(0, $k), i -> " +
          s"transform(${seqG(s"greatest(0, ${segStart(n)("L", "i")} - $k)",
            s"least(length($c) - ${segLen(n)("L", "i")}, ${segStart(n)("L", "i")} + $k)")}, " +
          s"p -> named_struct('L', L, 'i', i, " +
          s"'seg', substring($c, p + 1, ${segLen(n)("L", "i")})))))))"))
        .as("b"))
      .select(col(c), col("b.L").as("L"), col("b.i").as("i"), col("b.seg").as("seg"))
  }

  private def segmentPairs(reps: DataFrame, k: Int): DataFrame = {
    val n = k + 1
    // normalize AFTER the join rather than filtering sa < sb: a pair with one
    // side shorter than k+1 is only ever discovered with the long string on
    // the segment side, so an orientation filter would drop half those pairs
    val segCand = segmentSide(reps.select(col("s").as("sa")), "sa", k)
      .join(probeSide(reps.select(col("s").as("sb")), "sb", k), Seq("L", "i", "seg"))
      .filter(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("sa"),
        greatest(col("sa"), col("sb")).as("sb"))

    // both strings shorter than k+1 ⇒ ed <= max length <= k always — block
    // them in one shared bucket. The key must be COLUMN-derived (always 0,
    // but not a literal): a lit(0) key constant-folds the equi-condition away
    // and the join degrades to BroadcastNestedLoopJoin
    val short = reps.filter(length(col("s")) < n)
      .withColumn("z", pmod(xxhash64(col("s")), lit(1)))
    val shortCand = short.as("x").join(short.as("y"), "z")
      .filter(col("x.s") < col("y.s"))
      .select(col("x.s").as("sa"), col("y.s").as("sb"))

    // distinct before verify, as in deletionPairs: a pair can collide on up
    // to (k+1)·O(k) different (L, i, seg) keys and must pay levenshtein once
    segCand.unionByName(shortCand)
      .distinct()
      .select(col("sa"), col("sb"), levenshtein(col("sa"), col("sb"), k).as("dist"))
      .filter(col("dist") >= 0)
  }
}
