package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators (north-star extension, SURVEY.md §2.13).
  *
  * Scale design notes (100 TB):
  *  - `exact` is one hash-groupBy: a single shuffle on the fingerprint, map-side
  *    partial aggregation.
  *  - `minHashLshPairs` is the scale path for near-dup: signatures are computed with
  *    ONE groupBy over the exploded shingle stream (all `numPerm` mins in a single
  *    shuffle pass), then candidates come from equality joins on narrow (band, hash)
  *    keys — no O(n²) comparison ever materializes.
  *  - `jaccardPairs` (exact) self-joins on shingle hashes; it is the correctness
  *    oracle / verifier, quadratic in the worst case by design. At scale, only run
  *    it over LSH candidates (which `minHashLshPairs` does internally).
  */
object Dedup {

  /** Word n-gram shingle hashes of `w` as an array expression. Docs shorter than
    * n words yield an empty array — `sequence(1, 0)` is DESCENDING `[1, 0]` in
    * Spark, so an unguarded transform would call `slice(w, 0, n)` and throw.
    */
  private[operators] def shingleArrayExpr(n: Int): Column = expr(
    s"case when size(w) >= $n then " +
      s"transform(sequence(1, size(w) - ${n - 1}), " +
      s"i -> xxhash64(concat_ws(' ', slice(w, i, $n)))) " +
      s"else cast(array() as array<bigint>) end")

  /** (doc_id, sh) — distinct xxhash64 of the lower-cased word n-gram shingles. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"),
        filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0).as("w"))
      .select(col("doc_id"), explode(shingleArrayExpr(n)).as("sh"))
      .distinct()

  /** Exact dedup: keep the smallest doc_id per normalized-text fingerprint.
    * Normalization = lower-case + whitespace-collapse; fingerprint = md5.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"),
        md5(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Incremental exact dedup — the continuously-ingesting form: keep rows of
    * `newDocs` whose normalized-text fingerprint (1) does not occur in
    * `seenFps` (an `fp` column persisted from previous runs, e.g. this
    * function's own by-product or [[graft.operators.TextAnalysis.fingerprint]]
    * output) and (2) is the batch's first occurrence (smallest doc_id).
    *
    * Scale shape: at 100 TB the SEEN side is the big one — a left ANTI join
    * hash-partitioned on the 16-byte fingerprint, which shuffles only
    * (fp, doc_id) pairs of the new batch plus the fingerprint column of the
    * history (never either corpus's text), then the usual min-per-fp exchange
    * within the batch. AQE broadcasts the history instead when it is small.
    */
  def exactIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      seenFps: DataFrame): DataFrame = {
    require(seenFps.columns.contains("fp"),
      "seenFps must carry the fingerprint column 'fp'")
    Par.spread(newDocs)
      .select(Keys.id(newDocs, idCol).as("doc_id"),
        md5(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("fp"))
      .join(seenFps.select("fp"), Seq("fp"), "left_anti")
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
  }

  /** RETRACT documents from a persisted exact-dedup fingerprint state — the
    * takedown/recrawl form completing [[exactIncremental]]'s grid (VERDICT
    * r9 missing #2: every dedup state had append, none had removal, so a
    * retirement forced a state rebuild). The state carries fingerprints
    * only, so retraction recomputes the retracted docs' fingerprints and
    * anti-joins them out: the returned state no longer claims that content,
    * and a future batch re-admits it through [[exactIncremental]] as new.
    *
    * Scale shape: the state side is the big one — a left ANTI join
    * hash-partitioned on the 16-byte fingerprint shipping only fp columns
    * (AQE broadcasts the small retraction side). Persist the result with
    * the same rename-swap discipline as any state table.
    */
  def exactRetract(state: DataFrame, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(state.columns.contains("fp"),
      "state must carry the fingerprint column 'fp'")
    state.join(
      Par.spread(docs)
        .select(md5(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("fp"))
        .distinct(),
      Seq("fp"), "left_anti")
  }

  /** [[exactIncremental]] accelerated by a [[BloomState]] sidecar — the
    * result is IDENTICAL (Bloom false positives only route extra rows to
    * the exact check; they cannot change the answer), but the plan shape
    * changes from "shuffle the whole history every batch" to "touch the
    * history only for the maybe-set":
    *
    *  1. the broadcast filter splits the batch: rows whose fingerprint the
    *     filter rejects are DEFINITELY new — no state access at all;
    *  2. the maybe-set (true duplicates + fpp·batch false positives, batch-
    *     bounded by construction) broadcast-SEMI-joins against the state,
    *     so the state side is one narrow column-pruned scan of its fp
    *     column with ZERO exchange — versus [[exactIncremental]]'s anti-
    *     join hash-partitioning ~16 B × every history doc per batch;
    *  3. the surviving maybe rows and the definite-new rows take the usual
    *     within-batch min-per-fp collapse.
    *
    * The membership probe is a Scala UDF over the broadcast sketch — a
    * driver-held `util.sketch.BloomFilter` has no Catalyst expression form
    * (same justification as the Multimodal codec kernels), and it runs only
    * on the batch side, never the corpus.
    *
    * Correctness contract: the sidecar must cover EVERY fingerprint in
    * `seenFps` (write/append it in the same commit step as the state — a
    * stale filter's false negatives would silently re-admit seen content).
    */
  def exactIncrementalBloom(newDocs: DataFrame, idCol: String, textCol: String,
      seenFps: DataFrame, bloomPath: String): DataFrame = {
    require(seenFps.columns.contains("fp"),
      "seenFps must carry the fingerprint column 'fp'")
    val spark = newDocs.sparkSession
    val bc = spark.sparkContext.broadcast(BloomState.read(spark, bloomPath))
    val mightSeen = udf((fp: String) => bc.value.mightContainString(fp))
    val fps = Par.spread(newDocs)
      .select(Keys.id(newDocs, idCol).as("doc_id"),
        md5(regexp_replace(lower(col(textCol)), "\\s+", " ")).as("fp"))
    val maybe = fps.filter(mightSeen(col("fp")))
    val hits = seenFps.select("fp")
      .join(broadcast(maybe.select("fp").distinct()), Seq("fp"), "left_semi")
    fps.filter(!mightSeen(col("fp")))
      .unionByName(maybe.join(broadcast(hits), Seq("fp"), "left_anti"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
  }

  /** RETRACT documents from a persisted [[minHashState]] — the takedown/
    * recrawl form for the NEAR-dup modality, completing its (append,
    * retract) pair the way [[exactRetract]] completes exact dedup's. The
    * state is doc-id-keyed (every row carries the contributing doc), so
    * retraction is EXACT: the result is bit-identical to a state built
    * from the surviving documents — no shared-content ambiguity, unlike
    * the fingerprint-keyed states. A future batch then re-admits the
    * retracted content through [[nearIncremental]] as new.
    *
    * Scale shape: one anti-join on the doc-id key; the retraction side is
    * takedown-sized and AQE broadcasts it.
    */
  def minHashRetract(state: DataFrame, docIds: DataFrame): DataFrame = {
    require(Seq("doc_id", "band", "bh", "shs").forall(state.columns.contains),
      "state must be a minHashState table: (doc_id, band, bh, shs)")
    require(docIds.columns.contains("doc_id"),
      "docIds must carry the retracted ids as 'doc_id'")
    state.join(docIds.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
  }

  /** RETRACT documents from a persisted [[containmentState]] postings
    * table — doc-id-keyed like [[minHashRetract]], so retraction is exact:
    * the surviving postings equal a state built from the surviving docs,
    * and [[containmentIncremental]] against the result behaves as if the
    * retracted docs had never been ingested.
    */
  def containmentRetract(state: DataFrame, docIds: DataFrame): DataFrame = {
    require(state.columns.toSet == Set("doc_id", "sh"),
      "state must be a containmentState postings table: (doc_id, sh)")
    require(docIds.columns.contains("doc_id"),
      "docIds must carry the retracted ids as 'doc_id'")
    state.join(docIds.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
  }

  /** RETRACT fingerprints from a persisted [[hammingState]] — the
    * fingerprint-modality takedown form. The state is FP-keyed (distinct
    * fingerprints, no doc ids), so like [[exactRetract]] the semantics are
    * content-level: recompute the retracted docs' fingerprints and remove
    * those rows — the state no longer claims that CONTENT, including for
    * any remaining doc that carried an identical fingerprint (document the
    * same way; a doc-granular near-dup retraction is [[minHashRetract]]'s
    * modality). A future batch re-admits the content through
    * [[hammingIncremental]] as new.
    */
  def hammingRetract(state: DataFrame, hashes: DataFrame, idCol: String,
      hashCol: String): DataFrame = {
    require(Seq("chunk", "ch", "fp").forall(state.columns.contains),
      "state must be a hammingState table: (chunk, ch, fp)")
    state.join(
      hashes.select(col(hashCol).cast("long").as("fp"))
        .filter(col("fp").isNotNull).distinct(),
      Seq("fp"), "left_anti")
  }

  /** Exact pairwise Jaccard over word n-gram shingle sets, pairs ≥ threshold.
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count("*").as("nsh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = a.join(b, "sh").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count("*").as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nb"), "doc_b")
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        (floor(col("jaccard") * 10000).cast("double") / 10000.0).as("jaccard"))
  }

  /** Exact pairwise shingle CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over
    * distinct word n-gram shingles, emitted when C ≥ threshold (checked as
    * the exact integer cross-multiplication i·10⁴ ≥ t4·|A| — no double
    * division decides membership; the surfaced score is display-rounded).
    *
    * Jaccard rewards SYMMETRIC overlap, so a 100-word document quoted
    * verbatim inside a 10,000-word page scores J ≈ 0.01 and sails through
    * [[jaccardPairs]]/[[minHashLshPairs]] — but its containment is ≈ 1.
    * This operator catches that doc-in-doc duplicate class (quotations,
    * syndicated articles inside portals, boilerplate-wrapped reposts).
    * Output: (doc_a, doc_b, containment) meaning doc_a is contained in
    * doc_b; mutual near-identical pairs yield both directions.
    *
    * Scale shape — the PPJoin prefix-filter principle (Xiao 2008), not an
    * all-pairs join: order each document's shingles by ascending global
    * document frequency (rarest first, ties by hash); if |A∩B| ≥ ⌈t·|A|⌉
    * then B misses at most |A| − ⌈t·|A|⌉ of A's shingles, so among A's
    * first |A| − ⌈t·|A|⌉ + 1 prefix shingles at least one is in B —
    * joining only PREFIXES against the full shingle index has recall 1 by
    * pigeonhole, and the df-ascending order makes the join fan-out the
    * smallest any correct prefix choice can (rare shingles have few
    * postings). Verification then touches candidate pairs only, via one
    * `array_intersect` over per-doc sorted shingle arrays. The df
    * aggregate, the per-doc rank window (PARTITIONED by doc — no global
    * window), the prefix-index join, and the candidate verify join are all
    * hash-partitioned on shingle/doc keys; nothing is quadratic in the
    * corpus, only in true near-containment cliques (the emitted output) —
    * and even those pay core cost only once per DISTINCT shingle set: the
    * whole pipeline runs over exact-dup-collapsed representatives and
    * re-expands afterwards, so a clone flood's g² identical-set pairs are
    * emitted by one cheap fp equality self-join, never g² array verifies.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9, minShingles: Int = 5): DataFrame = {
    val (withFp, reps, repPairs) =
      containmentRepCore(docs, idCol, textCol, n, threshold, minShingles)
    val ids = withFp.select(col("fp"), col("doc_id"))
    val repFp = reps.select(col("doc_id"), col("fp"))
    val cross = repPairs
      .join(repFp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), "doc_a")
      .join(repFp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), "doc_b")
      .join(ids.select(col("fp").as("fp_a"), col("doc_id").as("ida")), "fp_a")
      .join(ids.select(col("fp").as("fp_b"), col("doc_id").as("idb")), "fp_b")
      // direction survives the expansion: every member of A's set is
      // contained in every member of B's set at the rep pair's value
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        col("containment"))
    val within = withFp.filter(size(col("shs")) >= minShingles)
      .select(col("fp"), col("doc_id"))
    val withinPairs = within.as("x").join(within.as("y"), Seq("fp"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("containment"))
    cross.unionByName(withinPairs)
  }

  /** EXACT-DUPLICATE-COLLAPSED containment core (the minHashCore
    * convention): containment is a pure function of the two shingle SETS,
    * so identical-set docs are mutual containment-1 duplicates of each
    * other and match exactly what their set matches. Returns (withFp =
    * (doc_id, shs, fp) per shingleable doc, cached; reps = one minimum-id
    * representative per distinct set, cached; repPairs = the prefix-filter
    * core's verified pairs over rep ids). A clone flood of g copies flows
    * through df/rank/prefix/verify as ONE doc instead of paying g×
    * postings and g² candidate verifies. The consumers' two output classes
    * are disjoint by construction (same set → same rep → never a core
    * pair; different sets → different fps → never a within pair).
    * Caches follow the [[Caches]] contract — the caller releases.
    */
  private def containmentRepCore(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      minShingles: Int): (DataFrame, DataFrame, DataFrame) = {
    val withFp = shingleArrays(docs, idCol, textCol, n)
      .select(col("doc_id"), col("shs"),
        // 128-bit set key: two independently-seeded xxhash64's of the
        // sorted shingle array (r9 ADVICE — a single 64-bit key makes
        // birthday collisions non-negligible at billions of distinct sets,
        // and a collision here silently merges two different documents)
        struct(xxhash64(array_sort(col("shs"))).as("h1"),
          xxhash64(lit(1), array_sort(col("shs"))).as("h2")).as("fp"))
      .cache()
    val reps = withFp.groupBy("fp")
      .agg(min("doc_id").as("doc_id"),
        min_by(col("shs"), col("doc_id")).as("shs"))
      .cache()
    val repSh = reps.select(col("doc_id"), explode(col("shs")).as("sh"))
    val repArr = reps.select(col("doc_id"), col("shs"))
    val repPairs =
      containmentCore(repSh, repSh, threshold, minShingles, earlierOnly = false,
        aArrOpt = Some(repArr), bArrOpt = Some(repArr))
    (withFp, reps, repPairs)
  }

  /** The REMOVAL form of [[containmentPairs]]: keep every document that is
    * NOT ≥`threshold`-contained in a bigger document — the doc-level cut
    * that drops quotations, syndicated copies, and boilerplate-wrapped
    * reposts while keeping their sources. A doc is dropped iff some other
    * doc contains it and that container has MORE distinct shingles (or the
    * same set with a smaller id — the exact-duplicate tie, resolved
    * keep-first like [[exact]]). The size ordering makes the cut
    * deterministic and single-pass: at threshold 1 a dropped doc's
    * container is itself kept or contained in something still bigger
    * (subset chains), and at t < 1 the greedy size-ordered rule is the
    * standard approximation — no iterative re-checking against survivors
    * only, which would serialize the corpus.
    *
    * Output: (doc_id) survivors, TOTAL over the input — docs too short to
    * shingle never match anything and always survive.
    * Scale shape: the collapsed rep core plus SET-level drop joins —
    * member pairs never materialize, so a clone flood costs one rep
    * through the verify and a linear fp join, where the pair surface's
    * output is inherently quadratic per group.
    */
  def containmentDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9, minShingles: Int = 5): DataFrame = {
    // Unlike the pair surface (whose OUTPUT is inherently quadratic per
    // clone group), removal decides per DOC, so the drop set is computed
    // entirely at the representative level and member pairs never
    // materialize: a 2k-clone group contributes one rep through the core
    // and 2k-1 within-drops through one fp join — linear everywhere.
    val (withFp, reps, repPairs) =
      containmentRepCore(docs, idCol, textCol, n, threshold, minShingles)
    // one projection serves both pair sides: the rep's id IS the set's
    // minimum member id, so no separate min_id column or second join hop
    val repMeta = reps.select(col("doc_id"), col("fp"),
      size(col("shs")).as("ns"))
    val setPairs = repPairs
      .join(repMeta.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"),
        col("ns").as("na")), "doc_a")
      .join(repMeta.select(col("doc_id").as("doc_b"), col("ns").as("nb")), "doc_b")
    // ONE aggregate folds both cross-set rules, so the (expensive) rep core
    // is evaluated exactly once: a strictly bigger container drops EVERY
    // member of the contained set; equal-size DISTINCT sets tie-break on
    // member ids — a member of A drops iff some container member is
    // smaller, i.e. iff the minimum over the containers' minimum ids
    // (= the container REP ids, doc_b) is smaller
    val perSet = setPairs.groupBy("fp_a").agg(
      max(when(col("nb") > col("na"), 1).otherwise(0)).as("any_bigger"),
      min(when(col("nb") === col("na"), col("doc_b"))).as("mb"))
    val dropCross = perSet
      .join(withFp.select(col("fp").as("fp_a"), col("doc_id")), "fp_a")
      .filter(col("any_bigger") === 1 ||
        (col("mb").isNotNull && col("mb") < col("doc_id")))
      .select("doc_id")
    // identical sets are mutual containment-1 pairs: keep-first = drop
    // every non-minimum member (subject to the minShingles floor)
    val dropWithin = withFp.filter(size(col("shs")) >= minShingles)
      .join(repMeta.select(col("fp"), col("doc_id").as("min_id")), "fp")
      .filter(col("doc_id") =!= col("min_id")).select("doc_id")
    val drops = dropCross.unionByName(dropWithin).distinct()
    docs.select(Keys.id(docs, idCol).as("doc_id"))
      .join(drops, Seq("doc_id"), "left_anti")
  }

  /** The incremental REMOVAL form, completing the containment grid's
    * (pairs, removal) × (batch, incremental) square: keep the rows of
    * `newDocs` NOT ≥`threshold`-contained in any EARLIER doc (state or a
    * smaller-id batch doc) — the arrival-order policy of
    * [[containmentIncremental]] applied as a cut: a quote of the existing
    * corpus is redundant, the first occurrence stays. Total over the batch
    * (unshingleable docs survive); slicing-invariant for monotone ids like
    * every incremental form here.
    */
  def containmentDedupIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, state: DataFrame, n: Int = 3,
      threshold: Double = 0.9, minShingles: Int = 5): DataFrame = {
    val contained = containmentIncremental(newDocs, idCol, textCol, state,
      n, threshold, minShingles)
      .select(col("doc_a").as("doc_id")).distinct()
    newDocs.select(Keys.id(newDocs, idCol).as("doc_id"))
      .join(contained, Seq("doc_id"), "left_anti")
  }

  /** The prefix-filter + verify core shared by [[containmentPairs]] and
    * [[containmentIncremental]]: `shA` supplies the CONTAINED candidates
    * (prefixes + |A| sizes), `shAll` the container index (df + arrays);
    * `earlierOnly` restricts to doc_b < doc_a — the arrival-order rule the
    * incremental form needs for slicing invariance.
    */
  private def containmentCore(shA: DataFrame, shAll: DataFrame,
      threshold: Double, minShingles: Int, earlierOnly: Boolean,
      aArrOpt: Option[DataFrame] = None,
      bArrOpt: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t4 = math.rint(threshold * 10000).toLong
    require(t4 > 0 && t4 <= 10000 && math.abs(t4 / 10000.0 - threshold) < 1e-12,
      s"threshold must be in (0, 1] at 4dp precision, got $threshold")
    require(minShingles >= 1, "need minShingles >= 1")
    val dfreq = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
    val ranked = shA.join(dfreq, "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .withColumn("na", count(lit(1)).over(Window.partitionBy("doc_id")))
    val prefix = ranked
      .filter(col("rk") <= col("na") - expr(s"(na * ${t4}L + 9999L) div 10000L") + 1)
      .select(col("sh"), col("doc_id").as("doc_a"))
    val index = shAll.select(col("sh"), col("doc_id").as("doc_b"))
    val keep = if (earlierOnly) col("doc_b") < col("doc_a")
      else col("doc_a") =!= col("doc_b")
    // cached: three consumers (the verify join + the two array-restriction
    // semi-joins) would otherwise re-run the prefix-index join each;
    // candidate volume is the operator's own output scale (Caches contract —
    // the caller releases)
    val cands = prefix.join(index, "sh").filter(keep)
      .select("doc_a", "doc_b").distinct()
      .cache()
    // verify arrays: callers holding per-doc shingle arrays already (the
    // collapsed rep path) pass them in instead of paying two collect_set
    // re-aggregations of the exploded postings; array_intersect/size are
    // order-insensitive so unsorted distinct arrays are equivalent. When
    // aggregating here, restrict to CANDIDATE docs first — the incremental
    // form's state side is the whole history, and rebuilding every state
    // doc's array per batch would contradict "verification touches
    // candidate pairs only"
    val aArr = aArrOpt.getOrElse(shA
      .join(cands.select(col("doc_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("sh"))).as("shs")))
    val bArr = bArrOpt.getOrElse(shAll
      .join(cands.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("sh"))).as("shs")))
    cands
      .join(aArr.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(bArr.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        size(col("sa")).cast("long").as("na"))
      .filter(col("na") >= minShingles &&
        col("i") * lit(10000L) >= lit(t4) * col("na"))
      .select(col("doc_a"), col("doc_b"),
        (floor((col("i") / col("na")) * 10000).cast("double") / 10000.0)
          .as("containment"))
  }

  /** Persistable containment state: the DISTINCT (doc_id, sh) shingle
    * postings of the corpus so far — exactly what [[containmentIncremental]]
    * needs to index new batches against (sizes and per-doc arrays are
    * re-derivable group-bys over it). Append each batch's postings to roll
    * the state forward.
    */
  def containmentState(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    shingles(docs, idCol, textCol, n)

  /** Incremental doc-in-doc detection — the continuously-ingesting form of
    * [[containmentPairs]]: emit (doc_a, doc_b, containment) where doc_a is
    * a NEW-batch doc contained (C ≥ threshold) in an EARLIER doc — any
    * state doc, or a batch doc with a smaller id.
    *
    * The earlier-only rule is what makes slicing invariant: ids must be
    * monotone with arrival (the suite-wide incremental contract), and then
    * feeding the corpus through in any batch slicing yields exactly
    * `containmentPairs(corpus).filter(doc_b < doc_a)` — a later superset
    * can never retroactively flag an already-accepted doc, which is also
    * the operational semantics a rolling crawl wants (quotes of EXISTING
    * corpus are redundant; the first occurrence stays).
    *
    * Recall note: the prefix size |A|−⌈t·|A|⌉+1 guarantees recall 1 under
    * ANY fixed shingle order (pigeonhole), so ordering prefixes by the
    * df of state∪batch — which differs from the full-corpus df — cannot
    * lose pairs; df ordering is purely a join-fanout optimization.
    * Scale shape: identical to the batch core, with the state entering
    * only as (doc_id, sh) postings hash-partitioned on the shingle key.
    */
  def containmentIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, state: DataFrame, n: Int = 3,
      threshold: Double = 0.9, minShingles: Int = 5): DataFrame = {
    require(state.columns.toSet == Set("doc_id", "sh"),
      s"state must be (doc_id, sh) postings, got ${state.columns.mkString(",")}")
    // NOT severed (tried in r16, measured +0.5 s and reverted): both sides
    // end in a distinct, and Spark's ReuseExchange already dedupes the
    // repeated subtrees across containmentCore's consumers — materializing
    // the postings to checkpoint blocks only added an extra write/read pass
    val shNew = shingles(newDocs, idCol, textCol, n)
    val shAll = state.select("doc_id", "sh").unionByName(shNew)
    containmentCore(shNew, shAll, threshold, minShingles, earlierOnly = true)
  }

  /** Per-document DISTINCT shingle-hash array, computed in one narrow pass —
    * no explode, no shuffle. The array form is the scale-friendly layout: at
    * 100 TB the shingle stream never materializes as rows, so the only shuffle
    * in the LSH pipeline below is the band-bucket self-join.
    */
  private def shingleArrays(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // the `size(w) >= n` gate is EXACTLY `size(shs) > 0` (shingleArrayExpr
    // yields a non-empty transform iff size(w) >= n, and array_distinct of a
    // non-empty array is non-empty) — stated on the cheap words column and
    // BEFORE the spread so predicate pushdown cannot drag the per-shingle
    // hashing below the exchange onto the single scan task (r15 opt round:
    // the pushed `size(shs) > 0` recomputed the whole shingle pipeline
    // serially, 5-7 s per pass at sf0.1)
    Par.spread(
      docs.select(Keys.id(docs, idCol).as("doc_id"),
          filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0).as("w"))
        .filter(size(col("w")) >= n))
      .select(col("doc_id"), array_distinct(shingleArrayExpr(n)).as("shs"))

  /** MinHash + LSH banding near-dup: candidates from band-bucket equality joins,
    * verified with exact Jaccard ≥ threshold. With numPerm=32, bands=8 (r=4) and
    * planted dups at J≈0.99, recall ≈ 1 - (1-0.99⁴)⁸ ≈ 1-5e-12.
    * Permutations are xxhash64 re-hashes keyed by the permutation index —
    * deterministic, independent, and (unlike an a*h+b congruential scheme)
    * overflow-free under ANSI arithmetic.
    *
    * Plan shape (the 100 TB story): the pipeline runs over ONE representative
    * per distinct shingle SET (exact-duplicate collapse — identical sets are
    * jaccard-1 dups, and boilerplate clone floods flow through banding as a
    * single doc, with identical-set pairs emitted at recall 1 regardless of
    * maxBucket); signatures and band keys are pure narrow projections over
    * the per-rep shingle arrays; the band-bucket self-join is the single
    * data-sized shuffle; exact verification touches only candidate rep pairs
    * via `array_intersect`, and member re-expansion is proportional to the
    * emitted pair set — the full shingle stream is never exploded into rows
    * and no O(n²) stage exists.
    *
    * Cache lifecycle: the returned frame's plan references `.cache()`d
    * shingle/signature intermediates that this (lazy) operator cannot
    * unpersist itself — the CALLER owns them; after consuming the result,
    * call [[Caches.release]] (see its scaladoc for why lazy operators
    * cannot do better).
    */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8, maxBucket: Int = 256): DataFrame = {
    val (withFp, reps, repPairs) =
      minHashCore(docs, idCol, textCol, n, numPerm, bands, threshold, maxBucket)
    // re-expand rep pairs to member pairs (∝ output): distinct sets never
    // reach jaccard 1, so cross pairs and the identical-set within pairs
    // (jaccard exactly 1, always ≥ threshold) are disjoint by construction
    val repFp = reps.select(col("doc_id"), col("fp"))
    val cross = repPairs
      .join(repFp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), "doc_a")
      .join(repFp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), "doc_b")
      .join(withFp.select(col("fp").as("fp_a"), col("doc_id").as("ida")), "fp_a")
      .join(withFp.select(col("fp").as("fp_b"), col("doc_id").as("idb")), "fp_b")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("jaccard"))
    val within = withFp.as("x").join(withFp.as("y"), Seq("fp"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** MinHash near-dup CLUSTERING without materializing the pair set —
    * (doc_id, cluster_id) for EVERY doc with ≥ 1 shingle, cluster_id =
    * smallest doc_id transitively reachable through jaccard ≥ threshold.
    * Singletons self-label, so "keep one per near-dup group" is
    * `filter(doc_id === cluster_id)`.
    *
    * The [[hammingClusters]] argument applied to the LSH path: the pair
    * surface owes C(g,2) rows per g-clone boilerplate group, but connected
    * components only need a spanning structure, so CC runs over the
    * DISTINCT shingle sets (near-dup rep edges only) and members join their
    * set's label through one fp equality join. Labels are identical to
    * clusters∘minHashLshPairs because each set group is a jaccard-1 clique
    * containing its own minimum id as rep.
    */
  def minHashClusters(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8, maxBucket: Int = 256,
      maxIter: Int = 20): DataFrame = {
    val (withFp, reps, repPairs) =
      minHashCore(docs, idCol, textCol, n, numPerm, bands, threshold, maxBucket)
    expandRepClusters(withFp.select("doc_id", "fp"),
      reps.select(col("fp"), col("doc_id").as("rep_id")),
      repPairs.select("doc_a", "doc_b"), maxIter)
  }

  /** Shared LSH core: (withFp, reps, repPairs) with withFp = (doc_id, shs,
    * fp) for every doc with ≥ 1 shingle, fp = hash of the SORTED shingle set
    * (CACHED — Caches contract, caller releases), reps = one minimum-id
    * representative per distinct set carrying its shingle array (cached,
    * same contract), and repPairs = (doc_a, doc_b, jaccard) over rep ids,
    * verified exact, round(jaccard, 4).
    */
  private def minHashCore(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numPerm: Int, bands: Int, threshold: Double,
      maxBucket: Int): (DataFrame, DataFrame, DataFrame) = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    require(maxBucket > 1, "maxBucket must be > 1")
    val r = numPerm / bands

    // EXACT-DUPLICATE COLLAPSE (the hammingPairs/fuzzy-join convention):
    // Jaccard depends only on the shingle SET, so docs whose sets are
    // identical are jaccard-1 duplicates of each other and of everything
    // their set matches. Key each doc by a hash of its sorted set, run the
    // whole LSH pipeline over ONE minimum-id representative per distinct
    // set, and re-expand afterwards: a boilerplate clone flood of g copies
    // flows through signatures/banding/verify as one doc instead of pushing
    // ~bands·g·maxBucket candidate pairs through the salted buckets, and
    // identical-set pairs are emitted at recall 1 REGARDLESS of maxBucket
    // (the salt split can no longer scatter them).
    val withFp = shingleArrays(docs, idCol, textCol, n)
      .select(col("doc_id"), col("shs"),
        // 128-bit set key: two independently-seeded xxhash64's of the
        // sorted shingle array (r9 ADVICE — a single 64-bit key makes
        // birthday collisions non-negligible at billions of distinct sets,
        // and a collision here silently merges two different documents)
        struct(xxhash64(array_sort(col("shs"))).as("h1"),
          xxhash64(lit(1), array_sort(col("shs"))).as("h2")).as("fp"))
      .cache()
    val cached = withFp
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), min_by(col("shs"), col("doc_id")).as("shs"))
      .cache()

    // narrow: numPerm signature mins per doc, straight from the array.
    // Cached because three consumers read it (the hot-bucket width aggregate
    // and both sides of the band self-join — exchange reuse covers the join
    // sides but not the aggregate): signatures are numPerm longs per doc, and
    // computing them is the pipeline's dominant narrow cost (numPerm hashes
    // per shingle). At 100 TB a deployment materializes signatures to storage
    // once and reuses them across dedup runs — this cache is the single-run
    // form of that standard practice.
    val sigCols = (0 until numPerm).map { j =>
      expr(s"array_min(transform(shs, s -> xxhash64($j, s)))").as(s"m$j")
    }
    val sig = cached.select(col("doc_id") +: sigCols: _*).cache()

    // band hashes: narrow (band, bh) keys, then equality self-join per bucket
    val bandCols = (0 until bands).map { k =>
      struct(lit(k).as("band"),
        xxhash64(((k * r) until ((k + 1) * r)).map(j => col(s"m$j")): _*).as("bh"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))

    // Hot-bucket cap: a band bucket holding m docs makes m² candidate pairs
    // inside ONE reducer — a boilerplate corpus (m ~ millions at 100 TB) would
    // wedge the stage. Buckets wider than maxBucket are split into
    // ceil(m/maxBucket) salt groups keyed by xxhash64(band, doc_id): reducers
    // are bounded by ~maxBucket² regardless of skew. Salts are independent
    // ACROSS bands (the band is hashed into the salt), so a pair sharing k hot
    // buckets still collides with
    // prob 1-(1-1/nsplit)^k, and `clusters()` transitively reconnects the
    // component even when individual pairs are dropped. The width count is a
    // map-side-combined aggregate over the narrow bucket stream and the hot
    // list is tiny by construction (only skewed keys), hence broadcastable.
    val hot = buckets.groupBy("band", "bh").count()
      .filter(col("count") > maxBucket)
      .select(col("band"), col("bh"),
        ceil(col("count") / maxBucket).cast("int").as("nsplit"))
    val salted = buckets.join(broadcast(hot), Seq("band", "bh"), "left")
      .withColumn("salt", when(col("nsplit").isNull, lit(0)).otherwise(
        pmod(xxhash64(col("band"), col("doc_id")), col("nsplit")).cast("int")))
      .select("doc_id", "band", "bh", "salt")
    val cand = salted.as("x")
      .join(salted.as("y"), Seq("band", "bh", "salt"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // exact verify on candidates only: set algebra on the two shingle arrays
    val repPairs = cand
      .join(cached.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(cached.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("double").as("i"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        (floor(col("jaccard") * 10000).cast("double") / 10000.0).as("jaccard"))
    (withFp, cached, repPairs)
  }

  /** Persisted LSH near-dup state for [[nearIncremental]]: one row per
    * (doc, band) carrying the band-bucket key and the doc's shingle set —
    * the by-product every ingestion run appends to its state table, exactly
    * as [[exactIncremental]]'s fingerprint history but for NEAR-dup.
    * Schema: (doc_id, band, bh, shs).
    *
    * The shingle array rides along per band row so the incremental verify can
    * compute exact Jaccard against collided history docs with one join; a
    * 100-TB deployment normalizes it into a separate (doc_id, shs) table and
    * re-joins — same plan, 1/bands the storage.
    */
  def minHashState(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerm: Int = 32, bands: Int = 8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    val sigCols = (0 until numPerm).map { j =>
      expr(s"array_min(transform(shs, s -> xxhash64($j, s)))").as(s"m$j")
    }
    val sig = shingleArrays(docs, idCol, textCol, n)
      .select(col("doc_id") +: col("shs") +: sigCols: _*)
    val bandCols = (0 until bands).map { k =>
      struct(lit(k).as("band"),
        xxhash64(((k * r) until ((k + 1) * r)).map(j => col(s"m$j")): _*).as("bh"))
    }
    sig.select(col("doc_id"), col("shs"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"), col("shs"))
  }

  /** Incremental near-dedup — the continuously-ingesting form of
    * [[graft.operators.Pipelines.dedupNear]], mirroring [[exactIncremental]]:
    * keep rows of `newDocs` that (1) do not Jaccard-verify (>= threshold)
    * against any LSH band collision in `state` (a [[minHashState]] table
    * persisted from previous runs) and (2) survive the usual dedupNear cut
    * within the batch itself. Returns surviving doc_ids; callers append
    * `minHashState(newDocs)` to the state table afterwards. Drive it from
    * Structured Streaming with `foreachBatch` (StreamingSpec) — the standard
    * shape for stream dedup against unbounded persisted state, since the
    * band join + verify + state append is a per-batch transaction.
    *
    * Semantics note: history matching is BY DIRECT EDGE (new doc vs any seen
    * doc), while batch dedupNear clusters transitively. On duplicate GROUPS
    * (every pair of copies near-identical — the overwhelmingly common shape)
    * the two agree exactly, and StreamingSpec pins that equivalence; on
    * chain-shaped near-dup graphs the incremental form may keep a doc whose
    * only links arrive in later batches — inherent to any one-pass dedup.
    *
    * Scale shape: at 100 TB the state side is the big one — the band join is
    * hash-partitioned on (band, bh) and ships only colliding rows to the
    * Jaccard verify; the batch side is one scan. Exactly the exactIncremental
    * anti-join story with (band, bh) in place of the fingerprint.
    */
  def nearIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      state: DataFrame, n: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    require(Seq("doc_id", "band", "bh", "shs").forall(state.columns.contains),
      "state must be a minHashState table: (doc_id, band, bh, shs)")
    val newState = minHashState(newDocs, idCol, textCol, n, numPerm, bands)
    // dedupe candidate (new, history) DOC pairs on the two ids — a pair can
    // collide in up to `bands` buckets, and deduping on ids is cheaper than a
    // distinct that compares the two shingle arrays element-wise
    val hits = newState.as("x")
      .join(state.select(col("band"), col("bh"), col("doc_id").as("hdoc"),
        col("shs").as("hshs")), Seq("band", "bh"))
      .select(col("x.doc_id").as("doc_id"), col("hdoc"), col("x.shs").as("shs"),
        col("hshs"))
      .dropDuplicates("doc_id", "hdoc")
      .withColumn("i", size(array_intersect(col("shs"), col("hshs"))).cast("double"))
      .filter(col("i") / (size(col("shs")) + size(col("hshs")) - col("i")) >= threshold)
      .select("doc_id").distinct()
    val fresh = newDocs
      .select(Keys.id(newDocs, idCol).as("doc_id"), col(textCol).as("__text"))
      .join(hits, Seq("doc_id"), "left_anti")
    graft.operators.Pipelines.dedupNear(fresh, "doc_id", "__text",
      n, numPerm, bands, threshold)
  }

  /** SimHash near-dup: 64-bit fingerprints from token-level xxhash64, then
    * [[hammingPairs]] over them (pigeonhole banding into maxHamming+1
    * chunks, exact-duplicate collapse first, bit_count verify).
    * Output: (doc_a, doc_b, hamming).
    *
    * `portableHash = true` derives a 60-bit token hash from md5 hex instead of
    * xxhash64 (same plan, slower hash), so an external SQL engine can
    * recompute the fingerprints — and therefore the pair set — verbatim. The
    * pigeonhole argument is unaffected (the top chunk just carries the
    * remaining live bits).
    *
    * `maxBucket` bounds reducer work at the price of RECALL inside hot
    * buckets of DISTINCT near-miss fingerprints (identical-fingerprint
    * clones collapse before banding and pair at recall 1 regardless — see
    * [[hammingPairs]]): a chunk bucket wider than maxBucket is salted into
    * nsplit groups, and a pair whose ONLY shared chunk lands there is missed
    * with probability ~1-1/nsplit. The default (256) is the scale-safe
    * setting; pass `maxBucket >= corpus size` to restore the
    * pigeonhole-complete "blocked pairs == all pairs at hamming <=
    * maxHamming" contract (what an external oracle recomputing fingerprints
    * will reproduce verbatim).
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, portableHash: Boolean = false,
      maxBucket: Int = 256): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    val nBits = if (portableHash) 60 else 64
    val hashCol =
      if (portableHash) expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)")
      else xxhash64(col("tok"))
    val tokens = Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), hashCol.as("h"))

    // per-bit balance: +1 when bit set, -1 otherwise; all sums in one aggregate pass
    val bitSums = (0 until nBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val fpExpr = (0 until nBits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    // the banding/salting/verify machinery is [[hammingPairs]] verbatim
    // (maxHamming+1 bands ≡ the historical fixed 4×16 chunks at the default
    // maxHamming=3), so delegate — which also buys the exact-duplicate
    // collapse: identical texts produce identical fingerprints, and a clone
    // flood flows through banding as ONE distinct fp with recall-1 pair
    // emission regardless of maxBucket
    val fps = tokens.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fpExpr.as("fp"))
    hammingPairs(fps, "doc_id", "fp", maxHamming, maxBucket)
  }

  /** Generic HAMMING near-dup pairs over precomputed 64-bit fingerprints —
    * (doc_a, doc_b, hamming) for every pair within `maxHamming`, doc_a <
    * doc_b. Blocking is the pigeonhole bound made structural: the hash
    * splits into maxHamming+1 bands, and a pair differing in ≤ maxHamming
    * bits must agree EXACTLY on at least one band — so per-band equality
    * joins find every qualifying pair with NO recall loss (unlike
    * probabilistic LSH), and the bit_count(xor) verify makes precision
    * exact. This is [[simHashPairs]]' 4×16 chunk scheme generalized to any
    * threshold < 64 and any fingerprint source — SimHash, an image
    * perceptual hash ([[graft.sources.Multimodal.imageHash]]), an audio
    * fingerprint.
    *
    * Scale shape: EXACT-DUPLICATE COLLAPSE first (the fuzzy-join /
    * embeddingPairs convention): banding runs over DISTINCT fingerprints
    * only, so a clone flood (a million copies of one image) contributes ONE
    * band row per band, never a million — identical-hash pairs are emitted
    * directly from the fp groups at hamming 0 (output-proportional, recall
    * 1 REGARDLESS of maxBucket), and cross-fingerprint pairs re-expand to
    * id pairs after the verify. Then maxHamming+1 band rows per distinct
    * hash through one equality-join exchange; candidates dedup BEFORE the
    * verify. Hot band buckets past `maxBucket` (now meaning maxBucket
    * DISTINCT near-miss hashes sharing a band value) salt-split exactly
    * like simHashPairs — the one place recall is traded, now confined to
    * near-dup pairs inside pathological buckets; narrower bands (higher
    * maxHamming) make buckets hotter, which is inherent to the bound.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucket: Int = 256): DataFrame = {
    val (fps, _, repPairs) = hammingCore(hashes, idCol, hashCol, maxHamming, maxBucket)
    // re-expand near-miss pairs to id pairs (∝ output, the fuzzy-join
    // re-expansion argument) and emit identical-hash pairs directly
    val cross = repPairs
      .join(fps.select(col("fp").as("fp_a"), col("doc_id").as("ida")), "fp_a")
      .join(fps.select(col("fp").as("fp_b"), col("doc_id").as("idb")), "fp_b")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    val within = fps.as("x").join(fps.as("y"), Seq("fp"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    cross.unionByName(within)
  }

  /** Shared banding core for the hamming family: (fps, reps, repPairs) with
    * fps = (doc_id, fp) CACHED (Caches contract — caller releases; the reps
    * build, re-expansions, and within-group joins all consume it, and when
    * the input is a decode kernel recomputing it means re-decoding the
    * corpus), reps = one minimum-id representative per distinct fingerprint
    * (cached, same contract), and repPairs = every DISTINCT-fingerprint pair
    * within `maxHamming` as (rep_a, fp_a, rep_b, fp_b, hamming), rep_a <
    * rep_b — distinct fingerprints never pair at hamming 0, so one
    * bit_count runs per distinct-hash candidate pair.
    */
  private def hammingCore(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucket: Int): (DataFrame, DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming < 64, "need 0 <= maxHamming < 64")
    require(maxBucket > 1, "maxBucket must be > 1")
    val fps = hashes.select(Keys.id(hashes, idCol).as("doc_id"),
      col(hashCol).cast("long").as("fp"))
      .cache()
    val reps = fps.groupBy("fp").agg(min("doc_id").as("rep_id")).cache()
    val chunks = chunkStructs(maxHamming)
    val blocked = reps
      .select(col("rep_id"), col("fp"), explode(array(chunks: _*)).as("b"))
      .select(col("rep_id"), col("fp"), col("b.chunk").as("chunk"), col("b.ch").as("ch"))
    val hot = blocked.groupBy("chunk", "ch").count()
      .filter(col("count") > maxBucket)
      .select(col("chunk"), col("ch"),
        ceil(col("count") / maxBucket).cast("int").as("nsplit"))
    val salted = blocked.join(broadcast(hot), Seq("chunk", "ch"), "left")
      .withColumn("salt", when(col("nsplit").isNull, lit(0)).otherwise(
        pmod(xxhash64(col("chunk"), col("ch"), col("rep_id")), col("nsplit"))
          .cast("int")))
      .select("rep_id", "fp", "chunk", "ch", "salt")
    val repPairs = salted.as("x").join(salted.as("y"), Seq("chunk", "ch", "salt"))
      .filter(col("x.rep_id") < col("y.rep_id"))
      .select(col("x.rep_id").as("rep_a"), col("x.fp").as("fp_a"),
        col("y.rep_id").as("rep_b"), col("y.fp").as("fp_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    (fps, reps, repPairs)
  }

  /** The pigeonhole band key structs for a 64-bit fingerprint at `maxHamming`:
    * maxHamming+1 chunks of 64/(maxHamming+1) bits (the last chunk absorbs
    * the remainder) — a pair within maxHamming must agree exactly on ≥ 1
    * chunk, so chunk-equality blocking has recall 1 by construction.
    */
  private def chunkStructs(maxHamming: Int): Seq[Column] = {
    val bands = maxHamming + 1
    val width = 64 / bands
    (0 until bands).map { c =>
      val lo = c * width
      val w = if (c == bands - 1) 64 - lo else width
      val mask = if (w >= 64) -1L else (1L << w) - 1
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("fp"), lo).bitwiseAND(lit(mask)).as("ch"))
    }
  }

  /** Persisted hamming near-dup state for [[hammingIncremental]] — the
    * fingerprint analogue of [[minHashState]]: pigeonhole band rows
    * (chunk, ch, fp) over the DISTINCT non-null fingerprints of `hashes`.
    * Membership ("is any seen fingerprint within maxHamming of this one?")
    * is all the incremental check needs, so unlike minHashState the state
    * carries no doc ids and no per-doc payload: its size is
    * (maxHamming+1) × |distinct fingerprints| narrow rows no matter how many
    * clones the history holds — a million copies of one image contribute
    * exactly maxHamming+1 rows. Ingestion runs append
    * `hammingState(newBatch)` after each batch; appends may re-emit an
    * already-seen fingerprint's rows, which leaves membership unchanged (a
    * periodic `distinct()` compaction reclaims the space).
    */
  def hammingState(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "need 0 <= maxHamming < 64")
    hashes.select(col(hashCol).cast("long").as("fp"))
      .filter(col("fp").isNotNull)
      .distinct()
      .select(col("fp"), explode(array(chunkStructs(maxHamming): _*)).as("b"))
      .select(col("b.chunk").as("chunk"), col("b.ch").as("ch"), col("fp"))
  }

  /** Incremental hamming dedup — the continuously-ingesting form of the
    * [[hammingClusters]] keep-one prune, completing the incremental column
    * of the dedup grid for fingerprint modalities (images via
    * [[graft.sources.Multimodal.imageHash]], audio via `audioHash`, SimHash
    * text): keep rows of `newHashes` whose fingerprint (1) is not within
    * `maxHamming` of any fingerprint in `state` (a [[hammingState]] table
    * persisted from previous runs) and (2) survives the within-batch
    * keep-smallest-id-per-cluster cut. Returns surviving doc_ids; callers
    * append `hammingState(newHashes)` afterwards. Null fingerprints
    * (undecodable payloads) cannot be compared, so they survive both checks
    * — the [[hammingClusters]] convention.
    *
    * Unlike the minhash form, BOTH stages here are structurally exact at
    * `maxBucket = Int.MaxValue`: the history check is pigeonhole chunk
    * blocking (recall 1) + a bit_count verify, so the whole incremental
    * operator hash-matches a brute-force oracle. The [[nearIncremental]]
    * direct-edge semantics note applies verbatim: history matching is by
    * direct edge, batch clustering is transitive, and the two agree exactly
    * on duplicate GROUPS (every pair of copies within range).
    *
    * Scale shape: the batch side collapses to DISTINCT fingerprints before
    * the history join (a clone flood probes once), the state side is
    * distinct-by-construction, and the join ships only (chunk, ch, fp)
    * triples — the exactIncremental anti-join story with the pigeonhole
    * chunk key in place of the md5. Candidate (fp, hfp) pairs dedup on the
    * two 8-byte values before the single bit_count verify per pair. Hot
    * history buckets (> maxBucket rows on one (chunk, ch) key) are
    * salt-split with the probe exploded over every salt, so the check stays
    * exact while no reducer owns a whole hot bucket. The state's band
    * layout is validated against `maxHamming` up front (one bounded
    * aggregate) — a mismatched layout would otherwise silently miss
    * history duplicates.
    */
  def hammingIncremental(newHashes: DataFrame, idCol: String, hashCol: String,
      state: DataFrame, maxHamming: Int, maxBucket: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "need 0 <= maxHamming < 64")
    require(maxBucket > 1, "maxBucket must be > 1")
    require(Seq("chunk", "ch", "fp").forall(state.columns.contains),
      "state must be a hammingState table: (chunk, ch, fp)")
    // Band-layout guard: a state built with a DIFFERENT maxHamming has a
    // different chunk width, so the (chunk, ch) join would silently miss
    // history duplicates instead of erroring. The state's max chunk id IS its
    // layout (bands - 1); one column-pruned aggregate over the narrow state
    // pins it — served from parquet footer stats when the state is a parquet
    // table with aggregate pushdown on. Empty state (first batch) has no
    // layout to disagree with.
    val layoutRow = state.agg(max(col("chunk"))).head()
    if (!layoutRow.isNullAt(0)) {
      val stateBands = layoutRow.getInt(0) + 1
      require(stateBands == maxHamming + 1,
        s"state band layout mismatch: state has $stateBands chunks (built at " +
          s"maxHamming=${stateBands - 1}), probe uses maxHamming=$maxHamming — " +
          "state and probe maxHamming must match")
    }
    // cached (caller releases per the Caches contract): fps feeds the probe
    // bands, the anti-join left side, AND hammingClusters' internal scan — a
    // decode-kernel input (imageHash) would otherwise re-decode the batch
    // three times, the exact cost hammingCore's own cache avoids
    val fps = newHashes.select(Keys.id(newHashes, idCol).as("doc_id"),
      col(hashCol).cast("long").as("fp"))
      .cache()
    val repBands = fps.filter(col("fp").isNotNull).select("fp").distinct()
      .select(col("fp"), explode(array(chunkStructs(maxHamming): _*)).as("b"))
      .select(col("fp"), col("b.chunk").as("chunk"), col("b.ch").as("ch"))
    // History-join skew: at maxHamming=8 the chunk key space is only ~1280
    // distinct values, so a large state concentrates (chunk, ch) buckets into
    // a few reducers and candidate volume grows with bucket size. Split hot
    // STATE buckets (> maxBucket rows) across ceil(count/maxBucket) salts and
    // EXPLODE the probe row over every salt of its bucket — unlike
    // hammingCore's both-sides salting this loses nothing (every state row
    // still meets every probe row of its bucket), so the check stays exact at
    // every maxBucket; the replication cost lands on the small batch side.
    val stateB = state.select(col("chunk"), col("ch"), col("fp").as("hfp"))
    val hot = stateB.groupBy("chunk", "ch").count()
      .filter(col("count") > maxBucket)
      .select(col("chunk"), col("ch"),
        ceil(col("count") / maxBucket).cast("int").as("nsplit"))
    val saltedState = stateB.join(broadcast(hot), Seq("chunk", "ch"), "left")
      .withColumn("salt", when(col("nsplit").isNull, lit(0)).otherwise(
        pmod(xxhash64(col("hfp")), col("nsplit")).cast("int")))
      .select("chunk", "ch", "salt", "hfp")
    val saltedProbe = repBands.join(broadcast(hot), Seq("chunk", "ch"), "left")
      .select(col("fp"), col("chunk"), col("ch"),
        explode(when(col("nsplit").isNull, array(lit(0)))
          .otherwise(sequence(lit(0), col("nsplit") - 1))).as("salt"))
    val hits = saltedProbe
      .join(saltedState, Seq("chunk", "ch", "salt"))
      .select("fp", "hfp").distinct()
      .filter(bit_count(col("fp").bitwiseXOR(col("hfp"))) <= maxHamming)
      .select("fp").distinct()
    val fresh = fps.join(hits, Seq("fp"), "left_anti")
    hammingClusters(fresh, "doc_id", "fp", maxHamming, maxBucket)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id")
  }

  /** Hamming near-dup CLUSTERING without materializing the pair set —
    * (doc_id, cluster_id) for EVERY input doc, cluster_id = smallest doc_id
    * within `maxHamming` transitively (null-fingerprint docs label
    * themselves: an undecodable payload cannot be compared, so it survives
    * any keep-one-per-cluster prune).
    *
    * This is the composition [[clusters]]∘[[hammingPairs]] with the clique
    * explosion removed: hammingPairs owes its callers every qualifying pair,
    * so a clone flood of g identical fingerprints costs C(g,2) output rows —
    * inherent to the PAIR contract but pure waste for connected components,
    * which only need a spanning structure. Here CC runs over the DISTINCT
    * fingerprints (one node per fp, near-miss edges only), and members then
    * join their fingerprint's label through one equality join — a clone
    * flood costs g star rows, never C(g,2). Component labels are identical
    * to the pair path's because every fp group's minimum id IS its rep: the
    * group is a clique containing its rep, so the component minimum over
    * reps is the component minimum over docs. Unlike [[clusters]], the
    * output covers singleton docs too (self-labeled), so "keep one per
    * near-dup group" is just `filter(doc_id === cluster_id)`.
    */
  def hammingClusters(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucket: Int = 256, maxIter: Int = 20): DataFrame = {
    val (fps, reps, repPairs) = hammingCore(hashes, idCol, hashCol, maxHamming, maxBucket)
    expandRepClusters(fps, reps.select(col("fp"), col("rep_id")),
      repPairs.select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b")), maxIter)
  }

  /** Shared star-expansion tail for the rep-clustering family
    * ([[hammingClusters]], [[minHashClusters]]): CC over the rep-id pair
    * graph, then every member (doc_id, fp) takes its fingerprint's label
    * through one equality join. Reps without any pair — and null-fingerprint
    * members, which cannot be compared at all — label themselves, so the
    * output covers every input doc.
    */
  private def expandRepClusters(members: DataFrame, reps: DataFrame,
      repPairs: DataFrame, maxIter: Int): DataFrame = {
    val repLabels = clusters(repPairs, maxIter)
    val labeled = members.filter(col("fp").isNotNull)
      .join(reps, "fp")
      .join(repLabels.select(col("doc_id").as("rep_id"), col("cluster_id")),
        Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
    val selfLabeled = members.filter(col("fp").isNull)
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    labeled.unionByName(selfLabeled)
  }

  /** Connected components over near-dup pairs → (doc_id, cluster_id) with
    * cluster_id = smallest doc_id reachable, so "keep one per near-dup group"
    * is `groupBy(cluster_id).agg(min(doc_id))`.
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond"). Each round,
    * large-star connects every strictly-larger neighbor of a node to the
    * minimum of its closed neighborhood, then small-star re-points each node
    * and its smaller neighbors at the minimum among them; the edge list
    * contracts toward one star per component (every node → component min) in
    * O(log² n) rounds worst-case, a handful in practice. This replaces a
    * min-label-propagation + pointer-halving loop whose halving step no-ops
    * once labels reach LOCAL minima (the label's own label is itself), after
    * which the global min crawls one hop per round — O(diameter) rounds on
    * graphs whose ids are not monotone along chains, which real fingerprint
    * graphs are not. Star edges are map-side-combinable groupBy mins plus
    * equality joins — no neighborhood collect, no driver-side graph. The edge
    * frame is eagerly `localCheckpoint`ed EVERY round: an uncheckpointed loop
    * grows the logical plan geometrically and the driver ends up spending
    * minutes per job just analyzing and stringifying it (Spark renders the
    * plan for the listener bus on every action). Non-convergence at maxIter
    * throws — silently returning partially merged components is how a dedup
    * pipeline over-retains duplicates without anyone noticing.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint rather than cache: a cache bounds recompute but leaves
    // the full upstream plan (e.g. the whole minhash LSH pipeline) inside
    // every iteration's logical plan, where it gets re-canonicalized for
    // cache lookup and re-stringified for the listener bus on every action —
    // the loop must start from a plan LEAF. `uniq` keeps u==v rows so the
    // final node cover includes docs that only self-pair. A null id would
    // fold into a self-pair through greatest/least and quietly vanish from
    // the components, so the eager checkpoint asserts non-null ids once.
    def id(c: String): Column = when(col(c).isNull, raise_error(lit(
      s"Dedup.clusters: pair column '$c' holds a null doc id — drop or " +
        "repair null ids before clustering"))).otherwise(col(c))
    val uniq = pairs.select(
      greatest(id("doc_a"), id("doc_b")).as("u"),
      least(id("doc_a"), id("doc_b")).as("v"))
      .distinct()
      .localCheckpoint()
    var edges = uniq.filter(col("u") =!= col("v")).localCheckpoint()
    var nEdges = edges.count()
    var converged = nEdges == 0
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: over the full (bidirectional) neighborhood of u, connect
      // each neighbor v > u to m = min of the closed neighborhood. Output
      // stays child-points-to-smaller-parent oriented.
      val bidir = edges
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = bidir.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: every edge here already points smaller, so u's parent
      // set is exactly its ≤-neighborhood; re-point u AND each parent at the
      // minimum parent.
      val mins2 = ls.groupBy("u").agg(min("v").as("m"))
      val ss = ls.join(mins2, "u")
        .select(explode(array(
          struct(col("u").as("a"), col("m").as("b")),
          struct(col("v").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // eager localCheckpoint: materializes next AND resets the logical plan
      // to a LogicalRDD leaf — see the scaladoc note
      val next = ss.localCheckpoint()
      // stable edge set = every component is a star on its min = done. The
      // count compare is near-free on the materialized frame and gates the
      // except pass: a round that changed the edge count cannot be stable.
      val nNext = next.count()
      // set equality via ONE anti-join probe: both sides are DISTINCT sets,
      // so equal cardinality + (next \ edges) = ∅ ⇒ next = edges — half the
      // shuffles of the old except/union/except pass, and isEmpty
      // short-circuits at the first witness
      converged = nNext == nEdges &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      nEdges = nNext
      // old rounds' checkpoint blocks are reclaimed by the context cleaner
      // once unreferenced; explicit unpersist on a checkpointed frame is a
      // no-op, so we simply drop the reference
      edges = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"Dedup.clusters did not converge within $maxIter iterations — " +
        "component labels would be partially merged; raise maxIter")
    // at convergence every non-min node carries exactly one (node, min) star
    // edge; component minima and self-pair-only docs label themselves
    val nodes = uniq
      .select(explode(array(col("u"), col("v"))).as("doc_id"))
      .distinct()
    nodes.join(edges.select(col("u").as("doc_id"), col("v").as("star")),
      Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("star"), col("doc_id")).as("cluster_id"))
  }

  /** Embedding-cosine near-dup pairs ≥ threshold, computed in double precision with
    * the codegen'd CosineSimilarity expression.
    *
    * Default path (`exact = false`) blocks candidates with sign-random-projection
    * LSH first: vectors sharing any 4-bit band of a 16-bit signature are compared,
    * everything else never meets — equality joins on narrow (band, bucket) keys,
    * no O(n²) pair stream. This is the only shape that survives 100 TB; recall is
    * high for near-duplicate thresholds (cos ≥ ~0.9 ⇒ P(miss) ≈ (1-p⁴)⁴ with
    * p = 1 - θ/π close to 1) and every emitted pair is exact-verified.
    *
    * The LSH path delegates to [[signLshPairs]] (hot-bucket salt cap,
    * verify-before-exchange — see there) and distincts the band multiplicity
    * away, so each pair appears once. `exact = true` scores all pairs
    * (broadcast nested-loop) — the correctness oracle / small-data path; do
    * not run it at scale.
    *
    * `within` restricts pairs to rows agreeing on those columns, enforced IN
    * THE BUCKET KEY (LSH path) / join condition (exact path) — containment
    * blocking for callers like [[Semantic.semanticDedup]]'s per-cell prune,
    * which would otherwise re-join the quadratic pair stream against the
    * cell map just to discard cross-cell pairs.
    *
    * Cache lifecycle: the non-exact path caches the bucket frame; the caller
    * releases via [[Caches.release]] — the [[minHashLshPairs]] contract.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exact: Boolean = false,
      maxBucket: Int = 1024, within: Seq[String] = Nil): DataFrame = {
    if (exact) {
      val a = emb.select(Keys.id(emb, idCol).as("vec_a") +:
        col(vecCol).as("va") +: within.map(c => col(c).as(s"__wa_$c")): _*)
      val b = emb.select(Keys.id(emb, idCol).as("vec_b") +:
        col(vecCol).as("vb") +: within.map(c => col(c).as(s"__wb_$c")): _*)
      val cond = within.foldLeft(col("vec_a") < col("vec_b")) { (acc, c) =>
        acc && col(s"__wa_$c") === col(s"__wb_$c")
      }
      verifyPairs(a.join(b, cond), threshold)
    } else
      signLshPairs(emb, idCol, vecCol, threshold, maxBucket, within).distinct()
  }

  /** The cosine verify applied to a (vec_a, va, vec_b, vb, ...) candidate
    * stream: the vectors DIE here — everything downstream carries only the
    * narrow (vec_a, vec_b, cos) rows. Verifying before any exchange is the
    * scale-critical ordering: ProfileSkew's 180k-clone cell showed a distinct
    * over full-width pair rows (two d-dim vectors each) exchanging hundreds
    * of GB where the narrow rows are ~24 bytes.
    */
  private def verifyPairs(cands: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.GraftFunctions.cosineSim
    cands
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"),
        (floor(col("cos") * 10000).cast("double") / 10000.0).as("cos"))
  }

  /** Band structure tuned to the threshold: sign-random-projection bits
    * collide w.p. p = 1 - θ/π, so recall over b bands of r bits is
    * 1-(1-p^r)^b. Pick the FINEST bands (largest r ⇒ smallest buckets ⇒
    * fewest candidates) that still reach ≥0.9 theoretical recall at the
    * threshold within a 64-bit packed signature and ≤16 bands. High
    * thresholds get long fine bands (0.9 ⇒ 8×7); low ones get shorter,
    * more numerous bands (0.4 ⇒ 4×14) — recall costs candidates, honestly.
    */
  private def bandStructure(threshold: Double): (Int, Int) = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    (16 to 1 by -1).iterator.map { r =>
      val need = math.log(1 - 0.9) / math.log1p(-math.pow(p, r))
      (r, math.max(1, math.ceil(need).toInt))
    }.find { case (r, b) => b <= 16 && r * b <= 64 }.getOrElse((4, 16))
  }

  /** (vec_id, v, within..., band, bh) band-bucket rows for sign-LSH blocking
    * — one row per (vector, band), bucket key = within ++ (band, bh).
    */
  private def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, within: Seq[String]): DataFrame = {
    val (bandBits, bands) = bandStructure(threshold)
    val numBits = bandBits * bands; val seed = 11L
    graft.functions.GraftFunctions.registerRhBits(df.sparkSession, numBits, seed)
    val sig = graft.functions.GraftFunctions.rhBits(col("v"), numBits, seed)
    val bandCols = (0 until bands).map { k =>
      struct(lit(k).as("band"),
        shiftright(sig, k * bandBits).bitwiseAND(lit((1 << bandBits) - 1)).as("bh"))
    }
    val base = df.select(Keys.id(df, idCol).as("vec_id") +:
      col(vecCol).as("v") +: within.map(col): _*)
    base
      .select(col("vec_id") +: col("v") +: within.map(col) :+
        explode(array(bandCols: _*)).as("b"): _*)
      .select(col("vec_id") +: col("v") +: within.map(col) :+
        col("b.band").as("band") :+ col("b.bh").as("bh"): _*)
  }

  /** Verified sign-LSH near-dup pairs WITH band multiplicity (a pair sharing
    * several buckets appears several times) — the internal form
    * [[embeddingPairs]] distincts and the dedup drop-projections consume
    * raw: a consumer that only needs `distinct vec_b` must NOT pay a
    * pair-level exchange first, because in a clone-heavy corpus the pair
    * stream is quadratic in the clone-cluster width while the drop set is
    * linear. With the verify fused before any shuffle boundary, the whole
    * candidate stream (join → cosine → project) runs inside one codegen
    * stage and only the consumer's (tiny) aggregate exchanges.
    *
    * Hot-bucket cap (the [[minHashLshPairs]] salt treatment): a bucket of m
    * near-identical vectors — they share the WHOLE signature, so every band
    * bucket holds all m — would generate m² candidate rows in one reducer
    * (ProfileSkew reproduced the wedge at m = 45k). Buckets wider than
    * `maxBucket` split into ceil(m/maxBucket) salt groups keyed by
    * xxhash64(band, vec_id); reducers are bounded by ~maxBucket² regardless
    * of skew, at the price of RECALL inside hot buckets: a pair sharing k hot
    * buckets (salts independent across bands — the band is hashed into the
    * salt) still collides w.p. 1-(1-1/nsplit)^k on top of the banding recall.
    * Keep-first dedup semantics stay well-defined under the cap — each
    * dropped row needs SOME smaller-id near-dup, not the full pair set — and
    * clusters() reconnects components transitively.
    *
    * Cache lifecycle: caches the bucket frame (three consumers: width
    * aggregate + both self-join sides); the caller releases via
    * [[Caches.release]] — the [[minHashLshPairs]] contract.
    */
  private[operators] def signLshPairs(emb: DataFrame, idCol: String,
      vecCol: String, threshold: Double, maxBucket: Int = 1024,
      within: Seq[String] = Nil): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    val key = within ++ Seq("band", "bh")
    val buckets = lshBuckets(emb, idCol, vecCol, threshold, within).cache()
    val hot = buckets.groupBy(key.map(col): _*).count()
      .filter(col("count") > maxBucket)
      .select(key.map(col) :+
        ceil(col("count") / maxBucket).cast("int").as("nsplit"): _*)
    val salted = buckets.join(broadcast(hot), key, "left")
      .withColumn("salt", when(col("nsplit").isNull, lit(0)).otherwise(
        pmod(xxhash64(col("band"), col("vec_id")), col("nsplit")).cast("int")))
      .select(col("vec_id") +: col("v") +: (key :+ "salt").map(col): _*)
    verifyPairs(
      salted.as("x").join(salted.as("y"), key :+ "salt")
        .filter(col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("vec_a"), col("x.v").as("va"),
          col("y.vec_id").as("vec_b"), col("y.v").as("vb")),
      threshold)
  }

  /** Bipartite [[signLshPairs]]: verified (vec_a, vec_b, cos) near-dup pairs
    * BETWEEN two frames (vec_a from `left`, vec_b from `right`, band
    * multiplicity retained, equal ids excluded) — the incremental-dedup
    * shape, where only batch × history pairs matter and generating the
    * history × history quadratic inside a hot bucket would be pure waste.
    * Skew treatment is the standard bipartite salting: RIGHT-side rows of a
    * hot bucket split into nsplit salt groups, LEFT-side rows replicate
    * across all nsplit of them — every cross pair still meets exactly once
    * per shared band (NO recall loss from the cap here, unlike the
    * self-join's independent-salt treatment), and reducers stay bounded by
    * maxBucket × the left side's bucket width.
    *
    * Cache lifecycle: caches the right bucket frame (width aggregate + join
    * side); [[Caches.release]], as everywhere.
    */
  private[operators] def embeddingPairsBetween(left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      maxBucket: Int = 1024, within: Seq[String] = Nil): DataFrame = {
    require(maxBucket > 1, "maxBucket must be > 1")
    val key = within ++ Seq("band", "bh")
    val lB = lshBuckets(left, idCol, vecCol, threshold, within)
    val rB = lshBuckets(right, idCol, vecCol, threshold, within).cache()
    val hot = rB.groupBy(key.map(col): _*).count()
      .filter(col("count") > maxBucket)
      .select(key.map(col) :+
        ceil(col("count") / maxBucket).cast("int").as("nsplit"): _*)
    val rS = rB.join(broadcast(hot), key, "left")
      .withColumn("salt", when(col("nsplit").isNull, lit(0)).otherwise(
        pmod(xxhash64(col("band"), col("vec_id")), col("nsplit")).cast("int")))
      .select(col("vec_id") +: col("v") +: (key :+ "salt").map(col): _*)
    val lS = lB.join(broadcast(hot), key, "left")
      .withColumn("salt", explode(when(col("nsplit").isNull, array(lit(0)))
        .otherwise(sequence(lit(0), col("nsplit") - 1))))
      .select(col("vec_id") +: col("v") +: (key :+ "salt").map(col): _*)
    verifyPairs(
      lS.as("x").join(rS.as("y"), key :+ "salt")
        .filter(col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("vec_a"), col("x.v").as("va"),
          col("y.vec_id").as("vec_b"), col("y.v").as("vb")),
      threshold)
  }
}
