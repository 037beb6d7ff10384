package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, Seeds}

/** Semantic (embedding-space) deduplication — the SemDeDup recipe (Abbas et
  * al. 2023): coarse-cluster the embedding space, then prune near-duplicate
  * vectors WITHIN each cluster, so the pairwise stage never leaves a cell and
  * no O(n²) comparison forms. The reference engine has no counterpart; this is
  * a north-star extension operator (SURVEY.md §2.13).
  *
  * Determinism contract (what makes both stages hash-oracle-able in an
  * external SQL engine):
  *  - Seeds are the `k` vectors with the smallest (md5(vec_id), vec_id) — an
  *    engine-portable pseudo-random draw, the same trick as
  *    [[Pipelines.hashSample]].
  *  - Distances are squared-L2 over components quantized by
  *    `floor(x · 1e6 + 0.5)`: float→double widening is exact, the multiply,
  *    add and floor are single IEEE ops any engine reproduces bit-for-bit,
  *    and every quantized component is an integer below 2^31 — so the squared
  *    distance (≤ 64 · (2·6e5)² ≈ 9e13 here) stays an EXACT integer in double
  *    arithmetic, summation order irrelevant. Argmin ties break on the
  *    smaller seed id. No engine-private RNG, no order-dependent float sums.
  *
  * Scale shape (100 TB): seeds are k rows — a global top-k (TakeOrdered)
  * collected once; assignment is one narrow compiled pass computing k
  * distances per row (exactly IVF's coarse quantizer); the within-cell
  * prune self-joins on the cell key, so reducer width is bounded by the
  * widest cell — k is the knob (pick k ≈ n / targetCellSize; SemDeDup uses
  * n/cell ≈ 1e4 at web scale), and cells that still run hot past `maxCell`
  * automatically fall back to [[Dedup.embeddingPairs]]' sign-LSH blocking
  * (bounded buckets, documented recall). The keep-first rule stays
  * well-defined under the fallback because it only needs each dropped row to
  * have SOME smaller-id near-duplicate, not the full pair set.
  */
object Semantic {

  private[operators] def quantized(vecCol: String): Column =
    GraftFunctions.quantize6(col(vecCol))

  /** Guard for the exact-integer distance contract: squared distances (and
    * PQ's packed `dist2·64 + rank` keys) are bit-for-bit portable only while
    * they stay below 2^53, which bounds the quantized component magnitude by
    * sqrt(2^53 / (packFactor · 4 · width)) — width components per summed
    * distance, each difference at most twice the max magnitude. Unit-scale
    * embeddings sit far inside the bound (|x| ≲ 2 even at dsub = 8 packed);
    * anything outside it must FAIL LOUDLY rather than silently void the
    * hash-oracle contract with inexact summation. One array_max and one
    * array_min pass per row (max |x| = greatest(max x, −min x)), folded into
    * the quantize projection (no extra job).
    */
  private def qvGuard(qv: Column, width: Column, packFactor: Int, ctx: String): Column = {
    val maxAbs = floor(sqrt(lit(9.0e15 / (4.0 * packFactor)) / width)).cast("long")
    when(coalesce(greatest(array_max(qv), -array_min(qv)), lit(0L)) <= maxAbs, qv)
      .otherwise(raise_error(concat(
        lit(s"$ctx: quantized component magnitude exceeds the exact-integer " +
          s"bound ("), maxAbs.cast("string"),
        lit(") — distances would lose integer exactness (>= 2^53) and the " +
          "hash-oracle contract would silently break; rescale the embeddings"))))
  }

  /** (vec_id, cell, dist2): every vector assigned to its nearest of `k`
    * deterministic seed vectors (cell = the seed's vec_id), with the exact
    * integer quantized squared-L2 distance. Null-embedding rows are excluded
    * (they have no position in the space). This is the deterministic coarse
    * quantizer SemDeDup and IVF both start from.
    */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val (vecs, seeds) = coarseInputs(emb, idCol, vecCol, k, "assignCells")
    // the argmin runs map-side: every row computes its k distances against
    // the collected seeds in one compiled projection (`nearest` orders as
    // min(struct(d2, seed_id)): smallest distance, then smallest seed id —
    // the engine-portable tie-break), so no vec_id exchange forms
    vecs.select(col("vec_id"), GraftFunctions.nearest(col("qv"), seeds).as("m"))
      .select(col("vec_id"), col("m.seed_id").as("cell"),
        col("m.d2").cast("long").as("dist2"))
  }

  /** The coarse quantizer's inputs: guarded (vec_id, v, qv) rows of the
    * non-null embeddings, spread for the per-row pass (`v` is pruned away
    * where unused), and their `k` collected seeds, drawn from the same rows
    * unspread — a top-k needs no spread, and drawing from the spread frame
    * would pay its shuffle a second time.
    */
  private[operators] def coarseInputs(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, ctx: String): (DataFrame, Seeds) = {
    def rows(src: DataFrame) = src.select(Keys.id(emb, idCol).as("vec_id"),
      col(vecCol).as("v"), qvGuard(quantized(vecCol), size(col(vecCol)), 1, ctx).as("qv"))
    val base = emb.filter(col(vecCol).isNotNull)
    (rows(Par.spread(base)), Seeds.collect(seedDraw(rows(base), k), "vec_id", "qv"))
  }

  /** The `k` deterministic seed rows of a (vec_id, qv) frame: the smallest
    * (md5(vec_id), vec_id) rows, a global top-k that callers collect once
    * (k rows of plan-time metadata, as the IVF sidecars are).
    */
  private[operators] def seedDraw(vecs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    vecs.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
  }

  /** `vecs` plus `cell`, the nearest of the frozen `seeds` to each row's
    * `qv`; no rows at all when there are no seeds.
    */
  private[operators] def withCell(vecs: DataFrame, seeds: Seeds): DataFrame =
    vecs.where(lit(seeds.size > 0))
      .withColumn("cell", GraftFunctions.nearest(col("qv"), seeds).getField("seed_id"))

  /** Lloyd's k-means TRAINING on the quantized integer grid — the trained
    * form of [[assignCells]]' md5-seeded coarse quantizer (which IVF and
    * SemDeDup both start from): `iters` rounds of (assign every vector to
    * its nearest centroid, recompute each centroid as the component-wise
    * mean of its members), the whole recurrence in exact BIGINT so it is
    * engine-portable like the PageRank family.
    *
    * The mean is floor division written DIVISIBLY: c = (s − pmod(s, n))
    * div n. Subtracting the nonnegative remainder first makes the dividend
    * an exact multiple of n, so truncating and flooring division agree —
    * the oracle engine's integer-division direction on NEGATIVE sums (a
    * real divergence risk; component sums go negative) drops out of the
    * contract, and centroids stay on the integer grid so every later
    * distance stays exact. Argmin ties break on the smaller cell id; an
    * empty cell keeps its previous centroid (the Lloyd degeneracy rule
    * that neither invents mass nor drops a cell id).
    *
    * Output: one row per centroid component — (cell, pos, c, n_members),
    * n_members counted from the FINAL assignment against the trained
    * centroids (0 for a cell that ended empty).
    *
    * Scale shape: per iteration one collected-centroid assignment pass
    * (k·d multiply-adds per row inside codegen, no shuffle) plus one
    * (cell, pos)-keyed aggregate whose map-side partial combine caps the
    * exchange at k·d rows per task; centroids live as a k-row frame with
    * a lazy localCheckpoint per round so the plan does not deepen with
    * `iters`. Data-sized work is exactly iters+1 scans — the textbook
    * distributed Lloyd shape (Spark MLlib KMeans restated in the
    * portable-integer discipline).
    */
  def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2): DataFrame = {
    require(k >= 1, "k must be positive")
    require(iters >= 1 && iters <= 20, "need 1 <= iters <= 20")
    val vecs = Par.spread(emb.filter(col(vecCol).isNotNull))
      .select(Keys.id(emb, idCol).as("vec_id"),
        qvGuard(quantized(vecCol), size(col(vecCol)), 1, "kmeansTrain").as("qv"))
      .localCheckpoint(eager = false)
    var cents = seedDraw(vecs, k)
      .select(col("vec_id").as("cell"), col("qv").as("cv"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      val means = assignAgainst(vecs, cents)
        .join(vecs, "vec_id")
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          expr("(s - pmod(s, n)) div n").as("c"))
      val upd = means.groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cv2"))
      cents = cents.as("p").join(upd, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("cv2"), col("p.cv")).as("cv"))
        .localCheckpoint(eager = false)
    }
    val counts = assignAgainst(vecs, cents)
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
    cents
      .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "c")))
      .join(counts, Seq("cell"), "left")
      .select(col("cell"), col("pos"), col("c"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))
  }

  /** One MINI-BATCH update of a persisted [[kmeansTrain]] state (Sculley
    * 2010, web-scale k-means) — the incremental column for the trained
    * quantizer: assign the batch against the stored centroids, then move
    * each touched centroid to the count-weighted running mean
    *
    *   c' = (c·n + Σ qv_batch) divFloor (n + m),   n' = n + m
    *
    * on the integer grid, with the same DIVISIBLE floor division as
    * training. The floored centroid stands in for the true component sum —
    * drift is under one quantization unit per update, mini-batch k-means'
    * standard compromise (retraining from scratch is [[kmeansTrain]]).
    * Untouched cells pass through unchanged; the batch CANNOT create or
    * drop a cell (frozen-k, like every frozen-codebook form here).
    *
    * Input/output schema = [[kmeansTrain]]'s (cell, pos, c, n_members),
    * so updates chain: state → update(batch₁) → update(batch₂) → …
    *
    * Scale shape: one collected-centroid assignment pass over the batch +
    * one (cell, pos) partial-agg exchange of ≤ k·d rows per task — batch-
    * sized work, the state never rescans its history.
    */
  def kmeansUpdate(state: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    require(state.columns.toSet == Set("cell", "pos", "c", "n_members"),
      "state must be a kmeansTrain output: (cell, pos, c, n_members)")
    val cents = state.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
    val vecs = Par.spread(emb.filter(col(vecCol).isNotNull))
      .select(Keys.id(emb, idCol).as("vec_id"),
        qvGuard(quantized(vecCol), size(col(vecCol)), 1, "kmeansUpdate").as("qv"))
    val sums = assignAgainst(vecs, cents)
      .join(vecs, "vec_id")
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("m"))
      .select(col("cell").as("u_cell"), col("pos").as("u_pos"),
        col("s"), col("m"))
    state
      .join(sums, col("cell") === col("u_cell") && col("pos") === col("u_pos"),
        "left")
      .select(col("cell"), col("pos"),
        expr("CASE WHEN m IS NULL THEN c ELSE " +
          "(c * n_members + s - pmod(c * n_members + s, n_members + m))" +
          " div (n_members + m) END").as("c"),
        expr("n_members + coalesce(m, 0L)").as("n_members"))
  }

  /** Persisted semantic-dedup state for [[semanticIncremental]]: the cell
    * assignment plus each vector, with the codebook rows marked — the
    * by-product every ingestion run appends, mirroring
    * [[Dedup.minHashState]] for the embedding path. Schema:
    * (vec_id, cell, v, is_seed). Seeds are frozen by the FIRST run (cells
    * must stay stable across batches or history lookups would cross cells);
    * re-seeding is a full [[semanticDedup]] rebuild, exactly like re-banding
    * an LSH state table.
    */
  def semanticState(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val assigned = assignCells(emb, idCol, vecCol, k).select("vec_id", "cell")
    emb.filter(col(vecCol).isNotNull)
      .select(Keys.id(emb, idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assigned, "vec_id")
      .select(col("vec_id"), col("cell"), col("v"),
        (col("vec_id") === col("cell")).as("is_seed"))
  }

  /** RETRACT vectors from a persisted [[semanticState]] — the embedding-
    * modality takedown form, completing its (append, retract) pair.
    * Doc-id-keyed like [[Dedup.minHashRetract]], so retraction is exact —
    * EXCEPT for codebook seeds: a seed row defines its cell's geometry for
    * every past and future assignment, and removing it would re-shape the
    * space (the frozen-seed contract [[semanticIncremental]] documents).
    * Retracting a seed therefore FAILS LOUDLY — re-seeding is a full
    * [[semanticDedup]] rebuild, exactly like re-banding an LSH state.
    * (A seed's CONTENT thus stays in the index until a rebuild: its row
    * keeps blocking near-duplicates of it, the conservative direction.)
    *
    * Scale shape: the seed guard is one broadcast semi-join + limit-1
    * existence probe against the k seed rows; the retraction itself one
    * anti-join on the vector id, takedown side broadcast.
    */
  def semanticRetract(state: DataFrame, vecIds: DataFrame): DataFrame = {
    require(Seq("vec_id", "cell", "v", "is_seed").forall(state.columns.contains),
      "state must be a semanticState table: (vec_id, cell, v, is_seed)")
    require(vecIds.columns.contains("vec_id"),
      "vecIds must carry the retracted ids as 'vec_id'")
    // the seed probe is an EAGER action and the anti-join result is read
    // again downstream — sever a computed state lineage once so the probe's
    // forced computation is reused instead of repeated (Par.sever is a no-op
    // for a parquet-backed state table)
    val st = Par.sever(state)
    val ids = Par.sever(vecIds.select("vec_id").distinct())
    val seedHit = st.filter(col("is_seed"))
      .join(broadcast(ids), Seq("vec_id"), "left_semi")
      .limit(1).collect()
    require(seedHit.isEmpty,
      s"cannot retract codebook seed vec_id=${seedHit.headOption.map(_.get(0))}" +
        " — seeds define the frozen cell geometry; re-seeding requires a " +
        "full semanticDedup rebuild (the re-banding rule)")
    st.join(ids, Seq("vec_id"), "left_anti")
  }

  /** Incremental semantic dedup — the continuously-ingesting form of
    * [[semanticDedup]], mirroring [[Dedup.nearIncremental]]: keep rows of
    * `newEmb` that (1) are not within `threshold` cosine of ANY state vector
    * sharing their cell (assignment against the STATE's frozen seeds) and
    * (2) survive the within-batch keep-first prune. Returns (vec_id, cell)
    * survivors; callers append the survivors' state rows afterwards.
    *
    * Scale shape: seeds collected (k rows); the history check is an equality
    * join on the cell key — only same-cell (new, history) pairs are scored,
    * the SemDeDup containment argument applied across batches — and cells
    * whose STATE side has grown past `maxCell` fall back to bipartite
    * sign-LSH banding, the same bounded-reducer/documented-recall tradeoff
    * the within-batch prune makes. One narrow assignment pass + two
    * cell-keyed joins per batch.
    */
  def semanticIncremental(newEmb: DataFrame, idCol: String, vecCol: String,
      state: DataFrame, threshold: Double, maxCell: Int = 1024): DataFrame = {
    import GraftFunctions.cosineSim
    require(Seq("vec_id", "cell", "v", "is_seed").forall(state.columns.contains),
      "state must be a semanticState table: (vec_id, cell, v, is_seed)")
    // the state feeds FOUR subplans (seeds, hot-cell widths, the cold and
    // hot history sides) — a computed state lineage (the retract form chains
    // semanticState → semanticRetract in one plan) would be recomputed and
    // RE-PLANNED per consumer; sever materializes it once (no-op for a
    // parquet-backed state, which each consumer re-scans with pruning)
    val st = Par.sever(state)
    val seeds = Seeds.collect(st.filter(col("is_seed"))
      .select(col("vec_id").as("seed_id"), quantized("v").as("sv")), "seed_id", "sv")
    // an empty codebook would assign NOTHING and silently drop the whole
    // batch — the inverse of dedup's usual over-retention failure and far
    // worse. First-run callers must bootstrap with semanticDedup +
    // semanticState instead.
    require(seeds.size > 0,
      "state has no seed rows (is_seed) — bootstrap the first batch " +
        "with semanticDedup and persist semanticState before running " +
        "incrementally")
    val vecs = newEmb.filter(col(vecCol).isNotNull)
      .select(Keys.id(newEmb, idCol).as("vec_id"), col(vecCol).as("v"),
        quantized(vecCol).as("qv"))
    // batch-sized; severed because it feeds the history tag, the survivor
    // anti-join AND the within-batch prune
    val assigned = Par.sever(withCell(vecs, seeds).select("vec_id", "cell", "v"))
    // History check, with the SAME hot-cell bound the within-batch prune
    // has: a cell whose STATE side exceeds maxCell would otherwise put
    // |batch-in-cell| × width cosines in one reducer. Cold cells join
    // exactly; hot cells go through the sign-LSH banding bipartitely (batch
    // ∪ state rows of that cell, keep only cross-side pairs) — bounded
    // buckets, the documented recall tradeoff, and exact clones still always
    // collide. A batch id that ALREADY EXISTS in the state (re-ingestion) is
    // never scored against its own history copy: the cold path filters equal
    // ids explicitly, and the bipartite hot path excludes them structurally
    // (vec_a =!= vec_b) — so re-ingestion degrades predictably (the row
    // survives or falls on its OTHER neighbors) instead of silently
    // self-dropping in cold cells only.
    val hotCells = st.groupBy("cell").agg(count(lit(1)).as("c"))
      .filter(col("c") > maxCell).select("cell")
      .withColumn("__hot", lit(true))
    val aTag = assigned.join(broadcast(hotCells), Seq("cell"), "left")
    val sTag = st.select(col("cell"), col("vec_id"), col("v"))
      .join(broadcast(hotCells), Seq("cell"), "left")
    val coldHits = aTag.filter(col("__hot").isNull).as("n")
      .join(sTag.filter(col("__hot").isNull)
        .select(col("cell"), col("vec_id").as("hid"), col("v").as("hv")).as("h"),
        "cell")
      .filter(col("n.vec_id") =!= col("hid") &&
        cosineSim(col("n.v"), col("hv")) >= threshold)
      .select(col("n.vec_id").as("vec_id"))
    // hot cells: BIPARTITE sign-LSH banding — batch rows on the left, state
    // rows on the right, the cell in the bucket key. Only batch × history
    // candidates ever form (the history × history quadratic inside a 100k-row
    // hot cell is pure waste here), cross-side-ness and same-cell-ness are
    // structural rather than post-join filters, and equal ids cannot pair
    // (the re-ingestion contract). The bipartite salt cap loses NO recall.
    val hotHits = Dedup.embeddingPairsBetween(
      aTag.filter(col("__hot").isNotNull).select("vec_id", "v", "cell"),
      sTag.filter(col("__hot").isNotNull).select("vec_id", "v", "cell"),
      "vec_id", "v", threshold, within = Seq("cell"))
      .select(col("vec_a").as("vec_id"))
    val hits = coldHits.unionByName(hotHits).distinct()
    val fresh = Par.sever(assigned.join(hits, Seq("vec_id"), "left_anti"))
    fresh
      .join(withinCellDrops(fresh.select("cell", "vec_id", "v"), threshold, maxCell),
        Seq("vec_id"), "left_anti")
      .select("vec_id", "cell")
  }

  /** Product-quantization encoding (Jégou et al. 2011): split each vector
    * into `m` contiguous subspaces and store, per subspace, the index of the
    * nearest of `ksub` codebook entries — compressing a d-dim float vector to
    * m small codes (m bytes at ksub <= 256), the standard memory layout for
    * billion-scale ANN. Codebooks here are the subspace slices of the same
    * deterministic md5-seed draw [[assignCells]] uses (sampled-data codebooks,
    * the common PQ bootstrap), so the encoding — like the cell assignment —
    * is reproducible by an external SQL engine bit-for-bit.
    *
    * Portability trick for the per-subspace argmin: the selection key is
    * `min(dist2 · 64 + seedRank)` with seedRank < min(64, ksub) — dist2 is an
    * exact integer (quantized components, see [[assignCells]]) bounded by
    * dsub · (2·maxComp)², so the packed key stays below 2^53 and both engines
    * compute the identical integer, ties resolved to the smallest rank by
    * construction. code_j = key_j mod 64.
    *
    * Scale shape: the ksub-row codebook is collected once, then encoding is
    * one narrow compiled projection (`GraftFunctions.pqEncode`: m·ksub
    * subspace distances per row) — no pair stream, no shuffle. Encoding
    * 100 TB of vectors is a map-only job.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16): DataFrame =
    encodeCodes(pqParts(emb, idCol, vecCol, m, ksub))

  /** Shared PQ scaffolding — quantized vectors, the ranked codebook draw
    * (`seeds`: r, sv) and its collected form, the subspace count and width.
    * ONE construction serves pqEncode, pqTopK and the IVF-PQ index: the
    * seed/rank/key arithmetic must stay bit-identical between them for the
    * external oracle to hold, so it must not exist as divergent copies.
    */
  private[operators] case class PqParts(vecs: DataFrame, seeds: DataFrame,
      codebook: Seeds, m: Int, dsub: Int)

  /** Guarded quantized (vec_id, qv) rows — spread for the per-row pass,
    * and unspread for the codebook draw (see [[coarseInputs]]) — plus the
    * probed dim, shared by the fresh and frozen PqParts constructions.
    */
  private def quantizedVecs(emb: DataFrame, idCol: String, vecCol: String,
      m: Int): (DataFrame, DataFrame, Int) = {
    val base = emb.filter(col(vecCol).isNotNull)
    val dim = base.select(size(col(vecCol))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"no non-null vectors in '$vecCol' — nothing to quantize"))
    require(dim % m == 0, s"embedding dim $dim must divide into m=$m subspaces")
    // packed-key exactness bound: dist2·64 + r < 2^53 over dsub-wide subspace
    // distances (tighter than assignCells' unpacked bound by the ×64 factor)
    def rows(src: DataFrame) = src.select(Keys.id(emb, idCol).as("vec_id"),
      qvGuard(quantized(vecCol), lit(dim / m), 64, "pq").as("qv"))
    (rows(Par.spread(base)), rows(base), dim)
  }

  private[operators] def pqParts(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): PqParts = {
    require(m >= 1 && ksub >= 2 && ksub <= 64,
      "need 1 <= m and 2 <= ksub <= 64 (codes pack as dist2*64 + rank)")
    val (vecs, unspread, dim) = quantizedVecs(emb, idCol, vecCol, m)
    val seeds = seedDraw(unspread, ksub)
      .select(col("vec_id").as("seed_id"), col("qv").as("sv"))
      .withColumn("r",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(md5(col("seed_id").cast("string")), col("seed_id"))) - 1)
    PqParts(vecs, seeds, Seeds.collect(seeds, "r", "sv"), m, dim / m)
  }

  /** [[pqParts]] with a FROZEN codebook (r, sv rows — an ivfPqWrite sidecar)
    * instead of a fresh seed draw: the append/ingest form. New vectors must
    * encode against the codebook the INDEX was built with, or their codes
    * would be meaningless to its LUTs — the same frozen-seed convention as
    * [[semanticState]]/[[semanticIncremental]].
    */
  private[operators] def pqPartsFrozen(emb: DataFrame, idCol: String,
      vecCol: String, codebook: DataFrame, m: Int): PqParts = {
    val (vecs, _, dim) = quantizedVecs(emb, idCol, vecCol, m)
    val seeds = codebook.select(col("r"), col("sv"))
    PqParts(vecs, seeds, Seeds.collect(seeds, "r", "sv"), m, dim / m)
  }

  /** Per-query flattened ADC LUT — ONE row per query: (lqid, ks, lut) where
    * `lut[j·ks + r + 1]` (1-based element_at) is the exact-integer subspace-j
    * distance from the query to codebook entry r, ks the codebook size. One
    * compiled projection over the query rows (`GraftFunctions.pqLut`, the
    * same subspace arithmetic as the encoding) — no (query × codebook) pair
    * stream and no query_id re-aggregate. Collapsing the LUT j-major into
    * one array row lets the scoring side ([[adcDist]]) read it with two
    * integer ops per code inside whole-stage codegen: no per-code explode,
    * no LUT join and no (query_id, vec_id) re-aggregate.
    */
  private[operators] def queryLuts(qv: DataFrame, codebook: Seeds, m: Int,
      dsub: Int): DataFrame =
    qv.select(col("query_id").as("lqid"), lit(codebook.size).as("ks"),
      GraftFunctions.pqLut(col("qv"), codebook, m, dsub).as("lut"))

  /** ADC distance of a `codes` array against a joined [[queryLuts]] row:
    * Σ_j lut[j·ks + codes[j]] (`GraftFunctions.adcDist`) as a bigint — each
    * LUT entry and the m-term sum stay < 2^53 under the qvGuard bound, so
    * double addition is exact and order-irrelevant and the hash-oracle
    * contract holds; one compiled pass per (query, vector) pair with no
    * exchange. Null for a null `codes` array or code: rankers sort nulls
    * last and drop them AFTER the top-k — a filter before it would be pushed
    * into the scan and evaluate this expression twice per row. A short
    * `codes` array raises Spark's `element_at` index error under ANSI mode
    * (null without it).
    */
  private[operators] def adcDist(m: Int): Column =
    GraftFunctions.adcDist(col("codes"), col("lut"), col("ks"), m).cast("long")

  /** Nearest-cell assignment against GIVEN coarse seeds (cell, cv quantized)
    * — [[assignCells]]' argmin with a frozen codebook, for index appends and
    * k-means rounds: the seeds are collected, the argmin is one compiled
    * projection. Returns (vec_id, cell).
    */
  private[operators] def assignAgainst(vecs: DataFrame, seeds: DataFrame): DataFrame =
    withCell(vecs, Seeds.collect(seeds, "cell", "cv")).select("vec_id", "cell")

  /** The m PQ codes of each `qv` row (array<tinyint>) against `p`'s codebook. */
  private[operators] def codesOf(p: PqParts): Column =
    GraftFunctions.pqEncode(col("qv"), p.codebook, p.m, p.dsub)

  /** Array form of the PQ encoding — (vec_id, codes array<tinyint>): the
    * representation the ADC paths and the materialized index actually use.
    * A code is < 64, so tinyint storage makes the "m bytes/vector" claim
    * literal in parquet, and probes read the array directly instead of
    * parsing a CSV string per row. [[encodeCodes]] derives the public string
    * form from THIS frame so the min-key arithmetic exists exactly once.
    */
  private[operators] def encodeCodeArray(p: PqParts): DataFrame =
    p.vecs.select(col("vec_id"), codesOf(p).as("codes"))

  /** [[pqEncode]]'s public CSV form of [[encodeCodeArray]] (the q_pq_encode
    * oracle pins this string shape). */
  private[operators] def encodeCodes(p: PqParts): DataFrame =
    encodeCodeArray(p).select(col("vec_id"),
      array_join(col("codes").cast("array<string>"), ",").as("code"))

  /** PQ asymmetric-distance (ADC) top-k: rank the corpus against one query
    * using only the m-code compression from [[pqEncode]] plus an m × ksub
    * lookup table of exact subspace distances from the query to every
    * codebook entry — the search side of PQ (Jégou et al. 2011 §IV). The
    * approximate distance Σ_j LUT[j][code_j] is a sum of m exact integers
    * (< 2^53), so unlike the LSH/IVF paths this approximate search is fully
    * hash-oracle-able; ties break on vec_id.
    *
    * Scale shape: the query's LUT is one compiled projection of the single
    * query row against the collected codebook ([[queryLuts]]), broadcast as
    * one row; scoring is one compiled [[adcDist]] pass per encoded corpus
    * row, then a top-k (TakeOrdered). The raw vectors are never touched
    * after encoding, which is the point of PQ at 100 TB: the scan reads m
    * bytes per vector, not 4·d.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, m: Int = 8, ksub: Int = 16): DataFrame = {
    val p = pqParts(emb, idCol, vecCol, m, ksub)
    val lut = queryLuts(
      p.vecs.filter(col("vec_id") === queryId)
        .select(col("vec_id").as("query_id"), col("qv")),
      p.codebook, m, p.dsub)
    encodeCodeArray(p)
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(lut))
      .select(col("vec_id"), adcDist(m).as("adist"))
      .orderBy(col("adist").asc_nulls_last, col("vec_id").asc)
      .limit(k)
      .filter(col("adist").isNotNull)
  }

  /** Batch-query ADC search — [[pqTopK]] generalized from one literal
    * queryId to a QUERIES DataFrame, the retrieval-pipeline form (millions of
    * queries score one encoded corpus). Returns (query_id, vec_id, adist):
    * the `k` nearest corpus codes per query row, self-pairs excluded, exact
    * integer distances, ties on vec_id — hash-oracle-able exactly like the
    * single-query form because every LUT entry is the same exact-integer
    * arithmetic.
    *
    * Scale shape: the corpus is encoded and the query LUTs built by two
    * compiled projections against the collected codebook; ONE broadcast of
    * the |queries| LUT rows (queries are the small side by assumption, the
    * corpus the big one) meets the encoded corpus in a nested loop whose
    * compiled [[adcDist]] scores each pair, then a per-query top-k window
    * partitioned by query_id (WindowGroupLimit pushes the rank filter below
    * the sort at scale). No vec_id or query_id aggregate, no per-query job
    * loop, no plan growth in |queries|.
    */
  def pqTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, m: Int = 8, ksub: Int = 16): DataFrame = {
    val p = pqParts(emb, idCol, vecCol, m, ksub)
    val qv = queries.filter(col(qVecCol).isNotNull)
      .select(Keys.id(queries, qIdCol).as("query_id"), quantized(qVecCol).as("qv"))
    val luts = queryLuts(qv, p.codebook, m, p.dsub)
    val scored = encodeCodeArray(p)
      .crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("lqid"))
      .select(col("lqid").as("query_id"), col("vec_id"), adcDist(m).as("adist"))
    Rank.topK(scored, Seq("query_id"),
        Seq(col("adist").asc_nulls_last, col("vec_id").asc), k, "__rn")
      .filter(col("adist").isNotNull)
      .select("query_id", "vec_id", "adist")
  }

  /** Semantic dedup survivors: (vec_id, cell) of every vector NOT pruned by
    * the within-cell keep-first rule — a vector is dropped iff some SMALLER-id
    * vector in the same cell has cosine similarity ≥ `threshold` with it.
    * Keep-first on ids is the same deterministic cut [[Pipelines.dedupNear]]
    * and [[Pipelines.dedupLines]] use, and unlike "drop everything near the
    * centroid-closest point" it needs no float centroid (whose summation
    * order no two engines agree on).
    *
    * `maxCell` bounds reducer work the way [[Dedup.simHashPairs]]' maxBucket
    * does, at the price of RECALL inside hot cells: a cell wider than maxCell
    * — a boilerplate-heavy corpus concentrates its clones in few cells — is
    * switched from the exact all-pairs self-join (one reducer doing width²
    * cosines) to sign-LSH-blocked pair generation, where a near-dup pair at
    * cos ≥ threshold is missed with probability (1-p^r)^b (the
    * [[Dedup.embeddingPairs]] banding, ≤ 0.1 at the tuned band structure).
    * The default (1024) is the scale-safe setting; pass
    * `maxCell >= corpus size` to restore the exact-prune contract an
    * external oracle reproduces verbatim.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, maxCell: Int = 1024): DataFrame = {
    require(maxCell > 1, "maxCell must be > 1")
    val assigned = assignCells(emb, idCol, vecCol, k).select("vec_id", "cell")
    val vecs = emb.filter(col(vecCol).isNotNull)
      .select(Keys.id(emb, idCol).as("vec_id"), col(vecCol).as("v"))
    val cells = assigned.join(vecs, "vec_id")
    assigned.join(withinCellDrops(cells, threshold, maxCell),
      Seq("vec_id"), "left_anti")
  }

  /** Dropped vec_ids under the within-cell keep-first rule over a
    * (vec_id, cell, v) frame: exact all-pairs per cell for cells up to
    * `maxCell` wide, sign-LSH-blocked pairs (bounded buckets, documented
    * recall) for hotter cells. Shared by [[semanticDedup]] and
    * [[semanticIncremental]]'s within-batch cut.
    */
  private def withinCellDrops(cells: DataFrame, threshold: Double,
      maxCell: Int): DataFrame = {
    import GraftFunctions.cosineSim
    // hot-cell width count: map-side-combined aggregate over (vec_id, cell)
    // rows; the hot list holds only skewed cells, hence broadcastable
    val hot = cells.groupBy("cell").count()
      .filter(col("count") > maxCell).select("cell")
    val tagged = cells.join(broadcast(hot).withColumn("__hot", lit(true)),
      Seq("cell"), "left")
    val cold = tagged.filter(col("__hot").isNull).select("cell", "vec_id", "v")
    val coldDrops = cold.as("a")
      .join(cold.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosineSim(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
    // hot cells: LSH-banded candidates with the cell IN the bucket key
    // (containment blocking — no cross-cell candidates form, no re-join of
    // the pair stream against the cell map) and the cosine verify fused
    // before any exchange. signLshPairs keeps band multiplicity; the only
    // exchange after the bucket join is this projection's distinct, which is
    // LINEAR in the hot rows while the pair stream is quadratic in the
    // clone-cluster width — the shape ProfileSkew's 90%-hot-cell run pins.
    val hotVecs = tagged.filter(col("__hot").isNotNull)
      .select("cell", "vec_id", "v")
    val hotDrops = Dedup.signLshPairs(hotVecs, "vec_id", "v",
      threshold, within = Seq("cell"))
      .select(col("vec_b").as("vec_id"))
    coldDrops.unionByName(hotDrops).distinct()
  }
}
