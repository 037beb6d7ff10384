package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, Seeds}

/** Similarity search over an embedding column (north-star extension,
  * SURVEY.md §2.13).
  *
  * - `bruteForceTopK`: exact cosine top-k. The query vector is broadcast (one row),
  *   the scan streams through whole-stage codegen (CosineSimilarity has doGenCode),
  *   and top-k is `TakeOrderedAndProject` — no full sort, no extra shuffle. This is
  *   the correct-baseline path and already the right 100 TB plan for single-query
  *   scoring: one pass over the data.
  * - `annTopK`: sign-random-projection LSH. Vectors are bucketed by `tables`
  *   independent signature prefixes; only bucket-mates of the query are scored.
  *   At 100 TB the bucketed table would be pre-materialized (partitioned by
  *   (table, bucket)) so a probe touches a tiny partition subset.
  */
object Similarity {

  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(Keys.id(emb, idCol).as("vec_id"),
        (GraftFunctions.cos4(col(vecCol), col("qv")).cast("double") / 10000.0).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding hygiene for a vector pipeline: the L2 norm (rounded to 4dp) and
    * an int8 max-abs quantization of each vector, serialized as a comma-joined
    * string so the result is hash-comparable across engines (raw array columns
    * are not). Quantization scales by the vector's max |component| — max and
    * division are exactly reproducible IEEE ops, unlike scaling by the norm,
    * whose summation could differ across engines by an ulp and flip a
    * floor boundary. `floor(x·127/amax + 0.5)` is engine-portable rounding
    * (SQL round() half-away-from-zero semantics vary). One narrow codegen'd
    * pass, no shuffle: quantizing 100 TB of vectors is a map-only job.
    */
  def normalizeQuantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.operators.Par.spread(emb)
      .select(Keys.id(emb, idCol).as("vec_id"), col(vecCol).as("__v"))
      .withColumn("__n", sqrt(aggregate(col("__v"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .withColumn("__amax", expr(
        "array_max(transform(__v, x -> abs(cast(x as double))))"))
      .select(
        col("vec_id"),
        (floor(col("__n") * 10000).cast("double") / 10000.0).as("norm"),
        expr("array_join(transform(__v, x -> cast(cast(floor(" +
          "cast(x as double) / greatest(__amax, cast(1e-12 as double)) * cast(127 as double)" +
          " + cast(0.5 as double)) as int) as string)), ',')").as("q8"))

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer assigns
    * every vector to its nearest of `nlist` centroids; a query probes only the
    * `nprobe` centroid cells nearest to it and exact-ranks those candidates.
    * The 100 TB deployment materializes the assignment once, partitioned by
    * cell, so a probe reads nprobe/nlist of the data; here the assignment is
    * computed in-plan. Centroids are tiny (nlist × dim) and ride to executors
    * inside the KMeans model's transform — no manual broadcast needed.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val vecs = graft.operators.Par.spread(emb)
      .select(Keys.id(emb, idCol).as("vec_id"),
      col(vecCol).as("v"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))

    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(vecs)
    val assigned = model.transform(vecs).select("vec_id", "v", "cell")

    // the query's nprobe nearest cells, by exact centroid distance (driver-side:
    // nlist rows of work, same cost class as the reference's plan-time metadata)
    val qv = vecs.filter(col("vec_id") === queryId)
      .select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    val probeCells = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, org.apache.spark.ml.linalg.Vectors.sqdist(c, qv)) }
      .sortBy(_._2).take(nprobe).map(_._1)

    val q = assigned.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    assigned
      .filter(col("cell").isin(probeCells.toSeq: _*) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (GraftFunctions.cos4(col("v"), col("qv")).cast("double") / 10000.0).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Materialize an IVF index as a cell-partitioned parquet table — the
    * 100 TB deployment shape the in-plan [[ivfTopK]] only simulates: the
    * coarse assignment runs ONCE (deterministic seed cells via
    * [[Semantic.assignCells]], so rebuilding appends consistently), and every
    * later probe is an ordinary partition-pruned scan. Layout:
    * `dir/cell=<id>/…` with (vec_id, v). The assignment is one compiled
    * projection that carries each vector along — no join back by vec_id.
    */
  def ivfWrite(emb: DataFrame, idCol: String, vecCol: String,
      dir: String, nlist: Int = 16): Unit = {
    val (vecs, seeds, draw) = Semantic.coarseInputs(emb, idCol, vecCol, nlist, "ivfWrite")
    // the index and its sidecar are independent outputs — overlap them
    // (the ivfPqWrite shape; disjoint paths)
    Par.inParallel(
      // cluster by cell before the partitioned write (guide §6 / the Iceberg
      // write.distribution-mode=hash shape): without it every upstream
      // partition opens a file in every cell directory — the r15 spread
      // parallelism turned that into up to #cores tiny files per cell and
      // probe latency regressed on file-open overhead
      () => Semantic.withCell(vecs, seeds)
        .select("vec_id", "cell", "v")
        .repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(dir),
      // sidecar codebook (nlist rows): probes must find the seed vectors
      // WITHOUT scanning the index — a vec_id filter over the partitioned
      // table would touch every cell directory. Written from the k-row seed
      // draw: the index rows whose vec_id equals their cell are exactly the
      // seeds that anchor their own cell
      () => Semantic.anchors(draw, seeds)
        .select(col("vec_id"), col("vec_id").as("cell"), col("v"))
        .repartition(1) // nlist rows, read whole by every probe: one file
        .write.mode("overwrite").parquet(s"$dir.seeds"))
  }

  /** Probe a materialized IVF index: pick the `nprobe` cells whose seed
    * vectors are nearest the query (seed rows live in the index — their
    * vec_id equals their cell), then exact-rank ONLY those partitions. The
    * cell filter is an `isin` on the partition column, so the scan prunes at
    * the directory level and a probe reads ~nprobe/nlist of the index bytes
    * regardless of index size — the property [[graft.SimilaritySpec]] pins
    * via PartitionFilters.
    */
  def ivfProbe(spark: SparkSession, dir: String,
      queryVec: Array[Float], k: Int, nprobe: Int = 4): DataFrame = {
    val idx = spark.read.parquet(dir)
    // seed rows are plan-time metadata (nlist rows) read from the sidecar
    // codebook: their distance to the query picks the probe cells — same
    // cost class as ivfTopK's centroid pick
    val q = queryVec.map(_.toDouble)
    val probeCells = spark.read.parquet(s"$dir.seeds")
      .select(col("cell"), col("v"))
      .collect()
      .map { r =>
        val s = r.getSeq[Float](1)
        val d = s.zip(q).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
        (r.getLong(0), d)
      }
      .sortBy { case (cell, d) => (d, cell) }
      .take(nprobe).map(_._1)
    val qLit = array(queryVec.map(x => lit(x)): _*)
    idx.filter(col("cell").isin(probeCells: _*))
      .select(col("vec_id"),
        (GraftFunctions.cos4(col("v"), qLit).cast("double") / 10000.0).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-dimension (min, max) of the quantized-integer grid — the SQ8
    * codec's d-row training sidecar (the IVF-codebook cost class: a
    * bounded collect of plan-time metadata, never corpus data). Returned
    * as a ONE-ROW frame holding the min and range arrays as columns, so
    * callers broadcast-join it and every expression references the bounds
    * as column values bound ONCE — not as d-element literal arrays
    * re-inlined per use, which at realistic dims (768–1024) builds a
    * multi-hundred-KB expression tree that risks Janino codegen limits
    * (r10 ADVICE).
    */
  private def sq8Bounds(qvecs: DataFrame): DataFrame = {
    val mm = qvecs.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("pos").collect() // d rows — bounded codebook sidecar
    require(mm.nonEmpty, "sq8: no non-null vectors to train bounds on")
    val spark = qvecs.sparkSession
    import spark.implicits._
    Seq((mm.map(_.getAs[Long]("mn")).toSeq,
      mm.map(r => r.getAs[Long]("mx") - r.getAs[Long]("mn")).toSeq))
      .toDF("sq8_mn", "sq8_rg")
  }

  private def sq8Qvecs(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .select(Keys.id(emb, idCol).as("vec_id"), Semantic.quantized(vecCol).as("qv"))

  /** Scalar quantization (SQ8) — the third codec next to PQ and the raw
    * float index (FAISS's SQ8 / Lucene's int8 HNSW storage): each
    * dimension maps affinely onto one byte, code = ((v − min_d)·255) div
    * (max_d − min_d), a 4× compression that (unlike PQ) needs no trained
    * codebook beyond d (min, range) pairs and decodes with two integer
    * ops. All arithmetic on [[Semantic.quantized]]'s exact-integer grid
    * with floor `div` on non-negative operands — engine-portable by the
    * established contract. Codes serialize comma-joined (the
    * [[normalizeQuantize]] hash-surface idiom). One narrow pass after the
    * d-row bounds aggregate: encoding 100 TB is a map-only job.
    */
  def sq8Encode(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val qvecs = sq8Qvecs(emb, idCol, vecCol)
    qvecs.crossJoin(broadcast(sq8Bounds(qvecs))).select(col("vec_id"), expr(
      "array_join(transform(qv, (x, i) -> cast(((x - element_at(sq8_mn, i + 1)) * 255) " +
        "div greatest(1L, element_at(sq8_rg, i + 1)) as int)), ',')").as("sq8"))
  }

  /** Approximate top-k by SQ8 asymmetric inner product: candidates are
    * scored on their DECODED codes (dec = min_d + (code·range_d) div 255)
    * against the query's decoded codes — exact-integer throughout, so the
    * approximate ranking itself is hash-checkable (the pqTopK property,
    * at SQ8's higher fidelity / lower compression point). `adot` is in
    * 1e-12 units (two 1e-6 factors). One broadcast of the 1-row query,
    * one narrow scoring pass, TakeOrdered top-k — the bruteForceTopK
    * shape; at scale SQ8 reads a quarter of the float bytes and the
    * decode stays inside whole-stage codegen.
    */
  def sq8TopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val qvecs = sq8Qvecs(emb, idCol, vecCol)
    val codes = qvecs.crossJoin(broadcast(sq8Bounds(qvecs)))
      .select(col("vec_id"), expr(
        "transform(qv, (x, i) -> ((x - element_at(sq8_mn, i + 1)) * 255) " +
          "div greatest(1L, element_at(sq8_rg, i + 1)))").as("c"),
        col("sq8_mn"), col("sq8_rg"))
    val q = codes.filter(col("vec_id") === queryId).select(col("c").as("qc"))
    def dec(arr: String) =
      s"element_at(sq8_mn, i) + (element_at($arr, i) * element_at(sq8_rg, i)) div 255"
    codes.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr(
        s"aggregate(sequence(1, size(c)), 0L, (acc, i) -> " +
          s"acc + (${dec("c")}) * (${dec("qc")}))").as("adot"))
      .orderBy(col("adot").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The [[graft.functions.CosineSimilarity]] loop replicated exactly
    * (same sequential accumulation order, same zero-norm rule, strict
    * Java-17 doubles) then floor-quantized to 4dp integer units — the
    * driver-side MMR step must score candidate pairs bit-identically to
    * the in-plan expression.
    */
  private def cos4Ref(a: Array[Float], b: Array[Float]): Long = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = a(i).toDouble; val yi = b(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    val c = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    math.floor(c * 10000.0).toLong
  }

  /** MMR diversified top-k (Carbonell & Goldstein 1998): greedily pick
    * the candidate maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-selected — the retrieval that returns ten DIFFERENT relevant
    * results instead of ten near-copies of the best one (exactly the
    * failure mode a near-dup-heavy web corpus gives plain top-k; RAG and
    * hard-negative mining both want this surface).
    *
    * Scale split: the corpus-sized stage is the candidate pull — exact
    * top-`poolSize` on the floor-4dp integer cosine surface (TakeOrdered,
    * any retriever could stand in) — and the greedy phase then runs on
    * the COLLECTED pool (`poolSize` rows with vectors: bounded plan-time
    * data, the IVF-codebook collect class; the selection is inherently
    * sequential in k and touches k·poolSize pairs). All scoring exact
    * integer: mmr = lambdaBp·rel4 − (10000−lambdaBp)·maxSim4, ties to the
    * smaller vec_id — an external engine reproduces the whole selection
    * by unrolling k steps.
    */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, poolSize: Int = 50, lambdaBp: Int = 7000): DataFrame = {
    require(k >= 1 && poolSize >= k, "need poolSize >= k >= 1")
    require(lambdaBp >= 0 && lambdaBp <= 10000, "lambdaBp is basis points")
    val spark = emb.sparkSession
    val q = emb.filter(Keys.id(emb, idCol) === queryId)
      .select(col(vecCol).as("qv"))
    val pool = emb.filter(Keys.id(emb, idCol) =!= queryId)
      .filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(q))
      .select(Keys.id(emb, idCol).as("vec_id"),
        GraftFunctions.cos4(col(vecCol), col("qv")).cast("long").as("rel4"),
        col(vecCol).as("v"))
      .orderBy(col("rel4").desc, col("vec_id").asc)
      .limit(poolSize)
      .collect() // poolSize rows incl. vectors — bounded sidecar
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val lam = lambdaBp.toLong; val mu = 10000L - lambdaBp
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var remaining = pool
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel4, v) =>
        val maxSim = if (chosen.isEmpty) 0L
          else chosen.map { case (_, sv) => cos4Ref(v, sv) }.max
        (lam * rel4 - mu * maxSim, id, rel4, v)
      }
      val best = scored.minBy { case (s, id, _, _) => (-s, id) }
      selected += ((rank, best._2, best._3, best._1))
      chosen += ((best._2, best._4))
      remaining = remaining.filterNot(_._1 == best._2)
      rank += 1
    }
    import spark.implicits._
    selected.toSeq.toDF("rank", "vec_id", "rel4", "mmr")
  }

  /** [[mmrTopK]] for a QUERIES DataFrame (query_id, query vector) — the
    * batch workload shape (the pqTopKBatch convention): every query's
    * candidate pool ranks in ONE plan (broadcast queries × corpus scan,
    * per-query WindowGroupLimit to poolSize), then the collected
    * |queries|·poolSize rows (bounded plan-time data) run the greedy
    * phase per query. Queries are an independent frame here — a query
    * vector drawn from the corpus keeps its self-match at rel 1.0
    * (callers filter), unlike the single-query form's id exclusion.
    */
  def mmrTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, poolSize: Int = 50, lambdaBp: Int = 7000): DataFrame = {
    require(k >= 1 && poolSize >= k, "need poolSize >= k >= 1")
    require(lambdaBp >= 0 && lambdaBp <= 10000, "lambdaBp is basis points")
    val spark = emb.sparkSession
    // query_id is surfaced as STRING (r10 ADVICE): the greedy phase reads
    // the collected pool generically, so a bigint/int query id is cast here
    // instead of throwing ClassCastException at collect time
    val q = queries.select(col(queryIdCol).cast("string").as("query_id"),
      col(queryVecCol).as("qv"))
    val scored = emb.filter(col(vecCol).isNotNull)
      .select(Keys.id(emb, idCol).as("vec_id"), col(vecCol).as("v"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cos4(col("v"), col("qv")).cast("long").as("rel4"),
        col("v"))
    val pools = Rank.topK(scored, Seq("query_id"),
        Seq(col("rel4").desc, col("vec_id")), poolSize, "rn")
      .collect() // |queries|·poolSize rows — bounded sidecar
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Float](3).toArray))
      .groupBy(_._1)
    val lam = lambdaBp.toLong; val mu = 10000L - lambdaBp
    val out = pools.toSeq.sortBy(_._1).flatMap { case (qid, rows) =>
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      var remaining = rows.map { case (_, id, rel4, v) => (id, rel4, v) }
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(String, Int, Long, Long, Long)]
      var rank = 1
      while (rank <= k && remaining.nonEmpty) {
        val best = remaining.map { case (id, rel4, v) =>
          val maxSim = if (chosen.isEmpty) 0L
            else chosen.map(sv => cos4Ref(v, sv)).max
          (lam * rel4 - mu * maxSim, id, rel4, v)
        }.minBy { case (s, id, _, _) => (-s, id) }
        sel += ((qid, rank, best._2, best._3, best._1))
        chosen += best._4
        remaining = remaining.filterNot(_._1 == best._2)
        rank += 1
      }
      sel
    }
    import spark.implicits._
    out.toDF("query_id", "rank", "vec_id", "rel4", "mmr")
  }

  /** Radius (range) search over a materialized [[ivfWrite]] index: return
    * EVERY vector in the probed cells whose floor-quantized cosine to the
    * query reaches `minCos` — the "all near-duplicates of this item" query
    * shape (dedup candidate pull, recall audits), where top-k's fixed k
    * either truncates a dense neighborhood or pads a sparse one. The query
    * vector itself (if indexed) comes back at cos 1.0 — callers filter.
    *
    * Probe-cell choice runs in the SAME quantized-integer space the index
    * was built in ([[Semantic.assignCells]]'s floor(x·1e6 + 0.5) grid), so
    * the pick is exact-integer (order-free sums, ties by (dist, cell)) and
    * an external engine reproduces it bit-for-bit — unlike [[ivfProbe]]'s
    * double-distance pick, which predates the exact-integer discipline and
    * stays for the top-k path. Candidate scoring reuses the codegen'd
    * cosine + floor-4dp surface q_sim_topk proved hash-portable. Scale:
    * a probe reads ~nprobe/nlist of the index via directory pruning; the
    * output is whatever clears the radius — no global sort, no limit.
    */
  def ivfRange(spark: SparkSession, dir: String, queryVec: Array[Float],
      minCos: Double, nprobe: Int = 4): DataFrame = {
    val idx = spark.read.parquet(dir)
    def q6(x: Float): Long = math.floor(x.toDouble * 1000000.0 + 0.5).toLong
    val probeCells = spark.read.parquet(s"$dir.seeds")
      .select(col("cell"), col("v"))
      .collect()
      .map { r =>
        val s = r.getSeq[Float](1)
        val d = s.zip(queryVec).map { case (x, y) =>
          val dx = q6(x) - q6(y); dx * dx
        }.sum
        (r.getLong(0), d)
      }
      .sortBy { case (cell, d) => (d, cell) }
      .take(nprobe).map(_._1)
    val qLit = array(queryVec.map(x => lit(x)): _*)
    idx.filter(col("cell").isin(probeCells: _*))
      .select(col("vec_id"),
        (GraftFunctions.cos4(col("v"), qLit).cast("double") / 10000.0).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Materialize an IVF+PQ index — the billion-scale ANN layout (Jégou et
    * al. 2011 §V, the IVFADC system): vectors live in the [[ivfWrite]]
    * cell-partitioned directory structure but each partition stores PQ CODES
    * (m small ints, from [[Semantic.pqEncode]]'s exact-integer codebook), not
    * raw floats — so a probe reads ~nprobe/nlist × m bytes per vector, the
    * compounding of IVF's partition pruning with PQ's compression. Sidecars:
    * `dir.cells` holds the nlist quantized coarse seeds (probe cell
    * selection without scanning the index), `dir.codebook` the ksub ranked
    * quantized PQ seeds (LUT construction). Both quantizers use the
    * deterministic md5-seed draw, so rebuild/append is consistent and every
    * probe is reproducible by an external SQL engine bit-for-bit.
    *
    * Scale shape: both seed sets are collected (nlist + ksub rows), then the
    * PQ codes and the coarse cell of every vector come out of ONE compiled
    * projection over the quantized rows — no pair stream, no vec_id
    * aggregate, no join of codes to cells — followed by the cell-clustered
    * partitioned write.
    */
  def ivfPqWrite(emb: DataFrame, idCol: String, vecCol: String, dir: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16): Unit = {
    val p0 = Semantic.pqParts(emb, idCol, vecCol, m, ksub)
    // the quantized vectors feed the encode + assign projection, both seed
    // draws and the .cells sidecar; unpinned they would re-scan +
    // re-quantize the source each time
    Par.pinned(p0.vecs) { vecs =>
      val p = p0.copy(vecs = vecs)
      val draw = Semantic.seedDraw(p.vecs, nlist)
      val cells = Seeds.collect(draw, "vec_id", "qv")
      val rows = Semantic.withCell(p.vecs, cells)
        .select(col("vec_id"), Semantic.codesOf(p).as("codes"), col("cell"))
      // the index and its two sidecars are independent outputs — overlap
      // them (guide §2.6: independent output jobs from a small pool;
      // disjoint paths)
      Par.inParallel(
        // hash-cluster by cell before the write (the ivfWrite rationale)
        () => rows.repartition(col("cell"))
          .write.partitionBy("cell").mode("overwrite").parquet(dir),
        // coarse-seed sidecar: the drawn seeds that anchor their own cell
        // (a seed whose twin has a smaller id anchors none), keyed by that
        // cell (a vec_id filter over the partitioned index would touch every
        // cell directory — the ivfWrite.seeds reasoning)
        () => Semantic.anchors(draw, cells)
          .select(col("vec_id").as("cell"), col("qv"))
          .repartition(1) // nlist rows, read whole by every probe: one file
          .write.mode("overwrite").parquet(s"$dir.cells"),
        // PQ-codebook sidecar: ksub ranked quantized seeds + the subspace
        // count (m rides along so a probe needs no out-of-band metadata)
        () => p.seeds.select(col("r"), col("sv"), lit(p.m).as("m"))
          .write.mode("overwrite").parquet(s"$dir.codebook"))
    }
  }

  /** Probe a materialized IVF+PQ index: coarse-seed distances (nlist sidecar
    * rows, driver-side — plan-time metadata) pick the `nprobe` cells, the
    * ksub-row codebook sidecar builds the query's m × ksub LUT of EXACT
    * integer subspace distances, and the scan — partition-pruned to the probe
    * cells, reading only the m-code column — scores each row with one
    * compiled ADC pass against the literal LUT. I/O per probe: nprobe/nlist of the
    * index's m bytes/vector. With nprobe >= nlist the result equals
    * [[Semantic.pqTopK]] exactly (full probe ⇒ no IVF recall loss), and with
    * nprobe < nlist it is STILL deterministic — cell choice is exact integer
    * argsort, ties on cell id — so even partial probes hash-match an external
    * SQL oracle, unlike float-kmeans IVF.
    *
    * `excludeId` drops one corpus row from the ranking (the self-match when
    * the query vector came from the indexed corpus, [[Semantic.pqTopK]]'s
    * `=!= queryId` convention).
    */
  def ivfPqProbe(spark: SparkSession, dir: String, queryVec: Array[Float],
      k: Int, nprobe: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // the probe-side quantization MUST mirror Semantic.quantized:
    // floor(x·1e6 + 0.5) on the widened double (Spark's floor yields BIGINT,
    // so the sidecar arrays are long — the driver arithmetic stays in Long,
    // the same exact integers the in-plan double sums hold)
    val qq = queryVec.map(x => math.floor(x.toDouble * 1000000.0 + 0.5).toLong)
    val probeCells = spark.read.parquet(s"$dir.cells").collect()
      .map { r =>
        val sv = r.getSeq[Long](r.fieldIndex("qv"))
        var d = 0L; var i = 0
        while (i < qq.length) { val t = qq(i) - sv(i); d += t * t; i += 1 }
        (r.getLong(r.fieldIndex("cell")), d)
      }
      .sortBy { case (cell, d) => (d, cell) }
      .take(nprobe).map(_._1)
    val cb = spark.read.parquet(s"$dir.codebook").collect()
    require(cb.nonEmpty, s"$dir.codebook is empty — not an ivfPqWrite index")
    val m = cb.head.getAs[Int]("m")
    require(qq.length % m == 0,
      s"query dim ${qq.length} does not divide the index's m=$m subspaces")
    val dsub = qq.length / m
    // the single query's LUT, flattened j-major into one literal array —
    // Semantic.queryLuts' layout (lut[j·ksub + r]) built driver-side from
    // the already-collected sidecar rows; scoring is then one codegen'd
    // array pass per probed row instead of explode + LUT join + re-aggregate
    val ksub = cb.length
    val flat = new Array[Long](m * ksub)
    cb.foreach { row =>
      val r = row.getAs[Int]("r")
      val sv = row.getSeq[Long](row.fieldIndex("sv"))
      (0 until m).foreach { j =>
        var d = 0L; var i = j * dsub
        while (i < (j + 1) * dsub) { val t = qq(i) - sv(i); d += t * t; i += 1 }
        flat(j * ksub + r) = d
      }
    }
    val idx = dropTombstoned(spark, dir, spark.read.parquet(dir)
      .filter(col("cell").isin(probeCells.toSeq: _*)))
    val base = excludeId.fold(idx)(id => idx.filter(col("vec_id") =!= id))
    base
      // double literals to match queryLuts' element type (exact: every
      // entry is an integer below 2^53)
      .withColumn("lut", array(flat.toSeq.map(d => lit(d.toDouble)): _*))
      .withColumn("ks", lit(ksub))
      .select(col("vec_id"), Semantic.adcDist(m).as("adist"))
      .orderBy(col("adist").asc_nulls_last, col("vec_id").asc)
      .limit(k)
      .filter(col("adist").isNotNull)
  }

  /** Append new vectors to an existing IVF+PQ index — the incremental-ingest
    * half of index maintenance: encode against the index's FROZEN PQ
    * codebook and assign against its FROZEN coarse seeds (both read from the
    * sidecars ivfPqWrite left), then append the (vec_id, code, cell) rows
    * into the cell-partitioned layout. Freezing is not an optimization but a
    * correctness requirement — codes are only meaningful to the LUTs of the
    * codebook they were quantized with, and cells must stay stable or probes
    * would miss history (the [[Semantic.semanticState]] convention; re-seed
    * = full [[ivfPqWrite]] rebuild). Appended ids are assumed disjoint from
    * the index's (re-ingestion dedupes upstream, as everywhere).
    *
    * Scale shape: two collected sidecars (ksub-row codebook, nlist-row
    * cells), one narrow compiled encode+assign projection, one partitioned
    * append — ingesting a batch
    * touches no existing data file. Probes are oblivious to how many appends
    * built the index, and stay hash-oracle-able: an external engine
    * reproduces seed draw (over the ORIGINAL corpus), encoding, and ADC for
    * the union corpus identically.
    */
  def ivfPqAppend(spark: SparkSession, newEmb: DataFrame, idCol: String,
      vecCol: String, dir: String): Unit = {
    val cb = spark.read.parquet(s"$dir.codebook")
    val mRow = cb.select("m").limit(1).collect()
    require(mRow.nonEmpty, s"$dir.codebook is empty — not an ivfPqWrite index")
    val m = mRow.head.getInt(0)
    // a tombstoned id silently disappears behind its tombstone — refuse the
    // re-add until ivfPqCompact purges (rare path: one count only when a
    // deletion has ever run against this index)
    tombstonesOf(spark, dir).foreach { t =>
      val clash = newEmb.select(Keys.id(newEmb, idCol).as("vec_id"))
        .join(t, "vec_id").limit(1).count()
      require(clash == 0L,
        s"batch re-appends tombstoned vec_ids — run ivfPqCompact($dir) to " +
          "purge deletions first")
    }
    val p = Semantic.pqPartsFrozen(newEmb, idCol, vecCol, cb, m)
    val cells = Seeds.collect(spark.read.parquet(s"$dir.cells"), "cell", "qv")
    Semantic.withCell(p.vecs, cells)
      .select(col("vec_id"), Semantic.codesOf(p).as("codes"), col("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("append").parquet(dir)
  }

  /** Retire vectors from a materialized IVF / IVF+PQ index — the takedown /
    * recrawl-retraction form (VERDICT r9 missing #2). Deletion is a
    * TOMBSTONE, not a rewrite: the vec_ids land in the `<dir>.tombstones`
    * sidecar and every probe anti-joins it before ranking, so no index file
    * is touched — O(|deleted|) work regardless of index size. Nothing else
    * needs maintenance: the cells/codebook sidecars are frozen SEED draws
    * (geometry, not membership — a deleted vector's cell remains a valid
    * partition anchor), and ADC/IVF ranking carries no corpus statistics,
    * so probe(build + delete) ≡ probe(one-shot build on survivors) exactly.
    * [[ivfPqCompact]] purges tombstoned rows physically and clears the
    * sidecar; a tombstoned id must NOT be re-appended before that purge
    * ([[ivfPqAppend]] refuses) — the tombstone would silently hide it.
    */
  def ivfPqDelete(ids: DataFrame, idCol: String, dir: String): Unit =
    ids.select(Keys.id(ids, idCol).as("vec_id")).distinct()
      .write.mode("append").parquet(s"$dir.tombstones")

  private def tombstonesOf(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir.tombstones")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(s"$dir.tombstones")) else None
  }

  /** Apply the retirement filter to an index scan: anti-join the (small)
    * tombstone sidecar on vec_id — placed AFTER the cell-pruning join so
    * partition pruning / DPP on the scan is untouched. No-op when no
    * deletion has ever run.
    */
  private def dropTombstoned(spark: SparkSession, dir: String,
      idx: DataFrame): DataFrame =
    tombstonesOf(spark, dir).fold(idx)(t =>
      idx.join(t, Seq("vec_id"), "left_anti"))

  /** Compact an IVF+PQ index in place: every [[ivfPqAppend]] adds files to
    * the cell directories, and a probe's cost is (files opened) as much as
    * (bytes read) once appends accumulate — the standard LSM-ish decay of
    * any append-friendly layout. Compaction rewrites the index with each
    * cell's rows hash-routed to ONE task (repartition on the cell key +
    * partitionBy writer ⇒ one file per cell), into a sibling directory that
    * is atomically swapped in via rename — Spark refuses to overwrite a path
    * it is reading, and the swap means a crash mid-compact leaves the live
    * index untouched. Content (vec_id, codes, cell) is bit-identical;
    * sidecars are not touched (codebooks don't change shape under
    * compaction).
    */
  def ivfPqCompact(spark: SparkSession, dir: String): Unit = {
    val tmp = s"$dir.compacting"
    // compaction is also the PHYSICAL purge point for ivfPqDelete's
    // tombstones: rewrite only surviving rows, then clear the sidecar
    dropTombstoned(spark, dir, spark.read.parquet(dir))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmp)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.catalog.Swap.replace(fs, new org.apache.hadoop.fs.Path(tmp), p,
      new org.apache.hadoop.fs.Path(s"$dir.old"))()
    // tombstoned rows are now physically gone; a stale sidecar would hide
    // any future re-append of the same ids
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir.tombstones"), true)
  }

  /** Two-stage retrieval over a materialized IVF+PQ index — the standard
    * IVFADC + refinement pipeline (Jégou et al. 2011 §V-C): stage one ranks
    * the probed cells' codes by ADC and keeps the `topN` candidates
    * (compressed domain — nprobe/nlist × m bytes/vector I/O); stage two
    * joins ONLY those topN ids back to the raw corpus and re-ranks them by
    * the EXACT quantized squared-L2 to the query, returning the top `k`.
    * The join is the point at scale: full-precision vectors are fetched for
    * topN rows (an id equality join the candidate side of which is topN
    * rows, hence broadcast), never for the corpus — ADC absorbs the scan,
    * refinement fixes ADC's quantization error on the short list. Both
    * stages are exact-integer ([[Semantic.quantized]] floor-scale, long
    * sums under the magnitude guard's 2^53 bound), so even partial probes
    * hash-match an external SQL oracle. Output: (vec_id, adist, edist) —
    * both stages' scores, ordered by (edist, vec_id).
    */
  def ivfPqRerank(spark: SparkSession, dir: String, emb: DataFrame,
      idCol: String, vecCol: String, queryVec: Array[Float], k: Int,
      topN: Int, nprobe: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    require(k <= topN, s"k=$k must not exceed the candidate budget topN=$topN")
    val cand = ivfPqProbe(spark, dir, queryVec, topN, nprobe, excludeId)
    val qLit = array(queryVec.map(x =>
      lit(math.floor(x.toDouble * 1000000.0 + 0.5).toLong)): _*)
    emb.filter(col(vecCol).isNotNull)
      .select(Keys.id(emb, idCol).as("vec_id"),
        Semantic.quantized(vecCol).as("qv"))
      .join(broadcast(cand), "vec_id")
      .select(col("vec_id"), col("adist"),
        GraftFunctions.l2sq(col("qv"), qLit).cast("long").as("edist"))
      .orderBy(col("edist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch-query probe of a materialized IVF+PQ index — [[ivfPqProbe]]
    * generalized from one driver-side query vector to a QUERIES DataFrame,
    * completing the retrieval-pipeline pair with [[Semantic.pqTopKBatch]]:
    * millions of query rows against one index, k nearest per query, in ONE
    * declarative plan with no per-query job loop. Returns
    * (query_id, vec_id, adist); rows whose vec_id equals the query's id are
    * excluded (the self-match convention).
    *
    * Every stage moves IN-PLAN what the single-query form did on the driver,
    * in the same exact-integer arithmetic, so the batch form stays
    * hash-oracle-able even at nprobe < nlist:
    *  - cell selection: queries × broadcast cells sidecar (nlist rows),
    *    integer squared-L2, per-query top-nprobe window (ties on cell id);
    *  - LUTs: one compiled projection of the queries against the collected
    *    codebook sidecar (ksub rows), the [[Semantic.pqParts]] subspace
    *    formula verbatim ([[Semantic.queryLuts]]);
    *  - scan: index ⋈ probe pairs on the cell PARTITION key — Spark's
    *    dynamic partition pruning keeps unprobed cell directories unread
    *    (the nprobe/nlist × m bytes/vector I/O claim, now for the UNION of
    *    the batch's probe cells), then the broadcast LUT row joins on the
    *    query id, one compiled ADC pass per (query, vector) pair, one
    *    per-query top-k window (WindowGroupLimit).
    *
    * Driver-side reads: the codebook (ksub rows) and one query row (dim) —
    * plan-time metadata, the [[Semantic.pqParts]] convention.
    */
  def ivfPqProbeBatch(spark: SparkSession, dir: String, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val cb = spark.read.parquet(s"$dir.codebook")
    val mRow = cb.select("m").limit(1).collect()
    require(mRow.nonEmpty, s"$dir.codebook is empty — not an ivfPqWrite index")
    val m = mRow.head.getInt(0)
    val qv = queries.filter(col(qVecCol).isNotNull)
      .select(Keys.id(queries, qIdCol).as("query_id"),
        Semantic.quantized(qVecCol).as("qv"))
    val dim = qv.select(size(col("qv"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException("no non-null query vectors"))
    require(dim % m == 0,
      s"query dim $dim does not divide the index's m=$m subspaces")
    val dsub = dim / m
    val cells = spark.read.parquet(s"$dir.cells")
      .select(col("cell"), col("qv").as("cv"))
    val probe = Rank.topK(qv.crossJoin(broadcast(cells))
        .select(col("query_id"), col("cell"),
          GraftFunctions.l2sq(col("qv"), col("cv")).as("cd")),
        Seq("query_id"), Seq(col("cd").asc, col("cell").asc), nprobe, "__rn")
      .select("query_id", "cell")
    // one flattened LUT row per query (Semantic.queryLuts — the same
    // subspace arithmetic as the index build), broadcast-joined to the
    // DPP-pruned pair stream; scoring is one compiled array pass per
    // (query, vector) pair — no m-way explode, no (|Q|·m·ksub)-row LUT
    // join, no (query_id, vec_id) re-aggregate exchange
    val luts = Semantic.queryLuts(qv, Seeds.collect(cb, "r", "sv"), m, dsub)
    val scored = dropTombstoned(spark, dir, spark.read.parquet(dir).join(probe, "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(luts), col("query_id") === col("lqid"))
      .select(col("query_id"), col("vec_id"), Semantic.adcDist(m).as("adist"))
    Rank.topK(scored, Seq("query_id"),
        Seq(col("adist").asc_nulls_last, col("vec_id").asc), k, "__rn")
      .filter(col("adist").isNotNull)
      .select("query_id", "vec_id", "adist")
  }

  /** Batch-query two-stage retrieval — [[ivfPqRerank]] generalized from one
    * driver-side query vector to a QUERIES DataFrame, completing the
    * batch-form pair with [[ivfPqProbeBatch]]: stage one keeps each query's
    * `topN` ADC candidates from its probed cells (compressed domain — the
    * DPP-pruned scan reads nprobe/nlist × m bytes/vector for the union of
    * probe cells); stage two joins ONLY those |Q|·topN (query, candidate)
    * pairs back to the raw corpus by vec_id and re-ranks each query's list by
    * exact quantized squared-L2, keeping top `k`.
    *
    * The refinement join is keyed on vec_id with NO forced broadcast: when
    * the shortlist is small relative to the corpus AQE broadcasts it and the
    * full-precision side stays unshuffled; when a huge query batch makes
    * |Q|·topN itself large, the join degrades to a keyed shuffle of the
    * (vec_id, vector) projection — never a corpus-wide fetch per query.
    * Both stages exact-integer under the magnitude guard, so the batch
    * composition hash-matches a SQL oracle even at partial probes. Output:
    * (query_id, vec_id, adist, edist), k rows per query, the per-query
    * ordering pinned by (edist, vec_id).
    */
  def ivfPqRerankBatch(spark: SparkSession, dir: String, queries: DataFrame,
      qIdCol: String, qVecCol: String, emb: DataFrame, idCol: String,
      vecCol: String, k: Int, topN: Int, nprobe: Int = 4): DataFrame = {
    require(k <= topN, s"k=$k must not exceed the candidate budget topN=$topN")
    val cand = ivfPqProbeBatch(spark, dir, queries, qIdCol, qVecCol, topN, nprobe)
    val qv = queries.filter(col(qVecCol).isNotNull)
      .select(Keys.id(queries, qIdCol).as("query_id"),
        Semantic.quantized(qVecCol).as("qqv"))
    val scored = emb.filter(col(vecCol).isNotNull)
      .select(Keys.id(emb, idCol).as("vec_id"),
        Semantic.quantized(vecCol).as("qv"))
      .join(cand, "vec_id")
      .join(qv, "query_id")
      .select(col("query_id"), col("vec_id"), col("adist"),
        GraftFunctions.l2sq(col("qv"), col("qqv")).cast("long").as("edist"))
    Rank.topK(scored, Seq("query_id"), Seq(col("edist").asc, col("vec_id").asc),
        k, "__rn")
      .select("query_id", "vec_id", "adist", "edist")
  }

  /** Approximate top-k: LSH multi-table bucketing, exact re-rank of candidates. */
  def annTopK(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, tables: Int = 8, bitsPerTable: Int = 8): DataFrame = {
    val numBits = tables * bitsPerTable
    require(numBits <= 64, "tables * bitsPerTable must fit in 64 bits")
    GraftFunctions.registerRhBits(spark, numBits, seed = 7L)

    val sigd = emb.select(Keys.id(emb, idCol).as("vec_id"), col(vecCol).as("v"),
      GraftFunctions.rhBits(col(vecCol), numBits, 7L).as("sig"))
    val tableCols = (0 until tables).map { t =>
      struct(lit(t).as("t"),
        shiftright(col("sig"), t * bitsPerTable)
          .bitwiseAND(lit((1L << bitsPerTable) - 1)).as("bucket"))
    }
    val buckets = sigd
      .select(col("vec_id"), col("v"), explode(array(tableCols: _*)).as("b"))
      .select(col("vec_id"), col("v"), col("b.t").as("t"), col("b.bucket").as("bucket"))

    val qb = buckets.filter(col("vec_id") === queryId)
      .select(col("t"), col("bucket"), col("v").as("qv"))
    buckets.filter(col("vec_id") =!= queryId)
      .join(broadcast(qb), Seq("t", "bucket"))
      .select(col("vec_id"),
        (GraftFunctions.cos4(col("v"), col("qv")).cast("double") / 10000.0).as("cos"))
      .groupBy("vec_id").agg(max("cos").as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }
}
