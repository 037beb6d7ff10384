package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup, FuzzyJoin, Links, Pipelines, Semantic, States, TextAnalysis, Urls}
import graft.sources.{Multimodal, Tables, Warc}

/** Engine-internal DIFFERENTIAL checks for the sf1-oracle-infeasible queries
  * (r11 VERDICT ask #4): twelve corpus queries have no DuckDB signal at sf1
  * because their oracle restatement is brute-force/unrolled (quadratic pair
  * oracles over the 10-clone flood, unrolled CTE chains, 74 GB spills) —
  * the ENGINE runs them fine, but nothing cross-checked the answers at 10×
  * data. This main closes that: each query runs TWICE, once as shipped
  * (plan A = the SparkEntry.queries entry) and once through an INDEPENDENT
  * second shape (plan B), and the canonicalized results are hash-compared
  * in-engine. A scale-sensitive divergence of the r11 classes (state
  * recompute-on-append, order dependence, phantom cells) breaks the pair.
  *
  * The second shapes, by independence class:
  *  - different ALGORITHM: fuzzy joins re-run under PassJoin segment
  *    blocking instead of deletion neighborhoods (both exact at any k);
  *    cross-table link restated as a tagged-union self-join;
  *  - different PLAN SURFACE: the image-dedup family restated through the
  *    materialized PAIR surface (hammingPairs + clusters) instead of the
  *    clique-free clusters-on-distinct path; near-dedup via
  *    clusters∘minHashLshPairs instead of minHashClusters;
  *  - operator-vs-restated-SQL: as-of tolerance against the window-rank
  *    left join (the DuckDB oracle's shape, run in Spark);
  *  - INVARIANT forms: LPA resume(3)+2 vs cold 5; pq batch vs two disjoint
  *    half-batches unioned (per-query independence); the e2e chain with
  *    parquet-materialized stage boundaries; the 3-round crawl lifecycle
  *    with ZERO compactions (compaction read-invariance) in its own state
  *    dirs.
  *
  * Usage: runMain graft.DifferentialSf1 <sfDir> [onlyName1,onlyName2]
  * Prints one JSON line per query: {"q":..., "rows_a":..., "rows_b":...,
  * "match":true|false} and a trailing summary line. Plan A runs first —
  * the two e2e alternates re-read the GWARC fixtures plan A wrote.
  */
object DifferentialSf1 {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Order-insensitive exact digest: columns sorted by name, every value
    * cast to string (exact for the integer/string/date surfaces these
    * queries emit; stored doubles round-trip exactly), row hash summed as
    * DECIMAL so ANSI mode cannot overflow.
    */
  private def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val h = df.select(xxhash64(cols.map(n =>
      coalesce(col(n).cast("string"), lit("\u0000NULL"))): _*).as("h"))
    val r = h.agg(count(lit(1)).as("n"),
      sum(col("h").cast("decimal(38,0)")).as("s")).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  /** The twelve second shapes, keyed by the SparkEntry.queries name. */
  private def alternates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // deletion neighborhoods (plan A) vs PassJoin segment blocking — both
    // exact at any k (pairsWithinScheme scaladoc)
    "q_fuzzy_join" -> ((s, d) =>
      FuzzyJoin.pairsWithinScheme(t(s, d, "customer"), "c_custkey", "c_name",
        k = 1, forceSegments = true)),

    "q_fuzzy_join2" -> ((s, d) =>
      FuzzyJoin.pairsWithinScheme(t(s, d, "customer"), "c_custkey", "c_name",
        k = 2, forceSegments = true)),

    // cross-table link restated as a tagged-union SELF-join under segment
    // blocking: dirty ids offset, pairs crossing the tag boundary remapped
    "q_fuzzy_link" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val dirty = cust.select(col("c_custkey").as("d_id"),
        expr("concat(substring(c_name, 1, cast(c_custkey % 10 as int) + 6), " +
          "substring(c_name, cast(c_custkey % 10 as int) + 8, length(c_name)))")
          .as("d_name"))
      val off = 1000000000000L
      val union = dirty.select((col("d_id") + off).as("id"), col("d_name").as("s"))
        .unionByName(cust.select(col("c_custkey").as("id"), col("c_name").as("s")))
      FuzzyJoin.pairsWithinScheme(union, "id", "s", k = 1, forceSegments = true)
        .filter((col("id_a") < off) =!= (col("id_b") < off))
        .select((col("id_b") - off).as("left_id"), col("id_a").as("right_id"),
          col("dist"))
    }),

    // clusters-on-distinct (plan A) vs the materialized pair surface
    "q_image_dedup" -> ((s, d) => {
      val hashes = Multimodal.imageHash(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")).cache()
      val pairs = Dedup.hammingPairs(hashes, "doc_id", "phash",
        maxHamming = 8, maxBucket = Int.MaxValue)
      val drop = Dedup.clusters(pairs.select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      hashes.join(drop, Seq("doc_id"), "left_anti").select("doc_id")
    }),

    "q_image_dedup_incremental" -> ((s, d) => {
      val hashes = Multimodal.imageHash(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")).cache()
      val state = Dedup.hammingState(
        hashes.filter(col("doc_id") < 250), "doc_id", "phash", maxHamming = 8)
      hammingIncrementalViaPairs(hashes.filter(col("doc_id") >= 250), state)
    }),

    "q_image_dedup_retract" -> ((s, d) => {
      val hashes = Multimodal.imageHash(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")).cache()
      val state = Dedup.hammingRetract(
        Dedup.hammingState(hashes.filter(col("doc_id") < 250), "doc_id",
          "phash", maxHamming = 8),
        hashes.filter(col("doc_id") >= 100 && col("doc_id") < 250),
        "doc_id", "phash")
      hammingIncrementalViaPairs(hashes.filter(col("doc_id") >= 100), state)
    }),

    // minHashClusters (plan A) vs clusters∘minHashLshPairs — the provably
    // identical pair-path composition (dedupNear scaladoc)
    "q_pipeline_neardedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, numPerm = 32, bands = 8, threshold = 0.8)
      val members = Dedup.clusters(pairs.select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      docs.select(col("doc_id")).join(members, Seq("doc_id"), "left_anti")
    }),

    // resume(3) + 2 (plan A) vs cold 5 — the resume-equivalence invariant
    "q_lpa_resume" -> ((s, d) => {
      val links = Links.extractLinks(
        graft.queries.ExtensionQueries.linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")
      Links.labelPropagate(Links.hostEdges(links), iters = 5)
    }),

    // AsOfJoin operator (plan A) vs the window-rank left join — the DuckDB
    // oracle's shape, run in Spark over the same µs-read tables
    "q_asof_tolerance" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""WITH m AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
        |  row_number() OVER (PARTITION BY e.event_id
        |    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
        |    AND unix_micros(e.ts) - unix_micros(CAST(o.o_orderdate AS TIMESTAMP))
        |        <= 2592000000000)
        |SELECT event_id, user_id, o_orderkey, o_totalprice FROM m
        |WHERE rn = 1""".stripMargin)
    }),

    // one batch (plan A) vs two disjoint half-batches unioned: per-query
    // results are independent of the rest of the batch by contract
    "q_pq_topk_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      def half(m: Long) = Semantic.pqTopKBatch(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 200 === m), "vec_id", "embedding",
        k = 10, m = 8, ksub = 16)
      half(0L).unionByName(half(100L))
    }),

    // the chained e2e plan (plan A) vs parquet-materialized stage
    // boundaries over the SAME GWARC bytes plan A wrote
    "q_pipeline_e2e" -> ((s, d) => {
      val sfn = new java.io.File(d).getName
      val recs = Warc.read(s, s"target/gwarc_${sfn}_e2e")
        .filter(col("html").isNotNull)
      def mat(df: DataFrame, name: String): DataFrame = {
        val p = s"target/diff_${sfn}_e2e_$name"
        df.write.mode("overwrite").parquet(p)
        s.read.parquet(p)
      }
      val kept = mat(Urls.urlDedup(recs, "record_id", "url")
        .select(col("doc_id").as("record_id")), "kept")
      val gated = mat(TextAnalysis.htmlExtract(
          recs.join(kept, "record_id"), "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text")), "gated")
      val clean = gated.join(Dedup.exact(gated, "doc_id", "text"), "doc_id")
      val domained = mat(clean.join(
        recs.select(col("record_id").as("doc_id"),
          Urls.hostOf(col("url")).as("domain")), "doc_id"), "domained")
      val budgeted = mat(Pipelines.tokenBudgetSample(domained, "doc_id",
        "text", "domain", budgets = Map.empty, defaultBudget = 3000L), "budgeted")
      Pipelines.packSequences(
        domained.join(budgeted.select("doc_id"), "doc_id"),
        "doc_id", "text", maxTokens = 512, shards = 8)
    }),

    // the 2-round incremental chain with parquet-materialized stage
    // boundaries over the SAME GWARC bytes plan A wrote (the q_pipeline_e2e
    // discipline applied to the incremental form — its chained-CTE DuckDB
    // restatement spills out of disk at sf1)
    "q_pipeline_e2e_incremental" -> ((s, d) => {
      val sfn = new java.io.File(d).getName
      def mat(df: DataFrame, name: String): DataFrame = {
        val p = s"target/diff_${sfn}_e2ei_$name"
        df.write.mode("overwrite").parquet(p)
        s.read.parquet(p)
      }
      val recs0 = Warc.read(s, s"target/gwarc_${sfn}_inc0")
        .filter(col("html").isNotNull)
      val recs1 = Warc.read(s, s"target/gwarc_${sfn}_inc1")
        .filter(col("html").isNotNull)
      // round 0: batch operators establish the four states — each
      // materialized to parquet (plan A holds them in memory/cache)
      val urlSt = mat(Urls.urlState(recs0, "record_id", "url"), "urlst")
      val kept0 = Urls.urlDedup(recs0, "record_id", "url")
        .select(col("doc_id").as("record_id"))
      val g0 = mat(TextAnalysis.htmlExtract(recs0.join(kept0, "record_id"),
          "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text")), "g0")
      val fpSt = mat(TextAnalysis.fingerprint(g0, "doc_id", "text"), "fpst")
      val clean0 = mat(g0.join(Dedup.exact(g0, "doc_id", "text"), "doc_id"), "clean0")
      val contSt = mat(Dedup.containmentState(clean0, "doc_id", "text", n = 3), "contst")
      val dom0 = clean0.join(recs0.select(col("record_id").as("doc_id"),
        Urls.hostOf(col("url")).as("domain")), "doc_id")
      val b0 = Pipelines.tokenBudgetSample(dom0, "doc_id", "text", "domain",
        budgets = Map.empty, defaultBudget = 3000L)
      val spentSt = mat(Pipelines.tokenBudgetState(
        dom0.join(b0.select("doc_id"), "doc_id"), "doc_id", "text", "domain"),
        "spentst")
      // batch N: every incremental form against the materialized states
      val front1 = Urls.urlDedupIncremental(recs1, "record_id", "url", urlSt)
        .select(col("doc_id").as("record_id"))
      val g1 = mat(TextAnalysis.htmlExtract(recs1.join(front1, "record_id"),
          "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text")), "g1")
      val surv1 = g1.join(
        Dedup.exactIncremental(g1, "doc_id", "text", fpSt), "doc_id")
      val kept1 = surv1.join(Dedup.containmentDedupIncremental(surv1,
        "doc_id", "text", contSt, n = 3, threshold = 0.9, minShingles = 5),
        "doc_id")
      val dom1 = kept1.join(recs1.select(col("record_id").as("doc_id"),
        Urls.hostOf(col("url")).as("domain")), "doc_id")
      Pipelines.tokenBudgetIncremental(dom1, "doc_id", "text", "domain",
        spentSt, budgets = Map.empty, defaultBudget = 3000L)
    }),

    // the 3-round lifecycle WITHOUT compactions, own state dirs, same GWARC
    // bytes — compaction read-invariance at sf1 (retractions stay sidecar-
    // applied instead of physically rewritten)
    "q_pipeline_e2e_incremental2" -> ((s, d) => {
      val sfn = new java.io.File(d).getName
      val uDir = s"target/state_${sfn}_e2e2alt_url"
      val fDir = s"target/state_${sfn}_e2e2alt_fp"
      val cDir = s"target/state_${sfn}_e2e2alt_cont"
      val sDir = s"target/state_${sfn}_e2e2alt_spent"
      val budgetMerge: DataFrame => DataFrame =
        _.groupBy("domain").agg(sum("spent_tok").as("spent_tok"))
      def hostsOf(recs: DataFrame) = recs.select(
        col("record_id").as("doc_id"), Urls.hostOf(col("url")).as("domain"))
      // ---- round 0 (same bytes plan A wrote) ----
      val recs0 = Warc.read(s, s"target/gwarc_${sfn}_r3a").cache()
      States.write(Urls.urlState(recs0, "record_id", "url"), uDir)
      val kept0 = Urls.urlDedup(recs0, "record_id", "url")
        .select(col("doc_id").as("record_id"))
      val g0 = TextAnalysis.htmlExtract(recs0.join(kept0, "record_id"),
          "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text")).cache()
      States.write(TextAnalysis.fingerprint(g0, "doc_id", "text"), fDir)
      val clean0 = g0.join(Dedup.exact(g0, "doc_id", "text"), "doc_id").cache()
      States.write(Dedup.containmentState(clean0, "doc_id", "text", n = 3), cDir)
      val dom0 = clean0.join(hostsOf(recs0), "doc_id")
      val b0 = Pipelines.tokenBudgetSample(dom0, "doc_id", "text", "domain",
        budgets = Map.empty, defaultBudget = 3000L)
      val dom0kept = dom0.join(b0.select("doc_id"), "doc_id").cache()
      States.write(
        Pipelines.tokenBudgetState(dom0kept, "doc_id", "text", "domain"), sDir)
      // ---- round 1 (localCheckpoint pins: the read-before-append contract) ----
      val recs1 = Warc.read(s, s"target/gwarc_${sfn}_r3b").cache()
      val front1 = Urls.urlDedupIncremental(recs1, "record_id", "url",
        States.read(s, uDir)).select(col("doc_id").as("record_id"))
      val g1 = TextAnalysis.htmlExtract(recs1.join(front1, "record_id"),
          "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text"))
        .localCheckpoint()
      val surv1 = g1.join(
        Dedup.exactIncremental(g1, "doc_id", "text", States.read(s, fDir)),
        "doc_id")
      val kept1 = surv1.join(Dedup.containmentDedupIncremental(surv1,
        "doc_id", "text", States.read(s, cDir), n = 3, threshold = 0.9,
        minShingles = 5), "doc_id").localCheckpoint()
      val dom1 = kept1.join(hostsOf(recs1), "doc_id")
      val b1 = Pipelines.tokenBudgetIncremental(dom1, "doc_id", "text",
        "domain", States.read(s, sDir, budgetMerge), budgets = Map.empty,
        defaultBudget = 3000L)
      val dom1kept = dom1.join(b1.select("doc_id"), "doc_id").localCheckpoint()
      States.append(Urls.urlState(recs1, "record_id", "url"), uDir)
      States.append(TextAnalysis.fingerprint(g1, "doc_id", "text"), fDir)
      States.append(Dedup.containmentState(kept1, "doc_id", "text", n = 3), cDir)
      States.append(
        Pipelines.tokenBudgetState(dom1kept, "doc_id", "text", "domain"), sDir)
      // ---- takedown: retraction keys derived from the round-0 records
      // (record_id == doc_id in the fixture); NO compaction — the sidecars
      // stay live and round 2 must see the identical state ----
      val retr0 = recs0.filter(col("record_id") % 10 === 1 &&
        col("record_id") < 150)
      States.retract(Urls.urlState(retr0, "record_id", "url"), uDir)
      States.retract(TextAnalysis.fingerprint(
        g0.filter(col("doc_id") % 10 === 1), "doc_id", "text").select("fp"),
        fDir)
      States.retract(
        retr0.select(col("record_id").cast("long").as("doc_id")), cDir)
      States.append(
        Pipelines.tokenBudgetState(
          dom0kept.filter(col("doc_id") % 10 === 1), "doc_id", "text", "domain")
          .select(col("domain"), (-col("spent_tok")).as("spent_tok")), sDir)
      // ---- round 2 against the UNCOMPACTED states ----
      val recs2 = Warc.read(s, s"target/gwarc_${sfn}_r3c").cache()
      val front2 = Urls.urlDedupIncremental(recs2, "record_id", "url",
        States.read(s, uDir)).select(col("doc_id").as("record_id"))
      val g2 = TextAnalysis.htmlExtract(recs2.join(front2, "record_id"),
          "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text")).cache()
      val surv2 = g2.join(
        Dedup.exactIncremental(g2, "doc_id", "text", States.read(s, fDir)),
        "doc_id")
      val kept2 = surv2.join(Dedup.containmentDedupIncremental(surv2,
        "doc_id", "text", States.read(s, cDir), n = 3, threshold = 0.9,
        minShingles = 5), "doc_id")
      val dom2 = kept2.join(hostsOf(recs2), "doc_id")
      Pipelines.tokenBudgetIncremental(dom2, "doc_id", "text", "domain",
        States.read(s, sDir, budgetMerge), budgets = Map.empty,
        defaultBudget = 3000L)
    })
  )

  /** [[Dedup.hammingIncremental]] restated through the pair surface: state
    * fingerprints become pseudo-docs above an id offset, one hammingPairs
    * run over the union yields both the state hits (cross pairs) and the
    * within-batch structure (batch-batch pairs among the fresh survivors).
    */
  private def hammingIncrementalViaPairs(batch: DataFrame,
      state: DataFrame): DataFrame = {
    val off = 1000000000000L
    val pseudo = state.select("fp").distinct()
      .select((row_number().over(Window.orderBy(col("fp"))) + off)
        .cast("long").as("doc_id"), col("fp").as("phash"))
    val all = batch.select(col("doc_id"), col("phash")).unionByName(pseudo)
    val pairs = Dedup.hammingPairs(all, "doc_id", "phash",
      maxHamming = 8, maxBucket = Int.MaxValue).localCheckpoint()
    val hit = pairs.filter((col("doc_a") < off) =!= (col("doc_b") < off))
      .select(when(col("doc_a") < off, col("doc_a")).otherwise(col("doc_b"))
        .as("doc_id")).distinct()
    val fresh = batch.select("doc_id")
      .join(hit, Seq("doc_id"), "left_anti")
    val freshPairs = pairs
      .filter(col("doc_a") < off && col("doc_b") < off)
      .join(fresh.select(col("doc_id").as("doc_a")), "doc_a")
      .join(fresh.select(col("doc_id").as("doc_b")), "doc_b")
    val drop = Dedup.clusters(freshPairs.select("doc_a", "doc_b"))
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    fresh.join(drop, Seq("doc_id"), "left_anti").select("doc_id")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").toSet)
    val spark = GraftSession.builder(GraftSession.cpus(16)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var bad = 0
    alternates.filter(p => only.forall(_.contains(p._1))).foreach {
      case (name, alt) =>
        val r = try {
          val (na, ha) = digest(SparkEntry.queries(name)(spark, sfDir))
          graft.operators.Caches.release(spark)
          val (nb, hb) = digest(alt(spark, sfDir))
          graft.operators.Caches.release(spark)
          val ok = na == nb && ha == hb
          if (!ok) bad += 1
          s"""{"q":"$name","rows_a":$na,"rows_b":$nb,"match":$ok}"""
        } catch {
          case e: Throwable =>
            bad += 1
            graft.catalog.Sidecar.render(Map("q" -> name,
              "error" -> String.valueOf(e.getMessage).take(200)))
        }
        println(r)
        System.out.flush()
    }
    println(s"""{"differential_bad":$bad}""")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
