package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableLog
import graft.operators.{AsOfJoin, Dedup, Links, Par, Pipelines, Similarity, States, TextAnalysis, Urls}
import graft.plans.{ColumnMask, Governance, GovernancePolicies, TablePolicy}
import graft.sources.{Multimodal, Tables, Writers}
import graft.streaming.EventStreams

/** North-star extension operators (SURVEY.md §2.13, §2.9, §2.12-X4): dedup,
  * similarity search, text analysis, streaming-shaped windows (batch-verified;
  * the genuinely-streaming runs live in StreamingSpec), as-of join, governance,
  * multimodal plumbing.
  */
object ExtensionQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Deterministic sentence-structured (doc_id, text) fixture for the C4 and
    * composed-pipeline queries: three well-formed sentences built from the
    * word-soup text plus planted junk lines. Restated verbatim by the DuckDB
    * oracle CTE.
    */
  private def sentenceFixture(docs: DataFrame): DataFrame = {
    val sentences = concat(
      lit("We observe that "), substring(coalesce(col("text"), lit("")), 1, 40),
      lit(" holds.\nIt follows that "),
      substring(coalesce(col("text"), lit("")), 41, 40),
      lit(" matters!\nFinally "),
      substring(coalesce(col("text"), lit("")), 81, 40), lit(" ends.\n"),
      lit("no terminal punctuation on this line\n"),
      lit("this line mentions javascript libraries in detail today."),
      when(col("doc_id") % 13 === 0, lit("\ncurly { brace }")).otherwise(lit("")))
    docs.select(col("doc_id"), sentences.as("text"))
  }

  /** Deterministic (doc_id, html) fixture over documents for the HTML queries:
    * head noise (title/style/script), nav + list + footer boilerplate,
    * sentence-per-<p> body, entities that must decode AFTER tag stripping.
    * Restated verbatim by the DuckDB oracle CTE.
    */
  private def htmlFixtureCol: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit(" index</title><style media=\"all\">body { margin: 0; }</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2 && 2 > 1;</script>" +
      "</head><body><nav>Home About Contact</nav>" +
      "<h1>Document heading for item "), col("doc_id").cast("string"),
    lit("</h1><p>"),
    replace(coalesce(col("text"), lit("")), lit(". "), lit(".</p><p>")),
    lit("</p><div class=\"footer\">&copy; 2026 Example &amp; Sons " +
      "&lt;contact&gt; page</div><ul><li>one</li><li>two</li></ul>" +
      "</body></html>"))

  private def htmlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), htmlFixtureCol.as("html"))

  /** Re-served-page fixture for the coverage family: every doc_id % 5 == 0
    * fetch of a domain returns the domain's one cached landing page (exact
    * duplicates within the domain), the rest keep their own text. Restated
    * verbatim by the DuckDB oracle.
    */
  private def coverageFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit("cached landing page for "), col("source")))
        .otherwise(col("text")).as("text"),
      col("source"))

  /** Deterministic WARC-record fixture over documents: the urlFixture URL, a
    * fetch timestamp marching one second per doc, and the htmlFixture
    * payload — optionally with every doc_id % 10 == 7 payload NULL (the
    * missing-payload record form). Restated verbatim by the DuckDB oracle.
    */
  private def warcFixture(docs: DataFrame, withNulls: Boolean): DataFrame = {
    val html =
      if (withNulls)
        when(col("doc_id") % 10 === 7, lit(null: String)).otherwise(htmlFixtureCol)
      else htmlFixtureCol
    // ONE spread projection instead of urlFixture(docs) ⋈ htmlFixture(docs):
    // doc_id is unique, so the self-join of two projections of the same rows
    // recombined exactly this row set — but planned as two serial 1-task
    // fixture map stages plus a join exchange (profiled at ~5 s EACH on the
    // e2e pipelines, the top stages of the query). The single projection
    // rides one spread scan; identical output, two exchanges and one join
    // fewer, and the expensive html/url construction runs 32-way.
    Par.spread(docs)
      .select(col("doc_id").as("record_id"), urlFixtureCol.as("url"),
        expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)")
          .as("fetch_ts"),
        html.as("html"))
  }

  /** Link-farm + inline-link HTML block appended (before `</body></html>`)
    * for the link-density fixture: a wordy all-anchor "related articles"
    * farm and a prose sentence with one low-ratio inline link. No single
    * quotes, so it embeds verbatim in the DuckDB oracle literal.
    */
  private val linkFarmHtml: String =
    (1 to 5).map(i =>
      s"""<a href="/r/$i">useful related article link $i</a>""")
      .mkString("<div>", " ", "</div>") +
      """<p>This sentence has a single <a href="/ref">reference link</a> """ +
      "among twelve ordinary words today.</p>"

  /** Documents plus planted doc-in-doc duplicates for the containment
    * queries: every doc_id % 5 == 0 doc contributes a "quote" doc
    * (doc_id + 100000) whose text is its first max(7, ⌊words/3⌋) lower-cased
    * words — a strict word-prefix, so the quote's shingle set is a subset of
    * its source's (containment exactly 1) while Jaccard stays far below any
    * near-dup threshold. Restated verbatim by the DuckDB oracle CTE.
    */
  private def quoteFixture(docs: DataFrame): DataFrame = {
    val quotes = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        TextAnalysis.words(coalesce(col("text"), lit(""))).as("ws"))
      .select((col("doc_id") + 100000L).as("doc_id"),
        expr("concat_ws(' ', slice(ws, 1, greatest(7, size(ws) div 3)))")
          .as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(quotes)
  }

  /** [[htmlFixture]] with a deterministic cross-host link block injected
    * before `</body></html>` for the link-graph queries: two absolute links
    * into the src0-4 host cluster (one with an `&amp;`-entity query), a
    * protocol-relative hub link, a root-relative self link, and four
    * non-links (fragment, mailto, javascript, directory-relative) the
    * extractor must drop. No single quotes, so the DERIVED ground truth (not
    * the HTML) is restated by the DuckDB oracle — a hash match proves the
    * regex extraction + resolution against an independent derivation.
    */
  private def linkHtmlFixtureCol: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val block = concat(
      lit("<div id=\"links\"><a href=\"https://www.src"),
      ((d + 1) % 5).cast("string"),
      lit(".example.com/a/"), (d % 7).cast("string"),
      lit("\">next source article</a> <a href=\"https://www.src"),
      ((d + 2) % 5).cast("string"),
      lit(".example.com/b?x=1&amp;y=2\">second source</a> " +
        "<a href=\"//www.hub.example.com/h/"), (d % 3).cast("string"),
      lit("\">hub mirror</a> <a href=\"/local/"), (d % 4).cast("string"),
      lit("\">local page</a> <a href=\"#frag\">anchor</a>" +
        "<a href=\"mailto:team@example.com\">mail</a>" +
        "<a href=\"javascript:void(0)\">js</a>" +
        "<a href=\"relative/page.html\">rel</a></div>"))
    replace(htmlFixtureCol, lit("</body></html>"),
      concat(block, lit("</body></html>")))
  }

  /** The link-extraction queries' shared input: (doc_id, url, html) — the
    * urlFixture URL beside the link-bearing HTML payload.
    */
  private[graft] def linkPages(docs: DataFrame): DataFrame =
    // one projection instead of urlFixture ⋈ linkHtmlFixture: identical rows
    // (doc_id is unique), and the absence of a join below lets the link
    // extractors' Par.spread fire, parallelizing the regex pass that
    // otherwise rides the single-file scan task (the warcFixture story)
    docs.select(col("doc_id"), urlFixtureCol.as("url"),
      linkHtmlFixtureCol.as("html"))

  /** Deterministic sitemap-XML fixture over documents: a dated per-source
    * page entry, an undated hub entry, and an empty-loc entry (must drop).
    * The oracle derives the parse RESULT from this recipe directly — never
    * by re-running the regex.
    */
  private def sitemapFixture(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val xml = concat(
      lit("<?xml version=\"1.0\"?>\n<urlset>\n  <url>\n    <loc> https://www."),
      col("source"), lit(".example.com/p/"), d % 13,
      lit(" </loc>\n    <lastmod>2024-0"), d % 9 + 1,
      lit("-01</lastmod>\n  </url>\n  <url><loc>https://www.hub.example.com/s/"),
      d % 5, lit("</loc></url>\n  <url><loc></loc></url>\n</urlset>"))
    docs.select(d.as("doc_id"), xml.as("xml"))
  }

  /** Deterministic (doc_id, url) fixture over documents for the URL queries —
    * scheme/host case variants, default ports, fragments, tracking params,
    * shuffled param order. Restated verbatim by the DuckDB oracle CTE.
    */
  private def urlFixtureCol: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    concat(
      when(d % 3 === 0, "HTTPS://").when(d % 3 === 1, "https://")
        .otherwise("http://"),
      lit("WWW."), col("source"), lit(".Example.COM"),
      when(d % 3 === 0, ":443").when(d % 3 === 2, ":80").otherwise(""),
      when(d % 4 === 2, "").otherwise(
        concat(lit("/articles/"), expr("doc_id div 5"))),
      when(d % 4 === 0, concat(lit("?utm_source=feed&b=2&a=1#frag"), d))
        .when(d % 4 === 1, lit("?a=1&b=2"))
        .when(d % 4 === 2, lit("#top"))
        .otherwise(lit("?b=2&utm_campaign=x&gclid=abc&a=1")))
  }

  private def urlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), urlFixtureCol.as("url"))

  /** Deterministic per-host robots.txt fixture over [[urlFixture]]'s hosts
    * (`www.srcN.example.com`). Every parser feature gets signal: comment
    * and blank lines, an inline comment, an ignored crawl-delay field, a
    * mixed-case exact-agent group (odd N only — even hosts exercise the `*`
    * fallback), TWO consecutive user-agent lines sharing one group, an
    * empty `Disallow:` no-op, overlapping prefixes (longest-match) and an
    * equal-length allow/disallow pair (tie → allow). Hosts with N % 5 == 0
    * publish no robots.txt at all — the allowed-by-default path.
    */
  private def robotsFixture(docs: DataFrame): DataFrame = {
    val n = expr("cast(substring(source, 4, 10) as int)")
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val uaBlock = when(n % 2 === 1,
      lit("User-agent: GraftBot\nDisallow: /articles/1\nAllow: /articles/12\n\n"))
      .otherwise(lit(""))
    val content = concat(
      lit("# robots for "), host, lit("\n"), uaBlock,
      lit("User-agent: OtherBot\nUser-agent: *\nCrawl-delay: 7\n" +
        "Disallow: /articles/\nAllow: /articles/2\n" +
        "Allow: /articles/3   # inline comment\nDisallow: /articles/3\n" +
        "Disallow:"))
    docs.select(col("source")).distinct()
      .filter(n % 5 =!= 0)
      .select(host.as("host"), content.as("content"))
  }

  /** robots.txt fixture whose rules bite on the LINK fixture's paths
    * (`/a/K`, `/b`, `/local/K`) — feeds the fetch-plan composition, where
    * [[robotsFixture]]'s `/articles/` rules would never match a frontier
    * URL. One `*` group per src host (hosts with N % 5 == 0 publish
    * nothing): /a/ disallowed except /a/3, /local/2 disallowed, and a
    * per-host Crawl-delay equal to the host's numeric suffix.
    */
  private def frontierRobotsFixture(docs: DataFrame): DataFrame = {
    val n = expr("cast(substring(source, 4, 10) as int)")
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val content = concat(
      lit("User-agent: *\nDisallow: /a/\nAllow: /a/3\nDisallow: /local/2\n" +
        "Crawl-delay: "), n.cast("string"))
    docs.select(col("source")).distinct()
      .filter(n % 5 =!= 0)
      .select(host.as("host"), content.as("content"))
  }

  /** Shared DuckDB CTE: exact word-3-gram Jaccard pairs at threshold 0.8 —
    * oracle for both the exact operator and the MinHash-LSH operator (whose
    * banding at numPerm=32/bands=8 has recall ≈ 1 at the planted J≈0.99).
    */
  private val jaccardOracle: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |                             x -> length(x) > 0) AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  floor((i * 1.0 / (sa.n + sb.n - i)) * 10000) / 10000 AS jaccard
      |FROM inter
      |JOIN sz sa ON sa.doc_id = da
      |JOIN sz sb ON sb.doc_id = db
      |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- deduplication ----
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")),

    "q_dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.8)),

    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minHashLshPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, numPerm = 32, bands = 8, threshold = 0.8)),

    // doc-in-doc duplicates Jaccard cannot see: prefix-filtered (PPJoin)
    // shingle containment over the corpus + planted verbatim quotes —
    // every quote must surface as contained in its source at exactly 1.0
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(quoteFixture(t(s, d, "documents")),
        "doc_id", "text", n = 3, threshold = 0.9, minShingles = 5)),

    // the REMOVAL form: drop every doc ≥0.9-contained in a BIGGER doc
    // (ties keep-first) — quotes die, their sources survive
    "q_containment_dedup" -> ((s, d) =>
      Dedup.containmentDedup(quoteFixture(t(s, d, "documents")),
        "doc_id", "text", n = 3, threshold = 0.9, minShingles = 5)),

    // the rolling-crawl form: originals (doc_id < 100000) are the persisted
    // shingle-posting state, the quote batch arrives later — each quote is
    // flagged against the EARLIER corpus only (slicing-invariant rule)
    "q_dedup_containment_incremental" -> ((s, d) => {
      val all = quoteFixture(t(s, d, "documents"))
      val state = Dedup.containmentState(
        all.filter(col("doc_id") < 100000L), "doc_id", "text", n = 3)
      Dedup.containmentIncremental(
        all.filter(col("doc_id") >= 100000L), "doc_id", "text", state,
        n = 3, threshold = 0.9, minShingles = 5)
    }),

    // ...and the incremental removal: the late batch mixes NOVEL docs
    // (originals 450+, which survive) with quotes of the earlier corpus
    // (which are cut) — both sides of the policy get signal
    "q_containment_dedup_incremental" -> ((s, d) => {
      val all = quoteFixture(t(s, d, "documents"))
      Dedup.containmentDedupIncremental(
        all.filter(col("doc_id") >= 450L), "doc_id", "text",
        Dedup.containmentState(
          all.filter(col("doc_id") < 450L), "doc_id", "text", n = 3),
        n = 3, threshold = 0.9, minShingles = 5)
    }),

    // near-dup clusters: connected components over the LSH pair stream;
    // cluster_id = min reachable doc_id
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.clusters(Dedup.minHashLshPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, numPerm = 32, bands = 8, threshold = 0.8))),

    // the clique-free clustering surface directly: CC over distinct shingle
    // sets + star expansion; labels EVERY doc with >= 1 shingle (singletons
    // self-label), unlike q_dedup_clusters' pairs-only cover
    "q_dedup_clusters_all" -> ((s, d) =>
      Dedup.minHashClusters(t(s, d, "documents"), "doc_id", "text",
        n = 3, numPerm = 32, bands = 8, threshold = 0.8)),

    // best-copy-per-cluster dedup: highest n_chars wins its near-dup cluster,
    // unclustered docs are their own singleton cluster
    "q_dedup_canonical" -> ((s, d) =>
      Pipelines.selectCanonical(t(s, d, "documents"), "doc_id", "text",
        scoreCol = "n_chars", n = 3, numPerm = 32, bands = 8, threshold = 0.8)),

    "q_dedup_simhash" -> ((s, d) =>
      // portable-md5 fingerprints make the pair set oracle-checkable, and
      // maxBucket = MaxValue disables the hot-bucket salting so the
      // pigeonhole-complete "blocked pairs == all pairs" contract the oracle
      // recomputes holds STRUCTURALLY, not just because the fixture happens to
      // have no bucket wider than the scale-safe default cap
      Dedup.simHashPairs(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, portableHash = true, maxBucket = Int.MaxValue)
        .select("doc_a", "doc_b", "hamming")),

    "q_dedup_embedding" -> ((s, d) =>
      // exact=true: this entry IS the oracle-verified baseline; the scale path
      // (LSH-blocked, the default) is covered by q_dedup_embedding_ann
      Dedup.embeddingPairs(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, exact = true)),

    // ---- semantic (embedding-space) dedup: SemDeDup recipe ----
    "q_kmeans_assign" -> ((s, d) =>
      graft.operators.Semantic.assignCells(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 16)),

    // Lloyd training of the 16 coarse centroids: 2 assign/mean rounds, the
    // whole recurrence in exact BIGINT (divisible floor-div means, argmin
    // ties on cell id) — the trained upgrade of the md5-seeded quantizer
    "q_kmeans_train" -> ((s, d) =>
      graft.operators.Semantic.kmeansTrain(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 16, iters = 2)),

    // mini-batch update of the persisted < 250 trained state with the
    // >= 250 batch: count-weighted running means on the integer grid,
    // untouched cells pass through, frozen k
    "q_kmeans_update" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Semantic.kmeansUpdate(
        graft.operators.Semantic.kmeansTrain(
          emb.filter(col("vec_id") < 250), "vec_id", "embedding",
          k = 16, iters = 2),
        emb.filter(col("vec_id") >= 250), "vec_id", "embedding")
    }),

    // the fixture has no high-cosine pairs (max ≈ 0.51), so the drop path is
    // exercised by planting exact clones of vec_id < 10 at vec_id + 10000:
    // a clone shares its original's cell BY CONSTRUCTION (identical quantized
    // vector ⇒ identical distances ⇒ identical argmin) and cos(v, v) ≥ any
    // threshold, so exactly the 10 clones must be pruned
    "q_dedup_semantic" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val planted = emb.unionByName(
        emb.filter(col("vec_id") < 10)
          .withColumn("vec_id", col("vec_id") + 10000))
      // maxCell = MaxValue disables the hot-cell LSH fallback so the
      // exact-prune contract the oracle recomputes holds STRUCTURALLY (the
      // simHashPairs maxBucket precedent)
      graft.operators.Semantic.semanticDedup(
        planted, "vec_id", "embedding", k = 16, threshold = 0.9,
        maxCell = Int.MaxValue)
    }),

    // incremental semantic dedup: vec_id < 250 is the persisted state (its
    // seeds frozen), the rest plus planted clones are "today's batch" — a
    // clone of a HISTORY vector must fall to the history check, a clone of a
    // BATCH vector to the within-batch keep-first cut
    "q_dedup_semantic_incremental" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val batch = emb.filter(col("vec_id") >= 250)
        .unionByName(emb.filter(col("vec_id") < 10)
          .withColumn("vec_id", col("vec_id") + 10000))
        .unionByName(emb.filter(col("vec_id") === 300)
          .withColumn("vec_id", col("vec_id") + 20000))
      graft.operators.Semantic.semanticIncremental(
        batch, "vec_id", "embedding",
        graft.operators.Semantic.semanticState(
          emb.filter(col("vec_id") < 250), "vec_id", "embedding", k = 16),
        threshold = 0.9, maxCell = Int.MaxValue)
    }),

    // product-quantization codes: 64-dim floats -> 8 subspace codes of 16
    "q_pq_encode" -> ((s, d) =>
      graft.operators.Semantic.pqEncode(t(s, d, "embeddings"), "vec_id", "embedding",
        m = 8, ksub = 16)),

    // PQ asymmetric-distance search: approximate top-20 by summed subspace
    // LUT distances — exact integers, so unlike ANN/IVF it is hash-checkable
    "q_pq_topk" -> ((s, d) =>
      graft.operators.Semantic.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 20, m = 8, ksub = 16)),

    // batch-query ADC: every vec_id % 100 == 0 row is a query, scored against
    // the one encoded corpus in a single plan (one LUT broadcast, one compiled
    // ADC pass per pair, one per-query window) — exact integers, so the
    // multi-query form stays hash-checkable
    "q_pq_topk_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Semantic.pqTopKBatch(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, m = 8, ksub = 16)
    }),

    // IVF+PQ materialized index (the IVFADC layout): write cell-partitioned
    // PQ codes + sidecars, then probe with nprobe = nlist — a FULL probe has
    // no IVF recall loss, so the result must hash-match the pure-ADC oracle
    // verbatim, proving the index round-trip end to end
    "q_ivfpq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${new java.io.File(d).getName}"
      graft.operators.Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
        nlist = 16, m = 8, ksub = 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      graft.operators.Similarity.ivfPqProbe(s, dir, q, k = 20, nprobe = 16,
        excludeId = Some(0L))
    }),

    // partial probe (nprobe = 4 of 16 cells): cell choice is exact-integer
    // argsort, so unlike float-kmeans IVF even the PRUNED search is
    // hash-checkable — the oracle reproduces assignment, cell ranking, and
    // ADC in the same integer arithmetic
    "q_ivfpq_probe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${new java.io.File(d).getName}_p"
      graft.operators.Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
        nlist = 16, m = 8, ksub = 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      graft.operators.Similarity.ivfPqProbe(s, dir, q, k = 20, nprobe = 4,
        excludeId = Some(0L))
    }),

    // index maintenance: build from the even-id half, APPEND the odd-id half
    // against the frozen sidecars, then full-probe — the result must rank
    // vectors from BOTH halves under the even-half codebook, and because
    // encode/assign/ADC are exact-integer, the grown index hash-matches an
    // oracle that reproduces the frozen-seed draw over the even ids only
    "q_ivfpq_append" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${new java.io.File(d).getName}_ap"
      graft.operators.Similarity.ivfPqWrite(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dir, nlist = 16, m = 8, ksub = 16)
      graft.operators.Similarity.ivfPqAppend(s,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      graft.operators.Similarity.ivfPqProbe(s, dir, q, k = 20, nprobe = 16,
        excludeId = Some(0L))
    }),

    // index RETIREMENT: build over the whole corpus, tombstone the
    // vec_id % 10 == 3 slice, full-probe — the ranking must equal ADC over
    // the survivors under the FULL-corpus codebook (tombstones anti-joined
    // before ranking; cells/codebook are frozen geometry, untouched)
    "q_ivfpq_delete" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${new java.io.File(d).getName}_del"
      graft.operators.Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
        nlist = 16, m = 8, ksub = 16)
      graft.operators.Similarity.ivfPqDelete(
        emb.filter(col("vec_id") % 10 === 3).select("vec_id"), "vec_id", dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      graft.operators.Similarity.ivfPqProbe(s, dir, q, k = 20, nprobe = 16,
        excludeId = Some(0L))
    }),

    // two-stage retrieval: partial-probe ADC keeps a 50-candidate short
    // list, then ONLY those ids are joined back to the raw corpus and
    // re-ranked by exact quantized L2 — the IVFADC + refinement pipeline.
    // Both stages exact-integer, so the composition stays hash-checkable
    "q_ivfpq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${new java.io.File(d).getName}_rr"
      graft.operators.Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
        nlist = 16, m = 8, ksub = 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      graft.operators.Similarity.ivfPqRerank(s, dir, emb, "vec_id", "embedding",
        q, k = 10, topN = 50, nprobe = 4, excludeId = Some(0L))
    }),

    // batch-query probe of the materialized index: every vec_id % 100 == 0
    // row ranks its own nprobe = 4 cells, builds its own LUT, and scores only
    // the probed partitions — one plan, no per-query job loop. Cell ranking,
    // LUTs, and the partial-probe restriction are all exact-integer, so the
    // pruned BATCH search hash-matches like the single-query form
    "q_ivfpq_probe_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${new java.io.File(d).getName}_b"
      graft.operators.Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
        nlist = 16, m = 8, ksub = 16)
      graft.operators.Similarity.ivfPqProbeBatch(s, dir,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, nprobe = 4)
    }),

    // batch-query TWO-STAGE retrieval: each query row keeps its 50-candidate
    // ADC shortlist from its own probed cells, then one keyed join fetches
    // full-precision vectors for the shortlist union and re-ranks per query
    // by exact quantized L2 — ivfPqRerank with no per-query job loop
    "q_ivfpq_rerank_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivfpq_${new java.io.File(d).getName}_rb"
      graft.operators.Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
        nlist = 16, m = 8, ksub = 16)
      graft.operators.Similarity.ivfPqRerankBatch(s, dir,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10, topN = 50, nprobe = 4)
    }),

    // corpus-duplicated 10-token rolling spans (substring-level dedup signal)
    "q_dup_spans" -> ((s, d) =>
      Pipelines.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        w = 10, minCount = 2)),

    // ...and the transformation it drives: drop every token covered by a
    // duplicated span, reassemble the rest
    "q_despan" -> ((s, d) =>
      Pipelines.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text",
        w = 10, minCount = 2)),

    // span-level decontamination: remove tokens covered by any window that
    // occurs in the eval slice (every ~97th doc), instead of dropping docs
    "q_decontaminate_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Pipelines.removeContaminatedSpans(docs,
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", w = 10)
    }),

    // ---- similarity search ----
    "q_sim_topk" -> ((s, d) => {
      Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 20)
    }),

    // radius search over the materialized float-IVF index: probe-cell pick
    // in the exact-integer quantized grid (assignCells geometry), candidate
    // scoring on the q_sim_topk-proven floor-4dp cosine surface — every
    // indexed vector in the 4 probed cells clearing cos >= 0.1
    "q_sim_range" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = s"target/ivf_${new java.io.File(d).getName}_rg"
      Similarity.ivfWrite(emb, "vec_id", "embedding", dir, nlist = 16)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      Similarity.ivfRange(s, dir, q, minCos = 0.1, nprobe = 4)
    }),

    // MMR diversified retrieval: greedy λ·rel − (1−λ)·maxSim selection over
    // the top-20 candidate pool, k = 5, all scoring exact-integer on the
    // floor-4dp cosine surface — the anti-near-dup top-k
    "q_mmr_topk" -> ((s, d) =>
      Similarity.mmrTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 5, poolSize = 20, lambdaBp = 7000)),

    // the batch workload shape: both queries' pools rank in ONE plan
    // (broadcast queries, per-query WindowGroupLimit), greedy phase per
    // query on the bounded collected pools; corpus-drawn query vectors
    // keep their self-match (documented)
    "q_mmr_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(col("vec_id").isin(0L, 7L))
        .select(concat(lit("q"), col("vec_id")).as("query_id"),
          col("embedding").as("qv"))
      Similarity.mmrTopKBatch(emb, "vec_id", "embedding", qs,
        "query_id", "qv", k = 3, poolSize = 10, lambdaBp = 7000)
    }),

    // SQ8 scalar quantization: per-dim affine byte codes (the codebook-free
    // codec next to PQ), comma-joined on the hash surface
    "q_sq8_encode" -> ((s, d) =>
      Similarity.sq8Encode(t(s, d, "embeddings"), "vec_id", "embedding")),

    // asymmetric decoded-code inner-product top-k — approximate ranking,
    // exact-integer arithmetic, so the approximation itself hash-matches
    "q_sq8_topk" -> ((s, d) =>
      Similarity.sq8TopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 20)),

    "q_sim_ann" -> ((s, d) => {
      // LSH-bucketed ANN: approximate by construction ⇒ rows-only check
      Similarity.annTopK(s, t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10)
    }),

    // ---- text analysis ----
    "q_text_stats" -> ((s, d) =>
      TextAnalysis.qualityStats(t(s, d, "documents"), "doc_id", "text")),

    "q_text_langid" -> ((s, d) =>
      TextAnalysis.languageId(t(s, d, "documents"), "doc_id", "text")),

    "q_text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(t(s, d, "documents"), "doc_id", "text")),

    "q_text_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(t(s, d, "documents"), "doc_id", "text")),

    // ---- PII scrubbing (regex dialect restricted to Java-regex ∩ RE2) ----
    "q_text_scrub" -> ((s, d) =>
      TextAnalysis.scrubPii(t(s, d, "documents"), "doc_id", "text")),

    // ---- HTML extraction + URL canonicalization (crawl front half) ----
    // markup-bearing derivation of documents: head noise (title/style/script),
    // nav + list + footer boilerplate, sentence-per-<p> body, entities that
    // must decode AFTER tag stripping (&lt;contact&gt; is text, not a tag)
    "q_html_extract" -> ((s, d) =>
      TextAnalysis.htmlExtract(htmlFixture(t(s, d, "documents")),
        "doc_id", "html", minWords = 5)),

    // per-block LINK-DENSITY variant (jusText/RefinedWeb rule): the fixture
    // grows a wordy all-anchor link farm (must drop on anchor ratio — a pure
    // word-count gate keeps it) and a prose line with one inline link (low
    // ratio — must survive)
    "q_html_extract2" -> ((s, d) =>
      TextAnalysis.htmlExtractDense(
        htmlFixture(t(s, d, "documents")).select(col("doc_id"),
          replace(col("html"), lit("</body></html>"),
            lit(linkFarmHtml + "</body></html>")).as("html")),
        "doc_id", "html", minWords = 5, maxAnchorBp = 2000)),

    // deterministic URL derivation: scheme/host case variants, default ports,
    // fragments, shuffled + tracking query params — the noise canonicalization
    // must collapse
    "q_url_canon" -> ((s, d) => {
      val u = urlFixture(t(s, d, "documents"))
      u.select(col("doc_id"),
        graft.operators.Urls.canonicalUrl(col("url")).as("url_canon"),
        graft.operators.Urls.hostOf(col("url")).as("host"),
        graft.operators.Urls.hostBlocked(col("url"),
          Seq("src3.example.com")).as("blocked"))
    }),

    "q_url_dedup" -> ((s, d) =>
      graft.operators.Urls.urlDedup(urlFixture(t(s, d, "documents")),
        "doc_id", "url")),

    "q_url_hosts" -> ((s, d) =>
      graft.operators.Urls.hostReport(urlFixture(t(s, d, "documents")),
        "doc_id", "url")),

    "q_url_hostcap" -> ((s, d) =>
      graft.operators.Urls.hostCap(urlFixture(t(s, d, "documents")),
        "doc_id", "url", maxPerHost = 30)),

    // robots.txt politeness gate: parse the per-host fixture files into the
    // rule set that binds agent "graftbot" (exact group where one exists,
    // `*` fallback elsewhere; comments/blank/crawl-delay lines ignored;
    // consecutive user-agent lines share one group; empty Disallow dropped)
    "q_robots_rules" -> ((s, d) =>
      graft.operators.Urls.robotsRules(
        robotsFixture(t(s, d, "documents")), "host", "content",
        agent = "graftbot")),

    // the rate-limit surface: Crawl-delay per host for the agent's groups
    // (min across groups, malformed dropped, delay-less hosts absent)
    "q_robots_delays" -> ((s, d) =>
      graft.operators.Urls.robotsCrawlDelays(
        robotsFixture(t(s, d, "documents")), "host", "content",
        agent = "graftbot")),

    // ...and apply them to the URL fixture: canonical-host join, raw
    // path+query prefix match, longest rule wins, allow beats disallow on a
    // tie, hosts without robots.txt default to allowed
    "q_robots_filter" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Urls.robotsFilter(urlFixture(docs), "doc_id", "url",
        graft.operators.Urls.robotsRules(robotsFixture(docs),
          "host", "content", agent = "graftbot"))
    }),

    // the POLITENESS-COMPLETE crawl chain in ONE plan: robots gate (never
    // fetch what the host forbids) -> one fetch per canonical URL -> HTML
    // extraction + density gate -> word-blocklist gate -> exact dedup on
    // the extracted text — q_pipeline_web with the two new gates composed
    // in, proven by the same chained-CTE oracle style
    "q_pipeline_crawl2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val urls = urlFixture(docs)
      val allowed = graft.operators.Urls.robotsFilter(urls, "doc_id", "url",
        graft.operators.Urls.robotsRules(robotsFixture(docs),
          "host", "content", agent = "graftbot"))
        .filter(col("allowed")).select("doc_id")
      val keptUrl = graft.operators.Urls
        .urlDedup(urls.join(allowed, "doc_id"), "doc_id", "url")
        .select("doc_id")
      val extracted = TextAnalysis.htmlExtract(
        htmlFixture(docs).join(keptUrl, "doc_id"), "doc_id", "html",
        minWords = 5)
      val gated = extracted.filter(col("n_kept") >= 2)
        .select(col("doc_id"), col("text"))
      val clean = gated.join(
        TextAnalysis.wordlistGate(gated, "doc_id", "text",
          blocklist = Seq("slow", "dup"), maxHits = 5)
          .filter(col("kept")).select("doc_id"), "doc_id")
      clean.join(Dedup.exact(clean, "doc_id", "text"), "doc_id")
        .select("doc_id", "text")
    }),

    // ---- link graph + host reputation (Links.scala) ----
    // per-page outgoing links: absolute kept, protocol-/root-relative
    // resolved, fragment/mailto/javascript/directory-relative dropped,
    // &amp; decoded — checked against an independent per-doc derivation
    "q_link_extract" -> ((s, d) =>
      Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")),

    // the host endorsement graph: distinct (src,dst) hosts with self-loops
    // dropped and href-occurrence weights
    "q_link_hosts" -> ((s, d) =>
      Links.hostEdges(Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html"))),

    // anchor-text stream: each kept link plus the markup-stripped,
    // entity-decoded text of its <a> element — the corpus behind
    // anchor-text retrieval pairs and link-context quality signals
    "q_link_anchors" -> ((s, d) =>
      Links.anchorTexts(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")),

    // 3-iteration damped PageRank over the host graph, the whole recurrence
    // in 1e-12 fixed-point BIGINT (no floating point anywhere → the oracle
    // engine's build cannot move the result), joined to in/out link totals
    "q_pagerank" -> ((s, d) =>
      Links.hostRank(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html", iters = 3, dampBp = 8500)),

    // TrustRank over the same host graph: teleport mass restricted to a
    // two-host curated seed set, same 1e-12 fixed-point recurrence — hosts
    // no seed can reach end at rank 0 (the spam-demotion signal; low trust
    // × high PageRank = link farm)
    "q_trustrank" -> ((s, d) => {
      import s.implicits._
      val links = Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")
      Links.trustRank(Links.hostEdges(links),
        Seq("www.hub.example.com", "www.src0.example.com").toDF("host"),
        iters = 3, dampBp = 8500)
    }),

    // community detection: synchronous label propagation over the
    // undirected host graph, 3 rounds, ties (max count, min label) —
    // splits the connected graph along its dense cores where CC would
    // merge it whole
    "q_lpa" -> ((s, d) => {
      val links = Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")
      Links.labelPropagate(Links.hostEdges(links), iters = 3)
    }),

    // the discovery round: BOTH channels (anchor-extracted links + sitemap
    // entries) canonicalized, minus the canonical URLs the doc_id < 20
    // crawl round already linked — the new-frontier set a rolling crawl
    // feeds into robots/rank/schedule. Sitemap rows ride under offset ids
    // so the oracle can mark the seen set without a channel column.
    "q_discover" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val links = Links.extractLinks(linkPages(docs), "doc_id", "url", "html")
        .select(col("doc_id"), col("dst_url").as("url"))
      val smaps = Urls.sitemapUrls(sitemapFixture(docs), "doc_id", "xml")
        .select((col("doc_id") + 1000000L).as("doc_id"), col("url"))
      val canon = Urls.canonicalize(links.unionByName(smaps), "doc_id", "url")
      val seen = Urls.canonicalize(links.filter(col("doc_id") < 20),
        "doc_id", "url").select("url_canon").distinct()
      canon.select("url_canon").distinct()
        .join(seen, Seq("url_canon"), "left_anti")
    }),

    // sitemap discovery: parse the sitemap-XML fixture — dated page entry
    // + undated hub entry kept, the empty-loc entry dropped; oracle
    // derives the result from the fixture recipe, never the regex
    "q_sitemap" -> ((s, d) =>
      Urls.sitemapUrls(sitemapFixture(t(s, d, "documents")), "doc_id", "xml")),

    // weighted communities: neighbor votes carry href multiplicity — the
    // pageRankWeighted rationale applied to LPA
    "q_lpa_weighted" -> ((s, d) => {
      val links = Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")
      Links.labelPropagateWeighted(Links.hostEdges(links), iters = 3)
    }),

    // the incremental column for communities: resume(labels after 3, 2
    // more) must equal cold 5 rounds — the pageRank_resume equivalence,
    // with the loop shared so the tie rule cannot fork
    "q_lpa_resume" -> ((s, d) => {
      val links = Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")
      val edges = Links.hostEdges(links)
      Links.labelPropagateFrom(edges, Links.labelPropagate(edges, iters = 3),
        iters = 2)
    }),

    // Flesch / Flesch-Kincaid readability, both scores BIGINT 1e-3 units
    // (vowel-group syllables, [.!?]-run sentences — the standard heuristic
    // restated portably)
    "q_readability" -> ((s, d) =>
      TextAnalysis.readability(t(s, d, "documents"), "doc_id", "text")),

    // TextRank keywords: per-doc PageRank over the word co-occurrence
    // graph (window 2), whole recurrence (doc_id, word)-keyed in the 1e-12
    // fixed-point discipline — top-10 words per document
    "q_textrank" -> ((s, d) =>
      TextAnalysis.textRankKeywords(
        t(s, d, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", window = 2, iters = 3, topK = 10)),

    // weight-aware PageRank: endorsement strength = href multiplicity,
    // weights quantized per source to basis points (div-then-sum) — the
    // farm-detection complement to the distinct-edge rank
    "q_pagerank_weighted" -> ((s, d) =>
      Links.pageRankWeighted(Links.hostEdges(Links.extractLinks(
        linkPages(t(s, d, "documents")), "doc_id", "url", "html")),
        iters = 3)),

    // PageRank RESUMED from the persisted 3-round rank state for 2 more
    // rounds — on the unchanged graph this must equal 5 cold rounds, the
    // warm-start equivalence the rolling-crawl incremental column needs
    "q_pagerank_resume" -> ((s, d) => {
      val edges = Links.hostEdges(Links.extractLinks(
        linkPages(t(s, d, "documents")), "doc_id", "url", "html"))
      Links.pageRankFrom(edges, Links.pageRank(edges, iters = 3), iters = 2)
    }),

    // HITS over the same host graph: authorities from hubs, hubs from the
    // new authorities, 3 rounds, integer max-normalization per half-step —
    // the directory-page/canonical-source split PageRank cannot express
    "q_hits" -> ((s, d) => {
      val links = Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")
      Links.hits(Links.hostEdges(links), iters = 3)
    }),

    // crawl-frontier expansion: the links DISCOVERED by the current wave
    // cut against the already-discovered set (urlState over the seed wave's
    // links, docs < 20) — the next-wave fetch list, one row per NEW
    // canonical URL with its smallest discovering doc. Frontier dedup IS
    // incremental URL dedup with the discovered set as state, so the
    // composition reuses urlDedupIncremental verbatim.
    "q_link_frontier" -> ((s, d) => {
      // materialized once: the regex link extraction feeds both the batch
      // and the state side of the incremental dedup
      val links = Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html").localCheckpoint(eager = false)
      graft.operators.Urls.urlDedupIncremental(
        links.filter(col("doc_id") >= 20), "doc_id", "dst_url",
        graft.operators.Urls.urlState(
          links.filter(col("doc_id") < 20), "doc_id", "dst_url"))
    }),

    // the crawl SCHEDULER input: the frontier (new canonical URLs) joined
    // to host PageRank — fetch-priority by source reputation, rank 0 for
    // hosts outside the endorsement graph
    "q_frontier_ranked" -> ((s, d) => {
      // materialized once: three consumers (frontier batch, frontier state,
      // the PageRank edge pass) would each re-run the regex extraction
      val links = Links.extractLinks(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html").localCheckpoint(eager = false)
      val frontier = graft.operators.Urls.urlDedupIncremental(
        links.filter(col("doc_id") >= 20), "doc_id", "dst_url",
        graft.operators.Urls.urlState(
          links.filter(col("doc_id") < 20), "doc_id", "dst_url"))
      val ranks = Links.pageRank(Links.hostEdges(links))
      frontier
        .withColumn("host", graft.operators.Urls.hostOf(col("url_canon")))
        .join(ranks, Seq("host"), "left")
        .select(col("doc_id"), col("url_canon"), col("host"),
          coalesce(col("rank"), lit(0L)).as("host_rank"))
    }),

    // the fetch SCHEDULE: within each host, allowed URLs take md5-ordered
    // slots and fetch_offset_s = slot * crawl_delay — the politeness
    // arithmetic made concrete (a host asking delay d sees one request per
    // d seconds; delay-0 hosts all fetch at offset 0). The slot window
    // partitions by host — bounded by the frontier's per-host width.
    "q_fetch_schedule" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val plan = ExtensionQueries.defs("q_fetch_plan")(s, d)
      plan.withColumn("slot",
        (row_number().over(Window.partitionBy("host")
          .orderBy(md5(col("url_canon")), col("url_canon"))) - 1).cast("int"))
        .select(col("url_canon"), col("host"), col("slot"),
          (col("slot") * col("crawl_delay")).as("fetch_offset_s"))
    }),

    // the anchor-text CORPUS: what the web calls each page — per
    // (target URL, anchor text) occurrence counts, the aggregation
    // retrieval-training pair mining starts from
    "q_anchor_corpus" -> ((s, d) =>
      Links.anchorTexts(linkPages(t(s, d, "documents")),
        "doc_id", "url", "html")
        .groupBy("dst_url", "anchor_text")
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct("src_host").as("n_src_hosts"))),

    // the COMPLETE fetch decision in one plan: frontier (new canonical
    // URLs) × robots verdict (per URL, keyed by the URL itself so distinct
    // frontier URLs sharing a discoverer never merge) × per-host
    // crawl-delay × host PageRank — what to fetch, at what rate, in what
    // priority order; disallowed URLs never reach the plan
    "q_fetch_plan" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // materialized once: frontier batch + frontier state + PageRank edges
      // all read the extraction; the robots fixture feeds rules AND delays
      val links = Links.extractLinks(linkPages(docs), "doc_id", "url", "html")
        .localCheckpoint(eager = false)
      val frontier = graft.operators.Urls.urlDedupIncremental(
        links.filter(col("doc_id") >= 20), "doc_id", "dst_url",
        graft.operators.Urls.urlState(
          links.filter(col("doc_id") < 20), "doc_id", "dst_url"))
      val robots = frontierRobotsFixture(docs).localCheckpoint(eager = false)
      val verdicts = graft.operators.Urls.robotsFilter(
        frontier, "url_canon", "url_canon",
        graft.operators.Urls.robotsRules(robots, "host", "content", "graftbot"))
        .select(col("doc_id").as("url_canon"), col("host"), col("allowed"))
      val delays = graft.operators.Urls.robotsCrawlDelays(
        robots, "host", "content", "graftbot")
      val ranks = Links.pageRank(Links.hostEdges(links))
      verdicts.filter(col("allowed"))
        .join(delays, Seq("host"), "left")
        .join(ranks, Seq("host"), "left")
        .select(col("url_canon"), col("host"),
          coalesce(col("crawl_delay"), lit(0)).as("crawl_delay"),
          coalesce(col("rank"), lit(0L)).as("host_rank"))
    }),

    // incremental crawl dedup: history = docs < 250 (persisted urlState),
    // batch = the rest; a batch URL already fetched under ANY canonical
    // variant is dropped, within-batch variants keep the smallest doc_id
    "q_url_dedup_incremental" -> ((s, d) => {
      val urls = urlFixture(t(s, d, "documents"))
      graft.operators.Urls.urlDedupIncremental(
        urls.filter(col("doc_id") >= 250), "doc_id", "url",
        graft.operators.Urls.urlState(
          urls.filter(col("doc_id") < 250), "doc_id", "url"))
    }),

    // crawl-state RETRACTION: the persisted urlState forgets the retracted
    // docs' page identities, so the next crawl batch re-fetches them — the
    // URL analogue of q_dedup_retract, same slices
    "q_url_retract" -> ((s, d) => {
      val urls = urlFixture(t(s, d, "documents"))
      val state = graft.operators.Urls.urlStateRetract(
        graft.operators.Urls.urlState(
          urls.filter(col("doc_id") < 250), "doc_id", "url"),
        urls.filter(col("doc_id") >= 100 && col("doc_id") < 250),
        "doc_id", "url")
      graft.operators.Urls.urlDedupIncremental(
        urls.filter(col("doc_id") >= 100), "doc_id", "url", state)
    }),

    // the composed CRAWL FRONT HALF in one plan: URL-canonical dedup (one
    // fetch per page identity) -> HTML extraction + boilerplate gate ->
    // exact dedup on the EXTRACTED text — the chain that takes raw crawl
    // records to clean unique documents, feeding every pipeline behind it
    "q_pipeline_web" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val keptUrl = graft.operators.Urls
        .urlDedup(urlFixture(docs), "doc_id", "url").select("doc_id")
      val extracted = TextAnalysis.htmlExtract(
        htmlFixture(docs).join(keptUrl, "doc_id"), "doc_id", "html",
        minWords = 5)
      val gated = extracted.filter(col("n_kept") >= 2)
        .select(col("doc_id"), col("text"))
      gated.join(Dedup.exact(gated, "doc_id", "text"), "doc_id")
        .select("doc_id", "text")
    }),

    // WARC-shaped raw-crawl ingestion: fixture records → GWARC container
    // bytes on disk → validated streaming record walk back; the oracle
    // restates the records straight off documents, so a hash match proves
    // the byte round-trip (incl. µs timestamps and null payloads) end to end
    "q_warc_read" -> ((s, d) => {
      val dir = s"target/gwarc_${new java.io.File(d).getName}"
      graft.sources.Warc.write(
        warcFixture(t(s, d, "documents"), withNulls = true), dir)
      graft.sources.Warc.read(s, dir)
    }),

    // the crawl front half FROM BYTES: container walk → drop payload-less
    // records → one fetch per canonical URL → HTML extraction + boilerplate
    // gate → exact dedup on extracted text — q_pipeline_web's semantics
    // starting from the wire format, proven by the same chained-CTE oracle
    "q_pipeline_crawl" -> ((s, d) => {
      val dir = s"target/gwarc_${new java.io.File(d).getName}_p"
      graft.sources.Warc.write(
        warcFixture(t(s, d, "documents"), withNulls = false), dir)
      val recs = graft.sources.Warc.read(s, dir).filter(col("html").isNotNull)
      val kept = graft.operators.Urls.urlDedup(recs, "record_id", "url")
        .select(col("doc_id").as("record_id"))
      val extracted = TextAnalysis.htmlExtract(
        recs.join(kept, "record_id"), "record_id", "html", minWords = 5)
      val gated = extracted.filter(col("n_kept") >= 2)
        .select(col("doc_id"), col("text"))
      gated.join(Dedup.exact(gated, "doc_id", "text"), "doc_id")
        .select("doc_id", "text")
    }),

    // BYTES → TRAINING SHARDS, the whole pipeline in ONE declarative plan:
    // container walk, one fetch per canonical URL, HTML extraction +
    // density gate, exact dedup, per-HOST token-budget mixture cut, and
    // concat-and-chunk packing into fixed-length training sequences — every
    // stage the audited operator, composed end to end and hash-checked by
    // one chained-CTE oracle
    "q_pipeline_e2e" -> ((s, d) => {
      val dir = s"target/gwarc_${new java.io.File(d).getName}_e2e"
      graft.sources.Warc.write(
        warcFixture(t(s, d, "documents"), withNulls = false), dir)
      val recs = graft.sources.Warc.read(s, dir).filter(col("html").isNotNull)
      val kept = graft.operators.Urls.urlDedup(recs, "record_id", "url")
        .select(col("doc_id").as("record_id"))
      val extracted = TextAnalysis.htmlExtract(
        recs.join(kept, "record_id"), "record_id", "html", minWords = 5)
      val gated = extracted.filter(col("n_kept") >= 2)
        .select(col("doc_id"), col("text"))
      val clean = gated.join(Dedup.exact(gated, "doc_id", "text"), "doc_id")
      val domained = clean.join(
        recs.select(col("record_id").as("doc_id"),
          graft.operators.Urls.hostOf(col("url")).as("domain")), "doc_id")
      val budgeted = Pipelines.tokenBudgetSample(domained, "doc_id", "text",
        "domain", budgets = Map.empty, defaultBudget = 3000L)
      Pipelines.packSequences(
        domained.join(budgeted.select("doc_id"), "doc_id"),
        "doc_id", "text", maxTokens = 512, shards = 8)
    }),


    // the ROLLING crawl round, end to end (VERDICT r9 missing #3): round-0
    // bytes establish every state (urlState, exact-dedup fingerprints,
    // containment shingle postings, spent token budgets) through the BATCH
    // operators, then batch N — new GWARC bytes plus planted quote docs
    // that duplicate round-0 content under fresh URLs/headings — runs every
    // stage's INCREMENTAL form against state N-1. The quotes prove each
    // layer bites: fresh URL (passes url dedup), fresh heading (passes
    // exact dedup), contained text (DROPPED by containmentIncremental);
    // the budget chain continues from round-0 spend, not from zero.
    "q_pipeline_e2e_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val quotes = docs.filter(col("doc_id") % 20 === 0 && col("doc_id") < 250)
        .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
          col("text"))
      // materialized once, EAGERLY: both container writes consume it from
      // concurrent inParallel threads, and a lazy checkpoint first
      // materialized by two racing jobs degrades to duplicate computation.
      // Spread BEFORE the checkpoint: the checkpointed RDD pins its
      // partitioning, and an unspread scan+union materializes as 1-2
      // partitions — every downstream fixture pass would run serial
      // (warcFixture's own spread correctly declines on LogicalRDD leaves)
      val all = graft.operators.Par.spread(
        docs.select("doc_id", "source", "text").unionByName(quotes))
        .localCheckpoint()
      val dir0 = s"target/gwarc_${new java.io.File(d).getName}_inc0"
      val dir1 = s"target/gwarc_${new java.io.File(d).getName}_inc1"
      graft.operators.Par.inParallel(
        () => graft.sources.Warc.write(
          warcFixture(all.filter(col("doc_id") < 250), withNulls = false), dir0),
        () => graft.sources.Warc.write(
          warcFixture(all.filter(col("doc_id") >= 250), withNulls = false), dir1))
      // the container walks and the extracted/gated frames each feed 3-4
      // downstream states — uncached, every consumer would re-run the GWARC
      // parse / the extraction chain (measured 15.0 -> see BASELINE r10);
      // released per the Caches contract (Verify/Bench release per query)
      val recs0 = graft.sources.Warc.read(s, dir0).filter(col("html").isNotNull)
        .cache()
      val recs1 = graft.sources.Warc.read(s, dir1).filter(col("html").isNotNull)
        .cache()
      // ---- round 0: batch operators establish the four states ----
      val urlSt = graft.operators.Urls.urlState(recs0, "record_id", "url")
      val kept0 = graft.operators.Urls.urlDedup(recs0, "record_id", "url")
        .select(col("doc_id").as("record_id"))
      val g0 = TextAnalysis.htmlExtract(recs0.join(kept0, "record_id"),
          "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text"))
        .cache()
      val fpSt = TextAnalysis.fingerprint(g0, "doc_id", "text")
      val clean0 = g0.join(Dedup.exact(g0, "doc_id", "text"), "doc_id").cache()
      val contSt = Dedup.containmentState(clean0, "doc_id", "text", n = 3)
      val dom0 = clean0.join(recs0.select(col("record_id").as("doc_id"),
        graft.operators.Urls.hostOf(col("url")).as("domain")), "doc_id")
      val b0 = Pipelines.tokenBudgetSample(dom0, "doc_id", "text", "domain",
        budgets = Map.empty, defaultBudget = 3000L)
      val spentSt = Pipelines.tokenBudgetState(
        dom0.join(b0.select("doc_id"), "doc_id"), "doc_id", "text", "domain")
      // ---- batch N: every stage the incremental form vs state N-1 ----
      val front1 = graft.operators.Urls.urlDedupIncremental(
        recs1, "record_id", "url", urlSt).select(col("doc_id").as("record_id"))
      val g1 = TextAnalysis.htmlExtract(recs1.join(front1, "record_id"),
          "record_id", "html", minWords = 5)
        .filter(col("n_kept") >= 2).select(col("doc_id"), col("text"))
        .cache()
      val surv1 = g1.join(
        Dedup.exactIncremental(g1, "doc_id", "text", fpSt), "doc_id")
      val kept1 = surv1.join(Dedup.containmentDedupIncremental(surv1,
        "doc_id", "text", contSt, n = 3, threshold = 0.9, minShingles = 5),
        "doc_id")
      val dom1 = kept1.join(recs1.select(col("record_id").as("doc_id"),
        graft.operators.Urls.hostOf(col("url")).as("domain")), "doc_id")
      Pipelines.tokenBudgetIncremental(dom1, "doc_id", "text", "domain",
        spentSt, budgets = Map.empty, defaultBudget = 3000L)
    }),

    // the crawl you can run FOREVER (r10 VERDICT #1): THREE chained rounds
    // through the persisted-state lifecycle — round 0 establishes all four
    // states on disk (States.write), round 1 runs every incremental form and
    // APPENDS its additions, then a takedown RETRACTS the doc_id % 10 == 1
    // round-0 docs from every state (sidecar keys for the membership states,
    // a negated spend append for the budget) and every state is COMPACTED
    // (rename-swap rewrite applying the retractions), and round 2 runs
    // against the compacted states. Planted signals prove each property:
    // re-crawl records re-serving the retracted pages byte-identically (same
    // URL, same HTML) are RE-ADMITTED through url + exact + containment
    // dedup — retraction survived compaction; quote docs duplicating
    // SURVIVING round-0 content under fresh URLs/headings are still dropped
    // by incremental containment — state content survived compaction; and
    // round-2 budgets continue from spent₀ + spent₁ − retracted spend.
    "q_pipeline_e2e_incremental2" -> ((s, d) => {
      val sfn = new java.io.File(d).getName
      val docs = t(s, d, "documents")
      val quotes = docs.filter(col("doc_id") % 20 === 0 && col("doc_id") < 150)
        .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
          col("text"))
      // materialized once, EAGERLY (consumed from concurrent inParallel
      // threads — see q_pipeline_e2e_incremental), spread BEFORE the
      // checkpoint so the pinned partitioning stays parallel: three
      // container writes read `all`; retrDocs feeds the recrawl records
      // and the takedowns
      val all = graft.operators.Par.spread(
        docs.select("doc_id", "source", "text").unionByName(quotes))
        .localCheckpoint()
      val retrDocs = graft.operators.Par.spread(docs
        .filter(col("doc_id") % 10 === 1 && col("doc_id") < 150)
        .select("doc_id", "source", "text"))
        .localCheckpoint()
      val dir0 = s"target/gwarc_${sfn}_r3a"
      val dir1 = s"target/gwarc_${sfn}_r3b"
      val dir2 = s"target/gwarc_${sfn}_r3c"
      // re-crawl records: the RETRACTED pages re-served byte-identically —
      // url and html derive from the ORIGINAL doc id, only the record id is
      // fresh (monotone with arrival)
      val recrawl = warcFixture(retrDocs, withNulls = false)
        .select((col("record_id") + 300000L).as("record_id"), col("url"),
          col("fetch_ts"), col("html"))
      graft.operators.Par.inParallel(
        () => graft.sources.Warc.write(
          warcFixture(all.filter(col("doc_id") < 150), withNulls = false), dir0),
        () => graft.sources.Warc.write(
          warcFixture(all.filter(col("doc_id") >= 150 && col("doc_id") < 300),
            withNulls = false), dir1),
        () => graft.sources.Warc.write(
          warcFixture(all.filter(col("doc_id") >= 300), withNulls = false)
            .unionByName(recrawl), dir2))
      val uDir = s"target/state_${sfn}_e2e2_url"
      val fDir = s"target/state_${sfn}_e2e2_fp"
      val cDir = s"target/state_${sfn}_e2e2_cont"
      val sDir = s"target/state_${sfn}_e2e2_spent"
      val budgetMerge: DataFrame => DataFrame =
        _.groupBy("domain").agg(sum("spent_tok").as("spent_tok"))
      def hostsOf(recs: DataFrame) = recs.select(
        col("record_id").as("doc_id"), Urls.hostOf(col("url")).as("domain"))
      // ---- round 0: batch operators establish the four persisted states ----
      val recs0 = graft.sources.Warc.read(s, dir0).cache()
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
      // ---- round 1: incrementals vs state₀, then append the additions ----
      val recs1 = graft.sources.Warc.read(s, dir1).cache()
      val front1 = Urls.urlDedupIncremental(recs1, "record_id", "url",
        States.read(s, uDir)).select(col("doc_id").as("record_id"))
      // round-1 results must be SEVERED from the state-dir file listings
      // before any append touches those dirs: an append's refreshByPath
      // invalidates every cached plan reading the dir, so a mere cache()
      // would silently RECOMPUTE against the grown state (batch-vs-own-
      // additions — observed as an empty round 1). localCheckpoint pins the
      // rows as computed against state N-1, the read-before-append contract.
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
      graft.operators.Par.inParallel(
        () => States.append(Urls.urlState(recs1, "record_id", "url"), uDir),
        () => States.append(TextAnalysis.fingerprint(g1, "doc_id", "text"), fDir),
        () => States.append(
          Dedup.containmentState(kept1, "doc_id", "text", n = 3), cDir),
        () => States.append(
          Pipelines.tokenBudgetState(dom1kept, "doc_id", "text", "domain"), sDir))
      // ---- takedown: retract the % 10 == 1 round-0 docs from every state,
      // then compact each state (rename-swap rewrite applying them) ----
      graft.operators.Par.inParallel(
        () => States.retract(
          Urls.urlState(warcFixture(retrDocs, withNulls = false),
            "record_id", "url"), uDir),
        () => States.retract(TextAnalysis.fingerprint(
          g0.filter(col("doc_id") % 10 === 1), "doc_id", "text").select("fp"),
          fDir),
        () => States.retract(
          retrDocs.select(col("doc_id").cast("long").as("doc_id")), cDir),
        () => States.append( // spend returns to the pool: the negated-row form
          Pipelines.tokenBudgetState(
            dom0kept.filter(col("doc_id") % 10 === 1), "doc_id", "text", "domain")
            .select(col("domain"), (-col("spent_tok")).as("spent_tok")), sDir))
      graft.operators.Par.inParallel(
        () => States.compact(s, uDir),
        () => States.compact(s, fDir),
        () => States.compact(s, cDir),
        () => States.compact(s, sDir, budgetMerge))
      // ---- round 2: every incremental form vs the COMPACTED states ----
      val recs2 = graft.sources.Warc.read(s, dir2).cache()
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
    }),

    // paragraph-granularity corpus dedup (the Dolma convention — C4/CCNet
    // drop duplicated LINES, Dolma drops duplicated PARAGRAPHS): dedupLines
    // with the blank-line separator over paragraph-structured text
    "q_dedup_paragraphs" -> ((s, d) =>
      Pipelines.dedupLines(
        sentenceFixture(t(s, d, "documents"))
          .select(col("doc_id"),
            replace(col("text"), lit("\n"), lit("\n\n")).as("text")),
        "doc_id", "text", minCount = 2, keepFirst = false, sep = "\n\n")),

    // ---- published quality-rule sets: Gopher (Rae 2021), C4 (Raffel 2020) ----
    // the corpus is flat word soup, so line structure (bullets, ellipsis
    // lines) is planted deterministically to give every rule signal
    "q_gopher_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val withLines = concat(
        replace(coalesce(col("text"), lit("")), lit(". "), lit(".\n")),
        when(col("doc_id") % 5 === 0,
          lit("\n- bullet item one\n- bullet item two")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\ntrailing thought...")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\n### #### ##")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\nthis text was written with care and attention to the details of that domain."))
          .otherwise(lit("")))
      TextAnalysis.gopherGate(
        docs.select(col("doc_id"), withLines.as("text")), "doc_id", "text",
        minWords = 20)
    }),

    "q_c4_gate" -> ((s, d) =>
      TextAnalysis.c4Gate(sentenceFixture(t(s, d, "documents")),
        "doc_id", "text", minLineWords = 5)),

    // C4's OTHER famous rule — the word blocklist: token-boundary matches
    // only (punctuation stripped per token, substrings never match), doc
    // kept while hits stay under the budget. The sentence fixture adds
    // punctuation-glued occurrences ("slow." etc.) the boundary strip must
    // still catch.
    "q_badwords_gate" -> ((s, d) =>
      TextAnalysis.wordlistGate(sentenceFixture(t(s, d, "documents")),
        "doc_id", "text", blocklist = Seq("dup", "slow", "lorem"),
        maxHits = 2)),

    // the Dolma "taggers" shape: every cheap quality attribute (stats,
    // lang, Gopher verdict, C4 verdict, blocklist hits) in ONE narrow
    // pass — tag once, re-filter many times without re-scanning the text
    "q_tag_docs" -> ((s, d) =>
      TextAnalysis.tagDocs(sentenceFixture(t(s, d, "documents")),
        "doc_id", "text", blocklist = Seq("dup", "slow", "lorem"),
        minWords = 20)),

    // BM25 lexical retrieval at k1=1.2/b=0.75: PortableLog idf, exact
    // integer tf/length normalization — the ranked-search surface on top
    // of the tf-idf keyword extractor
    "q_bm25" -> ((s, d) =>
      TextAnalysis.bm25Score(t(s, d, "documents"), "doc_id", "text",
        query = "data join slow vector")),

    // the MATERIALIZED index: postings written bucket-partitioned, probed
    // with directory-level pruning, df recomputed from the pruned
    // postings — identical integer arithmetic, so it shares q_bm25's oracle
    "q_bm25_probe" -> ((s, d) => {
      val dir = s"target/bm25_${new java.io.File(d).getName}"
      TextAnalysis.bm25IndexWrite(t(s, d, "documents"), "doc_id", "text", dir)
      TextAnalysis.bm25Probe(s, dir, "data join slow vector")
    }),

    // passage-level retrieval: chunkWindows cuts 64-word/stride-48
    // passages, BM25 ranks the PASSAGES (the RAG retrieval granularity —
    // composite id doc_id·1000 + chunk_id keys the span). Stage
    // conventions compose: the chunk text is already the lowered word
    // join, the scorer re-tokenizes idempotently
    "q_passage_bm25" -> ((s, d) => {
      val chunks = TextAnalysis.chunkWindows(t(s, d, "documents"),
        "doc_id", "text", width = 64, stride = 48)
        .select((col("doc_id") * 1000 + col("chunk_id")).as("passage_id"),
          col("chunk"))
      TextAnalysis.bm25Score(chunks, "passage_id", "chunk",
        "data join slow vector")
    }),

    // the index-serving workload: every query probed in ONE plan against
    // the materialized index — bucket pruning for the UNION of the
    // queries' terms, df recomputed from the pruned postings, per-query
    // WindowGroupLimit top-k; hash-matches the in-plan batch oracle
    "q_bm25_probe_batch" -> ((s, d) => {
      import s.implicits._
      val dir = s"target/bm25_${new java.io.File(d).getName}_pb"
      TextAnalysis.bm25IndexWrite(t(s, d, "documents"), "doc_id", "text", dir)
      val qs = Seq(("q1", "data join"), ("q2", "slow vector table"),
        ("q3", "spark merge window")).toDF("query_id", "qtext")
      TextAnalysis.bm25ProbeBatch(s, dir, qs, "query_id", "qtext", k = 10)
    }),

    // the rolling-crawl index: built from the first half, grown by append
    // with the second — the probe must hash-match the one-shot oracle,
    // proving the incremental build changes nothing
    "q_bm25_append" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = s"target/bm25a_${new java.io.File(d).getName}"
      TextAnalysis.bm25IndexWrite(docs.filter(col("doc_id") < 250),
        "doc_id", "text", dir)
      TextAnalysis.bm25IndexAppend(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", dir)
      TextAnalysis.bm25Probe(s, dir, "data join slow vector")
    }),

    // index RETIREMENT: build over the whole corpus, tombstone the second
    // half, probe — must hash-match a one-shot build over the first half
    // (df recomputed from surviving postings, stats rebuilt exactly from
    // the .docs norms sidecar; no posting file rewritten)
    "q_bm25_delete" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = s"target/bm25d_${new java.io.File(d).getName}"
      TextAnalysis.bm25IndexWrite(docs, "doc_id", "text", dir)
      TextAnalysis.bm25IndexDelete(docs.filter(col("doc_id") >= 250)
        .select("doc_id"), "doc_id", dir)
      TextAnalysis.bm25Probe(s, dir, "data join slow vector")
    }),

    // the query-TABLE form: three queries scored in one plan, top-10 each
    "q_bm25_batch" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "data join"), ("q2", "slow vector table"),
        ("q3", "spark merge window")).toDF("query_id", "qtext")
      TextAnalysis.bm25ScoreBatch(t(s, d, "documents"), "doc_id", "text",
        qs, "query_id", "qtext", k = 10)
    }),

    // retrieval training pairs: the BM25 rank-1 doc as the lexical
    // positive, ranks 2..10 as hard negatives when they trail by ≥ 0.05
    // BM25 units (near-ties skipped — possible unlabeled positives)
    "q_hard_negatives" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "data join"), ("q2", "slow vector table"),
        ("q3", "spark merge window")).toDF("query_id", "qtext")
      TextAnalysis.hardNegatives(t(s, d, "documents"), "doc_id", "text",
        qs, "query_id", "qtext", k = 10, marginE6 = 50000L)
    }),

    // deterministic RANDOM negatives (the DPR-style uniform complement to
    // the BM25 hard negatives): md5-shuffle global ranks + per-query
    // offset, positives skipped — reproducible on any engine
    "q_random_negatives" -> ((s, d) => {
      import s.implicits._
      val pairs = Seq(("q1", 5L), ("q2", 123L), ("q3", 250L))
        .toDF("query_id", "pos_id")
      TextAnalysis.randomNegatives(pairs, t(s, d, "documents"),
        "query_id", "pos_id", "doc_id", k = 10)
    }),

    // HYBRID retrieval: Reciprocal Rank Fusion (Cormack 2009, the standard
    // lexical+vector combiner) of the BM25 top-20 and the cosine top-20 —
    // rrf6 = Σ 10⁶ div (60 + rank), pure integer, so the fused ranking is
    // engine-exact. Rank windows run over the top-k subsets only (bounded
    // by k, never corpus-sized).
    "q_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25Score(t(s, d, "documents"), "doc_id", "text",
        query = "data join slow vector")
        .orderBy(col("bm25_e6").desc, col("doc_id")).limit(20)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("bm25_e6").desc, col("doc_id"))))
        .select("doc_id", "lex_rank")
      val vec = Similarity.bruteForceTopK(t(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 20)
        .withColumn("vec_rank",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      lex.join(vec, Seq("doc_id"), "full")
        .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
          (coalesce(expr("1000000L div (60 + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000L div (60 + vec_rank)"), lit(0L))).as("rrf6"))
    }),

    // the full RefinedWeb-shaped chain in ONE plan: fetch once per page
    // identity (url dedup) -> strip markup + boilerplate (html extract) ->
    // C4 line+doc rules -> exact dedup on the cleaned text
    "q_pipeline_refined" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val html = sentenceFixture(docs).select(col("doc_id"), concat(
        lit("<html><head><style>x { y: z }</style></head><body>" +
          "<nav>Home About Contact</nav><p>"),
        replace(col("text"), lit("\n"), lit("</p><p>")),
        lit("</p><ul><li>one</li><li>two</li></ul></body></html>")).as("html"))
      val keptUrl = graft.operators.Urls
        .urlDedup(urlFixture(docs), "doc_id", "url").select("doc_id")
      val extracted = TextAnalysis.htmlExtract(
        html.join(keptUrl, "doc_id"), "doc_id", "html", minWords = 5)
      val gated = TextAnalysis.c4Gate(
        extracted.select(col("doc_id"), col("text")), "doc_id", "text",
        minLineWords = 5)
        .filter(col("kept")).select(col("doc_id"), col("text"))
      gated.join(Dedup.exact(gated, "doc_id", "text"), "doc_id")
        .select("doc_id", "text")
    }),

    // ---- multilingual language-ID (Cavnar-Trenkle rank-order profiles) ----
    "q_text_langid2" -> ((s, d) =>
      TextAnalysis.languageIdNgram(t(s, d, "documents"), "doc_id", "text")),

    // TRAINED variant: profiles learned from the labeled doc_id < 250
    // reference half (per-language top-20 trigram ranks), applied to the
    // whole corpus — the train/serve split for language-ID
    "q_text_langid3" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prof = TextAnalysis.trainLangProfiles(
        docs.filter(col("doc_id") < 250), "doc_id", "text", "lang", depth = 20)
      TextAnalysis.languageIdWith(docs, "doc_id", "text", prof,
        topM = 20, penalty = 20)
    }),

    // ---- trained quality classifier (hashed n-gram logistic regression) ----
    // label = the lang column's en flag: the model learns to predict it from
    // hashed word presence — 3 full-batch GD iterations, decimal-exact model
    "q_quality_clf" -> ((s, d) =>
      graft.operators.QualityClassifier.trainAndScore(
        t(s, d, "documents"), "doc_id", "text",
        (col("lang") === "en").cast("int"),
        nBuckets = 256, iters = 3, lr = 0.5)),

    // bigram-feature variant: adjacent-word bigrams hash into the same
    // bucket space (fastText's n-gram trick) so the linear model sees local
    // word order; same unrolled-training oracle with the bigram feature CTE
    "q_quality_clf2" -> ((s, d) =>
      graft.operators.QualityClassifier.trainAndScore(
        t(s, d, "documents"), "doc_id", "text",
        (col("lang") === "en").cast("int"),
        nBuckets = 256, iters = 3, lr = 0.5, wordBigrams = true)),

    // train/serve split — the shape production scoring actually runs: the
    // model is fit on a held REFERENCE half (doc_id < 250) and applied to the
    // WHOLE corpus, so scored docs cannot launder their own words into the
    // weights (the bigramLogProbAgainst discipline)
    "q_quality_clf_ref" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.QualityClassifier.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        (col("lang") === "en").cast("int"),
        nBuckets = 256, iters = 3, lr = 0.5)
      graft.operators.QualityClassifier.score(docs, "doc_id", "text", model,
        nBuckets = 256)
    }),

    // the evaluation table you read BEFORE trusting the gate: train on the
    // doc_id < 250 reference half, score the whole corpus, grade against the
    // held label over a threshold grid — exact integer confusion counts,
    // floor-quantized P/R/F1 (no double division anywhere)
    "q_clf_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.QualityClassifier.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        (col("lang") === "en").cast("int"), nBuckets = 256, iters = 3, lr = 0.5)
      val scored = graft.operators.QualityClassifier.score(
        docs, "doc_id", "text", model, nBuckets = 256)
      graft.operators.QualityClassifier.evaluate(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id"),
        "score_e6", col("y"), thresholds = Seq(-0.5, -0.25, 0.0, 0.25, 0.5))
    }),

    // calibration buckets over the same train/serve split: per sigmoid-
    // probability bin, predicted mean vs observed positive rate — the
    // reliability diagram as an exact-integer table
    "q_clf_calibration" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.QualityClassifier.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        (col("lang") === "en").cast("int"), nBuckets = 256, iters = 3, lr = 0.5)
      val scored = graft.operators.QualityClassifier.score(
        docs, "doc_id", "text", model, nBuckets = 256)
      graft.operators.QualityClassifier.calibration(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id"),
        "score_e6", col("y"), nBins = 10)
    }),

    // threshold-free ranking grade over the same train/serve split: exact
    // tie-aware Mann-Whitney AUC on the sigmoid-probability scale, pair
    // counts in DECIMAL(38,0) — one row, engine-portable like the grid
    "q_clf_auc" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.QualityClassifier.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        (col("lang") === "en").cast("int"), nBuckets = 256, iters = 3, lr = 0.5)
      val scored = graft.operators.QualityClassifier.score(
        docs, "doc_id", "text", model, nBuckets = 256)
      graft.operators.QualityClassifier.auc(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id"),
        "score_e6", col("y"))
    }),

    // ---- training-data prep: concat-and-chunk packing + mixture sampling ----
    "q_pack_sequences" -> ((s, d) =>
      Pipelines.packSequences(t(s, d, "documents"), "doc_id", "text",
        maxTokens = 512, shards = 8)),

    "q_mixture_sample" -> ((s, d) =>
      Pipelines.hashSample(t(s, d, "documents"), "doc_id", "source",
        rates = Map("src0" -> 0.9, "src1" -> 0.25, "src2" -> 0.0),
        defaultRate = 0.5)),

    // exactly-k-per-stratum deterministic eval-set cut
    "q_stratified_sample" -> ((s, d) =>
      Pipelines.stratifiedSample(t(s, d, "documents"), "doc_id", "source", k = 50)),

    // target-SHARE mixture solver: "50/30/20" in basis points → the largest
    // subset hitting those proportions, limiting domain computed from the
    // corpus counts, per-domain md5-prefix cut via the salted two-level rank
    "q_mixture_apply" -> ((s, d) =>
      Pipelines.mixtureApply(t(s, d, "documents"), "doc_id", "source",
        shares = Map("src0" -> 5000, "src1" -> 3000, "src2" -> 2000))),

    // the same solver denominated in TOKENS (how mixture specs are written):
    // limiting-domain token total → absolute budgets → tokenBudgetSample
    "q_token_share" -> ((s, d) =>
      Pipelines.tokenShareApply(t(s, d, "documents"), "doc_id", "text",
        "source", shares = Map("src0" -> 5000, "src1" -> 3000, "src2" -> 2000))),

    // quality-weighted sampling: longer docs kept proportionally more often,
    // kept-set engine-portable (md5 draw vs rate*weight)
    "q_weighted_sample" -> ((s, d) =>
      Pipelines.weightedSample(
        t(s, d, "documents").withColumn("w8", col("n_chars") / lit(1000.0)),
        "doc_id", "w8", rate = 0.5)),

    // epoch upsampling: 2.5 epochs of src0, 0.4 of src1, 1.0 elsewhere —
    // fractional epochs chosen by the md5 draw, deterministic
    "q_upsample" -> ((s, d) =>
      Pipelines.upsampleMixture(t(s, d, "documents"), "doc_id", "source",
        factors = Map("src0" -> 2.5, "src1" -> 0.4), defaultFactor = 1.0)),

    // mixture report: the per-domain table the q_upsample factors would feed
    // the trainer — shares in integer basis points, effective tokens at 4dp
    "q_mixture_report" -> ((s, d) =>
      Pipelines.mixtureReport(t(s, d, "documents"), "doc_id", "text", "source",
        factors = Map("src0" -> 2.5, "src1" -> 0.4), defaultFactor = 1.0)),

    // token-budget mixture cut: per source, take docs in md5 order until the
    // domain's token budget is reached (straddling doc included)
    "q_token_budget" -> ((s, d) =>
      Pipelines.tokenBudgetSample(t(s, d, "documents"), "doc_id", "text",
        "source", budgets = Map("src0" -> 8000L, "src1" -> 2000L),
        defaultBudget = 4000L)),

    // deterministic shard-shuffle assignment: md5-prefix shard + in-shard
    // md5 rank — the engine-portable global permutation shuffledShards writes
    "q_shard_assign" -> ((s, d) =>
      Pipelines.shardAssign(t(s, d, "documents"), "doc_id", shards = 8)),

    // snapshot diff: old = ids % 11 != 3, new = ids % 13 != 5 with every
    // 7th doc's text mutated — added/removed/changed/unchanged by (id, md5)
    "q_dataset_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(coalesce(col("text"), lit("")), lit("x"))).otherwise(col("text")))
      Pipelines.datasetDiff(oldSnap, newSnap, "doc_id", "text")
    }),

    // keyed snapshot MERGE: the diff's added/changed rows upsert into the
    // old snapshot, removed ids drop — the refreshed corpus every rolling
    // refresh ends with (by the spec identity, ≡ the new snapshot)
    "q_dataset_merge" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(coalesce(col("text"), lit("")), lit("x"))).otherwise(col("text")))
      def proj(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        col("source"), col("lang"), md5(coalesce(col("text"), lit(""))).as("fp"))
      val diff = Pipelines.datasetDiff(oldSnap, newSnap, "doc_id", "text")
      val ups = proj(newSnap).join(
        diff.filter(col("status").isin("added", "changed")).select("doc_id"),
        "doc_id")
      val del = diff.filter(col("status") === "removed").select("doc_id")
      Pipelines.applyDiff(proj(oldSnap), ups, del, "doc_id")
    }),

    // composed refresh pipeline: snapshot diff gates incremental dedup in
    // ONE plan — only added/changed rows of the new snapshot are re-checked
    // against the old snapshot's fingerprint history (the refresh story the
    // diff op exists for: re-check the delta, never the corpus)
    "q_pipeline_refresh" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(coalesce(col("text"), lit("")), lit("x"))).otherwise(col("text")))
      val delta = Pipelines.datasetDiff(oldSnap, newSnap, "doc_id", "text")
        .filter(col("status").isin("added", "changed"))
      Dedup.exactIncremental(
        newSnap.join(delta.select("doc_id"), "doc_id"), "doc_id", "text",
        TextAnalysis.fingerprint(oldSnap, "doc_id", "text"))
    }),

    // per-domain quantile quality gate: keep each source's top 60% by
    // n_chars — exact rank cut in integer arithmetic, kept-set portable
    "q_quality_quantile" -> ((s, d) =>
      Pipelines.quantileFilter(t(s, d, "documents"), "doc_id", "n_chars",
        "source", q = 0.6)),

    // ROLLING-CRAWL quantile gate: per-domain score histogram over a frozen
    // 6dp grid persisted from the doc_id < 250 history, the doc_id >= 250
    // batch gated against the MERGED distribution at grid resolution —
    // integer cell arithmetic end to end
    "q_quality_quantile_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Pipelines.quantileIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "n_chars", "source",
        Pipelines.quantileState(
          docs.filter(col("doc_id") < 250), "doc_id", "n_chars", "source",
          lo = 0.0, hi = 2000.0, bins = 64),
        q = 0.6, lo = 0.0, hi = 2000.0, bins = 64)
    }),

    // ROLLING-CRAWL token budget: the doc_id < 250 snapshot's KEPT rows are
    // re-tokenized into a per-domain spend state, and the doc_id >= 250
    // batch keeps its md5-ordered prefix only up to the REMAINING budget
    "q_token_budget_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val budgets = Map("src0" -> 8000L, "src1" -> 2000L)
      val first = Pipelines.tokenBudgetSample(
        docs.filter(col("doc_id") < 250), "doc_id", "text", "source",
        budgets, defaultBudget = 4000L)
      val state = Pipelines.tokenBudgetState(
        docs.filter(col("doc_id") < 250).join(first.select("doc_id"), "doc_id"),
        "doc_id", "text", "source")
      Pipelines.tokenBudgetIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", "source", state,
        budgets, defaultBudget = 4000L)
    }),

    // key-skew report: the 10 heaviest join keys with basis-point shares —
    // the pre-join salting diagnostic
    "q_key_skew" -> ((s, d) =>
      graft.operators.Profiling.keySkew(t(s, d, "lineitem"), "l_suppkey", k = 10)),

    // per-domain crawl COVERAGE dashboard (fetches, distinct docs, dup
    // basis points) over a re-served-page fixture: every 5th fetch of a
    // domain lands the same cached landing page — the climbing-dup_bp
    // signal that retires a domain from the frontier
    "q_coverage" -> ((s, d) =>
      graft.operators.Profiling.coverage(
        coverageFixture(t(s, d, "documents")), "text", "source")),

    // the same dashboard maintained ACROSS ROUNDS: round-0 state merged
    // with the round-1 batch must equal the one-shot report over the
    // concatenated corpus (the oracle computes the latter)
    "q_coverage_incremental" -> ((s, d) => {
      val all = coverageFixture(t(s, d, "documents"))
      val st = graft.operators.Profiling.coverageState(
        all.filter(col("doc_id") < 250), "text", "source")
      graft.operators.Profiling.coverageReport(
        graft.operators.Profiling.coverageIncremental(
          all.filter(col("doc_id") >= 250), "text", "source", st))
    }),

    // the sketched dashboard (per-domain HLL of content fingerprints —
    // state O(domains) however large the crawl); sketch internals are
    // engine-private → rows-only by design, bounds + merge-determinism
    // are CoverageSpec's job
    "q_coverage_sketch" -> ((s, d) => {
      val all = coverageFixture(t(s, d, "documents"))
      val st = graft.operators.Profiling.coverageSketch(
        all.filter(col("doc_id") < 250), "text", "source")
      val batch = graft.operators.Profiling.coverageSketch(
        all.filter(col("doc_id") >= 250), "text", "source")
      graft.operators.Profiling.coverageSketchReport(
        graft.operators.Profiling.coverageSketchMerge(st, batch))
    }),

    // word-distribution entropy: near-zero = one-phrase spam, anomalously
    // high = random-token noise; decimal-exact via H = log2 n - (Σ c·log2 c)/n
    "q_word_entropy" -> ((s, d) =>
      TextAnalysis.wordEntropy(t(s, d, "documents"), "doc_id", "text")),

    // corpus trigram HEAVY HITTERS (exact, ≥ 100 occurrences) over a
    // boilerplate-planted fixture: template sentences appended to a third /
    // a seventh of docs are the trigrams the two-pass Misra-Gries +
    // exact-recount plan must surface — the output is EXACT counts (the
    // sketch only bounds pass-2's candidate set), hence oracle-hashable
    "q_ngram_hitters" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" subscribe to our newsletter today")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" all rights reserved worldwide")).otherwise(lit("")))
          .as("text"))
      // k sized for the sf1 sweep (stream ~2.7M 3-grams at sf1 → need
      // k·minCount > stream or the certified-superset guard THROWS — it
      // correctly did at the r11 sf1 sweep with k = 8192); the output is an
      // exact recount, identical at every SF regardless of k
      TextAnalysis.ngramHeavyHitters(docs, "text",
        n = 3, minCount = 100L, k = 65536)
    }),

    // rolling boilerplate discovery: round-0 count state merged with the
    // round-1 batch, report ≡ the one-shot heavy hitters (same oracle)
    "q_ngram_hitters_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" subscribe to our newsletter today")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" all rights reserved worldwide")).otherwise(lit("")))
          .as("text"))
      val st = TextAnalysis.ngramCountState(
        docs.filter(col("doc_id") < 250), "text", n = 3)
      TextAnalysis.ngramHeavyHittersReport(
        TextAnalysis.ngramCountIncremental(
          docs.filter(col("doc_id") >= 250), "text", 3, st),
        minCount = 100L)
    }),

    // per-column summary profile: rows/nulls/exact-distincts + numeric
    // min/max in ONE scan (multi-distinct via Expand, not k passes)
    // temperature-flattened mixture at α = 1/2 over the skewed lang
    // distribution: caps ∝ √n_lang — tail languages up-weighted, the
    // whole share computation exact (correctly-rounded sqrt + floor)
    "q_temperature_mix" -> ((s, d) =>
      Pipelines.temperatureMixture(t(s, d, "documents"), "doc_id", "lang",
        totalDocs = 200L, alphaQuarters = 2)),

    // the one-row release card: totals, exact-dup rate, dominant
    // domain/language with basis-point shares — all exact integers
    "q_dataset_card" -> ((s, d) =>
      graft.operators.Profiling.datasetCard(t(s, d, "documents"), "doc_id", "text",
        "lang", "source")),

    "q_profile_summary" -> ((s, d) =>
      graft.operators.Profiling.summary(t(s, d, "documents"),
        Seq("doc_id", "source", "n_chars", "text"))),

    // equi-width profile of the n_chars distribution, nulls as bucket -1
    "q_profile_hist" -> ((s, d) =>
      graft.operators.Profiling.histogram(
        t(s, d, "documents"), "n_chars", lo = 0.0, hi = 2000.0, n = 16)),

    // Morton z-values over (l_partkey, l_suppkey) — the key zorderParquet
    // lays files out by; min-max scaling + bit interleave are integer-exact
    "q_zorder" -> ((s, d) =>
      Writers.zValues(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        Seq("l_partkey", "l_suppkey"), bits = 16)
        .select("l_orderkey", "l_linenumber", "z")),

    // BPE merge training + vocabulary-table tokenization (rows-only: the
    // training loop is iterative, no SQL oracle; BpeSpec proves equality
    // with an independent reference implementation)
    "q_bpe_merges" -> ((s, d) =>
      graft.operators.Bpe.trainMerges(t(s, d, "documents"), "doc_id", "text",
        numMerges = 20)),

    "q_bpe_tokenize" -> ((s, d) =>
      graft.operators.Bpe.tokenCounts(t(s, d, "documents"), "doc_id", "text",
        numMerges = 20)),

    // unigram-LM (SentencePiece-style) tokenizer: seed + hard-EM + prune
    // over the word-type table, then per-doc token counts under the learned
    // vocabulary — rows-only by design (iterative training has no SQL
    // oracle, the q_bpe_merges precedent); UnigramLmSpec proves ≡ an
    // independent plain-Scala implementation
    "q_unigram_tok" -> ((s, d) =>
      graft.operators.UnigramLm.tokenCounts(t(s, d, "documents"),
        "doc_id", "text", vocabSize = 256, maxPieceLen = 6, seedSize = 500,
        iters = 2)),

    // TF-IDF keyword extraction, decimal-exact scoring
    "q_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 5)),

    // fuzzy self-join: exact edit-distance-1 pairs over customer names
    // (consecutive ids differ by one digit, so the fixture is pair-dense)
    "q_fuzzy_join" -> ((s, d) =>
      graft.operators.FuzzyJoin.pairsWithin1(t(s, d, "customer"), "c_custkey", "c_name")),

    "q_fuzzy_join2" -> ((s, d) =>
      graft.operators.FuzzyJoin.pairsWithin(t(s, d, "customer"), "c_custkey", "c_name", k = 2)),

    // k=3 runs the PassJoin segment-blocking path (deletion neighborhoods stop
    // at k=2); restricted to 200 keys because zero-padded customer ids put
    // MOST pairs within 3 digit edits — the unrestricted answer is ~quadratic
    // in the corpus, which is the problem's nature, not the operator's
    "q_fuzzy_join3" -> ((s, d) =>
      graft.operators.FuzzyJoin.pairsWithin(
        t(s, d, "customer").filter(col("c_custkey") <= 200),
        "c_custkey", "c_name", k = 3)),

    // cross-table fuzzy LINK (entity resolution across datasets): the dirty
    // side deterministically deletes one character from each customer name
    // (position keyed by the custkey), and pairsBetween must recover every
    // (dirty, clean) pair within edit distance 1 — including each row's own
    // corrupted original
    "q_fuzzy_link" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val dirty = cust.select(col("c_custkey").as("d_id"),
        expr("concat(substring(c_name, 1, cast(c_custkey % 10 as int) + 6), " +
          "substring(c_name, cast(c_custkey % 10 as int) + 8, length(c_name)))")
          .as("d_name"))
      graft.operators.FuzzyJoin.pairsBetween(
        dirty, "d_id", "d_name", cust, "c_custkey", "c_name", k = 1)
    }),

    // incremental exact dedup: docs >= 250 are "today's batch", the fps of
    // docs < 250 are the persisted history
    "q_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.exactIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        TextAnalysis.fingerprint(docs.filter(col("doc_id") < 250), "doc_id", "text"))
    }),

    // the Bloom-sidecar form: same answer as q_dedup_incremental (false
    // positives only route extra rows to the exact check), but the history
    // side is one narrow fp scan + broadcast semi-join instead of a
    // state-sized anti-join shuffle — the O(batch)-per-batch plan
    "q_dedup_bloom_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val state = TextAnalysis.fingerprint(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val path = s"target/bloom_${new java.io.File(d).getName}"
      graft.operators.BloomState.write(state, "fp", path,
        expectedItems = 1000L, fpp = 0.001)
      Dedup.exactIncrementalBloom(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", state, path)
    }),

    // the rolling form: sidecar built from the first 150 docs, the
    // 150..249 slice OR-appended (O(batch) maintenance, state never
    // re-scanned) — the probe must still match the one-shot oracle,
    // proving append changes nothing
    "q_dedup_bloom_roll" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val fp0 = TextAnalysis.fingerprint(
        docs.filter(col("doc_id") < 150), "doc_id", "text")
      val fp1 = TextAnalysis.fingerprint(
        docs.filter(col("doc_id") >= 150 && col("doc_id") < 250),
        "doc_id", "text")
      val path = s"target/bloomroll_${new java.io.File(d).getName}"
      graft.operators.BloomState.write(fp0, "fp", path,
        expectedItems = 1000L, fpp = 0.001)
      graft.operators.BloomState.append(s, path, fp1, "fp")
      Dedup.exactIncrementalBloom(
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        fp0.unionByName(fp1), path)
    }),

    // state RETRACTION: the persisted fingerprint state forgets the
    // retracted docs' content (takedown/forced-recrawl), so the next batch
    // re-admits exactly that content — batch = docs >= 100, retracted =
    // the 100..249 slice, so the result is the incremental dedup of the
    // batch against only the SURVIVING (doc_id < 100) history
    "q_dedup_retract" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val state = Dedup.exactRetract(
        TextAnalysis.fingerprint(docs.filter(col("doc_id") < 250),
          "doc_id", "text"),
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 250),
        "doc_id", "text")
      Dedup.exactIncremental(docs.filter(col("doc_id") >= 100),
        "doc_id", "text", state)
    }),

    // incremental NEAR-dedup: docs >= 250 are "today's batch", the LSH
    // band-bucket state of docs < 250 is the persisted history (the near-dup
    // analogue of q_dedup_incremental)
    "q_dedup_near_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.nearIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        Dedup.minHashState(docs.filter(col("doc_id") < 250), "doc_id", "text"))
    }),

    // NEAR-dup state retraction: minHashState is doc-id-keyed, so
    // retracting [100, 250) leaves a state ≡ one built from docs < 100 —
    // the batch >= 100 then re-admits exactly the retracted content
    "q_dedup_near_retract" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.nearIncremental(
        docs.filter(col("doc_id") >= 100), "doc_id", "text",
        Dedup.minHashRetract(
          Dedup.minHashState(docs.filter(col("doc_id") < 250), "doc_id", "text"),
          docs.filter(col("doc_id") >= 100 && col("doc_id") < 250)
            .select("doc_id")))
    }),

    // CONTAINMENT state retraction: postings are doc-id-keyed too, so a
    // quote of a retracted source no longer flags — its (quote, source)
    // pair vanishes while pairs against surviving docs stay
    "q_dedup_containment_retract" -> ((s, d) => {
      val all = quoteFixture(t(s, d, "documents"))
      Dedup.containmentIncremental(
        all.filter(col("doc_id") >= 100000L), "doc_id", "text",
        Dedup.containmentRetract(
          Dedup.containmentState(
            all.filter(col("doc_id") < 100000L), "doc_id", "text", n = 3),
          all.filter(col("doc_id") >= 100 && col("doc_id") < 250)
            .select("doc_id")),
        n = 3, threshold = 0.9, minShingles = 5)
    }),

    // SEMANTIC state retraction: non-seed rows of [100, 250) retracted
    // (seeds must stay — frozen cell geometry), then the >= 100 batch
    // re-admits the retracted vectors; batch copies of SEED vectors also
    // survive — their only blocker is their own state row, which the
    // re-ingestion rule (vec_a ≠ vec_b) excludes — while the planted
    // clones of vec_id < 10 stay blocked by the surviving early history
    "q_dedup_semantic_retract" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val state0 = graft.operators.Semantic.semanticState(
        emb.filter(col("vec_id") < 250), "vec_id", "embedding", k = 16)
      val state = graft.operators.Semantic.semanticRetract(state0,
        state0.filter(!col("is_seed") &&
          col("vec_id") >= 100 && col("vec_id") < 250).select("vec_id"))
      val batch = emb.filter(col("vec_id") >= 100)
        .unionByName(emb.filter(col("vec_id") < 10)
          .withColumn("vec_id", col("vec_id") + 10000))
      graft.operators.Semantic.semanticIncremental(
        batch, "vec_id", "embedding", state,
        threshold = 0.9, maxCell = Int.MaxValue)
    }),

    // composed curation v2 over the round-6 operators, one declarative plan:
    // duplicated-span removal -> span-level decontamination vs the eval
    // slice -> quality gate on surviving tokens -> exact dedup of the
    // cleaned text. Every stage is individually oracled; this row proves
    // they COMPOSE (schemas, conventions, totality) without drift.
    "q_pipeline_clean" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val despanned = Pipelines.removeDuplicateSpans(docs, "doc_id", "text",
        w = 10, minCount = 2)
        .select(col("doc_id"), col("clean_text").as("text"))
      val decontaminated = Pipelines.removeContaminatedSpans(
        despanned, docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", w = 10)
      val gated = decontaminated.filter(col("n_kept") >= 20)
        .select(col("doc_id"), col("clean_text"))
      Dedup.exact(gated, "doc_id", "clean_text")
    }),

    // the composed near-dup REMOVAL pipeline: LSH pairs -> CC clusters ->
    // anti-join survivors (smallest doc_id per cluster + all unclustered)
    "q_pipeline_neardedup" -> ((s, d) =>
      Pipelines.dedupNear(t(s, d, "documents"), "doc_id", "text",
        n = 3, numPerm = 32, bands = 8, threshold = 0.8)),

    // corpus-level line dedup (C4/CCNet step); the fixture has no line
    // structure, so toLines first materializes deterministic 10-word lines
    "q_dedup_lines" -> ((s, d) =>
      Pipelines.dedupLines(
        TextAnalysis.toLines(t(s, d, "documents"), "doc_id", "text", k = 10),
        "doc_id", "text", minCount = 2, keepFirst = false)),

    // CCNet variant: the globally-first occurrence (by doc_id, pos) of each
    // duplicated line survives instead of none
    "q_dedup_lines_keepfirst" -> ((s, d) =>
      Pipelines.dedupLines(
        TextAnalysis.toLines(t(s, d, "documents"), "doc_id", "text", k = 10),
        "doc_id", "text", minCount = 2, keepFirst = true)),

    // Gopher-style repetition signals
    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(t(s, d, "documents"), "doc_id", "text")),

    // n-gram-overlap decontamination: every ~97th doc plays the eval set
    "q_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Pipelines.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3, minHits = 5)
    }),

    // embedding hygiene: L2 norm + int8 max-abs quantization
    "q_embed_quantize" -> ((s, d) =>
      Similarity.normalizeQuantize(t(s, d, "embeddings"), "vec_id", "embedding")),

    // unigram-LM quality score; topV=20 < fixture vocab so the OOV floor
    // path is actually exercised
    "q_unigram_lm" -> ((s, d) =>
      TextAnalysis.unigramLogProb(t(s, d, "documents"), "doc_id", "text", topV = 20)),

    // bigram-LM quality score: conditional P(w2|w1) under a top-50 bigram
    // table, OOV floor exercised (50 < fixture bigram count)
    "q_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLogProb(t(s, d, "documents"), "doc_id", "text", topV = 50)),

    // CCNet-form split: the LM trains on the src0 REFERENCE slice only and
    // scores the whole corpus — candidate boilerplate cannot launder its own
    // probability mass into the model
    "q_bigram_lm_ref" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.bigramLogProbAgainst(docs.filter(col("source") === "src0"),
        docs, "doc_id", "text", topV = 50)
    }),

    // SMOOTHED LM: stupid-backoff trigram scoring (α = 2/5 folded into the
    // integer count ratios), trained on the src0 reference slice, served
    // corpus-wide; topV = 50 < the fixture's n-gram counts, so all four
    // backoff levels (tri → bi → uni → OOV) are exercised. Score surfaced
    // as BIGINT micro-units from day one (the r9 DECIMAL contract)
    "q_backoff_lm" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.backoffLogProb(docs.filter(col("source") === "src0"),
        docs, "doc_id", "text", topV = 50)
    }),

    // contamination/overlap audit: basis points of each doc's distinct
    // 5-gram shingles absent from the src0 reference set (src0 docs
    // themselves score 0 novelty — the self-check)
    "q_ngram_novelty" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.ngramNovelty(docs.filter(col("source") === "src0"), docs,
        "doc_id", "text", n = 5)
    }),

    // the corpus-level contamination number a release audit quotes: total
    // distinct doc-shingles, how many are novel vs the reference, basis
    // points — one row (the per-doc q_ngram_novelty rolled up)
    "q_corpus_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.ngramNovelty(docs.filter(col("source") === "src0"), docs,
        "doc_id", "text", n = 5)
        .agg(sum("n_ngrams").as("n_ngrams"), sum("n_novel").as("n_novel"))
        .select(col("n_ngrams"), col("n_novel"),
          expr("(n_novel * 10000) div n_ngrams").as("novelty_bp"))
    }),

    // CCNet head/middle/tail quality strata: per-language terciles over
    // the backoff-LM score (divisible floor-div per-doc average, codomain
    // cumulative window — never a corpus sort)
    "q_ccnet_buckets" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.backoffLogProb(
        docs.filter(col("source") === "src0"), docs, "doc_id", "text",
        topV = 50)
      TextAnalysis.perplexityBuckets(
        scored.join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "doc_id", "lang", "sum_log10p_e6", "n_trigrams")
    }),

    // the frozen-strata serve form: cuts computed on the doc_id < 250
    // reference round (same frozen src0 LM), then the WHOLE corpus
    // bucketed against them — no per-batch distribution pass
    "q_ccnet_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.backoffLogProb(
        docs.filter(col("source") === "src0"), docs, "doc_id", "text",
        topV = 50)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .cache() // feeds the cuts pass and the serve pass
      val cuts = TextAnalysis.perplexityCuts(
        scored.filter(col("doc_id") < 250), "doc_id", "lang",
        "sum_log10p_e6", "n_trigrams")
      TextAnalysis.perplexityBucketsWith(cuts, scored, "doc_id", "lang",
        "sum_log10p_e6", "n_trigrams")
    }),

    // interpolated Kneser-Ney bigram scoring, trained on the src0 slice,
    // served corpus-wide — the discount-and-redistribute proper smoothing
    // (continuation counts), every branch one integer-ratio PortableLog
    "q_kneser_ney" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.kneserNeyLogProb(docs.filter(col("source") === "src0"),
        docs, "doc_id", "text", topV = 50)
    }),

    // DSIR importance weights (Xie et al. 2023): target distribution = the
    // 'en' slice, raw pool = the whole corpus; hashed-unigram multinomial
    // log-ratio per bucket (two separately-floored PortableLog terms),
    // per-doc sums as BIGINT micro-units — high dsir_e6 = "looks like the
    // target". The classifier's md5 % 256 bucket idiom, restated verbatim
    // in the oracle.
    "q_dsir" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.dsirScore(docs.filter(col("lang") === "en"), docs,
        "doc_id", "text", nBuckets = 256)
    }),

    // the SERVE half / incremental form: weights frozen from (en target,
    // doc_id < 50 raw sample), then the WHOLE corpus scored against the
    // table — tokens hashing outside the sample's buckets take the f = -1
    // OOV weight (the sample is small enough that the branch is exercised)
    "q_dsir_serve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = TextAnalysis.dsirWeights(docs.filter(col("lang") === "en"),
        docs.filter(col("doc_id") < 50), "doc_id", "text", nBuckets = 1024)
      TextAnalysis.dsirScoreWith(w, docs, "doc_id", "text", nBuckets = 1024)
    }),

    // the resampling step as deterministic rank selection: top-100 raw docs
    // by importance weight (score desc, doc_id tiebreak)
    "q_dsir_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.dsirSelect(
        TextAnalysis.dsirScore(docs.filter(col("lang") === "en"), docs,
          "doc_id", "text", nBuckets = 256), n = 100)
    }),

    // overlapping word windows (RAG chunking), 64-word windows, stride 48
    "q_chunk_windows" -> ((s, d) =>
      TextAnalysis.chunkWindows(t(s, d, "documents"), "doc_id", "text",
        width = 64, stride = 48)),

    // ---- streaming-shaped windows (batch-verified here; stream runs in tests) ----
    "q_events_tumbling" -> ((s, d) =>
      EventStreams.tumbling(t(s, d, "events"), "1 hour")),

    "q_events_sliding" -> ((s, d) =>
      EventStreams.sliding(t(s, d, "events"), "1 hour", "30 minutes")),

    "q_events_session" -> ((s, d) =>
      EventStreams.sessions(t(s, d, "events"), "30 minutes")),

    // OHLC bars per event_type per hour: deterministic first/last via
    // (µs-time, event_id) struct extremes; values carried verbatim
    "q_events_ohlc" -> ((s, d) =>
      EventStreams.ohlcBars(t(s, d, "events"), "1 hour")),

    // ordered funnel view → click → purchase: earliest strictly-increasing
    // completion chain per user (greedy ≡ feasibility)
    "q_events_funnel" -> ((s, d) =>
      EventStreams.funnel(t(s, d, "events"),
        Seq("view", "click", "purchase"))),

    // cohort retention matrix: first-event-day cohorts × whole-week
    // offsets, exact integer day arithmetic (no bucket-origin functions)
    "q_events_retention" -> ((s, d) =>
      EventStreams.retention(t(s, d, "events"))),

    // SCD2 validity intervals: each event becomes (valid_from, valid_to =
    // next change per user), ties broken by event_id
    "q_events_scd2" -> ((s, d) =>
      EventStreams.scd2(t(s, d, "events"), "user_id", "ts", "event_id",
        Seq("event_type", "value"))),

    // ---- as-of join (absent from Trino 400 and stock Spark, SURVEY §2.4) ----
    "q_asof_join" -> ((s, d) =>
      AsOfJoin.backward(
        left = t(s, d, "events"), right = t(s, d, "orders"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayloadCols = Seq("o_orderkey", "o_totalprice"),
        rightTieBreak = "o_orderkey",
        leftPayloadCols = Seq("event_id", "user_id"))
        .select(col("event_id"), col("user_id"),
          col("asof.o_orderkey").as("o_orderkey"),
          col("asof.o_totalprice").as("o_totalprice"))),

    // LOCF resampling: per user one row per day of January, carrying the
    // most recent event at or before each grid instant (pandas
    // resample().ffill() — the time-series regularization primitive)
    "q_resample_locf" -> ((s, d) =>
      AsOfJoin.resampleLocf(t(s, d, "events"), "user_id", "ts",
        rightPayloadCols = Seq("event_id", "value"),
        rightTieBreak = "event_id",
        start = "2024-01-01 00:00:00", end = "2024-01-30 00:00:00",
        step = "1 day")
        .select(col("key").as("user_id"), col("grid_ts"),
          col("asof.event_id").as("event_id"), col("asof.value").as("value"))),

    // tolerance form (pandas/polars merge_asof parity): the most recent
    // order is the only backward candidate that can be within range, so
    // nulling beyond-30-days matches ≡ filtering the join window
    "q_asof_tolerance" -> ((s, d) =>
      AsOfJoin.backward(
        left = t(s, d, "events"), right = t(s, d, "orders"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayloadCols = Seq("o_orderkey", "o_totalprice"),
        rightTieBreak = "o_orderkey",
        leftPayloadCols = Seq("event_id", "user_id"),
        toleranceMicros = Some(2592000000000L)) // 30 days
        .select(col("event_id"), col("user_id"),
          col("asof.o_orderkey").as("o_orderkey"),
          col("asof.o_totalprice").as("o_totalprice"))),

    "q_asof_forward" -> ((s, d) =>
      AsOfJoin.forward(
        left = t(s, d, "events"), right = t(s, d, "orders"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayloadCols = Seq("o_orderkey", "o_totalprice"),
        rightTieBreak = "o_orderkey",
        leftPayloadCols = Seq("event_id", "user_id"))
        .select(col("event_id"), col("user_id"),
          col("asof.o_orderkey").as("o_orderkey"),
          col("asof.o_totalprice").as("o_totalprice"))),

    "q_asof_nearest" -> ((s, d) =>
      AsOfJoin.nearest(
        left = t(s, d, "events"), right = t(s, d, "orders"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayloadCols = Seq("o_orderkey", "o_totalprice"),
        rightTieBreak = "o_orderkey",
        leftPayloadCols = Seq("event_id", "user_id"))
        .select(col("event_id"), col("user_id"),
          col("asof.o_orderkey").as("o_orderkey"),
          col("asof.o_totalprice").as("o_totalprice"))),

    // ---- governance (reference X4: planner-side row/column policy) ----
    "q_governance" -> ((s, d) =>
      Governance.secure(t(s, d, "customer"), TablePolicy(
        dropColumns = Seq("c_acctbal"),
        masks = Seq(ColumnMask("c_name", "md5(c_name)")),
        rowFilterSql = Some("c_nationkey < 20")))),

    // same policy enforced by the analyzer RULE on the SQL path — the rewrite
    // happens during analysis, so clearing the registry afterwards is safe
    "q_governance_rule" -> ((s, d) => {
      GovernancePolicies.register("customer", TablePolicy(
        masks = Seq(ColumnMask("c_name", "md5(c_name)")),
        rowFilterSql = Some("c_nationkey < 20")))
      try {
        Tables.registerAll(s, d)
        s.sql("SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer")
      } finally {
        // the rule consults the registry at analysis time and the temp views
        // themselves are never rewritten, so clearing the registry is all
        // later queries need
        GovernancePolicies.clear()
      }
    }),

    // ---- multimodal decode (REAL javax.imageio PNG + javax.sound WAV) ----
    // The oracle computes image dimensions / audio duration+rate from the same
    // deterministic formulas asMedia uses to SYNTHESIZE the payloads; the
    // engine values come from actually DECODING them — a hash match proves
    // both decodes are real. Image/audio payload sizes are codec-dependent, so
    // n_bytes is only checked for video rows (raw byte payload stand-in).
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"))
        .select(col("doc_id"), col("kind"),
          when(col("kind") === "video", col("n_bytes")).cast("int").as("src_bytes"),
          col("width"), col("height"), col("duration_s"), col("sample_rate"),
          col("n_frames"))),

    // pixel-domain proof: per-channel integer sums over ImageIO-DECODED GV01
    // frames; the oracle recomputes them from the synthesis formula without
    // decoding, so a hash match proves the whole decode path
    "q_multimodal_pixels" -> ((s, d) =>
      Multimodal.frameChannelSums(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"))),

    // sample-domain audio proof: integer sums over AudioSystem-DECODED PCM;
    // the oracle recomputes them from the synthesis formula without decoding
    "q_multimodal_audio" -> ((s, d) =>
      Multimodal.audioSampleSums(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"))),

    // resize round-trip proof: resize re-encodes PNGs, decodeMeta re-DECODES
    // them, and the decoded dimensions must equal the scale formula the
    // oracle computes from the source dims (identical IEEE double ops on both
    // sides, so ceil boundaries agree bit-for-bit)
    "q_multimodal_resize" -> ((s, d) =>
      Multimodal.decodeMeta(
        Multimodal.resize(
          Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"),
          maxSide = 20)
          .withColumn("kind", lit("image")))
        .select(col("doc_id"), col("width"), col("height")))
  )

  /** Recomputes the portable-md5 SimHash verbatim: 60 per-bit ±1 balances,
    * sign-threshold fingerprint, brute-force pairing at hamming ≤ 3 (the
    * engine's pigeonhole blocking is exact at this radius, so blocked pairs ==
    * all pairs). Generated programmatically — 60 bit sums is SQL nobody should
    * hand-write.
    */
  private val simhashOracle: String = {
    val bitSums = (0 until 60)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val fp = (0 until 60)
      .map(i => s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                                               x -> length(x) > 0)) AS tok
       |             FROM documents),
       |t AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
       |b AS (SELECT doc_id, $bitSums FROM t GROUP BY 1),
       |fps AS (SELECT doc_id, $fp AS fp FROM b)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.fp, b.fp))::INTEGER AS hamming
       |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
  }

  /** PQ encoding recomputed verbatim: same quantized components, same md5
    * seed draw with ranks, same packed `min(dist2·64 + rank)` argmin per
    * subspace — every op an exact-integer double both engines share.
    * Generated programmatically: 8 subspace distance expressions is SQL
    * nobody should hand-write.
    */
  private val pqOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val code = (0 until 8).map(j => s"(k$j::BIGINT % 64)::VARCHAR")
      .mkString(" || ',' || ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1)
       |SELECT vec_id, $code AS code FROM k""".stripMargin
  }

  /** ADC search recomputed from the PQ oracle's own CTEs: per-subspace codes
    * of every vector, the query's distance row per codebook rank, and the
    * summed lookup — all exact-integer doubles.
    */
  private val pqTopKOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64").mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT r, ${(0 until 8).map(j => s"d$j").mkString(", ")} FROM d WHERE vec_id = 0)
       |SELECT k.vec_id, ($adist)::BIGINT AS adist
       |FROM k $joins
       |WHERE k.vec_id <> 0
       |ORDER BY adist, k.vec_id LIMIT 20""".stripMargin
  }

  /** Delete proof: pqTopKOracle (full-corpus seed draw — deletion does not
    * re-seed) with the tombstoned vec_id % 10 = 3 slice excluded from the
    * RANKING only, exactly what the probe's tombstone anti-join produces.
    */
  private val ivfPqDeleteOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64").mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT r, ${(0 until 8).map(j => s"d$j").mkString(", ")} FROM d WHERE vec_id = 0)
       |SELECT k.vec_id, ($adist)::BIGINT AS adist
       |FROM k $joins
       |WHERE k.vec_id <> 0 AND k.vec_id % 10 <> 3
       |ORDER BY adist, k.vec_id LIMIT 20""".stripMargin
  }

  /** Append proof: pqTopKOracle with the seed draw restricted to the EVEN
    * vec_ids — the frozen codebook of the initial ivfPqWrite half — while
    * encoding and ranking the WHOLE corpus against it, exactly what a
    * correct append must produce at full probe.
    */
  private val ivfPqAppendOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64").mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q WHERE vec_id % 2 = 0
       |                ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT r, ${(0 until 8).map(j => s"d$j").mkString(", ")} FROM d WHERE vec_id = 0)
       |SELECT k.vec_id, ($adist)::BIGINT AS adist
       |FROM k $joins
       |WHERE k.vec_id <> 0
       |ORDER BY adist, k.vec_id LIMIT 20""".stripMargin
  }

  /** Batch-query ADC: pqTopKOracle with the single-query `lq` generalized to
    * one LUT per query row (vec_id % 100 == 0) and a per-query top-10 window.
    */
  private val pqTopKBatchOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64" +
        (if (j > 0) s" AND l$j.query_id = l0.query_id" else "")).mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT vec_id AS query_id, r,
       |         ${(0 until 8).map(j => s"d$j").mkString(", ")}
       |       FROM d WHERE vec_id % 100 = 0)
       |SELECT l0.query_id, k.vec_id, ($adist)::BIGINT AS adist
       |FROM k $joins
       |WHERE k.vec_id <> l0.query_id
       |QUALIFY row_number() OVER (PARTITION BY l0.query_id
       |                           ORDER BY ($adist)::BIGINT, k.vec_id) <= 10""".stripMargin
  }

  /** Partial IVF+PQ probe: coarse assignment (the kmeans-assign CTEs), the
    * query's nprobe=4 cell ranking, and ADC restricted to vectors in the
    * probed cells — every stage exact-integer, so the pruned search
    * hash-matches. The coarse quantizer and the PQ codebook draw the SAME 16
    * md5-ordered seeds here (nlist = ksub = 16), exactly as the engine does.
    *
    * `live` CTE (r11 sf1 catch): the engine's `.cells`/`.seeds` sidecars
    * keep one cell per DISTINCT seed vector — when the corpus contains
    * exact clones, a duplicate seed's cell is EMPTY (every vector ties to
    * the smaller-id twin) and the engine never spends a probe slot on it;
    * the oracle's probe ranking must rank over the same live universe or a
    * phantom-cell probe silently shrinks its candidate pool.
    */
  private val ivfPqProbeOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64").mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |cd AS (SELECT q.vec_id, s.seed_id,
       |         list_sum(list_transform(list_zip(q.qv, s.sv),
       |                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
       |       FROM q, seeds s),
       |cells AS (SELECT vec_id, seed_id AS cell FROM (
       |            SELECT vec_id, seed_id, row_number() OVER
       |              (PARTITION BY vec_id ORDER BY dist2, seed_id) AS rn
       |            FROM cd) WHERE rn = 1),
       |live AS (SELECT min(seed_id) AS seed_id FROM seeds GROUP BY sv),
       |probe AS (SELECT cd.seed_id AS cell
       |          FROM cd JOIN live ON live.seed_id = cd.seed_id
       |          WHERE vec_id = 0 ORDER BY dist2, cd.seed_id LIMIT 4),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT r, ${(0 until 8).map(j => s"d$j").mkString(", ")}
       |       FROM d WHERE vec_id = 0)
       |SELECT k.vec_id, ($adist)::BIGINT AS adist
       |FROM k $joins
       |JOIN cells c ON c.vec_id = k.vec_id
       |WHERE k.vec_id <> 0 AND c.cell IN (SELECT cell FROM probe)
       |ORDER BY adist, k.vec_id LIMIT 20""".stripMargin
  }

  /** Two-stage refinement: ivfPqProbeOracle's partial-probe ADC as a
    * 50-candidate CTE, then the exact quantized-L2 re-rank of only those
    * ids — stage scores both carried, ordered by the exact distance.
    */
  private val ivfPqRerankOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64").mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |cd AS (SELECT q.vec_id, s.seed_id,
       |         list_sum(list_transform(list_zip(q.qv, s.sv),
       |                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
       |       FROM q, seeds s),
       |cells AS (SELECT vec_id, seed_id AS cell FROM (
       |            SELECT vec_id, seed_id, row_number() OVER
       |              (PARTITION BY vec_id ORDER BY dist2, seed_id) AS rn
       |            FROM cd) WHERE rn = 1),
       |live AS (SELECT min(seed_id) AS seed_id FROM seeds GROUP BY sv),
       |probe AS (SELECT cd.seed_id AS cell
       |          FROM cd JOIN live ON live.seed_id = cd.seed_id
       |          WHERE vec_id = 0 ORDER BY dist2, cd.seed_id LIMIT 4),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT r, ${(0 until 8).map(j => s"d$j").mkString(", ")}
       |       FROM d WHERE vec_id = 0),
       |cand AS (SELECT k.vec_id, ($adist)::BIGINT AS adist
       |         FROM k $joins
       |         JOIN cells c ON c.vec_id = k.vec_id
       |         WHERE k.vec_id <> 0 AND c.cell IN (SELECT cell FROM probe)
       |         ORDER BY adist, k.vec_id LIMIT 50)
       |SELECT cand.vec_id, cand.adist,
       |  list_sum(list_transform(list_zip(q.qv, qq.qv),
       |           p -> (p[1]-p[2])*(p[1]-p[2])))::BIGINT AS edist
       |FROM cand
       |JOIN q ON q.vec_id = cand.vec_id
       |CROSS JOIN (SELECT qv FROM q WHERE vec_id = 0) qq
       |ORDER BY edist, cand.vec_id LIMIT 10""".stripMargin
  }

  /** Batch partial probe: ivfPqProbeOracle with per-query probe sets and
    * LUTs (vec_id % 100 = 0 rows are the queries) and a per-query top-10 —
    * the multi-query generalization, every stage still exact-integer.
    */
  private val ivfPqProbeBatchOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64" +
        (if (j > 0) s" AND l$j.query_id = l0.query_id" else "")).mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |cd AS (SELECT q.vec_id, s.seed_id,
       |         list_sum(list_transform(list_zip(q.qv, s.sv),
       |                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
       |       FROM q, seeds s),
       |cells AS (SELECT vec_id, seed_id AS cell FROM (
       |            SELECT vec_id, seed_id, row_number() OVER
       |              (PARTITION BY vec_id ORDER BY dist2, seed_id) AS rn
       |            FROM cd) WHERE rn = 1),
       |live AS (SELECT min(seed_id) AS seed_id FROM seeds GROUP BY sv),
       |probe AS (SELECT vec_id AS query_id, seed_id AS cell FROM (
       |            SELECT cd.vec_id, cd.seed_id, row_number() OVER
       |              (PARTITION BY cd.vec_id ORDER BY cd.dist2, cd.seed_id) AS rn
       |            FROM cd JOIN live ON live.seed_id = cd.seed_id
       |            WHERE cd.vec_id % 100 = 0) WHERE rn <= 4),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT vec_id AS query_id, r,
       |         ${(0 until 8).map(j => s"d$j").mkString(", ")}
       |       FROM d WHERE vec_id % 100 = 0)
       |SELECT l0.query_id, k.vec_id, ($adist)::BIGINT AS adist
       |FROM k $joins
       |JOIN cells c ON c.vec_id = k.vec_id
       |JOIN probe p ON p.query_id = l0.query_id AND p.cell = c.cell
       |WHERE k.vec_id <> l0.query_id
       |QUALIFY row_number() OVER (PARTITION BY l0.query_id
       |                           ORDER BY ($adist)::BIGINT, k.vec_id) <= 10""".stripMargin
  }

  /** Batch two-stage refinement: ivfPqProbeBatchOracle's per-query partial
    * probe as a 50-candidate-per-query CTE, then the exact quantized-L2
    * re-rank of each query's candidates — the multi-query generalization of
    * ivfPqRerankOracle, per-query top-10 by the exact distance.
    */
  private val ivfPqRerankBatchOracle: String = {
    val dists = (0 until 8).map { j =>
      val lo = j * 8 + 1; val hi = j * 8 + 8
      s"list_sum(list_transform(list_zip(q.qv[$lo:$hi], s.sv[$lo:$hi]), " +
        s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS d$j"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"min(d$j * 64 + r) AS k$j").mkString(", ")
    val joins = (0 until 8).map(j =>
      s"JOIN lq l$j ON l$j.r = k.k$j::BIGINT % 64" +
        (if (j > 0) s" AND l$j.query_id = l0.query_id" else "")).mkString(" ")
    val adist = (0 until 8).map(j => s"l$j.d$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |seeds AS (SELECT vec_id AS seed_id, qv AS sv,
       |            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS r
       |          FROM (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
       |cd AS (SELECT q.vec_id, s.seed_id,
       |         list_sum(list_transform(list_zip(q.qv, s.sv),
       |                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
       |       FROM q, seeds s),
       |cells AS (SELECT vec_id, seed_id AS cell FROM (
       |            SELECT vec_id, seed_id, row_number() OVER
       |              (PARTITION BY vec_id ORDER BY dist2, seed_id) AS rn
       |            FROM cd) WHERE rn = 1),
       |live AS (SELECT min(seed_id) AS seed_id FROM seeds GROUP BY sv),
       |probe AS (SELECT vec_id AS query_id, seed_id AS cell FROM (
       |            SELECT cd.vec_id, cd.seed_id, row_number() OVER
       |              (PARTITION BY cd.vec_id ORDER BY cd.dist2, cd.seed_id) AS rn
       |            FROM cd JOIN live ON live.seed_id = cd.seed_id
       |            WHERE cd.vec_id % 100 = 0) WHERE rn <= 4),
       |d AS (SELECT q.vec_id, s.r, $dists FROM q, seeds s),
       |k AS (SELECT vec_id, $keys FROM d GROUP BY 1),
       |lq AS (SELECT vec_id AS query_id, r,
       |         ${(0 until 8).map(j => s"d$j").mkString(", ")}
       |       FROM d WHERE vec_id % 100 = 0),
       |cand AS (SELECT l0.query_id, k.vec_id, ($adist)::BIGINT AS adist
       |         FROM k $joins
       |         JOIN cells c ON c.vec_id = k.vec_id
       |         JOIN probe p ON p.query_id = l0.query_id AND p.cell = c.cell
       |         WHERE k.vec_id <> l0.query_id
       |         QUALIFY row_number() OVER (PARTITION BY l0.query_id
       |                 ORDER BY ($adist)::BIGINT, k.vec_id) <= 50)
       |SELECT cand.query_id, cand.vec_id, cand.adist,
       |  list_sum(list_transform(list_zip(cv.qv, qq.qv),
       |           p -> (p[1]-p[2])*(p[1]-p[2])))::BIGINT AS edist
       |FROM cand
       |JOIN q cv ON cv.vec_id = cand.vec_id
       |JOIN q qq ON qq.vec_id = cand.query_id
       |QUALIFY row_number() OVER (PARTITION BY cand.query_id
       |        ORDER BY edist, cand.vec_id) <= 10""".stripMargin
  }

  /** Shared DuckDB CTE chain: the urlFixture derivation + the canonicalUrl
    * rule pipeline (fragment strip, scheme/host lowercase, default-port drop,
    * empty path → '/', tracking-param drop + param sort). Ends with a `canon`
    * relation (doc_id, url_canon, host).
    */
  /** The urlFixture derivation as a SQL expression (over documents columns
    * doc_id, source) — shared by the canonicalization CTE and the WARC
    * record fixture.
    */
  private val urlDerivSql: String =
    """(CASE doc_id % 3 WHEN 0 THEN 'HTTPS://' WHEN 1 THEN 'https://' ELSE 'http://' END) ||
      |  'WWW.' || source || '.Example.COM' ||
      |  (CASE doc_id % 3 WHEN 0 THEN ':443' WHEN 2 THEN ':80' ELSE '' END) ||
      |  (CASE WHEN doc_id % 4 = 2 THEN '' ELSE '/articles/' || (doc_id // 5) END) ||
      |  (CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&b=2&a=1#frag' || doc_id
      |                   WHEN 1 THEN '?a=1&b=2'
      |                   WHEN 2 THEN '#top'
      |                   ELSE '?b=2&utm_campaign=x&gclid=abc&a=1' END)""".stripMargin

  private val urlCanonCte: String =
    "WITH " + urlCanonCtesFrom("documents")

  /** [[urlCanonCte]]'s CTE list (u, c1..c5, canon) WITHOUT the leading WITH
    * and with the source relation a parameter — the incremental e2e oracle
    * runs the same canonicalization over documents ∪ planted quotes.
    */
  private def urlCanonCtesFrom(rel: String): String =
    s"u AS (SELECT doc_id,\n  $urlDerivSql AS url\n  FROM $rel),\n" +
      urlCanonChainSql

  /** The canonicalization chain (c1..c5, canon) over whatever CTE `u`
    * provides as (doc_id, url) — shared by the fixture-derived form above
    * and the discovery composition, so the algebra cannot fork.
    */
  private lazy val urlCanonChainSql: String =
    """c1 AS (SELECT doc_id, regexp_replace(trim(url), '(?s)#.*', '') AS nf FROM u),
      |c2 AS (SELECT doc_id,
      |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |  regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM c1),
      |c3 AS (SELECT doc_id, sch,
      |  lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1), '^[^@]*@', '')) AS hp,
      |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM c2),
      |c4 AS (SELECT doc_id, sch,
      |  CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |       WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |       ELSE hp END AS host,
      |  regexp_extract(pathq, '^([^?]*)', 1) AS rawpath, pathq FROM c3),
      |c5 AS (SELECT doc_id, sch, host,
      |  CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
      |  list_sort(list_filter(
      |    string_split(regexp_replace(regexp_replace(pathq, '^[^?]*', ''), '^\?', ''), '&'),
      |    p -> length(p) > 0 AND
      |         NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref|mc_cid|mc_eid)(=.*)?$'))) AS ps
      |  FROM c4),
      |canon AS (SELECT doc_id,
      |  (CASE WHEN sch <> '' THEN sch || '://' ELSE '' END) || host || path ||
      |  (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END) AS url_canon,
      |  host
      |  FROM c5)""".stripMargin

  /** Ground-truth robots rule sets per host for agent "graftbot", DERIVED
    * from the [[robotsFixture]] recipe (a function of the source suffix),
    * not by re-running the parser. Defines CTEs rs/rh/gr.
    */
  private val robotsGroundCte: String =
    """rs AS (SELECT DISTINCT source,
      |  CAST(substr(source, 4) AS INT) AS n FROM documents),
      |rh AS (SELECT 'www.' || source || '.example.com' AS host, n
      |       FROM rs WHERE n % 5 <> 0),
      |gr AS (
      |  SELECT host, false AS allow, '/articles/1' AS prefix FROM rh WHERE n % 2 = 1
      |  UNION ALL SELECT host, true, '/articles/12' FROM rh WHERE n % 2 = 1
      |  UNION ALL SELECT host, false, '/articles/' FROM rh WHERE n % 2 = 0
      |  UNION ALL SELECT host, true, '/articles/2' FROM rh WHERE n % 2 = 0
      |  UNION ALL SELECT host, true, '/articles/3' FROM rh WHERE n % 2 = 0
      |  UNION ALL SELECT host, false, '/articles/3' FROM rh WHERE n % 2 = 0)""".stripMargin

  /** Per-doc robots verdict riding [[urlCanonCte]]'s parse (c4 carries the
    * canonical host + raw path?query) and [[robotsGroundCte]]'s rules:
    * longest matching prefix wins, allow beats disallow on a tie, encoded
    * as one integer argmax. Defines CTEs tg/rm; the verdict is
    * `best IS NULL OR best % 2 = 1` over rm.
    */
  private val robotsVerdictCte: String =
    """tg AS (SELECT doc_id, host,
      |  CASE WHEN starts_with(pathq, '/') THEN pathq ELSE '/' || pathq END AS target
      |  FROM c4),
      |rm AS (SELECT tg.doc_id, tg.host,
      |  max(CASE WHEN g.prefix IS NOT NULL AND starts_with(tg.target, g.prefix)
      |      THEN length(g.prefix) * 2 + (CASE WHEN g.allow THEN 1 ELSE 0 END) END) AS best
      |  FROM tg LEFT JOIN gr g ON g.host = tg.host
      |  GROUP BY 1, 2)""".stripMargin

  /** The htmlFixture derivation as a SQL select-list fragment (from a
    * documents-shaped relation aliased in context).
    */
  private val htmlDerivSql: String =
    """'<html><head><title>Doc ' || doc_id || ' index</title><style media="all">body { margin: 0; }</style>' ||
      |  '<script type="text/javascript">var x = 1 < 2 && 2 > 1;</script></head>' ||
      |  '<body><nav>Home About Contact</nav><h1>Document heading for item ' || doc_id ||
      |  '</h1><p>' || replace(coalesce(text, ''), '. ', '.</p><p>') ||
      |  '</p><div class="footer">&copy; 2026 Example &amp; Sons &lt;contact&gt; page</div>' ||
      |  '<ul><li>one</li><li>two</li></ul></body></html>' AS html""".stripMargin

  /** The htmlExtract rule pipeline as CTEs over a prior `h(doc_id, html)`
    * relation, ending in `k(doc_id, ls, ks)` — shared by the standalone and
    * composed-pipeline oracles.
    */
  private val htmlRulesCte: String =
    """s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
      |s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(t,
      |  '(?i)<(br|hr)[^>]*>|</(p|div|li|h1|h2|h3|h4|h5|h6|tr|table|ul|ol|blockquote|section|article|header|footer|nav|title)[^>]*>',
      |  chr(10), 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
      |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      |  '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
      |ln AS (SELECT doc_id, list_transform(string_split(t, chr(10)),
      |  l -> trim(regexp_replace(l, '\s+', ' ', 'g'))) AS ls FROM s5),
      |k AS (SELECT doc_id, ls, list_filter(ls,
      |  l -> len(list_filter(string_split(l, ' '), w -> length(w) > 0)) >= 5) AS ks FROM ln)""".stripMargin

  /** The quality-classifier training loop unrolled as DuckDB CTEs — 3
    * gradient-descent iterations over hashed word-presence features, the
    * whole loop in 1e-6 fixed-point BIGINT arithmetic with the algebraic
    * sigmoid 0.5 + z/(2(1+|z|)) — NO transcendental, so the oracle result
    * cannot depend on the oracle engine's libm build (the round-8 red:
    * round(exp(z), 6) flipped a 6th decimal between DuckDB builds). Integer
    * `//` runs on non-negative operands only (truncation = floor there),
    * mirroring the engine's `div` bit-for-bit. `trainWhere` restricts the
    * TRAINING half (labels, features, gradient); scoring always covers the
    * whole corpus with features over all docs — the engine's score() shape.
    */
  private def clfCoreCte(trainWhere: String,
      bigrams: Boolean = false): String = {
    val iters = (1 to 3).map { k =>
      s"""s$k AS (SELECT doc_id, sum(w6)::BIGINT AS s6 FROM f JOIN w${k - 1} USING (f) GROUP BY doc_id),
         |z$k AS (SELECT d.doc_id, d.y6, ((SELECT b6 FROM b${k - 1}) + coalesce(s.s6, 0))::BIGINT AS z6
         |       FROM d LEFT JOIN s$k s USING (doc_id)),
         |e$k AS (SELECT doc_id, ((500000 + (CASE WHEN z6 < 0 THEN -1 ELSE 1 END) *
         |        ((abs(z6) * 1000000) // (2000000 + 2 * abs(z6)))) - y6)::BIGINT AS err6 FROM z$k),
         |g$k AS (SELECT f, sum(err6)::BIGINT AS g6 FROM f JOIN e$k USING (doc_id) GROUP BY f),
         |w$k AS (SELECT w.f, (w.w6 - (CASE WHEN coalesce(g.g6, 0) < 0 THEN -1 ELSE 1 END) *
         |        ((abs(coalesce(g.g6, 0)) * 500000) // (nn.n * 1000000)))::BIGINT AS w6
         |       FROM w${k - 1} w LEFT JOIN g$k g USING (f) CROSS JOIN nn),
         |b$k AS (SELECT (b.b6 - (SELECT (CASE WHEN q.se < 0 THEN -1 ELSE 1 END) *
         |        ((abs(q.se) * 500000) // (nn.n * 1000000))
         |        FROM (SELECT sum(err6)::BIGINT AS se FROM e$k) q, nn))::BIGINT AS b6 FROM b${k - 1} b),""".stripMargin
    }.mkString("\n")
    val gramSrc =
      if (bigrams)
        """SELECT doc_id, unnest(ws) AS w FROM base
          |       UNION ALL
          |       SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS w
          |       FROM base, range(1, 100000) r(i) WHERE i <= len(ws) - 1""".stripMargin
      else "SELECT doc_id, unnest(ws) AS w FROM base"
    s"""WITH base AS (SELECT doc_id, lang,
       |  list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
       |              x -> length(x) > 0) AS ws
       |  FROM documents),
       |fall AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS f
       |      FROM ($gramSrc) t),
       |d AS (SELECT doc_id,
       |  (CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END)::BIGINT AS y6
       |  FROM base $trainWhere),
       |f AS (SELECT fall.doc_id, fall.f FROM fall JOIN d USING (doc_id)),
       |nn AS (SELECT count(*)::BIGINT AS n FROM d),
       |w0 AS (SELECT range AS f, 0::BIGINT AS w6 FROM range(0, 256)),
       |b0 AS (SELECT 0::BIGINT AS b6),
       |$iters
       |sF AS (SELECT doc_id, sum(w6)::BIGINT AS s6 FROM fall JOIN w3 USING (f) GROUP BY doc_id),
       |t AS (SELECT base.doc_id,
       |  ((SELECT b6 FROM b3) + coalesce(s.s6, 0))::BIGINT AS t6
       |  FROM base LEFT JOIN sF s USING (doc_id))""".stripMargin
  }

  private def clfOracleSql(trainWhere: String,
      bigrams: Boolean = false): String =
    clfCoreCte(trainWhere, bigrams) + "\n" +
      """SELECT doc_id, t6::BIGINT AS score_e6, (t6 > 0) AS pred
        |FROM t""".stripMargin

  /** Confusion grid + floor-quantized precision/recall/F1 over the scored
    * corpus vs the lang='en' label — the [[clfCoreCte]] margins through the
    * engine's exact integer metric arithmetic (all `//` on non-negative
    * operands).
    */
  private def clfEvalOracleSql(thr6s: Seq[Long]): String =
    clfCoreCte("WHERE doc_id < 250") + ",\n" +
      s"""lbl AS (SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y FROM base),
         |th(thr6) AS (VALUES ${thr6s.map(t => s"($t)").mkString(", ")}),
         |cm AS (SELECT thr6,
         |  sum(CASE WHEN t6 > thr6 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
         |  sum(CASE WHEN t6 > thr6 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
         |  sum(CASE WHEN t6 <= thr6 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
         |  sum(CASE WHEN t6 <= thr6 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
         |  FROM t JOIN lbl USING (doc_id) CROSS JOIN th GROUP BY thr6)
         |SELECT thr6::BIGINT AS threshold_e6, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |       ELSE ((tp * 10000) // (tp + fp)) / 10000.0 END AS precision,
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |       ELSE ((tp * 10000) // (tp + fn)) / 10000.0 END AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
         |       ELSE ((2 * tp * 10000) // (2 * tp + fp + fn)) / 10000.0 END AS f1
         |FROM cm""".stripMargin

  /** Calibration buckets: the algebraic-sigmoid probability of each margin
    * (1e-6 fixed point, no libm) cut into equal bins, with per-bin count,
    * positive count, floor-mean probability and observed positive fraction.
    */
  private def clfCalibrationOracleSql(nBins: Int): String =
    clfCoreCte("WHERE doc_id < 250") + ",\n" +
      s"""lbl AS (SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y FROM base),
         |pb AS (SELECT t.doc_id, y,
         |  (500000 + (CASE WHEN t6 < 0 THEN -1 ELSE 1 END) *
         |   ((abs(t6) * 1000000) // (2000000 + 2 * abs(t6))))::BIGINT AS p6
         |  FROM t JOIN lbl USING (doc_id)),
         |cb AS (SELECT ((p6 * $nBins) // 1000000)::INTEGER AS bin,
         |  count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos, sum(p6)::BIGINT AS sp6
         |  FROM pb GROUP BY 1)
         |SELECT bin, n, n_pos, (sp6 // n)::BIGINT AS mean_p6,
         |  ((n_pos * 10000) // n) / 10000.0 AS frac_pos
         |FROM cb""".stripMargin

  /** Tie-aware Mann-Whitney AUC restated: per-distinct-sigmoid-probability
    * class counts, a cumulative negatives-below window, and the 2×-unit
    * statistic in HUGEINT — `//` on non-negative operands mirroring the
    * engine's decimal IntegralDivide.
    */
  private def clfAucOracleSql: String =
    clfCoreCte("WHERE doc_id < 250") + ",\n" +
      """lbl AS (SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y FROM base),
        |pb AS (SELECT (500000 + (CASE WHEN t6 < 0 THEN -1 ELSE 1 END) *
        |  ((abs(t6) * 1000000) // (2000000 + 2 * abs(t6))))::BIGINT AS p6, y
        |  FROM t JOIN lbl USING (doc_id)),
        |ps AS (SELECT p6, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn
        |  FROM pb GROUP BY 1),
        |cs AS (SELECT p6, np, nn, coalesce(sum(nn) OVER
        |  (ORDER BY p6 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  0)::BIGINT AS nbelow FROM ps),
        |ag AS (SELECT sum(np)::HUGEINT AS p, sum(nn)::HUGEINT AS n,
        |  sum(np::HUGEINT * (2 * nbelow::HUGEINT + nn))::HUGEINT AS u2 FROM cs)
        |SELECT p::BIGINT AS n_pos, n::BIGINT AS n_neg,
        |  u2::BIGINT AS u2,
        |  CASE WHEN p = 0 OR n = 0 THEN 0.0
        |       ELSE ((u2 * 1000000) // (2 * p * n)) / 1000000.0 END AS auc
        |FROM ag""".stripMargin

  /** url-dedup → html-extract → line gate → exact dedup, the crawl front
    * half — shared verbatim by q_pipeline_web (from the documents table) and
    * q_pipeline_crawl (the same records round-tripped through GWARC bytes).
    */
  /** The crawl-front-half CTE chain (url dedup → extraction → density gate
    * → exact dedup): ends at g (kept docs with extracted text) and surv
    * (exact-dedup survivors). Shared by the web/crawl pipeline oracles and
    * the end-to-end chain.
    */
  private lazy val pipelineWebCtes: String =
    urlCanonCte + ",\n" +
      "keep AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY url_canon),\n" +
      s"h AS (SELECT d.doc_id,\n  $htmlDerivSql FROM documents d JOIN keep USING (doc_id)),\n" +
      htmlRulesCte + ",\n" +
      """ex AS (SELECT doc_id, array_to_string(ks, chr(10)) AS text,
        |  len(ks)::INTEGER AS n_kept FROM k),
        |g AS (SELECT doc_id, text FROM ex WHERE n_kept >= 2),
        |surv AS (SELECT min(doc_id) AS doc_id FROM
        |  (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM g) q
        |  GROUP BY fp)""".stripMargin

  private lazy val pipelineWebOracle: String =
    pipelineWebCtes + "\nSELECT g.doc_id, g.text FROM g JOIN surv USING (doc_id)"

  /** The Gopher rule chain as CTEs over a relation d(doc_id, t): defines
    * w/m/r, where r carries n + the seven ok_ flags — shared by the gate
    * oracle and the tagger oracle. MINW is substituted (placeholder instead
    * of s-interpolation so the regex backslashes stay literal).
    */
  private def gopherRulesSqlCte(minWords: Int): String =
    """w AS (SELECT doc_id, t,
      |  list_filter(string_split_regex(lower(t), '\s+'), x -> length(x) > 0) AS ws FROM d),
      |m AS (SELECT doc_id,
      |  len(ws)::BIGINT AS n,
      |  coalesce(list_aggregate(list_transform(ws, x -> length(x)::BIGINT), 'sum'), 0)::BIGINT AS total,
      |  (length(t) - length(replace(t, '#', '')))::BIGINT AS hashes,
      |  ((length(t) - length(replace(t, '...', ''))) // 3)::BIGINT AS dots,
      |  list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
      |              l -> length(l) > 0) AS lines,
      |  len(list_filter(ws, x -> regexp_matches(x, '\p{L}')))::BIGINT AS alpha,
      |  len(list_intersect(list_distinct(ws),
      |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS nstops
      |  FROM w),
      |r AS (SELECT doc_id, n,
      |  (n BETWEEN MINW AND 100000) AS ok_word_count,
      |  (3 * n <= total AND total <= 10 * n) AS ok_mean_word_len,
      |  (10 * (hashes + dots) <= n) AS ok_symbol_ratio,
      |  (10 * len(list_filter(lines, l -> substr(l, 1, 1) IN ('•', '‣', '-', '*')))::BIGINT
      |     <= 9 * len(lines)::BIGINT) AS ok_bullet_lines,
      |  (10 * len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…')))::BIGINT
      |     <= 3 * len(lines)::BIGINT) AS ok_ellipsis_lines,
      |  (10 * alpha >= 8 * n) AS ok_alpha_words,
      |  (nstops >= 2) AS ok_stop_words
      |  FROM m)""".stripMargin.replace("MINW", minWords.toString)

  /** The C4 line-rule chain as a CTE over d(doc_id, t): defines k with the
    * kept-line list `ks`; MINLW substituted like MINW above. The doc-level
    * verdict stays in the consuming SELECT (it reads both `ks` and raw `t`).
    */
  private def c4RulesSqlCte(minLineWords: Int): String =
    """k AS (SELECT doc_id, t,
      |  list_filter(list_transform(string_split(t, chr(10)),
      |    l -> trim(regexp_replace(l, '\s+', ' ', 'g'))),
      |    l -> (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '"'))
      |      AND len(list_filter(string_split(l, ' '), x -> length(x) > 0)) >= MINLW
      |      AND NOT contains(lower(l), 'javascript')) AS ks
      |  FROM d)""".stripMargin.replace("MINLW", minLineWords.toString)

  /** BM25 CTE chain over `documents` for a literal term set — ends at
    * sc(doc_id, term, idf6, tfq6); the final per-doc aggregation lives in
    * [[bm25FinalSelect]]. Shared by the BM25 oracle, its batch form, and
    * the RRF fusion oracle.
    */
  private def bm25Ctes(terms: Seq[String], where: String = "",
      src: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""w AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
      |              x -> length(x) > 0) AS ws FROM $src $where),
      |st AS (SELECT count(*) AS nd, coalesce(sum(len(ws)), 0)::BIGINT AS ltot FROM w),
      |tok AS (SELECT doc_id, ws[i] AS term
      |        FROM w, range(1, 100000) r(i) WHERE i <= len(ws)),
      |qt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
      |       WHERE term IN ($inList) GROUP BY 1, 2),
      |dfp AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok
      |        WHERE term IN ($inList) GROUP BY 1),
      |dls AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM w),
      |sc AS (SELECT qt.doc_id, qt.term,
      |""".stripMargin +
      s"  CAST(floor((${PortableLog.lnSql("(2*nd + 2)")} - " +
      s"${PortableLog.lnSql("(2*df + 1)")}) * 1000000.0::DOUBLE) AS BIGINT) AS idf6,\n" +
      """|  (22 * qt.tf * 1000000) // (10 * qt.tf + 3 + (9 * dls.dl * st.nd) // st.ltot) AS tfq6
      |  FROM qt JOIN dfp USING (term) JOIN dls USING (doc_id), st)""".stripMargin
  }

  private val bm25FinalSelect: String =
    """SELECT doc_id, sum((idf6 * tfq6) // 1000000)::BIGINT AS bm25_e6
      |FROM sc GROUP BY 1""".stripMargin

  /** The sentenceFixture derivation as a SQL fragment (over documents). */
  private val sentenceDerivSql: String =
    """'We observe that ' || substr(coalesce(text, ''), 1, 40) ||
      |  ' holds.' || chr(10) || 'It follows that ' || substr(coalesce(text, ''), 41, 40) ||
      |  ' matters!' || chr(10) || 'Finally ' || substr(coalesce(text, ''), 81, 40) ||
      |  ' ends.' || chr(10) ||
      |  'no terminal punctuation on this line' || chr(10) ||
      |  'this line mentions javascript libraries in detail today.' ||
      |  (CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'curly { brace }' ELSE '' END)""".stripMargin

  /** Ground-truth derivation of [[linkHtmlFixture]]'s kept links — computed
    * straight from doc_id/source, NOT by re-running the regex pipeline, so a
    * hash match proves extraction+resolution against an independent
    * restatement. Kept per doc: two absolute src-cluster links (the second
    * with its `&amp;` decoded), the protocol-relative hub link resolved with
    * the page's own scheme, the root-relative `/local/…` link resolved to
    * the page's own host; the fragment/mailto/javascript/relative anchors
    * produce no rows.
    */
  private val linkDerivCte: String =
    """lk AS (SELECT doc_id,
      |  'www.' || lower(source) || '.example.com' AS src_host,
      |  (CASE WHEN doc_id % 3 = 2 THEN 'http' ELSE 'https' END) AS sch
      |  FROM documents),
      |links AS (
      |  SELECT doc_id, src_host,
      |    'https://www.src' || ((doc_id + 1) % 5) || '.example.com/a/' || (doc_id % 7) AS dst_url,
      |    'www.src' || ((doc_id + 1) % 5) || '.example.com' AS dst_host FROM lk
      |  UNION ALL
      |  SELECT doc_id, src_host,
      |    'https://www.src' || ((doc_id + 2) % 5) || '.example.com/b?x=1&y=2',
      |    'www.src' || ((doc_id + 2) % 5) || '.example.com' FROM lk
      |  UNION ALL
      |  SELECT doc_id, src_host,
      |    sch || '://www.hub.example.com/h/' || (doc_id % 3),
      |    'www.hub.example.com' FROM lk
      |  UNION ALL
      |  SELECT doc_id, src_host,
      |    sch || '://' || src_host || '/local/' || (doc_id % 4),
      |    src_host FROM lk)""".stripMargin

  /** Links.pageRank restated: 3 unrolled iterations of the 1e-12 fixed-point
    * recurrence, every step BIGINT `//` on non-negative operands (truncation
    * = floor there) — bit-identical to the engine's `div` by construction,
    * zero libm surface (BASELINE.md "oracle-engine portability").
    */
  /** The fixed-point PageRank CTE chain over linkDerivCte's `links` — ends
    * at r3 (host, rank after 3 iterations). Shared by the pagerank oracle
    * and the ranked-frontier composition.
    */
  /** Similarity.mmrTopK restated: the top-20 pool by floor-4dp cosine, then
    * k greedy steps unrolled — step 1 is pure λ·rel; each later step's mmr
    * subtracts μ·max-sim-to-the-selected-set via a correlated subquery over
    * the (bounded) sel chain; ties ORDER BY (mmr DESC, vec_id).
    */
  private val mmrOracleSql: String = {
    val k = 5; val lam = 7000L; val mu = 3000L
    val sim =
      "floor(list_cosine_similarity(p.embedding::DOUBLE[], s.embedding::DOUBLE[]) * 10000)::BIGINT"
    val steps = new StringBuilder
    steps ++=
      s"""s1 AS (SELECT vec_id, rel4, embedding, $lam * rel4 AS mmr, 1 AS rank
         |  FROM p ORDER BY $lam * rel4 DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id, embedding FROM s1)"""
    for (i <- 2 to k) {
      steps ++=
        s""",
           |c$i AS (SELECT p.vec_id, p.rel4, p.embedding,
           |  $lam * p.rel4 - $mu * (SELECT max($sim) FROM sel${i - 1} s) AS mmr
           |  FROM p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
           |s$i AS (SELECT vec_id, rel4, embedding, mmr, $i AS rank FROM c$i
           |  ORDER BY mmr DESC, vec_id LIMIT 1),
           |sel$i AS (SELECT vec_id, embedding FROM sel${i - 1}
           |  UNION ALL SELECT vec_id, embedding FROM s$i)"""
    }
    val unions = (1 to k)
      .map(i => s"SELECT rank, vec_id, rel4, mmr FROM s$i")
      .mkString("\n|", "\n|UNION ALL\n|", "")
    (s"""WITH p AS (SELECT b.vec_id,
        |    floor(list_cosine_similarity(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) * 10000)::BIGINT AS rel4,
        |    b.embedding
        |  FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE b.vec_id <> 0 AND b.embedding IS NOT NULL
        |  ORDER BY rel4 DESC, b.vec_id LIMIT 20),
        |""" + steps.toString + unions).stripMargin
  }

  /** Similarity.mmrTopKBatch restated: per-query pools via QUALIFY
    * row_number ≤ poolSize, then the k greedy steps unrolled with
    * per-query partitioned argmax and a max-sim join against the growing
    * per-query sel chain.
    */
  private val mmrBatchOracleSql: String = {
    val k = 3; val lam = 7000L; val mu = 3000L
    val simPS =
      "floor(list_cosine_similarity(p2.embedding::DOUBLE[], s.embedding::DOUBLE[]) * 10000)::BIGINT"
    val sb = new StringBuilder
    sb ++=
      s"""s1 AS (SELECT query_id, vec_id, rel4, embedding, $lam * rel4 AS mmr, 1 AS rank FROM pr
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY $lam * rel4 DESC, vec_id) = 1),
         |sel1 AS (SELECT query_id, vec_id, embedding FROM s1)"""
    for (i <- 2 to k) {
      sb ++=
        s""",
           |mx$i AS (SELECT p2.query_id, p2.vec_id, max($simPS) AS m
           |  FROM pr p2 JOIN sel${i - 1} s USING (query_id) GROUP BY 1, 2),
           |c$i AS (SELECT p.query_id, p.vec_id, p.rel4, p.embedding,
           |    $lam * p.rel4 - $mu * mx.m AS mmr
           |  FROM pr p JOIN mx$i mx ON mx.query_id = p.query_id AND mx.vec_id = p.vec_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
           |                    WHERE s.query_id = p.query_id AND s.vec_id = p.vec_id)),
           |s$i AS (SELECT query_id, vec_id, rel4, embedding, mmr, $i AS rank FROM c$i
           |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id) = 1),
           |sel$i AS (SELECT query_id, vec_id, embedding FROM sel${i - 1}
           |  UNION ALL SELECT query_id, vec_id, embedding FROM s$i)"""
    }
    val unions = (1 to k)
      .map(i => s"SELECT query_id, rank, vec_id, rel4, mmr FROM s$i")
      .mkString("\n|", "\n|UNION ALL\n|", "")
    (s"""WITH qs AS (SELECT 'q' || vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id IN (0, 7)),
        |pr AS (SELECT q.query_id, b.vec_id,
        |    floor(list_cosine_similarity(b.embedding::DOUBLE[], q.qe::DOUBLE[]) * 10000)::BIGINT AS rel4,
        |    b.embedding
        |  FROM embeddings b, qs q WHERE b.embedding IS NOT NULL
        |  QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY rel4 DESC, b.vec_id) <= 10),
        |""" + sb.toString + unions).stripMargin
  }

  /** Links.labelPropagate restated: symmetrized distinct edge set, label =
    * self, then `rounds` synchronous adopt-the-majority-label steps with
    * the (max count, min label) tie rule — exact counting only, so the
    * unrolled CTEs hash-match the engine's loop.
    */
  private def lpaOracleFor(rounds: Int, weighted: Boolean = false): String = {
    val vote = if (weighted) "sum(e.w)" else "count(*)"
    val steps = (1 to rounds).map { k =>
      s"""c$k AS (SELECT e.b AS host, l.label, $vote::BIGINT AS cnt
         |  FROM l${k - 1} l JOIN e ON l.host = e.a GROUP BY 1, 2),
         |m$k AS (SELECT host, max(cnt) AS mc FROM c$k GROUP BY 1),
         |l$k AS (SELECT n.host, coalesce(w.nl, p.label) AS label
         |  FROM n JOIN l${k - 1} p USING (host)
         |  LEFT JOIN (SELECT c.host, min(c.label) AS nl
         |             FROM c$k c JOIN m$k m ON c.host = m.host AND c.cnt = m.mc
         |             GROUP BY 1) w USING (host))""".stripMargin
    }.mkString(",\n")
    val eCtes = if (weighted)
      """he AS (SELECT src_host AS a, dst_host AS b, count(*)::BIGINT AS w
        |       FROM links WHERE src_host <> dst_host GROUP BY 1, 2),
        |e AS (SELECT a, b, sum(w)::BIGINT AS w FROM
        |        (SELECT a, b, w FROM he UNION ALL SELECT b AS a, a AS b, w FROM he)
        |      GROUP BY 1, 2),""".stripMargin
    else
      """e0 AS (SELECT DISTINCT src_host AS a, dst_host AS b FROM links
        |       WHERE src_host <> dst_host),
        |e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),""".stripMargin
    s"""WITH $linkDerivCte,
       |$eCtes
       |n AS (SELECT DISTINCT a AS host FROM e),
       |l0 AS (SELECT host, host AS label FROM n),
       |$steps
       |SELECT host, label FROM l$rounds""".stripMargin
  }

  private val lpaOracleSql: String = lpaOracleFor(3)

  private val pageRankCtes: String = pageRankCtesN(3)

  /** Links.pageRankWeighted restated: per-source basis-point weight
    * quantization, div-then-sum contributions, 3 unrolled rounds — every
    * `//` on non-negative BIGINTs.
    */
  private val pageRankWeightedOracleSql: String = {
    def iter(k: Int): String =
      s"""c$k AS (SELECT ew.dst, sum((r${k - 1}.rank * ew.wq) // 10000) AS contrib
         |  FROM r${k - 1}
         |  JOIN ew ON ew.src = r${k - 1}.host
         |  GROUP BY 1),
         |r$k AS (SELECT n.host,
         |  CAST(1500 * 1000000000000 // (SELECT n FROM nn) // 10000
         |   + 8500 * coalesce(c$k.contrib, 0) // 10000 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$k ON c$k.dst = n.host)""".stripMargin
    s"WITH $linkDerivCte,\n" +
      """ww AS (SELECT src_host AS src, dst_host AS dst, count(*) AS w
        |  FROM links WHERE src_host <> dst_host GROUP BY 1, 2),
        |sw AS (SELECT src, sum(w) AS sw FROM ww GROUP BY 1),
        |ew AS (SELECT ww.src, ww.dst, (ww.w * 10000) // sw.sw AS wq
        |  FROM ww JOIN sw ON sw.src = ww.src),
        |nodes AS (SELECT src AS host FROM ew UNION SELECT dst FROM ew),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT host,
        |  CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank
        |  FROM nodes),""".stripMargin +
      "\n" + (1 to 3).map(iter).mkString(",\n") + "\n" +
      "SELECT r3.host, r3.rank FROM r3"
  }

  /** The pageRank CTE chain unrolled to `rounds` iterations — r3 feeds the
    * batch oracles, r5 pins pageRankFrom's resume ≡ continue equivalence.
    */
  private def pageRankCtesN(rounds: Int): String = {
    def iter(k: Int): String =
      s"""c$k AS (SELECT e.dst, sum(r${k - 1}.rank // deg.dg) AS contrib
         |  FROM r${k - 1}
         |  JOIN deg ON deg.src = r${k - 1}.host
         |  JOIN e ON e.src = r${k - 1}.host
         |  GROUP BY 1),
         |r$k AS (SELECT n.host,
         |  CAST(1500 * 1000000000000 // (SELECT n FROM nn) // 10000
         |   + 8500 * coalesce(c$k.contrib, 0) // 10000 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$k ON c$k.dst = n.host)""".stripMargin
    """e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM links
      |  WHERE src_host <> dst_host),
      |w AS (SELECT src_host, dst_host, count(*) AS nl FROM links
      |  WHERE src_host <> dst_host GROUP BY 1, 2),
      |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
      |r0 AS (SELECT host,
      |  CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank
      |  FROM nodes),""".stripMargin + "\n" +
      (1 to rounds).map(iter).mkString(",\n")
  }

  /** Links.trustRank restated: the pageRank recurrence with the teleport
    * term gated to the two-host seed set (mass base = Scale div Ns on
    * seeds, 0 elsewhere) — same all-BIGINT `//` discipline, zero libm.
    */
  private val trustRankOracleSql: String = {
    def iter(k: Int): String =
      s"""c$k AS (SELECT e.dst, sum(t${k - 1}.rank // deg.dg) AS contrib
         |  FROM t${k - 1}
         |  JOIN deg ON deg.src = t${k - 1}.host
         |  JOIN e ON e.src = t${k - 1}.host
         |  GROUP BY 1),
         |t$k AS (SELECT n.host,
         |  CAST(CASE WHEN s.host IS NOT NULL
         |    THEN 1500 * 1000000000000 // (SELECT n FROM sn) // 10000
         |    ELSE 0 END
         |   + 8500 * coalesce(c$k.contrib, 0) // 10000 AS BIGINT) AS rank
         |  FROM nodes n
         |  LEFT JOIN sg s ON s.host = n.host
         |  LEFT JOIN c$k ON c$k.dst = n.host)""".stripMargin
    s"WITH $linkDerivCte,\n" +
      """e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM links
        |  WHERE src_host <> dst_host),
        |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT * FROM (VALUES ('www.hub.example.com'),
        |  ('www.src0.example.com')) s(host)),
        |sg AS (SELECT n.host FROM nodes n JOIN seeds USING (host)),
        |sn AS (SELECT count(*) AS n FROM sg),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |t0 AS (SELECT n.host,
        |  CAST(CASE WHEN s.host IS NOT NULL
        |    THEN 1000000000000 // (SELECT n FROM sn) ELSE 0 END AS BIGINT)
        |    AS rank
        |  FROM nodes n LEFT JOIN sg s ON s.host = n.host),""".stripMargin +
      "\n" + (1 to 3).map(iter).mkString(",\n") + "\n" +
      """SELECT t3.host, t3.rank, (s.host IS NOT NULL) AS is_seed
        |FROM t3 LEFT JOIN sg s ON s.host = t3.host""".stripMargin
  }

  /** TextAnalysis.textRankKeywords restated: tokens with positions, the
    * window-2 co-occurrence edge set, and 3 unrolled PageRank rounds keyed
    * by (doc_id, word) — all-BIGINT `//` on non-negative operands, the
    * pageRank oracle discipline. Chained CTEs reference their predecessor
    * exactly once (the q_hits planner lesson); base CTEs re-inline
    * linearly in the round count.
    */
  private val textRankOracleSql: String = {
    def iter(k: Int): String =
      s"""c$k AS (SELECT r.doc_id, e.dst, sum(r.rank // d.dg) AS contrib
         |  FROM r${k - 1} r
         |  JOIN deg d ON d.doc_id = r.doc_id AND d.src = r.w
         |  JOIN e ON e.doc_id = r.doc_id AND e.src = r.w
         |  GROUP BY 1, 2),
         |r$k AS (SELECT n.doc_id, n.w,
         |  CAST(1500 * 1000000000000 // nd.n // 10000
         |    + 8500 * coalesce(c.contrib, 0) // 10000 AS BIGINT) AS rank
         |  FROM nodes n JOIN nd ON nd.doc_id = n.doc_id
         |  LEFT JOIN c$k c ON c.doc_id = n.doc_id AND c.dst = n.w)""".stripMargin
    """WITH tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> length(w) > 0) AS ws
      |  FROM documents WHERE doc_id < 100 AND text IS NOT NULL),
      |tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos,
      |  unnest(ws) AS w FROM tk),
      |pr AS (SELECT x.doc_id, x.w AS src, y.w AS dst FROM tok x
      |  JOIN tok y ON x.doc_id = y.doc_id
      |    AND y.pos - x.pos BETWEEN 1 AND 2 AND x.w <> y.w),
      |e AS (SELECT DISTINCT doc_id, src, dst FROM
      |  (SELECT doc_id, src, dst FROM pr
      |   UNION ALL SELECT doc_id, dst, src FROM pr)),
      |nodes AS (SELECT DISTINCT doc_id, w FROM tok),
      |nd AS (SELECT doc_id, count(*) AS n FROM nodes GROUP BY 1),
      |deg AS (SELECT doc_id, src, count(*) AS dg FROM e GROUP BY 1, 2),
      |r0 AS (SELECT n.doc_id, n.w,
      |  CAST(1000000000000 // nd.n AS BIGINT) AS rank
      |  FROM nodes n JOIN nd ON nd.doc_id = n.doc_id),""".stripMargin +
      "\n" + (1 to 3).map(iter).mkString(",\n") + "\n" +
      """SELECT doc_id, word, rank, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT r3.doc_id, r3.w AS word, r3.rank,
        |    row_number() OVER (PARTITION BY r3.doc_id
        |      ORDER BY r3.rank DESC, r3.w) AS rk
        |  FROM r3)
        |WHERE rk <= 10""".stripMargin
  }

  /** Links.hits restated: 3 unrolled iterations, authorities then hubs,
    * every score BIGINT and non-negative (truncation = floor both engines).
    * The per-half-step max-normalizer rides a `max() OVER ()` window INSIDE
    * the normalizing CTE — not a scalar subquery — so every CTE is
    * referenced exactly once and the oracle engine's CTE inlining stays
    * linear (the scalar-subquery form doubles each level's references and
    * its planner blows up exponentially across the unrolled rounds;
    * observed as a multi-minute hang, not a theory).
    */
  private val hitsOracleSql: String = {
    def iter(k: Int): String =
      s"""ra$k AS (SELECT e.dst, sum(h.s) AS raw FROM e
         |  JOIN h${k - 1} h ON h.host = e.src GROUP BY 1),
         |a$k AS (SELECT n.host,
         |  CAST(coalesce(r.raw, 0)
         |    // greatest(max(coalesce(r.raw, 0)) OVER () // 1000000000, 1)
         |    AS BIGINT) AS s
         |  FROM nodes n LEFT JOIN ra$k r ON r.dst = n.host),
         |rh$k AS (SELECT e.src, sum(a.s) AS raw FROM e
         |  JOIN a$k a ON a.host = e.dst GROUP BY 1),
         |h$k AS (SELECT n.host,
         |  CAST(coalesce(r.raw, 0)
         |    // greatest(max(coalesce(r.raw, 0)) OVER () // 1000000000, 1)
         |    AS BIGINT) AS s
         |  FROM nodes n LEFT JOIN rh$k r ON r.src = n.host)""".stripMargin
    s"WITH $linkDerivCte,\n" +
      """e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM links
        |  WHERE src_host <> dst_host),
        |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT host, CAST(1000000000 AS BIGINT) AS s FROM nodes),""".stripMargin +
      "\n" + (1 to 3).map(iter).mkString(",\n") + "\n" +
      """SELECT a3.host, a3.s AS auth, h3.s AS hub
        |FROM a3 JOIN h3 USING (host)""".stripMargin
  }

  private val pageRankOracleSql: String =
    s"WITH $linkDerivCte,\n" + pageRankCtes + ",\n" +
      """inw AS (SELECT dst_host AS host, sum(nl) AS s FROM w GROUP BY 1),
        |outw AS (SELECT src_host AS host, sum(nl) AS s FROM w GROUP BY 1)
        |SELECT r3.host, r3.rank,
        |  CAST(coalesce(inw.s, 0) AS BIGINT) AS n_in_links,
        |  CAST(coalesce(outw.s, 0) AS BIGINT) AS n_out_links
        |FROM r3
        |LEFT JOIN inw ON inw.host = r3.host
        |LEFT JOIN outw ON outw.host = r3.host""".stripMargin

  /** Semantic.kmeansTrain restated: 2 Lloyd rounds unrolled as CTEs. The
    * per-(cell, pos) mean subtracts the nonnegative remainder before `//`,
    * making the dividend exactly divisible — both engines' integer-division
    * directions then agree even on negative component sums.
    */
  private def kmeansTrainCtes(extraWhere: String): String = {
    def iter(i: Int): String =
      s"""d$i AS (SELECT q.vec_id, c.cell,
         |        list_sum(list_transform(list_zip(q.qv, c.cv),
         |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
         |      FROM q, c${i - 1} c),
         |a$i AS (SELECT vec_id, cell,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
         |      FROM d$i),
         |x$i AS (SELECT a.cell, generate_subscripts(q.qv, 1) - 1 AS pos,
         |        unnest(q.qv) AS v
         |      FROM a$i a JOIN q USING (vec_id) WHERE rn = 1),
         |u$i AS (SELECT cell, pos,
         |        CAST((sum(v) - ((sum(v) % count(*)) + count(*)) % count(*))
         |             // count(*) AS BIGINT) AS c
         |      FROM x$i GROUP BY 1, 2),
         |m$i AS (SELECT cell, list(c ORDER BY pos) AS cv FROM u$i GROUP BY 1),
         |c$i AS (SELECT p.cell, coalesce(m.cv, p.cv) AS cv
         |      FROM c${i - 1} p LEFT JOIN m$i m USING (cell))""".stripMargin
    s"""q AS (SELECT vec_id,
      |        list_transform(embedding::DOUBLE[],
      |          x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS qv
      |      FROM embeddings WHERE embedding IS NOT NULL$extraWhere),
      |c0 AS (SELECT vec_id AS cell, qv AS cv FROM q
      |       ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),""".stripMargin +
      "\n" + (1 to 2).map(iter).mkString(",\n") + ",\n" +
      """fd AS (SELECT q.vec_id, c.cell,
        |        list_sum(list_transform(list_zip(q.qv, c.cv),
        |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
        |      FROM q, c2 c),
        |fa AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
        |      FROM fd),
        |fc AS (SELECT cell, count(*) AS n FROM fa WHERE rn = 1 GROUP BY 1),
        |fx AS (SELECT cell, generate_subscripts(cv, 1) - 1 AS pos,
        |        unnest(cv) AS c FROM c2)""".stripMargin
  }

  private val kmeansTrainOracleSql: String =
    "WITH " + kmeansTrainCtes("") + "\n" +
      """SELECT fx.cell, CAST(fx.pos AS INTEGER) AS pos, CAST(fx.c AS BIGINT) AS c,
        |  CAST(coalesce(fc.n, 0) AS BIGINT) AS n_members
        |FROM fx LEFT JOIN fc USING (cell)""".stripMargin

  /** Semantic.kmeansUpdate restated: the < 250 train chain is the state,
    * the >= 250 batch assigns against c2 and moves each touched centroid to
    * the count-weighted running mean — the same divisible floor division.
    */
  private val kmeansUpdateOracleSql: String =
    "WITH " + kmeansTrainCtes(" AND vec_id < 250") + ",\n" +
      """bq AS (SELECT vec_id,
        |        list_transform(embedding::DOUBLE[],
        |          x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |      FROM embeddings WHERE embedding IS NOT NULL AND vec_id >= 250),
        |bd AS (SELECT b.vec_id, c.cell,
        |        list_sum(list_transform(list_zip(b.qv, c.cv),
        |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
        |      FROM bq b, c2 c),
        |ba AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
        |      FROM bd),
        |bs AS (SELECT a.cell, generate_subscripts(b.qv, 1) - 1 AS pos,
        |        unnest(b.qv) AS v
        |      FROM ba a JOIN bq b USING (vec_id) WHERE rn = 1),
        |bu AS (SELECT cell, pos, sum(v) AS s, count(*) AS m
        |      FROM bs GROUP BY 1, 2),
        |st AS (SELECT fx.cell, fx.pos, fx.c, coalesce(fc.n, 0) AS n
        |      FROM fx LEFT JOIN fc USING (cell))
        |SELECT st.cell, CAST(st.pos AS INTEGER) AS pos,
        |  CAST(CASE WHEN bu.m IS NULL THEN st.c ELSE
        |    (st.c * st.n + bu.s
        |     - ((st.c * st.n + bu.s) % (st.n + bu.m) + (st.n + bu.m))
        |       % (st.n + bu.m))
        |    // (st.n + bu.m) END AS BIGINT) AS c,
        |  CAST(st.n + coalesce(bu.m, 0) AS BIGINT) AS n_members
        |FROM st LEFT JOIN bu USING (cell, pos)""".stripMargin

  /** The stupid-backoff LM oracle chain — shared verbatim by
    * q_backoff_lm and (as a nested CTE) q_ccnet_buckets.
    */
  private val backoffLmOracle: String =
        s"""WITH w AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\s+'),
          |                                       x -> length(x) > 0) AS ws
          |            FROM documents),
          |tg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
          |       FROM w, range(1, 100000) r(i)
          |       WHERE len(ws) >= 3 AND i <= len(ws) - 2),
          |rtg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
          |        FROM w, range(1, 100000) r(i)
          |        WHERE source = 'src0' AND len(ws) >= 3 AND i <= len(ws) - 2),
          |f3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c123 FROM rtg GROUP BY 1, 2, 3),
          |cx12 AS (SELECT w1, w2, sum(c123)::BIGINT AS c12 FROM f3 GROUP BY 1, 2),
          |f2 AS (SELECT w2, w3, sum(c123)::BIGINT AS c23 FROM f3 GROUP BY 1, 2),
          |cx2 AS (SELECT w2, sum(c23)::BIGINT AS c2 FROM f2 GROUP BY 1),
          |f1 AS (SELECT w3, sum(c23)::BIGINT AS c3 FROM f2 GROUP BY 1),
          |tot AS (SELECT sum(c3)::BIGINT AS t FROM f1),
          |v3 AS (SELECT w1, w2, w3, floor(${PortableLog.log10RatioSql("c123", "c12")} * 1000000.0::DOUBLE)::BIGINT AS lp3
          |       FROM f3 JOIN cx12 USING (w1, w2) ORDER BY c123 DESC, w1, w2, w3 LIMIT 50),
          |v2 AS (SELECT w2, w3, floor(${PortableLog.log10RatioSql("2 * c23", "5 * c2")} * 1000000.0::DOUBLE)::BIGINT AS lp2
          |       FROM f2 JOIN cx2 USING (w2) ORDER BY c23 DESC, w2, w3 LIMIT 50),
          |v1 AS (SELECT w3, floor(${PortableLog.log10RatioSql("4 * c3", "25 * t")} * 1000000.0::DOUBLE)::BIGINT AS lp1
          |       FROM f1, tot ORDER BY c3 DESC, w3 LIMIT 50),
          |o AS (SELECT floor(${PortableLog.log10RatioSql("4::BIGINT", "25 * t")} * 1000000.0::DOUBLE)::BIGINT AS lp0 FROM tot)
          |SELECT doc_id, count(*) AS n_trigrams,
          |  sum(coalesce(lp3, lp2, lp1, lp0))::BIGINT AS sum_log10p_e6,
          |  sum(coalesce(lp3, lp2, lp1, lp0))::DOUBLE / 1000000.0 / count(*) AS avg_log10p
          |FROM tg LEFT JOIN v3 USING (w1, w2, w3) LEFT JOIN v2 USING (w2, w3)
          |LEFT JOIN v1 USING (w3), o
          |GROUP BY doc_id""".stripMargin

  /** The batch-BM25 oracle — shared verbatim by q_bm25_batch and
    * q_bm25_probe_batch (probe of the one-shot index ≡ in-plan batch).
    */
  private val bm25BatchOracleSql: String =
    s"WITH ${bm25Ctes(Seq("data", "join", "slow", "vector", "table", "spark", "merge", "window"))},\n" +
        """qmap(query_id, term) AS (VALUES
          |  ('q1', 'data'), ('q1', 'join'),
          |  ('q2', 'slow'), ('q2', 'vector'), ('q2', 'table'),
          |  ('q3', 'spark'), ('q3', 'merge'), ('q3', 'window')),
          |per AS (SELECT m.query_id, sc.doc_id,
          |  sum((idf6 * tfq6) // 1000000)::BIGINT AS bm25_e6
          |  FROM sc JOIN qmap m USING (term) GROUP BY 1, 2),
          |rk AS (SELECT query_id, doc_id, bm25_e6,
          |  row_number() OVER (PARTITION BY query_id
          |                     ORDER BY bm25_e6 DESC, doc_id)::INTEGER AS rank
          |  FROM per)
          |SELECT query_id, doc_id, rank, bm25_e6 FROM rk WHERE rank <= 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_html_extract" ->
      (s"WITH h AS (SELECT doc_id,\n  $htmlDerivSql FROM documents),\n" +
        htmlRulesCte + "\n" +
        """SELECT doc_id, array_to_string(ks, chr(10)) AS text,
          |  len(ks)::INTEGER AS n_kept, len(ls)::INTEGER AS n_total FROM k""".stripMargin),

    // the link-density extractor restated: lines cut BEFORE tag strip, per
    // line the visible and anchor-text word counts, keep on the integer
    // cross-multiplied anchor-ratio rule
    "q_html_extract2" ->
      (s"WITH h0 AS (SELECT doc_id,\n  $htmlDerivSql FROM documents),\n" +
        s"h AS (SELECT doc_id, replace(html, '</body></html>',\n" +
        s"  '$linkFarmHtml</body></html>') AS html FROM h0),\n" +
        """b1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
          |b2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM b1),
          |b3 AS (SELECT doc_id, regexp_replace(t,
          |  '(?i)<(br|hr)[^>]*>|</(p|div|li|h1|h2|h3|h4|h5|h6|tr|table|ul|ol|blockquote|section|article|header|footer|nav|title)[^>]*>',
          |  chr(10), 'g') AS t FROM b2),
          |rl AS (SELECT doc_id, string_split(t, chr(10)) AS raw FROM b3),
          |ln AS (SELECT doc_id, raw,
          |  list_transform(raw, l -> trim(regexp_replace(
          |    replace(replace(replace(replace(replace(replace(
          |      regexp_replace(l, '(?s)<[^>]*>', ' ', 'g'),
          |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
          |    '\s+', ' ', 'g'))) AS vs,
          |  list_transform(raw, l -> trim(regexp_replace(
          |    replace(replace(replace(replace(replace(replace(
          |      regexp_replace(coalesce(array_to_string(regexp_extract_all(l, '(?is)<a(?:\s[^>]*)?>(.*?)</a>', 1), ' '), ''), '(?s)<[^>]*>', ' ', 'g'),
          |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
          |    '\s+', ' ', 'g'))) AS avs
          |  FROM rl),
          |cnt AS (SELECT doc_id, raw, vs,
          |  list_transform(vs, v -> len(list_filter(string_split(v, ' '), w -> length(w) > 0))) AS nws,
          |  list_transform(avs, a -> len(list_filter(string_split(a, ' '), w -> length(w) > 0))) AS nas
          |  FROM ln),
          |k AS (SELECT doc_id, raw,
          |  list_filter(vs, (v, i) -> nws[i] >= 5 AND nas[i] * 10000 <= 2000 * nws[i]) AS ks
          |  FROM cnt)
          |SELECT doc_id, array_to_string(ks, chr(10)) AS text,
          |  len(ks)::INTEGER AS n_kept, len(raw)::INTEGER AS n_total FROM k""".stripMargin),

    "q_pipeline_web" -> pipelineWebOracle,

    // bytes → shards: the web-front CTEs extended with the host-keyed
    // token-budget prefix cut and the shard-partitioned packing windows
    "q_pipeline_e2e" ->
      (pipelineWebCtes + ",\n" +
        """clean AS (SELECT g.doc_id, g.text FROM g JOIN surv USING (doc_id)),
          |dom AS (SELECT c2.doc_id, c2.text, cn.host AS domain
          |        FROM clean c2 JOIN canon cn USING (doc_id)),
          |tb AS (SELECT doc_id, domain,
          |  len(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> length(x) > 0))::BIGINT AS n_tokens FROM dom),
          |tc AS (SELECT doc_id, domain, n_tokens,
          |  coalesce(sum(n_tokens) OVER (PARTITION BY domain
          |    ORDER BY md5(doc_id::VARCHAR), doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
          |  FROM tb),
          |keep2 AS (SELECT doc_id FROM tc WHERE start_tok < 3000),
          |pb AS (SELECT tb.doc_id, (tb.doc_id % 8)::INTEGER AS shard, tb.n_tokens
          |       FROM tb JOIN keep2 USING (doc_id)),
          |pc AS (SELECT doc_id, shard, n_tokens,
          |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM pb)
          |SELECT doc_id, shard, n_tokens,
          |  (start_tok // 512)::BIGINT AS pack_id,
          |  (start_tok % 512)::BIGINT AS pack_offset FROM pc""".stripMargin),


    // the rolling round restated as ONE chained-CTE derivation: union the
    // planted quotes, canonicalize, split every stage by doc_id < 250
    // (round 0) vs >= 250 (batch), anti-join each batch stage against the
    // round-0-derived state, and chain the budget from round-0 spend
    "q_pipeline_e2e_incremental" ->
      ("WITH qd AS (SELECT doc_id + 100000 AS doc_id, source, text\n" +
        "  FROM documents WHERE doc_id % 20 = 0 AND doc_id < 250),\n" +
        "ud AS (SELECT doc_id, source, text FROM documents\n" +
        "  UNION ALL SELECT doc_id, source, text FROM qd),\n" +
        urlCanonCtesFrom("ud") + ",\n" +
        """ust AS (SELECT DISTINCT url_canon FROM canon WHERE doc_id < 250),
          |keep0 AS (SELECT min(doc_id) AS doc_id FROM canon WHERE doc_id < 250
          |          GROUP BY url_canon),
          |keep1 AS (SELECT min(doc_id) AS doc_id FROM canon
          |          WHERE doc_id >= 250
          |            AND url_canon NOT IN (SELECT url_canon FROM ust)
          |          GROUP BY url_canon),
          |ka AS (SELECT doc_id FROM keep0 UNION ALL SELECT doc_id FROM keep1),
          |""".stripMargin +
        s"h AS (SELECT d.doc_id,\n  $htmlDerivSql FROM ud d JOIN ka USING (doc_id)),\n" +
        htmlRulesCte + ",\n" +
        """ex AS (SELECT doc_id, array_to_string(ks, chr(10)) AS text,
          |  len(ks)::INTEGER AS n_kept FROM k),
          |g AS (SELECT doc_id, text FROM ex WHERE n_kept >= 2),
          |fpv AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM g),
          |fpst AS (SELECT DISTINCT fp FROM fpv WHERE doc_id < 250),
          |clean0 AS (SELECT min(doc_id) AS doc_id FROM fpv WHERE doc_id < 250 GROUP BY fp),
          |surv1 AS (SELECT min(doc_id) AS doc_id FROM fpv WHERE doc_id >= 250
          |          AND fp NOT IN (SELECT fp FROM fpst) GROUP BY fp),
          |cw AS (SELECT g.doc_id,
          |  list_filter(string_split_regex(lower(g.text), '\s+'), x -> length(x) > 0) AS ws
          |  FROM g JOIN (SELECT doc_id FROM clean0 UNION ALL SELECT doc_id FROM surv1) cs
          |  USING (doc_id)),
          |sh2 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s3
          |        FROM cw, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
          |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |          FROM sh2 a JOIN sh2 b ON a.s3 = b.s3 AND b.doc_id < a.doc_id
          |          GROUP BY 1, 2),
          |dropd AS (SELECT DISTINCT da FROM inter JOIN sz sa ON sa.doc_id = da
          |          WHERE da >= 250 AND sa.n >= 5 AND i * 10000 >= 9000 * sa.n),
          |kept1 AS (SELECT s.doc_id FROM surv1 s LEFT JOIN dropd ON s.doc_id = dropd.da
          |          WHERE dropd.da IS NULL),
          |dom0 AS (SELECT c0.doc_id, g.text, cn.host AS domain
          |         FROM clean0 c0 JOIN g USING (doc_id) JOIN canon cn USING (doc_id)),
          |tb0 AS (SELECT doc_id, domain,
          |  len(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> length(x) > 0))::BIGINT AS n_tokens FROM dom0),
          |tc0 AS (SELECT doc_id, domain, n_tokens,
          |  coalesce(sum(n_tokens) OVER (PARTITION BY domain
          |    ORDER BY md5(doc_id::VARCHAR), doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
          |  FROM tb0),
          |sp AS (SELECT domain, sum(n_tokens)::BIGINT AS spent FROM tc0
          |       WHERE start_tok < 3000 GROUP BY domain),
          |dom1 AS (SELECT k1.doc_id, g.text, cn.host AS domain
          |         FROM kept1 k1 JOIN g USING (doc_id) JOIN canon cn USING (doc_id)),
          |tb1 AS (SELECT doc_id, domain,
          |  len(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> length(x) > 0))::BIGINT AS n_tokens FROM dom1),
          |tc1 AS (SELECT doc_id, domain, n_tokens,
          |  coalesce(sum(n_tokens) OVER (PARTITION BY domain
          |    ORDER BY md5(doc_id::VARCHAR), doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bstart
          |  FROM tb1)
          |SELECT tc1.doc_id, tc1.domain, tc1.n_tokens,
          |  (coalesce(sp.spent, 0) + tc1.bstart)::BIGINT AS start_tok
          |FROM tc1 LEFT JOIN sp USING (domain)
          |WHERE coalesce(sp.spent, 0) + tc1.bstart < 3000""".stripMargin),

    // the THREE-round chain restated: rounds split at 150/300, recrawl rows
    // (doc_id + 300000) derive url/html from the ORIGINAL id via `did`,
    // every post-retraction state CTE (ust2/fpst2/std2/spent2) applies the
    // takedown exactly as the engine's sidecar/negated-append + compaction
    "q_pipeline_e2e_incremental2" ->
      ("WITH qd AS (SELECT doc_id + 100000 AS doc_id, source, text\n" +
        "  FROM documents WHERE doc_id % 20 = 0 AND doc_id < 150),\n" +
        "ud AS (SELECT doc_id, source, text FROM documents\n" +
        "  UNION ALL SELECT doc_id, source, text FROM qd),\n" +
        "ud2 AS (SELECT doc_id, doc_id AS did, source, text FROM ud\n" +
        "  UNION ALL SELECT doc_id + 300000 AS doc_id, doc_id AS did, source, text\n" +
        "  FROM documents WHERE doc_id % 10 = 1 AND doc_id < 150),\n" +
        "uu AS (SELECT doc_id AS real_id, did AS doc_id, source FROM ud2),\n" +
        s"u0 AS (SELECT real_id,\n  $urlDerivSql AS url FROM uu),\n" +
        "u AS (SELECT real_id AS doc_id, url FROM u0),\n" +
        urlCanonChainSql + ",\n" +
        """ust0 AS (SELECT DISTINCT url_canon FROM canon WHERE doc_id < 150),
          |rurl AS (SELECT DISTINCT url_canon FROM canon
          |         WHERE doc_id % 10 = 1 AND doc_id < 150),
          |keep0 AS (SELECT min(doc_id) AS doc_id FROM canon WHERE doc_id < 150
          |          GROUP BY url_canon),
          |keep1 AS (SELECT min(doc_id) AS doc_id FROM canon
          |          WHERE doc_id >= 150 AND doc_id < 300
          |            AND url_canon NOT IN (SELECT url_canon FROM ust0)
          |          GROUP BY url_canon),
          |ust2 AS (SELECT url_canon FROM (
          |           SELECT url_canon FROM ust0
          |           UNION SELECT url_canon FROM canon
          |           WHERE doc_id >= 150 AND doc_id < 300) t
          |         WHERE url_canon NOT IN (SELECT url_canon FROM rurl)),
          |keep2 AS (SELECT min(doc_id) AS doc_id FROM canon
          |          WHERE doc_id >= 300
          |            AND url_canon NOT IN (SELECT url_canon FROM ust2)
          |          GROUP BY url_canon),
          |ka AS (SELECT doc_id FROM keep0 UNION ALL SELECT doc_id FROM keep1
          |       UNION ALL SELECT doc_id FROM keep2),
          |hb AS (SELECT d.doc_id AS real_id, d.did AS doc_id, d.text
          |       FROM ud2 d JOIN ka ON ka.doc_id = d.doc_id),
          |""".stripMargin +
        s"h0 AS (SELECT real_id,\n  $htmlDerivSql FROM hb),\n" +
        "h AS (SELECT real_id AS doc_id, html FROM h0),\n" +
        htmlRulesCte + ",\n" +
        """ex AS (SELECT doc_id, array_to_string(ks, chr(10)) AS text,
          |  len(ks)::INTEGER AS n_kept FROM k),
          |g AS (SELECT doc_id, text FROM ex WHERE n_kept >= 2),
          |fpv AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM g),
          |fpst0 AS (SELECT DISTINCT fp FROM fpv WHERE doc_id < 150),
          |clean0 AS (SELECT min(doc_id) AS doc_id FROM fpv WHERE doc_id < 150 GROUP BY fp),
          |surv1 AS (SELECT min(doc_id) AS doc_id FROM fpv
          |          WHERE doc_id >= 150 AND doc_id < 300
          |            AND fp NOT IN (SELECT fp FROM fpst0) GROUP BY fp),
          |cw1 AS (SELECT g.doc_id,
          |  list_filter(string_split_regex(lower(g.text), '\s+'), x -> length(x) > 0) AS ws
          |  FROM g JOIN (SELECT doc_id FROM clean0
          |               UNION ALL SELECT doc_id FROM surv1) cs USING (doc_id)),
          |sh1 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s3
          |        FROM cw1, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
          |sz1 AS (SELECT doc_id, count(*) AS n FROM sh1 GROUP BY 1),
          |in1 AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |        FROM sh1 a JOIN sh1 b ON a.s3 = b.s3 AND b.doc_id < a.doc_id
          |        GROUP BY 1, 2),
          |drop1 AS (SELECT DISTINCT da FROM in1 JOIN sz1 sa ON sa.doc_id = da
          |          WHERE da >= 150 AND sa.n >= 5 AND i * 10000 >= 9000 * sa.n),
          |kept1 AS (SELECT s.doc_id FROM surv1 s
          |          LEFT JOIN drop1 ON s.doc_id = drop1.da WHERE drop1.da IS NULL),
          |fpst2 AS (SELECT fp FROM (
          |            SELECT fp FROM fpst0
          |            UNION SELECT DISTINCT fp FROM fpv
          |            WHERE doc_id >= 150 AND doc_id < 300) t
          |          WHERE fp NOT IN (SELECT fp FROM fpv
          |                           WHERE doc_id % 10 = 1 AND doc_id < 150)),
          |surv2 AS (SELECT min(doc_id) AS doc_id FROM fpv WHERE doc_id >= 300
          |          AND fp NOT IN (SELECT fp FROM fpst2) GROUP BY fp),
          |std2 AS (SELECT doc_id FROM (SELECT doc_id FROM clean0
          |           UNION ALL SELECT doc_id FROM kept1) t
          |         WHERE NOT (doc_id % 10 = 1 AND doc_id < 150)),
          |cw2 AS (SELECT g.doc_id,
          |  list_filter(string_split_regex(lower(g.text), '\s+'), x -> length(x) > 0) AS ws
          |  FROM g JOIN (SELECT doc_id FROM std2
          |               UNION ALL SELECT doc_id FROM surv2) cs USING (doc_id)),
          |sh2 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s3
          |        FROM cw2, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
          |sz2 AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
          |in2 AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |        FROM sh2 a JOIN sh2 b ON a.s3 = b.s3 AND b.doc_id < a.doc_id
          |        GROUP BY 1, 2),
          |drop2 AS (SELECT DISTINCT da FROM in2 JOIN sz2 sa ON sa.doc_id = da
          |          WHERE da >= 300 AND sa.n >= 5 AND i * 10000 >= 9000 * sa.n),
          |kept2 AS (SELECT s.doc_id FROM surv2 s
          |          LEFT JOIN drop2 ON s.doc_id = drop2.da WHERE drop2.da IS NULL),
          |dom0 AS (SELECT c0.doc_id, g.text, cn.host AS domain
          |         FROM clean0 c0 JOIN g USING (doc_id) JOIN canon cn USING (doc_id)),
          |tb0 AS (SELECT doc_id, domain,
          |  len(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> length(x) > 0))::BIGINT AS n_tokens FROM dom0),
          |tc0 AS (SELECT doc_id, domain, n_tokens,
          |  coalesce(sum(n_tokens) OVER (PARTITION BY domain
          |    ORDER BY md5(doc_id::VARCHAR), doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
          |  FROM tb0),
          |sp0 AS (SELECT domain, sum(n_tokens)::BIGINT AS v FROM tc0
          |        WHERE start_tok < 3000 GROUP BY domain),
          |rsp AS (SELECT domain, (-sum(n_tokens))::BIGINT AS v FROM tc0
          |        WHERE start_tok < 3000 AND doc_id % 10 = 1 GROUP BY domain),
          |dom1 AS (SELECT k1.doc_id, g.text, cn.host AS domain
          |         FROM kept1 k1 JOIN g USING (doc_id) JOIN canon cn USING (doc_id)),
          |tb1 AS (SELECT doc_id, domain,
          |  len(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> length(x) > 0))::BIGINT AS n_tokens FROM dom1),
          |tc1 AS (SELECT doc_id, domain, n_tokens,
          |  coalesce(sum(n_tokens) OVER (PARTITION BY domain
          |    ORDER BY md5(doc_id::VARCHAR), doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bstart
          |  FROM tb1),
          |b1k AS (SELECT tc1.domain, tc1.n_tokens FROM tc1
          |        LEFT JOIN sp0 ON sp0.domain = tc1.domain
          |        WHERE coalesce(sp0.v, 0) + tc1.bstart < 3000),
          |sp1 AS (SELECT domain, sum(n_tokens)::BIGINT AS v FROM b1k GROUP BY domain),
          |spent2 AS (SELECT domain, sum(v)::BIGINT AS spent FROM (
          |    SELECT domain, v FROM sp0
          |    UNION ALL SELECT domain, v FROM sp1
          |    UNION ALL SELECT domain, v FROM rsp) t GROUP BY domain),
          |dom2 AS (SELECT k2.doc_id, g.text, cn.host AS domain
          |         FROM kept2 k2 JOIN g USING (doc_id) JOIN canon cn USING (doc_id)),
          |tb2 AS (SELECT doc_id, domain,
          |  len(list_filter(string_split_regex(lower(text), '\s+'),
          |      x -> length(x) > 0))::BIGINT AS n_tokens FROM dom2),
          |tc2 AS (SELECT doc_id, domain, n_tokens,
          |  coalesce(sum(n_tokens) OVER (PARTITION BY domain
          |    ORDER BY md5(doc_id::VARCHAR), doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bstart
          |  FROM tb2)
          |SELECT tc2.doc_id, tc2.domain, tc2.n_tokens,
          |  (coalesce(sp.spent, 0) + tc2.bstart)::BIGINT AS start_tok
          |FROM tc2 LEFT JOIN spent2 sp ON sp.domain = tc2.domain
          |WHERE coalesce(sp.spent, 0) + tc2.bstart < 3000""".stripMargin),

    // byte-identical records round-trip through the GWARC container, so the
    // downstream chain is EXACTLY q_pipeline_web — one oracle, two entry
    // points (clean table vs wire format)
    "q_pipeline_crawl" -> pipelineWebOracle,

    "q_warc_read" ->
      (s"WITH h AS (SELECT doc_id, source, $htmlDerivSql FROM documents)\n" +
        s"SELECT doc_id AS record_id,\n  $urlDerivSql AS url,\n" +
        "  TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS fetch_ts,\n" +
        "  CASE WHEN doc_id % 10 = 7 THEN NULL ELSE html END AS html\nFROM h"),

    "q_url_canon" ->
      (urlCanonCte + """
        |SELECT doc_id, url_canon, host,
        |  (regexp_replace(host, ':[0-9]+$', '') = 'src3.example.com'
        |   OR ends_with(regexp_replace(host, ':[0-9]+$', ''), '.src3.example.com')) AS blocked
        |FROM canon""".stripMargin),

    "q_url_dedup" ->
      (urlCanonCte + """
        |SELECT min(doc_id) AS doc_id, url_canon FROM canon GROUP BY url_canon""".stripMargin),

    "q_url_hosts" ->
      (urlCanonCte + """
        |SELECT host, count(*)::BIGINT AS n_docs,
        |  ((count(*) * 10000) // (SELECT count(*) FROM canon))::BIGINT AS share_bp
        |FROM canon GROUP BY host""".stripMargin),

    "q_url_hostcap" ->
      (urlCanonCte + """,
        |r AS (SELECT doc_id, host,
        |  row_number() OVER (PARTITION BY host ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM canon)
        |SELECT doc_id, host FROM r WHERE rn <= 30""".stripMargin),

    "q_url_dedup_incremental" ->
      (urlCanonCte + """,
        |seen AS (SELECT DISTINCT url_canon FROM canon WHERE doc_id < 250)
        |SELECT min(doc_id) AS doc_id, url_canon FROM canon
        |WHERE doc_id >= 250
        |  AND url_canon NOT IN (SELECT url_canon FROM seen)
        |GROUP BY url_canon""".stripMargin),

    // urlState retraction restated over the same canonicalization chain
    "q_url_retract" ->
      (urlCanonCte + """,
        |st AS (SELECT DISTINCT url_canon FROM canon WHERE doc_id < 250
        |       AND url_canon NOT IN (SELECT url_canon FROM canon
        |                             WHERE doc_id >= 100 AND doc_id < 250))
        |SELECT min(doc_id) AS doc_id, url_canon FROM canon
        |WHERE doc_id >= 100
        |  AND url_canon NOT IN (SELECT url_canon FROM st)
        |GROUP BY url_canon""".stripMargin),

    "q_link_extract" ->
      s"WITH $linkDerivCte\nSELECT doc_id, src_host, dst_url, dst_host FROM links",

    "q_link_hosts" ->
      (s"WITH $linkDerivCte\n" +
        """SELECT src_host, dst_host, count(*) AS n_links FROM links
          |WHERE src_host <> dst_host GROUP BY 1, 2""".stripMargin),

    // anchor texts attached to the independent link derivation by dst
    // pattern (each fixture anchor has a constant body per link family)
    "q_link_anchors" ->
      (s"WITH $linkDerivCte\n" +
        """SELECT doc_id, src_host, dst_url, dst_host,
          |  CASE WHEN contains(dst_url, '/a/') THEN 'next source article'
          |       WHEN contains(dst_url, '/b?') THEN 'second source'
          |       WHEN contains(dst_url, '/h/') THEN 'hub mirror'
          |       ELSE 'local page' END AS anchor_text
          |FROM links""".stripMargin),

    "q_pagerank" -> pageRankOracleSql,
    "q_lpa" -> lpaOracleSql,
    "q_mmr_topk" -> mmrOracleSql,
    "q_mmr_batch" -> mmrBatchOracleSql,
    "q_lpa_resume" -> lpaOracleFor(5),
    "q_lpa_weighted" -> lpaOracleFor(3, weighted = true),

    // both discovery recipes unioned into the shared canon chain; the seen
    // set = canon of the doc_id < 20 link rows (link rows kept their
    // original ids, sitemap rows ride at +1000000)
    "q_discover" ->
      (s"""WITH $linkDerivCte,
        |su AS (SELECT doc_id + 1000000 AS doc_id,
        |    'https://www.' || source || '.example.com/p/' || (doc_id % 13) AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    'https://www.hub.example.com/s/' || (doc_id % 5)
        |  FROM documents),
        |u AS (SELECT doc_id, dst_url AS url FROM links
        |      UNION ALL SELECT doc_id, url FROM su),
        |$urlCanonChainSql,
        |seen AS (SELECT DISTINCT url_canon FROM canon WHERE doc_id < 20)
        |SELECT DISTINCT url_canon FROM canon
        |WHERE url_canon NOT IN (SELECT url_canon FROM seen)""".stripMargin),

    "q_sitemap" ->
      ("""SELECT doc_id,
        |  'https://www.' || source || '.example.com/p/' || (doc_id % 13) AS url,
        |  '2024-0' || (doc_id % 9 + 1) || '-01' AS lastmod
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'https://www.hub.example.com/s/' || (doc_id % 5) AS url,
        |  NULL AS lastmod
        |FROM documents""".stripMargin),
    "q_trustrank" -> trustRankOracleSql,
    "q_hits" -> hitsOracleSql,
    "q_pagerank_weighted" -> pageRankWeightedOracleSql,
    "q_pagerank_resume" ->
      (s"WITH $linkDerivCte,\n" + pageRankCtesN(5) + "\n" +
        "SELECT r5.host, r5.rank FROM r5"),
    "q_textrank" -> textRankOracleSql,

    // readability restated: same counts, same divisible integer formulas —
    // every `//` on non-negative operands
    "q_readability" ->
      ("""WITH c AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |      w -> length(w) > 0))::BIGINT AS n_words,
        |  len(regexp_extract_all(coalesce(text, ''), '[.!?]+'))::BIGINT AS n_sentences,
        |  len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))::BIGINT AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(206835 - (1015 * n_words) // greatest(1, n_sentences)
        |    - (84600 * n_syllables) // greatest(1, n_words) AS BIGINT) AS flesch_e3,
        |  CAST((390 * n_words) // greatest(1, n_sentences)
        |    + (11800 * n_syllables) // greatest(1, n_words) - 15590 AS BIGINT) AS grade_e3
        |FROM c""".stripMargin),

    // fetch plan restated INDEPENDENTLY: verdict and delay derived straight
    // from the fixture recipe (path pattern + host suffix), never by
    // re-running the parser/argmax; rank from the shared fixed-point chain
    "q_fetch_plan" ->
      (s"WITH $linkDerivCte,\n" + pageRankCtes + ",\n" +
        """seen AS (SELECT DISTINCT dst_url FROM links WHERE doc_id < 20),
          |fr AS (SELECT dst_url AS url_canon, dst_host AS host
          |       FROM links WHERE doc_id >= 20
          |         AND dst_url NOT IN (SELECT dst_url FROM seen)
          |       GROUP BY dst_url, dst_host),
          |hn AS (SELECT url_canon, host,
          |  try_cast(regexp_extract(host, '^www\.src([0-9]+)\.example\.com$', 1) AS INT) AS n,
          |  regexp_replace(url_canon, '^[a-z]+://[^/]*', '') AS pth
          |  FROM fr),
          |al AS (SELECT url_canon, host,
          |  NOT (n IS NOT NULL AND n % 5 <> 0 AND
          |       ((pth LIKE '/a/%' AND pth <> '/a/3') OR pth = '/local/2')) AS allowed,
          |  CASE WHEN n IS NOT NULL AND n % 5 <> 0 THEN n ELSE 0 END AS crawl_delay
          |  FROM hn)
          |SELECT al.url_canon, al.host, al.crawl_delay,
          |  coalesce(r3.rank, 0) AS host_rank
          |FROM al LEFT JOIN r3 ON r3.host = al.host
          |WHERE al.allowed""".stripMargin),

    // schedule restated: the same allow/delay derivation, slots from the
    // identical md5-ordered per-host window
    "q_fetch_schedule" ->
      (s"WITH $linkDerivCte,\n" +
        """seen AS (SELECT DISTINCT dst_url FROM links WHERE doc_id < 20),
          |fr AS (SELECT dst_url AS url_canon, dst_host AS host
          |       FROM links WHERE doc_id >= 20
          |         AND dst_url NOT IN (SELECT dst_url FROM seen)
          |       GROUP BY dst_url, dst_host),
          |hn AS (SELECT url_canon, host,
          |  try_cast(regexp_extract(host, '^www\.src([0-9]+)\.example\.com$', 1) AS INT) AS n,
          |  regexp_replace(url_canon, '^[a-z]+://[^/]*', '') AS pth
          |  FROM fr),
          |al AS (SELECT url_canon, host,
          |  NOT (n IS NOT NULL AND n % 5 <> 0 AND
          |       ((pth LIKE '/a/%' AND pth <> '/a/3') OR pth = '/local/2')) AS allowed,
          |  CASE WHEN n IS NOT NULL AND n % 5 <> 0 THEN n ELSE 0 END AS crawl_delay
          |  FROM hn),
          |fp AS (SELECT url_canon, host, crawl_delay FROM al WHERE allowed),
          |sl AS (SELECT url_canon, host, crawl_delay,
          |  (row_number() OVER (PARTITION BY host
          |     ORDER BY md5(url_canon), url_canon) - 1)::INTEGER AS slot FROM fp)
          |SELECT url_canon, host, slot,
          |  (slot * crawl_delay)::INTEGER AS fetch_offset_s FROM sl""".stripMargin),

    // anchor corpus: per-(target, text) mention counts over the independent
    // link derivation
    "q_anchor_corpus" ->
      (s"WITH $linkDerivCte,\n" +
        """an AS (SELECT doc_id, src_host, dst_url,
          |  CASE WHEN contains(dst_url, '/a/') THEN 'next source article'
          |       WHEN contains(dst_url, '/b?') THEN 'second source'
          |       WHEN contains(dst_url, '/h/') THEN 'hub mirror'
          |       ELSE 'local page' END AS anchor_text
          |  FROM links)
          |SELECT dst_url, anchor_text, count(*)::BIGINT AS n_mentions,
          |  count(DISTINCT src_host)::BIGINT AS n_src_hosts
          |FROM an GROUP BY 1, 2""".stripMargin),

    // frontier × PageRank: dst_host rides the link derivation (functionally
    // determined by dst_url), rank from the shared fixed-point CTE chain
    "q_frontier_ranked" ->
      (s"WITH $linkDerivCte,\n" + pageRankCtes + ",\n" +
        """seen AS (SELECT DISTINCT dst_url FROM links WHERE doc_id < 20),
          |fr AS (SELECT min(doc_id) AS doc_id, dst_url AS url_canon,
          |              dst_host AS host
          |       FROM links WHERE doc_id >= 20
          |         AND dst_url NOT IN (SELECT dst_url FROM seen)
          |       GROUP BY dst_url, dst_host)
          |SELECT fr.doc_id, fr.url_canon, fr.host,
          |  coalesce(r3.rank, 0) AS host_rank
          |FROM fr LEFT JOIN r3 ON r3.host = fr.host""".stripMargin),

    // frontier = wave-2 links minus the wave-1 discovered set. The fixture's
    // links are CONSTRUCTED in canonical form (lower-case, no default port,
    // params already sorted — see linkDerivCte), so canonical(dst_url) =
    // dst_url and the oracle can anti-join the raw strings.
    "q_link_frontier" ->
      (s"WITH $linkDerivCte,\n" +
        """seen AS (SELECT DISTINCT dst_url FROM links WHERE doc_id < 20)
          |SELECT min(doc_id) AS doc_id, dst_url AS url_canon
          |FROM links WHERE doc_id >= 20
          |  AND dst_url NOT IN (SELECT dst_url FROM seen)
          |GROUP BY dst_url""".stripMargin),

    // ground truth DERIVED from the fixture recipe (per-host rule sets as a
    // function of the source suffix), NOT by re-running the parser — a hash
    // match proves comment stripping, group runs, agent selection, and the
    // empty-Disallow no-op against an independent restatement
    "q_robots_rules" ->
      (s"WITH $robotsGroundCte\nSELECT host, allow, prefix FROM gr"),

    // the Crawl-delay sits in the OtherBot/* group only, so it binds
    // exactly the even-suffix hosts (odd hosts use their graftbot group,
    // which sets no delay; n % 5 == 0 hosts publish no robots.txt)
    "q_robots_delays" ->
      ("""WITH rs AS (SELECT DISTINCT source,
        |  CAST(substr(source, 4) AS INT) AS n FROM documents)
        |SELECT 'www.' || source || '.example.com' AS host, 7 AS crawl_delay
        |FROM rs WHERE n % 5 <> 0 AND n % 2 = 0""".stripMargin),

    "q_robots_filter" ->
      (urlCanonCte + ",\n" + robotsGroundCte + ",\n" + robotsVerdictCte + "\n" +
        "SELECT doc_id, host, (best IS NULL OR best % 2 = 1) AS allowed FROM rm"),

    "q_pipeline_crawl2" ->
      (urlCanonCte + ",\n" + robotsGroundCte + ",\n" + robotsVerdictCte + ",\n" +
        """allowed AS (SELECT doc_id FROM rm WHERE best IS NULL OR best % 2 = 1),
          |keep AS (SELECT min(c.doc_id) AS doc_id FROM canon c
          |         JOIN allowed a ON a.doc_id = c.doc_id GROUP BY c.url_canon),
          |""".stripMargin +
        s"h AS (SELECT d.doc_id,\n  $htmlDerivSql FROM documents d JOIN keep USING (doc_id)),\n" +
        htmlRulesCte + ",\n" +
        """ex AS (SELECT doc_id, array_to_string(ks, chr(10)) AS text,
          |  len(ks)::INTEGER AS n_kept FROM k),
          |g AS (SELECT doc_id, text FROM ex WHERE n_kept >= 2),
          |bwc AS (SELECT doc_id,
          |  len(list_filter(list_transform(
          |    list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0),
          |    x -> regexp_replace(regexp_replace(x, '^[^\p{L}\p{N}]+', ''),
          |                        '[^\p{L}\p{N}]+$', '')),
          |    x -> list_contains(['slow', 'dup'], x))) AS nh FROM g),
          |g2 AS (SELECT g.doc_id, g.text FROM g JOIN bwc USING (doc_id)
          |       WHERE bwc.nh <= 5),
          |surv AS (SELECT min(doc_id) AS doc_id FROM
          |  (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM g2) q
          |  GROUP BY fp)
          |SELECT g2.doc_id, g2.text FROM g2 JOIN surv USING (doc_id)""".stripMargin),

    // Cavnar-Trenkle restated: the profile VALUES are GENERATED from the same
    // TextAnalysis.LangProfiles constant the engine uses
    "q_text_langid2" ->
      ("WITH prof(plang, tri, lr_) AS (VALUES " +
        TextAnalysis.LangProfiles.flatMap { case (l, ts) =>
          ts.zipWithIndex.map { case (tri, i) => s"('$l', '$tri', ${i + 1})" }
        }.mkString(", ") + "),\n" +
        """langs AS (SELECT DISTINCT plang FROM prof),
          |d AS (SELECT doc_id,
          |  ' ' || trim(regexp_replace(lower(coalesce(text, '')), '[^\p{L}]+', ' ', 'g')) || ' ' AS s
          |  FROM documents),
          |tr AS (SELECT doc_id, substr(s, i, 3) AS tri
          |       FROM d, range(1, 100000) r(i)
          |       WHERE length(s) >= 3 AND i <= length(s) - 2),
          |c AS (SELECT doc_id, tri, count(*) AS cnt FROM tr GROUP BY 1, 2),
          |top AS (SELECT doc_id, tri,
          |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tri ASC) AS dr
          |        FROM c QUALIFY dr <= 20),
          |sc AS (SELECT t.doc_id, l.plang,
          |         sum(coalesce(abs(t.dr - p.lr_), 20))::BIGINT AS oop
          |       FROM top t CROSS JOIN langs l
          |       LEFT JOIN prof p ON p.plang = l.plang AND p.tri = t.tri
          |       GROUP BY 1, 2),
          |pick AS (SELECT doc_id, plang AS lang_pred, oop,
          |           row_number() OVER (PARTITION BY doc_id ORDER BY oop, plang) AS rn
          |         FROM sc)
          |SELECT d.doc_id, coalesce(p.lang_pred, 'und') AS lang_pred, p.oop
          |FROM d LEFT JOIN (SELECT doc_id, lang_pred, oop FROM pick WHERE rn = 1) p
          |USING (doc_id)""".stripMargin),

    "q_dedup_paragraphs" ->
      (s"WITH d AS (SELECT doc_id,\n  replace($sentenceDerivSql, chr(10), chr(10) || chr(10)) AS t FROM documents),\n" +
        """sp AS (SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ls FROM d),
          |ch AS (SELECT doc_id, ls[i] AS line, i AS pos
          |       FROM sp, range(1, 100000) r(i) WHERE i <= len(ls)),
          |c AS (SELECT line, count(*) AS cnt FROM ch GROUP BY 1),
          |j AS (SELECT ch.doc_id, ch.line, ch.pos, c.cnt FROM ch JOIN c USING (line))
          |SELECT doc_id,
          |  coalesce(string_agg(line, chr(10) || chr(10) ORDER BY pos) FILTER (WHERE cnt < 2), '') AS clean_text,
          |  count(*) FILTER (WHERE cnt < 2) AS n_kept,
          |  count(*) FILTER (WHERE cnt >= 2) AS n_dropped
          |FROM j GROUP BY 1""".stripMargin),

    "q_gopher_gate" ->
      ("""WITH d AS (SELECT doc_id,
        |  replace(coalesce(text, ''), '. ', '.' || chr(10)) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- bullet item one' || chr(10) || '- bullet item two' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'trailing thought...' ELSE '' END) ||
        |  (CASE WHEN doc_id % 11 = 0 THEN chr(10) || '### #### ##' ELSE '' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'this text was written with care and attention to the details of that domain.' ELSE '' END) AS t
        |  FROM documents),
        |""".stripMargin + gopherRulesSqlCte(20) + "\n" +
        """SELECT doc_id, n AS n_words, ok_word_count, ok_mean_word_len,
        |  ok_symbol_ratio, ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words,
        |  ok_stop_words,
        |  (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND
        |   ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words AND
        |   ok_stop_words) AS passed
        |FROM r""".stripMargin),

    "q_c4_gate" ->
      (s"WITH d AS (SELECT doc_id,\n  $sentenceDerivSql AS t FROM documents),\n" +
        c4RulesSqlCte(5) + "\n" +
        """SELECT doc_id, array_to_string(ks, chr(10)) AS text,
        |  len(ks)::INTEGER AS n_kept,
        |  (len(regexp_extract_all(array_to_string(ks, chr(10)), '[.!?]')) >= 3
        |   AND NOT contains(lower(t), 'lorem ipsum')
        |   AND NOT contains(t, '{')) AS kept
        |FROM k""".stripMargin),

    // the attribute table restated: every column is the corresponding
    // gate/stat oracle fragment over the SAME d relation, joined on doc_id
    "q_tag_docs" ->
      (s"WITH d AS (SELECT doc_id,\n  $sentenceDerivSql AS t FROM documents),\n" +
        gopherRulesSqlCte(20) + ",\n" + c4RulesSqlCte(5) + ",\n" +
        """bw AS (SELECT doc_id,
          |  len(list_filter(list_transform(
          |    list_filter(string_split_regex(lower(t), '\s+'), x -> length(x) > 0),
          |    x -> regexp_replace(regexp_replace(x, '^[^\p{L}\p{N}]+', ''),
          |                        '[^\p{L}\p{N}]+$', '')),
          |    x -> list_contains(['dup', 'slow', 'lorem'], x))) AS nh FROM d),
          |lg AS (SELECT doc_id,
          |  len(list_filter(ws, x -> list_contains(['the', 'a', 'of', 'and', 'is'], x))) AS en,
          |  len(list_filter(ws, x -> list_contains(['le', 'la', 'les', 'et', 'est'], x))) AS fr,
          |  len(list_filter(ws, x -> list_contains(['el', 'los', 'las', 'y', 'es'], x))) AS es,
          |  len(list_filter(ws, x -> list_contains(['der', 'die', 'das', 'und', 'ist'], x))) AS de
          |  FROM w)
          |SELECT d.doc_id, length(d.t)::INTEGER AS n_chars, r.n AS n_words,
          |  (CASE WHEN en >= greatest(fr, es, de) AND en > 0 THEN 'en'
          |        WHEN fr >= greatest(es, de) AND fr > 0 THEN 'fr'
          |        WHEN es >= de AND es > 0 THEN 'es'
          |        WHEN de > 0 THEN 'de' ELSE 'und' END) AS lang,
          |  (r.ok_word_count AND r.ok_mean_word_len AND r.ok_symbol_ratio AND
          |   r.ok_bullet_lines AND r.ok_ellipsis_lines AND r.ok_alpha_words AND
          |   r.ok_stop_words) AS gopher_passed,
          |  (len(regexp_extract_all(array_to_string(k.ks, chr(10)), '[.!?]')) >= 3
          |   AND NOT contains(lower(d.t), 'lorem ipsum')
          |   AND NOT contains(d.t, '{')) AS c4_kept,
          |  bw.nh::INTEGER AS badword_hits
          |FROM d JOIN r USING (doc_id) JOIN k USING (doc_id)
          |  JOIN bw USING (doc_id) JOIN lg USING (doc_id)""".stripMargin),

    // BM25 restated: the same integer tf/length factors, the idf via the
    // identical PortableLog basic-op sequence (its DuckDB text)
    "q_bm25" -> (s"WITH ${bm25Ctes(Seq("data", "join", "slow", "vector"))}\n$bm25FinalSelect"),

    // the index probe must reproduce the in-plan scorer bit-for-bit — the
    // index round-trip proof, same oracle text
    "q_bm25_probe" -> (s"WITH ${bm25Ctes(Seq("data", "join", "slow", "vector"))}\n$bm25FinalSelect"),

    // ...and so must a probe of the incrementally-grown index
    "q_bm25_append" -> (s"WITH ${bm25Ctes(Seq("data", "join", "slow", "vector"))}\n$bm25FinalSelect"),

    // probing the tombstoned index must equal a one-shot build on the
    // surviving first half — stats, df, and scores all reflect retirement
    "q_bm25_delete" ->
      (s"WITH ${bm25Ctes(Seq("data", "join", "slow", "vector"), "WHERE doc_id < 250")}\n$bm25FinalSelect"),

    // the batch form: union-term CTE chain + a VALUES query map, per-query
    // sums and rank windows — same arithmetic as the single form
    "q_bm25_batch" -> bm25BatchOracleSql,

    // the chunk derivation (q_chunk_windows arithmetic, composite passage
    // id) feeding the standard BM25 chain as its corpus
    "q_passage_bm25" ->
      (s"""WITH pas AS (SELECT b.doc_id * 1000 + (i - 1) AS doc_id,
         |    array_to_string(ws0[(i-1)*48+1 : (i-1)*48+64], ' ') AS text
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(lower(text), '\\s+'),
         |                      x -> length(x) > 0) AS ws0
         |        FROM documents) b, range(1, 100000) r(i)
         |  WHERE len(ws0) >= 1
         |    AND i <= greatest(1, ceil((len(ws0) - 64) / 48::DOUBLE)::INTEGER + 1)),
         |${bm25Ctes(Seq("data", "join", "slow", "vector"), src = "pas")}
         |""".stripMargin + bm25FinalSelect),

    "q_bm25_probe_batch" -> bm25BatchOracleSql,

    // the batch CTEs + the positive/negative pairing with the same margin
    "q_hard_negatives" ->
      (s"WITH ${bm25Ctes(Seq("data", "join", "slow", "vector", "table", "spark", "merge", "window"))},\n" +
        """qmap(query_id, term) AS (VALUES
          |  ('q1', 'data'), ('q1', 'join'),
          |  ('q2', 'slow'), ('q2', 'vector'), ('q2', 'table'),
          |  ('q3', 'spark'), ('q3', 'merge'), ('q3', 'window')),
          |per AS (SELECT m.query_id, sc.doc_id,
          |  sum((idf6 * tfq6) // 1000000)::BIGINT AS bm25_e6
          |  FROM sc JOIN qmap m USING (term) GROUP BY 1, 2),
          |rk AS (SELECT query_id, doc_id, bm25_e6,
          |  row_number() OVER (PARTITION BY query_id
          |                     ORDER BY bm25_e6 DESC, doc_id)::INTEGER AS rank
          |  FROM per),
          |p AS (SELECT query_id, doc_id AS pos_doc, bm25_e6 AS pos_e6
          |      FROM rk WHERE rank = 1)
          |SELECT rk.query_id, p.pos_doc, p.pos_e6,
          |  rk.doc_id AS neg_doc, rk.bm25_e6 AS neg_e6,
          |  (p.pos_e6 - rk.bm25_e6)::BIGINT AS margin_e6
          |FROM rk JOIN p USING (query_id)
          |WHERE rk.rank BETWEEN 2 AND 10
          |  AND p.pos_e6 - rk.bm25_e6 >= 50000""".stripMargin),

    // RRF restated: rank both top-20 lists with the same total orders, fuse
    // with the identical integer formula
    "q_rrf_fusion" ->
      (s"WITH ${bm25Ctes(Seq("data", "join", "slow", "vector"))},\nbmq AS ($bm25FinalSelect),\n" +
        """lex AS (SELECT doc_id, rn::INTEGER AS lex_rank FROM
          |  (SELECT doc_id, row_number() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rn
          |   FROM bmq) WHERE rn <= 20),
          |vq AS (SELECT b.vec_id,
          |  floor(list_cosine_similarity(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) * 10000) / 10000 AS cos
          |  FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          |  WHERE b.vec_id <> 0 ORDER BY cos DESC, b.vec_id LIMIT 20),
          |vr AS (SELECT vec_id AS doc_id,
          |  row_number() OVER (ORDER BY cos DESC, vec_id)::INTEGER AS vec_rank FROM vq)
          |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
          |  (coalesce(1000000 // (60 + l.lex_rank), 0)
          |   + coalesce(1000000 // (60 + v.vec_rank), 0))::BIGINT AS rrf6
          |FROM lex l FULL JOIN vr v ON l.doc_id = v.doc_id""".stripMargin),

    "q_badwords_gate" ->
      (s"WITH d AS (SELECT doc_id,\n  $sentenceDerivSql AS t FROM documents),\n" +
        """w AS (SELECT doc_id,
          |  list_transform(
          |    list_filter(string_split_regex(lower(coalesce(t, '')), '\s+'),
          |                x -> length(x) > 0),
          |    x -> regexp_replace(regexp_replace(x, '^[^\p{L}\p{N}]+', ''),
          |                        '[^\p{L}\p{N}]+$', '')) AS ws
          |  FROM d),
          |h AS (SELECT doc_id,
          |  len(list_filter(ws, x -> list_contains(['dup', 'slow', 'lorem'], x))) AS nh
          |  FROM w)
          |SELECT doc_id, nh::INTEGER AS n_hits, (nh <= 2) AS kept FROM h""".stripMargin),

    "q_pipeline_refined" ->
      (urlCanonCte + ",\n" +
        "keep AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY url_canon),\n" +
        s"sent AS (SELECT d.doc_id,\n  $sentenceDerivSql AS st FROM documents d JOIN keep USING (doc_id)),\n" +
        """h AS (SELECT doc_id,
          |  '<html><head><style>x { y: z }</style></head><body><nav>Home About Contact</nav><p>' ||
          |  replace(st, chr(10), '</p><p>') ||
          |  '</p><ul><li>one</li><li>two</li></ul></body></html>' AS html FROM sent),
          |""".stripMargin +
        htmlRulesCte + ",\n" +
        """ex AS (SELECT doc_id, array_to_string(ks, chr(10)) AS text FROM k),
          |ck AS (SELECT doc_id, text AS t,
          |  list_filter(list_transform(string_split(text, chr(10)),
          |    l -> trim(regexp_replace(l, '\s+', ' ', 'g'))),
          |    l -> (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '"'))
          |      AND len(list_filter(string_split(l, ' '), x -> length(x) > 0)) >= 5
          |      AND NOT contains(lower(l), 'javascript')) AS ks2
          |  FROM ex),
          |g AS (SELECT doc_id, array_to_string(ks2, chr(10)) AS text FROM ck
          |      WHERE len(regexp_extract_all(array_to_string(ks2, chr(10)), '[.!?]')) >= 3
          |        AND NOT contains(lower(t), 'lorem ipsum')
          |        AND NOT contains(t, '{')),
          |surv AS (SELECT min(doc_id) AS doc_id FROM
          |  (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM g) q
          |  GROUP BY fp)
          |SELECT g.doc_id, g.text FROM g JOIN surv USING (doc_id)""".stripMargin),

    // trained profiles: per-language top-20 trigram ranks from the labeled
    // reference half, then the identical out-of-place scoring chain
    "q_text_langid3" ->
      ("""WITH tr AS (SELECT doc_id, lang,
        |  ' ' || trim(regexp_replace(lower(coalesce(text, '')), '[^\p{L}]+', ' ', 'g')) || ' ' AS s
        |  FROM documents),
        |tg AS (SELECT doc_id, substr(s, i, 3) AS tri
        |       FROM tr, range(1, 100000) r(i)
        |       WHERE length(s) >= 3 AND i <= length(s) - 2),
        |prof AS (SELECT plang, tri, lr_ FROM (
        |  SELECT t.lang AS plang, g.tri,
        |    row_number() OVER (PARTITION BY t.lang ORDER BY count(*) DESC, g.tri ASC) AS lr_
        |  FROM tg g JOIN tr t USING (doc_id) WHERE t.doc_id < 250
        |  GROUP BY t.lang, g.tri) q WHERE lr_ <= 20),
        |langs AS (SELECT DISTINCT plang FROM prof),
        |c AS (SELECT doc_id, tri, count(*) AS cnt FROM tg GROUP BY 1, 2),
        |top AS (SELECT doc_id, tri,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tri ASC) AS dr
        |        FROM c QUALIFY dr <= 20),
        |sc AS (SELECT t.doc_id, l.plang,
        |         sum(coalesce(abs(t.dr - p.lr_), 20))::BIGINT AS oop
        |       FROM top t CROSS JOIN langs l
        |       LEFT JOIN prof p ON p.plang = l.plang AND p.tri = t.tri
        |       GROUP BY 1, 2),
        |pick AS (SELECT doc_id, plang AS lang_pred, oop,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY oop, plang) AS rn
        |         FROM sc)
        |SELECT tr.doc_id, coalesce(p.lang_pred, 'und') AS lang_pred, p.oop
        |FROM tr LEFT JOIN (SELECT doc_id, lang_pred, oop FROM pick WHERE rn = 1) p
        |USING (doc_id)""".stripMargin),

    // the full training loop unrolled: 3 gradient-descent iterations over
    // hashed word-presence features, every model value DECIMAL(18,6), the
    // sigmoid/step double excursions rounded back to 6dp exactly as the
    // engine does them
    "q_quality_clf" -> clfOracleSql(trainWhere = ""),

    "q_quality_clf2" -> clfOracleSql(trainWhere = "", bigrams = true),

    // same unrolled training loop fit ONLY on the doc_id < 250 reference
    // half, scored over the whole corpus — the train/serve split
    "q_quality_clf_ref" -> clfOracleSql(trainWhere = "WHERE doc_id < 250"),

    "q_clf_eval" -> clfEvalOracleSql(
      Seq(-500000L, -250000L, 0L, 250000L, 500000L)),

    "q_clf_calibration" -> clfCalibrationOracleSql(nBins = 10),

    "q_clf_auc" -> clfAucOracleSql,

    "q_dedup_simhash" -> simhashOracle,

    "q_pq_encode" -> pqOracle,

    "q_pq_topk" -> pqTopKOracle,

    "q_pq_topk_batch" -> pqTopKBatchOracle,

    // a FULL probe of the materialized IVF+PQ index is exactly ADC search —
    // the index round-trip must reproduce the pure-ADC ranking bit-for-bit
    "q_ivfpq_topk" -> pqTopKOracle,

    "q_ivfpq_probe" -> ivfPqProbeOracle,

    "q_ivfpq_delete" -> ivfPqDeleteOracle,

    "q_ivfpq_rerank" -> ivfPqRerankOracle,

    "q_ivfpq_probe_batch" -> ivfPqProbeBatchOracle,

    "q_ivfpq_rerank_batch" -> ivfPqRerankBatchOracle,

    "q_ivfpq_append" -> ivfPqAppendOracle,

    // seeds frozen from the history half; both halves assigned against them;
    // history hits by same-cell cosine, then the within-batch keep-first cut
    "q_dedup_semantic_incremental" ->
      ("""WITH hist AS (SELECT vec_id, embedding FROM embeddings
        |              WHERE vec_id < 250 AND embedding IS NOT NULL),
        |batch AS (SELECT vec_id, embedding FROM embeddings
        |          WHERE vec_id >= 250 AND embedding IS NOT NULL
        |          UNION ALL
        |          SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 10
        |          UNION ALL
        |          SELECT vec_id + 20000, embedding FROM embeddings WHERE vec_id = 300),
        |qh AS (SELECT vec_id, embedding, list_transform(embedding::DOUBLE[],
        |               x -> floor(x * 1000000.0 + 0.5)) AS qv FROM hist),
        |qb AS (SELECT vec_id, embedding, list_transform(embedding::DOUBLE[],
        |               x -> floor(x * 1000000.0 + 0.5)) AS qv FROM batch),
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM qh
        |          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |ah AS (SELECT vec_id, cell FROM (
        |         SELECT q.vec_id, s.seed_id AS cell, row_number() OVER (
        |           PARTITION BY q.vec_id ORDER BY
        |           list_sum(list_transform(list_zip(q.qv, s.sv),
        |                    p -> (p[1]-p[2])*(p[1]-p[2]))), s.seed_id) AS rn
        |         FROM qh q, seeds s) WHERE rn = 1),
        |ab AS (SELECT vec_id, cell FROM (
        |         SELECT q.vec_id, s.seed_id AS cell, row_number() OVER (
        |           PARTITION BY q.vec_id ORDER BY
        |           list_sum(list_transform(list_zip(q.qv, s.sv),
        |                    p -> (p[1]-p[2])*(p[1]-p[2]))), s.seed_id) AS rn
        |         FROM qb q, seeds s) WHERE rn = 1),
        |hits AS (SELECT DISTINCT b.vec_id FROM ab b
        |         JOIN ah h ON b.cell = h.cell
        |         JOIN batch be ON be.vec_id = b.vec_id
        |         JOIN hist he ON he.vec_id = h.vec_id
        |         WHERE list_cosine_similarity(be.embedding::DOUBLE[],
        |                                      he.embedding::DOUBLE[]) >= 0.9),
        |fresh AS (SELECT * FROM ab WHERE vec_id NOT IN (SELECT vec_id FROM hits)),
        |drops AS (SELECT DISTINCT y.vec_id FROM fresh x
        |          JOIN fresh y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |          JOIN batch bx ON bx.vec_id = x.vec_id
        |          JOIN batch by2 ON by2.vec_id = y.vec_id
        |          WHERE list_cosine_similarity(bx.embedding::DOUBLE[],
        |                                       by2.embedding::DOUBLE[]) >= 0.9)
        |SELECT vec_id, cell FROM fresh
        |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),

    "q_dedup_exact" ->
      ("SELECT min(doc_id) AS doc_id FROM documents " +
        "GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"),

    "q_dedup_jaccard" -> jaccardOracle,

    "q_dedup_minhash" -> jaccardOracle,

    // all-pairs shared-shingle counts over corpus + planted quotes — the
    // brute-force restatement of the prefix-filtered engine plan; the keep
    // decision is the same integer cross-multiplication (i·10⁴ ≥ 9000·|A|)
    "q_dedup_containment" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |qd AS (SELECT doc_id + 100000 AS doc_id,
        |  ws[1:greatest(7, len(ws) // 3)] AS ws FROM w0 WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM w0 UNION ALL SELECT * FROM qd),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM u, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  floor((i * 1.0 / sa.n) * 10000) / 10000 AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = da
        |WHERE sa.n >= 5 AND i * 10000 >= 9000 * sa.n""".stripMargin,

    // removal truth: brute-force pairs + the bigger-container (tie: smaller
    // id) drop rule, survivors = union minus drops
    "q_containment_dedup" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |qd AS (SELECT doc_id + 100000 AS doc_id,
        |  ws[1:greatest(7, len(ws) // 3)] AS ws FROM w0 WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM w0 UNION ALL SELECT * FROM qd),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM u, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT da
        |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE sa.n >= 5 AND i * 10000 >= 9000 * sa.n
        |    AND (sb.n > sa.n OR (sb.n = sa.n AND db < da)))
        |SELECT u.doc_id FROM u LEFT JOIN drops ON u.doc_id = drops.da
        |WHERE drops.da IS NULL""".stripMargin,

    // incremental removal truth: batch docs (quotes) minus those contained
    // in any earlier id at the threshold
    "q_containment_dedup_incremental" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |qd AS (SELECT doc_id + 100000 AS doc_id,
        |  ws[1:greatest(7, len(ws) // 3)] AS ws FROM w0 WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM w0 UNION ALL SELECT * FROM qd),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM u, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND b.doc_id < a.doc_id
        |  GROUP BY 1, 2),
        |dropd AS (SELECT DISTINCT da FROM inter JOIN sz sa ON sa.doc_id = da
        |  WHERE da >= 450 AND sa.n >= 5 AND i * 10000 >= 9000 * sa.n)
        |SELECT u.doc_id FROM u LEFT JOIN dropd ON u.doc_id = dropd.da
        |WHERE u.doc_id >= 450 AND dropd.da IS NULL""".stripMargin,

    // incremental = the same all-pairs truth restricted to batch docs
    // (quotes, id >= 100000) contained in strictly-earlier ids
    "q_dedup_containment_incremental" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |qd AS (SELECT doc_id + 100000 AS doc_id,
        |  ws[1:greatest(7, len(ws) // 3)] AS ws FROM w0 WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM w0 UNION ALL SELECT * FROM qd),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM u, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND b.doc_id < a.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  floor((i * 1.0 / sa.n) * 10000) / 10000 AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = da
        |WHERE da >= 100000 AND sa.n >= 5 AND i * 10000 >= 9000 * sa.n""".stripMargin,

    // connected components over the exact-jaccard pair set (identical to the
    // LSH pair set at this threshold) via a recursive label-propagation CTE
    "q_dedup_clusters" ->
      ("""WITH RECURSIVE w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS doc_a, db AS doc_b FROM inter
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(d, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.d)
        |SELECT d AS doc_id, min(lab)::BIGINT AS cluster_id FROM reach GROUP BY d""".stripMargin),

    // q_dedup_clusters' CC labels extended to a TOTAL cover of every doc
    // with >= 1 shingle: unpaired docs self-label
    "q_dedup_clusters_all" ->
      ("""WITH RECURSIVE w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS doc_a, db AS doc_b FROM inter
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(d, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.d),
        |lab AS (SELECT d AS doc_id, min(lab)::BIGINT AS cluster_id
        |        FROM reach GROUP BY d)
        |SELECT s.doc_id, coalesce(l.cluster_id, s.doc_id)::BIGINT AS cluster_id
        |FROM (SELECT DISTINCT doc_id FROM sh) s
        |LEFT JOIN lab l USING (doc_id)""".stripMargin),

    // same CC label set as q_dedup_clusters, then per-cluster argmax on
    // n_chars (NULLS LAST to match Spark's desc_nulls_last), doc_id tiebreak;
    // unclustered docs pass through as their own singleton cluster
    "q_dedup_canonical" ->
      ("""WITH RECURSIVE w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS doc_a, db AS doc_b FROM inter
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(d, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.d),
        |lab AS (SELECT d AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY d),
        |scored AS (
        |  SELECT doc_id, coalesce(lab.cluster_id, doc_id)::BIGINT AS cluster_id,
        |         n_chars::DOUBLE AS score
        |  FROM documents LEFT JOIN lab USING (doc_id)),
        |r AS (SELECT doc_id, cluster_id, score, row_number() OVER (
        |        PARTITION BY cluster_id ORDER BY score DESC NULLS LAST, doc_id) AS rn
        |      FROM scored)
        |SELECT doc_id, cluster_id, score FROM r WHERE rn = 1""".stripMargin),

    "q_dedup_embedding" ->
      ("SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        "floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 10000) / 10000 AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4"),

    // identical quantized-integer arithmetic: floor(x·1e6 + 0.5) components,
    // squared-L2 sums stay exact integers in double, argmin ties on seed id —
    // every op is a single IEEE instruction both engines run bit-identically
    "q_kmeans_assign" ->
      ("""WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |                     x -> floor(x * 1000000.0 + 0.5)) AS qv
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM q
        |          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |d AS (SELECT q.vec_id, s.seed_id,
        |        list_sum(list_transform(list_zip(q.qv, s.sv),
        |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
        |      FROM q, seeds s),
        |a AS (SELECT vec_id, seed_id, dist2,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, seed_id) AS rn
        |      FROM d)
        |SELECT vec_id, seed_id AS cell, dist2::BIGINT AS dist2 FROM a WHERE rn = 1""".stripMargin),

    // Lloyd restated with the iterations unrolled as CTEs (the pageRank
    // oracle idiom). All-integer qv from the start; the centroid mean is the
    // DIVISIBLE floor division (s − mod⁺) // n, so DuckDB's integer-division
    // truncation direction on negative sums cannot diverge from Spark's
    "q_kmeans_train" -> kmeansTrainOracleSql,
    "q_kmeans_update" -> kmeansUpdateOracleSql,

    // the md5 shuffle + modular window restated; hex-cast offset is the
    // canary-pinned ('0x'||md5)::BIGINT idiom
    "q_random_negatives" ->
      ("""WITH ids AS (SELECT DISTINCT doc_id AS neg_id FROM documents),
        |rk AS (SELECT neg_id,
        |  row_number() OVER (ORDER BY md5(neg_id::VARCHAR), neg_id) - 1 AS r
        |  FROM ids),
        |nn AS (SELECT count(*) AS d FROM rk),
        |p AS (SELECT * FROM (VALUES ('q1', 5), ('q2', 123), ('q3', 250))
        |      t(query_id, pos_id)),
        |off AS (SELECT query_id, CAST(pos_id AS BIGINT) AS pos_id,
        |  ('0x' || substr(md5(query_id), 1, 8))::BIGINT
        |    % (SELECT d FROM nn) AS o
        |  FROM p),
        |cand AS (SELECT query_id, pos_id, j.i AS j,
        |  (o + j.i) % (SELECT d FROM nn) AS r
        |  FROM off, range(0, 11) j(i)),
        |neg AS (SELECT c.query_id, c.pos_id, rk.neg_id, c.j
        |  FROM cand c JOIN rk ON rk.r = c.r WHERE rk.neg_id <> c.pos_id),
        |n2 AS (SELECT query_id, pos_id, neg_id,
        |  row_number() OVER (PARTITION BY query_id, pos_id ORDER BY j) AS rk
        |  FROM neg)
        |SELECT query_id, pos_id, neg_id, CAST(rk AS INTEGER) AS rk
        |FROM n2 WHERE rk <= 10""".stripMargin),

    // same assignment over the planted corpus, then the keep-first
    // within-cell prune at cos >= 0.9 — the clones (vec_id >= 10000) are the
    // only drops
    "q_dedup_semantic" ->
      ("""WITH emb AS (SELECT vec_id, embedding FROM embeddings
        |             UNION ALL
        |             SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 10),
        |q AS (SELECT vec_id, embedding, list_transform(embedding::DOUBLE[],
        |               x -> floor(x * 1000000.0 + 0.5)) AS qv
        |      FROM emb WHERE embedding IS NOT NULL),
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM q
        |          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |d AS (SELECT q.vec_id, s.seed_id,
        |        list_sum(list_transform(list_zip(q.qv, s.sv),
        |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
        |      FROM q, seeds s),
        |a AS (SELECT vec_id, seed_id AS cell,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, seed_id) AS rn
        |      FROM d),
        |cells AS (SELECT a.vec_id, a.cell, q.embedding FROM a JOIN q USING (vec_id)
        |          WHERE rn = 1),
        |drops AS (SELECT DISTINCT y.vec_id FROM cells x JOIN cells y
        |          ON x.cell = y.cell AND x.vec_id < y.vec_id
        |          WHERE list_cosine_similarity(x.embedding::DOUBLE[],
        |                                       y.embedding::DOUBLE[]) >= 0.9)
        |SELECT vec_id, cell FROM cells
        |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),

    // the four stages chained as CTE blocks, each block the corresponding
    // single-stage oracle: despan over the raw corpus, decontamination of
    // the despanned text against the PRISTINE eval slice's windows, the
    // n_kept >= 20 gate, then md5-normalized exact dedup
    "q_pipeline_clean" ->
      ("""WITH w0 AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                        x -> length(x) > 0) AS ws
        |             FROM documents),
        |winsA AS (SELECT doc_id, i AS p, array_to_string(ws[i : i+9], ' ') AS win
        |          FROM w0, range(1, 100000) r(i) WHERE i <= len(ws) - 9),
        |cA AS (SELECT win FROM winsA GROUP BY win HAVING count(*) >= 2),
        |dropA AS (SELECT DISTINCT doc_id, p + j AS idx
        |          FROM winsA JOIN cA USING (win), range(0, 10) s(j)),
        |toksA AS (SELECT doc_id, i AS idx, ws[i] AS tok
        |          FROM w0, range(1, 100000) r(i) WHERE i <= len(ws)),
        |keptA AS (SELECT t.doc_id, t.idx, t.tok FROM toksA t
        |          LEFT JOIN dropA d ON d.doc_id = t.doc_id AND d.idx = t.idx
        |          WHERE d.doc_id IS NULL),
        |textA AS (SELECT w0.doc_id,
        |            coalesce((SELECT string_agg(tok, ' ' ORDER BY idx)
        |                      FROM keptA k WHERE k.doc_id = w0.doc_id), '') AS t1
        |          FROM w0),
        |evSet AS (SELECT DISTINCT array_to_string(ws[i : i+9], ' ') AS win
        |          FROM w0, range(1, 100000) r(i)
        |          WHERE doc_id % 97 = 0 AND i <= len(ws) - 9),
        |w1 AS (SELECT doc_id, list_filter(string_split_regex(lower(t1), '\s+'),
        |                                  x -> length(x) > 0) AS ws
        |       FROM textA),
        |winsB AS (SELECT doc_id, i AS p, array_to_string(ws[i : i+9], ' ') AS win
        |          FROM w1, range(1, 100000) r(i) WHERE i <= len(ws) - 9),
        |dropB AS (SELECT DISTINCT doc_id, p + j AS idx
        |          FROM winsB JOIN evSet USING (win), range(0, 10) s(j)),
        |toksB AS (SELECT doc_id, i AS idx, ws[i] AS tok
        |          FROM w1, range(1, 100000) r(i) WHERE i <= len(ws)),
        |keptB AS (SELECT t.doc_id, t.idx, t.tok FROM toksB t
        |          LEFT JOIN dropB d ON d.doc_id = t.doc_id AND d.idx = t.idx
        |          WHERE d.doc_id IS NULL),
        |aggB AS (SELECT w1.doc_id,
        |           coalesce((SELECT string_agg(tok, ' ' ORDER BY idx)
        |                     FROM keptB k WHERE k.doc_id = w1.doc_id), '') AS clean_text,
        |           (SELECT count(*) FROM keptB k WHERE k.doc_id = w1.doc_id) AS n_kept
        |         FROM w1)
        |SELECT min(doc_id) AS doc_id FROM aggB WHERE n_kept >= 20
        |GROUP BY md5(regexp_replace(lower(clean_text), '\s+', ' ', 'g'))""".stripMargin),

    // string windows stand in for the engine's xxhash64'd windows (hash
    // equality == string equality, the jaccard-oracle reasoning)
    "q_dup_spans" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |wins AS (SELECT doc_id, array_to_string(ws[i : i+9], ' ') AS win
        |         FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 9),
        |c AS (SELECT win, count(*) AS cnt FROM wins GROUP BY 1),
        |f AS (SELECT doc_id, count(*) AS n_windows,
        |        sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS n_dup_windows
        |      FROM wins JOIN c USING (win) GROUP BY 1)
        |SELECT w.doc_id, coalesce(n_windows, 0)::BIGINT AS n_windows,
        |  coalesce(n_dup_windows, 0)::BIGINT AS n_dup_windows,
        |  CASE WHEN coalesce(n_windows, 0) = 0 THEN 0.0
        |       ELSE (n_dup_windows * 10000 // n_windows) / 10000.0 END AS dup_frac
        |FROM w LEFT JOIN f USING (doc_id)""".stripMargin),

    // 1-based window start p covers tokens [p, p+9]; dropped = union of
    // covered indices of corpus-duplicated windows; reassembly in index order
    "q_despan" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |wins AS (SELECT doc_id, i AS p, array_to_string(ws[i : i+9], ' ') AS win
        |         FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 9),
        |c AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
        |dropped AS (SELECT DISTINCT doc_id, p + j AS idx
        |            FROM wins JOIN c USING (win), range(0, 10) s(j)),
        |toks AS (SELECT doc_id, i AS idx, ws[i] AS tok
        |         FROM w, range(1, 100000) r(i) WHERE i <= len(ws)),
        |kept AS (SELECT t.doc_id, t.idx, t.tok FROM toks t
        |         LEFT JOIN dropped d ON d.doc_id = t.doc_id AND d.idx = t.idx
        |         WHERE d.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
        |               count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(clean_text, '') AS clean_text,
        |  coalesce(n_kept, 0)::BIGINT AS n_kept,
        |  (coalesce(len(ws), 0) - coalesce(n_kept, 0))::BIGINT AS n_dropped
        |FROM w LEFT JOIN agg USING (doc_id)""".stripMargin),

    // same windows, flagged by membership in the eval slice's window set
    "q_decontaminate_spans" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |wins AS (SELECT doc_id, i AS p, array_to_string(ws[i : i+9], ' ') AS win
        |         FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 9),
        |ev AS (SELECT DISTINCT win FROM wins WHERE doc_id % 97 = 0),
        |dropped AS (SELECT DISTINCT doc_id, p + j AS idx
        |            FROM wins JOIN ev USING (win), range(0, 10) s(j)),
        |toks AS (SELECT doc_id, i AS idx, ws[i] AS tok
        |         FROM w, range(1, 100000) r(i) WHERE i <= len(ws)),
        |kept AS (SELECT t.doc_id, t.idx, t.tok FROM toks t
        |         LEFT JOIN dropped d ON d.doc_id = t.doc_id AND d.idx = t.idx
        |         WHERE d.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
        |               count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(clean_text, '') AS clean_text,
        |  coalesce(n_kept, 0)::BIGINT AS n_kept,
        |  (coalesce(len(ws), 0) - coalesce(n_kept, 0))::BIGINT AS n_dropped
        |FROM w LEFT JOIN agg USING (doc_id)""".stripMargin),

    "q_sim_topk" ->
      ("SELECT b.vec_id, " +
        "floor(list_cosine_similarity(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) * 10000) / 10000 AS cos " +
        "FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q " +
        "WHERE b.vec_id <> 0 ORDER BY cos DESC, b.vec_id LIMIT 20"),

    // the SQ8 codec restated: per-dim min/range on the quantized grid,
    // affine byte code with floor `//` on non-negative operands
    "q_sq8_encode" ->
      ("""WITH q AS (SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0 + 0.5)::BIGINT) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |mm AS (SELECT i AS pos, min(qv[i])::BIGINT AS mn, max(qv[i])::BIGINT AS mx
        |       FROM q, range(1, 1000) r(i) WHERE i <= len(qv) GROUP BY 1),
        |c AS (SELECT q.vec_id, m.pos,
        |        (((qv[m.pos] - m.mn) * 255) // greatest(1, m.mx - m.mn))::INTEGER AS code
        |      FROM q JOIN mm m ON m.pos <= len(q.qv))
        |SELECT vec_id, string_agg(code::VARCHAR, ',' ORDER BY pos) AS sq8
        |FROM c GROUP BY vec_id""".stripMargin),

    // decoded-code inner product: dec = mn + (code·range) // 255, summed
    // exact-integer per pair against the vec_id-0 query
    "q_sq8_topk" ->
      ("""WITH q AS (SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0 + 0.5)::BIGINT) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |mm AS (SELECT i AS pos, min(qv[i])::BIGINT AS mn, max(qv[i])::BIGINT AS mx
        |       FROM q, range(1, 1000) r(i) WHERE i <= len(qv) GROUP BY 1),
        |dv AS (SELECT q.vec_id, m.pos,
        |        (m.mn + ((((qv[m.pos] - m.mn) * 255) // greatest(1, m.mx - m.mn))
        |                 * (m.mx - m.mn)) // 255)::BIGINT AS dec
        |       FROM q JOIN mm m ON m.pos <= len(q.qv))
        |SELECT a.vec_id, sum(a.dec * b.dec)::BIGINT AS adot
        |FROM dv a JOIN dv b ON a.pos = b.pos AND b.vec_id = 0
        |WHERE a.vec_id <> 0 GROUP BY 1
        |ORDER BY adot DESC, a.vec_id LIMIT 20""".stripMargin),

    // the IVF range search restated: md5-ordered seed draw, quantized-L2
    // cell assignment, the query's 4 nearest cells in the SAME integer
    // grid, then the q_sim_topk cosine surface over the probed cells with
    // the radius filter
    "q_sim_range" ->
      ("""WITH q AS (SELECT vec_id, embedding,
        |    list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0 + 0.5)) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |seeds AS (SELECT vec_id AS cell, qv AS sv FROM
        |    (SELECT * FROM q ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
        |cd AS (SELECT q.vec_id, s.cell,
        |    list_sum(list_transform(list_zip(q.qv, s.sv),
        |             p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
        |  FROM q, seeds s),
        |cells AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
        |    FROM cd) WHERE rn = 1),
        |live AS (SELECT min(cell) AS cell FROM seeds GROUP BY sv),
        |probe AS (SELECT cd.cell FROM cd JOIN live ON live.cell = cd.cell
        |          WHERE vec_id = 0 ORDER BY dist2, cd.cell LIMIT 4)
        |SELECT * FROM (
        |  SELECT b.vec_id,
        |    floor(list_cosine_similarity(b.embedding::DOUBLE[], qe.embedding::DOUBLE[]) * 10000) / 10000 AS cos
        |  FROM embeddings b
        |  JOIN cells c ON b.vec_id = c.vec_id
        |  JOIN probe p ON c.cell = p.cell,
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0) qe)
        |WHERE cos >= 0.1""".stripMargin),

    "q_text_stats" ->
      ("WITH w AS (SELECT doc_id, text, " +
        "list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0) AS ws " +
        "FROM documents) " +
        "SELECT doc_id, length(text)::INTEGER AS n_chars, len(ws)::INTEGER AS n_tokens, " +
        "floor(((length(text) - (len(ws) - 1)) * 1.0 / len(ws)) * 10000) / 10000 AS avg_word_len, " +
        "floor((len(list_filter(ws, x -> x IN ('the','a','an','and','of','to','in'))) * 1.0 / len(ws)) * 10000) / 10000 AS stopword_ratio, " +
        "floor((length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g')) * 1.0 / length(text)) * 10000) / 10000 AS punct_ratio, " +
        "floor((length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0 / length(text)) * 10000) / 10000 AS upper_ratio " +
        "FROM w"),

    "q_text_langid" ->
      ("WITH w AS (SELECT doc_id, " +
        "list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0) AS ws " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, " +
        "len(list_filter(ws, x -> x IN ('the','a','of','and','is')))   AS s_en, " +
        "len(list_filter(ws, x -> x IN ('le','la','les','et','est')))  AS s_fr, " +
        "len(list_filter(ws, x -> x IN ('el','los','las','y','es')))   AS s_es, " +
        "len(list_filter(ws, x -> x IN ('der','die','das','und','ist'))) AS s_de " +
        "FROM w) " +
        "SELECT doc_id, CASE " +
        "WHEN s_en >= greatest(s_fr, s_es, s_de) AND s_en > 0 THEN 'en' " +
        "WHEN s_fr >= greatest(s_es, s_de) AND s_fr > 0 THEN 'fr' " +
        "WHEN s_es >= s_de AND s_es > 0 THEN 'es' " +
        "WHEN s_de > 0 THEN 'de' ELSE 'und' END AS lang_pred FROM sc"),

    "q_text_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp " +
        "FROM documents"),

    "q_text_tokens" ->
      ("SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::INTEGER AS n_bpe_tokens, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0))::INTEGER AS n_ws_tokens " +
        "FROM documents"),

    // same scrub order (email → ip → phone) and same patterns, counted on the
    // same intermediate stages; 'g' because DuckDB replaces first-match only
    // by default while Spark always replaces all
    "q_text_scrub" ->
      ("WITH s1 AS (SELECT doc_id, text AS t0, " +
        "regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1 " +
        "FROM documents), " +
        "s2 AS (SELECT doc_id, t0, t1, " +
        "regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS t2 " +
        "FROM s1) " +
        "SELECT doc_id, " +
        "regexp_replace(t2, '\\+?\\d[0-9()\\- ]{6,}[0-9]', '[PHONE]', 'g') AS scrubbed, " +
        "len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INTEGER AS n_emails, " +
        "len(regexp_extract_all(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INTEGER AS n_ips, " +
        "len(regexp_extract_all(t2, '\\+?\\d[0-9()\\- ]{6,}[0-9]'))::INTEGER AS n_phones " +
        "FROM s2"),

    // identical concat-and-chunk arithmetic: exclusive running token sum per
    // shard, pack boundaries every 512 tokens, docs straddle boundaries
    "q_pack_sequences" ->
      ("WITH b AS (SELECT doc_id, (doc_id % 8)::INTEGER AS shard, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, shard, n_tokens, " +
        "coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM b) " +
        "SELECT doc_id, shard, n_tokens, " +
        // ::BIGINT: DuckDB's windowed sum(BIGINT) yields HUGEINT, so without
        // the cast pack_id/pack_offset surface as int128 — hashes differently
        // from Spark's LongType in some duckdb/pandas pairings even when the
        // values are identical.
        "(start_tok // 512)::BIGINT AS pack_id, (start_tok % 512)::BIGINT AS pack_offset FROM c"),

    // md5-prefix thresholds: 0.9→e6666666, 0.5→80000000, 0.25→40000000, 0→''
    // (string compare of lowercase hex — portable across engines, unlike
    // seeded RNG sampling whose kept-set is engine-private)
    "q_mixture_sample" ->
      ("SELECT doc_id, source FROM documents " +
        "WHERE substr(md5(doc_id::VARCHAR), 1, 8) < " +
        "CASE source WHEN 'src0' THEN 'e6666666' WHEN 'src1' THEN '40000000' " +
        "WHEN 'src2' THEN '' ELSE '80000000' END"),

    // identical draw (32-bit md5 prefix / 2^32, an exact power-of-two
    // division) and identical rate*weight arithmetic
    "q_weighted_sample" ->
      ("SELECT doc_id, n_chars / 1000.0 AS weight FROM documents " +
        "WHERE n_chars IS NOT NULL AND " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 " +
        "< least(1.0, 0.5 * (n_chars / 1000.0))"),

    // identical min-max scaling (IEEE ops on exact integers-in-double) and
    // bit interleave; list_sum of disjoint powers of two == the OR fold
    "q_zorder" ->
      ("""WITH st AS (SELECT min(l_partkey)::DOUBLE AS mn0, max(l_partkey)::DOUBLE AS mx0,
        |                    min(l_suppkey)::DOUBLE AS mn1, max(l_suppkey)::DOUBLE AS mx1
        |             FROM lineitem),
        |s AS (SELECT l_orderkey, l_linenumber,
        |        least(65535, greatest(0, floor((l_partkey::DOUBLE - mn0) * 65535.0 / (mx0 - mn0))))::BIGINT AS s0,
        |        least(65535, greatest(0, floor((l_suppkey::DOUBLE - mn1) * 65535.0 / (mx1 - mn1))))::BIGINT AS s1
        |      FROM lineitem, st)
        |SELECT l_orderkey, l_linenumber,
        |  list_sum(list_transform(range(0, 16), i ->
        |    (((s0 >> i) & 1) << (2 * i)) + (((s1 >> i) & 1) << (2 * i + 1))))::BIGINT AS z
        |FROM s""".stripMargin),

    // same clamped floor((x-lo)*n/(hi-lo)) bucketing, nulls as bucket -1
    "q_profile_hist" ->
      ("""SELECT CASE WHEN n_chars IS NULL THEN -1
        |       ELSE least(15, greatest(0,
        |         floor((n_chars::DOUBLE - 0.0) * 16.0 / 2000.0)::INTEGER)) END AS bucket,
        |  count(*) AS n_rows,
        |  floor(min(n_chars::DOUBLE) * 10000) / 10000 AS x_min,
        |  floor(max(n_chars::DOUBLE) * 10000) / 10000 AS x_max
        |FROM documents GROUP BY 1""".stripMargin),

    "q_stratified_sample" ->
      ("SELECT doc_id, source AS stratum, rn::INTEGER AS rn FROM (" +
        "SELECT doc_id, source, row_number() OVER (" +
        "PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn " +
        "FROM documents) WHERE rn <= 50"),

    // the share solver restated: limiting-domain total, per-domain integer
    // targets, md5-order row_number cut — all floor division
    "q_mixture_apply" ->
      """WITH s(dom, bp) AS (VALUES ('src0', 5000), ('src1', 3000), ('src2', 2000)),
        |c AS (SELECT dom, bp, count(doc_id) AS n FROM s
        |  LEFT JOIN documents ON source = dom GROUP BY dom, bp),
        |tot AS (SELECT min(n * 10000 // bp) AS total FROM c),
        |tg AS (SELECT dom, bp * (SELECT total FROM tot) // 10000 AS t FROM c),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |  PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT doc_id, source AS domain FROM r
        |JOIN tg ON tg.dom = r.source WHERE rn <= t""".stripMargin,

    // identical draw (32-bit md5 prefix / 2^32) and identical floor/frac
    // arithmetic in double; copies materialized by a bounded range join
    "q_upsample" ->
      ("WITH b AS (SELECT doc_id, source AS domain, " +
        "(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4 ELSE 1.0 END)::DOUBLE AS w, " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS draw " +
        "FROM documents), " +
        "c AS (SELECT doc_id, domain, " +
        "(floor(w)::BIGINT + CASE WHEN draw < w - floor(w) THEN 1 ELSE 0 END)::BIGINT AS n " +
        "FROM b) " +
        "SELECT doc_id, domain, i::BIGINT AS copy " +
        "FROM c, range(0, 1001) r(i) WHERE n > 0 AND i < n"),

    // identical exclusive running sum in md5 order; ::BIGINT because DuckDB's
    // windowed sum(BIGINT) yields HUGEINT (see q_pack_sequences)
    "q_token_budget" ->
      ("WITH b AS (SELECT doc_id, source AS domain, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0))::BIGINT AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, domain, n_tokens, " +
        "coalesce(sum(n_tokens) OVER (PARTITION BY domain " +
        "ORDER BY md5(doc_id::VARCHAR), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok FROM b) " +
        "SELECT doc_id, domain, n_tokens, start_tok FROM c " +
        "WHERE start_tok < CASE domain WHEN 'src0' THEN 8000 WHEN 'src1' THEN 2000 " +
        "ELSE 4000 END"),

    // token-share solver: per-domain token totals, limiting-domain minimum,
    // solved budgets, then the q_token_budget prefix-cut — all floor division
    "q_token_share" ->
      """WITH s(dom, bp) AS (VALUES ('src0', 5000), ('src1', 3000), ('src2', 2000)),
        |b AS (SELECT doc_id, source AS domain,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0))::BIGINT AS n_tokens
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |dt AS (SELECT dom, bp, coalesce(sum(n_tokens), 0) AS t FROM s
        |  LEFT JOIN b ON domain = dom GROUP BY dom, bp),
        |tot AS (SELECT min(t * 10000 // bp) AS total FROM dt),
        |bu AS (SELECT dom, bp * (SELECT total FROM tot) // 10000 AS budget FROM dt),
        |c AS (SELECT doc_id, domain, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY domain
        |    ORDER BY md5(doc_id::VARCHAR), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
        |  FROM b)
        |SELECT doc_id, domain, n_tokens, start_tok FROM c
        |JOIN bu ON bu.dom = c.domain WHERE start_tok < budget""".stripMargin,

    // identical count/share arithmetic; ties on the key's string form
    "q_key_skew" ->
      ("WITH c AS (SELECT coalesce(l_suppkey::VARCHAR, '<null>') AS key, " +
        "count(*)::BIGINT AS n_rows FROM lineitem GROUP BY 1), " +
        "t AS (SELECT sum(n_rows)::BIGINT AS tt FROM c) " +
        "SELECT key, n_rows, ((n_rows * 10000) // tt)::BIGINT AS share_bp " +
        "FROM c, t ORDER BY n_rows DESC, key LIMIT 10"),

    // identical token split, identical PortableLog libm-free 6dp decimal
    // log2 terms, identical H·n = log2(n)·n − Σ c·log2 c decimal combination
    // floored at 4dp
    "q_word_entropy" ->
      (s"""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |tok AS (SELECT doc_id, ws[i] AS w FROM w, range(1, 100000) r(i)
        |        WHERE i <= len(ws)),
        |wc AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id, sum(c)::BIGINT AS n,
        |        sum(c * ${PortableLog.floorDec6Sql(PortableLog.log2Sql("c"))}) AS s
        |      FROM wc GROUP BY 1)
        |SELECT doc_id, n AS n_words,
        |  floor((${PortableLog.floorDec6Sql(PortableLog.log2Sql("n"))} * n - s) * 10000)::DOUBLE
        |    / 10000.0 AS ent_sum,
        |  floor((${PortableLog.floorDec6Sql(PortableLog.log2Sql("n"))} * n - s) * 10000)::DOUBLE
        |    / 10000.0 / n AS entropy
        |FROM d""".stripMargin),

    // the re-served-page fixture restated; distinctness via the text
    // value itself (the engine's md5 fingerprint is a bijection modulo
    // collisions neither engine can see at fixture scale)
    "q_coverage" ->
      ("""WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'cached landing page for ' || source
        |         ELSE text END AS text, source
        |  FROM documents)
        |SELECT source AS domain, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_distinct,
        |  ((count(*) - count(DISTINCT text)) * 10000) // count(*) AS dup_bp
        |FROM d WHERE text IS NOT NULL GROUP BY 1""".stripMargin),

    // merged-state report ≡ one-shot report over the concatenated corpus:
    // the oracle never sees the round split
    "q_coverage_incremental" ->
      ("""WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'cached landing page for ' || source
        |         ELSE text END AS text, source
        |  FROM documents)
        |SELECT source AS domain, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_distinct,
        |  ((count(*) - count(DISTINCT text)) * 10000) // count(*) AS dup_bp
        |FROM d WHERE text IS NOT NULL GROUP BY 1""".stripMargin),

    // the planted-boilerplate fixture restated, then plain exact
    // GROUP BY + HAVING — the two-pass MG plan must agree because its
    // output is an exact recount (the sketch never touches the counts)
    "q_ngram_hitters" ->
      ("""WITH d AS (SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |      THEN ' subscribe to our newsletter today' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0
        |      THEN ' all rights reserved worldwide' ELSE '' END) AS text
        |  FROM documents),
        |w AS (SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                         x -> length(x) > 0) AS ws FROM d),
        |g AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ngram
        |      FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2)
        |SELECT ngram, count(*) AS cnt FROM g
        |GROUP BY 1 HAVING count(*) >= 100""".stripMargin),

    // merged-state report ≡ one-shot heavy hitters: the oracle never sees
    // the round split
    "q_ngram_hitters_incremental" ->
      ("""WITH d AS (SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |      THEN ' subscribe to our newsletter today' ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0
        |      THEN ' all rights reserved worldwide' ELSE '' END) AS text
        |  FROM documents),
        |w AS (SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |                         x -> length(x) > 0) AS ws FROM d),
        |g AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ngram
        |      FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2)
        |SELECT ngram, count(*) AS cnt FROM g
        |GROUP BY 1 HAVING count(*) >= 100""".stripMargin),

    // per-column UNION ALL: identical counts/distincts; numeric min/max as
    // doubles; string min/max omitted (collation is engine-private)
    // sqrt is correctly rounded in every IEEE engine, so floor(sqrt·1e6)
    // matches the engine bit-for-bit; everything after is integer
    "q_temperature_mix" ->
      ("""WITH c AS (SELECT coalesce(lang, '<null>') AS domain,
        |  count(*)::BIGINT AS n FROM documents GROUP BY 1),
        |w AS (SELECT domain, floor(sqrt(n::DOUBLE) * 1000000.0::DOUBLE)::BIGINT AS w6 FROM c),
        |tw AS (SELECT sum(w6)::BIGINT AS sw FROM w),
        |caps AS (SELECT domain, ((w6 * 10000 // sw) * 200 // 10000)::BIGINT AS cap FROM w, tw),
        |r AS (SELECT doc_id, coalesce(lang, '<null>') AS domain,
        |  row_number() OVER (PARTITION BY coalesce(lang, '<null>')
        |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn FROM documents)
        |SELECT doc_id, domain FROM r JOIN caps USING (domain) WHERE rn <= cap""".stripMargin),

    "q_dataset_card" ->
      ("""WITH b AS (SELECT doc_id,
        |  md5(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS fp,
        |  len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |      x -> length(x) > 0))::BIGINT AS n_tok,
        |  length(coalesce(text, ''))::BIGINT AS nc,
        |  coalesce(lang, '<null>') AS lang,
        |  coalesce(source, '<null>') AS domain
        |  FROM documents),
        |t AS (SELECT count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
        |  sum(nc)::BIGINT AS n_chars, count(DISTINCT fp)::BIGINT AS dfp,
        |  count(DISTINCT domain)::BIGINT AS n_domains,
        |  count(DISTINCT lang)::BIGINT AS n_langs FROM b),
        |td AS (SELECT domain, count(*)::BIGINT AS c FROM b GROUP BY 1
        |       ORDER BY c DESC, domain LIMIT 1),
        |tl AS (SELECT lang, count(*)::BIGINT AS c FROM b GROUP BY 1
        |       ORDER BY c DESC, lang LIMIT 1)
        |SELECT n_docs, n_tokens, n_chars,
        |  (n_docs - dfp)::BIGINT AS n_dup_docs,
        |  ((n_docs - dfp) * 10000 // n_docs)::BIGINT AS dup_bp,
        |  n_domains, n_langs,
        |  td.domain AS top_domain, (td.c * 10000 // n_docs)::BIGINT AS top_domain_bp,
        |  tl.lang AS top_lang, (tl.c * 10000 // n_docs)::BIGINT AS top_lang_bp
        |FROM t, td, tl""".stripMargin),

    "q_profile_summary" ->
      ("""SELECT 'doc_id' AS col_name, count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |  count(DISTINCT doc_id)::BIGINT AS n_distinct,
        |  min(doc_id)::DOUBLE AS min_d, max(doc_id)::DOUBLE AS max_d FROM documents
        |UNION ALL
        |SELECT 'source', count(*)::BIGINT,
        |  sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT source)::BIGINT, NULL::DOUBLE, NULL::DOUBLE FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*)::BIGINT,
        |  sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT n_chars)::BIGINT,
        |  min(n_chars)::DOUBLE, max(n_chars)::DOUBLE FROM documents
        |UNION ALL
        |SELECT 'text', count(*)::BIGINT,
        |  sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT text)::BIGINT, NULL::DOUBLE, NULL::DOUBLE FROM documents""".stripMargin),

    // identical whitespace token count, identical integer basis-point and
    // 4dp-factor arithmetic (// is DuckDB integer division, div Spark's)
    "q_mixture_report" ->
      ("""WITH b AS (SELECT source AS domain,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0))::BIGINT AS nt
        |  FROM documents),
        |p AS (SELECT domain, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens,
        |  (CASE domain WHEN 'src0' THEN 25000 WHEN 'src1' THEN 4000
        |   ELSE 10000 END)::BIGINT AS w4
        |  FROM b GROUP BY domain),
        |p2 AS (SELECT domain, n_docs, n_tokens,
        |         ((n_tokens * w4) // 10000)::BIGINT AS eff_tokens FROM p),
        |t AS (SELECT sum(n_tokens)::BIGINT AS tt, sum(eff_tokens)::BIGINT AS te FROM p2)
        |SELECT domain, n_docs, n_tokens,
        |  ((n_tokens * 10000) // tt)::BIGINT AS token_bp,
        |  eff_tokens, ((eff_tokens * 10000) // te)::BIGINT AS eff_bp
        |FROM p2, t""".stripMargin),

    // identical 32-bit md5-prefix shard and identical in-shard md5 order
    "q_shard_assign" ->
      ("SELECT doc_id, " +
        "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INTEGER AS shard, " +
        "row_number() OVER (PARTITION BY " +
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 " +
        "ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS pos " +
        "FROM documents"),

    // identical snapshot construction and identical md5-fingerprint classify
    "q_dataset_diff" ->
      ("WITH o AS (SELECT doc_id, md5(coalesce(text, '')) AS fo " +
        "FROM documents WHERE doc_id % 11 <> 3), " +
        "n AS (SELECT doc_id, md5(coalesce(text, '') || " +
        "CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END) AS fn " +
        "FROM documents WHERE doc_id % 13 <> 5) " +
        "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' " +
        "WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN fo <> fn THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"),

    // the merge algebra restated over the full-outer diff: kept = old rows
    // minus (upsert ∪ delete) ids, result = kept ∪ upserted new rows
    "q_dataset_merge" ->
      ("""WITH o AS (SELECT doc_id, source, lang, md5(coalesce(text, '')) AS fp
        |           FROM documents WHERE doc_id % 11 <> 3),
        |n AS (SELECT doc_id, source, lang,
        |        md5(coalesce(text, '') ||
        |            CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END) AS fp
        |      FROM documents WHERE doc_id % 13 <> 5),
        |diff AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |           CASE WHEN o.doc_id IS NULL THEN 'added'
        |                WHEN n.doc_id IS NULL THEN 'removed'
        |                WHEN o.fp <> n.fp THEN 'changed'
        |                ELSE 'unchanged' END AS status
        |         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
        |ups AS (SELECT n.* FROM n JOIN diff USING (doc_id)
        |        WHERE status IN ('added', 'changed')),
        |del AS (SELECT doc_id FROM diff WHERE status = 'removed'),
        |kept AS (SELECT o.* FROM o
        |         WHERE doc_id NOT IN (SELECT doc_id FROM ups)
        |           AND doc_id NOT IN (SELECT doc_id FROM del))
        |SELECT doc_id, source, lang, fp FROM kept
        |UNION ALL SELECT doc_id, source, lang, fp FROM ups""".stripMargin),

    // identical snapshot construction, identical raw-md5 diff gate, then the
    // q_dedup_incremental fingerprint chain over only the delta rows
    "q_pipeline_refresh" ->
      ("""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 3),
        |n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |         THEN coalesce(text, '') || 'x' ELSE text END AS text
        |      FROM documents WHERE doc_id % 13 <> 5),
        |diff AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |           CASE WHEN o.doc_id IS NULL THEN 'added'
        |                WHEN n.doc_id IS NULL THEN 'removed'
        |                WHEN md5(coalesce(o.text, '')) <> md5(coalesce(n.text, ''))
        |                  THEN 'changed' ELSE 'unchanged' END AS status
        |         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
        |delta AS (SELECT n.doc_id, n.text FROM n
        |          JOIN diff ON diff.doc_id = n.doc_id
        |          WHERE diff.status IN ('added', 'changed')),
        |seen AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |         FROM o),
        |nw AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |       FROM delta)
        |SELECT min(doc_id) AS doc_id FROM nw
        |WHERE fp NOT IN (SELECT fp FROM seen) GROUP BY fp""".stripMargin),

    // identical exact-rank cut: (rn-1)*10000 < 6000*n in pure integer
    // arithmetic, desc score with doc_id tiebreak, null scores dropped
    "q_quality_quantile" ->
      ("SELECT doc_id, domain, score FROM (" +
        "SELECT doc_id, source AS domain, n_chars::DOUBLE AS score, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY n_chars::DOUBLE DESC, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n " +
        "FROM documents WHERE n_chars IS NOT NULL) " +
        "WHERE (rn - 1) * 10000 < 6000 * n"),

    // the frozen-grid histogram merge restated: grid [0, 2000] at 6dp
    // (lo6=0, hi6=2e9) in 64 cells, kept cell iff rows strictly above stay
    // under the 60% quota of the merged total — all `//` on non-negatives
    "q_quality_quantile_incremental" ->
      """WITH h AS (SELECT source AS domain,
        |    least(2000000000, greatest(0, n_chars::BIGINT * 1000000)) AS c6
        |  FROM documents WHERE doc_id < 250 AND n_chars IS NOT NULL),
        |hb AS (SELECT domain, least(63, (c6 * 64) // 2000000000)::INTEGER AS bucket,
        |    count(*)::BIGINT AS n FROM h GROUP BY 1, 2),
        |b AS (SELECT doc_id, source AS domain, n_chars::DOUBLE AS score,
        |    least(63, (least(2000000000, greatest(0, n_chars::BIGINT * 1000000)) * 64)
        |      // 2000000000)::INTEGER AS bucket
        |  FROM documents WHERE doc_id >= 250 AND n_chars IS NOT NULL),
        |bb AS (SELECT domain, bucket, count(*)::BIGINT AS n FROM b GROUP BY 1, 2),
        |m AS (SELECT domain, bucket, sum(n)::BIGINT AS n FROM
        |    (SELECT * FROM hb UNION ALL SELECT * FROM bb) GROUP BY 1, 2),
        |cum AS (SELECT domain, bucket,
        |    coalesce(sum(n) OVER (PARTITION BY domain ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS above,
        |    sum(n) OVER (PARTITION BY domain)::BIGINT AS tot
        |  FROM m),
        |k AS (SELECT domain, bucket FROM cum WHERE above * 10000 < 6000 * tot)
        |SELECT b.doc_id, b.domain, b.score FROM b JOIN k USING (domain, bucket)""".stripMargin,

    // batch-1 gate → per-domain spend → batch-2 prefix against the REMAINING
    // budget, the md5 order and straddler convention of q_token_budget
    "q_token_budget_incremental" ->
      ("WITH b1 AS (SELECT doc_id, source AS domain, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0))::BIGINT AS n_tokens " +
        "FROM documents WHERE doc_id < 250), " +
        "c1 AS (SELECT doc_id, domain, n_tokens, " +
        "coalesce(sum(n_tokens) OVER (PARTITION BY domain " +
        "ORDER BY md5(doc_id::VARCHAR), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok FROM b1), " +
        "st AS (SELECT domain, sum(n_tokens)::BIGINT AS spent FROM c1 " +
        "WHERE start_tok < CASE domain WHEN 'src0' THEN 8000 WHEN 'src1' THEN 2000 ELSE 4000 END " +
        "GROUP BY 1), " +
        "b2 AS (SELECT doc_id, source AS domain, " +
        "len(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0))::BIGINT AS n_tokens " +
        "FROM documents WHERE doc_id >= 250), " +
        "c2 AS (SELECT doc_id, domain, n_tokens, " +
        "coalesce(sum(n_tokens) OVER (PARTITION BY domain " +
        "ORDER BY md5(doc_id::VARCHAR), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok FROM b2) " +
        "SELECT c2.doc_id, c2.domain, c2.n_tokens, " +
        "(coalesce(st.spent, 0) + c2.start_tok)::BIGINT AS start_tok " +
        "FROM c2 LEFT JOIN st USING (domain) " +
        "WHERE coalesce(st.spent, 0) + c2.start_tok < " +
        "CASE domain WHEN 'src0' THEN 8000 WHEN 'src1' THEN 2000 ELSE 4000 END"),

    // identical decimal pipeline: idf = PortableLog libm-free log10 floored
    // to 6dp as DECIMAL(18,6), score = tf * idf in exact decimal arithmetic,
    // ties broken by term
    "q_tfidf" ->
      (s"""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
        |                                                x -> length(x) > 0)) AS w
        |              FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS nd FROM documents),
        |idf AS (SELECT w, ${PortableLog.floorDec6Sql(PortableLog.log10RatioSql("nd", "df"))} AS idf
        |        FROM dfreq, nd),
        |sc AS (SELECT tf.doc_id, tf.w, tf.tf * idf.idf AS score FROM tf JOIN idf USING (w)),
        |rk AS (SELECT doc_id, w, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rnk
        |       FROM sc)
        |SELECT doc_id, rnk::INTEGER AS rnk, w AS term,
        |  floor(score * 10000)::DOUBLE / 10000.0 AS score
        |FROM rk WHERE rnk <= 5""".stripMargin),

    // brute-force levenshtein over all pairs — the quadratic oracle the
    // deletion-neighborhood join must reproduce exactly
    "q_fuzzy_join" ->
      ("SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "levenshtein(a.c_name, b.c_name)::INTEGER AS dist " +
        "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey " +
        "WHERE levenshtein(a.c_name, b.c_name) <= 1"),

    "q_fuzzy_join2" ->
      ("SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "levenshtein(a.c_name, b.c_name)::INTEGER AS dist " +
        "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey " +
        "WHERE levenshtein(a.c_name, b.c_name) <= 2"),

    "q_fuzzy_join3" ->
      ("SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, " +
        "levenshtein(a.c_name, b.c_name)::INTEGER AS dist " +
        "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey " +
        "WHERE a.c_custkey <= 200 AND b.c_custkey <= 200 " +
        "AND levenshtein(a.c_name, b.c_name) <= 3"),

    // same deterministic one-char corruption, brute-force levenshtein link
    "q_fuzzy_link" ->
      ("""WITH dirty AS (SELECT c_custkey AS d_id,
        |  substr(c_name, 1, (c_custkey % 10)::INTEGER + 6) ||
        |  substr(c_name, (c_custkey % 10)::INTEGER + 8) AS d_name
        |  FROM customer)
        |SELECT d.d_id AS left_id, c.c_custkey AS right_id,
        |  levenshtein(d.d_name, c.c_name)::INTEGER AS dist
        |FROM dirty d JOIN customer c ON levenshtein(d.d_name, c.c_name) <= 1""".stripMargin),

    "q_dedup_incremental" ->
      ("""WITH seen AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |              FROM documents WHERE doc_id < 250),
        |nw AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |       FROM documents WHERE doc_id >= 250)
        |SELECT min(doc_id) AS doc_id FROM nw
        |WHERE fp NOT IN (SELECT fp FROM seen) GROUP BY fp""".stripMargin),

    // the Bloom-accelerated forms answer EXACTLY the incremental-dedup
    // question (false positives only add exact-check work), so both share
    // its oracle — the sidecar is pure plan shape, invisible to the result
    "q_dedup_bloom_incremental" ->
      ("""WITH seen AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |              FROM documents WHERE doc_id < 250),
        |nw AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |       FROM documents WHERE doc_id >= 250)
        |SELECT min(doc_id) AS doc_id FROM nw
        |WHERE fp NOT IN (SELECT fp FROM seen) GROUP BY fp""".stripMargin),

    "q_dedup_bloom_roll" ->
      ("""WITH seen AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |              FROM documents WHERE doc_id < 250),
        |nw AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |       FROM documents WHERE doc_id >= 250)
        |SELECT min(doc_id) AS doc_id FROM nw
        |WHERE fp NOT IN (SELECT fp FROM seen) GROUP BY fp""".stripMargin),

    // retraction restated: the state is the doc_id < 250 fingerprints MINUS
    // the 100..249 slice's, and the >= 100 batch dedups against that
    "q_dedup_retract" ->
      ("""WITH fps AS (SELECT doc_id,
        |               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |             FROM documents),
        |st AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 250
        |       AND fp NOT IN (SELECT fp FROM fps
        |                      WHERE doc_id >= 100 AND doc_id < 250))
        |SELECT min(doc_id) AS doc_id FROM fps
        |WHERE doc_id >= 100 AND fp NOT IN (SELECT fp FROM st)
        |GROUP BY fp""".stripMargin),

    // incremental near-dedup oracle: exact-jaccard pairs over ALL docs (the
    // LSH banding has recall ~1 at the planted J≈0.99, same equivalence as
    // q_dedup_minhash); a new doc is a history hit iff it has a DIRECT edge
    // to a doc < 250, then the survivors get the within-batch CC cut
    "q_dedup_near_incremental" ->
      ("""WITH RECURSIVE w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS doc_a, db AS doc_b FROM inter
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |hits AS (
        |  SELECT doc_a AS d FROM pairs WHERE doc_a >= 250 AND doc_b < 250
        |  UNION SELECT doc_b FROM pairs WHERE doc_b >= 250 AND doc_a < 250),
        |rem AS (SELECT doc_id FROM documents WHERE doc_id >= 250
        |        AND doc_id NOT IN (SELECT d FROM hits)),
        |redges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)
        |  UNION SELECT doc_b, doc_a FROM pairs
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)),
        |reach(d, lab) AS (
        |  SELECT a, a FROM redges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN redges e ON e.a = r.d),
        |cc AS (SELECT d, min(lab) AS cluster_id FROM reach GROUP BY d)
        |SELECT doc_id FROM rem
        |WHERE doc_id NOT IN (SELECT d FROM cc WHERE d <> cluster_id)""".stripMargin),

    // near-retract oracle: doc-id-keyed retraction makes the state ≡ one
    // built from docs < 100, so this is the incremental oracle with the
    // history boundary moved — proving minHashRetract is exact
    "q_dedup_near_retract" ->
      ("""WITH RECURSIVE w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS doc_a, db AS doc_b FROM inter
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |hits AS (
        |  SELECT doc_a AS d FROM pairs WHERE doc_a >= 100 AND doc_b < 100
        |  UNION SELECT doc_b FROM pairs WHERE doc_b >= 100 AND doc_a < 100),
        |rem AS (SELECT doc_id FROM documents WHERE doc_id >= 100
        |        AND doc_id NOT IN (SELECT d FROM hits)),
        |redges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)
        |  UNION SELECT doc_b, doc_a FROM pairs
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)),
        |reach(d, lab) AS (
        |  SELECT a, a FROM redges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN redges e ON e.a = r.d),
        |cc AS (SELECT d, min(lab) AS cluster_id FROM reach GROUP BY d)
        |SELECT doc_id FROM rem
        |WHERE doc_id NOT IN (SELECT d FROM cc WHERE d <> cluster_id)""".stripMargin),

    // containment-retract oracle: the incremental oracle with the
    // retracted sources excluded from the EARLIER side — a quote of a
    // retracted doc must no longer flag
    "q_dedup_containment_retract" ->
      """WITH w0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |qd AS (SELECT doc_id + 100000 AS doc_id,
        |  ws[1:greatest(7, len(ws) // 3)] AS ws FROM w0 WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM w0 UNION ALL SELECT * FROM qd),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM u, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND b.doc_id < a.doc_id
        |    AND NOT (b.doc_id >= 100 AND b.doc_id < 250)
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  floor((i * 1.0 / sa.n) * 10000) / 10000 AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = da
        |WHERE da >= 100000 AND sa.n >= 5 AND i * 10000 >= 9000 * sa.n""".stripMargin,

    // semantic-retract oracle: retained history = vec_id < 100 plus the
    // 16 seeds of the ORIGINAL < 250 state (seeds cannot retract); batch
    // copies of seed vectors stay blocked by their own state row
    "q_dedup_semantic_retract" ->
      ("""WITH hist AS (SELECT vec_id, embedding FROM embeddings
        |              WHERE vec_id < 250 AND embedding IS NOT NULL),
        |batch AS (SELECT vec_id, embedding FROM embeddings
        |          WHERE vec_id >= 100 AND embedding IS NOT NULL
        |          UNION ALL
        |          SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 10),
        |qh AS (SELECT vec_id, embedding, list_transform(embedding::DOUBLE[],
        |               x -> floor(x * 1000000.0 + 0.5)) AS qv FROM hist),
        |qb AS (SELECT vec_id, embedding, list_transform(embedding::DOUBLE[],
        |               x -> floor(x * 1000000.0 + 0.5)) AS qv FROM batch),
        |seeds AS (SELECT vec_id AS seed_id, qv AS sv FROM qh
        |          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        |rh AS (SELECT * FROM qh WHERE vec_id < 100
        |       OR vec_id IN (SELECT seed_id FROM seeds)),
        |ah AS (SELECT vec_id, cell FROM (
        |         SELECT q.vec_id, s.seed_id AS cell, row_number() OVER (
        |           PARTITION BY q.vec_id ORDER BY
        |           list_sum(list_transform(list_zip(q.qv, s.sv),
        |                    p -> (p[1]-p[2])*(p[1]-p[2]))), s.seed_id) AS rn
        |         FROM rh q, seeds s) WHERE rn = 1),
        |ab AS (SELECT vec_id, cell FROM (
        |         SELECT q.vec_id, s.seed_id AS cell, row_number() OVER (
        |           PARTITION BY q.vec_id ORDER BY
        |           list_sum(list_transform(list_zip(q.qv, s.sv),
        |                    p -> (p[1]-p[2])*(p[1]-p[2]))), s.seed_id) AS rn
        |         FROM qb q, seeds s) WHERE rn = 1),
        |hits AS (SELECT DISTINCT b.vec_id FROM ab b
        |         JOIN ah h ON b.cell = h.cell AND h.vec_id <> b.vec_id
        |         JOIN batch be ON be.vec_id = b.vec_id
        |         JOIN hist he ON he.vec_id = h.vec_id
        |         WHERE list_cosine_similarity(be.embedding::DOUBLE[],
        |                                      he.embedding::DOUBLE[]) >= 0.9),
        |fresh AS (SELECT * FROM ab WHERE vec_id NOT IN (SELECT vec_id FROM hits)),
        |drops AS (SELECT DISTINCT y.vec_id FROM fresh x
        |          JOIN fresh y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |          JOIN batch bx ON bx.vec_id = x.vec_id
        |          JOIN batch by2 ON by2.vec_id = y.vec_id
        |          WHERE list_cosine_similarity(bx.embedding::DOUBLE[],
        |                                       by2.embedding::DOUBLE[]) >= 0.9)
        |SELECT vec_id, cell FROM fresh
        |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),

    // differential oracle: every document EXCEPT the recursive-CTE cluster
    // members whose label is not their own doc_id (same CC as q_dedup_clusters)
    "q_pipeline_neardedup" ->
      ("""WITH RECURSIVE w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS doc_a, db AS doc_b FROM inter
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(d, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.d),
        |cc AS (SELECT d AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY d)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)""".stripMargin),

    // same 10-word linefication, then drop every line with corpus count >= 2;
    // docs losing all lines survive with empty text on both sides
    "q_dedup_lines" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |ch AS (SELECT doc_id, array_to_string(ws[(i-1)*10+1 : (i-1)*10+10], ' ') AS line,
        |              i AS pos
        |       FROM w, range(1, 100000) r(i) WHERE i <= (len(ws) + 9) // 10),
        |c AS (SELECT line, count(*) AS cnt FROM ch GROUP BY 1),
        |j AS (SELECT ch.doc_id, ch.line, ch.pos, c.cnt FROM ch JOIN c USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE cnt < 2), '') AS clean_text,
        |  count(*) FILTER (WHERE cnt < 2) AS n_kept,
        |  count(*) FILTER (WHERE cnt >= 2) AS n_dropped
        |FROM j GROUP BY 1""".stripMargin),

    // keep-first variant: the line's globally-first (doc_id, pos) occurrence
    // survives; rank computed over the same linefication
    "q_dedup_lines_keepfirst" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |ch AS (SELECT doc_id, array_to_string(ws[(i-1)*10+1 : (i-1)*10+10], ' ') AS line,
        |              i AS pos
        |       FROM w, range(1, 100000) r(i) WHERE i <= (len(ws) + 9) // 10),
        |c AS (SELECT line, count(*) AS cnt FROM ch GROUP BY 1),
        |j AS (SELECT ch.doc_id, ch.line, ch.pos, c.cnt,
        |        row_number() OVER (PARTITION BY ch.line ORDER BY ch.doc_id, ch.pos) AS rn
        |      FROM ch JOIN c USING (line))
        |SELECT doc_id,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |           FILTER (WHERE cnt < 2 OR rn = 1), '') AS clean_text,
        |  count(*) FILTER (WHERE cnt < 2 OR rn = 1) AS n_kept,
        |  count(*) FILTER (WHERE cnt >= 2 AND rn > 1) AS n_dropped
        |FROM j GROUP BY 1""".stripMargin),

    // identical ratio arithmetic; nested lambda = DuckDB list_filter under
    // list_transform, same O(doc²) most-frequent-bigram rule
    "q_text_repetition" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |bgt AS (SELECT doc_id, list(ws[i] || ' ' || ws[i+1] ORDER BY i) AS bg
        |        FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 1 GROUP BY 1)
        |SELECT w.doc_id, len(ws)::INTEGER AS n_words,
        |  len(list_distinct(ws))::INTEGER AS n_distinct_words,
        |  floor((1.0::DOUBLE - len(list_distinct(ws)) * 1.0::DOUBLE / len(ws)) * 10000) / 10000 AS dup_word_frac,
        |  floor((list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x))))
        |        * 1.0::DOUBLE / len(bg)) * 10000) / 10000 AS top_bigram_frac
        |FROM w JOIN bgt ON w.doc_id = bgt.doc_id WHERE len(ws) >= 2""".stripMargin),

    // string 3-grams stand in for the engine's xxhash64 shingles: equality of
    // hashes == equality of strings (same reasoning as the jaccard oracle)
    "q_decontaminate" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 2),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
        |SELECT sh.doc_id, count(*) AS n_hits FROM sh JOIN ev USING (s)
        |GROUP BY 1 HAVING count(*) >= 5""".stripMargin),

    // decimal-sum determinism: per-word PortableLog libm-free log10 probs
    // floored to 6dp and summed as DECIMAL — exact, order-free addition — so
    // both engines agree no matter how they order the per-doc aggregation;
    // only the final division returns to double
    "q_unigram_lm" ->
      (s"""WITH w AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
        |                                              x -> length(x) > 0)) AS w
        |            FROM documents),
        |f AS (SELECT w, count(*)::BIGINT AS c FROM w GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS t FROM f),
        |v AS (SELECT w, ${PortableLog.floorDec6Sql(PortableLog.log10RatioSql("c", "t"))} AS lp
        |      FROM f, tot ORDER BY c DESC, w LIMIT 20),
        |o AS (SELECT ${PortableLog.floorDec6Sql(PortableLog.log10RatioSql("1::BIGINT", "t"))} AS oov_lp FROM tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor(sum(coalesce(lp, oov_lp)) * 10000)::DOUBLE / 10000.0 AS sum_log10p,
        |  floor(sum(coalesce(lp, oov_lp)) * 10000)::DOUBLE / 10000.0 / count(*) AS avg_log10p
        |FROM w LEFT JOIN v USING (w), o GROUP BY doc_id""".stripMargin),

    // same decimal pipeline as q_unigram_lm over conditional bigram probs:
    // lp = PortableLog log10(c12/c1) floored to 6dp, DECIMAL sum,
    // floor-to-4dp; top-V ties totally ordered by (c12 DESC, w1, w2)
    "q_bigram_lm" ->
      (s"""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |       FROM w, range(1, 100000) r(i)
        |       WHERE len(ws) >= 2 AND i <= len(ws) - 1),
        |f AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
        |cx AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM f GROUP BY 1),
        |tot AS (SELECT sum(c12)::BIGINT AS t FROM f),
        |v AS (SELECT w1, w2, ${PortableLog.floorDec6Sql(PortableLog.log10RatioSql("c12", "c1"))} AS lp
        |      FROM f JOIN cx USING (w1) ORDER BY c12 DESC, w1, w2 LIMIT 50),
        |o AS (SELECT ${PortableLog.floorDec6Sql(PortableLog.log10RatioSql("1::BIGINT", "t"))} AS oov_lp FROM tot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(sum(coalesce(lp, oov_lp)) * 10000)::DOUBLE / 10000.0 AS sum_log10p,
        |  floor(sum(coalesce(lp, oov_lp)) * 10000)::DOUBLE / 10000.0 / count(*) AS avg_log10p
        |FROM bg LEFT JOIN v USING (w1, w2), o GROUP BY doc_id""".stripMargin),

    // identical model chain built over the src0 slice only; scoring and the
    // OOV floor reference the src0 model, the per-doc groupBy sees all docs
    "q_bigram_lm_ref" ->
      (s"""WITH w AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |       FROM w, range(1, 100000) r(i)
        |       WHERE len(ws) >= 2 AND i <= len(ws) - 1),
        |rbg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |        FROM w, range(1, 100000) r(i)
        |        WHERE source = 'src0' AND len(ws) >= 2 AND i <= len(ws) - 1),
        |f AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM rbg GROUP BY 1, 2),
        |cx AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM f GROUP BY 1),
        |tot AS (SELECT sum(c12)::BIGINT AS t FROM f),
        |v AS (SELECT w1, w2, ${PortableLog.floorDec6Sql(PortableLog.log10RatioSql("c12", "c1"))} AS lp
        |      FROM f JOIN cx USING (w1) ORDER BY c12 DESC, w1, w2 LIMIT 50),
        |o AS (SELECT ${PortableLog.floorDec6Sql(PortableLog.log10RatioSql("1::BIGINT", "t"))} AS oov_lp FROM tot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(sum(coalesce(lp, oov_lp)) * 10000)::DOUBLE / 10000.0 AS sum_log10p,
        |  floor(sum(coalesce(lp, oov_lp)) * 10000)::DOUBLE / 10000.0 / count(*) AS avg_log10p
        |FROM bg LEFT JOIN v USING (w1, w2), o GROUP BY doc_id""".stripMargin),


    // the stupid-backoff chain restated: trigram table from the src0 slice,
    // every lower-order table a re-aggregation of it, α = 2/5 as integer
    // ratio numerator/denominator factors, per-token floor-e6 BIGINT units
    // raw 5-gram strings where the engine joins on their xxhash64 keys —
    // counts agree (the jaccardOracle convention); integer basis points
    "q_ngram_novelty" ->
      ("""WITH w AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> length(x) > 0) AS ws
        |  FROM documents),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 4),
        |rsh AS (SELECT DISTINCT
        |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS s
        |  FROM w, range(1, 100000) r(i)
        |  WHERE source = 'src0' AND i <= len(ws) - 4)
        |SELECT doc_id, count(*)::BIGINT AS n_ngrams,
        |  sum(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  ((sum(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END)::BIGINT * 10000)
        |    // count(*))::BIGINT AS novelty_bp
        |FROM dsh LEFT JOIN rsh r USING (s) GROUP BY doc_id""".stripMargin),

    "q_corpus_overlap" ->
      ("""WITH w AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> length(x) > 0) AS ws
        |  FROM documents),
        |dsh AS (SELECT DISTINCT doc_id,
        |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS s
        |  FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 4),
        |rsh AS (SELECT DISTINCT
        |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS s
        |  FROM w, range(1, 100000) r(i)
        |  WHERE source = 'src0' AND i <= len(ws) - 4),
        |tot AS (SELECT count(*)::BIGINT AS n_ngrams,
        |    sum(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel
        |  FROM dsh LEFT JOIN rsh r USING (s))
        |SELECT n_ngrams, n_novel,
        |  ((n_novel * 10000) // n_ngrams)::BIGINT AS novelty_bp FROM tot""".stripMargin),

    "q_backoff_lm" -> backoffLmOracle,

    // CCNet head/middle/tail terciles over the backoff-LM score, per lang:
    // the backoff chain reused verbatim as a nested CTE, then the divisible
    // floor-div per-doc average, strictly-better cumulative count over the
    // DESCENDING distinct-score codomain, bucket = (3·cb) // n_g
    "q_ccnet_buckets" ->
      (s"""WITH s AS ($backoffLmOracle),
        |j AS (SELECT s.doc_id, d.lang, s.sum_log10p_e6 AS s6,
        |             s.n_trigrams AS n
        |      FROM s JOIN documents d USING (doc_id)),
        |a AS (SELECT doc_id, lang,
        |             (s6 - (((s6 % n) + n) % n)) // n AS avg_e6 FROM j),
        |c AS (SELECT lang, avg_e6, count(*)::BIGINT AS c FROM a GROUP BY 1, 2),
        |w AS (SELECT lang, avg_e6,
        |        coalesce(sum(c) OVER (PARTITION BY lang ORDER BY avg_e6 DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb,
        |        sum(c) OVER (PARTITION BY lang)::BIGINT AS ng
        |      FROM c),
        |b AS (SELECT lang, avg_e6,
        |        CASE (3 * cb) // ng WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |          ELSE 'tail' END AS bucket
        |      FROM w)
        |SELECT a.doc_id, a.lang, a.avg_e6, b.bucket
        |FROM a JOIN b USING (lang, avg_e6)""".stripMargin),

    // frozen strata restated: the SAME tercile chain over the doc_id < 250
    // reference slice only, reduced to two per-lang cut points, then the
    // whole corpus CASE-bucketed against them (absent lang → tail)
    "q_ccnet_serve" ->
      (s"""WITH s AS ($backoffLmOracle),
        |j AS (SELECT s.doc_id, d.lang, s.sum_log10p_e6 AS s6,
        |             s.n_trigrams AS n
        |      FROM s JOIN documents d USING (doc_id)),
        |a AS (SELECT doc_id, lang,
        |             (s6 - (((s6 % n) + n) % n)) // n AS avg_e6 FROM j),
        |a0 AS (SELECT * FROM a WHERE doc_id < 250),
        |c0 AS (SELECT lang, avg_e6, count(*)::BIGINT AS c FROM a0 GROUP BY 1, 2),
        |w0 AS (SELECT lang, avg_e6,
        |        coalesce(sum(c) OVER (PARTITION BY lang ORDER BY avg_e6 DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb,
        |        sum(c) OVER (PARTITION BY lang)::BIGINT AS ng
        |      FROM c0),
        |b0 AS (SELECT lang, avg_e6,
        |        CASE (3 * cb) // ng WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |          ELSE 'tail' END AS bucket
        |      FROM w0),
        |cuts AS (SELECT a0.lang,
        |        min(CASE WHEN b0.bucket = 'head' THEN a0.avg_e6 END)::BIGINT AS head_min,
        |        min(CASE WHEN b0.bucket = 'middle' THEN a0.avg_e6 END)::BIGINT AS mid_min
        |      FROM a0 JOIN b0 USING (lang, avg_e6) GROUP BY 1)
        |SELECT a.doc_id, a.lang, a.avg_e6,
        |  CASE WHEN c.head_min IS NOT NULL AND a.avg_e6 >= c.head_min THEN 'head'
        |       WHEN c.mid_min IS NOT NULL AND a.avg_e6 >= c.mid_min THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM a LEFT JOIN cuts c USING (lang)""".stripMargin),

    // the KN algebra restated: capped bigram table with its PRECOMPUTED
    // lp12, uncapped per-word lp_ctx / lp_cont lookups (the seen-context
    // branch is BY SPEC the sum of its two separately-floored factors),
    // two scalar constants — the same factorization the engine scores with
    "q_kneser_ney" ->
      (s"""WITH w AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |       FROM w, range(1, 100000) r(i)
        |       WHERE len(ws) >= 2 AND i <= len(ws) - 1),
        |rbg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |        FROM w, range(1, 100000) r(i)
        |        WHERE source = 'src0' AND len(ws) >= 2 AND i <= len(ws) - 1),
        |f2 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM rbg GROUP BY 1, 2),
        |cx AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1 FROM f2 GROUP BY 1),
        |ct AS (SELECT w2, count(*)::BIGINT AS nc FROM f2 GROUP BY 1),
        |nbt AS (SELECT count(*)::BIGINT AS nb FROM f2),
        |v2 AS (SELECT w1, w2, floor(${PortableLog.log10RatioSql(
             "(4 * c12 - 3) * nb + 3 * n1 * nc", "4 * c1 * nb")} * 1000000.0::DOUBLE)::BIGINT AS lp12
        |       FROM f2 JOIN cx USING (w1) JOIN ct USING (w2), nbt
        |       ORDER BY c12 DESC, w1, w2 LIMIT 50),
        |cxl AS (SELECT w1, floor(${PortableLog.log10RatioSql(
             "3 * n1", "4 * c1")} * 1000000.0::DOUBLE)::BIGINT AS lp_ctx FROM cx),
        |ctl AS (SELECT w2, floor(${PortableLog.log10RatioSql(
             "nc", "nb")} * 1000000.0::DOUBLE)::BIGINT AS lp_cont FROM ct, nbt),
        |ko AS (SELECT floor(${PortableLog.log10RatioSql(
             "1::BIGINT", "nb")} * 1000000.0::DOUBLE)::BIGINT AS lp_cont0,
        |              floor(${PortableLog.log10RatioSql(
             "1::BIGINT", "4 * nb")} * 1000000.0::DOUBLE)::BIGINT AS lp_oov FROM nbt),
        |lp AS (SELECT doc_id,
        |  CASE
        |    WHEN lp12 IS NOT NULL THEN lp12
        |    WHEN lp_ctx IS NOT NULL THEN lp_ctx + coalesce(lp_cont, lp_cont0)
        |    WHEN lp_cont IS NOT NULL THEN lp_cont
        |    ELSE lp_oov
        |  END AS lp
        |  FROM bg LEFT JOIN v2 USING (w1, w2) LEFT JOIN cxl USING (w1)
        |  LEFT JOIN ctl USING (w2), ko)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  sum(lp)::BIGINT AS sum_log10p_e6,
        |  sum(lp)::DOUBLE / 1000000.0 / count(*) AS avg_log10p
        |FROM lp GROUP BY doc_id""".stripMargin),

    // the DSIR algebra restated: md5 % 256 bucket counts over target ('en')
    // and raw (all) token bags, per-bucket weight = difference of the two
    // separately-floored add-one-smoothed PortableLog terms, per-doc sums
    "q_dsir" ->
      (s"""WITH w AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
        |                x -> length(x) > 0) AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS f
        |        FROM (SELECT doc_id, lang, unnest(ws) AS w FROM w) t),
        |ct AS (SELECT f, count(*)::BIGINT AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
        |cr AS (SELECT f, count(*)::BIGINT AS cr FROM tok GROUP BY 1),
        |tots AS (SELECT (SELECT sum(ct) FROM ct)::BIGINT AS tt,
        |                (SELECT sum(cr) FROM cr)::BIGINT AS tr),
        |wt AS (SELECT f,
        |    (floor(${PortableLog.log10RatioSql(
             "coalesce(ct, 0::BIGINT) + 1", "tt + 256")} * 1000000.0::DOUBLE)::BIGINT
        |     - floor(${PortableLog.log10RatioSql(
             "coalesce(cr, 0::BIGINT) + 1", "tr + 256")} * 1000000.0::DOUBLE)::BIGINT) AS w6
        |  FROM cr FULL JOIN ct USING (f), tots)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w6)::BIGINT AS dsir_e6
        |FROM tok JOIN wt USING (f) GROUP BY doc_id""".stripMargin),

    // frozen-table serving restated: target counts from the en slice, raw
    // counts from the doc_id < 50 sample, OOV = both-counts-zero smoothed
    // weight; the whole corpus left-joins the table and coalesces to OOV
    "q_dsir_serve" ->
      (s"""WITH w AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
        |                x -> length(x) > 0) AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS f
        |        FROM (SELECT doc_id, lang, unnest(ws) AS w FROM w) t),
        |ct AS (SELECT f, count(*)::BIGINT AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
        |cr AS (SELECT f, count(*)::BIGINT AS cr FROM tok WHERE doc_id < 50 GROUP BY 1),
        |tots AS (SELECT (SELECT sum(ct) FROM ct)::BIGINT AS tt,
        |                (SELECT sum(cr) FROM cr)::BIGINT AS tr),
        |wt AS (SELECT f,
        |    (floor(${PortableLog.log10RatioSql(
             "coalesce(ct, 0::BIGINT) + 1", "tt + 1024")} * 1000000.0::DOUBLE)::BIGINT
        |     - floor(${PortableLog.log10RatioSql(
             "coalesce(cr, 0::BIGINT) + 1", "tr + 1024")} * 1000000.0::DOUBLE)::BIGINT) AS w6
        |  FROM cr FULL JOIN ct USING (f), tots),
        |ov AS (SELECT
        |    (floor(${PortableLog.log10RatioSql("1::BIGINT", "tt + 1024")} * 1000000.0::DOUBLE)::BIGINT
        |     - floor(${PortableLog.log10RatioSql("1::BIGINT", "tr + 1024")} * 1000000.0::DOUBLE)::BIGINT) AS w0
        |  FROM tots)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  sum(coalesce(w6, w0))::BIGINT AS dsir_e6
        |FROM tok LEFT JOIN wt USING (f), ov GROUP BY doc_id""".stripMargin),

    "q_dsir_select" ->
      (s"""WITH w AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
        |                x -> length(x) > 0) AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS f
        |        FROM (SELECT doc_id, lang, unnest(ws) AS w FROM w) t),
        |ct AS (SELECT f, count(*)::BIGINT AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
        |cr AS (SELECT f, count(*)::BIGINT AS cr FROM tok GROUP BY 1),
        |tots AS (SELECT (SELECT sum(ct) FROM ct)::BIGINT AS tt,
        |                (SELECT sum(cr) FROM cr)::BIGINT AS tr),
        |wt AS (SELECT f,
        |    (floor(${PortableLog.log10RatioSql(
             "coalesce(ct, 0::BIGINT) + 1", "tt + 256")} * 1000000.0::DOUBLE)::BIGINT
        |     - floor(${PortableLog.log10RatioSql(
             "coalesce(cr, 0::BIGINT) + 1", "tr + 256")} * 1000000.0::DOUBLE)::BIGINT) AS w6
        |  FROM cr FULL JOIN ct USING (f), tots)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w6)::BIGINT AS dsir_e6
        |FROM tok JOIN wt USING (f) GROUP BY doc_id
        |ORDER BY dsir_e6 DESC, doc_id LIMIT 100""".stripMargin),

    // same window arithmetic: chunk i covers words [(i-1)*48+1, (i-1)*48+64],
    // window count = 1 + ceil((n-64)/48) clamped at >= 1
    "q_chunk_windows" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents)
        |SELECT doc_id, (i - 1)::INTEGER AS chunk_id,
        |  len(ws[(i-1)*48+1 : (i-1)*48+64])::INTEGER AS n_words,
        |  array_to_string(ws[(i-1)*48+1 : (i-1)*48+64], ' ') AS chunk
        |FROM w, range(1, 100000) r(i)
        |WHERE len(ws) >= 1
        |  AND i <= greatest(1, ceil((len(ws) - 64) / 48::DOUBLE)::INTEGER + 1)""".stripMargin),

    // same double-precision pipeline: float32 inputs widened to double, max-abs
    // scale (exact IEEE max/divide), floor(x+0.5) portable rounding
    "q_embed_quantize" ->
      ("""SELECT vec_id,
        |  floor(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) * 10000) / 10000 AS norm,
        |  array_to_string(list_transform(embedding, x ->
        |    CAST(floor(x::DOUBLE / greatest(amax, 1e-12) * 127.0::DOUBLE + 0.5) AS INTEGER)::VARCHAR), ',') AS q8
        |FROM (SELECT vec_id, embedding,
        |        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
        |      FROM embeddings)""".stripMargin),

    "q_events_tumbling" ->
      // ts::TIMESTAMP truncates DuckDB's ns to µs — the precision Spark reads;
      // money sum in BIGINT cents over an exact DECIMAL sum (r11 sf1-sweep idiom)
      ("SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start, event_type, " +
        "count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(30,8))), 2) * 100 " +
        "AS BIGINT) AS sum_value_c2 FROM events GROUP BY 1, 2"),

    // first/last restated as window ranks over (µs-time, event_id) — the
    // same total order the engine's struct extremes encode
    "q_events_ohlc" ->
      ("""WITH b AS (SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start,
        |    event_type AS series, epoch_us(ts::TIMESTAMP) AS tsu, event_id, value
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY window_start, series
        |                       ORDER BY tsu, event_id) AS ra,
        |    row_number() OVER (PARTITION BY window_start, series
        |                       ORDER BY tsu DESC, event_id DESC) AS rd
        |  FROM b)
        |SELECT window_start, series,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*)::BIGINT AS n
        |FROM r GROUP BY 1, 2""".stripMargin),

    // same integer day arithmetic: ts::DATE, date_diff('day'), // 7
    "q_events_retention" ->
      ("""WITH f AS (SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_day,
        |        (date_diff('day', f.cohort_day, e.ts::DATE)::BIGINT // 7) AS week_offset
        |      FROM events e JOIN f USING (user_id))
        |SELECT cohort_day, week_offset, count(*)::BIGINT AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin),

    // lead() over the same (ts, event_id) per-user order; µs casts so the
    // ns fixture cannot out-resolve the engine's read
    "q_events_scd2" ->
      ("""SELECT user_id, ts::TIMESTAMP AS valid_from, event_id, event_type, value,
        |  lead(ts::TIMESTAMP) OVER (PARTITION BY user_id
        |    ORDER BY ts::TIMESTAMP, event_id) AS valid_to
        |FROM events""".stripMargin),

    // the greedy chain unrolled: every comparison on µs-cast timestamps so
    // the oracle's ns fixture cannot out-resolve the engine's µs read
    "q_events_funnel" ->
      ("""WITH s1 AS (SELECT user_id, min(ts::TIMESTAMP) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t1, min(e.ts::TIMESTAMP) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s1.t1
        |       GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t1, s2.t2, min(e.ts::TIMESTAMP) AS t3
        |       FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > s2.t2
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t1, t2, t3 FROM s3""".stripMargin),

    "q_events_sliding" ->
      // 1h windows sliding by 30min: each event falls in the windows starting at
      // floor_30m(ts) and floor_30m(ts) - 30m
      ("SELECT window_start, event_type, count(*) AS n FROM (" +
        "SELECT time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP) AS window_start, event_type FROM events " +
        "UNION ALL " +
        "SELECT time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP) - INTERVAL '30 minutes' " +
        "  AS window_start, event_type FROM events " +
        ") GROUP BY 1, 2"),

    "q_events_session" ->
      ("WITH x AS (SELECT user_id, ts::TIMESTAMP AS ts, value, " +
        "CASE WHEN ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER " +
        "(PARTITION BY user_id ORDER BY ts) <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS newf " +
        "FROM events), " +
        "y AS (SELECT user_id, ts, value, sum(newf) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x) " +
        "SELECT user_id, min(ts) AS session_start, " +
        "max(ts) + INTERVAL '30 minutes' AS session_end, " +
        "count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(30,8))), 2) * 100 " +
        "AS BIGINT) AS sum_value_c2 FROM y GROUP BY user_id, sid"),

    "q_asof_join" ->
      ("WITH m AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice, " +
        "row_number() OVER (PARTITION BY e.event_id " +
        "ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn " +
        "FROM events e LEFT JOIN orders o " +
        "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) " +
        "SELECT event_id, user_id, o_orderkey, o_totalprice FROM m WHERE rn = 1"),

    // per-user daily grid via generate_series, backward match restated as
    // the usual window-rank idiom; value is carried verbatim (no rounding:
    // the matched DOUBLE is a stored parquet value, not arithmetic)
    "q_resample_locf" ->
      ("""WITH k AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |g AS (SELECT k.user_id, gs.g AS grid_ts
        |      FROM k, generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |                              TIMESTAMP '2024-01-30 00:00:00',
        |                              INTERVAL 1 DAY) gs(g)),
        |m AS (SELECT g.user_id, g.grid_ts, e.event_id, e.value,
        |        row_number() OVER (PARTITION BY g.user_id, g.grid_ts
        |          ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |      FROM g LEFT JOIN events e
        |        ON e.user_id = g.user_id AND e.ts <= g.grid_ts)
        |SELECT user_id, grid_ts, event_id, value FROM m WHERE rn = 1""".stripMargin),

    // backward within 30 days: the tolerance rides the join window — the
    // most recent candidate is the nearest backward one, so filtering is
    // equivalent to nulling an out-of-range match
    "q_asof_tolerance" ->
      ("WITH m AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice, " +
        "row_number() OVER (PARTITION BY e.event_id " +
        "ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn " +
        "FROM events e LEFT JOIN orders o " +
        "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
        "AND epoch_us(e.ts::TIMESTAMP) - epoch_us(o.o_orderdate::TIMESTAMP) <= 2592000000000) " +
        "SELECT event_id, user_id, o_orderkey, o_totalprice FROM m WHERE rn = 1"),

    // forward: earliest order at-or-after the event; smallest orderkey on ties
    "q_asof_forward" ->
      ("WITH m AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice, " +
        "row_number() OVER (PARTITION BY e.event_id " +
        "ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn " +
        "FROM events e LEFT JOIN orders o " +
        "ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts) " +
        "SELECT event_id, user_id, o_orderkey, o_totalprice FROM m WHERE rn = 1"),

    // nearest: min |Δt| in exact integer microseconds; distance ties prefer the
    // backward side, then the per-side tiebreak (backward: largest orderkey,
    // forward: smallest) — mirrors AsOfJoin.nearest exactly
    "q_asof_nearest" ->
      ("WITH m AS (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice, " +
        "row_number() OVER (PARTITION BY e.event_id ORDER BY " +
        "abs(epoch_us(o.o_orderdate::TIMESTAMP) - epoch_us(e.ts::TIMESTAMP)) ASC, " +
        "CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END ASC, " +
        "CASE WHEN o.o_orderdate <= e.ts THEN -o.o_orderkey ELSE o.o_orderkey END ASC" +
        ") AS rn " +
        "FROM events e LEFT JOIN orders o ON o.o_custkey = e.user_id) " +
        "SELECT event_id, user_id, o_orderkey, o_totalprice FROM m WHERE rn = 1"),

    "q_governance" ->
      ("SELECT c_custkey, md5(c_name) AS c_name, c_nationkey, c_mktsegment " +
        "FROM customer WHERE c_nationkey < 20"),

    "q_governance_rule" ->
      ("SELECT c_custkey, md5(c_name) AS c_name, c_nationkey, c_mktsegment " +
        "FROM customer WHERE c_nationkey < 20"),

    // duration: one WAV sample per text byte at 8192 Hz — n/8192.0 is exact in
    // double (power-of-two divisor), so no rounding is needed on either side
    "q_multimodal_meta" ->
      ("SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' " +
        "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "(CASE WHEN doc_id % 3 = 2 THEN octet_length(encode(coalesce(text, ''))) END)::INTEGER AS src_bytes, " +
        "(CASE WHEN doc_id % 3 = 0 THEN octet_length(encode(coalesce(text, ''))) % 64 + 16 END)::INTEGER AS width, " +
        "(CASE WHEN doc_id % 3 = 0 THEN octet_length(encode(coalesce(text, ''))) % 48 + 16 END)::INTEGER AS height, " +
        "(CASE WHEN doc_id % 3 = 1 THEN octet_length(encode(coalesce(text, ''))) / 8192.0 END)::DOUBLE AS duration_s, " +
        "(CASE WHEN doc_id % 3 = 1 THEN 8192 END)::INTEGER AS sample_rate, " +
        "(CASE WHEN doc_id % 3 = 2 THEN octet_length(encode(coalesce(text, ''))) % 24 + 1 END)::INTEGER AS n_frames " +
        "FROM documents"),

    // recomputes the 16x12 frame pixels from the synthesis formula
    // (x*31 + y*17 + doc_id*131 + frame) & 0xffffff and sums each channel in
    // exact integer arithmetic — the engine side gets the same numbers only by
    // actually decoding the PNG frames out of the GV01 container
    "q_multimodal_pixels" ->
      ("""WITH v AS (SELECT doc_id, octet_length(encode(coalesce(text, ''))) % 24 + 1 AS nf
        |           FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, i - 1 AS frame_no FROM v, range(1, 100000) r(i) WHERE i <= nf),
        |px AS (SELECT doc_id, frame_no,
        |         ((x.i - 1) * 31 + (y.i - 1) * 17 + doc_id * 131 + frame_no) & 16777215 AS val
        |       FROM f, range(1, 17) x(i), range(1, 13) y(i))
        |SELECT doc_id, frame_no::INTEGER AS frame_no,
        |  sum((val >> 16) & 255)::BIGINT AS sum_r,
        |  sum((val >> 8) & 255)::BIGINT AS sum_g,
        |  sum(val & 255)::BIGINT AS sum_b
        |FROM px GROUP BY 1, 2""".stripMargin),

    // recomputes sample i = ((i*2654435761 + doc_id) & 0xffff) - 32768 and
    // sums in exact integer arithmetic — the engine gets the same numbers
    // only by actually parsing the WAV container and PCM stream
    "q_multimodal_audio" ->
      ("""WITH a AS (SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS n
        |           FROM documents WHERE doc_id % 3 = 1)
        |SELECT a.doc_id, a.n::BIGINT AS n_samples,
        |  (coalesce(sum(((r.i - 1) * 2654435761 + a.doc_id) & 65535), 0)
        |   - 32768 * a.n)::BIGINT AS sum_samples
        |FROM a LEFT JOIN range(1, 100000) r(i) ON r.i <= a.n
        |GROUP BY a.doc_id, a.n""".stripMargin),

    // scale-to-fit formula on the synthesis dims, maxSide 20, never upscale;
    // 20.0/greatest and the multiply are the same IEEE ops the engine runs,
    // so ceil boundaries agree exactly
    "q_multimodal_resize" ->
      ("""WITH d AS (SELECT doc_id,
        |              octet_length(encode(coalesce(text, ''))) % 64 + 16 AS w,
        |              octet_length(encode(coalesce(text, ''))) % 48 + 16 AS h
        |            FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id,
        |  greatest(1, ceil(w * least(1.0, 20.0 / greatest(w, h))))::INTEGER AS width,
        |  greatest(1, ceil(h * least(1.0, 20.0 / greatest(w, h))))::INTEGER AS height
        |FROM d""".stripMargin)
  )
}
