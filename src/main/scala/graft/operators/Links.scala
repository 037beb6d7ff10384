package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web link-graph extraction + host-level PageRank — the crawl-curation
  * signal the rest of the pipeline family (HTML extraction `TextAnalysis`,
  * URL canon/dedup `Urls`) feeds but did not yet produce: which SITES does
  * the crawl consider reputable? Common Crawl-style pipelines rank hosts by
  * link endorsement and use the rank as a quality prior (alongside the
  * trained classifier) and as a frontier-priority signal.
  *
  * Reference scope note: the reference connector has no link/ranking code
  * (it delegates scans — `trino/RecordServiceSplitManagerImpl.java:140-145`);
  * this is north-star extension territory like the rest of `operators/`.
  *
  * Everything here follows the file-wide portability discipline:
  *  - link extraction is pure `functions._` regex/array composition in the
  *    Java∩RE2 dialect (restatable by the DuckDB oracle verbatim);
  *  - PageRank runs ENTIRELY in fixed-point BIGINT arithmetic (scale 1e12)
  *    with truncating division on non-negative operands only, so Spark's
  *    `div` and the oracle's `//` agree bit-for-bit and the result cannot
  *    depend on any engine's floating-point or libm build (the round-8
  *    classifier lesson, BASELINE.md "oracle-engine portability").
  *
  * Scale shape (100 TB story): extraction is one narrow codegen'd pass plus
  * one explode proportional to the LINK count (not the HTML byte count);
  * the host graph aggregates that stream down to |hosts|² worst-case but
  * realistically |edges| ≪ |links| rows; PageRank then iterates over the
  * HOST graph — millions of rows at web scale, not billions — with one
  * hash-partitioned join + aggregate per round ([[Par.iterate]]).
  */
object Links {

  /** href values that are not navigable page links: pure fragments, script
    * pseudo-links, mail/tel/data schemes. Shared verbatim with the oracle.
    */
  val NonLinkPattern: String = "(?i)^(#.*|javascript:.*|mailto:.*|tel:.*|data:.*)$"

  /** Outgoing links of each document: every `<a … href="…">` / `href='…'`
    * target, entity-decoded (`&amp;` appears heavily in real hrefs) and
    * resolved against the document's own URL:
    *
    *  - absolute `scheme://…` → kept as-is;
    *  - protocol-relative `//host/path` → the document's scheme;
    *  - root-relative `/path` → the document's `scheme://host`;
    *  - fragments / javascript: / mailto: / tel: / data: / empty → dropped;
    *  - directory-relative (`page.html`, `../x`) → dropped. (Resolving them
    *    needs the RFC 3986 dot-segment algorithm; root-relative + absolute
    *    covers the overwhelming share of real anchors, and a dropped link
    *    only thins the endorsement graph — documented simplification.)
    *
    * Output: one row per (document, kept href occurrence) —
    * (doc_id, src_host, dst_url, dst_host), hosts via [[Urls.hostOf]]
    * (lower-cased, userinfo gone, default port dropped). Duplicate hrefs in
    * one page are KEPT (they weight [[hostEdges]]); self-links are kept too
    * and left to the graph stage to drop.
    *
    * Scale shape: narrow codegen'd extraction, one explode sized by the
    * link stream; no shuffle.
    */
  /** Shared href resolution (see [[extractLinks]]'s rules): absolute kept,
    * protocol-/root-relative resolved against the page's scheme/host,
    * everything else null. `&amp;` — the one entity legal in attribute
    * values that matters for URLs — is decoded first.
    */
  private def resolveHref(h: Column, srcScheme: Column, srcHost: Column): Column = {
    val t = trim(replace(h, lit("&amp;"), lit("&")))
    when(t.rlike(NonLinkPattern) || t === "", lit(null: String))
      .when(t.rlike("(?i)^[a-z][a-z0-9+.-]*://"), t)
      .when(t.startsWith("//"), concat(srcScheme, lit(":"), t))
      .when(t.startsWith("/"), concat(srcScheme, lit("://"), srcHost, t))
      .otherwise(lit(null: String))
  }

  /** Opening-tag prefix that tolerates '>' INSIDE quoted attribute values
    * (`<a title="a>b" href=…>`): any run of non-delimiter chars or complete
    * quoted strings. Pure alternation — same semantics in Java regex and
    * RE2 (no backrefs/lookaround).
    */
  private val ATagBody = "(?:[^>\"']|\"[^\"]*\"|'[^']*')"

  def extractLinks(docs: DataFrame, idCol: String, urlCol: String,
      htmlCol: String): DataFrame = {
    // `<a\s`: the tag name must END after 'a' (<article data-href=…> is not
    // an anchor); `[\s"']href`: the attribute name must START at href
    // (data-href/ng-href emit no edge)
    val hrefs = regexp_extract_all(coalesce(col(htmlCol), lit("")),
      lit(s"(?is)<a\\s(?:$ATagBody*?[\\s\"'])?href\\s*=\\s*[\"']([^\"']*)[\"']"), lit(1))
    val srcScheme = lower(regexp_extract(trim(col(urlCol)),
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val srcHost = Urls.hostOf(col(urlCol))
    val resolved = transform(hrefs, h => resolveHref(h, srcScheme, srcHost))
    Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"), srcHost.as("src_host"),
        resolved.as("ls"))
      .select(col("doc_id"), col("src_host"),
        explode(filter(col("ls"), l => l.isNotNull)).as("dst_url"))
      .withColumn("dst_host", Urls.hostOf(col("dst_url")))
  }

  /** [[extractLinks]] plus the ANCHOR TEXT of each kept link — the
    * (dst_url, anchor_text) stream behind anchor-text corpora (retrieval
    * training pairs, link-context quality signals: what the web CALLS a
    * page, which is often cleaner than the page's own title). Inner markup
    * is stripped, whitespace collapsed, and the same six-entity set as
    * [[TextAnalysis.htmlExtract]]'s visible-text path decoded; anchors
    * whose href resolves to null (fragments, mailto:, directory-relative,
    * …) are dropped exactly as in [[extractLinks]].
    * Output: (doc_id, src_host, dst_url, dst_host, anchor_text) — one row
    * per kept href occurrence; empty anchor bodies surface as ''.
    *
    * Scale shape: identical to [[extractLinks]] — one narrow codegen'd
    * pass, one explode sized by the anchor stream, no shuffle.
    */
  def anchorTexts(docs: DataFrame, idCol: String, urlCol: String,
      htmlCol: String): DataFrame = {
    // match EVERY anchor element — and only anchors: the tag name must end
    // after 'a' (whitespace or an immediate '>'), so <aside>/<abbr> never
    // match; quoted '>' in attributes tolerated; href-less anchors fall out
    // via resolveHref's null path below
    val elems = regexp_extract_all(coalesce(col(htmlCol), lit("")),
      lit(s"(?is)<a(?:\\s$ATagBody*)?>.*?</a>"), lit(0))
    val srcScheme = lower(regexp_extract(trim(col(urlCol)),
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val base = Par.spread(docs)
      .select(Keys.id(docs, idCol).as("doc_id"), srcScheme.as("__sch"),
        Urls.hostOf(col(urlCol)).as("src_host"), explode(elems).as("__elem"))
    // href is read from the OPENING TAG only — an href-shaped string in the
    // anchor BODY must never be mistaken for the attribute — and the
    // attribute name must START at href (data-href is not a link)
    val openTag = regexp_extract(col("__elem"),
      s"(?is)^(<a(?:\\s$ATagBody*)?>)", 1)
    val href = regexp_extract(openTag,
      "(?is)[\\s\"']href\\s*=\\s*[\"']([^\"']*)[\"']", 1)
    val rawText = regexp_replace(regexp_replace(col("__elem"),
      s"(?is)^<a(?:\\s$ATagBody*)?>", ""), "(?is)</a>$", "")
    // the same six-entity decode as htmlExtract's visible-text path (&amp;
    // last so it cannot cascade into the others) — r9 ADVICE: anchor text
    // with quotes surfaced still-encoded while the extractor decoded them
    val cleaned = trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(rawText, "(?s)<[^>]*>", " "),
        lit("&nbsp;"), lit(" ")), lit("&lt;"), lit("<")),
        lit("&gt;"), lit(">")), lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")), lit("&amp;"), lit("&")),
      "\\s+", " "))
    base
      .withColumn("dst_url", resolveHref(href, col("__sch"), col("src_host")))
      .filter(col("dst_url").isNotNull)
      .select(col("doc_id"), col("src_host"), col("dst_url"),
        Urls.hostOf(col("dst_url")).as("dst_host"),
        cleaned.as("anchor_text"))
  }

  /** The host endorsement graph: (src_host, dst_host, n_links) with
    * self-loops dropped (a site linking to itself is navigation, not
    * endorsement — and self-edges make PageRank self-reinforcing).
    * `n_links` counts href occurrences — the edge weight surface; the
    * [[pageRank]] below uses the UNWEIGHTED distinct edge set (classic
    * host-graph PageRank), `n_links` feeds reporting and spam heuristics.
    */
  def hostEdges(links: DataFrame): DataFrame =
    links
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))

  /** The edge set every graph operator here starts from: `srcCol`/`dstCol`
    * as (src, dst), edges with a null end and self edges dropped, then
    * distinct — or, given `weightCol`, (src, dst, w) with the BIGINT weights
    * summed per pair. A caller wanting a symmetric graph passes the union of
    * both directions.
    */
  private def edgeSet(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None): DataFrame = {
    val e = edges.select(Seq(col(srcCol).as("src"), col(dstCol).as("dst")) ++
        weightCol.map(w => col(w).cast("long").as("w")): _*)
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    if (weightCol.isEmpty) e.distinct()
    else e.groupBy("src", "dst").agg(sum("w").as("w"))
  }

  /** The flow frame [[dampedRank]] reads, pinned once ([[Par.pin]]; every
    * round reads it): (keys…, src, dst,
    * num, den) over an edge set `e` of (keys…, src, dst[, w]), where a
    * node of rank r sends (r·num) div den along each out-edge.
    *  - Unweighted: num = 1, den = outdeg(src) — the classic r div outdeg.
    *  - `weighted` (`e` carries w): the weights are quantized per source to
    *    basis points, num = wq = (w·10⁴) div Σw and den = 10⁴, which keeps
    *    every product r·wq ≤ Scale·10⁴ = 1e16 — exact BIGINT whatever the
    *    raw weight magnitudes (r·w directly would overflow at web-scale link
    *    counts). Σwq ≤ 10⁴, so mass leaks by ≤ outdeg/10⁴ per step — the
    *    dropped-dangling-mass class.
    * One aggregate and one join per call; no round recomputes them.
    */
  private[operators] def flow(e: DataFrame, keys: Seq[String] = Nil,
      weighted: Boolean = false): DataFrame = {
    val bySrc = keys :+ "src"
    val out = e.groupBy(bySrc.map(col): _*)
      .agg((if (weighted) sum("w") else count(lit(1))).as("out"))
    Par.pin(e.join(out, bySrc)
      .select(bySrc.map(col) ++ Seq(col("dst"),
        (if (weighted) expr("(w * 10000L) div out") else lit(1L)).as("num"),
        (if (weighted) lit(10000L) else col("out")).as("den")): _*))
  }

  /** The damped fixed-point rank recurrence — ONE definition feeds
    * [[pageRank]], [[pageRankFrom]], [[pageRankWeighted]], [[trustRank]]
    * and [[TextAnalysis.textRankKeywords]], so the arithmetic can never
    * fork. Ranks are BIGINTs keyed by (keys…, node); per round
    *
    *   r'(v) = teleport(v) + dampBp · coalesce(Σ_{u→v} (r(u)·num) div den, 0) div 10⁴
    *
    * over the caller's pinned [[flow]] frame, where `teleport` is a column
    * over `nodes` (keys…, node, …), the frame that lists every node. Every
    * operand is non-negative, so truncating division is floor in both Spark
    * (`div`) and the oracle engine (`//`) — exact integer arithmetic,
    * bit-identical across engines. Spark's `/` would be double division
    * (and dampBp·Σ brushes 2^53). Each round is one equi-join of the ranks
    * onto the flow plus one hash aggregate on the destination.
    */
  private[operators] def dampedRank(flow: DataFrame, nodes: DataFrame,
      teleport: Column, ranks0: DataFrame, keys: Seq[String], node: String,
      iters: Int, dampBp: Int): DataFrame = {
    val kc = keys.map(col)
    Par.iterate(ranks0, iters) { (ranks, _) =>
      val contrib = ranks.select(kc :+ col(node).as("src") :+ col("rank"): _*)
        .join(flow, keys :+ "src")
        .groupBy(kc :+ col("dst").as(node): _*)
        .agg(sum(expr("(rank * num) div den")).as("contrib"))
      nodes.join(contrib, keys :+ node, "left")
        .select(kc :+ col(node) :+ (teleport +
          expr(s"(${dampBp}L * coalesce(contrib, 0L)) div 10000L")).as("rank"): _*)
    }
  }

  private def requireRank(iters: Int, dampBp: Int): Unit = {
    require(iters >= 0 && iters <= 50, "need 0 <= iters <= 50")
    require(dampBp >= 0 && dampBp <= 10000, "dampBp is basis points")
  }

  /** The fixed-point unit of every [[dampedRank]] rank: 1e-12. */
  private[operators] val Scale = 1000000000000L

  /** Every host of a host-keyed flow frame: (host). */
  private def hostsOf(f: DataFrame): DataFrame =
    f.select(col("src").as("host")).union(f.select(col("dst").as("host"))).distinct()

  /** [[dampedRank]] over every host of `f` with the uniform teleport
    * (10⁴−dampBp)·Scale div N div 10⁴; `ranks0` gives round 0 from the
    * (host) frame and N. An empty graph yields an empty (host, rank).
    */
  private def uniformRank(f: DataFrame, iters: Int, dampBp: Int)(
      ranks0: (DataFrame, Long) => DataFrame): DataFrame = {
    val nodes = hostsOf(f)
    val n = nodes.count()
    if (n == 0) return nodes.withColumn("rank", lit(0L))
    dampedRank(f, nodes, lit((10000L - dampBp) * Scale / n / 10000L),
      ranks0(nodes, n), Nil, "host", iters, dampBp)
  }

  /** Fixed-point PageRank over a (src_host, dst_host) edge set.
    *
    * Rank is a BIGINT in units of 1e-12 (`Scale`); with damping `dampBp`
    * in basis points (8500 = the classic 0.85):
    *
    *   r0(v)   = Scale div N
    *   r_k+1(v) = (10000-dampBp)*Scale div N div 10000
    *            + dampBp * Σ_{u→v} (r_k(u) div outdeg(u)) div 10000
    *
    * Every operand is non-negative, so truncating integer division is floor
    * in both Spark (`div`) and the oracle engine (`//`) — the whole
    * computation is exact integer arithmetic, bit-identical across engines.
    * Dangling hosts (no out-edges) keep receiving the teleport term; their
    * mass is NOT redistributed (the "dropped dangling mass" PageRank
    * variant — total mass shrinks, relative ranking is what the pipeline
    * consumes). Overflow headroom: dampBp·Σcontrib ≤ 1e4·1e12 = 1e16 ≪ 2^63.
    *
    * Output: (host, rank) for every host that appears as src or dst.
    * Scale shape: the flow frame is one aggregate and one join, pinned;
    * each iteration is one equi-join on `src` + one hash aggregate on `dst`
    * ([[dampedRank]]) — all shuffles keyed by host, AQE-coalesced.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, dampBp: Int = 8500,
      srcCol: String = "src_host", dstCol: String = "dst_host"): DataFrame = {
    requireRank(iters, dampBp)
    uniformRank(flow(edgeSet(edges, srcCol, dstCol)), iters, dampBp)(
      (nodes, n) => nodes.withColumn("rank", lit(Scale / n)))
  }

  /** [[pageRank]] RESUMED from persisted ranks — the incremental form a
    * rolling crawl runs: round N's (host, rank) table is the state, round
    * N+1 continues the recurrence on the (possibly grown) edge set instead
    * of re-converging from uniform. On an unchanged graph the continuation
    * is EXACT: resume(ranks after k, j more) ≡ pageRank(k + j) — the
    * equivalence the oracle pins. A host new to the graph starts at the
    * uniform Scale div N mass (with N the CURRENT node count — the same
    * default a cold start gives it); ranks for hosts that left the graph
    * are dropped. Same plan shape and BIGINT discipline as [[pageRank]];
    * state-side cost is one host-keyed left join to seed r0.
    */
  def pageRankFrom(edges: DataFrame, init: DataFrame, iters: Int = 3,
      dampBp: Int = 8500, srcCol: String = "src_host",
      dstCol: String = "dst_host"): DataFrame = {
    requireRank(iters, dampBp)
    require(Seq("host", "rank").forall(init.columns.contains),
      "init must be a pageRank output: (host, rank)")
    uniformRank(flow(edgeSet(edges, srcCol, dstCol)), iters, dampBp)(
      (nodes, n) => nodes
        .join(init.select(col("host").as("i_host"), col("rank").as("i_rank")),
          col("host") === col("i_host"), "left")
        .select(col("host"), coalesce(col("i_rank"), lit(Scale / n)).as("rank")))
  }

  /** Weight-aware PageRank over (src, dst, weight) edges — mass flows in
    * proportion to link COUNTS ([[hostEdges]]' `n_links`), the endorsement-
    * strength variant spam heuristics compare against the unweighted rank
    * (a farm inflating one edge's multiplicity moves the weighted rank but
    * not the distinct-edge one).
    *
    * Edges with a non-positive weight are dropped; the rest sum per pair and
    * are quantized per source to basis points, a contribution being
    * (rank·wq) div 10⁴, div-then-sum ([[flow]]). Relative ordering is what
    * the pipeline consumes. All operands non-negative → floor division in
    * both engines. Same plan shape as [[pageRank]].
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 3, dampBp: Int = 8500,
      srcCol: String = "src_host", dstCol: String = "dst_host",
      weightCol: String = "n_links"): DataFrame = {
    requireRank(iters, dampBp)
    val positive = edges.filter(col(weightCol).cast("long") > 0)
    uniformRank(flow(edgeSet(positive, srcCol, dstCol, Some(weightCol)),
      weighted = true), iters, dampBp)((nodes, n) => nodes.withColumn("rank", lit(Scale / n)))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a host edge set —
    * the link-analysis complement to [[pageRank]]: a good HUB links to many
    * good authorities, a good AUTHORITY is linked from many good hubs
    * (directory/portal pages vs canonical sources). Both scores feed crawl
    * prioritization and the farm heuristics [[trustRank]] anchors — a link
    * farm shows high hub × low trust.
    *
    * Fixed-point discipline, HitsScale = 1e9, hub0 = HitsScale on every node; per
    * iteration (Kleinberg's order — authorities first from current hubs,
    * then hubs from the NEW authorities):
    *
    *   a'(v) = Σ_{u→v} h(u);  a(v) = a'(v) div greatest(max(a') div HitsScale, 1)
    *   h'(u) = Σ_{u→v} a(v);  h(u) = h'(u) div greatest(max(h') div HitsScale, 1)
    *
    * Max-normalization (the standard HITS L∞ choice, here in integers)
    * bounds every score by < 2·HitsScale, so the next half-step's sum is
    * < n·2·HitsScale — overflow-free in BIGINT for any graph under ~4.6e9
    * hosts. Every operand is non-negative, so truncating division is floor
    * in both Spark (`div`) and the oracle engine (`//`); the normalizer is
    * one max aggregate each engine derives identically (in-plan here — a
    * broadcast 1-row cross join — a scalar subquery in the oracle). No
    * in-edges → authority 0; no out-edges → hub 0.
    *
    * Output: (host, auth, hub) for every host in the graph. Scale shape:
    * per half-step one equi-join on the edge key + one hash aggregate +
    * one 1-row max — all shuffles host-keyed, AQE-coalesced, each half-step
    * pinned.
    */
  def hits(edges: DataFrame, iters: Int = 3, srcCol: String = "src_host",
      dstCol: String = "dst_host"): DataFrame = {
    require(iters >= 1 && iters <= 50, "need 1 <= iters <= 50")
    val HitsScale = 1000000000L
    val e = Par.pin(edgeSet(edges, srcCol, dstCol))
    val nodes = Par.pin(hostsOf(e))
    // one half-step: sum the partner scores over the edges, then divide by
    // the integer normalizer derived from the max
    def half(scores: DataFrame, joinOn: String, outOn: String): DataFrame = {
      val raw = e.join(scores, e(joinOn) === scores("host"))
        .groupBy(e(outOn).as("h")).agg(sum("s").as("raw"))
      // normalizer IN-PLAN as a broadcast 1-row cross join (r15 opt round):
      // the previous `.head.getLong(0)` forced a driver collect per
      // half-step — 2·iters blocking jobs per call whose only purpose was
      // turning max(raw) into a literal. greatest(m div HitsScale, 1) is the
      // identical integer arithmetic (m ≥ 0), so scores are bit-identical.
      val mx = raw.agg(coalesce(max("raw"), lit(0L)).as("m"))
      nodes.join(raw, nodes("host") === raw("h"), "left")
        .crossJoin(broadcast(mx))
        .select(col("host"),
          expr(s"coalesce(raw, 0L) div greatest(m div ${HitsScale}L, 1L)").as("s"))
    }
    // odd rounds compute authorities from hubs, even rounds hubs from
    // authorities; the last round is an authority half, then its hub half
    val auth = Par.iterate(nodes.withColumn("s", lit(HitsScale)), 2 * iters - 1) {
      (s, round) => if (round % 2 == 1) half(s, "src", "dst") else half(s, "dst", "src")
    }
    val hub = Par.pin(half(auth, "dst", "src"))
    auth.withColumnRenamed("s", "auth")
      .join(hub.withColumnRenamed("s", "hub"), "host")
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    * with the teleport mass restricted to a hand-curated TRUSTED seed set,
    * so reputation can only flow OUT of the seeds along links — the
    * standard spam-demotion complement to [[pageRank]] (a link farm can
    * inflate its PageRank by mutual endorsement but cannot manufacture
    * trust it never receives from the seed side of the graph).
    *
    * Identical fixed-point discipline and plan shape to [[pageRank]]; the
    * only change is the teleport vector:
    *
    *   t0(v)    = Scale div Ns          if v ∈ seeds, else 0
    *   t_k+1(v) = [(10000-dampBp)*Scale div Ns div 10000 if v ∈ seeds else 0]
    *            + dampBp * Σ_{u→v} (t_k(u) div outdeg(u)) div 10000
    *
    * Seeds not present in the edge set carry no mass (they are outside the
    * graph); the seed frame is broadcast (curated trust lists are small by
    * construction — requiring that keeps the plan honest at 100 TB).
    *
    * Output: (host, rank, is_seed) for every host in the graph; hosts
    * unreachable from any seed end at rank 0 — the spam-detection signal
    * (low TrustRank × high PageRank = the classic farm indicator).
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
      dampBp: Int = 8500, srcCol: String = "src_host",
      dstCol: String = "dst_host", seedCol: String = "host"): DataFrame = {
    requireRank(iters, dampBp)
    val f = flow(edgeSet(edges, srcCol, dstCol))
    val nodes = hostsOf(f)
    // seeds ∩ graph — only in-graph seeds receive teleport mass
    val sd = broadcast(
      seeds.select(col(seedCol).as("host")).na.drop().distinct())
    val ns = nodes.join(sd, "host").count()
    require(ns > 0, "trustRank: no seed host appears in the edge set")
    val marked = Par.pin(nodes
      .join(sd.withColumn("is_seed", lit(true)), Seq("host"), "left")
      .select(col("host"), coalesce(col("is_seed"), lit(false)).as("is_seed")))
    def seedOnly(v: Long) = when(col("is_seed"), lit(v)).otherwise(lit(0L))
    val ranks = dampedRank(f, marked, seedOnly((10000L - dampBp) * Scale / ns / 10000L),
      marked.select(col("host"), seedOnly(Scale / ns).as("rank")),
      Nil, "host", iters, dampBp)
    marked.join(ranks, "host")
      .select(col("host"), col("rank"), col("is_seed"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over the undirected host graph: every host starts labeled
    * with itself; each round it adopts the most frequent label among its
    * neighbors. Communities (mirror networks, site families, link farms)
    * converge to one shared label — the grouping crawl policies and
    * dedup-by-site heuristics key on, and a different signal from
    * connected components (CC merges everything reachable; LPA splits a
    * connected graph along its dense cores).
    *
    * Determinism: SYNCHRONOUS updates for a FIXED iteration count, ties
    * broken by (max count, then lexicographically smallest label) — the
    * whole round is exact counting, no randomized update order (the
    * paper's asynchronous shuffle), so an external engine unrolls the
    * rounds as CTEs and hash-matches. Oscillation on bipartite structures
    * is therefore possible and benign — both engines oscillate
    * identically, and a fixed small `iters` is how the synchronous variant
    * is deployed.
    *
    * Scale shape per round: one equi-join of labels onto the symmetrized
    * edge set + one map-side-combinable (host, label) count + one
    * host-partitioned pick of the winner. No windows over corpus-sized
    * partitions, no driver materialization.
    */
  def labelPropagate(edges: DataFrame, iters: Int = 3,
      srcCol: String = "src_host", dstCol: String = "dst_host"): DataFrame = {
    val (e, nodes) = lpaGraph(edges, srcCol, dstCol)
    lpaLoop(e, nodes.withColumn("label", col("host")), iters)
  }

  /** WEIGHTED label propagation: the neighbor vote counts edge weight
    * (href multiplicity from [[hostEdges]]' n_links) instead of edge
    * presence — a mirror network linked once from everywhere no longer
    * outvotes the site family that links itself thousands of times (the
    * pageRankWeighted rationale applied to communities). Same synchronous
    * rounds and (max vote, min label) tie rule; symmetrized weights sum
    * per undirected pair.
    */
  def labelPropagateWeighted(edges: DataFrame, iters: Int = 3,
      srcCol: String = "src_host", dstCol: String = "dst_host",
      weightCol: String = "n_links"): DataFrame = {
    val (e, nodes) = lpaGraph(edges, srcCol, dstCol, Some(weightCol))
    lpaLoop(e, nodes.withColumn("label", col("host")), iters, weighted = true)
  }

  /** [[labelPropagate]] RESUMED from persisted labels — the incremental
    * column for communities (the [[pageRankFrom]] discipline): round N's
    * (host, label) table is the state; round N+1 continues the synchronous
    * recurrence on the (possibly grown) edge set. On an unchanged graph
    * the continuation is EXACT: resume(labels after k, j more) ≡
    * labelPropagate(k + j) — the equivalence the oracle pins. Hosts new
    * to the graph seed with their own name, exactly as a cold start would.
    */
  def labelPropagateFrom(edges: DataFrame, init: DataFrame, iters: Int = 3,
      srcCol: String = "src_host", dstCol: String = "dst_host",
      hostCol: String = "host", labelCol: String = "label"): DataFrame = {
    val (e, nodes) = lpaGraph(edges, srcCol, dstCol)
    val labels0 = Par.pin(nodes
      .join(init.select(col(hostCol).as("host"), col(labelCol).as("__l")),
        Seq("host"), "left")
      .select(col("host"), coalesce(col("__l"), col("host")).as("label")))
    lpaLoop(e, labels0, iters)
  }

  /** The symmetrized (src, dst[, w]) [[edgeSet]] of an LPA run, both
    * directions of every edge, and its (host) node frame, both pinned.
    */
  private def lpaGraph(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None): (DataFrame, DataFrame) = {
    val w = weightCol.map(c => col(c).cast("long").as("w")).toSeq
    val e0 = edges.select(col(srcCol).as("a") +: col(dstCol).as("b") +: w: _*)
    val both = e0.union(
      e0.select(col("b").as("a") +: col("a").as("b") +: w.map(_ => col("w")): _*))
    val e = Par.pin(edgeSet(both, "a", "b", weightCol.map(_ => "w")))
    val nodes = Par.pin(e.select(col("src").as("host")).distinct())
    (e, nodes)
  }

  /** The shared synchronous-round loop — ONE definition feeds
    * [[labelPropagate]], [[labelPropagateWeighted]] (`weighted`: the edge
    * set's `w` is the vote) and [[labelPropagateFrom]], so the tie rule can
    * never fork (the [[dampedRank]] discipline).
    */
  private def lpaLoop(e: DataFrame, labels0: DataFrame, iters: Int,
      weighted: Boolean = false): DataFrame = {
    require(iters >= 0 && iters <= 50, "need 0 <= iters <= 50")
    val vote = if (weighted) col("w") else lit(1L)
    Par.iterate(labels0, iters) { (labels, _) =>
      val neigh = labels.join(e, labels("host") === e("src"))
        .select(col("dst").as("host"), col("label"), vote.as("__v"))
        .groupBy("host", "label").agg(sum("__v").as("cnt"))
      // (max vote, min label) in ONE host-partitioned window pass (r15 opt
      // round): the previous max-aggregate + join-back + min-aggregate
      // chain cost two extra exchanges of the (host, label, cnt) frame per
      // iteration. row_number ordered by (cnt desc, label asc) picks the
      // identical winner — same tie rule, oracle re-verified.
      val winners = Rank.topK(neigh, Seq("host"),
          Seq(col("cnt").desc, col("label").asc), 1, "__rn")
        .select(col("host"), col("label").as("nl"))
      labels.join(winners, Seq("host"), "left")
        .select(col("host"), coalesce(col("nl"), col("label")).as("label"))
    }
  }

  /** [[extractLinks]] → [[hostEdges]] → [[pageRank]] composed, joined back
    * to per-host link totals — the host-reputation report a crawl pipeline
    * keys its quality prior on: (host, rank, n_in_links, n_out_links).
    */
  def hostRank(docs: DataFrame, idCol: String, urlCol: String,
      htmlCol: String, iters: Int = 3, dampBp: Int = 8500): DataFrame = {
    val edges = hostEdges(extractLinks(docs, idCol, urlCol, htmlCol))
    val in = edges.groupBy(col("dst_host").as("host"))
      .agg(sum("n_links").as("n_in_links"))
    val out = edges.groupBy(col("src_host").as("host"))
      .agg(sum("n_links").as("n_out_links"))
    pageRank(edges, iters, dampBp)
      .join(in, Seq("host"), "left")
      .join(out, Seq("host"), "left")
      .select(col("host"), col("rank"),
        coalesce(col("n_in_links"), lit(0L)).as("n_in_links"),
        coalesce(col("n_out_links"), lit(0L)).as("n_out_links"))
  }
}
