package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + URL-keyed dedup/blocklist — the other universal
  * pre-text stage of a web-scale pipeline (alongside
  * [[TextAnalysis.htmlExtract]]): crawls key documents by URL, and the same
  * page arrives under scheme/host case variants, default ports, fragments,
  * tracking parameters, and shuffled query strings. Everything here is pure
  * `functions._` composition over regex syntax Java and RE2 interpret
  * identically (anchored groups, no backrefs/lookaround), so an external SQL
  * engine can restate the exact transform — and every step is codegen'd,
  * narrow, and linear at 100 TB.
  */
object Urls {

  /** Anchored param-name pattern treated as tracking noise: utm_*, click ids,
    * referral and mail-campaign tags. Shared verbatim with the SQL oracle.
    */
  val TrackingParamPattern: String =
    "^(utm_[^=]*|gclid|fbclid|ref|mc_cid|mc_eid)(=.*)?$"

  /** Canonical form of a URL column:
    *  1. trim, strip the fragment (`#…`);
    *  2. lower-case the scheme and the host[:port] (path/query case is
    *     significant and kept);
    *  3. drop the scheme's default port (`:80` for http, `:443` for https);
    *  4. empty path → `/`;
    *  5. query string: drop empty and tracking params
    *     ([[TrackingParamPattern]]), sort the rest byte-lexicographically
    *     (param order is not significant to servers but defeats exact dedup),
    *     drop the `?` if nothing survives.
    * Scheme-less strings are canonicalized the same way minus the scheme.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "(?s)#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    // authority = hostport with any userinfo (user[:pass]@) dropped — it is
    // not part of the page identity
    val hostport = lower(regexp_replace(
      regexp_extract(rest, "^([^/?]*)", 1), "^[^@]*@", ""))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val rawPath = regexp_extract(pathq, "^([^?]*)", 1)
    val path = when(rawPath === "", "/").otherwise(rawPath)
    val params = filter(
      split(regexp_replace(regexp_replace(pathq, "^[^?]*", ""), "^\\?", ""), "&"),
      p => length(p) > 0 && !p.rlike(TrackingParamPattern))
    val qs = when(size(params) > 0,
      concat(lit("?"), array_join(array_sort(params), "&"))).otherwise(lit(""))
    when(scheme =!= "", concat(scheme, lit("://"), host, path, qs))
      .otherwise(concat(host, path, qs))
  }

  /** The canonical host of a URL column (lower-cased, default port dropped) —
    * the key for host-level blocklists and per-site stats.
    */
  def hostOf(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "(?s)#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_replace(
      regexp_extract(rest, "^([^/?]*)", 1), "^[^@]*@", ""))
    when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
  }

  /** True iff the URL's canonical host is `domain` or a subdomain of it.
    * ANY port is stripped before the comparison (not just the scheme
    * default): a blocklist names a site, and `spam.example.com:8080` is the
    * same site as `spam.example.com`. [[hostOf]] itself keeps non-default
    * ports — a port is part of the host identity for stats/caps, but not for
    * block decisions.
    */
  def hostBlocked(url: Column, domains: Seq[String]): Column = {
    val h = regexp_replace(hostOf(url), ":[0-9]+$", "")
    domains.map(d => h === d.toLowerCase || h.endsWith("." + d.toLowerCase))
      .reduceOption(_ || _).getOrElse(lit(false))
  }

  /** (doc_id, url_canon) per input row — the canonicalization surface. */
  def canonicalize(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs.select(Keys.id(docs, idCol).as("doc_id"),
      canonicalUrl(col(urlCol)).as("url_canon"))

  /** Parse sitemap XML (the sitemaps.org format — the crawl's OTHER URL
    * discovery channel next to [[graft.operators.Links.extractLinks]]'
    * anchor extraction): one row per `<url>` block with a non-empty
    * `<loc>`, plus its optional `<lastmod>` (the recrawl-scheduling
    * signal). Entries with an empty/missing loc drop. Regex stays in the
    * Java∩RE2 dialect ((?s) dotall, lazy quantifier, no lookaround); one
    * narrow codegen pass — parsing 100 TB of sitemaps is map-only. The
    * output feeds the existing frontier chain: [[canonicalUrl]] →
    * [[urlDedupIncremental]] → robots → fetch plan.
    */
  def sitemapUrls(docs: DataFrame, idCol: String, xmlCol: String): DataFrame =
    Par.spread(docs).select(Keys.id(docs, idCol).as("doc_id"),
        explode(regexp_extract_all(coalesce(col(xmlCol), lit("")),
          lit("(?s)<url>(.*?)</url>"), lit(1))).as("b"))
      .select(col("doc_id"),
        nullif(regexp_extract(col("b"), "(?s)<loc>\\s*([^<]*?)\\s*</loc>", 1),
          lit("")).as("url"),
        nullif(regexp_extract(col("b"), "<lastmod>([^<]*)</lastmod>", 1),
          lit("")).as("lastmod"))
      .filter(col("url").isNotNull)

  /** URL-keyed exact dedup: keep the smallest doc_id per CANONICAL URL —
    * [[Dedup.exact]] with the canonical URL as the fingerprint. Scale shape:
    * canonicalization happens in the scan stage, then one map-side-combinable
    * min aggregate hash-partitioned on the canonical URL — only
    * (url_canon, doc_id) pairs shuffle, never the document payload.
    */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    canonicalize(docs, idCol, urlCol)
      .groupBy("url_canon").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "url_canon")

  /** Persisted URL-dedup state: the DISTINCT canonical URLs of `docs` — the
    * crawl-frontier "have we fetched this page identity?" set. Append this
    * after each ingested batch; re-appends of an already-seen canonical URL
    * leave membership unchanged (periodic `distinct()` compaction reclaims
    * space). Size is one ~100-byte row per distinct page identity no matter
    * how many times it was crawled.
    */
  def urlState(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    canonicalize(docs, idCol, urlCol).select("url_canon").distinct()

  /** Incremental URL-keyed dedup — the continuously-crawling form of
    * [[urlDedup]], completing the (batch, incremental) grid for the URL
    * modality exactly as [[Dedup.exactIncremental]] does for text: keep rows
    * of `newDocs` whose canonical URL (1) is not in `state` (a [[urlState]]
    * table persisted from previous crawls) and (2) is the batch's first
    * occurrence (smallest doc_id). Returns (doc_id, url_canon).
    *
    * Scale shape: the anti-join is hash-partitioned on the canonical URL and
    * ships only (url_canon, doc_id) pairs of the batch plus the state's
    * single column — never page payloads; then the usual min-per-key exchange
    * within the batch. AQE broadcasts a small state instead.
    */
  def urlDedupIncremental(newDocs: DataFrame, idCol: String, urlCol: String,
      state: DataFrame): DataFrame = {
    require(state.columns.contains("url_canon"),
      "state must be a urlState table carrying 'url_canon'")
    canonicalize(newDocs, idCol, urlCol)
      .join(state.select("url_canon"), Seq("url_canon"), "left_anti")
      .groupBy("url_canon").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "url_canon")
  }

  /** RETRACT page identities from a persisted [[urlState]] — the takedown /
    * forced-recrawl form completing [[urlDedupIncremental]]'s grid: the
    * retracted docs' canonical URLs are anti-joined out of the state, so a
    * future crawl batch re-fetches and re-admits those pages as new. Same
    * anti-join scale shape as the incremental dedup (state side big,
    * url_canon-keyed, AQE broadcasts a small retraction set).
    */
  def urlStateRetract(state: DataFrame, docs: DataFrame, idCol: String,
      urlCol: String): DataFrame = {
    require(state.columns.contains("url_canon"),
      "state must be a urlState table carrying 'url_canon'")
    state.join(canonicalize(docs, idCol, urlCol).select("url_canon").distinct(),
      Seq("url_canon"), "left_anti")
  }

  /** Per-host corpus report: docs per canonical host with basis-point share —
    * the diagnostic behind host caps and blocklist decisions. One
    * map-side-combinable count exchange plus a 1-row total broadcast.
    */
  def hostReport(docs: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val hosts = docs.select(Keys.id(docs, idCol).as("doc_id"),
      hostOf(col(urlCol)).as("host"))
    val counts = hosts.groupBy("host").agg(count(lit(1)).as("n_docs"))
    counts.crossJoin(broadcast(hosts.agg(count(lit(1)).as("__tot"))))
      // integer div: floor semantics identical on any engine (a double
      // division would truncate here but round elsewhere)
      .select(col("host"), col("n_docs"),
        expr("n_docs * 10000 div __tot").as("share_bp"))
  }

  /** Per-host document CAP: keep at most `maxPerHost` docs per canonical
    * host, chosen deterministically in md5(doc_id) order (the engine-portable
    * draw every sampler here uses) — the site-level cap that stops one SEO
    * farm from dominating a crawl corpus. Null-url docs share the null
    * host and are capped as one group.
    *
    * Scale shape: the per-host rank is [[Rank.bucketedPrefix]] over the md5
    * order's 256 leading-hex buckets, so NO host routes through a single
    * reducer, no matter how hot. The narrow (doc_id, host, ord) projection is
    * cached (caller releases per the [[Caches]] contract) because both levels
    * of the rank read it.
    */
  def hostCap(docs: DataFrame, idCol: String, urlCol: String,
      maxPerHost: Int): DataFrame = {
    require(maxPerHost >= 1, "need maxPerHost >= 1")
    val base = Rank.md5Salted(docs.select(Keys.id(docs, idCol).as("doc_id"),
      hostOf(col(urlCol)).as("host")), "doc_id")
      .cache()
    Rank.md5Prefix(base, Seq("host"), "doc_id")
      .filter(col("__pre") < maxPerHost)
      .select("doc_id", "host")
  }

  /** Parse per-host robots.txt content into the rule set that applies to
    * `agent` — the politeness gate every crawl pipeline runs before a URL is
    * fetched (RFC 9309). Supported subset (documented):
    *
    *  - lines are trimmed after stripping `#` comments; `field: value` lines
    *    with field `user-agent` / `allow` / `disallow` (case-insensitive)
    *    are kept, every other field (crawl-delay, sitemap, …) is ignored;
    *  - a run of CONSECUTIVE user-agent lines opens one group; the
    *    allow/disallow lines after it (until the next user-agent run) belong
    *    to every agent named in the run (RFC 9309 §2.2.1);
    *  - group selection: the groups naming `agent` exactly
    *    (case-insensitive product token) if any exist for that host, else
    *    the `*` groups — the RFC's most-specific-match collapsed to
    *    exact-or-wildcard (no prefix product-token matching);
    *  - an empty rule value (`Disallow:` = allow everything) is a no-op and
    *    dropped; path patterns are PREFIX literals — the `*`/`$` wildcard
    *    extension is out of scope and such patterns simply match as
    *    literals.
    *
    * Output: (host, allow, prefix), one row per applicable rule; hosts whose
    * file names only other agents (and no `*`) contribute no rows — i.e.
    * everything is allowed, the RFC default.
    *
    * Scale shape: a robots.txt is KiBs, so the per-host windows (line order,
    * group id) run over tiny partitions keyed by millions of distinct
    * hosts — embarrassingly parallel; no corpus-sized exchange anywhere.
    */
  /** Shared robots.txt parse: (directives in the groups binding `agent`,
    * as (host, gid, field, value)) — the group machinery behind
    * [[robotsRules]] and [[robotsCrawlDelays]]. Input contract: ONE row per
    * host (a crawler stores one robots.txt per host by construction) — two
    * rows for the same host would interleave their line positions in the
    * grouping window nondeterministically.
    */
  private def robotsDirectives(robots: DataFrame, hostCol: String,
      contentCol: String, agent: String): DataFrame = {
    require(agent.nonEmpty && agent != "*", "agent must be a concrete product token")
    import org.apache.spark.sql.expressions.Window
    // secondary keys make the order total even if a caller violates the
    // one-row-per-host contract: the interleave is then still semantically
    // arbitrary, but stable run-to-run instead of silently nondeterministic
    val lineW = Window.partitionBy("host")
      .orderBy(col("pos"), col("field"), col("value"))
    val parsed = Par.spread(robots)
      .select(lower(col(hostCol)).as("host"),
        posexplode(split(coalesce(col(contentCol), lit("")), "\n")).as(Seq("pos", "raw")))
      .select(col("host"), col("pos"),
        trim(regexp_replace(col("raw"), "#.*", "")).as("l"))
      .select(col("host"), col("pos"),
        lower(regexp_extract(col("l"), "^([A-Za-z][A-Za-z0-9-]*)\\s*:", 1)).as("field"),
        trim(regexp_replace(col("l"), "^[A-Za-z][A-Za-z0-9-]*\\s*:", "")).as("value"))
      .filter(col("field").isin("user-agent", "allow", "disallow", "crawl-delay"))
      .withColumn("isua", col("field") === "user-agent")
      .withColumn("newg",
        col("isua") && !coalesce(lag("isua", 1).over(lineW), lit(false)))
      .withColumn("gid",
        sum(when(col("newg"), 1L).otherwise(0L)).over(lineW))
    val agents = parsed.filter(col("isua"))
      .select(col("host"), col("gid"), lower(col("value")).as("ag"))
    val exactHosts = agents.filter(col("ag") === agent.toLowerCase)
      .select("host").distinct().withColumn("__exact", lit(true))
    val chosen = agents.join(exactHosts, Seq("host"), "left")
      .filter(when(col("__exact").isNotNull, col("ag") === agent.toLowerCase)
        .otherwise(col("ag") === "*"))
      .select("host", "gid").distinct()
    parsed.filter(!col("isua"))
      .select(col("host"), col("gid"), col("field"), col("value"))
      .join(chosen, Seq("host", "gid"))
  }

  def robotsRules(robots: DataFrame, hostCol: String, contentCol: String,
      agent: String): DataFrame =
    robotsDirectives(robots, hostCol, contentCol, agent)
      .filter(col("field").isin("allow", "disallow") && col("value") =!= "")
      .select(col("host"), (col("field") === "allow").as("allow"),
        col("value").as("prefix"))

  /** The `Crawl-delay` each host asks of `agent` (the de-facto politeness
    * field most large sites set, outside RFC 9309 proper but honored by
    * every major crawler except Google's): (host, crawl_delay) in whole
    * seconds, MINIMUM across the agent's applicable groups (the
    * conservative read when groups disagree); hosts whose applicable
    * groups set no delay — or only malformed values — contribute no row,
    * meaning "fetch at your own default pace". Group selection is
    * [[robotsRules]]'s exact-agent-or-`*`. This is the scheduler input that
    * pairs with [[hostCap]]: cap bounds VOLUME per host, delay bounds RATE.
    */
  def robotsCrawlDelays(robots: DataFrame, hostCol: String,
      contentCol: String, agent: String): DataFrame =
    robotsDirectives(robots, hostCol, contentCol, agent)
      .filter(col("field") === "crawl-delay")
      .withColumn("__d", expr("try_cast(value AS INT)"))
      .filter(col("__d").isNotNull && col("__d") >= 0)
      .groupBy("host").agg(min("__d").as("crawl_delay"))

  /** Apply a [[robotsRules]] table to a URL stream: (doc_id, host, allowed)
    * with RFC 9309 precedence — among the rules whose prefix matches the
    * request target (raw path + query, fragment stripped, empty path = `/`),
    * the LONGEST wins and allow beats disallow on a length tie; no matching
    * rule (or no robots.txt for the host) means allowed. The tie-break is
    * one integer argmax (`2·|prefix| + allow`), so the verdict is exact
    * integer arithmetic any engine reproduces.
    *
    * The join key is the CANONICAL host ([[hostOf]] — lower-cased, default
    * port dropped) while the matched target is the RAW path+query as a
    * fetcher would send it: robots checks happen before canonicalization.
    *
    * Scale shape: one hash join keyed by host (rules per host are bounded by
    * robots.txt size) + one map-side-combinable per-doc max — no
    * corpus-sized exchange carries the URL payload past the join.
    */
  def robotsFilter(urls: DataFrame, idCol: String, urlCol: String,
      rules: DataFrame): DataFrame = {
    val noFrag = regexp_replace(trim(col(urlCol)), "(?s)#.*", "")
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val target = when(pathq.startsWith("/"), pathq)
      .otherwise(concat(lit("/"), pathq))
    val base = urls.select(Keys.id(urls, idCol).as("doc_id"),
      hostOf(col(urlCol)).as("host"), target.as("__target"))
    base.join(rules, Seq("host"), "left")
      .groupBy("doc_id", "host")
      .agg(max(when(col("prefix").isNotNull &&
          col("__target").startsWith(col("prefix")),
        length(col("prefix")) * 2 + when(col("allow"), 1).otherwise(0)))
        .as("__best"))
      .select(col("doc_id"), col("host"),
        (col("__best").isNull || col("__best") % 2 === 1).as("allowed"))
  }
}
