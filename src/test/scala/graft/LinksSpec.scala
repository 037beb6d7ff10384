package graft

import org.apache.spark.sql.functions._

import graft.operators.Links

/** Link-graph extraction + fixed-point PageRank pinned on hand-built pages
  * and a hand-computed 3-node graph (every rank below is pencil-and-paper
  * integer arithmetic, so a failure localizes to the recurrence, not to a
  * tolerance).
  */
class LinksSpec extends SparkSpec {

  import spark.implicits._

  private val page =
    """<html><body>
      |<a href="https://other.example.com/x">abs</a>
      |<a href='https://Quoted.Example.com:443/q'>single-quoted abs</a>
      |<a class="m" href="//mirror.example.com/m">protocol-relative</a>
      |<a href="/local/1">root-relative</a>
      |<a href="?x=1&amp;y=2">query-only is directory-relative: dropped</a>
      |<a href="https://amp.example.com/s?a=1&amp;b=2">entity in query</a>
      |<a href="#frag">frag</a><a href="mailto:x@y.z">mail</a>
      |<a href="javascript:void(0)">js</a><a href="rel/page.html">rel</a>
      |<a href="">empty</a>
      |<a href="https://other.example.com/x">duplicate kept</a>
      |</body></html>""".stripMargin

  private def extracted = Links.extractLinks(
    Seq((1L, "HTTPS://WWW.Src.Example.COM:443/p", page)).toDF("doc_id", "url", "html"),
    "doc_id", "url", "html")

  test("extractLinks: resolution, entity decode, junk dropped, duplicates kept") {
    val rows = extracted.collect().map(r =>
      (r.getAs[String]("dst_url"), r.getAs[String]("dst_host"))).toSeq
    assert(rows.count(_._1 == "https://other.example.com/x") == 2)
    assert(rows.contains(("https://Quoted.Example.com:443/q", "quoted.example.com")))
    assert(rows.contains(("https://mirror.example.com/m", "mirror.example.com")))
    assert(rows.contains(
      ("https://www.src.example.com/local/1", "www.src.example.com")))
    assert(rows.contains(("https://amp.example.com/s?a=1&b=2", "amp.example.com")))
    assert(rows.size == 5 + 1, s"junk survived: $rows")
    assert(extracted.select("src_host").distinct().as[String].collect()
      .toSeq == Seq("www.src.example.com"))
  }

  test("extractLinks: null html yields no rows; http scheme resolves //") {
    assert(Links.extractLinks(
      Seq((1L, "http://a.example.com/", null: String)).toDF("doc_id", "url", "html"),
      "doc_id", "url", "html").count() == 0)
    val r = Links.extractLinks(
      Seq((1L, "http://a.example.com/", """<a href="//b.example.com/x">b</a>"""))
        .toDF("doc_id", "url", "html"), "doc_id", "url", "html").head()
    assert(r.getAs[String]("dst_url") == "http://b.example.com/x")
  }

  test("hostEdges: self-loops dropped, occurrences counted") {
    val links = Seq(
      (1L, "a.com", "u1", "b.com"), (1L, "a.com", "u2", "b.com"),
      (2L, "a.com", "u3", "a.com"), (2L, "b.com", "u4", "a.com"))
      .toDF("doc_id", "src_host", "dst_url", "dst_host")
    val e = Links.hostEdges(links).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(e == Set(("a.com", "b.com", 2L), ("b.com", "a.com", 1L)))
  }

  test("pageRank: hand-computed fixed-point ranks on a 3-node graph") {
    // a→b, a→c, b→c, c→a; N=3, deg(a)=2, deg(b)=deg(c)=1
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("src_host", "dst_host")
    val r0 = 1000000000000L / 3                      // 333333333333
    val base = 1500L * 1000000000000L / 3 / 10000    // 50000000000
    def damp(c: Long) = 8500L * c / 10000
    val want = Map(
      "a" -> (base + damp(r0)),                      // from c
      "b" -> (base + damp(r0 / 2)),                  // from a
      "c" -> (base + damp(r0 / 2 + r0)))             // from a and b
    val got = Links.pageRank(edges, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"got $got want $want")
    // mass never exceeds the initial total, teleport keeps every node > 0
    val r3 = Links.pageRank(edges, iters = 3).collect()
      .map(r => r.getLong(1))
    assert(r3.sum <= 1000000000000L && r3.forall(_ > 0))
  }

  test("pageRank: null/self edges ignored; empty graph is empty; iters=0 is init") {
    val edges = Seq(("a", "a"), ("a", null), (null, "b"), ("a", "b"))
      .toDF("src_host", "dst_host")
    val got = Links.pageRank(edges, iters = 0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 500000000000L, "b" -> 500000000000L))
    assert(Links.pageRank(Seq.empty[(String, String)]
      .toDF("src_host", "dst_host")).count() == 0)
  }

  test("pageRankFrom: resume(3 rounds, +2) == 5 cold rounds; new hosts seed uniform") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a"))
      .toDF("src_host", "dst_host")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val warm = ranks(Links.pageRankFrom(edges,
      Links.pageRank(edges, iters = 3), iters = 2))
    val cold = ranks(Links.pageRank(edges, iters = 5))
    assert(warm == cold, s"warm $warm != cold $cold")
    // a grown graph: host e appears only in round 2's edges — it seeds at
    // the uniform Scale div N of the CURRENT graph, everyone else resumes
    val grown = edges.union(Seq(("e", "a")).toDF("src_host", "dst_host"))
    val resumed = ranks(Links.pageRankFrom(grown,
      Links.pageRank(edges, iters = 3), iters = 0))
    val prev = ranks(Links.pageRank(edges, iters = 3))
    assert(resumed("e") == 1000000000000L / 5)
    assert(prev.forall { case (h, r) => resumed(h) == r },
      "iters=0 resume must preserve the carried ranks")
  }

  test("pageRankWeighted: multiplicity moves mass; uniform weights == unweighted") {
    // b endorses c 9× and d 1×: c must receive ~9× d's contribution
    val wEdges = Seq(("a", "b", 1L), ("b", "c", 9L), ("b", "d", 1L))
      .toDF("src_host", "dst_host", "n_links")
    val got = Links.pageRankWeighted(wEdges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val S = 1000000000000L
    val base = 1500L * S / 4 / 10000L
    val r0 = S / 4
    // wq: a→b 10000; b→c 9000; b→d 1000
    val want = Map(
      "a" -> base,
      "b" -> (base + 8500L * (r0 * 10000L / 10000L) / 10000L),
      "c" -> (base + 8500L * (r0 * 9000L / 10000L) / 10000L),
      "d" -> (base + 8500L * (r0 * 1000L / 10000L) / 10000L))
    assert(got == want, s"got $got want $want")
    // equal multiplicities reduce to the unweighted rank when 10⁴ div deg
    // is exact (deg ∈ {1, 2, 4, 5, ...} — this graph's degrees are 1 and 2;
    // deg = 3 would differ by the wq floor, which is the documented quantum)
    val uni = Seq(("a", "b", 7L), ("a", "c", 7L), ("b", "c", 7L), ("c", "a", 7L))
      .toDF("src_host", "dst_host", "n_links")
    val w3 = Links.pageRankWeighted(uni, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val u3 = Links.pageRank(uni, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w3 == u3, s"uniform weights must reduce to pageRank: $w3 vs $u3")
  }

  test("pageRank, pageRankFrom, pageRankWeighted, trustRank == one plain-Scala fixed-point reference") {
    val S = 1000000000000L
    val dampBp = 8500L
    val rnd = new scala.util.Random(7919)
    val hosts = (0 until 40).map(i => f"h$i%02d.example")
    // 160 draws: repeated pairs (summed weights) and self edges (dropped)
    // occur, and some hosts end up dangling or unlinked
    val raw = Seq.fill(160)((hosts(rnd.nextInt(40)), hosts(rnd.nextInt(40)),
      1L + rnd.nextInt(5)))
    val edges = raw.toDF("src_host", "dst_host", "n_links")
    // the recurrence as documented, in Longs: r'(v) = teleport(v) +
    // dampBp·Σ_{u→v} share(u→v) div 10⁴; share = r div outdeg, or with
    // weights (r·((w·10⁴) div Σw_u)) div 10⁴
    def reference(weighted: Boolean, iters: Int, seeds: Set[String] = Set.empty,
        init: Map[String, Long] = Map.empty): Map[String, Long] = {
      val kept = raw.filter { case (s, d, _) => s != d }
      val w: Map[(String, String), Long] =
        if (weighted) kept.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _)
        else kept.map(e => (e._1, e._2) -> 1L).toMap
      val nodes = w.keySet.flatMap { case (s, d) => Set(s, d) }
      val out = w.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
      def share(r: Long, u: String, wuv: Long) =
        if (weighted) r * (wuv * 10000L / out(u)) / 10000L else r / out(u)
      val mass = if (seeds.isEmpty) nodes else seeds & nodes
      val tele = nodes.map(v => v ->
        (if (mass(v)) (10000L - dampBp) * S / mass.size / 10000L else 0L)).toMap
      var r = nodes.map(v => v -> init.getOrElse(v,
        if (mass(v)) S / mass.size else 0L)).toMap
      for (_ <- 1 to iters) {
        val in = w.toSeq.groupMapReduce(_._1._2) { case ((u, _), wuv) =>
          share(r(u), u, wuv) }(_ + _)
        r = nodes.map(v => v -> (tele(v) + dampBp * in.getOrElse(v, 0L) / 10000L)).toMap
      }
      r
    }
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("host", "rank").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks(Links.pageRank(edges, iters = 4)) == reference(false, 4))
    assert(ranks(Links.pageRankWeighted(edges, iters = 4)) == reference(true, 4))
    // resumed from arbitrary ranks: a third of the hosts carry a state rank,
    // the rest seed uniform, and a host outside the graph is dropped
    val init = hosts.filter(_ => rnd.nextInt(3) == 0)
      .map(h => h -> (1L + rnd.nextInt(1000000)) * 1000L) :+ ("gone.example" -> 7L)
    val resumed = ranks(Links.pageRankFrom(edges, init.toDF("host", "rank"), iters = 3))
    assert(resumed == reference(false, 3, init = init.toMap))
    val seeds = rnd.shuffle(raw.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1, e._2)).distinct).take(3).toSet
    val trust = Links.trustRank(edges, seeds.toSeq.toDF("host"), iters = 4)
    assert(ranks(trust) == reference(false, 4, seeds = seeds))
    assert(trust.filter(col("is_seed")).select("host").as[String].collect().toSet == seeds)
  }

  test("hits: hand-computed hub/authority split on a directory graph") {
    // d is a pure hub (links to a, b, c); a, b, c are pure authorities;
    // c→a adds one non-hub endorsement
    val edges = Seq(("d", "a"), ("d", "b"), ("d", "c"), ("c", "a"))
      .toDF("src_host", "dst_host")
    val S = 1000000000L
    // iter 1: a'(v)=Σ hub0: a'(a)=2S, a'(b)=a'(c)=S, a'(d)=0; max=2S → d=2
    //   auth: a=S, b=c=S/2, d=0
    // hubs: h'(d)=S+S/2+S/2=2S, h'(c)=S, others 0; max=2S → d=2
    //   hub: d=S, c=S/2, a=b=0
    val got = Links.hits(edges, iters = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Map(
      "a" -> (S, 0L), "b" -> (S / 2, 0L),
      "c" -> (S / 2, S / 2), "d" -> (0L, S))
    assert(got == want, s"got $got want $want")
  }

  test("hits matches an independent plain-Scala implementation; edge rules") {
    val edgeSeq = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "d" -> "a", "d" -> "c", "b" -> "d", "e" -> "a")
    val S = 1000000000L
    // independent reference, same spec
    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = nodes.map(_ -> S).toMap
    var auth = nodes.map(_ -> 0L).toMap
    def norm(m: Map[String, Long]): Map[String, Long] = {
      val d = math.max(m.values.max / S, 1L)
      m.map { case (k, v) => k -> v / d }
    }
    for (_ <- 1 to 3) {
      auth = norm(nodes.map(v =>
        v -> edgeSeq.filter(_._2 == v).map(e => hub(e._1)).sum).toMap)
      hub = norm(nodes.map(u =>
        u -> edgeSeq.filter(_._1 == u).map(e => auth(e._2)).sum).toMap)
    }
    val got = Links.hits(edgeSeq.toDF("src_host", "dst_host"), iters = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == nodes.map(v => v -> (auth(v), hub(v))).toMap)
    // self/null edges drop; empty graph is empty
    val messy = Seq(("a", "a"), ("a", null), (null, "b"), ("a", "b"))
      .toDF("src_host", "dst_host")
    val m = Links.hits(messy, iters = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m == Map("a" -> (0L, S), "b" -> (S, 0L)))
    assert(Links.hits(Seq.empty[(String, String)]
      .toDF("src_host", "dst_host")).count() == 0)
  }

  test("textRankKeywords matches an independent plain-Scala TextRank") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta  delta alpha"),
      (2L, "solo"),
      (3L, null.asInstanceOf[String]),
      (4L, "x y x y x y z")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .textRankKeywords(docs, "doc_id", "text", window = 2, iters = 3, topK = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet

    // independent reference: same spec, plain Scala
    val S = 1000000000000L
    val expect = Seq(
      1L -> "alpha beta gamma alpha beta  delta alpha",
      2L -> "solo",
      4L -> "x y x y x y z").flatMap { case (id, text) =>
      val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val fwd = for {
        i <- ws.indices; j <- (i + 1) to math.min(i + 2, ws.length - 1)
        if ws(i) != ws(j)
      } yield (ws(i), ws(j))
      val e = (fwd ++ fwd.map(_.swap)).distinct
      val nodes = ws.distinct.sorted
      val n = nodes.length.toLong
      val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var rank = nodes.map(_ -> S / n).toMap
      for (_ <- 1 to 3) {
        val contrib = nodes.map(v =>
          v -> e.filter(_._2 == v).map(p => rank(p._1) / deg(p._1)).sum).toMap
        rank = nodes.map(v =>
          v -> ((1500L * S) / n / 10000L + 8500L * contrib(v) / 10000L)).toMap
      }
      nodes.sortBy(w => (-rank(w), w)).take(3).zipWithIndex
        .map { case (w, i) => (id, w, rank(w), i + 1) }
    }.toSet
    assert(got == expect, s"got $got want $expect")
  }

  test("trustRank: hand-computed seeded ranks; unreachable hosts stay 0") {
    // a→b, a→c, b→c, c→a plus an isolated 2-farm d⇄e; seed = {a}
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "d")).toDF("src_host", "dst_host")
    val seeds = Seq("a", "not-in-graph").toDF("host")
    val t0 = 1000000000000L                          // all mass on the 1 seed
    val base = 1500L * 1000000000000L / 1 / 10000    // 150000000000, seed only
    def damp(c: Long) = 8500L * c / 10000
    val want1 = Map(
      "a" -> (base + 0L),                            // c had 0 at t0
      "b" -> damp(t0 / 2), "c" -> damp(t0 / 2),      // each from a
      "d" -> 0L, "e" -> 0L)                          // no path from the seed
    val got1 = Links.trustRank(edges, seeds, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got1 == want1, s"got $got1 want $want1")
    // iteration 2: a receives c's damped mass; the farm still holds 0
    val got2 = Links.trustRank(edges, seeds, iters = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2("a") == base + damp(want1("c")))
    assert(got2("d") == 0L && got2("e") == 0L)
    // is_seed marks exactly the in-graph seed
    val flags = Links.trustRank(edges, seeds, iters = 1).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(flags == Map("a" -> true, "b" -> false, "c" -> false,
      "d" -> false, "e" -> false))
  }

  test("trustRank: farm inflates pageRank but not trustRank; seedless graph throws") {
    // seed side: s→x; farm side: f1⇄f2 mutually endorsing (classic farm)
    val edges = Seq(("s", "x"), ("f1", "f2"), ("f2", "f1"))
      .toDF("src_host", "dst_host")
    val pr = Links.pageRank(edges, iters = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tr = Links.trustRank(edges, Seq("s").toDF("host"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the farm out-PageRanks the honest leaf but carries ZERO trust
    assert(pr("f1") > pr("x"))
    assert(tr("f1") == 0L && tr("f2") == 0L && tr("x") > 0L)
    val ex = intercept[IllegalArgumentException] {
      Links.trustRank(edges, Seq("nowhere").toDF("host"))
    }
    assert(ex.getMessage.contains("seed"))
  }

  test("hostRank: sink hosts rank above their endorsers; link totals line up") {
    val docs = Seq(
      (1L, "https://a.example.com/1",
        """<a href="https://hub.example.com/h">h</a><a href="https://b.example.com/">b</a>"""),
      (2L, "https://b.example.com/2",
        """<a href="https://hub.example.com/h">h</a>"""),
      (3L, "https://hub.example.com/3",
        """<a href="https://a.example.com/">a</a>"""))
      .toDF("doc_id", "url", "html")
    val hr = Links.hostRank(docs, "doc_id", "url", "html", iters = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(hr.keySet == Set("a.example.com", "b.example.com", "hub.example.com"))
    // hub has two in-links, everyone else one; rank must agree
    assert(hr("hub.example.com")._2 == 2L)
    assert(hr("hub.example.com")._1 > hr("b.example.com")._1)
    assert(hr("a.example.com")._3 == 2L)
  }

  test("anchorTexts: markup stripped, entities decoded last, junk anchors dropped, empty body kept") {
    import spark.implicits._
    val html =
      """<a href="/a">plain text</a>""" +
        """<a href="/b">has <b>bold</b> and
          |   spread   whitespace</a>""".stripMargin +
        """<a href="/c">fish &amp; chips &lt;still&gt; text&nbsp;here</a>""" +
        """<a href="/d">&amp;lt;</a>""" +          // &amp; decodes LAST: stays a literal &lt;
        """<a href="/e"></a>""" +                  // empty body survives as ''
        """<a href="#x">frag</a><a href="mailto:a@b">m</a>""" +
        """<a href="rel/x.html">rel</a>"""         // dropped with their texts
    val docs = Seq((1L, "https://h.example.com/p", html)).toDF("doc_id", "url", "html")
    val got = Links.anchorTexts(docs, "doc_id", "url", "html")
      .collect().map(r => r.getString(2) -> r.getString(4)).toMap
    assert(got == Map(
      "https://h.example.com/a" -> "plain text",
      "https://h.example.com/b" -> "has bold and spread whitespace",
      "https://h.example.com/c" -> "fish & chips <still> text here",
      "https://h.example.com/d" -> "&lt;",
      "https://h.example.com/e" -> ""))
  }

  test("tag and attribute NAME boundaries: <aside>/<abbr> are not anchors, data-href is not a link") {
    import spark.implicits._
    val html =
      """<aside data-href="https://tracker.example.com/x">forty words of editorial prose</aside>""" +
        """<abbr title="x">HTML</abbr>""" +
        """<a ng-href="https://ng.example.com/y" href="/real">real link</a>""" +
        """<article href="https://notanchor.example.com/z">not an anchor</article>"""
    val docs = Seq((1L, "https://h.example.com/p", html)).toDF("doc_id", "url", "html")
    val links = Links.extractLinks(docs, "doc_id", "url", "html")
      .collect().map(_.getString(2)).toSet
    assert(links == Set("https://h.example.com/real"), s"got $links")
    val anchors = Links.anchorTexts(docs, "doc_id", "url", "html")
      .collect().map(r => r.getString(2) -> r.getString(4)).toMap
    assert(anchors == Map("https://h.example.com/real" -> "real link"), s"got $anchors")
  }

  test("hostRank forwards its iteration and damping parameters to pageRank") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://a.example.com/1",
        """<a href="https://hub.example.com/h">h</a><a href="https://b.example.com/">b</a>"""),
      (2L, "https://b.example.com/2", """<a href="https://hub.example.com/h">h</a>"""),
      (3L, "https://hub.example.com/3", """<a href="https://a.example.com/">a</a>"""))
      .toDF("doc_id", "url", "html")
    // iters = 0 returns the uniform init (Scale div N) for every host — a
    // value damped iterations can never preserve on this ASYMMETRIC graph
    // (hub has in-degree 2, b in-degree 1 at out-degree 2)
    val r0 = Links.hostRank(docs, "doc_id", "url", "html", iters = 0)
      .collect().map(r => r.getLong(1)).toSet
    assert(r0 == Set(333333333333L), s"iters=0 must yield the uniform init: $r0")
    val r3 = Links.hostRank(docs, "doc_id", "url", "html", iters = 3)
      .collect().map(r => r.getLong(1)).toSet
    assert(r3 != r0, "iters must actually change the recurrence depth")
  }

  test("'>' inside quoted attributes breaks neither href extraction nor anchor text") {
    import spark.implicits._
    val html =
      """<a title="a>b" href="/q1">quoted gt</a>""" +
        """<a href="/q2" data-x='1>2'>second</a>""" +
        // an href-shaped string in the BODY must not be read as the attribute
        """<a title="t">see href="/fake" inside</a>"""
    val docs = Seq((1L, "https://h.example.com/p", html)).toDF("doc_id", "url", "html")
    val links = Links.extractLinks(docs, "doc_id", "url", "html")
      .collect().map(_.getString(2)).toSet
    assert(links == Set("https://h.example.com/q1", "https://h.example.com/q2"),
      s"got $links")
    val anchors = Links.anchorTexts(docs, "doc_id", "url", "html")
      .collect().map(r => r.getString(2) -> r.getString(4)).toMap
    assert(anchors == Map(
      "https://h.example.com/q1" -> "quoted gt",
      "https://h.example.com/q2" -> "second"), s"got $anchors")
  }

  test("labelPropagate == independent plain-Scala synchronous LPA; disjoint cliques get distinct labels") {
    val bridged = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1"))
    val got = Links.labelPropagate(bridged.toDF("src_host", "dst_host"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // independent reference: plain-Scala synchronous rounds, same tie rule
    def lpa(edges: Seq[(String, String)], iters: Int): Map[String, String] = {
      val sym = (edges ++ edges.map(e => (e._2, e._1))).distinct
      val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lab = adj.keys.map(h => h -> h).toMap
      for (_ <- 1 to iters) {
        lab = adj.map { case (h, ns) =>
          val cnt = ns.groupBy(lab).view.mapValues(_.size).toMap
          val mc = cnt.values.max
          h -> cnt.filter(_._2 == mc).keys.min
        }
      }
      lab
    }
    assert(got == lpa(bridged, 3), s"got $got vs ${lpa(bridged, 3)}")

    // two DISJOINT triangles converge to one label each, distinct labels
    val twoCliques = bridged.dropRight(1)
    val got2 = Links.labelPropagate(twoCliques.toDF("src_host", "dst_host"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set(got2("a1"), got2("a2"), got2("a3")).size == 1)
    assert(Set(got2("b1"), got2("b2"), got2("b3")).size == 1)
    assert(got2("a1") != got2("b1"))
  }

  test("labelPropagateWeighted: href multiplicity flips the neighbor vote") {
    val edges = Seq(("x", "a", 1L), ("x", "b", 5L))
      .toDF("src_host", "dst_host", "n_links")
    val unw = Links.labelPropagate(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(unw("x") == "a", s"unweighted tie resolves to min label: $unw")
    val w = Links.labelPropagateWeighted(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(w("x") == "b", s"the 5x-linked neighbor must win the vote: $w")
    assert(w("a") == "x" && w("b") == "x")
  }

  test("labelPropagateFrom: resume(k)+j == cold(k+j); new hosts seed with their own name") {
    val edges = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1"))
      .toDF("src_host", "dst_host")
    val cold = Links.labelPropagate(edges, iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val resumed = Links.labelPropagateFrom(edges,
      Links.labelPropagate(edges, iters = 3), iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(resumed == cold, s"$resumed vs $cold")

    // grown graph: c1/c2 are new; they start self-labeled like a cold start
    val grown = (Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1")) :+ ("c1", "c2"))
      .toDF("src_host", "dst_host")
    val res2 = Links.labelPropagateFrom(grown,
      Links.labelPropagate(edges, iters = 2), iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val cold2 = Links.labelPropagate(grown, iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the c-pair had no history, so its labels match the cold run's
    assert(res2("c1") == cold2("c1") && res2("c2") == cold2("c2"))
  }
}
