package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Inspect.time

/** The planted-skew driver: each numbered section builds an adversarial
  * fixture and times the operator that must stay flat on it.
  *  1. semantic dedup where ONE cell holds ~90% of all vectors (boilerplate
  *     embedding corpus): the within-cell prune must fall back to bounded
  *     LSH blocking, not wedge a reducer on width² cosines;
  *  2. despan where ONE 10-token span is duplicated across ~100k docs: the
  *     flagged-window stages must scale with duplication found, not corpus;
  *  3. hamming clone flood — 2M fingerprints over only 1k distinct values
  *     (2k exact clones each, near-miss-linked in pairs of groups):
  *     hammingClusters must run CC over the 1k reps and star-expand the 2M
  *     members, never touch the ~1000·C(2000,2) ≈ 2×10⁹-row pair set the
  *     pair path owes its callers;
  *  4-11. minhash, token-budget, quantile, host-cap, despan and BM25 floods
  *     and the incremental-dedup design points;
  *  12-18. partitioned writes and DML (MERGE, DELETE, deletion vectors,
  *     bloom candidacy, merge-on-read UPDATE), metered in bytes;
  *  19. containment prefix filter vs a HOT-SHINGLE flood;
  *  20-22. pageRank, trustRank and labelPropagate under in-degree and
  *     out-degree floods.
  *
  * sbt "Test/runMain graft.ProfileSkew [nVec] [nDoc] [section]"
  *
  * Without a section it runs every section except the data-scale DML
  * points 14-18, which run only when named:
  *   sbt "Test/runMain graft.ProfileSkew 200000 4000000 16"
  * Runs on `local[N]`, N = `SPARK_GRAFT_CPUS` (default 32).
  */
object ProfileSkew {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus(32)
    // production wiring: the dv read rewrite and the merge-on-read UPDATE
    // standin live in the extensions — without them a dv table's scan would
    // serve deleted rows and UPDATE would silently take the copy-on-write
    // path, making §16/§18 measure the wrong thing
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val nVec = args.headOption.map(_.toInt).getOrElse(200000)
    val nDoc = args.lift(1).map(_.toInt).getOrElse(2000000)
    val only = args.lift(2).map(_.toInt)
    def section(n: Int, byDefault: Boolean = true)(body: => Unit): Unit =
      if (only.fold(byDefault)(_ == n)) body

    def fixture(df: DataFrame): DataFrame = df.repartition(cpus).cache()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // the bytes a step moved: the structural claim of the DML and
    // incremental sections, which wall-clock at profile scale hides
    def accounted(label: String)(f: => Unit): Unit = {
      val r = Inspect.record(spark)(time(label)(f))
      println(f"[prof]   read ${r.inputBytes / 1e6}%.0f MB, wrote " +
        f"${r.outputBytes / 1e6}%.2f MB, shuffled ${r.shuffleWriteBytes / 1e6}%.1f MB")
    }
    // k md5 hex strings of the row id: incompressible payload
    def md5Payload(k: Int): Column =
      concat((0 until k).map(j => md5(concat(col("id").cast("string"), lit(j)))): _*)
    val md5PayloadSql = (0 until 8)
      .map(j => s"md5(concat(cast(id as string), '$j'))").mkString("concat(", ", ", ")")
    def newCatalog(name: String, prefix: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$name.dir", dir)
      dir
    }
    // the ~1.2 GB 40-file range-clustered snapshot table of §16 and §18
    def rangeClustered(table: String, n: Long, dv: Boolean): Unit = {
      val props = if (dv)
        "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') "
      else "TBLPROPERTIES ('snapshots'='true') "
      time(s"fixture $table: 40-file ~1.2 GB range-clustered CTAS (dv=$dv)") {
        spark.sql(s"CREATE TABLE $table $props AS " +
          "SELECT /*+ REPARTITION_BY_RANGE(40, id) */ id, pmod(id, 7) AS grp, " +
          s"$md5PayloadSql AS payload FROM range($n)")
      }
    }

    section(1) {
    // --- 1. semantic hot cell -------------------------------------------
    // 90% of vectors = tiny deterministic jitter around one point (all land
    // in the same coarse cell AND are mutual near-dups — the worst case for
    // the fallback: identical LSH signatures too); 10% spread uniformly.
    val dim = 16
    val base = spark.range(nVec).select(col("id").as("vec_id"),
      (col("id") % 10 =!= 0).as("hot"))
    val mk = (0 until dim).map { j =>
      when(col("hot"),
        lit(1.0f) + (pmod(xxhash64(col("vec_id"), lit(j)), lit(1000)).cast("float") / 1e7f))
        .otherwise((pmod(xxhash64(col("vec_id"), lit(j + 777)), lit(2000)).cast("float") / 1e3f) - 1f)
    }.map(_.cast("float"))
    val emb = fixture(base.select(col("vec_id"), array(mk: _*).as("embedding")))
    println(s"[prof] vectors: ${emb.count()} (hot ~${(0.9 * nVec).toInt})")
    for (i <- 1 to 2)
      time(s"semanticDedup hot-cell fallback #$i") {
        noop(graft.operators.Semantic.semanticDedup(
          emb, "vec_id", "embedding", k = 16, threshold = 0.9, maxCell = 1024))
        graft.operators.Caches.release(spark)
      }
    emb.unpersist()
    }

    section(2) {
    // --- 2. despan hot span ---------------------------------------------
    // every 20th doc carries the same 10-token boilerplate span (nDoc/20
    // copies of one window hash); every doc also has ~12 unique tokens
    val span = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val docs = fixture(spark.range(nDoc).select(col("id").as("doc_id"),
      concat(
        when(col("id") % 20 === 0, lit(span + " ")).otherwise(lit("")),
        lit("payload token run number "),
        col("id").cast("string"), lit(" alpha beta gamma delta epsilon "),
        (col("id") * 7919).cast("string")).as("text")))
    println(s"[prof] docs: ${docs.count()} (hot span copies ~${nDoc / 20})")
    for (i <- 1 to 2)
      time(s"removeDuplicateSpans hot-span #$i") {
        noop(graft.operators.Pipelines.removeDuplicateSpans(
          docs, "doc_id", "text", w = 10, minCount = 2))
        graft.operators.Caches.release(spark)
      }
    docs.unpersist()
    }

    section(3) {
    // --- 3. hamming clone flood -----------------------------------------
    // 1000 distinct fingerprints, nDoc/1000 exact clones each; odd groups
    // sit one bit-flip from the preceding even group, so components = 500
    // merged group pairs. The pair path would owe 1000·C(2000,2) ≈ 2e9 rows.
    val nGroups = 1000
    val fpOfGroup = xxhash64(col("g").cast("string"))
    val flood = fixture(spark.range(nDoc).select(col("id").as("doc_id"),
      (col("id") % nGroups).as("g"))
      .select(col("doc_id"),
        when(col("g") % 2 === 0, fpOfGroup)
          .otherwise(
            xxhash64((col("g") - 1).cast("string"))
              .bitwiseXOR(expr("shiftleft(1L, cast(g % 60 as int))")))
          .as("fp")))
    println(s"[prof] flood docs: ${flood.count()} over $nGroups distinct fps")
    for (i <- 1 to 2)
      time(s"hammingClusters clone-flood #$i") {
        val labels = graft.operators.Dedup.hammingClusters(
          flood, "doc_id", "fp", maxHamming = 8, maxBucket = Int.MaxValue)
        val nClusters = labels.select("cluster_id").distinct().count()
        require(nClusters == nGroups / 2, s"expected ${nGroups / 2} merged components, got $nClusters")
        graft.operators.Caches.release(spark)
      }
    flood.unpersist()
    }

    section(4) {
    // --- 4. minhash boilerplate flood -----------------------------------
    // nDoc/10 IDENTICAL texts: pre-collapse this was the hot-bucket salting
    // stress; post-collapse the whole corpus is ONE distinct shingle set, so
    // dedupNear (via minHashClusters) must cost one rep through LSH + one
    // star join — and keep exactly one survivor.
    val boiler = fixture(spark.range(nDoc / 10).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again and again").as("text")))
    println(s"[prof] boilerplate docs: ${boiler.count()} (all identical)")
    for (i <- 1 to 2)
      time(s"dedupNear boilerplate flood #$i") {
        val survivors = graft.operators.Pipelines.dedupNear(
          boiler, "doc_id", "text").count()
        require(survivors == 1, s"expected 1 survivor, got $survivors")
        graft.operators.Caches.release(spark)
      }
    boiler.unpersist()
    }

    section(5) {
    // --- 5. token-budget one-domain flood --------------------------------
    // 90% of docs in ONE domain: the pre-salting prefix sum routed them all
    // through one reducer (a straggler proportional to the domain, i.e. the
    // corpus). The salted two-level form spreads the domain over 256
    // md5-prefix buckets, so wall-clock must stay flat vs the balanced case.
    val tbDocs = fixture(spark.range(nDoc).select(col("id").as("doc_id"),
      when(col("id") % 10 =!= 0, lit("web")) // 90% one domain
        .otherwise(concat(lit("src"), (col("id") % 7).cast("string"))).as("source"),
      concat(lit("token run alpha beta gamma "),
        col("id").cast("string"), lit(" delta epsilon zeta eta theta iota kappa")).as("text")))
    println(s"[prof] token-budget docs: ${tbDocs.count()} (90% domain=web)")
    for (i <- 1 to 2)
      time(s"tokenBudgetSample 90%%-one-domain #$i") {
        val n = graft.operators.Pipelines.tokenBudgetSample(
          tbDocs, "doc_id", "text", "source",
          budgets = Map("web" -> (nDoc.toLong * 2)), defaultBudget = nDoc.toLong).count()
        require(n > 0, "budget sample kept nothing")
        println(f"[prof]   kept $n rows")
        graft.operators.Caches.release(spark)
      }
    tbDocs.unpersist()
    }

    section(6) {
    // --- 6. quantile gate one-domain flood -------------------------------
    // same 90%-one-domain corpus, distinct per-doc scores: the pre-salting
    // rank window was one reducer per domain; the grid-bucketed two-level
    // rank must stay flat
    val qDocs = fixture(spark.range(nDoc).select(col("id").as("doc_id"),
      when(col("id") % 10 =!= 0, lit("web"))
        .otherwise(concat(lit("src"), (col("id") % 7).cast("string"))).as("source"),
      (pmod(xxhash64(col("id")), lit(1000000)).cast("double") / 1000.0).as("sc")))
    println(s"[prof] quantile docs: ${qDocs.count()} (90% domain=web)")
    for (i <- 1 to 2)
      time(s"quantileFilter 90%%-one-domain #$i") {
        val kept = graft.operators.Pipelines.quantileFilter(
          qDocs, "doc_id", "sc", "source", q = 0.6).count()
        require(kept > 0, "quantile gate kept nothing")
        println(f"[prof]   kept $kept rows")
        graft.operators.Caches.release(spark)
      }
    qDocs.unpersist()
    }

    section(7) {
    // --- 7. host-cap one-host flood --------------------------------------
    // 90% of docs on ONE host (the SEO-farm shape hostCap exists for): the
    // salted two-level rank must cap the flood without a per-host reducer
    val hDocs = fixture(spark.range(nDoc).select(col("id").as("doc_id"),
      when(col("id") % 10 =!= 0, lit("https://farm.example.com/p/"))
        .otherwise(concat(lit("https://site"), (col("id") % 1000).cast("string"),
          lit(".org/p/")))
        .as("pre"))
      .select(col("doc_id"), concat(col("pre"), col("doc_id")).as("url")))
    println(s"[prof] host-cap docs: ${hDocs.count()} (90% one host)")
    for (i <- 1 to 2)
      time(s"hostCap 90%%-one-host #$i") {
        val kept = graft.operators.Urls.hostCap(
          hDocs, "doc_id", "url", maxPerHost = 100000).count()
        require(kept > 0, "host cap kept nothing")
        println(f"[prof]   kept $kept rows")
        graft.operators.Caches.release(spark)
      }
    hDocs.unpersist()
    }

    section(8) {
    // --- 8. despan exact-copy clone flood --------------------------------
    // 90% of the corpus is ONE verbatim ~40-token page (the SEO-mirror /
    // boilerplate shape): pre-collapse, every copy paid its own window
    // explode + anti-join + reassembly (w× the duplicated token volume —
    // the r8 verdict's 100×-scale caveat); post-collapse the flood is ONE
    // distinct token stream through the span machinery plus a narrow
    // re-expansion join, so wall-clock must track the 10% distinct tail.
    val boilerPage = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val sDocs = fixture(spark.range(nDoc).select(col("id").as("doc_id"),
      when(col("id") % 10 =!= 0, lit(boilerPage))
        .otherwise(concat(lit("unique payload run "),
          col("id").cast("string"), lit(" alpha beta gamma delta epsilon "),
          (col("id") * 7919).cast("string"))).as("text")))
    println(s"[prof] despan clone-flood docs: ${sDocs.count()} (90% one page)")
    for (i <- 1 to 2)
      time(s"removeDuplicateSpans 90%%-clone flood #$i") {
        val n = graft.operators.Pipelines.removeDuplicateSpans(
          sDocs, "doc_id", "text", w = 10, minCount = 2).count()
        require(n == nDoc, s"despan must stay total: $n of $nDoc")
        graft.operators.Caches.release(spark)
      }
    sDocs.unpersist()
    }

    section(9) {
    // --- 9. BM25 hot-term probe -----------------------------------------
    // every doc contains the universal term "the" (a 2M-row posting list —
    // the worst query a user can type) plus mostly-distinct filler; the
    // scorer must stay flat vs a rare-term query because tf/df are
    // map-side-combined aggregates over the term-filtered stream, never a
    // per-term reducer of raw tokens.
    val bDocs = fixture(spark.range(nDoc).select(col("id").as("doc_id"),
      concat(lit("the filler"), (col("id") % 97).cast("string"),
        lit(" alpha beta word"), (col("id") % 1013).cast("string"),
        when(col("id") % 100000 === 0, lit(" needle")).otherwise(lit(""))).as("text")))
    println(s"[prof] bm25 docs: ${bDocs.count()} (universal term 'the')")
    for ((term, label, expected) <- Seq(("the alpha", "hot term", nDoc.toLong),
        ("needle", "rare term", nDoc / 100000L)); i <- 1 to 2)
      time(s"bm25Score $label ('$term') #$i") {
        val n = graft.operators.TextAnalysis.bm25Score(
          bDocs, "doc_id", "text", term).count()
        require(n == expected, s"$label match count: $n")
        graft.operators.Caches.release(spark)
      }
    bDocs.unpersist()
    }

    section(10) {
    // --- 10. containment incremental at its DESIGN point ----------------
    // (the r9 verdict ask: the sf0.1 measurements only showed the candidate
    // -restricted verify-array aggregation's ~1 s OVERHEAD, because at that
    // scale candidates span most docs; the design point is the opposite —
    // a LARGE persisted state and a small batch, where restricting the
    // array rebuild to candidate docs is the difference between O(batch)
    // and O(state) verify work.) State: nDoc/2 mostly-distinct ~14-word
    // docs; batch: 2k docs, half QUOTES (word-prefixes of state docs — all
    // must drop at C >= 0.9... prefixes share all but boundary shingles)
    // and half fresh. The reference bar is what the UNRESTRICTED path
    // would pay: collect_set over the ENTIRE state posting list.
    val nState = nDoc / 2
    val stDocs = fixture(spark.range(nState).select(col("id").as("doc_id"),
      concat(lit("state document body text"),
        (col("id") % 100003).cast("string"),
        lit(" with words alpha"), (col("id") % 997).cast("string"),
        lit(" beta gamma delta epsilon zeta eta theta iota kappa")).as("text")))
    val contState = fixture(graft.operators.Dedup.containmentState(
      stDocs, "doc_id", "text", n = 3))
    println(s"[prof] containment state: ${stDocs.count()} docs, " +
      s"${contState.count()} postings")
    def mkBatch(k: Int) = {
      val quotes = stDocs.filter(col("doc_id") % (nState / (k / 2)) === 0)
        .limit(k / 2)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          // strict word-prefix of a state doc: containment ~1 → must drop
          expr("concat_ws(' ', slice(split(text, ' '), 1, 12))").as("text"))
      val fresh = spark.range(k / 2).select(
        (col("id") + 20000000L).as("doc_id"),
        concat(lit("entirely fresh batch content item "),
          col("id").cast("string"),
          lit(" lambda mu nu xi omicron pi rho sigma tau upsilon")).as("text"))
      quotes.unionByName(fresh).repartition(8).cache()
    }
    for (k <- Seq(2000, 20000)) {
      val batch = mkBatch(k)
      println(s"[prof] batch: ${batch.count()} (half quotes of state)")
      for (i <- 1 to 2) {
        // Caches.release (clearCache) drops the FIXTURE caches too — re-pin
        // them outside the timer so each rep measures the operator, not a
        // 1M-doc state rebuild (the r10 first-cut #2 reps paid exactly that)
        stDocs.cache().count(); contState.cache().count()
        batch.cache().count()
        time(s"containmentDedupIncremental state=$nState batch=$k #$i") {
          val kept = graft.operators.Dedup.containmentDedupIncremental(
            batch, "doc_id", "text", contState,
            n = 3, threshold = 0.9, minShingles = 5).count()
          println(s"[prof]   kept $kept of $k")
        }
        graft.operators.Caches.release(spark)
      }
      batch.unpersist()
    }
    // what the UNRESTRICTED verify path would pay per batch: rebuilding
    // EVERY state doc's shingle array (the cost the candidate semi-join
    // restriction removes)
    contState.cache().count()
    time(s"reference bar: collect_set over ALL $nState state docs") {
      noop(contState.groupBy("doc_id").agg(collect_set(col("sh")).as("shs")))
    }
    contState.unpersist(); stDocs.unpersist()
    }

    section(11) {
    // --- 11. Bloom-sidecar incremental dedup at its DESIGN point --------
    // Large persisted fingerprint state × small mostly-new batch — the
    // rolling-crawl shape exactIncrementalBloom exists for. The bar is
    // exactIncremental's state-sized anti-join shuffle; the bloom path
    // should pay one broadcast + a narrow state scan for the (tiny)
    // maybe-set semi-join. Sidecar build cost is timed separately: it is
    // amortized once per state, not per batch (append is O(batch)).
    val nState = nDoc
    val stFps = fixture(spark.range(nState)
      .select(md5(concat(lit("state doc "), col("id").cast("string"))).as("fp")))
    println(s"[prof] bloom state: ${stFps.count()} fingerprints")
    val nBatch = 20000
    // 5% of the batch repeats state content (must drop), 95% is fresh
    val batch = spark.range(nBatch).select(col("id").as("doc_id"),
      when(col("id") % 20 === 0,
        concat(lit("state doc "), (col("id") * 37 % nState).cast("string")))
        .otherwise(concat(lit("fresh batch doc "), col("id").cast("string")))
        .as("text"))
      .repartition(8).cache()
    println(s"[prof] batch: ${batch.count()} docs (5% seen)")
    val bloomPath = "target/profile_bloom_state"
    time(s"BloomState.write over $nState fps (once per state, amortized)") {
      graft.operators.BloomState.write(stFps, "fp", bloomPath,
        expectedItems = nState, fpp = 0.001)
    }
    // the structural claim is that the bloom path removes the state-sized
    // exchange (shuffled MB), not that local wall-clock drops (in-memory,
    // both paths are scan-bound; on a network the exchange is the
    // recurring per-batch cost)
    val paths = Seq[(String, DataFrame => DataFrame)](
      "exactIncremental (anti-join bar)" -> (b => graft.operators.Dedup
        .exactIncremental(b, "doc_id", "text", stFps)),
      "exactIncrementalBloom" -> (b => graft.operators.Dedup
        .exactIncrementalBloom(b, "doc_id", "text", stFps, bloomPath)))
    for ((label, dedup) <- paths; i <- 1 to 2) {
      stFps.cache().count(); batch.cache().count()
      accounted(s"$label state=$nState batch=$nBatch #$i") {
        println(s"[prof]   kept ${dedup(batch).count()} of $nBatch")
      }
      graft.operators.Caches.release(spark)
    }
    batch.unpersist(); stFps.unpersist()
    }

    section(12) {
    // --- 12. partitioned WRITE under partition-value skew (r12 VERDICT #1)
    // 90% of rows carry ONE partition value (lang=en in a web corpus) vs a
    // uniform spread over the same 10 values. The rebalance form must keep
    // the skewed write flat vs uniform: AQE splits the hot value across
    // tasks (a few size-bounded files) instead of funneling 90% of the
    // bytes through one writer task, while small values still land one
    // file each (no tasks × values explosion).
    val nW = nDoc / 2
    // incompressible ~256 B payload: AQE's rebalance skew split decides on
    // COMPRESSED shuffle sizes, so a constant-padded payload would hide the
    // hot partition under the 64 MB advisory size at profile scale
    val skewed = spark.range(nW).select(col("id"),
      when(pmod(col("id"), lit(10)) === 0,
        concat(lit("l"), pmod(col("id"), lit(10)).cast("string")))
        .otherwise(lit("en")).as("lang"), md5Payload(8).as("payload"))
    val uniform = spark.range(nW).select(col("id"),
      concat(lit("l"), pmod(col("id"), lit(10)).cast("string")).as("lang"),
      md5Payload(8).as("payload"))
    def fileStats(out: String): String = {
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      dirs.map { d =>
        val fl = d.listFiles().filter(_.getName.endsWith(".parquet"))
        s"${d.getName}:${fl.length}f/${fl.map(_.length).sum / 1000000}MB"
      }.sorted.mkString(" ")
    }
    for (i <- 1 to 2) {
      val outU = java.nio.file.Files.createTempDirectory("prof_wr_u").toString + "/t"
      val outS = java.nio.file.Files.createTempDirectory("prof_wr_s").toString + "/t"
      time(s"partitionedParquet uniform 10 values #$i") {
        graft.sources.Writers.partitionedParquet(uniform, outU, Seq("lang"))
      }
      if (i == 2) println(s"[prof]   uniform layout: ${fileStats(outU)}")
      time(s"partitionedParquet 90%-one-value  #$i") {
        graft.sources.Writers.partitionedParquet(skewed, outS, Seq("lang"))
      }
      if (i == 2) println(s"[prof]   skewed layout:  ${fileStats(outS)}")
    }
    }

    section(13) {
    // --- 13. Partition-scoped MERGE vs whole-table rewrite --------------
    // The r13 group-based DML design point: a sparse MERGE (keys touching
    // 2 of 50 partitions, ON a NON-partition key so only runtime group
    // filtering can scope it) into a partitioned table must cost the
    // dynamic-subquery scan plus a 2-partition rewrite — NOT the
    // whole-table rewrite the same MERGE pays on an unpartitioned copy.
    // At 100 TB the unpartitioned bar is 25× the scoped write volume here
    // (2/50); the absolute gap at profile scale is bounded by local I/O,
    // the structural claim is the ratio and the untouched files.
    val nM = nDoc
    val base = spark.range(nM).select(col("id"),
      pmod(col("id"), lit(50)).cast("int").as("p"), md5Payload(4).as("payload"))
    val profDir = newCatalog("graft_prof", "prof_merge")
    base.createOrReplaceTempView("prof_base")
    spark.sql("CREATE TABLE graft_prof.main.mp PARTITIONED BY (p) " +
      "AS SELECT id, payload, p FROM prof_base")
    spark.sql("CREATE TABLE graft_prof.main.mu " +
      "AS SELECT id, payload, p FROM prof_base")
    // source: every 500th id, all ≡ 0 or 1 (mod 50) → partitions {0, 1}
    spark.range(nM / 500).select((col("id") * 500 + col("id") % 2).as("id"),
      lit("updated").as("payload"),
      (col("id") % 2).cast("int").as("p"))
      .createOrReplaceTempView("prof_src")
    def mergeInto(t: String): Unit =
      spark.sql(s"""MERGE INTO graft_prof.main.$t t
        |USING prof_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET payload = s.payload""".stripMargin)
    // wall-clock at profile scale is overhead-dominated (300 MB is free on
    // local NVMe) — the structural claim is the BYTES each path moves, which
    // is what scales to 100 TB: scoped ≈ full narrow subquery read + 2/50 of
    // the wide bytes read AND written ONCE (r14 single-pass staging: the
    // r13 flat→hive hop that doubled the write is gone); whole-table ≈
    // every byte read once and written once
    for (i <- 1 to 2) {
      accounted(s"MERGE 2-of-50 partitions, partition-scoped #$i")(mergeInto("mp"))
      accounted(s"MERGE same keys, unpartitioned whole-table #$i")(mergeInto("mu"))
    }
    val untouched = new java.io.File(s"$profDir/mp").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("p=") &&
        !d.getName.equals("p=0") && !d.getName.equals("p=1"))
    println(s"[prof]   untouched partition dirs intact: $untouched of 48")
    }

    section(14, byDefault = false) {
    // --- 14. DATA-DOMINATED DML points (r14 VERDICT ask #7): ≥1 GB ------
    // affected bytes, so the write-volume claims of §13 carry a wall-clock
    // witness instead of being overhead-bound.
    val nG = math.max(nDoc, 4000000)
    // ~290 B/row of incompressible payload → table ≈ 1.2 GB parquet
    newCatalog("graft_pg", "prof_dml")

    // (a) FILE-scoped DELETE: unpartitioned, range-clustered into ~40
    // files; a point delete must read+write ~1/40 of the table
    spark.sql("CREATE TABLE graft_pg.main.ft (id BIGINT, payload STRING)")
    time("file-dml fixture: 40-file range-clustered write") {
      spark.range(nG).select(col("id"), md5Payload(8).as("payload"))
        .repartitionByRange(40, col("id"))
        .writeTo("graft_pg.main.ft").append()
    }
    accounted("point DELETE, file-scoped (1 of 40 files)") {
      spark.sql(s"DELETE FROM graft_pg.main.ft WHERE id = ${nG / 2}")
    }
    // control: the same delete shape against a clone with stats disabled
    // by clustering on a hash (every file holds the full id range → all
    // files candidates → whole-table swap)
    spark.sql("CREATE TABLE graft_pg.main.fu (id BIGINT, payload STRING)")
    time("file-dml control fixture: hash-scattered write") {
      spark.range(nG).select(col("id"), md5Payload(8).as("payload"))
        .repartition(40, pmod(hash(col("id")), lit(40)))
        .writeTo("graft_pg.main.fu").append()
    }
    accounted("point DELETE, scattered layout (whole-table bar)") {
      spark.sql(s"DELETE FROM graft_pg.main.fu WHERE id = ${nG / 2}")
    }

    // (b) partition-scoped MERGE at data scale: 2-of-50 partitions of the
    // same ~1.2 GB table; single-pass staging ⇒ wrote ≈ 2/50 of the bytes
    spark.range(nG).select(col("id"),
      pmod(col("id"), lit(50)).cast("int").as("p"), md5Payload(8).as("payload"))
      .createOrReplaceTempView("prof_base_g")
    time("merge fixture: 50-partition CTAS") {
      spark.sql("CREATE TABLE graft_pg.main.mp PARTITIONED BY (p) " +
        "AS SELECT id, payload, p FROM prof_base_g")
    }
    spark.range(nG / 500).select((col("id") * 500 + col("id") % 2).as("id"),
      lit("updated").as("payload"),
      (col("id") % 2).cast("int").as("p"))
      .createOrReplaceTempView("prof_src_g")
    accounted("MERGE 2-of-50 partitions, data-dominated") {
      spark.sql("""MERGE INTO graft_pg.main.mp t
        |USING prof_src_g s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET payload = s.payload""".stripMargin)
    }
    }

    section(15, byDefault = false) {
    // --- 15. MANIFEST-carried candidacy: planning cost flat in file -----
    // count (r14 VERDICT ask #1). The footer path pays one driver-side
    // storage round-trip per data file per DML command (~10^6 at 100 TB);
    // the snapshot path answers candidacy from ONE manifest already read
    // at load. Measure a point DELETE against 40-file and 400-file
    // snapshot tables (expect flat wall-clock, bytes ∝ 1/files) and the
    // 400-file PLAIN table (footer-pass bar, grows with file count).
    val n15 = 2000000L
    newCatalog("graft_pc", "prof_cand")
    def mkTable(name: String, files: Int, snap: Boolean): Unit = {
      val props = if (snap) "TBLPROPERTIES ('snapshots'='true') " else ""
      time(s"fixture $name: $files-file range-clustered CTAS (snap=$snap)") {
        spark.sql(s"CREATE TABLE graft_pc.main.$name $props AS " +
          s"SELECT /*+ REPARTITION_BY_RANGE($files, id) */ id, " +
          s"md5(CAST(id AS STRING)) AS payload FROM range($n15)")
      }
    }
    mkTable("s40", 40, snap = true)
    mkTable("s400", 400, snap = true)
    mkTable("p400", 400, snap = false)
    for (i <- 1 to 2) {
      time(s"point DELETE, snapshot 40 files (manifest candidacy) #$i") {
        spark.sql(s"DELETE FROM graft_pc.main.s40 WHERE id = ${1000 + i}")
      }
      time(s"point DELETE, snapshot 400 files (manifest candidacy) #$i") {
        spark.sql(s"DELETE FROM graft_pc.main.s400 WHERE id = ${1000 + i}")
      }
      time(s"point DELETE, plain 400 files (footer-pass bar) #$i") {
        spark.sql(s"DELETE FROM graft_pc.main.p400 WHERE id = ${1000 + i}")
      }
    }
    }

    section(16, byDefault = false) {
    // --- 16. DELETION VECTORS vs copy-on-write at data scale (r15) ------
    // The §14/§15 file-scoped path still rewrites the matched FILE (~1/40
    // of the table); a dv DELETE writes positions only. Measure on the
    // same ~1.2 GB 40-file range-clustered shape.
    val n16 = math.max(nDoc.toLong, 4000000L)
    val profDir16 = newCatalog("graft_pv", "prof_dv")
    rangeClustered("graft_pv.main.dv", n16, dv = true)
    rangeClustered("graft_pv.main.cw", n16, dv = false)
    for (i <- 1 to 2) {
      accounted(s"point DELETE, deletion vector #$i") {
        spark.sql(s"DELETE FROM graft_pv.main.dv WHERE id = ${n16 / 2 + i}")
      }
      accounted(s"point DELETE, file-scoped copy-on-write #$i") {
        spark.sql(s"DELETE FROM graft_pv.main.cw WHERE id = ${n16 / 2 + i}")
      }
    }
    // read tax: a full aggregate over the dv'd table (one vectored file,
    // 39 clean) vs the rewritten COW table
    for (i <- 1 to 2; (t, label) <- Seq("dv" -> "dv table (1 vectored file)",
        "cw" -> "cow table (no vectors)"))
      accounted(s"full scan agg, $label #$i") {
        spark.sql(s"SELECT grp, count(*) FROM graft_pv.main.$t GROUP BY grp").collect()
      }
    // a broad delete (grp = 3 — matches 1/7 of the rows in all 40
    // files) then compaction materializes the vectors back to zero
    accounted("broad DELETE (grp = 3, all files), deletion vector") {
      spark.sql("DELETE FROM graft_pv.main.dv WHERE grp = 3")
    }
    accounted("compact: materialize vectors") {
      graft.catalog.Snapshots.compact(spark,
        new org.apache.hadoop.fs.Path(s"$profDir16/dv"))
    }
    }

    section(17, byDefault = false) {
    // --- 17. BLOOM candidacy on an UNCLUSTERED key (r15) ----------------
    // Hash-scattered layout: every file's min/max spans the whole id
    // domain, so footer/manifest stats keep ALL files as candidates and a
    // point DELETE reads the table. Per-file blooms prove absence; the
    // DELETE reads ~1/40 of the bytes. bloom build cost is paid once per
    // commit (shown in the CTAS fixture time).
    val n17 = math.max(nDoc.toLong, 4000000L)
    val profDir17 = newCatalog("graft_pb", "prof_bloom")
    def mk17(name: String, bloom: Boolean): Unit = {
      val bl = if (bloom) ", 'bloom_cols'='id', 'bloom_fpp'='0.0001'" else ""
      time(s"fixture $name: 40-file hash-scattered ~1.2 GB CTAS (bloom=$bloom)") {
        spark.sql("CREATE TABLE graft_pb.main." + name +
          s" TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true'$bl) AS " +
          "SELECT /*+ REPARTITION(40, hashed) */ id, hash(id) AS hashed, " +
          s"$md5PayloadSql AS payload FROM range($n17)")
      }
    }
    mk17("bl", bloom = true)
    mk17("nb", bloom = false)
    val blBytes = {
      val fs = new org.apache.hadoop.fs.Path(profDir17)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$profDir17/bl")).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
        .flatMap(g => fs.listStatus(g.getPath).toSeq)
        .filter(_.getPath.getName == "_graft_blooms.json")
        .map(_.getLen).sum
    }
    println(f"[prof]   bloom sidecar bytes: ${blBytes / 1e6}%.1f MB")
    for (i <- 1 to 2) {
      accounted(s"point DELETE by unclustered id, BLOOM #$i") {
        spark.sql(s"DELETE FROM graft_pb.main.bl WHERE id = ${n17 / 3 + i}")
      }
      accounted(s"point DELETE by unclustered id, stats-only #$i") {
        spark.sql(s"DELETE FROM graft_pb.main.nb WHERE id = ${n17 / 3 + i}")
      }
    }
    }

    section(18, byDefault = false) {
    // --- 18. MERGE-ON-READ UPDATE vs copy-on-write at data scale (r15) --
    // The file-scoped copy-on-write UPDATE rewrites the matched FILE
    // (~1/40 of the table, ~30 MB here) even for a one-row SET; the
    // merge-on-read path commits one position vector + a one-row
    // generation — KBs. Same 40-file ~1.2 GB range-clustered shape as §16.
    val n18 = math.max(nDoc.toLong, 4000000L)
    val profDir18 = newCatalog("graft_pm18", "prof_mor")
    rangeClustered("graft_pm18.main.mu", n18, dv = true)
    rangeClustered("graft_pm18.main.cu", n18, dv = false)
    for (i <- 1 to 2; (t, label) <- Seq("mu" -> "merge-on-read",
        "cu" -> "file-scoped copy-on-write"))
      accounted(s"point UPDATE, $label #$i") {
        spark.sql(s"UPDATE graft_pm18.main.$t SET grp = grp + 100 " +
          s"WHERE id = ${n18 / 2 + i}")
      }
    // correctness anchors: both tables agree after the same mutations
    val Seq(muCnt, cuCnt) = Seq("mu", "cu").map(t => spark.sql(
      s"SELECT count(*) FROM graft_pm18.main.$t WHERE grp > 100").collect()
      .head.getLong(0))
    println(s"[prof]   updated rows visible: mor=$muCnt cow=$cuCnt")
    // compaction materializes the update vectors back to zero
    accounted("compact: materialize update vectors") {
      graft.catalog.Snapshots.compact(spark,
        new org.apache.hadoop.fs.Path(s"$profDir18/mu"))
    }
    }

    section(19) {
    // --- 19. containment hot-shingle flood (round 9) ---------------------
    // each of nDoc/10 docs: 10 unique words (from its id) + for 90% the
    // same 6-word boilerplate tail → two shared trigram shingles with
    // df ≈ 0.9n plus a bridging one; unique heads keep every pair far below
    // any threshold. The df-ascending prefix ordering must push the hot
    // shingles OUT of every prefix, so the candidate join stays ~empty and
    // runtime tracks the corpus linearly — the naive shingle self-join
    // would owe ~C(0.9n, 2) rows on the hot postings alone.
    def uw(i: Int) = concat(lit("w"), ((col("id") * 31 + i) % 1000000000L).cast("string"))
    val uniqueHead = concat_ws(" ", (0 until 10).map(uw): _*)
    val docsHot = fixture(spark.range(nDoc / 10).select(col("id").as("doc_id"),
      when(col("id") % 10 =!= 0,
        concat(uniqueHead, lit(" the quick brown fox jumps over")))
        .otherwise(uniqueHead).as("text")))
    val docsFlat = fixture(spark.range(nDoc / 10).select(col("id").as("doc_id"),
      uniqueHead.as("text")))
    println(s"[prof] docs: ${docsHot.count()} hot / ${docsFlat.count()} flat")
    for (i <- 1 to 2; (docs, label) <- Seq(docsFlat -> "no-hot-shingle baseline",
        docsHot -> "90%-hot-shingle flood"))
      time(s"containmentPairs $label #$i") {
        val c = graft.operators.Dedup.containmentPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.9).count()
        println(s"[prof]   pairs=$c")
      }
    docsHot.unpersist(); docsFlat.unpersist()
    }

    // --- 20-22. graph floods over nDoc edges: uniform over 100k hosts vs
    // 90% of edges on ONE dst plus one src fanning out to 100k dsts.
    // Per-round shuffles are plain hash aggregates with map-side combine,
    // so both floods must run flat vs the uniform graph.
    def host(c: Column) = concat(lit("h"), c.cast("string"))
    lazy val edges = {
      val uniform = fixture(spark.range(nDoc).select(
        host(pmod(xxhash64(col("id")), lit(100000L))).as("src_host"),
        host(pmod(xxhash64(col("id"), lit(1)), lit(100000L))).as("dst_host")))
      val skewed = fixture(spark.range(nDoc).select(
        when(col("id") % 100 === 0, host(lit(999999)))
          .otherwise(host(pmod(xxhash64(col("id")), lit(100000L)))).as("src_host"),
        when(col("id") % 10 =!= 0, host(lit(0)))
          .otherwise(host(pmod(xxhash64(col("id"), lit(1)), lit(100000L)))).as("dst_host")))
      println(s"[prof] edges: ${uniform.count()} uniform / ${skewed.count()} skewed")
      Seq("uniform 100k hosts" -> uniform, "90%-one-dst skew" -> skewed)
    }
    def graphFlood(op: String)(run: DataFrame => DataFrame): Unit =
      for (i <- 1 to 2; (label, e) <- edges)
        time(s"$op 3 iters $label #$i")(noop(run(e)))

    section(20) {
    // --- 20. pageRank under in-degree and out-degree floods --------------
    graphFlood("pageRank")(graft.operators.Links.pageRank(_, iters = 3))
    }

    section(21) {
    // --- 21. trustRank under the same floods -----------------------------
    // same recurrence + one broadcast seed mark; must track pageRank's
    // times on both graphs (100 seed hosts out of 100k)
    val seeds = spark.range(100).select(host(col("id") * 1000L).as("host")).cache()
    seeds.count()
    graphFlood("trustRank")(graft.operators.Links.trustRank(_, seeds, iters = 3))
    seeds.unpersist()
    }

    section(22) {
    // --- 22. labelPropagate under the same floods ------------------------
    // per round: labels⋈edges join + count/max/min keyed aggregates, all
    // map-side combinable — the hot host's (host, label) count rows are
    // bounded by its distinct NEIGHBOR LABELS, not its edge count, so the
    // 90%-one-dst flood must track the uniform graph
    graphFlood("labelPropagate")(graft.operators.Links.labelPropagate(_, iters = 3))
    }
    spark.stop()
  }
}
