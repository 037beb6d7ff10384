package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis, Urls}
import graft.sources.Tables

/** Index/state RETIREMENT forms (VERDICT r9 missing #2): BM25 tombstone
  * deletion, IVF+PQ tombstone deletion + compaction purge, and the
  * exact-dedup / urlState retractions — each proven equivalent to the state
  * the system would be in had the retired items never been ingested.
  */
class RetirementSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "apple banana cherry apple apple"),
      (2L, "apple banana banana date elder fig"),
      (3L, "banana cherry date elder fig grape"),
      (4L, "kiwi lime mango nectarine orange"),
      (5L, "apple cherry cherry banana grape")).toDF("doc_id", "text")
  }

  test("bm25: probe(build + append + delete) == one-shot build on the survivors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25del").toString + "/idx"
    // build {1,2,3}, append {4,5}, delete {2,4}
    TextAnalysis.bm25IndexWrite(corpus.filter($"doc_id" <= 3), "doc_id", "text", dir)
    TextAnalysis.bm25IndexAppend(corpus.filter($"doc_id" >= 4), "doc_id", "text", dir)
    TextAnalysis.bm25IndexDelete(Seq(2L, 4L).toDF("doc_id"), "doc_id", dir)
    val got = TextAnalysis.bm25Probe(spark, dir, "apple cherry")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val dirRef = java.nio.file.Files.createTempDirectory("graft_bm25ref").toString + "/idx"
    TextAnalysis.bm25IndexWrite(corpus.filter($"doc_id".isin(1L, 3L, 5L)),
      "doc_id", "text", dirRef)
    val want = TextAnalysis.bm25Probe(spark, dirRef, "apple cherry")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"tombstoned probe diverged: $got vs $want")
    assert(!got.contains(2L) && !got.contains(4L))

    // stats sidecar reflects the survivors exactly (nd, ltot from .docs)
    val st = spark.read.parquet(s"$dir.stats").head()
    assert(st.getLong(0) == 3L && st.getLong(1) == 5L + 6L + 5L,
      s"stats not rebuilt from survivors: $st")

    // deleting an id absent from the index is a no-op on the scores
    TextAnalysis.bm25IndexDelete(Seq(99L).toDF("doc_id"), "doc_id", dir)
    val again = TextAnalysis.bm25Probe(spark, dir, "apple cherry")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == want)
  }

  test("bm25: a rebuild clears tombstones; staged-sidecar markers disambiguate crash windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25cl").toString + "/idx"
    TextAnalysis.bm25IndexWrite(corpus, "doc_id", "text", dir)
    TextAnalysis.bm25IndexDelete(Seq(1L).toDF("doc_id"), "doc_id", dir)
    // rebuild over the full corpus: the old generation's tombstones must not
    // survive to hide doc 1 in the fresh index
    TextAnalysis.bm25IndexWrite(corpus, "doc_id", "text", dir)
    val probe = TextAnalysis.bm25Probe(spark, dir, "apple")
      .collect().map(_.getLong(0)).toSet
    assert(probe.contains(1L), "rebuild must clear old tombstones")

    // crash-window disambiguation: a staged sidecar WITHOUT the payload
    // marker must instruct rebuild; WITH it, completing the swap
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    spark.range(1).selectExpr("5L as nd", "26L as ltot")
      .write.mode("overwrite").parquet(s"$dir.stats.next")
    val e1 = intercept[IllegalStateException] {
      TextAnalysis.bm25IndexDelete(Seq(2L).toDF("doc_id"), "doc_id", dir)
    }
    assert(e1.getMessage.contains("REBUILD"), e1.getMessage)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir.stats.next/_PAYLOAD_COMMITTED"), true).close()
    val e2 = intercept[IllegalStateException] {
      TextAnalysis.bm25IndexAppend(corpus.filter($"doc_id" === 99L),
        "doc_id", "text", dir)
    }
    assert(e2.getMessage.contains("finish the swap"), e2.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir.stats.next"), true)
  }

  test("bm25 append: a failed stats.next write leaves a retry that refuses or lands the batch once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25fail").toString + "/idx"
    TextAnalysis.bm25IndexWrite(corpus.filter($"doc_id" <= 3), "doc_id", "text", dir)
    val batch = corpus.filter($"doc_id" >= 4)
    // the same index, reached through a scheme whose writes under
    // *.stats.next fail: the staged sidecar never lands
    RefusingFs.withRefusal(spark.sparkContext.hadoopConfiguration,
        create = """.*\.stats\.next(/.*)?""") {
      intercept[Exception] {
        TextAnalysis.bm25IndexAppend(batch, "doc_id", "text", s"refuse://$dir")
      }
    }
    val retried = scala.util.Try(
      TextAnalysis.bm25IndexAppend(batch, "doc_id", "text", dir))
    retried.failed.foreach(e => assert(e.isInstanceOf[IllegalStateException] &&
      e.getMessage.contains(".stats.next"), s"retry failed for another reason: $e"))
    if (retried.isSuccess) {
      val counts = spark.read.parquet(s"$dir.docs").groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts == (1L to 5L).map(_ -> 1L).toMap,
        s"a retry after the failed append must land each doc once: $counts")
      val st = spark.read.parquet(s"$dir.stats").head()
      assert(st.getLong(0) == 5L, s"stats must count the batch once: $st")
    }
  }

  test("ivfPq: delete hides tombstoned ids; compact purges them and re-admits appends") {
    import spark.implicits._
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_pqdel").toString + "/idx"
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
      nlist = 8, m = 8, ksub = 16)
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    // k = 11 so the full ranking already names the row that moves up into
    // the top-10 once the victim is tombstoned
    val full = Similarity.ivfPqProbe(spark, dir, q, k = 11, nprobe = 8,
      excludeId = Some(0L)).collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val victim = full.head._1
    Similarity.ivfPqDelete(Seq(victim).toDF("vec_id"), "vec_id", dir)
    val after = Similarity.ivfPqProbe(spark, dir, q, k = 10, nprobe = 8,
      excludeId = Some(0L)).collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // the survivors rank exactly as in the full probe minus the victim
    assert(after == full.filterNot(_._1 == victim).take(10),
      s"post-delete ranking broke: $after vs $full")
    assert(!after.map(_._1).contains(victim))

    // re-appending a tombstoned id must refuse until compaction purges
    val victimRows = emb.filter($"vec_id" === victim)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqAppend(spark, victimRows, "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("ivfPqCompact"), e.getMessage)
    Similarity.ivfPqCompact(spark, dir)
    // tombstones cleared, victim physically gone
    assert(!new java.io.File(s"$dir.tombstones").exists())
    Similarity.ivfPqAppend(spark, victimRows, "vec_id", "embedding", dir)
    val back = Similarity.ivfPqProbe(spark, dir, q, k = 11, nprobe = 8,
      excludeId = Some(0L)).collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(back == full,
      "delete + compact + re-append must restore the original ranking")
  }

  test("exactRetract: retracted content re-admits; everything else still dedups") {
    import spark.implicits._
    val history = Seq((10L, "alpha beta gamma"), (11L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val state = TextAnalysis.fingerprint(history, "doc_id", "text")
    val retracted = Dedup.exactRetract(state,
      history.filter($"doc_id" === 11L), "doc_id", "text")
    val batch = Seq(
      (20L, "alpha beta gamma"),   // still in state → dropped
      (21L, "delta epsilon zeta"), // retracted → re-admitted
      (22L, "eta theta iota"))     // new → admitted
      .toDF("doc_id", "text")
    val kept = Dedup.exactIncremental(batch, "doc_id", "text", retracted)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(21L, 22L), s"got $kept")
  }

  test("urlStateRetract: retracted page identities re-fetch; canonical variants still count") {
    import spark.implicits._
    val history = Seq(
      (10L, "https://a.example.com/x?utm_source=y"),
      (11L, "https://b.example.com/y"))
      .toDF("doc_id", "url")
    val state = Urls.urlState(history, "doc_id", "url")
    val retracted = Urls.urlStateRetract(state,
      history.filter($"doc_id" === 11L), "doc_id", "url")
    val batch = Seq(
      (20L, "https://a.example.com/x"),          // canonical match → dropped
      (21L, "https://b.example.com:443/y"),      // retracted identity → kept
      (22L, "https://c.example.com/z"))          // new → kept
      .toDF("doc_id", "url")
    val kept = Urls.urlDedupIncremental(batch, "doc_id", "url", retracted)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(21L, 22L), s"got $kept")
  }

  test("minHashRetract: doc-id-keyed retraction == state built from survivors") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents").filter($"doc_id" < 120)
    val retracted = Dedup.minHashRetract(
      Dedup.minHashState(docs, "doc_id", "text"),
      docs.filter($"doc_id" >= 60).select("doc_id"))
    val rebuilt = Dedup.minHashState(
      docs.filter($"doc_id" < 60), "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"band", $"bh", array_sort($"shs").as("shs"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(retracted) == rows(rebuilt),
      "retract-by-id must be bit-identical to a rebuild on the survivors")
  }

  test("States lifecycle: compact(write + append ∖ retracted) == rebuild-on-survivors, all four state kinds") {
    import spark.implicits._
    import graft.operators.{Pipelines, States}
    val base = java.nio.file.Files.createTempDirectory("graft_states").toString
    val a = Seq((1L, "alpha beta gamma", "s1"), (2L, "delta epsilon zeta", "s1"),
      (3L, "eta theta iota", "s2")).toDF("doc_id", "text", "source")
    val b = Seq((4L, "kappa lambda mu", "s2"), (5L, "nu xi omicron", "s3"))
      .toDF("doc_id", "text", "source")
    val all = a.unionByName(b)
    val retractedIds = Set(2L, 4L)
    val r = all.filter($"doc_id".isin(retractedIds.toSeq.map(java.lang.Long.valueOf): _*))
    val survivors = all.filter(!$"doc_id".isin(retractedIds.toSeq.map(java.lang.Long.valueOf): _*))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    // 1. fingerprint state — sidecar key: fp (content-keyed)
    val fDir = s"$base/fp"
    States.write(TextAnalysis.fingerprint(a, "doc_id", "text"), fDir)
    States.append(TextAnalysis.fingerprint(b, "doc_id", "text"), fDir)
    States.retract(TextAnalysis.fingerprint(r, "doc_id", "text").select("fp"), fDir)
    val fLive = rows(States.read(spark, fDir))
    States.compact(spark, fDir)
    assert(rows(States.read(spark, fDir)) == fLive, "read changed under compaction")
    assert(fLive == rows(TextAnalysis.fingerprint(survivors, "doc_id", "text")))
    assert(!new java.io.File(s"$fDir.retracted").exists, "legacy sidecar must not appear")
    assert(!new java.io.File(fDir).listFiles.exists(_.getName.startsWith("_retracted-gen-")),
      "compaction must clear the consumed sidecar")

    // 2. containment postings — sidecar key: doc_id
    val cDir = s"$base/cont"
    States.write(Dedup.containmentState(a, "doc_id", "text", n = 2), cDir)
    States.append(Dedup.containmentState(b, "doc_id", "text", n = 2), cDir)
    States.retract(r.select($"doc_id".cast("long").as("doc_id")), cDir)
    val cLive = rows(States.read(spark, cDir))
    States.compact(spark, cDir)
    assert(rows(States.read(spark, cDir)) == cLive)
    assert(cLive == rows(Dedup.containmentState(survivors, "doc_id", "text", n = 2)))

    // 3. URL membership — sidecar key: url_canon; re-appends dedup on compact
    val urls = all.select($"doc_id",
      concat(lit("https://h"), $"doc_id", lit(".example.com/p?utm_source=x")).as("url"))
    val rUrls = urls.filter($"doc_id".isin(retractedIds.toSeq.map(java.lang.Long.valueOf): _*))
    val uDir = s"$base/url"
    States.write(Urls.urlState(urls.filter($"doc_id" <= 3), "doc_id", "url"), uDir)
    States.append(Urls.urlState(urls.filter($"doc_id" >= 3), "doc_id", "url"), uDir) // doc 3 re-appends
    States.retract(Urls.urlState(rUrls, "doc_id", "url"), uDir)
    val uLive = rows(States.read(spark, uDir).distinct())
    States.compact(spark, uDir)
    assert(rows(States.read(spark, uDir)) == uLive, "compact dedups the re-append")
    assert(uLive == rows(Urls.urlState(
      urls.filter(!$"doc_id".isin(retractedIds.toSeq.map(java.lang.Long.valueOf): _*)),
      "doc_id", "url")))

    // 4. spent budgets — sum-merged; retraction = negated-row append
    val budgetMerge: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.groupBy("domain").agg(sum("spent_tok").as("spent_tok"))
    val sDir = s"$base/spent"
    States.write(Pipelines.tokenBudgetState(a, "doc_id", "text", "source"), sDir)
    States.append(Pipelines.tokenBudgetState(b, "doc_id", "text", "source"), sDir)
    States.append(Pipelines.tokenBudgetState(r, "doc_id", "text", "source")
      .select($"domain", (-$"spent_tok").as("spent_tok")), sDir)
    val sLive = rows(States.read(spark, sDir, budgetMerge))
    States.compact(spark, sDir, budgetMerge)
    assert(rows(States.read(spark, sDir, budgetMerge)) == sLive)
    // rebuild-on-survivors, zero-spend domains dropped (s1: 3-token doc left)
    val want = rows(Pipelines.tokenBudgetState(survivors, "doc_id", "text", "source"))
    assert(rows(States.read(spark, sDir, budgetMerge)
      .filter($"spent_tok" =!= 0L)) == want,
      "sum-merged state must equal a rebuild on the survivors (modulo zeroed domains)")
  }

  test("containmentRetract: a quote of a retracted source no longer flags") {
    import spark.implicits._
    val src = (1L, "one two three four five six seven eight nine ten")
    val other = (2L, "cold warm hot cool mild damp dry wet icy calm")
    val history = Seq(src, other).toDF("doc_id", "text")
    val state = Dedup.containmentState(history, "doc_id", "text", n = 3)
    val retracted = Dedup.containmentRetract(state,
      Seq(1L).toDF("doc_id"))
    val quote = Seq((20L, "one two three four five six seven"),
      (21L, "cold warm hot cool mild damp dry")).toDF("doc_id", "text")
    val before = Dedup.containmentIncremental(quote, "doc_id", "text",
      state, n = 3, threshold = 0.9, minShingles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val after = Dedup.containmentIncremental(quote, "doc_id", "text",
      retracted, n = 3, threshold = 0.9, minShingles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((20L, 1L), (21L, 2L)), s"got $before")
    assert(after == Set((21L, 2L)),
      s"the retracted source's quote must no longer flag: $after")
  }

  test("hammingRetract: retracted fingerprints re-admit, shared fps un-claim") {
    import spark.implicits._
    val hashes = Seq((1L, 0x00L), (2L, 0xFF00L), (3L, 0x00L))
      .toDF("doc_id", "phash") // docs 1 and 3 share a fingerprint
    val state = Dedup.hammingState(hashes, "doc_id", "phash", maxHamming = 2)
    val retracted = Dedup.hammingRetract(state,
      hashes.filter($"doc_id" === 3L), "doc_id", "phash")
    val batch = Seq((20L, 0x01L), (21L, 0xFF01L)).toDF("doc_id", "phash")
    val kept = Dedup.hammingIncremental(batch, "doc_id", "phash", retracted,
      maxHamming = 2).collect().map(_.getLong(0)).toSet
    // 0x01 is within range of the retracted 0x00 ONLY → re-admitted even
    // though doc 1 also carried it (fp-keyed un-claiming, documented);
    // 0xFF01 is still blocked by doc 2's surviving 0xFF00
    assert(kept == Set(20L), s"got $kept")
  }

  test("semanticRetract: non-seeds retract exactly; seeds refuse loudly") {
    import spark.implicits._
    val emb = Tables(spark, sfDir, "embeddings").filter($"vec_id" < 120)
    val state = graft.operators.Semantic.semanticState(
      emb, "vec_id", "embedding", k = 4)
    val nonSeed = state.filter(!$"is_seed").limit(5).select("vec_id")
    val ids = nonSeed.collect().map(_.getLong(0)).toSet
    val after = graft.operators.Semantic.semanticRetract(state, nonSeed)
      .collect().map(_.getLong(0)).toSet
    val beforeIds = state.collect().map(_.getLong(0)).toSet
    assert(after == beforeIds -- ids)
    val seed = state.filter($"is_seed").limit(1).select("vec_id")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Semantic.semanticRetract(state, seed)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("States marker commit: a kill at any point leaves a readable state (r11 ask #5)") {
    import graft.operators.States
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_states_crash")
      .toString + "/st"
    def rows = States.read(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    States.write(v1, dir)
    val want = rows

    // kill point A: a replacement generation fully written but NOT
    // committed (crash before the marker create) — the old state stays
    // live and the orphan is invisible to read
    Seq((9L, "z")).toDF("id", "v").write.parquet(s"$dir/gen-99-deadbeef")
    assert(rows == want, "uncommitted generation must not become visible")

    // a later write() both commits atomically and sweeps the orphan
    States.write(v1, dir)
    assert(rows == want)
    assert(!new java.io.File(s"$dir/gen-99-deadbeef").exists,
      "orphaned uncommitted generation must be swept")

    // kill point B: committed marker whose generation was already swept
    // (crash mid-sweep after a newer commit) — resolution skips it
    new java.io.File(s"$dir/_commit-98-deadbeef").createNewFile()
    assert(rows == want, "marker without data must be skipped")
    new java.io.File(s"$dir/_commit-98-deadbeef").delete()

    // the state path is NEVER absent across a full lifecycle: read works
    // between every step (the r11 double-rename left an absent-dir window)
    States.append(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(rows.size == 3)
    States.retract(Seq((2L, "b")).toDF("id", "v"), dir)
    assert(rows.size == 2)
    States.compact(spark, dir)
    assert(rows == Seq((1L, "a"), (3L, "c")).toDF("id", "v")
      .collect().map(_.toString).sorted.toSeq)
    // exactly one committed generation survives the sweep
    val names = new java.io.File(dir).listFiles.map(_.getName).toSeq
    assert(names.count(_.startsWith("_commit-")) == 1, s"layout after compact: $names")
    assert(names.count(_.startsWith("gen-")) == 1, s"layout after compact: $names")
  }

  test("States first-write kill: an uncommitted gen-0 never becomes visible (r12 ADVICE)") {
    import graft.operators.States
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_states_first").toString

    // crash after a FIRST-generation write fully materialized but before the
    // marker create: no marker exists at all, so the fallback must not
    // recurse into the orphan — the state has no committed content
    val d1 = s"$base/fresh"
    Seq((9L, "z")).toDF("id", "v").write.parquet(s"$d1/gen-0-deadbeef")
    val e = intercept[IllegalStateException](States.read(spark, d1).collect())
    assert(e.getMessage.contains("no committed generation"))
    // re-running the write recovers: commits atomically and sweeps the orphan
    States.write(Seq((1L, "a")).toDF("id", "v"), d1)
    assert(States.read(spark, d1).collect().map(_.toString).toSeq == Seq("[1,a]"))
    assert(!new java.io.File(s"$d1/gen-0-deadbeef").exists)

    // layout upgrade: a pre-layout state (root part files) plus an orphan
    // uncommitted generation — reads serve ONLY the root files, never a mix
    val d2 = s"$base/legacy"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(d2)
    Seq((9L, "z")).toDF("id", "v").write.mode("append").parquet(s"$d2/gen-0-deadbeef")
    assert(States.read(spark, d2).collect().map(_.toString).sorted.toSeq ==
      Seq("[1,a]", "[2,b]"),
      "root part files are the live pre-layout state; orphan gen is invisible")

    // sweep guard (r12 VERDICT residual): a mis-pointed `dir` holding a
    // FOREIGN file must not lose it — the layout-upgrade sweep deletes only
    // parquet-writer-shaped root files (part-*.parquet), never arbitrary ones
    val foreign = new java.io.File(s"$d2/notes.txt")
    java.nio.file.Files.write(foreign.toPath, "keep me".getBytes)
    States.write(Seq((5L, "e")).toDF("id", "v"), d2) // upgrades the layout
    assert(foreign.exists, "sweep must never delete unrecognized files")
    assert(States.read(spark, d2).collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("States compact: retractions landing after the snapshot carry forward (r11 ADVICE)") {
    import graft.operators.States
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_states_late")
      .toString + "/st"
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    States.write(v1, dir)
    States.retract(Seq((2L, "b")).toDF("id", "v"), dir)
    // inject a retraction AFTER compact's sidecar snapshot but BEFORE its
    // commit, via the merge callback (which compact invokes between the
    // two): the r11 layout silently dropped it with the sidecar delete —
    // the snapshot discipline must carry it into the new generation
    States.compact(spark, dir, { df =>
      States.retract(Seq((3L, "c")).toDF("id", "v"), dir)
      df.distinct()
    })
    assert(States.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(1L),
      "a retract landing mid-compact must survive the compaction")
    // and it is applied physically by the next compact
    States.compact(spark, dir)
    assert(States.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("States compact: a late retraction that cannot be carried forward fails the compact") {
    import graft.operators.States
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_states_lost")
      .toString + "/st"
    States.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    States.retract(Seq((2L, "b")).toDF("id", "v"), dir)
    // the mid-compact retraction above, but its copy into the new
    // generation's sidecar is refused: compact fails before the new
    // generation's marker, so the old generation and its whole sidecar
    // stay live
    val e = intercept[java.io.IOException] {
      RefusingFs.withRefusal(spark.sparkContext.hadoopConfiguration,
          create = ".*/_retracted-gen-[^/]+/part-[^/]+") {
        States.compact(spark, s"refuse://$dir", { df =>
          States.retract(Seq((3L, "c")).toDF("id", "v"), s"refuse://$dir")
          df.distinct()
        })
      }
    }
    assert(e.getMessage.contains("late retraction"), e.getMessage)
    val sidecars = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_retracted-gen-")).flatMap(_.listFiles())
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(spark.read.parquet(sidecars.map(_.getPath).toIndexedSeq: _*)
      .collect().map(_.getLong(0)).contains(3L), "the late retraction was swept")
    def ids = States.read(spark, dir).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), "the failed compact published a generation without the retraction")
    States.compact(spark, dir)
    assert(ids == Set(1L), "a following compact lost the retraction")
  }
}
