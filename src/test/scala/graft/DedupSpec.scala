package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators: recall on planted duplicates + agreement between the LSH path
  * and the exact-Jaccard oracle path over the real documents fixture.
  */
class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    // real fixture docs + planted near-duplicates (one word changed) and one
    // exact duplicate, at ids >= 100000
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val sample = base.orderBy("doc_id").limit(3).collect()
    val planted = sample.zipWithIndex.flatMap { case (r, i) =>
      val id = r.getLong(0); val t = r.getString(1)
      val words = t.split("\\s+")
      val near = (words.take(words.length - 1) :+ "zzzqx").mkString(" ")
      Seq((100000L + id, t), // exact dup
          (200000L + id, near)) // near dup (J high for long docs)
    }.toSeq
    base.unionByName(planted.toDF("doc_id", "text"))
  }

  test("exact dedup keeps one representative per normalized text") {
    val d = docs
    val kept = Dedup.exact(d, "doc_id", "text").collect().map(_.getLong(0)).toSet
    // the 3 planted exact duplicates (ids 100000+x) collapse onto their originals:
    // min(doc_id) per group ⇒ the original id is kept, the 100000+ id is not
    assert(kept.size == d.count() - 3, s"expected exactly 3 collapsed dups")
    assert(!kept.exists(id => id >= 100000L && id < 200000L),
      "exact-dup copy must never be the kept representative")
    // near-dup texts are distinct under exact dedup and must all survive
    val nearIds = d.filter(col("doc_id") >= 200000).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(nearIds.subsetOf(kept))
  }

  test("minhash LSH finds planted near-duplicates (recall) and agrees with exact jaccard") {
    val d = docs
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(d, "doc_id", "text", n = 3, numPerm = 32,
      bands = 8, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates with exact jaccard ⇒ no false positives
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // planted exact dups are J=1.0 pairs; LSH recall at J≈1 is ~certain
    val planted = exact.filter { case (a, b) => b >= 100000L && b < 200000L && b - 100000L == a }
    assert(planted.nonEmpty, "fixture should contain the planted J=1 pairs")
    assert(planted.subsetOf(lsh), s"LSH missed planted dups: ${planted.diff(lsh)}")
  }

  test("simhash blocks catch hamming<=3 pairs without false positives") {
    val d = docs
    val pairs = Dedup.simHashPairs(d, "doc_id", "text", maxHamming = 3).collect()
    pairs.foreach { r =>
      assert(r.getAs[Number](2).longValue <= 3)
      assert(r.getLong(0) < r.getLong(1))
    }
    // exact dup pairs have identical fingerprints → hamming 0, always caught
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactDups = docs.filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
      .select((col("doc_id") - 100000).as("a"), col("doc_id").as("b"))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    exactDups.foreach(p => assert(ids.contains(p), s"simhash missed exact dup $p"))
  }

  test("containmentPairs: quoted doc found at C=1, direction-sensitive, boundary inclusive") {
    import spark.implicits._
    // A (5 shingles) ⊂ B; C = A with one shingle swapped → C(C→A) = 4/5
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x a b c d e f g y z"),
      (3L, "a b c d e f q"))
      .toDF("doc_id", "text")
    val at90 = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9, minShingles = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(at90 == Set((1L, 2L, 1.0)), s"got $at90")
    // 4/5 = 0.8: the integer boundary i*10^4 >= t4*na must be INCLUSIVE
    val at80 = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, minShingles = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(at80.contains((1L, 3L, 0.8)) && at80.contains((3L, 1L, 0.8)))
    assert(at80.contains((1L, 2L, 1.0)) && !at80.contains((2L, 1L, 0.8)))
    // minShingles gates the CONTAINED side
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9, minShingles = 6).count() == 0)
  }

  test("containmentIncremental: any slicing ≡ batch pairs restricted to earlier docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (0L until 30L).map(i =>
      (i, Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val docs = corpus.toDF("doc_id", "text")
    val want = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.7, minShingles = 3)
      .filter(col("doc_b") < col("doc_a"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // three different slicings, including degenerate ones
    for (cuts <- Seq(Seq(10L, 20L), Seq(1L), Seq(15L, 16L, 17L))) {
      val bounds = (0L +: cuts) :+ 1000L
      var state = Dedup.containmentState(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
      val got = scala.collection.mutable.Set[(Long, Long, Double)]()
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        got ++= Dedup.containmentIncremental(batch, "doc_id", "text", state,
          n = 3, threshold = 0.7, minShingles = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        state = state.unionByName(
          Dedup.containmentState(batch, "doc_id", "text")).localCheckpoint()
      }
      assert(got.toSet == want, s"slicing $cuts diverged")
    }
  }

  test("containmentDedup: quotes drop, sources survive, ties keep-first, short docs total") {
    import spark.implicits._
    val big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, big),                                     // source: survives
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // strict prefix quote: dropped
      (3L, big),                                     // exact dup of 1: tie → keep-first drops it
      (4L, "totally different words live in this other document here now"),
      (5L, "tiny"))                                  // unshingleable: survives
      .toDF("doc_id", "text")
    val got = Dedup.containmentDedup(docs, "doc_id", "text",
      n = 3, threshold = 0.9, minShingles = 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L, 5L), s"got $got")
  }

  test("containmentDedup: equal-size DISTINCT sets tie-break on member ids, interleaved") {
    import spark.implicits._
    // A and B are distinct 10-shingle sets sharing 9 (containment 0.9 both
    // ways); A has members {5, 100}, B has {7}. Pair rule: 5 survives
    // (no container member below it), 7 drops (5 < 7), 100 drops (clone of
    // 5). The set-level shortcut must reproduce the member-level decision.
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 other"
    val docs = Seq((5L, a), (100L, a), (7L, b)).toDF("doc_id", "text")
    val got = Dedup.containmentDedup(docs, "doc_id", "text",
      n = 3, threshold = 0.9, minShingles = 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(5L), s"got $got")
  }

  test("containmentPairs prefix filter ≡ brute force on a generated corpus") {
    import spark.implicits._
    // word soup over a tiny vocabulary → dense shingle collisions, so the
    // candidate prefixes are genuinely stressed (many shared rare shingles)
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val base = (0L until 40L).map(i =>
      (i, Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // planted exact clones: the collapse path (one rep per distinct set,
    // fp-join re-expansion) must reproduce brute force on identical-set
    // groups too, in both directions and against outside matches
    val clones = (100L until 106L).map(i => (i, base(3)._2)) ++
      (200L until 203L).map(i => (i, base(7)._2))
    val docs = (base ++ clones).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.7, minShingles = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
      if a != b && sa.size >= 3
      i = (sa & sb).size
      if i * 10000 >= 7000 * sa.size
    } yield (a, b, math.floor(i.toDouble / sa.size * 10000) / 10000)).toSet
    assert(got == want, s"prefix filter diverged: missing ${want -- got}, extra ${got -- want}")
  }

  test("shingle-based ops survive docs shorter than the n-gram window") {
    import spark.implicits._
    // sequence(1, 0) is descending [1, 0] in Spark — an unguarded transform would
    // slice(w, 0, n) and abort the whole job on the first short doc
    val corpus = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "two words"),
      (5L, "three words here"),
      (6L, "a longer document with enough words to form shingles"),
      (7L, "a longer document with enough words to form shingles") // exact dup of 6
    ).toDF("doc_id", "text")
    assert(Dedup.shingles(corpus, "doc_id", "text", n = 3)
      .filter(col("doc_id") <= 2).count() == 0)
    val lsh = Dedup.minHashLshPairs(corpus, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((6L, 7L)), s"expected only the planted dup pair, got $lsh")
    val sketches = graft.operators.TextAnalysis.winnowingSketch(corpus, "doc_id", "text", k = 5)
    assert(sketches.filter(col("doc_id") <= 4 && size(col("sketch")) =!= 0).count() == 0)
    assert(sketches.filter(col("doc_id") === 6 && size(col("sketch")) > 0).count() == 1)
  }

  test("boilerplate clone flood collapses before banding: full within-pair recall under any cap") {
    import spark.implicits._
    // 1000 identical docs: pre-collapse, every band bucket held all 1000 and
    // the salt split dropped jaccard-1 pairs probabilistically. Post-collapse
    // they flow through signatures/banding as ONE rep, and the identical-set
    // re-expansion owes the ENTIRE C(1000,2) pair set at recall 1 — the pair
    // contract — even under a tiny maxBucket (which now caps only buckets of
    // DISTINCT near-miss shingle sets).
    val boiler = (0 until 1000).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashLshPairs(boiler, "doc_id", "text",
      n = 3, threshold = 0.8, maxBucket = 32).cache()
    val nPairs = capped.count()
    assert(nPairs == 999L * 1000L / 2, s"expected all clone pairs, got $nPairs")
    assert(capped.filter(col("jaccard") =!= 1.0).isEmpty,
      "identical sets must pair at jaccard exactly 1")
    // and the composed clustering still yields ONE component
    val cl = Dedup.clusters(capped)
    assert(cl.count() == 1000, "every doc must be clustered")
    assert(cl.select("cluster_id").distinct().count() == 1,
      "identical docs must form a single component")
    // the clique-free clustering path reaches the same single component
    // WITHOUT materializing the 499,500-pair stream
    val hc = Dedup.minHashClusters(boiler, "doc_id", "text",
      n = 3, threshold = 0.8, maxBucket = 32)
    assert(hc.count() == 1000 && hc.filter(col("cluster_id") =!= 0L).isEmpty,
      "minHashClusters must fold the flood into cluster 0")
    // fixture has no bucket wider than the default cap: pairs must be identical
    val d = docs
    def pairs(cap: Int) = Dedup.minHashLshPairs(d, "doc_id", "text",
      n = 3, threshold = 0.8, maxBucket = cap)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(256) == pairs(Int.MaxValue), "cap changed pairs on an unskewed corpus")
  }

  test("minHashClusters ≡ clusters∘minHashLshPairs labels, plus singleton self-labels") {
    val d = docs
    val viaPairs = Dedup.clusters(
      Dedup.minHashLshPairs(d, "doc_id", "text", n = 3, threshold = 0.8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Dedup.minHashClusters(d, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pair-path labels must agree exactly on the clustered docs...
    viaPairs.foreach { case (id, label) =>
      assert(direct.get(id).contains(label), s"label mismatch for $id")
    }
    // ...and the direct path additionally self-labels every unpaired doc
    val unpaired = direct.keySet -- viaPairs.keySet
    assert(unpaired.nonEmpty, "fixture must contain singleton docs")
    unpaired.foreach(id => assert(direct(id) == id, s"singleton $id must self-label"))
  }

  test("string doc ids flow through dedup operators (no silent long coercion)") {
    import spark.implicits._
    val corpus = Seq(
      ("doc-a", "the quick brown fox jumps over the lazy dog today"),
      ("doc-b", "the quick brown fox jumps over the lazy dog today"), // dup of a
      ("doc-c", "completely different text about spark query engines here")
    ).toDF("doc_id", "text")
    val kept = Dedup.exact(corpus, "doc_id", "text")
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("doc-a", "doc-c"), s"got $kept")
    val pairs = Dedup.minHashLshPairs(corpus, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("doc-a", "doc-b")), s"got $pairs")
  }

  test("clusters refuses a null doc id instead of folding it into a self-pair") {
    import spark.implicits._
    // greatest/least would turn (2, null) into the self-pair (2, 2) and the
    // null side would drop out of the components without a trace
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val e = intercept[Exception](Dedup.clusters(pairs).collect())
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(messages.contains("'doc_b'") && messages.contains("null doc id"),
      s"unexpected failure chain:\n$messages")
  }

  test("LSH-blocked embedding dedup: no false positives, recall >= 0.9 vs exact") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.embeddingPairs(emb, "vec_id", "embedding",
      threshold = 0.4, exact = true))
    val ann = pairSet(Dedup.embeddingPairs(emb, "vec_id", "embedding", threshold = 0.4))
    assert(exact.nonEmpty, "fixture must contain exact pairs at threshold 0.4")
    assert(ann.subsetOf(exact), s"ANN false positives: ${ann.diff(exact)}")
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.9, s"ANN recall $recall < 0.9 (${ann.size}/${exact.size})")
  }

  test("hot-bucket salts: capped LSH pairs ⊆ uncapped, clone-pair losses pinned; the bipartite probe loses nothing") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    // three clones of each of three fixture vectors: every band bucket of a
    // clone group holds at least 4 rows, above maxBucket = 2, so it is salted
    val clones = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .crossJoin(spark.range(1, 4).toDF("k"))
      .select((col("vec_id") + col("k") * 1000000L).as("vec_id"), col("embedding"))
    val all = emb.unionByName(clones)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val unbounded = pairs(Dedup.embeddingPairs(all, "vec_id", "embedding", 0.9,
      maxBucket = 1 << 20)).toSet
    val capped = pairs(Dedup.embeddingPairs(all, "vec_id", "embedding", 0.9,
      maxBucket = 2)).toSet
    val identical = (1L to 3L).flatMap { g =>
      (g +: (1L to 3L).map(g + _ * 1000000L)).combinations(2).map(c => (c.min, c.max))
    }.toSet
    assert(identical.subsetOf(unbounded))
    assert(capped.subsetOf(unbounded), s"capped-only pairs: ${capped.diff(unbounded)}")
    // the self-join salts each band independently, so an identical pair is
    // lost only when its two rows get different salts in every band. The
    // salts are fixed hashes, pmod(xxhash64(band, vec_id), nsplit): under
    // this cap exactly one of the 18 clone pairs never shares a salt, and
    // pinning which one pins the salt arithmetic
    assert(identical.diff(capped) == Set((2000002L, 3000002L)))
    // bipartite salting replicates the probe side instead of splitting it:
    // the capped pair stream, band multiplicity included, is the uncapped one
    val left = all.filter(col("vec_id") % 2 === 1)
    def between(maxBucket: Int) = pairs(Dedup.embeddingPairsBetween(
      left, all, "vec_id", "embedding", 0.9, maxBucket))
    val exact = between(1 << 20)
    assert(exact.toSet.intersect(identical).nonEmpty)
    assert(between(2) == exact)
    graft.operators.Caches.release(spark)
  }

  test("exactIncremental: drops seen fingerprints, keeps batch-first occurrence") {
    import spark.implicits._
    val history = Seq((1L, "already ingested doc"), (2L, "another old doc"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "ALREADY   ingested doc"), // dup of history doc 1 modulo normalization
      (101L, "brand new doc"),
      (102L, "brand new doc"), // batch-internal dup of 101
      (103L, "second new doc")
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.exactIncremental(batch, "doc_id", "text",
      graft.operators.TextAnalysis.fingerprint(history, "doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L, 103L), s"got $kept")
  }

  test("embedding dedup finds self-similar planted vector") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val one = emb.filter(col("vec_id") === 1).collect().head
    val planted = Seq((900000L, one.getSeq[Float](1).toArray)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(emb.unionByName(planted), "vec_id", "embedding",
      threshold = 0.999)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(found.contains((1L, 900000L)), s"identical vector pair missing: ${found.toSeq}")
  }
}
