package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Caches, Dedup, FuzzyJoin}

/** The Caches.release contract: in a session that runs several corpora
  * through the pinning operators (minHashLshPairs, pairsWithin,
  * containmentPairs), no block an operator materialized outlives the
  * release that follows its result's consumption — and the operators stay
  * correct on the corpus AFTER a release. Every such block is a pin
  * ([[graft.operators.Par.pin]], a local checkpoint), so the check counts
  * checkpointed RDDs: a pin that survives a release is a leak.
  *
  * Assertions are DELTA-based (ids created by this test's own action, not a
  * global zero-count): the session is shared across suites, so blocks that
  * other suites left may exist at any moment.
  */
class CacheHygieneSpec extends SparkSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `op`'s action, release, and return the operator-created block ids
    * (pins or caches) that survived the release.
    */
  private def leakAfterRelease(op: => DataFrame)(check: Array[org.apache.spark.sql.Row] => Unit): Set[Int] = {
    val before = persistentIds
    check(op.collect())
    val created = persistentIds -- before
    assert(created.nonEmpty,
      "fixture must actually materialize operator-internal pins")
    Caches.release(spark)
    persistentIds.intersect(created)
  }

  test("no cached block outlives its operator call across a two-corpus session") {
    import spark.implicits._
    val corpusA = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val corpusB = Seq(
      (10L, "red orange yellow green blue indigo"),
      (11L, "red orange yellow green blue indigo"),
      (12L, "unrelated words entirely here now yes")).toDF("doc_id", "text")

    val leakA = leakAfterRelease(Dedup.minHashLshPairs(corpusA, "doc_id", "text")) { rows =>
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    }
    assert(leakA.isEmpty, s"corpus A cached blocks survived release: $leakA")

    // corpus B after the release: correct, and its caches release too
    val leakB = leakAfterRelease(Dedup.minHashLshPairs(corpusB, "doc_id", "text")) { rows =>
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)))
    }
    assert(leakB.isEmpty, s"corpus B cached blocks survived release: $leakB")
  }

  test("fuzzy pairsWithin caches release and the operator survives re-use") {
    import spark.implicits._
    val names = Seq((1L, "smith"), (2L, "smyth"), (3L, "jones"))
      .toDF("id", "name")
    // k = 3 takes the segment path, which pins the distinct strings (the
    // k <= 2 variant path materializes nothing, so it has nothing to leak)
    val leak1 = leakAfterRelease(FuzzyJoin.pairsWithin(names, "id", "name", k = 3)) { rows =>
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    }
    assert(leak1.isEmpty, s"cached blocks survived release: $leak1")
    // the same operator again post-release (a fresh plan, fresh caches)
    val leak2 = leakAfterRelease(FuzzyJoin.pairsWithin(names, "id", "name", k = 3)) { rows =>
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    }
    assert(leak2.isEmpty, s"cached blocks survived release: $leak2")
  }

  test("containment rep-core caches release under the same contract") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val leak = leakAfterRelease(Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9, minShingles = 3)) { rows =>
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      // identical sets both ways; the strict-prefix quote into both clones
      assert(pairs == Set((1L, 2L), (2L, 1L), (3L, 1L), (3L, 2L)), pairs.toString)
    }
    assert(leak.isEmpty, s"containment cached blocks survived release: $leak")
  }
}
