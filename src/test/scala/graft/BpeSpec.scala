package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** BPE training equals an independent reference implementation (plain Scala,
  * written from the Sennrich et al. 2016 description) on random corpora —
  * the corpus entries are rows-only (iterative training has no SQL oracle),
  * so this equality IS the correctness evidence.
  */
class BpeSpec extends SparkSpec {

  /** Reference: word-type BPE with (count desc, left asc, right asc)
    * tie-break and greedy left-to-right non-overlapping merge application.
    */
  private def refTrain(words: Map[String, Long], m: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Vector[String]]) = {
    var seg: Map[String, Vector[String]] =
      words.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 0
    var stop = false
    while (rank < m && !stop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, syms) <- seg; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + words(w)
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        merges += ((rank, l, r, n))
        seg = seg.map { case (w, syms) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> out.toVector
        }
        rank += 1
      }
    }
    (merges.toSeq, seg)
  }

  test("trainMerges == reference BPE on a random corpus, incl. adjacent repeats") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val alphabet = "abcd"
    // words with deliberate repeated-letter runs ("aaa") to pin the greedy
    // non-overlapping merge semantics
    val vocab = (0 until 60).map { _ =>
      (0 until (2 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(4))).mkString
    } :+ "aaaa" :+ "bbbb"
    val random = (0L until 300L).map(i => (i, Seq.fill(4)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // "ab ab" runs out of pairs after its one merge, before numMerges
    assert(refTrain(Map("ab" -> 2L), m = 5)._1 == Seq((0, "a", "b", 2L)))
    for ((corpus, m) <- Seq(random -> 15, Seq((0L, "ab ab")) -> 5)) {
      val docs = corpus.toDF("doc_id", "text")

      val wordCounts = corpus.flatMap(_._2.split(" ")).groupBy(identity)
        .map { case (w, occ) => w -> occ.size.toLong }
      val (refMerges, refSeg) = refTrain(wordCounts, m)

      val got = Bpe.trainMerges(docs, "doc_id", "text", numMerges = m)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got == refMerges,
        s"merge tables differ:\n got $got\n ref $refMerges")

      // token counts under the learned segmentation
      val gotCounts = Bpe.tokenCounts(docs, "doc_id", "text", numMerges = m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val refCounts = corpus.map { case (id, text) =>
        val ws = text.split(" ").toSeq
        (id, ws.size.toLong, ws.map(w => refSeg(w).size.toLong).sum)
      }
      assert(gotCounts.toSeq == refCounts,
        "per-doc BPE token counts must match the reference segmentation")
    }
  }

  test("empty corpus: zero merges, total zero counts, no crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bpe.trainMerges(empty, "doc_id", "text", numMerges = 5).count() == 0)
    val nullOnly = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Bpe.tokenCounts(nullOnly, "doc_id", "text", numMerges = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L, 0L)))
  }

  test("tokenCounts is total: null/whitespace-only docs report zero counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, null.asInstanceOf[String]),
      (3L, "   ")).toDF("doc_id", "text")
    val out = Bpe.tokenCounts(docs, "doc_id", "text", numMerges = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), "every doc_id appears")
    assert(out(0)._2 == 5L && out(0)._3 > 0L)
    assert(out(1) == ((2L, 0L, 0L)) && out(2) == ((3L, 0L, 0L)))
  }

  test("training is deterministic and merges are well-formed") {
    val docs = graft.sources.Tables(spark, sfDir, "documents").limit(100)
    val m1 = Bpe.trainMerges(docs, "doc_id", "text", numMerges = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    val m2 = Bpe.trainMerges(docs, "doc_id", "text", numMerges = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(m1 == m2, "training must be exactly reproducible")
    assert(m1.map(_._1) == (0 until 10), "ranks are dense from 0")
    assert(m1.forall { case (_, l, r) => l.nonEmpty && r.nonEmpty })
  }
}
