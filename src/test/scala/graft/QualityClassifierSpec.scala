package graft

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.functions._

import graft.operators.QualityClassifier

/** The trained classifier vs an INDEPENDENT plain-Scala implementation of the
  * same spec (hashed word presence, full-batch GD, 6dp decimal model state),
  * plus a does-it-actually-learn check.
  */
class QualityClassifierSpec extends SparkSpec {

  private val nBuckets = 64
  private val iters = 3
  private val lr = 0.5

  // deterministic toy corpus: "good" docs share quality words, "bad" docs
  // share junk words, some overlap so the problem is not trivially separable
  private val corpus: Seq[(Long, String, Int)] = (0L until 40L).map { i =>
    if (i % 2 == 0)
      (i, s"clear thorough prose with citations item$i shared filler words", 1)
    else
      (i, s"click here buy now spam spam item$i shared filler words", 0)
  }

  /** Independent reference: plain-Scala 1e-6 fixed-point Long arithmetic
    * with the algebraic sigmoid 0.5 + z/(2(1+|z|)) — the libm-free spec the
    * engine must match bit-for-bit (round 8 proved round(exp()) inherits the
    * comparison engine's libm, so the contract is now transcendental-free).
    * Long `/` truncates toward zero, applied to non-negative operands only —
    * the same floor semantics as Spark `div` and DuckDB `//`.
    */
  private def reference(): (Map[Long, JBigDecimal], JBigDecimal) = {
    def bucket(w: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % nBuckets
    }
    val feats: Map[Long, Set[Long]] = corpus.map { case (id, text, _) =>
      id -> text.toLowerCase.split("\\s+").filter(_.nonEmpty).map(bucket).toSet
    }.toMap
    val ys: Map[Long, Long] = corpus.map(t => t._1 -> t._3.toLong * 1000000L).toMap
    val n = corpus.size.toLong
    val lr6 = math.rint(lr * 1e6).toLong
    def sig6(z6: Long): Long =
      500000L + (if (z6 < 0) -1L else 1L) *
        ((math.abs(z6) * 1000000L) / (2000000L + 2L * math.abs(z6)))
    def step6(g6: Long): Long =
      (if (g6 < 0) -1L else 1L) * ((math.abs(g6) * lr6) / (n * 1000000L))
    var w = (0L until nBuckets.toLong).map(_ -> 0L).toMap
    var b = 0L
    for (_ <- 1 to iters) {
      val errs: Map[Long, Long] = corpus.map { case (id, _, _) =>
        val z6 = feats(id).foldLeft(b)((acc, f) => acc + w(f))
        id -> (sig6(z6) - ys(id))
      }.toMap
      val grad: Map[Long, Long] = errs.toSeq
        .flatMap { case (id, e) => feats(id).map(_ -> e) }
        .groupBy(_._1)
        .view.mapValues(_.map(_._2).sum).toMap
      w = w.map { case (f, wf) => f -> (wf - step6(grad.getOrElse(f, 0L))) }
      b -= step6(errs.values.sum)
    }
    (w.view.mapValues(JBigDecimal.valueOf(_, 6)).toMap,
      JBigDecimal.valueOf(b, 6))
  }

  test("train matches the independent reference weight for weight") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text", "y")
    val model = QualityClassifier.train(docs, "doc_id", "text", col("y"),
      nBuckets = nBuckets, iters = iters, lr = lr)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val (refW, refB) = reference()
    assert(model(-1L).compareTo(refB) == 0,
      s"bias: got ${model(-1L)}, ref $refB")
    for (f <- 0L until nBuckets.toLong)
      assert(model(f).compareTo(refW(f)) == 0,
        s"w[$f]: got ${model(f)}, ref ${refW(f)}")
    graft.operators.Caches.release(spark)
  }

  test("the trained model separates the planted signal") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text", "y")
    val scored = QualityClassifier.trainAndScore(docs, "doc_id", "text",
      col("y"), nBuckets = nBuckets, iters = iters, lr = lr)
      .join(docs.select(col("doc_id"), col("y")), "doc_id")
      .select(col("y"), col("pred").cast("int").as("p"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val acc = scored.count { case (y, p) => y == p }.toDouble / scored.length
    assert(acc >= 0.9, s"3 GD iterations must learn the planted signal, acc=$acc")
    graft.operators.Caches.release(spark)
  }

  test("word-bigram features separate order-dependent labels unigrams cannot") {
    import spark.implicits._
    // both classes have IDENTICAL word multisets — only adjacency differs —
    // so unigram presence features give every doc the same score, while
    // bigram features ("good not" vs "bad not") separate them
    val docs = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "the meal was good not bad overall we think", 1)
      else (i, "the meal was bad not good overall we think", 0)
    }.toDF("doc_id", "text", "y")
    def accuracy(bigrams: Boolean): Double = {
      val scored = QualityClassifier.trainAndScore(docs, "doc_id", "text",
        col("y"), nBuckets = nBuckets, iters = iters, lr = lr,
        wordBigrams = bigrams)
        .join(docs.select(col("doc_id"), col("y")), "doc_id")
        .select(col("y"), col("pred").cast("int").as("p"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      graft.operators.Caches.release(spark)
      scored.count { case (y, p) => y == p }.toDouble / scored.length
    }
    assert(accuracy(bigrams = false) <= 0.6,
      "unigram features must NOT separate an order-only signal")
    assert(accuracy(bigrams = true) >= 0.9,
      "bigram features must separate the order signal")
  }

  test("evaluate: exact confusion counts and floor-quantized metrics on a planted grid") {
    import spark.implicits._
    val scored = Seq(
      (1L, 400000L, 1), (2L, 100000L, 1),
      (3L, -200000L, 1), (4L, 300000L, 0),
      (5L, -100000L, 0), (6L, -400000L, 0))
      .toDF("doc_id", "score_e6", "y")
    val out = QualityClassifier.evaluate(scored, "score_e6", col("y"),
      thresholds = Seq(0.0, 0.25))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 250000L))
    // t=0: pred+ = {0.4, 0.1, 0.3} → tp=2 fp=1 fn=1 tn=2; P=R=F1=2/3→0.6666
    val t0 = out(0L)
    assert((t0.getLong(1), t0.getLong(2), t0.getLong(3), t0.getLong(4))
      == ((2L, 1L, 1L, 2L)))
    assert(t0.getDouble(5) == 0.6666 && t0.getDouble(6) == 0.6666
      && t0.getDouble(7) == 0.6666)
    // t=0.25: pred+ = {0.4, 0.3} → tp=1 fp=1 fn=2 tn=2;
    // P=0.5, R=1/3→0.3333, F1=2/(2+1+2)=0.4
    val t1 = out(250000L)
    assert((t1.getLong(1), t1.getLong(2), t1.getLong(3), t1.getLong(4))
      == ((1L, 1L, 2L, 2L)))
    assert(t1.getDouble(5) == 0.5 && t1.getDouble(6) == 0.3333
      && t1.getDouble(7) == 0.4)
  }

  test("calibration: sigmoid bins, counts, and floor means match hand arithmetic") {
    import spark.implicits._
    // z6=0 → p6=500000 (bin 5); z6=±1e6 → p6 = 500000 ± (1e12 div 4e6) =
    // 750000 / 250000 (bins 7 / 2) — the algebraic sigmoid by hand
    val scored = Seq(
      (1L, 0L, 1), (2L, 1000000L, 1),
      (3L, -1000000L, 0), (4L, 1000000L, 0))
      .toDF("doc_id", "score_e6", "y")
    val out = QualityClassifier.calibration(scored, "score_e6", col("y"), nBins = 10)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(2, 5, 7))
    assert(out(5) == ((1L, 1L, 500000L, 1.0)))
    assert(out(7) == ((2L, 1L, 750000L, 0.5)))
    assert(out(2) == ((1L, 0L, 250000L, 0.0)))
  }

  test("auc: tie-aware Mann-Whitney by hand; empty-class convention") {
    import spark.implicits._
    // P=2, N=2; pos pairs won: .8 beats both negs (2), .5 beats .2 (1) and
    // ties .5 (½) → U = 3.5, u2 = 7, AUC = floor(7e6/8)/1e6 = 0.875
    val scored = Seq(
      (500000L, 1), (500000L, 0),
      (200000L, 0), (800000L, 1))
      .toDF("score_e6", "y")
    val r = QualityClassifier.auc(scored, "score_e6", col("y")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 7L)
    assert(r.getDouble(3) == 0.875)
    // perfect separation → AUC exactly 1; one-class holdout → 0.0
    val sep = Seq((2000000L, 1), (-2000000L, 0))
      .toDF("score_e6", "y")
    assert(QualityClassifier.auc(sep, "score_e6", col("y")).head().getDouble(3) == 1.0)
    val onecls = Seq((2000000L, 1)).toDF("score_e6", "y")
    val r1 = QualityClassifier.auc(onecls, "score_e6", col("y")).head()
    assert(r1.getLong(1) == 0L && r1.getDouble(3) == 0.0)
  }

  test("auc over >= 300 distinct scores == a tie-aware plain-Scala Mann-Whitney") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    // z6 drawn so the quantized sigmoid p6 = 5e5 ± s lands near-uniformly
    // on (20000, 980000): s uniform, z6 = ±2e6·s div (1e6 − 2s)
    val fresh = Seq.fill(360) {
      val s = rnd.nextInt(480000).toLong
      ((if (rnd.nextBoolean()) 1L else -1L) * (2000000L * s / (1000000L - 2L * s)),
        rnd.nextInt(2))
    }
    // exact ties (repeated scores, fresh labels) and null scores, which rank
    // below every score as in an ascending window
    val scored: Seq[(Option[Long], Int)] =
      (fresh ++ fresh.take(60).map { case (z, _) => (z, rnd.nextInt(2)) })
        .map { case (z, y) => (Option(z), y) } ++ Seq((None, 1), (None, 0))
    def p6(z: Long): Long = 500000L + (if (z < 0) -1L else 1L) *
      (math.abs(z) * 1000000L / (2000000L + 2L * math.abs(z)))
    val ps = scored.map { case (z, y) => (z.map(p6), y) }
    assert(ps.flatMap(_._1).distinct.size >= 300)
    val pos = ps.filter(_._2 == 1).map(_._1)
    val neg = ps.filter(_._2 == 0).map(_._1)
    val u2 = (for (p <- pos; n <- neg) yield
      math.signum(Ordering[Option[Long]].compare(p, n)) + 1L).sum
    val r = QualityClassifier.auc(scored.toDF("score_e6", "y"), "score_e6", col("y")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((pos.size.toLong, neg.size.toLong, u2)))
    assert(r.getDouble(3) == (u2 * 1000000L / (2L * pos.size * neg.size)) / 1000000.0)
  }

  test("auc: the trained split model actually ranks (planted signal)") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text", "y")
    val scored = QualityClassifier.trainAndScore(docs, "doc_id", "text",
      col("y"), nBuckets = nBuckets, iters = iters, lr = lr)
    val a = QualityClassifier.auc(
      scored.join(docs.select(col("doc_id"), col("y")), "doc_id"),
      "score_e6", col("y")).head().getDouble(3)
    assert(a > 0.95, s"planted-signal AUC only $a")
    graft.operators.Caches.release(spark)
  }

  test("empty-text docs score the bias alone and survive") {
    import spark.implicits._
    val docs = (corpus :+ ((99L, "", 1))).toDF("doc_id", "text", "y")
    val scored = QualityClassifier.trainAndScore(docs, "doc_id", "text",
      col("y"), nBuckets = nBuckets, iters = iters, lr = lr)
    assert(scored.count() == corpus.size + 1)
    graft.operators.Caches.release(spark)
  }
}
