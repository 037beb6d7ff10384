package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Caches, Dedup, FuzzyJoin, Par, QualityClassifier, TextAnalysis}

/** The one materialization rule ([[Par.pin]]): operators leave no Dataset
  * cache behind, a pin computes its subtree once however many concurrent
  * readers it has, [[Par.pinned]] drops its blocks, a plain scan is
  * never copied, and [[Par.iterate]] pins every round and stops where it
  * is told to.
  */
class PinSpec extends SparkSpec {

  private def sc = spark.sparkContext

  /** The checkpointed RDD a pinned frame reads. */
  private def pinRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(fail(s"not a pinned frame:\n${df.queryExecution.analyzed}"))

  test("the dedup, fuzzy, classifier and perplexity operators add no entry to the CacheManager") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val names = Seq((1L, "smith"), (2L, "smyth"), (3L, "jones")).toDF("id", "name")
    val hashes = Seq((1L, 0L), (2L, 1L), (3L, -1L)).toDF("doc_id", "phash")
    val scored = Seq((1L, "a", -300L, 3L), (2L, "a", -900L, 3L),
      (3L, "a", -600L, 3L), (4L, "b", -100L, 1L)).toDF("doc_id", "grp", "s6", "n")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "minHashLshPairs" -> (() => Dedup.minHashLshPairs(docs, "doc_id", "text")),
      "pairsWithin" -> (() => FuzzyJoin.pairsWithin(names, "id", "name", k = 1)),
      "containmentPairs" -> (() => Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.9, minShingles = 3)),
      "hammingPairs" -> (() => Dedup.hammingPairs(hashes, "doc_id", "phash", maxHamming = 2)),
      "QualityClassifier.train" -> (() => QualityClassifier.train(docs, "doc_id", "text",
        col("doc_id") % 2 === 0, nBuckets = 16, iters = 2)),
      "perplexityBuckets" -> (() =>
        TextAnalysis.perplexityBuckets(scored, "doc_id", "grp", "s6", "n")))
    val leftCaches = ops.filter { case (name, op) =>
      Caches.release(spark)
      assert(op().collect().nonEmpty, s"$name: fixture must produce rows")
      !spark.sharedState.cacheManager.isEmpty
    }.map(_._1)
    Caches.release(spark)
    assert(leftCaches.isEmpty, s"left a Dataset cache behind: ${leftCaches.mkString(", ")}")
  }

  test("a pin read by two inParallel units and by a self-join computes its subtree once") {
    val evals = sc.longAccumulator("pin_evals")
    val counted = udf((x: Long) => { evals.add(1); x })
    val p = Par.pin(spark.range(0, 200, 1, 4)
      .select(counted(col("id")).as("id"), (col("id") % 7).as("k")))
    assert(evals.sum == 200, "an eager pin computes its rows once, at creation")
    val joined = new java.util.concurrent.atomic.AtomicLong()
    val grouped = new java.util.concurrent.atomic.AtomicLong()
    Par.inParallel(
      () => joined.set(p.as("a").join(p.as("b"), "k").count()),
      () => grouped.set(p.groupBy("k").count().count()))
    assert(joined.get == (0 until 7).map { k =>
      val n = (0 until 200).count(_ % 7 == k).toLong
      n * n
    }.sum)
    assert(grouped.get == 7)
    assert(evals.sum == 200,
      s"the pinned subtree ran ${evals.sum / 200.0} times for 200 rows")
  }

  /** 100 rows (id, x = 0) over 2 partitions: the start of every iterate case. */
  private def start = spark.range(0, 100, 1, 2).select(col("id"), lit(0L).as("x"))
  private def plusOne(s: DataFrame) = s.select(col("id"), (col("x") + 1).as("x"))
  private def xs(df: DataFrame) = df.select("x").distinct().collect().map(_.getLong(0)).toSeq

  test("Par.iterate pins every round: after N rounds the plan is one pinned leaf") {
    for (n <- Seq(1, 6)) {
      val out = Par.iterate(start, n)((s, _) => plusOne(s))
      val plan = out.queryExecution.analyzed
      assert(plan.children.isEmpty && pinRdd(out).isCheckpointed,
        s"after $n rounds the plan deepened:\n$plan")
      assert(xs(out) == Seq(n.toLong))
    }
  }

  test("Par.iterate over 0 rounds returns its input and runs no job") {
    val init = start
    val r = Inspect.record(spark)(Par.iterate(init, 0)((_, _) => fail("step ran")))
    assert(r.value eq init)
    assert(r.jobs == 0, r)
  }

  test("Par.iterate ends when a step returns its input") {
    var calls = 0
    val out = Par.iterate(start, 10) { (s, round) =>
      calls += 1
      if (round <= 2) plusOne(s) else s
    }
    assert(calls == 3, "the step ran again after its fixed point")
    assert(pinRdd(out).isCheckpointed && xs(out) == Seq(2L))
  }

  test("Par.iterate stops when its probe holds and returns the last pinned round") {
    var calls = 0
    var probed: DataFrame = null
    val out = Par.iterate(start, 10, stable = Some { (prev, next) =>
      probed = next
      next.exceptAll(prev).isEmpty
    }) { (s, _) =>
      calls += 1
      s.select(col("id"), least(col("x") + 1, lit(3L)).as("x"))
    }
    // x: 1, 2, 3, then 3 again — round 4 is the first stable one
    assert(calls == 4)
    assert((out eq probed) && pinRdd(out).isCheckpointed && xs(out) == Seq(3L))
  }

  test("Par.iterate throws at its limit when the probe never holds") {
    var calls = 0
    val e = intercept[IllegalStateException] {
      Par.iterate(start, 3, stable = Some((_, _) => false)) { (s, _) =>
        calls += 1
        plusOne(s)
      }
    }
    assert(e.getMessage.contains("did not converge") && e.getMessage.contains("3"), e.getMessage)
    assert(calls == 3)
  }

  test("Par.pinned drops its blocks on success and on a thrown failure") {
    def computed = spark.range(0, 100, 1, 2).select((col("id") * 3).as("x"))
    var okId = -1
    val n = Par.pinned(computed) { p =>
      okId = pinRdd(p).id
      assert(sc.getPersistentRDDs.contains(okId))
      p.count()
    }
    assert(n == 100)
    assert(!sc.getPersistentRDDs.contains(okId), "blocks survived a finished scope")
    var failId = -1
    val e = intercept[IllegalStateException] {
      Par.pinned(computed) { p =>
        failId = pinRdd(p).id
        assert(sc.getPersistentRDDs.contains(failId))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!sc.getPersistentRDDs.contains(failId), "blocks survived a failed scope")
  }

  test("Caches.release drops the driver's broadcast values and the broadcasts stay readable") {
    import org.apache.spark.sql.GraftSqlShims.broadcastValues
    Caches.release(spark)
    val joined = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 10).as("k"))
      .join(broadcast(spark.range(0, 10).select(col("id").as("k"),
        (col("id") * 2).as("v"))), "k")
      .groupBy("v").count()
    val first = joined.collect().toSet
    assert(first.size == 10)
    assert(broadcastValues().nonEmpty, "a broadcast join keeps its relation on the driver")
    val explicit = sc.broadcast(Array(3L, 4L, 5L))
    Caches.release(spark)
    assert(broadcastValues().isEmpty, s"left on the driver: ${broadcastValues().mkString(", ")}")
    assert(joined.collect().toSet == first, "a re-run reads the join's broadcast from its pieces")
    assert(sc.parallelize(1 to 4, 2).map(_ => explicit.value.sum).collect().toSeq ==
      Seq.fill(4)(12L))
    Caches.release(spark)
  }

  test("a plain scan under a filter and a rename, and an earlier pin, pass through unpinned") {
    val dir = java.nio.file.Files.createTempDirectory("pin_scan").toString
    spark.range(0, 50).select(col("id"), (col("id") % 5).as("g"))
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
      .filter(col("g") > 1).select(col("id"), col("g").as("grp"))
    val before = sc.getPersistentRDDs.keySet
    assert(Par.pin(scan) eq scan, "a filtered, renamed file scan must pass through")
    assert(sc.getPersistentRDDs.keySet == before, "a pass-through must not materialize")
    val computed = Par.pin(scan.select((col("id") + 1).as("id")))
    assert(pinRdd(computed).isCheckpointed)
    assert(Par.pin(computed) eq computed, "an earlier pin is already a leaf")
    assert(Par.pinned(scan)(_.count()) == 30)
  }
}

/** Keeps the one-mechanism rules from eroding: nothing in the engine
  * calls `cache`, `persist` or `localCheckpoint` except [[Par]] and the
  * independent sf1 reference run, only [[Par.iterate]] pins a loop's
  * state, metadata files go through [[graft.catalog.Sidecar]], and every
  * session is built by [[GraftSession]] (`Bench` keeps its frozen config).
  */
class MaterializationLintSpec extends AnyFunSuite {

  /** `file:line: text` of every line under `roots` matching `pattern`,
    * outside the files named in `allowed`.
    */
  private def hits(roots: Seq[String], allowed: Set[String],
      pattern: scala.util.matching.Regex): Seq[String] = roots.flatMap { r =>
    val root = java.nio.file.Paths.get(r)
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          !allowed(p.getFileName.toString))
        .flatMap { p =>
          val lines = java.nio.file.Files.readAllLines(p).asScala
          lines.zipWithIndex.collect {
            case (l, i) if pattern.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
          }
        }
    } finally stream.close()
  }

  test("src/main calls no cache, persist or localCheckpoint outside Par") {
    val found = hits(Seq("src/main/scala"), Set("Par.scala", "DifferentialSf1.scala"),
      """\.cache\(\)|\.persist\(|localCheckpoint\(""".r)
    assert(found.isEmpty, "materialize through Par.pin / Par.pinned instead:\n" +
      found.mkString("\n"))
  }

  test("the rename-swap rollback and hidden-sibling names live only in Swap") {
    val found = hits(Seq("src/main/scala"), Set("Swap.scala"),
      """rename\((aside|old), |s"\.(old|staging|overwrite|dynover|rlpart|snapstage|snapcompact|morupd)-""".r)
    assert(found.isEmpty, "commit through graft.catalog.Swap instead:\n" +
      found.mkString("\n"))
  }

  test("metadata-file codecs, read loops and exclusive creates live only in Sidecar") {
    val found = hits(Seq("src/main/scala"), Set("Sidecar.scala"),
      """ObjectMapper|%04x|new Array\[Byte\]\((8192|65536)\)|copyBytes\(|create\([^)]*, *false\)""".r)
    assert(found.isEmpty, "read, write and create sidecars through graft.catalog.Sidecar:\n" +
      found.mkString("\n"))
  }

  test("only Par.iterate pins a loop's state") {
    val found = hits(Seq("src/main/scala"), Set("Par.scala"),
      """^\s*(var\s+)?\w+\s*=\s*(graft\.operators\.)?Par\.pin\(""".r)
    assert(found.isEmpty, "pin each round through Par.iterate instead:\n" +
      found.mkString("\n"))
  }

  test("sessions are built only by GraftSession (and Bench)") {
    val found = hits(Seq("src/main/scala", "src/test/scala"),
      Set("GraftSession.scala", "Bench.scala"), """SparkSession\s*\.\s*builder""".r)
    assert(found.isEmpty, "start from GraftSession.builder(cpus) instead:\n" +
      found.mkString("\n"))
  }
}
