package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Caches, Dedup, FuzzyJoin, Par, QualityClassifier, TextAnalysis}

/** The one materialization rule ([[Par.pin]]): operators leave no Dataset
  * cache behind, a pin computes its subtree once however many concurrent
  * readers it has, [[Par.pinned]] drops its blocks, and a plain scan is
  * never copied.
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

/** Keeps the materialization rule from eroding: nothing in the engine
  * calls `cache`, `persist` or `localCheckpoint` except [[Par]] and the
  * independent sf1 reference run.
  */
class MaterializationLintSpec extends AnyFunSuite {

  test("src/main calls no cache, persist or localCheckpoint outside Par") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val allowed = Set("Par.scala", "DifferentialSf1.scala")
    val call = """\.cache\(\)|\.persist\(|localCheckpoint\(""".r
    val stream = java.nio.file.Files.walk(root)
    val hits = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          !allowed(p.getFileName.toString))
        .flatMap { p =>
          val lines = java.nio.file.Files.readAllLines(p).asScala
          lines.zipWithIndex.collect {
            case (l, i) if call.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
          }
        }
    } finally stream.close()
    assert(hits.isEmpty, "materialize through Par.pin / Par.pinned instead:\n" +
      hits.mkString("\n"))
  }
}
