package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Plan-shape assertions — the scale story (SURVEY.md §4): filters and column
  * pruning must reach the parquet scan, count(*) must collapse to footer counts,
  * small join sides must broadcast, catalog tables must report row-count
  * statistics for the CBO, and partitioned fact tables must get dynamic
  * partition pruning. At 100 TB these are the difference between reading
  * megabytes and reading everything.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  /** Executed plans of every query `f` runs, in order — for operators that
    * collect or checkpoint a stage internally, so the frame they return no
    * longer shows it. Listener delivery is asynchronous; a marker query run
    * last tells when every earlier plan has arrived.
    */
  private def plansRunBy(f: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val mark = s"plans_marker_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).select(lit(mark)).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!plans.asScala.exists(_.contains(mark)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq.filterNot(_.contains(mark))
  }

  /** Build plans with [[graft.operators.Par.spread]] disabled. The
    * narrow-pass tests below pin the AT-SCALE plan shape, where the spread
    * gate is a no-op (inputs past the size threshold); on the tiny test
    * fixtures the gate fires and inserts its repartition by design. The
    * dedicated spread test pins the gate's own behavior.
    */
  private def noSpread[A](f: => A): A = {
    spark.conf.set("graft.spread.max_bytes", "0")
    try f finally spark.conf.unset("graft.spread.max_bytes")
  }

  test("predicate pushdown reaches the parquet scan (catalog path)") {
    val df = spark.sql(
      "SELECT l_orderkey FROM graft.main.lineitem WHERE l_quantity > 49 AND l_shipdate IS NOT NULL")
    val plan = executedPlan(df)
    assert(plan.contains("PushedFilters:") &&
      plan.replaceAll("\\s", "").contains("GreaterThan(l_quantity,49"),
      s"filter not pushed:\n$plan")
  }

  test("column pruning: scan reads only projected+filtered columns") {
    val df = spark.sql("SELECT l_orderkey, l_linenumber FROM graft.main.lineitem")
    val plan = executedPlan(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_linenumber"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("count(*) collapses to footer-count aggregate pushdown") {
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val df = spark.sql("SELECT count(*) FROM graft.main.lineitem")
    val plan = executedPlan(df)
    assert(plan.contains("PushedAggregation: [COUNT(*)]"),
      s"count(*) not pushed to parquet footers:\n$plan")
    val n = df.collect().head.getLong(0)
    val expected = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(n == expected)
  }

  test("min/max collapse to footer-statistics aggregate pushdown (S7)") {
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val df = spark.sql(
      "SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM graft.main.lineitem")
    val plan = executedPlan(df)
    assert(plan.contains("PushedAggregation: [MIN(l_orderkey), MAX(l_orderkey)]"),
      s"min/max not pushed to parquet footer statistics:\n$plan")
    val row = df.collect().head
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(min("l_orderkey"), max("l_orderkey")).collect().head
    assert(row.getLong(0) == raw.getLong(0) && row.getLong(1) == raw.getLong(1))
  }

  test("pushdown deny list keeps predicates engine-side (P9)") {
    spark.conf.set("graft.pushdown.deny", "l_quantity")
    try {
      val df = spark.sql(
        "SELECT l_orderkey FROM graft.main.lineitem WHERE l_quantity > 49")
      val plan = executedPlan(df)
      assert(!plan.replaceAll("\\s", "").contains("GreaterThan(l_quantity"),
        s"denied predicate was pushed:\n$plan")
      // correctness unchanged: residual filter still applies
      val n = df.count()
      val expected = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_quantity") > 49).count()
      assert(n == expected)
    } finally spark.conf.unset("graft.pushdown.deny")
  }

  test("equality-pushdown allow list (P9): unset=push all, empty=push none, listed=only those") {
    val q = "SELECT o_orderkey FROM graft.main.orders " +
      "WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 0"
    // unset: equality pushes as before
    assert(executedPlan(spark.sql(q)).replaceAll("\\s", "")
      .contains("EqualTo(o_orderpriority"))
    try {
      // set-but-empty: NO equality predicate reaches the scan
      spark.conf.set("graft.pushdown.eq_allow", "")
      val none = executedPlan(spark.sql(q)).replaceAll("\\s", "")
      assert(!none.contains("EqualTo(o_orderpriority"),
        s"empty allow list must hold equality predicates:\n$none")
      assert(none.contains("GreaterThan(o_totalprice"),
        s"allow list must not affect non-equality predicates:\n$none")
      // correctness unchanged: held predicate evaluates engine-side
      assert(spark.sql(q).count() ==
        spark.read.parquet(s"$sfDir/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT").count())
      // listed column: its equality pushes again
      spark.conf.set("graft.pushdown.eq_allow", "o_orderpriority")
      assert(executedPlan(spark.sql(q)).replaceAll("\\s", "")
        .contains("EqualTo(o_orderpriority"))
    } finally spark.conf.unset("graft.pushdown.eq_allow")
  }

  test("small dimension side broadcasts in a fact-dim join") {
    val df = spark.sql(
      """SELECT n_name, count(*) AS n FROM graft.main.customer c
        |JOIN graft.main.nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name""".stripMargin)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"dim join did not broadcast:\n$plan")
  }

  test("stats drive plan-time broadcast choice before AQE runs (M9 payoff)") {
    // with footer row counts reported, the planner picks BroadcastHashJoin at
    // plan time — the decision the reference feeds with rowCount+dataSize
    // (trino/RecordServiceMetadata.java:504-537) — rather than discovering it
    // at runtime via AQE
    val df = spark.sql(
      """SELECT c.c_custkey, n.n_name FROM graft.main.customer c
        |JOIN graft.main.nation n ON c.c_nationkey = n.n_nationkey""".stripMargin)
    val initial = df.queryExecution.sparkPlan.toString // pre-AQE physical plan
    assert(initial.contains("BroadcastHashJoin"),
      s"plan-time broadcast missing (stats not consumed):\n$initial")
  }

  test("catalog tables report footer-exact row counts to the CBO (M9)") {
    val df = spark.table("graft.main.lineitem")
    val stats = df.queryExecution.optimizedPlan.stats
    val actual = df.count()
    assert(stats.rowCount.isDefined, "no rowCount statistic reported")
    assert(stats.rowCount.get.toLong == actual,
      s"stats rowCount ${stats.rowCount.get} != $actual")
    assert(stats.sizeInBytes > 0)
  }

  test("stats_mode=none suppresses row-count statistics (X1)") {
    spark.conf.set(graft.plans.SessionProps.StatsModeKey, "none")
    try {
      val df = spark.table("graft.main.orders")
      assert(df.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
        "stats_mode=none must suppress the footer row count")
    } finally spark.conf.unset(graft.plans.SessionProps.StatsModeKey)
    // and the default mode restores it
    val df2 = spark.table("graft.main.orders")
    assert(df2.queryExecution.optimizedPlan.stats.rowCount.isDefined)
  }

  test("dynamic partition pruning fires on a partitioned fact table") {
    val dir = Files.createTempDirectory("graft-dpp").toFile.getAbsolutePath
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    orders.withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("orders_part")
    spark.sql("SELECT 1995 AS y UNION ALL SELECT 1996").createOrReplaceTempView("dim_years")
    val df = spark.sql(
      """SELECT count(*) FROM orders_part f JOIN dim_years d ON f.o_year = d.y
        |WHERE d.y = 1995""".stripMargin)
    val planned = df.queryExecution.executedPlan.toString
    val hasPruning = planned.contains("dynamicpruning") ||
      planned.contains("PartitionFilters: [isnotnull(o_year") ||
      planned.contains("o_year#") // static pruning via pushed literal is also acceptable
    assert(hasPruning, s"no partition pruning evidence:\n$planned")
    assert(df.collect().head.getLong(0) ==
      orders.filter(year(col("o_orderdate")) === 1995).count())
    spark.catalog.dropTempView("orders_part")
    spark.catalog.dropTempView("dim_years")
  }

  test("dynamic partition pruning reaches graft catalog (v2) scans (J12)") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft-dpp-cat").toFile.getAbsolutePath
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    orders.withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$dir/orders_part")
    spark.conf.set("spark.sql.catalog.graft_dpp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dpp.dir", dir)

    // unit level: a runtime In-filter on the partition column must shrink the
    // planned input splits (Spark 4's v2 FileScan has no runtime-filtering
    // mixin of its own — this is GraftStatsScan's contribution)
    val cat = spark.sessionState.catalogManager.catalog("graft_dpp")
      .asInstanceOf[TableCatalog]
    val tbl = cat.loadTable(Identifier.of(Array("main"), "orders_part"))
    def splits(rt: Option[org.apache.spark.sql.sources.Filter]): Int = {
      val scan = tbl.asInstanceOf[SupportsRead]
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      rt.foreach(f =>
        scan.asInstanceOf[SupportsRuntimeFiltering].filter(Array(f)))
      scan.toBatch.planInputPartitions().length
    }
    val all = splits(None)
    val pruned = splits(Some(org.apache.spark.sql.sources.In("o_year", Array(1995))))
    assert(pruned < all, s"runtime filter did not prune splits: $pruned vs $all")

    // plan level: the planner inserts a DPP subquery against the v2 scan when
    // the dim-side filter is not statically inferable on the join key — the
    // dim must come from storage, or constant folding turns this into static
    // pruning and no runtime filter is ever needed
    import spark.implicits._
    Seq((1995, "x"), (1996, "yy")).toDF("y", "nm")
      .write.mode("overwrite").parquet(s"$dir/dim_y")
    spark.read.parquet(s"$dir/dim_y").createOrReplaceTempView("dim_y")
    val df = spark.sql(
      """SELECT count(*) FROM graft_dpp.main.orders_part f
        |JOIN dim_y d ON f.o_year = d.y WHERE d.nm = 'x'""".stripMargin)
    assert(df.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      s"no DPP subquery on the v2 scan:\n${df.queryExecution.executedPlan}")
    assert(df.collect().head.getLong(0) ==
      orders.filter(year(col("o_orderdate")) === 1995).count())
    spark.catalog.dropTempView("dim_y")
  }

  test("top-k per group triggers the WindowGroupLimit optimization") {
    // rn <= 3 over a ranked window must prune per-group rows before the full
    // window evaluation — at scale this caps the sort input per partition
    val df = spark.sql(
      """SELECT * FROM (
        |  SELECT c_nationkey, c_custkey,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM graft.main.customer) WHERE rn <= 3""".stripMargin)
    val plan = executedPlan(df)
    assert(plan.contains("WindowGroupLimit"),
      s"window top-k not optimized:\n$plan")

    // the operators' per-query top-k keeps the shape, also when no join
    // side is small enough to broadcast on its own
    import spark.implicits._
    import graft.operators.{Semantic, Similarity, TextAnalysis}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = graft.sources.Tables(spark, sfDir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      val dir = Files.createTempDirectory("plan_ivfpq").toString + "/idx"
      Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
      val qs = Seq(("q1", "data join"), ("q2", "slow table")).toDF("query_id", "qtext")
      val ops = Seq(
        "pqTopKBatch" -> Seq(executedPlan(Semantic.pqTopKBatch(emb, "vec_id",
          "embedding", queries, "vec_id", "embedding", k = 10))),
        "ivfPqProbeBatch" -> Seq(executedPlan(Similarity.ivfPqProbeBatch(spark, dir,
          queries, "vec_id", "embedding", k = 10, nprobe = 4))),
        "bm25ScoreBatch" -> Seq(executedPlan(TextAnalysis.bm25ScoreBatch(
          graft.sources.Tables(spark, sfDir, "documents"), "doc_id", "text",
          qs, "query_id", "qtext", k = 5))),
        // the candidate pools rank in a plan the operator collects inside
        "mmrTopKBatch" -> plansRunBy(Similarity.mmrTopKBatch(emb, "vec_id",
          "embedding", queries.select(col("vec_id"), col("embedding").as("qv")),
          "vec_id", "qv", k = 3, poolSize = 10)))
      for ((label, plans) <- ops)
        assert(plans.exists(_.contains("WindowGroupLimit")),
          s"$label top-k not optimized:\n${plans.mkString("\n")}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("curation pipeline plans one narrow pass + one dedup shuffle, no joins") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Pipelines.curate(docs, "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"curate must not self-join the corpus:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly the dedup shuffle, got $shuffles:\n$plan")
  }

  test("as-of join plans exactly one shuffle and no join explosion") {
    val events = graft.sources.Tables(spark, sfDir, "events")
    val orders = graft.sources.Tables(spark, sfDir, "orders")
    val out = graft.operators.AsOfJoin.backward(events, orders,
      "user_id", "o_custkey", "ts", "o_orderdate",
      Seq("o_orderkey", "o_totalprice"), "o_orderkey")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoop"),
      s"as-of must not plan a join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 shuffle, got $shuffles:\n$plan")
  }

  test("nearest as-of still plans one shuffle: both window frames share the partitioning") {
    val events = graft.sources.Tables(spark, sfDir, "events")
    val orders = graft.sources.Tables(spark, sfDir, "orders")
    val out = graft.operators.AsOfJoin.nearest(events, orders,
      "user_id", "o_custkey", "ts", "o_orderdate",
      Seq("o_orderkey", "o_totalprice"), "o_orderkey")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoop"),
      s"nearest as-of must not plan a join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"backward+forward windows must reuse one exchange, got $shuffles:\n$plan")
  }

  test("sequence packing plans exactly one shuffle (shard exchange + window)") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Pipelines.packSequences(docs, "doc_id", "text",
      maxTokens = 512, shards = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"packing must not join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly the shard shuffle, got $shuffles:\n$plan")
  }

  test("line dedup default (aggregate counts): no WindowExec sort; counts broadcast back") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Pipelines.dedupLines(
      graft.operators.TextAnalysis.toLines(docs, "doc_id", "text", k = 10),
      "doc_id", "text", minCount = 2)
    // the default path must never sort m duplicate copies of a line inside one
    // reducer — that is the window path's failure mode on extreme-dup corpora
    val plan = executedPlan(out)
    assert(!plan.contains("Window"), s"default line dedup must not sort in a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"combiner-compressed line counts must broadcast back to the line stream:\n$plan")
  }

  test("line dedup window path plans exactly two shuffles (line window + doc reassembly), no join") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Pipelines.dedupLines(
      graft.operators.TextAnalysis.toLines(docs, "doc_id", "text", k = 10),
      "doc_id", "text", minCount = 2, aggregateCounts = false)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"line dedup must not self-join the corpus:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 2, s"expected line + doc exchanges only, got $shuffles:\n$plan")
  }

  test("decontamination broadcasts the eval shingle set; corpus side never sort-merges") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Pipelines.decontaminate(
      docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 3, minHits = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus side must not sort-merge:\n$plan")
  }

  test("unigram LM scoring: model broadcasts to the corpus, no sort-merge join") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text", topV = 20)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"scoring must not sort-merge:\n$plan")
  }

  test("semantic dedup: no cross-cell comparison — every join keys on the cell or the id") {
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    var out: org.apache.spark.sql.DataFrame = null
    // the k seeds are collected while the operator builds its plan
    val draws = plansRunBy {
      out = graft.operators.Semantic.semanticDedup(emb, "vec_id", "embedding",
        k = 16, threshold = 0.9)
    }
    val plan = out.queryExecution.executedPlan.toString
    // the pairwise stage must be an EQUALITY join on the cell key — that is
    // the SemDeDup containment guarantee bounding candidates at Σ cell² —
    // and the seed assignment is a compiled projection against the
    // collected seeds, so nothing may nested-loop
    assert(!plan.contains("CartesianProduct"), s"no cartesian stage:\n$plan")
    assert(!plan.contains("NestedLoop"), s"no nested-loop join:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(plan).isDefined,
      s"within-cell prune must hash/merge-join on the cell key:\n$plan")
    // seed selection is a global top-k (TakeOrdered), not a full sort
    assert(draws.exists(_.contains("TakeOrderedAndProject")),
      s"seed pick must be top-k, not a global sort:\n${draws.mkString("\n")}")
  }

  test("vector kernels: no interpreted lambdas, no vec_id exchange before the codes or cells") {
    // ROADMAP item 4's bar, at the at-scale plan shape (no size-based
    // broadcast): distance, encode and score projections are compiled
    // kernels, and every vector's code or cell comes out of a map-side
    // projection instead of a (vector × seed) pair stream re-aggregated
    // by vec_id
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = graft.sources.Tables(spark, sfDir, "embeddings")
      val dir = Files.createTempDirectory("plan_ivf").toString + "/idx"
      val ops = Seq("q_pq_topk_batch", "q_pq_encode", "q_ivfpq_probe_batch").map { q =>
        q -> plansRunBy(SparkEntry.queries(q)(spark, sfDir).collect())
      } :+ ("ivfWrite" -> plansRunBy(graft.operators.Similarity.ivfWrite(
        emb, "vec_id", "embedding", dir, nlist = 8)))
      for ((label, plans) <- ops) {
        assert(plans.nonEmpty, s"$label ran no query")
        for (plan <- plans) {
          assert(!plan.contains("lambdafunction"), s"$label interprets a lambda:\n$plan")
          assert("Exchange hashpartitioning\\(vec_id#".r.findFirstIn(plan).isEmpty,
            s"$label exchanges on vec_id:\n$plan")
        }
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("semantic ops prune the scan to (vec_id, embedding) — label never read") {
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    for (out <- Seq(
      graft.operators.Semantic.assignCells(emb, "vec_id", "embedding", k = 8),
      graft.operators.Semantic.pqEncode(emb, "vec_id", "embedding", m = 8, ksub = 16))) {
      val plan = out.queryExecution.executedPlan.toString
      val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(reads.nonEmpty)
      assert(reads.forall(r => !r.contains("label")),
        s"scan reads the unused label column:\n${reads.mkString("\n")}")
    }
  }

  test("duplicate spans: aggregate-count plan — no self-join of the window stream") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Pipelines.duplicateSpans(docs, "doc_id", "text",
      w = 10, minCount = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"),
      s"span counts are map-side-combined aggregates, never a window sort:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"no quadratic stage:\n$plan")
  }


  test("Par.spread: tiny input repartitions across cores, fence blocks filter pushdown; disabled gate is narrow (r15)") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val spreadPlan = graft.operators.TextAnalysis.scrubPii(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(spreadPlan.contains("RoundRobinPartitioning"),
      s"a small input must spread across the session's cores:\n$spreadPlan")
    // the non-deterministic fence keeps a caller's filter on a derived
    // column ABOVE the exchange: the gate verdict must not be re-evaluated
    // serially on the scan task (the pushed-predicate duplication trap)
    val filtered = graft.operators.TextAnalysis.c4Gate(docs, "doc_id", "text")
      .filter(col("kept"))
    val fp = filtered.queryExecution.executedPlan.toString
    val scanLine = fp.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(!scanLine.contains("lorem ipsum"),
      s"the gate verdict leaked below the spread exchange into the scan:\n$fp")
    assert(fp.contains("SPARK_PARTITION_ID"),
      s"expected the spread fence in the plan:\n$fp")
  }

  test("chunk windows are narrow: zero shuffles") { noSpread {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.TextAnalysis.chunkWindows(docs, "doc_id", "text", 64, 48)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must be map-only:\n$plan")
  } }

  test("link-density extraction is narrow: zero shuffles") { noSpread {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").as("html"))
    val out = graft.operators.TextAnalysis.htmlExtractDense(
      docs, "doc_id", "html", minWords = 5, maxAnchorBp = 2000)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extraction must be map-only:\n$plan")
  } }

  test("incremental quantile gate: batch rows meet kept cells by broadcast, never a sort-merge") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val state = graft.operators.Pipelines.quantileState(
      docs.filter(col("doc_id") < 250), "doc_id", "n_chars", "source",
      lo = 0.0, hi = 2000.0, bins = 64)
    val out = graft.operators.Pipelines.quantileIncremental(
      docs.filter(col("doc_id") >= 250), "doc_id", "n_chars", "source",
      state, q = 0.6, lo = 0.0, hi = 2000.0, bins = 64)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"kept-cell set must broadcast to the batch:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-side sort-merge join:\n$plan")
  }

  test("fuzzy join blocks on variant hashes: equality join, never a cartesian product") {
    val cust = graft.sources.Tables(spark, sfDir, "customer")
    val out = graft.operators.FuzzyJoin.pairsWithin1(cust, "c_custkey", "c_name")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must never compare all pairs:\n$plan")
    assert(plan.contains("Join") || plan.contains("join"),
      s"expected a hash-blocked equality join:\n$plan")
  }

  test("fuzzy join k=3 (segment blocking): equality joins only, never a cartesian product") {
    val cust = graft.sources.Tables(spark, sfDir, "customer")
    val out = graft.operators.FuzzyJoin.pairsWithin(cust, "c_custkey", "c_name", k = 3)
    val plan = out.queryExecution.executedPlan.toString
    // the short-string bucket is a constant-key HASH join; nothing in the
    // segment path may degrade to an all-pairs strategy
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"segment blocking must never compare all pairs:\n$plan")
  }

  test("repetition stats and embedding quantization are narrow: zero shuffles") { noSpread {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val rep = graft.operators.TextAnalysis.repetitionStats(docs, "doc_id", "text")
    val qz = graft.operators.Similarity.normalizeQuantize(emb, "vec_id", "embedding")
    for ((label, df) <- Seq("repetitionStats" -> rep, "normalizeQuantize" -> qz)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$label must be a narrow pass, found a shuffle:\n$plan")
    }
  } }

  test("mixture sampling and PII scrub are narrow: zero shuffles") { noSpread {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val sampled = graft.operators.Pipelines.hashSample(
      docs, "doc_id", "source", Map("src0" -> 0.5), defaultRate = 0.25)
    val scrubbed = graft.operators.TextAnalysis.scrubPii(docs, "doc_id", "text")
    for ((label, df) <- Seq("hashSample" -> sampled, "scrubPii" -> scrubbed)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$label must be a narrow pass, found a shuffle:\n$plan")
    }
  } }

  test("token-budget sampling: salted two-level prefix — no per-domain reducer, text never shuffles") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val state = graft.operators.Pipelines.tokenBudgetState(
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", "source")
    // the tokenized base is pinned inside the operator: read every plan the
    // operator and its result run
    val sample = plansRunBy(graft.operators.Pipelines.tokenBudgetSample(docs,
      "doc_id", "text", "source", budgets = Map("src0" -> 8000L),
      defaultBudget = 4000L).collect())
    val incremental = plansRunBy(graft.operators.Pipelines.tokenBudgetIncremental(
      docs, "doc_id", "text", "source", state, budgets = Map("src0" -> 8000L),
      defaultBudget = 4000L).collect())
    // what must appear is asserted on the returned query's own plan (the
    // last one run), what must not on every plan, the pin's job included
    try for ((label, plans) <- Seq("tokenBudgetSample" -> sample,
        "tokenBudgetIncremental" -> incremental)) {
      val plan = plans.mkString("\n")
      val result = plans.last
      def windows(p: String) = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      def exchanges(p: String) = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      // the corpus-side window must partition on (domain, salt), never on the
      // domain alone — a domain-only window is the one-reducer straggler at
      // scale; the tiny offsets window orders by the salt, so every window
      // names it
      assert(windows(result).nonEmpty, s"$label: expected window operators:\n$result")
      assert(windows(plan).forall(_.contains("__salt")),
        s"$label: corpus window must be salted:\n${windows(plan).mkString("\n")}")
      // bucket offsets join back as a broadcast — a sort-merge join would
      // re-shuffle the corpus on (domain, salt) a second time
      assert(result.contains("BroadcastHashJoin"),
        s"$label: bucket offsets must broadcast:\n$result")
      assert(!plan.contains("SortMergeJoin"),
        s"$label: offsets must not sort-merge against the corpus:\n$plan")
      // the token count is computed BEFORE any exchange so only (doc_id,
      // domain, n_tokens, ord, salt) shuffles — the text column must not
      // survive into any exchange's output schema
      assert(exchanges(result).nonEmpty && exchanges(plan).forall(!_.contains("text")),
        s"$label: text must be projected away before every shuffle:\n${exchanges(plan).mkString("\n")}")
    } finally graft.operators.Caches.release(spark)
  }

  test("composed crawl pipeline: map-side-combined dedup aggs, no cartesian, html never in the url exchange") {
    val out = graft.queries.ExtensionQueries.defs("q_pipeline_web")(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian anywhere:\n$plan")
    // both dedup stages (canonical url, extracted-text fingerprint) must
    // partial-aggregate before their exchange
    assert(plan.contains("partial_min"),
      s"dedup min aggs must combine map-side:\n$plan")
    // the url-dedup exchange ships (url_canon, doc_id) only — the html
    // payload must not ride the canonical-key shuffle
    val urlExchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("url_canon")).toSeq
    assert(urlExchanges.nonEmpty && urlExchanges.forall(!_.contains("html")),
      s"html must be projected away before the url exchange:\n${urlExchanges.mkString("\n")}")
  }

  test("html extraction and url canonicalization are narrow: zero shuffles") { noSpread {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val html = graft.operators.TextAnalysis.htmlExtract(
      docs.withColumnRenamed("text", "html"), "doc_id", "html")
    val urls = docs.select(col("doc_id"),
      graft.operators.Urls.canonicalUrl(col("text")).as("u"),
      graft.operators.Urls.hostBlocked(col("text"), Seq("x.com")).as("b"))
    val gopher = graft.operators.TextAnalysis.gopherGate(docs, "doc_id", "text")
    val c4 = graft.operators.TextAnalysis.c4Gate(docs, "doc_id", "text")
    for ((label, df) <- Seq("htmlExtract" -> html, "canonicalUrl" -> urls,
      "gopherGate" -> gopher, "c4Gate" -> c4)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$label must be a narrow pass, found a shuffle:\n$plan")
    }
  } }

  test("url dedup: one map-side-combinable min aggregate on the canonical key") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Urls.urlDedup(
      docs.withColumnRenamed("text", "url"), "doc_id", "url")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"url dedup must not join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly the canonical-key exchange:\n$plan")
    assert(plan.contains("partial_min"),
      s"min must partial-aggregate map-side before the exchange:\n$plan")
  }

  test("multilingual language-ID: profiles broadcast; only doc_id joins may sort-merge") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.TextAnalysis.languageIdNgram(docs, "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the 240-row profile table must broadcast:\n$plan")
    // the per-doc label join back to the corpus is doc_id-keyed (SMJ is the
    // right 100 TB plan there; AQE demotes it to broadcast when small) — but
    // the trigram-vs-profile join must NEVER be a corpus-wide sort-merge
    val smj = plan.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("doc_id")),
      s"only doc_id-keyed joins may sort-merge:\n${smj.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"),
      s"the language fan-out must be a broadcast nested loop, not cartesian:\n$plan")
  }

  test("quality classifier scoring: weights broadcast to the corpus") {
    import spark.implicits._
    val model = ((0L until 64L).map(f => (f, BigDecimal(0).setScale(6)))
      :+ (-1L, BigDecimal(0).setScale(6))).toDF("f", "w")
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.QualityClassifier.score(
      docs, "doc_id", "text", model, nBuckets = 64)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the weight table must broadcast:\n$plan")
    // feature-weight joins broadcast; only the doc_id-keyed margin join back
    // to the doc list may sort-merge (the right corpus-scale plan)
    val smj = plan.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("doc_id")),
      s"only doc_id-keyed joins may sort-merge:\n${smj.mkString("\n")}")
  }

  test("quantile gate: salted two-level rank — no domain-only window, offsets broadcast") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .withColumn("sc", length(col("text")).cast("double"))
    // the (doc_id, domain, score) base is pinned inside the operator
    val plans = plansRunBy(graft.operators.Pipelines.quantileFilter(docs,
      "doc_id", "sc", "source", q = 0.6).collect())
    // present: the returned query's plan (the last run); absent: every plan
    try {
      val plan = plans.mkString("\n")
      val result = plans.last
      def windows(p: String) = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(windows(result).nonEmpty, s"expected window operators:\n$result")
      // the corpus-side rank window must partition on (domain, bucket), never
      // the domain alone; only the tiny per-bucket offsets window may
      val corpusWindows = windows(plan).filterNot(_.contains("__bn"))
      assert(corpusWindows.forall(_.contains("__b")),
        s"corpus rank window must be bucket-salted:\n${corpusWindows.mkString("\n")}")
      assert(result.contains("BroadcastHashJoin"),
        s"range stats and offsets must broadcast:\n$result")
      assert(!plan.contains("SortMergeJoin"),
        s"nothing here may sort-merge against the corpus:\n$plan")
      val exchangeLines = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchangeLines.forall(!_.contains("text")),
        s"text must be projected away before every shuffle:\n${exchangeLines.mkString("\n")}")
    } finally graft.operators.Caches.release(spark)
  }

  test("epoch upsampling is narrow: zero shuffles, blow-up in the explode only") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.Pipelines.upsampleMixture(docs, "doc_id", "source",
      factors = Map("src0" -> 2.5), defaultFactor = 1.0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"upsampling must be a narrow pass, found a shuffle:\n$plan")
    assert(plan.contains("Generate"), s"copies must come from an explode:\n$plan")
  }

  test("bigram LM scoring: model broadcasts to the corpus, no sort-merge join") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val out = graft.operators.TextAnalysis.bigramLogProb(docs, "doc_id", "text", topV = 50)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bigram table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"scoring must not sort-merge:\n$plan")
  }

  test("z-values are computed without a shuffle: 1-row stats broadcast, narrow interleave") {
    val li = graft.sources.Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val out = graft.sources.Writers.zValues(li, Seq("l_partkey", "l_suppkey"), bits = 16)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"z-value computation must not hash-shuffle the table:\n$plan")
    assert(plan.contains("Broadcast"),
      s"the 1-row min/max stats must ride a broadcast:\n$plan")
  }

  test("canonical selection: no global sort; cluster labels join back, corpus never range-shuffles") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    // the minhash core and the cluster rounds are pinned inside the operator
    val plan = plansRunBy(graft.operators.Pipelines.selectCanonical(docs,
      "doc_id", "text", scoreCol = "n_chars").collect()).mkString("\n")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"canonical selection must not globally sort anything:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no all-pairs stage may appear:\n$plan")
  }

  test("link extraction is narrow; host graph is one map-side-combined aggregate") { noSpread {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 7, lit(".example.com/p")).as("url"),
        col("text").as("html"))
    val links = graft.operators.Links.extractLinks(docs, "doc_id", "url", "html")
    assert(!links.queryExecution.executedPlan.toString.contains("Exchange"),
      "href extraction + resolution must be map-only")
    val edges = graft.operators.Links.hostEdges(links)
    val plan = edges.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"edge weights must combine map-side before the exchange:\n$plan")
  } }

  test("pageRank iteration: equi-joins + hash aggregate only, never cartesian or a global window") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"))
      .toDF("src_host", "dst_host")
    val out = graft.operators.Links.pageRank(edges, iters = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"rank propagation must ride equi-joins:\n$plan")
    assert(!plan.contains("WindowExec"),
      s"no window anywhere in the recurrence:\n$plan")
  }

  test("containment: doc-partitioned rank window only, no cartesian, arrays never in the prefix exchange") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    // the shingle sets and the candidates are pinned inside the operator:
    // absences hold on every plan run; the rank windows run in exactly one,
    // the candidate pin's
    val plans = plansRunBy(graft.operators.Dedup.containmentPairs(docs, "doc_id",
      "text", n = 3, threshold = 0.9).collect())
    val plan = plans.mkString("\n")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"candidates must come from shingle equi-joins:\n$plan")
    // every window must be keyed by doc_id (high cardinality) — a
    // partition-less rank would single-thread the corpus
    def winSpecs(p: String) = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(plans.count(winSpecs(_).nonEmpty) == 1 && winSpecs(plan).forall(_.contains("doc_id")),
      s"every containment window must be doc-partitioned:\n${winSpecs(plan)}")
    graft.operators.Caches.release(spark)
  }

  test("mixtureApply: salted two-level rank — offsets broadcast, no domain-only window") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    import spark.implicits._
    import graft.operators.{Pipelines, TextAnalysis, Urls}
    val urls = docs.select(col("doc_id"),
      concat(lit("https://h"), col("doc_id") % 7, lit(".example.com/p")).as("url"))
    val pairs = Seq(("q1", 5L), ("q2", 123L)).toDF("query_id", "pos_id")
    // each operator pins its md5-salted base: absences hold on every plan
    // it and its result run, presences on the returned query's (the last)
    val plans = Seq(
      "mixtureApply" -> plansRunBy(Pipelines.mixtureApply(docs, "doc_id", "source",
        Map("src0" -> 5000, "src1" -> 3000, "src2" -> 2000)).collect()),
      "temperatureMixture" -> plansRunBy(Pipelines.temperatureMixture(docs,
        "doc_id", "source", totalDocs = 200L).collect()),
      "hostCap" -> plansRunBy(Urls.hostCap(urls, "doc_id", "url",
        maxPerHost = 30).collect()))
      .map { case (label, ps) => (label, ps.last, ps.mkString("\n")) } :+ {
      // the global md5 rank is checkpointed inside the operator: pin the plan
      // that builds it
      val p = plansRunBy(TextAnalysis.randomNegatives(pairs, docs,
        "query_id", "pos_id", "doc_id", k = 5).collect())
        .find(_.contains("windowspecdefinition")).getOrElse("")
      ("randomNegatives", p, p)
    }
    def winSpecs(p: String) = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    for ((label, result, plan) <- plans) {
      assert(result.contains("BroadcastHashJoin"),
        s"$label: bucket offsets must ride a broadcast:\n$result")
      // every window partition key set must include the salt — a domain-only
      // window would be the per-domain reducer the two-level design removes
      assert(winSpecs(result).nonEmpty && winSpecs(plan).forall(_.contains("__salt")),
        s"$label: every rank window must be salted:\n${winSpecs(plan)}")
    }
    graft.operators.Caches.release(spark)
  }

  test("wordlist gate and anchor extraction are narrow: zero shuffles") { noSpread {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val gate = graft.operators.TextAnalysis.wordlistGate(
      docs, "doc_id", "text", Seq("slow", "dup"))
    val anchors = graft.operators.Links.anchorTexts(
      docs.select(col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 7, lit(".example.com/p")).as("url"),
        col("text").as("html")), "doc_id", "url", "html")
    for ((label, df) <- Seq("wordlistGate" -> gate, "anchorTexts" -> anchors)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$label must be a narrow pass, found a shuffle:\n$plan")
    }
  } }

  test("bm25: stats broadcast, df broadcast, per-doc sum map-side-combined; batch adds one query-partitioned rank") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val single = graft.operators.TextAnalysis.bm25Score(docs, "doc_id", "text", "data join")
    val sp = single.queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastHashJoin") || sp.contains("BroadcastNestedLoop"),
      s"stats/df must broadcast, never shuffle the corpus side:\n$sp")
    assert(sp.contains("partial_sum"),
      s"the per-doc score sum must combine map-side:\n$sp")
    val qs = Seq(("q1", "data join"), ("q2", "slow table")).toDF("query_id", "qtext")
    val batch = graft.operators.TextAnalysis.bm25ScoreBatch(docs, "doc_id", "text",
      qs, "query_id", "qtext", k = 5)
    val bp = batch.queryExecution.executedPlan.toString
    // per-query top-k must ride the rank-pruning optimization, and every
    // window must be query-partitioned — never a global rank
    assert(bp.contains("WindowGroupLimit"),
      s"batch top-k must prune via WindowGroupLimit:\n$bp")
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(bp).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("query_id")),
      s"every batch window must partition by query_id:\n$winSpecs")
  }

  test("text scoring runs the compiled portable_ln kernel, never the parsed bin/shiftleft series") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val ref = docs.filter(col("source") === "src0")
    val qs = Seq(("q1", "data join"), ("q2", "slow table")).toDF("query_id", "qtext")
    val ops = Seq(
      "bm25ScoreBatch" -> TextAnalysis.bm25ScoreBatch(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 5),
      "tfidfTopTerms" -> TextAnalysis.tfidfTopTerms(docs, "doc_id", "text"),
      "backoffLogProb" -> TextAnalysis.backoffLogProb(ref, docs, "doc_id", "text", topV = 50),
      "kneserNeyLogProb" -> TextAnalysis.kneserNeyLogProb(ref, docs, "doc_id", "text",
        topV = 50),
      "dsirWeights" -> TextAnalysis.dsirWeights(ref, docs, "doc_id", "text", nBuckets = 256),
      "wordEntropy" -> TextAnalysis.wordEntropy(docs, "doc_id", "text"))
    try ops.foreach { case (label, df) =>
      val plan = df.queryExecution.analyzed.toString
      assert(plan.contains("portable_ln("), s"$label must call the kernel:\n$plan")
      assert("""\b(bin|shiftleft)\(""".r.findFirstIn(plan).isEmpty,
        s"$label must not run the SQL-text series:\n$plan")
    } finally graft.operators.Caches.release(spark)
  }

  test("robots filter: host-keyed equi-join + map-side-combined verdict max, never cartesian") {
    import spark.implicits._
    val rules = Seq(("h0.example.com", false, "/a/"),
      ("h0.example.com", true, "/a/pub")).toDF("host", "allow", "prefix")
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat(lit("https://h"), col("doc_id") % 7, lit(".example.com/a/x")).as("url"))
    val out = graft.operators.Urls.robotsFilter(docs, "doc_id", "url", rules)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"the rules join must be host-keyed:\n$plan")
    assert(plan.contains("partial_max"),
      s"the verdict argmax must combine map-side before any exchange:\n$plan")
    // the per-host rule parse runs over KiB partitions; the URL-side verdict
    // must never route through a partition-less window
    assert(!plan.contains("WindowExec"),
      s"the verdict is an aggregate, not a window:\n$plan")
  }

  test("sq8 encode stays narrow: bounds ride ONE broadcast row, corpus rows never exchange") {
    // r10 ADVICE moved the bounds from re-inlined d-element literal arrays
    // (codegen-size hazard at dim 768+) to a broadcast one-row frame — the
    // plan gains a broadcast nested-loop of that single row, and must still
    // never exchange the corpus side
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val enc = graft.operators.Similarity.sq8Encode(emb, "vec_id", "embedding")
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange"),
      s"sq8Encode corpus side must not shuffle:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bounds must ride a broadcast single-row frame:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join:\n$plan")
  }

  test("frozen-state serving is broadcast-only: dsir weights and perplexity cuts never shuffle-join") {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val w = graft.operators.TextAnalysis.dsirWeights(
      docs.filter(col("lang") === "en"), docs.filter(col("doc_id") < 50),
      "doc_id", "text", nBuckets = 256)
    val served = graft.operators.TextAnalysis.dsirScoreWith(w, docs,
      "doc_id", "text", nBuckets = 256)
    val p1 = served.queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"),
      s"dsir serving must broadcast the weight table:\n$p1")
    // the WEIGHT-TABLE build now full-outer-joins the two bucket-count
    // frames (r10 ADVICE: target-only buckets keep their evidence) — full
    // outer cannot broadcast, so the plan carries SMJs whose BOTH sides are
    // ≤ nBuckets aggregate rows (bounded by the bucket space, never the
    // corpus; the subtree appears once under the weights branch and once
    // under the OOV branch). Pin: every SMJ is that FullOuter bucket join —
    // the corpus-sized scoring join stays broadcast
    val smjLines = p1.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smjLines.nonEmpty && smjLines.forall(_.contains("FullOuter")),
      s"only the bucket-table full outer may sort-merge:\n$p1")

    val scored = graft.operators.TextAnalysis.backoffLogProb(
      docs.filter(col("source") === "src0"), docs, "doc_id", "text", topV = 50)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val cuts = graft.operators.TextAnalysis.perplexityCuts(
      scored.filter(col("doc_id") < 250), "doc_id", "lang",
      "sum_log10p_e6", "n_trigrams")
    val buckets = graft.operators.TextAnalysis.perplexityBucketsWith(cuts,
      scored, "doc_id", "lang", "sum_log10p_e6", "n_trigrams")
    val p2 = buckets.queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"),
      s"cut serving must broadcast the per-group cut table:\n$p2")
    graft.operators.Caches.release(spark)
  }

  test("discovery: the new-frontier set is a left-anti join on the canonical key, never except/cartesian") {
    import spark.implicits._
    val pages = Seq((1L, "https://a.example.com/", "<a href=\"/x\">x</a>"),
      (30L, "https://b.example.com/", "<a href=\"/y\">y</a>"))
      .toDF("doc_id", "url", "html")
    val links = graft.operators.Links.extractLinks(pages, "doc_id", "url", "html")
      .select(col("doc_id"), col("dst_url").as("url"))
    val canon = graft.operators.Urls.canonicalize(links, "doc_id", "url")
    val seen = graft.operators.Urls.canonicalize(
      links.filter(col("doc_id") < 20), "doc_id", "url")
      .select("url_canon").distinct()
    val frontier = canon.select("url_canon").distinct()
      .join(seen, Seq("url_canon"), "left_anti")
    val plan = frontier.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"anti-join expected:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("applyDiff: one id-keyed anti-join, AQE broadcasts the takedown-sized delta") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    val ups = docs.filter(col("doc_id") < 3)
      .withColumn("text", lit("updated"))
    val del = Seq(7L, 9L).toDF("doc_id")
    val merged = graft.operators.Pipelines.applyDiff(docs, ups, del, "doc_id")
    merged.write.format("noop").mode("overwrite").save() // finalize AQE
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"anti-join expected:\n$plan")
    // the corpus side must not shuffle for a small delta: AQE converts the
    // anti-join to broadcast, so the only exchanges left are broadcasts
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"delta side must broadcast under AQE:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must not shuffle for a takedown-sized delta:\n$plan")
  }
}
