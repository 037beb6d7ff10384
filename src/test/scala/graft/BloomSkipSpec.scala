package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.catalog.{BloomSkip, Snapshots}

/** Per-file Bloom skipping (r15, [[graft.catalog.BloomSkip]]): point
  * lookups on a column the layout does NOT cluster — where every file's
  * min/max spans every key and footer candidacy is useless — prove
  * absence from the bloom sidecars, so a point DELETE touches ~1 file
  * instead of all of them.
  */
class BloomSkipSpec extends SparkSpec {

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  test("bloom round-trip: build/write/read and exact probe semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-rt")
      .toFile.getAbsolutePath
    val fs = fsOf(dir)
    val gen = new Path(dir, "gen-t")
    spark.range(1000).select(col("id"), concat(lit("u"),
      col("id").cast("string")).as("who"))
      .coalesce(1).write.parquet(gen.toString)
    val file = fs.listStatus(gen).map(_.getPath.getName)
      .find(_.endsWith(".parquet")).get
    val fields = Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("who",
        org.apache.spark.sql.types.StringType))
    val built = BloomSkip.build(spark, gen, Map(file -> 1000L), fields, 0.001)
    BloomSkip.write(fs, gen, built)
    BloomSkip.invalidate()
    val read = BloomSkip.read(fs, gen).get
    val blooms = read(file)
    // every present value answers true; absent values (overwhelmingly)
    // answer false at fpp 0.001
    assert(blooms("id").mightContainLong(567L))
    assert(blooms("who").mightContainString("u567"))
    val falsePos = (10000L until 11000L).count(blooms("id").mightContainLong)
    assert(falsePos <= 20, s"fp rate too high: $falsePos/1000")
    // probe semantics through the filter API
    import org.apache.spark.sql.sources
    assert(BloomSkip.mightMatch(sources.EqualTo("id", 567L), blooms))
    assert(!BloomSkip.mightMatch(sources.EqualTo("id", 999999L), blooms))
    assert(BloomSkip.mightMatch(
      sources.In("id", Array(999999L, 42L)), blooms))
    assert(!BloomSkip.mightMatch(
      sources.In("id", Array(999999L, 888888L)), blooms))
    // NOT / range shapes never prune via blooms
    assert(BloomSkip.mightMatch(
      sources.Not(sources.EqualTo("id", 567L)), blooms))
    assert(BloomSkip.mightMatch(sources.GreaterThan("id", 999999L), blooms))
    // int-typed probe hits the long-typed put (same longValue encoding)
    assert(BloomSkip.mightMatch(
      sources.EqualTo("id", java.lang.Integer.valueOf(567)), blooms))
  }

  test("point DELETE by an UNCLUSTERED key: bloom candidacy narrows to ~1 file where min/max keeps all") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-dml")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_bl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bl.dir", dir)
    spark.sql("DROP TABLE IF EXISTS graft_bl.main.t")
    spark.sql("DROP TABLE IF EXISTS graft_bl.main.nb")
    try {
      // hash-scattered layout: every file's [min, max] on user_id spans the
      // whole domain — min/max candidacy keeps ALL files
      def fixture(name: String, props: String): Unit =
        spark.sql(s"CREATE TABLE graft_bl.main.$name $props AS " +
          "SELECT /*+ REPARTITION(8, hashed) */ id AS user_id, " +
          "hash(id) AS hashed, md5(CAST(id AS STRING)) AS payload " +
          "FROM range(20000)")
      fixture("t",
        "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true', " +
          "'bloom_cols'='user_id', 'bloom_fpp'='0.0001')")
      fixture("nb", "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true')")

      val fs = fsOf(dir)
      // the CTAS generation carries a bloom sidecar next to its stats
      val genDirs = fs.listStatus(new Path(s"$dir/t")).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith("gen-"))
      assert(genDirs.nonEmpty)
      assert(genDirs.forall(g =>
        fs.exists(new Path(g.getPath, BloomSkip.FileName))),
        "bloom sidecar missing from the CTAS generation")

      // input-bytes accounting: the bloom DELETE must read ~1/8 of what
      // the bloom-less DELETE reads (both dv tables — same write path)
      def measured(sql: String): Long = Inspect.record(spark)(spark.sql(sql)).inputBytes
      val withBloom = measured("DELETE FROM graft_bl.main.t WHERE user_id = 777")
      val noBloom = measured("DELETE FROM graft_bl.main.nb WHERE user_id = 777")
      assert(spark.table("graft_bl.main.t").count() == 19999)
      assert(spark.table("graft_bl.main.nb").count() == 19999)
      assert(withBloom * 3 < noBloom,
        s"bloom candidacy read $withBloom vs $noBloom without — expected ≥3× less")

      // correctness under re-insert: a fresh append gets its own sidecar,
      // and a delete for a key in the NEW generation lands there
      spark.sql("INSERT INTO graft_bl.main.t " +
        "SELECT id + 100000, hash(id) AS hashed, 'x' FROM range(50)")
      spark.sql("DELETE FROM graft_bl.main.t WHERE user_id = 100010")
      assert(spark.table("graft_bl.main.t").count() == 19999 + 50 - 1)
      assert(spark.sql(
        "SELECT count(*) FROM graft_bl.main.t WHERE user_id IN (777, 100010)")
        .collect().head.getLong(0) == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bl.main.t")
      spark.sql("DROP TABLE IF EXISTS graft_bl.main.nb")
    }
  }

  test("scan-side pruning: a point SELECT on the bloom column reads ~1 file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-scan")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_bs", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bs.dir", dir)
    spark.sql("DROP TABLE IF EXISTS graft_bs.main.t")
    try {
      spark.sql("CREATE TABLE graft_bs.main.t " +
        "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='user_id', " +
        "'bloom_fpp'='0.0001') AS " +
        "SELECT /*+ REPARTITION(8, hashed) */ id AS user_id, " +
        "hash(id) AS hashed, md5(CAST(id AS STRING)) AS payload " +
        "FROM range(20000)")
      val q = spark.sql(
        "SELECT count(*) AS n FROM graft_bs.main.t WHERE user_id = 4242")
      assert(q.collect().head.getLong(0) == 1)
      // the executed scan's file listing must be bloom-narrowed: at fpp
      // 1e-4 over 8 files, pruning to exactly 1 is overwhelmingly likely
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scansOf(s.plan)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            Seq(b)
          case other => other.children.flatMap(scansOf)
        }
      val scans = scansOf(q.queryExecution.executedPlan)
      assert(scans.nonEmpty)
      val files = scans.head.inputRDD.partitions.length
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains("user_id"), planStr)
      // ≤2 input partitions ⇒ the 8-file listing was pruned (one file per
      // partition at this size)
      assert(files <= 2, s"expected a bloom-pruned scan, got $files partitions")
    } finally spark.sql("DROP TABLE IF EXISTS graft_bs.main.t")
  }

  test("bloom_cols property validation refuses unsupported shapes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-val")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_bv", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bv.dir", dir)
    // requires snapshots
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_bv.main.a (id BIGINT) " +
        "TBLPROPERTIES ('bloom_cols'='id')")
    }
    // float columns refuse (probe encoding trap)
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_bv.main.b (id BIGINT, score DOUBLE) " +
        "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='score')")
    }
    // unknown column refuses
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_bv.main.c (id BIGINT) " +
        "TBLPROPERTIES ('snapshots'='true', 'bloom_cols'='nope')")
    }
  }
}
