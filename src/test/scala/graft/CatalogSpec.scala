package graft

import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

/** GraftCatalog (SURVEY.md §2.11 M1-M5, M10): namespace/table listing, load,
  * SQL resolution through `graft.main.<t>`, and error behavior.
  */
class CatalogSpec extends SparkSpec {

  private def catalog: TableCatalog = {
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
  }

  test("listNamespaces exposes main") {
    val ns = catalog.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsNamespaces]
      .listNamespaces()
    assert(ns.map(_.mkString(".")).contains("main"))
  }

  test("listTables sees every fixture table") {
    val tables = catalog.listTables(Array("main")).map(_.name()).toSet
    graft.sources.Tables.names.foreach(t => assert(tables.contains(t), s"missing $t"))
  }

  test("loadTable returns schema and SQL resolves through the catalog") {
    val t = catalog.loadTable(Identifier.of(Array("main"), "nation"))
    assert(t.columns().map(_.name()).toSet ==
      Set("n_nationkey", "n_name", "n_regionkey"))
    val n = spark.sql("SELECT count(*) AS n FROM graft.main.nation").collect().head.getLong(0)
    assert(n == 25)
  }

  test("SHOW TABLES works against the catalog") {
    val shown = spark.sql("SHOW TABLES IN graft.main").collect().map(_.getString(1)).toSet
    assert(shown.contains("lineitem"))
  }

  test("DESCRIBE TABLE lists columns (bulk metadata, M4)") {
    val desc = spark.sql("DESCRIBE TABLE graft.main.customer").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("c_custkey").contains("bigint"))
    assert(desc.contains("c_name") && desc.contains("c_nationkey"))
  }

  test("missing table raises NoSuchTableException") {
    intercept[Exception] {
      catalog.loadTable(Identifier.of(Array("main"), "nope"))
    }
  }

  test("directory tables with partitioned layout resolve, prune, and report stats") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-part").toFile.getAbsolutePath
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    orders.withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$dir/orders_part")

    spark.conf.set("spark.sql.catalog.graft_part", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_part.dir", dir)

    // multi-file directory table: correct count and footer-summed stats
    val t = spark.table("graft_part.main.orders_part")
    assert(t.count() == orders.count())
    assert(t.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(orders.count())))

    // partition pruning: filtering the partition column prunes input files
    val pruned = spark.sql(
      "SELECT count(*) FROM graft_part.main.orders_part WHERE o_year = 1995")
    val expected = orders.filter(year(col("o_orderdate")) === 1995).count()
    assert(pruned.collect().head.getLong(0) == expected)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("o_year"), s"partition filter missing:\n$planStr")
  }

  test("CTAS/INSERT through the governed catalog: staged commit, read-back, governance, drop") {
    import graft.plans.{GovernancePolicies, TablePolicy}
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-write")
      .toFile.getAbsolutePath
    spark.read.parquet(s"$sfDir/nation.parquet").write.parquet(s"$dir/nation_src")
    spark.conf.set("spark.sql.catalog.graft_rw", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rw.dir", dir)
    // atomic CTAS (StagingTableCatalog): stage-write, rename-swap on commit
    spark.sql("CREATE TABLE graft_rw.main.big_nations AS " +
      "SELECT n_nationkey, n_name FROM graft_rw.main.nation_src WHERE n_nationkey >= 10")
    def cnt(t: String) =
      spark.sql(s"SELECT count(*) FROM graft_rw.main.$t").head().getLong(0)
    assert(cnt("big_nations") == 15)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".staging-")),
      "committed CTAS must leave no staging debris")
    // INSERT INTO appends through the same table
    spark.sql("INSERT INTO graft_rw.main.big_nations " +
      "SELECT n_nationkey, n_name FROM graft_rw.main.nation_src WHERE n_nationkey < 10")
    assert(cnt("big_nations") == 25, "read-after-insert must see the new rows")
    // CREATE OR REPLACE swaps the table wholesale
    spark.sql("CREATE OR REPLACE TABLE graft_rw.main.big_nations AS " +
      "SELECT n_nationkey FROM graft_rw.main.nation_src WHERE n_nationkey >= 20")
    assert(cnt("big_nations") == 5)
    assert(spark.table("graft_rw.main.big_nations").columns.toSeq == Seq("n_nationkey"))
    // empty CTAS still materializes a loadable, schema-carrying table
    spark.sql("CREATE TABLE graft_rw.main.empty_t AS " +
      "SELECT n_nationkey, n_name FROM graft_rw.main.nation_src WHERE 1 = 0")
    assert(cnt("empty_t") == 0)
    assert(spark.table("graft_rw.main.empty_t").columns.toSeq ==
      Seq("n_nationkey", "n_name"))
    // CREATE TABLE (no AS) + INSERT
    spark.sql("CREATE TABLE graft_rw.main.plain_t (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graft_rw.main.plain_t VALUES (1, 'a'), (2, 'b')")
    assert(cnt("plain_t") == 2)
    // duplicate CREATE refuses
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_rw.main.plain_t (x INT)")
    }
    // governance applies to reads of the WRITTEN table like any other (X4)
    GovernancePolicies.register("big_nations",
      TablePolicy(rowFilterSql = Some("n_nationkey >= 22")))
    try assert(cnt("big_nations") == 3, "row policy must gate the CTAS table")
    finally GovernancePolicies.clear()
    assert(cnt("big_nations") == 5)
    // single-file `<name>.parquet` tables stay read-only
    spark.read.parquet(s"$sfDir/region.parquet").limit(1)
      .coalesce(1).write.parquet(s"$dir/tmp_region")
    val part = new java.io.File(s"$dir/tmp_region").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/single.parquet"))
    intercept[Exception] {
      spark.sql("INSERT INTO graft_rw.main.single SELECT * FROM graft_rw.main.single")
    }
    // INSERT OVERWRITE swaps wholesale (staged write + rename-swap commit)
    spark.sql("INSERT OVERWRITE graft_rw.main.big_nations " +
      "SELECT n_nationkey FROM graft_rw.main.nation_src WHERE n_nationkey < 4")
    assert(cnt("big_nations") == 4, "overwrite must replace, not append")
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".overwrite-")),
      "committed overwrite must leave no staging debris")
    // empty overwrite keeps the table loadable with its schema
    spark.sql("INSERT OVERWRITE graft_rw.main.big_nations " +
      "SELECT n_nationkey FROM graft_rw.main.nation_src WHERE 1 = 0")
    assert(cnt("big_nations") == 0)
    assert(spark.table("graft_rw.main.big_nations").columns.toSeq == Seq("n_nationkey"))
    // DROP removes table and listing
    spark.sql("DROP TABLE graft_rw.main.plain_t")
    assert(!spark.sql("SHOW TABLES IN graft_rw.main").collect()
      .map(_.getString(1)).contains("plain_t"))
  }

  test("partitioned CTAS/INSERT/OVERWRITE through the catalog (r11 ask #2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-part")
      .toFile.getAbsolutePath
    spark.read.parquet(s"$sfDir/nation.parquet").write.parquet(s"$dir/nation_src")
    spark.conf.set("spark.sql.catalog.graft_pw", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pw.dir", dir)
    def cnt(t: String, where: String = "1=1") =
      spark.sql(s"SELECT count(*) FROM graft_pw.main.$t WHERE $where").head().getLong(0)

    // partitioned CTAS: atomic staged commit, hive k=v layout
    spark.sql("CREATE TABLE graft_pw.main.nation_p PARTITIONED BY (n_regionkey) AS " +
      "SELECT n_nationkey, n_name, n_regionkey FROM graft_pw.main.nation_src " +
      "WHERE n_regionkey >= 2")
    assert(cnt("nation_p") == 15)
    val layout = new java.io.File(s"$dir/nation_p").listFiles().map(_.getName).toSet
    assert(layout.exists(_.startsWith("n_regionkey=")), s"expected k=v dirs, got $layout")
    assert(!layout.exists(n => n.endsWith(".parquet") && !n.startsWith("_")),
      "no root-level part files in a partitioned layout")

    // INSERT INTO appends new partitions
    spark.sql("INSERT INTO graft_pw.main.nation_p " +
      "SELECT n_nationkey, n_name, n_regionkey FROM graft_pw.main.nation_src " +
      "WHERE n_regionkey < 2")
    assert(cnt("nation_p") == 25, "read-after-insert must see the new partitions")

    // partition pruning on the read-back: the scan must list only the
    // matching k=v dirs (PartitionFilters, not a post-scan filter)
    val pruned = spark.sql(
      "SELECT count(*) FROM graft_pw.main.nation_p WHERE n_regionkey = 3")
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("n_regionkey"), s"partition filter missing from scan:\n$scan")
    assert(pruned.head().getLong(0) == 5)

    // partition-column ordering: read-back schema puts partition cols last
    assert(spark.table("graft_pw.main.nation_p").columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))

    // small-files discipline: the pre-write repartition gives each k=v dir
    // ONE part file per write (not one per task per value)
    val perPartFiles = new java.io.File(s"$dir/nation_p").listFiles()
      .filter(_.getName.startsWith("n_regionkey="))
      .map(d => d.getName -> d.listFiles().count(f =>
        f.getName.endsWith(".parquet"))).toMap
    assert(perPartFiles.values.forall(_ <= 2),
      s"expected ~1 file per partition per write, got $perPartFiles")

    // empty partitioned CREATE: loadable via the sidecar schema, insertable
    spark.sql("CREATE TABLE graft_pw.main.empty_p " +
      "(id BIGINT, tag STRING, bucket INT) PARTITIONED BY (bucket)")
    assert(cnt("empty_p") == 0)
    assert(spark.table("graft_pw.main.empty_p").columns.toSeq ==
      Seq("id", "tag", "bucket"))
    spark.sql("INSERT INTO graft_pw.main.empty_p VALUES (1, 'a', 7), (2, 'b', 8)")
    assert(cnt("empty_p") == 2)
    assert(cnt("empty_p", "bucket = 7") == 1)

    // INSERT OVERWRITE swaps the whole table atomically (staged + swap)
    spark.sql("INSERT OVERWRITE graft_pw.main.nation_p " +
      "SELECT n_nationkey, n_name, n_regionkey FROM graft_pw.main.nation_src " +
      "WHERE n_regionkey = 0")
    assert(cnt("nation_p") == 5, "overwrite must replace, not append")
    assert(cnt("nation_p", "n_regionkey = 0") == 5)
    assert(!new java.io.File(dir).listFiles().exists(n =>
      n.getName.startsWith(".overwrite-") || n.getName.startsWith(".staging-")),
      "committed partitioned writes must leave no staging debris")

    // non-identity transforms refuse loudly
    intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE graft_pw.main.bad_p (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
    }

    // dynamic-partition overwrite (r12 ask #2): backfills ONLY the incoming
    // partitions — region 0's partition stays live, region 1's appears
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE graft_pw.main.nation_p " +
        "SELECT n_nationkey, n_name, n_regionkey " +
        "FROM graft_pw.main.nation_src WHERE n_regionkey = 1")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert(cnt("nation_p", "n_regionkey = 0") == 5,
      "dynamic overwrite must leave untouched partitions live")
    assert(cnt("nation_p", "n_regionkey = 1") == 5)
    assert(cnt("nation_p") == 10)
  }

  test("ALTER TABLE ADD COLUMN evolves directory tables (r11 ask #3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-evolve")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_ev", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ev.dir", dir)
    spark.sql("CREATE TABLE graft_ev.main.docs (id BIGINT, body STRING)")
    spark.sql("INSERT INTO graft_ev.main.docs VALUES (1, 'alpha'), (2, 'beta')")
    // evolve: the new column is null for pre-evolution files
    spark.sql("ALTER TABLE graft_ev.main.docs ADD COLUMN lang STRING")
    assert(spark.table("graft_ev.main.docs").columns.toSeq ==
      Seq("id", "body", "lang"))
    spark.sql("INSERT INTO graft_ev.main.docs VALUES (3, 'gamma', 'en')")
    val rows = spark.sql(
      "SELECT id, body, lang FROM graft_ev.main.docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(rows == Seq((1L, "alpha", null), (2L, "beta", null),
      (3L, "gamma", "en")), s"got $rows")
    // filters over the evolved column work across both generations
    assert(spark.sql("SELECT count(*) FROM graft_ev.main.docs WHERE lang = 'en'")
      .head().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM graft_ev.main.docs WHERE lang IS NULL")
      .head().getLong(0) == 2)
    // evolution on a PARTITIONED table keeps partition cols last
    spark.sql("CREATE TABLE graft_ev.main.docs_p (id BIGINT, k INT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft_ev.main.docs_p VALUES (1, 5)")
    spark.sql("ALTER TABLE graft_ev.main.docs_p ADD COLUMN score DOUBLE")
    assert(spark.table("graft_ev.main.docs_p").columns.toSeq ==
      Seq("id", "score", "k"))
    spark.sql("INSERT INTO graft_ev.main.docs_p VALUES (2, 0.5, 6)")
    assert(spark.sql("SELECT count(*) FROM graft_ev.main.docs_p WHERE k = 6")
      .head().getLong(0) == 1)
    // unsupported ALTERs refuse loudly (DROP COLUMN became a supported
    // metadata-only evolution in r13 — RENAME would need field-id mapping)
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE graft_ev.main.docs RENAME COLUMN body TO text2")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_ev.main.docs ADD COLUMN body STRING")
    }
  }

  test("ALTER COLUMN TYPE widening: old narrow files and new wide rows both read (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-widen")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_wd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_wd.dir", dir)
    spark.sql("CREATE TABLE graft_wd.main.t (id INT, score FLOAT, body STRING)")
    spark.sql("INSERT INTO graft_wd.main.t VALUES " +
      "(1, CAST(1.5 AS FLOAT), 'a'), (2147483647, CAST(2.5 AS FLOAT), 'b')")
    spark.sql("ALTER TABLE graft_wd.main.t ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft_wd.main.t ALTER COLUMN score TYPE DOUBLE")
    val schema = spark.table("graft_wd.main.t").schema
    assert(schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    // a positional INSERT binds to the widened type — a value beyond INT
    // range lands
    spark.sql("INSERT INTO graft_wd.main.t VALUES (4000000000, 3.5, 'c')")
    val rows = spark.sql(
      "SELECT id, score, body FROM graft_wd.main.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 1.5, "a"), (2147483647L, 2.5, "b"),
      (4000000000L, 3.5, "c")), s"got $rows")
    // aggregation across old (int32/float) and new (int64/double) files
    assert(spark.sql("SELECT sum(id) FROM graft_wd.main.t").head().getLong(0) ==
      1L + 2147483647L + 4000000000L)
    // narrowing and cross-family retypes refuse loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_wd.main.t ALTER COLUMN id TYPE INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_wd.main.t ALTER COLUMN body TYPE BIGINT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_wd.main.t ALTER COLUMN score TYPE FLOAT")
    }
    // RENAME still refuses (needs field-id mapping)
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE graft_wd.main.t RENAME COLUMN body TO text2")
    }
  }

  test("governance cannot silently column-drop a partition column (layout leaks it)") {
    import graft.plans.{GovernancePolicies, TablePolicy}
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-govp")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_gp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_gp.dir", dir)
    spark.sql("CREATE TABLE graft_gp.main.gp (id BIGINT, secret STRING, region INT) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO graft_gp.main.gp VALUES (1, 'x', 7), (2, 'y', 8)")
    // dropping a DATA column works (the normal silent-drop contract)
    GovernancePolicies.register("gp", TablePolicy(dropColumns = Seq("secret")))
    try {
      assert(spark.table("graft_gp.main.gp").columns.toSeq == Seq("id", "region"))
    } finally GovernancePolicies.clear()
    // dropping the PARTITION column must refuse loudly: the k=v directory
    // names expose the values no matter what the reported schema says
    GovernancePolicies.register("gp", TablePolicy(dropColumns = Seq("region")))
    try {
      val e = intercept[Exception] { spark.table("graft_gp.main.gp").collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("partition column")), s"got: ${msgs(e)}")
    } finally GovernancePolicies.clear()
  }

  test("crash-aside recovery: a kill between the swap renames self-heals on load") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-aside")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_cr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cr.dir", dir)
    spark.sql("CREATE TABLE graft_cr.main.t1 (id BIGINT)")
    spark.sql("INSERT INTO graft_cr.main.t1 VALUES (1), (2)")
    def cnt() = spark.sql("SELECT count(*) FROM graft_cr.main.t1").head().getLong(0)
    assert(cnt() == 2)
    // simulate the crash window: live dir moved aside, swap never happened
    def strand(uuid: String): Unit = {
      assert(new java.io.File(s"$dir/t1").renameTo(new java.io.File(s"$dir/.old-t1-$uuid")))
      spark.sessionState.catalogManager.catalog("graft_cr")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("main"), "t1"))
    }
    strand("deadbee1")
    assert(cnt() == 2, "load must restore the single stranded aside")
    assert(new java.io.File(s"$dir/t1").exists &&
      !new java.io.File(s"$dir/.old-t1-deadbee1").exists)
    // ambiguous (two asides) refuses rather than guessing
    strand("deadbee2")
    new java.io.File(s"$dir/.old-t1-deadbee3").mkdirs()
    intercept[Exception] { cnt() }
    // manual resolution: remove the impostor, load recovers again
    new java.io.File(s"$dir/.old-t1-deadbee3").delete()
    assert(cnt() == 2)
    // DROP cleans asides: a crash AFTER swap-in but before the aside
    // delete leaves both the live table and an aside — dropping the table
    // must take the aside with it, or the next load resurrects it
    new java.io.File(s"$dir/.old-t1-deadbee4").mkdirs()
    spark.sql("DROP TABLE graft_cr.main.t1")
    assert(!new java.io.File(s"$dir/.old-t1-deadbee4").exists,
      "DROP must clean crash-asides")
    intercept[Exception] { cnt() }
  }

  test("DROP removes every hidden sibling vacuum would: MOR staging and the tags lock") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-debris")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_db", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_db.dir", dir)
    spark.sql("CREATE TABLE graft_db.main.t (id BIGINT)")
    // a crashed merge-on-read UPDATE's staging and a crashed tag commit's lock
    val staging = new java.io.File(s"$dir/.morupd-t-0123abcd")
    val lock = new java.io.File(s"$dir/.commitlock-t.tags")
    assert(staging.mkdirs() && lock.createNewFile())
    spark.sql("DROP TABLE graft_db.main.t")
    assert(!staging.exists && !lock.exists, "DROP must take the table's debris with it")
  }

  test("dynamic partition overwrite: backfilled partitions swap, untouched files byte-identical (r12 ask #2)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-dyn")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_dy", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dy.dir", dir)
    spark.sql("DROP TABLE IF EXISTS graft_dy.main.t")
    spark.sql("CREATE TABLE graft_dy.main.t PARTITIONED BY (k) AS " +
      "SELECT id AS v, concat('k', id % 3) AS k FROM range(30) WHERE id % 5 <> 0")

    def md5s(part: String): Map[String, String] = {
      val d = new java.io.File(s"$dir/t/k=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val h = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        f.getName -> h.map("%02x".format(_)).mkString
      }.toMap
    }
    val untouched0 = md5s("k0")
    val untouched2 = md5s("k2")

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // backfill ONLY k=k1 with its complete rows
      spark.sql("INSERT OVERWRITE graft_dy.main.t " +
        "SELECT id AS v, concat('k', id % 3) AS k FROM range(30) WHERE id % 3 = 1")
      // k1 is now complete (10 rows); k0/k2 keep the %5 gap (8 rows each)
      val counts = spark.sql("SELECT k, count(*) AS n FROM graft_dy.main.t GROUP BY k")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("k0" -> 8L, "k1" -> 10L, "k2" -> 8L), s"got $counts")
      assert(md5s("k0") == untouched0 && md5s("k2") == untouched2,
        "untouched partitions' files must be byte-identical")

      // an empty incoming set overwrites NOTHING (dynamic semantics)
      spark.sql("INSERT OVERWRITE graft_dy.main.t " +
        "SELECT id AS v, concat('k', id % 3) AS k FROM range(30) WHERE 1 = 0")
      assert(spark.sql("SELECT count(*) FROM graft_dy.main.t").head().getLong(0) == 26)

      // static mode still swaps the WHOLE table
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      spark.sql("INSERT OVERWRITE graft_dy.main.t " +
        "SELECT id AS v, concat('k', id % 3) AS k FROM range(30) WHERE id % 3 = 1")
      assert(spark.sql("SELECT count(*) FROM graft_dy.main.t").head().getLong(0) == 10)
      assert(!new java.io.File(s"$dir/t/k=k0").exists,
        "static overwrite replaces the whole table")

      // crash-before-swap contract: a fully-materialized staging dir left
      // behind by a killed run is invisible to reads and swept by DROP
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.range(5).select(col("id").as("v"), lit("k9").as("k"))
        .write.partitionBy("k").parquet(s"$dir/.dynover-t-deadbeef")
      assert(spark.sql("SELECT count(*) FROM graft_dy.main.t").head().getLong(0) == 10,
        "uncommitted staging must stay invisible — old partitions live")
      // dynamic overwrite of an UNPARTITIONED table refuses loudly
      spark.sql("CREATE TABLE graft_dy.main.flat AS SELECT 1 AS x")
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft_dy.main.flat SELECT 2 AS x")
      }
      assert(e.getMessage.toLowerCase.contains("unpartitioned") ||
        e.getMessage.toLowerCase.contains("dynamic"))
      spark.sql("DROP TABLE graft_dy.main.t")
      assert(!new java.io.File(s"$dir/.dynover-t-deadbeef").exists,
        "DROP sweeps crashed dynamic-overwrite staging")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("CREATE over a crash-stranded name recovers the aside instead of shadowing it (r12 ADVICE)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-aside2")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_cr2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cr2.dir", dir)
    spark.sql("CREATE TABLE graft_cr2.main.t2 (id BIGINT)")
    spark.sql("INSERT INTO graft_cr2.main.t2 VALUES (7)")
    def invalidate(): Unit = spark.sessionState.catalogManager.catalog("graft_cr2")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("main"), "t2"))
    // crash window: table absent from canonical path, data under the aside
    assert(new java.io.File(s"$dir/t2").renameTo(new java.io.File(s"$dir/.old-t2-deadbee1")))
    invalidate()
    // CREATE must NOT succeed over the stranded name — it recovers the aside
    // and reports the table as already existing
    intercept[Exception] { spark.sql("CREATE TABLE graft_cr2.main.t2 (x STRING)") }
    assert(new java.io.File(s"$dir/t2").exists, "aside recovered by the refused CREATE")
    assert(spark.sql("SELECT count(*) FROM graft_cr2.main.t2").head().getLong(0) == 1,
      "pre-crash data survives the refused CREATE")
    // CTAS over the recovered table also refuses (stageCreate path)
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_cr2.main.t2 AS SELECT 1 AS y")
    }
    // orphaned staging/overwrite debris is swept by DROP
    new java.io.File(s"$dir/.staging-t2-feedf00d").mkdirs()
    new java.io.File(s"$dir/.overwrite-t2-feedf00d").mkdirs()
    spark.sql("DROP TABLE graft_cr2.main.t2")
    assert(!new java.io.File(s"$dir/.staging-t2-feedf00d").exists &&
      !new java.io.File(s"$dir/.overwrite-t2-feedf00d").exists,
      "DROP sweeps crash-orphaned staging/overwrite dirs")
  }

  test("ALTER ADD COLUMN refuses FIRST/AFTER instead of silently appending (r12 ADVICE)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-pos")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_pos", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pos.dir", dir)
    spark.sql("CREATE TABLE graft_pos.main.tp (id BIGINT, v STRING)")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_pos.main.tp ADD COLUMN z INT FIRST")
    }
    assert(e.getMessage.toLowerCase.contains("first/after"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_pos.main.tp ADD COLUMN z INT AFTER id")
    }
    // plain append-position ADD COLUMN still works
    spark.sql("ALTER TABLE graft_pos.main.tp ADD COLUMN z INT")
    assert(spark.table("graft_pos.main.tp").columns.toSeq == Seq("id", "v", "z"))
  }

  test("DROP/RENAME refuse unknown namespaces (r11 ADVICE: name-only resolution)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-ns")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_ns", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ns.dir", dir)
    spark.sql("CREATE TABLE graft_ns.main.keep_me (id BIGINT)")
    intercept[Exception] {
      spark.sql("DROP TABLE graft_ns.bogus.keep_me")
    }
    assert(new java.io.File(s"$dir/keep_me").exists,
      "DROP through a bogus namespace must not delete main's table")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_ns.bogus.keep_me RENAME TO graft_ns.bogus.gone")
    }
    assert(new java.io.File(s"$dir/keep_me").exists)
  }

  test("MERGE/UPDATE/DELETE via row-level operations: full action grid (r12 ask #4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-merge")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_mr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mr.dir", dir)
    spark.sql("CREATE TABLE graft_mr.main.t AS " +
      "SELECT * FROM VALUES (1, 'keep'), (2, 'stale'), (3, 'dead'), (4, 'gone') AS v(k, s)")
    // grid: k=1 matched-unchanged (no clause fires), k=2 matched-update,
    // k=3 matched-delete (conditional), k=5 not-matched-insert,
    // k=4 not-matched-by-source-delete
    spark.sql("""MERGE INTO graft_mr.main.t t
      |USING (SELECT * FROM VALUES (1, 'keep'), (2, 'fresh'), (3, 'kill'),
      |       (5, 'new') AS v(k, s)) s
      |ON t.k = s.k
      |WHEN MATCHED AND s.s = 'kill' THEN DELETE
      |WHEN MATCHED AND t.s <> s.s THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *
      |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k, s FROM graft_mr.main.t ORDER BY k")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
    assert(got == Seq(1 -> "keep", 2 -> "fresh", 5 -> "new"), s"got $got")

    // UPDATE and DELETE ride the same row-level operation
    spark.sql("UPDATE graft_mr.main.t SET s = upper(s) WHERE k = 2")
    spark.sql("DELETE FROM graft_mr.main.t WHERE k = 5")
    val got2 = spark.sql("SELECT k, s FROM graft_mr.main.t ORDER BY k")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq
    assert(got2 == Seq(1 -> "keep", 2 -> "FRESH"), s"got $got2")
    // the rewrite is staged: no overwrite debris after commit
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".overwrite-")))
  }

  test("row-level DML never loses rows the scan's pushdown would prune (r13)") {
    // The r12 implementation handed the command condition to the parquet
    // reader as a data filter; row-groups that could not match were
    // skipped, and the whole-table swap then dropped every unread row —
    // `DELETE ... WHERE id = 5` on a multi-file table kept ONLY the file
    // containing id=5. Multi-file disjoint ranges reproduce it: footer
    // stats exclude every other file unless the firewall refuses the push.
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-rg")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_rg", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rg.dir", dir)
    spark.sql("CREATE TABLE graft_rg.main.t AS SELECT id, id * 2 AS v FROM range(0, 1000)")
    spark.sql("INSERT INTO graft_rg.main.t SELECT id, id * 2 FROM range(1000, 2000)")
    def cnt() = spark.sql("SELECT count(*) FROM graft_rg.main.t").head().getLong(0)
    assert(cnt() == 2000)
    spark.sql("DELETE FROM graft_rg.main.t WHERE id = 5")
    assert(cnt() == 1999, "DELETE dropped rows outside the matched row-group")
    spark.sql("UPDATE graft_rg.main.t SET v = -1 WHERE id = 1500")
    assert(cnt() == 1999, "UPDATE dropped rows outside the matched row-group")
    assert(spark.sql("SELECT count(*) FROM graft_rg.main.t WHERE v = -1")
      .head().getLong(0) == 1)
  }

  test("partitioned DML: metadata-only DELETE, partition-scoped rewrite, cross-partition moves (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-pdml")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_pd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pd.dir", dir)
    spark.sql("CREATE TABLE graft_pd.main.t PARTITIONED BY (p) AS " +
      "SELECT id, id * 2 AS v, CAST(id % 5 AS INT) AS p FROM range(0, 1000)")
    def cnt() = spark.sql("SELECT count(*) FROM graft_pd.main.t").head().getLong(0)
    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/t/$part")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }

    // metadata-only: a partition-column predicate plans DeleteFromTable
    // (no ReplaceData rewrite) and drops the directory
    val plan = spark.sql("EXPLAIN DELETE FROM graft_pd.main.t WHERE p = 3")
      .head().getString(0)
    assert(!plan.contains("ReplaceData"), s"partition delete should be metadata-only:\n$plan")
    val p1Before = files("p=1")
    spark.sql("DELETE FROM graft_pd.main.t WHERE p = 3")
    assert(cnt() == 800)
    assert(!new java.io.File(s"$dir/t/p=3").exists(), "partition dir must be dropped")
    assert(files("p=1") == p1Before, "untouched partitions must stay byte-identical")

    // mixed predicate: row-level rewrite scoped to the matched partition
    val p1Static = files("p=1")
    spark.sql("DELETE FROM graft_pd.main.t WHERE p = 2 AND v % 4 = 0")
    assert(cnt() == 700)
    assert(files("p=1") == p1Static, "static partition pruning must scope the rewrite")

    // a row-level delete that empties a partition drops its directory
    spark.sql("DELETE FROM graft_pd.main.t WHERE p = 2 AND v >= 0")
    assert(!new java.io.File(s"$dir/t/p=2").exists(), "emptied partition dir must be dropped")
    assert(cnt() == 600)

    // UPDATE moving a row across partitions: appears in the destination,
    // gone from the source, nothing else changes
    spark.sql("UPDATE graft_pd.main.t SET p = 0 WHERE id = 6")
    assert(spark.sql("SELECT p FROM graft_pd.main.t WHERE id = 6").head().getInt(0) == 0)
    assert(cnt() == 600)

    // committed rewrites leave no staging debris (both phases cleaned)
    assert(!new java.io.File(dir).listFiles().exists(f =>
      f.getName.startsWith(".rlflat-") || f.getName.startsWith(".rlpart-")),
      "committed partition-scoped DML must clean its stagings")
  }

  test("partitioned MERGE: runtime group filtering scopes the rewrite; inserts append to unaffected partitions (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-pmrg")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_pm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pm.dir", dir)
    spark.sql("CREATE TABLE graft_pm.main.t PARTITIONED BY (p) AS " +
      "SELECT id, id * 2 AS v, CAST(id % 5 AS INT) AS p FROM range(0, 1000)")
    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/t/$part")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    // the ON key is NOT the partition column: only runtime group filtering
    // (the dynamic subquery over matched partition values) can scope this.
    // Source rows: all matched ids are ≡ 1 (mod 5) → partition p=1 only;
    // one insert lands in p=4 (no matched rows there → append, not swap).
    val p4Before = files("p=4")
    val p2Before = files("p=2")
    spark.sql("""MERGE INTO graft_pm.main.t t USING
      |  (SELECT id * 10 + 1 AS id, CAST(-1 AS BIGINT) AS v, CAST(1 AS INT) AS p FROM range(1, 20)
      |   UNION ALL SELECT 5000, 7, CAST(4 AS INT)) s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft_pm.main.t").head().getLong(0) == 1001)
    assert(spark.sql("SELECT count(*) FROM graft_pm.main.t WHERE v = -1")
      .head().getLong(0) == 19, "matched rows updated")
    assert(spark.sql("SELECT v FROM graft_pm.main.t WHERE id = 5000").head().getLong(0) == 7)
    assert(files("p=2") == p2Before, "merge must not rewrite partitions without matches")
    val p4After = files("p=4")
    assert(p4Before.forall { case (n, m) => p4After.get(n).contains(m) },
      "an insert into an unaffected partition must append, not replace")
    assert(p4After.size > p4Before.size, "the insert lands as a new file")

    // NOT MATCHED BY SOURCE disables group filtering (every partition is a
    // candidate) — the whole-table path must still be exact
    spark.sql("""MERGE INTO graft_pm.main.t t USING
      |  (SELECT id FROM range(0, 6000) WHERE id % 2 = 0) s
      |ON t.id = s.id
      |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft_pm.main.t WHERE id % 2 = 1")
      .head().getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM graft_pm.main.t").head().getLong(0) == 501)
  }

  test("storage-partitioned join: co-partitioned tables join and aggregate without a shuffle (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-spj")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_sj", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sj.dir", dir)
    spark.sql("CREATE TABLE graft_sj.main.ta PARTITIONED BY (p) AS " +
      "SELECT id, CAST(id % 8 AS INT) AS p FROM range(0, 400)")
    spark.sql("CREATE TABLE graft_sj.main.tb PARTITIONED BY (p) AS " +
      "SELECT id AS jd, CAST(id % 8 AS INT) AS p FROM range(0, 200)")
    val joinSql = "SELECT a.p AS p, count(*) AS n FROM graft_sj.main.ta a " +
      "JOIN graft_sj.main.tb b ON a.p = b.p GROUP BY a.p"
    def planOf(sql: String): String = {
      val df = spark.sql(sql)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val confs = Seq(
      "graft.spj" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // both sides report KeyGroupedPartitioning(p): the join AND the
      // aggregation ride the storage partitioning — zero exchanges
      val plan = planOf(joinSql)
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle:\n$plan")
      val got = spark.sql(joinSql).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == (0 until 8).map(p => p -> 50L * 25L).toMap, s"got $got")

      // partition-keyed aggregation alone is also shuffle-free
      val aggPlan = planOf(
        "SELECT p, count(*) AS n FROM graft_sj.main.ta GROUP BY p")
      assert(!aggPlan.contains("Exchange"),
        s"partition-keyed aggregation must not shuffle:\n$aggPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // opt-in off (even with Spark's v2-bucketing flag at its default
    // TRUE): default size-balanced scan, the join shuffles as usual and
    // the results agree
    val offPlan = planOf(joinSql)
    assert(offPlan.contains("Exchange"), "default path should shuffle")
    val gotOff = spark.sql(joinSql).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(gotOff == (0 until 8).map(p => p -> 50L * 25L).toMap)
  }

  test("storage-partitioned join edges: asymmetric partition values; runtime filtering under SPJ (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-spj2")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_se", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_se.dir", dir)
    // ta has partitions 0..7, tb only 0..3: Spark must align the value sets
    // (pushPartValues), empty on one side = no matches, never wrong rows
    spark.sql("CREATE TABLE graft_se.main.ta PARTITIONED BY (p) AS " +
      "SELECT id, CAST(id % 8 AS INT) AS p FROM range(0, 400)")
    spark.sql("CREATE TABLE graft_se.main.tb PARTITIONED BY (p) AS " +
      "SELECT id AS jd, CAST(id % 4 AS INT) AS p FROM range(0, 200)")
    val saved = Seq("graft.spj", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("graft.spj", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val asym = spark.sql("SELECT a.p AS p, count(*) AS n FROM graft_se.main.ta a " +
        "JOIN graft_se.main.tb b ON a.p = b.p GROUP BY a.p")
      val got = asym.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == (0 until 4).map(p => p -> 50L * 50L).toMap, s"got $got")

      // DPP-style runtime filtering while the scan is key-grouped: a
      // selective dim filter — whatever plan Spark picks, results exact
      val dpp = spark.sql("SELECT a.p AS p, count(*) AS n FROM graft_se.main.ta a " +
        "JOIN graft_se.main.tb b ON a.p = b.p WHERE b.jd = 1 GROUP BY a.p")
      val gotDpp = dpp.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(gotDpp == Map(1 -> 50L), s"got $gotDpp")

      // partition-column-pruned read (count(*) after projection drop) is
      // SPJ-ineligible by design and must still be exact
      assert(spark.sql("SELECT count(*) FROM (SELECT id FROM graft_se.main.ta)")
        .head().getLong(0) == 400)

      // hot-value skew: force within-value splits (tiny maxPartitionBytes)
      // and run under the partially-clustered mode — Spark may keep the
      // same-key splits and replicate the other side; either way exact
      val savedSkew = Seq("spark.sql.files.maxPartitionBytes",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      try {
        val skew = spark.sql("SELECT a.p AS p, count(*) AS n FROM graft_se.main.ta a " +
          "JOIN graft_se.main.tb b ON a.p = b.p GROUP BY a.p")
        val gotSkew = skew.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(gotSkew == (0 until 4).map(p => p -> 50L * 50L).toMap, s"got $gotSkew")
      } finally savedSkew.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition management: SHOW PARTITIONS, ADD/DROP PARTITION over the hive layout (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-pm")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_pt", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pt.dir", dir)
    // two-level layout with a value needing path escaping (space)
    spark.sql("CREATE TABLE graft_pt.main.t PARTITIONED BY (p, q) AS " +
      "SELECT id, CAST(id % 3 AS INT) AS p, " +
      "CASE WHEN id % 2 = 0 THEN 'ev en' ELSE 'odd' END AS q FROM range(0, 60)")
    def shown(extra: String = "") =
      spark.sql(s"SHOW PARTITIONS graft_pt.main.t $extra").collect()
        .map(_.getString(0)).sorted.toSeq
    assert(shown() == Seq("p=0/q=ev en", "p=0/q=odd", "p=1/q=ev en",
      "p=1/q=odd", "p=2/q=ev en", "p=2/q=odd"))
    assert(shown("PARTITION (p=1)") == Seq("p=1/q=ev en", "p=1/q=odd"))
    assert(shown("PARTITION (q='ev en')") ==
      Seq("p=0/q=ev en", "p=1/q=ev en", "p=2/q=ev en"),
      "escaped values must round-trip through listing and filtering")

    spark.sql("ALTER TABLE graft_pt.main.t ADD PARTITION (p=9, q='new')")
    assert(new java.io.File(s"$dir/t/p=9").isDirectory)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_pt.main.t ADD PARTITION (p=9, q='new')")
    }
    // DROP PARTITION = metadata-only retention: the directory goes, every
    // other partition's files untouched
    spark.sql("ALTER TABLE graft_pt.main.t DROP PARTITION (p=1, q='odd')")
    assert(!new java.io.File(s"$dir/t/p=1/q=odd").exists())
    assert(spark.sql("SELECT count(*) FROM graft_pt.main.t").head().getLong(0) == 50)
  }

  test("ALTER TABLE DROP COLUMN: metadata-only, tombstoned against resurrection (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-dc")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_dc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dc.dir", dir)
    spark.sql("CREATE TABLE graft_dc.main.t PARTITIONED BY (p) AS " +
      "SELECT id, id * 2 AS v, concat('s', id) AS s, CAST(id % 3 AS INT) AS p " +
      "FROM range(0, 30)")
    def files(): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(s"$dir/t")).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    spark.sql("ALTER TABLE graft_dc.main.t DROP COLUMN v")
    assert(files() == before, "DROP COLUMN must not rewrite any file")
    assert(spark.table("graft_dc.main.t").columns.toSeq == Seq("id", "s", "p"))
    assert(spark.sql("SELECT count(*) FROM graft_dc.main.t").head().getLong(0) == 30)
    // resurrection guard: the bytes are still in the files — same name refuses
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_dc.main.t ADD COLUMN v BIGINT")
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    // a NEW name evolves fine and reads null over old files
    spark.sql("ALTER TABLE graft_dc.main.t ADD COLUMN w BIGINT")
    assert(spark.sql("SELECT count(*) FROM graft_dc.main.t WHERE w IS NULL")
      .head().getLong(0) == 30)
    // partition columns and the last data column are protected
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE graft_dc.main.t DROP COLUMN p")
    }.getMessage.contains("partition column"))
    spark.sql("ALTER TABLE graft_dc.main.t DROP COLUMN s")
    spark.sql("ALTER TABLE graft_dc.main.t DROP COLUMN w")
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE graft_dc.main.t DROP COLUMN id")
    }.getMessage.contains("at least one data column"))
  }

  test("governance applies to time-travel snapshots (r13)") {
    import graft.plans.{GovernancePolicies, TablePolicy}
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-gtt")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_gt", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_gt.dir", dir)
    spark.sql("CREATE TABLE graft_gt.main.t AS SELECT id, id * 2 AS v FROM range(0, 100)")
    spark.conf.set(graft.catalog.History.Key, "1")
    try {
      spark.sql("INSERT OVERWRITE graft_gt.main.t SELECT id, id * 10 AS v FROM range(0, 50)")
      // the generation holds the ORIGINAL 100 rows; a row policy must gate
      // the snapshot exactly like the live table — history is not a
      // governance bypass
      GovernancePolicies.register("t", TablePolicy(rowFilterSql = Some("id < 10")))
      try {
        assert(spark.sql("SELECT count(*) FROM graft_gt.main.t").head().getLong(0) == 10)
        assert(spark.sql("SELECT count(*) FROM graft_gt.main.t VERSION AS OF '1'")
          .head().getLong(0) == 10,
          "a time-travel read must not bypass the row policy")
      } finally GovernancePolicies.clear()
      assert(spark.sql("SELECT count(*) FROM graft_gt.main.t VERSION AS OF '1'")
        .head().getLong(0) == 100)
    } finally spark.conf.unset(graft.catalog.History.Key)
  }

  test("governance gates snapshot tables: live read, manifest time travel, incremental feed (r14)") {
    import graft.plans.{GovernancePolicies, TablePolicy}
    val dir = java.nio.file.Files.createTempDirectory("graft-gsnap")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_gs", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_gs.dir", dir)
    val prev = spark.conf.getOption(graft.catalog.History.Key)
    spark.conf.set(graft.catalog.History.Key, "2")
    try {
      spark.sql("CREATE TABLE graft_gs.main.t PARTITIONED BY (k) " +
        "TBLPROPERTIES ('snapshots'='true') AS " +
        "SELECT id, id * 2 AS v, CAST(id % 4 AS INT) AS k FROM range(100)")
      spark.sql("DELETE FROM graft_gs.main.t WHERE k = 3")
      GovernancePolicies.register("t",
        TablePolicy(rowFilterSql = Some("id < 10"), dropColumns = Seq("v")))
      try {
        // live read: row filter + column drop (ids 0-9 minus k=3's 3 and 7)
        assert(spark.sql("SELECT count(*) FROM graft_gs.main.t").head().getLong(0) == 8)
        assert(!spark.table("graft_gs.main.t").columns.contains("v"))
        // manifest time travel is not a governance bypass
        assert(spark.sql("SELECT count(*) FROM graft_gs.main.t VERSION AS OF '1'")
          .head().getLong(0) == 10,
          "snapshot time travel must not bypass the row policy")
      } finally GovernancePolicies.clear()
      assert(spark.sql("SELECT count(*) FROM graft_gs.main.t VERSION AS OF '1'")
        .head().getLong(0) == 100)
    } finally prev match {
      case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
      case None => spark.conf.unset(graft.catalog.History.Key)
    }
  }

  test("bucketed co-located join pattern: high-cardinality keys, zero exchanges (r13)") {
    // Co-locating a HIGH-cardinality join key: store an explicit bucket
    // column kb = pmod(hash(k), 16) and partition by it. Both sides bucket
    // with the same expression, the join lists kb alongside k (implied by
    // k = k under identical bucketing, stated explicitly so the cluster
    // keys cover the partition keys), and SPJ runs the join shuffle-free.
    // This is the graft bucketing CONTRACT: same expression, same bucket
    // count, join on (kb, k) — documented in SURVEY §8.
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-bkt")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_bk", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_bk.dir", dir)
    spark.sql("CREATE TABLE graft_bk.main.fact PARTITIONED BY (kb) AS " +
      "SELECT id, id % 1000 AS k, CAST(pmod(hash(id % 1000), 16) AS INT) AS kb " +
      "FROM range(0, 4000)")
    spark.sql("CREATE TABLE graft_bk.main.dim PARTITIONED BY (kb) AS " +
      "SELECT id AS k, concat('name-', id) AS nm, " +
      "CAST(pmod(hash(id), 16) AS INT) AS kb FROM range(0, 1000)")
    val confs = Seq(
      "graft.spj" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // the join clusters on (kb, k) while storage clusters on kb alone —
      // a valid co-partitioning (equal kb ⇒ same partition), accepted when
      // Spark is told not to demand the FULL cluster key set
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // grouping keeps kb in the keys: clustering by kb satisfies the
      // (kb, k) distribution, so the aggregation is exchange-free too
      val q = spark.sql("SELECT f.k AS k, count(*) AS n, min(d.nm) AS nm " +
        "FROM graft_bk.main.fact f JOIN graft_bk.main.dim d " +
        "ON f.kb = d.kb AND f.k = d.k GROUP BY f.kb, f.k")
      val rows = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle:\n$plan")
      assert(rows.length == 1000)
      assert(rows.forall(_.getLong(1) == 4L), "every key joins its 4 fact rows")
      assert(rows.forall(r => r.getString(2) == s"name-${r.getLong(0)}"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("time travel: VERSION/TIMESTAMP AS OF over retained generations (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-tt")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_tt", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tt.dir", dir)
    def sum() = spark.sql("SELECT sum(v) FROM graft_tt.main.t").head().getLong(0)
    def sumAt(v: String) = spark.sql(
      s"SELECT sum(v) FROM graft_tt.main.t VERSION AS OF '$v'").head().getLong(0)

    spark.sql("CREATE TABLE graft_tt.main.t AS SELECT id, id AS v FROM range(0, 10)") // sum 45
    // history off: replacing commits drop the old contents, travel refuses
    spark.sql("INSERT OVERWRITE graft_tt.main.t SELECT id, id * 10 AS v FROM range(0, 10)")
    val off = intercept[Exception] { sumAt("1") }
    assert(off.getMessage.contains("no retained generations"))

    spark.conf.set(graft.catalog.History.Key, "2")
    try {
      val t0 = new java.sql.Timestamp(System.currentTimeMillis()).toString
      Thread.sleep(60)
      spark.sql("INSERT OVERWRITE graft_tt.main.t SELECT id, id * 100 AS v FROM range(0, 10)")
      Thread.sleep(60)
      val t1 = new java.sql.Timestamp(System.currentTimeMillis()).toString
      Thread.sleep(60)
      spark.sql("INSERT OVERWRITE graft_tt.main.t SELECT id, id * 1000 AS v FROM range(0, 10)")
      assert(sum() == 45000)
      assert(sumAt("1") == 4500, "one generation back")
      assert(sumAt("2") == 450, "two generations back")
      // exact retirement stamp addressing
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gens = graft.catalog.History.generations(fs,
        new org.apache.hadoop.fs.Path(dir), "t")
      assert(gens.length == 2)
      assert(sumAt(gens.head._1.toString) == 4500)
      // TIMESTAMP AS OF: before the ×100 overwrite the ×10 table was live;
      // between the overwrites the ×100 table was; now = current
      assert(spark.sql(s"SELECT sum(v) FROM graft_tt.main.t TIMESTAMP AS OF '$t0'")
        .head().getLong(0) == 450)
      assert(spark.sql(s"SELECT sum(v) FROM graft_tt.main.t TIMESTAMP AS OF '$t1'")
        .head().getLong(0) == 4500)
      assert(spark.sql("SELECT sum(v) FROM graft_tt.main.t TIMESTAMP AS OF current_timestamp()")
        .head().getLong(0) == 45000)

      // retention: a third overwrite prunes to the newest 2 generations
      spark.sql("INSERT OVERWRITE graft_tt.main.t SELECT id, id * 7 AS v FROM range(0, 10)")
      assert(sumAt("1") == 45000 && sumAt("2") == 4500)
      assert(intercept[Exception] { sumAt("3") }
        .getMessage.contains("retains 2 generation"))

      // TRUNCATE is a replacing commit too — the pre-truncate contents travel
      spark.sql("TRUNCATE TABLE graft_tt.main.t")
      assert(spark.sql("SELECT count(*) FROM graft_tt.main.t").head().getLong(0) == 0)
      assert(sumAt("1") == 315)

      // partitioned tables refuse (per-partition mutations have no
      // whole-table generation)
      spark.sql("CREATE TABLE graft_tt.main.p PARTITIONED BY (k) AS " +
        "SELECT id, CAST(id % 2 AS INT) AS k FROM range(0, 10)")
      spark.sql("INSERT OVERWRITE graft_tt.main.p SELECT id, CAST(id % 2 AS INT) FROM range(0, 4)")
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM graft_tt.main.p VERSION AS OF '1'").collect()
      }
      assert(e.getMessage.contains("partitioned"))

      // DROP sweeps the table's generations with it
      spark.sql("DROP TABLE graft_tt.main.t")
      assert(graft.catalog.History.generations(fs,
        new org.apache.hadoop.fs.Path(dir), "t").isEmpty)
    } finally spark.conf.unset(graft.catalog.History.Key)
  }

  test("sort_order tables: files are internally sorted and range-disjoint; compaction preserves order (r14)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-sort")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_so", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_so.dir", dir)
    val prevCoalesce = spark.conf.getOption("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // UNPARTITIONED sorted table: rows arrive scattered, the declared
      // sort order range-partitions + sorts them at write time
      spark.sql("CREATE TABLE graft_so.main.t (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('sort_order'='id')")
      spark.sql("INSERT INTO graft_so.main.t " +
        "SELECT (id * 769) % 1000 AS id, concat('v', id) AS v FROM range(1000)")
      val tdir = new Path(s"$dir/t")
      val fs = tdir.getFileSystem(spark.sessionState.newHadoopConf())
      def dataFiles(p: Path): Seq[Path] = fs.listStatus(p).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
          st.getLen > 0)
        .map(_.getPath)
        .filter(f => spark.read.parquet(f.toString).limit(1).count() > 0)
      val files = dataFiles(tdir)
      assert(files.size > 1, s"expected several sorted files, got ${files.size}")
      // every file internally sorted…
      files.foreach { f =>
        val ids = spark.read.parquet(f.toString).select("id")
          .collect().map(_.getLong(0)).toSeq
        assert(ids == ids.sorted, s"$f not internally sorted")
      }
      // …and the files' [min, max] ranges are DISJOINT (footer-stats
      // skipping: a point predicate touches one file)
      val conf = spark.sessionState.newHadoopConf()
      val schema = new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType)
      val ranges = files.map { f =>
        val st = graft.catalog.FileStats.read(conf, f, schema)("id")
        (st.min.get.asInstanceOf[Number].longValue(),
          st.max.get.asInstanceOf[Number].longValue())
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi <= lo2,
          s"file ranges overlap: $ranges")
        case _ => ()
      }
      // content round-trip
      assert(spark.sql("SELECT count(*), sum(id) FROM graft_so.main.t")
        .head().toSeq == Seq(1000L, (0L until 1000L).map(i => (i * 769) % 1000).sum))

      // PARTITIONED + sorted: appends decay to several files per
      // partition; compaction restores one file per partition AND keeps it
      // sorted (the declared order survives the rewrite)
      spark.sql("CREATE TABLE graft_so.main.p (id BIGINT, k INT) " +
        "PARTITIONED BY (k) TBLPROPERTIES ('sort_order'='id')")
      spark.sql("INSERT INTO graft_so.main.p " +
        "SELECT (id * 31) % 500 AS id, CAST(id % 2 AS INT) AS k FROM range(500)")
      spark.sql("INSERT INTO graft_so.main.p " +
        "SELECT (id * 17) % 500 + 1000 AS id, CAST(id % 2 AS INT) AS k FROM range(500)")
      graft.sources.Writers.compactPartitioned(spark, s"$dir/p", "k")
      spark.sessionState.catalogManager.catalog("graft_so")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("main"), "p"))
      Seq(0, 1).foreach { k =>
        dataFiles(new Path(s"$dir/p/k=$k")).foreach { f =>
          val ids = spark.read.parquet(f.toString).select("id")
            .collect().map(_.getLong(0)).toSeq
          assert(ids == ids.sorted, s"compacted $f lost the sort order")
        }
      }
      assert(spark.sql("SELECT count(*) FROM graft_so.main.p").head().getLong(0) == 1000)
      // invalid sort_order refuses at CREATE
      intercept[Exception] {
        spark.sql("CREATE TABLE graft_so.main.bad (id BIGINT) " +
          "TBLPROPERTIES ('sort_order'='nope')")
      }
    } finally prevCoalesce match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("commit lock: a held lock refuses replacing commits; stale locks break (r14)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-lock")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_cl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cl.dir", dir)
    spark.sql("CREATE TABLE graft_cl.main.t AS SELECT id FROM range(10)")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val lock = new Path(dir, ".commitlock-t")
    val out = fs.create(lock, false)
    out.write("held".getBytes("UTF-8")); out.close()

    // a live lock: the replacing commit refuses LOUDLY, table unchanged
    val ex = intercept[Exception] {
      spark.sql("INSERT OVERWRITE graft_cl.main.t SELECT id + 100 FROM range(5)")
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(causes(ex).exists(_.contains("concurrent replacing commit")),
      s"unexpected failure: ${causes(ex)}")
    assert(spark.sql("SELECT count(*), max(id) FROM graft_cl.main.t")
      .head().toSeq == Seq(10L, 9L))

    // a STALE lock (older than the TTL) is broken and the commit proceeds
    fs.setTimes(lock, System.currentTimeMillis() - 700000L, -1)
    spark.sql("INSERT OVERWRITE graft_cl.main.t SELECT id + 100 FROM range(5)")
    assert(spark.sql("SELECT count(*), min(id) FROM graft_cl.main.t")
      .head().toSeq == Seq(5L, 100L))
    assert(!fs.exists(lock), "lock must be released after the commit")
  }

  test("file-granularity DML: point DELETE/UPDATE rewrite only matched files (r14)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-filedml")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_fg", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_fg.dir", dir)
    spark.sql("CREATE TABLE graft_fg.main.t (id BIGINT, v STRING)")
    // 10 range-clustered files: per-file id ranges are disjoint, so footer
    // min/max pin a point predicate to exactly one file
    spark.range(100).selectExpr("id", "concat('v', id) AS v")
      .repartitionByRange(10, org.apache.spark.sql.functions.col("id"))
      .writeTo("graft_fg.main.t").append()
    val tdir = new Path(s"$dir/t")
    val fs = tdir.getFileSystem(spark.sessionState.newHadoopConf())
    def files(): Map[String, Long] = fs.listStatus(tdir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> st.getLen).toMap
    val before = files()
    assert(before.size >= 10, s"expected >=10 data files, got ${before.size}")

    spark.sql("DELETE FROM graft_fg.main.t WHERE id = 55")
    val afterDelete = files()
    // exactly one original file was replaced; every other file survived
    // with its exact name and byte length (files are immutable — same name
    // = same bytes)
    val removed = before.keySet -- afterDelete.keySet
    assert(removed.size == 1, s"delete rewrote ${removed.size} files: $removed")
    (before.keySet & afterDelete.keySet).foreach { n =>
      assert(before(n) == afterDelete(n), s"$n changed size")
    }
    assert(spark.sql("SELECT count(*) FROM graft_fg.main.t").head().getLong(0) == 99)
    assert(spark.sql("SELECT count(*) FROM graft_fg.main.t WHERE id = 55")
      .head().getLong(0) == 0)

    spark.sql("UPDATE graft_fg.main.t SET v = 'patched' WHERE id = 7")
    val afterUpdate = files()
    val removed2 = afterDelete.keySet -- afterUpdate.keySet
    assert(removed2.size == 1, s"update rewrote ${removed2.size} files: $removed2")
    assert(spark.sql("SELECT v FROM graft_fg.main.t WHERE id = 7")
      .head().getString(0) == "patched")
    assert(spark.sql("SELECT count(*) FROM graft_fg.main.t").head().getLong(0) == 99)
    // the neighbor rows of the rewritten file survived the copy
    assert(spark.sql("SELECT v FROM graft_fg.main.t WHERE id = 8")
      .head().getString(0) == "v8")

    // with history retention ON, file-scoped edits would break whole-table
    // generations — the engine falls back to the staged swap (every data
    // file replaced, the old contents retired as a generation)
    val prev = spark.conf.getOption(graft.catalog.History.Key)
    spark.conf.set(graft.catalog.History.Key, "1")
    try {
      spark.sql("DELETE FROM graft_fg.main.t WHERE id = 90")
      val afterHist = files()
      assert((afterUpdate.keySet & afterHist.keySet).isEmpty,
        "history-on point delete must take the whole-table swap path")
      assert(spark.sql("SELECT count(*) FROM graft_fg.main.t").head().getLong(0) == 98)
      // and the pre-delete state is time-travelable
      assert(spark.sql("SELECT count(*) FROM graft_fg.main.t VERSION AS OF 1")
        .head().getLong(0) == 99)
    } finally prev match {
      case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
      case None => spark.conf.unset(graft.catalog.History.Key)
    }
  }

  test("snapshot tables: atomic multi-partition commits, time travel, retention (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_sn", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sn.dir", dir)
    val prev = spark.conf.getOption(graft.catalog.History.Key)
    spark.conf.set(graft.catalog.History.Key, "5")
    try {
      // v1: CTAS — four partitions of 25 rows
      spark.sql("CREATE TABLE graft_sn.main.t PARTITIONED BY (k) " +
        "TBLPROPERTIES ('snapshots'='true') AS " +
        "SELECT id AS v, CAST(id % 4 AS INT) AS k FROM range(100)")
      def counts(): Map[Int, Long] =
        spark.sql("SELECT k, count(*) AS n FROM graft_sn.main.t GROUP BY k")
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(counts() == Map(0 -> 25L, 1 -> 25L, 2 -> 25L, 3 -> 25L))
      // the manifest carries per-generation row counts (stats without
      // footer reads) and the declared properties read back
      val tPath = new org.apache.hadoop.fs.Path(s"$dir/t")
      val tFs = tPath.getFileSystem(spark.sessionState.newHadoopConf())
      assert(graft.catalog.Snapshots.current(tFs, tPath).get.totalRows
        .contains(100L), "manifest must carry row counts")
      val props = spark.sql("SHOW TBLPROPERTIES graft_sn.main.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("snapshots").contains("true"), s"got $props")

      // a reader resolved BEFORE a multi-partition commit keeps its whole
      // snapshot (generation dirs are retained under graft.history)
      val oldReader = spark.table("graft_sn.main.t")

      // v2: dynamic overwrite of partitions 0 and 1 in ONE commit
      val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.sql("INSERT OVERWRITE graft_sn.main.t " +
        "SELECT id + 1000 AS v, CAST(id % 2 AS INT) AS k FROM range(10)")
      finally prevMode match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      assert(counts() == Map(0 -> 5L, 1 -> 5L, 2 -> 25L, 3 -> 25L))
      // the pre-commit reader still serves the ENTIRE old state
      assert(oldReader.count() == 100)
      assert(oldReader.where("v >= 1000").count() == 0)
      // and VERSION AS OF 1 is that state by name
      assert(spark.sql("SELECT count(*) FROM graft_sn.main.t VERSION AS OF '1'")
        .head().getLong(0) == 100)

      // v3: INSERT INTO appends a generation (existing rows survive)
      spark.sql("INSERT INTO graft_sn.main.t " +
        "SELECT id + 2000 AS v, CAST(2 AS INT) AS k FROM range(7)")
      assert(counts() == Map(0 -> 5L, 1 -> 5L, 2 -> 32L, 3 -> 25L))

      // v4: metadata partition DELETE — one manifest edit, gens retained
      spark.sql("DELETE FROM graft_sn.main.t WHERE k = 3")
      assert(counts() == Map(0 -> 5L, 1 -> 5L, 2 -> 32L))
      assert(spark.sql("SELECT count(*) FROM graft_sn.main.t VERSION AS OF '3'")
        .head().getLong(0) == 67)

      // SHOW PARTITIONS lists from the manifest (k=3 gone, its dirs retained)
      val parts = spark.sql("SHOW PARTITIONS graft_sn.main.t")
        .collect().map(_.getString(0)).toSet
      assert(parts == Set("k=0", "k=1", "k=2"), s"got $parts")

      // v5: partition-scoped MERGE touches only k=2; commit is one manifest
      spark.range(3).selectExpr("id + 2000 AS v", "CAST(2 AS INT) AS k")
        .createOrReplaceTempView("snap_src")
      spark.sql("""MERGE INTO graft_sn.main.t t USING snap_src s
        |ON t.v = s.v AND t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v + 100000
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(counts() == Map(0 -> 5L, 1 -> 5L, 2 -> 32L))
      assert(spark.sql(
        "SELECT count(*) FROM graft_sn.main.t WHERE v >= 102000").head()
        .getLong(0) == 3)

      // v6: the merge REPLACED k=2's generation list — append again so the
      // partition is multi-generation for the compaction case
      spark.sql("INSERT INTO graft_sn.main.t " +
        "SELECT id + 3000 AS v, CAST(2 AS INT) AS k FROM range(4)")
      assert(counts() == Map(0 -> 5L, 1 -> 5L, 2 -> 36L))

      // compaction: k=2 carries several generations; one compact pass
      // collapses them with identical content, old snapshots intact
      val before = spark.sql("SELECT sum(v) FROM graft_sn.main.t").head().getLong(0)
      val compacted = graft.catalog.Snapshots.compact(
        spark, new org.apache.hadoop.fs.Path(s"$dir/t"))
      assert(compacted >= 1, "expected at least one multi-generation partition")
      spark.sessionState.catalogManager.catalog("graft_sn")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("main"), "t"))
      assert(spark.sql("SELECT sum(v) FROM graft_sn.main.t").head().getLong(0) == before)
      assert(counts() == Map(0 -> 5L, 1 -> 5L, 2 -> 36L))

      // TRUNCATE = one empty manifest; previous snapshot fully readable
      spark.sql("TRUNCATE TABLE graft_sn.main.t")
      assert(spark.sql("SELECT count(*) FROM graft_sn.main.t").head().getLong(0) == 0)
      val vs = graft.catalog.Snapshots.versions(
        new org.apache.hadoop.fs.Path(s"$dir/t").getFileSystem(
          spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(s"$dir/t"))
      assert(spark.sql(
        s"SELECT count(*) FROM graft_sn.main.t VERSION AS OF '${vs.init.last}'")
        .head().getLong(0) == 46)
      // the truncated table is still insertable
      spark.sql("INSERT INTO graft_sn.main.t VALUES (1, 9)")
      assert(counts() == Map(9 -> 1L))
    } finally prev match {
      case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
      case None => spark.conf.unset(graft.catalog.History.Key)
    }
  }

  test("snapshot tables: uncommitted debris invisible; concurrent commit refuses (r14)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-snap2")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_s2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_s2.dir", dir)
    spark.sql("CREATE TABLE graft_s2.main.t PARTITIONED BY (k) " +
      "TBLPROPERTIES ('snapshots'='true') AS " +
      "SELECT id AS v, CAST(id % 2 AS INT) AS k FROM range(20)")
    val tableDir = new Path(s"$dir/t")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())

    // a crash between generation adoption and the manifest write leaves an
    // UNREFERENCED generation — readers must not see it
    val stray = new Path(tableDir, "k=0/gen-deadbeefcafe")
    fs.mkdirs(stray)
    spark.range(5).selectExpr("id + 500 AS v").write.mode("overwrite")
      .parquet(stray.toString)
    spark.sessionState.catalogManager.catalog("graft_s2")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("main"), "t"))
    assert(spark.sql("SELECT count(*) FROM graft_s2.main.t").head().getLong(0) == 20)
    assert(spark.sql("SELECT count(*) FROM graft_s2.main.t WHERE v >= 500")
      .head().getLong(0) == 0)

    // a crash MID-MANIFEST-WRITE leaves a truncated file at the claimed
    // version: readers must skip it (the commit never completed) and the
    // next commit must claim a HIGHER version, never re-use the corpse
    val torn = graft.catalog.Snapshots.manifestPath(tableDir, 99L)
    val out2 = fs.create(torn, false)
    out2.write("""{"version":99,"stampMi""".getBytes("UTF-8")); out2.close()
    assert(graft.catalog.Snapshots.current(fs, tableDir).get.version < 99L)
    assert(spark.sql("SELECT count(*) FROM graft_s2.main.t").head().getLong(0) == 20)
    spark.sql("INSERT INTO graft_s2.main.t VALUES (100, 0)")
    assert(graft.catalog.Snapshots.current(fs, tableDir).get.version == 100L)
    assert(spark.sql("SELECT count(*) FROM graft_s2.main.t").head().getLong(0) == 21)

    // optimistic concurrency (r15 semantics): two commits computed against
    // the same base REBASE when their touched entries are disjoint — both
    // land — and refuse loudly when they overlap, instead of silently
    // retiring the first writer's output
    val base = graft.catalog.Snapshots.current(fs, tableDir)
    // A rewrites k=0's generation list (2 gens after the insert above);
    // B drops the k=1 entry — disjoint keys
    val g0 = base.get.entries("k=0")
    assert(g0.length == 2, s"expected CTAS + insert generations, got $g0")
    graft.catalog.Snapshots.commit(fs, tableDir, base,
      base.get.entries.updated("k=0", g0.take(1)))
    val rebased = graft.catalog.Snapshots.commit(fs, tableDir, base,
      base.get.entries - "k=1")
    // the rebased commit carries BOTH edits: A's k=0 list and B's removal
    assert(rebased.entries("k=0") == g0.take(1))
    assert(!rebased.entries.contains("k=1"))
    // overlapping edit on k=0 against the now-stale base: refuses
    intercept[graft.catalog.ConcurrentCommitException] {
      graft.catalog.Snapshots.commit(fs, tableDir, base,
        base.get.entries.updated("k=0", Nil))
    }

    // the flat compactor refuses snapshot tables (double-read hazard)
    intercept[IllegalArgumentException] {
      graft.sources.Writers.compactPartitioned(spark, s"$dir/t", "k")
    }
  }

  test("multi-namespace catalog: DDL/DML/governed-read cycle (r12 ask #3)") {
    import graft.plans.{ColumnMask, GovernancePolicies, TablePolicy}
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-mns")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_mn", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mn.dir", dir)

    spark.sql("CREATE NAMESPACE graft_mn.stage")
    spark.sql("CREATE NAMESPACE graft_mn.curated")
    val listed = spark.sql("SHOW NAMESPACES IN graft_mn").collect()
      .map(_.getString(0)).toSet
    assert(listed == Set("main", "stage", "curated"), s"got $listed")
    // duplicate namespace refuses
    intercept[Exception] { spark.sql("CREATE NAMESPACE graft_mn.stage") }

    // same basename in three namespaces: independent tables
    spark.sql("CREATE TABLE graft_mn.main.t AS SELECT 1 AS v")
    spark.sql("CREATE TABLE graft_mn.stage.t AS SELECT 10 AS v")
    spark.sql("CREATE TABLE graft_mn.curated.t PARTITIONED BY (k) AS " +
      "SELECT id AS v, concat('k', id % 2) AS k FROM range(6)")
    spark.sql("INSERT INTO graft_mn.stage.t VALUES (20)")
    assert(spark.sql("SELECT sum(v) FROM graft_mn.main.t").head().getLong(0) == 1)
    assert(spark.sql("SELECT sum(v) FROM graft_mn.stage.t").head().getLong(0) == 30)
    assert(spark.sql("SELECT count(*) FROM graft_mn.curated.t WHERE k = 'k0'")
      .head().getLong(0) == 3)
    // physical layout: stage's table under the namespace dir, marker present
    assert(new java.io.File(s"$dir/stage/t").isDirectory)
    assert(new java.io.File(s"$dir/stage/_graft_ns.json").isFile)
    // SHOW TABLES per namespace; main does NOT list namespace dirs as tables
    val mainTables = spark.sql("SHOW TABLES IN graft_mn.main").collect()
      .map(_.getString(1)).toSet
    assert(mainTables == Set("t"), s"got $mainTables")
    assert(spark.sql("SHOW TABLES IN graft_mn.stage").collect()
      .map(_.getString(1)).toSet == Set("t"))

    // name-collision guards: table 'stage' in main / namespace 't' over a table
    intercept[Exception] { spark.sql("CREATE TABLE graft_mn.main.stage AS SELECT 1 AS x") }
    intercept[Exception] { spark.sql("CREATE NAMESPACE graft_mn.t") }

    // cross-namespace rename moves the table (new name is catalog-relative)
    spark.sql("ALTER TABLE graft_mn.stage.t RENAME TO curated.t2")
    assert(spark.sql("SELECT sum(v) FROM graft_mn.curated.t2").head().getLong(0) == 30)
    intercept[Exception] { spark.sql("SELECT * FROM graft_mn.stage.t") }

    // governed read in a non-main namespace (ns-qualified policy key)
    GovernancePolicies.register("curated.t2",
      TablePolicy(masks = Seq(ColumnMask("v", "v % 10"))))
    try {
      assert(spark.sql("SELECT sum(v) FROM graft_mn.curated.t2").head().getLong(0) == 0,
        "mask must apply to the ns-qualified table")
      assert(spark.sql("SELECT sum(v) FROM graft_mn.main.t").head().getLong(0) == 1,
        "policy for curated.t2 must not touch main.t")
    } finally GovernancePolicies.clear()

    // DROP NAMESPACE: non-empty refuses without CASCADE, cascade removes all
    intercept[Exception] { spark.sql("DROP NAMESPACE graft_mn.curated") }
    spark.sql("DROP NAMESPACE graft_mn.curated CASCADE")
    assert(!new java.io.File(s"$dir/curated").exists)
    intercept[Exception] { spark.sql("SELECT * FROM graft_mn.curated.t") }
    // main is not droppable
    intercept[Exception] { spark.sql("DROP NAMESPACE graft_mn.main CASCADE") }
    // unknown-namespace access refuses instead of resolving into table dirs
    intercept[Exception] { spark.sql("SELECT * FROM graft_mn.nope.t") }
  }

  test("TRUNCATE TABLE: staged empty swap keeps the table loadable and insertable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-trunc")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_tr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tr.dir", dir)
    spark.sql("CREATE TABLE graft_tr.main.t AS SELECT 1 AS k, 'a' AS s")
    spark.sql("TRUNCATE TABLE graft_tr.main.t")
    assert(spark.sql("SELECT count(*) FROM graft_tr.main.t").head().getLong(0) == 0)
    assert(spark.table("graft_tr.main.t").columns.toSeq == Seq("k", "s"),
      "schema survives truncation")
    spark.sql("INSERT INTO graft_tr.main.t VALUES (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM graft_tr.main.t").head().getLong(0) == 1)
    // partitioned: truncation empties the layout; sidecar keeps the schema
    spark.sql("CREATE TABLE graft_tr.main.p (v BIGINT, k STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft_tr.main.p SELECT id AS v, concat('k', id % 2) AS k FROM range(10)")
    spark.sql("TRUNCATE TABLE graft_tr.main.p")
    assert(spark.sql("SELECT count(*) FROM graft_tr.main.p").head().getLong(0) == 0)
    assert(!new java.io.File(s"$dir/p/k=k0").exists, "partition dirs removed")
    spark.sql("INSERT INTO graft_tr.main.p SELECT id AS v, concat('k', id % 2) AS k FROM range(4)")
    assert(spark.sql("SELECT count(*) FROM graft_tr.main.p WHERE k = 'k1'")
      .head().getLong(0) == 2)
  }

  test("sampled catalog variant: byte-budget file prefix, strictly read-only (r12 ask #6)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-samp")
      .toFile.getAbsolutePath
    // a multi-file table: 8 part files of ~equal size
    spark.range(80000).select(col("id"), md5(col("id").cast("string")).as("payload"))
      .repartition(8).write.parquet(s"$dir/big")
    spark.conf.set("spark.sql.catalog.graft_full", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_full.dir", dir)
    val fullCount = spark.sql("SELECT count(*) FROM graft_full.main.big").head().getLong(0)
    assert(fullCount == 80000)
    val oneFile = new java.io.File(s"$dir/big").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).min
    // budget ≈ 2.5 files → the sampled catalog serves a strict prefix
    spark.conf.set("spark.sql.catalog.graft_samp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_samp.dir", dir)
    spark.conf.set("spark.sql.catalog.graft_samp.sampling_bytes", (oneFile * 5 / 2).toString)
    val sampled = spark.sql("SELECT count(*) FROM graft_samp.main.big").head().getLong(0)
    assert(sampled > 0 && sampled < fullCount, s"sampled=$sampled full=$fullCount")
    // deterministic: the same prefix every read
    assert(spark.sql("SELECT count(*) FROM graft_samp.main.big").head().getLong(0) == sampled)
    // read-only: every mutation refuses
    intercept[Exception] { spark.sql("INSERT INTO graft_samp.main.big VALUES (1, 'x')") }
    intercept[Exception] { spark.sql("DROP TABLE graft_samp.main.big") }
    intercept[Exception] { spark.sql("CREATE TABLE graft_samp.main.t2 (x INT)") }
    intercept[Exception] { spark.sql("CREATE NAMESPACE graft_samp.ns") }
    // the real table is untouched
    assert(spark.sql("SELECT count(*) FROM graft_full.main.big").head().getLong(0) == 80000)
  }

  test("registerAll registers views in EVERY session, keyed on the session itself") {
    graft.sources.Tables.registerAll(spark, sfDir)
    // a second session must get its own registration pass — temp views are
    // per-session state, and a memo keyed on a recycled identityHashCode slot
    // could silently skip it
    val s2 = spark.newSession()
    graft.sources.Tables.registerAll(s2, sfDir)
    assert(s2.sql("SELECT count(*) FROM region").collect().head.getLong(0) == 5)
    assert(spark.sql("SELECT count(*) FROM region").collect().head.getLong(0) == 5)
  }

  test("catalog-resolved join query returns correct result") {
    val df = spark.sql(
      """SELECT r_name, count(*) AS n
        |FROM graft.main.nation n JOIN graft.main.region r
        |  ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).sum == 25)
    assert(rows.length == 5)
  }

  // ---- r15: unpartitioned snapshot tables (file-level manifests) ----

  test("unpartitioned snapshot table: point DELETE rewrites one file, time travel coexists (r15)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-snapf")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_sf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_sf.dir", dir)
    val prev = spark.conf.getOption(graft.catalog.History.Key)
    spark.conf.set(graft.catalog.History.Key, "3")
    try {
      // CTAS with a range repartition: 4 staged files with DISJOINT v ranges
      spark.sql("CREATE TABLE graft_sf.main.f TBLPROPERTIES ('snapshots'='true') AS " +
        "SELECT /*+ REPARTITION_BY_RANGE(4, v) */ id AS v, concat('d', id) AS s " +
        "FROM range(40)")
      val tableDir = new Path(s"$dir/f")
      val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
      val v1 = graft.catalog.Snapshots.current(fs, tableDir).get
      assert(v1.entries.size == 4, s"expected 4 file entries, got ${v1.entries}")
      assert(v1.entries.keySet.forall(k => !k.contains("=")), "file keys carry no kv")
      // the generation's stats sidecar carries per-file column bounds
      val refs = v1.entries.keySet.toSeq
        .flatMap(rel => graft.catalog.Snapshots.statsOf(fs, tableDir, rel))
      assert(refs.size == 4)
      assert(refs.forall(_.cols.contains("v")))
      assert(v1.totalRows.contains(40L))

      // point DELETE: manifest-stats candidacy pins exactly one file
      spark.sql("DELETE FROM graft_sf.main.f WHERE v = 7")
      val v2 = graft.catalog.Snapshots.current(fs, tableDir).get
      assert(v2.version == v1.version + 1)
      val shared = v1.entries.keySet.intersect(v2.entries.keySet)
      assert(shared.size == 3,
        s"point DELETE must keep 3 of 4 file entries byte-identical, shared=$shared")
      assert(spark.sql("SELECT count(*) FROM graft_sf.main.f").head().getLong(0) == 39)
      assert(spark.sql("SELECT count(*) FROM graft_sf.main.f WHERE v = 7")
        .head().getLong(0) == 0)
      // time travel to the pre-delete manifest still reads the old file
      assert(spark.sql(
        s"SELECT count(*) FROM graft_sf.main.f VERSION AS OF '${v1.version}'")
        .head().getLong(0) == 40)
      assert(spark.sql(s"SELECT count(*) FROM graft_sf.main.f " +
        s"VERSION AS OF '${v1.version}' WHERE v = 7").head().getLong(0) == 1)

      // appends are manifest commits of NEW file keys (old entries inherited)
      spark.sql("INSERT INTO graft_sf.main.f VALUES (100, 'x'), (101, 'y')")
      val v3 = graft.catalog.Snapshots.current(fs, tableDir).get
      assert(v3.entries.keySet.intersect(v2.entries.keySet) == v2.entries.keySet)
      assert(spark.sql("SELECT count(*) FROM graft_sf.main.f").head().getLong(0) == 41)

      // UPDATE through the same file-scoped path: candidacy from the FRESH
      // generation's sidecar (written by the insert commit moments ago)
      // pins exactly the v=100 holder — every other file entry, CTAS-era
      // and freshly-inserted alike, survives byte-identical
      spark.sql("UPDATE graft_sf.main.f SET s = 'upd' WHERE v = 100")
      assert(spark.sql("SELECT s FROM graft_sf.main.f WHERE v = 100")
        .head().getString(0) == "upd")
      assert(spark.sql("SELECT count(*) FROM graft_sf.main.f").head().getLong(0) == 41)
      val v4 = graft.catalog.Snapshots.current(fs, tableDir).get
      val holders100 = v3.entries.keySet.filter { rel =>
        graft.catalog.Snapshots.statsOf(fs, tableDir, rel).forall(ref =>
          graft.catalog.FileStats.mightMatch(
            org.apache.spark.sql.sources.EqualTo("v", 100L), ref.cols))
      }
      assert(v4.entries.keySet.intersect(v3.entries.keySet) ==
        v3.entries.keySet -- holders100,
        s"UPDATE must rewrite exactly the candidate files ($holders100)")

      // TRUNCATE is one empty manifest; the table stays loadable + insertable
      spark.sql("TRUNCATE TABLE graft_sf.main.f")
      assert(spark.sql("SELECT count(*) FROM graft_sf.main.f").head().getLong(0) == 0)
      spark.sql("INSERT INTO graft_sf.main.f VALUES (1, 'z')")
      assert(spark.sql("SELECT count(*) FROM graft_sf.main.f").head().getLong(0) == 1)
    } finally prev match {
      case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
      case None => spark.conf.unset(graft.catalog.History.Key)
    }
  }

  test("snapshot OCC: a commit landing between load and commit is detected, never absorbed (r15)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-occ")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_oc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_oc.dir", dir)
    // retention keeps the superseded snapshot's generations readable, so the
    // stale scan COMPLETES and the conflict surfaces at the COMMIT (with
    // history off, retention would sweep the old files mid-scan instead)
    val prevHist = spark.conf.getOption(graft.catalog.History.Key)
    spark.conf.set(graft.catalog.History.Key, "3")
    try {
    spark.sql("CREATE TABLE graft_oc.main.t PARTITIONED BY (k) " +
      "TBLPROPERTIES ('snapshots'='true') AS " +
      "SELECT id AS v, CAST(id % 2 AS INT) AS k FROM range(20)")
    val tableDir = new Path(s"$dir/t")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())

    // WARM the table cache (this is the snapshot the coming MERGE will scan)
    assert(spark.sql("SELECT count(*) FROM graft_oc.main.t").head().getLong(0) == 20)

    // a concurrent writer commits DIRECTLY (bypassing the catalog cache):
    // it drops partition k=0 — rows the cached table still serves
    val base = graft.catalog.Snapshots.current(fs, tableDir)
    graft.catalog.Snapshots.commit(fs, tableDir, base,
      base.get.entries - "k=0", kind = "delete")

    // an UPDATE touching k=0 computed against the STALE cached snapshot
    // must refuse — the r14 shape read current() at commit time and would
    // have silently resurrected k=0 from rows derived from the old state
    val e = intercept[Exception] {
      spark.sql("UPDATE graft_oc.main.t SET v = v + 1000 WHERE k = 0 AND v < 10")
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(e).isInstanceOf[graft.catalog.ConcurrentCommitException] ||
      e.isInstanceOf[graft.catalog.ConcurrentCommitException],
      s"expected ConcurrentCommitException, got $e")
    // the concurrent delete's effect SURVIVED (nothing absorbed/resurrected)
    spark.sessionState.catalogManager.catalog("graft_oc")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("main"), "t"))
    assert(spark.sql("SELECT count(*) FROM graft_oc.main.t WHERE k = 0")
      .head().getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM graft_oc.main.t").head().getLong(0) == 10)

    // DISJOINT concurrent work lands: direct commit touches k=1's list, a
    // catalog INSERT appends a NEW generation — rebase merges both
    val base2 = graft.catalog.Snapshots.current(fs, tableDir)
    assert(spark.sql("SELECT count(*) FROM graft_oc.main.t").head().getLong(0) == 10)
    graft.catalog.Snapshots.commit(fs, tableDir, base2,
      base2.get.entries.updated("k=1", base2.get.entries("k=1")), kind = "partition")
    spark.sql("INSERT INTO graft_oc.main.t VALUES (500, 0)")
    assert(spark.sql("SELECT count(*) FROM graft_oc.main.t").head().getLong(0) == 11)
    } finally prevHist match {
      case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
      case None => spark.conf.unset(graft.catalog.History.Key)
    }
  }

  test("retention: young orphan generations survive pruning; aged orphans sweep (r15)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-orph")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_or", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_or.dir", dir)
    spark.sql("CREATE TABLE graft_or.main.t PARTITIONED BY (k) " +
      "TBLPROPERTIES ('snapshots'='true') AS " +
      "SELECT id AS v, CAST(id % 2 AS INT) AS k FROM range(10)")
    val tableDir = new Path(s"$dir/t")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())

    // an in-flight writer's adopted-but-uncommitted generation: referenced
    // by NO manifest, mtime = now. A commit's prune must NOT delete it (the
    // r14 shape swept every unreferenced gen dir — killing live commits)
    val inflight = new Path(tableDir, "k=0/gen-inflight0001")
    fs.mkdirs(inflight)
    spark.range(3).selectExpr("CAST(id AS BIGINT) AS v").write
      .mode("overwrite").parquet(inflight.toString)
    spark.sql("INSERT INTO graft_or.main.t VALUES (99, 1)") // commit + prune
    assert(fs.exists(inflight), "young unreferenced generation must survive pruning")

    // aged out (grace = 0): the same orphan is crash debris and sweeps
    val prevGrace = spark.conf.getOption(graft.catalog.Snapshots.OrphanGraceKey)
    spark.conf.set(graft.catalog.Snapshots.OrphanGraceKey, "0")
    try {
      spark.sql("INSERT INTO graft_or.main.t VALUES (98, 1)")
      assert(!fs.exists(inflight), "aged unreferenced generation must sweep")
    } finally prevGrace match {
      case Some(v) => spark.conf.set(graft.catalog.Snapshots.OrphanGraceKey, v)
      case None => spark.conf.unset(graft.catalog.Snapshots.OrphanGraceKey)
    }
  }

  test("commit lock: two breakers over one stale lock — exactly one section at a time (r15)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-lockrace")
      .toFile.getAbsolutePath
    val parent = new Path(dir)
    val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
    // plant a GENUINELY stale lock: a crashed writer's, mtime an hour old —
    // under the default 10-minute TTL every breaker judges it stale, but a
    // FRESH lock re-created by the winning breaker must stay unbreakable
    val lock = new Path(parent, ".commitlock-t")
    val out = fs.create(lock, false); out.write("0".getBytes); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 3600000L, -1L)
    locally {
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
      val acquired = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 8).map { _ =>
        new Thread(() => {
          try {
            graft.catalog.CommitLock.withLock(fs, parent, "t") {
              val n = inside.incrementAndGet()
              maxInside.accumulateAndGet(n, math.max)
              Thread.sleep(5)
              inside.decrementAndGet()
              acquired.incrementAndGet()
            }
          } catch { case _: IllegalStateException => () } // loud refusal is fine
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(maxInside.get() == 1,
        s"mutual exclusion violated: ${maxInside.get()} holders at once")
      assert(acquired.get() >= 1, "at least one breaker must win")
      assert(!fs.exists(lock), "released lock must not linger")
      // no break-marker debris from successful breaks
      val debris = fs.listStatus(parent).map(_.getPath.getName)
        .filter(_.startsWith(".commitlock-t."))
      assert(debris.isEmpty, s"break-marker debris: ${debris.mkString(",")}")
    }
  }

  test("manifest-stats scan pruning: refuted units never reach the file listing (r15)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-sprune")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_pr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pr.dir", dir)
    // sort_order gives range-disjoint files; snapshots carries their stats
    spark.sql("CREATE TABLE graft_pr.main.f TBLPROPERTIES " +
      "('snapshots'='true') AS " +
      "SELECT /*+ REPARTITION_BY_RANGE(4, v) */ id AS v, id * 2 AS w FROM range(400)")
    val df = spark.sql("SELECT v, w FROM graft_pr.main.f WHERE v >= 390")
    // the plan's scan must list at most ONE of the four range-disjoint files
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val nFiles = scans.head.scan
      .asInstanceOf[graft.catalog.GraftStatsScan].delegate.fileIndex
      .allFiles().length
    assert(nFiles == 1, s"manifest stats should prune to 1 file, scanned $nFiles")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (390L until 400L))
    // correctness: unprunable predicates keep everything
    assert(spark.sql("SELECT count(*) FROM graft_pr.main.f").head().getLong(0) == 400)
  }
  test("change data feed: recorded row-level ops, synthesized appends/removals, loud refusal (r15)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_cf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cf.dir", dir)
    val prevH = spark.conf.getOption(graft.catalog.History.Key)
    spark.conf.set(graft.catalog.History.Key, "9")
    try {
      spark.sql("CREATE TABLE graft_cf.main.t (v BIGINT, k INT) PARTITIONED BY (k) " +
        "TBLPROPERTIES ('snapshots'='true', 'changelog'='true')") // v1: init
      spark.sql("INSERT INTO graft_cf.main.t SELECT id, CAST(id % 2 AS INT) " +
        "FROM range(10)") // v2: append
      spark.sql("""MERGE INTO graft_cf.main.t t
        |USING (SELECT CAST(v AS BIGINT) AS v, CAST(k AS INT) AS k
        |       FROM VALUES (0, 0), (1, 1), (100, 0) AS s(v, k)) s
        |ON t.v = s.v AND t.k = s.k
        |WHEN MATCHED AND t.v = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = t.v + 50
        |WHEN NOT MATCHED THEN INSERT (v, k) VALUES (s.v, s.k)""".stripMargin) // v3: rowlevel
      spark.sql("DELETE FROM graft_cf.main.t WHERE k = 1") // v4: partition removal

      val tableDir = new Path(s"$dir/t")
      val feed = graft.catalog.Snapshots.changesBetween(spark, tableDir, 1L, 4L)
        .collect().map(r => (r.getAs[Long]("v"), r.getAs[String]("_change_op"),
          r.getAs[Long]("_change_version"))).toSeq
      // v2 (pure append): 10 synthesized inserts
      assert(feed.count(c => c._3 == 2L && c._2 == "I") == 10)
      assert(feed.count(_._3 == 2L) == 10)
      // v3 (recorded merge): delete of 0, update 1 -> 51 as D+I, insert 100
      val v3 = feed.filter(_._3 == 3L)
      assert(v3.toSet == Set((0L, "D", 3L), (1L, "D", 3L), (51L, "I", 3L),
        (100L, "I", 3L)), s"v3 feed was $v3")
      // v4 (pure removal): partition k=1's rows at v3 as deletes
      val v4 = feed.filter(_._3 == 4L)
      assert(v4.map(_._2).toSet == Set("D"))
      assert(v4.map(_._1).toSet == Set(3L, 5L, 7L, 9L, 51L), s"v4 feed was $v4")

      // replacing commits on a changelog table RECORD their diff too
      spark.sql("INSERT OVERWRITE graft_cf.main.t SELECT id + 1000, " +
        "CAST(id % 2 AS INT) FROM range(4)") // v5: replace, recorded
      val v5 = graft.catalog.Snapshots.changesBetween(spark, tableDir, 4L, 5L)
        .collect().map(r => (r.getAs[Long]("v"), r.getAs[String]("_change_op")))
      assert(v5.filter(_._2 == "D").map(_._1).toSet ==
        Set(2L, 4L, 6L, 8L, 100L), s"v5 deletes: ${v5.toSeq}")
      assert(v5.filter(_._2 == "I").map(_._1).toSet ==
        Set(1000L, 1001L, 1002L, 1003L), s"v5 inserts: ${v5.toSeq}")

      // a replacing commit WITHOUT changelog opted in refuses loudly
      spark.sql("CREATE TABLE graft_cf.main.nolog (v BIGINT, k INT) " +
        "PARTITIONED BY (k) TBLPROPERTIES ('snapshots'='true')")
      spark.sql("INSERT INTO graft_cf.main.nolog SELECT id, CAST(id % 2 AS INT) " +
        "FROM range(4)")
      spark.sql("INSERT OVERWRITE graft_cf.main.nolog SELECT id + 10, " +
        "CAST(id % 2 AS INT) FROM range(4)")
      val nologDir = new Path(s"$dir/nolog")
      val e = intercept[UnsupportedOperationException] {
        graft.catalog.Snapshots.changesBetween(spark, nologDir, 2L, 3L).collect()
      }
      assert(e.getMessage.contains("changelog"))
      // compaction is content-invariant: empty feed, never a refusal
      graft.catalog.Snapshots.compact(spark, tableDir)
      val vNow = graft.catalog.Snapshots.current(
        tableDir.getFileSystem(spark.sessionState.newHadoopConf()), tableDir).get.version
      if (vNow > 5L)
        assert(graft.catalog.Snapshots.changesBetween(spark, tableDir, 5L, vNow).count() == 0)
    } finally prevH match {
      case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
      case None => spark.conf.unset(graft.catalog.History.Key)
    }
  }
  test("file-DML candidacy reads the MANIFEST: non-candidate footers can be unreadable (r15)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-nofooter")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_nf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_nf.dir", dir)
    spark.sql("CREATE TABLE graft_nf.main.f TBLPROPERTIES ('snapshots'='true') AS " +
      "SELECT /*+ REPARTITION_BY_RANGE(4, v) */ id AS v, md5(CAST(id AS STRING)) AS s " +
      "FROM range(400)")
    val tableDir = new Path(s"$dir/f")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = graft.catalog.Snapshots.current(fs, tableDir).get
    assert(v1.entries.size == 4)
    // which file holds v=7? the manifest knows — CORRUPT the other three
    // on disk (garbage bytes, unreadable footers). The r14 footer-pass
    // shape would die here; the manifest path must neither read them for
    // candidacy nor for the commit's stats accounting (inherited).
    def statsOf(rel: String) =
      graft.catalog.Snapshots.statsOf(fs, tableDir, rel).get
    val holders = v1.entries.keySet.filter { rel =>
      graft.catalog.FileStats.mightMatch(
        org.apache.spark.sql.sources.EqualTo("v", 7L), statsOf(rel).cols)
    }
    assert(holders.nonEmpty && holders.size < 4, s"bad range layout: $holders")
    val bystanders = v1.entries.keySet -- holders
    bystanders.foreach { rel =>
      val out = fs.create(new Path(tableDir, rel), true)
      out.write("not parquet at all".getBytes("UTF-8")); out.close()
    }
    spark.sql("DELETE FROM graft_nf.main.f WHERE v = 7")
    val v2 = graft.catalog.Snapshots.current(fs, tableDir).get
    // the corrupted bystander entries survive BYTE-IDENTICAL in the
    // manifest with their sidecar stats untouched (never re-read); the
    // holders were replaced
    assert(v2.entries.keySet.intersect(v1.entries.keySet) == bystanders)
    assert(bystanders.forall(rel => v2.rows(rel) == v1.rows(rel)),
      "non-candidate row accounting must be inherited, not re-read")
    // the replacement files hold the holders' rows minus v=7
    val newRels = (v2.entries.keySet -- v1.entries.keySet).toSeq
    val rows = spark.read.parquet(newRels.map(r =>
      new Path(tableDir, r).toString): _*)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(!rows.contains(7L))
    assert(rows.size == holders.toSeq.map(statsOf(_).rows).sum - 1)
  }
}
