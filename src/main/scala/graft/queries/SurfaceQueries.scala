package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-2 surface closures: the operator rows SURVEY.md §2 lists that had no
  * corpus entry — map functions (F6), RANGE frames (W5), INTERSECT/EXCEPT ALL
  * (T5), last_value/nth_value (W3), band join (J10), OR-of-ranges pushdown (P6) —
  * plus the metadata/session surface: views (M3/M6-M8), catalog-resolved scans
  * with footer statistics (M1-M5/M9/M10), count(*) aggregate pushdown (S7), and
  * session-property limits (X1).
  */
object SurfaceQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private def sql(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => { Tables.registerAll(s, dir); s.sql(q) }

  /** SQL through the graft DSv2 catalog (`graft.main.<t>`), exercising
    * M1/M2/M5/M10 on the correctness path.
    */
  private def catalogSql(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => { Tables.registerCatalog(s, dir); s.sql(q) }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- F6: map functions ----
    "q_map_funcs" -> ((s, d) => {
      val m = map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
      t(s, d, "part").select(
        col("p_partkey"),
        element_at(m, "brand").as("brand_v"),
        element_at(m, "type").as("type_v"),
        size(m).as("n"),
        // serialized: the driver's pandas compare cannot hash raw array cells
        array_join(map_keys(m), ",").as("ks"),
        array_join(map_values(m), ",").as("vs"))
    }),

    // ---- W5: RANGE BETWEEN frame (value-based, deterministic under ties;
    // money sum in BIGINT cents over an exact DECIMAL window sum — the
    // r11/r12 scale-stable idiom, frame bounds stay on the stored double) ----
    "q_window_range" -> sql(
      """SELECT o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))) OVER (
        |    ORDER BY o_totalprice
        |    RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW), 2) * 100
        |    AS BIGINT) AS range_c2
        |FROM orders""".stripMargin),

    // ---- W3 completion: last_value / nth_value over the full frame ----
    "q_window_lastval" -> sql(
      """SELECT o_orderkey,
        |  last_value(o_totalprice) OVER w AS lv,
        |  nth_value(o_totalprice, 2) OVER w AS nv
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // ---- T5: INTERSECT ALL / EXCEPT ALL ----
    "q_intersect_all" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersectAll(t(s, d, "supplier").select(col("s_nationkey").as("nk")))),

    "q_except_all" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .exceptAll(t(s, d, "supplier").select(col("s_nationkey").as("nk")))),

    // ---- J10: band (range) join ----
    "q_join_band" -> ((s, d) => {
      val a = t(s, d, "supplier").select(col("s_suppkey").as("sa"), col("s_acctbal").as("ba"))
      val b = t(s, d, "supplier").select(col("s_suppkey").as("sb"), col("s_acctbal").as("bb"))
      a.join(b, col("sa") < col("sb") &&
          col("bb").between(col("ba") - 100, col("ba") + 100))
        .select("sa", "sb")
    }),

    // ---- P6: OR-of-ranges predicate (pushed as one Or filter) ----
    "q_filter_or" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") < 2 || col("l_quantity") > 49 ||
          (col("l_discount") > 0.09 && col("l_quantity") < 5))
        .agg(count("*").as("n"),
          (round(sum(col("l_extendedprice").cast("decimal(30,8)")), 2) * 100)
            .cast("long").as("s_c2"))),

    // ---- M6/M7/M8: views — create, query through, drop ----
    "q_view_query" -> ((s, d) => {
      Tables.registerAll(s, d)
      // nested money sums ride the exact-DECIMAL chain end to end: the
      // inner per-customer sum stays DECIMAL through the view, the outer
      // sum re-aggregates it exactly, cents on the hash surface
      s.sql("CREATE OR REPLACE TEMPORARY VIEW v_cust_rev AS " +
        "SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(30,8))) AS rev, " +
        "count(*) AS n FROM orders GROUP BY o_custkey")
      s.sql("SELECT c_nationkey, " +
        "CAST(round(sum(rev), 2) * 100 AS BIGINT) AS nation_rev_c2, " +
        "sum(n) AS n_orders " +
        "FROM v_cust_rev JOIN customer ON c_custkey = o_custkey GROUP BY c_nationkey")
    }),

    // ---- M1-M5/M9/M10: catalog-resolved multi-table query ----
    "q_catalog_scan" -> catalogSql(
      """SELECT n_name, count(*) AS n_cust
        |FROM graft.main.customer c JOIN graft.main.nation n
        |  ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name""".stripMargin),

    // CTAS + INSERT through the governed catalog (write surface — exceeds
    // the read-only reference, trino/RecordServiceTransactionHandle.java:
    // 17-19): materialize a table via atomic staged CTAS, append the rest
    // via INSERT, then aggregate the READ-BACK — hash-green proves the
    // write/commit/read cycle preserves content exactly
    "q_catalog_ctas" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_rw"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_rw", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_rw.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_rw.main.nation_ctas")
      s.sql("CREATE TABLE graft_rw.main.nation_ctas AS " +
        "SELECT n_nationkey, n_name, n_regionkey FROM graft.main.nation " +
        "WHERE n_regionkey >= 2")
      s.sql("INSERT INTO graft_rw.main.nation_ctas " +
        "SELECT n_nationkey, n_name, n_regionkey FROM graft.main.nation " +
        "WHERE n_regionkey < 2")
      s.sql("SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name " +
        "FROM graft_rw.main.nation_ctas GROUP BY n_regionkey")
    }),

    // partitioned CTAS + INSERT + schema evolution through the governed
    // catalog (r11 VERDICT asks #2/#3): CTAS a hive-partitioned table,
    // append via INSERT, ADD COLUMN, insert a wider generation, then
    // aggregate the read-back WITH a partition-pruned filter — hash-green
    // proves layout, pruning, and null-filled evolution all preserve
    // content exactly
    "q_catalog_ctas_part" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_pw"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_pw", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_pw.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_pw.main.orders_part")
      s.sql("CREATE TABLE graft_pw.main.orders_part PARTITIONED BY (o_orderpriority) AS " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders " +
        "WHERE o_orderkey % 2 = 0")
      s.sql("INSERT INTO graft_pw.main.orders_part " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders " +
        "WHERE o_orderkey % 2 = 1")
      s.sql("ALTER TABLE graft_pw.main.orders_part ADD COLUMN flagged BOOLEAN")
      // evolved schema order: data cols, then the added col, then the
      // partition col last — (o_orderkey, o_totalprice, flagged, o_orderpriority)
      s.sql("INSERT INTO graft_pw.main.orders_part " +
        "SELECT o_orderkey + 100000000, o_totalprice, true, o_orderpriority " +
        "FROM graft.main.orders WHERE o_orderpriority = '1-URGENT'")
      s.sql("SELECT o_orderpriority, count(*) AS n, " +
        "count(CASE WHEN flagged THEN 1 END) AS n_flagged, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2 " +
        "FROM graft_pw.main.orders_part " +
        "WHERE o_orderpriority IN ('1-URGENT', '5-LOW') GROUP BY o_orderpriority")
    }),

    // dynamic partition overwrite through the catalog (r12 VERDICT ask #2):
    // CTAS a partitioned table from a SUBSET (every third order missing),
    // then INSERT OVERWRITE under partitionOverwriteMode=dynamic with the
    // COMPLETE rows of two priorities — only those two k=v dirs are
    // backfilled (swapped), every other partition keeps its gap. The
    // read-back aggregate is hash-checked against an oracle restating the
    // backfill, so both the replaced and the untouched partitions must
    // come back exactly
    "q_catalog_overwrite_dyn" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_dyn"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_dw", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_dw.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_dw.main.orders_dyn")
      s.sql("CREATE TABLE graft_dw.main.orders_dyn PARTITIONED BY (o_orderpriority) AS " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders " +
        "WHERE o_orderkey % 3 <> 0")
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        s.sql("INSERT OVERWRITE graft_dw.main.orders_dyn " +
          "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders " +
          "WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')")
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.sql("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2 " +
        "FROM graft_dw.main.orders_dyn GROUP BY o_orderpriority")
    }),

    // multi-namespace catalog (r12 VERDICT ask #3, reference
    // trino/RecordServiceMetadata.java:166-189): create two namespaces,
    // CTAS a different slice of nation into each (same basename —
    // independent tables), read back across both — hash-green proves
    // namespace-routed resolution, writes, and listing isolation
    "q_catalog_ns" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_ns"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_nq", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_nq.dir", wdir)
      s.sql("DROP NAMESPACE IF EXISTS graft_nq.stage CASCADE")
      s.sql("DROP NAMESPACE IF EXISTS graft_nq.curated CASCADE")
      s.sql("CREATE NAMESPACE graft_nq.stage")
      s.sql("CREATE NAMESPACE graft_nq.curated")
      s.sql("CREATE TABLE graft_nq.stage.nation AS " +
        "SELECT n_nationkey, n_name, n_regionkey FROM graft.main.nation " +
        "WHERE n_regionkey < 2")
      s.sql("CREATE TABLE graft_nq.curated.nation AS " +
        "SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey " +
        "FROM graft.main.nation WHERE n_regionkey >= 2")
      s.sql("SELECT src, n_regionkey, count(*) AS n, min(n_name) AS first_name " +
        "FROM (SELECT 'stage' AS src, * FROM graft_nq.stage.nation " +
        "      UNION ALL SELECT 'curated' AS src, * FROM graft_nq.curated.nation) " +
        "GROUP BY src, n_regionkey")
    }),

    // SQL MERGE INTO through the catalog (r12 VERDICT ask #4,
    // SupportsRowLevelOperations): the full matched/not-matched/
    // not-matched-by-source grid applied to a persisted snapshot — by the
    // merge identity the post-merge table IS the new snapshot, which the
    // oracle restates directly (the same algebra as
    // operators/Pipelines.scala applyDiff, q_dataset_merge)
    "q_dataset_merge_sql" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_mrg"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_mg", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_mg.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_mg.main.snap")
      s.sql("CREATE TABLE graft_mg.main.snap AS " +
        "SELECT doc_id, source, lang, md5(coalesce(text, '')) AS fp " +
        "FROM graft.main.documents WHERE doc_id % 11 <> 3")
      s.sql("""MERGE INTO graft_mg.main.snap t
        |USING (SELECT doc_id, source, lang,
        |         md5(concat(coalesce(text, ''),
        |           CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END)) AS fp
        |       FROM graft.main.documents WHERE doc_id % 13 <> 5) s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED AND t.fp <> s.fp THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      s.sql("SELECT doc_id, source, lang, fp FROM graft_mg.main.snap")
    }),

    // catalog-persisted view (r12 VERDICT ask #5, reference
    // trino/RecordServiceMetadata.java:392-444): CREATE VIEW stores the
    // text in a catalog sidecar, the read expands it with governance
    // beneath — hash-green proves definition storage, expansion, and the
    // join over the expanded plan all preserve content exactly
    "q_view_catalog" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_vw"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_vw", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_vw.dir", wdir)
      s.sql("CREATE OR REPLACE VIEW graft_vw.main.cust_rev AS " +
        "SELECT o_custkey, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS rev_c2, " +
        "count(*) AS n FROM graft.main.orders GROUP BY o_custkey")
      s.sql("SELECT c_nationkey, sum(rev_c2) AS nation_rev_c2, sum(n) AS n_orders " +
        "FROM graft_vw.main.cust_rev JOIN graft.main.customer ON c_custkey = o_custkey " +
        "GROUP BY c_nationkey")
    }),

    // partitioned in-place compaction: CTAS + INSERT decay a hive layout to
    // two files per partition; Writers.compactPartitioned rebalance-rewrites
    // and rename-swaps to one size-bounded file set per value; the read-back
    // aggregate is hash-checked — compaction must be content-invariant
    "q_catalog_compact" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_cmp"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_cm", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cm.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_cm.main.orders_cmp")
      s.sql("CREATE TABLE graft_cm.main.orders_cmp PARTITIONED BY (o_orderpriority) AS " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders " +
        "WHERE o_orderkey % 2 = 0")
      s.sql("INSERT INTO graft_cm.main.orders_cmp " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders " +
        "WHERE o_orderkey % 2 = 1")
      graft.sources.Writers.compactPartitioned(
        s, s"$wdir/orders_cmp", "o_orderpriority")
      // compaction rewrote the layout — serve the new file listing
      s.sessionState.catalogManager.catalog("graft_cm")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("main"), "orders_cmp"))
      s.sql("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2 " +
        "FROM graft_cm.main.orders_cmp GROUP BY o_orderpriority")
    }),

    // partitioned DELETE (r13): the first DELETE's predicate references
    // only the partition column — `SupportsDeleteV2` plans it as a
    // METADATA-ONLY directory drop (no row read, no file rewritten; the
    // retention primitive at 100 TB). The second mixes a data predicate —
    // the group-based rewrite runs, scoped by static partition pruning to
    // the one matched partition. The read-back aggregate hash-checks both
    // against an oracle restating the deletions.
    "q_catalog_delete_part" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_del"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_dl", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_dl.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_dl.main.orders_del")
      s.sql("CREATE TABLE graft_dl.main.orders_del PARTITIONED BY (o_orderpriority) AS " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders")
      s.sql("DELETE FROM graft_dl.main.orders_del WHERE o_orderpriority = '1-URGENT'")
      s.sql("DELETE FROM graft_dl.main.orders_del " +
        "WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 2 = 0")
      s.sql("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2 " +
        "FROM graft_dl.main.orders_del GROUP BY o_orderpriority")
    }),

    // time travel (r13): with graft.history=N, every replacing commit
    // retires the old contents as a readable generation. Snapshot the
    // documents slice A, overwrite with slice B, then read BOTH states —
    // current from the live table, the pre-overwrite state via VERSION AS
    // OF 1 — and hash-check the union against an oracle restating the two
    // slices. One rename per commit; the snapshot read is an ordinary scan.
    "q_catalog_timetravel" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_tt"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_tv", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_tv.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_tv.main.docs_tt")
      s.sql("CREATE TABLE graft_tv.main.docs_tt AS " +
        "SELECT doc_id, lang, length(coalesce(text, '')) AS tok " +
        "FROM graft.main.documents WHERE doc_id % 5 <> 1")
      val prev = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "2")
      try
        s.sql("INSERT OVERWRITE graft_tv.main.docs_tt " +
          "SELECT doc_id, lang, length(coalesce(text, '')) + 1000000 AS tok " +
          "FROM graft.main.documents WHERE doc_id % 3 = 0")
      finally prev match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_tv.main.docs_tt GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_tv.main.docs_tt VERSION AS OF '1' GROUP BY lang""".stripMargin)
    }),

    // partitioned time travel via snapshot manifests (r14, VERDICT ask #1):
    // the table opts into manifest commits (TBLPROPERTIES snapshots), a
    // DYNAMIC overwrite replaces only the incoming langs' partitions in ONE
    // atomic manifest commit, and VERSION AS OF 1 reads the pre-overwrite
    // state — something per-directory swaps could never reconstruct. The
    // union of both states is hash-checked against an oracle restating the
    // backfill algebra (replaced-or-new partitions serve slice B, untouched
    // partitions keep slice A; v1 is slice A wholesale).
    "q_catalog_timetravel_part" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_ttp"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_tp", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_tp.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_tp.main.docs_ttp")
      s.sql("CREATE TABLE graft_tp.main.docs_ttp PARTITIONED BY (lang) " +
        "TBLPROPERTIES ('snapshots'='true') AS " +
        "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
        "FROM graft.main.documents WHERE doc_id % 5 <> 1")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "2")
      val prevM = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        s.sql("INSERT OVERWRITE graft_tp.main.docs_ttp " +
          "SELECT doc_id, length(coalesce(text, '')) + 1000000 AS tok, lang " +
          "FROM graft.main.documents WHERE doc_id % 3 = 0")
      finally {
        prevH match {
          case Some(v) => s.conf.set(graft.catalog.History.Key, v)
          case None => s.conf.unset(graft.catalog.History.Key)
        }
        prevM match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_tp.main.docs_ttp GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_tp.main.docs_ttp VERSION AS OF '1' GROUP BY lang""".stripMargin)
    }),

    // snapshot-table DML cycle (r14): metadata partition DELETE, a
    // partition-scoped MERGE, and an append — each ONE manifest commit —
    // then the final contents hash-checked against an oracle restating the
    // three mutations in order
    "q_catalog_snap_dml" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_sdm"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_sd", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_sd.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_sd.main.orders_snap")
      s.sql("CREATE TABLE graft_sd.main.orders_snap PARTITIONED BY (o_orderpriority) " +
        "TBLPROPERTIES ('snapshots'='true') AS " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders")
      s.sql("DELETE FROM graft_sd.main.orders_snap WHERE o_orderpriority = '1-URGENT'")
      s.sql("""MERGE INTO graft_sd.main.orders_snap t
        |USING (SELECT o_orderkey, o_orderpriority FROM graft.main.orders
        |       WHERE o_orderkey % 97 = 0) s
        |ON t.o_orderkey = s.o_orderkey AND t.o_orderpriority = s.o_orderpriority
        |WHEN MATCHED THEN UPDATE SET t.o_totalprice = t.o_totalprice + 1""".stripMargin)
      s.sql("INSERT INTO graft_sd.main.orders_snap " +
        "SELECT o_orderkey + 100000000, o_totalprice, o_orderpriority " +
        "FROM graft.main.orders WHERE o_orderpriority = '5-LOW'")
      s.sql("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2 " +
        "FROM graft_sd.main.orders_snap GROUP BY o_orderpriority")
    }),

    // incremental snapshot consumption (r14): two INSERT commits land as
    // two manifest versions; addedBetween(v2, v3) returns EXACTLY the
    // second batch's rows — the tail-the-table primitive an incremental
    // training pipeline reads instead of rescanning the corpus. Oracle
    // restates the second slice directly.
    "q_catalog_snap_changes" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_chg"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_ch", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_ch.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_ch.main.docs_chg")
      s.sql("CREATE TABLE graft_ch.main.docs_chg (doc_id BIGINT, tok INT, lang STRING) " +
        "PARTITIONED BY (lang) TBLPROPERTIES ('snapshots'='true')")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "2") // retain superseded manifests
      try {
        s.sql("INSERT INTO graft_ch.main.docs_chg " +
          "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents WHERE doc_id % 4 = 0")
        s.sql("INSERT INTO graft_ch.main.docs_chg " +
          "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents WHERE doc_id % 4 = 1")
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      val added = graft.catalog.Snapshots.addedBetween(s,
        new org.apache.hadoop.fs.Path(s"$wdir/docs_chg"), 2L, 3L)
      added.createOrReplaceTempView("snap_added")
      s.sql("SELECT lang, count(*) AS n, sum(tok) AS tok_sum, " +
        "min(doc_id) AS min_id FROM snap_added GROUP BY lang")
    }),

    // UNPARTITIONED snapshot table (r15, VERDICT ask #3): file-level
    // manifest entries — a point DELETE and a range UPDATE each replace
    // only their candidate files (candidacy decided from MANIFEST-carried
    // stats, zero footer reads), an INSERT appends new file entries, and
    // VERSION AS OF 1 still reads the pre-mutation files. The union of
    // both states hash-checks against an oracle restating the mutations.
    "q_catalog_snap_file" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_snf"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_fl", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_fl.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_fl.main.docs_f")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "3")
      try {
        s.sql("CREATE TABLE graft_fl.main.docs_f " +
          "TBLPROPERTIES ('snapshots'='true') AS " +
          "SELECT /*+ REPARTITION_BY_RANGE(4, doc_id) */ doc_id, " +
          "length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("DELETE FROM graft_fl.main.docs_f WHERE doc_id = 42")
        s.sql("UPDATE graft_fl.main.docs_f SET tok = tok + 1000000 " +
          "WHERE doc_id >= 100 AND doc_id < 120")
        s.sql("INSERT INTO graft_fl.main.docs_f " +
          "SELECT doc_id + 5000000, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents WHERE doc_id % 7 = 0")
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_fl.main.docs_f GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_fl.main.docs_f VERSION AS OF '1' GROUP BY lang""".stripMargin)
    }),

    // row-level change data feed (r15, VERDICT ask #6): a changelog
    // snapshot table records per-row (op, version) change files for a
    // MERGE's deletes and updates; changesBetween(1, 2) serves them —
    // updates as D(old)+I(new) pairs, deletes as D — hash-checked against
    // an oracle restating the merge's row algebra
    "q_catalog_cdf" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_cdf"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_cd", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cd.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_cd.main.orders_cdf")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "2")
      try {
        s.sql("CREATE TABLE graft_cd.main.orders_cdf PARTITIONED BY (o_orderpriority) " +
          "TBLPROPERTIES ('snapshots'='true', 'changelog'='true') AS " +
          "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders")
        s.sql("""MERGE INTO graft_cd.main.orders_cdf t
          |USING (SELECT o_orderkey, o_totalprice, o_orderpriority
          |       FROM graft.main.orders WHERE o_orderkey % 97 = 0) s
          |ON t.o_orderkey = s.o_orderkey AND t.o_orderpriority = s.o_orderpriority
          |WHEN MATCHED AND t.o_orderkey % 2 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.o_totalprice = t.o_totalprice + 1""".stripMargin)
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      val feed = graft.catalog.Snapshots.changesBetween(s,
        new org.apache.hadoop.fs.Path(s"$wdir/orders_cdf"), 1L, 2L)
      feed.createOrReplaceTempView("cdf_feed")
      s.sql("SELECT _change_op, count(*) AS n, sum(o_orderkey) AS key_sum, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2 " +
        "FROM cdf_feed GROUP BY _change_op")
    }),

    // deletion vectors (r15): merge-on-read DELETEs — a point delete, an
    // IN-list delete re-touching the same file (positions union), and a
    // range delete — each commit ONE tiny (file, pos) parquet + ONE
    // manifest with every data file byte-untouched; the current live view
    // AND the pre-delete VERSION AS OF 1 hash-check against an oracle
    // restating the deletes
    "q_catalog_dv" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_dv"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_dv", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_dv.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_dv.main.docs_dv")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "4")
      try {
        s.sql("CREATE TABLE graft_dv.main.docs_dv " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') AS " +
          "SELECT /*+ REPARTITION_BY_RANGE(4, doc_id) */ doc_id, " +
          "length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("DELETE FROM graft_dv.main.docs_dv WHERE doc_id = 42")
        s.sql("DELETE FROM graft_dv.main.docs_dv WHERE doc_id IN (42, 43, 77)")
        s.sql("DELETE FROM graft_dv.main.docs_dv " +
          "WHERE doc_id >= 500 AND doc_id < 520 AND tok > 0")
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_dv.main.docs_dv GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_dv.main.docs_dv VERSION AS OF '1' GROUP BY lang""".stripMargin)
    }),

    // deletion-vector change feed (r15): the per-commit pair-set
    // difference IS the row-level feed — no changelog recording — so two
    // dv deletes (the second re-deleting an already-dead key, which must
    // NOT re-emit) synthesize exact (op, version) D rows
    "q_catalog_dv_changes" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_dvc"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_dc", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_dc.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_dc.main.docs_dvc")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "4")
      try {
        s.sql("CREATE TABLE graft_dc.main.docs_dvc " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') AS " +
          "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("DELETE FROM graft_dc.main.docs_dvc " +
          "WHERE doc_id >= 100 AND doc_id < 150")
        s.sql("DELETE FROM graft_dc.main.docs_dvc " +
          "WHERE doc_id >= 120 AND doc_id < 180")
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      val feed = graft.catalog.Snapshots.changesBetween(s,
        new org.apache.hadoop.fs.Path(s"$wdir/docs_dvc"), 1L, 3L)
      feed.createOrReplaceTempView("dv_feed")
      s.sql("SELECT _change_op, _change_version, count(*) AS n, " +
        "sum(doc_id) AS key_sum, sum(tok) AS tok_sum " +
        "FROM dv_feed GROUP BY _change_op, _change_version")
    }),

    // SQL TVF over the change feed (r15): graft_table_changes as a plain
    // FROM-clause relation, tag name as the from-version — no Scala API,
    // no temp view
    "q_catalog_tvf" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_tvf"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_tv", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_tv.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_tv.main.docs_tvf")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "5")
      try {
        s.sql("CREATE TABLE graft_tv.main.docs_tvf " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') AS " +
          "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("CALL graft_tv.system.create_tag('main.docs_tvf', 'epoch0')")
        s.sql("DELETE FROM graft_tv.main.docs_tvf " +
          "WHERE doc_id >= 400 AND doc_id < 450")                       // v2
        s.sql("UPDATE graft_tv.main.docs_tvf SET tok = tok + 5 " +
          "WHERE doc_id IN (10, 20)")                                    // v3
        s.sql("INSERT INTO graft_tv.main.docs_tvf " +
          "SELECT doc_id + 9000000, length(coalesce(text, '')), lang " +
          "FROM graft.main.documents WHERE doc_id % 17 = 0")             // v4
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      s.sql("""SELECT concat(_change_op, '_v', _change_version) AS key,
        |  count(*) AS n, sum(doc_id) AS key_sum, sum(tok) AS tok_sum
        |FROM graft_table_changes('graft_tv.main.docs_tvf', 'epoch0', 4)
        |GROUP BY _change_op, _change_version
        |UNION ALL
        |SELECT 'added_3_4' AS key, count(*) AS n, sum(doc_id) AS key_sum,
        |  sum(tok) AS tok_sum
        |FROM graft_table_added('graft_tv.main.docs_tvf', 3, 4)""".stripMargin)
    }),

    // snapshot tags (r15): pin v1 under a name, expire retention down to
    // nothing, and the tagged version is STILL readable by name while the
    // untagged middle version is swept — the "training run X's input"
    // primitive. Hash-checks the tag read against the v1 restatement.
    "q_catalog_tag" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_tag"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_tga", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_tga.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_tga.main.docs_tag")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      val prevG = s.conf.getOption(graft.catalog.Snapshots.OrphanGraceKey)
      s.conf.set(graft.catalog.History.Key, "4")
      s.conf.set(graft.catalog.Snapshots.OrphanGraceKey, "0")
      try {
        s.sql("CREATE TABLE graft_tga.main.docs_tag " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') AS " +
          "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("CALL graft_tga.system.create_tag('main.docs_tag', 'baseline', 1)")
        s.sql("DELETE FROM graft_tga.main.docs_tag WHERE doc_id < 300")   // v2
        s.sql("INSERT INTO graft_tga.main.docs_tag " +
          "SELECT doc_id + 8000000, length(coalesce(text, '')), lang " +
          "FROM graft.main.documents WHERE doc_id % 13 = 0")              // v3
        s.sql("CALL graft_tga.system.expire_snapshots('main.docs_tag', 0)")
      } finally {
        prevH match {
          case Some(v) => s.conf.set(graft.catalog.History.Key, v)
          case None => s.conf.unset(graft.catalog.History.Key)
        }
        prevG match {
          case Some(v) => s.conf.set(graft.catalog.Snapshots.OrphanGraceKey, v)
          case None => s.conf.unset(graft.catalog.Snapshots.OrphanGraceKey)
        }
      }
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_tga.main.docs_tag GROUP BY lang
        |UNION ALL
        |SELECT 'baseline' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_tga.main.docs_tag VERSION AS OF 'baseline' GROUP BY lang""".stripMargin)
    }),

    // metadata tables (r15): `t.partitions` serves LIVE per-partition rows
    // (manifest accounting, dv subtracted), `t.files` physical counts +
    // dv_deleted, `t.history` the retained versions — all hash-checked
    // against an oracle restating the DML
    "q_catalog_meta" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_meta"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_mx", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_mx.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_mx.main.docs_meta")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "4")
      try {
        s.sql("CREATE TABLE graft_mx.main.docs_meta " +
          "USING parquet PARTITIONED BY (lang) " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') AS " +
          "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("DELETE FROM graft_mx.main.docs_meta WHERE doc_id < 50") // v2 dv
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      s.sql("""SELECT concat('part:', partition) AS key,
        |  rows AS a, dv_deleted AS b
        |FROM graft_mx.main.docs_meta.partitions
        |UNION ALL
        |SELECT 'files_total' AS key, sum(rows) AS a, sum(dv_deleted) AS b
        |FROM graft_mx.main.docs_meta.files
        |UNION ALL
        |SELECT 'history' AS key, count(*) AS a, max(version) AS b
        |FROM graft_mx.main.docs_meta.history""".stripMargin)
    }),

    // merge-on-read UPDATE (r15): each UPDATE on the dv table commits one
    // position vector + one tiny generation — no candidate file rewrite —
    // including a re-update of rows the first UPDATE already moved into a
    // fresh generation. Current state, time travel, and the synthesized
    // D+I change feed are all hash-checked.
    "q_catalog_mor_update" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_mor"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_mo", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_mo.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_mo.main.docs_mor")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "5")
      try {
        s.sql("CREATE TABLE graft_mo.main.docs_mor " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') AS " +
          "SELECT /*+ REPARTITION_BY_RANGE(4, doc_id) */ doc_id, " +
          "length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("UPDATE graft_mo.main.docs_mor SET lang = 'xx' " +
          "WHERE doc_id < 100")                                   // v2
        s.sql("UPDATE graft_mo.main.docs_mor SET tok = tok + 1000 " +
          "WHERE doc_id IN (200, 201)")                           // v3
        s.sql("UPDATE graft_mo.main.docs_mor SET lang = 'yy' " +
          "WHERE doc_id = 50")                                    // v4 (re-update)
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      val feed = graft.catalog.Snapshots.changesBetween(s,
        new org.apache.hadoop.fs.Path(s"$wdir/docs_mor"), 1L, 4L)
      feed.createOrReplaceTempView("mor_feed")
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_mo.main.docs_mor GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_mo.main.docs_mor VERSION AS OF '1' GROUP BY lang
        |UNION ALL
        |SELECT concat('feed_', _change_op, '_v', _change_version) AS state,
        |  NULL AS lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM mor_feed GROUP BY _change_op, _change_version""".stripMargin)
    }),

    // bloom file-skipping (r15): the layout clusters by a HASH, so every
    // file's doc_id min/max spans the whole domain and footer candidacy is
    // useless — per-file blooms prove absence instead, and the point
    // DELETEs (dv commits) still land exactly. The silent-miss class this
    // guards: a wrongly-excluded candidate file would leave its matching
    // rows alive and the hash would catch it.
    "q_catalog_bloom" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_blm"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_bm", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_bm.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_bm.main.docs_bl")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "3")
      try {
        s.sql("CREATE TABLE graft_bm.main.docs_bl " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true', " +
          "'bloom_cols'='doc_id,lang', 'bloom_fpp'='0.0001') AS " +
          "SELECT /*+ REPARTITION(8, hashed) */ doc_id, " +
          "hash(doc_id) AS hashed, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("DELETE FROM graft_bm.main.docs_bl WHERE doc_id = 99")
        s.sql("DELETE FROM graft_bm.main.docs_bl WHERE doc_id IN (7, 11, 99, 1234)")
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_bm.main.docs_bl GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_bm.main.docs_bl VERSION AS OF '1' GROUP BY lang""".stripMargin)
    }),

    // SQL maintenance procedures (r15): a dv DELETE, an append, then
    // CALL rollback restores the pre-delete/pre-append version as a NEW
    // commit — current state == v1, while VERSION AS OF still serves the
    // rolled-over history. CALL compact then materializes (now-empty)
    // state content-invariantly. Hash-checked against the base relation.
    "q_catalog_rollback" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_rb"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_rb", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_rb.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_rb.main.docs_rb")
      val prevH = s.conf.getOption(graft.catalog.History.Key)
      s.conf.set(graft.catalog.History.Key, "5")
      try {
        s.sql("CREATE TABLE graft_rb.main.docs_rb " +
          "TBLPROPERTIES ('snapshots'='true', 'deletion_vectors'='true') AS " +
          "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents")
        s.sql("DELETE FROM graft_rb.main.docs_rb WHERE doc_id < 200")
        s.sql("INSERT INTO graft_rb.main.docs_rb " +
          "SELECT doc_id + 7000000, length(coalesce(text, '')) AS tok, lang " +
          "FROM graft.main.documents WHERE doc_id % 11 = 0")
        s.sql("CALL graft_rb.system.rollback('main.docs_rb', 1)")
        s.sql("CALL graft_rb.system.compact('main.docs_rb')")
      } finally prevH match {
        case Some(v) => s.conf.set(graft.catalog.History.Key, v)
        case None => s.conf.unset(graft.catalog.History.Key)
      }
      s.sql("""SELECT 'current' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_rb.main.docs_rb GROUP BY lang
        |UNION ALL
        |SELECT 'v3' AS state, lang, count(*) AS n, sum(tok) AS tok_sum
        |FROM graft_rb.main.docs_rb VERSION AS OF '3' GROUP BY lang""".stripMargin)
    }),

    // storage-partitioned join (r13): both tables are hive-partitioned on
    // the join key, and under the graft.spj opt-in (with Spark's
    // v2-bucketing flag, default-on in 4.x) the
    // catalog scans report KeyGroupedPartitioning — the join AND the final
    // aggregation run with ZERO exchanges (CatalogSpec pins the plan
    // shape); this query hash-checks that the shuffle-free plan computes
    // the same answer as the oracle's restatement. Executed eagerly inside
    // the conf scope; "above average" is exact integer math (price×n vs
    // partition sum in cents) so both engines agree bit-for-bit.
    "q_catalog_spj" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_spj"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_sp", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_sp.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_sp.main.orders_sp")
      s.sql("DROP TABLE IF EXISTS graft_sp.main.prio_stats")
      s.sql("CREATE TABLE graft_sp.main.orders_sp PARTITIONED BY (o_orderpriority) AS " +
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM graft.main.orders")
      s.sql("CREATE TABLE graft_sp.main.prio_stats PARTITIONED BY (o_orderpriority) AS " +
        "SELECT count(*) AS n_rows, " +
        "CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS sum_c2, " +
        "o_orderpriority FROM graft.main.orders GROUP BY o_orderpriority")
      val prev = s.conf.getOption("graft.spj")
      s.conf.set("graft.spj", "true")
      try {
        val df = s.sql(
          "SELECT o.o_orderpriority, count(*) AS n_above, min(st.sum_c2) AS sum_c2 " +
            "FROM graft_sp.main.orders_sp o " +
            "JOIN graft_sp.main.prio_stats st ON o.o_orderpriority = st.o_orderpriority " +
            "WHERE CAST(round(CAST(o.o_totalprice AS DECIMAL(30,8)), 2) * 100 AS BIGINT) " +
            "  * st.n_rows > st.sum_c2 " +
            "GROUP BY o.o_orderpriority")
        val rows = df.collectAsList()
        s.createDataFrame(rows, df.schema)
      } finally prev match {
        case Some(v) => s.conf.set("graft.spj", v)
        case None => s.conf.unset("graft.spj")
      }
    }),

    // bucketed co-located join (r13): HIGH-cardinality key co-location —
    // both tables store kb = pmod(hash(key), 16) and partition by it; the
    // join lists kb beside the key (implied by equal keys under identical
    // bucketing), so under SPJ + requireAllClusterKeysForCoPartition=false
    // the join AND the (kb, key)-grouped aggregation run with zero
    // exchanges (CatalogSpec pins the plan). Hash-checked against an
    // oracle restating the join arithmetic — the bucket column is derived
    // identically on both sides, so it cancels out of the semantics.
    "q_catalog_bucketed" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_bkt"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_bq", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_bq.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_bq.main.orders_bk")
      s.sql("DROP TABLE IF EXISTS graft_bq.main.customer_bk")
      s.sql("CREATE TABLE graft_bq.main.orders_bk PARTITIONED BY (kb) AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice, " +
        "CAST(pmod(hash(o_custkey), 16) AS INT) AS kb FROM graft.main.orders")
      s.sql("CREATE TABLE graft_bq.main.customer_bk PARTITIONED BY (kb) AS " +
        "SELECT c_custkey, c_nationkey, " +
        "CAST(pmod(hash(c_custkey), 16) AS INT) AS kb FROM graft.main.customer")
      val confs = Seq(
        "graft.spj" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
      val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val df = s.sql(
          "SELECT c.c_nationkey, count(*) AS n, " +
            "CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2 " +
            "FROM graft_bq.main.orders_bk o JOIN graft_bq.main.customer_bk c " +
            "ON o.kb = c.kb AND o.o_custkey = c.c_custkey " +
            "GROUP BY c.c_nationkey")
        val rows = df.collectAsList()
        s.createDataFrame(rows, df.schema)
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // partitioned MERGE (r13): the ON key is NOT the partition column, so
    // only Spark's runtime group filtering (a dynamic subquery over the
    // partition values containing matched rows, answered through the scan's
    // SupportsRuntimeV2Filtering) scopes the copy-on-write to the touched
    // `lang=` directories; inserts landing in untouched partitions append.
    // The full read-back is hash-checked against the merge identity.
    "q_catalog_merge_part" -> ((s, d) => {
      Tables.registerCatalog(s, d)
      val wdir = s"target/catalog_${new java.io.File(d).getName}_pmg"
      new java.io.File(wdir).mkdirs()
      s.conf.set("spark.sql.catalog.graft_pg", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_pg.dir", wdir)
      s.sql("DROP TABLE IF EXISTS graft_pg.main.docs_pm")
      s.sql("CREATE TABLE graft_pg.main.docs_pm PARTITIONED BY (lang) AS " +
        "SELECT doc_id, length(coalesce(text, '')) AS tok, lang " +
        "FROM graft.main.documents WHERE doc_id % 7 <> 0")
      s.sql("""MERGE INTO graft_pg.main.docs_pm t
        |USING (SELECT doc_id, length(coalesce(text, '')) + 1000000 AS tok, lang
        |       FROM graft.main.documents WHERE doc_id % 3 = 0) s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET tok = s.tok
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("SELECT doc_id, lang, tok FROM graft_pg.main.docs_pm")
    }),

    // ---- S7: count(*) via aggregate pushdown (footer counts, no data read) ----
    "q_count_pushdown" -> catalogSql(
      "SELECT count(*) AS n FROM graft.main.lineitem"),

    // min/max ride the same footer-statistics pushdown (PlanSpec pins the
    // PushedAggregation line)
    "q_minmax_pushdown" -> catalogSql(
      "SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi, " +
        "min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship " +
        "FROM graft.main.lineitem"),

    // ---- X1: session-property limit applied at scan ----
    "q_session_limit" -> ((s, d) => {
      s.conf.set(graft.plans.SessionProps.LimitKey, "500")
      try t(s, d, "lineitem").agg(count("*").as("n"))
      finally s.conf.unset(graft.plans.SessionProps.LimitKey)
    }),

    // ---- A4 completion: percentile_approx (sketch-based ⇒ rows-only) ----
    "q_percentile_approx" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("p50_approx"))),

    // ---- LSH-blocked embedding dedup (approximate ⇒ rows-only) ----
    // Same threshold as the exact-path oracle q_dedup_embedding (59 pairs at
    // sf0.01), so non-zero rows here are falsifiable recall, not vacuous
    // precision; DedupSpec asserts pairs ⊆ exact and recall ≥ 0.9.
    "q_dedup_embedding_ann" -> ((s, d) => {
      graft.operators.Dedup.embeddingPairs(
        t(s, d, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .select("vec_a", "vec_b")
    }),

    // ---- multimodal frame sampling: REAL GV01 container walk + ImageIO
    // decode of every sampled frame; the sampled count ceil((len%24+1)/4) is
    // oracle-computable from the text length ----
    "q_multimodal_frames" -> ((s, d) =>
      graft.sources.Multimodal.sampleFrames(
        graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"),
        everyK = 4)
        .groupBy("doc_id").agg(count("*").as("n_frames"))),

    // ---- relational surface, batch 2: pivot / unpivot / explode / VALUES ----
    "q_pivot" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")),

    "q_unpivot" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"),
        expr("stack(2, 'extended', l_extendedprice, 'tax', l_tax)").as(Seq("metric", "v")))),

    "q_explode" -> ((s, d) =>
      t(s, d, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").as("pos"),
          round(col("col").cast("double"), 4).as("val"))),

    "q_values" -> ((s, _) =>
      s.sql("SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, NULL) AS t(id, tag)")),

    // ---- function surface, batch 2 ----
    "q_string_funcs2" -> ((s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        trim(lit("  x  ")).as("t"),
        expr("replace(p_name, ' ', '-')").as("rep"),
        expr("split_part(p_name, ' ', 1)").as("sp"),
        instr(col("p_name"), "a").as("ip"),
        repeat(col("p_brand"), 2).as("rp"),
        expr("left(p_name, 3)").as("lf"),
        expr("right(p_name, 3)").as("rt"))),

    "q_date_funcs2" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("dd"),
        add_months(col("o_orderdate"), 3).as("am"),
        last_day(col("o_orderdate")).as("ld"),
        date_add(col("o_orderdate"), 7).as("da"))),

    "q_math_funcs2" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        round(sin(col("o_totalprice") / 100000), 6).as("sn"),
        round(exp(col("o_totalprice") / 1000000), 6).as("ex"),
        signum(col("o_totalprice") - 100000).cast("int").as("sg"),
        round(atan2(col("o_totalprice"), lit(7.0)), 6).as("at"),
        round(log10(col("o_totalprice")), 6).as("lt"),
        round(cbrt(col("o_totalprice")), 6).as("cb"),
        greatest(col("o_totalprice"), lit(150000.0)).as("gr"),
        least(col("o_orderkey") % 10, lit(5L)).as("ls"))),

    // ---- IVF ANN: KMeans coarse quantizer + probe (approximate ⇒ rows-only) ----
    "q_sim_ivf" -> ((s, d) => {
      graft.operators.Similarity.ivfTopK(
        t(s, d, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)
    }),

    // ---- CTEs: plain and recursive ----
    // the HAVING threshold compares an EXACT sum — a double sum could flip
    // a boundary customer's membership at scale, changing the row count
    "q_cte" -> sql(
      """WITH hot AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(30,8))) AS rev
        |  FROM orders GROUP BY o_custkey
        |  HAVING sum(CAST(o_totalprice AS DECIMAL(30,8))) > 500000)
        |SELECT count(*) AS n,
        |  CAST(round(sum(rev), 2) * 100 AS BIGINT) AS total_c2
        |FROM hot""".stripMargin),

    "q_recursive_cte" -> sql(
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 100
        |) SELECT sum(n) AS s, count(*) AS c FROM t""".stripMargin),

    // ---- W5 companion: time-based RANGE frame over event time ----
    "q_window_timerange" -> sql(
      """SELECT o_custkey, o_orderkey,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS c30
        |FROM orders""".stripMargin),

    // ---- time-part extraction over event timestamps ----
    "q_time_parts" -> ((s, d) =>
      t(s, d, "events").select(
        col("event_id"),
        hour(col("ts")).as("h"),
        minute(col("ts")).as("mi"),
        second(col("ts")).as("sec"),
        weekday(col("ts")).as("wd"),
        weekofyear(col("ts")).as("wk"))),

    // ---- window cumulative distribution ----
    "q_window_cume" -> sql(
      """SELECT o_orderkey,
        |  round(cume_dist() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cd
        |FROM orders""".stripMargin),

    // ---- boolean aggregates / count_if ----
    "q_bool_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        expr("bool_and(l_quantity > 0)").as("ba"),
        expr("bool_or(l_discount > 0.05)").as("bo"),
        expr("count_if(l_quantity > 25)").as("ci"))),

    // ---- array functions, batch 2 ----
    "q_array_funcs2" -> ((s, d) => {
      val arr = array(lit(1), lit(2), col("p_size"))
      val arr2 = array(col("p_size"), lit(1), lit(7))
      t(s, d, "part").select(
        col("p_partkey"),
        array_contains(arr, 5).as("ac"),
        array_position(arr, 2).cast("int").as("ap"),
        // serialized: the driver's pandas compare cannot hash raw array cells
        array_join(sort_array(arr2).cast("array<string>"), ",").as("srt"),
        array_join(slice(arr2, 2, 2).cast("array<string>"), ",").as("sl"),
        array_join(reverse(arr2).cast("array<string>"), ",").as("rv"))
    }),

    // ---- statistical aggregates (A-surface completion) ----
    "q_stats_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        round(stddev_samp(col("l_extendedprice")), 2).as("sd"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("cr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cv"),
        round(median(col("l_quantity")), 2).as("md"),
        round(skewness(col("l_extendedprice")), 6).as("sk"),
        round(kurtosis(col("l_extendedprice")), 6).as("ku"))),

    // ---- subquery surface, batch 2 ----
    "q_not_exists" -> sql(
      """SELECT n_name FROM nation n
        |WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |  WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal > 9000)""".stripMargin),

    "q_scalar_select" -> sql(
      """SELECT o_orderkey,
        |  round(o_totalprice / (SELECT avg(o_totalprice) FROM orders), 6) AS rel
        |FROM orders""".stripMargin),

    // ---- table-valued function ----
    "q_range_tvf" -> ((s, _) =>
      s.sql("SELECT id, id * id AS sq FROM range(0, 10)")),

    // ---- function surface, batch 3: TRY semantics, LIKE family, string agg,
    //      bitwise ----
    "q_try_funcs" -> ((s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        expr("try_cast(p_name AS int)").as("tc"),
        expr("try_divide(p_retailprice, p_size)").as("td"),
        expr("try_cast(p_size AS string)").as("ts"))),

    "q_like_funcs" -> ((s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        col("p_name").like("%old%").as("lk"),
        col("p_name").ilike("%OLD%").as("il"),
        col("p_name").rlike("^[a-z]+ ").as("rx"),
        col("p_name").rlike("^[a-z ]+$").as("sm"))),

    "q_string_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("sa"))),

    "q_bitwise" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        (col("o_orderkey").bitwiseAND(255)).as("ba"),
        (col("o_orderkey").bitwiseOR(16)).as("bo"),
        (col("o_orderkey").bitwiseXOR(7)).as("bx"),
        shiftleft(col("o_orderkey"), 2).as("bs"),
        shiftright(col("o_orderkey"), 1).as("br"))),

    // ---- end-to-end curation pipeline: quality → language → dedup ----
    "q_pipeline_curate" -> ((s, d) =>
      graft.operators.Pipelines.curate(t(s, d, "documents"), "doc_id", "text",
        minTokens = 5, lang = "en")),

    // ---- winnowing rolling-hash sketch; the portable-md5 variant makes the
    // full sketch content oracle-checkable (string-joined for the compare) ----
    "q_text_winnow" -> ((s, d) =>
      graft.operators.TextAnalysis.winnowingSketch(
        t(s, d, "documents"), "doc_id", "text", portableHash = true)
        .select(col("doc_id"), size(col("sketch")).as("n"),
          array_join(col("sketch"), ",").as("sk"))),

    // ---- multimodal mapPartitions feature kernel: REAL decoded-domain cell/
    // segment means (exact integers), serialized for the hash compare — the
    // oracle recomputes all 48 values per doc from the synthesis formulas
    // WITHOUT decoding, so a match proves decode + feature math end to end ----
    "q_multimodal_features" -> ((s, d) =>
      graft.sources.Multimodal.featureExtract(
        graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"))
        .select(col("doc_id"), size(col("features")).as("dim"),
          array_join(transform(col("features"),
            x => x.cast("int").cast("string")), ",").as("fv"))),

    // ---- 64-bit aHash perceptual fingerprint over the REAL decoded raster:
    // integer gray / cell-mean / threshold arithmetic, so the oracle's
    // formula recomputation must match the ImageIO pipeline bit for bit ----
    "q_image_phash" -> ((s, d) =>
      graft.sources.Multimodal.imageHash(
        graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"))),

    // ---- the audio analogue: 64-segment unsigned-PCM energy signature,
    // reachable only through a real WAV parse; feeds the same hammingPairs ----
    "q_audio_phash" -> ((s, d) =>
      graft.sources.Multimodal.audioHash(
        graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"))),

    // ---- exact hamming near-dup pairs over those fingerprints: pigeonhole
    // banding (9 bands for k=8) + bit_count verify — recall 1 by
    // construction, so even the PAIR SET hash-matches a brute-force oracle.
    // maxBucket pinned to MaxValue so the structural-recall contract (not
    // the documented hot-bucket trade) is what the oracle checks — the
    // simhash-entry convention ----
    "q_image_phash_pairs" -> ((s, d) =>
      graft.operators.Dedup.hammingPairs(
        graft.sources.Multimodal.imageHash(
          graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")),
        "doc_id", "phash", maxHamming = 8, maxBucket = Int.MaxValue)),

    // ---- the composed IMAGE DEDUP: decode → aHash → pigeonhole pairs →
    // connected components → keep each cluster's smallest id + singletons,
    // in one declarative chain; the recursive-CTE oracle proves the whole
    // multimodal-to-dedup-grid composition ----
    "q_image_dedup" -> ((s, d) => {
      // pinned (the q_image_dedup_incremental convention): the PNG decode
      // kernel runs once; clustering and the survivor anti-join both read it
      val hashes = graft.operators.Par.pin(graft.sources.Multimodal.imageHash(
        graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")))
      // hammingClusters = clusters∘hammingPairs with the clone-flood clique
      // removed: CC over distinct fingerprints, members join their fp's
      // label — identical components (see its scaladoc), pair-free plan
      val labels = graft.operators.Dedup.hammingClusters(hashes, "doc_id",
        "phash", maxHamming = 8, maxBucket = Int.MaxValue)
      hashes.join(
        labels.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
        Seq("doc_id"), "left_anti")
        .select("doc_id")
    }),

    // ---- incremental IMAGE dedup, completing the (exact, near, semantic,
    // image) × (batch, incremental) grid: images < 250 are the persisted
    // hammingState history, images >= 250 are today's batch. Pigeonhole
    // blocking is recall-1 at maxBucket=MaxValue, so unlike the minhash
    // incremental form the WHOLE operator hash-matches a brute-force
    // oracle ----
    "q_image_dedup_incremental" -> ((s, d) => {
      // pinned: the decode kernel runs ONCE over the corpus; both the
      // history-state build and the batch probe read the pinned hashes
      // instead of re-decoding every PNG per branch
      val hashes = graft.operators.Par.pin(graft.sources.Multimodal.imageHash(
        graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")))
      graft.operators.Dedup.hammingIncremental(
        hashes.filter(col("doc_id") >= 250), "doc_id", "phash",
        graft.operators.Dedup.hammingState(
          hashes.filter(col("doc_id") < 250), "doc_id", "phash", maxHamming = 8),
        maxHamming = 8, maxBucket = Int.MaxValue)
    }),

    // ---- fingerprint-state RETRACTION: the [100, 250) images' fps are
    // taken down from the < 250 hammingState (fp-keyed, so the content is
    // un-claimed — exactRetract semantics), and the >= 100 batch re-admits
    // exactly that content ----
    "q_image_dedup_retract" -> ((s, d) => {
      val hashes = graft.operators.Par.pin(graft.sources.Multimodal.imageHash(
        graft.sources.Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")))
      graft.operators.Dedup.hammingIncremental(
        hashes.filter(col("doc_id") >= 100), "doc_id", "phash",
        graft.operators.Dedup.hammingRetract(
          graft.operators.Dedup.hammingState(
            hashes.filter(col("doc_id") < 250), "doc_id", "phash",
            maxHamming = 8),
          hashes.filter(col("doc_id") >= 100 && col("doc_id") < 250),
          "doc_id", "phash"),
        maxHamming = 8, maxBucket = Int.MaxValue)
    })
  )

  val oracles: Map[String, String] = Map(
    // portable winnowing sketch: 16 smallest md5s of the word 5-grams; docs
    // shorter than 5 words yield an empty sketch on both sides
    "q_text_winnow" ->
      ("""WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                                       x -> length(x) > 0) AS ws
        |            FROM documents),
        |g AS (SELECT doc_id, md5(array_to_string(ws[i : i+4], ' ')) AS h
        |      FROM w, range(1, 100000) r(i) WHERE i <= len(ws) - 4),
        |sk AS (SELECT doc_id, list_sort(list_distinct(list(h)))[1:16] AS sketch
        |       FROM g GROUP BY 1)
        |SELECT w.doc_id, coalesce(len(sketch), 0)::INTEGER AS n,
        |  coalesce(array_to_string(sketch, ','), '') AS sk
        |FROM w LEFT JOIN sk ON w.doc_id = sk.doc_id""".stripMargin),

    // sampled frames per video doc = ceil(n_frames / everyK) with
    // n_frames = text byte length % 24 + 1, everyK = 4; only reachable by the
    // engine through an actual container walk
    "q_multimodal_frames" ->
      ("SELECT doc_id, ((octet_length(encode(coalesce(text, ''))) % 24 + 1 + 3) // 4) AS n_frames " +
        "FROM documents WHERE doc_id % 3 = 2"),

    // recomputes all 48 feature integers per doc from the synthesis formulas
    // (image 4x4 cell channel means; audio 48 unsigned-PCM segment means;
    // video cell means across frames) — the engine reaches the same numbers
    // only through real PNG/WAV/GV01 decode
    "q_multimodal_features" ->
      ("""WITH d AS (SELECT doc_id, octet_length(encode(coalesce(text,''))) AS n FROM documents),
        |img AS (SELECT doc_id, n%64+16 AS w, n%48+16 AS h FROM d WHERE doc_id%3=0),
        |ipx AS (SELECT doc_id, (y.i*4)//h*4 + (x.i*4)//w AS c,
        |          ((x.i)*31 + (y.i)*17 + doc_id) & 16777215 AS v
        |        FROM img, range(0, 100) x(i), range(0, 100) y(i)
        |        WHERE x.i < w AND y.i < h),
        |icell AS (SELECT doc_id, c, sum((v>>16)&255)//count(*) AS mr,
        |            sum((v>>8)&255)//count(*) AS mg, sum(v&255)//count(*) AS mb
        |          FROM ipx GROUP BY 1,2),
        |ifeat AS (SELECT doc_id, string_agg(mr||','||mg||','||mb, ',' ORDER BY c) AS fv
        |          FROM icell GROUP BY 1),
        |aud AS (SELECT doc_id, n FROM d WHERE doc_id%3=1),
        |asmp AS (SELECT doc_id, (i.i*48)//n AS seg, (i.i*2654435761 + doc_id) & 65535 AS u
        |         FROM aud, range(0, 100000) i(i) WHERE i.i < n),
        |aseg AS (SELECT doc_id, seg, sum(u)//count(*) AS m FROM asmp GROUP BY 1,2),
        |afeat AS (SELECT a.doc_id, string_agg(coalesce(m, 0), ',' ORDER BY s.i) AS fv
        |          FROM aud a CROSS JOIN range(0,48) s(i)
        |          LEFT JOIN aseg ON aseg.doc_id = a.doc_id AND aseg.seg = s.i
        |          GROUP BY 1),
        |vid AS (SELECT doc_id, n%24+1 AS nf FROM d WHERE doc_id%3=2),
        |vpx AS (SELECT doc_id, (y.i*4)//12*4 + (x.i*4)//16 AS c,
        |          ((x.i)*31 + (y.i)*17 + doc_id*131 + f.i) & 16777215 AS v
        |        FROM vid, range(0,24) f(i), range(0,16) x(i), range(0,12) y(i)
        |        WHERE f.i < nf),
        |vcell AS (SELECT doc_id, c, sum((v>>16)&255)//count(*) AS mr,
        |            sum((v>>8)&255)//count(*) AS mg, sum(v&255)//count(*) AS mb
        |          FROM vpx GROUP BY 1,2),
        |vfeat AS (SELECT doc_id, string_agg(mr||','||mg||','||mb, ',' ORDER BY c) AS fv
        |          FROM vcell GROUP BY 1),
        |u AS (SELECT doc_id, fv FROM ifeat UNION ALL SELECT doc_id, fv FROM afeat
        |      UNION ALL SELECT doc_id, fv FROM vfeat)
        |SELECT doc_id, 48 AS dim, fv FROM u""".stripMargin),

    // recomputes each image's aHash from the pixel formula: per-pixel integer
    // gray, 8x8 cell means, mean-of-means threshold, bit c at 1<<c (bit 63
    // via the min-long literal — DuckDB raises on 1<<63)
    "q_image_phash" ->
      ("""WITH d AS (SELECT doc_id, octet_length(encode(coalesce(text,''))) AS n FROM documents),
        |img AS (SELECT doc_id, n%64+16 AS w, n%48+16 AS h FROM d WHERE doc_id%3=0),
        |px AS (SELECT doc_id, (y.i*8)//h*8 + (x.i*8)//w AS c,
        |         ((x.i*31 + y.i*17 + doc_id) & 16777215) AS v
        |       FROM img, range(0, 100) x(i), range(0, 100) y(i)
        |       WHERE x.i < w AND y.i < h),
        |cell AS (SELECT doc_id, c,
        |           sum((((v>>16)&255) + ((v>>8)&255) + (v&255))//3)//count(*) AS m
        |         FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(m)//64 AS mu FROM cell GROUP BY 1)
        |SELECT cell.doc_id,
        |  sum(CASE WHEN m > mu AND c = 63 THEN (-9223372036854775807 - 1)
        |           WHEN m > mu THEN 1::BIGINT << c ELSE 0 END)::BIGINT AS phash
        |FROM cell JOIN tot ON cell.doc_id = tot.doc_id GROUP BY 1""".stripMargin),

    // recomputes each audio fingerprint from the PCM synthesis formula:
    // 64 segment means of unsigned samples, mean-of-means threshold
    "q_audio_phash" ->
      ("""WITH d AS (SELECT doc_id, octet_length(encode(coalesce(text,''))) AS n FROM documents),
        |aud AS (SELECT doc_id, n FROM d WHERE doc_id%3=1 AND n > 0),
        |smp AS (SELECT doc_id, (i.i*64)//n AS seg, (i.i*2654435761 + doc_id) & 65535 AS u
        |        FROM aud, range(0, 100000) i(i) WHERE i.i < n),
        |seg AS (SELECT doc_id, seg, sum(u)//count(*) AS m FROM smp GROUP BY 1, 2),
        |segs AS (SELECT a.doc_id, s.i AS c, coalesce(m, 0) AS m
        |         FROM aud a CROSS JOIN range(0, 64) s(i)
        |         LEFT JOIN seg ON seg.doc_id = a.doc_id AND seg.seg = s.i),
        |tot AS (SELECT doc_id, sum(m)//64 AS mu FROM segs GROUP BY 1)
        |SELECT segs.doc_id,
        |  sum(CASE WHEN m > mu AND c = 63 THEN (-9223372036854775807 - 1)
        |           WHEN m > mu THEN 1::BIGINT << c ELSE 0 END)::BIGINT AS phash
        |FROM segs JOIN tot ON segs.doc_id = tot.doc_id GROUP BY 1""".stripMargin),

    // brute-force hamming over the recomputed hashes — the engine's banded
    // blocking must reproduce the exact pair set (pigeonhole recall 1)
    "q_image_phash_pairs" ->
      ("""WITH d AS (SELECT doc_id, octet_length(encode(coalesce(text,''))) AS n FROM documents),
        |img AS (SELECT doc_id, n%64+16 AS w, n%48+16 AS h FROM d WHERE doc_id%3=0),
        |px AS (SELECT doc_id, (y.i*8)//h*8 + (x.i*8)//w AS c,
        |         ((x.i*31 + y.i*17 + doc_id) & 16777215) AS v
        |       FROM img, range(0, 100) x(i), range(0, 100) y(i)
        |       WHERE x.i < w AND y.i < h),
        |cell AS (SELECT doc_id, c,
        |           sum((((v>>16)&255) + ((v>>8)&255) + (v&255))//3)//count(*) AS m
        |         FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(m)//64 AS mu FROM cell GROUP BY 1),
        |p AS (SELECT cell.doc_id,
        |        sum(CASE WHEN m > mu AND c = 63 THEN (-9223372036854775807 - 1)
        |                 WHEN m > mu THEN 1::BIGINT << c ELSE 0 END)::BIGINT AS phash
        |      FROM cell JOIN tot ON cell.doc_id = tot.doc_id GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.phash, b.phash))::INTEGER AS hamming
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 8""".stripMargin),

    // the full composition: recomputed hashes → brute-force hamming pairs →
    // recursive-CTE components → min-id survivors + singletons
    "q_image_dedup" ->
      ("""WITH RECURSIVE d AS (SELECT doc_id, octet_length(encode(coalesce(text,''))) AS n FROM documents),
        |img AS (SELECT doc_id, n%64+16 AS w, n%48+16 AS h FROM d WHERE doc_id%3=0),
        |px AS (SELECT doc_id, (y.i*8)//h*8 + (x.i*8)//w AS c,
        |         ((x.i*31 + y.i*17 + doc_id) & 16777215) AS v
        |       FROM img, range(0, 100) x(i), range(0, 100) y(i)
        |       WHERE x.i < w AND y.i < h),
        |cell AS (SELECT doc_id, c,
        |           sum((((v>>16)&255) + ((v>>8)&255) + (v&255))//3)//count(*) AS m
        |         FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(m)//64 AS mu FROM cell GROUP BY 1),
        |p AS (SELECT cell.doc_id,
        |        sum(CASE WHEN m > mu AND c = 63 THEN (-9223372036854775807 - 1)
        |                 WHEN m > mu THEN 1::BIGINT << c ELSE 0 END)::BIGINT AS phash
        |      FROM cell JOIN tot ON cell.doc_id = tot.doc_id GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM p a JOIN p b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.phash, b.phash)) <= 8),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
        |  UNION SELECT doc_b, doc_a FROM pr),
        |reach(dd, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.dd),
        |lab AS (SELECT dd AS doc_id, min(lab)::BIGINT AS cid FROM reach GROUP BY dd)
        |SELECT p.doc_id FROM p LEFT JOIN lab ON p.doc_id = lab.doc_id
        |WHERE lab.doc_id IS NULL OR lab.cid = p.doc_id""".stripMargin),

    // incremental image dedup oracle: recomputed hashes → brute-force
    // hamming pairs → batch docs with a DIRECT edge to history (< 250) drop,
    // survivors get the within-batch recursive-CTE CC keep-min cut. History
    // ids all precede batch ids, so a cross pair is always (doc_a=history,
    // doc_b=batch) under the doc_a < doc_b convention.
    "q_image_dedup_incremental" ->
      ("""WITH RECURSIVE d AS (SELECT doc_id, octet_length(encode(coalesce(text,''))) AS n FROM documents),
        |img AS (SELECT doc_id, n%64+16 AS w, n%48+16 AS h FROM d WHERE doc_id%3=0),
        |px AS (SELECT doc_id, (y.i*8)//h*8 + (x.i*8)//w AS c,
        |         ((x.i*31 + y.i*17 + doc_id) & 16777215) AS v
        |       FROM img, range(0, 100) x(i), range(0, 100) y(i)
        |       WHERE x.i < w AND y.i < h),
        |cell AS (SELECT doc_id, c,
        |           sum((((v>>16)&255) + ((v>>8)&255) + (v&255))//3)//count(*) AS m
        |         FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(m)//64 AS mu FROM cell GROUP BY 1),
        |p AS (SELECT cell.doc_id,
        |        sum(CASE WHEN m > mu AND c = 63 THEN (-9223372036854775807 - 1)
        |                 WHEN m > mu THEN 1::BIGINT << c ELSE 0 END)::BIGINT AS phash
        |      FROM cell JOIN tot ON cell.doc_id = tot.doc_id GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM p a JOIN p b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.phash, b.phash)) <= 8),
        |hits AS (SELECT doc_b AS dd FROM pr WHERE doc_a < 250 AND doc_b >= 250),
        |rem AS (SELECT doc_id FROM p WHERE doc_id >= 250
        |        AND doc_id NOT IN (SELECT dd FROM hits)),
        |redges AS (SELECT doc_a AS a, doc_b AS b FROM pr
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)
        |  UNION SELECT doc_b, doc_a FROM pr
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)),
        |reach(dd, lab) AS (
        |  SELECT a, a FROM redges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN redges e ON e.a = r.dd),
        |cc AS (SELECT dd, min(lab) AS cid FROM reach GROUP BY dd)
        |SELECT doc_id FROM rem
        |WHERE doc_id NOT IN (SELECT dd FROM cc WHERE dd <> cid)""".stripMargin),

    // retract oracle: history = fps of docs < 250 MINUS fps of the
    // retracted [100, 250) slice (fp-keyed un-claiming), batch = docs
    // >= 100 — the re-admitted content then clusters within-batch
    "q_image_dedup_retract" ->
      ("""WITH RECURSIVE d AS (SELECT doc_id, octet_length(encode(coalesce(text,''))) AS n FROM documents),
        |img AS (SELECT doc_id, n%64+16 AS w, n%48+16 AS h FROM d WHERE doc_id%3=0),
        |px AS (SELECT doc_id, (y.i*8)//h*8 + (x.i*8)//w AS c,
        |         ((x.i*31 + y.i*17 + doc_id) & 16777215) AS v
        |       FROM img, range(0, 100) x(i), range(0, 100) y(i)
        |       WHERE x.i < w AND y.i < h),
        |cell AS (SELECT doc_id, c,
        |           sum((((v>>16)&255) + ((v>>8)&255) + (v&255))//3)//count(*) AS m
        |         FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(m)//64 AS mu FROM cell GROUP BY 1),
        |p AS (SELECT cell.doc_id,
        |        sum(CASE WHEN m > mu AND c = 63 THEN (-9223372036854775807 - 1)
        |                 WHEN m > mu THEN 1::BIGINT << c ELSE 0 END)::BIGINT AS phash
        |      FROM cell JOIN tot ON cell.doc_id = tot.doc_id GROUP BY 1),
        |retfp AS (SELECT DISTINCT phash FROM p WHERE doc_id >= 100 AND doc_id < 250),
        |hfp AS (SELECT DISTINCT phash FROM p WHERE doc_id < 250
        |        AND phash NOT IN (SELECT phash FROM retfp)),
        |hits AS (SELECT DISTINCT b.doc_id AS dd FROM p b, hfp f
        |         WHERE b.doc_id >= 100 AND bit_count(xor(b.phash, f.phash)) <= 8),
        |rem AS (SELECT doc_id FROM p WHERE doc_id >= 100
        |        AND doc_id NOT IN (SELECT dd FROM hits)),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM p a JOIN p b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.phash, b.phash)) <= 8),
        |redges AS (SELECT doc_a AS a, doc_b AS b FROM pr
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)
        |  UNION SELECT doc_b, doc_a FROM pr
        |  WHERE doc_a IN (SELECT doc_id FROM rem) AND doc_b IN (SELECT doc_id FROM rem)),
        |reach(dd, lab) AS (
        |  SELECT a, a FROM redges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN redges e ON e.a = r.dd),
        |cc AS (SELECT dd, min(lab) AS cid FROM reach GROUP BY dd)
        |SELECT doc_id FROM rem
        |WHERE doc_id NOT IN (SELECT dd FROM cc WHERE dd <> cid)""".stripMargin),

    "q_map_funcs" ->
      ("SELECT p_partkey, " +
        "map_extract(MAP {'brand': p_brand, 'type': p_type}, 'brand')[1] AS brand_v, " +
        "map_extract(MAP {'brand': p_brand, 'type': p_type}, 'type')[1] AS type_v, " +
        "cardinality(MAP {'brand': p_brand, 'type': p_type})::INTEGER AS n, " +
        "array_to_string(map_keys(MAP {'brand': p_brand, 'type': p_type}), ',') AS ks, " +
        "array_to_string(map_values(MAP {'brand': p_brand, 'type': p_type}), ',') AS vs FROM part"),

    "q_window_range" ->
      ("SELECT o_orderkey, CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))) " +
        "OVER (ORDER BY o_totalprice " +
        "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW), 2) * 100 " +
        "AS BIGINT) AS range_c2 FROM orders"),

    "q_window_lastval" ->
      ("SELECT o_orderkey, last_value(o_totalprice) OVER w AS lv, " +
        "nth_value(o_totalprice, 2) OVER w AS nv FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"),

    "q_intersect_all" ->
      ("SELECT c_nationkey AS nk FROM customer " +
        "INTERSECT ALL SELECT s_nationkey AS nk FROM supplier"),

    "q_except_all" ->
      ("SELECT c_nationkey AS nk FROM customer " +
        "EXCEPT ALL SELECT s_nationkey AS nk FROM supplier"),

    "q_join_band" ->
      ("SELECT a.s_suppkey AS sa, b.s_suppkey AS sb FROM supplier a JOIN supplier b " +
        "ON a.s_suppkey < b.s_suppkey " +
        "AND b.s_acctbal BETWEEN a.s_acctbal - 100 AND a.s_acctbal + 100"),

    "q_filter_or" ->
      ("SELECT count(*) AS n, CAST(round(sum(CAST(l_extendedprice " +
        "AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS s_c2 FROM lineitem " +
        "WHERE l_quantity < 2 OR l_quantity > 49 " +
        "OR (l_discount > 0.09 AND l_quantity < 5)"),

    "q_view_query" ->
      ("WITH v_cust_rev AS (SELECT o_custkey, " +
        "sum(CAST(o_totalprice AS DECIMAL(30,8))) AS rev, count(*) AS n " +
        "FROM orders GROUP BY o_custkey) " +
        "SELECT c_nationkey, " +
        "CAST(round(sum(rev), 2) * 100 AS BIGINT) AS nation_rev_c2, " +
        "sum(n)::BIGINT AS n_orders " +
        "FROM v_cust_rev JOIN customer ON c_custkey = o_custkey GROUP BY c_nationkey"),

    "q_catalog_scan" ->
      ("SELECT n_name, count(*) AS n_cust FROM customer c JOIN nation n " +
        "ON c.c_nationkey = n.n_nationkey GROUP BY n_name"),

    // the CTAS+INSERT split reassembles the whole table, so the read-back
    // aggregate equals the same aggregate over the source
    "q_catalog_ctas" ->
      ("SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name " +
        "FROM nation GROUP BY n_regionkey"),

    // the CTAS+INSERT split reassembles orders; the post-ALTER insert adds
    // a flagged copy of the urgent partition under shifted keys
    "q_catalog_ctas_part" ->
      ("""WITH t AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority, NULL::BOOLEAN AS flagged
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice, o_orderpriority, true
        |  FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT o_orderpriority, count(*) AS n,
        |  count(CASE WHEN flagged THEN 1 END) AS n_flagged,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2
        |FROM t WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |GROUP BY o_orderpriority""".stripMargin),

    // backfilled priorities are complete; every other partition keeps the
    // CTAS subset's gap (every third order missing)
    "q_catalog_overwrite_dyn" ->
      ("""WITH t AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderpriority NOT IN ('1-URGENT', '3-MEDIUM')
        |    AND o_orderkey % 3 <> 0)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2
        |FROM t GROUP BY o_orderpriority""".stripMargin),

    // namespaces partition nation on the region boundary; curated upcases
    "q_catalog_ns" ->
      ("""SELECT CASE WHEN n_regionkey < 2 THEN 'stage' ELSE 'curated' END AS src,
        |  n_regionkey, count(*) AS n,
        |  min(CASE WHEN n_regionkey < 2 THEN n_name ELSE upper(n_name) END) AS first_name
        |FROM nation GROUP BY 1, 2""".stripMargin),

    // both deletes restated: the whole 1-URGENT partition, then the even
    // half of 3-MEDIUM
    "q_catalog_delete_part" ->
      ("""SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2
        |FROM orders
        |WHERE o_orderpriority <> '1-URGENT'
        |  AND NOT (o_orderpriority = '3-MEDIUM' AND o_orderkey % 2 = 0)
        |GROUP BY o_orderpriority""".stripMargin),

    // the overwritten state (slice B, shifted tokens) plus the retained
    // pre-overwrite generation (slice A, raw tokens)
    "q_catalog_timetravel" ->
      ("""SELECT 'current' AS state, lang, count(*) AS n,
        |  sum(length(coalesce(text, '')) + 1000000)::BIGINT AS tok_sum
        |FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n,
        |  sum(length(coalesce(text, '')))::BIGINT AS tok_sum
        |FROM documents WHERE doc_id % 5 <> 1 GROUP BY lang""".stripMargin),

    // dynamic-overwrite algebra over the snapshot manifest: langs present
    // in slice B (doc_id % 3 = 0) serve B (replaced or newly created),
    // langs absent from B keep slice A; VERSION AS OF 1 is slice A
    "q_catalog_timetravel_part" ->
      ("""WITH a AS (
        |  SELECT lang, count(*) AS n,
        |    sum(length(coalesce(text, '')))::BIGINT AS tok_sum
        |  FROM documents WHERE doc_id % 5 <> 1 GROUP BY lang),
        |b AS (
        |  SELECT lang, count(*) AS n,
        |    sum(length(coalesce(text, '')) + 1000000)::BIGINT AS tok_sum
        |  FROM documents WHERE doc_id % 3 = 0 GROUP BY lang)
        |SELECT 'current' AS state, coalesce(b.lang, a.lang) AS lang,
        |  coalesce(b.n, a.n) AS n, coalesce(b.tok_sum, a.tok_sum) AS tok_sum
        |FROM a FULL OUTER JOIN b ON a.lang = b.lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, n, tok_sum FROM a""".stripMargin),

    // delete the 1-URGENT partition, +1 the %97 keys of the remainder,
    // then append the 5-LOW slice under shifted keys
    "q_catalog_snap_dml" ->
      ("""WITH t AS (
        |  SELECT o_orderkey,
        |    o_totalprice + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END
        |      AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderpriority = '5-LOW')
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2
        |FROM t GROUP BY o_orderpriority""".stripMargin),

    // the added slice is exactly the second insert (doc_id % 4 = 1)
    "q_catalog_snap_changes" ->
      ("""SELECT lang, count(*) AS n,
        |  sum(length(coalesce(text, '')))::BIGINT AS tok_sum,
        |  min(doc_id) AS min_id
        |FROM documents WHERE doc_id % 4 = 1 GROUP BY lang""".stripMargin),

    // file-level snapshot algebra: drop key 42, shift [100,120)'s tokens,
    // append the %7 slice under shifted keys; v1 is the untouched base
    "q_catalog_snap_file" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok, lang
        |  FROM documents),
        |cur AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id >= 100 AND doc_id < 120 THEN tok + 1000000
        |         ELSE tok END AS tok, lang
        |  FROM base WHERE doc_id <> 42
        |  UNION ALL
        |  SELECT doc_id + 5000000, tok, lang FROM base WHERE doc_id % 7 = 0)
        |SELECT 'current' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM cur GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM base GROUP BY lang""".stripMargin),

    // the merge's row algebra as a change feed: every matched row emits
    // D(old); the odd-keyed (updated) half additionally emits I(new, +1)
    "q_catalog_cdf" ->
      ("""WITH m AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 = 0),
        |c AS (
        |  SELECT 'D' AS _change_op, o_orderkey, o_totalprice FROM m
        |  UNION ALL
        |  SELECT 'I' AS _change_op, o_orderkey, o_totalprice + 1 FROM m
        |  WHERE o_orderkey % 2 = 1)
        |SELECT _change_op, count(*) AS n, sum(o_orderkey)::BIGINT AS key_sum,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2
        |FROM c GROUP BY _change_op""".stripMargin),

    // dv delete algebra: drop 42, 43, 77 and the [500,520) nonzero-token
    // range from the current view; v1 is the untouched base
    "q_catalog_dv" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok, lang
        |  FROM documents),
        |cur AS (
        |  SELECT * FROM base
        |  WHERE doc_id NOT IN (42, 43, 77)
        |    AND NOT (doc_id >= 500 AND doc_id < 520 AND tok > 0))
        |SELECT 'current' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM cur GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM base GROUP BY lang""".stripMargin),

    // version 2 deletes [100,150); version 3 adds ONLY the fresh
    // [150,180) (the re-deleted [120,150) overlap must not re-emit)
    "q_catalog_dv_changes" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok
        |  FROM documents),
        |c AS (
        |  SELECT 'D' AS _change_op, 2::BIGINT AS _change_version, doc_id, tok
        |  FROM base WHERE doc_id >= 100 AND doc_id < 150
        |  UNION ALL
        |  SELECT 'D' AS _change_op, 3::BIGINT AS _change_version, doc_id, tok
        |  FROM base WHERE doc_id >= 150 AND doc_id < 180)
        |SELECT _change_op, _change_version, count(*) AS n,
        |  sum(doc_id)::BIGINT AS key_sum, sum(tok)::BIGINT AS tok_sum
        |FROM c GROUP BY _change_op, _change_version""".stripMargin),

    // v2 deletes [400,450); v3 updates two rows (D pre + I post); v4
    // appends the %17 rows; added(3,4) = the v4 appends alone
    "q_catalog_tvf" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok
        |  FROM documents),
        |c AS (
        |  SELECT 'D_v2' AS key, doc_id, tok FROM base
        |  WHERE doc_id >= 400 AND doc_id < 450
        |  UNION ALL
        |  SELECT 'D_v3', doc_id, tok FROM base WHERE doc_id IN (10, 20)
        |  UNION ALL
        |  SELECT 'I_v3', doc_id, tok + 5 FROM base WHERE doc_id IN (10, 20)
        |  UNION ALL
        |  SELECT 'I_v4', doc_id + 9000000, tok FROM base WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT 'added_3_4', doc_id + 9000000, tok FROM base WHERE doc_id % 17 = 0)
        |SELECT key, count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS key_sum,
        |  sum(tok)::BIGINT AS tok_sum FROM c GROUP BY key""".stripMargin),

    // baseline = the untouched CTAS (pinned through the expire); current
    // carries the delete + append
    "q_catalog_tag" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok, lang
        |  FROM documents),
        |cur AS (
        |  SELECT * FROM base WHERE doc_id >= 300
        |  UNION ALL
        |  SELECT doc_id + 8000000, tok, lang FROM base WHERE doc_id % 13 = 0)
        |SELECT 'current' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM cur GROUP BY lang
        |UNION ALL
        |SELECT 'baseline' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM base GROUP BY lang""".stripMargin),

    // partitions = live rows per lang (dv'd doc_id<50 out); files = the
    // physical counts with the dv'd rows itemized; history = v1 init + v2
    // dvdelete
    "q_catalog_meta" ->
      ("""WITH base AS (SELECT doc_id, lang FROM documents)
        |SELECT concat('part:lang=', lang) AS key,
        |  count(*) FILTER (WHERE doc_id >= 50)::BIGINT AS a,
        |  count(*) FILTER (WHERE doc_id < 50)::BIGINT AS b
        |FROM base GROUP BY lang
        |UNION ALL
        |SELECT 'files_total' AS key, count(*)::BIGINT AS a,
        |  count(*) FILTER (WHERE doc_id < 50)::BIGINT AS b FROM base
        |UNION ALL
        |SELECT 'history' AS key, 2::BIGINT AS a, 2::BIGINT AS b""".stripMargin),

    // v2 rewrites lang for doc_id<100, v3 adds 1000 tokens to two rows,
    // v4 re-updates row 50; the feed restates each commit's D (pre) and I
    // (post) rows
    "q_catalog_mor_update" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok, lang
        |  FROM documents),
        |cur AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id IN (200, 201) THEN tok + 1000 ELSE tok END AS tok,
        |    CASE WHEN doc_id = 50 THEN 'yy'
        |         WHEN doc_id < 100 THEN 'xx' ELSE lang END AS lang
        |  FROM base),
        |feed AS (
        |  SELECT 'feed_D_v2' AS state, tok FROM base WHERE doc_id < 100
        |  UNION ALL SELECT 'feed_I_v2', tok FROM base WHERE doc_id < 100
        |  UNION ALL SELECT 'feed_D_v3', tok FROM base WHERE doc_id IN (200, 201)
        |  UNION ALL SELECT 'feed_I_v3', tok + 1000 FROM base WHERE doc_id IN (200, 201)
        |  UNION ALL SELECT 'feed_D_v4', tok FROM base WHERE doc_id = 50
        |  UNION ALL SELECT 'feed_I_v4', tok FROM base WHERE doc_id = 50)
        |SELECT 'current' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM cur GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM base GROUP BY lang
        |UNION ALL
        |SELECT state, NULL::VARCHAR AS lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM feed GROUP BY state""".stripMargin),

    // drop the four point-deleted keys from the current view; v1 untouched
    "q_catalog_bloom" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok, lang
        |  FROM documents),
        |cur AS (SELECT * FROM base WHERE doc_id NOT IN (7, 11, 99, 1234))
        |SELECT 'current' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM cur GROUP BY lang
        |UNION ALL
        |SELECT 'v1' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM base GROUP BY lang""".stripMargin),

    // rollback restores the untouched base as `current`; v3 carries the
    // delete + append the rollback retired
    "q_catalog_rollback" ->
      ("""WITH base AS (
        |  SELECT doc_id, length(coalesce(text, ''))::BIGINT AS tok, lang
        |  FROM documents),
        |v3 AS (
        |  SELECT * FROM base WHERE doc_id >= 200
        |  UNION ALL
        |  SELECT doc_id + 7000000, tok, lang FROM base WHERE doc_id % 11 = 0)
        |SELECT 'current' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM base GROUP BY lang
        |UNION ALL
        |SELECT 'v3' AS state, lang, count(*) AS n,
        |  sum(tok)::BIGINT AS tok_sum FROM v3 GROUP BY lang""".stripMargin),

    // the bucket column cancels out: orders×customer revenue by nation
    "q_catalog_bucketed" ->
      ("""SELECT c.c_nationkey, count(*) AS n,
        |  CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_nationkey""".stripMargin),

    // above-average orders per priority, in exact cents arithmetic
    "q_catalog_spj" ->
      ("""WITH st AS (SELECT o_orderpriority, count(*) AS n_rows,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS sum_c2
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o.o_orderpriority, count(*) AS n_above, min(st.sum_c2) AS sum_c2
        |FROM orders o JOIN st ON o.o_orderpriority = st.o_orderpriority
        |WHERE CAST(round(CAST(o.o_totalprice AS DECIMAL(30,8)), 2) * 100 AS BIGINT)
        |  * st.n_rows > st.sum_c2
        |GROUP BY o.o_orderpriority""".stripMargin),

    // merge identity over the partitioned target: matched rows take the
    // source's shifted token count, unmatched inserts appear, the rest of
    // the base survives untouched
    "q_catalog_merge_part" ->
      ("""SELECT doc_id, lang,
        |  CASE WHEN doc_id % 3 = 0 THEN length(coalesce(text, '')) + 1000000
        |       ELSE length(coalesce(text, '')) END AS tok
        |FROM documents WHERE doc_id % 7 <> 0 OR doc_id % 3 = 0""".stripMargin),

    // merge identity: update-changed + insert-added + delete-removed over
    // the old snapshot ≡ the new snapshot
    "q_dataset_merge_sql" ->
      ("""SELECT doc_id, source, lang,
        |  md5(coalesce(text, '') ||
        |      CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END) AS fp
        |FROM documents WHERE doc_id % 13 <> 5""".stripMargin),

    "q_view_catalog" ->
      ("""WITH v AS (SELECT o_custkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS rev_c2,
        |  count(*) AS n FROM orders GROUP BY o_custkey)
        |SELECT c_nationkey, sum(rev_c2)::BIGINT AS nation_rev_c2,
        |  sum(n)::BIGINT AS n_orders
        |FROM v JOIN customer ON c_custkey = o_custkey GROUP BY c_nationkey""".stripMargin),

    // compaction is content-invariant: the CTAS+INSERT split reassembles orders
    "q_catalog_compact" ->
      ("""SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS price_c2
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    "q_count_pushdown" -> "SELECT count(*) AS n FROM lineitem",

    "q_minmax_pushdown" ->
      ("SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi, " +
        "min(l_shipdate)::TIMESTAMP AS first_ship, " +
        "max(l_shipdate)::TIMESTAMP AS last_ship FROM lineitem"),

    "q_pivot" ->
      ("SELECT l_returnflag, " +
        "round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f, " +
        "round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o " +
        "FROM lineitem GROUP BY 1"),

    "q_unpivot" ->
      ("SELECT l_orderkey, 'extended' AS metric, l_extendedprice AS v FROM lineitem " +
        "UNION ALL SELECT l_orderkey, 'tax' AS metric, l_tax AS v FROM lineitem"),

    "q_explode" ->
      ("SELECT vec_id, (i - 1)::INTEGER AS pos, round(embedding[i]::DOUBLE, 4) + 0 AS val " +
        "FROM embeddings, range(1, 100000) r(i) " +
        "WHERE vec_id < 3 AND i <= len(embedding)"),

    "q_values" -> "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, NULL)) t(id, tag)",

    "q_string_funcs2" ->
      ("SELECT p_partkey, trim('  x  ') AS t, replace(p_name, ' ', '-') AS rep, " +
        "split_part(p_name, ' ', 1) AS sp, strpos(p_name, 'a')::INTEGER AS ip, " +
        "repeat(p_brand, 2) AS rp, left(p_name, 3) AS lf, right(p_name, 3) AS rt " +
        "FROM part"),

    "q_date_funcs2" ->
      ("SELECT o_orderkey, date_diff('day', DATE '1995-01-01', o_orderdate)::INTEGER AS dd, " +
        "(o_orderdate + INTERVAL 3 MONTH)::DATE AS am, last_day(o_orderdate::DATE) AS ld, " +
        "(o_orderdate::DATE + 7) AS da FROM orders"),

    "q_cte" ->
      ("WITH hot AS (SELECT o_custkey, " +
        "sum(CAST(o_totalprice AS DECIMAL(30,8))) AS rev FROM orders " +
        "GROUP BY o_custkey " +
        "HAVING sum(CAST(o_totalprice AS DECIMAL(30,8))) > 500000) " +
        "SELECT count(*) AS n, " +
        "CAST(round(sum(rev), 2) * 100 AS BIGINT) AS total_c2 FROM hot"),

    "q_recursive_cte" ->
      ("WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 100) " +
        "SELECT sum(n)::BIGINT AS s, count(*) AS c FROM t"),

    "q_window_timerange" ->
      ("SELECT o_custkey, o_orderkey, count(*) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)" +
        "::BIGINT AS c30 FROM orders"),

    "q_time_parts" ->
      // Spark weekday(): Monday=0; DuckDB isodow: Monday=1
      ("SELECT event_id, hour(ts::TIMESTAMP)::INTEGER AS h, " +
        "minute(ts::TIMESTAMP)::INTEGER AS mi, second(ts::TIMESTAMP)::INTEGER AS sec, " +
        "(isodow(ts::TIMESTAMP) - 1)::INTEGER AS wd, " +
        "weekofyear(ts::TIMESTAMP)::INTEGER AS wk FROM events"),

    "q_window_cume" ->
      ("SELECT o_orderkey, round(cume_dist() OVER (ORDER BY o_totalprice, o_orderkey), 6) " +
        "AS cd FROM orders"),

    "q_bool_agg" ->
      ("SELECT l_returnflag, bool_and(l_quantity > 0) AS ba, " +
        "bool_or(l_discount > 0.05) AS bo, " +
        "sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS ci " +
        "FROM lineitem GROUP BY 1"),

    "q_array_funcs2" ->
      ("SELECT p_partkey, list_contains([1, 2, p_size], 5) AS ac, " +
        "list_position([1, 2, p_size], 2)::INTEGER AS ap, " +
        "array_to_string(list_sort([p_size, 1, 7]), ',') AS srt, " +
        "array_to_string([p_size, 1, 7][2:3], ',') AS sl, " +
        "array_to_string(list_reverse([p_size, 1, 7]), ',') AS rv FROM part"),

    // DuckDB's skewness/kurtosis are sample-corrected; Spark's are population
    // central moments — the oracle computes the moments directly
    "q_stats_agg" ->
      ("WITH mu AS (SELECT l_returnflag AS rf, avg(l_extendedprice) AS m, count(*) AS n " +
        "FROM lineitem GROUP BY 1), " +
        "mom AS (SELECT l_returnflag AS rf, " +
        "sum(pow(l_extendedprice - m, 2)) / max(n) AS m2, " +
        "sum(pow(l_extendedprice - m, 3)) / max(n) AS m3, " +
        "sum(pow(l_extendedprice - m, 4)) / max(n) AS m4 " +
        "FROM lineitem JOIN mu ON l_returnflag = rf GROUP BY 1) " +
        "SELECT l_returnflag, round(stddev_samp(l_extendedprice), 2) AS sd, " +
        "round(corr(l_quantity, l_extendedprice), 6) + 0 AS cr, " +
        "round(covar_samp(l_quantity, l_extendedprice), 2) + 0 AS cv, " +
        "round(median(l_quantity), 2) AS md, " +
        "round(max(m3 / pow(m2, 1.5)), 6) + 0 AS sk, " +
        "round(max(m4 / (m2 * m2) - 3), 6) + 0 AS ku " +
        "FROM lineitem JOIN mom ON l_returnflag = rf GROUP BY 1"),

    "q_not_exists" ->
      ("SELECT n_name FROM nation n WHERE NOT EXISTS (SELECT 1 FROM supplier s " +
        "WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal > 9000)"),

    "q_scalar_select" ->
      ("SELECT o_orderkey, round(o_totalprice / " +
        "(SELECT avg(o_totalprice) FROM orders), 6) AS rel FROM orders"),

    "q_range_tvf" ->
      "SELECT range AS id, (range * range)::BIGINT AS sq FROM range(0, 10)",

    "q_try_funcs" ->
      ("SELECT p_partkey, TRY_CAST(p_name AS INTEGER) AS tc, " +
        "p_retailprice / nullif(p_size, 0) AS td, " +
        "TRY_CAST(p_size AS VARCHAR) AS ts FROM part"),

    "q_like_funcs" ->
      ("SELECT p_partkey, (p_name LIKE '%old%') AS lk, (p_name ILIKE '%OLD%') AS il, " +
        "regexp_matches(p_name, '^[a-z]+ ') AS rx, " +
        "regexp_matches(p_name, '^[a-z ]+$') AS sm FROM part"),

    "q_string_agg" ->
      ("SELECT l_returnflag, string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS sa " +
        "FROM lineitem GROUP BY 1"),

    "q_bitwise" ->
      ("SELECT o_orderkey, (o_orderkey & 255)::BIGINT AS ba, (o_orderkey | 16)::BIGINT AS bo, " +
        "xor(o_orderkey, 7)::BIGINT AS bx, (o_orderkey << 2)::BIGINT AS bs, " +
        "(o_orderkey >> 1)::BIGINT AS br FROM orders"),

    "q_pipeline_curate" ->
      ("""WITH w AS (SELECT doc_id, text, """ +
        """list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS ws """ +
        """FROM documents), """ +
        """q AS (SELECT doc_id, text, ws FROM w WHERE len(ws) BETWEEN 5 AND 100000), """ +
        """sc AS (SELECT doc_id, text, """ +
        """len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS s_en, """ +
        """len(list_filter(ws, x -> x IN ('le','la','les','et','est'))) AS s_fr, """ +
        """len(list_filter(ws, x -> x IN ('el','los','las','y','es'))) AS s_es, """ +
        """len(list_filter(ws, x -> x IN ('der','die','das','und','ist'))) AS s_de FROM q), """ +
        """en AS (SELECT doc_id, text FROM sc """ +
        """WHERE s_en >= greatest(s_fr, s_es, s_de) AND s_en > 0) """ +
        """SELECT min(doc_id) AS doc_id FROM en """ +
        """GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))"""),

    "q_math_funcs2" ->
      // `+ 0` folds DuckDB's -0.0 to +0.0 (Spark round never emits -0.0)
      ("SELECT o_orderkey, round(sin(o_totalprice / 100000), 6) + 0 AS sn, " +
        "round(exp(o_totalprice / 1000000), 6) AS ex, " +
        "sign(o_totalprice - 100000)::INTEGER AS sg, " +
        "round(atan2(o_totalprice, 7.0), 6) AS at, " +
        "round(log10(o_totalprice), 6) AS lt, round(cbrt(o_totalprice), 6) AS cb, " +
        "greatest(o_totalprice, 150000.0) AS gr, least(o_orderkey % 10, 5)::BIGINT AS ls " +
        "FROM orders"),

    "q_session_limit" ->
      "SELECT count(*) AS n FROM (SELECT * FROM lineitem LIMIT 500)"
  )
}
