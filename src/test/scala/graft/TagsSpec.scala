package graft

import org.apache.hadoop.fs.Path

import graft.catalog.Snapshots

/** Snapshot tags (r15): named, retention-PINNING refs to manifest
  * versions — `CALL system.create_tag`, `VERSION AS OF '<tag>'`, and the
  * pin surviving an aggressive expire until the tag drops.
  */
class TagsSpec extends SparkSpec {

  test("create_tag pins a version through expire; VERSION AS OF tag reads it; drop_tag releases the pin") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tags")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_tg", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tg.dir", dir)
    spark.sql("DROP TABLE IF EXISTS graft_tg.main.t")
    val prevH = spark.conf.getOption(graft.catalog.History.Key)
    val prevG = spark.conf.getOption(Snapshots.OrphanGraceKey)
    spark.conf.set(graft.catalog.History.Key, "10")
    try {
      spark.sql("CREATE TABLE graft_tg.main.t " +
        "TBLPROPERTIES ('snapshots'='true') AS SELECT id FROM range(100)")
      spark.sql("INSERT INTO graft_tg.main.t SELECT id + 1000 FROM range(50)") // v2
      spark.sql("INSERT INTO graft_tg.main.t SELECT id + 2000 FROM range(25)") // v3

      val root = new Path(s"$dir/t")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

      // explicit version + default-current form
      val r1 = spark.sql(
        "CALL graft_tg.system.create_tag('main.t', 'base', 1)").collect().head
      assert(r1.getString(0) == "base" && r1.getLong(1) == 1L)
      val r2 = spark.sql(
        "CALL graft_tg.system.create_tag('main.t', 'head3')").collect().head
      assert(r2.getLong(1) == 3L, "default version = current")

      // numeric names refuse (VERSION AS OF could not disambiguate)
      val e = intercept[Exception] {
        spark.sql("CALL graft_tg.system.create_tag('main.t', '7', 1)").collect()
      }
      def msgs(t: Throwable): String = {
        var c: Throwable = t; val sb = new StringBuilder
        while (c != null) { sb.append(c.getMessage).append('|'); c = c.getCause }
        sb.toString
      }
      assert(msgs(e).contains("non-numeric"), msgs(e))
      // untagged unretained version refuses
      val e2 = intercept[Exception] {
        spark.sql("CALL graft_tg.system.create_tag('main.t', 'nope', 99)").collect()
      }
      assert(msgs(e2).contains("not retained"), msgs(e2))

      // aggressive expire: v1 survives ONLY through the pin, v2 is swept
      spark.conf.set(Snapshots.OrphanGraceKey, "0")
      spark.sql("CALL graft_tg.system.expire_snapshots('main.t', 0)").collect()
      assert(Snapshots.versions(fs, root) == Seq(1L, 3L),
        s"pinned v1 + current v3, got ${Snapshots.versions(fs, root)}")

      // the tag reads the pinned snapshot
      assert(spark.sql(
        "SELECT count(*) FROM graft_tg.main.t VERSION AS OF 'base'")
        .collect().head.getLong(0) == 100)
      assert(spark.table("graft_tg.main.t").count() == 175)
      // the swept version refuses with both rosters
      val e3 = intercept[Exception] {
        spark.sql("SELECT * FROM graft_tg.main.t VERSION AS OF '2'").collect()
      }
      assert(msgs(e3).contains("not a retained"), msgs(e3))

      // drop the pin: the next expire sweeps v1 and the tag stops resolving
      assert(spark.sql("CALL graft_tg.system.drop_tag('main.t', 'base')")
        .collect().head.getBoolean(0))
      spark.sql("CALL graft_tg.system.expire_snapshots('main.t', 0)").collect()
      assert(Snapshots.versions(fs, root) == Seq(3L))
      val e4 = intercept[Exception] {
        spark.sql("SELECT * FROM graft_tg.main.t VERSION AS OF 'base'").collect()
      }
      assert(msgs(e4).contains("tag"), msgs(e4))
      assert(spark.table("graft_tg.main.t").count() == 175, "live reads unharmed")
    } finally {
      prevH match {
        case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
        case None => spark.conf.unset(graft.catalog.History.Key)
      }
      prevG match {
        case Some(v) => spark.conf.set(Snapshots.OrphanGraceKey, v)
        case None => spark.conf.unset(Snapshots.OrphanGraceKey)
      }
      spark.sql("DROP TABLE IF EXISTS graft_tg.main.t")
    }
  }

  test("a tag whose name holds a control character resolves and drops by that name") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tags-ctl")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_tctl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tctl.dir", dir)
    val prevH = spark.conf.getOption(graft.catalog.History.Key)
    spark.conf.set(graft.catalog.History.Key, "10")
    try {
      spark.sql("CREATE TABLE graft_tctl.main.t " +
        "TBLPROPERTIES ('snapshots'='true') AS SELECT id FROM range(10)")
      spark.sql("INSERT INTO graft_tctl.main.t SELECT id FROM range(5)") // v2
      val root = new Path(s"$dir/t")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val name = "a\tb"
      spark.sql(s"CALL graft_tctl.system.create_tag('main.t', '$name', 1)").collect()
      assert(Snapshots.tags(fs, root) == Map(name -> 1L))
      assert(spark.sql(s"SELECT count(*) FROM graft_tctl.main.t VERSION AS OF '$name'")
        .collect().head.getLong(0) == 10)
      assert(spark.sql(s"CALL graft_tctl.system.drop_tag('main.t', '$name')")
        .collect().head.getBoolean(0))
      assert(Snapshots.tags(fs, root).isEmpty)
    } finally {
      prevH match {
        case Some(v) => spark.conf.set(graft.catalog.History.Key, v)
        case None => spark.conf.unset(graft.catalog.History.Key)
      }
      spark.sql("DROP TABLE IF EXISTS graft_tctl.main.t")
    }
  }
}
