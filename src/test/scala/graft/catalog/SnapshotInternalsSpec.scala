package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

/** Package-internal grids for the r15 snapshot-layer fixes: prune safety
  * against concurrent committers (r14 ADVICE), the manifest stats wire
  * format, and order-independent footer-stats merging (r14 ADVICE).
  */
class SnapshotInternalsSpec extends graft.SparkSpec {

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def mkGen(tableDir: Path, kv: String, gen: String, n: Int): Unit = {
    val dir = new Path(new Path(tableDir, kv), gen)
    spark.range(n).selectExpr("id AS v").coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
  }

  test("prune never deletes a manifest newer than the pruner's own commit, nor its units") {
    val dir = new Path(java.nio.file.Files.createTempDirectory("graft-prune")
      .toFile.getAbsolutePath, "t")
    val fs = fsOf(dir)
    fs.mkdirs(dir)
    TableMeta.write(fs, dir, TableMeta(
      StructType(Seq(StructField("v", LongType), StructField("k", IntegerType))),
      Seq("k"), snapshots = true))
    mkGen(dir, "k=0", "gen-aaa", 3)
    val v1 = Snapshots.commit(fs, dir, None, Map("k=0" -> Seq("gen-aaa")))
    // a CONCURRENT writer committed v2 (new partition) while this writer's
    // prune for v1 is still running — the r14 shape deleted every manifest
    // with version > currentV and every gen dir it referenced
    mkGen(dir, "k=1", "gen-bbb", 4)
    val v2 = Snapshots.commit(fs, dir, Some(v1),
      v1.entries + ("k=1" -> Seq("gen-bbb")))
    assert(v2.version == v1.version + 1)
    Snapshots.prune(fs, dir, v1.version) // the SLOWER writer's prune
    assert(fs.exists(Snapshots.manifestPath(dir, v2.version)),
      "a concurrent writer's newer manifest must survive pruning")
    assert(fs.exists(new Path(dir, "k=1/gen-bbb")),
      "a concurrent writer's committed generation must survive pruning")
    // the table still serves v2's full state
    assert(Snapshots.current(fs, dir).get.version == v2.version)
  }

  test("prune sweeps units referenced ONLY by dropped manifests, immediately") {
    val dir = new Path(java.nio.file.Files.createTempDirectory("graft-prune2")
      .toFile.getAbsolutePath, "t")
    val fs = fsOf(dir)
    fs.mkdirs(dir)
    TableMeta.write(fs, dir, TableMeta(
      StructType(Seq(StructField("v", LongType), StructField("k", IntegerType))),
      Seq("k"), snapshots = true))
    mkGen(dir, "k=0", "gen-old", 3)
    val v1 = Snapshots.commit(fs, dir, None, Map("k=0" -> Seq("gen-old")))
    mkGen(dir, "k=0", "gen-new", 5)
    // replace: with history=0 the superseded manifest drops at once, and
    // gen-old — referenced only by it — sweeps with it (no grace needed:
    // dropped-referenced units are provably retired, not in-flight)
    val prev = spark.conf.getOption(History.Key)
    spark.conf.unset(History.Key)
    try {
      Snapshots.commit(fs, dir, Some(v1), Map("k=0" -> Seq("gen-new")))
      assert(!fs.exists(Snapshots.manifestPath(dir, v1.version)))
      assert(!fs.exists(new Path(dir, "k=0/gen-old")),
        "a unit referenced only by a dropped manifest must sweep")
      assert(fs.exists(new Path(dir, "k=0/gen-new")))
    } finally prev.foreach(spark.conf.set(History.Key, _))
  }

  test("manifest + stats-sidecar wire formats round-trip every value family") {
    val snap = Snapshots.Snapshot(7L, 123456789L,
      entries = Map("k=a" -> Seq("gen-w", "gen-x"), "gen-y/f.parquet" -> Nil),
      rows = Map("k=a/gen-x" -> 10L, "gen-y/f.parquet" -> 3L),
      kind = "rowlevel", changes = Some("chg-abc123"),
      dvs = Map("gen-y/f.parquet" -> "dv-1"), dvRows = Map("gen-y/f.parquet" -> 2L))
    val back = Snapshots.parse(Snapshots.render(snap))
    assert(back == snap, s"round-trip mismatch:\n$back\nvs\n$snap")
    // segmented form: segments round-trip on their own, and the manifest
    // materializes (segment union - drops) ++ inline over them
    val seg = (Map("gen-a/f1.parquet" -> Seq.empty[String], "gen-z/f9.parquet" -> Nil),
      Map("gen-a/f1.parquet" -> 4L, "gen-z/f9.parquet" -> 1L))
    assert(Snapshots.parseSeg(Snapshots.renderSeg(seg._1, seg._2)) == seg)
    val form = Snapshots.SegForm(Seq("seg-1"), Map("gen-y/f.parquet" -> Nil),
      Map("gen-y/f.parquet" -> 3L), Set("gen-z/f9.parquet"))
    val segmented = Snapshots.Snapshot(8L, 123456790L,
      entries = Map("gen-a/f1.parquet" -> Nil, "gen-y/f.parquet" -> Nil),
      rows = seg._2 + ("gen-y/f.parquet" -> 3L), kind = "append", seg = Some(form))
    val backSeg = Snapshots.parse(Snapshots.render(segmented), Map("seg-1" -> seg).get)
    assert(backSeg == segmented, s"round-trip mismatch:\n$backSeg\nvs\n$segmented")
    val stats = Map(
      "p0.parquet" -> Snapshots.FileRef(10L, Map(
        "i" -> FileStats.ColStats(Some(Int.box(-3)), Some(Int.box(9)), false, false),
        "l" -> FileStats.ColStats(Some(Long.box(1L)), Some(Long.box(99L)), true, false),
        "f" -> FileStats.ColStats(Some(Float.box(0.5f)), Some(Float.box(2.5f)), false, false),
        "d" -> FileStats.ColStats(Some(Double.box(-1.25)), Some(Double.box(3.5)), false, false),
        "b" -> FileStats.ColStats(Some(Boolean.box(false)), Some(Boolean.box(true)), false, false),
        "dt" -> FileStats.ColStats(Some(java.time.LocalDate.parse("2021-03-04")),
          Some(java.time.LocalDate.parse("2022-05-06")), false, false),
        "s" -> FileStats.ColStats(Some("a\"b\\c"), Some("z"), true, false),
        "unknown" -> FileStats.ColStats(None, None, true, true))),
      "p1.parquet" -> Snapshots.FileRef(3L, Map.empty))
    val backStats = Snapshots.parseStats(Snapshots.renderStats(stats))
    assert(backStats == stats, s"stats round-trip mismatch:\n$backStats\nvs\n$stats")
  }

  test("footer stats: a stats-less block poisons bounds regardless of order; all-null blocks don't") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fstats")
      .toFile.getAbsolutePath
    // block 1..k: huge strings (parquet drops chunk stats above its size
    // cap) and all-null n; later blocks: small strings with real stats
    val big = "x" * 8192
    val rows = (0 until 60).map(i => (i.toLong, big + i, Option.empty[Long])) ++
      (60 until 400).map(i => (i.toLong, s"s$i", Some(i.toLong)))
    import spark.implicits._
    rows.toDF("v", "s", "n").coalesce(1)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    // precondition: the file really carries a stats-less block for s and
    // more than one block (else the scenario under test didn't materialize)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file.getAbsolutePath), conf))
    val blocks = try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        val chunk = b.getColumns.asScala.find(_.getPath.toArray.head == "s").get
        (b.getRowCount, chunk.getStatistics == null || !chunk.getStatistics.hasNonNullValue)
      }
    } finally reader.close()
    assume(blocks.length > 1, s"need multiple row groups, got ${blocks.length}")
    assume(blocks.exists(_._2), "need at least one stats-less block for s")
    assume(blocks.exists(!_._2), "need at least one stats-carrying block for s")

    val schema = StructType(Seq(StructField("v", LongType),
      StructField("s", StringType), StructField("n", LongType)))
    val (nRows, stats) = FileStats.readWithRows(conf,
      new Path(file.getAbsolutePath), schema)
    assert(nRows == 400)
    // s: the stats-less blocks (which come FIRST) poison the bounds — the
    // r14 shape kept the later small-string bounds and would wrongly
    // exclude this file from a DELETE on a big-string key (silent row loss)
    assert(stats("s").min.isEmpty && stats("s").max.isEmpty,
      s"stats-less block must poison s bounds, got ${stats("s")}")
    assert(FileStats.mightMatch(
      org.apache.spark.sql.sources.EqualTo("s", big + "7"), stats),
      "a file hiding values behind a stats-less block must stay a candidate")
    // n: provably ALL-NULL blocks contribute no values and must NOT poison
    assert(stats("n").min.contains(Long.box(60L)) &&
      stats("n").max.contains(Long.box(399L)),
      s"all-null blocks must not poison n bounds, got ${stats("n")}")
    assert(stats("n").hasNulls)
    // v: every block carries stats — exact bounds
    assert(stats("v").min.contains(Long.box(0L)) &&
      stats("v").max.contains(Long.box(399L)))
  }
}
