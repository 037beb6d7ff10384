package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The metadata sidecars keep their on-disk form across the move onto one
  * codec: files the earlier hand-written renderers produced (captured
  * verbatim below) read back to the values they encoded, today's renders
  * read back equal, and the write-once cache serves what a writer put.
  */
class SidecarSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def tmpDir(tag: String): Path = new Path(
    java.nio.file.Files.createTempDirectory(s"graft-sidecar-$tag").toFile.getAbsolutePath)

  /** A name with a quote, a backslash, control characters and non-ASCII. */
  private val Odd = "q\"b\\s\tt\nn\u0001\u00e9"

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField(Odd, StringType), StructField("k", IntegerType),
    StructField("d", DecimalType(12, 3))))

  /** Verbatim files written by the earlier hand-written renderers. */
  private object Golden {
    val ManifestInline: String =
      "{\"version\":7,\"stampMillis\":1700000000123,\"kind\":\"rowlevel\",\"entries\"" +
      ":{\"k=a\":[\"gen-x\",\"gen-y\"],\"k=b\":[\"gen-z\"],\"k=q\\\"b\\\\s\\u0009t\\u" +
      "000an\\u0001\u00e9\":[]},\"rows\":{\"k=a/gen-x\":10,\"k=a/gen-y\":4,\"k=b/gen-" +
      "z\":0},\"changes\":\"chg-abc123\",\"dvs\":{\"k=a/gen-x/p0.parquet\":\"dv-01\"," +
      "\"k=b/gen-z/p1.parquet\":\"dv-02\"},\"dvRows\":{\"k=a/gen-x/p0.parquet\":2,\"k" +
      "=b/gen-z/p1.parquet\":5}}"

    val ManifestSegmented: String =
      "{\"version\":12,\"stampMillis\":1700000000456,\"kind\":\"append\",\"entries\":" +
      "{\"gen-c/f3.parquet\":[]},\"rows\":{\"gen-c/f3.parquet\":9},\"segs\":[\"seg-00" +
      "0000000001\",\"seg-000000000002\"],\"drops\":[\"gen-a/f1.parquet\",\"gen-b/zz." +
      "parquet\"]}"

    val Segment: String =
      "{\"entries\":{\"gen-a/f1.parquet\":[],\"k=x/k2=y\":[\"gen-1\",\"gen-2\"],\"q\\" +
      "\"b\\\\s\\u0009t\\u000an\\u0001\u00e9\":[\"q\\\"b\\\\s\\u0009t\\u000an\\u0001" +
      "\u00e9\"]},\"rows\":{\"gen-a/f1.parquet\":3,\"k=x/k2=y/gen-1\":11,\"q\\\"b\\\\" +
      "s\\u0009t\\u000an\\u0001\u00e9/q\\\"b\\\\s\\u0009t\\u000an\\u0001\u00e9\":1}}"

    val Stats: String =
      "{\"files\":{\"p0.parquet\":{\"rows\":10,\"cols\":{\"b\":{\"t\":\"b\",\"mn\":\"" +
      "false\",\"mx\":\"true\",\"hn\":false,\"an\":false},\"d\":{\"t\":\"d\",\"mn\":" +
      "\"-1.25\",\"mx\":\"3.5E-7\",\"hn\":false,\"an\":false},\"dt\":{\"t\":\"dt\",\"" +
      "mn\":\"2021-03-04\",\"mx\":\"2022-05-06\",\"hn\":false,\"an\":false},\"f\":{\"" +
      "t\":\"f\",\"mn\":\"0.5\",\"mx\":\"2.49999995E10\",\"hn\":false,\"an\":false}," +
      "\"half\":{\"t\":\"i\",\"mx\":\"4\",\"hn\":true,\"an\":false},\"i\":{\"t\":\"i" +
      "\",\"mn\":\"-3\",\"mx\":\"9\",\"hn\":false,\"an\":false},\"l\":{\"t\":\"l\",\"" +
      "mn\":\"-9223372036854775808\",\"mx\":\"99\",\"hn\":true,\"an\":false},\"s\":{" +
      "\"t\":\"s\",\"mn\":\"q\\\"b\\\\s\\u0009t\\u000an\\u0001\u00e9\",\"mx\":\"z\"," +
      "\"hn\":true,\"an\":false},\"unknown\":{\"hn\":true,\"an\":true}}},\"p1.parquet" +
      "\":{\"rows\":3,\"cols\":{}}}}"

    val Bloom: String =
      "{\"files\":{\"p0.parquet\":{\"id\":\"AAAAAf9/gCo=\",\"who\":\"CQgH\"},\"p1.par" +
      "quet\":{\"id\":\"\"}}}"

    val Meta: String =
      "{\"version\":1,\"partitionCols\":[\"k\",\"q\\\"b\\\\s\\u0009t\\u000an\\u0001" +
      "\u00e9\"],\"droppedColumns\":[\"gone\",\"q\\\"b\\\\s\\u0009t\\u000an\\u0001" +
      "\u00e9\"],\"snapshots\":true,\"changelog\":true,\"deletionVectors\":true,\"blo" +
      "omCols\":[\"id\",\"k\"],\"bloomFpp\":1.0E-4,\"sortOrder\":[\"id\",\"q\\\"b\\\\" +
      "s\\u0009t\\u000an\\u0001\u00e9\"],\"schema\":{\"type\":\"struct\",\"fields\":[" +
      "{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name" +
      "\":\"q\\\"b\\\\s\\tt\\nn\\u0001\u00e9\",\"type\":\"string\",\"nullable\":true," +
      "\"metadata\":{}},{\"name\":\"k\",\"type\":\"integer\",\"nullable\":true,\"meta" +
      "data\":{}},{\"name\":\"d\",\"type\":\"decimal(12,3)\",\"nullable\":true,\"meta" +
      "data\":{}}]}}"

    val View: String =
      "{\"version\":1,\"sql\":\"SELECT id, 'q\\\"b\\\\s\\u0009t\\u000an\\u0001\u00e9'" +
      " AS x FROM graft.main.t\",\"schema\":{\"type\":\"struct\",\"fields\":[{\"name" +
      "\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"q" +
      "\\\"b\\\\s\\tt\\nn\\u0001\u00e9\",\"type\":\"string\",\"nullable\":true,\"meta" +
      "data\":{}},{\"name\":\"k\",\"type\":\"integer\",\"nullable\":true,\"metadata\"" +
      ":{}},{\"name\":\"d\",\"type\":\"decimal(12,3)\",\"nullable\":true,\"metadata\"" +
      ":{}}]}}"

    val Tags: String =
      "{\"base\":1,\"q\\\"b\\\\s\\u0009t\\u000an\\u0001\u00e9\":1}"
  }

  test("manifests, segments and stats written by the earlier renderers read back the same") {
    assert(Snapshots.parse(Golden.ManifestInline) == Snapshots.Snapshot(7L, 1700000000123L,
      entries = Map("k=a" -> Seq("gen-x", "gen-y"), "k=b" -> Seq("gen-z"), s"k=$Odd" -> Nil),
      rows = Map("k=a/gen-x" -> 10L, "k=a/gen-y" -> 4L, "k=b/gen-z" -> 0L),
      kind = "rowlevel", changes = Some("chg-abc123"),
      dvs = Map("k=a/gen-x/p0.parquet" -> "dv-01", "k=b/gen-z/p1.parquet" -> "dv-02"),
      dvRows = Map("k=a/gen-x/p0.parquet" -> 2L, "k=b/gen-z/p1.parquet" -> 5L)))

    val segs = Map(
      "seg-000000000001" -> (Map("gen-a/f1.parquet" -> Seq.empty[String],
        "gen-b/f2.parquet" -> Nil), Map("gen-a/f1.parquet" -> 3L, "gen-b/f2.parquet" -> 7L)),
      "seg-000000000002" -> (Map("gen-b/zz.parquet" -> Seq.empty[String]), Map.empty[String, Long]))
    val inline = Map("gen-c/f3.parquet" -> Seq.empty[String])
    assert(Snapshots.parse(Golden.ManifestSegmented, segs.get) == Snapshots.Snapshot(12L,
      1700000000456L, entries = Map("gen-b/f2.parquet" -> Nil) ++ inline,
      rows = Map("gen-a/f1.parquet" -> 3L, "gen-b/f2.parquet" -> 7L, "gen-c/f3.parquet" -> 9L),
      kind = "append", seg = Some(Snapshots.SegForm(segs.keys.toSeq.sorted, inline,
        Map("gen-c/f3.parquet" -> 9L), Set("gen-a/f1.parquet", "gen-b/zz.parquet")))))

    assert(Snapshots.parseSeg(Golden.Segment) == ((
      Map("gen-a/f1.parquet" -> Nil, "k=x/k2=y" -> Seq("gen-1", "gen-2"), Odd -> Seq(Odd)),
      Map("gen-a/f1.parquet" -> 3L, "k=x/k2=y/gen-1" -> 11L, s"$Odd/$Odd" -> 1L))))

    def col(mn: Any, mx: Any, hn: Boolean = false) =
      FileStats.ColStats(Option(mn), Option(mx), hn, allNull = false)
    // boxed numbers compare equal across types, so check each bound's class too
    def families(m: Map[String, Snapshots.FileRef]) = m.map { case (f, ref) =>
      f -> ref.cols.map { case (c, st) => c -> (st.min ++ st.max).map(_.getClass).toSeq }
    }
    val stats = Snapshots.parseStats(Golden.Stats)
    assert(families(stats)("p0.parquet") == Map(
      "b" -> Seq.fill(2)(classOf[java.lang.Boolean]), "d" -> Seq.fill(2)(classOf[java.lang.Double]),
      "dt" -> Seq.fill(2)(classOf[java.time.LocalDate]), "f" -> Seq.fill(2)(classOf[java.lang.Float]),
      "half" -> Seq(classOf[java.lang.Integer]), "i" -> Seq.fill(2)(classOf[java.lang.Integer]),
      "l" -> Seq.fill(2)(classOf[java.lang.Long]), "s" -> Seq.fill(2)(classOf[String]),
      "unknown" -> Nil))
    assert(stats == Map(
      "p0.parquet" -> Snapshots.FileRef(10L, Map(
        "b" -> col(false, true), "d" -> col(-1.25, 3.5e-7),
        "dt" -> col(java.time.LocalDate.parse("2021-03-04"),
          java.time.LocalDate.parse("2022-05-06")),
        "f" -> col(0.5f, 2.5e10f), "half" -> col(null, 4, hn = true), "i" -> col(-3, 9),
        "l" -> col(Long.MinValue, 99L, hn = true), "s" -> col(Odd, "z", hn = true),
        "unknown" -> FileStats.ColStats(None, None, hasNulls = true, allNull = true))),
      "p1.parquet" -> Snapshots.FileRef(3L, Map.empty)))
  }

  private val blooms = Map(
    "p0.parquet" -> Map("id" -> Array[Byte](0, 0, 0, 1, -1, 127, -128, 42),
      "who" -> Array[Byte](9, 8, 7)),
    "p1.parquet" -> Map("id" -> Array.empty[Byte]))

  private val meta = TableMeta(schema, Seq("k", Odd), droppedColumns = Seq("gone", Odd),
    snapshots = true, sortOrder = Seq("id", Odd), changelog = true,
    deletionVectors = true, bloomCols = Seq("id", "k"), bloomFpp = 0.0001)

  private val viewSql = s"SELECT id, '$Odd' AS x FROM graft.main.t"

  private val namedTags = Map("base" -> 1L, Odd -> 1L)

  private def tagsOf(raw: String): Map[String, Long] = {
    val dir = tmpDir("tags")
    Sidecar.write(fs, new Path(dir, Snapshots.TagsFile), raw)
    Snapshots.tags(fs, dir)
  }

  private def bytes(b: Map[String, Map[String, Array[Byte]]]) =
    b.map { case (f, m) => f -> m.map { case (c, v) => c -> v.toSeq } }

  test("Bloom, table meta, view and tags files written by the earlier renderers read back the same") {
    assert(bytes(BloomSkip.parse(Golden.Bloom)) == bytes(blooms))
    assert(TableMeta.parse(Golden.Meta) == meta)
    assert(GraftViews.parse(Golden.View) == ((viewSql, schema)))
    assert(tagsOf(Golden.Tags) == namedTags)
  }

  test("today's renders read back equal") {
    assert(bytes(BloomSkip.parse(BloomSkip.render(blooms))) == bytes(blooms))
    assert(TableMeta.parse(TableMeta.render(meta)) == meta)
    assert(TableMeta.parse(TableMeta.render(TableMeta(schema, Nil))) == TableMeta(schema, Nil))
    assert(GraftViews.parse(GraftViews.render(viewSql, schema)) == ((viewSql, schema)))
    assert(tagsOf(Sidecar.render(namedTags)) == namedTags)
  }

  test("Immutable serves a put without a file read and caches an absent or corrupt file as None") {
    val dir = tmpDir("immutable")
    var decoded = 0
    val cache = new Sidecar.Immutable[String](16)({ raw =>
      decoded += 1
      require(raw.startsWith("ok:"), "corrupt")
      raw.stripPrefix("ok:")
    })
    val put = new Path(dir, "put.json")
    Sidecar.write(fs, put, "ok:on disk")
    cache.put(fs, put, "written")
    assert(cache(fs, put).contains("written") && decoded == 0)

    val absent = new Path(dir, "absent.json")
    assert(cache(fs, absent).isEmpty)
    Sidecar.write(fs, absent, "ok:late")
    assert(cache(fs, absent).isEmpty, "an absent file stays cached as None until a put")
    val corrupt = new Path(dir, "corrupt.json")
    Sidecar.write(fs, corrupt, "{truncated")
    assert(cache(fs, corrupt).isEmpty && decoded == 1)

    val plain = new Path(dir, "plain.json")
    Sidecar.write(fs, plain, "ok:read")
    assert(cache(fs, plain).contains("read") && cache(fs, plain).contains("read"))
    assert(decoded == 2, "a second lookup is served from the cache")
  }

  test("publish creates a file once and refuses an existing one") {
    val p = new Path(tmpDir("publish"), "sub/marker")
    assert(Sidecar.publish(fs, p, "first"))
    assert(!Sidecar.publish(fs, p, "second"))
    assert(Sidecar.read(fs, p).contains("first"))
  }
}
