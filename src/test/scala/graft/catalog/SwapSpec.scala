package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.RefusingFs

/** [[Swap.replace]] driven directly through every refused rename, then the
  * same refusals through three of its callers: the old contents read back
  * unchanged and a retry without the refusal lands.
  */
class SwapSpec extends graft.SparkSpec {

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-swap-$tag").toString

  private def put(fs: FileSystem, dir: Path, text: String): Unit = {
    val out = fs.create(new Path(dir, "part"), true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def text(fs: FileSystem, dir: Path): String = {
    val in = fs.open(new Path(dir, "part"))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** `staged` holding "new", `live` holding "old" unless `liveOld` is off. */
  private def layout(fs: FileSystem, base: String, liveOld: Boolean = true) = {
    val (staged, live) = (new Path(base, ".staging-t-0123abcd"), new Path(base, "t"))
    put(fs, staged, "new")
    if (liveOld) put(fs, live, "old")
    (staged, live, Swap.sibling(live, "old", "89abcdef"))
  }

  test("replace: an absent live path takes the staged contents in one rename") {
    val fs = RefusingFs()
    val (staged, live, aside) = layout(fs, scratch("absent"), liveOld = false)
    Swap.replace(fs, staged, live, aside)()
    assert(text(fs, live) == "new" && !fs.exists(staged) && !fs.exists(aside))
  }

  test("replace: the staged contents go live, the aside is retired and a leftover aside cleared") {
    val fs = RefusingFs()
    val (staged, live, aside) = layout(fs, scratch("present"))
    put(fs, aside, "an earlier swap's")
    var retired = Seq.empty[String]
    Swap.replace(fs, staged, live, aside) { p =>
      retired :+= text(fs, p); fs.delete(p, true)
    }
    assert(text(fs, live) == "new" && !fs.exists(staged) && !fs.exists(aside))
    assert(retired == Seq("old"), "retire must receive the replaced contents")
  }

  test("replace: a refused first rename leaves live untouched") {
    val base = scratch("first")
    val fs = RefusingFs(rename = s"$base/t")
    val (staged, live, aside) = layout(fs, base)
    intercept[java.io.IOException](Swap.replace(fs, staged, live, aside)())
    assert(text(fs, live) == "old" && text(fs, staged) == "new" && !fs.exists(aside))
  }

  test("replace: a refused second rename rolls the old contents back") {
    val base = scratch("second")
    val fs = RefusingFs(rename = s"$base/\\.staging-.*")
    val (staged, live, aside) = layout(fs, base)
    val e = intercept[java.io.IOException](Swap.replace(fs, staged, live, aside)())
    assert(e.getMessage.contains(staged.toString), e.getMessage)
    assert(text(fs, live) == "old" && text(fs, staged) == "new" && !fs.exists(aside))
  }

  test("replace: a refused rollback names the aside that holds the old contents") {
    val base = scratch("rollback")
    val fs = RefusingFs(rename = s"$base/\\.(staging|old)-.*")
    val (staged, live, aside) = layout(fs, base)
    val e = intercept[java.io.IOException](Swap.replace(fs, staged, live, aside)())
    assert(e.getMessage.contains(aside.toString), e.getMessage)
    assert(!fs.exists(live) && text(fs, aside) == "old" && text(fs, staged) == "new")
  }

  test("sibling refuses an unlisted tag; debris and asides match only their forms") {
    val live = new Path("/w/t")
    assert(Swap.sibling(live, "morupd", "0123abcd") == new Path("/w/.morupd-t-0123abcd"))
    intercept[IllegalArgumentException](Swap.sibling(live, "rlflat"))
    val debris = Seq(".old-t-0123abcd", ".morupd-t-0123abcd", ".snapcompact-t-0123abcd",
      ".gen-t-0000000000042-0123abcd", ".commitlock-t", ".commitlock-t.break",
      ".commitlock-t.tags", ".commitlock-t.tags.break")
    val other = Seq("t", ".old-t2-0123abcd", ".old-t-0123abcd0", ".rlflat-t-0123abcd",
      ".commitlock-t2", ".stats.old")
    assert(debris.forall(Swap.debris("t").matches), debris.filterNot(Swap.debris("t").matches))
    assert(!other.exists(Swap.debris("t").matches), other.filter(Swap.debris("t").matches))
    assert(Swap.asides("t").matches(".old-t-0123abcd") &&
      !Swap.asides("t").matches(".staging-t-0123abcd"))
  }

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  test("compactPartitioned: a refused swap keeps the table, a retry compacts it") {
    val dir = scratch("compact") + "/t"
    for (batch <- 0 until 2)
      spark.range(batch * 30, batch * 30 + 30).selectExpr("id", "id % 3 AS k")
        .write.mode("append").partitionBy("k").parquet(dir)
    val before = rows(dir)
    RefusingFs.withRefusal(hconf, rename = s"$dir\\.compacting") {
      intercept[java.io.IOException] {
        graft.sources.Writers.compactPartitioned(spark, s"refuse://$dir", "k")
      }
    }
    assert(rows(dir) == before)
    graft.sources.Writers.compactPartitioned(spark, dir, "k")
    assert(rows(dir) == before)
    assert(new java.io.File(dir).listFiles().filter(_.getName.startsWith("k="))
      .forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1))
  }

  test("ivfPqCompact: a refused swap keeps the index, a retry compacts it") {
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val dir = scratch("pq") + "/idx"
    graft.operators.Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir,
      nlist = 8, m = 8, ksub = 16)
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
      .map(d => d.getName -> d.list().sorted.toSeq).toMap
    val before = rows(dir)
    RefusingFs.withRefusal(hconf, rename = s"$dir\\.compacting") {
      intercept[java.io.IOException] {
        graft.operators.Similarity.ivfPqCompact(spark, s"refuse://$dir")
      }
    }
    assert(new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
      .map(d => d.getName -> d.list().sorted.toSeq).toMap == files,
      "the live index must keep its files")
    assert(rows(dir) == before)
    graft.operators.Similarity.ivfPqCompact(spark, dir)
    assert(rows(dir) == before)
  }

  test("BloomState.write: a refused swap keeps the old filter, a retry lands the new one") {
    import org.apache.spark.sql.functions.col
    val path = scratch("bloom") + "/bf"
    def fps(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id").cast("string").as("fp"))
    graft.operators.BloomState.write(fps(0, 100), "fp", path, expectedItems = 1000L)
    val old = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    RefusingFs.withRefusal(hconf, rename = s"$path\\.next") {
      intercept[java.io.IOException] {
        graft.operators.BloomState.write(fps(0, 200), "fp", s"refuse://$path",
          expectedItems = 1000L)
      }
    }
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), old))
    graft.operators.BloomState.write(fps(0, 200), "fp", path, expectedItems = 1000L)
    val bf = graft.operators.BloomState.read(spark, path)
    assert((0 until 200).forall(i => bf.mightContainString(i.toString)))
    assert(!new java.io.File(s"$path.old").exists && !new java.io.File(s"$path.next").exists)
  }
}
