package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output layout helpers (sink side of SURVEY.md §2 S10).
  *
  * `sortedParquet` produces a globally-ordered file set without a global
  * sort: `repartitionByRange` samples range bounds (one pass over a sample,
  * one range exchange), each partition then sorts locally, and files come out
  * ordered by partition index — file N's max key <= file N+1's min key. This
  * is the standard 100 TB layout for downstream merge reads and min/max
  * zone-map pruning; a single-node `orderBy.write` would funnel everything
  * through one task.
  *
  * `zorderParquet` generalizes that to MULTI-dimensional pruning: a sort on
  * one column gives tight min/max zone maps on that column only — every file
  * spans the full range of every other column, so a filter on dimension 2
  * reads the whole table. Z-ordering (bit-interleaving the dimensions into
  * one space-filling-curve key, cf. Morton 1966) makes files cover compact
  * hyper-rectangles, so parquet footer min/max prunes on ANY filtered subset
  * of the z dimensions — the layout Delta/Iceberg `OPTIMIZE ZORDER BY` writes.
  */
object Writers {

  def sortedParquet(df: DataFrame, outDir: String, numFiles: Int,
      sortCols: String*): Unit = {
    require(numFiles >= 1 && sortCols.nonEmpty, "need numFiles >= 1 and sort columns")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(outDir)
  }

  /** Hive-style partitioned layout: one directory per distinct value of
    * `partCols` (`out/lang=en/...`), each partition's files internally sorted
    * by `sortCols` — the layout a curated corpus ships in when downstream
    * consumers slice by language/source/split. Readers get PARTITION PRUNING
    * for free: a `lang = 'en'` filter never lists, opens, or decodes any
    * other directory (WritersSpec pins PartitionFilters + the pruned file
    * count), which at 100 TB is the difference between a metadata operation
    * and a full scan.
    *
    * The pre-write REBALANCE on the partition columns (r12 VERDICT ask #1)
    * keeps both failure modes of a partitioned write at bay: (a) without any
    * clustering, every task appends a sliver to every partition — the
    * tasks × values small-files explosion; (b) a plain hash `repartition`
    * funnels each value through exactly ONE task, so a 60%-one-value column
    * (`lang=en` in a web corpus) serializes 60% of a 100 TB write behind a
    * single writer. The rebalance shuffle keys on the same columns but lets
    * AQE split oversized values across tasks (bounded file sizes, a handful
    * of files for the hot value) and coalesce tiny values into shared tasks
    * (still one file each, since the partitionBy writer splits by value).
    */
  def partitionedParquet(df: DataFrame, outDir: String,
      partCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(partCols.nonEmpty, "need at least one partition column")
    df.hint("rebalance", partCols.map(col): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(outDir)
  }

  /** Append a Morton z-value column (`z`) interleaving `bits` bits of each
    * `zCols` dimension: each column is min-max scaled to [0, 2^bits) with one
    * global stats pass (broadcast as a 1-row cross join — no driver collect),
    * then bit j of scaled dimension d lands at z bit `j * dims + d`. Null
    * values and degenerate (constant) dimensions scale to 0. Every step —
    * IEEE subtract/multiply/divide on exact integers-in-double, floor, clamp,
    * integer bit ops — is engine-portable, so the z-values are SQL-oracle-able.
    *
    * Scale shape: one agg for the stats (parquet footers could supply them,
    * but one column-pruned pass is already cheap), then a narrow projection;
    * the interleave is 2·bits·dims integer ops per row, no shuffle.
    */
  def zValues(df: DataFrame, zCols: Seq[String], bits: Int = 16): DataFrame = {
    val n = zCols.size
    require(n >= 2, "z-ordering needs at least 2 columns")
    require(bits >= 1 && bits * n <= 62, s"bits * dims must fit a long, got $bits * $n")
    val scaleMax = (1L << bits) - 1
    val statAggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val stats = df.agg(statAggs.head, statAggs.tail: _*)
    val scaled = zCols.zipWithIndex.map { case (c, j) =>
      val v = col(c).cast("double")
      val mn = col(s"__mn_$c")
      val mx = col(s"__mx_$c")
      when(v.isNull || mx.isNull || mx <= mn, lit(0L)).otherwise(
        least(lit(scaleMax), greatest(lit(0L),
          floor((v - mn) * lit(scaleMax.toDouble) / (mx - mn)).cast("long"))))
        .as(s"__s$j")
    }
    // statically unrolled OR fold (bits and dims are plan-build-time
    // constants): 2·bits·dims codegen'd bitwise ops per row. The
    // higher-order aggregate(sequence(...)) form computes the same value but
    // allocates a sequence per row and evaluates the lambda interpreted —
    // measured ~20× slower on the q_zorder bench entry.
    val zExpr = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      (0 until n).foldLeft(acc) { (a, j) =>
        a.bitwiseOR(shiftleft(
          shiftright(col(s"__s$j"), i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
    df.crossJoin(broadcast(stats))
      .select(df.columns.map(col) ++ scaled: _*)
      .withColumn("z", zExpr)
      .drop((0 until n).map(j => s"__s$j"): _*)
  }

  /** Materialize [[graft.operators.Pipelines.shardAssign]]'s deterministic
    * global permutation as N training shard directories: each row lands in
    * parquet dir `shard=<s>` sorted by the shard's (md5, id) order, so a
    * trainer streaming shard s front-to-back reads the permutation's
    * positions 0..n_s-1 in order. One exchange keyed on the shard + an
    * in-partition sort — a shuffle write's cost, which a global permutation
    * inherently is.
    */
  def shuffledShards(df: DataFrame, idCol: String, outDir: String,
      shards: Int): Unit = {
    require(shards >= 1, "need shards >= 1")
    val idStr = col(idCol).cast("string")
    val h = expr(s"cast(conv(substring(md5(cast(`$idCol` as string)), 1, 8), 16, 10) " +
      "as bigint)")
    // shard leads the local sort: FileFormatWriter requires ordering by the
    // partition column and would otherwise insert its own (non-stable) sort,
    // destroying the md5 order inside each shard file
    df.withColumn("shard", (h % shards).cast("int"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), md5(idStr), col(idCol))
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)
  }

  /** Write `df` as parquet laid out along the z-curve of `zCols`: range
    * exchange on the z-value (sampled bounds, no global sort), local sort,
    * z dropped from the output schema. Files come out covering compact
    * hyper-rectangles of the z dimensions, so footer min/max prunes point and
    * range queries on any of them — see WritersSpec for the measured file-skip
    * counts vs a single-column sort.
    */
  def zorderParquet(df: DataFrame, outDir: String, numFiles: Int,
      zCols: Seq[String], bits: Int = 16): Unit = {
    require(numFiles >= 1, "need numFiles >= 1")
    zValues(df, zCols, bits)
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Compact a hive-partitioned parquet table in place: rows REBALANCED on
    * the partition column + partitionBy writer ⇒ one file per partition
    * value (an oversized value splits into a few target-size-bounded files
    * instead of funneling through one task — the same skew discipline as
    * [[partitionedParquet]]), written to a sibling directory and
    * rename-swapped — the `Similarity.ivfPqCompact` discipline generalized
    * to any partitioned layout. Appends decay a partitioned table into one
    * file per (partition, batch); compaction restores one file per
    * partition with bit-identical content; sidecars beside the directory
    * are untouched.
    *
    * Crash semantics are [[graft.catalog.Swap.replace]]'s, with the old
    * table at `dir.old` between the renames. Recovery is one rename back;
    * this function detects the leftovers of a crashed run (`.old` /
    * `.compacting`) and refuses to proceed so that recovery stays a
    * deliberate operator action, never a silent overwrite.
    */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession,
      dir: String, partCol: String): Unit = {
    val tmp = s"$dir.compacting"
    val conf = spark.sessionState.newHadoopConf()
    val fs0 = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    require(!fs0.exists(new org.apache.hadoop.fs.Path(s"$dir.old")) &&
      !fs0.exists(new org.apache.hadoop.fs.Path(tmp)),
      s"leftover $dir.old or $tmp from a crashed compact — reconcile first")
    // a snapshot table's raw directory holds EVERY retained generation — a
    // flat read would duplicate rows; its compaction goes through the
    // manifest layer instead
    require(!graft.catalog.TableMeta
        .read(fs0, new org.apache.hadoop.fs.Path(dir)).exists(_.snapshots),
      s"$dir is a snapshot table — use graft.catalog.Snapshots.compact")
    // a declared sort_order survives compaction: re-sort within tasks so
    // the rewritten files keep tight, ordered row-group min/max (r14)
    val sortCols = graft.catalog.TableMeta
      .read(fs0, new org.apache.hadoop.fs.Path(dir)).map(_.sortOrder)
      .getOrElse(Nil)
    val rebalanced = spark.read.parquet(dir).hint("rebalance", col(partCol))
    val arranged =
      if (sortCols.isEmpty) rebalanced
      else rebalanced.sortWithinPartitions((partCol +: sortCols).map(col): _*)
    arranged.write.partitionBy(partCol).mode("overwrite").parquet(tmp)
    val (live, staged) = (new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(tmp))
    try graft.catalog.Swap.replace(fs0, staged, live, new org.apache.hadoop.fs.Path(s"$dir.old"))()
    catch { case e: java.io.IOException if fs0.exists(live) =>
      fs0.delete(staged, true) // the swap rolled back: no leftover to reconcile
      throw e
    }
  }
}
