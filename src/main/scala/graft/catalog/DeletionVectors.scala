package graft.catalog

import graft.operators.Par

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.sources

/** Merge-on-read DELETE via deletion vectors (r15) — the write-volume
  * complement of the copy-on-write paths: a point DELETE on a snapshot
  * table writes one tiny parquet of (file, position) pairs plus one
  * manifest, instead of rewriting every candidate file. Opt-in per table
  * (`TBLPROPERTIES ('deletion_vectors'='true')`, requires `snapshots`).
  *
  * Scale shape this buys at 100 TB: a GDPR-style single-key DELETE against
  * a 1 GB-file layout costs ~1 GB of rewrite under copy-on-write even with
  * perfect file candidacy — the matched file must be copied minus one row.
  * Under deletion vectors the same DELETE writes a few KB: the positions.
  * The read-side tax is one broadcast anti-join on (file, pos) over ONLY
  * the files that carry vectors (clean files read untouched), and
  * compaction materializes vectors back to zero whenever the tax grows.
  *
  * Layout: `<table>/_graft_dv/dv-<uuid>/part-*.parquet`, schema
  * (file STRING /* root-relative data file */, pos BIGINT /* row index */).
  * The manifest's `dvs` map points each vectored FILE at the dv dir
  * carrying its full pair set (a delete against an already-vectored file
  * writes the UNION, so one lookup per file suffices); `dvRows` carries
  * per-file deleted counts so the manifest's live-row accounting never
  * re-reads a dv. Time travel is untouched — an older manifest references
  * older (or no) dv dirs — and retention sweeps dv dirs exactly like
  * change dirs.
  *
  * Correctness firewalls:
  *  - Reads of a dv-carrying snapshot are REWRITTEN at analysis time
  *    ([[GraftDvReadRule]]) into live-row plans; the DSv2 scan (whose
  *    footer-based count pushdown and row-group pruning know nothing of
  *    positions) never serves a vectored file.
  *  - Copy-on-write MERGE/UPDATE refuse while vectors are live (their
  *    group scan would read — and resurrect — deleted rows); the fix is
  *    one `Snapshots.compact` call, and the refusal says so.
  *  - The DELETE matches positions against the dv-FILTERED read, so
  *    re-deleting an already-deleted row is a no-op and `dvRows` stays
  *    exact.
  *
  * The reference engine is read-only (trino/RecordServiceTransactionHandle
  * .java:17-19); this mirrors the deletion-vector design of open table
  * formats, re-expressed over Spark DataFrame plans.
  */
object DeletionVectors {

  /** V1 filter -> Column, for the predicates `canDeleteWhere` accepted.
    * None = shape we cannot compile (the gate refuses those up front).
    */
  def toColumn(f: sources.Filter): Option[Column] = {
    def c(name: String): Column = col(s"`$name`")
    f match {
      case sources.EqualTo(a, v) => Some(c(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(c(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case sources.LessThan(a, v) => Some(c(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case sources.In(a, vs) => Some(c(a).isInCollection(vs.toSeq))
      case sources.IsNull(a) => Some(c(a).isNull)
      case sources.IsNotNull(a) => Some(c(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case sources.StringContains(a, v) => Some(c(a).contains(v))
      case sources.And(l, r) =>
        for { a <- toColumn(l); b <- toColumn(r) } yield a && b
      case sources.Or(l, r) =>
        for { a <- toColumn(l); b <- toColumn(r) } yield a || b
      case sources.Not(x) => toColumn(x).map(!_)
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  def compilable(f: sources.Filter): Boolean = toColumn(f).isDefined

  /** All (file, pos) deleted pairs of a snapshot, DISTINCT. A dv dir may
    * carry stale subsets for files whose ref has since moved on (the newer
    * dir carries their full union), so pairs are restricted to the CURRENT
    * key set and deduped. None = the snapshot carries no vectors.
    */
  def dvPairs(spark: SparkSession, root: Path, snap: Snapshots.Snapshot,
      wanted: Option[Set[String]] = None): Option[DataFrame] = {
    val files = wanted.map(w => snap.dvs.view.filterKeys(w).toMap).getOrElse(snap.dvs)
    if (files.isEmpty) return None
    val dirs = files.values.toSet.toSeq.sorted
      .map(n => new Path(new Path(root, Snapshots.DvDir), n).toString)
    val raw = spark.read.parquet(dirs: _*).selectExpr("file", "pos")
    val keys = spark.createDataFrame(
      files.keySet.toSeq.sorted.map(Tuple1(_))).toDF("file")
    Some(raw.join(keys, Seq("file"), "left_semi").distinct())
  }

  /** Anti-join a snapshot's deleted positions out of `df`, which must be a
    * file-source read of data files under `root` (so `_metadata` binds).
    * No vectors = `df` unchanged.
    */
  def dropDeleted(spark: SparkSession, fs: FileSystem, root: Path,
      snap: Snapshots.Snapshot, df: DataFrame): DataFrame =
    dvPairs(spark, root, snap) match {
      case None => df
      case Some(pairs) =>
        val rootStr = fs.makeQualified(root).toString
        val keep = df.columns.toSeq
        df.withColumn("__graft_file",
            expr(s"substring(_metadata.file_path, ${rootStr.length + 2})"))
          .withColumn("__graft_pos", col("_metadata.row_index"))
          .join(pairs,
            col("__graft_file") === pairs("file") &&
              col("__graft_pos") === pairs("pos"),
            "left_anti")
          .select(keep.map(n => col(s"`$n`")): _*)
    }

  /** The LIVE rows of a set of scan units (generation dirs / files):
    * vector-free units read untouched (full parquet pushdown, no join
    * tax); vectored units pay the anti-join. Output columns follow the
    * declared schema (partition values bind off the kv paths via
    * basePath).
    */
  def readLiveUnits(spark: SparkSession, root: Path, meta: TableMeta,
      snap: Snapshots.Snapshot, units: Seq[String]): DataFrame = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dirtyUnits = snap.dvs.keySet.map(Snapshots.unitOf)
    val (dirty, clean) = units.partition(dirtyUnits)
    val cleanDf =
      if (clean.isEmpty && dirty.isEmpty) Snapshots.readUnits(spark, root, meta, Nil)
      else if (clean.isEmpty) null
      else Snapshots.readUnits(spark, root, meta, clean)
    if (dirty.isEmpty) return cleanDf
    val raw = spark.read.option("basePath", root.toString)
      .parquet(dirty.map(rel => new Path(root, rel).toString): _*)
    val dirtyDf = dropDeleted(spark, fs, root, snap, raw)
      .selectExpr(meta.schema.fieldNames.map(n => s"`$n`").toIndexedSeq: _*)
    if (cleanDf == null) dirtyDf else cleanDf.unionAll(dirtyDf)
  }

  /** The whole table's live rows under `snap`. */
  def readLive(spark: SparkSession, root: Path, meta: TableMeta,
      snap: Snapshots.Snapshot): DataFrame =
    readLiveUnits(spark, root, meta, snap, snap.relDirs)

  /** Candidate data files of a DELETE: per-file manifest stats refute what
    * they can (one JSON, zero footer reads — the same discipline as the
    * copy-on-write candidacy), partition-only conjuncts prune whole kv
    * chains first, and anything unknown stays a candidate.
    */
  private def candidateFiles(fs: FileSystem, root: Path, meta: TableMeta,
      snap: Snapshots.Snapshot, filters: Seq[sources.Filter]): Seq[String] = {
    val partSchema = org.apache.spark.sql.types.StructType(
      meta.partitionCols.flatMap(c =>
        meta.schema.fields.find(_.name.equalsIgnoreCase(c))))
    val partNames = meta.partitionCols.map(_.toLowerCase).toSet
    val (partOnly, rest) = filters.partition(f =>
      f.references.nonEmpty && f.references.forall(r => partNames(r.toLowerCase)))
    snap.relDirs.flatMap { u =>
      // partition-only conjuncts: a unit whose kv values refute any of
      // them can hold no matching row
      val kvOk = meta.partitionCols.isEmpty || {
        val kv = Snapshots.entryKeyOf(u + "/x") // u = kv/gen; key of a file in it
        Snapshots.parseKvChain(partSchema, kv) match {
          case Some(vals) =>
            partOnly.forall(f => PartitionDirs.eval(f, vals).getOrElse(true))
          case None => true
        }
      }
      if (!kvOk) Nil
      else Snapshots.unitStats(fs, root, u) match {
        case Some(m) => m.toSeq.sortBy(_._1).filter { case (rel, ref) =>
          ref.rows != 0 &&
            rest.forall(f => FileStats.mightMatch(f, ref.cols)) && {
              val bl = BloomSkip.forFile(fs, root, rel)
              rest.forall(f => BloomSkip.mightMatch(f, bl))
            }
        }.map(_._1)
        case None =>
          // unit predates stats accounting: every file is a candidate
          val p = new Path(root, u)
          try {
            val st = fs.getFileStatus(p)
            if (st.isFile) Seq(u)
            else fs.listStatus(p).toSeq
              .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
                !s.getPath.getName.startsWith("."))
              .map(s => s"$u/${s.getPath.getName}").sorted
          } catch { case _: Exception => Nil }
      }
    }
  }

  /** Execute `DELETE FROM t WHERE <filters>` as a deletion-vector commit:
    * find matching LIVE positions in the candidate files, write one dv
    * parquet carrying (old pairs of touched files) ∪ (new pairs), and
    * claim one manifest whose `dvs` points the touched files at it. No
    * data file is touched; bytes written ∝ deleted positions. A DELETE
    * matching nothing commits nothing.
    */
  def deleteWhere(spark: SparkSession, root: Path, meta: TableMeta,
      snap: Snapshots.Snapshot, filters: Seq[sources.Filter]): Unit = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val cond = filters.flatMap(toColumn).reduceOption(_ && _).getOrElse(lit(true))
    require(filters.forall(compilable),
      "deletion-vector DELETE received a predicate canDeleteWhere should have refused")
    val cands = candidateFiles(fs, root, meta, snap, filters)
    if (cands.isEmpty) return
    val rootStr = fs.makeQualified(root).toString
    val raw = spark.read.option("basePath", root.toString)
      .parquet(cands.map(rel => new Path(root, rel).toString): _*)
      .withColumn("__graft_file",
        expr(s"substring(_metadata.file_path, ${rootStr.length + 2})"))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    // match against LIVE rows only: an already-deleted position must not
    // re-enter the union (dvRows stays the exact distinct-position count)
    val live = dvPairs(spark, root, snap, Some(cands.toSet)) match {
      case Some(pairs) => raw.join(pairs,
        col("__graft_file") === pairs("file") &&
          col("__graft_pos") === pairs("pos"), "left_anti")
      case None => raw
    }
    // pinned: the per-file counts and the dv write must see the same rows
    Par.pinned(live.filter(cond)
      .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))) { matched =>
      val counts = matched.groupBy("file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (counts.nonEmpty) {
        val touched = counts.keySet
        val name = s"dv-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
        val dvDir = new Path(new Path(root, Snapshots.DvDir), name)
        val carried = dvPairs(spark, root, snap,
          Some(touched.filter(snap.dvs.contains)))
        val pairsOut = carried.map(matched.unionAll).getOrElse(matched)
        pairsOut.coalesce(1).write.mode("overwrite").parquet(dvDir.toString)
        val dvs = snap.dvs ++ touched.map(_ -> name)
        val dvRows = snap.dvRows ++ counts.map { case (f, n) =>
          f -> (snap.dvRows.getOrElse(f, 0L) + n)
        }
        try Snapshots.commit(fs, root, Some(snap), snap.entries,
          kind = "dvdelete", dvEdit = Some((dvs, dvRows)))
        catch { case e: ConcurrentCommitException =>
          fs.delete(dvDir, true)
          throw e
        }
      }
    }
  }

  /** Execute a merge-on-read `UPDATE t SET ... WHERE ...` (r15, see
    * [[GraftMorUpdateCommand]]): matched LIVE rows are position-vectored
    * out of their files and re-written — with the assignments applied —
    * as one fresh generation, in one atomic manifest commit. Bytes
    * written ∝ matched rows (vector pairs + updated rows), never
    * candidate file bytes. `v1Filters` are the translatable conjuncts of
    * the condition (candidacy only — a subset is always safe); `cond` is
    * the FULL condition; `sets` maps lowercase column name to its
    * assigned value. An UPDATE matching nothing commits nothing.
    */
  def updateWhere(spark: SparkSession, root: Path, meta: TableMeta,
      snap: Snapshots.Snapshot, v1Filters: Seq[sources.Filter],
      cond: Column, sets: Map[String, Column]): Unit = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    sets.keys.foreach { n =>
      require(meta.schema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"UPDATE ${root.getName}: no such column $n")
    }
    val cands = candidateFiles(fs, root, meta, snap, v1Filters)
    if (cands.isEmpty) return
    val rootStr = fs.makeQualified(root).toString
    val raw = spark.read.option("basePath", root.toString)
      .parquet(cands.map(rel => new Path(root, rel).toString): _*)
      .withColumn("__graft_file",
        expr(s"substring(_metadata.file_path, ${rootStr.length + 2})"))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    val live = dvPairs(spark, root, snap, Some(cands.toSet)) match {
      case Some(pairs) => raw.join(pairs,
        col("__graft_file") === pairs("file") &&
          col("__graft_pos") === pairs("pos"), "left_anti")
      case None => raw
    }
    // pinned: the counts, the replacement rows and the dv pairs must all
    // see the rows matched before the new generation lands
    Par.pinned(live.filter(cond)) { matched =>
      val counts = matched.groupBy("__graft_file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (counts.nonEmpty) {
        // 1. the replacement rows: assignments applied, declared columns only
        val outCols = meta.schema.fields.toSeq.map { f =>
          sets.find(_._1.equalsIgnoreCase(f.name)).map(_._2)
            .map(_.cast(f.dataType).as(f.name))
            .getOrElse(col(s"`${f.name}`"))
        }
        val newRows = matched.select(outCols: _*)
        // 2. stage and adopt the new generation(s) — invisible until commit
        val staging = Swap.sibling(root, "morupd")
        var entries = snap.entries
        var adoptedGens: Map[String, String] = Map.empty
        if (meta.partitionCols.isEmpty) {
          newRows.write.parquet(staging.toString)
          val (gen, rels) = Snapshots.adoptStagedFiles(fs, staging, root)
          adoptedGens = Map("" -> gen)
          entries = entries ++ Snapshots.fileEntries(rels)
        } else {
          newRows.write.partitionBy(meta.partitionCols: _*).parquet(staging.toString)
          val adopted = Snapshots.adoptStaged(fs, staging, root)
          adoptedGens = adopted
          adopted.foreach { case (kv, g) =>
            entries = entries.updated(kv, entries.getOrElse(kv, Nil) :+ g)
          }
        }
        // 3. dv union over the touched files (deleteWhere's discipline: the
        // new dir carries old-pairs-of-touched ∪ matched, one lookup per file)
        val touched = counts.keySet
        val name = s"dv-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
        val dvDir = new Path(new Path(root, Snapshots.DvDir), name)
        def abandon(): Unit = {
          fs.delete(dvDir, true)
          Snapshots.dropGens(fs, root, adoptedGens)
        }
        // any failure before the commit (a lost pin block included) drops
        // the adopted generations with the dv dir
        try {
          fs.delete(staging, true)
          val matchedPairs = matched
            .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))
          val carried = dvPairs(spark, root, snap,
            Some(touched.filter(snap.dvs.contains)))
          val pairsOut = carried.map(matchedPairs.unionAll).getOrElse(matchedPairs)
          pairsOut.coalesce(1).write.mode("overwrite").parquet(dvDir.toString)
        } catch { case e: Throwable => abandon(); throw e }
        val dvs = snap.dvs ++ touched.map(_ -> name)
        val dvRows = snap.dvRows ++ counts.map { case (f, n) =>
          f -> (snap.dvRows.getOrElse(f, 0L) + n)
        }
        try Snapshots.commit(fs, root, Some(snap), entries,
          kind = "morupdate", dvEdit = Some((dvs, dvRows)))
        catch { case e: ConcurrentCommitException => abandon(); throw e }
      }
    }
  }

  /** The rows a dv-delete commit removed, for the change feed: the pair
    * sets' difference, joined back to the (still-listed) files — exact
    * per-row 'D' records with no changelog recording needed.
    */
  def deletedRows(spark: SparkSession, root: Path, meta: TableMeta,
      from: Snapshots.Snapshot, to: Snapshots.Snapshot): DataFrame = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val touched = to.dvs.keySet.filter(f => from.dvs.get(f) != to.dvs.get(f))
    val empty = Snapshots.readUnits(spark, root, meta, Nil)
    if (touched.isEmpty) return empty
    val newPairs = dvPairs(spark, root, to, Some(touched)).getOrElse(return empty)
    val fresh = dvPairs(spark, root, from, Some(touched)) match {
      case Some(old) => newPairs.exceptAll(old)
      case None => newPairs
    }
    val rootStr = fs.makeQualified(root).toString
    val raw = spark.read.option("basePath", root.toString)
      .parquet(touched.toSeq.sorted.map(rel => new Path(root, rel).toString): _*)
      .withColumn("__graft_file",
        expr(s"substring(_metadata.file_path, ${rootStr.length + 2})"))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    raw.join(fresh,
        col("__graft_file") === fresh("file") &&
          col("__graft_pos") === fresh("pos"), "left_semi")
      .selectExpr(meta.schema.fieldNames.map(n => s"`$n`").toIndexedSeq: _*)
  }
}

/** Analysis-time rewrite: any READ of a graft snapshot table whose loaded
  * snapshot carries deletion vectors is replaced by its live-row plan
  * (clean units via a plain parquet relation, vectored units anti-joined
  * against the dv pairs), aliased back onto the relation's output ids so
  * every upstream reference — including governance masks already applied
  * above — resolves unchanged. Tables without live vectors (the common
  * case, and every non-dv table) match nothing and pay nothing.
  *
  * DML targets are deliberately NOT rewritten: DELETE needs the DSv2
  * relation for the metadata/dv `deleteWhere` path, and copy-on-write
  * UPDATE/MERGE refuse separately while vectors are live (resurrection
  * firewall in [[GraftRowLevelOperation]]).
  *
  * Runs in the resolution batch AFTER [[graft.plans.GovernanceRule]]
  * (injection order), so policy wraps the relation first and this rule
  * swaps only the leaf beneath it.
  */
case class GraftDvReadRule(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def eligible(rel: DataSourceV2Relation): Option[(GraftTable, Path)] =
    rel.table match {
      case g: GraftTable if g.loadedSnap.exists(_.dvs.nonEmpty) =>
        g.tableRoot.map(r => (g, new Path(r)))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // DML target subtrees stay untouched (identity-keyed: the same table
    // read in the DML's source clause still rewrites)
    val skip = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case d: DeleteFromTable => d.table.foreach(skip.add)
      case u: UpdateTable => u.table.foreach(skip.add)
      case g: GraftMorUpdate => g.table.foreach(skip.add)
      case m: MergeIntoTable => m.targetTable.foreach(skip.add)
      case _ =>
    }
    plan.resolveOperatorsUp {
      case rel: DataSourceV2Relation if !skip.contains(rel) &&
          eligible(rel).isDefined =>
        val (g, root) = eligible(rel).get
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val meta = TableMeta.read(fs, root).getOrElse(
          throw new IllegalStateException(s"$root: dv table lost its sidecar"))
        val snap = g.loadedSnap.get
        val liveDf = DeletionVectors.readLive(spark, root, meta, snap)
        val livePlan = liveDf.queryExecution.analyzed
        val byName = livePlan.output.map(a => a.name.toLowerCase -> a).toMap
        val projected = rel.output.map { a =>
          val src = byName.getOrElse(a.name.toLowerCase,
            throw new IllegalStateException(
              s"dv read of ${g.name()}: column ${a.name} missing from live plan"))
          val e = if (src.dataType == a.dataType) src else Cast(src, a.dataType)
          Alias(e, a.name)(exprId = a.exprId, qualifier = a.qualifier)
        }
        Project(projected, livePlan)
    }
  }
}
