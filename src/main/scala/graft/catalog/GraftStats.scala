package graft.catalog

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.sources
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Table statistics for cost-based planning (SURVEY.md §2.11 M9). The reference
  * reports rowCount + dataSize to the engine's CBO so it can pick join order and
  * broadcast sides (trino/RecordServiceMetadata.java:504-537, stats config at
  * trino/RecordServiceConfig.java:103-122). Spark's DSv2 path reads statistics from
  * the Scan (`SupportsReportStatistics`); the stock file scan reports bytes only,
  * so this wrapper adds an exact row count read from parquet footers — the same
  * "ask the storage layer" move the reference makes, without scanning data.
  *
  * Row counts are computed once per table and cached (the footers are a few KB per
  * file; at 100 TB this is a metadata-only driver-side pass, the same cost class as
  * the reference's planner stats RPC).
  */
object ParquetFooters {
  /** Sum of footer row counts across all parquet files under `path`, recursing
    * through partition directories (`k=v` subdirs) like the file index does.
    */
  def rowCount(path: Path, conf: Configuration): Long = {
    val fs = path.getFileSystem(conf)
    def files(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s))
    }
    files(path).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}

/** Delegating Table that swaps the ScanBuilder for a stats-reporting one.
  *
  * Reads mirror the reference connector exactly; WRITES deliberately exceed
  * it (the reference is read-only, trino/RecordServiceTransactionHandle
  * .java:17-19) — a Spark-native engine that owns its outputs wants
  * INSERT/CTAS through the same governed catalog, so directory tables
  * delegate `newWriteBuilder` to the stock parquet write path
  * (committer-protected, appends as new part files). Single-file
  * `<name>.parquet` tables stay read-only: appending part files under a
  * file path is not a meaningful layout.
  */
class GraftTable(delegate: ParquetTable, rowCount: () => Long,
    val writablePath: Option[String] = None, val onWrite: () => Unit = () => (),
    val partCols: Seq[String] = Nil, val snapshotted: Boolean = false,
    val sortOrder: Seq[String] = Nil,
    val loadedSnap: Option[Snapshots.Snapshot] = None,
    val changelog: Boolean = false,
    val dvEnabled: Boolean = false,
    // the table's root directory whenever the load serves the FULL layout
    // (unset for sampled catalogs, whose deliberate file prefix must not
    // be re-expanded) — the anchor for deletion-vector reads/commits
    val tableRoot: Option[String] = None,
    val bloomCols: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  /** The partition columns in layout order with their declared types —
    * the schema the `k=v` value parsing binds against.
    */
  private def partSchema: StructType = StructType(
    partCols.flatMap(c => delegate.schema.fields.find(_.name.equalsIgnoreCase(c))))

  /** Metadata-only DELETE (`SupportsDeleteV2`): when every predicate of a
    * `DELETE FROM t WHERE ...` references only partition columns, the
    * delete is a directory drop — no row is read, no file rewritten.
    * Spark's `OptimizeMetadataOnlyDeleteFromTable` downgrades the
    * group-based rewrite to this path automatically when we answer yes
    * here; any predicate touching a data column answers no and the
    * row-level copy-on-write path runs instead. At 100 TB this is THE
    * retention primitive: `DELETE FROM events WHERE day < '2020-01-01'`
    * costs one directory listing and k renames, not a table rewrite.
    */
  /** All predicates are partition-column-only and directory-evaluable —
    * the metadata-only (entry-drop / directory-drop) DELETE shape.
    */
  private def partitionOnlyDelete(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean = {
    if (partCols.isEmpty) return false
    val ps = partSchema
    if (ps.length != partCols.length ||
        !ps.fields.forall(f => PartitionDirs.supportedType(f.dataType)))
      return false
    val names = partCols.map(_.toLowerCase).toSet
    predicates.forall { p =>
      org.apache.spark.sql.GraftSqlShims.predicateToV1(p)
        .exists(f => PartitionDirs.canEval(f, names))
    }
  }

  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean = {
    if (writablePath.isEmpty) return false
    if (partitionOnlyDelete(predicates)) return true
    // deletion-vector tables (r15) additionally accept any predicate the
    // dv path can compile to a DataFrame filter: the DELETE becomes one
    // tiny position-vector commit instead of a copy-on-write rewrite
    dvEnabled && snapshotted && loadedSnap.isDefined &&
      predicates.forall(p =>
        org.apache.spark.sql.GraftSqlShims.predicateToV1(p)
          .exists(DeletionVectors.compilable))
  }

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val livePath = writablePath.getOrElse(throw new UnsupportedOperationException(
      s"table ${delegate.name} is read-only"))
    val filters = predicates.toSeq.map(p =>
      org.apache.spark.sql.GraftSqlShims.predicateToV1(p).getOrElse(
        throw new UnsupportedOperationException(
          s"cannot translate predicate $p — canDeleteWhere should have refused")))
    val spark = org.apache.spark.sql.SparkSession.active
    val live = new Path(livePath)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (!partitionOnlyDelete(predicates)) {
      // deletion-vector path (r15): canDeleteWhere only accepts non-
      // partition-only predicates when the table opted into dvs, so this
      // is that shape — one position-vector parquet + one manifest commit
      val meta = TableMeta.read(fs, live).getOrElse(
        throw new IllegalStateException(s"$live: dv table lost its sidecar"))
      DeletionVectors.deleteWhere(spark, live, meta,
        loadedSnap.getOrElse(throw new IllegalStateException(
          s"$live: dv DELETE without a loaded snapshot")), filters)
      onWrite()
      return
    }
    if (snapshotted) {
      // manifest edit only: doomed entries vanish from the next snapshot
      // ATOMICALLY across partitions; the generation dirs stay on disk for
      // time travel until retention prunes them
      val ps = partSchema
      // base = the snapshot THIS table was loaded with (r14 ADVICE): a
      // concurrent commit since then rebases when disjoint, refuses when not
      val base = loadedSnap
      val entries = base.map(_.entries).getOrElse(Map.empty)
      val keep = entries.filter { case (kv, _) =>
        !Snapshots.parseKvChain(ps, kv).exists(vals =>
          filters.forall(f => PartitionDirs.eval(f, vals).contains(true)))
      }
      Snapshots.commit(fs, live, base, keep, kind = "delete")
      onWrite()
      return
    }
    val doomed = PartitionDirs.leaves(fs, live, partSchema).filter { leaf =>
      filters.forall(f => PartitionDirs.eval(f, leaf.values).contains(true))
    }
    doomed.foreach { leaf =>
      val dir = leaf.rel.foldLeft(live)((p, n) => new Path(p, n))
      PartitionDirs.deleteLeafAndEmptyParents(fs, live, dir)
    }
    onWrite()
  }

  /** `TRUNCATE TABLE` — swap in an empty generation with the same staged
    * rename discipline as every other replacement: a schema-carrying
    * zero-row file (unpartitioned) or just the metadata sidecar
    * (partitioned — the sidecar is the schema source of an empty
    * partitioned table), so the truncated table stays loadable and
    * insertable, and a crash leaves the old contents intact.
    */
  override def truncateTable(): Boolean = {
    val livePath = writablePath.getOrElse(throw new UnsupportedOperationException(
      s"table ${delegate.name} is a single-file table — read-only"))
    val spark = org.apache.spark.sql.SparkSession.active
    val live = new Path(livePath)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (snapshotted) {
      // one empty manifest — atomic, and the old snapshot stays readable
      // under graft.history retention
      Snapshots.commit(fs, live, loadedSnap, Map.empty, kind = "truncate")
      onWrite()
      return true
    }
    val staging = Swap.sibling(live, "overwrite")
    val meta = TableMeta.read(fs, live)
    fs.mkdirs(staging)
    meta match {
      case Some(m) if m.partitionCols.nonEmpty => TableMeta.write(fs, staging, m)
      case other =>
        other.foreach(TableMeta.write(fs, staging, _))
        // data schema only: partition columns (none here) stay out of files
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema())
          .write.mode("append").parquet(staging.toString)
    }
    CommitLock.withLock(fs, live.getParent, live.getName) {
      // unpartitioned truncates participate in history like any replacement
      Swap.replace(fs, staging, live, Swap.sibling(live, "old")) { aside =>
        if (meta.forall(_.partitionCols.isEmpty))
          History.retire(fs, live.getName, live, aside)
        else fs.delete(aside, true)
      }
    }
    onWrite()
    true
  }

  /** MERGE INTO / UPDATE / DELETE (r12 VERDICT ask #4): group-based
    * copy-on-write — the group is a `k=v` partition directory for
    * partitioned tables (r13: the scan's partition pruning plus Spark's
    * runtime group filtering scope the rewrite to the partitions that
    * contain matched rows) and the whole table otherwise. Spark's rewrite
    * rules compute the post-merge contents (the same algebra as
    * graft.operators.Pipelines.applyDiff) and ReplaceDataExec writes them
    * through this operation's staged write, so a crashed MERGE leaves the
    * old contents intact. See [[GraftRowLevelOperation]] for the two
    * invariants (no data-filter pushdown into candidate groups; write
    * replaces exactly the scanned groups).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (writablePath.isEmpty)
      throw new UnsupportedOperationException(
        s"table ${delegate.name} is a single-file table — read-only")
    () => new GraftRowLevelOperation(delegate, writablePath.get, onWrite,
      partCols, info, snapshotted, loadedSnap, changelog)
  }
  // ---- SupportsPartitionManagement (r13): SHOW PARTITIONS and ALTER
  // TABLE ADD/DROP PARTITION over the hive layout. All metadata-only —
  // a directory listing, a mkdir, a recursive delete — the retention
  // companion to the partition-predicate DELETE fast path. Partition-level
  // properties have no storage here and refuse loudly.

  override def partitionSchema(): StructType = partSchema

  /** Partition management needs round-trippable `k=v` rendering/parsing —
    * the same gate `canDeleteWhere` applies. Without it, SHOW PARTITIONS on
    * a timestamp-partitioned table would throw from parseExternal, and
    * ADD/DROP PARTITION would render raw micros into names that never match
    * the writer's layout (r13 ADVICE) — refuse with a clear error instead.
    */
  private def requireManageablePartitions(op: String): StructType = {
    val ps = partSchema
    val bad = ps.fields.filterNot(f => PartitionDirs.supportedType(f.dataType))
    if (bad.nonEmpty)
      throw new UnsupportedOperationException(
        s"$op on ${delegate.name}: partition column type(s) " +
          bad.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ") +
          " cannot round-trip through hive k=v directory names")
    ps
  }

  private def partitionDir(ident: org.apache.spark.sql.catalyst.InternalRow): Path = {
    val ps = requireManageablePartitions("partition management")
    require(ident.numFields == ps.length,
      s"partition ident has ${ident.numFields} fields, table has ${ps.length} " +
        "partition columns")
    val live = new Path(writablePath.getOrElse(
      throw new UnsupportedOperationException(
        s"table ${delegate.name} is not a managed directory table")))
    ps.fields.zipWithIndex.foldLeft(live) { case (p, (f, i)) =>
      val v = if (ident.isNullAt(i)) null else ident.get(i, f.dataType)
      new Path(p, s"${f.name}=${PartitionDirs.renderCatalyst(f.dataType, v)}")
    }
  }

  private def partitionFs = {
    val spark = org.apache.spark.sql.SparkSession.active
    new Path(writablePath.get).getFileSystem(spark.sessionState.newHadoopConf())
  }

  /** The ident's `k=v` chain relative to the table root (manifest entry
    * key form).
    */
  private def kvRelOf(ident: org.apache.spark.sql.catalyst.InternalRow): String = {
    val ps = requireManageablePartitions("partition management")
    require(ident.numFields == ps.length,
      s"partition ident has ${ident.numFields} fields, table has ${ps.length} " +
        "partition columns")
    ps.fields.zipWithIndex.map { case (f, i) =>
      val v = if (ident.isNullAt(i)) null else ident.get(i, f.dataType)
      s"${f.name}=${PartitionDirs.renderCatalyst(f.dataType, v)}"
    }.mkString("/")
  }

  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit = {
    if (!properties.isEmpty)
      throw new UnsupportedOperationException(
        "partition properties are not supported by the graft catalog")
    if (snapshotted) {
      // an empty generation LIST marks the partition as declared; atomic
      val live = new Path(writablePath.get)
      val fs = partitionFs
      val base = loadedSnap
      val entries = base.map(_.entries).getOrElse(Map.empty)
      val kv = kvRelOf(ident)
      if (entries.contains(kv))
        throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
          delegate.name, ident, partSchema)
      Snapshots.commit(fs, live, base, entries + (kv -> Nil), kind = "partition")
      onWrite()
      return
    }
    val dir = partitionDir(ident)
    val fs = partitionFs
    if (fs.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        delegate.name, ident, partSchema)
    fs.mkdirs(dir)
    onWrite()
  }

  override def dropPartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    if (snapshotted) {
      val live = new Path(writablePath.get)
      val fs = partitionFs
      val base = loadedSnap
      val entries = base.map(_.entries).getOrElse(Map.empty)
      val kv = kvRelOf(ident)
      if (!entries.contains(kv)) return false
      Snapshots.commit(fs, live, base, entries - kv, kind = "partition")
      onWrite()
      return true
    }
    val dir = partitionDir(ident)
    val fs = partitionFs
    if (!fs.exists(dir)) return false
    PartitionDirs.deleteLeafAndEmptyParents(fs, new Path(writablePath.get), dir)
    onWrite()
    true
  }

  override def truncatePartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    if (snapshotted) {
      val live = new Path(writablePath.get)
      val fs = partitionFs
      val base = loadedSnap
      val entries = base.map(_.entries).getOrElse(Map.empty)
      val kv = kvRelOf(ident)
      if (!entries.contains(kv))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
          delegate.name, ident, partSchema)
      Snapshots.commit(fs, live, base, entries.updated(kv, Nil), kind = "partition")
      onWrite()
      return true
    }
    val dir = partitionDir(ident)
    val fs = partitionFs
    if (!fs.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        delegate.name, ident, partSchema)
    fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
    onWrite()
    true
  }

  override def replacePartitionMetadata(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partition properties are not supported by the graft catalog")

  override def loadPartitionMetadata(ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] = java.util.Collections.emptyMap()

  /** `names`/`ident` filter on a PREFIX-agnostic subset of the partition
    * columns (SHOW PARTITIONS t PARTITION(k=v)); values compare in
    * catalyst space so dates/decimals match regardless of rendering.
    */
  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    require(names.length == ident.numFields)
    if (writablePath.isEmpty || partSchema.isEmpty)
      return Array.empty
    val ps = requireManageablePartitions("SHOW PARTITIONS")
    val live = new Path(writablePath.get)
    val fs = partitionFs
    val wanted: Seq[(Int, Any)] = names.toSeq.zipWithIndex.map { case (n, i) =>
      val fi = ps.fieldIndex(ps.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(s"not a partition column: $n")).name)
      val dt = ps.fields(fi).dataType
      (fi, if (ident.isNullAt(i)) null else ident.get(i, dt))
    }
    // snapshot tables list from the MANIFEST (physical kv dirs may carry
    // retained generations of dropped partitions); plain tables list dirs
    val leafValues: Seq[Map[String, Any]] =
      if (snapshotted)
        Snapshots.current(fs, live).map(_.entries.keys.toSeq.sorted).getOrElse(Nil)
          .flatMap(kv => Snapshots.parseKvChain(ps, kv))
      else PartitionDirs.leaves(fs, live, ps).map(_.values)
    leafValues.flatMap { values =>
      val catalystVals = ps.fields.map(f =>
        PartitionDirs.externalToCatalyst(f.dataType,
          values(f.name.toLowerCase)))
      val matches = wanted.forall { case (fi, v) =>
        (catalystVals(fi) == null && v == null) ||
          (catalystVals(fi) != null && catalystVals(fi) == v)
      }
      if (matches)
        Some(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          catalystVals.asInstanceOf[Array[Any]]): org.apache.spark.sql.catalyst.InternalRow)
      else None
    }.toArray
  }

  override def name(): String = delegate.name
  override def schema(): StructType = delegate.schema
  override def partitioning(): Array[Transform] =
    if (partCols.isEmpty) delegate.partitioning()
    else partCols.map(
      org.apache.spark.sql.connector.expressions.Expressions.identity).toArray
  /** Surface the declared table options through DESCRIBE EXTENDED / SHOW
    * TBLPROPERTIES (r14) — they change write behavior, so users should be
    * able to read them back.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String](delegate.properties())
    if (snapshotted) m.put("snapshots", "true")
    if (changelog) m.put("changelog", "true")
    if (dvEnabled) m.put("deletion_vectors", "true")
    if (bloomCols.nonEmpty) m.put("bloom_cols", bloomCols.mkString(","))
    if (sortOrder.nonEmpty) m.put("sort_order", sortOrder.mkString(","))
    m
  }
  // partitioned tables write through the V1 fallback (one distributed
  // `partitionBy` parquet job — the DSv2 parquet BatchWrite has no
  // partitioned layout path), so they declare V1_BATCH_WRITE instead
  override def capabilities(): java.util.Set[TableCapability] =
    if (writablePath.isDefined && partCols.nonEmpty)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    else if (writablePath.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // SILENT-RESURRECTION FIREWALL (r15): when this snapshot carries live
    // deletion vectors, correct reads REQUIRE the analysis-time rewrite
    // (GraftDvReadRule, injected by graft.plans.GraftExtensions) — with
    // the extensions active this builder is never reached for a vectored
    // table because the rule replaced the relation. Reaching it means the
    // session is NOT wired and a raw scan would silently serve deleted
    // rows. Refuse loudly instead. (Found the hard way: a profiling
    // session without the extensions measured plain scans as "dv reads".)
    if (loadedSnap.exists(_.dvs.nonEmpty))
      throw new IllegalStateException(
        s"${delegate.name}: this snapshot carries live deletion vectors, and " +
          "reading it without the graft extensions would silently serve " +
          "deleted rows. Start the session with " +
          "spark.sql.extensions=graft.plans.GraftExtensions (or compact the " +
          "table to materialize its vectors first).")
    new GraftScanBuilder(
      delegate.newScanBuilder(options).asInstanceOf[ParquetScanBuilder], rowCount,
      // manifest-stats scan pruning (r15): only live snapshot tables —
      // sampled catalogs serve a deliberate file prefix and must not be
      // re-expanded, read-only time-travel tables skip the optimization
      if (snapshotted) loadedSnap.flatMap(sn => writablePath.map(p => (sn, p)))
      else None)
  }

  /** INSERT INTO appends through the stock committer-protected parquet
    * write; INSERT OVERWRITE (truncate) writes the replacement into a
    * hidden sibling staging dir and RENAME-SWAPS it over the live table at
    * job commit — the same all-or-nothing discipline as staged CTAS and
    * the state compactions: readers see the old table until the swap
    * instant, a crashed overwrite leaves the old table intact, and an
    * empty overwrite still materializes a schema-carrying zero-row file.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (writablePath.isEmpty)
      throw new UnsupportedOperationException(
        s"table ${delegate.name} is a single-file table — read-only " +
          "(CTAS/INSERT targets are directory tables)")
    if (partCols.nonEmpty)
      return new PartitionedV1WriteBuilder(delegate.name, writablePath.get,
        partCols, onWrite, snapshotted, sortOrder, loadedSnap, changelog)
    if (snapshotted)
      // unpartitioned SNAPSHOT table (r15): appends and overwrites are
      // manifest commits over file entries — a plain delegate append would
      // land files no manifest references (invisible) and break isolation
      return new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
        private var truncating = false
        override def truncate(): WriteBuilder = { truncating = true; this }
        override def build(): org.apache.spark.sql.connector.write.Write = {
          val w = new SnapshotFilesWrite(delegate.name, writablePath.get,
            info, onWrite, loadedSnap,
            mode = if (truncating) "replace" else "append",
            changelog = changelog).write()
          if (sortOrder.isEmpty) w else new OrderedWrite(w, sortOrder)
        }
      }
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var truncating = false
      override def truncate(): WriteBuilder = { truncating = true; this }
      override def build(): org.apache.spark.sql.connector.write.Write = {
        val w =
          if (!truncating)
            // cache eviction must fire INSIDE commit, not at plan time: a
            // concurrent loadTable between planning and commit would re-cache
            // the pre-insert file listing and serve it for up to the TTL
            // (r11 ADVICE) — mirror SwapOverwrite's post-commit onWrite()
            new InvalidateOnCommit(delegate.newWriteBuilder(info).build(), onWrite)
          else new SwapOverwrite(delegate.name, writablePath.get, info, onWrite).write()
        // declared sort order (r14): range-partition + sort the incoming
        // rows so parquet footer min/max become tight and disjoint across
        // the written files — see OrderedWrite
        if (sortOrder.isEmpty) w else new OrderedWrite(w, sortOrder)
      }
    }
  }
}

/** Write wrapper declaring the table's `sort_order` (r14, VERDICT ask #6):
  * a STRICT `OrderedDistribution` plus in-partition ordering, so Spark
  * plans a range exchange + sort before the parquet write — each written
  * file covers a DISJOINT range of the sort column and its footer min/max
  * prune scans (the row-group stats filter the reader already applies to
  * pushed predicates). Range partitioning samples boundaries, so skew
  * degrades to per-value granularity, never worse than one hot value per
  * task — acceptable for the scan-pruning trade.
  */
private[catalog] class OrderedWrite(
    inner: org.apache.spark.sql.connector.write.Write, sortCols: Seq[String])
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
  private def orders = sortCols.map(c =>
    Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.ordered(orders)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = orders
  override def description(): String = inner.description()
  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    inner.toBatch
}

/** Adapts a clean data-schema Write to the `__row_operation`-prefixed rows
  * of a group-based row-level operation: per-writer codegen'd projection
  * onto columns 1..n, rows carrying the DELETE op code are skipped (for
  * group-based replace they simply don't survive into the rewrite).
  */
private[catalog] class OpPrefixedWrite(
    inner: org.apache.spark.sql.connector.write.Write, dataSchema: StructType)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, WriterCommitMessage}
  import org.apache.spark.sql.catalyst.InternalRow

  // forward the inner write's distribution/ordering so Spark's
  // DistributionAndOrderingUtils.prepareQuery sees it through this wrapper
  // (the single-pass partitioned replace asks for rebalance + sort on the
  // partition columns; the op-code prefix column doesn't disturb name
  // resolution). An inner write without requirements resolves to
  // unspecified/empty — prepareQuery then leaves the plan untouched.
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = inner match {
    case r: RequiresDistributionAndOrdering => r.requiredDistribution()
    case _ => org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  }
  override def distributionStrictlyRequired(): Boolean = inner match {
    case r: RequiresDistributionAndOrdering => r.distributionStrictlyRequired()
    case _ => false
  }
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = inner match {
    case r: RequiresDistributionAndOrdering => r.requiredOrdering()
    case _ => Array.empty
  }
  override def requiredNumPartitions(): Int = inner match {
    case r: RequiresDistributionAndOrdering => r.requiredNumPartitions()
    case _ => 0
  }
  override def advisoryPartitionSizeInBytes(): Long = inner match {
    case r: RequiresDistributionAndOrdering => r.advisoryPartitionSizeInBytes()
    case _ => 0
  }

  override def description(): String = inner.description()
  override def toBatch: BatchWrite = new BatchWrite {
    private val ib = inner.toBatch
    override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
      new OpPrefixedFactory(ib.createBatchWriterFactory(p), dataSchema)
    override def useCommitCoordinator(): Boolean = ib.useCommitCoordinator()
    override def onDataWriterCommit(message: WriterCommitMessage): Unit =
      ib.onDataWriterCommit(message)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      ib.commit(messages)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      ib.abort(messages)
  }
}

private[catalog] class OpPrefixedFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  import org.apache.spark.sql.catalyst.util.RowDeltaUtils
  import org.apache.spark.sql.connector.write.WriterCommitMessage

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val iw = inner.createWriter(partitionId, taskId)
    // executor-side codegen'd projection: fields 1..n of the prefixed row
    val proj = UnsafeProjection.create(dataSchema.fields.zipWithIndex.map {
      case (f, i) => BoundReference(i + 1, f.dataType, f.nullable)
    }.toIndexedSeq)
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        if (row.getInt(0) != RowDeltaUtils.DELETE_OPERATION)
          iw.write(proj(row))
      }
      // metadata-projection path delivers clean data rows; metadata ignored
      override def write(metadata: InternalRow, row: InternalRow): Unit =
        iw.write(row)
      override def commit(): WriterCommitMessage = iw.commit()
      override def abort(): Unit = iw.abort()
      override def close(): Unit = iw.close()
      override def currentMetricsValues() = iw.currentMetricsValues()
    }
  }
}

/** Write path for PARTITIONED directory tables (r11 VERDICT ask #2):
  * Spark's DSv2 parquet BatchWrite has no partitioned-layout path, so
  * partitioned INSERTs ride the V1 fallback — `insert` runs ONE
  * distributed `partitionBy` parquet job (the stock dynamic-partition
  * file writer: each task writes its partition values' `k=v` files, no
  * extra shuffle beyond what the query already did). INSERT OVERWRITE
  * stages the replacement table next to the live one and rename-swaps at
  * the end, the same all-or-nothing discipline as SwapOverwrite.
  */
private[catalog] class PartitionedV1WriteBuilder(tableName: String,
    livePath: String, partCols: Seq[String], onWrite: () => Unit,
    snapshotted: Boolean = false, sortOrder: Seq[String] = Nil,
    baseSnap: Option[Snapshots.Snapshot] = None, changelog: Boolean = false)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var truncating = false
  override def truncate(): WriteBuilder = { truncating = true; this }

  /** Rebalance on the partition columns, then — when the table declares a
    * `sort_order` — sort (partCols ++ sortCols) within each task: the
    * partition-column prefix satisfies the file writer's required ordering
    * (so it adds no sort of its own that would destroy ours), and each
    * written `k=v` file carries tight, ordered row-group min/max on the
    * sort columns.
    */
  private def arrange(data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rebalanced = data.hint("rebalance",
      partCols.map(org.apache.spark.sql.functions.col): _*)
    if (sortOrder.isEmpty) rebalanced
    else rebalanced.sortWithinPartitions(
      (partCols ++ sortOrder).map(org.apache.spark.sql.functions.col): _*)
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, overwriteFlag: Boolean) => {
          val live = new Path(livePath)
          val fs = live.getFileSystem(
            data.sparkSession.sessionState.newHadoopConf())
          if (snapshotted) {
            // snapshot tables: stage the incoming rows as a plain hive
            // layout, ADOPT each staged leaf as a fresh generation, then
            // commit ONE manifest — append extends the generation lists,
            // overwrite replaces the whole entry map. Atomic across
            // partitions; a crash pre-commit leaves unreferenced debris.
            val arranged = arrange(data)
            val staging = Swap.sibling(live, "snapstage")
            try {
              arranged.write.partitionBy(partCols: _*).mode("overwrite")
                .parquet(staging.toString)
              // base = the LOAD-time snapshot (r14 ADVICE): a commit that
              // landed since rebases when its entries are disjoint from
              // ours and refuses otherwise — never silently absorbed
              val base = baseSnap
              val baseEntries = base.map(_.entries).getOrElse(Map.empty)
              val adopted = Snapshots.adoptStaged(fs, staging, live)
              val replacing = truncating || overwriteFlag
              val entries =
                if (replacing) adopted.map { case (kv, g) => kv -> Seq(g) }
                else baseEntries ++ adopted.map { case (kv, g) =>
                  kv -> (baseEntries.getOrElse(kv, Nil) :+ g)
                }
              // changelog tables record the overwrite's row-level diff
              // (appends need no recording: the feed synthesizes them)
              val changes =
                if (!changelog || !replacing) None
                else TableMeta.read(fs, live).map { meta =>
                  import org.apache.spark.sql.functions.lit
                  val oldUnits = base.map(_.relDirs).getOrElse(Nil)
                  val newUnits = adopted.toSeq.map { case (kv, g) => s"$kv/$g" }
                  val spark = data.sparkSession
                  val oldDf = Snapshots.readUnits(spark, live, meta, oldUnits)
                  val newDf = Snapshots.readUnits(spark, live, meta, newUnits)
                  Snapshots.recordChanges(spark, live,
                    oldDf.exceptAll(newDf).withColumn("_change_op", lit("D"))
                      .unionAll(newDf.exceptAll(oldDf)
                        .withColumn("_change_op", lit("I"))))
                }
              try Snapshots.commit(fs, live, base, entries,
                kind = if (replacing) "replace" else "append",
                changes = changes)
              catch { case e: ConcurrentCommitException =>
                Snapshots.dropGens(fs, live, adopted)
                changes.foreach(c => fs.delete(
                  new Path(new Path(live, Snapshots.ChangesDir), c), true))
                throw e
              }
            } finally {
              fs.delete(staging, true)
              onWrite()
            }
          } else {
          // INSERT OVERWRITE is whole-table (static) by design: Spark's
          // dynamic-partition overwrite plans OverwritePartitionsDynamic,
          // which has no V1-fallback exec — per-partition backfill of a
          // hive layout goes through Writers.partitionedParquet with the
          // dynamic writer option instead
          // pre-write REBALANCE by the partition columns (the
          // Writers.partitionedParquet discipline, r12 VERDICT ask #1):
          // clusters values so a raw partitionBy's tasks × values
          // small-files explosion cannot happen, while AQE splits an
          // oversized value across tasks — a plain hash repartition would
          // funnel a 60%-one-value write through a single task
          val arranged = arrange(data)
          if (truncating || overwriteFlag) {
            val staging = Swap.sibling(live, "overwrite")
            arranged.write.partitionBy(partCols: _*).mode("overwrite")
              .parquet(staging.toString)
            // the sidecar travels with the table
            TableMeta.read(fs, live).foreach(TableMeta.write(fs, staging, _))
            CommitLock.withLock(fs, live.getParent, live.getName) {
              Swap.replace(fs, staging, live, Swap.sibling(live, "old"))()
            }
          } else
            arranged.write.partitionBy(partCols: _*).mode("append")
              .parquet(livePath)
          onWrite()
          }
        }
    }
}

/** The appending half of [[GraftTable.newWriteBuilder]]: delegates the
  * write untouched, firing the catalog's cache eviction after the batch
  * COMMIT (the same point SwapOverwrite fires it) so read-after-write
  * within the cache TTL always sees the inserted rows.
  */
private[catalog] class InvalidateOnCommit(
    inner: org.apache.spark.sql.connector.write.Write, onWrite: () => Unit)
    extends org.apache.spark.sql.connector.write.Write {
  import org.apache.spark.sql.connector.write.{BatchWrite, PhysicalWriteInfo, WriterCommitMessage}
  override def description(): String = inner.description()
  override def toBatch: BatchWrite = new BatchWrite {
    private val innerBatch = inner.toBatch
    override def createBatchWriterFactory(p: PhysicalWriteInfo) =
      innerBatch.createBatchWriterFactory(p)
    override def useCommitCoordinator(): Boolean =
      innerBatch.useCommitCoordinator()
    override def onDataWriterCommit(message: WriterCommitMessage): Unit =
      innerBatch.onDataWriterCommit(message)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      innerBatch.commit(messages)
      onWrite()
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      innerBatch.abort(messages)
  }
}

/** The truncating half of [[GraftTable.newWriteBuilder]]: a parquet write
  * into `.overwrite-<name>-<uuid>` (ignored by table listing) whose batch
  * COMMIT swaps the staging dir over the live table.
  *
  * `fileScope` (r14, VERDICT ask #2 — FILE-granularity row-level groups):
  * when the row-level scan pinned a candidate-file subset (see
  * [[GroupScopedScanBuilder]]), the commit replaces exactly those files —
  * the staged part files move in under fresh names, the candidates retire
  * through per-file asides, and every other file stays byte-identical. A
  * point DELETE then writes bytes proportional to the matched FILES, not
  * the table. Atomicity is per file (the aside discipline per candidate);
  * the whole-table swap path — `fileScope() == None` — keeps its
  * all-or-nothing rename and its History retirement.
  */
private[catalog] class SwapOverwrite(tableName: String, livePath: String,
    info: LogicalWriteInfo, onWrite: () => Unit,
    fileScope: () => Option[Set[String]] = () => None) {
  import org.apache.spark.sql.connector.write.{BatchWrite, PhysicalWriteInfo, Write, WriterCommitMessage}

  private val spark = org.apache.spark.sql.SparkSession.active
  private val live = new Path(livePath)
  private val staging = Swap.sibling(live, "overwrite")
  private def fs = live.getFileSystem(spark.sessionState.newHadoopConf())

  def write(): Write = {
    val staged = ParquetTable(tableName, spark,
      CaseInsensitiveStringMap.empty(), Seq(staging.toString),
      Some(info.schema()), classOf[org.apache.spark.sql.execution
        .datasources.parquet.ParquetFileFormat])
    val inner = staged.newWriteBuilder(info).build()
    new Write {
      override def description(): String = s"graft-overwrite($tableName)"
      override def toBatch: BatchWrite = new BatchWrite {
        private val innerBatch = inner.toBatch
        override def createBatchWriterFactory(p: PhysicalWriteInfo) =
          innerBatch.createBatchWriterFactory(p)
        // the file write runs the Hadoop committer, NOT the driver-side
        // commit coordinator — delegating this is load-bearing (the
        // default `true` makes the coordinator deny the tasks' commits)
        override def useCommitCoordinator(): Boolean =
          innerBatch.useCommitCoordinator()
        override def onDataWriterCommit(message: WriterCommitMessage): Unit =
          innerBatch.onDataWriterCommit(message)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          innerBatch.commit(messages)
          val filesystem = fs
          if (!filesystem.exists(staging)) filesystem.mkdirs(staging)
          fileScope() match {
            case Some(doomed) => CommitLock.withLock(filesystem, live.getParent, live.getName) {
              // FILE-granularity replace: staged files in, candidates out,
              // everything else untouched
              val uuid = Swap.uuid8()
              val asides = doomed.toSeq.sorted.map { p =>
                val src = new Path(p)
                val aside = new Path(live, s".rlold-${src.getName}-$uuid")
                if (!filesystem.rename(src, aside))
                  throw new java.io.IOException(s"cow: cannot retire $src")
                aside
              }
              filesystem.listStatus(staging).toSeq
                .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
                  !st.getPath.getName.startsWith("."))
                .zipWithIndex.foreach { case (st, i) =>
                  val dst = new Path(live, s"part-rl-$uuid-$i-${st.getPath.getName}")
                  if (!filesystem.rename(st.getPath, dst))
                    throw new java.io.IOException(
                      s"cow: cannot move ${st.getPath} into $live")
                }
              asides.foreach(filesystem.delete(_, false))
              filesystem.delete(staging, true)
              onWrite()
              return
            }
            case None => ()
          }
          val hasData = filesystem.listStatus(staging).exists(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet"))
          if (!hasData) // empty overwrite keeps the table loadable
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              info.schema()).write.mode("append").parquet(staging.toString)
          CommitLock.withLock(filesystem, live.getParent, live.getName) {
            // uuid-suffixed aside (r11 ADVICE): concurrent overwrites cannot
            // collide; graft.history=N retires the replaced contents as a
            // generation
            Swap.replace(filesystem, staging, live, Swap.sibling(live, "old"))(
              History.retire(filesystem, tableName, live, _))
          }
          onWrite()
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          innerBatch.abort(messages)
          fs.delete(staging, true)
        }
      }
    }
  }
}

/** Write path for UNPARTITIONED SNAPSHOT tables (r15, r14 VERDICT ask #3):
  * every mutation is a staged parquet write whose batch COMMIT adopts the
  * staged files into one fresh root-level `gen-*` directory and claims ONE
  * manifest over per-FILE entries. Modes:
  *
  *  - `append` (INSERT INTO): base entries ++ the new files — concurrent
  *    appends add DISJOINT file keys and both land via the commit rebase;
  *  - `replace` (INSERT OVERWRITE / TRUNCATE write path): the new files
  *    only;
  *  - `rowlevel` (MERGE/UPDATE/DELETE through [[GraftRowLevelOperation]]):
  *    the scan's candidate files (decided from MANIFEST-carried stats —
  *    zero footer reads) are replaced by the staged rewrite, every other
  *    file entry unchanged: a point DELETE rewrites ONE file AND time
  *    travel to the pre-delete manifest still serves the old one. With
  *    `changelog='true'`, the commit also records per-row (op, version)
  *    change files — computed as old-vs-new EXCEPT ALL over exactly the
  *    replaced files, cost ∝ the mutation.
  *
  * The OCC base is the snapshot the table was LOADED with (r14 ADVICE), so
  * a commit landing between scan and commit is detected, never absorbed.
  */
private[catalog] class SnapshotFilesWrite(tableName: String, livePath: String,
    info: LogicalWriteInfo, onWrite: () => Unit,
    baseSnap: Option[Snapshots.Snapshot], mode: String,
    fileScope: () => Option[Set[String]] = () => None,
    changelog: Boolean = false) {
  import org.apache.spark.sql.connector.write.{BatchWrite, PhysicalWriteInfo, Write, WriterCommitMessage}

  private val spark = org.apache.spark.sql.SparkSession.active
  private val live = new Path(livePath)
  private val staging = Swap.sibling(live, "snapstage")
  private def fs = live.getFileSystem(spark.sessionState.newHadoopConf())

  def write(): Write = {
    val staged = ParquetTable(tableName, spark,
      CaseInsensitiveStringMap.empty(), Seq(staging.toString),
      Some(info.schema()), classOf[org.apache.spark.sql.execution
        .datasources.parquet.ParquetFileFormat])
    val inner = staged.newWriteBuilder(info).build()
    new Write {
      override def description(): String = s"graft-snapshot-files($tableName)"
      override def toBatch: BatchWrite = new BatchWrite {
        private val innerBatch = inner.toBatch
        override def createBatchWriterFactory(p: PhysicalWriteInfo) =
          innerBatch.createBatchWriterFactory(p)
        override def useCommitCoordinator(): Boolean =
          innerBatch.useCommitCoordinator()
        override def onDataWriterCommit(message: WriterCommitMessage): Unit =
          innerBatch.onDataWriterCommit(message)
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          innerBatch.commit(messages)
          val filesystem = fs
          try {
            if (!filesystem.exists(staging)) filesystem.mkdirs(staging)
            val (gen, newRels) = Snapshots.adoptStagedFiles(filesystem, staging, live)
            val baseEntries = baseSnap.map(_.entries).getOrElse(Map.empty)
            val rootStr = filesystem.makeQualified(live).toString
            def relOf(abs: String): String = {
              val q = filesystem.makeQualified(new Path(abs)).toString
              q.stripPrefix(rootStr).stripPrefix("/")
            }
            val (entries, kind, doomedRels) = mode match {
              case "append" =>
                (baseEntries ++ Snapshots.fileEntries(newRels), "append",
                  Seq.empty[String])
              case "replace" =>
                (Snapshots.fileEntries(newRels), "replace",
                  baseSnap.map(_.relDirs).getOrElse(Nil))
              case "rowlevel" => fileScope() match {
                case Some(doomed) =>
                  val rels = doomed.toSeq.map(relOf).sorted
                  ((baseEntries -- rels) ++ Snapshots.fileEntries(newRels),
                    "rowlevel", rels)
                case None => // no candidacy restriction: whole-table rewrite
                  (Snapshots.fileEntries(newRels), "rowlevel",
                    baseSnap.map(_.relDirs).getOrElse(Nil))
              }
              case other => throw new IllegalArgumentException(
                s"unknown snapshot write mode $other")
            }
            // row-level change feed (opt-in): diff exactly the replaced
            // files against their replacement, record BEFORE the commit so
            // the manifest either references the feed or nothing dangles
            val changes =
              if (!changelog || kind == "append") None
              else TableMeta.read(filesystem, live).map { meta =>
                import org.apache.spark.sql.functions.lit
                val oldDf = Snapshots.readUnits(spark, live, meta, doomedRels)
                val newDf = Snapshots.readUnits(spark, live, meta, newRels)
                val changeDf = oldDf.exceptAll(newDf)
                  .withColumn("_change_op", lit("D"))
                  .unionAll(newDf.exceptAll(oldDf)
                    .withColumn("_change_op", lit("I")))
                Snapshots.recordChanges(spark, live, changeDf)
              }
            try Snapshots.commit(filesystem, live, baseSnap, entries,
              kind = kind, changes = changes)
            catch { case e: ConcurrentCommitException =>
              Snapshots.dropGens(filesystem, live, Map("" -> gen))
              changes.foreach(c => filesystem.delete(
                new Path(new Path(live, Snapshots.ChangesDir), c), true))
              throw e
            }
          } finally {
            fs.delete(staging, true)
            onWrite()
          }
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          innerBatch.abort(messages)
          fs.delete(staging, true)
        }
      }
    }
  }
}

/** Forwards the full parquet pushdown surface (column pruning ≈ reference P1,
  * catalyst filter pushdown ≈ P2-P8, aggregate pushdown ≈ S7 count(*) fast path)
  * to the stock builder, then wraps the built Scan with footer-backed statistics.
  *
  * Pushdown deny list (reference P9,
  * trino/RecordServiceSplitManagerImpl.java:196-225): predicates referencing any
  * column named in `graft.pushdown.deny` (comma-separated session conf) stay
  * engine-side as residuals instead of reaching the scan — the reference uses
  * this to keep storage-cache keys stable per table.
  *
  * Equality-pushdown allow list (the other half of reference P9, consumed at
  * trino/RecordServiceSplitManagerImpl.java:342,376-377): when
  * `graft.pushdown.eq_allow` is set, EQUALITY predicates (=, <=>, IN) are pushed
  * only for listed columns; unset = push all, set-but-empty = push none.
  * Non-equality predicates are unaffected — only the deny list governs those.
  */
class GraftScanBuilder(delegate: ParquetScanBuilder, rowCount: () => Long,
    snapInfo: Option[(Snapshots.Snapshot, String)] = None)
    extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private def conf = org.apache.spark.sql.SparkSession.active.conf

  private def parseCols(v: String): Set[String] =
    v.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet

  private def deniedColumns: Set[String] =
    conf.getOption("graft.pushdown.deny").map(parseCols).getOrElse(Set.empty)

  /** None = no allow list configured (push everything). */
  private def eqAllowedColumns: Option[Set[String]] =
    conf.getOption("graft.pushdown.eq_allow").map(parseCols)

  private def isEquality(e: Expression): Boolean = e match {
    case _: EqualTo | _: EqualNullSafe | _: In | _: InSet => true
    case _ => false
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val deny = deniedColumns
    val allow = eqAllowedColumns
    val (held, pushable) = filters.partition { f =>
      f.references.exists(a => deny(a.name.toLowerCase)) ||
        (isEquality(f) && allow.exists(ok =>
          f.references.exists(a => !ok(a.name.toLowerCase))))
    }
    held ++ delegate.pushFilters(pushable)
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(requiredSchema)
  override def pushAggregation(aggregation: Aggregation): Boolean =
    delegate.pushAggregation(aggregation)
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    delegate.supportCompletePushDown(aggregation)

  override def build(): Scan = {
    val scan = delegate.build()
    // after an aggregate pushdown the scan's output is the aggregated rows, not
    // the table rows — footer counts would be wrong, so skip stats there
    if (scan.pushedAggregate.isDefined) scan
    else new GraftStatsScan(pruneBySnapshotStats(scan), rowCount)
  }

  /** Manifest-stats scan pruning for snapshot tables (r15, r14 VERDICT ask
    * #1b): before any file listing or footer touch, drop every scan UNIT
    * (generation dir / file) whose manifest-carried per-file bounds refute
    * a pushed data-filter conjunct for EVERY file — the driver-side
    * equivalent of parquet row-group pruning, paid from one JSON already
    * in memory. At 100 TB this skips listing whole generations a
    * `sort_order` table laid out disjointly. Strictly conservative: a
    * file without recorded stats, a unit whose accounting doesn't
    * reconcile, or an untranslatable predicate keeps everything.
    */
  private def pruneBySnapshotStats(scan: ParquetScan): ParquetScan = {
    val (snap, root) = snapInfo.getOrElse(return scan)
    val pushed = scan.pushedFilters
    if (pushed.isEmpty) return scan
    val units = snap.relDirs
    if (units.isEmpty) return scan
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val surviving = units.filter { u =>
      Snapshots.unitStats(fs, rootPath, u) match {
        case Some(fl) =>
          // integrity: the sidecar must account for ALL of the unit's
          // rows, else some file predates stats accounting — keep
          val accounted = snap.rows.get(u).forall(_ == fl.values.map(_.rows).sum)
          !accounted || fl.exists { case (rel, ref) =>
            ref.rows != 0 &&
              pushed.forall(f => FileStats.mightMatch(f, ref.cols)) && {
                val bl = BloomSkip.forFile(fs, rootPath, rel)
                pushed.forall(f => BloomSkip.mightMatch(f, bl))
              }
          }
        case None => true // no sidecar for this unit: keep
      }
    }
    if (surviving.length == units.length) return scan
    val spark = org.apache.spark.sql.SparkSession.active
    val fullSchema = StructType(
      scan.dataSchema.fields ++ scan.fileIndex.partitionSchema.fields)
    val idx = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, surviving.map(rel => new Path(new Path(root), rel)),
      Map("basePath" -> root), Some(fullSchema))
    scan.copy(fileIndex = idx)
  }
}

/** Stats + runtime-filtering wrapper around the stock ParquetScan.
  *
  * Statistics: adds the footer-exact row count and sizes the scan from it
  * (both suppressed when the `graft.stats_mode=none` session property is
  * set — reference stats_mode, trino/RecordServiceConfig.java:103-122).
  *
  * Runtime filtering (reference J12 dynamic filtering): Spark 4's DSv2
  * `FileScan` implements no runtime-filtering mixin, so v2 parquet tables —
  * unlike the default v1 path — would never see dynamic partition pruning.
  * This wrapper restores it: `filterAttributes` exposes the partition columns,
  * and `filter` re-derives the delegate with the runtime predicates appended to
  * its `partitionFilters`, which the file index binds by column name during
  * file listing. Runtime filters are best-effort by contract, so predicates
  * that don't translate are dropped, never wrongly applied.
  */
class GraftStatsScan(val delegate: ParquetScan, rowCount: () => Long)
    extends Scan with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // runtime-pruned view of the delegate; swapped by filter() at execution time
  @volatile private var current: ParquetScan = delegate

  /** Storage-partitioned execution (see [[KeyGroupedRead]]): behind the
    * DOUBLE opt-in (`graft.spj` AND Spark's v2-bucketing flag — see
    * SessionProps.SpjKey for why Spark's default-true flag alone cannot
    * gate this), hive-partitioned tables report key-grouped partitioning
    * over their partition columns so co-partitioned joins and
    * partition-keyed aggregations skip the shuffle. Requires the read to
    * retain EVERY partition column: a scan that pruned them has its
    * partition values projected to the pruned schema, so no per-value key
    * can be built (and Spark could not resolve the clustering refs against
    * the output anyway). When ineligible, split planning stays on the
    * size-balanced default.
    */
  private def keyGrouped: Boolean =
    delegate.fileIndex.partitionSchema.nonEmpty &&
      delegate.readPartitionSchema.length ==
        delegate.fileIndex.partitionSchema.length &&
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
      graft.plans.SessionProps.spjEnabled(
        org.apache.spark.sql.SparkSession.active)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    if (!keyGrouped) return new UnknownPartitioning(0)
    val n = KeyGroupedRead.groupCount(current)
    if (n == 0) return new UnknownPartitioning(0)
    new KeyGroupedPartitioning(
      delegate.fileIndex.partitionSchema.fieldNames
        .map(org.apache.spark.sql.connector.expressions.Expressions.identity),
      n)
  }

  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch =
    if (keyGrouped) new KeyGroupedRead.KeyedBatch(current) else current.toBatch
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

  // plan/exchange reuse compares Scan instances — identity must follow the
  // delegate, and a re-executed filter() must not leak the previous run's
  // pruned delegate (or keep pruning when the new predicates all fail to
  // translate), so reset to the unpruned delegate before applying filters
  override def equals(other: Any): Boolean = other match {
    case o: GraftStatsScan => delegate == o.delegate
    case _ => false
  }
  override def hashCode(): Int = delegate.hashCode()

  override def filter(filters: Array[sources.Filter]): Unit = {
    current = delegate
    val partSchema = delegate.fileIndex.partitionSchema
    def attr(name: String): Option[AttributeReference] =
      partSchema.fields.find(_.name.equalsIgnoreCase(name))
        .map(f => AttributeReference(f.name, f.dataType)())
    val converted: Seq[Expression] = filters.toSeq.flatMap {
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

  /** With stats on, the size is the larger of the stock estimate and the
    * decoded rows' size: per row an 8-byte header plus the read columns'
    * default widths, the in-memory data size the reference reports. The
    * stock estimate alone (compressed file bytes scaled by column width)
    * let a 600k-row fact table pass for a broadcast side.
    */
  override def estimateStatistics(): Statistics = {
    val base = delegate.estimateStatistics()
    val enabled = graft.plans.SessionProps.statsEnabled(
      org.apache.spark.sql.SparkSession.active)
    lazy val rows = rowCount()
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        if (!enabled) base.sizeInBytes()
        else {
          val width = 8L + readSchema().defaultSize
          val decoded = if (rows > Long.MaxValue / width) Long.MaxValue else rows * width
          OptionalLong.of(math.max(base.sizeInBytes().orElse(0L), decoded))
        }
      override def numRows(): OptionalLong =
        if (enabled) OptionalLong.of(rows) else base.numRows()
    }
  }
}
