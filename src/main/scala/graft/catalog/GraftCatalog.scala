package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.GovernancePolicies

/** DSv2 TableCatalog + SupportsNamespaces over a directory of parquet tables — the
  * Spark-native analog of the reference's connector metadata layer
  * (trino/RecordServiceMetadata.java): catalog → namespaces → tables with
  * externally-owned schemas. Reads mirror the reference; the WRITE surface
  * (CREATE/CTAS/INSERT/DROP/RENAME, atomic CTAS via StagingTableCatalog)
  * deliberately exceeds it — the reference connector is read-only
  * (trino/RecordServiceTransactionHandle.java:17-19) because Okera fronts
  * someone else's warehouse, but a Spark-native engine owns its outputs and
  * wants them governed by the same catalog that serves reads.
  *
  * Register with:
  *   spark.sql.catalog.graft     = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.dir = /path/with/parquet/tables
  * Then `SELECT ... FROM graft.main.lineitem` resolves here.
  *
  * All filesystem access goes through Hadoop `FileSystem`, so the same catalog
  * works on local disk, HDFS, or s3a:// at the 100 TB deployment — never
  * java.io.File. A table is either a single `<name>.parquet` file or a `<name>`
  * directory of parquet part-files.
  *
  * Table IO is delegated to Spark's ParquetTable (FileTable machinery), which
  * brings the DSv2 pushdown surface for free — column pruning (P1), filter
  * pushdown (P2-P8), aggregate pushdown (S7 count(*) fast path,
  * trino/RecordServicePageSource.java:79-84), vectorized columnar decode (S2)
  * with row fallback for nested types (S3), and file-split planning with
  * locality (S4). On top of that, `GraftTable` adds footer-exact row-count
  * statistics for the CBO (M9, trino/RecordServiceMetadata.java:504-537).
  *
  * Governance: no-access columns are removed from the reported schema at load
  * time, mirroring the reference's silent column drop for hasAccess == false
  * (trino/RecordServiceMetadata.java:803-804). Masks and row filters are injected
  * by the analyzer rule (graft.plans.GovernanceRule).
  *
  * Loaded tables are cached with a TTL, mirroring the reference's metadata cache
  * (okera.metadata.cache-ttl-ms, trino/RecordServiceConfig.java:201-206); per-query
  * snapshot consistency comes from DSv2 capturing the Table at resolution time.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ViewCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var dir: String = _
  private var ttlMs: Long = 60000L
  /** Byte-budget sampling (r12 ask #6, reference analog: the plugin
    * registers `okera_sampled_10mb`/`okera_sampled_100mb` connector
    * variants, trino/RecordServicePlugin.java:63-65): a catalog registered
    * with `sampling_bytes=N` serves every directory table from a
    * deterministic PREFIX of its data files whose cumulative size fits the
    * budget — scans read at most ~N bytes per table, exactly the
    * quick-look use the reference's sampled catalogs exist for. Sampled
    * catalogs are READ-ONLY (writing through a partial file list would
    * corrupt the real table).
    */
  private var samplingBytes: Option[Long] = None
  /** The TTL cache is PROCESS-GLOBAL (companion), keyed by catalog dir +
    * identifier + governance epoch: Spark clones sessions freely (each
    * foreachBatch micro-batch, thread-local sessions), every clone
    * instantiates its own GraftCatalog, and a per-instance cache would let
    * a write committed through one session serve a stale file listing to
    * another for up to the TTL (the streaming CDC sink found exactly this:
    * the merge's eviction never reached the driving session's cache).
    * Same-JVM coherence is exact; cross-driver coherence remains the TTL,
    * as with the reference's metadata cache.
    */
  private def cache = GraftCatalog.cache

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    dir = Option(options.get("dir")).getOrElse(
      throw new IllegalArgumentException(s"catalog $name requires option 'dir'"))
    ttlMs = Option(options.get("cache-ttl-ms")).map(_.toLong).getOrElse(60000L)
    samplingBytes = Option(options.get("sampling_bytes")).map(_.toLong).filter(_ > 0)
  }

  override def name(): String = catalogName

  private def defaultNs = Array("main")

  private def hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  private def fs = new Path(dir).getFileSystem(hadoopConf)

  /** Cache keys and evictions use the QUALIFIED dir so two catalogs
    * addressing the same storage via different spellings ('/wh' vs '/wh/'
    * vs 'file:///wh') see each other's evictions (r13 ADVICE). Lazy: the
    * filesystem needs an active session, which initialize() may predate.
    */
  private lazy val cacheDir: String =
    try fs.makeQualified(new Path(dir)).toString
    catch { case _: Exception => dir }

  /** Multi-namespace layout (r12 VERDICT ask #3, reference analog
    * trino/RecordServiceMetadata.java:166-189): `main` is the catalog
    * directory itself (backward compatible — every pre-existing table keeps
    * resolving), and every other namespace is a first-level subdirectory
    * carrying a `_graft_ns.json` marker. The marker disambiguates the two
    * things a first-level directory can be — a TABLE (directory of part
    * files) or a NAMESPACE — so listing never misclassifies, and a stray
    * data directory can never masquerade as a namespace.
    */
  private val NsMarker = "_graft_ns.json"

  private def nsDir(ns: Array[String]): Path =
    if (ns.sameElements(defaultNs)) new Path(dir)
    else new Path(dir, ns.mkString("/"))

  /** Resolve a table name to its storage path inside its namespace:
    * `<nsDir>/<name>.parquet` (single file) or `<nsDir>/<name>` (directory
    * of part files).
    */
  private def tablePath(ns: Array[String], name: String): Option[Path] = {
    val base = nsDir(ns)
    val f = new Path(base, s"$name.parquet")
    val d = new Path(base, name)
    val filesystem = fs
    if (filesystem.exists(f)) Some(f)
    else if (filesystem.exists(d) && filesystem.getFileStatus(d).isDirectory) Some(d)
    else None
  }

  override def listNamespaces(): Array[Array[String]] = {
    val filesystem = fs
    val root = new Path(dir)
    val created =
      if (!filesystem.exists(root)) Array.empty[Array[String]]
      else filesystem.listStatus(root).collect {
        case st if st.isDirectory &&
            filesystem.exists(new Path(st.getPath, NsMarker)) =>
          Array(st.getPath.getName)
      }
    Array(defaultNs) ++ created.sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // single-level: no children
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.sameElements(defaultNs) ||
      (namespace.length == 1 && !namespace.head.startsWith("_") &&
        !namespace.head.startsWith(".") &&
        fs.exists(new Path(nsDir(namespace), NsMarker)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      namespace.toSeq)

  override def createNamespace(ns: Array[String], meta: java.util.Map[String, String]): Unit = {
    requireNotSampled("CREATE NAMESPACE")
    if (ns.length != 1 || ns.head.startsWith("_") || ns.head.startsWith("."))
      throw new IllegalArgumentException(
        s"graft catalog namespaces are single-level plain names, got ${ns.mkString(".")}")
    if (namespaceExists(ns))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        ns.toSeq.toArray)
    // a namespace dir and a main-namespace table dir share the same physical
    // location — refuse the collision instead of silently merging them
    if (tablePath(defaultNs, ns.head).isDefined)
      throw new IllegalArgumentException(
        s"cannot create namespace ${ns.head}: a table of that name exists in main")
    if (!Sidecar.publish(fs, new Path(nsDir(ns), NsMarker), "{}"))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        ns.toSeq.toArray)
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no mutable metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    requireNotSampled("DROP NAMESPACE")
    if (ns.sameElements(defaultNs))
      throw new UnsupportedOperationException("cannot drop the main namespace")
    if (!namespaceExists(ns)) return false
    if (!cascade && listTables(ns).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
        ns.toSeq.toArray)
    // evict the namespace's entries under every variant of this dir (the
    // key carries the sampling budget between the dir and the identifier)
    val dirPrefix = cacheDir + "\u0000"
    val nsMark = "\u0000" + ns.head + "."
    cache.keySet.asScala
      .filter(k => k.startsWith(dirPrefix) && k.contains(nsMark))
      .foreach(cache.remove)
    fs.delete(nsDir(ns), true)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    val filesystem = fs
    val root = nsDir(namespace)
    if (!filesystem.exists(root)) return Array.empty
    filesystem.listStatus(root).flatMap { st =>
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet"))
        Some(Identifier.of(namespace, n.stripSuffix(".parquet")))
      else if (st.isFile && n.endsWith(GraftViews.Suffix))
        Some(Identifier.of(namespace, n.stripSuffix(GraftViews.Suffix)))
      else if (st.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
          // in main, a first-level NAMESPACE dir is not a table
          !filesystem.exists(new Path(st.getPath, NsMarker)))
        Some(Identifier.of(namespace, n))
      else None
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) &&
      tablePath(ident.namespace, ident.name).isDefined

  // ---- persistent views (r12 ask #5): `<nsDir>/<name>.graftview.json`
  // sidecars. The DSv2 ViewCatalog INTERFACE is implemented so Spark's
  // analyzer accepts view DDL against this catalog (ResolveSessionCatalog
  // gates CREATE/DROP VIEW on it) — but Spark 4.1 ships no analyzer or
  // exec support behind the interface, so the actual resolution/DDL flow
  // is carried by the injected rules in GraftViews.scala.

  private def viewPath(ns: Array[String], name: String): Path =
    new Path(nsDir(ns), name + GraftViews.Suffix)

  private def viewExists(ns: Array[String], name: String): Boolean =
    fs.exists(viewPath(ns, name))

  private[catalog] def createView(ident: Identifier, sql: String,
      schema: StructType, replace: Boolean, allowExisting: Boolean): Unit = {
    requireNotSampled("CREATE VIEW")
    requireKnownNamespace(ident)
    val p = viewPath(ident.namespace, ident.name)
    val filesystem = fs
    if (tablePath(ident.namespace, ident.name).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace.toSeq :+ ident.name)
    if (filesystem.exists(p) && !replace) {
      if (allowExisting) return // CREATE VIEW IF NOT EXISTS
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace.toSeq :+ ident.name)
    }
    Sidecar.write(filesystem, p, GraftViews.render(sql, schema))
    invalidateTable(ident)
  }

  private[catalog] def dropView(ident: Identifier, ifExists: Boolean): Unit = {
    requireNotSampled("DROP VIEW")
    requireKnownNamespace(ident)
    val p = viewPath(ident.namespace, ident.name)
    if (!fs.exists(p)) {
      if (ifExists) return
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    }
    fs.delete(p, false)
    invalidateTable(ident)
  }

  // ViewCatalog interface methods (the standard surface, mapped onto the
  // same sidecars; programmatic callers get the full CRUD)

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(ns.toSeq)
    val filesystem = fs
    val root = nsDir(ns)
    if (!filesystem.exists(root)) return Array.empty
    filesystem.listStatus(root).collect {
      case st if st.isFile && st.getPath.getName.endsWith(GraftViews.Suffix) =>
        Identifier.of(ns, st.getPath.getName.stripSuffix(GraftViews.Suffix))
    }
  }

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View = {
    if (!namespaceExists(ident.namespace) || !viewExists(ident.namespace, ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val (sql, viewSchema) = GraftViews.read(fs, viewPath(ident.namespace, ident.name))
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = ident.name
      override def query(): String = sql
      override def currentCatalog(): String = catalogName
      override def currentNamespace(): Array[String] = ident.namespace
      override def schema(): StructType = viewSchema
      override def queryColumnNames(): Array[String] = viewSchema.fieldNames
      override def columnAliases(): Array[String] = Array.empty
      override def columnComments(): Array[String] = Array.empty
      override def properties(): java.util.Map[String, String] =
        java.util.Collections.emptyMap()
    }
  }

  override def viewExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) && viewExists(ident.namespace, ident.name)

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    createView(info.ident, info.sql, info.schema, replace = false,
      allowExisting = false)
    loadView(info.ident)
  }

  override def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    if (!orCreate && !viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident)
    createView(info.ident, info.sql, info.schema, replace = true,
      allowExisting = false)
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: org.apache.spark.sql
      .connector.catalog.ViewChange*): org.apache.spark.sql.connector.catalog.View =
    throw new UnsupportedOperationException(
      "graft catalog views carry no mutable properties — CREATE OR REPLACE instead")

  override def dropView(ident: Identifier): Boolean = {
    if (!viewExists(ident)) return false
    dropView(ident, ifExists = true)
    true
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireNotSampled("RENAME VIEW")
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    requireKnownNamespace(newIdent)
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    if (!fs.rename(viewPath(oldIdent.namespace, oldIdent.name),
        viewPath(newIdent.namespace, newIdent.name)))
      throw new java.io.IOException(s"cannot rename view $oldIdent to $newIdent")
    invalidateTable(oldIdent); invalidateTable(newIdent)
  }

  /** Crash recovery for [[Swap.replace]]: a kill between its two renames
    * leaves the table absent from its canonical path with the pre-swap data
    * intact under `.old-<name>-<uuid>`. On a load MISS with exactly ONE
    * matching aside, restore it — the swap never happened, so the aside IS
    * the table. Zero asides = nothing to recover; several = ambiguous
    * (concurrent replaces), refuse and leave them for manual inspection.
    * Only load consults asides, and DROP/RENAME clean them up, so a stale
    * aside can never resurrect a deliberately dropped table.
    */
  private def recoverAside(ns: Array[String], name: String): Option[Path] =
    hidden(ns, Swap.asides(name)) match {
      case Seq(stranded) =>
        val target = new Path(nsDir(ns), name)
        if (fs.rename(stranded.getPath, target)) Some(target) else None
      case _ => None
    }

  /** The entries of namespace `ns`'s directory whose names match `re`. */
  private def hidden(ns: Array[String],
      re: scala.util.matching.Regex): Seq[org.apache.hadoop.fs.FileStatus] = {
    val filesystem = fs
    val root = nsDir(ns)
    if (!filesystem.exists(root)) Nil
    else filesystem.listStatus(root).toSeq.filter(st => re.matches(st.getPath.getName))
  }

  /** Delete a table's crash debris, every [[Swap.debris]] sibling (a kill
    * mid-CTAS or mid-overwrite leaks a full-size table copy otherwise —
    * r12 ADVICE). Callers are the
    * name-retiring operations (DROP, RENAME's old name) and CREATE over a
    * resolved non-ambiguous name — all points where no write of this table
    * can legitimately be in flight under the single-writer-per-table
    * discipline.
    */
  private def dropAsides(ns: Array[String], name: String): Unit = {
    val filesystem = fs
    hidden(ns, Swap.debris(name)).foreach(st => filesystem.delete(st.getPath, true))
  }

  /** CREATE-side aside discipline (r12 ADVICE): `tableExists` consults only
    * the canonical path, but a crash between the two swap renames leaves the
    * table absent with its data recoverable under `.old-<name>-<uuid>`. A
    * CREATE/CTAS that ignored the aside would permanently shadow the
    * recoverable pre-crash data. So before creating: recover a single aside
    * (the create then correctly fails with TableAlreadyExists), refuse on
    * several (ambiguous, same as loadTable), and sweep stale staging /
    * overwrite debris so it cannot linger under the new table.
    */
  private def prepareCreate(ident: Identifier): Unit = {
    requireNotSampled("CREATE TABLE")
    val ns = ident.namespace
    if (tablePath(ns, ident.name).isEmpty) {
      val asides = hidden(ns, Swap.asides(ident.name)).length
      if (asides == 1) recoverAside(ns, ident.name)
      else if (asides > 1)
        throw new IllegalStateException(
          s"cannot create ${ident.name}: $asides crash-asides " +
            "exist (ambiguous recovery) — reconcile the .old-* dirs first")
    }
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace.toSeq :+ ident.name)
    // a main-namespace table dir and a namespace dir share the same physical
    // location — refuse the collision instead of nesting tables inside it
    if (ns.sameElements(defaultNs) && namespaceExists(Array(ident.name)))
      throw new IllegalArgumentException(
        s"cannot create table ${ident.name} in main: a namespace of that name exists")
    // a stored view occupies the name too
    if (viewExists(ns, ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.namespace.toSeq :+ ident.name)
    // the name is genuinely free: clear any orphaned staging/overwrite debris
    dropAsides(ns, ident.name)
  }

  override def loadTable(ident: Identifier): Table = {
    // governance is part of the cache key: a policy or user change must not be
    // masked by a stale cached schema. Policies are keyed ns-qualified first
    // (`ns2.t` governs only ns2's t), then by basename (the pre-namespace
    // registration form, which governs any table of that name) — r12 ask #8.
    val user = graft.plans.Users.current(SparkSession.active)
    val qualified = (ident.namespace :+ ident.name).mkString(".")
    val dropped = GovernancePolicies.getFor(user, qualified)
      .orElse(GovernancePolicies.getFor(user, ident.name))
      .map(_.dropColumns.map(_.toLowerCase).toSet).getOrElse(Set.empty)
    // the key carries every load-shaping catalog option: two catalogs over
    // the SAME dir (e.g. the sampled variant) must never share entries
    val key = cacheDir + "\u0000" + samplingBytes.getOrElse(0L) + "\u0000" +
      ident.toString + "|" + dropped.toSeq.sorted.mkString(",")
    val now = System.currentTimeMillis()
    val cached = cache.get(key)
    if (cached != null && now - cached._1 < ttlMs) return cached._2
    // an unknown namespace must not resolve paths (graft.<table>.<subdir>
    // would otherwise read inside a main table's directory)
    if (!namespaceExists(ident.namespace)) {
      // metadata tables (r15): `<ns>.<table>.files|history|partitions` —
      // the trailing part arrives as the Identifier name with the real
      // table as the last namespace element. Only reachable when the
      // namespace does NOT exist, so no real namespace is ever shadowed.
      if (ident.namespace.length >= 2 && MetaTables.isMetaName(ident.name)) {
        val ns = ident.namespace.init
        val tbl = ident.namespace.last
        if (namespaceExists(ns)) tablePath(ns, tbl).foreach { p =>
          return MetaTables.load(SparkSession.active, ident,
            Identifier.of(ns, tbl), p, ident.name)
        }
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    }
    // stored views resolve to a schema-only table; GraftViewRule splices
    // the parsed view query (with governance beneath) at analysis time
    if (viewExists(ident.namespace, ident.name)) {
      val (sql, viewSchema) = GraftViews.read(fs, viewPath(ident.namespace, ident.name))
      val vt: Table = new GraftViewTable(ident, sql, viewSchema)
      cache.put(key, (now, vt))
      return vt
    }
    val path = tablePath(ident.namespace, ident.name)
        .orElse(recoverAside(ident.namespace, ident.name)).getOrElse {
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    }
    val spark = SparkSession.active
    val isDir = fs.getFileStatus(path).isDirectory

    // metadata sidecar (partitioned / evolved tables): its schema is
    // authoritative — wider than old footers after ADD COLUMN, and the only
    // schema source for an empty partitioned table. Read BEFORE the file
    // listing: the snapshots flag shapes what the table serves.
    val meta = if (isDir) TableMeta.read(fs, path) else None

    // snapshot tables (r14, see Snapshots): serve EXACTLY the generation
    // directories the current manifest lists — unreferenced generations
    // (in-flight commits, retained history) are invisible, so a reader can
    // never observe a half-committed multi-partition mutation
    val snap: Option[Snapshots.Snapshot] =
      if (meta.exists(_.snapshots)) Snapshots.current(fs, path) else None
    val snapDirs: Option[Seq[Path]] = meta.filter(_.snapshots).map { _ =>
      snap.map(_.relDirs.map(rel => new Path(path, rel))).getOrElse(Nil)
    }

    // byte-budget sampled catalog: serve a deterministic file-prefix of the
    // table whose cumulative size fits the budget (always ≥ 1 file so the
    // schema stays inferable); `basePath` keeps hive partition columns
    // resolvable from the leaf-file paths
    val basePathOpt = new CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("basePath", path.toString))
    val (tablePaths, tableOptions) = samplingBytes match {
      case Some(budget) if isDir =>
        def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
          val st = fs.getFileStatus(p)
          if (st.isFile) Seq(st)
          else fs.listStatus(p).toSeq
            .filterNot(s => s.getPath.getName.startsWith("_") ||
              s.getPath.getName.startsWith("."))
            .flatMap(s => if (s.isDirectory) dataFiles(s.getPath) else Seq(s))
        }
        val files = snapDirs match {
          case Some(dirs) => dirs.flatMap(dataFiles).sortBy(_.getPath.toString)
          case None => dataFiles(path).sortBy(_.getPath.toString)
        }
        var acc = 0L
        val kept = files.takeWhile { f => val ok = acc < budget; acc += f.getLen; ok }
        val paths = (if (kept.nonEmpty) kept else files.take(1)).map(_.getPath.toString)
        (paths, basePathOpt)
      case _ => snapDirs match {
        case Some(dirs) => (dirs.map(_.toString), basePathOpt)
        case None => (Seq(path.toString), CaseInsensitiveStringMap.empty())
      }
    }

    def parquetTable(userSchema: Option[StructType]) = ParquetTable(
      ident.name,
      spark,
      tableOptions,
      tablePaths,
      userSchema,
      classOf[ParquetFileFormat])

    // schema-level governance: no-access columns never appear (reference
    // trino/RecordServiceMetadata.java:803-804)
    val declared = meta.map(_.schema)
    val base = declared.map(s => parquetTable(Some(s))).getOrElse(parquetTable(None))
    val table =
      if (dropped.isEmpty) base
      else {
        // a PARTITION column cannot be schema-dropped on a hive layout:
        // the file index re-infers it from the k=v directory names, so the
        // pruned userSchema would silently grow it back — and the values
        // are readable off the PATHS regardless. Refuse loudly instead of
        // leaking (row-filter or re-layout are the real fixes).
        val partNames = meta.map(_.partitionCols)
          .getOrElse(base.partitioning().flatMap(_.references())
            .flatMap(_.fieldNames()).toSeq)
        val leaked = partNames.filter(p => dropped(p.toLowerCase))
        if (leaked.nonEmpty)
          throw new UnsupportedOperationException(
            s"governance: cannot drop partition column(s) ${leaked.mkString(", ")} " +
              s"of ${ident.name} — a hive layout exposes partition values in " +
              "directory names; use a row filter or re-layout the table")
        val pruned = StructType(base.schema.fields.filterNot(f => dropped(f.name.toLowerCase)))
        parquetTable(Some(pruned))
      }

    val conf = hadoopConf
    // stats reflect what the catalog actually serves: the sampled prefix's
    // footers for a sampled catalog, the whole table otherwise. Snapshot
    // manifests carry per-generation row counts, so their stats cost one
    // JSON read instead of one footer read per generation (r14).
    lazy val rows = snap.filter(_ => samplingBytes.isEmpty)
      .flatMap(_.totalRows)
      .getOrElse(tablePaths.map(p => ParquetFooters.rowCount(new Path(p), conf)).sum)
    // directory tables are INSERT targets; single-file `<name>.parquet`
    // tables stay read-only (appending part files under a file path is not
    // a meaningful layout), and sampled catalogs never write
    val writable =
      if (isDir && samplingBytes.isEmpty) Some(path.toString) else None
    val wrapped: Table = new GraftTable(table, () => rows, writable,
      onWrite = () => invalidateTable(ident),
      partCols = meta.map(_.partitionCols).getOrElse(Nil),
      snapshotted = meta.exists(_.snapshots),
      sortOrder = meta.map(_.sortOrder).getOrElse(Nil),
      // the snapshot every scan and DML through this Table actually serves
      // — commits pass it as the OCC base, so a writer landing between this
      // load and a commit is DETECTED, never silently absorbed (r14 ADVICE)
      loadedSnap = snap,
      changelog = meta.exists(_.changelog),
      dvEnabled = meta.exists(_.deletionVectors),
      // the dv read-rewrite anchor: set only for full-layout loads (a
      // sampled catalog's deliberate file prefix must not be re-expanded,
      // so its reads keep the raw prefix — sampling is approximate by
      // contract and this is documented there)
      tableRoot = if (isDir && samplingBytes.isEmpty) Some(path.toString) else None,
      bloomCols = meta.map(_.bloomCols).getOrElse(Nil))
    cache.put(key, (now, wrapped))
    wrapped
  }

  /** Time travel (`VERSION AS OF`): snapshot tables resolve the version as
    * a MANIFEST version number (r14 — partitioned time travel, one JSON
    * file per commit); everything else resolves a retained whole-table
    * generation — see [[History]] for semantics, retention, and the
    * plain-partitioned refusal.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    snapshotMetaOf(ident) match {
      case Some((path, m)) =>
        val filesystem = fs
        def have = Snapshots.versions(filesystem, path).mkString(", ")
        // a non-numeric version is a TAG (r15): named, retention-pinned
        // refs — `VERSION AS OF 'prod-2026-08'`
        val v = version.toLongOption
          .orElse(Snapshots.tags(filesystem, path).get(version)).getOrElse(
          throw new IllegalArgumentException(
            s"VERSION AS OF '$version': snapshot table ${ident.name} takes " +
              s"a manifest version number or a tag (versions: $have; tags: " +
              s"${Snapshots.tags(filesystem, path).keys.toSeq.sorted.mkString(", ")})"))
        val snap = Snapshots.read(filesystem, path, v).getOrElse(
          throw new IllegalArgumentException(
            s"VERSION AS OF $v: not a retained snapshot of ${ident.name} " +
              s"(have: $have)"))
        snapshotTable(ident, path, m, snap)
      case None =>
        loadSnapshot(ident, (fs, dir) =>
          Some(History.byVersion(fs, dir, ident.name, version)))
    }

  /** Time travel (`TIMESTAMP AS OF`, microseconds since epoch): None from
    * the resolver means the CURRENT table was already live at the instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    snapshotMetaOf(ident) match {
      case Some((path, m)) =>
        val snap = Snapshots.byTimestamp(fs, path, timestamp).getOrElse(
          throw new IllegalArgumentException(
            s"TIMESTAMP AS OF: no retained snapshot of ${ident.name} at or " +
              "before the instant"))
        snapshotTable(ident, path, m, snap)
      case None =>
        loadSnapshot(ident, (fs, dir) =>
          History.byTimestamp(fs, dir, ident.name, timestamp))
    }

  /** Is `ident` a snapshot-manifest table? (None = plain table, fall back
    * to whole-table History semantics.) Shares the time-travel gates.
    */
  private def snapshotMetaOf(ident: Identifier): Option[(Path, TableMeta)] = {
    requireNotSampled("time travel")
    if (!namespaceExists(ident.namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    val p = tablePath(ident.namespace, ident.name).getOrElse {
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    }
    if (!fs.getFileStatus(p).isDirectory) None
    else TableMeta.read(fs, p).filter(_.snapshots).map(m => (p, m))
  }

  /** Read-only table over one retained manifest's generation set. */
  private def snapshotTable(ident: Identifier, path: Path, m: TableMeta,
      snap: Snapshots.Snapshot): Table = {
    val spark = SparkSession.active
    val dirs = snap.relDirs.map(rel => new Path(path, rel).toString)
    val t = ParquetTable(ident.name, spark,
      new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("basePath", path.toString)),
      dirs, Some(m.schema), classOf[ParquetFileFormat])
    val conf = hadoopConf
    lazy val rows = snap.totalRows.getOrElse(
      dirs.map(d => ParquetFooters.rowCount(new Path(d), conf)).sum)
    // read-only: no writablePath, so every mutation of a snapshot refuses.
    // loadedSnap + tableRoot carry the version's deletion vectors so the
    // dv read-rewrite serves its exact historical live view.
    new GraftTable(t, () => rows, partCols = m.partitionCols,
      loadedSnap = Some(snap), tableRoot = Some(path.toString))
  }

  private def loadSnapshot(ident: Identifier,
      resolve: (org.apache.hadoop.fs.FileSystem, Path) => Option[Path]): Table = {
    requireNotSampled("time travel")
    if (!namespaceExists(ident.namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    val livePath = tablePath(ident.namespace, ident.name).getOrElse {
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    }
    val filesystem = fs
    // per-partition mutations (dynamic overwrite, partition-scoped DML,
    // appends) don't create whole-table generations, so a partitioned
    // snapshot could silently miss them — refuse instead of lying
    val currentMeta =
      if (filesystem.getFileStatus(livePath).isDirectory)
        TableMeta.read(filesystem, livePath)
      else None
    if (currentMeta.exists(_.partitionCols.nonEmpty))
      throw new UnsupportedOperationException(
        s"time travel on partitioned table ${ident.name} is not supported: " +
          "partitions mutate per-directory, so whole-table generations " +
          "cannot represent every historical state")
    val gen = resolve(filesystem, nsDir(ident.namespace)) match {
      case Some(p) => p
      case None => return loadTable(ident) // current table was live then
    }
    val spark = SparkSession.active
    val genMeta = TableMeta.read(filesystem, gen)
    val snapshot = ParquetTable(ident.name, spark,
      CaseInsensitiveStringMap.empty(), Seq(gen.toString),
      genMeta.map(_.schema), classOf[ParquetFileFormat])
    val conf = hadoopConf
    lazy val rows = ParquetFooters.rowCount(gen, conf)
    // read-only: no writablePath, so every mutation of a snapshot refuses
    new GraftTable(snapshot, () => rows)
  }

  override def invalidateTable(ident: Identifier): Unit = {
    // evict the ident's entries under EVERY variant of this dir (the
    // sampled catalogs key differently but watch the same storage)
    val dirPrefix = cacheDir + "\u0000"
    val identMark = "\u0000" + ident.toString + "|"
    cache.keySet.asScala
      .filter(k => k.startsWith(dirPrefix) && k.contains(identMark))
      .foreach(cache.remove)
  }

  /** Namespace gate shared by every name-addressed mutation: DROP/RENAME
    * resolve tables by NAME, so without this check
    * `DROP TABLE cat.bogus_ns.nation` would delete main's directory
    * (r11 ADVICE).
    */
  private def requireKnownNamespace(ident: Identifier): Unit =
    if (!namespaceExists(ident.namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        ident.namespace.toSeq)

  /** Sampled catalogs are strictly read-only: they alias the REAL storage
    * directory, so any mutation through the sampled name would hit the
    * full table (or worse, write a partial file list's worth of state).
    */
  private def requireNotSampled(op: String): Unit =
    if (samplingBytes.isDefined)
      throw new UnsupportedOperationException(
        s"catalog $catalogName is a byte-budget sampled catalog — read-only ($op refused)")

  /** Validate a write target and resolve its partitioning: only IDENTITY
    * `PARTITIONED BY (col, ...)` transforms are supported (they map 1:1 to
    * the hive `k=v` directory layout the read path already prunes with
    * DPP); bucket/temporal transforms have no directory analog here.
    */
  private def requireWritableTarget(ident: Identifier,
      partitions: Array[Transform]): Seq[String] = {
    requireKnownNamespace(ident)
    partitions.toSeq.map { t =>
      val refs = t.references()
      if (t.name() != "identity" || refs.length != 1 ||
          refs.head.fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"graft catalog supports only identity PARTITIONED BY columns, got: $t")
      refs.head.fieldNames().head
    }
  }

  /** Canonical on-disk column order: data columns first (declared order),
    * partition columns last — the order a hive-layout read reports
    * (FileTable appends the partition schema), so the declared schema and
    * the read-back schema agree.
    */
  private def canonicalSchema(schema: StructType, partCols: Seq[String]): StructType = {
    if (partCols.isEmpty) return schema
    val missing = partCols.filterNot(p => schema.fieldNames.exists(_.equalsIgnoreCase(p)))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"PARTITIONED BY columns not in schema: ${missing.mkString(", ")}")
    val (part, data) = schema.fields.partition(f =>
      partCols.exists(_.equalsIgnoreCase(f.name)))
    StructType(data ++ part)
  }

  /** Materialize an empty, schema-carrying table: one zero-row parquet part
    * file, so the created table is immediately loadable (schema inference
    * needs at least one footer) and insertable.
    */
  private def writeEmpty(schema: StructType, path: Path): Unit = {
    val spark = SparkSession.active
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("append").parquet(path.toString)
  }

  /** CREATE TABLE — the write surface the read-only reference lacks
    * (trino/RecordServiceTransactionHandle.java:17-19); deliberately
    * exceeded here per SURVEY §2.1 S10: a Spark-native engine owns its
    * outputs, so CTAS/INSERT go through the same governed catalog that
    * serves reads (policies apply to the written table by name like any
    * other).
    */
  /** Is `TBLPROPERTIES ('snapshots'='true')` requested? Partitioned tables
    * get manifests whose entries are generation DIRS; unpartitioned tables
    * (r15, VERDICT ask #3) get FILE-level entries — file-scoped DML becomes
    * a manifest commit and coexists with time travel.
    */
  private def snapshotsRequested(partCols: Seq[String],
      properties: java.util.Map[String, String]): Boolean =
    java.lang.Boolean.parseBoolean(
      Option(properties.get("snapshots")).getOrElse("false"))

  /** `TBLPROPERTIES ('changelog'='true')` (r15): record per-row change
    * files for row-level DML commits, served by `Snapshots.changesBetween`.
    * Requires snapshots — the feed is keyed by manifest version.
    */
  private def changelogRequested(snapshots: Boolean,
      properties: java.util.Map[String, String]): Boolean = {
    val on = java.lang.Boolean.parseBoolean(
      Option(properties.get("changelog")).getOrElse("false"))
    if (on && !snapshots)
      throw new UnsupportedOperationException(
        "TBLPROPERTIES ('changelog'='true') requires 'snapshots'='true' — " +
          "the change feed is keyed by manifest version")
    on
  }

  /** `TBLPROPERTIES ('deletion_vectors'='true')` (r15): DELETE commits
    * merge-on-read position vectors instead of rewriting candidate files —
    * see [[DeletionVectors]]. Requires snapshots: the vectors ride the
    * manifest.
    */
  private def deletionVectorsRequested(snapshots: Boolean,
      properties: java.util.Map[String, String]): Boolean = {
    val on = java.lang.Boolean.parseBoolean(
      Option(properties.get("deletion_vectors")).getOrElse("false"))
    if (on && !snapshots)
      throw new UnsupportedOperationException(
        "TBLPROPERTIES ('deletion_vectors'='true') requires 'snapshots'='true' — " +
          "the vectors are referenced from the manifest")
    on
  }

  /** `TBLPROPERTIES ('bloom_cols'='c1,c2' [, 'bloom_fpp'='0.001'])`
    * (r15): per-file Bloom filters for point-lookup candidacy/pruning on
    * unclustered columns — see [[BloomSkip]]. Requires snapshots;
    * integral/string columns only (the put/probe encoding must agree
    * exactly); partition columns excluded (their value binds off the kv
    * path — nothing to probe).
    */
  private def bloomColsRequested(schema: StructType, partCols: Seq[String],
      snapshots: Boolean,
      properties: java.util.Map[String, String]): (Seq[String], Double) = {
    val cols = Option(properties.get("bloom_cols")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (cols.isEmpty) return (Nil, 0.001)
    if (!snapshots)
      throw new UnsupportedOperationException(
        "TBLPROPERTIES ('bloom_cols'=...) requires 'snapshots'='true' — " +
          "the bloom sidecars ride the generation layout")
    cols.foreach { c =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"bloom_cols column $c not in schema"))
      if (partCols.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"bloom_cols column $c is a partition column — its value binds " +
            "off the directory path, nothing to probe")
      if (!BloomSkip.supportedType(field.dataType))
        throw new IllegalArgumentException(
          s"bloom_cols column $c has type ${field.dataType.simpleString} — " +
            "only integral and string columns probe exactly")
    }
    val fpp = Option(properties.get("bloom_fpp")).map(_.trim.toDouble)
      .getOrElse(0.001)
    require(fpp > 0 && fpp < 0.5, s"bloom_fpp $fpp out of (0, 0.5)")
    (cols, fpp)
  }

  /** `TBLPROPERTIES ('sort_order'='c1,c2')` (r14, VERDICT ask #6):
    * validated against the schema; partition columns are excluded (their
    * value is constant within a file — nothing to sort).
    */
  private def sortOrderRequested(schema: StructType, partCols: Seq[String],
      properties: java.util.Map[String, String]): Seq[String] = {
    val cols = Option(properties.get("sort_order")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    cols.foreach { c =>
      if (!schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(s"sort_order column $c not in schema")
      if (partCols.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"sort_order column $c is a partition column — constant per file")
    }
    cols
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val partCols = requireWritableTarget(ident, partitions)
    val snapshots = snapshotsRequested(partCols, properties)
    val changelog = changelogRequested(snapshots, properties)
    val dv = deletionVectorsRequested(snapshots, properties)
    val (bloomCols, bloomFpp) =
      bloomColsRequested(schema, partCols, snapshots, properties)
    val sortOrder = sortOrderRequested(schema, partCols, properties)
    prepareCreate(ident)
    val target = new Path(nsDir(ident.namespace), ident.name)
    if (partCols.nonEmpty || snapshots) {
      // the sidecar IS the schema source: an empty partitioned table has
      // no `k=v` dirs or footers to infer from, and an empty snapshot
      // table serves only manifest-listed units (none yet) — no seed file
      fs.mkdirs(target)
      TableMeta.write(fs, target,
        TableMeta(canonicalSchema(schema, partCols), partCols,
          snapshots = snapshots, sortOrder = sortOrder, changelog = changelog,
          deletionVectors = dv, bloomCols = bloomCols, bloomFpp = bloomFpp))
      if (snapshots) Snapshots.commit(fs, target, None, Map.empty, kind = "init")
    } else {
      writeEmpty(schema, target)
      if (sortOrder.nonEmpty)
        TableMeta.write(fs, target, TableMeta(schema, Nil, sortOrder = sortOrder))
    }
    invalidateTable(ident)
    loadTable(ident)
  }

  /** ALTER TABLE — the ADD COLUMN subset (r11 VERDICT ask #3), over
    * directory tables: the evolved schema lands in the `_graft_table.json`
    * sidecar (created from the live layout on first ALTER), reads serve it
    * with parquet null-filling the column for pre-evolution files, and
    * subsequent INSERTs write the wider rows. Other changes (drop/rename/
    * retype) would silently corrupt positional readers of existing files —
    * refused loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireNotSampled("ALTER TABLE")
    requireKnownNamespace(ident)
    val path = tablePath(ident.namespace, ident.name).getOrElse {
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    }
    if (!fs.getFileStatus(path).isDirectory)
      throw new UnsupportedOperationException(
        s"table ${ident.name} is a single-file table — read-only")
    val current = TableMeta.read(fs, path).getOrElse {
      val spark = SparkSession.active
      TableMeta(spark.read.parquet(path.toString).schema, partitionColsOf(path))
    }
    val updated = changes.foldLeft(current) { (m, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          if (add.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "graft catalog: nested ADD COLUMN is not supported")
          val colName = add.fieldNames().head
          // FIRST/AFTER would be silently dropped (the column always lands
          // after existing data columns) while positional INSERTs then bind
          // to the unexpected order — refuse loudly (r12 ADVICE), matching
          // the policy for other unsupported ALTERs
          if (add.position() != null)
            throw new UnsupportedOperationException(
              s"graft catalog: ADD COLUMN $colName FIRST/AFTER is not " +
                "supported — columns are appended after existing data columns")
          if (!add.isNullable)
            throw new UnsupportedOperationException(
              s"added column $colName must be nullable: existing files lack it")
          if (m.schema.fieldNames.exists(_.equalsIgnoreCase(colName)))
            throw new IllegalArgumentException(s"column $colName already exists")
          // resurrection guard: the bytes of a schema-dropped column are
          // still in the files (DROP is metadata-only), so re-adding the
          // name would silently surface the OLD values as the new column
          if (m.droppedColumns.exists(_.equalsIgnoreCase(colName)))
            throw new UnsupportedOperationException(
              s"column $colName was previously dropped; its values remain in " +
                "existing files and would resurrect — use a new name or " +
                "rewrite the table (CREATE OR REPLACE ... AS SELECT)")
          var field = org.apache.spark.sql.types.StructField(
            colName, add.dataType(), nullable = true)
          if (add.comment() != null) field = field.withComment(add.comment())
          // keep partition columns last (the canonical read-back order)
          val (part, data) = m.schema.fields.partition(f =>
            m.partitionCols.exists(_.equalsIgnoreCase(f.name)))
          m.copy(schema = StructType((data :+ field) ++ part))
        case del: TableChange.DeleteColumn =>
          // DROP COLUMN (r13): metadata-only — the declared schema shrinks,
          // reads never materialize the column again, no file is rewritten.
          // The name is tombstoned so ADD COLUMN cannot resurrect the bytes.
          if (del.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "graft catalog: nested DROP COLUMN is not supported")
          val colName = del.fieldNames().head
          if (m.partitionCols.exists(_.equalsIgnoreCase(colName)))
            throw new UnsupportedOperationException(
              s"cannot drop partition column $colName — the hive layout " +
                "exposes its values in directory names; re-layout the table")
          if (!m.schema.fieldNames.exists(_.equalsIgnoreCase(colName))) {
            if (del.ifExists()) m
            else throw new IllegalArgumentException(s"no such column: $colName")
          } else {
            val remaining = m.schema.fields.filterNot(
              _.name.equalsIgnoreCase(colName))
            if (!remaining.exists(f =>
                !m.partitionCols.exists(_.equalsIgnoreCase(f.name))))
              throw new UnsupportedOperationException(
                s"cannot drop $colName: a table needs at least one data column")
            m.copy(schema = StructType(remaining),
              droppedColumns = m.droppedColumns :+ colName)
          }
        case up: TableChange.UpdateColumnType =>
          // ALTER COLUMN ... TYPE (r13 VERDICT ask #5): WIDENING only.
          // Metadata-only — the declared schema widens, Spark 4's parquet
          // readers (SPARK-40876) upcast the narrower values of existing
          // files at scan time, and subsequent INSERTs bind to the wide
          // type. Narrowing or cross-family retypes would corrupt or
          // truncate existing values — refused, as before.
          if (up.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "graft catalog: nested ALTER COLUMN is not supported")
          val colName = up.fieldNames().head
          val idx = m.schema.fields.indexWhere(_.name.equalsIgnoreCase(colName))
          if (idx < 0)
            throw new IllegalArgumentException(s"no such column: $colName")
          val from = m.schema.fields(idx).dataType
          val to = up.newDataType()
          if (!GraftCatalog.safeWidening(from, to))
            throw new UnsupportedOperationException(
              s"graft catalog: ALTER COLUMN $colName TYPE " +
                s"${from.simpleString} -> ${to.simpleString} is not a safe " +
                "widening (supported: byte/short/int -> wider integer, " +
                "float -> double); rewrite the table for anything else")
          val fields = m.schema.fields.clone()
          fields(idx) = fields(idx).copy(dataType = to)
          m.copy(schema = StructType(fields))
        case set: TableChange.SetProperty =>
          // ALTER TABLE SET TBLPROPERTIES (r15): the write-behavior
          // properties can be flipped on an EXISTING table — recreating a
          // 100 TB table to enable deletion vectors would defeat their
          // point. All validations mirror CREATE; `snapshots` itself is
          // immutable (flipping it mid-life would orphan either the
          // manifests or the plain layout).
          val props = new java.util.HashMap[String, String]()
          props.put(set.property(), set.value())
          set.property() match {
            case "deletion_vectors" =>
              m.copy(deletionVectors = deletionVectorsRequested(m.snapshots, props))
            case "changelog" =>
              m.copy(changelog = changelogRequested(m.snapshots, props))
            case "bloom_cols" =>
              // applies to generations written AFTER the change (existing
              // generations have no sidecar — candidacy stays conservative
              // for them until compaction rewrites)
              val (cols, _) = bloomColsRequested(m.schema, m.partitionCols,
                m.snapshots, props)
              m.copy(bloomCols = cols)
            case "bloom_fpp" =>
              val fpp = set.value().trim.toDouble
              require(fpp > 0 && fpp < 0.5, s"bloom_fpp $fpp out of (0, 0.5)")
              m.copy(bloomFpp = fpp)
            case "sort_order" =>
              m.copy(sortOrder = sortOrderRequested(m.schema, m.partitionCols,
                props))
            case "snapshots" =>
              throw new UnsupportedOperationException(
                "the 'snapshots' property is immutable: flipping it mid-life " +
                  "would orphan either the manifests or the plain layout — " +
                  "use CREATE OR REPLACE ... AS SELECT to re-layout")
            case other =>
              throw new UnsupportedOperationException(
                s"graft catalog: SET TBLPROPERTIES ('$other') is not a " +
                  "recognized table property (settable: deletion_vectors, " +
                  "changelog, bloom_cols, bloom_fpp, sort_order)")
          }
        case rm: TableChange.RemoveProperty =>
          rm.property() match {
            case "deletion_vectors" => m.copy(deletionVectors = false)
            case "changelog" => m.copy(changelog = false)
            case "bloom_cols" => m.copy(bloomCols = Nil)
            case "bloom_fpp" => m.copy(bloomFpp = 0.001)
            case "sort_order" => m.copy(sortOrder = Nil)
            case other =>
              throw new UnsupportedOperationException(
                s"graft catalog: UNSET TBLPROPERTIES ('$other') is not a " +
                  "recognized table property")
          }
        case other =>
          throw new UnsupportedOperationException(
            s"graft catalog: ALTER ${other.getClass.getSimpleName} is not supported " +
              "(only ADD/DROP COLUMN, widening ALTER COLUMN TYPE, and " +
              "SET/UNSET TBLPROPERTIES evolve a directory table safely)")
      }
    }
    TableMeta.write(fs, path, updated)
    invalidateTable(ident)
    loadTable(ident)
  }

  /** Partition columns of a live hive-layout directory (for tables
    * predating a metadata sidecar): the chain of `k=v` directory names.
    */
  private def partitionColsOf(path: Path): Seq[String] = {
    val filesystem = fs
    val b = Seq.newBuilder[String]
    var cur = path
    var descending = true
    while (descending) {
      val kv = filesystem.listStatus(cur)
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      if (kv.isEmpty) descending = false
      else {
        b += kv.head.getPath.getName.split("=", 2)(0)
        cur = kv.head.getPath
      }
    }
    b.result()
  }

  // ---- maintenance procedures: CALL <cat>.system.<proc>(...) (r15) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.length == 1 &&
        namespace(0).equalsIgnoreCase(GraftProcedures.Namespace))
      GraftProcedures.names.map(n =>
        Identifier.of(Array(GraftProcedures.Namespace), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val known = ident.namespace.length == 1 &&
      ident.namespace()(0).equalsIgnoreCase(GraftProcedures.Namespace)
    (if (known) GraftProcedures.load(this, ident.name) else None).getOrElse(
      throw new RuntimeException(
        s"no such procedure: ${ident.namespace.mkString(".")}.${ident.name} " +
          s"(have: ${GraftProcedures.names.map(n => s"system.$n").mkString(", ")})"))
  }

  /** Age-gated crash-debris sweep for a LIVE table (the `CALL
    * system.vacuum` surface): dot-prefixed staging/aside/lock debris of
    * THIS table older than `olderThanMs` is deleted from its namespace
    * dir, then — for snapshot tables — a retention pass sweeps
    * unreferenced units/dv/change/segment dirs under the same grace
    * discipline [[Snapshots.prune]] always applies. The age gate is the
    * concurrency story: an IN-FLIGHT writer's staging dir is younger than
    * any sane grace, so vacuum only ever removes what a crashed writer
    * abandoned. Returns the number of debris paths removed.
    */
  private[catalog] def vacuumTable(ident: Identifier, path: Path,
      olderThanMs: Long): Int = {
    val filesystem = fs
    val now = System.currentTimeMillis()
    val debris = hidden(ident.namespace, Swap.debris(ident.name))
      .filter(st => now - st.getModificationTime > olderThanMs)
    debris.foreach(st => filesystem.delete(st.getPath, true))
    Snapshots.current(filesystem, path).foreach(cur =>
      Snapshots.prune(filesystem, path, cur.version))
    debris.length
  }

  /** Is `ns.name` a deletion-vector snapshot table — the merge-on-read
    * UPDATE standin's cheap hint-time probe (one sidecar read, cached by
    * the metadata TTL cache's coherence discipline elsewhere; a miss of
    * any kind just means the stock UpdateTable path).
    */
  private[catalog] def morEligible(ns: Array[String], name: String): Boolean =
    try tablePath(ns, name).flatMap(p => TableMeta.read(fs, p))
      .exists(m => m.snapshots && m.deletionVectors)
    catch { case _: Exception => false }

  /** Resolve a procedure's 'ns.table' (or bare 'table' = main) argument. */
  private[catalog] def resolveTableRef(ref: String): (Identifier, Path) = {
    val parts = ref.split("\\.").toSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table reference")
    val (ns, name) =
      if (parts.length == 1) (Array("main"), parts.head)
      else (parts.init.toArray, parts.last)
    val ident = Identifier.of(ns, name)
    val p = tablePath(ns, name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ns.toSeq :+ name))
    (ident, p)
  }

  override def dropTable(ident: Identifier): Boolean = {
    requireNotSampled("DROP TABLE")
    requireKnownNamespace(ident)
    invalidateTable(ident)
    // a lingering crash-aside must not resurrect a dropped table
    dropAsides(ident.namespace, ident.name)
    tablePath(ident.namespace, ident.name) match {
      case Some(p) => fs.delete(p, true)
      case None => false
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireNotSampled("RENAME TABLE")
    requireKnownNamespace(oldIdent)
    requireKnownNamespace(newIdent)
    if (!tableExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        oldIdent.namespace.toSeq :+ oldIdent.name)
    if (tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        newIdent.namespace.toSeq :+ newIdent.name)
    val from = tablePath(oldIdent.namespace, oldIdent.name).get
    val toBase = nsDir(newIdent.namespace)
    val to = if (from.getName.endsWith(".parquet"))
      new Path(toBase, s"${newIdent.name}.parquet")
    else new Path(toBase, newIdent.name)
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"cannot rename $from to $to")
    dropAsides(oldIdent.namespace, oldIdent.name) // crash-asides don't follow a rename
    invalidateTable(oldIdent); invalidateTable(newIdent)
  }

  // ---- StagingTableCatalog: atomic CTAS via stage-write-then-Swap.replace
  // (a failed CTAS leaves either no table or the old table, never a
  // half-written one) ----

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): StagedTable = {
    val partCols = requireWritableTarget(ident, partitions)
    val snapshots = snapshotsRequested(partCols, properties)
    val changelog = changelogRequested(snapshots, properties)
    val dv = deletionVectorsRequested(snapshots, properties)
    val sortOrder = sortOrderRequested(schema, partCols, properties)
    prepareCreate(ident)
    staged(ident, schema, partCols, replace = false, snapshots, sortOrder,
      changelog, dv, bloomColsRequested(schema, partCols, snapshots, properties))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): StagedTable = {
    val partCols = requireWritableTarget(ident, partitions)
    val snapshots = snapshotsRequested(partCols, properties)
    val changelog = changelogRequested(snapshots, properties)
    val sortOrder = sortOrderRequested(schema, partCols, properties)
    // a crash-stranded table (absent canonical path, single aside) is still
    // REPLACE-able: recover it first, mirroring loadTable
    if (tablePath(ident.namespace, ident.name)
        .orElse(recoverAside(ident.namespace, ident.name)).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace.toSeq :+ ident.name)
    staged(ident, schema, partCols, replace = true, snapshots, sortOrder,
      changelog, deletionVectorsRequested(snapshots, properties),
      bloomColsRequested(schema, partCols, snapshots, properties))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): StagedTable = {
    val partCols = requireWritableTarget(ident, partitions)
    val snapshots = snapshotsRequested(partCols, properties)
    val changelog = changelogRequested(snapshots, properties)
    val sortOrder = sortOrderRequested(schema, partCols, properties)
    // recover a stranded single aside so the eventual swap retires it instead
    // of leaving it to shadow the new table (multiple asides stay untouched:
    // CREATE OR REPLACE semantically discards old content anyway)
    if (tablePath(ident.namespace, ident.name).isEmpty)
      recoverAside(ident.namespace, ident.name)
    staged(ident, schema, partCols, replace = true, snapshots, sortOrder,
      changelog, deletionVectorsRequested(snapshots, properties),
      bloomColsRequested(schema, partCols, snapshots, properties))
  }

  private def staged(ident: Identifier, schema: StructType,
      partCols: Seq[String], replace: Boolean, snapshots: Boolean,
      sortOrder: Seq[String], changelog: Boolean,
      deletionVectors: Boolean = false,
      blooms: (Seq[String], Double) = (Nil, 0.001)): StagedTable = {
    val base = nsDir(ident.namespace)
    val target = new Path(base, ident.name)
    new GraftStagedTable(ident, canonicalSchema(schema, partCols),
      Swap.sibling(target, "staging"), target, replace, this, partCols, snapshots, sortOrder,
      changelog, deletionVectors, blooms)
  }

  /** Finalize a staged CTAS: ensure the staging dir carries at least one
    * schema-bearing part file (an empty SELECT writes none; a partitioned
    * table carries its schema in the metadata sidecar instead — a root
    * part file would break the hive layout), then rename-swap it into
    * place.
    */
  private[catalog] def commitStaged(ident: Identifier, schema: StructType,
      staging: Path, target: Path, replace: Boolean,
      partCols: Seq[String], snapshots: Boolean = false,
      sortOrder: Seq[String] = Nil, changelog: Boolean = false,
      deletionVectors: Boolean = false,
      blooms: (Seq[String], Double) = (Nil, 0.001)): Unit = {
    val filesystem = fs
    if (!filesystem.exists(staging)) filesystem.mkdirs(staging)
    if (partCols.nonEmpty || sortOrder.nonEmpty || snapshots)
      TableMeta.write(filesystem, staging,
        TableMeta(schema, partCols, snapshots = snapshots,
          sortOrder = sortOrder, changelog = changelog,
          deletionVectors = deletionVectors,
          bloomCols = blooms._1, bloomFpp = blooms._2))
    if (partCols.isEmpty && !snapshots) {
      val hasData = filesystem.listStatus(staging)
        .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      if (!hasData) writeEmpty(schema, staging)
    }
    // snapshot tables: wrap the staged plain layout into generation units
    // and write manifest v1 INSIDE the staging dir, BEFORE the swap (r14
    // ADVICE) — a reader loading the table in the instant after the swap
    // must never see snapshots=true with no manifest (an empty table)
    if (snapshots) Snapshots.initialize(filesystem, staging)
    if (filesystem.exists(target)) {
      if (!replace)
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          ident.namespace.toSeq :+ ident.name)
      // uuid-suffixed aside: concurrent REPLACEs of the same table cannot
      // collide on a fixed aside name (r11 ADVICE) — and the commit lock
      // (r14) makes the RACE itself refuse instead of silently retiring
      // the other writer's output
      CommitLock.withLock(filesystem, target.getParent, ident.name) {
        // history (graft.history=N): unpartitioned replaced contents retire
        // as a readable generation instead of being deleted (partitioned
        // tables mutate per-directory later — no whole-table history)
        Swap.replace(filesystem, staging, target, Swap.sibling(target, "old")) {
          aside =>
            if (partCols.isEmpty) History.retire(filesystem, ident.name, target, aside)
            else filesystem.delete(aside, true)
        }
      }
    } else Swap.replace(filesystem, staging, target, Swap.sibling(target, "old"))()
    invalidateTable(ident)
  }

  private[catalog] def abortStaged(staging: Path): Unit =
    fs.delete(staging, true)
}

/** The staged side of an atomic CTAS: writes land in a hidden sibling
  * staging directory through the stock committer-protected parquet write;
  * `commitStagedChanges` rename-swaps the directory into the table's final
  * path (so a crash mid-CTAS leaves no half-table and a REPLACE keeps the
  * old table readable until the instant of the swap), `abortStagedChanges`
  * deletes the staging debris.
  */
private[catalog] class GraftStagedTable(ident: Identifier, tableSchema: StructType,
    staging: Path, target: Path, replace: Boolean, catalog: GraftCatalog,
    partCols: Seq[String] = Nil, snapshots: Boolean = false,
    sortOrder: Seq[String] = Nil, changelog: Boolean = false,
    deletionVectors: Boolean = false,
    blooms: (Seq[String], Double) = (Nil, 0.001))
    extends StagedTable with SupportsWrite {

  private def delegate = ParquetTable(
    ident.name,
    SparkSession.active,
    CaseInsensitiveStringMap.empty(),
    Seq(staging.toString),
    Some(tableSchema),
    classOf[ParquetFileFormat])

  override def name(): String = ident.name
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partCols.map(org.apache.spark.sql.connector.expressions.Expressions.identity).toArray
  override def properties(): java.util.Map[String, String] =
    java.util.Collections.emptyMap()
  // REPLACE writes arrive as OverwriteByExpression(true) on the staged
  // table (AtomicReplaceTableAsSelectExec.writeToTable overwrite=true), so
  // the staged table declares TRUNCATE — and since the staging directory
  // starts empty, truncate is trivially satisfied by the plain append write.
  // Partitioned staged tables write through the V1 fallback (Spark 4.1
  // plans staged CTAS as a regular AppendData, which supports V1Write):
  // one distributed `partitionBy` parquet job into the staging dir — the
  // DSv2 parquet BatchWrite has no partitioned layout path.
  override def capabilities(): java.util.Set[TableCapability] =
    if (partCols.isEmpty)
      java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    else
      java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder =
        this // staging dir is empty: truncate ≡ append into the fresh dir
      override def build(): org.apache.spark.sql.connector.write.Write =
        if (partCols.isEmpty) delegate.newWriteBuilder(info).build()
        else new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) =>
              // pre-write REBALANCE by the partition columns (the
              // Writers.partitionedParquet skew discipline): values are
              // clustered (no tasks × values small-files explosion) but a
              // hot value still fans out across tasks instead of funneling
              // through one writer
              data.hint("rebalance", partCols.map(
                  org.apache.spark.sql.functions.col): _*)
                .write.partitionBy(partCols: _*).mode("append")
                .parquet(staging.toString)
        }
    }
  override def commitStagedChanges(): Unit =
    catalog.commitStaged(ident, tableSchema, staging, target, replace,
      partCols, snapshots, sortOrder, changelog, deletionVectors, blooms)
  override def abortStagedChanges(): Unit = catalog.abortStaged(staging)
}

object GraftCatalog {
  /** See the instance-side doc: process-global so all sessions of this JVM
    * share one coherent view; entries are (insertMillis, table).
    */
  private[catalog] val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, org.apache.spark.sql.connector.catalog.Table)]()

  /** The widenings existing parquet files read back losslessly under
    * Spark 4's reader-side type promotion (SPARK-40876): every old value
    * is exactly representable in the new type. Anything else (narrowing,
    * integer -> float, string retypes, decimal changes) is refused.
    */
  private[catalog] def safeWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }
}
