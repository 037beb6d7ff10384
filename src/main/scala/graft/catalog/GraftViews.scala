package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
import org.apache.spark.sql.catalyst.plans.logical.{CreateView, DropView, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DataType, StructType}

/** Persistent views in the graft catalog (r12 VERDICT ask #5; reference
  * analog trino/RecordServiceMetadata.java:392-444, where views are
  * definitions served by the external metadata layer and expanded by the
  * engine).
  *
  * Storage: `<nsDir>/<name>.graftview.json` — view TEXT plus the schema
  * captured at definition time. The sidecar suffix keeps it disjoint from
  * table resolution (`<name>.parquet` / `<name>/`), and like the reference
  * a view occupies the table NAME space: CREATE TABLE of an existing view
  * name refuses, SHOW TABLES lists it.
  *
  * Resolution: Spark 4.1 ships the `ViewCatalog` interface but no analyzer
  * or exec support for it (nothing in spark-sql references it), so the
  * graft extension carries the missing pieces itself:
  *
  *  - `loadTable` on a view name returns a [[GraftViewTable]] — a
  *    schema-only Table carrying the view text;
  *  - [[GraftViewRule]] (injected resolution rule) replaces its relation
  *    with the parsed + analyzed view query, output-aligned (cast + alias
  *    onto the relation's attribute ids) exactly like Spark's own view
  *    substitution. The nested analysis runs the FULL analyzer — including
  *    the governance rule — so policies on base tables apply BENEATH the
  *    view on every read, at the reading user's current policy epoch;
  *  - [[GraftCreateViewRule]] rewrites `CREATE [OR REPLACE] VIEW cat.ns.v`
  *    and `DROP VIEW` over a graft catalog into commands that write/delete
  *    the sidecar (ResolveSessionCatalog only handles session-catalog
  *    views; the v2 path would otherwise die at planning).
  *
  * Scale shape: a view is pure metadata (one tiny JSON read at resolution,
  * cached by the catalog TTL); the expanded query plans exactly as if the
  * user had inlined the SQL — pushdown, pruning, and DPP all see through
  * it.
  */
object GraftViews {

  val Suffix = ".graftview.json"

  def render(sql: String, schema: StructType): String =
    Sidecar.render(Map("version" -> 1, "sql" -> sql, "schema" -> Sidecar.tree(schema.json)))

  def parse(raw: String): (String, StructType) = {
    val root = Sidecar.tree(raw)
    (root.get("sql").asText(),
      DataType.fromJson(root.get("schema").toString).asInstanceOf[StructType])
  }

  def read(fs: FileSystem, p: Path): (String, StructType) =
    parse(Sidecar.read(fs, p).getOrElse(throw new java.io.FileNotFoundException(p.toString)))

  /** Re-entrancy guard for nested view analysis: a view whose text (maybe
    * transitively) references itself would recurse forever.
    */
  private[catalog] val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private[catalog] val MaxDepth = 16
}

/** Schema-only Table for a stored view: resolution produces a relation that
  * [[GraftViewRule]] immediately replaces with the view's query. No read or
  * write capability — if the graft extensions are not installed the
  * capability check fails loudly instead of returning garbage.
  */
class GraftViewTable(ident: Identifier, val sql: String,
    viewSchema: StructType) extends Table {
  override def name(): String = ident.name
  override def schema(): StructType = viewSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Collections.emptySet()
  override def properties(): java.util.Map[String, String] =
    java.util.Collections.singletonMap("graft.view", "true")
}

/** Splices stored-view relations: parse the view text, analyze it (full
  * analyzer — governance included), align the output onto the relation's
  * attribute ids.
  */
case class GraftViewRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftViewTable] =>
      val v = r.table.asInstanceOf[GraftViewTable]
      val d = GraftViews.depth.get()
      if (d >= GraftViews.MaxDepth)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "RECURSIVE_VIEW",
          messageParameters = Map("viewIdent" -> v.name,
            "newPath" -> s"depth > ${GraftViews.MaxDepth}"))
      GraftViews.depth.set(d + 1)
      val analyzed = try
        spark.sessionState.analyzer.execute(
          spark.sessionState.sqlParser.parsePlan(v.sql))
      finally GraftViews.depth.set(d)
      require(analyzed.output.length == r.output.length,
        s"view ${v.name}: stored schema has ${r.output.length} columns but " +
          s"the query now produces ${analyzed.output.length} — recreate the view")
      val aligned = r.output.zip(analyzed.output).map { case (out, in) =>
        Alias(Cast(in, out.dataType), out.name)(
          exprId = out.exprId, qualifier = out.qualifier)
      }
      Project(aligned, analyzed)
  }
}

/** Writes the view sidecar; schema is captured from the (already analyzed)
  * view query at definition time, like Spark's own persisted views.
  */
case class GraftCreateViewCommand(catalog: GraftCatalog, ident: Identifier,
    sql: String, viewSchema: StructType, replace: Boolean,
    allowExisting: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    catalog.createView(ident, sql, viewSchema, replace, allowExisting)
    Seq.empty
  }
}

case class GraftDropViewCommand(catalog: GraftCatalog, ident: Identifier,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    catalog.dropView(ident, ifExists)
    Seq.empty
  }
}

/** SHOW VIEWS over a graft catalog namespace (session-catalog-only in stock
  * Spark, like the rest of the view DDL). Pattern semantics mirror
  * ShowViewsCommand: `*` = any chars, `|` = alternation.
  */
case class GraftShowViewsCommand(catalog: GraftCatalog, ns: Array[String],
    pattern: Option[String],
    override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val re = pattern.map(p =>
      p.split("\\|").map(_.replace("*", ".*")).mkString("(?i)(", "|", ")"))
    catalog.listViews(ns.toIndexedSeq: _*)
      .filter(id => re.forall(id.name.matches))
      .sortBy(_.name)
      .map(id => Row(ns.mkString("."), id.name, false)).toSeq
  }
}

/** Rewrites CREATE/DROP VIEW statements addressed at a graft catalog into
  * the sidecar commands. Spark has no v2 view DDL path of its own — worse,
  * `ResolveSessionCatalog` THROWS for any CreateView/DropView whose
  * identifier resolved outside the session catalog, so this rule is
  * injected as a HINT-resolution rule (the Hints batch runs before
  * Resolution) and resolves the still-raw identifier itself.
  */
case class GraftViewDdlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Resolve raw name parts the way ResolveCatalogs would: explicit
    * catalog head if registered, else the current catalog; namespace
    * defaults to `main`.
    */
  private def graftTarget(nameParts: Seq[String]): Option[(GraftCatalog, Identifier)] = {
    val cm = spark.sessionState.catalogManager
    val (cat, rest) =
      if (nameParts.length > 1) {
        try (cm.catalog(nameParts.head), nameParts.tail)
        catch {
          case _: org.apache.spark.sql.connector.catalog.CatalogNotFoundException =>
            (cm.currentCatalog, nameParts)
        }
      } else (cm.currentCatalog, nameParts)
    cat match {
      case g: GraftCatalog =>
        val ns = if (rest.length > 1) rest.dropRight(1).toArray else Array("main")
        Some((g, Identifier.of(ns, rest.last)))
      case _ => None
    }
  }

  /** Namespace-addressed resolution for SHOW VIEWS: all parts are namespace. */
  private def graftNamespace(nameParts: Seq[String]): Option[(GraftCatalog, Array[String])] = {
    val cm = spark.sessionState.catalogManager
    val (cat, rest) =
      if (nameParts.nonEmpty) {
        try (cm.catalog(nameParts.head), nameParts.tail)
        catch {
          case _: org.apache.spark.sql.connector.catalog.CatalogNotFoundException =>
            (cm.currentCatalog, nameParts)
        }
      } else (cm.currentCatalog, nameParts)
    cat match {
      case g: GraftCatalog =>
        Some((g, if (rest.isEmpty) Array("main") else rest.toArray))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case sv: org.apache.spark.sql.catalyst.plans.logical.ShowViews =>
      sv.child match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace =>
          graftNamespace(u.multipartIdentifier) match {
            case Some((cat, ns)) =>
              GraftShowViewsCommand(cat, ns, sv.pattern, sv.output)
            case None => sv
          }
        case _ => sv
      }
    case cv: CreateView =>
      cv.child match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
          graftTarget(u.nameParts) match {
            case Some((cat, ident)) =>
              if (cv.userSpecifiedColumns.nonEmpty)
                throw new UnsupportedOperationException(
                  "graft catalog views: column lists are not supported — alias in the query")
              val text = cv.originalText.getOrElse(throw new IllegalStateException(
                "CREATE VIEW without original text"))
              val analyzed = spark.sessionState.analyzer.execute(cv.query)
              require(analyzed.resolved,
                s"CREATE VIEW ${ident}: query failed to resolve")
              GraftCreateViewCommand(cat, ident, text, analyzed.schema,
                cv.replace, cv.allowExisting)
            case None => cv
          }
        case _ => cv
      }
    case dv: DropView =>
      dv.child match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
          graftTarget(u.nameParts) match {
            case Some((cat, ident)) => GraftDropViewCommand(cat, ident, dv.ifExists)
            case None => dv
          }
        case _ => dv
      }
    // ALTER VIEW v AS <query> ≡ replace the stored definition (the view must
    // already exist — matching Spark's session-catalog semantics)
    case av: org.apache.spark.sql.catalyst.plans.logical.AlterViewAs =>
      av.child match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedView =>
          graftTarget(u.multipartIdentifier) match {
            case Some((cat, ident)) =>
              if (!cat.viewExists(ident))
                throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
              val analyzed = spark.sessionState.analyzer.execute(av.query)
              require(analyzed.resolved, s"ALTER VIEW $ident: query failed to resolve")
              GraftCreateViewCommand(cat, ident, av.originalText, analyzed.schema,
                replace = true, allowExisting = false)
            case None => av
          }
        case _ => av
      }
  }
}
