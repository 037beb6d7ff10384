package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions.{col, expr}

/** Row/column governance — the one genuinely novel analyzer piece (SURVEY.md §2.12
  * X4). The reference delegates policy to its planner: columns without access are
  * silently dropped from the schema (reference:
  * trino/RecordServiceMetadata.java:803-804) and row filters / masks are applied
  * server-side before data reaches the engine. Spark-native equivalent: rewrite the
  * logical plan at resolution time, so masks/filters sit BELOW every consumer and
  * Catalyst pushes the injected Filter into the scan like any other predicate.
  */
case class ColumnMask(column: String, maskSql: String)

case class TablePolicy(
    dropColumns: Seq[String] = Nil,
    masks: Seq[ColumnMask] = Nil,
    rowFilterSql: Option[String] = None)

/** Process-wide policy registry keyed by (user, table), both lower-cased; user
  * "*" applies to everyone. Per-user resolution mirrors the reference, where the
  * planner evaluates policy against the (possibly delegated) request user
  * (trino/RecordServiceUtil.java:494-503).
  */
object GovernancePolicies {
  private val policies = TrieMap.empty[(String, String), TablePolicy]
  // bumped on every registry mutation: anything that caches an ANALYZED plan
  // (temp-view registration, metadata caches) must key on this, because the
  // governance rewrite happens at analysis time and is tagged exactly-once —
  // a plan analyzed under old policies silently keeps them
  private val epochCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def epoch: Long = epochCounter.get()
  def register(table: String, p: TablePolicy): Unit = {
    policies.put(("*", table.toLowerCase), p); epochCounter.incrementAndGet()
  }
  def registerFor(user: String, table: String, p: TablePolicy): Unit = {
    policies.put((user.toLowerCase, table.toLowerCase), p); epochCounter.incrementAndGet()
  }
  def clear(): Unit = { policies.clear(); epochCounter.incrementAndGet() }
  def get(table: String): Option[TablePolicy] = getFor("*", table)
  def getFor(user: String, table: String): Option[TablePolicy] =
    policies.get((user.toLowerCase, table.toLowerCase))
      .orElse(policies.get(("*", table.toLowerCase)))
}

/** Session user identity + delegation (SURVEY.md §2.12 X3). The reference resolves
  * the effective user from session token / config token / user-as-token and gates
  * impersonation with canDelegate(authenticatedUser, sessionUser)
  * (trino/RecordServiceConfig.java:272-323,376-402). Spark-native equivalent:
  * the authenticated principal is the Spark user; `graft.user` optionally
  * impersonates, gated by `graft.delegation.allowed`.
  *
  * The allow-list is read ONLY from the immutable SparkConf captured at context
  * start (spark-defaults / builder config) — the runtime conf is writable by the
  * same client that sets `graft.user`, so honoring it would make the delegation
  * gate self-service. The reference likewise resolves delegated users from
  * server-side config, never from a client-settable session property.
  *
  * Entries are comma-separated: `alice` lets alice impersonate anyone,
  * `alice:bob` lets alice impersonate bob only (the pairwise form of the
  * reference's canDelegate(authenticated, session) check).
  */
object Users {
  val UserKey = "graft.user"
  val DelegationKey = "graft.delegation.allowed"

  private def canDelegate(spark: SparkSession,
      authenticated: String, impersonated: String): Boolean =
    spark.sparkContext.getConf.get(DelegationKey, "")
      .split(",").map(_.trim).filter(_.nonEmpty)
      .exists(_.split(":") match {
        case Array(p) => p == authenticated
        case Array(p, t) => p == authenticated && t == impersonated
        case _ => false
      })

  def current(spark: SparkSession): String = {
    val authenticated = spark.sparkContext.sparkUser
    spark.conf.getOption(UserKey).filter(_ != authenticated).map { impersonated =>
      if (canDelegate(spark, authenticated, impersonated)) impersonated
      else throw new SecurityException(
        s"user '$authenticated' may not delegate to '$impersonated' " +
          s"(not in the static $DelegationKey conf)")
    }.getOrElse(authenticated)
  }
}

object Governance {
  /** DataFrame-level application (composition API — usable without extensions). */
  def secure(df: DataFrame, p: TablePolicy): DataFrame = {
    val filtered = p.rowFilterSql.map(df.filter).getOrElse(df)
    val dropped = p.dropColumns.map(_.toLowerCase).toSet
    val masks = p.masks.map(m => m.column.toLowerCase -> m.maskSql).toMap
    val cols = filtered.columns.filterNot(c => dropped(c.toLowerCase)).map { c =>
      masks.get(c.toLowerCase).map(m => expr(m).as(c)).getOrElse(col(c))
    }
    filtered.select(cols.toIndexedSeq: _*)
  }
}

/** Analyzer rule: rewrites any resolved *relation* node whose table name has a
  * registered policy into Project(masked cols, Filter(rowFilter, relation)).
  *
  * Matching the leaf relation (not SubqueryAlias) means every access path hits the
  * policy — `spark.sql` over temp views, catalog-resolved `graft.main.t`, and raw
  * `spark.read.parquet(...)` DataFrames — and each table is rewritten exactly once
  * (a SubqueryAlias over a governed relation would otherwise double-apply masks).
  * The reference applies policy planner-side before data reaches the engine
  * (trino/RecordServiceMetadata.java:803-804); here the injected Filter sits below
  * every consumer, so Catalyst pushes it into the scan like any user predicate.
  *
  * Runs in the resolution batch (fixed point): injected mask/filter expressions are
  * unresolved UnresolvedAttributes that the normal analyzer rules resolve right
  * after. A TreeNodeTag guards against re-application across iterations.
  */
case class GovernanceRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private val tag = TreeNodeTag[Boolean]("graft.governed")

  private def parse(sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  /** Table-name candidates for a relation, MOST-qualified first: the v2
    * identifier's `ns.name` (so a policy registered for `ns2.t` governs only
    * ns2's t, never main's t of the same basename — r12 ask #8), then the
    * bare name (the pre-namespace registration form, governing any table of
    * that basename), and for file relations the root path's basename minus
    * extension (customer.parquet → customer) — so pathless
    * `spark.read.parquet` access cannot bypass policy.
    */
  private def tableNames(plan: LogicalPlan): Seq[String] = plan match {
    case r: DataSourceV2Relation =>
      r.identifier.map(i => (i.namespace() :+ i.name()).mkString(".")).toSeq ++
        r.identifier.map(_.name()).toSeq :+ r.table.name()
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(p => p.getName.replaceAll("\\.[A-Za-z0-9]+$", ""))
        case _ => Nil
      }
    case _ => Nil
  }

  private def policyFor(plan: LogicalPlan): Option[TablePolicy] = {
    val user = Users.current(spark)
    tableNames(plan).flatMap(GovernancePolicies.getFor(user, _)).headOption
  }

  /** Parent operators may already be resolved against the relation's original
    * attributes (a star expanded in the same analyzer iteration, a cached view
    * plan), so the rewrite uses `resolveOperatorsUpWithNewOutput`: changed columns
    * get FRESH exprIds and the framework rewrites every upstream reference via the
    * returned old→new mapping. Reusing exprIds instead would violate Catalyst's
    * attribute-identity invariant and lets the optimizer elide the mask.
    *
    * Masked columns are rewritten in place; no-access columns are NULL-redacted
    * here (value-level), while true schema-level removal — the reference's
    * hasAccess drop — happens in GraftCatalog.loadTable before resolution.
    */
  /** Mutations that REPLACE table contents refuse loudly when the current
    * user has ANY policy on the target: a copy-on-write DML or overwrite
    * executed through a policy-restricted view of the table would rewrite
    * it WITHOUT the rows/values the policy hides — silent destruction of
    * data the user cannot even see. (Without this check the refusal still
    * happens, but as a rule-ordering-dependent INTERNAL_ERROR from the
    * planner — the governed relation is already wrapped in Project/Filter
    * when the DML rewrite looks for a bare relation.) Plain INSERT stays
    * allowed: appends cannot destroy hidden data. Reads inside the DML
    * SOURCE (e.g. MERGE ... USING) keep normal governance.
    */
  private def refuseGovernedMutation(target: LogicalPlan, op: String): Unit = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val governed = target.collectFirst {
      case r: DataSourceV2Relation if policyFor(r).isDefined => tableNames(r).head
    }
    governed.foreach { name =>
      throw new UnsupportedOperationException(
        s"$op on governed table '$name' is not allowed: a governance policy " +
          s"applies to the current user, and a replacing mutation through a " +
          s"policy-restricted view would silently destroy the rows or values " +
          s"the policy hides. Run the mutation as an unrestricted user, or " +
          s"lift the policy first.")
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUpWithNewOutput {
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
        if d.table.resolved =>
      refuseGovernedMutation(d.table, "DELETE FROM"); (d, Nil)
    case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable
        if u.table.resolved =>
      refuseGovernedMutation(u.table, "UPDATE"); (u, Nil)
    case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
        if m.targetTable.resolved =>
      refuseGovernedMutation(m.targetTable, "MERGE INTO"); (m, Nil)
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
        if o.table.resolved =>
      refuseGovernedMutation(o.table, "INSERT OVERWRITE"); (o, Nil)
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic
        if o.table.resolved =>
      refuseGovernedMutation(o.table, "dynamic INSERT OVERWRITE"); (o, Nil)
    case tr: org.apache.spark.sql.catalyst.plans.logical.TruncateTable
        if tr.table.resolved =>
      tr.table match {
        case rt: org.apache.spark.sql.catalyst.analysis.ResolvedTable =>
          val user = Users.current(spark)
          val qualified = (rt.identifier.namespace() :+ rt.identifier.name()).mkString(".")
          if (Seq(qualified, rt.identifier.name())
              .exists(GovernancePolicies.getFor(user, _).isDefined))
            throw new UnsupportedOperationException(
              s"TRUNCATE TABLE on governed table '$qualified' is not allowed: " +
                s"a governance policy applies to the current user (see DML refusal rationale)")
        case _ =>
      }
      (tr, Nil)
    case rel if rel.resolved && rel.children.isEmpty &&
        rel.getTagValue(tag).isEmpty && policyFor(rel).isDefined =>
      rel.setTagValue(tag, true)
      val p = policyFor(rel).get
      val filtered: LogicalPlan =
        p.rowFilterSql.map(f => Filter(parse(f), rel): LogicalPlan).getOrElse(rel)
      val dropped = p.dropColumns.map(_.toLowerCase).toSet
      val masks = p.masks.map(m => m.column.toLowerCase -> m.maskSql).toMap
      val projList = rel.output.map { a =>
        if (dropped(a.name.toLowerCase)) {
          Alias(org.apache.spark.sql.catalyst.expressions.Literal.create(null, a.dataType),
            a.name)(qualifier = a.qualifier)
        } else masks.get(a.name.toLowerCase) match {
          case Some(m) => Alias(parse(m), a.name)(qualifier = a.qualifier)
          case None => a
        }
      }
      // the governed subtree carries unresolved mask/filter expressions — resolve
      // them now with a nested analyzer pass (the tag stops re-entry) so the new
      // output attributes exist for the old→new mapping
      val resolved = spark.sessionState.analyzer.execute(Project(projList, filtered))
      require(resolved.resolved,
        s"governance policy for '${tableNames(rel).mkString("/")}' failed to resolve: $resolved")
      val mapping = rel.output.zip(resolved.output)
        .filter { case (o, n) => o.exprId != n.exprId }
      (resolved, mapping)
  }
}

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(GovernanceRule(_))
    // AFTER governance (injection order = run order within the batch):
    // policy wraps a dv table's relation first, the dv rewrite swaps only
    // the leaf beneath it
    e.injectResolutionRule(graft.catalog.GraftDvReadRule(_))
    e.injectResolutionRule(graft.catalog.GraftMorUpdateRule(_))
    e.injectResolutionRule(graft.catalog.GraftDynamicOverwriteRule(_))
    e.injectResolutionRule(graft.catalog.GraftViewRule(_))
    // view DDL must rewrite BEFORE the Resolution batch:
    // ResolveSessionCatalog throws for any non-session-catalog view DDL
    e.injectHintResolutionRule(graft.catalog.GraftViewDdlRule(_))
    // UPDATE on dv tables must be claimed BEFORE the Resolution batch's
    // built-in RewriteUpdateTable (same-batch, earlier-rule race — see
    // graft.catalog.GraftMorUpdate)
    e.injectHintResolutionRule(graft.catalog.GraftMorUpdateStandinRule(_))
    // SQL incremental consumption: graft_table_changes / graft_table_added
    graft.catalog.TableFunctions.register(e)
    // sum(CAST(x AS DECIMAL(p, s))) on the exact 192-bit kernel
    e.injectOptimizerRule(_ => graft.functions.ExactDecimalSums)
  }
}
