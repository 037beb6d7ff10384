package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OverwritePartitionsDynamic}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

/** Dynamic partition overwrite through the graft catalog (r12 VERDICT ask
  * #2): `INSERT OVERWRITE graft.main.t ...` under
  * `spark.sql.sources.partitionOverwriteMode=dynamic` (and
  * `df.writeTo(...).overwritePartitions()`) backfills ONLY the partitions
  * present in the incoming rows, leaving every untouched partition's files
  * byte-identical — the warehouse backfill primitive the static
  * whole-table swap cannot express.
  *
  * Why a rewrite rule instead of the DSv2 write path: Spark plans this as
  * `OverwritePartitionsDynamic`, whose executor requires a full
  * `BatchWrite` with `SupportsDynamicOverwrite` — but the stock DSv2
  * parquet BatchWrite has no partitioned-layout path at all (partitioned
  * writes ride the V1 `InsertableRelation` fallback), and
  * `OverwritePartitionsDynamic` has no V1-fallback exec: analysis refuses
  * it for V1-capability tables in `TableCapabilityCheck` before any
  * catalog code runs. So the injected resolution rule intercepts the
  * resolved plan FIRST and rewrites it into a command that (a) writes the
  * incoming rows to a hidden staging layout with the stock distributed
  * partitioned write, then (b) swaps exactly the staged `k=v` directories
  * into the live table, each by one [[Swap.replace]].
  *
  * Crash semantics, stated exactly: the staging layout is FULLY
  * materialized before the first swap, so a crash during the write leaves
  * every live partition untouched (debris: one dot-prefixed staging dir,
  * swept by the next overwrite or DROP). A crash mid-LOOP leaves each
  * partition wholly old or wholly new (never mixed), and a crash inside
  * one partition's swap leaves that single partition absent with its data
  * recoverable under its dot-prefixed `.old-<k=v>-<uuid>` aside.
  * Cross-partition atomicity is deliberately NOT promised (the reference
  * points here are per-directory, like the States marker discipline).
  *
  * Scale shape: the staging write is one distributed job, REBALANCED on
  * the partition columns (skew-safe: a hot value fans out across tasks,
  * see Writers.partitionedParquet); the swap loop is pure metadata — one
  * list + 3 renames per INCOMING partition, independent of table size.
  */
object DynamicOverwrite {

  /** Swap every staged leaf partition directory into the live table. */
  private[graft] def backfill(spark: SparkSession, livePath: String,
      staging: Path): Int = {
    val live = new Path(livePath)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())

    // staged leaf partition dirs as relative k=v segment chains
    def leaves(p: Path, rel: Seq[String]): Seq[Seq[String]] = {
      val kv = fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      if (kv.isEmpty) { if (rel.nonEmpty) Seq(rel) else Nil }
      else kv.toSeq.flatMap(st => leaves(st.getPath, rel :+ st.getPath.getName))
    }
    val parts = leaves(staging, Nil)
    parts.foreach { rel =>
      val src = rel.foldLeft(staging)((p, n) => new Path(p, n))
      val dst = rel.foldLeft(live)((p, n) => new Path(p, n))
      fs.mkdirs(dst.getParent)
      Swap.replace(fs, src, dst, Swap.sibling(dst, "old"))()
    }
    parts.size
  }
}

/** The planned form: a leaf command holding the (already resolved and
  * output-aligned) query as an inner plan — `run` executes it as a regular
  * DataFrame write into staging, then swaps the staged partitions in.
  */
case class GraftDynamicOverwriteCommand(tableName: String, livePath: String,
    partCols: Seq[String], query: LogicalPlan,
    invalidate: () => Unit, snapshotted: Boolean = false,
    baseSnap: Option[Snapshots.Snapshot] = None, changelog: Boolean = false)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    val live = new Path(livePath)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = Swap.sibling(live, "dynover")
    try {
      org.apache.spark.sql.GraftSqlShims.ofRows(spark, query)
        .hint("rebalance", partCols.map(col): _*)
        .write.partitionBy(partCols: _*).mode("overwrite")
        .parquet(staging.toString)
      if (snapshotted) {
        // snapshot tables (r14): adopt the staged leaves as generations
        // and REPLACE exactly those entries in ONE manifest commit — the
        // whole backfill becomes atomic across partitions (the plain path
        // below promises only per-directory atomicity). The OCC base is
        // the snapshot the target table RESOLVED with (r14 ADVICE): a
        // commit landing mid-query rebases when disjoint from the
        // backfilled partitions and refuses when not — never absorbed.
        val base = baseSnap
        val baseEntries = base.map(_.entries).getOrElse(Map.empty)
        val adopted = Snapshots.adoptStaged(fs, staging, live)
        val entries = baseEntries ++ adopted.map { case (kv, g) => kv -> Seq(g) }
        // changelog tables record the backfill's row-level diff (replaced
        // partitions' old generations vs their replacements; new partitions
        // surface as pure inserts) — cost ∝ the backfill, opt-in
        val changes =
          if (!changelog) None
          else TableMeta.read(fs, live).map { meta =>
            import org.apache.spark.sql.functions.lit
            val oldUnits = adopted.keySet.toSeq.sorted
              .flatMap(kv => baseEntries.getOrElse(kv, Nil).map(g => s"$kv/$g"))
            val newUnits = adopted.toSeq.map { case (kv, g) => s"$kv/$g" }
            val oldDf = Snapshots.readUnits(spark, live, meta, oldUnits)
            val newDf = Snapshots.readUnits(spark, live, meta, newUnits)
            Snapshots.recordChanges(spark, live,
              oldDf.exceptAll(newDf).withColumn("_change_op", lit("D"))
                .unionAll(newDf.exceptAll(oldDf)
                  .withColumn("_change_op", lit("I"))))
          }
        try Snapshots.commit(fs, live, base, entries, kind = "replace",
          changes = changes)
        catch { case e: ConcurrentCommitException =>
          Snapshots.dropGens(fs, live, adopted)
          changes.foreach(c => fs.delete(
            new Path(new Path(live, Snapshots.ChangesDir), c), true))
          throw e
        }
      } else CommitLock.withLock(fs, live.getParent, live.getName) {
        DynamicOverwrite.backfill(spark, livePath, staging)
      }
    } finally {
      fs.delete(staging, true)
      invalidate()
    }
    Seq.empty
  }
}

/** Resolution rule (injected by graft.plans.GraftExtensions): rewrites a
  * fully-resolved `OverwritePartitionsDynamic` over a partitioned graft
  * table into [[GraftDynamicOverwriteCommand]] — before
  * `TableCapabilityCheck` can refuse the V1-capability table.
  */
case class GraftDynamicOverwriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case o: OverwritePartitionsDynamic if o.resolved =>
      o.table match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
          val t = r.table.asInstanceOf[GraftTable]
          if (t.partCols.isEmpty || t.writablePath.isEmpty)
            throw new UnsupportedOperationException(
              s"dynamic partition overwrite requires a partitioned directory " +
                s"table; ${t.name()} is ${if (t.writablePath.isEmpty) "read-only"
                else "unpartitioned (use static INSERT OVERWRITE)"}")
          GraftDynamicOverwriteCommand(t.name(), t.writablePath.get,
            t.partCols, o.query, t.onWrite, t.snapshotted, t.loadedSnap,
            t.changelog)
        case _ => o
      }
  }
}
