package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** Table-level metadata sidecar (`_graft_table.json` inside the table
  * directory): the authoritative schema plus the partition column list.
  *
  * The reference's connector receives both from the external metadata
  * service (trino/RecordServiceMetadata.java getTableMetadata); a
  * directory-backed catalog needs its own durable record for the two cases
  * footer inference cannot cover:
  *
  *  - PARTITIONED tables (r11 VERDICT ask #2): the partition columns and
  *    their exact types must survive an empty table (no `k=v` dirs to infer
  *    from yet) and pin value parsing once data lands;
  *  - SCHEMA EVOLUTION (r11 VERDICT ask #3): after ADD COLUMN the evolved
  *    schema is wider than any existing footer — reads serve the sidecar
  *    schema and parquet fills the missing column with nulls (the standard
  *    mergeSchema-free evolution contract).
  *
  * The underscore prefix keeps it invisible to table listing, footer
  * statistics, and parquet directory reads (same convention as _SUCCESS).
  * Tables without a sidecar keep the inference-only behavior — the sidecar
  * is written by partitioned CREATE/CTAS and by the first ALTER.
  */
/** `droppedColumns` are TOMBSTONES (r13): a schema-level DROP COLUMN is
  * metadata-only — the bytes stay in the files — so re-ADDing the same
  * name would silently RESURRECT the old values into the "new" column
  * (the classic parquet name-binding pitfall that field-id column mapping
  * exists to solve). The tombstone list makes the resurrection impossible:
  * ADD COLUMN refuses any tombstoned name.
  */
/** `snapshots` (r14): the table commits through manifest files — see
  * [[Snapshots]]. Set at CREATE via `TBLPROPERTIES ('snapshots'='true')`,
  * immutable thereafter (flipping it mid-life would orphan either the
  * manifests or the plain layout).
  *
  * `sortOrder` (r14): declared write-time clustering columns
  * (`TBLPROPERTIES ('sort_order'='c1,c2')`). INSERTs range-partition and
  * sort on them, so parquet footer min/max become tight and DISJOINT
  * across files — the cheapest scan-pruning win at 100 TB — and
  * compaction preserves the order. Declarative, not enforced on files
  * that predate the property.
  */
/** `changelog` (r15): row-level DML on this snapshot table additionally
  * records per-row (op, version) change files beside the new generations,
  * served by [[Snapshots.changesBetween]]. Opt-in
  * (`TBLPROPERTIES ('changelog'='true')`, requires `snapshots`) because
  * recording costs one extra read of the affected partitions per mutating
  * commit.
  */
/** `deletionVectors` (r15): DELETE on this snapshot table commits
  * merge-on-read position vectors instead of rewriting candidate files —
  * see [[DeletionVectors]]. Opt-in
  * (`TBLPROPERTIES ('deletion_vectors'='true')`, requires `snapshots`)
  * because live vectors tax reads with one anti-join and make
  * copy-on-write UPDATE/MERGE refuse until a compaction materializes
  * them.
  */
/** `bloomCols`/`bloomFpp` (r15): per-file Bloom filters on these columns,
  * built once per new generation at commit and consulted by DML candidacy
  * and scan pruning for point lookups on unclustered keys — see
  * [[BloomSkip]]. Requires `snapshots`.
  */
case class TableMeta(schema: StructType, partitionCols: Seq[String],
    droppedColumns: Seq[String] = Nil, snapshots: Boolean = false,
    sortOrder: Seq[String] = Nil, changelog: Boolean = false,
    deletionVectors: Boolean = false,
    bloomCols: Seq[String] = Nil, bloomFpp: Double = 0.001)

object TableMeta {

  val FileName = "_graft_table.json"

  def pathIn(tableDir: Path): Path = new Path(tableDir, FileName)

  def read(fs: FileSystem, tableDir: Path): Option[TableMeta] =
    Sidecar.read(fs, pathIn(tableDir)).map(parse)

  def write(fs: FileSystem, tableDir: Path, meta: TableMeta): Unit =
    Sidecar.write(fs, pathIn(tableDir), render(meta))

  /** Serialized form: StructType's own JSON wrapped with the partition
    * list. StructType.fromJson/json is the stable Spark wire format for
    * schemas — no hand-rolled type grammar.
    */
  private[catalog] def render(meta: TableMeta): String = Sidecar.render(Map(
    "version" -> 1, "partitionCols" -> meta.partitionCols,
    "droppedColumns" -> meta.droppedColumns, "snapshots" -> meta.snapshots,
    "changelog" -> meta.changelog, "deletionVectors" -> meta.deletionVectors,
    "bloomCols" -> meta.bloomCols, "bloomFpp" -> meta.bloomFpp,
    "sortOrder" -> meta.sortOrder, "schema" -> Sidecar.tree(meta.schema.json)))

  private[catalog] def parse(raw: String): TableMeta = {
    val root = Sidecar.tree(raw)
    def flag(f: String) = Option(root.get(f)).exists(_.asBoolean(false))
    def names(f: String) = Sidecar.strings(root.get(f))
    TableMeta(DataType.fromJson(root.get("schema").toString).asInstanceOf[StructType],
      names("partitionCols"), names("droppedColumns"), flag("snapshots"),
      names("sortOrder"), flag("changelog"), flag("deletionVectors"),
      names("bloomCols"),
      Option(root.get("bloomFpp")).map(_.asDouble(0.001)).getOrElse(0.001))
  }
}
