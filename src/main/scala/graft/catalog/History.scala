package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Table history / time travel for unpartitioned catalog tables.
  *
  * Every replacing commit (INSERT OVERWRITE, CREATE OR REPLACE, TRUNCATE,
  * whole-table MERGE/UPDATE/DELETE) already moves the previous contents
  * aside before swapping the staging in; with `graft.history = N` set, the
  * aside is RETIRED as `.gen-<table>-<millis>-<uuid>` instead of deleted,
  * and the newest N generations are retained. `SELECT ... FROM t VERSION
  * AS OF k` (k generations back, or an exact millis stamp) and
  * `TIMESTAMP AS OF ts` then resolve to read-only snapshots — one rename
  * per commit, no data copied, the staged-swap crash discipline unchanged.
  *
  * The stamp records WHEN the generation was replaced, i.e. the instant it
  * stopped being live — so `TIMESTAMP AS OF t` picks the earliest
  * generation retired AFTER t (its contents were live at t), or the
  * current table when t is newer than every retirement.
  *
  * Scope, stated honestly: whole-table generations only. Partitioned
  * tables mutate per `k=v` directory (dynamic overwrite, partition-scoped
  * DML), so a consistent whole-table snapshot would need a manifest layer
  * on top of the per-partition swaps — not built; time travel on a
  * partitioned table refuses loudly. At 100 TB the cost model is: history
  * retains N retired table copies (storage), never rewrites anything
  * (the rename is metadata), and snapshot reads are ordinary scans.
  */
object History {

  val Key = "graft.history"

  /** `toIntOption`: an unparsable value means history OFF, never an
    * exception — keep() runs inside retire(), which runs AFTER the live
    * swap; throwing there would report failure for a commit that already
    * succeeded and leak the aside dir (r13 ADVICE).
    */
  def keep(spark: SparkSession): Int =
    spark.conf.getOption(Key).flatMap(_.toIntOption).filter(_ > 0).getOrElse(0)

  private val GenRe = """\.gen-(.+)-(\d{13})-[0-9a-f]{8}""".r

  /** Retire a replaced table aside: rename to a generation (history on)
    * or delete (history off); prune to the newest N generations.
    */
  def retire(fs: FileSystem, tableName: String, live: Path,
      replaced: Path): Unit = {
    val n = keep(SparkSession.active)
    if (n <= 0) { fs.delete(replaced, true); return }
    val stamp = System.currentTimeMillis()
    val gen = new Path(live.getParent, f".gen-$tableName-$stamp%013d-${Swap.uuid8()}")
    if (!fs.rename(replaced, gen)) fs.delete(replaced, true) // degrade to no-history
    generations(fs, live.getParent, tableName).drop(n)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Generations of a table, NEWEST first, as (retirementMillis, path). */
  def generations(fs: FileSystem, dir: Path, tableName: String): Seq[(Long, Path)] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case GenRe(name, stamp) if name == tableName =>
          Some((stamp.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(-_._1)
  }

  /** Resolve `VERSION AS OF v`: a small integer k = k generations back;
    * anything else must exactly match a generation's millis stamp.
    */
  def byVersion(fs: FileSystem, dir: Path, tableName: String,
      version: String): Path = {
    val gens = generations(fs, dir, tableName)
    if (gens.isEmpty)
      throw new UnsupportedOperationException(
        s"table $tableName has no retained generations — set ${Key}=N " +
          s"before replacing commits to enable time travel")
    val exact = gens.find(_._1.toString == version)
    exact.map(_._2).getOrElse {
      val k = try version.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"VERSION AS OF '$version': not a generations-back count or a " +
              s"retirement stamp of $tableName (have: ${gens.map(_._1).mkString(", ")})")
      }
      if (k < 1 || k > gens.length)
        throw new IllegalArgumentException(
          s"VERSION AS OF $k: $tableName retains ${gens.length} generation(s)")
      gens(k - 1)._2
    }
  }

  /** Resolve `TIMESTAMP AS OF` (microseconds since epoch, Spark's unit):
    * the earliest generation retired after the instant — or None, meaning
    * the CURRENT table was already live then.
    */
  def byTimestamp(fs: FileSystem, dir: Path, tableName: String,
      micros: Long): Option[Path] = {
    val millis = micros / 1000L
    val gens = generations(fs, dir, tableName)
    gens.reverse.find(_._1 > millis).map(_._2)
  }

  /** DROP sweeps history with the table. */
  def dropAll(fs: FileSystem, dir: Path, tableName: String): Unit =
    generations(fs, dir, tableName).foreach { case (_, p) => fs.delete(p, true) }
}
