package perfbench

import java.io.File

import scala.collection.immutable.TreeMap
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

/** A snapshot warehouse table under a read/write mix: one client runs point
  * reads, range aggregates and time-travel reads beside INSERT, DELETE,
  * UPDATE (merge-on-read) and MERGE batches, with periodic compaction and
  * snapshot expiry. Every read, and the final table, is checked against a
  * model replayed from the client's own op log.
  */
object WarehouseRw {
  val Table = "wh.main.orders_rw"
  val Dir = new File("wh/orders_rw")
  val Cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
  val History = "8"
  val ExpireKeep = 4
  val NewKeyBase = 1000000L
  val BaseKeys = 150000

  final case class Ord(cust: Long, status: String, price: Double, prio: String)
  type Model = TreeMap[Long, Ord]

  def listFiles(f: File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c => listFiles(c)).toMap
    else Map(f.getPath -> f.length())

  /** (count, sum of custkey, min price, max price) as the reads return them. */
  def agg(rows: Iterable[Ord]): Seq[Any] =
    if (rows.isEmpty) Seq(0L, null, null, null)
    else Seq(rows.size.toLong, rows.map(_.cust).sum, rows.map(_.price).min, rows.map(_.price).max)
}

class WarehouseRw extends Workload {
  import WarehouseRw._

  private var model: Model = TreeMap.empty
  private var versions = TreeMap.empty[Long, Model]
  private var rng: Random = _
  private var nextKey = NewKeyBase
  private val recent = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var written = Seq.empty[(String, Int, Long)] // (kind, files, bytes)

  override def prepare(ctx: Ctx): Unit = {
    rng = new Random(ctx.seed)
    ctx.spark.conf.set("graft.history", History)
    model = TreeMap.from(ctx.spark.read.parquet(s"${ctx.dataDir}/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .collect().map(r => r.getLong(0) -> Ord(r.getLong(1), r.getString(2), r.getDouble(3),
        r.getString(4))))
  }

  override def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    CorpusOps.deleteTree(Dir)
    spark.sql(s"""CREATE TABLE $Table TBLPROPERTIES ('snapshots'='true',
      |'deletion_vectors'='true', 'bloom_cols'='o_orderkey') AS
      |SELECT /*+ REPARTITION(8, o_custkey) */ $Cols FROM graft.main.orders""".stripMargin)
    versions = TreeMap(currentVersion(ctx) -> model)
  }

  private def snapshot(ctx: Ctx): graft.catalog.Snapshots.Snapshot = {
    val p = new Path(Dir.getAbsolutePath)
    graft.catalog.Snapshots.current(p.getFileSystem(ctx.spark.sessionState.newHadoopConf()), p)
      .getOrElse(sys.error(s"$Table has no snapshot"))
  }

  private def currentVersion(ctx: Ctx): Long = snapshot(ctx).version

  private def existingKey(): Long = {
    val probe = if (rng.nextDouble() < 0.2 && nextKey > NewKeyBase)
      NewKeyBase + (rng.nextLong() & Long.MaxValue) % (nextKey - NewKeyBase)
    else rng.nextInt(BaseKeys).toLong
    model.keysIteratorFrom(probe).nextOption().getOrElse(model.firstKey)
  }

  /** Skewed, recent-favoured read keys: half from the last keys written, a
    * third of the rest from a hot range, the remainder uniform (and possibly
    * deleted, which the model answers with no row).
    */
  private def readKey(): Long = {
    val r = rng.nextDouble()
    if (r < 0.5 && recent.nonEmpty) recent(rng.nextInt(recent.size))
    else if (r < 0.8) rng.nextInt(1000).toLong
    else rng.nextInt(BaseKeys).toLong
  }

  private def touch(k: Long): Unit = {
    recent += k
    if (recent.size > 64) recent.remove(0)
  }

  private def price(): String = {
    val cents = rng.nextInt(50000000)
    f"${cents / 100}.${cents % 100}%02d"
  }

  private def values(rows: Seq[(Long, Ord)]): String = rows.map { case (k, o) =>
    s"(${k}L, ${o.cust}L, '${o.status}', ${o.price}D, TIMESTAMP '2001-09-01 00:00:00', '${o.prio}')"
  }.mkString(", ")

  private def newRows(n: Int, status: String): Seq[(Long, Ord)] = (0 until n).map { _ =>
    nextKey += 1
    nextKey -> Ord(rng.nextInt(15000).toLong, status, price().toDouble, "3-MEDIUM")
  }

  private def rowOf(o: Ord, k: Long): Seq[Any] = Seq(k, o.cust, o.status, o.price, o.prio)

  private def same(rows: Seq[Row], want: Seq[Seq[Any]]): Option[String] = {
    val got = rows.map(_.toSeq)
    if (got == want) None else Some(s"got ${got.take(2)} want ${want.take(2)}")
  }

  /** Ops run in blocks with a fixed mix, so every seed measures the same
    * proportions; the seed sets the order inside each block and every
    * literal. A block is 3 point reads, 2 range reads, 1 time-travel read,
    * 1 INSERT, 1 DELETE and 1 UPDATE in seeded order, then a compaction and
    * a MERGE (MERGE is refused while deletion vectors are live, so it runs
    * right after the compaction materialized them); every second block
    * ends with `expire_snapshots`. A block started before the deadline
    * runs to its end.
    */
  override def run(ctx: Ctx, deadlineNs: Long): Unit = {
    val block = Seq("point", "point", "point", "range", "range", "as_of", "insert", "delete",
      "update")
    var b = 0
    while (System.nanoTime() < deadlineNs) {
      val steps = rng.shuffle(block) ++ Seq("compact", "merge") ++
        (if (b % 2 == 1) Seq("expire") else Nil)
      steps.foreach(step(ctx, _))
      b += 1
    }
  }

  private def step(ctx: Ctx, kind: String): Unit = {
    val spark = ctx.spark
    kind match {
      case "point" =>
        val k = readKey()
        val want = model.get(k).map(o => rowOf(o, k)).toSeq
        ctx.op("read", "point", 0)(ctx.collect(spark.sql(
          s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
            s"FROM $Table WHERE o_orderkey = $k"))) { case (_, rows) => same(rows, want) }
      case "range" | "as_of" =>
        val lo = if (rng.nextDouble() < 0.2 && nextKey > NewKeyBase)
          NewKeyBase + rng.nextInt((nextKey - NewKeyBase).toInt)
        else rng.nextInt(BaseKeys).toLong
        val hi = lo + 2000
        val asOf = kind == "as_of" && versions.size > 1
        val (v, m) =
          if (asOf) versions.toSeq.reverse.drop(1 + rng.nextInt(math.min(3, versions.size - 1))).head
          else versions.last
        val clause = if (asOf) s"VERSION AS OF '$v' " else ""
        val want = Seq(agg(m.range(lo, hi).values))
        ctx.op("read", if (asOf) "as_of_range" else "range", 0)(ctx.collect(spark.sql(
          s"SELECT count(*) AS n, sum(o_custkey) AS cs, min(o_totalprice) AS lo, " +
            s"max(o_totalprice) AS hi FROM $Table ${clause}WHERE o_orderkey >= $lo " +
            s"AND o_orderkey < $hi"))) { case (_, rows) => same(rows, want) }
      case "insert" =>
        val rows = newRows(10, "O")
        write(ctx, "write", "insert", rows.size)(s"INSERT INTO $Table VALUES ${values(rows)}") { m =>
          rows.foreach(x => touch(x._1)); m ++ rows
        }
      case "delete" =>
        val keys = Seq.fill(15)(existingKey()).distinct
        write(ctx, "write", "delete", keys.size)(
          s"DELETE FROM $Table WHERE o_orderkey IN (${keys.mkString(", ")})")(_ -- keys)
      case "update" =>
        val keys = Seq.fill(5)(existingKey()).distinct
        write(ctx, "write", "update", keys.size)(s"UPDATE $Table SET o_totalprice = o_totalprice + 1.5D, " +
          s"o_orderstatus = 'U' WHERE o_orderkey IN (${keys.mkString(", ")})") { m =>
          keys.foreach(touch)
          m ++ keys.map(k => k -> m(k).copy(price = m(k).price + 1.5, status = "U"))
        }
      case "compact" =>
        write(ctx, "maint", "compact")(s"CALL wh.system.compact('main.orders_rw')")(identity)
      case "merge" => merge(ctx)
      case "expire" => write(ctx, "maint", "expire_snapshots")(
        s"CALL wh.system.expire_snapshots('main.orders_rw', $ExpireKeep)")(identity)
    }
  }

  private def merge(ctx: Ctx): Unit = {
    val hits = Seq.fill(5)(existingKey()).distinct.map(k =>
      k -> model(k).copy(status = "M", price = price().toDouble))
    val fresh = newRows(5, "M")
    val src = hits ++ fresh
    write(ctx, "write", "merge", src.size)(s"""MERGE INTO $Table t
      |USING (SELECT * FROM VALUES ${values(src)} AS s($Cols)) s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice,
      |  t.o_orderstatus = s.o_orderstatus
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin) { m =>
      src.foreach(x => touch(x._1))
      m ++ hits.map { case (k, o) => k -> m(k).copy(status = o.status, price = o.price) } ++ fresh
    }
  }

  /** One write or maintenance op; on success the model advances and the new
    * snapshot version is recorded against it. In a traced run the files the
    * op added to the table directory are counted too.
    */
  private def write(ctx: Ctx, kind: String, name: String, rowsChanged: Int = 0)(sql: String)(
      next: Model => Model): Unit = {
    val before = if (ctx.tracer.isDefined) listFiles(Dir) else Map.empty[String, Long]
    val rec = ctx.op(kind, name, 0) {
      ctx.tracer.foreach(_.count("rows_changed", rowsChanged))
      ctx.span("catalog", name)(ctx.spark.sql(sql).collect())
    }(_ => None)
    if (rec.ok) {
      model = next(model)
      versions = (versions + (currentVersion(ctx) -> model)).takeRight(ExpireKeep + 2)
    }
    if (ctx.tracer.isDefined) {
      val added = listFiles(Dir).filter { case (p, _) => !before.contains(p) }
      written :+= ((name, added.size, added.values.sum))
    }
  }

  override def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val want = model.toSeq.map { case (k, o) => rowOf(o, k) }
    ctx.op("final", "table_vs_model", 0)(spark.sql(
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        s"FROM $Table ORDER BY o_orderkey").collect().toSeq)(rows => same(rows, want))
    // live user data: the current rows written fresh, as the CTAS lays them out
    spark.table(Table).repartition(8, org.apache.spark.sql.functions.col("o_custkey"))
      .write.parquet("fresh")
    val fresh = listFiles(new File("fresh")).filter(_._1.endsWith(".parquet")).values.sum
    val onDisk = listFiles(Dir).values.sum
    ctx.extra("space_amp") = onDisk.toDouble / fresh
    ctx.extra("live_rows") = model.size
    ctx.extra("live_bytes") = fresh
    val snap = snapshot(ctx)
    ctx.extra("files_live") = snap.entries.size
    ctx.extra("dv_files") = snap.dvs.size
    ctx.extra("written") = written.map { case (n, f, b) => Map("op" -> n, "files" -> f, "bytes" -> b) }
  }
}
