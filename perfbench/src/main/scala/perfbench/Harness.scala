package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One measured operation: what ran, when, and whether its result held. */
final case class OpRec(id: Long, kind: String, name: String, client: Int, startNs: Long,
    endNs: Long, ok: Boolean, error: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** State shared by a workload run: the session, the inputs, the recorded
  * ops and (in a traced run) the tracer.
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val seed: Long,
    val clients: Int, val tracer: Option[Tracer], val expected: Expected) {

  private val recs = new ConcurrentLinkedQueue[OpRec]()
  private val nextOp = new AtomicLong(0L)
  val extra = scala.collection.concurrent.TrieMap.empty[String, Any]

  def ops: Seq[OpRec] = recs.asScala.toSeq.sortBy(_.startNs)

  /** Runs `body` as one timed op, then `check` on its result outside the
    * timed region. A thrown exception or a failed check marks the op failed;
    * a failed op is recorded like any other and never dropped.
    */
  def op[T](kind: String, name: String, client: Int)(body: => T)(
      check: T => Option[String]): OpRec = {
    val id = nextOp.incrementAndGet()
    val t0 = System.nanoTime()
    val (res, t1) =
      try {
        val r = tracer match {
          case Some(t) => t.op(id, kind)(body)
          case None => body
        }
        (Right(r), System.nanoTime())
      } catch { case e: Throwable => (Left(e), System.nanoTime()) }
    val error = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(r) =>
        try check(r) catch { case e: Throwable => Some(s"check failed: ${e.getMessage}") }
    }
    error.foreach(e => System.err.println(s"[perfbench] $kind/$name failed: $e"))
    val rec = OpRec(id, kind, name, client, t0, t1, error.isEmpty, error.getOrElse(""))
    recs.add(rec)
    rec
  }

  /** Wraps a call into one layer in a span when tracing, else just runs it. */
  def span[T](layer: String, name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(layer, name)(body)
    case None => body
  }

  /** Builds the DataFrame, then runs it and collects the rows to the driver
    * (the rows feed the output check).
    */
  def collect(build: => DataFrame): (Seq[String], Seq[Row]) = {
    val df = span("queries", "build")(build)
    val rows = span("exec", "collect")(df.collect().toSeq)
    tracer.foreach(_.count("result_rows", rows.size))
    (df.columns.toSeq, rows)
  }
}

trait Workload {
  /** Untimed preparation before the set-up repetitions. */
  def prepare(ctx: Ctx): Unit = ()
  /** One repetition of set-up; run several times, each timed. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** The measured phase: runs ops until `deadlineNs`. */
  def run(ctx: Ctx, deadlineNs: Long): Unit
  /** Untimed end-of-run checks and workload-specific figures. */
  def finish(ctx: Ctx): Unit = ()
}

/** Entry point. Arguments (all required unless noted):
  *   --workload sql_star|corpus_ops|warehouse_rw --seed N --seconds S
  *   --trace 0|1 --data DIR --clients C --cores N --expected FILE --out FILE
  *   --spans FILE (where a traced run writes its spans)
  * The working directory must be an empty state directory: the warehouse and
  * the relative `target/` dirs of the corpus queries are created there.
  * Writes one JSON object of raw samples to --out; run.py turns it into
  * metrics. `--dump-oracles FILE` instead writes the oracle SQL of every
  * checked query (see tools/oracle.py).
  */
object Main {

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 5

  val workloads: Map[String, () => Workload] = Map(
    "sql_star" -> (() => new SqlStar),
    "corpus_ops" -> (() => new CorpusOps),
    "warehouse_rw" -> (() => new WarehouseRw))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    if (opts.contains("dump-oracles")) { Oracles.dump(opts("dump-oracles")); return }
    val wname = opt("workload")
    val workload = workloads.getOrElse(wname, sys.error(s"unknown workload $wname"))()
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt

    // fresh state: nothing a previous run left may be visible to this one
    val cwd = new File(".").getCanonicalFile
    val leftovers = Option(cwd.listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(n => n == "tmp" || n == "spark-local")
    require(leftovers.isEmpty,
      s"state directory $cwd is not empty: ${leftovers.mkString(", ")}")

    val t0 = System.nanoTime()
    val tracer = if (traced) Some(new Tracer) else None
    val spark = Session.start(cores, opt("data"), tracer)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, opt("data"), seed, opt("clients").toInt, tracer,
      Expected.load(opt("expected")))

    val p0 = System.nanoTime()
    workload.prepare(ctx)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val setupS = (1 to SetupReps).map { rep =>
      val s = System.nanoTime()
      workload.setup(ctx, rep)
      (System.nanoTime() - s) / 1e9
    }
    val before = Session.counters()
    tracer.foreach(_.startWindow())
    val w0 = System.nanoTime()
    workload.run(ctx, w0 + (seconds * 1e9).toLong)
    val windowS = (System.nanoTime() - w0) / 1e9
    tracer.foreach(_.endWindow())
    val after = Session.counters()
    val f0 = System.nanoTime()
    workload.finish(ctx)
    val heapMb = Session.retainedHeapMb()
    val finishS = (System.nanoTime() - f0) / 1e9

    val ops = ctx.ops
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> wname, "seed" -> seed, "clients" -> ctx.clients, "cores" -> cores,
      "seconds" -> seconds, "traced" -> traced,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "finish_s" -> finishS,
      "setup_s" -> setupS, "window_s" -> windowS,
      "retained_heap_mb" -> heapMb,
      "gc_ms" -> (after("gc_ms") - before("gc_ms")),
      "cpu_ms" -> (after("cpu_ms") - before("cpu_ms")),
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name, "client" -> o.client,
        "start_ms" -> (o.startNs - w0) / 1e6, "ms" -> o.ms, "ok" -> o.ok,
        "error" -> o.error)),
      "extra" -> ctx.extra.toMap)
    tracer.foreach { t => out("layers") = t.layerMetrics(ops) }
    tracer.foreach(_.writeSpans(opt("spans")))
    Files.writeString(Paths.get(opt("out")), Json.render(out))
    spark.stop()
  }
}

object Session {
  def start(cores: Int, dataDir: String, tracer: Option[Tracer]): SparkSession = {
    val catalogClass =
      if (tracer.isDefined) classOf[TracedCatalog].getName else "graft.catalog.GraftCatalog"
    val local = new File("spark-local").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
      .config("spark.sql.catalog.graft", catalogClass)
      .config("spark.sql.catalog.graft.dir", dataDir)
      .config("spark.sql.catalog.wh", catalogClass)
      .config("spark.sql.catalog.wh.dir", new File("wh").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.observability.AuditListener.install(spark)
    tracer.foreach(_.install(spark))
    spark
  }

  /** Process-wide GC and CPU time, in ms. */
  def counters(): Map[String, Double] = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => 0.0
    }
    Map("gc_ms" -> gc, "cpu_ms" -> cpu)
  }

  /** Heap in use after full collections: the memory the session retains.
    * Collects until two readings agree within 1 MB (Spark's cleaner threads
    * may still be dropping references), at most 10 times.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (prev - cur > 1.0 && n < 10) { prev = cur; cur = used(); n += 1 }
    cur
  }
}
