package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span of benchmark code around one call into a layer. Times are epoch
  * milliseconds with sub-ms precision.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    start: Double, end: Double)

/** The traced run's recorder. Spans come from the benchmark's own code
  * (`Ctx.op`, `Ctx.span`, [[TracedCatalog]]); jobs, stages, tasks and SQL
  * executions (with their planning phases) come from Spark's listener bus,
  * keyed to the op by the local property and job tag `Tracer.op` sets.
  */
final class Tracer {
  import Tracer._

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextSpan = new AtomicLong(0L)
  private val current = new ThreadLocal[(Long, Long)] { // (op, span)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  private val counts = TrieMap.empty[(Long, String), Double]
  private var spark: SparkSession = _
  private var window = (0.0, 0.0)

  // listener state
  private val jobs = TrieMap.empty[Int, (Long, Double, Double)] // op, start, end
  private val stageOp = TrieMap.empty[Int, Long]
  private val stageTasks = TrieMap.empty[(Int, Int), ConcurrentLinkedQueue[Double]]
  private val taskSums = TrieMap.empty[(Long, String), Double]
  private val execOp = TrieMap.empty[Long, Long]
  private val queries = new ConcurrentLinkedQueue[(Long, Map[String, Double], Seq[(Double, Double)])]()
  private val taskTimes = new ConcurrentLinkedQueue[(Double, Double, Double)]() // launch, finish, run

  def install(s: SparkSession): Unit = {
    spark = s
    Tracer.active = Some(this)
    s.sparkContext.addSparkListener(new Listener)
  }

  def startWindow(): Unit = window = (now(), 0.0)
  def endWindow(): Unit = window = (window._1, now())

  def op[T](id: Long, kind: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProperty, id.toString)
    sc.addJobTag(tag(id))
    val saved = current.get
    current.set((id, 0L))
    try span("op", kind)(body)
    finally {
      current.set(saved)
      sc.removeJobTag(tag(id))
      sc.setLocalProperty(OpProperty, null)
    }
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val (op, parent) = current.get
    val id = nextSpan.incrementAndGet()
    current.set((op, id))
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, parent, op, layer, name, t0, now()))
      current.set((op, parent))
    }
  }

  /** Adds to a per-op counter of the op running on this thread. */
  def count(name: String, n: Double): Unit = {
    val op = current.get._1
    counts.updateWith((op, name))(v => Some(v.getOrElse(0.0) + n))
  }

  private class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = (op, e.time.toDouble, Double.NaN)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { case (op, s, _) => jobs(e.jobId) = (op, s, e.time.toDouble) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrElse(e.stageId, 0L)
      val info = e.taskInfo
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new ConcurrentLinkedQueue)
        .add(info.duration.toDouble)
      def add(k: String, v: Double): Unit = taskSums.updateWith((op, k))(x => Some(x.getOrElse(0.0) + v))
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime.toDouble)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime).toDouble)
        taskTimes.add((info.launchTime.toDouble, info.finishTime.toDouble, m.executorRunTime.toDouble))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.find(_.startsWith(TagPrefix))
          .foreach(t => execOp(s.executionId) = t.stripPrefix(TagPrefix).toLong)
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.perfbench.SqlEvents.queryExecution(end)
          .foreach(qe => recordQuery(end.executionId, qe))
      case _ =>
    }
  }

  /** Planning phases, graft's own analyzer rules and the files scanned, per
    * SQL execution.
    */
  private def recordQuery(executionId: Long, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val graftRules = qe.tracker.rules.collect {
      case (n, r) if n.startsWith("graft.") => r.totalTimeNs / 1e6
    }.sum
    val files = try PlanWalk.filesRead(qe) catch { case _: Throwable => 0L }
    val m = Map("analysis_ms" -> ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0),
      "optimization_ms" -> ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0),
      "planning_ms" -> ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0),
      "graft_rules_ms" -> graftRules, "files_read" -> files.toDouble, "queries" -> 1.0)
    val intervals = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      .map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    queries.add((executionId, m, intervals))
  }

  /** Per-op raw figures plus run-wide ones; run.py derives the per-layer
    * metrics from them.
    */
  def layerMetrics(ops: Seq[OpRec]): Map[String, Any] = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    val allSpans = spans.asScala.toSeq
    val spansByOp = allSpans.groupBy(_.op)
    val qByOp = queries.asScala.toSeq.groupBy(q => execOp.getOrElse(q._1, 0L))
    val jobsByOp = jobs.values.toSeq.groupBy(_._1)
    val stagesByOp = stageOp.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size }
    val perOp = ops.map { o =>
      val sp = spansByOp.getOrElse(o.id, Nil)
      val root = sp.find(_.layer == "op")
      val (w0, w1) = root.map(s => (s.start, s.end)).getOrElse((0.0, 0.0))
      def clip(xs: Seq[(Double, Double)]) =
        xs.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.filter(x => x._2 > x._1)
      val cat = clip(sp.filter(_.layer == "catalog").filter(_.name == "loadTable").map(s => (s.start, s.end)))
      val qs = qByOp.getOrElse(o.id, Nil)
      val pl = clip(qs.flatMap(_._3))
      val jb = clip(jobsByOp.getOrElse(o.id, Nil).collect { case (_, s, e) if !e.isNaN => (s, e) })
      val uC = Intervals.union(cat)
      val uPC = Intervals.union(cat ++ pl)
      val uPCE = Intervals.union(cat ++ pl ++ jb)
      def spanMs(layer: String, name: String) =
        sp.filter(s => s.layer == layer && s.name == name).map(s => s.end - s.start).sum
      val base = Map[String, Any]("id" -> o.id, "kind" -> o.kind, "name" -> o.name,
        "wall_ms" -> (w1 - w0),
        "jobs" -> jobsByOp.getOrElse(o.id, Nil).size.toDouble,
        "stages" -> stagesByOp.getOrElse(o.id, 0).toDouble,
        "jobs_union_ms" -> Intervals.union(jb),
        "build_ms" -> spanMs("queries", "build"),
        "load_table_ms" -> spanMs("catalog", "loadTable"),
        "release_ms" -> spanMs("operators", "release"),
        "self_catalog_ms" -> uC, "self_plans_ms" -> (uPC - uC),
        "self_exec_ms" -> (uPCE - uPC), "self_driver_ms" -> ((w1 - w0) - uPCE))
      val q = qs.flatMap(_._2.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      val t = taskSums.toSeq.collect { case ((op, k), v) if op == o.id => k -> v }.toMap
      val c = counts.toSeq.collect { case ((op, k), v) if op == o.id => k -> v }.toMap
      base ++ q ++ t ++ c
    }
    val skews = stageTasks.toSeq.flatMap { case ((sid, _), q) =>
      val d = q.asScala.toSeq.sorted
      if (d.size >= 2 && d(d.size / 2) > 0 && ops.exists(_.id == stageOp.getOrElse(sid, -1L)))
        Some(d.last / d(d.size / 2)) else None
    }
    Map("per_op" -> perOp, "stage_skew" -> skews,
      "task_run_ms_window" -> taskTimes.asScala.collect {
        case (launch, finish, run) if launch >= window._1 && finish <= window._2 => run
      }.sum,
      "spans" -> allSpans.size, "queries" -> queries.size,
      "unmapped_queries" -> qByOp.getOrElse(0L, Nil).size)
  }

  def writeSpans(path: String): Unit =
    Files.write(Paths.get(path), spans.asScala.toSeq.sortBy(_.start).map(s => Json.render(
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))).asJava)
}

object Tracer {
  val OpProperty = "perfbench.op"
  val TagPrefix = "perfbench-op-"
  def tag(id: Long): String = TagPrefix + id
  @volatile var active: Option[Tracer] = None
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Files the query's scans listed, subqueries included. */
  def filesRead(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec => b.inputPartitions.map {
        case fp: FilePartition => fp.files.length.toLong
        case _ => 0L
      }.sum
    }.sum
}

/** `GraftCatalog` with a span around every table load; the traced run
  * registers it in place of the plain catalog.
  */
class TracedCatalog extends graft.catalog.GraftCatalog {
  private def traced(body: => Table): Table = Tracer.active match {
    case Some(t) => t.span("catalog", "loadTable")(body)
    case None => body
  }
  override def loadTable(ident: Identifier): Table = traced(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    traced(super.loadTable(ident, version))
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    traced(super.loadTable(ident, timestamp))
}
