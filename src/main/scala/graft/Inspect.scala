package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** What a piece of work did: the plans it executed and its stages.
  *
  * [[record]] is the one listener pair behind every profile, plan dump and
  * byte count in the specs and drivers. The `main` runs corpus queries by
  * name:
  *
  * {{{
  * sbt "runMain graft.Inspect <sfDir> <q1,q2,...> plan <outDir> <suffix>"
  * sbt "runMain graft.Inspect <sfDir> <q1,q2,...> time [reps]"
  * sbt "runMain graft.Inspect <sfDir> <q1,q2,...> stages [reps]"
  * }}}
  *
  *  - `plan` writes `<outDir>/<q>_<suffix>.txt`: the formatted plan of the
  *    frame the query returns, then every plan executed while building it
  *    (an operator's internal collects and pins).
  *  - `time` runs each query `reps` times (default 3) into the noop sink,
  *    releasing pins after each rep, and prints every rep and the best.
  *  - `stages` runs the same reps and prints the stage table of the last,
  *    with the generated classes it compiled.
  *
  * A query that fails is reported on stderr and the rest still run; `main`
  * then throws, naming every failed query.
  *
  * The session is [[GraftSession]]'s with `SPARK_GRAFT_CPUS` task threads
  * (default: the machine's available processors).
  */
object Inspect {

  /** One stage: wall time from submission to completion, the tasks that
    * ended and their summed run and CPU time, and their bytes. `name` is the
    * graft call that started the stage's query (the operator line behind a
    * pin, not `Par.pin` itself), else Spark's stage name. `readsPin` when
    * one of the stage's RDDs (other than the one it computes) is persisted:
    * the stage reads a `Par.pin` (or a Dataset cache).
    */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, cpuMs: Long, inputBytes: Long, outputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, readsPin: Boolean)

  /** A recorded scope: its `value`, every query it executed (in order;
    * `plans` are their executed plans), its job count, its stages and the
    * generated classes compiled meanwhile (Spark's JVM-wide codegen
    * compile count, so a concurrent query's compiles count too).
    */
  final case class Recording[+A](value: A, executions: Seq[QueryExecution],
      plans: Seq[String], jobs: Int, stages: Seq[Stage], compiles: Long) {
    def tasks: Int = stages.map(_.tasks).sum
    def inputBytes: Long = stages.map(_.inputBytes).sum
    def outputBytes: Long = stages.map(_.outputBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  private val MarkKey = "graft.inspect.marker"
  private val DrainSeconds = 60L

  /** Run `body` and record what it executed on `spark`'s context. Listener
    * delivery is asynchronous, so a marker query runs after `body` and the
    * recording waits for its job end and its plan: every earlier event has
    * then been delivered. The listeners are removed on every path.
    */
  def record[A](spark: SparkSession)(body: => A): Recording[A] = {
    val sc = spark.sparkContext
    val mark = s"inspect_marker_${java.util.UUID.randomUUID()}"
    val rec = new Recorder(mark)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val value = body
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      val prev = sc.getLocalProperty(MarkKey)
      sc.setLocalProperty(MarkKey, mark)
      try spark.range(1).select(lit(mark)).collect()
      finally sc.setLocalProperty(MarkKey, prev)
      if (!Seq(rec.jobEnded, rec.planSeen).forall(_.await(DrainSeconds, TimeUnit.SECONDS)))
        throw new IllegalStateException(
          s"listener bus not drained within $DrainSeconds s")
      rec.recording(value, compiles)
    } finally {
      spark.listenerManager.unregister(rec)
      sc.removeSparkListener(rec)
    }
  }

  private final class Recorder(mark: String)
      extends SparkListener with QueryExecutionListener {
    private final class Acc(val name: String, val readsPin: Boolean) {
      var submitted, completed, runMs, cpuNs, in, out, shufRead, shufWrite = 0L
      var tasks = 0
    }
    private val executed = new ConcurrentLinkedQueue[(QueryExecution, String)]()
    private val stages = mutable.LinkedHashMap[Int, Acc]()
    private val sites = mutable.Map[String, String]()
    private var jobs = 0
    private var markerJob = -1
    // the marker's job end and its plan, possibly delivered by two queues
    val jobEnded, planSeen = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(MarkKey) == mark)) markerJob = e.jobId
      else jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == markerJob) jobEnded.countDown()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val info = e.stageInfo
      if (Option(e.properties).forall(_.getProperty(MarkKey) != mark)) {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(sites.get)
        val acc = new Acc(site.getOrElse(info.name),
          info.rddInfos.drop(1).exists(_.storageLevel.isValid))
        acc.submitted = info.submissionTime.getOrElse(System.currentTimeMillis())
        stages(info.stageId) = acc
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sites(s.executionId.toString) = s.details.linesIterator.map(_.trim)
          .find(l => l.startsWith("graft.") && !l.startsWith("graft.operators.Par$") &&
            !l.startsWith("graft.Inspect"))
          .getOrElse(s.description)
      }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { acc =>
        acc.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (acc <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.in += m.inputMetrics.bytesRead
        acc.out += m.outputMetrics.bytesWritten
        acc.shufRead += m.shuffleReadMetrics.totalBytesRead
        acc.shufWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val plan = qe.executedPlan.toString
      if (plan.contains(mark)) planSeen.countDown() else executed.add(qe -> plan)
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()

    def recording[A](value: A, compiles: Long): Recording[A] = synchronized {
      val (qes, plans) = executed.asScala.toSeq.unzip
      Recording(value, qes, plans, jobs, stages.toSeq.map { case (id, a) =>
        Stage(id, a.name, math.max(0L, a.completed - a.submitted), a.tasks,
          a.runMs, a.cpuNs / 1000000L, a.in, a.out, a.shufRead, a.shufWrite,
          a.readsPin)
      }, compiles)
    }
  }

  /** Run `f`, print `[time] <label> <seconds>`, and return the seconds. */
  def time(label: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[time] $label%-52s $s%8.2f s")
    System.out.flush()
    s
  }

  /** Run `body` for each name in turn, releasing pins after each; print
    * each failure to stderr and return the names that failed.
    */
  private def failures(spark: SparkSession, names: Seq[String])(
      body: String => Unit): Seq[String] = names.filter { name =>
    try { body(name); false }
    catch { case e: Throwable =>
      System.err.println(s"[inspect] $name failed: ${e.getMessage}")
      true
    } finally graft.operators.Caches.release(spark)
  }

  /** Time each query `reps` times into the noop sink, releasing pins after
    * each rep, and print the best rep. Returns the queries that failed.
    */
  def timeQueries(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[String] = failures(spark, names) { name =>
    val runs = (1 to reps).map(i => time(s"$name #$i")(runOnce(spark, sfDir, name)))
    println(f"[time] $name best=${runs.min}%.2f reps=${runs.map(r => f"$r%.2f").mkString(",")}")
  }

  private def runOnce(spark: SparkSession, sfDir: String, name: String): Unit =
    try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    finally graft.operators.Caches.release(spark)

  private def stageTable(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[String] = failures(spark, names) { name =>
    (1 until reps).foreach(i => time(s"$name #$i")(runOnce(spark, sfDir, name)))
    val r = record(spark)(time(s"$name #$reps")(runOnce(spark, sfDir, name)))
    val sts = r.stages
    println(f"[stages] $name: ${r.jobs} jobs, ${sts.size} stages, ${r.tasks} tasks, " +
      f"${r.compiles} compiles, " +
      f"wall sum ${sts.map(_.wallMs).sum / 1e3}%.2f s, task run ${sts.map(_.runMs).sum / 1e3}%.2f s, " +
      f"cpu ${sts.map(_.cpuMs).sum / 1e3}%.2f s (stages overlap)")
    println("[stage]    id   wall s tasks   run ms   cpu ms    in KB   out KB    sr KB    sw KB pin name")
    sts.sortBy(-_.wallMs).foreach { s =>
      println(f"[stage] ${s.id}%5d ${s.wallMs / 1e3}%8.3f ${s.tasks}%5d ${s.runMs}%8d ${s.cpuMs}%8d " +
        f"${s.inputBytes / 1024}%8d ${s.outputBytes / 1024}%8d ${s.shuffleReadBytes / 1024}%8d " +
        f"${s.shuffleWriteBytes / 1024}%8d ${if (s.readsPin) "pin" else "   "} " +
        s.name.linesIterator.nextOption().getOrElse("").take(100))
    }
  }

  private def planDump(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: String, suffix: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    failures(spark, names) { name =>
      val r = record(spark)(SparkEntry.queries(name)(spark, sfDir))
      val inside = r.executions.zipWithIndex.map { case (qe, i) =>
        s"\n== Executed while building the frame (${i + 1} of ${r.executions.size}) ==\n" +
          qe.explainString(FormattedMode)
      }
      val txt = r.value.queryExecution.explainString(FormattedMode) + inside.mkString
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[inspect] wrote $name (${r.executions.size} plans run inside)")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Inspect <sfDir> <q1,q2,...> " +
      "plan <outDir> <suffix> | time [reps] | stages [reps]"
    require(args.length >= 3, usage)
    val Array(sfDir, list, mode) = args.take(3)
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(Set("plan", "time", "stages")(mode), usage)
    require(mode != "plan" || args.length >= 5, usage)
    def reps = args.lift(3).fold(3)(_.toInt).ensuring(_ >= 1, usage)
    val spark = GraftSession.builder(
      GraftSession.cpus(Runtime.getRuntime.availableProcessors)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try mode match {
      case "plan" => planDump(spark, sfDir, names, args(3), args(4))
      case "time" => timeQueries(spark, sfDir, names, reps)
      case "stages" => stageTable(spark, sfDir, names, reps)
    } finally spark.stop()
    if (failed.nonEmpty) throw new IllegalStateException(
      s"${failed.size} of ${names.size} queries failed: ${failed.mkString(", ")}")
  }
}
