package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of named queries to `<outDir>/<q>_<suffix>.txt`
  * — before/after plan evidence for a change (dump both trees with the same
  * suffix scheme and diff them).
  *
  * sbt "Test/runMain graft.ExplainDump <sfDir> <outDir> <suffix> q_a,q_b"
  *
  * Runs on `local[N]` with N shuffle partitions, N = `SPARK_GRAFT_CPUS`
  * (default: the machine's available processors).
  */
object ExplainDump extends App {
  val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  val spark = SparkSession.builder().master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  val Array(sfDir, outDir, suffix) = args.take(3)
  Files.createDirectories(Paths.get(outDir))
  args(3).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[explain] wrote $name")
      graft.operators.Caches.release(spark)
    } catch { case e: Throwable =>
      System.err.println(s"[explain] $name failed: ${e.getMessage}")
    }
  }
  spark.stop()
}
