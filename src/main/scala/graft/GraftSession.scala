package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every entry point (Verify,
  * DifferentialSf1, Inspect, the specs and the planted-skew drivers) starts
  * from [[builder]] and adds only what it needs on top; `Bench` keeps its own
  * frozen config.
  */
object GraftSession {

  /** `local[cpus]` with as many shuffle partitions, UTC session time, no UI
    * and the graft extensions (governance, dv reads, merge-on-read UPDATE).
    */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")

  /** Task threads: `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: => Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
