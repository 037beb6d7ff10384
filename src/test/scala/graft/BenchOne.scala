package graft

import org.apache.spark.sql.SparkSession

/** Time a single named headline query, Bench-style (noop sink, 3 reps,
  * caches released): sbt "Test/runMain graft.BenchOne <name> [sfDir]"
  *
  * Runs on `local[N]` with N shuffle partitions, N = `SPARK_GRAFT_CPUS`
  * (default: the machine's available processors).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val q = SparkEntry.queries(name)
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[bench1] $name #$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      graft.operators.Caches.release(spark)
    }
    spark.stop()
  }
}
