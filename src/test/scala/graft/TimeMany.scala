package graft
import org.apache.spark.sql.SparkSession

/** Batched [[BenchOne]]: time a comma-separated list of headline queries in
  * ONE session, 3 reps each (best-of-3 is the band discipline), releasing
  * operator caches between queries exactly like Verify/Bench.
  *
  * sbt "Test/runMain graft.TimeMany <sfDir> q_a,q_b,..." — built for the
  * r12 sf1 bench-band sweep (VERDICT ask #6): the ~20 heaviest sf0.1
  * queries re-timed at sf1 so rounds can grade SCALING (sf0.1→sf1 ratio),
  * not just absolute sf0.1 times.
  */
object TimeMany extends App {
  val spark = SparkSession.builder().master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  val sfDir = args(0)
  val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
  names.foreach { name =>
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.operators.Caches.release(spark)
      dt
    }
    println(f"[time] $name best=${reps.min}%.2f reps=${reps.map(r => f"$r%.2f").mkString(",")}")
    System.out.flush()
  }
  spark.stop()
}
