package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter for local iteration
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.builder(GraftSession.cpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.observability.AuditListener.install(spark)
    new java.io.File(outDir).mkdirs()
    // Oracle-contract pre-flight: many DuckDB oracles unnest word/char/line
    // arrays via `range(1, 100000)`, which silently truncates docs past that
    // bound while the Spark engine is unbounded. Assert the fixture-length
    // assumption here so fixture drift shows as a LOUD verify failure, not a
    // quiet hash mismatch.
    try {
      import org.apache.spark.sql.functions._
      val lim = graft.sources.Tables(spark, sfDir, "documents")
        .select(greatest(
          max(length(col("text"))),
          max(size(split(col("text"), "\\s+")))).as("m"))
        .head().getInt(0)
      require(lim < 99999,
        s"documents fixture exceeds the oracle unnest bound: max len/words $lim >= 99999")
    } catch {
      case e: IllegalArgumentException => throw e
      case e: Throwable =>
        System.err.println(s"[verify] fixture pre-flight skipped: ${e.getMessage}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop the pins this query's operators made (see Caches)
      graft.operators.Caches.release(spark)
    }
    val json = graft.catalog.Sidecar.render(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
