package graft

import java.nio.file.Files

import org.apache.spark.sql.ListenerProbe
import org.apache.spark.sql.functions._

/** `Inspect.record`: the one listener pair behind plan dumps, stage tables
  * and byte counts.
  */
class InspectSpec extends SparkSpec {

  test("record returns the plans an operator runs inside itself") {
    try {
      // q_lpa pins each of its 3 label rounds: one row_number vote each
      val lpa = Inspect.record(spark)(SparkEntry.queries("q_lpa")(spark, sfDir))
      assert(lpa.plans.count(_.contains("row_number")) >= 3,
        s"label rounds missing:\n${lpa.plans.mkString("\n")}")
      // mmrTopKBatch collects its candidate pools, ranked per query
      val mmr = Inspect.record(spark)(SparkEntry.queries("q_mmr_batch")(spark, sfDir))
      assert(mmr.plans.exists(_.contains("WindowGroupLimit")),
        s"pool ranking missing:\n${mmr.plans.mkString("\n")}")
      assert(mmr.jobs > 0 && mmr.stages.nonEmpty)
      assert(!(lpa.plans ++ mmr.plans).exists(_.contains("inspect_marker_")),
        "the drain's marker query must not be recorded")
    } finally graft.operators.Caches.release(spark)
  }

  test("the same body recorded twice gives the same task, input and output counts") {
    val dir = Files.createTempDirectory("inspect_same").toString
    def body(i: Int): Unit = graft.sources.Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
      .write.parquet(s"$dir/out$i")
    val Seq(a, b) = (1 to 2).map(i => Inspect.record(spark)(body(i)))
    assert(a.tasks > 0 && a.inputBytes > 0 && a.outputBytes > 0, a)
    assert((a.tasks, a.inputBytes, a.outputBytes) == (b.tasks, b.inputBytes, b.outputBytes))
  }

  test("a first-seen query compiles generated code; the compile count says so") {
    // a literal no earlier query used makes the generated code new
    val salt = scala.util.Random.nextInt(1 << 30)
    val r = Inspect.record(spark)(spark.range(100).selectExpr(s"id * 3 + $salt AS v")
      .where("v % 7 = 1").collect())
    assert(r.compiles >= 1, r)
  }

  test("timeQueries returns the queries that failed") {
    assert(Inspect.timeQueries(spark, sfDir, Seq("q_count_star", "q_no_such_query"), 1) ==
      Seq("q_no_such_query"))
  }

  test("the listeners are removed after a body that throws") {
    val before = ListenerProbe.count(spark)
    var during = (0, 0)
    val e = intercept[IllegalStateException] {
      Inspect.record(spark) {
        during = ListenerProbe.count(spark)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(during == ((before._1 + 1, before._2 + 1)))
    assert(ListenerProbe.count(spark) == before)
  }
}
