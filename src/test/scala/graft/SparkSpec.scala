package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: graft extensions (governance rule) and the
  * graft catalog are installed the way a production session would, so tests
  * exercise the same wiring Verify/Bench use.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** Run `f` with generated code only and again with interpreted
    * evaluation only, each under ANSI on and off.
    */
  protected def evalModes(f: => Unit): Unit =
    for ((factory, compiled) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false");
         ansi <- Seq("true", "false")) {
      val confs = Seq("spark.sql.codegen.factoryMode" -> factory,
        "spark.sql.codegen.wholeStage" -> compiled,
        // a generated-code compile failure must fail, not fall back quietly
        "spark.sql.codegen.fallback" -> (if (compiled == "true") "false" else "true"),
        "spark.sql.ansi.enabled" -> ansi)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try withClue(s"[$factory, ansi=$ansi] ")(f)
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }

  /** Rows from an RDD, so no optimizer rule folds the projection away. */
  protected def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.dir", "/root/testdata/sf0.001")
      // delegation allow-list is static-conf-only (set at context build, like
      // spark-defaults in production): this principal may impersonate ONLY
      // "analyst" — GovernanceSpec exercises both the grant and the denial
      .config(graft.plans.Users.DelegationKey,
        s"${System.getProperty("user.name")}:analyst")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
