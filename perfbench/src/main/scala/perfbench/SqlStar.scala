package perfbench

import scala.util.Random

import graft.plans.{ColumnMask, GovernancePolicies, TablePolicy}

/** A short governed SQL query: one Spark SQL text and its DuckDB oracle, both
  * drawn from a finite literal domain so every expected digest can be
  * precomputed.
  */
final case class Template(name: String, domain: Seq[Seq[String]],
    spark: Seq[String] => String, oracle: Seq[String] => String) {
  def key(lits: Seq[String]): String = (name +: lits).mkString("|")
  def instances: Seq[Seq[String]] =
    domain.foldLeft(Seq(Seq.empty[String]))((acc, d) => for (a <- acc; v <- d) yield a :+ v)
}

/** Interactive analysts on a governed star schema: 2 closed-loop clients run
  * short SQL templates through `spark.sql` against the `graft` catalog.
  */
object SqlStar {

  /** The policy every client sees on `customer`: one column dropped, one
    * masked, and a row filter. The oracle restates it as a view.
    */
  val policy = TablePolicy(
    dropColumns = Seq("c_name"),
    masks = Seq(ColumnMask("c_acctbal", "floor(c_acctbal / 1000) * 1000")),
    rowFilterSql = Some("c_custkey % 7 <> 0"))
  val governedCustomerOracle =
    "SELECT c_custkey, c_nationkey, floor(c_acctbal / 1000) * 1000 AS c_acctbal, " +
      "c_mktsegment FROM customer WHERE c_custkey % 7 <> 0"

  private val years = (1995 to 2000).map(_.toString)
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private def revenue(e: String) =
    s"CAST(round(sum(CAST($e AS DECIMAL(30,8))), 2) * 100 AS BIGINT)"

  /** Nominal time of one block at 4 cores; it converts `--seconds` into a
    * fixed block count, so a run's work does not depend on how fast it ran.
    */
  val BlockSeconds = 6.0

  val templates: Seq[Template] = Seq(
    Template("q1_agg", Seq(Seq("1996-06-30", "1997-06-30", "1998-09-02", "1999-12-31", "2000-06-30")),
      l => s"""SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |${revenue("l_extendedprice")} AS base_c2,
        |${revenue("l_extendedprice * (1 - l_discount)")} AS disc_c2, count(*) AS n
        |FROM graft.main.lineitem WHERE l_shipdate <= TIMESTAMP '${l(0)}'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
      l => s"""SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |${revenue("l_extendedprice")} AS base_c2,
        |${revenue("l_extendedprice * (1 - l_discount)")} AS disc_c2, count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '${l(0)}'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Template("q3_topk", Seq(segments),
      l => s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |${revenue("l_extendedprice * (1 - l_discount)")} AS revenue_c2
        |FROM graft.main.customer JOIN graft.main.orders ON c_custkey = o_custkey
        |JOIN graft.main.lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = '${l(0)}' GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_c2 DESC, o_orderkey LIMIT 10""".stripMargin,
      l => s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |${revenue("l_extendedprice * (1 - l_discount)")} AS revenue_c2
        |FROM gcustomer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = '${l(0)}' GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_c2 DESC, o_orderkey LIMIT 10""".stripMargin),

    Template("q5_join", Seq(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
      l => s"""SELECT n_name, ${revenue("l_extendedprice * (1 - l_discount)")} AS revenue_c2,
        |count(*) AS n FROM graft.main.region
        |JOIN graft.main.nation ON n_regionkey = r_regionkey
        |JOIN graft.main.customer ON c_nationkey = n_nationkey
        |JOIN graft.main.orders ON o_custkey = c_custkey
        |JOIN graft.main.lineitem ON l_orderkey = o_orderkey
        |JOIN graft.main.supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |WHERE r_name = '${l(0)}' GROUP BY n_name""".stripMargin,
      l => s"""SELECT n_name, ${revenue("l_extendedprice * (1 - l_discount)")} AS revenue_c2,
        |count(*) AS n FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN gcustomer ON c_nationkey = n_nationkey JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |WHERE r_name = '${l(0)}' GROUP BY n_name""".stripMargin),

    Template("q6_filter", Seq(years, Seq("0.02", "0.05", "0.08")),
      l => q6(l, "graft.main.lineitem"), l => q6(l, "lineitem")),

    Template("q_broadcast_join", Seq(Seq("1", "11", "21", "31", "41")),
      l => s"""SELECT /*+ BROADCAST(p) */ p_brand,
        |${revenue("l_extendedprice * (1 - l_discount)")} AS revenue_c2, count(*) AS n
        |FROM graft.main.lineitem l JOIN graft.main.part p ON l_partkey = p_partkey
        |WHERE p_size >= ${l(0)} AND p_size < ${l(0).toInt + 10} GROUP BY p_brand""".stripMargin,
      l => s"""SELECT p_brand, ${revenue("l_extendedprice * (1 - l_discount)")} AS revenue_c2,
        |count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size >= ${l(0)} AND p_size < ${l(0).toInt + 10} GROUP BY p_brand""".stripMargin),

    Template("q_window_running", Seq(Seq("0", "3000", "6000", "9000", "12000")),
      l => windowRunning(l, "graft.main.orders"), l => windowRunning(l, "orders")),

    Template("q_agg_distinct", Seq(years),
      l => aggDistinct(l, "graft.main.lineitem"), l => aggDistinct(l, "lineitem")),

    Template("q_count_pushdown", Seq(Seq("lineitem", "orders", "part", "supplier", "nation")),
      l => s"SELECT count(*) AS n FROM graft.main.${l(0)}",
      l => s"SELECT count(*) AS n FROM ${l(0)}"),

    // events goes through graft.sources.Tables (its timestamp column needs
    // the adaptive read), registered as a temp view at set-up
    Template("q_events_window", Seq(Seq("click", "error", "purchase", "signup", "view"),
      Seq("0", "3", "7")),
      l => s"""SELECT user_id, event_id,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn,
        |unix_micros(ts) - unix_micros(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |  AS gap_us
        |FROM events WHERE event_type = '${l(0)}' AND user_id % 10 = ${l(1)}""".stripMargin,
      l => s"""SELECT user_id, event_id,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn,
        |epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |  AS gap_us
        |FROM events WHERE event_type = '${l(0)}' AND user_id % 10 = ${l(1)}""".stripMargin),

    Template("q_governed_customer", Seq((0 until 25).map(_.toString)),
      l => s"SELECT * FROM graft.main.customer WHERE c_nationkey = ${l(0)}",
      l => s"SELECT * FROM gcustomer WHERE c_nationkey = ${l(0)}"))

  private def q6(l: Seq[String], t: String): String = {
    val d = BigDecimal(l(1))
    s"""SELECT ${revenue("l_extendedprice * l_discount")} AS revenue_c2, count(*) AS n
      |FROM $t WHERE l_shipdate >= TIMESTAMP '${l(0)}-01-01'
      |AND l_shipdate < TIMESTAMP '${l(0).toInt + 1}-01-01'
      |AND l_discount BETWEEN ${d - BigDecimal("0.01")} AND ${d + BigDecimal("0.01")}
      |AND l_quantity < 24""".stripMargin
  }

  private def windowRunning(l: Seq[String], t: String): String =
    s"""SELECT o_custkey, o_orderkey,
      |CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,8))) OVER (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
      |  * 100 AS BIGINT) AS running_c2
      |FROM $t WHERE o_custkey >= ${l(0)} AND o_custkey < ${l(0).toInt + 300}""".stripMargin

  private def aggDistinct(l: Seq[String], t: String): String =
    s"""SELECT l_returnflag, count(DISTINCT l_partkey) AS nparts,
      |count(DISTINCT l_suppkey) AS nsupps FROM $t
      |WHERE l_shipdate >= TIMESTAMP '${l(0)}-01-01'
      |AND l_shipdate < TIMESTAMP '${l(0).toInt + 1}-01-01' GROUP BY l_returnflag""".stripMargin
}

class SqlStar extends Workload {
  import SqlStar._

  /** Registers the policy and the events view, then loads every table's
    * metadata through the catalog. A policy change bumps the governance
    * epoch, which keys the catalog's metadata cache, so every repetition
    * starts from a cold cache.
    */
  override def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    GovernancePolicies.clear()
    GovernancePolicies.register("customer", policy)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    graft.sources.Tables(spark, ctx.dataDir, "events").createOrReplaceTempView("events")
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
      .foreach(t => spark.table(s"graft.main.$t").schema)
  }

  /** Untimed and checked warm-up: every client runs every template once,
    * on its first literals.
    */
  override def prepare(ctx: Ctx): Unit = {
    setup(ctx, 0)
    parallel(ctx.clients) { _ =>
      templates.foreach { t =>
        val lits = t.domain.map(_.head)
        val (cols, rows) = ctx.collect(ctx.spark.sql(t.spark(lits)))
        ctx.expected.check("sql_star", t.key(lits), cols, rows)
          .foreach(e => sys.error(s"warm-up check of ${t.key(lits)} failed: $e"))
      }
    }
  }

  /** Runs `body(c)` on one thread per client and waits for all of them;
    * the first failure is rethrown.
    */
  private def parallel(clients: Int)(body: Int => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until clients).map { c =>
      new Thread(() => try body(c) catch { case e: Throwable => failure.compareAndSet(null, e) },
        s"sql-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }

  /** Each client runs the same number of blocks, every template once per
    * block in a seeded order with seeded literals, so every seed measures
    * the same template mix and the same stretch of JVM warm-up. The block
    * count is `--seconds` over [[BlockSeconds]].
    */
  override def run(ctx: Ctx, deadlineNs: Long): Unit = {
    val blocks = math.max(1, math.round((deadlineNs - System.nanoTime()) / 1e9 / BlockSeconds).toInt)
    parallel(ctx.clients) { c =>
      val rng = new Random(ctx.seed * 1000003L + c)
      for (_ <- 1 to blocks; t <- rng.shuffle(templates)) {
        val lits = t.domain.map(d => d(rng.nextInt(d.size)))
        ctx.op("sql", t.name, c)(ctx.collect(ctx.spark.sql(t.spark(lits)))) {
          case (cols, rows) => ctx.expected.check("sql_star", t.key(lits), cols, rows)
        }
      }
    }
  }
}
