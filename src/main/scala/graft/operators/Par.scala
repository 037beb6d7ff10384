package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.spark_partition_id

/** Scale-adaptive parallelism guard for expensive narrow kernels (r15
  * optimization round, guide §2.5 "input skew: one huge unsplittable file —
  * repartition immediately after the read").
  *
  * The per-row cost of the text/vector kernels (shingling + numPerm
  * minhashes, char-ngram explosion, HTML stripping, phash decode, PQ
  * encode) dwarfs their input bytes by orders of magnitude. When such a
  * kernel's input is a SMALL parquet file, Spark's split planning hands the
  * whole scan to one task (a 600 KB file is one split — and one row group,
  * so file splitting cannot help either) and the kernel runs on 1 of N
  * cores while N-1 idle; measured on this suite, single-task stages of
  * 3-7 s each dominated every dedup/text query at sf0.1.
  *
  * `spread` inserts a round-robin repartition to the session's default
  * parallelism ONLY when the optimizer's size estimate says the input is
  * small (default < 256 MiB, conf `graft.spread.max_bytes`). At 100 TB the
  * estimate is huge, the guard is a no-op, and no shuffle is added — the
  * scan is already parallel there; shuffling tiny inputs costs KBs. This is
  * the scale-adaptive form the optimization guide asks for instead of a
  * constant tuned for either local mode or the cluster.
  *
  * Results are unaffected: every consumer is key-based (aggregate / join /
  * window-by-key), never partition-order-sensitive, and the round-robin
  * assignment is deterministic under retries (sortBeforeRepartition).
  */
object Par {

  private val MaxBytesKey = "graft.spread.max_bytes"
  private val DefaultMaxBytes = 256L * 1024 * 1024

  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    if (cores <= 2) return df
    // malformed conf falls back to the default instead of failing every
    // operator that spreads (ADVICE r15), consistent with the try-wrapped
    // plan/stats accesses below
    val maxBytes = spark.conf.getOption(MaxBytesKey)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(DefaultMaxBytes)
    if (maxBytes <= 0) return df
    // Fire ONLY on narrow chains over source scans — the single-small-file
    // scan is the serial stage this guard exists for. An input that already
    // crossed a shuffle (join/aggregate/window/sort/repartition/distinct) or
    // rides a checkpointed/cached RDD is partitioned by that boundary, and
    // spreading it again measured WORSE on the composed pipelines: each call
    // added an exchange plus a full optimizer pass over the deep subtree
    // (r15 mid-round bench: q_pipeline_e2e_incremental +3.2 s before this
    // gate). Walking the (already-)analyzed plan costs nothing.
    val boundary = {
      import org.apache.spark.sql.catalyst.plans.logical._
      df.queryExecution.analyzed.collectFirst {
        case p @ (_: Join | _: Aggregate | _: Window | _: Sort |
          _: RepartitionOperation | _: Deduplicate | _: GlobalLimit |
          _: LocalLimit) => p
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }
    }
    if (boundary.isDefined) return df
    val opt =
      try df.queryExecution.optimizedPlan
      catch { case _: Exception => return df }
    if (opt.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isDefined) return df
    val est = try opt.stats.sizeInBytes catch { case _: Exception => return df }
    if (est < maxBytes)
      // the `spark_partition_id() >= 0` fence is a non-deterministic
      // always-true filter: predicate pushdown may not reorder across it, so
      // a caller's filter on an EXPENSIVE derived column (a gate verdict, a
      // shingle array) cannot be dragged below the exchange and re-evaluated
      // serially on the single scan task (guide §4.4's duplicated-evaluation
      // trap, Catalyst-expression edition). Costs one codegen'd comparison
      // per row; column pruning still reaches the scan through it.
      df.repartition(cores).where(spark_partition_id() >= 0)
    else df
  }

  /** Materialize a frame once (a localCheckpoint) when its lineage is
    * COMPUTED — contains a join/aggregate/window/distinct — so an operator
    * that consumes it several times neither recomputes the subtree per
    * consumer nor replays Catalyst analysis/optimization over N copies of it
    * (guide §3.3: very wide plans make planning itself the bottleneck —
    * "materialising an intermediate result (write + read back, or
    * localCheckpoint) truncates the plan"; measured here: a 20 s
    * q_dedup_semantic_retract run whose stage wall-sum was 7 s — the rest
    * was the driver re-planning the state subtree per consumer). A
    * scan-chain input (a parquet-backed state table) passes through
    * untouched: re-scanning cheap source bytes with pruning beats copying
    * them into block storage. Rows are unchanged — only where they are read
    * from the second time.
    *
    * `eager = false` does not make the pin lazy under adaptive execution
    * (on in every graft session): building the checkpoint's RDD plans the
    * adaptive query, and that runs every shuffle stage below it there and
    * then. Only the final stage waits for the first action. On Spark 4.1.2
    * (range → aggregate → aggregate, `local[2]`) creating the checkpoint ran
    * 2 jobs with AQE on and 0 with it off. So every pin, here and at the
    * operators' own `localCheckpoint(eager = false)` sites, pays its
    * subtree's shuffles where it is created, not where it is read.
    */
  def sever(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val deep =
      try df.queryExecution.analyzed.collectFirst {
        case p @ (_: Join | _: Aggregate | _: Window | _: Deduplicate) => p
      }.isDefined
      catch { case _: Exception => false }
    if (deep) df.localCheckpoint(eager = false) else df
  }

  /** Run independent side-effecting Spark actions concurrently (guide §2.6
    * "overlap independent jobs"): the scheduler happily runs jobs from
    * several driver threads, and FIFO scheduling back-fills one job's
    * straggler tail with the next job's tasks. Callers must pass units that
    * touch DISJOINT state (different state dirs / output paths). Rethrows
    * the first failure with its original type.
    */
  def inParallel(units: (() => Unit)*): Unit = {
    if (units.sizeIs <= 1) { units.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(units.size)
    try {
      val futs = units.map(u => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = u()
      }))
      // await EVERY future before the pool dies — shutdownNow on first
      // failure would interrupt still-running sibling writes mid-file
      // (ADVICE r15); collect the first failure and rethrow it after all
      // units have finished or failed on their own
      var firstFailure: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null) firstFailure = e.getCause
          case e: Throwable =>
            if (firstFailure == null) firstFailure = e
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdownNow()
  }
}
