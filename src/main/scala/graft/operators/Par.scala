package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
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
        case r: LogicalRDD => r
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

  /** THE materialization primitive: an eager `localCheckpoint()` of `df`,
    * returned as a plan leaf. Every intermediate an operator materializes
    * goes through here (or [[pinned]]); nothing else in the engine calls
    * `cache`, `persist` or `localCheckpoint`. Intermediates live in one
    * managed layer instead of per-operator choices (the Dremel shape).
    *
    * Placement rule — a pin is placed only where one of these holds:
    *  1. a loop re-reads its state: each round pins, so the plan does not
    *     deepen with the round count and each round reads the last from
    *     storage. [[iterate]] is this rule's one home;
    *  2. two or more consumers read a computed frame that exchange reuse
    *     does not share — a driver action plus the returned plan counts as
    *     two (an aggregate beside a self-join, a probe `collect` beside the
    *     result, units of [[inParallel]]);
    *  3. the rows must be fixed before an append (read-before-append): a
    *     result computed against a state dir is pinned before that dir
    *     grows, since a later read would see the grown state.
    * A single consumer, or consumers that ReuseExchange already shares
    * (both sides of one self-join), get no pin: copying costs a pass and
    * block storage for nothing.
    *
    * Pass-through: a frame that is already a leaf — an earlier pin, or a
    * plain file scan under Filters and bare-column Projects — comes back
    * unchanged. Re-reading such a frame with pruning is cheaper than
    * copying it into block storage.
    *
    * Why eager: under adaptive execution (on in every graft session) even
    * `localCheckpoint(eager = false)` is not lazy — building the
    * checkpoint's RDD plans the adaptive query, which runs every shuffle
    * stage below it there and then; only the final stage waits for the
    * first action. On Spark 4.1.2 (range → aggregate → aggregate,
    * `local[2]`) creating a lazy checkpoint ran 2 jobs with AQE on and 0
    * with it off. A lazy pin whose first readers are concurrent jobs (two
    * [[inParallel]] units, both sides of a join) computes the final stage
    * once per reader, and leaves plan state that the context cleaner may
    * reclaim under a running job. The eager pin runs it once, here.
    *
    * Partitions: a pin keeps the partitions adaptive execution gave its
    * final stage, so a small pin is coalesced to one partition, where a
    * Dataset cache keeps the planned count. A narrow pass over a small pin
    * runs in one task: FuzzyJoin's variant explode over its pinned
    * distinct strings is the measured case (ROADMAP item 3).
    *
    * Lifetime: a pin's blocks live until [[release]] (which Verify, Bench
    * and the benchmark call between queries through [[Caches.release]]),
    * or until its frame is unreachable and the context cleaner drops them;
    * [[pinned]] drops them at the end of a scope.
    *
    * No recompute: a checkpoint keeps no lineage, so a pin block that is
    * lost (an executor gone) or dropped fails the job that reads it
    * ("Checkpoint block not found") instead of being recomputed, where a
    * `cache` would recompute. Every graft session is `local[N]`, whose
    * blocks live in the driver; a cluster deployment trades that
    * resilience for the pin's flat plan.
    */
  def pin(df: DataFrame): DataFrame =
    if (isLeaf(df.queryExecution.optimizedPlan)) df
    else {
      val p = df.localCheckpoint()
      blocks(p).foreach(live.put(_, java.lang.Boolean.TRUE))
      p
    }

  /** The pin-per-round loop (rule 1 of [[pin]]): from `init`, run
    * `step(state, round)` for rounds 1 to `rounds` and [[pin]] each round's
    * result, so the plan does not deepen with the round count. `init` is
    * not pinned.
    *  - A step that returns its input (the same reference) has reached a
    *    fixed point: the loop ends there.
    *  - With `stable`, the loop ends at the first round whose (previous,
    *    pinned next) pair the probe accepts. A probe that has not held by
    *    `rounds` throws: the caller asked for a fixed point, and the last
    *    round is not one.
    */
  def iterate(init: DataFrame, rounds: Int,
      stable: Option[(DataFrame, DataFrame) => Boolean] = None)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    @annotation.tailrec
    def loop(state: DataFrame, round: Int): DataFrame =
      if (round > rounds) {
        if (stable.isDefined) throw new IllegalStateException(
          s"did not converge within $rounds rounds")
        state
      } else step(state, round) match {
        case next if next eq state => state
        case next =>
          val p = pin(next)
          if (stable.exists(_(state, p))) p else loop(p, round + 1)
      }
    loop(init, 1)
  }

  /** [[pin]] `df`, run `body` over the pinned frame, and drop the pin's
    * blocks when `body` returns or throws — for an operator that runs its
    * own actions (index and sidecar writes) over one shared intermediate.
    * Spark logs that the dropped checkpoint "cannot be recomputed after
    * unpersisting"; nothing may read the pinned frame after `body`.
    */
  def pinned[A](df: DataFrame)(body: DataFrame => A): A = {
    val p = pin(df)
    try body(p)
    finally if (p ne df) blocks(p).foreach(unpin)
  }

  /** Drop the blocks of every pin made in `spark`'s context that is still
    * held. Between queries only: a pinned frame read after its blocks are
    * gone fails (see [[pin]], "No recompute").
    */
  def release(spark: SparkSession): Unit =
    live.synchronized(live.keySet.asScala.toList)
      .filter(_.sparkContext eq spark.sparkContext)
      .foreach(unpin)

  /** The checkpoint RDD of every live pin, weakly held so an unreachable
    * pin stays the context cleaner's to drop.
    */
  private val live = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Boolean]())

  private def blocks(p: DataFrame): Seq[RDD[_]] =
    p.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }

  private def unpin(rdd: RDD[_]): Unit = {
    live.remove(rdd)
    rdd.unpersist(blocking = false)
  }

  private def isLeaf(plan: LogicalPlan): Boolean = plan match {
    case r: LogicalRDD => r.rdd.isCheckpointed
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _: DataSourceV2Relation => true
    case Filter(_, child) => isLeaf(child)
    case SubqueryAlias(_, child) => isLeaf(child)
    case Project(list, child) => list.forall {
      case _: Attribute => true
      case Alias(_: Attribute, _) => true
      case _ => false
    } && isLeaf(child)
    case _ => false
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
