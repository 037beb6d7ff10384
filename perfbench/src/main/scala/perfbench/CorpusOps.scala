package perfbench

import java.io.File

import scala.util.Random

import graft.SparkEntry
import graft.operators.Caches

/** LLM-data operators: one client makes fixed passes over headline operator
  * queries from `SparkEntry.queries`. Each op builds its query, runs it,
  * and releases the caches it left (`Caches.release`), so no op reuses
  * another's. The seed sets the order of every pass.
  */
object CorpusOps {
  /** Operator families: dedup, vector, text and graph. The pass is sized
    * to about 30 s at 4 cores; README.md lists the headline ops left out and
    * why.
    */
  val ops: Seq[String] = Seq(
    "q_dedup_minhash",
    "q_sim_topk", "q_sim_range", "q_pq_topk_batch", "q_mmr_batch",
    "q_bm25_batch", "q_ngram_novelty",
    "q_lpa")

  /** Run once, untimed and checked, before the measured pass: they warm
    * the JVM so the seeded order does not decide which op pays for it.
    */
  val warmup: Seq[String] = Seq("q_mmr_batch", "q_ngram_novelty")

  /** Relative state directories the corpus queries create in the working
    * directory; cleared before every pass so each pass starts empty.
    */
  def clearState(): Unit = deleteTree(new File("target"))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

class CorpusOps extends Workload {
  import CorpusOps._

  private var passes = Seq.empty[Double]

  override def setup(ctx: Ctx, rep: Int): Unit = {
    // fixture footers and temp views, as the SQL-corpus queries expect them
    graft.sources.Tables.registerAll(ctx.spark, ctx.dataDir)
    graft.sources.Tables.names.foreach { n =>
      graft.sources.Tables(ctx.spark, ctx.dataDir, n).schema
    }
    clearState()
  }

  override def prepare(ctx: Ctx): Unit = {
    setup(ctx, 0)
    warmup.foreach { name =>
      val (cols, rows) = ctx.collect(SparkEntry.queries(name)(ctx.spark, ctx.dataDir))
      Caches.release(ctx.spark)
      ctx.expected.check("corpus_ops", name, cols, rows)
        .foreach(e => sys.error(s"warm-up check of $name failed: $e"))
    }
    clearState()
  }

  /** Makes one pass, then more while another is expected to end before
    * the deadline, so the pass count does not flip between runs whose pass
    * time sits near `--seconds`.
    */
  override def run(ctx: Ctx, deadlineNs: Long): Unit = {
    val rng = new Random(ctx.seed)
    val all = SparkEntry.queries
    var done = Seq.empty[Double]
    var last = 0L
    do {
      clearState()
      val order = rng.shuffle(ops)
      val p0 = System.nanoTime()
      order.foreach { name =>
        ctx.op("operator", name, 0) {
          val sc = ctx.spark.sparkContext
          val seen = if (sc.getPersistentRDDs.isEmpty) -1 else sc.getPersistentRDDs.keys.max
          try ctx.collect(all(name)(ctx.spark, ctx.dataDir))
          finally {
            ctx.tracer.foreach(_.count("operators.materializations",
              sc.getPersistentRDDs.keys.count(_ > seen)))
            ctx.span("operators", "release")(Caches.release(ctx.spark))
          }
        } { case (cols, rows) => ctx.expected.check("corpus_ops", name, cols, rows) }
      }
      last = System.nanoTime() - p0
      done :+= last / 1e9
    } while (System.nanoTime() + last < deadlineNs)
    passes = done
  }

  override def finish(ctx: Ctx): Unit = {
    ctx.extra("pass_s") = passes
    clearState()
  }
}
