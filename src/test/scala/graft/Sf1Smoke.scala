package graft

import org.apache.spark.sql.functions._

/** sf1 smoke (scale sanity for the heavy headline set): materialize ~10× the
  * sf0.1 fixtures for the tables the heaviest queries read — ten key-shifted
  * copies unioned, content otherwise identical — then time those queries.
  *
  * Content being identical across copies means every document, name, and
  * vector has ten exact clones: for the dedup/fuzzy/span operators, whose
  * work scales with the duplication they FIND, this is a deliberately
  * harsher-than-real-sf1 stress, so ~linear scaling here bounds
  * superlinearity on realistic sf1 from above.
  *
  * Key shifts stay inside int range (max 9 × 1e7 + native keys), and shifted
  * columns are cast back to their source types so schemas stay identical.
  * events.ts is written as the raw int64 nanos the nanosAsLong read yields —
  * `Tables` applies the same div-1000 truncation to either representation.
  *
  * sbt "Test/runMain graft.Sf1Smoke [srcDir] [outDir] [--fixtures-only]"
  *
  * Runs on `local[N]`, N = `SPARK_GRAFT_CPUS` (default 32).
  */
object Sf1Smoke {

  /** table -> key columns shifted per copy (FK partners shift together). */
  private val shifted: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "events" -> Seq("event_id", "user_id"))

  /** The round-6 bench's heaviest queries (judge steady-state ranking), plus
    * the round-7 session-2 operators whose scaling is worth pinning: z-order
    * (narrow interleave + range write), reference-model bigram scoring (model
    * exchange + broadcast-join score), canonical selection (argmax ∝
    * duplication found — the 10-clone fixture is its stress case), shard
    * shuffle (one keyed exchange), and the batch rerank (index build + DPP
    * probe + keyed refinement at 10× vectors).
    */
  private val smoke = Seq(
    "q1_agg", "q_asof_join", "q_dedup_minhash", "q_dedup_clusters",
    "q_dedup_semantic", "q_pipeline_neardedup", "q_multimodal_meta",
    "q_dup_spans", "q_despan", "q_pipeline_clean", "q_fuzzy_join2",
    "q_zorder", "q_bigram_lm_ref", "q_dedup_canonical", "q_shard_assign",
    "q_ivfpq_rerank_batch", "q_image_phash_pairs", "q_image_dedup",
    // round-8 web front half + trained models: the composed crawl chain (url
    // dedup is a min-agg, extraction narrow), the 3-iteration GD classifier
    // (per-iteration corpus passes over cached features), and the trigram
    // profile ranker (per-doc window + broadcast profiles)
    "q_pipeline_web", "q_quality_clf", "q_text_langid2",
    // round-9: the graph pair (host-keyed joins/aggregates at 10× edges),
    // containment (prefix-probe volume at 10× with ten exact clones of every
    // doc — the pathological containment-clique case), the classifier AUC
    // (codomain-bounded window at 10× scores), and the crawl chain with the
    // robots + blocklist gates composed in
    "q_pagerank", "q_dedup_containment", "q_clf_auc", "q_pipeline_crawl2",
    "q_tag_docs",
    // round-10 cont.: the selection/strata pair (bucket-weight broadcast +
    // per-doc sums; LM chain + codomain window at 10× docs), the community
    // rounds at 10× the host graph, and the novelty key join with ten
    // exact clones of every reference shingle
    "q_dsir", "q_ccnet_buckets", "q_lpa", "q_ngram_novelty")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val spark = GraftSession.builder(GraftSession.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (t <- graft.sources.Tables.names) {
      val dst = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      if (!fs.exists(dst)) {
        val df = spark.read.parquet(s"$src/$t.parquet")
        val scaled = shifted.get(t) match {
          case Some(keys) =>
            (0 until 10).map { i =>
              keys.foldLeft(df) { (d, k) =>
                d.withColumn(k,
                  (col(k) + lit(10000000L * i)).cast(d.schema(k).dataType))
              }
            }.reduce(_ unionByName _)
          case None => df // small dims verbatim
        }
        scaled.write.mode("overwrite").parquet(dst.toString)
        println(s"[sf1] wrote $t: ${spark.read.parquet(dst.toString).count()} rows")
      }
    }

    if (args.contains("--fixtures-only")) { spark.stop(); return }

    // two reps: rep1 carries codegen/JIT warmup, rep2 is the number to
    // compare against the recorded sf0.1 steady state (expect ~10× or the
    // documented duplication-stress factor, never ~100×); q_count_star
    // warms the session first
    Inspect.timeQueries(spark, out, "q_count_star" +: smoke, reps = 2)
    spark.stop()
  }
}
