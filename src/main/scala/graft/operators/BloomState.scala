package graft.operators

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Persisted Bloom-filter sidecar over a dedup state's fingerprint column —
  * the membership sketch that makes [[Dedup.exactIncrementalBloom]]'s
  * per-batch cost O(batch) instead of O(state).
  *
  * Why it exists: [[Dedup.exactIncremental]]'s anti-join hash-partitions
  * BOTH sides on the fingerprint — at the 100 TB design point the history
  * side alone shuffles ~16 B × 10⁹ docs every batch, a recurring state-sized
  * exchange for batches that are mostly NEW content. A Bloom filter over the
  * state's fingerprints answers "definitely unseen" for the overwhelming
  * majority of a fresh crawl batch without touching the state at all; only
  * the maybe-set (true duplicates + the configured false-positive fraction
  * of the batch) still needs the exact check, and a batch-sized maybe-set
  * keeps that check broadcast-shaped. False positives cost only extra exact
  * work — they can never change the result — so the sidecar's fpp is purely
  * a performance knob. False NEGATIVES would break correctness, hence the
  * hard sidecar contract: it must be written/appended in the same commit
  * step as the fingerprint state itself (the [[TextAnalysis.bm25IndexWrite]]
  * stats-sidecar discipline), never reconstructed lazily.
  *
  * Build shape: `stat.bloomFilter` aggregates one partial filter per
  * partition and OR-merges them up a tree — one distributed pass over the
  * state, driver holds only the final bit array. [[append]] builds the
  * batch's filter the same way with the SIDEcar's recorded (expectedItems,
  * fpp) — identical geometry, so the bitwise OR merge is exact — making
  * sidecar maintenance O(batch) forever; the state is never re-scanned.
  * At 10⁹ expected items and fpp 10⁻³ the bit array is ~1.7 GB: large but
  * broadcast-once per batch, versus a state-sized shuffle EVERY batch, and
  * fpp 10⁻² halves it. The sidecar file is rename-swapped into place so a
  * crash leaves either the old or the new filter readable, never a torn one.
  */
object BloomState {

  private val Magic = 0x42463031 // "BF01"

  private def fsAt(spark: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** One distributed pass: a per-partition filter built where the data is,
    * OR-merged up a depth-2 tree. NOT `df.stat.bloomFilter` — in Spark 4
    * that path silently clamps the filter to 2^26 bits (the runtime-filter
    * `maxNumBits` default), which at 2×10⁷ items degrades a requested
    * fpp = 10⁻³ to ~0.7 with no error — measured, not theoretical. The
    * partials are created INSIDE each task (a zero-value in a closure would
    * ship the full bit array to every task instead of once per merge edge).
    */
  private def build(fps: DataFrame, fpCol: String, expectedItems: Long,
      fpp: Double): BloomFilter = {
    import org.apache.spark.sql.functions.col
    val rdd = fps.select(col(fpCol).cast("string")).na.drop()
      .rdd.map(_.getString(0))
    if (rdd.getNumPartitions == 0) return BloomFilter.create(expectedItems, fpp)
    rdd.mapPartitions { it =>
      val bf = BloomFilter.create(expectedItems, fpp)
      it.foreach(bf.putString)
      Iterator.single(bf)
    }.treeReduce((a, b) => { a.mergeInPlace(b); a }, depth = 2)
  }

  /** Build the sidecar from the full fingerprint state and rename-swap it
    * into place at `path`. `expectedItems` should be the state's projected
    * lifetime cardinality — the filter's geometry is fixed at creation and
    * [[append]] reuses it, so undersizing degrades fpp as the state grows
    * (a performance, not correctness, regression).
    */
  def write(state: DataFrame, fpCol: String, path: String,
      expectedItems: Long, fpp: Double = 0.001): Unit = {
    require(expectedItems >= 1, "expectedItems must be positive")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    val bf = build(state, fpCol, expectedItems, fpp)
    swapIn(state.sparkSession, path, expectedItems, fpp, bf)
  }

  /** OR-merge one batch's fingerprints into the existing sidecar — O(batch)
    * work: the batch filter is built with the sidecar's recorded geometry
    * (same bits, same hash count) so `mergeInPlace` is the exact set union.
    */
  def append(spark: SparkSession, path: String, batchFps: DataFrame,
      fpCol: String): Unit = {
    val (expected, fpp, bf) = readWithMeta(spark, path)
    bf.mergeInPlace(build(batchFps, fpCol, expected, fpp))
    swapIn(spark, path, expected, fpp, bf)
  }

  /** The deserialized filter, ready to broadcast. */
  def read(spark: SparkSession, path: String): BloomFilter =
    readWithMeta(spark, path)._3

  private def readWithMeta(spark: SparkSession,
      path: String): (Long, Double, BloomFilter) = {
    val (fs, p) = fsAt(spark, path)
    require(fs.exists(p), s"no Bloom sidecar at $path — build it with " +
      "BloomState.write in the same commit step as the fingerprint state")
    val in = new DataInputStream(fs.open(p))
    try {
      require(in.readInt() == Magic, s"$path is not a Bloom sidecar")
      val expected = in.readLong()
      val fpp = in.readDouble()
      (expected, fpp, BloomFilter.readFrom(in))
    } finally in.close()
  }

  /** Write to `<path>.next` and [[graft.catalog.Swap.replace]] it over
    * `path` through the `<path>.old` aside.
    */
  private def swapIn(spark: SparkSession, path: String, expectedItems: Long,
      fpp: Double, bf: BloomFilter): Unit = {
    val (fs, p) = fsAt(spark, path)
    val next = new Path(s"$path.next")
    val out = new DataOutputStream(fs.create(next, true))
    try {
      out.writeInt(Magic)
      out.writeLong(expectedItems)
      out.writeDouble(fpp)
      bf.writeTo(out)
    } finally out.close()
    graft.catalog.Swap.replace(fs, next, p, new Path(s"$path.old"))()
  }
}
