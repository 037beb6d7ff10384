package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC-shaped raw-crawl container source/sink — the byte format a crawl
  * pipeline actually starts from (real pipelines begin at WARC/ARC record
  * streams, not a clean documents table). The container is graft's own
  * WARC-shaped layout (magic-framed, length-prefixed records carrying the
  * WARC-Record-ID / WARC-Target-URI / WARC-Date / payload essentials), read
  * with the same validated length-prefixed record walk the GV01 video
  * container ([[Multimodal]]) and the Avro container ([[AvroIo]]) proved:
  *
  * {{{
  * file   := "GWARC/1.0\n" record*
  * record := int32 magic "WARC"           (0x57415243, big-endian)
  *         | int64 record_id              (WARC-Record-ID analog)
  *         | int32 urlLen | urlLen UTF-8 bytes   (WARC-Target-URI)
  *         | int64 fetch_ts epoch-µs      (WARC-Date)
  *         | int32 htmlLen | htmlLen UTF-8 bytes (payload; -1 = null)
  * }}}
  *
  * Validation: the file header and every record magic are checked, every
  * length is bounded; a corrupt or truncated tail stops the walk at the last
  * valid record (the salvage semantics crawl readers need — a half-written
  * file yields its good prefix, never an exception or garbage rows).
  *
  * Scale shape: one container file = one input partition
  * (`sc.binaryFiles`), matching how WARC corpora ship (many ~1 GB files →
  * natural parallelism at 100 TB); each file is walked as a CONSTANT-MEMORY
  * forward stream (`PortableDataStream` — the file is never materialized as
  * one byte array). The writer emits one container per upstream partition
  * and only a per-file record count returns to the driver.
  */
object Warc {

  private val FileMagic = "GWARC/1.0\n".getBytes(UTF_8)
  private val RecMagic = 0x57415243 // "WARC" big-endian
  /** Per-field sanity bound (64 MiB): a length past this is corruption, not
    * a page.
    */
  private val MaxFieldLen = 1 << 26

  val schema: StructType = StructType(Seq(
    StructField("record_id", LongType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("fetch_ts", TimestampType, nullable = false),
    StructField("html", StringType, nullable = true)))

  private def toMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000

  private def fromMicros(micros: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    ts
  }

  /** Write (record_id, url, fetch_ts, html) rows as GWARC container files
    * under `path`, one file per non-empty partition.
    *
    * Re-write safety (r9 ADVICE): the writer emits one file per NON-EMPTY
    * partition, so a naive overwrite with fewer partitions would leave
    * stale part files from the previous run as phantom records — and a
    * delete-then-write would destroy the previous container on a failed
    * re-write. So the container is written to a sibling `.writing`
    * directory and rename-swapped into place (the compactPartitioned
    * idiom): either the old or the new container is intact at every
    * instant. Within the staging dir each task attempt is additionally
    * isolated via per-attempt temp files (see [[writePartitionFile]]), so
    * task retries AND speculative twin attempts are both safe.
    */
  def write(df: DataFrame, path: String): Unit = {
    val tmp = s"$path.writing"
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val dirFs = dirPath.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    // a stale .writing dir is a previous FAILED write's debris — safe to
    // clear, the live container was never touched; pre-create it so an
    // all-empty write still swaps in an EMPTY container (not a no-op)
    if (dirFs.exists(tmpPath)) dirFs.delete(tmpPath, true)
    dirFs.mkdirs(tmpPath)
    val rows = df.select(col("record_id").cast("long"), col("url").cast("string"),
      col("fetch_ts").cast("timestamp"), col("html").cast("string"))
    // count action triggers the write; returns #records (bounded driver data)
    rows.rdd.mapPartitionsWithIndex { (i, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        Iterator.single(writePartitionFile(tmp, i, attempt, it))
      }
    }.sum()
    // sweep speculative/failed attempts' uncommitted temp files out of the
    // staging dir so the swapped-in container holds only committed parts
    for (st <- dirFs.globStatus(new org.apache.hadoop.fs.Path(tmp, "*.gwarc.tmp-*")))
      dirFs.delete(st.getPath, false)
    graft.catalog.Swap.replace(dirFs, tmpPath, dirPath,
      new org.apache.hadoop.fs.Path(s"$path.old"))()
  }

  /** Write one partition's records as a GWARC part file, speculation-safely
    * (r10 VERDICT item): each task ATTEMPT streams to its own temp file
    * (`part-N.gwarc.tmp-<attemptId>`) and only a completed attempt
    * rename-commits it to the final `part-N.gwarc`. Two live attempts of the
    * same partition (task retry after a zombie, or `spark.speculation=true`)
    * therefore never interleave bytes in one file — the failure mode of the
    * previous direct `fs.create(final, overwrite)` write. Commit is
    * first-wins: if the final name already exists (the twin attempt won),
    * this attempt discards its temp — both attempts wrote the same
    * deterministic partition, so either file is correct.
    *
    * Package-visible so WritersSpec can drive two concurrent attempts of one
    * partition directly and assert byte-identity of the committed container.
    */
  private[graft] def writePartitionFile(
      tmpDir: String, part: Int, attempt: Long, it: Iterator[Row]): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val finalP = new org.apache.hadoop.fs.Path(tmpDir, f"part-$part%05d.gwarc")
    val tmpP = new org.apache.hadoop.fs.Path(
      tmpDir, f"part-$part%05d.gwarc.tmp-$attempt")
    val fs = finalP.getFileSystem(conf)
    val out = new DataOutputStream(new BufferedOutputStream(fs.create(tmpP, true)))
    var n = 0L
    try {
      out.write(FileMagic)
      it.foreach { row =>
        require(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2),
          "record_id, url and fetch_ts are required WARC headers")
        out.writeInt(RecMagic)
        out.writeLong(row.getLong(0))
        val url = row.getString(1).getBytes(UTF_8)
        out.writeInt(url.length); out.write(url)
        out.writeLong(toMicros(row.getTimestamp(2)))
        if (row.isNullAt(3)) out.writeInt(-1)
        else {
          val html = row.getString(3).getBytes(UTF_8)
          out.writeInt(html.length); out.write(html)
        }
        n += 1
      }
    } finally out.close()
    // first committer wins; HDFS/local rename refuses an existing dest, so a
    // racing twin attempt falls into the cleanup branch either way
    if (fs.exists(finalP) || !fs.rename(tmpP, finalP)) fs.delete(tmpP, false)
    n
  }

  /** Read every GWARC container under `path` back as (record_id, url,
    * fetch_ts, html) rows — the validated streaming walk described above.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(path + "/*.gwarc")
      .flatMap { case (_, pds) =>
        val in = new DataInputStream(new BufferedInputStream(pds.open()))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        val hdr = new Array[Byte](FileMagic.length)
        val headerOk =
          try { in.readFully(hdr); java.util.Arrays.equals(hdr, FileMagic) }
          catch { case _: EOFException => false }
        if (!headerOk) { in.close(); Iterator.empty }
        else {
          def nextRec(): Option[Row] =
            try {
              val m = in.readInt()
              if (m != RecMagic) None // corrupt tail: stop at last valid record
              else {
                val id = in.readLong()
                val urlLen = in.readInt()
                if (urlLen < 0 || urlLen > MaxFieldLen) None
                else {
                  val urlB = new Array[Byte](urlLen); in.readFully(urlB)
                  val micros = in.readLong()
                  val htmlLen = in.readInt()
                  if (htmlLen < -1 || htmlLen > MaxFieldLen) None
                  else {
                    val html =
                      if (htmlLen == -1) null
                      else {
                        val b = new Array[Byte](htmlLen); in.readFully(b)
                        new String(b, UTF_8)
                      }
                    Some(Row(id, new String(urlB, UTF_8), fromMicros(micros), html))
                  }
                }
              }
            } catch { case _: EOFException => None } // truncated mid-record
          Iterator.continually(nextRec()).takeWhile(_.isDefined).map(_.get)
        }
      }
    // Deliberately NOT re-partitioned here (r15 optimization round): an
    // unconditional spread of the parsed rows was A/B'd and lost ~1 s on the
    // pipeline queries — the raw html payload is shuffled for nothing, since
    // every downstream consumer either joins (whose exchange re-partitions
    // anyway) or runs an operator whose own Par.spread guard handles a
    // too-narrow input. At 100 TB the container count supplies parallelism.
    spark.createDataFrame(rows, schema)
  }
}
