package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom filters for POINT-lookup file skipping on columns the
  * layout does NOT cluster (r15). Min/max candidacy ([[FileStats]]) is
  * decisive only when the file layout sorts the predicate column; the
  * canonical 100 TB counter-case is a GDPR DELETE by user id on a table
  * laid out by date — every file's [min, max] spans every user, so
  * candidacy degrades to "read the table to delete one row". A per-file
  * Bloom on the declared columns answers `user_id = X` with "provably
  * absent" for ~all files, so the DELETE (or point SELECT) touches the
  * handful of files that might hold the key.
  *
  * Opt-in per table: `TBLPROPERTIES ('bloom_cols'='user_id', 'bloom_fpp'=
  * '0.001')`, requires `snapshots` (the sidecars ride the generation
  * layout). At commit, each NEW generation gets one distributed pass over
  * its files (cost ∝ the commit, never the table) producing a
  * `_graft_blooms.json` sidecar — immutable, process-cached, loaded only
  * when a candidacy/pruning check actually consults it. Storage is
  * ~1.44·log2(1/fpp)/8 bytes per distinct value (fpp 0.001 ≈ 1.8 bytes/row)
  * — stated plainly: a deliberate trade of ~0.2% of data size for
  * point-lookup candidacy on unclustered keys.
  *
  * Only integral and string columns are accepted: the put/probe encoding
  * must agree exactly on both sides (longs via putLong, strings via
  * putString), and float/decimal equality probes are a correctness trap.
  * Consumers stay conservative everywhere: absent sidecar, absent column,
  * unknown filter shape, or a NOT — all answer "might match".
  */
object BloomSkip {

  val FileName = "_graft_blooms.json"

  /** Columns eligible for blooms: exact-probe-safe types only. */
  def supportedType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  // sidecar path -> file name -> column (lowercase) -> decoded filter; the
  // bound limits the decoded-filter footprint
  private val cache = new Sidecar.Immutable(4096)(raw => decode(parse(raw)))

  /** Build per-file blooms for one fresh generation: ONE distributed job
    * over the generation's files reading only the bloom columns, each
    * filter sized by its file's footer row count. Returns
    * file name -> column -> serialized filter.
    */
  def build(spark: SparkSession, genDir: Path,
      rowsByFile: Map[String, Long], cols: Seq[StructField],
      fpp: Double): Map[String, Map[String, Array[Byte]]] = {
    if (cols.isEmpty || rowsByFile.isEmpty) return Map.empty
    val paths = rowsByFile.keys.toSeq.sorted.map(n => new Path(genDir, n).toString)
    val names = cols.map(_.name)
    val isString = cols.map(_.dataType == StringType)
    val df = spark.read.parquet(paths: _*)
      .withColumn("__graft_f", expr("reverse(split(_metadata.file_path, '/'))[0]"))
      .select((col("__graft_f") +: names.map(n => col(s"`$n`"))): _*)
    val rowsB = spark.sparkContext.broadcast(rowsByFile)
    val isStringB = isString.toArray
    val nCols = names.length
    val merged = df.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.Map.empty[(String, Int), BloomFilter]
      it.foreach { row =>
        val f = row.getString(0)
        var i = 0
        while (i < nCols) {
          if (!row.isNullAt(i + 1)) {
            val bf = acc.getOrElseUpdate((f, i), BloomFilter.create(
              math.max(16L, rowsB.value.getOrElse(f, 1024L)), fpp))
            if (isStringB(i)) bf.putString(row.getString(i + 1))
            else bf.putLong(row.get(i + 1) match {
              case n: java.lang.Number => n.longValue()
              case other => other.toString.toLong
            })
          }
          i += 1
        }
      }
      acc.iterator.map { case (k, bf) =>
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        (k, out.toByteArray)
      }
    }.reduceByKey { (a, b) =>
      val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
      fa.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      val out = new java.io.ByteArrayOutputStream()
      fa.writeTo(out)
      out.toByteArray
    }.collect()
    merged.groupBy(_._1._1).map { case (file, entries) =>
      file -> entries.map { case ((_, i), bytes) =>
        names(i).toLowerCase -> bytes
      }.toMap
    }
  }

  def write(fs: FileSystem, genDir: Path,
      blooms: Map[String, Map[String, Array[Byte]]]): Unit = {
    if (blooms.isEmpty) return
    val p = new Path(genDir, FileName)
    Sidecar.write(fs, p, render(blooms))
    cache.put(fs, p, decode(blooms))
  }

  /** The generation's blooms (file name -> col -> filter); None = no
    * sidecar (table has no bloom columns, or the generation predates them).
    */
  def read(fs: FileSystem, genDir: Path)
      : Option[Map[String, Map[String, BloomFilter]]] =
    cache(fs, new Path(genDir, FileName))

  def invalidate(): Unit = cache.clear()

  private def decode(blooms: Map[String, Map[String, Array[Byte]]])
      : Map[String, Map[String, BloomFilter]] =
    blooms.map { case (f, m) =>
      f -> m.map { case (c, bytes) =>
        c -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      }
    }

  /** Blooms of one data file by table-root-relative path. */
  def forFile(fs: FileSystem, tableDir: Path,
      relFile: String): Map[String, BloomFilter] = {
    val i = relFile.lastIndexOf('/')
    if (i < 0) return Map.empty
    read(fs, new Path(tableDir, relFile.substring(0, i)))
      .flatMap(_.get(relFile.substring(i + 1))).getOrElse(Map.empty)
  }

  private[catalog] def render(
      blooms: Map[String, Map[String, Array[Byte]]]): String = {
    val enc = java.util.Base64.getEncoder
    Sidecar.render(Map("files" -> blooms.map { case (f, m) =>
      f -> m.map { case (c, bytes) => c -> enc.encodeToString(bytes) }
    }))
  }

  private[catalog] def parse(raw: String): Map[String, Map[String, Array[Byte]]] = {
    val root = Sidecar.tree(raw)
    require(root.has("files"), "not a graft bloom sidecar")
    val dec = java.util.Base64.getDecoder
    Sidecar.fields(root.get("files")).map { case (f, cols) =>
      f -> Sidecar.fields(cols).map { case (c, v) => c -> dec.decode(v.asText()) }.toMap
    }.toMap
  }

  /** Could any row of a file with these blooms satisfy `f`? Absence of a
    * filter, a null probe, or an un-probeable shape answer true — blooms
    * only ever PROVE absence for equality probes.
    */
  def mightMatch(f: sources.Filter,
      blooms: Map[String, BloomFilter]): Boolean = {
    if (blooms.isEmpty) return true
    def probe(c: String, v: Any): Boolean = blooms.get(c.toLowerCase) match {
      case None => true
      case Some(bf) => v match {
        case null => true
        case n: java.lang.Byte => bf.mightContainLong(n.longValue())
        case n: java.lang.Short => bf.mightContainLong(n.longValue())
        case n: java.lang.Integer => bf.mightContainLong(n.longValue())
        case n: java.lang.Long => bf.mightContainLong(n.longValue())
        case s: String => bf.mightContainString(s)
        case s: org.apache.spark.unsafe.types.UTF8String =>
          bf.mightContainString(s.toString)
        case _ => true
      }
    }
    f match {
      case sources.EqualTo(c, v) => probe(c, v)
      case sources.EqualNullSafe(c, v) if v != null => probe(c, v)
      case sources.In(c, vs) =>
        vs == null || vs.isEmpty || vs.exists(v => probe(c, v))
      case sources.And(l, r) => mightMatch(l, blooms) && mightMatch(r, blooms)
      case sources.Or(l, r) => mightMatch(l, blooms) || mightMatch(r, blooms)
      case _ => true
    }
  }
}
