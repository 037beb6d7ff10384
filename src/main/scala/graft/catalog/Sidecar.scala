package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}

/** The catalog's small metadata files beside the data: table meta, views,
  * snapshot manifests and segments, per-generation stats and Bloom
  * filters, tags, and the lock and commit markers. This is their one
  * JSON codec, one read, one write, one exclusive create and one process
  * cache for the write-once ones; each file's field names stay with its
  * owner.
  */
private[graft] object Sidecar {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)

  /** `value` as compact JSON: Scala maps (keys sorted), sequences,
    * strings, numbers, booleans and [[tree]] subtrees.
    */
  def render(value: Any): String = mapper.writeValueAsString(value)

  def tree(raw: String): JsonNode = mapper.readTree(raw)

  /** The strings of an array node; empty when the node is absent. */
  def strings(node: JsonNode): Seq[String] =
    if (node == null) Nil else node.asScala.map(_.asText()).toSeq

  /** The fields of an object node in file order; empty when absent. */
  def fields(node: JsonNode): Seq[(String, JsonNode)] =
    if (node == null) Nil
    else node.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)

  /** The file's text; None when it does not exist. */
  def read(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }

  /** Write (or overwrite) the file with `text`. */
  def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Create `p` exclusively with `text` as content; false when it already
    * exists (or cannot be created). HDFS enforces create-exclusive
    * atomically at the namenode; RawLocalFileSystem's
    * create(overwrite=false) is CHECK-then-create — racy — so the file://
    * scheme goes through File.createNewFile (an atomic O_CREAT|O_EXCL).
    * Object stores without atomic create remain best-effort, the standing
    * caveat.
    */
  def publish(fs: FileSystem, p: Path, text: String): Boolean =
    try {
      if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
        val local = new java.io.File(fs.makeQualified(p).toUri.getPath)
        val dir = local.getParentFile
        if (dir != null && !dir.exists()) dir.mkdirs()
        if (!local.createNewFile()) return false
        val w = new java.io.FileOutputStream(local)
        try w.write(text.getBytes(UTF_8)) finally w.close()
      } else {
        val out = fs.create(p, false)
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }

  /** Process cache of write-once files, keyed by qualified path. An absent
    * or corrupt file caches as None (callers stay conservative); a writer
    * `put`s what it wrote, replacing its own earlier negative read. Past
    * `bound` entries the cache empties and entries re-load.
    */
  final class Immutable[V](bound: Int)(decode: String => V) {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Option[V]]()

    private def key(fs: FileSystem, p: Path): String =
      try fs.makeQualified(p).toString catch { case _: Exception => p.toString }

    def apply(fs: FileSystem, p: Path): Option[V] = {
      val k = key(fs, p)
      val cached = cache.get(k)
      if (cached != null) return cached
      val loaded = try read(fs, p).map(decode) catch { case _: Exception => None }
      if (cache.size > bound) cache.clear()
      cache.put(k, loaded)
      loaded
    }

    def put(fs: FileSystem, p: Path, value: V): Unit = cache.put(key(fs, p), Some(value))

    def clear(): Unit = cache.clear()
  }
}
