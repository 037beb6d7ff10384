package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}

/** The rename-swap commit that makes a staged write visible: CTAS /
  * REPLACE, INSERT OVERWRITE, TRUNCATE, dynamic overwrite, copy-on-write
  * partition replace, compaction, the bm25 stats sidecar, Bloom state and
  * GWARC containers all commit through [[replace]], and it names their
  * hidden siblings `.<tag>-<live name>-<8 hex digits>`.
  */
private[graft] object Swap {

  /** Aside (`old`) and staging tags, a closed list: CTAS, whole-table
    * overwrite, dynamic overwrite, copy-on-write partitions, snapshot
    * writes, snapshot compaction and merge-on-read UPDATE.
    */
  val Tags: Seq[String] = Seq("old", "staging", "overwrite", "dynover",
    "rlpart", "snapstage", "snapcompact", "morupd")

  def uuid8(): String = java.util.UUID.randomUUID().toString.take(8)

  /** The hidden sibling `.<tag>-<live name>-<id>` of `live`. */
  def sibling(live: Path, tag: String, id: String = uuid8()): Path = {
    require(Tags.contains(tag), s"unknown swap tag '$tag' (one of ${Tags.mkString(", ")})")
    new Path(live.getParent, s".$tag-${live.getName}-$id")
  }

  /** Every hidden sibling of table `name`: the tagged dirs, [[History]]'s
    * `.gen-<name>-<millis>-<id>` generations and [[CommitLock]]'s locks
    * (`.commitlock-<name>`, its `.tags` lock, their `.break` markers).
    */
  def debris(name: String): scala.util.matching.Regex = {
    val q = java.util.regex.Pattern.quote(name)
    (s"\\.(${Tags.mkString("|")})-$q-[0-9a-f]{8}|\\.gen-$q-[0-9]{13}-[0-9a-f]{8}" +
      s"|\\.commitlock-$q(\\.tags)?(\\.break)?").r
  }

  /** The crash-aside form `.old-<name>-<id>`. */
  def asides(name: String): scala.util.matching.Regex =
    s"\\.old-${java.util.regex.Pattern.quote(name)}-[0-9a-f]{8}".r

  /** Make `staged` visible at `live`: one rename when `live` is absent;
    * otherwise `live` moves to `aside` (a leftover `aside` can only be an
    * earlier swap's and is deleted first), `staged` moves to `live` and
    * `retire` disposes of the aside. A torn `live` never appears, but a
    * crash between the two renames leaves `live` absent and its old
    * contents at `aside`. If the second rename fails the aside moves back
    * and the call throws; when that fails too, the error names the aside.
    */
  def replace(fs: FileSystem, staged: Path, live: Path, aside: Path)(
      retire: Path => Unit = p => { fs.delete(p, true); () }): Unit = {
    if (!fs.exists(live)) {
      if (!fs.rename(staged, live))
        throw new java.io.IOException(s"cannot move $staged into place at $live")
      return
    }
    fs.delete(aside, true)
    if (!fs.rename(live, aside))
      throw new java.io.IOException(s"cannot move $live aside to $aside")
    if (!fs.rename(staged, live)) {
      // roll back — the old contents go live again
      if (!fs.rename(aside, live))
        throw new java.io.IOException(s"cannot swap $staged into $live, nor " +
          s"restore the old contents: they are at $aside")
      throw new java.io.IOException(s"cannot swap $staged into $live; the old contents stay")
    }
    retire(aside)
  }
}
