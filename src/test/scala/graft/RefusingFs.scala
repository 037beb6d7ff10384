package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local file system under the `refuse` scheme that fails the calls a test
  * names, with every other call landing on the local disk: a `create` or
  * `mkdirs` whose path matches the [[RefusingFs.CreateKey]] regex throws,
  * and a `rename` whose source matches the [[RefusingFs.RenameKey]] regex
  * returns false, the way Hadoop reports a failed rename. Both regexes
  * match the whole path part of the URI.
  */
class RefusingFs extends org.apache.hadoop.fs.FilterFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("refuse:///")
    }) {

  private var creates: Option[scala.util.matching.Regex] = None
  private var renames: Option[scala.util.matching.Regex] = None

  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    creates = Option(conf.get(RefusingFs.CreateKey)).map(_.r)
    renames = Option(conf.get(RefusingFs.RenameKey)).map(_.r)
  }

  private def named(re: Option[scala.util.matching.Regex], p: Path): Boolean =
    re.exists(_.matches(p.toUri.getPath))

  private def refuse(p: Path): Unit =
    if (named(creates, p))
      throw new java.io.IOException(s"injected failure: write refused under $p")

  override def rename(src: Path, dst: Path): Boolean =
    !named(renames, src) && super.rename(src, dst)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    refuse(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: org.apache.hadoop.fs.Options.ChecksumOpt): FSDataOutputStream = {
    refuse(f)
    super.create(f, permission, flags, bufferSize, replication, blockSize, progress,
      checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    refuse(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    refuse(f)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    refuse(f)
    super.mkdirs(f)
  }
}

object RefusingFs {

  val CreateKey = "fs.refuse.create"
  val RenameKey = "fs.refuse.rename"

  /** A refusing file system over the local disk, outside any session;
    * scheme-less absolute paths reach it.
    */
  def apply(create: String = null, rename: String = null): RefusingFs = {
    val conf = new Configuration()
    Option(create).foreach(conf.set(CreateKey, _))
    Option(rename).foreach(conf.set(RenameKey, _))
    val fs = new RefusingFs
    fs.initialize(java.net.URI.create("refuse:///"), conf)
    fs
  }

  /** Run `body` with `refuse://` paths reaching the local disk through
    * `hconf` (a session's Hadoop configuration), refusing what `create`
    * and `rename` name; a fresh instance per lookup reads them.
    */
  def withRefusal[T](hconf: Configuration, create: String = null,
      rename: String = null)(body: => T): T = {
    val keys = Seq("fs.refuse.impl", "fs.refuse.impl.disable.cache", CreateKey, RenameKey)
    hconf.set("fs.refuse.impl", classOf[RefusingFs].getName)
    hconf.setBoolean("fs.refuse.impl.disable.cache", true)
    Option(create).foreach(hconf.set(CreateKey, _))
    Option(rename).foreach(hconf.set(RenameKey, _))
    try body finally keys.foreach(hconf.unset)
  }
}
