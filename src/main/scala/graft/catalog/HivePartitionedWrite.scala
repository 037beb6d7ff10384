package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Task-side hive-layout parquet writer: each task writes its rows
  * DIRECTLY into `k=v` partition directories under a staging root — the
  * single-pass replacement for the r13 "write flat, then re-read and
  * re-write partitioned" hop of the partition-scoped row-level commit
  * (r13 VERDICT ask #3: 2× write amplification on the affected bytes).
  *
  * Layout contract matches the stock `partitionBy` writer: partition
  * values render through [[PartitionDirs.renderCatalyst]] (hive escaping,
  * `__HIVE_DEFAULT_PARTITION__` for null), and the FILES carry only the
  * non-partition columns — partition values live in the paths alone.
  *
  * The enclosing Write declares a CLUSTERED-non-strict distribution and an
  * ascending sort on the partition columns, so Spark plans an AQE
  * REBALANCE (hot values split across tasks — the Writers.partitionedParquet
  * skew discipline) and each task sees its partition values as contiguous
  * runs: at most ONE parquet writer is open per task at any time, so
  * memory stays flat no matter how many partitions a task touches.
  *
  * Exactly-once: every file name embeds (partitionId, taskId, uuid), each
  * task's commit message lists the relative paths it wrote, and the driver
  * commit deletes any file under the staging root NOT named in a committed
  * message — a failed or speculative attempt's debris can never leak into
  * the swap.
  */
object HivePartitionedWrite {

  case class FilesMessage(relPaths: Seq[String]) extends WriterCommitMessage

  /** Build the serializable factory (driver side): resolves the parquet
    * OutputWriterFactory exactly like the stock write path
    * (ParquetFileFormat.prepareWrite pins schema/compression/codec into
    * the job conf), splits the row schema into file vs partition columns.
    */
  def factory(spark: SparkSession, stagingRoot: Path, rowSchema: StructType,
      partCols: Seq[String]): DataWriterFactory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val missing = partCols.filterNot(c =>
      rowSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} absent from row schema")
    val fileSchema = StructType(rowSchema.fields.filterNot(f =>
      partCols.exists(_.equalsIgnoreCase(f.name))))
    val owf = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, fileSchema)
    // partition fields in LAYOUT order (partCols order, not schema order)
    val partFields: Seq[(Int, String, DataType)] = partCols.map { c =>
      val i = rowSchema.fields.indexWhere(_.name.equalsIgnoreCase(c))
      (i, rowSchema.fields(i).name, rowSchema.fields(i).dataType)
    }
    val fileFieldIdx = rowSchema.fields.zipWithIndex.collect {
      case (f, i) if !partCols.exists(_.equalsIgnoreCase(f.name)) => i
    }.toSeq
    new HiveFactory(new SerializableConfiguration(job.getConfiguration),
      stagingRoot.toString, rowSchema, fileSchema, fileFieldIdx, partFields, owf)
  }

  /** Delete every data file under `root` whose root-relative path is not
    * in `keep` (driver-side zombie sweep at commit).
    */
  def sweepUncommitted(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      keep: Set[String]): Unit = {
    if (!fs.exists(root)) return
    val rootUri = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else {
        val rel = fs.makeQualified(st.getPath).toUri.getPath
          .stripPrefix(rootUri + "/")
        if (!keep(rel)) fs.delete(st.getPath, false)
      }
    }
    walk(root)
  }
}

private[catalog] class HiveFactory(conf: SerializableConfiguration,
    stagingRoot: String, rowSchema: StructType, fileSchema: StructType,
    fileFieldIdx: Seq[Int], partFields: Seq[(Int, String, DataType)],
    owf: OutputWriterFactory) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val attempt = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID(new TaskID(new JobID("graft-hive", 0),
          TaskType.MAP, partitionId), (taskId & 0x7fffffff).toInt))
      private val fileProj = UnsafeProjection.create(fileFieldIdx.map { i =>
        val f = rowSchema.fields(i)
        BoundReference(i, f.dataType, f.nullable)
      }.toIndexedSeq)
      private val uuid = Swap.uuid8()
      private val fs = new Path(stagingRoot).getFileSystem(conf.value)
      private var currentKey: Seq[String] = null
      private var current: org.apache.spark.sql.execution.datasources.OutputWriter = null
      private var written = List.empty[String]
      private var n = 0
      private var recordsInFile = 0L

      private def closeCurrent(): Unit = {
        if (current != null) {
          val p = new Path(current.path())
          current.close()
          // credit the task's output metrics like the stock writers do
          val bytes = try fs.getFileStatus(p).getLen catch { case _: Exception => 0L }
          org.apache.spark.sql.GraftSqlShims.addTaskOutputMetrics(bytes, recordsInFile)
        }
        current = null; currentKey = null; recordsInFile = 0L
      }

      override def write(row: InternalRow): Unit = {
        val key: Seq[String] = partFields.map { case (i, name, dt) =>
          val v = if (row.isNullAt(i)) null else row.get(i, dt)
          name + "=" + PartitionDirs.renderCatalyst(dt, v)
        }
        if (key != currentKey) {
          closeCurrent()
          val rel = key.mkString("/") +
            s"/part-$partitionId-$taskId-$uuid-$n${owf.getFileExtension(attempt)}"
          n += 1
          val p = new Path(stagingRoot, rel)
          fs.mkdirs(p.getParent)
          current = owf.newInstance(p.toString, fileSchema, attempt)
          currentKey = key
          written ::= rel
        }
        current.write(fileProj(row))
        recordsInFile += 1
      }

      override def commit(): WriterCommitMessage = {
        closeCurrent()
        HivePartitionedWrite.FilesMessage(written.reverse)
      }

      override def abort(): Unit = {
        closeCurrent()
        written.foreach(rel => fs.delete(new Path(stagingRoot, rel), false))
      }

      override def close(): Unit = closeCurrent()
    }
}
