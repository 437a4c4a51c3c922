package graft.core

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** What a pool writer task reports: the name of the file it wrote, if any. */
case class PoolFileCommit(fileName: Option[String]) extends WriterCommitMessage

case class ManifestPoolWriterFactory(owf: OutputWriterFactory, poolPath: String,
                                     schema: StructType,
                                     conf: SerializableConfiguration,
                                     checker: Option[InternalRow => Unit] = None,
                                     schemaFile: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ManifestPoolWriter(owf, poolPath, schema, conf, partitionId, taskId, checker,
      eager = schemaFile && partitionId == 0)
}

/** One task's parquet file in a data pool, written once under its final,
  * task-unique name (`name` overrides it): a retried task writes a
  * different name, and only the reported one enters a manifest. No
  * `_temporary` directory and no rename: the manifest commit is the only
  * atomic step. The writer opens on the first row, so an empty partition
  * commits nothing, unless `eager`: batch writes open partition 0 up
  * front so that even an empty write stages one file carrying the schema. */
class ManifestPoolWriter(owf: OutputWriterFactory, poolPath: String,
                         schema: StructType, conf: SerializableConfiguration,
                         partitionId: Int, taskId: Long,
                         checker: Option[InternalRow => Unit] = None,
                         eager: Boolean = false, name: Option[String] = None)
    extends DataWriter[InternalRow] {

  private val fileName = name.getOrElse(f"part-$partitionId%05d-$taskId.parquet")
  private var writer: OutputWriter = _
  private var closed = false
  if (eager) ensureOpen()

  private def ensureOpen(): OutputWriter = {
    if (writer == null) {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-pool", 0), TaskType.MAP, partitionId),
        taskId.toInt)
      writer = owf.newInstance(s"$poolPath/$fileName", schema,
        new TaskAttemptContextImpl(conf.value, attempt))
    }
    writer
  }

  override def write(row: InternalRow): Unit = {
    checker.foreach(_(row))
    ensureOpen().write(row)
  }

  override def commit(): WriterCommitMessage = {
    closeWriter()
    PoolFileCommit(Option(writer).map(_ => fileName))
  }

  override def abort(): Unit = {
    closeWriter()
    if (writer != null) {
      val p = new Path(s"$poolPath/$fileName")
      LakeStorage.openFor(p, conf.value).delete(p, false)
      ()
    }
  }

  override def close(): Unit = closeWriter()

  private def closeWriter(): Unit =
    if (writer != null && !closed) { closed = true; writer.close() }
}

/** The one way manifest data files are written: batch writes ([[write]])
  * and copy-on-write and merge-on-read DML write through
  * [[ManifestPoolWriter]]s, and streaming epochs build their parquet
  * writers through [[prepare]] too. */
object ManifestPoolWriter {

  /** The parquet writer factory and the shipped job conf for `schema`.
    *
    * `prepareWrite` runs with the caller's session, so its parquet
    * settings (compression, field-id writes) hold. Data files are always
    * INT64 MICROS timestamps, whatever the session default: the INT96
    * default carries no usable footer min/max, which would blind data
    * skipping and days()/hours() partition pruning on every timestamp
    * column. Parquet's write support reads the type from the JOB conf on
    * the task side, so it is stamped there after `prepareWrite`, never on
    * the session, where a scoped set/restore would race the user's own
    * writes. `options` (the parquet bloom-filter keys of declared index
    * columns) go into the job conf too, which ships
    * [[LakeStorage.taskConf]]-wrapped. */
  def prepare(spark: SparkSession, schema: StructType,
              options: Map[String, String]): (OutputWriterFactory, SerializableConfiguration) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    options.foreach { case (k, v) => job.getConfiguration.set(k, v) }
    (owf, LakeStorage.taskConf(job.getConfiguration))
  }

  /** The factory of a batch write of `schema`-shaped rows into `poolPath`. */
  private[graft] def batchFactory(spark: SparkSession, poolPath: String, schema: StructType,
      options: Map[String, String]): ManifestPoolWriterFactory = {
    val (owf, conf) = prepare(spark, schema, options)
    ManifestPoolWriterFactory(owf, poolPath, schema, conf, schemaFile = true)
  }

  /** Write `df` into the pool directory `poolPath` in one Spark job, run as
    * one SQL execution, and return the written file names, sorted. The
    * names come from the tasks' commit messages; the pool is never listed.
    * As `df.write` did, the schema is written all-nullable and partition 0
    * always writes a file, so an empty write stages one schema-only file. */
  def write(df: DataFrame, poolPath: String,
            options: Map[String, String] = Map.empty): Seq[String] = {
    val spark = df.sparkSession
    val factory = batchFactory(spark, poolPath, SchemaBridge.asNullable(df.schema), options)
    val qe = df.queryExecution
    val messages = SQLExecution.withNewExecutionId(qe, Some(s"pool write $poolPath")) {
      val rows = qe.toRdd
      val input =
        if (rows.partitions.nonEmpty) rows
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      spark.sparkContext.runJob(input,
        (ctx: TaskContext, it: Iterator[InternalRow]) => writeTask(factory, ctx, it))
    }
    messages.collect { case PoolFileCommit(Some(name)) => name }.toSeq.sorted
  }

  private def writeTask(factory: ManifestPoolWriterFactory, ctx: TaskContext,
                        rows: Iterator[InternalRow]): WriterCommitMessage = {
    val writer = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
    try {
      rows.foreach(writer.write)
      writer.commit()
    } catch {
      case t: Throwable =>
        try writer.abort() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    } finally writer.close()
  }
}
