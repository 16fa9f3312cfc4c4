package org.apache.spark.sql.graft

import java.util.{Date, UUID}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.SparkEnv
import org.apache.spark.internal.io.{FileCommitProtocol, SparkHadoopWriterUtils}
import org.apache.spark.scheduler.graft.DriverTask
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, FileSourceMetadataAttribute, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, DateTimeUtils}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormatWriter, InsertIntoHadoopFsRelationCommand, WriteFiles, WriteJobDescription}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.{SerializableConfiguration, Utils}

import graft.plans.LocalRows

/** Plans a file write whose rows are already on the driver as a
  * driver-side write ([[LocalWriteExec]]), instead of a one-task Spark
  * job that ships those rows out and back.
  *
  * A reference tablet takes a transaction's rows as they are; here a
  * held DynTable commit or compaction is a `LocalRelation` (or a union of
  * them), and its `coalesce(1).write.parquet` would run a job of one
  * task. The strategy takes an `InsertIntoHadoopFsRelationCommand` that
  *   - writes parquet, with no partition columns, bucket spec or catalog
  *     table;
  *   - Spark would run as one task: the optimized query under its
  *     `WriteFiles` is local rows ([[LocalRows]]) under a coalesce or
  *     repartition to one partition, or at most one row of them;
  *   - `maxRecordsPerFile` does not split.
  * A negative `spark.sql.autoBroadcastJoinThreshold` turns it off, as it
  * turns off driver-held rows, and every write takes Spark's job, which
  * stays the arbiter.
  */
object LocalWrite extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case cmd: InsertIntoHadoopFsRelationCommand if cmd.fileFormat.isInstanceOf[ParquetFileFormat] &&
        cmd.partitionColumns.isEmpty && cmd.bucketSpec.isEmpty && cmd.catalogTable.isEmpty &&
        SQLConf.get.autoBroadcastJoinThreshold >= 0 =>
      cmd.query match {
        case w: WriteFiles => oneTask(w.child).filter(rows => oneFile(cmd, rows.size))
          .map(rows => LocalWriteExec(cmd, rows, planLater(w)) :: Nil).getOrElse(Nil)
        case _ => Nil
      }
    case _ => Nil
  }

  /** Rows of a query Spark writes in one task. */
  private def oneTask(query: LogicalPlan): Option[Seq[InternalRow]] = query match {
    case Repartition(1, _, LocalRows(rows)) => Some(rows)
    case LocalRows(rows) if rows.size <= 1 => Some(rows)
    case _ => None
  }

  /** Whether `rows` rows fit one file under `maxRecordsPerFile`. */
  private def oneFile(cmd: InsertIntoHadoopFsRelationCommand, rows: Int): Boolean = {
    val max = maxRecordsPerFile(CaseInsensitiveMap(cmd.options), SQLConf.get)
    max <= 0 || rows <= max
  }

  private[graft] def maxRecordsPerFile(options: CaseInsensitiveMap[String], conf: SQLConf): Long =
    options.get("maxRecordsPerFile").map(_.toLong).getOrElse(conf.maxRecordsPerFile)
}

/** Writes `rows` (the command's query, already on the driver) as one
  * file, on the driver, the way one task of Spark's write job does.
  *
  * The mode is checked when the node runs: an append, or a write to a
  * path that does not exist, is written here; any other write delegates
  * to the command's own `run` over the planned `child`, Spark's job.
  *
  * The driver write runs the steps of `InsertIntoHadoopFsRelationCommand`
  * and `FileFormatWriter`: the session's `FileCommitProtocol` sets up
  * and commits the job (and aborts it on failure); the task runs
  * `FileFormatWriter.executeTask` (the format's `OutputWriterFactory`
  * over the data schema, the same file naming, task commit through the
  * protocol and the driver's output commit coordinator) as a task of its
  * own stage on the calling thread ([[DriverTask]]); then the file index
  * and cached data of the path are refreshed. Metrics are the command's
  * (`numFiles`, `numOutputRows`, `numOutputBytes`, ...), set by its
  * stats tracker as for Spark's `DataWritingCommandExec`.
  */
case class LocalWriteExec(cmd: InsertIntoHadoopFsRelationCommand, rows: Seq[InternalRow],
    child: SparkPlan) extends V2CommandExec with UnaryExecNode {

  override def output: Seq[Attribute] = Nil
  override lazy val metrics: Map[String, SQLMetric] = cmd.metrics

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${cmd.outputPath}, ${cmd.fileFormat}, ${cmd.mode}, ${rows.size} rows"

  override protected def withNewChildInternal(newChild: SparkPlan): LocalWriteExec =
    copy(child = newChild)

  override protected def run(): Seq[InternalRow] = {
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(cmd.options)
    val fs = cmd.outputPath.getFileSystem(hadoopConf)
    val qualified = cmd.outputPath.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (cmd.mode != SaveMode.Append && fs.exists(qualified)) cmd.run(session, child)
    else {
      write(hadoopConf, qualified)
      cmd.fileIndex.foreach(_.refresh())
      session.sharedState.cacheManager.recacheByPath(session, cmd.outputPath, fs)
    }
    Nil
  }

  private def write(hadoopConf: Configuration, qualified: Path): Unit = {
    val conf = session.sessionState.conf
    if (!cmd.fileFormat.allowDuplicatedColumnNames) {
      SchemaUtils.checkColumnNameDuplication(cmd.outputColumnNames, conf.caseSensitiveAnalysis)
    }
    if (!conf.allowCollationsInMapKeys) SchemaUtils.checkNoCollationsInMapKeys(cmd.query.schema)
    val committer = FileCommitProtocol.instantiate(conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID.toString, outputPath = cmd.outputPath.toString,
      dynamicPartitionOverwrite = false)

    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, qualified)
    val columns = cmd.outputColumns.map(FileSourceMetadataAttribute.cleanupFileSourceMetadataInformation)
    val dataSchema = DataTypeUtils.fromAttributes(columns)
    DataSourceUtils.verifySchema(cmd.fileFormat, dataSchema)
    DataSourceUtils.checkFieldNames(cmd.fileFormat, dataSchema)
    val options = CaseInsensitiveMap(cmd.options)
    val factory = cmd.fileFormat.prepareWrite(session, job, options, dataSchema)
    val uuid = UUID.randomUUID.toString
    val trackers = Seq(cmd.basicWriteJobStatsTracker(hadoopConf))
    job.getConfiguration.set("spark.sql.sources.writeJobUUID", uuid)
    // the task's description carries its own copy of the configuration,
    // as a task deserializes one: the task sets its ids in it
    val description = new WriteJobDescription(uuid,
      new SerializableConfiguration(new Configuration(job.getConfiguration)), factory, columns, columns,
      partitionColumns = Nil, bucketSpec = None, path = qualified.toString,
      customPartitionLocations = Map.empty,
      maxRecordsPerFile = LocalWrite.maxRecordsPerFile(options, conf),
      timeZoneId = options.getOrElse(DateTimeUtils.TIMEZONE_OPTION, conf.sessionLocalTimeZone),
      statsTrackers = trackers)

    committer.setupJob(job)
    try {
      val result = DriverTask.run(sparkContext) { ctx =>
        // the task's own copy of the protocol, as a task deserializes it:
        // setting up the task must not replace the job's committer
        val ser = SparkEnv.get.closureSerializer.newInstance()
        val taskCommitter = ser.deserialize[FileCommitProtocol](ser.serialize(committer))
        FileFormatWriter.executeTask(description,
          SparkHadoopWriterUtils.createJobTrackerID(new Date()), ctx.stageId(), ctx.partitionId(),
          ctx.taskAttemptId().toInt & Int.MaxValue, taskCommitter, unsafeRows(columns), None)
      }
      committer.onTaskCommit(result.commitMsg)
      val (_, duration) = Utils.timeTakenMs(committer.commitJob(job, Seq(result.commitMsg)))
      trackers.zip(result.summary.stats).foreach { case (t, stats) => t.processStats(Seq(stats), duration) }
    } catch {
      case t: Throwable =>
        committer.abortJob(job)
        throw t
    }
  }

  /** The rows as `LocalTableScanExec` hands them to the writer. */
  private def unsafeRows(columns: Seq[Attribute]): Iterator[InternalRow] = {
    lazy val project = UnsafeProjection.create(columns.map(_.dataType).toArray)
    rows.iterator.map {
      case u: UnsafeRow => u
      case r => project(r)
    }
  }
}
