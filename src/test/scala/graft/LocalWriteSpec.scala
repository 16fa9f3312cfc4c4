package graft

import java.io.File
import java.math.BigDecimal
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalWriteExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** A task commit that always fails, after the task wrote its file. */
class FailingTaskCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(taskContext: TaskAttemptContext): org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage =
    throw new java.io.IOException("injected task commit failure")
}

/** Driver-side writes of driver-held rows (`LocalWrite`) against Spark's
  * write job, which a broadcast threshold of -1 forces: the same files,
  * footers and rows, no job; and every write the strategy does not take
  * still runs Spark's job with Spark's errors. */
class LocalWriteSpec extends SparkSpec {
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withConf[T](key: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
  private def distributed[T](body: => T): T = withConf(Threshold, "-1")(body)

  private def freshDir(): String = Files.createTempDirectory("graft-local-write").toString + "/out"

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** File names of `dir`, with the write's UUID masked. */
  private def names(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten
      .map(_.replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")).sorted

  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))

  /** The parquet schema and Spark's row-metadata key of each data file. */
  private def footers(dir: String): Seq[(String, String)] = dataFiles(dir).sortBy(_.getName).map { f =>
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
    try {
      val meta = reader.getFooter.getFileMetaData
      (meta.getSchema.toString, meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally reader.close()
  }

  /** Writes `df` through `write` to a fresh path on the driver path and
    * with Spark's job; checks both give the same files, footers, rows
    * and schema, that the driver path ran no job and Spark's path did. */
  private def sameAsJob(what: String, df: () => DataFrame,
      write: DataFrameWriter[Row] => DataFrameWriter[Row] = _.mode("append")): Unit = {
    val local = freshDir()
    val job = freshDir()
    assert(Jobs.count(spark)(write(df().write).parquet(local)) == 0, s"$what: the driver path ran a job")
    assert(distributed(Jobs.count(spark)(write(df().write).parquet(job))) > 0, s"$what: no job at -1")
    assert(names(local) == names(job), what)
    assert(names(local).contains("_SUCCESS") && !names(local).contains("_temporary"), what)
    assert(dataFiles(local).map(_.getName).forall(
      _.matches("part-00000-[0-9a-f-]{36}-c000\\.[a-z0-9]+\\.parquet")), names(local))
    assert(footers(local) == footers(job), what)
    val (back, expected) = (spark.read.parquet(local), spark.read.parquet(job))
    assert(back.schema == expected.schema, what)
    assert(sorted(back) == sorted(expected), what)
    assert(sorted(back) == sorted(df()), what)
  }

  private val decimals = StructType(Seq(StructField("id", IntegerType),
    StructField("d", DecimalType(10, 2)), StructField("w", DecimalType(38, 18))))
  private val times = StructType(Seq(StructField("id", IntegerType),
    StructField("t", TimestampType), StructField("n", TimestampNTZType), StructField("d", DateType)))
  private val nested = StructType(Seq(StructField("id", IntegerType),
    StructField("s", StructType(Seq(StructField("a", IntegerType), StructField("b", ArrayType(StringType))))),
    StructField("m", MapType(StringType, LongType)),
    StructField("l", ArrayType(StructType(Seq(StructField("x", DoubleType)))))))
  private val required = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("s", StringType, nullable = false), StructField("v", DoubleType)))

  private def decimalRows: Seq[Row] = Seq(
    Row(1, new BigDecimal("12345678.91"), new BigDecimal("12345678901234567890.123456789012345678")),
    Row(2, null, new BigDecimal("-0.000000000000000001")),
    Row(3, new BigDecimal("-0.50"), null))
  private def timeRows: Seq[Row] = Seq(
    Row(1, Timestamp.valueOf("2024-02-29 23:59:59.123456"), LocalDateTime.parse("1969-12-31T23:59:59.999999"),
      Date.valueOf("1900-01-01")),
    Row(2, null, null, null),
    Row(3, new Timestamp(0L), LocalDateTime.parse("2262-04-11T23:47:16.854775"), Date.valueOf("2038-01-19")))
  private def nestedRows: Seq[Row] = Seq(
    Row(1, Row(7, Seq("a", null, "c")), Map("k" -> 1L, "z" -> null), Seq(Row(1.5), null, Row(Double.NaN))),
    Row(2, null, null, null),
    Row(3, Row(null, Seq.empty[String]), Map.empty[String, Long], Seq.empty[Row]))
  private def requiredRows: Seq[Row] = Seq(Row(1L, "a", 0.5), Row(2L, "", null), Row(3L, "c", -0.0))

  test("a single-file write of local rows equals Spark's write job and runs no job: " +
      "decimal, timestamp, nested and non-nullable columns") {
    sameAsJob("decimal", () => frame(decimals, decimalRows: _*).coalesce(1))
    sameAsJob("timestamp", () => frame(times, timeRows: _*).coalesce(1))
    sameAsJob("nested", () => frame(nested, nestedRows: _*).coalesce(1))
    sameAsJob("non-nullable", () => frame(required, requiredRows: _*).coalesce(1))
    // a filtered projection folded into local rows, and a repartition to one
    sameAsJob("projected", () => frame(required, requiredRows: _*)
      .where(col("id") > 1).select(col("s"), (col("id") * 2).as("twice")).repartition(1))
  }

  test("zstd, a union of local frames, a single row with no coalesce, and a 0-row " +
      "append (one schema-only file) equal Spark's write job") {
    sameAsJob("zstd", () => frame(required, requiredRows: _*).coalesce(1),
      _.mode("append").option("compression", "zstd"))
    sameAsJob("union", () => frame(required, requiredRows.take(2): _*)
      .union(frame(required, requiredRows.drop(2): _*)).coalesce(1))
    sameAsJob("one row", () => frame(nested, nestedRows.head))
    sameAsJob("no rows", () => frame(decimals))
    val empty = freshDir()
    frame(decimals).write.mode("append").parquet(empty)
    assert(dataFiles(empty).size == 1 && spark.read.parquet(empty).schema.size == 3)
    // overwrite and error-if-exists onto a path that does not exist yet
    sameAsJob("overwrite, new path", () => frame(times, timeRows: _*).coalesce(1), _.mode("overwrite"))
    sameAsJob("error if exists, new path", () => frame(times, timeRows: _*).coalesce(1), _.mode("errorifexists"))
  }

  test("appends to an existing table add one file each and read back whole") {
    val dir = freshDir()
    frame(required, requiredRows: _*).coalesce(1).write.parquet(dir)
    assert(Jobs.count(spark) {
      (1 to 3).foreach(i => frame(required, Row(10L + i, s"a$i", i * 1.0)).write.mode("append").parquet(dir))
    } == 0)
    assert(dataFiles(dir).size == 4)
    assert(spark.read.parquet(dir).count() == requiredRows.size + 3)
  }

  /** Writes `df` with `write` to a fresh path (one already written when
    * `existing`) at the default threshold and at -1: both give the same
    * error (or none) and the same rows, and a write that succeeds runs a
    * job. */
  private def likeJob(what: String, df: () => DataFrame, write: DataFrameWriter[Row] => Unit,
      existing: Boolean = false): Unit = {
    def run(dir: String): (Int, Option[String], Seq[String]) = {
      if (existing) frame(required, requiredRows: _*).coalesce(1).write.parquet(dir)
      var error: Option[String] = None
      val jobs = Jobs.count(spark) {
        try write(df().write.option("path", dir)) catch { case e: Exception => error = Some(e.getMessage) }
      }
      (jobs, error.map(_.replace(dir, "<dir>")), if (new File(dir).exists) sorted(spark.read.parquet(dir)) else Nil)
    }
    val (jobs, error, rows) = run(freshDir())
    val (_, jobError, jobRows) = distributed(run(freshDir()))
    assert(error == jobError, what)
    assert(rows == jobRows, what)
    if (error.isEmpty) assert(jobs > 0, s"$what: took the driver path")
  }

  test("writes the strategy does not take still run Spark's job, with its errors") {
    val rows = () => frame(required, requiredRows: _*)
    likeJob("partitionBy", () => rows().coalesce(1), _.partitionBy("s").mode("append").save())
    likeJob("maxRecordsPerFile", () => rows().coalesce(1),
      _.option("maxRecordsPerFile", 2).mode("append").save())
    likeJob("non-local child", () => spark.range(5).toDF("id").coalesce(1), _.mode("append").save())
    likeJob("multi-row local frame, no coalesce", rows, _.mode("append").save())
    likeJob("overwrite onto an existing path", () => rows().where(col("id") > 1).coalesce(1),
      _.mode("overwrite").save(), existing = true)
    likeJob("error if exists onto an existing path", () => rows().coalesce(1),
      _.mode("errorifexists").save(), existing = true)
    // csv: Spark's job, and its files
    val csv = freshDir()
    assert(Jobs.count(spark)(rows().coalesce(1).write.csv(csv)) > 0)
    assert(spark.read.schema(required).csv(csv).count() == requiredRows.size)
    // a catalog table: an append carries the table and runs Spark's job; a
    // new table's write goes to its location before the table exists, so
    // it carries none and is written on the driver
    val (table, jobTable) = (s"graft_local_write_${System.nanoTime}", s"graft_job_write_${System.nanoTime}")
    try {
      assert(Jobs.count(spark)(rows().where(col("id") < 3).coalesce(1).write.saveAsTable(table)) == 0)
      distributed(rows().where(col("id") < 3).coalesce(1).write.saveAsTable(jobTable))
      assert(Jobs.count(spark)(rows().where(col("id") === 3).coalesce(1).write.mode("append")
        .saveAsTable(table)) > 0)
      distributed(rows().where(col("id") === 3).coalesce(1).write.mode("append").saveAsTable(jobTable))
      assert(sorted(spark.table(table)) == sorted(rows()))
      assert(sorted(spark.table(table)) == sorted(spark.table(jobTable)))
    } finally Seq(table, jobTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a driver write that fails leaves no data file and no _temporary, as Spark's job does") {
    def failing(dir: String): String = withConf("spark.sql.sources.commitProtocolClass",
        classOf[FailingTaskCommitProtocol].getName) {
      causeMessages(intercept[Exception](frame(required, requiredRows: _*).coalesce(1)
        .write.mode("append").parquet(dir)))
    }
    for ((what, dir, message) <- Seq(
        ("driver", freshDir(), (d: String) => failing(d)),
        ("job", freshDir(), (d: String) => distributed(failing(d))))) {
      val m = message(dir)
      assert(m.contains("injected task commit failure"), s"$what: $m")
      assert(dataFiles(dir).isEmpty, s"$what: ${names(dir)}")
      assert(!names(dir).contains("_temporary") && !names(dir).contains("_SUCCESS"), s"$what: ${names(dir)}")
    }
    // the session writes again afterwards
    val dir = freshDir()
    assert(Jobs.count(spark)(frame(required, requiredRows: _*).coalesce(1).write.parquet(dir)) == 0)
    assert(spark.read.parquet(dir).count() == requiredRows.size)
  }

  test("the driver write shows by name in the executed plan a listener sees, " +
      "with the write job's file, row and byte metrics") {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    /** The execution the listener reports for the write to `dir`. */
    def written(what: String, dir: String)(write: String => Unit): QueryExecution = {
      write(dir)
      Iterator.continually(Option(seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail(s"$what: no query execution reported")))
        .find(_.executedPlan.toString.contains(dir)).get
    }
    try {
      val df = () => frame(nested, nestedRows: _*).coalesce(1)
      val local = written("driver", freshDir())(df().write.parquet(_))
      val job = written("job", freshDir())(d => distributed(df().write.parquet(d)))
      assert(local.executedPlan.toString.contains("LocalWrite"), local.executedPlan)
      val localMetrics = local.executedPlan.collectFirst { case w: LocalWriteExec => w.metrics }
        .getOrElse(fail(local.executedPlan.toString))
      val jobMetrics = job.executedPlan.collectFirst { case w: DataWritingCommandExec => w.metrics }
        .getOrElse(fail(job.executedPlan.toString))
      Seq("numFiles", "numOutputRows", "numOutputBytes").foreach { m =>
        assert(localMetrics(m).value == jobMetrics(m).value, m)
      }
      assert(localMetrics("numFiles").value == 1 && localMetrics("numOutputRows").value == nestedRows.size)
    } finally spark.listenerManager.unregister(listener)
  }
}
