package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.graft.{shims => S}
import org.apache.spark.sql.types._

import graft.sources.LocalFs

/** The engine's `file:` file system (`sources.LocalFs`): writes lay out
  * files, `.crc` files, `_SUCCESS` and modes as Hadoop's stock
  * LocalFileSystem does, and set permissions without forking `chmod`. */
class LocalFsSpec extends SparkSpec {
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def distributed[T](body: => T): T = {
    val prev = spark.conf.get(Threshold)
    spark.conf.set(Threshold, "-1")
    try body finally spark.conf.set(Threshold, prev)
  }

  private def freshDir(): String = Files.createTempDirectory("graft-local-fs").toString + "/out"

  private val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
  private def rows: DataFrame =
    spark.createDataFrame(Seq(Row(1L, "a"), Row(2L, null), Row(3L, "c")).asJava, schema).coalesce(1)

  /** A write through Hadoop's stock LocalFileSystem: an uncached
    * instance for the write's own Hadoop configuration. */
  private def stock(w: DataFrameWriter[Row]): DataFrameWriter[Row] =
    w.option("fs.file.impl", classOf[LocalFileSystem].getName).option("fs.file.impl.disable.cache", "true")

  /** The full POSIX mode of `p`, sticky bit included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every entry under `dir` (itself included) by relative name, with the
    * write's UUID masked, and its mode. */
  private def layout(dir: String): Seq[(String, String)] = {
    val root = new File(dir).toPath
    Files.walk(root).iterator.asScala.toSeq.map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") ->
        Integer.toOctalString(mode(p))
    }.sorted
  }

  /** The `jdk.ProcessStart` events JFR records while `body` runs. */
  private def processStarts(body: => Any): Int = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try body finally recording.stop()
    val file = Files.createTempFile("graft-local-fs", ".jfr")
    try {
      recording.dump(file)
      RecordingFile.readAllEvents(file).asScala.count(_.getEventType.getName == "jdk.ProcessStart")
    } finally {
      recording.close()
      Files.delete(file)
    }
  }

  private def fileFs: FileSystem = FileSystem.get(URI.create("file:///"), S.hadoopConf(spark, Map.empty))

  test("the session resolves file: to the engine's file system over its raw file system") {
    assert(fileFs.getClass == classOf[LocalFs])
    assert(fileFs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[LocalFs.Raw])
  }

  test("a driver write and a Spark job's write lay out files, .crc files, _SUCCESS and " +
      "modes as a write through the stock LocalFileSystem") {
    val (driver, job, reference) = (freshDir(), freshDir(), freshDir())
    assert(Jobs.count(spark)(rows.write.parquet(driver)) == 0, "not a driver write")
    assert(distributed(Jobs.count(spark)(rows.write.parquet(job))) > 0, "not a Spark job")
    stock(rows.write).parquet(reference)
    val expected = layout(reference)
    val names = expected.map(_._1)
    assert(names.contains("_SUCCESS") && names.contains("._SUCCESS.crc"), names)
    assert(names.exists(n => n.startsWith(".part-") && n.endsWith(".parquet.crc")), names)
    assert(layout(driver) == expected)
    assert(layout(job) == expected)
  }

  test("a driver write forks no process; the stock file system forks chmod") {
    rows.write.parquet(freshDir())
    assert(processStarts(rows.write.parquet(freshDir())) == 0)
    assert(processStarts(stock(rows.write).parquet(freshDir())) > 0, "JFR recorded no process start")
  }

  test("a permission with a sticky bit takes the stock path; others are set in-process") {
    val dir = Files.createTempDirectory("graft-local-fs-mode")
    val fs = fileFs
    val path = new Path(dir.toUri)
    assert(processStarts(fs.setPermission(path, new FsPermission(Integer.parseInt("750", 8).toShort))) == 0)
    assert(mode(dir) == Integer.parseInt("750", 8))
    fs.setPermission(path, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1755", 8), "the sticky bit was not set")
  }
}
