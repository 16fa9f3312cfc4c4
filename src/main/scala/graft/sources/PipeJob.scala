package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, IOException, InputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.plans.PartitionJob

/** The user-job pipes (Dsv/Skiff/Protobuf pipeMap, vanilla,
  * Streaming::Process) and the blob codecs, each one
  * [[graft.plans.PartitionJob]] over its input, in the Catalyst
  * representation on both sides.
  *
  * A job's process lives as the reference's job proxy keeps a user job
  * (user_job.cpp), for every format alike. A daemon thread feeds stdin
  * and closes it however it ends; stdout is the task's output iterator;
  * stderr is kept (bounded) by a third thread, so a chatty job can't
  * deadlock the pipe buffers. Once stdout is exhausted, a failure of
  * the input (the child plan or the codec) is rethrown first: the job
  * saw an early EOF and may well exit 0. Then the job must have exited
  * 0, or the TASK fails with the code and a stderr excerpt ("User job
  * failed with exit code"); a crashing job would otherwise look like a
  * clean EOF and silently truncate the output. When the task ends
  * (done, failed, cancelled or cut short by a limit), a job still
  * running is killed with its descendants, the feeding thread stopped
  * and an inline script deleted.
  */
private[graft] object PipeJob {
  private val StderrCap = 8192

  /** `input` through a user job per non-empty partition: `write`
    * streams the partition's rows onto the job's stdin, `read` decodes
    * its stdout into rows of `outSchema`. With a `script`, the job is
    * that script text, written to a task-local executable file and run
    * with `command` as its arguments (a body without a `#!` line runs
    * under `/bin/sh`). */
  def pipe(input: DataFrame, format: String, command: Seq[String], outSchema: StructType,
      script: Option[String] = None)(
      write: (Iterator[InternalRow], OutputStream) => Unit,
      read: InputStream => Iterator[InternalRow]): DataFrame = {
    val shown = (script.map(_ => "<inline script>") ++: command).mkString(" ")
    PartitionJob.over(input, outSchema, s"$format pipe: $shown") { rows =>
      if (!rows.hasNext) Iterator.empty
      else run(command, rows, write, read, script = script)
    }
  }

  /** `jobCount` jobs with no table input (the reference's vanilla
    * operation): job i sees EOF on stdin at once and `$YT_JOB_INDEX`
    * = i; `read` decodes their stdout into rows of `outSchema`. */
  def vanilla(spark: SparkSession, jobCount: Int, command: Seq[String], outSchema: StructType)(
      read: InputStream => Iterator[InternalRow]): DataFrame =
    PartitionJob.over(spark.range(0, jobCount, 1, jobCount), outSchema,
        s"vanilla pipe: ${command.mkString(" ")}") {
      _.flatMap(id => run[Nothing, InternalRow](command, Iterator.empty, (_, _) => (), read,
        env = Map("YT_JOB_INDEX" -> id.getLong(0).toString)))
    }

  /** One blob per partition of `df`: the bytes `write` makes of the
    * partition's rows — the stream a job would read on its stdin. */
  def encodeBlobs(df: DataFrame, format: String)(
      write: (Iterator[InternalRow], OutputStream) => Unit): Dataset[Array[Byte]] = {
    val blob = StructType(Seq(StructField("value", BinaryType, nullable = false)))
    PartitionJob.over(df, blob, s"$format encode") { rows =>
      val out = new ByteArrayOutputStream()
      write(rows, out)
      Iterator.single[InternalRow](InternalRow(out.toByteArray))
    }.as(Encoders.BINARY)
  }

  /** The rows `read` decodes from every blob, as a DataFrame of
    * `schema`. */
  def decodeBlobs(blobs: Dataset[Array[Byte]], format: String, schema: StructType)(
      read: InputStream => Iterator[InternalRow]): DataFrame =
    PartitionJob.over(blobs, schema, s"$format decode")(
      _.flatMap(b => read(new ByteArrayInputStream(b.getBinary(0)))))

  /** Start the process, retrying while exec fails with ETXTBSY (error
    * 26): an inline script written just before stays open for writing
    * in a child that another task thread is forking until that child
    * execs, and exec of the script fails meanwhile. */
  private def start(pb: ProcessBuilder, attempt: Int = 1): Process =
    try pb.start()
    catch {
      case e: IOException
          if attempt < 20 && String.valueOf(e.getMessage).contains("error=26") =>
        Thread.sleep(5L * attempt)
        start(pb, attempt + 1)
    }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** One user job: `command` (after the `script` file, if any) fed
    * `input` through `write`, its stdout read through `read`. */
  private def run[I, T](command: Seq[String], input: Iterator[I],
      write: (Iterator[I], OutputStream) => Unit,
      read: InputStream => Iterator[T],
      env: Map[String, String] = Map.empty,
      script: Option[String] = None): Iterator[T] = {
    val file: Option[Path] = script.map { body =>
      val f = Files.createTempFile("graft-inline-", ".sh")
      Files.writeString(f, body)
      f.toFile.setExecutable(true, false)
      f
    }
    val pb = new ProcessBuilder((file.map(_.toString) ++: command): _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = try start(pb) catch { case t: Throwable => file.foreach(Files.deleteIfExists); throw t }

    val stderr = new java.lang.StringBuilder
    val errThread = daemon("user job stderr") {
      val (in, buf) = (proc.getErrorStream, new Array[Byte](1024))
      try Iterator.continually(in.read(buf)).takeWhile(_ >= 0).foreach { n =>
        if (stderr.length < StderrCap)
          stderr.append(new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8))
      } catch { case _: IOException => } // the job was killed
    }
    // a failure of the input or the codec is kept; any other failure to
    // write is a broken pipe (the job closed stdin or exited), and the
    // exit code tells which
    val failure = new AtomicReference[Throwable]
    val keep: PartialFunction[Throwable, Nothing] = { case t => failure.compareAndSet(null, t); throw t }
    @volatile var stopped = false
    val fed = new Iterator[I] {
      def hasNext: Boolean = !stopped && (try input.hasNext catch keep)
      def next(): I = try input.next() catch keep
    }
    val writer = daemon("user job stdin") {
      val os = new BufferedOutputStream(proc.getOutputStream)
      try write(fed, os)
      catch { case _: IOException => case t: Throwable => failure.compareAndSet(null, t) }
      finally try os.close() catch { case _: IOException => }
    }

    def stop(): Unit = {
      stopped = true
      proc.descendants().forEach(p => { p.destroyForcibly(); () })
      proc.destroyForcibly()
      writer.interrupt()
      writer.join(10000)
      file.foreach(Files.deleteIfExists)
    }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => stop()))

    read(new BufferedInputStream(proc.getInputStream)) ++ {
      val code = proc.waitFor()
      writer.join()
      errThread.join(2000)
      stop()
      Option(failure.get).foreach(t => throw t)
      if (code != 0)
        throw new RuntimeException(
          s"User job failed with exit code $code" +
            (if (stderr.length > 0) s"; stderr: ${stderr.toString.take(StderrCap)}"
             else ""))
      Iterator.empty
    }
  }
}
