package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** Shared external-process plumbing for the user-job pipe operators
  * (Dsv/Skiff/Protobuf pipeMap): stdin fed from a daemon thread,
  * stdout drained as the task's output iterator, stderr captured
  * (bounded) on a third thread so a chatty job can't deadlock the
  * pipe buffers.
  *
  * Exit-code contract (reference user_job.cpp "User job failed with
  * exit code"): once stdout is exhausted the process must have exited
  * 0, otherwise the TASK fails with the code and a stderr excerpt.
  * Without this check a crashing job (OOM-kill, segfault, nonzero
  * exit) looks exactly like clean EOF and silently truncates the
  * operation's output — at 100 TB that is data loss, not an error.
  */
private[graft] object PipeJob {
  private val StderrCap = 8192

  /** Start the process, retrying while exec fails with ETXTBSY (error
    * 26): a script written just before (Streams.processInline) stays
    * open for writing in a child that another task thread is forking
    * until that child execs, and exec of the script fails meanwhile. */
  private def start(pb: ProcessBuilder, attempt: Int = 1): Process =
    try pb.start()
    catch {
      case e: java.io.IOException
          if attempt < 20 && String.valueOf(e.getMessage).contains("error=26") =>
        Thread.sleep(5L * attempt)
        start(pb, attempt + 1)
    }

  def run[T](command: Seq[String],
      write: OutputStream => Unit,
      read: InputStream => Iterator[T],
      env: Map[String, String] = Map.empty): Iterator[T] = {
    val pb = new ProcessBuilder(command: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = start(pb)
    val stderr = new java.lang.StringBuilder
    val errThread = new Thread {
      override def run(): Unit = {
        val in = proc.getErrorStream
        val buf = new Array[Byte](1024)
        var n = in.read(buf)
        while (n >= 0) {
          if (stderr.length < StderrCap)
            stderr.append(new String(buf, 0, n,
              java.nio.charset.StandardCharsets.UTF_8))
          n = in.read(buf)
        }
      }
    }
    errThread.setDaemon(true)
    errThread.start()
    val writer = new Thread {
      override def run(): Unit = {
        val os = new java.io.BufferedOutputStream(proc.getOutputStream)
        // a broken pipe here means the job exited mid-read; the exit
        // code check below reports it — don't mask it with an IO trace
        try { write(os); os.close() }
        catch { case _: java.io.IOException => }
      }
    }
    writer.setDaemon(true)
    writer.start()
    val out = read(new java.io.BufferedInputStream(proc.getInputStream))
    out ++ {
      val code = proc.waitFor()
      errThread.join(2000)
      if (code != 0)
        throw new RuntimeException(
          s"User job failed with exit code $code" +
            (if (stderr.length > 0) s"; stderr: ${stderr.toString.take(StderrCap)}"
             else ""))
      Iterator.empty
    }
  }

  /** A user job per partition of `input`, in the Catalyst
    * representation on both sides: `write` streams the partition's rows
    * onto the job's stdin, `read` decodes its stdout into rows of
    * `outSchema`. An empty partition starts no process. */
  def pipeInternal(input: DataFrame, command: Seq[String], outSchema: StructType)(
      write: (Iterator[InternalRow], OutputStream) => Unit,
      read: InputStream => Iterator[InternalRow]): DataFrame = {
    val rdd = input.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else run(command, os => write(rows, os), read)
    }
    shims.internalCreateDataFrame(input.sparkSession, rdd, outSchema)
  }

  /** One blob per partition of `df`: the bytes `write` makes of the
    * partition's rows — the stream a job would read on its stdin. */
  def encodeBlobs(df: DataFrame)(
      write: (Iterator[InternalRow], OutputStream) => Unit): Dataset[Array[Byte]] = {
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      val out = new ByteArrayOutputStream()
      write(rows, out)
      Iterator.single[InternalRow](InternalRow(out.toByteArray))
    }
    val blob = StructType(Seq(StructField("value", BinaryType, nullable = false)))
    shims.internalCreateDataFrame(df.sparkSession, rdd, blob).as(Encoders.BINARY)
  }

  /** The rows `read` decodes from every blob, as a DataFrame of
    * `schema`. */
  def decodeBlobs(blobs: Dataset[Array[Byte]], schema: StructType)(
      read: InputStream => Iterator[InternalRow]): DataFrame = {
    val rdd = blobs.queryExecution.toRdd.mapPartitions(
      _.flatMap(b => read(new ByteArrayInputStream(b.getBinary(0)))))
    shims.internalCreateDataFrame(blobs.sparkSession, rdd, schema)
  }
}
