package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Streaming semantics of the reference (SURVEY.md §2.C queues, §2.D
  * streaming ops) on Structured Streaming.
  *
  *   - Ordered tables / queues (`PullQueue`, `PullQueueConsumer`,
  *     queue_client.h:101-154): an append-only table consumed by
  *     offset. [[readQueue]] is the streaming read; a consumer's
  *     registered offset (RegisterQueueConsumer) is exactly the
  *     checkpointed source offset — resuming a query with the same
  *     checkpoint continues past consumed data, the exactly-once
  *     contract the queue agent provides.
  *   - Hopping windows (mkql_multihopping.h, watermark-driven
  *     TWatermark mkql_watermark.h:8-9): `window(ts, size, hop)` +
  *     `withWatermark` — Spark owns state eviction by watermark.
  *   - Session windows (yql_opt_window.cpp:3364-3377
  *     SessionWindowTraits): `session_window(ts, gap)`.
  *   - TimeOrderRecover (mkql_time_order_recover.h) re-emits events in
  *     event-time order within a bounded delay: in batch a per-key
  *     sort; in streaming the watermark + window aggregation already
  *     subsumes it.
  *
  * All helpers take/return DataFrames so they run identically on a
  * batch frame or a streaming one — Spark's unified model replaces the
  * reference's separate queue/stream machinery. At scale the windowed
  * aggregations shuffle once on (key, window) with partial aggregation;
  * session windows merge per key in the state store.
  */
object Streams {

  /** Queue consumer: ordered-table directory as a streaming source.
    * Offsets live in the checkpoint — pass the same checkpointLocation
    * to resume (the consumer registration). */
  def readQueue(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Hopping (sliding) window aggregation: each event lands in
    * size/hop windows. Works batch and streaming; pass a watermarked
    * frame for streaming state eviction. */
  def hoppingWindow(df: DataFrame, ts: Column, size: String, hop: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(ts, size, hop) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Session window aggregation: sessions close after `gap` of
    * inactivity per key; session = [first_ts, last_ts + gap). */
  def sessionWindow(df: DataFrame, ts: Column, gap: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(ts, gap) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Event-time watermark: bound on out-of-orderness for stateful ops. */
  def withWatermark(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  /** TimeOrderRecover for batch frames: restore event-time order per
    * key without a global sort — shuffle on key, sort within
    * partitions. */
  def timeOrderRecover(df: DataFrame, key: Column, ts: Column): DataFrame =
    df.repartition(key).sortWithinPartitions(key, ts)

  /** Stream-stream interval join: left events match right events on
    * `keys` with rightTs in [leftTs+lower, leftTs+upper]. Both sides
    * must carry watermarks in streaming mode — the time bounds let
    * Spark evict join state once the watermark passes the interval, so
    * state stays proportional to the window, not the stream (the
    * YQL streaming-join equivalent; batch frames run it as a plain
    * range-predicate join on the same expression).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, lower: String, upper: String): DataFrame = {
    // both sides aliased: when left and right derive from the SAME
    // frame (two filters of one source — the common pattern),
    // `left(k) === right(k)` is the Dataset API's self-join ambiguity
    // trap (Spark logs "trivially true equals predicate" and rescues
    // it heuristically); alias-qualified refs are unambiguous
    val l = left.alias("__ij_l")
    val r = right.alias("__ij_r")
    def lc(c: String) = col(s"__ij_l.$c")
    def rc(c: String) = col(s"__ij_r.$c")
    val keyCond = keys.map(k => lc(k) === rc(k)).reduce(_ && _)
    val timeCond =
      rc(rightTs) >= lc(leftTs) + expr(s"INTERVAL $lower") &&
        rc(rightTs) <= lc(leftTs) + expr(s"INTERVAL $upper")
    l.join(r, keyCond && timeCond)
  }

  /** Streaming exact deduplication: first occurrence per key wins;
    * duplicates arriving within the watermark delay are dropped with
    * bounded state (dropDuplicatesWithinWatermark — state evicts as
    * the watermark advances, the scale requirement for dedup over an
    * unbounded stream). Batch frames fall back to plain
    * dropDuplicates. */
  def dedupStream(df: DataFrame, keys: Seq[String]): DataFrame =
    if (df.isStreaming) df.dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
    else df.dropDuplicates(keys)

  /** Queue → sorted dynamic table: the reference's standard ingestion
    * loop (PullQueueConsumer feeding InsertRows/DeleteRows into a
    * sorted table). Each micro-batch of write-log rows (key..., ts, op,
    * values...) is appended to the table's log store; reads go through
    * [[graft.operators.DynTable]]'s merge verbs, periodic
    * [[graft.operators.DynTable.compact]] keeps the store bounded.
    *
    * Exactly-once: every batch lands at a batchId-deterministic path in
    * overwrite mode, so a retried epoch REPLACES its own partial output
    * instead of appending duplicates — idempotent against the
    * checkpoint's replay, the same contract queue-consumer offsets give
    * the reference. The store stays an append-only family of parquet
    * directories: no read-modify-write, writers never touch data a
    * concurrent reader may hold open.
    */
  def upsertSinkBatch(statePath: String)(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")

  def upsertSink(stream: DataFrame, statePath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(upsertSinkBatch(statePath) _)
      .start()

  /** Queue → KEYED catalog table: each micro-batch UPSERTs into the
    * target through [[graft.functions.YqlDml]]'s key merge — the
    * streaming face of the script-DML surface (queues.md's standard
    * consumer loop landing in a sorted table). Duplicate delivery is
    * absorbed by the merge itself: replaying an epoch upserts the same
    * keys to the same values (idempotent by construction), so the
    * checkpoint's at-least-once becomes effectively-once in the table.
    * Registered secondary indexes stay in sync per batch (YqlDml's
    * pre-swap maintenance). */
  def keyedUpsertSink(stream: DataFrame, target: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.functions.YqlDml.upsert(batch.sparkSession, target,
            batch, Nil, replace = false)
        ()
      }
      .start()

  /** Read the sink's accumulated write log back as one DataFrame. */
  def readState(spark: SparkSession, statePath: String): DataFrame =
    spark.read.option("basePath", statePath).parquet(s"$statePath/batch=*")

  /** Streaming::Process (udfs/common/streaming/streaming_udf.cpp:694):
    * pipe string records through an external command — records joined
    * by inputDelimiter into the process stdin, stdout split on
    * outputDelimiter into the result rows (a final unterminated chunk
    * still emits, like the reference's stream matcher callback). A NULL
    * record fails the task. With a `script`, this is
    * Streaming::ProcessInline (streaming_udf.cpp:738): the script body
    * runs from a task-local file with `command` as its arguments.
    *
    * One process per partition over [[graft.sources.PipeJob]] (the
    * user-job pipe contract: exit-code check, bounded stderr capture,
    * no pipe-buffer deadlock) — identical code path on a batch frame
    * and a streaming micro-batch, so the module works inside
    * `readStream → process → writeStream` unchanged. Output column:
    * `value: string`.
    */
  def process(input: DataFrame, textCol: String, command: Seq[String],
      inputDelimiter: String = "\n", outputDelimiter: String = "\n",
      script: Option[String] = None): DataFrame = {
    val value = StructType(Seq(StructField("value", StringType)))
    graft.sources.PipeJob.pipe(input.select(col(textCol).cast("string")), "text",
        command, value, script)(
      (rows, out) => {
        val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          out, java.nio.charset.StandardCharsets.UTF_8))
        rows.foreach { r =>
          if (r.isNullAt(0))
            throw new IllegalArgumentException(
              s"Streaming::Process: NULL record in column $textCol")
          w.write(r.getUTF8String(0).toString); w.write(inputDelimiter)
        }
        w.flush()
      },
      in => splitStream(in, outputDelimiter).map(l => InternalRow(UTF8String.fromString(l))))
  }

  /** [[process]] of an inline script body. */
  def processInline(input: DataFrame, textCol: String, script: String,
      args: Seq[String] = Nil,
      inputDelimiter: String = "\n", outputDelimiter: String = "\n"): DataFrame =
    process(input, textCol, args, inputDelimiter, outputDelimiter, Some(script))

  /** Split a byte stream into records on an arbitrary delimiter. The
    * terminal chunk emits even without a trailing delimiter; a trailing
    * delimiter does NOT emit an empty final record. */
  private def splitStream(in: java.io.InputStream,
      delimiter: String): Iterator[String] = {
    val r = new java.io.BufferedReader(new java.io.InputStreamReader(
      in, java.nio.charset.StandardCharsets.UTF_8))
    if (delimiter == "\n") {
      new Iterator[String] {
        private var nextLine = r.readLine()
        def hasNext: Boolean = nextLine != null
        def next(): String = { val l = nextLine; nextLine = r.readLine(); l }
      }
    } else {
      // general delimiter: buffered scan (delimiters are short strings;
      // records emit as soon as a full delimiter is seen)
      new Iterator[String] {
        private val sb = new java.lang.StringBuilder
        private var pending: String = null
        private var eof = false
        private def advance(): Unit = {
          while (pending == null && !eof) {
            val c = r.read()
            if (c < 0) {
              eof = true
              if (sb.length > 0) { pending = sb.toString; sb.setLength(0) }
            } else {
              sb.append(c.toChar)
              if (sb.length >= delimiter.length &&
                  sb.indexOf(delimiter, sb.length - delimiter.length) >= 0) {
                pending = sb.substring(0, sb.length - delimiter.length)
                sb.setLength(0)
              }
            }
          }
        }
        def hasNext: Boolean = { advance(); pending != null }
        def next(): String = { advance(); val p = pending; pending = null; p }
      }
    }
  }
}
