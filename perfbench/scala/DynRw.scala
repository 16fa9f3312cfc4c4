package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.DynTable
import graft.sources.Tables

/** dyn_rw: seeded reads and transactional writes against one sorted
  * dynamic table. The table is the orders-derived MVCC log of
  * `queries.Dyn` (k, ts, op, price, status), kept as a parquet directory
  * and read through `Tables.load`. Every commit appends one parquet file;
  * every `compactEvery` blocks of operations the log is rewritten by
  * `DynTable.compact`.
  *
  * The generator keeps an exact in-memory copy of the physical log, so
  * each read is checked against it and each commit's outcome (commit or
  * row-lock abort) is predicted before it runs. */
final class DynRw(r: Runner, baseDir: String, workDir: String, seed: Long) {
  private val dynDir = new File(workDir, "dyn").getPath
  private val logPath = Tables.path(dynDir, "log")
  private val keys = Seq("k")
  private val compactEvery = 4 // blocks
  private val rangeWidth = 64L

  private final case class V(ts: Long, del: Boolean, price: Double, status: String)
  // the physical log: per key, versions in ascending ts
  private val versions = mutable.HashMap[Long, ArrayBuffer[V]]()
  private var logRows = 0L
  private var maxTs = 0L
  private var horizon = 0L // versioned reads stay at or after the last compaction
  private var recency = ArrayBuffer[Long]() // keys, most recently written first
  private var zipfCdf: Array[Double] = Array.empty
  private val rnd = new java.util.Random(seed * 7919L + 17L)

  // outcome counters for the report
  private var commitsOk = 0; private var commitsAborted = 0; private var compactions = 0
  private var compactBytes = 0L
  private var blockNo = 0
  private var readRows = 0L
  private val readIds = ArrayBuffer[Long]()

  private val stagedSchema = StructType(Seq(
    StructField("k", LongType), StructField("op", StringType),
    StructField("price", DoubleType), StructField("status", StringType)))

  private def spark = r.spark

  private def load(): DataFrame = {
    val t0 = System.nanoTime()
    val df = Tables.load(spark, dynDir, "log")
    r.note("load_s", (System.nanoTime() - t0) / 1e9)
    df
  }

  /** Write the initial log (the orders-derived fixture of queries.Dyn) and,
    * once, the generator's copy of it. */
  def prepare(): Unit = {
    deleteRecursively(new File(dynDir))
    Tables.load(spark, baseDir, "orders").select(
      col("o_custkey").as("k"),
      col("o_orderkey").as("ts"),
      when(col("o_orderkey") % 17 === 0, DynTable.OpDelete)
        .otherwise(DynTable.OpUpsert).as("op"),
      col("o_totalprice").as("price"),
      col("o_orderstatus").as("status"))
      .coalesce(1).write.parquet(logPath)
    if (versions.isEmpty) {
      spark.read.parquet(logPath).collect().foreach { row =>
        versions.getOrElseUpdate(row.getLong(0), ArrayBuffer()) +=
          V(row.getLong(1), row.getString(2) == DynTable.OpDelete, row.getDouble(3), row.getString(4))
      }
      versions.values.foreach(vs => vs.sortInPlaceBy(_.ts))
      logRows = versions.values.map(_.size.toLong).sum
      maxTs = versions.values.map(_.last.ts).max
      recency = ArrayBuffer.from(versions.toSeq.sortBy(-_._2.last.ts).map(_._1))
      // Zipf(1.0) over recency ranks, with room for new keys
      val n = recency.size + 4096
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      var acc = 0.0
      zipfCdf = w.map { x => acc += x / total; acc }
    }
    load()
  }

  /** Untimed warm-up reads (checked like timed ones). */
  def warm(): Unit = {
    val k = recency.head
    if (!sameRows(collect(DynTable.lookup(load(), keys, Seq(Seq(k)))), expectLatest(Seq(k))))
      r.problems += "dyn warm-up lookup disagrees with the model"
    if (!sameRows(collect(range(DynTable.readLatest(load(), keys), k)), expectRange(k, maxTs)))
      r.problems += "dyn warm-up range read disagrees with the model"
  }

  private def collect(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def range(df: DataFrame, lo: Long): DataFrame =
    df.where(col("k").between(lo, lo + rangeWidth - 1))

  private def zipfKey(): Long = {
    while (true) {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(zipfCdf, u)
      if (i < 0) i = -i - 1
      if (i < recency.size) return recency(i)
    }
    0L
  }

  private def latestAt(k: Long, t: Long): Option[V] =
    versions.get(k).flatMap(vs => vs.reverseIterator.find(_.ts <= t)).filterNot(_.del)

  private def expectLatest(ks: Seq[Long]): Set[(Long, Double, String)] =
    ks.distinct.flatMap(k => latestAt(k, Long.MaxValue).map(v => (k, v.price, v.status))).toSet

  private def expectRange(lo: Long, t: Long): Set[(Long, Double, String)] =
    (lo until lo + rangeWidth).flatMap(k => latestAt(k, t).map(v => (k, v.price, v.status))).toSet

  private def sameRows(got: Seq[Row], want: Set[(Long, Double, String)]): Boolean = {
    val g = got.map(row => (row.getAs[Long]("k"), row.getAs[Double]("price"), row.getAs[String]("status")))
    g.size == want.size && g.toSet == want
  }

  /** A timed read: the result is compared with the model outside the timing. */
  private def read(name: String, want: => Set[(Long, Double, String)])(build: => DataFrame): OpResult = {
    var rows: Seq[Row] = Nil
    val res = r.op(name, "read", _ => logRows)(build)(df => rows = collect(df))
    if (r.recording) { readIds += res.id; readRows += rows.size }
    if (res.ok && !sameRows(rows, want)) res.copy(ok = false, error = s"$name disagrees with the model")
    else res
  }

  private def commit(stale: Boolean): OpResult = {
    val n = 1 + rnd.nextInt(8)
    val picked = mutable.LinkedHashSet[Long]()
    while (picked.size < n) {
      // 5% new keys; a stale transaction's first key is an existing one
      val fresh = !(stale && picked.isEmpty) && rnd.nextDouble() < 0.05
      picked += (if (fresh) recency.size.toLong + rnd.nextInt(1 << 20) + (1L << 32) else zipfKey())
    }
    val staged = picked.toSeq.map { k =>
      val del = rnd.nextDouble() < 0.15
      (k, del, math.round(rnd.nextDouble() * 50000000.0) / 100.0,
        Seq("F", "O", "P")(rnd.nextInt(3)))
    }
    // a stale transaction started before the latest write of its first key
    val startTs = if (stale) versions.get(staged.head._1).map(_.last.ts - 1).getOrElse(maxTs) else maxTs
    val commitTs = maxTs + 1
    val expectAbort = staged.exists { case (k, _, _, _) =>
      versions.get(k).exists(_.exists(v => v.ts > startTs && v.ts <= commitTs))
    }
    val rows = staged.map { case (k, del, p, s) =>
      Row(k, if (del) DynTable.OpDelete else DynTable.OpUpsert, p, s)
    }
    val res = r.op("dyn_commit", "write", _ => logRows) {
      val stagedDf = spark.createDataFrame(rows.asJava, stagedSchema)
      DynTable.commitTransaction(load(), stagedDf, keys, lit(startTs), lit(commitTs))
        .where(col("ts") === commitTs)
    } { df => df.coalesce(1).write.mode("append").parquet(logPath) }
    val conflict = !res.ok && res.error.contains("Row lock conflict")
    if (res.ok) {
      staged.foreach { case (k, del, p, s) =>
        val vs = versions.getOrElseUpdate(k, ArrayBuffer())
        vs += V(commitTs, del, p, s)
        recency -= k; recency.prepend(k)
      }
      logRows += staged.size
      maxTs = commitTs
      commitsOk += 1
    } else if (conflict) commitsAborted += 1
    // an aborted commit still read the log for its conflict check
    if (if (expectAbort) conflict else res.ok) res.copy(ok = true, sourceRows = logRows)
    else res.copy(ok = false, error =
      if (expectAbort && res.ok) "stale commit was not aborted" else s"commit failed: ${res.error}")
  }

  private def compact(): OpResult = {
    val tmp = new File(dynDir, "compact.tmp")
    val res = r.op("dyn_compact", "write", _ => logRows)(DynTable.compact(load(), keys)) { df =>
      deleteRecursively(tmp)
      df.coalesce(1).write.parquet(tmp.getPath)
      deleteRecursively(new File(logPath))
      if (!tmp.renameTo(new File(logPath))) throw new IllegalStateException("compaction swap failed")
    }
    if (res.ok) {
      compactions += 1
      compactBytes += parquetBytes(new File(logPath))
      versions.keys.toSeq.foreach { k =>
        val vs = versions(k)
        vs.lastOption.filterNot(_.del) match {
          case Some(v) => vs.clear(); vs += v
          case None => versions.remove(k)
        }
      }
      logRows = versions.values.map(_.size.toLong).sum
      horizon = maxTs
    }
    res
  }

  /** The seeded operation stream: blocks of ten operations with a fixed
    * composition (3 lookups, 2 range reads, 2 versioned reads, 2 commits
    * and 1 commit with a stale start timestamp) in seeded order; after
    * every `compactEvery`-th block (the warm-up block counts) the log is
    * compacted. Every seed thus reads and writes the same amounts against
    * the same log sizes. */
  def stream(blocks: Int): Seq[() => OpResult] = {
    val block = Seq('L', 'L', 'L', 'R', 'R', 'A', 'A', 'C', 'C', 'S')
    (0 until blocks).flatMap { _ =>
      blockNo += 1
      val ops = r.shuffle(block, rnd).map(op)
      if (blockNo % compactEvery == 0) ops :+ (() => compact()) else ops
    }
  }

  private def op(kind: Char): () => OpResult = () => kind match {
    case 'L' =>
      val ks = Seq.fill(1 + rnd.nextInt(16))(zipfKey()).distinct
      read("dyn_lookup", expectLatest(ks))(DynTable.lookup(load(), keys, ks.map(Seq(_))))
    case 'R' =>
      val lo = zipfKey()
      read("dyn_range", expectRange(lo, maxTs))(range(DynTable.readLatest(load(), keys), lo))
    case 'A' =>
      val lo = zipfKey()
      val t = horizon + (rnd.nextDouble() * (maxTs - horizon)).toLong
      read("dyn_asof", expectRange(lo, t))(range(DynTable.readAsOf(load(), keys, lit(t)), lo))
    case 'C' => commit(stale = false)
    case _ => commit(stale = true)
  }

  private def parquetBytes(d: File): Long =
    Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.length).sum

  private def parquetFiles(d: File): Int =
    Option(d.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))

  /** Run-end accounting: log size, space amplification against the
    * compacted latest state, write/read latency split. */
  def finish(extra: mutable.Map[String, Double], report: mutable.Map[String, Any]): Unit = {
    val logBytes = parquetBytes(new File(logPath))
    val state = new File(dynDir, "state.tmp")
    deleteRecursively(state)
    DynTable.compact(load(), keys).coalesce(1).write.parquet(state.getPath)
    val stateBytes = parquetBytes(state)
    deleteRecursively(state)
    val res = r.results
    val reads = res.filter(_.kind == "read").toSeq
    val writes = res.filter(_.kind == "write").toSeq
    report("space_amp") = logBytes.toDouble / stateBytes
    report("read_p50_s") = r.latency(reads, 0.5)
    report("read_p90_s") = r.latency(reads, 0.9)
    report("write_p50_s") = r.latency(writes, 0.5)
    report("write_p90_s") = r.latency(writes, 0.9)
    report("reads") = reads.size
    report("writes") = writes.size
    report("commits_ok") = commitsOk
    report("commits_aborted") = commitsAborted
    report("compactions") = compactions
    report("log_rows") = logRows
    extra("operators.commit_s") = r.spans.filter(_.name == "dyn_commit").map(s => (s.endNs - s.startNs) / 1e9).sum
    extra("operators.compact_s") = r.spans.filter(_.name == "dyn_compact").map(s => (s.endNs - s.startNs) / 1e9).sum
    extra("operators.compact_mb_rewritten") = compactBytes / 1048576.0
    extra("operators.log_files") = parquetFiles(new File(logPath))
    extra("operators.log_mb") = logBytes / 1048576.0
    if (r.listener != null && readRows > 0) {
      r.listener.drain()
      val scanned = readIds.flatMap(id => Seq("construct", "exec").flatMap(p => r.listener.get(id, p)))
        .map(_.inputRows.get).sum
      extra("operators.rows_scanned_per_key") = scanned.toDouble / readRows
    }
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
