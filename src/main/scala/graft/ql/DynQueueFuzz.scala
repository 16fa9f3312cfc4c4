package graft.ql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DynTable

/** Differential fuzz domain `fz_dynq`: queue-consumer EXACTLY-ONCE
  * under randomized pull/advance/trim interleavings, plus
  * producer-retry exactly-once.
  *
  * A seeded ordered queue (events sharded into tablets, offsets from
  * the real [[DynTable.withOffsets]]) is consumed through the real
  * verbs — pullForConsumer / advanceConsumer — in seeded batch sizes,
  * with autoTrim (the consumer vital) fired between batches at seeded
  * points and a seeded retained_rows floor. The invariant the domain
  * pins: NO interleaving of trims with a vital consumer's advances can
  * lose or duplicate a row — the multiset of all pulled batches is
  * exactly the queue, per tablet, every time. The oracle replays the
  * queue content (and the retained tail) from first principles — it
  * never sees offsets, registries, or trim bounds.
  *
  * Cases (uniform `(case_id, n, chk)`):
  *   0 single consumer, seeded batches + interleaved autoTrims:
  *     consumed multiset ≡ full queue
  *   1 two consumers (both vital, different batch schedules),
  *     interleaved trims bounded by the SLOWER one: each consumes the
  *     full queue — checksummed together (n = 2·rows)
  *   2 the queue AFTER full consumption + final autoTrim with a
  *     seeded retained_rows floor ≡ the last R rows of every tablet
  *   3 producer retry: overlapping seeded batches through
  *     pushQueueProducer land each sequence number exactly once
  *
  * Reference semantics: queue_client.h:109-154 (PullQueue /
  * RegisterQueueConsumer / AdvanceQueueConsumer), queues.md
  * #automatic_trimming (vital consumers + retained_rows),
  * queue_client.h:78-152 producer sessions (sequence-number fencing).
  */
object DynQueueFuzz {
  import DynFuzz.{mix, summarize}

  final case class Params(tablets: Int, batchA: Long, batchB: Long,
      trimEvery: Int, retained: Long, pushSplit: Long, pushOverlap: Long)

  def params(seed: Long): Params = {
    def pick(i: Long, m: Int) = ((mix(seed + i) & Long.MaxValue) % m).toInt
    Params(
      tablets = Array(2, 3, 5)(pick(0, 3)),
      batchA = Array(61L, 131L, 257L, 509L)(pick(1, 4)),
      batchB = Array(97L, 181L, 331L)(pick(2, 3)),
      trimEvery = Array(1, 2, 3)(pick(3, 3)),
      retained = Array(0L, 5L, 23L)(pick(4, 3)),
      pushSplit = 40L + (mix(seed + 5) & Long.MaxValue) % 200,
      pushOverlap = 1L + (mix(seed + 6) & Long.MaxValue) % 39)
  }

  /** The seeded queue over a BOUNDED slice (event_id < 3000 — the
    * driver-side pull loop is per-batch; the slice keeps it ≤ ~25
    * batches at the smallest seeded batch size): one tablet per
    * event_id residue, offsets in event_id order — the oracle
    * rebuilds it with a window. */
  private def queue(events: DataFrame, p: Params): DataFrame =
    DynTable.withOffsets(
      events.select(col("event_id"), col("value"))
        .where(col("event_id") < SliceMax),
      pmod(col("event_id"), lit(p.tablets)), Seq(col("event_id")))

  private val SliceMax = 3000L

  private def rowChk: Column =
    col("tablet_index") * 1000003L + col("row_index") * 31L + col("event_id")

  /** (n, chk) of one pulled batch, accumulated driver-side. The batch
    * is bounded by the seeded batch size (≤ 509) and the whole run by
    * the SliceMax slice, so the collect is a bounded sliver — the same
    * contract as the offset reads. chk is the integer checksum
    * [[rowChk]] computes in-plan (exact Long arithmetic either way).
    */
  private def batchStats(pulled: DataFrame): (Long, Long) = {
    val rows = pulled.select(col("tablet_index").cast("long"),
      col("row_index").cast("long"), col("event_id").cast("long")).collect()
    var chk = 0L
    rows.foreach { r =>
      chk += r.getLong(0) * 1000003L + r.getLong(1) * 31L + r.getLong(2)
    }
    (rows.length.toLong, chk)
  }

  /** Drive one consumer over one tablet to exhaustion: read the
    * registry offset (the real consumerOffset round-trip), pull a
    * seeded batch at it, advance, autoTrim every `trimEvery` batches
    * (consumer vital). The queue frame is REBOUND after each trim.
    * Driver-side loop over offsets + bounded batch stats only; each
    * pull is a pruned scan. Returns the consumed multiset's (n, chk).
    */
  private def consumeAll(queue0: DataFrame, tablet: Int, batch: Long,
      trimEvery: Int, consumer: String): (Long, Long) = {
    var q = queue0
    var reg = DynTable.emptyConsumerRegistry(queue0.sparkSession)
    var ts = 1L
    var n = 0L
    var chk = 0L
    var done = false
    var i = 0
    // client-cached committed offset (what a real consumer keeps
    // between commits): re-read from the registry through the real
    // consumerOffset round-trip at start and after EVERY trim — the
    // points where registry state and queue state interact — and
    // advanced locally in between (pullForConsumer is BY DEFINITION
    // pullQueue at consumerOffset; each advance's value is the same
    // offset the read would return)
    var off = DynTable.consumerOffset(reg, consumer, tablet.toLong)
    while (!done) {
      val (got, bchk) = batchStats(DynTable.pullQueue(q, tablet, off, batch))
      if (got == 0) done = true
      else {
        n += got; chk += bchk
        reg = DynTable.advanceConsumer(reg, consumer, tablet.toLong,
          off + got, ts)
        off += got
        ts += 1
        i += 1
        // cut the trim-join lineage: each autoTrim nests a join over
        // the previous queue plan — checkpoint keeps the loop linear.
        // (The registry stays a LocalRelation union on purpose:
        // checkpointing it turns every offset read and trim broadcast
        // into an RDD job — measured 2x slower overall.)
        if (i % trimEvery == 0) {
          q = DynTable.autoTrim(q, reg, Seq(consumer), retainedRows = 0L)
            .localCheckpoint(eager = false) // materializes on next pull
          off = DynTable.consumerOffset(reg, consumer, tablet.toLong)
        }
      }
    }
    (n, chk)
  }

  def run(spark: SparkSession, events: DataFrame, seed: Long): DataFrame = {
    val p = params(seed)
    val q0 = queue(events, p).cache()

    // case 0: single consumer, tablet seeded by the batch size
    val t0 = (p.batchA % p.tablets).toInt
    val (n0, chk0) = consumeAll(q0, t0, p.batchA, p.trimEvery, "cA")

    // case 1: two vital consumers on one tablet, interleaved — trims
    // bound by the slower; both must see every row exactly once
    val t1 = (p.batchB % p.tablets).toInt
    val (n1, chk1) = {
      var q = q0
      var reg = DynTable.emptyConsumerRegistry(spark)
      var ts = 100L
      var n = 0L
      var chk = 0L
      var done = false
      var i = 0
      // per-consumer client-cached offsets, re-read through the real
      // registry round-trip after every trim (same posture as
      // consumeAll above)
      val offs = scala.collection.mutable.Map(
        "cX" -> DynTable.consumerOffset(reg, "cX", t1.toLong),
        "cY" -> DynTable.consumerOffset(reg, "cY", t1.toLong))
      while (!done) {
        var progressed = false
        for ((name, batch) <- Seq(("cX", p.batchA), ("cY", p.batchB))) {
          val off = offs(name)
          val (got, bchk) = batchStats(DynTable.pullQueue(q, t1, off, batch))
          if (got > 0) {
            progressed = true
            n += got; chk += bchk
            reg = DynTable.advanceConsumer(reg, name, t1.toLong, off + got, ts)
            offs(name) = off + got
            ts += 1
          }
        }
        i += 1
        if (i % p.trimEvery == 0) {
          q = DynTable.autoTrim(q, reg, Seq("cX", "cY"), retainedRows = 0L)
            .localCheckpoint(eager = false) // materializes on next pull
          offs("cX") = DynTable.consumerOffset(reg, "cX", t1.toLong)
          offs("cY") = DynTable.consumerOffset(reg, "cY", t1.toLong)
        }
        if (!progressed) done = true
      }
      (n, chk)
    }

    // cases 0/1 land as local rows (the consumed multisets were
    // accumulated batch-by-batch above)
    import spark.implicits._
    val c01 = Seq((0L, n0, chk0), (1L, n1, chk1))
      .toDF("case_id", "n", "chk")

    // case 2: consume everything on every tablet, then one final
    // autoTrim with the seeded retained_rows floor — the queue keeps
    // exactly the newest `retained` rows per tablet
    val c2 = {
      var reg = DynTable.emptyConsumerRegistry(spark)
      val highs = q0.groupBy("tablet_index")
        .agg((max(col("row_index")) + 1).as("hi")).collect()
      highs.foreach { r =>
        reg = DynTable.advanceConsumer(reg, "cZ", r.getAs[Number](0).longValue,
          r.getLong(1), ts = 500L)
      }
      val trimmed = DynTable.autoTrim(q0, reg, Seq("cZ"), p.retained)
      summarize(trimmed, 2, rowChk)
    }

    // case 3: producer retry — batch [0, split+overlap) then a retry
    // [split, end); sequence fencing lands every event exactly once
    val c3 = {
      val rows = events.select(col("event_id").as("seq"), col("value"))
        .where(col("seq") < SliceMax)
      val queue0 = rows.limit(0)
      var producer = DynTable.emptyProducer(spark)
      val (p1, epoch, _) = DynTable.createProducerSession(producer, "fz", 1L)
      producer = p1
      val r1 = DynTable.pushQueueProducer(queue0, producer, "fz", epoch,
        rows.where(col("seq") < p.pushSplit + p.pushOverlap), "seq", 2L)
      val r2 = DynTable.pushQueueProducer(r1.queue, r1.producer, "fz", epoch,
        rows.where(col("seq") >= p.pushSplit), "seq", 3L)
      summarize(r2.queue, 3, col("seq") * 17L)
    }

    Seq(c01, c2, c3).reduce(_ unionByName _)
  }

  /** First-principles oracle: the queue content itself (exactly-once
    * means the consumed multiset IS the queue), the retained tail,
    * and the distinct-seq push. */
  def oracleSql(seed: Long): String = {
    val p = params(seed)
    val q =
      s"""SELECT event_id,
         |  event_id %% ${p.tablets} AS tablet_index,
         |  row_number() OVER (PARTITION BY event_id %% ${p.tablets}
         |    ORDER BY event_id) - 1 AS row_index
         |FROM events WHERE event_id < 3000""".stripMargin.replace("%%", "%")
    val chk = "tablet_index * 1000003 + row_index * 31 + event_id"
    val t0 = p.batchA % p.tablets
    val t1 = p.batchB % p.tablets
    s"""WITH q AS ($q)
       |SELECT CAST(0 AS BIGINT) AS case_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(coalesce(sum($chk), 0) AS BIGINT) AS chk
       |FROM q WHERE tablet_index = $t0
       |UNION ALL
       |SELECT CAST(1 AS BIGINT), CAST(2 * count(*) AS BIGINT),
       |  CAST(coalesce(2 * sum($chk), 0) AS BIGINT)
       |FROM q WHERE tablet_index = $t1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum($chk), 0) AS BIGINT)
       |FROM (
       |  SELECT *, max(row_index) OVER (PARTITION BY tablet_index) AS hi
       |  FROM q)
       |WHERE row_index >= hi + 1 - ${p.retained}
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(event_id * 17), 0) AS BIGINT)
       |FROM events WHERE event_id < 3000""".stripMargin
  }
}
