package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DynTable, Operations}
import graft.plans.SecondaryIndex
import graft.sources.Tables

/** Dynamic-table data-plane surface (SURVEY.md §2.C) — lookup, upsert
  * merge, tombstones, aggregate columns, versioned reads, ordered-table
  * offsets and queue pulls — each as a deterministic transform of the
  * testdata so a DuckDB oracle can replay the identical semantics.
  *
  * The shared fixture: `orders` re-read as a write log for a sorted
  * dynamic table keyed by customer — ts = o_orderkey (monotone version),
  * op = delete on every 17th key (tombstones), values (price, status).
  */
object Dyn {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** orders → MVCC write log: (k, ts, op, price, status). */
  private def log(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(
      col("o_custkey").as("k"),
      col("o_orderkey").as("ts"),
      when(col("o_orderkey") % 17 === 0, DynTable.OpDelete)
        .otherwise(DynTable.OpUpsert).as("op"),
      col("o_totalprice").as("price"),
      col("o_orderstatus").as("status"))

  private val logSql =
    """SELECT o_custkey AS k, o_orderkey AS ts,
      |  CASE WHEN o_orderkey % 17 = 0 THEN 'delete' ELSE 'upsert' END AS op,
      |  o_totalprice AS price, o_orderstatus AS status FROM orders""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Latest-wins merge over the write log; tombstoned keys dropped
    // (TSchemafulRowMerger, row_merger.cpp:19-186).
    "dyn_upsert_latest" -> ((s, d) =>
      DynTable.readLatest(log(s, d), Seq("k"))),

    // Computed key columns (column_evaluator.h EvaluateKeys; the
    // write-path evaluation the derived-predicate pruning rule relies
    // on): the computed `h := k % 120` materializes on write, and the
    // oracle replays the arithmetic over the key-range read — the
    // evaluation semantics themselves hash-gated (the pruning side
    // keeps its ql_computed_columns_ut.cpp port specs).
    "dyn_computed_column" -> ((s, d) => {
      import graft.plans.ComputedColumns
      val spec = ComputedColumns.Spec("k", "h", (c: org.apache.spark.sql.Column) => c % 120)
      ComputedColumns.withComputed(
        t(s, d, "orders").select(col("o_orderkey").as("k"),
          col("o_totalprice").as("p")), spec)
        .filter(col("k") >= 100 && col("k") < 5000)
        .select(col("h").cast("long").as("h"), col("k"), col("p"))
    }),

    // Resharding (tablet pivot keys, reshard-table.md): tabletOf maps
    // each key to the tablet whose [pivot_i, pivot_i+1) range holds it;
    // the oracle replays the pivot arithmetic, proving the boundary
    // semantics (inclusive lower pivots) exactly — the per-tablet
    // min/max also pin that ranges never overlap.
    "dyn_reshard" -> ((s, d) => {
      val pivots = Seq(500L, 2000L, 10000L)
      DynTable.reshard(
        t(s, d, "orders").select(col("o_orderkey").as("k")), "k", pivots)
        .groupBy("tablet_index")
        .agg(count("k").cast("long").as("n"),
          min("k").as("lo"), max("k").as("hi"))
        .select(col("tablet_index").cast("int").as("tablet_index"),
          col("n"), col("lo"), col("hi"))
    }),

    // Major compaction transparency (store_compactor.cpp semantics):
    // compact the log's older half, keep the newer half as live writes,
    // read latest — the oracle merges the FULL history, so the compare
    // proves compaction is invisible to every subsequent read.
    "dyn_compact" -> ((s, d) => {
      val l = log(s, d)
      val mid = t(s, d, "orders").agg((max("o_orderkey") / 2).cast("long"))
        .scalar()
      val compacted = DynTable.compact(l.where(col("ts") <= mid), Seq("k"))
      DynTable.readLatest(compacted.unionByName(l.where(col("ts") > mid)),
        Seq("k"))
    }),

    // Bulk insert (bulk_insert.md; test_bulk_insert.py
    // test_basic_bulk_insert): a map operation's output lands in the
    // sorted table atomically under ONE commit timestamp past every
    // live version; the merged read reflects the operation, with
    // columns the operation didn't produce as nulls.
    "dyn_bulk_insert" -> ((s, d) => {
      val l = log(s, d)
      val commitTs = t(s, d, "orders")
        .agg((max("o_orderkey") + 1).cast("long")).scalar()
      val opOut = t(s, d, "customer")
        .filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          (col("c_acctbal") * 2).as("price"))
      DynTable.readLatest(
        DynTable.bulkInsert(l, opOut, Seq("k"), commitTs), Seq("k"))
    }),

    // Transactional commit (dynamic_table_transaction.h): stage
    // updates and deletes at a start ts, commit atomically under one
    // commit ts with optimistic row-lock validation against the
    // ts-pruned log sliver (no concurrent writers here, so it
    // commits; conflict aborts are spec-verified).
    "dyn_transaction" -> ((s, d) => {
      val l = log(s, d)
      val maxTs = t(s, d, "orders").agg(max("o_orderkey").cast("long")).scalar()
      val staged = t(s, d, "customer")
        .filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 8 === 0, DynTable.OpDelete)
            .otherwise(DynTable.OpUpsert).as("op"),
          (col("c_acctbal") * 3).as("price"))
      DynTable.readLatest(
        DynTable.commitTransaction(l, staged, Seq("k"),
          startTs = maxTs, commitTs = maxTs + 1), Seq("k"))
    }),

    // Version-retention compaction (sorted-dynamic-tables.md:97-118):
    // keep the newest version per key plus everything younger than
    // min_data_ttl; drop history beyond max_data_versions=2 once past
    // max_data_ttl. min_data_versions=1 ⇒ latest-wins reads are
    // untouched; the query proves it by reading latest AFTER retention
    // while the oracle reads latest over the FULL history.
    "dyn_retention" -> ((s, d) => {
      val l = log(s, d)
      val now = t(s, d, "orders").agg(max("o_orderkey").cast("long")).scalar()
      val retained = DynTable.compactWithRetention(l, Seq("k"),
        minDataVersions = 1, maxDataVersions = 2,
        minDataTtl = 100L, maxDataTtl = 1000L, now = now)
      DynTable.readLatest(retained, Seq("k"))
    }),

    // Versioned read at a client-supplied timestamp (LookupRows at ts,
    // dynamic_table_client.h:96-115): asOf = half the max version.
    "dyn_versioned_read" -> ((s, d) => {
      val l = log(s, d)
      // asOf as a scalar subquery folded into the plan — no driver-side
      // action before the query even starts.
      val asOf = t(s, d, "orders").agg((max("o_orderkey") / 2).cast("long"))
        .scalar()
      DynTable.readAsOf(l, Seq("k"), asOf)
    }),

    // Point lookup of a key set (MultiLookupRows,
    // dynamic_table_client.h:104-108): key IN-predicate prunes the scan
    // before the merge.
    "dyn_lookup" -> ((s, d) =>
      DynTable.lookup(log(s, d), Seq("k"), Seq(Seq(1L), Seq(2L), Seq(3L), Seq(42L)))),

    // keep_missing_rows lookup (TLookupRowsOptions, test_lookup.py):
    // one row per REQUESTED key, null values where absent/tombstoned.
    "dyn_lookup_missing" -> ((s, d) =>
      DynTable.lookupKeepMissing(log(s, d), Seq("k"),
        Seq(Seq(1L), Seq(999999L), Seq(42L), Seq(7L)))),

    // Operations read dynamic tables through their merged snapshot
    // (test_map_reduce_over_dyntables): a Map with input_query over
    // readLatest — the op sees one row per live key, never raw
    // versions.
    "dyn_op_map_over" -> ((s, d) => {
      val snapshot = DynTable.readLatest(log(s, d), Seq("k"))
      // the user job emits exact integer cents (as integral doubles —
      // the schema stays the input's) so the aggregate is bit-stable
      // at every scale (fractional float sums round-flip at sf0.1)
      val out = Operations.mapWithInputQuery(snapshot, "price > 100000") {
        rows => rows.map(r => org.apache.spark.sql.Row(
          r.getLong(0), math.round(r.getDouble(1) * 100).toDouble, r.getString(2)))
      }
      out.groupBy(col("status"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("price")).as("cents_sum"))
    }),

    // Aggregate column: price declared sum-merged
    // (sorted-dynamic-tables.md:171-177, row_merger.cpp:227-246);
    // tombstone resets the fold, status stays latest-wins.
    "dyn_agg_column" -> ((s, d) =>
      DynTable.readWithAggregates(log(s, d), Seq("k"), Map("price" -> "sum"))),

    // dict_sum aggregate column (cg_routines.cpp:3313 DictSum;
    // test_aggregate_columns.py test_aggregate_dict_sum): YSON dict
    // deltas fold into the stored state — int leaves sum, zero sums
    // prune the entry. The log's flat {"n":1,"w":±1} deltas make w
    // cancel to 0 for some keys, so the oracle replays both the sums
    // and the pruning in plain SQL. (Recursive-merge/mismatch rules
    // are pinned by the DynTableSpec port of the reference fixture.)
    "dyn_agg_dict_sum" -> ((s, d) => {
      val l = log(s, d).withColumn("dict",
        concat(lit("{\"n\":1,\"w\":"),
          when(col("ts") % 2 === 0, lit(1L)).otherwise(lit(-1L))
            .cast("string"),
          lit("}")))
        .drop("price", "status")
      DynTable.readWithAggregates(l, Seq("k"), Map("dict" -> "dict_sum"))
    }),

    // Partial upserts (`insert_rows update=True`): per-COLUMN
    // latest-wins with a written-columns mask, per-column $timestamp:
    // reads (row_merger.cpp AddPartialRow; test_query.py:2183).
    // Mask fixture: every 3k+1 write touches only price, 3k+2 only
    // status, 3k full row.
    "dyn_partial_update" -> ((s, d) => {
      val l = log(s, d).withColumn("written",
        when(col("ts") % 3 === 1, array(lit("price")))
          .when(col("ts") % 3 === 2, array(lit("status"))))
      DynTable.readLatestColumns(l, Seq("k"), withTimestamps = true)
    }),

    // The STRING-surface form of the versioned read (test_query.py:2183
    // test_versioned_select): `[$timestamp:col]` bracket-escaped
    // per-column read-timestamp references inside a SelectRows query
    // string, aliased and filtered like any column — the API-level
    // merge is dyn_partial_update's; here the QL lexer/emitter path is
    // under test too.
    "dyn_ts_string" -> ((s, d) => {
      val l = log(s, d).withColumn("written",
        when(col("ts") % 3 === 1, array(lit("price")))
          .when(col("ts") % 3 === 2, array(lit("status"))))
      val merged = DynTable.readLatestColumns(l, Seq("k"), withTimestamps = true)
      graft.ql.SelectRows(s,
        """k, price, [$timestamp:price] as ts_price,
          |[$timestamp:status] as ts_status
          |from [//tmp/vt] where k % 5 = 0""".stripMargin,
        Map("//tmp/vt" -> merged))
    }),

    // Unmerged read (`merge_versioned_rows=%false`, test_query.py
    // test_read_without_merge_sorted): versions merge within a store
    // but not across stores — one row per (key, store) version state.
    // Store fixture: flush epochs of 2000 versions each.
    "dyn_read_unmerged" -> ((s, d) => {
      val l = log(s, d).withColumn("store", (col("ts") / lit(2000)).cast("long"))
      DynTable.readUnmerged(l, Seq("k"))
    }),

    // WITH INDEX (ast.h:507; TransformWithIndexStatement,
    // secondary_index/transform.cpp:137): predicate answered by the
    // index table, surviving keys semi-join the primary.
    "dyn_with_index" -> ((s, d) => {
      val primary = t(s, d, "orders")
      val index = SecondaryIndex.build(primary, Seq("o_orderpriority"), Seq("o_orderkey"))
      SecondaryIndex.query(primary, index, Seq("o_orderkey"), "o_orderpriority = '1-URGENT'")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("total"))
    }),

    // WITH INDEX through the SelectRows STRING surface
    // (transform.cpp:137 TransformWithIndexStatement): the query names
    // the index table in QL; SelectRows swaps the primary's view for the
    // index-scan + semi-join plan, so the string user gets the same
    // access path as the DataFrame surface.
    "ql_with_index_string" -> ((s, d) => {
      import org.apache.spark.sql.types.MetadataBuilder
      val primary = t(s, d, "orders").withMetadata("o_orderkey",
        new MetadataBuilder()
          .putString(graft.types.YtTypes.YtSortOrderKey, "ascending").build())
      val index = SecondaryIndex.build(primary,
        Seq("o_orderpriority"), Seq("o_orderkey"))
      graft.ql.SelectRows(s,
        """o_orderstatus, count(1) as cnt, sum(o_totalprice) as total
          |from [//orders] with index [//orders_by_priority]
          |where o_orderpriority = '2-HIGH'
          |group by o_orderstatus""".stripMargin,
        Map("//orders" -> primary, "//orders_by_priority" -> index))
    }),

    // xdelta aggregate column (builtin_function_registry.cpp:241-253):
    // per-key write log of one BASE then PATCH states, folded by the
    // reference's state machine (hash-chain verified); output is the
    // final reconstructed state. Write-path construction mirrors
    // EvaluateKeys: one pass over the key-sorted log.
    "dyn_agg_xdelta" -> ((s, d) => {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.{Encoders, Row}
      import graft.functions.Xdelta
      val writes = t(s, d, "orders").select(
        (col("o_custkey") % 100).as("k"), col("o_orderkey").as("ver"),
        concat(lit("state-"), col("o_orderkey")).cast("binary").as("v"))
      val logSchema = StructType(Seq(StructField("k", LongType),
        StructField("ver", LongType), StructField("state", BinaryType)))
      val log = writes.repartition(col("k"))
        .sortWithinPartitions(col("k"), col("ver"))
        .mapPartitions { rows =>
          var prevKey = Long.MinValue
          var prev: Array[Byte] = null
          rows.map { r =>
            val k = r.getLong(0)
            val v = r.getAs[Array[Byte]](2)
            val st = if (k != prevKey || prev == null) Xdelta.makeBase(v)
              else Xdelta.makePatch(prev, v)
            prevKey = k; prev = v
            Row(k, r.getLong(1), st)
          }
        }(Encoders.row(logSchema))
      // log is hash-partitioned by k and ver-sorted: the fold sees
      // states in write order and never crosses partitions
      val xd = udaf(Xdelta.xdeltaValue, Encoders.BINARY)
      log.groupBy(col("k"))
        .agg(xd(col("state")).cast("string").as("final_state"))
    }),

    // Unfolded index (secondary_index/schema.cpp Unfolded): one index
    // row per list element; membership predicates become an equality
    // scan of the index, then a key semi-join of the primary.
    "dyn_index_unfolded" -> ((s, d) => {
      val primary = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("words"))
      val index = SecondaryIndex.buildUnfolded(primary, "words", Seq("doc_id"))
      SecondaryIndex.query(primary, index, Seq("doc_id"), "words = 'scan'")
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),

    // Unique index (secondary_index/schema.cpp Unique): at most one
    // primary row per indexed value; duplicates fail the build like the
    // reference's UniqueIndexConflict write error.
    "dyn_index_unique" -> ((s, d) => {
      val primary = t(s, d, "customer")
      val index = SecondaryIndex.buildUnique(primary, Seq("c_name"), Seq("c_custkey"))
      SecondaryIndex.query(primary, index, Seq("c_custkey"),
        "c_name IN ('Customer#000000042', 'Customer#000000007')")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // Predicated index (TIndexSchema::Predicate): the index holds only
    // rows passing its predicate; a query through it answers
    // pred AND indexPred via the primary-key semi-join.
    "dyn_index_predicated" -> ((s, d) => {
      val primary = t(s, d, "orders")
      val index = SecondaryIndex.buildPredicated(primary, Seq("o_custkey"),
        Seq("o_orderkey"), col("o_orderstatus") === "F")
      SecondaryIndex.query(primary, index, Seq("o_orderkey"), "o_custkey < 50")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // Ordered dynamic table: ($tablet_index, $row_index) system columns
    // (ordered-dynamic-tables.md:38-43), then PullQueue of
    // [10, 35) from tablet 3 (queue_client.h:109-127).
    "dyn_queue_pull" -> ((s, d) => {
      // row_index is per-tablet, so a consumer pulling one tablet prunes
      // to that tablet BEFORE offset assignment — only 1/8 of the log is
      // read and sorted (in production offsets are assigned at write
      // time and this is pure partition pruning).
      val tablet3 = t(s, d, "events").select("event_id", "event_type", "value")
        .where(pmod(col("event_id"), lit(8)) === 3)
      val ordered = DynTable.withOffsets(tablet3,
        pmod(col("event_id"), lit(8)), Seq(col("event_id")))
      DynTable.pullQueue(ordered, 3, 10L, 25L)
        .select("tablet_index", "row_index", "event_id", "event_type", "value")
    }),

    // Consumer registration + advance + pull (queue_client.h
    // AdvanceQueueConsumer; queues.md "consumers"): the registry is a
    // latest-wins offset log — two advances land, the later one wins,
    // and PullQueueConsumer reads [registered_offset, +limit) of the
    // consumer's tablet. The registry is client-sized; the queue scan
    // prunes to one tablet before offsets are assigned.
    "dyn_consumer_advance" -> ((s, d) => {
      val tablet2 = t(s, d, "events").select("event_id", "event_type", "value")
        .where(pmod(col("event_id"), lit(8)) === 2)
      val ordered = DynTable.withOffsets(tablet2,
        pmod(col("event_id"), lit(8)), Seq(col("event_id")))
      var reg = DynTable.emptyConsumerRegistry(s)
      reg = DynTable.advanceConsumer(reg, "c1", 2L, 5L, ts = 100L)
      reg = DynTable.advanceConsumer(reg, "c1", 2L, 12L, ts = 200L) // wins
      reg = DynTable.advanceConsumer(reg, "c2", 2L, 999L, ts = 150L) // other consumer
      DynTable.pullForConsumer(ordered, reg, "c1", 2, limit = 20L)
        .select("tablet_index", "row_index", "event_id", "event_type", "value")
    }),

    // Producer sessions (queue_client.h:78-152): exactly-once push. A
    // retried batch overlapping the high-water mark appends only the
    // fresh suffix; an epoch bump fences the old writer (its push
    // throws and lands nothing); the new epoch resumes from the stored
    // sequence number.
    "dyn_producer_push" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey").as("seq"), col("o_totalprice").as("price"))
      val queue0 = o.limit(0)
      var producer = DynTable.emptyProducer(s)
      val (p1, epoch0, _) = DynTable.createProducerSession(producer, "ingest-A", 1L)
      producer = p1
      val r1 = DynTable.pushQueueProducer(queue0, producer, "ingest-A",
        epoch0, o.where(col("seq") < 100), "seq", 2L)
      producer = r1.producer
      // retry with overlap: only seq 100..149 are fresh (50 skipped)
      val r2 = DynTable.pushQueueProducer(r1.queue, producer, "ingest-A",
        epoch0, o.where(col("seq") >= 50 && col("seq") < 150), "seq", 3L)
      require(r2.skippedRowCount == 50 && r2.lastSequenceNumber == 149,
        s"retry dedup: ${r2.skippedRowCount} skipped, last ${r2.lastSequenceNumber}")
      producer = r2.producer
      // writer restarts: epoch bumps, the zombie's push is rejected whole
      val (p4, epoch1, _) = DynTable.createProducerSession(producer, "ingest-A", 4L)
      producer = p4
      val zombieRejected =
        try {
          DynTable.pushQueueProducer(r2.queue, producer, "ingest-A", epoch0,
            o.where(col("seq") >= 150 && col("seq") < 200), "seq", 5L)
          false
        } catch { case _: IllegalStateException => true }
      require(zombieRejected, "stale-epoch push must be fenced")
      DynTable.pushQueueProducer(r2.queue, producer, "ingest-A",
        epoch1, o.where(col("seq") >= 160 && col("seq") < 180), "seq", 6L).queue
    }),

    // Queue trimming (queues.md #automatic_trimming): each tablet trims
    // to min(smallest vital-consumer offset, high_watermark + 1 -
    // retained_rows); the queue filters map-side against the broadcast
    // per-tablet bounds.
    "dyn_queue_trim" -> ((s, d) => {
      val ev = t(s, d, "events").select("event_id", "value")
      val ordered = DynTable.withOffsets(ev,
        pmod(col("event_id"), lit(4)), Seq(col("event_id")))
      var reg = DynTable.emptyConsumerRegistry(s)
      (0L until 4L).foreach { tb =>
        reg = DynTable.advanceConsumer(reg, "c1", tb, 100L + tb * 10L, 1L)
        reg = DynTable.advanceConsumer(reg, "c2", tb, 130L, 2L)
      }
      // c3 lags far behind but is NOT vital — it must not hold the trim
      reg = DynTable.advanceConsumer(reg, "c3", 0L, 5L, 3L)
      DynTable.autoTrim(ordered, reg, Seq("c1", "c2"), retainedRows = 10L)
        .groupBy(col("tablet_index"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("row_index")).as("min_idx"),
          max(col("row_index")).as("max_idx"))
    }),

    // Queue static export (queue_exporter.cpp): day-aligned export
    // windows over the event stream's commit time; the task instant is
    // the stream's own high-water mark (in-plan broadcast scalar), so
    // the last, still-open day never ships.
    "dyn_queue_export" -> ((s, d) => {
      val ev = t(s, d, "events")
      val now = ev.agg(max(unix_timestamp(col("ts"))).as("__now"))
      DynTable.exportQueuePeriods(
          ev.crossJoin(broadcast(now)), "ts", 86400L, col("__now"))
        .groupBy(col("export_unix_ts"))
        .agg(count(lit(1)).as("row_count"),
          max(unix_timestamp(col("ts"))).as("max_timestamp"))
    }))

  val oracles: Map[String, String] = Map(
    "dyn_upsert_latest" ->
      s"""WITH log AS ($logSql),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM log)
         |SELECT k, price, status FROM ranked WHERE rn = 1 AND op = 'upsert'""".stripMargin,

    "dyn_lookup_missing" ->
      s"""WITH log AS ($logSql),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM log),
         |latest AS (SELECT k, price, status FROM ranked
         |  WHERE rn = 1 AND op = 'upsert'),
         |req AS (SELECT * FROM (VALUES (1), (999999), (42), (7)) AS t(k))
         |SELECT CAST(req.k AS BIGINT) AS k, price, status
         |FROM req LEFT JOIN latest ON req.k = latest.k""".stripMargin,

    "dyn_op_map_over" ->
      s"""WITH log AS ($logSql),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM log),
         |latest AS (SELECT k, price, status FROM ranked
         |  WHERE rn = 1 AND op = 'upsert')
         |SELECT status, CAST(count(*) AS BIGINT) AS cnt,
         |  SUM(ROUND(price * 100)) AS cents_sum
         |FROM latest WHERE price > 100000 GROUP BY status""".stripMargin,

    "dyn_transaction" ->
      s"""WITH log AS ($logSql),
         |txn AS (SELECT c_custkey AS k,
         |    (SELECT max(o_orderkey) + 1 FROM orders) AS ts,
         |    CASE WHEN c_custkey % 8 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         |    c_acctbal * 3 AS price, CAST(NULL AS VARCHAR) AS status
         |  FROM customer WHERE c_custkey % 4 = 0),
         |merged AS (SELECT * FROM log UNION ALL SELECT * FROM txn),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM merged)
         |SELECT k, price, status FROM ranked WHERE rn = 1 AND op = 'upsert'""".stripMargin,

    // retention with min_data_versions=1 is invisible to latest-wins
    // reads: the oracle merges the FULL history
    "dyn_retention" ->
      s"""WITH log AS ($logSql),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM log)
         |SELECT k, price, status FROM ranked WHERE rn = 1 AND op = 'upsert'""".stripMargin,

    "dyn_bulk_insert" ->
      s"""WITH log AS ($logSql),
         |ins AS (SELECT c_custkey AS k,
         |    (SELECT max(o_orderkey) + 1 FROM orders) AS ts,
         |    'upsert' AS op, c_acctbal * 2 AS price,
         |    CAST(NULL AS VARCHAR) AS status
         |  FROM customer WHERE c_custkey % 3 = 0),
         |merged AS (SELECT * FROM log UNION ALL SELECT * FROM ins),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM merged)
         |SELECT k, price, status FROM ranked WHERE rn = 1 AND op = 'upsert'""".stripMargin,

    "dyn_computed_column" ->
      """SELECT CAST(k % 120 AS BIGINT) AS h, k, p
         FROM (SELECT o_orderkey AS k, o_totalprice AS p FROM orders) t
         WHERE k >= 100 AND k < 5000""",
    "dyn_reshard" ->
      """SELECT CAST(tablet_index AS INTEGER) AS tablet_index,
           CAST(COUNT(k) AS BIGINT) AS n, min(k) AS lo, max(k) AS hi
         FROM (SELECT o_orderkey AS k,
             (CASE WHEN o_orderkey >= 500 THEN 1 ELSE 0 END +
              CASE WHEN o_orderkey >= 2000 THEN 1 ELSE 0 END +
              CASE WHEN o_orderkey >= 10000 THEN 1 ELSE 0 END) AS tablet_index
           FROM orders) t
         GROUP BY tablet_index""",

    // compaction is invisible: the oracle is the full-history merge
    "dyn_compact" ->
      s"""WITH log AS ($logSql),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM log)
         |SELECT k, price, status FROM ranked WHERE rn = 1 AND op = 'upsert'""".stripMargin,

    "dyn_versioned_read" ->
      s"""WITH log AS ($logSql),
         |cut AS (SELECT * FROM log
         |  WHERE ts <= (SELECT CAST(max(o_orderkey) // 2 AS BIGINT) FROM orders)),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn FROM cut)
         |SELECT k, price, status FROM ranked WHERE rn = 1 AND op = 'upsert'""".stripMargin,

    "dyn_lookup" ->
      s"""WITH log AS ($logSql),
         |ranked AS (SELECT k, ts, op, price, status,
         |  row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
         |  FROM log WHERE k IN (1, 2, 3, 42))
         |SELECT k, price, status FROM ranked WHERE rn = 1 AND op = 'upsert'""".stripMargin,

    "dyn_agg_column" ->
      s"""WITH log AS ($logSql),
         |bounds AS (SELECT k,
         |    max(CASE WHEN op = 'delete' THEN ts END) AS del_ts,
         |    max(CASE WHEN op = 'upsert' THEN ts END) AS up_ts
         |  FROM log GROUP BY k),
         |live AS (SELECT l.* FROM log l JOIN bounds b USING (k)
         |  WHERE l.op = 'upsert' AND (b.del_ts IS NULL OR l.ts > b.del_ts))
         |SELECT k, sum(price) AS price, max_by(status, ts) AS status
         |FROM live GROUP BY k""".stripMargin,

    // dict_sum fold replayed flat: n = live-upsert count, w = Σ±1;
    // w = 0 vanishes from the serialized dict (zero-pruning)
    "dyn_agg_dict_sum" ->
      s"""WITH log AS ($logSql),
         |bounds AS (SELECT k,
         |    max(CASE WHEN op = 'delete' THEN ts END) AS del_ts,
         |    max(CASE WHEN op = 'upsert' THEN ts END) AS up_ts
         |  FROM log GROUP BY k),
         |live AS (SELECT l.* FROM log l JOIN bounds b USING (k)
         |  WHERE l.op = 'upsert' AND (b.del_ts IS NULL OR l.ts > b.del_ts)),
         |sums AS (SELECT k, count(*) AS n,
         |    sum(CASE WHEN ts % 2 = 0 THEN 1 ELSE -1 END) AS w
         |  FROM live GROUP BY k)
         |SELECT k, CASE WHEN w = 0 THEN '{"n":' || n || '}'
         |  ELSE '{"n":' || n || ',"w":' || w || '}' END AS dict
         |FROM sums""".stripMargin,

    "dyn_partial_update" ->
      s"""WITH log AS (SELECT *,
         |    CASE WHEN ts % 3 = 1 THEN ['price']
         |         WHEN ts % 3 = 2 THEN ['status'] END AS written
         |  FROM ($logSql)),
         |agg AS (SELECT k,
         |    max(CASE WHEN op = 'delete' THEN ts END) AS del_ts,
         |    max(CASE WHEN op = 'upsert' THEN ts END) AS up_ts,
         |    arg_max(price, ts) FILTER (op = 'upsert'
         |      AND (written IS NULL OR list_contains(written, 'price'))) AS v_price,
         |    max(ts) FILTER (op = 'upsert'
         |      AND (written IS NULL OR list_contains(written, 'price'))) AS tsp,
         |    arg_max(status, ts) FILTER (op = 'upsert'
         |      AND (written IS NULL OR list_contains(written, 'status'))) AS v_status,
         |    max(ts) FILTER (op = 'upsert'
         |      AND (written IS NULL OR list_contains(written, 'status'))) AS tss
         |  FROM log GROUP BY k)
         |SELECT k,
         |  CASE WHEN tsp > coalesce(del_ts, -1) THEN v_price END AS price,
         |  CASE WHEN tss > coalesce(del_ts, -1) THEN v_status END AS status,
         |  CASE WHEN tsp > coalesce(del_ts, -1) THEN tsp END AS "$$timestamp:price",
         |  CASE WHEN tss > coalesce(del_ts, -1) THEN tss END AS "$$timestamp:status"
         |FROM agg WHERE coalesce(up_ts, -1) > coalesce(del_ts, -1)""".stripMargin,

    "dyn_ts_string" ->
      s"""WITH log AS (SELECT *,
         |    CASE WHEN ts % 3 = 1 THEN ['price']
         |         WHEN ts % 3 = 2 THEN ['status'] END AS written
         |  FROM ($logSql)),
         |agg AS (SELECT k,
         |    max(CASE WHEN op = 'delete' THEN ts END) AS del_ts,
         |    max(CASE WHEN op = 'upsert' THEN ts END) AS up_ts,
         |    arg_max(price, ts) FILTER (op = 'upsert'
         |      AND (written IS NULL OR list_contains(written, 'price'))) AS v_price,
         |    max(ts) FILTER (op = 'upsert'
         |      AND (written IS NULL OR list_contains(written, 'price'))) AS tsp,
         |    max(ts) FILTER (op = 'upsert'
         |      AND (written IS NULL OR list_contains(written, 'status'))) AS tss
         |  FROM log GROUP BY k)
         |SELECT k,
         |  CASE WHEN tsp > coalesce(del_ts, -1) THEN v_price END AS price,
         |  CASE WHEN tsp > coalesce(del_ts, -1) THEN tsp END AS ts_price,
         |  CASE WHEN tss > coalesce(del_ts, -1) THEN tss END AS ts_status
         |FROM agg
         |WHERE coalesce(up_ts, -1) > coalesce(del_ts, -1) AND k % 5 = 0""".stripMargin,

    "dyn_read_unmerged" ->
      s"""WITH log AS (SELECT *, CAST(ts // 2000 AS BIGINT) AS store
         |  FROM ($logSql)),
         |agg AS (SELECT k, store,
         |    max(CASE WHEN op = 'delete' THEN ts END) AS del_ts,
         |    max(CASE WHEN op = 'upsert' THEN ts END) AS up_ts,
         |    arg_max(price, ts) FILTER (op = 'upsert') AS v_price,
         |    arg_max(status, ts) FILTER (op = 'upsert') AS v_status
         |  FROM log GROUP BY k, store)
         |SELECT k, store,
         |  CASE WHEN up_ts > coalesce(del_ts, -1) THEN v_price END AS price,
         |  CASE WHEN up_ts > coalesce(del_ts, -1) THEN v_status END AS status
         |FROM agg WHERE coalesce(up_ts, -1) > coalesce(del_ts, -1)""".stripMargin,

    "dyn_with_index" ->
      """SELECT o_orderstatus, count(*) AS cnt, sum(o_totalprice) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus""".stripMargin,

    "ql_with_index_string" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  sum(o_totalprice) AS total
        |FROM orders WHERE o_orderpriority = '2-HIGH'
        |GROUP BY o_orderstatus""".stripMargin,

    "dyn_agg_xdelta" ->
      """SELECT o_custkey % 100 AS k,
        |  'state-' || CAST(MAX(o_orderkey) AS VARCHAR) AS final_state
        |FROM orders GROUP BY 1""".stripMargin,

    "dyn_index_unfolded" ->
      """SELECT count(*) AS cnt, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE list_contains(string_split(text, ' '), 'scan')""".stripMargin,

    "dyn_index_unique" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_name IN ('Customer#000000042', 'Customer#000000007')""".stripMargin,

    "dyn_index_predicated" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders WHERE o_custkey < 50 AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin,

    "dyn_queue_pull" ->
      """WITH ordered AS (SELECT event_id, event_type, value,
        |    event_id % 8 AS tablet_index,
        |    row_number() OVER (PARTITION BY event_id % 8 ORDER BY event_id) - 1 AS row_index
        |  FROM events)
        |SELECT tablet_index, row_index, event_id, event_type, value
        |FROM ordered WHERE tablet_index = 3 AND row_index >= 10 AND row_index < 35""".stripMargin,

    "dyn_consumer_advance" ->
      """WITH ordered AS (SELECT event_id, event_type, value,
        |    event_id % 8 AS tablet_index,
        |    row_number() OVER (PARTITION BY event_id % 8 ORDER BY event_id) - 1 AS row_index
        |  FROM events)
        |SELECT tablet_index, row_index, event_id, event_type, value
        |FROM ordered WHERE tablet_index = 2 AND row_index >= 12 AND row_index < 32""".stripMargin,

    // the replay: batch1 wrote [0,100), the retry appended only
    // [100,150), the zombie batch [150,200) was fenced entirely, the
    // new epoch appended [160,180)
    "dyn_producer_push" ->
      """SELECT o_orderkey AS seq, o_totalprice AS price FROM orders
        |WHERE o_orderkey < 150
        |   OR (o_orderkey >= 160 AND o_orderkey < 180)""".stripMargin,

    "dyn_queue_trim" ->
      """WITH o AS (
        |  SELECT event_id % 4 AS tablet_index FROM events),
        |hw AS (SELECT tablet_index, COUNT(*) AS cnt FROM o GROUP BY tablet_index),
        |b AS (SELECT tablet_index,
        |    least(least(100 + tablet_index * 10, 130), greatest(cnt - 10, 0)) AS trim_to,
        |    cnt
        |  FROM hw)
        |SELECT tablet_index, cnt - trim_to AS n_rows, trim_to AS min_idx,
        |  cnt - 1 AS max_idx FROM b""".stripMargin,
    "dyn_queue_export" ->
      """WITH e AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         n AS (SELECT (max(es) // 86400) * 86400 AS upper FROM e)
         SELECT (es // 86400) * 86400 AS export_unix_ts,
           CAST(COUNT(*) AS BIGINT) AS row_count,
           CAST(MAX(es) AS BIGINT) AS max_timestamp
         FROM e, n WHERE (es // 86400) * 86400 < upper GROUP BY 1""")
}
