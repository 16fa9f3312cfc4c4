package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{shims => S}
import org.apache.spark.sql.types._

import graft.sources.{KeyIndex, Tables}

/** Sorted/ordered dynamic-table semantics (SURVEY.md §2.C) as
  * DataFrame transforms over an immutable write log.
  *
  * The reference's sorted dynamic table is an MVCC key-value table:
  * every write carries a timestamp, reads merge versions per key with
  * latest-wins for regular columns and a fold for aggregate columns,
  * and deletes are tombstones that cut off everything older
  * (TSchemafulRowMerger, yt/yt/ytlib/table_client/row_merger.cpp:19-343;
  * aggregate columns row_merger.cpp:227-246 and docs
  * sorted-dynamic-tables.md:171-177). Here the table IS the log — a
  * DataFrame of (key..., ts, op, values...) — and each read verb is a
  * declarative merge Catalyst can distribute:
  *
  *   - latest-wins = one hash aggregation `max_by(struct(values), ts)`
  *     per key — a single shuffle with map-side partial aggregation, no
  *     window sort. At 100 TB this is the cheapest possible plan: the
  *     log shuffles once on the key, partials collapse most versions
  *     before the exchange.
  *   - tombstones: the merge keeps the latest row including deletes,
  *     then filters `op != delete` — same one-pass shape the reference's
  *     merger uses (delete timestamps cut the version stream).
  *   - aggregate columns: writes newer than the last tombstone fold
  *     with sum/min/max/first exactly like EAggregateFunction merges.
  *   - versioned reads: filter `ts <= asOf` *before* the merge — the
  *     predicate reaches the parquet scan, so a time-travel read prunes
  *     row groups by ts min/max stats instead of replaying history.
  *
  * Ordered dynamic tables (queues) are append-only logs addressed by
  * `($tablet_index, $row_index)` (ordered-dynamic-tables.md:32-43);
  * PullQueue/PullRows (queue_client.h:101-154) become offset-range
  * scans, which prune to one tablet's partition.
  */
object DynTable {

  val OpUpsert = "upsert"
  val OpDelete = "delete"

  /** Latest state of a write log: one row per key, latest-wins on every
    * value column, rows whose last version is a tombstone dropped.
    *
    * `log` must carry `ts` (version order) and `op` (upsert|delete)
    * columns; everything in `keys` is the key; all other columns are
    * values merged latest-wins.
    *
    * A log held on the driver (`Tables.held`: a small stored table or
    * client-sized rows) is answered from its key index — the reference's
    * tablet node answers from its in-memory stores
    * (tablet_node/lookup.cpp) — and the result is a local frame of the
    * result rows, so reading it runs no Spark job.
    */
  def readLatest(log: DataFrame, keys: Seq[String]): DataFrame =
    latestWins(log, keys, None)(ix => Some(ix.latest))

  /** Versioned read: table state as of timestamp `asOf` — the
    * reference's `LookupRows`/`SelectRows` at a timestamp
    * (dynamic_table_client.h:96-115). The ts filter is applied before
    * the merge so it pushes to the scan; on a held log a literal cut
    * takes each key's newest version at or below it from the index.
    */
  def readAsOf(log: DataFrame, keys: Seq[String], asOf: Column): DataFrame =
    latestWins(log, keys, Some(col("ts") <= asOf))(ix =>
      literalAs(S.convert(asOf), ix.tsType).map(ix.asOf))

  /** The latest-wins verbs: `cut` filters the log before the merge, and
    * `fromIndex` answers the same read from a held log's key index (None
    * when it cannot, e.g. for a cut that is not a literal). A held log
    * the index does not answer is cut by a Catalyst filter over its local
    * rows (Spark's own coercion) and merged on the driver; a key type the
    * index does not group takes the distributed merge over the held
    * frame. */
  private def latestWins(log: DataFrame, keys: Seq[String], cut: => Option[Column])(
      fromIndex: KeyIndex => Option[Seq[InternalRow]]): DataFrame =
    Tables.held(log) match {
      case Some(held) =>
        held.index(keys).flatMap(ix => fromIndex(ix).map(local(log, ix.outSchema, _))).getOrElse {
          val sliver = cut.fold(held.frame)(held.frame.where)
          Tables.localRows(sliver).flatMap(rows => KeyIndex(sliver.schema, keys, rows.iterator))
            .map(ix => local(log, ix.outSchema, ix.latest))
            .getOrElse(mergeLatest(sliver, keys))
        }
      case None => mergeLatest(cut.fold(log)(log.where), keys)
    }

  /** Rows an index returned as a local frame of `schema`. */
  private def local(log: DataFrame, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    S.ofRows(log.sparkSession, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The value a literal compares as against a column of type `to`
    * (`KeyIndex.coerce`); None for an expression that is not a literal. */
  private def literalAs(e: Expression, to: DataType): Option[Any] = e match {
    case l: Literal => KeyIndex.coerce(l, to)
    case _ => None
  }

  /** Key tuples as values of the index's key types, or None when a tuple
    * is not a full key of literals that [[literalAs]] coerces. */
  private def probes(ix: KeyIndex, tuples: Seq[Seq[Expression]]): Option[Seq[Seq[Any]]] = {
    val vs = tuples.map { t =>
      val v = t.zip(ix.keyTypes).map { case (e, dt) => literalAs(e, dt) }
      if (t.size == ix.keyTypes.size && v.forall(_.isDefined)) Some(v.flatten) else None
    }
    if (vs.forall(_.isDefined)) Some(vs.flatten) else None
  }

  /** The distributed merge: one hash aggregation per key. */
  private def mergeLatest(log: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = log.columns.filterNot(c => keys.contains(c) || c == "ts" || c == "op")
    val merged = log
      .groupBy(keys.map(col): _*)
      .agg(
        max_by(struct((valueCols :+ "op").map(col): _*), col("ts")).as("_latest"),
        max(col("ts")).as("_ts"))
    merged
      .where(col("_latest.op") === OpUpsert)
      .select(keys.map(col) ++ valueCols.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** Per-COLUMN latest-wins merge — partial upserts (`insert_rows`
    * `update=True`) write only a subset of value columns, and each
    * written column carries its own timestamp
    * (TSchemafulRowMerger::AddPartialRow, row_merger.cpp:19-186;
    * test_query.py:2183 test_versioned_select).
    *
    * The log may carry a `written: array<string>` mask naming the
    * value columns a row writes (null mask = full write). For each
    * value column the merge takes the newest write of THAT column; a
    * tombstone cuts every column written before it; the row exists if
    * any upsert is newer than the last tombstone. `withTimestamps`
    * adds the reference's `$timestamp:col` read columns.
    *
    * Shape: ONE hash aggregation (2 + 2·|values| conditional
    * aggregates over the same grouping) with map-side partials — the
    * per-column argmaxes ride the same shuffle as the row-level merge,
    * nothing extra at 100 TB.
    */
  def readLatestColumns(log: DataFrame, keys: Seq[String],
      withTimestamps: Boolean = false, withVersion: Boolean = false): DataFrame = {
    val hasMask = log.columns.contains("written")
    val valueCols = log.columns.filterNot(c =>
      keys.contains(c) || c == "ts" || c == "op" || c == "written")
    def wrote(c: String): Column = {
      val up = col("op") === OpUpsert
      if (hasMask) up && (col("written").isNull || array_contains(col("written"), c))
      else up
    }
    val aggs: Seq[Column] = Seq(
      max(when(col("op") === OpDelete, col("ts"))).as("_del_ts"),
      max(when(col("op") === OpUpsert, col("ts"))).as("_up_ts")) ++
      valueCols.flatMap { c => Seq(
        max_by(when(wrote(c), col(c)), when(wrote(c), col("ts"))).as(s"_v_$c"),
        max(when(wrote(c), col("ts"))).as(s"_ts_$c")) }
    val merged = log.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val horizon = coalesce(col("_del_ts"), lit(Long.MinValue))
    val live = merged.where(coalesce(col("_up_ts"), lit(Long.MinValue)) > horizon)
    val outCols = keys.map(col) ++
      valueCols.map(c => when(col(s"_ts_$c") > horizon, col(s"_v_$c")).as(c)) ++
      (if (withTimestamps)
        valueCols.map(c =>
          when(col(s"_ts_$c") > horizon, col(s"_ts_$c")).as(s"$$timestamp:$c"))
      else Nil) ++
      // key's newest upsert version, already computed by the merge —
      // compaction's version recovery rides the same shuffle for free
      (if (withVersion) Seq(col("_up_ts").as("_version")) else Nil)
    live.select(outCols: _*)
  }

  /** [[readLatestColumns]] at a timestamp (with_timestamps versioned
    * read at `timestamp=...`, test_query.py:2240-2244). */
  def readAsOfColumns(log: DataFrame, keys: Seq[String], asOf: Column,
      withTimestamps: Boolean = false): DataFrame =
    readLatestColumns(log.where(col("ts") <= asOf), keys, withTimestamps)

  /** Bulk insert (bulk_insert.md; test_bulk_insert.py): a static-table
    * operation writes straight into a sorted dynamic table — every
    * output row lands as an upsert bearing ONE shared commit timestamp
    * (test_multiple_output_tables_get_same_timestamp: the transaction
    * commits atomically, so versioned reads see the whole operation or
    * none of it; pass the same `commitTs` column for several outputs).
    * Duplicate keys WITHIN the operation output are an error
    * (test_not_unique_keys) — validated in-plan with a count-guarded
    * filter, so the check distributes and costs one aggregation over
    * the new rows only, never the table. Value columns the output
    * doesn't carry become nulls (a full-row insert, not a partial
    * update). `commitTs` may be a literal or an in-plan scalar
    * subquery (e.g. `max(ts)+1`) — no driver-side action either way.
    */
  def bulkInsert(log: DataFrame, rows: DataFrame, keys: Seq[String],
      commitTs: Column, validateUniqueKeys: Boolean = true): DataFrame = {
    val valueCols = log.columns
      .filterNot(c => keys.contains(c) || c == "ts" || c == "op").toSeq
    val checked =
      if (!validateUniqueKeys) rows
      else {
        val cnt = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
        rows.join(cnt, keys)
          .filter(when(col("__cnt") > 1,
            raise_error(lit("Duplicate keys in bulk insert output"))
              .cast("boolean")).otherwise(lit(true)))
          .drop("__cnt")
      }
    val appended = checked.select(
      (keys.map(col) ++
        Seq(commitTs.cast("long").as("ts"), lit(OpUpsert).as("op")) ++
        valueCols.map(c =>
          if (checked.columns.contains(c)) col(c) else lit(null).as(c))): _*)
    log.select((keys ++ Seq("ts", "op") ++ valueCols).map(col): _*)
      .unionByName(appended)
  }

  /** SYNC secondary-index maintenance over a full-row write/delete
    * log — the write-path contract of the reference's
    * TSecondaryIndexModifier (secondary_index_modification.cpp:
    * LookupRows the current row, then emit a Delete of the stale
    * index row + a Write of the new one in the SAME commit,
    * ~:443-568): replayed here as a window pass per primary key in
    * ts order, so the derived INDEX LOG carries, for every primary
    * mutation, the index upsert it writes and the index tombstone it
    * places on the displaced indexed value. The invariant this buys
    * (and the `fz_dynidx` differential fuzz pins): at every
    * timestamp, `readLatest/readAsOf` of the index log on
    * `indexed ++ keys` ≡ the same projection of the merged primary.
    *
    * `pred` (applied to the indexed columns) models a PREDICATED
    * index (TIndexSchema::Predicate): a row entering the predicate
    * writes its index row, a row leaving it tombstones the old one.
    * One shuffle on the primary key; per-key sequential replay is
    * inherent to sync maintenance.
    */
  def maintainIndexLog(log: DataFrame, keys: Seq[String],
      indexed: Seq[String],
      pred: Seq[Column] => Column = _ => lit(true)): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("ts"))
    val prevCols = indexed.map(c => lag(col(c), 1).over(w).as(s"_prev_$c"))
    val base = log.select(log.columns.map(col) ++ prevCols :+
      lag(col("op"), 1).over(w).as("_prev_op"): _*)
    val curUp = col("op") === OpUpsert
    val prevAlive = col("_prev_op") === OpUpsert
    val predCur = pred(indexed.map(col))
    val predPrev = pred(indexed.map(c => col(s"_prev_$c")))
    val changed = indexed.map(c => !(col(c) <=> col(s"_prev_$c")))
      .reduce(_ || _)
    val outCols = (indexed ++ keys).map(col) :+ col("ts")
    val ups = base.where(curUp && predCur)
      .select(outCols :+ lit(OpUpsert).as("op"): _*)
    val dels = base.where(prevAlive && predPrev &&
        (col("op") === OpDelete || changed))
      .select(indexed.map(c => col(s"_prev_$c").as(c)) ++
        keys.map(col) :+ col("ts") :+ lit(OpDelete).as("op"): _*)
    ups.unionByName(dels)
  }

  /** Major compaction (the reference's tablet compaction: dynamic
    * stores flush to chunks, compaction merges chunks and discards
    * shadowed versions — yt/yt/server/node/tablet_node/store_compactor.cpp
    * semantics over our log model). The write log collapses to an
    * EQUIVALENT minimal log: one upsert per live key at that key's
    * newest upsert version; tombstoned keys, overwritten versions and
    * spent tombstones are dropped. For aggregate columns the folded
    * state is emitted as an `aggregate=%false` (overwrite) write, so
    * later delta writes fold onto the compacted base exactly as they
    * would onto the full history. A `written` partial-update mask, if
    * present, compacts to a full write (null mask).
    *
    * Contract (DynTableSpec): for any future writes W with versions
    * above the log's, read*(compact(log) ∪ W) == read*(log ∪ W), for
    * the latest-wins, per-column and aggregate-column read verbs.
    * Versioned reads BELOW the compaction horizon are discarded, and
    * per-column write timestamps collapse to the key's newest upsert
    * version — major compaction drops old versions, as the reference
    * does past min_data_versions/TTL.
    *
    * Plan shape: ONE shuffle — the same merge aggregation as the read
    * verbs, with each key's newest version surfaced from the very same
    * hash aggregate (no recovery join, no second pass over the log).
    * The output is a fraction of the log: compaction is the cheapest
    * possible rewrite of the store.
    *
    * A log held on the driver (`Tables.held`) with a long `ts`, no
    * `written` or `agg` column and no aggregate columns compacts from its
    * key index instead, as the reference's compactor merges a tablet's
    * own sorted stores: the result is a local frame of the surviving
    * versions (`KeyIndex.surviving`, the aggregate's rule) referencing the
    * held rows, built with no aggregate, no job and no generated class.
    */
  def compact(log: DataFrame, keys: Seq[String],
      aggColumns: Map[String, String] = Map.empty): DataFrame =
    heldCompaction(log, keys, aggColumns).getOrElse(mergeCompaction(log, keys, aggColumns))

  /** [[compact]] of a held log from its key index; None when the log is
    * not held, has a `written` or `agg` column, aggregate columns, a `ts`
    * that is not a long, or keys the index does not group. The floor is
    * the aggregate's horizon for a key with no delete,
    * `coalesce(max delete ts, Long.MinValue)`. */
  private def heldCompaction(log: DataFrame, keys: Seq[String],
      aggColumns: Map[String, String]): Option[DataFrame] =
    if (aggColumns.nonEmpty || log.columns.exists(c => c == "written" || c == "agg")) None
    else for {
      held <- Tables.held(log)
      ix <- held.index(keys) if ix.tsType == LongType
    } yield local(log, ix.compactSchema, ix.surviving(Long.MinValue))

  /** [[compact]] through the merge aggregation: the path of every log
    * that is not compacted from a key index, and its arbiter. */
  private def mergeCompaction(log: DataFrame, keys: Seq[String],
      aggColumns: Map[String, String]): DataFrame = {
    val hasMask = log.columns.contains("written")
    val hasAggFlag = log.columns.contains("agg")
    val state =
      if (aggColumns.isEmpty) readLatestColumns(log, keys, withVersion = true)
      else readWithAggregates(log, keys, aggColumns, withVersion = true)
    val valueCols = state.columns.filterNot(c =>
      keys.contains(c) || c == "_version")
    val base = state
      .withColumnRenamed("_version", "ts")
      .withColumn("op", lit(OpUpsert))
    val withMask = if (hasMask) base.withColumn("written",
      lit(null).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))) else base
    val withFlag = if (hasAggFlag || aggColumns.nonEmpty)
      withMask.withColumn("agg", lit(false)) else withMask
    // column order matches a conventional log layout: keys, ts, op, values
    withFlag.select((keys.map(col) :+ col("ts") :+ col("op")) ++
      (if (hasMask) Seq(col("written")) else Nil) ++
      (if (hasAggFlag || aggColumns.nonEmpty) Seq(col("agg")) else Nil) ++
      valueCols.map(col): _*)
  }

  /** Transactional write commit (dynamic_table_transaction.h;
    * sorted-dynamic-tables.md transactions: InsertRows/DeleteRows
    * staged under a transaction commit ATOMICALLY with optimistic row
    * locks): `staged` carries the transaction's writes — key columns,
    * an `op` column (upsert|delete) and value columns — taken at
    * `startTs`. Commit appends every staged row under ONE `commitTs`,
    * after an in-plan conflict check: if ANY staged key gained a log
    * version with `startTs < ts <= commitTs` written by someone else,
    * the whole transaction aborts with the reference's "row lock
    * conflict" error (first-committer-wins, exactly the tablet node's
    * optimistic locking). The check is a semi-join of the staged keys
    * (client-sized, broadcast) against the ts-pruned log sliver —
    * never a scan of full history — and it rides the commit plan, so
    * laziness is preserved and a retried evaluation re-validates. On a
    * held log (`Tables.held`) without `written`/`agg` columns and a
    * client-sized staged frame, the count is taken on the driver when
    * the plan is built, over the snapshot the log frame pins: with
    * literal timestamps it probes the staged keys in the key index for
    * versions in `(startTs, commitTs]`. The held rows then enter the
    * union as they are when the log is already in the commit's layout
    * (keys, `ts`, `op`, values), and a `where(ts === commitTs)` the
    * optimizer pushes onto them and onto the staged rows binds its
    * timestamp (`plans.ParameterizePushedLocalFilters`), so a held
    * commit compiles no class after the first and projects no held row;
    * that filter prunes the held rows without reading one
    * (`plans.PruneHeldTs`), so the written plan is the staged rows alone.
    *
    * A key staged twice as full writes commits its last write, as a
    * tablet's write buffer keeps the last row per key ([[lastPerKey]]).
    * Partial writes (a `written` mask) and aggregate deltas (an `agg`
    * column) all commit: the reads merge them per column and fold the
    * deltas, so keeping one of them would drop the others' columns.
    */
  def commitTransaction(log: DataFrame, staged: DataFrame, keys: Seq[String],
      startTs: Column, commitTs: Column): DataFrame = {
    val stagedRows = Tables.localRows(staged)
    val valueCols = log.columns
      .filterNot(c => keys.contains(c) || c == "ts" || c == "op" || c == "written").toSeq
    // column-granular locks (sorted-dynamic-tables.md locking: writes
    // lock the column groups they touch — test_dynamic_tables.py shared
    // lock tests): when BOTH the concurrent version and the staged row
    // carry `written` masks (update=True partial writes), they conflict
    // only if the masks INTERSECT; a full write (null mask) or a delete
    // locks every column and always conflicts.
    val hasLogMask = log.columns.contains("written")
    val hasStagedMask = staged.columns.contains("written")
    // aggregate-delta writes take SHARED locks (aggregate columns
    // commute: sorted-dynamic-tables.md:171-177 aggregate=true) — two
    // concurrent deltas both commit; conflict only against a
    // non-delta write. Flagged by the log model's `agg` column.
    val hasLogAgg = log.columns.contains("agg")
    val hasStagedAgg = staged.columns.contains("agg")
    val writes = if (hasStagedMask || hasStagedAgg) staged else lastPerKey(staged, stagedRows, keys)
    val stagedSel = keys.map(col) ++
      (if (hasStagedMask) Seq(col("written").as("__sw")) else Nil) ++
      (if (hasStagedAgg) Seq(col("agg").as("__sa")) else Nil)
    // every staged row takes its locks, a key's earlier writes included
    val stagedKeys = staged.select(stagedSel: _*)
    // the commit unions onto the held frame, so its write is its only job
    val held = if (hasLogMask || hasLogAgg) None else Tables.held(log)
    val base = held.map(_.frame).getOrElse(log)
    def recent = base.where(col("ts") > startTs && col("ts") <= commitTs)
    val heldConflicts: Option[Long] = held.flatMap { h =>
      stagedRows.flatMap { rows =>
        val fields = keys.map(staged.schema.fieldIndex).map(i => i -> staged.schema(i).dataType)
        val literals = rows.map(r => fields.map { case (i, dt) => Literal(r.get(i, dt), dt) })
        val probed = for {
          ix <- h.index(keys)
          after <- literalAs(S.convert(startTs), ix.tsType)
          upTo <- literalAs(S.convert(commitTs), ix.tsType)
          ps <- probes(ix, literals)
        } yield ix.versionsIn(ps, after, upTo)
        probed.orElse(Tables.localRows(
          recent.where(keyPredicate(keys, literals.map(_.map(S.column))))).map(_.size.toLong))
      }
    }
    def maskDisjoint: Column =
      if (hasLogMask && hasStagedMask)
        col("op") =!= OpDelete && col("written").isNotNull &&
          col("__sw").isNotNull && !arrays_overlap(col("written"), col("__sw"))
      else lit(false)
    def bothDeltas: Column =
      if (hasLogAgg && hasStagedAgg)
        col("op") =!= OpDelete &&
          coalesce(col("agg"), lit(false)) && coalesce(col("__sa"), lit(false))
      else lit(false)
    // one aggregate, folded in as a scalar subquery: ANY surviving
    // conflict aborts the WHOLE transaction (it would abort anyway),
    // so no per-key join back to the staged rows is ever needed. A
    // driver-side count enters as a literal, so raise_error still fires
    // only when the plan runs.
    val nConflicts = heldConflicts.map(lit).getOrElse(
      recent.join(broadcast(stagedKeys), keys)
        .where(!(maskDisjoint || bothDeltas)).agg(count(lit(1))).scalar())
    val checked = writes
      .filter(when(nConflicts > 0,
        raise_error(lit("Row lock conflict due to concurrent write"))
          .cast("boolean")).otherwise(lit(true)))
    val maskOut: Seq[Column] =
      if (!hasLogMask && !hasStagedMask) Nil
      else Seq((if (hasStagedMask) col("written")
        else lit(null).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))).as("written"))
    val appended = checked.select(
      (keys.map(col) ++
        Seq(commitTs.cast("long").as("ts"), col("op")) ++ maskOut ++
        valueCols.map(c =>
          if (checked.columns.contains(c)) col(c) else lit(null).as(c))): _*)
    val logMask: Seq[Column] =
      if (maskOut.isEmpty) Nil
      else Seq((if (hasLogMask) col("written")
        else lit(null).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))).as("written"))
    // a log already in that layout unions as it is: a projection over
    // held rows would copy every version on each commit
    val lead = keys ++ Seq("ts", "op")
    val logSide =
      if (logMask.isEmpty && base.columns.toSeq == lead ++ valueCols) base
      else base.select((lead.map(col) ++ logMask ++ valueCols.map(col)): _*)
    logSide.unionByName(appended)
  }

  /** `staged` with only the last row written for each key (keys grouped
    * as `groupBy` groups them): client-sized rows (`stagedRows`) in their
    * row order, on the driver, and `staged` itself when no key repeats;
    * any other frame in `monotonically_increasing_id` order, through a
    * window per key (one shuffle). That order is the frame's partition
    * order, which a frame with no defined row order (a multi-file scan,
    * whose splits Spark packs largest first) does not tie to its files,
    * so which of a key's writes is last is then undefined. */
  private def lastPerKey(staged: DataFrame, stagedRows: Option[Seq[InternalRow]],
      keys: Seq[String]): DataFrame =
    stagedRows.flatMap(rows =>
      KeyIndex.lastPerKey(staged.schema, keys, rows).map(kept =>
        if (kept.size == rows.size) staged else local(staged, staged.schema, kept)))
      .getOrElse {
        val (seq, last) = ("__seq", "__last")
        staged.withColumn(seq, monotonically_increasing_id())
          .withColumn(last, max(col(seq)).over(Window.partitionBy(keys.map(col): _*)))
          .where(col(seq) === col(last)).drop(seq, last)
      }

  /** Version-retention compaction (sorted-dynamic-tables.md:97-118:
    * min_data_versions / max_data_versions / min_data_ttl /
    * max_data_ttl): per key, versions sort newest-first (tombstones
    * count as versions) and version i at age = now − ts is DELETED iff
    * no prohibition holds AND some permission holds —
    *
    *   prohibitions: i < min_data_versions; age < min_data_ttl;
    *     (row-level $ttl, sorted-dynamic-tables.md:140-160: an
    *     explicit per-version ttl also prohibits while age < ttl)
    *   permissions:  i ≥ max_data_versions; age > max_data_ttl
    *     (a version carrying an explicit $ttl is exempt from the
    *     max_data_ttl permission — it expires by its own clock)
    *
    * With the defaults (1/1/30min/30min) the newest version always
    * survives, so latest-wins reads are unaffected and only history
    * shrinks. One window pass per key (shuffle on the key; per-key
    * version counts are bounded by the reference's own 1024/row cap).
    * `now` and the ttls share `ts`'s unit.
    */
  def compactWithRetention(log: DataFrame, keys: Seq[String],
      minDataVersions: Int, maxDataVersions: Int,
      minDataTtl: Long, maxDataTtl: Long, now: Column,
      ttlCol: Option[String] = None): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("ts").desc)
    val i = row_number().over(w) - 1 // 0-based version index, newest first
    val age = now - col("ts")
    val explicitTtl = ttlCol.map(c => col(c)).getOrElse(lit(null))
    val prohibited = (i < minDataVersions) || (age < minDataTtl) ||
      (explicitTtl.isNotNull && age < explicitTtl)
    val permitted = (i >= maxDataVersions) ||
      (explicitTtl.isNull && age > maxDataTtl)
    log.withColumn("__del", !prohibited && permitted)
      .filter(!col("__del")).drop("__del")
  }

  /** Point lookup by key set (`LookupRows`/`MultiLookupRows`,
    * dynamic_table_client.h:96-108): equality/IN predicates on the key
    * prefix so the scan prunes. Merge happens only on the surviving
    * sliver.
    */
  def lookup(log: DataFrame, keys: Seq[String], keyValues: Seq[Seq[Any]]): DataFrame =
    latestWins(log, keys, Some(keyPredicate(keys, keyValues.map(_.map(lit)))))(ix =>
      probes(ix, keyValues.map(_.map {
        case c: Column => S.convert(c)
        case v => Literal(v) // what `lit(v)` becomes
      })).map(ix.lookup))

  /** Rows whose key equals one of `keyValues`: an OR of per-row key
    * equalities (false for no rows). */
  private def keyPredicate(keys: Seq[String], keyValues: Seq[Seq[Column]]): Column =
    keyValues
      .map(vs => keys.zip(vs).map { case (k, v) => col(k) === v }.reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** `lookup_rows keep_missing_rows=%true` (dynamic_table_client.h:
    * TLookupRowsOptions::KeepMissingRows; test_lookup.py): the result
    * holds EXACTLY one row per requested key, in request order, with
    * all-null value columns where the key is absent or tombstoned —
    * the shape callers zip against their request list. The request is
    * client-sized, so it broadcasts; the merge still happens only on
    * the key-pruned sliver of the log.
    */
  def lookupKeepMissing(log: DataFrame, keys: Seq[String],
      keyValues: Seq[Seq[Any]]): DataFrame = {
    val spark = log.sparkSession
    val reqRows = keyValues.zipWithIndex.map { case (vs, i) =>
      org.apache.spark.sql.Row.fromSeq(vs :+ i.toLong)
    }
    val reqSchema = org.apache.spark.sql.types.StructType(
      keys.map(k => log.schema(k)) :+
        org.apache.spark.sql.types.StructField("__req", org.apache.spark.sql.types.LongType))
    import scala.jdk.CollectionConverters._
    val req = spark.createDataFrame(reqRows.asJava, reqSchema)
    val found = lookup(log, keys, keyValues)
    req.join(broadcast(found), keys, "left").orderBy(col("__req")).drop("__req")
  }

  /** Aggregate-column merge (row_merger.cpp:227-246): for each key,
    * non-aggregate columns are latest-wins; each aggregate column folds
    * every write *newer than the last tombstone* with its function
    * (sum|min|max|first — EAggregateFunction, query_common.h:84-88).
    * `first` in the reference means "keep stored value" = oldest
    * surviving write.
    *
    * Per-write semantics (test_aggregate_columns.py): a write with
    * `aggregate=%false` (optional boolean `agg` column in the log;
    * absent = all-aggregate) OVERWRITES the accumulated state with its
    * value, and a write whose aggregate cell is null leaves the state
    * unchanged (test_aggregate_update: `{key, time}` with no value
    * keeps the previous value through the merge).
    *
    * One shuffle: tombstone horizon and the folds are all aggregates
    * over the same grouping, computed in a single hash aggregation with
    * conditional inputs — no self-join with the horizon.
    */
  def readWithAggregates(
      log: DataFrame,
      keys: Seq[String],
      aggColumns: Map[String, String],
      withVersion: Boolean = false,
      withTimestamps: Boolean = false): DataFrame = {
    aggColumns.values.find(f => !Set("sum", "min", "max", "first", "dict_sum")(f))
      .foreach(f => throw new IllegalArgumentException(
        s"Invalid aggregate function $f")) // test_invalid_aggregate
    val hasAggFlag = log.columns.contains("agg")
    val valueCols = log.columns
      .filterNot(c => keys.contains(c) || c == "ts" || c == "op" || c == "agg")
    val plainCols = valueCols.filterNot(aggColumns.contains)
    val aggFlag: Column = if (hasAggFlag) coalesce(col("agg"), lit(true)) else lit(true)
    val aggExprs: Seq[Column] =
      Seq(
        max(when(col("op") === OpDelete, col("ts"))).as("_del_ts"),
        max(when(col("op") === OpUpsert, col("ts"))).as("_max_up_ts")) ++
        plainCols.flatMap(c =>
          max_by(when(col("op") === OpUpsert, col(c)), when(col("op") === OpUpsert, col("ts"))).as(s"_lw_$c") +:
          (if (withTimestamps)
            Seq(max(when(col("op") === OpUpsert && col(c).isNotNull, col("ts"))).as(s"_wts_$c"))
          else Nil)) ++
        aggColumns.toSeq.map { case (c, _) =>
          // collect (ts, v) pairs is what we must NOT do at scale; instead
          // fold conditionally: values at ts > last delete. Since the
          // horizon is itself part of this aggregation, fold over the
          // full list once via sorted array — bounded by versions/key
          // (reference caps values per row at 1024, faq.md:73).
          sort_array(collect_list(
            struct(col("ts"), col("op"), aggFlag.as("agg"), col(c).as("v"))))
            .as(s"_vs_$c")
        }
    val folded = log.groupBy(keys.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)
    val out = aggColumns.toSeq.foldLeft(folded) { case (df, (c, fn)) =>
      val alive = filter(col(s"_vs_$c"),
        x => x.getField("op") === OpUpsert &&
          (isnull(col("_del_ts")) || x.getField("ts") > col("_del_ts")))
      val dt = log.schema(c).dataType
      val merged = aggregate(alive, lit(null).cast(dt), (acc, x) => {
        val v = x.getField("v")
        when(isnull(v), acc) // null cell: state unchanged
          .when(!x.getField("agg"), v) // aggregate=%false write: overwrite
          .otherwise(fn match {
            case "sum"   => when(isnull(acc), v).otherwise(acc + v)
            case "min"   => when(isnull(acc), v).otherwise(least(acc, v))
            case "max"   => when(isnull(acc), v).otherwise(greatest(acc, v))
            case "first" => when(isnull(acc), v).otherwise(acc)
            // YSON dict merge over the Any carrier — recursive int
            // sums, zero-pruning, mismatch keeps the pre-merge state
            // (cg_routines.cpp DictSum; test_aggregate_dict_sum)
            case "dict_sum" => graft.functions.DictSumMerge(acc, v)
          })
      })
      df.withColumn(s"_agg_$c", merged)
    }
    out
      .where(isnull(col("_del_ts")) || col("_max_up_ts") > col("_del_ts"))
      .select(keys.map(col) ++
        plainCols.map(c => col(s"_lw_$c").as(c)) ++
        aggColumns.keys.toSeq.map(c => col(s"_agg_$c").as(c)) ++
        (if (withTimestamps)
          // `$timestamp:col` read columns (test_query.py
          // test_read_without_merge_sorted): newest non-null write of
          // the column; an agg column reads its newest alive delta
          plainCols.map(c => col(s"_wts_$c").as(s"$$timestamp:$c")) ++
          aggColumns.keys.toSeq.map(c => array_max(transform(
            filter(col(s"_vs_$c"),
              x => x.getField("op") === OpUpsert && x.getField("v").isNotNull &&
                (isnull(col("_del_ts")) || x.getField("ts") > col("_del_ts"))),
            x => x.getField("ts"))).as(s"$$timestamp:$c"))
        else Nil) ++
        (if (withVersion) Seq(col("_max_up_ts").as("_version")) else Nil): _*)
      // a key whose post-tombstone writes are all delete-free but whose
      // aggregate list is empty keeps null — same as a fresh row.
  }

  /** `select_rows(..., merge_versioned_rows=%false)` (test_query.py
    * test_read_without_merge_sorted): versions merge WITHIN a store
    * (a flushed chunk or the active dynamic store) but not ACROSS
    * stores — each store contributes its own merged row state per key,
    * so a reader sees the flushed aggregate base and the unflushed
    * delta fold as SEPARATE rows. The log's `store` column is the
    * flush epoch (each sync_flush starts a new one); a log without one
    * is a single store and degenerates to the merged read.
    *
    * Same single-shuffle shape as the merged verbs — the store id just
    * joins the grouping key, so unmerged reads cost exactly one hash
    * aggregation at any scale.
    */
  def readUnmerged(log: DataFrame, keys: Seq[String],
      aggColumns: Map[String, String] = Map.empty,
      withTimestamps: Boolean = false): DataFrame = {
    val l = if (log.columns.contains("store")) log
      else log.withColumn("store", lit(0L))
    val perStore = keys :+ "store"
    val merged =
      if (aggColumns.isEmpty) readLatestColumns(l, perStore, withTimestamps)
      else readWithAggregates(l, perStore, aggColumns,
        withTimestamps = withTimestamps)
    // a caller-supplied store id stays in the output (it identifies
    // the version state); the synthetic single store is dropped
    if (log.columns.contains("store")) merged else merged.drop("store")
  }

  /** Ordered dynamic table: assign `($tablet_index, $row_index)` system
    * columns (ordered-dynamic-tables.md:38-43). The tablet is a stable
    * function of `tabletExpr`; row_index is the append order within the
    * tablet. The window sorts per-tablet only — shuffle on tablet, sort
    * within partition, never a global sort.
    */
  def withOffsets(df: DataFrame, tabletExpr: Column, orderBy: Seq[Column]): DataFrame =
    df.withColumn("tablet_index", tabletExpr)
      .withColumn("row_index", (row_number().over(
        Window.partitionBy(col("tablet_index")).orderBy(orderBy: _*)) - lit(1)).cast("long"))

  /** PullQueue (queue_client.h:109-127): read `[offset, offset+limit)`
    * from one tablet of an ordered table. The tablet predicate prunes
    * to one partition; the row_index range is the consumer offset
    * window.
    */
  def pullQueue(ordered: DataFrame, tabletIndex: Int, offset: Long, limit: Long): DataFrame =
    ordered.where(col("tablet_index") === tabletIndex &&
      col("row_index") >= offset && col("row_index") < offset + limit)

  /** Consumer-offset registry (RegisterQueueConsumer /
    * AdvanceQueueConsumer, queue_client.h:129-154): a tiny keyed table
    * (consumer, tablet_index) → next_offset, itself maintained with the
    * engine's own latest-wins merge — advancing is an upsert, reading
    * is [[readLatest]]. `advanceConsumer` returns the updated registry;
    * persist it next to the queue (in the reference it lives in the
    * consumer's own dynamic table).
    */
  /** Empty registry frame (register = first advance). */
  def emptyConsumerRegistry(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long, Long, String)]
      .toDF("consumer", "tablet_index", "next_offset", "ts", "op")
  }

  def advanceConsumer(registry: DataFrame, consumer: String, tabletIndex: Long,
      nextOffset: Long, ts: Long): DataFrame = {
    val spark = registry.sparkSession
    import spark.implicits._
    val update = Seq((consumer, tabletIndex, nextOffset, ts, OpUpsert))
      .toDF("consumer", "tablet_index", "next_offset", "ts", "op")
    registry.unionByName(update)
  }

  /** Current offset of a consumer on a tablet (0 when unregistered). */
  def consumerOffset(registry: DataFrame, consumer: String,
      tabletIndex: Long): Long = {
    val rows = readLatest(registry, Seq("consumer", "tablet_index"))
      .where(col("consumer") === consumer && col("tablet_index") === tabletIndex)
      .select("next_offset").collect()
    if (rows.isEmpty) 0L else rows.head.getLong(0)
  }

  /** Pull from a tablet starting at the consumer's registered offset —
    * the PullQueueConsumer read path (pull, process, then
    * [[advanceConsumer]] with offset + consumed). */
  def pullForConsumer(ordered: DataFrame, registry: DataFrame, consumer: String,
      tabletIndex: Int, limit: Long): DataFrame =
    pullQueue(ordered, tabletIndex,
      consumerOffset(registry, consumer, tabletIndex.toLong), limit)

  // --- Queue producer sessions: exactly-once push ---
  // (queue_client.h:78-152 CreateQueueProducerSession/PushQueueProducer;
  // queues.md "Writing data": a session carries (epoch, sequence_number);
  // create bumps the epoch — zombie fencing — and push writes only rows
  // with $sequence_number above the stored high-water mark, so a retried
  // batch never duplicates rows.)

  /** The producer table: session_id → (epoch, sequence_number), itself a
    * latest-wins log like the consumer registry. */
  def emptyProducer(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Long, Long, String)]
      .toDF("session_id", "epoch", "seq", "ts", "op")
  }

  /** Current (epoch, sequence_number) of a session; (-1, -1) when the
    * session does not exist yet (a fresh create lands at epoch 0). The
    * producer table is hyperparameter-sized (one row per writer host) —
    * reading it driver-side is the consumerOffset pattern, not a
    * data-path collect. */
  def producerSession(producer: DataFrame, sessionId: String): (Long, Long) = {
    val rows = readLatest(producer, Seq("session_id"))
      .where(col("session_id") === sessionId)
      .select("epoch", "seq").collect()
    if (rows.isEmpty) (-1L, -1L)
    else (rows.head.getLong(0), rows.head.getLong(1))
  }

  /** CreateQueueProducerSession: new session → epoch 0, seq -1; existing
    * session → epoch + 1, stored seq. Returns (updated producer table,
    * epoch, last written sequence number). */
  def createProducerSession(producer: DataFrame, sessionId: String,
      ts: Long): (DataFrame, Long, Long) = {
    val spark = producer.sparkSession
    import spark.implicits._
    val (epoch, seq) = producerSession(producer, sessionId)
    val newEpoch = epoch + 1
    val upd = Seq((sessionId, newEpoch, seq, ts, OpUpsert))
      .toDF("session_id", "epoch", "seq", "ts", "op")
    (producer.unionByName(upd), newEpoch, seq)
  }

  /** PushQueueProducer result (the reference returns
    * last_sequence_number + skipped_row_count,
    * test_producer.py:265-289). */
  final case class PushResult(queue: DataFrame, producer: DataFrame,
      lastSequenceNumber: Long, skippedRowCount: Long)

  /** PushQueueProducer: append `rows` (carrying `seqCol` =
    * $sequence_number) to the queue. Rows at or below the session's
    * high-water mark are skipped (retry dedup, reported in
    * skippedRowCount); a push with a stale epoch throws (zombie
    * fencing). The skip filter is a map-side predicate on the batch —
    * the queue is never read, so a push costs O(batch), not O(queue). */
  def pushQueueProducer(queue: DataFrame, producer: DataFrame,
      sessionId: String, epoch: Long, rows: DataFrame, seqCol: String,
      ts: Long): PushResult = {
    val spark = producer.sparkSession
    import spark.implicits._
    val (curEpoch, lastSeq) = producerSession(producer, sessionId)
    if (epoch < curEpoch)
      throw new IllegalStateException(
        s"zombie push: session $sessionId epoch $epoch < current $curEpoch")
    if (epoch > curEpoch)
      throw new IllegalStateException(
        s"unknown epoch $epoch for session $sessionId (current $curEpoch)")
    val agg = rows.agg(
      max(col(seqCol)),
      count(when(col(seqCol) <= lastSeq, 1))).collect().head
    val newLast = if (agg.isNullAt(0)) lastSeq else math.max(agg.getLong(0), lastSeq)
    val skipped = agg.getLong(1)
    val fresh = rows.where(col(seqCol) > lastSeq)
    val upd = Seq((sessionId, epoch, newLast, ts, OpUpsert))
      .toDF("session_id", "epoch", "seq", "ts", "op")
    PushResult(queue.unionByName(fresh), producer.unionByName(upd),
      newLast, skipped)
  }

  /** Push with the start-sequence-number option
    * (test_producer.py:218-252): rows carry no $sequence_number; they
    * are numbered startSeq, startSeq+1, ... in `orderCol` order.
    *
    * The numbering is distributed: range-partition by the order column
    * and sort within partitions (a total order across ascending
    * partition ids), then assign ids via per-partition counts + a
    * prefix-sum of offsets (`zipWithIndex`) — no global window funneling
    * the batch through one partition. */
  def pushQueueProducerAutoSeq(queue: DataFrame, producer: DataFrame,
      sessionId: String, epoch: Long, rows: DataFrame, orderCol: Column,
      startSeq: Long, seqCol: String, ts: Long): PushResult = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = rows.sparkSession
    val sorted = rows.repartitionByRange(orderCol).sortWithinPartitions(orderCol)
    val schema = sorted.schema.add(seqCol, LongType, nullable = false)
    val numbered = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (startSeq + i))
      }, schema)
    pushQueueProducer(queue, producer, sessionId, epoch, numbered, seqCol, ts)
  }

  /** RemoveQueueProducerSession: tombstone the session row; a
    * subsequent create starts over at epoch 0, seq -1
    * (test_producer.py:115-129). */
  def removeProducerSession(producer: DataFrame, sessionId: String,
      ts: Long): DataFrame = {
    val spark = producer.sparkSession
    import spark.implicits._
    val del = Seq((sessionId, -1L, -1L, ts, OpDelete))
      .toDF("session_id", "epoch", "seq", "ts", "op")
    producer.unionByName(del)
  }

  // --- Consumer registrations (RegisterQueueConsumer /
  // UnregisterQueueConsumer / ListQueueConsumerRegistrations,
  // queue_client.h:129-154; tests queues/test_consumer_registrations.py)
  // — a latest-wins log of (queue, consumer) → vital flag. The vital
  // flag is what gates trimming (queues.md: "trimming by vital
  // consumers"). ---

  def emptyRegistrations(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Boolean, Long, String)]
      .toDF("queue", "consumer", "vital", "ts", "op")
  }

  def registerConsumer(regs: DataFrame, queue: String, consumer: String,
      vital: Boolean, ts: Long): DataFrame = {
    val spark = regs.sparkSession
    import spark.implicits._
    regs.unionByName(Seq((queue, consumer, vital, ts, OpUpsert))
      .toDF("queue", "consumer", "vital", "ts", "op"))
  }

  def unregisterConsumer(regs: DataFrame, queue: String, consumer: String,
      ts: Long): DataFrame = {
    val spark = regs.sparkSession
    import spark.implicits._
    regs.unionByName(Seq((queue, consumer, false, ts, OpDelete))
      .toDF("queue", "consumer", "vital", "ts", "op"))
  }

  /** Live registrations of a queue (ListQueueConsumerRegistrations). */
  def listRegistrations(regs: DataFrame, queue: String): DataFrame =
    readLatest(regs, Seq("queue", "consumer"))
      .where(col("queue") === queue)
      .select("consumer", "vital")

  /** [[autoTrim]] driven by the registration table: vital consumers
    * come from the registry itself, the reference's Queue Agent wiring.
    * The registration table is tiny — the collect is registry-sized. */
  def autoTrimRegistered(ordered: DataFrame, registry: DataFrame,
      regs: DataFrame, queue: String, retainedRows: Long): DataFrame = {
    val vital = listRegistrations(regs, queue)
      .where(col("vital")).select("consumer")
      .collect().map(_.getString(0)).toSeq
    autoTrim(ordered, registry, vital, retainedRows)
  }

  /** Per-partition queue statistics (the Queue Agent's partition info:
    * row counts and offset watermarks per tablet). One aggregation. */
  def queueStats(ordered: DataFrame): DataFrame =
    ordered.groupBy(col("tablet_index"))
      .agg(count(lit(1)).as("row_count"),
        min(col("row_index")).as("lower_row_index"),
        max(col("row_index")).as("upper_row_index"))

  // --- Queue trimming (queues.md #automatic_trimming; Trim verb) ---

  /** Trim one tablet of an ordered queue below `upTo` (rows with
    * row_index < upTo drop — the Queue Agent's Trim call). */
  def trim(ordered: DataFrame, tabletIndex: Long, upTo: Long): DataFrame =
    ordered.where(!(col("tablet_index") === tabletIndex &&
      col("row_index") < upTo))

  /** Auto-trim by vital consumers with a retained_rows floor: each
    * tablet trims to min(smallest vital-consumer offset, high_watermark
    * - retainedRows). One aggregation over the (tiny) registry + one
    * over the queue's per-tablet maxima; the queue itself is filtered
    * map-side against the broadcast bounds. */
  def autoTrim(ordered: DataFrame, registry: DataFrame,
      vitalConsumers: Seq[String], retainedRows: Long): DataFrame =
    autoTrim(ordered, registry, vitalConsumers, retainedRows,
      retainedLifetime = None)

  /** Auto-trim with the full policy set (queues.md
    * #automatic_trimming; test_queue_agent.py test_retained_rows /
    * test_retained_lifetime_duration / ..._and_rows): each tablet
    * trims to the smallest vital-consumer offset, further FLOORED by
    * `retained_rows` (that many newest rows always survive) and by
    * `retained_lifetime_duration` — rows whose commit time is within
    * the duration of `now` are never trimmed, so the bound caps at the
    * first still-young row index. All bounds come from tiny
    * aggregations (registry + per-tablet maxima/minima) broadcast back;
    * the queue itself filters map-side. */
  def autoTrim(ordered: DataFrame, registry: DataFrame,
      vitalConsumers: Seq[String], retainedRows: Long,
      retainedLifetime: Option[(String, Long, Column)]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val minOffsets = readLatest(registry, Seq("consumer", "tablet_index"))
      .where(col("consumer").isin(vitalConsumers: _*))
      .groupBy(col("tablet_index"))
      .agg(min(col("next_offset")).as("vital_min"))
    val highs = ordered.groupBy(col("tablet_index"))
      .agg((max(col("row_index")) + 1 - retainedRows).as("retain_floor"))
    val withLife = retainedLifetime match {
      case None => highs.withColumn("life_floor", lit(null).cast("long"))
      case Some((tsCol, lifetimeSec, now)) =>
        val young = ordered
          .where(unix_timestamp(col(tsCol)) > now - lifetimeSec)
          .groupBy(col("tablet_index"))
          .agg(min(col("row_index")).as("life_floor"))
        highs.join(young, Seq("tablet_index"), "left")
    }
    val bounds = withLife.join(minOffsets, Seq("tablet_index"), "left")
      .select(col("tablet_index"),
        least(
          least(coalesce(col("vital_min"), lit(0L)),
            greatest(col("retain_floor"), lit(0L))),
          coalesce(col("life_floor"), lit(Long.MaxValue))).as("trim_to"))
    ordered.join(broadcast(bounds), Seq("tablet_index"), "left")
      .where(col("trim_to").isNull || col("row_index") >= col("trim_to"))
      .drop("trim_to")
  }

  /** Tablet index under pivot-key sharding (resharding.md: a sorted
    * dynamic table's tablets are the half-open key ranges
    * `(-inf, p1) [p1, p2) ... [pn, +inf)`): the number of pivots ≤ key
    * — a MONOTONE step function of the key, so a registered
    * [[graft.plans.ComputedColumns]] spec prunes key-range scans to the
    * intersecting tablets (TQueryCoordinateTest UsesKeyToPruneSplits,
    * ql_query_ut.cpp:1184). */
  def tabletOf(key: Column, pivots: Seq[Long]): Column =
    pivots.foldLeft(lit(0)) { (acc, p) =>
      acc + when(key >= lit(p), 1).otherwise(0)
    }.cast("int")

  /** Reshard: materialize [[tabletOf]] as the `tablet_index` column
    * (write-path evaluation, like every computed key column). Storage
    * partitioned by `tablet_index` then scans only the tablets a key
    * predicate can reach. */
  def reshard(df: DataFrame, keyCol: String, pivots: Seq[Long]): DataFrame =
    df.withColumn("tablet_index", tabletOf(col(keyCol), pivots))

  /** Queue static export (Queue Agent queue_exporter.cpp; queues.md
    * "exports" attribute): queue rows export into period-aligned static
    * tables — each export table covers one `[k·period, (k+1)·period)`
    * window of commit time, named by its `export_unix_ts` = the
    * window's floor. Only COMPLETE windows export: the upper bound is
    * the floor of the task instant (GetExportUnixTsUpperBound,
    * queue_exporter.cpp:473) so a window still receiving writes never
    * ships. Returns the rows tagged with their window.
    */
  def exportQueuePeriods(queue: DataFrame, tsCol: String, periodSec: Long,
      nowEpochSec: Long): DataFrame =
    exportQueuePeriods(queue, tsCol, periodSec, lit(nowEpochSec))

  /** Column-typed task instant: lets the caller derive "now" in-plan
    * (e.g. a broadcast scalar subquery of the ingestion high-water
    * mark) instead of materializing it on the driver. */
  def exportQueuePeriods(queue: DataFrame, tsCol: String, periodSec: Long,
      nowEpochSec: Column): DataFrame = {
    require(periodSec > 0, "export period must be positive")
    val upper = (floor(nowEpochSec / periodSec) * periodSec).cast("long")
    queue
      .withColumn("export_unix_ts",
        (floor(unix_timestamp(col(tsCol)) / periodSec) * periodSec).cast("long"))
      .where(col("export_unix_ts") < upper)
  }

  /** One export task run (TQueueExportProgress semantics): write every
    * complete window newer than `lastExportUnixTs` (the persisted
    * progress cursor) as a static parquet table under
    * `dir/export_unix_ts=<k>`, idempotently (per-window overwrite — a
    * retried task recreates identical tables, queue_exporter.cpp's
    * create-or-skip). Returns the new progress cursor and the
    * per-window row counts/max timestamp (TQueueTabletExportProgress
    * surface).
    */
  def exportQueueRun(queue: DataFrame, tsCol: String, dir: String,
      periodSec: Long, nowEpochSec: Long,
      lastExportUnixTs: Long = Long.MinValue): (Long, DataFrame) = {
    val tagged = exportQueuePeriods(queue, tsCol, periodSec, nowEpochSec)
      .where(col("export_unix_ts") > lit(lastExportUnixTs))
    // dynamic partition overwrite: a retry rewrites only the windows it
    // re-exports; previously shipped windows stay untouched
    tagged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("export_unix_ts").parquet(dir)
    val progress = tagged.groupBy(col("export_unix_ts"))
      .agg(count(lit(1)).as("row_count"),
        max(unix_timestamp(col(tsCol))).as("max_timestamp"))
    val cursor = progress.agg(max(col("export_unix_ts"))).head()
    (if (cursor.isNullAt(0)) lastExportUnixTs else cursor.getLong(0), progress)
  }
}
