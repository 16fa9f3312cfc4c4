package graft.ql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DynTable

/** Differential fuzz domain for the dynamic-table merge semantics
  * (`fz_dyn`): a SEEDED MVCC write/delete log derived from `orders`
  * (so a DuckDB oracle can rebuild the identical log in SQL), pushed
  * through the real DynTable verbs — latest-wins merge, versioned
  * read, per-column partial-write merge, aggregate-column folds,
  * compaction transparency — with the oracle replaying each verb's
  * contract from first principles (arg_max per key/column over the
  * tombstone horizon). Every case folds to one `(case_id, n, chk)`
  * row, so a value divergence anywhere in the merge surfaces as a
  * checksum mismatch.
  *
  * Reference semantics under test: TSchemafulRowMerger
  * (row_merger.cpp:19-186) row merge + tombstone horizon,
  * partial-write column timestamps (test_versioned_select),
  * aggregate-column folds (cg_routines.cpp), compaction invisibility
  * (store_compactor.cpp).
  */
object DynFuzz {

  /** Seeded log parameters — small co-prime moduli so keys collide
    * across many versions and tombstones interleave. */
  final case class Params(keyMod: Long, delMod: Long, valMod: Long,
      cutoff: Long, aggFn: String, maxVersions: Int, stagedRes: Long)

  /** splitmix-style bit mixing: decorrelates the parameter draws of
    * every dynamic-table fuzz domain. */
  private[ql] def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def params(seed: Long): Params = {
    val keyMods = Array(13L, 29L, 53L, 83L)
    val delMods = Array(5L, 7L, 11L, 13L)
    val valMods = Array(50L, 100L, 250L)
    val aggFns = Array("sum", "min", "max", "first")
    Params(
      keyMod = keyMods(((mix(seed) & Long.MaxValue) % 4).toInt),
      delMod = delMods(((mix(seed + 1) & Long.MaxValue) % 4).toInt),
      valMod = valMods(((mix(seed + 2) & Long.MaxValue) % 3).toInt),
      cutoff = 1L + ((mix(seed + 3) & Long.MaxValue) % 7) * 2048L,
      aggFn = aggFns(((mix(seed + 4) & Long.MaxValue) % 4).toInt),
      maxVersions = Array(1, 2, 4)(((mix(seed + 5) & Long.MaxValue) % 3).toInt),
      stagedRes = (mix(seed + 6) & Long.MaxValue) % 3)
  }

  // transaction-case version bounds: the staged batch commits at a ts
  // strictly above every log version, so the conflict window is empty
  // by construction and the commit must succeed deterministically
  private val TxStartTs = 10000000000L
  private val TxCommitTs = TxStartTs + 1000L

  /** The seeded write/delete log over `orders`: (k, ts, op, v1, v2).
    * ts = o_orderkey is a total version order (unique per key), so
    * every merge is deterministic. Shared with [[DynIndexFuzz]]. */
  private[ql] def logColumns(seed: Long, keyMod: Long, delMod: Long,
      valMod: Long): Seq[Column] = Seq(
    (col("o_orderkey") % keyMod).as("k"),
    col("o_orderkey").as("ts"),
    when((col("o_custkey") + seed) % delMod === 0, DynTable.OpDelete)
      .otherwise(DynTable.OpUpsert).as("op"),
    (col("o_custkey") % valMod).as("v1"),
    ((col("o_custkey") * 7 + col("o_orderkey")) % valMod).as("v2"))

  private def baseLog(orders: DataFrame, seed: Long, p: Params): DataFrame =
    orders.select(logColumns(seed, p.keyMod, p.delMod, p.valMod): _*)

  /** The log plus the partial-write mask `written`. */
  private def maskedLog(orders: DataFrame, seed: Long, p: Params): DataFrame = {
    val m = (col("o_custkey") + seed) % 3
    orders.select(logColumns(seed, p.keyMod, p.delMod, p.valMod) :+
      when(m === 0, array(lit("v1")))
        .when(m === 1, array(lit("v2")))
        .otherwise(lit(null).cast("array<string>")).as("written"): _*)
  }

  private val duckLog =
    """SELECT o_orderkey %% %d AS k, o_orderkey AS ts,
      |  CASE WHEN (o_custkey + %d) %% %d = 0 THEN 'delete'
      |       ELSE 'upsert' END AS op,
      |  o_custkey %% %d AS v1,
      |  (o_custkey * 7 + o_orderkey) %% %d AS v2,
      |  (o_custkey + %d) %% 3 AS m
      |FROM orders""".stripMargin

  private def duckLogSql(seed: Long, p: Params): String =
    duckLog.format(p.keyMod, seed, p.delMod, p.valMod, p.valMod, seed)

  /** Fold a merged state to the uniform (case_id, n, chk) row. */
  private[ql] def summarize(df: DataFrame, cid: Int, chk: Column): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(chk), lit(0L)).cast("long").as("chk"))
      .select(lit(cid.toLong).as("case_id"), col("n"), col("chk"))

  private def chk2(v1: Column, v2: Column): Column =
    col("k") * 1000003L + coalesce(v1, lit(-11L)) * 31L + coalesce(v2, lit(-13L))

  /** Engine side: every case through the real DynTable verbs. */
  def run(spark: SparkSession, orders: DataFrame, seed: Long): DataFrame = {
    val p = params(seed)
    // NOTE (r13): materializing the shared log once per run
    // (localCheckpoint on log0/logM) was tried and measured SLOWER
    // (0.94s -> 1.39s median isolated): the two eager checkpoint jobs
    // serialize ahead of the 8 cases, while the repeated scan+derive
    // subtrees they would save are cheap column-pruned parquet scans.
    // Same dead end as round 12's registry localCheckpoint — don't
    // re-try.
    val log0 = baseLog(orders, seed, p)
    val logM = maskedLog(orders, seed, p)
    val c0 = summarize(DynTable.readLatest(log0, Seq("k")), 0,
      chk2(col("v1"), col("v2")))
    val c1 = summarize(
      DynTable.readAsOf(log0, Seq("k"), lit(p.cutoff)), 1,
      chk2(col("v1"), col("v2")))
    val c2 = summarize(DynTable.readLatestColumns(logM, Seq("k")), 2,
      chk2(col("v1"), col("v2")))
    val c3 = summarize(
      DynTable.readWithAggregates(log0, Seq("k"), Map("v1" -> p.aggFn)), 3,
      chk2(col("v1"), col("v2")))
    val c4 = summarize(
      DynTable.readLatest(DynTable.compact(log0, Seq("k")), Seq("k")), 4,
      chk2(col("v1"), col("v2")))
    val c5 = summarize(
      DynTable.readAsOfColumns(logM, Seq("k"), lit(p.cutoff)), 5,
      chk2(col("v1"), col("v2")))
    // retention by version count alone (minV=1, ttls neutral): the log
    // keeps exactly the newest max(1, maxVersions) versions per key —
    // checksummed at the LOG level, so the deletion rule itself is
    // pinned, not just the merged read over it
    val retained = DynTable.compactWithRetention(log0, Seq("k"),
      minDataVersions = 1, maxDataVersions = p.maxVersions,
      minDataTtl = 0L, maxDataTtl = Long.MaxValue / 4,
      now = lit(TxStartTs))
    val c6 = summarize(retained, 6,
      col("k") * 1000003L + col("ts") * 7L + col("v1"))
    // transaction commit with an empty conflict window: one staged
    // upsert per selected key at TxCommitTs, values derived from the
    // key so the oracle rebuilds the batch exactly
    val staged = spark.range(p.keyMod).select(col("id").as("k"))
      .where(col("k") % 3 === p.stagedRes)
      .select(col("k"), lit(DynTable.OpUpsert).as("op"),
        ((col("k") * 5 + seed) % p.valMod).as("v1"),
        ((col("k") * 11 + seed) % p.valMod).as("v2"))
    val committed = DynTable.commitTransaction(log0, staged, Seq("k"),
      lit(TxStartTs), lit(TxCommitTs))
    val c7 = summarize(DynTable.readLatest(committed, Seq("k")), 7,
      chk2(col("v1"), col("v2")))
    Seq(c0, c1, c2, c3, c4, c5, c6, c7).reduce(_ unionByName _)
  }

  /** DuckDB replay of every case's contract. */
  def oracleSql(seed: Long): String = {
    val p = params(seed)
    val log = duckLogSql(seed, p)
    def sum2(v1: String, v2: String) =
      s"k * 1000003 + coalesce($v1, -11) * 31 + coalesce($v2, -13)"
    // full-row latest-wins (readLatest): the whole row at max ts,
    // dropped when that row is a tombstone
    def latest(cid: Int, extraWhere: String) =
      s"""SELECT CAST($cid AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(${sum2("v1", "v2")}), 0) AS BIGINT) AS chk
         |FROM (
         |  SELECT k, arg_max(v1, ts) AS v1, arg_max(v2, ts) AS v2,
         |    arg_max(op, ts) AS lop
         |  FROM lg WHERE TRUE $extraWhere GROUP BY k)
         |WHERE lop = 'upsert'""".stripMargin
    // per-column merge under the partial-write mask (readLatestColumns):
    // column c reads its newest write past the tombstone horizon; the
    // row exists if any upsert beats the horizon
    def columns(cid: Int, extraWhere: String) =
      s"""SELECT CAST($cid AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(${sum2("v1o", "v2o")}), 0) AS BIGINT) AS chk
         |FROM (
         |  SELECT k,
         |    CASE WHEN v1ts > coalesce(del_ts, -1) THEN v1v END AS v1o,
         |    CASE WHEN v2ts > coalesce(del_ts, -1) THEN v2v END AS v2o
         |  FROM (
         |    SELECT k,
         |      max(CASE WHEN op = 'delete' THEN ts END) AS del_ts,
         |      max(CASE WHEN op = 'upsert' THEN ts END) AS up_ts,
         |      arg_max(CASE WHEN op = 'upsert' AND m IN (0, 2) THEN v1 END,
         |              CASE WHEN op = 'upsert' AND m IN (0, 2) THEN ts END)
         |        AS v1v,
         |      max(CASE WHEN op = 'upsert' AND m IN (0, 2) THEN ts END)
         |        AS v1ts,
         |      arg_max(CASE WHEN op = 'upsert' AND m IN (1, 2) THEN v2 END,
         |              CASE WHEN op = 'upsert' AND m IN (1, 2) THEN ts END)
         |        AS v2v,
         |      max(CASE WHEN op = 'upsert' AND m IN (1, 2) THEN ts END)
         |        AS v2ts
         |    FROM lg WHERE TRUE $extraWhere GROUP BY k)
         |  WHERE coalesce(up_ts, -1) > coalesce(del_ts, -1))""".stripMargin
    // aggregate column fold (readWithAggregates): deltas past the
    // horizon fold with the seeded function; the plain column reads
    // its newest upsert
    val aggExpr = p.aggFn match {
      case "sum" => "sum(CASE WHEN alive THEN v1 END)"
      case "min" => "min(CASE WHEN alive THEN v1 END)"
      case "max" => "max(CASE WHEN alive THEN v1 END)"
      case "first" => "arg_min(CASE WHEN alive THEN v1 END, " +
        "CASE WHEN alive THEN ts END)"
    }
    val agg3 =
      s"""SELECT CAST(3 AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(${sum2("a1", "v2l")}), 0) AS BIGINT) AS chk
         |FROM (
         |  SELECT l.k, $aggExpr AS a1,
         |    arg_max(CASE WHEN l.op = 'upsert' THEN l.v2 END,
         |            CASE WHEN l.op = 'upsert' THEN l.ts END) AS v2l
         |  FROM (
         |    SELECT *, op = 'upsert' AND
         |      ts > coalesce(max(CASE WHEN op = 'delete' THEN ts END)
         |        OVER (PARTITION BY k), -1) AS alive
         |    FROM lg) l
         |  GROUP BY l.k
         |  HAVING coalesce(max(CASE WHEN l.op = 'upsert' THEN l.ts END), -1)
         |    > coalesce(max(CASE WHEN l.op = 'delete' THEN l.ts END), -1))"""
        .stripMargin
    // retention: keep the newest max(1, maxVersions) versions per key
    val keep = math.max(1, p.maxVersions)
    val ret6 =
      s"""SELECT CAST(6 AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(k * 1000003 + ts * 7 + v1), 0) AS BIGINT)
         |    AS chk
         |FROM (
         |  SELECT k, ts, v1,
         |    row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
         |  FROM lg)
         |WHERE rn <= $keep""".stripMargin
    // transaction: the staged batch lands at TxCommitTs, newest for
    // every staged key — ordinary latest-wins over log ∪ batch
    val tx7 =
      s"""SELECT CAST(7 AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(${sum2("v1", "v2")}), 0) AS BIGINT) AS chk
         |FROM (
         |  SELECT k, arg_max(v1, ts) AS v1, arg_max(v2, ts) AS v2,
         |    arg_max(op, ts) AS lop
         |  FROM (
         |    SELECT k, ts, op, v1, v2 FROM lg
         |    UNION ALL
         |    SELECT k, $TxCommitTs AS ts, 'upsert' AS op,
         |      (k * 5 + ${seed}) %% ${p.valMod} AS v1,
         |      (k * 11 + ${seed}) %% ${p.valMod} AS v2
         |    FROM range(0, ${p.keyMod}) AS t(k)
         |    WHERE k %% 3 = ${p.stagedRes})
         |  GROUP BY k)
         |WHERE lop = 'upsert'""".stripMargin.replace("%%", "%")
    s"""WITH lg AS ($log)
       |${latest(0, "")}
       |UNION ALL
       |${latest(1, s"AND ts <= ${p.cutoff}")}
       |UNION ALL
       |${columns(2, "")}
       |UNION ALL
       |$agg3
       |UNION ALL
       |${latest(4, "")}
       |UNION ALL
       |${columns(5, s"AND ts <= ${p.cutoff}")}
       |UNION ALL
       |$ret6
       |UNION ALL
       |$tx7""".stripMargin
  }
}
