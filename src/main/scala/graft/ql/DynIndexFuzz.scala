package graft.ql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DynTable

/** Differential fuzz domain `fz_dynidx`: secondary-index SYNC
  * maintenance under randomized DML.
  *
  * The engine derives an INDEX LOG from a seeded primary write/delete
  * log through the real maintenance pass
  * ([[DynTable.maintainIndexLog]] — the TSecondaryIndexModifier
  * write-path contract, secondary_index_modification.cpp:443-568:
  * stale index row tombstoned + new row written per primary
  * mutation), then reads the index through the ordinary MVCC merge.
  * The DuckDB oracle NEVER sees the maintenance machinery: it
  * projects the merged PRIMARY from first principles. Any divergence
  * in tombstone placement, displaced-value handling, predicate
  * enter/leave transitions, or as-of visibility shows as a checksum
  * mismatch.
  *
  * Cases (all folded to one `(case_id, n, chk)` row):
  *   0 full-sync index view (latest)      ≡ σ_alive π_(v1,k) primary
  *   1 index view AS OF a seeded cutoff   ≡ the same at the cutoff
  *   2 composite index (v1, v2)           ≡ π_(v1,v2,k)
  *   3 predicated index (pred on v1)      ≡ σ_alive∧pred π_(v1,k)
  *   4 the index LOG's own tombstone mass — pins the maintenance
  *     output itself (upsert/delete row counts), not just the merge
  *     over it, against a first-principles window replay.
  */
object DynIndexFuzz {
  import DynFuzz.{mix, summarize}

  final case class Params(keyMod: Long, delMod: Long, valMod: Long,
      cutoff: Long, predRes: Long)

  def params(seed: Long): Params = Params(
    keyMod = Array(11L, 23L, 47L, 89L)(((mix(seed) & Long.MaxValue) % 4).toInt),
    delMod = Array(4L, 6L, 9L, 14L)(((mix(seed + 1) & Long.MaxValue) % 4).toInt),
    valMod = Array(7L, 19L, 40L)(((mix(seed + 2) & Long.MaxValue) % 3).toInt),
    cutoff = 1L + ((mix(seed + 3) & Long.MaxValue) % 7) * 2048L,
    predRes = (mix(seed + 4) & Long.MaxValue) % 3)

  def run(spark: SparkSession, orders: DataFrame, seed: Long): DataFrame = {
    val p = params(seed)
    // the seeded primary log (identical SQL shape for the oracle): small
    // valMod makes indexed values FLAP across versions of a key, the
    // transition the maintenance pass must tombstone correctly
    val log = orders.select(DynFuzz.logColumns(seed, p.keyMod, p.delMod, p.valMod): _*)
    val chk1 = col("k") * 1000003L + col("v1") * 31L
    val chk2 = chk1 + coalesce(col("v2"), lit(-13L)) * 7L

    val idx1 = DynTable.maintainIndexLog(log, Seq("k"), Seq("v1"))
    val c0 = summarize(
      DynTable.readLatest(idx1, Seq("v1", "k")), 0, chk1)
    val c1 = summarize(
      DynTable.readAsOf(idx1, Seq("v1", "k"), lit(p.cutoff)), 1, chk1)

    val idx2 = DynTable.maintainIndexLog(log, Seq("k"), Seq("v1", "v2"))
    val c2 = summarize(
      DynTable.readLatest(idx2, Seq("v1", "v2", "k")), 2, chk2)

    val idxP = DynTable.maintainIndexLog(log, Seq("k"), Seq("v1"),
      pred = cols => cols.head % 3 === p.predRes)
    val c3 = summarize(
      DynTable.readLatest(idxP, Seq("v1", "k")), 3, chk1)

    // the maintenance OUTPUT itself: upsert/delete row counts + a
    // checksum over (v1, k, ts, op) — pins where tombstones land
    val c4 = summarize(idx1, 4,
      col("k") * 1000003L + col("v1") * 31L + col("ts") * 3L +
        when(col("op") === DynTable.OpDelete, 1L).otherwise(0L))

    Seq(c0, c1, c2, c3, c4).reduce(_ unionByName _)
  }

  /** First-principles DuckDB replay: merged-primary projections (the
    * oracle never runs the maintenance pass) + a window replay of the
    * maintenance contract for case 4. */
  def oracleSql(seed: Long): String = {
    val p = params(seed)
    val log =
      s"""SELECT o_orderkey % ${p.keyMod} AS k, o_orderkey AS ts,
         |  CASE WHEN (o_custkey + $seed) % ${p.delMod} = 0 THEN 'delete'
         |       ELSE 'upsert' END AS op,
         |  o_custkey % ${p.valMod} AS v1,
         |  (o_custkey * 7 + o_orderkey) % ${p.valMod} AS v2
         |FROM orders""".stripMargin
    // the merged primary at a horizon: full-row latest-wins
    def alive(cid: Int, where: String, predSql: String, chkSql: String) =
      s"""SELECT CAST($cid AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum($chkSql), 0) AS BIGINT) AS chk
         |FROM (
         |  SELECT k, arg_max(v1, ts) AS v1, arg_max(v2, ts) AS v2,
         |    arg_max(op, ts) AS lop
         |  FROM lg WHERE TRUE $where GROUP BY k)
         |WHERE lop = 'upsert' $predSql""".stripMargin
    val chk1 = "k * 1000003 + v1 * 31"
    val chk2 = s"$chk1 + coalesce(v2, -13) * 7"
    // case 4: replay the maintenance contract as a window pass —
    // upserts for current values, deletes where the displaced value
    // (or a primary delete) retires the previous index row
    val maint4 =
      s"""SELECT CAST(4 AS BIGINT) AS case_id,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(chk), 0) AS BIGINT) AS chk
         |FROM (
         |  SELECT k * 1000003 + v1 * 31 + ts * 3 + 0 AS chk
         |  FROM st WHERE op = 'upsert'
         |  UNION ALL
         |  SELECT k * 1000003 + pv1 * 31 + ts * 3 + 1 AS chk
         |  FROM st
         |  WHERE pop = 'upsert'
         |    AND (op = 'delete' OR v1 IS DISTINCT FROM pv1))""".stripMargin
    s"""WITH lg AS ($log),
       |st AS (
       |  SELECT k, ts, op, v1,
       |    lag(op) OVER w AS pop, lag(v1) OVER w AS pv1
       |  FROM lg WINDOW w AS (PARTITION BY k ORDER BY ts))
       |${alive(0, "", "", chk1)}
       |UNION ALL
       |${alive(1, s"AND ts <= ${p.cutoff}", "", chk1)}
       |UNION ALL
       |${alive(2, "", "", chk2)}
       |UNION ALL
       |${alive(3, "", s"AND v1 % 3 = ${p.predRes}", chk1)}
       |UNION ALL
       |$maint4""".stripMargin
  }
}
