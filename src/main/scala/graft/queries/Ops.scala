package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Operations
import graft.sources.Tables

/** MapReduce-operation surface (SURVEY.md §2.B) driven through
  * [[graft.operators.Operations]], each verified against a declarative
  * SQL oracle. The user functions use integer/string arithmetic only —
  * float math inside closures would round differently than the oracle
  * engine.
  */
object Ops {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Operator-only plans for [[graft.Bench]] (same contract as
    * queries.Llm.benchOnly): the correctness entry for
    * `op_merge_sorted` prepares its fixtures IN-PLAN (two global
    * pre-sorts of the halves) and verifies with an RDD zipWithIndex
    * position stamp — three range-sorts plus an RDD round trip, all
    * gate machinery. The reference's SortedMerge consumes chunks that
    * are ALREADY sorted, so the throughput number times the MERGE
    * alone: the sorted halves materialize once per `lineitem` table
    * ([[Tables.derived]]), and the timed plan is one range-exchange
    * merge over them. */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "op_merge_sorted" -> ((s, d) => {
      val keys = Seq(col("l_orderkey").asc, col("l_linenumber").asc)
      val fixture = Tables.derived(s, Tables.path(d, "lineitem"), "merge_sorted") { dir =>
        val li = t(s, d, "lineitem").select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
        Operations.sort(li.filter(col("l_orderkey") % 2 === 0), keys)
          .write.mode("overwrite").parquet(s"$dir/a")
        Operations.sort(li.filter(col("l_orderkey") % 2 =!= 0), keys)
          .write.mode("overwrite").parquet(s"$dir/b")
      }
      Operations.mergeSorted(Seq(
        s.read.parquet(s"$fixture/a"), s.read.parquet(s"$fixture/b")), keys)
    }))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Map operation: per-row user transform as a partition closure
    // (user_job.cpp mapper ≈ Scala closure).
    // OrderedMap (ordered_controller.cpp): per-partition transform
    // preserving input row order. The map emits each row WITH ITS
    // PREDECESSOR — a chain only an order-preserving pass can produce —
    // and the oracle replays it as lag() over the sort order, so any
    // reordering breaks the value compare. Single split here makes the
    // chain global (the per-partition contract at scale is the same
    // chain per split; specs cover multi-split).
    "op_map_ordered" -> ((s, d) => {
      import s.implicits._
      val sorted = t(s, d, "orders").select(col("o_orderkey").as("k"))
        .orderBy("k").coalesce(1).as[Long]
      Operations.mapOrdered(sorted) { it =>
        var prev = -1L
        it.map { k => val r = (k, prev); prev = k; r }
      }.toDF("k", "prev_k")
    }),

    "op_map" -> ((s, d) => {
      val in = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_linestatus"))
      val schema = StructType(Seq(
        StructField("line_uid", LongType), StructField("flag", StringType)))
      Operations.map(in) { rows =>
        rows.map { r =>
          Row(r.getLong(0) * 10L + r.getInt(1),
            r.getString(2) + "/" + r.getString(3))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
        .groupBy(col("flag")).agg(count(lit(1)).as("cnt"),
          sum(col("line_uid")).as("sum_uid"))
    }),

    // Map with input_query pre-filter pushed below the user job
    // (PrepareJobQuery, query_preparer.cpp:1175).
    "op_map_input_query" -> ((s, d) => {
      val in = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      Operations.mapWithInputQuery(in, "o_totalprice > 300000 AND o_orderstatus = 'F'") {
        rows => rows.map(r => Row(r.getLong(0), r.getLong(1) % 7L, r.getString(2), r.getDouble(3)))
      }.groupBy(col("o_custkey").as("custmod"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // Sort operation: sampled range partition + in-partition sort;
    // the global position proves total order end-to-end.
    "op_sort" -> ((s, d) => {
      val sorted = Operations.sort(
        t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      val schema = sorted.schema.add(StructField("pos", LongType))
      s.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
        schema)
    }),

    // ShallowMerge (shallow_merge_job.cpp): chunk files copied, rows
    // never decoded — the merged directory must read back as the
    // tables' exact union.
    "op_merge_shallow" -> ((s, d) => {
      val n = t(s, d, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft-shallow").toString
      n.filter(col("n_nationkey") < 12).write.mode("overwrite").parquet(s"$tmp/a")
      n.filter(col("n_nationkey") >= 12).write.mode("overwrite").parquet(s"$tmp/b")
      val nFiles = Operations.shallowMerge(s, Seq(s"$tmp/a", s"$tmp/b"), s"$tmp/out")
      require(nFiles > 0, "shallow merge must copy chunk files")
      s.read.parquet(s"$tmp/out")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_nationkey")).as("key_sum"))
    }),

    // Sorted merge: two sorted halves k-way merged back, positions must
    // equal row_number over the whole table.
    "op_merge_sorted" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
      val keys = Seq(col("l_orderkey").asc, col("l_linenumber").asc)
      val a = Operations.sort(li.filter(col("l_orderkey") % 2 === 0), keys)
      val b = Operations.sort(li.filter(col("l_orderkey") % 2 =!= 0), keys)
      val merged = Operations.mergeSorted(Seq(a, b), keys)
      val schema = merged.schema.add(StructField("pos", LongType))
      s.createDataFrame(
        merged.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
        schema)
    }),

    // Ordered merge: inputs concatenated in sequence, order inside each
    // input preserved — verified by checking the concatenation order
    // via a per-input tag + global position.
    "op_merge_ordered" -> ((s, d) => {
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      val merged = Operations.mergeOrdered(Seq(
        n.filter(col("n_nationkey") < 10).withColumn("src", lit(0L)),
        n.filter(col("n_nationkey") >= 10).withColumn("src", lit(1L))))
      merged
    }),

    // RemoteCopy: byte-identical table copy (remote_copy_job.cpp).
    "op_remote_copy" -> ((s, d) => {
      val dst = java.nio.file.Files.createTempDirectory("remote_copy")
        .resolve("nation").toString
      Operations.remoteCopy(s, Tables.path(d, "nation"), dst)
    }),

    // Unordered merge: concatenation of N inputs.
    "op_merge_unordered" -> ((s, d) => {
      val o = t(s, d, "orders")
      Operations.mergeUnordered(Seq(
        o.filter(col("o_orderstatus") === "F"),
        o.filter(col("o_orderstatus") =!= "F")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // Erase: delete a key range, keep the complement.
    "op_erase" -> ((s, d) =>
      Operations.erase(t(s, d, "orders"),
        col("o_totalprice").between(100000, 400000))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))),

    // SortedReduce: per-key streaming reduce with secondary sort
    // (reduce_by=custkey, sort_by=orderdate; key guarantee on).
    "op_sorted_reduce" -> ((s, d) => {
      val in = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val out = StructType(Seq(
        StructField("o_custkey", LongType), StructField("cnt", LongType),
        StructField("first_order", LongType), StructField("last_order", LongType),
        StructField("total", DoubleType)))
      Operations.sortedReduce(in, Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"), out) {
        (key, rows) =>
          var n = 0L; var first = -1L; var last = -1L; var sum = 0.0
          rows.foreach { r =>
            if (n == 0) first = r.getLong(1)
            last = r.getLong(1); n += 1; sum += r.getDouble(3)
          }
          Iterator(Row(key.getLong(0), n, first, last,
            BigDecimal(sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }),

    // AS-OF join: each click picks up the latest prior-or-equal
    // purchase value per user — single shuffle + merge pass
    // (Operations.asofJoin); DuckDB's native ASOF JOIN is the oracle.
    // Purchases dedupe to one row per (user, ts) first so the pick at
    // equal timestamps is deterministic in both engines.
    "op_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(round(max(col("value")), 2).as("pvalue"))
        .withColumnRenamed("ts", "p_ts")
      Operations.asofJoin(clicks, purchases, Seq("user_id"), "ts", "p_ts",
        Seq("pvalue"))
        .select(col("event_id"), col("user_id"), col("pvalue"))
    }),

    // TABLESAMPLE BERNOULLI + REPEATABLE: content-deterministic hash
    // sample (stable across repartitioning, join-compatible). The md5
    // form makes the EXACT sampled row set reproducible in the DuckDB
    // oracle — hash-green, not rows-only. The xxhash64 hot-path variant
    // keeps its property-based coverage in OperationsSpec.
    "op_table_sample" -> ((s, d) => {
      val sampled = Operations.hashSampleMd5(
        t(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber"), 0.1)
      sampled.agg(count(lit(1)).as("sampled_rows"),
        count_distinct(col("l_orderkey")).as("sampled_orders"))
    }),

    // User job over a Skiff pipe (the reference's default fast job
    // format): lineitem rows through an identity process in variant16
    // framing, then aggregate — wire format proven against the oracle.
    "op_pipe_skiff" -> ((s, d) => {
      val in = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      graft.sources.Skiff.pipeMap(in, Seq("cat"), in.schema)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("qty"))
    }),

    // Multi-table user job ($table_index contract, mapreduce.md:111):
    // orders and lineitem feed ONE skiff pipe as a tagged variant16
    // stream (wire tag = table index); the job (cat) passes both
    // tables through and the output decodes back with per-row table
    // identity intact.
    "op_pipe_multi" -> ((s, d) => {
      val a = t(s, d, "orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_totalprice"))
      val b = t(s, d, "lineitem").filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_quantity"))
      graft.sources.Skiff.pipeMapMulti(Seq(a, b), Seq("cat"),
          Seq(a.schema, b.schema))
        .groupBy(col("$table_index"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(coalesce(col("t0_o_totalprice"), col("t1_l_quantity"))), 2)
            .as("sum_val"))
    }),

    // Vanilla operation (vanilla_controller.cpp): 4 input-less jobs,
    // each emitting its $YT_JOB_INDEX with 10 sequence rows — the
    // deterministic stand-in for "run N external workers and collect
    // their tables".
    "op_vanilla" -> ((s, _) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("job", LongType, nullable = false),
        StructField("n", LongType, nullable = false)))
      Operations.vanilla(s, 4,
        Seq("sh", "-c", "i=0; while [ $i -lt 10 ]; do printf '%s\\t%s\\n' \"$YT_JOB_INDEX\" \"$i\"; i=$((i+1)); done"),
        schema)
    }),

    // User job over a binary protobuf pipe (EFormatType::Protobuf job
    // I/O): orders stream through an identity process as lenval
    // protobuf messages, decode, then aggregate — proving the wire
    // format end-to-end against the SQL oracle.
    "op_pipe_protobuf" -> ((s, d) => {
      val in = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.Proto.pipeMap(in, Seq("cat"), in.schema)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // JoinReduce: primary lineitem + foreign orders by join_by prefix,
    // then group-wise reduce (foreign rows visible to every group).
    "op_join_reduce" -> ((s, d) => {
      val primary = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val foreign = t(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      val out = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("status", StringType),
        StructField("n_lines", LongType), StructField("qty", DoubleType)))
      Operations.joinReduce(primary, foreign, Seq("l_orderkey"), Seq("l_linenumber"), out) {
        (key, rows) =>
          var n = 0L; var qty = 0.0; var status: String = null
          rows.foreach { r => n += 1; qty += r.getDouble(2); status = r.getString(3) }
          Iterator(Row(key.getLong(0), status, n,
            BigDecimal(qty).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }),

    // MapReduce with combiner: word count over documents; the combiner
    // collapses per-partition duplicates before the shuffle.
    "op_map_reduce" -> ((s, d) => {
      val in = t(s, d, "documents").select(col("text"))
      val kv = StructType(Seq(
        StructField("word", StringType), StructField("n", LongType)))
      val out = StructType(Seq(
        StructField("word", StringType), StructField("cnt", LongType)))
      val mapper: Iterator[Row] => Iterator[Row] = rows =>
        rows.flatMap(r => r.getString(0).split(" ").iterator
          .filter(_.nonEmpty).map(w => Row(w, 1L)))
      val combiner: Iterator[Row] => Iterator[Row] = rows => {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach(r => m.update(r.getString(0), m.getOrElse(r.getString(0), 0L) + r.getLong(1)))
        m.iterator.map { case (w, n) => Row(w, n) }
      }
      Operations.mapReduce(in, (mapper, kv), Seq("word"), Seq(), Some(combiner), out) {
        (key, rows) =>
          var n = 0L
          rows.foreach(r => n += r.getLong(1))
          Iterator(Row(key.getString(0), n))
      }
    })
  )

  val oracles: Map[String, String] = Map(
    "op_vanilla" ->
      """SELECT CAST(j.range AS BIGINT) AS job, CAST(i.range AS BIGINT) AS n
        |FROM range(0, 4) j, range(0, 10) i""".stripMargin,
    // md5 of the same UTF-8 key string, same 32-bit hex-prefix
    // threshold — DuckDB reproduces the exact sampled row set.
    "op_table_sample" ->
      """SELECT COUNT(*) AS sampled_rows,
           COUNT(DISTINCT l_orderkey) AS sampled_orders
         FROM lineitem
         WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                             CAST(l_linenumber AS VARCHAR)), 1, 8)
               < '19999999'""",
    "op_asof_join" ->
      """WITH clicks AS (
           SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         p AS (
           SELECT user_id, ts AS p_ts, ROUND(MAX(value), 2) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, p.pvalue
         FROM clicks c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.p_ts""",
    "op_pipe_skiff" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS qty
         FROM lineitem GROUP BY l_returnflag""",
    "op_pipe_protobuf" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total
         FROM orders GROUP BY o_orderstatus""",
    "op_merge_shallow" ->
      """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
         FROM nation GROUP BY n_regionkey""",
    "op_pipe_multi" ->
      """SELECT 0 AS "$table_index", CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_val
         FROM orders WHERE o_orderkey < 1000
         UNION ALL
         SELECT 1, CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(l_quantity), 2)
         FROM lineitem WHERE l_orderkey < 1000""",
    "op_map_ordered" ->
      """SELECT k, coalesce(lag(k) OVER (ORDER BY k), -1) AS prev_k
         FROM (SELECT o_orderkey AS k FROM orders) t""",
    "op_map" ->
      """SELECT l_returnflag || '/' || l_linestatus AS flag, COUNT(*) AS cnt,
           CAST(SUM(l_orderkey * 10 + l_linenumber) AS BIGINT) AS sum_uid
         FROM lineitem GROUP BY 1""",
    "op_map_input_query" ->
      """SELECT o_custkey % 7 AS custmod, COUNT(*) AS cnt FROM orders
         WHERE o_totalprice > 300000 AND o_orderstatus = 'F' GROUP BY 1""",
    "op_sort" ->
      """SELECT o_orderkey, o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS pos
         FROM orders""",
    "op_merge_sorted" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity,
           row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS pos
         FROM lineitem""",
    "op_merge_ordered" ->
      """SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey < 10 THEN 0 ELSE 1 END AS src
         FROM nation""",
    "op_remote_copy" -> "SELECT * FROM nation",
    "op_merge_unordered" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total
         FROM orders GROUP BY 1""",
    "op_erase" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS total
         FROM orders WHERE NOT (o_totalprice BETWEEN 100000 AND 400000)
         GROUP BY 1""",
    "op_sorted_reduce" ->
      """SELECT DISTINCT o_custkey,
           COUNT(*) OVER p AS cnt,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS last_order,
           ROUND(SUM(o_totalprice) OVER p, 2) AS total
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                p AS (PARTITION BY o_custkey)""",
    "op_join_reduce" ->
      """SELECT l_orderkey, o_orderstatus AS status, COUNT(*) AS n_lines,
           ROUND(SUM(l_quantity), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2""",
    "op_map_reduce" ->
      """SELECT word, COUNT(*) AS cnt FROM (
           SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
         WHERE LENGTH(word) > 0 GROUP BY word"""
  )
}
