package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Aggregators, QLFunctions => F, Uint64 => U}
import graft.sources.Tables

/** QL scalar-function and custom-aggregate surface (SURVEY.md §2.A
  * function registry + §7.3 custom Aggregators), oracle-checked.
  * Uint64 oracles emulate unsigned 64-bit in DuckDB via HUGEINT
  * mod-2^64 → UBIGINT.
  */
object Fns {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // if_null / is_null / if / casts / is_substr / is_prefix.
    "ql_fn_scalar" -> ((s, d) =>
      t(s, d, "part")
        .select(
          col("p_partkey"),
          F.if_null(nullif(col("p_brand"), lit("BRAND_1")), lit("DEFAULT")).as("brand_or_default"),
          F.`if`(col("p_size") > 25, lit("big"), lit("small")).as("size_class"),
          F.string(col("p_size")).as("size_str"),
          F.is_substr(lit("wid"), col("p_name")).as("has_wid"),
          F.is_prefix(lit("small"), col("p_name")).as("is_small"))),

    // format_guid (udf/format_guid.c: four no-leading-zero lowercase
    // hex components, lo.hi-lo.lo-hi.hi-hi.lo), parse_uint64 (str_conv,
    // full-range unsigned onto the raw-bits Long carrier) and
    // make_entity (YSON `#` = null Any).
    "ql_fn_guid" -> ((s, d) => {
      val hi = col("l_orderkey") * 2654435761L + col("l_linenumber")
      val lo = col("l_partkey") * 40503L + col("l_suppkey")
      // spread measured 0.5x here (r13): formatting is cheap per row
      // and the 60k-row exchange dominates — left single-split
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        F.format_guid(hi, lo).as("guid"),
        graft.functions.Uint64.u64_to_string(
          F.parse_uint64(lit("18446744073709551615"))).as("u64_max"),
        F.make_entity().as("entity"))
    }),

    // regex family over part names.
    "ql_fn_regex" -> ((s, d) =>
      t(s, d, "part")
        .select(
          col("p_partkey"),
          F.regex_full_match("[a-z]+ (bolt|gear)", col("p_name")).as("is_bg"),
          F.regex_extract("^([a-z]+) ", col("p_name"), 1).as("first_word"),
          F.regex_replace_all("[aeiou]", col("p_name"), "_").as("devoweled"))),

    // uint64 semantics: wrap-around longs treated as unsigned.
    "ql_fn_u64" -> ((s, d) => {
      val h = shiftleft(col("o_orderkey") + 7, 44)
      t(s, d, "orders")
        .select(
          col("o_orderkey"),
          U.u64_to_string(h).as("u_str"),
          U.u64_to_string(U.u64_div(h, lit(1000L))).as("u_div"),
          U.u64_mod(h, lit(1000L)).as("u_mod"),
          U.u64_gt(h, lit(Long.MinValue)).as("u_top_half"))
    }),

    // COLUMN-valued ypaths (DEFINE_YPATH_GET: the path is data, not a
    // literal — ql_query_ut.cpp YPathTryGetInt64) plus the raw-carrier
    // get_any fragment, through the QL string surface.
    "ql_fn_ypath_runtime" -> ((s, d) => {
      val ev = t(s, d, "events").select(
        col("event_id"), col("props"),
        when(col("event_id") % 2 === 0, "/k").otherwise("/missing").as("path"))
      graft.ql.SelectRows(s,
        "event_id, try_get_int64(props, path) as k, try_get_any(props, path) as frag " +
          "from [//tmp/ev_yp]",
        Map("//tmp/ev_yp" -> ev))
    }),

    // UseCanonicalNullRelations: comparisons keep SQL three-valued
    // logic — exactly DuckDB's semantics, so the oracle is plain SQL.
    "ql_selectrows_canonical_nulls" -> ((s, d) =>
      graft.ql.SelectRows(s,
        "event_id, try_get_int64(props, '/k') < 50 as lt, " +
          "try_get_int64(props, '/missing') < 50 as miss_lt, " +
          "try_get_int64(props, '/missing') < 50 is null as miss_is_null " +
          "from [//tmp/ev_cn]",
        Map("//tmp/ev_cn" -> t(s, d, "events")),
        graft.ql.SelectRows.Options(useCanonicalNullRelations = true))),

    // Any/YSON accessor family over the JSON props column.
    "ql_fn_any" -> ((s, d) =>
      t(s, d, "events")
        .select(
          col("event_id"),
          F.try_get_int64(col("props"), "/k").as("k"),
          F.try_get_double(col("props"), "/k").as("kd"),
          F.try_get_string(col("props"), "/missing").as("missing"),
          F.is_null(F.try_get_int64(col("props"), "/missing")).as("missing_is_null"))),

    // datetime floors + formatting.
    "ql_fn_datetime" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(
          F.format_timestamp(F.timestamp_floor_week(col("ts")), "yyyy-MM-dd").as("week"),
          F.format_timestamp(F.timestamp_floor_month(col("ts")), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("cnt"))),

    // list constructors and membership.
    "ql_fn_list" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          F.list_contains(F.make_list(col("l_returnflag"), col("l_linestatus")), lit("R"))
            .as("has_r"),
          F.list_has_intersection(
            F.make_list(col("l_returnflag"), col("l_linestatus")),
            F.make_list(lit("A"), lit("O"))).as("overlaps_ao"))),

    // YSON text format → canonical JSON Any → accessors
    // (yson_string_to_any; format.h EFormatType::Yson). Multi-field
    // access goes through JsonMultiGet: one YSON parse + ONE JSON tree
    // parse for all three paths (chained get_json_object re-parses per
    // path; from_json splits under Spark's JSON schema pruning — both
    // measured slower). Single-path try_get_* stays covered by
    // ql_fn_any / ql_any_access.
    "ql_fn_yson" -> ((s, d) => {
      val yson = concat(
        lit("{price="), col("o_totalprice"),
        lit(";status=\""), col("o_orderstatus"),
        lit("\";meta={pri=\""), col("o_orderpriority"), lit("\"}}"))
      val g = graft.functions.Sketches.jsonMultiGet(
        graft.sources.Yson.ysonToJson(yson), Seq("price", "status", "meta.pri"))
      // spread measured flat here (r13): the multiget work is too
      // cheap relative to a 15k-row exchange — left single-split
      t(s, d, "orders").select(
        col("o_orderkey"),
        element_at(g, 1).cast("double").as("price"),
        element_at(g, 2).as("status"),
        element_at(g, 3).as("pri"))
    }),

    // TRANSFORM value remap.
    "ql_fn_transform" -> ((s, d) =>
      t(s, d, "orders")
        .select(F.transform_value(col("o_orderpriority"),
          Seq("1-URGENT", "2-HIGH"), Seq("hot", "warm"), lit("cold")).as("heat"))
        .groupBy(col("heat")).agg(count(lit(1)).as("cnt"))),

    // dict_sum native TypedImperativeAggregate: merge maps summing
    // per-key counts with a mutable buffer (no per-row encoder cost).
    "ql_agg_dict_sum" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_type"),
          map(graft.sources.Yson.getJsonFast(col("props"), lit("$.k")),
            lit(1L)).as("m"))
        .groupBy(col("event_type"))
        .agg(graft.functions.DictSumAgg(col("m")).as("dict"))
        .select(col("event_type"), explode(col("dict")).as(Seq("k", "cnt")))
    }),

    // top_by custom Aggregator: top-3 orderkeys by totalprice. The array
    // is serialized to a CSV string so the oracle checker can compare it.
    "ql_agg_top_by" -> ((s, d) => {
      val top3 = udaf(Aggregators.topBy(3))
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(concat_ws(",",
          top3(col("o_orderkey"), col("o_totalprice")).cast("array<string>"))
          .as("top_orders"))
    }),

    // bool_xor + checked_sum custom Aggregators.
    "ql_agg_boolxor_checked" -> ((s, d) => {
      val bx = udaf(Aggregators.boolXor)
      val cs = udaf(Aggregators.checkedSum)
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(bx(col("l_discount") > 0.05).as("xor_disc"),
          cs(col("l_orderkey")).as("key_sum"))
    }),

    // linear histogram custom Aggregator, exploded to (bin, cnt) rows.
    "ql_agg_histogram" -> ((s, d) => {
      val hist = udaf(Aggregators.linearHistogram(50000.0))
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(hist(col("o_totalprice")).as("h"))
        .select(col("o_orderstatus"), explode(col("h")).as("bin"))
        .select(col("o_orderstatus"), col("bin._1").as("bin_start"),
          col("bin._2").as("cnt"))
    }),

    // Logarithmic histogram (YQL LogHistogram): decade bins over price.
    "ql_agg_log_histogram" -> ((s, d) => {
      val hist = udaf(Aggregators.logHistogram(10.0))
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(hist(col("o_totalprice")).as("h"))
        .select(col("o_orderstatus"), explode(col("h")).as("bin"))
        .select(col("o_orderstatus"), col("bin._1").as("bin_start"),
          col("bin._2").as("cnt"))
    }),

    // LinearHistogramCDF (histogram_cdf_* factories, builtin.cpp):
    // cumulative counts per bin — deterministic, so fully oracled.
    "ql_agg_histogram_cdf" -> ((s, d) => {
      val hist = udaf(Aggregators.linearHistogramCdf(50000.0))
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(hist(col("o_totalprice")).as("h"))
        .select(col("o_orderstatus"), explode(col("h")).as("bin"))
        .select(col("o_orderstatus"), col("bin._1").as("bin_start"),
          col("bin._2").as("cum"))
    }),

    // top / bottom plain aggregates (YQL Top/Bottom, builtin.cpp:3244):
    // k extreme values per group, CSV-serialized for the oracle. Values
    // are 2dp prices formatted identically by both engines.
    "ql_agg_top_bottom" -> ((s, d) => {
      val top3 = udaf(Aggregators.top(3))
      val bot3 = udaf(Aggregators.bottom(3))
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          concat_ws(",", top3(col("o_totalprice")).cast("array<string>")).as("top_prices"),
          concat_ws(",", bot3(col("o_totalprice")).cast("array<string>")).as("bottom_prices"))
    }),

    // bottom_by — mirror of top_by (YQL BottomBy).
    "ql_agg_bottom_by" -> ((s, d) => {
      val bot3 = udaf(Aggregators.bottomBy(3))
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(concat_ws(",",
          bot3(col("o_orderkey"), col("o_totalprice")).cast("array<string>"))
          .as("bottom_orders"))
    })
  )

  val oracles: Map[String, String] = Map(
    "ql_fn_scalar" ->
      """SELECT p_partkey,
           COALESCE(NULLIF(p_brand, 'BRAND_1'), 'DEFAULT') AS brand_or_default,
           CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class,
           CAST(p_size AS VARCHAR) AS size_str,
           contains(p_name, 'wid') AS has_wid,
           starts_with(p_name, 'small') AS is_small
         FROM part""",
    "ql_fn_guid" ->
      """SELECT l_orderkey, l_linenumber,
           printf('%x-%x-%x-%x',
             (l_partkey * 40503 + l_suppkey) >> 32,
             (l_partkey * 40503 + l_suppkey) & 4294967295,
             (l_orderkey * 2654435761 + l_linenumber) >> 32,
             (l_orderkey * 2654435761 + l_linenumber) & 4294967295) AS guid,
           '18446744073709551615' AS u64_max,
           CAST(NULL AS VARCHAR) AS entity
         FROM lineitem""",
    "ql_fn_regex" ->
      """SELECT p_partkey,
           regexp_full_match(p_name, '[a-z]+ (bolt|gear)') AS is_bg,
           regexp_extract(p_name, '^([a-z]+) ', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
         FROM part""",
    "ql_fn_u64" ->
      """WITH h AS (SELECT o_orderkey,
             CAST((((o_orderkey + 7)::HUGEINT * 17592186044416) %
               18446744073709551616) AS UBIGINT) AS hu
           FROM orders)
         SELECT o_orderkey,
           CAST(hu AS VARCHAR) AS u_str,
           CAST(hu // 1000 AS VARCHAR) AS u_div,
           CAST(hu % 1000 AS BIGINT) AS u_mod,
           hu > 9223372036854775808::UBIGINT AS u_top_half
         FROM h""",
    "ql_fn_any" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) AS kd,
           json_extract_string(props, '$.missing') AS missing,
           json_extract_string(props, '$.missing') IS NULL AS missing_is_null
         FROM events""",
    "ql_fn_ypath_runtime" ->
      """SELECT event_id,
           CAST(json_extract_string(props,
             CASE WHEN event_id % 2 = 0 THEN '$.k' ELSE '$.missing' END) AS BIGINT) AS k,
           CAST(json_extract(props,
             CASE WHEN event_id % 2 = 0 THEN '$.k' ELSE '$.missing' END) AS VARCHAR) AS frag
         FROM events""",
    "ql_selectrows_canonical_nulls" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) < 50 AS lt,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) < 50 AS miss_lt,
           (CAST(json_extract_string(props, '$.missing') AS BIGINT) < 50) IS NULL AS miss_is_null
         FROM events""",
    "ql_fn_datetime" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           strftime(date_trunc('month', ts), '%Y-%m') AS month,
           COUNT(*) AS cnt
         FROM events GROUP BY 1, 2""",
    "ql_fn_yson" ->
      """SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS status,
        |  o_orderpriority AS pri FROM orders""".stripMargin,

    "ql_fn_list" ->
"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           list_contains([l_returnflag, l_linestatus], 'R') AS has_r,
           list_has_any([l_returnflag, l_linestatus], ['A', 'O']) AS overlaps_ao
         FROM lineitem""",
    "ql_fn_transform" ->
      """SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 'hot'
           WHEN '2-HIGH' THEN 'warm' ELSE 'cold' END AS heat, COUNT(*) AS cnt
         FROM orders GROUP BY 1""",
    "ql_agg_dict_sum" ->
      """SELECT event_type, json_extract_string(props, '$.k') AS k,
           COUNT(*) AS cnt
         FROM events GROUP BY 1, 2""",
    "ql_agg_top_by" ->
      """SELECT o_orderpriority,
           array_to_string(
             (list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey))[1:3], ',')
             AS top_orders
         FROM orders GROUP BY o_orderpriority""",
    "ql_agg_boolxor_checked" ->
      """SELECT l_returnflag,
           (COUNT(*) FILTER (WHERE l_discount > 0.05)) % 2 = 1 AS xor_disc,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
         FROM lineitem GROUP BY l_returnflag""",
    "ql_agg_histogram" ->
      """SELECT o_orderstatus, floor(o_totalprice / 50000) * 50000 AS bin_start,
           COUNT(*) AS cnt
         FROM orders GROUP BY 1, 2""",
    "ql_agg_log_histogram" ->
      """SELECT o_orderstatus,
           pow(10.0, floor(log10(o_totalprice))) AS bin_start,
           COUNT(*) AS cnt
         FROM orders WHERE o_totalprice > 0 GROUP BY 1, 2""",
    "ql_agg_histogram_cdf" ->
      """SELECT o_orderstatus, bin_start,
           CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bin_start)
             AS BIGINT) AS cum
         FROM (SELECT o_orderstatus,
                 floor(o_totalprice / 50000) * 50000 AS bin_start,
                 COUNT(*) AS cnt
               FROM orders GROUP BY 1, 2)""",
    "ql_agg_top_bottom" ->
      """SELECT o_orderpriority,
           array_to_string((list(o_totalprice ORDER BY o_totalprice DESC))[1:3], ',')
             AS top_prices,
           array_to_string((list(o_totalprice ORDER BY o_totalprice ASC))[1:3], ',')
             AS bottom_prices
         FROM orders GROUP BY o_orderpriority""",
    "ql_agg_bottom_by" ->
      """SELECT o_orderpriority,
           array_to_string(
             (list(o_orderkey ORDER BY o_totalprice ASC, o_orderkey))[1:3], ',')
             AS bottom_orders
         FROM orders GROUP BY o_orderpriority"""
  )
}
