package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** YQL-level SQL surface (SURVEY.md §2.D): full join matrix, window
  * functions with frames, GROUP BY extensions, set operations, and the
  * aggregate library. All are native Spark operators — YQL's MiniKQL
  * executor vocabulary (Combine/GraceJoin/Top/...) is Catalyst's job.
  *
  * Reference: join kinds sql/v1/join.cpp:427; window dispatch
  * yql_opt_window.cpp:1761-1773; grouping sets sql_group_by.cpp:88-211;
  * set ops SQLv1.g.in:374; aggregates sql/v1/builtin.cpp:3200-3315.
  */
object Yql {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Load with the CPU-spread gate (Tables.loadSpread) — for operators
    * whose per-row work (codecs, interpreted HOFs, heavyweight
    * aggregate updates) dominates a single-split scan. */
  private def tSpread(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadSpread(s, dir, name)

  /** TPC-H pack: one ANSI text per query, identical on Spark and
    * DuckDB (the oracle map reuses these verbatim). Standard queries
    * adapted to the driver's column subset; thresholds replace the
    * float-ranked top-k cuts so the result SET is deterministic. */
  private val tpchSql: Map[String, String] = Map(
    // Q6: forecast revenue change — one filtered aggregate
    "yql_tpch_q6" ->
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // Q10: returned-item reporting (threshold instead of top-20)
    "yql_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  ROUND(c_acctbal, 2) AS c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |HAVING SUM(l_extendedprice * (1 - l_discount)) > 50000""".stripMargin,
    // Q14: promotion effect
    "yql_tpch_q14" ->
      """SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,
    // Q18: large-volume customers
    "yql_tpch_q18" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |  ROUND(o_totalprice, 2) AS o_totalprice,
        |  SUM(l_quantity) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
        |HAVING SUM(l_quantity) > 300""".stripMargin,
    // Q19: discounted revenue over disjunctive brand/size/qty bands
    "yql_tpch_q19" ->
      """SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,
    // Q4: order-priority checking (EXISTS semijoin)
    "yql_tpch_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin)

  private def tpchDef(name: String)
      : (SparkSession, String) => DataFrame = (s, d) => {
    for (tbl <- Seq("lineitem", "orders", "customer", "nation", "part"))
      t(s, d, tbl).createOrReplaceTempView(tbl)
    graft.functions.YqlSql.sql(s, tpchSql(name))
  }

  /** The table-path-function fixture: a "cypress directory" of
    * per-month order tables (1996-01..1996-04), one parquet directory
    * per month, derived from the sf dir's `orders` — written once per
    * `orders` table ([[Tables.derived]]) and reused (members are tiny;
    * the INTERESTING part, the multi-table read, is what the queries
    * exercise). */
  private[graft] def tablePathDir(d: String): String =
    Tables.derivedDir(SparkSession.active, Tables.path(d, "orders"), "orders_by_month")

  private[graft] val tablePathMonths = Seq("1996-01", "1996-02", "1996-03", "1996-04")

  private[graft] def tablePathFixture(s: SparkSession, d: String): Unit =
    Tables.derived(s, Tables.path(d, "orders"), "orders_by_month") { base =>
      val o = t(s, d, "orders")
      tablePathMonths.foreach { m =>
        o.filter(date_format(col("o_orderdate"), "yyyy-MM") === m)
          .write.mode("overwrite").parquet(s"$base/$m")
      }
    }

  /** Per-sf-dir lineitem stored bucketed+sorted by l_orderkey — the
    * engine-side analog of the reference's sorted-table storage, used
    * by `yql_agg_some_sorted` to exercise the layout-gated eager
    * aggregation. Written once per sf dir (catalog table name carries
    * the dir's basename). */
  private[graft] def bucketedLineitem(s: SparkSession, d: String)
      : DataFrame = this.synchronized {
    val tbl = "li_bkt_" +
      new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")
    if (!s.catalog.tableExists(tbl)) {
      val loc = new java.io.File(s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), tbl)
      if (loc.exists)
        // the DATA survives from an earlier process but the default
        // in-memory catalog does not — re-attach the bucketed files
        // as an external table (same layout DDL saveAsTable recorded)
        s.sql(s"""CREATE TABLE $tbl (l_orderkey BIGINT, l_quantity DOUBLE)
                  USING parquet
                  CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey)
                  INTO 32 BUCKETS
                  LOCATION '${loc.toURI}'""")
      else
        graft.sources.Tables.writeBucketed(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          tbl, 32, Seq("l_orderkey"))
    }
    s.table(tbl)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PG-syntax frontend (translation_settings.cpp:131 `--!syntax_pg` →
    // pg_sql.cpp): the scoped read-side subset through graft.functions.
    // PgSql — CTE, ::casts with PG type names, || concat, the ~/~~
    // match-operator family (incl. (?i) via ~*), E'' escapes, ""
    // identifiers, positional $n params, LIMIT/OFFSET.
    "yql_pg_select" -> ((s, d) => {
      graft.sources.Tables.registerAll(s, d)
      graft.functions.PgSql.sql(s,
        """--!syntax_pg
          |WITH big AS (
          |  SELECT o_custkey, count(*)::int8 AS n,
          |         sum(o_totalprice) AS sp
          |  FROM orders
          |  WHERE o_orderpriority ~~ '1-URG%'
          |     OR o_orderpriority ~* $1
          |  GROUP BY o_custkey
          |)
          |SELECT c.c_custkey, c.c_name || E'\t' || c.c_mktsegment AS tag,
          |       big.n, (big.n * 3)::numeric(12,2)::float8 AS n3,
          |       round(big.sp::numeric(18,4), 2)::float8 AS sp,
          |       strpos(c.c_name, $3)::int8 AS at_sub
          |FROM customer AS c
          |JOIN big ON c.c_custkey = big.o_custkey
          |WHERE c.c_name !~~ '%00001%' AND c.c_mktsegment ~ $2
          |ORDER BY big.n DESC, c.c_custkey
          |LIMIT 40 OFFSET 5""".stripMargin,
        Map("1" -> "'^2-high'", "2" -> "'^(BUIL|AUTO)'",
          "3" -> "'mer#0000'"))
    }),
    // Hyperscan:: audited surface (hyperscan_udf.cpp — NOT a Pire
    // alias): Match anchors TEXTUALLY (^p$ ungrouped :135, so
    // alternation splits across the anchors), Capture returns the
    // whole matched substring (:260-290), Replace splices literally
    // (:344-360). The oracle replays each contract first-principles.
    "yql_fn_hyperscan" -> ((s, d) => {
      graft.sources.Tables.registerAll(s, d)
      graft.functions.YqlSql.sql(s,
        """SELECT p_partkey,
          |  Hyperscan::Match('almond|lace')(p_name) AS m_alt,
          |  Hyperscan::Match('(?i)STANDARD.*')(p_type) AS m_ci,
          |  Hyperscan::Grep('o[nl]')(p_name) AS g,
          |  Hyperscan::Capture('[a-z]+ss[a-z]*')(p_name) AS cap,
          |  Hyperscan::Replace('[aeiou]+')(p_brand, '$.') AS repl
          |FROM part""".stripMargin)
    }),
    // Ranking window family. Order keys end in the unique o_orderkey so
    // every rank is total (ties would be engine-dependent).
    "yql_window_rank" -> ((s, d) => {
      // The rank trio rides ONE window so the `rn <= 10` filter lowers
      // to WindowGroupLimitExec on BOTH sides of the exchange (partial
      // top-k per input split BEFORE the shuffle) — with only 5
      // distinct priorities the exchange otherwise fans the whole
      // table into 5 tasks. ntile(4) in the same window would block
      // that pushdown (it needs the full partition), so the quartile
      // is derived arithmetically for the ~50 survivors from a
      // pre-aggregated partition count: ntile gives the first (n mod
      // 4) buckets ceil(n/4) rows and the rest floor(n/4).
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val ranked = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .filter(col("rn") <= 10)
      val counts = t(s, d, "orders")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("__n"))
      val n = col("__n")
      val small = floor(n / lit(4))            // floor bucket size
      val rem = n % lit(4)                     // buckets that get +1
      val big = rem * (small + lit(1L))        // rows in the +1 buckets
      val rnL = col("rn").cast("long")
      val quartile = when(rnL <= big,
          floor((rnL - lit(1L)) / (small + lit(1L))))
        .otherwise(rem +
          floor((rnL - big - lit(1L)) / greatest(small, lit(1L))))
      ranked.join(broadcast(counts), Seq("o_orderpriority"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("rn"), col("rnk"), col("drnk"),
          (quartile + lit(1L)).cast("int").as("quartile"))
    }),

    // lag/lead analytic functions.
    "yql_window_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .filter(col("o_custkey") < 200)
    }),

    // ROWS frame: running sum + moving average (FrameByRows).
    "yql_window_frame_rows" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, d, "lineitem")
        .filter(col("l_suppkey") < 50)
        .select(col("l_suppkey"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          round(sum(col("l_quantity"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("running_qty"),
          round(avg(col("l_quantity"))
            .over(w.rowsBetween(-2, 0)), 4).as("ma3_qty"))
    }),

    // RANGE frame (FrameByRange): per-priority price range stats.
    // GROUPS frame (FrameByGroups, yql_opt_window.h:12-15) — Spark has
    // no GROUPS mode (SURVEY.md §7.4 #5); emulated exactly as a RANGE
    // frame over dense_rank: peers share a rank, so "1 group
    // preceding/following" = rank within ±1.
    "yql_window_frame_groups" -> ((s, d) => {
      val base = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderdate"))
      val o = t(s, d, "orders").withColumn("dr", dense_rank().over(base))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("dr"))
        .rangeBetween(-1, 1)
      o.select(col("o_orderkey"), col("o_orderpriority"),
        round(sum(col("o_totalprice")).over(w), 2).as("grp_sum"))
    }),

    "yql_window_frame_range" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_orderkey"), col("o_orderpriority"),
          count(lit(1)).over(w).as("n_cheaper_or_eq"))
    }),

    // first_value / last_value / nth_value over a full-partition frame.
    "yql_window_first_last" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
    }),

    // ROLLUP (sql_group_by.cpp) — hierarchy totals.
    "yql_rollup" -> ((s, d) => {
      val n = t(s, d, "nation")
      val c = t(s, d, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_regionkey").cast("long").as("region"), col("n_name"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("c_acctbal")), 2).as("bal"))
    }),

    // CUBE — all grouping combinations.
    "yql_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))),

    // GROUPING SETS + grouping() discriminator.
    "yql_grouping_sets" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"))),

    // Set operations (UnionMerge / Intersect / Except lowering).
    "yql_union_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_totalprice") > 400000).select(col("o_orderkey"))
        .unionAll(o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")))
        .groupBy().agg(count(lit(1)).as("cnt"),
          count_distinct(col("o_orderkey")).as("dcnt"))
    }),
    "yql_intersect" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_totalprice") > 300000).select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    }),
    "yql_except" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.select(col("c_custkey")).except(o.select(col("o_custkey").as("c_custkey")))
    }),

    // Join matrix beyond inner/left (join.cpp:427).
    "yql_join_right" -> ((s, d) => {
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("orders"), count(lit(1)).as("rows"))
    }),
    "yql_join_full" -> ((s, d) => {
      val hi = t(s, d, "orders").filter(col("o_totalprice") > 450000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("hi_orders"))
      val c = t(s, d, "customer").filter(col("c_acctbal") > 9000)
      c.join(hi, c("c_custkey") === hi("o_custkey"), "full")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("has_customer"),
          col("o_custkey").isNotNull.as("has_hi_order"))
    }),
    // LeftSemi = EXISTS.
    "yql_join_semi" -> ((s, d) => {
      val c = t(s, d, "customer")
      val big = t(s, d, "orders").filter(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
    // LeftOnly = NOT EXISTS.
    "yql_join_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
    }),
    // Exclusion = symmetric difference: full join minus the inner part.
    "yql_join_exclusion" -> ((s, d) => {
      val a = t(s, d, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey")).distinct()
      val b = t(s, d, "customer").filter(col("c_acctbal") > 8000)
        .select(col("c_custkey")).distinct()
      a.join(b, a("o_custkey") === b("c_custkey"), "full")
        .filter(col("o_custkey").isNull || col("c_custkey").isNull)
        .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
          col("o_custkey").isNotNull.as("from_orders"))
    }),
    "yql_join_cross" -> ((s, d) => {
      val r = t(s, d, "region")
      val n = t(s, d, "nation")
      r.crossJoin(n)
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_nationkey").cast("long")).as("sum_nk"))
    }),

    // Statistical aggregate library.
    "yql_agg_stats" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(stddev_pop(col("l_quantity")), 4).as("sdp_qty"),
          round(var_samp(col("l_extendedprice")), 2).as("var_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qd"))),

    // Multi-join analytics (TPC-H Q3 shape): 3-way join, filter on both
    // sides, top-10 by revenue — exercises join order + broadcast
    // selection + TakeOrderedAndProject.
    "yql_q3_shipping" -> ((s, d) => {
      // Fact-left join order: lineitem is the probe side everywhere, so
      // the biggest table streams without a shuffle OR a broadcast —
      // the filtered customer⋈orders side reduces first and broadcasts
      // into it. Fact-rightmost would make lineitem the build side
      // (Spark broadcasts the right), which cannot survive scale-up.
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      val ordersBld = o.join(c, o("o_custkey") === c("c_custkey"))
      l.join(ordersBld, l("l_orderkey") === ordersBld("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // Multi-join analytics (TPC-H Q5 shape): 5-way star join through
    // region→nation→customer→orders→lineitem.
    "yql_q5_region" -> ((s, d) => {
      // Fact-left: dims collapse right-to-left (region→nation→customer
      // →orders), each stage broadcastable, and lineitem streams as the
      // probe side of the final join. At 100 TB AQE degrades the last
      // join to a shuffle join on l_orderkey when the filtered orders
      // side outgrows the broadcast threshold — still the right plan.
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
      val n = t(s, d, "nation")
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      val custAsia = c.join(n.join(r, n("n_regionkey") === r("r_regionkey")),
        c("c_nationkey") === n("n_nationkey"))
      val ordersAsia = o.join(custAsia, o("o_custkey") === custAsia("c_custkey"))
      l.join(ordersAsia, l("l_orderkey") === ordersAsia("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("cnt"))
    }),

    // YQL UDF module library (udfs/common: Digest::, Url::, String::,
    // Math::, Unicode::, Ip::) — namespaced functions over builtins.
    "yql_fn_modules" -> ((s, d) => {
      import graft.functions.{YqlModules => M}
      val url = concat(lit("https://ex.com/"),
        regexp_replace(col("p_brand"), "#", "-"),
        lit("/item?size="), col("p_size"))
      t(s, d, "part").select(
        col("p_partkey"),
        M.Digest.md5(col("p_name")).as("name_md5"),
        M.Url.getPath(url).as("path"),
        M.Url.getCgiParam(url, "size").as("size_param"),
        M.Str.toUpper(col("p_brand")).as("brand_up"),
        M.Math.round(M.Math.pow(col("p_size").cast("double"), lit(2.0)), 1).as("size_sq"),
        M.Unicode.getLength(col("p_name")).as("name_len"),
        M.Ip.isPrivate(concat(lit("10.0."), col("p_size") % 256, lit(".7"))).as("is_priv"))
    }),

    // List builtins = YQL's lambda surface (builtins/list.md: ListMap,
    // ListFilter, ListSort, ListUniq, ListFold, ListEnumerate, ListTake,
    // ListHead/Last, ListHas, ListSum) — all Spark higher-order
    // functions, zero UDFs, everything codegen'd. Arrays serialized to
    // CSV strings for the oracle's hash compare.
    "yql_fn_list_hof" -> ((s, d) => {
      import graft.functions.YqlModules.Lists
      val words = split(col("p_name"), " ")
      t(s, d, "part").select(
        col("p_partkey"),
        array_join(Lists.listMap(words)(upper), ",").as("mapped"),
        array_join(Lists.listFilter(words)(w => length(w) > 4), ",").as("long_words"),
        array_join(Lists.take(Lists.sort(Lists.uniq(words)), 3), ",").as("first3"),
        array_join(Lists.enumerate(words), ",").as("enumerated"),
        Lists.length(words).as("n_words"),
        Lists.head(words).as("head_word"),
        Lists.last(words).as("last_word"),
        Lists.has(words, lit("red")).as("has_red"),
        Lists.fold(Lists.fromRange(lit(1L), col("p_size").cast("long")),
          lit(0L))((acc, x) => acc + x).as("size_tri"),
        Lists.any(words)(w => w.startsWith("s")).as("any_s"))
    }),

    // Dict builtins (builtins/dict.md: DictKeys/DictPayloads/DictLookup/
    // DictContains/DictLength) over a MapType column.
    "yql_fn_dict" -> ((s, d) => {
      import graft.functions.YqlModules.Dict
      val m = Dict.fromEntries(lit("brand"), col("p_brand"),
        lit("type"), col("p_type"), lit("name"), col("p_name"))
      t(s, d, "part").select(
        col("p_partkey"),
        array_join(array_sort(Dict.keys(m)), ",").as("ks"),
        Dict.lookup(m, lit("brand")).as("brand_v"),
        Dict.lookup(m, lit("missing")).as("missing_v"),
        Dict.contains(m, lit("name")).as("has_name"),
        Dict.length(m).as("n_keys"))
    }),

    // Set operations (dict.md SetIntersection/SetUnion/SetDifference/
    // SetSymmetricDifference/SetIncludes/SetIsDisjoint) on word sets.
    "yql_fn_set" -> ((s, d) => {
      import graft.functions.YqlModules.SetOps
      val a = array_distinct(split(col("p_name"), " "))
      val b = array_distinct(split(lower(col("p_type")), " "))
      t(s, d, "part").select(
        col("p_partkey"),
        array_join(SetOps.intersection(a, b), ",").as("inter"),
        array_join(SetOps.union(a, b), ",").as("uni"),
        array_join(SetOps.difference(a, b), ",").as("diff"),
        array_join(SetOps.symmetricDifference(a, b), ",").as("symdiff"),
        SetOps.includes(a, b).as("a_includes_b"),
        SetOps.isDisjoint(a, b).as("disjoint"))
    }),

    // DateTime module (udf/list/datetime.md: Get*/StartOf*/Shift*/
    // Format/interval) — ISO Monday=1 day-of-week per the module's
    // GetDayOfWeek.
    "yql_fn_datetime2" -> ((s, d) => {
      import graft.functions.YqlModules.DateTime
      val dt = col("o_orderdate")
      t(s, d, "orders").select(
        col("o_orderkey"),
        DateTime.getYear(dt).as("y"),
        DateTime.getMonth(dt).as("m"),
        DateTime.getDayOfMonth(dt).as("dom"),
        DateTime.getDayOfWeek(dt).as("isodow"),
        DateTime.startOfMonth(dt).as("month_start"),
        DateTime.startOfQuarter(dt).as("quarter_start"),
        DateTime.startOfWeek(dt).as("week_start"),
        DateTime.shiftMonths(dt, 3).cast("timestamp").as("plus3m"),
        DateTime.shiftDays(dt, 30).cast("timestamp").as("plus30d"),
        DateTime.format(dt, "yyyy-MM-dd").as("fmt"),
        DateTime.intervalDays(dt, to_timestamp(lit("1995-01-01")))
          .as("days_since_95"))
    }),

    // JSON_VALUE / JSON_EXISTS / JSON_QUERY (builtins/json.md) over the
    // events.props JSON column.
    "yql_fn_json2" -> ((s, d) => {
      import graft.functions.YqlModules.Json
      t(s, d, "events").select(
        col("event_id"),
        Json.value(col("props"), "$.k").as("k_str"),
        Json.valueInt(col("props"), "$.k").as("k_int"),
        Json.exists(col("props"), "$.k").as("has_k"),
        Json.exists(col("props"), "$.missing").as("has_missing"),
        Json.valueDouble(col("props"), "$.k").as("k_dbl"))
    }),

    // Module calls as a SQL STRING — the YQL `Module::Function(args)`
    // spelling (SQLv1.g.in module-call grammar) through YqlSql: the
    // registry installs native builders (no UDFs) and the pre-rewrite
    // lowers `Digest::Md5` → `digest_md5` outside string literals.
    "yql_sql_module_call" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part")
      graft.functions.YqlSql.sql(s,
        """SELECT p_partkey,
             Digest::Md5(p_name) AS md5_name,
             String::ToUpper(p_type) AS type_u,
             Url::GetHost(concat('https://h', p_partkey, '.example.com/p')) AS host,
             round(Math::Sqrt(p_retailprice), 6) AS sqrt_price,
             String::ReplaceAll(p_brand, '#', '-') AS brand_fix
           FROM part""")
    }),

    // STATEMENT-level YQL in one string (SQLv1.g.in named_nodes_stmt /
    // lambda / flatten_source / without_column_list): $name bindings,
    // lambda bindings called AND composed, a named subselect, PRAGMA,
    // FLATTEN BY with alias, SELECT * WITHOUT — the YqlScript
    // pre-rewrite lowers all of it onto one Catalyst-planned query
    // (FLATTEN BY = LATERAL VIEW explode, streaming per-element rows).
    "yql_sql_script" -> ((s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents")
      graft.functions.YqlSql.sql(s,
        """PRAGMA yt.Pool = 'research';
          |$min_chars = 50;
          |$max_id = 300;
          |$words = ($s) -> (String::SplitToList($s, ' '));
          |$n_words = ($s) -> (CAST(ListLength($words($s)) AS BIGINT));
          |$src = (
          |  SELECT doc_id, lang, $words(text) AS ws, $n_words(text) AS n_words
          |  FROM documents
          |  WHERE n_chars >= $min_chars AND doc_id < $max_id
          |);
          |SELECT * WITHOUT ws FROM $src FLATTEN BY ws AS w
          |WHERE length(w) >= 7
          |""".stripMargin)
    }),

    // The remaining STATEMENT-level grammar (SQLv1.g.in declare_stmt /
    // define_action_or_subquery_stmt / reduce_core): DECLARE'd typed
    // external parameters (caller-bound or defaulted), a parameterized
    // DEFINE SUBQUERY template inlined at its call site, and REDUCE —
    // YQL's grouped-stream verb — with a multi-column (tuple) key,
    // PRESORT in-group ordering feeding AGGREGATE_LIST, TableRow()
    // whole-row streams, and a post-aggregation HAVING over the
    // stream. Lowers to ONE Catalyst hash aggregation: the partial/
    // final split IS the distributed reduce, and the PRESORT order is
    // realized per group by an array_sort comparator over collected
    // (sort-key, value) structs — no global sort, no per-group
    // shuffle beyond the group-by exchange.
    "yql_sql_reduce" -> ((s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents")
      graft.functions.YqlSql.sql(s,
        """DECLARE $lim AS Int64 = 400;
          |DEFINE SUBQUERY $docs($hi) AS
          |  SELECT source, lang, n_chars, doc_id FROM documents
          |  WHERE doc_id < $hi;
          |END DEFINE;
          |$r = ($key, $rows) -> (AsStruct(
          |  $key.0 AS source, $key.1 AS lang,
          |  CAST(COUNT($rows.doc_id) AS BIGINT) AS n_docs,
          |  CAST(SUM($rows.n_chars) AS BIGINT) AS total_chars,
          |  array_join(ListMap(AGGREGATE_LIST($rows.doc_id),
          |    x -> CAST(x AS STRING)), ',') AS id_seq));
          |REDUCE $docs($lim) PRESORT n_chars DESC, doc_id
          |ON source, lang USING $r(TableRow())
          |HAVING COUNT($rows.doc_id) >= 2
          |""".stripMargin)
    }),

    // Bare YQL builtin spellings in a SQL string (ListMap lambda form,
    // Table-path functions in FROM (SQLv1.g.in:952 table_ref
    // function-call form; yql_yt_key.cpp MrTableRange, io_discovery):
    // a directory of per-month order tables read through RANGE with
    // lexicographic name bounds. Discovery happens at rewrite time;
    // the lowered plan is ONE parquet scan over a {m1,m2} path glob —
    // out-of-range members are structurally absent (TablePathsSpec
    // asserts via inputFiles), so at a 1000-table month this stays a
    // single scan node with pushdown intact, not a 1000-way union.
    "yql_table_range" -> ((s, d) => {
      tablePathFixture(s, d)
      graft.functions.YqlSql.sql(s,
        s"""$$lo = '1996-02';
           |SELECT CAST(COUNT(o_orderkey) AS BIGINT) AS n,
           |  CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total,
           |  min(o_orderdate) AS lo_date, max(o_orderdate) AS hi_date
           |FROM RANGE('${tablePathDir(d)}', $$lo, '1996-03')""".stripMargin)
    }),

    // TableName() provenance (the reference's per-row source-table
    // accessor, the standard GROUP BY companion of RANGE): per-member
    // scans carry their logical path, the pseudo-function lowers onto
    // it — per-table aggregates from one multi-table read.
    "yql_table_name" -> ((s, d) => {
      tablePathFixture(s, d)
      graft.functions.YqlSql.sql(s,
        s"""SELECT TableName() AS t, CAST(COUNT(o_orderkey) AS BIGINT) AS n
           |FROM RANGE('${tablePathDir(d)}', '1996-01', '1996-03')
           |GROUP BY TableName()""".stripMargin)
    }),

    // CONCAT (explicit member union) + EACH (literal path list): two
    // disjoint months each way, same aggregate — the two spellings
    // must agree with each other and the oracle.
    "yql_table_concat" -> ((s, d) => {
      tablePathFixture(s, d)
      graft.functions.YqlSql.sql(s,
        s"""$$months = AsList('${tablePathDir(d)}/1996-01', '${tablePathDir(d)}/1996-04');
           |SELECT
           |  (SELECT CAST(COUNT(o_orderkey) AS BIGINT)
           |   FROM CONCAT('${tablePathDir(d)}/1996-01', '${tablePathDir(d)}/1996-04')) AS n_concat,
           |  (SELECT CAST(COUNT(o_orderkey) AS BIGINT)
           |   FROM EACH($$months)) AS n_each""".stripMargin)
    }),

    // Secondary-index DDL + sync maintenance (SQLv1.g.in:744
    // alter_table_add_index, :764 table_index): ADD INDEX backfills
    // the index table from the current image; every later DML
    // statement rebuilds it from the NEW image into a stage BEFORE the
    // primary swap (atomic write+index, the reference's sync-index
    // contract). The script's final SELECT reads the INDEX table
    // itself — the oracle replays the whole DML chain projected to
    // (indexed, key).
    "yql_sql_index" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlDml.dropTableDeep(s, "dml_idx")
      graft.functions.YqlSql.sql(s,
        """$seed = (SELECT DISTINCT o_custkey % 40 AS k,
          |         (o_custkey % 40) * 3 AS v FROM orders);
          |CREATE TABLE dml_idx (k Int64, v Int64, PRIMARY KEY (k));
          |INSERT INTO dml_idx SELECT k, v FROM $seed;
          |ALTER TABLE dml_idx ADD INDEX by_v GLOBAL ON (v);
          |UPSERT INTO dml_idx
          |  SELECT DISTINCT o_custkey % 60 AS k, (o_custkey % 60) * 7 AS v
          |  FROM orders WHERE o_custkey % 60 >= 30;
          |DELETE FROM dml_idx WHERE k % 4 = 2;
          |SELECT v, k FROM dml_idx__idx_by_v""".stripMargin)
    }),

    // AS_TABLE($rows) (yql docs select/from_as_table): a literal list
    // of AsStruct rows as a derived table — the parameterized-lookup
    // idiom (join your query's parameters against a big table, no temp
    // table round trip). Lowers to inline(array(named_struct...)).
    "yql_sql_astable" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """$wanted = AsList(
          |  AsStruct(1 AS o_custkey, 'alpha' AS label),
          |  AsStruct(7 AS o_custkey, 'beta' AS label),
          |  AsStruct(13 AS o_custkey, 'gamma' AS label));
          |SELECT w.label, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n,
          |  CAST(SUM(CAST(floor(o.o_totalprice) AS BIGINT)) AS BIGINT) AS total
          |FROM AS_TABLE($wanted) AS w
          |JOIN orders AS o ON o.o_custkey = w.o_custkey
          |GROUP BY w.label""".stripMargin)
    }),

    // UNION ALL in the script surface — YQL's DEFAULT by-NAME mode
    // (select.cpp:2846-2852 UnionAll vs UnionAllPositional; docs
    // select.md#union-all): the result carries every column found in
    // any branch (absent → NULL), column order = largest common prefix
    // of the branch orders then the rest alphabetically, and the
    // trailing ORDER BY/LIMIT binds to the WHOLE union
    // (sql_select.cpp:1385). The lowering aligns branch columns from
    // Catalyst ANALYSIS only (schema, no job) and keeps Spark's native
    // UNION ALL underneath — still one exchange-free concat of the
    // branch plans.
    "yql_sql_union_byname" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("nation")
      t(s, d, "region").createOrReplaceTempView("region")
      graft.functions.YqlSql.sql(s,
        """SELECT n_name AS name, CAST(n_regionkey AS BIGINT) AS rk,
          |       'nation' AS src
          |FROM nation
          |UNION ALL
          |SELECT 'R_' || r_name AS name,
          |       CAST(r_regionkey * 10 AS BIGINT) AS pop,
          |       CAST(r_regionkey AS BIGINT) AS rk
          |FROM region
          |ORDER BY name
          |LIMIT 40""".stripMargin)
    }),

    // The ANSI positional mode behind PRAGMA PositionalUnionAll
    // (sql_query.cpp:3170; select.cpp:2849 UnionAllPositional):
    // first-branch names win, branches align by position — Spark's
    // native UNION ALL, pass-through.
    "yql_sql_union_positional" -> ((s, d) => {
      t(s, d, "region").createOrReplaceTempView("region")
      graft.functions.YqlSql.sql(s,
        """PRAGMA PositionalUnionAll;
          |SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region
          |UNION ALL
          |SELECT CAST(r_regionkey + 100 AS BIGINT) AS kk, upper(r_name) AS w
          |FROM region
          |ORDER BY k""".stripMargin)
    }),

    // Optimizer-hint spellings (SQLv1.g.in:510 GROUP COMPACT BY, :1061
    // PARTITION COMPACT BY, :100 IN COMPACT, :508 ASSUME ORDER BY):
    // COMPACT promises few distinct keys so the reference skips its
    // map-side combine — Catalyst owns that decision here, so the word
    // validates and drops; ASSUME ORDER BY declares the output already
    // sorted WITHOUT running a sort, so the clause drops entirely (the
    // oracle runs unordered — the compare is order-insensitive, which
    // is exactly the reference's contract for an ASSUME).
    "yql_sql_hints" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT pri, CAST(SUM(n1) AS BIGINT) AS n,
          |       CAST(MAX(rk) AS BIGINT) AS max_rk
          |FROM (
          |  SELECT o_orderpriority AS pri, 1 AS n1,
          |    rank() OVER (PARTITION COMPACT BY o_orderpriority
          |                 ORDER BY o_orderkey) AS rk
          |  FROM orders
          |  WHERE o_custkey % 10 IN COMPACT (1, 2, 3)
          |)
          |GROUP COMPACT BY pri
          |ASSUME ORDER BY pri""".stripMargin)
    }),

    // Sampling clauses (SQLv1.g.in:559 sample_clause, :561
    // tablesample_clause; sql_select.cpp:608-668): `SAMPLE fraction`,
    // `TABLESAMPLE BERNOULLI(pct) [REPEATABLE(seed)]`, `TABLESAMPLE
    // SYSTEM(pct)` — lowered to Spark's native postfix TABLESAMPLE
    // (sampling happens AT THE SCAN, before any shuffle: the 100 TB
    // posture). Sampling is pseudo-random by contract, so the oracle
    // pins an exact-integer VERDICT row (fractions inside ±5σ bands,
    // REPEATABLE determinism), the same pattern as the ANN recall
    // verdicts.
    "yql_sql_sample" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """$n = (SELECT COUNT(*) FROM orders);
          |SELECT
          |  CAST(CASE WHEN ts.c BETWEEN 0.12 * $n AND 0.28 * $n
          |       THEN 1 ELSE 0 END AS BIGINT) AS bernoulli_ok,
          |  CAST(CASE WHEN sy.c BETWEEN 0.01 * $n AND 0.09 * $n
          |       THEN 1 ELSE 0 END AS BIGINT) AS system_ok,
          |  CAST(CASE WHEN sm.c BETWEEN 0.42 * $n AND 0.58 * $n
          |       THEN 1 ELSE 0 END AS BIGINT) AS sample_ok,
          |  CAST(CASE WHEN rep.c = ts.c THEN 1 ELSE 0 END AS BIGINT)
          |    AS repeatable_ok
          |FROM
          |  (SELECT COUNT(*) AS c FROM orders
          |     TABLESAMPLE BERNOULLI(20) REPEATABLE(42)) AS ts,
          |  (SELECT COUNT(*) AS c FROM orders
          |     TABLESAMPLE BERNOULLI(20) REPEATABLE(42)) AS rep,
          |  (SELECT COUNT(*) AS c FROM orders TABLESAMPLE SYSTEM(5)) AS sy,
          |  (SELECT COUNT(*) AS c FROM orders SAMPLE 0.5) AS sm""".stripMargin)
    }),

    // GROUP BY HOP(...) in the SQL STRING surface (SQLv1.g.in:533
    // hopping_window_specification; sql_group_by.cpp:364 arg order
    // time/hop/interval/delay; executor mkql_multihopping.h): 6h
    // windows sliding by 3h per user — every event lands in two
    // windows. HOP_START()/HOP_END() return the window bounds.
    "yql_sql_hop" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT user_id, HOP_START() AS hs, HOP_END() AS he,
          |  COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
          |FROM events
          |GROUP BY HOP(ts, 'PT3H', 'PT6H', 'PT1H'), user_id""".stripMargin)
    }),

    // MATCH_RECOGNIZE as a SQL STRING (SQLv1.g.in:550
    // row_pattern_recognition_clause; sql_match_recognize.cpp;
    // executor mkql_match_recognize*.h): a click followed by a MAXIMAL
    // run of strictly-increasing values — PREV() navigation, a greedy
    // + quantifier, FIRST/LAST/COUNT measures, overlapping matches
    // (SKIP TO NEXT ROW). The lowering turns PREV into a lag() window
    // column and each DEFINE into a precomputed boolean column
    // (predicates evaluate at scan speed under codegen; the NFA reads
    // flags), then splices the matched rows in as a temp view. The
    // oracle replays the run structure with lag + a non-increase
    // running count (gaps-and-islands) — value-exact, including
    // greediness and overlap.
    "yql_sql_match_recognize" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT user_id, s_id, u_end, CAST(n_up AS BIGINT) AS n_up
          |FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY event_id
          |  MEASURES FIRST(S.event_id) AS s_id,
          |           LAST(U.event_id) AS u_end,
          |           COUNT(U.*) AS n_up
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (S U+)
          |  DEFINE S AS event_type = 'click',
          |         U AS value > PREV(value)
          |) AS m""".stripMargin)
    }),

    // Round-8 module breadth: the everyday String::/Math::/Unicode::
    // functions (docs udf/list/{string,math,unicode}.md) differentially
    // vs DuckDB's native equivalents.
    "yql_fn_modules2" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderkey,
          |  String::Contains(o_orderpriority, 'URG') AS s_contains,
          |  String::Find(o_orderpriority, '-') AS s_find,
          |  String::ReverseFind(o_orderpriority, 'E') AS s_rfind,
          |  String::Substring(o_orderpriority, 2, 3) AS s_sub,
          |  String::LevensteinDistance(o_orderstatus, 'O') AS s_lev,
          |  String::LeftPad(o_orderstatus, 3, '_') AS s_lpad,
          |  String::RemoveAll(o_orderpriority, '-0123456789') AS s_rm,
          |  String::ReplaceFirst(o_orderpriority, 'E', 'e') AS s_rf,
          |  String::ReplaceLast(o_orderpriority, 'E', 'e') AS s_rl,
          |  String::Collapse('a  b   c ' || o_orderstatus) AS s_col,
          |  String::HexEncode(o_orderstatus) AS s_hex,
          |  String::IsAsciiUpper(o_orderstatus) AS s_up,
          |  Math::Trunc(o_totalprice / 1000 - 3) AS m_trunc,
          |  ROUND(Math::Hypot(o_totalprice / 1000, 2.0), 6) AS m_hyp,
          |  ROUND(Math::Fmod(o_totalprice, 7.0), 6) AS m_fmod,
          |  Math::Mod(o_orderkey - 500, 7) AS m_mod,
          |  Math::Mod(o_orderkey - 500, -7) AS m_modn,
          |  Math::Rem(o_orderkey - 500, 7) AS m_rem,
          |  Math::Mod(o_orderkey, 0) AS m_mod0,
          |  Math::IsFinite(o_totalprice) AS m_fin,
          |  ROUND(Math::Ldexp(3.0, 4), 1) AS m_ldexp,
          |  ROUND(Math::Log2(o_totalprice), 6) AS m_log2,
          |  Unicode::IsAlpha(o_orderstatus) AS u_alpha,
          |  Unicode::Find(o_orderpriority, 'U') AS u_find
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // Round-9: the Math:: special-function tail (math_udf.cpp via
    // MathOps.scala) — gamma family vs DuckDB's libm, erf family via
    // roundtrip identities + pinned anchors.
    "yql_fn_math_tail" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderkey,
          |  ROUND(Math::Tgamma((o_orderkey % 380) / 100.0 + 0.25), 6) AS g,
          |  ROUND(Math::Lgamma((o_orderkey % 380) / 100.0 + 0.25), 6) AS lg,
          |  ROUND(Math::Erf(Math::ErfInv(
          |    (o_orderkey % 1997) / 1000.0 - 0.998)), 9) AS erf_rt,
          |  ROUND(Math::ErfInv(Math::Erf(
          |    (o_orderkey % 300) / 100.0 - 1.5)), 9) AS einv_rt,
          |  ROUND(Math::ErfcInv(1.0 - ((o_orderkey % 1997) / 1000.0 - 0.998))
          |    - Math::ErfInv((o_orderkey % 1997) / 1000.0 - 0.998), 9)
          |    + 0.0 AS ecinv_d,
          |  ROUND(Math::Erf(1.0), 9) AS erf1,
          |  ROUND(Math::Erf(-0.5), 9) AS erfm05,
          |  ROUND(Math::Tgamma(0.5) * Math::Tgamma(0.5), 9) AS gpi,
          |  ROUND(Math::Remainder(o_totalprice, 7.3), 6) AS rem73
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // Round-9: the String:: formatting/escaping tail (string_udf.cpp via
    // StringOps.scala) — escape families replayed structurally in DuckDB,
    // roundtrips, and pinned formatting anchors.
    "yql_fn_string_tail" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderkey,
          |  String::EscapeC(o_orderpriority || chr(9) || chr(34)
          |    || chr(92) || chr(10)) AS esc,
          |  String::UnescapeC(String::EscapeC(
          |    o_orderpriority || chr(9) || chr(34))) AS unesc_rt,
          |  String::EncodeHtml('<a href="' || o_orderstatus || '">&')
          |    AS enc_html,
          |  String::DecodeHtml(String::EncodeHtml(
          |    o_orderpriority || '<&>')) AS dec_rt,
          |  String::CgiEscape('a b/c?' || o_orderstatus) AS cgi,
          |  String::CgiUnescape(String::CgiEscape(
          |    o_orderpriority || ' ?=')) AS cgi_rt,
          |  String::CollapseText('  ' || o_orderpriority
          |    || '   padding   words  here', 15) AS ct,
          |  String::Hex(o_orderkey) AS hx,
          |  String::SHex(0 - o_orderkey) AS shx,
          |  String::Bin(o_orderkey) AS bn,
          |  String::HexText(o_orderstatus) AS hxt,
          |  String::BinText(o_orderstatus) AS bnt,
          |  to_json(String::ToByteList(o_orderstatus)) AS tbl,
          |  String::Base64Encode(o_orderpriority) AS b64,
          |  String::Base64Decode(String::Base64Encode(o_orderpriority))
          |    AS b64_rt,
          |  String::Base64StrictDecode(String::Base64Encode(o_orderpriority))
          |    AS b64s_rt,
          |  String::RemoveFirst(o_orderpriority, '-') AS rmf,
          |  String::RemoveLast(o_orderpriority, 'E') AS rml,
          |  String::AsciiToTitle(lower(o_orderstatus) || o_orderpriority)
          |    AS ttl,
          |  String::FromByteList(String::ToByteList(o_orderpriority))
          |    AS bl_rt,
          |  String::HumanReadableBytes(1234567890) AS hrb,
          |  String::HumanReadableQuantity(1234567890) AS hrq,
          |  String::HumanReadableDuration(93784000000) AS hrd,
          |  String::HumanReadableDuration(1500) AS hrd2,
          |  String::Prec(1234.5678, 4) AS prc1,
          |  String::Prec(1234.5678, 6) AS prc2,
          |  String::Prec(0.000123456, 4) AS prc3,
          |  String::Prec(0.0000123, 3) AS prc4,
          |  String::Prec(123456789.0, 3) AS prc5
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // Round-9: Compress::/Decompress::/TryDecompress:: module triple
    // (compress_udf.cpp) — roundtrips for every bound codec,
    // TryDecompress's NULL-on-garbage contract.
    "yql_fn_compress_module" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderkey,
          |  CAST(Decompress::Gzip(Compress::Gzip(o_orderpriority, 6))
          |    AS STRING) AS gz_rt,
          |  CAST(Decompress::Zlib(Compress::Zlib(o_orderpriority, 9))
          |    AS STRING) AS zl_rt,
          |  CAST(Decompress::Zstd(Compress::Zstd(o_orderpriority, 3))
          |    AS STRING) AS zs_rt,
          |  CAST(Decompress::Snappy(Compress::Snappy(o_orderpriority))
          |    AS STRING) AS sn_rt,
          |  CAST(TryDecompress::Gzip(Compress::Gzip(o_orderpriority, 1))
          |    AS STRING) AS try_ok,
          |  TryDecompress::Gzip(CAST(o_orderpriority AS BINARY)) IS NULL
          |    AS try_bad,
          |  TryDecompress::Zstd(CAST('junk' AS BINARY)) IS NULL
          |    AS try_bad2,
          |  length(Compress::Gzip(o_orderpriority, 9)) > 0 AS gz_n
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // Round-9: the Stat:: module spelling over the SQL string —
    // TDigest build aggregate, Serialize/Deserialize passthrough,
    // GetPercentile read — verified by the same in-plan exact-rank
    // verdict as the typed yql_agg_tdigest oracle.
    "yql_fn_stat_module" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      graft.functions.YqlSql.sql(s,
        """WITH sk AS (
          |  SELECT l_returnflag,
          |    Stat::TDigest_Serialize(Stat::TDigest(l_extendedprice))
          |      AS sketch,
          |    COUNT(*) AS n
          |  FROM lineitem GROUP BY l_returnflag),
          |m AS (
          |  SELECT l_returnflag, n,
          |    Stat::TDigest_GetPercentile(
          |      Stat::TDigest_Deserialize(sketch), 0.5) AS p50,
          |    Stat::TDigest_GetPercentile(sketch, 0.9) AS p90
          |  FROM sk)
          |SELECT l.l_returnflag,
          |  CAST(MAX(m.n) AS BIGINT) AS n,
          |  abs(avg(CASE WHEN l.l_extendedprice <= m.p50
          |    THEN 1.0 ELSE 0.0 END) - 0.5) <= 0.02 AS p50_ok,
          |  abs(avg(CASE WHEN l.l_extendedprice <= m.p90
          |    THEN 1.0 ELSE 0.0 END) - 0.9) <= 0.02 AS p90_ok
          |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
          |GROUP BY l.l_returnflag""".stripMargin)
    }),

    // Round-9: a TPC-H pack through the SQL-string surface — the
    // standard queries adapted to the driver's column subset (no
    // partsupp/commitdate/shipmode columns in the testdata). One ANSI
    // text per query runs verbatim on BOTH engines, so the oracle is
    // the same string (tpchSql below). Deterministic outputs: fixed
    // thresholds instead of float-rank top-k cuts.
    "yql_tpch_q6" -> tpchDef("yql_tpch_q6"),
    "yql_tpch_q10" -> tpchDef("yql_tpch_q10"),
    "yql_tpch_q14" -> tpchDef("yql_tpch_q14"),
    "yql_tpch_q18" -> tpchDef("yql_tpch_q18"),
    "yql_tpch_q19" -> tpchDef("yql_tpch_q19"),
    "yql_tpch_q4" -> tpchDef("yql_tpch_q4"),

    // Round-9: the Streaming::Process STRING spelling of PROCESS USING
    // (streaming_udf.cpp TStreamingProcess) — one external process per
    // partition, rows piped through stdin/stdout.
    "yql_sql_streaming_process" -> ((s, d) => {
      t(s, d, "orders").where(col("o_orderkey") < 2000)
        .select(col("o_orderpriority"))
        .createOrReplaceTempView("pipe_src")
      graft.functions.YqlSql.sql(s,
        """PROCESS pipe_src
          |USING Streaming::Process(TableRows(), 'sed',
          |  AsList('s/-/_/'))""".stripMargin)
    }),

    // Round-9: the SQL-standard JSON accessors WITH their clause
    // forms (builtins/json.md): RETURNING casts, ON EMPTY handlers,
    // JSON_QUERY wrappers. Lax-mode evaluation (strict raises).
    "yql_sql_json_accessors" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT event_id,
          |  JSON_VALUE(props, '$.k') AS v,
          |  JSON_VALUE(props, '$.k' RETURNING Int64) AS vi,
          |  JSON_VALUE(props, '$.missing'
          |    RETURNING Int64 DEFAULT -1 ON EMPTY) AS vd,
          |  JSON_VALUE(props, '$.missing' NULL ON EMPTY) AS vn,
          |  JSON_VALUE(props, '$.k' RETURNING Double ERROR ON EMPTY)
          |    AS ve,
          |  JSON_EXISTS(props, '$.k') AS e,
          |  JSON_EXISTS(props, '$.missing' FALSE ON ERROR) AS en,
          |  JSON_QUERY(props, '$.k'
          |    WITH UNCONDITIONAL ARRAY WRAPPER) AS qw,
          |  JSON_QUERY(props, '$.missing' EMPTY ARRAY ON EMPTY) AS qe,
          |  JSON_QUERY(props, '$.missing' EMPTY OBJECT ON ERROR) AS qo
          |FROM events WHERE event_id < 2000""".stripMargin)
    }),

    // Round-9: the Unicode:: tail (unicode_base_udf.h via
    // UnicodeOps.scala) — normalization forms, fold, codepoint lists,
    // set membership, replace/remove families, uint64 parsing.
    "yql_fn_unicode_tail" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderkey,
          |  Unicode::NormalizeNFC('é') AS nfc,
          |  Unicode::NormalizeNFD('é') = 'é' AS nfd,
          |  Unicode::NormalizeNFKC('Ⅸ') AS nfkc,
          |  Unicode::Fold('Kongreßstraße') AS fold1,
          |  Unicode::Fold('Eylül ' || o_orderpriority) AS fold2,
          |  Unicode::IsAscii(o_orderpriority) AS isasc,
          |  Unicode::IsAscii('café') AS isasc2,
          |  Unicode::IsHex(o_orderstatus) AS ishex,
          |  Unicode::IsUtf(o_orderpriority) AS isutf,
          |  Unicode::IsUnicodeSet(o_orderstatus, '[FOP]') AS inset,
          |  Unicode::IsUnicodeSet(o_orderpriority, '[A-Z0-9 -]') AS inset2,
          |  Unicode::IsUnicodeSet(o_orderstatus, '[^FOP]') AS inset3,
          |  Unicode::IsUnicodeSet(o_orderpriority, '[' || chr(92)
          |    || 'p{Lu}' || chr(92) || 'p{N} -]') AS inset_prop,
          |  Unicode::IsUnicodeSet(o_orderstatus, '[' || chr(92)
          |    || 'p{N}]') AS inset_prop2,
          |  Unicode::RFind(o_orderpriority, 'E') AS rf,
          |  Unicode::ReplaceAll(o_orderpriority, 'E', 'e') AS rall,
          |  Unicode::ReplaceFirst(o_orderpriority, 'E', 'e') AS rfirst,
          |  Unicode::ReplaceLast(o_orderpriority, 'E', 'e') AS rlast,
          |  Unicode::RemoveAll(o_orderpriority, 'AEIOU') AS rmall,
          |  Unicode::RemoveFirst(o_orderpriority, 'E') AS rmf,
          |  Unicode::RemoveLast(o_orderpriority, 'E') AS rml,
          |  to_json(Unicode::ToCodePointList(o_orderstatus)) AS cpl,
          |  Unicode::FromCodePointList(
          |    Unicode::ToCodePointList(o_orderpriority)) AS cpl_rt,
          |  to_json(Unicode::SplitToList(o_orderpriority, '-')) AS spl,
          |  Unicode::JoinFromList(
          |    Unicode::SplitToList(o_orderpriority, '-'), '_') AS joined,
          |  Unicode::LevensteinDistance(o_orderpriority, 'URGENT') AS lev,
          |  Unicode::ToUint64(CAST(o_orderkey AS STRING)) AS u64,
          |  Unicode::ToUint64('0x' || hex(o_orderkey)) AS u64h,
          |  Unicode::TryToUint64(o_orderpriority) AS u64bad
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // Round-9: the Url:: tail (url_base via UrlOps.scala) —
    // normalization, parse struct, TLD tests, significant domain,
    // punycode family, query-string building.
    "yql_fn_url_tail" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """$u = 'hTTp://wWw.shop' || CAST(o_custkey % 50 AS STRING)
          |  || '.Example.COM:8080/item/' || CAST(o_orderkey AS STRING)
          |  || '?q=' || o_orderstatus || '#frag';
          |SELECT o_orderkey,
          |  Url::Normalize($u) AS norm,
          |  Url::Normalize('not a url') IS NULL AS norm_bad,
          |  Url::NormalizeWithDefaultHttpScheme(
          |    'wWw.yDb.TECH') AS norm_dflt,
          |  Url::Parse($u).Host AS p_host,
          |  Url::Parse($u).Port AS p_port,
          |  Url::Parse($u).Scheme AS p_scheme,
          |  Url::Parse($u).Query AS p_query,
          |  Url::Parse($u).Frag AS p_frag,
          |  Url::Parse($u).Path AS p_path,
          |  Url::IsKnownTLD($u) AS known,
          |  Url::IsKnownTLD('http://x.nosuchtldzz/') AS known_bad,
          |  Url::IsWellKnownTLD($u) AS wellknown,
          |  Url::GetSignificantDomain($u) AS sig,
          |  Url::GetSignificantDomain(
          |    'http://a.b.co.uk/x') AS sig_couk,
          |  Url::GetOwner('http://x.blogs.livejournal.com/') AS owner,
          |  Url::CutWWW2('www2.host.com/x') AS cw2,
          |  Url::CutQueryStringAndFragment($u) AS cqf,
          |  Url::HostNameToPunycode('пример.испытание') AS puny,
          |  Url::PunycodeToHostName(
          |    Url::HostNameToPunycode('пример.испытание')) AS puny_rt,
          |  Url::ForcePunycodeToHostName('plain.com') AS puny_f,
          |  Url::CanBePunycodeHostName('xn--e1afmkfd.com') AS puny_can,
          |  Url::CanBePunycodeHostName('plain.com') AS puny_not,
          |  Url::BuildQueryString(AsDict(
          |    AsTuple('a', '1'), AsTuple('b', 'x y'))) AS bq
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // Round-9: the Digest:: round-9 tail (digest_udf.cpp) — murmur
    // family + crc64 + cityhash + farmhash fingerprints + blake2b.
    // The KERNELS are pinned to the reference's own unit-test vectors
    // in DigestTailSpec; this oracle replays the per-row values as a
    // CASE over the 5 distinct priorities (DuckDB has none of these
    // hashes natively) plus fixed-input constants.
    "yql_fn_digest_tail" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderkey,
          |  Digest::MurMurHash(o_orderpriority) AS mm64,
          |  Digest::MurMurHash32('abc') AS mm32,
          |  Digest::MurMurHash2A('abc') AS mm2a,
          |  Digest::MurMurHash2A32('abc') AS mm2a32,
          |  Digest::MurMurHash('abc', 7) AS mm64s,
          |  Digest::Crc64(o_orderpriority) AS c64,
          |  Digest::CityHash(o_orderpriority) AS ch,
          |  Digest::CityHash('abc', 7) AS chs,
          |  Digest::CityHash128('abcdefghijklmnopqrstuvwxyz')._1
          |    AS ch128lo,
          |  Digest::CityHash128('abcdefghijklmnopqrstuvwxyz')._2
          |    AS ch128hi,
          |  Digest::FarmHashFingerprint(42) AS ff,
          |  Digest::FarmHashFingerprint2(1, 2) AS ff2,
          |  Digest::FarmHashFingerprint32(o_orderpriority) AS ff32,
          |  Digest::FarmHashFingerprint64(o_orderpriority) AS ff64,
          |  Digest::FarmHashFingerprint128('abc')._1 AS ff128lo,
          |  Digest::XXH3(o_orderpriority) AS x3,
          |  Digest::XXH3_128(o_orderpriority)._1 AS x3lo,
          |  Digest::XXH3_128('abc')._2 AS x3hi,
          |  hex(Digest::Blake2B('abc')) AS b2,
          |  hex(Digest::Blake2B('abc', 'key')) AS b2k,
          |  Digest::HighwayHash(3, 5, 7, 11, o_orderpriority) AS hwh,
          |  hex(Digest::Argon2(o_orderpriority, 'saltsalt')) IS NOT NULL
          |    AND length(Digest::Argon2(o_orderpriority, 'saltsalt')) = 32
          |    AS a2ok
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // Round-9: the Yson:: conversion tail (yson2 udf) — typed
    // list/dict conversions, Lookup/YPath containers, attributes.
    "yql_fn_yson_tail" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT event_id,
          |  to_json(Yson::ConvertToInt64List('[1,2,'
          |    || CAST(event_id % 5 AS STRING) || ']')) AS il,
          |  to_json(Yson::ConvertToStringList('["a","b"]')) AS sl,
          |  to_json(Yson::ConvertToDoubleList('[1.5,2.5]')) AS dl,
          |  to_json(Yson::ConvertToBoolList('[true,false]')) AS bl,
          |  to_json(Yson::ConvertToList('[1,"x",true]')) AS anyl,
          |  element_at(Yson::ConvertToInt64Dict(props), 'k') AS dk,
          |  element_at(Yson::ConvertToDict(props), 'k') AS dka,
          |  element_at(Yson::LookupDict('{"m":{"a":1,"b":2}}', 'm'),
          |    'b') AS ld,
          |  Yson::ConvertToInt64List(
          |    Yson::YPath('{"m":[7,8]}', '/m'))[1] AS yl,
          |  Yson::YPathList('{"m":[7,8]}', '/m')[0] AS ylf,
          |  element_at(Yson::ConvertToInt64Dict(Yson::Attributes(
          |    Yson::Parse('<a=7>5'))), 'a') AS attr,
          |  Yson::SerializeText(Yson::WithAttributes(
          |    Yson::Parse('5'), Yson::Parse('{a=1}'))) AS wattr,
          |  Yson::ConvertToInt64List(props) IS NULL AS not_list,
          |  to_json(Yson::ConvertToList(Yson::ParseJsonDecodeUtf8('[3,4]')))
          |    AS pj
          |FROM events WHERE event_id < 2000""".stripMargin)
    }),

    // Round-10: Yson::Options (yson2_udf.cpp TOptions + dom/convert.h)
    // — the AutoConvert and Strict=false modes over scalar converts,
    // typed list/dict conversions, and lookups. Every branch of the
    // lenient/auto tables is pinned: mismatches NULL out instead of
    // raising (lenient), or coerce (auto: numbers↔bool, parse-or-zero
    // strings, zero-valued entities/containers, dropped lenient list
    // elements).
    "yql_fn_yson_options" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """$lax = Yson::Options(false AS Strict);
          |$ac = Yson::Options(true AS AutoConvert);
          |SELECT event_id,
          |  Yson::ConvertToInt64('"x"', $lax) IS NULL AS li_null,
          |  Yson::ConvertToInt64('' || CAST(event_id % 7 AS STRING),
          |    $lax) AS li_ok,
          |  Yson::ConvertToInt64('3.5', $lax) IS NULL AS li_dbl,
          |  Yson::ConvertToInt64('"12"', $ac) AS ai_parse,
          |  Yson::ConvertToInt64('"junk"', $ac) AS ai_junk,
          |  Yson::ConvertToInt64('3.9', $ac) AS ai_trunc,
          |  Yson::ConvertToInt64('true', $ac) AS ai_bool,
          |  Yson::ConvertToInt64('[1,2]', $ac) AS ai_list,
          |  Yson::ConvertToInt64('null', $ac) AS ai_ent,
          |  Yson::ConvertToDouble('"x"', $lax) IS NULL AS ld_null,
          |  Yson::ConvertToDouble('' || CAST(event_id % 7 AS STRING),
          |    $lax) AS ld_int,
          |  Yson::ConvertToDouble('"2.5"', $ac) AS ad_parse,
          |  Yson::ConvertToDouble('false', $ac) AS ad_bool,
          |  Yson::ConvertToBool('5', $lax) IS NULL AS lb_null,
          |  Yson::ConvertToBool('' || CAST(event_id % 7 AS STRING),
          |    $ac) AS ab_num,
          |  Yson::ConvertToBool('"yes"', $ac) AS ab_str,
          |  Yson::ConvertToBool('""', $ac) AS ab_empty,
          |  Yson::ConvertToBool('[]', $ac) AS ab_elist,
          |  Yson::ConvertToString('5', $lax) IS NULL AS ls_null,
          |  Yson::ConvertToString('' || CAST(event_id % 7 AS STRING),
          |    $ac) AS as_num,
          |  Yson::ConvertToString('true', $ac) AS as_bool,
          |  Yson::ConvertToString('{"a":1}', $ac) AS as_dict,
          |  to_json(Yson::ConvertToInt64List('[1,"x",2.5,'
          |    || CAST(event_id % 7 AS STRING) || ',null]', $lax))
          |    AS ll_drop,
          |  to_json(Yson::ConvertToInt64List('[1,"12",2.5,true,null]',
          |    $ac)) AS la_coerce,
          |  to_json(Yson::ConvertToInt64List('"notalist"', $lax))
          |    AS ll_empty,
          |  to_json(Yson::ConvertToStringList('["a",7,null]', $lax))
          |    AS ls_drop,
          |  element_at(Yson::ConvertToInt64Dict(
          |    '{"g":"9","b":true}', $ac), 'g') AS da_parse,
          |  element_at(Yson::ConvertToInt64Dict(
          |    '{"g":"9","k":3}', $lax), 'k') AS dl_keep,
          |  Yson::LookupInt64(props, 'k', $lax) AS lk_lax,
          |  Yson::LookupInt64('{"k":"7"}', 'k', $ac) AS lk_auto,
          |  Yson::YPathInt64('{"m":{"v":"8"}}', '/m/v', $ac) AS yp_auto
          |FROM events WHERE event_id < 2000""".stripMargin)
    }),

    // Url::/Ip::/Digest:: breadth (docs udf/list/{url,ip,digest}.md)
    // over per-row synthesized URLs.
    "yql_fn_url_breadth" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """$url = 'https://www.shop' || CAST(o_custkey % 50 AS String)
          |  || '.example.com:8080/item/' || CAST(o_orderkey AS String)
          |  || '?q=' || o_orderstatus || '&p=2#frag';
          |SELECT o_orderkey,
          |  Url::GetTLD($url) AS tld,
          |  Url::GetDomain($url, 2) AS dom2,
          |  Url::GetDomainLevel($url) AS dl,
          |  Url::CutWWW(Url::GetHost($url)) AS cw,
          |  Url::CutScheme($url) AS cs,
          |  Url::GetFragment($url) AS fr,
          |  Url::GetPort($url) AS port,
          |  Url::GetSchemeHost($url) AS sh,
          |  Url::GetTail($url) AS tail,
          |  element_at(Url::QueryStringToDict(
          |    'q=' || o_orderstatus || '&p=2'), 'q') AS qv,
          |  Digest::Md5Hex(o_orderstatus) AS mh,
          |  Ip::IsIPv4('10.1.2.3') AS v4,
          |  Ip::IsIPv4('10.1.2.345') AS v4bad,
          |  Ip::IsIPv6('fe80::1') AS v6,
          |  Ip::GetSubnet('10.11.12.13') AS sub,
          |  Ip::ConvertToIPv6('1.2.3.4') AS v6m
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // DateTime:: breadth (docs udf/list/datetime.md).
    "yql_fn_datetime_breadth" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT event_id,
          |  DateTime::GetSecond(ts) AS sec,
          |  DateTime::GetDayOfYear(ts) AS doy,
          |  DateTime::GetWeekOfYearIso(ts) AS wk,
          |  DateTime::GetMonthName(ts) AS mn,
          |  DateTime::GetDayOfWeekName(ts) AS dn,
          |  DateTime::ToDays(ts) AS tdays,
          |  DateTime::ToMinutes(ts) AS tmin,
          |  DateTime::FromMicroseconds(DateTime::ToMicroseconds(ts)) AS rt,
          |  CAST(DateTime::StartOfQuarter(ts) AS DATE) AS soq,
          |  DateTime::EndOfMonth(ts) AS eom,
          |  DateTime::ShiftQuarters(ts, 2) AS sq,
          |  ts + DateTime::IntervalFromHours(3) AS plus3h
          |FROM events WHERE event_id < 2000""".stripMargin)
    }),

    // Yson:: module (udf/list/yson.md) over the canonical-JSON Any:
    // lookups, typed conversions, node-kind tests, length, equality.
    "yql_fn_yson_module" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """$a = Yson::ParseJson(props);
          |SELECT event_id,
          |  Yson::LookupInt64($a, 'k') AS k,
          |  Yson::ConvertToDouble(Yson::Lookup($a, 'k')) AS kd,
          |  Yson::Contains($a, 'k') AS has_k,
          |  Yson::Contains($a, 'missing') AS has_missing,
          |  CAST(Yson::GetLength($a) AS BIGINT) AS n,
          |  Yson::IsDict($a) AS isd,
          |  Yson::Equals($a, $a) AS eq
          |FROM events WHERE event_id < 2000""".stripMargin)
    }),

    // Re2:: module (curried factories, udf/list/re2.md): binding +
    // inline application forms, fused onto the native regex engine.
    "yql_fn_re2" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """$num = Re2::Capture('(?P<num>\\d)-(?P<word>[A-Z0-9 ]+)');
          |$fix = Re2::Replace('(\\d)-');
          |SELECT o_orderkey,
          |  Re2::Grep('\\d-')(o_orderpriority) AS g,
          |  Re2::Match('\\d-[A-Z0-9 ]+')(o_orderpriority) AS m,
          |  CAST(Re2::Count('[A-Z]')(o_orderpriority) AS BIGINT) AS c,
          |  $fix(o_orderpriority, '[\\1] ') AS r,
          |  $num(o_orderpriority).word AS w,
          |  Pire::BacktrackingGrep('URG')(o_orderpriority) AS bg,
          |  Pire::BacktrackingMatch('\\d-[A-Z ]+')(o_orderpriority) AS bm,
          |  Pire::MultiGrep('URG\nLOW\n\\d-')(o_orderpriority)._1 AS mg1,
          |  Pire::MultiGrep('URG\nLOW\n\\d-')(o_orderpriority)._2 AS mg2,
          |  Pire::MultiGrep('URG\nLOW\n\\d-')(o_orderpriority)._3 AS mg3,
          |  Pire::MultiMatch('.*URGENT\n.*')(o_orderpriority)._1 AS mm1,
          |  Pire::MultiMatch('.*URGENT\n.*')(o_orderpriority)._2 AS mm2,
          |  Re2::Grep('urgent', Re2::Options(false AS CaseSensitive))
          |    (o_orderpriority) AS oi,
          |  Re2::Grep('urgent')(o_orderpriority) AS oi_def,
          |  Re2::Grep('T.D', Re2::Options(true AS Literal))
          |    (o_orderpriority || 'T.D') AS olit,
          |  Re2::Grep('T.D', Re2::Options(true AS Literal))
          |    (o_orderpriority || 'TXD') AS olit_no
          |FROM orders WHERE o_orderkey < 2000""".stripMargin)
    }),

    // @anonymous temp tables (docs select.md#temporary-tables): the
    // multiphase pattern — stage two INSERT phases into @tmp, COMMIT,
    // then aggregate the union. The table is per-run unique and
    // dropped when the script ends.
    "yql_sql_anon_table" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """INSERT INTO @phase
          |SELECT o_custkey % 10 AS k, o_totalprice AS p FROM orders
          |WHERE o_orderstatus = 'F';
          |COMMIT;
          |INSERT INTO @phase
          |SELECT o_custkey % 10 AS k, o_totalprice * 2 AS p FROM orders
          |WHERE o_orderstatus = 'O';
          |COMMIT;
          |SELECT k, COUNT(*) AS n,
          |  CAST(SUM(CAST(floor(p) AS BIGINT)) AS BIGINT) AS total
          |FROM @phase GROUP BY k""".stripMargin)
    }),

    // FLATTEN COLUMNS (docs syntax/flatten.md#flatten-columns): struct
    // columns expand to one column per field, source names dropped.
    "yql_sql_flatten_columns" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT ks, vs, o FROM (
          |  SELECT named_struct('ks', o_custkey % 50) AS a,
          |         named_struct('vs', o_custkey % 7, 'o', o_orderkey) AS b
          |  FROM orders
          |) FLATTEN COLUMNS
          |WHERE ks < 25""".stripMargin)
    }),

    // GROUP BY SessionWindow(time, timeout) in the SQL string surface
    // (docs syntax/group_by.md#session-window): per-user sessions split
    // at >6h gaps; the session key (and SessionStart()) is the
    // session's minimum ts — lowered onto Spark's session_window
    // grouping whose .start is exactly that minimum.
    "yql_sql_session_window" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT user_id, session_start, SessionStart() AS ss,
          |  COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
          |FROM events
          |GROUP BY user_id, SessionWindow(ts, 'PT6H') AS session_start""".stripMargin)
    }),

    // the extended 4-argument SessionWindow(order, init, update,
    // calculate) (docs group_by.md#session-window;
    // sql_group_by.cpp): custom session logic via user lambdas — here
    // a VALUE-DEPENDENT timeout (clicks time out in 2h, everything
    // else in 6h), which the 2-arg form cannot express. The state is
    // the previous row's ts; calculate returns the session's first ts.
    "yql_sql_session_lambda" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """$init = ($row) -> ($row.ts);
          |$update = ($row, $state) -> (AsTuple(
          |  unix_timestamp($row.ts) - unix_timestamp($state) >
          |    IF($row.event_type = 'click', 7200, 21600), $row.ts));
          |$calculate = ($row, $state) -> ($state);
          |SELECT user_id, session_start, SessionStart() AS ss,
          |  COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
          |FROM events
          |GROUP BY user_id, SessionWindow(ts, $init, $update, $calculate)
          |  AS session_start""".stripMargin)
    }),

    // the Histogram:: post-processing module
    // (udfs/common/histogram/histogram_udf.cpp:18-28,622,790) over the
    // struct-returning HISTOGRAM aggregate. 97 distinct input values
    // (< the 100-bin cap) keep the adaptive histogram exact and
    // order-independent, so the trapezoid interpolation replays
    // bit-for-bit in DuckDB over the same buckets.
    "yql_fn_histogram_module" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """$v = CAST(o_custkey % 97 AS DOUBLE);
          |SELECT
          |  ROUND(Histogram::GetSumAboveBound(HISTOGRAM($v), 30.5), 4)
          |    AS sab,
          |  ROUND(Histogram::GetSumBelowBound(HISTOGRAM($v), 30.5), 4)
          |    AS sbb,
          |  ROUND(Histogram::GetSumInRange(HISTOGRAM($v), 10.5, 60.5), 4)
          |    AS sir,
          |  ROUND(Histogram::CalcUpperBound(HISTOGRAM($v), 3700.0), 6)
          |    AS cub,
          |  ROUND(Histogram::CalcLowerBound(HISTOGRAM($v), 3700.0), 6)
          |    AS clb,
          |  ROUND(Histogram::CalcUpperBoundSafe(HISTOGRAM($v), 1.0), 6)
          |    AS cubs,
          |  ROUND(Histogram::CalcLowerBoundSafe(HISTOGRAM($v), 1.0), 6)
          |    AS clbs,
          |  ROUND(element_at(
          |    Histogram::Normalize(HISTOGRAM($v), 50.0).bins, 4).frequency,
          |    6) AS norm_b4,
          |  ROUND(element_at(
          |    Histogram::ToCumulativeDistributionFunction(
          |      HISTOGRAM($v)).bins, 4).frequency, 2) AS cdf_b4
          |FROM orders""".stripMargin)
    }),

    // AGGREGATE_BY / MULTI_AGGREGATE_BY / AggregationFactory
    // (builtins/aggregation.md#aggregate-by; basic.md
    // #aggregationfactory): factory descriptors lower to the named
    // aggregates; MULTI applies item-by-item over a list column via
    // transform/sequence HOFs over the collected group.
    "yql_fn_aggregate_by" -> ((s, d) => {
      // spread measured 0.73x here (r13): the percentile partials'
      // typed-hashmap buffers serialized across the extra exchange
      // cost more than the parallel update saves — left single-split
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """$cnt = AggregationFactory("COUNT");
          |$nums = array(o_custkey % 7, o_orderkey % 13, o_custkey % 97);
          |SELECT
          |  AGGREGATE_BY(DISTINCT o_custkey % 50, $cnt) AS cd,
          |  CAST(AGGREGATE_BY(o_custkey % 7, AggregationFactory('sum'))
          |    AS BIGINT) AS s7,
          |  ROUND(AGGREGATE_BY(o_totalprice,
          |    AggregationFactory('percentile', 0.9)), 4) AS p90,
          |  to_json(MULTI_AGGREGATE_BY($nums, AggregationFactory('min')))
          |    AS mmin,
          |  to_json(MULTI_AGGREGATE_BY($nums, AggregationFactory('max')))
          |    AS mmax,
          |  to_json(MULTI_AGGREGATE_BY($nums, AggregationFactory('count')))
          |    AS mcnt,
          |  to_json(transform(
          |    MULTI_AGGREGATE_BY($nums, AggregationFactory('avg')),
          |    __x -> ROUND(__x, 6))) AS mavg
          |FROM orders""".stripMargin)
    }),

    // The struct-builtins family over the string surface (struct.md:
    // TryMember/AddMember/ExpandStruct/RemoveMember/ChooseMembers/
    // StructMembers/CombineMembers/FlattenMembers/RenameMembers/
    // SpreadMembers/GatherMembers) — each member re-read as a scalar so
    // the DuckDB oracle replays the arithmetic directly.
    "yql_fn_struct_module" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("part")
      graft.functions.YqlSql.sql(s,
        """SELECT p_partkey,
          |  TryMember(AsStruct(p_brand AS brand, p_size AS size),
          |    'brand', 'none') AS tm_hit,
          |  TryMember(AsStruct(p_brand AS brand), 'sometype', 'none')
          |    AS tm_miss,
          |  (AddMember(AsStruct(p_brand AS brand), 'sz', p_size)).sz
          |    AS am_sz,
          |  (ExpandStruct(AsStruct(p_brand AS brand), p_size AS size,
          |    p_type AS ptype)).ptype AS es_type,
          |  (RemoveMember(AsStruct(p_brand AS brand, p_size AS size),
          |    'brand')).size AS rm_size,
          |  (ChooseMembers(AsStruct(p_brand AS b, p_size AS s,
          |    p_type AS tt), array('b', 'tt'))).tt AS cm_t,
          |  concat_ws(',', StructMembers(AsStruct(p_size AS z,
          |    p_brand AS a))) AS sm,
          |  (CombineMembers(AsStruct(p_brand AS b1),
          |    AsStruct(p_type AS b2))).b2 AS comb_t,
          |  (FlattenMembers(AsTuple('x', AsStruct(p_size AS n)),
          |    AsTuple('y', AsStruct(p_size AS n)))).yn AS fm_yn,
          |  (RenameMembers(AsStruct(p_brand AS a, p_size AS b),
          |    array(AsTuple('a', 'c')))).c AS ren_c,
          |  (SpreadMembers(array(AsTuple('k', p_size),
          |    AsTuple('k', p_size + 1)), array('k', 'm'))).k AS sp_k,
          |  element_at(GatherMembers(AsStruct(p_size AS a,
          |    p_size * 2 AS b)), 2)._2 AS gm_b
          |FROM part""".stripMargin)
    }),

    // SessionWindow inside a WINDOW definition's PARTITION BY — the
    // STRING spelling (syntax/window.md#partition: "Both in PARTITION
    // BY and GROUP BY you can use ... SessionWindow") — lowered by
    // YqlScript.lowerSessionWindowOver onto the gaps-and-islands
    // splice; SessionStart() reads the session key. The DuckDB oracle
    // replays the islands arithmetic directly.
    "yql_sql_window_over_session" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT user_id, event_id,
          |  row_number() OVER w AS pos_in_sess,
          |  SessionStart() AS session_start
          |FROM events
          |WINDOW w AS (PARTITION BY user_id, SessionWindow(ts, 'PT6H')
          |  ORDER BY ts, event_id)""".stripMargin)
    }),

    // basic.md breadth over real column data: byte/bit surgery, the
    // ToBytes/FromBytes round trip, MAX_OF, Just/Unwrap, ListFoldMap
    // (stateful scan), ListAggregate and a struct container literal —
    // every output a scalar the DuckDB oracle replays arithmetically.
    "yql_fn_basics" -> ((s, d) => {
      // interpreted HOF chains per row (ListFoldMap/ListAggregate are
      // CodegenFallback) — spread the single-split scan (guide §2)
      tSpread(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderkey,
          |  ByteAt(o_orderpriority, 0) AS ba,
          |  TestBit(o_orderkey, 0) AS tb,
          |  SetBit(o_orderkey % 16, 2) AS sb,
          |  FromBytes(ToBytes(o_orderkey), Uint64) AS rt,
          |  MAX_OF(o_custkey % 7, o_orderkey % 5, 3) AS mx,
          |  Unwrap(Just(o_orderkey)) AS uw,
          |  element_at(ListFoldMap([1, 2, 3], o_orderkey % 5,
          |    (x, st) -> AsTuple(x + st, st + x)), 3) AS lfm,
          |  ListAggregate([o_custkey % 7, o_orderkey % 13],
          |    AggregationFactory('Sum')) AS lagg,
          |  (<|k: o_orderkey % 9, m: 'z'|>).k AS litk
          |FROM orders""".stripMargin)
    }),

    // The aggregate SPELLING zoo (builtins/aggregation.md): the
    // STDDEV/VARIANCE alias family, CORRELATION/COVARIANCE (NULL
    // counts as 0 per the docs), SOME (any-value witness — spelled on
    // a group-constant column so every witness is equal), and the
    // NULL-poisoning BOOL_* trio (docs: "do not skip NULL").
    "yql_agg_spellings" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      graft.functions.YqlSql.sql(s,
        """SELECT l_returnflag,
          |  ROUND(STDDEV(l_quantity), 6) AS sd,
          |  ROUND(STDDEV_POPULATION(l_quantity), 6) AS sd_pop,
          |  ROUND(STDDEVSAMP(l_quantity), 6) AS sd_samp,
          |  ROUND(VARIANCE(l_quantity), 6) AS var_s,
          |  ROUND(VARPOP(l_quantity), 6) AS var_p,
          |  ROUND(CORRELATION(l_quantity, l_discount), 6) AS corr_qd,
          |  ROUND(COVARIANCE(l_quantity, l_discount), 6) AS cov_s,
          |  ROUND(COVARIANCE_POPULATION(l_quantity, l_discount), 6) AS cov_p,
          |  SOME(l_returnflag) AS some_flag,
          |  BOOL_AND(l_quantity > 0) AS all_pos,
          |  BOOL_XOR(l_orderkey % 2 = 0) AS xor_even,
          |  BOOL_OR(CASE WHEN l_partkey % 500 = 7 THEN NULL
          |    ELSE l_discount > 0.05 END) AS or_poisoned
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    }),

    // AGGREGATE_LIST / AGG_LIST / *_DISTINCT (+ limit) and the HLL trio
    // (CountDistinctEstimate/HyperLogLog/HLL → HLL++ estimate, pinned
    // by an in-plan ±10% verdict against the exact distinct count).
    "yql_agg_list_sql" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("nation")
      graft.functions.YqlSql.sql(s,
        """SELECT n_regionkey,
          |  concat_ws(',', sort_array(AGGREGATE_LIST(n_name))) AS names,
          |  concat_ws(',', sort_array(AGGREGATE_LIST(DISTINCT
          |    substring(n_name, 1, 2)))) AS pre2,
          |  concat_ws(',', sort_array(AGG_LIST_DISTINCT(n_name))) AS dnames,
          |  CAST(size(AGGREGATE_LIST(n_name, 3)) AS BIGINT) AS lim3,
          |  (HLL(n_name) * 1.0 BETWEEN COUNT(DISTINCT n_name) * 0.9
          |    AND COUNT(DISTINCT n_name) * 1.1) AS hll_ok,
          |  (CountDistinctEstimate(n_name) * 1.0 BETWEEN
          |    COUNT(DISTINCT n_name) * 0.9 AND COUNT(DISTINCT n_name) * 1.1)
          |    AS cde_ok
          |FROM nation GROUP BY n_regionkey""".stripMargin)
    }),

    // TOPFREQ / MODE string surface over the bounded-buffer TopFreqAgg
    // (aggregation.md#topfreq-mode): buffer ≥ distinct count → exact,
    // ties by (frequency desc, value asc), replayed in the oracle.
    "yql_agg_topfreq_sql" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderstatus, x.Value AS val,
          |  CAST(x.Frequency AS BIGINT) AS freq,
          |  md.Value AS mode_val, CAST(md.Frequency AS BIGINT) AS mode_freq
          |FROM (SELECT o_orderstatus,
          |    TOPFREQ(o_orderpriority, 3, 1000) AS tf,
          |    element_at(MODE(o_custkey % 10), 1) AS md
          |  FROM orders GROUP BY o_orderstatus)
          |LATERAL VIEW explode(tf) ex AS x""".stripMargin)
    }),

    // DISTINCT window aggregates behind PRAGMA DistinctOverWindow
    // (source.cpp:290 gates agg(DISTINCT) OVER; sql_call_expr.cpp:392
    // SetOverWindowDistinct): lowered onto the per-frame collect_set —
    // whole-partition AND running-frame forms.
    "yql_sql_distinct_window" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """PRAGMA DistinctOverWindow;
          |SELECT o_orderkey,
          |  COUNT(DISTINCT o_orderpriority)
          |    OVER (PARTITION BY o_custkey % 20) AS cd,
          |  SUM(DISTINCT o_custkey % 7)
          |    OVER (PARTITION BY o_custkey % 20) AS sd,
          |  AVG(DISTINCT o_custkey % 7)
          |    OVER (PARTITION BY o_custkey % 20) AS ad,
          |  MIN(DISTINCT o_orderpriority)
          |    OVER (PARTITION BY o_custkey % 20) AS md,
          |  COUNT(DISTINCT o_orderpriority)
          |    OVER (PARTITION BY o_custkey % 20
          |          ORDER BY o_orderkey
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS running_cd
          |FROM orders WHERE o_custkey < 300""".stripMargin)
    }),

    // ALL ROWS PER MATCH (mkql_match_recognize_rows_formatter.cpp
    // TAllRowsFormatter): every matched row emits with its input
    // columns plus the match-level measures — the reference computes
    // measures ONCE per match and repeats them per row (FINAL
    // semantics). Overlapping matches (SKIP TO NEXT ROW) re-emit
    // shared rows once per match; the oracle expands each match's
    // row range from the same gaps-and-islands replay.
    "yql_sql_match_all_rows" -> ((s, d) => {
      t(s, d, "events").createOrReplaceTempView("events")
      graft.functions.YqlSql.sql(s,
        """SELECT event_id, user_id, event_type, s_id,
          |       CAST(n_up AS BIGINT) AS n_up
          |FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY event_id
          |  MEASURES FIRST(S.event_id) AS s_id, COUNT(U.*) AS n_up
          |  ALL ROWS PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (S U+)
          |  DEFINE S AS event_type = 'click',
          |         U AS value > PREV(value)
          |) AS m""".stripMargin)
    }),

    // Table-ref hints (SQLv1.g.in:956-960 table_hints): `WITH SCHEMA
    // (cols)` — the reference's read-time schema declaration for weak
    // tables — lowers to its contract (project to EXACTLY the declared
    // columns, each CAST to the declared YT type); non-SCHEMA hints
    // (XLOCK etc.) validate and drop. Pruning/pushdown survive: the
    // derived table is a plain projection Catalyst collapses into the
    // scan.
    "yql_sql_with_schema" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n,
          |       CAST(SUM(o_custkey) AS BIGINT) AS sum_ck
          |FROM orders WITH (XLOCK, SCHEMA (o_custkey Int32,
          |                                 o_orderpriority Utf8))
          |GROUP BY o_orderpriority""".stripMargin)
    }),

    // Index READS — `FROM t VIEW idx` (SQLv1.g.in:952 table_ref VIEW
    // suffix): the read goes through the index table — index-only
    // scan, sorted by the indexed column so the range predicate prunes
    // row groups; the oracle replays the same projection of the chain.
    "yql_sql_view" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlDml.dropTableDeep(s, "dml_view")
      graft.functions.YqlSql.sql(s,
        """$seed = (SELECT DISTINCT o_custkey % 50 AS k,
          |         (o_custkey % 50) * 9 AS v FROM orders);
          |CREATE TABLE dml_view (k Int64, v Int64, PRIMARY KEY (k));
          |INSERT INTO dml_view SELECT k, v FROM $seed;
          |ALTER TABLE dml_view ADD INDEX by_v GLOBAL ON (v);
          |UPDATE dml_view SET v = v + 1 WHERE k % 5 = 0;
          |SELECT v, k FROM dml_view VIEW by_v WHERE v >= 100""".stripMargin)
    }),

    // RETURNING clauses (SQLv1.g.in:577 returning_columns_list on
    // into_table/delete/update_stmt): the script's LAST statement is an
    // UPDATE ... RETURNING * — the affected rows' NEW image is the
    // script result, snapshotted before the table swap. A DELETE
    // RETURNING runs mid-script too (its result is superseded, but the
    // statement still executes its removal).
    "yql_sql_returning" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlDml.dropTableDeep(s, "dml_ret")
      graft.functions.YqlSql.sql(s,
        """$seed = (SELECT DISTINCT o_custkey % 60 AS k,
          |         (o_custkey % 60) * 3 AS v FROM orders);
          |CREATE TABLE dml_ret (k Int64, v Int64, PRIMARY KEY (k));
          |UPSERT INTO dml_ret SELECT k, v FROM $seed;
          |DELETE FROM dml_ret WHERE k % 4 = 1 RETURNING k;
          |UPDATE dml_ret SET v = v + 7 WHERE k % 3 = 0 RETURNING *""".stripMargin)
    }),

    // IMPORT/EXPORT library modules (SQLv1.g.in import_stmt/
    // export_stmt): a library of lambda bindings — one private helper
    // ($words, NOT exported), two public symbols — imported into the
    // main script and applied. Module text registers via the
    // `libraries` map; the bindings inline at lowering time, so the
    // final plan is ordinary Catalyst projection (no call overhead).
    "yql_sql_import" -> ((s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents")
      graft.functions.YqlSql.sql(s,
        """IMPORT textlib SYMBOLS $n_words, $cap;
          |SELECT doc_id, $n_words(text) AS n_words, $cap(lang) AS lang_u
          |FROM documents WHERE doc_id < 200""".stripMargin,
        libraries = Map("textlib" ->
          """$words = ($s) -> (String::SplitToList($s, ' '));
            |$n_words = ($s) -> (CAST(ListLength($words($s)) AS BIGINT));
            |$cap = ($s) -> (String::ToUpper($s));
            |EXPORT $n_words, $cap;""".stripMargin))
    }),

    // Script DML + DDL in one YQL string (SQLv1.g.in:579 into_table_stmt
    // UPSERT|REPLACE, :968-969 delete/update_stmt, :647 create_table_stmt):
    // CREATE a KEYED table (PRIMARY KEY → the graft.key_columns marker),
    // seed it with INSERT, UPSERT an overlapping aggregate (listed columns
    // update, unlisted KEEP, new keys appear), REPLACE a key range
    // (unlisted columns null — full-row image), DELETE by predicate,
    // UPDATE a partial column set, then SELECT the final image. Each verb
    // is one distributed key-partitioned merge pass (YqlDml) staged and
    // swapped — DynTable's latest-wins semantics, no driver loops.
    "yql_sql_upsert" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlDml.dropTableDeep(s, "dml_accounts")
      graft.functions.YqlSql.sql(s,
        """$seed = (SELECT o_custkey AS acct,
          |  CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS bal,
          |  CAST(COUNT(o_orderkey) AS BIGINT) AS n
          |  FROM orders WHERE o_custkey < 400 GROUP BY o_custkey);
          |CREATE TABLE dml_accounts (acct Int64, bal Int64, n Int64,
          |  PRIMARY KEY (acct));
          |INSERT INTO dml_accounts SELECT acct, bal, n FROM $seed;
          |UPSERT INTO dml_accounts (acct, bal)
          |  SELECT o_custkey AS acct,
          |         CAST(COUNT(o_orderkey) * 1000 AS BIGINT) AS bal
          |  FROM orders WHERE o_custkey >= 300 AND o_custkey < 500
          |  GROUP BY o_custkey;
          |REPLACE INTO dml_accounts (acct, n)
          |  SELECT acct, CAST(-1 AS BIGINT) AS n FROM $seed WHERE acct < 50;
          |DELETE FROM dml_accounts WHERE acct % 10 = 7;
          |UPDATE dml_accounts SET bal = bal + 500, n = n * 2
          |  WHERE acct % 2 = 0;
          |SELECT acct, bal, n FROM dml_accounts""".stripMargin)
    }),

    // AGGREGATE_LIST, ListSort/ListMax/ListLength) — registered as
    // native aliases, so Catalyst resolves them like the builtins they
    // denote, higher-order lambdas included.
    "yql_sql_builtin_alias" -> ((s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents")
      graft.functions.YqlSql.sql(s,
        """SELECT source,
             array_join(ListSort(AGGREGATE_LIST_DISTINCT(lang)), ',') AS langs,
             ListMax(AGGREGATE_LIST(n_chars)) AS max_chars,
             CAST(ListLength(AGGREGATE_LIST(doc_id)) AS BIGINT) AS n_docs,
             ListMax(ListMap(AGGREGATE_LIST(n_chars), x -> x * 2)) AS max2
           FROM documents WHERE doc_id < 300 GROUP BY source""")
    }),

    // CurrentUtcDate / CurrentUtcDatetime / CurrentUtcTimestamp
    // (builtins/basic.md — the documented NOW() alternatives; UTC
    // session). Time is nondeterministic, so the oracle pins an
    // exact-integer VERDICT: plausibility window, date/datetime
    // agreement, Datetime's SECONDS precision, timestamp ordering.
    "yql_fn_current" -> ((s, d) => {
      t(s, d, "region").createOrReplaceTempView("region")
      graft.functions.YqlSql.sql(s,
        """SELECT
          |  CAST(CASE WHEN CurrentUtcDate()
          |    BETWEEN DATE '2020-01-01' AND DATE '2100-01-01'
          |    THEN 1 ELSE 0 END AS BIGINT) AS date_ok,
          |  CAST(CASE WHEN abs(datediff(CAST(CurrentUtcDatetime() AS DATE),
          |    CurrentUtcDate())) <= 1 THEN 1 ELSE 0 END AS BIGINT) AS dt_ok,
          |  CAST(CASE WHEN date_format(CurrentUtcDatetime(), 'SSS') = '000'
          |    THEN 1 ELSE 0 END AS BIGINT) AS seconds_ok,
          |  CAST(CASE WHEN CurrentUtcTimestamp() >= CurrentUtcDatetime()
          |    THEN 1 ELSE 0 END AS BIGINT) AS order_ok,
          |  CAST(COUNT(*) AS BIGINT) AS n
          |FROM region""".stripMargin)
    }),

    // Compress module (compress_base/compress_udf.cpp): gzip + zlib
    // round trips. The oracle checks decompress(compress(x)) == x —
    // compressed bytes themselves are codec-version-specific, so only
    // the round trip is contract.
    "yql_fn_compress" -> ((s, d) => {
      import graft.functions.Compress
      val bytes = encode(col("text"), "UTF-8")
      // gzip+zlib round trips of kB texts per row — spread (guide §2)
      tSpread(s, d, "documents").select(
        col("doc_id"),
        length(col("text")).as("orig_len"),
        decode(Compress.gunzip(Compress.gzip(bytes)), "UTF-8").as("gzip_rt"),
        decode(Compress.unzlib(Compress.zlib(bytes)), "UTF-8").as("zlib_rt"),
        (length(Compress.gzip(bytes)) > 0).as("gzip_nonempty"))
    }),

    // percent_rank / cume_dist / ntile — the rest of the ranking family
    // (yql_opt_window.cpp dispatch :1761-1773). Unique order key keeps
    // every value engine-independent.
    // pct/cume emit in MICRO-UNITS via floor(x*1e6+0.5): the raw
    // doubles are bit-identical across engines (exact integer rank
    // divisions), but ROUND-to-6-decimals goes through each engine's
    // decimal-string tie handling — the round-10 sf100 compare found
    // 93 of 15M cume values flipping one last digit. Identical IEEE
    // arithmetic on identical doubles is deterministic by definition.
    "yql_window_pct" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        floor(percent_rank().over(w) * 1000000d + 0.5d).cast("long")
          .as("pct_rank"),
        floor(cume_dist().over(w) * 1000000d + 0.5d).cast("long")
          .as("cume"),
        ntile(10).over(w).cast("long").as("decile"))
    }),

    // sum_if / avg_if / count_if / some (sql/v1/builtin.cpp:3200-3315).
    // SOME is "any value" — materialized here as min, a legal (and
    // deterministic) choice of witness.
    "yql_agg_if_variants" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(when(col("l_discount") > 0.05, col("l_extendedprice"))), 2)
            .as("sum_if_disc"),
          round(avg(when(col("l_quantity") > 25, col("l_extendedprice"))), 2)
            .as("avg_if_qty"),
          count_if(col("l_tax") > 0.04).as("cnt_if_tax"),
          min(col("l_linestatus")).as("some_status"))),

    // Struct builtins (builtins/struct.md: member access, TryMember,
    // CombineMembers, RenameMembers, StructMembers) over StructType.
    "yql_fn_struct" -> ((s, d) => {
      val a = struct(col("p_brand").as("brand"), col("p_size").as("size"))
      val b = struct(col("p_type").as("ptype"))
      val combined = struct(
        a.getField("brand").as("brand"),
        a.getField("size").as("size"),
        b.getField("ptype").as("ptype"))
      t(s, d, "part").select(
        col("p_partkey"),
        a.getField("brand").as("member_brand"),
        to_json(combined).as("combined_json"),
        array_join(array(lit("brand"), lit("size")), ",").as("members_a"),
        to_json(struct(a.getField("brand").as("renamed_brand")))
          .as("renamed_json"))
    }),

    // mode / topfreq (YQL mode/topfreq aggregates) — deterministic
    // most-frequent value per group, ties broken toward the larger
    // value so the oracle can replicate exactly.
    "yql_agg_topfreq" -> ((s, d) => {
      val counts = t(s, d, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("o_orderstatus"))
        .agg(
          max_by(col("o_orderpriority"),
            struct(col("cnt"), col("o_orderpriority"))).as("mode_priority"),
          max(col("cnt")).as("mode_cnt"))
    }),

    // median / exact percentile (YQL percentile/median) — exact
    // interpolated quantiles, matching DuckDB quantile_cont.
    "yql_agg_percentile" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(median(col("o_totalprice")), 4).as("med_price"),
          round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90_price"))),

    // Conditional + boolean + bitwise aggregates
    // (count_if/sum_if/bool_and/bool_or/bit_*).
    "yql_agg_cond_bool_bit" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          count_if(col("l_discount") > 0.05).as("cnt_disc"),
          round(sum(when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(lit(0.0))), 2).as("sum_if_r"),
          bool_and(col("l_quantity") > 0).as("all_pos"),
          bool_or(col("l_discount") > 0.09).as("any_big_disc"),
          bit_and(col("l_orderkey")).as("band"),
          bit_or(col("l_orderkey")).as("bor"),
          bit_xor(col("l_orderkey")).as("bxor"))),

    // aggregate_list / aggregate_list_distinct → sorted arrays so the
    // result is deterministic across engines; serialized to CSV strings
    // so the oracle checker can hash-compare them.
    "yql_agg_list" -> ((s, d) =>
      t(s, d, "nation")
        .groupBy(col("n_regionkey").cast("long").as("region"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"),
          concat_ws(",", sort_array(collect_set(substring(col("n_name"), 1, 7))))
            .as("prefixes"))),

    // DISTINCT aggregates + multi-distinct in one pass.
    "yql_agg_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_partkey")).as("d_parts"),
          count_distinct(col("l_suppkey")).as("d_supps"),
          round(sum_distinct(col("l_quantity")), 2).as("sd_qty"))),

    // IGNORE NULLS navigation (builtin.cpp:3312 first_value/last_value/
    // nth_value [ignore nulls] + the lag/lead skip-null forms). The
    // nullable column is derived deterministically so the oracle can
    // replay the exact null mask.
    "yql_window_ignore_nulls" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .filter(col("o_custkey") < 300)
        .withColumn("big_price",
          when(col("o_totalprice") > 150000, col("o_totalprice")))
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("big_price"), 1, null, ignoreNulls = true).over(w).as("prev_big"),
          lead(col("big_price"), 1, null, ignoreNulls = true).over(w).as("next_big"),
          first(col("big_price"), ignoreNulls = true).over(wAll).as("first_big"),
          last(col("big_price"), ignoreNulls = true).over(wAll).as("last_big"),
          nth_value(col("big_price"), 2, ignoreNulls = true).over(wAll).as("second_big"))
    }),

    // some (builtin.cpp:3236) — an arbitrary group member. Oracle-checkable
    // because the sampled column is functionally dependent on the group key
    // (every lineitem of an order shares the order's status), so "any value"
    // and the oracle's min coincide.
    "yql_agg_some" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      // spread measured 0.71x here (r13): the join already exchanges
      // the probe side, so a pre-join round-robin pass is pure cost
      val l = t(s, d, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(any_value(col("o_orderstatus")).as("some_status"),
          count(lit(1)).as("n_lines"))
    }),

    // The same SOME-shaped aggregate over a lineitem stored
    // bucketed+sorted by its key — the layout the reference's
    // eager-aggregation rewrite keys off (sorted-table schemas,
    // yql_yt_join_impl.cpp:1030-1150). EagerAggUniqueJoinRule's auto
    // mode fires here: the pre-aggregate inherits the scan's bucket
    // partitioning (no exchange), the join probes |groups| rows
    // instead of |lineitem|, and no aggregate remains above the join.
    // On the UNbucketed yql_agg_some the rule deliberately stays off —
    // the round-11 sf100 A/B measured the unconditional rewrite 2.8×
    // SLOWER there (extra 600M-row hash pass at ~4 rows/key fan-in).
    "yql_agg_some_sorted" -> ((s, d) => {
      val l = bucketedLineitem(s, d)
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(any_value(col("o_orderstatus")).as("some_status"),
          count(lit(1)).as("n_lines"))
    }),

    // SessionWindow inside OVER (yql_opt_window.cpp:3364-3377
    // SessionWindowTraits + the session_start aggregate): sessionize by
    // a 6h gap, then window functions PARTITION BY the session —
    // per-session positions and session_start per row. The classic
    // gaps-and-islands lowering: lag → boundary flag → running sum =
    // session id; all one shuffle on user_id reused by every window.
    "yql_window_over_session" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = 6L * 3600L * 1000000L
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("new_sess",
          when(unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w) > gapUs, 1)
            .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1).otherwise(0)))
        .withColumn("sess_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val ws = Window.partitionBy(col("user_id"), col("sess_id"))
      ev.select(col("user_id"), col("event_id"), col("sess_id"),
        row_number().over(ws.orderBy(col("ts"), col("event_id"))).as("pos_in_sess"),
        min(col("ts")).over(ws).as("session_start"))
    }),

    // Pire/Hyperscan regex modules: Match / Grep / MultiGrep / Capture /
    // Replace (pire_udf.cpp:72-75,189,243; hyperscan_udf.cpp:81-104).
    "yql_fn_pire" -> ((s, d) => {
      import graft.functions.YqlModules.Pire
      t(s, d, "part")
        .select(col("p_partkey"),
          Pire.grep(col("p_name"), "green").as("grep_green"),
          Pire.matches(col("p_type"), "(ECONOMY|PROMO)").as("match_type"),
          Pire.capture(col("p_name"), "^([a-z]+)").as("cap_first"),
          Pire.replace(col("p_brand"), "[0-9]+", "#").as("repl_brand"),
          // mg serialized to a string: the driver's pandas compare cannot
          // lexsort array cells (same class as ql_agg_top_by in round 2).
          array_join(
            transform(Pire.multiGrep(col("p_name"), Seq("red", "green", "blue")),
              b => b.cast("string")), ",").as("mg"))
    }),

    // Stat::TDigest mergeable quantile sketch (stat_udf.h over
    // tdigest.cpp). Approximate → verified through an in-plan verdict:
    // the sketch's percentile estimates are ranked EXACTLY against the
    // raw data in the same plan, and the oracle pins the rank error
    // inside the t-digest bound (delta=0.01 → well under 0.02 here).
    "yql_agg_tdigest" -> ((s, d) => {
      import graft.functions.YqlModules.Stat
      val li = t(s, d, "lineitem")
      val est = li.groupBy(col("l_returnflag"))
        .agg(Stat.tdigest(col("l_extendedprice")).as("sketch"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          Stat.getPercentile(col("sketch"), 0.5).as("p50"),
          Stat.getPercentile(col("sketch"), 0.95).as("p95"))
      li.join(est.hint("broadcast"), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(first(col("n")).as("n"),
          avg(when(col("l_extendedprice") <= col("p50"), 1.0).otherwise(0.0)).as("r50"),
          avg(when(col("l_extendedprice") <= col("p95"), 1.0).otherwise(0.0)).as("r95"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("r50") - 0.5) <= 0.02).as("p50_ok"),
          (abs(col("r95") - 0.95) <= 0.02).as("p95_ok"))
    }),

    // The sketch COLUMN round trip — the point of the module: per-shard
    // sketches persist as bytes (here: 8 hash shards per group, the
    // "one sketch per day/partition" pattern), then ANY later rollup is
    // an aggregation over kilobyte sketches, never a re-scan of raw
    // data. Verdict: the merged sketch's percentiles rank exactly
    // against raw data inside the same tolerance.
    "yql_agg_tdigest_merge" -> ((s, d) => {
      import graft.functions.YqlModules.Stat
      val li = t(s, d, "lineitem")
      val shardSketches = li
        .groupBy(col("l_returnflag"), (col("l_orderkey") % 8).as("shard"))
        .agg(Stat.tdigest(col("l_extendedprice")).as("sketch"))
      val merged = shardSketches.groupBy(col("l_returnflag"))
        .agg(Stat.tdigestMerge(col("sketch")).as("sketch"),
          count(lit(1)).as("n_shards"))
        .select(col("l_returnflag"), col("n_shards"),
          Stat.getPercentile(col("sketch"), 0.5).as("p50"),
          Stat.getPercentile(col("sketch"), 0.99).as("p99"))
      li.join(merged.hint("broadcast"), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(first(col("n_shards")).as("n_shards"),
          avg(when(col("l_extendedprice") <= col("p50"), 1.0).otherwise(0.0)).as("r50"),
          avg(when(col("l_extendedprice") <= col("p99"), 1.0).otherwise(0.0)).as("r99"))
        .select(col("l_returnflag"), col("n_shards").cast("long").as("n_shards"),
          (abs(col("r50") - 0.5) <= 0.02).as("p50_ok"),
          (abs(col("r99") - 0.99) <= 0.02).as("p99_ok"))
    })
  )

  /** Bench-time operator overrides (same contract as Llm.benchOnly):
    * the 6-case DML fuzz belongs to the correctness sweep — its cost
    * is ~30 per-statement catalog round-trips, not data throughput.
    * The bench times a 2-case run: the same verbs, the same staged
    * key-merge passes, a representative operator number. */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "yql_fuzz_dml" -> ((s, d) =>
      graft.ql.FuzzDomains.dml(2, 73L, prefix = "bench_dml").build(s, d)),
    // Codec throughput over the FULL orders table (the correctness
    // query key-filters to a constant 2000 rows — right for the
    // oracle, wrong for a scale soak): gzip+zstd+snappy roundtrips
    // per row, reduced to a count so timing is the codecs, not I/O.
    "yql_fn_compress_module" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      graft.functions.YqlSql.sql(s,
        """SELECT COUNT(*) AS n FROM orders
          |WHERE CAST(Decompress::Gzip(Compress::Gzip(o_orderpriority, 1))
          |        AS STRING) = o_orderpriority
          |  AND CAST(Decompress::Zstd(Compress::Zstd(o_orderpriority, 3))
          |        AS STRING) = o_orderpriority
          |  AND CAST(Decompress::Snappy(Compress::Snappy(o_orderpriority))
          |        AS STRING) = o_orderpriority""".stripMargin)
    }),
    // Sketch build + merge + percentile read alone — the correctness
    // query adds the exact-rank verdict join (a second full scan),
    // which belongs to the gate, not the throughput number.
    "yql_fn_stat_module" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      graft.functions.YqlSql.sql(s,
        """SELECT l_returnflag,
          |  Stat::TDigest_GetPercentile(
          |    Stat::TDigest_Merge(sketch), 0.5) AS p50
          |FROM (
          |  SELECT l_returnflag,
          |    Stat::TDigest(l_extendedprice) AS sketch
          |  FROM lineitem GROUP BY l_returnflag, l_orderkey % 16)
          |GROUP BY l_returnflag""".stripMargin)
    }))

  val oracles: Map[String, String] = Map(
    // textual ^p$ anchoring: '^almond|lace$' is (^almond)|(lace$);
    // capture = whole first match; replace = literal splice
    "yql_fn_hyperscan" ->
      """SELECT p_partkey,
           regexp_matches(p_name, '^almond|lace$') AS m_alt,
           regexp_matches(p_type, '(?i)^STANDARD.*$') AS m_ci,
           regexp_matches(p_name, 'o[nl]') AS g,
           CASE WHEN regexp_matches(p_name, '[a-z]+ss[a-z]*')
                THEN regexp_extract(p_name, '[a-z]+ss[a-z]*', 0) END AS cap,
           regexp_replace(p_brand, '[aeiou]+', '$.', 'g') AS repl
         FROM part""",
    "yql_pg_select" ->
      """WITH big AS (
           SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
                  sum(o_totalprice) AS sp
           FROM orders
           WHERE o_orderpriority LIKE '1-URG%'
              OR regexp_matches(o_orderpriority, '(?i)^2-high')
           GROUP BY o_custkey)
         SELECT c.c_custkey, c.c_name || chr(9) || c.c_mktsegment AS tag,
                big.n,
                CAST(CAST(big.n * 3 AS DECIMAL(12,2)) AS DOUBLE) AS n3,
                CAST(ROUND(CAST(big.sp AS DECIMAL(18,4)), 2) AS DOUBLE) AS sp,
                CAST(strpos(c.c_name, 'mer#0000') AS BIGINT) AS at_sub
         FROM customer c JOIN big ON c.c_custkey = big.o_custkey
         WHERE c.c_name NOT LIKE '%00001%'
           AND regexp_matches(c.c_mktsegment, '^(BUIL|AUTO)')
         ORDER BY big.n DESC, c.c_custkey
         LIMIT 40 OFFSET 5""",
    "yql_window_rank" ->
      """SELECT o_orderkey, o_orderpriority, rn, rnk, drnk, quartile FROM (
           SELECT o_orderkey, o_orderpriority,
             CAST(row_number() OVER w AS INT) AS rn,
             CAST(rank() OVER w AS INT) AS rnk,
             CAST(dense_rank() OVER w AS INT) AS drnk,
             CAST(ntile(4) OVER w AS INT) AS quartile
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey)
         ) WHERE rn <= 10""",
    "yql_window_lag_lead" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey,
             lag(o_totalprice, 1) OVER w AS prev_price,
             lead(o_totalprice, 1) OVER w AS next_price
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ) WHERE o_custkey < 200""",
    "yql_window_frame_rows" ->
      """SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           ROUND(SUM(l_quantity) OVER (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
           ROUND(AVG(l_quantity) OVER (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3_qty
         FROM lineitem WHERE l_suppkey < 50""",
    "yql_window_frame_groups" ->
      """WITH r AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
             dense_rank() OVER (PARTITION BY o_orderpriority
               ORDER BY o_orderdate) AS dr
           FROM orders)
         SELECT o_orderkey, o_orderpriority,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_orderpriority
             ORDER BY dr RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS grp_sum
         FROM r""",
    "yql_window_frame_range" ->
"""SELECT o_orderkey, o_orderpriority,
           COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cheaper_or_eq
         FROM orders WHERE o_custkey < 100""",
    "yql_window_first_last" ->
      """SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS last_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
         FROM orders
         WHERE o_custkey < 200
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "yql_rollup" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS region, n_name,
           COUNT(*) AS cnt, ROUND(SUM(c_acctbal), 2) AS bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP(1, 2)""",
    "yql_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "yql_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
         FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) FROM orders
               GROUP BY 1, 2)
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    "yql_union_all" ->
      """SELECT COUNT(*) AS cnt, COUNT(DISTINCT o_orderkey) AS dcnt FROM (
           SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
    "yql_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 300000
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
    "yql_except" ->
      """SELECT c_custkey FROM customer
         EXCEPT SELECT o_custkey AS c_custkey FROM orders
                WHERE o_orderpriority = '1-URGENT'""",
    "yql_join_right" ->
      """SELECT c_mktsegment, COUNT(o_orderkey) AS orders, COUNT(*) AS rows
         FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "yql_join_full" ->
      """SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           c_custkey IS NOT NULL AS has_customer,
           o_custkey IS NOT NULL AS has_hi_order
         FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) c
         FULL JOIN (SELECT o_custkey, COUNT(*) AS hi_orders FROM orders
                    WHERE o_totalprice > 450000 GROUP BY 1) o
           ON c.c_custkey = o.o_custkey""",
    "yql_join_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",
    "yql_join_anti" ->
      """SELECT c_mktsegment, COUNT(*) AS cnt FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         GROUP BY c_mktsegment""",
    "yql_join_exclusion" ->
      """SELECT COALESCE(a.o_custkey, b.c_custkey) AS custkey,
           a.o_custkey IS NOT NULL AS from_orders
         FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 350000) a
         FULL JOIN (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 8000) b
           ON a.o_custkey = b.c_custkey
         WHERE a.o_custkey IS NULL OR b.c_custkey IS NULL""",
    "yql_join_cross" ->
      """SELECT r_name, COUNT(*) AS cnt, CAST(SUM(n_nationkey) AS BIGINT) AS sum_nk
         FROM region CROSS JOIN nation GROUP BY r_name""",
    "yql_agg_stats" ->
      """SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(stddev_pop(l_quantity), 4) AS sdp_qty,
           ROUND(var_samp(l_extendedprice), 2) AS var_price,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qd
         FROM lineitem GROUP BY l_returnflag""",
    "yql_q3_shipping" ->
      """SELECT o_orderkey, o_orderdate,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "yql_q5_region" ->
      """SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS cnt
         FROM region
         JOIN nation ON r_regionkey = n_regionkey
         JOIN customer ON n_nationkey = c_nationkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",
    "yql_fn_modules" ->
      """SELECT p_partkey, md5(p_name) AS name_md5,
           '/' || replace(p_brand, '#', '-') || '/item' AS path,
           CAST(p_size AS VARCHAR) AS size_param,
           upper(p_brand) AS brand_up,
           ROUND(pow(CAST(p_size AS DOUBLE), 2.0), 1) AS size_sq,
           CAST(length(p_name) AS BIGINT) AS name_len,
           TRUE AS is_priv
         FROM part""",
    "yql_window_pct" ->
      """SELECT o_orderkey, o_orderpriority,
           CAST(floor(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT)
             AS pct_rank,
           CAST(floor(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT)
             AS cume,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
           ORDER BY o_totalprice ASC, o_orderkey ASC)""",
    "yql_agg_if_variants" ->
      """SELECT l_returnflag,
           ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
             AS sum_if_disc,
           ROUND(AVG(l_extendedprice) FILTER (WHERE l_quantity > 25), 2)
             AS avg_if_qty,
           CAST(COUNT(*) FILTER (WHERE l_tax > 0.04) AS BIGINT) AS cnt_if_tax,
           MIN(l_linestatus) AS some_status
         FROM lineitem GROUP BY l_returnflag""",
    "yql_fn_struct" ->
      """SELECT p_partkey, p_brand AS member_brand,
           to_json(struct_pack(brand := p_brand, size := p_size,
             ptype := p_type)) AS combined_json,
           'brand,size' AS members_a,
           to_json(struct_pack(renamed_brand := p_brand)) AS renamed_json
         FROM part""",
    "yql_fn_list_hof" ->
      """SELECT p_partkey,
           array_to_string(list_transform(string_split(p_name, ' '),
             x -> upper(x)), ',') AS mapped,
           coalesce(array_to_string(list_filter(string_split(p_name, ' '),
             x -> length(x) > 4), ','), '') AS long_words,
           array_to_string(
             list_sort(list_distinct(string_split(p_name, ' ')))[1:3], ',')
             AS first3,
           array_to_string(list_transform(
             range(1, len(string_split(p_name, ' ')) + 1),
             i -> CAST(i - 1 AS VARCHAR) || ':' ||
                  string_split(p_name, ' ')[i]), ',') AS enumerated,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
           string_split(p_name, ' ')[1] AS head_word,
           string_split(p_name, ' ')[-1] AS last_word,
           list_contains(string_split(p_name, ' '), 'red') AS has_red,
           CAST(p_size * (p_size + 1) / 2 AS BIGINT) AS size_tri,
           len(list_filter(string_split(p_name, ' '),
             x -> x LIKE 's%')) > 0 AS any_s
         FROM part""",
    "yql_fn_dict" ->
      """SELECT p_partkey, 'brand,name,type' AS ks, p_brand AS brand_v,
           CAST(NULL AS VARCHAR) AS missing_v, TRUE AS has_name,
           CAST(3 AS BIGINT) AS n_keys
         FROM part""",
    "yql_fn_set" ->
      """WITH w AS (SELECT p_partkey,
             list_distinct(string_split(p_name, ' ')) AS a,
             list_distinct(string_split(lower(p_type), ' ')) AS b
           FROM part)
         SELECT p_partkey,
           coalesce(array_to_string(list_sort(list_filter(a,
             x -> list_contains(b, x))), ','), '') AS inter,
           array_to_string(list_sort(list_distinct(list_concat(a, b))), ',')
             AS uni,
           coalesce(array_to_string(list_sort(list_filter(a,
             x -> NOT list_contains(b, x))), ','), '') AS diff,
           coalesce(array_to_string(list_sort(list_concat(
             list_filter(a, x -> NOT list_contains(b, x)),
             list_filter(b, x -> NOT list_contains(a, x)))), ','), '')
             AS symdiff,
           len(list_filter(b, x -> NOT list_contains(a, x))) = 0
             AS a_includes_b,
           len(list_filter(a, x -> list_contains(b, x))) = 0 AS disjoint
         FROM w""",
    "yql_fn_datetime2" ->
      """SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(day(o_orderdate) AS BIGINT) AS dom,
           CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP)
             AS quarter_start,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           o_orderdate + INTERVAL 3 MONTH AS plus3m,
           o_orderdate + INTERVAL 30 DAY AS plus30d,
           strftime(o_orderdate, '%Y-%m-%d') AS fmt,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
             AS BIGINT) AS days_since_95
         FROM orders""",
    "yql_sql_module_call" ->
      """SELECT p_partkey,
           md5(p_name) AS md5_name,
           upper(p_type) AS type_u,
           'h' || p_partkey || '.example.com' AS host,
           round(sqrt(p_retailprice), 6) AS sqrt_price,
           replace(p_brand, '#', '-') AS brand_fix
         FROM part""",
    "yql_sql_script" ->
      """SELECT doc_id, lang, n_words, w FROM (
           SELECT doc_id, lang,
                  len(string_split(text, ' ')) AS n_words,
                  unnest(string_split(text, ' ')) AS w
           FROM documents
           WHERE n_chars >= 50 AND doc_id < 300
         ) WHERE length(w) >= 7""",
    "yql_sql_reduce" ->
      """SELECT source, lang,
           CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           array_to_string(list(CAST(doc_id AS VARCHAR)
             ORDER BY n_chars DESC, doc_id ASC), ',') AS id_seq
         FROM (SELECT source, lang, n_chars, doc_id FROM documents
               WHERE doc_id < 400)
         GROUP BY source, lang
         HAVING COUNT(doc_id) >= 2""",
    "yql_table_range" ->
      """SELECT CAST(COUNT(o_orderkey) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total,
           min(o_orderdate) AS lo_date, max(o_orderdate) AS hi_date
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1996-02' AND '1996-03'""",
    "yql_table_name" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS t,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1996-01' AND '1996-03'
         GROUP BY 1""",
    "yql_table_concat" ->
      """SELECT
           (SELECT CAST(COUNT(o_orderkey) AS BIGINT) FROM orders
            WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-01', '1996-04')) AS n_concat,
           (SELECT CAST(COUNT(o_orderkey) AS BIGINT) FROM orders
            WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-01', '1996-04')) AS n_each""",
    "yql_sql_index" ->
      """WITH seed AS (SELECT DISTINCT o_custkey % 40 AS k,
             (o_custkey % 40) * 3 AS v FROM orders),
         ups AS (SELECT DISTINCT o_custkey % 60 AS k, (o_custkey % 60) * 7 AS v
           FROM orders WHERE o_custkey % 60 >= 30),
         m1 AS (SELECT coalesce(u.k, s.k) AS k,
             CASE WHEN u.k IS NOT NULL THEN u.v ELSE s.v END AS v
           FROM seed s FULL OUTER JOIN ups u ON s.k = u.k),
         fin AS (SELECT k, v FROM m1 WHERE k % 4 <> 2)
         SELECT v, k FROM fin""",
    "yql_sql_astable" ->
      """WITH w AS (SELECT * FROM (VALUES (1, 'alpha'), (7, 'beta'),
           (13, 'gamma')) AS t(o_custkey, label))
         SELECT w.label, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(o.o_totalprice) AS BIGINT)) AS BIGINT) AS total
         FROM w JOIN orders o ON o.o_custkey = w.o_custkey
         GROUP BY w.label""",
    "yql_sql_union_byname" ->
      """SELECT name, pop, rk, src FROM (
           SELECT n_name AS name, NULL AS pop,
                  CAST(n_regionkey AS BIGINT) AS rk, 'nation' AS src
           FROM nation
           UNION ALL
           SELECT 'R_' || r_name, CAST(r_regionkey * 10 AS BIGINT),
                  CAST(r_regionkey AS BIGINT), NULL
           FROM region)
         ORDER BY name LIMIT 40""",
    "yql_sql_union_positional" ->
      """SELECT k, v FROM (
           SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS v FROM region
           UNION ALL
           SELECT CAST(r_regionkey + 100 AS BIGINT), upper(r_name)
           FROM region)
         ORDER BY k""",
    "yql_sql_hints" ->
      """SELECT pri, CAST(SUM(n1) AS BIGINT) AS n,
              CAST(MAX(rk) AS BIGINT) AS max_rk
         FROM (SELECT o_orderpriority AS pri, 1 AS n1,
                 rank() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_orderkey) AS rk
               FROM orders WHERE o_custkey % 10 IN (1, 2, 3))
         GROUP BY pri""",
    "yql_fn_url_breadth" ->
      """WITH u AS (SELECT o_orderkey, o_orderstatus,
           'https://www.shop' || CAST(o_custkey % 50 AS VARCHAR)
             || '.example.com:8080/item/' || CAST(o_orderkey AS VARCHAR)
             || '?q=' || o_orderstatus || '&p=2#frag' AS url,
           'www.shop' || CAST(o_custkey % 50 AS VARCHAR)
             || '.example.com' AS host
         FROM orders WHERE o_orderkey < 2000)
         SELECT o_orderkey,
           'com' AS tld,
           'example.com' AS dom2,
           CAST(4 AS BIGINT) AS dl,
           regexp_replace(host, '^www\.', '') AS cw,
           regexp_replace(url, '^[a-z]+://', '') AS cs,
           'frag' AS fr,
           CAST(8080 AS BIGINT) AS port,
           'https://' || host AS sh,
           regexp_replace(url, '^[a-z]+://[^/?#]*', '') AS tail,
           o_orderstatus AS qv,
           md5(o_orderstatus) AS mh,
           TRUE AS v4, FALSE AS v4bad, TRUE AS v6,
           '10.11.12.0' AS sub, '::ffff:1.2.3.4' AS v6m
         FROM u""",
    "yql_fn_datetime_breadth" ->
      """SELECT event_id,
           CAST(date_part('second', ts) AS BIGINT) AS sec,
           CAST(date_part('doy', ts) AS BIGINT) AS doy,
           CAST(date_part('week', ts) AS BIGINT) AS wk,
           strftime(ts, '%B') AS mn,
           strftime(ts, '%A') AS dn,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS tdays,
           CAST(floor(epoch(ts) / 60) AS BIGINT) AS tmin,
           ts AS rt,
           CAST(date_trunc('quarter', ts) AS DATE) AS soq,
           last_day(ts) AS eom,
           CAST(ts + INTERVAL 6 MONTH AS DATE) AS sq,
           ts + INTERVAL 3 HOUR AS plus3h
         FROM events WHERE event_id < 2000""",
    "yql_fn_math_tail" ->
      """SELECT o_orderkey,
           ROUND(gamma((o_orderkey % 380) / 100.0 + 0.25), 6) AS g,
           ROUND(lgamma((o_orderkey % 380) / 100.0 + 0.25), 6) AS lg,
           ROUND(CAST(o_orderkey % 1997 AS DOUBLE) / 1000.0 - 0.998, 9)
             AS erf_rt,
           ROUND(CAST(o_orderkey % 300 AS DOUBLE) / 100.0 - 1.5, 9)
             AS einv_rt,
           CAST(0.0 AS DOUBLE) AS ecinv_d,
           ROUND(CAST(0.8427007929497149 AS DOUBLE), 9) AS erf1,
           ROUND(CAST(-0.5204998778130465 AS DOUBLE), 9) AS erfm05,
           ROUND(pi(), 9) AS gpi,
           ROUND(o_totalprice - 7.3 * round(o_totalprice / 7.3), 6) AS rem73
         FROM orders WHERE o_orderkey < 2000""",
    "yql_fn_string_tail" ->
      """SELECT o_orderkey,
           o_orderpriority || chr(92) || 't' || chr(92) || '"'
             || chr(92) || chr(92) || chr(92) || 'n' AS esc,
           o_orderpriority || chr(9) || chr(34) AS unesc_rt,
           '&lt;a href=&quot;' || o_orderstatus || '&quot;&gt;&amp;'
             AS enc_html,
           o_orderpriority || '<&>' AS dec_rt,
           'a+b/c%3F' || o_orderstatus AS cgi,
           o_orderpriority || ' ?=' AS cgi_rt,
           split_part(o_orderpriority, ' ', 1) || ' ...' AS ct,
           '0x' || lpad(hex(o_orderkey), 16, '0') AS hx,
           CASE WHEN o_orderkey > 0 THEN '-' ELSE '' END
             || '0x' || lpad(hex(o_orderkey), 16, '0') AS shx,
           '0b' || lpad(bin(o_orderkey), 64, '0') AS bn,
           hex(o_orderstatus) AS hxt,
           lpad(bin(ascii(o_orderstatus)), 8, '0') AS bnt,
           to_json([ascii(o_orderstatus)]) AS tbl,
           to_base64(o_orderpriority::BLOB) AS b64,
           o_orderpriority AS b64_rt,
           o_orderpriority AS b64s_rt,
           regexp_replace(o_orderpriority, '-', '') AS rmf,
           reverse(regexp_replace(reverse(o_orderpriority), 'E', '')) AS rml,
           o_orderstatus || lower(o_orderpriority) AS ttl,
           o_orderpriority AS bl_rt,
           '1.15GiB' AS hrb,
           '1.23G' AS hrq,
           '1d 2h 3m 4s' AS hrd,
           '1.5ms' AS hrd2,
           '1235' AS prc1,
           '1234.57' AS prc2,
           '0.0001235' AS prc3,
           '1.23e-05' AS prc4,
           '1.23e+08' AS prc5
         FROM orders WHERE o_orderkey < 2000""",
    "yql_tpch_q6" -> tpchSql("yql_tpch_q6"),
    "yql_tpch_q10" -> tpchSql("yql_tpch_q10"),
    "yql_tpch_q14" -> tpchSql("yql_tpch_q14"),
    "yql_tpch_q18" -> tpchSql("yql_tpch_q18"),
    "yql_tpch_q19" -> tpchSql("yql_tpch_q19"),
    "yql_tpch_q4" -> tpchSql("yql_tpch_q4"),
    "yql_fn_yson_tail" ->
      """SELECT event_id,
           to_json([1, 2, event_id % 5]) AS il,
           to_json(['a', 'b']) AS sl,
           to_json([1.5, 2.5]) AS dl,
           to_json([TRUE, FALSE]) AS bl,
           to_json(['1', '"x"', 'true']) AS anyl,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS dk,
           json_extract_string(props, '$.k') AS dka,
           '2' AS ld,
           CAST(8 AS BIGINT) AS yl,
           '7' AS ylf,
           CAST(7 AS BIGINT) AS attr,
           '<"a"=1;>5' AS wattr,
           TRUE AS not_list,
           to_json(['3', '4']) AS pj
         FROM events WHERE event_id < 2000""",
    "yql_fn_yson_options" ->
      """SELECT event_id,
           TRUE AS li_null,
           event_id % 7 AS li_ok,
           TRUE AS li_dbl,
           CAST(12 AS BIGINT) AS ai_parse,
           CAST(0 AS BIGINT) AS ai_junk,
           CAST(3 AS BIGINT) AS ai_trunc,
           CAST(1 AS BIGINT) AS ai_bool,
           CAST(0 AS BIGINT) AS ai_list,
           CAST(0 AS BIGINT) AS ai_ent,
           TRUE AS ld_null,
           CAST(event_id % 7 AS DOUBLE) AS ld_int,
           CAST(2.5 AS DOUBLE) AS ad_parse,
           CAST(0.0 AS DOUBLE) AS ad_bool,
           TRUE AS lb_null,
           (event_id % 7) <> 0 AS ab_num,
           TRUE AS ab_str,
           FALSE AS ab_empty,
           FALSE AS ab_elist,
           TRUE AS ls_null,
           CAST(event_id % 7 AS VARCHAR) AS as_num,
           'true' AS as_bool,
           '' AS as_dict,
           to_json([1, event_id % 7]) AS ll_drop,
           to_json([1, 12, 2, 1, 0]) AS la_coerce,
           to_json(CAST([] AS BIGINT[])) AS ll_empty,
           to_json(['a']) AS ls_drop,
           CAST(9 AS BIGINT) AS da_parse,
           CAST(3 AS BIGINT) AS dl_keep,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS lk_lax,
           CAST(7 AS BIGINT) AS lk_auto,
           CAST(8 AS BIGINT) AS yp_auto
         FROM events WHERE event_id < 2000""",
    "yql_fn_digest_tail" ->
      """SELECT o_orderkey,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN -1756338073613600836
             WHEN '2-HIGH' THEN -8882383915502825076
             WHEN '3-MEDIUM' THEN 5403922537970934214
             WHEN '4-NOT SPECIFIED' THEN -6563467656494465888
             ELSE -369815453453677322 END AS mm64,
           CAST(324500635 AS BIGINT) AS mm32,
           CAST(-6439925614760200953 AS BIGINT) AS mm2a,
           CAST(291020647 AS BIGINT) AS mm2a32,
           CAST(-3710278708678922331 AS BIGINT) AS mm64s,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN -4267019873658003815
             WHEN '2-HIGH' THEN -191787588133768311
             WHEN '3-MEDIUM' THEN 1896930977549945703
             WHEN '4-NOT SPECIFIED' THEN 247480518405168666
             ELSE 7850154475183006739 END AS c64,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 6595855365265119375
             WHEN '2-HIGH' THEN 8516156941437443355
             WHEN '3-MEDIUM' THEN 2904524822257699640
             WHEN '4-NOT SPECIFIED' THEN 8840848403906418221
             ELSE 721541947387550445 END AS ch,
           CAST(2074823558260706704 AS BIGINT) AS chs,
           CAST(-8102775896137942285 AS BIGINT) AS ch128lo,
           CAST(3615022465783845260 AS BIGINT) AS ch128hi,
           CAST(-1091526158063241018 AS BIGINT) AS ff,
           CAST(-8298615604817036194 AS BIGINT) AS ff2,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 909926459
             WHEN '2-HIGH' THEN 1799001613
             WHEN '3-MEDIUM' THEN 519482611
             WHEN '4-NOT SPECIFIED' THEN 4267649364
             ELSE 2425214584 END AS ff32,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN -5759174117798200650
             WHEN '2-HIGH' THEN 1510206931830867796
             WHEN '3-MEDIUM' THEN -224986514317311442
             WHEN '4-NOT SPECIFIED' THEN 337671425332023790
             ELSE -2487857790183472212 END AS ff64,
           CAST(-2655780917820445336 AS BIGINT) AS ff128lo,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 6974033431943394111
             WHEN '2-HIGH' THEN -5247187312437299321
             WHEN '3-MEDIUM' THEN -2652197090706926334
             WHEN '4-NOT SPECIFIED' THEN -8640159110052916009
             ELSE 3201324245181176382 END AS x3,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 3793211497494154732
             WHEN '2-HIGH' THEN 2553476539985885296
             WHEN '3-MEDIUM' THEN 9211604638583415098
             WHEN '4-NOT SPECIFIED' THEN -4307038664200482933
             ELSE -8129235703678004015 END AS x3lo,
           CAST(481984899792396677 AS BIGINT) AS x3hi,
           'BDDD813C634239723171EF3FEE98579B94964E3BB1CB3E427262C8C068D52319'
             AS b2,
           '0330531D097355A3F72E80D55C1245CCF79F1704431C6E3887938320442C23C0'
             AS b2k,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 21724992619218809
             WHEN '2-HIGH' THEN -4292954990267673821
             WHEN '3-MEDIUM' THEN 4892185950546122591
             WHEN '4-NOT SPECIFIED' THEN -6307410791967047682
             ELSE -3061477688745576606 END AS hwh,
           TRUE AS a2ok
         FROM orders WHERE o_orderkey < 2000""",
    "yql_fn_url_tail" ->
      """SELECT o_orderkey,
           'http://www.shop' || CAST(o_custkey % 50 AS VARCHAR)
             || '.example.com:8080/item/' || CAST(o_orderkey AS VARCHAR)
             || '?q=' || o_orderstatus AS norm,
           TRUE AS norm_bad,
           'http://www.ydb.tech/' AS norm_dflt,
           'wWw.shop' || CAST(o_custkey % 50 AS VARCHAR)
             || '.Example.COM' AS p_host,
           '8080' AS p_port,
           'hTTp' AS p_scheme,
           'q=' || o_orderstatus AS p_query,
           'frag' AS p_frag,
           '/item/' || CAST(o_orderkey AS VARCHAR) AS p_path,
           TRUE AS known,
           FALSE AS known_bad,
           TRUE AS wellknown,
           'example.com' AS sig,
           'b.co.uk' AS sig_couk,
           'blogs.livejournal.com' AS owner,
           'host.com/x' AS cw2,
           'hTTp://wWw.shop' || CAST(o_custkey % 50 AS VARCHAR)
             || '.Example.COM:8080/item/' || CAST(o_orderkey AS VARCHAR)
             AS cqf,
           'xn--e1afmkfd.xn--80akhbyknj4f' AS puny,
           'пример.испытание' AS puny_rt,
           'plain.com' AS puny_f,
           TRUE AS puny_can,
           FALSE AS puny_not,
           'a=1&b=x+y' AS bq
         FROM orders WHERE o_orderkey < 2000""",
    "yql_sql_streaming_process" ->
      """SELECT replace(o_orderpriority, '-', '_') AS value
         FROM orders WHERE o_orderkey < 2000""",
    "yql_sql_json_accessors" ->
      """SELECT event_id,
           json_extract_string(props, '$.k') AS v,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS vi,
           CAST(-1 AS BIGINT) AS vd,
           CAST(NULL AS VARCHAR) AS vn,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) AS ve,
           TRUE AS e,
           FALSE AS en,
           '[' || json_extract_string(props, '$.k') || ']' AS qw,
           '[]' AS qe,
           '{}' AS qo
         FROM events WHERE event_id < 2000""",
    "yql_fn_unicode_tail" ->
      """SELECT o_orderkey,
           nfc_normalize('e' || chr(769)) AS nfc,
           TRUE AS nfd,
           'IX' AS nfkc,
           'kongressstrasse' AS fold1,
           'eylul ' || lower(o_orderpriority) AS fold2,
           TRUE AS isasc,
           FALSE AS isasc2,
           o_orderstatus = 'F' AS ishex,
           TRUE AS isutf,
           TRUE AS inset,
           TRUE AS inset2,
           FALSE AS inset3,
           TRUE AS inset_prop,
           FALSE AS inset_prop2,
           CAST(CASE WHEN contains(o_orderpriority, 'E')
             THEN length(o_orderpriority)
               - strpos(reverse(o_orderpriority), 'E')
             ELSE NULL END AS BIGINT) AS rf,
           replace(o_orderpriority, 'E', 'e') AS rall,
           regexp_replace(o_orderpriority, 'E', 'e') AS rfirst,
           reverse(regexp_replace(reverse(o_orderpriority), 'E', 'e'))
             AS rlast,
           translate(o_orderpriority, 'AEIOU', '') AS rmall,
           regexp_replace(o_orderpriority, 'E', '') AS rmf,
           reverse(regexp_replace(reverse(o_orderpriority), 'E', ''))
             AS rml,
           to_json([CAST(ascii(o_orderstatus) AS BIGINT)]) AS cpl,
           o_orderpriority AS cpl_rt,
           to_json(string_split(o_orderpriority, '-')) AS spl,
           replace(o_orderpriority, '-', '_') AS joined,
           CAST(levenshtein(o_orderpriority, 'URGENT') AS BIGINT) AS lev,
           o_orderkey AS u64,
           o_orderkey AS u64h,
           CAST(NULL AS BIGINT) AS u64bad
         FROM orders WHERE o_orderkey < 2000""",
    "yql_fn_compress_module" ->
      """SELECT o_orderkey,
           o_orderpriority AS gz_rt,
           o_orderpriority AS zl_rt,
           o_orderpriority AS zs_rt,
           o_orderpriority AS sn_rt,
           o_orderpriority AS try_ok,
           TRUE AS try_bad,
           TRUE AS try_bad2,
           TRUE AS gz_n
         FROM orders WHERE o_orderkey < 2000""",
    "yql_fn_stat_module" ->
      """SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_ok,
           TRUE AS p90_ok
         FROM lineitem GROUP BY l_returnflag""",
    "yql_fn_modules2" ->
      """SELECT o_orderkey,
           contains(o_orderpriority, 'URG') AS s_contains,
           CAST(strpos(o_orderpriority, '-') - 1 AS BIGINT) AS s_find,
           CAST(CASE WHEN contains(o_orderpriority, 'E')
             THEN length(o_orderpriority)
               - strpos(reverse(o_orderpriority), 'E')
             ELSE -1 END AS BIGINT) AS s_rfind,
           substring(o_orderpriority, 3, 3) AS s_sub,
           CAST(levenshtein(o_orderstatus, 'O') AS BIGINT) AS s_lev,
           lpad(o_orderstatus, 3, '_') AS s_lpad,
           translate(o_orderpriority, '-0123456789', '') AS s_rm,
           regexp_replace(o_orderpriority, 'E', 'e') AS s_rf,
           reverse(regexp_replace(reverse(o_orderpriority), 'E', 'e'))
             AS s_rl,
           regexp_replace('a  b   c ' || o_orderstatus, '\s+', ' ', 'g')
             AS s_col,
           hex(o_orderstatus) AS s_hex,
           regexp_full_match(o_orderstatus, '[A-Z]+') AS s_up,
           trunc(o_totalprice / 1000 - 3) AS m_trunc,
           ROUND(sqrt((o_totalprice/1000)*(o_totalprice/1000) + 4.0), 6)
             AS m_hyp,
           ROUND(fmod(o_totalprice, 7.0), 6) AS m_fmod,
           ((o_orderkey - 500) % 7 + 7) % 7 AS m_mod,
           ((o_orderkey - 500) % -7 + -7) % -7 AS m_modn,
           (o_orderkey - 500) % 7 AS m_rem,
           CAST(NULL AS BIGINT) AS m_mod0,
           isfinite(o_totalprice) AS m_fin,
           48.0 AS m_ldexp,
           ROUND(log2(o_totalprice), 6) AS m_log2,
           regexp_full_match(o_orderstatus, '\p{L}+') AS u_alpha,
           CAST(strpos(o_orderpriority, 'U') - 1 AS BIGINT) AS u_find
         FROM orders WHERE o_orderkey < 2000""",
    "yql_fn_yson_module" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) AS kd,
           json_extract(props, '$.k') IS NOT NULL AS has_k,
           json_extract(props, '$.missing') IS NOT NULL AS has_missing,
           CAST(len(json_keys(props)) AS BIGINT) AS n,
           json_type(props) = 'OBJECT' AS isd,
           TRUE AS eq
         FROM events WHERE event_id < 2000""",
    "yql_fn_re2" ->
      """SELECT o_orderkey,
           regexp_matches(o_orderpriority, '\d-') AS g,
           regexp_full_match(o_orderpriority, '\d-[A-Z0-9 ]+') AS m,
           CAST(len(regexp_extract_all(o_orderpriority, '[A-Z]'))
             AS BIGINT) AS c,
           regexp_replace(o_orderpriority, '(\d)-', '[\1] ', 'g') AS r,
           regexp_extract(o_orderpriority, '(\d)-([A-Z0-9 ]+)', 2) AS w,
           contains(o_orderpriority, 'URG') AS bg,
           regexp_full_match(o_orderpriority, '\d-[A-Z ]+') AS bm,
           contains(o_orderpriority, 'URG') AS mg1,
           contains(o_orderpriority, 'LOW') AS mg2,
           TRUE AS mg3,
           o_orderpriority LIKE '%URGENT' AS mm1,
           TRUE AS mm2,
           contains(lower(o_orderpriority), 'urgent') AS oi,
           FALSE AS oi_def,
           TRUE AS olit,
           FALSE AS olit_no
         FROM orders WHERE o_orderkey < 2000""",
    "yql_sql_anon_table" ->
      """WITH phase AS (
           SELECT o_custkey % 10 AS k, o_totalprice AS p FROM orders
           WHERE o_orderstatus = 'F'
           UNION ALL
           SELECT o_custkey % 10 AS k, o_totalprice * 2 AS p FROM orders
           WHERE o_orderstatus = 'O')
         SELECT k, COUNT(*) AS n,
           CAST(SUM(CAST(floor(p) AS BIGINT)) AS BIGINT) AS total
         FROM phase GROUP BY k""",
    "yql_sql_flatten_columns" ->
      """SELECT o_custkey % 50 AS ks, o_custkey % 7 AS vs,
           o_orderkey AS o
         FROM orders WHERE o_custkey % 50 < 25""",
    // islands replay: session id = running count of >6h breaks; the
    // session key is MIN(ts) per island
    "yql_sql_session_window" ->
      """WITH marked AS (SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
             OR ts - lag(ts) OVER w > INTERVAL '6 hours' THEN 1 ELSE 0
             END AS brk
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         islands AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
             ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM marked)
         SELECT user_id, MIN(ts) AS session_start, MIN(ts) AS ss,
           count(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
         FROM islands GROUP BY user_id, sid""",
    "yql_fn_aggregate_by" ->
      """SELECT CAST(count(DISTINCT o_custkey % 50) AS BIGINT) AS cd,
           CAST(sum(o_custkey % 7) AS BIGINT) AS s7,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           to_json([min(o_custkey % 7), min(o_orderkey % 13),
            min(o_custkey % 97)]) AS mmin,
           to_json([max(o_custkey % 7), max(o_orderkey % 13),
            max(o_custkey % 97)]) AS mmax,
           to_json([CAST(count(o_custkey % 7) AS BIGINT),
            CAST(count(o_orderkey % 13) AS BIGINT),
            CAST(count(o_custkey % 97) AS BIGINT)]) AS mcnt,
           to_json([ROUND(avg(o_custkey % 7), 6),
            ROUND(avg(o_orderkey % 13), 6),
            ROUND(avg(o_custkey % 97), 6)]) AS mavg
         FROM orders""",
    "yql_sql_window_over_session" ->
      """WITH b AS (SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id
                 ORDER BY ts) > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS ns
           FROM events),
         s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM b),
         k AS (SELECT *, min(ts) OVER (PARTITION BY user_id, sid)
             AS session_start FROM s)
         SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id, sid
             ORDER BY ts, event_id) AS pos_in_sess,
           session_start
         FROM k""",
    "yql_fn_basics" ->
      """SELECT o_orderkey,
           ord(substr(o_orderpriority, 1, 1)) AS ba,
           (o_orderkey % 2) = 1 AS tb,
           (o_orderkey % 16) | 4 AS sb,
           o_orderkey AS rt,
           greatest(o_custkey % 7, o_orderkey % 5, 3) AS mx,
           o_orderkey AS uw,
           6 + (o_orderkey % 5) AS lfm,
           (o_custkey % 7) + (o_orderkey % 13) AS lagg,
           o_orderkey % 9 AS litk
         FROM orders""",
    "yql_fn_struct_module" ->
      """SELECT p_partkey,
           p_brand AS tm_hit,
           'none' AS tm_miss,
           p_size AS am_sz,
           p_type AS es_type,
           p_size AS rm_size,
           p_type AS cm_t,
           'a,z' AS sm,
           p_type AS comb_t,
           p_size AS fm_yn,
           p_brand AS ren_c,
           p_size + 1 AS sp_k,
           p_size * 2 AS gm_b
         FROM part""",
    "yql_agg_spellings" ->
      """SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6) AS sd,
           ROUND(stddev_pop(l_quantity), 6) AS sd_pop,
           ROUND(stddev_samp(l_quantity), 6) AS sd_samp,
           ROUND(var_samp(l_quantity), 6) AS var_s,
           ROUND(var_pop(l_quantity), 6) AS var_p,
           ROUND(corr(l_quantity, l_discount), 6) AS corr_qd,
           ROUND(covar_samp(l_quantity, l_discount), 6) AS cov_s,
           ROUND(covar_pop(l_quantity, l_discount), 6) AS cov_p,
           l_returnflag AS some_flag,
           bool_and(l_quantity > 0) AS all_pos,
           (count(*) FILTER (WHERE l_orderkey % 2 = 0) % 2 = 1) AS xor_even,
           CASE WHEN count(*) FILTER (WHERE l_partkey % 500 = 7) > 0
             THEN NULL
             ELSE bool_or(l_discount > 0.05) END AS or_poisoned
         FROM lineitem GROUP BY l_returnflag""",
    "yql_agg_list_sql" ->
      """SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS names,
           array_to_string(list_sort(list(DISTINCT substring(n_name, 1, 2))),
             ',') AS pre2,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS dnames,
           least(count(n_name), 3) AS lim3,
           TRUE AS hll_ok, TRUE AS cde_ok
         FROM nation GROUP BY n_regionkey""",
    "yql_agg_topfreq_sql" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority AS val,
               count(*) AS freq FROM orders GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY freq DESC, val ASC) AS rn FROM c),
         m AS (SELECT o_orderstatus, o_custkey % 10 AS mv, count(*) AS mf
               FROM orders GROUP BY 1, 2),
         mr AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY mf DESC, mv ASC) AS rn FROM m)
         SELECT r.o_orderstatus, r.val, r.freq,
           mr.mv AS mode_val, mr.mf AS mode_freq
         FROM r JOIN mr ON r.o_orderstatus = mr.o_orderstatus AND mr.rn = 1
         WHERE r.rn <= 3""",
    // trapezoid-interpolation replay over the same 97 exact buckets
    // (positions 0..96, unit spacing): running sums + lag/lead give
    // the left/right bins of adaptive_histogram.cpp's formulas
    "yql_fn_histogram_module" ->
      """WITH b AS (SELECT CAST(o_custkey % 97 AS DOUBLE) AS p,
               CAST(count(*) AS DOUBLE) AS f FROM orders GROUP BY 1),
         s AS (SELECT p, f,
             sum(f) OVER (ORDER BY p) AS rs,
             sum(f) OVER (ORDER BY p DESC) AS rs2,
             lag(p) OVER (ORDER BY p) AS pl, lag(f) OVER (ORDER BY p) AS fl,
             lead(p) OVER (ORDER BY p) AS pr, lead(f) OVER (ORDER BY p) AS fr,
             min(p) OVER () AS mn, max(p) OVER () AS mx,
             sum(f) OVER () AS tot
           FROM b),
         above1 AS (SELECT f/2 + (COALESCE(fl,0)+f)/2 * (p-30.5)/(p-COALESCE(pl,mn))
             + (tot-rs) AS v FROM s WHERE p >= 30.5 ORDER BY p LIMIT 1),
         below1 AS (SELECT COALESCE(fl,0)/2 + (COALESCE(fl,0)+f)/2
               * (30.5-COALESCE(pl,mn))/(p-COALESCE(pl,mn))
             + CASE WHEN pl IS NULL THEN 0 ELSE rs - f - fl END AS v
           FROM s WHERE p >= 30.5 ORDER BY p LIMIT 1),
         above2 AS (SELECT f/2 + (COALESCE(fl,0)+f)/2 * (p-10.5)/(p-COALESCE(pl,mn))
             + (tot-rs) AS v FROM s WHERE p >= 10.5 ORDER BY p LIMIT 1),
         below2 AS (SELECT COALESCE(fl,0)/2 + (COALESCE(fl,0)+f)/2
               * (60.5-COALESCE(pl,mn))/(p-COALESCE(pl,mn))
             + CASE WHEN pl IS NULL THEN 0 ELSE rs - f - fl END AS v
           FROM s WHERE p >= 60.5 ORDER BY p LIMIT 1),
         cub1 AS (SELECT CASE
             WHEN (3700.0 - (rs - f - COALESCE(fl,0)/2))
                 <= (f + COALESCE(fl,0))/2
             THEN COALESCE(pl,mn) + 2*(3700.0 - (rs - f - COALESCE(fl,0)/2))
               * (p-COALESCE(pl,mn))/(f+COALESCE(fl,0))
             ELSE p + 2*((3700.0 - (rs - f - COALESCE(fl,0)/2))
                 - (f+COALESCE(fl,0))/2)
               * (COALESCE(pr,mx)-p)/(COALESCE(fr,0)+f) END AS v
           FROM s WHERE rs >= 3700.0 ORDER BY p LIMIT 1),
         clb1 AS (SELECT CASE
             WHEN (3700.0 - (rs2 - f - COALESCE(fr,0)/2))
                 <= (f + COALESCE(fr,0))/2
             THEN COALESCE(pr,mx) - 2*(3700.0 - (rs2 - f - COALESCE(fr,0)/2))
               * (COALESCE(pr,mx)-p)/(f+COALESCE(fr,0))
             ELSE p - 2*((3700.0 - (rs2 - f - COALESCE(fr,0)/2))
                 - (f+COALESCE(fr,0))/2)
               * (p-COALESCE(pl,mn))/(COALESCE(fl,0)+f) END AS v
           FROM s WHERE rs2 >= 3700.0 ORDER BY p DESC LIMIT 1),
         sfirst AS (SELECT f AS v FROM s ORDER BY p LIMIT 1),
         slast AS (SELECT f AS v FROM s ORDER BY p DESC LIMIT 1),
         cubs1 AS (SELECT CASE
             WHEN ((SELECT v FROM sfirst) - (rs - f - COALESCE(fl,0)/2))
                 <= (f + COALESCE(fl,0))/2
             THEN COALESCE(pl,mn) + 2*((SELECT v FROM sfirst)
                 - (rs - f - COALESCE(fl,0)/2))
               * (p-COALESCE(pl,mn))/(f+COALESCE(fl,0))
             ELSE p + 2*(((SELECT v FROM sfirst)
                 - (rs - f - COALESCE(fl,0)/2)) - (f+COALESCE(fl,0))/2)
               * (COALESCE(pr,mx)-p)/(COALESCE(fr,0)+f) END AS v
           FROM s WHERE rs >= (SELECT v FROM sfirst) ORDER BY p LIMIT 1),
         clbs1 AS (SELECT CASE
             WHEN ((SELECT v FROM slast) - (rs2 - f - COALESCE(fr,0)/2))
                 <= (f + COALESCE(fr,0))/2
             THEN COALESCE(pr,mx) - 2*((SELECT v FROM slast)
                 - (rs2 - f - COALESCE(fr,0)/2))
               * (COALESCE(pr,mx)-p)/(f+COALESCE(fr,0))
             ELSE p - 2*(((SELECT v FROM slast)
                 - (rs2 - f - COALESCE(fr,0)/2)) - (f+COALESCE(fr,0))/2)
               * (p-COALESCE(pl,mn))/(COALESCE(fl,0)+f) END AS v
           FROM s WHERE rs2 >= (SELECT v FROM slast) ORDER BY p DESC LIMIT 1),
         nb4 AS (SELECT 50.0 * f / tot AS v FROM s ORDER BY p
           LIMIT 1 OFFSET 3),
         cb4 AS (SELECT rs AS v FROM s ORDER BY p LIMIT 1 OFFSET 3)
         SELECT
           ROUND((SELECT v FROM above1), 4) AS sab,
           ROUND((SELECT v FROM below1), 4) AS sbb,
           ROUND((SELECT v FROM above2) + (SELECT v FROM below2)
             - (SELECT max(tot) FROM s), 4) AS sir,
           -- CalcUpperBound/CalcLowerBound with sum beyond the total
           -- weight return the histogram's max/min
           -- (adaptive_histogram.cpp:368/409 `if (gathered < sum)`);
           -- the bound-crossing CTE is empty then, so coalesce to the
           -- edge. Reachable only when the corpus is smaller than the
           -- 3700-weight probe (sf0.001).
           ROUND(COALESCE((SELECT v FROM cub1),
             (SELECT max(mx) FROM s)), 6) AS cub,
           ROUND(COALESCE((SELECT v FROM clb1),
             (SELECT max(mn) FROM s)), 6) AS clb,
           ROUND((SELECT v FROM cubs1), 6) AS cubs,
           ROUND((SELECT v FROM clbs1), 6) AS clbs,
           ROUND((SELECT v FROM nb4), 6) AS norm_b4,
           ROUND((SELECT v FROM cb4), 2) AS cdf_b4""",
    // islands replay with the VALUE-DEPENDENT timeout: a break when
    // the gap to the previous event exceeds the CURRENT row's limit
    // (2h for clicks, 6h otherwise) — same machine as the lambda form
    "yql_sql_session_lambda" ->
      // the lambda computes unix_timestamp(a)-unix_timestamp(b) =
      // INTEGER seconds, so the replay must floor both epochs — the
      // round-10 sf10 soak caught the fractional replay splitting a
      // session the floored lambda keeps (gap 21600.714 → 21600)
      """WITH marked AS (SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
             OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) >
               (CASE WHEN event_type = 'click' THEN 7200 ELSE 21600 END)
             THEN 1 ELSE 0 END AS brk
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         islands AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
             ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM marked)
         SELECT user_id, MIN(ts) AS session_start, MIN(ts) AS ss,
           count(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
         FROM islands GROUP BY user_id, sid""",
    "yql_sql_distinct_window" ->
      """SELECT o_orderkey,
           COUNT(DISTINCT o_orderpriority)
             OVER (PARTITION BY o_custkey % 20) AS cd,
           CAST(SUM(DISTINCT o_custkey % 7)
             OVER (PARTITION BY o_custkey % 20) AS BIGINT) AS sd,
           AVG(DISTINCT o_custkey % 7)
             OVER (PARTITION BY o_custkey % 20) AS ad,
           MIN(o_orderpriority)
             OVER (PARTITION BY o_custkey % 20) AS md,
           COUNT(DISTINCT o_orderpriority)
             OVER (PARTITION BY o_custkey % 20
                   ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS running_cd
         FROM orders WHERE o_custkey < 300""",
    "yql_sql_match_recognize" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, value,
             CASE WHEN value > lag(value) OVER w THEN 0 ELSE 1 END AS brk,
             row_number() OVER w AS pos
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ), s AS (
           SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY pos) AS grp
           FROM e
         )
         SELECT c.user_id, c.event_id AS s_id, MAX(u.event_id) AS u_end,
                CAST(COUNT(u.event_id) AS BIGINT) AS n_up
         FROM s c JOIN s u
           ON u.user_id = c.user_id AND u.pos > c.pos AND u.grp = c.grp
         WHERE c.event_type = 'click'
         GROUP BY c.user_id, c.event_id""",
    "yql_sql_match_all_rows" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, value,
             CASE WHEN value > lag(value) OVER w THEN 0 ELSE 1 END AS brk,
             row_number() OVER w AS pos
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ), s AS (
           SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY pos) AS grp
           FROM e
         ), m AS (
           SELECT c.user_id, c.pos AS s_pos, MAX(u.pos) AS e_pos,
                  c.event_id AS s_id,
                  CAST(COUNT(u.event_id) AS BIGINT) AS n_up
           FROM s c JOIN s u
             ON u.user_id = c.user_id AND u.pos > c.pos AND u.grp = c.grp
           WHERE c.event_type = 'click'
           GROUP BY c.user_id, c.pos, c.event_id)
         SELECT r.event_id, r.user_id, r.event_type, m.s_id, m.n_up
         FROM m JOIN s r
           ON r.user_id = m.user_id AND r.pos BETWEEN m.s_pos AND m.e_pos""",
    "yql_fn_current" ->
      """SELECT CAST(1 AS BIGINT) AS date_ok, CAST(1 AS BIGINT) AS dt_ok,
              CAST(1 AS BIGINT) AS seconds_ok, CAST(1 AS BIGINT) AS order_ok,
              CAST(COUNT(*) AS BIGINT) AS n FROM region""",
    "yql_sql_with_schema" ->
      """SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(o_custkey AS INT)) AS BIGINT) AS sum_ck
         FROM orders GROUP BY o_orderpriority""",
    "yql_sql_sample" ->
      """SELECT CAST(1 AS BIGINT) AS bernoulli_ok,
              CAST(1 AS BIGINT) AS system_ok,
              CAST(1 AS BIGINT) AS sample_ok,
              CAST(1 AS BIGINT) AS repeatable_ok""",
    // replay of HOP(ts, PT3H, PT6H): each event lands in the two
    // 6h windows whose epoch-aligned 3h start covers it
    "yql_sql_hop" ->
      """SELECT user_id, ws AS hs, ws + INTERVAL '6 hours' AS he,
        |  count(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
        |FROM (SELECT user_id, value,
        |        unnest([time_bucket(INTERVAL '3 hours', ts),
        |                time_bucket(INTERVAL '3 hours', ts)
        |                  - INTERVAL '3 hours']) AS ws
        |      FROM events)
        |GROUP BY user_id, ws""".stripMargin,
    "yql_sql_view" ->
      """WITH seed AS (SELECT DISTINCT o_custkey % 50 AS k,
             (o_custkey % 50) * 9 AS v FROM orders),
         upd AS (SELECT k, CASE WHEN k % 5 = 0 THEN v + 1 ELSE v END AS v
           FROM seed)
         SELECT v, k FROM upd WHERE v >= 100""",
    "yql_sql_returning" ->
      """SELECT k, CAST(k * 3 + 7 AS BIGINT) AS v
         FROM (SELECT DISTINCT o_custkey % 60 AS k FROM orders) t
         WHERE k % 3 = 0 AND k % 4 <> 1""",
    "yql_sql_import" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           upper(lang) AS lang_u
         FROM documents WHERE doc_id < 200""",
    "yql_sql_upsert" ->
      """WITH seed AS (SELECT o_custkey AS acct,
             CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS bal,
             CAST(COUNT(o_orderkey) AS BIGINT) AS n
           FROM orders WHERE o_custkey < 400 GROUP BY o_custkey),
         ups AS (SELECT o_custkey AS acct,
             CAST(COUNT(o_orderkey) * 1000 AS BIGINT) AS bal
           FROM orders WHERE o_custkey >= 300 AND o_custkey < 500
           GROUP BY o_custkey),
         m1 AS (SELECT coalesce(s.acct, u.acct) AS acct,
             CASE WHEN u.acct IS NOT NULL THEN u.bal ELSE s.bal END AS bal,
             s.n AS n
           FROM seed s FULL OUTER JOIN ups u ON s.acct = u.acct),
         rep AS (SELECT acct, CAST(-1 AS BIGINT) AS n
           FROM seed WHERE acct < 50),
         m2 AS (SELECT coalesce(m.acct, r.acct) AS acct,
             CASE WHEN r.acct IS NOT NULL THEN NULL ELSE m.bal END AS bal,
             CASE WHEN r.acct IS NOT NULL THEN r.n ELSE m.n END AS n
           FROM m1 m FULL OUTER JOIN rep r ON m.acct = r.acct),
         m3 AS (SELECT acct, bal, n FROM m2 WHERE acct % 10 <> 7)
         SELECT acct,
           CAST(CASE WHEN acct % 2 = 0 THEN bal + 500 ELSE bal END AS BIGINT) AS bal,
           CAST(CASE WHEN acct % 2 = 0 THEN n * 2 ELSE n END AS BIGINT) AS n
         FROM m3""",
    "yql_sql_builtin_alias" ->
      """SELECT source,
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
           max(n_chars) AS max_chars,
           CAST(count(*) AS BIGINT) AS n_docs,
           max(n_chars) * 2 AS max2
         FROM documents WHERE doc_id < 300 GROUP BY source""",
    "yql_fn_json2" ->
      """SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           json_extract(props, '$.k') IS NOT NULL AS has_k,
           json_extract(props, '$.missing') IS NOT NULL AS has_missing,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl
         FROM events""",
    "yql_fn_compress" ->
      """SELECT doc_id, length(text) AS orig_len, text AS gzip_rt,
           text AS zlib_rt, TRUE AS gzip_nonempty
         FROM documents""",
    "yql_agg_topfreq" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_cnt
         FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
                 row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY COUNT(*) DESC, o_orderpriority DESC) AS rn
               FROM orders GROUP BY 1, 2)
         WHERE rn = 1""",
    "yql_agg_percentile" ->
      """SELECT o_orderpriority,
           ROUND(median(o_totalprice), 4) AS med_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
         FROM orders GROUP BY o_orderpriority""",
    "yql_agg_cond_bool_bit" ->
      """SELECT l_linestatus,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS cnt_disc,
           ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END), 2) AS sum_if_r,
           bool_and(l_quantity > 0) AS all_pos,
           bool_or(l_discount > 0.09) AS any_big_disc,
           bit_and(l_orderkey) AS band,
           bit_or(l_orderkey) AS bor,
           bit_xor(l_orderkey) AS bxor
         FROM lineitem GROUP BY l_linestatus""",
    "yql_agg_list" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS region,
           array_to_string(list_sort(list(n_name)), ',') AS names,
           array_to_string(list_sort(list(DISTINCT substring(n_name, 1, 7))), ',')
             AS prefixes
         FROM nation GROUP BY 1""",
    "yql_agg_distinct" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS d_parts,
           COUNT(DISTINCT l_suppkey) AS d_supps,
           ROUND(SUM(DISTINCT l_quantity), 2) AS sd_qty
         FROM lineitem GROUP BY l_returnflag""",
    "yql_window_ignore_nulls" ->
      """WITH o AS (
           SELECT o_custkey, o_orderkey, o_orderdate,
             CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS big_price
           FROM orders WHERE o_custkey < 300)
         SELECT o_custkey, o_orderkey,
           lag(big_price, 1 IGNORE NULLS) OVER w AS prev_big,
           lead(big_price, 1 IGNORE NULLS) OVER w AS next_big,
           first_value(big_price IGNORE NULLS) OVER wa AS first_big,
           last_value(big_price IGNORE NULLS) OVER wa AS last_big,
           nth_value(big_price, 2 IGNORE NULLS) OVER wa AS second_big
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wa AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "yql_agg_some" ->
      """SELECT l_orderkey, min(o_orderstatus) AS some_status,
           COUNT(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_orderkey""",
    // same rows as yql_agg_some — bucketing changes the layout, never
    // the values
    "yql_agg_some_sorted" ->
      """SELECT l_orderkey, min(o_orderstatus) AS some_status,
           COUNT(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_orderkey""",
    "yql_window_over_session" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, event_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
           FROM g)
         SELECT user_id, event_id, sess_id,
           CAST(row_number() OVER (PARTITION BY user_id, sess_id
             ORDER BY ts, event_id) AS INT) AS pos_in_sess,
           min(ts) OVER (PARTITION BY user_id, sess_id) AS session_start
         FROM s""",
    "yql_fn_pire" ->
      """SELECT p_partkey,
           regexp_matches(p_name, 'green') AS grep_green,
           regexp_full_match(p_type, '(ECONOMY|PROMO)') AS match_type,
           CASE WHEN regexp_matches(p_name, '^([a-z]+)')
             THEN regexp_extract(p_name, '^([a-z]+)', 1) END AS cap_first,
           regexp_replace(p_brand, '[0-9]+', '#', 'g') AS repl_brand,
           array_to_string(list_transform(
             [regexp_matches(p_name, 'red'), regexp_matches(p_name, 'green'),
              regexp_matches(p_name, 'blue')],
             b -> CAST(b AS VARCHAR)), ',') AS mg
         FROM part""",
    "yql_agg_tdigest" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           true AS p50_ok, true AS p95_ok
         FROM lineitem GROUP BY 1""",
    "yql_agg_tdigest_merge" ->
      """SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey % 8) AS BIGINT) AS n_shards,
           true AS p50_ok, true AS p99_ok
         FROM lineitem GROUP BY 1"""
  )
}
