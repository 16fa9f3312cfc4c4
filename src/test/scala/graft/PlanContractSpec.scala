package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan contracts for the scale-critical queries: these are
  * the properties that make the operators viable at 100 TB (SURVEY.md
  * §4) — filter pushdown to the scan, column pruning, broadcast for
  * dimension joins, map-side partial aggregation, top-k instead of full
  * sort. A regression here is a performance bug even while results stay
  * correct.
  */
class PlanContractSpec extends SparkSpec {

  private def run(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.count() // force AQE final plan
    df
  }

  private def planString(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan
    val finalPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    finalPlan.toString
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten

  test("ql_filter_where pushes its predicates into the parquet scan") {
    val df = run("ql_filter_where")
    val s = scans(df)
    assert(s.nonEmpty)
    assert(s.head.metadata("PushedFilters").contains("GreaterThan(l_quantity"),
      s.head.metadata("PushedFilters"))
  }

  test("ql_scan reads only the projected columns") {
    val df = run("ql_scan")
    val read = scans(df).head.requiredSchema.fieldNames.toSet
    assert(read == Set("n_nationkey", "n_name"), read)
  }

  test("ql_join_inner: the PLANNER broadcasts the small foreign side") {
    // no hint in the query — at test scale the planner (threshold/AQE)
    // picks broadcast; at sf100 the same query survives as a shuffle
    // join instead of dying at the 8 GiB broadcast cap (sf100 soak)
    val p = planString(run("ql_join_inner"))
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
  }

  test("ql_group_agg uses map-side partial aggregation around one exchange") {
    val p = planString(run("ql_group_agg"))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "partial+final agg expected")
    assert("Exchange".r.findAllIn(p).length <= 2, "agg must shuffle once (+AQE read)")
  }

  test("ql_order_limit is top-k, never a global sort") {
    val p = planString(run("ql_order_limit"))
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(5).mkString("\n"))
  }

  test("dyn_upsert_latest merges with a single shuffle and no window sort") {
    val df = run("dyn_upsert_latest")
    val p = planString(df)
    assert(!p.contains("Window"), "latest-wins must be max_by aggregation, not a window")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r.findAllIn(p).nonEmpty)
  }

  test("dyn_queue_pull prunes to its tablet before assigning offsets") {
    val df = run("dyn_queue_pull")
    val s = scans(df)
    assert(s.head.metadata("PushedFilters").nonEmpty || planString(df).contains("pmod"),
      "tablet predicate must reach the scan side")
  }

  test("disjoint group-by: grouping by the partitioning key adds no second exchange") {
    // UseDisjointGroupBy (coordinator.cpp:37): group keys ⊇ partition key
    // → no final merge. Spark equivalent: child partitioning satisfies
    // the aggregation's required distribution.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "v")
      .repartition(col("k"))
    val agg = df.groupBy("k").agg(sum("v"))
    agg.count()
    val p = planString(agg)
    assert("Exchange".r.findAllIn(p).length <= 1,
      "grouping on the partitioning key must not re-shuffle:\n" +
        p.linesIterator.take(12).mkString("\n"))
  }

  test("ql_join_pushdown_agg pre-aggregates the foreign side below the join") {
    // PushDownGroupBy (push_down_group_by.cpp:64): orders collapse to
    // one row per o_custkey BEFORE joining customer — the plan must
    // show an aggregate on the orders side underneath the join.
    val df = run("ql_join_pushdown_agg")
    val optimized = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val joins = optimized.collect { case j: Join => j }
    assert(joins.nonEmpty, optimized.toString)
    val aggBelowJoin = joins.exists(_.children.exists(c =>
      c.collectFirst { case a: Aggregate => a }.isDefined))
    assert(aggBelowJoin, "no partial aggregate below the join:\n" + optimized)
  }

  test("yql_agg_some_sorted: eager aggregation fires through the " +
      "unique-key join on the BUCKETED layout (aggregate below, none " +
      "above, one exchange total); the unbucketed plan stays unrewritten") {
    // EagerAggUniqueJoinRule (yql_yt_join_impl.cpp:1030-1150): orders
    // is unique on o_orderkey (graft.unique metadata), the grouping is
    // the left join key, count(*) pushes into a pre-aggregate on
    // lineitem and any_value(o_orderstatus) collapses to the plain
    // column. The AUTO cost gate mirrors the reference's sorted-schema
    // condition: the rewrite fires only where the left layout makes
    // the pre-aggregate exchange-free (bucketed lineitem), because the
    // round-11 sf100 interleaved A/B measured the unconditional
    // rewrite 2.8× SLOWER on the plain scan (~4 rows/key fan-in).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    def aggBelowJoin(p: LogicalPlan): Boolean =
      p.collect { case j: Join => j }
        .exists(_.left.collectFirst { case a: Aggregate => a }.isDefined)
    def aggAboveJoin(p: LogicalPlan): Boolean = p match {
      case _: Join => false
      case a: Aggregate => a.collectFirst { case _: Join => () }.isDefined
      case other => other.children.exists(aggAboveJoin)
    }

    val sorted = run("yql_agg_some_sorted")
    val opt = sorted.queryExecution.optimizedPlan
    assert(aggBelowJoin(opt), "no pre-aggregate below the join:\n" + opt)
    assert(!aggAboveJoin(opt), "aggregate still above the join:\n" + opt)
    // exchange-free contract: bucket layout feeds the pre-aggregate
    // AND the join's left side — the only exchange is the orders side
    val exchanges = sorted.queryExecution.executedPlan.toString()
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"bucketed eager-agg plan must shuffle only the unique side " +
        s"($exchanges exchanges):\n" + sorted.queryExecution.executedPlan)

    // plain parquet: the cost gate keeps the classic join-then-agg plan
    val plain = run("yql_agg_some")
    val optPlain = plain.queryExecution.optimizedPlan
    assert(!aggBelowJoin(optPlain),
      "cost gate breached — pre-aggregate on the unbucketed scan:\n" + optPlain)
    assert(aggAboveJoin(optPlain), "expected join-then-agg:\n" + optPlain)
  }

  test("yql_pg_distinct_on: the row_number=1 filter plans as a " +
      "MAP-SIDE WindowGroupLimit before the shuffle") {
    // PG DISTINCT ON lowers to row_number OVER (PARTITION BY k) = 1;
    // Spark 4's InferWindowGroupLimit must turn that into a partial
    // top-1-per-key pass on each input partition BEFORE the exchange,
    // so the shuffle carries |keys per partition| rows, not the
    // corpus — the property that makes DISTINCT ON viable at 100 TB.
    val df = run("yql_pg_distinct_on")
    val plan = planString(df)
    val lines = plan.linesIterator.toSeq
    val firstWgl = lines.indexWhere(_.contains("WindowGroupLimit"))
    val wglCount = lines.count(_.contains("WindowGroupLimit"))
    assert(firstWgl >= 0, "no WindowGroupLimit in the plan:\n" + plan)
    assert(wglCount >= 2,
      s"expected partial+final WindowGroupLimit, got $wglCount:\n" + plan)
    // tree prints top-down: the LAST WindowGroupLimit is the earliest
    // operator — it must sit BELOW (after, in print order) the
    // window's shuffle, i.e. some Exchange appears above it
    val lastWgl = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(lines.take(lastWgl).exists(_.contains("Exchange")),
      "no exchange above the partial WindowGroupLimit — the top-1 " +
        "pass is not map-side:\n" + plan)
  }

  test("eager aggregation through a unique-key join: values identical " +
      "to the unrewritten plan (inner + left outer, null keys, " +
      "unmatched groups)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    // a new session carries none of the engine's optimizer rules: the
    // semantic baseline
    val bare = spark.newSession()
    def preAggBelowJoin(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }
        .exists(_.left.collectFirst { case a: Aggregate => a }.isDefined)
    // the rule fires only where the left layout makes the pre-aggregate
    // exchange-free, so each left side is a table bucketed on its key
    val tables = Seq("pc_eager_li", "pc_eager_syn")
    def dropTables(): Unit = tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
    }
    dropTables()
    try {
      import spark.implicits._
      graft.sources.Tables.writeBucketed(
        graft.sources.Tables.load(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity")),
        "pc_eager_li", 4, Seq("l_orderkey"))
      // k=9 unmatched, None keys
      graft.sources.Tables.writeBucketed(
        Seq((Some(1L), 10), (Some(1L), 20), (Some(2L), 30),
          (None, 40), (None, 50), (Some(9L), 60)).toDF("k", "v"),
        "pc_eager_syn", 4, Seq("k"))
      def tpch(s: org.apache.spark.sql.SparkSession) = {
        val l = s.table("pc_eager_li")
        val o = graft.sources.Tables.load(s, sfDir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(any_value(col("o_orderstatus")).as("some_status"),
            count(lit(1)).as("n_lines"),
            sum(col("l_quantity")).as("qty"))
      }
      // left outer; right made unique via groupBy (the Aggregate arm of
      // uniqueOn)
      def syn(s: org.apache.spark.sql.SparkSession) = {
        import s.implicits._
        val l = s.table("pc_eager_syn")
        val r = Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"))
          .toDF("rk", "tag").groupBy("rk").agg(first("tag").as("tag"))
        l.join(r, l("k") === r("rk"), "left_outer")
          .groupBy(col("k"))
          .agg(min(col("tag")).as("t"), count(lit(1)).as("n"),
            sum(col("v")).as("sv"))
      }
      for ((name, q) <- Seq("tpch" -> tpch _, "synthetic" -> syn _)) {
        val (rewritten, baseline) = (q(spark), q(bare))
        assert(preAggBelowJoin(rewritten), s"$name: no pre-aggregate " +
          "below the join:\n" + rewritten.queryExecution.optimizedPlan)
        assert(!preAggBelowJoin(baseline),
          s"$name: the baseline session rewrote the plan")
        def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
          case d: Double => math.round(d * 100)
          case v => v
        }).sortBy(r => String.valueOf(r.head)).toSeq
        assert(rows(rewritten) == rows(baseline), name)
      }
    } finally dropTables()
  }

  test("op_join_reduce never re-shuffles the joined stream") {
    // The joined stream is the biggest intermediate of a JoinReduce; the
    // only exchanges allowed are the per-input ones BELOW the join. After
    // the join: partition-local sort + chopper only.
    val df = run("op_join_reduce")
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def pathToJoin(node: org.apache.spark.sql.execution.SparkPlan,
        acc: List[String]): Option[List[String]] =
      if (node.nodeName.contains("Join")) Some(acc)
      else node.children.view
        .flatMap(c => pathToJoin(c, node.nodeName :: acc)).headOption
    val above = pathToJoin(finalPlan, Nil)
    assert(above.isDefined, "no join found in:\n" + finalPlan)
    val offenders = above.get.filter(n =>
      n.contains("Exchange") || n.contains("ShuffleQueryStage") ||
        n.contains("AQEShuffleRead"))
    assert(offenders.isEmpty,
      s"exchange above the join: $offenders\n" + finalPlan.toString.take(2000))
  }

  test("yql_window_rank pushes the rank limit below the exchange " +
      "(WindowGroupLimit), quartile from a broadcast count join") {
    val df = run("yql_window_rank")
    val p = planString(df)
    // partial WindowGroupLimit per input split BEFORE the shuffle +
    // final above — only ~top-k rows per split reach the 5-value
    // partition fan-in, so the exchange no longer sees the table
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "expected partial+final WindowGroupLimit:\n" +
        p.linesIterator.take(15).mkString("\n"))
    assert(!p.contains("ntile"),
      "ntile must not ride the rank window — it blocks the pushdown")
    assert(p.contains("BroadcastHashJoin"),
      "the partition-count join must broadcast:\n" +
        p.linesIterator.take(15).mkString("\n"))
  }

  test("llm_dedup_embedding is a grid equi-join: no cross join, no corpus broadcast hint") {
    // The exact pair scan must distribute as block-grid equi-join cells.
    // (AQE may still size-pick a broadcast build for the tiny test
    // corpus — that's the planner's call and vanishes at scale; what
    // must never appear is a nested-loop/cartesian shape.)
    val p = planString(run("llm_dedup_embedding"))
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop pair scan")
    assert(!p.contains("CartesianProduct"), "cartesian pair scan")
  }

  test("dyn_index_predicated answers via broadcast semi-join (primary never shuffles)") {
    val p = planString(run("dyn_index_predicated"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.linesIterator.take(10).mkString("\n"))
  }

  test("ql_with_index_string: the QL string's WITH INDEX produces the " +
      "index-scan + semi-join plan (not a dropped hint)") {
    val p = planString(run("ql_with_index_string"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.linesIterator.take(12).mkString("\n"))
  }

  test("yql_sql_script: the lowered YQL script plans shuffle-free with " +
      "filters pushed to the parquet scan") {
    val df = run("yql_sql_script")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // named-subselect filters reach the scan ($min_chars / $max_id)
    assert(formatted.contains("GreaterThanOrEqual(n_chars,50)") &&
      formatted.contains("LessThan(doc_id,300)"),
      formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    // bindings + lambdas + FLATTEN BY + WITHOUT lower to one
    // map-side stage: projection + explode, zero exchanges
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.isEmpty, s"expected no shuffle, got ${exchanges.length}")
  }

  test("yql_sql_reduce: REDUCE lowers to ONE partial/final hash aggregation " +
      "with a single exchange; the DECLARE'd limit reaches the scan") {
    val df = run("yql_sql_reduce")
    val p = planString(df)
    // the grouped-stream verb = Spark's distributed reduce: partial
    // (map-side combine) + final agg around exactly one shuffle, no
    // window, no global sort (PRESORT is per-group array_sort)
    assert("ObjectHashAggregate|HashAggregate|SortAggregate".r
      .findAllIn(p).length >= 2, p.linesIterator.take(8).mkString("\n"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("Sort "),
      "PRESORT must not become a global sort or window")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("LessThan(doc_id,400)"),
      formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("llm_dedup_embedding_lsh candidate join carries ids only (vectors fetched post-join)") {
    val p = run("llm_dedup_embedding_lsh").queryExecution.optimizedPlan.toString
    // the chunk-bucket self-join must not project the embedding arrays;
    // they come back via the candidate→vector joins afterwards
    val joinSection = p.linesIterator.dropWhile(!_.contains("Join"))
      .takeWhile(!_.contains("Relation")).take(12).mkString("\n")
    assert(!joinSection.contains("vec#") || joinSection.contains("id_a"),
      "candidate join should be id-only:\n" + joinSection)
  }

  test("ORDER BY on an Any column sorts on the binary key, not a comparator UDF") {
    import spark.implicits._
    import graft.types.YtTypes._
    import scala.jdk.CollectionConverters._
    val schema = YtSchema(Seq(YtColumn("a", YtAny))).toStructType
    val df = spark.createDataFrame(
      Seq("[1,2,3]", "[0]", "[2,4]").map(v => org.apache.spark.sql.Row(v)).asJava, schema)
    val sorted = graft.ql.SelectRows(spark,
      "a from [//tmp/anyplan] order by a limit 10", Map("//tmp/anyplan" -> df))
    sorted.collect()
    val plan = planString(sorted)
    // the sort key is the order-isomorphic byte encoding (codegen'd
    // expression), so the top-k/sort machinery runs on plain binary —
    // range-partitionable at scale, no row-by-row comparator calls
    assert(plan.contains("anysortkey") || plan.contains("AnySortKey"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"), plan)
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // CommonKeyPrefix (query.h:345): both sides stored bucketed+sorted
    // on the join key merge locally per bucket — zero shuffle.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = (0L until 2000L).map(i => (i % 97, i)).toDF("k", "va")
    val b = (0L until 2000L).map(i => (i % 89, i * 2)).toDF("k", "vb")
    // a prior JVM's in-memory catalog is gone but its warehouse files
    // persist; clear both so saveAsTable can re-create
    Seq("bkt_a", "bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    graft.sources.Tables.writeBucketed(a, "bkt_a", 8, Seq("k"))
    graft.sources.Tables.writeBucketed(b, "bkt_b", 8, Seq("k"))
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        .groupBy("k").agg(sum("va").as("sa"), sum("vb").as("sb"))
      j.count()
      val p = planString(j)
      assert(p.contains("SortMergeJoin"), p.linesIterator.take(6).mkString("\n"))
      assert(!p.contains("Exchange"),
        "bucketed join must not shuffle:\n" + p.linesIterator.take(20).mkString("\n"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("llm_dedup_minhash band join carries ids only (no shingle arrays through the shuffle)") {
    val p = run("llm_dedup_minhash").queryExecution.optimizedPlan.toString
    // the self-join inputs must not project the shingle array column
    val joinSection = p.linesIterator.dropWhile(!_.contains("Join")).take(30).mkString("\n")
    assert(!joinSection.contains("sh#") || joinSection.contains("doc_id"),
      "band join should be id-only")
  }

  test("ql_agg_dict_sum aggregates partially before the exchange (object hash agg)") {
    val df = run("ql_agg_dict_sum")
    val p = planString(df)
    // the dict merge must run map-side: partial ObjectHashAggregate below
    // the exchange, final above — shuffled bytes are per-key dictionaries,
    // not raw rows
    assert(p.contains("ObjectHashAggregate"), p.linesIterator.take(8).mkString("\n"))
    val idxPartial = p.indexOf("partial_dictsumagg")
    val idxExchange = p.indexOf("Exchange hashpartitioning")
    assert(idxPartial >= 0 && idxExchange >= 0 && idxExchange < idxPartial,
      "expected partial dict_sum BELOW the exchange:\n" +
        p.linesIterator.take(20).mkString("\n"))
  }

  test("tdigest sketches build map-side: partial agg below the exchange") {
    val df = run("yql_agg_tdigest")
    val p = planString(df)
    // the sketch must build per-partition and MERGE across the exchange
    // — shuffled bytes are KB sketches, not raw doubles (the whole
    // design point of a mergeable quantile sketch at 100 TB)
    assert(p.contains("ObjectHashAggregate"), p.linesIterator.take(8).mkString("\n"))
    val idxPartial = p.indexOf("partial_tdigestagg")
    val idxExchange = p.indexOf("Exchange hashpartitioning")
    assert(idxPartial >= 0 && idxExchange >= 0 && idxExchange < idxPartial,
      "expected partial tdigest BELOW the exchange:\n" +
        p.linesIterator.take(20).mkString("\n"))
  }

  test("bloom decontamination probes grams below the exchange") {
    val df = run("llm_decontaminate_bloom")
    val p = planString(df)
    // the Bloom probe must prune the exploded gram stream BEFORE any
    // exchange/join — that pre-shuffle cut is the operator's entire
    // reason to exist at 100 TB
    val idxProbe = p.indexOf("bloomprobe")
    val idxExchange = p.indexOf("Exchange")
    assert(idxProbe >= 0, "BloomProbe missing from the plan:\n" +
      p.linesIterator.take(15).mkString("\n"))
    assert(idxExchange >= 0 && idxProbe > idxExchange,
      "expected the bloom probe BELOW the exchange:\n" +
        p.linesIterator.take(20).mkString("\n"))
  }

  test("hashSample filter is evaluated at the scan, not after a shuffle") {
    val sampled = graft.operators.Operations.hashSample(
      sources.Tables.load(spark, sfDir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), 0.1, 42L)
      .groupBy("l_returnflag").count()
    sampled.count()
    val p = planString(sampled)
    // the sample predicate must sit below the aggregation's exchange —
    // at 100 TB the whole point of sampling is to shrink BEFORE shuffling
    val idxFilter = p.indexOf("Filter")
    val idxExchange = p.indexOf("Exchange")
    assert(idxFilter > idxExchange && idxExchange >= 0,
      "sample filter should be below (printed after) the exchange:\n" +
        p.linesIterator.take(15).mkString("\n"))
  }

  test("weightedMixture is shuffle-free: epochs stream map-side") {
    val mixed = graft.operators.Mixture.weightedMixture(
      sources.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "source"),
      "source", Seq("doc_id"), Map("src0" -> 2.5, "src1" -> 0.5))
    mixed.count()
    val p = planString(mixed)
    // replication must not cost an exchange — at 100 TB the mixture is
    // a pass-through transform feeding the next stage's shuffle
    assert(!p.contains("Exchange"), p.linesIterator.take(12).mkString("\n"))
  }

  test("packSequences costs exactly one exchange (the bucket hash)") {
    val in = sources.Tables.load(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(
          org.apache.spark.sql.functions.col("text")).as("tokens"))
      .withColumn("bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(8)))
    val packed = graft.operators.Packing.packSequences(
      in, "bucket", "doc_id", "tokens", 512)
    packed.count()
    val p = planString(packed)
    assert("Exchange".r.findAllIn(p).size == 1,
      p.linesIterator.take(12).mkString("\n"))
  }

  test("shuffleShards costs exactly one exchange (the shard prefix)") {
    val sharded = graft.operators.Mixture.shuffleShards(
      sources.Tables.load(spark, sfDir, "documents").select("doc_id"),
      Seq("doc_id"), salt = "plan", nibbles = 1)
    sharded.count()
    val p = planString(sharded)
    assert("Exchange".r.findAllIn(p).size == 1,
      p.linesIterator.take(12).mkString("\n"))
  }

  test("scan-speed text operators add no exchange: gopher rules, chunk " +
      "windows, span rebuild") {
    // each of these must ride the document scan — a shuffle here would
    // re-move the whole corpus at 100 TB for a per-row computation
    for (name <- Seq("llm_gopher_rules", "llm_chunk_windows")) {
      val p = planString(run(name))
      assert(!p.contains("Exchange"), s"$name must be map-side only:\n" +
        p.linesIterator.take(10).mkString("\n"))
    }
    // dedup_spans: the returned rebuild pass carries the hot sliver in
    // its closure — scan + projection only (the count pass is a separate
    // job that already ran during construction)
    val p = planString(run("llm_dedup_spans"))
    assert(!p.contains("Exchange"), "span rebuild must not shuffle:\n" +
      p.linesIterator.take(10).mkString("\n"))
  }

  test("llm_weighted_sample is one top-k over the scan, never a global sort") {
    val p = planString(run("llm_weighted_sample"))
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Exchange rangepartitioning"),
      "A-Res must not range-shuffle the corpus")
  }

  test("llm_dedup_semantic: map-side assignment, no cartesian shapes") {
    val p = planString(run("llm_dedup_semantic"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(12).mkString("\n"))
  }

  test("CBO with catalog statistics reorders a star join by cost, not " +
      "by query text (SURVEY §4.2 DPhyp ⇒ CostBasedJoinReorder)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    sources.Tables.analyzeAll(spark, sfDir,
      tables = Seq("lineitem", "orders", "part"), suffix = "_cbo")
    try {
      // exact stats flow from ANALYZE into the reads
      val liStats = spark.table("lineitem_cbo")
        .queryExecution.optimizedPlan.stats
      assert(liStats.rowCount.isDefined && liStats.rowCount.get.toLong > 0)

      // written order joins the BIG dim first; the selective filter on
      // part makes (lineitem ⋈ part) the cheaper inner join
      val sql = """
        SELECT count(*) AS cnt
        FROM lineitem_cbo l
        JOIN orders_cbo o ON l.l_orderkey = o.o_orderkey
        JOIN part_cbo p ON l.l_partkey = p.p_partkey
        WHERE p.p_partkey < 20"""
      def innermostJoinTables(plan: LogicalPlan): Set[String] = {
        val joins = plan.collect { case j: Join => j }
        val deepest = joins.minBy(j => j.collect { case x: Join => x }.size)
        deepest.collectLeaves().map(_.toString).toSet
      }
      val cboPlan = spark.sql(sql).queryExecution.optimizedPlan
      assert(innermostJoinTables(cboPlan).exists(_.contains("part_cbo")),
        s"CBO must join the filtered dim first:\n$cboPlan")

      spark.conf.set("spark.sql.cbo.enabled", "false")
      val textPlan = spark.sql(sql).queryExecution.optimizedPlan
      assert(!innermostJoinTables(textPlan).exists(_.contains("part_cbo")),
        s"without CBO the text order (orders first) should survive:\n$textPlan")

      // same rows either way
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val a = spark.sql(sql).collect().head.getLong(0)
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val b = spark.sql(sql).collect().head.getLong(0)
      assert(a == b && a > 0)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      Seq("lineitem", "orders", "part").foreach(n =>
        spark.sql(s"DROP TABLE IF EXISTS ${n}_cbo"))
    }
  }

  test("embedding LSH band join materializes the banded stream ONCE " +
      "(ReusedExchange, the sf100 disk-exhaustion fix)") {
    // The band self-join's two inputs must be projections of the SAME
    // repartition-by-bucket exchange: two independent exchanges write
    // the m·n-row banded stream twice, which exhausted the sf100 soak
    // host's disk (SCALING.md, round 9). Checked without AQE — the
    // non-adaptive planner shows the ReusedExchange node statically;
    // AQE reuses the same stage by the same canonical-plan equality.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.functions.col
      val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      val df = graft.operators.Dedup.embeddingCosinePairsLsh(
        emb, "vec_id", "embedding", dim = 64, threshold = 0.9)
      val p = df.queryExecution.executedPlan.toString
      assert("ReusedExchange".r.findAllIn(p).nonEmpty,
        "band join must reuse the banded-stream exchange:\n" +
          p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
      // a ReusedExchange line echoes the original exchange's text, so
      // count only the lines that MATERIALIZE (non-reuse) the stream
      val real = p.split("\n").count(l =>
        l.contains("REPARTITION_BY_COL") && !l.contains("ReusedExchange"))
      assert(real == 1,
        s"exactly one materialization of the banded stream, got $real")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
