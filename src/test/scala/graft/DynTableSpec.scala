package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.DynTable

/** Sorted/ordered dynamic-table merge semantics (SURVEY.md §2.C) on
  * hand-built logs where the expected merge is computable by eye.
  */
class DynTableSpec extends SparkSpec {
  import spark.implicits._

  // (k, ts, op, v, s): key 1 = plain overwrites; key 2 = tombstone in
  // the middle; key 3 = tombstone last.
  private lazy val log = Seq(
    (1L, 1L, "upsert", 10.0, "a"),
    (1L, 3L, "upsert", 20.0, "b"),
    (2L, 1L, "upsert", 5.0, "x"),
    (2L, 2L, "delete", 0.0, null),
    (2L, 4L, "upsert", 7.0, "y"),
    (2L, 5L, "upsert", 9.0, "z"),
    (3L, 1L, "upsert", 1.0, "q"),
    (3L, 6L, "delete", 0.0, null)
  ).toDF("k", "ts", "op", "v", "s")

  test("readLatest: latest-wins, tombstoned key dropped") {
    val got = DynTable.readLatest(log, Seq("k")).orderBy("k").collect()
    assert(got.toSeq == Seq(Row(1L, 20.0, "b"), Row(2L, 9.0, "z")))
  }

  test("readAsOf: versioned read cuts history before merging") {
    val got = DynTable.readAsOf(log, Seq("k"), lit(3L)).orderBy("k").collect()
    // at ts<=3: key1 → (20.0,b); key2 deleted at ts=2; key3 → (1.0,q)
    assert(got.toSeq == Seq(Row(1L, 20.0, "b"), Row(3L, 1.0, "q")))
  }

  test("lookup: point read by key") {
    val got = DynTable.lookup(log, Seq("k"), Seq(Seq(2L))).collect()
    assert(got.toSeq == Seq(Row(2L, 9.0, "z")))
  }

  test("readLatestColumns: partial upserts merge per column with $timestamp: reads (test_query.py:2183 test_versioned_select)") {
    // the reference fixture: full write at ts=1 (v1..v5 = a, v4=1),
    // update=True of (v1,v3)=b at ts=2, update=True of (v2,v5)=c at ts=3
    val plog = Seq(
      (1L, 1L, "upsert", "a", "a", "a", 1L, "a", null),
      (1L, 2L, "upsert", "b", null, "b", 0L, null, Seq("v1", "v3")),
      (1L, 3L, "upsert", null, "c", null, 0L, "c", Seq("v2", "v5"))
    ).toDF("k", "ts", "op", "v1", "v2", "v3", "v4", "v5", "written")

    val row = DynTable.readLatestColumns(plog, Seq("k"), withTimestamps = true)
      .collect().head
    assert(row.getAs[String]("v1") == "b" && row.getAs[String]("v2") == "c" &&
      row.getAs[String]("v3") == "b" && row.getAs[Long]("v4") == 1L &&
      row.getAs[String]("v5") == "c")
    // per-column timestamps: v4 < (v1 = v3) < (v2 = v5)
    def ts(c: String) = row.getAs[Long](s"$$timestamp:$c")
    assert(ts("v4") < ts("v1") && ts("v1") == ts("v3") &&
      ts("v3") < ts("v2") && ts("v2") == ts("v5"))

    // versioned read at the first timestamp: the original full row,
    // all column timestamps equal
    val at1 = DynTable.readAsOfColumns(plog, Seq("k"), lit(1L), withTimestamps = true)
      .collect().head
    assert(Seq("v1", "v2", "v3", "v5").forall(at1.getAs[String](_) == "a") &&
      at1.getAs[Long]("v4") == 1L)
    assert(Seq("v1", "v2", "v3", "v4", "v5")
      .map(c => at1.getAs[Long](s"$$timestamp:$c")).distinct.size == 1)

    // a tombstone cuts every older column write; a later partial write
    // resurrects the row with only its columns
    val withDel = plog.union(Seq(
      (1L, 4L, "delete", null, null, null, 0L, null, null),
      (1L, 5L, "upsert", null, "z", null, 0L, null, Seq("v2"))
    ).toDF("k", "ts", "op", "v1", "v2", "v3", "v4", "v5", "written"))
    val after = DynTable.readLatestColumns(withDel, Seq("k")).collect().head
    assert(after.getAs[String]("v2") == "z")
    assert(after.isNullAt(after.fieldIndex("v1")) &&
      after.isNullAt(after.fieldIndex("v3")) &&
      after.isNullAt(after.fieldIndex("v4")) &&
      after.isNullAt(after.fieldIndex("v5")))

    // delete last → key gone
    val gone = DynTable.readLatestColumns(plog.union(Seq(
      (1L, 9L, "delete", null, null, null, 0L, null, null)
    ).toDF("k", "ts", "op", "v1", "v2", "v3", "v4", "v5", "written")), Seq("k"))
    assert(gone.count() == 0)
  }

  test("readWithAggregates: sum-merge folds only past the tombstone") {
    val got = DynTable.readWithAggregates(log, Seq("k"), Map("v" -> "sum"))
      .orderBy("k").collect()
    // key1: 10+20=30, s latest "b"; key2: post-delete 7+9=16, s "z";
    // key3 tombstoned away.
    assert(got.toSeq == Seq(Row(1L, "b", 30.0), Row(2L, "z", 16.0)))
  }

  test("readWithAggregates: min/max/first merge functions") {
    val minGot = DynTable.readWithAggregates(log, Seq("k"), Map("v" -> "min"))
      .orderBy("k").select("v").as[Double].collect()
    assert(minGot.toSeq == Seq(10.0, 7.0))
    val firstGot = DynTable.readWithAggregates(log, Seq("k"), Map("v" -> "first"))
      .orderBy("k").select("v").as[Double].collect()
    assert(firstGot.toSeq == Seq(10.0, 7.0))
    val maxGot = DynTable.readWithAggregates(log, Seq("k"), Map("v" -> "max"))
      .orderBy("k").select("v").as[Double].collect()
    assert(maxGot.toSeq == Seq(20.0, 9.0))
  }

  test("readWithAggregates: aggregate=%false overwrites the accumulated state " +
      "(test_aggregate_columns.py:180-190)") {
    // the reference's tail sequence: ...aggregate accumulates to 30,
    // then a NON-aggregate write resets to 10, an aggregate write sums
    // to 20, and a final non-aggregate write resets to 10 again
    val l = Seq(
      (1L, 16L, "upsert", true, Some(10L)),
      (1L, 17L, "upsert", true, Some(10L)),
      (1L, 18L, "upsert", true, Some(10L)),
      (1L, 19L, "upsert", false, Some(10L)),
      (1L, 20L, "upsert", true, Some(10L)),
      (1L, 21L, "upsert", false, Some(10L))
    ).toDF("k", "ts", "op", "agg", "v")
    val at18 = DynTable.readWithAggregates(l.where($"ts" <= 18), Seq("k"),
      Map("v" -> "sum")).select("v").as[Long].collect()
    assert(at18.toSeq == Seq(30L))
    val at19 = DynTable.readWithAggregates(l.where($"ts" <= 19), Seq("k"),
      Map("v" -> "sum")).select("v").as[Long].collect()
    assert(at19.toSeq == Seq(10L))
    val at20 = DynTable.readWithAggregates(l.where($"ts" <= 20), Seq("k"),
      Map("v" -> "sum")).select("v").as[Long].collect()
    assert(at20.toSeq == Seq(20L))
    val at21 = DynTable.readWithAggregates(l, Seq("k"), Map("v" -> "sum"))
      .select("v").as[Long].collect()
    assert(at21.toSeq == Seq(10L))
  }

  test("readWithAggregates: a null aggregate cell leaves the state unchanged " +
      "(test_aggregate_update.py)") {
    // insert {key,time=1} (no value) → null; {time=2,value=10} → 10;
    // {time=3} (no value) → still 10, with time latest-wins at 3
    val l = Seq(
      (1L, 1L, "upsert", Some(1L), None: Option[Long]),
      (1L, 2L, "upsert", Some(2L), Some(10L)),
      (1L, 3L, "upsert", Some(3L), None)
    ).toDF("k", "ts", "op", "time", "v")
    for ((fn, expect) <- Seq("sum" -> 10L, "min" -> 10L, "max" -> 10L,
        "first" -> 10L)) {
      val got = DynTable.readWithAggregates(l, Seq("k"), Map("v" -> fn))
        .select("time", "v").collect()
      assert(got.toSeq == Seq(Row(3L, expect)), fn)
    }
    // and at ts<=1 the value is genuinely null
    val early = DynTable.readWithAggregates(l.where($"ts" <= 1), Seq("k"),
      Map("v" -> "sum")).select("v").collect()
    assert(early.head.isNullAt(0))
  }

  test("readWithAggregates: min folds pairwise; null writes never poison " +
      "(test_aggregate_min_max.py)") {
    val l = Seq(
      (1L, 1L, "upsert", Some(10L)), (2L, 1L, "upsert", Some(20L)),
      (3L, 1L, "upsert", None: Option[Long]),
      (1L, 2L, "upsert", Some(30L)), (2L, 2L, "upsert", Some(40L)),
      (3L, 2L, "upsert", None)
    ).toDF("k", "ts", "op", "v")
    val got = DynTable.readWithAggregates(l, Seq("k"), Map("v" -> "min"))
      .agg(org.apache.spark.sql.functions.max("v")).as[Long].collect()
    assert(got.toSeq == Seq(20L))
  }

  test("readWithAggregates: first keeps the oldest surviving value " +
      "(test_aggregate_first.py)") {
    val l = Seq(
      (1L, 1L, "upsert", Some(1L), Some(10L)),
      (1L, 2L, "upsert", Some(2L), Some(20L))
    ).toDF("k", "ts", "op", "time", "v")
    val got = DynTable.readWithAggregates(l, Seq("k"), Map("v" -> "first"))
      .select("time", "v").collect()
    assert(got.toSeq == Seq(Row(2L, 10L))) // time latest-wins, value first
  }

  test("readWithAggregates: dict_sum merges YSON dicts recursively with " +
      "zero-pruning (test_aggregate_columns.py:469 test_aggregate_dict_sum)") {
    // the reference fixture verbatim, Any values as the canonical-JSON
    // carrier (sorted keys); ts orders the writes
    val l = Seq(
      // initial non-aggregate inserts: key 1 no value, key 2 a deep dict
      (1L, 1L, "upsert", false, None: Option[String]),
      (2L, 1L, "upsert", false,
        Some("""{"a":11,"b":{"c":{"d":7}},"e":{"f":{"g":13}},"h":5}""")),
      // aggregate=True writes: key 1 state null → delta; key 2 merges
      (1L, 2L, "upsert", true, Some("""{"a":3}""")),
      (2L, 2L, "upsert", true, Some("""{"a":3,"b":{"c":{"d":17}}}""")),
      // negative deltas: a and b.c.d sum to 0 → pruned incl. emptied b
      (2L, 3L, "upsert", true, Some("""{"a":-14,"b":{"c":{"d":-24}}}""")),
      // non-aggregate write overwrites the accumulated state
      (2L, 4L, "upsert", false, Some("""{"h":25,"q":1}"""))
    ).toDF("k", "ts", "op", "agg", "v")
    def at(ts: Long): Map[Long, Option[String]] =
      DynTable.readWithAggregates(l.where($"ts" <= ts), Seq("k"),
          Map("v" -> "dict_sum"))
        .select("k", "v").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(at(1L) == Map(1L -> None,
      2L -> Some("""{"a":11,"b":{"c":{"d":7}},"e":{"f":{"g":13}},"h":5}""")))
    assert(at(2L) == Map(1L -> Some("""{"a":3}"""),
      2L -> Some("""{"a":14,"b":{"c":{"d":24}},"e":{"f":{"g":13}},"h":5}""")))
    assert(at(3L) == Map(1L -> Some("""{"a":3}"""),
      2L -> Some("""{"e":{"f":{"g":13}},"h":5}""")))
    assert(at(4L) == Map(1L -> Some("""{"a":3}"""),
      2L -> Some("""{"h":25,"q":1}""")))
  }

  test("dict_sum merge edge rules: non-map delta keeps state, non-map state " +
      "nulls, type mismatch abandons the whole merge (cg_routines.cpp:3313)") {
    import graft.functions.DictSumMerge
    import org.apache.spark.sql.functions.lit
    def m(s: String, d: String): Option[String] = {
      val c = DictSumMerge(
        if (s == null) lit(null).cast("string") else lit(s),
        if (d == null) lit(null).cast("string") else lit(d))
      Option(spark.range(1).select(c.as("r")).collect().head.getString(0))
    }
    assert(m("""{"a":1}""", "3") == Some("""{"a":1}"""))      // delta not map
    assert(m("""{"a":1}""", null) == Some("""{"a":1}"""))     // delta null
    assert(m(null, """{"a":1}""") == Some("""{"a":1}"""))     // state null
    assert(m("7", """{"a":1}""") == None)                     // state not map
    // int+string mismatch anywhere abandons EVERYTHING (even the parts
    // already merged) and returns the pre-merge state
    assert(m("""{"a":1,"b":"x"}""", """{"a":5,"b":"y"}""") ==
      Some("""{"a":1,"b":"x"}"""))
    // deep zero-pruning removes emptied ancestors
    assert(m("""{"p":{"q":{"r":2}},"z":1}""", """{"p":{"q":{"r":-2}}}""") ==
      Some("""{"z":1}"""))
  }

  test("readWithAggregates: an unknown aggregate kind raises " +
      "(test_invalid_aggregate.py)") {
    val e = intercept[IllegalArgumentException] {
      DynTable.readWithAggregates(log, Seq("k"), Map("v" -> "avg"))
    }
    assert(e.getMessage.contains("Invalid aggregate function"))
  }

  test("withOffsets + pullQueue: offset-window read of one tablet") {
    val df = (0L until 40L).map(i => (i, s"e$i")).toDF("id", "payload")
    val ordered = DynTable.withOffsets(df, pmod(col("id"), lit(4)), Seq(col("id")))
    val pulled = DynTable.pullQueue(ordered, 1, 2L, 3L)
      .orderBy("row_index").select("id").as[Long].collect()
    // tablet 1 holds ids 1,5,9,13,... ; offsets 2..4 → ids 9,13,17
    assert(pulled.toSeq == Seq(9L, 13L, 17L))
  }

  test("consumer registry: advance is an upsert, pull resumes at the offset") {
    val df = (0L until 40L).map(i => (i, s"e$i")).toDF("id", "payload")
    val ordered = DynTable.withOffsets(df, pmod(col("id"), lit(4)), Seq(col("id")))
    var reg = DynTable.emptyConsumerRegistry(spark)
    // unregistered consumer starts at 0
    assert(DynTable.consumerOffset(reg, "c1", 1L) == 0L)
    val first = DynTable.pullForConsumer(ordered, reg, "c1", 1, 2L)
      .orderBy("row_index").select("id").as[Long].collect()
    assert(first.toSeq == Seq(1L, 5L))
    // advance past the consumed window; a later advance supersedes
    reg = DynTable.advanceConsumer(reg, "c1", 1L, 2L, ts = 10L)
    reg = DynTable.advanceConsumer(reg, "c1", 1L, 4L, ts = 20L)
    assert(DynTable.consumerOffset(reg, "c1", 1L) == 4L)
    val resumed = DynTable.pullForConsumer(ordered, reg, "c1", 1, 2L)
      .orderBy("row_index").select("id").as[Long].collect()
    assert(resumed.toSeq == Seq(17L, 21L))
    // other consumers are independent
    assert(DynTable.consumerOffset(reg, "c2", 1L) == 0L)
  }

  test("compact: equivalent minimal log — latest-wins reads agree before and " +
      "after, with and without future writes") {
    val compacted = DynTable.compact(log, Seq("k"))
    // minimal: one upsert per live key, tombstoned key 3 gone
    assert(compacted.count() == 2 &&
      compacted.where($"op" =!= "upsert").count() == 0)
    val before = DynTable.readLatest(log, Seq("k")).orderBy("k").collect().toSeq
    val after = DynTable.readLatest(compacted, Seq("k")).orderBy("k").collect().toSeq
    assert(before == after)
    // future writes above the log's versions: overwrite key 1,
    // tombstone key 2, resurrect key 3
    val future = Seq(
      (1L, 10L, "upsert", 50.0, "n"),
      (2L, 11L, "delete", 0.0, null),
      (3L, 12L, "upsert", 4.0, "r")
    ).toDF("k", "ts", "op", "v", "s")
    val full = DynTable.readLatest(log.unionByName(future), Seq("k"))
      .orderBy("k").collect().toSeq
    val comp = DynTable.readLatest(compacted.unionByName(future), Seq("k"))
      .orderBy("k").collect().toSeq
    assert(full == comp && full == Seq(Row(1L, 50.0, "n"), Row(3L, 4.0, "r")))
  }

  test("compact: aggregate columns fold to an overwrite base that future " +
      "deltas keep folding onto") {
    val l = Seq(
      (1L, 1L, "upsert", true, Some(10L)),
      (1L, 2L, "upsert", true, Some(10L)),
      (2L, 1L, "upsert", true, Some(5L)),
      (2L, 2L, "delete", true, None),
      (2L, 3L, "upsert", true, Some(7L)),
      (3L, 1L, "upsert", true, Some(1L)),
      (3L, 2L, "delete", true, None)
    ).toDF("k", "ts", "op", "agg", "v")
    val compacted = DynTable.compact(l, Seq("k"), Map("v" -> "sum"))
    // the folded state is written with the overwrite flag
    assert(compacted.where($"agg" === false).count() == compacted.count())
    val future = Seq(
      (1L, 10L, "upsert", true, Some(3L)), // delta on compacted base 20
      (2L, 11L, "upsert", false, Some(100L)), // overwrite write
      (3L, 12L, "upsert", true, Some(2L)) // fresh after tombstone
    ).toDF("k", "ts", "op", "agg", "v")
    val full = DynTable.readWithAggregates(l.unionByName(future), Seq("k"),
      Map("v" -> "sum")).orderBy("k").collect().toSeq
    val comp = DynTable.readWithAggregates(compacted.unionByName(future),
      Seq("k"), Map("v" -> "sum")).orderBy("k").collect().toSeq
    assert(full == comp && full == Seq(Row(1L, 23L), Row(2L, 100L), Row(3L, 2L)))
  }

  test("compact: a partial-update mask compacts to a full write") {
    val plog = Seq(
      (1L, 1L, "upsert", "a", "a", null),
      (1L, 2L, "upsert", "b", null, Seq("v1")),
      (2L, 1L, "upsert", "x", "y", null)
    ).toDF("k", "ts", "op", "v1", "v2", "written")
    val compacted = DynTable.compact(plog, Seq("k"))
    assert(compacted.where($"written".isNotNull).count() == 0)
    val future = Seq((1L, 10L, "upsert", null.asInstanceOf[String], "c", Seq("v2")))
      .toDF("k", "ts", "op", "v1", "v2", "written")
    val full = DynTable.readLatestColumns(plog.unionByName(future), Seq("k"))
      .orderBy("k").collect().toSeq
    val comp = DynTable.readLatestColumns(compacted.unionByName(future), Seq("k"))
      .orderBy("k").collect().toSeq
    assert(full == comp && full == Seq(Row(1L, "b", "c"), Row(2L, "x", "y")))
  }

  test("producer session: retry dedup, epoch fencing, resume from stored seq") {
    val rows = (0L until 10L).map(i => (i, s"p$i")).toDF("seq", "payload")
    val queue0 = rows.limit(0)
    val (p1, e0, s0) = DynTable.createProducerSession(
      DynTable.emptyProducer(spark), "host-1", 1L)
    assert(e0 == 0L && s0 == -1L) // fresh session
    val r1 = DynTable.pushQueueProducer(queue0, p1, "host-1", e0,
      rows.where($"seq" < 5), "seq", 2L)
    assert(r1.lastSequenceNumber == 4L && r1.skippedRowCount == 0L)
    // exact retry: nothing appends, every row reported skipped
    val r2 = DynTable.pushQueueProducer(r1.queue, r1.producer, "host-1", e0,
      rows.where($"seq" < 5), "seq", 3L)
    assert(r2.queue.count() == 5 && r2.skippedRowCount == 5L)
    // overlapping retry: only the fresh suffix appends
    val r3 = DynTable.pushQueueProducer(r2.queue, r2.producer, "host-1", e0,
      rows.where($"seq" >= 3 && $"seq" < 8), "seq", 4L)
    val (q3, p4) = (r3.queue, r3.producer)
    assert(q3.count() == 8 && q3.select("seq").distinct().count() == 8)
    assert(r3.skippedRowCount == 2L && r3.lastSequenceNumber == 7L)
    // restart: epoch bumps, seq carries over; the zombie is fenced
    val (p5, e1, s1) = DynTable.createProducerSession(p4, "host-1", 5L)
    assert(e1 == 1L && s1 == 7L)
    intercept[IllegalStateException] {
      DynTable.pushQueueProducer(q3, p5, "host-1", e0, rows, "seq", 6L)
    }
    // unknown future epoch is also rejected
    intercept[IllegalStateException] {
      DynTable.pushQueueProducer(q3, p5, "host-1", e1 + 1, rows, "seq", 6L)
    }
    val q4 = DynTable.pushQueueProducer(q3, p5, "host-1", e1,
      rows, "seq", 7L).queue
    assert(q4.count() == 10)
  }

  test("producer session: auto-sequencing push option and session removal") {
    val rows = (0L until 4L).map(i => (i, s"p$i")).toDF("id", "payload")
    val (p1, e0, _) = DynTable.createProducerSession(
      DynTable.emptyProducer(spark), "h", 1L)
    // start_sequence_number option: rows numbered 17, 18, 19, 20
    val r = DynTable.pushQueueProducerAutoSeq(rows.limit(0).withColumn("seq", lit(0L)),
      p1, "h", e0, rows, $"id", 17L, "seq", 2L)
    assert(r.lastSequenceNumber == 20L && r.skippedRowCount == 0L)
    assert(r.queue.select("seq").as[Long].collect().sorted.toSeq == Seq(17L, 18L, 19L, 20L))
    // removal tombstones the session; recreation restarts at epoch 0
    val p2 = DynTable.removeProducerSession(r.producer, "h", 3L)
    val (_, e1, s1) = DynTable.createProducerSession(p2, "h", 4L)
    assert(e1 == 0L && s1 == -1L)
  }

  test("auto-sequencing numbers a multi-partition batch in order without " +
      "funneling it through one partition") {
    val n = 5000
    val rows = spark.range(n).select(
      (lit(n - 1) - $"id").as("id"), concat(lit("p"), $"id").as("payload"))
      .repartition(8)
    val (p1, e0, _) = DynTable.createProducerSession(
      DynTable.emptyProducer(spark), "h2", 1L)
    val r = DynTable.pushQueueProducerAutoSeq(
      rows.limit(0).withColumn("seq", lit(0L)), p1, "h2", e0, rows,
      $"id", 100L, "seq", 2L)
    assert(r.lastSequenceNumber == 100L + n - 1)
    // seq follows id order exactly
    val got = r.queue.select($"id", $"seq").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.zipWithIndex.forall { case ((id, seq), i) =>
      id == i && seq == 100L + i })
    // no global window in the numbering path: the plan must carry no
    // Window operator and no SinglePartition exchange (AQE may still
    // COALESCE this tiny batch — that's size-based and vanishes at
    // scale; a Window.orderBy would be structural)
    val plan = r.queue.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(600))
    assert(!plan.contains("SinglePartition"), plan.take(600))
  }

  test("consumer registrations: vital flag gates trimming, unregister frees the queue") {
    val ev = (0L until 40L).map(i => (i, i.toString)).toDF("event_id", "v")
    val ordered = DynTable.withOffsets(ev, lit(0L), Seq($"event_id"))
    var reg = DynTable.emptyConsumerRegistry(spark)
    reg = DynTable.advanceConsumer(reg, "slow", 0L, 3L, 1L)
    reg = DynTable.advanceConsumer(reg, "fast", 0L, 30L, 1L)
    var regs = DynTable.emptyRegistrations(spark)
    regs = DynTable.registerConsumer(regs, "q", "slow", vital = true, 1L)
    regs = DynTable.registerConsumer(regs, "q", "fast", vital = false, 2L)
    assert(DynTable.listRegistrations(regs, "q").collect().map(r =>
      r.getString(0) -> r.getBoolean(1)).toMap == Map("slow" -> true, "fast" -> false))
    // only the vital slow consumer holds the trim at 3
    val t1 = DynTable.autoTrimRegistered(ordered, reg, regs, "q", retainedRows = 1L)
    assert(t1.agg(min("row_index")).as[Long].collect().head == 3L)
    // re-register slow as non-vital → no vital consumers → nothing trims
    regs = DynTable.registerConsumer(regs, "q", "slow", vital = false, 3L)
    assert(DynTable.autoTrimRegistered(ordered, reg, regs, "q", 1L).count() == 40)
    // registrations are per-queue; another queue's vital rows don't leak
    regs = DynTable.registerConsumer(regs, "other-q", "slow", vital = true, 4L)
    assert(DynTable.autoTrimRegistered(ordered, reg, regs, "q", 1L).count() == 40)
    // unregister drops the row entirely
    regs = DynTable.unregisterConsumer(regs, "q", "fast", 5L)
    assert(DynTable.listRegistrations(regs, "q").count() == 1)
    // queue stats: one partition, contiguous offsets
    val st = DynTable.queueStats(ordered).collect().head
    assert(st.getLong(1) == 40L && st.getLong(2) == 0L && st.getLong(3) == 39L)
  }

  test("autoTrim: vital-consumer minimum bounds the trim, retained_rows floors it, " +
      "no vital consumers = no trim") {
    val ev = (0L until 100L).map(i => (i, i * 2.0)).toDF("event_id", "value")
    val ordered = DynTable.withOffsets(ev, pmod($"event_id", lit(2)), Seq($"event_id"))
    var reg = DynTable.emptyConsumerRegistry(spark)
    reg = DynTable.advanceConsumer(reg, "c1", 0L, 20L, 1L)
    reg = DynTable.advanceConsumer(reg, "c1", 1L, 45L, 1L)
    reg = DynTable.advanceConsumer(reg, "c2", 0L, 30L, 2L)
    // tablet 0 trims to min(20, 30) = 20; tablet 1 to min(45, 50-5=45)
    val t1 = DynTable.autoTrim(ordered, reg, Seq("c1", "c2"), retainedRows = 5L)
    val mins = t1.groupBy("tablet_index").agg(min("row_index").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mins == Map(0L -> 20L, 1L -> 45L))
    // retained_rows dominates when consumers are far ahead
    val t2 = DynTable.autoTrim(ordered, reg, Seq("c1", "c2"), retainedRows = 40L)
    val mins2 = t2.groupBy("tablet_index").agg(min("row_index").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mins2 == Map(0L -> 10L, 1L -> 10L)) // 50 rows/tablet - 40 retained
    // no vital consumers: nothing drops
    assert(DynTable.autoTrim(ordered, reg, Seq.empty, 5L).count() == 100)
  }

  test("autoTrim retained_lifetime_duration: still-young rows floor the " +
      "trim even when vital consumers are far ahead (test_queue_agent.py)") {
    import java.sql.Timestamp
    // tablet 0, 50 rows, one row per second from t=1000
    val ev = (0L until 50L).map(i =>
      (i, new Timestamp((1000L + i) * 1000L))).toDF("event_id", "ts")
    val ordered = DynTable.withOffsets(ev, lit(0), Seq($"event_id"))
    var reg = DynTable.emptyConsumerRegistry(spark)
    reg = DynTable.advanceConsumer(reg, "c1", 0L, 40L, 1L)
    // now = 1049 (last row's second); lifetime 30s → rows with ts >
    // 1019 are young, first young row_index = 20 → trim capped at 20
    val t = DynTable.autoTrim(ordered, reg, Seq("c1"), retainedRows = 0L,
      retainedLifetime = Some(("ts", 30L, lit(1049L))))
    assert(t.agg(min("row_index")).collect().head.getLong(0) == 20L)
    // huge lifetime: everything is young, nothing trims
    val t2 = DynTable.autoTrim(ordered, reg, Seq("c1"), 0L,
      Some(("ts", 100000L, lit(1049L))))
    assert(t2.count() == 50)
    // expired lifetime: the vital bound (40) applies unchanged
    val t3 = DynTable.autoTrim(ordered, reg, Seq("c1"), 0L,
      Some(("ts", 1L, lit(999999L))))
    assert(t3.agg(min("row_index")).collect().head.getLong(0) == 40L)
  }

  test("queue static export: complete windows only, progress cursor, idempotent retry") {
    import java.sql.Timestamp
    val rows = (0L until 100L).map { i =>
      (i, new Timestamp((1000000L + i * 100L) * 1000L)) // 10 rows per 1000s window
    }
    val q = rows.toDF("id", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-qexport").toString
    // now = 1004500 → upper bound 1004000: windows 1000000..1003000 ship
    val (cur1, prog1) = DynTable.exportQueueRun(q, "ts", dir, 1000L, 1004500L)
    assert(cur1 == 1003000L)
    val p1 = prog1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 == Map(1000000L -> 10L, 1001000L -> 10L, 1002000L -> 10L, 1003000L -> 10L))
    assert(spark.read.parquet(dir).count() == 40)
    // time advances: only the NEW complete window exports past the cursor
    val (cur2, prog2) = DynTable.exportQueueRun(q, "ts", dir, 1000L, 1005500L, cur1)
    assert(cur2 == 1004000L)
    assert(prog2.collect().map(_.getLong(0)).toSeq == Seq(1004000L))
    // earlier exported windows survive the dynamic-partition overwrite
    assert(spark.read.parquet(dir).count() == 50)
    // retry of the same task recreates identical state (idempotent)
    val (cur3, _) = DynTable.exportQueueRun(q, "ts", dir, 1000L, 1005500L, cur1)
    assert(cur3 == 1004000L && spark.read.parquet(dir).count() == 50)
    // a still-open window (rows at 1009900 max; now inside it) never ships
    val taggedAll = DynTable.exportQueuePeriods(q, "ts", 1000L, 1009900L)
    assert(!taggedAll.collect().map(_.getAs[Long]("export_unix_ts")).contains(1009000L))
  }

  test("commitTransaction: atomic commit ts, optimistic row locks abort " +
      "on concurrent writes, deletes stage like writes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "upsert", Some(100.0)),
      (2L, 11L, "upsert", Some(200.0)),
      (3L, 12L, "upsert", Some(300.0))
    ).toDF("k", "ts", "op", "v")
    // txn started at ts 12, stages an update of k=1 and a delete of k=3
    val staged = Seq((1L, "upsert", Some(111.0)), (3L, "delete", None))
      .toDF("k", "op", "v")
    val committed = DynTable.commitTransaction(log, staged, Seq("k"),
      startTs = lit(12L), commitTs = lit(20L))
    val latest = DynTable.readLatest(committed, Seq("k"))
      .as[(Long, Option[Double])].collect().sortBy(_._1)
    assert(latest.toSeq == Seq((1L, Some(111.0)), (2L, Some(200.0))))
    // both staged rows share the commit timestamp
    assert(committed.filter(col("ts") === 20L).count() == 2)

    // a concurrent write to k=1 AFTER the start ts aborts the txn
    val contended = log.unionByName(
      Seq((1L, 15L, "upsert", Some(999.0))).toDF("k", "ts", "op", "v"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val ex = intercept[Exception] {
      DynTable.commitTransaction(contended, staged, Seq("k"),
        startTs = lit(12L), commitTs = lit(20L)).collect()
    }
    assert(messages(ex).exists(_.contains("Row lock conflict")), ex.toString)

    // a concurrent write to an UNRELATED key does not conflict
    val unrelated = log.unionByName(
      Seq((2L, 15L, "upsert", Some(999.0))).toDF("k", "ts", "op", "v"))
    val ok = DynTable.commitTransaction(unrelated, staged, Seq("k"),
      startTs = lit(12L), commitTs = lit(20L))
    assert(DynTable.readLatest(ok, Seq("k"))
      .as[(Long, Option[Double])].collect().sortBy(_._1).toSeq ==
      Seq((1L, Some(111.0)), (2L, Some(999.0))))
  }

  test("commitTransaction column locks: disjoint partial writes commit, " +
      "overlapping masks / full writes / deletes conflict") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // log with masks: concurrent update of ONLY column v1 at ts=15
    val log = Seq(
      (1L, 10L, "upsert", null, Some(1.0), Some(10.0)),
      (1L, 15L, "upsert", Seq("v1"), Some(2.0), None)
    ).toDF("k", "ts", "op", "written", "v1", "v2")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    // txn started at ts=12, writes ONLY v2: disjoint → commits
    val stagedV2 = Seq((1L, "upsert", Seq("v2"), Option.empty[Double], Some(99.0)))
      .toDF("k", "op", "written", "v1", "v2")
    val ok = DynTable.commitTransaction(log, stagedV2, Seq("k"),
      lit(12L), lit(20L))
    val merged = DynTable.readLatestColumns(ok, Seq("k")).collect().head
    assert(merged.getAs[Double]("v1") == 2.0 && merged.getAs[Double]("v2") == 99.0)
    // txn writing v1 overlaps the concurrent v1 write → aborts
    val stagedV1 = Seq((1L, "upsert", Seq("v1"), Some(7.0), Option.empty[Double]))
      .toDF("k", "op", "written", "v1", "v2")
    val ex = intercept[Exception] {
      DynTable.commitTransaction(log, stagedV1, Seq("k"),
        lit(12L), lit(20L)).collect()
    }
    assert(messages(ex).exists(_.contains("Row lock conflict")))
    // a full-write txn (null mask) locks every column → aborts too
    val stagedFull = Seq((1L, "upsert", null: Seq[String], Some(7.0), Some(8.0)))
      .toDF("k", "op", "written", "v1", "v2")
    val ex2 = intercept[Exception] {
      DynTable.commitTransaction(log, stagedFull, Seq("k"),
        lit(12L), lit(20L)).collect()
    }
    assert(messages(ex2).exists(_.contains("Row lock conflict")))
  }

  test("test_transaction_locks block 1 (test_sorted_dynamic_tables.py:275): " +
      "two update=True transactions on disjoint lock columns both commit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, String, Seq[String],
      Option[Long], Option[Long], Option[Long])]
      .toDF("k", "ts", "op", "written", "a", "b", "c")
    // tx1: {key 1, a=1} update=True — commits at ts=1
    val tx1 = Seq((1L, "upsert", Seq("a"), Some(1L),
      Option.empty[Long], Option.empty[Long])).toDF("k", "op", "written", "a", "b", "c")
    val afterTx1 = DynTable.commitTransaction(empty, tx1, Seq("k"),
      lit(0L), lit(1L))
    // tx2 started BEFORE tx1 committed: {key 1, b=2} update=True —
    // lock columns disjoint, so it commits too
    val tx2 = Seq((1L, "upsert", Seq("b"), Option.empty[Long], Some(2L),
      Option.empty[Long])).toDF("k", "op", "written", "a", "b", "c")
    val afterTx2 = DynTable.commitTransaction(afterTx1, tx2, Seq("k"),
      lit(0L), lit(2L))
    val row = DynTable.readLatestColumns(afterTx2, Seq("k")).collect().head
    assert(row.getAs[Long]("a") == 1L && row.getAs[Long]("b") == 2L &&
      row.isNullAt(row.fieldIndex("c")))
  }

  test("commitTransaction shared aggregate locks: concurrent delta writes " +
      "commute and commit; a delta against a plain write conflicts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // aggregate column v (sum); concurrent DELTA at ts=15
    val log = Seq(
      (1L, 10L, "upsert", true, Some(10L)),
      (1L, 15L, "upsert", true, Some(5L))
    ).toDF("k", "ts", "op", "agg", "v")
    val delta = Seq((1L, "upsert", true, Some(3L))).toDF("k", "op", "agg", "v")
    val ok = DynTable.commitTransaction(log, delta, Seq("k"),
      lit(12L), lit(20L))
    val v = DynTable.readWithAggregates(ok, Seq("k"), Map("v" -> "sum"))
      .select("v").as[Long].collect()
    assert(v.toSeq == Seq(18L)) // 10 + 5 + 3: both concurrent deltas land
    // a NON-delta staged write against the concurrent delta conflicts
    val overwrite = Seq((1L, "upsert", false, Some(99L))).toDF("k", "op", "agg", "v")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val ex = intercept[Exception] {
      DynTable.commitTransaction(log, overwrite, Seq("k"),
        lit(12L), lit(20L)).collect()
    }
    assert(messages(ex).exists(_.contains("Row lock conflict")))
  }

  test("commitTransaction: one transaction's disjoint partial writes of a key and its " +
      "aggregate deltas to a key all commit, over held rows and at threshold -1") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    // each result over local rows (held) and with holding off
    def heldAndDistributed[T](body: => T): Seq[T] = {
      val prev = spark.conf.get(threshold)
      Seq(prev, "-1").map { v =>
        spark.conf.set(threshold, v)
        try body finally spark.conf.set(threshold, prev)
      }
    }
    // a full write at ts=10, then one transaction writing v1, then v2, of key 1
    val log = Seq((1L, 10L, "upsert", Some(1.0), Some(10.0))).toDF("k", "ts", "op", "v1", "v2")
    val partial = Seq(
      (1L, "upsert", Seq("v1"), Some(5.0), Option.empty[Double]),
      (1L, "upsert", Seq("v2"), Option.empty[Double], Some(50.0))
    ).toDF("k", "op", "written", "v1", "v2")
    val merged = heldAndDistributed(DynTable.readLatestColumns(
      DynTable.commitTransaction(log, partial, Seq("k"), lit(12L), lit(20L)), Seq("k"))
      .select("k", "v1", "v2").as[(Long, Double, Double)].collect().toSeq)
    assert(merged == Seq.fill(2)(Seq((1L, 5.0, 50.0))))
    // two deltas of key 1 in one transaction both fold into the sum
    val aggLog = Seq((1L, 10L, "upsert", true, Some(10L))).toDF("k", "ts", "op", "agg", "v")
    val deltas = Seq((1L, "upsert", true, Some(3L)), (1L, "upsert", true, Some(4L)))
      .toDF("k", "op", "agg", "v")
    val sums = heldAndDistributed(DynTable.readWithAggregates(
      DynTable.commitTransaction(aggLog, deltas, Seq("k"), lit(12L), lit(20L)), Seq("k"),
      Map("v" -> "sum")).select("v").as[Long].collect().toSeq)
    assert(sums == Seq.fill(2)(Seq(17L)))
  }

  test("lookupKeepMissing: one row per requested key IN REQUEST ORDER, " +
      "nulls for absent and tombstoned keys") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val log = Seq(
      (5L, 1L, "upsert", Some(50.0)),
      (3L, 2L, "upsert", Some(30.0)),
      (3L, 3L, "delete", None) // tombstoned
    ).toDF("k", "ts", "op", "v")
    val got = DynTable.lookupKeepMissing(log, Seq("k"),
      Seq(Seq(3L), Seq(99L), Seq(5L)))
      .as[(Long, Option[Double])].collect().toSeq
    assert(got == Seq((3L, None), (99L, None), (5L, Some(50.0))))
  }

  test("compactWithRetention: docs policies — defaults keep newest + " +
      "recent, (0,1,0,ttl) keeps one version inside the ttl, $ttl overrides") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one key, versions at ts 10..60 (newest 60), now = 100
    val log = (1 to 6).map(i => (1L, i * 10L, "upsert", Some(i * 1.0)))
      .toDF("k", "ts", "op", "v")
    def tsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("ts").as[Long].collect().sorted.toSeq
    // defaults-shaped policy: min=1,max=1,minTtl=35,maxTtl=35 @ now=100
    // prohibitions: newest (60) + age<35 (ts>65: none besides? age=100-ts<35 ⇒ ts>65 — none)
    // permissions: index≥1 OR age>35 ⇒ everything but the newest deletable
    val defaults = DynTable.compactWithRetention(log, Seq("k"),
      1, 1, 35L, 35L, lit(100L))
    assert(tsOf(defaults) == Seq(60L))
    // widen minTtl: versions younger than 45 survive too (ts > 55)
    val recent = DynTable.compactWithRetention(log, Seq("k"),
      1, 1, 45L, 45L, lit(100L))
    assert(tsOf(recent) == Seq(60L))
    val recent2 = DynTable.compactWithRetention(log, Seq("k"),
      1, 1, 55L, 55L, lit(100L))
    assert(tsOf(recent2) == Seq(50L, 60L))
    // docs example: (0, 1, 0, 65) — one version, anything older than 65 goes
    val oneDay = DynTable.compactWithRetention(log, Seq("k"),
      0, 1, 0L, 65L, lit(100L))
    assert(tsOf(oneDay) == Seq(60L))
    // max_data_versions=2 keeps two newest even when past maxTtl... only
    // if minTtl protects them; with no prohibition they may be deleted
    val two = DynTable.compactWithRetention(log, Seq("k"),
      2, 2, 0L, 0L, lit(100L))
    assert(tsOf(two) == Seq(50L, 60L))
    // $ttl column: an explicit per-version ttl prohibits deletion while
    // age < ttl and exempts the version from the max_data_ttl permission
    val ttlLog = Seq(
      (1L, 10L, "upsert", Some(1.0), Some(200L)), // age 90 < ttl 200: survives
      (1L, 20L, "upsert", Some(2.0), None),       // deletable
      (1L, 60L, "upsert", Some(6.0), None)        // newest: kept
    ).toDF("k", "ts", "op", "v", "ttl")
    val withTtl = DynTable.compactWithRetention(ttlLog, Seq("k"),
      1, 1, 0L, 30L, lit(100L), ttlCol = Some("ttl"))
    assert(tsOf(withTtl) == Seq(10L, 60L))
    // latest-wins reads are identical before and after retention with
    // min_data_versions >= 1
    val merged = DynTable.readLatest(defaults, Seq("k"))
      .as[(Long, Option[Double])].collect().toSeq
    assert(merged == DynTable.readLatest(log, Seq("k"))
      .as[(Long, Option[Double])].collect().toSeq)
  }

  test("bulkInsert: atomic shared timestamp, missing columns null, " +
      "versioned reads exclude the op before its commit, duplicate keys raise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "upsert", Some(100.0), Some("A")),
      (2L, 11L, "upsert", Some(200.0), Some("B")),
      (3L, 12L, "delete", None, None)
    ).toDF("k", "ts", "op", "price", "status")
    val opOut = Seq((2L, 999.0), (4L, 400.0)).toDF("k", "price")

    val after = DynTable.bulkInsert(log, opOut, Seq("k"), lit(20L))
    val latest = DynTable.readLatest(after, Seq("k"))
      .as[(Long, Option[Double], Option[String])].collect().sortBy(_._1)
    // k=2 overwritten FULLY (status not in the op output → null);
    // k=4 new; k=3 stays tombstoned
    assert(latest.toSeq == Seq(
      (1L, Some(100.0), Some("A")),
      (2L, Some(999.0), None),
      (4L, Some(400.0), None)))
    // every inserted row carries the one commit timestamp
    val tss = after.filter(col("ts") === 20L).select("k")
      .as[Long].collect().sorted
    assert(tss.toSeq == Seq(2L, 4L))
    // a versioned read BEFORE the commit sees none of the operation
    val before = DynTable.readAsOf(after, Seq("k"), lit(19L))
      .as[(Long, Option[Double], Option[String])].collect().sortBy(_._1)
    assert(before.toSeq == Seq(
      (1L, Some(100.0), Some("A")), (2L, Some(200.0), Some("B"))))
    // duplicate keys in the operation output are an error
    val dup = Seq((5L, 1.0), (5L, 2.0)).toDF("k", "price")
    val ex = intercept[Exception] {
      DynTable.readLatest(
        DynTable.bulkInsert(log, dup, Seq("k"), lit(21L)), Seq("k")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("Duplicate keys in bulk insert")))
  }
}
