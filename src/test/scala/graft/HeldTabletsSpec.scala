package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.DynTable
import graft.plans.{HeldRelation, HeldToLocal, LocalRows, PruneHeldTs}
import graft.sources.Tables

/** Held tablets: DynTable's latest-wins verbs and commit check over a log
  * held on the driver (a small stored table, or client-sized rows)
  * against the distributed merge, which a broadcast threshold of -1
  * forces; and the jobs the held store runs.
  */
class HeldTabletsSpec extends SparkSpec {
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val prev = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try body finally spark.conf.set(Threshold, prev)
  }
  private def distributed[T](body: => T): T = withThreshold("-1")(body)

  /** A seeded log over 40 key tuples: 1–5 versions per key tuple, every
    * `ts` distinct (so each key's latest version is unique), about 15%
    * tombstones, and null `ts`, `op`, values and keys. */
  private def seededLog(seed: Long, keyFields: Seq[StructField],
      key: Int => Seq[Any]): (StructType, Seq[Row]) = {
    val rnd = new Random(seed)
    val schema = StructType(keyFields ++ Seq(
      StructField("ts", LongType), StructField("op", StringType),
      StructField("v", DoubleType), StructField("s", StringType)))
    val slots = (0 until 40).flatMap(i => Seq.fill(1 + rnd.nextInt(5))(key(i)))
    val tss = rnd.shuffle((1L to slots.size.toLong).toVector)
    val rows = slots.zip(tss).map { case (k, t) =>
      val op = rnd.nextInt(20) match {
        case 0 => null
        case 1 | 2 | 3 => DynTable.OpDelete
        case _ => DynTable.OpUpsert
      }
      Row.fromSeq(k ++ Seq(
        if (rnd.nextInt(12) == 0) null else t,
        op,
        if (rnd.nextInt(6) == 0) null else (rnd.nextInt(2000) - 1000) / 8.0,
        if (rnd.nextInt(6) == 0) null else s"s${rnd.nextInt(50)}"))
    }
    (schema, rnd.shuffle(rows))
  }

  /** A seeded log; `range` bounds the first key for a range `where`. */
  private case class Log(name: String, keys: Seq[String], schema: StructType,
      rows: Seq[Row], lookups: Seq[Seq[Any]], range: (Any, Any)) {
    private val tsIdx = keys.size // rows are key..., ts, op, v, s
    def ts(r: Row): Option[Long] = if (r.isNullAt(tsIdx)) None else Some(r.getLong(tsIdx))
    def keyOf(r: Row): Seq[Any] = keys.indices.map(r.get)
    val maxTs: Long = rows.flatMap(ts).max
    val minTs: Long = rows.flatMap(ts).min
    /** Keys whose newest version is a tombstone. */
    val tombstoned: Seq[Seq[Any]] = rows.filter(ts(_).nonEmpty).groupBy(keyOf).values
      .map(_.maxBy(ts(_).get)).filter(_.getString(tsIdx + 1) == DynTable.OpDelete)
      .map(keyOf).filter(_.forall(_ != null)).toSeq
    def client: DataFrame = spark.createDataFrame(rows.asJava, schema)
    lazy val dir: String = {
      val d = Files.createTempDirectory(s"graft-held-$name").toString + "/log"
      client.repartition(3).write.parquet(d)
      d
    }
    def stored: DataFrame = spark.read.parquet(dir)
  }

  private lazy val logs: Seq[Log] = {
    val (ls, lr) = seededLog(11, Seq(StructField("k", LongType)),
      i => Seq(if (i == 39) null else i.toLong - 5))
    val (ss, sr) = seededLog(12, Seq(StructField("k", StringType)),
      i => Seq(if (i == 39) null else s"k$i"))
    val (ts, tr) = seededLog(13, Seq(StructField("a", LongType), StructField("b", StringType)),
      i => Seq(if (i % 13 == 0) null else (i % 7).toLong, if (i == 20) null else s"b${i % 5}"))
    val (ds, dr) = seededLog(14, Seq(StructField("k", DoubleType)),
      i => Seq(if (i == 39) null else Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25)(i % 5)))
    Seq(
      // int literals looked up against the long key, an absent and a null key
      Log("long", Seq("k"), ls, lr, Seq(Seq(3), Seq(7), Seq(-5), Seq(1000), Seq(null)), (2, 20)),
      Log("string", Seq("k"), ss, sr, Seq(Seq("k3"), Seq("k17"), Seq("nope")), ("k1", "k3")),
      Log("pair", Seq("a", "b"), ts, tr,
        Seq(Seq(1L, "b1"), Seq(3L, "b3"), Seq(6L, "b0"), Seq(null, "b1")), (1L, 3L)),
      // NaN and -0.0 keys group as in groupBy; a NaN and a -0.0 probe
      // find them, and NaN sorts above every other double
      Log("double", Seq("k"), ds, dr, Seq(Seq(Double.NaN), Seq(-0.0), Seq(1.5), Seq(null)),
        (-0.0, Double.NaN)))
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Held and distributed frames of one verb: same schema, same rows;
    * the held frame optimizes to a LocalRelation, the distributed one
    * plans an aggregate. */
  private def same(what: String, verb: () => DataFrame): Unit = {
    val held = verb()
    assert(held.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], s"$what: not held")
    val (dSchema, dRows) = distributed {
      val d = verb()
      assert(d.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"$what: not distributed")
      (d.schema, sorted(d))
    }
    assert(held.schema == dSchema, what)
    val hRows = sorted(held)
    assert(hRows.nonEmpty || dRows.isEmpty, what)
    assert(hRows == dRows, what)
  }

  test("held reads equal the distributed merge: readLatest, readAsOf and lookup " +
      "over stored and client-sized logs") {
    for (l <- logs; (form, log) <- Seq("stored" -> (() => l.stored), "client" -> (() => l.client))) {
      val tag = s"${l.name}/$form"
      same(s"$tag readLatest", () => DynTable.readLatest(log(), l.keys))
      Seq(l.maxTs / 3, 2 * l.maxTs / 3).foreach { t =>
        same(s"$tag readAsOf $t", () => DynTable.readAsOf(log(), l.keys, lit(t)))
      }
      same(s"$tag lookup", () => DynTable.lookup(log(), l.keys, l.lookups))
    }
  }

  test("held index reads equal the distributed merge: absent, tombstoned and null " +
      "keys, a range where over readLatest, and cuts below, at and above every version") {
    for (l <- logs; (form, log) <- Seq("stored" -> (() => l.stored), "client" -> (() => l.client))) {
      val tag = s"${l.name}/$form"
      assert(l.tombstoned.nonEmpty, tag)
      same(s"$tag lookup tombstoned", () => DynTable.lookup(log(), l.keys, l.tombstoned :+ l.lookups.head))
      val (lo, hi) = l.range
      same(s"$tag readLatest range", () =>
        DynTable.readLatest(log(), l.keys).where(col(l.keys.head).between(lo, hi)))
      // an int cut against the long ts, and ts values of the log itself
      Seq(lit(0), lit(l.minTs - 1), lit(l.minTs), lit(l.maxTs / 2), lit(l.maxTs),
          lit(l.maxTs + 1), lit(Long.MaxValue)).foreach { t =>
        same(s"$tag readAsOf $t", () => DynTable.readAsOf(log(), l.keys, t))
      }
      same(s"$tag readAsOf range", () =>
        DynTable.readAsOf(log(), l.keys, lit(l.maxTs / 2)).where(col(l.keys.head).between(lo, hi)))
    }
  }

  test("held compaction equals the merge compaction, runs no job and plans a " +
      "LocalRelation: seeded logs, appended files and edge versions") {
    // edge versions, stored as three files (the later two appended) and as
    // a client-sized frame: a key whose newest version has a null `op`, a
    // delete tying the newest upsert's `ts` (in one file and across files),
    // a delete below an upsert, an upsert at Long.MinValue, a key with only
    // a null-`ts` version, an `op` that is neither verb, and a null key
    val schema = StructType(Seq(StructField("k", LongType), StructField("ts", LongType),
      StructField("op", StringType), StructField("v", DoubleType), StructField("s", StringType)))
    val (up, del) = (DynTable.OpUpsert, DynTable.OpDelete)
    val files = Seq(
      Seq(Row(1L, 10L, up, 1.0, "a"), Row(1L, 20L, null, 2.0, "b"),
        Row(2L, 30L, up, 3.0, "c"), Row(2L, 30L, del, null, null),
        Row(3L, 5L, del, null, null), Row(3L, 6L, up, 4.0, "d"),
        Row(4L, Long.MinValue, up, 5.0, "e"),
        Row(5L, 7L, up, 6.0, null), Row(5L, 8L, del, null, null),
        Row(6L, 11L, up, 8.0, "g"),
        Row(7L, null, up, 0.5, "n"),
        Row(8L, 13L, "other", 1.0, "o"), Row(8L, 3L, up, 1.5, "z"),
        Row(null, 12L, up, 9.0, "h")),
      Seq(Row(5L, 9L, up, 7.0, "f"), Row(6L, 11L, del, null, null)),
      Seq(Row(1L, 25L, null, null, null), Row(9L, 40L, up, 2.5, "i")))
    val edgeDir = Files.createTempDirectory("graft-held-edges").toString + "/log"
    files.foreach(rs => spark.createDataFrame(rs.asJava, schema).coalesce(1)
      .write.mode("append").parquet(edgeDir))
    val edgeClient = () => spark.createDataFrame(files.flatten.asJava, schema)

    val cases = logs.flatMap { l =>
      Seq((s"${l.name}/stored", l.keys, () => l.stored), (s"${l.name}/client", l.keys, () => l.client))
    } ++ Seq(("edges/stored", Seq("k"), () => spark.read.parquet(edgeDir)),
      ("edges/client", Seq("k"), edgeClient))
    for ((tag, keys, log) <- cases) {
      same(s"$tag compact", () => DynTable.compact(log(), keys))
      val built = log()
      assert(Jobs.count(spark)(sorted(DynTable.compact(built, keys))) == 0, s"$tag: a held compaction ran a job")
    }
    val compacted = sorted(DynTable.compact(spark.read.parquet(edgeDir), Seq("k")))
    assert(compacted == Seq("[1,10,upsert,1.0,a]", "[3,6,upsert,4.0,d]", "[5,9,upsert,7.0,f]",
      "[8,3,upsert,1.5,z]", "[9,40,upsert,2.5,i]", "[null,12,upsert,9.0,h]"), compacted)
  }

  /** Optimizer runs while `body` runs, counted by a pass-through rule
    * added to the session's extra optimizations. */
  private def optimizerRuns(body: => Any): Int = {
    val runs = new AtomicInteger
    val counter = new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = { runs.incrementAndGet(); plan }
    }
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ counter
    try { body; runs.get } finally spark.experimental.extraOptimizations = prev
  }

  test("held lookups and versioned reads at a literal cut probe the key index: " +
      "building them optimizes no plan") {
    for (l <- logs) {
      // a stored log: a client-sized frame's rows come from its optimized plan
      val log = l.stored
      DynTable.readLatest(log, l.keys).collect()
      assert(optimizerRuns(DynTable.readLatest(log, l.keys)) == 0, l.name)
      assert(optimizerRuns(DynTable.lookup(log, l.keys, l.lookups)) == 0, l.name)
      assert(optimizerRuns(DynTable.readAsOf(log, l.keys, lit(l.maxTs / 2))) == 0, l.name)
      // a cut that is not a literal is a filter over the held rows
      assert(optimizerRuns(DynTable.readAsOf(log, l.keys, lit(l.maxTs / 2) + 1)) > 0, l.name)
    }
  }

  /** The root-most message on `t`'s cause chain naming the conflict. */
  private def conflictMessage(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      .filter(m => m != null && m.contains("Row lock conflict")).toSeq.lastOption
      .getOrElse(fail(s"no row lock conflict in: ${causeMessages(t)}"))

  test("held commit check equals the in-plan one: commit and abort, " +
      "stored and client-sized logs") {
    for (l <- logs; (form, log) <- Seq("stored" -> (() => l.stored), "client" -> (() => l.client))) {
      val tag = s"${l.name}/$form"
      val keyed = l.rows.filter(r => l.keyOf(r).forall(_ != null) && l.ts(r).nonEmpty)
      val newest = keyed.maxBy(l.ts(_).get)
      val oldest = keyed.minBy(l.ts(_).get)
      val keyTypes = l.keys.map(l.schema(_))
      val stagedSchema = StructType(keyTypes ++ Seq(StructField("op", StringType),
        StructField("v", DoubleType), StructField("s", StringType)))
      def staged(rows: Row*): DataFrame = spark.createDataFrame(rows.asJava, stagedSchema)
      val nullKey = Row.fromSeq(l.keys.map(_ => null) ++ Seq(DynTable.OpUpsert, 1.0, "n"))
      val commitTs = l.maxTs + 1
      // started at the newest version: no staged key has a later one
      val ok = staged(Row.fromSeq(l.keyOf(oldest) ++ Seq(DynTable.OpUpsert, 2.5, "x")),
        Row.fromSeq(l.keyOf(newest) ++ Seq(DynTable.OpDelete, null, null)), nullKey)
      val commit = () => DynTable.commitTransaction(log(), ok, l.keys, lit(l.maxTs), lit(commitTs))
      val held = commit()
      assert(Jobs.count(spark)(sorted(held)) == 1, s"$tag: a held commit runs only its write")
      val (dSchema, dRows) = distributed { val d = commit(); (d.schema, sorted(d)) }
      assert(held.schema == dSchema, tag)
      assert(sorted(held) == dRows, tag)
      // started just before the newest version of a staged key: abort
      val stale = staged(Row.fromSeq(l.keyOf(newest) ++ Seq(DynTable.OpUpsert, 3.5, "y")))
      val abort = () => DynTable.commitTransaction(log(), stale, l.keys,
        lit(l.ts(newest).get - 1), lit(commitTs)).collect()
      val heldMessage = conflictMessage(intercept[Exception](abort()))
      val distMessage = distributed(conflictMessage(intercept[Exception](abort())))
      assert(heldMessage == distMessage, tag)
    }
  }

  test("a key staged twice commits its last write, held and distributed, from local " +
      "rows and from a frame that is not local") {
    for (l <- logs; (form, log) <- Seq("stored" -> (() => l.stored), "client" -> (() => l.client))) {
      val tag = s"${l.name}/$form"
      // -0.0 and 0.0 are one key, as groupBy groups them
      val (k1, k1Again, k2) = l.name match {
        case "double" => (Seq(-0.0), Seq(0.0), Seq(Double.NaN))
        case _ =>
          val ks = l.rows.map(l.keyOf).filter(_.forall(_ != null)).distinct
          (ks(0), ks(0), ks(1))
      }
      val (up, del) = (DynTable.OpUpsert, DynTable.OpDelete)
      val rows = Seq(k1 ++ Seq(up, 1.0, "a"), k2 ++ Seq(up, 2.0, "b"), k1Again ++ Seq(del, null, null),
        k1Again ++ Seq(up, 3.0, "c"), k2 ++ Seq(del, null, null)).map(Row.fromSeq)
      val stagedSchema = StructType(l.keys.map(l.schema(_)) ++ Seq(StructField("op", StringType),
        StructField("v", DoubleType), StructField("s", StringType)))
      val localStaged = () => spark.createDataFrame(rows.asJava, stagedSchema)
      val stagedDir = Files.createTempDirectory("graft-held-staged").toString + "/staged"
      distributed(localStaged().coalesce(1).write.parquet(stagedDir))
      val commitTs = l.maxTs + 1
      val expected = Seq(k1Again ++ Seq(commitTs, up, 3.0, "c"), k2 ++ Seq(commitTs, del, null, null))
        .map(r => Row.fromSeq(r).toString).sorted
      for ((stagedForm, staged) <- Seq("local" -> localStaged, "parquet" -> (() => spark.read.parquet(stagedDir)))) {
        val commit = () => DynTable.commitTransaction(log(), staged(), l.keys, lit(l.maxTs), lit(commitTs))
          .where(col("ts") === commitTs)
        assert(sorted(commit()) == expected, s"$tag, $stagedForm staged rows")
        assert(distributed(sorted(commit())) == expected, s"$tag, $stagedForm staged rows, distributed")
      }
    }
  }

  /** Runs of `rule` that changed the plan while `df` was optimized. */
  private def effective(df: DataFrame, rule: Rule[LogicalPlan]): Long = {
    df.queryExecution.optimizedPlan
    df.queryExecution.tracker.rules.get(rule.ruleName).fold(0L)(_.numEffectiveInvocations)
  }

  /** `df`'s rows, after checking that no held leaf reaches its optimized
    * or physical plan. */
  private def planned(df: DataFrame): Seq[String] = {
    assert(df.queryExecution.optimizedPlan.find(_.isInstanceOf[HeldRelation]).isEmpty, "a held leaf was planned")
    assert(df.queryExecution.executedPlan != null)
    sorted(df)
  }

  test("a held commit's where(ts === commitTs) optimizes to exactly its staged rows: " +
      "the held branch is pruned before any pass copies a held row") {
    for (l <- logs) {
      val staged = spark.createDataFrame(
        l.rows.map(l.keyOf).filter(_.forall(_ != null)).distinct.take(3)
          .map(k => Row.fromSeq(k ++ Seq(DynTable.OpUpsert, 0.25, "w"))).asJava,
        StructType(l.keys.map(l.schema(_)) ++ Seq(StructField("op", StringType),
          StructField("v", DoubleType), StructField("s", StringType))))
      val commitTs = l.maxTs + 1
      val commit = () => DynTable.commitTransaction(l.stored, staged, l.keys, lit(l.maxTs), lit(commitTs))
        .where(col("ts") === commitTs)
      val held = commit()
      assert(held.queryExecution.analyzed.exists(_.isInstanceOf[HeldRelation]), l.name)
      assert(LocalRows.unapply(held.queryExecution.optimizedPlan).map(_.size).contains(3), l.name)
      assert(effective(held, PruneHeldTs) > 0 && effective(held, HeldToLocal) == 0, l.name)
      assert(planned(held) == distributed(sorted(commit())), l.name)
    }
  }

  /** A stored copy of `l`'s log with `ts` replaced by `ts`. */
  private def withTs(l: Log, name: String, ts: org.apache.spark.sql.Column): DataFrame = {
    val d = Files.createTempDirectory(s"graft-held-$name").toString + "/log"
    l.client.withColumn("ts", ts).coalesce(1).write.parquet(d)
    spark.read.parquet(d)
  }

  test("a ts filter over a held log equals the parquet read: a bound no ts passes " +
      "prunes it, the range's min, max and inner values keep rows; null ts values, " +
      "a log with no ts value and a non-long ts") {
    val ops: Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column)] =
      Seq("=" -> (_ === _), "<" -> (_ < _), "<=" -> (_ <= _), ">" -> (_ > _), ">=" -> (_ >= _))
    /** Checks every comparison of `ts` with the values at and around
      * `[lo, hi]`, either way round; `pruned(op, v)` says whether `ts op v`
      * is refuted by the range. */
    def check(tag: String, log: DataFrame, lo: Long, hi: Long, pruned: (String, Long) => Boolean): Unit = {
      val frame = Tables.held(log).get.frame
      for (v <- Seq(lo - 1, lo, lo + (hi - lo) / 2, hi, hi + 1); (op, f) <- ops;
           (side, c) <- Seq("ts op v" -> f(col("ts"), lit(v)), "v op ts" -> f(lit(v), col("ts")))) {
        val what = s"$tag: $side, $op $v"
        val df = frame.where(c)
        assert(planned(df) == sorted(log.where(c)), what)
        val flipped = if (side == "ts op v") op else op.map(Map('<' -> '>', '>' -> '<').withDefault(identity))
        assert((effective(df, PruneHeldTs) > 0) == pruned(flipped, v), what)
      }
    }
    val l = logs.head
    assert(l.rows.exists(l.ts(_).isEmpty), "the log has no null ts")
    check("long ts with nulls", l.stored, l.minTs, l.maxTs, {
      case ("=", v) => v < l.minTs || v > l.maxTs
      case ("<", v) => v <= l.minTs
      case ("<=", v) => v < l.minTs
      case (">", v) => v >= l.maxTs
      case (">=", v) => v > l.maxTs
    })
    check("no ts value", withTs(l, "null-ts", lit(null).cast(LongType)), l.minTs, l.maxTs, (_, _) => true)
    val intTs = withTs(l, "int-ts", col("ts").cast(IntegerType))
    check("int ts", intTs, l.minTs, l.maxTs, (_, _) => false)
    assert(intTs.where(col("ts") > l.maxTs / 2).count() > 0)
  }

  test("a held frame's self-union and self-join resolve and equal the parquet read; " +
      "EXPLAIN prints the leaf's row count and ts range, not its rows") {
    val l = logs.head
    val frame = Tables.held(l.stored).get.frame
    val log = l.stored
    assert(planned(frame.union(frame)) == sorted(log.union(log)))
    def selfJoin(d: DataFrame): DataFrame = d.as("a").join(d.as("b"),
      col("a.k") === col("b.k") && col("a.ts") < col("b.ts")).select(col("a.k"), col("a.ts"), col("b.ts"))
    assert(planned(selfJoin(frame)) == sorted(selfJoin(log)))
    assert(sorted(selfJoin(log)).nonEmpty)

    val leaf = frame.queryExecution.analyzed.treeString
    assert(leaf.linesIterator.size == 1 && leaf.length < 200, leaf)
    assert(leaf.contains(s"${l.rows.size} held rows, ts [${l.minTs}, ${l.maxTs}]"), leaf)
    val explained = frame.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
    assert(explained.contains(s"${l.rows.size} held rows, ts [${l.minTs}, ${l.maxTs}]"), explained)
    val noTs = Tables.held(withTs(l, "explain-null-ts", lit(null).cast(LongType))).get.frame
    assert(noTs.queryExecution.analyzed.treeString.contains(s"${l.rows.size} held rows, no ts"))
    val intTs = Tables.held(withTs(l, "explain-int-ts", col("ts").cast(IntegerType))).get.frame
    assert(intTs.queryExecution.analyzed.treeString.trim.endsWith(s"${l.rows.size} held rows"))
  }

  test("the held store reads new files on the driver and keeps only listed files") {
    val l = logs.head
    val schema = l.stored.schema
    // a user schema: relisting the directory runs no inference job
    def log: DataFrame = spark.read.schema(schema).parquet(l.dir)
    def reads(): Seq[String] = Seq(
      DynTable.readLatest(log, l.keys),
      DynTable.lookup(log, l.keys, l.lookups),
      DynTable.readAsOf(log, l.keys, lit(l.maxTs / 2))).flatMap(sorted)
    val first = reads()
    assert(Jobs.count(spark)(assert(reads() == first)) == 0, "unchanged stored log")

    val staged = spark.createDataFrame(Seq(Row(1000L, DynTable.OpUpsert, 0.5, "new")).asJava,
      StructType(Seq(StructField("k", LongType), StructField("op", StringType),
        StructField("v", DoubleType), StructField("s", StringType))))
    DynTable.commitTransaction(log, staged, l.keys, lit(l.maxTs), lit(l.maxTs + 1))
      .where(col("ts") === l.maxTs + 1).coalesce(1).write.mode("append").parquet(l.dir)
    var latest: Seq[String] = Nil
    assert(Jobs.count(spark) { latest = sorted(DynTable.readLatest(log, l.keys)) } == 0,
      "a read after appending one file")
    assert(latest.contains("[1000,0.5,new]"))
    assert(latest == distributed(sorted(DynTable.readLatest(log, l.keys))))

    // compaction rewrites the directory: the store drops every old file
    val tmp = new File(l.dir + ".compacting")
    DynTable.compact(log, l.keys).coalesce(1).write.parquet(tmp.getPath)
    FileUtils.deleteDirectory(new File(l.dir))
    assert(tmp.renameTo(new File(l.dir)))
    assert(sorted(DynTable.readLatest(log, l.keys)) ==
      distributed(sorted(DynTable.readLatest(log, l.keys))))
    val listed = new File(l.dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
    assert(files(Tables.heldFiles(spark), l.dir) == Seq(listed))
  }

  /** Names of the files `hook` reports for the table at `dir`. */
  private def files(hook: Map[String, Set[String]], dir: String): Seq[Set[String]] =
    hook.collect {
      case (table, fs) if table.endsWith(dir) => fs.map(new org.apache.hadoop.fs.Path(_).getName)
    }.toSeq

  test("the held index holds the rows of listed files only: an appended file is " +
      "added, a compaction drops every old file's entries") {
    val l = logs(1)
    val schema = l.stored.schema
    def log: DataFrame = spark.read.schema(schema).parquet(l.dir)
    def listed: Set[String] = new File(l.dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
    DynTable.readLatest(log, l.keys).collect()
    assert(files(Tables.indexedFiles(spark), l.dir) == Seq(listed))

    val staged = spark.createDataFrame(Seq(Row("k-new", DynTable.OpUpsert, 0.5, "new")).asJava,
      StructType(Seq(StructField("k", StringType), StructField("op", StringType),
        StructField("v", DoubleType), StructField("s", StringType))))
    DynTable.commitTransaction(log, staged, l.keys, lit(l.maxTs), lit(l.maxTs + 1))
      .where(col("ts") === l.maxTs + 1).coalesce(1).write.mode("append").parquet(l.dir)
    val before = listed
    same("after an append", () => DynTable.lookup(log, l.keys, Seq(Seq("k-new"), Seq("k3"))))
    assert(files(Tables.indexedFiles(spark), l.dir) == Seq(before))

    val tmp = new File(l.dir + ".compacting")
    DynTable.compact(log, l.keys).coalesce(1).write.parquet(tmp.getPath)
    FileUtils.deleteDirectory(new File(l.dir))
    assert(tmp.renameTo(new File(l.dir)))
    same("after a compaction", () => DynTable.readAsOf(log, l.keys, lit(l.maxTs + 1)))
    val after = files(Tables.indexedFiles(spark), l.dir)
    assert(after == Seq(listed) && (after.head & before).isEmpty, after)
  }

  test("held round trip: commits written with coalesce(1) append and the reads after " +
      "them run no job, equal the distributed arbiter, and the index holds the written files") {
    val l = logs.head
    val staged = StructType(Seq(StructField("k", LongType), StructField("op", StringType),
      StructField("v", DoubleType), StructField("s", StringType)))
    val rnd = new Random(21)
    // a transaction may write a key more than once: its last write commits
    val commits = (1 to 8).map { _ =>
      Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(12) - 5L).map(k => Row(k,
        if (rnd.nextInt(5) == 0) DynTable.OpDelete else DynTable.OpUpsert, rnd.nextInt(100) / 4.0, "c"))
    }
    def distinctKeys(rows: Seq[Row]): Int = rows.map(_.getLong(0)).distinct.size
    assert(commits.exists(c => distinctKeys(c) < c.size), "no transaction writes a key twice")
    /** dyn_rw's commit and reads against a copy of the log; the reads
      * after each commit and the log's rows at the end. */
    def roundTrip(): (Int, Seq[Seq[String]], Seq[String], String) = {
      val base = Files.createTempDirectory("graft-held-round-trip").toString
      l.client.coalesce(1).write.parquet(Tables.path(base, "log"))
      def log: DataFrame = Tables.load(spark, base, "log")
      log.collect()
      val reads = Seq.newBuilder[Seq[String]]
      val jobs = Jobs.count(spark) {
        commits.zipWithIndex.foreach { case (rows, i) =>
          val commitTs = l.maxTs + 1 + i
          DynTable.commitTransaction(log, spark.createDataFrame(rows.asJava, staged), l.keys,
            lit(commitTs - 1), lit(commitTs)).where(col("ts") === commitTs)
            .coalesce(1).write.mode("append").parquet(Tables.path(base, "log"))
          reads += sorted(DynTable.lookup(log, l.keys, rows.map(r => Seq(r.getLong(0))) :+ Seq(3L)))
          reads += sorted(DynTable.readLatest(log, l.keys))
          reads += sorted(DynTable.readAsOf(log, l.keys, lit(commitTs - 1)))
        }
      }
      (jobs, reads.result(), sorted(spark.read.parquet(Tables.path(base, "log"))),
        Tables.path(base, "log"))
    }
    val (jobs, reads, rows, dir) = roundTrip()
    assert(jobs == 0, "the commits' writes and reads ran jobs")
    val (_, dReads, dRows, _) = distributed(roundTrip())
    assert(reads == dReads)
    assert(rows == dRows)
    assert(rows.size == l.rows.size + commits.map(distinctKeys).sum)
    val written = new File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
    assert(written.size == 1 + commits.size)
    assert(files(Tables.indexedFiles(spark), dir) == Seq(written))
  }

  test("consumer registry and producer table reads run no job, nulls included") {
    var reg = DynTable.emptyConsumerRegistry(spark)
    reg = DynTable.advanceConsumer(reg, "c1", 1L, 2L, ts = 10L)
    reg = DynTable.advanceConsumer(reg, "c1", 1L, 4L, ts = 20L)
    // a null consumer, and an advance with a null ts, which never wins
    reg = reg.unionByName(spark.createDataFrame(Seq(
      Row(null, 1L, 7L, 30L, DynTable.OpUpsert),
      Row("c1", 1L, 9L, null, DynTable.OpUpsert)).asJava,
      StructType(reg.schema.map(_.copy(nullable = true)))))
    var offsets = (0L, 0L)
    assert(Jobs.count(spark) {
      offsets = (DynTable.consumerOffset(reg, "c1", 1L), DynTable.consumerOffset(reg, "c2", 1L))
    } == 0)
    assert(offsets == (4L, 0L))
    assert(offsets == distributed(
      (DynTable.consumerOffset(reg, "c1", 1L), DynTable.consumerOffset(reg, "c2", 1L))))
    val (p1, _, _) = DynTable.createProducerSession(DynTable.emptyProducer(spark), "h", 1L)
    val (p2, e1, s1) = DynTable.createProducerSession(p1, "h", 2L)
    assert((e1, s1) == (1L, -1L))
    var session = (0L, 0L)
    assert(Jobs.count(spark) { session = DynTable.producerSession(p2, "h") } == 0)
    assert(session == (1L, -1L))
  }

  test("eligibility: derived logs, logs above the threshold and holding off are not held") {
    val l = logs.head
    assert(Tables.held(l.stored).nonEmpty && Tables.held(l.client).nonEmpty)
    assert(Tables.held(l.stored.withColumn("v", col("v") * 2)).isEmpty)
    withThreshold("16")(assert(Tables.held(l.stored).isEmpty))
    distributed {
      assert(Tables.held(l.stored).isEmpty && Tables.held(l.client).isEmpty)
    }
  }
}
