package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** Closed-loop client with one thread. Runs one workload against
  * the engine that `GraftSession.get()` ships and writes its measurements
  * as JSON for `perfbench/run.py`, which checks outputs against the DuckDB
  * oracles and prints the result line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--base DIR] [--warm DIR] [--verified FILE]
  *   [--rows table=n,...]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val r = new Runner(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("data"), a.getOrElse("base", a("data")),
      a.getOrElse("warm", a("data")), a("work"),
      a.get("rows").toSeq.flatMap(_.split(",")).map(_.split("="))
        .map(kv => kv(0) -> kv(1).toLong).toMap,
      a.get("verified").filter(new File(_).exists)
        .map(f => Files.readAllLines(Paths.get(f)).toArray.map(_.toString).toSet)
        .getOrElse(Set.empty))
    val json = try r.run() finally r.stop()
    Files.writeString(Paths.get(a("out")), json)
  }
}

/** One timed operation as the client saw it. */
final case class OpResult(id: Long, name: String, kind: String, wallS: Double,
    ok: Boolean, sourceRows: Long, error: String = "")

final class Runner(workload: String, seed: Long, seconds: Int, traced: Boolean,
    dataDir: String, baseDir: String, warmDir: String, workDir: String,
    corpusRows: Map[String, Long], verified: Set[String]) {
  import OpListener.{OpProp, PhaseProp}

  var spark: SparkSession = _
  var listener: OpListener = _
  private var nextId = 0L
  val results = ArrayBuffer[OpResult]()
  val spans = ArrayBuffer[OpSpan]()
  val report = mutable.LinkedHashMap[String, Any]()
  val checks = ArrayBuffer[(String, String)]() // (query, output dir) for the oracle pass
  val problems = ArrayBuffer[String]()
  var shippedRules: Seq[String] = Nil
  val tableRows = mutable.Map[String, Long]() ++ corpusRows

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  // per-operation figures recorded by workload code while an operation runs
  private val pending = mutable.Map[String, Double]()
  def note(key: String, v: Double): Unit = pending(key) = pending.getOrElse(key, 0.0) + v

  // ---- session --------------------------------------------------------

  /** Start (or restart) the engine's session; returns the installed
    * optimizer rules. The session is built ONLY through GraftSession.get(). */
  private def startSession(): Seq[String] = {
    stop()
    spark = GraftSession.get()
    GraftSession.tuneShuffleFor(spark, dataDir)
    if (traced) {
      listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
    }
    spark.experimental.extraOptimizations.map(_.ruleName)
  }

  private def checkParity(where: String): Unit = {
    val now = spark.experimental.extraOptimizations.map(_.ruleName).toSet
    val missing = shippedRules.filterNot(now)
    if (missing.nonEmpty) problems += s"session parity ($where): missing rules ${missing.mkString(",")}"
  }

  // ---- one operation --------------------------------------------------

  /** Times construct + force of one operation. Local properties name the
    * operation and phase so the listener can attribute Spark's jobs. */
  def op(name: String, kind: String, sourceRows: DataFrame => Long)(construct: => DataFrame)
      (force: DataFrame => Unit): OpResult = {
    val sc = spark.sparkContext
    val id = nextId; nextId += 1
    sc.setLocalProperty(OpProp, id.toString)
    sc.setLocalProperty(PhaseProp, "construct")
    sc.setJobDescription(s"perfbench:$workload:$name")
    pending.clear()
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    var t1 = t0; var ms1 = ms0
    val res = try {
      val df = construct
      t1 = System.nanoTime(); ms1 = System.currentTimeMillis()
      sc.setLocalProperty(PhaseProp, "exec")
      force(df)
      val t2 = System.nanoTime(); val ms2 = System.currentTimeMillis()
      if (traced && recording) spans += OpSpan(id, name, family(name), kind, t0, t1, t2, ms0, ms1, ms2,
        Trace.phases(df), Trace.rules(df), Trace.physical(df), pending.toMap)
      OpResult(id, name, kind, (t2 - t0) / 1e9, ok = true, sourceRows(df))
    } catch {
      case e: Throwable =>
        val t2 = System.nanoTime()
        if (traced && recording) spans += OpSpan(id, name, family(name), kind, t0, t1, t2, ms0, ms1,
          System.currentTimeMillis(), Map.empty, Map.empty, Map.empty, pending.toMap)
        OpResult(id, name, kind, (t2 - t0) / 1e9, ok = false, 0L, messages(e))
    } finally {
      sc.setLocalProperty(OpProp, null)
      sc.setLocalProperty(PhaseProp, null)
      sc.setJobDescription(null)
    }
    res
  }

  /** Messages of the exception and its causes, one line each. */
  def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(x => String.valueOf(x.getMessage).linesIterator.take(1).mkString.take(300))
      .mkString(" | ")

  def family(name: String): String = name.takeWhile(_ != '_')

  /** Drain the plan on the executors without collecting (as graft.Bench). */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it => while (it.hasNext) it.next() }

  /** Rows of the corpus tables the DataFrame's plan scans (each table once). */
  def sourceRows(df: DataFrame): Long = {
    val paths = df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.rootPaths.map(_.toString)
    }.flatten
    val names = paths.flatMap { p =>
      tableRows.keys.find(t => p.stripSuffix("/").endsWith(s"/$t.parquet"))
    }.distinct
    names.map(tableRows).sum
  }

  // ---- setup ------------------------------------------------------------

  /** Session start + corpus preparation + warm query; several cycles,
    * the median is setup_s. */
  private def setup(prepare: () => Unit): Unit = {
    val cycles = 3
    val sessionTimes = ArrayBuffer[Double]()
    val times = (0 until cycles).map { i =>
      val t0 = System.nanoTime()
      val rules = startSession()
      sessionTimes += (System.nanoTime() - t0) / 1e9
      if (i == 0) shippedRules = rules
      else if (rules.toSet != shippedRules.toSet)
        problems += s"session parity: GraftSession.get() installed ${rules.mkString(",")} after ${shippedRules.mkString(",")}"
      prepare()
      (System.nanoTime() - t0) / 1e9
    }
    report("setup_cycles_s") = times
    report("setup_session_start_s") = sessionTimes.toSeq
    report("setup_s") = median(times)
    if (shippedRules.isEmpty) problems += "session parity: GraftSession.get() installed no optimizer rules"
    report("optimizer_rules") = shippedRules
    val skip = Set("spark.app.id", "spark.app.startTime", "spark.driver.host",
      "spark.driver.port", "spark.app.submitTime", "spark.executor.id")
    report("session_confs") = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => skip(k) }.map { case (k, v) => s"$k=$v" }
  }

  /** Corpus preparation: resolve every table's relation (file listing and
    * parquet footers) into the engine's relation cache. */
  private def loadCorpus(tables: Seq[String]): Unit =
    tables.foreach(t => Tables.load(spark, dataDir, t).schema)

  // ---- workloads --------------------------------------------------------

  /** Queries whose engine entry writes fixtures outside the working
    * directory (hard-coded /tmp paths); they cannot run inside a
    * self-contained checkout. */
  val outsideWriters = Set("yql_table_range", "yql_table_name", "yql_table_concat")

  def timedForm(name: String): (SparkSession, String) => DataFrame = {
    val benchOnly = graft.queries.Llm.benchOnly ++ graft.queries.Yql.benchOnly ++
      graft.queries.Ops.benchOnly
    // op_merge_sorted's operator form memoizes its sorted inputs under
    // /tmp; the correctness form prepares them in-plan instead
    if (name == "op_merge_sorted") SparkEntry.queries(name)
    else benchOnly.getOrElse(name, SparkEntry.queries(name))
  }

  /** Untimed pass after the timed loop: each query not yet verified for
    * this build and corpus runs once in its correctness form, and its
    * output is written for the oracle fingerprint. */
  private def verifyPass(names: Seq[String]): Unit = {
    val out = new File(workDir, "out")
    val t0 = System.nanoTime()
    names.filterNot(verified).foreach { n =>
      val dir = new File(out, n).getPath
      try {
        SparkEntry.queries(n)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(dir)
        checks += ((n, dir))
      } catch {
        case e: Throwable => problems += s"verify $n: ${messages(e)}"
      }
    }
    report("verify_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Size of the surface_mix query set. */
  val surfaceSize = 20

  /** The surface_mix query set: a family-stratified draw of about
    * `surfaceSize` queries from the user surface under a FIXED mix seed, so
    * every run times the same queries (per-query costs span 30x; a per-run
    * draw would move the median by the draw alone). The run's seed orders
    * the stream. */
  def surfaceSet(): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.contains("_fuzz_") || outsideWriters(n))
    val mix = new java.util.Random(20211)
    val byFamily = all.groupBy(family).toSeq.sortBy(_._1)
    report("surface_size") = all.size
    byFamily.flatMap { case (_, qs) =>
      shuffle(qs, mix).take(math.max(1, math.round(surfaceSize.toDouble * qs.size / all.size).toInt))
    }
  }

  private def surfaceMix(): Unit = {
    val rnd = new java.util.Random(seed)
    val picked = surfaceSet()
    report("distinct_queries") = picked.size
    setup(() => { loadCorpus(Tables.all); drain(timedForm("ql_scan")(spark, dataDir)) })
    // One seeded order for the warm-up and every timed pass: each query
    // then runs a full cycle after its previous run, so whether its
    // generated classes are still in Spark's codegen cache does not depend
    // on the seed. The warm-up uses the tiny corpus: same plans and code
    // paths, little data. --seconds sets the number of passes (one per
    // 7.5 s), never the queries.
    val order = shuffle(picked, rnd)
    warmPass(order, warmDir)
    queryLoop(order, math.max(1, math.round(seconds / 7.5).toInt), settle = false)
    verifyPass(picked.sorted)
  }

  /** Untimed pass over the queries in their timed form, so the timed
    * loop measures a warm JVM and session. */
  private def warmPass(names: Seq[String], dir: String = dataDir): Unit = {
    val t0 = System.nanoTime(); val c0 = codegenCount
    names.foreach { n =>
      try drain(timedForm(n)(spark, dir))
      catch { case e: Throwable => problems += s"warm $n: ${messages(e)}" }
    }
    report("warm_s") = (System.nanoTime() - t0) / 1e9
    report("codegen_compiles_warm") = codegenCount - c0
  }

  /** `passes` passes over `order` as query operations; `settle` runs a
    * full GC before each one (as graft.Bench does) so a garbage-heavy job
    * does not tax the next. Reports Spark's generated-class compilations
    * per pass: a pass that compiles as much as the first shows that the
    * query set overflows the codegen cache. */
  private def queryLoop(order: Seq[String], passes: Int, settle: Boolean): Unit = {
    val compiles = ArrayBuffer[Long]()
    timedLoop((0 until passes).flatMap(_ => order.zipWithIndex.map { case (n, i) => () =>
      if (i == 0) compiles += codegenCount
      if (settle) System.gc()
      op(n, "query", sourceRows)(timedForm(n)(spark, dataDir))(drain)
    }))
    compiles += codegenCount
    report("codegen_compiles_per_pass") = compiles.sliding(2).map(w => w(1) - w(0)).toSeq
  }

  /** CPU- and shuffle-heavy, non-quadratic jobs whose outputs the oracles
    * check on the relaid layout. op_merge_sorted is not among them: once
    * the scan is split, its position stamp orders rows with tied sort keys
    * differently from its oracle's row_number(). */
  val batchJobs = Seq("op_sort", "op_join_reduce", "op_map_reduce", "op_pipe_skiff",
    "ql_fn_yson", "ql_cardinality", "yql_q5_region", "yql_window_rank",
    "yql_agg_distinct", "dyn_upsert_latest", "llm_dedup_minhash", "llm_sim_lsh",
    "llm_text_quality")

  private def batchRelaid(): Unit = {
    val rnd = new java.util.Random(seed)
    setup(() => { loadCorpus(Tables.all); drain(timedForm("ql_scan")(spark, dataDir)) })
    // warm-up on the tiny corpus in the timed order (see surfaceMix)
    val order = shuffle(batchJobs, rnd)
    warmPass(order, warmDir)
    queryLoop(order, math.max(1, seconds / 15), settle = true)
    verifyPass(batchJobs)
  }

  // ---- timed loop and metrics ---------------------------------------------

  var codegenBefore = 0L
  var recording = false // operations of the timed loop only
  private def timedLoop(ops: Seq[() => OpResult]): Unit = {
    System.gc()
    codegenBefore = codegenCount
    recording = true
    val t0 = System.nanoTime()
    ops.foreach(o => results += o())
    recording = false
    report("loop_wall_s") = (System.nanoTime() - t0) / 1e9
  }

  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def shuffle[T](xs: Seq[T], rnd: java.util.Random): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Latency percentile where a failed operation counts as infinitely slow. */
  def latency(rs: Seq[OpResult], q: Double): Double =
    quantile(rs.map(r => if (r.ok) r.wallS else Double.PositiveInfinity), q)

  private def endToEnd(): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val busy = results.map(_.wallS).sum
    m("setup_s") = report("setup_s").asInstanceOf[Double]
    m("ops_per_s") = results.count(_.ok) / busy
    m("latency_p50_s") = latency(results.toSeq, 0.5)
    m("latency_p90_s") = latency(results.toSeq, 0.9)
    m("rows_per_s") = results.filter(_.ok).map(_.sourceRows).sum / busy
    m
  }

  private def sessionCounters(m: mutable.Map[String, Double]): Unit = {
    m("session.temp_views") = Trace.tempViews(spark)
    val local = sys.env.get("SPARK_LOCAL_DIRS").map(new File(_))
    m("session.shuffle_dir_mb") = local.map(Trace.dirBytes).getOrElse(0L) / 1048576.0
  }

  /** Heap in use after full GCs, with pauses for Spark's ContextCleaner
    * to release what the first collections made unreachable. */
  private def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Per-layer metrics from the spans, the listener and the tracker. */
  private def perLayer(extra: mutable.Map[String, Double]): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val lst = listener
    val drained = lst.drain()
    if (!drained) problems += "listener did not drain"
    def accs(phase: String) = spans.flatMap(s => lst.get(s.id, phase))
    def sumL(phase: String)(f: lst.Acc => Long): Long =
      (if (phase == "*") accs("construct") ++ accs("exec") else accs(phase)).map(f).sum
    val wall = spans.map(s => (s.endNs - s.startNs) / 1e9).sum
    val construct = spans.map(s => (s.constructNs - s.startNs) / 1e9).sum
    m("queries.construct_s") = construct
    m("queries.eager_jobs") = sumL("construct")(_.jobs.get)
    m("queries.eager_s") = spans.map(s =>
      listener.get(s.id, "construct").map(a => Trace.unionMs(a.jobSpans.toArray(Array.empty[(Long, Long)]))).getOrElse(0L)).sum / 1e3
    Seq("ql", "yql", "op", "dyn", "llm", "strm").foreach { f =>
      m(s"queries.$f.wall_s") = spans.filter(_.family == f).map(s => (s.endNs - s.startNs) / 1e9).sum
    }
    def phase(n: String) = spans.map(_.phases.get(n).map { case (s, e) => e - s }.getOrElse(0L)).sum / 1e3
    m("catalyst.analysis_s") = phase("analysis")
    m("catalyst.optimization_s") = phase("optimization")
    m("catalyst.planning_s") = phase("planning")
    val compiles = codegenCount - codegenBefore
    m("catalyst.codegen_compiles") = compiles
    m("catalyst.codegen_ms") = compiles *
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    shippedRules.foreach { r =>
      val short = r.split("[.$]").last
      val rs = spans.flatMap(_.rules.get(r))
      val inv = rs.map(_._2).sum
      m(s"plans.$short.s") = rs.map(_._1).sum / 1e9
      m(s"plans.$short.effective_ratio") = if (inv == 0) 0.0 else rs.map(_._3).sum.toDouble / inv
    }
    // per operation: stage union, post-construction planning, driver gap
    var stageWall = 0.0; var gap = 0.0; var overlap = 0.0
    val spanLines = ArrayBuffer[String]()
    spans.foreach { s =>
      val opWall = (s.endNs - s.startNs) / 1e9
      val cons = (s.constructNs - s.startNs) / 1e9
      val all = (accs2(s.id, "construct") ++ accs2(s.id, "exec")).flatMap(_.stageSpans.toArray(Array.empty[(Long, Long)]))
      val exec = accs2(s.id, "exec").flatMap(_.stageSpans.toArray(Array.empty[(Long, Long)]))
      stageWall += Trace.unionMs(all) / 1e3
      val post = Seq("optimization", "planning").flatMap(s.phases.get)
        .filter(_._1 >= s.constructMs - 1)
      val planS = post.map { case (a, b) => b - a }.sum / 1e3
      val execStages = Trace.unionMs(exec, s.constructMs, s.endMs + 1) / 1e3
      val outside = (Trace.unionMs(all) - Trace.unionMs(all, s.startMs - 2, s.endMs + 2)) / 1e3
      val g = opWall - cons - planS - execStages
      gap += math.max(g, 0.0)
      overlap += math.max(-g, 0.0) + outside
      spanLines += spanJson(s, cons, planS, execStages, math.max(g, 0.0), all)
    }
    m("exec.jobs") = sumL("*")(_.jobs.get)
    m("exec.stages") = sumL("*")(_.stages.get)
    m("exec.tasks") = sumL("*")(_.tasks.get)
    m("exec.stage_wall_s") = stageWall
    m("exec.driver_gap_s") = gap
    m("exec.task_cpu_s") = sumL("*")(_.cpuNs.get) / 1e9
    m("exec.task_run_s") = sumL("*")(_.runMs.get) / 1e3
    m("exec.gc_s") = sumL("*")(_.gcMs.get) / 1e3
    m("exec.parallelism") = if (stageWall > 0) m("exec.task_run_s") / stageWall else 0.0
    m("exec.peak_tasks") = lst.peakTasks
    m("exec.shuffle_write_mb") = sumL("*")(_.shuffleWrite.get) / 1048576.0
    m("exec.shuffle_read_mb") = sumL("*")(_.shuffleRead.get) / 1048576.0
    m("exec.spill_mb") = sumL("*")(_.spill.get) / 1048576.0
    val rows = sumL("*")(_.inputRows.get)
    m("exec.input_rows") = rows
    m("exec.cpu_ns_per_row") = if (rows > 0) sumL("*")(_.cpuNs.get).toDouble / rows else 0.0
    Seq("scan_time_s", "agg_time_s", "sort_time_s", "shuffle_write_time_s", "join_build_time_s")
      .foreach(k => m(s"physical.$k") = spans.map(_.physical.getOrElse(k, 0.0)).sum)
    m("sources.load_s") = spans.map(_.extra.getOrElse("load_s", 0.0)).sum
    Seq("operators.commit_s", "operators.compact_s", "operators.compact_mb_rewritten",
      "operators.log_files", "operators.log_mb", "operators.rows_scanned_per_key")
      .foreach(k => m(k) = extra.getOrElse(k, 0.0))
    m("trace.layer_sum_err") = if (wall > 0) overlap / wall else 0.0
    report("trace_ops") = spans.size
    report("trace_wall_s") = wall
    val f = new File(workDir, s"spans-$workload-$seed.jsonl")
    Files.writeString(f.toPath, spanLines.mkString("", "\n", "\n"))
    report("spans_file") = f.getPath
    m
  }

  private def accs2(id: Long, phase: String) = listener.get(id, phase).toSeq

  /** One operation's spans: op -> construct / analysis / optimization /
    * planning / stages, all sharing the operation id. */
  private def spanJson(s: OpSpan, cons: Double, plan: Double, stages: Double,
      gap: Double, stageSpans: Seq[(Long, Long)]): String = {
    def iv(a: Long, b: Long) = s"[${a - s.startMs},${b - s.startMs}]"
    val ph = s.phases.toSeq.sortBy(_._2._1).map { case (k, (a, b)) => s""""$k":${iv(a, b)}""" }
    Json.obj(Seq(
      "op" -> s.id, "name" -> s.name, "kind" -> s.kind,
      "wall_ms" -> (s.endNs - s.startNs) / 1e6,
      "construct_ms" -> (s.constructNs - s.startNs) / 1e6,
      "planning_after_construct_ms" -> plan * 1e3,
      "stages_ms" -> stages * 1e3, "driver_gap_ms" -> gap * 1e3,
      "phases_ms" -> Json.Raw(ph.mkString("{", ",", "}")),
      "stage_spans_ms" -> Json.Raw(stageSpans.sortBy(_._1).map { case (a, b) => iv(a, b) }.mkString("[", ",", "]"))))
  }

  // ---- run ------------------------------------------------------------------

  def run(): String = {
    val dyn = if (workload == "dyn_rw") Some(new DynRw(this, baseDir, workDir, seed)) else None
    workload match {
      case "surface_mix" => surfaceMix()
      case "batch_relaid" => batchRelaid()
      case "dyn_rw" =>
        setup(() => { dyn.get.prepare(); dyn.get.warm() })
        val t0 = System.nanoTime()
        dyn.get.stream(1).foreach { o =>
          val res = o()
          if (!res.ok) problems += s"warm ${res.name}: ${res.error}"
        }
        report("warm_s") = (System.nanoTime() - t0) / 1e9
        // one block of ten operations per 1.5 s of --seconds: 102 timed
        // operations (with two compactions) at --seconds 15
        timedLoop(dyn.get.stream(math.max(1, seconds * 2 / 3)))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    checkParity("run end")
    val extra = mutable.Map[String, Double]()
    dyn.foreach(_.finish(extra, report))
    val e2e = endToEnd()
    val layers = mutable.LinkedHashMap[String, Double]()
    if (traced) layers ++= perLayer(extra)
    sessionCounters(layers)
    e2e("retained_heap_mb") = retainedHeapMb()
    Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "end_to_end" -> Json.Raw(Json.numMap(e2e)),
      "per_layer" -> Json.Raw(Json.numMap(layers)),
      "ops" -> Json.Raw(results.map(r => Json.obj(Seq("name" -> r.name, "kind" -> r.kind,
        "wall_s" -> r.wallS, "ok" -> r.ok, "source_rows" -> r.sourceRows, "error" -> r.error)))
        .mkString("[", ",", "]")),
      "checks" -> Json.Raw(checks.map { case (n, d) =>
        Json.obj(Seq("name" -> n, "dir" -> d, "oracle" -> SparkEntry.oracleSql.get(n))) }
        .mkString("[", ",", "]")),
      "problems" -> Json.Raw(problems.map(Json.str).mkString("[", ",", "]")),
      "report" -> Json.Raw(Json.obj(report.toSeq))))
  }
}

/** Minimal JSON writer (no dependency beyond the JDK). */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case Some(x) => value(x)
    case None => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def numMap(m: collection.Map[String, Double]): String = obj(m.toSeq)
}
