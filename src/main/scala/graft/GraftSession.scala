package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session factory with the engine's default tuning.
  *
  * Mirrors the reference's execution posture (distributed partial/final
  * aggregation, sampled range partitioning, spill-aware operators —
  * SURVEY.md §3/§4) by leaning on Spark's own equivalents: AQE for
  * runtime re-planning (coalesce, skew-join split), broadcast joins for
  * dimension tables, and a shuffle-partition count sized to the local
  * core count rather than the 200 default.
  */
object GraftSession {
  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf; Spark's
    * default of 100 evicts a plan's classes before the plan runs again).
    * Measured at sf0.01, local[4]: one pass of all 270 queries graft.Bench
    * times generates 2640 distinct classes, and a second pass 69 more
    * (plans that differ between runs); one cached class retains
    * 27.4 KB of heap (source text, class, byte-code stats) and about
    * 7.6 KB of metaspace. 4096 holds the whole surface with room for the
    * per-run classes; a full cache costs about 110 MB of heap. */
  val CodegenCacheEntries = 4096

  /** The engine's session extensions, shared by every session the engine
    * and its specs build: the physical rule that keeps request constants
    * out of generated code. */
  val extensions: SparkSessionExtensions => Unit =
    _.injectQueryStagePrepRule(_ => graft.plans.ParameterizeLiterals)

  /** AQE's target shuffle partition size, which [[tuneShuffleFor]] also
    * sizes the initial fan-out by. */
  val AdvisoryPartitionBytes: Long = 64L << 20

  def defaultMaster: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"

  def builder(master: String = defaultMaster): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Big-shuffle headroom: start wide and let AQE coalesce back
      // down. With only `cpus` initial partitions, a 60M-row join
      // shuffle at sf100 lands ~2M rows in each sort and spills; with
      // 4× headroom AQE merges the small cases to ~cpus partitions
      // anyway (advisory size below), so small scale pays nothing and
      // the sf100 decade stops spilling. The same posture holds on a
      // real cluster: initialPartitionNum >> cores, AQE right-sizes.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 4).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", AdvisoryPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Deliberately NOT raised above Spark's default: a high threshold
      // makes the planner broadcast whole fact tables at test scale
      // (lineitem is 33 MiB at sf0.1), which inverts build/probe sides
      // into a shape that cannot survive scale-up. With the realistic
      // threshold, dims broadcast statically and AQE upgrades reduced
      // join sides to broadcast from their RUNTIME size.
      .config("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
      // Parquet scans are estimated at COMPRESSED file size, so a fact
      // table under the broadcast threshold on disk (lineitem: ~8 MiB
      // file, 33 MiB in memory at sf0.1) gets planned as a build side.
      // Scale estimates to decompressed size so build/probe selection
      // reflects what the hash table will actually cost.
      .config("spark.sql.sources.fileCompressionFactor", "4.0")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(extensions)
  }

  /** Log posture shared by EVERY main (engine, Verify, Bench, FuzzSweep,
    * ScaleUp). Glob-path reads (table-path functions' {a,b} scans) probe
    * for a streaming-sink metadata dir and WARN with a full
    * FileNotFoundException stack ("Assume no metadata directory") —
    * routine for any non-streaming path, but it reads like a query
    * failure in a log tail. The probe result is unaffected, so that
    * logger is pinned to ERROR wherever the session was built.
    */
  def quietLogs(spark: SparkSession, level: String = "WARN"): Unit = {
    spark.sparkContext.setLogLevel(level)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** The one session constructor: every main (Bench, Explain, Verify
    * and the tools) builds its session here, so the oracle gate checks
    * the same rule set the bench times. */
  def get(master: String = defaultMaster): SparkSession = {
    val spark = builder(master).getOrCreate()
    quietLogs(spark)
    installRules(spark)
    spark
  }

  /** The engine's logical optimizer rules, on every session `get`
    * returns and on the specs' session. */
  def installRules(spark: SparkSession): Unit = {
    // QL's join+agg push-down (eager aggregation on the foreign side)
    graft.plans.PushDownGroupBy.install(spark)
    // SOME(key) → key: keeps string witnesses of the group key from
    // forcing the whole aggregate onto SortAggregateExec
    graft.plans.FoldFirstOfGroupKey.install(spark)
  }

  /** Scale-aware AQE headroom: `initialPartitionNum` is a RUNTIME SQL
    * conf, so when the input corpus is known, size the shuffle fan-out
    * from its on-disk footprint instead of paying the static 4×cpus
    * everywhere. Sub-advisory-sized inputs keep `cpus` partitions (the
    * measured 4× tax on a sf0.1 sweep is +10% wall — all job-fixed
    * overhead on sub-second shuffles); inputs whose decompressed
    * estimate exceeds cpus×advisory grow toward 4×cpus (the sf100
    * posture that stopped the spill bends: q10 41.2→15.7 s). The same
    * rule holds on a real cluster — fan-out follows data volume, AQE
    * coalesces the remainder. */
  def tuneShuffleFor(spark: SparkSession, dir: String): Unit = {
    val bytes = try graft.sources.Tables.diskBytes(new java.io.File(dir))
      catch { case _: Exception => 0L }
    val cpus = spark.sparkContext.defaultParallelism.max(1)
    val decompressed = bytes * 4 // mirrors fileCompressionFactor
    val want = math.max(cpus.toLong,
      math.min(cpus.toLong * 4, decompressed / AdvisoryPartitionBytes + 1))
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      want.toString)
  }
}
