package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table catalog over a testdata scale-factor directory.
  *
  * The reference addresses tables by Cypress path (`//path/to/table`,
  * see /root/reference/yt/yt/client/api/table_client.h); here a "static
  * table" is a parquet path under a directory, loaded as a DataFrame and
  * registered as a temp view so both the DataFrame API and `spark.sql`
  * can reach it. Scans stay declarative so Catalyst gets pushdown,
  * pruning and vectorized parquet reads for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Single-column unique keys of the catalog tables — schema-level
    * facts of the data model (TPC-H primary keys; the synthetic tables'
    * generated row ids). The reference derives the same property from
    * sorted-table schemas' unique flags and uses it to drive join
    * rewrites (yql_yt_join_impl.cpp:1030-1150); here it rides as column
    * metadata on the loaded DataFrame so optimizer rules
    * (plans/PushDownGroupBy) can prove "≤1 right row per key" at plan
    * time. lineitem's key is composite — no single-column entry.
    */
  val uniqueKeys: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** Metadata key marking an attribute as unique in its base table. */
  val UniqueMetaKey = "graft.unique"

  private def tagUnique(df: DataFrame, name: String): DataFrame =
    uniqueKeys.get(name).filter(df.columns.contains).fold(df) { k =>
      df.withMetadata(k, new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(UniqueMetaKey, true).build())
    }

  /** Load one table. Never caches — Catalyst column pruning + filter
    * pushdown on the parquet scan beat an uncompressed memory cache at
    * 100 TB scale.
    *
    * `events.ts` normalizes to microsecond TimestampType — the precision
    * the reference's Timestamp logical type carries (row_base.h: µs since
    * epoch) — whatever physical encoding the parquet writer chose:
    * TIMESTAMP(NANOS) arrives as a long (legacy nanosAsLong) and is
    * divided down; timestamp[us] (isAdjustedToUTC=false → TIMESTAMP_NTZ)
    * casts losslessly under the engine's fixed UTC session timezone.
    */
  /** Relation cache: `spark.read.parquet` re-lists the path and
    * re-reads the parquet footer on EVERY call (driver-side,
    * single-threaded — tens of ms), and a bench/verify sweep loads
    * each table hundreds of times. Catalog tables cache exactly this
    * metadata (file index + schema); path-loaded relations get the
    * same treatment here. This caches the RELATION (logical plan over
    * the files), never data or results: every execution still scans
    * the parquet. Keyed per session (a DataFrame is bound to the
    * session that built it). */
  /** Sessions key WEAKLY (a dropped session's relations become
    * collectable instead of pinning DataFrames for the JVM lifetime);
    * entries carry the path's (mtime, length) stamp so an in-session
    * rewrite of a cached path invalidates the stale file index — one
    * stat() per load, against the tens-of-ms full re-resolution the
    * cache exists to avoid.
    *
    * The relation map is held through a SoftReference: its DataFrames
    * strongly reference their session, and a WeakHashMap entry whose
    * value strongly references its key is never collectable (the
    * value→key pin). The soft indirection lets the GC drop the map
    * under memory pressure, which unpins the session; in normal
    * operation soft refs survive GC (including Bench's between-query
    * System.gc()), so cache hits are unaffected. */
  private val relationCache =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[
      java.util.concurrent.ConcurrentHashMap[String, (DataFrame, Long, Long)]]]()

  /** (mtime, length) of the path — a parquet overwrite replaces the
    * file or rewrites the directory, both of which move the stamp. */
  private[graft] def stampOf(p: String): (Long, Long) = {
    val f = new java.io.File(p)
    (f.lastModified, f.length)
  }

  private def sessionCache(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, (DataFrame, Long, Long)] =
    relationCache.synchronized {
      val ref = relationCache.get(spark)
      val cur = if (ref != null) ref.get else null
      if (cur != null) cur
      else {
        val m = new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, Long, Long)]()
        relationCache.put(spark, new java.lang.ref.SoftReference(m))
        m
      }
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val cache = sessionCache(spark)
    val (mtime, len) = stampOf(p)
    val hit = cache.get(p)
    if (hit != null && hit._2 == mtime && hit._3 == len) hit._1
    else {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(p)
      val normalized = if (name == "events") {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types._
        df.schema("ts").dataType match {
          case LongType => // nanos-as-long from TIMESTAMP(NANOS) parquet
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _: TimestampNTZType =>
            df.withColumn("ts", col("ts").cast(TimestampType))
          case _ => df
        }
      } else df
      val built = tagUnique(normalized, name)
      cache.put(p, (built, mtime, len))
      built
    }
  }

  /** Recursive on-disk footprint of a table path (file or directory).
    * The spread gate uses TOTAL bytes, not file count: a sub-split
    * corpus scans with at most a handful of tasks whatever its file
    * layout (a single small file is one row group = one task; a
    * directory of small part files packs into few splits), and the
    * sf1-decade A/B showed the expensive-projection win (ql_fuzz_exprs
    * 3.7→2.2 s) outweighs the mild exchange tax on lighter ones
    * (yql_fn_basics 2.5→2.7 s) on multi-file layouts too. */
  private[graft] def diskBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)

  /** [[load]] plus post-scan parallelism for CPU-heavy per-row
    * operators (guide §2: repartition straight after an unsplittable
    * read). Parquet splits at ROW-GROUP boundaries, so a table whose
    * whole footprint fits in one scan split runs every downstream
    * per-row expression on ONE core no matter how wide the machine is
    * — compression codecs, interpreted higher-order functions and
    * digest kernels serialize behind scan parallelism they don't
    * control. The gate is scale-adaptive, not tuned to a core count:
    * the round-robin exchange is added ONLY when the on-disk footprint
    * fits inside a single `files.maxPartitionBytes` split (at which
    * point the shuffle moves less than one split of data); any input
    * big enough to scan in parallel is returned untouched, so at
    * cluster scale this is a no-op. */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val bytes = try diskBytes(new java.io.File(path(dir, name)))
      catch { case _: Exception => Long.MaxValue }
    val maxSplit = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    val cores = spark.sparkContext.defaultParallelism
    if (bytes > 0 && bytes <= maxSplit && cores > 1) df.repartition(cores)
    else df
  }

  /** Register every table in `dir` as a temp view (idempotent). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      load(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Register tables as EXTERNAL catalog tables over their existing
    * parquet files (no data copy) and compute table + column
    * statistics, then enable cost-based optimization. This is the
    * engine's answer to the reference's cost-based join reorder
    * (SURVEY §4.2: DPhyp over the join hypergraph,
    * cbo_optimizer_new.cpp) — Spark's `CostBasedJoinReorder` only acts
    * when catalog statistics exist, which temp views over bare parquet
    * paths never carry. At 100 TB, exact row counts and NDVs are what
    * keeps a 6-table join from materializing a mid-plan blow-up: the
    * planner orders joins by estimated output, not by query text.
    *
    * Column stats are computed for atomic types only (Spark's ANALYZE
    * rejects arrays/structs — the embedding vectors keep table-level
    * stats, which join reorder needs most).
    */
  def analyzeAll(spark: SparkSession, dir: String,
      tables: Seq[String] = all, suffix: String = "_t"): Unit = {
    import org.apache.spark.sql.types._
    tables.foreach { n =>
      val t = s"$n$suffix"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t USING parquet LOCATION '${path(dir, n)}'")
      val atomic = spark.table(t).schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType] ||
            f.dataType == StringType || f.dataType == BooleanType ||
            f.dataType == DateType || f.dataType.isInstanceOf[TimestampType] ||
            f.dataType.isInstanceOf[TimestampNTZType] => s"`${f.name}`"
      }
      if (atomic.nonEmpty)
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${atomic.mkString(", ")}")
      else
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
  }

  /** Persist a table bucketed+sorted by its key prefix — the engine's
    * equivalent of the reference's sorted-table key metadata that
    * enables co-located merge joins without re-partitioning
    * (`CommonKeyPrefix`, query.h:345; `GetJoinGroups`, query.h:377:
    * joins on a shared key prefix skip the foreign-key re-lookup).
    * Two tables bucketed the same way join with NO exchange on either
    * side — at 100 TB that's the difference between a full dual
    * shuffle and a local merge per bucket.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
