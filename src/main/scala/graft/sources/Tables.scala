package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graft.{shims => S}
import org.apache.spark.sql.types.StructType

import graft.plans.HeldRelation

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
    * entries carry the (mtime, length) stamp of each path they read so
    * an in-session rewrite of a cached path invalidates the stale file
    * index — one stat() per path per load, against the tens-of-ms full
    * re-resolution the cache exists to avoid. [[load]]'s tables and the
    * table-path functions' [[pathView]]s share this one cache.
    *
    * The relation map is held through a SoftReference: its DataFrames
    * strongly reference their session, and a WeakHashMap entry whose
    * value strongly references its key is never collectable (the
    * value→key pin). The soft indirection lets the GC drop the map
    * under memory pressure, which unpins the session; in normal
    * operation soft refs survive GC (including Bench's between-query
    * System.gc()), so cache hits are unaffected. */
  private val relationCache = new SessionMaps[Cached]

  /** A cached relation with the stamps of the files it reads and the
    * parquet relation Spark read (see [[relisted]]). */
  private final case class Cached(df: DataFrame, stamp: Seq[(Long, Long)], raw: DataFrame)

  /** (path, length, mtime) of one data file. */
  private type FileKey = (String, Long, Long)

  /** Per-session maps: sessions key weakly, each map is held through a
    * SoftReference (see [[relationCache]]). */
  private final class SessionMaps[V] {
    private val maps = new java.util.WeakHashMap[SparkSession,
      java.lang.ref.SoftReference[java.util.concurrent.ConcurrentHashMap[String, V]]]()
    def apply(spark: SparkSession): java.util.concurrent.ConcurrentHashMap[String, V] =
      maps.synchronized {
        val ref = maps.get(spark)
        val cur = if (ref != null) ref.get else null
        if (cur != null) cur
        else {
          val m = new java.util.concurrent.ConcurrentHashMap[String, V]()
          maps.put(spark, new java.lang.ref.SoftReference(m))
          m
        }
      }
  }

  /** (mtime, length) of the path — a parquet overwrite replaces the
    * file or rewrites the directory, both of which move the stamp. */
  private[graft] def stampOf(p: String): (Long, Long) = {
    val f = new java.io.File(p)
    (f.lastModified, f.length)
  }

  /** A name-safe MD5 hex digest of `s`. */
  private def digest(s: String): String = java.util.UUID.nameUUIDFromBytes(
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString.replace("-", "")

  /** A fixture derived from the table at `source`, written once by
    * `write` into [[derivedDir]] and reused while that table keeps its
    * path and stamp. */
  private[graft] def derived(spark: SparkSession, source: String, kind: String)(
      write: String => Unit): String = synchronized {
    val dir = derivedDir(spark, source, kind)
    val done = new java.io.File(dir, "_done")
    if (!done.exists) {
      write(dir)
      done.getParentFile.mkdirs()
      done.createNewFile()
    }
    dir
  }

  /** Where [[derived]] keeps a `kind` fixture of the table at `source`:
    * under the session's warehouse dir, keyed by the source's absolute
    * path and [[stampOf]], so another corpus, or a rewrite of this one,
    * never reads it. */
  private[graft] def derivedDir(spark: SparkSession, source: String, kind: String): String = {
    val (mtime, len) = stampOf(source)
    val key = digest(s"${new java.io.File(source).getAbsolutePath}|$mtime|$len")
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    s"$warehouse/graft_fixtures/${kind}_$key"
  }

  /** Load one table. Never caches data — Catalyst column pruning +
    * filter pushdown on the parquet scan beat an uncompressed memory
    * cache at 100 TB scale (small dynamic tables read through DynTable
    * are the exception: see [[held]]).
    *
    * `events.ts` normalizes to microsecond TimestampType — the precision
    * the reference's Timestamp logical type carries (row_base.h: µs since
    * epoch) — whatever physical encoding the parquet writer chose:
    * TIMESTAMP(NANOS) arrives as a long (legacy nanosAsLong) and is
    * divided down; timestamp[us] (isAdjustedToUTC=false → TIMESTAMP_NTZ)
    * casts losslessly under the engine's fixed UTC session timezone.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val stamp = Seq(stampOf(p))
    hit(spark, p, stamp).getOrElse {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      resolve(spark, p, p, stamp) { df =>
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
        tagUnique(normalized, name)
      }
    }
  }

  /** The temp view over the raw parquet relation at `p`, which reads the
    * member tables `members` (`p` itself, or the members a `dir/{a,b}`
    * glob names): table-path functions scan it. The relation is cached
    * like [[load]]'s, stamped by the members, and the view's name is
    * derived from `p`, so re-resolving after a member changes replaces
    * the view in place. */
  private[graft] def pathView(spark: SparkSession, p: String, members: Seq[String]): String = {
    val view = "__g_tbl_" + digest(p)
    val stamp = members.map(stampOf)
    if (hit(spark, view, stamp).isEmpty)
      resolve(spark, view, p, stamp) { df => df.createOrReplaceTempView(view); df }
    view
  }

  /** The relation cached under `key` while its files keep `stamp`. */
  private def hit(spark: SparkSession, key: String, stamp: Seq[(Long, Long)]): Option[DataFrame] =
    Option(relationCache(spark).get(key)).filter(_.stamp == stamp).map(_.df)

  /** Read the parquet relation at `p` (with the previous schema when
    * [[relisted]] allows) and cache `build` of it under `key`. */
  private def resolve(spark: SparkSession, key: String, p: String, stamp: Seq[(Long, Long)])(
      build: DataFrame => DataFrame): DataFrame = {
    val cache = relationCache(spark)
    val df = Option(cache.get(key)).flatMap(relisted(spark, p, _)).getOrElse(spark.read.parquet(p))
    val built = build(df)
    cache.put(key, Cached(built, stamp, df))
    built
  }

  /** A relisted path whose schema needs no inference job: without
    * `mergeSchema`, Spark infers a parquet schema from the first data
    * file of the listing (by path) alone. When that file is the one the
    * cached schema came from — same path, length and mtime, as after an
    * append — the relation is built with that schema; when it is another
    * data file (a rewrite, or an appended file that sorts first), with
    * the schema Spark's converter reads from that file's footer, on the
    * driver instead of in the inference job. None when the listing has
    * summary files or partitions. */
  private def relisted(spark: SparkSession, p: String, prev: Cached): Option[DataFrame] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema") != "false") None
    else for {
      f <- schemaFile(prev.raw)
      (_, r) <- fsScan(prev.raw)
      df = relist(spark, p, r)
      first <- schemaFile(df)
      (_, now) <- fsScan(df)
    } yield if (first == f) df
      else S.ofRows(spark, LogicalRelation(
        now.copy(dataSchema = S.asNullable(footerSchema(spark, first._1)))(spark), false))

  /** The parquet relation at `p`, read before as `r`, relisted with `r`'s
    * schema: what `spark.read.schema(...).parquet(p)` builds. A path with
    * one root and no glob is relisted into a copy of `r`, which skips the
    * data source lookup and path checks. */
  private def relist(spark: SparkSession, p: String, r: HadoopFsRelation): DataFrame =
    Some(r.location.rootPaths).filter(ps => ps.size == 1 && !p.exists("{}[]*?\\".contains(_)))
      .map(new InMemoryFileIndex(spark, _, r.options, None)).filter(_.partitionSchema.isEmpty)
      .fold(spark.read.schema(r.dataSchema).parquet(p)) { index =>
        S.ofRows(spark, LogicalRelation(r.copy(location = index)(spark), false))
      }

  /** The schema Spark infers from the parquet file at `file` alone. */
  private def footerSchema(spark: SparkSession, file: String): StructType = {
    val path = new Path(file)
    val conf = S.hadoopConf(spark, Map.empty)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(path.getFileSystem(conf).getFileStatus(path), conf),
      ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(SQLConf.get))
  }

  /** The file Spark infers a parquet relation's schema from: the first
    * data file by path. None when summary files exist (Spark reads those
    * first) or the relation is partitioned. */
  private def schemaFile(df: DataFrame): Option[FileKey] = fsScan(df).flatMap { case (_, r) =>
    val files = listed(r)
    if (r.partitionSchema.nonEmpty ||
        files.exists(f => f._1.endsWith("/_metadata") || f._1.endsWith("/_common_metadata"))) None
    else files.headOption
  }

  private def fsScan(df: DataFrame): Option[(LogicalRelation, HadoopFsRelation)] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case r: HadoopFsRelation => Some((l, r))
        case _ => None
      }
      case _ => None
    }

  /** Data files of a file relation, by path. */
  private def listed(r: HadoopFsRelation): Seq[FileKey] =
    r.location.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)

  // --- Held rows: small stored dynamic tables served from the driver ---

  /** Rows of small stored tables, held on the driver per data file.
    * Data files are immutable (commits append files, compaction
    * rewrites the directory), so a file's rows are keyed by its
    * (path, length, mtime): a relisted table reads only its new files,
    * and the rows of files no longer listed are dropped. Same session
    * discipline as [[relationCache]]. */
  private val heldCache = new SessionMaps[Held]

  /** One table's held rows per data file, all read with `schema` by
    * `reader`, in listing order, and the key indexes built over exactly
    * those files. */
  private final class Held(val schema: StructType, val reader: FileReader,
      val files: Seq[FileKey], val rows: Map[FileKey, Array[InternalRow]],
      carried: Map[Seq[String], Option[KeyIndex]]) {
    private val built = new java.util.concurrent.ConcurrentHashMap[Seq[String], Option[KeyIndex]](
      carried.asJava)

    /** The held rows as one array, in listing order, for the plan leaf. */
    lazy val all: Array[InternalRow] = files.iterator.flatMap(rows(_)).toArray

    /** The range of the held rows' `ts`, once per listing. */
    lazy val ts: Option[HeldRelation.TsRange] = HeldRelation.tsRange(schema, all)

    def indexes: Seq[KeyIndex] = built.values.asScala.flatten.toSeq

    /** The index by `keys`, built on first use. */
    def index(keys: Seq[String]): Option[KeyIndex] =
      built.computeIfAbsent(keys, k => KeyIndex(schema, k, files.iterator.flatMap(rows(_))))

    /** This store relisted as `now`, with `read` holding the rows of the
      * files it does not hold yet. When `now` only adds files, each built
      * index is carried over with the new files' rows appended (only the
      * keys they touch change); otherwise indexes are rebuilt on use. */
    def relisted(now: Seq[FileKey], read: Map[FileKey, Array[InternalRow]]): Held = {
      val appended =
        if (!files.forall(now.contains)) Map.empty[Seq[String], Option[KeyIndex]]
        else built.asScala.toMap.map { case (keys, ix) =>
          keys -> ix.map(_.append(now.iterator.filter(read.contains).flatMap(read(_))))
        }
      new Held(schema, reader, now, now.map(f => f -> rows.getOrElse(f, read(f))).toMap, appended)
    }
  }

  /** A driver-held log: `frame` plans over its rows, and `index` gives
    * its key index by the given key columns (None for a key type the
    * index does not group). A stored table's frame is a [[HeldRelation]]
    * leaf and its indexes are kept with its rows; a client-sized frame is
    * a LocalRelation and its indexes are built per call. */
  private[graft] final class HeldLog(frameOf: => DataFrame,
      indexOf: Seq[String] => Option[KeyIndex]) {
    lazy val frame: DataFrame = frameOf
    def index(keys: Seq[String]): Option[KeyIndex] = indexOf(keys)
  }

  /** `df` as a driver-held log, or None when `df` is not eligible.
    * Eligible are
    *   - a bare file scan with no partition columns whose plan-estimated
    *     size is at most `spark.sql.autoBroadcastJoinThreshold`, the size
    *     Spark already collects to the driver for a broadcast: its rows
    *     come from the held store, which reads only the files it does not
    *     hold yet, on the driver;
    *   - a client-sized frame: a LocalRelation or a Union of them.
    * A negative threshold turns holding off. */
  private[graft] def held(df: DataFrame): Option[HeldLog] = {
    val spark = df.sparkSession
    fsScan(df) match {
      case Some((l, r)) =>
        if (r.partitionSchema.nonEmpty || l.stats.sizeInBytes > S.broadcastThreshold(spark)) None
        else {
          val h = heldStore(spark, r)
          Some(new HeldLog(S.ofRows(spark, HeldRelation(l.output.map(_.newInstance()), h.all, h.ts)),
            h.index))
        }
      case None =>
        localRows(df).map { rows =>
          val output = df.queryExecution.optimizedPlan.output
          new HeldLog(localFrame(spark, output, rows),
            KeyIndex(DataTypeUtils.fromAttributes(output), _, rows.iterator))
        }
    }
  }

  /** Rows of a client-sized frame: a plan over local or held rows
    * whose optimized plan is local rows ([[graft.plans.LocalRows]]). None
    * for any other plan, and when holding is off. */
  private[graft] def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    if (S.broadcastThreshold(df.sparkSession) < 0 || df.isStreaming ||
        !df.queryExecution.analyzed.collectLeaves().forall {
          case _: LocalRelation | _: HeldRelation => true
          case _ => false
        }) None
    else graft.plans.LocalRows.unapply(df.queryExecution.optimizedPlan)

  private def localFrame(spark: SparkSession, output: Seq[Attribute],
      rows: Seq[InternalRow]): DataFrame =
    S.ofRows(spark, LocalRelation(output.map(_.newInstance()), rows))

  /** The store for a file relation's listing, reading its new files. */
  private def heldStore(spark: SparkSession, r: HadoopFsRelation): Held = {
    val table = r.location.rootPaths.mkString(",")
    val store = heldCache(spark)
    val files = listed(r)
    val prev = Option(store.get(table)).filter(_.schema == r.dataSchema)
      .getOrElse(new Held(r.dataSchema, new FileReader(spark, r), Nil, Map.empty, Map.empty))
    if (prev.files == files) prev
    else {
      val now = prev.relisted(files, prev.reader(files.filterNot(prev.rows.contains)))
      store.put(table, now)
      now
    }
  }

  /** Reads data files of relation `r` on the driver through its file
    * format, returning each file's rows copied out of the reader's
    * buffers. The reader is built on first use and kept with the store:
    * building it broadcasts the Hadoop configuration, which costs more
    * than reading a small file. Like the rows the store already holds,
    * it keeps the session's confs of that moment. */
  private final class FileReader(spark: SparkSession, r: HadoopFsRelation) {
    private lazy val read = r.fileFormat.buildReaderWithPartitionValues(spark, r.dataSchema,
      r.partitionSchema, r.dataSchema, Nil, r.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      S.hadoopConf(spark, r.options))
    private lazy val unsafe = UnsafeProjection.create(r.dataSchema)

    def apply(files: Seq[FileKey]): Map[FileKey, Array[InternalRow]] = synchronized {
      files.map { case f @ (p, length, mtime) =>
        val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p), 0, length,
          Array.empty[String], mtime, length))
        try f -> it.map(row => unsafe(row).copy(): InternalRow).toArray
        finally it match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
      }.toMap
    }
  }

  /** Data files the store holds for a table (spec hook). */
  private[graft] def heldFiles(spark: SparkSession): Map[String, Set[String]] =
    heldCache(spark).asScala.map { case (t, h) => t -> h.files.map(_._1).toSet }.toMap

  /** Data files whose rows a table's key indexes hold, found by identity
    * among the rows of the files the store holds; an indexed row that no
    * held file holds counts as file "" (spec hook). */
  private[graft] def indexedFiles(spark: SparkSession): Map[String, Set[String]] =
    heldCache(spark).asScala.map { case (t, h) =>
      val fileOf = new java.util.IdentityHashMap[InternalRow, String]()
      h.files.foreach(f => h.rows(f).foreach(fileOf.put(_, f._1)))
      t -> h.indexes.flatMap(_.versionRows).map(r => Option(fileOf.get(r)).getOrElse("")).toSet
    }.toMap

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
    val maxSplit = SQLConf.get.filesMaxPartitionBytes
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
