package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{shims => S}
import org.apache.spark.unsafe.types.UTF8String

/** The static-table dataflow operations (SURVEY.md §2.B): Map, Merge,
  * Sort, Reduce, JoinReduce, MapReduce, Erase — re-expressed over
  * Dataset primitives so Catalyst/Tungsten own partitioning, spill and
  * codegen.
  *
  * Scale notes (the 100 TB story, per operation):
  *   - sort: `repartitionByRange` samples range bounds exactly like the
  *     reference's samples_fetcher.cpp → TPartitionTask pivots; no
  *     single-node sort ever happens.
  *   - sortedReduce: shuffle once on reduceBy, secondary-sort within
  *     partitions (sortBy), stream groups through a lazy chopper —
  *     groups never materialize unless the user function retains them.
  *   - joinReduce: left join by the join prefix; Catalyst picks
  *     SMJ/broadcast; the reference's "replicate foreign rows per key
  *     range" is exactly what a sort-merge join does after range
  *     exchange.
  *   - mapReduce: optional combiner runs pre-shuffle (map-side),
  *     mirroring ReduceCombiner jobs.
  *
  * Reference: controllers yt/yt/server/controller_agent/controllers/
  * (sort_controller.cpp, sorted_controller.cpp, ordered_controller.cpp),
  * job spec yt/yt/ytlib/scheduler/config.h:1798-1997.
  */
object Operations {

  /** Map operation (unordered): arbitrary per-partition transform —
    * user_job.cpp's mapper as a Scala closure. Prefer declarative
    * `select` when the transform is expressible; this is the escape
    * hatch the reference calls a "user job".
    */
  def map[T, U: Encoder](input: Dataset[T])(f: Iterator[T] => Iterator[U]): Dataset[U] =
    input.mapPartitions(f)

  /** Map with an `input_query` pre-filter (PrepareJobQuery,
    * query_preparer.cpp:1175): a QL/SQL predicate + projection pushed
    * below the user transform so it reaches the parquet scan.
    */
  def mapWithInputQuery(input: DataFrame, inputQuery: String)(
      f: Iterator[Row] => Iterator[Row]): DataFrame = {
    val filtered = input.where(inputQuery)
    filtered.mapPartitions(f)(Encoders.row(filtered.schema))
  }

  /** Sort operation: distributed range-partitioned sort (partition →
    * per-partition sort → merge, sort_controller.cpp). Spark samples
    * pivot bounds the same way the reference's samples_fetcher does.
    */
  def sort(input: DataFrame, sortBy: Seq[Column], partitions: Option[Int] = None): DataFrame = {
    val ranged = partitions
      .map(n => input.repartitionByRange(n, sortBy: _*))
      .getOrElse(input.repartitionByRange(sortBy: _*))
    ranged.sortWithinPartitions(sortBy: _*)
  }

  /** Merge, unordered mode: concatenate inputs (merge_job.cpp). */
  def mergeUnordered(inputs: Seq[DataFrame]): DataFrame =
    inputs.reduce(_ unionAll _)

  /** Merge, sorted mode: k-way merge preserving sort order
    * (sorted_merge_job.cpp / TSortedMergingReader). Implemented as
    * union + range re-sort: identical result, and Spark's range
    * exchange + in-partition sort is the distributed k-way merge.
    */
  def mergeSorted(inputs: Seq[DataFrame], sortBy: Seq[Column]): DataFrame =
    sort(mergeUnordered(inputs), sortBy)

  /** ShallowMerge (shallow_merge_job.cpp; job type ShallowMerge,
    * job_tracker_client/public.h:42): merge chunk METADATA only — the
    * output table is the union of the inputs' chunk files, with no row
    * decode or recompression. Parquet files are self-describing chunks,
    * so the Spark-side equivalent is a file-level copy into the
    * destination directory: at 100 TB this moves bytes (or just
    * renames, same filesystem) and never pays decode+encode. Inputs
    * must share a schema, like the reference's requirement that shallow
    * merge inputs carry compatible chunk formats. Returns the number of
    * chunk files merged.
    */
  def shallowMerge(spark: org.apache.spark.sql.SparkSession,
      inputDirs: Seq[String], destDir: String): Long = {
    // the reference refuses shallow merges of incompatible chunk
    // formats (shallow_merge_job.cpp validates schemas); here the
    // check reads parquet FOOTERS only — still no row decode
    val schemas = inputDirs.map(d => spark.read.parquet(d).schema)
    require(schemas.distinct.length == 1,
      s"shallow merge inputs must share one schema, got: ${schemas.distinct}")
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = new org.apache.hadoop.fs.Path(destDir)
    val destFs = dest.getFileSystem(conf)
    destFs.mkdirs(dest)
    var n = 0L
    inputDirs.zipWithIndex.foreach { case (dirStr, i) =>
      val dir = new org.apache.hadoop.fs.Path(dirStr)
      val fs = dir.getFileSystem(conf)
      val status = fs.getFileStatus(dir)
      val files = if (status.isFile) Array(status) else fs.listStatus(dir)
      files.filter { st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")
      }.foreach { st =>
        val out = new org.apache.hadoop.fs.Path(dest, s"t$i-${st.getPath.getName}")
        org.apache.hadoop.fs.FileUtil.copy(
          fs, st.getPath, destFs, out, false, conf)
        n += 1
      }
    }
    n
  }

  /** User job as an external binary over a pipe (user_job.cpp: mapper =
    * arbitrary process reading rows on stdin, writing rows on stdout,
    * in one of the §1.4 formats — here tab-separated, the Dsv flavor).
    * One process per partition, streamed in a background thread — rows
    * never buffer beyond pipe capacity; at scale this is identical to
    * the reference's job-proxy pipe topology. Each field is written as
    * its external (Row) value's text, a null as the empty string.
    */
  def pipeMap(input: DataFrame, command: Seq[String],
      outSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val types = input.schema.fields.map(_.dataType)
    val external = types.map(S.toScalaConverter)
    graft.sources.PipeJob.pipe(input, "dsv", command, outSchema)(
      (rows, os) => {
        val w = new java.io.PrintWriter(os)
        rows.foreach { r =>
          w.println(types.indices.map { i =>
            if (r.isNullAt(i)) "" else external(i)(r.get(i, types(i))).toString
          }.mkString("\t"))
        }
        w.flush()
      },
      tsvReader(outSchema))
  }

  /** Parse a job's tab-separated stdout into typed rows (the Dsv
    * flavor both pipe operators speak). An empty field is null only in
    * a nullable column. */
  private def tsvReader(outSchema: org.apache.spark.sql.types.StructType)
      : java.io.InputStream => Iterator[InternalRow] = { is =>
    import org.apache.spark.sql.types._
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(is))
    Iterator.continually(br.readLine()).takeWhile(_ != null).map { line =>
      val parts = line.split("\t", -1)
      InternalRow.fromSeq(outSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val s = if (i < parts.length) parts(i) else ""
        if (s.isEmpty && f.nullable) null
        else f.dataType match {
          case LongType => s.toLong
          case IntegerType => s.toInt
          case DoubleType => s.toDouble
          case BooleanType => s.toBoolean
          case _: StringType => UTF8String.fromString(s)
          case other => throw new IllegalArgumentException(s"no Dsv reader for $other")
        }
      })
    }
  }

  /** Vanilla operation (vanilla_controller.cpp: TVanillaTask = a pool
    * of exactly `jobCount` jobs with NO table input): the user command
    * runs once per job, its stdout rows become the task's output
    * table. The cohort index reaches the job as `$YT_JOB_INDEX`
    * (the reference's job environment contract), so jobs can shard
    * external work deterministically.
    *
    * Spark shape: a `jobCount`-partition seed range, one external
    * process per partition — the same pipe topology as [[pipeMap]]
    * minus the input feed. Multiple named tasks = multiple calls,
    * one output table each (TVanillaOperationSpec's task map).
    */
  def vanilla(spark: org.apache.spark.sql.SparkSession, jobCount: Int,
      command: Seq[String],
      outSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(jobCount > 0, "vanilla: job_count must be positive")
    graft.sources.PipeJob.vanilla(spark, jobCount, command, outSchema)(tsvReader(outSchema))
  }

  /** Multi-output map: the mapper tags each produced row with an output
    * table index 0..n-1 (`MapperOutputTableCount`, scheduler
    * config.h:1959-1997) — one pass over the input, n result frames.
    * The tagged frame is computed once; callers persist/cache it if all
    * outputs are consumed (at scale: write once partitioned by `_out`
    * and read each output as a partition — no recompute).
    */
  def mapMultiOutput[T](input: Dataset[T], outputs: Int)(
      f: Iterator[T] => Iterator[(Int, Row)])(schema: org.apache.spark.sql.types.StructType)
      : Seq[DataFrame] = {
    val tagged = input.mapPartitions { it =>
      f(it).map { case (tag, r) => Row.fromSeq(tag +: r.toSeq) }
    }(Encoders.row(org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("_out", org.apache.spark.sql.types.IntegerType) +: schema.fields)))
    (0 until outputs).map(i => tagged.filter(col("_out") === i).drop("_out"))
  }

  /** Merge, ordered mode: concatenation preserving each input's row
    * order and the input sequence (OrderedMerge jobs,
    * merge_job.cpp) — `unionAll` keeps partition order per input; no
    * shuffle, no sort.
    */
  def mergeOrdered(inputs: Seq[DataFrame]): DataFrame =
    inputs.reduce(_ unionAll _)

  /** Ordered map: per-partition transform with input order preserved
    * (OrderedMap jobs, ordered_controller.cpp) — mapPartitions with no
    * preceding exchange keeps the scan order within each split.
    */
  def mapOrdered[T, U: Encoder](input: Dataset[T])(f: Iterator[T] => Iterator[U]): Dataset[U] =
    input.mapPartitions(f)

  /** RemoteCopy: move a table between clusters without recompression
    * (remote_copy_job.cpp). With one catalog this is a read → write of
    * the files; exposed for API completeness.
    */
  def remoteCopy(spark: org.apache.spark.sql.SparkSession, srcPath: String,
      dstPath: String): DataFrame = {
    val df = spark.read.parquet(srcPath)
    df.write.mode("overwrite").parquet(dstPath)
    spark.read.parquet(dstPath)
  }

  /** Erase operation: delete the row range matching `pred` — i.e. keep
    * the complement (ordered_controller.cpp erase task).
    */
  def erase(input: DataFrame, pred: Column): DataFrame =
    input.filter(!coalesce(pred, lit(false)))

  /** Sorted reduce (SortedReduce jobs, sorted_controller.cpp): stream
    * each `reduceBy` group — rows secondary-sorted by `sortBy` — through
    * a user function. One shuffle on reduceBy; groups are chopped
    * lazily from the sorted partition stream (the reference's key
    * guarantee: one key never spans two invocations).
    */
  def sortedReduce(input: DataFrame, reduceBy: Seq[String], sortBy: Seq[String],
      outputSchema: org.apache.spark.sql.types.StructType)(
      f: (Row, Iterator[Row]) => Iterator[Row]): DataFrame =
    chopReduce(input.repartition(reduceBy.map(col): _*), reduceBy, sortBy,
      outputSchema)(f)

  /** Partition-local half of a sorted reduce: secondary-sort within the
    * partitions the caller already keyed, then stream groups through the
    * chopper. No exchange — callers guarantee `reduceBy` keys don't span
    * partitions.
    */
  private def chopReduce(keyed: DataFrame, reduceBy: Seq[String],
      sortBy: Seq[String], outputSchema: org.apache.spark.sql.types.StructType)(
      f: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val ordered = keyed.sortWithinPartitions((reduceBy ++ sortBy).map(col): _*)
    val keyIdx = reduceBy.map(ordered.schema.fieldIndex).toArray
    ordered.mapPartitions { it =>
      Chopper(it, keyIdx).flatMap { case (key, rows) => f(key, rows) }
    }(Encoders.row(outputSchema))
  }

  /** JoinReduce: primary tables left-joined with foreign tables on the
    * `joinBy` prefix, then reduced group-wise (TSortedJoiningReader,
    * sorted_merging_reader.cpp:563). Foreign rows replicate per matching
    * key — exactly sort-merge-join semantics.
    *
    * One exchange of the primary stream, BEFORE the join: the explicit
    * repartition pins the join output's partitioning to hash(joinBy)
    * whether Catalyst picks SMJ (join's own clustered distribution) or
    * broadcasts the foreign side (streamed side keeps the primary's
    * partitioning). Either way the joined stream — the largest
    * intermediate in the pipeline — is never re-shuffled; only a
    * partition-local secondary sort remains before the chopper.
    */
  def joinReduce(primary: DataFrame, foreign: DataFrame, joinBy: Seq[String],
      sortBy: Seq[String],
      outputSchema: org.apache.spark.sql.types.StructType)(
      f: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val keyed = primary.repartition(joinBy.map(col): _*)
    val joined = keyed.join(foreign, joinBy, "left")
    chopReduce(joined, joinBy, sortBy, outputSchema)(f)
  }

  /** AS-OF join: for every left row, the single latest right row with
    * `rightTs <= leftTs` on the same key — the temporal lookup a
    * training pipeline uses for feature stitching (and the reference's
    * versioned-read-at-timestamp shape applied across two tables).
    *
    * Spark has no built-in; the scalable shape is ONE shuffle and ONE
    * merge pass, never a per-row range probe: union both sides tagged,
    * hash-partition by key, secondary-sort by (ts, tag) — right rows
    * sort before left at equal ts, so `<=` is inclusive — then stream
    * each partition carrying the last-seen right values per key.
    * Equivalent of a sort-merge join specialized to the asof
    * predicate; state is O(1) per key, spill handled by the sort.
    *
    * Returns all left columns plus `rightVals` (null when no right row
    * precedes).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightVals: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_tag", lit(1))
      .select((keys.map(col) ++ Seq(col("_ts"), col("_tag")) ++
        leftCols.filterNot(keys.contains).map(col) ++
        rightVals.map(v => lit(null).cast(right.schema(v).dataType).as(v))): _*)
    val r = right
      .withColumn("_ts", col(rightTs))
      .withColumn("_tag", lit(0))
      .select((keys.map(col) ++ Seq(col("_ts"), col("_tag")) ++
        leftCols.filterNot(keys.contains).map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightVals.map(col)): _*)
    val unioned = l.unionByName(r)
      .repartition(keys.map(col): _*)
      .sortWithinPartitions((keys.map(col) :+ col("_ts")) :+ col("_tag"): _*)
    val outSchema = StructType(
      keys.map(k => left.schema(k)) ++
        leftCols.filterNot(keys.contains).map(left.schema(_)) ++
        // right values are null for left rows with no preceding match
        rightVals.map(v => right.schema(v).copy(nullable = true)))
    val nKeys = keys.length
    val nLeft = leftCols.filterNot(keys.contains).length
    val nRight = rightVals.length
    unioned.mapPartitions { rows =>
      var curKey: Seq[Any] = null
      val lastRight = new Array[Any](nRight)
      rows.flatMap { row =>
        val k = (0 until nKeys).map(row.get)
        if (k != curKey) {
          curKey = k
          java.util.Arrays.fill(lastRight.asInstanceOf[Array[AnyRef]], null)
        }
        val tag = row.getInt(nKeys + 1)
        if (tag == 0) {
          var i = 0
          while (i < nRight) {
            lastRight(i) = row.get(nKeys + 2 + nLeft + i)
            i += 1
          }
          None
        } else {
          val leftVals = (0 until nLeft).map(i => row.get(nKeys + 2 + i))
          Some(Row.fromSeq(k ++ leftVals ++ lastRight.toSeq))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Vanilla operation (vanilla_controller.cpp; spec config.h:1486):
    * N user tasks with no table input — the degenerate "just run my
    * binaries" job DAG. One partition per declared task; the task
    * closure returns that task's output rows.
    */
  def vanilla[U: Encoder](spark: org.apache.spark.sql.SparkSession,
      taskCount: Int)(task: Int => Iterator[U]): Dataset[U] = {
    import spark.implicits._
    spark.range(taskCount).as[Long]
      .repartition(taskCount)
      .mapPartitions(_.flatMap(i => task(i.toInt)))
  }

  /** Skew-salted equi-join: the skewed (large, hot-keyed) side gets a
    * deterministic salt in [0, salt); the other side replicates once
    * per salt value; the join key becomes (keys..., salt) so a hot key
    * spreads over `salt` reducers instead of melting one. Result is
    * exactly the plain join (salt columns dropped).
    *
    * AQE's runtime skew-join split (enabled in GraftSession) is the
    * first line of defense; this is the explicit tool for joins whose
    * skew is known up front — the salt factor trades `salt`×
    * replication of the small side for `salt`× parallelism on the hot
    * keys, the standard cure when one key exceeds a single executor.
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
      salt: Int, joinType: String = "inner"): DataFrame = {
    val s = skewed.withColumn("_salt",
      pmod(xxhash64(skewed.columns.map(col): _*), lit(salt)).cast("int"))
    val o = other.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    s.join(o, keys :+ "_salt", joinType).drop("_salt")
  }

  /** TABLESAMPLE (YQL `TABLESAMPLE BERNOULLI(p) REPEATABLE(seed)`,
    * SQLv1 grammar sample clause; YT reads also expose sampling_rate on
    * table ranges). Two forms:
    *
    *   - `tableSample`: Spark's native per-row Bernoulli sample — the
    *     plan is a `Sample` node above the scan (no shuffle, no
    *     materialization); REPEATABLE(seed) = the seed argument. Rows
    *     are drawn independently per partition, so the fraction holds
    *     at any scale and re-running with the same seed over the same
    *     partitioning is deterministic.
    *   - `hashSample`: content-deterministic variant — keeps a row iff
    *     `xxhash64(key, seed) mod 10000 < p*10000`. Unlike Bernoulli
    *     sampling this is stable across repartitioning AND joins: the
    *     same key always lands in the sample, which is what a sampled
    *     JOIN of two tables needs (sample both sides by the same key
    *     and the join of samples == sample of the join).
    */
  def tableSample(input: DataFrame, fraction: Double, seed: Long): DataFrame =
    input.sample(withReplacement = false, fraction, seed)

  def hashSample(input: DataFrame, keys: Seq[String], fraction: Double,
      seed: Long): DataFrame =
    input.filter(
      pmod(xxhash64(lit(seed) +: keys.map(col): _*), lit(10000L)) <
        lit((fraction * 10000).toLong))

  /** Portable content-hash sample: same stable-under-repartitioning /
    * join-compatible property as [[hashSample]], but the predicate is
    * `md5(key-string)` truncated to 32 bits and compared against
    * `floor(fraction·2³²)` — md5 of a UTF-8 string is identical in every
    * engine, so the EXACT sampled row set is reproducible outside Spark
    * (the DuckDB oracle recomputes it verbatim). xxhash64 `hashSample`
    * stays the hot-path default: md5 costs ~10× per row, worth paying
    * only when cross-engine reproducibility is the point. Fixed-width
    * lowercase hex compares lexicographically = numerically, so the
    * filter is a plain codegen'd string compare pushed to the scan. */
  def hashSampleMd5(input: DataFrame, keys: Seq[String],
      fraction: Double): DataFrame = {
    val threshold = f"${(fraction * (1L << 32)).toLong}%08x"
    input.filter(
      substring(md5(concat_ws("|", keys.map(c => col(c).cast("string")): _*)),
        1, 8) < lit(threshold))
  }

  /** Stratified sample (training-data class balancing): per-stratum
    * Bernoulli fractions, seeded. Strata absent from the map are
    * dropped — the usual "cap the majority class" shape. */
  def stratifiedSample(input: DataFrame, strataCol: String,
      fractions: Map[Any, Double], seed: Long): DataFrame =
    input.stat.sampleBy(strataCol, fractions, seed)

  /** MapReduce (fused, sort_controller.cpp): mapper → optional map-side
    * combiner (ReduceCombiner) → shuffle on `reduceBy` → sorted reducer.
    * The combiner runs BEFORE the exchange, so shuffled bytes shrink by
    * the local key fan-in — the property that matters at 100 TB.
    */
  def mapReduce(input: DataFrame,
      mapper: (Iterator[Row] => Iterator[Row], org.apache.spark.sql.types.StructType),
      reduceBy: Seq[String], sortBy: Seq[String],
      combiner: Option[Iterator[Row] => Iterator[Row]],
      outputSchema: org.apache.spark.sql.types.StructType)(
      f: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val (mapFn, mapSchema) = mapper
    val mapped = input.mapPartitions(mapFn)(Encoders.row(mapSchema))
    val combined = combiner match {
      case Some(c) => mapped.mapPartitions(c)(Encoders.row(mapSchema))
      case None => mapped
    }
    sortedReduce(combined, reduceBy, sortBy, outputSchema)(f)
  }
}

/** Lazy group-boundary splitter over a key-sorted row stream — the
  * reference's "chopper" (MiniKQL Chopper / the key-switch loop in
  * sorted_merging_reader.cpp). Emits (key, groupIterator) pairs; a
  * group left unconsumed is drained automatically when the next group
  * is requested, so groups never buffer.
  */
private[graft] object Chopper {
  def apply(rows: Iterator[Row], keyIdx: Array[Int]): Iterator[(Row, Iterator[Row])] =
    new Iterator[(Row, Iterator[Row])] {
      private val buf = rows.buffered
      private var current: Iterator[Row] = Iterator.empty

      private def keyOf(r: Row): Row = Row.fromSeq(keyIdx.map(i => r.get(i)).toSeq)
      // manual loop: called once per row on the reduce hot path — the
      // closure-based forall form cost a megamorphic lambda dispatch
      // per key column per row
      private def sameKey(a: Row, b: Row): Boolean = {
        var i = 0
        while (i < keyIdx.length) {
          val j = keyIdx(i)
          val x = a.get(j); val y = b.get(j)
          if (if (x == null) y != null else !x.equals(y)) return false
          i += 1
        }
        true
      }

      override def hasNext: Boolean = {
        while (current.hasNext) current.next() // drain unconsumed group
        buf.hasNext
      }

      override def next(): (Row, Iterator[Row]) = {
        if (!hasNext) throw new NoSuchElementException
        val head = buf.head
        val group: Iterator[Row] = new Iterator[Row] {
          override def hasNext: Boolean = buf.hasNext && sameKey(buf.head, head)
          override def next(): Row = {
            if (!hasNext) throw new NoSuchElementException
            buf.next()
          }
        }
        current = group
        (keyOf(head), group)
      }
    }
}
