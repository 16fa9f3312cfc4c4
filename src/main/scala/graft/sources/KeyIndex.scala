package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The versions of a driver-held write log grouped by key: the sorted
  * store a tablet answers `LookupRows` and versioned reads from
  * (tablet_node/lookup.cpp). The log has DynTable's layout: key columns,
  * the version column `ts`, the operation column `op` (a version is live
  * when it is `upsert`, `DynTable.OpUpsert`) and value columns.
  *
  * Rows group by normalized key, as `groupBy` groups them: -0.0 as 0.0,
  * one NaN, null keys together, binary keys by content. Each key keeps
  * its versions sorted by `ts` (a row with a null `ts` is no version: no
  * cut selects it and it never wins); on a `ts` tie the version indexed
  * first wins. The latest-state view keeps, for each key whose newest
  * version is live, its output row: the normalized key, then the value
  * columns. The index references the log's rows; only output rows are
  * built.
  *
  * [[append]] returns a new index that shares every key the appended
  * rows do not touch, so an index read by one caller is never changed
  * under it.
  */
private[graft] final class KeyIndex private (
    layout: KeyIndex.Layout,
    versions: Map[Seq[Any], Array[InternalRow]],
    live: Map[Seq[Any], InternalRow]) {
  import layout.{isDelete, isLive, project, ts, tsIdx, tsOrder, keyOf}
  import KeyIndex.{group, normalize}

  /** The output schema: keys as in the log, values nullable (the schema
    * of the distributed merge). */
  def outSchema: StructType = layout.outSchema
  /** The schema of [[surviving]]'s rows: keys as in the log, `ts`, `op`
    * (never null) and the values, `ts` and values nullable (the schema of
    * the distributed compaction). */
  def compactSchema: StructType = layout.compactSchema
  def keyTypes: Seq[DataType] = layout.keyTypes
  def tsType: DataType = layout.tsType

  /** The latest state: one output row per key whose newest version is live. */
  lazy val latest: Seq[InternalRow] = live.values.toIndexedSeq

  /** The state as of `cut`: per key its newest version with `ts <= cut`,
    * if live (the latest-state row when every version is at or below
    * the cut). A null cut selects nothing. */
  def asOf(cut: Any): Seq[InternalRow] =
    if (cut == null) Nil
    else versions.iterator.flatMap { case (g, vs) =>
      if (tsOrder.lteq(ts(vs.last), cut)) live.get(g)
      else newest(vs, countUpTo(vs, cut)).filter(isLive).map(project)
    }.toIndexedSeq

  /** The latest state of each distinct probed key (key values of
    * [[keyTypes]]; a tuple with a null never matches). */
  def lookup(probes: Seq[Seq[Any]]): Seq[InternalRow] =
    groups(probes).flatMap(live.get)

  /** Versions of the probed keys with `after < ts <= upTo`. */
  def versionsIn(probes: Seq[Seq[Any]], after: Any, upTo: Any): Long =
    if (after == null || upTo == null) 0L
    else groups(probes).iterator.flatMap(versions.get).map { vs =>
      math.max(0, countUpTo(vs, upTo) - countUpTo(vs, after))
    }.sum.toLong

  /** The versions a major compaction keeps: per key its newest upsert
    * (the first indexed on a `ts` tie), if its `ts` is above both the
    * key's newest delete and `floor`. A version whose `op` is neither
    * (null included) is ignored, and a delete that ties the newest
    * upsert drops the key. Rows come in [[compactSchema]]'s layout. */
  def surviving(floor: Any): Seq[InternalRow] =
    versions.valuesIterator.flatMap { vs =>
      var up: InternalRow = null
      var horizon = floor
      vs.foreach { r =>
        if (isLive(r)) { if (up == null || tsOrder.gt(ts(r), ts(up))) up = r }
        else if (isDelete(r)) horizon = tsOrder.max(horizon, ts(r))
      }
      Option(up).filter(u => tsOrder.gt(ts(u), horizon)).map(layout.compacted)
    }.toIndexedSeq

  /** The log rows held as versions. */
  def versionRows: Iterator[InternalRow] = versions.valuesIterator.flatMap(_.iterator)

  /** This index with `rows` (of the log's schema) added after its own. */
  def append(rows: Iterator[InternalRow]): KeyIndex = {
    val added = rows.filterNot(_.isNullAt(tsIdx)).toSeq.groupBy(r => group(keyOf(r)))
    var vs = versions
    var lv = live
    added.foreach { case (g, rs) =>
      val merged = (versions.getOrElse(g, Array.empty[InternalRow]) ++ rs).sortBy(ts)(tsOrder)
      vs = vs.updated(g, merged)
      newest(merged, merged.length).filter(isLive) match {
        case Some(r) => lv = lv.updated(g, project(r))
        case None => lv = lv.removed(g)
      }
    }
    new KeyIndex(layout, vs, lv)
  }

  private def groups(probes: Seq[Seq[Any]]): Seq[Seq[Any]] =
    probes.filterNot(_.contains(null)).map(p => group(p.map(normalize))).distinct

  /** The number of versions with `ts <= cut` (`vs` is sorted by `ts`). */
  private def countUpTo(vs: Array[InternalRow], cut: Any): Int = {
    var lo = 0
    var hi = vs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (tsOrder.lteq(ts(vs(mid)), cut)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The newest of the first `n` versions, the first indexed on a tie. */
  private def newest(vs: Array[InternalRow], n: Int): Option[InternalRow] =
    if (n == 0) None
    else {
      var i = n - 1
      while (i > 0 && tsOrder.equiv(ts(vs(i - 1)), ts(vs(i)))) i -= 1
      Some(vs(i))
    }
}

private[graft] object KeyIndex {

  /** An index of `rows` (of `schema`) by the columns `keys`, or None when
    * the schema lacks a key, `ts` or `op`, a key's type is one this
    * grouping does not cover (complex or collated) or `op` is not a
    * string. */
  def apply(schema: StructType, keys: Seq[String], rows: Iterator[InternalRow]): Option[KeyIndex] = {
    val names = schema.fieldNames.toSet
    if (!(keys :+ "ts" :+ "op").forall(names)) None
    else {
      val layout = new Layout(schema, keys)
      if (!layout.keyIdx.forall(i => groupable(schema(i).dataType)) ||
          schema(layout.opIdx).dataType != StringType) None
      else Some(new KeyIndex(layout, Map.empty, Map.empty).append(rows))
    }
  }

  private def groupable(dt: DataType): Boolean = dt match {
    case StringType => true // the binary collation only
    case _: NumericType | BooleanType | BinaryType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `l`'s value as `===` or `<=` compares it against a column of type
    * `to`: as is when the types agree (or the value is null), cast up
    * when Spark would cast the literal to `to`; None when Spark would
    * compare in another type. */
  def coerce(l: Literal, to: DataType): Option[Any] = (l.dataType, to) match {
    case (from, _) if from == to || l.value == null => Some(l.value)
    case (from: NumericType, _: NumericType)
        if TypeCoercion.findTightestCommonType(from, to).contains(to) =>
      Some(Cast(l, to).eval())
    case _ => None
  }

  private[sources] final class Layout(schema: StructType, keys: Seq[String]) {
    val keyIdx: Seq[Int] = keys.map(schema.fieldIndex)
    val tsIdx: Int = schema.fieldIndex("ts")
    val opIdx: Int = schema.fieldIndex("op")
    val keyTypes: Seq[DataType] = keyIdx.map(schema(_).dataType)
    val tsType: DataType = schema(tsIdx).dataType
    val tsOrder: Ordering[Any] = TypeUtils.getInterpretedOrdering(tsType)
    private val valueIdx = schema.indices.filterNot(i => keyIdx.contains(i) || i == tsIdx || i == opIdx)
    private val liveOp = UTF8String.fromString("upsert")
    private val deleteOp = UTF8String.fromString("delete")
    private val valueFields = valueIdx.map(i => StructField(schema(i).name, schema(i).dataType, nullable = true))
    val outSchema: StructType = StructType(keyIdx.map(schema(_)) ++ valueFields)
    val compactSchema: StructType = StructType(keyIdx.map(schema(_)) ++ Seq(
      StructField("ts", tsType), StructField("op", StringType, nullable = false)) ++ valueFields)

    def ts(r: InternalRow): Any = r.get(tsIdx, tsType)
    def isLive(r: InternalRow): Boolean = !r.isNullAt(opIdx) && r.getUTF8String(opIdx) == liveOp
    def isDelete(r: InternalRow): Boolean = !r.isNullAt(opIdx) && r.getUTF8String(opIdx) == deleteOp
    def keyOf(r: InternalRow): Seq[Any] =
      keyIdx.map(i => if (r.isNullAt(i)) null else normalize(r.get(i, schema(i).dataType)))
    private def values(r: InternalRow): Seq[Any] = valueIdx.map(i => r.get(i, schema(i).dataType))
    def project(r: InternalRow): InternalRow = new GenericInternalRow((keyOf(r) ++ values(r)).toArray)
    def compacted(r: InternalRow): InternalRow =
      new GenericInternalRow((keyOf(r) ++ Seq(ts(r), liveOp) ++ values(r)).toArray)
  }

  /** -0.0 as 0.0 and one NaN, as `groupBy` normalizes floats. */
  private def normalize(v: Any): Any = v match {
    case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0d) 0.0d else d
    case f: Float => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
    case v => v
  }

  /** The grouping form of a normalized key: a float by its bits (so NaN
    * equals NaN), a binary key by its content. */
  private def group(key: Seq[Any]): Seq[Any] = key.map {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case v => v
  }

  /** `rows` (of `schema`) with only the last row of each key in `keys`,
    * keys grouped as `groupBy` groups them, in row order; None for a key
    * type this grouping does not cover. */
  def lastPerKey(schema: StructType, keys: Seq[String], rows: Seq[InternalRow]): Option[Seq[InternalRow]] = {
    val idx = keys.map(schema.fieldIndex)
    if (!idx.forall(i => groupable(schema(i).dataType))) None
    else {
      def key(r: InternalRow): Seq[Any] = group(idx.map(i =>
        if (r.isNullAt(i)) null else normalize(r.get(i, schema(i).dataType))))
      val last = rows.zipWithIndex.map { case (r, i) => key(r) -> i }.toMap
      Some(rows.zipWithIndex.collect { case (r, i) if last(key(r)) == i => r })
    }
  }
}
