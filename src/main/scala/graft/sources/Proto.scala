package graft.sources

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Protobuf — the reference's second schematized job-I/O wire format
  * (SURVEY.md §1.4; `EFormatType::Protobuf`, format.h:49-62; docs
  * yt/docs/.../formats.md protobuf section). The stream is the
  * reference's lenval framing — 4-byte LE message length before each
  * row message — and each message uses the standard public protobuf
  * wire encoding:
  *
  *   key  = varint(field_number << 3 | wire_type)
  *   wire 0 = varint   (int64/uint64/bool)
  *   wire 1 = fixed64  (double)
  *   wire 2 = len-delimited (string/bytes; varint length)
  *
  * The descriptor is self-describing table metadata: derived from the
  * Spark schema, column i ↦ field number i+1 (the reference carries the
  * same mapping in the format config's `columns` attribute). Unknown
  * field numbers on decode are skipped by wire type — the standard
  * protobuf forward-compatibility property, which the reference relies
  * on for schema evolution of job pipes. Null fields are absent on the
  * wire (proto3 presence); a message that omits a `required` field
  * fails the decode instead of putting null in a non-nullable column.
  *
  * Scale: the codec runs inside `mapPartitions` (one pipe per
  * partition, no driver involvement) over Catalyst's internal rows,
  * identical to [[Skiff]]. TypesFormatsSpec pins its wire bytes with
  * golden vectors.
  */
object Proto {

  final case class Field(name: String, dataType: DataType, number: Int,
      required: Boolean = false)

  def fieldsOf(schema: StructType): Seq[Field] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | BooleanType | StringType | BinaryType =>
          Field(f.name, f.dataType, i + 1, required = !f.nullable)
        case other =>
          throw new IllegalArgumentException(s"no protobuf wire type for $other")
      }
    }

  private def writeVarint(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Encode one row as a protobuf message (no frame). Null fields are
    * simply absent — proto3 presence semantics. */
  private def encodeInternalTo(out: ByteArrayOutputStream, row: InternalRow,
      fields: Seq[Field]): Unit = {
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (!row.isNullAt(i)) {
        def key(wire: Int): Unit = writeVarint(out, (f.number.toLong << 3) | wire)
        f.dataType match {
          case LongType => key(0); writeVarint(out, row.getLong(i))
          case IntegerType => key(0); writeVarint(out, row.getInt(i).toLong)
          case BooleanType => key(0); writeVarint(out, if (row.getBoolean(i)) 1L else 0L)
          case DoubleType =>
            key(1)
            var v = java.lang.Double.doubleToLongBits(row.getDouble(i))
            var j = 0
            while (j < 8) { out.write((v & 0xffL).toInt); v >>>= 8; j += 1 }
          case StringType =>
            key(2)
            val b = row.getUTF8String(i).getBytes
            writeVarint(out, b.length.toLong); out.write(b, 0, b.length)
          case BinaryType =>
            key(2)
            val b = row.getBinary(i)
            writeVarint(out, b.length.toLong); out.write(b, 0, b.length)
          case other => throw new IllegalArgumentException(other.toString)
        }
      }
      i += 1
    }
  }

  /** Stream rows onto `os` as lenval frames through ONE reused scratch
    * buffer — the pipe write hot path (no per-row array churn). */
  def encodeFramedStreamInternal(rows: Iterator[InternalRow],
      fields: Seq[Field], os: OutputStream): Unit = {
    val scratch = new ByteArrayOutputStream(64)
    rows.foreach { r =>
      scratch.reset()
      encodeInternalTo(scratch, r, fields)
      var v = scratch.size(); var i = 0
      while (i < 4) { os.write(v & 0xff); v >>= 8; i += 1 }
      scratch.writeTo(os)
    }
  }

  /** Field-number lookup tables, built ONCE per stream — the per-row
    * decode previously rebuilt two Maps per message, which dominated
    * the pipe hot path at bench scale. Numbers index dense arrays
    * sized to the largest field number of the descriptor. */
  final class DecodeTables(fields: Seq[Field]) {
    private val maxN = fields.map(_.number).max
    val fieldAt: Array[Field] = {
      val a = new Array[Field](maxN + 1)
      fields.foreach(f => a(f.number) = f)
      a
    }
    val slotAt: Array[Int] = {
      val a = Array.fill(maxN + 1)(-1)
      fields.zipWithIndex.foreach { case (f, i) => a(f.number) = i }
      a
    }
    val n: Int = fields.length
    private val required: Array[Int] = fields.indices.filter(fields(_).required).toArray
    private val names: Array[String] = fields.map(_.name).toArray

    /** Fail on a decoded message that omits a required field. */
    def checkRequired(vals: Array[Any]): Unit = {
      var r = 0
      while (r < required.length) {
        val slot = required(r)
        if (vals(slot) == null) throw new IllegalArgumentException(
          s"protobuf message omits required field '${names(slot)}'")
        r += 1
      }
    }
  }

  /** Decode one message with the table descriptor; unknown fields skip
    * by wire type, absent optional fields decode to null. */
  private def decodeRowInternal(msg: Array[Byte], tables: DecodeTables): InternalRow = {
    val vals = new Array[Any](tables.n)
    var p = 0
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        val b = msg(p); p += 1
        v |= (b.toLong & 0x7f) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    def fixed64(): Long = {
      var v = 0L; var j = 0
      while (j < 8) { v |= (msg(p).toLong & 0xff) << (8 * j); p += 1; j += 1 }
      v
    }
    while (p < msg.length) {
      val k = varint()
      val number = (k >>> 3).toInt
      val wire = (k & 7).toInt
      val f = if (number < tables.fieldAt.length) tables.fieldAt(number) else null
      if (f != null) {
        val v: Any = (wire, f.dataType) match {
          case (0, LongType) => varint()
          case (0, IntegerType) => varint().toInt
          case (0, BooleanType) => varint() != 0L
          case (1, DoubleType) => java.lang.Double.longBitsToDouble(fixed64())
          case (2, StringType) =>
            val n = varint().toInt
            val s = UTF8String.fromBytes(msg, p, n)
            p += n; s
          case (2, BinaryType) =>
            val n = varint().toInt
            val b = java.util.Arrays.copyOfRange(msg, p, p + n); p += n; b
          case _ => throw new IllegalArgumentException(
            s"wire type $wire does not match ${f.dataType} for field $number")
        }
        vals(tables.slotAt(number)) = v
      } else wire match { // unknown field: standard skip
        case 0 => varint()
        case 1 => p += 8
        case 2 => p += varint().toInt
        case 5 => p += 4
        case other => throw new IllegalArgumentException(s"wire type $other")
      }
    }
    tables.checkRequired(vals)
    new GenericInternalRow(vals)
  }

  /** Decode a lenval-framed stream of row messages into the Catalyst
    * representation. Lookup tables are built once for the whole
    * stream, not per row. */
  def decodeStreamInternal(in: InputStream, fields: Seq[Field]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val tables = new DecodeTables(fields)
      private var nextRow: InternalRow = _
      private var done = false
      private def advance(): Unit = {
        var len = 0; var j = 0
        while (j < 4) {
          val b = in.read()
          if (b < 0) { done = true; return }
          len |= (b & 0xff) << (8 * j); j += 1
        }
        val msg = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val n = in.read(msg, off, len - off)
          if (n < 0) throw new EOFException("truncated lenval frame")
          off += n
        }
        nextRow = decodeRowInternal(msg, tables)
      }
      advance()
      def hasNext: Boolean = !done
      def next(): InternalRow = { val r = nextRow; advance(); r }
    }

  /** DataFrame → per-partition lenval protobuf streams (one blob per
    * partition = one job pipe). */
  def encode(df: DataFrame): Dataset[Array[Byte]] = {
    val fields = fieldsOf(df.schema)
    PipeJob.encodeBlobs(df, "protobuf")(encodeFramedStreamInternal(_, fields, _))
  }

  /** Per-partition lenval protobuf streams → DataFrame with `schema`. */
  def decode(blobs: Dataset[Array[Byte]], schema: StructType): DataFrame = {
    val fields = fieldsOf(schema)
    PipeJob.decodeBlobs(blobs, "protobuf", schema)(decodeStreamInternal(_, fields))
  }

  /** User job over a protobuf pipe (user_job.cpp with
    * `EFormatType::Protobuf` job I/O): one external process per
    * partition, rows streamed to its stdin as lenval protobuf and read
    * back from stdout in the same framing — the binary sibling of
    * [[graft.operators.Operations.pipeMap]]. */
  def pipeMap(input: DataFrame, command: Seq[String], outSchema: StructType): DataFrame = {
    val inFields = fieldsOf(input.schema)
    val outFields = fieldsOf(outSchema)
    PipeJob.pipe(input, "protobuf", command, outSchema)(
      encodeFramedStreamInternal(_, inFields, _),
      decodeStreamInternal(_, outFields))
  }
}
