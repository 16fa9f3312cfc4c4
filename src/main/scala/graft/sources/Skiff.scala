package graft.sources

import java.io.{DataInputStream, EOFException, InputStream, OutputStream}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Skiff — the reference's schematized binary row format for job I/O
  * (SURVEY.md §1.4; spec yt/docs/en/_includes/user-guide/storage/
  * skiff.md): a table stream is a sequence of rows, each framed by a
  * little-endian `variant16` schema tag, followed by the dense fields
  * in schema order. Wire types implemented: int64/uint64 (8-byte LE),
  * double (8-byte LE), boolean (1 byte), string32 (4-byte LE length +
  * bytes); nullable columns are `variant8<nothing; T>` (1-byte tag
  * 0 = nothing, 1 = value).
  *
  * In the reference this format feeds user jobs over pipes
  * (user_job.cpp); here the codec runs in a per-partition job
  * ([[graft.plans.PartitionJob]]) so a "binary mapper" can
  * consume/produce Skiff streams without any driver involvement — each
  * partition is one pipe.
  *
  * The codec speaks Catalyst's internal representation directly: no
  * InternalRow→Row deserialization per input row, no Row→InternalRow
  * encoder pass per output row, and strings move as UTF-8 bytes without
  * a java.lang.String round trip. TypesFormatsSpec pins its wire bytes
  * with golden vectors.
  */
object Skiff {

  final case class Field(name: String, dataType: DataType, optional: Boolean)

  def fieldsOf(schema: StructType): Seq[Field] =
    schema.fields.toSeq.map { f =>
      f.dataType match {
        case LongType | DoubleType | BooleanType | StringType | BinaryType =>
          Field(f.name, f.dataType, f.nullable)
        case other =>
          throw new IllegalArgumentException(s"no skiff wire type for $other")
      }
    }

  /** Encode one row onto `out`: the variant16 tag, then the dense
    * fields read from `fieldOffset` on. Skiff frames are
    * self-delimiting, so a stream is just frames back to back. In a
    * multi-table stream the tag IS the table index (skiff.md — a
    * multi-table stream is `variant16<schema0; schema1; ...>`), and
    * `fieldOffset` locates the table's fields in a wider union row. A
    * reusable 8-byte scratch turns per-byte OutputStream calls into one
    * write per fixed-width field. */
  def encodeInternalTo(out: OutputStream, row: InternalRow,
      fields: Seq[Field], tag: Int, fieldOffset: Int,
      scratch: Array[Byte]): Unit = {
    def le(n: Int, bytes: Int): Unit = {
      var v = n; var i = 0
      while (i < bytes) { scratch(i) = (v & 0xff).toByte; v >>= 8; i += 1 }
      out.write(scratch, 0, bytes)
    }
    def le64(n: Long): Unit = {
      var v = n; var i = 0
      while (i < 8) { scratch(i) = (v & 0xffL).toByte; v >>= 8; i += 1 }
      out.write(scratch, 0, 8)
    }
    le(tag, 2)
    var j = 0
    while (j < fields.length) {
      val f = fields(j)
      val i = j + fieldOffset
      val isNull = row.isNullAt(i)
      if (f.optional) out.write(if (isNull) 0 else 1)
      else if (isNull) throw new IllegalArgumentException(s"null in required ${f.name}")
      if (!isNull) f.dataType match {
        case LongType => le64(row.getLong(i))
        case DoubleType => le64(java.lang.Double.doubleToLongBits(row.getDouble(i)))
        case BooleanType => out.write(if (row.getBoolean(i)) 1 else 0)
        case StringType =>
          val b = row.getUTF8String(i).getBytes
          le(b.length, 4); out.write(b)
        case BinaryType =>
          val b = row.getBinary(i)
          le(b.length, 4); out.write(b)
        case other => throw new IllegalArgumentException(other.toString)
      }
      j += 1
    }
  }

  /** Little-endian field reader over a raw InputStream with a reusable
    * scratch buffer: one readFully per field instead of one virtual
    * read() per BYTE (the former decode hot spot). */
  private final class LeReader(in: InputStream) {
    private val din = new DataInputStream(in)
    private val buf = new Array[Byte](8)
    /** n-byte little-endian unsigned read; EOFException at stream end. */
    def readLE(n: Int): Long = {
      din.readFully(buf, 0, n)
      var v = 0L; var i = 0
      while (i < n) { v |= (buf(i).toLong & 0xff) << (8 * i); i += 1 }
      v
    }
    /** First byte of a frame: -1 on clean EOF, else the byte. */
    def readFrameByte(): Int = din.read()
    /** One field in the Catalyst representation, its variant8 presence
      * byte included: null for an absent optional field. */
    def readField(f: Field): Any =
      if (f.optional && readLE(1) != 1) null
      else f.dataType match {
        case LongType => readLE(8)
        case DoubleType => java.lang.Double.longBitsToDouble(readLE(8))
        case BooleanType => readLE(1) == 1
        case StringType => UTF8String.fromBytes(readBytes())
        case BinaryType => readBytes()
        case other => throw new IllegalArgumentException(other.toString)
      }
    /** A string32 payload: 4-byte LE length, then the bytes. */
    private def readBytes(): Array[Byte] = {
      val b = new Array[Byte](readLE(4).toInt)
      din.readFully(b); b
    }
  }

  /** Decode a stream of framed rows (variant16 tag 0) into the Catalyst
    * representation. */
  def decodeStreamInternal(in: InputStream, fields: Seq[Field]): Iterator[InternalRow] =
    decodeFrames(in, Seq(fields), tableIndex = false)

  /** Decode a multi-table stream (`variant16<schema0; schema1; ...>`):
    * each row's tag selects its table's schema; rows come back in the
    * union layout of [[unionTagged]] — `$table_index` first, then each
    * table's fields in table order (null outside the row's own table).
    */
  def decodeStreamMultiInternal(in: InputStream, schemas: Seq[Seq[Field]])
      : Iterator[InternalRow] =
    decodeFrames(in, schemas, tableIndex = true)

  /** The frame loop behind both decoders. Table t's fields land at
    * slots `base(t)` onward; with `tableIndex` the tag goes to slot 0.
    * A clean or mid-frame EOF ends the stream. */
  private def decodeFrames(in: InputStream, schemas: Seq[Seq[Field]],
      tableIndex: Boolean): Iterator[InternalRow] = {
    val r = new LeReader(in)
    val tables = schemas.map(_.toArray).toArray
    val base = tables.scanLeft(if (tableIndex) 1 else 0)(_ + _.length)
    val width = base.last
    new Iterator[InternalRow] {
      private var nextRow: InternalRow = _
      private var done = false
      private def advance(): Unit =
        try {
          val b0 = r.readFrameByte()
          if (b0 < 0) { done = true; return }
          val tag = ((b0 & 0xff).toLong | (r.readLE(1) << 8)).toInt
          if (tableIndex)
            require(tag < tables.length, s"skiff table index $tag out of range")
          else require(tag == 0, s"unexpected skiff variant16 tag $tag")
          val vals = new Array[Any](width)
          if (tableIndex) vals(0) = tag
          val fs = tables(tag)
          val off = base(tag)
          var j = 0
          while (j < fs.length) { vals(off + j) = r.readField(fs(j)); j += 1 }
          nextRow = new GenericInternalRow(vals)
        } catch { case _: EOFException => done = true }
      advance()
      def hasNext: Boolean = !done
      def next(): InternalRow = { val row = nextRow; advance(); row }
    }
  }

  /** The union layout of a multi-table stream as a DataFrame: column 0
    * is `$table_index` (enable_input_table_index — mapreduce.md:107),
    * then every table's fields in table order prefixed `t<i>_` (names
    * may repeat across tables; types may differ), null outside a row's
    * own table. */
  def unionTagged(inputs: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(inputs.nonEmpty, "at least one input table")
    val allFields: Seq[Seq[StructField]] = inputs.map(_.schema.fields.toSeq)
    inputs.zipWithIndex
      .map { case (df, i) =>
        val cols = lit(i).as("$table_index") +:
          allFields.zipWithIndex.flatMap { case (fs, j) =>
            fs.map { f =>
              if (i == j) col(f.name).as(s"t${j}_${f.name}")
              else lit(null).cast(f.dataType).as(s"t${j}_${f.name}")
            }
          }
        df.select(cols: _*)
      }
      .reduce(_.union(_))
  }

  /** Multi-table user job (mapreduce.md:111 `$table_index` contract):
    * several input tables feed ONE job as a tagged variant16 stream —
    * the wire tag is the table index — and the job's output stream is
    * decoded the same way into the union layout (a job may emit to any
    * output table by writing its tag). Schemas per table are
    * independent, like the reference's per-stream skiff schemas. */
  def pipeMapMulti(inputs: Seq[DataFrame], command: Seq[String],
      outSchemas: Seq[StructType]): DataFrame = {
    val inFields = inputs.map(df => fieldsOf(df.schema))
    val inOffsets = inFields.scanLeft(1)(_ + _.size) // col 0 = $table_index
    val outFields = outSchemas.map(fieldsOf)
    val outStruct = StructType(
      StructField("$table_index", IntegerType, nullable = false) +:
        outSchemas.zipWithIndex.flatMap { case (s, j) =>
          s.fields.map(f => StructField(s"t${j}_${f.name}", f.dataType, nullable = true))
        })
    PipeJob.pipe(unionTagged(inputs), "skiff", command, outStruct)(
      (rows, os) => {
        val scratch = new Array[Byte](8)
        rows.foreach { r =>
          val t = r.getInt(0)
          encodeInternalTo(os, r, inFields(t), t, inOffsets(t), scratch)
        }
      },
      is => decodeStreamMultiInternal(is, outFields))
  }

  /** DataFrame → per-partition Skiff byte streams (one blob per
    * partition = one job pipe). */
  def encode(df: DataFrame): Dataset[Array[Byte]] = {
    val fields = fieldsOf(df.schema)
    PipeJob.encodeBlobs(df, "skiff") { (rows, out) =>
      val scratch = new Array[Byte](8)
      rows.foreach(r => encodeInternalTo(out, r, fields, 0, 0, scratch))
    }
  }

  /** User job over a Skiff pipe (user_job.cpp with Skiff job I/O):
    * one external process per partition, rows streamed to stdin as
    * framed Skiff and read back in the same framing — sibling of
    * [[Proto.pipeMap]]. */
  def pipeMap(input: DataFrame, command: Seq[String], outSchema: StructType): DataFrame = {
    val inFields = fieldsOf(input.schema)
    val outFields = fieldsOf(outSchema)
    PipeJob.pipe(input, "skiff", command, outSchema)(
      (rows, os) => {
        val scratch = new Array[Byte](8)
        rows.foreach(r => encodeInternalTo(os, r, inFields, 0, 0, scratch))
      },
      is => decodeStreamInternal(is, outFields))
  }

  /** Per-partition Skiff byte streams → DataFrame with `schema`. */
  def decode(blobs: Dataset[Array[Byte]], schema: StructType): DataFrame = {
    val fields = fieldsOf(schema)
    PipeJob.decodeBlobs(blobs, "skiff", schema)(decodeStreamInternal(_, fields))
  }
}
