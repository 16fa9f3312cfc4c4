package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{Formats, Yson}
import graft.types.YtTypes
import graft.types.YtTypes._

/** Type-system bijection (SURVEY.md §1.2) and the I/O format surface
  * (§1.4) including the YSON shim.
  */
class TypesFormatsSpec extends SparkSpec {
  import spark.implicits._

  test("YT logical types map onto Spark types and back") {
    assert(toSpark(YtInt64) == LongType)
    assert(toSpark(YtUint64) == LongType)
    assert(toSpark(YtUtf8) == StringType)
    assert(toSpark(YtString) == BinaryType)
    assert(toSpark(YtDecimal(20, 4)) == DecimalType(20, 4))
    assert(toSpark(YtList(YtOptional(YtInt32))) == ArrayType(IntegerType, true))
    assert(toSpark(YtDict(YtUtf8, YtInt64)) == MapType(StringType, LongType, false))
    assert(toSpark(YtTuple(Seq(YtInt64, YtUtf8))) ==
      StructType(Seq(StructField("_1", LongType, false), StructField("_2", StringType, false))))
    assert(toSpark(YtTagged("image", YtString)) == BinaryType) // detag
    // round trip: spark → yt → spark fixed point
    val dts = Seq(LongType, StringType, DoubleType, DateType, TimestampType,
      ArrayType(LongType, false), MapType(StringType, DoubleType, false))
    dts.foreach(dt => assert(toSpark(fromSpark(dt)) == dt, dt))
    // optionality round trip
    assert(fromSpark(LongType, nullable = true) == YtOptional(YtInt64))
  }

  test("YtSchema: key columns, strictness, aggregate columns → StructType") {
    val sch = YtSchema(Seq(
      YtColumn("k", YtInt64, sortOrder = Some("ascending"), required = true),
      YtColumn("hk", YtUint64, expression = Some("farm_hash(k) % 64")),
      YtColumn("v", YtOptional(YtInt64), aggregate = Some("sum"))))
    assert(sch.keyColumns.map(_.name) == Seq("k"))
    val st = sch.toStructType
    assert(st("k").nullable == false && st("v").nullable == true)
    assert(st("hk").metadata.getString(YtTypes.YtTypeKey) == "uint64")
  }

  test("yson: scalars, maps, lists, entity, attributes, uint64") {
    assert(Yson.parseToJson("{a=1;b=\"x\";c=[1;2.5;%true;#]}") ==
      """{"a":1,"b":"x","c":[1,2.5,true,null]}""")
    assert(Yson.parseToJson("{n=42u;bare=hello_world}") ==
      """{"n":42,"bare":"hello_world"}""")
    assert(Yson.parseToJson("<fmt=raw;n=2>{v=1}") ==
      """{"$attributes":{"fmt":"raw","n":2},"$value":{"v":1}}""")
    assert(Yson.parseToJson("{bad") == null)
    assert(Yson.parseToJson("{nested={deep={x=-7}}}") ==
      """{"nested":{"deep":{"x":-7}}}""")
  }

  test("yson expression bridges to the try_get accessor family") {
    val df = Seq("{price=199.5;status=\"F\";tags=[a;b]}").toDF("y")
      .select(Yson.ysonToJson(col("y")).as("doc"))
    val got = df.select(
      get_json_object(col("doc"), "$.price").cast("double"),
      get_json_object(col("doc"), "$.status"),
      get_json_object(col("doc"), "$.tags[1]")).first()
    assert(got == Row(199.5, "F", "b"))
  }

  test("schemaful dsv and yamr round trip") {
    val dir = Files.createTempDirectory("fmt").toFile.getAbsolutePath
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Formats.writeSchemafulDsv(df, s"$dir/sdsv")
    val back = Formats.readSchemafulDsv(spark, s"$dir/sdsv",
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
    assert(back.orderBy("id").collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b")))

    Files.write(java.nio.file.Paths.get(dir, "y.txt"),
      "k1\tv1\nk2\tv2 with\ttabs\n".getBytes)
    val yamr = Formats.readYamr(spark, s"$dir/y.txt").orderBy("key").collect()
    assert(yamr.toSeq == Seq(Row("k1", "v1"), Row("k2", "v2 with\ttabs")))
  }

  test("yamred dsv: golden line bytes, reference key-splitting, round trip") {
    val dir = Files.createTempDirectory("yamred").toFile.getAbsolutePath
    // golden bytes (yamred_dsv_writer.cpp layout): key values joined by
    // the yamr keys separator, then TAB, then DSV value pairs; escaped
    // \t \n \\ in cells
    val df = Seq(
      ("u1", "s1", "x\ty", "10"),
      ("u2", "s2", "plain", "20")).toDF("user", "session", "payload", "n")
    Formats.writeYamredDsv(df, s"$dir/out", keyColumns = Seq("user", "session"))
    val lines = spark.read.text(s"$dir/out").as[String].collect().sorted
    assert(lines.toSeq == Seq(
      "u1 s1\tpayload=x\\ty\tn=10",
      "u2 s2\tpayload=plain\tn=20"))
    // read back: keys split per ConsumeFields, values unescaped
    val back = Formats.readYamredDsv(spark, s"$dir/out",
      keyColumns = Seq("user", "session"), valueColumns = Seq("payload", "n"))
      .orderBy("user").collect()
    assert(back.toSeq == Seq(
      Row("u1", "s1", "x\ty", "10"), Row("u2", "s2", "plain", "20")))
    // reference key-split semantics: last field absorbs extra
    // separators; empty section = one empty field; mismatch raises
    assert(Formats.splitYamrKeys("a b c", Seq("k1", "k2"), ' ') == Seq("a", "b c"))
    assert(Formats.splitYamrKeys("", Seq("k"), ' ') == Seq(""))
    intercept[IllegalArgumentException] {
      Formats.splitYamrKeys("a", Seq("k1", "k2"), ' ')
    }
    // subkey framing: key TAB subkey TAB value
    Files.write(java.nio.file.Paths.get(dir, "sk.txt"),
      "k\tsub1 sub2\ta=1\n".getBytes)
    val sk = Formats.readYamredDsv(spark, s"$dir/sk.txt",
      keyColumns = Seq("k"), valueColumns = Seq("a"),
      subkeyColumns = Seq("s1", "s2")).collect()
    assert(sk.toSeq == Seq(Row("k", "sub1", "sub2", "1")))
  }

  test("dsv key=value pairs project onto requested columns") {
    val dir = Files.createTempDirectory("dsv").toFile.getAbsolutePath
    Files.write(java.nio.file.Paths.get(dir, "d.txt"),
      "a=1\tb=x\na=2\tc=zz\n".getBytes)
    val got = Formats.readDsv(spark, s"$dir/d.txt", Seq("a", "b", "c"))
      .orderBy("a").collect()
    assert(got.toSeq == Seq(Row("1", "x", null), Row("2", null, "zz")))
  }

  test("skiff: framed binary rows round-trip with exact wire layout") {
    import graft.sources.Skiff
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true),
      StructField("ok", BooleanType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val fields = Skiff.fieldsOf(schema)

    // golden layout: variant16 tag 0, int64 LE, variant8 present +
    // double LE, boolean byte, variant8 present + string32
    val bytes = skiffBytes(fields, 0, InternalRow(258L, 1.0, true, utf8("ab")))
    val expect = Array[Byte](0, 0,                      // variant16 tag
      2, 1, 0, 0, 0, 0, 0, 0,                           // 258 LE
      1,                                                // v present
      0, 0, 0, 0, 0, 0, -16, 63,                        // 1.0 LE bits
      1,                                                // true
      1,                                                // s present
      2, 0, 0, 0, 'a'.toByte, 'b'.toByte)               // "ab"
    assert(bytes.toSeq == expect.toSeq)

    // nulls in optional fields
    val withNulls = skiffBytes(fields, 0, InternalRow(5L, null, false, null))
    val back = Skiff.decodeStreamInternal(
      new java.io.ByteArrayInputStream(bytes ++ withNulls), fields)
      .map(_.toSeq(schema)).toSeq
    assert(back == Seq(Seq(258L, 1.0, true, utf8("ab")), Seq(5L, null, false, null)))
  }

  test("skiff: distributed encode/decode round-trips a DataFrame") {
    import graft.sources.Skiff
    val df = spark.range(0, 100).selectExpr(
      "id AS k", "CAST(id AS DOUBLE) / 3 AS v", "id % 2 = 0 AS ok",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('row', id) END AS s")
    val back = Skiff.decode(Skiff.encode(df), df.schema)
    assert(back.count() == 100)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
  }

  test("skiff multi-table: variant16 tag is the table index; pipe keeps row identity") {
    import graft.sources.Skiff
    import spark.implicits._
    // golden: a row of table 1 frames with tag 0x0001 LE
    val s1 = StructType(Seq(StructField("n", LongType, nullable = false)))
    val tagged = skiffBytes(Skiff.fieldsOf(s1), 1, InternalRow(7L))
    assert(tagged.toSeq == Seq[Byte](1, 0, 7, 0, 0, 0, 0, 0, 0, 0))
    assert(Skiff.decodeStreamMultiInternal(new java.io.ByteArrayInputStream(tagged),
      Seq(Skiff.fieldsOf(s1), Skiff.fieldsOf(s1))).map(_.toSeq(
        Seq(IntegerType, LongType, LongType))).toSeq == Seq(Seq(1, null, 7L)))
    // two tables with DIFFERENT schemas through one cat job
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    val b = Seq((10L, 0.5), (20L, 1.5), (30L, 2.5)).toDF("k", "v")
    val out = Skiff.pipeMapMulti(Seq(a, b), Seq("cat"), Seq(a.schema, b.schema))
    val rows = out.collect()
    assert(rows.length == 5)
    val t0 = rows.filter(_.getInt(0) == 0).map(r => (r.getLong(1), r.getString(2))).toSet
    val t1 = rows.filter(_.getInt(0) == 1).map(r => (r.getLong(3), r.getDouble(4))).toSet
    assert(t0 == Set((1L, "x"), (2L, "y")))
    assert(t1 == Set((10L, 0.5), (20L, 1.5), (30L, 2.5)))
    // the reducer-side contract: sorting a group's rows by $table_index
    // puts table-0 (primary) rows ahead of table-1 (foreign) rows —
    // the JoinReduce single-stream pattern (mapreduce.md:111)
    val grouped = out.orderBy(col("t0_k").isNull, col("$table_index"))
      .select(col("$table_index")).as[Int].collect().toSeq
    assert(grouped == Seq(0, 0, 1, 1, 1))
  }

  test("binary yson: marker-byte scalars, zigzag varints, mixed text structure") {
    import graft.sources.Yson
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

    // {a=1; b=-2; c="hi"; d=%true-binary; e=3.5; f=2^64-1; g=#}
    val doc = bytes('{',
      0x01, 0x02, 'a', '=', 0x02, 0x02, ';',          // "a" = zigzag(1)=2
      0x01, 0x02, 'b', '=', 0x02, 0x03, ';',          // "b" = zigzag(-2)=3
      0x01, 0x02, 'c', '=', 0x01, 0x04, 'h', 'i', ';', // "c" = "hi" (len zigzag 2→4)
      0x01, 0x02, 'd', '=', 0x05, ';',                 // true
      0x01, 0x02, 'e', '=', 0x03, 0, 0, 0, 0, 0, 0, 0x0c, 0x40, ';', // 3.5 LE
      0x01, 0x02, 'f', '=', 0x06,                      // uint64 varint 2^64-1
      0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0x01, ';',
      0x01, 0x02, 'g', '=', '#',
      '}')
    assert(Yson.parseBinaryToJson(doc) ==
      """{"a":1,"b":-2,"c":"hi","d":true,"e":3.5,"f":18446744073709551615,"g":null}""")

    // mixed: textual keys/scalars interleaved with binary ones, lists,
    // attributes
    val mixed = bytes('<', 0x01, 0x06, 't', 'a', 'g', '=', 0x02, 0x54, '>',
      '[') ++ "7; foo; \"q\"; ".getBytes ++ bytes(0x02, 0x09, ']')
    assert(Yson.parseBinaryToJson(mixed) ==
      """{"$attributes":{"tag":42},"$value":[7,"foo","q",-5]}""")

    // truncated varint / length → null, never throws
    assert(Yson.parseBinaryToJson(bytes(0x01, 0x20)) == null)
    assert(Yson.parseBinaryToJson(bytes(0x02, 0xff)) == null)
  }

  test("yson writer: parse(write(json)) is identity on canonical docs") {
    import graft.sources.Yson
    val docs = Seq(
      """{"a":1,"b":-2.5,"c":"x \"y\"","d":true,"e":null}""",
      """[1,"two",{"k":false},[]]""",
      """{"$attributes":{"tag":42},"$value":[1,2]}""",
      """{"nested":{"deep":{"s":"v"}}}""")
    docs.foreach { d =>
      val y = Yson.jsonToYson(d)
      assert(y != null, d)
      assert(Yson.parseToJson(y) == d, s"$d → $y → ${Yson.parseToJson(y)}")
    }
    assert(Yson.jsonToYson("{broken") == null)
  }

  test("webjson envelope: typed stringified values, truncation, row cap") {
    import graft.sources.Formats
    val df = Seq((1L, "short", 3.5), (2L, "x" * 50, 4.5), (3L, "y", 5.5))
      .toDF("k", "s", "v")
    val json = Formats.toWebJson(df.orderBy("k"), maxRows = 2, fieldWeightLimit = 10)
    assert(json.contains(""""$type":"int64""""))
    assert(json.contains(""""$type":"string""""))
    assert(json.contains(""""$type":"double""""))
    assert(json.contains(""""$value":"1""""))
    // long string truncates to the weight limit and is flagged
    assert(json.contains(""""$incomplete":true,"$value":"xxxxxxxxxx""""))
    // row 3 fell off the cap; all_column_names lists the full schema
    // (sorted, uncapped here — the flag reflects the NAME cap, not rows)
    assert(!json.contains(""""$value":"5.5""""))
    assert(json.contains(""""all_column_names":["k","s","v"]"""))
    assert(json.contains(""""incomplete_all_column_names":"false""""))
    assert(json.contains(""""incomplete_columns":"false""""))
    // the envelope itself is valid JSON: round-trip through Spark
    val parsed = spark.read.json(Seq(json).toDS)
    assert(parsed.columns.contains("rows"))
  }

  test("webjson schemaless column caps (web_json_writer_ut.cpp Simple): " +
      "selected-column cap sets incomplete_columns, name cap sets " +
      "incomplete_all_column_names, names sorted") {
    import graft.sources.WebJson
    val df = Seq((100500L, true, "row1_c")).toDF("column_a", "column_b", "column_c")
    val json = WebJson.schemaless(df, WebJson.Config(
      maxSelectedColumnCount = 2, maxAllColumnNamesCount = 2))
    assert(json.contains(""""column_a":{"$type":"int64","$value":"100500"}"""))
    assert(json.contains(""""column_b":{"$type":"boolean","$value":"true"}"""))
    assert(!json.contains("row1_c")) // third column fell off the selection cap
    assert(json.contains(""""incomplete_columns":"true""""))
    assert(json.contains(""""incomplete_all_column_names":"true""""))
    assert(json.contains(""""all_column_names":["column_a","column_b"]"""))
  }

  test("webjson yql value format (web_json_writer_ut.cpp YqlValueFormat_SimpleTypes): " +
      "typed registry, [value, typeIndex] pairs, optional wrapping") {
    import graft.sources.WebJson
    import org.apache.spark.sql.types._
    import graft.types.YtTypes
    // uint64 + any columns via the yt.logicalType metadata tag; plain
    // long/boolean/string/double map structurally
    val uintMeta = new MetadataBuilder().putString(YtTypes.YtTypeKey, "uint64").build()
    val anyMeta = new MetadataBuilder().putString(YtTypes.YtTypeKey, "any").build()
    val schema = StructType(Seq(
      StructField("column_a", LongType, nullable = false, metadata = uintMeta),
      StructField("column_b", BooleanType, nullable = false),
      StructField("column_c", StringType, nullable = true),
      StructField("column_d", LongType, nullable = false),
      StructField("column_e", DoubleType, nullable = false),
      StructField("column_f", StringType, nullable = true, metadata = anyMeta)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(100500L, true, "row1_c", -100500L, 2.71828,
        """{"x":2,"y":3}"""),
      org.apache.spark.sql.Row(1L, false, null, 7L, 1.0, null))
    val df = spark.createDataFrame(rows, schema)
    val json = WebJson.yql(df)
    // registry: uint64 → DataType Uint64; nullable string → OptionalType
    assert(json.contains("""["DataType","Uint64"]"""))
    assert(json.contains("""["DataType","Boolean"]"""))
    assert(json.contains("""["OptionalType",["DataType","Utf8"]]"""))
    assert(json.contains("""["DataType","Int64"]"""))
    assert(json.contains("""["DataType","Double"]"""))
    assert(json.contains("""["OptionalType",["DataType","Yson"]]"""))
    // values: ints/doubles stringified, booleans plain, the uint64
    // prints unsigned, the optional string wraps in a list, null → null
    assert(json.contains(""""column_a":["100500","0"]"""))
    assert(json.contains(""""column_b":[true,"1"]"""))
    assert(json.contains(""""column_c":[["row1_c"],"2"]"""))
    assert(json.contains(""""column_d":["-100500","3"]"""))
    assert(json.contains(""""column_e":["2.71828","4"]"""))
    assert(json.contains(""""column_e":["1","4"]""")) // FloatToString drops .0
    assert(json.contains(""""column_c":[null,"2"]"""))
    // Any carrier re-annotates scalars as {"$type","$value"} under val
    assert(json.contains(
      """"column_f":[[{"val":{"x":{"$type":"int64","$value":"2"},"y":{"$type":"int64","$value":"3"}}}],"5"]"""))
    // envelope: registry present, flags false
    assert(json.contains(""""yql_type_registry":["""))
    assert(json.contains(""""incomplete_columns":"false""""))
  }

  test("webjson yql: timestamp columns surface as YQL Timestamp " +
      "(test_query.py test_select_web_json)") {
    import graft.sources.WebJson
    val df = Seq((1L, java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-02T03:04:05.123456Z")))).toDF("k", "ts_column")
    // full select and a column_names-filtered select both carry the type
    val full = WebJson.yql(df)
    assert(full.contains("Timestamp"))
    val filtered = WebJson.yql(df, WebJson.Config(columnNames = Some(Seq("ts_column"))))
    assert(filtered.contains("Timestamp"))
    assert(!filtered.contains("\"k\":"))
    assert(filtered.contains(""""incomplete_columns":"true""""))
    // microsecond payload survives the uint64 stringification
    assert(filtered.contains("1577934245123456"))
    // strings over the weight limit truncate into {"val","inc"} wrappers
    val longStr = Seq((1L, "x" * 500)).toDF("k", "s")
    val t = WebJson.yql(longStr, WebJson.Config(stringWeightLimit = 10))
    assert(t.contains(""""val":"xxxxxxxxxx","inc":true"""))
  }

  test("yaml rows: write then read round-trips with quoting and nulls") {
    import graft.sources.Formats
    val dir = Files.createTempDirectory("yaml").toFile.getAbsolutePath + "/out"
    val df = Seq(
      (1L, "plain", 2.5, true),
      (2L, "needs: quoting, here", 3.5, false),
      (3L, null.asInstanceOf[String], 4.5, true)
    ).toDF("k", "s", "v", "b")
    Formats.writeYamlRows(df, dir)
    val back = Formats.readYamlRows(spark, dir, df.schema)
    assert(back.count() == 3)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
  }

  test("protobuf: golden wire layout, null absence, unknown-field skip") {
    import graft.sources.Proto
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("v", DoubleType),
      StructField("ok", BooleanType),
      StructField("s", StringType)))
    val fields = Proto.fieldsOf(schema)

    // golden layout: lenval frame, then field 1 varint 300, field 2
    // fixed64 1.0, field 3 varint 1, field 4 len-delimited "ab"
    val bytes = protoBytes(fields, InternalRow(300L, 1.0, true, utf8("ab")))
    val expect = Array[Byte](18, 0, 0, 0,               // lenval: 18 bytes
      0x08, 0xac.toByte, 0x02,                          // 1<<3|0, varint 300
      0x11, 0, 0, 0, 0, 0, 0, -16, 63,                  // 2<<3|1, 1.0 bits LE
      0x18, 1,                                          // 3<<3|0, true
      0x22, 2, 'a'.toByte, 'b'.toByte)                  // 4<<3|2, "ab"
    assert(bytes.toSeq == expect.toSeq)
    def decode(b: Array[Byte], fs: Seq[Proto.Field], types: Seq[DataType]) =
      Proto.decodeStreamInternal(new java.io.ByteArrayInputStream(b), fs)
        .map(_.toSeq(types)).toSeq

    // null fields are absent on the wire and decode back to null
    val sparse = protoBytes(fields, InternalRow(7L, null, false, null))
    assert(sparse.toSeq == Seq[Byte](4, 0, 0, 0, 0x08, 7, 0x18, 0))
    assert(decode(sparse, fields, schema.map(_.dataType)) == Seq(Seq(7L, null, false, null)))

    // a decoder with a narrower descriptor skips unknown fields
    val narrow = Seq(Proto.Field("k", LongType, 1), Proto.Field("s", StringType, 4))
    assert(decode(bytes, narrow, Seq(LongType, StringType)) == Seq(Seq(300L, utf8("ab"))))
  }

  test("protobuf: distributed lenval round-trip and cat pipe job") {
    import graft.sources.Proto
    val df = spark.range(0, 100).selectExpr(
      "id AS k", "CAST(id AS DOUBLE) / 3 AS v", "id % 2 = 0 AS ok",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('row', id) END AS s")
    val back = Proto.decode(Proto.encode(df), df.schema)
    assert(back.count() == 100)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)

    // identity user job over a binary protobuf pipe
    val piped = Proto.pipeMap(df, Seq("cat"), df.schema)
    assert(piped.exceptAll(df).count() == 0 && df.exceptAll(piped).count() == 0)
  }

  test("golden wire vectors: skiff and protobuf codecs, both directions") {
    import graft.sources.{Proto, Skiff}
    def internal(r: Seq[Any]): InternalRow = InternalRow.fromSeq(r.map {
      case s: String => utf8(s)
      case x => x
    })
    val sBytes = skiffBytes(Skiff.fieldsOf(goldenSchema), 0, goldenRows.map(internal): _*)
    assert(sBytes.toSeq == goldenSkiff.toSeq, "skiff encoder left the golden bytes")
    val pBytes = protoBytes(Proto.fieldsOf(goldenSchema), goldenRows.map(internal): _*)
    assert(pBytes.toSeq == goldenProto.toSeq, "protobuf encoder left the golden bytes")

    // both decoders give back exactly the literal values
    def check(decoded: Seq[InternalRow]): Unit = {
      assert(decoded.length == goldenRows.length)
      decoded.zip(goldenRows).foreach { case (ir, want) =>
        assert(ir.numFields == want.length)
        want.indices.foreach { i =>
          val got = if (ir.isNullAt(i)) null
            else ir.get(i, goldenSchema.fields(i).dataType)
          (want(i), got) match {
            case (a: Array[Byte], b: Array[Byte]) =>
              assert(java.util.Arrays.equals(a, b), s"field $i")
            case (a: Double, b: Double) => // NaN-safe, bit-exact
              assert(java.lang.Double.doubleToRawLongBits(a) ==
                java.lang.Double.doubleToRawLongBits(b), s"field $i: $a != $b")
            case (a: String, b: UTF8String) => assert(utf8(a) == b, s"field $i: $a != $b")
            case (a, b) => assert(a == b, s"field $i: $a != $b")
          }
        }
      }
    }
    check(Skiff.decodeStreamInternal(new java.io.ByteArrayInputStream(goldenSkiff),
      Skiff.fieldsOf(goldenSchema)).toVector)
    check(Proto.decodeStreamInternal(new java.io.ByteArrayInputStream(goldenProto),
      Proto.fieldsOf(goldenSchema)).toVector)
  }

  test("protobuf: a message without a required field fails, naming it") {
    import graft.sources.Proto
    val df = Seq((1L, Option(2L)), (2L, Option.empty[Long])).toDF("k", "v")
    val required = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType, nullable = false)))
    // a pipe job whose output omits `v` must not fill the column with null
    val piped = intercept[Exception](Proto.pipeMap(df, Seq("cat"), required).collect())
    assert(causeMessages(piped).contains("required field 'v'"), causeMessages(piped))
    // the blob decode keeps failing on the same message
    val blob = intercept[Exception](Proto.decode(Proto.encode(df), required).collect())
    assert(causeMessages(blob).contains("'v'"), causeMessages(blob))
    // with every `v` present the same schema decodes
    val full = df.na.fill(0L)
    assert(Proto.decode(Proto.encode(full), required).collect().toSeq ==
      Seq(Row(1L, 2L), Row(2L, 0L)))
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def skiffBytes(fields: Seq[graft.sources.Skiff.Field], tag: Int,
      rows: InternalRow*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val scratch = new Array[Byte](8)
    rows.foreach(r => graft.sources.Skiff.encodeInternalTo(out, r, fields, tag, 0, scratch))
    out.toByteArray
  }

  private def protoBytes(fields: Seq[graft.sources.Proto.Field],
      rows: InternalRow*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    graft.sources.Proto.encodeFramedStreamInternal(rows.iterator, fields, out)
    out.toByteArray
  }

  // The golden vector: NaN, -0.0, multi-byte UTF-8, an empty binary,
  // Long.MaxValue and nulls. goldenSkiff and goldenProto are the bytes
  // the Row-based codecs (which these InternalRow codecs replaced)
  // wrote for it; the wire format must not move by a single byte.
  private val goldenSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", DoubleType), StructField("ok", BooleanType),
    StructField("s", StringType), StructField("b", BinaryType)))
  private val goldenRows: Seq[Seq[Any]] = Seq(
    Seq(258L, 1.5, true, "ab", "bin0".getBytes("UTF-8")),
    Seq(5L, null, false, null, null),
    Seq(-7L, -0.0, null, "héllo €", Array[Byte](0, 1, -1)),
    Seq(Long.MaxValue, Double.NaN, true, "", Array.empty[Byte]))
  private val goldenSkiff = Array[Byte](
    0, 0, 2, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0,
    0, -8, 63, 1, 1, 1, 2, 0, 0, 0, 97, 98, 1, 4, 0, 0,
    0, 98, 105, 110, 48, 0, 0, 5, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 0, 0, 0, 0, 0, -7, -1, -1, -1, -1, -1, -1, -1, 1, 0,
    0, 0, 0, 0, 0, 0, -128, 0, 1, 10, 0, 0, 0, 104, -61, -87,
    108, 108, 111, 32, -30, -126, -84, 1, 3, 0, 0, 0, 0, 1, -1, 0,
    0, -1, -1, -1, -1, -1, -1, -1, 127, 1, 0, 0, 0, 0, 0, 0,
    -8, 127, 1, 1, 1, 0, 0, 0, 0, 1, 0, 0, 0, 0)
  private val goldenProto = Array[Byte](
    24, 0, 0, 0, 8, -126, 2, 17, 0, 0, 0, 0, 0, 0, -8, 63,
    24, 1, 34, 2, 97, 98, 42, 4, 98, 105, 110, 48, 4, 0, 0, 0,
    8, 5, 24, 0, 37, 0, 0, 0, 8, -7, -1, -1, -1, -1, -1, -1,
    -1, -1, 1, 17, 0, 0, 0, 0, 0, 0, 0, -128, 34, 10, 104, -61,
    -87, 108, 108, 111, 32, -30, -126, -84, 42, 3, 0, 1, -1, 25, 0, 0,
    0, 8, -1, -1, -1, -1, -1, -1, -1, -1, 127, 17, 0, 0, 0, 0,
    0, 0, -8, 127, 24, 1, 34, 0, 42, 0)
}
