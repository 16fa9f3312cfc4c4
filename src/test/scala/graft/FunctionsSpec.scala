package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.{Aggregators, QLFunctions => F, Uint64 => U}

/** Uint64 semantics (FIXTURES.md A.1 `ku` column cases), QL function
  * registry behavior, and custom Aggregator laws (merge associativity
  * via repartitioned runs).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("uint64 ordering: -1L is the max unsigned value") {
    val df = Seq(-1L, 0L, 1L, Long.MinValue, Long.MaxValue).toDF("v")
    val maxU = df.agg(max(col("v").bitwiseXOR(lit(Long.MinValue)))
      .bitwiseXOR(lit(Long.MinValue))).as[Long].head()
    assert(maxU == -1L) // 0xFFFF... == 2^64-1
    val lt = df.select(U.u64_lt(col("v"), lit(-1L))).as[Boolean].collect()
    assert(lt.count(identity) == 4) // everything but -1 itself
  }

  test("jsonMultiGet: one parse, N paths, get_json_object parity") {
    import graft.functions.Sketches
    val df = Seq(
      """{"a":1,"b":"x","c":{"d":"deep","list":[10,20]},"n":null}""",
      """not json""").toDF("j")
    val got = df.select(Sketches.jsonMultiGet(col("j"),
      Seq("a", "b", "c.d", "c.list.1", "missing", "n", "c")).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("1", "x", "deep", "20", null, null,
      """{"d":"deep","list":[10,20]}"""))
    assert(got(1) == Seq(null, null, null, null, null, null, null))
    // parity with the builtin on scalar paths
    val both = df.limit(1).select(
      Sketches.jsonMultiGet(col("j"), Seq("c.d")).getItem(0).as("m"),
      get_json_object(col("j"), "$.c.d").as("g")).head()
    assert(both.getString(0) == both.getString(1))
  }

  test("uint64 aggregates: biased min/max, wrap-around sum") {
    val df = Seq(-1L, 0L, 5L, Long.MinValue).toDF("v")
    val (mn, mx) = df.agg(U.u64_agg_min(col("v")), U.u64_agg_max(col("v")))
      .as[(Long, Long)].head()
    assert(mn == 0L && mx == -1L) // unsigned view: min 0, max 2^64-1
    // sum wraps mod 2^64: (2^64-1) + 0 + 5 + 2^63 ≡ 2^63 + 4
    val s = df.agg(U.u64_sum(col("v"))).as[Long].head()
    assert(s == Long.MinValue + 4L, java.lang.Long.toUnsignedString(s))
  }

  test("uint64 div/mod/to_string match java unsigned semantics") {
    val vals = Seq(-1L, -123456789L, Long.MinValue, 42L)
    val df = vals.toDF("v")
    val got = df.select(
      U.u64_to_string(col("v")),
      U.u64_to_string(U.u64_div(col("v"), lit(1000L))),
      U.u64_mod(col("v"), lit(1000L))).as[(String, String, Long)].collect()
    vals.zip(got).foreach { case (v, (s, d, m)) =>
      assert(s == java.lang.Long.toUnsignedString(v))
      assert(d == java.lang.Long.toUnsignedString(java.lang.Long.divideUnsigned(v, 1000L)))
      assert(m == java.lang.Long.remainderUnsigned(v, 1000L))
    }
  }

  test("parse_u64 round-trips the top half") {
    val df = Seq("18446744073709551615", "9223372036854775808").toDF("s")
    val got = df.select(U.parse_u64(col("s"))).as[Long].collect().toSeq
    assert(got == Seq(-1L, Long.MinValue))
  }

  test("try_get_uint64 keeps the full unsigned range, rejects negatives") {
    F.registerAll(spark)
    val df = Seq(
      """{"k": 18446744073709551615}""", // 2^64-1: raw bits, not null
      """{"k": 9223372036854775808}""",  // Long.MaxValue+1
      """{"k": 42}""",
      """{"k": -1}""",                   // negative: type mismatch → null
      """{"k": 18446744073709551616}""", // 2^64: out of range → null
      """{"k": "x"}""").toDF("any")
    val got = df.select(F.try_get_uint64(col("any"), "/k").as("v"))
      .as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(-1L), Some(Long.MinValue), Some(42L),
      None, None, None))
    // the SQL registry form agrees with the Column form
    df.createOrReplaceTempView("u64doc")
    val viaSql = spark.sql(
      "SELECT try_get_uint64(any, '/k') AS v FROM u64doc")
      .as[Option[Long]].collect().toSeq
    assert(viaSql == got)
    // get_uint64 raises on the mismatch instead of nulling
    intercept[Exception] {
      spark.sql("SELECT get_uint64(any, '/k') AS v FROM u64doc")
        .filter(col("v").isNull).collect()
    }
  }

  test("registered SQL functions work in spark.sql") {
    F.registerAll(spark)
    val r = spark.sql(
      "SELECT u64_to_string(u64_div(-1L, 10L)) AS d, if_null(NULL, 7) AS c")
      .as[(String, Int)].head()
    assert(r == ("1844674407370955161", 7))
  }

  test("ypath accessors translate paths and coerce types") {
    val df = Seq("""{"a": {"b": 5}, "list": [1, 2, 3]}""").toDF("any")
    val got = df.select(
      F.try_get_int64(col("any"), "/a/b"),
      F.try_get_string(col("any"), "/list/1"),
      F.try_get_int64(col("any"), "/nope")).as[(Option[Long], Option[String], Option[Long])].head()
    assert(got == ((Some(5L), Some("2"), None)))
  }

  test("is_finite flags nan and infinities") {
    val df = Seq(1.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("v")
    val got = df.select(F.is_finite(col("v"))).as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false, false))
  }

  test("dict_sum merges maps across partitions") {
    val df = Seq(Map("a" -> 1L), Map("a" -> 2L, "b" -> 5L), Map("b" -> 1L))
      .toDF("m").repartition(3)
    val got = df.agg(Aggregators.dictSum(col("m"))).as[Map[String, Long]].head()
    assert(got == Map("a" -> 3L, "b" -> 6L))
    // null maps are transparent, keys come back sorted
    val withNull = Seq(Some(Map("z" -> 1L, "a" -> 2L)), None, Some(Map("z" -> 1L)))
      .toDF("m").repartition(2)
    val r = withNull.agg(Aggregators.dictSum(col("m")).as("d"))
      .selectExpr("map_keys(d)", "map_values(d)").head()
    assert(r.getSeq[String](0) == Seq("a", "z"))
    assert(r.getSeq[Long](1) == Seq(2L, 2L))
  }

  test("checked_sum throws on overflow instead of wrapping") {
    val cs = udaf(Aggregators.checkedSum)
    val ok = Seq(1L, 2L, 3L).toDF("v").agg(cs(col("v"))).as[Long].head()
    assert(ok == 6L)
    val boom = intercept[Exception] {
      Seq(Long.MaxValue, 1L).toDF("v").agg(cs(col("v"))).as[Long].head()
    }
    assert(boom.toString.toLowerCase.contains("overflow") ||
      boom.getCause != null)
  }

  test("top_by keeps the k largest by key in order") {
    val top2 = udaf(Aggregators.topBy(2))
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (4L, 9.0)).toDF("v", "key")
      .repartition(2)
    val got = df.agg(top2(col("v"), col("key"))).as[Seq[Long]].head()
    assert(got == Seq(2L, 4L)) // key 9.0 twice, tie broken by value asc
  }

  /** The (position, frequency) bins of YQL histogram `producer` over
    * the doubles `data`. */
  private def yqlBins(producer: String, data: Seq[Double]): Seq[(Double, Double)] = {
    data.toDF("v").createOrReplaceTempView("hist_src")
    graft.functions.YqlSql.sql(spark, s"SELECT $producer AS h FROM hist_src")
      .head().getStruct(0).getAs[scala.collection.Seq[Row]]("bins")
      .map(b => (b.getDouble(0), b.getDouble(1))).toSeq
  }

  // bimodal: cluster near 0 and near 100
  private val bimodal = (1 to 500).map(i => (i % 10).toDouble) ++
    (1 to 500).map(i => 100.0 + (i % 10))

  test("adaptive histogram caps bins, preserves totals, tracks the distribution") {
    val bins = yqlBins("AdaptiveDistanceHistogram(v, 8)", bimodal)
    assert(bins.length <= 8)
    assert(bins.map(_._2).sum == 1000.0)
    val lowMass = bins.filter(_._1 < 50).map(_._2).sum
    assert(lowMass == 500.0, s"bimodal split lost: $lowMass")
  }

  test("ward and weight adaptive histograms cap bins and preserve mass") {
    for ((producer, wardLike) <- Seq("AdaptiveWardHistogram" -> true,
        "AdaptiveWeightHistogram" -> false)) {
      val bins = yqlBins(s"$producer(v, 8)", bimodal)
      assert(bins.length <= 8, producer)
      assert(bins.map(_._2).sum == 1000.0, producer)
      // ward (variance-minimizing) keeps the bimodal split; the weight
      // criterion may legitimately bridge the gap (it ignores distance)
      if (wardLike)
        assert(bins.filter(_._1 < 50).map(_._2).sum == 500.0, bins)
    }
  }

  test("CDF histogram variants are monotone and end at the total count") {
    val values = (1 to 300).map(i => (i % 97).toDouble)
    def monotone(cum: Seq[Double]): Boolean =
      cum.sliding(2).forall(w => w.length < 2 || w(0) <= w(1))
    val ward = yqlBins(
      "Histogram::ToCumulativeDistributionFunction(AdaptiveWardHistogram(v, 8))", values)
      .map(_._2)
    assert(ward.last == 300.0 && monotone(ward), ward)
    val data = values.toDF("v")
    for (agg <- Seq(graft.functions.Aggregators.linearHistogramCdf(10.0),
        graft.functions.Aggregators.logHistogramCdf(10.0))) {
      val hist = udaf(agg)
      val bins = data.agg(hist(col("v")).as("h"))
        .selectExpr("explode(h) AS b").selectExpr("b._1 AS pos", "b._2 AS cum")
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      assert(bins.last._2 == 300L, bins.toSeq)
      assert(monotone(bins.map(_._2.toDouble).toSeq), bins.toSeq)
    }
  }

  test("Lists module: takeWhile/skipWhile/indexOf/enumerate edge cases") {
    import graft.functions.YqlModules.Lists
    val df = Seq(
      (Seq(2, 4, 6, 1, 8), 1),  // prefix of evens, then odd
      (Seq(1, 3, 5), 2),        // no even prefix at all
      (Seq(2, 2), 3),           // all pass
      (Seq.empty[Int], 4)
    ).toDF("xs", "id")
    val got = df.orderBy("id").select(
      Lists.takeWhile(col("xs"))(x => x % 2 === 0).as("tw"),
      Lists.skipWhile(col("xs"))(x => x % 2 === 0).as("sw"),
      Lists.indexOf(col("xs"), lit(8)).as("idx8"),
      Lists.enumerate(col("xs")).as("en"))
      .collect()
    assert(got(0).getSeq[Int](0) == Seq(2, 4, 6))
    assert(got(0).getSeq[Int](1) == Seq(1, 8))
    assert(got(0).getLong(2) == 4L) // 0-based position of 8
    assert(got(0).getSeq[String](3) == Seq("0:2", "1:4", "2:6", "3:1", "4:8"))
    assert(got(1).getSeq[Int](0) == Seq.empty)
    assert(got(1).getSeq[Int](1) == Seq(1, 3, 5))
    assert(got(1).isNullAt(2)) // 8 absent -> null, not -1
    assert(got(2).getSeq[Int](0) == Seq(2, 2)) // all pass -> whole list
    assert(got(2).getSeq[Int](1) == Seq.empty)
    assert(got(3).getSeq[Int](0) == Seq.empty)
  }

  test("Lists module: fold/sum/avg/zipWith/replicate") {
    import graft.functions.YqlModules.Lists
    val df = Seq((Seq(1L, 2L, 3L), Seq(10L, 20L, 30L))).toDF("a", "b")
    val r = df.select(
      Lists.sum(col("a")).as("s"),
      Lists.avg(col("a")).as("m"),
      Lists.fold(col("a"), lit(1L))((acc, x) => acc * x).as("prod"),
      Lists.zipWith(col("a"), col("b"))(_ + _).as("z"),
      Lists.replicate(lit("x"), lit(3)).as("rep")).head()
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) == 2.0)
    assert(r.getLong(2) == 6L)
    assert(r.getSeq[Long](3) == Seq(11L, 22L, 33L))
    assert(r.getSeq[String](4) == Seq("x", "x", "x"))
  }

  test("Compress: gzip and zlib round-trip, including empty and binary") {
    import graft.functions.Compress
    val df = Seq("hello world", "", "a" * 10000, "é中文 mixed")
      .toDF("s")
    val rt = df.select(
      col("s"),
      decode(Compress.gunzip(Compress.gzip(encode(col("s"), "UTF-8"))), "UTF-8").as("g"),
      decode(Compress.unzlib(Compress.zlib(encode(col("s"), "UTF-8"))), "UTF-8").as("z"),
      length(Compress.gzip(encode(col("s"), "UTF-8"))).as("glen")).collect()
    rt.foreach { r =>
      assert(r.getString(1) == r.getString(0))
      assert(r.getString(2) == r.getString(0))
    }
    // 10k of 'a' must actually compress
    val big = rt.find(_.getString(0).length == 10000).get
    assert(big.getInt(3) < 200, s"gzip of 10k 'a' was ${big.getInt(3)} bytes")
  }

  test("regex_replace_first: user capturing groups don't steal the tail backreference") {
    val df = Seq("xaby").toDF("s")
    // pattern has its own group (a): with a positional $1 the tail of the
    // string would be replaced by "a"; the named tail group keeps "y"
    val got = df.select(F.regex_replace_first("(a)b", col("s"), "Z")).as[String].head()
    assert(got == "xZy")
  }

  test("regex_replace_first/all: $ and backslash in the rewrite are literal (re2 semantics)") {
    val df = Seq("price 5").toDF("s")
    assert(df.select(F.regex_replace_first("5", col("s"), "$9")).as[String].head() == "price $9")
    assert(df.select(F.regex_replace_all("5", col("s"), "$9")).as[String].head() == "price $9")
    // re2 \\1 backreference maps to the user's own group
    assert(Seq("aab").toDF("s")
      .select(F.regex_replace_first("(a+)", col("s"), """[\1]""")).as[String].head() == "[aa]b")
  }

  test("YqlSql module-call rewrite: spellings lower outside strings only") {
    import graft.functions.YqlSql
    assert(YqlSql.rewrite("SELECT Digest::Md5(x), Url::GetHost(u) FROM t") ==
      "SELECT digest_md5(x), url_gethost(u) FROM t")
    // a '::' inside a string literal is untouched
    assert(YqlSql.rewrite("SELECT 'Digest::Md5', String::ToUpper(s) FROM t") ==
      "SELECT 'Digest::Md5', string_toupper(s) FROM t")
    // Spark's expr::type cast shorthand is NOT a module call — untouched
    assert(YqlSql.rewrite("SELECT a::int, b::string FROM t") ==
      "SELECT a::int, b::string FROM t")
    // unknown module names stay verbatim even with a call shape
    assert(YqlSql.rewrite("SELECT Foo::Bar(x) FROM t") ==
      "SELECT Foo::Bar(x) FROM t")
    // '::' inside backtick-quoted identifiers is untouched
    assert(YqlSql.rewrite("SELECT `Digest::Md5` FROM t") ==
      "SELECT `Digest::Md5` FROM t")
    // mid-identifier text never matches (identifier-boundary check)
    assert(YqlSql.rewrite("SELECT xdigest::md5(x) FROM t") ==
      "SELECT xdigest::md5(x) FROM t")
    // whitespace between the call name and '(' is preserved
    assert(YqlSql.rewrite("SELECT Digest::Md5 (x) FROM t") ==
      "SELECT digest_md5 (x) FROM t")
  }

  test("YqlSql rewrite coexists with Spark :: casts in one query") {
    import graft.functions.YqlSql
    Seq(("7", "abc")).toDF("a", "s").createOrReplaceTempView("yqlsql_cast")
    val got = YqlSql.sql(spark,
      "SELECT a::int + 1 AS n, String::ToUpper(s) AS u FROM yqlsql_cast")
      .as[(Int, String)].head()
    assert(got == ((8, "ABC")))
  }

  test("YqlSql: registered module functions run as a SQL string, codegen'd") {
    import graft.functions.YqlSql
    Seq(("abc", 16.0), ("dd", 25.0)).toDF("s", "v").createOrReplaceTempView("yqlsql_t")
    val df = YqlSql.sql(spark,
      """SELECT String::ToUpper(s) AS u, Math::Sqrt(v) AS sq,
           Digest::Crc32(s) AS c, DateTime::GetYear(DateTime::FromSeconds(0)) AS y
         FROM yqlsql_t""")
    val got = df.as[(String, Double, Long, Long)].collect().toSet
    assert(got.map(t => (t._1, t._2, t._4)) == Set(("ABC", 4.0, 1970L), ("DD", 5.0, 1970L)))
    // constant-argument functions reject non-foldable args at analysis
    intercept[Exception] {
      YqlSql.sql(spark, "SELECT Pire::Grep(s, s) FROM yqlsql_t").collect()
    }
  }

  test("YqlSql bare builtin spellings: lambdas through ListMap/ListFilter, " +
      "AGGREGATE_LIST, Dict accessors") {
    import graft.functions.YqlSql
    Seq((1L, Seq(3L, 1L, 2L)), (2L, Seq(5L, 4L)))
      .toDF("id", "xs").createOrReplaceTempView("yqlsql_l")
    val df = YqlSql.sql(spark,
      """SELECT id,
           ListMap(xs, x -> x * 10) AS mapped,
           ListFilter(xs, x -> x > 1) AS filtered,
           ListMax(xs) AS mx, ListHead(ListSort(xs)) AS smallest
         FROM yqlsql_l""")
    val got = df.as[(Long, Seq[Long], Seq[Long], Long, Long)].collect()
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Seq(30L, 10L, 20L), Seq(3L, 2L), 3L, 1L),
      (2L, Seq(50L, 40L), Seq(5L, 4L), 5L, 4L)))
    val agg = YqlSql.sql(spark,
      "SELECT ListLength(AGGREGATE_LIST(id)) AS n FROM yqlsql_l")
      .as[Int].collect()
    assert(agg.toSeq == Seq(2))
  }

  test("dict_sum survives keys past the 64 KiB writeUTF limit") {
    val k = "k" * 70000
    val df = Seq(Map(k -> 1L), Map(k -> 2L)).toDF("m").repartition(2)
    val got = df.agg(Aggregators.dictSum(col("m"))).as[Map[String, Long]].head()
    assert(got == Map(k -> 3L))
  }
}
