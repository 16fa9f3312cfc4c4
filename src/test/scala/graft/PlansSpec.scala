package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.plans.{ComputedColumns, SecondaryIndex}

/** Custom Catalyst rules: computed-column derived-predicate pruning and
  * secondary-index reads (SURVEY.md §4.1 custom pieces a+b).
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  test("derived predicate rule prunes partitions keyed by a computed column") {
    val dir = Files.createTempDirectory("cc").toFile.getAbsolutePath
    val spec = ComputedColumns.Spec("k", "hk", c => pmod(c, lit(8L)))
    val data = (0L until 800L).map(i => (i, s"v$i")).toDF("k", "v")
    ComputedColumns.withComputed(data, spec)
      .write.partitionBy("hk").mode("overwrite").parquet(dir)

    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      val q = spark.read.parquet(dir).where(col("k") === 123L)
      assert(q.collect().map(_.getString(1)).toSeq == Seq("v123"))

      // the scan must carry a partition filter on hk = 123 % 8 = 3
      val scans = q.queryExecution.executedPlan.collect {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
          case s: FileSourceScanExec => s }
        case s: FileSourceScanExec => Seq(s)
      }.flatten
      assert(scans.nonEmpty)
      assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "hk")),
        s"no hk partition filter in: ${scans.head.partitionFilters}")

      // and IN-lists map through the function image
      val q2 = spark.read.parquet(dir).where(col("k").isin(5L, 13L))
      assert(q2.count() == 2)
    } finally ComputedColumns.clear()
  }

  private def partitionFilterOn(q: org.apache.spark.sql.DataFrame, part: String): Boolean = {
    val scans = q.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
        case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    scans.nonEmpty &&
      scans.head.partitionFilters.exists(_.references.exists(_.name == part))
  }

  test("range predicates prune partitions on a hash-computed key (range inferrer)") {
    val dir = Files.createTempDirectory("ccr").toFile.getAbsolutePath
    val spec = ComputedColumns.Spec("k", "hk", c => pmod(c, lit(8L)))
    val data = (0L until 800L).map(i => (i, s"v$i")).toDF("k", "v")
    ComputedColumns.withComputed(data, spec)
      .write.partitionBy("hk").mode("overwrite").parquet(dir)
    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      val q = spark.read.parquet(dir).where(col("k").between(100L, 120L))
      assert(q.count() == 21)
      assert(partitionFilterOn(q, "hk"), "BETWEEN must derive an hk partition filter")

      val q2 = spark.read.parquet(dir).where(col("k") >= 795L && col("k") < 799L)
      assert(q2.count() == 4)
      assert(partitionFilterOn(q2, "hk"), ">=/< must derive an hk partition filter")

      // beyond the enumeration cap the rule stays silent; still correct
      val q3 = spark.read.parquet(dir).where(col("k") >= 100L)
      assert(q3.count() == 700)
      assert(!partitionFilterOn(q3, "hk"), "unbounded range must not derive")
    } finally ComputedColumns.clear()
  }

  test("monotone computed key derives an interval image beyond the enumeration cap (Divide0-6/Far)") {
    val dir = Files.createTempDirectory("ccd").toFile.getAbsolutePath
    // hash := key / 100 — the reference's divide inferrer shape
    val spec = ComputedColumns.Spec("k", "hk", (c: org.apache.spark.sql.Column) =>
      (c / 100L).cast("long"), monotone = true)
    val data = (0L until 10000L).map(i => (i, s"v$i")).toDF("k", "v")
    ComputedColumns.withComputed(data, spec)
      .write.partitionBy("hk").mode("overwrite").parquet(dir)
    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      // 5000-wide source range: enumeration (cap 1024) is impossible,
      // the monotone image [30, 80] must prune partitions instead
      val q = spark.read.parquet(dir).where(col("k") >= 3000L && col("k") <= 8000L)
      assert(q.count() == 5001)
      assert(partitionFilterOn(q, "hk"),
        "wide monotone range must derive an hk interval filter")
      // a HALF-bounded range still cannot derive (no interval image)
      val q2 = spark.read.parquet(dir).where(col("k") >= 3000L)
      assert(q2.count() == 7000)
      assert(!partitionFilterOn(q2, "hk"))
    } finally ComputedColumns.clear()
  }

  test("range predicates prune partitions on a range-computed key (bucketed ranges)") {
    val dir = Files.createTempDirectory("ccb").toFile.getAbsolutePath
    val spec = ComputedColumns.Spec("k", "rk",
      (c: org.apache.spark.sql.Column) => floor(c / lit(100L)).cast("long"))
    val data = (0L until 1000L).map(i => (i, i * 3)).toDF("k", "payload")
    ComputedColumns.withComputed(data, spec)
      .write.partitionBy("rk").mode("overwrite").parquet(dir)
    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      val q = spark.read.parquet(dir).where(col("k").between(250L, 450L))
      assert(q.count() == 201)
      assert(partitionFilterOn(q, "rk"), "range image {2,3,4} must reach the scan")
    } finally ComputedColumns.clear()
  }

  test("multi-column computed key: cross product of pinned sources derives (key trie)") {
    val dir = Files.createTempDirectory("ccm").toFile.getAbsolutePath
    val spec = ComputedColumns.Spec(Seq("k1", "k2"), "hk",
      (cs: Seq[org.apache.spark.sql.Column]) =>
        pmod(cs(0) * lit(31L) + cs(1), lit(16L)))
    val data = (0L until 1000L).map(i => (i % 10, i % 7, i)).toDF("k1", "k2", "id")
    ComputedColumns.withComputed(data, spec)
      .write.partitionBy("hk").mode("overwrite").parquet(dir)
    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      val q = spark.read.parquet(dir)
        .where(col("k1") === 3L && col("k2").isin(5L, 6L))
      val want = data.where(col("k1") === 3L && col("k2").isin(5L, 6L)).count()
      assert(q.count() == want)
      assert(partitionFilterOn(q, "hk"),
        "k1=3 × k2∈{5,6} must enumerate hk images")

      // a range on one source composes with a point on the other
      val q2 = spark.read.parquet(dir)
        .where(col("k1").between(2L, 4L) && col("k2") === 1L)
      val want2 = data.where(col("k1").between(2L, 4L) && col("k2") === 1L).count()
      assert(q2.count() == want2)
      assert(partitionFilterOn(q2, "hk"), "range × point must enumerate")
    } finally ComputedColumns.clear()
  }

  test("unfolded index: list membership answered by per-element index rows") {
    val primary = Seq(
      (1L, Seq("a", "b")), (2L, Seq("b", "c")), (3L, Seq("d"))
    ).toDF("pk", "tags")
    val idx = SecondaryIndex.buildUnfolded(primary, "tags", Seq("pk"))
    val got = SecondaryIndex.query(primary, idx, Seq("pk"), "tags = 'b'")
      .select("pk").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("unique index: duplicate indexed value fails the build (UniqueIndexConflict)") {
    val ok = Seq((1L, "x"), (2L, "y")).toDF("pk", "u")
    val built = SecondaryIndex.buildUnique(ok, Seq("u"), Seq("pk"))
    assert(built.count() == 2)
    val dup = Seq((1L, "x"), (2L, "x")).toDF("pk", "u")
    val e = intercept[Exception] {
      SecondaryIndex.buildUnique(dup, Seq("u"), Seq("pk")).collect()
    }
    assert(e.getMessage.contains("unique index conflict") ||
      Option(e.getCause).exists(_.getMessage.contains("unique index conflict")),
      e.toString)
  }

  test("predicated index: query answers pred AND index predicate") {
    val primary = Seq((1L, 10L, "F"), (2L, 10L, "O"), (3L, 20L, "F"))
      .toDF("pk", "ck", "status")
    val idx = SecondaryIndex.buildPredicated(primary, Seq("ck"), Seq("pk"),
      col("status") === "F")
    val got = SecondaryIndex.query(primary, idx, Seq("pk"), "ck = 10")
      .select("pk").as[Long].collect()
    assert(got.toSeq == Seq(1L), "O-status row must be excluded by the index predicate")
  }

  test("secondary index: predicate on indexed column answers via index + semi-join") {
    val primary = (0L until 1000L).map(i => (i, s"s${i % 7}", i * 2))
      .toDF("pk", "tag", "payload")
    val index = SecondaryIndex.build(primary, Seq("tag"), Seq("pk"))
    val got = SecondaryIndex.query(primary, index, Seq("pk"), "tag = 's3'")
    val want = primary.where("tag = 's3'")
    assert(got.count() == want.count())
    assert(got.agg(sum("payload")).first().getLong(0) ==
      want.agg(sum("payload")).first().getLong(0))
    // plan uses a broadcast semi-join (keys looked up, primary not shuffled)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  // ---- range-inference shapes reach the parquet scan ----
  // The reference canonicalizes WHERE predicates into key-range unions
  // (key_trie.cpp, ql_range_inference_ut.cpp: NotEqual, Multiple
  // Disjuncts/Conjuncts, RangesProduct, PrefixQuery, Redundant
  // Condition). Spark-side the same contract is "the lowered predicate
  // reaches PushedFilters on the scan" — data skipping then prunes
  // row groups exactly where the reference prunes key ranges.

  private def pushedFilters(df: org.apache.spark.sql.DataFrame): String = {
    df.count()
    val plans = df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    }.flatten
    plans.map(_.metadata.getOrElse("PushedFilters", "[]")).mkString(";")
  }

  test("range inference shapes push to the scan: point, not-equal, disjunct union, tuple product") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val cat = Map("//tmp/li" -> li)
    def qf(where: String): String = pushedFilters(graft.ql.SelectRows(
      spark, s"l_orderkey from [//tmp/li] where $where", cat))

    // PrefixQuery / Lookup: point predicate (QL `=` null-matches, so
    // it pushes as the equally-prunable EqualNullSafe)
    assert(qf("l_orderkey = 1").contains("EqualNullSafe(l_orderkey,1)"))
    // NotEqual → the complement still reaches the scan
    assert(qf("l_linenumber != 3").contains("Not(EqualNullSafe(l_linenumber,3)"))
    // MultipleDisjuncts → Or of ranges pushed whole
    val disj = qf("l_quantity < 5.0 or l_quantity > 45.0")
    assert(disj.contains("Or(") && disj.contains("l_quantity"), disj)
    // MultipleConjuncts / RedundantCondition → folded conjunction
    val conj = qf("l_orderkey >= 10 and l_orderkey >= 10 and l_orderkey < 500")
    assert(conj.contains("GreaterThanOrEqual(l_orderkey,10)") &&
      conj.contains("LessThan(l_orderkey,500)"), conj)
    // RangesProduct: tuple BETWEEN multi-range list lowers to a
    // pushable Or(And(...)) over both key positions
    val prod = qf("(l_orderkey, l_linenumber) between ((1) and (100, 2), (200, 1) and (300))")
    assert(prod.contains("l_orderkey") && prod.contains("Or("), prod)
  }

  test("TRefineKeyRangeTest remaining shapes reach the scan: contradiction, " +
      "point collapse, second dimension, tuple IN permutation, short keys " +
      "(ql_range_inference_ut.cpp ContradictiveConjuncts/EmptyRange/" +
      "RangeToPointCollapsing/SecondDimensionRange/InTuples/" +
      "InColumnPermutation/NegativeRange1/NormalizeShortKeys)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val cat = Map("//tmp/li" -> li)
    def qf(where: String): String = pushedFilters(graft.ql.SelectRows(
      spark, s"l_orderkey from [//tmp/li] where $where", cat))

    // ContradictiveConjuncts / EmptyRange: both bounds still push; the
    // scan's row-group stats then prune every block (the reference
    // collapses the key range to empty at plan time — same zero rows read)
    val contra = qf("l_orderkey > 100 and l_orderkey < 50")
    assert(contra.contains("GreaterThan(l_orderkey,100)") &&
      contra.contains("LessThan(l_orderkey,50)"), contra)
    // RangeToPointCollapsing: closed degenerate range = a point lookup
    val pt = qf("l_orderkey >= 5 and l_orderkey <= 5")
    assert(pt.contains("GreaterThanOrEqual(l_orderkey,5)") &&
      pt.contains("LessThanOrEqual(l_orderkey,5)"), pt)
    // SecondDimensionRange: point on dim 1 + range on dim 2, both pushed
    val dim2 = qf("l_orderkey = 1 and l_linenumber > 2")
    assert(dim2.contains("EqualNullSafe(l_orderkey,1)") &&
      dim2.contains("GreaterThan(l_linenumber,2)"), dim2)
    // InTuples: tuple IN lowers to a pushable Or of conjunctions
    val tin = qf("(l_orderkey, l_linenumber) in ((1, 1), (3, 2))")
    assert(tin.contains("Or(") && tin.contains("l_linenumber"), tin)
    // InColumnPermutation: same ranges regardless of tuple column order
    val perm = qf("(l_linenumber, l_orderkey) in ((1, 1), (2, 3))")
    assert(perm.contains("Or(") && perm.contains("l_orderkey"), perm)
    // NegativeRange1: bounds below zero push unchanged
    assert(qf("l_orderkey < -1").contains("LessThan(l_orderkey,-1)"))
    // NormalizeShortKeys: a prefix-only predicate on a two-part key
    // stays a one-column range (no spurious second-dimension bound)
    val short0 = qf("l_orderkey between 10 and 20")
    assert(short0.contains("GreaterThanOrEqual(l_orderkey,10)") &&
      !short0.contains("l_linenumber"), short0)
  }

  // ---- ql_computed_columns_ut.cpp corpus, at the inference level ----
  // The reference tests assert inferred key RANGES; the observable here
  // is the derived image predicate (ComputedColumns.imageFor) that
  // partition pruning then consumes. Each test cites its reference
  // name.

  // parquet-backed so the Filter survives optimization (a LocalRelation
  // fixture would fold the predicate away before the rule could see it)
  private lazy val ccDf = {
    val dir = Files.createTempDirectory("ccfix").toFile.getAbsolutePath
    Seq((1L, 2L, 3L, 4L, 5L)).toDF("k", "l", "m", "n", "o")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("ccorpus Simple/ConstantBeforeReferenceInExpression: l = 10 derives k = 20 " +
      "(ql_computed_columns_ut.cpp:155,214)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => c * 2)
    val img = ComputedColumns.imageFor(ccDf, col("l") === 10L, spec)
    assert(img.exists(s => s.contains("k") && s.contains("20")), img)
  }

  test("ccorpus Inequality: a one-sided bound derives nothing without " +
      "monotonicity (ql_computed_columns_ut.cpp:166)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => c * 2)
    assert(ComputedColumns.imageFor(ccDf, col("l") < 10L, spec).isEmpty)
  }

  test("ccorpus Vector/Far4: IN sets map value-wise; independent INs cross " +
      "(ql_computed_columns_ut.cpp:188,449)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => c * 2)
    val img = ComputedColumns.imageFor(ccDf, col("l").isin(1L, 2L, 3L), spec)
    assert(img.exists(s => s.contains("2") && s.contains("4") && s.contains("6")), img)
    val far = ComputedColumns.Spec("n", "k", (c: org.apache.spark.sql.Column) => c + 1)
    val img4 = ComputedColumns.imageFor(ccDf,
      col("n").isin(10L, 30L) && col("l").isin(20L, 40L), far)
    assert(img4.exists(s => s.contains("11") && s.contains("31")), img4)
  }

  test("ccorpus ComputedColumnLast/Far1/Far2: far sources derive through " +
      "unrelated pinned columns (ql_computed_columns_ut.cpp:236,371,395)") {
    val spec = ComputedColumns.Spec("m", "k", (c: org.apache.spark.sql.Column) => c + 1)
    val img = ComputedColumns.imageFor(ccDf, col("m") === 10L, spec)
    assert(img.exists(_.contains("11")), img)
    val img2 = ComputedColumns.imageFor(ccDf,
      col("n") === 10L && col("l") === 20L, ComputedColumns.Spec("n", "k", (c: org.apache.spark.sql.Column) => c + 1))
    assert(img2.exists(_.contains("11")), img2)
  }

  test("ccorpus Far3: tuple IN lowers to OR-of-conjunctions and derives the " +
      "union (ql_computed_columns_ut.cpp:421)") {
    val spec = ComputedColumns.Spec("n", "k", (c: org.apache.spark.sql.Column) => c + 1)
    val cond = (col("n") === 10L && col("l") === 20L) ||
      (col("n") === 30L && col("l") === 40L)
    val img = ComputedColumns.imageFor(ccDf, cond, spec)
    assert(img.exists(s => s.contains("11") && s.contains("31")), img)
  }

  test("ccorpus Complex1/Complex3/TwoComputedColumns: derivable and " +
      "non-derivable specs coexist (ql_computed_columns_ut.cpp:258,318,1459)") {
    // l := n + 1 with n pinned derives; m := o + 2 with o unpinned doesn't
    val cond = col("k") === 10L && col("n") === 20L
    val lSpec = ComputedColumns.Spec("n", "l", (c: org.apache.spark.sql.Column) => c + 1)
    val mSpec = ComputedColumns.Spec("o", "m", (c: org.apache.spark.sql.Column) => c + 2)
    assert(ComputedColumns.imageFor(ccDf, cond, lSpec).exists(_.contains("21")))
    assert(ComputedColumns.imageFor(ccDf, cond, mSpec).isEmpty)
    // TwoComputedColumns: l := m over a BETWEEN range enumerates
    val two = ComputedColumns.imageFor(ccDf,
      col("k") === 1L && col("m").between(3L, 5L),
      ComputedColumns.Spec("m", "l", (c: org.apache.spark.sql.Column) => c))
    assert(two.exists(s => s.contains("3") && s.contains("4") && s.contains("5")), two)
  }

  test("ccorpus NoKeyColumnsInPredicate/NoComputedColumns: an unconstrained " +
      "source derives nothing (ql_computed_columns_ut.cpp:144,481)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => c * 2)
    assert(ComputedColumns.imageFor(ccDf, col("o") === 10L, spec).isEmpty)
  }

  test("ccorpus Modulo1/2/4/5: a declared modulo enumerates residues ∪ null " +
      "with no source bound (ql_computed_columns_ut.cpp:524-671)") {
    val spec = ComputedColumns.Spec.modulo("l", "k", c => pmod(c, lit(2L)), 2L)
    // Modulo1: l bounded but too wide to enumerate → residue image
    val img = ComputedColumns.imageFor(ccDf,
      col("l") > 0L && col("l") <= 2000000L, spec)
    assert(img.exists(s => s.contains("IS NULL") && s.contains("1")), img)
    // Modulo2/5 shape: a DIFFERENT column pinned still yields the image
    val img2 = ComputedColumns.imageFor(ccDf, col("m") === 1L, spec)
    assert(img2.exists(_.contains("IS NULL")), img2)
  }

  test("ccorpus Null: null-pinned sources derive the f(null) point image " +
      "(ql_computed_columns_ut.cpp:1514)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => xxhash64(c))
    // QL `l <= null` lowers (null-smallest) to IS NULL
    val img = ComputedColumns.imageFor(ccDf, col("l").isNull, spec)
    assert(img.isDefined, img)
    // `l < null` folds to a constant-false filter: nothing to derive,
    // the plan collapses before the rule ever runs
    assert(ComputedColumns.imageFor(ccDf,
      lit(null).cast("boolean"), spec).isEmpty)
  }

  test("ccorpus DivideEmptyRange: a contradictory range derives FALSE and " +
      "prunes the scan entirely (ql_computed_columns_ut.cpp:851)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => c / 2)
    val img = ComputedColumns.imageFor(ccDf,
      col("l") >= 3L && col("l") < 2L, spec)
    assert(img.exists(_.contains("false")), img)
  }

  test("ccorpus EstimationOverflow: far-apart bounds must not wrap the width " +
      "estimate into an enumeration (ql_computed_columns_ut.cpp:1057)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => c / 2)
    val img = ComputedColumns.imageFor(ccDf,
      col("l") >= Long.MinValue + 2 && col("l") <= Long.MaxValue - 2, spec)
    // monotone not declared → no interval; width wraps → no enumeration
    assert(img.isEmpty, img)
  }

  test("ccorpus RangeExpansionLimit: the per-spec product caps enumeration " +
      "but small sets still derive (ql_computed_columns_ut.cpp:1289)") {
    val spec = ComputedColumns.Spec("l", "k", (c: org.apache.spark.sql.Column) => c + 1)
    val img = ComputedColumns.imageFor(ccDf,
      col("l").isin(10L, 20L, 30L, 40L, 50L) && col("m").isin(1L, 3L, 5L, 7L), spec)
    assert(img.exists(s => s.contains("11") && s.contains("51")), img)
    // and a range wider than MaxEnumeration stays silent
    val wide = ComputedColumns.imageFor(ccDf,
      col("l") >= 0L && col("l") <= 2000L, spec)
    assert(wide.isEmpty, wide)
  }

  test("ccorpus modulo residues prune partitions end-to-end") {
    val dir = Files.createTempDirectory("ccmod").toFile.getAbsolutePath
    val spec = ComputedColumns.Spec.modulo("k", "hk", c => pmod(c, lit(4L)), 4L)
    val data = (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
    ComputedColumns.withComputed(data, spec)
      .write.partitionBy("hk").mode("overwrite").parquet(dir)
    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      // pmod keeps hk in [0,4) — the symmetric residue image covers it
      val q = spark.read.parquet(dir).where(col("v") === "v42")
      assert(q.collect().map(_.getString(1)).toSeq == Seq("v42"))
      assert(partitionFilterOn(q, "hk"), "no hk partition filter from the modulo image")
    } finally ComputedColumns.clear()
  }

  test("ccorpus end-to-end: a QL STRING query prunes computed-key partitions " +
      "through the <=> lowering (test_computed_column_simple)") {
    val dir = Files.createTempDirectory("ccql").toFile.getAbsolutePath
    val spec = ComputedColumns.Spec("k", "hash",
      (c: org.apache.spark.sql.Column) => c * 33L)
    val data = (0L until 100L).map(i => (i, i * 2)).toDF("k", "value")
    ComputedColumns.withComputed(data, spec)
      .write.partitionBy("hash").mode("overwrite").parquet(dir)
    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      // QL's default equality lowers to <=>, which the candidate
      // extractor must still recognize for the image to derive
      val q = graft.ql.SelectRows(spark,
        "k, value from [//tmp/cct] where k = 42",
        Map("//tmp/cct" -> spark.read.parquet(dir)))
      assert(q.as[(Long, Long)].collect().toSeq == Seq((42L, 84L)))
      assert(partitionFilterOn(q, "hash"),
        "QL string equality must derive the hash partition filter")
      val in = graft.ql.SelectRows(spark,
        "k from [//tmp/cct] where k in (10, 20, 30)",
        Map("//tmp/cct" -> spark.read.parquet(dir)))
      assert(in.as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
      assert(partitionFilterOn(in, "hash"))
    } finally ComputedColumns.clear()
  }

  test("PredicatePushDown (ql_distributed_ut.cpp): per-side predicates reach their scans through a join") {
    // the reference splits `a1 = 5 and b1 != 2 and a2 + b1 > 9` into
    // per-side WHERE clauses plus a join residual; Catalyst's
    // PushPredicateThroughJoin lands each conjunct on its own scan
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val df = graft.ql.SelectRows(spark,
      "l_partkey + o_custkey as x from [//tmp/li] join [//tmp/ord] " +
        "on (l_orderkey) = (o_orderkey) " +
        "where l_orderkey = 5 and o_custkey != 2 and l_partkey + o_custkey > 9",
      Map("//tmp/li" -> li, "//tmp/ord" -> ord))
    val pf = pushedFilters(df)
    assert(pf.contains("EqualNullSafe(l_orderkey,5)"), pf)
    assert(pf.contains("Not(EqualNullSafe(o_custkey,2))"), pf)
  }

  test("UsesKeyToPruneSplits (ql_query_ut.cpp:1184): pivot-key tablets prune key-range scans") {
    import graft.operators.DynTable
    val dir = Files.createTempDirectory("reshard").toFile.getAbsolutePath
    val pivots = Seq(30L, 60L)
    // tablet assignment is a monotone step function of the key, so the
    // ComputedColumns monotone inferrer derives the tablet interval for
    // any bounded key range — the coordinator's split pruning
    val spec = ComputedColumns.Spec("k", "tablet_index",
      (c: org.apache.spark.sql.Column) => DynTable.tabletOf(c, pivots).cast("long"),
      monotone = true)
    val data = (0L until 90L).map(i => (i, s"v$i")).toDF("k", "v")
    DynTable.reshard(data, "k", pivots)
      .withColumn("tablet_index", col("tablet_index").cast("long"))
      .write.partitionBy("tablet_index").mode("overwrite").parquet(dir)
    ComputedColumns.register(spec)
    ComputedColumns.install(spark)
    try {
      // range [35, 55] lies inside tablet 1 only
      val q = spark.read.parquet(dir).where(col("k").between(35L, 55L))
      assert(q.count() == 21)
      assert(partitionFilterOn(q, "tablet_index"),
        "key range must derive a tablet partition filter")
      assert(q.select(col("tablet_index")).distinct().collect()
        .map(_.getAs[Number](0).longValue).toSeq == Seq(1L))
      // range [20, 70] spans all three tablets — still correct
      val q2 = spark.read.parquet(dir).where(col("k").between(20L, 70L))
      assert(q2.count() == 51)
      assert(q2.select(col("tablet_index")).distinct().count() == 3)
    } finally ComputedColumns.clear()
  }

  test("randomized soundness sweep: derived-predicate pruning never drops " +
      "rows under 60 seeded predicate shapes on hash and divide keys") {
    import org.apache.spark.sql.Column
    // SOUNDNESS is the property that matters: an over-derived image
    // silently loses rows; an under-derived one only scans more. Sweep
    // random =/IN/BETWEEN/</>= atoms and OR/AND combinations against a
    // brute-force evaluation of the same predicate.
    def sweep(dir: String, spec: ComputedColumns.Spec, cases: Int,
        seed: Long): Unit = {
      ComputedColumns.register(spec)
      ComputedColumns.install(spark)
      try {
        val rnd = new scala.util.Random(seed)
        def atom(): (Column, Long => Boolean) = rnd.nextInt(5) match {
          case 0 =>
            val v = rnd.nextInt(900).toLong; (col("k") === v, _ == v)
          case 1 =>
            val vs = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(900).toLong)
            (col("k").isin(vs: _*), vs.toSet)
          case 2 =>
            val lo = rnd.nextInt(850).toLong; val hi = lo + rnd.nextInt(120)
            (col("k").between(lo, hi), x => x >= lo && x <= hi)
          case 3 =>
            val v = rnd.nextInt(900).toLong; (col("k") < v, _ < v)
          case _ =>
            val v = rnd.nextInt(900).toLong; (col("k") >= v, _ >= v)
        }
        (0 until cases).foreach { i =>
          val (c1, p1) = atom()
          val (cond, pred): (Column, Long => Boolean) = rnd.nextInt(3) match {
            case 0 => (c1, p1)
            case 1 => val (c2, p2) = atom(); (c1 || c2, x => p1(x) || p2(x))
            case _ => val (c2, p2) = atom(); (c1 && c2, x => p1(x) && p2(x))
          }
          val got = spark.read.parquet(dir).where(cond)
            .select("k").as[Long].collect().sorted.toSeq
          val want = (0L until 800L).filter(pred)
          assert(got == want, s"case $i dropped/added rows for: $cond")
        }
      } finally ComputedColumns.clear()
    }

    val hashDir = Files.createTempDirectory("ccfh").toFile.getAbsolutePath
    val hashSpec = ComputedColumns.Spec("k", "hk",
      (c: org.apache.spark.sql.Column) => pmod(c * 31L, lit(8L)))
    val data = (0L until 800L).map(i => (i, s"v$i")).toDF("k", "v")
    ComputedColumns.withComputed(data, hashSpec)
      .write.partitionBy("hk").mode("overwrite").parquet(hashDir)
    sweep(hashDir, hashSpec, cases = 40, seed = 4242L)

    val divDir = Files.createTempDirectory("ccfd").toFile.getAbsolutePath
    val divSpec = ComputedColumns.Spec("k", "dk",
      (c: org.apache.spark.sql.Column) => (c / lit(100L)).cast("long"))
    ComputedColumns.withComputed(data, divSpec)
      .write.partitionBy("dk").mode("overwrite").parquet(divDir)
    sweep(divDir, divSpec, cases = 20, seed = 777L)
  }

  test("first/any_value of a group key folds to the key (hash agg restored)") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val df = Seq((1L, "a", 10.0), (1L, "a", 20.0), (2L, null: String, 5.0),
      (2L, null: String, 7.0), (3L, "c", 1.0))
      .toDF("id", "k", "v")
    // string witness of the key next to a numeric aggregate: without
    // the fold this plans as SortAggregate (string agg buffer)
    val q = df.groupBy(col("k"))
      .agg(any_value(col("k")).as("w"), first(col("k")).as("w2"),
        sum(col("v")).as("s"))
    val rows = q.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getDouble(3))).toSet
    assert(rows == Set(("a", "a", "a", 30.0), (null, null, null, 12.0),
      ("c", "c", "c", 1.0)))
    val all = PlanTest.allNodes(q.queryExecution.executedPlan)
    val hash = all.count(_.isInstanceOf[HashAggregateExec])
    val sort = all.count(_.isInstanceOf[SortAggregateExec])
    assert(hash > 0 && sort == 0,
      s"expected hash aggregation after the fold, got hash=$hash sort=$sort")

    // a FILTERed witness must NOT fold: an all-filtered group is null
    val f = df.groupBy(col("k"))
      .agg(expr("first(k) FILTER (WHERE v > 100)").as("w"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(f == Set(("a", null), (null, null), ("c", null)))

    // expression keys fold too (semantic equality, not attribute match)
    val e = df.groupBy((col("id") % 2).as("m"))
      .agg(any_value(col("id") % 2).as("w"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 1L), (0L, 0L)))
  }

  test("first/any_value of a -0.0 or NaN float/double group key returns the normalized key") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    // grouping normalizes -0.0 to 0.0 and every NaN to one NaN, so the
    // fold's key reference must read the normalized key, never the raw
    // value a witness of the first row would carry
    val oddNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val df = Seq((-0.0, 1L), (0.0, 2L), (Double.NaN, 3L), (oddNaN, 4L), (-0.0, 5L))
      .toDF("d", "v").withColumn("f", col("d").cast("float"))
    def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
    def fbits(x: Float): Int = java.lang.Float.floatToRawIntBits(x)
    val dq = df.groupBy(col("d"))
      .agg(first(col("d")).as("w"), any_value(col("d")).as("w2"), sum(col("v")).as("s"))
    val drows = dq.collect()
    assert(drows.map(r => (bits(r.getDouble(0)), r.getLong(3))).toSet ==
      Set((bits(0.0), 8L), (bits(Double.NaN), 7L)))
    drows.foreach { r =>
      assert(bits(r.getDouble(1)) == bits(r.getDouble(0)) &&
        bits(r.getDouble(2)) == bits(r.getDouble(0)), r.toString)
    }
    assert(PlanTest.finalNodes(dq).exists(_.isInstanceOf[HashAggregateExec]))
    val frows = df.groupBy(col("f"))
      .agg(first(col("f")).as("w"), last(col("f")).as("w2"), count(lit(1)).as("n"))
      .collect()
    assert(frows.map(r => (fbits(r.getFloat(0)), r.getLong(3))).toSet ==
      Set((fbits(0.0f), 3L), (fbits(Float.NaN), 2L)))
    frows.foreach { r =>
      assert(fbits(r.getFloat(1)) == fbits(r.getFloat(0)) &&
        fbits(r.getFloat(2)) == fbits(r.getFloat(0)), r.toString)
    }
  }
}
