package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Dedup, Mixture, Packing, TextAnalysis}
import graft.sources.Tables

/** Engine-side PROPERTY checks for the operators whose DuckDB oracles
  * are infeasible at sf100 (quadratic self-joins / recursive CTEs):
  * instead of replaying the algorithm, each check verifies that the
  * OUTPUT satisfies the invariants that uniquely pin it — so the
  * value-compare table closes with 0 skips at every decade.
  *
  * Cross-validation contract: at sf0.01 these checks run alongside
  * the (feasible) DuckDB oracles and both must pass — the invariants
  * are proven equivalent to the replay where the replay exists, then
  * carried to the decades where it doesn't.
  *
  * `runMain graft.tools.PropertyCheck <sfDir> [checks]` where checks ⊆
  * cc,split,pack,pretrain,minhash,simhash,semantic (default all).
  * Prints one line per assertion; exits nonzero on any failure.
  */
object PropertyCheck {

  private var failures = 0
  private def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) failures += 1
    println(s"[prop] $name: ${if (ok) "OK" else "FAIL"}" +
      (if (detail.nonEmpty) s" ($detail)" else ""))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val which = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("cc", "split", "pack", "pretrain", "minhash",
        "simhash", "semantic"))
    val spark = graft.GraftSession.get()
    graft.GraftSession.tuneShuffleFor(spark, sfDir)
    if (which("cc")) ccCheck(spark, sfDir)
    if (which("split")) splitCheck(spark, sfDir)
    if (which("pack")) packCheck(spark, sfDir)
    if (which("pretrain")) pretrainCheck(spark, sfDir)
    if (which("minhash")) minhashCheck(spark, sfDir)
    if (which("simhash")) simhashCheck(spark, sfDir)
    if (which("semantic")) semanticCheck(spark, sfDir)
    println(s"[prop] $failures failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** The same synthetic component fixture the llm_dedup_clusters /
    * llm_split_leakage_safe queries build. */
  private def fixtureEdges(spark: SparkSession, d: String): DataFrame = {
    val ids = Tables.load(spark, d, "documents").select(col("doc_id"))
    val stars = ids.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("a"), (col("doc_id") - col("doc_id") % 7).as("b"))
    val links = ids.filter(col("doc_id") % 21 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 7).as("b"))
    stars.union(links)
  }

  /** Connected components is a valid fixpoint AND permutation-stable:
    *  (a) no edge crosses components (no under-merge),
    *  (b) every node has exactly one label and each label equals the
    *      min member id of its group (canonical form),
    *  (c) re-running CC over a seeded id-bijection of the edge list
    *      and unmapping yields the IDENTICAL partition — an over-merge
    *      or order-dependence bug diverges under remapping. */
  private def ccCheck(spark: SparkSession, d: String): Unit = {
    val edges = fixtureEdges(spark, d).cache()
    val labels = Dedup.connectedComponents(edges, "a", "b").cache()

    val crossing = edges
      .join(labels.withColumnRenamed("node", "a")
        .withColumnRenamed("component", "ca"), "a")
      .join(labels.withColumnRenamed("node", "b")
        .withColumnRenamed("component", "cb"), "b")
      .filter(col("ca") =!= col("cb")).count()
    check("cc.edge_consistency", crossing == 0, s"crossing=$crossing")

    val dupNodes = labels.groupBy("node").count().filter(col("count") > 1).count()
    check("cc.one_label_per_node", dupNodes == 0, s"dups=$dupNodes")
    val badMin = labels.groupBy("component")
      .agg(min(col("node")).as("mn"))
      .filter(col("mn") =!= col("component")).count()
    check("cc.label_is_group_min", badMin == 0, s"bad=$badMin")

    // (c) seeded bijection on Long: XOR with a top-bit-set constant —
    // self-inverse, overflow-free under ANSI, inverts the global id
    // order (sign flip) and re-buckets every hash partition, so an
    // order- or partitioning-dependent CC bug diverges
    val mask = 0xA5A5A5A5A5A5A5A5L
    val remapped = edges.select(
      col("a").bitwiseXOR(mask).as("a"), col("b").bitwiseXOR(mask).as("b"))
    val labels2 = Dedup.connectedComponents(remapped, "a", "b")
      .select(col("node").bitwiseXOR(mask).as("node"),
        col("component").as("c2"))
    // normalize the remapped partition to min-of-unmapped-members and
    // compare the (node → label) maps exactly
    val norm2 = labels2
      .withColumn("label2", min(col("node")).over(
        Window.partitionBy(col("c2"))))
      .select(col("node"), col("label2"))
    val diff = labels.join(norm2, "node")
      .filter(col("component") =!= col("label2")).count()
    val sizeDiff = math.abs(labels.count() - norm2.count())
    check("cc.permutation_stable", diff == 0 && sizeDiff == 0,
      s"diff=$diff sizeDiff=$sizeDiff")
  }

  /** Leakage-safe split: assignment is constant per component (no
    * cluster straddles train/validation) and the split key IS the
    * component label. */
  private def splitCheck(spark: SparkSession, d: String): Unit = {
    val ids = Tables.load(spark, d, "documents").select(col("doc_id"))
    val edges = fixtureEdges(spark, d)
    val split = Mixture.leakageSafeSplit(ids, "doc_id", edges,
      "a", "b", valFraction = 0.2).cache()
    val straddling = split.groupBy("split_key")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    check("split.no_cluster_straddles", straddling == 0, s"bad=$straddling")
    val labels = Dedup.connectedComponents(edges, "a", "b")
    val mismatched = split.join(labels,
        split("doc_id") === labels("node"), "left")
      .filter(col("node").isNotNull && col("split_key") =!= col("component"))
      .count()
    check("split.key_is_component", mismatched == 0, s"bad=$mismatched")
    val n = split.count()
    val nVal = split.filter(col("split") === "validation").count()
    val frac = nVal.toDouble / math.max(1L, n)
    check("split.val_fraction_sane", frac > 0.05 && frac < 0.5,
      f"frac=$frac%.3f")
  }

  /** Next-fit packing invariants — together they pin the output
    * uniquely (no recursion needed):
    *  (a) every input row lands in exactly one (pack, pos),
    *  (b) no pack exceeds the budget unless it is a single oversized
    *      document,
    *  (c) pack ids are monotone in the order column and pack_pos is
    *      dense within each pack,
    *  (d) a new pack opens ONLY when the previous pack could not hold
    *      the opening document (greedy tightness). */
  private def packInvariants(tag: String, packed: DataFrame,
      inputCount: Long, budget: Long): Unit = {
    check(s"$tag.all_docs_once", packed.count() == inputCount &&
      packed.select("bucket", "pack_id", "pack_pos").distinct().count()
        == inputCount,
      s"n=${packed.count()} vs $inputCount")
    val over = packed.groupBy("bucket", "pack_id")
      .agg(sum(col("tokens")).as("tk"), count(lit(1)).as("nd"))
      .filter(col("tk") > budget && col("nd") > 1).count()
    check(s"$tag.no_pack_over_budget", over == 0, s"over=$over")
    val w = Window.partitionBy(col("bucket")).orderBy(col("ord"))
    val seq = packed
      .withColumn("prev_pack", lag(col("pack_id"), 1).over(w))
      .withColumn("prev_pos", lag(col("pack_pos"), 1).over(w))
    val nonMonotone = seq.filter(col("prev_pack").isNotNull &&
      (col("pack_id") < col("prev_pack") ||
        col("pack_id") > col("prev_pack") + 1)).count()
    check(s"$tag.packs_monotone", nonMonotone == 0, s"bad=$nonMonotone")
    val badPos = seq.filter(
      (col("prev_pack").isNull && (col("pack_id") =!= 0 || col("pack_pos") =!= 0)) ||
      (col("pack_id") === col("prev_pack") && col("pack_pos") =!= col("prev_pos") + 1) ||
      (col("prev_pack").isNotNull && col("pack_id") === col("prev_pack") + 1 &&
        col("pack_pos") =!= 0)).count()
    check(s"$tag.pos_dense", badPos == 0, s"bad=$badPos")
    // greedy tightness: sum(previous pack) + opener's tokens > budget
    val packSums = packed.groupBy("bucket", "pack_id")
      .agg(sum(col("tokens")).as("tk"))
    val openers = packed.filter(col("pack_pos") === 0 && col("pack_id") > 0)
      .select(col("bucket"), col("pack_id"), col("tokens").as("opener_tk"))
    val loose = openers.join(packSums
        .withColumn("pack_id", col("pack_id") + 1), Seq("bucket", "pack_id"))
      .filter(col("tk") + col("opener_tk") <= budget).count()
    check(s"$tag.greedy_tight", loose == 0, s"loose=$loose")
  }

  private def packCheck(spark: SparkSession, d: String): Unit = {
    val docs = Tables.load(spark, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("tokens"))
      .withColumn("bucket", pmod(col("doc_id"), lit(8)))
      .withColumn("ord", col("doc_id"))
    val n = docs.count()
    val packed = Packing.packSequences(docs, "bucket", "ord", "tokens",
      budget = 512).cache()
    packInvariants("pack", packed, n, 512)
  }

  /** The pretrain pipeline's packing stage over its real input
    * (quality gate + weighted mixture), plus mixture sanity: epochs
    * per source follow the configured weights. */
  private def pretrainCheck(spark: SparkSession, d: String): Unit = {
    val gated = Tables.load(spark, d, "documents")
      .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("tokens"))
    val mixed = Mixture.weightedMixture(gated, "source", Seq("doc_id"),
      Map("src0" -> 2.0, "src1" -> 0.5)).cache()
    val epochsBad = mixed.groupBy("source")
      .agg(max(col("epoch")).as("mx")).collect().exists { r =>
        val mx = r.getLong(1)
        r.getString(0) match {
          case "src0" => mx != 1 // weight 2.0 → exactly epochs {0, 1}
          case "src1" => mx != 0 // 0.5 → a sampled subset of epoch 0
          case _ => mx != 0
        }
      }
    check("pretrain.mixture_epochs", !epochsBad)
    val keyed = mixed
      .withColumn("bucket", pmod(col("doc_id") * 7 + col("epoch"), lit(8)))
      .withColumn("ord", col("doc_id") * 4 + col("epoch"))
    val n = keyed.count()
    val packed = Packing.packSequences(keyed, "bucket", "ord", "tokens",
      budget = 512).cache()
    packInvariants("pretrain", packed, n, 512)
  }

  /** Deterministic doc sample: a CONTIGUOUS id window (~target docs),
    * so the corpus's LOCAL near-dup structure survives into the
    * sample — a modular sample scatters ids and at the decades yields
    * zero truth pairs, making the recall/precision audit vacuous
    * (sf10 showed "0 of 0"). Ids are dense per ScaleUp copy, so a
    * window keeps real pairs. Returns (sample, lo, hi). */
  private def sampleDocs(spark: SparkSession, d: String,
      target: Long): (DataFrame, Long, Long) = {
    val docs = Tables.load(spark, d, "documents")
    val (mn, mx, n) = {
      val r = docs.agg(min(col("doc_id")), max(col("doc_id")),
        count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val density = math.max(1.0, (mx - mn + 1).toDouble / math.max(1L, n))
    val lo = mn + ((mx - mn) / 3)
    val hi = math.min(mx, lo + math.ceil(target * density).toLong)
    (docs.filter(col("doc_id").between(lo, hi)).cache(), lo, hi)
  }

  /** MinHash output ≡ exact n-gram Jaccard pairs, audited on a
    * deterministic ~2k-doc sample: within the sample the full exact
    * pair list is cheap, and the banded output restricted to sampled
    * pairs must match it pair-for-pair AND value-for-value. */
  private def minhashCheck(spark: SparkSession, d: String): Unit = {
    val (sample, lo, hi) = sampleDocs(spark, d, 2000)
    val docs = Tables.load(spark, d, "documents")
    val found = Dedup.minhashLsh(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.8)
      .filter(col("id_a").between(lo, hi) && col("id_b").between(lo, hi))
      .select(col("id_a"), col("id_b"), col("jaccard")).cache()
    val exact = Dedup.ngramJaccardPairs(sample, "text", "doc_id",
        shingleSize = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard").as("jx")).cache()
    val nTruth = exact.count()
    val missed = exact.join(found, Seq("id_a", "id_b"), "left_anti").count()
    val spurious = found.join(exact, Seq("id_a", "id_b"), "left_anti").count()
    val valueOff = found.join(exact, Seq("id_a", "id_b"))
      .filter(abs(col("jaccard") - col("jx")) > 1e-9).count()
    check("minhash.sample_nonvacuous", nTruth > 0,
      s"truth pairs in window [$lo,$hi]: $nTruth")
    check("minhash.sample_recall", missed == 0, s"missed=$missed of $nTruth")
    check("minhash.sample_precision", spurious == 0, s"spurious=$spurious")
    check("minhash.sample_values", valueOff == 0, s"off=$valueOff")
  }

  /** SimHash hamming-ball pairs vs exact truth on the sample: the
    * shipped query's own verdict contract (precision exact, recall ≥
    * 0.5) restricted to sampled pairs. */
  private def simhashCheck(spark: SparkSession, d: String): Unit = {
    val (sample, lo, hi) = sampleDocs(spark, d, 2000)
    val docs = Tables.load(spark, d, "documents")
    val found = Dedup.simhashDup(docs, "text", "doc_id")
      .filter(col("id_a").between(lo, hi) && col("id_b").between(lo, hi))
      .select(col("id_a"), col("id_b")).cache()
    val truth = Dedup.ngramJaccardPairs(sample, "text", "doc_id",
        shingleSize = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b")).cache()
    val nTruth = truth.count()
    val falsePos = found.join(truth, Seq("id_a", "id_b"), "left_anti").count()
    val hits = found.join(truth, Seq("id_a", "id_b")).count()
    check("simhash.sample_nonvacuous", nTruth > 0,
      s"truth pairs in window [$lo,$hi]: $nTruth")
    check("simhash.sample_precision", falsePos == 0, s"false=$falsePos")
    check("simhash.sample_recall", hits * 2 >= nTruth,
      s"hits=$hits of $nTruth")
  }

  /** SemDeDup (shipped auto-cell path): per sampled CELL, a
    * driver-side brute-force replay of the drop rule — dropped iff a
    * lower-id same-cell doc is within tau — must reproduce the
    * engine's kept/dropped verdicts exactly. */
  private def semanticCheck(spark: SparkSession, d: String): Unit = {
    val emb = Tables.load(spark, d, "embeddings")
    val out = Dedup.semDedup(emb, "vec_id", "embedding",
      nCells = -1, tau = 0.35, salt = "sd1").cache()
    // sample ~50 cells deterministically
    val cells = out.select("cell").distinct()
    val nCells = cells.count()
    val cellMod = math.max(1L, nCells / 50)
    val picked = out.filter(pmod(col("cell"), lit(cellMod)) === 0)
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("cell"), col("vec_id"), col("kept"),
        col("embedding").cast("array<double>").as("v"))
      .collect()
    val byCell = picked.groupBy(_.getAs[Number]("cell").longValue)
    var bad = 0L
    var checked = 0L
    byCell.foreach { case (_, rows) =>
      val docs = rows.map(r => (r.getLong(1), r.getBoolean(2),
        r.getSeq[Double](3).toArray)).sortBy(_._1)
      def cos(x: Array[Double], y: Array[Double]): Double = {
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < x.length) {
          dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
        }
        if (nx == 0 || ny == 0) 0.0 else dot / math.sqrt(nx * ny)
      }
      docs.foreach { case (id, kept, v) =>
        val shouldDrop = docs.exists { case (id2, _, v2) =>
          id2 < id && cos(v2, v) >= 0.35
        }
        checked += 1
        if (kept == shouldDrop) bad += 1
      }
    }
    check("semantic.cell_replay", bad == 0,
      s"bad=$bad of $checked (cells sampled: ${byCell.size})")
  }
}
