package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Mixture, Multimodal, Packing, Similarity, TextAnalysis}
import graft.sources.Tables

/** Semantics of the signature-based LLM-pipeline operators that the
  * DuckDB oracle can't recompute: MinHash-LSH recall vs exact Jaccard,
  * SimHash containment, ANN recall vs brute force, language-ID on real
  * multilingual fixtures, fingerprint stability.
  */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("minhash LSH finds exactly the exact-jaccard near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, "text", "doc_id", 3, 128, 32, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH post-verifies with exact jaccard, so no false positives; at
    // j>=0.8 with 32 bands of 4 rows the miss probability per true
    // pair is (1-0.8^4)^32 ~ 5e-8 — recall structural at any size
    // (the sf10 soak caught 16x8 dropping a borderline pair).
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
    assert(exact.nonEmpty, "corpus should contain injected near-dups")
  }

  test("simhash recalls most true near-dups with high precision") {
    val truePairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashDup(docs, "text", "doc_id", maxDist = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truePairs.nonEmpty)
    // short docs (~100 shingles) put true-dup distances in 1..10 while
    // random pairs sit at ~32 (p5=25): dist<=5 recalls most, no noise.
    val recall = (truePairs & sim).size.toDouble / truePairs.size
    assert(recall >= 0.5, s"recall=$recall")
    val loose = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sim.subsetOf(loose), s"false positives: ${sim -- loose}")
  }

  test("embedding block-grid pairs equal the all-pairs ground truth") {
    val truth = {
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cos", Similarity.cosine(col("vec_a"), col("vec_b")))
        .filter(col("cos") >= 0.35)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val grid = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 0.35, blocks = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(grid == truth, s"missing=${truth -- grid} extra=${grid -- truth}")
    assert(truth.nonEmpty)
  }

  test("embedding LSH dedup: recall 1.0 on clustered near-dups, exact-verified precision") {
    // Clustered fixture: 40 centers, 4 near-copies each (tiny noise →
    // within-cluster cos ≥ ~0.99); cross-cluster pairs are random-dim-64
    // (cos ≈ 0 ± 0.125). This is the regime the LSH path is for.
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 40
      center = Array.fill(64)(rnd.nextGaussian())
      i <- 0 until 4
    } yield (c.toLong * 10 + i,
      center.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding",
      dim = 64, threshold = 0.85)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 200, s"fixture should be dense in near-dups: ${exact.size}")
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall == 1.0, s"recall=$recall missing=${exact -- lsh}")
  }

  test("embedding LSH auto sizing holds the design-point miss prob as chunks widen") {
    // (chunks, chunkBits) per corpus decade — the chunk COUNT grows with
    // chunk width so miss = (1-(1-p)^cb)^m stays ≤1% at cos 0.9
    val p = math.acos(0.9) / math.Pi
    for (n <- Seq(1000L, 100000L, 10000000L, 10000000000L)) {
      val (m, cb) = Dedup.lshAutoParams(n, 0.9)
      val miss = math.pow(1 - math.pow(1 - p, cb), m)
      assert(miss <= 0.011, s"n=$n → ($m, $cb): miss=$miss")
    }
    // ~32-row buckets: 1k rows → 5-bit chunks, 8 of them
    assert(Dedup.lshAutoParams(1000L, 0.9) == ((8, 5)))
    // at 2M rows buckets stay ~32 (cb=16) and the chunk count grows to
    // hold the miss bound — far above the fixed 6 that silently lost
    // ~24% of true near-dups
    val (m16, cb16) = Dedup.lshAutoParams(2000000L, 0.9)
    assert(cb16 == 16 && m16 >= 40, s"($m16, $cb16)")
    // sub-regime thresholds size at the 0.9 design point (no blow-up)
    assert(Dedup.lshAutoParams(1000L, 0.35) == Dedup.lshAutoParams(1000L, 0.9))
    // higher thresholds need no more chunks than 0.9
    assert(Dedup.lshAutoParams(2000000L, 0.97)._1 <= m16)
  }

  test("embedding LSH scratch budget caps the chunk count and reports " +
      "the achieved miss probability") {
    val n = 8000000L // sf100-scale corpus
    val (m0, cb0) = Dedup.lshAutoParams(n, 0.9)
    // roomy budget: design point untouched
    val (mBig, cbBig, missBig) =
      Dedup.lshParamsForBudget(n, 0.9, 0.01, Long.MaxValue)
    assert((mBig, cbBig, missBig) == ((m0, cb0, 0.01)))
    // tight budget (10 GiB at 320 B/row peak · 8M rows → 4 chunks):
    // m shrinks to fit, cb unchanged, achieved miss honestly > target
    val tight = 10L << 30
    val (mFit, cbFit, missFit) = Dedup.lshParamsForBudget(n, 0.9, 0.01, tight)
    assert(mFit.toLong * n * Dedup.lshBandedRowBytes <= tight,
      s"m=$mFit does not fit the budget")
    assert(cbFit == cb0 && mFit < m0 && missFit > 0.01,
      s"($mFit, $cbFit, $missFit) vs design ($m0, $cb0)")
    // achieved miss = (1-(1-p)^cb)^m exactly
    val p = math.acos(0.9) / math.Pi
    val expect = math.pow(1 - math.pow(1 - p, cbFit), mFit)
    assert(math.abs(missFit - expect) < 1e-12)
    // floor: never below 2 chunks even under an absurd budget
    assert(Dedup.lshParamsForBudget(n, 0.9, 0.01, 1L)._1 == 2)
  }

  test("embedding LSH auto mode delegates sub-regime thresholds to the exact grid") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(16)((rnd.nextGaussian()).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    // below cos 0.7 no banding scheme prunes while keeping recall —
    // auto mode runs the exact block-grid: identical pair set
    val lsh = Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding",
      dim = 16, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && lsh == exact)
    // explicit bits/chunkBits keep the LSH path even sub-regime (the
    // caller asked for that configuration) — output ⊆ exact
    val pinned = Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding",
      dim = 16, threshold = 0.3, bits = 24, chunkBits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pinned.subsetOf(exact))
  }

  test("embedding LSH: half-specified bits/chunkBits is an error; rows hint skips the count job") {
    val df = Seq((1L, Seq.fill(64)(0.1f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding", 64, 0.9, bits = 24)
    }
    intercept[IllegalArgumentException] {
      Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding", 64, 0.9, chunkBits = 4)
    }
    // with a rows hint, building the plan runs ZERO Spark jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.embeddingCosinePairsLsh(df, "vec_id", "embedding", 64, 0.9,
        rows = 1000000L)
      Thread.sleep(300) // let any (unexpected) job-start events surface
      assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("lsh ANN beats its scan fraction on near-orthogonal data") {
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, queries, 5, dim = 64, bits = 8,
      probeRadius = 3)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    // synthetic embeddings are near-orthogonal (max cos 0.51), the
    // hardest case for LSH: radius-3 probing scans ~37% of the corpus
    // for ~50% expected recall. Clustered real embeddings do far better.
    assert(recall >= 0.3, s"recall=$recall")
    // the multi-table lever: 8 independent tables probing ~5% of
    // buckets each dominate one table probing 37% — union-of-candidates
    // recall with far better per-table selectivity
    val multi = Similarity.lshTopK(emb, queries, 5, dim = 64, bits = 10,
      probeRadius = 2, tables = 8)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val multiRecall = (bf & multi).size.toDouble / bf.size
    assert(multiRecall >= 0.7, s"multi-table recall=$multiRecall")
    assert(multiRecall > recall, "8 tables must beat 1 table")
    // a null embedding has no signatures: the row drops out of the
    // index and out of the probes, so it is nobody's neighbour
    val vecs = emb.select("vec_id", "embedding")
    val nullRow = vecs.filter(col("vec_id") === 0).select(lit(-1L).as("vec_id"),
      lit(null).cast(vecs.schema("embedding").dataType).as("embedding"))
    val withNull = Similarity.lshTopK(vecs.union(nullRow),
      queries.select("vec_id", "embedding").union(nullRow), 5,
      dim = 64, bits = 8, probeRadius = 3)
      .select("query_id", "item_id").as[(Long, Long)].collect()
    assert(withNull.nonEmpty && !withNull.exists { case (q, i) => q == -1L || i == -1L })
  }

  test("ivf ANN: probing nprobe of nlist cells recovers most true neighbors") {
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 6)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    // near-orthogonal synthetic vectors: 6/16 cells ≈ 37% scan; recall
    // tracks the scan fraction on this worst case.
    assert(recall >= 0.25, s"recall=$recall")
    assert(ivf.size == bf.size)
    // Lloyd-trained centroids never lose to the raw sample seed and
    // the search path is untouched (same row shape, same k per query)
    val km = Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 6,
      kmeansIters = 3)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val kmRecall = (km & bf).size.toDouble / bf.size
    assert(km.size == bf.size)
    assert(kmRecall >= recall - 0.1, s"kmeans recall=$kmRecall vs sample=$recall")
  }

  test("brute-force top-k ranks by true cosine") {
    val queries = emb.filter(col("vec_id") === 0)
    val got = Similarity.bruteForceTopK(emb, queries, 3)
      .orderBy("rank").select("item_id", "cos")
      .as[(Long, Double)].collect()
    assert(got.length == 3)
    assert(got.map(_._2).toSeq == got.map(_._2).sorted.reverse.toSeq)
  }

  test("langId identifies real multilingual text") {
    val fixtures = Seq(
      ("the cat sat on the mat and it was happy that the sun is out", "en"),
      ("der hund ist nicht in das haus und die katze ist auf der straße", "de"),
      ("le chat est dans la maison et les oiseaux sont pour la plupart", "fr"),
      ("el perro es una mascota y los gatos son animales que viven en las casas", "es"),
      ("这是一个中文句子用来测试语言识别", "zh"),
      ("xyzzy plugh qwerty", "und")).toDF("text", "expected")
    val got = fixtures.withColumn("pred", TextAnalysis.langId(col("text")))
      .filter(col("pred") =!= col("expected")).count()
    assert(got == 0)
  }

  test("fingerprint is stable and discriminates") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("portableFingerprint matches its declarative HOF definition") {
    // the single-pass expression must be value-identical to the
    // documented split/md5/sort composition on real corpus text
    val df = docs.limit(50).select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (-1L, "one two three"),          // fewer words than the shingle
        (-2L, "  leading   and  runs "), // whitespace runs / edges
        (-3L, "a b c d a b c d a b c d") // duplicate grams
      ).toDF("doc_id", "text"))
    val ws = filter(split(col("text"), "\\s+"), w => w =!= "")
    val grams = when(size(ws) >= 4,
      transform(sequence(lit(1), size(ws) - 3), i =>
        md5(concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
          element_at(ws, i + 2), element_at(ws, i + 3)))))
      .otherwise(array().cast("array<string>"))
    val declarative = concat_ws("", slice(array_sort(array_distinct(grams)), 1, 8))
    val diff = df.select(
        TextAnalysis.portableFingerprint(col("text")).as("fast"),
        declarative.as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0)
  }

  test("sequence packing: exact cover, budget respected, partition-invariant") {
    val budget = 256L
    val in = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("tokens"))
      .withColumn("bucket", pmod(col("doc_id"), lit(4)))
    val packed = Packing.packSequences(in, "bucket", "doc_id", "tokens", budget)
      .select("doc_id", "tokens", "bucket", "pack_id", "pack_pos")
      .as[(Long, Long, Long, Long, Long)].collect()
    val nDocs = docs.count()
    // every doc packed exactly once
    assert(packed.length == nDocs)
    assert(packed.map(_._1).distinct.length == nDocs)
    val byPack = packed.groupBy(p => (p._3, p._4))
    byPack.foreach { case ((bucket, pack), ds) =>
      // multi-doc packs stay inside the budget; only a single oversize
      // doc may exceed it
      val total = ds.map(_._2).sum
      assert(ds.length == 1 || total <= budget,
        s"pack ($bucket,$pack) holds ${ds.length} docs / $total tokens")
      // positions are contiguous 0..n-1
      assert(ds.map(_._5).sorted.toSeq == (0L until ds.length).toSeq)
    }
    // greedy maximality: consecutive packs cannot be merged — the first
    // doc of pack k+1 did not fit into pack k
    val firstOf = packed.filter(_._5 == 0L).map(p => (p._3, p._4) -> p._2).toMap
    byPack.foreach { case ((bucket, pack), ds) =>
      firstOf.get((bucket, pack + 1)).foreach { nextTokens =>
        assert(ds.map(_._2).sum + nextTokens > budget)
      }
    }
    // result is independent of the input's physical partitioning
    val reshuffled = Packing.packSequences(in.repartition(17), "bucket",
        "doc_id", "tokens", budget)
      .select("doc_id", "tokens", "bucket", "pack_id", "pack_pos")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(reshuffled.toSet == packed.toSet)
  }

  test("segment dedup drops exactly the over-duplicated spans") {
    // three docs share one 4-word segment; a fourth is unique
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "a b c d q r s t"),
      (4L, "u v w x")).toDF("doc_id", "text")
    val got = Dedup.dedupSegments(df, "doc_id", "text",
        segWords = 4, maxOccurrences = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // "a b c d" occurs 3 times (> 2) → dropped from docs 1-3; their
    // second segments survive
    assert(got(1L) == ((2L, 1L, 4L)))
    assert(got(2L) == ((2L, 1L, 4L)))
    assert(got(3L) == ((2L, 1L, 4L)))
    assert(got(4L) == ((1L, 0L, 4L)))
    // short tail segments carry their true token count
    val tail = Dedup.dedupSegments(
      Seq((9L, "a b c d e f")).toDF("doc_id", "text"), "doc_id", "text",
      segWords = 4, maxOccurrences = 1)
      .as[(Long, Long, Long, Long)].collect().head
    assert(tail == ((9L, 2L, 0L, 6L))) // segments "a b c d" + "e f"
  }

  test("leakage-safe split never puts a dup cluster on both sides") {
    // components: {1,2,3}, {10,11}, singletons 20 and 21
    val docsDf = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Mixture.leakageSafeSplit(docsDf, "doc_id", pairs, "a", "b", 0.5)
      .select("doc_id", "split_key", "split")
      .as[(Long, Long, String)].collect()
    assert(got.length == 7)
    assert(got.map(_._3).forall(s => s == "train" || s == "validation"))
    // the leakage invariant: one split per cluster
    got.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._3).distinct.length == 1, members.toSeq)
    }
    // cluster members share the representative; singletons are their own
    val byDoc = got.map(g => g._1 -> g._2).toMap
    assert(byDoc(1L) == 1L && byDoc(2L) == 1L && byDoc(3L) == 1L)
    assert(byDoc(10L) == 10L && byDoc(11L) == 10L)
    assert(byDoc(20L) == 20L && byDoc(21L) == 21L)
    // deterministic under repartition
    val again = Mixture.leakageSafeSplit(docsDf.repartition(5), "doc_id",
      pairs.repartition(3), "a", "b", 0.5)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == got.map(g => g._1 -> g._3).toMap)
  }

  test("weighted mixture: full epochs exact, fractional epoch ~ rate, no RNG") {
    val in = docs.select(col("doc_id"), col("source"))
    val out = Mixture.weightedMixture(in, "source", Seq("doc_id"),
      Map("src0" -> 3.0, "src1" -> 0.5, "src2" -> 0.0))
    val bySource = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val n = in.filter(col("source") === "src0").count()
    // integer weight: exactly w copies of every row
    assert(bySource("src0") == 3 * n)
    // zero weight: source dropped entirely
    assert(!bySource.contains("src2"))
    // untouched sources: exactly once
    assert(bySource("src3") == n)
    // fractional weight: binomial around 0.5·n (loose 4σ bound)
    val s1 = bySource.getOrElse("src1", 0L).toDouble
    assert(math.abs(s1 - 0.5 * n) <= 4 * math.sqrt(n * 0.25) + 1)
    // hash-deterministic: same rows whatever the input partitioning
    val again = Mixture.weightedMixture(in.repartition(13), "source",
      Seq("doc_id"), Map("src0" -> 3.0, "src1" -> 0.5, "src2" -> 0.0))
      .select("doc_id", "source", "epoch")
      .as[(Long, String, Long)].collect().toSet
    val first = out.select("doc_id", "source", "epoch")
      .as[(Long, String, Long)].collect().toSet
    assert(again == first)
  }

  test("shard shuffle: shard is the key prefix, positions dense in key order") {
    val out = Mixture.shuffleShards(docs.select(col("doc_id")),
      Seq("doc_id"), salt = "s", nibbles = 1)
      .select("doc_id", "shard", "shuffle_key", "shard_pos")
      .as[(Long, String, String, Long)].collect()
    assert(out.length == docs.count())
    out.foreach { case (_, shard, key, _) => assert(key.startsWith(shard)) }
    out.groupBy(_._2).foreach { case (_, rows) =>
      // dense 0..n-1 positions, ordered by the md5 key
      assert(rows.map(_._4).sorted.toSeq == (0L until rows.length).toSeq)
      assert(rows.sortBy(_._4).map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
    }
    // a different salt produces a different order (shuffling actually
    // re-shuffles), but the same row set
    val other = Mixture.shuffleShards(docs.select(col("doc_id")),
      Seq("doc_id"), salt = "t", nibbles = 1)
      .select("doc_id", "shard_pos").as[(Long, Long)].collect().toMap
    val mine = out.map(r => r._1 -> r._4).toMap
    assert(other.keySet == mine.keySet)
    assert(other != mine)
  }

  test("token counts match a hand count") {
    val df = Seq("one two  three", "", "  ", "single").toDF("text")
    val got = df.select(TextAnalysis.tokenCount(col("text"))).as[Long].collect().toSeq
    assert(got == Seq(3L, 0L, 0L, 1L))
  }

  test("multimodal decode passes nulls through and derives byte_len") {
    val df = Seq((1L, "hello"), (2L, null)).toDF("id", "s")
      .withColumn("payload", when(col("s").isNotNull, encode(col("s"), "UTF-8")))
    val got = Multimodal.decodeMeta(df, "payload", "meta")
      .select(col("id"), col("meta.byte_len")).as[(Long, Option[Long])]
      .collect().toMap
    assert(got(1L).contains(5L))
    assert(got(2L).isEmpty)
  }

  test("codec decode: real PNGs resize to true containers; corrupt or " +
      "non-image payloads fall back without throwing") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // real PNG (5×3, gray 100), corrupt PNG magic, plain text bytes
    val pngBytes = {
      val img = new java.awt.image.BufferedImage(5, 3,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 3).foreach(y => (0 until 5).foreach(x =>
        img.setRGB(x, y, (100 << 16) | (100 << 8) | 100)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5, 6)
    val text = "just text".getBytes("UTF-8")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("payload", BinaryType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, pngBytes), Row(2L, corrupt), Row(3L, text)),
      schema)
    val rs = Multimodal.resize(df, "payload", 4, 4)
    val probed = Multimodal.decodeMeta(rs, "resized", "m")
      .select(col("id"), col("m.width"), col("m.height"), col("m.codec"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getString(3))).toMap
    assert(probed(1L) == (Some(4), Some(4), "image/png"))
    // corrupt/non-image: stride fallback output probes as pseudo-meta
    assert(probed(2L)._3.startsWith("fake/"))
    assert(probed(3L)._3.startsWith("fake/"))
    // features from true pixels: solid gray 100 → 100/255 - 0.5 everywhere
    val f = Multimodal.extractFeatures(df.filter(col("id") === 1L), "payload", 9)
      .select(col("vec")).as[Seq[Float]].collect().head
    assert(f.length == 9 &&
      f.forall(v => math.abs(v - (100.0 / 255.0 - 0.5)) < 1e-6), f)
  }

  test("audio decode: real WAVs yield exact square-wave RMS features; " +
      "header and decoded durations agree; non-audio falls back") {
    val df = Seq((1L, 200, 250), (2L, 0, 100)).toDF("id", "amp", "dur_ms")
    val wav = Multimodal.synthesizeWav(df, "amp", "dur_ms")
    // decodeAudio round-trips the true WAVE container
    val payloads = wav.select(col("id"), col("payload"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val (samples, rate) = Multimodal.decodeAudio(payloads(1L)).get
    assert(rate == 8000.0f)
    assert(samples.length == 8000 * 250 / 1000)
    assert(samples.forall(s => math.abs(math.abs(s) - 200.0 / 256.0) < 1e-6))
    // decoded-frame duration == header-math duration (probeMeta)
    val headerMs = Multimodal.probeMeta(payloads(1L)).getAs[Long](3)
    val decodedMs = (samples.length.toLong * 1000 / rate.toLong)
    assert(headerMs == 250L && decodedMs == 250L)
    // per-block RMS features are exactly amp/256 in every block
    val feats = Multimodal.extractFeatures(wav, "payload", 8)
      .select(col("id"), col("vec")).as[(Long, Seq[Float])].collect().toMap
    assert(feats(1L).length == 8 &&
      feats(1L).forall(v => math.abs(v - 200.0 / 256.0) < 1e-6), feats(1L))
    assert(feats(2L).forall(_ == 0.0f)) // silence
    // non-audio payloads keep the rolling-hash fallback (unchanged)
    assert(Multimodal.decodeAudio("not audio at all".getBytes("UTF-8")).isEmpty)
    // corrupt RIFF container: None, not an exception
    val corrupt = "RIFFxxxxWAVEbroken".getBytes("UTF-8")
    assert(Multimodal.decodeAudio(corrupt).isEmpty)
  }

  test("video decode: MJPEG-in-AVI round-trips through the real JPEG codec; " +
      "header probe and decoded stats agree; non-video falls back") {
    val df = Seq((1L, 20, 16, 120, 3), (2L, 16, 16, 240, 5))
      .toDF("id", "w", "h", "g", "nf")
    val avi = Multimodal.synthesizeAviMjpeg(df, "w", "h", "g", "nf")
    val payloads = avi.select(col("id"), col("payload"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // real decode: frame count, header agreement, lossy-tolerant luma
    val (frames, mus, hdrFrames) = Multimodal.decodeVideo(payloads(1L)).get
    assert(frames.length == 3 && hdrFrames == 3 && mus == 100000L)
    assert(frames.forall(f => f.getWidth == 20 && f.getHeight == 16))
    frames.foreach { f =>
      val p = f.getRGB(3, 3)
      assert(math.abs(((p >> 16) & 0xff) - 120) <= 8, (p >> 16) & 0xff)
    }
    // container header probe (exact math, no codec)
    val m = Multimodal.probeMeta(payloads(2L))
    assert(m.getString(4) == "video/avi")
    assert(m.getInt(1) == 16 && m.getInt(2) == 16)
    assert(m.getAs[Long](3) == 500L) // 5 frames @ 10 fps
    // videoStats: decoded == header, duration from decoded frames
    val stats = Multimodal.videoStats(avi, "payload")
      .select(col("id"), col("frames_decoded"), col("frames_header"),
        col("video_ms"), col("mean_luma"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toMap
    assert(stats(1L)._1 == 3 && stats(1L)._2 == 3 && stats(1L)._3 == 300L)
    assert(math.abs(stats(1L)._4 - 120.0) <= 8.0, stats(1L)._4)
    assert(math.abs(stats(2L)._4 - 240.0) <= 8.0, stats(2L)._4)
    // non-video payloads: None, nulls in stats, no exception
    assert(Multimodal.decodeVideo("not a container".getBytes).isEmpty)
    assert(Multimodal.decodeVideo("RIFFxxxxAVI corrupt".getBytes).isEmpty)
  }

  test("frame sampling emits one row per frame slice") {
    val df = Seq((1L, "abcdefghij")).toDF("id", "s")
      .withColumn("payload", encode(col("s"), "UTF-8"))
    val frames = Multimodal.sampleFrames(df, "payload", 4)
    assert(frames.count() == 2) // 10 bytes / 4 → frames 0,1 (floor-1 clamp)
  }

  test("decontaminate flags exactly the docs sharing a benchmark n-gram") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),    // contains bench 5-gram
      (2L, "one two three four five six"),            // clean
      (3L, "x alpha beta gamma delta epsilon y"),     // shares the same 5-gram shifted
      (4L, "alpha beta gamma four five six")          // only a 3-gram overlap → clean
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1("alpha beta gamma delta epsilon")).toDF("text")
    val got = Dedup.decontaminate(docs, "doc_id", "text", bench, "text", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 3L -> 1L), got)
  }

  test("repetitionStats: duplicate segments and dominant bigram measured") {
    val text = "spam eggs. spam eggs. spam eggs. unique line"
    val r = Seq(Tuple1(text)).toDF("text")
      .select(TextAnalysis.repetitionStats(col("text")).as("r"))
      .select("r.dup_seg_frac", "r.dup_seg_char_frac", "r.top_bigram_char_frac")
      .as[(Double, Double, Double)].collect().head
    // 4 segments, 'spam eggs' appears 3× → 2 dups
    assert(r._1 == 0.5, r)
    assert(r._2 > 0.0 && r._2 < 1.0, r)
    // 'spam eggs' occurs 3 times among the bigrams — dominant share
    assert(r._3 > 0.3, r)

    val clean = Seq(Tuple1("all segments differ. every one. truly unique"))
      .toDF("text")
      .select(TextAnalysis.repetitionStats(col("text")).as("r"))
      .select("r.dup_seg_frac").as[Double].collect().head
    assert(clean == 0.0)
  }

  test("redactPii replaces emails, IPs and phone runs with typed tokens") {
    val text = "mail bob.smith+x@corp.example.org or 192.168.0.17 tel 555 123 4567 end"
    val got = Seq(Tuple1(text)).toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("red"),
        TextAnalysis.piiCounts(col("text")).as("c"))
      .select(col("red"), col("c.emails"), col("c.ips"))
      .as[(String, Long, Long)].collect().head
    assert(got._1 == "mail <EMAIL> or <IP> tel <PHONE> end", got)
    assert(got._2 == 1L && got._3 == 1L)
  }

  test("connectedComponents: chains, disjoint cliques and singleton-free edge lists") {
    // one long chain (multi-hop propagation), one triangle, one pair
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // chain 1..6
      (10L, 11L), (11L, 12L), (10L, 12L),                // triangle
      (20L, 21L)                                         // pair
    ).toDF("a", "b")
    val cc = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(cc(_) == 1L), cc)
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L), cc)
    assert(cc(20L) == 20L && cc(21L) == 20L, cc)
    // edge direction must not matter
    val rev = Dedup.connectedComponents(
      edges.select(col("b").as("a"), col("a").as("b")), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(rev == cc)
  }

  test("DSIR importance resampling: target-like docs outrank the rest, " +
      "deterministic under repartition") {
    // target = "spark" dialect docs; raw corpus mixes two dialects.
    // 40 spark-ish + 40 db-ish docs, 10 of each marked target-sample.
    val mk = (i: Long, words: Seq[String]) =>
      (i, Seq.tabulate(30)(j => words((i + j).toInt % words.length)).mkString(" "))
    val sparkish = Seq("spark", "shuffle", "executor", "partition", "stage")
    val dbish = Seq("index", "btree", "vacuum", "checkpoint", "wal")
    val docs = ((0L until 40L).map(mk(_, sparkish)) ++
      (100L until 140L).map(mk(_, dbish)))
      .toDF("doc_id", "text")
      // the target sample: a tenth of the spark-ish docs
      .withColumn("is_target", col("doc_id") < 4)
    val top = Mixture.importanceResample(docs, col("is_target"), k = 20)
      .as[(Long, Double, Long)].collect()
    assert(top.length == 20)
    // every selected doc is spark-dialect (ids < 100): the db dialect
    // scores below despite being 50% of the corpus
    assert(top.forall(_._1 < 100L), top.map(_._1).toSeq)
    // scores are descending and gram counts match the 30-word docs
    assert(top.map(_._2).toSeq == top.map(_._2).sortBy(-_).toSeq)
    assert(top.forall(_._3 == 59L)) // 30 unigrams + 29 bigrams
    // partitioning must not change the selection or the scores
    val re = Mixture.importanceResample(docs.repartition(7), col("is_target"),
      k = 20).as[(Long, Double, Long)].collect()
    assert(re.toSeq == top.toSeq)
  }

  test("unigramStats: threshold vocabulary, OOV counting, frequency sums") {
    val docs = Seq(
      (1L, "the cat sat"),        // the:3, cat:2, sat:1
      (2L, "the cat ran"),        // ran:1
      (3L, "the zyxzy")           // zyxzy:1 → OOV at minCount=2
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramStats(docs, minCount = 2L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // vocab = {the→3, cat→2}; sat/ran/zyxzy are OOV
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 5L),   // the+cat in vocab (3+2), sat OOV
      (2L, 3L, 1L, 5L),
      (3L, 2L, 1L, 3L)))  // the (3) + zyxzy OOV
    // rarity proxy: freq_sum / n_tokens is lowest for the garbled doc
    val rarity = got.map { case (id, n, _, fs) => id -> fs.toDouble / n }.toMap
    assert(rarity(3L) < rarity(1L))
  }

  test("pqTopK: ADC + refine recovers most exact neighbors; codes are partition-invariant") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val qs = emb.filter($"vec_id" < 10)
    val ann = Similarity.pqTopK(emb, qs, k = 5, dim = 64, m = 16, ksub = 32,
      refine = 8).select($"query_id", $"item_id")
    val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
      .select($"query_id", $"item_id")
    val hit = ann.join(exact, Seq("query_id", "item_id")).count()
    assert(hit >= 40, s"PQ recall $hit/50") // >= 0.8 overall on the fixture
    // training and encoding are deterministic: same books from a
    // repartitioned corpus
    val b1 = Similarity.trainPq(emb, dim = 64, m = 16, ksub = 32)
    val b2 = Similarity.trainPq(emb.repartition(7), dim = 64, m = 16, ksub = 32)
    assert(b1.cents.flatten.flatten.toSeq == b2.cents.flatten.flatten.toSeq)
    // the driver-side ADC-table collect is CAPPED: an oversized query
    // batch fails loudly instead of materializing unbounded state
    val err = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, emb.filter($"vec_id" < 10), k = 2, dim = 64,
        m = 16, ksub = 32, maxQueryBatch = 4)
    }
    assert(err.getMessage.contains("maxQueryBatch"))
  }

  test("learnBpe: merge sequence matches a single-node BPE reference, " +
      "deterministic under repartition; bpeTokenCount shrinks with merges") {
    // single-node reference: the Sennrich algorithm verbatim
    def localBpe(wordCounts: Map[String, Long], n: Int, minC: Long): Seq[(String, String)] = {
      var words = wordCounts.toSeq.map { case (w, c) => (w.map(_.toString): IndexedSeq[String], c) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var stop = false
      while (out.length < n && !stop) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (syms, c) =>
          syms.sliding(2).filter(_.length == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c }
        }
        val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
        best.filter(_._2 >= minC) match {
          case None => stop = true
          case Some(((l, r), _)) =>
            out += ((l, r))
            words = words.map { case (syms, c) =>
              val nw = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < syms.length) {
                if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                  nw += l + r; i += 2
                } else { nw += syms(i); i += 1 }
              }
              (nw.toIndexedSeq, c)
            }
        }
      }
      out.toSeq
    }
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text), (2L, "low lower newest")).toDF("doc_id", "text")
    val wordCounts = (text + " low lower newest").split(" ")
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val expected = localBpe(wordCounts, 8, 2L)
    val got = TextAnalysis.learnBpe(docs, "text", 8, 2L).map { case (_, l, r) => (l, r) }
    assert(got == expected, s"got $got expected $expected")
    // deterministic under repartition
    val re = TextAnalysis.learnBpe(docs.repartition(7), "text", 8, 2L)
      .map { case (_, l, r) => (l, r) }
    assert(re == expected)
    // encoding with more merges never increases the token count
    val m0 = TextAnalysis.bpeTokenCount(docs, "text", Seq.empty)
      .select("n_bpe_tokens").as[Long].collect().sum
    val m8 = TextAnalysis.bpeTokenCount(docs, "text",
        TextAnalysis.learnBpe(docs, "text", 8, 2L))
      .select("n_bpe_tokens").as[Long].collect().sum
    assert(m8 < m0, s"merges must compress: $m8 !< $m0")
  }

  test("removeBoilerplateLines: corpus-repeated lines drop, unique text survives, order kept") {
    // 2-word lines; "cookie banner" appears in 3 docs → boilerplate at
    // minRepeats=3; "unique words" repeats only twice → kept
    val docs = Seq(
      (1L, "cookie banner unique words alpha beta"),
      (2L, "cookie banner unique words gamma delta"),
      (3L, "cookie banner epsilon zeta tail"), // trailing 1-word line
      (4L, "plain document nothing repeated here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplateLines(docs,
        wordsPerLine = 2, minRepeats = 3L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 1L, "unique words alpha beta"),
      (2L, 3L, 1L, "unique words gamma delta"),
      (3L, 3L, 1L, "epsilon zeta tail"),
      (4L, 3L, 0L, "plain document nothing repeated here")))
    // no boilerplate at a higher threshold: everything survives verbatim
    val none = TextAnalysis.removeBoilerplateLines(docs,
        wordsPerLine = 2, minRepeats = 99L)
      .as[(Long, Long, Long, String)].collect()
    assert(none.forall(_._3 == 0L))
    // partitioning must not change the verdicts
    val re = TextAnalysis.removeBoilerplateLines(docs.repartition(5),
        wordsPerLine = 2, minRepeats = 3L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(re == got)
  }

  test("trained quality classifier separates two synthetic dialects") {
    // two overlapping vocabularies — no single word determines the
    // class, so the model must weigh several features
    val rnd = new scala.util.Random(11)
    val va = Vector("alpha", "beta", "gamma", "delta", "shared", "common", "word")
    val vb = Vector("omega", "sigma", "tau", "kappa", "shared", "common", "word")
    val rows = (0 until 400).map { i =>
      val v = if (i % 2 == 0) va else vb
      val text = Seq.fill(20)(v(rnd.nextInt(v.length))).mkString(" ")
      (i.toLong, text, i % 2 == 0)
    }
    val df = rows.toDF("id", "text", "y")
    val train = df.filter($"id" < 300)
    val w = TextAnalysis.trainTextClassifier(train, "text", $"y")
    val scored = df.filter($"id" >= 300)
      .select($"y", TextAnalysis.classifierScore($"text", w).as("p"))
      .as[(Boolean, Double)].collect()
    val acc = scored.count { case (y, p) => (p >= 0.5) == y }.toDouble / scored.length
    assert(acc >= 0.95, s"held-out accuracy $acc")
    // training is full-batch: partitioning must not change the verdict
    val w2 = TextAnalysis.trainTextClassifier(train.repartition(7), "text", $"y")
    val acc2 = df.filter($"id" >= 300)
      .select($"y", TextAnalysis.classifierScore($"text", w2).as("p"))
      .as[(Boolean, Double)].collect()
      .count { case (y, p) => (p >= 0.5) == y }.toDouble / scored.length
    assert(acc2 >= 0.95, s"held-out accuracy after repartition $acc2")
  }

  test("probeMeta parses real container headers: PNG, JPEG SOF walk, " +
      "GIF, BMP, WAV duration; unknown bytes keep the fallback") {
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(33)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      b.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(64)
      out.put(0xff.toByte).put(0xd8.toByte)                    // SOI
      out.put(0xff.toByte).put(0xe0.toByte).putShort(16)       // APP0 len 16
      out.put(new Array[Byte](14))                             // APP0 body
      out.put(0xff.toByte).put(0xc0.toByte).putShort(11)       // SOF0 len 11
      out.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      out.put(1.toByte).put(new Array[Byte](3))
      java.util.Arrays.copyOf(out.array(), out.position())
    }
    def gif(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("GIF89a".getBytes).putShort(w.toShort).putShort(h.toShort)
      b.put(new Array[Byte](3)); b.array()
    }
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(-h) // top-down negative height
      b.putShort(1).putShort(24); b.array()
    }
    def wav(byteRate: Int, dataBytes: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      b.putInt(8000).putInt(byteRate).putShort(1).putShort(8)
      b.put("data".getBytes).putInt(dataBytes).put(new Array[Byte](dataBytes))
      b.array()
    }
    def meta(p: Array[Byte]) = Multimodal.probeMeta(p)
    assert(meta(png(640, 480)).toSeq.drop(1) == Seq(640, 480, null, "image/png"))
    assert(meta(jpeg(1024, 768)).toSeq.drop(1) == Seq(1024, 768, null, "image/jpeg"))
    assert(meta(gif(320, 200)).toSeq.drop(1) == Seq(320, 200, null, "image/gif"))
    assert(meta(bmp(800, 600)).toSeq.drop(1) == Seq(800, 600, null, "image/bmp"))
    val w = meta(wav(16000, 32000)) // 2 seconds of audio
    assert(w.toSeq.drop(1) == Seq(null, null, 2000L, "audio/wav"))
    // unknown payloads keep the deterministic fallback (corpus contract)
    val f = meta("just text".getBytes)
    assert(f.getString(4).startsWith("fake/"))
    // truncated real magic falls back instead of throwing
    assert(meta(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      .getString(4).startsWith("fake/"))
  }

  test("temperatureMixture: alpha flattens source shares toward rare " +
      "sources, deterministic and repartition-invariant") {
    import org.apache.spark.sql.functions.col
    // 1000 common rows vs 50 rare rows
    val rows = (1L to 1000L).map(i => (i, "common")) ++
      (1001L to 1050L).map(i => (i, "rare"))
    val df = rows.toDF("doc_id", "source")
    def shares(alpha: Double): Map[String, Long] =
      Mixture.temperatureMixture(df, "source", Seq("doc_id"), alpha, 200L)
        .groupBy("source").count()
        .as[(String, Long)].collect().toMap
    val a1 = shares(1.0)   // proportional: rare gets ~200·50/1050 ≈ 10
    val a3 = shares(0.3)   // flattened: rare share rises sharply
    assert(a3("rare") > a1.getOrElse("rare", 0L),
      s"alpha<1 must upweight rare: a1=$a1 a3=$a3")
    // alpha = 0: equal shares per source (~100 each)
    val a0 = shares(0.0)
    assert(a0("rare") == 50L, s"rare fully kept under equal shares: $a0")
    assert(math.abs(a0("common") - 100L) < 40L, s"common ≈ budget/2: $a0")
    // determinism + partition invariance
    val r1 = Mixture.temperatureMixture(df, "source", Seq("doc_id"), 0.3, 200L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val r2 = Mixture.temperatureMixture(df.repartition(8), "source",
      Seq("doc_id"), 0.3, 200L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("semDedup: within-cell near-dups collapse to the lowest id, " +
      "distinct directions survive, partition-invariant") {
    import org.apache.spark.sql.functions.col
    // 4 orthogonal directions × 3 near-identical copies each
    def vec(axis: Int, jitter: Float): Seq[Float] =
      Seq.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f) +
        (if (i == (axis + 1) % 8) jitter else 0.0f))
    val rows = for (g <- 0 until 4; j <- 0 until 3)
      yield ((g * 3 + j).toLong, vec(g * 2, 0.01f * j))
    val df = rows.toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding",
      nCells = 4, tau = 0.9, salt = "t")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    // near-identical copies share a cell (cos ≈ 1 with their own
    // direction's centroid); only the lowest id of each group survives
    val byCell = out.groupBy(_._2)
    byCell.values.foreach { cell =>
      val kept = cell.filter(_._3).map(_._1)
      assert(kept.length == 1 && kept.head == cell.map(_._1).min,
        s"cell should keep exactly its min id: ${cell.toSeq}")
    }
    assert(out.count(_._3) == 4, "one survivor per direction group")
    // partition invariance
    val out8 = Dedup.semDedup(df.repartition(8), "vec_id", "embedding",
      nCells = 4, tau = 0.9, salt = "t")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out8.toSeq == out.toSeq)
  }

  test("chunkWindows: stride overlap, short tails, sub-window and empty docs") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // n=10: windows [0..7],[6..9]
      (2L, (1 to 7).map(i => s"w$i").mkString(" ")),  // n=7 < window: one short window
      (3L, ""),                                        // empty: nothing
      (4L, (1 to 14).map(i => s"w$i").mkString(" "))  // n=14: [0..7],[6..13]
    ).toDF("doc_id", "text")
    val out = Packing.chunkWindows(docs, "doc_id", "text", window = 8, stride = 6)
      .orderBy("doc_id", "window_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 8L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (1L, 1L, 6L, 4L, (7 to 10).map(i => s"w$i").mkString(" ")),
      (2L, 0L, 0L, 7L, (1 to 7).map(i => s"w$i").mkString(" ")),
      (4L, 0L, 0L, 8L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (4L, 1L, 6L, 8L, (7 to 14).map(i => s"w$i").mkString(" "))))
    // consecutive windows overlap by window - stride words
    val o = out.filter(_._1 == 4L)
    assert(o(0)._5.split(" ").takeRight(2).toSeq == o(1)._5.split(" ").take(2).toSeq)
  }

  test("weightedSample: A-Res selection matches a single-node replay, " +
      "is partition-invariant, and tracks the weights") {
    import org.apache.spark.sql.functions.col
    val rows = (1L to 400L).map(i => (i, if (i <= 20) 1000.0 else 1.0))
    val df = rows.toDF("id", "w")
    // single-node replay of the same clocks
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = rows.filter(_._2 > 0).map { case (id, w) =>
      val h = java.lang.Long.parseLong(md5hex(s"t|$id").take(13), 16)
      val u = (h + 1.0) / 4503599627370497.0
      (-math.log(u) / w, id)
    }.sorted.take(30).map(_._2).toSet
    val got = Mixture.weightedSample(df, 30, "id", "w", "t")
      .select("id").as[Long].collect().toSet
    assert(got == expect)
    // heavy items (20 rows, weight 1000) dominate the sample
    assert(got.count(_ <= 20L) >= 15, s"heavy hits: ${got.count(_ <= 20L)}")
    // partition invariance
    val got8 = Mixture.weightedSample(df.repartition(8), 30, "id", "w", "t")
      .select("id").as[Long].collect().toSet
    assert(got8 == got)
    // zero/negative weights never win
    val z = Seq((1L, 0.0), (2L, -5.0), (3L, 1.0)).toDF("id", "w")
    assert(Mixture.weightedSample(z, 3, "id", "w", "t")
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("removeRepeatedSpans drops corpus-repeated k-word spans, keeps " +
      "unique text, counts removals exactly") {
    import org.apache.spark.sql.functions.col
    val span = "alpha beta gamma delta" // k = 4 repeated span
    val docs = Seq(
      (1L, s"unique one two three $span tail1 tailA"),
      (2L, s"other prefix words here $span tail2 tailB"),
      (3L, "totally unrelated text with no repeats at all"),
      (4L, "short doc"), // shorter than k: untouched
      (5L, s"$span middle filler words $span") // intra-doc repeat too
    ).toDF("doc_id", "text")
    val out = TextAnalysis.removeRepeatedSpans(docs, k = 4, minOccurrences = 2L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    val m = out.map(r => r._1 -> r).toMap
    // span occurs 4 times (docs 1, 2, 5×2) → flagged everywhere
    assert(m(1L)._2 == "unique one two three tail1 tailA")
    assert(m(1L)._3 == 4L && m(1L)._4 == 1L)
    assert(m(2L)._2 == "other prefix words here tail2 tailB")
    assert(m(3L)._2 == "totally unrelated text with no repeats at all")
    assert(m(3L)._3 == 0L && m(3L)._4 == 0L)
    assert(m(4L)._2 == "short doc" && m(4L)._3 == 0L)
    // doc 5: both occurrences drop, middle filler survives
    assert(m(5L)._2 == "middle filler words")
    assert(m(5L)._3 == 8L && m(5L)._4 == 2L)
    // partition invariance
    val out8 = TextAnalysis.removeRepeatedSpans(docs.repartition(8),
      k = 4, minOccurrences = 2L).orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out8.toSeq == out.toSeq)
  }

  test("adversarial all-repeated corpus: the hot sliver outgrows the " +
      "driver cap and the Bloom + exact-verify path returns identical results") {
    import org.apache.spark.sql.functions.col
    // every doc repeats the same spans → the hot set is the whole gram
    // space; cap the driver set at 4 so the distributed path engages
    val body = (0 until 40).map(i => s"w${i % 10}").mkString(" ")
    val docs = (1L to 30L).map(i => (i, s"$body extra$i $body")).toDF("doc_id", "text")

    val closure = TextAnalysis.removeRepeatedSpans(docs, k = 4,
        minOccurrences = 2L, maxDriverSet = Int.MaxValue)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    val bloomed = TextAnalysis.removeRepeatedSpans(docs, k = 4,
        minOccurrences = 2L, maxDriverSet = 4)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(bloomed == closure)
    assert(closure.forall(_._3 > 0L), "adversarial corpus should flag spans")

    val closureL = TextAnalysis.removeBoilerplateLines(docs,
        wordsPerLine = 5, minRepeats = 3L, maxDriverSet = Int.MaxValue)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val bloomedL = TextAnalysis.removeBoilerplateLines(docs,
        wordsPerLine = 5, minRepeats = 3L, maxDriverSet = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(bloomedL == closureL)
    assert(closureL.forall(_._3 > 0L), "adversarial corpus should drop lines")
  }

  test("gopherStats counts words, lines, bullets, ellipses, stopwords " +
      "per the pinned cross-engine definitions") {
    import org.apache.spark.sql.functions.col
    val text = "The cat sat with a hat.\n" +
      "- bullet one\n" +
      "\t* bullet two  \n" +
      "not a bullet\n" +
      "trailing dots...\n" +
      "unicode dots…\n" +
      "## two hash marks and..... five dots"
    val df = Seq(Tuple1(text)).toDF("text")
      .select(TextAnalysis.gopherStats(col("text")).as("g")).select("g.*")
    val r = df.collect().head
    val m = df.columns.zip(r.toSeq.map(_.asInstanceOf[Long])).toMap
    // words: 6 + 3 + 3 + 3 + 2 + 2 + 7 = 26 ("dots..." is ONE token)
    assert(m("n_words") == 26L, m)
    assert(m("n_lines") == 7L)
    assert(m("n_bullet_lines") == 2L)    // "- bullet one", "* bullet two"
    assert(m("n_ellipsis_lines") == 2L)  // "...", "…" endings
    assert(m("n_hash") == 2L)            // '#' characters
    // "..." in line 5, '…' in line 6, "....." → one "..." = 3 total
    assert(m("n_ellipsis") == 3L)
    // stopwords present: the (The), with — 2 of the 8
    assert(m("n_stop_hits") == 2L)
    // every word has an alphabetic char except "-", "*" and "##"
    assert(m("n_alpha_words") == 23L)
  }

  test("gopherPass applies the §A1.1 thresholds: accepts clean prose, " +
      "rejects short, symbol-heavy and stopword-free docs") {
    import org.apache.spark.sql.functions.col
    val clean = ("The quick brown fox jumps with great energy over the " +
      "lazy dog and all of its friends that have been sleeping there. ") * 5
    val short = "The cat sat with it of that."
    val symbols = ("word " * 60).trim + " " + ("# " * 20).trim +
      " the of with that have"
    val noStop = ("alpha beta gamma delta epsilon " * 15).trim
    val df = Seq(("clean", clean), ("short", short),
      ("symbols", symbols), ("nostop", noStop)).toDF("name", "text")
      .select(col("name"),
        TextAnalysis.gopherPass(TextAnalysis.gopherStats(col("text"))).as("pass"))
    val got = df.as[(String, Boolean)].collect().toMap
    assert(got("clean"), "clean prose must pass")
    assert(!got("short"), "under 50 words must fail")
    assert(!got("symbols"), "hash ratio over 0.1 must fail")
    assert(!got("nostop"), "fewer than 2 stopwords must fail")
  }

  test("compiled normalizeText is byte-identical to the declarative chain") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      "  Hello,   WORLD!! 42 ",
      "a--b__c  d\te\nf",
      "ALL CAPS & (punct) #tags",
      "",
      "...", // punctuation-only → empty
      "Mixed1 Numbers2 3and4 ünïcödé çhars") // non-ASCII letters drop
      .toDF("text")
    val both = docs.select(
      TextAnalysis.normalizeText(col("text")).as("fast"),
      TextAnalysis.normalizeTextDeclarative(col("text")).as("ref"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1)))
    // and over real corpus text
    val corpus = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select(TextAnalysis.normalizeText(col("text")).as("fast"),
        TextAnalysis.normalizeTextDeclarative(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(corpus.count() == 0L)
  }

  test("semDedup auto cell count sizes ~64-row cells and matches the " +
      "explicit configuration") {
    import org.apache.spark.sql.functions.col
    val df = Seq.tabulate(2048) { i =>
      (i.toLong, Seq.tabulate(8)(j => (((i * 31 + j * 7) % 17) - 8).toFloat))
    }.toDF("id", "vec")
    // 2048 rows / 64 → auto k = 32: identical output to explicit 32
    val auto = Dedup.semDedup(df, "id", "vec", nCells = -1, tau = 0.95,
      salt = "sda", rows = 2048L)
      .select(col("vec_id"), col("cell"), col("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val explicit = Dedup.semDedup(df, "id", "vec", nCells = 32, tau = 0.95,
      salt = "sda")
      .select(col("vec_id"), col("cell"), col("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(auto == explicit)
    // the floor holds for tiny corpora (16 cells even at 100 rows)
    val tiny = Dedup.semDedup(df.limit(100), "id", "vec", nCells = -1,
      tau = 0.95, salt = "sda", rows = 100L)
    assert(tiny.select(col("cell")).distinct().count() <= 16L)
  }
}
