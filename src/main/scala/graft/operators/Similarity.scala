package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: queries are a small broadcast side; the corpus streams
  * once. Brute force is the exact baseline (one pass, top-k per query
  * via window over query partitions — k·|Q| rows survive the shuffle).
  * The LSH variant buckets the corpus by random-hyperplane sign bits so
  * each query only scans its bucket — the 100 TB path where a full scan
  * per query batch is too expensive.
  *
  * All dot products run in double via zip_with + aggregate (codegen'd
  * higher-order functions, no UDFs).
  */
object Similarity {
  /** sum(a_i * b_i) in double precision — single-pass expression
    * ([[graft.functions.Sketches.DotProduct]]); the declarative
    * zip_with form allocates an intermediate array per evaluation,
    * which turns all-pairs scoring quadratic in allocations. */
  def dot(a: Column, b: Column): Column =
    graft.functions.Sketches.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.functions.Sketches.cosineSim(a, b)

  /** Exact brute-force cosine top-k: for each query row, the k corpus
    * rows with highest cosine similarity (excluding self-matches by id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.join(broadcast(q), col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        cosine(col("query_vec"), col("item_vec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Random hyperplane signature: `bits` sign bits packed into a long.
    * Deterministic hyperplanes from a seeded PRNG, dim `dim`.
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, seed: Long = 42L): Column = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(bits, dim)(rnd.nextGaussian())
    val sigBits = (0 until bits).map { j =>
      val plane = array(planes(j).map(lit(_)): _*)
      when(dot(vec, plane) > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    sigBits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into `nlist`
    * cells by nearest centroid; each query probes its `nprobe` closest
    * cells and brute-forces only those — the classic FAISS-style scale
    * path. Centroids here are a deterministic corpus sample (ids
    * `0..nlist-1`); swap for k-means iterations offline without
    * touching the search. At 100 TB: centroid assignment is one
    * broadcast pass over the corpus (persisted alongside it in
    * practice), and each query batch touches nprobe/nlist of the data.
    */
  /** Distributed Lloyd iterations for IVF centroids: seed with a
    * deterministic corpus sample, then alternate (assign to nearest
    * centroid by cosine) / (element-wise mean per cell). Each
    * iteration is two key-partitioned shuffles — assignment joins a
    * broadcast centroid table, the mean re-aggregates by (cell, dim) —
    * so the pass scales linearly with the corpus and never collects
    * vectors to the driver. localCheckpoint cuts the iteration
    * lineage (same discipline as Dedup.connectedComponents).
    */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, iters: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    var cents = corpus.filter(col(idCol) < nlist)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
    for (_ <- 0 until iters) {
      val assigned = corpus
        .select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
        .join(broadcast(cents))
        .select(col("item_id"), col("item_vec"), col("cent_id"),
          cosine(col("item_vec"), col("cent_vec")).as("ccos"))
        .groupBy(col("item_id"))
        .agg(first(col("item_vec")).as("item_vec"),
          max_by(col("cent_id"), col("ccos")).as("cell"))
      cents = assigned
        .select(col("cell").as("cent_id"), posexplode(col("item_vec")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m").cast("float")).as("cent_vec"))
        .localCheckpoint(eager = true)
    }
    cents
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", kmeansIters: Int = 0): DataFrame = {
    val cents =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, nlist, kmeansIters, idCol, vecCol)
      else corpus.filter(col(idCol) < nlist)
        .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
    // assign corpus rows to their single nearest centroid
    val assigned = corpus
      .select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
      .join(broadcast(cents))
      .select(col("item_id"), col("item_vec"), col("cent_id"),
        cosine(col("item_vec"), col("cent_vec")).as("ccos"))
      .groupBy(col("item_id"))
      .agg(first(col("item_vec")).as("item_vec"),
        max_by(col("cent_id"), col("ccos")).as("cell"))
    // queries probe their nprobe nearest cells
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .join(broadcast(cents))
      .select(col("query_id"), col("query_vec"), col("cent_id"),
        cosine(col("query_vec"), col("cent_vec")).as("ccos"))
      .groupBy(col("query_id"))
      .agg(first(col("query_vec")).as("query_vec"),
        slice(sort_array(collect_list(struct(col("ccos"), col("cent_id"))), asc = false),
          1, nprobe).as("probes"))
      .select(col("query_id"), col("query_vec"),
        explode(transform(col("probes"), p => p.getField("cent_id"))).as("cell"))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        cosine(col("query_vec"), col("item_vec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Product-quantization codebooks (Jégou et al. 2011; FAISS's PQ):
    * `m` subspaces of `dsub = dim/m` dims, `ksub` centroids each. */
  final case class PqCodebooks(m: Int, ksub: Int, dsub: Int,
      cents: Array[Array[Array[Double]]]) // [m][ksub][dsub]

  private def normalizeVec(v: Seq[Float]): Array[Double] = {
    val a = v.toArray.map(_.toDouble)
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0) a else a.map(_ / n)
  }

  /** Train PQ codebooks on a deterministic hash-ordered sample collected
    * to the driver — the FAISS posture: PQ trains on a bounded sample
    * (~100k vectors in production), and the codebooks are
    * hyperparameter-sized (m·ksub·dsub doubles), like IVF centroids.
    * Vectors are L2-normalized first so inner product = cosine at
    * search time. Per-subspace Lloyd with deterministic seeding —
    * the learned books are partition-invariant. */
  def trainPq(corpus: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int = 8, sampleN: Int = 2048, idCol: String = "vec_id",
      vecCol: String = "embedding"): PqCodebooks = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleN)
      .collect()
      .map(r => normalizeVec(r.getSeq[Float](1)))
    val cents = Array.tabulate(m) { j =>
      val subs = sample.map(v => v.slice(j * dsub, (j + 1) * dsub))
      // seed: first ksub distinct subvectors in sample order
      var cs = subs.distinct.take(ksub)
      if (cs.length < ksub) cs = cs ++ Array.fill(ksub - cs.length)(cs.head)
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub, dsub)(0.0)
        val counts = Array.fill(ksub)(0L)
        subs.foreach { s =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var t = 0
            while (t < dsub) { val x = s(t) - cs(c)(t); d += x * x; t += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var t = 0
          while (t < dsub) { sums(best)(t) += s(t); t += 1 }
        }
        cs = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cs(c)
          else sums(c).map(_ / counts(c)))
      }
      cs
    }
    PqCodebooks(m, ksub, dsub, cents)
  }

  /** Encode vectors to m-byte PQ codes: per subspace, the nearest
    * codebook centroid by L2 over the normalized vector. One compiled
    * map pass, no shuffle — the 100 TB index build. */
  def pqEncode(corpus: DataFrame, books: PqCodebooks,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = books
    val enc = udf { (v: Seq[Float]) =>
      val x = normalizeVec(v)
      Array.tabulate(b.m) { j =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < b.ksub) {
          var d = 0.0; var t = 0
          while (t < b.dsub) {
            val e = x(j * b.dsub + t) - b.cents(j)(c)(t); d += e * e; t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
    corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"),
      enc(col(vecCol)).as("codes"))
  }

  /** PQ-ADC top-k with exact re-rank (FAISS IndexPQ + refine): the
    * corpus is scanned as m-byte codes — per (query, item) the score is
    * m table lookups against the query's precomputed subspace
    * inner-product table (the asymmetric-distance trick: dim mults per
    * pair become m adds), then the `refine`·k best candidates per query
    * re-rank by exact cosine. The code scan reads m bytes instead of
    * 4·dim — the memory-bandwidth path PQ exists for; query tables ride
    * in the scoring UDF's closure (queries are the small broadcast side
    * throughout this module). Compose with [[ivfTopK]] cells for
    * sub-linear scan at extreme scale. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 16, refine: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxQueryBatch: Int = 4096): DataFrame = {
    val books = trainPq(corpus, dim, m, ksub)
    val encoded = pqEncode(corpus, books, idCol, vecCol)
    val qRows = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    // per-query ADC tables: [m][ksub] inner products, driver-computed
    // from the (small) query side, shipped in the scoring closure.
    // The query side is BY CONTRACT a bounded batch (it broadcasts and
    // its ADC tables ride in a closure): the collect is capped at
    // `maxQueryBatch` (default 4096 ≈ m·ksub·8B·4096 = 4 MB of tables)
    // and overflow fails loudly — chunk the query set and union the
    // per-chunk results to go wider, the corpus side stays streaming.
    val collected = qRows.limit(maxQueryBatch + 1).collect()
    require(collected.length <= maxQueryBatch,
      s"pqTopK: query batch exceeds maxQueryBatch=$maxQueryBatch — " +
        "split the query set into chunks and union the results " +
        "(the corpus side is unbounded; only queries must be a batch)")
    val tables: Map[Long, Array[Array[Double]]] = collected.map { r =>
      val q = normalizeVec(r.getSeq[Float](1))
      r.getLong(0) -> Array.tabulate(books.m)(j =>
        Array.tabulate(books.ksub) { c =>
          var s = 0.0; var t = 0
          while (t < books.dsub) { s += q(j * books.dsub + t) * books.cents(j)(c)(t); t += 1 }
          s
        })
    }.toMap
    val adc = udf { (qid: Long, codes: Seq[Int]) =>
      val tab = tables(qid)
      var s = 0.0; var j = 0
      while (j < codes.length) { s += tab(j)(codes(j)); j += 1 }
      s
    }
    // the ADC scan carries ONLY (item_id, m codes) — never the vectors;
    // that byte-sized stream is the whole point of PQ
    val cand = encoded.select(col("item_id"), col("codes"))
      .join(broadcast(qRows.select(col("query_id"))),
        col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        adc(col("query_id"), col("codes")).as("adc"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("item_id").asc)
    val survivors = cand.withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= refine * k)
      .select(col("query_id"), col("item_id"))
    // refine pass: fetch exact vectors for the refine·k survivors only
    // (broadcast the per-query candidate sliver against the corpus, the
    // FAISS refine-index id-fetch) and re-rank by true cosine
    val reranked = corpus
      .select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
      .join(broadcast(survivors), Seq("item_id"))
      .join(broadcast(qRows), Seq("query_id"))
      .select(col("query_id"), col("item_id"),
        cosine(col("query_vec"), col("item_vec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id").asc)
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** LSH-bucketed ANN: corpus and queries hashed into hyperplane-sign
    * buckets; each query scans only probed buckets — its own plus all
    * buckets within `probeRadius` flipped bits (multi-probe recovers
    * near-boundary neighbors). Recall/scan-fraction scales with the
    * radius; on clustered real embeddings small radii suffice, on
    * near-orthogonal data push the radius up. Returns the same schema
    * as [[bruteForceTopK]].
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int = 8, probeRadius: Int = 2, tables: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    // L independent hash tables (the classic recall lever: a true
    // neighbor missed by one table's buckets is caught by another's —
    // union of candidates, each table a fresh hyperplane family). The
    // corpus index carries tables×1 rows per vector, the standard
    // multi-table LSH storage cost; candidates dedup on (query, item)
    // BEFORE scoring so each surviving pair pays exactly one cosine.
    // Signatures compute through the fused HyperplaneSigs kernel (one
    // reference-object plane table, one tight loop): the plan carries a
    // handful of nodes instead of tables×bits×dim literal leaves, whose
    // per-run analysis/optimization dominated this operator's wall
    // clock at bench scale (executors measured idle). A null vector has
    // no signatures, so its row drops out of the index (never a
    // candidate) and a null query probes nothing.
    val allPlanes: Array[Array[Double]] = (0 until tables).toArray.flatMap { t =>
      val rnd = new java.util.Random(seed + t * 7919L)
      Array.fill(bits, dim)(rnd.nextGaussian())
    }
    def sigs(c: Column) =
      graft.functions.Sketches.hyperplaneSigs(c, allPlanes, tables, bits)
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"),
      posexplode(sigs(col(vecCol))).as(Seq("table", "bucket")))
    // multi-probe: all masks with <= probeRadius bits set, per table —
    // one literal array + a transform lambda, not one XOR node per mask
    val masks = (0L until (1L << bits))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
        posexplode(sigs(col(vecCol))).as(Seq("table", "sig")))
      .select(col("query_id"), col("query_vec"), col("table"),
        explode(transform(lit(masks.toArray),
          m => col("sig").bitwiseXOR(m))).as("bucket"))
    // score BEFORE deduplicating: a pair surfacing from T tables pays
    // up to T redundant cosines (cheap, codegen'd) so the dedup
    // shuffle carries (ids, cos) — one double instead of 2×dim floats.
    // At scale the network is the bottleneck, not the arithmetic.
    val scored = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        cosine(col("query_vec"), col("item_vec")).as("cos"))
      .groupBy(col("query_id"), col("item_id"))
      .agg(max(col("cos")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("item_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
  }
}
