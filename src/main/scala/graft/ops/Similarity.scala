package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and
  * a random-hyperplane LSH bucketing as the scale path.
  *
  * Scale design: queries are broadcast (query sets are small); the corpus
  * is scanned once, never shuffled, and top-k is a per-query window over
  * the (|Q| × |corpus|) scored stream — with AQE and partial top-k
  * ranking this is scan-bound. The LSH variant prunes the corpus to one
  * bucket per query, trading recall for a |corpus|/2^bits scan.
  */
object Similarity {

  /** Dot product of two array<numeric> columns in double with
    * left-to-right summation (portable across engines). Compiled to the
    * codegen'd [[DotProd]] expression — the declarative
    * `aggregate(zip_with(...))` form is eval-only (HOFs fall out of
    * whole-stage codegen and box every element); semantics identical.
    */
  def dot(x: Column, y: Column): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(DotProd(EU.expression(x), EU.expression(y)))
  }

  /** L2 norm of an array<numeric> column. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two array<numeric> columns. On pair-join hot
    * paths, precompute [[norm]] per ROW before the join instead (see
    * [[bruteForceTopK]]) — this form recomputes both norms per pair.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors by cosine for each query vector.
    * `queries(qKey, qVec)` is broadcast against `corpus(cKey, cVec)`;
    * self-matches (same key) are excluded. Norms are computed once per
    * corpus row / query row before the join, so each of the
    * |Q|×|corpus| scored pairs costs a single dot product.
    */
  def bruteForceTopK(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int): DataFrame = {
    val c = corpus.withColumn("_cn", norm(col(cVec)))
    val q = queries.withColumn("_qn", norm(col(qVec)))
    val scored = c
      .join(broadcast(q), col(qKey) =!= col(cKey))
      .withColumn("cos", dot(col(qVec), col(cVec)) / (col("_qn") * col("_cn")))
    val w = Window.partitionBy(col(qKey)).orderBy(col("cos").desc, col(cKey).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qKey).as("query_id"), col(cKey).as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** One candidate neighbor for the bounded top-k aggregator. */
  final case class Cand[K](key: K, score: Double)

  /** Mergeable bounded-size buffer: at most k candidates, kept sorted by
    * (score desc, key asc) — the same total order as the `row_number`
    * window in [[bruteForceTopK]].
    */
  final case class TopKBuf[K](items: Seq[Cand[K]])

  /** Typed `Aggregator` keeping the k best-scoring candidates per group.
    *
    * Scale rationale: `row_number().over(Window.partitionBy(q))` shuffles
    * and sorts the FULL |Q|×|corpus| scored stream; this aggregator's
    * map-side partials are bounded at k candidates per (task, query), so
    * the shuffle carries ≤ k·|Q|·tasks rows no matter how large the
    * corpus is. k is expected to be small (top-10/top-100); inserts are
    * O(k) by linear merge, which beats heap constant-factors at that size.
    */
  final class TopKByScore[K: scala.reflect.runtime.universe.TypeTag](k: Int)(
      implicit ord: Ordering[K])
      extends Aggregator[Cand[K], TopKBuf[K], Seq[Cand[K]]] {
    // Double.compare, not >: Spark orders NaN as GREATEST (so the
    // row_number window this aggregator must equal ranks NaN scores
    // first under desc — e.g. a zero-norm vector's cosine). `>` would
    // never rank a NaN and silently diverge from the window.
    private def lt(a: Cand[K], b: Cand[K]): Boolean = {
      val c = java.lang.Double.compare(a.score, b.score)
      c > 0 || (c == 0 && ord.lt(a.key, b.key))
    }

    override def zero: TopKBuf[K] = TopKBuf(Vector.empty)

    override def reduce(b: TopKBuf[K], c: Cand[K]): TopKBuf[K] = {
      val xs = b.items
      if (xs.length >= k && !lt(c, xs.last)) b
      else {
        val i = xs.indexWhere(x => lt(c, x)) match { case -1 => xs.length; case j => j }
        TopKBuf(((xs.take(i) :+ c) ++ xs.drop(i)).take(k))
      }
    }

    override def merge(a: TopKBuf[K], b: TopKBuf[K]): TopKBuf[K] = {
      val out = Vector.newBuilder[Cand[K]]
      var (i, j, n) = (0, 0, 0)
      val (xs, ys) = (a.items, b.items)
      while (n < k && (i < xs.length || j < ys.length)) {
        val takeA = j >= ys.length || (i < xs.length && lt(xs(i), ys(j)))
        if (takeA) { out += xs(i); i += 1 } else { out += ys(j); j += 1 }
        n += 1
      }
      TopKBuf(out.result())
    }

    override def finish(b: TopKBuf[K]): Seq[Cand[K]] = b.items
    override def bufferEncoder: Encoder[TopKBuf[K]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[TopKBuf[K]]()
    override def outputEncoder: Encoder[Seq[Cand[K]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Cand[K]]]()
  }

  /** [[bruteForceTopK]] with the window replaced by [[TopKByScore]]:
    * identical output (same scoring, same (cos desc, key asc) order, same
    * columns), but the per-query top-k is reduced map-side instead of
    * sorting the full scored stream — the shuffle after scoring carries at
    * most k rows per (query, task).
    */
  def bruteForceTopKAgg(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int): DataFrame = {
    val c = corpus.withColumn("_cn", norm(col(cVec)))
    val q = queries.withColumn("_qn", norm(col(qVec)))
    topKExplode(
      c.join(broadcast(q), col(qKey) =!= col(cKey))
        .select(col(qKey),
          col(cKey).as("_k"),
          (dot(col(qVec), col(cVec)) / (col("_qn") * col("_cn"))).as("_s")),
      qKey, k)
  }

  /** Deterministic random hyperplanes: `bits` planes × `dim` components
    * in [-1, 1], from a fixed-seed LCG (shared with the oracle SQL,
    * which inlines the same values as literals).
    */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var state = seed
    def next(): Double = {
      state = (state * 6364136223846793005L + 1442695040888963407L)
      // top 53 bits → [0,1) → [-1,1)
      ((state >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Array.fill(bits, dim)(next())
  }

  /** Sign-bit LSH bucket id of a vector under the given hyperplanes:
    * bit j = 1 iff dot(v, plane_j) > 0. Each plane is one codegen'd
    * [[DotProd]] against a plan-constant literal — a fused primitive
    * loop per plane, no boxing, whole stage stays in codegen (the
    * previous `aggregate(zip_with(...))` folds were eval-only and
    * dropped the corpus-scan stage out of codegen).
    * ≡ [[lshBucketRef]], asserted by OpsSpec.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dot(vec, typedlit(p.toSeq)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** HOF reference form of [[lshBucket]] — differential oracle. */
  def lshBucketRef(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val dot = aggregate(
        zip_with(vec, typedlit(p.toSeq), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Corpus bucketed by LSH: `(bucket, n)` histogram — the partition
    * balance diagnostic for the ANN index.
    */
  def lshBucketHistogram(corpus: DataFrame, vecCol: String,
      planes: Array[Array[Double]]): DataFrame =
    corpus.select(lshBucket(col(vecCol), planes).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))

  // ---- IVF (inverted-file) ANN ----

  /** Deterministic IVF coarse quantizer: centroids are corpus rows picked
    * by a key predicate (`key % every == 0`), collected to the driver
    * (|centroids| is small by construction — 2^10..2^16 cells at scale)
    * and inlined into the plan. No Lloyd iterations: at 10^12 rows a
    * data-subsample quantizer is the standard first cut (re-clustering is
    * an offline refinement), and determinism keeps the oracle SQL able to
    * recompute the exact same cells.
    */
  def corpusCentroids(corpus: DataFrame, key: String, vec: String,
      every: Long): Array[(Long, Array[Double])] =
    // collect then sort DRIVER-side: a distributed orderBy on the
    // centroid sample (tens..tens-of-thousands of rows by construction)
    // costs a range-bounds sampling job + an exchange + a sort per
    // call; the key order is the only contract and the driver sort of
    // an already-index-sized array is free. Identical output.
    corpus.where(col(key) % every === 0)
      .select(col(key).cast("long"), col(vec).cast("array<double>"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Distributed Lloyd iteration(s) refining an IVF codebook: assign =
    * the existing scan-only [[ivfCell]] pass; update = per-(cell, dim)
    * mean via `posexplode` + a two-level aggregation whose map-side
    * partial combine bounds the shuffle at partitions × |cells| × dim
    * rows — never corpus × dim. Empty cells keep their previous
    * centroid (FAISS's empty-cluster rule); ids are preserved so probe
    * plans stay comparable across refinements. Driver-collects
    * |cells| × dim doubles, index-sized by construction (≤ 2^16 × dim).
    *
    * Means are floating-point: cross-engine (and cross-partitioning)
    * summation-order ulps are far below assignment decision boundaries
    * for non-degenerate data — the same tolerance the cosine-ordered
    * IVF oracle already relies on.
    */
  def refineCentroids(corpus: DataFrame, vec: String,
      centroids: Array[(Long, Array[Double])],
      iters: Int = 1): Array[(Long, Array[Double])] = {
    // per-cell mean VECTORS via the [[VecSum]] typed aggregator — one
    // output row per cell, vs the previous posexplode + per-(cell, dim)
    // avg whose shuffle input and driver collect were both ×dim larger
    // (|cells|·dim rows ≈ 5×10^7 at production 2^16 cells × 768 dims).
    // Same arithmetic: elementwise partial sums per partition merged
    // once, divided by the cell count — avg()'s own sum/count shape,
    // equal to merge-order ulps (below assignment decision boundaries,
    // the documented tolerance). Assumes the uniform vector dim IVF
    // already requires; null vectors are excluded exactly as the
    // posexplode form excluded them (a null array generated no rows).
    val vecSum = udaf(new VecSum)
    var cents = centroids
    for (_ <- 0 until iters) {
      val means = corpus
        .where(col(vec).isNotNull)
        .select(ivfCell(col(vec), cents).as("_cell"),
          col(vec).cast("array<double>").as("_v"))
        .groupBy("_cell")
        .agg(count(lit(1)).as("_n"), vecSum(col("_v")).as("_s"))
        .collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Double](2).toArray.map(_ / r.getLong(1)))
        .toMap
      cents = cents.map { case (cid, v) => (cid, means.getOrElse(cid, v)) }
    }
    cents
  }

  /** Elementwise array-of-double sum — the update half of the Lloyd
    * iteration. Dim is taken from the first vector seen (IVF requires a
    * uniform dim); partials are a single double array per (cell, task).
    */
  private final class VecSum
      extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
      if (a == null) b
      else if (b.isEmpty) a.toArray
      else { var i = 0; while (i < b.length) { b(i) += a(i); i += 1 }; b }
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] =
      if (x.isEmpty) y
      else if (y.isEmpty) x
      else { var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x }
    override def finish(b: Array[Double]): Seq[Double] = b.toSeq
    override def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Cell id of a vector: the centroid with the highest cosine, lowest
    * cid on ties (matches `row_number() OVER (ORDER BY cos DESC, cid)`).
    * Scan-only, no shuffle, codegen'd — see [[IvfProbes]].
    */
  def ivfCell(vec: Column, centroids: Array[(Long, Array[Double])]): Column =
    element_at(ivfProbes(vec, centroids, 1), 1)

  /** The `nprobe` best cells for a vector, by (cosine desc, cid asc), as
    * an array column. One codegen'd [[IvfProbes]] expression carrying the
    * centroid matrix as a plan constant — never per-centroid
    * sub-expressions, whose analysis/codegen cost grows with |centroids|
    * and forecloses production cell counts (2^10..2^16).
    */
  def ivfProbes(vec: Column, centroids: Array[(Long, Array[Double])],
      nprobe: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(IvfProbes(EU.expression(vec),
      centroids.map(_._1), centroids.map(_._2), nprobe))
  }

  private[ops] def topKAggFor(keyType: org.apache.spark.sql.types.DataType, k: Int) =
    keyType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType =>
        udaf(new TopKByScore[Long](k))
      case org.apache.spark.sql.types.StringType => udaf(new TopKByScore[String](k))
      case dt => throw new IllegalArgumentException(s"unsupported key type $dt")
    }

  /** Bounded top-k + explode tail shared by the brute-force, cell join
    * and PQ paths:
    * `scored` has (qKey, _k, _s); at most k rows per query cross the
    * shuffle (TopKByScore partial aggregation).
    */
  private def topKExplode(scored: DataFrame, qKey: String, k: Int): DataFrame = {
    val topk = topKAggFor(scored.schema("_k").dataType, k)
    scored
      .groupBy(col(qKey))
      .agg(topk(col("_k"), col("_s")).as("top"))
      .select(col(qKey).as("query_id"), posexplode(col("top")).as(Seq("pos", "c")))
      .select(col("query_id"), col("c.key").as("neighbor_id"),
        (col("pos") + 1).as("rank"), round(col("c.score"), 6).as("cos"))
  }

  /** The shared IVF tail: cell-equality broadcast join of probes against
    * the (cell, norm)-annotated corpus, then the bounded top-k
    * aggregation. `c` must carry `_cell`/`_cn`; `q` must carry
    * `_cell`/`_qn`.
    */
  private def cellJoinTopK(c: DataFrame, cKey: String, cVec: String,
      q: DataFrame, qKey: String, qVec: String, k: Int): DataFrame =
    topKExplode(
      c.join(broadcast(q), Seq("_cell"))
        .where(col(qKey) =!= col(cKey))
        .select(col(qKey),
          col(cKey).as("_k"),
          (dot(col(qVec), col(cVec)) / (col("_qn") * col("_cn"))).as("_s")),
      qKey, k)

  /** The probe side: each query exploded to its nprobe nearest cells. */
  private def probeSide(queries: DataFrame, qKey: String, qVec: String,
      centroids: Array[(Long, Array[Double])], nprobe: Int): DataFrame =
    queries
      .select(col(qKey), col(qVec), explode(ivfProbes(col(qVec), centroids, nprobe)).as("_cell"))
      .withColumn("_qn", norm(col(qVec)))

  /** IVF approximate top-k: the corpus is bucketed once by [[ivfCell]]
    * (in production: written out partitioned/bucketed by cell, so probes
    * become partition pruning); each query scans only its `nprobe`
    * nearest cells. Per-query cost |corpus|·nprobe/|centroids| vs the
    * brute-force |corpus|; recall < 1 near cell boundaries. Top-k uses
    * the bounded [[TopKByScore]] aggregator, never a full-stream sort.
    */
  def ivfTopK(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      centroids: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val c = corpus
      .withColumn("_cell", ivfCell(col(cVec), centroids))
      .withColumn("_cn", norm(col(cVec)))
    cellJoinTopK(c, cKey, cVec,
      probeSide(queries, qKey, qVec, centroids, nprobe), qKey, qVec, k)
  }

  /** Materialize the IVF index: the corpus annotated with its cell and
    * norm, written PARTITIONED BY cell — the one-time indexing job of a
    * production deployment. After it, probing is STORAGE-level partition
    * pruning: a query batch touching `p` cells reads `p` directories,
    * never the corpus.
    */
  def ivfWriteIndex(corpus: DataFrame, cVec: String,
      centroids: Array[(Long, Array[Double])], path: String): Unit =
    corpus
      .withColumn("_cell", ivfCell(col(cVec), centroids))
      .withColumn("_cn", norm(col(cVec)))
      .write.mode("overwrite").partitionBy("_cell").parquet(path)

  /** The distinct cells a query batch probes — ≤ min(|queries|·nprobe,
    * cells) longs, collected driver-side by design (the query batch is
    * small by ANN contract, like the centroid matrix itself).
    */
  def probeCells(queries: DataFrame, qVec: String,
      centroids: Array[(Long, Array[Double])], nprobe: Int): Array[Long] =
    queries.select(explode(ivfProbes(col(qVec), centroids, nprobe)).as("_cell"))
      .distinct().collect().map(_.getLong(0)).sorted

  /** The pruned index scan: `_cell IN (cells…)` is a STATIC predicate on
    * the partition column, so it lands in the scan's `PartitionFilters`
    * (asserted in IvfIndexSpec) — only the probed directories are listed
    * and read.
    */
  def indexScan(spark: SparkSession, path: String, cells: Array[Long]): DataFrame =
    spark.read.parquet(path).where(col("_cell").isin(cells: _*))

  /** ANN over a materialized [[ivfWriteIndex]] index: prune the scan to
    * the batch's probe cells, then the same broadcast join + bounded
    * top-k as [[ivfTopK]]. Equal to [[ivfTopK]] on the same corpus by
    * construction (asserted in IvfIndexSpec).
    */
  def ivfTopKIndexed(spark: SparkSession, path: String, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      centroids: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val q = probeSide(queries, qKey, qVec, centroids, nprobe)
    val c = indexScan(spark, path, probeCells(queries, qVec, centroids, nprobe))
      // partition-column values come back int-inferred from directory
      // names; normalize to the cell type the probe side produces
      .withColumn("_cell", col("_cell").cast("long"))
    cellJoinTopK(c, cKey, cVec, q, qKey, qVec, k)
  }

  /** PQ codebook from deterministic corpus samples (every `every`-th
    * key, ordered): sampled FULL vectors whose subspace slices are the
    * per-subspace codewords — one flat plan constant shared by
    * [[pqEncode]] and [[pqAdc]] (layout: see [[Pq]]).
    */
  def pqCodebook(corpus: DataFrame, key: String, vec: String,
      every: Long): Array[Array[Double]] =
    corpusCentroids(corpus, key, vec, every).map(_._2)

  /** PQ code column: `nSub` small ints per vector (codegen'd [[PqEncode]]). */
  def pqEncode(vec: Column, codebook: Array[Array[Double]], nSub: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(PqEncode(EU.expression(vec), codebook.flatten,
      codebook(0).length, nSub))
  }

  /** Asymmetric inner product of a raw query vector against a PQ code
    * (codegen'd [[PqAdc]]); bit-equal to `dot(q, reconstruction)`.
    */
  def pqAdc(qvec: Column, codes: Column, codebook: Array[Array[Double]],
      nSub: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(PqAdc(EU.expression(qvec), EU.expression(codes),
      codebook.flatten, codebook(0).length, nSub))
  }

  /** PQ approximate top-k by asymmetric inner product: the corpus is
    * ENCODED once (nSub ints per vector — the 10^12-vector memory play:
    * 8 bytes instead of 256 at nSub=8/dim=64), queries broadcast, and
    * each candidate costs one table-free ADC loop over codes. Ranking
    * is by the quantized inner product (recall < 1 from quantization
    * error; with every-vector-as-codeword the reconstruction is exact
    * and this equals brute force by inner product — asserted in
    * OpsSpec). In production this composes with IVF: cells prune WHICH
    * codes are scanned, PQ shrinks WHAT a scan reads — the two are
    * orthogonal, and this operator is the scan half.
    */
  def pqTopK(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      codebook: Array[Array[Double]], nSub: Int): DataFrame = {
    val enc = corpus.select(col(cKey).as("_k"),
      pqEncode(col(cVec), codebook, nSub).as("_codes"))
    topKExplode(
      enc.join(broadcast(queries.select(col(qKey), col(qVec))),
          col(qKey) =!= col("_k"))
        .select(col(qKey), col("_k"),
          pqAdc(col(qVec), col("_codes"), codebook, nSub).as("_s")),
      qKey, k)
  }

  /** IVF + PQ composed — the production ANN shape at 10^12 vectors:
    * the corpus index holds (cell, codes) per vector — the cell prunes
    * WHICH vectors a query scans (nprobe/|centroids| of the corpus),
    * the codes shrink WHAT the scan reads (nSub bytes, never the raw
    * vector) — and candidates rank by the asymmetric inner product.
    * With nprobe = all cells and an every-vector codebook this is
    * exactly brute force (asserted in OpsSpec); production recall
    * tuning is (nprobe, codebook size), orthogonal knobs.
    */
  def ivfPqTopK(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      centroids: Array[(Long, Array[Double])], nprobe: Int,
      codebook: Array[Array[Double]], nSub: Int): DataFrame = {
    val enc = corpus.select(col(cKey).as("_k"),
      ivfCell(col(cVec), centroids).as("_cell"),
      pqEncode(col(cVec), codebook, nSub).as("_codes"))
    val q = queries.select(col(qKey), col(qVec),
      explode(ivfProbes(col(qVec), centroids, nprobe)).as("_cell"))
    topKExplode(
      enc.join(broadcast(q), Seq("_cell"))
        .where(col(qKey) =!= col("_k"))
        .select(col(qKey), col("_k"),
          pqAdc(col(qVec), col("_codes"), codebook, nSub).as("_s")),
      qKey, k)
  }

  /** Exact re-rank of an approximate shortlist (the FAISS-style "refine"
    * stage): a quantized stage over-fetches `|shortlist|` candidates per
    * query; ONLY those candidates' raw vectors are then fetched and
    * re-scored by exact cosine. The reason this stage exists: heavy
    * quantization collapses nearby vectors to IDENTICAL codes, so their
    * ADC scores tie and the within-tie order is arbitrary — measured on a
    * clustered corpus (DiagRecall `gen:clustered`), raw 8-byte-PQ
    * recall@10 is ~0.15 because the true neighbors share one code word,
    * while the refined top-k is exact within the shortlist. Cost: the
    * candidate join touches |Q|·kRefine rows — INDEPENDENT of corpus
    * size; the corpus side is a broadcast-semi-shaped probe (the
    * shortlist broadcasts, the corpus never shuffles). Production PQ at
    * 10^12 vectors is exactly this two-phase shape: big quantized scan →
    * tiny exact re-rank.
    *
    * `shortlist` must carry `(query_id, neighbor_id)`; output matches
    * [[bruteForceTopK]]'s `(query_id, neighbor_id, rank, cos)` restricted
    * to shortlist members.
    */
  def refineTopK(shortlist: DataFrame, corpus: DataFrame, cKey: String,
      cVec: String, queries: DataFrame, qKey: String, qVec: String,
      k: Int): DataFrame = {
    val cands = shortlist.select(col("query_id"), col("neighbor_id"))
    val gathered = corpus
      .select(col(cKey).as("neighbor_id"), col(cVec).as("_nv"))
      .join(broadcast(cands), Seq("neighbor_id"))
    val scored = gathered
      .join(broadcast(queries.select(col(qKey).as("query_id"),
        col(qVec).as("_qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id").as("_k"),
        (dot(col("_qv"), col("_nv")) / (norm(col("_qv")) * norm(col("_nv"))))
          .as("_s"))
    topKExplode(scored, "query_id", k)
  }

  /** [[pqTopK]] composed with [[refineTopK]]: the quantized scan fetches
    * `k·refine` candidates, the exact stage re-ranks them to top-k.
    */
  def pqTopKRefined(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      codebook: Array[Array[Double]], nSub: Int, refine: Int = 4): DataFrame =
    refineTopK(
      pqTopK(corpus, cKey, cVec, queries, qKey, qVec, k * refine, codebook, nSub),
      corpus, cKey, cVec, queries, qKey, qVec, k)

  /** [[ivfPqTopK]] composed with [[refineTopK]] — the full production
    * query shape: cells prune WHICH vectors are scanned, codes shrink
    * WHAT the scan reads, and the exact stage re-ranks the shortlist.
    */
  def ivfPqTopKRefined(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      centroids: Array[(Long, Array[Double])], nprobe: Int,
      codebook: Array[Array[Double]], nSub: Int, refine: Int = 4): DataFrame =
    refineTopK(
      ivfPqTopK(corpus, cKey, cVec, queries, qKey, qVec, k * refine,
        centroids, nprobe, codebook, nSub),
      corpus, cKey, cVec, queries, qKey, qVec, k)

  /** Materialize the IVF+PQ index: (key, codes) written PARTITIONED BY
    * cell — the full production index build. Each vector persists as
    * its key plus nSub small ints (the raw vectors are NOT in the
    * index); probing reads only the probed cells' directories and only
    * code bytes. At 10^12 vectors this is the difference between an
    * index that fits hot storage and one that cannot.
    */
  def ivfPqWriteIndex(corpus: DataFrame, cKey: String, cVec: String,
      centroids: Array[(Long, Array[Double])],
      codebook: Array[Array[Double]], nSub: Int, path: String): Unit =
    corpus.select(col(cKey),
        pqEncode(col(cVec), codebook, nSub).as("_codes"),
        ivfCell(col(cVec), centroids).as("_cell"))
      .write.mode("overwrite").partitionBy("_cell").parquet(path)

  /** ANN over a materialized [[ivfPqWriteIndex]] index: prune the scan
    * to the probed cells ([[probeCells]] → `PartitionFilters`), rank by
    * ADC over the stored codes. ≡ [[ivfPqTopK]] (asserted in
    * IvfIndexSpec); the raw corpus is never touched at query time.
    */
  def ivfPqTopKIndexed(spark: SparkSession, path: String, cKey: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      centroids: Array[(Long, Array[Double])], nprobe: Int,
      codebook: Array[Array[Double]], nSub: Int): DataFrame = {
    val idx = indexScan(spark, path,
        probeCells(queries, qVec, centroids, nprobe))
      .withColumn("_cell", col("_cell").cast("long"))
      .withColumnRenamed(cKey, "_k")
    val q = queries.select(col(qKey), col(qVec),
      explode(ivfProbes(col(qVec), centroids, nprobe)).as("_cell"))
    topKExplode(
      idx.join(broadcast(q), Seq("_cell"))
        .where(col(qKey) =!= col("_k"))
        .select(col(qKey), col("_k"),
          pqAdc(col(qVec), col("_codes"), codebook, nSub).as("_s")),
      qKey, k)
  }

  /** Approximate top-k: like [[bruteForceTopK]] but each query only scans
    * its own LSH bucket (recall < 1, cost |corpus| / 2^bits per query).
    */
  def lshTopK(corpus: DataFrame, cKey: String, cVec: String,
      queries: DataFrame, qKey: String, qVec: String, k: Int,
      planes: Array[Array[Double]]): DataFrame = {
    val cB = corpus.withColumn("bucket", lshBucket(col(cVec), planes))
      .withColumn("_cn", norm(col(cVec)))
    val qB = queries.withColumn("bucket", lshBucket(col(qVec), planes))
      .withColumn("_qn", norm(col(qVec)))
    val scored = cB
      .join(broadcast(qB), Seq("bucket"))
      .where(col(qKey) =!= col(cKey))
      .withColumn("cos", dot(col(qVec), col(cVec)) / (col("_qn") * col("_cn")))
    val w = Window.partitionBy(col(qKey)).orderBy(col("cos").desc, col(cKey).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qKey).as("query_id"), col(cKey).as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cos"))
  }
}
