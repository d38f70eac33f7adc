package graft

import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured recall@k of the approximate ANN paths (IVF / PQ / IVF+PQ)
  * against exact brute force at REALISTIC settings — the tuning evidence
  * production deployments need (exactness is proven in OpsSpec only at
  * degenerate settings: all probes / every-vector codebooks). Prints a
  * markdown table; the ANN-recall section of BENCH/BASELINE.md is this
  * main's verbatim output, never hand-entered.
  *
  * The sf0.1 embeddings are i.i.d. uniform — the worst case for
  * cell-based pruning, so that sweep is the honest FLOOR. Real embedding
  * corpora cluster heavily (that is why IVF exists); `gen:clustered`
  * synthesizes a deterministic clustered corpus (splitmix64-seeded
  * centers + bounded noise, no RNG state) and runs the same sweep to
  * show what the SAME machinery yields when the data has the structure
  * production embeddings have.
  *
  * Usage: DiagRecall [sfDir | gen:clustered[:n[:nClusters]]] [nQueries] [k] [every]
  */
object DiagRecall {

  /** splitmix64 → uniform double in [-1, 1). Pure function of the seed:
    * byte-identical at any parallelism (same contract as SequenceGen).
    */
  private def u(seed: Long): Double = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** Deterministic clustered corpus in the embeddings.parquet shape
    * (vec_id long, embedding array&lt;float&gt;): vector i belongs to cluster
    * c = i mod nClusters; its components are center(c) + noise·u(i,d).
    * Centers are unit-scale and i.i.d. per (c,d), so with 64 dims they
    * are near-orthogonal — the separation real embedding clusters have.
    */
  def clusteredCorpus(spark: SparkSession, n: Int, dim: Int,
      nClusters: Int, noise: Double): DataFrame = {
    val rows = (0 until n).map { i =>
      val c = i % nClusters
      val v = Array.tabulate(dim) { d =>
        (u(c.toLong * 7919L + d) + noise * u(i.toLong * 104729L + d)).toFloat
      }
      (i.toLong, v)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nQ = if (args.length > 1) args(1).toInt else 64
    val k = if (args.length > 2) args(2).toInt else 10
    val every = if (args.length > 3) args(3).toLong else 61L
    val spark = Main.session("diag-recall", "ERROR")

    val emb =
      if (dir.startsWith("gen:clustered")) {
        val parts = dir.split(":")
        val n = if (parts.length > 2) parts(2).toInt else 2000
        val nc = if (parts.length > 3) parts(3).toInt else 32
        println(s"[recall] corpus mode: synthetic CLUSTERED " +
          s"($nc near-orthogonal centers, noise 0.25)")
        clusteredCorpus(spark, n, 64, nc, 0.25)
      } else spark.read.parquet(s"$dir/embeddings.parquet")
    val nVec = emb.count()
    val q = emb.where(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = Similarity.corpusCentroids(emb, "vec_id", "embedding", every)
    val cb = cents.map(_._2)
    val nSub = 8

    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).map { case (qid, rows) =>
          qid -> rows.map(_.getLong(1)).toSet
        }

    val truth = topSets(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k))

    def recall(ann: DataFrame): Double = {
      val got = topSets(ann)
      val per = truth.map { case (qid, t) =>
        got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }

    println(s"[recall] corpus=$nVec vectors (64-dim), queries=$nQ, k=$k, " +
      s"centroids/codewords=${cents.length} (every=$every), pq nSub=$nSub " +
      s"(8 bytes/vector vs 512 raw)")
    println("| Path | Setting | recall@" + k + " |")
    println("| --- | --- | --- |")
    for (nprobe <- Seq(1, 2, 4, 8, 16, cents.length)) {
      val r = recall(Similarity.ivfTopK(emb, "vec_id", "embedding",
        q, "qid", "qvec", k, cents, nprobe))
      val frac = f"scans ~${100.0 * nprobe / cents.length}%.0f%% of cells"
      println(f"| IVF | nprobe=$nprobe%2d/${cents.length} ($frac) | $r%.3f |")
    }
    // the same sweep after Lloyd refinement of the subsample codebook —
    // the frontier shift one (and three) distributed assign/update
    // iterations buy at equal nprobe cost
    for (iters <- Seq(1, 3)) {
      val centsR = Similarity.refineCentroids(emb, "embedding", cents, iters)
      for (nprobe <- Seq(1, 2, 4, 8, 16, centsR.length)) {
        val r = recall(Similarity.ivfTopK(emb, "vec_id", "embedding",
          q, "qid", "qvec", k, centsR, nprobe))
        println(f"| IVF Lloyd x$iters | nprobe=$nprobe%2d/${centsR.length} | $r%.3f |")
      }
    }
    val rPq = recall(Similarity.pqTopK(emb, "vec_id", "embedding",
      q, "qid", "qvec", k, cb, nSub))
    println(f"| PQ | ${cb.length} codewords x $nSub subspaces | $rPq%.3f |")
    for (refine <- Seq(4, 8)) {
      val rPqRef = recall(Similarity.pqTopKRefined(emb, "vec_id", "embedding",
        q, "qid", "qvec", k, cb, nSub, refine))
      println(f"| PQ+refine | same, exact re-rank of the ${refine}k ADC shortlist | $rPqRef%.3f |")
    }
    for (nprobe <- Seq(2, 4, 8)) {
      val r = recall(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        q, "qid", "qvec", k, cents, nprobe, cb, nSub))
      println(f"| IVF+PQ | nprobe=$nprobe%2d/${cents.length}, ${cb.length} codewords | $r%.3f |")
      val rr = recall(Similarity.ivfPqTopKRefined(emb, "vec_id", "embedding",
        q, "qid", "qvec", k, cents, nprobe, cb, nSub, refine = 4))
      println(f"| IVF+PQ+refine | nprobe=$nprobe%2d, exact re-rank of 4k shortlist | $rr%.3f |")
    }
    spark.stop()
  }
}
