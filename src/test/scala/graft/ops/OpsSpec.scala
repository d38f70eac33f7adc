package graft.ops

import graft.SparkSessionTestWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the cat sat on the mat and looked at the dog"),
    (1L, "the cat sat on the mat and looked at the dog"), // exact dup of 0
    (2L, "THE cat  sat on the mat and looked at the dog"), // normalized dup of 0
    (3L, "a completely different document about spark queries and shuffles"),
    (4L, "the cat sat on the mat and looked at the bird"), // near-dup of 0
    (5L, "el la de y es el la de y es"),
    (6L, "xx yy")
  ).toDF("doc_id", "text")

  test("portableHash matches an independent md5-based computation") {
    val got = docs.select(TextOps.portableHash(col("text"))).as[Long].head()
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("the cat sat on the mat and looked at the dog".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got == java.lang.Long.parseLong(hex.take(15), 16))
    // the JVM kernel used by SimhashOfText matches the SQL rendering
    for (w <- Seq("", "a", "word", "ünïcødé", "the cat"))
      assert(SimhashUtil.hash60(org.apache.spark.unsafe.types.UTF8String.fromString(w)) ==
        docs.sparkSession.range(1).select(
          TextOps.portableHash(lit(w))).as[Long].head(), s"hash60($w)")
  }

  test("DotProd ≡ aggregate(zip_with(...)) incl. float arrays, null elements, length mismatch") {
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val rnd = new scala.util.Random(7)
    val floats = (0 until 50).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1), Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "x", "y")
    val both = floats.select(
      Similarity.dot(col("x"), col("y")).as("expr"), hofDot(col("x"), col("y")).as("hof"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), "bitwise-equal sums"))

    // null semantics: null element → null; length mismatch → null; null array → null
    val edge = Seq(
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0)),
      (null, Seq[java.lang.Double](1.0))
    ).toDF("x", "y")
    val e = edge.select(Similarity.dot(col("x"), col("y")).as("expr"),
      hofDot(col("x"), col("y")).as("hof")).collect()
    e.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      assert(r.isNullAt(0), "edge cases must be null")
    }

    // SQL surface
    graft.GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT dot_prod(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .as[Double].head()
    assert(viaSql == 11.0)
  }

  test("all codegen'd kernels are SQL-callable (extension surface) ≡ their Scala-API forms") {
    graft.GraftFunctions.register(spark)
    val docs = Seq("the cat sat on the mat", "el perro y la casa", "x").toDF("text")
    docs.createOrReplaceTempView("gf_docs")

    val sqlDf = spark.sql(
      """SELECT shingles3(text) AS sh,
                simhash_of_text(text) AS sim,
                minhash_sig(text) AS ms,
                word_stats(text) AS ws
         FROM gf_docs""").collect()
    val apiDf = docs.select(
      Dedup.shingles(col("text")).as("sh"),
      Dedup.simhash(col("text")).as("sim"),
      graft.ops.TextOps.wordStats(col("text")).as("ws")).collect()
    sqlDf.zip(apiDf).foreach { case (s, a) =>
      assert(s.getSeq[String](0) == a.getSeq[String](0), "shingles3")
      assert(s.getLong(1) == a.getLong(1), "simhash_of_text")
      assert(s.getSeq[Long](3) == a.getSeq[Long](2), "word_stats")
    }
    // minhash_sig(text) array form ≡ the m0..m7 signature columns
    val msSql = sqlDf.map(_.getSeq[Long](2))
    val msApi = Dedup.minhashSignature(docs.withColumn("doc_id", col("text")), "doc_id", "text")
      .select(array((0 until 8).map(i => col(s"m$i")): _*)).collect().map(_.getSeq[Long](0))
    assert(msSql.toSeq == msApi.toSeq, "minhash_sig")
  }

  test("Shingles3 ≡ HOF shinglesOfWords form: same values, same order, edge cases") {
    val edge = Seq("", "one", "one two", "a b c", "a b c d", "a a a a a",
      "x  y   z q", " lead", "trail ",
      "the cat sat on the mat the cat sat on the mat").toDF("text")
    val rows = docs.select(col("text")).union(edge).select(
      Dedup.shingles(col("text")).as("fast"),
      Dedup.shinglesOfWords(col("text"), TextOps.words(col("text"))).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
    }
  }

  test("exact dedup groups normalized duplicates, keeps min id") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val dupGroup = groups.find(_.getAs[Long]("n_docs") == 3).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
    val drops = Dedup.exactDuplicates(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drops == Set((1L, 0L), (2L, 0L)))
  }

  test("fused MinhashSig ≡ HOF reference form (all k values, all docs)") {
    val fast = Dedup.minhashSignature(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val ref = Dedup.minhashSignatureRef(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(fast == ref)
  }

  test("minhash: identical docs identical sigs; near-dups agree on some hashes") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i)).toVector).toMap
    assert(sig(0L) == sig(1L))
    val agree04 = sig(0L).zip(sig(4L)).count { case (a, b) => a == b }
    val agree03 = sig(0L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(agree04 > agree03, s"near-dup agreement $agree04 should beat unrelated $agree03")
  }

  test("minhash LSH candidate pairs include the exact dup pair") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(sig, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 6L)))
  }

  test("simhash: hamming distance orders near-dup < unrelated") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(4L)) < ham(sh(0L), sh(3L)))
  }

  test("simhashDf (hash-once) is identical to the per-bit column form") {
    val fast = Dedup.simhashDf(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    // full 60-bit range in use: some doc sets a bit above 16
    assert(fast.values.exists(v => (v >>> 16) != 0L))
  }

  test("jaccard maxDf cap excludes hot boilerplate shingles") {
    // 10 docs sharing exactly one shingle ("w1 w2 w3"); every other
    // shingle is unique per doc
    val hot = (0 until 10).map(i => (i.toLong, s"w1 w2 w3 u$i v$i")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(hot, "doc_id", "text", 0.1).collect()
    assert(uncapped.length == 45, "all 10-choose-2 pairs via the shared shingle")
    val capped = Dedup.ngramJaccardPairs(hot, "doc_id", "text", 0.1, maxDf = 9).collect()
    assert(capped.isEmpty, "df-10 shingle past the cap contributes no pairs")
  }

  test("ngram jaccard: dup pair = 1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.05).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 4L)) > 0.5)
    assert(!pairs.contains((0L, 3L)))
  }

  test("quality features and language id") {
    val q = TextOps.qualityFeatures(docs, "text")
      .where(col("doc_id") === 0).collect()(0)
    assert(q.getAs[Long]("n_words") == 11L)
    assert(q.getAs[Double]("stopword_ratio") > 0.3) // the/on/the/and/at/the
    val langs = docs.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(0L) == "en")
    assert(langs(5L) == "es")
    assert(langs(6L) == "und")
  }

  test("cosine: orthogonal=0, identical=1, antiparallel=-1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 2.0f)),
      (2L, Array(3.0f, 0.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "v")
    val cos = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        Similarity.cosine(col("a.v"), col("b.v")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(cos((0L, 1L))) < 1e-12)
    assert(math.abs(cos((0L, 2L)) - 1.0) < 1e-12)
    assert(math.abs(cos((0L, 3L)) + 1.0) < 1e-12)
  }

  test("bruteForceTopK returns the true nearest neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.8f, 0.3f)))
      .toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(top == Seq(1L, 3L)) // by cosine: 1 (0.994) then 3 (0.936)
  }

  test("bruteForceTopKAgg (bounded aggregator) ≡ bruteForceTopK (window), long and string keys") {
    // 60 vectors on a circle, 5 queries, many partitions so merge() runs
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array((math.cos(i * 0.21) + 1.2).toFloat, (math.sin(i * 0.21) + 0.4).toFloat)))
      .toDF("vec_id", "embedding").repartition(7)
    val q = vecs.where(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val win = rows(Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 4))
    val agg = rows(Similarity.bruteForceTopKAgg(vecs, "vec_id", "embedding", q, "qid", "qvec", 4))
    assert(agg == win)

    val svecs = vecs.select(concat(lit("v"), format_string("%03d", col("vec_id"))).as("vec_id"),
      col("embedding"))
    val sq = q.select(concat(lit("v"), format_string("%03d", col("qid"))).as("qid"), col("qvec"))
    def srows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSeq
    val swin = srows(Similarity.bruteForceTopK(svecs, "vec_id", "embedding", sq, "qid", "qvec", 4))
    val sagg = srows(Similarity.bruteForceTopKAgg(svecs, "vec_id", "embedding", sq, "qid", "qvec", 4))
    assert(sagg == swin)
  }

  test("TopKByScore keeps ties ordered by key and bounds the buffer at k") {
    val agg = new Similarity.TopKByScore[String](3)
    val cands = Seq("e" -> 1.0, "b" -> 2.0, "d" -> 1.0, "a" -> 1.0, "c" -> 2.0)
      .map { case (k, s) => Similarity.Cand(k, s) }
    val b = cands.foldLeft(agg.zero)(agg.reduce)
    assert(b.items.length == 3)
    assert(agg.finish(b).map(_.key) == Seq("b", "c", "a")) // score desc, key asc
    // split/merge must agree with sequential reduce
    val (l, r) = cands.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged.items == b.items)
  }

  test("ivfTopK with nprobe = all cells is exactly brute force; fewer probes lose only recall") {
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array((math.cos(i * 0.6) * (1 + i % 3)).toFloat,
        (math.sin(i * 0.6) * (1 + i % 3)).toFloat)))
      .toDF("vec_id", "embedding").repartition(5)
    val cents = Similarity.corpusCentroids(vecs, "vec_id", "embedding", every = 11L)
    assert(cents.map(_._1).toSeq == Seq(0L, 11L, 22L, 33L, 44L))
    val q = vecs.where(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val brute = rows(Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 3))
    val full = rows(Similarity.ivfTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 3,
      cents, nprobe = cents.length))
    assert(full == brute) // probing every cell scans the whole corpus

    // narrow probe: results are a subset ranking (recall may drop, no junk)
    val narrow = Similarity.ivfTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 3,
      cents, nprobe = 2).collect()
    assert(narrow.length <= brute.length)
    val ranksByQ = narrow.groupBy(_.getLong(0)).values
    assert(ranksByQ.forall(rs => rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length)))
    // every cell id is one of the centroid ids, and cells partition the corpus
    val cellCounts = vecs.select(Similarity.ivfCell(col("embedding"), cents).as("cell"))
      .groupBy("cell").count().collect()
    assert(cellCounts.map(_.getLong(1)).sum == 50L)
    assert(cellCounts.map(_.getLong(0)).toSet.subsetOf(cents.map(_._1).toSet))
  }

  test("refineTopK: shortlist covering the corpus ≡ brute force; refine recovers PQ's tied-code order") {
    // 4 tight clusters of 12 vectors: heavy PQ quantization maps each
    // cluster to ONE code word, so raw ADC scores tie within a cluster
    // and the quantized top-k order is arbitrary — the case refine exists for
    val dim = 8
    val vecs = (0 until 48).map { i =>
      val c = i % 4
      val v = Array.tabulate(dim)(d =>
        (math.sin(c * 5 + d) + 0.02 * math.sin(i * 13 + d)).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding").repartition(5)
    val q = vecs.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // codebook = one sampled vector per cluster (every 13th: ids 0,13,26,39
    // hit clusters 0,1,2,3) → all cluster members share that code word
    val cb = Similarity.pqCodebook(vecs, "vec_id", "embedding", every = 13L)
    assert(cb.length == 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val brute = rows(Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 5))

    // refine over a shortlist that covers the whole corpus is exact
    val full = rows(Similarity.pqTopKRefined(vecs, "vec_id", "embedding",
      q, "qid", "qvec", 5, cb, nSub = 2, refine = 10))
    assert(full == brute)

    // raw quantized top-5 misses true neighbors (within-cluster ties);
    // a modest refine recovers them: true top-5 are same-cluster members,
    // the 12-member cluster fits the 5*4=20 shortlist
    def hits(df: org.apache.spark.sql.DataFrame): Int = {
      val t = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      df.select("query_id", "neighbor_id").collect()
        .count(r => t(r.getLong(0)).contains(r.getLong(1)))
    }
    val raw = hits(Similarity.pqTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 5, cb, nSub = 2))
    val refined = hits(Similarity.pqTopKRefined(vecs, "vec_id", "embedding",
      q, "qid", "qvec", 5, cb, nSub = 2, refine = 4))
    assert(refined == 20, s"refined recall must be total, got $refined/20")
    assert(raw <= refined)

    // IVF+PQ composed with refine: same exactness within the probed cells
    val cents = Similarity.corpusCentroids(vecs, "vec_id", "embedding", every = 13L)
    val ivfRef = rows(Similarity.ivfPqTopKRefined(vecs, "vec_id", "embedding",
      q, "qid", "qvec", 5, cents, nprobe = cents.length, cb, nSub = 2, refine = 10))
    assert(ivfRef == brute)
  }

  test("lshTopK agrees with brute force for same-bucket neighbors") {
    val planes = Similarity.hyperplanes(6, 2)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array((math.cos(i * 0.05) + 2).toFloat, (math.sin(i * 0.05) + 2).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") === 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 3)
      .collect().map(_.getLong(1)).toSet
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 3, planes)
      .collect().map(_.getLong(1)).toSet
    // tight cluster of directions → all in one bucket → identical top-k
    assert(lsh == brute)
  }

  test("TokenStats kernel ≡ declarative HOF oracle; repetition/oov ops over token arrays") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("toks", ArrayType(IntegerType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row(0L, Seq(1, 2, 3, 1, 2, 3, 1, 2)),          // repeated 3-grams
      Row(1L, Seq(5, 5, 5, 5, 5)),                   // one distinct gram
      Row(2L, Seq(7, 8)),                            // shorter than n
      Row(3L, Seq.empty[Int]),                       // empty
      Row(4L, null),                                 // null array
      Row(5L, Seq(1, null, 3, 4, 1, null, 3)),       // null elements
      Row(6L, Seq(-5, 99999999, 42)),                // out of 21-bit pack range + oov
      Row(7L, (0 until 40).map(i => i % 7)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row), 3), schema)

    for (n <- Seq(2, 3); vocab <- Seq(100, 49152)) {
      val got = df.select(col("id"), SeqOps.tokenStats(col("toks"), n, vocab).as("s"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
      val want = df.select(col("id"), SeqOps.tokenStatsRef(col("toks"), n, vocab).as("s"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
      assert(got == want, s"n=$n vocab=$vocab")
    }
    // spot-check semantics: doc 0 has 6 gram positions, 3 distinct
    val s0 = df.where(col("id") === 0)
      .select(SeqOps.tokenStats(col("toks"), 3, 100)).collect()(0).getSeq[Long](0)
    assert(s0 == Seq(8L, 6L, 3L, 0L))
    // null array → null stats
    assert(df.where(col("id") === 4)
      .select(SeqOps.tokenStats(col("toks"))).collect()(0).isNullAt(0))

    val rep = SeqOps.repetition(df.where(col("toks").isNotNull), "id", "toks")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rep(0L) == (6L, 0.5))   // 3 distinct of 6 positions
    assert(rep(1L) == (3L, 0.666667)) // 1 distinct of 3 positions, round 6
    assert(rep(2L) == (1L, 0.0))

    val oov = SeqOps.oovStats(df.where(col("toks").isNotNull), "id", "toks", vocab = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    val d6 = oov.find(_._1 == 6L).get
    assert(d6 == (6L, 1L, 3L, 2L)) // -5 and 99999999 are oov, 42 is not
    val d5 = oov.find(_._1 == 5L).get
    assert(d5._4 == 2L) // null elements count as oov

    // SQL registration parity
    graft.GraftFunctions.register(spark)
    df.createOrReplaceTempView("tokstats_t")
    val sqlForm = spark.sql(
      "SELECT id, token_stats(toks, 3, 100) AS s FROM tokstats_t WHERE toks IS NOT NULL")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val scalaForm = df.where(col("toks").isNotNull)
      .select(col("id"), SeqOps.tokenStats(col("toks"), 3, 100).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sqlForm == scalaForm)
  }

  test("TokenizeWords kernel ≡ declarative HOF oracle (multi-space, empty, unicode, null)") {
    val df = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "a  b"),            // empty word from the double space
      (2L, ""),                // one empty word
      (3L, " leading trailing "),
      (4L, "über naïve 日本語 café"),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "text")
    for (vocab <- Seq(7, 4096, 49152)) {
      val got = df.select(col("id"), SeqOps.tokenize(col("text"), vocab).as("t"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
      val want = df.select(col("id"), SeqOps.tokenizeRef(col("text"), vocab).as("t"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
      assert(got == want, s"vocab=$vocab")
    }
    // null text → null array, ids in [0, vocab)
    val vs = df.where(col("id") === 0)
      .select(SeqOps.tokenize(col("text"), 100)).collect()(0).getSeq[Int](0)
    assert(vs.length == 6 && vs.forall(v => v >= 0 && v < 100))
  }

  test("TokenGrams kernel ≡ declarative HOF oracle; token decontamination counts") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("toks", ArrayType(IntegerType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row(0L, Seq(1, 2, 3, 4, 5, 6)),                // plain
      Row(1L, Seq(9, 9, 9, 9, 9, 9)),                // one distinct gram
      Row(2L, Seq(7, 8)),                            // shorter than n
      Row(3L, Seq.empty[Int]),                       // empty → one "" gram
      Row(4L, null),                                 // null array
      Row(5L, Seq(1, null, 3, 4, 1, null, 3)),       // null elements → ø
      Row(6L, (0 until 30).map(i => i % 4)))         // heavy repetition
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row), 3), schema)

    for (n <- Seq(1, 3, 5)) {
      val got = df.select(col("id"), SeqOps.tokenGrams(col("toks"), n).as("g"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
      val want = df.select(col("id"), SeqOps.tokenGramsRef(col("toks"), n).as("g"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
      assert(got == want, s"n=$n")
    }
    // spot-check values: grams are comma-joined decimals, distinct,
    // first-occurrence order; short/empty docs gram as the whole array
    val g0 = df.where(col("id") === 0)
      .select(SeqOps.tokenGrams(col("toks"), 3)).collect()(0).getSeq[String](0)
    assert(g0 == Seq("1,2,3", "2,3,4", "3,4,5", "4,5,6"))
    assert(df.where(col("id") === 1)
      .select(SeqOps.tokenGrams(col("toks"), 3)).collect()(0).getSeq[String](0) == Seq("9,9,9"))
    assert(df.where(col("id") === 2)
      .select(SeqOps.tokenGrams(col("toks"), 3)).collect()(0).getSeq[String](0) == Seq("7,8"))
    assert(df.where(col("id") === 5)
      .select(SeqOps.tokenGrams(col("toks"), 3)).collect()(0).getSeq[String](0).head == "1,ø,3")
    assert(df.where(col("id") === 4)
      .select(SeqOps.tokenGrams(col("toks"), 3)).collect()(0).isNullAt(0))

    // decontamination: doc 0 shares grams 2,3,4 / 3,4,5 with the eval
    // doc [2,3,4,5]; doc 6 shares nothing with it
    val eval = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(100L, Seq(2, 3, 4, 5)))), schema)
    val scores = SeqOps.tokenContaminationScores(
        df.where(col("toks").isNotNull), "id", "toks", eval, "toks", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(scores(0L) == (4, 2L)) // grams 2,3,4 and 3,4,5 of 4 distinct
    assert(!scores.contains(6L))
    assert(!scores.contains(1L))

    // SQL registration parity
    graft.GraftFunctions.register(spark)
    df.createOrReplaceTempView("tokgrams_t")
    val sqlForm = spark.sql(
      "SELECT id, token_grams(toks, 3) AS g FROM tokgrams_t WHERE toks IS NOT NULL")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val scalaForm = df.where(col("toks").isNotNull)
      .select(col("id"), SeqOps.tokenGrams(col("toks"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sqlForm == scalaForm)
  }

  test("multimodal stub decode is deterministic and batch-shaped") {
    val meta = Multimodal.extractMeta(docs, "doc_id", "text").collect()
      .map(m => m.key -> m).toMap
    assert(meta.size == 7)
    assert(meta(0L) == meta(1L).copy(key = 0L)) // same bytes → same meta
    assert(meta.values.forall(m => m.width >= 16 && m.width < 640))
    assert(meta.values.forall(m => m.height >= 16 && m.height < 480))
    assert(meta.values.forall(m => Set("png", "jpeg", "webp")(m.format)))
    assert(meta(6L).n_bytes == 5L)
    val frames = Multimodal.sampleFrameOffsets(docs, "doc_id", "text", 4)
      .where(col("key") === 6).orderBy("frame_idx").collect()
    assert(frames.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L, 3L)) // floor(i*5/4)
  }

  test("rolling fingerprint is order-sensitive, bag fingerprint is not") {
    val d2 = Seq((0L, "a b c"), (1L, "c b a")).toDF("doc_id", "text")
    val r = d2.select(TextOps.rollingFingerprint(col("text"))).as[Long].collect()
    assert(r(0) != r(1))
  }

  test("fused WordStats kernels ≡ HOF reference forms (quality, langid, rolling; edges incl. null)") {
    val edge = Seq("", "the", "el la de", "ünïcødé wörds hère", "x  y   z",
      " lead", "trail ", "the the the the").map(Tuple1(_)).toDF("text")
      .union(Seq(Tuple1(null.asInstanceOf[String])).toDF("text"))
    val all = docs.select(col("text")).union(edge)

    val q = TextOps.qualityFeatures(all, "text")
      .select("text", "n_words", "stopword_ratio", "avg_word_len", "quality").collect()
    val qRef = TextOps.qualityFeaturesRef(all, "text")
      .select("text", "n_words", "stopword_ratio", "avg_word_len", "quality").collect()
    q.zip(qRef).foreach { case (a, b) => assert(a == b, s"quality mismatch: $a vs $b") }

    val l = all.select(TextOps.langId(col("text")), TextOps.langIdRef(col("text"))).collect()
    l.foreach(r => assert(r.get(0) == r.get(1), s"langid mismatch: $r"))

    val f = all.select(TextOps.rollingFingerprint(col("text")),
      TextOps.rollingFingerprintRef(col("text"))).collect()
    f.foreach(r => assert(r.get(0) == r.get(1), s"rolling mismatch: $r"))
  }

  test("classifier kernel ≡ HOF reference; hand arithmetic on a one-word doc") {
    val edge = Seq("", "the", "el la de", "ünïcødé wörds hère", "x  y   z",
      " lead", "trail ", "the the the the").map(Tuple1(_)).toDF("text")
      .union(Seq(Tuple1(null.asInstanceOf[String])).toDF("text"))
    val all = docs.select(col("text")).union(edge)
    val rows = all.select(TextOps.classifierLogit(col("text")).as("fast"),
      TextOps.classifierLogitRef(col("text")).as("ref")).collect()
    // exact binary-fraction weights → EXACT doubles, so the kernel's
    // interleaved summation and the reference's unigram+bigram split
    // must agree bit-for-bit (not just to a tolerance)
    rows.foreach(r => assert(r.get(0) == r.get(1),
      s"classifier mismatch: ${r.get(0)} vs ${r.get(1)}"))

    // one word → one feature: logit = bias + w[hash60(w) mod p mod K]
    val Seq(one) = Seq(Tuple1("hello")).toDF("text")
      .select(TextOps.classifierLogit(col("text"))).as[Double].collect().toSeq
    val h = graft.ops.SimhashUtil.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello")) %
      TextOps.HashPrime
    val want = TextOps.ClassifierBias +
      TextOps.ClassifierWeights((h % TextOps.ClassifierBuckets).toInt)
    assert(one == want)

    // the sigmoid form is monotone in the logit and bounded to (0,1)
    val s = all.where(col("text").isNotNull)
      .select(TextOps.classifierScore(col("text"))).as[Double].collect()
    assert(s.forall(v => v > 0.0 && v < 1.0))
  }

  test("fused lshBucket (DotProd planes) ≡ HOF reference form") {
    val planes = Similarity.hyperplanes(8, 16)
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "v")
    val rows = vecs.select(
      Similarity.lshBucket(col("v"), planes).as("fast"),
      Similarity.lshBucketRef(col("v"), planes).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // buckets actually spread (planes are non-degenerate)
    assert(rows.map(_.getLong(0)).distinct.length > 10)
  }

  test("pair expansion is O(bucket) per row: a 50k-doc degenerate bucket completes (capped out)") {
    // 50k identical docs → every band bucket holds all 50k ids. Under
    // the old in-row expansion that is ~1.25e9 pair structs in ONE row;
    // with the default cap (2000) the bucket is dropped and the query
    // completes in seconds. ngram side: one shared shingle, df=50k.
    val big = spark.range(50000).select(col("id").as("doc_id"), lit("w1 w2 w3 w4").as("text"))
    val sig = Dedup.minhashSignature(big, "doc_id", "text")
    assert(Dedup.minhashCandidatePairs(sig, "doc_id").count() == 0L)
    assert(Dedup.ngramJaccardPairs(big, "doc_id", "text", 0.1).count() == 0L)
  }

  test("pair expansion emits exactly the i<j pairs of an in-cap bucket") {
    // 60 identical docs, cap not hit → all 60*59/2 pairs, each once
    val small = spark.range(60).select(col("id").as("doc_id"), lit("p q r s").as("text"))
    val sig = Dedup.minhashSignature(small, "doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(sig, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 60 * 59 / 2)
    assert(pairs.toSet == (for { a <- 0L until 60L; b <- a + 1 until 60L } yield (a, b)).toSet)
  }

  test("bruteForceTopKAgg ≡ window on NaN scores (NaN corpus vector)") {
    // vec 2 carries a NaN component: its cosine is NaN (under ANSI a
    // zero norm would throw instead — NaN inputs are the reachable NaN
    // path). Spark sorts NaN greatest, so under desc it ranks FIRST —
    // the aggregator's Double.compare ordering must agree
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(Float.NaN, 0.5f)), (3L, Array(0.8f, 0.3f)))
      .toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    val win = rows(Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "qid", "qvec", 3))
    val agg = rows(Similarity.bruteForceTopKAgg(vecs, "vec_id", "embedding", q, "qid", "qvec", 3))
    assert(win.head._1 == 2L, "window ranks the NaN score first (Spark NaN-greatest)")
    assert(agg == win)
  }

  test("connectedComponents labels every node with its component min (chains, stars, strings)") {
    // component {0..5} as a pure CHAIN (diameter 5 — exercises pointer
    // jumping: plain propagation needs 5 rounds, jump+propagate log),
    // component {10,11,12} as a star, singleton pair {20,21}
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // string keys: lexicographic min is the canonical id (doc_ids sort)
    val sp = Seq(("d03", "d07"), ("d07", "d01")).toDF("a", "b")
    val gs = Dedup.connectedComponents(sp, "a", "b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gs == Map("d03" -> "d01", "d07" -> "d01", "d01" -> "d01"))
  }

  test("connectedComponents frees superseded checkpoint blocks (no per-round leak)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a 40-deep chain forces several propagate+jump rounds; the local
    // fast path is disabled so the ITERATIVE machinery is under test
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponentsAt(pairs, "a", "b", Dedup.Tiers(ccLocalEdges = 0))
    assert(!isLocal(out), "the iterative path must run")
    assert(out.where(col("cluster_id") === 0L).count() == 41L)
    val leaked = sc.getPersistentRDDs.keySet -- before
    // only the FINAL labels checkpoint may remain persisted — every
    // superseded round's copy and the edge blocks must be freed
    assert(leaked.size <= 1, s"leaked checkpoint RDDs: $leaked")
  }

  /** True when every leaf of the frame's plan is a LocalRelation. */
  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("connectedComponents ≡ brute-force transitive closure on a random pair graph") {
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // brute force: union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = nodes.map(n => n -> find(n)).toMap
    // default tiers: the LOCAL fast path (long keys, small edge count)
    val local = Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
    assert(isLocal(local), "a small long-keyed graph takes the local path")
    assert(local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
    // forced ITERATIVE path must agree row-for-row with the fast path
    val iter = Dedup.connectedComponentsAt(pairs.toDF("a", "b"), "a", "b",
      Dedup.Tiers(ccLocalEdges = 0))
    assert(!isLocal(iter), "the iterative path must run")
    assert(iter.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
  }

  test("PQ: every-vector-as-codeword reconstruction is exact — pqTopK ≡ brute force; ADC bit-equal to dot") {
    val rnd = new scala.util.Random(13)
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // codebook = EVERY corpus vector → encoding reconstructs exactly
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", every = 1L)
    val got = Similarity.pqTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 3, cb, nSub = 4)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force by INNER PRODUCT (what ADC approximates), same tie rule
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("_s").desc, col("_k").asc)
    val want = emb.crossJoin(q).where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("_k"),
        Similarity.dot(col("qvec"), col("embedding")).as("_s"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select(col("qid"), col("_k"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want)

    // ADC against a COARSE codebook is bit-equal to dot(q, reconstruction)
    val coarse = Similarity.pqCodebook(emb, "vec_id", "embedding", every = 7L)
    val flat = coarse.flatten
    val enc = emb.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), coarse, 4).as("codes")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Int]](1).toArray).toMap
    val qRows = q.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Double]](1).toArray).toMap
    val adc = emb.crossJoin(q)
      .select(col("qid"), col("vec_id"),
        Similarity.pqAdc(col("qvec"),
          Similarity.pqEncode(col("embedding"), coarse, 4), coarse, 4).as("s"))
      .collect()
    adc.foreach { r =>
      val codes = enc(r.getLong(1))
      val qv = qRows(r.getLong(0))
      var expect = 0.0
      for (s <- 0 until 4; j <- 0 until 4)
        expect += qv(s * 4 + j) * flat(codes(s) * 16 + s * 4 + j)
      assert(r.getDouble(2) == expect, s"ADC bitwise at (${r.getLong(0)},${r.getLong(1)})")
    }

    // null edges: null vector / wrong length → null code; null code → null score
    val edge = Seq(
      (0L, null.asInstanceOf[Array[Double]]),
      (1L, Array.fill(5)(0.1))
    ).toDF("id", "v")
    val e = edge.select(Similarity.pqEncode(col("v"), coarse, 4).as("c")).collect()
    assert(e.forall(_.isNullAt(0)))
  }

  test("ivfPqTopK with all probes and every-vector codebook ≡ brute force; fewer probes lose only recall") {
    val rnd = new scala.util.Random(17)
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = Similarity.corpusCentroids(emb, "vec_id", "embedding", every = 11L)
    val cbAll = Similarity.pqCodebook(emb, "vec_id", "embedding", every = 1L)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = collect(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      q, "qid", "qvec", 3, cents, nprobe = cents.length, cbAll, nSub = 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("_s").desc, col("_k").asc)
    val brute = emb.crossJoin(q).where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("_k"),
        Similarity.dot(col("qvec"), col("embedding")).as("_s"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select(col("qid"), col("_k"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == brute,
      "all-probes + exact-reconstruction IVFPQ must equal brute force")
    // fewer probes: still 3 ranked results per query, a subset ranking
    val pruned = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      q, "qid", "qvec", 3, cents, nprobe = 2, cbAll, nSub = 4)
    assert(pruned.groupBy("query_id").count().collect().forall(_.getLong(1) <= 3))
  }

  test("simhashNearDupPairs ≡ brute-force hamming filter (banding is exact for maxDist < nBands)") {
    // near-dup families: shared prefixes with 1-2 word edits produce
    // small hamming distances; unrelated docs land far apart
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val rows = (0 until 40).map { i =>
      val t = i % 4 match {
        case 0 => base
        case 1 => base.replace("dog", s"cat$i")
        case 2 => base.replace("quick", s"slow$i").replace("dog", s"cat$i")
        case _ => s"completely unrelated document number $i about spark and shuffles and joins"
      }
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(rows, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sig = Dedup.simhashDf(rows, "doc_id", "text")
    val l = sig.select(col("doc_id").as("a"), col("simhash").as("ha"))
    val r = sig.select(col("doc_id").as("b"), col("simhash").as("hb"))
    val want = l.crossJoin(r).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        Dedup.hammingDist(col("ha"), col("hb")).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == want)
    assert(want.nonEmpty, "the fixture must actually produce near-dup pairs")
    assert(want.exists(_._3 > 0), "some pairs must be near (hamming > 0), not just exact")
  }

  test("piiScan counts and redacts emails, IPv4s, phones; clean text untouched") {
    val rows = Seq(
      (0L, "write to a.b-c%d@sub.example.org or x@y.io today"),
      (1L, "server 10.0.255.7 and 192.168.1.1 up"),
      (2L, "call 555-867-5309 now"),
      (3L, "mixed u@v.com at 8.8.8.8 call 111-222-3333"),
      (4L, "no pii here just words"),
      (5L, "not an ip 1.2.3 and not a phone 12-345-6789")
    ).toDF("doc_id", "text")
    val got = TextOps.piiScan(rows, "text")
      .select("doc_id", "n_email", "n_ipv4", "n_phone", "redacted")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(0L) == ((2L, 0L, 0L, "write to <EMAIL> or <EMAIL> today")))
    assert(got(1L) == ((0L, 2L, 0L, "server <IP> and <IP> up")))
    assert(got(2L) == ((0L, 0L, 1L, "call <PHONE> now")))
    assert(got(3L) == ((1L, 1L, 1L, "mixed <EMAIL> at <IP> call <PHONE>")))
    assert(got(4L) == ((0L, 0L, 0L, "no pii here just words")))
    assert(got(5L) == ((0L, 0L, 0L, "not an ip 1.2.3 and not a phone 12-345-6789")))
  }

  test("repetitionFeatures: dup_ratio 0 for unique 3-grams, rises with repetition") {
    val rows = Seq(
      (0L, "a b c d e"),                 // 3 positions, all distinct
      (1L, "x y x y x y x y"),           // 6 positions, 2 distinct shingles
      (2L, "w w w w"),                   // 2 positions, 1 distinct
      (3L, "short one")                  // <3 words: 1 trivially unique shingle
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionFeatures(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(0L) == ((3L, 0.0)))
    assert(got(1L) == ((6L, math.round((1.0 - 2.0 / 6) * 1e6) / 1e6)))
    assert(got(2L) == ((2L, 0.5)))
    assert(got(3L) == ((1L, 0.0)))
  }

  test("incremental dedup ≡ full-corpus LSH pairs restricted to new endpoints") {
    val all = Seq(
      (0L, "the cat sat on the mat and looked at the dog"),
      (1L, "the cat sat on the mat and looked at the dog"),   // old-old dup
      (7L, "the cat sat on the mat and looked at the dog"),   // new dup of 0,1
      (3L, "a completely different document about spark queries"),
      (17L, "a completely different document about spark queries"), // new dup of 3
      (27L, "one more text that matches nothing else at all"),      // new singleton
      (2L, "the cat sat on the mat and looked at the bird")
    ).toDF("doc_id", "text")
    val newB = all.where(col("doc_id") % 10 === 7)
    val oldB = all.where(col("doc_id") % 10 =!= 7)
    val path = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
    Dedup.minhashWriteIndex(oldB, "doc_id", "text", path)
    val inc = Dedup.minhashIncrementalPairs(spark, path, newB, "doc_id", "text")
    val got = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidatePairs(
        Dedup.minhashSignature(all, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = full.filter(p => p._1 % 10 == 7 || p._2 % 10 == 7)
    assert(got == want)
    assert(want.nonEmpty, "test corpus must produce new-touching pairs")
    assert(full.exists(p => p._1 % 10 != 7 && p._2 % 10 != 7),
      "test corpus must have old-only pairs the incremental op excludes")
    // the probe is index-shaped: batch bands broadcast into a LEFT SEMI
    // against the stored band rows — no corpus text on the plan
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
  }

  test("incremental exact dedup ≡ full-corpus drop-list restricted to new keys") {
    val all = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "The cat  sat on the mat"),    // old-old normalized dup of 0
      (7L, "THE CAT SAT ON THE MAT "),    // new normalized dup of 0,1
      (3L, "something else entirely"),
      (17L, "something else entirely"),   // new dup of 3
      (27L, "a new batch singleton"),
      (37L, "repeated within the batch"),
      (47L, "repeated within the batch"), // new-new dup of 37
      (2L, "an old-only singleton")
    ).toDF("doc_id", "text")
    val newB = all.where(col("doc_id") % 10 === 7)
    val oldB = all.where(col("doc_id") % 10 =!= 7)
    val path = java.nio.file.Files.createTempDirectory("graft_fp_idx").toString
    Dedup.exactWriteIndex(oldB, "doc_id", "text", path)
    val inc = Dedup.exactIncrementalDuplicates(spark, path, newB, "doc_id", "text")
    val got = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.exactDuplicates(all, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = full.filter(_._1 % 10 == 7)
    assert(got == want)
    assert(got == Set((7L, 0L), (17L, 3L), (47L, 37L)))
    assert(full.exists(_._1 % 10 != 7), "corpus must have old-only dups the op excludes")
    // probe is index-shaped: batch fingerprints broadcast into a LEFT
    // SEMI against the stored index — no corpus text on the plan
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
  }

  test("index append: day-2 probe sees day-1 docs folded into both index kinds") {
    // day 0 corpus, day 1 batch appended, day 2 batch probes: its dups
    // against day-0 AND day-1 members must surface — the full daily loop
    val day0 = Seq(
      (0L, "the cat sat on the mat and looked at the dog"),
      (2L, "an old singleton that matches nothing else here")
    ).toDF("doc_id", "text")
    val day1 = Seq(
      (11L, "a brand new day one document about spark windows")
    ).toDF("doc_id", "text")
    val day2 = Seq(
      (21L, "the cat sat on the mat and looked at the dog"),   // dup of day-0 #0
      (22L, "a brand new day one document about spark windows"), // dup of day-1 #11
      (23L, "a day two singleton unlike anything previous")
    ).toDF("doc_id", "text")

    val fpIdx = java.nio.file.Files.createTempDirectory("graft_fp_app").toString
    Dedup.exactWriteIndex(day0, "doc_id", "text", fpIdx)
    Dedup.exactAppendIndex(day1, "doc_id", "text", fpIdx)
    val gotExact = Dedup.exactIncrementalDuplicates(spark, fpIdx, day2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotExact == Set((21L, 0L), (22L, 11L)))

    val mhIdx = java.nio.file.Files.createTempDirectory("graft_mh_app").toString
    Dedup.minhashWriteIndex(day0, "doc_id", "text", mhIdx)
    Dedup.minhashAppendIndex(day1, "doc_id", "text", mhIdx)
    val gotPairs = Dedup.minhashIncrementalPairs(spark, mhIdx, day2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairs are (a < b); both cross-day dups must appear
    assert(gotPairs.contains((0L, 21L)) && gotPairs.contains((11L, 22L)), gotPairs.toString)
  }

  test("repetitionFeatures: null text nulls out (no misleading n_grams=1)") {
    val rows = Seq((0L, "a b c d e"), (1L, null)).toDF("doc_id", "text")
    val got = TextOps.repetitionFeatures(rows, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getLong(1) == 3L)
    assert(got(1L).isNullAt(1), "null text must yield null n_grams")
    assert(got(1L).isNullAt(2), "null text must yield null dup_ratio")
  }

  test("over-cap LSH buckets are observable via the dropped-bucket metric") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var observed = Map.empty[String, Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        observed ++= qe.observedMetrics
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 5 identical docs → every band collapses to ONE bucket of 5 > cap 3
      // (dropped); 2 other identical docs → 4 surviving buckets of 2
      // whose single pair keeps the output non-empty (an entirely-empty
      // result would let AQE's empty-relation propagation drop the
      // metrics node — documented caveat on observeCap)
      val docs2 = ((0L until 5L).map(i => (i, "the cat sat on the mat and looked")) ++
        Seq((10L, "an entirely different pair of documents colliding together"),
            (11L, "an entirely different pair of documents colliding together")))
        .toDF("doc_id", "text")
      val sig = Dedup.minhashSignature(docs2, "doc_id", "text")
      val pairs = Dedup.minhashCandidatePairs(sig, "doc_id", maxBucket = 3).collect()
      assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)),
        "capped-out buckets produce no pairs; in-cap buckets still pair")
      // listener delivery is async — poll
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!observed.keys.exists(_.startsWith("graft_minhash_buckets")) &&
             System.nanoTime() < deadline) Thread.sleep(50)
      val m = observed.collectFirst {
        case (k, v) if k.startsWith("graft_minhash_buckets") => v
      }.getOrElse(fail("dropped-bucket metric was not observed"))
      assert(m.getAs[Long]("n_buckets") == 8L, m.toString)    // 4 dropped + 4 kept
      assert(m.getAs[Long]("n_dropped_overcap") == 4L, m.toString)
    } finally spark.listenerManager.unregister(listener)
  }

  test("contaminationScores: overlap counts against a benchmark set; zero-overlap docs absent") {
    val corpus = Seq(
      (0L, "the cat sat on the mat today"),   // shares shingles with bench doc
      (1L, "completely unrelated text about shuffles and joins"),
      (2L, "the cat sat down")                // shares exactly "the cat sat"
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val got = Dedup.contaminationScores(corpus, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc 0: shingles of bench (4 of them) all appear among doc 0's 5
    assert(got(0L) == ((4L, 0.8)))
    // doc 2: "the cat sat" only, of its 2 shingles
    assert(got(2L) == ((1L, 0.5)))
    assert(!got.contains(1L), "zero-overlap docs must produce no row")
    // the benchmark side reaches the join as a broadcast (plan-level)
    val plan = Dedup.contaminationScores(corpus, "doc_id", "text", bench, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("decontamination guard: oversized eval sets fall back (count gate, then shuffle semi), identical output") {
    // The eval-side broadcast is a CONTRACT ("eval benchmarks are
    // small"), now enforced like the incremental probes: past the
    // benchMaxBytes estimate gate a count job decides broadcast vs
    // shuffle semi. Both fallback stages must be bit-identical to the
    // direct-broadcast path, for the text AND token forms.
    val corpus = Seq(
      (0L, "the cat sat on the mat today"),
      (1L, "completely unrelated text about shuffles and joins"),
      (2L, "the cat sat down")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val tokCorpus = corpus.select(col("doc_id"),
      SeqOps.tokenize(col("text"), 4096).as("toks"))
    val tokBench = bench.select(col("doc_id"),
      SeqOps.tokenize(col("text"), 4096).as("toks"))
    def textRun(t: Dedup.Tiers) =
      Dedup.contaminationScoresAt(corpus, "doc_id", "text", bench, "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def tokRun(t: Dedup.Tiers) = SeqOps.tokenContaminationScoresAt(
        tokCorpus, "doc_id", "toks", tokBench, "toks", 3, t)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val (textWant, tokWant) = (textRun(Dedup.Tiers()), tokRun(Dedup.Tiers()))
    assert(textWant.nonEmpty && tokWant.nonEmpty)
    // stage 1: estimate gate trips, count job says "still broadcastable";
    // stage 2: count gate trips too — plain shuffle semi join
    for (t <- Seq(Dedup.Tiers(deconBenchBytes = 0),
        Dedup.Tiers(deconBenchBytes = 0, broadcastKeys = 0))) {
      assert(textRun(t) == textWant, t)
      assert(tokRun(t) == tokWant, t)
    }
  }

  private lazy val segDocs = Seq(
    // width 3 → segments: doc 10 = [A, B], doc 11 = [B, C],
    // doc 12 = one short chunk, doc 13 = [A, A] (within-doc repeat of a
    // segment whose first occurrence belongs to doc 10)
    (10L, "a1 a2 a3 b1 b2 b3"),
    (11L, "b1 b2 b3 c1 c2 c3"),
    (12L, "d1 d2"),
    (13L, "a1 a2 a3 a1 a2 a3")
  ).toDF("doc_id", "text")

  test("segmentStats: corpus-wide occurrence counts, within-doc repeats included") {
    val stats = Dedup.segmentStats(segDocs, "doc_id", "text", width = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats(10L) == ((2L, 2L))) // A appears 3x corpus-wide, B 2x
    assert(stats(11L) == ((2L, 1L))) // B duplicated, C unique
    assert(stats(12L) == ((1L, 0L))) // short last chunk still counts
    assert(stats(13L) == ((2L, 2L))) // both its A occurrences duplicated
  }

  test("dropDuplicateSegments: global first occurrence survives, docs rebuilt in order") {
    val rw = Dedup.dropDuplicateSegments(segDocs, "doc_id", "text", width = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rw(10L) == (("a1 a2 a3 b1 b2 b3", 2L, 2L))) // owns both first occurrences
    assert(rw(11L) == (("c1 c2 c3", 2L, 1L)))          // B deduped away
    assert(rw(12L) == (("d1 d2", 1L, 1L)))
    assert(rw(13L) == (("", 2L, 0L)))                  // fully deduplicated, row kept
  }

  test("rollingGramStats catches a SHIFTED copy that fixed-window segments miss") {
    // doc 31 repeats doc 30's words 3..11 at a different offset: no
    // width-3 chunk boundary aligns, but rolling 3-grams collide
    val docs = Seq(
      (30L, "a b c d e f g h i j k l"),
      (31L, "x y d e f g h i j k z w")
    ).toDF("doc_id", "text")
    val seg = Dedup.segmentStats(docs, "doc_id", "text", width = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(seg == Map(30L -> 0L, 31L -> 0L),
      "chunked segments must NOT align across the shift (that is the gap)")
    val roll = Dedup.rollingGramStats(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // shared word run d..k (8 words) → 6 shared 3-grams in each doc
    assert(roll == Map(30L -> ((10L, 6L)), 31L -> ((10L, 6L))))
  }

  test("rolling_hashes SQL registration ≡ the Scala expression form") {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    graft.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("rollhash_t")
    val sqlForm = spark.sql(
      "SELECT doc_id, rolling_hashes(text, 3) AS hs FROM rollhash_t WHERE text IS NOT NULL")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val scalaForm = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        EU.column(RollingHashes(EU.expression(col("text")), 3)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sqlForm == scalaForm)
  }

  test("RollingHashes kernel ≡ string-keyed reference across gram widths and edge shapes") {
    val rnd = new scala.util.Random(47)
    def doc(): String = (0 until 1 + rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(9)}").mkString(" ")
    val edge = Seq((9000L, ""), (9001L, "solo"), (9002L, "a b c"),
      (9003L, "x x x x x x"), (9004L, "a  b")) // doubled space → empty word
    val docs = ((0 until 300).map(i => (i.toLong, doc())) ++ edge).toDF("doc_id", "text")
    for (k <- Seq(1, 3, 8)) {
      val got = Dedup.rollingGramStats(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Dedup.rollingGramStatsRef(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"k=$k kernel diverged from the string-keyed reference")
    }
  }

  test("duplicateSpans kernel ≡ string-keyed reference, incl. short-doc end clamps") {
    val rnd = new scala.util.Random(53)
    def doc(): String = (0 until 1 + rnd.nextInt(20)).map(_ => s"w${rnd.nextInt(6)}").mkString(" ")
    // tiny vocab → plenty of cross-doc dup grams; short docs (< k
    // words) exercise the recounted end clamp
    val docs = ((0 until 250).map(i => (i.toLong, doc())) ++
      Seq((8000L, "w0 w1"), (8001L, "w0 w1"))).toDF("doc_id", "text")
    for (kk <- Seq(3, 8)) {
      val got = Dedup.duplicateSpans(docs, "doc_id", "text", kk)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Dedup.duplicateSpansRef(docs, "doc_id", "text", kk)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"k=$kk kernel spans diverged from the reference")
    }
    // the clamp itself: the 2-word dup docs span words 0..1, not 0..k-1
    val short = Dedup.duplicateSpans(docs, "doc_id", "text", 8)
      .where(col("doc_id") >= 8000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(short == Set((8000L, 0L, 1L), (8001L, 0L, 1L)))
  }

  test("duplicateSpans: dup grams merge into maximal word-index spans") {
    val docs = Seq(
      // doc 41 copies doc 40's words 0-4 AND words 8-12, separated by
      // unique filler → two maximal spans, not one
      (40L, "p q r s t u1 u2 u3 m n o v w"),
      (41L, "p q r s t f1 f2 f3 m n o v w")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // grams 0..2 cover words 0-4; grams 8..10 cover words 8-12
    assert(spans == Set((40L, 0L, 4L), (41L, 0L, 4L),
      (40L, 8L, 12L), (41L, 8L, 12L)))
    // a doc with no duplicated gram emits nothing
    val lone = Dedup.duplicateSpans(
      docs.union(Seq((42L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text")),
      "doc_id", "text", k = 3)
    assert(!lone.collect().map(_.getLong(0)).contains(42L))
    // the gate-able scalar: 10 of 13 words covered; span-free doc → 0
    val frac = Dedup.duplicateSpanFraction(
      docs.union(Seq((42L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text")),
      "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(frac == Map(40L -> ((13L, 10L)), 41L -> ((13L, 10L)), 42L -> ((4L, 0L))))
  }

  test("segmentIncrementalRewrite: old wins regardless of key order; append feeds the next probe") {
    val idx = java.nio.file.Files.createTempDirectory("graft_segidx").toString + "/idx"
    // OLD corpus has LARGER keys than the batch — key order must not
    // matter against the immutable corpus
    val old = Seq((100L, "a1 a2 a3 z1 z2 z3")).toDF("doc_id", "text")
    Dedup.segmentWriteIndex(old, "doc_id", "text", idx, width = 3)
    val batch1 = Seq(
      (1L, "a1 a2 a3 b1 b2 b3"), // A owned by old doc 100 → dropped; B kept
      (2L, "b1 b2 b3 c1 c2 c3")  // B loses to batch doc 1; C kept
    ).toDF("doc_id", "text")
    val rw1 = Dedup.segmentIncrementalRewrite(spark, idx, batch1, "doc_id", "text", width = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(rw1 == Map(1L -> (("b1 b2 b3", 1L)), 2L -> (("c1 c2 c3", 1L))))
    // fold batch 1 in; a second batch must now lose to batch 1's segments
    Dedup.segmentAppendIndex(batch1, "doc_id", "text", idx, width = 3)
    val batch2 = Seq((3L, "c1 c2 c3 d1 d2 d3")).toDF("doc_id", "text")
    val rw2 = Dedup.segmentIncrementalRewrite(spark, idx, batch2, "doc_id", "text", width = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(rw2 == Map(3L -> (("d1 d2 d3", 1L))))
  }

  test("segmentIncrementalRewrite ≡ full-corpus rewrite when old keys precede batch keys") {
    val idx = java.nio.file.Files.createTempDirectory("graft_segidx2").toString + "/idx"
    val rnd = new scala.util.Random(43)
    def text(): String = (0 until 9).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
    val all = (0 until 200).map(i => (i.toLong, text())).toDF("doc_id", "text")
    val old = all.where(col("doc_id") < 120)
    val batch = all.where(col("doc_id") >= 120)
    Dedup.segmentWriteIndex(old, "doc_id", "text", idx, width = 3)
    val got = Dedup.segmentIncrementalRewrite(spark, idx, batch, "doc_id", "text", width = 3)
      .collect().map(_.toSeq).toSet
    // with old ids strictly below batch ids, old-wins == global first
    // occurrence, so the full-corpus rewrite restricted to batch keys
    // must agree exactly
    val want = Dedup.dropDuplicateSegments(all, "doc_id", "text", width = 3)
      .where(col("doc_id") >= 120).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("segment index probe prunes at storage level: only the batch's buckets are listed") {
    val idx = java.nio.file.Files.createTempDirectory("graft_segidx3").toString + "/idx"
    // 200 distinct segments spread across 16 buckets; the 1-segment
    // batch must touch a strict subset of directories
    val old = (0 until 200).map(i => (i.toLong, s"o${i}a o${i}b o${i}c"))
      .toDF("doc_id", "text")
    Dedup.segmentWriteIndex(old, "doc_id", "text", idx, width = 3, nPartBuckets = 16)
    val batch = Seq((500L, "w1 w2 w3")).toDF("doc_id", "text")
    val out = Dedup.segmentIncrementalRewrite(spark, idx, batch, "doc_id", "text",
      width = 3, nPartBuckets = 16)
    // inspect the PRE-EXECUTION plan: once this batch (whose segment
    // misses the index) runs, AQE's empty-relation propagation folds
    // the entire probe branch away — scan included — so the pruning
    // evidence lives in the initial adaptive plan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
    }.flatten
    val fileScans = scans(out.queryExecution.executedPlan)
    assert(fileScans.nonEmpty,
      s"the index read must be a file scan:\n${out.queryExecution.executedPlan.treeString}")
    val fs = fileScans.head
    assert(fs.partitionFilters.nonEmpty,
      "the _pb predicate must land in PartitionFilters, not a post-scan Filter")
    assert(fs.selectedPartitions.partitionCount == 1,
      s"a one-segment batch probes exactly one bucket, listed ${fs.selectedPartitions.partitionCount}")
  }

  test("dropDuplicateSegments: partitioning-invariant, null keys/text excluded") {
    val withNulls = segDocs.union(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(null, "a1 a2 a3"), Row(14L, null))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))))
    def run(parts: Int) =
      Dedup.dropDuplicateSegments(withNulls.repartition(parts), "doc_id", "text", width = 3)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val one = run(1)
    assert(one == run(7), "first-occurrence choice must not depend on partitioning")
    assert(one.map(_._1) == Set(10L, 11L, 12L, 13L), "null key/text rows are excluded")
  }

  test("attachDupGroups cold path: pure window plan — single corpus scan, kernel never recomputed") {
    // With no hot vocabulary (every realistic corpus shard), the attach
    // MUST compile to the plain single-window plan: exactly one file
    // scan (the kernel runs once) and no salting/joining machinery. The
    // strategy probe's sample job is eager and leaves no trace in the
    // final plan. Parquet-backed input: local relations constant-fold
    // the kernels and hide recompute regressions.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val dir = java.nio.file.Files.createTempDirectory("dupplan").toString + "/docs"
    Seq(
      (0L, "a b c d e f g h i j"), (1L, "a b c d e f g h i j"),
      (2L, "x y z w v u t s r q"), (3L, "p q r"),
      (4L, "a b c d e f g h i j k l")
    ).toDF("doc_id", "text").write.parquet(dir)
    val pq = spark.read.parquet(dir)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Int)] = Seq(
      ("exactDuplicates", Dedup.exactDuplicates(pq, "doc_id", "text"), 1),
      ("segmentStats", Dedup.segmentStats(pq, "doc_id", "text", width = 4), 1),
      ("dropDuplicateSegments",
        Dedup.dropDuplicateSegments(pq, "doc_id", "text", width = 4), 1),
      ("rollingGramStats", Dedup.rollingGramStats(pq, "doc_id", "text", k = 4), 1),
      ("duplicateSpans", Dedup.duplicateSpans(pq, "doc_id", "text", k = 4), 1),
      // spanFraction = the spans run (1 kernel scan) + the cheap
      // size(split) word-count scan — 2 file scans, still 1 kernel
      ("duplicateSpanFraction",
        Dedup.duplicateSpanFraction(pq, "doc_id", "text", k = 4), 2)
    )
    for ((name, d, expectedScans) <- cases) {
      d.collect()
      val nodes = allNodes(d.queryExecution.executedPlan)
      val scans = nodes.count(_.isInstanceOf[FileSourceScanExec])
      assert(scans == expectedScans,
        s"$name: expected $expectedScans corpus scan(s), planned $scans — " +
          s"branch recompute regression\n${d.queryExecution.executedPlan.treeString.take(4000)}")
      assert(!d.queryExecution.executedPlan.treeString.contains("_salt"),
        s"$name: cold corpus took the salted hot path — strategy probe broken")
    }
  }

  test("attachDupGroups hot path: detected hot key routes through salts, results exact") {
    // A fingerprint duplicated 100k× in a 200k-doc corpus is caught by
    // the deterministic 1/1024 sample (expected ~98 sampled hits, well
    // past HotSampledMin = 32) and must route through the salted
    // window, with results BIT-IDENTICAL to the cold semantics
    // (routing is the only thing detection affects — the oracle
    // property). The unique docs carry a 64-hex-digit tail, written
    // uncompressed, so the input's file size clears the 4 MiB
    // small-input probe skip and routing is under test.
    val dir = java.nio.file.Files.createTempDirectory("duphot").toString + "/docs"
    spark.range(200000).selectExpr("id AS doc_id",
      "CASE WHEN id % 2 = 1 THEN 'the same hot doc body here' " +
      "ELSE concat('unique tail ', sha2(cast(id AS string), 256), ' words') END AS text")
      .write.option("compression", "none").parquet(dir)
    val pq = spark.read.parquet(dir)
    val drops = Dedup.exactDuplicates(pq, "doc_id", "text")
    // the salted plan must actually be chosen
    drops.collect()
    assert(drops.queryExecution.executedPlan.treeString.contains("_salt"),
      "hot corpus did not take the salted path — strategy probe broken")
    // exact semantics: all odd ids except the minimum (1) are dropped,
    // every drop row names the survivor
    val got = drops.as[(Long, Long)].collect()
    assert(got.length == 99999)
    assert(got.forall { case (id, keep) => id % 2 == 1 && id != 1L && keep == 1L })
    // a boilerplate-SIZED group (df ~2k) must stay cold: the hot branch
    // exists for task-scale keys only (see HotSampledMin). 600k rows
    // put the leaf estimate (8 bytes a row) past the probe skip too.
    val mild = spark.range(600000).selectExpr("id AS doc_id",
      "CASE WHEN id % 300 = 1 THEN 'mildly duplicated body' " +
      "ELSE concat('unique tail ', id, ' words') END AS text")
    val mildDrops = Dedup.exactDuplicates(mild, "doc_id", "text")
    assert(mildDrops.count() == 1999L)
    assert(!mildDrops.queryExecution.executedPlan.treeString.contains("_salt"),
      "boilerplate-sized group took the hot path — threshold miscalibrated")
    // segment stats over the hot corpus: odd docs are one hot 6-word
    // segment (within width 8), even docs unique → dup segment count
    // is exactly the odd half
    val st = Dedup.segmentStats(pq, "doc_id", "text", width = 8)
      .agg(sum("n_segments"), sum("n_dup_segments")).as[(Long, Long)].head()
    assert(st._1 == 200000L && st._2 == 100000L)
  }

  test("incremental probes: over-cap batches fall back to shuffle semi joins, identical output") {
    // Each probe has three tiers: a LocalRelation of the collected batch
    // keys (≤ 65,536 distinct keys), the aggregation job with a broadcast
    // key set (≤ 4M keys), and a plain shuffle semi join beyond. Lowered
    // tiers reach the other two on a small batch; every tier must emit
    // the same rows. The fixture is Parquet-backed so a LocalRelation in
    // the plan can only be the probe side.
    val dir = java.nio.file.Files.createTempDirectory("graft_tiers").toString
    Seq(
      (0L, "the cat sat on the mat"),
      (1L, "The cat  sat on the mat"),
      (7L, "THE CAT SAT ON THE MAT "),
      (3L, "something else entirely"),
      (17L, "something else entirely"),
      (27L, "a new batch singleton"),
      (2L, "an old-only singleton seg one. seg two here. seg three now.")
    ).toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val all = spark.read.parquet(s"$dir/docs")
    val newB = all.where(col("doc_id") % 10 === 7)
    val oldB = all.where(col("doc_id") % 10 =!= 7)
    val tiers = Seq(
      "local" -> Dedup.Tiers(),
      "aggregation" -> Dedup.Tiers(localProbeKeys = 0),
      "shuffle" -> Dedup.Tiers(localProbeKeys = 0, broadcastKeys = 0))
    def tierOf(df: org.apache.spark.sql.DataFrame): String = {
      val p = df.queryExecution.optimizedPlan
      if (p.collectLeaves().exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])) "local"
      else if (p.toString.contains("strategy=broadcast")) "aggregation"
      else "shuffle"
    }
    def differential(probe: String)(run: Dedup.Tiers => org.apache.spark.sql.DataFrame)
        (rows: Row => Any): Unit = {
      val outs = tiers.map { case (name, t) =>
        val df = run(t)
        assert(tierOf(df) == name, s"$probe: expected the $name tier")
        df.collect().map(rows).toSet
      }
      assert(outs.head.nonEmpty, s"$probe: fixture must produce rows")
      outs.tail.foreach(o => assert(o == outs.head, probe))
    }

    val fpIdx = s"$dir/fp"
    Dedup.exactWriteIndex(oldB, "doc_id", "text", fpIdx)
    differential("exact")(Dedup.exactIncrementalDuplicatesAt(spark, fpIdx, newB,
      "doc_id", "text", 256, _))(r => (r.getLong(0), r.getLong(1)))

    val mhIdx = s"$dir/mh"
    Dedup.minhashWriteIndex(oldB, "doc_id", "text", mhIdx)
    differential("minhash")(Dedup.minhashIncrementalPairsAt(spark, mhIdx, newB,
      "doc_id", "text", 8, 2, 2000, 256, _))(r => (r.getLong(0), r.getLong(1)))

    val segIdx = s"$dir/seg"
    Dedup.segmentWriteIndex(oldB, "doc_id", "text", segIdx, width = 3)
    val segBatch = spark.read.parquet(s"$dir/docs").where(col("doc_id") === 7L)
      .select(col("doc_id"), lit("the cat sat on the mat. and a novel tail segment").as("text"))
    differential("segment")(Dedup.segmentIncrementalRewriteAt(spark, segIdx, segBatch,
      "doc_id", "text", 3, 256, None, _))(
      r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
  }

  test("concurrent index probes leave the session conf as they found it") {
    // readIndex lowers Spark's partition-discovery threshold around its
    // read. Two probes at once must neither interleave their
    // save/set/restore nor leave an unset key explicitly set.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val s = spark.newSession()
    val all = s.createDataFrame(Seq(
      (0L, "the cat sat on the mat"),
      (7L, "THE CAT SAT ON THE MAT "),
      (3L, "something else entirely"),
      (17L, "something else entirely"))).toDF("doc_id", "text")
    val newB = all.where(col("doc_id") % 10 === 7)
    val idx = java.nio.file.Files.createTempDirectory("graft_conc").toString
    Dedup.exactWriteIndex(all.where(col("doc_id") % 10 =!= 7), "doc_id", "text", idx)
    val before = s.conf.getAll
    val probes = (0 until 2).map(_ => Future {
      (0 until 3).map(_ =>
        Dedup.exactIncrementalDuplicates(s, idx, newB, "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    })
    val outs = probes.flatMap(f => Await.result(f, 2.minutes))
    assert(outs.forall(_ == Set((7L, 0L), (17L, 3L))), outs)
    val after = s.conf.getAll
    assert(after == before, (after.toSet diff before.toSet, before.toSet diff after.toSet))
  }
}
