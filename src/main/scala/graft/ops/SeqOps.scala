package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Operators over PRE-TOKENIZED sequences (`tokens array<int>` — the
  * engine's primary input shape, BASELINE.json `input_hint`): intra-
  * sequence repetition (the Gopher duplicate-n-gram rule in token
  * space) and out-of-vocabulary statistics. Token-space siblings of the
  * text ops in [[TextOps]], fused into the codegen'd [[TokenStats]]
  * kernel — one pass per row, shuffle-free until the final (bounded,
  * per-source) aggregation.
  */
object SeqOps {

  /** Deterministic per-word tokenization of text into `[0, vocab)` — the
    * bridge from a text corpus to the pre-tokenized shape (and the
    * cross-engine-portable stand-in for a real BPE vocabulary: one
    * md5-derived id per word, reproducible by any oracle). Codegen'd
    * kernel ([[TokenizeWords]]); ≡ [[tokenizeRef]], asserted by OpsSpec.
    */
  def tokenize(text: Column, vocab: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(TokenizeWords(EU.expression(text), vocab))
  }

  /** Declarative HOF reference form of [[tokenize]] — the differential
    * oracle (eval-only: one interpreted conv/substring/md5 chain per
    * word; never on a hot path).
    */
  def tokenizeRef(text: Column, vocab: Int): Column =
    transform(TextOps.words(text),
      w => pmod(TextOps.portableHash(w), lit(vocab.toLong)).cast("int"))

  /** The fused `[nTok, gramPositions, distinctGrams, nOov]` pass. */
  def tokenStats(tokens: Column, n: Int = 3, vocab: Int = graft.gen.SequenceGen.Vocab): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(TokenStats(EU.expression(tokens), n, vocab))
  }

  /** Declarative differential oracle for [[TokenStats]] (eval-only HOF
    * chain — never on the hot path; OpsSpec asserts ≡ the kernel).
    */
  def tokenStatsRef(tokens: Column, n: Int = 3, vocab: Int = graft.gen.SequenceGen.Vocab): Column = {
    val len = size(tokens)
    val grams = transform(sequence(lit(1), len - n + 1), i =>
      concat_ws(",", (0 until n).map(j =>
        coalesce(element_at(tokens, i + j).cast("string"), lit("ø"))): _*))
    // null elements: `t.isNull` is true, so filter RETAINS them (null
    // tokens count as out-of-vocabulary, matching the kernel)
    val oov = size(filter(tokens, t => t.isNull || t < 0 || t >= vocab))
    // null array → null STATS array (the kernel's null-safe semantics),
    // not an array of null elements
    when(tokens.isNull, lit(null).cast("array<bigint>")).otherwise(
      array(len.cast("long"),
        when(len < n, 1L).otherwise((len - n + 1).cast("long")),
        when(len < n, 1L).otherwise(size(array_distinct(grams)).cast("long")),
        oov.cast("long")))
  }

  /** Intra-sequence repetition over token arrays — the token-space
    * [[TextOps.repetitionFeatures]]: `n_grams` = token-n-gram positions,
    * `dup_ratio` = fraction of positions holding an already-seen gram.
    * One fused kernel pass per row, no shuffle.
    */
  def repetition(df: DataFrame, keyCol: String, tokensCol: String,
      n: Int = 3, vocab: Int = graft.gen.SequenceGen.Vocab): DataFrame =
    df.select(col(keyCol), tokenStats(col(tokensCol), n, vocab).as("_ts"))
      .select(col(keyCol),
        element_at(col("_ts"), 2).as("n_grams"),
        round(lit(1.0) - element_at(col("_ts"), 3).cast("double") /
          element_at(col("_ts"), 2), 6).as("dup_ratio"))

  /** Codegen'd distinct token `n`-grams as comma-joined decimal strings
    * (see [[TokenGrams]]). Use THIS on hot paths; [[tokenGramsRef]] is
    * the declarative differential oracle (eval-only HOF chain).
    */
  def tokenGrams(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(TokenGrams(EU.expression(tokens), n))
  }

  /** Declarative reference form of [[tokenGrams]] — same values and
    * order (array_distinct keeps first occurrence), asserted ≡ by
    * OpsSpec; never on the hot path.
    */
  def tokenGramsRef(tokens: Column, n: Int): Column = {
    val len = size(tokens)
    def str(c: Column): Column = coalesce(c.cast("string"), lit("ø"))
    val grams = transform(sequence(lit(1), len - n + 1), i =>
      concat_ws(",", (0 until n).map(j => str(element_at(tokens, i + j))): _*))
    val whole = array(concat_ws(",", transform(tokens, t => str(t))))
    when(tokens.isNull, lit(null).cast("array<string>"))
      .otherwise(when(len >= n, array_distinct(grams)).otherwise(whole))
  }

  /** Token-space benchmark decontamination: per-corpus-doc overlap with
    * an eval set, measured on token `n`-grams — the decontamination a
    * pipeline over PRE-TOKENIZED sequences actually runs (the eval sets
    * of record ship tokenized; text shingling would require detokenizing
    * first and diverge across tokenizer versions). Same scale shape as
    * [[Dedup.contaminationScores]]: the eval side collapses to its
    * distinct gram-hash set and broadcasts; corpus grams stream through
    * a broadcast LEFT SEMI (BroadcastHashJoin — zero corpus shuffle)
    * into a per-doc hash aggregation with map-side partial combine.
    * 8-byte `xxhash64` gram keys cross the pipeline, not gram strings —
    * the [[Dedup.ngramJaccardPairs]] collision argument.
    *
    * Output: `(id, n_grams, n_overlap, contamination)` — one row per
    * corpus doc sharing at least one gram; `contamination` =
    * overlap / distinct-gram count. Filter/threshold is the caller's
    * policy (`where(contamination >= x)` or an anti-join on id).
    */
  def tokenContaminationScores(corpus: DataFrame, keyCol: String,
      tokensCol: String, bench: DataFrame, benchTokensCol: String,
      n: Int = 8): DataFrame =
    tokenContaminationScoresAt(corpus, keyCol, tokensCol, bench, benchTokensCol,
      n, Dedup.Tiers())

  private[ops] def tokenContaminationScoresAt(corpus: DataFrame, keyCol: String,
      tokensCol: String, bench: DataFrame, benchTokensCol: String, n: Int,
      tiers: Dedup.Tiers): DataFrame = {
    // explode_outer + generated-attribute null guard on both sides: a
    // plain explode's inferred filter re-runs the gram kernel inside a
    // pushed-down Filter (see Dedup.ngramJaccardPairs). Exact: the
    // kernel emits ≥1 non-null gram for every non-null token array.
    val bg = bench
      .select(tokenGrams(col(benchTokensCol), n).as("gs"))
      .select(explode_outer(col("gs")).as("g0"))
      .where(col("g0").isNotNull)
      .select(xxhash64(col("g0")).as("g"))
      .distinct()
    // eval-side broadcast guarded like the text form: direct for
    // contract-sized eval inputs, count-gated fallback past the size
    // bound (see Dedup.deconSemiJoin) — identical output
    Dedup.deconSemiJoin(
      corpus
        .select(col(keyCol).as("id"), tokenGrams(col(tokensCol), n).as("gs"))
        .select(col("id"), size(col("gs")).as("n_grams"), explode_outer(col("gs")).as("g0"))
        .where(col("g0").isNotNull)
        .select(col("id"), col("n_grams"), xxhash64(col("g0")).as("g")),
      bg, bench, Seq("g"), tiers)
      .groupBy(col("id"), col("n_grams"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap").cast("double") / col("n_grams"), 6))
      .select(col("id"), col("n_grams"), col("n_overlap"), col("contamination"))
  }

  /** Out-of-vocabulary rate per source over token arrays: total tokens,
    * OOV tokens (outside `[0, vocab)`, incl. null elements), and the
    * rate — the ingest-gate check that a tokenizer/vocab mismatch
    * surfaces immediately. Map-side partial aggregation; the shuffle
    * carries one row per (source, task).
    */
  def oovStats(df: DataFrame, srcCol: String, tokensCol: String,
      vocab: Int = graft.gen.SequenceGen.Vocab): DataFrame =
    df.select(col(srcCol), tokenStats(col(tokensCol), 3, vocab).as("_ts"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(element_at(col("_ts"), 1)).as("n_tokens"),
        sum(element_at(col("_ts"), 4)).as("n_oov"))
      .withColumn("oov_rate",
        // a source of only-empty sequences has no rate (null), not a
        // divide-by-zero (ANSI mode)
        round(when(col("n_tokens") > 0,
          col("n_oov").cast("double") / col("n_tokens")), 6))
}
