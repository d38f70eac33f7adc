package graft

import graft.gen.GenTokens
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension surface: registers graft's custom Catalyst
  * expressions as SQL functions, the idiomatic plug-in path for a Spark
  * library (`--conf spark.sql.extensions=graft.GraftExtensions`).
  *
  * `GraftFunctions.register(spark)` installs the same functions into an
  * already-running session (useful in notebooks/tests where the session
  * exists before the library is on the classpath).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptions.foreach(ext.injectFunction)
}

object GraftFunctions {

  /** Extracts an integer LITERAL argument — matching on Literal rather
    * than calling eval(), which would throw an obscure unevaluable error
    * for a column reference at analysis time.
    */
  private def longArg(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(l: Long, _) => l
    case org.apache.spark.sql.catalyst.expressions.Literal(i: Int, _)  => i.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got ${other.sql}")
  }

  private def intArg(e: Expression, what: String): Int = {
    val l = longArg(e, what)
    require(l >= Int.MinValue && l <= Int.MaxValue,
      s"$what out of int range: $l")
    l.toInt
  }

  private def strArg(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(s, _)
        if s != null && e.dataType == org.apache.spark.sql.types.StringType =>
      s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got ${other.sql}")
  }

  /** `gen_tokens(id BIGINT, len INT, seed BIGINT, salt INT, vocab INT)` —
    * deterministic token array, equal to
    * `transform(sequence(0, len-1), i -> pmod(xxhash64(id, seed, salt, i), vocab))`.
    */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        new FunctionIdentifier("gen_tokens"),
        new ExpressionInfo(classOf[GenTokens].getName, "gen_tokens"),
        (args: Seq[Expression]) => {
          require(args.length == 5,
            "gen_tokens(id BIGINT, len INT, seed BIGINT, salt INT, vocab INT)")
          GenTokens(args(0), args(1), longArg(args(2), "seed"),
            intArg(args(3), "salt"), intArg(args(4), "vocab"))
        }),
      (
        new FunctionIdentifier("dot_prod"),
        new ExpressionInfo(classOf[graft.ops.DotProd].getName, "dot_prod"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "dot_prod(x ARRAY<numeric>, y ARRAY<numeric>)")
          graft.ops.DotProd(args(0), args(1))
        }),
      (
        new FunctionIdentifier("shingles3"),
        new ExpressionInfo(classOf[graft.ops.Shingles3].getName, "shingles3"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "shingles3(text STRING)")
          graft.ops.Shingles3(args(0))
        }),
      (
        new FunctionIdentifier("simhash_of_text"),
        new ExpressionInfo(classOf[graft.ops.SimhashOfText].getName, "simhash_of_text"),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 2,
            "simhash_of_text(text STRING [, bits INT])")
          val bits = if (args.length == 2) intArg(args(1), "bits")
            else graft.ops.Dedup.SimhashBits
          graft.ops.SimhashOfText(args(0), bits)
        }),
      (
        new FunctionIdentifier("minhash_sig"),
        new ExpressionInfo(classOf[graft.ops.MinhashSig].getName, "minhash_sig"),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 2,
            "minhash_sig(text STRING [, k INT]) — k-array of running mins")
          val k = if (args.length == 2) intArg(args(1), "k") else 8
          val coeffs = graft.ops.Dedup.minhashCoeffs(k)
          graft.ops.MinhashSig(args(0), coeffs.map(_._1).toArray,
            coeffs.map(_._2).toArray, graft.ops.TextOps.HashPrime)
        }),
      (
        new FunctionIdentifier("word_stats"),
        new ExpressionInfo(classOf[graft.ops.WordStats].getName, "word_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "word_stats(text STRING)")
          graft.ops.WordStats(args(0), graft.ops.TextOps.Stopwords,
            graft.ops.TextOps.LangMarkers.map(_._2), graft.ops.TextOps.HashPrime)
        }),
      (
        new FunctionIdentifier("token_stats"),
        new ExpressionInfo(classOf[graft.ops.TokenStats].getName, "token_stats"),
        (args: Seq[Expression]) => {
          require(args.length >= 1 && args.length <= 3,
            "token_stats(tokens ARRAY<INT> [, n INT [, vocab INT]])")
          val n = if (args.length >= 2) intArg(args(1), "n") else 3
          val vocab = if (args.length >= 3) intArg(args(2), "vocab")
            else graft.gen.SequenceGen.Vocab
          graft.ops.TokenStats(args(0), n, vocab)
        }),
      (
        new FunctionIdentifier("token_grams"),
        new ExpressionInfo(classOf[graft.ops.TokenGrams].getName, "token_grams"),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 2,
            "token_grams(tokens ARRAY<INT> [, n INT])")
          val n = if (args.length == 2) intArg(args(1), "n") else 3
          graft.ops.TokenGrams(args(0), n)
        }),
      (
        new FunctionIdentifier("txt_classifier_logit"),
        new ExpressionInfo(classOf[graft.ops.TextClassifierLogit].getName,
          "txt_classifier_logit"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "txt_classifier_logit(text STRING) — " +
            "linear classifier logit over hashed word+bigram features " +
            "(shipped demo weight table)")
          graft.ops.TextClassifierLogit(args(0),
            graft.ops.TextOps.ClassifierWeights,
            graft.ops.TextOps.ClassifierBias, graft.ops.TextOps.HashPrime)
        }),
      (
        new FunctionIdentifier("graft_divisible_by"),
        new ExpressionInfo(classOf[graft.compile.ExactDivisibleBy].getName,
          "graft_divisible_by"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            "graft_divisible_by(value NUMERIC, divisor STRING-literal) — " +
              "arbitrary-precision divisibility; the divisor travels as a " +
              "string so emitted artifacts lose no precision")
          graft.compile.ExactDivisibleBy(args(0),
            new java.math.BigDecimal(strArg(args(1), "divisor")))
        }),
      (
        new FunctionIdentifier("graft_no_null_elements"),
        new ExpressionInfo(classOf[graft.compile.NoNullElements].getName,
          "graft_no_null_elements"),
        (args: Seq[Expression]) => {
          require(args.length == 1,
            "graft_no_null_elements(a ARRAY) — true iff no element is null; " +
              "the `[*].type` check emitted for nullable-element arrays")
          graft.compile.NoNullElements(args(0))
        }),
      (
        new FunctionIdentifier("rolling_hashes"),
        new ExpressionInfo(classOf[graft.ops.RollingHashes].getName, "rolling_hashes"),
        (args: Seq[Expression]) => {
          require(args.length == 1 || args.length == 2,
            "rolling_hashes(text STRING [, k INT])")
          val k = if (args.length == 2) intArg(args(1), "k") else 8
          graft.ops.RollingHashes(args(0), k)
        }))

  /** Install into a live session (same registrations as the extension),
    * plus the session-level UDFs the emitted-SQL surface needs — every
    * [[graft.compile.FormatRegistry]] entry under its `sqlName`
    * (`graft_is_valid_regex` for the shipped "regex" format; SQL text
    * from [[graft.engine.SqlGen]] references them by name. udf.register
    * is the only surface for a Scala-function UDF, so they are
    * session-level, not extension-level). Formats registered AFTER this
    * call need it re-run on sessions that execute emitted artifacts.
    */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.GraftColumnBridge.registerFunction(spark, id, info, builder)
    }
    graft.compile.FormatRegistry.entries.foreach(e =>
      spark.udf.register(e.sqlName, e.fn))
  }
}
