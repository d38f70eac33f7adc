package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{GraftColumnBridge => EU}
import org.apache.spark.sql.functions._

/** Deterministic, fully-distributed synthesizer for the engine's primary
  * input shape `(doc_id string, tokens array<int>, n_tok int, source
  * string)` (BASELINE.json `input_hint`), with violations injected at
  * known row indices so expected violations are exact, not re-derived
  * (FIXTURES.md §3).
  *
  * Everything derives arithmetically from `spark.range(n)` ids via
  * xxhash64 — no driver-side data, no RNG state — so the output is
  * byte-identical at any parallelism and any scale (splittable seeding).
  */
object SequenceGen {

  val Vocab = 49152
  val Sources: Seq[String] = (0 until 10).map(i => s"src$i")

  /** The canonical doc_id for row `id`: "d" + the id zero-padded to AT
    * LEAST 10 digits (ids ≥ 10^10 keep all their digits — at the stated
    * 10^12-row design scale padding must never truncate).
    */
  def docIdOf(id: Long): String = f"d$id%010d"

  /** [[docIdOf]] as a Catalyst expression. `lpad`, not `format_string`
    * (java.util.Formatter allocates per row on the hot path) — but
    * guarded by length: Spark's `lpad(s, 10, "0")` TRUNCATES strings
    * longer than 10 chars, which above 10^10 rows would silently
    * collide doc_ids and break the generator's uniqueness invariants.
    */
  def docIdExpr(id: Column): Column = {
    val ids = id.cast("string")
    concat(lit("d"), when(length(ids) < 10, lpad(ids, 10, "0")).otherwise(ids))
  }

  /** `parts`: explicit range slice count (0 = default parallelism).
    * Output rows are a pure function of `id`, so any slicing yields the
    * same table — this only controls task granularity / file count.
    *
    * Injection sites (FIXTURES.md §3) are the `id % m` lanes below. All
    * are disjoint modulo classes so each bad row trips exactly the
    * intended constraint (plus knock-ons that follow from it, e.g. empty
    * tokens also fails n_tok minimum).
    */
  def generate(spark: SparkSession, rows: Long, seed: Long = 42L,
      parts: Int = 0): DataFrame = {
    val id = col("id")
    def h(salt: Int) = xxhash64(id, lit(seed), lit(salt))

    // skew: src0 holds ~50% of rows (exercises salting / AQE skew paths)
    val source0 = when(pmod(h(1), lit(2)) === 0, lit("src0"))
      .otherwise(concat(lit("src"), (pmod(h(2), lit(9)) + 1).cast("string")))
    val source = when(id % 2000 === 23, lit("src_unknown")).otherwise(source0)

    // token count: 1..256 base; source src3 gets a +64 location shift —
    // the drift slice for the KL/PSI check
    val baseLen = (pmod(h(3), lit(256)) + 1).cast("int")
    val len0 = when(source0 === "src3", baseLen + 64).otherwise(baseLen)
    val len = when(id % 2000 === 71, lit(0)).otherwise(len0)

    // tokens: per-(row, position) hash → [0, Vocab); one injected
    // out-of-range token at position 0 for the badToken class.
    // GenTokens is the codegen'd equivalent of
    //   transform(sequence(lit(0), len-1),
    //     i => pmod(xxhash64(id, lit(seed), lit(4), i), lit(Vocab)).cast("int"))
    // (byte-identity asserted by SequenceGenSpec) with the row-constant
    // hash prefix hoisted out of the element loop.
    //
    // CRITICAL plan shape: the raw array is materialized ONCE in its own
    // projection and everything downstream touches only the `_tok_raw`
    // ATTRIBUTE. Referencing the generator expression directly from the
    // tokens CaseWhen + size() + the validation constraints lets
    // CollapseProject inline a copy per reference site (~12 copies
    // measured), which both re-hashes per copy and blows the generated
    // method past the JIT's 8000-byte limit — the whole stage then runs
    // interpreted, ~10× slower. A non-cheap multi-referenced alias is
    // exactly what CollapseProject refuses to collapse, so the split is
    // stable.
    val tokensRaw = EU.column(
      GenTokens(EU.expression(id), EU.expression(len), seed, 4, Vocab))
    val range = if (parts > 0) spark.range(0, rows, 1, parts) else spark.range(rows)
    val base = range.select(
      id, len.as("_len"), source.as("_src"), tokensRaw.as("_tok_raw"))

    val lenA = col("_len")
    val raw = col("_tok_raw")
    val tokens = when(id % 2000 === 71, typedlit(Array.empty[Int]))
      .when(id % 1000 === 59,
        concat(array(lit(Vocab + 5)), slice(raw, lit(2), greatest(lenA - 1, lit(0)))))
      .otherwise(raw)

    val nTok = when(id % 1000 === 41, lenA + 1).otherwise(size(tokens)).cast("int")

    // "d" + zero-padded id (see docIdExpr: truncation-safe above 10^10)
    val docId0 = docIdExpr(id)
    val docId = when(id % 2000 === 83, lit(null).cast("string"))
      .when(id % 2000 === 97, format_string("BAD~%d", id))
      // duplicate of a row that keeps its own id (id-999 ≡ 18 mod 1000),
      // so every injection produces exactly one multiplicity-2 key
      .when(id % 1000 === 17 && id >= 1000, format_string("d%010d", id - 999))
      .otherwise(docId0)

    base.select(
      docId.as("doc_id"),
      tokens.as("tokens"),
      nTok.as("n_tok"),
      col("_src").as("source"))
  }

  /** The dimension table for referential checks (tiny, broadcastable). */
  def sourcesDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Sources.toDF("source")
  }

  /** Baseline token-length histogram profile `(bucket, p)` for drift:
    * what the length distribution looks like WITHOUT the src3 shift —
    * uniform over 1..256 at bucket width `w`.
    */
  def baselineProfile(spark: SparkSession, bucketWidth: Int = 32): DataFrame = {
    import spark.implicits._
    val buckets = (1 to 256).groupBy(l => l / bucketWidth).toSeq
      .map { case (b, ls) => (b.toLong, ls.size / 256.0) }
    buckets.toDF("bucket", "p")
  }
}
