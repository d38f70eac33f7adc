package graft.gen

import graft.SparkSessionTestWrapper
import org.apache.spark.sql.{GraftColumnBridge => EU}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SequenceGenSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("GenTokens is byte-identical to the declarative sequence/transform form") {
    val df = spark.range(5000).select(
      col("id"),
      (pmod(xxhash64(col("id"), lit(7L), lit(3)), lit(256)) + 1).cast("int").as("len"))
    val declarative = transform(
      sequence(lit(0), col("len") - 1),
      i => pmod(xxhash64(col("id"), lit(42L), lit(4), i), lit(SequenceGen.Vocab)).cast("int"))
    val custom = EU.column(GenTokens(
      EU.expression(col("id")), EU.expression(col("len")),
      42L, 4, SequenceGen.Vocab))
    val diff = df.select(col("id"), declarative.as("a"), custom.as("b"))
      .where(not(col("a") <=> col("b")))
    assert(diff.count() == 0)
  }

  test("GenTokens interpreted eval matches codegen result") {
    val e = GenTokens(
      org.apache.spark.sql.catalyst.expressions.Literal(123L),
      org.apache.spark.sql.catalyst.expressions.Literal(6),
      42L, 4, SequenceGen.Vocab)
    val interpreted = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq
    val viaPlan = spark.range(1).select(EU.column(GenTokens(
        EU.expression(lit(123L)), EU.expression(lit(6)),
        42L, 4, SequenceGen.Vocab)).as("t"))
      .collect()(0).getSeq[Int](0)
    assert(interpreted == viaPlan)
    assert(interpreted.forall(t => t >= 0 && t < SequenceGen.Vocab))
  }

  test("generate is byte-identical across parallelism (splittable seeding)") {
    val a = SequenceGen.generate(spark, 4000).repartition(1)
      .collect().map(_.toString).sorted.toSeq
    val b = SequenceGen.generate(spark, 4000).repartition(17)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("gen_tokens is SQL-callable after GraftFunctions.register (extension surface)") {
    graft.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT gen_tokens(id, 7, 42L, 4, ${SequenceGen.Vocab}) AS t FROM range(3)")
      .collect().map(_.getSeq[Int](0))
    val viaExpr = spark.range(3).select(EU.column(GenTokens(
        EU.expression(col("id")), EU.expression(lit(7)), 42L, 4, SequenceGen.Vocab)).as("t"))
      .collect().map(_.getSeq[Int](0))
    assert(viaSql.toSeq.map(_.toSeq) == viaExpr.toSeq.map(_.toSeq))
    // the extension class itself applies cleanly to a fresh extensions object
    new graft.GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("annotated generator output evaluates GenTokens once (_tok_raw is not inlined)") {
    // CollapseProject inlines a copy of the generator per reference site
    // when the tokens are not materialized in their own projection, and
    // the stage then exceeds the JIT's method size limit
    val annotated = graft.engine.ValidationEngine.annotate(
      SequenceGen.generate(spark, 1000),
      graft.spec.SchemaParser.parse(graft.Main.builtinSpec))
    val copies = annotated.queryExecution.optimizedPlan.flatMap(_.expressions)
      .map(_.collect { case g: GenTokens => g }.size).sum
    assert(copies == 1)
  }

  test("doc_id format: d + 10 zero-padded digits (lpad path)") {
    // exclude the injected bad-format class (id % 2000 == 97 → "BAD~<id>")
    val ids = SequenceGen.generate(spark, 100).select("doc_id")
      .where(col("doc_id").isNotNull && !col("doc_id").startsWith("BAD"))
      .collect().map(_.getString(0))
    assert(ids.forall(_.matches("d\\d{10}")))
    assert(ids.contains(SequenceGen.docIdOf(42)))
  }

  test("docIdExpr never truncates: ids at/above 10^10 keep all digits and agree with docIdOf") {
    import spark.implicits._
    val big = Seq(0L, 7L, 9999999999L, 10000000000L, 10000000001L, 123456789012L)
    val got = big.toDF("id").select(SequenceGen.docIdExpr(col("id")))
      .collect().map(_.getString(0)).toSeq
    assert(got == big.map(SequenceGen.docIdOf))
    assert(got.distinct.length == big.length, "no collisions from padding truncation")
  }
}
