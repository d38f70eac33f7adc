package graft.compile

import graft.{GraftFunctions, SparkSessionTestWrapper}
import graft.engine.{SqlGen, ValidationEngine}
import graft.gen.SequenceGen
import graft.oracle.OracleValidator
import graft.spec.SchemaParser
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, HigherOrderFunction, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** Element checks over nullable-element arrays — what every file
  * relation delivers, since Spark reads file schemas `asNullable` — stay
  * inside whole-stage codegen: numeric bounds compile to
  * `array_min`/`array_max` (which skip nulls) and `[*].type` to the
  * [[NoNullElements]] kernel. Their verdicts and violation rows must
  * equal the per-element `forall` form they replace and the oracle.
  */
class NullAwareArraySpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def valid(ann: DataFrame) = ann.queryExecution.analyzed.collectFirst(
    Function.unlift((p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) => p match {
      case p: Project => p.projectList.collectFirst {
        case a: Alias if a.name == ValidationEngine.PassCol => a.child }
      case _ => None
    })).getOrElse(fail("no valid alias"))

  /** The per-element higher-order form the bounds and type checks of a
    * nullable `items` schema compiled to before, for property `name`.
    */
  private def hofForm(name: String, lo: Column, hi: Column, exclMin: Boolean,
      exclMax: Boolean): Seq[CompiledConstraint] = {
    val c = col(name)
    def guard(p: Column) = c.isNull || coalesce(p, lit(false))
    def elemCheck(cid: String, ep: Column => Column) = {
      val elemPass = (x: Column) => x.isNull || coalesce(ep(x), lit(false))
      CompiledConstraint(s"$$.$name[*].$cid", guard(forall(c, elemPass)),
        to_json(filter(c, x => !elemPass(x))))
    }
    Seq(
      CompiledConstraint(s"$$.$name[*].type", guard(forall(c, x => x.isNotNull)), lit("null")),
      elemCheck("minimum", x => if (exclMin) x > lo else x >= lo),
      elemCheck("maximum", x => if (exclMax) x < hi else x <= hi))
  }

  private def rows(ann: DataFrame): Seq[String] =
    ann.select("id", ValidationEngine.PassCol, ValidationEngine.ViolationsCol)
      .orderBy("id").collect().map(_.toString).toSeq

  private def toJson(v: Any): JValue = v match {
    case null      => JNull
    case i: Int    => JInt(i)
    case d: Double => JDouble(d)
    case s: scala.collection.Seq[_] => JArray(s.map(toJson).toList)
  }

  /** Engine ≡ the old HOF form (rows incl. offending) and ≡ the oracle
    * (constraint ids; rows holding NaN or ±∞ are skipped there: JSON has
    * neither).
    */
  private def assertEquivalent(df: DataFrame, specJson: String, lo: Column, hi: Column,
      exclMin: Boolean, exclMax: Boolean): Unit = {
    val spec = SchemaParser.parse(specJson)
    val ann = ValidationEngine.annotate(df, spec)
    assert(!valid(ann).exists(_.isInstanceOf[HigherOrderFunction]), valid(ann))
    val hof = ValidationEngine.annotateWith(df, hofForm("a", lo, hi, exclMin, exclMax))
    assert(rows(ann) == rows(hof))
    ann.collect().foreach { r =>
      val a = r.getAs[scala.collection.Seq[Any]]("a")
      if (a == null || !a.exists { case d: Double => d.isNaN || d.isInfinite; case _ => false }) {
        val doc = JObject(Option(a).map(x => "a" -> toJson(x)).toList)
        val want = OracleValidator.validate(Map.empty, spec, doc).map(_.cid).toSet
        val got = r.getAs[scala.collection.Seq[Row]](ValidationEngine.ViolationsCol)
          .map(_.getString(0)).toSet
        assert(got == want, s"id=${r.getAs[Long]("id")} a=$a")
      }
    }
  }

  private def frame(et: DataType, arrays: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) =>
        Row(i.toLong, a) }, 2),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("a", ArrayType(et, containsNull = true), nullable = true))))

  private val intArrays: Seq[Seq[Any]] = Seq(
    Seq(0, 5, 9), Seq(null, 3), Seq(null, null), Seq(), null, Seq(-1, null, 10),
    Seq(0), Seq(9), Seq(10), Seq(-1), Seq(null, -5, 20, 4), Seq(1, null, 1))

  test("integer bounds, inclusive: null elements, empty, all-null and NULL arrays") {
    assertEquivalent(frame(IntegerType, intArrays),
      """{"type": "object", "properties": {"a": {"type": "array",
           "items": {"type": "integer", "minimum": 0, "maximum": 9}}}}""",
      lit(0L), lit(9L), exclMin = false, exclMax = false)
  }

  test("integer bounds, exclusive: the boundary elements fail") {
    assertEquivalent(frame(IntegerType, intArrays),
      """{"type": "object", "properties": {"a": {"type": "array",
           "items": {"type": "integer", "minimum": 0, "exclusiveMinimum": true,
                     "maximum": 9, "exclusiveMaximum": true}}}}""",
      lit(0L), lit(9L), exclMin = true, exclMax = true)
  }

  test("number bounds over doubles with NaN, nulls and infinities") {
    val nan = Double.NaN
    val arrays: Seq[Seq[Any]] = Seq(
      Seq(0.0, 0.5, 1.0), Seq(nan), Seq(0.5, nan), Seq(null, nan), Seq(-0.0, null),
      Seq(Double.NegativeInfinity), Seq(Double.PositiveInfinity, 0.2), Seq(),
      Seq(null), null, Seq(1.0000001), Seq(-1e-9, 0.3))
    val spec = (excl: Boolean) =>
      s"""{"type": "object", "properties": {"a": {"type": "array",
           "items": {"type": "number", "minimum": 0, "maximum": 1,
                     "exclusiveMinimum": $excl, "exclusiveMaximum": $excl}}}}"""
    Seq(false, true).foreach { excl =>
      assertEquivalent(frame(DoubleType, arrays), spec(excl),
        lit(0.0), lit(1.0), exclMin = excl, exclMax = excl)
    }
  }

  test("NoNullElements: codegen and interpreted evaluation agree with forall") {
    val df = frame(IntegerType, intArrays)
    val k = org.apache.spark.sql.GraftColumnBridge.column(
      NoNullElements(org.apache.spark.sql.GraftColumnBridge.expression(col("a"))))
    val got = df.select(col("id"), k.as("k"), forall(col("a"), _.isNotNull).as("f"))
      .collect().map(r => (r.get(1), r.get(2)))
    got.foreach { case (k, f) => assert(k == f) }
    val arrT = ArrayType(IntegerType, containsNull = true)
    intArrays.foreach { a =>
      val lit = Literal.create(a, arrT)
      val want = Option(a).map(x => x.forall(_ != null): Any).orNull
      assert(NoNullElements(lit).eval() == want, s"$a")
    }
  }

  test("builtin spec over a Parquet sequences table: no HOF in `valid`, fused in one codegen stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nullaware").toString
    SequenceGen.generate(spark, 4000).write.mode("overwrite").partitionBy("source").parquet(dir)
    val df = spark.read.parquet(dir)
    // the files store required elements, but file relations read asNullable
    assert(df.schema("tokens").dataType == ArrayType(IntegerType, containsNull = true))
    val ann = ValidationEngine.annotate(df, SchemaParser.parse(graft.Main.builtinSpec))
    val v = valid(ann)
    assert(!v.exists(_.isInstanceOf[HigherOrderFunction]), v)
    assert(v.exists(_.isInstanceOf[NoNullElements]), v)

    val q = ann.select(col("doc_id"), col(ValidationEngine.PassCol))
    q.collect()
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p                        => p
    }
    val fused = plan.collect { case w: WholeStageCodegenExec => w }.exists(_.child.exists {
      case p: ProjectExec => p.projectList.exists(_.name == ValidationEngine.PassCol)
      case _              => false
    })
    assert(fused, plan.toString)

    // verdicts equal those over the same rows held in memory (containsNull = false)
    val mem = SequenceGen.generate(spark, 4000)
    def verdicts(d: DataFrame) = ValidationEngine.verdicts(d,
      SchemaParser.parse(graft.Main.builtinSpec), Seq("doc_id")).collect().map(_.toString).sorted.toSeq
    assert(verdicts(df) == verdicts(mem))
  }

  test("emitted SQL for nullable-element arrays runs on a session without graft functions") {
    val df = frame(IntegerType, intArrays)
    df.createOrReplaceTempView("nullaware_items")
    val spec = SchemaParser.parse(
      """{"type": "object", "properties": {"a": {"type": "array",
           "items": {"type": "integer", "minimum": 0, "maximum": 9}}}}""")
    val sqlText = SqlGen.validationSql(spark, spec, df.schema, "nullaware_items", Seq("id"))
    assert(!sqlText.contains("graft_"), sqlText)
    assert(rows(spark.sql(sqlText)) == rows(ValidationEngine.annotate(df, spec)))
  }

  test("graft_no_null_elements is registered as a SQL function") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_no_null_elements(array(1, NULL)), " +
      "graft_no_null_elements(array(1, 2)), graft_no_null_elements(CAST(NULL AS ARRAY<INT>))").head()
    assert(r.get(0) == false && r.get(1) == true && r.isNullAt(2))
  }
}
