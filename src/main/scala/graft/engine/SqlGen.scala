package graft.engine

import graft.spec.SchemaSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  ArrayForAll, CreateNamedStruct, Expression, IsNotNull, LambdaFunction,
  LeafExpression, Literal, NamedLambdaVariable, ScalaUDF, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Render a compiled spec as a standalone SQL artifact — the analog of
  * the reference's `generateModule` (CodeGen.hs:59-91 emits Haskell
  * SOURCE TEXT for a schema, compiled once and reused; here the emitted
  * artifact is a Spark SQL SELECT that any SQL surface — spark-sql
  * shell, JDBC gateway, a CREATE VIEW — can run with no library code on
  * the call path).
  *
  * The emitted text computes exactly what [[ValidationEngine.annotate]]
  * computes: the key columns, `valid`, and the accumulated
  * `violations: array<struct<constraint_id,offending>>`. Rendering works
  * from the OPTIMIZED single-projection plan, so the text is the same
  * expression tree Catalyst would execute, alias-inlined.
  *
  * Why not `Expression.sql` alone: four node families render
  * non-executable text and are rewritten here — lambda functions
  * (`lambdafunction(namedlambdavariable()...)` → `x -> body`), named
  * structs (`struct(...)` drops field names → `named_struct('f', ...)`),
  * complex-typed literals (struct/array/map values → constructor calls),
  * and the compiler's one UDF (the `format:"regex"` check → the
  * registered name `graft_is_valid_regex`; [[graft.GraftFunctions
  * .register]] installs it — sessions without it can run every spec
  * that has no `format` keyword and no divisor beyond DecimalType(38,18),
  * which renders as the registered `graft_divisible_by`). The
  * [[graft.compile.NoNullElements]] kernel renders as its builtin
  * equivalent `forall(a, e -> e IS NOT NULL)`, so item checks over
  * nullable-element arrays need no registration.
  */
object SqlGen {

  /** Pre-rendered SQL carried as a leaf so a parent node's own `.sql`
    * can compose children it does not know how to render itself.
    */
  private final case class RawSql(sqlText: String, dataType: DataType,
      nullable: Boolean) extends LeafExpression with Unevaluable {
    override def sql: String = sqlText
  }

  /** A lambda variable's emitted name: unique via the exprId (the same
    * variable object renders identically at its binder and its uses;
    * distinct nested variables can share a source name).
    */
  private def lvName(v: NamedLambdaVariable): String = s"${v.name}_${v.exprId.id}"

  /** Render a RESOLVED expression as executable Spark SQL. */
  def render(e: Expression): String = e match {
    case v: NamedLambdaVariable => lvName(v)
    case lf: LambdaFunction =>
      val args = lf.arguments.collect { case v: NamedLambdaVariable => lvName(v) }
      val argList = if (args.length == 1) args.head
        else args.mkString("(", ", ", ")")
      s"$argList -> ${render(lf.function)}"
    case cns: CreateNamedStruct =>
      val parts = cns.nameExprs.zip(cns.valExprs)
        .map { case (n, v) => s"${n.sql}, ${render(v)}" }
      parts.mkString("named_struct(", ", ", ")")
    case u: ScalaUDF =>
      // the compiler's only UDFs are format validators — map the node
      // back to its registry entry by function identity (a UDF from
      // anywhere else fails loudly instead of being mislabeled)
      val entry = graft.compile.FormatRegistry.forFunction(u.function)
        .getOrElse(throw new IllegalArgumentException(
          s"unknown UDF in compiled constraints: cannot emit SQL for ${u}"))
      s"${entry.sqlName}(${u.children.map(render).mkString(", ")})"
    case graft.compile.NoNullElements(a) =>
      // the builtin form, so the artifact needs no registered function
      val v = NamedLambdaVariable("e", a.dataType.asInstanceOf[ArrayType].elementType,
        nullable = true)
      render(ArrayForAll(a, LambdaFunction(IsNotNull(v), Seq(v))))
    case l: Literal => renderLiteral(l.value, l.dataType)
    case leaf if leaf.children.isEmpty => leaf.sql
    case other =>
      other.withNewChildren(other.children.map(c =>
        RawSql(render(c), c.dataType, c.nullable))).sql
  }

  /** Complex-typed literal → constructor-call SQL (`Literal.sql` is not
    * executable for struct/array/map values).
    */
  private def renderLiteral(value: Any, dt: DataType): String =
    if (value == null) s"CAST(NULL AS ${dt.sql})"
    else dt match {
      case ArrayType(et, _) =>
        val a = value.asInstanceOf[ArrayData]
        val elems = (0 until a.numElements())
          .map(i => renderLiteral(a.get(i, et), et))
        if (elems.isEmpty) s"CAST(ARRAY() AS ${dt.sql})"
        else elems.mkString("array(", ", ", ")")
      case st: StructType =>
        val r = value.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        st.fields.zipWithIndex.map { case (f, i) =>
          s"'${f.name}', ${renderLiteral(r.get(i, f.dataType), f.dataType)}"
        }.mkString("named_struct(", ", ", ")")
      case MapType(kt, vt, _) =>
        val m = value.asInstanceOf[MapData]
        val parts = (0 until m.numElements()).flatMap(i => Seq(
          renderLiteral(m.keyArray().get(i, kt), kt),
          renderLiteral(m.valueArray().get(i, vt), vt)))
        if (parts.isEmpty) s"CAST(map() AS ${dt.sql})"
        else parts.mkString("map(", ", ", ")")
      case _ => Literal(value, dt).sql
    }

  /** The emitted validation artifact: a SELECT over `tableName`
    * producing `keyCols..., valid, violations` per
    * [[ValidationEngine.annotate]] semantics. `schema` is the table's
    * physical schema (compile-time input, exactly like the reference's
    * generate-time schema graph). Two-level text so `valid` — referenced
    * by the violations guard — is computed once, mirroring
    * [[ValidationEngine.annotateWith]]'s projection layering.
    *
    * When the spec carries `default`s, a third (innermost) SELECT
    * re-projects every defaulted column under its own name, so the
    * artifact computes exactly `applyDefaults` + `annotate` — the
    * reference's generated parsers substitute defaults before
    * validation (CodeGen.hs:342-350), and generateModule's emitted
    * source includes that substitution; the SQL artifact must too.
    */
  def validationSql(spark: SparkSession, spec: SchemaSpec, schema: StructType,
      tableName: String, keyCols: Seq[String]): String = {
    val constraints = graft.compile.SpecCompiler.compileTable(spec, schema)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

    // defaults layer: SELECT <filled AS name | name>, ... FROM table
    val dmap = ValidationEngine.defaultExprs(spec, schema).toMap
    val innerFrom =
      if (dmap.isEmpty) tableName
      else {
        val probeD = empty.select(schema.fields.toSeq.map(f =>
          dmap.getOrElse(f.name, org.apache.spark.sql.functions.col(f.name))
            .as(f.name)): _*)
        val projD = probeD.queryExecution.analyzed.collectFirst {
          case p: Project => p.projectList
        }.getOrElse(throw new IllegalStateException(
          "expected the analyzed defaults probe plan to be a Project"))
        val parts = schema.fields.toSeq.zip(projD).map { case (f, a) =>
          if (dmap.contains(f.name)) s"${render(a.children.head)} AS ${f.name}"
          else f.name
        }
        s"(SELECT ${parts.mkString(", ")} FROM $tableName)"
      }
    // resolve the raw expressions against the schema: the ANALYZED plan
    // of a single select is a Project whose aliases carry them (the
    // optimizer is not involved — it would fold the empty relation away)
    val probe = empty.select(
      ValidationEngine.passColumn(constraints).as("__valid"),
      ValidationEngine.violationsArray(constraints).as("__viol"))
    val resolved = probe.queryExecution.analyzed.collectFirst {
      case p: Project => p.projectList
    }.getOrElse(throw new IllegalStateException(
      "expected the analyzed probe plan to be a Project"))
    val rendered = resolved.map(a => render(a.children.head))
    val (validSql, violSql) = (rendered(0), rendered(1))
    // the pass-branch empty array, typed to match the failing branch
    // (rendered literally: the violations struct field names are fixed)
    val emptySql =
      "CAST(ARRAY() AS ARRAY<STRUCT<constraint_id: STRING, offending: STRING>>)"
    val keys = keyCols.mkString(", ")
    s"""SELECT $keys, valid,
       |       CASE WHEN valid THEN $emptySql
       |            ELSE $violSql END AS violations
       |FROM (SELECT *, $validSql AS valid FROM $innerFrom)""".stripMargin
  }
}
