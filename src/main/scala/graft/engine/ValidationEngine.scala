package graft.engine

import graft.compile.{CompiledConstraint, SpecCompiler}
import graft.spec.SchemaSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Runs a compiled spec over a DataFrame in one fused pass.
  *
  * The entire row-level validation is a single `select` of independent
  * pass expressions (error-accumulating — all violations per row, like the
  * reference interpreter, Validator.hs:43-50) that Catalyst fuses into one
  * whole-stage-codegen'd projection per partition: no shuffle, no UDF on
  * the hot path, scan-bound at any scale.
  */
object ValidationEngine {

  val ViolationsCol = "violations"
  val PassCol = "valid"

  /** Input columns + `violations: array<struct<constraint_id,offending>>`
    * + `valid: boolean`. Offending values are only materialized for
    * failing constraints (cheap pass path).
    */
  def annotate(df: DataFrame, spec: SchemaSpec): DataFrame =
    annotateWith(df, SpecCompiler.compileTable(spec, df.schema))

  /** Fill absent (NULL) properties with their spec `default` before
    * validation — parity with the reference's COMPILED path, whose
    * generated parsers substitute `schemaDefault` when a property is
    * missing (reference: src/Data/Aeson/Schema/CodeGen.hs:342-350); the
    * reference interpreter does not apply defaults, so this is an
    * explicit opt-in projection, not part of [[annotate]].
    *
    * Top-level properties use `coalesce(col, defaultLit)`; properties
    * that are themselves structs recurse, rebuilding the struct with
    * defaulted fields (absent = NULL under the engine's null≡absent
    * collapse). The recursion also reaches ARRAY ELEMENTS (single-schema
    * `items` via `transform`, tuple `items` positionally via the indexed
    * `transform` — parity with the reference's item parsers composed
    * with default substitution, CodeGen.hs:429-481) and MAP VALUES
    * (per-declared-key and additionalProperties-schema recursion via
    * `transform_values`; a declared key ABSENT from the map whose
    * default is representable is inserted via `map_concat` — maps have
    * true key presence, so absence is observable, unlike struct NULLs).
    * Defaults not representable in the physical column type are ignored
    * (the reference would fail parsing such data anyway), and a default
    * literal is inserted as-is (its own interior absences are not
    * re-defaulted). One projection, shuffle-free (the HOF arms are
    * eval-only but run only on map/array columns that carry defaults).
    */
  def applyDefaults(df: DataFrame, spec: SchemaSpec): DataFrame =
    defaultExprs(spec, df.schema).foldLeft(df) { case (acc, (name, c)) =>
      acc.withColumn(name, c)
    }

  /** The per-column default-filling expressions behind [[applyDefaults]]
    * — (columnName, filledExpression) for every top-level property whose
    * subtree carries a `default`. Exposed so [[SqlGen]] can render the
    * same projection into the emitted artifact (the reference's
    * generateModule output includes default handling, CodeGen.hs:342-350).
    */
  def defaultExprs(spec: SchemaSpec,
      schema: org.apache.spark.sql.types.StructType): Seq[(String, Column)] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def defaulted(sub: SchemaSpec, dt: DataType, c: Column): Column = {
      val filled = sub.default.flatMap(d => SpecCompiler.jsonLit(d, dt))
        .map(dl => coalesce(c, dl)).getOrElse(c)
      dt match {
        case st: StructType if sub.properties.exists { case (n, p) =>
              st.fieldNames.contains(n) && hasDefaults(p) } =>
          val fields = st.fields.toSeq.map { f =>
            sub.properties.get(f.name) match {
              case Some(p) => defaulted(p, f.dataType, filled.getField(f.name)).as(f.name)
              case None    => filled.getField(f.name).as(f.name)
            }
          }
          // a wholly-absent struct stays NULL (absent ≠ empty object)
          when(filled.isNull, filled).otherwise(struct(fields: _*))
        case at: ArrayType =>
          sub.items match {
            case Some(Left(one)) if hasDefaults(one) =>
              // one schema for all elements; a NULL element takes the
              // element default (null≡absent collapse applied per element)
              transform(filled, x => defaulted(one, at.elementType, x))
            case Some(Right(tuple)) if tuple.exists(hasDefaults) =>
              transform(filled, (x, i) =>
                tuple.zipWithIndex.foldLeft(x) { case (acc, (ts, j)) =>
                  if (!hasDefaults(ts)) acc
                  else when(i === j, defaulted(ts, at.elementType, x)).otherwise(acc)
                })
            case _ => filled
          }
        case mt: MapType =>
          val keyed = sub.properties.toSeq.sortBy(_._1).filter(p => hasDefaults(p._2))
          val addl = sub.additionalProperties match {
            case Right(a) if hasDefaults(a) => Some(a)
            case _                          => None
          }
          val withVals =
            if (keyed.isEmpty && addl.isEmpty) filled
            else transform_values(filled, (k, v) => {
              val base = addl.map(a => defaulted(a, mt.valueType, v)).getOrElse(v)
              keyed.foldLeft(base) { case (acc, (name, p)) =>
                when(k === lit(name), defaulted(p, mt.valueType, v)).otherwise(acc)
              }
            })
          // declared keys with representable defaults are ADDED when absent
          keyed.foldLeft(withVals) { case (acc, (name, p)) =>
            p.default.flatMap(d => SpecCompiler.jsonLit(d, mt.valueType)) match {
              case Some(dl) =>
                when(acc.isNull || map_contains_key(acc, name), acc)
                  .otherwise(map_concat(acc, map(lit(name), dl)))
              case None => acc
            }
          }
        case _ => filled
      }
    }
    def hasDefaults(s: SchemaSpec): Boolean =
      s.default.isDefined || s.properties.values.exists(hasDefaults) ||
        s.items.exists {
          case Left(one)   => hasDefaults(one)
          case Right(tuple) => tuple.exists(hasDefaults)
        } ||
        s.additionalProperties.fold(_ => false, hasDefaults)

    spec.properties.toSeq.sortBy(_._1).flatMap { case (name, sub) =>
      schema.fields.find(_.name == name) match {
        case Some(f) if hasDefaults(sub) =>
          Some(name -> defaulted(sub, f.dataType, col(name)))
        case _ => None
      }
    }
  }

  /** The pure all-constraints-pass conjunction (shared with [[SqlGen]]). */
  def passColumn(constraints: Seq[CompiledConstraint]): Column =
    constraints.map(_.pass).reduce(_ && _)

  /** The failing-constraints array (un-gated — callers wrap it in a
    * valid-row guard; shared with [[SqlGen]]).
    *
    * Built as `concat(CASE WHEN ¬pass THEN [struct] ELSE [] END, …)` —
    * one conditional singleton per constraint — NOT as
    * `transform(filter(array(all), ¬pass), drop-pass-field)`: the
    * higher-order form is eval-only, which dropped the whole violations
    * projection (and, on the fast path, the Filter that
    * InferFiltersFromGenerate derives from it) out of whole-stage
    * codegen and boxed every struct. Concat/CaseWhen/CreateArray all
    * codegen, branches evaluate lazily, and a null `pass` falls to the
    * empty arm exactly as `filter` dropped it. Same output order
    * (constraint declaration order) and schema.
    */
  def violationsArray(constraints: Seq[CompiledConstraint]): Column = {
    val arms: Seq[Column] = constraints.map { k =>
      when(!k.pass,
        array(struct(
          lit(k.cid).as("constraint_id"),
          k.offending.cast("string").as("offending"))))
        .otherwise(emptyViolations)
    }
    concat(arms: _*)
  }

  /** The typed empty violations array (shared with [[SqlGen]]). The
    * LITERAL itself carries the named struct type — a `typedlit` of
    * tuples under a rename cast leaks `_1`/`_2` into type-coercion and
    * into SqlGen's rendered `CAST(ARRAY() AS …)` once the cast folds
    * into the literal.
    */
  def emptyViolations: Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    val dt = ArrayType(StructType(Seq(
      StructField("constraint_id", StringType),
      StructField("offending", StringType))))
    EU.column(org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array.empty[org.apache.spark.sql.Row], dt))
  }

  def annotateWith(df: DataFrame, constraints: Seq[CompiledConstraint]): DataFrame = {
    require(constraints.nonEmpty, "no constraints compiled — empty spec?")
    // Fast path: `valid` is a pure boolean conjunction (no allocation).
    // The violations array — structs, filter, offending-value rendering —
    // is only materialized for failing rows; If/CaseWhen branches evaluate
    // lazily under codegen, so passing rows (the overwhelming majority at
    // scale) never allocate.
    df.withColumn(PassCol, passColumn(constraints))
      .withColumn(ViolationsCol,
        when(col(PassCol), emptyViolations).otherwise(violationsArray(constraints)))
  }

  /** The violations Dataset: one row per (row key, failed constraint,
    * offending value) — the reference's `[ValidationError]` per value,
    * exploded relationally.
    */
  def violations(df: DataFrame, spec: SchemaSpec, keyCols: Seq[String]): DataFrame =
    violationsWith(annotate(df, spec), keyCols)

  /** True when the pre-filter fast path is safe: the conjunction that
    * defines `valid` consists ONLY of provably cheap scalar nodes, so
    * re-evaluating it inside a pushed-down Filter costs less than
    * streaming every passing row through an outer Generate.
    *
    * This is a WHITELIST, deliberately: the first version of this
    * strategy blacklisted parse expressions and UDFs and assumed
    * everything else the compiler emits was cheap to re-evaluate — and
    * the round-4 bench caught the counterexamples. Array traversals
    * (`forall` item checks are eval-only HOFs that drop the whole
    * pushed Filter out of codegen; even codegen'd `array_min`/
    * `array_distinct` re-walk O(|array|) per evaluation — measured
    * val_tuple_items 0.21 s outer → 1.00 s pre-filtered, 4.8×) and
    * regex containment over document-sized strings (measured
    * val_violations 0.20 → 0.43 s) both cost more to evaluate twice
    * than the outer form's generate tax (~1.5× measured on the plain
    * typed events spec, the case the fast path exists for). The
    * asymmetry picks the default: a whitelist miss costs at most the
    * 1.5× generate tax; a blacklist miss cost up to ~5×.
    */
  private[engine] def prefilterIsCheap(annotated: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def cheap(e: Expression): Boolean = (e match {
      case _: Attribute | _: Literal => true
      case _: And | _: Or | _: Not => true
      case _: BinaryComparison => true                 // =, <=>, <, <=, >, >=
      case _: In | _: InSet => true                    // enum membership
      case _: IsNull | _: IsNotNull | _: Coalesce => true
      case _: Cast | _: UpCast => true
      case _: BinaryArithmetic => true                 // +, -, *, /, %, pmod
      case _: UnaryMinus | _: Abs => true
      case _: RoundBase | _: Floor | _: Ceil => true   // integer-ness checks
      case _: CaseWhen | _: If => true                 // union/any dispatch
      case _: Size | _: Length => true                 // O(1) header / length
      case _: GetStructField => true                   // property access
      case _: CreateNamedStruct => true                // the row-as-object
                                                       // wrapper; collapsed by
                                                       // SimplifyExtractValueOps
      case _ => false                                  // HOFs, regex, array
                                                       // walks, parses, UDFs,
                                                       // custom kernels, …
    }) && e.children.forall(cheap)
    validExpr(annotated).exists(cheap)
  }

  /** The expression behind the `valid` alias of an annotated frame's
    * analyzed plan, if any.
    */
  private def validExpr(annotated: DataFrame)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    annotated.queryExecution.analyzed.collectFirst {
      case p: Project if p.projectList.exists {
            case a: Alias => a.name == PassCol; case _ => false } =>
        p.projectList.collectFirst {
          case a: Alias if a.name == PassCol => a.child }
    }.flatten
  }

  /** Diagnostic: the `valid` alias expression and its first
    * non-whitelisted node, for strategy-spec failures.
    */
  private[engine] def debugValidExpr(annotated: DataFrame): String =
    validExpr(annotated).fold("NO valid ALIAS FOUND")(e =>
      s"valid = $e\nnode classes: ${e.collect { case x => x.getClass.getSimpleName }.distinct.mkString(", ")}")

  /** Violations from an already-annotated frame (or any custom
    * constraint set via [[annotateWith]]).
    *
    * Two strategies, chosen from the plan itself:
    *
    * FAST PATH (cheap scalar conjunctions — [[prefilterIsCheap]]):
    * `where(!valid)` + plain `explode`. The pre-filter is pushed below
    * the annotate projection (PushPredicateThroughNonJoin substitutes
    * the alias with its defining conjunction), so passing rows — nearly
    * all rows on a clean table — are dropped by one codegen'd filter and
    * never reach the Generate; re-evaluating the cheap comparison
    * conjunction in the filter costs less than streaming every passing
    * row through the generator as a v=NULL row (measured ~1.5× on the
    * plain typed events spec).
    *
    * OUTER PATH (everything else: parse expressions, UDFs, regex
    * checks, array/map traversals — anything not provably cheap to
    * evaluate twice): that same pushdown substitution would re-evaluate
    * the expensive conjunction inside the Filter — and an eval-only HOF
    * in it drops the whole Filter out of codegen (measured up to ~5× on
    * tuple-items specs, ~3× on parsed-map enum specs). `explode_outer`
    * blocks the filter inference (and gives InferFiltersFromGenerate
    * nothing to add); passing rows carry an empty array and surface as
    * one v=NULL row, dropped by the post-Generate filter, which sits on
    * the generated attribute and therefore cannot be pushed down.
    */
  def violationsWith(annotated: DataFrame, keyCols: Seq[String]): DataFrame =
    if (prefilterIsCheap(annotated))
      annotated
        .where(!col(PassCol))
        .select(keyCols.map(col) :+ explode(col(ViolationsCol)).as("v"): _*)
        .select(keyCols.map(col) :+
          col("v.constraint_id").as("constraint_id") :+
          col("v.offending").as("offending"): _*)
    else
      annotated
        .select(keyCols.map(col) :+ explode_outer(col(ViolationsCol)).as("v"): _*)
        .where(col("v").isNotNull)
        .select(keyCols.map(col) :+
          col("v.constraint_id").as("constraint_id") :+
          col("v.offending").as("offending"): _*)

  /** [[violationsWith]] bounded to at most `maxPerConstraint` exemplar
    * rows per constraint per task partition. Under a SYSTEMIC defect —
    * a bad writer, a schema change — every row fails and the violations
    * output is as large as the corpus; what the operator needs is the
    * exact counts (still exact: [[partitionVerdicts]], and
    * CheckpointRunner's observed metrics sit BELOW the cap) plus a few
    * offending exemplars per constraint, not 10^12 copies of the same
    * defect. The cap is a per-partition streaming filter (mapPartitions
    * with one counter per constraint id — bounded by the compiled
    * constraint count): no shuffle, no sort, no skew sensitivity;
    * output ≤ partitions × constraints × cap rows. mapPartitions is
    * justified here (SURVEY §7 escape-hatch order) because a
    * per-partition running counter has no declarative shuffle-free
    * form — a window would shuffle the full violation stream.
    */
  def violationsCappedWith(annotated: DataFrame, keyCols: Seq[String],
      maxPerConstraint: Int): DataFrame = {
    require(maxPerConstraint > 0, "maxPerConstraint must be positive")
    val full = violationsWith(annotated, keyCols)
    val cidIdx = full.schema.fieldIndex("constraint_id")
    full.mapPartitions { it =>
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      it.filter { r =>
        val n = seen.getOrElse(r.getString(cidIdx), 0)
        if (n < maxPerConstraint) { seen.update(r.getString(cidIdx), n + 1); true }
        else false
      }
    }(org.apache.spark.sql.Encoders.row(full.schema))
  }

  /** Per-row verdicts: key columns + `valid`. */
  def verdicts(df: DataFrame, spec: SchemaSpec, keyCols: Seq[String]): DataFrame =
    annotate(df, spec).select(keyCols.map(col) :+ col(PassCol): _*)

  /** Per-partition (grouping-column) pass/fail rollup: partial aggregation
    * happens map-side, so the shuffle carries one row per group per task.
    */
  def partitionVerdicts(df: DataFrame, spec: SchemaSpec, partCols: Seq[String]): DataFrame =
    annotate(df, spec)
      .groupBy(partCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(PassCol), 0L).otherwise(1L)).as("n_failed_rows"),
        sum(size(col(ViolationsCol)).cast("long")).as("n_violations"))
      .withColumn("partition_pass", col("n_failed_rows") === 0L)
}
