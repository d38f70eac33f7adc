package graft.engine

import graft.spec.{SchemaSpec, SchemaType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

/** Constraint suggestion: profile a table and EMIT a draft schema spec —
  * the inverse direction of the validation engine, closing the loop
  * `infer → hand-edit → validate` (the workflow of Deequ's
  * ConstraintSuggestion, re-expressed over this engine's draft-3 spec
  * model). Everything is derived from ONE distributed aggregation pass
  * plus one bounded follow-up:
  *
  *   - pass 1 (one hash-agg, map-side partials, no shuffle beyond the
  *     single global merge): per column — null count, min/max, string
  *     length bounds, array size/element bounds, and an HLL distinct
  *     sketch (`approx_count_distinct`).
  *   - pass 2 (only when pass 1's sketch says a string column is
  *     low-cardinality): exact distinct values for enum suggestion. The
  *     HLL GATE is what makes this 10^12-safe — `collect_set` never runs
  *     on a column the sketch hasn't already bounded; the sketch's ±2%
  *     error is covered by a 2× margin before the exact check.
  *
  * Suggested constraints are the observed invariants: `required` where
  * no nulls were seen, numeric/length/size bounds at the observed
  * min/max, `enum` for low-cardinality strings. By construction the
  * emitted spec validates the profiled table with ZERO violations
  * (asserted in InferSpec), and any row outside the observed envelope
  * trips it — the user then widens bounds where the sample was narrow.
  */
object SpecInfer {

  /** Max distinct values for an enum suggestion on a string column. */
  val DefaultEnumMax = 16

  /** Columns a spec can constrain: atomic + array-of-atomic. */
  private def isAtomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: StructType | _: MapType | BinaryType => false
    case _                                                      => true
  }

  private def typeOf(dt: DataType): SchemaType = dt match {
    case StringType                                          => SchemaType.SString
    case ByteType | ShortType | IntegerType | LongType       => SchemaType.SInteger
    case FloatType | DoubleType | _: DecimalType             => SchemaType.SNumber
    case BooleanType                                         => SchemaType.SBoolean
    case _                                                   => SchemaType.SAny // timestamp/date/...: constrain presence only
  }

  /** The inferred spec for `df`'s row type. `enumMax` bounds enum
    * suggestion; `bounds=false` drops the numeric/length envelopes
    * (suggest shape + presence + enums only).
    */
  def infer(df: DataFrame, enumMax: Int = DefaultEnumMax,
      bounds: Boolean = true): SchemaSpec = {
    val fields = df.schema.fields.filter(f =>
      isAtomic(f.dataType) || (f.dataType match {
        case ArrayType(e, _) => isAtomic(e); case _ => false
      }))
    require(fields.nonEmpty, "no inferable columns")

    val aggs: Seq[Column] = count(lit(1)).as("_n") +: fields.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"))
      f.dataType match {
        case StringType => base ++ Seq(
          min(length(c)).as(s"${f.name}__minlen"),
          max(length(c)).as(s"${f.name}__maxlen"),
          approx_count_distinct(c, 0.02).as(s"${f.name}__hll"))
        case ArrayType(_, _) => base ++ Seq(
          min(size(c)).as(s"${f.name}__minit"),
          max(size(c)).as(s"${f.name}__maxit"),
          min(array_min(c)).cast("decimal(38,6)").as(s"${f.name}__emin"),
          max(array_max(c)).cast("decimal(38,6)").as(s"${f.name}__emax"))
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | _: DecimalType => base ++ Seq(
          min(c).cast("decimal(38,6)").as(s"${f.name}__min"),
          max(c).cast("decimal(38,6)").as(s"${f.name}__max"))
        case _ => base
      }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(row.fieldIndex("_n"))
    require(n > 0, "cannot infer a spec from an empty table")
    def dec(name: String): Option[BigDecimal] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None
      else {
        // normalize 100.000000 → 100 (plain, never exponent notation, so
        // the rendered JSON stays hand-editable)
        val bd = row.getDecimal(i).stripTrailingZeros
        Some(BigDecimal(if (bd.scale < 0) bd.setScale(0) else bd))
      }
    }
    def num(name: String): Option[Long] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None
      else Some(row.get(i) match { case x: Int => x.toLong; case x: Long => x })
    }

    // pass 2: exact enum values, ONLY for HLL-bounded string columns
    val enumCands = fields.filter(f => f.dataType == StringType &&
      num(s"${f.name}__hll").exists(_ <= 2L * enumMax))
    val enums: Map[String, Seq[String]] =
      if (enumCands.isEmpty) Map.empty
      else {
        val eaggs = enumCands.map(f =>
          sort_array(collect_set(col(f.name))).as(f.name))
        val er = df.agg(eaggs.head, eaggs.tail: _*).collect()(0)
        enumCands.flatMap { f =>
          val vs = er.getSeq[String](er.fieldIndex(f.name))
          if (vs.length <= enumMax) Some(f.name -> vs) else None
        }.toMap
      }

    val props: Map[String, SchemaSpec] = fields.map { f =>
      val nulls = row.getLong(row.fieldIndex(s"${f.name}__nulls"))
      val req = nulls == 0L
      val s = f.dataType match {
        case StringType =>
          SchemaSpec(types = Seq(Left(SchemaType.SString)), required = req,
            minLength = if (bounds) num(s"${f.name}__minlen").map(_.toInt).getOrElse(0) else 0,
            maxLength = if (bounds) num(s"${f.name}__maxlen").map(_.toInt) else None,
            enumValues = enums.get(f.name).map(_.map(JString(_): JValue)))
        case ArrayType(e, _) =>
          val items = typeOf(e) match {
            case SchemaType.SInteger | SchemaType.SNumber if bounds =>
              Some(Left(SchemaSpec(types = Seq(Left(typeOf(e))),
                minimum = dec(s"${f.name}__emin"),
                maximum = dec(s"${f.name}__emax"))))
            case SchemaType.SAny => None
            case t => Some(Left(SchemaSpec(types = Seq(Left(t)))))
          }
          SchemaSpec(types = Seq(Left(SchemaType.SArray)), required = req,
            minItems = if (bounds) num(s"${f.name}__minit").map(_.toInt).getOrElse(0) else 0,
            maxItems = if (bounds) num(s"${f.name}__maxit").map(_.toInt) else None,
            items = items)
        case dt if typeOf(dt) == SchemaType.SInteger || typeOf(dt) == SchemaType.SNumber =>
          SchemaSpec(types = Seq(Left(typeOf(dt))), required = req,
            minimum = if (bounds) dec(s"${f.name}__min") else None,
            maximum = if (bounds) dec(s"${f.name}__max") else None)
        case BooleanType =>
          SchemaSpec(types = Seq(Left(SchemaType.SBoolean)), required = req)
        case _ =>
          SchemaSpec(required = req) // type `any`: presence check only
      }
      f.name -> s
    }.toMap

    SchemaSpec(types = Seq(Left(SchemaType.SObject)), properties = props,
      additionalProperties = Left(false))
  }

  /** The oracle-comparable long form of the inference evidence: one row
    * per inferable atomic column —
    * `(col_name, n, n_null, required, min_s, max_s, n_distinct, enum_vals)`.
    * `n_distinct` here is EXACT (this form exists for small-scale
    * cross-engine comparison; the production [[infer]] path uses the
    * HLL-gated two-pass instead), `enum_vals` is the sorted
    * comma-joined distinct set for string columns within `enumMax`.
    */
  def inferRows(df: DataFrame, enumMax: Int = DefaultEnumMax): DataFrame = {
    val fields = df.schema.fields.filter(f => isAtomic(f.dataType))
    require(fields.nonEmpty, "no inferable columns")
    // The multi-column `countDistinct` family and the `collect_set`
    // family are aggregated in SEPARATE subtrees, recombined by a 1-row
    // cross join (the Checks.scala 1-row-total precedent): mixing them
    // in one Aggregate makes RewriteDistinctAggregates plan the
    // TypedImperative collect_set through Expand × (n_distinct_groups+1)
    // SortAggregates — measured 4.7 s vs 0.39 s at sf0.1 for
    // bit-identical output (plans/r06/val_infer_rows_*). Each subtree is one
    // scan with map-side partial aggregation; two scans beat one
    // Expand-multiplied sort-aggregate at every scale.
    val aggs: Seq[Column] = count(lit(1)).as("_n") +: fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
        min(c).cast("string").as(s"${f.name}__min"),
        max(c).cast("string").as(s"${f.name}__max"),
        countDistinct(c).as(s"${f.name}__dist"))
    }
    val setAggs: Seq[Column] = fields.filter(_.dataType == StringType).map(f =>
      array_join(sort_array(collect_set(col(f.name))), ",").as(s"${f.name}__set"))
    val wide0 = df.agg(aggs.head, aggs.tail: _*)
    val wide = if (setAggs.isEmpty) wide0
      else wide0.crossJoin(df.agg(setAggs.head, setAggs.tail: _*))
    val stacked = fields.map { f =>
      val enumCol =
        if (f.dataType == StringType)
          when(col(s"${f.name}__dist") <= enumMax, col(s"${f.name}__set"))
        else lit(null).cast("string")
      struct(
        lit(f.name).as("col_name"),
        col("_n").as("n"),
        col(s"${f.name}__nulls").as("n_null"),
        (col(s"${f.name}__nulls") === 0L).as("required"),
        col(s"${f.name}__min").as("min_s"),
        col(s"${f.name}__max").as("max_s"),
        col(s"${f.name}__dist").as("n_distinct"),
        enumCol.as("enum_vals"))
    }
    wide.select(explode(array(stacked: _*)).as("s")).select(col("s.*"))
  }
}
