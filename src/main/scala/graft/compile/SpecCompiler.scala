package graft.compile

import graft.spec._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

/** One compiled constraint: a stable path-based id, a BooleanType pass
  * expression, and an expression producing the offending value (as string)
  * for the violations Dataset.
  */
final case class CompiledConstraint(cid: String, pass: Column, offending: Column)

/** Compiles a [[SchemaSpec]] against a Spark schema into independent
  * Catalyst pass/offending expressions — the Spark analog of the
  * reference's Template-Haskell parser generator
  * (reference: src/Data/Aeson/Schema/CodeGen.hs:59-91): compile once on
  * the driver, evaluate many times as whole-stage-codegen'd expressions.
  *
  * Unlike the reference's generated parsers (fail-fast `Parser` monad,
  * CodeGen.hs:209-217), the output model follows the reference's
  * *interpreter* (Validator.hs:43-50): each constraint is evaluated
  * independently so ALL violations per row are reported.
  *
  * Design rules:
  *   - plan-time type analysis: checks that a typed column statically
  *     satisfies are elided (the dead-check elision of CodeGen.hs:238,491);
  *     statically impossible types become constant-false constraints.
  *   - SQL NULL collapses JSON null/undefined (documented divergence,
  *     SURVEY.md §7.4): an absent (null) property passes every check
  *     except `required`.
  *   - constraint ids are `$.path.keyword`, identical to the ones the
  *     in-memory oracle emits, so violation sets are directly comparable.
  */
object SpecCompiler {

  /** A constraint generator: id plus pass/offending as functions of the
    * (not yet known) input column — needed so array-element constraints
    * can be rebuilt inside `forall`/`filter` lambda scopes.
    */
  final case class Gen(cid: String, pass: Column => Column, offending: Column => Column)

  private val FalseC: Column = lit(false)
  private val TrueC: Column = lit(true)

  /** The shipped `format: "regex"` check, kept addressable for existing
    * callers; the table it lives in is [[FormatRegistry]] (the
    * reference's extensible `formatValidators` lookup, Helpers.hs:31-50).
    */
  val isValidRegexFn: String => Boolean = FormatRegistry.get("regex").get.fn

  // ---------------------------------------------------------------------
  // public entry points
  // ---------------------------------------------------------------------

  /** Compile a spec for a table whose rows are the JSON objects. */
  def compileTable(spec: SchemaSpec, schema: StructType): Seq[CompiledConstraint] = {
    val row = struct(schema.fieldNames.map(col).toSeq: _*)
    // Catalyst's SimplifyExtractValueOps collapses
    // GetStructField(CreateNamedStruct) back to the bare column, so
    // column pruning / pushdown survive this uniform encoding.
    valueGens(spec, schema, "$").map(materialize(_, row))
  }

  /** Compile a spec for a single column. */
  def compileColumn(spec: SchemaSpec, dt: DataType, c: Column, path: String): Seq[CompiledConstraint] =
    valueGens(spec, dt, path).map(materialize(_, c))

  /** Conjunction of all constraints of a spec over a column — used for
    * union branches, `disallow` subschemas, and schema-form dependencies.
    */
  def conjunction(spec: SchemaSpec, dt: DataType, path: String): Column => Column = {
    val gens = valueGens(spec, dt, path)
    c => if (gens.isEmpty) TrueC else gens.map(g => notNullPass(g.pass(c))).reduce(_ && _)
  }

  private def materialize(g: Gen, c: Column): CompiledConstraint =
    CompiledConstraint(g.cid, notNullPass(g.pass(c)), g.offending(c))

  /** Boolean expressions over nullable inputs yield NULL; a NULL verdict
    * means "could not pass" for a present value, so it resolves to false.
    * (Null/absent short-circuits to pass happen explicitly via guards.)
    */
  private def notNullPass(p: Column): Column = coalesce(p, FalseC)

  // ---------------------------------------------------------------------
  // the recursive compiler
  // ---------------------------------------------------------------------

  /** All constraint generators of `spec` for a value of Spark type `dt`.
    * Mirrors the interpreter's entry: type dispatch + enum + disallow +
    * extends, concatenated (reference: Validator.hs:43-50).
    */
  def valueGens(spec: SchemaSpec, dt: DataType, path: String): Seq[Gen] = {
    require(spec.ref.isEmpty,
      s"unresolved $$ref '${spec.ref.get}' at $path — run SchemaParser.inline first")

    val typeGens: Seq[Gen] = spec.types match {
      case Seq(Left(t))    => typedGens(spec, t, dt, path)
      case Seq(Right(sub)) => valueGens(sub, dt, path)
      case many =>
        // union: pass iff any alternative is fully clean (Validator.hs:44-46)
        val branches: Seq[Column => Column] = many.map {
          case Left(t) =>
            val gens = typedGens(spec, t, dt, path)
            (c: Column) =>
              if (gens.isEmpty) TrueC
              else gens.map(g => notNullPass(g.pass(c))).reduce(_ && _)
          case Right(sub) => conjunction(sub, dt, path)
        }
        Seq(Gen(s"$path.type",
          c => branches.map(_(c)).reduce(_ || _),
          c => offendingValue(c, dt)))
    }

    val enumGen = spec.enumValues.toSeq.map { allowed =>
      Gen(s"$path.enum", enumPass(allowed, dt), c => offendingValue(c, dt))
    }

    val disallowGen = if (spec.disallow.isEmpty) Nil else {
      val matchers: Seq[Column => Column] = spec.disallow.map {
        case Left(t)    => typeMatchExpr(t, dt)
        case Right(sub) => conjunction(sub, dt, path)
      }
      Seq(Gen(s"$path.disallow",
        c => !matchers.map(_(c)).reduce(_ || _),
        c => offendingValue(c, dt)))
    }

    val extendGens = spec.extendsSchemas.flatMap(base => valueGens(base, dt, path))

    typeGens ++ enumGen ++ disallowGen ++ extendGens
  }

  /** Keyword checks for one allowed type arm against the physical type.
    * Statically impossible arm = constant-false type constraint; `any`
    * re-dispatches on the physical type (Validator.hs:60-65).
    */
  private def typedGens(spec: SchemaSpec, t: SchemaType, dt: DataType, path: String): Seq[Gen] = {
    import SchemaType._
    t match {
      case SAny =>
        // leaf checks for whatever the physical type is; NULL values pass
        val leaf = leafGensFor(spec, dt, path)
        leaf.map(g => Gen(g.cid, c => c.isNull || notNullPass(g.pass(c)), g.offending))
      case SString if dt == StringType  => stringGens(spec, path)
      case SNumber if isNumeric(dt)     => numberGens(spec, dt, path)
      case SInteger if isIntegral(dt)   => numberGens(spec, dt, path)
      case SInteger if isNumeric(dt) =>
        // fractional physical type: dynamic integrality residue (Validator.hs:81,131-133)
        Gen(s"$path.type", c => c === floor(c), c => offendingValue(c, dt)) +:
          numberGens(spec, dt, path)
      case SBoolean if dt == BooleanType => Nil
      case SNull =>
        Seq(Gen(s"$path.type", c => c.isNull, c => offendingValue(c, dt)))
      case SObject =>
        dt match {
          case st: StructType => objectGens(spec, st, path)
          case mt: MapType    => mapObjectGens(spec, mt, path)
          case _              => Seq(staticTypeFail(dt, path))
        }
      case SArray =>
        dt match {
          case at: ArrayType => arrayGens(spec, at, path)
          case _             => Seq(staticTypeFail(dt, path))
        }
      case _ => Seq(staticTypeFail(dt, path))
    }
  }

  private def staticTypeFail(dt: DataType, path: String): Gen =
    Gen(s"$path.type", _ => FalseC, c => offendingValue(c, dt))

  /** Leaf checks selected by physical type (the `any` dispatch). */
  private def leafGensFor(spec: SchemaSpec, dt: DataType, path: String): Seq[Gen] = dt match {
    case StringType        => stringGens(spec, path)
    case d if isNumeric(d) => numberGens(spec, d, path)
    case at: ArrayType     => arrayGens(spec, at, path)
    case st: StructType    => objectGens(spec, st, path)
    case mt: MapType       => mapObjectGens(spec, mt, path)
    case _                 => Nil
  }

  // --- strings (Validator.hs:102-113) ---

  private def stringGens(spec: SchemaSpec, path: String): Seq[Gen] = {
    val minL =
      if (spec.minLength > 0)
        Seq(Gen(s"$path.minLength", c => length(c) >= spec.minLength, strOff))
      else Nil
    val maxL = spec.maxLength.toSeq.map(m =>
      Gen(s"$path.maxLength", c => length(c) <= m, strOff))
    val pat = spec.pattern.toSeq.map(p =>
      Gen(s"$path.pattern", c => c.rlike(p.source), strOff))
    // format tags resolve through the pluggable registry (the
    // reference's formatValidators table); unregistered tags are no-ops
    val fmt = spec.format.flatMap(FormatRegistry.get).toSeq.map(e =>
      Gen(s"$path.format", c => e.column(c), strOff))
    minL ++ maxL ++ pat ++ fmt
  }

  private def strOff: Column => Column = c => c

  // --- numbers (Validator.hs:115-133, Helpers.hs:59-67) ---

  private def numberGens(spec: SchemaSpec, dt: DataType, path: String): Seq[Gen] = {
    def bound(v: BigDecimal): Column = numLit(v, dt)
    val minV = spec.minimum.toSeq.map { m =>
      Gen(s"$path.minimum",
        c => if (spec.exclusiveMinimum) c > bound(m) else c >= bound(m),
        numOff(dt))
    }
    val maxV = spec.maximum.toSeq.map { m =>
      Gen(s"$path.maximum",
        c => if (spec.exclusiveMaximum) c < bound(m) else c <= bound(m),
        numOff(dt))
    }
    val div = spec.divisibleBy.toSeq.map { d =>
      if (d.isWhole && isIntegral(dt) && d.isValidLong)
        Gen(s"$path.divisibleBy", c => c % lit(d.toLong) === 0, numOff(dt))
      else if (d.underlying().precision <= 38 && d.underlying().scale <= 18
          && d.underlying().scale >= 0)
        // exact decimal remainder — Spark decimal arithmetic is exact
        // within 38 digits (SURVEY.md §7.5); the codegen'd default
        Gen(s"$path.divisibleBy",
          c => c.cast(DecimalType(38, 18)) % lit(d.underlying()) === lit(BigDecimal(0).underlying()),
          numOff(dt))
      else
        // the divisor itself exceeds DecimalType(38,18) — arbitrary-
        // precision remainder, exact at any scale like the reference's
        // Scientific arithmetic (Helpers.hs:59-67)
        Gen(s"$path.divisibleBy",
          c => org.apache.spark.sql.GraftColumnBridge.column(
            ExactDivisibleBy(
              org.apache.spark.sql.GraftColumnBridge.expression(c),
              d.underlying())),
          numOff(dt))
    }
    minV ++ maxV ++ div
  }

  private def numLit(v: BigDecimal, dt: DataType): Column =
    if (v.isWhole && isIntegral(dt) && v.isValidLong) lit(v.toLong)
    else if (v.isWhole && v.isValidLong && (dt == DoubleType || dt == FloatType)) lit(v.toDouble)
    else lit(v.underlying())

  private def numOff(dt: DataType): Column => Column = c => c.cast(StringType)

  // --- arrays (Validator.hs:164-186) ---

  private def arrayGens(spec: SchemaSpec, at: ArrayType, path: String): Seq[Gen] = {
    val et = at.elementType
    val minI =
      if (spec.minItems > 0)
        Seq(Gen(s"$path.minItems", c => size(c) >= spec.minItems, c => size(c).cast(StringType)))
      else Nil
    val maxI = spec.maxItems.toSeq.map(m =>
      Gen(s"$path.maxItems", c => size(c) <= m, c => size(c).cast(StringType)))
    // hash-based O(n) distinctness — same verdict as the reference's
    // O(n²) nub (Helpers.hs:24-26)
    val uniq =
      if (spec.uniqueItems)
        Seq(Gen(s"$path.uniqueItems",
          c => size(array_distinct(c)) === size(c),
          c => offendingValue(c, at)))
      else Nil

    // A null ELEMENT is a JSON null VALUE (JNull), not an absent
    // property: under a single primitive-typed item schema it fails the
    // type check (Validator.hs:52-75 mismatch) and skips the keyword
    // checks, exactly like the oracle. Under `any`/`null` item schemas
    // it passes (oracle: (SAny, JNull) → no errors); union-typed item
    // schemas keep the engine's branch semantics (documented residual
    // divergence, SURVEY.md §7.4).
    // Dead-check elision: when the physical type says elements can
    // never be null (containsNull=false), the `[*].type` gen and every
    // per-element null guard are statically dead and ELIDED. Only frames
    // built in memory carry containsNull=false: Spark reads every file
    // relation `asNullable`, so a Parquet column of `required` elements
    // arrives with containsNull=true, as do JSON- and Arrow-sourced
    // arrays. The nullable case therefore has to stay fused as well:
    // its `[*].type` check is the codegen'd [[NoNullElements]] kernel,
    // not `forall(c, x -> x IS NOT NULL)`.
    val nullableElems = at.containsNull
    def noNulls(c: Column): Column = org.apache.spark.sql.GraftColumnBridge.column(
      NoNullElements(org.apache.spark.sql.GraftColumnBridge.expression(c)))
    val itemGens: Seq[Gen] = spec.items match {
      case None => Nil
      case Some(Left(one)) =>
        // one schema for all elements: each element-level constraint
        // becomes a `forall`; offending values are the failing elements.
        //
        // Bounds peephole: higher-order functions (forall/filter) are
        // eval-only — they drop the check out of whole-stage codegen and
        // box every element. array_min/array_max ARE codegen'd and skip
        // null elements (NULL for an empty or all-null array), so for
        // numeric bounds `forall(x IS NULL OR x >= lo)` ⇔
        // `coalesce(array_min(c) >= lo, c IS NOT NULL)` (dually max) —
        // for nullable and non-nullable elements alike (a NULL array
        // yields false, the same verdict `forall`'s NULL resolves to).
        // NaN sorts above every number in both the array_min ordering
        // and the comparison, so float arrays agree too. The hot-path
        // pass stays fused; the HOF `filter` survives only in the
        // offending-value rendering, which runs for failing rows alone
        // (a null element's comparison is NULL, so `filter` drops it).
        val aggRewritable = isNumeric(et) &&
          (one.types == Seq(Left(SchemaType.SNumber)) ||
            (one.types == Seq(Left(SchemaType.SInteger)) && isIntegral(et)))
        val (aggGens, oneRest) =
          if (!aggRewritable) (Nil, one)
          else {
            def b(v: BigDecimal) = numLit(v, et)
            val minG = one.minimum.toSeq.map { m =>
              def ep(x: Column) = if (one.exclusiveMinimum) x > b(m) else x >= b(m)
              Gen(s"$path[*].minimum",
                c => coalesce(ep(array_min(c)), c.isNotNull),
                c => to_json(filter(c, x => !ep(x))))
            }
            val maxG = one.maximum.toSeq.map { m =>
              def ep(x: Column) = if (one.exclusiveMaximum) x < b(m) else x <= b(m)
              Gen(s"$path[*].maximum",
                c => coalesce(ep(array_max(c)), c.isNotNull),
                c => to_json(filter(c, x => !ep(x))))
            }
            (minG ++ maxG, one.copy(minimum = None, maximum = None))
          }
        val typeGen =
          if (nullableElems && rejectsNullElement(one))
            Seq(Gen(s"$path[*].type", noNulls, _ => lit("null")))
          else Nil
        // `[*].type` first: constraint order is the order of each row's
        // violations, type before keyword checks
        typeGen ++ aggGens ++ valueGens(oneRest, et, s"$path[*]").map { g =>
          val elemPass: Column => Column =
            if (nullableElems) x => x.isNull || notNullPass(g.pass(x))
            else x => notNullPass(g.pass(x))
          Gen(g.cid,
            c => forall(c, elemPass),
            c => to_json(filter(c, x => !elemPass(x))))
        }
      case Some(Right(tuple)) =>
        val positional = tuple.zipWithIndex.flatMap { case (sub, i) =>
          // element beyond the array's end is undefined → passes
          // (positions ≥ minItems are optional, CodeGen.hs:445-452)
          def e(c: Column): Column = element_at(c, i + 1)
          val typeGen =
            if (nullableElems && rejectsNullElement(sub))
              Seq(Gen(s"$path[$i].type",
                c => size(c) <= i || e(c).isNotNull,
                _ => lit("null")))
            else Nil
          typeGen ++ valueGens(sub, et, s"$path[$i]").map { g =>
            Gen(g.cid,
              c =>
                if (nullableElems) size(c) <= i || e(c).isNull || notNullPass(g.pass(e(c)))
                else size(c) <= i || notNullPass(g.pass(e(c))),
              c => e(c).cast(StringType))
          }
        }
        val k = tuple.length
        def tail(c: Column): Column = slice(c, lit(k + 1), greatest(size(c) - k, lit(0)))
        val extra: Seq[Gen] = spec.additionalItems match {
          case Left(true) => Nil
          case Left(false) =>
            Seq(Gen(s"$path.additionalItems", c => size(c) <= k,
              c => to_json(tail(c))))
          case Right(sub) =>
            val typeGen =
              if (nullableElems && rejectsNullElement(sub))
                Seq(Gen(s"$path[*].type", c => noNulls(tail(c)), _ => lit("null")))
              else Nil
            typeGen ++ valueGens(sub, et, s"$path[*]").map { g =>
              val elemPass: Column => Column =
                if (nullableElems) x => x.isNull || notNullPass(g.pass(x))
                else x => notNullPass(g.pass(x))
              Gen(g.cid,
                c => forall(tail(c), elemPass),
                c => to_json(filter(tail(c), x => !elemPass(x))))
            }
        }
        positional ++ extra
    }
    minI ++ maxI ++ uniq ++ itemGens
  }

  /** True when an element-level schema has a single primitive type arm
    * that a JSON null value cannot satisfy — the case where the oracle
    * reports a `[*].type` mismatch for null elements.
    */
  private def rejectsNullElement(sub: SchemaSpec): Boolean = sub.types match {
    case Seq(Left(t)) => t != SchemaType.SAny && t != SchemaType.SNull
    case _            => false
  }

  // --- objects over fixed StructType (Validator.hs:135-162) ---

  private def objectGens(spec: SchemaSpec, st: StructType, path: String): Seq[Gen] = {
    val fieldMap = st.fields.map(f => f.name -> f.dataType).toMap

    val propGens = spec.properties.toSeq.sortBy(_._1).flatMap { case (name, sub) =>
      fieldMap.get(name) match {
        case Some(fdt) =>
          val req =
            if (sub.required)
              Seq(Gen(s"$path.$name.required",
                c => c.getField(name).isNotNull, _ => lit(null).cast(StringType)))
            else Nil
          // absent (NULL) property passes all non-required checks
          val childGens = valueGens(sub, fdt, s"$path.$name").map { g =>
            Gen(g.cid,
              c => c.getField(name).isNull || notNullPass(g.pass(c.getField(name))),
              c => g.offending(c.getField(name)))
          }
          req ++ childGens
        case None =>
          // property not in the physical schema = always undefined
          if (sub.required)
            Seq(Gen(s"$path.$name.required", _ => FalseC, _ => lit(null).cast(StringType)))
          else Nil
      }
    }

    // patternProperties resolve against the *known* field names at plan
    // time; they compose with `properties` (both apply, Validator.hs:140-153)
    val patGens = st.fieldNames.toSeq.sorted.flatMap { name =>
      spec.patternProperties.collect {
        case (p, sub) if p.matches(name) =>
          valueGens(sub, fieldMap(name), s"$path.$name").map { g =>
            Gen(g.cid,
              c => c.getField(name).isNull || notNullPass(g.pass(c.getField(name))),
              c => g.offending(c.getField(name)))
          }
      }.flatten
    }

    val matched = (name: String) =>
      spec.properties.contains(name) || spec.patternProperties.exists(_._1.matches(name))
    val extraFields = st.fieldNames.toSeq.filterNot(matched).sorted
    val addGens: Seq[Gen] = spec.additionalProperties match {
      case Left(true) => Nil
      case Left(false) =>
        if (extraFields.isEmpty) Nil
        else
          // extra column present (non-null) = violation; NULL = undefined
          Seq(Gen(s"$path.additionalProperties",
            c => extraFields.map(n => c.getField(n).isNull).reduce(_ && _),
            c => to_json(struct(extraFields.map(n => c.getField(n).as(n)): _*))))
      case Right(sub) =>
        extraFields.flatMap { name =>
          valueGens(sub, fieldMap(name), s"$path.$name").map { g =>
            Gen(g.cid,
              c => c.getField(name).isNull || notNullPass(g.pass(c.getField(name))),
              c => g.offending(c.getField(name)))
          }
        }
    }

    val depGens = spec.dependencies.toSeq.sortBy(_._1).flatMap { case (name, dep) =>
      if (!fieldMap.contains(name)) Nil // trigger can never be present
      else dep match {
        case Left(requiredProps) =>
          Seq(Gen(s"$path.dependencies",
            c => c.getField(name).isNull ||
              requiredProps.map(p =>
                if (fieldMap.contains(p)) c.getField(p).isNotNull else FalseC)
                .reduceOption(_ && _).getOrElse(TrueC),
            c => c.getField(name).cast(StringType)))
        case Right(sub) =>
          val subPass = conjunction(sub, st, path)
          Seq(Gen(s"$path.dependencies",
            c => c.getField(name).isNull || subPass(c),
            c => c.getField(name).cast(StringType)))
      }
    }

    propGens ++ patGens ++ addGens ++ depGens
  }

  // --- objects over MapType: the reference's map specialization for
  //     homogeneous objects (CodeGen.hs:311-333) ---

  private def mapObjectGens(spec: SchemaSpec, mt: MapType, path: String): Seq[Gen] = {
    val vt = mt.valueType

    val propGens = spec.properties.toSeq.sortBy(_._1).flatMap { case (name, sub) =>
      val req =
        if (sub.required)
          // map presence is true presence — even a null value satisfies
          // `required` (matches Validator.hs:159-162 exactly)
          Seq(Gen(s"$path.$name.required",
            c => map_contains_key(c, name), _ => lit(null).cast(StringType)))
        else Nil
      val childGens = valueGens(sub, vt, s"$path.$name").map { g =>
        Gen(g.cid,
          c => element_at(c, name).isNull || notNullPass(g.pass(element_at(c, name))),
          c => g.offending(element_at(c, name)))
      }
      req ++ childGens
    }

    val patGens = spec.patternProperties.flatMap { case (p, sub) =>
      valueGens(sub, vt, s"$path.<pattern:${p.source}>").map { g =>
        Gen(g.cid,
          c => forall(map_entries(c), e =>
            !e.getField("key").rlike(p.source) ||
              e.getField("value").isNull || notNullPass(g.pass(e.getField("value")))),
          c => to_json(filter(map_entries(c), e =>
            e.getField("key").rlike(p.source) &&
              e.getField("value").isNotNull && !notNullPass(g.pass(e.getField("value"))))))
      }
    }

    def unmatchedKey(k: Column): Column = {
      val inProps =
        if (spec.properties.isEmpty) FalseC
        else k.isin(spec.properties.keys.toSeq: _*)
      val inPatterns = spec.patternProperties
        .map { case (p, _) => k.rlike(p.source) }
        .reduceOption(_ || _).getOrElse(FalseC)
      !(inProps || inPatterns)
    }

    val addGens: Seq[Gen] = spec.additionalProperties match {
      case Left(true) => Nil
      case Left(false) =>
        Seq(Gen(s"$path.additionalProperties",
          c => forall(map_keys(c), k => !unmatchedKey(k)),
          c => to_json(filter(map_keys(c), k => unmatchedKey(k)))))
      case Right(sub) =>
        valueGens(sub, vt, s"$path.<additional>").map { g =>
          Gen(g.cid,
            c => forall(map_entries(c), e =>
              !unmatchedKey(e.getField("key")) ||
                e.getField("value").isNull || notNullPass(g.pass(e.getField("value")))),
            c => to_json(filter(map_entries(c), e =>
              unmatchedKey(e.getField("key")) &&
                e.getField("value").isNotNull && !notNullPass(g.pass(e.getField("value"))))))
        }
    }

    // dependencies over maps: key presence is TRUE presence (unlike the
    // struct path's null/absent collapse) — matches Validator.hs:180-186
    val depGens = spec.dependencies.toSeq.sortBy(_._1).flatMap { case (name, dep) =>
      dep match {
        case Left(requiredProps) =>
          Seq(Gen(s"$path.dependencies",
            c => !map_contains_key(c, name) ||
              requiredProps.map(p => map_contains_key(c, p))
                .reduceOption(_ && _).getOrElse(TrueC),
            c => element_at(c, name).cast(StringType)))
        case Right(sub) =>
          val subPass = conjunction(sub, mt, path)
          Seq(Gen(s"$path.dependencies",
            c => !map_contains_key(c, name) || subPass(c),
            c => element_at(c, name).cast(StringType)))
      }
    }

    propGens ++ patGens ++ addGens ++ depGens
  }

  // --- enum / disallow helpers ---

  /** Deep-equality enum check (matches the oracle's `jsonEq`: structural
    * equality with numeric-value equality across representations —
    * reference compares aeson `Value`s, Validator.hs:47,77).
    *
    * Primitive columns use `isin` (one codegen'd `In`). Complex columns
    * compare against typed literals built by [[jsonLit]]: Catalyst
    * `===` is structural for arrays and structs (interior nulls compare
    * as values, matching the engine's null≡absent collapse); maps —
    * where `===` is unsupported — are rewritten at ANY depth to their
    * key-sorted entry arrays by [[mapCanon]], a canonical orderable form
    * both sides share (the reference compares objects as key-sorted
    * HashMaps at every level, Validator.hs:47). Enum values not
    * representable in the physical type can never match and are skipped.
    */
  private def enumPass(allowed: Seq[JValue], dt: DataType): Column => Column = dt match {
    case _: ArrayType | _: StructType | _: MapType =>
      // membership as ONE `isin` (In), not an ||-chain of `===`: the
      // In expression evaluates its child once, so a map-bearing column
      // is canonicalized ONCE per row instead of once per allowed value
      // (mapCanon's eval-only entry-sort chain was the dominant cost of
      // the enum-over-map checks — each extra allowed value re-sorted
      // every map in the row). Same three-valued semantics: null child →
      // null, match → true, else false — exactly the || of === forms.
      if (containsMap(dt)) {
        val lits = allowed.flatMap(v => jsonLit(v, dt)).map(l => mapCanon(l, dt))
        c => if (lits.isEmpty) FalseC else mapCanon(c, dt).isin(lits: _*)
      } else {
        val lits = allowed.flatMap(v => jsonLit(v, dt))
        c => if (lits.isEmpty) FalseC else c.isin(lits: _*)
      }
    case _ =>
      val vs: Seq[Any] = dt match {
        case StringType => allowed.collect { case JString(s) => s }
        case d if isIntegral(d) =>
          allowed.collect {
            case JInt(i)                  => i.toLong
            case JLong(l)                 => l
            case JDecimal(x) if x.isWhole => x.toLong
            case JDouble(x) if x.isWhole  => x.toLong
          }
        case d if isNumeric(d) =>
          allowed.collect {
            case JInt(i)     => i.toDouble
            case JLong(l)    => l.toDouble
            case JDecimal(x) => x.toDouble
            case JDouble(x)  => x
          }
        case BooleanType => allowed.collect { case JBool(b) => b }
        case _           => Nil
      }
      c => if (vs.isEmpty) FalseC else c.isin(vs: _*)
  }

  /** True when `dt` contains a MapType at any depth. */
  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType       => true
    case ArrayType(et, _) => containsMap(et)
    case st: StructType   => st.fields.exists(f => containsMap(f.dataType))
    case _                => false
  }

  /** The map-free image of a type under [[mapCanon]]: every MapType
    * becomes an array of (key, value) entry structs, recursively.
    */
  private def canonType(dt: DataType): DataType = dt match {
    case MapType(kt, vt, vn) =>
      ArrayType(StructType(Seq(
        StructField("key", kt, nullable = false),
        StructField("value", canonType(vt), vn))), containsNull = false)
    case ArrayType(et, n) => ArrayType(canonType(et), n)
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = canonType(f.dataType))))
    case other => other
  }

  /** Canonicalize a value for deep equality: every map AT ANY DEPTH is
    * replaced by its key-sorted entry array (keys are unique within a
    * map, so the key alone fixes the order), values canonicalized
    * recursively — after which the whole value is orderable and Catalyst
    * `===` is exact structural equality. NULLs propagate (a null map,
    * array, or struct canonicalizes to NULL). The flat-map fast arm
    * skips the per-entry rebuild when values are already map-free — the
    * common case keeps its original plan shape. Cost note: this runs
    * only inside enum checks over map-bearing types (eval-only HOFs are
    * acceptable there; the hot token-array path never sees it).
    */
  private def mapCanon(c: Column, dt: DataType): Column = dt match {
    case mt: MapType if !containsMap(mt.valueType) =>
      array_sort(map_entries(c))
    case mt: MapType =>
      array_sort(transform(map_entries(c), e =>
        struct(e.getField("key").as("key"),
          mapCanon(e.getField("value"), mt.valueType).as("value"))))
    case ArrayType(et, _) if containsMap(et) =>
      transform(c, x => mapCanon(x, et))
    case st: StructType if containsMap(st) =>
      when(c.isNull, lit(null).cast(canonType(st)))
        .otherwise(struct(st.fields.toSeq.map(f =>
          mapCanon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def jsonNum(v: JValue): Option[BigDecimal] = v match {
    case JInt(i)     => Some(BigDecimal(i))
    case JLong(l)    => Some(BigDecimal(l))
    case JDecimal(d) => Some(d)
    case JDouble(d)  => Some(BigDecimal(d))
    case _           => None
  }

  /** A typed Catalyst literal for a JSON value against a physical type;
    * None when the value cannot equal any value of that type (a
    * constant non-match, not an error). JSON object fields absent from a
    * StructType's fields become NULL fields — the engine's null≡absent
    * collapse — while an object field the struct cannot represent makes
    * the whole value unmatchable. Shared by enum deep equality and
    * `default` application ([[graft.engine.ValidationEngine.applyDefaults]]).
    */
  private[graft] def jsonLit(v: JValue, dt: DataType): Option[Column] = (v, dt) match {
    case (JString(s), StringType) => Some(lit(s))
    case (JBool(b), BooleanType)  => Some(lit(b))
    case (n, t) if isIntegral(t)  =>
      jsonNum(n).filter(x => x.isWhole && x.isValidLong).map(x => lit(x.toLong))
    case (n, t) if isNumeric(t)   => jsonNum(n).map(x => lit(x.toDouble))
    case (JArray(xs), at: ArrayType) =>
      val elems = xs.map {
        case JNull => if (at.containsNull) Some(lit(null).cast(at.elementType)) else None
        case x     => jsonLit(x, at.elementType)
      }
      if (!elems.forall(_.isDefined)) None
      else if (xs.isEmpty) Some(array().cast(ArrayType(at.elementType, at.containsNull)))
      else Some(array(elems.map(_.get): _*))
    case (JObject(fields), st: StructType) =>
      val m = fields.toMap
      if (!m.keySet.subsetOf(st.fieldNames.toSet)) None
      else {
        val cols = st.fields.toSeq.map { f =>
          m.get(f.name) match {
            case None | Some(JNull) => Some(lit(null).cast(f.dataType).as(f.name))
            case Some(x)            => jsonLit(x, f.dataType).map(_.as(f.name))
          }
        }
        if (cols.forall(_.isDefined)) Some(struct(cols.map(_.get): _*)) else None
      }
    case (JObject(fields), mt: MapType) =>
      val kvs = fields.map { case (k, fv) =>
        fv match {
          case JNull => Some(Seq(lit(k), lit(null).cast(mt.valueType)))
          case x     => jsonLit(x, mt.valueType).map(l => Seq(lit(k), l))
        }
      }
      if (!kvs.forall(_.isDefined)) None
      else if (fields.isEmpty)
        Some(map_from_arrays(
          array().cast(ArrayType(StringType)),
          array().cast(ArrayType(mt.valueType))))
      else Some(map(kvs.flatMap(_.get): _*))
    case _ => None
  }

  /** Runtime type-match of a disallow arm against the physical type
    * (constructor-level semantics, Validator.hs:79-87).
    */
  private def typeMatchExpr(t: SchemaType, dt: DataType): Column => Column = {
    import SchemaType._
    t match {
      case SAny     => _ => TrueC
      case SString  => _ => lit(dt == StringType)
      case SNumber  => _ => lit(isNumeric(dt))
      case SInteger =>
        if (isIntegral(dt)) _ => TrueC
        else if (isNumeric(dt)) c => c === floor(c)
        else _ => FalseC
      case SBoolean => _ => lit(dt == BooleanType)
      case SObject  => _ => lit(dt.isInstanceOf[StructType] || dt.isInstanceOf[MapType])
      case SArray   => _ => lit(dt.isInstanceOf[ArrayType])
      case SNull    => c => c.isNull
    }
  }

  // --- misc ---

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType                                => d.scale == 0
    case _                                             => false
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  private def offendingValue(c: Column, dt: DataType): Column = dt match {
    case _: ArrayType | _: StructType | _: MapType => to_json(c)
    case _                                         => c.cast(StringType)
  }
}
