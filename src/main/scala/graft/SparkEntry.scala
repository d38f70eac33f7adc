package graft

import graft.compile.SpecCompiler
import graft.engine._
import graft.ops._
import graft.spec.{PatternDialect, SchemaParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType}

/** Driver contract: one entry per implemented operator (SURVEY.md §2 +
  * the training-pipeline operator families), each with ANSI-SQL oracle
  * text runnable by DuckDB over the same parquet tables. Oracle SQL is
  * generated from the same Scala constants the operators use, so both
  * sides stay in sync by construction.
  */
object SparkEntry {

  private def read(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.parquet(s"$dir/$table.parquet")

  private val indexCleanups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The directory of an incremental query's `kind` index over the tables
    * in `dir`, written by `build` when absent. It is keyed by input dir +
    * JVM start: built once per process per input (the production
    * build-once/probe-many shape — bench reps after the first time the
    * PROBE), never reused across processes (a stale index from older code
    * must not leak into correctness), and deleted when the JVM exits.
    */
  private def jvmIndex(kind: String, dir: String)(build: String => Unit): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_${kind}_index_" +
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime}_" +
      s"${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      if (indexCleanups.add(path))
        sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)))
      build(path)
    }
    path
  }

  // ---- shared constants (Spark impl ⇄ oracle SQL) ----

  val DocLangs: Seq[String] = Seq("en", "es", "de", "fr")

  /** Stratified-sample demo rates: exact binary fractions, so
    * `rate * 1e6` is integral and Spark's truncating long cast and
    * DuckDB's rounding BIGINT cast agree on the threshold.
    */
  val SampleRates: Map[String, Double] = Map("src0" -> 0.125, "src1" -> 0.5)
  val SampleDefaultRate: Double = 0.25

  /** Per-domain cap demo: binds on every source at sf0.01+ (25+ docs
    * per source), while smaller tables exercise the min(cap, |group|)
    * path.
    */
  val DomainCap: Int = 12

  /** Split demo: fractions deliberately sum to 0.99 so the residual
    * granule range exercises the unassigned (NULL-label) arm.
    */
  val SplitSpec: Seq[(String, Double)] =
    Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.04)

  /** Mixture-weighting demo: src0's target share is large enough that the
    * epoch cap binds (rate clamps to MixMaxEpochs); src1's does not.
    * Strata absent from the map get share 0 → rate 0.
    */
  val MixShares: Map[String, Double] = Map("src0" -> 0.5, "src1" -> 0.25)
  val MixBudget: Long = 50000L
  val MixMaxEpochs: Double = 2.0

  /** Epoch-sampling demo rates: src0 upsampled (2 full epochs + a
    * hash-gated half), src1 fractional-only, everything else rate 0.
    * Exact binary fractions keep the granule threshold engine-portable.
    */
  val EpochRates: Map[String, Double] = Map("src0" -> 2.5, "src1" -> 0.25)
  val DocSpecJson: String =
    s"""{
      "type": "object",
      "properties": {
        "doc_id":  {"type": "integer", "required": true, "minimum": 0},
        "text":    {"type": "string", "required": true, "minLength": 60, "maxLength": 500},
        "lang":    {"type": "string", "required": true,
                    "enum": [${DocLangs.map("\"" + _ + "\"").mkString(",")}]},
        "source":  {"type": "string", "required": true, "pattern": "^src[0-9]{1,2}$$"},
        "n_chars": {"type": "integer", "required": true, "minimum": 1, "maximum": 400}
      }
    }"""
  private lazy val docSpec = SchemaParser.parse(DocSpecJson)

  /** Composition/object keywords over documents: union type (D3),
    * disallow-subschema (D6), extends (D7), divisibleBy int + decimal
    * (N3), patternProperties (O3), additionalProperties-schema (O4),
    * schema-form dependencies (O6).
    */
  val DocSpec2Json: String =
    """{
      "type": "object",
      "properties": {
        "doc_id":  {"type": "integer", "required": true, "divisibleBy": 7},
        "n_chars": {"type": [{"minimum": 100, "maximum": 200}, {"minimum": 400}],
                    "extends": {"divisibleBy": 3.5}},
        "lang":    {"type": "string", "disallow": {"enum": ["zh"]}},
        "text":    {"type": "string", "extends": {"maxLength": 400}}
      },
      "patternProperties": {"^n_": {"maximum": 300}},
      "additionalProperties": {"pattern": "^src[0-4]$"},
      "dependencies": {"lang": {"properties": {"source": {"pattern": "^src[0-7]"}}}}
    }"""
  private lazy val docSpec2 = SchemaParser.parse(DocSpec2Json)

  /** Array keywords (A1-A4) over derived embedding arrays. Thresholds
    * are exact binary fractions so float-vs-double comparison order can
    * never flip a verdict cross-engine.
    */
  val ArraySpecJson: String =
    """{
      "type": "object",
      "properties": {
        "emb2": {"type": "array", "minItems": 60, "maxItems": 63,
                 "items": {"type": "number", "minimum": -0.375, "maximum": 0.375}},
        "ints": {"type": "array", "uniqueItems": true}
      }
    }"""
  private lazy val arraySpec = SchemaParser.parse(ArraySpecJson)

  /** Tuple items + additionalItems (A5), both schema and `false` forms. */
  val TupleSpecJson: String =
    """{
      "type": "object",
      "properties": {
        "tup":  {"type": "array",
                 "items": [{"type": "number", "minimum": 0}, {"type": "number", "minimum": 0}],
                 "additionalItems": {"type": "number", "maximum": 0.25}},
        "tup2": {"type": "array",
                 "items": [{"type": "number"}, {"type": "number"}],
                 "additionalItems": false}
      }
    }"""
  private lazy val tupleSpec = SchemaParser.parse(TupleSpecJson)

  /** Dynamic integer-ness on a double column (N4), exclusive bounds
    * (N1/N2), enum on a hot table (D5), type-form disallow (D6),
    * property-form dependencies (O5; `session_id` is absent from the
    * physical schema, so the dependency can never be satisfied).
    */
  val EventsSpecJson: String =
    """{
      "type": "object",
      "properties": {
        "value":      {"type": "integer"},
        "user_id":    {"type": "integer", "minimum": 0, "exclusiveMinimum": true,
                       "maximum": 149, "exclusiveMaximum": true},
        "event_type": {"type": "string", "enum": ["click", "view", "purchase", "signup"],
                       "disallow": "null"}
      },
      "dependencies": {"value": ["session_id"]}
    }"""
  private lazy val eventsSpec = SchemaParser.parse(EventsSpecJson)

  /** Map-specialized object validation (O7) over `from_json(props)`:
    * required + bounds via map lookup, patternProperties and
    * additionalProperties as folds over map entries.
    */
  val MapSpecJson: String =
    """{
      "type": "object",
      "properties": {"k": {"type": "integer", "required": true, "minimum": 10}},
      "patternProperties": {"^k": {"maximum": 90}},
      "additionalProperties": false
    }"""
  private lazy val mapSpec = SchemaParser.parse(MapSpecJson)

  /** POSIX-ERE dialect (reference regex-tdfa): the engine translates the
    * bracket classes to Java regex at parse time, while the oracle runs
    * the ORIGINAL POSIX source (DuckDB's RE2 supports `[[:digit:]]`
    * natively) — a genuine cross-dialect differential. A naive Java
    * `rlike` of the raw source would read `[[:digit:]]` as the character
    * class {[,:,d,i,g,t} and flip most verdicts.
    */
  val PosixLangPattern: String = "^[[:lower:]]{2}$"
  val PosixSourcePattern: String = "^src[[:digit:]]$"
  val PosixSpecJson: String =
    s"""{
      "type": "object",
      "properties": {
        "lang":   {"type": "string", "pattern": "$PosixLangPattern"},
        "source": {"type": "string", "pattern": "$PosixSourcePattern"}
      }
    }"""
  private lazy val posixSpec = SchemaParser.parse(PosixSpecJson, PatternDialect.Posix)

  /** Enum deep equality over a struct value (reference Validator.hs
    * compares any JSON value structurally): allowed values are JSON
    * objects, compiled to typed struct literals.
    */
  val EnumStructSpecJson: String =
    """{
      "type": "object",
      "properties": {
        "loc": {"enum": [{"lang": "en", "source": "src0"},
                         {"lang": "es", "source": "src1"}]}
      }
    }"""
  private lazy val enumStructSpec = SchemaParser.parse(EnumStructSpecJson)

  /** Enum deep equality over a MapType value: compared via key-sorted
    * entry arrays (Catalyst `===` is unsupported on maps).
    */
  val EnumMapSpecJson: String =
    """{
      "type": "object",
      "properties": {
        "m": {"enum": [{"k": 42}, {"k": 77}]}
      }
    }"""
  private lazy val enumMapSpec = SchemaParser.parse(EnumMapSpecJson)

  /** Enum deep equality with a map BELOW the top level (a struct holding
    * a parsed map): maps at any depth canonicalize to key-sorted entry
    * arrays (SpecCompiler.mapCanon), matching the reference's structural
    * compare at every nesting level (Validator.hs:47,77).
    */
  val EnumDeepSpecJson: String =
    """{
      "type": "object",
      "properties": {
        "v": {"enum": [{"tag": "click", "m": {"k": 42}},
                       {"tag": "view",  "m": {"k": 77}}]}
      }
    }"""
  private lazy val enumDeepSpec = SchemaParser.parse(EnumDeepSpecJson)

  /** `default` application parity (reference CodeGen.hs generated
    * parsers): absent (NULL) properties are filled with the spec default
    * BEFORE validation, so a default that violates its own constraints
    * surfaces as a violation with the filled value as the offender.
    */
  val DefaultsSpecJson: String =
    s"""{
      "type": "object",
      "properties": {
        "lang": {"type": "string", "default": "zz",
                 "enum": [${DocLangs.map("\"" + _ + "\"").mkString(",")}]}
      }
    }"""
  private lazy val defaultsSpec = SchemaParser.parse(DefaultsSpecJson)

  /** `default` application below the top level: array ELEMENT defaults
    * (reference: the item parsers of CodeGen.hs:429-481 compose with the
    * default substitution of CodeGen.hs:342-350) — a null element takes
    * the element default before validation, so a default that violates
    * the element bounds surfaces as an items violation.
    */
  val DefaultsDeepSpecJson: String =
    """{
      "type": "object",
      "properties": {
        "xs": {"type": "array",
               "items": {"type": "integer", "default": 0, "minimum": 1}}
      }
    }"""
  private lazy val defaultsDeepSpec = SchemaParser.parse(DefaultsDeepSpecJson)

  private val P = TextOps.HashPrime
  /** DuckDB rendering of TextOps.portableHash (full 60-bit). */
  private def hFullSql(e: String): String =
    s"(('0x' || substr(md5($e),1,15))::BIGINT)"
  /** DuckDB rendering of TextOps.bucketHash. */
  private def hSql(e: String): String =
    s"(${hFullSql(e)} % $P)"
  private val wordsSql = "string_split(text, ' ')"
  private val shinglesSql =
    "(CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(generate_series(1, len(w)-2), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) ELSE [text] END)"

  private def inList(xs: Seq[String]): String = xs.map("'" + _ + "'").mkString(", ")

  // PII regex sources (TextOps.PiiPatterns is the single source of
  // truth; the same source text runs on both engines — RE2 ∩ Java)
  private val piiEmailRe = TextOps.PiiPatterns(0)._2
  private val piiIpv4Re = TextOps.PiiPatterns(1)._2
  private val piiPhoneRe = TextOps.PiiPatterns(2)._2

  /** The violation arms of DocSpecJson as (cid, whereSql, offendingSql). */
  private val docViolationArms: Seq[(String, String, String)] = Seq(
    ("$.doc_id.required", "doc_id IS NULL", "CAST(NULL AS VARCHAR)"),
    ("$.doc_id.minimum", "doc_id IS NOT NULL AND doc_id < 0", "CAST(doc_id AS VARCHAR)"),
    ("$.text.required", "text IS NULL", "CAST(NULL AS VARCHAR)"),
    ("$.text.minLength", "text IS NOT NULL AND length(text) < 60", "text"),
    ("$.text.maxLength", "text IS NOT NULL AND length(text) > 500", "text"),
    ("$.lang.required", "lang IS NULL", "CAST(NULL AS VARCHAR)"),
    ("$.lang.enum", s"lang IS NOT NULL AND lang NOT IN (${inList(DocLangs)})", "lang"),
    ("$.source.required", "source IS NULL", "CAST(NULL AS VARCHAR)"),
    ("$.source.pattern",
      "source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]{1,2}$')", "source"),
    ("$.n_chars.required", "n_chars IS NULL", "CAST(NULL AS VARCHAR)"),
    ("$.n_chars.minimum", "n_chars IS NOT NULL AND n_chars < 1", "CAST(n_chars AS VARCHAR)"),
    ("$.n_chars.maximum", "n_chars IS NOT NULL AND n_chars > 400", "CAST(n_chars AS VARCHAR)"))

  private val docViolCountSql: String = docViolationArms
    .map { case (_, w, _) => s"(CASE WHEN $w THEN 1 ELSE 0 END)" }
    .mkString(" + ")

  // ---- flagship ----

  /** Flagship: full fused validation of the documents table. */
  def entry(spark: SparkSession): DataFrame =
    ValidationEngine.annotate(read(spark, "/root/testdata/sf0.001", "documents"), docSpec)
      .select(col("doc_id"), col(ValidationEngine.PassCol),
        to_json(col(ValidationEngine.ViolationsCol)).as("violations"))

  // ---- queries ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // === validation engine (SURVEY.md §2.1-2.5 keyword compiler) ===
    "val_violations" -> ((s, dir) =>
      ValidationEngine.violations(read(s, dir, "documents"), docSpec, Seq("doc_id"))),

    "val_row_verdicts" -> ((s, dir) =>
      ValidationEngine.verdicts(read(s, dir, "documents"), docSpec, Seq("doc_id"))),

    "val_verdicts_by_source" -> ((s, dir) =>
      ValidationEngine.partitionVerdicts(read(s, dir, "documents"), docSpec, Seq("source"))),

    "val_violations2" -> ((s, dir) =>
      ValidationEngine.violations(read(s, dir, "documents"), docSpec2, Seq("doc_id"))),

    // A1-A4 over derived arrays (float→string rendering is not portable
    // across engines, so offending values are dropped; the pass
    // expressions — the Catalyst paths under test — are fully exercised)
    "val_array_keywords" -> ((s, dir) => {
      val df = read(s, dir, "embeddings").select(
        col("vec_id"),
        slice(col("embedding"), lit(1), (col("vec_id") % 10 + 58).cast("int")).as("emb2"),
        transform(slice(col("embedding"), lit(1), (col("vec_id") % 4 + 2).cast("int")),
          x => floor(x.cast("double") * 100).cast("int")).as("ints"))
      ValidationEngine.violations(df, arraySpec, Seq("vec_id")).drop("offending")
    }),

    "val_tuple_items" -> ((s, dir) => {
      val df = read(s, dir, "embeddings").select(
        col("vec_id"),
        slice(col("embedding"), 1, 4).as("tup"),
        slice(col("embedding"), 1, 3).as("tup2"))
      ValidationEngine.violations(df, tupleSpec, Seq("vec_id")).drop("offending")
    }),

    "val_events_spec" -> ((s, dir) =>
      ValidationEngine.violations(read(s, dir, "events"), eventsSpec, Seq("event_id"))
        .drop("offending")),

    "val_map_props" -> ((s, dir) => {
      val mt = MapType(StringType, LongType)
      val df = read(s, dir, "events")
        .select(col("event_id"), from_json(col("props"), mt).as("m"))
      val cs = SpecCompiler.compileColumn(mapSpec, mt, col("m"), "$")
      ValidationEngine.violationsWith(
        ValidationEngine.annotateWith(df, cs), Seq("event_id"))
    }),

    // JSONL ingestion: serialize the typed table to JSON lines, re-read
    // through the spec-DERIVED schema (sources.JsonlSource.schemaFor),
    // validate — must equal validating the typed table directly (same
    // oracle SQL as val_violations)
    "val_jsonl" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val lines = docs.select(to_json(struct(docs.columns.map(col): _*)).as("value"))
      val parsed = graft.sources.JsonlSource.parse(lines, docSpec)
        .drop(graft.sources.JsonlSource.CorruptCol)
      ValidationEngine.violations(parsed, docSpec, Seq("doc_id"))
    }),

    "val_posix_pattern" -> ((s, dir) =>
      ValidationEngine.violations(read(s, dir, "documents"), posixSpec, Seq("doc_id"))),

    // no-null guard on both sides: struct-field null equality is a
    // cross-engine minefield (Catalyst nested nulls compare equal), and
    // null handling is covered by the dual-engine fixture corpus
    "val_enum_struct" -> ((s, dir) => {
      val df = read(s, dir, "documents")
        .where(col("lang").isNotNull && col("source").isNotNull)
        .select(col("doc_id"), struct(col("lang"), col("source")).as("loc"))
      ValidationEngine.violations(df, enumStructSpec, Seq("doc_id")).drop("offending")
    }),

    "val_enum_map" -> ((s, dir) => {
      val mt = MapType(StringType, LongType)
      val df = read(s, dir, "events")
        .where(col("props").isNotNull)
        .select(col("event_id"), from_json(col("props"), mt).as("m"))
      ValidationEngine.violations(df, enumMapSpec, Seq("event_id")).drop("offending")
    }),

    "val_enum_deep" -> ((s, dir) => {
      val mt = MapType(StringType, LongType)
      val df = read(s, dir, "events")
        .where(col("props").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"),
          struct(col("event_type").as("tag"), from_json(col("props"), mt).as("m")).as("v"))
      ValidationEngine.violations(df, enumDeepSpec, Seq("event_id")).drop("offending")
    }),

    "val_defaults" -> ((s, dir) => {
      // the test tables carry no NULLs, so absence is injected
      // deterministically (doc_id % 5) on both sides
      val df = read(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"))
      ValidationEngine.violations(
        ValidationEngine.applyDefaults(df, defaultsSpec), defaultsSpec, Seq("doc_id"))
    }),

    "val_defaults_deep" -> ((s, dir) => {
      // inject element-level absence deterministically (doc_id % 3), fill
      // with the element default (0), validate — the filled value violates
      // the element minimum, so the default surfaces as an items violation
      val df = read(s, dir, "documents").select(
        col("doc_id"),
        array(
          when(col("doc_id") % 3 === 0, lit(null).cast("long"))
            .otherwise(col("n_chars").cast("long")),
          col("n_chars").cast("long")).as("xs"))
      ValidationEngine.violations(
        ValidationEngine.applyDefaults(df, defaultsDeepSpec), defaultsDeepSpec, Seq("doc_id"))
        .drop("offending")
    }),

    // === per-column stats (single-pass profile) ===
    "val_profile" -> ((s, dir) =>
      TableProfiler.profile(read(s, dir, "documents"))
        .withColumnRenamed("column", "col_name")
        .drop("approx_distinct")), // HLL is engine-only; oracle checks exact stats

    // MERGEABLE profiles: per-batch artifact rows (doc_id % 4 batches)
    // merged WITHOUT re-scanning raw data ≡ the whole-table profile;
    // sketch fields are engine-only (MergeableProfileSpec asserts
    // union-of-sketches ≡ sketch-of-union), oracle checks exact fields
    "prof_merge" -> ((s, dir) => {
      val cols = Seq("lang", "source", "n_chars")
      val batches = MergeableProfile.batchProfile(
        read(s, dir, "documents").withColumn("_b", pmod(col("doc_id"), lit(4L))),
        "_b", cols, "n_chars", 50.0, 16)
      MergeableProfile.estimates(MergeableProfile.merge(batches, cols, 16), cols)
        .select(col("column").as("col_name"), col("n"), col("n_null"),
          col("null_rate"), col("min"), col("max"))
    }),

    "val_histogram" -> ((s, dir) =>
      Checks.histogram(read(s, dir, "documents"), "n_chars", 50.0, Seq("lang"))),

    // grouped quantiles via exact percentile (bounded-domain column);
    // the unbounded-domain scale path is approx_percentile — asserted
    // within tolerance of this exact path by StatsAggregatorSpec
    "val_quantiles" -> ((s, dir) =>
      TableProfiler.quantiles(read(s, dir, "documents"),
        Seq("lang"), "n_chars", Seq(0.25, 0.5, 0.75, 0.95))),

    "val_drift" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val hist = Checks.histogram(docs, "n_chars", 50.0, Seq("lang"))
      // corpus total as a 1-row cross join (the Checks.scala broadcast-
      // total idiom), not an eager docs.count(): the count was one extra
      // driver job per run — same double division, identical output
      val total = docs.agg(count(lit(1)).cast("double").as("_t"))
      val base = Checks.histogram(docs, "n_chars", 50.0)
        .crossJoin(total)
        .select(col("bucket"), (col("n") / col("_t")).as("p"))
      Checks.driftByGroup(hist, Seq("lang"), base)
        .select(col("lang"), round(col("kl"), 6).as("kl"), round(col("psi"), 6).as("psi"))
    }),

    // drift computed purely from profile ARTIFACTS (no raw re-scan on
    // either side): merged even-doc batch artifacts are the baseline,
    // the odd-doc artifact is the observed side — the oracle computes
    // the same PSI/KL from raw data
    "drift_profiles" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val cols = Seq("n_chars")
      val base = MergeableProfile.merge(MergeableProfile.batchProfile(
        docs.where(col("doc_id") % 2 === 0)
          .withColumn("_b", pmod(col("doc_id"), lit(8L))),
        "_b", cols, "n_chars", 50.0, 16), cols, 16)
      val cur = MergeableProfile.batchProfile(
        docs.where(col("doc_id") % 2 === 1).withColumn("_one", lit(1)),
        "_one", cols, "n_chars", 50.0, 16)
      MergeableProfile.driftFromProfiles(base, cur.drop("batch"))
        .select(round(col("kl"), 6).as("kl"), round(col("psi"), 6).as("psi"))
    }),

    // === cross-row checks ===
    "chk_unique" -> ((s, dir) =>
      Checks.uniquenessViolations(read(s, dir, "events"), "user_id")),

    "chk_referential" -> ((s, dir) =>
      Checks.referentialViolations(read(s, dir, "lineitem"), "l_suppkey",
        read(s, dir, "supplier"), "s_suppkey")),

    "chk_consistency" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      docs.agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("n_chars") === length(col("text")), 0L).otherwise(1L))
          .as("n_violations"))
    }),

    // === dedup family ===
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(read(s, dir, "documents"), "doc_id", "text")),

    "dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignature(read(s, dir, "documents"), "doc_id", "text")),

    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidatePairs(
        Dedup.minhashSignature(read(s, dir, "documents"), "doc_id", "text"), "doc_id")),

    // cluster resolution: LSH candidate pairs → connected components →
    // canonical cluster id (= min doc_id of the component)
    "dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashCandidatePairs(
          Dedup.minhashSignature(read(s, dir, "documents"), "doc_id", "text"), "doc_id"),
        "a", "b")
        .select(col("id").as("doc_id"), col("cluster_id"))),

    // incremental (daily-ingest) dedup: the existing corpus is indexed
    // once (band rows partitioned by band hash), the new batch probes it
    // — ≡ full-corpus pairs restricted to pairs with a new endpoint
    "dedup_incremental" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val newB = docs.where(col("doc_id") % 10 === 7)
      val oldB = docs.where(col("doc_id") % 10 =!= 7)
      val path = jvmIndex("mh", dir)(Dedup.minhashWriteIndex(oldB, "doc_id", "text", _))
      Dedup.minhashIncrementalPairs(s, path, newB, "doc_id", "text")
    }),

    // incremental EXACT dedup: new batch probes the corpus fingerprint
    // index — ≡ exactDuplicates over old∪new restricted to new keys.
    // The raw documents table has NO exact duplicates, so the input
    // unions in a re-keyed copy of the doc_id%13=2 slice (+1000007
    // shifts the %10 class by 7, landing copies in both batch lanes) —
    // a vacuous 0-row pass would prove nothing
    "dedup_exact_incr" -> ((s, dir) => {
      val d0 = read(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val docs = d0.union(d0.where(col("doc_id") % 13 === 2)
        .select((col("doc_id") + 1000007L).as("doc_id"), col("text")))
      val newB = docs.where(col("doc_id") % 10 === 7)
      val oldB = docs.where(col("doc_id") % 10 =!= 7)
      val path = jvmIndex("fp", dir)(Dedup.exactWriteIndex(oldB, "doc_id", "text", _))
      Dedup.exactIncrementalDuplicates(s, path, newB, "doc_id", "text")
    }),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashDf(read(s, dir, "documents"), "doc_id", "text")),

    // simhash near-dup PAIRS: banded hamming LSH (perfect recall for
    // maxDist < nBands by pigeonhole) + exact hamming verify; null
    // doc_id/text excluded on both sides (dedup_canonical convention —
    // positional pair expansion vs the oracle's `<` join treat nulls
    // differently)
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(
        read(s, dir, "documents")
          .where(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", "text", maxDist = 3)),

    "dedup_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(read(s, dir, "documents"), "doc_id", "text", 0.1)),

    "dedup_segments" -> ((s, dir) =>
      Dedup.segmentStats(read(s, dir, "documents"), "doc_id", "text")),

    "dedup_rolling" -> ((s, dir) =>
      Dedup.rollingGramStats(read(s, dir, "documents"), "doc_id", "text")),

    "dedup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(read(s, dir, "documents"), "doc_id", "text")),

    "dedup_span_frac" -> ((s, dir) =>
      Dedup.duplicateSpanFraction(read(s, dir, "documents"), "doc_id", "text")),

    // incremental line dedup: batch (doc_id%10=7) rewritten against the
    // rest-of-corpus segment index — batch ids interleave with old ids,
    // so the old-wins rule is genuinely exercised (not just first-occ)
    "dedup_seg_incr" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val newB = docs.where(col("doc_id") % 10 === 7)
      val oldB = docs.where(col("doc_id") % 10 =!= 7)
      val path = jvmIndex("seg", dir)(Dedup.segmentWriteIndex(oldB, "doc_id", "text", _))
      Dedup.segmentIncrementalRewrite(s, path, newB, "doc_id", "text")
    }),

    "dedup_seg_rewrite" -> ((s, dir) =>
      Dedup.dropDuplicateSegments(read(s, dir, "documents"), "doc_id", "text")),

    "dedup_embed_pairs" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(read(s, dir, "embeddings"), "vec_id", "embedding",
        "label", 0.25)),

    // === corpus assembly (canonical selection / sampling / packing) ===
    "dedup_canonical" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      // null doc_id/text rows are excluded on both sides: a null key has
      // no cluster identity and a null text no quality (engines order
      // SQL NULLs differently, so keeping them would be oracle-fragile)
      val scored = TextOps.qualityFeatures(
          docs.where(col("doc_id").isNotNull && col("text").isNotNull), "text")
        .select(col("doc_id"), col("quality"))
      val labels = Dedup.connectedComponents(
        Dedup.minhashCandidatePairs(
          Dedup.minhashSignature(docs, "doc_id", "text"), "doc_id"), "a", "b")
      Pipeline.canonicalPerCluster(scored, "doc_id", "quality", labels)
    }),

    "samp_stratified" -> ((s, dir) =>
      Pipeline.stratifiedSample(read(s, dir, "documents"), "doc_id", "source",
          SampleRates, SampleDefaultRate)
        .select(col("doc_id"), col("source"))),

    "samp_domain_cap" -> ((s, dir) =>
      Pipeline.capPerGroup(read(s, dir, "documents"), "doc_id", "source",
          DomainCap)
        .select(col("doc_id"), col("source"))),

    "samp_split" -> ((s, dir) =>
      Pipeline.assignSplit(read(s, dir, "documents"), "doc_id", SplitSpec)
        .select(col("doc_id"), col("split"))),

    "seq_pack" -> ((s, dir) =>
      Pipeline.packSequences(read(s, dir, "documents"), "doc_id", "n_chars",
        "source", budget = 8192L, nShards = 8)),

    "mix_weights" -> ((s, dir) =>
      Pipeline.mixtureWeights(read(s, dir, "documents"), "source", "n_chars",
        MixShares, MixBudget, MixMaxEpochs)),

    "samp_epochs" -> ((s, dir) =>
      Pipeline.epochSample(read(s, dir, "documents"), "doc_id", "source",
          EpochRates)
        .select(col("doc_id"), col("source"), col("epoch"))),

    // === event analytics (gap sessionization) ===
    "evt_sessions" -> ((s, dir) =>
      Sessions.sessionStats(read(s, dir, "events"), "user_id", "ts",
        "event_id", "value", gapSeconds = 1800L)),

    // hot-key scale path; bucket = 1h so sessions genuinely straddle
    // bucket boundaries at this gap — same oracle as evt_sessions
    "evt_sessions_bucketed" -> ((s, dir) =>
      Sessions.sessionStatsBucketed(read(s, dir, "events"), "user_id", "ts",
        "event_id", "value", gapSeconds = 1800L, bucketSeconds = 3600L)),

    // === text analysis ===
    "txt_tokens" -> ((s, dir) =>
      read(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))),

    "txt_quality" -> ((s, dir) =>
      TextOps.qualityFeatures(read(s, dir, "documents"), "text")
        .select("doc_id", "n_words", "stopword_ratio", "avg_word_len", "quality")),

    // learned quality gate: fastText-style linear classifier over hashed
    // word+bigram features, the weight table a plan constant inside a
    // codegen'd kernel. The LOGIT is the compared column (exact binary-
    // fraction weights make the feature sums exact doubles — the sigmoid
    // would compare exp() ulps instead); accept = logit > 0. The kernel
    // column is projected ONCE (non-cheap alias blocks CollapseProject
    // from duplicating the scan per reference site).
    "txt_classifier" -> ((s, dir) =>
      read(s, dir, "documents")
        .withColumn("_lg", TextOps.classifierLogit(col("text")))
        .select(col("doc_id"), round(col("_lg"), 6).as("logit"),
          (col("_lg") > 0).as("accept"))),

    // the fused WordStats pass is projected ONCE as an attribute; the
    // argmax reads its counters (cheap extracts, no re-scan)
    "txt_langid" -> ((s, dir) =>
      read(s, dir, "documents")
        .withColumn("_ws", TextOps.wordStats(col("text")))
        .select(col("doc_id"), TextOps.langIdFromStats(col("_ws")).as("lang_pred"))),

    "txt_fingerprint" -> ((s, dir) =>
      read(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.rollingFingerprint(col("text")).as("rolling_fp"))),

    // vocabulary heavy hitters: top 100 tokens by total count, with
    // document frequency — TakeOrdered over the vocab-sized aggregate
    "txt_vocab" -> ((s, dir) =>
      TextOps.vocabStats(read(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("n_total").desc, col("token"))
        .limit(100)),

    // PII detect + redact over a deterministically contaminated corpus
    // (the synthetic texts carry no PII, so the query plants email/IP/
    // phone strings derived from doc_id — both engines build the same
    // contaminated text, then the op is measured on real matches)
    "txt_pii" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val contaminated = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@mail.example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 1,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 2, lit(" call 555-867-5309"))
            .otherwise(lit(""))).as("text"))
      TextOps.piiScan(contaminated, "text")
        .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_phone"),
          col("redacted"))
    }),

    // intra-document repetition (duplicate word-3-gram ratio)
    "txt_repetition" -> ((s, dir) =>
      TextOps.repetitionFeatures(
        read(s, dir, "documents").where(col("text").isNotNull),
        "doc_id", "text")),

    // === pre-tokenized sequence ops (the primary input shape): tokens
    // derived deterministically from text via the portable hash so the
    // oracle reproduces them bit-for-bit ===
    "seq_repetition" -> ((s, dir) =>
      SeqOps.repetition(
        read(s, dir, "documents").where(col("text").isNotNull)
          .select(col("doc_id"), SeqOps.tokenize(col("text"), 49152).as("toks")),
        "doc_id", "toks")),

    "seq_oov" -> ((s, dir) =>
      // tokenize into [0, 49152) then check against a vocab of 4096:
      // ids >= 4096 are the out-of-vocabulary lane (deterministic,
      // nonzero rate — the tokenizer/vocab-mismatch ingest gate)
      SeqOps.oovStats(
        read(s, dir, "documents").where(col("text").isNotNull)
          .select(col("source"), SeqOps.tokenize(col("text"), 49152).as("toks")),
        "source", "toks", vocab = 4096)),

    // constraint suggestion: the observed-invariant evidence rows
    // (engine.SpecInfer — the infer half of the infer→validate loop)
    "val_infer_rows" -> ((s, dir) =>
      SpecInfer.inferRows(read(s, dir, "documents"), enumMax = 16)),

    // benchmark decontamination: corpus docs sharing 3-grams with a
    // deterministic "eval set" slice (doc_id % 17 = 3); benchmark side
    // collapses to its distinct shingle set and broadcasts
    "decon_overlap" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Dedup.contaminationScores(
        docs.where(col("doc_id") % 17 =!= 3), "doc_id", "text",
        docs.where(col("doc_id") % 17 === 3), "text")
        .select(col("id").as("doc_id"), col("n_overlap"), col("contamination"))
    }),

    // token-SPACE decontamination (the pre-tokenized input shape): eval
    // slice's distinct token-5-grams broadcast; per-corpus-doc overlap
    "decon_tokens" -> ((s, dir) => {
      val toks = read(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), SeqOps.tokenize(col("text"), 49152).as("toks"))
      SeqOps.tokenContaminationScores(
        toks.where(col("doc_id") % 17 =!= 3), "doc_id", "toks",
        toks.where(col("doc_id") % 17 === 3), "toks", n = 5)
        .select(col("id").as("doc_id"), col("n_grams").cast("long").as("n_grams"),
          col("n_overlap"), col("contamination"))
    }),

    // === similarity search ===
    "ann_topk" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "ann_topk_agg" -> ((s, dir) => {
      // bounded-buffer top-k aggregator path: identical results to
      // ann_topk's window, shuffle bounded at k rows per (query, task)
      val emb = read(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopKAgg(emb, "vec_id", "embedding", q, "qid", "qvec", 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "ann_lsh_hist" -> ((s, dir) =>
      Similarity.lshBucketHistogram(read(s, dir, "embeddings"), "embedding", lshPlanes)),

    "ann_ivf_topk" -> ((s, dir) => {
      // IVF scale path: corpus bucketed by nearest-of-9 deterministic
      // centroids; each query scans only its 2 best cells
      val emb = read(s, dir, "embeddings")
      val cents = Similarity.corpusCentroids(emb, "vec_id", "embedding", every = 61L)
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 3, cents, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "ann_ivf_refined" -> ((s, dir) => {
      // IVF with ONE distributed Lloyd iteration over the subsample
      // codebook (assign = ivfCell scan, update = per-(cell,dim) mean
      // behind map-side partial agg) — the offline refinement that
      // shifts the recall/nprobe frontier (DiagRecall tables)
      val emb = read(s, dir, "embeddings")
      val cents = Similarity.refineCentroids(emb, "embedding",
        Similarity.corpusCentroids(emb, "vec_id", "embedding", every = 61L))
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 3, cents, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "ann_pq_topk" -> ((s, dir) => {
      // PQ scale path: corpus encoded to 8 codeword ids (8 subspaces of
      // the 64-dim embedding, codebook = every-61st vector); queries
      // rank by the asymmetric inner product over codes
      val emb = read(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", every = 61L)
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 3, cb, nSub = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "ann_pq_refined" -> ((s, dir) => {
      // two-phase production PQ: quantized scan over-fetches a 4k
      // shortlist by ADC, then ONLY those candidates' raw vectors are
      // re-scored by exact cosine (the FAISS-style refine stage —
      // |Q|·4k gathers, independent of corpus size)
      val emb = read(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", every = 61L)
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopKRefined(emb, "vec_id", "embedding", q, "qid", "qvec", 3,
          cb, nSub = 8, refine = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    "ann_ivfpq_topk" -> ((s, dir) => {
      // IVF + PQ composed (the production shape): cells prune which
      // vectors are scanned (nprobe=2 of 9 cells), codes shrink what
      // the scan reads (8 codeword ids); same sample set serves as
      // coarse centroids and PQ codebook
      val emb = read(s, dir, "embeddings")
      val cents = Similarity.corpusCentroids(emb, "vec_id", "embedding", every = 61L)
      val cb = cents.map(_._2)
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", q, "qid", "qvec", 3,
        cents, nprobe = 2, cb, nSub = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // === fused one-pass stats aggregator (SURVEY §4.2) over the primary
    // input shape, synthesized here from documents (tokens = per-word
    // code-point lengths) so every buffer field is exercised ===
    "val_stats_agg" -> ((s, dir) => {
      val seqs = read(s, dir, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        transform(split(col("text"), " "), w => length(w).cast("int")).as("tokens"),
        size(split(col("text"), " ")).cast("int").as("n_tok"),
        col("source"))
      StatsAggregator.profile(seqs, bucketWidth = 8, nBuckets = 16)
        .select(col("n"), col("doc_id_nulls"), col("tokens_nulls"),
          col("n_tok_min").cast("long").as("n_tok_min"),
          col("n_tok_max").cast("long").as("n_tok_max"),
          col("token_min").cast("long").as("token_min"),
          col("token_max").cast("long").as("token_max"),
          posexplode(col("hist")).as(Seq("bucket", "bucket_n")))
        .withColumn("bucket", col("bucket").cast("long"))
    }),

    // === multimodal plumbing (stubbed decode over binary payloads) ===
    "mm_meta" -> ((s, dir) =>
      Multimodal.extractMeta(read(s, dir, "documents"), "doc_id", "text").toDF()),

    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrameOffsets(read(s, dir, "documents"), "doc_id", "text", 4)),

    // === relational coverage: agg / join / window / time rollup ===
    "q1_pricing" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("count_order"),
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_c"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_c"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long")).as("sum_disc_c"))),

    "q3_top_orders" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // first-shipment row per supplier. Computed as min(struct(...)) —
    // lexicographic struct comparison ≡ the row_number() window ordered
    // by (l_shipdate, l_orderkey, l_linenumber) asc this replaces (the
    // key triple is unique, so rn=1 picks exactly the struct minimum),
    // but with map-side partial aggregation: the shuffle carries one
    // row per (supplier, task) instead of every lineitem row, and the
    // per-partition window SORT disappears (guide §2.3 "aggregate
    // before you shuffle"; plan: Exchange+Sort+Window → partial/final
    // HashAggregate, see plans/r06/q_window_first_ship_*.txt).
    "q_window_first_ship" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(min(struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
          .as("_f"))
        .select(col("l_suppkey"), col("_f").getField("l_orderkey").as("l_orderkey"),
          col("_f").getField("l_linenumber").as("l_linenumber"))),

    "q_events_daily" -> ((s, dir) =>
      read(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_c")))
  )

  // ---- LSH planes shared between Scala impl and oracle SQL ----
  lazy val lshPlanes: Array[Array[Double]] = Similarity.hyperplanes(8, 64)
  private def planeSql(p: Array[Double]): String =
    "[" + p.map(_.toString).mkString(", ") + "]::DOUBLE[]"
  private def lshBucketSql(vec: String): String =
    lshPlanes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($vec::DOUBLE[], ${planeSql(p)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ---- oracle SQL ----

  def oracleSql: Map[String, String] = {
    val minhashSigSql = {
      val ms = Dedup.minhashCoeffs(8).zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(sh, s -> ((${hSql("s")} * $a + $b) % $P))) AS m$i"
      }.mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id, text, $wordsSql AS w FROM documents),
          sh AS (SELECT doc_id, $shinglesSql AS sh FROM t)
          SELECT doc_id, $ms FROM sh"""
    }

    // not-null-filtered variant (the incremental op's convention: a null
    // key has no identity across batches, a null text no signature)
    val minhashSigNNSql = {
      val ms = Dedup.minhashCoeffs(8).zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(sh, s -> ((${hSql("s")} * $a + $b) % $P))) AS m$i"
      }.mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id, text, $wordsSql AS w FROM documents
                     WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          sh AS (SELECT doc_id, $shinglesSql AS sh FROM t)
          SELECT doc_id, $ms FROM sh"""
    }

    /** Shared CTE chain `sig → pairs → edges → reach → cl` resolving
      * minhash-LSH candidate pairs into clusters (`cl(id, cluster_id)`),
      * spliced into `WITH RECURSIVE` by dedup_clusters/dedup_canonical.
      */
    val clusterCtesSql = {
      val bandJoins = (0 until 4).map { b =>
        val (c1, c2) = (s"m${2 * b}", s"m${2 * b + 1}")
        s"""SELECT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y
            ON x.$c1 = y.$c1 AND x.$c2 = y.$c2 AND x.doc_id < y.doc_id"""
      }.mkString("\nUNION\n")
      s"""sig AS ($minhashSigSql),
          pairs AS ($bandJoins),
          edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
          reach(id, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.a, rc.r FROM edges e JOIN reach rc ON rc.id = e.b),
          cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1)"""
    }

    val simhashSql = {
      // hash once into hs (mirrors the engine's projected _hs column)
      val terms = (0 until Dedup.SimhashBits).map { j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""SELECT doc_id, CAST($terms AS BIGINT) AS simhash
          FROM (SELECT doc_id, list_transform($wordsSql, x -> ${hFullSql("x")}) AS hs
                FROM documents)"""
    }

    val langidSql = {
      val scores = TextOps.LangMarkers.map { case (lang, ms) =>
        s"len(list_filter(w, x -> x IN (${inList(ms)}))) AS ${lang}_s"
      }.mkString(", ")
      val langs = TextOps.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(_ + "_s").mkString(", ")})"
      val cases = langs.map(l => s"WHEN ${l}_s = g AND g > 0 THEN '$l'").mkString(" ")
      s"""SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
          FROM (SELECT doc_id, $scores, $best AS g
                FROM (SELECT doc_id, $wordsSql AS w FROM documents))"""
    }

    Map(
      "val_violations" -> docViolationArms.map { case (cid, where, off) =>
        s"SELECT doc_id, '$cid' AS constraint_id, $off AS offending FROM documents WHERE $where"
      }.mkString("\nUNION ALL\n"),

      // the JSONL roundtrip must land exactly where the typed path does
      "val_jsonl" -> docViolationArms.map { case (cid, where, off) =>
        s"SELECT doc_id, '$cid' AS constraint_id, $off AS offending FROM documents WHERE $where"
      }.mkString("\nUNION ALL\n"),

      "val_row_verdicts" ->
        s"SELECT doc_id, ($docViolCountSql) = 0 AS valid FROM documents",

      "val_verdicts_by_source" ->
        s"""SELECT source, count(*) AS n_rows,
            CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed_rows,
            CAST(sum(nv) AS BIGINT) AS n_violations,
            sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) = 0 AS partition_pass
            FROM (SELECT source, ($docViolCountSql) AS nv FROM documents)
            GROUP BY source""",

      "val_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n,
            CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            round(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) / count(*), 6) AS null_rate,
            CAST(min($c) AS VARCHAR) AS min, CAST(max($c) AS VARCHAR) AS max
            FROM documents"""
      }.mkString("\nUNION ALL\n"),

      // merged-artifact profile must equal the direct whole-table stats
      "prof_merge" -> Seq("lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n,
            CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            round(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) / count(*), 6) AS null_rate,
            CAST(min($c) AS VARCHAR) AS min, CAST(max($c) AS VARCHAR) AS max
            FROM documents"""
      }.mkString("\nUNION ALL\n"),

      "val_histogram" ->
        """SELECT lang, CAST(floor(n_chars / 50.0) AS BIGINT) AS bucket, count(*) AS n
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2""",

      "val_quantiles" ->
        """SELECT lang,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
           FROM documents GROUP BY 1""",

      // every group sees every baseline bucket (groups × baseline domain),
      // full-outer so observed-only buckets keep their p-mass — mirrors
      // Checks.driftByGroup exactly (incl. its null-group exclusion: a
      // null group key is required-violation territory, not a slice)
      "val_drift" ->
        """WITH h AS (SELECT lang, CAST(floor(n_chars/50.0) AS BIGINT) AS bucket, count(*) AS n
                      FROM documents
                      WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1,2),
                tot AS (SELECT lang, CAST(sum(n) AS DOUBLE) AS t FROM h GROUP BY lang),
                base AS (SELECT CAST(floor(n_chars/50.0) AS BIGINT) AS bucket,
                         count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS p
                         FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
                obs AS (SELECT h.lang, h.bucket, h.n / tot.t AS p_obs
                        FROM h JOIN tot USING (lang)),
                dom AS (SELECT l.lang, b.bucket, b.p AS p_base
                        FROM (SELECT DISTINCT lang FROM h) l CROSS JOIN base b),
                j AS (SELECT coalesce(dom.lang, obs.lang) AS lang,
                       coalesce(obs.p_obs, 0) + 1e-6 AS p,
                       coalesce(dom.p_base, 0) + 1e-6 AS q
                      FROM dom FULL OUTER JOIN obs
                        ON dom.lang = obs.lang AND dom.bucket = obs.bucket)
           SELECT lang, round(sum(p * ln(p/q)), 6) AS kl,
                  round(sum((p - q) * ln(p/q)), 6) AS psi
           FROM j GROUP BY lang""",

      // both hist sides carry ALL 16 clamped buckets (zero-count buckets
      // get the eps floor), matching the artifact histograms exactly
      "drift_profiles" ->
        """WITH spine AS (SELECT unnest(generate_series(0, 15)) AS bucket),
                ch AS (SELECT least(greatest(CAST(floor(n_chars/50.0) AS BIGINT), 0), 15) AS bucket,
                              count(*) AS n
                       FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1),
                bh AS (SELECT least(greatest(CAST(floor(n_chars/50.0) AS BIGINT), 0), 15) AS bucket,
                              count(*) AS n
                       FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1),
                o AS (SELECT s.bucket, coalesce(ch.n, 0) AS n FROM spine s LEFT JOIN ch USING (bucket)),
                b AS (SELECT s.bucket, coalesce(bh.n, 0) AS n FROM spine s LEFT JOIN bh USING (bucket)),
                j AS (SELECT o.n / (SELECT CAST(sum(n) AS DOUBLE) FROM o) + 1e-6 AS p,
                             b.n / (SELECT CAST(sum(n) AS DOUBLE) FROM b) + 1e-6 AS q
                      FROM o JOIN b USING (bucket))
           SELECT round(sum(p * ln(p/q)), 6) AS kl,
                  round(sum((p - q) * ln(p/q)), 6) AS psi
           FROM j""",

      "val_violations2" -> Seq(
        ("$.doc_id.required", "doc_id IS NULL", "CAST(NULL AS VARCHAR)"),
        ("$.doc_id.divisibleBy", "doc_id IS NOT NULL AND doc_id % 7 <> 0",
          "CAST(doc_id AS VARCHAR)"),
        ("$.n_chars.type",
          "n_chars IS NOT NULL AND NOT((n_chars >= 100 AND n_chars <= 200) OR n_chars >= 400)",
          "CAST(n_chars AS VARCHAR)"),
        ("$.n_chars.divisibleBy",
          "n_chars IS NOT NULL AND (CAST(n_chars AS DECIMAL(38,3)) % CAST(3.5 AS DECIMAL(38,3))) <> 0",
          "CAST(n_chars AS VARCHAR)"),
        ("$.lang.disallow", "lang IS NOT NULL AND lang = 'zh'", "lang"),
        ("$.text.maxLength", "text IS NOT NULL AND length(text) > 400", "text"),
        ("$.n_chars.maximum", "n_chars IS NOT NULL AND n_chars > 300",
          "CAST(n_chars AS VARCHAR)"),
        ("$.source.pattern",
          "source IS NOT NULL AND NOT regexp_matches(source, '^src[0-4]$')", "source"),
        ("$.dependencies",
          "lang IS NOT NULL AND NOT (source IS NULL OR regexp_matches(source, '^src[0-7]'))",
          "lang"))
        .map { case (cid, where, off) =>
          s"SELECT doc_id, '$cid' AS constraint_id, $off AS offending FROM documents WHERE $where"
        }.mkString("\nUNION ALL\n"),

      "val_array_keywords" ->
        """WITH t AS (SELECT vec_id,
             embedding[1:(CAST(vec_id % 10 AS INT) + 58)] AS emb2,
             list_transform(embedding[1:(CAST(vec_id % 4 AS INT) + 2)],
               x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS INT)) AS ints
           FROM embeddings)
           SELECT vec_id, '$.emb2.minItems' AS constraint_id FROM t WHERE len(emb2) < 60
           UNION ALL SELECT vec_id, '$.emb2.maxItems' FROM t WHERE len(emb2) > 63
           UNION ALL SELECT vec_id, '$.emb2[*].type' FROM t
             WHERE len(list_filter(emb2, x -> x IS NULL)) > 0
           UNION ALL SELECT vec_id, '$.emb2[*].minimum' FROM t
             WHERE len(list_filter(emb2, x -> x IS NOT NULL AND CAST(x AS DOUBLE) < -0.375)) > 0
           UNION ALL SELECT vec_id, '$.emb2[*].maximum' FROM t
             WHERE len(list_filter(emb2, x -> x IS NOT NULL AND CAST(x AS DOUBLE) > 0.375)) > 0
           UNION ALL SELECT vec_id, '$.ints.uniqueItems' FROM t
             WHERE len(list_distinct(ints)) <> len(ints)""",

      "val_tuple_items" ->
        """WITH t AS (SELECT vec_id, embedding[1:4] AS tup, embedding[1:3] AS tup2
                      FROM embeddings)
           SELECT vec_id, '$.tup[0].minimum' AS constraint_id FROM t
             WHERE len(tup) > 0 AND tup[1] IS NOT NULL AND CAST(tup[1] AS DOUBLE) < 0
           UNION ALL SELECT vec_id, '$.tup[1].minimum' FROM t
             WHERE len(tup) > 1 AND tup[2] IS NOT NULL AND CAST(tup[2] AS DOUBLE) < 0
           UNION ALL SELECT vec_id, '$.tup[*].maximum' FROM t
             WHERE len(list_filter(tup[3:], x -> x IS NOT NULL AND CAST(x AS DOUBLE) > 0.25)) > 0
           UNION ALL SELECT vec_id, '$.tup2.additionalItems' FROM t WHERE len(tup2) > 2""",

      "val_events_spec" ->
        """SELECT event_id, '$.value.type' AS constraint_id FROM events
             WHERE value IS NOT NULL AND value <> floor(value)
           UNION ALL SELECT event_id, '$.user_id.minimum' FROM events
             WHERE user_id IS NOT NULL AND user_id <= 0
           UNION ALL SELECT event_id, '$.user_id.maximum' FROM events
             WHERE user_id IS NOT NULL AND user_id >= 149
           UNION ALL SELECT event_id, '$.event_type.enum' FROM events
             WHERE event_type IS NOT NULL
               AND event_type NOT IN ('click','view','purchase','signup')
           UNION ALL SELECT event_id, '$.dependencies' FROM events
             WHERE value IS NOT NULL""",

      "val_map_props" ->
        """WITH t AS (SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
                      FROM events)
           SELECT event_id, '$.k.minimum' AS constraint_id,
                  CAST(k AS VARCHAR) AS offending FROM t WHERE k < 10
           UNION ALL SELECT event_id, '$.<pattern:^k>.maximum',
                  '[{"key":"k","value":' || k || '}]' FROM t WHERE k > 90""",

      // the ORIGINAL POSIX source runs here (RE2 groks [[:digit:]]);
      // the engine ran the Java translation — cross-dialect differential
      "val_posix_pattern" ->
        s"""SELECT doc_id, '$$.lang.pattern' AS constraint_id, lang AS offending
            FROM documents
            WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '$PosixLangPattern')
            UNION ALL
            SELECT doc_id, '$$.source.pattern' AS constraint_id, source AS offending
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '$PosixSourcePattern')""",

      "val_enum_struct" ->
        """SELECT doc_id, '$.loc.enum' AS constraint_id FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL
             AND NOT ((lang = 'en' AND source = 'src0')
                   OR (lang = 'es' AND source = 'src1'))""",

      "val_enum_map" ->
        """SELECT event_id, '$.m.enum' AS constraint_id
           FROM (SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
                 FROM events WHERE props IS NOT NULL)
           WHERE k NOT IN (42, 77)""",

      "val_enum_deep" ->
        """SELECT event_id, '$.v.enum' AS constraint_id
           FROM (SELECT event_id, event_type AS tag,
                        CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
                 FROM events WHERE props IS NOT NULL AND event_type IS NOT NULL)
           WHERE NOT ((tag = 'click' AND k = 42) OR (tag = 'view' AND k = 77))""",

      "val_defaults" ->
        """SELECT doc_id, '$.lang.enum' AS constraint_id, lang AS offending
           FROM (SELECT doc_id,
                   coalesce(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END, 'zz') AS lang
                 FROM documents)
           WHERE lang NOT IN ('en','es','de','fr')""",

      // element 1 is NULL→0 when doc_id%3=0 or n_chars is NULL; element 2
      // is NULL→0 when n_chars is NULL; a 0 element violates minimum 1
      "val_defaults_deep" ->
        """SELECT doc_id, '$.xs[*].minimum' AS constraint_id
           FROM documents
           WHERE coalesce(CASE WHEN doc_id % 3 = 0 THEN NULL ELSE n_chars END, 0) < 1
              OR coalesce(n_chars, 0) < 1""",

      "chk_unique" ->
        """SELECT user_id, '$.user_id.unique' AS constraint_id,
           CAST(count(*) AS VARCHAR) AS offending
           FROM events WHERE user_id IS NOT NULL
           GROUP BY user_id HAVING count(*) > 1""",

      "chk_referential" ->
        """SELECT l_suppkey, '$.l_suppkey.referential' AS constraint_id,
           CAST(l_suppkey AS VARCHAR) AS offending
           FROM lineitem WHERE l_suppkey IS NOT NULL
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)""",

      "chk_consistency" ->
        """SELECT count(*) AS n_checked,
           CAST(sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
           FROM documents""",

      "dedup_exact" ->
        """SELECT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp,
           count(*) AS n_docs, min(doc_id) AS keep_id
           FROM documents GROUP BY 1""",

      "dedup_minhash_sig" -> minhashSigSql,

      "dedup_minhash_pairs" -> {
        val bandJoins = (0 until 4).map { b =>
          val (c1, c2) = (s"m${2 * b}", s"m${2 * b + 1}")
          s"""SELECT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y
              ON x.$c1 = y.$c1 AND x.$c2 = y.$c2 AND x.doc_id < y.doc_id"""
        }.mkString("\nUNION\n")
        s"WITH sig AS ($minhashSigSql)\n$bandJoins"
      },

      // full-corpus banded pairs (not-null sig) restricted to pairs with
      // at least one new (doc_id % 10 = 7) endpoint — the incremental
      // op's contract
      "dedup_incremental" -> {
        val bandJoins = (0 until 4).map { b =>
          val (c1, c2) = (s"m${2 * b}", s"m${2 * b + 1}")
          s"""SELECT x.doc_id AS a, y.doc_id AS b FROM sig x JOIN sig y
              ON x.$c1 = y.$c1 AND x.$c2 = y.$c2 AND x.doc_id < y.doc_id"""
        }.mkString("\nUNION\n")
        s"""WITH sig AS ($minhashSigNNSql), cand AS ($bandJoins)
            SELECT a, b FROM cand WHERE a % 10 = 7 OR b % 10 = 7"""
      },

      // full-corpus exact drop-list restricted to new (doc_id % 10 = 7)
      // keys — the incremental exact op's contract; keep_id is the
      // group min over old∪new
      "dedup_exact_incr" ->
        """WITH d0 AS (SELECT doc_id, text FROM documents
                       WHERE doc_id IS NOT NULL AND text IS NOT NULL),
            base AS (SELECT doc_id, text FROM d0
                     UNION ALL
                     SELECT doc_id + 1000007, text FROM d0 WHERE doc_id % 13 = 2),
            f AS (SELECT doc_id,
                        md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
                      FROM base),
            g AS (SELECT doc_id,
                         min(doc_id) OVER (PARTITION BY fp) AS keep_id,
                         count(*) OVER (PARTITION BY fp) AS n
                  FROM f)
            SELECT doc_id, keep_id FROM g
            WHERE doc_id % 10 = 7 AND n > 1 AND doc_id <> keep_id""",

      // transitive closure via recursive CTE, then min reachable id per
      // node — the declarative equivalent of the engine's min-label
      // propagation (oracle-side O(cluster²) is fine at test scale)
      "dedup_clusters" ->
        s"""WITH RECURSIVE $clusterCtesSql
            SELECT id AS doc_id, cluster_id FROM cl""",

      // canonical selection: the engine's max(struct(score, key)) argmax
      // rendered as a DESC/DESC row_number window — identical tie-break
      // (score first, then key IN ITS OWN TYPE, both descending)
      "dedup_canonical" ->
        s"""WITH RECURSIVE $clusterCtesSql,
            q AS (SELECT doc_id,
                  round(least(ns * 2.0 / nw, 1.0) * 0.5 + least(nw / 100.0, 1.0) * 0.5, 6) AS quality
                  FROM (SELECT doc_id, len($wordsSql) AS nw,
                        len(list_filter($wordsSql, x -> x IN (${inList(TextOps.Stopwords)}))) AS ns
                        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)),
            j AS (SELECT coalesce(cl.cluster_id, q.doc_id) AS cluster_id,
                         q.doc_id AS k, q.quality AS s
                  FROM q LEFT JOIN cl ON q.doc_id = cl.id)
            SELECT cluster_id, k AS canonical_id, s AS best_score, n_docs FROM (
              SELECT cluster_id, k, s,
                     count(*) OVER (PARTITION BY cluster_id) AS n_docs,
                     row_number() OVER (PARTITION BY cluster_id ORDER BY s DESC, k DESC) AS rn
              FROM j) WHERE rn = 1""",

      "samp_stratified" -> {
        val rateCase = "CASE source " +
          SampleRates.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
          s" ELSE $SampleDefaultRate END"
        s"""SELECT doc_id, source FROM documents
            WHERE (${hFullSql("CAST(doc_id AS VARCHAR)")} % ${Pipeline.SampleGranularity}) <
                  CAST(($rateCase) * ${Pipeline.SampleGranularity} AS BIGINT)"""
      },

      // `// 128` = the engine's `portableHash >> 7` (both floor a
      // non-negative value), keeping the priority exact in the
      // aggregator's Double score
      "samp_domain_cap" ->
        s"""SELECT doc_id, source FROM (
              SELECT doc_id, source, row_number() OVER (
                PARTITION BY source
                ORDER BY (${hFullSql("CAST(doc_id AS VARCHAR)")} // 128), doc_id) AS rn
              FROM documents) WHERE rn <= $DomainCap""",

      "samp_split" -> {
        val arms = SplitSpec.zip(Pipeline.splitCuts(SplitSpec)).map {
          case ((n, _), c) => s"WHEN h < $c THEN '$n'"
        }.mkString(" ")
        s"""SELECT doc_id, CASE $arms ELSE NULL END AS split
            FROM (SELECT doc_id,
                  (${hFullSql("CAST(doc_id AS VARCHAR)")} % ${Pipeline.SampleGranularity}) AS h
                  FROM documents)"""
      },

      "seq_pack" ->
        s"""SELECT doc_id, source, shard,
            CAST(floor((cum - n_chars) / 8192.0) AS BIGINT) AS bin_id
            FROM (SELECT doc_id, source, shard, n_chars,
                  sum(n_chars) OVER (PARTITION BY source, shard ORDER BY doc_id) AS cum
                  FROM (SELECT doc_id, source, n_chars,
                        (${hFullSql("CAST(doc_id AS VARCHAR)")} % 8) AS shard
                        FROM documents))""",

      "mix_weights" -> {
        val shareCase = "(CASE source " +
          MixShares.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
          " ELSE 0.0 END)::DOUBLE"
        // operation ORDER mirrors the Scala impl exactly —
        // (budget * share) / available — so the doubles are bit-equal;
        // the no-tokens guard (rate 0 for a null/zero stratum) is
        // mirrored too, though the demo table never exercises it
        val rateSql = s"""(CASE WHEN available_tokens IS NULL OR available_tokens = 0
              THEN 0.0::DOUBLE
              ELSE LEAST(${MixMaxEpochs}::DOUBLE,
                   (${MixBudget}.0::DOUBLE * $shareCase) / available_tokens::DOUBLE) END)"""
        s"""SELECT source, available_tokens, $shareCase AS target_share,
            $rateSql AS rate,
            CAST(round($rateSql * COALESCE(available_tokens, 0)::DOUBLE) AS BIGINT)
              AS expected_tokens
            FROM (SELECT source, CAST(sum(n_chars) AS BIGINT) AS available_tokens
                  FROM documents GROUP BY source)"""
      },

      "samp_epochs" -> {
        val rateCase = "(CASE source " +
          EpochRates.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
          " ELSE 0.0 END)::DOUBLE"
        // k = floor(rate) + (hash-gated fractional epoch); range(1, k+1)
        // is empty at k=0, and unnest drops the row — same as the
        // engine's explode of a null sequence. Null keys are excluded on
        // both sides (the engine filters them; a null hash gate would
        // otherwise zero the fractional epoch here but keep the full
        // ones — a latent differential)
        s"""SELECT doc_id, source, unnest(range(1, k + 1)) AS epoch
            FROM (SELECT doc_id, source,
                    CAST(floor($rateCase) AS BIGINT)
                    + (CASE WHEN (${hFullSql("CAST(doc_id AS VARCHAR)")} % ${Pipeline.SampleGranularity})
                            < CAST(round(($rateCase - floor($rateCase)) * ${Pipeline.SampleGranularity}) AS BIGINT)
                       THEN 1 ELSE 0 END) AS k
                  FROM documents WHERE doc_id IS NOT NULL)"""
      },

      // the bucketed engine path must be indistinguishable from the
      // event-level definition, so both keys share one oracle
      "evt_sessions_bucketed" ->
        """SELECT user_id, session_seq, count(*) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
           FROM (SELECT user_id, ts, value,
                   CAST(sum(CASE WHEN prev IS NULL
                            OR (CAST(floor(epoch(ts)) AS BIGINT)
                                - CAST(floor(epoch(prev)) AS BIGINT)) > 1800
                       THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                 FROM (SELECT user_id, ts, event_id, value,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                       FROM events))
           GROUP BY 1, 2""",

      "evt_sessions" ->
        """SELECT user_id, session_seq, count(*) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
           FROM (SELECT user_id, ts, value,
                   CAST(sum(CASE WHEN prev IS NULL
                            OR (CAST(floor(epoch(ts)) AS BIGINT)
                                - CAST(floor(epoch(prev)) AS BIGINT)) > 1800
                       THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                 FROM (SELECT user_id, ts, event_id, value,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                       FROM events))
           GROUP BY 1, 2""",

      "dedup_simhash" -> simhashSql,

      // banded candidates (UNION dedups across bands) + exact hamming;
      // no bucket at sf0.01 reaches the engine's maxBucket cap
      "dedup_simhash_pairs" -> {
        val bandJoins = (0 until 4).map { b =>
          val shift = b * 15
          s"""SELECT x.doc_id AS a, y.doc_id AS b,
                     CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
              FROM sig x JOIN sig y
              ON ((x.simhash >> $shift) & 32767) = ((y.simhash >> $shift) & 32767)
                 AND x.doc_id < y.doc_id"""
        }.mkString("\nUNION\n")
        s"""WITH sig AS (SELECT * FROM ($simhashSql)
                         WHERE doc_id IS NOT NULL AND simhash IS NOT NULL),
            cand AS ($bandJoins)
            SELECT a, b, hamming FROM cand WHERE hamming <= 3"""
      },

      "dedup_jaccard_pairs" ->
        s"""WITH t AS (SELECT doc_id, text, $wordsSql AS w FROM documents),
            sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
            inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
            p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na, y.n_sh AS nb,
                         count(*) AS inter
                  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
                  GROUP BY 1, 2, 3, 4)
            SELECT a, b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
            FROM p WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.1""",

      // segments = non-overlapping 8-word chunks (the engine's default
      // width); the engine keys the occurrence window on md5(seg), the
      // oracle on seg itself — identical equality semantics
      "dedup_segments" ->
        s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents
                       WHERE doc_id IS NOT NULL AND text IS NOT NULL),
            segs AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
              SELECT doc_id, unnest(list_transform(range(0, ((len(w)-1) // 8) + 1),
                i -> {'pos': i, 'seg': array_to_string(list_slice(w, i*8+1, i*8+8), ' ')})) AS u
              FROM t)),
            c AS (SELECT doc_id, count(*) OVER (PARTITION BY seg) AS c FROM segs)
            SELECT doc_id, count(*) AS n_segments,
                   CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
                   round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS dup_seg_ratio
            FROM c GROUP BY doc_id""",

      // first occurrence = min (doc_id, pos) per segment content; the
      // engine computes it as min(struct) (no sort), the oracle as
      // row_number ordered by the same key — identical on non-null keys
      "dedup_seg_rewrite" ->
        s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents
                       WHERE doc_id IS NOT NULL AND text IS NOT NULL),
            segs AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
              SELECT doc_id, unnest(list_transform(range(0, ((len(w)-1) // 8) + 1),
                i -> {'pos': i, 'seg': array_to_string(list_slice(w, i*8+1, i*8+8), ' ')})) AS u
              FROM t)),
            c AS (SELECT doc_id, pos, seg,
                    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
                  FROM segs)
            SELECT doc_id,
                   COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY pos), '') AS text,
                   count(*) AS n_segments,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM c GROUP BY doc_id""",

      // rolling k=8 grams, stride 1; short docs yield one whole-text
      // gram (greatest clamps the range, list_slice clamps the slice)
      "dedup_rolling" ->
        s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents
                       WHERE doc_id IS NOT NULL AND text IS NOT NULL),
            g AS (SELECT doc_id, u.gram AS gram FROM (
              SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - 8, 0) + 1),
                i -> {'gram': array_to_string(list_slice(w, i+1, i+8), ' ')})) AS u
              FROM t)),
            c AS (SELECT doc_id, count(*) OVER (PARTITION BY gram) AS c FROM g)
            SELECT doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
                   round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS dup_gram_ratio
            FROM c GROUP BY doc_id""",

      // merged duplicated spans: island detection over dup-gram starts —
      // a new island begins past the running max end + 1
      "dedup_spans" ->
        s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents
                       WHERE doc_id IS NOT NULL AND text IS NOT NULL),
            g AS (SELECT doc_id, n, u.pos AS pos, u.gram AS gram FROM (
              SELECT doc_id, len(w) AS n,
                     unnest(list_transform(range(0, greatest(len(w) - 8, 0) + 1),
                i -> {'pos': i, 'gram': array_to_string(list_slice(w, i+1, i+8), ' ')})) AS u
              FROM t)),
            d AS (SELECT doc_id, pos, least(pos + 7, n - 1) AS e FROM (
                    SELECT *, count(*) OVER (PARTITION BY gram) AS c FROM g)
                  WHERE c > 1),
            m AS (SELECT doc_id, pos, e,
                    max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
                  FROM d),
            i AS (SELECT doc_id, pos, e,
                    sum(CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
                  FROM m)
            SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(e) AS BIGINT) AS span_end
            FROM i GROUP BY doc_id, island""",

      // per-doc duplicated-word fraction: islands are disjoint, so
      // span lengths sum exactly; span-free docs report 0
      "dedup_span_frac" ->
        s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents
                       WHERE doc_id IS NOT NULL AND text IS NOT NULL),
            g AS (SELECT doc_id, n, u.pos AS pos, u.gram AS gram FROM (
              SELECT doc_id, len(w) AS n,
                     unnest(list_transform(range(0, greatest(len(w) - 8, 0) + 1),
                i -> {'pos': i, 'gram': array_to_string(list_slice(w, i+1, i+8), ' ')})) AS u
              FROM t)),
            d AS (SELECT doc_id, pos, least(pos + 7, n - 1) AS e FROM (
                    SELECT *, count(*) OVER (PARTITION BY gram) AS c FROM g)
                  WHERE c > 1),
            m AS (SELECT doc_id, pos, e,
                    max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
                  FROM d),
            i AS (SELECT doc_id, pos, e,
                    sum(CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
                  FROM m),
            sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e2
                   FROM i GROUP BY doc_id, island),
            dw AS (SELECT doc_id, CAST(sum(e2 - s + 1) AS BIGINT) AS dup_words
                   FROM sp GROUP BY doc_id),
            nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM t)
            SELECT nw.doc_id, n_words, COALESCE(dup_words, 0) AS dup_words,
                   round(COALESCE(dup_words, 0) / CAST(n_words AS DOUBLE), 6) AS dup_word_ratio
            FROM nw LEFT JOIN dw ON nw.doc_id = dw.doc_id""",

      // old-wins incremental rewrite: a batch segment survives iff NO
      // old doc carries it AND it is the batch-internal first occurrence
      "dedup_seg_incr" ->
        s"""WITH t AS (SELECT doc_id, $wordsSql AS w, (doc_id % 10 = 7) AS is_new
                       FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
            segs AS (SELECT doc_id, is_new, u.pos AS pos, u.seg AS seg FROM (
              SELECT doc_id, is_new, unnest(list_transform(range(0, ((len(w)-1) // 8) + 1),
                i -> {'pos': i, 'seg': array_to_string(list_slice(w, i*8+1, i*8+8), ' ')})) AS u
              FROM t)),
            c AS (SELECT doc_id, is_new, pos, seg,
                    sum(CASE WHEN is_new THEN 0 ELSE 1 END) OVER (PARTITION BY seg) AS n_old,
                    row_number() OVER (PARTITION BY seg, is_new ORDER BY doc_id, pos) AS rn
                  FROM segs)
            SELECT doc_id,
                   COALESCE(string_agg(CASE WHEN n_old = 0 AND rn = 1 THEN seg END, ' ' ORDER BY pos), '') AS text,
                   count(*) AS n_segments,
                   CAST(sum(CASE WHEN n_old = 0 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM c WHERE is_new GROUP BY doc_id""",

      "dedup_embed_pairs" ->
        """SELECT x.vec_id AS a, y.vec_id AS b,
           round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) AS cos
           FROM embeddings x JOIN embeddings y
           ON x.label = y.label AND x.vec_id < y.vec_id
           WHERE round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) >= 0.25""",

      "txt_tokens" ->
        s"SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_tokens FROM documents",

      "txt_quality" ->
        s"""SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
            round(ns / CAST(nw AS DOUBLE), 6) AS stopword_ratio,
            round((length(text) - (nw - 1)) / CAST(nw AS DOUBLE), 6) AS avg_word_len,
            round(least(ns * 2.0 / nw, 1.0) * 0.5 + least(nw / 100.0, 1.0) * 0.5, 6) AS quality
            FROM (SELECT doc_id, text, len($wordsSql) AS nw,
                  len(list_filter($wordsSql, x -> x IN (${inList(TextOps.Stopwords)}))) AS ns
                  FROM documents)""",

      "txt_classifier" -> {
        val k = TextOps.ClassifierBuckets
        val w = TextOps.ClassifierWeights.mkString("[", ", ", "]")
        val b = TextOps.ClassifierBias
        s"""WITH h AS (SELECT doc_id,
              list_transform($wordsSql, x -> ${hSql("x")}) AS hs FROM documents),
            f AS (SELECT doc_id,
              list_sum(list_transform(hs, x -> ($w)[CAST(x % $k AS INT) + 1])) AS usum,
              CASE WHEN len(hs) >= 2 THEN
                list_sum(list_transform(generate_series(1, len(hs) - 1),
                  i -> ($w)[CAST((hs[i] * 31 + hs[i+1]) % $P % $k AS INT) + 1]))
              ELSE 0.0 END AS bsum,
              greatest(2 * len(hs) - 1, 1) AS nf
              FROM h)
            SELECT doc_id, round($b + (usum + bsum) / nf, 6) AS logit,
                   ($b + (usum + bsum) / nf) > 0 AS accept FROM f"""
      },

      "txt_langid" -> langidSql,

      "txt_fingerprint" ->
        s"""SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform($wordsSql, x -> ${hSql("x")})),
              (acc, x) -> (acc * 31 + x) % $P) AS rolling_fp
            FROM documents""",

      "txt_vocab" ->
        s"""WITH inst AS (SELECT doc_id, unnest($wordsSql) AS token FROM documents),
            per AS (SELECT doc_id, token, count(*) AS c FROM inst GROUP BY 1, 2),
            agg AS (SELECT token, CAST(sum(c) AS BIGINT) AS n_total, count(*) AS df
                    FROM per GROUP BY 1)
            SELECT token, n_total, df FROM agg
            ORDER BY n_total DESC, token LIMIT 100""",

      // patterns restricted to the RE2 ∩ java.util.regex common dialect
      // (TextOps.PiiPatterns); DuckDB string literals take no backslash
      // escapes, so the sources pass through verbatim
      "txt_pii" ->
        s"""WITH c AS (SELECT doc_id,
              text
              || (CASE WHEN doc_id % 3 = 0
                       THEN ' contact u' || doc_id || '@mail.example.com' ELSE '' END)
              || (CASE WHEN doc_id % 5 = 1
                       THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END)
              || (CASE WHEN doc_id % 7 = 2 THEN ' call 555-867-5309' ELSE '' END) AS t
            FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
            SELECT doc_id,
              CAST(len(regexp_extract_all(t, '$piiEmailRe')) AS BIGINT) AS n_email,
              CAST(len(regexp_extract_all(t, '$piiIpv4Re')) AS BIGINT) AS n_ipv4,
              CAST(len(regexp_extract_all(t, '$piiPhoneRe')) AS BIGINT) AS n_phone,
              regexp_replace(regexp_replace(regexp_replace(t,
                '$piiEmailRe', '<EMAIL>', 'g'),
                '$piiIpv4Re', '<IP>', 'g'),
                '$piiPhoneRe', '<PHONE>', 'g') AS redacted
            FROM c""",

      "txt_repetition" ->
        s"""WITH t AS (SELECT doc_id, text, $wordsSql AS w
                       FROM documents WHERE text IS NOT NULL),
            r AS (SELECT doc_id,
                    CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 1 END AS n_grams,
                    len($shinglesSql) AS nd
                  FROM t)
            SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                   round(1.0 - nd / CAST(n_grams AS DOUBLE), 6) AS dup_ratio
            FROM r""",

      // token arrays derived via the portable hash (one md5 per word,
      // same as the engine's SeqOps.tokenize), then the token-3-gram
      // distinct count — the token-space txt_repetition
      "seq_repetition" ->
        s"""WITH t AS (SELECT doc_id,
                         list_transform($wordsSql, w -> CAST(${hFullSql("w")} % 49152 AS INT)) AS toks
                       FROM documents WHERE text IS NOT NULL),
            r AS (SELECT doc_id,
                    CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 1 END AS n_grams,
                    CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> CAST(toks[i] AS VARCHAR) || ',' || CAST(toks[i+1] AS VARCHAR)
                                || ',' || CAST(toks[i+2] AS VARCHAR))))
                         ELSE 1 END AS nd
                  FROM t)
            SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                   round(1.0 - nd / CAST(n_grams AS DOUBLE), 6) AS dup_ratio
            FROM r""",

      "seq_oov" ->
        s"""WITH t AS (SELECT source,
                         list_transform($wordsSql, w -> CAST(${hFullSql("w")} % 49152 AS INT)) AS toks
                       FROM documents WHERE text IS NOT NULL)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
                   CAST(sum(len(list_filter(toks, t -> t < 0 OR t >= 4096))) AS BIGINT) AS n_oov,
                   round(sum(len(list_filter(toks, t -> t < 0 OR t >= 4096)))
                         / CAST(sum(len(toks)) AS DOUBLE), 6) AS oov_rate
            FROM t GROUP BY source""",

      // one row of observed-invariant evidence per documents column
      // (engine.SpecInfer.inferRows): presence, bounds, exact distinct,
      // and the sorted enum csv for low-cardinality strings
      "val_infer_rows" -> {
        def statRow(c: String, isStr: Boolean): String = {
          val enumSql =
            if (isStr)
              s"CASE WHEN count(DISTINCT $c) <= 16 THEN " +
                s"array_to_string(list_sort(list_distinct(list($c))), ',') END"
            else "CAST(NULL AS VARCHAR)"
          s"""SELECT '$c' AS col_name, count(*) AS n,
                     CAST(count(*) - count($c) AS BIGINT) AS n_null,
                     (count(*) = count($c)) AS required,
                     CAST(min($c) AS VARCHAR) AS min_s,
                     CAST(max($c) AS VARCHAR) AS max_s,
                     count(DISTINCT $c) AS n_distinct,
                     $enumSql AS enum_vals
              FROM documents"""
        }
        Seq(statRow("doc_id", isStr = false), statRow("text", isStr = true),
          statRow("lang", isStr = true), statRow("source", isStr = true),
          statRow("n_chars", isStr = false)).mkString(" UNION ALL ")
      },

      "decon_overlap" ->
        s"""WITH t AS (SELECT doc_id, text, $wordsSql AS w FROM documents),
            sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
            b AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 17 = 3),
            c AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
                  FROM sh WHERE doc_id % 17 <> 3)
            SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap,
                   round(count(*) / CAST(n_sh AS DOUBLE), 6) AS contamination
            FROM c JOIN b USING (s)
            GROUP BY c.doc_id, c.n_sh""",

      // token-space decon: tokenize via the portable hash (same as
      // seq_repetition), distinct token-5-grams as comma-joined strings
      // (engine joins on xxhash64 of the same strings), short docs gram
      // as the whole sequence
      "decon_tokens" ->
        s"""WITH t AS (SELECT doc_id,
                         list_transform($wordsSql, w -> CAST(${hFullSql("w")} % 49152 AS INT)) AS toks
                       FROM documents WHERE text IS NOT NULL),
            g AS (SELECT doc_id,
                    CASE WHEN len(toks) >= 5 THEN list_distinct(list_transform(
                           generate_series(1, len(toks) - 4),
                           i -> CAST(toks[i] AS VARCHAR) || ',' || CAST(toks[i+1] AS VARCHAR)
                                || ',' || CAST(toks[i+2] AS VARCHAR) || ',' || CAST(toks[i+3] AS VARCHAR)
                                || ',' || CAST(toks[i+4] AS VARCHAR)))
                         ELSE [array_to_string(toks, ',')] END AS gs
                  FROM t),
            b AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id % 17 = 3),
            c AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gr
                  FROM g WHERE doc_id % 17 <> 3)
            SELECT c.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(count(*) AS BIGINT) AS n_overlap,
                   round(count(*) / CAST(n_grams AS DOUBLE), 6) AS contamination
            FROM c JOIN b USING (gr)
            GROUP BY c.doc_id, c.n_grams""",

      "ann_topk" ->
        """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 8),
                s AS (SELECT q.qid, e.vec_id AS nid,
                             list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
                      FROM q, embeddings e WHERE e.vec_id <> q.qid),
                r AS (SELECT qid, nid, cos,
                             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
                      FROM s)
           SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
           FROM r WHERE rank <= 3""",

      // the aggregator path must produce exactly the window's result
      "ann_topk_agg" ->
        """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 8),
                s AS (SELECT q.qid, e.vec_id AS nid,
                             list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
                      FROM q, embeddings e WHERE e.vec_id <> q.qid),
                r AS (SELECT qid, nid, cos,
                             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
                      FROM s)
           SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
           FROM r WHERE rank <= 3""",

      // same cells/probes recomputed relationally: centroids are the
      // vec_id % 61 = 0 corpus rows on both sides
      "ann_ivf_topk" ->
        """WITH cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                         FROM embeddings WHERE vec_id % 61 = 0),
                cells AS (SELECT vec_id, cid AS cell FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
                                      c.cid ASC) AS rn
                    FROM embeddings e, cent c) WHERE rn = 1),
                q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 8),
                probes AS (SELECT qid, cid AS cell FROM (
                    SELECT q.qid, c.cid,
                           row_number() OVER (PARTITION BY q.qid
                             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC) AS rn
                    FROM q, cent c) WHERE rn <= 2),
                s AS (SELECT q.qid, e.vec_id AS nid,
                             list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
                      FROM q JOIN probes p ON p.qid = q.qid
                           JOIN cells ce ON ce.cell = p.cell
                           JOIN embeddings e ON e.vec_id = ce.vec_id
                      WHERE e.vec_id <> q.qid),
                r AS (SELECT qid, nid, cos,
                             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
                      FROM s)
           SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
           FROM r WHERE rank <= 3""",

      // IVF after one Lloyd iteration: the subsample codebook is refined
      // by per-(cell, dimension) means of its assignees (empty cells —
      // impossible here, every centroid is its own member — would keep
      // the old value), then cells/probes recompute over the refined
      // codebook exactly as ann_ivf_topk does over the raw one
      "ann_ivf_refined" ->
        """WITH cent0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                          FROM embeddings WHERE vec_id % 61 = 0),
                asg AS (SELECT vec_id, cid AS cell FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
                                      c.cid ASC) AS rn
                    FROM embeddings e, cent0 c) WHERE rn = 1),
                m AS (SELECT a.cell AS cid, t.p, avg((e.embedding::DOUBLE[])[t.p]) AS mv
                      FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id,
                           generate_series(1, 64) AS t(p)
                      GROUP BY 1, 2),
                cent AS (SELECT cid, list(mv ORDER BY p) AS cv FROM m GROUP BY cid),
                cells AS (SELECT vec_id, cid AS cell FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
                                      c.cid ASC) AS rn
                    FROM embeddings e, cent c) WHERE rn = 1),
                q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 8),
                probes AS (SELECT qid, cid AS cell FROM (
                    SELECT q.qid, c.cid,
                           row_number() OVER (PARTITION BY q.qid
                             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC) AS rn
                    FROM q, cent c) WHERE rn <= 2),
                s AS (SELECT q.qid, e.vec_id AS nid,
                             list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
                      FROM q JOIN probes p ON p.qid = q.qid
                           JOIN cells ce ON ce.cell = p.cell
                           JOIN embeddings e ON e.vec_id = ce.vec_id
                      WHERE e.vec_id <> q.qid),
                r AS (SELECT qid, nid, cos,
                             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
                      FROM s)
           SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
           FROM r WHERE rank <= 3""",

      // PQ: nearest codeword per (vector, subspace) by L2 over the 8-dim
      // slice (ties to the lowest codeword index, the engine's argmin
      // rule); score = inner product against the reconstruction, which
      // is summation-order-identical to the engine's PqAdc
      "ann_pq_topk" ->
        """WITH cw AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                              embedding::DOUBLE[] AS cv
                       FROM embeddings WHERE vec_id % 61 = 0),
                e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                d AS (SELECT e.vec_id, t.s, cw.cid,
                             list_sum(list_transform(generate_series(1, 8),
                               j -> (v[t.s*8+j] - cv[t.s*8+j]) * (v[t.s*8+j] - cv[t.s*8+j]))) AS dist
                      FROM e, generate_series(0, 7) AS t(s), cw),
                code AS (SELECT vec_id, s, cid FROM (
                      SELECT vec_id, s, cid,
                             row_number() OVER (PARTITION BY vec_id, s
                               ORDER BY dist ASC, cid ASC) AS rn FROM d) WHERE rn = 1),
                recon AS (SELECT c.vec_id,
                                 flatten(list(cw.cv[c.s*8+1 : c.s*8+8] ORDER BY c.s)) AS rv
                          FROM code c JOIN cw ON cw.cid = c.cid
                          GROUP BY c.vec_id),
                q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 8),
                sc AS (SELECT q.qid, r.vec_id AS nid, list_inner_product(q.qv, r.rv) AS s
                       FROM q, recon r WHERE r.vec_id <> q.qid),
                rk AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY s DESC, nid ASC) AS rank FROM sc)
           SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
           FROM rk WHERE rank <= 3""",

      // the ann_pq CTEs fetch a 12-candidate ADC shortlist; the refine
      // stage re-ranks ONLY those by exact cosine over the raw vectors
      "ann_pq_refined" ->
        """WITH cw AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                              embedding::DOUBLE[] AS cv
                       FROM embeddings WHERE vec_id % 61 = 0),
                e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                d AS (SELECT e.vec_id, t.s, cw.cid,
                             list_sum(list_transform(generate_series(1, 8),
                               j -> (v[t.s*8+j] - cv[t.s*8+j]) * (v[t.s*8+j] - cv[t.s*8+j]))) AS dist
                      FROM e, generate_series(0, 7) AS t(s), cw),
                code AS (SELECT vec_id, s, cid FROM (
                      SELECT vec_id, s, cid,
                             row_number() OVER (PARTITION BY vec_id, s
                               ORDER BY dist ASC, cid ASC) AS rn FROM d) WHERE rn = 1),
                recon AS (SELECT c.vec_id,
                                 flatten(list(cw.cv[c.s*8+1 : c.s*8+8] ORDER BY c.s)) AS rv
                          FROM code c JOIN cw ON cw.cid = c.cid
                          GROUP BY c.vec_id),
                q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 8),
                sc AS (SELECT q.qid, r.vec_id AS nid, list_inner_product(q.qv, r.rv) AS s
                       FROM q, recon r WHERE r.vec_id <> q.qid),
                rk AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY s DESC, nid ASC) AS rank FROM sc),
                short AS (SELECT qid, nid FROM rk WHERE rank <= 12),
                ex AS (SELECT sh.qid, sh.nid,
                              list_cosine_similarity(q.qv, e.v) AS cos
                       FROM short sh JOIN q ON q.qid = sh.qid
                                     JOIN e ON e.vec_id = sh.nid),
                rr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cos DESC, nid ASC) AS rank FROM ex)
           SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
           FROM rr WHERE rank <= 3""",

      // IVF cells/probes (cosine, ties to lowest cid — the ann_ivf rule)
      // composed with the PQ encode/reconstruct CTEs (the ann_pq rule)
      "ann_ivfpq_topk" ->
        """WITH cent AS (SELECT vec_id AS ccid, embedding::DOUBLE[] AS ccv
                         FROM embeddings WHERE vec_id % 61 = 0),
                cells AS (SELECT vec_id, ccid AS cell FROM (
                      SELECT e.vec_id, c.ccid,
                             row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ccv) DESC,
                                        c.ccid ASC) AS rn
                      FROM embeddings e, cent c) WHERE rn = 1),
                q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 8),
                probes AS (SELECT qid, ccid AS cell FROM (
                      SELECT q.qid, c.ccid,
                             row_number() OVER (PARTITION BY q.qid
                               ORDER BY list_cosine_similarity(q.qv, c.ccv) DESC, c.ccid ASC) AS rn
                      FROM q, cent c) WHERE rn <= 2),
                cw AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                              embedding::DOUBLE[] AS cv
                       FROM embeddings WHERE vec_id % 61 = 0),
                e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                d AS (SELECT e.vec_id, t.s, cw.cid,
                             list_sum(list_transform(generate_series(1, 8),
                               j -> (v[t.s*8+j] - cv[t.s*8+j]) * (v[t.s*8+j] - cv[t.s*8+j]))) AS dist
                      FROM e, generate_series(0, 7) AS t(s), cw),
                code AS (SELECT vec_id, s, cid FROM (
                      SELECT vec_id, s, cid,
                             row_number() OVER (PARTITION BY vec_id, s
                               ORDER BY dist ASC, cid ASC) AS rn FROM d) WHERE rn = 1),
                recon AS (SELECT c.vec_id,
                                 flatten(list(cw.cv[c.s*8+1 : c.s*8+8] ORDER BY c.s)) AS rv
                          FROM code c JOIN cw ON cw.cid = c.cid
                          GROUP BY c.vec_id),
                sc AS (SELECT q.qid, r.vec_id AS nid, list_inner_product(q.qv, r.rv) AS s
                       FROM q JOIN probes p ON p.qid = q.qid
                            JOIN cells ce ON ce.cell = p.cell
                            JOIN recon r ON r.vec_id = ce.vec_id
                       WHERE r.vec_id <> q.qid),
                rk AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY s DESC, nid ASC) AS rank FROM sc)
           SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
           FROM rk WHERE rank <= 3""",

      "val_stats_agg" ->
        s"""WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  list_transform($wordsSql, w -> CAST(length(w) AS INT)) AS tokens,
                  CAST(len($wordsSql) AS INT) AS n_tok
                  FROM documents),
                s AS (SELECT count(*) AS n,
                  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_nulls,
                  CAST(sum(CASE WHEN tokens IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tokens_nulls,
                  CAST(min(n_tok) AS BIGINT) AS n_tok_min,
                  CAST(max(n_tok) AS BIGINT) AS n_tok_max,
                  CAST(min(list_min(tokens)) AS BIGINT) AS token_min,
                  CAST(max(list_max(tokens)) AS BIGINT) AS token_max
                  FROM t),
                h AS (SELECT gs.bucket, COALESCE(c.cnt, CAST(0 AS BIGINT)) AS bucket_n
                  FROM (SELECT UNNEST(generate_series(0, 15)) AS bucket) gs
                  LEFT JOIN (SELECT LEAST(GREATEST(CAST(floor(n_tok / 8.0) AS BIGINT), 0), 15) AS bucket,
                             count(*) AS cnt
                             FROM t WHERE n_tok IS NOT NULL GROUP BY 1) c USING (bucket))
           SELECT s.*, CAST(h.bucket AS BIGINT) AS bucket, h.bucket_n FROM s, h""",

      "ann_lsh_hist" ->
        s"""SELECT bucket, count(*) AS n FROM
            (SELECT ${lshBucketSql("embedding")} AS bucket FROM embeddings)
            GROUP BY bucket""",

      "mm_meta" ->
        """SELECT doc_id AS key, CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(h % 624 + 16 AS INT) AS width,
           CAST((h // 624) % 464 + 16 AS INT) AS height,
           CASE WHEN h % 3 = 0 THEN 'png' WHEN h % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format
           FROM (SELECT doc_id, text,
                 ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM documents)""",

      "mm_frames" ->
        """SELECT doc_id AS key, CAST(i AS INT) AS frame_idx,
           CAST(floor(i * strlen(text) / 4.0) AS BIGINT) AS byte_offset
           FROM documents, unnest(generate_series(0, 3)) AS t(i)""",

      "q1_pricing" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
           CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c
           FROM lineitem GROUP BY 1, 2""",

      "q3_top_orders" ->
        """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2 ORDER BY revenue_c DESC, o_orderkey ASC LIMIT 10""",

      "q_window_first_ship" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber FROM
           (SELECT l_suppkey, l_orderkey, l_linenumber,
                   row_number() OVER (PARTITION BY l_suppkey
                     ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC) AS rn
            FROM lineitem) WHERE rn = 1""",

      "q_events_daily" ->
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
           FROM events GROUP BY 1, 2"""
    )
  }
}
