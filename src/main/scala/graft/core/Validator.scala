package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Validation engine: checks a DataFrame against a [[Schema]] and aggregates
  * every violation into one [[ValidationError]].
  *
  * Semantics mirror the reference's `patito.validators.validate`
  * (src/patito/validators.py:94-318) — checks V1–V9 per SURVEY §2.8 — but the
  * execution plan is Spark-first and scale-first: where the reference runs one
  * mini-query per check per column, this engine compiles
  *
  *   - V1/V2/V5 (column-set and dtype checks) driver-side from `df.schema`;
  *   - V3 (nulls), V4 (nulls inside arrays), V6 (enum domain), V8 (bounds /
  *     pattern / length) and row-level V9 constraints into ONE global
  *     aggregate job — a single scan, no shuffle;
  *   - aggregate-valued V9 constraints (e.g. `sum(col) === 1`) into one extra
  *     scalar-aggregate job whose results are substituted as literals, instead
  *     of a single-partition global window (SURVEY §7 hard-part 3);
  *   - V7 (uniqueness) into one shuffle job over all unique columns at once,
  *     keyed by (column, value) so map-side partial aggregation applies.
  *
  * At 100 TB that is 1 scan + at most 2 extra jobs, independent of the number
  * of columns/constraints.
  */
object Validator {

  /** Max distinct out-of-domain enum values reported per column — the
    * violation SET is driver-collected for the error message, and an
    * entirely-miscast column would otherwise ship every distinct value.
    */
  val EnumReportCap = 100

  /** Validate and throw a single aggregated [[ValidationError]] on failure. */
  def validate(df: DataFrame, schema: Schema): Unit = {
    val errs = findErrors(df, schema)
    if (errs.nonEmpty) throw new ValidationError(errs, schema.name)
  }

  def isValid(df: DataFrame, schema: Schema): Boolean =
    findErrors(df, schema).isEmpty

  private def plural(n: Long, word: String): String =
    s"$n $word${if (n == 1) "" else "s"}"

  /** All violations, pydantic-error-shaped, in schema-field order. */
  def findErrors(df: DataFrame, schema: Schema): Seq[ErrorDetail] = {
    val errors = Seq.newBuilder[ErrorDetail]
    val dfTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap

    // V1 — missing columns (driver-side set diff).
    val missing = schema.columns.filterNot(dfTypes.contains)
    missing.foreach { c =>
      errors += ErrorDetail(c, "Missing column", ErrorTypes.MissingColumns)
    }

    // V2 — superfluous columns.
    df.columns.filterNot(schema.contains).foreach { c =>
      errors += ErrorDetail(c, "Superfluous column", ErrorTypes.SuperfluousColumns)
    }

    // V5 — dtype membership in the valid-type set.
    val present = schema.fields.filter(f => dfTypes.contains(f.name))
    present.foreach { f =>
      val actual = dfTypes(f.name)
      if (!typeAccepted(actual, f.validTypes))
        errors += ErrorDetail(
          f.name,
          s"Column dtype ${actual.simpleString} does not match model field type " +
            s"${f.dataType.simpleString}.",
          ErrorTypes.ColumnDType)
    }
    // ---- single-pass aggregate plan over the row checks -----------------
    // aggregate-valued constraints inline in ONE extra scalar job first
    val plan = rowChecks(df, schema, inlineAggregates = true)
    if (plan.nonEmpty) {
      val named = plan.zipWithIndex.map { case (c, i) => sum(c.count).as(s"_v$i") }
      val row: Row = df.agg(named.head, named.tail: _*).head()
      plan.zipWithIndex.foreach { case (RowCheck(f, kind, violated, _), i) =>
        val n = if (row.isNullAt(i)) 0L else row.getLong(i)
        if (n > 0) errors += (kind match {
          case "enum" =>
            // error path only: fetch the ≤EnumReportCap smallest distinct
            // offenders in a second, bounded query — the single-pass agg
            // carries just the count
            val bad = df.where(violated)
              .select(col(f.name).cast(StringType).as("v")).distinct()
              .orderBy(col("v")).limit(EnumReportCap)
              .collect().map(_.getString(0)).toSeq
            ErrorDetail(f.name,
              s"Rows with invalid values: {${bad.map(v => s"'$v'").mkString(", ")}}.",
              ErrorTypes.RowValue)
          case "nulls" =>
            ErrorDetail(f.name, plural(n, "missing value"), ErrorTypes.MissingValues)
          case "inner_nulls" =>
            ErrorDetail(f.name, s"${plural(n, "missing value")} in list.",
              ErrorTypes.MissingValues)
          case "bounds" =>
            ErrorDetail(f.name, s"${plural(n, "row")} with out of bound values.",
              ErrorTypes.RowValue)
          case _ =>
            ErrorDetail(f.name, s"${plural(n, "row")} does not match custom constraints.",
              ErrorTypes.RowValue)
        })
      }
    }

    // V7 — uniqueness: one shuffle over ALL unique columns at once via the
    // same native-value pair builder as [[uniqueReportDF]] (a lossy string
    // rendering must not conflate distinct binary/decimal values in one
    // path and not the other).
    val uniqueCols = checkable(df, schema).filter(_.unique).map(_.name)
    if (uniqueCols.nonEmpty && df.columns.nonEmpty) {
      val dupCounts = uniqueDupCounts(df, uniqueCols)
        .collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      uniqueCols.foreach { c =>
        dupCounts.get(c).foreach { n =>
          errors += ErrorDetail(
            c, s"${plural(n, "row")} with duplicated values.", ErrorTypes.RowValue)
        }
      }
    }

    // Order errors by schema-field position, driver-side checks first.
    errors.result()
  }

  /** Long-format violation-count report as a lazy DataFrame — one row per
    * (column, check) with the count of violating rows. Unlike [[findErrors]]
    * this never collects: the single-pass aggregate row is pivoted to rows
    * with `stack`, so it composes into downstream plans and Verify dumps.
    * Covers nulls / bounds / enum-domain / row-level constraints (uniqueness
    * needs a shuffle and is reported by [[findErrors]] instead).
    */
  def reportDF(df: DataFrame, schema: Schema): DataFrame = {
    val all = checkAggs(df, schema, streamSafe = false)
    require(all.nonEmpty, "reportDF: schema declares no aggregate-checkable constraints")
    report(df, all)
  }

  private def report(df: DataFrame, all: Seq[(String, String, Column)]): DataFrame = {
    val named = all.zipWithIndex.map { case ((_, _, a), i) =>
      coalesce(a, lit(0L)).as(s"_v$i")
    }
    val agg = df.agg(named.head, named.tail: _*)
    def q(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val triples = all.zipWithIndex
      .map { case ((loc, chk, _), i) => s"${q(loc)}, ${q(chk)}, _v$i" }
      .mkString(", ")
    agg.selectExpr(s"stack(${all.size}, $triples) as (loc, chk, n)")
      .orderBy(col("loc"), col("chk"))
  }

  /** V7 uniqueness as a lazy report — the composable counterpart of
    * [[findErrors]]' V7 pass, same `(loc, chk, n)` shape as [[reportDF]].
    * One shuffle over ALL unique columns at once (rows re-keyed to
    * (column, value) pairs, partial map-side aggregation), counting every
    * member of a >1 group — the reference's `is_duplicated().sum()`
    * semantics (validators.py:223-232). Columns with no duplicates report
    * n = 0 via a broadcast join with the literal column list, so the
    * output has exactly one row per unique column regardless of data.
    */
  def uniqueReportDF(df: DataFrame, schema: Schema): DataFrame = {
    val uniqueCols = schema.fields.filter(_.unique).map(_.name)
      .filter(df.columns.contains)
    require(uniqueCols.nonEmpty,
      "uniqueReportDF: schema declares no unique columns present in the frame")
    val spark = df.sparkSession
    import spark.implicits._
    val dups = uniqueDupCounts(df, uniqueCols)
    uniqueCols.toDF("loc")
      .join(broadcast(dups), Seq("loc"), "left")
      .select(col("loc"), lit("unique").as("chk"),
        coalesce(col("dups"), lit(0L)).as("n"))
      .orderBy(col("loc"))
  }

  /** Combined pipeline health-check: [[reportDF]] ∪ [[uniqueReportDF]] in
    * one `(loc, chk, n)` frame — the single call a scheduled data-quality
    * job makes against a table. Each side is included only when the schema
    * declares constraints of that kind (aggregate-checkable vs unique);
    * at least one must exist. Cost stays the documented floor: one
    * aggregate scan, plus one shuffle iff unique columns exist.
    */
  def fullReportDF(df: DataFrame, schema: Schema): DataFrame = {
    // built once: an aggregate-valued constraint costs its scalar job here
    val checks = checkAggs(df, schema, streamSafe = false)
    val hasUnique = schema.fields.exists(f =>
      f.unique && df.columns.contains(f.name))
    require(checks.nonEmpty || hasUnique,
      "fullReportDF: schema declares no checkable constraints")
    val parts =
      (if (checks.nonEmpty) Seq(report(df, checks)) else Nil) ++
      (if (hasUnique) Seq(uniqueReportDF(df, schema)) else Nil)
    parts.reduce(_ unionByName _).orderBy(col("loc"), col("chk"))
  }

  /** Shared V7 kernel: per-column duplicated-row counts `(loc, dups)` for
    * all unique columns in ONE shuffle, used by both [[findErrors]] and
    * [[uniqueReportDF]].
    *
    * Groups on NATIVE values, not string renderings (a lossy/ambiguous
    * string form — binary, high-precision decimals — must not conflate
    * distinct values; the reference's is_duplicated() compares natives,
    * validators.py:223-232). Each exploded element carries the value in a
    * sparse struct with one field per unique column: only the field for
    * its own column is populated, so grouping on (c, v) compares values
    * of the same column under their own type, and the all-but-one nulls
    * cost nothing in the shuffle. Map-bearing types are the exception —
    * maps are not groupable in Spark, so those columns fall back to the
    * string rendering (documented lossiness beats an analysis error).
    * Counts every member of a >1 group, matching `is_duplicated().sum()`.
    */
  private def uniqueDupCounts(df: DataFrame, uniqueCols: Seq[String]): DataFrame = {
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType    => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType  => hasMap(a.elementType)
      case _             => false
    }
    def slot(u: String): Column = {
      val dt = df.schema(u).dataType
      if (hasMap(dt)) col(u).cast(StringType) else col(u)
    }
    def nullSlot(u: String): Column = {
      val dt = df.schema(u).dataType
      lit(null).cast(if (hasMap(dt)) StringType else dt)
    }
    val pairs = df.select(
      explode(array(uniqueCols.map(c =>
        struct(
          lit(c).as("c"),
          struct(uniqueCols.map { u =>
            (if (u == c) slot(u) else nullSlot(u)).as(u)
          }: _*).as("v"))): _*)).as("p"))
    pairs
      .groupBy(col("p.c").as("loc"), col("p.v"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .groupBy(col("loc")).agg(sum(col("cnt")).as("dups"))
  }

  /** One row-level check of a field: `violated` flags a failing row and
    * `count` is what the validation aggregate sums for the row — the flag
    * as 0/1, or V4's number of nulls inside the array cell.
    */
  private case class RowCheck(field: FieldSpec, kind: String, violated: Column, count: Column)

  private def flag(f: FieldSpec, kind: String, violated: Column): RowCheck =
    RowCheck(f, kind, violated, when(violated, 1L).otherwise(0L))

  /** Fields whose column is present with an accepted dtype — data checks
    * only make sense on these (a mismatch is V5's error instead).
    */
  private def checkable(df: DataFrame, schema: Schema): Seq[FieldSpec] = {
    val dfTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    schema.fields.filter(f => dfTypes.get(f.name).exists(typeAccepted(_, f.validTypes)))
  }

  /** THE row-level check list: V3 (nulls), V4 (nulls inside arrays), V6
    * (enum domain), V8 (bounds / pattern / length) per checkable field in
    * schema order, then every field's V9 constraints. [[findErrors]],
    * [[checkAggs]] and [[graft.streaming.StreamingOps.validRows]] all read
    * it. Aggregate-valued constraints are inlined as literals by ONE
    * scalar job ([[inlineAggregatesBatch]]) when `inlineAggregates`, and
    * skipped otherwise (a stream cannot run that job).
    */
  private def rowChecks(
      df: DataFrame, schema: Schema, inlineAggregates: Boolean): Seq[RowCheck] = {
    val fields = checkable(df, schema)
    val perField = fields.flatMap { f =>
      val c = col(f.name)
      val innerNullsBanned = (df.schema(f.name).dataType, f.dataType) match {
        case (ArrayType(_, _), ArrayType(_, containsNull)) => !containsNull
        case _                                           => false
      }
      // the enum check only counts in the single pass: a collect_set would
      // hold EVERY out-of-domain distinct value in one non-spillable
      // aggregation buffer; findErrors fetches capped examples on error
      (if (f.nullable) None else Some(flag(f, "nulls", c.isNull))) ++
        // nulls *inside* array cells, without explode (higher-order fn)
        (if (innerNullsBanned) Some(RowCheck(f, "inner_nulls",
          coalesce(exists(c, _.isNull), lit(false)),
          coalesce(size(filter(c, x => x.isNull)), lit(0)).cast(LongType)))
        else None) ++
        f.enumValues.map(vals => flag(f, "enum", c.isNotNull && !c.isin(vals: _*))) ++
        boundsViolation(f).map(flag(f, "bounds", _))
    }
    val constraints = fields.flatMap(f =>
      f.constraints.map(raw => f -> bindPlaceholder(raw, f.name)))
      .filter { case (_, bound) => inlineAggregates || !hasAggregate(bound) }
    val evaluable = inlineAggregatesBatch(df, constraints.map(_._2))
    perField ++ evaluable.zip(constraints).map { case (e, (f, _)) =>
      flag(f, "constraint", !coalesce(e, lit(true)))
    }
  }

  /** Per-(column, check) violation-count aggregates of [[rowChecks]] —
    * shared by [[reportDF]], [[fullReportDF]] and streaming validation
    * ([[graft.streaming.StreamingOps.observeValidation]]).
    *
    * `streamSafe = true` drops constraints containing aggregate
    * sub-expressions: inlining them requires running a separate batch job at
    * plan time ([[inlineAggregatesBatch]]), which is impossible against an
    * unbounded stream.
    */
  private[graft] def checkAggs(
      df: DataFrame,
      schema: Schema,
      streamSafe: Boolean): Seq[(String, String, Column)] =
    rowChecks(df, schema, inlineAggregates = !streamSafe)
      .map(c => (c.field.name, c.kind, sum(c.count)))

  /** True on a row passing every row-level check of [[rowChecks]], the
    * aggregate-valued constraints skipped (they need a batch job).
    */
  private[graft] def passesRowChecks(df: DataFrame, schema: Schema): Column = {
    val checks = rowChecks(df, schema, inlineAggregates = false)
    if (checks.isEmpty) lit(true) else checks.map(!_.violated).reduce(_ && _)
  }

  private def hasAggregate(c: Column): Boolean = {
    var found = false
    def visit(x: Expression): Unit =
      if (isAggregate(x)) found = true else x.children.foreach(visit)
    visit(GraftBridge.expression(c))
    found
  }

  /** Spark has no unsigned ints (SURVEY §7 hard-part 1): acceptance is by
    * membership in the widened signed family.
    */
  private def typeAccepted(actual: DataType, valid: Seq[DataType]): Boolean =
    valid.exists {
      case ArrayType(et, _) =>
        actual match {
          case ArrayType(aet, _) => aet == et
          case _                 => false
        }
      case t => t == actual
    }

  /** V8 — one conjunction per field of every applicable bound; a row violates
    * when it is non-null and fails ANY bound (validators.py:234-267, incl. the
    * `col == 0` escape for multiple_of at :241).
    */
  private def boundsViolation(f: FieldSpec): Option[Column] = {
    val c = col(f.name)
    val conds = Seq.newBuilder[Column]
    f.bounds.gt.foreach(v => conds += (c > lit(v)))
    f.bounds.ge.foreach(v => conds += (c >= lit(v)))
    f.bounds.lt.foreach(v => conds += (c < lit(v)))
    f.bounds.le.foreach(v => conds += (c <= lit(v)))
    f.bounds.multipleOf.foreach(v => conds += (c === lit(0) || (c % lit(v) === lit(0))))
    f.bounds.const.foreach(v => conds += (c === lit(v)))
    f.pattern.foreach(p => conds += c.rlike(p))
    f.minLength.foreach(n => conds += (length(c) >= lit(n)))
    f.maxLength.foreach(n => conds += (length(c) <= lit(n)))
    val all = conds.result()
    if (all.isEmpty) None
    else Some(c.isNotNull && !all.reduce(_ && _))
  }

  /** Rewrite the reference's `_` self-column placeholder
    * (validators.py:276-280) to the actual column name.
    */
  private def bindPlaceholder(constraint: Column, name: String): Column = {
    val e = GraftBridge.expression(constraint)
    val rewritten = e.transform {
      case UnresolvedAttribute(Seq("_")) => UnresolvedAttribute(Seq(name))
    }
    GraftBridge.column(rewritten)
  }

  /** Aggregate functions that may appear (unresolved) inside a constraint. */
  private val AggNames = Set(
    "sum", "avg", "mean", "count", "min", "max", "first", "last", "stddev",
    "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
    "approx_count_distinct", "count_distinct", "collect_list", "collect_set",
    "median", "mode", "percentile", "corr", "covar_samp", "covar_pop",
    "skewness", "kurtosis", "any", "every", "bool_and", "bool_or", "some",
    "product", "count_if")

  private def isAggregate(e: Expression): Boolean = e match {
    case _: AggregateExpression               => true
    case f: UnresolvedFunction                => AggNames(f.nameParts.last.toLowerCase)
    case _                                    => false
  }

  /** Replace aggregate sub-expressions of constraints with literal scalars
    * computed in a dedicated aggregate job, so the main pass stays a plain
    * row-level scan. This implements the reference's polars broadcast
    * semantics (`pl.col("fraction").sum() == 1` compared per row,
    * validators.py:269-293 + tests/test_validators.py:495-505) without a
    * single-partition global window — the scale-safe alternative flagged in
    * SURVEY §7 hard-part 3. The aggregate sub-expressions of ALL
    * constraints are deduplicated and computed in ONE scalar-aggregate job,
    * then substituted back per constraint — N fraction-style constraints
    * cost one extra scan, not N.
    */
  private def inlineAggregatesBatch(
      df: DataFrame,
      constraints: Seq[Column]): Seq[Column] = {
    if (constraints.isEmpty) return Seq.empty
    val exprs = constraints.map(GraftBridge.expression)
    // Topmost aggregate sub-expressions only (an agg cannot nest another agg).
    val aggSubs = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def visit(x: Expression): Unit =
      if (isAggregate(x)) { if (!aggSubs.exists(_.fastEquals(x))) aggSubs += x }
      else x.children.foreach(visit)
    exprs.foreach(visit)
    if (aggSubs.isEmpty) return constraints

    val aggCols = aggSubs.toSeq.zipWithIndex.map { case (a, i) =>
      GraftBridge.column(a).as(s"_agg$i")
    }
    val row = df.agg(aggCols.head, aggCols.tail: _*).head()
    val replacements: Seq[(Expression, Expression)] =
      aggSubs.toSeq.zipWithIndex.map { case (a, i) =>
        val lit: Expression =
          try Literal(row.get(i)) // handles primitives, BigDecimal, String, …
          catch {
            case _: RuntimeException =>
              Literal.create(row.get(i), row.schema.fields(i).dataType)
          }
        a -> lit
      }
    exprs.map { e =>
      GraftBridge.column(e.transform {
        case x if replacements.exists(_._1.fastEquals(x)) =>
          replacements.find(_._1.fastEquals(x)).get._2
      })
    }
  }
}
