package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Validation engine — mirrors reference tests/test_validators.py: F1
  * canonical Product errors (pydantic.py:706-713), F2 bounds
  * (test_validators.py:363-405), F3 custom+aggregate constraints
  * (:468-505), F4 list nullability (:565-598), uniqueness (:234),
  * enum (:294).
  */
class ValidatorSpec extends SparkSpec {

  private def errs(df: org.apache.spark.sql.DataFrame, m: Schema): Seq[ErrorDetail] =
    Validator.findErrors(df, m)

  test("F1: canonical Product — exactly 3 errors") {
    val m = Schema("Product", Seq(
      FieldSpec.long("product_id").copy(unique = true),
      FieldSpec.enum("temperature_zone", Seq("dry", "cold", "frozen")),
      FieldSpec.bool("is_for_sale")))
    val df = frame(
      struct("product_id" -> LongType, "temperature_zone" -> StringType),
      Row(1L, "dry"), Row(1L, "dry"), Row(3L, "oven"))
    val es = errs(df, m)
    assert(es.size == 3)
    assert(es.contains(ErrorDetail("is_for_sale", "Missing column", ErrorTypes.MissingColumns)))
    assert(es.contains(ErrorDetail("temperature_zone",
      "Rows with invalid values: {'oven'}.", ErrorTypes.RowValue)))
    assert(es.contains(ErrorDetail("product_id",
      "2 rows with duplicated values.", ErrorTypes.RowValue)))
  }

  test("F2: each bound violation yields exactly one error on that column") {
    def m(f: FieldSpec) = Schema("B", Seq(f.copy(nullable = true)))
    def one(f: FieldSpec, v: Any, expectFail: Boolean): Unit = {
      val dt = f.dataType
      val df = frame(struct(f.name -> dt), Row(v))
      val es = errs(df, m(f))
      if (expectFail) {
        assert(es == Seq(ErrorDetail(f.name,
          "1 row with out of bound values.", ErrorTypes.RowValue)), s"$f $v")
      } else assert(es.isEmpty, s"$f $v -> $es")
    }
    one(FieldSpec.double("le").copy(bounds = Bounds(le = Some(42.5))), 42.5, false)
    one(FieldSpec.double("le").copy(bounds = Bounds(le = Some(42.5))), 42.6, true)
    one(FieldSpec.double("lt").copy(bounds = Bounds(lt = Some(42.5))), 42.4, false)
    one(FieldSpec.double("lt").copy(bounds = Bounds(lt = Some(42.5))), 42.5, true)
    one(FieldSpec.double("ge").copy(bounds = Bounds(ge = Some(42.5))), 42.5, false)
    one(FieldSpec.double("ge").copy(bounds = Bounds(ge = Some(42.5))), 42.4, true)
    one(FieldSpec.double("gt").copy(bounds = Bounds(gt = Some(42.5))), 42.6, false)
    one(FieldSpec.double("gt").copy(bounds = Bounds(gt = Some(42.5))), 42.5, true)
    one(FieldSpec.double("mul").copy(bounds = Bounds(multipleOf = Some(0.5))), 19.5, false)
    one(FieldSpec.double("mul").copy(bounds = Bounds(multipleOf = Some(0.5))), 0.0, false)
    one(FieldSpec.double("mul").copy(bounds = Bounds(multipleOf = Some(0.5))), 19.3, true)
    one(FieldSpec.double("c").copy(bounds = Bounds(const = Some(3.1415))), 3.1415, false)
    one(FieldSpec.double("c").copy(bounds = Bounds(const = Some(3.1415))), 3.0, true)
    one(FieldSpec.string("re").copy(pattern = Some("value [A-Z]")), "value X", false)
    one(FieldSpec.string("re").copy(pattern = Some("value [A-Z]")), "value x", true)
    one(FieldSpec.string("mn").copy(minLength = Some(2)), "ab", false)
    one(FieldSpec.string("mn").copy(minLength = Some(2)), "a", true)
    one(FieldSpec.string("mx").copy(maxLength = Some(2)), "ab", false)
    one(FieldSpec.string("mx").copy(maxLength = Some(2)), "abc", true)
  }

  test("F3: custom row constraints + `_` placeholder") {
    val m = Schema("C", Seq(
      FieldSpec.long("even_int").copy(constraints = Seq(col("even_int") % 2 === 0)),
      FieldSpec.long("odd_int").copy(constraints = Seq(col("_") % 2 === 1))))
    val df = frame(struct("even_int" -> LongType, "odd_int" -> LongType),
      Row(2L, 1L), Row(3L, 2L))
    val es = errs(df, m)
    assert(es == Seq(
      ErrorDetail("even_int", "1 row does not match custom constraints.", ErrorTypes.RowValue),
      ErrorDetail("odd_int", "1 row does not match custom constraints.", ErrorTypes.RowValue)))
  }

  test("F3: aggregate constraint broadcasts the scalar (sum == 1)") {
    val m = Schema("Pizza", Seq(
      FieldSpec.double("fraction").copy(constraints = Seq(sum(col("fraction")) === 1.0))))
    val ok = frame(struct("fraction" -> DoubleType), Row(0.25), Row(0.75))
    val bad = frame(struct("fraction" -> DoubleType), Row(0.25), Row(0.25))
    assert(errs(ok, m).isEmpty)
    assert(errs(bad, m) == Seq(ErrorDetail("fraction",
      "2 rows does not match custom constraints.", ErrorTypes.RowValue)))
  }

  test("F4: nulls inside list columns are counted without explode") {
    val m = Schema("L", Seq(
      FieldSpec("int_list", ArrayType(LongType, containsNull = false)),
      FieldSpec("int_or_null_list", ArrayType(LongType, containsNull = true))))
    val df = frame(
      struct(
        "int_list" -> ArrayType(LongType, containsNull = true),
        "int_or_null_list" -> ArrayType(LongType, containsNull = true)),
      Row(Seq(1L, 2L), Seq(1L, null)),
      Row(Seq(3L, null), Seq(null, null)))
    val es = errs(df, m)
    // one inner null in int_list is a violation; int_or_null_list allows them
    assert(es == Seq(ErrorDetail("int_list",
      "1 missing value in list.", ErrorTypes.MissingValues)))
  }

  test("nulls in non-nullable columns + superfluous + dtype mismatch") {
    val m = Schema("N", Seq(FieldSpec.long("x")))
    val withNull = frame(struct("x" -> LongType), Row(1L), Row(null))
    assert(errs(withNull, m) == Seq(
      ErrorDetail("x", "1 missing value", ErrorTypes.MissingValues)))

    val extra = frame(struct("x" -> LongType, "y" -> LongType), Row(1L, 2L))
    assert(errs(extra, m) == Seq(
      ErrorDetail("y", "Superfluous column", ErrorTypes.SuperfluousColumns)))

    val wrongType = frame(struct("x" -> StringType), Row("a"))
    val es = errs(wrongType, m)
    assert(es.size == 1 && es.head.errType == ErrorTypes.ColumnDType)
  }

  test("widened int family accepted without error") {
    val m = Schema("W", Seq(FieldSpec.long("x")))
    val intDf = frame(struct("x" -> IntegerType), Row(1))
    assert(errs(intDf, m).isEmpty)
  }

  test("validate throws one aggregated ValidationError") {
    val m = Schema("V", Seq(FieldSpec.long("x")))
    val df = frame(struct("x" -> LongType), Row(null), Row(null))
    val e = intercept[ValidationError](Validator.validate(df, m))
    assert(e.errors == Seq(ErrorDetail("x", "2 missing values", ErrorTypes.MissingValues)))
    assert(e.getMessage.contains("1 validation error for V"))
  }

  test("reportDF emits one row per (column, check)") {
    val m = Schema("R", Seq(
      FieldSpec.long("x"),
      FieldSpec.double("y", nullable = true).copy(bounds = Bounds(ge = Some(0)))))
    val df = frame(struct("x" -> LongType, "y" -> DoubleType),
      Row(1L, -1.0), Row(null, 2.0))
    val rows = Validator.reportDF(df, m).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("x", "nulls", 1L), ("y", "bounds", 1L)))
  }

  test("uniqueReportDF counts every member of a duplicated group, 0 rows kept") {
    val m = Schema("U", Seq(
      FieldSpec.long("a").copy(unique = true),
      FieldSpec.string("b").copy(unique = true),
      FieldSpec.long("c"), // not unique — must not appear
      FieldSpec.long("d").copy(unique = true))) // no dups — reports 0
    val df = frame(
      struct("a" -> LongType, "b" -> StringType, "c" -> LongType, "d" -> LongType),
      Row(1L, "x", 9L, 1L), Row(1L, "y", 9L, 2L),
      Row(1L, "z", 9L, 3L), Row(2L, "z", 9L, 4L))
    val rows = Validator.uniqueReportDF(df, m).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // a: three 1s -> 3 duplicated rows; b: two z's -> 2; is_duplicated().sum()
    assert(rows == Seq(("a", "unique", 3L), ("b", "unique", 2L), ("d", "unique", 0L)))
    // findErrors' V7 agrees with the lazy report
    val es = errs(df.select(org.apache.spark.sql.functions.col("a")),
      Schema("U2", Seq(FieldSpec.long("a").copy(unique = true))))
    assert(es == Seq(ErrorDetail("a", "3 rows with duplicated values.", ErrorTypes.RowValue)))
  }

  test("fullReportDF unions the aggregate and uniqueness reports in one shape") {
    val m = Schema("F", Seq(
      FieldSpec.long("x").copy(unique = true),
      FieldSpec.double("y", nullable = true).copy(bounds = Bounds(ge = Some(0)))))
    val df = frame(struct("x" -> LongType, "y" -> DoubleType),
      Row(1L, -1.0), Row(1L, 2.0), Row(2L, 3.0))
    val rows = Validator.fullReportDF(df, m).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("x", "nulls", 0L), ("x", "unique", 2L), ("y", "bounds", 1L)))
    // uniqueness-only schema still reports (no aggregate side)
    val um = Schema("F2", Seq(FieldSpec.long("x", nullable = true).copy(unique = true)))
    val uRows = Validator.fullReportDF(df.select("x"), um).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(uRows == Seq(("x", "unique", 2L)))
    intercept[IllegalArgumentException](
      Validator.fullReportDF(df, Schema("F3", Seq(FieldSpec.long("z", nullable = true)))))
  }

  test("fullReportDF runs the aggregate-constraint pre-pass once") {
    val m = Schema("Pizza", Seq(
      FieldSpec.double("fraction").copy(constraints = Seq(sum(col("_")) === 1.0))))
    val df = frame(struct("fraction" -> DoubleType), Row(0.25), Row(0.25))
    // building the report runs only the scalar aggregate that inlines
    // sum(_) — under AQE that one query is its shuffle-map job plus its
    // result job, so the pin compares with one pre-pass, not a literal
    val (_, prePass) = graft.JobCount.of(spark)(Validator.checkAggs(df, m, streamSafe = false))
    val (report, jobs) = graft.JobCount.of(spark)(Validator.fullReportDF(df, m))
    assert(prePass >= 1 && jobs == prePass,
      s"fullReportDF construction launched $jobs jobs; one pre-pass is $prePass")
    assert(report.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("fraction", "constraint", 2L), ("fraction", "nulls", 0L)))
  }

  test("V4: validRows, invalidRows, validate and reportDF share the inner-null check") {
    val m = Schema("L", Seq(FieldSpec("xs", ArrayType(LongType, containsNull = false))))
    val df = frame(struct("xs" -> ArrayType(LongType, containsNull = true)),
      Row(Seq(1L, 2L)), Row(Seq(1L, null)))
    def lists(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.getSeq[Any](0)).toSeq
    val valid = graft.streaming.StreamingOps.validRows(df, m)
    assert(lists(valid) == Seq(Seq(1L, 2L)))
    assert(lists(graft.streaming.StreamingOps.invalidRows(df, m)) == Seq(Seq(1L, null)))
    Validator.validate(valid, m) // a row validRows keeps must pass validation
    val rows = Validator.reportDF(df, m).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("xs", "inner_nulls", 1L), ("xs", "nulls", 0L)))
  }

  test("uniqueReportDF compares native values, not string renderings") {
    // ["a, b"] and ["a", "b"] both render as "[a, b]" under a string cast —
    // a lossy rendering must not conflate distinct values (the reference's
    // is_duplicated() compares natives, validators.py:223-232)
    val m = Schema("U3", Seq(
      FieldSpec("v", ArrayType(StringType), nullable = true, unique = true)))
    val df = frame(struct("v" -> ArrayType(StringType)),
      Row(Seq("a, b")), Row(Seq("a", "b")), Row(Seq("a", "b")))
    val rows = Validator.uniqueReportDF(df, m).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("v", "unique", 2L)))
  }

  test("findErrors V7 shares the native-value grouping (binary columns)") {
    // 0xFF and 0xFE are both invalid UTF-8: a string cast renders each as
    // the replacement char, so the old string-keyed V7 would report a fake
    // duplicate pair. Native grouping must see two distinct values.
    val m = Schema("U4", Seq(
      FieldSpec("b", BinaryType, nullable = true, unique = true)))
    val distinct = frame(struct("b" -> BinaryType),
      Row(Array(0xFF.toByte)), Row(Array(0xFE.toByte)))
    assert(errs(distinct, m).isEmpty)
    // and real duplicates are still caught byte-for-byte
    val duped = frame(struct("b" -> BinaryType),
      Row(Array(0xFF.toByte)), Row(Array(0xFF.toByte)))
    assert(errs(duped, m) ==
      Seq(ErrorDetail("b", "2 rows with duplicated values.", ErrorTypes.RowValue)))
  }

  test("V7 falls back to string rendering for non-groupable map columns") {
    // maps are not groupable in Spark; the string-cast fallback keeps the
    // check running instead of failing analysis
    val m = Schema("U5", Seq(
      FieldSpec("kv", MapType(StringType, LongType), nullable = true, unique = true)))
    val df = frame(struct("kv" -> MapType(StringType, LongType)),
      Row(Map("a" -> 1L)), Row(Map("a" -> 1L)), Row(Map("b" -> 2L)))
    assert(errs(df, m) ==
      Seq(ErrorDetail("kv", "2 rows with duplicated values.", ErrorTypes.RowValue)))
    val rows = Validator.uniqueReportDF(df, m).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("kv", "unique", 2L)))
  }
}
