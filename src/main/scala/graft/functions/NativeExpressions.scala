package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with codegen) for the per-row kernels that
  * dominate the dedup/similarity operators. The same semantics exist as pure
  * `functions._` compositions (see [[graft.ops.Dedup]] /
  * [[graft.ops.Similarity]]), but Spark's higher-order functions evaluate
  * their lambdas interpretively per array element — a 64-hash MinHash
  * signature over ~50 shingles costs thousands of interpreted expression
  * evaluations per row. These expressions run the same math as a tight JVM
  * loop invoked from generated code: the per-row cost drops from
  * milliseconds to microseconds, which is the difference between hours and
  * minutes over a 100 TB corpus.
  *
  * Reference behavior: the reference has no dedup/ANN operators (SURVEY
  * §2.11) — these are the phase-2 training-data-pipeline extensions built
  * on extension point (b) of the build brief: custom Catalyst `Expression`
  * with `doGenCode`.
  *
  * Every kernel is one case class over the kernel template, [[UnaryKernel]]
  * or [[BinaryKernel]], which it hands its SQL name, the type each input
  * must have, its result type, and the static method its generated code
  * calls with the constants that follow the inputs. Input types compare
  * with array element nullability ignored. The template owns `prettyName`,
  * `dataType`, the one `"<name> requires (…), got (…)"` type-check failure
  * and a `doGenCode` of that one call; a kernel adds `nullSafeEval`, the
  * same call made on the interpreted path (`KernelCodegenSpec` runs both
  * paths of every kernel), and its `copy`. A kernel whose call needs
  * per-instance state overrides `doGenCode` and still builds the call with
  * the template's `call`: a session conf read lazily (`useICU`, which must
  * not be read at construction), reference objects, or a branch.
  */
object native {

  /** Band hashes of the MinHash signature of the `k`-token shingles of a
    * token array, as ONE fused per-row kernel: array<string> → array<bigint>
    * of length `bands`. Empty result when the document has fewer than `k`
    * tokens.
    */
  def minhashBandHashes(tokens: Column, k: Int, numHashes: Int, bands: Int): Column =
    GraftBridge.column(
      MinHashBandHashes(GraftBridge.expression(tokens), k, numHashes, bands))

  /** Cosine similarity of two float-vector columns in double precision. */
  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Exact set-Jaccard of two string-array columns. */
  def jaccard(a: Column, b: Column): Column =
    GraftBridge.column(
      JaccardSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Character n-grams of a string column (empty array when shorter than n). */
  def charNgrams(text: Column, n: Int): Column =
    GraftBridge.column(CharNgrams(GraftBridge.expression(text), n))

  /** Character n-grams of whitespace-normalized lowercase text:
    * `charNgrams(regexp_replace(lower(trim(text)), "\\s+", " "), n)` as
    * ONE kernel ([[NormalizedCharNgrams]]).
    */
  def normalizedCharNgrams(text: Column, n: Int): Column =
    GraftBridge.column(NormalizedCharNgrams(GraftBridge.expression(text), n))

  /** 64-bit SimHash of a token-array column. */
  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))

  /** Sorted distinct xxhash64 values of the k-token shingles of a token
    * array: the exact-verification form of a shingle set. k = 1 hashes the
    * tokens themselves.
    */
  def hashedShingleSet(tokens: Column, k: Int): Column =
    GraftBridge.column(HashedShingleSet(GraftBridge.expression(tokens), k))

  /** Exact Jaccard of two sorted-distinct long-array columns (one merge
    * scan; the [[hashedShingleSet]] counterpart of [[jaccard]]).
    */
  def jaccardSorted(a: Column, b: Column): Column =
    GraftBridge.column(
      JaccardSorted(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Random-hyperplane sign-bit bucket of a float-vector column.
    * `offset` selects an independent plane family (plane indices
    * `offset until offset + planes`) — multi-band LSH uses one family per
    * band.
    */
  def hyperplaneBucket(vec: Column, planes: Int, offset: Int = 0): Column =
    GraftBridge.column(HyperplaneBucket(GraftBridge.expression(vec), planes, offset))

  /** Per-row occurrence counts of a string array as a map (element →
    * count, first-encounter key order; null elements skipped). The
    * per-row combine for token/gram scoring: exploding the MAP moves one
    * row per DISTINCT (doc, token) into the downstream join with NO
    * added exchange — a shuffle-stage pre-aggregate would pay a full
    * extra exchange for the same reduction.
    */
  def elementCounts(arr: Column): Column =
    GraftBridge.column(ElementCounts(GraftBridge.expression(arr)))

  /** Exact integer k-means assignment against a frozen centroid table:
    * array<bigint> shifted codes → `struct(d, s)` = (min squared-L2
    * distance, its cell id; ties to the LOWEST cell id). One tight JVM
    * loop per row instead of k × dim interpreted lambda evaluations —
    * the hot kernel of [[graft.ops.Similarity.integerKMeans]]' rounds.
    * A null CENTROID element is encoded as any negative value (legit
    * components live in [0, 254]) and skipped, matching the zip_with
    * null-product skip of the expression form; null input elements skip
    * the same way; a wholly-null input null-propagates.
    */
  def intKMeansAssign(
      uv: Column, cells: Seq[Long], cents: Seq[Seq[Long]]): Column =
    GraftBridge.column(IntKMeansAssign(GraftBridge.expression(uv),
      cells.toIndexedSeq, cents.map(_.toIndexedSeq).toIndexedSeq))
}

/** The unary form of the kernel template (see the header of this file).
  * Serializable so a task can deserialize a kernel: Java serialization
  * rebuilds it through its first non-serializable parent's no-arg
  * constructor, which this class does not have.
  */
private[functions] abstract class UnaryKernel(
    name: String, input: DataType, result: DataType, method: String, consts: Any*)
    extends UnaryExpression with Serializable {
  override def prettyName: String = name
  override def dataType: DataType = result
  override def checkInputDataTypes(): TypeCheckResult =
    Kernel.check(name, input, children.map(_.dataType))
  protected def call(args: Any*): String = Kernel.call(method, args)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => call(c +: consts: _*))
}

/** The binary form of the kernel template: both inputs take `input`. */
private[functions] abstract class BinaryKernel(
    name: String, input: DataType, result: DataType, method: String, consts: Any*)
    extends BinaryExpression with Serializable {
  override def prettyName: String = name
  override def dataType: DataType = result
  override def checkInputDataTypes(): TypeCheckResult =
    Kernel.check(name, input, children.map(_.dataType))
  protected def call(args: Any*): String = Kernel.call(method, args)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => call(a +: b +: consts: _*))
}

private object Kernel {
  /** Every input must be `want`. */
  def check(name: String, want: DataType, got: Seq[DataType]): TypeCheckResult = {
    def sig(ts: Seq[DataType]) = ts.map(_.simpleString).mkString("(", ", ", ")")
    if (got.forall(accepts(want, _))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ${sig(got.map(_ => want))}, got ${sig(got)}")
  }

  /** `got` is `want` up to array element nullability. */
  private def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => accepts(w, g)
    case _ => want == got
  }

  def call(method: String, args: Seq[Any]): String =
    s"graft.functions.$method(${args.mkString(", ")})"
}

/** Fused shingle→minhash→band kernel. One pass over the shingles; for each
  * shingle the 64 (=`numHashes`) seeded xxhash64 values update running
  * minima; bands are then chain-hashes of their signature slice. Identical
  * LSH guarantees as the unfused form: two documents collide in band `b`
  * iff their signatures agree on that whole slice.
  */
case class MinHashBandHashes(child: Expression, k: Int, numHashes: Int, bands: Int)
    extends UnaryKernel("minhash_band_hashes", ArrayType(StringType),
      ArrayType(LongType, containsNull = false), "MinHashUtil.bandHashes", k, numHashes, bands) {
  require(k > 0 && numHashes > 0 && bands > 0 && numHashes % bands == 0,
    s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.bandHashes(input.asInstanceOf[ArrayData], k, numHashes, bands)

  override protected def withNewChildInternal(newChild: Expression): MinHashBandHashes =
    copy(child = newChild)
}

/** Cosine similarity over two `array<float>` columns, accumulated in double
  * left-to-right (bit-identical to the sequential `aggregate`-expression
  * form it replaces). Zero vectors yield NaN, like `0.0 / 0.0` in SQL.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryKernel("cosine_similarity", ArrayType(FloatType), DoubleType,
      "VectorMath.cosine") {

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Exact Jaccard similarity of two string-array columns under SET semantics
  * (duplicates collapse), like `size(array_intersect)/size(array_union)` but
  * one hash-set pass instead of interpreted per-element expression eval —
  * candidate verification in the LSH dedup operators runs millions of these.
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryKernel("jaccard_similarity", ArrayType(StringType), DoubleType,
      "SetMath.jaccard") {

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetMath.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimilarity =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of a token array: per token, an xxhash64 (seed 42 —
  * matching `functions.xxhash64`) votes ±1 on each of the 64 bit positions;
  * bit j of the result is set when the vote total is positive. Bit-identical
  * to the HOF-expression form in [[graft.ops.Dedup.simhash64Expr]].
  */
case class SimHash64(child: Expression)
    extends UnaryKernel("simhash64", ArrayType(StringType), LongType, "MinHashUtil.simhash64") {

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.simhash64(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Character n-gram windows of a string: string → array<string>. The HOF
  * equivalent (`transform(sequence(...), i => substr(t, i, n))`) pays one
  * interpreted lambda eval per gram — ~300 per row on typical documents.
  */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryKernel("char_ngrams", StringType, ArrayType(StringType, containsNull = false),
      "TextUtil.charNgrams", n) {
  require(n > 0, s"n must be positive, got $n")

  override protected def nullSafeEval(input: Any): Any =
    TextUtil.charNgrams(input.asInstanceOf[UTF8String], n)

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** `char_ngrams(regexp_replace(lower(trim(s)), "\\s+", " "), n)` fused:
  * all-ASCII text is trimmed, lowercased and whitespace-collapsed in one
  * byte loop, never touching Spark's (ICU) `lower`; any other text runs
  * that composition's own library calls ([[TextUtil.normalizedCharNgrams]]).
  * Either way the grams are cut in one linear pass.
  */
case class NormalizedCharNgrams(child: Expression, n: Int)
    extends UnaryKernel("normalized_char_ngrams", StringType,
      ArrayType(StringType, containsNull = false), "TextUtil.normalizedCharNgrams") {
  require(n > 0, s"n must be positive, got $n")

  private lazy val useICU: Boolean = TextUtil.icuCaseMappings()

  override protected def nullSafeEval(input: Any): Any =
    TextUtil.normalizedCharNgrams(input.asInstanceOf[UTF8String], n, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => call(c, n, useICU))

  override protected def withNewChildInternal(newChild: Expression): NormalizedCharNgrams =
    copy(child = newChild)
}

/** Sorted distinct xxhash64(seed 42) values of the k-token shingles of a
  * token array — the exact-verification twin of [[MinHashBandHashes]]: the
  * LSH operators verify candidate pairs with Jaccard over these hashed sets
  * instead of string sets, so the verification join shuffles 8-byte longs
  * (not gram strings) and the per-pair cost is one merge scan
  * ([[JaccardSorted]]) instead of building two string hash-sets. Hash
  * collisions merge two shingles (P ≈ |set|²/2⁶⁵ ≈ 1e-13 per document —
  * negligible against the float noise floor of any similarity threshold).
  */
case class HashedShingleSet(child: Expression, k: Int)
    extends UnaryKernel("hashed_shingle_set", ArrayType(StringType),
      ArrayType(LongType, containsNull = false), "MinHashUtil.hashedShingleSet", k) {
  require(k > 0, s"k must be positive, got $k")

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.hashedShingleSet(input.asInstanceOf[ArrayData], k)

  override protected def withNewChildInternal(newChild: Expression): HashedShingleSet =
    copy(child = newChild)
}

/** Exact Jaccard over two sorted-distinct long arrays: one merge scan, no
  * allocation. Pairs with [[HashedShingleSet]].
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryKernel("jaccard_sorted", ArrayType(LongType), DoubleType,
      "SetMath.jaccardSorted") {

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetMath.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

/** Threshold form of [[JaccardSorted]]: `jaccard(a, b) >= t` as ONE
  * predicate with (1) an O(1) size-ratio reject — j ≥ t forces
  * min(|A|,|B|)/max(|A|,|B|) ≥ t — and (2) an early-exit merge scan that
  * abandons a pair as soon as even a perfect match of the remaining
  * elements cannot reach t. Bit-identical decision to
  * `JaccardSorted(a,b) >= lit(t)`; produced by the optimizer rule
  * [[graft.JaccardThresholdRule]], never written by hand. In the LSH dedup
  * plans the filter runs BEFORE the projection that needs the exact value,
  * so millions of below-threshold candidates are rejected by the cheap
  * scan and only survivors pay the full merge.
  */
case class JaccardSortedGE(left: Expression, right: Expression, threshold: Double)
    extends BinaryKernel("jaccard_sorted_ge", ArrayType(LongType), BooleanType,
      "SetMath.jaccardSortedGE", threshold) {
  require(threshold > 0, s"threshold must be positive, got $threshold")

  /** The O(1) size-ratio reject is sound only when element counts equal
    * effective set sizes — i.e. no null elements. Arrays typed
    * containsNull (possible via SQL literals) take the exact-compute path;
    * kernel outputs like hashed_shingle_set are containsNull=false and
    * keep the fast path.
    */
  // lazy val, not def: interpreted-mode eval runs per filtered row and the
  // child types are fixed once the expression is bound
  private lazy val elemsMayBeNull: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (elemsMayBeNull) SetMath.jaccardSorted(x, y) >= threshold
    else SetMath.jaccardSortedGE(x, y, threshold)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (elemsMayBeNull)
      defineCodeGen(ctx, ev, (a, b) =>
        s"(graft.functions.SetMath.jaccardSorted($a, $b) >= $threshold)")
    else super.doGenCode(ctx, ev)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedGE =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane sign-bit bucket: bit p of the result is set when the
  * dot product of the vector with pseudo-random hyperplane p (component i =
  * ±1 by the parity of xxhash64(p, i), seed 42) is positive. Bit-identical
  * to the HOF form [[graft.ops.Similarity.hyperplaneBucketExpr]] (same
  * hash chain, same left-to-right double accumulation), which the ANN
  * operators previously paid interpreted-lambda cost for — planes × dim
  * lambda evaluations per row.
  */
case class HyperplaneBucket(child: Expression, planes: Int, offset: Int = 0)
    extends UnaryKernel("hyperplane_bucket", ArrayType(FloatType), IntegerType,
      "VectorMath.hyperplaneBucket", planes, offset) {
  require(planes > 0 && planes < 31, s"planes must be in [1, 30], got $planes")
  require(offset >= 0, s"offset must be non-negative, got $offset")

  override protected def nullSafeEval(input: Any): Any =
    VectorMath.hyperplaneBucket(input.asInstanceOf[ArrayData], planes, offset)

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** Occurrence-count map of a string array — the [[ElementCounts]] kernel.
  * LinkedHashMap keeps first-encounter order, so the map (and anything
  * exploded from it) is a deterministic function of the array.
  */
case class ElementCounts(child: Expression)
    extends UnaryKernel("element_counts", ArrayType(StringType),
      MapType(StringType, LongType, valueContainsNull = false), "GramUtil.elementCounts") {

  override protected def nullSafeEval(input: Any): Any =
    GramUtil.elementCounts(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): ElementCounts =
    copy(child = newChild)
}

/** Frozen-centroid integer k-means assignment (one tight loop per row —
  * see [[native.intKMeansAssign]]). The centroid matrix rides the plan as
  * expression state (reference objects in the task binary, like every
  * literal table); callers cap its size. Null centroid components are
  * pre-encoded as -1 by the caller (components live in [0, 254]).
  */
case class IntKMeansAssign(
    child: Expression,
    cells: IndexedSeq[Long],
    cents: IndexedSeq[IndexedSeq[Long]])
    extends UnaryKernel("int_kmeans_assign", ArrayType(LongType), StructType(Seq(
      StructField("d", LongType, nullable = false),
      StructField("s", LongType, nullable = false))), "VectorMath.kmeansAssign") {
  require(cells.nonEmpty && cells.length == cents.length,
    s"$prettyName needs aligned non-empty cells/centroids, got " +
      s"${cells.length}/${cents.length}")

  @transient private lazy val cellsArr: Array[Long] = cells.toArray
  @transient private lazy val centsArr: Array[Array[Long]] =
    cents.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any =
    VectorMath.kmeansAssign(input.asInstanceOf[ArrayData], cellsArr, centsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("kmCells", cellsArr, "long[]")
    val centsRef = ctx.addReferenceObj("kmCents", centsArr, "long[][]")
    defineCodeGen(ctx, ev, c => call(c, cellsRef, centsRef))
  }

  override protected def withNewChildInternal(newChild: Expression): IntKMeansAssign =
    copy(child = newChild)
}

object GramUtil {
  def elementCounts(arr: ArrayData): org.apache.spark.sql.catalyst.util.MapData = {
    val n = arr.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val k = arr.getUTF8String(i)
        val prev = m.get(k)
        m.put(k, java.lang.Long.valueOf(
          if (prev == null) 1L else prev.longValue() + 1L))
      }
      i += 1
    }
    val keys = new Array[AnyRef](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue.longValue()
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }
}

object TextUtil {
  /** The `n`-code-point windows of `s`, each a view into one private copy
    * of its bytes. Character starts are recorded once, so the document is
    * walked once in all (not once per gram). A lead byte whose declared
    * width runs past the end — a truncated UTF-8 tail — ends at the end:
    * no window ever reads beyond `s`.
    */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = new Array[Byte](s.numBytes())
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    windows(bytes, bytes.length, n)
  }

  /** [[charNgrams]] of `regexp_replace(lower(trim(s)), "\\s+", " ")`
    * (Spark's `lower` under `useICU`). For all-ASCII `s`, one byte loop
    * does the three steps, each one's ASCII meaning: `trim` drops spaces
    * only, `lower` maps A-Z, and each run of Java-regex `\s` (space, \t,
    * \n, \x0B, \f, \r) becomes one space. Any other `s` takes
    * [[normalizeExact]].
    */
  def normalizedCharNgrams(s: UTF8String, n: Int, useICU: Boolean): ArrayData =
    if (s.isFullAscii) {
      val out = new Array[Byte](s.numBytes())
      windows(out, normalizeAscii(s, out), n)
    } else {
      val out = normalizeExact(s, useICU).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      windows(out, out.length, n)
    }

  /** `regexp_replace(lower(trim(s)), "\\s+", " ")` through the library
    * calls that composition makes: `UTF8String.trim`, [[sparkLower]], and
    * the Java-regex replace over the decoded string.
    */
  private def normalizeExact(s: UTF8String, useICU: Boolean): String =
    JavaWs.matcher(sparkLower(s.trim(), useICU).toString).replaceAll(" ")

  private val JavaWs = java.util.regex.Pattern.compile("\\s+")

  @inline private def isJavaWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** The all-ASCII normalization of `s` into `out`; returns its length. A
    * whitespace byte is written as a space only after a non-space, and no
    * lowercased letter is a space, so `out`'s last byte tells whether a
    * run is open.
    */
  private def normalizeAscii(s: UTF8String, out: Array[Byte]): Int = {
    var from = 0
    var to = s.numBytes()
    while (from < to && s.getByte(from) == ' ') from += 1
    while (to > from && s.getByte(to - 1) == ' ') to -= 1
    var w = 0
    var i = from
    while (i < to) {
      val b = s.getByte(i)
      if (!isJavaWs(b)) {
        out(w) = if (b >= 'A' && b <= 'Z') (b + ('a' - 'A')).toByte else b
        w += 1
      } else if (w == 0 || out(w - 1) != ' ') {
        out(w) = ' '
        w += 1
      }
      i += 1
    }
    w
  }

  /** The `n`-char windows of `bytes[0, len)` as views into `bytes`, which
    * the caller owns and never changes.
    */
  private def windows(bytes: Array[Byte], len: Int, n: Int): ArrayData = {
    val starts = new Array[Int](len + 1)
    var chars = 0
    var i = 0
    while (i < len) {
      starts(chars) = i
      chars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(chars) = len
    if (chars < n) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](chars - n + 1)
    var k = 0
    while (k < out.length) {
      out(k) = UTF8String.fromBytes(bytes, starts(k), starts(k + n) - starts(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Spark's `lower` of a UTF8_BINARY string, computed as
    * `org.apache.spark.sql.catalyst.expressions.Lower` computes it: ICU
    * case mappings when `useICU` (the Spark 4 default), the JVM's
    * otherwise. [[UTF8String.toLowerCase]] alone is only the second.
    */
  private[functions] def sparkLower(s: UTF8String, useICU: Boolean): UTF8String =
    CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)

  /** The session's `spark.sql.icu.caseMappings.enabled`, read as Spark's
    * `Lower` reads it: once per expression, through `SQLConf.get`.
    */
  private[functions] def icuCaseMappings(): Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}

object SetMath {
  // Null array ELEMENTS are treated as absent in every kernel here — these
  // are registered SQL functions, so arrays with containsNull=true reach
  // them; skipping beats an NPE (strings) or garbage zeros (longs).
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) setA.add(a.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[UTF8String](b.numElements() * 2)
    i = 0
    while (i < b.numElements()) {
      if (!b.isNullAt(i)) setB.add(b.getUTF8String(i)); i += 1 }
    var inter = 0
    val it = setB.iterator()
    while (it.hasNext) if (setA.contains(it.next())) inter += 1
    val union = setA.size() + setB.size() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val la = a.numElements()
    val lb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    var nulls = 0
    while (i < la && j < lb) {
      if (a.isNullAt(i)) { nulls += 1; i += 1 }
      else if (b.isNullAt(j)) { nulls += 1; j += 1 }
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    while (i < la) { if (a.isNullAt(i)) nulls += 1; i += 1 }
    while (j < lb) { if (b.isNullAt(j)) nulls += 1; j += 1 }
    val union = la + lb - nulls - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** `jaccardSorted(a, b) >= t` with an O(1) size reject and early-exit
    * scan. Decision-identical to computing the exact value and comparing:
    * the exit fires only when the OPTIMISTIC bound (all remaining elements
    * match) is already below t.
    */
  def jaccardSortedGE(a: ArrayData, b: ArrayData, t: Double): Boolean = {
    // Bounds are compared with an epsilon guard so a 1-ulp division
    // difference can never reject a pair the exact comparison would accept;
    // the final decision reuses the exact division `jaccardSorted` performs.
    val Eps = 1e-12
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return false // jaccard 0, t > 0 by construction
    // j <= min/max: reject without touching the arrays
    if (math.min(na, nb).toDouble / math.max(na, nb) < t - Eps) return false
    var i = 0
    var j = 0
    var inter = 0
    var step = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
      step += 1
      if ((step & 63) == 0) {
        // optimistic: every remaining element of the smaller tail matches
        val rem = math.min(na - i, nb - j)
        val bestInter = inter + rem
        val minUnion = na + nb - bestInter
        if (minUnion > 0 && bestInter.toDouble / minUnion < t - Eps) return false
      }
    }
    val union = na + nb - inter
    if (union == 0) false else inter.toDouble / union >= t
  }
}

/** Static kernels called from generated code (Scala objects expose static
  * forwarders, so Janino-compiled Java can call them directly).
  */
object MinHashUtil {
  private val Space = UTF8String.fromString(" ")

  /** Non-null, non-empty tokens of an array column, compacted — null and
    * "" elements are treated as absent (these kernels are registered SQL
    * functions, so containsNull arrays reach them; and `split(text, "\\s+")`
    * yields phantom "" edge tokens on whitespace-bounded text, so dropping
    * them HERE lets kernel call sites pass the raw split without an
    * interpreted per-token filter lambda — [[graft.ops.TextOps.rawTokens]]).
    */
  private def compact(tokens: ArrayData): Array[UTF8String] = {
    val n = tokens.numElements()
    var keep = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i) && tokens.getUTF8String(i).numBytes() > 0) keep += 1
      i += 1
    }
    val out = new Array[UTF8String](keep)
    i = 0
    var w = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes() > 0) { out(w) = t; w += 1 }
      }
      i += 1
    }
    out
  }

  // Direct XXH64 primitives instead of XxHash64Function.hash: the generic
  // entry point boxes the value and pattern-matches on the DataType on
  // EVERY call, and these kernels make ~10^8 calls per small partition.
  // Bit-identical: XxHash64Function dispatches UTF8String to
  // hashUnsafeBytes(base, offset, numBytes, seed) and Long to hashLong.
  private def hashString(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  def bandHashes(tokens: ArrayData, k: Int, numHashes: Int, bands: Int): ArrayData = {
    val toks = compact(tokens)
    val n = toks.length
    val numShingles = n - k + 1
    if (numShingles <= 0) return new GenericArrayData(Array.emptyLongArray)
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val parts = new Array[UTF8String](2 * k - 1)
    var i = 0
    while (i < numShingles) {
      // k = 1 (the char-n-gram path): the token IS the shingle — skip the
      // copying concat entirely.
      val shingle =
        if (k == 1) toks(i)
        else {
          var p = 0
          var t = i
          while (t < i + k) {
            if (p > 0) { parts(p) = Space; p += 1 }
            parts(p) = toks(t)
            p += 1
            t += 1
          }
          UTF8String.concat(parts: _*)
        }
      // One strong string hash per shingle, then the numHashes-member hash
      // family derives by long-mixing the digest: O(len + numHashes) per
      // shingle instead of O(len × numHashes) string hashing. Mixed
      // digests of a universal hash stay pairwise-independent enough for
      // the standard MinHash recall math (the family only needs uniform,
      // independent-looking permutation seeds).
      val base = hashString(shingle, 42L)
      var h = 0
      while (h < numHashes) {
        val v = XXH64.hashLong(base, h.toLong)
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    val rowsPerBand = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 42L
      var r = 0
      while (r < rowsPerBand) {
        acc = XXH64.hashLong(mins(b * rowsPerBand + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Sorted distinct shingle hashes (seed 42, the `functions.xxhash64`
    * default). Shingle strings exist only transiently inside this kernel —
    * they are never materialized into row storage.
    */
  def hashedShingleSet(tokens: ArrayData, k: Int): ArrayData = {
    val toks = compact(tokens)
    val n = toks.length
    val numShingles = n - k + 1
    if (numShingles <= 0) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](numShingles)
    if (k == 1) {
      var i = 0
      while (i < n) { hs(i) = hashString(toks(i), 42L); i += 1 }
    } else {
      val parts = new Array[UTF8String](2 * k - 1)
      var i = 0
      while (i < numShingles) {
        var p = 0
        var t = i
        while (t < i + k) {
          if (p > 0) { parts(p) = Space; p += 1 }
          parts(p) = toks(t)
          p += 1
          t += 1
        }
        hs(i) = hashString(UTF8String.concat(parts: _*), 42L)
        i += 1
      }
    }
    java.util.Arrays.sort(hs)
    // in-place dedup of the sorted array
    var w = 1
    var r = 1
    while (r < numShingles) {
      if (hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == numShingles) hs else java.util.Arrays.copyOf(hs, w))
  }

  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      // null and "" tokens are absent, matching compact() — so raw
      // split() output hashes identically to the filtered form
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes() > 0) {
          val h = hashString(t, 42L)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

object VectorMath {
  def cosine(a: ArrayData, b: ArrayData): Double = {
    // dimension mismatch is data corruption — surface it as NaN (excluded
    // by any >= threshold) instead of a plausible truncated similarity
    if (a.numElements() != b.numElements()) return Double.NaN
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // null elements contribute nothing (guards the SQL-function path;
      // kernel callers pass non-null embeddings)
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        dot += x * y
        na += x * x
        nb += y * y
      }
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def kmeansAssign(
      uv: ArrayData,
      cells: Array[Long],
      cents: Array[Array[Long]]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = uv.numElements()
    var bestD = Long.MaxValue
    var bestS = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val m = cents(c)
      val lim = math.min(n, m.length)
      var d = 0L
      var i = 0
      while (i < lim) {
        // negative centroid component = the null sentinel; null input
        // elements skip too (the zip_with null-product rule)
        if (!uv.isNullAt(i) && m(i) >= 0L) {
          val x = uv.getLong(i) - m(i)
          d += x * x
        }
        i += 1
      }
      if (d < bestD || (d == bestD && cells(c) < bestS)) {
        bestD = d
        bestS = cells(c)
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestS))
  }

  def hyperplaneBucket(v: ArrayData, planes: Int, offset: Int): Int = {
    val n = v.numElements()
    var bucket = 0
    var p = 0
    while (p < planes) {
      // xxhash64(offset + p, i): seed 42, ints hashed in argument order
      val hp = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(offset + p, 42L)
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) {
          val x = v.getFloat(i).toDouble
          val sign =
            if ((org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, hp) & 1L) == 0L) 1.0
            else -1.0
          dot += x * sign
        }
        i += 1
      }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
}
