package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Every native kernel's interpreted eval (`nullSafeEval`) against its
  * generated code (`doGenCode`): each query runs once with codegen off
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN`, no whole-stage codegen) and
  * once compiled (`CODEGEN_ONLY`, whole-stage codegen with no fallback), and
  * both must return the same rows. The two paths are written separately
  * in each kernel, so this is the guard against drift between them.
  *
  * Inputs are null, empty, null-element, non-ASCII and truncated-UTF-8
  * values, read from an RDD scan: a local relation would let the optimizer
  * fold the kernels with interpreted eval before codegen ever ran. Each
  * kernel is called through its Column wrapper, and each SQL-registered one
  * through `spark.sql` too; one wrong-typed call per kernel must fail
  * analysis with a message naming the kernel.
  */
class KernelCodegenSpec extends SparkSpec {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** "ab" + the first two of the euro sign's three bytes: a truncated tail. */
  private val truncated: Array[Byte] = bytes("ab") ++ bytes("\u20AC").take(2)

  private val html =
    "<html><head><title>T</title><script>var x = 1;</script></head><body>" +
      "<p>The cat and the dog sat in the house, and the bird was on the roof of it.</p>" +
      "<!-- note --><a href='x'>a link text</a><div>\u00DCn\u00EFc\u00F8d\u00E9 the of " +
      "\u0130stanbul</div></body></html>"

  private val nonAscii = "  \u0130stanbul \u212Aelvin\t\u4E2D\u6587 \uD83D\uDE00 \u03A3\u03C3\u03C2  "

  /** (s, toks, toks2, vec, vec2, longs, longs2) per row, strings as raw
    * UTF-8 bytes so a row can carry invalid UTF-8.
    */
  private val rows: Seq[Row] = {
    def b(ss: String*): Seq[Array[Byte]] = ss.map(s => if (s == null) null else bytes(s))
    def f(xs: java.lang.Float*): Seq[java.lang.Float] = xs
    def l(xs: java.lang.Long*): Seq[java.lang.Long] = xs
    Seq(
      Row(0L, null, null, null, null, null, null, null),
      Row(1L, bytes(""), b(), b(), f(), f(), l(), l()),
      Row(2L, bytes(" "), Seq(null), b(null, null), Seq(null), Seq(null), Seq(null), Seq(null)),
      Row(3L, bytes("a"), b("a", null, "b", ""), b("b", "a", null), f(1f, null, 2f),
        f(1f, 3f, null), l(1L, null, 3L), l(1L, 3L)),
      Row(4L, bytes("  The Quick\tBrown  fox jumps over the LAZY dog  "),
        b("The", "Quick", "Brown", "fox", "jumps", "over", "the", "lazy", "dog"),
        b("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "cat"),
        f(0.5f, -1f, 2f, 0.25f), f(0.5f, 1f, -2f, 4f), l(1L, 2L, 3L, 5L, 8L), l(2L, 3L, 5L, 7L)),
      Row(5L, bytes(nonAscii), b("\u0130stanbul", "\u212Aelvin", "\u4E2D\u6587", "\uD83D\uDE00"),
        b("\u212Aelvin", "\u4E2D\u6587", "\u03A3\u03C3\u03C2"), f(-0.5f, 0f, 3f, 1.5f),
        f(-0.5f, 0f, 3f), l(-3L, 0L, 7L), l(-3L, 7L, 9L)),
      Row(6L, truncated, Seq(bytes("ab"), truncated, bytes("\uD83D\uDE00").take(3)),
        Seq(truncated, bytes("ab")), f(0f, 0f, 0f), f(1f, 2f, 3f), l(0L, 0L), l(0L)),
      Row(7L, bytes(html), b("a", "b", "c", "d", "e", "f", "a", "b"), b("a", "b", "c", "d"),
        f(3f, 1f, 4f, 1f, 5f, 9f, 2f, 6f), f(2f, 7f, 1f, 8f, 2f, 8f, 1f, 8f),
        l(1L, 4L, 9L, 16L), l(1L, 4L, 9L, 16L)))
  }

  private lazy val input: DataFrame = {
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", BinaryType),
      StructField("toks", ArrayType(BinaryType)),
      StructField("toks2", ArrayType(BinaryType)),
      StructField("vec", ArrayType(FloatType)),
      StructField("vec2", ArrayType(FloatType)),
      StructField("longs", ArrayType(LongType)),
      StructField("longs2", ArrayType(LongType)))))
    raw.select(col("id"), col("s").cast("string").as("s"),
      col("toks").cast("array<string>").as("toks"), col("toks2").cast("array<string>").as("toks2"),
      col("vec"), col("vec2"), col("longs"), col("longs2"))
  }

  private val Modes = Seq("NO_CODEGEN", "CODEGEN_ONLY")

  /** `q`'s rows under one factory mode, after checking the kernel `cls`
    * really runs inside a whole-stage-codegen stage in CODEGEN_ONLY and
    * outside any in NO_CODEGEN.
    */
  private def run(mode: String, cls: Class[_])(q: => DataFrame): Seq[Row] = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.codegen.fallback" -> "false")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = q
      val out = df.collect().toSeq.sortBy(_.getLong(0))
      val compiled = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }.exists(_.child.exists(_.expressions.exists(_.exists(e => cls.isInstance(e)))))
      assert(compiled == (mode == "CODEGEN_ONLY"),
        s"${cls.getSimpleName} under $mode: compiled=$compiled\n${df.queryExecution.executedPlan}")
      out
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def assertSameUnderBothModes(cls: Class[_])(q: => DataFrame): Unit = {
    val Seq(interpreted, compiled) = Modes.map(run(_, cls)(q))
    assert(interpreted.length == rows.length)
    assert(interpreted == compiled, s"${cls.getSimpleName}: interpreted != codegen")
  }

  private def kernel(c: Column): DataFrame = input.select(col("id"), c.as("out"))

  private def sql(call: String): DataFrame = {
    input.createOrReplaceTempView("kernel_in")
    spark.sql(s"SELECT id, $call AS out FROM kernel_in")
  }

  /** (kernel class, its Column call, its SQL calls, a wrong-typed Column
    * call, the SQL name it reports).
    */
  private val kernels: Seq[(Class[_], Column, Seq[String], Column, String)] = {
    import native._
    import htmlNative._
    val (s, toks, toks2) = (col("s"), col("toks"), col("toks2"))
    val (vec, vec2, longs, longs2) = (col("vec"), col("vec2"), col("longs"), col("longs2"))
    Seq(
      (classOf[MinHashBandHashes], minhashBandHashes(toks, 2, 8, 4),
        Seq("minhash_band_hashes(toks, 2, 8, 4)", "minhash_band_hashes(toks2, 1, 8, 2)"),
        minhashBandHashes(s, 2, 8, 4), "minhash_band_hashes"),
      (classOf[CosineSimilarity], cosine(vec, vec2), Seq("cosine_similarity(vec, vec2)"),
        cosine(toks, vec), "cosine_similarity"),
      (classOf[JaccardSimilarity], jaccard(toks, toks2), Seq("jaccard_similarity(toks, toks2)"),
        jaccard(vec, vec2), "jaccard_similarity"),
      (classOf[SimHash64], simhash64(toks), Seq("simhash64(toks)"), simhash64(s), "simhash64"),
      (classOf[CharNgrams], charNgrams(s, 3), Seq("char_ngrams(s, 3)", "char_ngrams(s, 1)"),
        charNgrams(toks, 3), "char_ngrams"),
      (classOf[NormalizedCharNgrams], normalizedCharNgrams(s, 3), Nil,
        normalizedCharNgrams(col("id"), 3), "normalized_char_ngrams"),
      (classOf[HashedShingleSet], hashedShingleSet(toks, 2),
        Seq("hashed_shingle_set(toks, 2)", "hashed_shingle_set(toks2, 1)"),
        hashedShingleSet(vec, 1), "hashed_shingle_set"),
      (classOf[JaccardSorted], jaccardSorted(longs, longs2), Seq("jaccard_sorted(longs, longs2)"),
        jaccardSorted(toks, toks2), "jaccard_sorted"),
      // the optimizer rule writes JaccardSortedGE: the null-element path
      // over containsNull arrays, the early-exit path over kernel outputs
      (classOf[JaccardSortedGE],
        jaccardSorted(hashedShingleSet(toks, 1), hashedShingleSet(toks2, 1)) >= lit(0.3),
        Seq("jaccard_sorted(longs, longs2) >= 0.3",
          "0.5 <= jaccard_sorted(hashed_shingle_set(toks, 1), hashed_shingle_set(toks2, 1))"),
        GraftBridge.column(JaccardSortedGE(
          GraftBridge.expression(vec), GraftBridge.expression(vec2), 0.5)), "jaccard_sorted_ge"),
      (classOf[HyperplaneBucket], hyperplaneBucket(vec, 4, 8),
        Seq("hyperplane_bucket(vec, 4)", "hyperplane_bucket(vec2, 6, 3)"),
        hyperplaneBucket(longs, 4), "hyperplane_bucket"),
      (classOf[ElementCounts], elementCounts(toks), Seq("element_counts(toks)"),
        elementCounts(longs), "element_counts"),
      (classOf[IntKMeansAssign],
        intKMeansAssign(longs, Seq(20L, 10L), Seq(Seq(1L, 2L, 3L), Seq(0L, -1L, 5L))), Nil,
        intKMeansAssign(vec, Seq(0L), Seq(Seq(1L))), "int_kmeans_assign"),
      (classOf[HtmlExtractText], htmlExtractText(s), Nil, htmlExtractText(toks),
        "html_extract_text"),
      (classOf[HtmlBlockMetrics], htmlBlockMetrics(s), Nil, htmlBlockMetrics(col("id")),
        "html_block_metrics"))
  }

  test("all 14 kernels are pinned") {
    assert(kernels.map(_._1).distinct.size == 14)
  }

  kernels.foreach { case (cls, call, sqlCalls, _, _) =>
    test(s"${cls.getSimpleName}: codegen and interpreted eval agree") {
      assertSameUnderBothModes(cls)(kernel(call))
      sqlCalls.foreach(c => assertSameUnderBothModes(cls)(sql(c)))
    }
  }

  test("a registered kernel called with a wrong argument count names its arities") {
    Seq("simhash64(toks, toks2)" -> "simhash64 expects 1 arguments, got 2",
      "hyperplane_bucket(vec)" -> "hyperplane_bucket expects 2 or 3 arguments, got 1")
      .foreach { case (call, msg) =>
        val e = intercept[Exception](sql(call))
        assert(messages(e).contains(msg), messages(e))
      }
  }

  kernels.foreach { case (cls, _, _, wrong, name) =>
    test(s"${cls.getSimpleName}: a wrong-typed call fails analysis naming $name") {
      val e = intercept[AnalysisException](kernel(wrong))
      assert(e.getMessage.contains(s"$name requires"), e.getMessage)
    }
  }
}
