package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSpec
import graft.ops.TextOps

/** Shared generators + the java.util.regex REFERENCE implementation of the
  * extraction strip chain (the exact patterns of TextOps' expression form,
  * run through Java's own engine) — the kernel's hand-rolled scanners are
  * property-tested against this reference on fully adversarial input,
  * and the full kernels against the live Spark expression chain in
  * [[HtmlKernelSparkSpec]].
  */
object HtmlGen {
  val stopwords: Seq[String] = TextOps.HtmlStopwords

  val word: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf(stopwords),
    2 -> Gen.oneOf("THE", "It.", "f-o.r", "And;", "a1the", "xyzzy",
      "wordwordword", "P", "IN2", "t|o"),
    1 -> Gen.oneOf("Kelvin", "İstanbul", "straße", "中文",
      "café", "K", "İT", "Éthe"))

  val ws: Gen[String] = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'))
      .map(_.mkString))

  val entity: Gen[String] = Gen.oneOf(
    "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;",
    "&amp;lt;", "&amp;amp;", "&", "&x;", "&nbsp", "&LT;", "&#40;")

  val blockName: Gen[String] = Gen.oneOf(
    "p", "div", "br", "li", "ul", "ol", "h1", "h3", "h6", "tr", "table",
    "td", "th", "blockquote", "section", "article", "header", "footer",
    "nav", "P", "DIV", "TaBlE", "H2")

  val nonBlockName: Gen[String] = Gen.oneOf(
    "span", "b", "i", "em", "h7", "h0", "particular", "lie", "ule", "tda",
    "thead", "navx", "pre", "html", "body", "head", "a", "A")

  val tag: Gen[String] = for {
    n <- Gen.frequency(3 -> blockName, 2 -> nonBlockName)
    slash <- Gen.oneOf("", "/")
    attrs <- Gen.oneOf("", " ", " class=x", " a=\"1\" b=2", "\tx y", " x/",
      "/", "x", " <", " \n id=3")
    close <- Gen.frequency(6 -> Gen.const(">"), 2 -> Gen.const("/>"),
      1 -> Gen.const(""))
  } yield s"<$slash$n$attrs$close"

  val comment: Gen[String] = Gen.oneOf(
    "<!-- c -->", "<!--unterminated", "<!-- a <p> b -->", "<!---->",
    "<!-- -- -->", "<!--<script>x</script>-->", "<!-- \n -->")

  val element: Gen[String] = for {
    n <- Gen.oneOf("script", "style", "title", "SCRIPT", "Style")
    attrs <- Gen.oneOf("", " a=b", " \n x", "x")
    body <- Gen.oneOf("if (x < 2) { y = 3; }", "p { color: red }", "",
      "a <p> b", "unclosed", "&amp;", "<!-- inside -->")
    closed <- Gen.frequency(4 -> Gen.const(true), 1 -> Gen.const(false))
  } yield if (closed) s"<$n$attrs>$body</$n>" else s"<$n$attrs>$body"

  /** Anchor whose removal cannot change the block count: no '\n' and no
    * block tag inside the BODY (attrs may hold anything tag-internal).
    * The chain-safe corpus for the Spark-side comparison uses these.
    */
  val anchorSafe: Gen[String] = for {
    a <- Gen.oneOf("<a href=x>", "<a>", "<A HREF=\"/\">", "<a \n id=2>",
      "<a href=x", "<ax>")
    body <- Gen.oneOf("home of it", "CAPS", "&amp;", "x <b>y</b> z", "")
    close <- Gen.frequency(4 -> Gen.const("</a>"), 1 -> Gen.const("</A>"))
  } yield a + body + close

  /** Anchors that CAN misalign the two block lists (body spans a block
    * boundary) — driver-side properties only.
    */
  val anchorEvil: Gen[String] = Gen.oneOf(
    "<a href=x>one<p>two</a>", "<a>first\nsecond</a>",
    "<a>x<div>y</div>z</a>", "<a>\n</a>")

  val strayFrag: Gen[String] = Gen.oneOf("<", ">", "-->", "]]>", "< p>",
    "</", "</p", "<3", "<<p>>", "p>", " ")

  def htmlGen(withEvilAnchors: Boolean): Gen[String] = {
    val frag = Gen.frequency(
      8 -> word, 5 -> ws, 2 -> entity, 3 -> tag, 1 -> comment,
      1 -> element, 2 -> anchorSafe, 1 -> strayFrag,
      (if (withEvilAnchors) 1 else 0) -> anchorEvil)
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, frag).map(_.mkString))
  }

  // ---- java.util.regex reference (the literal TextOps patterns) ----

  def refPreStrip(s: String): String =
    Seq("(?s)<!--.*?-->",
      "(?is)<script(\\s[^>]*)?>.*?</script>",
      "(?is)<style(\\s[^>]*)?>.*?</style>",
      "(?is)<title(\\s[^>]*)?>.*?</title>")
      .foldLeft(s)((acc, p) => acc.replaceAll(p, " "))

  def refAnchorStrip(s: String): String =
    s.replaceAll("(?is)<a(\\s[^>]*)?>.*?</a>", "")

  val BlockTagsRe: String = "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|" +
    "blockquote|section|article|header|footer|nav)(\\s[^>]*)?/?>"

  def refRawBlocks(pre: String): String = {
    val untagged = pre.replaceAll(BlockTagsRe, "\n").replaceAll("<[^>]*>", " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(untagged) { case (acc, (k, v)) => acc.replace(k, v) }
  }
}

/** Driver-side properties: every hand-rolled scanner ≡ the java.util.regex
  * reference, on fully adversarial input INCLUDING block-spanning anchors
  * and every unterminated/malformed construct the generators produce.
  */
object HtmlKernelProps extends Properties("graft.html") {
  import HtmlGen._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(300).withMaxDiscardRatio(10)

  private val gen = htmlGen(withEvilAnchors = true)

  property("preStrip ≡ the 4-pass regex chain") = forAll(gen) { s =>
    HtmlUtil.preStrip(s) == refPreStrip(s)
  }

  property("anchor stripElement ≡ the anchor regex") = forAll(gen) { s =>
    HtmlUtil.stripElement(s, "a", "") == refAnchorStrip(s)
  }

  property("blockTagsToNewlines ≡ the alternation regex") = forAll(gen) { s =>
    HtmlUtil.blockTagsToNewlines(s) == s.replaceAll(BlockTagsRe, "\n")
  }

  property("stripTags ≡ <[^>]*> and entities ≡ 6 sequential replaces") =
    forAll(gen) { s =>
      HtmlUtil.stripTags(s) == s.replaceAll("<[^>]*>", " ") &&
      HtmlUtil.decodeEntities(s) == Seq(
        "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
        "&nbsp;" -> " ", "&amp;" -> "&")
        .foldLeft(s) { case (acc, (k, v)) => acc.replace(k, v) }
    }

  property("rawBlocks ≡ reference composition (both strip variants)") =
    forAll(gen) { s =>
      val pre = refPreStrip(s)
      HtmlUtil.rawBlocks(pre) == refRawBlocks(pre) &&
      HtmlUtil.rawBlocks(HtmlUtil.stripElement(pre, "a", "")) ==
        refRawBlocks(refAnchorStrip(pre))
    }
}

/** Spark-side equivalence: the kernels ≡ the live expression chain
  * (htmlBlockMetricsExpr / htmlExtractTextExpr — the pre-kernel forms,
  * kept as the executable spec), over a handcrafted fixture corpus and a
  * seeded chain-safe adversarial corpus. This is the bit-exactness pin
  * the oracled q160/q170/q171/q182 hashes stand on.
  */
class HtmlKernelSparkSpec extends SparkSpec {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private val fixturePages: Seq[String] = Seq(
    // the crawlDocs wrapper shape (head debris, nav anchors, footer)
    "<html><!-- crawl --><head><style>body { color: red }</style>" +
      "<script>if (x < 2) { y = 3; }</script><title>Page</title></head>" +
      "<body><h1>Page 7</h1><div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a></div><p>It is the body of the page " +
      "that it is in for the set of it and the crawl saved it.</p>" +
      "<p>Short bit</p><footer><a href=\"/legal\">Legal notice terms " +
      "page</a> fine print</footer></body></html>",
    "", " ", "\n", "no tags at all the of and a to in is it that for",
    "<p>&amp;lt; decodes to literal &lt; and &amp; to &amp;amp;</p>",
    "<p>Kelvin İstanbul straße café 中文</p>",
    "<ul><li>it is the one</li><li>of the day</li></ul>",
    "<table><tr><td>it is</td><th>the set</th></tr></table>",
    "<p x/>slash attrs</p x>", "<h7>not a block</h7><h3>a block</h3>",
    "<particular>of it</particular><lie>the day</lie>",
    "<script>unclosed script eats nothing because it never closes",
    "<!-- unterminated comment stays <p>visible block of the day</p>",
    "<p>the of and a to in is it that for twenty chars padd</p>",
    "<div><a href=x>pure link farm of the day in the set</a></div>",
    "xy\fz\rw\tv the of and it", "<p></p><p> </p><p>\t</p>",
    "<br/><BR><br >text between the breaks of the day for it",
    // Kelvin sign, dotted capital I (İT lowercases to a stopword after the
    // [a-z] filter), Greek sigma in final and medial position, and two
    // capitals that only ICU lowercases
    "<p>\u0130T \u0130S the \u212Aelvin \u212A of \u0130N a \u039F\u0394\u039F\u03A3 " +
      "\u03A3\u0391\u03A3 to \u03A3\u039F\u03A6\u0399\u0391 for that twenty</p>",
    "<div>TH\u0130S \u0130 \u212A\u212A and \u03C3\u03C2\u03A3 it \uA7C0\u2C2F is in</div>")

  private def corpusDF(pages: Seq[String]) = {
    val rows = pages.zipWithIndex.map { case (h, i) => Row(i.toLong, h) } ++
      Seq(Row(90001L, null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("html", StringType, nullable = true))))
  }

  /** Pages the expression chain can evaluate at all: concatenated
    * fragments can form anchors spanning block boundaries (an unclosed
    * `<a …` from one fragment closed by a later fragment's `</a>`), and
    * on those the CHAIN ITSELF throws under ANSI (`element_at` past the
    * shorter no-anchor block list) — there is no declared result to
    * compare. The kernel's behavior there is pinned by the
    * block-spanning-anchors test; the comparison corpus keeps only
    * aligned pages.
    */
  private def chainEvaluable(s: String): Boolean = {
    val pre = HtmlGen.refPreStrip(s)
    HtmlUtil.blocksOf(HtmlUtil.rawBlocks(pre)).length ==
      HtmlUtil.blocksOf(
        HtmlUtil.rawBlocks(HtmlUtil.stripElement(pre, "a", ""))).length
  }

  private def generatedPages(n: Int): Seq[String] = {
    val gen = HtmlGen.htmlGen(withEvilAnchors = false)
    val params = org.scalacheck.Gen.Parameters.default.withSize(60)
    (1 to n).flatMap(i =>
      gen.apply(params, org.scalacheck.rng.Seed(i.toLong)))
      .filter(chainEvaluable)
  }

  test("kernel ≡ expression chain: extract + block metrics, fixture corpus") {
    // both settings of Spark's `lower`: ICU case mappings and the JVM's
    Seq(true, false).foreach { icu =>
      spark.conf.set("spark.sql.icu.caseMappings.enabled", icu)
      try {
        val bad = corpusDF(fixturePages).select(
            TextOps.htmlExtractText(col("html")).as("k_text"),
            TextOps.htmlExtractTextExpr(col("html")).as("e_text"),
            TextOps.htmlBlockMetrics(col("html")).as("k_m"),
            TextOps.htmlBlockMetricsExpr(col("html")).as("e_m"))
          .where(!(col("k_text") <=> col("e_text")) ||
            !(col("k_m") <=> col("e_m")))
        assert(bad.count() === 0L, s"icu=$icu")
      } finally spark.conf.unset("spark.sql.icu.caseMappings.enabled")
    }
  }

  test("kernel ≡ expression chain: 400 seeded adversarial pages") {
    val df = corpusDF(generatedPages(400))
    val bad = df.select(col("html"),
        TextOps.htmlExtractText(col("html")).as("k_text"),
        TextOps.htmlExtractTextExpr(col("html")).as("e_text"),
        TextOps.htmlBlockMetrics(col("html")).as("k_m"),
        TextOps.htmlBlockMetricsExpr(col("html")).as("e_m"))
      .where(!(col("k_text") <=> col("e_text")) ||
        !(col("k_m") <=> col("e_m")))
    val rows = bad.select("html").limit(3).collect()
    assert(rows.isEmpty,
      s"kernel diverged from the expression chain on: " +
        rows.map(_.getString(0)).mkString(" ||| "))
  }

  test("block-spanning anchors: kernel is total and anchor-neutral") {
    // the expression chain's element_at may fail (ANSI) or null out on
    // these; the kernel's contract is anchor_chars = 0 for the unpaired
    // tail blocks, never a crash
    val evil = Seq(
      "<a href=x>one<p>two of the day it is</a>after the anchor it is",
      "<a>first\nsecond of it</a> tail of the day",
      "x<div>y</div><a>z<p>w</a>")
    val out = corpusDF(evil).where(col("html").isNotNull)
      .select(TextOps.htmlBlockMetrics(col("html")).as("m"),
        TextOps.htmlExtractText(col("html")).as("t"))
      .collect()
    assert(out.length === 3)
    // every unpaired block reports anchor_chars 0 (absent measurement)
    out.foreach { r =>
      val ms = r.getSeq[Row](0)
      ms.foreach(m => assert(m.getAs[Long]("anchor_chars") >= 0L))
    }
  }
}
