package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass kernels for the HTML → text extraction chain
  * ([[graft.ops.TextOps.htmlBlockMetrics]] / `htmlExtractText`) — the
  * regex-heaviest per-row work in the library: the expression form runs
  * ~13 sequential `regexp_replace` passes plus a per-word
  * `regexp_replace(lower(w), "[^a-z]", "")` INSIDE a higher-order-function
  * lambda (one interpreted regex execution per word per block). At sf1 the
  * extraction ledger was 11.88 s of the 12.83 s flagship (OPTIMIZATION_r15
  * "Not yet optimized" #1); the kernel replaces every regex with a
  * hand-rolled scanner that reproduces the Java-regex semantics of the
  * original patterns EXACTLY (the patterns are simple: literal-delimited
  * regions, a fixed tag-name alternation, `<[^>]*>`, `\s` runs), so the
  * declared outputs are bit-identical — pinned by a ScalaCheck
  * kernel ≡ regex-chain property (`HtmlKernelSpec`) over adversarial
  * generated HTML plus the oracled q160/q170/q171/q182 hashes.
  *
  * Semantics contract (what "exactly" means, pattern by pattern):
  *   - `(?s)<!--.*?-->` → " ": leftmost `<!--`, shortest `-->`;
  *     an unterminated comment never matches (stays, tags inside it are
  *     stripped individually later) — [[HtmlUtil.stripComments]].
  *   - `(?is)<script(\s[^>]*)?>.*?</script>` (and style/title, then the
  *     `<a…>…</a>` variant with "" replacement): after the ASCII-case-
  *     insensitive name, either an immediate `>`, or one Java `\s` char
  *     ([ \t\n\x0B\f\r]) and everything up to the FIRST `>` (`[^>]*`
  *     cannot cross one); then the shortest case-insensitive close tag.
  *     A failed open (no `>`, or a char like `x` after the name) does not
  *     consume — scanning resumes one char later, exactly like the regex
  *     engine bumping its start position — [[HtmlUtil.stripElement]].
  *   - the block-tag alternation `(?i)</?(p|div|…|nav)(\s[^>]*)?/?>` →
  *     "\n": no listed name is a prefix of another (h[1-6] is 'h' + one
  *     digit), so at most one alternative can match the name at a
  *     position and Java's ordered-alternation backtracking cannot
  *     produce a different match than first-name-wins —
  *     [[HtmlUtil.blockTagsToNewlines]].
  *   - `<[^>]*>` → " ": `<` to the first `>`, crossing anything else
  *     including other `<` — [[HtmlUtil.stripTags]].
  *   - the six entity replaces (`&amp;` LAST) are literal, left-to-right,
  *     non-overlapping. Every pattern contains exactly one `&` (at
  *     position 0) and no replacement value appears inside any pattern,
  *     so candidate matches are disjoint and no pass can create or
  *     destroy a later pass's match: the one-scan fused decoder is
  *     equal to the six sequential passes — [[HtmlUtil.decodeEntities]].
  *   - `split(blocks, "\n")` keeps leading AND trailing empty segments
  *     (Spark's split has limit -1), so block_id numbering is preserved.
  *   - per block: `n_chars` counts code points outside Java `\s`; `text`
  *     is the `\s+`-collapsed, space-trimmed form (= the block's maximal
  *     non-`\s` runs joined by single spaces); the stopword normalization
  *     `regexp_replace(lower(w), "[^a-z]", "")` lowercases all-ASCII
  *     words with the ASCII table and everything else through
  *     [[TextUtil.sparkLower]] — Spark's `lower` itself, under the
  *     session's `spark.sql.icu.caseMappings.enabled` (ICU by default;
  *     `UTF8String.toLowerCase` is only the JVM mapping), so Unicode
  *     one-offs (Kelvin K → k, İ → i̇) normalize identically — then keeps
  *     only `[a-z]`.
  *   - the anchor-variant block list can be SHORTER than the main list
  *     when an anchor body spans a block boundary (malformed HTML; the
  *     expression form's `element_at` would read past it). The kernel
  *     treats the missing pair as an absent anchor measurement
  *     (`anchor_chars` = 0, matching `greatest(null, 0)` under
  *     non-failing element_at semantics) instead of failing the row.
  */
object HtmlUtil {

  private val BlockNames: Array[String] = Array(
    "p", "div", "br", "li", "ul", "ol", "tr", "table", "td", "th",
    "blockquote", "section", "article", "header", "footer", "nav")
  // h[1-6] is handled structurally ('h' + one digit in 1..6)

  // Java regex \s = [ \t\n\x0B\f\r] (ASCII-only without UNICODE_CHARACTER_CLASS)
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** ASCII-case-insensitive region match of `pat` (lowercase) at `pos`. */
  private def matchesCI(s: String, pos: Int, pat: String): Boolean = {
    if (pos + pat.length > s.length) return false
    var i = 0
    while (i < pat.length) {
      if (lowerAscii(s.charAt(pos + i)) != pat.charAt(i)) return false
      i += 1
    }
    true
  }

  /** `(?s)<!--.*?-->` → " ", sequential-replace semantics. */
  def stripComments(s: String): String = {
    var i = s.indexOf("<!--")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (i >= 0) {
      val close = s.indexOf("-->", i + 4)
      if (close < 0) { i = -1 } // unterminated: nothing more can match
      else {
        sb.append(s, pos, i).append(' ')
        pos = close + 3
        i = s.indexOf("<!--", pos)
      }
    }
    sb.append(s, pos, s.length).toString
  }

  /** `(?is)<name(\s[^>]*)?>.*?</name>` → `repl`. `name` must be
    * lowercase ASCII. Reproduces the engine's behavior exactly: a failed
    * match attempt advances the scan by one char without consuming.
    */
  def stripElement(s: String, name: String, repl: String): String = {
    val open = "<" + name
    val close = "</" + name + ">"
    var i = findCI(s, open, 0)
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (i >= 0) {
      var matchEnd = -1
      val q = i + open.length
      if (q < s.length) {
        val c = s.charAt(q)
        var openEnd = -1
        if (c == '>') openEnd = q
        else if (isWs(c)) openEnd = s.indexOf('>', q + 1)
        if (openEnd >= 0) {
          val e = findCI(s, close, openEnd + 1)
          if (e >= 0) matchEnd = e + close.length
        }
      }
      if (matchEnd >= 0) {
        sb.append(s, pos, i).append(repl)
        pos = matchEnd
        i = findCI(s, open, pos)
      } else {
        i = findCI(s, open, i + 1)
      }
    }
    sb.append(s, pos, s.length).toString
  }

  /** First ASCII-CI occurrence of `pat` (lowercase) at or after `from`. */
  private def findCI(s: String, pat: String, from: Int): Int = {
    val c0 = pat.charAt(0) // '<' in every caller — never a letter
    var i = math.max(from, 0)
    val limit = s.length - pat.length
    while (i <= limit) {
      if (s.charAt(i) == c0 && matchesCI(s, i, pat)) return i
      i += 1
    }
    -1
  }

  /** Comments, then script/style/title elements → " " (the
    * [[graft.ops.TextOps]] htmlPreStrip order — sequential, because an
    * earlier pass's removal can expose a later pass's match).
    */
  def preStrip(s: String): String = {
    val noComments = stripComments(s)
    val noScript = stripElement(noComments, "script", " ")
    val noStyle = stripElement(noScript, "style", " ")
    stripElement(noStyle, "title", " ")
  }

  /** Match end (exclusive) of a block tag starting at `i` (s(i)=='<'),
    * or -1: `</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|
    * section|article|header|footer|nav)(\s[^>]*)?/?>` case-insensitive.
    */
  private def blockTagEnd(s: String, i: Int): Int = {
    var j = i + 1
    if (j < s.length && s.charAt(j) == '/') j += 1
    // the name: at most one alternative can match (no name is a prefix
    // of another), so first-match is THE match
    var r = -1
    if (j < s.length) {
      val c = lowerAscii(s.charAt(j))
      if (c == 'h' && j + 1 < s.length) {
        val d = s.charAt(j + 1)
        if (d >= '1' && d <= '6') r = j + 2
      }
      if (r < 0) {
        var n = 0
        while (r < 0 && n < BlockNames.length) {
          val name = BlockNames(n)
          if (name.charAt(0) == c && matchesCI(s, j, name)) r = j + name.length
          n += 1
        }
      }
    }
    if (r < 0 || r >= s.length) return -1
    val c = s.charAt(r)
    if (c == '>') r + 1
    else if (isWs(c)) {
      val g = s.indexOf('>', r + 1)
      if (g >= 0) g + 1 else -1
    } else if (c == '/' && r + 1 < s.length && s.charAt(r + 1) == '>') r + 2
    else -1
  }

  /** Block-level tags → "\n" ([[graft.ops.TextOps]] htmlToRawBlocks step 1). */
  def blockTagsToNewlines(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    var i = s.indexOf('<')
    while (i >= 0) {
      val end = blockTagEnd(s, i)
      if (end >= 0) {
        sb.append(s, pos, i).append('\n')
        pos = end
        i = s.indexOf('<', end)
      } else {
        i = s.indexOf('<', i + 1)
      }
    }
    sb.append(s, pos, s.length).toString
  }

  /** `<[^>]*>` → " " (every remaining tag). */
  def stripTags(s: String): String = {
    var i = s.indexOf('<')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (i >= 0) {
      val g = s.indexOf('>', i + 1)
      if (g < 0) { i = -1 } // no '>' anywhere after: nothing more matches
      else {
        sb.append(s, pos, i).append(' ')
        pos = g + 1
        i = s.indexOf('<', pos)
      }
    }
    sb.append(s, pos, s.length).toString
  }

  private val Entities: Array[(String, Char)] = Array(
    "&lt;" -> '<', "&gt;" -> '>', "&quot;" -> '"', "&#39;" -> '\'',
    "&nbsp;" -> ' ', "&amp;" -> '&')

  /** The six literal entity replaces fused into one scan — equal to the
    * sequential passes because every pattern starts with its only `&`
    * (candidate matches disjoint) and no replacement value occurs inside
    * any pattern (no pass creates a later match); `&amp;lt;` therefore
    * decodes to the literal text `&lt;`, the standard single-pass rule.
    */
  def decodeEntities(s: String): String = {
    var i = s.indexOf('&')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (i >= 0) {
      var hit = -1
      var e = 0
      while (hit < 0 && e < Entities.length) {
        val pat = Entities(e)._1
        if (s.startsWith(pat, i)) hit = e
        e += 1
      }
      if (hit >= 0) {
        val (pat, repl) = Entities(hit)
        sb.append(s, pos, i).append(repl)
        pos = i + pat.length
        i = s.indexOf('&', pos)
      } else {
        i = s.indexOf('&', i + 1)
      }
    }
    sb.append(s, pos, s.length).toString
  }

  /** htmlToRawBlocks: block tags → newlines, other tags → spaces, entity
    * decode. Split on '\n' happens in [[blocksOf]].
    */
  def rawBlocks(preStripped: String): String =
    decodeEntities(stripTags(blockTagsToNewlines(preStripped)))

  /** Split on '\n' keeping leading and trailing empty segments (Spark's
    * `split(col, "\n")` = Pattern.split with limit -1; "" → [""]).
    */
  def blocksOf(s: String): Array[String] = {
    var n = 1
    var i = s.indexOf('\n')
    while (i >= 0) { n += 1; i = s.indexOf('\n', i + 1) }
    val out = new Array[String](n)
    var pos = 0
    var w = 0
    i = s.indexOf('\n')
    while (i >= 0) {
      out(w) = s.substring(pos, i)
      w += 1
      pos = i + 1
      i = s.indexOf('\n', pos)
    }
    out(w) = s.substring(pos)
    out
  }

  /** Code points outside Java `\s` — `length(regexp_replace(b, "\s+", ""))`. */
  def nonWsChars(s: String): Long = {
    var i = 0
    var n = 0L
    while (i < s.length) {
      val c = s.charAt(i)
      if (!isWs(c)) {
        n += 1
        // surrogate pair = one code point (UTF8String.numChars semantics)
        if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) i += 1
      }
      i += 1
    }
    n
  }

  /** Stopword list for the block classifier (jusText's stopword-density
    * signal; a tiny high-frequency English set — swap per language). The
    * one copy: [[graft.ops.TextOps.HtmlStopwords]] is this list.
    */
  private[graft] val Stopwords: Array[String] = Array(
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for")

  /** Longest stopword: [[isStopword]] gathers at most this many letters. */
  private val MaxStopwordLength = Stopwords.map(_.length).max
  require(MaxStopwordLength <= 8,
    s"every stopword must fit isStopword's 8-char buffer; longest is $MaxStopwordLength")

  /** Is `regexp_replace(lower(word), "[^a-z]", "")` a stopword? The word
    * is s[from, to). All-ASCII words take the table path; any non-ASCII
    * char routes the WHOLE word through [[TextUtil.sparkLower]] (Spark's
    * `lower` under `useICU`) before the [a-z] filter.
    */
  private def isStopword(s: String, from: Int, to: Int, useICU: Boolean): Boolean = {
    val buf = new Array[Char](8)
    var n = 0
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c >= 0x80) return isStopwordSlow(s.substring(from, to), useICU)
      val lc = lowerAscii(c)
      if (lc >= 'a' && lc <= 'z') {
        if (n == MaxStopwordLength) return false
        buf(n) = lc
        n += 1
      }
      i += 1
    }
    stopwordLookup(buf, n)
  }

  private def isStopwordSlow(word: String, useICU: Boolean): Boolean = {
    val lowered = TextUtil.sparkLower(UTF8String.fromString(word), useICU).toString
    val buf = new Array[Char](8)
    var n = 0
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if (c >= 'a' && c <= 'z') {
        if (n == MaxStopwordLength) return false
        buf(n) = c
        n += 1
      }
      i += 1
    }
    stopwordLookup(buf, n)
  }

  private def stopwordLookup(buf: Array[Char], n: Int): Boolean = {
    if (n == 0) return false
    var w = 0
    while (w < Stopwords.length) {
      val sw = Stopwords(w)
      if (sw.length == n) {
        var i = 0
        var ok = true
        while (ok && i < n) { ok = sw.charAt(i) == buf(i); i += 1 }
        if (ok) return true
      }
      w += 1
    }
    false
  }

  /** One raw block's metrics in a single scan: (collapsed text, non-ws
    * code points, word count, stopword hits).
    */
  private def blockScan(b: String, useICU: Boolean): (String, Long, Long, Long) = {
    val text = new java.lang.StringBuilder(b.length)
    var nChars = 0L
    var nWords = 0L
    var stopHits = 0L
    var i = 0
    while (i < b.length) {
      // skip a whitespace run
      while (i < b.length && isWs(b.charAt(i))) i += 1
      if (i < b.length) {
        val start = i
        while (i < b.length && !isWs(b.charAt(i))) {
          val c = b.charAt(i)
          nChars += 1
          if (Character.isHighSurrogate(c) && i + 1 < b.length &&
            Character.isLowSurrogate(b.charAt(i + 1))) i += 1
          i += 1
        }
        nWords += 1
        if (isStopword(b, start, i, useICU)) stopHits += 1
        if (text.length > 0) text.append(' ')
        text.append(b, start, i)
      }
    }
    (text.toString, nChars, nWords, stopHits)
  }

  import graft.ops.TextOps.HtmlMinBlockChars

  /** The full block-metrics pipeline over a raw HTML string. Returns the
    * kept blocks (n_chars > 0) as parallel arrays via the visitor to keep
    * both kernels allocation-lean.
    */
  private def scanBlocks(html: String, useICU: Boolean)(
      visit: (Long, String, Long, Long, Long, Long,
              Boolean, Boolean, Boolean, Boolean) => Unit): Unit = {
    val pre = preStrip(html)
    val withAnchors = blocksOf(rawBlocks(pre))
    val noAnchors = blocksOf(rawBlocks(stripElement(pre, "a", "")))
    var i = 0
    while (i < withAnchors.length) {
      val a = withAnchors(i)
      val (text, nsA, nWords, stopHits) = blockScan(a, useICU)
      if (nsA > 0L) {
        // missing pair (anchor spanned a block boundary): anchor = 0,
        // matching greatest(nsA - null, 0) in the expression form
        val anchor =
          if (i < noAnchors.length) math.max(nsA - nonWsChars(noAnchors(i)), 0L)
          else 0L
        val lenOk = nsA >= HtmlMinBlockChars
        val linkOk = anchor * 5L <= nsA
        val stopOk = stopHits * 10L >= nWords * 3L
        visit(i + 1L, text, nsA, anchor, nWords, stopHits,
          lenOk, linkOk, stopOk, lenOk && linkOk && stopOk)
      }
      i += 1
    }
  }

  /** Kernel for [[graft.ops.TextOps.htmlBlockMetrics]]: array of
    * (block_id, text, n_chars, anchor_chars, n_words, stop_hits, len_ok,
    * link_ok, stop_ok, good) structs, non-empty blocks only.
    */
  def blockMetrics(html: UTF8String, useICU: Boolean): ArrayData = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    scanBlocks(html.toString, useICU) {
      (id, text, nChars, anchor, nWords, stopHits, lenOk, linkOk, stopOk, good) =>
        rows += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](id, UTF8String.fromString(text), nChars, anchor,
            nWords, stopHits, lenOk, linkOk, stopOk, good))
    }
    new GenericArrayData(rows.toArray)
  }

  /** Kernel for [[graft.ops.TextOps.htmlExtractText]]: the good blocks'
    * collapsed text joined with newlines ("" when no block survives).
    */
  def extractText(html: UTF8String, useICU: Boolean): UTF8String = {
    val sb = new java.lang.StringBuilder()
    scanBlocks(html.toString, useICU) {
      (_, text, _, _, _, _, _, _, _, good) =>
        if (good) {
          if (sb.length > 0) sb.append('\n')
          sb.append(text)
        }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Whole-stage-codegen expression over [[HtmlUtil.extractText]]. Null html
  * → null (the expression form's explicit `when(html.isNull, null)`).
  */
case class HtmlExtractText(child: Expression)
    extends UnaryKernel("html_extract_text", StringType, StringType, "HtmlUtil.extractText") {
  private lazy val useICU: Boolean = TextUtil.icuCaseMappings()

  override protected def nullSafeEval(input: Any): Any =
    HtmlUtil.extractText(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => call(c, useICU))

  override protected def withNewChildInternal(newChild: Expression): HtmlExtractText =
    copy(child = newChild)
}

/** Whole-stage-codegen expression over [[HtmlUtil.blockMetrics]]. Null
  * html → null array (the regexp_replace-chain null propagation).
  */
case class HtmlBlockMetrics(child: Expression)
    extends UnaryKernel("html_block_metrics", StringType, ArrayType(StructType(Seq(
      StructField("block_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false),
      StructField("anchor_chars", LongType, nullable = false),
      StructField("n_words", LongType, nullable = false),
      StructField("stop_hits", LongType, nullable = false),
      StructField("len_ok", BooleanType, nullable = false),
      StructField("link_ok", BooleanType, nullable = false),
      StructField("stop_ok", BooleanType, nullable = false),
      StructField("good", BooleanType, nullable = false))),
      containsNull = false), "HtmlUtil.blockMetrics") {
  private lazy val useICU: Boolean = TextUtil.icuCaseMappings()

  override protected def nullSafeEval(input: Any): Any =
    HtmlUtil.blockMetrics(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => call(c, useICU))

  override protected def withNewChildInternal(newChild: Expression): HtmlBlockMetrics =
    copy(child = newChild)
}

object htmlNative {
  /** Column wrapper over [[HtmlExtractText]]. */
  def htmlExtractText(html: Column): Column =
    GraftBridge.column(HtmlExtractText(GraftBridge.expression(html)))

  /** Column wrapper over [[HtmlBlockMetrics]]. */
  def htmlBlockMetrics(html: Column): Column =
    GraftBridge.column(HtmlBlockMetrics(GraftBridge.expression(html)))
}
