package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec

/** The char-n-gram kernels against their specs.
  *
  *   - [[NormalizedCharNgrams]] ≡ the composition it replaces,
  *     `char_ngrams(regexp_replace(lower(trim(t)), "\\s+", " "), n)`,
  *     under both `spark.sql.icu.caseMappings.enabled` settings.
  *   - the linear [[TextUtil.charNgrams]] ≡ one `substringSQL(i + 1, n)`
  *     per gram, the quadratic loop it replaces, on valid UTF-8.
  */
object CharNgramsProps extends Properties("graft.ngrams") {

  private lazy val spark = SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private val IcuConf = "spark.sql.icu.caseMappings.enabled"

  /** Case-sensitive code points: Kelvin sign, dotted capital I, Greek
    * sigma in both final and medial position, sharp s, a titlecase
    * digraph; capitals newer than the JVM's Unicode tables, which only
    * ICU lowercases (U+A7C0, U+2C2F, U+10570); CJK; 4-byte
    * (surrogate-pair) characters; and whitespace that Java's `\s` does
    * not match (NBSP, U+2028, ideographic space).
    */
  private val nonAscii: Seq[String] = Seq(
    "\u212A", "\u0130", "\u03A3", "\u03C3", "\u03C2", "\u00DF", "\u01C5", "\u00C9",
    "\uA7C0", "\u2C2F", "\uD801\uDD70", "\u00E9", "\u4E2D", "\uD83D\uDE00",
    "\uD801\uDC00", "\u00A0", "\u2028", "\u3000")

  private val asciiChar: Gen[String] = Gen.frequency(
    6 -> Gen.alphaChar.map(_.toString),
    1 -> Gen.numChar.map(_.toString),
    1 -> Gen.oneOf(".", ",", "-", "'", "!", "~"),
    4 -> Gen.oneOf(" ", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", " \t\r\n "))

  private def text(nonAsciiWeight: Int): Gen[String] =
    Gen.choose(0, 24).flatMap(len => Gen.listOfN(len,
      Gen.frequency(10 -> asciiChar, nonAsciiWeight -> Gen.oneOf(nonAscii))))
      .map(_.mkString)

  /** A batch of rows: about half all-ASCII (the fast path), half mixed
    * (the exact fallback), nulls, and fixed edge cases.
    */
  private val batch: Gen[Seq[String]] = for {
    ascii <- Gen.listOfN(8, text(0))
    mixed <- Gen.listOfN(8, text(3))
    lead <- Gen.listOfN(4, text(2).map(t => "  " + t + " \t "))
  } yield ascii ++ mixed ++ lead ++ Seq(
    null, "", " ", "   ", "\t", " \t\n\u000B\f\r ", "a", "Ab", "  A  B  ",
    "\u03BF\u0394\u039F\u03A3", "\u0130stanbul \u212Aelvin", "\uD83D\uDE00\uD83D\uDE00x", "   x  y ",
    "\uA7C0\u2C2F \uD801\uDD70")

  private def docs(texts: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))

  private def escaped(t: String): String = t.map(c => f"\\u${c.toInt}%04x").mkString

  private def spec(t: Column, n: Int): Column =
    native.charNgrams(regexp_replace(lower(trim(t)), "\\s+", " "), n)

  /** Rows whose kernel and spec grams differ, under one ICU setting. */
  private def mismatches(texts: Seq[String], n: Int, icu: Boolean): Seq[String] = {
    spark.conf.set(IcuConf, icu)
    try docs(texts)
      .select(col("text"), native.normalizedCharNgrams(col("text"), n).as("k"),
        spec(col("text"), n).as("s"))
      .where(!(col("k") <=> col("s")))
      .collect().map(r => Option(r.getString(0)).fold("null")(escaped)).toSeq
    finally spark.conf.unset(IcuConf)
  }

  property("normalizedCharNgrams ≡ charNgrams(regexp_replace(lower(trim(t)), \\s+, ' '))") =
    forAll(batch, Gen.choose(1, 6)) { (texts, n) =>
      Prop.all(Seq(true, false).map { icu =>
        val bad = mismatches(texts, n, icu)
        bad.isEmpty :| s"icu=$icu n=$n differs on: ${bad.take(3).mkString(" | ")}"
      }: _*)
    }

  /** The loop the linear kernel replaced: O(chars) per gram. */
  private def substringLoop(s: UTF8String, n: Int): Seq[UTF8String] =
    (0 to s.numChars() - n).map(i => s.substringSQL(i + 1, n))

  property("linear charNgrams ≡ the substringSQL loop on valid UTF-8") =
    forAll(text(3), Gen.choose(1, 8)) { (t, n) =>
      val s = UTF8String.fromString(t)
      val out = TextUtil.charNgrams(s, n)
      val got = (0 until out.numElements()).map(out.getUTF8String)
      (got == substringLoop(s, n)) :| s"n=$n on ${escaped(t)}"
    }
}

class CharNgramsSparkSpec extends graft.SparkSpec {

  private def hex(bs: Seq[Array[Byte]]): Seq[String] =
    bs.map(_.map(b => f"${b & 0xff}%02X").mkString(" "))

  /** Each n's grams of `cast(b as string)` as raw bytes, through the
    * Column API and the SQL function.
    */
  private def gramBytes(df: DataFrame, ns: Seq[Int]): Seq[Seq[String]] = {
    df.createOrReplaceTempView("graft_ngram_tail")
    val api = ns.map(n => transform(native.charNgrams(col("b").cast("string"), n),
      g => g.cast("binary")))
    val sql = ns.map(n => expr(s"transform(char_ngrams(cast(b AS string), $n), g -> cast(g AS binary))"))
    val r = spark.table("graft_ngram_tail").select(api ++ sql: _*).head()
    (0 until r.length).map(i => hex(r.getSeq[Array[Byte]](i)))
  }

  test("char_ngrams of a truncated UTF-8 tail stays within the input, whatever the row layout") {
    // the last lead byte (E2) declares a 3-byte character; only 2 bytes remain
    val tails = Seq(
      Array[Byte](0x61, 0xE2.toByte, 0x82.toByte) ->
        Seq(Seq("61", "E2 82"), Seq("61 E2 82")),
      (Array.fill[Byte](6)(0x62) ++ Array[Byte](0xE2.toByte, 0x82.toByte)) ->
        Seq(Seq.fill(6)("62") :+ "E2 82", Seq.fill(5)("62 62") :+ "62 E2 82"))
    tails.foreach { case (bytes, expected) =>
      val alone = frame(StructType(Seq(StructField("b", BinaryType))), Row(bytes))
      val packed = frame(
        StructType(Seq(StructField("pre", StringType), StructField("b", BinaryType),
          StructField("post", BinaryType))),
        Row("\u00FF" * 9, bytes, Array.fill[Byte](24)(0x7F)))
      val a = gramBytes(alone, Seq(1, 2))
      assert(a == expected ++ expected, s"grams left the input: $a")
      assert(gramBytes(packed, Seq(1, 2)) == a, "grams depend on the row layout")
    }
  }
}
