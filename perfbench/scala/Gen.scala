package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every value is a pure function of (seed, row
  * id), so the same seed gives the same inputs whatever the partitioning.
  * The program under test only ever sees the written tables.
  */
final class Gen(spark: SparkSession, seed: Long) {

  /** Uniform long in [0, n) keyed by (seed, salt, id). */
  def pick(id: Column, salt: String, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  def unit(id: Column, salt: String): Column =
    pick(id, salt, 1000000L).cast("double") / 1000000.0

  /** Exact injected-row id sets, drawn on the driver so the expected
    * violation counts are known without asking the layer under test.
    */
  def idSet(salt: String, count: Int, bound: Long): Set[Long] = {
    val rnd = new scala.util.Random(seed * 7919L + salt.hashCode)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < count) out += (rnd.nextDouble() * bound).toLong
    out.toSet
  }

  private def inSet(c: Column, ids: Set[Long]): Column =
    if (ids.isEmpty) lit(false) else c.isin(ids.toSeq: _*)

  /** lineitem with `rows` rows; row r is (orderkey r/4, linenumber r%4+1). */
  def lineitem(rows: Long, inj: Gen.Injected): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, 8).select(
      (id / 4).cast("long").as("l_orderkey"),
      pick(id, "part", 20000L).as("l_partkey"),
      pick(id, "supp", 1000L).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      when(inSet(id, inj.quantity), lit(99.0))
        .otherwise((pick(id, "qty", 50L) + 1).cast("double")).as("l_quantity"),
      round(unit(id, "price") * 90000.0 + 900.0, 2).as("l_extendedprice"),
      when(inSet(id, inj.discount), lit(-0.5))
        .otherwise(pick(id, "disc", 11L).cast("double") / 100.0).as("l_discount"),
      when(inSet(id, inj.nullTax), lit(null).cast("double"))
        .otherwise(pick(id, "tax", 9L).cast("double") / 100.0).as("l_tax"),
      when(inSet(id, inj.flag), lit("X"))
        .otherwise(element_at(array(lit("A"), lit("N"), lit("R")),
          (pick(id, "flag", 3L) + 1).cast("int"))).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pick(id, "status", 2L) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + pick(id, "ship", 2500L) * 86400L)
        .as("l_shipdate"))
  }

  def orders(rows: Long, customers: Long): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, 4).select(
      id.as("o_orderkey"),
      pick(id, "cust", customers).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pick(id, "ostatus", 3L) + 1).cast("int")).as("o_orderstatus"),
      round(unit(id, "total") * 400000.0 + 800.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + pick(id, "odate", 2400L) * 86400L)
        .as("o_orderdate"),
      concat(lit("prio-"), pick(id, "prio", 5L).cast("string"))
        .as("o_orderpriority"))
  }

  def customer(rows: Long): DataFrame = {
    val id = col("id")
    spark.range(0, rows, 1, 2).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), id.cast("string")).as("c_name"),
      pick(id, "nation", 25L).cast("int").as("c_nationkey"),
      round(unit(id, "bal") * 11000.0 - 1000.0, 2).as("c_acctbal"),
      element_at(array(Gen.Segments.map(lit): _*),
        (pick(id, "seg", Gen.Segments.size.toLong) + 1).cast("int"))
        .as("c_mktsegment"))
  }

  /** Near-duplicate structure of a document/vector corpus: `root` is the id
    * whose generated body a row carries. A row is a near-duplicate copy of
    * an earlier row with probability `dupShare`; copies share the root's
    * body and add a short distinct tail.
    */
  def roots(from: Long, until: Long, dupShare: Double): DataFrame = {
    val id = col("id")
    def drawn(x: Column) = x > from && unit(x, "dup") < dupShare
    val target = greatest(lit(from), id - pick(id, "back", 40L) - 1)
    // a copy never targets another copy, so every group is one root plus
    // the copies of its body
    val isCopy = drawn(id) && !drawn(target)
    spark.range(from, until, 1, 4).select(
      id, when(isCopy, target).otherwise(id).as("root"), isCopy.as("is_copy"))
  }

  private val stops: Column = array(Gen.Stopwords.map(lit): _*)
  private val words: Column = array(Gen.Words.map(lit): _*)

  /** Word `p` of the generated body of `root`: a stopword 35% of the time. */
  private def word(root: Column, p: Column): Column = {
    val h = xxhash64(lit(seed), lit("w"), root, p)
    def at(a: Column, n: Int) = element_at(a, (pmod(h, lit(n.toLong)) + 1).cast("int"))
    when(pmod(h, lit(100L)) < 35, at(stops, Gen.Stopwords.size))
      .otherwise(at(words, Gen.Words.size))
  }

  /** Body text: sentences of 9 words ending in '.', 6–12 sentences. */
  def bodyText(root: Column): Column = {
    val nSent = (pmod(xxhash64(lit(seed), lit("ns"), root), lit(7L)) + 6).cast("int")
    array_join(transform(sequence(lit(1), nSent), s =>
      concat(array_join(transform(sequence(lit(1), lit(9)),
        p => word(root, s * 16 + p)), " "), lit("."))), " ")
  }

  /** Documents (doc_id, text, lang, source, n_chars) over ids [from, until). */
  def documents(from: Long, until: Long, dupShare: Double): DataFrame = {
    val body = bodyText(col("root"))
    val text = when(col("is_copy"),
      concat(body, lit(" it was edited by "), col("id").cast("string"), lit(".")))
      .otherwise(body)
    roots(from, until, dupShare).select(
      col("id").as("doc_id"), text.as("text"),
      element_at(array(Gen.Langs.map(lit): _*),
        (pick(col("root"), "lang", Gen.Langs.size.toLong) + 1).cast("int")).as("lang"),
      concat(lit("src"), pick(col("id"), "src", Gen.Sources.toLong).cast("string"))
        .as("source"),
      col("root"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float vectors in [-1, 1]^64; copies add up to 2% noise per
    * component to their root's vector.
    */
  def embeddings(from: Long, until: Long, dupShare: Double): DataFrame = {
    def comp(h: Column): Column =
      (pmod(h, lit(2001L)).cast("double") - 1000.0) / 1000.0
    val vec = transform(sequence(lit(0), lit(Gen.Dim - 1)), i =>
      (comp(xxhash64(lit(seed), lit("v"), col("root"), i)) +
        when(col("is_copy"), comp(xxhash64(lit(seed), lit("n"), col("id"), i)) * 0.02)
          .otherwise(lit(0.0))).cast("float"))
    roots(from, until, dupShare).select(col("id").as("vec_id"), vec.as("embedding"),
      pick(col("root"), "label", 5L).cast("int").as("label"), col("root"))
  }

  /** Crawl pages over generated documents: URL, source and an HTML page with
    * navigation boilerplate around the body. Planted casualties by id:
    * blocked hosts (id % 37 in {5, 11}), a leaked eval sentence (id % 13 == 0)
    * and a lorem paragraph (id % 7 == 0).
    */
  def crawl(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, col("source"),
      concat(lit("https://www.site"), pmod(id, lit(37L)).cast("string"),
        lit(".example.com/a/"), id.cast("string")).as("url"),
      concat(
        lit("<html><head><style>body { color: red }</style><title>Page</title>" +
          "</head><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a></div><p>It is the body of the page " +
          "that it is in for the set of it and it is of the day that it is " +
          "in it for the set of it: "),
        col("text"),
        lit(" and that is the end of it in the set of the page.</p><p>It is a " +
          "pleasant morning for the people of the village and the weather is " +
          "a gentle presence in all of the streets.</p><p>The point of it is " +
          "that the work of the day sits in the middle of it for all of the " +
          "people involved.</p>"),
        when(pmod(id, lit(13L)) === 0, lit("<p>" + Gen.EvalSentence + "</p>"))
          .otherwise(lit("")),
        when(pmod(id, lit(7L)) === 0, lit("<p>lorem ipsum dolor sit amet the " +
          "words go on in the line of it okay.</p>")).otherwise(lit("")),
        lit("<footer><a href=\"/legal\">Legal notice</a></footer></body></html>"))
        .as("html"))
  }
}

object Gen {
  /** Row ids of lineitem carrying each injected violation. */
  final case class Injected(quantity: Set[Long], discount: Set[Long],
      flag: Set[Long], nullTax: Set[Long])

  val Dim = 64
  val Sources = 12
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Langs = Seq("en", "en", "en", "de", "fr")
  val EvalSentence =
    "It is the case that the answer to the benchmark question is in the set."
  /** Stopwords keep the HTML and Gopher stop-density rules satisfied; the
    * w-words make unrelated documents share few shingles.
    */
  val Stopwords: Seq[String] =
    Seq("the", "of", "and", "to", "in", "is", "it", "that", "for", "with",
      "as", "on", "be", "at", "by", "this", "from", "or", "an", "are")
  val Words: Seq[String] =
    Seq("data", "query", "table", "spark", "index", "shard", "model", "value",
      "batch", "stream", "vector", "filter", "join", "merge", "window") ++
      (0 until 900).map(i => s"w$i")
}
