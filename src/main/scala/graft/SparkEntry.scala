package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.frame.ModeledFrame
import graft.relation.Relation

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with DuckDB-equivalent `oracleSql` where the operator
  * is SQL-expressible. Conventions for exact cross-engine hash parity:
  *
  *   - every query has a TOTAL deterministic ORDER BY (unique key or full
  *     row), since row order feeds the driver's hash;
  *   - double aggregates go through decimal: `sum(cast(x as decimal(18,2)))`
  *     — exact arithmetic, immune to float summation-order nondeterminism —
  *     then a final cast to DOUBLE. Output columns are never decimal:
  *     DuckDB's pandas conversion renders DECIMAL as float64 while Spark
  *     parquet read back through Arrow keeps Decimal objects, so a decimal
  *     output hash-mismatches whenever the repr differs (`44.00` vs `44.0`)
  *     even though the values are equal. Casting the same exact decimal to
  *     double is deterministic in both engines → identical float64 bits;
  *   - integer aggregates are cast to bigint in the SQL (DuckDB's sum(int)
  *     returns hugeint, Spark's returns long);
  *   - `events.ts` (parquet ns) is read as long and converted with
  *     `timestamp_micros(ts div 1000)`, matching DuckDB's ns→us cast.
  */
object SparkEntry {

  private def rel(s: SparkSession, dir: String, name: String): Relation =
    Relation(Tables(s, dir, name))

  /** A query's scratch dir, `/tmp/graft_<tag>_<sf>`: where an index,
    * shard log or model lives, or where a query materializes tables (q62's
    * Spark-extracted feature vectors, a classifier's quantized weights) so
    * the DuckDB oracle reads the SAME values. Absolute path: the oracle
    * runs in a separate process with its own cwd. SUFFIXED with the sf-dir
    * basename so a bench run at sf0.1 cannot overwrite the tables a
    * correctness compare at sf0.01 is about to read — the static oracle
    * SQL names the sf0.01 dirs, the scale correctness is checked at
    * (a Verify at any other sf fails those compares VISIBLY instead of
    * silently reading another run's tables).
    */
  private[graft] def scratchDir(tag: String, sfDir: String): String =
    s"/tmp/graft_${tag}_${new java.io.File(sfDir).getName}"

  /** Shared q189/q190/q191 scored frame: q143's integer NB scores against
    * the query's own materialized model, plus the lang-derived truth —
    * ONE definition so a ladder-rule fix cannot drift across the three.
    */
  private def sweepScored(s: SparkSession, d: String, dir: String): DataFrame = {
    val (w, oov, prior) = binaryNbMaterialized(s, d, dir)
    val docs = Tables(s, d, "documents")
    graft.ops.LangModel.scoreTokenWeights(docs, "doc_id", "text", w, oov, prior)
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("pos")),
        "doc_id")
  }

  /** The exact `min + i·span div 8` candidate ladder, DEDUPED — a
    * degenerate one-score corpus collapses all seven candidates to one
    * threshold (mirrored by the oracle's `SELECT DISTINCT` th CTE —
    * the dedup must happen BEFORE the th×labels join: duplicate th rows
    * of the same value land in ONE confusion group but contribute each
    * labeled row once PER duplicate, multiplying tp/fp/fn/tn by the
    * duplicate count — ppm columns cancel under that scaling, the raw
    * counts do not) instead of tripping thresholdSweep's duplicate
    * guard; empty when nothing scored (the oracle th's
    * `WHERE mn IS NOT NULL` case — zero rows, matching
    * emptySweepFrame, not one NULL-threshold row).
    */
  private def sweepLadder(scored: DataFrame): Seq[Long] = {
    val r = scored.agg(min(col("score")), max(col("score"))).head()
    if (r.isNullAt(0)) Seq.empty
    else {
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      (1 to 7).map(i => mn + (mx - mn) * i / 8).distinct
    }
  }

  /** The 0-row sweep report (schema-matched to thresholdSweep) for a
    * corpus with nothing scored — the oracle replay's own answer.
    */
  private def emptySweepFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .toDF("threshold", "tp", "fp", "fn", "tn",
        "precision_ppm", "recall_ppm", "f1_ppm")
  }

  /** Shared q184/q185 learned weights: the synthesized loss log (proxy =
    * n_chars micro-nats, flat 290k reference) through the exact DoReMi
    * recursion.
    */
  private def doremiLearnedWeights(
      s: SparkSession, d: String): Seq[(String, Long)] = {
    val docs = Tables(s, d, "documents")
    val losses = docs.where(col("lang").isNotNull).select(
      (col("doc_id") % 6).as("step"), col("lang").as("domain"),
      (col("n_chars") * 1000L).as("proxy_micro"),
      lit(290000L).as("ref_micro"))
    graft.ops.Sampling.doremiWeights(
      losses, "step", "domain", "proxy_micro", "ref_micro")
  }

  /** q154's blocklist: single- and multi-token phrases over the synthetic
    * vocabulary, chosen so sf0.01 hits range from rare (1 doc) to common
    * (hundreds) — the sorted-normalized form the oracle's VALUES list
    * mirrors verbatim.
    */
  private val q154Blocklist = Seq(
    "vector", "customer query", "slow filter", "fast table value",
    "window merge")

  /** q156's waterfill weights: two heavy sources that must saturate at
    * sf0.01 (share ≈ 123 rows vs 25 available), one explicit exclusion,
    * the rest at weight 1 — mirrored by the oracle's VALUES-over-range
    * CASE.
    */
  private val q156Weights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (i match {
      case 0 | 1 => 40L
      case 2 => 0L
      case _ => 1L
    })).toMap

  /** q157's token-space weights: src3 wants ~61% of the 3000-token budget
    * but holds ~700 tokens at sf0.01 — saturation + redistribution in
    * token space.
    */
  private val q157Weights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (if (i == 3) 30L else 1L)).toMap

  /** q160's pipeline weights: over the blocklist SURVIVORS (2-9 rows per
    * source at sf0.01) the weight-20 source saturates immediately and the
    * redistribution cascades through several rounds of weight-1 sources.
    */
  private val q160Weights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (if (i == 0) 20L else 1L)).toMap

  /** Model tables materialized under a query's scratch dir `out` — the
    * q62 discipline: DuckDB must integer-sum the IDENTICAL quantized
    * values. A train phase writes them; the score phase re-reads them,
    * so the queries and their bench breakdown rows share one layout.
    * Binary NB: `weights` + one-row `meta(oov_weight, prior)`.
    */
  private def writeNb(s: SparkSession, model: graft.ops.LangModel.TokenClassifier,
      out: String): Unit = {
    model.weights.write.mode("overwrite").parquet(s"$out/weights")
    import s.implicits._
    Seq((model.oovWeight, model.prior)).toDF("oov_weight", "prior")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  private def readNb(s: SparkSession, out: String): (DataFrame, Long, Long) = {
    val meta = s.read.parquet(s"$out/meta").head()
    (s.read.parquet(s"$out/weights"),
      meta.getAs[Long]("oov_weight"), meta.getAs[Long]("prior"))
  }

  /** The binary NB quality classifier (positives = 'en') trained on the
    * %3 held-in slice, written under `out`.
    */
  private def trainNb(s: SparkSession, d: String, out: String): Unit =
    writeNb(s, graft.ops.LangModel.trainTokenClassifier(
      labeledDocs(Tables(s, d, "documents").where(col("doc_id") % 3 =!= 0)),
      "text", "pos"), out)

  private def binaryNbMaterialized(
      s: SparkSession, d: String, out: String): (DataFrame, Long, Long) = {
    trainNb(s, d, out)
    readNb(s, out)
  }

  /** The bigram LM trained on the %3 held-in slice, written under `out`:
    * `bigrams`, `fallback` and one-row `meta(floor_lp)`.
    */
  private def trainLm(s: SparkSession, d: String, out: String): Unit = {
    val lm = graft.ops.LangModel.trainBigramLm(
      Tables(s, d, "documents").where(col("doc_id") % 3 =!= 0), "text")
    lm.bigrams.write.mode("overwrite").parquet(s"$out/bigrams")
    lm.fallback.write.mode("overwrite").parquet(s"$out/fallback")
    import s.implicits._
    Seq(lm.floorLp).toDF("floor_lp")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/meta")
  }

  private def readLm(s: SparkSession, out: String): (DataFrame, DataFrame, Long) =
    (s.read.parquet(s"$out/bigrams"), s.read.parquet(s"$out/fallback"),
      s.read.parquet(s"$out/meta").head().getAs[Long]("floor_lp"))

  /** Multiclass NB: `weights` + `class_meta`. */
  private def writeMulticlass(
      model: graft.ops.LangModel.MulticlassClassifier, out: String): Unit = {
    model.weights.write.mode("overwrite").parquet(s"$out/weights")
    model.classMeta.coalesce(1).write.mode("overwrite").parquet(s"$out/class_meta")
  }

  private def readMulticlass(s: SparkSession, out: String): (DataFrame, DataFrame) =
    (s.read.parquet(s"$out/weights"), s.read.parquet(s"$out/class_meta"))

  /** The multiclass NB (class = lang) trained on the %3 held-in slice. */
  private def multiclassMaterialized(
      s: SparkSession, d: String, out: String): (DataFrame, DataFrame) = {
    writeMulticlass(graft.ops.LangModel.trainMulticlassClassifier(
      Tables(s, d, "documents").where(col("doc_id") % 3 =!= 0), "text", "lang"), out)
    readMulticlass(s, out)
  }

  /** Mixed-script corpus for the char-n-gram language-ID (q172): every
    * doc gets a per-lang script tail — zh a WHITESPACE-FREE CJK run
    * glued to the last word (the case token language-ID cannot see: the
    * whole run plus its neighbor is ONE "word", unique per context),
    * the Latin langs diacritic-bearing stopword tails (also exercising
    * code-point vs byte indexing cross-engine).
    */
  private def scriptAugDocs(s: SparkSession, d: String) =
    docsParallel(s, d).where(col("text").isNotNull).select(
      col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("lang") === "zh", lit("数据系统的处理与分析测试"))
          .when(col("lang") === "de", lit(" über die straße größe müssen schön"))
          .when(col("lang") === "es", lit(" el niño señor años español según"))
          .when(col("lang") === "fr", lit(" être déjà français où ça même"))
          .otherwise(lit(" the quick brown fox jumps over the lazy dog")))
        .as("t"))

  /** q107's paragraph-augmented corpus (a corpus-wide shared paragraph +
    * a %7 class paragraph), shared by q107 and the q108 index lifecycle.
    */
  private def docsWithParagraphs(s: SparkSession, d: String) =
    docsParallel(s, d).where(col("text").isNotNull).select(
      col("doc_id"),
      concat(
        col("text"), lit("\n\n"),
        lit("shared boilerplate paragraph"), lit("\n\n"),
        concat(lit("para-"), (col("doc_id") % 7).cast("string"))).as("t"))

  /** q35's minhash LSH pair set (3-shingles, 64 hashes, 32 bands,
    * jaccard ≥ 0.5), which the cluster queries q61, q79 and q88 close over.
    */
  private def minhashDocPairs(s: SparkSession, d: String): DataFrame =
    graft.ops.Dedup.minhashPairs(docsParallel(s, d), "text", "doc_id",
      k = 3, numHashes = 64, bands = 32, threshold = 0.5)

  /** q158's near-twin pairs over a [[docsWithParagraphs]] corpus: docs
    * sharing a suffix paragraph pair to its minimum id. The window keys on
    * md5(paragraph), so the exchange carries 32-byte digests instead of
    * paragraph text — the discipline every production op in Dedup applies
    * before a shuffle.
    */
  private def suffixPairs(aug: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    aug.withColumn("__f", element_at(split(col("t"), "\n\n"), -1))
      .withColumn("__m",
        min(col("doc_id")).over(Window.partitionBy(md5(col("__f")))))
      .where(col("doc_id") =!= col("__m"))
      .select(col("__m").as("id_a"), col("doc_id").as("id_b"))
  }

  /** Deterministically synthesized raw-HTML corpus for the extraction
    * queries (q170/q171): every page carries head noise (comment,
    * braced style/script, title), a short heading, a nav link bar, the
    * document's own text in a paragraph, a stopword-rich prose
    * paragraph, an entity-encoded paragraph on %5 docs, a lorem-ipsum
    * paragraph on %7 docs (trips the downstream C4 page rule), a short
    * fragment, and a link-heavy footer. Null-text docs yield null html
    * (concat propagates), exercising the extractors' null path.
    */
  private def htmlDocs(s: SparkSession, d: String) =
    docsParallel(s, d).select(
      col("doc_id"),
      concat(
        lit("<html><!-- header comment --><head><style>body { color: red }" +
          "</style><script>if (x < 2) { y = 3; }</script><title>Doc</title>" +
          "</head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit(" heading</h1><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
          "</div><p>"),
        col("text"),
        lit("</p><p>The point of the note is that it is written for the " +
          "reader and it is kept in the set.</p>"),
        when(col("doc_id") % 5 === 0,
          lit("<p>Read the docs &amp; see &lt;tags&gt; in the text of it " +
            "okay.</p>")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("<p>lorem ipsum dolor sit amet the words go on in the line " +
            "of it.</p>")).otherwise(lit("")),
        lit("<p>Short bit</p><footer><a href=\"/legal\">Legal notice terms " +
          "page</a> fine print</footer></body></html>")).as("html"))

  /** Deterministically synthesized raw CRAWL for the end-to-end pipeline
    * flagship (q182): every document becomes a page with a URL and a
    * q170-style HTML wrapper, with per-stage casualties planted by
    * doc_id arithmetic so EVERY pipeline stage has real drops:
    *
    *   - url: host `site{canon % 37}.example.com`, path `/a/{canon}`,
    *     where canon = doc_id − 3 on %10==3 pages (those also carry a
    *     `utm_campaign` param and a fragment) — their CANONICAL url
    *     collides with the %10==0 page three ids below (url_dup bait),
    *     and blocklisting site5/site11 drops ~1/18 of pages at the
    *     domain screen before a byte of HTML is read;
    *   - inner text: %9==4 pages swap the document body for one FIXED
    *     page body (exact text_dup bait); %17==2 pages append two
    *     #-riddled paragraphs — 40 hashes against a ≤380-word page —
    *     (trips Gopher's symbol-ratio rule over the extracted text);
    *     %6==1 pages append FIVE copies of one stop-dense line (trips
    *     the repetition screen's dup_line rule);
    *     %13==0 pages append the eval-set leak sentence (decontam
    *     bait); %7==0 pages carry the wrapper's lorem paragraph (C4
    *     bait); the phrase blocklist catches natural document bodies.
    *
    * Every planted paragraph is stop-dense against [[graft.ops.TextOps
    * .HtmlStopwords]] so its block SURVIVES extraction — a casualty must
    * die at its own stage, not at the block classifier.
    */
  private def crawlDocs(s: SparkSession, d: String) = {
    val canon = col("doc_id") -
      when(col("doc_id") % 10 === 3, lit(3L)).otherwise(lit(0L))
    val inner =
      when(col("doc_id") % 9 === 4,
        lit("It is the standard document of the training corpus and " +
          "the shared body of the page that the editors kept in the " +
          "collection for the reader of it."))
        .otherwise(col("text"))
    // stopword GLUE around the document body: the corpus vocabulary is
    // ~6% stop-dense, so a bare body block would die at the jusText
    // stopword rule and never reach the downstream screens (blocklist
    // phrases live in the body). ~60 near-pure-stop glue words lift even
    // a stopword-free 100-word body above 0.3 density; the body itself
    // rides verbatim between prefix and suffix.
    val body = concat(
      lit("It is the body of the page that it is in for the set of it " +
        "and it is of the day that it is in it for the set of it and " +
        "the crawl saved it to the store for a reader to read it: "),
      inner,
      lit(" and that is the end of it in the set of the page for the " +
        "day of it and it is all of it."))
    val hashes = "# it is # the tag # of # the day # in # the set # of " +
      "# it # in # the end # of # the day # it is # the one # of # all " +
      "# of # it # okay #."
    docsParallel(s, d).select(
      col("doc_id"), col("source"),
      concat(
        lit("https://www.site"), (canon % 37).cast("string"),
        lit(".example.com/a/"), canon.cast("string"),
        when(col("doc_id") % 10 === 3,
          concat(lit("?utm_campaign="), col("doc_id").cast("string"),
            lit("#f"))).otherwise(lit(""))).as("url"),
      concat(
        lit("<html><!-- crawl --><head><style>body { color: red }" +
          "</style><script>if (x < 2) { y = 3; }</script><title>Page" +
          "</title></head><body><h1>Page "),
        col("doc_id").cast("string"),
        lit("</h1><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a></div><p>"),
        body,
        lit("</p><p>It is a pleasant morning for the people of the " +
          "village and the weather is a gentle presence in all of the " +
          "streets.</p><p>The point of it is that the work of the day " +
          "sits in the middle of it for all of the people involved." +
          "</p><p>The point of the note is that it is written for the " +
          "reader and it is kept in the set.</p>"),
        when(col("doc_id") % 6 === 1, lit(
          "<p>It is the same line of it in the day of the set.</p>" +
            "<p>It is the same line of it in the day of the set.</p>" +
            "<p>It is the same line of it in the day of the set.</p>" +
            "<p>It is the same line of it in the day of the set.</p>" +
            "<p>It is the same line of it in the day of the set.</p>"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(
          "<p>It is the case that the answer to the benchmark question " +
            "is in the set.</p>")).otherwise(lit("")),
        when(col("doc_id") % 17 === 2,
          concat(lit("<p>"), lit(hashes), lit("</p><p>"), lit(hashes),
            lit("</p>"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(
          "<p>lorem ipsum dolor sit amet the words go on in the line " +
            "of it okay.</p>")).otherwise(lit("")),
        lit("<p>Short bit</p><footer><a href=\"/legal\">Legal notice " +
          "terms page</a> fine print</footer></body></html>")).as("html"))
  }

  /** q182's leaked eval set: one sentence planted verbatim into the
    * %13==0 pages' HTML (and nothing else), so decontamination has exact
    * 8-gram casualties.
    */
  private def q182EvalRows = Seq(
    "It is the case that the answer to the benchmark question is in the set.")

  /** q182's pipeline knobs: two blocked host families, a two-phrase
    * blocklist, src3 weighted 8× so it saturates while the rest take
    * md5-order partial quotas, and ~8 output shards.
    */
  private def q182Config = graft.ops.Pipeline.CurationConfig(
    blockedDomains = Seq("site5.example.com", "site11.example.com"),
    // NOT q154Blocklist: 'vector' alone hits ~76% of the synthetic
    // bodies and would starve every stage downstream of the screens —
    // two rarer phrases keep the blocklist a screen, not a guillotine
    phrases = Seq("customer query", "window merge"),
    weights = (0 until 20).map(i => s"src$i" ->
      (if (i == 3) 8L else 1L)).toMap,
    budgetTokens = 12000L,
    shardTokens = 1500L)

  /** Shared q184/q185 oracle prologue: the synthesized DoReMi loss log
    * (proxy = n_chars·1000 micro-nats, ref a flat 290000) and the
    * Group-DRO recursion in DuckDB HUGEINT at the library defaults
    * (η = 1 ⇒ 10^6 micro, c = 10^-3 ⇒ 10^9 on the 10^12 scale), ending
    * at `wavg(domain, weight)`. Every division is `//` on non-negative
    * integers, so it floors exactly like the BigInt driver recursion in
    * [[graft.ops.Sampling.doremiWeights]].
    *
    * DENSE-0-BASED STEP ASSUMPTION: the recursive CTE iterates by
    * POSITION (`l.step = it.i + 1`, i ∈ 0..T-1), which equals
    * `doremiWeights`' iteration over the actual distinct step values in
    * numeric order only because q184's `doc_id % 6` steps are exactly
    * {0..5}. A sparse or non-zero-based step log reusing this prologue
    * must first rank its steps (`dense_rank() OVER (ORDER BY step) - 1`)
    * or the two recursions silently walk different step sequences.
    */
  private def DoremiOracleCte: String =
    """WITH RECURSIVE
      |d0 AS (SELECT doc_id % 6 AS step, lang AS domain,
      |         cast(n_chars * 1000 AS BIGINT) AS proxy,
      |         cast(290000 AS BIGINT) AS ref
      |       FROM documents WHERE lang IS NOT NULL),
      |l AS (SELECT step, domain,
      |        CASE WHEN sum(proxy - ref) > 0
      |          THEN sum(proxy - ref) // count(*) ELSE 0 END AS lam
      |      FROM d0 GROUP BY step, domain),
      |doms AS (SELECT DISTINCT domain FROM d0),
      |kk AS (SELECT cast(count(*) AS HUGEINT) AS k FROM doms),
      |tt AS (SELECT cast(count(DISTINCT step) AS BIGINT) AS t FROM d0),
      |it AS (
      |  SELECT -1 AS i, domain,
      |    cast(1000000000000 AS HUGEINT) // (SELECT k FROM kk) AS w
      |  FROM doms
      |  UNION ALL
      |  SELECT i + 1, it.domain,
      |    (1000000000000 - 1000000000) *
      |      ((it.w * (1000000000000 + 1000000 * coalesce(l.lam, 0))
      |          // 1000000000000) * 1000000000000
      |        // (sum(it.w * (1000000000000 + 1000000 * coalesce(l.lam, 0))
      |            // 1000000000000) OVER ()))
      |      // 1000000000000
      |      + cast(1000000000 AS HUGEINT) // (SELECT k FROM kk) AS w
      |  FROM it LEFT JOIN l ON l.domain = it.domain AND l.step = it.i + 1
      |  WHERE it.i + 1 < (SELECT t FROM tt)
      |),
      |wavg AS (SELECT domain,
      |           cast(sum(w) // (SELECT t FROM tt) AS BIGINT) AS weight
      |         FROM it WHERE i >= 0 GROUP BY domain)""".stripMargin

  /** Shared q189/q190 oracle prologue (parameterized by the query's own
    * model dir): q143's integer NB scoring, the exact min + i·span // 8
    * threshold ladder, per-threshold CASE confusion sums, and the ppm
    * floor divisions — ending at `sw(threshold, tp, fp, fn, tn,
    * precision_ppm, recall_ppm, f1_ppm)` with `s(doc_id, score)` still
    * in scope for the q190 filter tail.
    */
  private def sweepOracleCte(q: String): String = sweepOracleCte(q, "1")

  private def sweepOracleCte(q: String, wExpr: String): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS token
       |  FROM documents
       |),
       |w AS (SELECT * FROM read_parquet('/tmp/graft_${q}_nb_sf0.01/weights/*.parquet')),
       |m AS (SELECT * FROM read_parquet('/tmp/graft_${q}_nb_sf0.01/meta/*.parquet')),
       |s AS (
       |  SELECT doc_id,
       |    (sum(coalesce(w.weight, (SELECT oov_weight FROM m)))
       |      + (SELECT prior FROM m))::BIGINT AS score,
       |    count(*)::BIGINT AS n_toks
       |  FROM t LEFT JOIN w USING (token)
       |  GROUP BY doc_id
       |),
       |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM s),
       |l AS (
       |  SELECT s.score, s.n_toks AS w, (d.lang = 'en') AS pos
       |  FROM s JOIN documents d USING (doc_id) WHERE d.lang IS NOT NULL
       |),
       |th AS (
       |  -- DISTINCT + the mn guard mirror sweepLadder exactly: a
       |  -- one-score corpus collapses the ladder to one threshold
       |  -- (duplicate rows would multiply the raw confusion counts,
       |  -- not just the scale-invariant ppm columns), and an unscored
       |  -- corpus yields ZERO candidate rows, not one NULL threshold
       |  SELECT DISTINCT (SELECT mn FROM mm)
       |    + ((SELECT mx FROM mm) - (SELECT mn FROM mm)) * i // 8 AS threshold
       |  FROM unnest(range(1, 8)) u(i)
       |  WHERE (SELECT mn FROM mm) IS NOT NULL
       |),
       |c AS (
       |  SELECT th.threshold,
       |    sum(CASE WHEN l.score >= th.threshold AND l.pos THEN $wExpr ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN l.score >= th.threshold AND NOT l.pos THEN $wExpr ELSE 0 END)::BIGINT AS fp,
       |    sum(CASE WHEN (l.score IS NULL OR l.score < th.threshold) AND l.pos THEN $wExpr ELSE 0 END)::BIGINT AS fn,
       |    sum(CASE WHEN (l.score IS NULL OR l.score < th.threshold) AND NOT l.pos THEN $wExpr ELSE 0 END)::BIGINT AS tn
       |  FROM th LEFT JOIN l ON true GROUP BY th.threshold
       |),
       |sw AS (
       |  SELECT threshold, tp, fp, fn, tn,
       |    CASE WHEN tp + fp = 0 THEN NULL
       |      ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
       |    CASE WHEN tp + fn = 0 THEN NULL
       |      ELSE tp * 1000000 // (tp + fn) END AS recall_ppm,
       |    CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
       |      ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
       |  FROM c
       |)""".stripMargin

  /** q186's oracle, generated for any (k, rounds): the q177 int8
    * quantization recipe, seeds = first k non-null codes in md5 order,
    * then `rounds` UNROLLED Lloyd iterations (squared-L2 argmin with
    * ties to the lowest cell, floor-mean centroids on the shifted
    * codes — all non-negative integers, so `//` here and BigInt/`div`
    * in [[graft.ops.Similarity.integerKMeans]] floor identically) and a
    * final assignment.
    */
  private def kmeansOracleSql(k: Int, rounds: Int): String =
    kmeansOracleSql(k, rounds,
      """SELECT emb.vec_id, f.cell, cast(f.d AS BIGINT) AS dist
        |FROM embeddings emb
        |LEFT JOIN (SELECT vec_id, cell, d FROM fin WHERE rn = 1) f
        |  ON f.vec_id = emb.vec_id
        |ORDER BY emb.vec_id""".stripMargin)

  private def kmeansOracleSql(k: Int, rounds: Int, tail: String): String = {
    def assign(name: String, cents: String) =
      s"""${name}0 AS (
         |  SELECT u.vec_id, c.cell,
         |    coalesce(list_sum(list_transform(range(1, len(u.uv) + 1),
         |      i -> (u.uv[i] - c.cv[i]) * (u.uv[i] - c.cv[i]))), 0) AS d
         |  FROM u CROSS JOIN $cents c
         |), ${name} AS (
         |  SELECT vec_id, cell, d,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d ASC, cell ASC) AS rn
         |  FROM ${name}0
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      assign(s"a$r", s"c${r - 1}") + s""",
         |m$r AS (
         |  SELECT a.cell, tp.p, cast(sum(u.uv[tp.p]) // count(*) AS BIGINT) AS m
         |  FROM u JOIN (SELECT vec_id, cell FROM a$r WHERE rn = 1) a
         |    USING (vec_id),
         |    unnest(range(1, len(u.uv) + 1)) AS tp(p)
         |  GROUP BY a.cell, tp.p
         |), c$r AS (SELECT cell, list(m ORDER BY p) AS cv FROM m$r GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    val roundSec = if (roundCtes.isEmpty) "" else roundCtes + ","
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(x))) AS ma
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id,
       |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> cast(0 AS BIGINT))
       |      ELSE list_transform(embedding, x ->
       |        cast(round(cast(x AS DOUBLE) * 127.0 / cast(ma AS DOUBLE)) AS BIGINT))
       |    END AS qv
       |  FROM e
       |), u AS (
       |  SELECT vec_id, list_transform(qv, x -> x + 127) AS uv FROM q
       |  WHERE qv IS NOT NULL
       |), c0 AS (
       |  SELECT vec_id AS cell, uv AS cv FROM u WHERE vec_id IS NOT NULL
       |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT $k
       |),
       |$roundSec
       |${assign("fin", s"c$rounds")}
       |$tail""".stripMargin
  }

  /** documents with the cluster's parallelism. The test parquet is ONE small
    * file → one input split, which serializes the signature kernels of the
    * pair-dedup queries onto a single core; a 100 TB corpus arrives in
    * thousands of splits, so the explicit spread reflects the real plan
    * (and the hash keying mirrors how a corpus would be bucketed by id).
    */
  private def docsParallel(s: SparkSession, dir: String) =
    Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** embeddings with the cluster's parallelism — same single-split story as
    * [[docsParallel]]: without the spread, the exact KNN join's
    * 4 M-pair scoring + partial top-k sort all run in ONE task.
    */
  private def embParallel(s: SparkSession, dir: String) =
    Tables(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  /** documents narrowed to (doc_id, text). */
  private def idText(s: SparkSession, d: String) =
    Tables(s, d, "documents").select(col("doc_id"), col("text"))

  /** `docs` plus `n_tok`, the whitespace token count the token-budget,
    * shard and sampling queries weigh rows by.
    */
  private[graft] def tokenCounted(docs: DataFrame): DataFrame =
    docs.withColumn("n_tok", graft.ops.TextOps.tokenCount(col("text")).cast("long"))

  /** `docs` plus `pos`, the binary NB label: the 'en' slice (q146's index
    * and every [[trainNb]] model).
    */
  private def labeledDocs(docs: DataFrame): DataFrame =
    docs.withColumn("pos", col("lang") === "en")

  /** q117's planted derivative batch: every %11 doc's 30-token prefix
    * under id doc_id + 2000000 — a quote wholly contained in its source
    * (containment 1.0, far past winnowing's w+n-1 guarantee).
    */
  private def derivatives(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 11 === 0 && col("text").isNotNull)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(slice(graft.ops.TextOps.wsTokens(col("text")), 1, 30), " ")
          .as("text"))

  /** The C4 screens' line-augmented corpus (q164, q175, q179): `t` = the
    * text plus the first `sentences` planted proper-sentence lines, a %5
    * lorem-ipsum line, a %7 brace line, then `extra`.
    */
  private def c4Docs(s: SparkSession, d: String, sentences: Int, extra: Column*) = {
    val planted = Seq(
      "\nThis is a proper sentence with seven words.",
      "\nHere is another proper sentence for the page.",
      "\nA third proper sentence closes the page here.")
      .take(sentences).map(lit(_)) ++ Seq(
      when(col("doc_id") % 5 === 0,
        lit("\nLorem ipsum dolor sit amet here today.")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("\nThe config is { nested } here okay.")).otherwise(lit(""))) ++ extra
    Tables(s, d, "documents").withColumn("t", concat(col("text") +: planted: _*))
  }

  /** The sized-shard log prologue of q162 and q192-q194: the
    * (doc_id, n_tok) corpus and a fresh log of its `base` slice at the
    * query's scratch dir. Returns the corpus, for the later batches, and
    * the dir.
    */
  private def sizedLog(s: SparkSession, d: String, tag: String, base: Column,
      targetWeight: Long = 6000L): (DataFrame, String) = {
    val out = scratchDir(tag, d)
    val docs = tokenCounted(Tables(s, d, "documents")).select("doc_id", "n_tok")
    graft.ops.Sink.writeSizedShards(docs.where(base), out, "doc_id", "n_tok",
      targetWeight = targetWeight, overwrite = true)
    (docs, out)
  }

  /** Appends the `slice` of a [[sizedLog]] corpus to the log at `out`. */
  private def appendLog(docs: DataFrame, out: String, slice: Column,
      targetWeight: Long = 6000L, checkIds: Boolean = true): Unit =
    graft.ops.Sink.appendSizedShards(docs.where(slice), out, "doc_id", "n_tok",
      targetWeight = targetWeight, checkIds = checkIds)

  /** A sized-shard log read back from its files, (doc_id, shard) by id. */
  private def logShards(s: SparkSession, out: String): DataFrame =
    s.read.parquet(out)
      .select(col("doc_id"), col("shard").cast("long").as("shard"))
      .orderBy(col("doc_id"))

  // Lifecycle phases. Each lifecycle query runs its phases in order, and
  // its benchBreakdown rows run the same defs one at a time. Build and
  // append phases mutate the query's scratch dir; a build is a full
  // rebuild (a fresh epoch whose manifest references only its own data
  // dirs), so the following append's ids are disjoint again no matter
  // what earlier runs committed.

  // q97: build on most of the corpus, fold the %10==5 slice in, probe
  // with the %10==0 arrivals
  private def q97Build(s: SparkSession, d: String): Unit =
    graft.ops.Dedup.writeDedupIndex(
      docsParallel(s, d).where(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5),
      "text", "doc_id", scratchDir("q97_index", d))

  private def q97Append(s: SparkSession, d: String): Unit =
    graft.ops.Dedup.appendDedupIndex(
      docsParallel(s, d).where(col("doc_id") % 10 === 5),
      "text", "doc_id", scratchDir("q97_index", d))

  private def q97Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.Dedup.minhashPairsAgainstIndex(
      docsParallel(s, d).where(col("doc_id") % 10 === 0),
      "text", "doc_id", scratchDir("q97_index", d), threshold = 0.5)

  // q99: train on the corpus minus the %10==5 slice, append that slice,
  // probe with the first ten vectors
  private def q99Build(s: SparkSession, d: String): Unit =
    graft.ops.Similarity.writeAnnIndex(
      Tables(s, d, "embeddings").where(col("vec_id") % 10 =!= 5),
      "embedding", "vec_id", scratchDir("q99_annindex", d), nlist = 8)

  private def q99Append(s: SparkSession, d: String): Unit =
    graft.ops.Similarity.appendAnnIndex(
      Tables(s, d, "embeddings").where(col("vec_id") % 10 === 5),
      "embedding", "vec_id", scratchDir("q99_annindex", d))

  private def q99Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.Similarity.annTopKAgainstIndex(
      Tables(s, d, "embeddings").where(col("vec_id") < 10),
      "embedding", "vec_id", scratchDir("q99_annindex", d), k = 5, nprobe = 8)

  // q108, q141, q146: build on %3==1, append %3==2, probe with %3==0
  private def q108Build(s: SparkSession, d: String): Unit =
    graft.ops.Dedup.writeParagraphIndex(
      docsWithParagraphs(s, d).where(col("doc_id") % 3 === 1), "t",
      scratchDir("q108_paraindex", d))

  private def q108Append(s: SparkSession, d: String): Unit =
    graft.ops.Dedup.appendParagraphIndex(
      docsWithParagraphs(s, d).where(col("doc_id") % 3 === 2), "t",
      scratchDir("q108_paraindex", d))

  private def q108Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.Dedup.dedupParagraphsAgainstIndex(
      docsWithParagraphs(s, d).where(col("doc_id") % 3 === 0), "doc_id", "t",
      scratchDir("q108_paraindex", d))

  private def q141Build(s: SparkSession, d: String): Unit =
    graft.ops.TextOps.writeTokenFrequencyIndex(
      docsParallel(s, d).where(col("doc_id") % 3 === 1), "doc_id", "text",
      scratchDir("q141_tfindex", d))

  private def q141Append(s: SparkSession, d: String): Unit =
    graft.ops.TextOps.appendTokenFrequencyIndex(
      docsParallel(s, d).where(col("doc_id") % 3 === 2), "doc_id", "text",
      scratchDir("q141_tfindex", d))

  private def q141Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.TextOps.frequencyScoreAgainstIndex(
      docsParallel(s, d).where(col("doc_id") % 3 === 0), "doc_id", "text",
      scratchDir("q141_tfindex", d), rareBelow = 3L)

  private def q146Build(s: SparkSession, d: String): Unit =
    graft.ops.LangModel.writeClassifierIndex(
      labeledDocs(docsParallel(s, d)).where(col("doc_id") % 3 === 1),
      "doc_id", "text", "pos", scratchDir("q146_clsindex", d))

  private def q146Append(s: SparkSession, d: String): Unit =
    graft.ops.LangModel.appendClassifierIndex(
      labeledDocs(docsParallel(s, d)).where(col("doc_id") % 3 === 2),
      "doc_id", "text", "pos", scratchDir("q146_clsindex", d))

  /** The library's one-call probe of the q146 index; the query itself
    * derives the model explicitly so its standing counters hash too.
    */
  private def q146Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.LangModel.scoreAgainstClassifierIndex(
      docsParallel(s, d).where(col("doc_id") % 3 === 0), "doc_id", "text",
      scratchDir("q146_clsindex", d))

  // q122: postings of the even docs, append the odd docs, probe with the
  // q117 derivatives
  private def q122Build(s: SparkSession, d: String): Unit =
    graft.ops.Decontam.writeFingerprintIndex(
      idText(s, d).where(col("doc_id") % 2 === 0), "doc_id", "text",
      scratchDir("q122_fpindex", d), n = 5, w = 4)

  private def q122Append(s: SparkSession, d: String): Unit =
    graft.ops.Decontam.appendFingerprintIndex(
      idText(s, d).where(col("doc_id") % 2 === 1), "doc_id", "text",
      scratchDir("q122_fpindex", d))

  private def q122Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.Decontam.winnowingPairsAgainstIndex(
      derivatives(idText(s, d)), "doc_id", "text", scratchDir("q122_fpindex", d),
      minShared = 2, maxDf = 50)

  // q119: index the whole corpus, mine hard negatives for the %17 queries
  private def q119Build(s: SparkSession, d: String): Unit =
    graft.ops.Similarity.writeAnnIndex(
      embParallel(s, d), "embedding", "vec_id", scratchDir("q119_annindex", d),
      nlist = 8)

  private def q119Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.Similarity.hardNegativesAgainstIndex(
      embParallel(s, d).where(col("vec_id") % 17 === 0), "embedding", "vec_id",
      scratchDir("q119_annindex", d), k = 5, maxCosine = 0.8, minCosine = 0.1,
      nprobe = 8)

  // q125, q127: index the standing corpus (%10 != 0); today's %10 == 0
  // batch probes it
  private def standingAnn(s: SparkSession, d: String, tag: String): Unit =
    graft.ops.Similarity.writeAnnIndex(
      embParallel(s, d).where(col("vec_id") % 10 =!= 0), "embedding", "vec_id",
      scratchDir(tag, d), nlist = 8)

  private def q125Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.Similarity.semanticDedupAgainstIndex(
      embParallel(s, d).where(col("vec_id") % 10 === 0), "embedding", "vec_id",
      scratchDir("q125_annindex", d), minCosine = 0.35, nprobe = 8)

  private def q127Probe(s: SparkSession, d: String): DataFrame =
    graft.ops.Similarity.semanticDedupKeepBestAgainstIndex(
      embParallel(s, d).where(col("vec_id") % 10 === 0)
        .withColumn("score", pmod(col("vec_id") * 13, lit(97))),
      "embedding", "vec_id", "score", scratchDir("q127_annindex", d),
      minCosine = 0.35, nprobe = 8)

  // q143, q144, q172: train and materialize the model, then score from
  // the re-read tables
  private def q143Train(s: SparkSession, d: String): Unit =
    trainNb(s, d, scratchDir("q143_nb", d))

  private def q143Score(s: SparkSession, d: String): DataFrame = {
    val (w, oov, prior) = readNb(s, scratchDir("q143_nb", d))
    graft.ops.LangModel.scoreTokenWeights(
      Tables(s, d, "documents"), "doc_id", "text", w, oov, prior)
  }

  private def q144Train(s: SparkSession, d: String): Unit =
    trainLm(s, d, scratchDir("q144_lm", d))

  private def q144Score(s: SparkSession, d: String): DataFrame = {
    val (bigrams, fallback, floor) = readLm(s, scratchDir("q144_lm", d))
    graft.ops.LangModel.scoreBigramTables(
      Tables(s, d, "documents"), "doc_id", "text", bigrams, fallback, floor)
  }

  private def q172Train(s: SparkSession, d: String): Unit =
    writeMulticlass(graft.ops.LangModel.trainMulticlassClassifierChars(
      scriptAugDocs(s, d).where(col("doc_id") % 3 =!= 0), "t", "lang", n = 3),
      scratchDir("q172_mc", d))

  private def q172Score(s: SparkSession, d: String): DataFrame = {
    val (w, m) = readMulticlass(s, scratchDir("q172_mc", d))
    graft.ops.LangModel.predictClassCharsTables(
      scriptAugDocs(s, d), "doc_id", "t", 3, w, m)
  }

  /** q182's curation stages. Constructing them pays the stage-A ledger
    * materialization; `diagnosis` is what [[graft.ops.Pipeline.curate]]
    * returns.
    */
  private def q182Stages(s: SparkSession, d: String): graft.ops.Pipeline.CurateStages = {
    import s.implicits._
    graft.ops.Pipeline.curateStages(
      crawlDocs(s, d), "doc_id", "url", "source", "html",
      q182EvalRows.toDF("text"), "text", q182Config)
  }

  /** q186's trained centroids, carried from the train phase to the assign
    * phase of the bench breakdown (phases run in order in one JVM — the
    * same statefulness the index-lifecycle phases keep in /tmp dirs).
    */
  @volatile private var q186Cents: Seq[(Long, Seq[Long])] = Nil

  /** q182's stage frames, carried from the ledger phase to the later
    * breakdown phases (the q186Cents discipline): the ledger phase pays
    * the one regex-heavy materialization; the later phases derive from
    * it, so their rows are CUMULATIVE from the ledger — a stage's own
    * cost is the delta to the previous row (see
    * [[graft.ops.Pipeline.curateStages]]).
    */
  @volatile private var q182Staged: Option[graft.ops.Pipeline.CurateStages] = None

  /** One breakdown row: `run` is called for its effect, and a frame it
    * returns (a probe's or a score's result) is forced with `count()`.
    */
  private def phase(parent: String, name: String)(run: (SparkSession, String) => Any)
      : (String, String, (SparkSession, String) => Unit) =
    (parent, name, (s: SparkSession, d: String) => run(s, d) match {
      case df: org.apache.spark.sql.Dataset[_] => df.count(); ()
      case _ => ()
    })

  /** Bench-only phase breakdown of the lifecycle queries: each stage timed
    * on its own, so the per-job scheduling floor of the build/append
    * writes can't mask a regression in the probe — the phase a daily
    * production job actually runs hot — and a learned filter's SCORE,
    * which a production pipeline re-runs on every batch, can't hide
    * inside its train/write floor. Rows run in order against the same
    * scratch dirs as their parent query. q182 and q186 split library
    * internals instead (curateStages; centroids, then assignment). Not
    * part of the correctness surface — Bench emits these under a
    * separate "breakdown" key, outside the "queries" totals.
    */
  def benchBreakdown: Seq[(String, String, (SparkSession, String) => Unit)] = Seq(
    phase("q97_dedup_index_append", "q97_build")(q97Build),
    phase("q97_dedup_index_append", "q97_append")(q97Append),
    phase("q97_dedup_index_append", "q97_probe")(q97Probe),
    phase("q99_ann_index", "q99_build")(q99Build),
    phase("q99_ann_index", "q99_append")(q99Append),
    phase("q99_ann_index", "q99_probe")(q99Probe),
    phase("q186_kmeans", "q186_train") { (s, d) =>
      q186Cents = graft.ops.Similarity.integerKMeansCentroids(
        embParallel(s, d), "embedding", "vec_id", k = 8, rounds = 3)
    },
    // the stage-A materialization: domain verdict + URL canon + HTML
    // extraction + screen chain + token count, ONE regex pass
    phase("q182_pipeline_e2e", "q182_ledger") { (s, d) =>
      q182Staged = Some(q182Stages(s, d))
    },
    phase("q182_pipeline_e2e", "q182_dedup")((_, _) => q182Staged.get.postDedup),
    phase("q182_pipeline_e2e", "q182_decontam")((_, _) => q182Staged.get.postDecontam),
    phase("q182_pipeline_e2e", "q182_mix")((_, _) => q182Staged.get.kept),
    phase("q182_pipeline_e2e", "q182_shard")((_, _) => q182Staged.get.sharded),
    phase("q182_pipeline_e2e", "q182_attach")((_, _) => q182Staged.get.diagnosis),
    // the daily phase: route the corpus through the FROZEN centroid table
    // (the aggregate forces the assignment column to evaluate — a bare
    // count would let the optimizer prune the projection away)
    phase("q186_kmeans", "q186_assign") { (s, d) =>
      embParallel(s, d).select(
          graft.ops.Similarity.kMeansAssignColumn(col("embedding"),
            q186Cents).as("a"))
        .agg(max(col("a")("dist"))).collect()
    },
    phase("q108_paragraph_index", "q108_build")(q108Build),
    phase("q108_paragraph_index", "q108_append")(q108Append),
    phase("q108_paragraph_index", "q108_probe")(q108Probe),
    phase("q141_tf_index_lifecycle", "q141_build")(q141Build),
    phase("q141_tf_index_lifecycle", "q141_append")(q141Append),
    phase("q141_tf_index_lifecycle", "q141_probe")(q141Probe),
    phase("q146_cls_index_lifecycle", "q146_build")(q146Build),
    phase("q146_cls_index_lifecycle", "q146_append")(q146Append),
    phase("q146_cls_index_lifecycle", "q146_probe")(q146Probe),
    phase("q122_fp_index", "q122_build")(q122Build),
    phase("q122_fp_index", "q122_append")(q122Append),
    phase("q122_fp_index", "q122_probe")(q122Probe),
    phase("q119_hard_negatives_ivf", "q119_build")(q119Build),
    phase("q119_hard_negatives_ivf", "q119_probe")(q119Probe),
    phase("q127_semantic_kb_against", "q127_probe")(q127Probe),
    phase("q125_semantic_against", "q125_build")(standingAnn(_, _, "q125_annindex")),
    phase("q125_semantic_against", "q125_probe")(q125Probe),
    phase("q143_nb_quality_classifier", "q143_train")(q143Train),
    phase("q143_nb_quality_classifier", "q143_score")(q143Score),
    phase("q144_bigram_lm_score", "q144_train")(q144Train),
    phase("q144_bigram_lm_score", "q144_score")(q144Score),
    phase("q172_charngram_langid", "q172_train")(q172Train),
    phase("q172_charngram_langid", "q172_score")(q172Score))

  // Decimal-safe money sum: exact, order-independent, schema-stable.
  // Final cast to double (see class doc: decimal outputs are a driver-side
  // repr hazard; the decimal→double cast itself is deterministic).
  private def dsum(e: String): String =
    s"cast(sum(cast($e as decimal(18,2))) as double)"

  /** Flagship query on sf=0.001: validate lineitem against a model, then a
    * revenue roll-up through the fluent relation API. Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables(spark, dir, "lineitem")
    val m = Schema("LineItem",
      Seq(
        FieldSpec.long("l_orderkey"),
        FieldSpec.double("l_quantity", nullable = false)
          .copy(bounds = Bounds(ge = Some(0), le = Some(100))),
        FieldSpec.double("l_discount").copy(bounds = Bounds(ge = Some(0), le = Some(1))),
        FieldSpec.enum("l_returnflag", Seq("A", "N", "R"))))
    // validate only the modeled columns (frame has more → selectModel first)
    ModeledFrame(li.select(m.columns.map(col): _*), m).validate()
    Relation(li)
      .filter("l_quantity < 45")
      .aggregate(
        Seq(s"${dsum("l_extendedprice * (1 - l_discount)")} as revenue",
          "cast(count(*) as bigint) as n"),
        groupBy = Seq("l_returnflag"))
      .order("l_returnflag")
      .toDF
  }

  /** The queries Bench and Verify run: all of them, or only the comma-separated
    * names of `only` (the `SPARK_GRAFT_ONLY` local-iteration filter),
    * in inventory order. A name that is not a query fails loudly instead
    * of silently running nothing.
    */
  def selected(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { csv =>
      val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY='$csv' names no query")
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      queries.filter { case (name, _) => names(name) }
    }

  /** Operator inventory (SURVEY §2). Key → (spark, sfDir) => DataFrame. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(

    // §2.4 aggregate with group_by (Relation.aggregate)
    "q01_aggregate" -> ((s, d) =>
      rel(s, d, "lineitem")
        .aggregate(
          Seq(s"${dsum("l_quantity")} as sum_qty",
            s"${dsum("l_extendedprice")} as sum_price",
            "cast(count(*) as bigint) as n"),
          groupBy = Seq("l_returnflag", "l_linestatus"))
        .order("l_returnflag", "l_linestatus").toDF),

    // §2.2 filter: positional SQL fragments AND-ed + kwargs equality
    "q02_filter" -> ((s, d) =>
      rel(s, d, "lineitem")
        .filter("l_quantity < 24", "l_discount > 0.02")
        .filterEq("l_returnflag" -> "A")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .order("l_orderkey", "l_linenumber").toDF),

    // §2.2 select star-expansion-and-overwrite
    "q03_select_star" -> ((s, d) =>
      rel(s, d, "region")
        .selectNamed("r_name" -> "upper(r_name)")
        .order("r_regionkey").toDF),

    // §2.2 with_columns (append computed columns)
    "q04_with_columns" -> ((s, d) =>
      rel(s, d, "nation")
        .withColumns(
          "n_key2" -> "cast(n_nationkey * 2 as int)",
          "n_name_lower" -> "lower(n_name)")
        .order("n_nationkey").toDF),

    // §2.2 rename (projection-based, overwrite-on-collision)
    "q05_rename" -> ((s, d) =>
      rel(s, d, "nation")
        .rename("n_name" -> "nation_name")
        .order("n_nationkey").toDF),

    // §2.2 add_prefix
    "q06_prefix" -> ((s, d) =>
      rel(s, d, "nation")
        .addPrefix("nat_")
        .order("nat_n_nationkey").toDF),

    // §2.2 drop (errors on unknown)
    "q07_drop" -> ((s, d) =>
      rel(s, d, "orders")
        .drop("o_orderpriority", "o_orderdate")
        .order("o_orderkey").toDF),

    // §2.2 case (literal-map CASE via when/otherwise)
    "q08_case" -> ((s, d) =>
      rel(s, d, "orders")
        .caseColumn("o_orderstatus", "status_label",
          Seq("O" -> "open", "F" -> "finished", "P" -> "pending"), "unknown")
        .aggregate(Seq("cast(count(*) as bigint) as n"), groupBy = Seq("status_label"))
        .order("status_label").toDF),

    // §2.2 coalesce (per-column null replacement)
    "q09_coalesce" -> ((s, d) =>
      rel(s, d, "lineitem")
        .withColumns("d0" -> "nullif(l_discount, 0.0)")
        .coalesceColumns("d0" -> -1.0)
        .select("l_orderkey", "l_linenumber", "d0")
        .order("l_orderkey", "l_linenumber").toDF),

    // §2.2 cast-to-model (decimal model dtype; output re-cast to double —
    // decimal output columns are a driver-side repr hazard, see class doc)
    "q10_cast" -> ((s, d) => {
      val m = Schema("LineItemTyped", Seq(
        FieldSpec.long("l_orderkey"),
        FieldSpec.long("l_linenumber"),
        FieldSpec("l_quantity", org.apache.spark.sql.types.DecimalType(12, 2))))
      rel(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .cast(m, strict = true)
        .selectNamed("l_quantity" -> "cast(l_quantity as double)")
        .order("l_orderkey", "l_linenumber").toDF
    }),

    // §2.3 inner join (+ aggregate over the join)
    "q11_join_inner" -> ((s, d) =>
      rel(s, d, "orders")
        .innerJoin(rel(s, d, "customer"), "o_custkey = c_custkey")
        .aggregate(
          Seq(s"${dsum("o_totalprice")} as total", "cast(count(*) as bigint) as n"),
          groupBy = Seq("c_mktsegment"))
        .order("c_mktsegment").toDF),

    // §2.3 left join (null-preserving) — orders per customer incl. zero
    "q12_join_left" -> ((s, d) =>
      rel(s, d, "customer")
        .leftJoin(rel(s, d, "orders"), "c_custkey = o_custkey")
        .aggregate(
          Seq("cast(count(o_orderkey) as bigint) as n_orders"),
          groupBy = Seq("c_custkey"))
        .order("c_custkey").toDF),

    // §2.3 semi join
    "q13_join_semi" -> ((s, d) =>
      rel(s, d, "part")
        .semiJoin(rel(s, d, "lineitem"), "p_partkey = l_partkey")
        .select("p_partkey")
        .order("p_partkey").toDF),

    // §2.3 anti join (vs high-quantity lineitems so the result is non-empty)
    "q14_join_anti" -> ((s, d) =>
      rel(s, d, "part")
        .antiJoin(
          rel(s, d, "lineitem").filter("l_quantity > 48"),
          "p_partkey = l_partkey")
        .select("p_partkey")
        .order("p_partkey").toDF),

    // §2.3 cross join
    "q15_join_cross" -> ((s, d) =>
      rel(s, d, "region")
        .crossJoin(rel(s, d, "nation"))
        .select("r_name", "n_name")
        .order("r_name", "n_name").toDF),

    // §2.3 as-of join (union+window plan; see Relation.asofJoin)
    "q16_join_asof" -> ((s, d) => {
      val ev = Relation(Tables.events(s, d))
      val clicks = ev.filterEq("event_type" -> "click")
        .select("user_id", "ts", "value").rename("value" -> "click_value")
      val purchases = ev.filterEq("event_type" -> "purchase")
        .aggregate(Seq("max(value) as pval"), groupBy = Seq("user_id", "ts"))
      clicks.asofJoin(purchases, by = Seq("user_id"), leftOn = "ts", rightOn = "ts")
        .order("user_id", "ts", "click_value").toDF
    }),

    // §2.6 union (column-reorder semantics) — second side reordered on purpose
    "q17_union" -> ((s, d) => {
      val a = rel(s, d, "customer").select("c_custkey", "c_name")
      val b = rel(s, d, "customer").select("c_name", "c_custkey")
      (a union b).order("c_custkey", "c_name").toDF
    }),

    // §2.6 intersect (dedups)
    "q18_intersect" -> ((s, d) =>
      rel(s, d, "nation").select("n_nationkey", "n_name")
        .intersect(
          rel(s, d, "nation").filter("n_nationkey < 10").select("n_nationkey", "n_name"))
        .order("n_nationkey").toDF),

    // §2.6 except (dedups)
    "q19_except" -> ((s, d) =>
      rel(s, d, "orders").select("o_orderstatus")
        .except(Relation(s.sql("SELECT 'F' AS o_orderstatus")))
        .order("o_orderstatus").toDF),

    // §2.6 distinct
    "q20_distinct" -> ((s, d) =>
      rel(s, d, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct()
        .order("l_returnflag", "l_linestatus").toDF),

    // §2.5 order + limit + offset (top-k → TakeOrderedAndProject)
    "q21_order_limit" -> ((s, d) =>
      rel(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .order("o_totalprice desc", "o_orderkey")
        .limit(10, offset = 5).toDF),

    // §2.7 row lookup (get-style filter; exact-arity get() is unit-tested)
    "q22_row_filter" -> ((s, d) =>
      rel(s, d, "orders")
        .filter("o_orderkey % 1000 = 0")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .order("o_orderkey").toDF),

    // §2.2 with_missing_{defaultable,nullable}_columns
    "q23_missing_cols" -> ((s, d) => {
      val m = Schema("NationPlus", Seq(
        FieldSpec.int("n_nationkey"),
        FieldSpec.string("n_name"),
        FieldSpec.string("status").copy(default = Some("active")),
        FieldSpec.string("note", nullable = true)))
      ModeledFrame(rel(s, d, "nation").apply("n_nationkey", "n_name").toDF, m)
        .withMissingColumns().selectModel()
        .df.orderBy(col("n_nationkey"))
    }),

    // §2.10 dummy-data generation (examples) — range-based, no shuffle
    "q24_examples" -> ((s, _) => {
      val m = Schema("Dummy", Seq(
        FieldSpec.long("id").copy(unique = true),
        FieldSpec.enum("status", Seq("a", "b")),
        FieldSpec.double("score").copy(default = Some(0.5)),
        FieldSpec.string("note", nullable = true)))
      Examples.examples(s, m, n = 100L).orderBy(col("id"))
    }),

    // §2.8 validation engine — violation counts as a lazy report
    "q25_validate" -> ((s, d) => {
      val m = Schema("LineItemChecks", Seq(
        FieldSpec.long("l_orderkey"),
        FieldSpec.double("l_quantity", nullable = true)
          .copy(bounds = Bounds(le = Some(45))),
        FieldSpec.double("l_discount", nullable = true)
          .copy(bounds = Bounds(ge = Some(0.05))),
        FieldSpec.enum("l_returnflag", Seq("A", "N"), nullable = true),
        FieldSpec.int("l_linenumber", nullable = true)
          .copy(constraints = Seq(col("_") < 4))))
      Validator.reportDF(Tables(s, d, "lineitem"), m)
    }),

    // window functions (phase-2 surface; Spark-native Window)
    "q26_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables(s, d, "customer")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rn"))
    }),

    // grouping sets / rollup (phase-2 surface)
    "q27_rollup" -> ((s, d) => {
      Tables(s, d, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dsum("l_quantity")} AS sum_qty, cast(count(*) as bigint) AS n
           |FROM graft_lineitem
           |GROUP BY ROLLUP(l_returnflag, l_linestatus)
           |ORDER BY coalesce(l_returnflag, 'zzz'), coalesce(l_linestatus, 'zzz')
           |""".stripMargin)
    }),

    // §2.11 scalar-function passthrough (string/date/math)
    "q28_scalar_funcs" -> ((s, d) =>
      rel(s, d, "orders")
        .selectNamed(
          "pri" -> "upper(substr(o_orderpriority, 1, 3))",
          "yr" -> "cast(year(o_orderdate) as int)",
          "m7" -> "o_orderkey % 7")
        .apply("o_orderkey", "pri", "yr", "m7")
        .order("o_orderkey").toDF),

    // §2.1 Database.query: catalog views + arbitrary SELECT → relation
    "q29_database_query" -> ((s, d) => {
      val db = new graft.relation.Database(s)
      db.createView("graft_nation_v", rel(s, d, "nation"))
      db.createView("graft_region_v", rel(s, d, "region"))
      db.query(
        """SELECT r.r_name, cast(count(*) as bigint) AS n_nations
          |FROM graft_nation_v n JOIN graft_region_v r
          |  ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name""".stripMargin)
        .order("r_name").toDF
    }),

    // ---- LLM-data-pipeline operators (beyond reference parity) ----------

    // exact dedup: hash-groupBy keyed on md5(text), keep min id
    "q30_dedup_exact" -> ((s, d) =>
      graft.ops.Dedup.exactKeepMin(Tables(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))),

    // token counting: whitespace + BPE-ish regex
    "q31_token_counts" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        graft.ops.TextOps.tokenCount(col("text")).cast("bigint").as("n_ws"),
        graft.ops.TextOps.bpeTokenCount(col("text")).cast("bigint").as("n_bpe"))
        .orderBy(col("doc_id"))),

    // quality scoring: counts + ratios
    "q32_quality" -> ((s, d) => {
      val base = Tables(s, d, "documents")
      val cols = col("doc_id") +:
        graft.ops.TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
      base.select(cols: _*).orderBy(col("doc_id"))
    }),

    // language ID: deterministic stopword/CJK scoring
    "q33_langid" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        graft.ops.TextOps.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // document fingerprint: md5 of normalized text
    "q34_fingerprint" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        graft.ops.TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // MinHash+LSH near-dup pairs, exact-jaccard verified (not SQL-expressible
    // → rows-only check; determinism comes from fixed hash seeds)
    "q35_minhash_pairs" -> ((s, d) =>
      minhashDocPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // 64-bit SimHash signatures (rows-only)
    "q36_simhash" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        graft.ops.Dedup.simhash64(col("text")).as("simhash"))
        .orderBy(col("doc_id"))),

    // exact cosine top-k ANN baseline (rows-only)
    "q37_ann_topk" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      graft.ops.Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") < 10), "embedding", "vec_id", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // threshold range search — "radius" twin of q37's top-k: no window,
    // no rank, the broadcast-probe + filter streams without any shuffle
    "q81_range_search" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      graft.ops.Similarity.rangeSearch(
        emb, emb.where(col("vec_id") < 10), "embedding", "vec_id",
        minCosine = 0.35)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // exactly-n-per-stratum deterministic sampling: md5-ranked window,
    // "take 20 docs per language" identical on any engine or rerun. The
    // ranking key appends the unique doc_id so the window order is TOTAL
    // even if the corpus carries exact-duplicate texts (a non-total order
    // would let each engine pick different rows among the duplicates)
    "q82_take_per_stratum" -> ((s, d) =>
      graft.ops.Sampling.takePerStratum(
        Tables(s, d, "documents")
          // coalesce: Spark concat is NULL on any NULL arg while DuckDB
          // concat skips NULLs — '' keeps the key total on both engines
          .withColumn("__k",
            concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id").cast("string"))),
        "lang", "__k", n = 20)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // LSH-bucketed ANN — the scale path (rows-only; RecallSpec asserts
    // recall@5 vs the q37 brute-force baseline at this banding)
    "q38_ann_lsh" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      graft.ops.Similarity.lshTopK(
        emb, emb.where(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, planes = 4, bands = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // embedding near-dup pairs via multi-band hyperplane LSH (rows-only:
    // ~94% recall at this deliberately low threshold; see q57 for the
    // exhaustive oracle-checked twin)
    // planes/bands SIZED FROM THE CORPUS (the embeddingNearDup scaladoc
    // rule, as the sizedPlanes helper): a fixture constant that is right
    // at 2k vectors is bucket-quadratic at 20k — the 10x scale rehearsal
    // measured planes=4 at 160 s where the sized call stays linear-ish
    "q39_embedding_neardup" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val planes = graft.ops.Dedup.sizedPlanes(emb.count())
      graft.ops.Dedup.embeddingNearDup(
        emb, "embedding", "vec_id",
        planes = planes, bands = graft.ops.Dedup.sizedBands(planes),
        threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // multimodal: synthetic-but-REAL PNG payloads (deterministic pixels
    // seeded from text) decoded with partition-batched ImageIO — the
    // oracle predicts the DECODED dimensions from the synthesis formula,
    // so a broken decoder can't fake its way past the hash gate
    "q40_multimodal" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      graft.ops.Multimodal.decodeMeta(
        s, graft.ops.Multimodal.synthesizePng(s, docs, "doc_id", "text", "payload"),
        "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("format"),
          col("error").isNull.as("ok"))
        .orderBy(col("doc_id"))
    }),

    // REAL video path: synthesize MJPEG AVIs, RIFF-parse + sample every
    // frame, decode each through ImageIO, aggregate per doc. The oracle
    // predicts frame count and dimensions from the text column alone
    // (synthAviBytes contract) while the payloads are genuine AVI/JPEG —
    // same fixture trick as q40.
    "q83_video_frames" -> ((s, d) => {
      val avi = graft.ops.Multimodal.synthesizeAvi(
        s, docsParallel(s, d), "doc_id", "text", "payload")
      val fs = graft.ops.Multimodal.frameSample(s, avi, "doc_id", "payload", everyN = 1)
        .where(col("error").isNull)
      graft.ops.Multimodal.decodeMeta(
        s, fs.select(col("doc_id"), col("frame").as("payload")), "doc_id", "payload")
        .toDF()
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_frames"),
          min(col("width")).as("frame_w"),
          min(col("height")).as("frame_h"))
        .orderBy(col("doc_id"))
    }),

    // REAL-BPE packing budgets end-to-end: the broadcast merge table from
    // an in-repo fixture (rules a a / aa aa / aaaa aaaa) drives
    // concatChunkPlan. On 'a'-runs the cascade collapses k<=15 chars to
    // exactly bit_count(k) symbols (binary decomposition: merge-all at
    // each rank halves the run), and the space-prefixed 'b'-run stays
    // 1 + j unmerged byte symbols — so DuckDB predicts the genuine BPE
    // count in closed form while Spark runs the real merge loop
    "q98_pack_bpe" -> ((s, d) => {
      // the classpath fixture may live inside a jar — stage it to a real
      // file for the path-based loader
      val in = getClass.getResourceAsStream("/graft/bpe_pack_merges.txt")
      require(in != null, "bpe_pack_merges.txt fixture missing from classpath")
      val tmp = java.nio.file.Files.createTempFile("graft_bpe_merges", ".txt")
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      // the model is parsed eagerly on the driver and broadcast — the
      // staged file is dead immediately after, so don't leak it
      val counter =
        try graft.ops.TextOps.bpeTokenCountFromMerges(s, tmp.toString)
        finally java.nio.file.Files.delete(tmp)
      val docs = Tables(s, d, "documents").select(
        col("doc_id"),
        expr("concat(repeat('a', cast(1 + doc_id % 15 as int)), ' ', " +
          "repeat('b', cast(1 + doc_id % 5 as int)))").as("text"))
      graft.ops.Packing.concatChunkPlan(
        docs, "doc_id", "text", capacity = 8, nGroups = 8, counter)
        .orderBy(col("doc_id"))
    }),

    // the standing-index lifecycle end-to-end: build on most of the
    // corpus, fold the %10==5 slice in via appendDedupIndex (no corpus
    // re-hash), probe with the %10==0 arrivals. The probe result is
    // definitionally minhashPairsAgainst(new, existing ∪ appended), i.e.
    // q90's semantics — its exact cross-side jaccard oracle applies
    // verbatim (same complete-recall argument at this fixture scale)
    "q97_dedup_index_append" -> ((s, d) => {
      q97Build(s, d)
      q97Append(s, d)
      q97Probe(s, d).orderBy(col("new_id"), col("existing_id"))
    }),

    // persisted-IVF lifecycle end-to-end (build → append → probe): train
    // on most of the corpus, fold the %10==5 slice in via appendAnnIndex
    // (frozen quantizer, delta-only write), probe at nprobe = nlist —
    // probing EVERY cell is exact, so q37's DuckDB cosine oracle applies
    // verbatim regardless of what the quantizer learned
    "q99_ann_index" -> ((s, d) => {
      q99Build(s, d)
      q99Append(s, d)
      q99Probe(s, d).orderBy(col("query_id"), col("rank"))
    }),

    // stateless index range probe (the streaming-capable shape: no window,
    // no broadcast of the query side) — sample-trained build + append,
    // then every-cell probe, which scores each pair exactly once, so
    // q81's exact cosine-floor oracle applies against the union corpus
    "q100_ann_range" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val idx = scratchDir("q100_annindex", d)
      graft.ops.Similarity.writeAnnIndex(
        emb.where(col("vec_id") % 10 =!= 3), "embedding", "vec_id", idx,
        nlist = 8, trainFraction = 0.5)
      graft.ops.Similarity.appendAnnIndex(
        emb.where(col("vec_id") % 10 === 3), "embedding", "vec_id", idx)
      graft.ops.Similarity.annRangeAgainstIndex(
        emb.where(col("vec_id") < 10), "embedding", "vec_id", idx,
        floor = 0.35, nprobe = 8)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // exact repeated-substring mining (Lee et al. 2022 at n-gram
    // granularity): per doc, how many of its distinct 5-grams occur in
    // ≥2 docs corpus-wide — only 24-byte (id, gram-key) pairs shuffle
    "q101_repeated_grams" -> ((s, d) =>
      graft.ops.Decontam.repeatedGramReport(
        docsParallel(s, d), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))),

    // cross-doc span dedup, keep-one-copy: the min-id doc keeps each
    // repeated 5-gram, every other doc has the covered tokens removed;
    // the oracle recomputes the removed-token count as the size of the
    // per-doc union of covered positions
    "q102_dedup_spans" -> ((s, d) =>
      graft.ops.Decontam.dedupRepeatedSpans(
        docsParallel(s, d).where(col("text").isNotNull),
        "doc_id", "text", n = 5)
        .where(col("n_removed_tokens") > 0)
        .select(col("doc_id"), col("n_removed_tokens"))
        .orderBy(col("doc_id"))),

    // token-budget-capped mixing: per source, take docs in md5(key) order
    // until 600 tokens — the budget form of data mixing (weightedMix caps
    // fractions; training recipes cap tokens). 600 BINDS at every SF
    // (each of the 20 sources holds ≥1 100 tokens), so the window cutoff
    // and the crossing-row rule are actually exercised
    "q103_token_budget" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
      graft.ops.Sampling.takeTokenBudget(
        docs, "source", "doc_id", "n_tok", budget = 600L)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // bloom-prefiltered decontamination (the non-broadcastable-eval path):
    // map-side BloomFilterMightContain prune + exact confirm join ⇒ result
    // is IDENTICAL to the exact q71 report, so q71's oracle applies
    "q104_decontam_bloom" -> ((s, d) => {
      val split = graft.ops.Sampling.md5Split(docsParallel(s, d), "text")
      graft.ops.Decontam.contaminationReportBloom(
        split.where(col("split") === "train"),
        split.where(col("split") === "test"),
        "doc_id", "text", n = 5, fpp = 0.01)
        .orderBy(col("doc_id"))
    }),

    // quality-keyed exact dedup: among byte-identical texts keep the
    // highest-score copy (min id on ties) — "keep the best mirror". The
    // corpus has no natural byte-identical texts, so every %10==0 doc
    // gets a planted twin at id+1000000; the id-derived score varies
    // across the twins, so the election is genuinely contested (a
    // text-derived score would tie everywhere)
    "q110_keep_best_exact" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select("doc_id", "text")
      val twins = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val scored = docs.unionByName(twins)
        .withColumn("score", pmod(col("doc_id") * 7, lit(100)))
      graft.ops.Dedup.exactKeepBest(scored, "text", "doc_id", "score")
        .select(col("doc_id"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // corpus-frequency document score: the exact-integer stand-in for LM
    // perplexity filtering (rare-token mass flags gibberish, high mean
    // frequency flags boilerplate); integer sums hash-match any engine
    "q109_frequency_score" -> ((s, d) =>
      graft.ops.TextOps.frequencyScore(
        docsParallel(s, d), "doc_id", "text", rareBelow = 3L)
        .orderBy(col("doc_id"))),

    // paragraph-level dedup with reassembly (the C4/CCNet step): docs
    // augmented with a corpus-wide shared paragraph + a %7 class
    // paragraph; only the FIRST occurrence of each paragraph survives
    // (id, then position), docs rebuilt from survivors
    "q107_dedup_paragraphs" -> ((s, d) =>
      graft.ops.Dedup.dedupParagraphs(docsWithParagraphs(s, d), "doc_id", "t")
        .select(col("doc_id"), col("cleaned"), col("n_paras"), col("n_kept_paras"))
        .orderBy(col("doc_id"))),

    // paragraph-level KEEP-BEST dedup: same augmented corpus as q107, but
    // among copies of a duplicate paragraph the highest-SCORING document
    // keeps its copy (ties: min id, then min pos) — the C4-style "keep
    // the cleanest source's copy" election; the id-derived score varies
    // across the duplicate classes, so winners genuinely differ from
    // q107's first-occurrence picks
    "q111_para_keep_best" -> ((s, d) => {
      val aug = docsWithParagraphs(s, d)
        .withColumn("score", pmod(col("doc_id") * 7, lit(100)))
      graft.ops.Dedup.dedupParagraphsKeepBest(aug, "doc_id", "t", "score")
        .select(col("doc_id"), col("cleaned"), col("n_paras"), col("n_kept_paras"))
        .orderBy(col("doc_id"))
    }),

    // temperature-scaled source mixing (the mT5/XLM-R recipe): shares^0.5
    // flattens a skewed domain mix toward uniform. The derived domain
    // (substr(source, 1, 4)) folds src1 + src10..src19 into one 55%-mass
    // domain, so alpha genuinely changes the quotas (proportional would
    // give it 165 of 300; sqrt-share gives 81). Quotas are integers from
    // counts; membership is md5-content order — all engine-portable.
    "q112_temperature_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("domain", substring(col("source"), 1, 4))
      graft.ops.Sampling.temperatureMix(
        docs, "domain", "doc_id", alpha = 0.5, targetRows = 300)
        .select(col("doc_id"), col("domain"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // percentile quality filter: keep each source's top 25% of docs by
    // token count — EXACT (ties in md5 content order, nulls last) but
    // never sorting a whole source in one task: score-range buckets
    // classify rows keep-all/drop/boundary, the boundary bucket
    // classifies per score RUN, and only the cutoff tie run's md5
    // sub-boundary sub-bucket is windowed — token counts tie HEAVILY
    // here, so the run/tie path is the one actually exercised
    "q129_top_fraction" -> ((s, d) => {
      val docs = tokenCounted(docsParallel(s, d))
      graft.ops.Sampling.takeTopFraction(
        docs, "source", "doc_id", "n_tok", fraction = 0.25, nBuckets = 8)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // quality-ordered token budget: fill each source's 700-token budget
    // with its longest documents first (700 binds every source at
    // sf0.01: totals 1.1-1.6k; score = token count, heavy ties broken in
    // md5 content order), crossing row kept — q129's run/tie machinery
    // consuming token WEIGHTS instead of row counts
    "q130_top_token_budget" -> ((s, d) => {
      val docs = tokenCounted(docsParallel(s, d))
      graft.ops.Sampling.takeTopTokenBudget(
        docs, "source", "doc_id", "n_tok", "n_tok", budget = 700L, nBuckets = 8)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // the corpus-sized half of BPE tokenizer TRAINING: the pre-token
    // histogram under the GPT-2 byte-level pre-tokenizer regex — training
    // reduces the whole corpus to this one vocabulary-sized aggregate
    // before the driver-side merge loop starts (the loop is sequential,
    // no SQL form; BpeSpec pins it with a hand-computed Sennrich fixture
    // and an encode-parity property). DuckDB's RE2 lacks the regex's
    // `(?!\S)` lookahead, so the oracle spells the branch-free equivalent
    // — identical wherever text has no interior multi-space runs and no
    // trailing whitespace, which compare.py's hash then re-proves on the
    // actual corpus.
    // corpus-trained quality classifier (Brown et al. 2020 appendix A /
    // CCNet, Wenzek et al. 2020): multinomial Naive Bayes over tokens,
    // positives = the 'en' slice, TRAINED on doc_id % 3 != 0 and scoring
    // ALL docs so the held-out third exercises the OOV path under the
    // hash. The quantized integer micro-nat weights are materialized
    // mid-query (the q62 discipline) so DuckDB scores with the IDENTICAL
    // integers — scoring is pure integer join-and-sum, ulp-proof
    "q143_nb_quality_classifier" -> ((s, d) => {
      q143Train(s, d)
      q143Score(s, d).orderBy(col("doc_id"))
    }),

    // bigram-LM corpus-likelihood scoring (the exact-integer stand-in for
    // CCNet's KenLM perplexity filter): add-one-smoothed bigram model
    // TRAINED on doc_id % 3 != 0, scoring ALL docs so the held-out third
    // hits the fallback/floor paths under the hash. Model tables carry
    // train-time-quantized integer micro-nat logprobs, materialized
    // mid-query so both engines integer-sum identical values
    "q144_bigram_lm_score" -> ((s, d) => {
      q144Train(s, d)
      q144Score(s, d).orderBy(col("doc_id"))
    }),

    // the composed CCNet selection: train the quality classifier, score
    // EVERY doc, keep the global best 25% by classifier score — the
    // takeGlobalTopFraction two-phase take rides directly on the scored
    // frame, so "filter the corpus by a learned quality model" is one
    // pipeline with no global sort; the model dir is this query's own
    // (q143's discipline, separate dir — queries stay order-independent)
    "q145_classifier_top_quality" -> ((s, d) => {
      val (w, oov, prior) = binaryNbMaterialized(s, d, scratchDir("q145_nb", d))
      // the take evaluates its input once per phase (takeTopFraction
      // scaladoc) — materialize the expensive explode-join-agg scoring so
      // each phase reads the narrow (doc_id, score) result, not the corpus
      val scored = graft.ops.Materialize.eager(
        graft.ops.LangModel.scoreTokenWeights(
          Tables(s, d, "documents"), "doc_id", "text", w, oov, prior)
          .select(col("doc_id"), col("score")))
      graft.ops.Sampling.takeGlobalTopFraction(
        scored, "doc_id", "score", fraction = 0.25, nBuckets = 8)
        .select(col("doc_id"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // persisted classifier index (the SEVENTH lifecycle): build standing
    // labeled counters on the day-1 slice (%3 == 1), fold the day-2 slice
    // (%3 == 2) as one delta epoch, derive the live model from the
    // standing totals, and score the arrivals (%3 == 0). The output puts
    // BOTH halves under the one hash: score/n_oov ride the mid-query-
    // materialized weight table (q143 discipline), while sum_cp/sum_cn
    // are integer sums of the STANDING counters that DuckDB recomputes
    // from the raw train slices — so append ≡ rebuild on the union corpus
    // is itself oracle-checked, token for token
    "q146_cls_index_lifecycle" -> ((s, d) => {
      q146Build(s, d)
      q146Append(s, d)
      val idx = scratchDir("q146_clsindex", d)
      val out = s"${idx}_model"
      writeNb(s, graft.ops.LangModel.indexClassifier(s, idx), out)
      val (w, oov, prior) = readNb(s, out)
      val arrivals = docsParallel(s, d).where(col("doc_id") % 3 === 0)
      val scored = graft.ops.LangModel.scoreTokenWeights(
        arrivals, "doc_id", "text", w, oov, prior)
      val counts = graft.ops.LangModel.indexClassifierCounts(s, idx)
      val standing = arrivals
        .select(col("doc_id"),
          explode(graft.ops.TextOps.wsTokens(col("text"))).as("token"))
        .join(counts, Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(
          sum(coalesce(col("cp"), lit(0L))).as("sum_cp"),
          sum(coalesce(col("cn"), lit(0L))).as("sum_cn"))
      scored.join(standing, Seq("doc_id"))
        .select(col("doc_id"), col("n_toks"), col("n_oov"),
          col("sum_cp"), col("sum_cn"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // MULTICLASS NB (trained language-ID / domain-ID, the fastText-style
    // supervised classification every curation pipeline runs): train on
    // the %3 slice with class = lang, score ALL docs so the held-out
    // third exercises class-absent and fully-OOV tokens under the hash —
    // one row per document × class, pure integer arithmetic against the
    // mid-query-materialized long-format weight table
    "q147_multiclass_scores" -> ((s, d) => {
      val (w, m) = multiclassMaterialized(s, d, scratchDir("q147_mc", d))
      graft.ops.LangModel.scoreMulticlassTables(
        Tables(s, d, "documents"), "doc_id", "text", w, m)
        .orderBy(col("doc_id"), col("cls"))
    }),

    // the argmax prediction over the same construction: each document's
    // best class in (score DESC, cls ASC) order — the per-doc ranking
    // window partitions by document, never globally
    "q148_predict_class" -> ((s, d) => {
      val (w, m) = multiclassMaterialized(s, d, scratchDir("q148_mc", d))
      graft.ops.LangModel.predictClassTables(
        Tables(s, d, "documents"), "doc_id", "text", w, m)
        .orderBy(col("doc_id"))
    }),

    // CHAR-N-GRAM language-ID (the fastText subword trick): q148's
    // argmax over a model trained on character trigrams of the
    // mixed-script corpus — the zh docs carry a whitespace-free CJK run
    // the token path can only see as one OOV word, while its character
    // windows are the script's signature. Exact integer scoring; the
    // oracle re-derives the trigrams code-point by code-point
    "q172_charngram_langid" -> ((s, d) => {
      q172Train(s, d)
      q172Score(s, d).orderBy(col("doc_id"))
    }),

    // CCNet head/middle/tail (Wenzek et al. 2020): train the bigram LM on
    // the %3 slice, score EVERY doc's per-bigram log-likelihood, and
    // partition the corpus into exact perplexity terciles — the nested
    // global takes define the buckets, so the famous global partition
    // never sorts globally. Output keeps only integer columns; the float
    // avg only ORDERS (same IEEE division in both engines)
    "q151_ccnet_partition" -> ((s, d) => {
      trainLm(s, d, scratchDir("q151_lm", d))
      val (bigrams, fallback, floor) = readLm(s, scratchDir("q151_lm", d))
      val scored = graft.ops.Materialize.eager(
        graft.ops.LangModel.scoreBigramTables(
          Tables(s, d, "documents"), "doc_id", "text",
          bigrams, fallback, floor)
          .withColumn("avg_lp",
            col("lp_sum").cast("double") / col("n_bigrams")))
      graft.ops.Sampling.qualityPartition(
        scored, "doc_id", "avg_lp", Seq(1.0 / 3, 2.0 / 3), nBuckets = 8)
        .select(col("doc_id"), col("n_bigrams"), col("lp_sum"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // per-ROW scoring in the literal-map form — the plan a STREAMING
    // quality filter runs (no join, no shuffle: the vocabulary ships as
    // one map literal inside the expression). Same integers as q143's
    // join path on token-bearing docs; token-less docs score the bare
    // prior (there is a row to score) and null text scores null — both
    // branches under the hash
    "q152_nb_score_inline" -> ((s, d) => {
      val (w, oov, prior) = binaryNbMaterialized(s, d, scratchDir("q152_nb", d))
      val wm = graft.ops.LangModel.collectWeights(w)
      Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.LangModel.scoreColumn(col("text"), wm, oov, prior)
            .as("score"))
        .orderBy(col("doc_id"))
    }),

    // the multiclass argmax in the same per-row literal-map form — the
    // STREAMING language-ID decision. Token-less docs score every class's
    // bare prior (argmax = max-prior class, cls-asc ties), null text
    // predicts null — all three branches under the hash
    "q153_predict_inline" -> ((s, d) => {
      val (w, m) = multiclassMaterialized(s, d, scratchDir("q153_mc", d))
      val wm = graft.ops.LangModel.collectMulticlassWeights(w)
      val classes = m.collect().toSeq.map(r => (r.getString(0),
        wm.getOrElse(r.getString(0), Map.empty[String, Long]),
        r.getLong(1), r.getLong(2))).sortBy(_._1)
      Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.LangModel.predictColumn(col("text"), classes).as("p"))
        .select(col("doc_id"),
          col("p.cls").as("cls"), col("p.score").as("score"))
        .orderBy(col("doc_id"))
    }),

    // C4-style phrase-blocklist screen (Raffel et al. 2020 §2.2): every
    // doc with its count and sorted list of blocklist phrases occurring
    // as CONSECUTIVE TOKEN sequences, case-insensitive — token-exact via
    // the space-sentinel tokenSeqForm ("vector" never matches "vectors");
    // a pure literal-array codegen screen, zero shuffle (PlanSpec-pinned)
    "q154_blocklist_screen" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.TextOps.blocklistHits(
            col("text"), q154Blocklist).as("__hits"))
        .select(col("doc_id"),
          size(col("__hits")).cast("long").as("n_blocked"),
          array_join(col("__hits"), ",").as("blocked_phrases"))
        .orderBy(col("doc_id"))
    }),

    // curriculum training order (Bengio et al. 2009, short-to-long):
    // exact global position in (length-stage ASC, md5(epoch#id), id)
    // order with NO global sort — per-(stage, bucket) counts + driver
    // prefix + per-group windows; the whole stage-major permutation
    // hashes against one naive window rank
    "q155_curriculum_order" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
        .withColumn("stage",
          least(lit(2L), expr("n_tok div 12")))
      graft.ops.Sampling.curriculumShuffle(
        docs, "doc_id", "stage", epoch = 3L)
        .select(col("doc_id"), col("stage"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    // exact integer WATERFILL row mix: budget 300 at weights 40/40/0/1…,
    // so the two heavy sources saturate at their full 25 rows and their
    // surplus redistributes to the weight-1 sources (floor(250/17) = 14
    // each), weight-0 src2 is excluded — the allocation fixpoint the
    // oracle replays as a recursive SQL closure, kept rows the md5-order
    // per-source prefix
    "q156_waterfill_mix" -> ((s, d) => {
      graft.ops.Sampling.takeWaterfillMix(
        Tables(s, d, "documents"), "source", "doc_id",
        q156Weights, budget = 300L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // waterfill in TOKEN space: src3 at weight 30 wants ~1836 of the 3000
    // token budget but holds only ~700 — it saturates and the rest fills
    // from the weight-1 sources, each keeping its md5-order prefix until
    // its token quota with the crossing row kept
    "q157_waterfill_tokens" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
      graft.ops.Sampling.takeWaterfillTokens(
        docs, "source", "doc_id", "n_tok", q157Weights, budget = 3000L)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // LEAKAGE-SAFE split: docs sharing a boilerplate suffix paragraph
    // (the q107 augmented corpus) pair to their class minimum, the
    // closure runs through dedupClusters, and the train/val/test nibble
    // hashes the CLUSTER rep — near-twins can never straddle the split.
    // The oracle replays the construction (% 7 classes) + the rep-keyed
    // nibble rule
    "q158_leakage_safe_split" -> ((s, d) => {
      val aug = docsWithParagraphs(s, d)
      graft.ops.Sampling.leakageSafeSplit(
        aug.select("doc_id"), "doc_id", suffixPairs(aug))
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // SIZE-balanced sharding: contiguous ~500-token slices of the corpus
    // in md5 content order, the global cumsum via bucket-prefix counts —
    // no global sort (PlanSpec-pinned); the whole layout hashes against
    // the naive window-cumsum floor rule
    "q159_sized_shards" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
      graft.ops.Sink.sizedShardAssignment(
        docs, "doc_id", "n_tok", targetWeight = 500L)
        .select(col("doc_id"), col("n_tok"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    // end-to-end curation composition under ONE hash: the C4 blocklist
    // screen feeds the waterfill mixer — survivor availabilities are
    // DATA-dependent (2-9 per source at sf0.01), the weight-20 source
    // saturates at 3 and its surplus cascades several fixpoint rounds
    // through the weight-1 sources; the oracle replays screen + closure
    // + rank prefix over the same filtered corpus
    "q160_curation_pipeline" -> ((s, d) => {
      val clean = graft.ops.TextOps.filterBlocklisted(
        Tables(s, d, "documents"), "text", q154Blocklist)
      graft.ops.Sampling.takeWaterfillMix(
        clean, "source", "doc_id", q160Weights, budget = 80L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // THREE-epoch training schedule in one frame: each doc three times
    // at (epoch, pos), pos = epoch-local exact rank + epoch·N — ordering
    // by pos replays the whole run; every epoch an independent md5
    // permutation, no global sort in any arm
    "q161_multi_epoch_order" -> ((s, d) => {
      graft.ops.Sampling.multiEpochOrder(
        Tables(s, d, "documents"), "doc_id", nEpochs = 3, startEpoch = 5L)
        .select(col("doc_id"), col("epoch"), col("pos"))
        .orderBy(col("pos"))
    }),

    // sized-shard LOG lifecycle under ONE hash (the q97 discipline):
    // build on the even docs, append the odd docs continuing the standing
    // cumsum exactly (tail shard fills first, standing files untouched),
    // read the whole layout back FROM the written files
    "q162_sized_shard_append" -> ((s, d) => {
      val (docs, out) = sizedLog(s, d, "q162_sizedshards", col("doc_id") % 2 === 0,
        targetWeight = 3000L)
      appendLog(docs, out, col("doc_id") % 2 === 1, targetWeight = 3000L)
      logShards(s, out)
    }),

    // the Gopher heuristic rule bundle (Rae et al. 2021 A1.1): all seven
    // per-doc verdicts + the conjunction, every ratio a cross-multiplied
    // integer comparison so the booleans hash bit-exact cross-engine
    "q163_gopher_rules" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val rules = graft.ops.TextOps.gopherColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      docs.select(
        (col("doc_id") +: rules :+
          graft.ops.TextOps.gopherPass(col("text")).as("pass")): _*)
        .orderBy(col("doc_id"))
    }),

    // C4 line filter + page verdicts (Raffel et al. 2020 §2.2) over a
    // deterministically line-augmented corpus: the word-salad base line
    // drops (no terminal punctuation), the planted sentence lines keep,
    // %5 docs plant "lorem ipsum", %7 docs plant a brace, and only %35
    // docs reach the 3-sentence floor — cleaned text + all verdicts hash
    "q164_c4_line_filter" -> ((s, d) => {
      val aug = c4Docs(s, d, sentences = 1)
      val verdicts = graft.ops.TextOps.c4Columns(col("t"))
        .map { case (n, c) => c.as(n) }
      aug.select(
        (col("doc_id") +: verdicts :+
          graft.ops.TextOps.c4CleanLines(col("t")).as("cleaned")): _*)
        .orderBy(col("doc_id"))
    }),

    // cross-source duplication audit: q117's containment pairs labeled by
    // source (planted derivatives get source 'derived'), counted per
    // unordered source cell — "which sources duplicate each other"
    "q165_cross_source_matrix" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val deriv = derivatives(docs).withColumn("source", lit("derived"))
      val corpus = docs.unionByName(deriv)
      val pairs = graft.ops.Decontam.containmentPairs(
        corpus.select("doc_id", "text"), "doc_id", "text",
        n = 5, minContainment = 0.5, maxDf = 50)
      graft.ops.Dedup.crossSourceDupMatrix(
        pairs, corpus.select("doc_id", "source"), "doc_id", "source")
        .orderBy(col("src_a"), col("src_b"))
    }),

    // the leakage-safety PROOF under the hash: q158's suffix-paragraph
    // pairs audited against its own leakage-safe split via the duplicate
    // matrix — every pair must land on the diagonal (same split both
    // endpoints); the oracle derives the same cells from the % 7
    // construction, so a single straddling pair would hash-mismatch
    "q166_split_leakage_audit" -> ((s, d) => {
      val aug = docsWithParagraphs(s, d)
      val pairs = suffixPairs(aug)
      val assigned = graft.ops.Sampling.leakageSafeSplit(
        aug.select("doc_id"), "doc_id", pairs)
      graft.ops.Dedup.crossSourceDupMatrix(
        pairs, assigned.select(col("doc_id"), col("split")), "doc_id", "split")
        .orderBy(col("src_a"), col("src_b"))
    }),

    // URL-canonical dedup (the Common Crawl first pass): synthesized URLs
    // differing only in scheme case, www, trailing slash, utm params and
    // fragments collapse to one canonical key (5 docs per key; %50 docs
    // keep a REAL param and stay distinct), keep-min per key. The oracle
    // derives the canonical key independently from the construction
    "q167_url_dedup" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"))
        .withColumn("url", concat(
          lit("HTTPS://www.Example"), (col("doc_id") % 20).cast("string"),
          lit(".com/Page/"), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_campaign=c"), col("doc_id").cast("string"),
          lit("&utm_source=s"), col("doc_id").cast("string"),
          when(col("doc_id") % 50 === 3, lit("&page=2")).otherwise(lit("")),
          lit("#f"), col("doc_id").cast("string")))
        .withColumn("url_norm",
          graft.ops.TextOps.normalizeUrl(col("url")))
      val kept = graft.ops.Dedup.exactKeepMin(docs, "url_norm", "doc_id")
        .select(col("doc_id"))
      docs.join(kept, Seq("doc_id"))
        .select(col("doc_id"), col("url_norm"))
        .orderBy(col("doc_id"))
    }),

    // per-source curation report: the corpus dashboard a pipeline prints
    // before choosing mixture weights — docs, token mass, Gopher-screen
    // pass rates (three representative rules + the conjunction) per
    // source, all exact integers under the hash
    "q168_source_quality_report" -> ((s, d) => {
      val rules = graft.ops.TextOps.gopherColumns(col("text")).toMap
      Tables(s, d, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(graft.ops.TextOps.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          sum(when(rules("r_mean_word_len"), 1L).otherwise(0L))
            .as("n_mean_len_ok"),
          sum(when(rules("r_alpha_words"), 1L).otherwise(0L))
            .as("n_alpha_ok"),
          sum(when(rules("r_stopwords"), 1L).otherwise(0L))
            .as("n_stopwords_ok"),
          sum(when(graft.ops.TextOps.gopherPass(col("text")), 1L)
            .otherwise(0L)).as("n_pass"))
        .orderBy(col("source"))
    }),

    // per-SOURCE signature vocabulary: topTermsPerDoc is key-generic, so
    // at source granularity tf counts a term's occurrences across the
    // whole source and df counts the SOURCES containing it — the tf/df
    // ranking surfaces what makes each source distinctive
    "q169_source_signature_terms" -> ((s, d) => {
      graft.ops.TextOps.topTermsPerDoc(
        Tables(s, d, "documents"), "source", "text", k = 5)
        .select(col("doc_id").as("source"), col("rank"), col("token"),
          col("score"))
        .orderBy(col("source"), col("rank"))
    }),

    // HTML → text extraction, per-block verdict table (jusText /
    // trafilatura heuristics, Pomikálek 2011 — the step before EVERY
    // text screen): markup stripped twice for the anchor accounting,
    // each block classified by length / link density / stopword density,
    // every ratio a cross-multiplied integer; the whole table hashes
    // against a DuckDB oracle replaying the same regex strip chain
    "q170_html_blocks" -> ((s, d) => {
      htmlDocs(s, d)
        .select(col("doc_id"),
          explode(graft.ops.TextOps.htmlBlockMetrics(col("html"))).as("b"))
        .select(col("doc_id"), col("b.block_id"),
          col("b.text").as("block_text"), col("b.n_chars"),
          col("b.anchor_chars"), col("b.n_words"), col("b.stop_hits"),
          col("b.len_ok"), col("b.link_ok"), col("b.stop_ok"), col("b.good"))
        .orderBy(col("doc_id"), col("block_id"))
    }),

    // the crawl chain composed end-to-end: raw HTML → main-text
    // extraction (good blocks only) → C4 page verdicts + line filter
    // over the EXTRACTED text — the stage q164 assumed now feeds it;
    // head braces/lorem must NOT leak (they live in stripped script /
    // dropped nav), while the %7 planted lorem paragraph must
    "q171_html_pipeline" -> ((s, d) => {
      htmlDocs(s, d)
        .select(col("doc_id"),
          graft.ops.TextOps.htmlExtractC4(col("html")).as("r"))
        .select(col("doc_id"), col("r.*"))
        .orderBy(col("doc_id"))
    }),

    // SITE-level boilerplate strip (the cross-PAGE chrome signal a
    // single-page extractor can't see): every source plants a per-source
    // footer paragraph — repeated across the source's docs, stripped
    // from ALL of them (no keep-first); the %97 syndicated paragraph's
    // fate is whatever the same ≥2-docs-per-domain rule decides at this
    // scale, recomputed identically by the oracle
    "q173_boilerplate_strip" -> ((s, d) => {
      val docs = docsParallel(s, d).select(
        col("doc_id"), col("source"),
        concat(col("text"), lit("\n\nfooter for "), col("source"),
          when(col("doc_id") % 97 === 0, lit("\n\nsyndicated quote para"))
            .otherwise(lit(""))).as("t"))
      graft.ops.Dedup.stripBoilerplateParagraphs(
        docs, "source", "doc_id", "t")
        .select(col("doc_id"), col("cleaned"), col("n_paras"),
          col("n_kept_paras"))
        .orderBy(col("doc_id"))
    }),

    // SEQUENTIAL screen funnel (the C4-paper Table-1 shape: how much
    // each successive filter removes): per-source n_docs → after gopher
    // → after C4 page rules → after blocklist, exact integers over the
    // q164-augmented corpus so every stage has real casualties; the
    // monotone survival counts hash against the combined q168/q164/q160
    // oracle machinery
    "q175_curation_funnel" -> ((s, d) => {
      val aug = c4Docs(s, d, sentences = 3)
      graft.ops.TextOps.curationFunnel(aug, "source", "t", q154Blocklist)
        .orderBy(col("source"))
    }),

    // q175's funnel with the repetition stage wired in (gopher →
    // repetition → C4 → blocklist): %6 docs additionally plant a
    // DUPLICATED paragraph pair so the new stage has real casualties —
    // dup_para_frac 1/3 > 0.30 trips the quick rule
    "q179_curation_funnel_full" -> ((s, d) => {
      val aug = c4Docs(s, d, sentences = 3,
        when(col("doc_id") % 6 === 1,
          lit("\n\nZq repeated paragraph.\n\nZq repeated paragraph."))
          .otherwise(lit("")))
      graft.ops.TextOps.curationFunnelFull(aug, "source", "t", q154Blocklist)
        .orderBy(col("source"))
    }),

    // the FULL Gopher repetition bundle (Rae et al. 2021 A1.1 Table A1 —
    // all thirteen signals + the cross-multiplied integer verdict) over a
    // corpus with planted repetition: %4 docs gain a repeated paragraph
    // (dup_para/dup_line trip), %5 docs a repeated 6-token run (dup-5/6
    // -gram trip); every frac is an exact-integer double division so the
    // whole report hashes against DuckDB's list-form replay
    "q176_gopher_repetition" -> ((s, d) => {
      val aug = Tables(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\n\nRepeat block alpha beta.\n\nRepeat block alpha beta."))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\nzq wq rq sq tq uq zq wq rq sq tq uq"))
            .otherwise(lit(""))).as("text"))
      graft.ops.TextOps.gopherRepetitionReport(aug, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // cluster-based prototype pruning (Sorscher et al. 2022 SSL
    // prototypes / Tirumala et al. 2023 D4): integer-exact k-center
    // cells over the int8-quantized embeddings, per-cell prototypicality
    // = exact integer dot against the cell's code sum, drop the top 25%
    // most prototypical of every cell — cell, score, and the kept/dropped
    // verdict all hash against DuckDB's list-arithmetic replay
    "q177_prototype_prune" -> ((s, d) => {
      val emb = embParallel(s, d)
      val withCell = graft.ops.Similarity.integerCellAssign(
        emb, "embedding", "vec_id", k = 8)
      // score ONCE, materialized; the drop set derives from the same
      // ledger (prototypePrune's own internal shape, shared here so the
      // quantize + cell-sum pipeline doesn't run twice for scores + kept)
      val scores = graft.ops.Materialize.eager(
        graft.ops.Similarity.prototypeScores(
          withCell, "cell", "embedding", "vec_id"))
      val dropped = graft.ops.Similarity.prototypeDropIds(
        scores, "cell", "vec_id", dropFraction = 0.25)
        .withColumn("kept", lit(false))
      scores.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("proto"),
          coalesce(col("kept"), lit(true)).as("kept"))
        .orderBy(col("vec_id"))
    }),

    // token-space UniMax (the budget unit the paper states the algorithm
    // in): 30k-token uniform budget over the skewed domains at a 2-epoch
    // cap — at sf0.01 the nine ~1.3k-token domains saturate at exactly
    // two full copies while src1 takes a ~6.6k-token md5-order partial
    // with the crossing row kept
    "q181_unimax_tokens" -> ((s, d) => {
      val docs = tokenCounted(docsParallel(s, d))
        .withColumn("domain", substring(col("source"), 1, 4))
      graft.ops.Sampling.takeUniMaxTokens(docs, "domain", "doc_id", "n_tok",
        budget = 30000L, maxEpochs = 2L)
        .select(col("doc_id"), col("domain"), col("n_tok"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),

    // corpus MAP (the "what is in my corpus" report every curation run
    // opens with — Atlas-style cluster cards): embedding-space cells from
    // the integer-exact k-center assign, each cell summarized by its doc
    // count + its five signature terms under q169's exact tf/df rank —
    // pure composition of q177's cells and q53/q169's vocabulary
    // machinery, the whole card table under one hash
    "q180_corpus_map" -> ((s, d) => {
      val cells = graft.ops.Similarity.integerCellAssign(
        Tables(s, d, "embeddings"), "embedding", "vec_id", k = 6)
        .select(col("vec_id").as("doc_id"), col("cell"))
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        .join(cells, Seq("doc_id"))
      val terms = graft.ops.TextOps.topTermsPerDoc(
        docs.select(col("cell"), col("text")), "cell", "text", k = 5)
        .select(col("doc_id").as("cell"), col("rank"), col("token"),
          col("score"))
      val sizes = docs.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_docs"))
      terms.join(sizes, Seq("cell"))
        .select(col("cell"), col("n_docs"), col("rank"), col("token"),
          col("score"))
        .orderBy(col("cell"), col("rank"))
    }),

    // UniMax language sampling (Chung et al. 2023): uniform budget across
    // q128's skewed domains with a 2-epoch cap — at sf0.01 the nine
    // small domains saturate at exactly two full copies while the big
    // src1 domain takes the md5-order remainder, so the saturation
    // cascade, the epoch cap, AND the partial take all land under the
    // hash (the BigInt fixpoint replayed as a 24-round recursive CTE)
    "q178_unimax" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), substring(col("source"), 1, 4).as("domain"))
      graft.ops.Sampling.takeUniMax(docs, "domain", "doc_id",
        budget = 600L, maxEpochs = 2L)
        .select(col("doc_id"), col("domain"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),

    // URL DOMAIN blocklist screen (the C4/Dolma first gate — drop whole
    // domains before reading a byte): synthesized hosts exercise exact /
    // subdomain / www / port / userinfo matches and the substring +
    // TLD-prefix NON-matches; host + verdict hash against the same
    // string pipeline in DuckDB
    "q174_domain_screen" -> ((s, d) => {
      val blockedDomains = Seq("badsite.com", "ads.example.org")
      val docs = Tables(s, d, "documents").select(col("doc_id"))
        .withColumn("url",
          when(col("doc_id") % 5 === 0,
            concat(lit("https://spam"), (col("doc_id") % 3).cast("string"),
              lit(".badsite.com/p/"), col("doc_id").cast("string")))
          .when(col("doc_id") % 5 === 1, lit("https://WWW.BadSite.com/x"))
          .when(col("doc_id") % 5 === 2, lit("https://notbadsite.com/x"))
          .when(col("doc_id") % 5 === 3,
            lit("https://user@ads.example.org:8080/track"))
          .otherwise(concat(lit("http://ok"),
            (col("doc_id") % 7).cast("string"), lit(".org/y"))))
      docs.select(col("doc_id"),
          graft.ops.TextOps.urlHost(col("url")).as("host"),
          graft.ops.TextOps.urlDomainBlocked(col("url"), blockedDomains)
            .as("blocked"))
        .orderBy(col("doc_id"))
    }),

    // THE pipeline flagship: raw synthesized crawl -> domain blocklist ->
    // HTML extraction -> gopher/repetition/C4/blocklist screens ->
    // URL-canonical + exact-text dedup -> 8-gram decontamination ->
    // waterfill token mix -> sized-shard assignment, composed by ONE
    // operator (graft.ops.Pipeline.curate) around ONE materialized
    // post-extraction ledger. Output: per-page first-fail diagnosis +
    // token count + final shard — the whole chain hashes under a single
    // DuckDB replay built from the q171/q179/q167/q30/q71/q157/q159
    // oracle fragments.
    "q182_pipeline_e2e" -> ((s, d) =>
      q182Stages(s, d).diagnosis.orderBy(col("doc_id"))),

    // char-window exact-substring dedup (Lee et al. 2022 ExactSubstr at
    // character granularity): %8==2 docs share a planted CJK passage —
    // ONE opaque token to the word-gram path, deduped here via its char
    // windows; the tiny English vocabulary's natural 15-char collisions
    // dedup identically in both engines (interval-union covered chars)
    "q183_char_span_dedup" -> ((s, d) => {
      val aug = docsParallel(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 8 === 2,
            lit(" 深度学习模型的训练数据需要去重处理流程"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Decontam.dedupRepeatedCharSpans(aug, "doc_id", "text", n = 15)
        .select(col("doc_id"), col("cleaned"), col("n_removed_chars"))
        .orderBy(col("doc_id"))
    }),

    // DoReMi domain reweighting (Xie et al. 2023): a synthesized
    // per-(step, domain) loss log (proxy = n_chars micro-nats, ref a
    // flat 290k floor — domains with longer docs accrue excess loss and
    // get upweighted), run through the exact-integer multiplicative-
    // weights recursion; output the time-averaged scale-S weight and the
    // budget-400 resampling quota per domain — every division floors on
    // non-negative integers, so the whole recursion replays bit-exact in
    // the DuckDB HUGEINT CTE
    "q184_doremi_weights" -> ((s, d) => {
      import s.implicits._
      val docs = Tables(s, d, "documents")
      val w = doremiLearnedWeights(s, d)
      val counts = docs.where(col("lang").isNotNull)
        .groupBy(col("lang").as("domain")).agg(count(lit(1)).as("nc"))
      w.toDF("domain", "weight").join(counts, "domain")
        .select(col("domain"), col("weight"),
          least(col("nc"), expr("(400 * weight) div 1000000000000"))
            .as("quota"))
        .orderBy(col("domain"))
    }),

    // calibration sweep for the learned quality screen (the step that
    // turns a scored corpus into a deployable filter): q143's integer NB
    // scores with the training signal as ground truth, 7 candidate
    // thresholds derived EXACTLY from the score range (min + i·span div
    // 8 — integer arithmetic both engines reproduce), confusion counts +
    // ppm precision/recall/f1 from ONE 4·K-sum aggregate pass
    "q189_threshold_sweep" -> ((s, d) => {
      val scored = sweepScored(s, d, scratchDir("q189_nb", d)).persist()
      try {
        val ths = sweepLadder(scored)
        if (ths.isEmpty) emptySweepFrame(s)
        else graft.ops.LangModel.thresholdSweep(scored, "score", "pos", ths)
          .orderBy(col("threshold"))
      } finally scored.unpersist()
    }),

    // q189 in TOKEN space (the unit screen ablations report — "this
    // threshold keeps N tokens at such precision"): same ladder, every
    // confusion cell sums the doc's token count instead of 1
    "q191_token_sweep" -> ((s, d) => {
      val scored = sweepScored(s, d, scratchDir("q191_nb", d)).persist()
      try {
        val ths = sweepLadder(scored)
        if (ths.isEmpty) emptySweepFrame(s)
        else graft.ops.LangModel.thresholdSweepTokens(
          scored, "score", "pos", "n_toks", ths)
          .orderBy(col("threshold"))
      } finally scored.unpersist()
    }),

    // sized-shard log FSCK: build on the even docs, then plant the one
    // corruption reachable through the API — re-appending the %10 docs
    // (all of them committed evens) with the id guard off — and audit.
    // The report derives every number from the standing data + meta
    // (dup ids and surplus rows = the planted slice; data total ≡ meta
    // total because appends commit meta first and every write
    // completed), so DuckDB replays it from the same batch arithmetic.
    // The bloom check is Spark-binary-only and is pinned in OpsSpec
    // instead (bloomCheck = false here); the clean id-guard append path
    // is q162's surface. targetWeight 6000 keeps the per-dir write
    // floor — the query's real cost — at ~25 dirs.
    "q192_log_verify" -> ((s, d) => {
      val (docs, out) = sizedLog(s, d, "q192_logverify", col("doc_id") % 2 === 0)
      appendLog(docs, out, col("doc_id") % 10 === 0, checkIds = false)
      graft.ops.Sink.verifySizedLog(s, out, "doc_id", "n_tok",
        bloomCheck = false)
        .orderBy(col("check"))
    }),

    // sized-shard log COMPACTION under the q162 single-hash discipline:
    // three appends leave the touched shards multi-file; compaction
    // rewrites ONLY those down to one id-sorted file each and must
    // bit-preserve the content — the read-back hashes against the pure
    // three-arm cumsum replay (file counts are physical and live in
    // OpsSpec, where crash-replay and untouched-shard pins also live)
    "q193_log_compact" -> ((s, d) => {
      val (docs, out) = sizedLog(s, d, "q193_logcompact", col("doc_id") % 3 === 0)
      appendLog(docs, out, col("doc_id") % 3 === 1)
      appendLog(docs, out, col("doc_id") % 3 === 2)
      graft.ops.Sink.compactSizedShards(s, out, "doc_id")
      logShards(s, out)
    }),

    // targeted deletion from the sized-shard log (takedowns / erasure
    // requests): build on evens, append odds, then delete the %449 docs
    // (a takedown batch is RARE relative to the corpus — the point of
    // the operator is that only the shards holding doomed ids are
    // rewritten, journal-swapped, at a cost scaling with the hit set,
    // not the corpus), the rest stay byte-untouched, and the read-back
    // must equal the full two-arm assignment minus the doomed rows.
    // Meta total and bloom
    // deliberately keep their append-time values (the documented
    // tail-only / superset invariants), so the oracle is pure batch
    // arithmetic; report counts and physical pins live in OpsSpec.
    "q194_log_delete" -> ((s, d) => {
      val (docs, out) = sizedLog(s, d, "q194_logdelete", col("doc_id") % 2 === 0)
      appendLog(docs, out, col("doc_id") % 2 === 1)
      graft.ops.Sink.deleteFromSizedShards(
        s, out, "doc_id", docs.where(col("doc_id") % 449 === 0))
      logShards(s, out)
    }),

    // the calibration round trip DEPLOYED (q189 → a live filter): sweep
    // the same ladder, pick the smallest threshold reaching 55% measured
    // precision (max recall subject to the floor), keep score ≥ t — the
    // whole train→score→calibrate→filter chain under one hash
    "q190_calibrated_screen" -> ((s, d) => {
      val scored = sweepScored(s, d, scratchDir("q190_nb", d))
      val cached = scored.persist()
      // deploying on a corpus with nothing to calibrate is LOUD (empty
      // ladder fails thresholdSweep's guard), unlike the report queries
      val t = try {
        val sweep = graft.ops.LangModel.thresholdSweep(
          cached, "score", "pos", sweepLadder(cached))
        graft.ops.LangModel.pickThreshold(sweep, minPrecisionPpm = 550000L)
      } finally cached.unpersist()
      scored.where(col("score") >= t)
        .select(col("doc_id"), col("score")).orderBy(col("doc_id"))
    }),

    // checksum-verified PII screen: planted valid/invalid card numbers
    // (incl. a separator-grouped form) and IBANs over the natural text —
    // candidates by surface regex, then EXACT Luhn / mod-97 arithmetic
    // as array-HOF folds, so the verified counts hash against the same
    // fold in DuckDB list lambdas
    "q187_checksum_pii" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val aug = docs.select(col("doc_id"), concat(
        when(col("doc_id") % 7 === 0, lit("pay 4532015112830366 now "))
          .when(col("doc_id") % 7 === 1, lit("ref 4532015112830367 xx "))
          .when(col("doc_id") % 7 === 2, lit("card 4532-0151-1283-0366 ok "))
          .when(col("doc_id") % 7 === 3, lit("iban DE89370400440532013000 eur "))
          .when(col("doc_id") % 7 === 4, lit("iban DE89370400440532013001 bad "))
          .when(col("doc_id") % 7 === 5,
            lit("acct GB82WEST12345698765432 and 4532015112830366 "))
          .otherwise(lit("")),
        col("text")).as("text"))
      val pii = graft.ops.TextOps.checksumPiiColumns(col("text"))
      aug.select(col("doc_id") +: pii.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // full multi-round Lloyd k-means over int8 codes (the corpus-map
    // upgrade from one-shot seed buckets to real clusters): 3 exact
    // integer mean→reassign rounds on the shifted codes, every centroid
    // element a floor mean and every distance an integer squared-L2 —
    // the whole iteration replays in the DuckDB unrolled-round CTE
    "q186_kmeans" -> ((s, d) => {
      graft.ops.Similarity.integerKMeans(
        embParallel(s, d), "embedding", "vec_id", k = 8, rounds = 3)
        .orderBy(col("vec_id"))
    }),

    // cluster-balanced diverse subset (the D4-adjacent "sample evenly
    // across embedding clusters" selection): REAL k-means cells (2 Lloyd
    // rounds) → 20 docs per cell in md5 content order — big clusters
    // subsample, small ones keep everything, so the kept set spans the
    // embedding space instead of mirroring its density
    "q188_cluster_balanced" -> ((s, d) => {
      val lab = graft.ops.Similarity.integerKMeans(
        embParallel(s, d), "embedding", "vec_id", k = 8, rounds = 2)
      // unclusterable (null-vector) docs are not a cluster — drop them,
      // exactly like the oracle builds kept from assigned rows only
      graft.ops.Sampling.takePerStratum(
        lab.where(col("cell").isNotNull).select(col("vec_id"), col("cell")),
        "cell", "vec_id", n = 20)
        .orderBy(col("vec_id"))
    }),

    // the learned weights fed back into sampling (the paper's round
    // trip): resample the same corpus to the q184 weights at budget 400 —
    // each domain keeps its ⌊budget·w/S⌋-row md5-content-order prefix
    "q185_doremi_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val w = doremiLearnedWeights(s, d)
      graft.ops.Sampling.takeDoremiMix(
        docs.select(col("doc_id"), col("lang").as("domain")),
        "domain", "doc_id", w, budget = 400L)
        .select(col("doc_id"), col("domain"))
        .orderBy(col("doc_id"))
    }),

    "q138_bpe_word_histogram" -> ((s, d) => {
      graft.ops.TextOps.preTokenHistogram(Tables(s, d, "documents"), "text")
        .select(col("word"), col("n"))
        .orderBy(col("word"))
    }),

    // the last-mile composition end-to-end under ONE hash: epochShuffle
    // positions → stride groups (pos % 4, a distributed loader's worker
    // assignment) → capacity-token sequence bins in position order →
    // hash-sharded sink, manifest read back FROM the written files (the
    // q105 discipline). Every stage keys on a bounded column — the naive
    // orderBy(pos) global sort never appears (PlanSpec-pinned)
    "q142_epoch_order_shards" -> ((s, d) => {
      val out = scratchDir("q142_epochshards", d)
      val bins = graft.ops.Packing.materializeEpochOrder(
        Tables(s, d, "documents"), "doc_id", "text",
        epoch = 7L, capacity = 256L, nGroups = 4)
        .withColumn("bin_key", concat(col("grp"), lit(":"), col("bin")))
      graft.ops.Sink.writeShards(bins, out, "bin_key", nShards = 4,
        overwrite = true)
      graft.ops.Sink.shardManifest(s, out, sumCols = Seq("n_tokens"))
        .orderBy(col("shard"))
    }),

    // the SIXTH index lifecycle end-to-end under the hash oracle:
    // standing corpus token counters persisted as delta epochs (build on
    // the %3=1 slice, append the %3=2 slice — one batch-histogram delta,
    // replay-guarded by the committed ids + bloom), then the daily probe:
    // frequencyScore for the %3=0 arrivals against the COMMITTED totals
    // only. Exact integers end to end, so the whole lifecycle hashes
    "q141_tf_index_lifecycle" -> ((s, d) => {
      q141Build(s, d)
      q141Append(s, d)
      q141Probe(s, d).orderBy(col("doc_id"))
    }),

    // GLOBAL quality filter: the best 20% of the WHOLE corpus by token
    // count in (score DESC, md5, id) order — takeTopFraction's exact rule
    // at one constant stratum, the two-phase take instead of a global sort
    "q139_take_global_top" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
      graft.ops.Sampling.takeGlobalTopFraction(
        docs, "doc_id", "n_tok", fraction = 0.2, nBuckets = 8)
        .select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // GLOBAL quality-ordered token budget: the corpus's highest-quality
    // docs until 1 500 running tokens, crossing row kept — q130's rule
    // with no stratum
    "q140_take_global_tokens_top" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
      graft.ops.Sampling.takeGlobalTokensTop(
        docs, "doc_id", "n_tok", "n_tok", budget = 1500L, nBuckets = 8)
        .select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // global TOKEN-budget sample: the md5-order corpus prefix until 2 000
    // tokens, crossing row kept — q103's rule at one global stratum
    "q137_take_global_tokens" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
      graft.ops.Sampling.takeGlobalTokens(docs, "doc_id", "n_tok", budget = 2000L)
        .select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // deterministic GLOBAL sample: exactly 137 docs of the whole corpus in
    // md5 content order (nested: any larger sample contains these) — the
    // constant-stratum two-phase take, no global sort
    "q136_take_global" -> ((s, d) => {
      graft.ops.Sampling.takeGlobal(Tables(s, d, "documents"), "doc_id", 137L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // engine-portable epoch shuffle: every doc's exact global position in
    // the md5(epoch # id) order, computed WITHOUT a global sort (bucket
    // counts → driver prefix → per-bucket window + broadcast offset);
    // positions are data, so the hash compare checks the whole permutation
    "q135_epoch_shuffle" -> ((s, d) => {
      graft.ops.Sampling.epochShuffle(
        Tables(s, d, "documents"), "doc_id", epoch = 7L)
        .select(col("doc_id"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    // quality-FILLED temperature mix: q112's sqrt-share quotas per domain,
    // but each quota filled with the domain's LONGEST documents (score =
    // token count, heavy ties broken in md5 content order) instead of a
    // content-keyed sample — the quality-aware multilingual recipe
    "q134_temperature_quality" -> ((s, d) => {
      val docs = tokenCounted(docsParallel(s, d))
        .withColumn("domain", substring(col("source"), 1, 4))
      graft.ops.Sampling.temperatureMixTopQuality(
        docs, "domain", "doc_id", "n_tok", alpha = 0.5, targetRows = 300,
        nBuckets = 8)
        .select(col("doc_id"), col("domain"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // TIE-DENSE top-fraction: score = n_tok % 3 (three values over
    // hundreds of docs per source — the quantile boundaries collapse and
    // the cutoff lands mid-tie in every source) with maxBoundaryTaskRows
    // forced to 1 so the run/tie machinery — score-run classification +
    // the md5 sub-bucket tie path — is the path the oracle hashes, not
    // the direct boundary window. Same exact-kept-set contract as q129.
    "q131_top_fraction_tiedense" -> ((s, d) => {
      val docs = tokenCounted(docsParallel(s, d))
        .withColumn("q3", col("n_tok") % 3)
      graft.ops.Sampling.takeTopFraction(
        docs, "source", "doc_id", "q3", fraction = 0.4, nBuckets = 8,
        maxBoundaryTaskRows = 1L)
        .select(col("doc_id"), col("source"), col("q3"))
        .orderBy(col("doc_id"))
    }),

    // TIE-DENSE quality-ordered token budget: the q130 keep rule (cum
    // token weight in (score DESC, md5, id) order, crossing row kept)
    // driven through the run/tie path — binary quality flag, so ~half of
    // every source is ONE tie run and the md5 sub-bucket prefix decides
    // the cutoff
    "q132_top_budget_tiedense" -> ((s, d) => {
      val docs = tokenCounted(docsParallel(s, d))
        .withColumn("good", (col("n_tok") % 2).cast("long"))
      graft.ops.Sampling.takeTopTokenBudget(
        docs, "source", "doc_id", "good", "n_tok", budget = 500L,
        nBuckets = 8, maxBoundaryTaskRows = 1L)
        .select(col("doc_id"), col("source"), col("good"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // ADAPTIVE bucket-width degrade: q103's token budget requested at the
    // widest bucket width under a classification cap of 350 rows — every
    // width down to 16^1 overflows it (distinct (source, bucket) groups
    // exceed 350 at h ≥ 2 for this corpus; 20 sources × 16 fits at h = 1),
    // so takeBudgets must retry NARROWER until the table fits, and the
    // kept set must be IDENTICAL to q103's (width only moves the boundary
    // window's size) — the shared oracle form hashes exactly that
    "q133_token_budget_degrade" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
      graft.ops.Sampling.takeTokenBudget(
        docs, "source", "doc_id", "n_tok", budget = 600L, bucketHexLen = 6,
        maxClassificationRows = 350)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // temperature mixing WITH REPLACEMENT (the recipe as mT5 trains it):
    // target 900 over 500 docs forces upsampling — tail domains emit full
    // copies plus an md5-order partial copy, head domains subsample; the
    // copy index is part of the output so the repeat structure is itself
    // oracle-checked
    "q128_temperature_repeat" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("domain", substring(col("source"), 1, 4))
      graft.ops.Sampling.temperatureMixRepeat(
        docs, "domain", "doc_id", alpha = 0.5, targetRows = 900)
        .select(col("doc_id"), col("domain"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),

    // temperature mixing in TOKEN space (the recipe as mT5 states it):
    // sqrt token shares set per-domain token quotas, membership is the
    // md5-content-order prefix until the quota — binding at every SF
    "q124_temperature_tokens" -> ((s, d) => {
      val docs = tokenCounted(Tables(s, d, "documents"))
        .withColumn("domain", substring(col("source"), 1, 4))
      graft.ops.Sampling.temperatureMixTokens(
        docs, "domain", "doc_id", "n_tok", alpha = 0.5, targetTokens = 10000L)
        .select(col("doc_id"), col("domain"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // exact KNN self-join: every embedding's top-3 cosine neighbors — the
    // all-pairs baseline (broadcast-quadratic; the scale path is q114)
    "q113_knn_join" -> ((s, d) =>
      graft.ops.Similarity.knnJoin(
        embParallel(s, d), "embedding", "vec_id", k = 3)
        .orderBy(col("query_id"), col("rank"))),

    // IVF-celled KNN self-join probed at nprobe = nlist: exhaustive
    // probing makes the result EXACTLY brute force (q113's oracle,
    // verbatim — the q99 trick) while exercising the corpus-scale plan:
    // the candidate join is keyed on the int cell id (PlanSpec pins that
    // with broadcast disabled both corpus-sized sides exchange once by
    // cell), per-partition work is cell-local pair scoring. RecallSpec
    // pins the nprobe < nlist recall floor.
    "q114_knn_join_ivf" -> ((s, d) =>
      graft.ops.Similarity.ivfKnnJoin(
        embParallel(s, d), "embedding", "vec_id",
        k = 3, nlist = 16, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))),

    // kNN classification: the held-out fifth of the embeddings classified
    // by the majority label of their 5 nearest LABELED neighbors — the
    // exact broadcast-quadratic baseline; every tie-break in the vote is
    // an integer (votes, best rank, label), so the decision hashes
    "q149_knn_classify" -> ((s, d) => {
      val emb = embParallel(s, d)
      graft.ops.Similarity.classifyByNeighbors(
        emb.where(col("vec_id") % 5 =!= 0),
        emb.where(col("vec_id") % 5 === 0),
        "embedding", "vec_id", "label", k = 5)
        .orderBy(col("query_id"))
    }),

    // label-error audit (the kNN-vote form of label-noise mining): every
    // embedding's 5-NN vote — the IVF self-join at nprobe = nlist, exact
    // on the corpus-scale exchange-by-cell plan (q114) — against its
    // ASSIGNED label; survivors are the disagreements a curator reviews
    "q150_label_disagreement" -> ((s, d) => {
      val emb = embParallel(s, d)
      val knn = graft.ops.Similarity.ivfKnnJoin(
        emb, "embedding", "vec_id", k = 5, nlist = 16, nprobe = 16)
      graft.ops.Similarity.labelVote(knn, emb, "vec_id", "label")
        .join(emb.select(col("vec_id").as("query_id"),
          col("label").as("assigned")), Seq("query_id"))
        .where(col("label") =!= col("assigned"))
        .select(col("query_id"), col("assigned"),
          col("label").as("voted"), col("votes"))
        .orderBy(col("query_id"))
    }),

    // SemDeDup (Abbas et al. 2023): embedding pairs ≥ 0.35 cosine form
    // transitive clusters; min-id representative survives, everything else
    // is the audit trail. Probed at nprobe = nlist so the pair set is the
    // exact threshold join — fully SQL-oracled (recursive-CTE closure,
    // same machinery as q61).
    "q115_semantic_dedup" -> ((s, d) =>
      graft.ops.Similarity.semanticDedup(
        embParallel(s, d), "embedding", "vec_id",
        minCosine = 0.35, nlist = 16, nprobe = 16)
        .select(col("id").as("vec_id"), col("rep"),
          col("cluster_size"), col("kept"))
        .orderBy(col("vec_id"))),

    // SemDeDup with a QUALITY election: the id-derived %100 score varies
    // inside clusters, so winners genuinely differ from q115's min-id
    // picks while rep stays the stable min-id cluster label
    "q123_semantic_keep_best" -> ((s, d) =>
      graft.ops.Similarity.semanticDedupKeepBest(
        embParallel(s, d).withColumn("score", pmod(col("vec_id") * 7, lit(100))),
        "embedding", "vec_id", "score",
        minCosine = 0.35, nlist = 16, nprobe = 16)
        .select(col("id").as("vec_id"), col("rep"),
          col("cluster_size"), col("kept"))
        .orderBy(col("vec_id"))),

    // incremental SemDeDup — the FIFTH daily-batch path (after q90 LSH,
    // q108 paragraphs, q120 containment, q122 winnowing): the standing
    // corpus (%10 != 0) is indexed once, today's batch (%10 == 0) probes
    // it for cross pairs only plus its own in-batch pairs, and the
    // standing side wins every election. nprobe = nlist so the pair sets
    // are exact ⇒ fully SQL-oracled (recursive-CTE closure with the
    // standing-anchor override)
    "q125_semantic_against" -> ((s, d) => {
      standingAnn(s, d, "q125_annindex")
      q125Probe(s, d)
        .select(col("id").as("vec_id"), col("rep"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    // q125's incremental SemDeDup with the QUALITY election inside
    // batch-only clusters; the (id·13) mod 97 score FLIPS the winner in
    // the sf0.01 two-member batch-only cluster (ids 80/230 score 70/80),
    // so the election path is binding, not a min-id echo. Anchored
    // components still keep nothing — standing wins regardless of score,
    // the first-writer-wins contract of every lifecycle
    "q127_semantic_kb_against" -> ((s, d) => {
      standingAnn(s, d, "q127_annindex")
      q127Probe(s, d)
        .select(col("id").as("vec_id"), col("rep"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    // paragraph-index lifecycle (the third index next to q97 LSH and q99
    // ANN): build the standing paragraph-hash index on the %3==1 docs,
    // fold the %3==2 docs in as a delta append, probe the never-indexed
    // %3==0 docs — indexed paragraphs suppressed, fresh ones deduped
    // first-occurrence within the probe batch; everything exact, so the
    // whole lifecycle is SQL-oracled
    "q108_paragraph_index" -> ((s, d) => {
      q108Build(s, d)
      q108Append(s, d)
      q108Probe(s, d)
        .select(col("doc_id"), col("cleaned"), col("n_paras"), col("n_kept_paras"))
        .orderBy(col("doc_id"))
    }),

    // pairwise source-overlap matrix: distinct shared 5-grams per source
    // pair — the mixing-table diagnostic (large off-diagonals = sources
    // duplicating each other); text collapses to (source, gram-key)
    // pairs before the one self-join
    "q106_source_overlap" -> ((s, d) =>
      graft.ops.Decontam.sourceOverlapMatrix(
        docsParallel(s, d), "source", "text", n = 5)
        .orderBy(col("stratum_a"), col("stratum_b"))),

    // DSIR-style two-corpus frequency contrast: rank raw docs by how
    // target-like their token mass is (the %7 subset plays the curated
    // target domain). Exact integer sums — the log-ratio stays with the
    // caller so every engine hashes identically
    "q116_contrast_score" -> ((s, d) => {
      val raw = docsParallel(s, d)
      val target = Tables(s, d, "documents").where(col("doc_id") % 7 === 0)
      graft.ops.TextOps.contrastScore(raw, target, "doc_id", "text", "text")
        .orderBy(col("doc_id"))
    }),

    // DSIR selection (the step q116 only ships the signal for): band raw
    // docs by the integer-exact floor(log2) importance ratio against the
    // %7 target, allocate the token budget across bands by importance
    // mass (2^band × band tokens — IEEE-exact power-of-two scaling), take
    // each band's md5-content-order prefix. Every arithmetic step
    // recomputes identically in DuckDB ⇒ fully oracled
    "q126_dsir_select" -> ((s, d) => {
      val raw = docsParallel(s, d)
      val target = Tables(s, d, "documents").where(col("doc_id") % 7 === 0)
      graft.ops.Sampling.dsirSelect(raw, target, "doc_id", "text", "text",
        tokenBudget = 20000L)
        .select(col("doc_id"), col("band"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // asymmetric n-gram containment (the quote/subset detector Jaccard
    // misses): every %11 doc gets a planted 30-token-prefix derivative,
    // whose 5-gram set is wholly contained in its source — containment
    // 1.0 for the pair while Jaccard would sit near |deriv|/|orig|.
    // maxDf = 50 exercises the boilerplate cap on both engines
    "q117_containment_pairs" -> ((s, d) => {
      val docs = idText(s, d)
      graft.ops.Decontam.containmentPairs(
        docs.unionByName(derivatives(docs)), "doc_id", "text",
        n = 5, minContainment = 0.5, maxDf = 50)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // winnowing fingerprints (Schleimer et al. 2003 / MOSS): the planted
    // q117 derivatives share ≥ 30-token runs with their sources — far past
    // the w+n-1 = 8 guarantee — so every derivative pair surfaces from
    // ~2/(w+1) of the gram volume; per-doc selection is pure codegen in
    // the scan, value-level minima make the set engine-portable
    "q121_winnowing_pairs" -> ((s, d) => {
      val docs = idText(s, d)
      graft.ops.Decontam.winnowingPairs(
        docs.unionByName(derivatives(docs)), "doc_id", "text",
        n = 5, w = 4, minShared = 2, maxDf = 50)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // winnowing-fingerprint index lifecycle (the FOURTH index next to q97
    // LSH, q99 ANN, q108 paragraphs): build postings on the even docs,
    // fold the odd docs in as a delta append, probe the planted q117
    // derivatives for partial overlap against the whole standing corpus —
    // all exact, so the lifecycle is fully SQL-oracled
    "q122_fp_index" -> ((s, d) => {
      q122Build(s, d)
      q122Append(s, d)
      q122Probe(s, d).orderBy(col("new_id"), col("existing_id"))
    }),

    // incremental containment: today's batch (the planted derivatives)
    // against the standing corpus — only cross-side pairs generated, df
    // cap over the union so batch ≡ rebuild; the daily-crawl twin of q117
    "q120_containment_against" -> ((s, d) => {
      val docs = idText(s, d)
      graft.ops.Decontam.containmentPairsAgainst(
        derivatives(docs), docs, "doc_id", "text",
        n = 5, minContainment = 0.5, maxDf = 50)
        .orderBy(col("new_id"), col("existing_id"))
    }),

    // hard-negative mining for contrastive training: per query (the %17
    // vectors — a "training batch"), top-5 corpus neighbors inside the
    // cosine band [0.1, 0.8) — near-dups excluded above, easy negatives
    // below; broadcast-probe plan, band fused into the corpus scan
    "q118_hard_negatives" -> ((s, d) => {
      val emb = embParallel(s, d)
      graft.ops.Similarity.hardNegatives(
        emb, emb.where(col("vec_id") % 17 === 0), "embedding", "vec_id",
        k = 5, maxCosine = 0.8, minCosine = 0.1)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the corpus-scale twin of q118: candidates from the persisted ANN
    // index (queries can be corpus-sized, no broadcast-quadratic sweep);
    // probed at nprobe = nlist so the mined set is EXACTLY q118's — same
    // oracle verbatim, the q99/q114 trick. The in-band filter runs before
    // the ranking window, so the shuffle carries only in-band pairs
    "q119_hard_negatives_ivf" -> ((s, d) => {
      q119Build(s, d)
      q119Probe(s, d).orderBy(col("query_id"), col("rank"))
    }),

    // sharded corpus sink: write documents as shard=NN parquet (md5-nibble
    // shard, bounded file count, id-sorted files), then read the manifest
    // BACK FROM THE FILES — the oracle recomputes every shard's rows and
    // char sum from the raw table, so the round trip proves the layout
    // lost nothing and the shard key is engine-portable
    "q105_shard_sink" -> ((s, d) => {
      graft.ops.Sink.writeShards(
        Tables(s, d, "documents"), scratchDir("q105_shards", d), "doc_id",
        nShards = 16, filesPerShard = 2, overwrite = true)
      graft.ops.Sink.shardManifest(s, scratchDir("q105_shards", d), sumCols = Seq("n_chars"))
        .orderBy(col("shard"))
    }),

    // unicode-script mix per document: Java regex and RE2 agree on script
    // classes, so the per-script char counts hash-match across engines
    "q96_script_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      docs.select(
        Seq(col("doc_id")) ++
          graft.ops.TextOps.scriptColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // audio resample: 8 kHz → 4 kHz halves the sample count and preserves
    // the integer-ms duration exactly (pure integer interpolation) — the
    // oracle predicts the resampled metadata from the text column alone
    "q95_audio_resample" -> ((s, d) => {
      val wav = graft.ops.Audio.synthesizeWav(
        s, docsParallel(s, d), "doc_id", "text", "payload")
      val half = graft.ops.Audio.resample(s, wav, "doc_id", "payload", toRate = 4000)
        .where(col("error").isNull)
      graft.ops.Audio.audioMeta(s, half, "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("error").isNull.as("ok"))
        .orderBy(col("doc_id"))
    }),

    // corpus snapshot diff: "after" drops every 7th doc, rewrites every
    // 5th, adds 10 synthetic ids — each id classified by presence +
    // content hash; text never reaches the join
    "q94_corpus_diff" -> ((s, d) => {
      // two planted null-text docs (ids chosen above the +1000000 'added'
      // range so no corpus scale can collide with them) exercise the null
      // contract: both-null
      // compares 'unchanged' (null-safe <=>), and the %5 "edit" of a null
      // text is null-propagating concat — still null, still 'unchanged'
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(s.range(1).select(
          lit(2999995L).as("doc_id"), lit(null).cast("string").as("text")))
        .unionByName(s.range(1).select(
          lit(2999998L).as("doc_id"), lit(null).cast("string").as("text")))
      val after = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") <= 10)
          .withColumn("doc_id", col("doc_id") + 1000000))
      graft.ops.Dedup.corpusDiff(docs, after, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // span-level decontamination: the q71 train/test setup, but covered
    // tokens are surgically removed instead of dropping whole documents
    "q93_redact_contaminated" -> ((s, d) => {
      val split = graft.ops.Sampling.md5Split(docsParallel(s, d), "text")
      graft.ops.Decontam.redactContaminated(
        split.where(col("split") === "train"),
        split.where(col("split") === "test"),
        "doc_id", "text", n = 5)
        .select(col("doc_id"), col("cleaned"), col("n_removed_tokens"))
        .orderBy(col("doc_id"))
    }),

    // corpus length distribution: docs bucketed by token count — the
    // histogram every corpus report starts with; pure integer bucketing
    // into one map-side-combining aggregate
    "q92_token_histogram" -> ((s, d) =>
      graft.ops.TextOps.tokenHistogram(
        Tables(s, d, "documents"), "text", bucketWidth = 32)
        .orderBy(col("bucket"))),

    // per-column profile: one aggregate pass + stack unpivot (describe()
    // analogue; int/string columns only in the query so min/max string
    // rendering is engine-identical)
    "q91_profile" -> ((s, d) =>
      graft.relation.Relation(Tables(s, d, "nation"))
        .apply("n_nationkey", "n_name", "n_regionkey")
        .profile(approx = false).order("column").toDF),

    // incremental dedup: the day's arrivals (doc_id % 10 = 0) checked
    // against the standing corpus — new×new and existing×existing pairs
    // never generated; exact O(new×existing) jaccard is the oracle (the
    // q35 recall argument: this banding finds every >= 0.5 pair here)
    "q90_dedup_incremental" -> ((s, d) => {
      val docs = docsParallel(s, d)
      graft.ops.Dedup.minhashPairsAgainst(
        docs.where(col("doc_id") % 10 === 0),
        docs.where(col("doc_id") % 10 =!= 0),
        "text", "doc_id", k = 3, numHashes = 64, bands = 32, threshold = 0.5)
        .orderBy(col("new_id"), col("existing_id"))
    }),

    // §2.3 full outer join — nulls on both sides: left-only orders (no
    // matching small-key customer) and right-only customers (no orders in
    // the filtered slice)
    "q89_join_outer" -> ((s, d) => {
      val orders = graft.relation.Relation(
        Tables(s, d, "orders")).filter("o_orderkey <= 1000")
        .apply("o_orderkey", "o_custkey").toDF
      val cust = graft.relation.Relation(
        Tables(s, d, "customer")).filter("c_custkey <= 50")
        .apply("c_custkey", "c_name").toDF
      graft.relation.Relation(orders)
        .outerJoin(graft.relation.Relation(cust), "o_custkey = c_custkey")
        .order("o_orderkey NULLS FIRST, c_custkey NULLS FIRST").toDF
    }),

    // production dedup policy: form clusters, keep the LONGEST copy per
    // cluster (ties to smallest id) instead of the arbitrary min-id —
    // oracle = the q61 recursive-CTE closure + a QUALIFY pick
    "q88_dedup_keep_best" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val pairs = minhashDocPairs(s, d)
      val clusters = graft.ops.Dedup.dedupClusters(docs, "doc_id", pairs)
      graft.ops.Dedup.keepBestPerCluster(
        docs, "doc_id", clusters, graft.ops.TextOps.tokenCount(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // the full video pipeline composed end-to-end: AVI → frames → per-
    // frame luma features → mean-pooled per-doc embedding → exact ANN.
    // Same mid-query materialization as q62 so DuckDB ranks the identical
    // vectors (cosine over DOUBLE[] is then bit-identical)
    "q87_video_ann" -> ((s, d) => {
      val avi = graft.ops.Multimodal.synthesizeAvi(
        s, docsParallel(s, d), "doc_id", "text", "payload")
      val frames = graft.ops.Multimodal.frameSample(s, avi, "doc_id", "payload", everyN = 1)
        .where(col("error").isNull)
        .select(col("doc_id"), col("frame").as("payload"))
      val perFrame = graft.ops.Multimodal.featureExtract(s, frames, "doc_id", "payload", dim = 16)
        .where(col("error").isNull)
      graft.ops.Similarity.meanPoolEmbeddings(perFrame, "doc_id", "embedding")
        .write.mode("overwrite").parquet(scratchDir("q87_features", d))
      val feat = s.read.parquet(scratchDir("q87_features", d))
      graft.ops.Similarity.bruteForceTopK(
        feat, feat.where(col("doc_id") < 5), "embedding", "doc_id", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // materialized packed sequences: the concat-and-chunk layout emitted
    // as actual (group, bin, bin_text) training rows — every bin exactly
    // capacity tokens except each group's last; fragments bound task
    // memory at capacity tokens regardless of corpus size
    "q86_pack_materialize" -> ((s, d) =>
      graft.ops.Packing.materializeBins(
        Tables(s, d, "documents"), "doc_id", "text", capacity = 256, nGroups = 8)
        .orderBy(col("grp"), col("bin"))),

    // engine-portable weighted corpus mix: per-source keep decision is a
    // LEXICOGRAPHIC compare of a 3-hex-digit md5 prefix against the
    // weight's threshold — no base conversion on either engine
    "q85_weighted_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"))
      graft.ops.Sampling.md5WeightedMix(Seq(
        (docs, "full", 0.5),
        (docs.where(col("doc_id") % 2 === 0), "even", 0.9)),
        "doc_id")
        .orderBy(col("mix_source"), col("doc_id"))
    }),

    // audio path (completes the image/video/audio multimodal triple):
    // synthesize WAVs, decode through javax.sound.sampled, integer-exact
    // metadata oracled from the text column (synthWavBytes contract:
    // 160 + 40·(n%32) samples @ 8 kHz mono 16-bit → 20 + 5·(n%32) ms)
    "q84_audio_meta" -> ((s, d) =>
      graft.ops.Audio.audioMeta(
        s, graft.ops.Audio.synthesizeWav(
          s, docsParallel(s, d), "doc_id", "text", "payload"),
        "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("channels"), col("bits"),
          col("n_samples"), col("duration_ms"), col("error").isNull.as("ok"))
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs via 16-bit chunk banding (rows-only).
    // maxHamming = 3 is the sweet spot the 64-bit signature affords: 4
    // chunks of 16 bits give COMPLETE candidate recall by pigeonhole AND
    // a 65k-value bucket space (higher budgets force narrower chunks —
    // 4-bit chunks at maxHamming=8 mean 16 buckets/band, which floods
    // the candidate set on a templated corpus; measured 6x slower).
    "q41_simhash_pairs" -> ((s, d) =>
      graft.ops.Dedup.simhashPairs(
        docsParallel(s, d), "text", "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // char n-gram Jaccard near-dup pairs. n = 10 with 12 bands × 5 rows:
    // the templated corpus has ~0.45 background similarity, and 4-row
    // bands admitted ~half of all background pairs as candidates (7.4M
    // from 5k docs — verification dominated the bench). 5-row bands cut
    // background admission to 0.45^5×12 ≈ 0.20 while the qualifying
    // pairs (all j ≥ 0.92 on this corpus) keep per-pair recall
    // 1-(1-0.92^5)^12 ≈ 1-1e-6 — the exact oracle stays hash-green.
    "q42_ngram_jaccard" -> ((s, d) =>
      graft.ops.Dedup.ngramJaccardPairs(
        docsParallel(s, d), "text", "doc_id", n = 10,
        numHashes = 60, bands = 12, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // IVF ANN top-k — centroid-trained scale path (rows-only; RecallSpec
    // asserts recall@5 vs q37 at nprobe = nlist/2)
    "q43_ann_ivf" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      graft.ops.Similarity.ivfTopK(
        emb, emb.where(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nlist = 16, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // grouping sets via CUBE (phase-2 surface, like q27 ROLLUP)
    "q44_cube" -> ((s, d) => {
      Tables(s, d, "lineitem").createOrReplaceTempView("graft_lineitem_cube")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dsum("l_quantity")} AS sum_qty, cast(count(*) as bigint) AS n
           |FROM graft_lineitem_cube
           |GROUP BY CUBE(l_returnflag, l_linestatus)
           |ORDER BY coalesce(l_returnflag, 'zzz'), coalesce(l_linestatus, 'zzz')
           |""".stripMargin)
    }),

    // arbitrary GROUPING SETS (beyond rollup/cube: the two 1-D marginals
    // in one pass) + grouping_id disambiguation
    "q63_grouping_sets" -> ((s, d) => {
      Tables(s, d, "lineitem").createOrReplaceTempView("graft_lineitem_gs")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  cast(grouping(l_returnflag) as int) AS g_rf,
           |  cast(grouping(l_linestatus) as int) AS g_ls,
           |  ${dsum("l_quantity")} AS sum_qty, cast(count(*) as bigint) AS n
           |FROM graft_lineitem_gs
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
           |ORDER BY coalesce(l_returnflag, 'zzz'), coalesce(l_linestatus, 'zzz')
           |""".stripMargin)
    }),

    // lag/lead window over event time (phase-2 surface)
    "q45_window_lag" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"))
        .orderBy(col("event_id"))
    }),

    // batch tumbling-window aggregate — the batch twin of
    // streaming.StreamingOps.windowedAgg (same window() semantics)
    "q46_time_bucket" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 minute"), col("user_id"))
        .agg(expr("cast(count(*) as bigint)").as("n"),
          expr(dsum("value")).as("total"))
        .select(col("window.start").as("w"), col("user_id"), col("n"), col("total"))
        .orderBy(col("user_id"), col("w"))),

    // content-keyed train/val/test split — md5-based so the assignment is
    // reproducible in ANY engine (oracle checks per-split counts AND ids)
    "q49_data_split" -> ((s, d) =>
      graft.ops.Sampling.md5Split(Tables(s, d, "documents"), "text")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // exact percentiles (linear interpolation — identical definition in
    // Spark's percentile() and DuckDB's quantile_cont)
    "q48_percentile" -> ((s, d) =>
      rel(s, d, "lineitem")
        .aggregate(
          Seq("percentile(l_quantity, 0.5) as p50",
            "percentile(l_quantity, 0.95) as p95",
            "percentile(l_extendedprice, 0.99) as price_p99"),
          groupBy = Seq("l_returnflag"))
        .order("l_returnflag").toDF),

    // §2.4 extension: pivot (explicit value list — no inference scan)
    "q50_pivot" -> ((s, d) =>
      rel(s, d, "orders")
        .withColumns("yr" -> "cast(year(o_orderdate) as int)")
        .pivot(Seq("yr"), "o_orderstatus", Seq("O", "F", "P"), "count(*)")
        .selectNamed(
          "O" -> "cast(coalesce(O, 0) as bigint)",
          "F" -> "cast(coalesce(F, 0) as bigint)",
          "P" -> "cast(coalesce(P, 0) as bigint)")
        .order("yr").toDF),

    // generator/explode surface: corpus token frequencies, top 100
    "q51_token_explode" -> ((s, d) =>
      Relation(graft.ops.TextOps.termFrequencies(Tables(s, d, "documents"), "text"))
        .order("n desc", "token").limit(100).toDF),

    // banded interval join: quantity bands (overlapping) × lineitem — an
    // equi-key hash join on derived buckets, not a nested-loop range join
    "q52_range_join" -> ((s, d) => {
      val bands = Relation(s.range(16).toDF("band_id")
        .selectExpr("band_id", "band_id * 3.0 AS lo", "band_id * 3.0 + 10.0 AS hi"))
      rel(s, d, "lineitem")
        .apply("l_orderkey", "l_linenumber", "l_quantity")
        .rangeJoin(bands, "l_quantity", "lo", "hi", bucket = 5.0)
        .apply("l_orderkey", "l_linenumber", "band_id")
        .order("l_orderkey", "l_linenumber", "band_id").toDF
    }),

    // tf-idf-style per-document top terms (exact rational idf)
    "q53_tfidf" -> ((s, d) =>
      graft.ops.TextOps.topTermsPerDoc(Tables(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // distinct-count: exact (hash-checked) + HLL sketch accuracy asserted
    // in-query (approx_count_distinct is deterministic for fixed data; the
    // oracle states the 5%-accuracy claim as a literal). At 100 TB the
    // sketch IS the operator — mergeable, single-pass, fixed memory.
    "q54_approx_distinct" -> ((s, d) =>
      rel(s, d, "lineitem")
        .aggregate(
          Seq("cast(count(distinct l_partkey) as bigint) as n_parts",
            """cast(abs(approx_count_distinct(l_partkey) - count(distinct l_partkey))
              |  <= 0.05 * count(distinct l_partkey) as boolean) as hll_within_5pct"""
              .stripMargin),
          groupBy = Seq("l_returnflag"))
        .order("l_returnflag").toDF),

    // quantile sketch twin of q48: exact percentile hash-checked, the
    // approx_percentile sketch asserted within 1% in-query
    "q55_approx_percentile" -> ((s, d) =>
      rel(s, d, "lineitem")
        .aggregate(
          Seq("percentile(l_extendedprice, 0.5) as p50",
            """cast(abs(approx_percentile(l_extendedprice, 0.5, 10000)
              |  - percentile(l_extendedprice, 0.5))
              |  <= 0.01 * percentile(l_extendedprice, 0.5) as boolean) as sketch_within_1pct"""
              .stripMargin),
          groupBy = Seq("l_returnflag"))
        .order("l_returnflag").toDF),

    // exhaustive cosine near-dup pairs — the oracle-checked verification
    // baseline for q39's banded LSH (cross-joinable corpus sizes only)
    "q57_neardup_exact" -> ((s, d) =>
      graft.ops.Dedup.embeddingNearDupExact(
        embParallel(s, d), "embedding", "vec_id", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // skew-safe salted join: result identical to the plain equi-join (the
    // oracle IS the plain join), execution spreads each hot key over
    // `salt` reducers
    "q58_salted_join" -> ((s, d) =>
      rel(s, d, "lineitem")
        .apply("l_orderkey", "l_extendedprice")
        .saltedJoin(
          rel(s, d, "orders").apply("o_orderkey", "o_custkey")
            .rename("o_orderkey" -> "l_orderkey"),
          "l_orderkey", salt = 8)
        .aggregate(
          Seq(s"${dsum("l_extendedprice")} as total", "cast(count(*) as bigint) as n"),
          groupBy = Seq("o_custkey"))
        .order("o_custkey").toDF),

    // multimodal composition: real PNG payloads → ImageIO decode →
    // luma-grid feature extraction → exact ANN top-k, end-to-end. The
    // extracted features are materialized to parquet mid-query so the
    // DuckDB oracle can rank the SAME vectors — flipping this composition
    // from rows-only to the full 3-check gate (same cosine-kernel
    // bit-identity argument as q37)
    "q62_multimodal_ann" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val emb = graft.ops.Multimodal.featureExtract(
        s, graft.ops.Multimodal.synthesizePng(s, docs, "doc_id", "text", "payload"),
        "doc_id", "payload", dim = 16)
        .where(col("error").isNull).select("doc_id", "embedding")
      emb.write.mode("overwrite").parquet(scratchDir("q62_features", d))
      val feat = s.read.parquet(scratchDir("q62_features", d))
      graft.ops.Similarity.bruteForceTopK(
        feat, feat.where(col("doc_id") < 5), "embedding", "doc_id", k = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // duplicate-cluster formation: connected components over the verified
    // minhash pair graph (min-label propagation; oracle = recursive CTE
    // transitive closure over the exact-jaccard pair set).
    // maxDriverEdges = 0 PINS the distributed propagation rounds under
    // the oracle (the q79 discipline) — production-sized small graphs
    // take the driver union-find fast path, exercised by q88/q115/q123
    "q61_dedup_clusters" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val pairs = minhashDocPairs(s, d)
      graft.ops.Dedup.dedupClusters(docs, "doc_id", pairs, maxDriverEdges = 0)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy(col("doc_id"))
    }),

    // §2.1 CSV source, model-driven read (schema from the model, never
    // inferSchema): parquet → CSV → readCsv round-trip; the oracle reads
    // the SAME csv file, so the format path itself is under the hash gate
    "q59_csv_roundtrip" -> ((s, d) => {
      val out = "/tmp/graft_csv_roundtrip"
      Tables(s, d, "nation").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      val m = Schema("Nation", Seq(
        FieldSpec.int("n_nationkey"),
        FieldSpec.string("n_name"),
        FieldSpec.int("n_regionkey")))
      ModeledFrame.readCsv(s, out, m).selectModel()
        .df.orderBy(col("n_nationkey"))
    }),

    // JSONL source round-trip (pure extension — training corpora arrive
    // as line-delimited JSON): write nation as JSONL, read back through
    // the Relation source dispatch. Spark writes .json part files, so the
    // dispatch's .json branch is what a user's path hits. Sf-suffixed dir
    // for the same run isolation as q62.
    "q80_jsonl_roundtrip" -> ((s, d) => {
      val out = scratchDir("jsonl_roundtrip", d)
      Tables(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .coalesce(1).write.mode("overwrite").json(out)
      Relation(s, s"$out/*.json")
        .select("cast(n_nationkey as int) as n_nationkey", "n_name",
          "cast(n_regionkey as int) as n_regionkey")
        .order("n_nationkey").toDF
    }),

    // window FRAME surface (running sum, rows unbounded preceding) —
    // complements q26 (row_number) and q45 (lag)
    "q60_window_frame" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          expr("cast(o_totalprice as decimal(18,2))").as("p"))
        .withColumn("running_total",
          sum(col("p")).over(w).cast("double"))
        .select(col("o_orderkey"), col("o_custkey"), col("running_total"))
        .orderBy(col("o_orderkey"))
    }),

    // corpus cleaning: drop documents below the 25th length percentile
    // (exact-percentile threshold, driver-injected literal)
    "q64_quality_filter" -> ((s, d) =>
      graft.ops.TextOps.filterByPercentile(Tables(s, d, "documents"), "n_chars", 0.25)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // content-keyed stratified sampling: downsample the dominant language
    // to rebalance the corpus (en → 4/16), reproducible in any engine
    "q56_stratified_sample" -> ((s, d) =>
      graft.ops.Sampling.md5StratifiedSample(
        Tables(s, d, "documents"), "lang", "text", Map("en" -> 4))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // gap-based sessionization, batch form (lag → flag → running sum) —
    // semantics shared with streaming.StreamingOps.sessionize (equivalence
    // is unit-tested); totals excluded so every column is oracle-exact
    "q47_sessionize" -> ((s, d) =>
      graft.streaming.StreamingOps
        .sessionizeBatch(Tables.events(s, d), gapMs = 30L * 60L * 1000L)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))),

    // §2.2 derive(): model-declared derived columns materialize in field
    // order and may reference earlier derived ones (polars.py:389-441;
    // tests/test_polars.py:201)
    "q65_derive" -> ((s, d) => {
      val m = Schema("PartDerived", Seq(
        FieldSpec.long("p_partkey"),
        FieldSpec.double("p_retailprice"),
        FieldSpec.double("discounted")
          .copy(derivedFrom = Some(Right(col("p_retailprice") * lit(0.9)))),
        FieldSpec.double("price_copy")
          .copy(derivedFrom = Some(Left("p_retailprice"))),
        FieldSpec.double("double_discounted")
          .copy(derivedFrom = Some(Right(col("discounted") * lit(2.0))))))
      ModeledFrame(
        Tables(s, d, "part").select("p_partkey", "p_retailprice"), m)
        .derive().selectModel()
        .df.orderBy(col("p_partkey"))
    }),

    // §2.2 fill_null(strategy="defaults"): defaultable columns fill from
    // the model, columns without a default keep their nulls
    // (polars.py:443-510)
    "q66_fill_null" -> ((s, d) => {
      val m = Schema("LineItemFill", Seq(
        FieldSpec.long("l_orderkey"),
        FieldSpec.int("l_linenumber"),
        FieldSpec.double("d0", nullable = true).copy(default = Some(-1.0)),
        FieldSpec.double("d1", nullable = true)))
      val base = rel(s, d, "lineitem")
        .withColumns(
          "d0" -> "nullif(l_discount, 0.0)",
          "d1" -> "nullif(l_tax, 0.0)")
        .select("l_orderkey", "l_linenumber", "d0", "d1").toDF
      ModeledFrame(base, m).fillNullDefaults()
        .df.orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // §2.1 insert_into round-trip: CTAS then append with reordered source
    // columns; read-back equals table UNION ALL table (duckdb.py:1440-1493;
    // tests/test_duckdb/test_relation.py:734)
    "q67_insert_into" -> ((s, d) => {
      // DROP alone is not enough: a fresh metastore has no catalog entry
      // for a table whose warehouse directory survived a previous session,
      // so the location must be removed explicitly or CTAS throws
      // LOCATION_ALREADY_EXISTS
      s.sql("DROP TABLE IF EXISTS graft_q67_target")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_q67_target")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      rel(s, d, "region").createTable("graft_q67_target")
      rel(s, d, "region").apply("r_name", "r_regionkey")
        .insertInto("graft_q67_target")
      s.table("graft_q67_target").orderBy(col("r_regionkey"), col("r_name"))
    }),

    // §2.8 V7 uniqueness as a lazy report: one shuffle over all unique
    // columns, is_duplicated().sum() semantics (validators.py:223-232);
    // o_orderkey is genuinely unique (n=0), o_custkey is not
    "q68_unique_report" -> ((s, d) => {
      val m = Schema("OrdersUnique", Seq(
        FieldSpec.long("o_orderkey").copy(unique = true),
        FieldSpec.long("o_custkey").copy(unique = true)))
      Validator.uniqueReportDF(Tables(s, d, "orders"), m)
    }),

    // §2.3 GLOBAL as-of join (no by keys): range-bucketed fills + broadcast
    // boundary carry (Relation.globalAsofFill) — never a single-partition
    // window. Purchases pre-aggregated per ts so the match is unique.
    "q69_asof_global" -> ((s, d) => {
      val ev = Relation(Tables.events(s, d))
      val clicks = ev.filterEq("event_type" -> "click")
        .select("user_id", "ts", "value").rename("value" -> "click_value")
      val purchases = ev.filterEq("event_type" -> "purchase")
        .aggregate(Seq("max(value) as pval"), groupBy = Seq("ts"))
      clicks.asofJoin(purchases, by = Nil, leftOn = "ts", rightOn = "ts")
        .order("user_id", "ts", "click_value").toDF
    }),

    // Gopher-style repetition signals: duplicate-line fractions as
    // zero-shuffle HOFs, top-bigram char fraction via explode → two keyed
    // aggregates (no join, no window; see TextOps.repetitionReport)
    "q70_repetition" -> ((s, d) =>
      graft.ops.TextOps.repetitionReport(docsParallel(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // benchmark decontamination: md5-split the corpus, then flag train docs
    // sharing any word 5-gram with the held-out test split (broadcast the
    // eval gram keys; corpus text/grams never shuffle — Decontam scaladoc)
    "q71_decontaminate" -> ((s, d) => {
      val split = graft.ops.Sampling.md5Split(docsParallel(s, d), "text")
      graft.ops.Decontam.contaminationReport(
        split.where(col("split") === "train"),
        split.where(col("split") === "test"),
        "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // PII surface screen: counts + typed-placeholder redaction, over text
    // augmented with deterministic synthetic PII (the raw corpus has none,
    // which would make the check vacuous)
    "q72_pii_redact" -> ((s, d) => {
      val aug = Tables(s, d, "documents").select(
        col("doc_id"),
        concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string")).as("t"))
      aug.select(
        Seq(col("doc_id")) ++
          graft.ops.TextOps.piiColumns(col("t")).map { case (n, c) => c.as(n) } ++
          Seq(graft.ops.TextOps.redactPii(col("t")).as("redacted")): _*)
        .orderBy(col("doc_id"))
    }),

    // context-window chunking: fixed-stride token windows (32 tokens,
    // stride 24 → 8-token overlap), pure per-row generator
    "q73_chunk_tokens" -> ((s, d) =>
      graft.ops.Packing.chunkByTokens(
        Tables(s, d, "documents"), "doc_id", "text", chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // GPT-style concat-and-chunk packing plan: one window over md5 groups,
    // exact integer arithmetic on the running token total
    "q74_pack_plan" -> ((s, d) =>
      graft.ops.Packing.concatChunkPlan(
        Tables(s, d, "documents"), "doc_id", "text", capacity = 256, nGroups = 8)
        .orderBy(col("doc_id"))),

    // true FFD bin packing (no oracle: first-fit is a sequential decision
    // SQL can't express — OpsSpec pins exact placements on a hand-computed
    // fixture and RecallSpec pins packing invariants on this table)
    "q75_pack_ffd" -> ((s, d) =>
      graft.ops.Packing.packFirstFitDecreasing(
        Tables(s, d, "documents"), "doc_id", "text", capacity = 256, nGroups = 8)
        .orderBy(col("doc_id"))),

    // C4-style boilerplate removal: header/footer lines injected into every
    // doc are corpus-frequent → removed; unique bodies survive (cleaned
    // must equal the original text — the oracle checks content, not just
    // counts)
    "q76_boilerplate" -> ((s, d) => {
      val aug = docsParallel(s, d).select(
        col("doc_id"),
        concat(lit("HEADER: subscribe now\n"), col("text"), lit("\nFOOTER "),
          (col("doc_id") % 3).cast("string")).as("t"))
      graft.ops.TextOps.removeFrequentLines(aug, "doc_id", "t", minDocs = 100)
        .select(col("doc_id"), col("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // large-star/small-star connected components over the same LSH pairs as
    // q61 — identical labeling contract (component minimum), O(log²) rounds
    // instead of O(diameter); same recursive-CTE closure oracle.
    // maxDriverEdges = 0 PINS the distributed star rounds: this query is
    // the 100 TB path's showcase, so the adaptive small-graph fast path
    // (which every other closure caller rightly takes at this scale) is
    // disabled here to keep the rounds themselves oracle-checked
    "q79_clusters_star" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val pairs = minhashDocPairs(s, d)
      graft.ops.Dedup.dedupClustersStar(docs, "doc_id", pairs,
        maxDriverEdges = 0)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy(col("doc_id"))
    }),

    // text normalization: control-char strip + whitespace collapse + trim
    // over text augmented with controls/padding (the raw corpus is clean)
    "q78_normalize" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        graft.ops.TextOps.normalizeText(
          concat(lit("  "), col("text"), lit("\t\u000btail\r  "))).as("normalized"))
        .orderBy(col("doc_id"))),

    // per-domain corpus statistics over synthetic URLs (the raw corpus has
    // none): one URL explode into one domain aggregate
    "q77_domain_stats" -> ((s, d) => {
      val aug = Tables(s, d, "documents").select(
        col("doc_id"),
        concat(col("text"), lit(" see https://site"),
          (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" and http://cdn.example.org/lib.js")).as("t"))
      graft.ops.TextOps.domainStats(aug, "doc_id", "t")
        .orderBy(col("domain"))
    }),
  )

  /** DuckDB oracle per query (same parquet tables, same column names). */
  def oracleSql: Map[String, String] = ListMap(
    "q01_aggregate" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        | cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price,
        | cast(count(*) as bigint) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE (l_quantity < 24) AND (l_discount > 0.02) AND l_returnflag = 'A'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_select_star" ->
      "SELECT r_regionkey, upper(r_name) AS r_name FROM region ORDER BY r_regionkey",

    "q04_with_columns" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        | cast(n_nationkey * 2 as int) AS n_key2, lower(n_name) AS n_name_lower
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q05_rename" ->
      "SELECT n_nationkey, n_name AS nation_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "q06_prefix" ->
      """SELECT n_nationkey AS nat_n_nationkey, n_name AS nat_n_name,
        | n_regionkey AS nat_n_regionkey
        |FROM nation ORDER BY nat_n_nationkey""".stripMargin,

    "q07_drop" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q08_case" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
        |  WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status_label,
        | cast(count(*) as bigint) AS n
        |FROM orders GROUP BY 1 ORDER BY status_label""".stripMargin,

    "q09_coalesce" ->
      """SELECT l_orderkey, l_linenumber,
        | coalesce(nullif(l_discount, 0.0), -1.0) AS d0
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q10_cast" ->
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS l_linenumber,
        | cast(cast(l_quantity as decimal(12,2)) as double) AS l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q11_join_inner" ->
      """SELECT c_mktsegment,
        | cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total,
        | cast(count(*) as bigint) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q12_join_left" ->
      """SELECT c_custkey, cast(count(o_orderkey) as bigint) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q13_join_semi" ->
      """SELECT p_partkey FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q14_join_anti" ->
      """SELECT p_partkey FROM part
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_quantity > 48 AND l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q15_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q16_join_asof" ->
      """SELECT l.user_id, l.ts, l.click_value, r.pval
        |FROM (SELECT user_id, cast(ts as timestamp) AS ts, value AS click_value
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (
        |      SELECT user_id, cast(ts as timestamp) AS ts, max(value) AS pval
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, l.ts, l.click_value""".stripMargin,

    "q17_union" ->
      """SELECT c_custkey, c_name FROM (
        |  SELECT c_custkey, c_name FROM customer
        |  UNION ALL SELECT c_custkey, c_name FROM customer)
        |ORDER BY c_custkey, c_name""".stripMargin,

    "q18_intersect" ->
      """SELECT n_nationkey, n_name FROM nation
        |INTERSECT SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10
        |ORDER BY n_nationkey""".stripMargin,

    "q19_except" ->
      """SELECT o_orderstatus FROM (
        |  SELECT o_orderstatus FROM orders EXCEPT SELECT 'F' AS o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,

    "q20_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q21_order_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""".stripMargin,

    "q22_row_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 1000 = 0 ORDER BY o_orderkey""".stripMargin,

    "q23_missing_cols" ->
      """SELECT n_nationkey, n_name, 'active' AS status, cast(NULL as varchar) AS note
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q24_examples" ->
      """SELECT cast(range as bigint) AS id, 'a' AS status,
        | cast(0.5 as double) AS score, cast(NULL as varchar) AS note
        |FROM range(100) ORDER BY id""".stripMargin,

    "q25_validate" ->
      """SELECT loc, chk, n FROM (
        | SELECT 'l_orderkey' AS loc, 'nulls' AS chk,
        |   cast(coalesce(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) as bigint) AS n FROM lineitem
        | UNION ALL SELECT 'l_quantity', 'bounds',
        |   cast(coalesce(sum(CASE WHEN l_quantity IS NOT NULL AND NOT (l_quantity <= 45) THEN 1 ELSE 0 END), 0) as bigint) FROM lineitem
        | UNION ALL SELECT 'l_discount', 'bounds',
        |   cast(coalesce(sum(CASE WHEN l_discount IS NOT NULL AND NOT (l_discount >= 0.05) THEN 1 ELSE 0 END), 0) as bigint) FROM lineitem
        | UNION ALL SELECT 'l_returnflag', 'enum',
        |   cast(coalesce(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N') THEN 1 ELSE 0 END), 0) as bigint) FROM lineitem
        | UNION ALL SELECT 'l_linenumber', 'constraint',
        |   cast(coalesce(sum(CASE WHEN NOT coalesce(l_linenumber < 4, true) THEN 1 ELSE 0 END), 0) as bigint) FROM lineitem
        |) ORDER BY loc, chk""".stripMargin,

    "q26_window" ->
      """SELECT c_nationkey, rn, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    cast(row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) as int) AS rn
        |  FROM customer)
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "q27_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        | cast(count(*) as bigint) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY coalesce(l_returnflag, 'zzz'), coalesce(l_linestatus, 'zzz')""".stripMargin,

    "q28_scalar_funcs" ->
      """SELECT o_orderkey, upper(substr(o_orderpriority, 1, 3)) AS pri,
        | cast(year(o_orderdate) as int) AS yr, o_orderkey % 7 AS m7
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q29_database_query" ->
      """SELECT r_name, cast(count(*) as bigint) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q30_dedup_exact" ->
      """SELECT cast(min(doc_id) as bigint) AS doc_id FROM documents
        |GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

    "q31_token_counts" ->
      """SELECT doc_id,
        | cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) as bigint) AS n_ws,
        | cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) as bigint) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q32_quality" ->
      """SELECT doc_id,
        | cast(length(text) as bigint) AS n_chars,
        | cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) as bigint) AS n_tokens,
        | cast(len(regexp_extract_all(text, '[.,;:!?]')) as bigint) AS n_punct,
        | cast(len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |   w -> w IN ('the','a','an','and','of','to','in','is','it','that'))) as double)
        |   / cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) as double) AS stopword_ratio,
        | cast(length(regexp_replace(text, '\s', '', 'g')) as double)
        |   / cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) as double) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q33_langid" ->
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |    w -> w IN ('the','a','and','of','to','is'))) AS s_en,
        |  len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |    w -> w IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |  len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |    w -> w IN ('el','la','los','de','que','es'))) AS s_es,
        |  len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |    w -> w IN ('le','la','les','et','est','dans'))) AS s_fr,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |      WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |      WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
        |      WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
        |      WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
        |      ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q34_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Exact O(n²) shingle-set Jaccard — the LSH plan's recall on this corpus
    // is total (b=32, r=2 → P(detect j≥0.5) > 0.9999), so the banded +
    // verified output equals the exhaustive answer, and DuckDB's
    // list_intersect division is bit-identical to the merge-scan kernel.
    "q35_minhash_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks)-1)]) AS sh
        |  FROM t WHERE len(toks) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh))::DOUBLE /
        |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // Exact cosine top-k: DuckDB's list_cosine_similarity over DOUBLE[]
    // accumulates left-to-right in double — bit-identical to the
    // CosineSimilarity kernel (verified empirically on all 50 rows).
    "q37_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) as int) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // q37's oracle verbatim: the persisted-index probe at nprobe = nlist
    // scores every (query, neighbor) pair exactly once (each vector lives
    // in one cell; all cells probed), so build→append→probe ≡ brute force
    "q99_ann_index" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) as int) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q81_range_search" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings)
        |SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |FROM q CROSS JOIN c
        |WHERE query_id <> neighbor_id AND list_cosine_similarity(qv, cv) >= 0.35
        |  AND NOT isnan(list_cosine_similarity(qv, cv))
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q81's oracle verbatim: at nprobe = nlist the index probe scores
    // every pair exactly once, so the cosine-floor result is independent
    // of the (sample-trained) quantizer
    "q100_ann_range" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings)
        |SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |FROM q CROSS JOIN c
        |WHERE query_id <> neighbor_id AND list_cosine_similarity(qv, cv) >= 0.35
        |  AND NOT isnan(list_cosine_similarity(qv, cv))
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "q101_repeated_grams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents WHERE text IS NOT NULL
        |), grams AS (
        |  SELECT DISTINCT doc_id, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), gc AS (SELECT g, count(*) AS nd FROM grams GROUP BY g)
        |SELECT doc_id, cast(count(*) AS bigint) AS n_grams,
        |       cast(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_dup_grams
        |FROM grams JOIN gc USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q102_dedup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents WHERE text IS NOT NULL
        |), occ AS (
        |  SELECT doc_id, i - 1 AS pos, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), gw AS (
        |  SELECT g, min(doc_id) AS w FROM occ GROUP BY g
        |  HAVING count(DISTINCT doc_id) >= 2
        |), cov AS (
        |  SELECT DISTINCT o.doc_id, o.pos + f.off AS j
        |  FROM occ o JOIN gw USING (g), unnest(range(0, 5)) AS f(off)
        |  WHERE o.doc_id <> gw.w
        |)
        |SELECT doc_id, cast(count(*) AS bigint) AS n_removed_tokens
        |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q103_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS bigint) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (PARTITION BY source
        |      ORDER BY md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n_tok FROM c
        |WHERE cum - coalesce(n_tok, 0) < 600 ORDER BY doc_id""".stripMargin,

    "q110_keep_best_exact" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        |), s AS (
        |  SELECT doc_id, text, (doc_id * 7) % 100 AS score FROM u
        |), r AS (
        |  SELECT doc_id, score,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY score DESC, doc_id ASC) AS rn
        |  FROM s
        |)
        |SELECT doc_id, cast(score AS bigint) AS score
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q109_frequency_score" ->
      """WITH toks AS (
        |  SELECT doc_id, t.token
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |        FROM documents) d, unnest(d.l) AS t(token)
        |), tf AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY token
        |)
        |SELECT doc_id,
        |  cast(count(*) AS bigint) AS n_toks,
        |  cast(sum(n) AS bigint) AS sum_freq,
        |  cast(sum(CASE WHEN n < 3 THEN 1 ELSE 0 END) AS bigint) AS n_rare
        |FROM toks JOIN tf USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q108_paragraph_index" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    concat(text, e'\n\n', 'shared boilerplate paragraph', e'\n\n',
        |           'para-', doc_id % 7) AS t
        |  FROM documents WHERE text IS NOT NULL
        |), l AS (
        |  SELECT doc_id, string_split_regex(t, '(?:\r?\n){2,}') AS ps FROM aug
        |), p AS (
        |  SELECT doc_id, i - 1 AS pos, ps[i] AS para
        |  FROM l, unnest(range(1, len(ps)+1)) u(i)
        |), idx AS (
        |  SELECT DISTINCT md5(para) AS h FROM p WHERE doc_id % 3 <> 0
        |), pr AS (
        |  SELECT doc_id, pos, para, md5(para) AS h FROM p WHERE doc_id % 3 = 0
        |), j AS (
        |  SELECT pr.doc_id, pr.pos, pr.para, pr.h, idx.h IS NOT NULL AS known
        |  FROM pr LEFT JOIN idx ON pr.h = idx.h
        |), k AS (
        |  SELECT doc_id, pos, para, known,
        |    row_number() OVER (PARTITION BY h, known ORDER BY doc_id, pos) AS rn
        |  FROM j
        |)
        |SELECT doc_id,
        |  coalesce(string_agg(para, e'\n\n' ORDER BY pos)
        |    FILTER (WHERE NOT known AND rn = 1), '') AS cleaned,
        |  cast(count(*) AS bigint) AS n_paras,
        |  cast(count(*) FILTER (WHERE NOT known AND rn = 1) AS bigint) AS n_kept_paras
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q111_para_keep_best" ->
      """WITH aug AS (
        |  SELECT doc_id, (doc_id * 7) % 100 AS score,
        |    concat(text, e'\n\n', 'shared boilerplate paragraph', e'\n\n',
        |           'para-', doc_id % 7) AS t
        |  FROM documents WHERE text IS NOT NULL
        |), l AS (
        |  SELECT doc_id, score, string_split_regex(t, '(?:\r?\n){2,}') AS ps FROM aug
        |), p AS (
        |  SELECT doc_id, score, i - 1 AS pos, ps[i] AS para
        |  FROM l, unnest(range(1, len(ps)+1)) u(i)
        |), r AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY md5(para)
        |      ORDER BY score DESC, doc_id, pos) AS rn
        |  FROM p
        |)
        |SELECT doc_id,
        |  coalesce(string_agg(para, e'\n\n' ORDER BY pos) FILTER (WHERE rn = 1), '') AS cleaned,
        |  cast(count(*) AS bigint) AS n_paras,
        |  cast(count(*) FILTER (WHERE rn = 1) AS bigint) AS n_kept_paras
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // quotas recomputed from counts with the same IEEE-exact sqrt; the
    // normalizer sums in domain order (list_sum over an ORDER BY list)
    // mirroring the operator's name-ordered driver fold
    // score-ordered cumulative token window, crossing row kept
    "q130_top_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (PARTITION BY source
        |      ORDER BY n_tok DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n_tok FROM r
        |WHERE cum - coalesce(n_tok, 0) < 700 ORDER BY doc_id""".stripMargin,

    // the GPT-2 pre-tokenizer spelled for RE2 (no lookahead): on a corpus
    // with no interior multi-space runs or trailing whitespace the
    // `\s+(?!\S)` branch never fires, so this alternation tokenizes
    // byte-identically to the Java regex the Spark side uses
    // scores with the SAME materialized integer weight table the Spark
    // query trained and wrote mid-query (q62 discipline) — the oracle
    // re-derives only the tokenization and the integer join-and-sum
    "q143_nb_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q143_nb_sf0.01/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q143_nb_sf0.01/meta/*.parquet'))
        |SELECT doc_id,
        |  count(*)::BIGINT AS n_toks,
        |  sum(CASE WHEN w.weight IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  (sum(coalesce(w.weight, (SELECT oov_weight FROM m)))
        |    + (SELECT prior FROM m))::BIGINT AS score
        |FROM t LEFT JOIN w USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same discipline for the bigram LM: DuckDB re-derives the adjacent
    // pairs and integer-sums the SAME materialized quantized logprobs
    "q144_bigram_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ls
        |  FROM documents
        |),
        |p AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ls)),
        |      i -> {'w1': ls[i], 'w2': ls[i + 1]}), recursive := true)
        |  FROM t WHERE len(ls) >= 2
        |),
        |b AS (SELECT w1, w2, lp AS blp
        |      FROM read_parquet('/tmp/graft_q144_lm_sf0.01/bigrams/*.parquet')),
        |f AS (SELECT w1, lp AS flp
        |      FROM read_parquet('/tmp/graft_q144_lm_sf0.01/fallback/*.parquet')),
        |m AS (SELECT floor_lp FROM read_parquet('/tmp/graft_q144_lm_sf0.01/meta/*.parquet'))
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(coalesce(b.blp, f.flp, (SELECT floor_lp FROM m)))::BIGINT AS lp_sum
        |FROM p LEFT JOIN b USING (w1, w2) LEFT JOIN f USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q143's integer scoring feeding q139's global rank-prefix rule —
    // score DESC then the engine-portable (md5, id) tie order
    "q145_classifier_top_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q145_nb_sf0.01/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q145_nb_sf0.01/meta/*.parquet')),
        |s AS (
        |  SELECT doc_id,
        |    (sum(coalesce(w.weight, (SELECT oov_weight FROM m)))
        |      + (SELECT prior FROM m))::BIGINT AS score
        |  FROM t LEFT JOIN w USING (token)
        |  GROUP BY doc_id
        |),
        |c AS (SELECT cast(count(*) AS BIGINT) AS c FROM s),
        |r AS (
        |  SELECT doc_id, score,
        |    row_number() OVER (
        |      ORDER BY score DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC) AS rn
        |  FROM s
        |)
        |SELECT doc_id, score FROM r, c
        |WHERE rn <= cast(round(0.25 * c) AS BIGINT) ORDER BY doc_id""".stripMargin,

    // the lifecycle oracle verifies two things at once: the scoring sums
    // ride the materialized weight table (q143 discipline), and sum_cp/
    // sum_cn recompute the STANDING counters from the raw train slices —
    // the exact-integer append ≡ rebuild claim under the hash. The CASE
    // arms are null-safe to match Spark's when(): a null label counts in
    // NEITHER class
    "q146_cls_index_lifecycle" ->
      """WITH train AS (
        |  SELECT doc_id, lang = 'en' AS pos,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id % 3 <> 0
        |),
        |cls AS (
        |  SELECT token,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS cp,
        |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)::BIGINT AS cn
        |  FROM train GROUP BY token
        |),
        |arr AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id % 3 = 0
        |),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q146_clsindex_sf0.01_model/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q146_clsindex_sf0.01_model/meta/*.parquet'))
        |SELECT doc_id,
        |  count(*)::BIGINT AS n_toks,
        |  sum(CASE WHEN w.weight IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  sum(coalesce(cls.cp, 0))::BIGINT AS sum_cp,
        |  sum(coalesce(cls.cn, 0))::BIGINT AS sum_cn,
        |  (sum(coalesce(w.weight, (SELECT oov_weight FROM m)))
        |    + (SELECT prior FROM m))::BIGINT AS score
        |FROM arr LEFT JOIN cls USING (token) LEFT JOIN w USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // multiclass scoring re-derived from the materialized long-format
    // weight table: per-class present sums + the (n_toks − n_present) ·
    // absent_weight remainder — integer arithmetic end to end
    "q147_multiclass_scores" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |),
        |n AS (SELECT doc_id, count(*)::BIGINT AS n_toks FROM t GROUP BY doc_id),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q147_mc_sf0.01/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q147_mc_sf0.01/class_meta/*.parquet')),
        |p AS (
        |  SELECT doc_id, cls, sum(weight)::BIGINT AS wp, count(*)::BIGINT AS np
        |  FROM t JOIN w USING (token) GROUP BY doc_id, cls
        |)
        |SELECT n.doc_id, m.cls, n.n_toks,
        |  coalesce(p.np, 0)::BIGINT AS n_hit,
        |  (m.prior + coalesce(p.wp, 0)
        |    + (n.n_toks - coalesce(p.np, 0)) * m.absent_weight)::BIGINT AS score
        |FROM n CROSS JOIN m
        |LEFT JOIN p ON p.doc_id = n.doc_id AND p.cls = m.cls
        |ORDER BY n.doc_id, m.cls""".stripMargin,

    // q147's scores through the rank-1 window in (score DESC, cls ASC)
    "q148_predict_class" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |),
        |n AS (SELECT doc_id, count(*)::BIGINT AS n_toks FROM t GROUP BY doc_id),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q148_mc_sf0.01/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q148_mc_sf0.01/class_meta/*.parquet')),
        |p AS (
        |  SELECT doc_id, cls, sum(weight)::BIGINT AS wp, count(*)::BIGINT AS np
        |  FROM t JOIN w USING (token) GROUP BY doc_id, cls
        |),
        |s AS (
        |  SELECT n.doc_id, m.cls,
        |    (m.prior + coalesce(p.wp, 0)
        |      + (n.n_toks - coalesce(p.np, 0)) * m.absent_weight)::BIGINT AS score
        |  FROM n CROSS JOIN m
        |  LEFT JOIN p ON p.doc_id = n.doc_id AND p.cls = m.cls
        |),
        |r AS (
        |  SELECT doc_id, cls, score,
        |    row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
        |  FROM s
        |)
        |SELECT doc_id, cls, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // q148's scoring/argmax replayed over character TRIGRAMS of the
    // script-augmented corpus: substr code-point windows (DuckDB range is
    // stop-exclusive: i ∈ [1, len-2] ⇒ len-2 trigrams, matching the
    // kernel's len-n+1)
    "q172_charngram_langid" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || CASE lang
        |      WHEN 'zh' THEN '数据系统的处理与分析测试'
        |      WHEN 'de' THEN ' über die straße größe müssen schön'
        |      WHEN 'es' THEN ' el niño señor años español según'
        |      WHEN 'fr' THEN ' être déjà français où ça même'
        |      ELSE ' the quick brown fox jumps over the lazy dog' END AS t
        |  FROM documents WHERE text IS NOT NULL
        |), tk AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, length(t) - 1),
        |      i -> substr(t, cast(i AS INT), 3))) AS token
        |  FROM aug
        |),
        |n AS (SELECT doc_id, count(*)::BIGINT AS n_toks FROM tk GROUP BY doc_id),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q172_mc_sf0.01/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q172_mc_sf0.01/class_meta/*.parquet')),
        |p AS (
        |  SELECT doc_id, cls, sum(weight)::BIGINT AS wp, count(*)::BIGINT AS np
        |  FROM tk JOIN w USING (token) GROUP BY doc_id, cls
        |),
        |s AS (
        |  SELECT n.doc_id, m.cls,
        |    (m.prior + coalesce(p.wp, 0)
        |      + (n.n_toks - coalesce(p.np, 0)) * m.absent_weight)::BIGINT AS score
        |  FROM n CROSS JOIN m
        |  LEFT JOIN p ON p.doc_id = n.doc_id AND p.cls = m.cls
        |),
        |r AS (
        |  SELECT doc_id, cls, score,
        |    row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
        |  FROM s
        |)
        |SELECT doc_id, cls, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // q144's scoring against the materialized LM tables, ranked by the
    // per-bigram average (same IEEE division both engines) through the
    // nested-take bucket rule: rank <= round(f·n) cutoffs
    "q151_ccnet_partition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ls
        |  FROM documents
        |),
        |p AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ls)),
        |      i -> {'w1': ls[i], 'w2': ls[i + 1]}), recursive := true)
        |  FROM t WHERE len(ls) >= 2
        |),
        |b AS (SELECT w1, w2, lp AS blp
        |      FROM read_parquet('/tmp/graft_q151_lm_sf0.01/bigrams/*.parquet')),
        |f AS (SELECT w1, lp AS flp
        |      FROM read_parquet('/tmp/graft_q151_lm_sf0.01/fallback/*.parquet')),
        |m AS (SELECT floor_lp FROM read_parquet('/tmp/graft_q151_lm_sf0.01/meta/*.parquet')),
        |s AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |    sum(coalesce(b.blp, f.flp, (SELECT floor_lp FROM m)))::BIGINT AS lp_sum
        |  FROM p LEFT JOIN b USING (w1, w2) LEFT JOIN f USING (w1)
        |  GROUP BY doc_id
        |),
        |c AS (SELECT cast(count(*) AS BIGINT) AS c FROM s),
        |r AS (
        |  SELECT doc_id, n_bigrams, lp_sum,
        |    row_number() OVER (
        |      ORDER BY (lp_sum::DOUBLE / n_bigrams) DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC) AS rn
        |  FROM s
        |)
        |SELECT doc_id, n_bigrams, lp_sum,
        |  (CASE WHEN rn <= cast(round((1.0/3) * c) AS BIGINT) THEN 0
        |        WHEN rn <= cast(round((2.0/3) * c) AS BIGINT) THEN 1
        |        ELSE 2 END)::INT AS bucket
        |FROM r, c ORDER BY doc_id""".stripMargin,

    // the literal-map per-row score equals the join-and-sum on every
    // token-bearing doc; token-less docs take the bare prior and null
    // text stays null — the LEFT JOIN back onto documents checks both
    "q152_nb_score_inline" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q152_nb_sf0.01/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q152_nb_sf0.01/meta/*.parquet')),
        |s AS (
        |  SELECT doc_id,
        |    (sum(coalesce(w.weight, (SELECT oov_weight FROM m)))
        |      + (SELECT prior FROM m))::BIGINT AS sc
        |  FROM t LEFT JOIN w USING (token)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  (CASE WHEN d.text IS NULL THEN NULL
        |        ELSE coalesce(s.sc, (SELECT prior FROM m)) END)::BIGINT AS score
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q147's per-class arithmetic extended to EVERY non-null-text doc
    // (token-less docs take coalesce-0 sums = the bare prior), ranked
    // (score DESC, cls ASC); null-text docs union in with null prediction
    "q153_predict_inline" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents
        |),
        |n AS (SELECT doc_id, count(*)::BIGINT AS n_toks FROM t GROUP BY doc_id),
        |w AS (SELECT * FROM read_parquet('/tmp/graft_q153_mc_sf0.01/weights/*.parquet')),
        |m AS (SELECT * FROM read_parquet('/tmp/graft_q153_mc_sf0.01/class_meta/*.parquet')),
        |p AS (
        |  SELECT doc_id, cls, sum(weight)::BIGINT AS wp, count(*)::BIGINT AS np
        |  FROM t JOIN w USING (token) GROUP BY doc_id, cls
        |),
        |s AS (
        |  SELECT d.doc_id, m.cls,
        |    (m.prior + coalesce(p.wp, 0)
        |      + (coalesce(n.n_toks, 0) - coalesce(p.np, 0)) * m.absent_weight)::BIGINT AS score
        |  FROM documents d CROSS JOIN m
        |  LEFT JOIN n ON n.doc_id = d.doc_id
        |  LEFT JOIN p ON p.doc_id = d.doc_id AND p.cls = m.cls
        |  WHERE d.text IS NOT NULL
        |),
        |r AS (
        |  SELECT doc_id, cls, score,
        |    row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
        |  FROM s
        |)
        |SELECT doc_id, cls, score FROM r WHERE rn = 1
        |UNION ALL
        |SELECT doc_id, NULL::VARCHAR AS cls, NULL::BIGINT AS score
        |FROM documents WHERE text IS NULL
        |ORDER BY doc_id""".stripMargin,

    // naive form: normalized token-sequence string × phrase list, contains
    // with space sentinels — the same token-exact boundary rule
    "q154_blocklist_screen" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ' ' || array_to_string(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x <> ''), ' ')
        |      || ' ' AS norm
        |  FROM documents
        |), p AS (
        |  SELECT * FROM (VALUES ('customer query'), ('fast table value'),
        |    ('slow filter'), ('vector'), ('window merge')) AS t(phrase)
        |), h AS (
        |  SELECT d.doc_id, p.phrase
        |  FROM d JOIN p ON contains(d.norm, ' ' || p.phrase || ' ')
        |), agg AS (
        |  SELECT doc_id, cast(count(*) AS BIGINT) AS n_blocked,
        |    array_to_string(list(phrase ORDER BY phrase ASC), ',') AS bp
        |  FROM h GROUP BY doc_id
        |)
        |SELECT doc_id,
        |  coalesce(agg.n_blocked, 0) AS n_blocked,
        |  coalesce(agg.bp, '') AS blocked_phrases
        |FROM documents LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // one naive window: rank in (stage ASC, md5('3#'||id), id) order
    "q155_curriculum_order" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    least(2, cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) // 12) AS stage
        |  FROM documents
        |)
        |SELECT doc_id, stage,
        |  row_number() OVER (
        |    ORDER BY stage ASC, md5('3#' || cast(doc_id AS VARCHAR)) ASC,
        |      doc_id ASC) - 1 AS pos
        |FROM t ORDER BY doc_id""".stripMargin,

    // the waterfill fixpoint as a bounded recursive closure: each round
    // re-derives remaining budget and unsaturated weight mass from the
    // previous round's saturation flags (window sums over the iteration),
    // a stratum saturates iff avail·W_unsat <= wt·remaining; the round
    // count is DERIVED from the stratum count (nd) — each round saturates
    // at least one new stratum or the flags are already stable, so #strata
    // rounds provably reach the fixpoint for ANY corpus (this and every
    // sibling closure below: q157/q160/q178/q181). Kept rows = per-source
    // md5-order prefix of quota.
    "q156_waterfill_mix" ->
      """WITH RECURSIVE
        |w AS (
        |  SELECT 'src' || cast(i AS VARCHAR) AS source,
        |    cast(CASE WHEN i IN (0, 1) THEN 40 WHEN i = 2 THEN 0
        |         ELSE 1 END AS BIGINT) AS wt
        |  FROM range(20) t(i)
        |),
        |base AS (
        |  SELECT d.source, cast(count(*) AS BIGINT) AS avail, max(w.wt) AS wt
        |  FROM documents d JOIN w USING (source) GROUP BY d.source
        |),
        |nd AS (SELECT cast(count(*) AS BIGINT) AS k FROM base),
        |it AS (
        |  SELECT 0 AS iter, source, avail, wt, false AS sat FROM base
        |  UNION ALL
        |  SELECT iter + 1, source, avail, wt,
        |    sat OR (avail * (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ())
        |        <= wt * (300 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |      AND sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () > 0) AS sat
        |  FROM it WHERE iter < (SELECT k FROM nd)
        |),
        |fin AS (SELECT * FROM it WHERE iter = (SELECT k FROM nd)),
        |q AS (
        |  SELECT source,
        |    CASE WHEN sat THEN avail
        |      WHEN sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () = 0 THEN 0
        |      ELSE wt * (300 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |        // (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ()) END AS quota
        |  FROM fin
        |),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, source FROM r JOIN q USING (source)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    // q156's closure in TOKEN space: avail = per-source token sums, kept
    // rows by the cum-window rule with the crossing row kept
    "q157_waterfill_tokens" ->
      """WITH RECURSIVE
        |t AS (
        |  SELECT doc_id, source,
        |    cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |),
        |w AS (
        |  SELECT 'src' || cast(i AS VARCHAR) AS source,
        |    cast(CASE WHEN i = 3 THEN 30 ELSE 1 END AS BIGINT) AS wt
        |  FROM range(20) t(i)
        |),
        |base AS (
        |  SELECT t.source, sum(coalesce(t.n_tok, 0))::BIGINT AS avail,
        |    max(w.wt) AS wt
        |  FROM t JOIN w USING (source) GROUP BY t.source
        |),
        |nd AS (SELECT cast(count(*) AS BIGINT) AS k FROM base),
        |it AS (
        |  SELECT 0 AS iter, source, avail, wt, false AS sat FROM base
        |  UNION ALL
        |  SELECT iter + 1, source, avail, wt,
        |    sat OR (avail * (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ())
        |        <= wt * (3000 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |      AND sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () > 0) AS sat
        |  FROM it WHERE iter < (SELECT k FROM nd)
        |),
        |fin AS (SELECT * FROM it WHERE iter = (SELECT k FROM nd)),
        |q AS (
        |  SELECT source,
        |    CASE WHEN sat THEN avail
        |      WHEN sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () = 0 THEN 0
        |      ELSE wt * (3000 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |        // (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ()) END AS quota
        |  FROM fin
        |),
        |r AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (PARTITION BY source
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n_tok FROM r JOIN q USING (source)
        |WHERE cum - coalesce(n_tok, 0) < quota ORDER BY doc_id""".stripMargin,

    // clusters = the % 7 suffix-paragraph classes by construction; rep =
    // class min; split = md5(rep-as-string) first nibble at 12/2/2
    "q158_leakage_safe_split" ->
      """WITH d AS (
        |  SELECT doc_id FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY doc_id % 7) AS rep
        |  FROM d
        |)
        |SELECT doc_id, rep,
        |  CASE
        |    WHEN strpos('0123456789ab',
        |      substr(md5(cast(rep AS VARCHAR)), 1, 1)) > 0 THEN 'train'
        |    WHEN strpos('cd',
        |      substr(md5(cast(rep AS VARCHAR)), 1, 1)) > 0 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM c ORDER BY doc_id""".stripMargin,

    // the naive form: one global cumsum window in (md5(id), id) order,
    // shard = floor(cum_before / 500)
    "q159_sized_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, n_tok,
        |  cast((cum - coalesce(n_tok, 0)) // 500 AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    // q154's screen as a NOT EXISTS filter + q156's recursive waterfill
    // closure + the per-source md5-order rank prefix, all over the same
    // filtered corpus
    "q160_curation_pipeline" ->
      """WITH RECURSIVE
        |n AS (
        |  SELECT doc_id, source,
        |    ' ' || array_to_string(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x <> ''), ' ')
        |      || ' ' AS norm
        |  FROM documents
        |), p AS (
        |  SELECT * FROM (VALUES ('customer query'), ('fast table value'),
        |    ('slow filter'), ('vector'), ('window merge')) AS t(phrase)
        |), surv AS (
        |  SELECT doc_id, source FROM n
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM p WHERE contains(n.norm, ' ' || p.phrase || ' '))
        |),
        |w AS (
        |  SELECT 'src' || cast(i AS VARCHAR) AS source,
        |    cast(CASE WHEN i = 0 THEN 20 ELSE 1 END AS BIGINT) AS wt
        |  FROM range(20) t(i)
        |),
        |base AS (
        |  SELECT s.source, cast(count(*) AS BIGINT) AS avail, max(w.wt) AS wt
        |  FROM surv s JOIN w USING (source) GROUP BY s.source
        |),
        |nd AS (SELECT cast(count(*) AS BIGINT) AS k FROM base),
        |it AS (
        |  SELECT 0 AS iter, source, avail, wt, false AS sat FROM base
        |  UNION ALL
        |  SELECT iter + 1, source, avail, wt,
        |    sat OR (avail * (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ())
        |        <= wt * (80 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |      AND sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () > 0) AS sat
        |  FROM it WHERE iter < (SELECT k FROM nd)
        |),
        |fin AS (SELECT * FROM it WHERE iter = (SELECT k FROM nd)),
        |q AS (
        |  SELECT source,
        |    CASE WHEN sat THEN avail
        |      WHEN sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () = 0 THEN 0
        |      ELSE wt * (80 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |        // (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ()) END AS quota
        |  FROM fin
        |),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM surv
        |)
        |SELECT doc_id, source FROM r JOIN q USING (source)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    // three epoch arms, each the q135 naive rank + epoch-index offset
    "q161_multi_epoch_order" ->
      """WITH n AS (SELECT cast(count(*) AS BIGINT) AS n FROM documents),
        |e AS (SELECT cast(i AS BIGINT) AS idx, cast(5 + i AS BIGINT) AS epoch
        |      FROM range(3) t(i)),
        |r AS (
        |  SELECT d.doc_id, e.epoch,
        |    row_number() OVER (PARTITION BY e.epoch
        |      ORDER BY md5(cast(e.epoch AS VARCHAR) || '#'
        |        || cast(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC) - 1
        |      + e.idx * n.n AS pos
        |  FROM documents d CROSS JOIN e CROSS JOIN n
        |)
        |SELECT doc_id, epoch, pos FROM r ORDER BY pos""".stripMargin,

    // even docs: the q159 cumsum rule; odd docs: the same rule offset by
    // the standing (even) total — the log-append contract
    "q162_sized_shard_append" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), ev AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE doc_id % 2 = 0
        |), tot AS (
        |  SELECT cast(sum(coalesce(n_tok, 0)) AS BIGINT) AS tot
        |  FROM t WHERE doc_id % 2 = 0
        |), od AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE doc_id % 2 = 1
        |)
        |SELECT doc_id,
        |  cast((cum - coalesce(n_tok, 0)) // 3000 AS BIGINT) AS shard
        |FROM ev
        |UNION ALL
        |SELECT doc_id,
        |  cast((tot.tot + cum - coalesce(n_tok, 0)) // 3000 AS BIGINT) AS shard
        |FROM od, tot
        |ORDER BY doc_id""".stripMargin,

    // the same cross-multiplied integer rules in DuckDB list/regex form
    "q163_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w,
        |    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS l
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, text,
        |    cast(len(w) AS BIGINT) AS nw,
        |    cast(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sumlen,
        |    cast(len(regexp_extract_all(text, '#|…|\.\.\.')) AS BIGINT) AS nsym,
        |    cast(len(l) AS BIGINT) AS nl,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '^[•\-\*]'))) AS BIGINT) AS nbul,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '(…|\.\.\.)$'))) AS BIGINT) AS nell,
        |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
        |    cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(w, s))) AS BIGINT) AS nstop
        |  FROM t
        |)
        |SELECT doc_id,
        |  nw >= 50 AND nw <= 100000 AS r_word_count,
        |  nw > 0 AND sumlen >= nw * 3 AND sumlen <= nw * 10 AS r_mean_word_len,
        |  nsym * 10 <= nw AS r_symbol_ratio,
        |  nbul * 10 <= nl * 9 AS r_bullet_lines,
        |  nell * 10 <= nl * 3 AS r_ellipsis_lines,
        |  nalpha * 5 >= nw * 4 AS r_alpha_words,
        |  CASE WHEN text IS NULL THEN NULL ELSE nstop >= 2 END AS r_stopwords,
        |  (nw >= 50 AND nw <= 100000)
        |    AND (nw > 0 AND sumlen >= nw * 3 AND sumlen <= nw * 10)
        |    AND (nsym * 10 <= nw)
        |    AND (nbul * 10 <= nl * 9)
        |    AND (nell * 10 <= nl * 3)
        |    AND (nalpha * 5 >= nw * 4)
        |    AND (CASE WHEN text IS NULL THEN NULL ELSE nstop >= 2 END) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // the same augmentation + line rule in DuckDB list form
    "q164_c4_line_filter" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'This is a proper sentence with seven words.'
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN chr(10) || 'Lorem ipsum dolor sit amet here today.'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0
        |           THEN chr(10) || 'The config is { nested } here okay.'
        |           ELSE '' END AS t
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), x ->
        |      len(list_filter(string_split_regex(x, '\s+'), y -> y <> '')) >= 5
        |      AND regexp_matches(trim(x), '[.!?]["”]?$')) AS kept
        |  FROM a
        |)
        |SELECT doc_id,
        |  contains(lower(t), 'lorem ipsum') AS has_lorem,
        |  contains(t, '{') AS has_brace,
        |  len(kept) >= 3 AS enough_sentences,
        |  array_to_string(kept, chr(10)) AS cleaned
        |FROM k ORDER BY doc_id""".stripMargin,

    // q117's pair derivation + source labels + the unordered-cell count
    "q165_cross_source_matrix" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_filter(string_split_regex(text, '\s+'),
        |                                x -> x <> '')[1:30], ' ')
        |  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
        |), lab AS (
        |  SELECT doc_id, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'derived'
        |  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM docs WHERE text IS NOT NULL
        |), pg AS (
        |  SELECT DISTINCT doc_id, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), sizes AS (
        |  SELECT doc_id, count(*) AS ng FROM pg GROUP BY doc_id
        |), gc AS (
        |  SELECT g FROM pg GROUP BY g HAVING count(*) BETWEEN 2 AND 50
        |), kept AS (
        |  SELECT doc_id, g FROM pg JOIN gc USING (g)
        |), shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
        |  FROM kept a JOIN kept b USING (g)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), prs AS (
        |  SELECT id_a, id_b FROM shared
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE cast(sh AS double) / cast(least(sa.ng, sb.ng) AS double) >= 0.5
        |)
        |SELECT least(la.source, lb.source) AS src_a,
        |  greatest(la.source, lb.source) AS src_b,
        |  cast(count(*) AS BIGINT) AS n_pairs
        |FROM prs
        |JOIN lab la ON la.doc_id = prs.id_a
        |JOIN lab lb ON lb.doc_id = prs.id_b
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // pairs = each doc to its % 7 class minimum; both endpoints share the
    // class rep, so both get the rep-nibble split — all mass diagonal
    "q166_split_leakage_audit" ->
      """WITH d AS (
        |  SELECT doc_id FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY doc_id % 7) AS rep
        |  FROM d
        |), p AS (
        |  SELECT rep AS id_a, doc_id AS id_b FROM c WHERE doc_id <> rep
        |), s AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN strpos('0123456789ab',
        |        substr(md5(cast(rep AS VARCHAR)), 1, 1)) > 0 THEN 'train'
        |      WHEN strpos('cd',
        |        substr(md5(cast(rep AS VARCHAR)), 1, 1)) > 0 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM c
        |)
        |SELECT least(sa.split, sb.split) AS src_a,
        |  greatest(sa.split, sb.split) AS src_b,
        |  cast(count(*) AS BIGINT) AS n_pairs
        |FROM p
        |JOIN s sa ON sa.doc_id = p.id_a
        |JOIN s sb ON sb.doc_id = p.id_b
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // independent canonical-key derivation straight from the construction
    "q167_url_dedup" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    'example' || cast(doc_id % 20 AS VARCHAR) || '.com/Page/' ||
        |    cast(doc_id % 5 AS VARCHAR) ||
        |    CASE WHEN doc_id % 50 = 3 THEN '?page=2' ELSE '' END AS url_norm
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, url_norm,
        |    min(doc_id) OVER (PARTITION BY url_norm) AS m
        |  FROM n
        |)
        |SELECT doc_id, url_norm FROM k WHERE doc_id = m
        |ORDER BY doc_id""".stripMargin,

    // q163's integer signals aggregated per source
    "q168_source_quality_report" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w,
        |    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS l
        |  FROM documents
        |), m AS (
        |  SELECT source, text,
        |    cast(len(w) AS BIGINT) AS nw,
        |    cast(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sumlen,
        |    cast(len(regexp_extract_all(text, '#|…|\.\.\.')) AS BIGINT) AS nsym,
        |    cast(len(l) AS BIGINT) AS nl,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '^[•\-\*]'))) AS BIGINT) AS nbul,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '(…|\.\.\.)$'))) AS BIGINT) AS nell,
        |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
        |    cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(w, s))) AS BIGINT) AS nstop
        |  FROM t
        |)
        |SELECT source,
        |  cast(count(*) AS BIGINT) AS n_docs,
        |  cast(sum(nw) AS BIGINT) AS n_tokens,
        |  cast(sum(CASE WHEN nw > 0 AND sumlen >= nw * 3 AND sumlen <= nw * 10
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_len_ok,
        |  cast(sum(CASE WHEN nalpha * 5 >= nw * 4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alpha_ok,
        |  cast(sum(CASE WHEN text IS NOT NULL AND nstop >= 2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords_ok,
        |  cast(sum(CASE WHEN (nw >= 50 AND nw <= 100000)
        |    AND (nw > 0 AND sumlen >= nw * 3 AND sumlen <= nw * 10)
        |    AND (nsym * 10 <= nw)
        |    AND (nbul * 10 <= nl * 9)
        |    AND (nell * 10 <= nl * 3)
        |    AND (nalpha * 5 >= nw * 4)
        |    AND (text IS NOT NULL AND nstop >= 2)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // tf per (source, token), df = sources containing the token, rank by
    // exact tf/df with the token tie-break
    "q169_source_signature_terms" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS token
        |  FROM documents
        |), tf AS (
        |  SELECT source, token, cast(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY source, token
        |), df AS (
        |  SELECT token, cast(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT source, token FROM tok) GROUP BY token
        |), r AS (
        |  SELECT source, token,
        |    cast(tf AS DOUBLE) / cast(df AS DOUBLE) AS score,
        |    cast(row_number() OVER (PARTITION BY source
        |      ORDER BY cast(tf AS DOUBLE) / cast(df AS DOUBLE) DESC,
        |        token ASC) AS INT) AS rank
        |  FROM tf JOIN df USING (token)
        |)
        |SELECT source, rank, token, score FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,

    // the same double-strip chain as TextOps.htmlBlockMetrics: comments/
    // script/style/title out, anchors dropped in the second variant,
    // block tags → newline, other tags → space, fixed entity set, then
    // the positional zip of the two block lists (DuckDB zips parallel
    // unnests) gives each block's anchor share as a length difference
    "q170_html_blocks" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><!-- header comment --><head><style>body { color: red }'
        |    || '</style><script>if (x < 2) { y = 3; }</script><title>Doc'
        |    || '</title></head><body><h1>Doc ' || cast(doc_id AS VARCHAR)
        |    || ' heading</h1><div class="nav"><a href="/">Home</a> '
        |    || '<a href="/about">About</a> <a href="/contact">Contact</a>'
        |    || '</div><p>' || text
        |    || '</p><p>The point of the note is that it is written for the '
        |    || 'reader and it is kept in the set.</p>'
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN '<p>Read the docs &amp; see &lt;tags&gt; in the text of it okay.</p>'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN '<p>lorem ipsum dolor sit amet the words go on in the line of it.</p>'
        |         ELSE '' END
        |    || '<p>Short bit</p><footer><a href="/legal">Legal notice terms '
        |    || 'page</a> fine print</footer></body></html>' AS html
        |  FROM documents
        |), pre AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(html,
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?is)<script(\s[^>]*)?>.*?</script>', ' ', 'g'),
        |      '(?is)<style(\s[^>]*)?>.*?</style>', ' ', 'g'),
        |      '(?is)<title(\s[^>]*)?>.*?</title>', ' ', 'g') AS pre
        |  FROM h
        |), two AS (
        |  SELECT doc_id, pre AS pa,
        |    regexp_replace(pre, '(?is)<a(\s[^>]*)?>.*?</a>', '', 'g') AS pb
        |  FROM pre
        |), strip AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(pa,
        |        '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|section|article|header|footer|nav)(\s[^>]*)?/?>',
        |        chr(10), 'g'), '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS sa,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(pb,
        |        '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|section|article|header|footer|nav)(\s[^>]*)?/?>',
        |        chr(10), 'g'), '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS sb
        |  FROM two
        |), z AS (
        |  SELECT doc_id,
        |    unnest(string_split(sa, chr(10))) AS a,
        |    unnest(string_split(sb, chr(10))) AS b,
        |    unnest(generate_series(1, len(string_split(sa, chr(10))))) AS block_id
        |  FROM strip
        |), m AS (
        |  SELECT doc_id, cast(block_id AS BIGINT) AS block_id,
        |    trim(regexp_replace(a, '\s+', ' ', 'g')) AS block_text,
        |    cast(length(regexp_replace(a, '\s+', '', 'g')) AS BIGINT) AS n_chars,
        |    cast(greatest(length(regexp_replace(a, '\s+', '', 'g'))
        |      - length(regexp_replace(b, '\s+', '', 'g')), 0) AS BIGINT)
        |      AS anchor_chars,
        |    cast(len(list_filter(
        |      string_split(trim(regexp_replace(a, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '')) AS BIGINT) AS n_words,
        |    cast(len(list_filter(
        |      string_split(trim(regexp_replace(a, '\s+', ' ', 'g')), ' '),
        |      x -> list_contains(
        |        ['the','of','and','a','to','in','is','it','that','for'],
        |        regexp_replace(lower(x), '[^a-z]', '', 'g')))) AS BIGINT)
        |      AS stop_hits
        |  FROM z
        |)
        |SELECT doc_id, block_id, block_text, n_chars, anchor_chars, n_words,
        |  stop_hits,
        |  n_chars >= 20 AS len_ok,
        |  anchor_chars * 5 <= n_chars AS link_ok,
        |  stop_hits * 10 >= n_words * 3 AS stop_ok,
        |  (n_chars >= 20 AND anchor_chars * 5 <= n_chars
        |    AND stop_hits * 10 >= n_words * 3) AS good
        |FROM m WHERE n_chars > 0
        |ORDER BY doc_id, block_id""".stripMargin,

    // q170's block table regrouped: good blocks joined in block order =
    // the extracted text, then q164's C4 page verdicts + line filter
    // over it; null html (null-text docs) keeps null fields through the
    // left join
    "q171_html_pipeline" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><!-- header comment --><head><style>body { color: red }'
        |    || '</style><script>if (x < 2) { y = 3; }</script><title>Doc'
        |    || '</title></head><body><h1>Doc ' || cast(doc_id AS VARCHAR)
        |    || ' heading</h1><div class="nav"><a href="/">Home</a> '
        |    || '<a href="/about">About</a> <a href="/contact">Contact</a>'
        |    || '</div><p>' || text
        |    || '</p><p>The point of the note is that it is written for the '
        |    || 'reader and it is kept in the set.</p>'
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN '<p>Read the docs &amp; see &lt;tags&gt; in the text of it okay.</p>'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN '<p>lorem ipsum dolor sit amet the words go on in the line of it.</p>'
        |         ELSE '' END
        |    || '<p>Short bit</p><footer><a href="/legal">Legal notice terms '
        |    || 'page</a> fine print</footer></body></html>' AS html
        |  FROM documents
        |), pre AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(html,
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?is)<script(\s[^>]*)?>.*?</script>', ' ', 'g'),
        |      '(?is)<style(\s[^>]*)?>.*?</style>', ' ', 'g'),
        |      '(?is)<title(\s[^>]*)?>.*?</title>', ' ', 'g') AS pre
        |  FROM h
        |), two AS (
        |  SELECT doc_id, pre AS pa,
        |    regexp_replace(pre, '(?is)<a(\s[^>]*)?>.*?</a>', '', 'g') AS pb
        |  FROM pre
        |), strip AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(pa,
        |        '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|section|article|header|footer|nav)(\s[^>]*)?/?>',
        |        chr(10), 'g'), '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS sa,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(pb,
        |        '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|section|article|header|footer|nav)(\s[^>]*)?/?>',
        |        chr(10), 'g'), '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS sb
        |  FROM two
        |), z AS (
        |  SELECT doc_id,
        |    unnest(string_split(sa, chr(10))) AS a,
        |    unnest(string_split(sb, chr(10))) AS b,
        |    unnest(generate_series(1, len(string_split(sa, chr(10))))) AS block_id
        |  FROM strip
        |), m AS (
        |  SELECT doc_id, block_id,
        |    trim(regexp_replace(a, '\s+', ' ', 'g')) AS block_text,
        |    length(regexp_replace(a, '\s+', '', 'g')) AS n_chars,
        |    greatest(length(regexp_replace(a, '\s+', '', 'g'))
        |      - length(regexp_replace(b, '\s+', '', 'g')), 0) AS anchor_chars,
        |    len(list_filter(
        |      string_split(trim(regexp_replace(a, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '')) AS n_words,
        |    len(list_filter(
        |      string_split(trim(regexp_replace(a, '\s+', ' ', 'g')), ' '),
        |      x -> list_contains(
        |        ['the','of','and','a','to','in','is','it','that','for'],
        |        regexp_replace(lower(x), '[^a-z]', '', 'g')))) AS stop_hits
        |  FROM z
        |), g AS (
        |  SELECT doc_id,
        |    array_to_string(list(block_text ORDER BY block_id), chr(10)) AS ext
        |  FROM m
        |  WHERE n_chars > 0 AND n_chars >= 20 AND anchor_chars * 5 <= n_chars
        |    AND stop_hits * 10 >= n_words * 3
        |  GROUP BY doc_id
        |), e AS (
        |  SELECT h.doc_id,
        |    CASE WHEN h.html IS NULL THEN NULL
        |         ELSE coalesce(g.ext, '') END AS extracted
        |  FROM h LEFT JOIN g ON g.doc_id = h.doc_id
        |), k AS (
        |  SELECT doc_id, extracted,
        |    list_filter(string_split(extracted, chr(10)), x ->
        |      len(list_filter(string_split_regex(x, '\s+'), y -> y <> '')) >= 5
        |      AND regexp_matches(trim(x), '[.!?]["”]?$')) AS kept
        |  FROM e
        |)
        |SELECT doc_id, extracted,
        |  contains(lower(extracted), 'lorem ipsum') AS has_lorem,
        |  contains(extracted, '{') AS has_brace,
        |  len(kept) >= 3 AS enough_sentences,
        |  CASE WHEN extracted IS NULL THEN NULL
        |       ELSE array_to_string(kept, chr(10)) END AS c4_cleaned
        |FROM k ORDER BY doc_id""".stripMargin,

    // per-(domain, paragraph) distinct-doc counts decide boilerplate;
    // the oracle groups by the paragraph TEXT (same classes as the md5
    // the Spark side shuffles) and rebuilds docs positionally
    "q173_boilerplate_strip" ->
      """WITH d AS (
        |  SELECT doc_id, source AS dom,
        |    text || chr(10) || chr(10) || 'footer for ' || source
        |      || CASE WHEN doc_id % 97 = 0
        |           THEN chr(10) || chr(10) || 'syndicated quote para'
        |           ELSE '' END AS t
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, dom,
        |    unnest(string_split_regex(t, '(?:\r?\n){2,}')) AS para,
        |    unnest(generate_series(0,
        |      len(string_split_regex(t, '(?:\r?\n){2,}')) - 1)) AS pos
        |  FROM d WHERE t IS NOT NULL
        |), b AS (
        |  SELECT dom, para FROM p
        |  GROUP BY dom, para HAVING count(DISTINCT doc_id) >= 2
        |), k AS (
        |  SELECT p.doc_id, p.pos, p.para
        |  FROM p LEFT JOIN b ON b.dom = p.dom AND b.para = p.para
        |  WHERE b.para IS NULL
        |), r AS (
        |  SELECT doc_id,
        |    array_to_string(list(para ORDER BY pos), chr(10) || chr(10))
        |      AS cleaned,
        |    cast(count(*) AS BIGINT) AS n_kept
        |  FROM k GROUP BY doc_id
        |), np AS (
        |  SELECT doc_id,
        |    cast(len(string_split_regex(t, '(?:\r?\n){2,}')) AS BIGINT)
        |      AS n_paras
        |  FROM d WHERE t IS NOT NULL
        |)
        |SELECT d.doc_id,
        |  CASE WHEN d.t IS NULL THEN NULL
        |       ELSE coalesce(r.cleaned, '') END AS cleaned,
        |  coalesce(np.n_paras, 0) AS n_paras,
        |  coalesce(r.n_kept, 0) AS n_kept_paras
        |FROM d
        |LEFT JOIN r ON r.doc_id = d.doc_id
        |LEFT JOIN np ON np.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q168's gopher integers + q164's kept-lines/page verdicts + q160's
    // padded-token blocklist form, conjoined sequentially per source
    "q175_curation_funnel" ->
      """WITH a AS (
        |  SELECT doc_id, source,
        |    text || chr(10) || 'This is a proper sentence with seven words.'
        |      || chr(10) || 'Here is another proper sentence for the page.'
        |      || chr(10) || 'A third proper sentence closes the page here.'
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN chr(10) || 'Lorem ipsum dolor sit amet here today.'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0
        |           THEN chr(10) || 'The config is { nested } here okay.'
        |           ELSE '' END AS t
        |  FROM documents
        |), s1 AS (
        |  SELECT source, t,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS w,
        |    list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS l
        |  FROM a
        |), m AS (
        |  SELECT source, t,
        |    cast(len(w) AS BIGINT) AS nw,
        |    cast(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sumlen,
        |    cast(len(regexp_extract_all(t, '#|…|\.\.\.')) AS BIGINT) AS nsym,
        |    cast(len(l) AS BIGINT) AS nl,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '^[•\-\*]'))) AS BIGINT) AS nbul,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '(…|\.\.\.)$'))) AS BIGINT) AS nell,
        |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
        |    cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(w, s))) AS BIGINT) AS nstop,
        |    len(list_filter(string_split(t, chr(10)), x ->
        |      len(list_filter(string_split_regex(x, '\s+'), y -> y <> '')) >= 5
        |      AND regexp_matches(trim(x), '[.!?]["”]?$'))) AS nkept,
        |    contains(lower(t), 'lorem ipsum') AS lorem,
        |    contains(t, '{') AS brace,
        |    ' ' || array_to_string(list_filter(
        |      string_split_regex(lower(t), '\s+'), x -> x <> ''), ' ')
        |      || ' ' AS norm
        |  FROM s1
        |), v AS (
        |  SELECT source, t IS NULL AS tnull,
        |    (t IS NOT NULL AND nw >= 50 AND nw <= 100000
        |      AND nw > 0 AND sumlen >= nw * 3 AND sumlen <= nw * 10
        |      AND nsym * 10 <= nw AND nbul * 10 <= nl * 9
        |      AND nell * 10 <= nl * 3 AND nalpha * 5 >= nw * 4
        |      AND nstop >= 2) AS g,
        |    (t IS NOT NULL AND NOT lorem AND NOT brace AND nkept >= 3) AS c,
        |    (t IS NULL OR NOT (contains(norm, ' vector ')
        |      OR contains(norm, ' customer query ')
        |      OR contains(norm, ' slow filter ')
        |      OR contains(norm, ' fast table value ')
        |      OR contains(norm, ' window merge '))) AS b
        |  FROM m
        |)
        |SELECT source,
        |  cast(count(*) AS BIGINT) AS n_docs,
        |  cast(sum(CASE WHEN tnull THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  cast(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_after_gopher,
        |  cast(sum(CASE WHEN g AND c THEN 1 ELSE 0 END) AS BIGINT) AS n_after_c4,
        |  cast(sum(CASE WHEN g AND c AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_after_all
        |FROM v GROUP BY source ORDER BY source""".stripMargin,

    // q175's oracle + the %6 duplicated-paragraph plant + the four
    // line/para repetition integer rules as the new funnel stage
    "q179_curation_funnel_full" ->
      """WITH a AS (
        |  SELECT doc_id, source,
        |    text || chr(10) || 'This is a proper sentence with seven words.'
        |      || chr(10) || 'Here is another proper sentence for the page.'
        |      || chr(10) || 'A third proper sentence closes the page here.'
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN chr(10) || 'Lorem ipsum dolor sit amet here today.'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0
        |           THEN chr(10) || 'The config is { nested } here okay.'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 6 = 1
        |           THEN chr(10) || chr(10) || 'Zq repeated paragraph.'
        |             || chr(10) || chr(10) || 'Zq repeated paragraph.'
        |           ELSE '' END AS t
        |  FROM documents
        |), s1 AS (
        |  SELECT source, t,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS w,
        |    list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS l,
        |    list_filter(string_split_regex(t, '\n{2,}'), x -> trim(x) <> '') AS ps
        |  FROM a
        |), m AS (
        |  SELECT source, t,
        |    cast(len(w) AS BIGINT) AS nw,
        |    cast(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sumlen,
        |    cast(len(regexp_extract_all(t, '#|…|\.\.\.')) AS BIGINT) AS nsym,
        |    cast(len(l) AS BIGINT) AS nl,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '^[•\-\*]'))) AS BIGINT) AS nbul,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '(…|\.\.\.)$'))) AS BIGINT) AS nell,
        |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
        |    cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(w, s))) AS BIGINT) AS nstop,
        |    cast(len(list_distinct(l)) AS BIGINT) AS lnd,
        |    cast(coalesce(list_sum(list_transform(l, x -> len(x))), 0) AS BIGINT) AS lc,
        |    cast(coalesce(list_sum(list_transform(list_distinct(l), x -> len(x))), 0) AS BIGINT) AS lcd,
        |    cast(len(ps) AS BIGINT) AS pan,
        |    cast(len(list_distinct(ps)) AS BIGINT) AS pad,
        |    cast(coalesce(list_sum(list_transform(ps, x -> len(x))), 0) AS BIGINT) AS pc,
        |    cast(coalesce(list_sum(list_transform(list_distinct(ps), x -> len(x))), 0) AS BIGINT) AS pcd,
        |    len(list_filter(string_split(t, chr(10)), x ->
        |      len(list_filter(string_split_regex(x, '\s+'), y -> y <> '')) >= 5
        |      AND regexp_matches(trim(x), '[.!?]["”]?$'))) AS nkept,
        |    contains(lower(t), 'lorem ipsum') AS lorem,
        |    contains(t, '{') AS brace,
        |    ' ' || array_to_string(list_filter(
        |      string_split_regex(lower(t), '\s+'), x -> x <> ''), ' ')
        |      || ' ' AS norm
        |  FROM s1
        |), v AS (
        |  SELECT source, t IS NULL AS tnull,
        |    (t IS NOT NULL AND nw >= 50 AND nw <= 100000
        |      AND nw > 0 AND sumlen >= nw * 3 AND sumlen <= nw * 10
        |      AND nsym * 10 <= nw AND nbul * 10 <= nl * 9
        |      AND nell * 10 <= nl * 3 AND nalpha * 5 >= nw * 4
        |      AND nstop >= 2) AS g,
        |    (t IS NOT NULL
        |      AND (nl - lnd) * 10 <= nl * 3 AND (lc - lcd) * 5 <= lc
        |      AND (pan - pad) * 10 <= pan * 3 AND (pc - pcd) * 5 <= pc) AS r,
        |    (t IS NOT NULL AND NOT lorem AND NOT brace AND nkept >= 3) AS c,
        |    (t IS NULL OR NOT (contains(norm, ' vector ')
        |      OR contains(norm, ' customer query ')
        |      OR contains(norm, ' slow filter ')
        |      OR contains(norm, ' fast table value ')
        |      OR contains(norm, ' window merge '))) AS b
        |  FROM m
        |)
        |SELECT source,
        |  cast(count(*) AS BIGINT) AS n_docs,
        |  cast(sum(CASE WHEN tnull THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  cast(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_after_gopher,
        |  cast(sum(CASE WHEN g AND r THEN 1 ELSE 0 END) AS BIGINT) AS n_after_repetition,
        |  cast(sum(CASE WHEN g AND r AND c THEN 1 ELSE 0 END) AS BIGINT) AS n_after_c4,
        |  cast(sum(CASE WHEN g AND r AND c AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_after_all
        |FROM v GROUP BY source ORDER BY source""".stripMargin,

    // the thirteen-signal repetition replay in DuckDB list form: same
    // augmentation, same md5 tie-break, same covered-position union for
    // the dup-n-gram char fractions
    "q176_gopher_repetition" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 4 = 0
        |        THEN chr(10) || chr(10) || 'Repeat block alpha beta.'
        |          || chr(10) || chr(10) || 'Repeat block alpha beta.'
        |        ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0
        |        THEN chr(10) || 'zq wq rq sq tq uq zq wq rq sq tq uq'
        |        ELSE '' END AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS ls,
        |    list_filter(string_split_regex(t, '\n{2,}'), x -> trim(x) <> '') AS ps,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS w,
        |    cast(coalesce(list_sum(list_transform(
        |      list_filter(string_split_regex(t, '\s+'), x -> x <> ''),
        |      x -> len(x))), 0) AS BIGINT) AS nc
        |  FROM a
        |), g AS (
        |  SELECT doc_id, tn.n, ti.i AS pos,
        |    array_to_string(w[ti.i:ti.i+tn.n-1], ' ') AS gram
        |  FROM c
        |  CROSS JOIN (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) tn,
        |    unnest(range(1, len(c.w) - tn.n + 2)) AS ti(i)
        |), gc AS (
        |  SELECT doc_id, n, gram, count(*) AS cnt,
        |    cast(len(gram) - (n - 1) AS BIGINT) AS glen
        |  FROM g GROUP BY doc_id, n, gram
        |), topr AS (
        |  SELECT doc_id, n, cnt * glen AS chars,
        |    row_number() OVER (PARTITION BY doc_id, n
        |      ORDER BY cnt DESC, glen DESC, md5(gram) DESC) AS rk
        |  FROM gc WHERE n <= 4
        |), tops AS (
        |  SELECT doc_id,
        |    max(CASE WHEN n = 2 THEN chars END) AS t2,
        |    max(CASE WHEN n = 3 THEN chars END) AS t3,
        |    max(CASE WHEN n = 4 THEN chars END) AS t4
        |  FROM topr WHERE rk = 1 GROUP BY doc_id
        |), dpos AS (
        |  SELECT DISTINCT g.doc_id, g.n, ti2.idx
        |  FROM g JOIN gc ON gc.doc_id = g.doc_id AND gc.n = g.n
        |    AND gc.gram = g.gram,
        |    unnest(range(g.pos, g.pos + g.n)) AS ti2(idx)
        |  WHERE gc.cnt >= 2 AND g.n >= 5
        |), dchar AS (
        |  SELECT d.doc_id, d.n, cast(sum(len(c.w[d.idx])) AS BIGINT) AS dc
        |  FROM dpos d JOIN c ON c.doc_id = d.doc_id
        |  GROUP BY d.doc_id, d.n
        |), dups AS (
        |  SELECT doc_id,
        |    max(CASE WHEN n = 5 THEN dc END) AS d5,
        |    max(CASE WHEN n = 6 THEN dc END) AS d6,
        |    max(CASE WHEN n = 7 THEN dc END) AS d7,
        |    max(CASE WHEN n = 8 THEN dc END) AS d8,
        |    max(CASE WHEN n = 9 THEN dc END) AS d9,
        |    max(CASE WHEN n = 10 THEN dc END) AS d10
        |  FROM dchar GROUP BY doc_id
        |), m AS (
        |  SELECT c.doc_id, c.t IS NULL AS tnull, c.nc,
        |    cast(len(ls) AS BIGINT) AS lnn,
        |    cast(len(list_distinct(ls)) AS BIGINT) AS lnd,
        |    cast(coalesce(list_sum(list_transform(ls, x -> len(x))), 0) AS BIGINT) AS lc,
        |    cast(coalesce(list_sum(list_transform(list_distinct(ls), x -> len(x))), 0) AS BIGINT) AS lcd,
        |    cast(len(ps) AS BIGINT) AS pan,
        |    cast(len(list_distinct(ps)) AS BIGINT) AS pad,
        |    cast(coalesce(list_sum(list_transform(ps, x -> len(x))), 0) AS BIGINT) AS pc,
        |    cast(coalesce(list_sum(list_transform(list_distinct(ps), x -> len(x))), 0) AS BIGINT) AS pcd,
        |    coalesce(t2, 0) AS t2, coalesce(t3, 0) AS t3, coalesce(t4, 0) AS t4,
        |    coalesce(d5, 0) AS d5, coalesce(d6, 0) AS d6, coalesce(d7, 0) AS d7,
        |    coalesce(d8, 0) AS d8, coalesce(d9, 0) AS d9, coalesce(d10, 0) AS d10
        |  FROM c
        |  LEFT JOIN tops ON tops.doc_id = c.doc_id
        |  LEFT JOIN dups ON dups.doc_id = c.doc_id
        |)
        |SELECT doc_id,
        |  CASE WHEN tnull THEN NULL WHEN lnn = 0 THEN 0.0
        |    ELSE cast(lnn - lnd AS DOUBLE) / cast(lnn AS DOUBLE) END AS dup_line_frac,
        |  CASE WHEN tnull THEN NULL WHEN lc = 0 THEN 0.0
        |    ELSE cast(lc - lcd AS DOUBLE) / cast(lc AS DOUBLE) END AS dup_line_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN pan = 0 THEN 0.0
        |    ELSE cast(pan - pad AS DOUBLE) / cast(pan AS DOUBLE) END AS dup_para_frac,
        |  CASE WHEN tnull THEN NULL WHEN pc = 0 THEN 0.0
        |    ELSE cast(pc - pcd AS DOUBLE) / cast(pc AS DOUBLE) END AS dup_para_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(t2 AS DOUBLE) / cast(nc AS DOUBLE) END AS top_2gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(t3 AS DOUBLE) / cast(nc AS DOUBLE) END AS top_3gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(t4 AS DOUBLE) / cast(nc AS DOUBLE) END AS top_4gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(d5 AS DOUBLE) / cast(nc AS DOUBLE) END AS dup_5gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(d6 AS DOUBLE) / cast(nc AS DOUBLE) END AS dup_6gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(d7 AS DOUBLE) / cast(nc AS DOUBLE) END AS dup_7gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(d8 AS DOUBLE) / cast(nc AS DOUBLE) END AS dup_8gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(d9 AS DOUBLE) / cast(nc AS DOUBLE) END AS dup_9gram_char_frac,
        |  CASE WHEN tnull THEN NULL WHEN nc = 0 THEN 0.0
        |    ELSE cast(d10 AS DOUBLE) / cast(nc AS DOUBLE) END AS dup_10gram_char_frac,
        |  CASE WHEN tnull THEN NULL ELSE
        |    (lnn - lnd) * 10 <= lnn * 3 AND (lc - lcd) * 5 <= lc
        |    AND (pan - pad) * 10 <= pan * 3 AND (pc - pcd) * 5 <= pc
        |    AND t2 * 5 <= nc AND t3 * 50 <= nc * 9 AND t4 * 25 <= nc * 4
        |    AND d5 * 20 <= nc * 3 AND d6 * 50 <= nc * 7
        |    AND d7 * 100 <= nc * 13 AND d8 * 25 <= nc * 3
        |    AND d9 * 100 <= nc * 11 AND d10 * 10 <= nc
        |  END AS rep_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // int8 quantization → md5-order seed election → integer-dot argmax
    // cells → cell code sums → per-cell (proto DESC, md5, id) rank with
    // the round(f·n) keep rule, all in DuckDB list arithmetic
    "q177_prototype_prune" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS ma
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> cast(0 AS BIGINT))
        |      ELSE list_transform(embedding, x ->
        |        cast(round(cast(x AS DOUBLE) * 127.0 / cast(ma AS DOUBLE)) AS BIGINT))
        |    END AS qv
        |  FROM e
        |), sd AS (
        |  SELECT vec_id AS seed, qv AS sv FROM q
        |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT 8
        |), asn0 AS (
        |  SELECT q.vec_id, sd.seed,
        |    list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> q.qv[i] * sd.sv[i])) AS dot
        |  FROM q CROSS JOIN sd
        |), asn AS (
        |  SELECT vec_id, seed,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dot DESC, seed ASC) AS rn
        |  FROM asn0
        |), cells AS (
        |  SELECT vec_id, seed AS cell FROM asn WHERE rn = 1
        |), csum AS (
        |  SELECT cells.cell, tp.p, sum(q.qv[tp.p]) AS s
        |  FROM q JOIN cells USING (vec_id),
        |    unnest(range(1, len(q.qv) + 1)) AS tp(p)
        |  GROUP BY cells.cell, tp.p
        |), csv AS (
        |  SELECT cell, list(s ORDER BY p) AS sv FROM csum GROUP BY cell
        |), pr AS (
        |  SELECT q.vec_id, cells.cell,
        |    cast(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> q.qv[i] * csv.sv[i])) AS BIGINT) AS proto
        |  FROM q JOIN cells USING (vec_id) JOIN csv USING (cell)
        |), cnt AS (
        |  SELECT cell, cast(count(*) AS BIGINT) AS c FROM pr
        |  WHERE proto IS NOT NULL GROUP BY cell
        |), rk AS (
        |  SELECT vec_id, cell, proto,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY proto DESC NULLS LAST,
        |        md5(cast(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
        |  FROM pr
        |)
        |SELECT vec_id, cell, proto,
        |  rn > cast(round(0.25 * coalesce(c, 0)) AS BIGINT) AS kept
        |FROM rk LEFT JOIN cnt USING (cell) ORDER BY vec_id""".stripMargin,

    // q178's equal-weight closure over 2·token-sum availabilities +
    // q128's copy split with q130's token cum-window partial rule
    "q181_unimax_tokens" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, substr(source, 1, 4) AS domain,
        |    cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |),
        |base AS (
        |  SELECT domain, cast(sum(coalesce(n_tok, 0)) AS BIGINT) AS t,
        |    cast(2 * sum(coalesce(n_tok, 0)) AS BIGINT) AS avail
        |  FROM d WHERE domain IS NOT NULL GROUP BY domain
        |),
        |nd AS (SELECT cast(count(*) AS BIGINT) AS k FROM base),
        |it AS (
        |  SELECT 0 AS iter, domain, t, avail, false AS sat FROM base
        |  UNION ALL
        |  SELECT iter + 1, domain, t, avail,
        |    sat OR (avail * (sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER ())
        |        <= 30000 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ()
        |      AND sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER () > 0) AS sat
        |  FROM it WHERE iter < (SELECT k FROM nd)
        |),
        |fin AS (SELECT * FROM it WHERE iter = (SELECT k FROM nd)),
        |q AS (
        |  SELECT domain, t,
        |    CASE WHEN sat THEN avail
        |      WHEN sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER () = 0 THEN 0
        |      ELSE (30000 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |        // (sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER ()) END AS quota
        |  FROM fin
        |),
        |k AS (SELECT domain, t, cast(quota // t AS BIGINT) AS kf,
        |      cast(quota % t AS BIGINT) AS rem FROM q WHERE t > 0),
        |fullc AS (
        |  SELECT d.doc_id, d.domain, d.n_tok, unnest(range(k.kf)) AS copy
        |  FROM d JOIN k USING (domain)
        |),
        |r AS (
        |  SELECT doc_id, domain, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (PARTITION BY domain
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d
        |),
        |part AS (
        |  SELECT r.doc_id, r.domain, r.n_tok, k.kf AS copy
        |  FROM r JOIN k USING (domain)
        |  WHERE k.rem > 0 AND r.cum - coalesce(r.n_tok, 0) < k.rem
        |)
        |SELECT doc_id, domain, n_tok, cast(copy AS BIGINT) AS copy FROM fullc
        |UNION ALL
        |SELECT doc_id, domain, n_tok, cast(copy AS BIGINT) AS copy FROM part
        |ORDER BY doc_id, copy""".stripMargin,

    // q177's quantize → seed → argmax cells at k=6 + q169's tf/df
    // signature rank at cell granularity + the per-cell doc count
    "q180_corpus_map" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS ma
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> cast(0 AS BIGINT))
        |      ELSE list_transform(embedding, x ->
        |        cast(round(cast(x AS DOUBLE) * 127.0 / cast(ma AS DOUBLE)) AS BIGINT))
        |    END AS qv
        |  FROM e
        |), sd AS (
        |  SELECT vec_id AS seed, qv AS sv FROM q
        |  ORDER BY md5(cast(vec_id AS VARCHAR)), vec_id LIMIT 6
        |), asn0 AS (
        |  SELECT q.vec_id, sd.seed,
        |    list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> q.qv[i] * sd.sv[i])) AS dot
        |  FROM q CROSS JOIN sd
        |), asn AS (
        |  SELECT vec_id, seed,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dot DESC, seed ASC) AS rn
        |  FROM asn0
        |), cells AS (
        |  SELECT vec_id, seed AS cell FROM asn WHERE rn = 1
        |), d AS (
        |  SELECT c.cell, doc.text
        |  FROM cells c JOIN documents doc ON doc.doc_id = c.vec_id
        |), tok AS (
        |  SELECT cell,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS token
        |  FROM d
        |), tf AS (
        |  SELECT cell, token, cast(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY cell, token
        |), dfq AS (
        |  SELECT token, cast(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT cell, token FROM tok) GROUP BY token
        |), r AS (
        |  SELECT cell, token,
        |    cast(tf AS DOUBLE) / cast(df AS DOUBLE) AS score,
        |    cast(row_number() OVER (PARTITION BY cell
        |      ORDER BY cast(tf AS DOUBLE) / cast(df AS DOUBLE) DESC,
        |        token ASC) AS INT) AS rank
        |  FROM tf JOIN dfq USING (token)
        |), sz AS (
        |  SELECT cell, cast(count(*) AS BIGINT) AS n_docs FROM d GROUP BY cell
        |)
        |SELECT r.cell, sz.n_docs, r.rank, r.token, r.score
        |FROM r JOIN sz USING (cell)
        |WHERE rank <= 5 ORDER BY cell, rank""".stripMargin,

    // the equal-weight waterfill closure over 2·count availabilities +
    // q128's div/mod copy split
    "q178_unimax" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, substr(source, 1, 4) AS domain FROM documents),
        |base AS (
        |  SELECT domain, cast(count(*) AS BIGINT) AS c,
        |    cast(2 * count(*) AS BIGINT) AS avail
        |  FROM d WHERE domain IS NOT NULL GROUP BY domain
        |),
        |nd AS (SELECT cast(count(*) AS BIGINT) AS k FROM base),
        |it AS (
        |  SELECT 0 AS iter, domain, c, avail, false AS sat FROM base
        |  UNION ALL
        |  SELECT iter + 1, domain, c, avail,
        |    sat OR (avail * (sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER ())
        |        <= 600 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ()
        |      AND sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER () > 0) AS sat
        |  FROM it WHERE iter < (SELECT k FROM nd)
        |),
        |fin AS (SELECT * FROM it WHERE iter = (SELECT k FROM nd)),
        |q AS (
        |  SELECT domain, c,
        |    CASE WHEN sat THEN avail
        |      WHEN sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER () = 0 THEN 0
        |      ELSE (600 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |        // (sum(CASE WHEN NOT sat THEN 1 ELSE 0 END) OVER ()) END AS quota
        |  FROM fin
        |),
        |k AS (SELECT domain, c, cast(quota // c AS BIGINT) AS kf,
        |      cast(quota % c AS BIGINT) AS rem FROM q),
        |fullc AS (
        |  SELECT d.doc_id, d.domain, unnest(range(k.kf)) AS copy
        |  FROM d JOIN k USING (domain)
        |),
        |r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM d
        |),
        |part AS (
        |  SELECT r.doc_id, r.domain, k.kf AS copy
        |  FROM r JOIN k USING (domain) WHERE r.rn <= k.rem
        |)
        |SELECT doc_id, domain, cast(copy AS BIGINT) AS copy FROM fullc
        |UNION ALL
        |SELECT doc_id, domain, cast(copy AS BIGINT) AS copy FROM part
        |ORDER BY doc_id, copy""".stripMargin,

    // the same host pipeline (scheme → userinfo → port strip, lowercase)
    // + exact-or-dot-suffix domain match
    "q174_domain_screen" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 5 = 0 THEN 'https://spam'
        |        || cast(doc_id % 3 AS VARCHAR) || '.badsite.com/p/'
        |        || cast(doc_id AS VARCHAR)
        |      WHEN doc_id % 5 = 1 THEN 'https://WWW.BadSite.com/x'
        |      WHEN doc_id % 5 = 2 THEN 'https://notbadsite.com/x'
        |      WHEN doc_id % 5 = 3 THEN 'https://user@ads.example.org:8080/track'
        |      ELSE 'http://ok' || cast(doc_id % 7 AS VARCHAR) || '.org/y'
        |    END AS url
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(
        |      regexp_replace(
        |        regexp_replace(trim(url), '(?i)^https?://', ''),
        |        '^[^/?#@]*@', ''),
        |      '^[^/?#:]*')) AS host
        |  FROM d
        |)
        |SELECT doc_id, host,
        |  (host = 'badsite.com' OR ends_with(host, '.badsite.com')
        |    OR host = 'ads.example.org' OR ends_with(host, '.ads.example.org'))
        |    AS blocked
        |FROM h ORDER BY doc_id""".stripMargin,

    // the full-chain replay: q171 extraction -> q179 screens ->
    // min-id dedup elections at canonical-url and text classes ->
    // q71-style 8-gram decontamination -> the q157 waterfill closure
    // (derived round bound) -> the q159 shard cumsum, one stage CASE
    // per page at the end
    "q182_pipeline_e2e" ->
      """WITH RECURSIVE
        |h AS (
        |  SELECT doc_id, source,
        |    doc_id - CASE WHEN doc_id % 10 = 3 THEN 3 ELSE 0 END AS canon,
        |    '<html><!-- crawl --><head><style>body { color: red }</style>'
        |    || '<script>if (x < 2) { y = 3; }</script><title>Page</title>'
        |    || '</head><body><h1>Page ' || cast(doc_id AS VARCHAR)
        |    || '</h1><div class="nav"><a href="/">Home</a> '
        |    || '<a href="/about">About</a></div><p>'
        |    || 'It is the body of the page that it is in for the set of it '
        |    || 'and it is of the day that it is in it for the set of it and '
        |    || 'the crawl saved it to the store for a reader to read it: '
        |    || CASE WHEN doc_id % 9 = 4
        |         THEN 'It is the standard document of the training corpus and '
        |           || 'the shared body of the page that the editors kept in the '
        |           || 'collection for the reader of it.'
        |         ELSE text END
        |    || ' and that is the end of it in the set of the page for the day '
        |    || 'of it and it is all of it.'
        |    || '</p><p>It is a pleasant morning for the people of the village '
        |    || 'and the weather is a gentle presence in all of the streets.'
        |    || '</p><p>The point of it is that the work of the day sits in the '
        |    || 'middle of it for all of the people involved.'
        |    || '</p><p>The point of the note is that it is written for the '
        |    || 'reader and it is kept in the set.</p>'
        |    || CASE WHEN doc_id % 6 = 1 THEN repeat(
        |         '<p>It is the same line of it in the day of the set.</p>', 5)
        |         ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0
        |         THEN '<p>It is the case that the answer to the benchmark '
        |           || 'question is in the set.</p>' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 2 THEN repeat(
        |         '<p># it is # the tag # of # the day # in # the set # of # it '
        |           || '# in # the end # of # the day # it is # the one # of # '
        |           || 'all # of # it # okay #.</p>', 2)
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN '<p>lorem ipsum dolor sit amet the words go on in the '
        |           || 'line of it okay.</p>' ELSE '' END
        |    || '<p>Short bit</p><footer><a href="/legal">Legal notice terms '
        |    || 'page</a> fine print</footer></body></html>' AS html
        |  FROM documents
        |), pre AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(html,
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?is)<script(\s[^>]*)?>.*?</script>', ' ', 'g'),
        |      '(?is)<style(\s[^>]*)?>.*?</style>', ' ', 'g'),
        |      '(?is)<title(\s[^>]*)?>.*?</title>', ' ', 'g') AS pre
        |  FROM h
        |), two AS (
        |  SELECT doc_id, pre AS pa,
        |    regexp_replace(pre, '(?is)<a(\s[^>]*)?>.*?</a>', '', 'g') AS pb
        |  FROM pre
        |), strip AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(pa,
        |        '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|section|article|header|footer|nav)(\s[^>]*)?/?>',
        |        chr(10), 'g'), '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS sa,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(pb,
        |        '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|section|article|header|footer|nav)(\s[^>]*)?/?>',
        |        chr(10), 'g'), '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS sb
        |  FROM two
        |), z AS (
        |  SELECT doc_id,
        |    unnest(string_split(sa, chr(10))) AS a,
        |    unnest(string_split(sb, chr(10))) AS b,
        |    unnest(generate_series(1, len(string_split(sa, chr(10))))) AS block_id
        |  FROM strip
        |), bm AS (
        |  SELECT doc_id, block_id,
        |    trim(regexp_replace(a, '\s+', ' ', 'g')) AS block_text,
        |    length(regexp_replace(a, '\s+', '', 'g')) AS n_chars,
        |    greatest(length(regexp_replace(a, '\s+', '', 'g'))
        |      - length(regexp_replace(b, '\s+', '', 'g')), 0) AS anchor_chars,
        |    len(list_filter(
        |      string_split(trim(regexp_replace(a, '\s+', ' ', 'g')), ' '),
        |      x -> x <> '')) AS n_words,
        |    len(list_filter(
        |      string_split(trim(regexp_replace(a, '\s+', ' ', 'g')), ' '),
        |      x -> list_contains(
        |        ['the','of','and','a','to','in','is','it','that','for'],
        |        regexp_replace(lower(x), '[^a-z]', '', 'g')))) AS stop_hits
        |  FROM z
        |), g AS (
        |  SELECT doc_id,
        |    array_to_string(list(block_text ORDER BY block_id), chr(10)) AS ext
        |  FROM bm
        |  WHERE n_chars > 0 AND n_chars >= 20 AND anchor_chars * 5 <= n_chars
        |    AND stop_hits * 10 >= n_words * 3
        |  GROUP BY doc_id
        |), e AS (
        |  SELECT h.doc_id, h.source, h.canon,
        |    CASE WHEN h.html IS NULL THEN NULL ELSE coalesce(g.ext, '') END AS t
        |  FROM h LEFT JOIN g ON g.doc_id = h.doc_id
        |), s1 AS (
        |  SELECT doc_id, source, canon, t,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS w,
        |    list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS l,
        |    list_filter(string_split_regex(t, '\n{2,}'), x -> trim(x) <> '') AS ps
        |  FROM e
        |), mm AS (
        |  SELECT doc_id, source, canon, t,
        |    cast(len(w) AS BIGINT) AS nw,
        |    cast(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sumlen,
        |    cast(len(regexp_extract_all(t, '#|…|\.\.\.')) AS BIGINT) AS nsym,
        |    cast(len(l) AS BIGINT) AS nl,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '^[•\-\*]'))) AS BIGINT) AS nbul,
        |    cast(len(list_filter(l, x -> regexp_matches(trim(x), '(…|\.\.\.)$'))) AS BIGINT) AS nell,
        |    cast(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
        |    cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(w, s))) AS BIGINT) AS nstop,
        |    cast(len(list_distinct(l)) AS BIGINT) AS lnd,
        |    cast(coalesce(list_sum(list_transform(l, x -> len(x))), 0) AS BIGINT) AS lc,
        |    cast(coalesce(list_sum(list_transform(list_distinct(l), x -> len(x))), 0) AS BIGINT) AS lcd,
        |    cast(len(ps) AS BIGINT) AS pan,
        |    cast(len(list_distinct(ps)) AS BIGINT) AS pad,
        |    cast(coalesce(list_sum(list_transform(ps, x -> len(x))), 0) AS BIGINT) AS pc,
        |    cast(coalesce(list_sum(list_transform(list_distinct(ps), x -> len(x))), 0) AS BIGINT) AS pcd,
        |    len(list_filter(string_split(t, chr(10)), x ->
        |      len(list_filter(string_split_regex(x, '\s+'), y -> y <> '')) >= 5
        |      AND regexp_matches(trim(x), '[.!?]["”]?$'))) AS nkept,
        |    contains(lower(t), 'lorem ipsum') AS lorem,
        |    contains(t, '{') AS brace,
        |    ' ' || array_to_string(list_filter(
        |      string_split_regex(lower(t), '\s+'), x -> x <> ''), ' ')
        |      || ' ' AS norm
        |  FROM s1
        |), lab AS (
        |  SELECT doc_id, source, canon, t, nw AS ntok,
        |    CASE WHEN canon % 37 IN (5, 11) THEN 'domain'
        |         WHEN t IS NULL THEN 'null_html'
        |         WHEN NOT (nw >= 50 AND nw <= 100000
        |           AND nw > 0 AND sumlen >= nw * 3 AND sumlen <= nw * 10
        |           AND nsym * 10 <= nw AND nbul * 10 <= nl * 9
        |           AND nell * 10 <= nl * 3 AND nalpha * 5 >= nw * 4
        |           AND nstop >= 2) THEN 'gopher'
        |         WHEN NOT ((nl - lnd) * 10 <= nl * 3 AND (lc - lcd) * 5 <= lc
        |           AND (pan - pad) * 10 <= pan * 3 AND (pc - pcd) * 5 <= pc)
        |           THEN 'repetition'
        |         WHEN NOT (NOT lorem AND NOT brace AND nkept >= 3) THEN 'c4'
        |         WHEN contains(norm, ' customer query ')
        |           OR contains(norm, ' window merge ') THEN 'blocklist'
        |         ELSE 'pass' END AS scr
        |  FROM mm
        |), u AS (
        |  SELECT doc_id,
        |    'site' || cast(canon % 37 AS VARCHAR) || '.example.com/a/'
        |      || cast(canon AS VARCHAR) AS cu
        |  FROM lab WHERE scr = 'pass'
        |), uw AS (SELECT cu, min(doc_id) AS w FROM u GROUP BY cu),
        |s2 AS (SELECT u.doc_id FROM u JOIN uw USING (cu) WHERE u.doc_id = uw.w),
        |tw AS (
        |  SELECT l.t, min(l.doc_id) AS w
        |  FROM lab l JOIN s2 USING (doc_id) GROUP BY l.t
        |), s3 AS (
        |  SELECT l.doc_id FROM lab l JOIN s2 USING (doc_id)
        |  JOIN tw ON tw.t = l.t AND tw.w = l.doc_id
        |), ev AS (
        |  SELECT list_filter(string_split_regex(
        |    'It is the case that the answer to the benchmark question is in the set.',
        |    '\s+'), x -> x <> '') AS ewd
        |), evg AS (
        |  SELECT DISTINCT array_to_string(ewd[i:i+7], ' ') AS g8
        |  FROM ev, unnest(range(1, len(ewd)-8+2)) AS t(i)
        |), dt AS (
        |  SELECT l.doc_id,
        |    list_filter(string_split_regex(l.t, '\s+'), x -> x <> '') AS dw
        |  FROM lab l JOIN s3 USING (doc_id)
        |), cg AS (
        |  SELECT doc_id, array_to_string(dw[i:i+7], ' ') AS g8
        |  FROM dt, unnest(range(1, len(dw)-8+2)) AS t2(i)
        |  WHERE len(dw) >= 8
        |), cont AS (SELECT DISTINCT doc_id FROM cg JOIN evg USING (g8)),
        |s4 AS (
        |  SELECT dt.doc_id FROM dt
        |  WHERE dt.doc_id NOT IN (SELECT doc_id FROM cont)
        |), tk AS (
        |  SELECT l.doc_id, l.source, l.ntok FROM lab l JOIN s4 USING (doc_id)
        |), wv AS (
        |  SELECT 'src' || cast(i AS VARCHAR) AS source,
        |    cast(CASE WHEN i = 3 THEN 8 ELSE 1 END AS BIGINT) AS wt
        |  FROM range(20) t(i)
        |), base AS (
        |  SELECT tk.source, cast(sum(coalesce(tk.ntok, 0)) AS BIGINT) AS avail,
        |    max(wv.wt) AS wt
        |  FROM tk JOIN wv USING (source) GROUP BY tk.source
        |), nd AS (SELECT cast(count(*) AS BIGINT) AS k FROM base),
        |it AS (
        |  SELECT 0 AS iter, source, avail, wt, false AS sat FROM base
        |  UNION ALL
        |  SELECT iter + 1, source, avail, wt,
        |    sat OR (avail * (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ())
        |        <= wt * (12000 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |      AND sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () > 0) AS sat
        |  FROM it WHERE iter < (SELECT k FROM nd)
        |),
        |fin AS (SELECT * FROM it WHERE iter = (SELECT k FROM nd)),
        |q AS (
        |  SELECT source,
        |    CASE WHEN sat THEN avail
        |      WHEN sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER () = 0 THEN 0
        |      ELSE wt * (12000 - sum(CASE WHEN sat THEN avail ELSE 0 END) OVER ())
        |        // (sum(CASE WHEN NOT sat THEN wt ELSE 0 END) OVER ()) END AS quota
        |  FROM fin
        |), r AS (
        |  SELECT doc_id, source, ntok,
        |    sum(coalesce(ntok, 0)) OVER (PARTITION BY source
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tk
        |), keep AS (
        |  SELECT r.doc_id, r.ntok FROM r JOIN q USING (source)
        |  WHERE cum - coalesce(ntok, 0) < quota
        |), sh AS (
        |  SELECT doc_id,
        |    cast((sum(coalesce(ntok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) - coalesce(ntok, 0)) // 1500 AS BIGINT)
        |      AS shard
        |  FROM keep
        |)
        |SELECT l.doc_id, l.source,
        |  CASE WHEN l.scr <> 'pass' THEN l.scr
        |       WHEN s2.doc_id IS NULL THEN 'url_dup'
        |       WHEN s3.doc_id IS NULL THEN 'text_dup'
        |       WHEN s4.doc_id IS NULL THEN 'decontam'
        |       WHEN sh.doc_id IS NULL THEN 'mix'
        |       ELSE 'kept' END AS stage,
        |  CASE WHEN l.scr IN ('domain', 'null_html') THEN NULL
        |       ELSE l.ntok END AS n_tok,
        |  sh.shard
        |FROM lab l
        |LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
        |LEFT JOIN s4 USING (doc_id) LEFT JOIN sh USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    // per-char window ledger: winner = min doc_id per shared 15-char
    // gram, losers drop the interval-UNION of covered positions, kept
    // chars rebuilt in order
    "q183_char_span_dedup" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 8 = 2
        |      THEN ' 深度学习模型的训练数据需要去重处理流程' ELSE '' END AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, i - 1 AS pos, substr(t, i, 15) AS gr
        |  FROM a, unnest(range(1, len(t) - 15 + 2)) AS u(i)
        |  WHERE len(t) >= 15
        |), w AS (
        |  SELECT gr, min(doc_id) AS wid FROM g
        |  GROUP BY gr HAVING count(DISTINCT doc_id) >= 2
        |), st AS (
        |  SELECT g.doc_id, g.pos FROM g JOIN w ON w.gr = g.gr AND g.doc_id <> w.wid
        |), cov AS (
        |  SELECT DISTINCT doc_id, pos + d AS idx
        |  FROM st, unnest(range(0, 15)) AS v(d)
        |), ch AS (
        |  SELECT doc_id, i - 1 AS idx, substr(t, i, 1) AS c
        |  FROM a, unnest(range(1, len(t) + 1)) AS u(i)
        |), res AS (
        |  SELECT ch.doc_id,
        |    coalesce(string_agg(CASE WHEN cov.idx IS NULL THEN ch.c END, ''
        |      ORDER BY ch.idx), '') AS cleaned,
        |    cast(count(cov.idx) AS BIGINT) AS n_removed_chars
        |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.idx = ch.idx
        |  GROUP BY ch.doc_id
        |)
        |SELECT a.doc_id,
        |  CASE WHEN a.t IS NULL THEN NULL ELSE coalesce(res.cleaned, '') END AS cleaned,
        |  coalesce(res.n_removed_chars, 0) AS n_removed_chars
        |FROM a LEFT JOIN res USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    // the Group-DRO recursion replayed in HUGEINT: per-(step, domain)
    // clamped mean excess loss, then T iterations of
    // update (1 + η·λ) → normalize → smooth, every division a floor on
    // non-negative integers — identical to the BigInt driver fixpoint
    "q184_doremi_weights" ->
      (DoremiOracleCte +
      """,
        |cnt AS (SELECT lang AS domain, cast(count(*) AS BIGINT) AS nc
        |        FROM documents WHERE lang IS NOT NULL GROUP BY lang)
        |SELECT wavg.domain, wavg.weight,
        |  least(cnt.nc,
        |    cast((400 * wavg.weight) // 1000000000000 AS BIGINT)) AS quota
        |FROM wavg JOIN cnt USING (domain)
        |ORDER BY domain""".stripMargin),

    // same recursion, then each domain's ⌊400·w/S⌋-row md5-order prefix
    "q185_doremi_mix" ->
      (DoremiOracleCte +
      """,
        |q AS (SELECT domain,
        |        cast((400 * weight) // 1000000000000 AS BIGINT) AS quota
        |      FROM wavg),
        |r AS (SELECT doc_id, lang AS domain,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |      FROM documents WHERE lang IS NOT NULL)
        |SELECT r.doc_id, r.domain
        |FROM r JOIN q USING (domain) WHERE r.rn <= q.quota
        |ORDER BY doc_id""".stripMargin),

    // three unrolled Lloyd rounds + final assignment, all exact integers
    "q186_kmeans" -> kmeansOracleSql(8, 3),

    // two unrolled rounds, then the per-cell md5 row_number prefix
    "q188_cluster_balanced" -> kmeansOracleSql(8, 2,
      """,kept AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY md5(cast(vec_id AS VARCHAR)) ASC, vec_id ASC) AS krn
        |  FROM (SELECT vec_id, cell FROM fin WHERE rn = 1)
        |)
        |SELECT vec_id, cell FROM kept WHERE krn <= 20
        |ORDER BY vec_id""".stripMargin),

    // q143's scoring CTE against q189's own materialized model, ground
    // truth re-derived from lang, thresholds the same min + i·span // 8
    // integers, then per-threshold CASE sums and ppm floor divisions
    "q189_threshold_sweep" ->
      (sweepOracleCte("q189") +
      """
        |SELECT threshold, tp, fp, fn, tn, precision_ppm, recall_ppm, f1_ppm
        |FROM sw ORDER BY threshold""".stripMargin),

    // the token-weighted CASE sums over the same ladder
    "q191_token_sweep" ->
      (sweepOracleCte("q191", "l.w") +
      """
        |SELECT threshold, tp, fp, fn, tn, precision_ppm, recall_ppm, f1_ppm
        |FROM sw ORDER BY threshold""".stripMargin),

    // the audit report replayed from the batch arithmetic: the log is
    // every doc once (evens ∪ odds) plus the %10 slice again, so dup
    // ids = that slice, surplus = one row each; the meta total is the
    // sum of the three committed batch totals ≡ the data total, so the
    // meta_total violation derives to 0; null/negative counts derive
    // from the same standing rows
    "q192_log_verify" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), lg AS (
        |  SELECT doc_id, n_tok FROM t WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, n_tok FROM t WHERE doc_id % 10 = 0
        |), dup AS (
        |  SELECT doc_id, cast(count(*) AS BIGINT) AS c
        |  FROM lg GROUP BY doc_id HAVING count(*) > 1
        |), dd AS (
        |  SELECT cast(count(*) AS BIGINT) AS dups,
        |    cast(coalesce(sum(c - 1), 0) AS BIGINT) AS surplus
        |  FROM dup
        |), agg AS (
        |  SELECT
        |    cast(coalesce(sum(coalesce(n_tok, 0)), 0) AS BIGINT) AS data_total,
        |    cast(coalesce(sum(coalesce(n_tok, 0)), 0) AS BIGINT) AS meta_total,
        |    cast(count(*) FILTER (WHERE doc_id IS NULL) AS BIGINT) AS null_ids,
        |    cast(count(*) FILTER (WHERE n_tok < 0) AS BIGINT) AS neg_w
        |  FROM lg
        |)
        |SELECT * FROM (
        |  SELECT 'dup_ids' AS "check", dups AS violations, surplus AS measured
        |  FROM dd
        |  UNION ALL
        |  SELECT 'journal_pending', cast(0 AS BIGINT), cast(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'meta_missing', cast(0 AS BIGINT), cast(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'meta_total', greatest(data_total - meta_total, 0), data_total
        |  FROM agg
        |  UNION ALL
        |  SELECT 'negative_weights', neg_w, neg_w FROM agg
        |  UNION ALL
        |  SELECT 'null_ids', null_ids, null_ids FROM agg
        |) ORDER BY "check"""".stripMargin,

    // compaction must bit-preserve the three-append layout: the same
    // cumsum replay as q162, third arm offset by both standing totals
    "q193_log_compact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), a0 AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE doc_id % 3 = 0
        |), t0 AS (
        |  SELECT cast(coalesce(sum(coalesce(n_tok, 0)), 0) AS BIGINT) AS tot
        |  FROM t WHERE doc_id % 3 = 0
        |), a1 AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE doc_id % 3 = 1
        |), t1 AS (
        |  SELECT cast(coalesce(sum(coalesce(n_tok, 0)), 0) AS BIGINT) AS tot
        |  FROM t WHERE doc_id % 3 = 1
        |), a2 AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE doc_id % 3 = 2
        |)
        |SELECT doc_id,
        |  cast((cum - coalesce(n_tok, 0)) // 6000 AS BIGINT) AS shard
        |FROM a0
        |UNION ALL
        |SELECT doc_id,
        |  cast((t0.tot + cum - coalesce(n_tok, 0)) // 6000 AS BIGINT) AS shard
        |FROM a1, t0
        |UNION ALL
        |SELECT doc_id,
        |  cast((t0.tot + t1.tot + cum - coalesce(n_tok, 0)) // 6000 AS BIGINT)
        |    AS shard
        |FROM a2, t0, t1
        |ORDER BY doc_id""".stripMargin,

    // the q162 two-arm cumsum replay with the doomed rows filtered
    // AFTER assignment — deletion never moves a survivor's shard
    "q194_log_delete" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), ev AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE doc_id % 2 = 0
        |), tot AS (
        |  SELECT cast(coalesce(sum(coalesce(n_tok, 0)), 0) AS BIGINT) AS tot
        |  FROM t WHERE doc_id % 2 = 0
        |), od AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE doc_id % 2 = 1
        |), lay AS (
        |  SELECT doc_id,
        |    cast((cum - coalesce(n_tok, 0)) // 6000 AS BIGINT) AS shard
        |  FROM ev
        |  UNION ALL
        |  SELECT doc_id,
        |    cast((tot.tot + cum - coalesce(n_tok, 0)) // 6000 AS BIGINT)
        |      AS shard
        |  FROM od, tot
        |)
        |SELECT doc_id, shard FROM lay
        |WHERE doc_id % 449 <> 0 ORDER BY doc_id""".stripMargin,

    // same sweep against q190's model, then the deployment pick (min
    // qualifying threshold at the 55% ppm floor) and the kept rows
    "q190_calibrated_screen" ->
      (sweepOracleCte("q190") +
      """,
        |pick AS (
        |  SELECT min(threshold) AS t FROM sw
        |  WHERE precision_ppm IS NOT NULL AND precision_ppm >= 550000
        |)
        |SELECT doc_id, score FROM s
        |WHERE score >= (SELECT t FROM pick) ORDER BY doc_id""".stripMargin),

    // same candidate regexes, Luhn as a doubled-digit list fold, mod-97
    // as letter expansion + a list_reduce over the digit string
    "q187_checksum_pii" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE cast(doc_id % 7 AS INT)
        |      WHEN 0 THEN 'pay 4532015112830366 now '
        |      WHEN 1 THEN 'ref 4532015112830367 xx '
        |      WHEN 2 THEN 'card 4532-0151-1283-0366 ok '
        |      WHEN 3 THEN 'iban DE89370400440532013000 eur '
        |      WHEN 4 THEN 'iban DE89370400440532013001 bad '
        |      WHEN 5 THEN 'acct GB82WEST12345698765432 and 4532015112830366 '
        |      ELSE '' END || text AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    regexp_extract_all(t, '\b\d(?:[ -]?\d){12,18}\b') AS cards,
        |    regexp_extract_all(t, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b') AS ibans
        |  FROM a
        |)
        |SELECT doc_id,
        |  cast(len(cards) AS BIGINT) AS n_card_candidates,
        |  cast(len(list_filter(
        |    list_transform(cards,
        |      m -> reverse(replace(replace(m, ' ', ''), '-', ''))),
        |    r -> list_sum(list_transform(range(1, len(r) + 1), i ->
        |      CASE WHEN i % 2 = 0 THEN
        |        CASE WHEN cast(substr(r, i, 1) AS INT) * 2 > 9
        |          THEN cast(substr(r, i, 1) AS INT) * 2 - 9
        |          ELSE cast(substr(r, i, 1) AS INT) * 2 END
        |        ELSE cast(substr(r, i, 1) AS INT) END)) % 10 = 0))
        |    AS BIGINT) AS n_cards_valid,
        |  cast(len(list_filter(
        |    list_transform(
        |      list_transform(ibans, m -> substr(m, 5) || substr(m, 1, 4)),
        |      re -> array_to_string(list_transform(range(1, len(re) + 1), i ->
        |        CASE WHEN substr(re, i, 1) BETWEEN '0' AND '9'
        |          THEN substr(re, i, 1)
        |          ELSE cast(ascii(substr(re, i, 1)) - 55 AS VARCHAR) END), '')),
        |    digs -> list_reduce(
        |      list_prepend(cast(0 AS BIGINT),
        |        list_transform(range(1, len(digs) + 1),
        |          i -> cast(substr(digs, i, 1) AS BIGINT))),
        |      (acc, d) -> (acc * 10 + d) % 97) = 1))
        |    AS BIGINT) AS n_ibans_valid
        |FROM c ORDER BY doc_id""".stripMargin,

    "q138_bpe_word_histogram" ->
      """WITH w AS (
        |  SELECT unnest(regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS word
        |  FROM documents
        |)
        |SELECT word, count(*) AS n FROM w GROUP BY word ORDER BY word""".stripMargin,

    // q135's rank → q86's binning at (pos % 4) strides → q105's shard
    // digit, composed: the manifest of the written epoch-order corpus
    "q142_epoch_order_shards" ->
      """WITH p AS (
        |  SELECT doc_id, text,
        |    row_number() OVER (
        |      ORDER BY md5('7#' || cast(doc_id AS varchar)) ASC, doc_id ASC)
        |      - 1 AS pos
        |  FROM documents
        |), d AS (
        |  SELECT pos, cast(pos % 4 AS int) AS grp,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM p
        |), c AS (
        |  SELECT pos, grp, cast(len(l) AS bigint) AS n_tokens,
        |    sum(cast(len(l) AS bigint)) OVER (PARTITION BY grp ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d
        |), f AS (
        |  SELECT grp, pos, n_tokens, cum - n_tokens AS g0, b.bin AS bin
        |  FROM c, unnest(range(cast((cum - n_tokens) // 256 AS bigint),
        |                       cast((cum - 1) // 256 + 1 AS bigint))) AS b(bin)
        |  WHERE n_tokens > 0
        |), bins AS (
        |  SELECT grp, bin,
        |    cast(sum(least(n_tokens, (bin+1)*256 - g0)
        |             - greatest(0, bin*256 - g0)) AS bigint) AS n_tokens
        |  FROM f GROUP BY grp, bin
        |)
        |SELECT
        |  cast((strpos('0123456789abcdef',
        |     substr(md5(grp || ':' || bin), 1, 1)) - 1) % 4 AS int) AS shard,
        |  cast(count(*) AS bigint) AS n_rows,
        |  cast(sum(n_tokens) AS bigint) AS sum_n_tokens
        |FROM bins GROUP BY 1 ORDER BY shard""".stripMargin,

    // standing tf over the committed slices (%3 ∈ {1,2}) + q109's rollup
    // over the probe batch (%3 = 0), unseen tokens scoring 0/rare — the
    // lifecycle's build+append+probe all under one hash
    "q141_tf_index_lifecycle" ->
      """WITH stand AS (
        |  SELECT t.token
        |  FROM (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |        FROM documents WHERE doc_id % 3 <> 0) d, unnest(d.l) AS t(token)
        |), tf AS (
        |  SELECT token, count(*) AS n FROM stand GROUP BY token
        |), batch AS (
        |  SELECT doc_id, t.token
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |        FROM documents WHERE doc_id % 3 = 0) d, unnest(d.l) AS t(token)
        |)
        |SELECT doc_id,
        |  cast(count(*) AS bigint) AS n_toks,
        |  cast(sum(coalesce(n, 0)) AS bigint) AS sum_freq,
        |  cast(sum(CASE WHEN coalesce(n, 0) < 3 THEN 1 ELSE 0 END) AS bigint) AS n_rare
        |FROM batch LEFT JOIN tf USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q129's rank form with no partition — one global prefix of the
    // (score DESC, md5, id) order
    "q139_take_global_top" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT cast(count(*) AS BIGINT) AS c FROM t
        |), r AS (
        |  SELECT doc_id, n_tok,
        |    row_number() OVER (
        |      ORDER BY n_tok DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC) AS rn
        |  FROM t
        |)
        |SELECT doc_id, n_tok FROM r, c
        |WHERE rn <= cast(round(0.2 * c) AS BIGINT) ORDER BY doc_id""".stripMargin,

    // q130's cum-window keep rule with no partition
    "q140_take_global_tokens_top" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY n_tok DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, n_tok FROM r
        |WHERE cum - coalesce(n_tok, 0) < 1500 ORDER BY doc_id""".stripMargin,

    // q103's cum-window keep rule without the partition — one global prefix
    "q137_take_global_tokens" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS bigint) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (
        |      ORDER BY md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, n_tok FROM c
        |WHERE cum - coalesce(n_tok, 0) < 2000 ORDER BY doc_id""".stripMargin,

    // the md5-order global prefix: rank ≤ 137
    "q136_take_global" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, source FROM r WHERE rn <= 137 ORDER BY doc_id""".stripMargin,

    // the whole permutation in one window: rank in md5('7#'||id) order
    "q135_epoch_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5('7#' || cast(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |    - 1 AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q112's sqrt-share quota CTEs + q129's rank window at (score DESC,
    // md5, id) — the quota formula and the quality order hash together
    "q134_temperature_quality" ->
      """WITH d AS (
        |  SELECT doc_id, substr(source, 1, 4) AS domain,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT domain, cast(count(*) AS BIGINT) AS c FROM d GROUP BY domain
        |), z AS (
        |  SELECT list_sum(list(sqrt(cast(c AS DOUBLE)) ORDER BY domain NULLS FIRST)) AS z FROM c
        |), q AS (
        |  SELECT domain,
        |    least(c, cast(round(300 * sqrt(cast(c AS DOUBLE)) / z) AS BIGINT)) AS quota
        |  FROM c, z
        |), r AS (
        |  SELECT doc_id, domain, n_tok,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY n_tok DESC NULLS LAST,
        |        md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM d
        |)
        |SELECT doc_id, domain, n_tok FROM r JOIN q USING (domain)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    // q129's rank form over a 3-value score with the md5 tie-break doing
    // ALL the work at the cutoff (the run/tie path's oracle)
    "q131_top_fraction_tiedense" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) % 3 AS q3
        |  FROM documents
        |), c AS (
        |  SELECT source, cast(count(*) AS BIGINT) AS c FROM t GROUP BY source
        |), r AS (
        |  SELECT doc_id, source, q3,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY q3 DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC) AS rn
        |  FROM t
        |)
        |SELECT doc_id, source, q3 FROM r JOIN c USING (source)
        |WHERE rn <= cast(round(0.4 * c) AS BIGINT) ORDER BY doc_id""".stripMargin,

    // q130's cum-window keep rule over a BINARY score — half of each
    // source is one tie run, so the md5-order prefix decides the cutoff
    "q132_top_budget_tiedense" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) % 2 AS good
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source, good, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (PARTITION BY source
        |      ORDER BY good DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, good, n_tok FROM r
        |WHERE cum - coalesce(n_tok, 0) < 500 ORDER BY doc_id""".stripMargin,

    // the kept set is WIDTH-INDEPENDENT: q103's md5-order cum-window keep
    // rule verbatim — the degraded-width plan must hash to it exactly
    "q133_token_budget_degrade" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS bigint) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (PARTITION BY source
        |      ORDER BY md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, n_tok FROM c
        |WHERE cum - coalesce(n_tok, 0) < 600 ORDER BY doc_id""".stripMargin,

    // exact per-source top-25%-by-token-count: rank vs round(0.25·c)
    "q129_top_fraction" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT source, cast(count(*) AS BIGINT) AS c FROM t GROUP BY source
        |), r AS (
        |  SELECT doc_id, source, n_tok,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_tok DESC NULLS LAST,
        |        md5(cast(doc_id AS varchar)) ASC, doc_id ASC) AS rn
        |  FROM t
        |)
        |SELECT doc_id, source, n_tok FROM r JOIN c USING (source)
        |WHERE rn <= cast(round(0.25 * c) AS BIGINT) ORDER BY doc_id""".stripMargin,

    // q112's quota CTEs uncapped, split div/mod into full copies (a
    // per-source range unnest) + the md5-order partial copy
    "q128_temperature_repeat" ->
      """WITH d AS (
        |  SELECT doc_id, source, substr(source, 1, 4) AS domain FROM documents
        |), c AS (
        |  SELECT domain, cast(count(*) AS BIGINT) AS c FROM d GROUP BY domain
        |), z AS (
        |  SELECT list_sum(list(sqrt(cast(c AS DOUBLE)) ORDER BY domain NULLS FIRST)) AS z FROM c
        |), q AS (
        |  SELECT domain, c,
        |    cast(round(900 * sqrt(cast(c AS DOUBLE)) / z) AS BIGINT) AS quota
        |  FROM c, z
        |), k AS (
        |  SELECT domain, quota // c AS kf, quota % c AS rem FROM q
        |), fullc AS (
        |  SELECT d.doc_id, d.domain, unnest(range(k.kf)) AS copy
        |  FROM d JOIN k USING (domain)
        |), r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(cast(doc_id AS varchar)) ASC, doc_id ASC) AS rn
        |  FROM d
        |), part AS (
        |  SELECT r.doc_id, r.domain, k.kf AS copy
        |  FROM r JOIN k USING (domain) WHERE r.rn <= k.rem
        |)
        |SELECT doc_id, domain, cast(copy AS BIGINT) AS copy FROM fullc
        |UNION ALL
        |SELECT doc_id, domain, cast(copy AS BIGINT) AS copy FROM part
        |ORDER BY doc_id, copy""".stripMargin,

    "q112_temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id, source, substr(source, 1, 4) AS domain FROM documents
        |), c AS (
        |  SELECT domain, cast(count(*) AS BIGINT) AS c FROM d GROUP BY domain
        |), z AS (
        |  SELECT list_sum(list(sqrt(cast(c AS DOUBLE)) ORDER BY domain NULLS FIRST)) AS z FROM c
        |), q AS (
        |  SELECT domain,
        |    least(c, cast(round(300 * sqrt(cast(c AS DOUBLE)) / z) AS BIGINT)) AS quota
        |  FROM c, z
        |), r AS (
        |  SELECT doc_id, domain, source,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(cast(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM d
        |)
        |SELECT doc_id, domain, source FROM r JOIN q USING (domain)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,

    // q112's quota machinery over TOKEN sums + q103's cum-window keep rule
    "q124_temperature_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, substr(source, 1, 4) AS domain,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS bigint) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT domain, sum(coalesce(n_tok, 0)) AS tk FROM t GROUP BY domain
        |), z AS (
        |  SELECT list_sum(list(sqrt(cast(tk AS DOUBLE)) ORDER BY domain NULLS FIRST)) AS z FROM c
        |), q AS (
        |  SELECT domain,
        |    least(tk, cast(round(10000 * sqrt(cast(tk AS DOUBLE)) / z) AS BIGINT)) AS quota
        |  FROM c, z
        |), r AS (
        |  SELECT doc_id, domain, n_tok,
        |    sum(coalesce(n_tok, 0)) OVER (PARTITION BY domain
        |      ORDER BY md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, domain, n_tok FROM r JOIN q USING (domain)
        |WHERE cum - coalesce(n_tok, 0) < quota ORDER BY doc_id""".stripMargin,

    "q113_knn_join" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.ev, b.ev) AS cosine
        |  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) as int) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // q113's ranking machinery + the integer-keyed majority vote
    "q149_knn_classify" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id % 5 = 0),
        |c AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
        |ranked AS (
        |  SELECT q.vec_id AS query_id, c.label,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.ev, c.ev) DESC, c.vec_id) AS rank
        |  FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id
        |),
        |votes AS (
        |  SELECT query_id, label, count(*)::BIGINT AS votes, min(rank) AS best
        |  FROM ranked WHERE rank <= 5 AND label IS NOT NULL
        |  GROUP BY query_id, label
        |),
        |w AS (
        |  SELECT query_id, label, votes,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, best ASC, label ASC) AS rn
        |  FROM votes
        |)
        |SELECT query_id, label, votes FROM w WHERE rn = 1
        |ORDER BY query_id""".stripMargin,

    // the same vote over the all-pairs self-join, kept where it
    // disagrees with the assigned label
    "q150_label_disagreement" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings),
        |ranked AS (
        |  SELECT a.vec_id AS query_id, b.label,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.ev, b.ev) DESC, b.vec_id) AS rank
        |  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
        |),
        |votes AS (
        |  SELECT query_id, label, count(*)::BIGINT AS votes, min(rank) AS best
        |  FROM ranked WHERE rank <= 5 AND label IS NOT NULL
        |  GROUP BY query_id, label
        |),
        |w AS (
        |  SELECT query_id, label, votes,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, best ASC, label ASC) AS rn
        |  FROM votes
        |)
        |SELECT w.query_id, v.label AS assigned, w.label AS voted, w.votes
        |FROM w JOIN v ON v.vec_id = w.query_id
        |WHERE w.rn = 1 AND w.label <> v.label
        |ORDER BY w.query_id""".stripMargin,

    // q115's closure + a QUALIFY-style election on the derived score
    "q123_semantic_keep_best" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.ev, b.ev) >= 0.35
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        |), lab AS (
        |  SELECT id, cast(min(r) AS BIGINT) AS rep FROM reach GROUP BY id
        |)
        |SELECT id AS vec_id, rep,
        |  cast(count(*) OVER (PARTITION BY rep) AS BIGINT) AS cluster_size,
        |  (row_number() OVER (PARTITION BY rep
        |     ORDER BY (id * 7) % 100 DESC, id) = 1) AS kept
        |FROM lab ORDER BY vec_id""".stripMargin,

    // q115's closure machinery over batch-side edges only (cross pairs to
    // the standing %10 != 0 corpus + in-batch pairs; standing-standing
    // pairs withheld — the incremental discipline), then the
    // standing-anchor override: any component touching the standing side
    // reps to its smallest matched standing id and keeps nothing
    "q125_semantic_against" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
        |), s AS (SELECT * FROM v WHERE vec_id % 10 <> 0
        |), b AS (SELECT * FROM v WHERE vec_id % 10 = 0
        |), cp AS (
        |  SELECT b.vec_id AS id_a, s.vec_id AS id_b
        |  FROM b CROSS JOIN s
        |  WHERE list_cosine_similarity(b.ev, s.ev) >= 0.35
        |), ip AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM b x JOIN b y ON x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.ev, y.ev) >= 0.35
        |), p AS (
        |  SELECT * FROM cp UNION ALL SELECT * FROM ip
        |), n AS (
        |  SELECT vec_id AS id FROM b UNION SELECT id_b FROM cp
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT id, id AS r FROM n
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        |), lab AS (
        |  SELECT id, cast(min(r) AS BIGINT) AS rep0 FROM reach GROUP BY id
        |), anch AS (
        |  SELECT lab.rep0, min(lab.id) AS anchor
        |  FROM lab JOIN (SELECT DISTINCT id_b FROM cp) a ON lab.id = a.id_b
        |  GROUP BY lab.rep0
        |)
        |SELECT lab.id AS vec_id,
        |  cast(coalesce(anch.anchor, lab.rep0) AS BIGINT) AS rep,
        |  (anch.anchor IS NULL AND lab.id = lab.rep0) AS kept
        |FROM lab JOIN b ON lab.id = b.vec_id
        |LEFT JOIN anch ON lab.rep0 = anch.rep0
        |ORDER BY vec_id""".stripMargin,

    // q125's closure + q123's score election confined to batch-only
    // components (anchored components keep nothing at any score)
    "q127_semantic_kb_against" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
        |), s AS (SELECT * FROM v WHERE vec_id % 10 <> 0
        |), b AS (SELECT * FROM v WHERE vec_id % 10 = 0
        |), cp AS (
        |  SELECT b.vec_id AS id_a, s.vec_id AS id_b
        |  FROM b CROSS JOIN s
        |  WHERE list_cosine_similarity(b.ev, s.ev) >= 0.35
        |), ip AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM b x JOIN b y ON x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.ev, y.ev) >= 0.35
        |), p AS (
        |  SELECT * FROM cp UNION ALL SELECT * FROM ip
        |), n AS (
        |  SELECT vec_id AS id FROM b UNION SELECT id_b FROM cp
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT id, id AS r FROM n
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        |), lab AS (
        |  SELECT id, cast(min(r) AS BIGINT) AS rep0 FROM reach GROUP BY id
        |), anch AS (
        |  SELECT lab.rep0, min(lab.id) AS anchor
        |  FROM lab JOIN (SELECT DISTINCT id_b FROM cp) a ON lab.id = a.id_b
        |  GROUP BY lab.rep0
        |)
        |SELECT lab.id AS vec_id,
        |  cast(coalesce(anch.anchor, lab.rep0) AS BIGINT) AS rep,
        |  (anch.anchor IS NULL AND row_number() OVER (
        |     PARTITION BY lab.rep0
        |     ORDER BY (lab.id * 13) % 97 DESC, lab.id) = 1) AS kept
        |FROM lab JOIN b ON lab.id = b.vec_id
        |LEFT JOIN anch ON lab.rep0 = anch.rep0
        |ORDER BY vec_id""".stripMargin,

    "q115_semantic_dedup" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.ev, b.ev) >= 0.35
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        |), lab AS (
        |  SELECT id, cast(min(r) AS BIGINT) AS rep FROM reach GROUP BY id
        |)
        |SELECT id AS vec_id, rep,
        |  cast(count(*) OVER (PARTITION BY rep) AS BIGINT) AS cluster_size,
        |  id = rep AS kept
        |FROM lab ORDER BY vec_id""".stripMargin,

    // nprobe = nlist probes every cell, so the IVF join IS brute force —
    // identical oracle to q113
    "q114_knn_join_ivf" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.ev, b.ev) AS cosine
        |  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) as int) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "q107_dedup_paragraphs" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    concat(text, e'\n\n', 'shared boilerplate paragraph', e'\n\n',
        |           'para-', doc_id % 7) AS t
        |  FROM documents WHERE text IS NOT NULL
        |), l AS (
        |  SELECT doc_id, string_split_regex(t, '(?:\r?\n){2,}') AS ps FROM aug
        |), p AS (
        |  SELECT doc_id, i - 1 AS pos, ps[i] AS para
        |  FROM l, unnest(range(1, len(ps)+1)) u(i)
        |), r AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
        |  FROM p
        |)
        |SELECT doc_id,
        |  coalesce(string_agg(para, e'\n\n' ORDER BY pos) FILTER (WHERE rn = 1), '') AS cleaned,
        |  cast(count(*) AS bigint) AS n_paras,
        |  cast(count(*) FILTER (WHERE rn = 1) AS bigint) AS n_kept_paras
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q106_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents WHERE text IS NOT NULL
        |), sg AS (
        |  SELECT DISTINCT source, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |)
        |SELECT a.source AS stratum_a, b.source AS stratum_b,
        |       cast(count(*) AS bigint) AS n_shared_grams
        |FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY stratum_a, stratum_b""".stripMargin,

    "q116_contrast_score" ->
      """WITH toks AS (
        |  SELECT doc_id, t.token
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |        FROM documents) d, unnest(d.l) AS t(token)
        |), rtf AS (
        |  SELECT token, count(*) AS rn FROM toks GROUP BY token
        |), ttf AS (
        |  SELECT token, count(*) AS tn
        |  FROM toks WHERE doc_id % 7 = 0 GROUP BY token
        |)
        |SELECT doc_id,
        |  cast(count(*) AS bigint) AS n_toks,
        |  cast(sum(rn) AS bigint) AS sum_raw_freq,
        |  cast(sum(coalesce(tn, 0)) AS bigint) AS sum_target_freq,
        |  cast(sum(CASE WHEN tn IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_target_hit
        |FROM toks JOIN rtf USING (token) LEFT JOIN ttf USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q116's contrast CTEs → integer-exact log2 banding (no float log:
    // one integer division + a binary-digit count) → mass-proportional
    // band quotas (power-of-two scalings are IEEE-exact in any
    // association) → q124's md5-order crossing-row-kept prefix rule
    "q126_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, t.token
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |        FROM documents) d, unnest(d.l) AS t(token)
        |), rtf AS (
        |  SELECT token, count(*) AS rn FROM toks GROUP BY token
        |), ttf AS (
        |  SELECT token, count(*) AS tn
        |  FROM toks WHERE doc_id % 7 = 0 GROUP BY token
        |), cs AS (
        |  SELECT doc_id,
        |    cast(count(*) AS bigint) AS n_toks,
        |    cast(sum(rn) AS bigint) AS sr,
        |    cast(sum(coalesce(tn, 0)) AS bigint) AS st
        |  FROM toks JOIN rtf USING (token) LEFT JOIN ttf USING (token)
        |  GROUP BY doc_id
        |), banded AS (
        |  SELECT doc_id, n_toks,
        |    cast(CASE WHEN p <= 0 THEN -8
        |         ELSE least(greatest(length(bin(p)) - 1 - 8, -8), 8)
        |         END AS int) AS band
        |  FROM (SELECT *, (st + 1) * 256 // (sr + 1) AS p FROM cs)
        |), tot AS (
        |  SELECT band, sum(n_toks) AS tk FROM banded GROUP BY band
        |), mm AS (
        |  SELECT list_sum(list(power(2.0, band) * tk ORDER BY band ASC)) AS m
        |  FROM tot
        |), q AS (
        |  SELECT band,
        |    least(tk, cast(round(20000 * power(2.0, band) * tk / m) AS BIGINT)) AS quota
        |  FROM tot, mm
        |), r AS (
        |  SELECT doc_id, band, n_toks,
        |    sum(n_toks) OVER (PARTITION BY band
        |      ORDER BY md5(cast(doc_id AS varchar)) ASC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM banded
        |)
        |SELECT doc_id, band, n_toks FROM r JOIN q USING (band)
        |WHERE cum - n_toks < quota ORDER BY doc_id""".stripMargin,

    "q117_containment_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_filter(string_split_regex(text, '\s+'),
        |                                x -> x <> '')[1:30], ' ')
        |  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM docs WHERE text IS NOT NULL
        |), pg AS (
        |  SELECT DISTINCT doc_id, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), sizes AS (
        |  SELECT doc_id, count(*) AS ng FROM pg GROUP BY doc_id
        |), gc AS (
        |  SELECT g FROM pg GROUP BY g HAVING count(*) BETWEEN 2 AND 50
        |), kept AS (
        |  SELECT doc_id, g FROM pg JOIN gc USING (g)
        |), shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
        |  FROM kept a JOIN kept b USING (g)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, cast(sh AS bigint) AS shared_grams,
        |  cast(sa.ng AS bigint) AS n_grams_a, cast(sb.ng AS bigint) AS n_grams_b,
        |  cast(sh AS double) / cast(least(sa.ng, sb.ng) AS double) AS containment
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE cast(sh AS double) / cast(least(sa.ng, sb.ng) AS double) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // the q121 winnowing derivation, pairs restricted to batch × standing
    // (the index holds every original doc after build + append, so the
    // probe's candidate universe is the whole corpus)
    "q122_fp_index" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_filter(string_split_regex(text, '\s+'),
        |                                x -> x <> '')[1:30], ' ')
        |  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM docs WHERE text IS NOT NULL
        |), occ AS (
        |  SELECT doc_id, i - 1 AS pos, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), cnt AS (
        |  SELECT doc_id, count(*) AS m FROM occ GROUP BY doc_id
        |), wins AS (
        |  SELECT o.doc_id,
        |    min(g) OVER (PARTITION BY o.doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mg,
        |    pos, c.m
        |  FROM occ o JOIN cnt c USING (doc_id)
        |), fp AS (
        |  SELECT DISTINCT doc_id, mg AS g FROM wins
        |  WHERE (m >= 4 AND pos >= 3) OR (m < 4 AND pos = m - 1)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id
        |), gc AS (
        |  SELECT g FROM fp GROUP BY g HAVING count(*) BETWEEN 2 AND 50
        |), kept AS (
        |  SELECT doc_id, g FROM fp JOIN gc USING (g)
        |), shared AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS existing_id, count(*) AS sh
        |  FROM kept a JOIN kept b USING (g)
        |  WHERE a.doc_id >= 2000000 AND b.doc_id < 2000000
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2
        |)
        |SELECT new_id, existing_id, cast(sh AS bigint) AS shared_fps,
        |  cast(sa.nf AS bigint) AS n_fps_new, cast(sb.nf AS bigint) AS n_fps_existing
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = new_id
        |JOIN sizes sb ON sb.doc_id = existing_id
        |ORDER BY new_id, existing_id""".stripMargin,

    // per-doc winnowing in SQL: window minima over pos-ordered gram keys;
    // a doc with fewer than w grams keeps the window ending at its LAST
    // position, which covers everything it has (the single-window
    // fallback). Value-distinct selection makes tie positions irrelevant
    "q121_winnowing_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_filter(string_split_regex(text, '\s+'),
        |                                x -> x <> '')[1:30], ' ')
        |  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM docs WHERE text IS NOT NULL
        |), occ AS (
        |  SELECT doc_id, i - 1 AS pos, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), cnt AS (
        |  SELECT doc_id, count(*) AS m FROM occ GROUP BY doc_id
        |), wins AS (
        |  SELECT o.doc_id,
        |    min(g) OVER (PARTITION BY o.doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mg,
        |    pos, c.m
        |  FROM occ o JOIN cnt c USING (doc_id)
        |), fp AS (
        |  SELECT DISTINCT doc_id, mg AS g FROM wins
        |  WHERE (m >= 4 AND pos >= 3) OR (m < 4 AND pos = m - 1)
        |), sizes AS (
        |  SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id
        |), gc AS (
        |  SELECT g FROM fp GROUP BY g HAVING count(*) BETWEEN 2 AND 50
        |), kept AS (
        |  SELECT doc_id, g FROM fp JOIN gc USING (g)
        |), shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
        |  FROM kept a JOIN kept b USING (g)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2
        |)
        |SELECT id_a, id_b, cast(sh AS bigint) AS shared_fps,
        |  cast(sa.nf AS bigint) AS n_fps_a, cast(sb.nf AS bigint) AS n_fps_b
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY id_a, id_b""".stripMargin,

    "q120_containment_against" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_filter(string_split_regex(text, '\s+'),
        |                                x -> x <> '')[1:30], ' ')
        |  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM docs WHERE text IS NOT NULL
        |), pg AS (
        |  SELECT DISTINCT doc_id, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), sizes AS (
        |  SELECT doc_id, count(*) AS ng FROM pg GROUP BY doc_id
        |), gc AS (
        |  SELECT g FROM pg GROUP BY g HAVING count(*) BETWEEN 2 AND 50
        |), kept AS (
        |  SELECT doc_id, g FROM pg JOIN gc USING (g)
        |), shared AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS existing_id, count(*) AS sh
        |  FROM kept a JOIN kept b USING (g)
        |  WHERE a.doc_id >= 2000000 AND b.doc_id < 2000000
        |  GROUP BY 1, 2
        |)
        |SELECT new_id, existing_id, cast(sh AS bigint) AS shared_grams,
        |  cast(sa.ng AS bigint) AS n_grams_new,
        |  cast(sb.ng AS bigint) AS n_grams_existing,
        |  cast(sh AS double) / cast(least(sa.ng, sb.ng) AS double) AS containment
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = new_id
        |JOIN sizes sb ON sb.doc_id = existing_id
        |WHERE cast(sh AS double) / cast(least(sa.ng, sb.ng) AS double) >= 0.5
        |ORDER BY new_id, existing_id""".stripMargin,

    // full probe ⇒ identical to q118's exact band ranking
    "q119_hard_negatives_ivf" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.ev, b.ev) AS cosine
        |  FROM v a CROSS JOIN v b
        |  WHERE a.vec_id % 17 = 0 AND a.vec_id <> b.vec_id
        |), banded AS (
        |  SELECT * FROM scored WHERE cosine >= 0.1 AND cosine < 0.8
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS int) AS rank
        |  FROM banded)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q118_hard_negatives" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.ev, b.ev) AS cosine
        |  FROM v a CROSS JOIN v b
        |  WHERE a.vec_id % 17 = 0 AND a.vec_id <> b.vec_id
        |), banded AS (
        |  SELECT * FROM scored WHERE cosine >= 0.1 AND cosine < 0.8
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS int) AS rank
        |  FROM banded)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q105_shard_sink" ->
      """SELECT
        |  cast(strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)),1,1))-1 as int) AS shard,
        |  cast(count(*) as bigint) AS n_rows,
        |  cast(sum(n_chars) as bigint) AS sum_n_chars
        |FROM documents
        |GROUP BY 1 ORDER BY shard""".stripMargin,

    // identical result to q71 by construction: the bloom stage only prunes
    // the shuffle, the exact confirm join removes its false positives
    "q104_decontam_bloom" ->
      """WITH sp AS (
        |  SELECT doc_id, text,
        |    CASE WHEN strpos('0123456789abcdef', substr(md5(text),1,1))-1 < 12 THEN 'train'
        |         WHEN strpos('0123456789abcdef', substr(md5(text),1,1))-1 < 14 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents WHERE text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, split,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM sp
        |), grams AS (
        |  SELECT doc_id, split, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), ev AS (SELECT DISTINCT g FROM grams WHERE split = 'test')
        |SELECT doc_id, cast(count(DISTINCT g) as bigint) AS n_shared_grams
        |FROM grams JOIN ev USING (g)
        |WHERE split = 'train'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q82_take_per_stratum" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(concat(coalesce(text, ''), '#', doc_id)) ASC,
        |               concat(coalesce(text, ''), '#', doc_id) ASC) AS rk
        |  FROM documents
        |)
        |SELECT doc_id, lang FROM ranked WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    // Exact O(n²) char-10-gram Jaccard (same recall argument as q35; the
    // size-ratio join predicate is a lossless prune: j ≥ 0.5 ⇒ sizes within
    // 2× of each other, and 3·inter ≥ na+nb ⇔ jaccard ≥ 0.5 exactly).
    "q42_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, list_distinct([nt[i:i+9] for i in range(1, len(nt) - 8)]) AS sh
        |  FROM t WHERE len(nt) >= 10
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM s a JOIN s b
        |    ON a.doc_id < b.doc_id AND 2*len(a.sh) >= len(b.sh) AND 2*len(b.sh) >= len(a.sh)
        |)
        |SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard
        |FROM p WHERE 3*inter >= na + nb ORDER BY id_a, id_b""".stripMargin,

    // The synthesized PNG's dimensions are a pure function of the text's
    // byte length (Multimodal.synthPngBytes) — the oracle predicts what a
    // REAL ImageIO decode of a REAL PNG must report.
    "q40_multimodal" ->
      """SELECT doc_id,
        | cast(1 + octet_length(encode(coalesce(text, ''))) % 16 as int) AS width,
        | cast(1 + (octet_length(encode(coalesce(text, ''))) * 7) % 16 as int) AS height,
        | 'png' AS format, true AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the closed-form BPE count: bit_count('a'-run) + 1 (the Ġ space
    // byte) + the 'b'-run length; then q74's window arithmetic at
    // capacity 8
    "q98_pack_bpe" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)),1,1))-1) % 8 AS grp,
        |    cast(bit_count(1 + doc_id % 15) + 2 + doc_id % 5 as bigint) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, grp, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d
        |)
        |SELECT doc_id, cast(grp as int) AS grp, n_tokens,
        |  cast((cum - n_tokens) // 8 as bigint) AS bin_first,
        |  cast(CASE WHEN n_tokens = 0 THEN (cum - n_tokens) // 8
        |            ELSE (cum - 1) // 8 END as bigint) AS bin_last,
        |  cast((cum - n_tokens) % 8 as bigint) AS offset_in_bin
        |FROM c ORDER BY doc_id""".stripMargin,

    // identical to q90's oracle: build→append→probe over the same slices
    // must equal the one-shot incremental check on the union corpus
    "q97_dedup_index_append" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks)-1)]) AS sh
        |  FROM t WHERE len(toks) >= 3
        |)
        |SELECT n.doc_id AS new_id, e.doc_id AS existing_id,
        |  len(list_intersect(n.sh, e.sh))::DOUBLE /
        |    (len(n.sh) + len(e.sh) - len(list_intersect(n.sh, e.sh))) AS jaccard
        |FROM s n JOIN s e ON n.doc_id % 10 = 0 AND e.doc_id % 10 <> 0
        |WHERE len(list_intersect(n.sh, e.sh))::DOUBLE /
        |    (len(n.sh) + len(e.sh) - len(list_intersect(n.sh, e.sh))) >= 0.5
        |ORDER BY new_id, existing_id""".stripMargin,

    "q96_script_mix" ->
      """SELECT doc_id,
        | cast(length(text) - length(regexp_replace(text, '\p{Latin}', '', 'g')) as bigint) AS n_latin,
        | cast(length(text) - length(regexp_replace(text, '\p{Cyrillic}', '', 'g')) as bigint) AS n_cyrillic,
        | cast(length(text) - length(regexp_replace(text, '\p{Han}', '', 'g')) as bigint) AS n_han,
        | cast(length(text) - length(regexp_replace(text, '\p{Arabic}', '', 'g')) as bigint) AS n_arabic,
        | cast(length(regexp_replace(text, '\s', '', 'g')) as bigint) AS n_nonspace
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q95_audio_resample" ->
      """SELECT doc_id,
        | cast(4000 as int) AS sample_rate,
        | cast(80 + 20 * (octet_length(encode(coalesce(text, ''))) % 32) as bigint) AS n_samples,
        | cast(20 + 5 * (octet_length(encode(coalesce(text, ''))) % 32) as bigint) AS duration_ms,
        | true AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // null contract mirrored from Spark: `||` propagates NULL (DuckDB's
    // concat() would skip it) and IS NOT DISTINCT FROM is the <=> twin,
    // so both-null text diffs as 'unchanged'
    "q94_corpus_diff" ->
      """WITH before_ AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT 2999995, NULL
        |  UNION ALL SELECT 2999998, NULL
        |),
        |after_ AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' EDITED' ELSE text END AS text
        |  FROM before_ WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM before_ WHERE doc_id <= 10
        |)
        |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN md5(b.text) IS NOT DISTINCT FROM md5(a.text) THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM before_ b FULL JOIN after_ a ON b.doc_id = a.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q93_redact_contaminated" ->
      """WITH sp AS (
        |  SELECT doc_id, text,
        |    CASE WHEN strpos('0123456789abcdef', substr(md5(text),1,1))-1 < 12 THEN 'train'
        |         WHEN strpos('0123456789abcdef', substr(md5(text),1,1))-1 < 14 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents WHERE text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, split,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM sp
        |), grams AS (
        |  SELECT doc_id, split, i,
        |    substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), ev AS (SELECT DISTINCT g FROM grams WHERE split = 'test'),
        |st AS (
        |  SELECT doc_id, list(i) AS starts
        |  FROM grams JOIN ev USING (g) WHERE split = 'train'
        |  GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  coalesce(array_to_string(
        |    list_filter(l, (tok, j) ->
        |      len(list_filter(coalesce(s.starts, []), x -> x <= j AND j < x + 5)) = 0),
        |    ' '), '') AS cleaned,
        |  cast(len(l) - len(list_filter(l, (tok, j) ->
        |      len(list_filter(coalesce(s.starts, []), x -> x <= j AND j < x + 5)) = 0))
        |    as bigint) AS n_removed_tokens
        |FROM toks t LEFT JOIN st s USING (doc_id)
        |WHERE t.split = 'train'
        |ORDER BY t.doc_id""".stripMargin,

    "q92_token_histogram" ->
      """WITH n AS (
        |  SELECT cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) as bigint) AS nt
        |  FROM documents
        |)
        |SELECT nt // 32 AS bucket,
        |  (nt // 32) * 32 AS tokens_from,
        |  (nt // 32 + 1) * 32 - 1 AS tokens_to,
        |  count(*)::BIGINT AS n_docs
        |FROM n GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin,

    "q91_profile" ->
      """SELECT * FROM (
        |  SELECT 'n_nationkey' AS "column", count(n_nationkey)::BIGINT AS n,
        |    (count(*) - count(n_nationkey))::BIGINT AS n_null,
        |    count(DISTINCT n_nationkey)::BIGINT AS n_distinct,
        |    cast(min(n_nationkey) as varchar) AS min_str,
        |    cast(max(n_nationkey) as varchar) AS max_str FROM nation
        |  UNION ALL
        |  SELECT 'n_name', count(n_name)::BIGINT,
        |    (count(*) - count(n_name))::BIGINT, count(DISTINCT n_name)::BIGINT,
        |    cast(min(n_name) as varchar), cast(max(n_name) as varchar) FROM nation
        |  UNION ALL
        |  SELECT 'n_regionkey', count(n_regionkey)::BIGINT,
        |    (count(*) - count(n_regionkey))::BIGINT, count(DISTINCT n_regionkey)::BIGINT,
        |    cast(min(n_regionkey) as varchar), cast(max(n_regionkey) as varchar) FROM nation
        |) ORDER BY "column"""".stripMargin,

    "q90_dedup_incremental" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks)-1)]) AS sh
        |  FROM t WHERE len(toks) >= 3
        |)
        |SELECT n.doc_id AS new_id, e.doc_id AS existing_id,
        |  len(list_intersect(n.sh, e.sh))::DOUBLE /
        |    (len(n.sh) + len(e.sh) - len(list_intersect(n.sh, e.sh))) AS jaccard
        |FROM s n JOIN s e ON n.doc_id % 10 = 0 AND e.doc_id % 10 <> 0
        |WHERE len(list_intersect(n.sh, e.sh))::DOUBLE /
        |    (len(n.sh) + len(e.sh) - len(list_intersect(n.sh, e.sh))) >= 0.5
        |ORDER BY new_id, existing_id""".stripMargin,

    "q89_join_outer" ->
      """SELECT o_orderkey, o_custkey, c_custkey, c_name
        |FROM (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey <= 1000) o
        |FULL JOIN (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 50) c
        |ON o_custkey = c_custkey
        |ORDER BY o_orderkey NULLS FIRST, c_custkey NULLS FIRST""".stripMargin,

    "q88_dedup_keep_best" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks)-1)]) AS sh
        |  FROM t WHERE len(toks) >= 3
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        |), labels AS (
        |  SELECT id, cast(min(r) as bigint) AS rep FROM reach GROUP BY id
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d
        |JOIN labels l ON l.id = d.doc_id
        |JOIN t ON t.doc_id = d.doc_id
        |QUALIFY row_number() OVER (PARTITION BY l.rep
        |  ORDER BY len(t.toks) DESC, d.doc_id) = 1
        |ORDER BY d.doc_id""".stripMargin,

    "q87_video_ann" ->
      """WITH f AS (SELECT doc_id, embedding::DOUBLE[] AS v
        |           FROM read_parquet('/tmp/graft_q87_features_sf0.01/*.parquet')),
        |q AS (SELECT doc_id AS query_id, v AS qv FROM f WHERE doc_id < 5),
        |scored AS (
        |  SELECT query_id, f.doc_id AS neighbor_id,
        |    list_cosine_similarity(qv, v) AS cosine
        |  FROM q CROSS JOIN f WHERE query_id <> f.doc_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) as int) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "q86_pack_materialize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)),1,1))-1) % 8 AS grp,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, grp, l, cast(len(l) as bigint) AS n_tokens,
        |    sum(cast(len(l) as bigint)) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d
        |), f AS (
        |  SELECT grp, doc_id, l, n_tokens, cum - n_tokens AS g0, b.bin AS bin
        |  FROM c, unnest(range(cast((cum - n_tokens) // 256 as bigint),
        |                       cast((cum - 1) // 256 + 1 as bigint))) AS b(bin)
        |  WHERE n_tokens > 0
        |), s AS (
        |  SELECT grp, bin, doc_id,
        |    list_slice(l, greatest(0, bin*256 - g0) + 1,
        |               least(n_tokens, (bin+1)*256 - g0)) AS frag,
        |    least(n_tokens, (bin+1)*256 - g0) - greatest(0, bin*256 - g0) AS flen
        |  FROM f
        |)
        |SELECT cast(grp as int) AS grp, cast(bin as bigint) AS bin,
        |  array_to_string(flatten(list(frag ORDER BY doc_id)), ' ') AS bin_text,
        |  cast(sum(flen) as bigint) AS n_tokens
        |FROM s GROUP BY grp, bin
        |ORDER BY grp, bin""".stripMargin,

    "q85_weighted_mix" ->
      """WITH a AS (
        |  SELECT doc_id, 'full' AS mix_source FROM documents
        |  WHERE substr(md5(concat('full', '#', doc_id)), 1, 3) < '800'
        |), b AS (
        |  SELECT doc_id, 'even' AS mix_source FROM documents
        |  WHERE doc_id % 2 = 0
        |    AND substr(md5(concat('even', '#', doc_id)), 1, 3) < 'e66'
        |)
        |SELECT doc_id, mix_source FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |ORDER BY mix_source, doc_id""".stripMargin,

    "q84_audio_meta" ->
      """SELECT doc_id,
        | cast(8000 as int) AS sample_rate, cast(1 as int) AS channels,
        | cast(16 as int) AS bits,
        | cast(160 + 40 * (octet_length(encode(coalesce(text, ''))) % 32) as bigint) AS n_samples,
        | cast(20 + 5 * (octet_length(encode(coalesce(text, ''))) % 32) as bigint) AS duration_ms,
        | true AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q83_video_frames" ->
      """SELECT doc_id,
        | cast(1 + octet_length(encode(coalesce(text, ''))) % 4 as bigint) AS n_frames,
        | cast(2 + octet_length(encode(coalesce(text, ''))) % 8 as int) AS frame_w,
        | cast(2 + (octet_length(encode(coalesce(text, ''))) * 3) % 8 as int) AS frame_h
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Exact cosine top-k over the features q62 materialized mid-query —
    // same bit-identity argument as q37 (DuckDB list_cosine_similarity
    // over DOUBLE[] accumulates left-to-right in double).
    "q62_multimodal_ann" ->
      """WITH f AS (SELECT doc_id, embedding::DOUBLE[] AS v
        |           FROM read_parquet('/tmp/graft_q62_features_sf0.01/*.parquet')),
        |q AS (SELECT doc_id AS query_id, v AS qv FROM f WHERE doc_id < 5),
        |scored AS (
        |  SELECT query_id, f.doc_id AS neighbor_id,
        |    list_cosine_similarity(qv, v) AS cosine
        |  FROM q CROSS JOIN f WHERE query_id <> f.doc_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) as int) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "q44_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        | cast(count(*) as bigint) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY coalesce(l_returnflag, 'zzz'), coalesce(l_linestatus, 'zzz')""".stripMargin,

    "q63_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(grouping(l_returnflag) as int) AS g_rf,
        | cast(grouping(l_linestatus) as int) AS g_ls,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        | cast(count(*) as bigint) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY coalesce(l_returnflag, 'zzz'), coalesce(l_linestatus, 'zzz')""".stripMargin,

    "q45_window_lag" ->
      """SELECT event_id, user_id, value,
        | lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q46_time_bucket" ->
      """SELECT date_trunc('minute', cast(ts as timestamp)) AS w, user_id,
        | cast(count(*) as bigint) AS n,
        | cast(sum(cast(value as decimal(18,2))) as double) AS total
        |FROM events GROUP BY 1, 2 ORDER BY user_id, w""".stripMargin,

    "q49_data_split" ->
      """SELECT doc_id,
        | CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND '9'
        |        OR substr(md5(text), 1, 1) IN ('a', 'b') THEN 'train'
        |      WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q50_pivot" ->
      """SELECT cast(year(o_orderdate) as int) AS yr,
        | cast(count(*) FILTER (o_orderstatus = 'O') as bigint) AS "O",
        | cast(count(*) FILTER (o_orderstatus = 'F') as bigint) AS "F",
        | cast(count(*) FILTER (o_orderstatus = 'P') as bigint) AS "P"
        |FROM orders GROUP BY yr ORDER BY yr""".stripMargin,

    "q51_token_explode" ->
      """SELECT token, cast(count(*) as bigint) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    "q52_range_join" ->
      """WITH bands AS (
        |  SELECT range AS band_id, range * 3.0 AS lo, range * 3.0 + 10.0 AS hi
        |  FROM range(16))
        |SELECT l_orderkey, l_linenumber, band_id
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |ORDER BY l_orderkey, l_linenumber, band_id""".stripMargin,

    "q53_tfidf" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, cast(count(*) as bigint) AS tf
        |  FROM tokens GROUP BY doc_id, token
        |), dfreq AS (
        |  SELECT token, cast(count(*) as bigint) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY token
        |), scored AS (
        |  SELECT doc_id, token, tf, df, tf::DOUBLE / df::DOUBLE AS score
        |  FROM tf JOIN dfreq USING (token)
        |), ranked AS (
        |  SELECT doc_id, token, score,
        |    cast(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token) as int) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, token, score FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "q54_approx_distinct" ->
      """SELECT l_returnflag,
        | cast(count(distinct l_partkey) as bigint) AS n_parts,
        | true AS hll_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q55_approx_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.5) AS p50,
        | true AS sketch_within_1pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q48_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS p50,
        | quantile_cont(l_quantity, 0.95) AS p95,
        | quantile_cont(l_extendedprice, 0.99) AS price_p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q57_neardup_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "q58_salted_join" ->
      """SELECT o_custkey,
        | cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS total,
        | cast(count(*) as bigint) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q61_dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks)-1)]) AS sh
        |  FROM t WHERE len(toks) >= 3
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        |)
        |SELECT id AS doc_id, cast(min(r) as bigint) AS rep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q80_jsonl_roundtrip" ->
      """SELECT cast(n_nationkey as int) AS n_nationkey, n_name,
        | cast(n_regionkey as int) AS n_regionkey
        |FROM read_json_auto('/tmp/graft_jsonl_roundtrip_sf0.01/*.json')
        |ORDER BY n_nationkey""".stripMargin,

    "q59_csv_roundtrip" ->
      """SELECT cast(n_nationkey as int) AS n_nationkey, n_name,
        | cast(n_regionkey as int) AS n_regionkey
        |FROM read_csv_auto('/tmp/graft_csv_roundtrip/*.csv', header = true)
        |ORDER BY n_nationkey""".stripMargin,

    "q60_window_frame" ->
      """SELECT o_orderkey, o_custkey,
        | cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS UNBOUNDED PRECEDING) as double) AS running_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q64_quality_filter" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.25) FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q56_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE text IS NULL OR
        |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) <
        |  CASE lang WHEN 'en' THEN 4 ELSE 16 END
        |ORDER BY doc_id""".stripMargin,

    "q47_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, cast(ts as timestamp) AS ts,
        |    lag(cast(ts as timestamp)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events
        |), f AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM g
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f
        |)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  cast(count(*) as bigint) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q65_derive" ->
      """SELECT p_partkey, p_retailprice,
        | p_retailprice * cast(0.9 as double) AS discounted,
        | p_retailprice AS price_copy,
        | (p_retailprice * cast(0.9 as double)) * cast(2.0 as double)
        |   AS double_discounted
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q66_fill_null" ->
      """SELECT l_orderkey, l_linenumber,
        | coalesce(nullif(l_discount, 0.0), cast(-1.0 as double)) AS d0,
        | nullif(l_tax, 0.0) AS d1
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q67_insert_into" ->
      """SELECT r_regionkey, r_name FROM (
        |  SELECT r_regionkey, r_name FROM region
        |  UNION ALL SELECT r_regionkey, r_name FROM region) t
        |ORDER BY r_regionkey, r_name""".stripMargin,

    "q68_unique_report" ->
      """SELECT loc, chk, n FROM (
        |  SELECT 'o_custkey' AS loc, 'unique' AS chk,
        |    cast(coalesce((SELECT sum(c) FROM (
        |      SELECT count(*) AS c FROM orders GROUP BY o_custkey) t
        |      WHERE c > 1), 0) as bigint) AS n
        |  UNION ALL
        |  SELECT 'o_orderkey', 'unique',
        |    cast(coalesce((SELECT sum(c) FROM (
        |      SELECT count(*) AS c FROM orders GROUP BY o_orderkey) t
        |      WHERE c > 1), 0) as bigint)
        |) u ORDER BY loc""".stripMargin,

    "q69_asof_global" ->
      """SELECT l.user_id, l.ts, l.click_value, r.pval
        |FROM (SELECT user_id, cast(ts as timestamp) AS ts, value AS click_value
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (
        |      SELECT cast(ts as timestamp) AS ts, max(value) AS pval
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1) r
        |  ON l.ts >= r.ts
        |ORDER BY l.user_id, l.ts, l.click_value""".stripMargin,

    "q70_repetition" ->
      """WITH lin AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls
        |  FROM documents),
        |linesig AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ls) = 0 THEN 0.0
        |      ELSE (cast(len(ls) as double) - cast(len(list_distinct(ls)) as double))
        |           / cast(len(ls) as double) END AS dup_line_frac,
        |    CASE WHEN coalesce(list_sum(list_transform(ls, x -> length(x))), 0) = 0 THEN 0.0
        |      ELSE (cast(list_sum(list_transform(ls, x -> length(x))) as double)
        |            - cast(coalesce(list_sum(list_transform(list_distinct(ls), x -> length(x))), 0) as double))
        |           / cast(list_sum(list_transform(ls, x -> length(x))) as double) END AS dup_line_char_frac
        |  FROM lin),
        |toks AS (
        |  SELECT doc_id,
        |    length(regexp_replace(text, '\s', '', 'g')) AS nc,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, nc,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM toks WHERE len(t) >= 2),
        |counts AS (
        |  SELECT doc_id, max(nc) AS nc, bigram, count(*) AS c
        |  FROM bg GROUP BY doc_id, bigram),
        |ranked AS (
        |  SELECT doc_id, nc, bigram, c,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram DESC) AS rn
        |  FROM counts),
        |top AS (SELECT doc_id, nc, bigram, c FROM ranked WHERE rn = 1)
        |SELECT l.doc_id, l.dup_line_frac, l.dup_line_char_frac,
        |  CASE WHEN t.c IS NULL OR t.nc = 0 THEN 0.0
        |    ELSE cast(t.c as double) * cast(length(t.bigram) - 1 as double)
        |         / cast(t.nc as double) END AS top_bigram_char_frac
        |FROM linesig l LEFT JOIN top t USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    "q71_decontaminate" ->
      """WITH sp AS (
        |  SELECT doc_id, text,
        |    CASE WHEN strpos('0123456789abcdef', substr(md5(text),1,1))-1 < 12 THEN 'train'
        |         WHEN strpos('0123456789abcdef', substr(md5(text),1,1))-1 < 14 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents WHERE text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, split,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM sp
        |), grams AS (
        |  SELECT doc_id, split, substr(md5(array_to_string(l[i:i+4], ' ')), 1, 16) AS g
        |  FROM toks, unnest(range(1, len(l)-5+2)) AS t(i)
        |  WHERE len(l) >= 5
        |), ev AS (SELECT DISTINCT g FROM grams WHERE split = 'test')
        |SELECT doc_id, cast(count(DISTINCT g) as bigint) AS n_shared_grams
        |FROM grams JOIN ev USING (g)
        |WHERE split = 'train'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q72_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    concat(text, ' contact user', doc_id, '@example.com or 555-',
        |           lpad(cast(doc_id % 1000 as varchar), 3, '0'), '-',
        |           lpad(cast(doc_id % 10000 as varchar), 4, '0'),
        |           ' from 10.', doc_id % 256, '.', doc_id % 256, '.', doc_id % 100) AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  cast(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as bigint) AS n_emails,
        |  cast(len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) as bigint) AS n_phones,
        |  cast(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) as bigint) AS n_ipv4,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin,

    "q73_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents
        |)
        |SELECT doc_id, cast((s - 1) // 24 as bigint) AS chunk_idx,
        |  array_to_string(l[s:s+31], ' ') AS chunk_text,
        |  cast(least(32, len(l) - s + 1) as bigint) AS n_chunk_tokens
        |FROM toks, unnest(range(1, len(l) + 1, 24)) AS t(s)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q74_pack_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)),1,1))-1) % 8 AS grp,
        |    cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) as bigint) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, grp, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d
        |)
        |SELECT doc_id, cast(grp as int) AS grp, n_tokens,
        |  cast((cum - n_tokens) // 256 as bigint) AS bin_first,
        |  cast(CASE WHEN n_tokens = 0 THEN (cum - n_tokens) // 256
        |            ELSE (cum - 1) // 256 END as bigint) AS bin_last,
        |  cast((cum - n_tokens) % 256 as bigint) AS offset_in_bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "q76_boilerplate" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    concat('HEADER: subscribe now', chr(10), text, chr(10), 'FOOTER ', doc_id % 3) AS t
        |  FROM documents
        |), freq AS (
        |  SELECT md5(x) AS h
        |  FROM (SELECT DISTINCT doc_id, x
        |        FROM aug, unnest(string_split(t, chr(10))) AS u(x)
        |        WHERE trim(x) <> '')
        |  GROUP BY md5(x) HAVING count(*) >= 100
        |), fl AS (SELECT coalesce(list(h), []) AS hs FROM freq)
        |SELECT doc_id,
        |  array_to_string(
        |    list_filter(string_split(t, chr(10)),
        |      x -> trim(x) = '' OR NOT list_contains(hs, md5(x))),
        |    chr(10)) AS cleaned
        |FROM aug, fl ORDER BY doc_id""".stripMargin,

    "q77_domain_stats" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    concat(text, ' see https://site', doc_id % 7, '.example.com/p/', doc_id,
        |           ' and http://cdn.example.org/lib.js') AS t
        |  FROM documents
        |), urls AS (
        |  SELECT doc_id, regexp_extract(u, 'https?://([^/\s]+)', 1) AS domain
        |  FROM aug, unnest(regexp_extract_all(t, 'https?://[^\s]+')) AS x(u)
        |)
        |SELECT domain, cast(count(DISTINCT doc_id) as bigint) AS n_docs,
        |  cast(count(*) as bigint) AS n_urls
        |FROM urls GROUP BY domain ORDER BY domain""".stripMargin,

    "q79_clusters_star" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks)-1)]) AS sh
        |  FROM t WHERE len(toks) >= 3
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |), e AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        |)
        |SELECT id AS doc_id, cast(min(r) as bigint) AS rep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q78_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id, concat('  ', text, chr(9), chr(11), 'tail', chr(13), '  ') AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(t, '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |    '\s+', ' ', 'g')) AS normalized
        |FROM aug ORDER BY doc_id""".stripMargin,
  )
}
