package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained scoring models for training-data curation: a multinomial
  * Naive Bayes token classifier (the aggregate-exact form of the
  * "quality classifier" used to filter web corpora against a curated
  * positive set — Brown et al. 2020 appendix A train a linear classifier
  * on WebText-vs-CommonCrawl; CCNet, Wenzek et al. 2020, filters by a
  * model trained on Wikipedia) and an add-one-smoothed bigram language
  * model (the exact-arithmetic stand-in for CCNet's KenLM perplexity
  * filter: rank documents by corpus-likelihood under an n-gram model).
  *
  * Both follow the module's exact-integer oracle discipline
  * ([[TextOps.contrastScore]]): every floating-point log is computed ONCE
  * at training time over exact integer counts, quantized to integer
  * micro-nats (`round(ln(p) * microNats)`), and stored in the model
  * tables. Scoring is then pure integer join-and-sum — order-independent
  * and bit-exact in any engine that reads the same model tables, so a
  * scoring query stays hash-oracle-able even though two engines' `ln`
  * may differ in ulps.
  *
  * Plan shape for 100 TB (same as [[TextOps.frequencyScore]]): training
  * is one explode + token-keyed aggregate (ONE shuffle; text never
  * moves, only (label, token) pairs); the totals the weight formula
  * needs are a single-row aggregate collected to the driver (three
  * longs — bounded). Scoring explodes tokens/bigrams and joins the model
  * on the token key — the model is corpus-derived and in general cannot
  * broadcast, so the exploded pairs shuffle ONCE to meet it (Catalyst
  * broadcasts instead when the vocabulary is small); the per-doc rollup
  * is the final aggregate.
  */
object LangModel {

  /** A trained binary multinomial Naive Bayes model over whitespace
    * tokens. `weights` is `(token, weight)` with
    * `weight = round(microNats * (ln((cPos+1)/(nPos+V)) - ln((cNeg+1)/(nNeg+V))))`
    * — the add-one-smoothed per-occurrence log-likelihood ratio in
    * integer micro-nats. `oovWeight` is the same formula at `cPos = cNeg
    * = 0` (a token never seen in training); `prior` is
    * `round(microNats * ln((dPos+1)/(dNeg+1)))` over DOCUMENT counts.
    * A document's decision score is `prior + sum(weight per token)`;
    * positive means the positive class is more likely.
    */
  final case class TokenClassifier(
      weights: DataFrame,
      oovWeight: Long,
      prior: Long,
      microNats: Long)

  /** Spark's `round` is HALF_UP (away from zero); `Math.round` is
    * half-toward-positive-infinity — they disagree on negative .5
    * boundaries, and model constants must quantize exactly like the
    * model tables do.
    */
  private def roundHalfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact

  /** Train a binary multinomial Naive Bayes token classifier.
    *
    * `labelCol` must be boolean-castable (true = positive class; a NULL
    * label trains nothing — the document counts toward neither class's
    * prior and its tokens toward neither histogram, consistently with
    * the index lifecycle's counters). One explode + one token-keyed
    * aggregate builds the per-class counts; the class totals and
    * vocabulary size are a single-row aggregate (three longs collected —
    * bounded regardless of corpus size), and the document-count prior is
    * a second single-row aggregate over the un-exploded frame. The
    * weight table stays distributed — nothing vocabulary-sized ever
    * reaches the driver.
    */
  def trainTokenClassifier(
      labeled: DataFrame,
      textCol: String,
      labelCol: String,
      microNats: Long = 1000000L): TokenClassifier = {
    val d = labeledDocCounts(labeled, labelCol).head()
    classifierFrom(
      labeledTokenCounts(labeled, textCol, labelCol),
      d.getLong(0), d.getLong(1), microNats)
  }

  /** The per-class token histogram of a labeled batch: `(token, cp, cn)`
    * over whitespace tokens — one explode + one token-keyed aggregate,
    * the only pass over text in both training and the index lifecycle.
    */
  private def labeledTokenCounts(
      labeled: DataFrame, textCol: String, labelCol: String): DataFrame =
    labeled.select(
      col(labelCol).cast("boolean").as("__pos"),
      // per-row counts (element_counts kernel): duplicate tokens combine
      // in codegen before the token-keyed shuffle sees them
      explode(graft.functions.native.elementCounts(
        TextOps.wsTokens(col(textCol)))).as(Seq("token", "__tc")))
      .groupBy("token").agg(
        sum(when(col("__pos"), col("__tc")).otherwise(0L)).as("cp"),
        sum(when(!col("__pos"), col("__tc")).otherwise(0L)).as("cn"))

  /** Derive the quantized model from a `(token, cp, cn)` histogram plus
    * the positive/negative DOCUMENT counts — the single place the weight
    * formula lives, shared by [[trainTokenClassifier]] and the index
    * probe so the two derivations cannot drift. The histogram is
    * vocab-sized and consumed twice (the totals collect AND the weight
    * projection the caller executes later) — materialized so its
    * upstream runs exactly once.
    */
  private def classifierFrom(
      countsRaw: DataFrame,
      dPos: Long,
      dNeg: Long,
      microNats: Long): TokenClassifier = {
    val counts = Materialize.eager(countsRaw)
    val t = counts.agg(
      sum("cp"), sum("cn"), count(lit(1))).head()
    // read v (a count — never null) and gate BEFORE touching the sums,
    // which ARE null on an empty histogram
    val v = t.getLong(2)
    require(v > 0, "classifier training: corpus has no tokens")
    val nPos = t.getLong(0)
    val nNeg = t.getLong(1)
    val weights = counts.select(
      col("token"),
      round(
        (log((col("cp") + lit(1)).cast("double") / lit((nPos + v).toDouble)) -
          log((col("cn") + lit(1)).cast("double") / lit((nNeg + v).toDouble))) *
          lit(microNats.toDouble))
        .cast("long").as("weight"))
    val oov = roundHalfUp(
      (math.log(1.0 / (nPos + v)) - math.log(1.0 / (nNeg + v))) * microNats)
    val prior = roundHalfUp(
      math.log((dPos + 1.0) / (dNeg + 1.0)) * microNats)
    TokenClassifier(weights, oov, prior, microNats)
  }

  /** Score documents under a trained classifier: `(idCol, n_toks, n_oov,
    * score)` where `score = prior + sum(weight, OOV tokens scoring
    * oovWeight)` in integer micro-nats — positive means positive-class.
    * Documents with no tokens are absent (nothing to score — matches
    * [[TextOps.frequencyScore]]). The weights frame may be the trained
    * one or re-read from parquet (the oracle-materialization path).
    */
  def scoreTokenClassifier(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: TokenClassifier): DataFrame =
    scoreTokenWeights(df, idCol, textCol,
      model.weights, model.oovWeight, model.prior)

  /** [[scoreTokenClassifier]] against an explicit weights table —
    * `(token, weight)` — plus the OOV and prior constants; the form both
    * the persisted-model path and the oracle query use.
    */
  def scoreTokenWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      oovWeight: Long,
      prior: Long): DataFrame = {
    // per-row (token, count) pairs — duplicate tokens combine in codegen
    // before the weight join moves one row per distinct (doc, token);
    // identical integer sums (the scoreMulticlassTok discipline)
    val toks = tokenCountPairs(df, idCol, textCol, TextOps.wsTokens)
    toks.join(weights, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        sum("__tc").as("n_toks"),
        sum(when(col("weight").isNull, col("__tc")).otherwise(0L)).as("n_oov"),
        (sum(coalesce(col("weight"), lit(oovWeight)) * col("__tc")) +
          lit(prior)).as("score"))
  }

  /** Per-row `(idCol, token, __tc)` occurrence-count pairs — the shared
    * explode form of every scorer: the native `element_counts` kernel
    * combines duplicate tokens INSIDE the row, so one row per distinct
    * (doc, token) enters the plan with no aggregate stage. Empty or null
    * token arrays explode to nothing (the doc is absent, as before).
    */
  private def tokenCountPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokensOf: Column => Column): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.native.elementCounts(tokensOf(col(textCol))))
        .as(Seq("token", "__tc")))

  /** Collect a quantized `(token, weight)` table to a driver map for
    * literal-map scoring ([[scoreColumn]]). Guarded: the map embeds
    * every entry in the PLAN (it ships inside the task binary, not as a
    * broadcast), so the cap fails loudly before a corpus-scale
    * vocabulary bloats every task — raise it deliberately for a known
    * medium vocabulary, or score by join ([[scoreTokenWeights]]) when
    * the vocabulary is corpus-sized.
    */
  def collectWeights(
      weights: DataFrame, maxVocab: Int = 250000): Map[String, Long] = {
    val rows = weights.limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"collectWeights: vocabulary exceeds maxVocab = $maxVocab — " +
      "literal-map scoring embeds every entry in the plan; raise the cap " +
      "deliberately or score by join (scoreTokenWeights)")
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Per-ROW classifier score as a pure Column — `prior + Σ weight` over
    * whitespace tokens with OOV tokens scoring `oovWeight`, the vocab
    * shipped as one map LITERAL (no join, no shuffle, no UDF, no state).
    * This is the STREAMING form of [[scoreTokenWeights]]: stateless, so
    * it drops into any `withColumn` over a stream and scores arrivals in
    * flight against the trained (or standing-index-derived) model.
    * Identical integers to the join path on every token-bearing
    * document; a token-LESS document scores the bare `prior` here
    * (there is a row to score) where the join path omits it, and null
    * text scores null.
    */
  def scoreColumn(
      text: org.apache.spark.sql.Column,
      weights: Map[String, Long],
      oovWeight: Long,
      prior: Long): org.apache.spark.sql.Column =
    aggregate(TextOps.wsTokens(text), lit(prior),
      (acc, t) => acc + coalesce(element_at(typedlit(weights), t), lit(oovWeight)))

  /** [[collectWeights]] for a long-format multiclass `(cls, token,
    * weight)` table: per-class driver maps for [[predictColumn]]. The
    * cap applies to TOTAL entries across classes (same plan-size budget).
    */
  def collectMulticlassWeights(
      weights: DataFrame,
      maxEntries: Int = 250000): Map[String, Map[String, Long]] = {
    val rows = weights.limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"collectMulticlassWeights: total entries exceed maxEntries = " +
      s"$maxEntries — literal-map prediction embeds every entry in the " +
      "plan; raise the cap deliberately or predict by join (predictClass)")
    rows.groupBy(_.getString(0)).view.mapValues(
      _.map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
  }

  /** Per-ROW multiclass argmax as a pure Column — [[predictClass]]'s
    * decision in the literal-map form (no join, no window, no state):
    * each class scores `prior + Σ weight` with class-absent/OOV tokens
    * at its `absent` weight ([[scoreColumn]] per class), and the winner
    * is the (score DESC, cls ASC) head of an in-row sort over the K
    * class structs. Returns a `struct(score, cls)` column (null for null
    * text); a token-less document scores each class's bare prior, so the
    * argmax is the max-prior class. This is the STREAMING form of
    * language-ID / domain routing: stateless, so arrivals classify in
    * flight. `classes` is `(cls, weights, absentWeight, prior)` —
    * [[collectMulticlassWeights]] plus the collected K-row classMeta.
    */
  def predictColumn(
      text: org.apache.spark.sql.Column,
      classes: Seq[(String, Map[String, Long], Long, Long)])
      : org.apache.spark.sql.Column = {
    require(classes.nonEmpty, "predictColumn: no classes")
    val scored = classes.map { case (cls, w, absent, prior) =>
      struct(scoreColumn(text, w, absent, prior).as("score"),
        lit(cls).as("cls"))
    }
    val best = element_at(
      array_sort(array(scored: _*), (l, r) =>
        when(l.getField("score") > r.getField("score"), -1)
          .when(l.getField("score") < r.getField("score"), 1)
          .when(l.getField("cls") < r.getField("cls"), -1)
          .when(l.getField("cls") > r.getField("cls"), 1)
          .otherwise(0)),
      1)
    when(text.isNotNull, best)
  }

  /** A trained MULTICLASS multinomial NB over whitespace tokens — the
    * corpus-fitted form of language-ID / domain-ID (the classification
    * task fastText-style supervised models run in curation pipelines;
    * same public NB formulation as the binary [[TokenClassifier]],
    * per-class). `weights` is long-format `(cls, token, weight)` with
    * `weight = round(microNats * ln((c(cls,token)+1)/(n(cls)+V)))`;
    * `classMeta` is `(cls, absent_weight, prior)` where `absent_weight`
    * is the same formula at `c = 0` (one value per class covers both a
    * vocab token unseen in THIS class and a fully-OOV token — add-one
    * smoothing makes them identical) and `prior = round(microNats *
    * ln((d(cls)+1)/(dAll+K)))`. A document's score under class `c` is
    * `prior(c) + Σ_present weight + (n_toks − n_present(c)) ·
    * absent_weight(c)` — pure integer arithmetic once the tables are
    * quantized, so scoring and argmax prediction stay hash-oracle-able
    * in any engine reading the same tables.
    */
  final case class MulticlassClassifier(
      weights: DataFrame,
      classMeta: DataFrame,
      microNats: Long)

  /** Train the multiclass NB. Null-class rows are excluded (an unlabeled
    * doc trains nothing). One explode + one (cls, token)-keyed aggregate
    * is the only pass over text; the per-class totals and priors derive
    * from that histogram plus one tiny class-keyed doc count —
    * `classMeta` stays a K-row frame, never collected beyond one
    * two-long aggregate row.
    */
  def trainMulticlassClassifier(
      labeled: DataFrame,
      textCol: String,
      classCol: String,
      microNats: Long = 1000000L): MulticlassClassifier =
    trainMulticlassTok(labeled, textCol, classCol, microNats,
      TextOps.wsTokens)

  /** [[trainMulticlassClassifier]] over character `n`-grams instead of
    * whitespace tokens — the fastText subword trick (Joulin et al. 2016,
    * public) that makes language-ID robust to WHITESPACE-FREE scripts:
    * a CJK/Thai sentence tokenizes to one giant "word" the token model
    * can only treat as OOV, while its character windows are the script's
    * signature. N-grams come from the native [[Dedup.charNgrams]] kernel
    * (code-point windows, spaces included — word-boundary context is
    * signal); same integer quantization, so scoring stays hash-exact.
    * The token path remains the default for space-delimited corpora
    * (fewer, more discriminative features).
    */
  def trainMulticlassClassifierChars(
      labeled: DataFrame,
      textCol: String,
      classCol: String,
      n: Int = 3,
      microNats: Long = 1000000L): MulticlassClassifier =
    trainMulticlassTok(labeled, textCol, classCol, microNats,
      Dedup.charNgrams(_, n))

  private def trainMulticlassTok(
      labeled: DataFrame,
      textCol: String,
      classCol: String,
      microNats: Long,
      tokensOf: Column => Column): MulticlassClassifier = {
    val lab = labeled.where(col(classCol).isNotNull)
      .withColumn("__cls", col(classCol).cast("string"))
    val counts = Materialize.eager(
      lab.select(col("__cls").as("cls"),
        // per-row counts (element_counts kernel) — the (cls, token)
        // shuffle sees one row per distinct (doc, token)
        explode(graft.functions.native.elementCounts(
          tokensOf(col(textCol)))).as(Seq("token", "__tc")))
        .groupBy("cls", "token").agg(sum("__tc").as("__c")))
    val v = counts.select("token").distinct().count()
    require(v > 0, "trainMulticlassClassifier: corpus has no tokens")
    val docTotals = lab.groupBy(col("__cls").as("cls"))
      .agg(count(lit(1)).as("__d"))
    val t = docTotals.agg(sum("__d"), count(lit(1))).head()
    val dAll = t.getLong(0)
    val k = t.getLong(1)
    val clsTotals = counts.groupBy("cls").agg(sum("__c").as("__n"))
    val weights = counts.join(clsTotals, Seq("cls")).select(
      col("cls"), col("token"),
      round(log((col("__c") + lit(1)).cast("double") /
        (col("__n") + lit(v)).cast("double")) * lit(microNats.toDouble))
        .cast("long").as("weight"))
    val classMeta = docTotals.join(clsTotals, Seq("cls"), "left").select(
      col("cls"),
      round(log(lit(1.0) /
        (coalesce(col("__n"), lit(0L)) + lit(v)).cast("double")) *
        lit(microNats.toDouble)).cast("long").as("absent_weight"),
      round(log((col("__d") + lit(1)).cast("double") /
        lit((dAll + k).toDouble)) * lit(microNats.toDouble))
        .cast("long").as("prior"))
    MulticlassClassifier(weights, classMeta, microNats)
  }

  /** Per-document per-class scores: `(idCol, cls, n_toks, n_hit, score)`
    * — one row per document × class, every class present for every
    * token-bearing document (empty docs absent, as in the binary
    * scorer). The class expansion is a broadcast of the K-row
    * `classMeta`; the corpus-shaped work is one token-keyed join of the
    * exploded tokens against the long-format weight table.
    */
  def scoreMulticlass(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: MulticlassClassifier): DataFrame =
    scoreMulticlassTables(df, idCol, textCol, model.weights, model.classMeta)

  /** [[scoreMulticlass]] against explicit model tables — the
    * oracle-materialization form.
    */
  def scoreMulticlassTables(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      classMeta: DataFrame): DataFrame =
    scoreMulticlassTok(df, idCol, textCol, weights, classMeta,
      TextOps.wsTokens)

  /** [[scoreMulticlassTables]] over character `n`-grams — the scoring
    * side of [[trainMulticlassClassifierChars]] (use the same `n`).
    */
  def scoreMulticlassCharsTables(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      weights: DataFrame,
      classMeta: DataFrame): DataFrame =
    scoreMulticlassTok(df, idCol, textCol, weights, classMeta,
      Dedup.charNgrams(_, n))

  private def scoreMulticlassTok(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      classMeta: DataFrame,
      tokensOf: Column => Column): DataFrame = {
    // per-ROW (token, count) pairs via the native element_counts kernel:
    // duplicate tokens combine inside the row in codegen, so the weight
    // join and every aggregate move one row per DISTINCT (doc, token)
    // instead of one per occurrence — on char-n-gram streams (≈30 grams
    // per word, heavily repeated) that is the whole scoring cost — and,
    // unlike a shuffle-stage pre-aggregate, with NO added exchange
    // (measured: the groupBy form cost +15% at sf0.1).
    // Σ_occurrences weight ≡ Σ_distinct count·weight, bit-exact.
    val toks = tokenCountPairs(df, idCol, textCol, tokensOf)
    val nTok = toks.groupBy(col(idCol)).agg(sum("__tc").as("n_toks"))
    val present = toks.join(weights, Seq("token"))
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("weight") * col("__tc")).as("__wp"),
        sum("__tc").as("__np"))
    nTok.join(broadcast(classMeta))
      .join(present, Seq(idCol, "cls"), "left")
      .select(
        col(idCol), col("cls"), col("n_toks"),
        coalesce(col("__np"), lit(0L)).as("n_hit"),
        (col("prior") + coalesce(col("__wp"), lit(0L)) +
          (col("n_toks") - coalesce(col("__np"), lit(0L))) *
            col("absent_weight")).as("score"))
  }

  /** Argmax prediction: `(idCol, cls, score)` — each document's
    * highest-scoring class, ties broken by class name ascending (a
    * deterministic, engine-portable order). The ranking window
    * partitions by document — no global ordering anywhere.
    */
  def predictClass(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: MulticlassClassifier): DataFrame =
    predictClassTables(df, idCol, textCol, model.weights, model.classMeta)

  /** [[predictClass]] against explicit model tables — the
    * oracle-materialization form.
    */
  def predictClassTables(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      classMeta: DataFrame): DataFrame =
    argmaxClass(idCol,
      scoreMulticlassTables(df, idCol, textCol, weights, classMeta))

  /** [[predictClassTables]] over character `n`-grams — argmax prediction
    * for the char-n-gram classifier (same `n` as training).
    */
  def predictClassCharsTables(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      weights: DataFrame,
      classMeta: DataFrame): DataFrame =
    argmaxClass(idCol,
      scoreMulticlassCharsTables(df, idCol, textCol, n, weights, classMeta))

  private def argmaxClass(idCol: String, scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("cls").asc)))
      .where(col("__rn") === 1)
      .select(col(idCol), col("cls"), col("score"))
  }

  /** An add-one-smoothed bigram language model in integer micro-nats.
    * `bigrams` is `(w1, w2, lp)` with
    * `lp = round(microNats * ln((c(w1,w2)+1)/(c1(w1)+V)))` where `c1(w1)`
    * is the number of training bigrams starting with `w1` and `V` the
    * corpus vocabulary size; `fallback` is `(w1, lp)` at `c = 0` (seen
    * context, unseen continuation); `floorLp = round(microNats * ln(1/V))`
    * covers an unseen context (add-one at `c = c1 = 0`). Higher
    * (less-negative) scores mean more corpus-like text — the perplexity
    * filter's ranking signal with the exp left to the caller.
    */
  final case class BigramLm(
      bigrams: DataFrame,
      fallback: DataFrame,
      floorLp: Long,
      microNats: Long)

  /** Adjacent-token pairs of `textCol` as an exploded `(w1, w2)` frame —
    * pure Column expressions (slice + indexed transform), no UDF.
    */
  private def bigramPairs(df: DataFrame, idCols: Seq[String], textCol: String) = {
    val withT = df.select(
      idCols.map(col) :+ TextOps.wsTokens(col(textCol)).as("__t"): _*)
    withT
      .where(size(col("__t")) >= 2)
      .select(
        idCols.map(col) :+ explode(expr(
          "transform(slice(__t, 1, size(__t) - 1), " +
            "(x, i) -> struct(x AS w1, element_at(__t, i + 2) AS w2))"))
          .as("__p"): _*)
      .select(idCols.map(col) :+ col("__p.w1") :+ col("__p.w2"): _*)
  }

  /** Train the bigram LM in ONE pass over text: tokens explode as
    * NULL-PADDED adjacent pairs — `(t[i], t[i+1] or null for the last
    * token)` — so a single `(w1, w2)`-keyed aggregate yields both the
    * bigram counts (rows with `w2` non-null) and, because every token
    * occurrence appears as a `w1`, the vocabulary `V` as a distinct
    * count over that small table (bigram-vocabulary-sized, never
    * corpus-sized). The context counts are a `w1` rollup of the same
    * table. All integer counts; the only floating log is the quantized
    * `lp` column computed here once.
    */
  def trainBigramLm(
      df: DataFrame,
      textCol: String,
      microNats: Long = 1000000L): BigramLm = {
    val padded = df
      .select(TextOps.wsTokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= 1)
      .select(explode(expr(
        // the if-guard keeps the last token's lookup in bounds (ANSI
        // element_at throws past the end); its pair pads with null
        "transform(__t, (x, i) -> struct(x AS w1, " +
          "if(i + 2 <= size(__t), element_at(__t, i + 2), null) AS w2))"))
        .as("__p"))
      .select(col("__p.w1"), col("__p.w2"))
    // bigram-vocab-sized and consumed by V, the ctx rollup, AND both
    // sides of the bigrams join — without materialization the corpus
    // explode-aggregate runs once per consumer (the multi-consumer
    // recompute gotcha)
    val counts = Materialize.eager(
      padded.groupBy("w1", "w2").agg(count(lit(1)).as("__c")))
    val v = counts.select("w1").distinct().count()
    require(v > 0, "trainBigramLm: corpus has no tokens")
    val big = counts.where(col("w2").isNotNull)
    val ctx = big.groupBy("w1").agg(sum("__c").as("__c1"))
    val bigrams = big.join(ctx, Seq("w1")).select(
      col("w1"), col("w2"),
      round(log((col("__c") + lit(1)).cast("double") /
        (col("__c1") + lit(v)).cast("double")) * lit(microNats.toDouble))
        .cast("long").as("lp"))
    val fallback = ctx.select(
      col("w1"),
      round(log(lit(1.0) / (col("__c1") + lit(v)).cast("double")) *
        lit(microNats.toDouble)).cast("long").as("lp"))
    val floor = roundHalfUp(math.log(1.0 / v) * microNats)
    BigramLm(bigrams, fallback, floor, microNats)
  }

  /** Score documents under a bigram LM: `(idCol, n_bigrams, lp_sum)` —
    * the summed quantized log-probability of each document's adjacent
    * token pairs (unseen continuations take the context's fallback,
    * unseen contexts the floor). Documents with fewer than two tokens
    * are absent. Integer sum — order-independent, oracle-exact against
    * the same model tables.
    */
  def scoreBigramLm(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lm: BigramLm): DataFrame =
    scoreBigramTables(df, idCol, textCol, lm.bigrams, lm.fallback, lm.floorLp)

  /** [[scoreBigramLm]] against explicit model tables (`(w1, w2, lp)` and
    * `(w1, lp)`) — the persisted-model / oracle-materialization form.
    */
  def scoreBigramTables(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bigrams: DataFrame,
      fallback: DataFrame,
      floorLp: Long): DataFrame = {
    val pairs = bigramPairs(df, Seq(idCol), textCol)
    pairs
      .join(bigrams.withColumnRenamed("lp", "__blp"), Seq("w1", "w2"), "left")
      .join(fallback.withColumnRenamed("lp", "__flp"), Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("__blp"), col("__flp"), lit(floorLp))).as("lp_sum"))
  }

  // ---- persisted classifier index ([[EpochStore]] delta-epoch layout) ----
  //
  // A production quality classifier is trained on labeled data that
  // ARRIVES: a curation team labels a batch a day, and retraining from
  // scratch re-aggregates every labeled document ever seen. Because
  // multinomial NB is a pure function of integer counters — the per-class
  // token histogram `(token, cp, cn)` and the per-class document counts
  // `(dp, dn)` — the model state is exactly a counter index: each epoch's
  // `cls`/`docs` dirs hold the BATCH's own partial counts, live totals
  // are their exact integer SUM, and the derived weights are therefore
  // IDENTICAL to a from-scratch retrain on the union corpus (pinned in
  // LangModelSpec). Append = one explode-aggregate over the new batch
  // alone. Counter folds are not idempotent, so the committed `ids`
  // table + per-epoch id bloom give the same replay guard as the
  // token-frequency lifecycle: a full replay NO-OPs, a partial overlap
  // fails loudly instead of double-counting.

  /** On-disk format version of the classifier index (v2: the
    * [[EpochStore]] epoch header).
    */
  val ClassifierIndexFormatVersion: Int = 2

  private[graft] val ClassifierIndex = EpochStore.EpochIndex(
    EpochStore.IndexKind("classifier", ClassifierIndexFormatVersion, "writeClassifierIndex"),
    tables = Seq("cls", "docs", "ids"), idTable = Some("ids"))

  private[graft] def resolveClassifierIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): EpochStore.Epoch =
    ClassifierIndex.resolve(spark, path)

  /** One batch's per-class DOCUMENT counts, `(dp, dn)` — single row.
    * Coalesced to 0 so an empty batch writes zeros, not nulls (the
    * standing totals are a SUM over these rows — a null would read back
    * as an NPE in the probe instead of the clear no-tokens error).
    */
  private def labeledDocCounts(labeled: DataFrame, labelCol: String): DataFrame =
    labeled.agg(
      coalesce(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)),
        lit(0L)).as("dp"),
      coalesce(sum(when(!col(labelCol).cast("boolean"), 1L).otherwise(0L)),
        lit(0L)).as("dn"))

  private def clsCountsAt(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): DataFrame =
    EpochStore.readTable(spark, ep, "cls")
      .groupBy(col("token"))
      .agg(sum(col("cp")).as("cp"), sum(col("cn")).as("cn"))

  private def clsDocsAt(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): (Long, Long) = {
    val r = EpochStore.readTable(spark, ep, "docs")
      .agg(sum("dp"), sum("dn")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Persist the classifier index from scratch: ONE explode-aggregate
    * over the labeled corpus (at 100 TB the only pass over text) plus
    * the single-row doc counts, the narrow distinct-id table and its
    * bloom. Non-destructive over an existing index (epoch N+1 + atomic
    * pointer commit), same single-writer lease contract as every index
    * lifecycle.
    */
  def writeClassifierIndex(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      path: String,
      retainEpochs: Int = 2): Unit = {
    EpochStore.requireCounterIdsNotNull(labeled, idCol, "writeClassifierIndex")
    ClassifierIndex.build(labeled.sparkSession, path, retainEpochs) { out =>
      EpochStore.Arms(
        () => out.write("cls", labeledTokenCounts(labeled, textCol, labelCol)),
        () => out.write("docs", labeledDocCounts(labeled, labelCol).coalesce(1)),
        () => out.write("ids", EpochStore.counterBatchIds(labeled, idCol)))
    }
  }

  /** Fold a batch of NEWLY LABELED documents into the standing counters:
    * writes only the batch's own histogram and doc counts as fresh
    * `cls`/`docs` deltas (standing data carried forward BY REFERENCE),
    * so the derived model ≡ a from-scratch retrain on the union corpus,
    * weight for weight, in exact integers. Replay guard: a batch whose
    * ids are ALL already committed is a NO-OP (at-least-once schedulers
    * replay safely); a PARTIAL id overlap fails loudly, since folding it
    * would double-count the overlap — split the batch instead.
    */
  def appendClassifierIndex(
      newLabeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      path: String,
      retainEpochs: Int = 2): Unit =
    ClassifierIndex.appendCounted(newLabeled, idCol, path, retainEpochs,
      "appendClassifierIndex") { (out, batchIds) =>
      EpochStore.Arms(
        () => out.write("cls", labeledTokenCounts(newLabeled, textCol, labelCol)),
        () => out.write("docs", labeledDocCounts(newLabeled, labelCol).coalesce(1)),
        () => out.write("ids", batchIds))
    }

  /** Merge the accumulated counter deltas into ONE pre-summed dir per
    * table, with a right-sized fresh bloom — the same maintenance op as
    * the other lifecycles' compact. Totals (and therefore the derived
    * model) are unchanged.
    */
  def compactClassifierIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      retainEpochs: Int = 2): Unit =
    ClassifierIndex.compact(spark, path, retainEpochs) { (cur, out) =>
      EpochStore.Arms(
        () => out.write("cls", clsCountsAt(spark, cur)),
        () => out.write("docs", EpochStore.readTable(spark, cur, "docs")
          .agg(sum("dp").as("dp"), sum("dn").as("dn")).coalesce(1)),
        // append-guard disjointness makes the union already distinct
        () => out.write("ids", EpochStore.readTable(spark, cur, "ids")))
    }

  /** The live epoch's standing per-class token counters, `(token, cp,
    * cn)` — the exact-integer histogram of every committed labeled
    * document: one token-keyed SUM over the delta dirs (vocabulary-sized;
    * [[compactClassifierIndex]] pre-sums it back to one dir).
    */
  def indexClassifierCounts(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    clsCountsAt(spark, resolveClassifierIndex(spark, path))

  /** Derive the live model from the standing counters — identical, by
    * exact-integer construction, to [[trainTokenClassifier]] on the
    * union of every committed batch (LangModelSpec pins this). The one
    * quantization (`ln` → integer micro-nats) happens HERE, once per
    * probe session; persist `weights` if downstream engines must score
    * bit-identically.
    */
  def indexClassifier(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      microNats: Long = 1000000L): TokenClassifier = {
    val ep = resolveClassifierIndex(spark, path)
    val (dp, dn) = clsDocsAt(spark, ep)
    classifierFrom(clsCountsAt(spark, ep), dp, dn, microNats)
  }

  /** Score DAILY ARRIVALS under the standing model: derive the weights
    * from the committed counters and [[scoreTokenClassifier]] the batch
    * — zero labeled-corpus recompute; the batch's own token shuffle is
    * the only corpus-shaped work.
    */
  def scoreAgainstClassifierIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      microNats: Long = 1000000L): DataFrame =
    scoreTokenClassifier(docs, idCol, textCol,
      indexClassifier(docs.sparkSession, path, microNats))

  /** Bound on [[thresholdSweep]]'s candidate ladder: each threshold adds
    * four conditional sums to the single aggregate pass, all riding the
    * plan — a thousand candidates is already far past calibration grade.
    */
  val MaxSweepThresholds: Int = 1024

  /** CALIBRATION sweep for a learned screen — the step that turns a
    * scored corpus into a deployable filter: a classifier ships AT a
    * threshold (the fastText-style quality screens keep `score ≥ t`),
    * and this reports exactly what each candidate `t` costs. For every
    * threshold: predicted-positive iff `scoreCol ≥ t` (null scores
    * predict negative), confusion counts against the boolean `labelCol`
    * (null labels are not evaluable and are excluded), and the exact
    * parts-per-million rationals `precision = tp·10⁶ div (tp+fp)`,
    * `recall = tp·10⁶ div (tp+fn)`, `f1 = 2·tp·10⁶ div (2·tp+fp+fn)` —
    * null where the denominator is 0 (no predicted / no actual
    * positives). All integers, so the whole report hashes cross-engine;
    * the binding ppm numerator is f1's `2·tp·10⁶`, inside Long up to
    * ~4.6·10¹² labeled rows (precision/recall's `tp·10⁶` would allow
    * 2× more, but the envelope is the smallest headroom).
    *
    * Plan shape for 100 TB: ONE aggregate pass with 4·K conditional
    * map-side-combining sums (K capped loudly) — the corpus is scanned
    * once no matter how many candidate thresholds ride the sweep, and
    * the K-row report assembles on the driver.
    */
  def thresholdSweep(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      thresholds: Seq[Long]): DataFrame =
    sweepCore(scored, scoreCol, labelCol, lit(1L), thresholds)

  /** [[thresholdSweep]] in TOKEN space — the unit screen ablations are
    * actually reported in ("this threshold keeps N billion tokens at
    * such precision"): every confusion cell sums the row's token weight
    * instead of 1, so tp is true-positive TOKENS and the ppm rationals
    * are token-weighted precision/recall/F1. Null token counts weigh 0;
    * NEGATIVE counts are a caller contract violation (like every token
    * budget in [[graft.ops.Sampling]]) — they would silently invert the
    * ppm rationals. Same single-pass plan, same exactness (f1's
    * `2·tp·10⁶` numerator binds: inside Long to ~4.6·10¹² labeled
    * tokens).
    */
  def thresholdSweepTokens(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      tokensCol: String,
      thresholds: Seq[Long]): DataFrame =
    sweepCore(scored, scoreCol, labelCol,
      coalesce(col(tokensCol).cast("long"), lit(0L)), thresholds)

  /** The shared one-pass confusion sweep behind the row and token forms
    * — one definition of the prediction rule, the null exclusions, and
    * the ppm floors, so the two budget units cannot drift.
    */
  private def sweepCore(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      weight: Column,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep needs at least one threshold")
    require(thresholds.length <= MaxSweepThresholds,
      s"thresholdSweep: ${thresholds.length} thresholds exceed " +
        s"$MaxSweepThresholds — not a calibration-grade ladder")
    require(thresholds.distinct.length == thresholds.length,
      "thresholdSweep: duplicate thresholds")
    val base = scored.where(col(labelCol).isNotNull).select(
      col(scoreCol).cast("long").as("__s"),
      col(labelCol).cast("boolean").as("__l"),
      weight.as("__w"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      val pred = col("__s").isNotNull && col("__s") >= t
      Seq(
        sum(when(pred && col("__l"), col("__w")).otherwise(0L)).as(s"__tp$i"),
        sum(when(pred && !col("__l"), col("__w")).otherwise(0L)).as(s"__fp$i"),
        sum(when(!pred && col("__l"), col("__w")).otherwise(0L)).as(s"__fn$i"),
        sum(when(!pred && !col("__l"), col("__w")).otherwise(0L)).as(s"__tn$i"))
    }
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    // a zero-labeled-row corpus sums to SQL null — every count is 0
    def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    def ppm(num: Long, den: Long): Option[Long] =
      if (den == 0L) None else Some(num * 1000000L / den)
    val out = thresholds.zipWithIndex.map { case (t, i) =>
      val (tp, fp, fn, tn) = (g(4 * i), g(4 * i + 1), g(4 * i + 2), g(4 * i + 3))
      (t, tp, fp, fn, tn,
        ppm(tp, tp + fp), ppm(tp, tp + fn), ppm(2 * tp, 2 * tp + fp + fn))
    }
    val spark = scored.sparkSession
    import spark.implicits._
    out.toDF("threshold", "tp", "fp", "fn", "tn",
      "precision_ppm", "recall_ppm", "f1_ppm")
  }

  /** Deployment rule over a [[thresholdSweep]] report: the SMALLEST
    * threshold whose measured precision reaches `minPrecisionPpm` —
    * i.e. maximize recall subject to the precision floor (score ≥ t is
    * monotone, so among qualifying thresholds the smallest keeps the
    * most). Loud when no candidate qualifies — deploying an
    * uncalibratable screen is a decision for the caller, not a silent
    * fallback. K-row driver-side pick.
    */
  def pickThreshold(sweep: DataFrame, minPrecisionPpm: Long): Long = {
    val rows = sweep.select(col("threshold"), col("precision_ppm")).collect()
    val ok = rows.filter(r => !r.isNullAt(1) && r.getLong(1) >= minPrecisionPpm)
      .map(_.getLong(0))
    require(ok.nonEmpty,
      s"pickThreshold: no candidate threshold reaches $minPrecisionPpm ppm " +
        "precision — widen the ladder or lower the floor")
    ok.min
  }
}
