package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * All pure `Column` expressions (whole-stage-codegen'd, no UDFs) so they
  * fuse into the scan and survive a 100× scale-up: one pass over the text
  * column, no shuffle, no driver involvement. Each has an exact SQL
  * equivalent for the DuckDB oracle (see SparkEntry).
  */
object TextOps {

  /** Whitespace tokens. Empty tokens are filtered rather than trimmed
    * away: Spark's `trim` strips only ASCII spaces, so a tab/newline-
    * bounded document would otherwise yield phantom "" tokens at the
    * edges — miscounting tokens and polluting shingle sets on any real
    * (newline-terminated) corpus.
    */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")
  // Cross-engine caveat: Java's \s includes vertical tab (\x0B), RE2's
  // does not — a corpus carrying raw \x0B would tokenize differently in
  // the DuckDB oracles. [[normalizeText]]'s control-char strip removes
  // \x0B, so normalized corpora are safe; the driver testdata carries
  // none.

  /** Raw whitespace split, NO empty-token filter — for the native kernel
    * call sites only: the kernels' `compact` drops null and "" elements
    * themselves, so results are identical to [[wsTokens]] input while the
    * hot path stays free of the interpreted per-token filter lambda.
    */
  def rawTokens(text: Column): Column = split(text, "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish token count: alpha runs, digit runs, and single non-alnum
    * punctuation each count as one token (a cheap proxy for byte-pair
    * tokenizer length used to budget context windows). This codegen'd
    * regex proxy is the DEFAULT; [[bpeTokenCountFromMerges]] is the
    * exact-backend upgrade when budgets must match a real tokenizer.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** REAL byte-level BPE token count from a user-supplied GPT-2-format
    * merges file (GPT-2's own is public) — see [[graft.functions.BpeModel]].
    * Returns a Column factory: the model parses once on the driver and
    * ships to executors as ONE broadcast, not per-task closure copies
    * (~0.5 MB for a 50k-merge table). This is the only deliberate UDF in
    * the library: the merge loop is inherently iterative-per-word, the
    * per-executor memo cache makes it cheap on repetitive corpora, and
    * the codegen'd [[bpeTokenCount]] proxy remains the default hot path.
    */
  def bpeTokenCountFromMerges(
      spark: org.apache.spark.sql.SparkSession,
      mergesPath: String): Column => Column =
    bpeTokenCountFromModel(spark,
      graft.functions.BpeModel.fromMergesFile(mergesPath))

  /** [[bpeTokenCountFromMerges]] for an IN-MEMORY model — the composition
    * point after [[trainBpe]]: fit the tokenizer on the cleaned corpus and
    * budget/pack with it in the same job, no merges-file round trip.
    * Same broadcast-once discipline.
    */
  def bpeTokenCountFromModel(
      spark: org.apache.spark.sql.SparkSession,
      model: graft.functions.BpeModel): Column => Column = {
    val bc = spark.sparkContext.broadcast(model)
    val f = udf((s: String) =>
      if (s == null) null else Integer.valueOf(bc.value.countTokens(s)))
    (text: Column) => f(text)
  }

  /** Full byte-level BPE ENCODE to token-id arrays (`array<int>`) — the
    * materialization step after counting/packing, producing the rows a
    * training loader reads directly. Ids live in the merge table's derived
    * vocabulary ([[graft.functions.BpeModel.encodeIds]]: bytes 0–255 then
    * merge outputs in rank order — the canonical from-scratch id space,
    * deterministic across engines). Same broadcast-once/LRU-memo UDF
    * discipline as [[bpeTokenCountFromMerges]]; null text encodes to null.
    */
  def bpeEncodeFromMerges(
      spark: org.apache.spark.sql.SparkSession,
      mergesPath: String): Column => Column =
    bpeEncodeFromModel(spark,
      graft.functions.BpeModel.fromMergesFile(mergesPath))

  /** [[bpeEncodeFromMerges]] for an IN-MEMORY model (see
    * [[bpeTokenCountFromModel]]) — train → encode in one job.
    */
  def bpeEncodeFromModel(
      spark: org.apache.spark.sql.SparkSession,
      model: graft.functions.BpeModel): Column => Column = {
    val bc = spark.sparkContext.broadcast(model)
    val f = udf((s: String) => if (s == null) null else bc.value.encodeIds(s))
    (text: Column) => f(text)
  }

  /** Corpus pre-token (word) histogram under the byte-level BPE
    * pre-tokenizer — the ENTIRE corpus-sized half of tokenizer training.
    * Splits with EXACTLY the model's own pre-tokenizer regex
    * ([[graft.functions.BpeModel.PreTokenPattern]], a codegen'd
    * `regexp_extract_all` — Spark compiles it with the same Java regex
    * engine the driver-side model uses), so the histogram the trainer
    * sees agrees with the word boundaries `countTokens` will use. One
    * generator + one partially-aggregated shuffle keyed on the word: the
    * map-side combine collapses each split's repeats before anything
    * moves, so shuffle volume is per-split VOCABULARY, not corpus token
    * count — at 100 TB this is the only pass over the text.
    */
  def preTokenHistogram(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame =
    df.select(explode(regexp_extract_all(
        col(textCol), lit(graft.functions.BpeModel.PreTokenPattern), lit(0))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

  /** FIT a byte-level BPE tokenizer on the corpus (Sennrich et al. 2016;
    * GPT-2's byte-level variant): ONE distributed aggregate to the word
    * histogram ([[preTokenHistogram]]), then the driver-side greedy merge
    * loop ([[graft.functions.BpeModel.train]]) over that vocabulary-sized
    * table — merges never touch the corpus, which is what makes tokenizer
    * training scale-free: 100 TB of text reduces to a few million
    * histogram rows before any sequential work starts.
    *
    * The driver collect is BOUNDED: the histogram is truncated to the
    * `maxWords` most frequent words (count desc, then word asc — a
    * deterministic total order, so the trained tokenizer is reproducible
    * across runs and cluster layouts) after dropping words rarer than
    * `minCount`. Truncation only starves merge statistics of the long
    * tail of near-hapax words, which is standard trainer practice — both
    * knobs are explicit so the caller decides the memory/fidelity trade.
    *
    * `vocabSize` counts the 256-byte alphabet plus one entry per learned
    * merge (the canonical derived id space, [[graft.functions.BpeModel]]
    * `.vocabSize`); `vocabSize - 256` merges are learned.
    */
  def trainBpe(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      vocabSize: Int,
      minCount: Long = 1L,
      maxWords: Int = 1 << 20): graft.functions.BpeModel = {
    require(vocabSize >= 256, s"vocabSize must be >= 256 (byte alphabet), got $vocabSize")
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    val hist = preTokenHistogram(df, textCol)
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("word").asc)
      .limit(maxWords)
      .collect()
    val wordCounts = hist.iterator.map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.functions.BpeModel.fromRanks(
      graft.functions.BpeModel.train(wordCounts, vocabSize - 256))
  }

  /** Occurrences of any of `words` among the whitespace tokens. */
  def wordHits(text: Column, words: Seq[String]): Column =
    size(filter(wsTokens(text), w => w.isInCollection(words)))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0)))

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Quality metrics: char/token counts, punctuation count, stopword ratio,
    * mean token length. Ratios are double divisions of exact ints — bit-equal
    * across engines.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nTok = tokenCount(text)
    Seq(
      "n_chars" -> length(text).cast("bigint"),
      "n_tokens" -> nTok.cast("bigint"),
      "n_punct" -> punctCount(text).cast("bigint"),
      "stopword_ratio" ->
        wordHits(text, EnglishStopwords).cast("double") / nTok.cast("double"),
      "mean_token_len" ->
        // strip ALL whitespace (tabs/newlines too), matching the tokenizer
        length(regexp_replace(text, "\\s", "")).cast("double") / nTok.cast("double"))
  }

  /** The Gopher rule stopword list (Rae et al. 2021, A1.1: a document
    * must contain at least two of these to look like running English).
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher/MassiveWeb quality-rule bundle (Rae et al. 2021, Appendix
    * A1.1) as named per-document booleans — the published heuristic
    * filter suite most curation pipelines start from. Every ratio rule is
    * stated as a CROSS-MULTIPLIED integer comparison (`3·n ≤ Σlen ≤
    * 10·n`, never a float division), so the verdicts are bit-exact in any
    * engine and hash-oracle-able; all pure codegen'd Columns — zero
    * shuffle, one fused pass. Null text propagates null verdicts (a
    * missing document is a schema problem, not a quality verdict).
    *
    * Rules (word = whitespace token, line = newline-split segment):
    *   - `r_word_count`: 50 ≤ words ≤ 100 000
    *   - `r_mean_word_len`: mean word length in [3, 10]
    *   - `r_symbol_ratio`: (# '#' + '…' + '...') ≤ 0.1 · words
    *   - `r_bullet_lines`: ≤ 90% of lines start with a bullet (•, -, *)
    *   - `r_ellipsis_lines`: ≤ 30% of lines end with an ellipsis
    *   - `r_alpha_words`: ≥ 80% of words contain a letter
    *   - `r_stopwords`: ≥ 2 distinct [[GopherStopwords]] present
    */
  def gopherColumns(text: Column): Seq[(String, Column)] = {
    val words = wsTokens(text)
    val nW = size(words).cast("long")
    val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    // the three alternatives start with distinct characters, so the
    // alternation order cannot change what matches; each '#', ellipsis
    // char, or three-dot run counts once
    val nSym = (size(regexp_extract_all(text, lit("#|…|\\.\\.\\."), lit(0))))
      .cast("long")
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val nL = size(lines).cast("long")
    val nBullet = size(filter(lines,
      l => trim(l).rlike("^[•\\-\\*]"))).cast("long")
    // \z, not $: Java's $ matches BEFORE a final line terminator (a CRLF
    // corpus would keep '...\r' lines the RE2 oracle drops); \z is
    // end-of-text in both engines
    val nEllipsis = size(filter(lines,
      l => trim(l).rlike("(…|\\.\\.\\.)\\z"))).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(filter(typedlit(GopherStopwords),
      s => array_contains(words, s))).cast("long")
    Seq(
      "r_word_count" -> (nW >= 50L && nW <= 100000L),
      "r_mean_word_len" -> (nW > 0L && sumLen >= nW * 3L && sumLen <= nW * 10L),
      "r_symbol_ratio" -> (nSym * 10L <= nW),
      "r_bullet_lines" -> (nBullet * 10L <= nL * 9L),
      "r_ellipsis_lines" -> (nEllipsis * 10L <= nL * 3L),
      "r_alpha_words" -> (nAlpha * 5L >= nW * 4L),
      // the stopword filter runs over the LITERAL list, so a null doc
      // would yield 0 hits (false) instead of null — wrap explicitly
      "r_stopwords" -> when(text.isNull, lit(null).cast("boolean"))
        .otherwise(nStop >= 2L))
  }

  /** Conjunction of every [[gopherColumns]] rule — the document survives
    * the full Gopher heuristic screen. Null text yields null.
    */
  def gopherPass(text: Column): Column =
    gopherColumns(text).map(_._2).reduce(_ && _)

  /** C4 page-level verdicts (Raffel et al. 2020 §2.2): pages containing
    * "lorem ipsum", a curly brace (code), or fewer than `minSentences`
    * kept lines are dropped wholesale by the C4 recipe. Pure codegen
    * booleans; null text propagates null.
    */
  def c4Columns(text: Column, minSentences: Int = 3): Seq[(String, Column)] = Seq(
    "has_lorem" -> lower(text).contains("lorem ipsum"),
    "has_brace" -> text.contains("{"),
    "enough_sentences" ->
      (size(c4KeptLines(text)) >= minSentences))

  /** The lines C4's line filter KEEPS: at least `minWords` whitespace
    * words AND trimmed text ending in terminal punctuation (. ! ? or a
    * closing double quote after one) — the famous "keep only sentences"
    * heuristic that strips nav menus, buttons, and list fragments.
    */
  def c4KeptLines(text: Column, minWords: Int = 5): Column =
    filter(split(text, "\n"), l =>
      size(filter(split(l, "\\s+"), t => t =!= "")) >= minWords &&
        // \z, not $ — Java's $ would match before a CRLF line's trailing
        // \r and diverge from the RE2 oracle (end-of-text only)
        trim(l).rlike("[.!?][\"”]?\\z"))

  /** C4 line-level cleaning: the document rebuilt from [[c4KeptLines]]
    * (newline-joined; a page with no kept lines becomes the empty
    * string, which the page filter's `enough_sentences` then drops).
    * Null text stays null.
    */
  def c4CleanLines(text: Column, minWords: Int = 5): Column =
    when(text.isNull, lit(null).cast("string"))
      .otherwise(concat_ws("\n", c4KeptLines(text, minWords)))

  /** C4 page-level PASS — the conjunction of [[c4Columns]]: no "lorem
    * ipsum", no brace, at least `minSentences` kept lines. Null text
    * yields null.
    */
  def c4PagePass(text: Column, minSentences: Int = 3): Column = {
    val v = c4Columns(text, minSentences).toMap
    !v("has_lorem") && !v("has_brace") && v("enough_sentences")
  }

  /** First FAILING stage of the standard screen chain, in pipeline order
    * — 'gopher' → 'c4' → 'blocklist', 'pass' when all three hold, null
    * on null text. The per-document diagnosis column curation dashboards
    * key on ("why did this doc drop?").
    */
  def curationFirstFail(
      text: Column, phrases: Seq[String], minSentences: Int = 3): Column =
    when(text.isNull, lit(null).cast("string"))
      .when(!gopherPass(text), "gopher")
      .when(!c4PagePass(text, minSentences), "c4")
      .when(blockedByPhrase(text, phrases), "blocklist")
      .otherwise("pass")

  /** [[curationFirstFail]] with the row-local repetition screen wired in
    * at its published position — 'gopher' → 'repetition' → 'c4' →
    * 'blocklist', 'pass' when all four hold, null on null text: the
    * per-document diagnosis form of [[curationFunnelFull]].
    */
  def curationFirstFailFull(
      text: Column, phrases: Seq[String], minSentences: Int = 3): Column =
    when(text.isNull, lit(null).cast("string"))
      .when(!gopherPass(text), "gopher")
      .when(!repetitionQuickPass(text), "repetition")
      .when(!c4PagePass(text, minSentences), "c4")
      .when(blockedByPhrase(text, phrases), "blocklist")
      .otherwise("pass")

  /** Per-stratum SEQUENTIAL screen funnel — the drop-accounting table
    * every curation paper publishes (C4's Table 1 shape: how much does
    * each successive filter remove): `n_docs`, `n_null`, then the
    * monotone survival counts `n_after_gopher` ≥ `n_after_c4` ≥
    * `n_after_all` (gopher → C4 page rules → phrase blocklist, each
    * conjoined with the stages before it). All exact integer counts from
    * ONE pass over the scan — the verdicts are pure codegen Columns, the
    * only shuffle is the K-strata aggregate. Null-text docs count in
    * `n_docs`/`n_null` and survive nothing.
    */
  def curationFunnel(
      df: org.apache.spark.sql.DataFrame,
      stratumCol: String,
      textCol: String,
      phrases: Seq[String],
      minSentences: Int = 3): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    funnelAgg(df, stratumCol, t, Seq(
      "n_after_gopher" -> gopherPass(t),
      "n_after_c4" -> c4PagePass(t, minSentences),
      "n_after_all" -> !blockedByPhrase(t, phrases)))
  }

  /** Shared funnel aggregate: each stage's survival count conjoins every
    * stage before it, all from ONE pass (the verdicts are pure codegen
    * Columns; the only shuffle is the K-strata aggregate).
    */
  private def funnelAgg(
      df: org.apache.spark.sql.DataFrame,
      stratumCol: String,
      t: Column,
      stages: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    def n(cond: Column) =
      sum(when(coalesce(cond, lit(false)), 1L).otherwise(0L))
    val cumulative = stages
      .scanLeft(lit(true): Column) { case (acc, (_, c)) => acc && c }.tail
    df.groupBy(col(stratumCol))
      .agg(
        count(lit(1)).as("n_docs"),
        (n(t.isNull).as("n_null") +:
          stages.zip(cumulative).map { case ((name, _), cc) =>
            n(cc).as(name)
          }): _*)
  }

  /** [[curationFunnel]] with the row-local repetition screen as a second
    * stage — gopher → repetition → C4 page rules → phrase blocklist, the
    * order the published pipelines apply them (Gopher's quality rules
    * and repetition rules gate before content screens). The repetition
    * stage is [[repetitionQuickPass]] (the four line/paragraph rules —
    * pure codegen like every other stage, so the funnel stays ONE scan
    * pass with only the K-strata aggregate shuffling). Adds
    * `n_after_repetition` between `n_after_gopher` and `n_after_c4`.
    */
  def curationFunnelFull(
      df: org.apache.spark.sql.DataFrame,
      stratumCol: String,
      textCol: String,
      phrases: Seq[String],
      minSentences: Int = 3): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    funnelAgg(df, stratumCol, t, Seq(
      "n_after_gopher" -> gopherPass(t),
      "n_after_repetition" -> repetitionQuickPass(t),
      "n_after_c4" -> c4PagePass(t, minSentences),
      "n_after_all" -> !blockedByPhrase(t, phrases)))
  }

  /** Per-language marker words for the rule-based language ID. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "de", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans"),
    "zh" -> Seq.empty) // scored by CJK characters instead

  /** Deterministic rule-based language ID: stopword hit counts per language
    * (CJK char count for zh), argmax with a fixed precedence order on ties.
    * A heuristic n-gram scorer, not a trained model — designed to be exactly
    * reproducible in SQL for the oracle.
    */
  def langId(text: Column): Column = {
    val scores: Seq[(String, Column)] = LangMarkers.map {
      case ("zh", _) =>
        "zh" -> size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
      case (lang, words) => lang -> wordHits(text, words)
    }
    // argmax with first-wins ties in LangMarkers order
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lang).otherwise(acc)
    }
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text.
    * Content-defined, order-independent, joinable at any scale.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** PII surface patterns. Deliberately restricted to syntax shared by
    * Java regex and RE2 (no backreferences, no lookaround) so the same
    * pattern string runs identically in Spark and in the DuckDB oracle.
    * Pattern-based detection is a SURFACE screen (it can't catch names or
    * free-text addresses) — it's the deterministic, scan-fused first pass a
    * pipeline runs on every document before any model-based PII stage.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Per-document PII hit counts — pure codegen'd regexp columns, zero
    * shuffle, one pass fused into the scan.
    */
  def piiColumns(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("bigint"),
    "n_phones" -> size(regexp_extract_all(text, lit(PhonePattern), lit(0))).cast("bigint"),
    "n_ipv4" -> size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))).cast("bigint"))

  /** Payment-card CANDIDATE surface: 13–19 digits with at most one space
    * or dash between neighbours (the common grouped renderings). Java ∩
    * RE2 like every pattern here. A candidate is only PII once its Luhn
    * checksum verifies — digit runs of card-like length are everywhere
    * (ids, timestamps), which is why the count and the verified count are
    * separate signals.
    */
  val CardCandidatePattern = "\\b\\d(?:[ -]?\\d){12,18}\\b"

  /** IBAN candidate surface: country code + 2 check digits + 11–30
    * alphanumerics (ISO 13616 length band), validated by the mod-97
    * checksum before it counts.
    */
  val IbanCandidatePattern = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b"

  /** Luhn checksum (ISO/IEC 7812-1) over a PURE DIGIT string as a codegen
    * Column: double every second digit from the right, subtract 9 past 9,
    * valid iff the sum is ≡ 0 (mod 10). Null or empty input is not valid
    * (never null — this is a screen verdict). Strip separators first
    * ([[CardCandidatePattern]] admits one space/dash between digits).
    */
  def luhnValid(digits: Column): Column =
    Dedup.bind(reverse(digits)) { rev =>
      when(coalesce(length(rev), lit(0)) === 0, lit(false)).otherwise(
        aggregate(
          transform(sequence(lit(1), length(rev)), i =>
            Dedup.bind(rev.substr(i, lit(1)).cast("int")) { d =>
              when(i % 2 === 0,
                when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
            }),
          lit(0), (acc, x) => acc + x) % 10 === 0)
    }

  /** IBAN mod-97 checksum (ISO 13616 / ISO 7064) as a codegen Column over
    * an uppercase candidate: move the first four chars to the end, expand
    * letters to their two-digit values (A = 10 … Z = 35), then fold the
    * digit string through `acc ← (acc·10 + d) mod 97`; valid iff the
    * residue is 1. The uniform digit-by-digit fold (rather than a
    * letter-aware two-step) is deliberate: it is the one shape every
    * engine's list fold can replay exactly. Null/empty → false.
    */
  def ibanValid(iban: Column): Column =
    Dedup.bind(concat(
      iban.substr(lit(5), length(iban) - 4), iban.substr(lit(1), lit(4)))) { re =>
      when(coalesce(length(re), lit(0)) === 0, lit(false)).otherwise(
        Dedup.bind(concat_ws("",
          transform(sequence(lit(1), length(re)), i =>
            Dedup.bind(re.substr(i, lit(1))) { ch =>
              Dedup.bind(ascii(ch)) { o =>
                when(o >= 48 && o <= 57, ch)
                  .otherwise((o - 55).cast("string"))
              }
            }))) { digs =>
          aggregate(sequence(lit(1), length(digs)), lit(0L),
            (acc, i) =>
              (acc * 10L + digs.substr(i, lit(1)).cast("long")) % 97L) === 1L
        })
    }

  /** Checksum-verified PII counts — the screen a card-number or IBAN leak
    * actually warrants, as opposed to raw digit-run counts: candidates by
    * surface pattern, then the EXACT Luhn / mod-97 verification as pure
    * array-HOF arithmetic fused into the scan. Zero shuffle, zero UDF;
    * null text null-propagates (regexp_extract_all of null is null in
    * Spark and DuckDB alike — coalesce at the caller if a 0 is wanted).
    */
  def checksumPiiColumns(text: Column): Seq[(String, Column)] = Seq(
    "n_card_candidates" ->
      size(regexp_extract_all(text, lit(CardCandidatePattern), lit(0)))
        .cast("bigint"),
    "n_cards_valid" ->
      size(filter(regexp_extract_all(text, lit(CardCandidatePattern), lit(0)),
        m => luhnValid(regexp_replace(m, "[ -]", "")))).cast("bigint"),
    "n_ibans_valid" ->
      size(filter(regexp_extract_all(text, lit(IbanCandidatePattern), lit(0)),
        m => ibanValid(m))).cast("bigint"))

  /** Replace every PII match with a typed placeholder. Order is load-
    * bearing: emails first (their local part may contain digit runs a later
    * pattern would bite into), then phones (3-3-4 digit groups), then IPv4
    * (which a phone-shaped string can no longer shadow).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        PhonePattern, "[PHONE]"),
      Ipv4Pattern, "[IP]")

  /** C4/Dolma-style boilerplate removal: drop every non-blank line that
    * occurs in at least `minDocs` distinct documents corpus-wide (cookie
    * banners, nav menus, subscribe footers — the lines whose very
    * frequency marks them as template, not content).
    *
    * Two phases, neither shuffling the corpus text:
    *   1. frequent-line discovery — explode per-doc DISTINCT lines, md5
    *      them map-side, ONE count shuffle carrying 32-char hashes (a
    *      line's per-doc distinctness makes `count(*)` = document
    *      frequency, no count-distinct expand needed), collect the ≥
    *      `minDocs` hashes driver-side;
    *   2. removal — the hash set becomes an `isInCollection` literal
    *      (InSet, O(1) probe) inside a pure array-HOF filter over each
    *      document's lines: zero shuffle, scan-fused, blank lines kept.
    *
    * The collected set is boilerplate, not vocabulary — it is small by
    * construction; `maxFrequent` guards the driver against a degenerate
    * corpus (thousands of docs sharing millions of lines), where the
    * caller should raise `minDocs` instead.
    */
  def removeFrequentLines(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int,
      maxFrequent: Int = 100000): org.apache.spark.sql.DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = filter(split(col(textCol), "\n"), l => trim(l) =!= "")
    // limit BEFORE collect: the guard must bound what reaches the driver,
    // not complain after an unbounded fetch already materialized it
    val frequent = df
      .select(col(idCol), explode(array_distinct(lines)).as("__line"))
      .select(md5(col("__line").cast("binary")).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minDocs)
      .select("__h").limit(maxFrequent + 1).collect().map(_.getString(0))
    require(frequent.length <= maxFrequent,
      s"over $maxFrequent frequent lines — raise minDocs (the set must " +
        "stay a driver-side literal)")
    if (frequent.isEmpty) df.withColumn("cleaned", col(textCol))
    // null text stays null (concat_ws over a null array would yield '' and
    // silently diverge from engines whose array_to_string(NULL) is NULL)
    else df.withColumn("cleaned",
      when(col(textCol).isNull, lit(null).cast("string")).otherwise(
        concat_ws("\n",
          filter(split(col(textCol), "\n"), l =>
            trim(l) === "" || !md5(l.cast("binary")).isInCollection(frequent)))))
  }

  /** Whitespace-preserving control characters (tab/newline/CR are WHITESPACE
    * and belong to the collapse step, not the strip step — stripping them
    * would merge adjacent words).
    */
  val ControlCharPattern = "[\\x00-\\x08\\x0B-\\x1F\\x7F]"

  /** Standard corpus text normalization: strip non-whitespace control
    * characters, collapse whitespace runs to single spaces, trim. Pure
    * codegen'd regexp chain — zero shuffle, fused into the scan. (Unicode
    * NFC is deliberately out of scope: Spark has no codegen'd normalizer
    * and the oracle engines disagree on normalization corners.)
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, ControlCharPattern, ""), "\\s+", " "))

  /** URL pattern (Java regex ∩ RE2, like the PII patterns). */
  val UrlPattern = "https?://[^\\s]+"

  /** Per-document URL count — codegen'd, zero shuffle. */
  def urlCount(text: Column): Column =
    size(regexp_extract_all(text, lit(UrlPattern), lit(0))).cast("bigint")

  /** URL canonicalization — the first-pass key of web-corpus dedup
    * (Common Crawl pipelines dedup by canonical URL before any content
    * hash): strip the fragment, the scheme, a leading `www.`, and
    * `utm_*` tracking parameters; lowercase the HOST (paths stay
    * case-sensitive); drop trailing slashes. Query parameters keep their
    * arrival order (reordering is a semantic change some sites depend
    * on); the param filter is a real split-filter-rejoin, not a regex
    * chain, so consecutive tracking params all drop in one pass. Pure
    * codegen Column; null stays null.
    */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val noScheme = regexp_replace(noFrag, "(?i)^https?://", "")
    val noWww = regexp_replace(noScheme, "(?i)^www\\.", "")
    val host = regexp_extract(noWww, "^[^/?]*", 0)
    val rest = substring(noWww, length(host) + 1, lit(1000000))
    val u = concat(lower(host), rest)
    // trailing-slash strip applies to the PATH, before the query
    // reattaches (a slash inside a param value is content, not layout)
    val base = regexp_replace(regexp_replace(u, "\\?.*$", ""), "/+$", "")
    val query = when(u.contains("?"),
      regexp_replace(u, "^[^?]*\\?", "")).otherwise(lit(""))
    val params = filter(split(query, "&"),
      p => !lower(p).startsWith("utm_") && p =!= "")
    val withQ = when(size(params) > 0,
      concat(base, lit("?"), array_join(params, "&"))).otherwise(base)
    when(url.isNull, lit(null).cast("string")).otherwise(withQ)
  }

  /** Corpus-wide domain statistics: for every domain, how many documents
    * mention it and how many URL occurrences point at it — the standard
    * input to per-domain corpus mixing and blocklist filtering. One
    * generator (URL explode) into one aggregate on the domain; shuffle
    * rows are (domain, doc) pairs, never text.
    */
  def domainStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
      explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0))).as("__url"))
      .select(col(idCol),
        regexp_extract(col("__url"), "https?://([^/\\s]+)", 1).as("domain"))
      .groupBy(col("domain"))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_urls"))

  /** Gopher-style repetition signals (Rae et al. 2021, appendix A1.1 —
    * the "repetitious documents are low quality" filter family), as pure
    * array-HOF columns over the split lines: no explode, no shuffle, one
    * pass in whole-stage codegen.
    *
    *   - `dup_line_frac`: fraction of non-blank lines that are repeats of
    *     an earlier line (`1 - distinct/total`);
    *   - `dup_line_char_frac`: fraction of line characters inside those
    *     repeats (`1 - distinctChars/totalChars`).
    *
    * All ratios are double divisions of exact integer counts — bit-equal
    * across engines for the oracle.
    */
  def repetitionColumns(text: Column): Seq[(String, Column)] = {
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val dLines = array_distinct(lines)
    def chars(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, l) => acc + length(l).cast("long"))
    val nL = size(lines).cast("double")
    val nD = size(dLines).cast("double")
    val cL = chars(lines).cast("double")
    val cD = chars(dLines).cast("double")
    Seq(
      "dup_line_frac" -> when(nL === 0, lit(0.0)).otherwise((nL - nD) / nL),
      "dup_line_char_frac" -> when(cL === 0, lit(0.0)).otherwise((cL - cD) / cL))
  }

  /** Full per-document repetition report: [[repetitionColumns]] plus the
    * top-bigram character fraction (chars claimed by the single most
    * frequent word bigram / non-whitespace chars — Gopher's top-n-gram
    * signal at n = 2).
    *
    * Plan shape for 100 TB: one generator (explode of the per-doc bigram
    * array) into two keyed aggregates — partial map-side combine on
    * (doc, bigram), then a (doc) aggregate whose `max(struct(c, bigram))`
    * picks the winner with a deterministic tie-break (highest count, then
    * lexicographically last bigram). No join and no window: the per-doc
    * constants (char count, line signals) ride through both aggregates
    * under `max`, and `explode_outer` keeps bigram-less docs (< 2 tokens)
    * in the result with fraction 0. Shuffle rows are per-split distinct
    * (doc, bigram) pairs after the combine, not corpus token count.
    */
  def repetitionReport(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val toks = wsTokens(text)
    val bigrams = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    val lineCols = repetitionColumns(text)
    val exploded = df.select(
      Seq(col(idCol).as("doc_id"),
        length(regexp_replace(text, "\\s", "")).cast("long").as("__nc")) ++
        lineCols.map { case (n, c) => c.as(n) } ++
        Seq(explode_outer(bigrams).as("bigram")): _*)
    val carry = Seq("__nc") ++ lineCols.map(_._1)
    val counts = exploded.groupBy(col("doc_id"), col("bigram"))
      .agg(count(col("bigram")).as("c"),
        carry.map(c => max(col(c)).as(c)): _*)
    val top = counts.groupBy(col("doc_id"))
      .agg(max(struct(col("c"), col("bigram"))).as("__top"),
        carry.map(c => max(col(c)).as(c)): _*)
    top.select(
      Seq(col("doc_id")) ++
        lineCols.map { case (n, _) => col(n) } ++
        Seq(when(col("__top.c") === 0 || col("__nc") === 0, lit(0.0))
          .otherwise(col("__top.c").cast("double") *
            (length(col("__top.bigram")) - 1).cast("double") /
            col("__nc").cast("double"))
          .as("top_bigram_char_frac")): _*)
  }

  /** The four LINE/PARAGRAPH repetition rules as ONE pure codegen
    * verdict Column — the stream-safe subset of
    * [[gopherRepetitionReport]] (the n-gram signals need a per-document
    * aggregate; these four are row-local array HOFs, so the screen runs
    * on a stream with no watermark, no join, no state): true iff
    * `dup_line_frac ≤ 0.30`, `dup_line_char_frac ≤ 0.20`,
    * `dup_para_frac ≤ 0.30`, `dup_para_char_frac ≤ 0.20`, every
    * comparison a cross-multiplied integer so the verdict hashes
    * bit-exact. Null text → null; a line-less document passes trivially.
    * Both arrays are let-bound (four consumers each — size, distinct,
    * two char sums — would otherwise re-split the text per use).
    */
  def repetitionQuickPass(text: Column): Column = {
    def ok(items: Column): Column =
      Dedup.bind(items) { it =>
        Dedup.bind(array_distinct(it)) { d =>
          def chars(arr: Column): Column =
            aggregate(arr, lit(0L), (a, l) => a + length(l).cast("long"))
          val n = size(it).cast("long"); val nd = size(d).cast("long")
          val c = chars(it); val cd = chars(d)
          ((n - nd) * 10L <= n * 3L) && ((c - cd) * 5L <= c)
        }
      }
    when(text.isNull, lit(null).cast("boolean"))
      .otherwise(
        ok(filter(split(text, "\n"), l => trim(l) =!= "")) &&
          ok(filter(split(text, "\\n{2,}"), p => trim(p) =!= "")))
  }

  /** The FULL Gopher repetition bundle (Rae et al. 2021, appendix A1.1,
    * Table A1 — all thirteen published repetition signals plus the
    * conjunction verdict). [[repetitionColumns]]/[[repetitionReport]]
    * cover the line pair and the top-bigram signal; this op adds the
    * rest, in the exact published set every open replication (Dolma,
    * RefinedWeb, FineWeb) screens on:
    *
    *   - `dup_line_frac` / `dup_line_char_frac` — repeated non-blank
    *     lines (count and character share);
    *   - `dup_para_frac` / `dup_para_char_frac` — repeated paragraphs
    *     (blank-line-delimited runs, `\n{2,}`);
    *   - `top_{2,3,4}gram_char_frac` — characters claimed by the single
    *     most frequent word n-gram (occurrences × n-gram token chars /
    *     non-whitespace chars);
    *   - `dup_{5..10}gram_char_frac` — characters covered by ANY word
    *     n-gram occurring more than once, overlap-aware: covered token
    *     POSITIONS are unioned before summing their lengths, so
    *     overlapping duplicate windows never double-count a character;
    *   - `rep_pass` — the paper's thresholds (0.30/0.30/0.20/0.20 for
    *     lines/paragraphs, 0.20/0.18/0.16 for top n-grams, 0.15 down to
    *     0.10 for dup n-grams), every comparison a cross-multiplied
    *     INTEGER inequality (e.g. `dup_line_frac ≤ 0.30` is
    *     `10·(nL−nD) ≤ 3·nL`), so the verdict hashes bit-exact in any
    *     engine. Null text → all signals and the verdict null; a
    *     token-less document passes trivially (every count is 0).
    *
    * Plan shape for 100 TB: the line/paragraph signals are pure array
    * HOFs fused into the scan. The n-gram signals are ONE generator —
    * per row, every n ∈ {2..10} window as `(n, pos, md5(gram), glen)` —
    * into one (doc, n, md5) aggregate: gram TEXT never shuffles, only its
    * 16-byte hash (the [[Dedup.stripBoilerplateParagraphs]] discipline;
    * equality via md5 is exact up to cryptographic collision). The top
    * path reduces that aggregate to a per-(doc, n) `max(struct(c, glen,
    * h))` winner (deterministic tie-break: highest count, longest gram,
    * lexicographically last hash); the dup path explodes the ≥2-count
    * groups' positions into covered token indices, distincts them
    * (integers only), and sums token lengths via one doc-keyed join
    * against the per-doc length array. No corpus-sized window, collect,
    * or broadcast anywhere; per-(doc, gram) position lists are bounded by
    * the doc's own token count.
    */
  def gopherRepetitionReport(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount}
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val text = col(textCol)
    val toks = wsTokens(text)

    // exact integer counts behind the four line/paragraph fractions, as
    // ONE let-bound struct per array (the repetitionQuickPass binding):
    // size, distinct size, and the two char sums as four independent
    // top-level columns would each re-run the split+filter of the text
    def dupCounts(items: Column): Column =
      Dedup.bind(items) { it =>
        Dedup.bind(array_distinct(it)) { d =>
          def chars(arr: Column): Column =
            aggregate(arr, lit(0L), (acc, l) => acc + length(l).cast("long"))
          struct(size(it).cast("long").as("n"), size(d).cast("long").as("nd"),
            chars(it).as("c"), chars(d).as("cd"))
        }
      }
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val paras = filter(split(text, "\\n{2,}"), p => trim(p) =!= "")

    val lens = transform(toks, t => length(t).cast("long"))
    // non-whitespace chars = Σ token lengths (tokens are the non-ws runs)
    val nc = aggregate(lens, lit(0L), (a, l) => a + l)

    // one generator: every n's windows as (n, pos, md5(gram), glen).
    // glen = gram chars minus the n−1 joining spaces = the tokens' own
    // characters, the same convention as repetitionReport's bigram. The
    // token array is LET-BOUND: captured inside the position lambda it
    // would re-tokenize the document per gram — O(k²) on long documents.
    val gramArr = Dedup.bind(toks) { t =>
      flatten(array((topNs ++ dupNs).map { n =>
        val grams = transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n))))
        when(size(t) >= n,
          transform(grams, (g, i) => struct(
            lit(n).as("n"), (i + 1).as("pos"),
            md5(g.cast("binary")).as("h"),
            (length(g) - (n - 1)).cast("long").as("glen"))))
          .otherwise(array())
      }: _*))
    }

    // the count structs stay their own aliases in a FIRST projection and
    // expand to flat columns in a SECOND: CollapseProject refuses to
    // inline an expensive alias referenced four times, so each array
    // pipeline evaluates once per row
    val base0 = df.select(
      col(idCol).as("doc_id"), text.isNull.as("__nul"),
      lens.as("__lens"), coalesce(nc, lit(0L)).as("__nc"),
      gramArr.as("__grams"),
      dupCounts(lines).as("__ln"), dupCounts(paras).as("__pa"))
    val base = base0.select(
      (Seq("doc_id", "__nul", "__lens", "__nc", "__grams").map(col) ++
        (for (p <- Seq("ln", "pa"); f <- Seq("n", "nd", "c", "cd"))
          yield col(s"__$p")(f).as(s"__${p}_$f"))): _*)

    val ex = base
      .select(col("doc_id"), explode(col("__grams")).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.h").as("h"),
        col("g.pos").as("pos"), col("g.glen").as("glen"))
    // positions only matter on the dup path — skip collecting them for
    // the top ns (collect_list drops nulls)
    val grouped = ex.groupBy(col("doc_id"), col("n"), col("h"))
      .agg(fcount(lit(1)).as("c"), max(col("glen")).as("glen"),
        collect_list(when(col("n") >= dupNs.head, col("pos"))).as("ps"))

    val top = grouped.where(col("n").isin(topNs: _*))
      .groupBy(col("doc_id"), col("n"))
      .agg(max(struct(col("c"), col("glen"), col("h"))).as("t"))
      .groupBy(col("doc_id"))
      .pivot("n", topNs)
      .agg(first(col("t.c") * col("t.glen")))
    val topP = topNs.foldLeft(top) { (d, n) =>
      d.withColumnRenamed(n.toString, s"__top$n")
    }

    val dup = grouped
      .where(col("n") >= dupNs.head && col("c") >= 2)
      .select(col("doc_id"), col("n"), explode(col("ps")).as("pos"))
      .select(col("doc_id"), col("n"),
        explode(sequence(col("pos"), col("pos") + col("n") - 1)).as("idx"))
      .distinct()
      .groupBy(col("doc_id"), col("n"))
      .agg(collect_list(col("idx")).as("__idxs"))
      .join(base.select(col("doc_id"), col("__lens")), Seq("doc_id"))
      .select(col("doc_id"), col("n"),
        aggregate(col("__idxs"), lit(0L),
          (a, i) => a + element_at(col("__lens"), i)).as("dc"))
      .groupBy(col("doc_id"))
      .pivot("n", dupNs)
      .agg(first(col("dc")))
    val dupP = dupNs.foldLeft(dup) { (d, n) =>
      d.withColumnRenamed(n.toString, s"__dup$n")
    }

    val joined = base.drop("__grams", "__lens")
      .join(topP, Seq("doc_id"), "left")
      .join(dupP, Seq("doc_id"), "left")

    def nn(name: String) = coalesce(col(name), lit(0L))
    def frac(num: Column, den: Column): Column =
      when(col("__nul"), lit(null).cast("double"))
        .otherwise(when(den === 0L, lit(0.0))
          .otherwise(num.cast("double") / den.cast("double")))
    def dupFracs(p: String, out: String) = Seq(
      s"dup_${out}_frac" ->
        frac(col(s"__${p}_n") - col(s"__${p}_nd"), col(s"__${p}_n")),
      s"dup_${out}_char_frac" ->
        frac(col(s"__${p}_c") - col(s"__${p}_cd"), col(s"__${p}_c")))
    val fracCols =
      dupFracs("ln", "line") ++ dupFracs("pa", "para") ++
        topNs.map(n => s"top_${n}gram_char_frac" ->
          frac(nn(s"__top$n"), col("__nc"))) ++
        dupNs.map(n => s"dup_${n}gram_char_frac" ->
          frac(nn(s"__dup$n"), col("__nc")))

    // the paper's drop thresholds, cross-multiplied to exact integers:
    // lines/paras 0.30 (count) and 0.20 (chars); top 2/3/4-gram 0.20 /
    // 0.18 / 0.16; dup 5..10-gram 0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10
    def ruleCnt(p: String) =
      (col(s"__${p}_n") - col(s"__${p}_nd")) * 10L <= col(s"__${p}_n") * 3L
    def ruleChr(p: String) =
      (col(s"__${p}_c") - col(s"__${p}_cd")) * 5L <= col(s"__${p}_c")
    val topRules = Seq(2 -> (5L, 1L), 3 -> (50L, 9L), 4 -> (25L, 4L)).map {
      case (n, (a, b)) => nn(s"__top$n") * a <= col("__nc") * b
    }
    val dupRules = Seq(5 -> (20L, 3L), 6 -> (50L, 7L), 7 -> (100L, 13L),
      8 -> (25L, 3L), 9 -> (100L, 11L), 10 -> (10L, 1L)).map {
      case (n, (a, b)) => nn(s"__dup$n") * a <= col("__nc") * b
    }
    val pass = (Seq(ruleCnt("ln"), ruleChr("ln"), ruleCnt("pa"),
      ruleChr("pa")) ++ topRules ++ dupRules).reduce(_ && _)

    joined.select(
      (col("doc_id") +:
        fracCols.map { case (n, c) => c.as(n) }) :+
        when(col("__nul"), lit(null).cast("boolean")).otherwise(pass)
          .as("rep_pass"): _*)
  }

  /** Keep rows at or above the `p`-quantile of `metricCol` — the classic
    * "drop the bottom quartile by quality score" corpus-cleaning step.
    * The threshold is ONE exact-percentile aggregate collected driver-side
    * and injected as a literal (same pattern as the IVF centroids): two
    * jobs total, no single-partition window, and the filter containing a
    * plain literal pushes down to the scan on re-read.
    */
  def filterByPercentile(
      df: org.apache.spark.sql.DataFrame,
      metricCol: String,
      p: Double): org.apache.spark.sql.DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0, 1), got $p")
    val row = df.agg(expr(s"percentile(`$metricCol`, $p)")).head()
    // empty / all-null metric → no threshold exists → nothing passes
    if (row.isNullAt(0)) df.where(lit(false))
    else df.where(col(metricCol) >= row.getDouble(0))
  }

  /** Unicode-script signal columns: per-script character counts (Latin,
    * Cyrillic, Han, Arabic) plus the non-whitespace total — the script-mix
    * fingerprint that routes documents to language-specific pipelines
    * before any model-based language ID runs. Pure regexp counts fused
    * into the scan (zero shuffle); Java regex and RE2 both implement
    * Unicode script classes, so the counts are engine-parallel for the
    * oracle.
    */
  def scriptColumns(text: Column): Seq[(String, Column)] = {
    def scriptCount(pat: String) =
      (length(text) - length(regexp_replace(text, pat, ""))).cast("bigint")
    Seq(
      "n_latin" -> scriptCount("\\p{IsLatin}"),
      "n_cyrillic" -> scriptCount("\\p{IsCyrillic}"),
      "n_han" -> scriptCount("\\p{IsHan}"),
      "n_arabic" -> scriptCount("\\p{IsArabic}"),
      "n_nonspace" -> length(regexp_replace(text, "\\s", "")).cast("bigint"))
  }

  /** Token-count distribution of a corpus: documents bucketed by
    * `floor(tokens / bucketWidth)`, one row per non-empty bucket with the
    * bucket's doc count and inclusive token range — the
    * length-distribution histogram every corpus report starts with. Pure
    * integer arithmetic into one map-side-combining aggregate: the
    * shuffle carries one row per bucket per split, never per document.
    */
  def tokenHistogram(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      bucketWidth: Long): org.apache.spark.sql.DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    // (n - n % w) / w: the numerator is an exact multiple, so the double
    // division is exact and the cast loses nothing (same trick as
    // Packing.chunkByTokens's chunk_idx)
    val n = tokenCount(col(textCol)).cast("bigint")
    df.select(((n - pmod(n, lit(bucketWidth))) / bucketWidth)
        .cast("bigint").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("bucket"),
        (col("bucket") * bucketWidth).as("tokens_from"),
        ((col("bucket") + 1) * bucketWidth - 1).as("tokens_to"),
        col("n_docs"))
  }

  /** Corpus-wide token frequencies, highest first (ties by token). One
    * generator + one partial-aggregated shuffle on the token — the map-side
    * combine collapses each split's repeats before anything moves, so the
    * shuffle volume is per-split vocabulary, not corpus token count.
    */
  def termFrequencies(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame =
    df.select(explode(wsTokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))

  /** Per-document corpus-frequency score — the exact-integer proxy for
    * LM-perplexity quality filtering (CCNet ranks documents by a language
    * model's likelihood; the corpus's own token frequencies are the
    * zeroth-order version of that signal, and integer sums stay bit-exact
    * in any engine where a log-prob would differ in final ulps). Returns
    * `(idCol, n_toks, sum_freq, n_rare)`: token count, the sum of each
    * token's corpus-wide occurrence count, and how many of the document's
    * tokens occur fewer than `rareBelow` times corpus-wide. Low
    * `sum_freq / n_toks` or high `n_rare / n_toks` flags gibberish and
    * OCR noise; a suspiciously high mean flags boilerplate. Documents
    * with no tokens are absent (nothing to score).
    *
    * Plan shape for 100 TB: one map-side-combining aggregate builds the
    * (token, n) table, the corpus's exploded tokens shuffle ONCE on the
    * token key to meet it (a corpus-derived table cannot broadcast), and
    * the per-doc rollup is the second and final shuffle. Text itself
    * never moves — only (id, token) pairs.
    */
  def frequencyScore(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      rareBelow: Long = 2L): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(wsTokens(col(textCol))).as("token"))
    toks.join(termFrequencies(df, textCol), Seq("token"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(col("n")).as("sum_freq"),
        sum(when(col("n") < rareBelow, 1L).otherwise(0L)).as("n_rare"))
  }

  /** Two-corpus frequency contrast — the exact-integer zeroth-order form
    * of DSIR-style importance resampling (Xie et al. 2023 select raw data
    * by the ratio of target-domain to raw-corpus likelihood under hashed
    * n-gram models; the two corpora's own token frequencies are that
    * signal with the log left to the caller, and integer sums stay
    * bit-exact in any engine where a log-ratio would differ in ulps).
    * For each `raw` document: `(idCol, n_toks, sum_raw_freq,
    * sum_target_freq, n_target_hit)` — token count, the sum of each
    * token's `raw`-corpus-wide count, the sum of its `target`-corpus
    * count (0 when absent), and how many of the document's tokens occur
    * in `target` at all. High `sum_target_freq / sum_raw_freq` ranks the
    * document target-like; `n_target_hit / n_toks` is the coverage guard
    * against scoring by a handful of stopwords. Documents with no tokens
    * are absent (nothing to score).
    *
    * Plan shape for 100 TB: the raw frequency table is corpus-derived and
    * cannot broadcast — the exploded tokens shuffle ONCE on the token key
    * to meet it (exactly [[frequencyScore]]'s join); the TARGET frequency
    * table is the curated domain sample, orders of magnitude smaller, so
    * Catalyst broadcasts its left join and the contrast adds no second
    * corpus shuffle. The per-doc rollup is the final aggregate. Text
    * never moves — only (id, token) pairs.
    */
  def contrastScore(
      raw: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      targetTextCol: String): org.apache.spark.sql.DataFrame = {
    val toks = raw.select(col(idCol), explode(wsTokens(col(textCol))).as("token"))
    val rawTf = termFrequencies(raw, textCol).withColumnRenamed("n", "__rn")
    val tgtTf = termFrequencies(target, targetTextCol).withColumnRenamed("n", "__tn")
    toks.join(rawTf, Seq("token"))
      .join(tgtTf, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(col("__rn")).as("sum_raw_freq"),
        sum(coalesce(col("__tn"), lit(0L))).as("sum_target_freq"),
        sum(when(col("__tn").isNotNull, 1L).otherwise(0L)).as("n_target_hit"))
  }

  // ---- persisted token-frequency index ([[EpochStore]] delta-epoch
  // layout) ----
  //
  // DSIR/quality scoring is the op most likely to run DAILY against a
  // growing corpus, and [[frequencyScore]]/[[contrastScore]] recompute the
  // raw-side term frequencies from the whole corpus each time. This index
  // persists the standing corpus token counters as delta epochs: each
  // epoch's `tf` dirs hold PARTIAL (token, n) counts, and the live total
  // for a token is their exact integer SUM — so an append writes only the
  // BATCH's own one-aggregate histogram (one token-keyed counter merge at
  // read time, never a rewrite of standing counters), and every probe
  // stays bit-exact oracle-able. A committed `ids` table (the canonical
  // string form of each counted doc id) plus the shared per-epoch id
  // bloom give the replay guard counters need: counter folds are NOT
  // naturally idempotent, so a replayed batch must no-op and a PARTIAL
  // overlap must fail loudly instead of double-counting.

  /** On-disk format version of the token-frequency index (v2: the
    * [[EpochStore]] epoch header).
    */
  val TokenFrequencyIndexFormatVersion: Int = 2

  private[graft] val TokenFrequencyIndex = EpochStore.EpochIndex(
    EpochStore.IndexKind("token-frequency", TokenFrequencyIndexFormatVersion,
      "writeTokenFrequencyIndex"),
    tables = Seq("tf", "ids"), idTable = Some("ids"))

  private[graft] def resolveTokenFrequencyIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): EpochStore.Epoch =
    TokenFrequencyIndex.resolve(spark, path)

  private def tfTotalsAt(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch)
      : org.apache.spark.sql.DataFrame =
    EpochStore.readTable(spark, ep, "tf")
      .groupBy(col("token")).agg(sum(col("n")).as("n"))

  /** The live epoch's standing corpus token totals, `(token, n)` — the
    * exact-integer [[termFrequencies]] of every committed document: the
    * one token-keyed SUM over the delta counter dirs (vocabulary-sized,
    * one multi-path scan + one aggregate; [[compactTokenFrequencyIndex]]
    * pre-sums it back to one dir).
    */
  def indexTokenFrequencies(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.spark.sql.DataFrame =
    tfTotalsAt(spark, resolveTokenFrequencyIndex(spark, path))

  /** Persist the standing token-frequency index from scratch: ONE
    * map-side-combining aggregate over the corpus ([[termFrequencies]] —
    * at 100 TB the only pass over text) plus the narrow distinct-id
    * table and its bloom. Non-destructive over an existing index (epoch
    * N+1 + atomic pointer commit), same single-writer lease contract as
    * every index lifecycle.
    */
  def writeTokenFrequencyIndex(
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): Unit = {
    EpochStore.requireCounterIdsNotNull(corpus, idCol, "writeTokenFrequencyIndex")
    TokenFrequencyIndex.build(corpus.sparkSession, path, retainEpochs) { out =>
      EpochStore.Arms(
        () => out.write("tf", termFrequencies(corpus, textCol)),
        () => out.write("ids", EpochStore.counterBatchIds(corpus, idCol)))
    }
  }

  /** Fold a batch of NEW documents into the standing counters: writes
    * only the batch's own one-aggregate histogram as a fresh `tf` delta
    * (standing data carried forward BY REFERENCE), so append ≡ rebuild
    * on the union corpus, token for token, in exact integers. Replay
    * guard (the counter-specific contract): a batch whose ids are ALL
    * already committed is a NO-OP (at-least-once schedulers replay
    * safely — the bloom makes the usual clean append prove disjointness
    * without touching standing ids); a batch with a PARTIAL id overlap
    * fails loudly, since folding it would double-count the overlap's
    * tokens — split the batch instead.
    */
  def appendTokenFrequencyIndex(
      newDocs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): Unit =
    TokenFrequencyIndex.appendCounted(newDocs, idCol, path, retainEpochs,
      "appendTokenFrequencyIndex") { (out, batchIds) =>
      EpochStore.Arms(
        () => out.write("tf", termFrequencies(newDocs, textCol)),
        () => out.write("ids", batchIds))
    }

  /** Merge the accumulated `tf` counter deltas into ONE pre-summed dir
    * (and the id deltas into one), with a right-sized fresh bloom — the
    * same maintenance op as the other lifecycles' compact.
    */
  def compactTokenFrequencyIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      retainEpochs: Int = 2): Unit =
    TokenFrequencyIndex.compact(spark, path, retainEpochs) { (cur, out) =>
      EpochStore.Arms(
        () => out.write("tf", tfTotalsAt(spark, cur)),
        // append-guard disjointness makes the union already distinct
        () => out.write("ids", EpochStore.readTable(spark, cur, "ids")))
    }

  /** [[frequencyScore]] for DAILY ARRIVALS against the standing index:
    * each batch document scored by the COMMITTED corpus's token counts —
    * no corpus recompute, one vocabulary-sized totals aggregate + the
    * batch's own token shuffle. A token the standing corpus has never
    * seen counts 0 toward `sum_freq` and counts as rare (0 < rareBelow)
    * — the natural daily-batch semantics, where unseen means rarest.
    * Same output schema as [[frequencyScore]].
    */
  def frequencyScoreAgainstIndex(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      rareBelow: Long = 2L): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val tf = indexTokenFrequencies(spark, path)
    val toks = docs.select(col(idCol), explode(wsTokens(col(textCol))).as("token"))
    toks.join(tf, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(coalesce(col("n"), lit(0L))).as("sum_freq"),
        sum(when(coalesce(col("n"), lit(0L)) < rareBelow, 1L).otherwise(0L))
          .as("n_rare"))
  }

  /** [[contrastScore]] with the RAW side served by the standing index:
    * rank daily arrivals by target-likeness against the committed
    * corpus's counters plus the (small, curated) target sample's own
    * frequencies — the DSIR daily job with zero raw-corpus recompute.
    * A standing-unseen token contributes 0 raw mass (it cannot make a
    * document raw-typical); target semantics match [[contrastScore]].
    */
  def contrastScoreAgainstIndex(
      docs: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      targetTextCol: String,
      path: String): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val rawTf = indexTokenFrequencies(spark, path).withColumnRenamed("n", "__rn")
    val tgtTf = termFrequencies(target, targetTextCol).withColumnRenamed("n", "__tn")
    val toks = docs.select(col(idCol), explode(wsTokens(col(textCol))).as("token"))
    toks.join(rawTf, Seq("token"), "left")
      .join(tgtTf, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(coalesce(col("__rn"), lit(0L))).as("sum_raw_freq"),
        sum(coalesce(col("__tn"), lit(0L))).as("sum_target_freq"),
        sum(when(col("__tn").isNotNull, 1L).otherwise(0L)).as("n_target_hit"))
  }

  /** Per-document top-`k` tokens by tf/df weight (tf-idf with the exact
    * rational inverse-frequency N/df — the constant corpus-size factor N
    * does not change per-document ranking, and dropping it keeps every
    * score a bit-exact division of two counts; a log-idf would differ
    * between engines in final ulps). Two aggregations and one join, all
    * keyed on the token; the per-document ranking window partitions by
    * document — no global ordering anywhere.
    */
  def topTermsPerDoc(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = df.select(col(idCol).as("doc_id"),
      explode(wsTokens(col(textCol))).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tokens.distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("score"))
  }

  /** Plan-size guard for [[blocklistHits]]: the phrase list ships as a
    * LITERAL array inside every task binary (the
    * `LangModel.collectWeights` discipline — a literal is not a broadcast
    * and is re-shipped with every stage that references it), so it must
    * stay blocklist-sized. Real badword lists (C4's is ~400 entries) fit
    * with two orders of magnitude of headroom; a corpus-derived phrase
    * set does not belong in a literal and should go through a token-keyed
    * join instead.
    */
  val MaxBlocklistEntries = 10000

  /** Canonical token-sequence form of a document: lowercased whitespace
    * tokens joined by single spaces, wrapped in one leading and one
    * trailing space — so "phrase P occurs as a consecutive token
    * subsequence" is EXACTLY `contains(tokenSeqForm(text), ' '+P+' ')`,
    * with the sentinel spaces making boundary matches ("scan" vs "scans",
    * phrase at document start/end) token-exact rather than substring-
    * approximate. Null text stays null (concat_ws over a null array
    * yields '' and would silently claim an empty-but-matchable document).
    */
  def tokenSeqForm(text: Column): Column =
    when(text.isNull, lit(null).cast("string")).otherwise(
      concat(lit(" "), concat_ws(" ", wsTokens(lower(text))), lit(" ")))

  /** Normalize one blocklist phrase to the [[tokenSeqForm]] token
    * convention: lowercase, whitespace runs collapsed to single spaces.
    */
  private def normalizePhrase(p: String): String =
    p.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")

  private def normalizedBlocklist(phrases: Seq[String]): Seq[String] = {
    val norm = phrases.map(normalizePhrase).filter(_.nonEmpty).distinct.sorted
    require(norm.nonEmpty, "blocklist is empty after normalization")
    require(norm.length <= MaxBlocklistEntries,
      s"blocklist has ${norm.length} entries, over $MaxBlocklistEntries — " +
        "a list this large should be a token-keyed join, not a plan literal")
    norm
  }

  /** C4-style phrase-blocklist screen: the sorted array of blocklist
    * phrases occurring in the document as consecutive token sequences,
    * case-insensitive ("List of Dirty, Naughty … Words" filtering — the
    * screen C4/Dolma run on every document; Raffel et al. 2020 §2.2).
    *
    * Pure codegen'd Column — the normalized phrase list is a literal
    * array filtered with a `contains` predicate over [[tokenSeqForm]]:
    * zero shuffle, zero joins, no UDF, fused into the scan, trivially
    * stream-safe (stateless). Cost is O(|phrases| · doc length) per row
    * — embarrassingly parallel and the standard trade for blocklist-sized
    * P (hundreds); [[MaxBlocklistEntries]] keeps the literal honest.
    * Matching is token-exact: "scan" never matches inside "scans", and
    * multi-token phrases match only when their tokens are adjacent in
    * document order. Null text yields an empty hit array (the filter
    * predicate is null, so every phrase is dropped).
    */
  def blocklistHits(text: Column, phrases: Seq[String]): Column = {
    val norm = normalizedBlocklist(phrases)
    val doc = tokenSeqForm(text)
    filter(
      typedlit(norm),
      p => doc.contains(concat(lit(" "), p, lit(" "))))
  }

  /** True iff any blocklist phrase occurs in the document ([[blocklistHits]]
    * non-empty). Null text is NOT blocked — a missing document is a schema
    * problem, not a content violation; screen nulls separately.
    */
  def blockedByPhrase(text: Column, phrases: Seq[String]): Column =
    size(blocklistHits(text, phrases)) > 0

  /** Drop every document containing a blocklist phrase — the C4 screen as
    * a corpus filter. Null-text rows are KEPT (see [[blockedByPhrase]]).
    */
  def filterBlocklisted(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      phrases: Seq[String]): org.apache.spark.sql.DataFrame =
    df.where(!blockedByPhrase(col(textCol), phrases))

  /** The URL's host, canonicalized for domain screening: scheme and
    * userinfo stripped, lowercased, port dropped. A bare string without a
    * scheme is treated as starting at its host (the [[normalizeUrl]]
    * convention). Null stays null.
    */
  def urlHost(url: Column): Column = {
    val noScheme = regexp_replace(trim(url), "(?i)^https?://", "")
    val noUser = regexp_replace(noScheme, "^[^/?#@]*@", "")
    lower(regexp_extract(noUser, "^[^/?#:]*", 0))
  }

  /** URL domain-blocklist screen (the C4/Dolma companion to the phrase
    * blocklist — crawl pipelines drop whole domains before reading a
    * byte of content): true iff [[urlHost]] IS a blocked domain or a
    * SUBDOMAIN of one (`news.example.com` matches `example.com`; a
    * `www.` host matches its bare domain by the same suffix rule —
    * substring matches like `notexample.com` never do). Pure codegen
    * over a normalized literal list, zero shuffle, stream-safe; same
    * [[MaxBlocklistEntries]] bound as the phrase screen. Null url is NOT
    * blocked — screen nulls separately.
    */
  def urlDomainBlocked(url: Column, domains: Seq[String]): Column = {
    val norm = domains.map(_.trim.toLowerCase.stripPrefix("www."))
      .filter(_.nonEmpty).distinct.sorted
    require(norm.nonEmpty, "domain blocklist is empty after normalization")
    require(norm.length <= MaxBlocklistEntries,
      s"domain blocklist has ${norm.length} entries, over " +
        s"$MaxBlocklistEntries — a list this large should be a " +
        "host-keyed join, not a plan literal")
    val host = urlHost(url)
    size(filter(typedlit(norm),
      d => host === d || host.endsWith(concat(lit("."), d)))) > 0
  }

  /** Drop every row whose `urlCol` hits the domain blocklist. Null-url
    * rows are KEPT (see [[urlDomainBlocked]]).
    */
  def filterBlockedDomains(
      df: org.apache.spark.sql.DataFrame,
      urlCol: String,
      domains: Seq[String]): org.apache.spark.sql.DataFrame =
    df.where(!urlDomainBlocked(col(urlCol), domains))

  // ---- HTML → text extraction (the step BEFORE every text screen) ----
  //
  // A crawl pipeline's first transform: strip markup and classify text
  // blocks by density heuristics (jusText, Pomikálek 2011; trafilatura,
  // Barbaresi 2021 — both public), so only running prose reaches the C4
  // line filter / Gopher rules / blocklist chain. Everything here is pure
  // codegen'd Columns — zero shuffle, one pass, fused into the scan — and
  // every ratio rule a cross-multiplied integer comparison so the
  // verdicts hash bit-exact against a SQL oracle.
  //
  // Anchor-text accounting WITHOUT an HTML parser: the markup is stripped
  // twice — once keeping anchor CONTENT (`<a>` tags removed like any
  // tag), once dropping `<a …>…</a>` wholesale — and since anchors are
  // inline (never spanning a block tag in valid HTML), the two block
  // lists align positionally; a block's anchor share is the difference of
  // the two variants' whitespace-free lengths. Exact, regex-only, and
  // reproducible in any engine.

  /** Stopword list for the block classifier (jusText's stopword-density
    * signal; a tiny high-frequency English set — swap per language). Owned
    * by the native kernel ([[graft.functions.HtmlUtil.Stopwords]]), so the
    * expression form and the kernel share one list.
    */
  val HtmlStopwords: Seq[String] = graft.functions.HtmlUtil.Stopwords.toSeq

  /** Block classifier thresholds: minimum whitespace-free chars for a
    * block to be prose (jusText `length_low` analogue, scaled for the
    * short synthetic fixtures), maximum link density 1/5 (jusText's 0.2),
    * minimum stopword density 3/10 (jusText's ~0.30).
    */
  val HtmlMinBlockChars = 20L

  /** Comments, script/style/title elements (content and all) removed —
    * the parts of a page that are never text. Runs BEFORE tag stripping
    * so `{ code }` inside a script can't leak into the text and trip the
    * C4 brace rule downstream.
    */
  private def htmlPreStrip(html: Column): Column =
    Seq("(?s)<!--.*?-->",
      "(?is)<script(\\s[^>]*)?>.*?</script>",
      "(?is)<style(\\s[^>]*)?>.*?</style>",
      "(?is)<title(\\s[^>]*)?>.*?</title>")
      .foldLeft(html)((acc, p) => regexp_replace(acc, p, " "))

  /** Block-level tags become newlines (block boundaries), every other tag
    * a space, then the fixed entity set decodes. `&amp;` decodes LAST so
    * `&amp;lt;` yields the literal text `&lt;` (standard single-pass
    * entity semantics). The tag-name alternation requires `>`, `/>`, or
    * whitespace+attrs after the name, so `<particular>` can never match
    * the `p` rule.
    */
  private def htmlToRawBlocks(preStripped: Column): Column = {
    val blockTags = "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|" +
      "blockquote|section|article|header|footer|nav)(\\s[^>]*)?/?>"
    val untagged = regexp_replace(
      regexp_replace(preStripped, blockTags, "\n"), "<[^>]*>", " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(untagged) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
  }

  /** Per-block metrics + verdicts for a raw HTML document: an array of
    * structs `(block_id, text, n_chars, anchor_chars, n_words, stop_hits,
    * len_ok, link_ok, stop_ok, good)`, one per non-empty text block.
    * `block_id` is the block's position in the RAW block list (before the
    * empty-block filter), `text` the whitespace-collapsed block,
    * `n_chars` its whitespace-free length, `anchor_chars` the portion
    * inside `<a>` elements. Verdicts (all exact integer comparisons):
    * `len_ok` = n_chars ≥ [[HtmlMinBlockChars]]; `link_ok` = 5 ·
    * anchor_chars ≤ n_chars; `stop_ok` = 10 · stop_hits ≥ 3 · n_words;
    * `good` their conjunction — nav menus and link farms fail `link_ok`,
    * word-salad fails `stop_ok`, fragments fail `len_ok`. Null html
    * propagates a null array.
    */
  def htmlBlockMetrics(html: Column): Column =
    graft.functions.htmlNative.htmlBlockMetrics(html)

  /** The pre-kernel expression form of [[htmlBlockMetrics]] — ~13
    * sequential regexp_replace passes plus a per-word stopword-normalize
    * regex inside the metrics lambda. Kept as the executable
    * SPECIFICATION the native kernel is property-tested against
    * (HtmlKernelSpec: kernel ≡ this chain on the crawl fixture and on
    * adversarial generated HTML); never on a query path.
    */
  private[graft] def htmlBlockMetricsExpr(html: Column): Column =
    // let-bind the stripped variants (Dedup.bind): HOF lambdas re-evaluate
    // captured subexpressions PER ELEMENT, so without the binds every
    // block would re-run the whole regex-strip chain over the full page
    Dedup.bind(htmlPreStrip(html)) { pre =>
      Dedup.bind(array(
        split(htmlToRawBlocks(pre), "\n"),
        split(htmlToRawBlocks(
          regexp_replace(pre, "(?is)<a(\\s[^>]*)?>.*?</a>", "")), "\n"))) { pair =>
        htmlMetricsOf(element_at(pair, 1), element_at(pair, 2))
      }
    }

  private def htmlMetricsOf(withAnchors: Column, noAnchors: Column): Column = {
    val metrics = transform(sequence(lit(1), size(withAnchors)), i => {
      val a = element_at(withAnchors, i)
      val b = element_at(noAnchors, i)
      val nsA = length(regexp_replace(a, "\\s+", "")).cast("long")
      val nsB = length(regexp_replace(b, "\\s+", "")).cast("long")
      val text = trim(regexp_replace(a, "\\s+", " "))
      val words = filter(split(text, " "), w => w =!= "")
      val nWords = size(words).cast("long")
      val stopHits = size(filter(words, w =>
        array_contains(typedlit(HtmlStopwords),
          regexp_replace(lower(w), "[^a-z]", "")))).cast("long")
      val anchor = greatest(nsA - nsB, lit(0L))
      val lenOk = nsA >= HtmlMinBlockChars
      val linkOk = anchor * 5L <= nsA
      val stopOk = stopHits * 10L >= nWords * 3L
      struct(
        i.cast("long").as("block_id"),
        text.as("text"),
        nsA.as("n_chars"),
        anchor.as("anchor_chars"),
        nWords.as("n_words"),
        stopHits.as("stop_hits"),
        lenOk.as("len_ok"),
        linkOk.as("link_ok"),
        stopOk.as("stop_ok"),
        (lenOk && linkOk && stopOk).as("good"))
    })
    filter(metrics, m => m.getField("n_chars") > 0L)
  }

  /** The page's main text: [[htmlBlockMetrics]]' `good` blocks joined
    * with newlines — the cleaned document the downstream screens (C4
    * lines, Gopher, blocklist, dedup) consume. A page with no good block
    * becomes the empty string (the C4 `enough_sentences` page rule then
    * drops it). Null html stays null.
    */
  def htmlExtractText(html: Column): Column =
    graft.functions.htmlNative.htmlExtractText(html)

  /** The pre-kernel expression form of [[htmlExtractText]] — see
    * [[htmlBlockMetricsExpr]]; the HtmlKernelSpec property pins
    * kernel ≡ chain, never on a query path.
    */
  private[graft] def htmlExtractTextExpr(html: Column): Column =
    when(html.isNull, lit(null).cast("string"))
      .otherwise(concat_ws("\n",
        transform(filter(htmlBlockMetricsExpr(html), m => m.getField("good")),
          m => m.getField("text"))))

  /** The crawl pipeline's first two stages in ONE evaluation: extraction
    * + the C4 page screen over the extracted text, as a struct
    * `(extracted, has_lorem, has_brace, enough_sentences, c4_cleaned)`.
    * The extraction is let-bound (`Dedup.bind`) so the strip chain runs
    * once per page — naively composing [[htmlExtractText]] into each C4
    * column would re-run it per verdict after CollapseProject inlines the
    * projection. Null html propagates null fields.
    */
  def htmlExtractC4(html: Column, minSentences: Int = 3): Column =
    Dedup.bind(htmlExtractText(html)) { e =>
      struct(
        (e.as("extracted") +:
          c4Columns(e, minSentences).map { case (n, c) => c.as(n) } :+
          c4CleanLines(e).as("c4_cleaned")): _*)
    }
}
