package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag or drop corpus documents that share word
  * n-grams with an evaluation/benchmark set — the standard guard against
  * train/test leakage in a training-data pipeline (the n-gram-overlap rule
  * popularized by the GPT-3 and PaLM data cards).
  *
  * Plan shape for 100 TB: the eval side is small (benchmark suites are at
  * most a few hundred MB), so its distinct gram keys BROADCAST; the corpus
  * side explodes its grams map-side and probes the broadcast hash table —
  * corpus text never shuffles, corpus grams never shuffle, and only the
  * matching (id, gram-key) pairs (a vanishingly small fraction) reach the
  * final per-document aggregate. Gram keys are 16-hex-char md5 prefixes
  * (64 bits), not gram text, so the broadcast table and the matched rows
  * stay compact — and md5 (not xxhash64) keeps the key reproducible in any
  * engine for the oracle.
  */
object Decontam {

  /** Sliding word `n`-grams over the whitespace tokens, space-joined;
    * empty array under `n` tokens. Delegates to [[Dedup.shingles]], whose
    * token array is LET-BOUND — a naive `transform` over a captured
    * `split(...)` re-runs the split regex per gram (the round-1 minhash
    * pathology), turning each document into O(tokens²) regex work.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    Dedup.shingles(text, n)
  }

  /** 64-bit gram join key: first 16 hex chars of md5(gram). */
  def gramKey(gram: Column): Column =
    substring(md5(gram.cast("binary")), 1, 16)

  private def grams(
      df: DataFrame, textCol: String, n: Int, keep: Seq[Column],
      foldCase: Boolean = false) = {
    val t = if (foldCase) lower(col(textCol)) else col(textCol)
    df.select(keep :+ explode(wordNgrams(t, n)).as("__gram"): _*)
      .select(keep :+ gramKey(col("__gram")).as("__g"): _*)
  }

  private def evalSide(
      evalSet: DataFrame, textCol: String, n: Int, bcast: Boolean,
      foldCase: Boolean = false): DataFrame = {
    val evalGrams = grams(evalSet, textCol, n, Seq.empty, foldCase).distinct()
    if (bcast) broadcast(evalGrams) else evalGrams
  }

  /** Per-document contamination report: corpus documents sharing at least
    * one word `n`-gram with `evalSet`, with the count of DISTINCT shared
    * grams as `n_shared_grams`. Set `broadcastEval = false` only if the
    * eval side is too large to broadcast (then AQE picks the join).
    *
    * `foldCase = true` lowercases both sides before gram matching — the
    * normalization the published decontamination recipes apply (the GPT-3
    * data card matches on lowercased n-grams), so a re-cased leak ("The
    * Quick Brown Fox…" quoted in a different style) still counts as
    * contamination. Default false: exact matching, byte-for-byte.
    */
  def contaminationReport(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastEval: Boolean = true,
      foldCase: Boolean = false): DataFrame =
    grams(corpus, textCol, n, Seq(col(idCol)), foldCase)
      .join(evalSide(evalSet, textCol, n, broadcastEval, foldCase), Seq("__g"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__g")).as("n_shared_grams"))

  /** Corpus minus the contaminated documents. Lighter than anti-joining
    * the report: dropping needs only the distinct contaminated IDS, so the
    * corpus grams left-semi probe the broadcast eval table and bare ids —
    * not per-doc gram sets for a countDistinct — reach the one shuffle.
    * No broadcast hint on the final anti-join: the contaminated set is
    * bounded by the CORPUS, not the eval set, so AQE must size it (it
    * will broadcast the usual tiny case at runtime).
    */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastEval: Boolean = true,
      foldCase: Boolean = false): DataFrame = {
    val contaminated = grams(corpus, textCol, n, Seq(col(idCol)), foldCase)
      .join(evalSide(evalSet, textCol, n, broadcastEval, foldCase), Seq("__g"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** SPAN-level decontamination: instead of dropping whole documents,
    * remove exactly the tokens covered by any shared n-gram — the surgical
    * variant for when a 10 000-token document contains one leaked
    * benchmark sentence. Returns every corpus row plus `cleaned` (covered
    * tokens removed, survivors space-joined; null text stays null) and
    * `n_removed_tokens`.
    *
    * Plan: eval gram keys broadcast exactly as in [[decontaminate]]; the
    * corpus's matched gram START positions come back as one small per-doc
    * array (only matching (id, position) pairs ever shuffle — never text),
    * and coverage is pure array math fused into the scan: token j is
    * removed iff some matched start s satisfies s ≤ j < s + n.
    */
  def redactContaminated(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    val matches = occurrences(corpus, idCol, wordNgrams(col(textCol), n))
      .join(evalSide(evalSet, textCol, n, broadcastEval), Seq("__g"))
    redactByStarts(corpus, matches, idCol, textCol, n,
      "__toks" -> TextOps.wsTokens(col(textCol)), " ", "n_removed_tokens")
  }

  /** `(idCol, __pos, __g)` occurrence rows of a gram-array column: each
    * gram's 0-based start position and 64-bit key — the narrow table every
    * span-removal op matches on.
    */
  private def occurrences(df: DataFrame, idCol: String, gramArr: Column): DataFrame =
    df.select(col(idCol), posexplode(gramArr).as(Seq("__pos", "__gram")))
      .select(col(idCol), col("__pos"), gramKey(col("__gram")).as("__g"))

  /** Shared tail of the span-removal ops: collect the matched gram starts
    * per document, join them back onto the corpus and remove exactly the
    * covered elements. `hits` holds `(idCol, __pos)` rows, one per matched
    * gram start (0-based positions into the element array); `elems` pairs
    * that array (tokens or characters) with its working column's name.
    * Coverage is pure array math fused into the scan:
    * element j is removed iff some matched start s satisfies
    * s ≤ j < s + n; the survivors are rejoined with `joiner` into
    * `cleaned`, and their shortfall is reported as `removedCol`.
    */
  private def redactByStarts(
      corpus: DataFrame, hits: DataFrame, idCol: String, textCol: String, n: Int,
      elems: (String, Column), joiner: String, removedCol: String): DataFrame = {
    val starts = hits.groupBy(col(idCol)).agg(collect_list(col("__pos")).as("__starts"))
    val (es, elemsOf) = elems
    corpus.join(starts, Seq(idCol), "left")
      .withColumn("__starts", coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn(es, elemsOf)
      .withColumn("__kept",
        keptOutsideWindows(col(es), col("__starts"), n))
      .withColumn("cleaned",
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(joiner, col("__kept"))))
      .withColumn(removedCol,
        // null text splits to null arrays whose size() is null under
        // ANSI semantics — nothing was removed from it, so report 0
        coalesce((size(col(es)) - size(col("__kept"))).cast("bigint"), lit(0L)))
      .drop("__starts", es, "__kept")
  }

  /** Per-document exact repeated-substring report — the corpus analysed
    * against ITSELF instead of an eval set: for every document, how many
    * of its distinct word `n`-grams also occur in at least `minDocs`
    * documents corpus-wide (the doc itself included). Exact-substring
    * duplication at the n-gram level is the signal behind suffix-array
    * training-data dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — public paper); this is its
    * shuffle-friendly n-gram form. Output: `(idCol, n_grams,
    * n_dup_grams)` for every document with at least one gram.
    *
    * Plan shape for 100 TB: text never shuffles. The per-doc DISTINCT
    * (id, gram-key) pairs are 24-byte rows with map-side partial
    * aggregation; gram multiplicities are counted by a second narrow
    * aggregate keyed on the 64-bit gram key alone (never a collected doc
    * list — stop-phrase grams occurring in millions of documents cost one
    * counter, not one array), and the count table joins back on the same
    * gram-key partitioning before the final per-doc rollup.
    */
  def repeatedGramReport(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val pg = gramPostings(corpus, idCol, textCol, n)
    val gc = pg.groupBy(col("__g")).agg(count(lit(1)).as("__nd"))
    pg.join(gc, Seq("__g"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__nd") >= minDocs, 1L).otherwise(0L)).as("n_dup_grams"))
  }

  /** [[contaminationReport]] for eval sets TOO LARGE TO BROADCAST — e.g.
    * decontaminating one corpus partition against the full held-out split
    * of another. `broadcastEval = false` already handles this correctly,
    * but it shuffles EVERY corpus gram to the join; here a Bloom filter
    * over the eval gram keys (a few MB regardless of eval size, built by
    * one pass over the eval side) prunes the corpus grams MAP-SIDE first,
    * so only near-matches — true hits plus an `fpp` fraction of false
    * positives — reach the shuffle. The exact confirm join then removes
    * the false positives, so the result is IDENTICAL to
    * [[contaminationReport]]; the bloom stage only cuts shuffle volume.
    *
    * Probe is Spark's own codegen `BloomFilterMightContain` (the
    * expression behind runtime row-level join filtering) over
    * `xxhash64(gram-key)` — whole-stage codegen, no UDF. The filter rides
    * the plan as a binary literal; at fpp=1e-3 and 100 M eval grams that
    * is ~180 MB of bits, so size `fpp` to the eval side (1e-2 ⇒ ~120 MB
    * per billion grams). Costs one extra count job over the eval grams to
    * size the filter.
    */
  def contaminationReportBloom(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 0.001): DataFrame = {
    // three consumers (count, bloom aggregate, confirm join) — materialize
    // the distinct eval gram keys once instead of re-tokenizing the eval
    // corpus three times
    val ev = Materialize.eager(grams(evalSet, textCol, n, Seq.empty).distinct())
    val bytes = gramKeyBloom(ev)(fpp)
    grams(corpus, textCol, n, Seq(col(idCol)))
      .where(bloomMightContainKey(bytes, col("__g")))
      .join(ev, Seq("__g"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__g")).as("n_shared_grams"))
  }

  /** Serialized bloom filter over a frame of distinct gram keys (column
    * `__g`), sized by an exact count of the keys. Shared by the batch
    * bloom report and the streaming decontamination filter.
    */
  private[graft] def gramKeyBloom(evalKeys: DataFrame)(fpp: Double): Array[Byte] = {
    val nKeys = math.max(evalKeys.count(), 1L)
    val bf = evalKeys.stat.bloomFilter(xxhash64(col("__g")), nKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Codegen probe of a [[gramKeyBloom]] filter: does the bloom (maybe)
    * contain this gram KEY (the 16-hex-char md5 prefix)? No false
    * negatives ever; false positives at the filter's fpp.
    */
  private[graft] def bloomMightContainKey(bytes: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    GraftBridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType),
      GraftBridge.expression(xxhash64(key))))
  }

  /** Distinct eval-side gram keys, exposed for the streaming filter. */
  private[graft] def evalGramKeys(evalSet: DataFrame, textCol: String, n: Int): DataFrame =
    grams(evalSet, textCol, n, Seq.empty).distinct()

  /** Asymmetric n-gram CONTAINMENT pairs — the quote/subset detector
    * Jaccard misses: a short document wholly quoted inside a long one has
    * tiny Jaccard (the union is dominated by the long doc) but containment
    * `|A∩B| / |A|` ≈ 1 for the smaller side. Lee et al. 2022 §4 flag
    * exactly this near-duplication mode; minhash estimates Jaccard, not
    * containment, so the candidate step here is the exact shared-gram
    * join instead. Emits each unordered pair `(id_a < id_b)` sharing at
    * least one qualifying gram with
    * `(id_a, id_b, shared_grams, n_grams_a, n_grams_b, containment)`
    * where `containment = shared / min(n_a, n_b)` (the smaller side's
    * coverage — an exact ratio of distinct-gram counts), filtered at
    * `minContainment`.
    *
    * `maxDf` caps candidate generation: grams appearing in more than
    * `maxDf` documents (boilerplate headers, licence blurbs) are excluded
    * from SHARED-gram counting on both the pair and the oracle side —
    * without the cap a corpus-wide stop-phrase fans out quadratically in
    * the gram-keyed join. Denominators `n_grams_*` stay the UNCAPPED
    * per-document distinct-gram counts, so capping only lowers
    * containment for pairs whose overlap is mostly boilerplate — the
    * pairs the cap exists to mute. Plan shape for 100 TB: text collapses
    * map-side to distinct (id, 16-hex-md5-gram-key) rows; the pair join
    * is keyed on the gram key with per-gram fan-out ≤ maxDf²; only
    * (id_a, id_b) pairs and counters move after that. Text never reaches
    * an Exchange.
    */
  def containmentPairs(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minContainment: Double = 0.5,
      maxDf: Long = 10000L): DataFrame = {
    requirePairArgs(maxDf)
    // the distinct gram table feeds sizes, the df counts, AND both pair
    // sides; consumers optimize the shared subtree differently, so AQE
    // never reuses its stages — materialize ONCE (measured: 6 corpus
    // scans without this) instead of re-running scan+explode+md5 per use.
    // PlanSpec pins the pre-materialization shape through [[containment]]
    val pg = Materialize.eager(gramPostings(corpus, idCol, textCol, n))
    containment(pg, pg, Seq(pg), Within, maxDf, minContainment)
  }

  /** Distinct `(idCol, __g)` gram-key postings of every document — the
    * table the containment forms pair on and [[repeatedGramReport]] counts.
    */
  private[graft] def gramPostings(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    grams(df, textCol, n, Seq(col(idCol))).distinct()

  /** Output names of one pair form: the two id columns, the suffixes of
    * the per-side count columns, and the predicate the pair core applies
    * before counting.
    */
  private[graft] case class Sides(ids: (String, String), tags: (String, String), pair: Column)

  /** One table paired with itself: each unordered pair once. */
  private[graft] val Within = Sides(("id_a", "id_b"), ("a", "b"), col("id_a") < col("id_b"))

  /** A batch against the standing corpus: cross-side pairs only. */
  private[graft] val Across = Sides(("new_id", "existing_id"), ("new", "existing"), lit(true))

  private def requirePairArgs(maxDf: Long, minShared: Long = 1L): Unit = {
    require(maxDf >= 2, s"maxDf must be >= 2 (no pair can share a df-1 key), got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
  }

  /** The df-capped shared-key pair core of every containment and
    * winnowing form. `left` and `right` are `(id, __g)` postings, the id
    * under any name (ids already under their output name are not
    * re-aliased); keys whose document frequency over the union
    * of `dfOver` lies in `[2, maxDf]` join the two sides on the key, the
    * side ids take `s.ids`' names, `s.pair` drops pairs BEFORE the count
    * (a self join never shuffles ordered or self pairs), and each pair
    * carries its number of shared keys as `sharedCol`.
    */
  private def sharedKeyPairs(
      left: DataFrame, right: DataFrame, dfOver: Seq[DataFrame], s: Sides,
      maxDf: Long, sharedCol: String): DataFrame = {
    val capped = dfOver.map(_.select(col("__g"))).reduce(_ unionAll _)
      .groupBy(col("__g")).agg(count(lit(1)).as("__nd"))
      .where(col("__nd") >= 2 && col("__nd") <= maxDf)
      .select(col("__g"))
    def side(p: DataFrame, id: String) = p.join(capped, Seq("__g")).transform(kept =>
      if (idOf(p) == id) kept else kept.select(col(idOf(p)).as(id), col("__g")))
    side(left, s.ids._1).join(side(right, s.ids._2), Seq("__g"))
      .where(s.pair)
      .groupBy(col(s.ids._1), col(s.ids._2))
      .agg(count(lit(1)).as(sharedCol))
  }

  /** The id column of `(id, __g)` postings (a USING join puts `__g` first). */
  private def idOf(postings: DataFrame): String = postings.columns.find(_ != "__g").get

  /** Per-document key counts `(id, __n)` of `(id, __g)` postings. */
  private def keyCounts(postings: DataFrame): DataFrame =
    postings.groupBy(col(idOf(postings))).agg(count(lit(1)).as("__n"))

  /** `pairs` with each side's key count attached as `<prefix>_<tag>`. */
  private def withSizes(
      pairs: DataFrame, s: Sides, prefix: String,
      leftSizes: DataFrame, rightSizes: DataFrame): DataFrame =
    pairs
      .join(leftSizes.toDF(s.ids._1, s"${prefix}_${s.tags._1}"), Seq(s.ids._1))
      .join(rightSizes.toDF(s.ids._2, s"${prefix}_${s.tags._2}"), Seq(s.ids._2))

  /** Containment over the pair core: shared distinct grams against the
    * smaller side's UNCAPPED distinct-gram count, kept at
    * `minContainment`.
    */
  private[graft] def containment(
      left: DataFrame, right: DataFrame, dfOver: Seq[DataFrame], s: Sides,
      maxDf: Long, minContainment: Double): DataFrame = {
    val (na, nb) = (s"n_grams_${s.tags._1}", s"n_grams_${s.tags._2}")
    withSizes(sharedKeyPairs(left, right, dfOver, s, maxDf, "shared_grams"), s, "n_grams",
      keyCounts(left), keyCounts(right))
      .withColumn("containment",
        col("shared_grams").cast("double") / least(col(na), col(nb)).cast("double"))
      .where(col("containment") >= minContainment)
      .select(col(s.ids._1), col(s.ids._2), col("shared_grams"),
        col(na), col(nb), col("containment"))
  }

  /** Winnowing over the pair core: pairs sharing at least `minShared`
    * fingerprints, with both sides' fingerprint counts (`rightSizes`
    * overrides the right side's, counted from `right` by default).
    */
  private[graft] def winnowing(
      left: DataFrame, right: DataFrame, dfOver: Seq[DataFrame], s: Sides,
      maxDf: Long, minShared: Long, rightSizes: Option[DataFrame] = None): DataFrame =
    withSizes(
      sharedKeyPairs(left, right, dfOver, s, maxDf, "shared_fps")
        .where(col("shared_fps") >= minShared),
      s, "n_fps", keyCounts(left), rightSizes.getOrElse(keyCounts(right)))
      .select(col(s.ids._1), col(s.ids._2), col("shared_fps"),
        col(s"n_fps_${s.tags._1}"), col(s"n_fps_${s.tags._2}"))

  /** Winnowed fingerprint keys of one document (Schleimer et al. 2003,
    * SIGMOD — the MOSS algorithm, public): hash every word `n`-gram, slide
    * a window of `w` consecutive hashes, keep each window's MINIMUM, and
    * return the distinct kept values. Value-level winnowing: the selected
    * value SET is independent of which tied position a window picks, so it
    * is engine-portable (16-hex md5 keys compare lexicographically the
    * same everywhere). The winnowing guarantee holds: any shared token run
    * of length ≥ `w + n − 1` contributes at least one shared fingerprint,
    * while expected density drops to ~2/(w+1) of the gram count — the
    * knob that buys partial-overlap detection at a fraction of
    * [[containmentPairs]]' volume. Documents with fewer than `w` grams
    * keep the minimum of what they have (one window); no grams → empty;
    * null text → null.
    *
    * Pure codegen selection fused into the scan (let-bound arrays, no
    * shuffle, no UDF): the per-window `array_min(slice(...))` runs over
    * the ONCE-computed key array.
    */
  def winnowedGramKeys(text: Column, n: Int, w: Int): Column = {
    require(w >= 1, s"window must be >= 1 gram, got $w")
    Dedup.bind(transform(wordNgrams(text, n), g => gramKey(g))) { keys =>
      Dedup.bind(size(keys)) { m =>
        when(m === 0, array().cast("array<string>"))
          .when(m < w, array(array_min(keys)))
          .otherwise(array_distinct(
            transform(sequence(lit(0), m - w),
              j => array_min(slice(keys, j + lit(1), lit(w))))))
      }
    }
  }

  /** Fingerprint-sharing pairs over the winnowed keys — the corpus-scale
    * partial-overlap detector: each unordered pair sharing at least
    * `minShared` qualifying fingerprints, with both sides' fingerprint
    * counts for caller-side scoring. The same df cap and plan shape as
    * [[containmentPairs]], but the shuffled volume is the WINNOWED
    * fingerprint set (~2/(w+1) of the grams) and the per-doc selection
    * happened in the scan, so this is the cheap first pass; route its
    * survivors through [[containmentPairs]]-grade exact verification when
    * exact overlap ratios matter.
    */
  def winnowingPairs(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      w: Int = 4,
      minShared: Long = 2L,
      maxDf: Long = 10000L): DataFrame = {
    requirePairArgs(maxDf, minShared)
    // winnowedGramKeys is per-doc distinct already — no dedup shuffle; the
    // fingerprint table feeds sizes, df counts, and both pair sides, so it
    // materializes once (same rationale as [[containmentPairs]])
    val fp = Materialize.eager(fpPostings(corpus, idCol, textCol, n, w, idCol))
    winnowing(fp, fp, Seq(fp), Within, maxDf, minShared)
  }

  /** Incremental [[winnowingPairs]]: today's batch against the standing
    * corpus, cross-side candidates only — the [[containmentPairsAgainst]]
    * discipline over the winnowed fingerprint sets. Fingerprint df (the
    * `maxDf` cap) counts over the union of both sides, so the result is
    * exactly `winnowingPairs(new ∪ existing)` restricted to cross pairs.
    * Ids must be disjoint across sides. Returns `(new_id, existing_id,
    * shared_fps, n_fps_new, n_fps_existing)`.
    */
  def winnowingPairsAgainst(
      newDocs: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      w: Int = 4,
      minShared: Long = 2L,
      maxDf: Long = 10000L): DataFrame = {
    requirePairArgs(maxDf, minShared)
    val nf = Materialize.eager(fpPostings(newDocs, idCol, textCol, n, w, "new_id"))
    val ef = Materialize.eager(fpPostings(existing, idCol, textCol, n, w, "existing_id"))
    winnowing(nf, ef, Seq(nf, ef), Across, maxDf, minShared)
  }

  // ---- persisted winnowing-fingerprint index ([[EpochStore]] layout) ----

  /** On-disk format version of the fingerprint index; bump on change.
    * v2 records (n, w) in the [[EpochStore]] epoch header.
    */
  val FingerprintIndexFormatVersion: Int = 2

  private[graft] val FingerprintIndex = EpochStore.EpochIndex(
    EpochStore.IndexKind("fingerprint", FingerprintIndexFormatVersion, "writeFingerprintIndex"),
    tables = Seq("postings", "fsizes"), idTable = Some("fsizes"))

  /** `(idAs, __g)` winnowed-fingerprint postings of every document. */
  private[graft] def fpPostings(
      df: DataFrame, idCol: String, textCol: String, n: Int, w: Int,
      idAs: String = "id"): DataFrame =
    df.select(col(idCol).as(idAs), explode(winnowedGramKeys(col(textCol), n, w)).as("__g"))

  private[graft] def resolveFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): EpochStore.Epoch =
    FingerprintIndex.resolve(spark, path)

  /** Persist the standing WINNOWING-FINGERPRINT index on the shared
    * [[EpochStore]] delta-epoch layout (next to LSH dedup, ANN, and
    * paragraph hashes): `postings` = (id, 16-hex
    * fingerprint) rows, `fsizes` = per-doc fingerprint counts, and the epoch
    * header holding (n, w) so probes can never run with mismatched winnowing
    * parameters. A daily job probes arrivals for partial overlap against
    * the whole standing corpus ([[winnowingPairsAgainstIndex]]) and folds
    * them in ([[appendFingerprintIndex]]) without re-reading corpus text.
    * At 100 TB the index is ~2/(w+1) of the corpus' gram keys — the
    * winnowing compression is exactly what makes a standing all-corpus
    * overlap table storable. Non-destructive over a live index; single
    * writer ([[EpochStore.commitEpoch]]).
    *
    * `w = 1` degenerates to a FULL gram-postings index (every distinct
    * gram selected): probes then return exact shared-gram counts, and
    * `shared_fps / least(n_fps_new, n_fps_existing)` IS the
    * [[containmentPairs]] containment — the storage/recall dial between
    * exact containment (w = 1) and cheap winnowed screening (larger w)
    * is one build parameter.
    */
  def writeFingerprintIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int = 8,
      w: Int = 4,
      retainEpochs: Int = 2): Unit =
    FingerprintIndex.build(corpus.sparkSession, path, retainEpochs) { out =>
      val posted = fpPostings(corpus, idCol, textCol, n, w)
      // postings and per-doc counts are independent writes — overlap them;
      // `fsizes` holds one row per posted id, so its footers size the bloom
      EpochStore.Arms.fresh(Map("n" -> n.toString, "w" -> w.toString))(
        () => out.write("postings", posted),
        () => out.write("fsizes", posted.groupBy(col("id")).agg(count(lit(1)).as("nf"))))
    }

  /** Fold new documents into the standing fingerprint index: ONLY the
    * batch's postings and counts are written (per-doc payloads carry no
    * cross-doc state, so append ≡ rebuild on the union trivially —
    * table-for-table); standing data rides forward by manifest reference.
    * Ids must be disjoint from the index — re-appending a committed batch
    * would double its postings — enforced by the same bloom-then-exact
    * guard as the dedup/ANN appends (O(1) standing reads on clean
    * appends). Winnowing parameters come FROM the index.
    */
  def appendFingerprintIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): Unit =
    FingerprintIndex.appendNew(newDocs, idCol, path, retainEpochs, "appendFingerprintIndex",
      "double its postings") { (cur, out) =>
      val posted = fpPostings(newDocs, idCol, textCol, cur.header.int("n"), cur.header.int("w"))
      EpochStore.Arms(
        () => out.write("postings", posted),
        () => out.write("fsizes", posted.groupBy(col("id")).agg(count(lit(1)).as("nf"))))
    }

  /** Merge the fingerprint index's delta history into one file set per
    * table — the same maintenance op as every index's compact; a fresh
    * right-sized id bloom replaces the merged one.
    */
  def compactFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      retainEpochs: Int = 2): Unit =
    FingerprintIndex.compact(spark, path, retainEpochs) { (cur, out) =>
      EpochStore.Arms(
        () => out.write("postings", EpochStore.readTable(spark, cur, "postings")),
        () => out.write("fsizes", EpochStore.readTable(spark, cur, "fsizes")))
    }

  /** [[winnowingPairsAgainst]] with the EXISTING side read from the
    * standing index — the daily partial-overlap job: no standing text is
    * touched, winnowing parameters come FROM the index, and the standing
    * postings scan is pruned to the batch's fingerprint keys by a
    * broadcast semi-join BEFORE anything shuffles (the touched-buckets
    * discipline of the dedup append). Fingerprint df for the `maxDf` cap
    * counts batch + standing occurrences of each candidate key — the same
    * union semantics as the direct form, so probe ≡
    * `winnowingPairsAgainst(batch, corpus)` row-for-row.
    */
  def winnowingPairsAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      minShared: Long = 2L,
      maxDf: Long = 10000L): DataFrame = {
    requirePairArgs(maxDf, minShared)
    val spark = batch.sparkSession
    val ep = resolveFingerprintIndex(spark, path)
    // the batch's fingerprints feed the touched-key broadcast, the df
    // counts, the pair join, and the per-doc sizes — materialize once so
    // the batch text is winnowed exactly once. The PRUNED standing side
    // stays lazy: its two consumers (df counts, pair join) each re-run
    // only a narrow two-column postings scan behind the broadcast
    // semi-join — cheap by construction, and the probe plan stays
    // inspectable (PlanSpec pins the prune shape). Standing sizes come
    // from `fsizes`: the pruned postings hold only the touched keys.
    val nf = Materialize.eager(fpPostings(
      batch, idCol, textCol, ep.header.int("n"), ep.header.int("w"), "new_id"))
    val touched = nf.select(col("__g")).distinct()
    val ef = EpochStore.readTable(spark, ep, "postings")
      .join(broadcast(touched), Seq("__g"), "left_semi")
      .withColumnRenamed("id", "existing_id")
    winnowing(nf, ef, Seq(nf, ef), Across, maxDf, minShared,
      Some(EpochStore.readTable(spark, ep, "fsizes")))
  }

  /** Incremental [[containmentPairs]]: today's batch against the standing
    * corpus, generating ONLY cross-side candidates — new×new and
    * existing×existing pairs are never formed, the
    * [[Dedup.minhashPairsAgainst]] discipline at containment semantics.
    * Gram document-frequency (the `maxDf` boilerplate cap) is computed
    * over the UNION of both sides, so the result is exactly
    * `containmentPairs(new ∪ existing)` restricted to cross pairs — a
    * batch that later folds into the corpus sees the same pairs either
    * way. Ids must be disjoint across sides (same contract as appending).
    * Returns `(new_id, existing_id, shared_grams, n_grams_new,
    * n_grams_existing, containment)` with the same min-side containment
    * and UNCAPPED denominators as the batch form.
    */
  def containmentPairsAgainst(
      newDocs: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minContainment: Double = 0.5,
      maxDf: Long = 10000L): DataFrame = {
    requirePairArgs(maxDf)
    val ng = Materialize.eager(gramPostings(newDocs, idCol, textCol, n))
    val eg = Materialize.eager(gramPostings(existing, idCol, textCol, n))
    containment(ng, eg, Seq(ng, eg), Across, maxDf, minContainment)
  }

  /** Pairwise stratum-overlap matrix — "which sources leak into which":
    * for every pair of corpus strata (sources, dumps, snapshots …), the
    * number of DISTINCT word `n`-grams they share. The mixing-table
    * diagnostic run before combining corpora: a large off-diagonal entry
    * means two "independent" sources substantially duplicate each other
    * (mirrors, re-crawls), and their mixing weights double-count.
    * Output: `(stratum_a, stratum_b, n_shared_grams)` with
    * `stratum_a < stratum_b`; non-overlapping pairs are absent.
    *
    * Plan shape for 100 TB: text reduces map-side to DISTINCT (stratum,
    * 64-bit gram-key) pairs — the corpus collapses to at most
    * nStrata × distinct-grams narrow rows before the one self-join on the
    * gram key. Per shared gram the join yields at most nStrata²/2 pairs,
    * so this is for MIXING-GRADE strata counts (tens to hundreds of
    * sources), not per-document grouping — [[repeatedGramReport]] is the
    * per-document form.
    */
  def sourceOverlapMatrix(
      corpus: DataFrame,
      stratumCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val sg = grams(corpus, textCol, n, Seq(col(stratumCol))).distinct()
    val a = sg.select(col(stratumCol).as("stratum_a"), col("__g"))
    val b = sg.select(col(stratumCol).as("stratum_b"), col("__g"))
    a.join(b, Seq("__g"))
      .where(col("stratum_a") < col("stratum_b"))
      .groupBy(col("stratum_a"), col("stratum_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Cross-document SPAN dedup — remove repeated text, keep one copy: for
    * every word `n`-gram occurring in two or more documents, the document
    * with the smallest `idCol` keeps its text and every OTHER document has
    * the tokens covered by that gram removed (the keep-one-occurrence rule
    * of Lee et al. 2022, applied at n-gram granularity; min-id is the
    * engine-portable canonical choice). Returns every corpus row plus
    * `cleaned` and `n_removed_tokens`, exactly like
    * [[redactContaminated]]; null text stays null.
    *
    * Plan shape for 100 TB: the gram machinery moves only (id, position,
    * 64-bit gram-key) rows. One aggregate keyed on the gram key finds the
    * winner (`min(id)`) and the distinct-doc count; only grams that
    * actually repeat across documents survive it, so the join back is
    * against a filtered table partitioned on the same key, and only
    * LOSING (id, start) pairs reach the per-doc collect — bounded by the
    * document's own token count. The one place corpus TEXT can shuffle is
    * the final starts→corpus attach join (shared with
    * [[redactContaminated]]): AQE broadcasts the per-doc start arrays
    * when they fit, otherwise the corpus rows shuffle ONCE on the id —
    * the same unavoidable exchange any row-level enrichment pays.
    */
  def dedupRepeatedSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val occ = occurrences(corpus, idCol, wordNgrams(col(textCol), n))
    redactByStarts(corpus, losingStarts(occ, idCol), idCol, textCol, n,
      "__toks" -> TextOps.wsTokens(col(textCol)), " ", "n_removed_tokens")
  }

  /** The span-dedup winner election: for every gram key occurring in two
    * or more documents, the smallest id wins; the `(idCol, __pos)`
    * occurrences of every OTHER document are returned as the starts to
    * remove.
    */
  private def losingStarts(occ: DataFrame, idCol: String): DataFrame = {
    val winners = occ.groupBy(col("__g"))
      .agg(min(col(idCol)).as("__w"), countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= 2)
      .select(col("__g"), col("__w"))
    occ.join(winners, Seq("__g")).where(col(idCol) =!= col("__w"))
  }

  /** [[dedupRepeatedSpans]] at CHARACTER granularity — the ExactSubstr
    * variant of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — public paper) for
    * whitespace-free scripts: a duplicated CJK run is ONE opaque token to
    * the word-gram path (a 60-character repeated passage is invisible to
    * it), but its character n-gram windows are shared. For every char
    * `n`-gram occurring in two or more documents, the smallest-`idCol`
    * document keeps its text and every OTHER document removes the covered
    * CHARACTER positions (interval union — overlapping duplicate windows
    * never double-count). Returns every corpus row plus `cleaned` (kept
    * characters rejoined; null text stays null) and `n_removed_chars`.
    *
    * Windows come from the native code-point kernel
    * ([[graft.functions.native.charNgrams]]) over the RAW text — no
    * normalization, positions are exact offsets into the original string
    * (DuckDB's `substr` convention, so the whole report hashes
    * cross-engine).
    *
    * Plan shape for 100 TB: this is the expensive dedup granularity — the
    * gram ledger carries ONE row per character, (id, pos, 64-bit key),
    * which is the suffix-array price paid in shuffle form; run it on the
    * already word-deduped survivors, not the raw corpus. Text itself
    * never shuffles except the final per-doc starts→corpus attach join
    * (AQE broadcasts the start arrays when they fit), and the winner
    * aggregate is keyed on the 16-hex gram hash with map-side partials.
    */
  def dedupRepeatedCharSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 20): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n (n = 1 would dedup every " +
      "character the corpus shares)")
    val chars = graft.functions.native.charNgrams(col(textCol), _: Int)
    redactByStarts(corpus, losingStarts(occurrences(corpus, idCol, chars(n)), idCol),
      idCol, textCol, n, "__chars" -> chars(1), "", "n_removed_chars")
  }

  /** The elements of `elems` NOT covered by any window `[s, s+n)` for
    * `s ∈ starts` — the coverage kernel of [[redactByStarts]], which
    * every span-removal op ends in. Round-15 shape: the round-14 form
    * tested every position against the raw start list
    * (`O(len · |starts|)` interpreted lambda steps per row — toward
    * `O(len²)` on a document where most positions start a duplicated
    * window), so the starts now pre-merge into DISJOINT intervals and
    * the kept array assembles from the uncovered slices:
    *
    *   - every window has the same width `n`, so merged intervals follow
    *     from one gap rule over the SORTED starts: a start opens a new
    *     interval iff it sits ≥ n past its predecessor, and closes its
    *     chain iff the next start opens one — two linear indexed
    *     `filter`s over the sorted array, no quadratic accumulator
    *     rebuilding;
    *   - kept = the ≤ m+1 inter-interval `slice`s concatenated by one
    *     `aggregate` over the m merged intervals (slices are native and
    *     copy each element once).
    *
    * Total per row: O(s log s) for the sort + O(s) interpreted lambda
    * steps + O(len) native element copies. Null `elems` (null text)
    * propagates null exactly like the filter form; empty starts return
    * `elems` whole. Same removal rule bit-for-bit: position j is covered
    * iff some start s has s ≤ j < s+n (OpsPropertySpec pins the
    * equivalence against the naive per-position scan).
    */
  private[ops] def keptOutsideWindows(
      elems: Column, starts: Column, n: Int): Column =
    Dedup.bind(array_sort(starts)) { ss =>
      Dedup.bind(zip_with(
        // interval los: starts opening a chain…
        filter(ss, (s, i) => when(i === 0, lit(true))
          .otherwise(s - element_at(ss, i) >= n)),
        // …paired 1:1 with the chain-closing starts (+n below): the gap
        // rule makes opens and closes alternate, so the k-th open pairs
        // with the k-th close
        filter(ss, (s, i) => when(i === size(ss) - 1, lit(true))
          .otherwise(element_at(ss, i + 2) - s >= n)),
        (lo, last) => struct(lo.as("lo"), (last + n).as("hi")))) { ivs =>
        Dedup.bind(aggregate(
          ivs,
          struct(slice(elems, 1, 0).as("acc"), lit(0).as("pos")),
          (st, iv) => struct(
            concat(st("acc"),
              slice(elems, st("pos") + 1,
                greatest(iv("lo") - st("pos"), lit(0)))).as("acc"),
            iv("hi").as("pos")),
          st => concat(st("acc"),
            slice(elems, st("pos") + 1,
              greatest(size(elems) - st("pos"), lit(0)))))) { kept =>
          // a null element array must stay null (the filter form's
          // behavior): the aggregate above would fold it through concat
          // as null anyway, but state it once, loudly
          when(elems.isNull, lit(null).cast("array<string>")).otherwise(kept)
        }
      }
    }
}
