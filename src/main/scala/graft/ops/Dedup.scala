package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the point of this module):
  *   - signatures are pure per-row expressions (codegen, no shuffle);
  *   - candidate generation is ONE shuffle keyed by (band, bandHash) —
  *     documents only meet if they collide in some band, so the join fan-out
  *     is the number of true near-duplicate candidates, not n²;
  *   - exact-Jaccard verification only touches candidate pairs.
  * A brute-force n² compare never appears anywhere in the plan.
  */
object Dedup {

  /** Let-binding for Column expressions: evaluate `x` ONCE and reference it
    * as a cheap lambda variable inside `body`.
    *
    * Why this exists: any sub-expression appearing in a higher-order-function
    * lambda BODY is re-evaluated for every array element, and Catalyst's
    * CollapseProject happily inlines an upstream projection's expression into
    * downstream lambdas — nesting minhash (64 hashes) inside banding (32
    * slices) inside shingling (per-token split) this way multiplies into
    * ~1e5 regex splits per row (observed: 455 s for 5000 docs). Wrapping the
    * expensive expression as the ARGUMENT of a singleton `transform` pins it
    * to exactly one evaluation per row, immune to projection collapsing.
    */
  private[ops] def bind(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Exact dedup: one surviving (minimum) id per identical text. A single
    * hash-aggregate shuffle on a 32-byte key — never shuffles full text.
    */
  def exactKeepMin(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as(idCol))

  /** [[exactKeepMin]] with a QUALITY key: among byte-identical texts keep
    * the copy with the highest `scoreCol` (ties: smallest `idCol`) — the
    * production rule "keep the best copy of each duplicate" (most recent
    * crawl, cleanest metadata, highest-quality source). Returns the
    * surviving FULL rows, unlike [[exactKeepMin]]'s (hash, id) pairs.
    *
    * Plan shape for 100 TB: the winner election runs on a PROJECTED
    * (16-byte hash, id, score) table — text does not ride the window
    * shuffle; the survivors then semi-join back by id (AQE broadcasts the
    * winner set when it fits). Null texts form ONE duplicate class (their
    * hash is null), matching [[exactKeepMin]]; null scores sort last.
    */
  def exactKeepBest(
      df: DataFrame,
      textCol: String,
      idCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__h"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val winners = df
      .select(md5(col(textCol).cast("binary")).as("__h"), col(idCol), col(scoreCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** PARAGRAPH-level exact dedup with document reassembly — the C4/CCNet
    * pipeline step between whole-document dedup and n-gram span dedup:
    * split every document on blank lines, keep exactly the FIRST
    * occurrence of each distinct paragraph corpus-wide (ordered by id,
    * then position — engine-portable and deterministic), and rebuild each
    * document from its surviving paragraphs. Returns every corpus row
    * plus `cleaned` (survivors re-joined with a blank line; null text
    * stays null) and `n_paras` / `n_kept_paras`.
    *
    * Plan shape for 100 TB: the dedup decision moves only (16-byte
    * paragraph hash, id, position) rows through the one hash-keyed
    * window; the surviving positions come back as one small per-doc
    * array, and reassembly is array math fused into the corpus scan
    * (filter by position, `concat_ws`) — paragraph TEXT never rides a
    * shuffle except the final per-doc attach join, where AQE broadcasts
    * the position arrays when they fit (the [[Decontam.redactByStarts]]
    * pattern).
    */
  def dedupParagraphs(
      corpus: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val occ = paragraphOccurrences(corpus, textCol, col(idCol))
    attachKeptParagraphs(corpus, firstOccurrence(occ, idCol), idCol, textCol)
  }

  /** [[dedupParagraphs]] with a QUALITY key — the C4-style refinement
    * production pipelines actually want: among the copies of a duplicate
    * paragraph, keep the one from the highest-`scoreCol` DOCUMENT (most
    * recent crawl, cleanest source), not the lowest-id first occurrence.
    * Ties break to the smallest id then smallest position — a total
    * order, so the kept copy is engine-reproducible; null scores sort
    * last (the same election contract as [[exactKeepBest]]). Output shape
    * is identical to [[dedupParagraphs]].
    *
    * Plan shape for 100 TB: same as [[dedupParagraphs]] — the per-doc
    * score rides the occurrence projection out of the SAME row (no join
    * to attach it), the election window moves only (16-byte hash, score,
    * id, pos), and paragraph text never shuffles except the final
    * per-doc attach of the surviving position arrays.
    *
    * Index-probe contract: the standing paragraph index
    * ([[writeParagraphIndex]]) stores ONLY hashes, so a probe can never
    * re-elect a winner among already-committed copies — the index
    * lifecycle keeps first-committed-wins
    * ([[dedupParagraphsAgainstIndex]]). Keep-best elections apply WITHIN
    * a corpus or within a batch BEFORE it is appended; an already-indexed
    * paragraph always suppresses later copies regardless of score.
    */
  def dedupParagraphsKeepBest(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String): DataFrame = {
    val occ = paragraphOccurrences(corpus, textCol, col(idCol), col(scoreCol))
    attachKeptParagraphs(corpus, firstOccurrence(occ, idCol, col(scoreCol).desc),
      idCol, textCol)
  }

  /** SITE-level boilerplate removal — the complement of
    * [[dedupParagraphs]] for the "same nav/footer on every page of a
    * site" problem that survives per-page HTML extraction (the
    * cross-PAGE signal jusText/trafilatura-class extractors cannot see
    * from one page): a paragraph occurring in at least `minDocs`
    * DISTINCT documents of the SAME `domainCol` group is boilerplate and
    * is removed from EVERY document — including the first copy; unlike
    * dedup's keep-first election, site chrome has no copy worth keeping.
    * Cross-domain repeats are untouched (a quote syndicated across sites
    * is content, not chrome — run corpus-wide [[dedupParagraphs]] after
    * this for those). Null domains form one "unknown site" group. Output
    * shape matches [[dedupParagraphs]] (`cleaned`, `n_paras`,
    * `n_kept_paras`).
    *
    * Plan shape for 100 TB: the verdict moves only (domain, 16-byte
    * hash, id, pos) through one (domain, hash)-keyed aggregate; the
    * boilerplate set is chrome-sized and joins back anti on the same
    * keys; paragraph text never shuffles except the final per-doc attach
    * of the surviving position arrays.
    */
  def stripBoilerplateParagraphs(
      corpus: DataFrame,
      domainCol: String,
      idCol: String,
      textCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2,
      s"minDocs must be >= 2 (1 would strip every paragraph), got $minDocs")
    val occ = paragraphOccurrences(corpus, textCol, col(domainCol).as("__dom"), col(idCol))
    // boiler derives FROM occ — rename its keys so the anti-join
    // condition can't resolve both sides to the same attribute (the
    // self-join trap: '__h == __h' is trivially true and drops all)
    val boiler = occ.groupBy(col("__dom"), col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__dom").as("__bdom"), col("__h").as("__bh"))
    // null-safe domain key: a null domain must match the boilerplate rows
    // it produced (plain === would drop the whole unknown-site group)
    val kept = occ.join(boiler,
      col("__dom") <=> col("__bdom") && col("__h") === col("__bh"), "left_anti")
    attachKeptParagraphs(corpus, kept, idCol, textCol)
  }

  /** Blank-line paragraph separator shared by every paragraph op —
    * tolerates Windows CRLF line endings (a real crawl mixes both), and
    * the non-capturing group splits identically under Java regex and RE2,
    * so an oracle engine computes the same paragraphs.
    */
  private[graft] val ParaSep = "(?:\r?\n){2,}"

  /** (carried columns…, position, md5-hash) per paragraph — the narrow
    * occurrence table all paragraph dedup variants key on; `carry` lists
    * the leading columns (the document id among them).
    */
  private def paragraphOccurrences(df: DataFrame, textCol: String, carry: Column*): DataFrame = {
    val occ = df.select(carry :+
      posexplode(split(col(textCol), ParaSep)).as(Seq("__pos", "__para")): _*)
    occ.select(occ.columns.toSeq.filter(_ != "__para").map(col) :+
      md5(col("__para").cast("binary")).as("__h"): _*)
  }

  /** First occurrence of each distinct hash: the least by `first`, then
    * (id, position).
    */
  private def firstOccurrence(occ: DataFrame, idCol: String, first: Column*): DataFrame = {
    val w = Window.partitionBy(col("__h"))
      .orderBy(first ++ Seq(col(idCol).asc, col("__pos").asc): _*)
    occ.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
  }

  /** Rebuild documents from their surviving paragraph occurrences
    * (`(idCol, __pos)` rows) — the positions collect per document, and
    * reassembly is array math fused into the corpus scan.
    */
  private def attachKeptParagraphs(
      corpus: DataFrame, kept: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.join(kept.groupBy(col(idCol)).agg(collect_list(col("__pos")).as("__keep")),
        Seq(idCol), "left")
      .withColumn("__keep", coalesce(col("__keep"), array().cast("array<int>")))
      .withColumn("__paras", split(col(textCol), ParaSep))
      .withColumn("__kept", filter(col("__paras"), (p, i) => array_contains(col("__keep"), i)))
      .withColumn("cleaned",
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws("\n\n", col("__kept"))))
      .withColumn("n_paras",
        coalesce(size(col("__paras")).cast("bigint"), lit(0L)))
      .withColumn("n_kept_paras",
        coalesce(size(col("__kept")).cast("bigint"), lit(0L)))
      .drop("__keep", "__paras", "__kept")

  // ---- persisted paragraph-hash index ([[EpochStore]] delta-epoch layout) ----

  /** On-disk format version of the paragraph index; bump on layout change.
    * v2 records everything per-epoch in the [[EpochStore]] header.
    */
  val ParagraphIndexFormatVersion: Int = 2

  private[graft] val ParagraphIndex = EpochStore.EpochIndex(
    EpochStore.IndexKind("paragraph", ParagraphIndexFormatVersion, "writeParagraphIndex"),
    tables = Seq("phashes"))

  /** Distinct paragraph hashes of a corpus — the whole index payload. */
  private def paraHashes(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), ParaSep)).as("__para"))
      .select(md5(col("__para").cast("binary")).as("h")).distinct()

  private[graft] def resolveParagraphIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): EpochStore.Epoch =
    ParagraphIndex.resolve(spark, path)

  /** The live hash table (`h`) of a resolved epoch — pure delta union. */
  private[graft] def paragraphIndexHashes(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): DataFrame =
    EpochStore.readTable(spark, ep, "phashes")

  /** Persist the standing PARAGRAPH-hash index: the distinct md5 of every
    * blank-line paragraph in the corpus, on the shared [[EpochStore]]
    * delta-epoch layout, next to the LSH dedup index and the ANN index.
    * A daily job probes arrivals against it
    * ([[dedupParagraphsAgainstIndex]]) and folds them in
    * ([[appendParagraphIndex]]) without ever re-reading corpus text: at
    * 100 TB the index is one 16-byte column of distinct hashes.
    * Non-destructive over an existing index (epoch N+1 + atomic pointer
    * commit), same single-writer contract as the other indexes.
    */
  def writeParagraphIndex(
      corpus: DataFrame,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): Unit =
    ParagraphIndex.build(corpus.sparkSession, path, retainEpochs) { out =>
      EpochStore.Arms(() => out.write("phashes", paraHashes(corpus, textCol)))
    }

  /** Fold a batch of new documents into the standing paragraph index:
    * writes ONLY the hashes the index has never seen (one narrow anti-join
    * on the 16-byte hash), carries standing data forward BY REFERENCE, so
    * append ≡ rebuild on the union corpus table-for-table. Replaying a
    * committed batch is a NO-OP by construction (its hashes are all known
    * → empty delta → no new epoch), so this append needs no duplicate-id
    * tripwire and is safe under at-least-once schedulers.
    */
  def appendParagraphIndex(
      newDocs: DataFrame,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): Unit = {
    val spark = newDocs.sparkSession
    ParagraphIndex.append(spark, path, retainEpochs) { (cur, out) =>
      EpochStore.Arms { () =>
        out.write("phashes", paraHashes(newDocs, textCol)
          .join(paragraphIndexHashes(spark, cur), Seq("h"), "left_anti"))
        // nothing new — leave the live epoch untouched (idempotent replay)
        if (EpochStore.parquetRowCount(spark, out.location("phashes")) == 0L) out.abort()
      }
    }
  }

  /** Merge the paragraph index's accumulated delta dirs into ONE file set
    * — same maintenance op as [[compactDedupIndex]].
    */
  def compactParagraphIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      retainEpochs: Int = 2): Unit =
    ParagraphIndex.compact(spark, path, retainEpochs) { (cur, out) =>
      EpochStore.Arms(() => out.write("phashes", paragraphIndexHashes(spark, cur)))
    }

  /** [[dedupParagraphs]] for DAILY ARRIVALS against the standing index:
    * drop every paragraph whose hash the index already holds, and (with
    * `withinBatch = true`, the default) also keep only the first
    * occurrence of each new paragraph within the batch itself — the exact
    * daily-job twin of running [[dedupParagraphs]] over the union corpus,
    * for the cost of one narrow anti-join against the index's hash column.
    * `withinBatch = false` skips the in-batch window (index suppression
    * only — arrivals already deduped upstream). Batch/`foreachBatch`
    * shapes both ways; for a per-ROW stateless stream filter use
    * [[graft.streaming.StreamingOps.suppressKnownParagraphsStream]].
    */
  def dedupParagraphsAgainstIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      withinBatch: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    val idx = paragraphIndexHashes(spark, resolveParagraphIndex(spark, path))
      .withColumnRenamed("h", "__h")
    val fresh = paragraphOccurrences(docs, textCol, col(idCol))
      .join(idx, Seq("__h"), "left_anti")
    val keep = if (withinBatch) firstOccurrence(fresh, idCol) else fresh
    attachKeptParagraphs(docs, keep, idCol, textCol)
  }

  /** k-word shingles of a text column (empty when fewer than k tokens).
    * The token array is let-bound so the split regex runs once per row, not
    * once per shingle.
    */
  def shingles(text: Column, k: Int): Column =
    bind(TextOps.wsTokens(text)) { toks =>
      when(size(toks) < k, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    }

  /** MinHash signature: for each of `numHashes` seeded xxhash64 functions,
    * the minimum hash over the shingle set. Pure expression per row: one
    * `transform(sequence(...))` (O(1) tree size — `numHashes` sibling
    * expressions would re-inline at every downstream reference and produce
    * 30 MB task binaries) with the shingle array let-bound (evaluated once,
    * traversed `numHashes` times).
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    bind(sh) { shv =>
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(shv, s => xxhash64(i, s))))
    }

  /** Candidate near-duplicate pairs via MinHash LSH over k-word shingles,
    * verified with exact shingle-set Jaccard. Returns (idA, idB, jaccard)
    * with idA < idB.
    *
    * @param threshold exact Jaccard cutoff applied after LSH candidate
    *   generation (the usual two-phase filter).
    */
  def minhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    // Fused native kernel (graft.functions.MinHashBandHashes): one codegen
    // call per row computes shingles → numHashes minima → band hashes,
    // hashing each shingle ONCE and deriving the hash family by
    // long-mixing. The HOF `minhashSignature` computes a signature over a
    // different (per-seed string hash) family, and pays interpreted lambda
    // evaluation per element.
    val side = minhashSide(df, textCol, idCol, k, numHashes, bands)
    lshVerifiedPairs(side, side, threshold)
  }

  /** THE MinHash projection of a document frame: `idCol` as `id`, the fused
    * band hashes `bh` and the hashed shingle set `hs` of its raw tokens —
    * one definition of the banding that every pair op, index table and
    * probe shares, so their buckets always collide compatibly. A consumer
    * selecting one of `bh`/`hs` prunes the other kernel from the plan.
    */
  private def minhashSide(
      df: DataFrame, textCol: String, idCol: String, k: Int, numHashes: Int, bands: Int,
      id: String = "id", hs: String = "hs"): DataFrame = {
    val tokens = TextOps.rawTokens(col(textCol))
    df.select(col(idCol).as(id),
      graft.functions.native.minhashBandHashes(tokens, k, numHashes, bands).as("bh"),
      graft.functions.native.hashedShingleSet(tokens, k).as(hs))
  }

  /** One `(band, bhash, keep…)` row per element of `side`'s `bh` band
    * hashes. A plain `posexplode` would do, but Spark infers a
    * `size(bh) > 0 AND isnotnull(bh)` filter under every inner generator,
    * pushdown substitutes the signature kernel into it, and the kernel
    * then runs up to three times per row. `posexplode_outer` gets no
    * inferred filter; its one null row per empty or null `bh` is dropped
    * above the generator, so the rows are the same.
    */
  private def bandRows(side: DataFrame, keep: String*): DataFrame =
    side.select(posexplode_outer(col("bh")).as(Seq("band", "bhash")) +: keep.map(col): _*)
      .where(col("band").isNotNull)

  /** `buckets` (band, bhash, …) rows with their bucket's size `n` — the
    * oversize guard's count, a window over the bucket key (no self-join).
    */
  private def withBucketSize(buckets: DataFrame): DataFrame =
    buckets.withColumn("n", count(lit(1)).over(Window.partitionBy(col("band"), col("bhash"))))

  /** Character n-gram near-duplicate pairs: MinHash LSH over the `n`-char
    * grams of whitespace-normalized lowercase text, verified with exact
    * n-gram-set Jaccard. More robust than word shingles to punctuation /
    * token-boundary edits; same one-shuffle LSH plan ([[lshVerifiedPairs]]).
    * The native kernel is reused with k = 1 (each n-gram IS a shingle).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 10,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val sigs = df.select(
      col(idCol).as("id"),
      graft.functions.native
        .minhashBandHashes(charNgrams(col(textCol), n), 1, numHashes, bands)
        .as("bh"))
    val withHs = df.select(
      col(idCol).as("id"),
      graft.functions.native
        .hashedShingleSet(charNgrams(col(textCol), n), 1).as("hs"))
    lshVerifiedPairs(sigs, withHs, threshold)
  }

  /** Character n-grams of whitespace-normalized lowercase text (empty when
    * shorter than n): `regexp_replace(lower(trim(text)), "\\s+", " ")`
    * cut into windows, as the one native
    * [[graft.functions.NormalizedCharNgrams]] kernel.
    */
  def charNgrams(text: Column, n: Int): Column =
    graft.functions.native.normalizedCharNgrams(text, n)

  /** Candidate pairs from LSH buckets WITHOUT a self-join: one shuffle
    * groups ids per (band, bucket-hash), oversized buckets are dropped
    * (`maxBucketSize` — the standard production-LSH guard: a degenerate
    * bucket of B docs would emit B²/2 pairs; on templated corpora B can be
    * the whole template cluster), and the ≤cap²/2 pairs per kept bucket are
    * generated in-executor from the grouped id array.
    *
    * @param buckets (band, bhash, id) rows — one per document per band.
    */
  private[ops] def candidatePairs(buckets: DataFrame, maxBucketSize: Int): DataFrame = {
    // Count-first prune: bucket sizes come from a window count over the
    // same partition keys, so singleton and oversized buckets drop BEFORE
    // any id array materializes — a degenerate bucket only ever streams
    // through the window's spillable row buffer, never into a collect_list
    // aggregation buffer (the non-spillable OOM risk this replaces). The
    // groupBy after the filter reuses the window's hash partitioning:
    // still ONE exchange total (PlanSpec asserts).
    val grouped = withBucketSize(buckets)
      .where(col("n") >= 2 && col("n") <= maxBucketSize)
      .groupBy(col("band"), col("bhash"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
    // Two generator stages (posexplode → slice → explode), all codegen —
    // no interpreted lambdas in the pair fan-out, which is the single
    // highest-cardinality intermediate of the whole dedup plan. `ids` is
    // sorted ONCE per bucket, in the aggregate.
    grouped
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + 2,
          greatest(size(col("ids")) - col("i") - 1, lit(0)))).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Shared LSH candidate-generation + exact-Jaccard verification.
    *
    * @param sigs  (id, bh: array<bigint>) — per-doc band hashes; empty array
    *   ⇒ doc is skipped.
    * @param withHs (id, hs: array<bigint>) — sorted-distinct hashed shingle
    *   sets ([[graft.functions.HashedShingleSet]]) used for exact
    *   verification: one merge scan per candidate pair, and the
    *   verification join shuffles 8-byte hashes instead of gram strings.
    *
    * The bucket shuffle carries ONLY (band, bandHash, id) — never shingle
    * arrays. At 100 TB the explode is `bands`× the id column, not `bands`×
    * the corpus text; verification re-joins hashed sets onto the (small)
    * deduplicated candidate set.
    */
  private def lshVerifiedPairs(
      sigs: DataFrame,
      withHs: DataFrame,
      threshold: Double,
      maxBucketSize: Int = 4096): DataFrame = {
    candidatePairs(bandRows(sigs, "id"), maxBucketSize)
      .join(withHs.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(withHs.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.native.jaccardSorted(col("hs_a"), col("hs_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental near-dup check: NEW documents against an EXISTING corpus —
    * the standing-corpus reality at 100 TB (you do not re-pair the world,
    * you check the day's arrivals). Returns (new_id, existing_id, jaccard)
    * at or above `threshold`. Candidates come from joining the new side's
    * LSH buckets to the existing side's — the same fused kernel family, so
    * buckets are compatible — which means new×new and existing×existing
    * pairs are NEVER generated and the join cost is the new side's buckets
    * probing matching existing buckets, not corpus². Oversized existing
    * buckets drop under the same production guard as [[minhashPairs]]. At
    * steady state the existing side's (band, bhash, id) rows and hashed
    * shingle sets are exactly the artifacts a pipeline persists as its
    * standing dedup index.
    */
  def minhashPairsAgainst(
      newDocs: DataFrame,
      existing: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Int = 4096): DataFrame = {
    // the corpus side derives exactly the persisted index's tables: the
    // oversize-guarded buckets of writeDedupIndex, and the shingle sets
    val buckets = withBucketSize(
      bandRows(minhashSide(existing, textCol, idCol, k, numHashes, bands, id = "existing_id"),
        "existing_id"))
      .where(col("n") <= maxBucketSize)
      .drop("n")
    val sets = minhashSide(existing, textCol, idCol, k, numHashes, bands,
      id = "existing_id", hs = "hs_b").select("existing_id", "hs_b")
    probePairs(newDocs, textCol, idCol, k, numHashes, bands, buckets, sets, threshold)
  }

  /** On-disk format version of the persisted dedup index. Bumped whenever
    * the layout or the semantics of any index table change; every reader
    * checks it ([[resolveIndex]]) so a standing index written by an older
    * build fails LOUDLY instead of silently probing with drifted banding
    * or missing tombstones. v1 (round 6) had no `dropped` table and no
    * version column; v2 added both; v3 made each state a complete epoch
    * dir committed by one atomic pointer rename; v4 is the DELTA-epoch
    * layout ([[EpochStore]]): an epoch's `buckets`/`sets` tables are a
    * manifest over immutable `data/` parquet dirs, so an append writes
    * only its delta files and carries the standing data forward BY
    * REFERENCE — never a copy of the index (v3 rewrote both tables, and
    * `sets` is the same order of magnitude as the corpus token stream);
    * v5 replaces the per-epoch `manifest`/`meta`/`idbloom` parquet tables
    * with the one epoch header (read and written without Spark jobs).
    */
  val DedupIndexFormatVersion: Int = 5

  private[graft] val DedupIndex = EpochStore.EpochIndex(
    EpochStore.IndexKind("dedup", DedupIndexFormatVersion, "writeDedupIndex"),
    tables = Seq("buckets", "sets"), epochTables = Seq("dropped"), idTable = Some("sets"))

  /** Resolve the live epoch and check its header's kind and format
    * version — every index reader goes through this, so drifted layouts
    * fail loudly. Banding parameters are header params.
    */
  private[graft] def resolveIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): EpochStore.Epoch =
    DedupIndex.resolve(spark, path)

  /** The live `buckets` table of a resolved epoch: the union of the
    * manifest's data dirs (one multi-path scan) minus tombstoned buckets.
    * The broadcast anti-join is what lets appends leave files in place: a
    * bucket that crossed `maxBucketSize` only after its early rows were
    * written is dropped HERE, at read time, instead of by rewriting the
    * carried-forward files (`dropped` is one tiny row per oversize bucket).
    */
  private[graft] def indexBuckets(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): DataFrame =
    EpochStore.readTable(spark, ep, "buckets").join(
      broadcast(indexDropped(spark, ep).select("band", "bhash")),
      Seq("band", "bhash"), "left_anti")

  /** The `sets` table (id, hs) of a resolved epoch — pure delta union. */
  private[graft] def indexSets(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): DataFrame =
    EpochStore.readTable(spark, ep, "sets")

  /** Oversize-bucket tombstones (band, bhash, n) — per-epoch, tiny. */
  private[graft] def indexDropped(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): DataFrame =
    EpochStore.readEpochTable(spark, ep, "dropped")

  /** Persist the standing dedup index: the corpus's LSH buckets (oversize-
    * guarded) and hashed shingle sets, written once as parquet so arrivals
    * probe them WITHOUT re-reading or re-hashing the corpus text — at
    * 100 TB the index is a few 8-byte columns, the corpus re-scan it
    * replaces is the whole text column.
    *
    * Layout (v5, delta-epoch — see [[EpochStore]]): `<path>/current` names
    * the live epoch dir; `<path>/epoch-N/` holds the epoch `header` (its
    * manifest names the immutable `<path>/data/` dirs that form the
    * `buckets` = (band, bhash, id) and `sets` = (id, hs) tables; its params
    * are the banding parameters, which every reader resolves FROM the index
    * so a probe can never run with mismatched banding), the compressed id
    * bloom, and `dropped` = (band, bhash, n) tombstones for oversize-dropped
    * buckets (their TRUE total count — [[appendDedupIndex]] needs it so
    * rows arriving into an already-dropped bucket stay dropped, keeping
    * append ≡ rebuild).
    *
    * Rebuilding over an EXISTING index is non-destructive: the new state
    * is written as epoch N+1 referencing only its own fresh data dirs and
    * made live by the one atomic pointer commit — concurrent readers keep
    * their resolved epoch (retention permitting) and a crashed rebuild
    * leaves the old index fully live. Only a path with no `current`
    * pointer is hard-reset first (clears debris from a never-committed
    * first build). `path` must be a dedicated index directory.
    *
    * Single writer at a time (see [[EpochStore.commitEpoch]]'s tripwire).
    */
  def writeDedupIndex(
      existing: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      maxBucketSize: Int = 4096,
      retainEpochs: Int = 2): Unit =
    DedupIndex.build(existing.sparkSession, path, retainEpochs) { out =>
      // stage the bucket rows once WITH their window counts; the kept/dropped
      // split derives from the staged parquet — one signature-kernel pass
      // over the corpus text, not one per output table
      val side = minhashSide(existing, textCol, idCol, k, numHashes, bands)
      val staged = out.stage(withBucketSize(bandRows(side, "id")))
      // the three epoch tables derive independently (buckets/dropped from the
      // staged parquet, sets from the corpus) — overlap their write jobs
      EpochStore.Arms.fresh(Map("k" -> k.toString, "num_hashes" -> numHashes.toString,
        "bands" -> bands.toString, "max_bucket_size" -> maxBucketSize.toString))(
        () => out.write("buckets",
          staged.where(col("n") <= maxBucketSize).select("band", "bhash", "id")),
        () => out.write("dropped",
          staged.where(col("n") > maxBucketSize).select("band", "bhash", "n").distinct()),
        () => out.write("sets", side.select("id", "hs")))
    }

  /** Fold a batch of new documents into a standing index ([[writeDedupIndex]])
    * WITHOUT re-hashing the corpus: only `newDocs` runs the signature
    * kernels; the existing side is two narrow parquet reads. Equivalent to
    * a full `writeDedupIndex` on the union corpus (OpsSpec proves table-level
    * equality), which needs three properties:
    *
    *   - the oversize guard re-evaluates on the UNION counts, so a bucket
    *     that crosses `maxBucketSize` only after the append drops now;
    *   - tombstoned buckets count their true total (`dropped.n` + new live
    *     rows), so arrivals into an already-dropped bucket never resurrect
    *     it with an undercounted size — oversize is monotone under append;
    *   - the new state is a COMPLETE new epoch directory, made live by the
    *     single atomic pointer commit ([[commitEpoch]]) — a crash anywhere
    *     leaves the previous epoch fully live; there is no window where
    *     tables from different states are visible together.
    *
    * Ids already present in the index are rejected LOUDLY before any write
    * (a retried already-committed batch would otherwise double-count
    * bucket sizes and duplicate probe pairs — silently). Banding
    * parameters come FROM the epoch header; the format version is checked
    * first. The previous epoch is retained for one generation (in-flight
    * readers that resolved it keep working) and older epochs are
    * garbage-collected.
    *
    * Cost shape (v5 delta-epoch): the append writes ONLY its deltas — the
    * new docs' bucket rows and shingle sets — and the standing data dirs
    * are carried forward BY REFERENCE in the new epoch's manifest, never
    * copied (at 100 TB `sets` is the same order of magnitude as the corpus
    * token stream, so the v3 wholesale rewrite was a daily index-sized
    * copy). Counting for the oversize guard touches only buckets the new
    * batch actually lands in: a broadcast semi-join on the new side's
    * (band, bhash) keys prunes the standing-buckets scan, so untouched
    * buckets are never counted, shuffled, or rewritten. The broadcast
    * assumes a daily batch ≪ corpus; for giant backfills, split the batch
    * or rebuild.
    *
    * `retainEpochs` controls how many committed generations survive GC
    * (default 2 = the new epoch + one predecessor). Long-running readers —
    * e.g. a [[graft.streaming.StreamingOps.dedupAgainstIndex]] query, which
    * resolves its epoch once at construction — need retention to cover
    * every append made during their lifetime: size `retainEpochs` to at
    * least 1 + the number of appends expected while such a reader runs.
    */
  def appendDedupIndex(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      retainEpochs: Int = 2): Unit = {
    val spark = newDocs.sparkSession
    DedupIndex.appendNew(newDocs, idCol, path, retainEpochs, "appendDedupIndex",
      "double-count bucket sizes and duplicate probe pairs") { (cur, out) =>
      val k = cur.header.int("k")
      val numHashes = cur.header.int("num_hashes")
      val bands = cur.header.int("bands")
      val maxBucketSize = cur.header.int("max_bucket_size")
      // stage the new side's bucket rows once — the delta file and every
      // count below derive from the staged parquet, so the signature kernel
      // runs exactly once over the new docs
      val side = minhashSide(newDocs, textCol, idCol, k, numHashes, bands)
      val staged = out.stage(bandRows(side, "id"))
      val touched = staged.select("band", "bhash").distinct()
      val tomb = indexDropped(spark, cur)
      // prior live counts for TOUCHED buckets only — the broadcast semi-join
      // prunes the standing scan; nothing untouched is counted or shuffled
      val priorCounts = EpochStore.readTable(spark, cur, "buckets")
        .join(broadcast(touched), Seq("band", "bhash"), "left_semi")
        .groupBy("band", "bhash").agg(count(lit(1)).as("n_scan"))
      // a tombstoned bucket's true total lives in its tombstone: stale
      // physical rows it may have left in carried-forward files are read-
      // filtered ([[indexBuckets]]), never counted
      val totals = staged.groupBy("band", "bhash").agg(count(lit(1)).as("n_new"))
        .join(priorCounts, Seq("band", "bhash"), "left")
        .join(tomb.withColumnRenamed("n", "n_tomb"), Seq("band", "bhash"), "left")
        .withColumn("n",
          when(col("n_tomb").isNotNull, col("n_tomb") + col("n_new"))
            .otherwise(coalesce(col("n_scan"), lit(0L)) + col("n_new")))
      // tombstones: untouched carried unchanged; touched-and-tombstoned
      // re-totaled; newly-oversize added (guard re-evaluated on union counts
      // ⇒ oversize stays monotone under append, append ≡ rebuild).
      // Two arms overlap (the template adds the id-bloom merge as a third):
      // (a) tombstones then the delta bucket rows they gate, (b) the batch's
      // shingle sets (the heavy kernel pass)
      EpochStore.Arms(
        () => {
          out.write("dropped", tomb.join(broadcast(touched), Seq("band", "bhash"), "left_anti")
            .unionByName(
              totals.where(col("n_tomb").isNotNull || col("n") > maxBucketSize)
                .select("band", "bhash", "n")))
          val dropped = spark.read.schema(tomb.schema).parquet(out.location("dropped"))
          out.write("buckets", staged.join(broadcast(dropped.select("band", "bhash")),
            Seq("band", "bhash"), "left_anti")
            .select("band", "bhash", "id"))
        },
        () => out.write("sets", side.select("id", "hs")))
    }
  }

  /** Rewrite the live epoch's delta history into ONE fresh file set per
    * table — the maintenance op a manifest design needs: every append adds
    * a delta dir, and after many appends the accumulated small files tax
    * every probe's scan (the classic manifest failure mode). Compaction
    * reads each logical table through the normal live view and writes it
    * back as a single new data dir per table — Spark's file-source
    * bin-packing (`maxPartitionBytes` / `openCostInBytes`) sizes the
    * output files, so many tiny deltas coalesce into few full-size files.
    * Tombstoned buckets' stale physical rows are dropped for real here
    * (the live view filters them, so the rewrite never sees them).
    *
    * Same commit discipline as build/append: a complete epoch N+1, one
    * atomic pointer rename, GC (which deletes the now-unreferenced old
    * data dirs once retention lets go of the epochs naming them). Probe
    * results are identical before and after.
    */
  def compactDedupIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      retainEpochs: Int = 2): Unit =
    // the three table rewrites are independent — overlap their jobs; the
    // template right-sizes a fresh id bloom from the compacted sets (merged
    // blooms keep build-time capacity; compaction is where capacity resets)
    DedupIndex.compact(spark, path, retainEpochs) { (cur, out) =>
      EpochStore.Arms(
        () => out.write("buckets", indexBuckets(spark, cur)),
        () => out.write("sets", indexSets(spark, cur)),
        () => out.write("dropped", indexDropped(spark, cur)))
    }

  /** Probe a persisted index ([[writeDedupIndex]]) with new documents —
    * identical result to [[minhashPairsAgainst]] on the original corpus,
    * but the only work on the existing side is reading two narrow parquet
    * tables. Banding parameters come FROM the epoch header, so the
    * new side always hashes compatibly.
    */
  def minhashPairsAgainstIndex(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      threshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    val ep = resolveIndex(spark, path)
    val k = ep.header.int("k")
    val numHashes = ep.header.int("num_hashes")
    val bands = ep.header.int("bands")
    val buckets = indexBuckets(spark, ep)
      .withColumnRenamed("id", "existing_id")
    val sets = indexSets(spark, ep)
      .select(col("id").as("existing_id"), col("hs").as("hs_b"))
    probePairs(newDocs, textCol, idCol, k, numHashes, bands, buckets, sets, threshold)
  }

  /** The probe plan of both `…Against` ops: the new side is hashed ONCE and
    * carries its shingle set `hs_a` through the band explode, its buckets
    * join the standing `buckets` (band, bhash, existing_id), the candidate
    * pairs dedup, and only then the standing `sets` (existing_id, hs_b)
    * join for the exact Jaccard. Stream-safe: with a streaming `newDocs`
    * both joins are stream-static and stateless; the one state is the
    * `dropDuplicates` of candidate pairs (the same pair surfaces via several
    * bands, across micro-batches).
    */
  private def probePairs(
      newDocs: DataFrame, textCol: String, idCol: String, k: Int, numHashes: Int,
      bands: Int, buckets: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    bandRows(minhashSide(newDocs, textCol, idCol, k, numHashes, bands, id = "new_id",
        hs = "hs_a"), "new_id", "hs_a")
      .join(buckets, Seq("band", "bhash"))
      // hs_a is identical on every row of a new_id, so the arbitrary-row
      // keep of dropDuplicates is still deterministic content
      .select(col("new_id"), col("existing_id"), col("hs_a"))
      .dropDuplicates("new_id", "existing_id")
      .join(sets, Seq("existing_id"))
      .withColumn("jaccard",
        graft.functions.native.jaccardSorted(col("hs_a"), col("hs_b")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("existing_id"), col("jaccard"))

  /** Near-duplicate pairs by SimHash: 64-bit signatures banded into equal
    * chunks — by pigeonhole, any pair within hamming distance `chunks - 1`
    * shares at least one identical chunk, so candidate generation is ONE
    * shuffle on (chunk, value) and the exact hamming filter only touches
    * colliding pairs. The chunk count adapts to `maxHamming` (the smallest
    * power-of-two chunking with `chunks > maxHamming`, up to 32×2-bit) —
    * a fixed 4×16 banding would silently miss qualifying pairs whose
    * differing bits straddle all four chunks whenever maxHamming > 3.
    */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31] (32 chunks of 2 bits), got $maxHamming")
    val chunks = Seq(4, 8, 16, 32).find(_ > maxHamming).get
    val bits = 64 / chunks
    val mask = (1L << bits) - 1
    val sigs = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))
    // sig is let-bound: the chunk expressions reference the (expensive)
    // simhash exactly once even after projection collapse.
    val buckets = sigs.select(
      col("id"),
      posexplode(bind(col("sig")) { s =>
        array((0 until chunks).map(c =>
          shiftright(s, c * bits).bitwiseAND(lit(mask))): _*)
      }).as(Seq("band", "bhash")))
    candidatePairs(buckets, maxBucketSize)
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** 64-bit SimHash over whitespace tokens: bit j is set when more token
    * hashes have bit j set than cleared. Pure per-row expression (64 small
    * array-aggregates over the token hashes — all codegen).
    */
  def simhash64(text: Column): Column =
    graft.functions.native.simhash64(TextOps.rawTokens(text))

  /** Pure `functions._` SimHash (bit-identical to [[simhash64]]'s native
    * kernel; kept as the portable reference implementation). One pass over
    * the token hashes with a 64-counter array accumulator (the 64-sibling-
    * expression form re-tokenizes the text 64× per row once Catalyst
    * collapses projections — same pathology as [[minhashSignature]]).
    * `bits` and `votes` are let-bound.
    */
  def simhash64Expr(text: Column): Column =
    bind(sequence(lit(0), lit(63))) { bits =>
      bind(aggregate(
        transform(TextOps.wsTokens(text), t => xxhash64(t)),
        array_repeat(lit(0L), lit(64)),
        (acc, h) => zip_with(acc, bits, (a, j) =>
          a + when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L)))) { votes =>
        aggregate(
          zip_with(votes, bits, (v, j) =>
            when(v > 0, call_function("shiftleft", lit(1L), j))
              .otherwise(lit(0L))),
          lit(0L), (acc, x) => acc + x)
      }
    }

  /** Hamming distance between two simhashes (for near-dup banding on the
    * 16-bit chunks of the simhash — same LSH pattern as minhashPairs).
    */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Near-duplicate pairs by embedding cosine, multi-band hyperplane LSH:
    * `bands` independent families of `planes` hash-derived hyperplanes each
    * bucket every vector; vectors colliding in ANY band become candidates
    * (same amplification as MinHash banding), and only candidates get an
    * exact cosine. One shuffle on (band, bucket); fan-out bounded by bucket
    * population, not n².
    *
    * Recall: P(same bucket in one band) = (1 − θ/π)^planes with
    * θ = arccos(cosine); a c = 0.95 pair with the defaults (12 planes ×
    * 16 bands) survives with P ≈ 1 − (1 − 0.28)¹⁶ ≈ 0.995. Single-band
    * (bands = 1) matches the classic one-table LSH.
    *
    * SIZE `planes` TO THE CORPUS: each band has 2^planes buckets and
    * buckets larger than `maxBucketSize` are DROPPED (the degenerate-
    * bucket guard — a bucket of B vectors would emit B²/2 pairs), so once
    * the corpus outgrows ~2^planes × maxBucketSize the average bucket
    * overflows and recall collapses toward zero. The defaults carry ~16 M
    * vectors; at larger n raise `planes` (and `bands` with it to hold
    * recall). Degenerate buckets are dropped by [[candidatePairs]]'
    * count-first window prune BEFORE any id array materializes, so an
    * adversarial key distribution costs a counted-and-skipped bucket, not
    * memory.
    */
  def embeddingNearDup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      planes: Int = 12,
      bands: Int = 16,
      threshold: Double = 0.99,
      maxBucketSize: Int = 4096): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val buckets = vecs.select(
      col("id"),
      posexplode(array((0 until bands).map(b =>
        Similarity.hyperplaneBucket(col("v"), planes, offset = b * planes)): _*))
        .as(Seq("band", "bhash")))
    candidatePairs(buckets, maxBucketSize)
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      // a zero vector scores NaN against everything, and Spark orders NaN above every number
      .where(Similarity.atLeast(col("cosine"), threshold))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** The "SIZE `planes` TO THE CORPUS" rule above as code: the smallest
    * `planes` whose 2^planes per-band buckets keep the AVERAGE bucket at
    * or below `targetBucket` vectors. Pair work per bucket is quadratic
    * in its population, so a fixture-tuned constant that is perfect at
    * 2 k vectors is 100× the work at 20 k (measured: the 10× scale
    * rehearsal took a planes=4 call from 1.5 s to 160 s — the average
    * bucket grew 10×, the pairs 100×). Floors at 1, caps at 30 (a
    * billion buckets per band is past any practical corpus). Hold recall
    * while raising planes by raising `bands` with it (the scaladoc
    * rule) — [[sizedBands]] gives the matching default.
    */
  def sizedPlanes(n: Long, targetBucket: Int = 64): Int = {
    require(n >= 0, s"n must be >= 0, got $n")
    require(targetBucket >= 1, s"targetBucket must be >= 1, got $targetBucket")
    var p = 1
    while (p < 30 && (n >> p) > targetBucket) p += 1
    p
  }

  /** Companion of [[sizedPlanes]]: bands that hold banding recall as
    * planes grow — per-band survival for a cosine-c pair is
    * (1 − θ/π)^planes, so doubling planes squares the per-band miss and
    * bands must scale ~linearly with planes to compensate. `2 · planes`
    * keeps a 0.95-cosine pair above ~99.9% recall for any planes ≤ 20.
    */
  def sizedBands(planes: Int, min: Int = 8): Int =
    math.max(min, 2 * planes)

  /** Shared ADAPTIVE small-graph fast path of [[dedupClusters]] and
    * [[dedupClustersStar]]: a bounded probe (at most `cap + 1` edge rows
    * ever land on the driver, so the probe itself cannot OOM — but note
    * the cap IS a driver-side footprint: the default 1M edges is ~tens
    * of MB of Row objects on the driver heap, the same class as the
    * classification-table bounds; size it down for small-heap drivers)
    * followed by a driver union-find with the exact min-root rule, so
    * labels are IDENTICAL to the distributed fixpoints' component
    * minima. Returns None when the edge set exceeds the cap — callers
    * fall through to their distributed rounds. Integral-id callers only:
    * the min-root rule must order exactly like Spark's `least`/`min` on
    * the id column.
    *
    * `edges`' first two columns are the endpoints (self-loops allowed —
    * they union trivially). The result needs no materialization: the
    * closure lives in a broadcast table, so re-evaluation is one nodes
    * scan + a broadcast join, never a recomputation of the closure.
    */
  private def driverClosureLabels(
      nodes: DataFrame,
      idCol: String,
      edges: DataFrame,
      maxDriverEdges: Int): Option[DataFrame] = {
    val idType = nodes.schema(idCol).dataType
    val sample = edges.limit(maxDriverEdges + 1).collect()
    if (sample.length > maxDriverEdges) return None
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nx = parent(c); parent(c) = r; c = nx
      }
      r
    }
    val orig = scala.collection.mutable.LongMap.empty[Any]
    sample.foreach { e =>
      val (oa, ob) = (e.get(0), e.get(1))
      val (a, b) = (oa.asInstanceOf[Number].longValue,
        ob.asInstanceOf[Number].longValue)
      orig.getOrElseUpdate(a, oa)
      orig.getOrElseUpdate(b, ob)
      val (ra, rb) = (find(a), find(b))
      // min root wins — exactly the distributed rounds' least/min rule
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val spark = nodes.sparkSession
    val lblRows = orig.keys.toSeq.map { id =>
      org.apache.spark.sql.Row(orig(id), orig(find(id)))
    }
    val lbl = spark.createDataFrame(
      spark.sparkContext.parallelize(lblRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType, nullable = true),
        org.apache.spark.sql.types.StructField("__rep0", idType, nullable = true))))
    Some(nodes.select(col(idCol).as("id"))
      .join(broadcast(lbl), Seq("id"), "left")
      .select(col("id"), coalesce(col("__rep0"), col("id")).as("rep")))
  }

  /** Duplicate clusters from verified near-dup pairs: connected components
    * of the pair graph by iterative min-label propagation, so an entire
    * duplicate cluster (a A~B, B~C chain) collapses to one representative —
    * the step that turns pairwise LSH output into "keep one copy per
    * cluster".
    *
    * Each iteration is one join + one aggregate (a single shuffle round)
    * propagating the smallest reachable id; convergence needs
    * O(component diameter) rounds — near-dup clusters are dense template
    * families with tiny diameters, so 3–5 rounds in practice. Each round's
    * labels are persisted and the previous round unpersisted, keeping
    * lineage flat; `maxIters` bounds the worst case (a path graph), and
    * hitting it without convergence THROWS rather than returning labels
    * where one component carries two representatives — silently-partial
    * dedup is the worst failure mode a 100 TB pipeline can have.
    * Returns (id, rep) for EVERY node; singletons are their own rep. The
    * returned frame is eagerly materialized with lineage truncated (the
    * loop's cache is released before returning; no unpersist needed):
    * a RELIABLE checkpoint when `spark.sparkContext.setCheckpointDir` has
    * been called — set one in cluster deployments, since a local checkpoint
    * cannot be recomputed after an executor is lost — and an executor-local
    * checkpoint otherwise.
    *
    * `maxDriverEdges` gates the same adaptive small-graph fast path as
    * [[dedupClustersStar]]: an integral-id pair graph under the cap runs
    * as ONE bounded collect + driver union-find (identical min-id
    * labels, zero propagation rounds). NOTE the cap is a DRIVER-side
    * footprint callers inherit by default — up to 1M edge rows (~tens of
    * MB) on the driver heap; size it down for small-heap drivers, or
    * pass 0 to force the distributed rounds.
    */
  def dedupClusters(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIters: Int = 20,
      maxDriverEdges: Int = 1000000): DataFrame = {
    // ADAPTIVE fast path (round 12, mirroring [[dedupClustersStar]]):
    // integral-id graphs under maxDriverEdges run the driver union-find
    // instead of O(diameter) propagation rounds — identical min-id
    // labels, zero iterative jobs. Pass 0 to force the distributed
    // rounds (plan showcases, tests of the propagation itself).
    val integralIdsFast = {
      import org.apache.spark.sql.types._
      nodes.schema(idCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    // One persisted normalized pair frame feeds BOTH the fast-path probe
    // and the propagation rounds' edge build — without it, an over-cap
    // graph would execute the (potentially expensive) pair-generation
    // lineage twice: once for the probe's bounded collect, again for the
    // rounds (the dedupClustersStar discipline at Dedup.scala:1352-1372).
    val normPairs = pairs.select(col("id_a"), col("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .persist()
    // try/finally on every persist: a failure inside the fast-path probe,
    // a propagation-round job, or the non-convergence throw must not leave
    // normPairs/edges/labels cached for the rest of the session.
    var edges: DataFrame = null
    var labels: DataFrame = null
    try {
    if (integralIdsFast && maxDriverEdges > 0) {
      driverClosureLabels(nodes, idCol, normPairs, maxDriverEdges) match {
        case Some(fastLabels) =>
          return fastLabels
        case None => // over cap — run the propagation rounds below
      }
    }
    edges = normPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(normPairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    labels = nodes.select(col(idCol).as("id"), col(idCol).as("rep")).persist()
    // Min-label propagation is MONOTONE: a node's rep only ever decreases,
    // so for integral ids the exact (decimal, overflow-free) sum of reps
    // strictly decreases every round until the fixpoint — equal consecutive
    // sums IS convergence, detected by a single-row aggregate on the cached
    // frame instead of a per-round join. Non-integral ids (no sum) keep the
    // join-based change count.
    val repIsIntegral = {
      import org.apache.spark.sql.types._
      nodes.schema(idCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    def repSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("rep")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
      .head().getDecimal(0)
    // seeded from the initial labels so round 1 already compares
    var prevSum: java.math.BigDecimal = if (repIsIntegral) repSum(labels) else null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("rep"))
      // Lineage MUST truncate every round: this round references `labels`
      // twice (join + union), so with persist alone the LOGICAL tree
      // doubles per round and Catalyst's re-analysis / plan stringification
      // OOMs the DRIVER after ~15 rounds on long-diameter graphs — data
      // size is irrelevant (hit by chain-shaped embedding-similarity
      // components that templated text corpora never produced). Eager
      // checkpoint keeps the plan O(1) per round — the standard iterative
      // pattern — and doubles as the round's materialization.
      val next = Materialize.eager(labels.union(viaNeighbors)
        .groupBy("id").agg(min(col("rep")).as("rep")))
      converged =
        if (repIsIntegral) {
          val s = repSum(next)
          val same = (s == null && prevSum == null) ||
            (s != null && prevSum != null && s.compareTo(prevSum) == 0)
          prevSum = s
          same
        } else {
          next.join(labels.withColumnRenamed("rep", "prev"), "id")
            .where(col("rep") =!= col("prev")).count() == 0
        }
      labels.unpersist()
      labels = next
      i += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"dedupClusters did not converge within $maxIters iterations — " +
          "a component's diameter exceeds the bound; raise maxIters")
    }
    // Hand back an eager flat copy and release the loop's cache: callers
    // (and the bench's best-of-two rerun) were accumulating persisted label
    // blocks across the session because nothing ever unpersisted the
    // returned fixpoint. Reliable checkpoint when a checkpoint dir is set
    // (executor loss must not lose the dedup labels mid-pipeline); local
    // checkpoint otherwise, GC-cleaned with the frame.
    Materialize.eager(labels)
    } finally {
      normPairs.unpersist()
      if (edges != null) edges.unpersist()
      if (labels != null) labels.unpersist()
    }
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the O(log² n)-round alternative to [[dedupClusters]]'s
    * O(diameter) min-label propagation. Same contract: (id, rep) for every
    * node, rep = component minimum, singletons map to themselves, THROWS
    * on non-convergence.
    *
    * When to prefer which: near-dup clusters are dense template families
    * with diameter 3–5, where label propagation's one-shuffle rounds win;
    * this variant wins when components can be long paths (e.g. chained
    * near-dups across document versions), where diameter-bound rounds
    * would dominate. Each round here is two window shuffles + two
    * distincts over the EDGE set only — nodes are joined once, at the end.
    *
    *   - large-star: every node points its larger neighbors at the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: every node rewires its smaller-or-equal neighbors
    *     (and itself) to that minimum;
    *   - fixpoint: the edge set is exactly {(member, component-min)} —
    *     prescreened by a cheap (count, decimal hash-sum) checksum pair
    *     (probabilistic: collisions ~2⁻⁶⁴), then CONFIRMED exactly with a
    *     set-difference that only runs when the checksum matches, so a
    *     hash collision can delay convergence detection but never emit
    *     wrong reps.
    *
    * `maxDriverEdges` gates the ADAPTIVE small-graph fast path: when the
    * (deduplicated, self-loop-free) edge set fits under it, the closure
    * runs as a driver-side union-find over one bounded collect instead of
    * alternating star rounds — identical min-id labels, zero iterative
    * jobs (each distributed round costs a full shuffle + checkpoint; a
    * 100 k-edge graph pays ~6 of them for work a laptop does in
    * milliseconds). The default admits ≤ 1 M edges (~tens of MB of
    * driver rows, the same class as the classification-table bounds) —
    * a DRIVER-side collect integral-id callers inherit by default; size
    * the cap down for small-heap drivers. Larger graphs — the 100 TB
    * case the star rounds exist for — take the distributed path
    * unchanged. Pass 0 to force the distributed path (plan showcases,
    * tests of the rounds themselves). The fast
    * path engages only for integral id types: its min-root rule must
    * order EXACTLY like Spark's `least`/`min` on the id column, which is
    * guaranteed for integers and subtle for strings (UTF-8 binary vs
    * UTF-16 code-unit order on supplementary characters).
    */
  def dedupClustersStar(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIters: Int = 25,
      maxDriverEdges: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u")
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      sym.withColumn("m", least(min(col("v")).over(w), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val withM = oriented.withColumn("m", least(min(col("v")).over(w), col("u")))
      withM.where(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(withM.select(col("u").as("a"), col("m").as("b"))
          .where(col("a") =!= col("b")))
        .distinct()
    }
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(
        count(lit(1)).as("n"),
        sum(xxhash64(col("a"), col("b"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h")).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var edges = pairs
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .where(col("a") =!= col("b"))
      .persist()
    val idType = nodes.schema(idCol).dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (integralIds && maxDriverEdges > 0) {
      driverClosureLabels(nodes, idCol, edges, maxDriverEdges) match {
        case Some(labels) =>
          edges.unpersist()
          return labels
        case None => // over cap — fall through to the star rounds with
          // the edge frame already persisted (the first round's checksum
          // would have materialized it anyway)
      }
    }
    var prev = checksum(edges)
    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxIters) {
      // ONE star round per blocking job, materialized before the next
      // round reads it. Do NOT fuse rounds: largeStar/smallStar each
      // reference their input in two union branches, so an unpersisted
      // round re-computes multiplicatively inside the fused plan (measured
      // 2× slower at sf0.1 than materializing every round). Eager
      // checkpoint instead of bare persist for the same reason as
      // [[dedupClusters]]: the logical tree would multiply per round and
      // OOM the driver's plan analysis once rounds grow.
      val next = Materialize.eager(smallStar(largeStar(edges)))
      val cs = checksum(next)
      val checksumMatch = cs._1 == prev._1 &&
        ((cs._2 == null && prev._2 == null) ||
          (cs._2 != null && prev._2 != null && cs._2.compareTo(prev._2) == 0))
      // exact confirmation (equal counts + empty difference ⇒ equal sets);
      // runs at most once per convergence, never in the steady-state loop
      converged = checksumMatch &&
        (cs._1 == 0L || next.select("a", "b").except(edges.select("a", "b")).isEmpty)
      prev = cs
      edges.unpersist()
      edges = next
      i += 1
    }
    if (!converged) {
      edges.unpersist()
      throw new IllegalStateException(
        s"dedupClustersStar did not converge within $maxIters rounds")
    }
    val labels = nodes.select(col(idCol).as("id"))
      .join(edges.withColumnRenamed("a", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("b"), col("id")).as("rep"))
    val out = Materialize.eager(labels)
    edges.unpersist()
    out
  }

  /** Snapshot diff of two corpus versions by id and content hash: every id
    * classified `added` / `removed` / `changed` / `unchanged` — the audit
    * step between two crawls or pipeline runs. One full outer join on the
    * id; text never shuffles (both sides reduce to (id, md5) before the
    * join), so the diff of two 100 TB snapshots moves two narrow columns.
    */
  def corpusDiff(
      before: DataFrame,
      after: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // explicit presence markers: a null TEXT hashes to null, so "which
    // side has this id" must not be inferred from hash nullability
    def keyed(df: DataFrame, h: String, p: String) = df.select(
      col(idCol).as("id"), md5(col(textCol).cast("binary")).as(h),
      lit(true).as(p))
    keyed(before, "__hb", "__pb")
      .join(keyed(after, "__ha", "__pa"), Seq("id"), "full_outer")
      .select(
        col("id").as(idCol),
        when(col("__pb").isNull, "added")
          .when(col("__pa").isNull, "removed")
          .when(col("__hb") <=> col("__ha"), "unchanged") // null-safe: both-null text is unchanged
          .otherwise("changed").as("status"))
  }

  /** Keep the BEST member of each duplicate cluster — the production dedup
    * policy ([[exactKeepMin]]'s min-id is the arbitrary-but-deterministic
    * baseline; real pipelines keep the longest or highest-quality copy).
    * `clusters` is the (id, rep) labeling from [[dedupClusters]] /
    * [[dedupClustersStar]]; `score` is any Column over the doc's columns
    * (token count, quality score, …). Highest score wins, ties break to
    * the smallest id — a total order, so the survivor set is
    * engine-reproducible. One join onto the labels (broadcast when the
    * label frame is small, shuffle otherwise) + one window on rep.
    */
  def keepBestPerCluster(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = docs.join(
      clusters.select(col("id").as("__cid"), col("rep").as("__rep")),
      docs(idCol) === col("__cid"))
    val w = Window.partitionBy(col("__rep")).orderBy(score.desc, col(idCol).asc)
    val rk = Iterator.from(0).map(i => s"__kb$i")
      .find(!labeled.columns.contains(_)).get
    labeled.withColumn(rk, row_number().over(w))
      .where(col(rk) === 1)
      .drop(rk, "__cid", "__rep")
  }

  /** Exhaustive O(n²) twin of [[embeddingNearDup]] — the verification
    * baseline (and DuckDB-oracle form) for corpora small enough to
    * cross-join; the banded plan above is the 100 TB path.
    */
  def embeddingNearDupExact(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double): DataFrame = {
    val l = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .where(Similarity.atLeast(col("cosine"), threshold))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Cross-source duplication matrix — the audit run before any dedup
    * decision ("how much does Common Crawl duplicate Wikipedia?"): for
    * ANY duplicate-pair frame `(id_a, id_b)` (minhash, containment,
    * semantic, exact — the family's shared currency) and an `(id, source)`
    * label frame, the pair count per UNORDERED source cell —
    * `(least(sa, sb), greatest(sa, sb))`, so CC×Wiki and Wiki×CC
    * aggregate to one row and the diagonal counts within-source dups.
    * Two narrow id-keyed joins + one tiny aggregate; pairs with an
    * unlabeled endpoint surface under a null source rather than
    * disappearing (an audit must not silently drop mass).
    */
  def crossSourceDupMatrix(
      pairs: DataFrame,
      labels: DataFrame,
      idCol: String,
      srcCol: String): DataFrame = {
    // duplicate label ids would FAN OUT the joins and inflate n_pairs —
    // the audit would report mass that does not exist. One bounded probe
    // (an aggregate + limit-1) keeps the audit honest; an audit input is
    // read once, so the extra pass is proportionate.
    require(labels.groupBy(col(idCol)).count()
      .where(col("count") > 1).limit(1).count() == 0L,
      s"crossSourceDupMatrix: duplicate '$idCol' ids in the label frame " +
        "would inflate pair counts — deduplicate labels first")
    val la = labels.select(col(idCol).as("id_a"), col(srcCol).as("__sa"))
    val lb = labels.select(col(idCol).as("id_b"), col(srcCol).as("__sb"))
    // canonical unordered cell with null ORDERED FIRST — `least` would
    // skip a null endpoint and silently fold the pair into the diagonal
    val aFirst = col("__sa").isNull ||
      (col("__sb").isNotNull && col("__sa") <= col("__sb"))
    pairs.select(col("id_a"), col("id_b"))
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
      .select(
        when(aFirst, col("__sa")).otherwise(col("__sb")).as("src_a"),
        when(aFirst, col("__sb")).otherwise(col("__sa")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
