package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end web-curation pipeline as ONE composed operator: raw
  * crawl pages → domain blocklist → HTML main-text extraction → the
  * published screen chain (Gopher → repetition → C4 → phrase blocklist)
  * → URL-canonical dedup → exact text dedup → decontamination → exact
  * waterfill token mix → sized-shard assignment. Every stage is an
  * existing, individually-oracled op from this package; this operator
  * pins their COMPOSITION — the thing a production corpus build actually
  * runs — plus the inter-stage materialization policy that makes the
  * chain one pipeline instead of nine corpus scans.
  *
  * Materialization policy (the 100 TB design artifact): stage A — the
  * only regex-heavy work, i.e. the domain verdict, URL canonicalization,
  * HTML extraction, screen verdicts, and token count — runs as ONE pass
  * over the raw pages and materializes a NARROW ledger
  * `(id, source, domain-blocked, canonical url, extracted text, first
  * failing screen, token count)`. Raw HTML is never read again. Every
  * later stage (two dedup elections, the decontamination gram probe, the
  * waterfill take, the shard cumsum) derives from the ledger: their
  * shuffles carry ids, 16-byte hashes, and counts — never pages. Without
  * the materialization, Spark's multi-consumer subtrees would re-run the
  * extraction regex chain once per downstream branch (the measured
  * containmentPairs pathology).
  */
object Pipeline {

  /** Knobs of [[curate]]. `weights` must carry an explicit entry for
    * every non-null source (the waterfill contract — use 0 to exclude a
    * source deliberately).
    */
  final case class CurationConfig(
      blockedDomains: Seq[String],
      phrases: Seq[String],
      weights: Map[String, Long],
      budgetTokens: Long,
      shardTokens: Long,
      minSentences: Int = 3,
      decontamN: Int = 8)

  /** Run the full curation chain and return the per-page DIAGNOSIS — one
    * row per input page, `(idCol, sourceCol, stage, n_tok, shard)`:
    *
    *   - `stage` — the first stage that dropped the page, in pipeline
    *     order: 'domain' (blocklisted host), 'null_html' (nothing to
    *     extract), 'gopher' / 'repetition' / 'c4' / 'blocklist' (the
    *     screen chain's first failing rule over the EXTRACTED text),
    *     'url_dup' / 'text_dup' (lost a min-id dedup election),
    *     'decontam' (shares an n-gram with the eval set), 'mix' (outside
    *     its source's waterfill token quota), or 'kept';
    *   - `n_tok` — whitespace tokens of the extracted text (null before
    *     extraction, i.e. for 'domain'/'null_html' pages — a blocked
    *     page is never fetched);
    *   - `shard` — the sized-shard id for 'kept' pages (≈ `shardTokens`
    *     tokens per shard in md5 content order), null otherwise.
    *
    * The kept corpus is `where(stage = 'kept')`; the funnel report is one
    * `groupBy(stage).count()` away; shard layout matches
    * [[Sink.writeSizedShards]]' assignment rule exactly, so writing the
    * survivors is one `partitionBy("shard")` append.
    *
    * Dedup elections are engine-portable min-id per equivalence class:
    * URL classes are [[TextOps.normalizeUrl]] values (null-url pages
    * skip the election — an unknown address is not a duplicate), text
    * classes are md5 of the extracted text. Decontamination is
    * [[Decontam.decontaminate]]'s exact n-gram containment; the mix is
    * [[Sampling.takeWaterfillTokens]]' exact fixpoint quotas with the
    * crossing row kept. Every verdict is deterministic, so the whole
    * diagnosis hashes bit-exact against a SQL replay.
    *
    * Plan shape for 100 TB: one scan of the raw pages feeds the
    * materialized ledger (stage A above); the screen chain is pure
    * codegen over the extracted attribute; both dedup elections shuffle
    * (key-hash, id) pairs only; the gram probe broadcasts the eval side;
    * the waterfill and shard cumsums run the bucketed no-global-sort
    * machinery (per-bucket windows + broadcast driver prefix sums); the
    * final assembly is id-keyed left joins AQE broadcasts when the late
    * stages' survivor sets are small. No stage sorts the corpus in one
    * task, collects it, or shuffles page text (the attach join of the
    * diagnosis carries the ledger's narrow rows, not HTML).
    */
  def curate(
      crawl: DataFrame,
      idCol: String,
      urlCol: String,
      sourceCol: String,
      htmlCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      cfg: CurationConfig): DataFrame =
    curateStages(crawl, idCol, urlCol, sourceCol, htmlCol,
      evalSet, evalTextCol, cfg).diagnosis

  /** [[curate]]'s intermediate frames, for the bench's per-stage
    * breakdown rows: constructing the struct PAYS the stage-A ledger
    * materialization (the one regex-heavy corpus pass); every later
    * frame derives lazily from the materialized ledger. Because the
    * derivations share the ledger but not each other's work, their
    * evaluation costs are CUMULATIVE from the ledger (dedup ⊆ decontam ⊆
    * mix ⊆ shard ⊆ diagnosis) — a stage's own cost is the delta to the
    * previous stage's row, which is exactly how Bench records them.
    * `diagnosis` is bit-identical to what [[curate]] returns (it IS what
    * curate returns).
    */
  final case class CurateStages private[ops] (
      ledger: DataFrame,
      postDedup: DataFrame,
      postDecontam: DataFrame,
      kept: DataFrame,
      sharded: DataFrame,
      diagnosis: DataFrame)

  private[graft] def curateStages(
      crawl: DataFrame,
      idCol: String,
      urlCol: String,
      sourceCol: String,
      htmlCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      cfg: CurationConfig): CurateStages =
    curateFromLedger(
      Materialize.eager(ledgerProjection(
        crawl, idCol, urlCol, sourceCol, htmlCol, cfg)),
      evalSet, evalTextCol, cfg, idCol, sourceCol)

  /** Stage A as a pure per-row projection — the regex-heavy columns
    * `(__id, __src, __dom, __url, __text, __screen, __n_tok)` with NO
    * materialization: the batch path wraps it in [[Materialize.eager]];
    * the streaming path ([[graft.streaming.StreamingOps.curateStream]])
    * computes it per micro-batch ON ARRIVAL and appends the narrow rows
    * to a staging corpus, which plays the materialized ledger's role
    * (HTML is read exactly once either way).
    */
  private[graft] def ledgerProjection(
      crawl: DataFrame,
      idCol: String,
      urlCol: String,
      sourceCol: String,
      htmlCol: String,
      cfg: CurationConfig): DataFrame = {
    // projection 1: the regex-heavy columns. Projection 2 (the screen
    // verdicts) reads the extracted text as an ATTRIBUTE —
    // CollapseProject refuses to inline the expensive multiply-referenced
    // extraction alias into the four verdicts, so the strip chain runs
    // once per page.
    val extracted = crawl.select(
      col(idCol).as("__id"),
      col(sourceCol).as("__src"),
      TextOps.urlDomainBlocked(col(urlCol), cfg.blockedDomains).as("__dom"),
      TextOps.normalizeUrl(col(urlCol)).as("__url"),
      TextOps.htmlExtractText(col(htmlCol)).as("__text"))
    extracted.select(
      col("__id"), col("__src"), col("__dom"), col("__url"), col("__text"),
      TextOps.curationFirstFailFull(
        col("__text"), cfg.phrases, cfg.minSentences).as("__screen"),
      TextOps.tokenCount(col("__text")).cast("long").as("__n_tok"))
  }

  /** Everything downstream of the ledger — the GLOBAL stages (dedup
    * elections, decontamination, waterfill mix, shard cumsum, diagnosis
    * assembly), a pure function of the ledger ROW SET: no verdict
    * depends on arrival order or partitioning, which is what lets the
    * streaming form snapshot-recompute these stages over accumulated
    * arrivals and provably equal the batch chain. `ledger` must be
    * materialized or file-backed (the stage frames re-read it per phase).
    *
    * The election + decontamination chain itself runs ONCE: its outcome
    * is a narrow per-id verdict table (id + three survival booleans),
    * eagerly materialized, that the waterfill take, the shard plan, the
    * diagnosis assembly and the exposed stage frames all join against.
    * Before round 15 each of those consumers re-derived the chain from
    * the ledger independently — the elections and the gram probe ran
    * once PER consumer (~4.4 s of constructor-eager work at sf0.1,
    * OPTIMIZATION_r15.md §10).
    */
  private[graft] def curateFromLedger(
      ledger: DataFrame,
      evalSet: DataFrame,
      evalTextCol: String,
      cfg: CurationConfig,
      idCol: String,
      sourceCol: String): CurateStages = {
    val surv1 = ledger.where(!col("__dom") && col("__text").isNotNull &&
      col("__screen") === "pass")
    // URL-canonical dedup: min-id election per canonical url; only the
    // url string and the id ride the shuffle. Null-url pages skip.
    val urlWinners = surv1.where(col("__url").isNotNull)
      .groupBy(col("__url")).agg(min(col("__id")).as("__w"))
    val v2 = surv1.join(urlWinners, Seq("__url"), "left")
      .withColumn("__s2", col("__w").isNull || col("__id") === col("__w"))
      .drop("__w")
    // exact text dedup: the exactKeepMin election — 16-byte hash + id.
    // The election runs among the url-dedup WINNERS (v2 rows with __s2),
    // exactly the old surv2 set; a loser keeps a false flag instead of
    // being filtered away, so one pass labels every row.
    val txtWinners = v2.where(col("__s2"))
      .groupBy(md5(col("__text").cast("binary")).as("__h"))
      .agg(min(col("__id")).as("__w"))
    val v3 = v2.withColumn("__h", md5(col("__text").cast("binary")))
      .join(txtWinners, Seq("__h"), "left")
      // an __s2 winner's hash group always contains itself, so its __w is
      // never null; the coalesce only normalizes losers' three-valued nulls
      .withColumn("__s3",
        coalesce(col("__s2") && col("__id") === col("__w"), lit(false)))
      .drop("__h", "__w")
    val s4Ids = Decontam.decontaminate(
      v3.where(col("__s3")), evalSet.select(col(evalTextCol).as("__text")),
      "__id", "__text", cfg.decontamN).select(col("__id"))
    // a narrow per-id table (id + three booleans) — one row per
    // screen-survivor, i.e. O(corpus), so it rides plain hash joins
    // (AQE may broadcast it only when the survivor set is small)
    val verdicts = Materialize.eager(
      v3.select(col("__id"), col("__s2"), col("__s3"))
        .join(s4Ids.withColumn("__s4", lit(true)), Seq("__id"), "left")
        .withColumn("__s4", coalesce(col("__s4"), lit(false))))
    def stageFrame(flag: String) = surv1.join(
      verdicts.where(col(flag)).select(col("__id")), Seq("__id"), "left_semi")
    val surv3 = stageFrame("__s3")
    val surv4 = stageFrame("__s4")
    val kept = Sampling.takeWaterfillTokens(
      surv4, "__src", "__id", "__n_tok", cfg.weights, cfg.budgetTokens)
    val sharded = Sink.sizedShardAssignment(
      kept.select(col("__id"), col("__n_tok")),
      "__id", "__n_tok", cfg.shardTokens)

    // every screen-passing row has a verdicts row, so the flags are only
    // null for rows the first three whens already claimed — the coalesce
    // is belt-and-braces, not a semantic branch
    val diagnosis = ledger
      .join(verdicts, Seq("__id"), "left")
      .join(sharded.select(col("__id"), col("shard")), Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        col("__src").as(sourceCol),
        when(col("__dom"), "domain")
          .when(col("__text").isNull, "null_html")
          .when(col("__screen") =!= "pass", col("__screen"))
          .when(!coalesce(col("__s2"), lit(false)), "url_dup")
          .when(!coalesce(col("__s3"), lit(false)), "text_dup")
          .when(!coalesce(col("__s4"), lit(false)), "decontam")
          .when(col("shard").isNull, "mix")
          .otherwise("kept").as("stage"),
        when(col("__dom") || col("__text").isNull, lit(null).cast("long"))
          .otherwise(col("__n_tok")).as("n_tok"),
        col("shard"))
    CurateStages(ledger, surv3, surv4, kept, sharded, diagnosis)
  }
}
