package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.core.{Schema, Validator}
import graft.ops.{Decontam, Dedup, EpochStore, LangModel, Materialize, Pipeline, Sampling,
  Similarity, Sink, TextOps}

/** One event of the sessionization input (a projection of the `events`
  * table: TESTDATA.md schema event_id/ts/user_id/event_type/value/props).
  */
case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)

/** One closed (or timed-out) session. */
case class UserSession(
    user_id: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    n_events: Long,
    total_value: Double)

/** Running state for one user: events buffered until the watermark makes
  * their session assignment immutable.
  */
case class SessionState(events: List[(Long, Double)])

/** Structured-Streaming operators. The reference is batch-only (SURVEY §1.1:
  * "no stream abstractions"), so this module is pure phase-2 extension
  * surface: the same Schema/validation core applied to unbounded data the
  * idiomatic Spark way — `readStream` → transforms → `writeStream`,
  * watermarks + windowed aggregates, `flatMapGroupsWithState` for custom
  * session state.
  *
  * Scale notes: every operator here is incremental — state is keyed and
  * bounded by the watermark, aggregation is partial map-side, and validation
  * piggybacks on `CollectMetrics` (zero extra scans of the stream).
  *
  * A streaming twin of a batch operator IS that operator applied to the
  * stream, or to each micro-batch through one of three private shapes:
  * fold each non-empty batch (`foldBatches`), stage each batch and
  * snapshot every N (`snapshotBatches`), or reload a cached bloom every N
  * batches and screen with it (`refreshingScreen`).
  */
object StreamingOps {

  /** Attach per-micro-batch validation-violation counts to a streaming (or
    * batch) frame via `Dataset.observe`. The returned frame is
    * passthrough — rows are NOT filtered — and each progress event carries
    * one metric per (column, check) named `<column>__<check>`, counting
    * violating rows in that batch. Uniqueness and aggregate-valued
    * constraints are skipped on streams (they need cross-batch state /
    * a separate job; use the batch [[graft.core.Validator]] for those).
    */
  def observeValidation(
      df: DataFrame,
      schema: Schema,
      name: String = "graft_validation"): DataFrame = {
    val checks = Validator.checkAggs(df, schema, streamSafe = df.isStreaming)
    require(checks.nonEmpty,
      "observeValidation: schema declares no stream-checkable constraints")
    val metrics = checks.map { case (c, chk, agg) =>
      coalesce(agg, lit(0L)).as(s"${c}__$chk")
    }
    df.observe(name, metrics.head, metrics.tail: _*)
  }

  /** Rows from a validated stream that PASS all row-level checks — the
    * one check list of [[graft.core.Validator]] (nulls, nulls inside
    * arrays, enum domain, bounds/pattern/length, non-aggregate custom
    * constraints, over columns of an accepted dtype), so this filter,
    * [[observeValidation]] and `Validator.validate` agree on every row;
    * failing rows go to the (optional) dead-letter path instead of
    * poisoning downstream aggregates. A pure filter — no state, no
    * shuffle. Aggregate-valued constraints are skipped (they need a
    * cross-batch scalar; use the batch Validator).
    */
  def validRows(df: DataFrame, schema: Schema): DataFrame =
    df.where(Validator.passesRowChecks(df, schema))

  def invalidRows(df: DataFrame, schema: Schema): DataFrame =
    df.where(!Validator.passesRowChecks(df, schema))

  /** Watermarked tumbling-window aggregation: the canonical
    * `readStream.groupBy(window(...)).agg(...)` plan. `aggs` are
    * `name -> SQL aggregate` pairs (same convention as
    * [[graft.relation.Relation.aggregate]]).
    */
  def windowedAgg(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      keys: Seq[String],
      aggs: Seq[(String, String)]): DataFrame = {
    val aggCols = aggs.map { case (n, e) => expr(e).as(n) }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration) +: keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(
        col("window.start").as("window_start") +:
          col("window.end").as("window_end") +:
          (keys.map(col) ++ aggs.map(a => col(a._1))): _*)
  }

  /** Drop duplicate events whose duplicates arrive within the watermark
    * delay — the streaming analogue of [[graft.ops.Dedup.exactKeepMin]],
    * with state bounded by the watermark instead of the corpus.
    */
  def dedupStream(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      idCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Streaming incremental dedup: a LIVE document stream checked against a
    * STATIC standing corpus — [[graft.ops.Dedup.minhashPairsAgainst]]
    * applied to the stream. Its probe plan is stream-safe: the stream side
    * is hashed once and carries its shingle set through the band explode,
    * and both joins against the static corpus side are stateless. The
    * only state is the `dropDuplicates` of candidate pairs (the same pair
    * can surface via several bands, across micro-batches); key it with a
    * watermark upstream if the stream is unbounded, or leave it exact for
    * bounded replays. The static side — oversize-guarded buckets plus
    * shingle sets — is exactly the persisted dedup index; `persist()` the
    * corpus before passing when serving many micro-batches, or probe the
    * index itself with [[dedupAgainstIndex]].
    */
  def dedupAgainstCorpus(
      newStream: DataFrame,
      existing: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Int = 4096): DataFrame =
    Dedup.minhashPairsAgainst(
      newStream, existing, textCol, idCol, k, numHashes, bands, threshold, maxBucketSize)

  /** [[dedupAgainstCorpus]] probing a PERSISTED index
    * ([[graft.ops.Dedup.writeDedupIndex]] /
    * [[graft.ops.Dedup.appendDedupIndex]]) instead of re-hashing a corpus
    * frame — [[graft.ops.Dedup.minhashPairsAgainstIndex]] applied to the
    * stream, the production shape: a live crawl stream probing the
    * standing index, whose existing side is two narrow parquet reads
    * (buckets + hashed sets), never the corpus text. Banding parameters
    * come FROM the index header (format version checked), so the stream
    * side always hashes compatibly, including after appends. Same shared
    * probe plan as [[dedupAgainstCorpus]]: the stream-static joins are
    * stateless, and the one state is the `dropDuplicates` of candidate
    * pairs, held before the sets join and the Jaccard filter.
    *
    * The epoch is resolved ONCE, at query construction: the running query
    * keeps reading that epoch's files — appends retain predecessors for
    * `retainEpochs` generations (default 2, so ONE append under a live
    * query is safe). If more appends can land while this query runs, pass
    * a larger `retainEpochs` to [[graft.ops.Dedup.appendDedupIndex]] so
    * GC cannot reclaim the resolved epoch's files out from under the
    * stream; restart the query to pick up appended documents.
    */
  def dedupAgainstIndex(
      newStream: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      threshold: Double = 0.5): DataFrame =
    Dedup.minhashPairsAgainstIndex(newStream, textCol, idCol, path, threshold)

  /** Grow the standing dedup index FROM the live stream — the third corner
    * of the streaming triangle ([[dedupAgainstIndex]] probes it, batch
    * [[graft.ops.Dedup.appendDedupIndex]] folds daily batches; this folds
    * each micro-batch). Every batch is deduped by id within itself and
    * against ids already in the index before the fold, which makes the
    * sink IDEMPOTENT under replay: a micro-batch re-delivered after a
    * failure re-arrives with ids the index already holds and reduces to a
    * no-op instead of tripping the duplicate-id rejection. Empty batches
    * (and fully-filtered replays) commit no epoch.
    *
    * After the query drains, the index is table-for-table equal to one
    * batch append of the distinct arrivals (StreamingSpec proves it —
    * append ≡ rebuild holds for any batching). `foreachBatch` runs batches
    * sequentially, so the index's single-writer contract holds as long as
    * no OTHER job writes the same index while the query runs. Size
    * `retainEpochs` to cover concurrent long-running probe queries: each
    * non-empty micro-batch consumes one epoch generation.
    *
    * Returns the configured `DataStreamWriter` — set a checkpoint and
    * trigger, then `.start()`.
    */
  def appendToIndex(
      newStream: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      retainEpochs: Int = 2): DataStreamWriter[Row] =
    appendUnindexed(newStream, idCol, path, Dedup.DedupIndex)(
      Dedup.appendDedupIndex(_, textCol, idCol, path, retainEpochs))

  /** Each micro-batch deduped by id within itself and against the ids the
    * live epoch's id table already holds, then folded by `append` unless
    * nothing is left — the replay-safe sink of the streaming index appends.
    */
  private def appendUnindexed(
      newStream: DataFrame, idCol: String, path: String, index: EpochStore.EpochIndex)(
      append: DataFrame => Unit): DataStreamWriter[Row] =
    foldBatches(newStream) { (batch, _) =>
      val spark = batch.sparkSession
      val indexed = EpochStore.readTable(spark, index.resolve(spark, path), index.idTable.get)
      val fresh = batch.dropDuplicates(idCol)
        .join(indexed.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      if (!fresh.isEmpty) append(fresh)
    }

  /** Micro-batch shape (a): `fold` each NON-EMPTY micro-batch, with its
    * batch id. `foreachBatch` runs batches sequentially, so a fold that
    * holds an index's single-writer lease never races the next batch.
    */
  private def foldBatches(stream: DataFrame)(
      fold: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      if (!batch.isEmpty) fold(batch.toDF(), batchId)
    }

  /** Micro-batch shape (b): stage each non-empty micro-batch verbatim to
    * the `stagingPath` parquet corpus, and every `every` batches (ids 0,
    * every, 2·every, …) run `snapshot` over everything staged so far — a
    * no-op until something has staged.
    */
  private def snapshotBatches(stream: DataFrame, stagingPath: String, every: Int)(
      snapshot: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      if (!batch.isEmpty) batch.write.mode("append").parquet(stagingPath)
      if (batchId % every == 0) staged(batch.sparkSession, stagingPath).foreach(snapshot)
    }

  /** The rows staged at `path`, if anything has staged yet. */
  private def staged(spark: SparkSession, path: String): Option[DataFrame] =
    if (EpochStore.hadoopFs(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      Some(spark.read.parquet(path))
    else None

  /** Micro-batch shape (c): `load` the screen's value on the first batch
    * and again every `every` batches (ids 0, every, …), then hand `write`
    * each batch screened with the current value. `load` sees the value it
    * replaces, so an index loader can keep it when the epoch has not
    * moved. Batches run sequentially, so the cache needs no
    * synchronization.
    */
  private def refreshingScreen[T](
      stream: DataFrame, every: Int, load: (SparkSession, Option[T]) => T)(
      screen: (DataFrame, T) => DataFrame, write: DataFrame => Unit): DataStreamWriter[Row] = {
    require(every >= 1, s"refreshEvery must be >= 1, got $every")
    var cached: Option[T] = None
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      if (cached.isEmpty || batchId % every == 0) cached = Some(load(batch.sparkSession, cached))
      write(screen(batch.toDF(), cached.get))
    }
  }

  /** `prev` if it was built for epoch `ep`, else `ep`'s freshly built value
    * — an index loader rebuilds only when the live epoch moved (pointer
    * reads are O(1); a rebuild scans index data).
    */
  private def perEpoch[T](ep: EpochStore.Epoch, prev: Option[(String, T)])(
      build: => T): (String, T) =
    prev.filter(_._1 == ep.dir).getOrElse(ep.dir -> build)

  /** [[appendToIndex]]'s ANN twin: grow the standing
    * [[graft.ops.Similarity.writeAnnIndex]] index from a live vector
    * stream, one delta dir per non-empty micro-batch (the quantizer stays
    * frozen — rebuild when drift warrants). Identical idempotence contract:
    * each batch is deduped by id within itself and against ids already in
    * the index, so a replayed micro-batch reduces to a no-op instead of
    * tripping the duplicate-id rejection. Single writer per index while
    * the query runs; size `retainEpochs` for concurrent probe queries
    * (each non-empty batch consumes one epoch generation). Probing the
    * live stream the other way is just
    * [[graft.ops.Similarity.annRangeAgainstIndex]] on a streaming frame —
    * that operator is deliberately stateless.
    */
  def appendToAnnIndex(
      newStream: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      retainEpochs: Int = 2): DataStreamWriter[Row] =
    appendUnindexed(newStream, idCol, path, Similarity.AnnIndex)(
      Similarity.appendAnnIndex(_, vecCol, idCol, path, retainEpochs))

  /** Exact incremental SemDeDup per micro-batch against the standing ANN
    * index — the ANN lifecycle's LIVE form, closing the one gap the
    * other lifecycles don't have: minhash has [[dedupAgainstIndex]],
    * fingerprints have [[screenFingerprintsStream]], paragraphs have
    * [[suppressKnownParagraphsStream]]; a long-running SEMANTIC near-dup
    * screen previously required batch restarts. Each non-empty micro-batch
    * runs [[graft.ops.Similarity.semanticDedupAgainstIndex]] (or the
    * keep-best election when `scoreCol` is set) and hands `write` the
    * batch's rows with the audit columns attached — `rep` (the
    * component's representative: smallest matched STANDING id when the
    * component touches the corpus, min batch id otherwise) and `kept`
    * (the survivor flag) — so the caller routes survivors and duplicates
    * to their sinks.
    *
    * The raw pair probe needs no batching at all —
    * [[graft.ops.Similarity.annRangeAgainstIndex]] is deliberately
    * stateless and runs on a `readStream` frame directly; this wrapper
    * exists for the parts a stream cannot express inline (the
    * star-contraction closure, the standing-wins election, the replay
    * guard), which are exact per batch here.
    *
    * Index-growth visibility comes FREE in this form: the probe
    * re-resolves the epoch pointer on every batch (it is already
    * per-batch work — two narrow manifest reads), so an
    * [[graft.ops.Similarity.appendAnnIndex]] landing mid-stream is
    * observed by the NEXT batch without restart — no `…Refreshing`
    * variant needed, unlike the construction-time-bloom screens.
    * Replay safety: an id already committed to the index comes back
    * `kept = false` anchored at itself (the probe's id-bloom replay
    * guard), so redelivered batches produce no survivors. Batches are
    * deduped by id before the probe (at-least-once delivery can repeat
    * rows WITHIN a redelivered batch too). Size the index's
    * `retainEpochs` to the append cadence if another writer grows it
    * while this query runs.
    */
  def dedupSemanticAgainstIndexStream(
      newStream: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      minCosine: Double,
      nprobe: Int = 4,
      withinBatch: Boolean = true,
      scoreCol: Option[String] = None)(
      write: DataFrame => Unit): DataStreamWriter[Row] =
    semanticDedupBatches(newStream, vecCol, idCol, path, minCosine, nprobe,
      withinBatch, scoreCol, grow = false, retainEpochs = 2)(write)

  /** [[dedupSemanticAgainstIndexStream]] PLUS the index fold — the whole
    * daily SemDeDup loop as one streaming sink: per micro-batch, audit
    * the batch against the standing index, hand the audited rows to
    * `write`, then [[graft.ops.Similarity.appendAnnIndex]] the SURVIVORS
    * (`kept = true`) so later batches dedup against them. Exactly the
    * documented batch loop (probe → semi-join survivors → append) run at
    * micro-batch cadence; `foreachBatch` executes batches sequentially,
    * so the index's single-writer contract holds as long as no OTHER job
    * writes the same index. Replay-idempotent end to end: a redelivered
    * batch's ids anchor at themselves (`kept = false`), yielding zero
    * survivors and no new epoch. Each surviving batch consumes one epoch
    * generation — size `retainEpochs` to cover concurrent probe queries.
    */
  def dedupAndGrowSemanticIndexStream(
      newStream: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      minCosine: Double,
      nprobe: Int = 4,
      withinBatch: Boolean = true,
      scoreCol: Option[String] = None,
      retainEpochs: Int = 2)(
      write: DataFrame => Unit): DataStreamWriter[Row] =
    semanticDedupBatches(newStream, vecCol, idCol, path, minCosine, nprobe,
      withinBatch, scoreCol, grow = true, retainEpochs)(write)

  /** Shared per-batch core of the two streaming SemDeDup forms. The
    * audited frame is materialized once per batch — `write` and the
    * survivor append both consume it, and the probe + closure lineage is
    * far too expensive to run twice.
    */
  private def semanticDedupBatches(
      newStream: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      minCosine: Double,
      nprobe: Int,
      withinBatch: Boolean,
      scoreCol: Option[String],
      grow: Boolean,
      retainEpochs: Int)(
      write: DataFrame => Unit): DataStreamWriter[Row] = {
    val clash = newStream.columns.toSet & Set("rep", "kept")
    require(clash.isEmpty,
      s"the audit adds ${clash.mkString(", ")} — rename the existing column first")
    foldBatches(newStream) { (rawBatch, _) =>
      val batch = rawBatch.dropDuplicates(idCol)
      val audit = scoreCol match {
        case Some(s) => Similarity.semanticDedupKeepBestAgainstIndex(
          batch, vecCol, idCol, s, path, minCosine, nprobe, withinBatch)
        case None => Similarity.semanticDedupAgainstIndex(
          batch, vecCol, idCol, path, minCosine, nprobe, withinBatch)
      }
      val audited = Materialize.eager(
        if (idCol == "id") batch.join(audit, Seq("id"))
        else batch.join(audit, batch(idCol) === audit("id")).drop(audit("id")))
      write(audited)
      if (grow) {
        val survivors = audited.where(col("kept")).drop("rep", "kept")
        if (!survivors.isEmpty)
          Similarity.appendAnnIndex(survivors, vecCol, idCol, path, retainEpochs)
      }
    }
  }

  /** [[appendToAnnIndex]]'s FINGERPRINT twin: grow the standing
    * [[graft.ops.Decontam.writeFingerprintIndex]] postings from the live
    * stream. Replay safety mirrors the ANN path: each micro-batch is
    * deduped by id within itself AND against the index's `fsizes` id
    * column before the fold, so an at-least-once redelivery appends
    * nothing instead of tripping the duplicate-id guard. Single writer
    * per index while the query runs.
    */
  def appendToFingerprintIndex(
      newStream: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): DataStreamWriter[Row] =
    appendUnindexed(newStream, idCol, path, Decontam.FingerprintIndex)(
      Decontam.appendFingerprintIndex(_, idCol, textCol, path, retainEpochs))

  /** Loader of the fingerprint screen: the live epoch's winnowing (n, w)
    * and a bloom over its postings keys, rebuilt only when the epoch moved.
    */
  private def fingerprintBloom(spark: SparkSession, path: String, fpp: Double,
      prev: Option[(String, (Int, Int, Array[Byte]))]): (String, (Int, Int, Array[Byte])) = {
    val ep = Decontam.resolveFingerprintIndex(spark, path)
    perEpoch(ep, prev)((ep.header.int("n"), ep.header.int("w"), Decontam.gramKeyBloom(
      EpochStore.readTable(spark, ep, "postings").select(col("__g")).distinct())(fpp)))
  }

  /** Winnowed-fingerprint hit count + suspect flag against a loaded
    * [[fingerprintBloom]] — the per-row screen of [[screenFingerprintsStream]]
    * and [[screenFingerprintsRefreshing]]. Pure per-row codegen (winnowing
    * fused into the scan, one bloom probe per selected fingerprint);
    * null text carries no fingerprints and is never suspect.
    */
  private def fingerprintScreen(
      df: DataFrame, textCol: String, minShared: Long,
      bloom: (String, (Int, Int, Array[Byte]))): DataFrame = {
    val (_, (n, w, bytes)) = bloom
    val hits = when(col(textCol).isNull, lit(0L)).otherwise(
      size(filter(Decontam.winnowedGramKeys(col(textCol), n, w),
        k => Decontam.bloomMightContainKey(bytes, k))).cast("long"))
    df.withColumn("fp_hits", hits)
      .withColumn("suspect", col("fp_hits") >= minShared)
  }

  /** Per-ROW stateless near-duplicate SCREEN against the standing
    * winnowing-fingerprint index
    * ([[graft.ops.Decontam.writeFingerprintIndex]]): each streamed
    * document is winnowed with the INDEX's own (n, w) and its selected
    * fingerprints probe a bloom built once over the index's postings keys
    * at query construction — no join, no aggregate, no state (the
    * [[suppressKnownParagraphsStream]] construction at fingerprint
    * granularity). Adds `fp_hits` (how many of the document's fingerprints
    * the index might hold) and `suspect` (`fp_hits >= minShared`);
    * rows pass through unfiltered — the caller routes.
    *
    * Contract: a document genuinely sharing `minShared`+ fingerprints
    * with the standing corpus is ALWAYS flagged (blooms have no false
    * negatives); a clean document is over-flagged with probability ≤ its
    * fingerprint count × `fpp`. Two asymmetries vs the exact batch probe
    * ([[graft.ops.Decontam.winnowingPairsAgainstIndex]]), both toward
    * over-flagging: hits count fingerprints shared with the CORPUS (a doc
    * touching several standing docs sums across them, where per-pair
    * `shared_fps` would not), and no `maxDf` boilerplate cap applies (the
    * bloom carries no frequencies). The intended pipeline: screen at
    * stream rate, route `suspect` rows through the exact batch probe for
    * pair attribution. The epoch and bloom are FIXED at query
    * construction — use [[screenFingerprintsRefreshing]] to observe
    * appends without restart.
    */
  def screenFingerprintsStream(
      newStream: DataFrame,
      textCol: String,
      path: String,
      minShared: Long = 2L,
      fpp: Double = 1e-6): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    fingerprintScreen(newStream, textCol, minShared,
      fingerprintBloom(newStream.sparkSession, path, fpp, None))
  }

  /** [[screenFingerprintsStream]] with LIVE index-growth visibility — the
    * stateless screen fixes its bloom at query construction, so an
    * [[graft.ops.Decontam.appendFingerprintIndex]] landing DURING a
    * long-running stream is invisible until restart. This `foreachBatch`
    * variant re-resolves the index pointer every `refreshEvery` batches
    * and rebuilds the bloom ONLY when the live epoch actually moved
    * (pointer reads are O(1); a rebuild scans the postings key column —
    * size `refreshEvery` to the append cadence). Winnowing parameters are
    * re-read with the epoch, so even a parameter-changing rebuild screens
    * consistently. Same per-batch contract as the stateless form; batches
    * run sequentially, so the cache needs no synchronization.
    */
  def screenFingerprintsRefreshing(
      newStream: DataFrame,
      textCol: String,
      path: String,
      minShared: Long = 2L,
      fpp: Double = 1e-6,
      refreshEvery: Int = 1)(
      write: DataFrame => Unit): DataStreamWriter[Row] = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    refreshingScreen(newStream, refreshEvery, fingerprintBloom(_, path, fpp, _))(
      fingerprintScreen(_, textCol, minShared, _), write)
  }

  /** [[appendToIndex]]'s PARAGRAPH twin: grow the standing
    * [[graft.ops.Dedup.writeParagraphIndex]] index from the live stream,
    * one delta of never-seen hashes per non-empty micro-batch. No dedup
    * pre-step and no duplicate tripwire needed — the batch append is
    * replay-idempotent BY CONSTRUCTION (known hashes ⇒ empty delta ⇒ no
    * new epoch), so at-least-once delivery is safe as-is. Single writer
    * per index while the query runs.
    */
  def appendToParagraphIndex(
      newStream: DataFrame,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): DataStreamWriter[Row] =
    foldBatches(newStream)((batch, _) =>
      Dedup.appendParagraphIndex(batch, textCol, path, retainEpochs))

  /** Fold each micro-batch of arrivals into the standing TOKEN-FREQUENCY
    * index ([[graft.ops.TextOps.writeTokenFrequencyIndex]]) — the sixth
    * lifecycle's streaming form, one counter-delta epoch per batch.
    * Replay-safe under at-least-once delivery BY THE APPEND'S OWN GUARD:
    * a replayed batch's ids are all committed, so the fold no-ops (the
    * id bloom decides without touching standing data); a batch REUSING a
    * committed id alongside new ones is a partial overlap and fails
    * loudly rather than double-counting — ids must be unique across the
    * stream's life, the same contract as the other id-guarded
    * lifecycles. Batches run sequentially (single writer holds the
    * lease per fold).
    */
  def appendToTokenFrequencyIndex(
      newStream: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      retainEpochs: Int = 2): DataStreamWriter[Row] =
    foldBatches(newStream)((batch, _) =>
      TextOps.appendTokenFrequencyIndex(batch, idCol, textCol, path, retainEpochs))

  /** Stateless per-row quality scoring of a stream under a trained
    * classifier: adds `outCol` = `prior + Σ weight` (OOV tokens scoring
    * `oovWeight`, null text null, token-less text the bare prior) via
    * [[graft.ops.LangModel.scoreColumn]]'s literal-map form — no join,
    * no aggregate, no state, so it composes with any downstream filter
    * ("drop arrivals the quality model rejects") without watermarks.
    * The weights are FIXED at query construction ([[graft.ops.LangModel
    * .collectWeights]] of a trained or standing-index-derived table);
    * restart the query to pick up a retrained model.
    */
  def scoreQualityStream(
      newStream: DataFrame,
      textCol: String,
      weights: Map[String, Long],
      oovWeight: Long,
      prior: Long,
      outCol: String = "quality_score"): DataFrame =
    newStream.withColumn(outCol,
      LangModel.scoreColumn(col(textCol), weights, oovWeight, prior))

  /** Stateless per-row CLASSIFICATION of a stream — language-ID / domain
    * routing in flight: adds `outCol` = `struct(score, cls)`, the
    * (score DESC, cls ASC) argmax over the literal-map class scores
    * ([[graft.ops.LangModel.predictColumn]]); null text predicts null.
    * Same fixed-at-construction contract as [[scoreQualityStream]].
    */
  def predictClassStream(
      newStream: DataFrame,
      textCol: String,
      classes: Seq[(String, Map[String, Long], Long, Long)],
      outCol: String = "pred"): DataFrame =
    newStream.withColumn(outCol,
      LangModel.predictColumn(col(textCol), classes))

  /** Fold each micro-batch onto a standing [[graft.ops.Sink
    * .writeSizedShards]] corpus as a size-balanced LOG append: every
    * batch continues the standing cumsum exactly (tail shard fills
    * first, standing files never rewritten), so a long-running ingest
    * stream keeps emitting ~target-weight output files. The id-collision
    * guard stays ON — it is also the replay guard: a replayed batch
    * fails loudly instead of silently duplicating rows (this sink is a
    * log, not an idempotent fold; pair it with an upstream dedup screen
    * when at-least-once delivery is possible).
    *
    * `compactEvery` (0 = never, the default) runs [[graft.ops.Sink
    * .compactSizedShards]] after every Nth batch's append (an empty
    * batch appends nothing and skips its turn): a per-batch append
    * adds one file per touched shard, so a long-running stream is
    * exactly the small-file producer compaction exists for, and folding
    * the pass into the same foreachBatch keeps it under the stream's
    * own single-writer cadence (compaction takes the same lease the
    * append just held — never concurrent with it). The pass costs the
    * dirty tail only: untouched shards are never read or rewritten, so
    * at a daily cadence over 100 TB the rewrite tracks the day's
    * arrivals, not the corpus.
    */
  def appendSizedShardsStream(
      newStream: DataFrame,
      path: String,
      idCol: String,
      weightCol: String,
      targetWeight: Long,
      compactEvery: Int = 0,
      maxFilesPerShard: Int = 1): DataStreamWriter[Row] = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    foldBatches(newStream) { (batch, batchId) =>
      Sink.appendSizedShards(batch, path, idCol, weightCol, targetWeight)
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        Sink.compactSizedShards(batch.sparkSession, path, idCol, maxFilesPerShard)
    }
  }

  /** Stateless C4-style phrase-blocklist screen over a stream: drops every
    * arrival containing a blocklist phrase as a consecutive token sequence
    * ([[graft.ops.TextOps.filterBlocklisted]]'s rule — case-insensitive,
    * token-exact, null-text rows kept). The phrase list ships as a plan
    * literal, so the screen is pure per-row codegen — no join, no state,
    * no watermark; restart the query to pick up an edited list.
    */
  def screenBlocklistStream(
      newStream: DataFrame,
      textCol: String,
      phrases: Seq[String]): DataFrame =
    TextOps.filterBlocklisted(newStream, textCol, phrases)

  /** In-flight repetition screen: keep arrivals passing the four
    * row-local line/paragraph repetition rules
    * ([[graft.ops.TextOps.repetitionQuickPass]] — the stream-safe subset
    * of the Gopher repetition bundle). Stateless pure codegen like the
    * blocklist screen; null-text rows are dropped (a null verdict is not
    * a pass), matching the batch `where` semantics exactly.
    */
  def screenRepetitionStream(
      newStream: DataFrame,
      textCol: String): DataFrame =
    newStream.where(TextOps.repetitionQuickPass(col(textCol)))

  /** In-flight prototype routing + scoring: each arriving embedding
    * assigns to its cell under the FROZEN integer quantizer
    * ([[graft.ops.Similarity.collectCellSeeds]]) and scores against the
    * FROZEN cell code sums ([[graft.ops.Similarity.collectCellSums]]) —
    * the streaming twin of `integerCellAssign` → `prototypeScores`. Both
    * decisions are pure literal-table Columns (no join, no watermark, no
    * state), so a live embedding stream gets the same
    * prototypicality-routing a batch D4 pass computes; an arrival whose
    * cell is absent from the frozen sums scores null (flagged, not
    * dropped). Adds `cell` and `proto`.
    */
  def prototypeScoreStream(
      newStream: DataFrame,
      vecCol: String,
      seeds: Seq[(Any, Seq[Byte])],
      sums: Seq[(Any, Seq[Long])]): DataFrame = {
    require(!newStream.columns.contains("cell") &&
      !newStream.columns.contains("proto"),
      "prototypeScoreStream adds 'cell' and 'proto' columns — rename the " +
        "existing ones first (the integerCellAssign contract)")
    newStream
      .withColumn("cell",
        Similarity.integerCellColumn(col(vecCol), seeds))
      .withColumn("proto",
        Similarity.prototypeScoreColumn(
          col(vecCol), col("cell"), sums))
  }

  /** The end-to-end curation composition as a stream — the streaming
    * twin of the batch screen→waterfill chain (q160): each micro-batch
    * is (1) SCREENED against the phrase blocklist (stateless per-row
    * codegen, each document screened exactly once on arrival), (2) its
    * survivors appended to the `stagingPath` parquet corpus, and (3)
    * every `remixEvery` batches the standing survivors are RE-MIXED with
    * the exact waterfill allocation into a fresh `mixPath` snapshot.
    * At the default `remixEvery = 1`, after the stream drains the
    * snapshot equals the batch chain run over everything that arrived —
    * the mix is a pure function of the accumulated survivor set (exact
    * BigInt quotas + md5-order per-source prefixes, no arrival-order
    * dependence). With `remixEvery > 1` the drained snapshot reflects
    * survivors only through the last re-mix batch — run
    * [[graft.ops.Sampling.takeWaterfillMix]] once over `stagingPath`
    * to finalize (the periodic re-mix is exactly that call).
    *
    * The re-mix is deliberately a SNAPSHOT recompute, not an incremental
    * fold: a waterfill is a global allocation (one source's surplus
    * spills to the others), so any new arrival can move every quota —
    * there is no per-row incremental form. It reads only (source, key)
    * — never text — so the periodic pass stays narrow at corpus scale;
    * size `remixEvery` to taste (a daily re-mix over 100 TB of ids is
    * one aggregate + K-source driver fixpoint + one semi-join take).
    * Screening is never repeated: standing survivors re-enter only the
    * mix, not the blocklist.
    *
    * At-least-once caveat (same as [[appendSizedShardsStream]]): a
    * replayed batch would re-append its survivors to staging — pair with
    * an upstream dedup screen, or stage into an id-guarded sized-shard
    * log, when the source can replay.
    */
  def curationMixStream(
      newStream: DataFrame,
      textCol: String,
      idCol: String,
      sourceCol: String,
      phrases: Seq[String],
      weights: Map[String, Long],
      budget: Long,
      stagingPath: String,
      mixPath: String,
      remixEvery: Int = 1): DataStreamWriter[Row] = {
    require(remixEvery >= 1, s"remixEvery must be >= 1, got $remixEvery")
    snapshotBatches(TextOps.filterBlocklisted(newStream, textCol, phrases),
      stagingPath, remixEvery)(
      Sampling.takeWaterfillMix(_, sourceCol, idCol, weights, budget)
        .write.mode("overwrite").parquet(mixPath))
  }

  /** The FULL [[graft.ops.Pipeline.curate]] chain as a stream. Per
    * micro-batch, ON ARRIVAL: stage A (domain verdict, URL
    * canonicalization, HTML extraction, the
    * Gopher/repetition/C4/blocklist screen chain, token count) runs as
    * the same one regex pass the batch ledger pays — each page's HTML is
    * read exactly once, ever — and the NARROW ledger rows append to
    * `stagingPath` (the staging corpus IS the materialized ledger).
    * Every `snapshotEvery` batches, the GLOBAL stages — both min-id
    * dedup elections, the decontamination gram probe, the exact
    * waterfill token mix, the sized-shard cumsum, and the diagnosis
    * assembly — recompute over the standing ledger into a fresh
    * `reportPath` snapshot (overwrite, the batch diagnosis schema:
    * idCol, sourceCol, stage, n_tok, shard).
    *
    * Deliberately a snapshot RECOMPUTE of the global stages, not
    * incremental election state (the [[curationMixStream]] discipline,
    * and here it is a matter of CORRECTNESS, not just simplicity): a
    * min-id election is retroactive — a later arrival with a smaller id
    * flips an earlier winner to 'url_dup'/'text_dup', and a waterfill
    * re-mix can move every page's 'mix'/'kept'/shard verdict — so no
    * per-arrival incremental form can equal the batch chain. The
    * snapshot is a pure function of the accumulated ledger row set
    * (every global verdict is arrival-order-independent), so at the
    * default `snapshotEvery = 1` the report after the stream drains
    * EQUALS the batch [[graft.ops.Pipeline.curate]] over the same
    * arrivals (StreamingSpec pins it). With `snapshotEvery > 1` the
    * drained report reflects arrivals only through the LAST SNAPSHOT
    * batch (a trailing batch whose id is not a multiple of
    * `snapshotEvery` stages its ledger rows but does not re-snapshot,
    * and a stale snapshot can even hold winners a later arrival's
    * retroactive election should have flipped) — run [[curateSnapshot]]
    * once after the drain to finalize; StreamingSpec pins both the
    * staleness and the finalize. The
    * recompute reads only the narrow ledger — ids, hashes, urls,
    * extracted text for the gram probe, counts — never raw HTML; at
    * 100 TB the periodic pass costs the elections' id-hash shuffles,
    * not the crawl.
    *
    * At-least-once caveat (the [[curationMixStream]] note): a replayed
    * batch would re-append its ledger rows; min-id elections absorb
    * exact replays (same id wins against itself), but the funnel counts
    * would double — pair with an upstream id guard when the source can
    * replay.
    */
  def curateStream(
      newStream: DataFrame,
      idCol: String,
      urlCol: String,
      sourceCol: String,
      htmlCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      cfg: Pipeline.CurationConfig,
      stagingPath: String,
      reportPath: String,
      snapshotEvery: Int = 1): DataStreamWriter[Row] = {
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1, got $snapshotEvery")
    snapshotBatches(
      Pipeline.ledgerProjection(newStream, idCol, urlCol, sourceCol, htmlCol, cfg),
      stagingPath, snapshotEvery)(
      curateReport(_, evalSet, evalTextCol, cfg, idCol, sourceCol, reportPath))
  }

  /** Re-run [[curateStream]]'s global-stage snapshot once, from the
    * standing ledger at `stagingPath` into `reportPath` — the finalize
    * step after a `snapshotEvery > 1` stream drains (the periodic
    * snapshot is exactly this call). A no-op if nothing has staged yet.
    */
  def curateSnapshot(
      spark: SparkSession,
      stagingPath: String,
      evalSet: DataFrame,
      evalTextCol: String,
      cfg: Pipeline.CurationConfig,
      idCol: String,
      sourceCol: String,
      reportPath: String): Unit =
    staged(spark, stagingPath).foreach(
      curateReport(_, evalSet, evalTextCol, cfg, idCol, sourceCol, reportPath))

  /** The global stages over a standing `ledger`, overwriting `reportPath`. */
  private def curateReport(
      ledger: DataFrame, evalSet: DataFrame, evalTextCol: String,
      cfg: Pipeline.CurationConfig, idCol: String, sourceCol: String,
      reportPath: String): Unit =
    Pipeline.curateFromLedger(ledger, evalSet, evalTextCol, cfg, idCol, sourceCol)
      .diagnosis.write.mode("overwrite").parquet(reportPath)

  /** Periodic DoReMi weight snapshots over a STREAMING loss log (the
    * q184 batch op's duality): arriving per-row proxy/reference losses
    * stage verbatim, and every `snapshotEvery` batches the standing log
    * reruns the exact [[graft.ops.Sampling.doremiWeights]] recursion into
    * `reportPath` (overwrite; columns `domainCol`/weight). Deliberately a
    * snapshot RECOMPUTE, not incremental state: the recursion is
    * driver-side BigInt over ONE tiny (step, domain) aggregate, so the
    * recompute costs exactly the report it produces (the
    * [[curationMixStream]] discipline), the weights always reflect every
    * step seen so far in the paper's time-average, and a mid-run η/c
    * change can never strand stale state. A log with no non-null domain
    * yet skips the snapshot rather than failing the stream.
    */
  def doremiWeightsStream(
      newStream: DataFrame,
      stepCol: String,
      domainCol: String,
      proxyCol: String,
      refCol: String,
      stagingPath: String,
      reportPath: String,
      snapshotEvery: Int = 1,
      etaMicro: Long = 1000000L,
      smoothMicro: Long = 1000L): DataStreamWriter[Row] = {
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1, got $snapshotEvery")
    snapshotBatches(newStream, stagingPath, snapshotEvery) { standing =>
      if (!standing.where(col(domainCol).isNotNull).isEmpty) {
        val w = Sampling.doremiWeights(standing,
          stepCol, domainCol, proxyCol, refCol, etaMicro, smoothMicro)
        import standing.sparkSession.implicits._
        w.toDF(domainCol, "weight").write.mode("overwrite").parquet(reportPath)
      }
    }
  }

  /** Periodic FUNNEL snapshots over everything that has arrived — the
    * streaming form of the q175/q179 reporting surface
    * ([[graft.ops.TextOps.curationFunnelFull]]): each micro-batch appends
    * its raw (stratum, text) rows to a staging corpus VERBATIM (verdicts
    * are recomputed per snapshot, so a post-hoc rule change can never
    * strand stale verdicts inside the report), and every `snapshotEvery`
    * batches the standing arrivals re-aggregate into a fresh per-stratum
    * funnel at `reportPath` (overwrite). Deliberately a snapshot
    * recompute, not incremental state — the [[curationMixStream]]
    * discipline: the funnel is ONE scan-pass of pure codegen verdicts
    * into a K-strata aggregate, so the recompute costs exactly the
    * report it produces and, at the default `snapshotEvery = 1`, the
    * drained stream provably equals the batch funnel over the same
    * arrivals. With `snapshotEvery > 1` the drained report reflects
    * arrivals only through the last snapshot batch — run
    * [[graft.ops.TextOps.curationFunnelFull]] once over `stagingPath`
    * to finalize (the periodic snapshot is exactly that call); the same
    * cadence note applies to [[doremiWeightsStream]] and
    * [[corpusMapStream]] below, whose snapshots are likewise one
    * re-runnable call over their staging corpus.
    */
  def curationFunnelStream(
      newStream: DataFrame,
      stratumCol: String,
      textCol: String,
      phrases: Seq[String],
      stagingPath: String,
      reportPath: String,
      snapshotEvery: Int = 1,
      minSentences: Int = 3): DataStreamWriter[Row] = {
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1, got $snapshotEvery")
    snapshotBatches(newStream, stagingPath, snapshotEvery)(
      TextOps.curationFunnelFull(_, stratumCol, textCol, phrases, minSentences)
        .write.mode("overwrite").parquet(reportPath))
  }

  /** Periodic CORPUS-MAP snapshots (q180's cluster cards) over a stream
    * of (embedding, text) arrivals: each row routes to its integer cell
    * ON ARRIVAL through the FROZEN seed quantizer
    * ([[graft.ops.Similarity.integerCellColumn]] — pure codegen, no
    * join/watermark/state, so arrivals never re-cluster), only the
    * narrow routed (cell, text) rows stage, and every `snapshotEvery`
    * batches the standing staging re-ranks each cell's `k` signature
    * terms + doc counts into `reportPath` (overwrite; columns
    * cell/n_docs/rank/token/score — the q180 card schema). The tf/df
    * term rank is the snapshot recompute: a corpus-wide rational rank
    * with no incremental form worth the state.
    */
  def corpusMapStream(
      newStream: DataFrame,
      vecCol: String,
      textCol: String,
      seeds: Seq[(Any, Seq[Byte])],
      stagingPath: String,
      reportPath: String,
      snapshotEvery: Int = 1,
      k: Int = 5): DataStreamWriter[Row] = {
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1, got $snapshotEvery")
    val routed = newStream
      .withColumn("cell", Similarity.integerCellColumn(col(vecCol), seeds))
      .select(col("cell"), col(textCol).as("__text"))
    snapshotBatches(routed, stagingPath, snapshotEvery) { standing =>
      val terms = TextOps.topTermsPerDoc(standing, "cell", "__text", k)
        .select(col("doc_id").as("cell"), col("rank"), col("token"), col("score"))
      val sizes = standing.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
      terms.join(sizes, Seq("cell"))
        .select(col("cell"), col("n_docs"), col("rank"), col("token"), col("score"))
        .write.mode("overwrite").parquet(reportPath)
    }
  }

  /** Fold each micro-batch of newly LABELED documents into the standing
    * classifier index ([[graft.ops.LangModel.writeClassifierIndex]]) —
    * the classifier lifecycle's streaming form: the quality model keeps
    * learning as labels arrive, and the derived weights stay exactly the
    * from-scratch retrain on everything committed. Replay-safe by the
    * append's own id guard, same contract as
    * [[appendToTokenFrequencyIndex]].
    */
  def appendToClassifierIndex(
      newStream: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      path: String,
      retainEpochs: Int = 2): DataStreamWriter[Row] =
    foldBatches(newStream)((batch, _) =>
      LangModel.appendClassifierIndex(batch, idCol, textCol, labelCol, path, retainEpochs))

  /** Per-ROW stateless stream filter against the standing paragraph index
    * ([[graft.ops.Dedup.writeParagraphIndex]]): rebuild each streamed
    * document with every ALREADY-INDEXED paragraph removed, deciding from
    * a bloom filter built once over the index's hash column at query
    * construction — no join, no aggregate, no state (the
    * [[decontaminateStream]] construction applied per paragraph).
    *
    * Contract: NEVER keeps an indexed paragraph; an unseen paragraph is
    * wrongly dropped with probability `fpp` (default 1e-6). Exact suppression
    * — and within-batch dedup — runs via `foreachBatch` over
    * [[graft.ops.Dedup.dedupParagraphsAgainstIndex]] instead. The index
    * epoch and bloom are FIXED at query construction; restart the query
    * to observe appends. Null text stays null.
    */
  def suppressKnownParagraphsStream(
      newStream: DataFrame,
      textCol: String,
      path: String,
      fpp: Double = 1e-6): DataFrame =
    paragraphScreen(newStream, textCol,
      paragraphBloom(newStream.sparkSession, path, fpp, None))

  /** Loader of the paragraph screen: a bloom over the live epoch's
    * paragraph hashes, rebuilt only when the epoch moved.
    */
  private def paragraphBloom(spark: SparkSession, path: String, fpp: Double,
      prev: Option[(String, Array[Byte])]): (String, Array[Byte]) = {
    val ep = Dedup.resolveParagraphIndex(spark, path)
    perEpoch(ep, prev)(Decontam.gramKeyBloom(
      Dedup.paragraphIndexHashes(spark, ep).withColumnRenamed("h", "__g"))(fpp))
  }

  /** `cleaned` = the text minus every paragraph the loaded
    * [[paragraphBloom]] might hold; null text stays null.
    */
  private def paragraphScreen(
      df: DataFrame, textCol: String, bloom: (String, Array[Byte])): DataFrame = {
    val kept = filter(split(col(textCol), Dedup.ParaSep),
      p => !Decontam.bloomMightContainKey(bloom._2, md5(p.cast("binary"))))
    df.withColumn("cleaned",
      when(col(textCol).isNull, lit(null).cast("string"))
        .otherwise(concat_ws("\n\n", kept)))
  }

  /** [[suppressKnownParagraphsStream]] with LIVE index-growth visibility —
    * the stateless filter fixes its bloom at query construction, so an
    * [[graft.ops.Dedup.appendParagraphIndex]] landing DURING a long-running
    * stream is invisible until restart. This `foreachBatch` variant
    * re-resolves the index pointer every `refreshEvery` batches and
    * rebuilds the bloom ONLY when the live epoch actually moved (pointer
    * reads are O(1); the rebuild costs one scan of the index's hash
    * column, so size `refreshEvery` to the append cadence), then applies
    * the same per-row filter and hands the cleaned batch to `write`.
    * Same contract per batch: never keeps an indexed paragraph, drops an
    * unseen one with probability `fpp`; null text stays null. Batches are
    * processed sequentially, so the cache needs no synchronization.
    */
  def suppressKnownParagraphsRefreshing(
      newStream: DataFrame,
      textCol: String,
      path: String,
      fpp: Double = 1e-6,
      refreshEvery: Int = 1)(
      write: DataFrame => Unit): DataStreamWriter[Row] =
    refreshingScreen(newStream, refreshEvery, paragraphBloom(_, path, fpp, _))(
      paragraphScreen(_, textCol, _), write)

  /** [[decontaminateStream]] with a refreshing eval set — an eval suite
    * that GROWS while the stream runs (new benchmarks added to the
    * held-out store) is invisible to the construction-time bloom until
    * restart. Here `evalSet` is a THUNK re-evaluated every `refreshEvery`
    * batches (return a fresh `spark.read` so new files are visible); each
    * rebuild costs one pass over the eval grams. Filter contract per
    * batch is [[decontaminateStream]]'s: never passes a document sharing
    * a gram with the CURRENT bloom's eval set, over-drops clean docs at
    * ≤ grams × `fpp`.
    */
  def decontaminateRefreshing(
      newStream: DataFrame,
      evalSet: () => DataFrame,
      textCol: String,
      n: Int = 8,
      fpp: Double = 1e-6,
      refreshEvery: Int = 1)(
      write: DataFrame => Unit): DataStreamWriter[Row] =
    refreshingScreen[Array[Byte]](newStream, refreshEvery,
      (_, _) => evalBloom(evalSet(), textCol, n, fpp))(
      decontamScreen(_, textCol, n, _), write)

  /** Stream the corpus into a [[graft.ops.Sink.writeShards]]-layout
    * parquet directory: same engine-portable md5 shard key, same
    * `shard=NN` dirs, and the same bounded-file story PER MICRO-BATCH
    * (the repartition caps each batch at nShards × filesPerShard files).
    * Exactly-once comes from the parquet sink's file-metadata log, so a
    * replayed micro-batch never double-writes. Differences from the batch
    * sink, by streaming necessity: files accumulate one set per batch
    * (run [[graft.ops.Sink.writeShards]] over the accumulated data to
    * compact), and rows inside a file follow arrival order — sorting is
    * not available in an append stream. Caller supplies `.option("path",
    * …)` and `.option("checkpointLocation", …)` and starts the query;
    * [[graft.ops.Sink.shardManifest]] reads the result like any other
    * shard layout.
    */
  def writeShardsStream(
      newStream: DataFrame,
      idCol: String,
      nShards: Int,
      filesPerShard: Int = 1): DataStreamWriter[Row] = {
    require(!newStream.columns.contains("shard"),
      "input already has a 'shard' column — rename it first (the sink " +
        "derives its own shard key from the id)")
    newStream
      .withColumn("shard", Sink.shardColumn(col(idCol), nShards))
      .repartition(nShards * filesPerShard, col("shard"),
        pmod(xxhash64(col(idCol)), lit(filesPerShard)))
      .writeStream
      .partitionBy("shard")
      .format("parquet")
  }

  /** STATELESS streaming decontamination filter: drop stream documents
    * sharing any word `n`-gram with a static eval set, deciding per row
    * from a bloom filter built ONCE over the eval gram keys at query
    * construction (the codegen `BloomFilterMightContain` probe inside an
    * `exists` over the doc's grams — no join, no aggregate, no state, so
    * it runs in append mode at any rate).
    *
    * Contract: NEVER passes a contaminated document (bloom filters have
    * no false negatives). The price of statelessness is bounded
    * over-dropping: a clean document is wrongly dropped with probability
    * ≤ its gram count × `fpp` — at the 1e-6 default, one 1 000-gram clean
    * doc in a thousand. Pipelines that cannot tolerate any over-drop
    * should run the exact batch [[graft.ops.Decontam.decontaminate]]
    * instead; at streaming rates that trade is usually preferable to
    * keeping join state. Null-text documents carry no grams and always
    * pass.
    */
  def decontaminateStream(
      newStream: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 1e-6): DataFrame =
    decontamScreen(newStream, textCol, n, evalBloom(evalSet, textCol, n, fpp))

  /** Loader of the decontamination screen: a bloom over the eval grams. */
  private def evalBloom(evalSet: DataFrame, textCol: String, n: Int, fpp: Double): Array[Byte] =
    Decontam.gramKeyBloom(Decontam.evalGramKeys(evalSet, textCol, n))(fpp)

  /** Rows sharing no word `n`-gram with the loaded [[evalBloom]]; null
    * text carries no grams and passes.
    */
  private def decontamScreen(
      df: DataFrame, textCol: String, n: Int, bytes: Array[Byte]): DataFrame =
    df.where(coalesce(!exists(Decontam.wordNgrams(col(textCol), n),
      g => Decontam.bloomMightContainKey(bytes, Decontam.gramKey(g))), lit(true)))

  /** Stream-stream inner join bounded in event time: left rows match right
    * rows with the same `key` whose `rightTs` lies in
    * `[leftTs - maxLagMs, leftTs]` (e.g. a click joined to the purchases it
    * preceded within the lag window). Both sides are watermarked and the
    * time-range condition bounds the join state — Spark drops buffered rows
    * once the watermark passes `ts + maxLagMs`, so state is O(rate × lag),
    * never O(stream). Works identically on batch frames (the same plan
    * minus state).
    *
    * Column names apart from `key` must be disjoint between the sides (the
    * join preserves both frames' columns).
    */
  def joinWithinTime(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      watermarkDelay: String,
      maxLagMs: Long): DataFrame = {
    val overlap = (left.columns.toSet & right.columns.toSet) - key
    require(overlap.isEmpty,
      s"joinWithinTime: non-key columns collide: ${overlap.mkString(", ")}")
    val l = (if (left.isStreaming) left.withWatermark(leftTs, watermarkDelay)
             else left).alias("l")
    val r = (if (right.isStreaming) right.withWatermark(rightTs, watermarkDelay)
             else right).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $maxLagMs MILLISECONDS") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"))
      .drop(col(s"r.$key"))
  }

  /** Event-time sessionization with a gap timeout: consecutive events of a
    * user belong to one session while the gap between them is below
    * `gapMs`; a session closes (and is emitted) when the watermark passes
    * its end + gap. Custom keyed state via `flatMapGroupsWithState` —
    * state per user is O(1), emitted rows are append-only.
    *
    * Input must have `user_id` (long), `ts` (timestamp), `value` (double)
    * and a watermark already applied to `ts` (see [[sessionizeEvents]]).
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // Buffer-and-replay design: events are held in state and the
          // gap-split runs over the full sorted buffer on every
          // invocation, so an out-of-order event that arrives within the
          // watermark lands in its correct session (a greedy running
          // state would merge an event EARLIER than the open session's
          // start, since t - end <= gap holds trivially for t < end —
          // diverging from sessionizeBatch). A session is emitted — and
          // its events dropped from the buffer — only once the watermark
          // passes its end + gap, after which no admissible event (all
          // have ts >= watermark) can extend or split it. State per user
          // is O(events inside the watermark horizon).
          val buffered = state.getOption.map(_.events).getOrElse(Nil)
          val incoming = rows.map(e => (e.ts.getTime, e.value)).toList
          val all = (buffered ++ incoming).sortBy(_._1)
          val wm = state.getCurrentWatermarkMs()

          // gap-split the sorted buffer (identical to sessionizeBatch)
          val sessions = List.newBuilder[List[(Long, Double)]]
          var current = List.newBuilder[(Long, Double)]
          var prev = Long.MinValue
          all.foreach { case ev @ (t, _) =>
            if (prev != Long.MinValue && t - prev > gapMs) {
              sessions += current.result()
              current = List.newBuilder[(Long, Double)]
            }
            current += ev
            prev = t
          }
          val currentLast = current.result()
          if (currentLast.nonEmpty) sessions += currentLast

          val (closed, open) = sessions.result().partition(s => s.last._1 + gapMs < wm)
          val keep = open.flatten
          if (keep.isEmpty) state.remove()
          else {
            state.update(SessionState(keep))
            // strictly above the watermark (an end+gap == wm session stays
            // open under the strict < close test)
            state.setTimeoutTimestamp(math.max(keep.map(_._1).max + gapMs, wm + 1))
          }
          closed.iterator.map { s =>
            UserSession(userId,
              new Timestamp(s.head._1), new Timestamp(s.last._1),
              s.length.toLong, s.map(_._2).sum)
          }
      }
  }

  /** Batch sessionization with IDENTICAL semantics to [[sessionize]]: the
    * classic lag → new-session flag → running-sum trick, so results can be
    * cross-checked between the batch and streaming paths (and against a SQL
    * oracle). One shuffle on user_id; the windows reuse its partitioning.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"), col("value").cast("double").as("value"))
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          col("ts").cast("double") - col("__prev").cast("double") > gapMs / 1000.0, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(wRun))
      .groupBy(col("user_id"), col("__sid"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .drop("__sid")
  }

  /** [[sessionize]] adapted to the raw `events` table schema, watermark
    * included.
    */
  def sessionizeEvents(
      events: DataFrame,
      watermarkDelay: String,
      gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val typed = events
      .select(
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("value").cast("double").as("value"))
      // watermark AFTER the cast projection — a cast re-creates the
      // attribute and would silently drop the watermark tag
      .withWatermark("ts", watermarkDelay)
      .as[SessionEvent]
    sessionize(typed, gapMs)
  }
}
