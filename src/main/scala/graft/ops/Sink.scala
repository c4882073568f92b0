package graft.ops

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output side of the pipeline: write a corpus as hash-sharded parquet a
  * downstream training job (or the next pipeline stage) can consume with
  * bounded file counts and prunable layout.
  *
  * Shard assignment is the engine-portable md5-prefix bucket used across
  * the library (same idiom as `Packing.md5Group` / `Sampling.md5Split`):
  * any engine can recompute `shard` from the id alone, so a reader — or an
  * oracle — never needs Spark to know which shard a document lives in.
  *
  * Plan shape for 100 TB: `repartition(nShards × filesPerShard, shard,
  * salt)` ahead of `partitionBy(shard)` means each task holds exactly one
  * (shard, salt) slice, so the job writes AT MOST nShards × filesPerShard
  * files TOTAL — without it, every task can touch every shard and the file
  * count explodes to tasks × shards (the classic small-files failure).
  * `filesPerShard` restores write parallelism when shards are huge: at
  * 100 TB / 256 shards, filesPerShard = 64 gives 16 384 write tasks with
  * the file count still bounded and each file internally sorted by id
  * (`sortWithinPartitions`), so parquet row-group min/max stats prune
  * id-range scans.
  */
object Sink {

  /** Engine-portable shard of `key`: first ⌈log₁₆ nShards⌉ md5 hex digits
    * of the key rendered as a string, mod nShards. Null keys yield a null
    * shard (they would land in the writer's default partition — filter or
    * fill ids first).
    */
  def shardColumn(key: Column, nShards: Int): Column = {
    require(nShards >= 1 && nShards <= 4096,
      s"nShards must be in [1, 4096], got $nShards")
    pmod(
      conv(
        substring(md5(key.cast("string").cast("binary")), 1,
          Packing.md5GroupDigits(nShards)),
        16, 10).cast("int"),
      lit(nShards))
  }

  /** Write `df` under `path` as `shard=NN/part-*.parquet`, sharded by
    * [[shardColumn]] of `idCol` and sorted by `idCol` within every file.
    * The shard column is the directory key only — file contents carry the
    * original columns. `overwrite = false` (the default) fails on an
    * existing `path` rather than silently replacing a corpus.
    */
  def writeShards(
      df: DataFrame,
      path: String,
      idCol: String,
      nShards: Int,
      filesPerShard: Int = 1,
      overwrite: Boolean = false,
      idBloom: Boolean = false): Unit = {
    require(filesPerShard >= 1 && filesPerShard <= 4096,
      s"filesPerShard must be in [1, 4096], got $filesPerShard")
    require(!df.columns.contains("shard"),
      "input already has a 'shard' column — rename it first (the sink " +
        "derives its own shard key from the id)")
    // an empty write would leave a directory with no parquet files — a
    // reader can't infer a schema from it, so the corpus would LOOK
    // written but be unreadable; fail here instead (costs one short job)
    require(!df.isEmpty,
      s"writeShards: refusing to write an empty corpus to $path — the " +
        "resulting directory would have no readable schema")
    val sharded = df.withColumn("shard", shardColumn(col(idCol), nShards))
    // the salt needs no cross-engine story (it never appears in the
    // output), so the cheap codegen hash is fine
    val salt = pmod(xxhash64(col(idCol)), lit(filesPerShard))
    val writer = sharded
      .repartition(nShards * filesPerShard, col("shard"), salt)
      // shard leads the sort so it already satisfies the writer's
      // required partition-column ordering — otherwise FileFormatWriter
      // inserts its own shard-only sort and the id order is lost
      .sortWithinPartitions(col("shard"), col(idCol))
      .write
      .mode(if (overwrite) "overwrite" else "errorifexists")
    // `idBloom` writes a parquet bloom filter on the id column of every
    // file: point lookups and id semi-joins against the standing corpus
    // then skip row groups whose bloom rules the key out — the standard
    // lakehouse complement to the min/max pruning the id-sorted files
    // already give range scans. Footer-verified in OpsSpec.
    (if (idBloom)
      writer.option(s"parquet.bloom.filter.enabled#$idCol", "true")
    else writer)
      .partitionBy("shard")
      .parquet(path)
  }

  /** SIZE-BALANCED shard assignment: contiguous ~`targetWeight`-sized
    * slices of the corpus in the engine-portable `(md5(id), id)` content
    * order — "write ~1 GB output files" when documents vary wildly in
    * size and the hash-sharding of [[shardColumn]] would balance COUNTS
    * but not BYTES. Every row gets `shard = floor(cum_before / target)`
    * where `cum_before` is the exact sum of the weights of all rows
    * strictly before it in content order, so shard contents are a pure
    * function of (id, weight) — any engine recomputes the same layout,
    * and reruns agree.
    *
    * The global cumulative sum costs NO global sort: it is
    * [[Sampling.contentOrderPositions]]' running weight in `(md5(id), id)`
    * order. Null weights count 0; negative weights are rejected (a
    * negative byte count is corrupt input, and it would break cum
    * monotonicity); null ids cannot hash and fail loudly; duplicate ids
    * would make the tied rows' cums partition-order-dependent, so they
    * fail the job. A single row heavier than `targetWeight` occupies its
    * own shard and the next shard index jumps — shard numbers are
    * monotone in content order but not necessarily contiguous.
    *
    * `baseOffset` shifts the whole cumsum (shard = floor((baseOffset +
    * cum_before) / target)) — the [[appendSizedShards]] log-append hook.
    */
  def sizedShardAssignment(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      targetWeight: Long,
      bucketHexLen: Int = 4,
      maxClassificationRows: Int = Sampling.MaxClassificationRows,
      baseOffset: Long = 0L): DataFrame = {
    require(targetWeight >= 1, s"targetWeight must be >= 1, got $targetWeight")
    require(baseOffset >= 0L, s"baseOffset must be >= 0, got $baseOffset")
    // exact integral division (`div`), not double `/` — cum weights at
    // 100 TB byte scale must not round through a double
    Sampling.contentOrderPositions(df, "sizedShardAssignment", idCol, "id",
      md5(col(idCol).cast("string").cast("binary")), None, Some(weightCol),
      baseOffset, bucketHexLen, maxClassificationRows, "shard")(
      call_function("div", _, lit(targetWeight)))
  }

  /** [[writeShards]] at SIZE-balanced layout: shard by
    * [[sizedShardAssignment]] of `weightCol` (≈ `targetWeight` weight per
    * shard directory), one file per shard, id-sorted within. Same
    * empty-corpus and existing-path guards as [[writeShards]]; in-batch
    * duplicate ids fail before anything is written.
    *
    * Also starts the log's METADATA under `_log_meta` (hidden from the
    * parquet reader by the `_` prefix), in the [[EpochStore]] header
    * format: a CRC-checked header recording the running weight total, the
    * log's schema and the id-bloom parameters, and the deflated bloom over
    * every committed id. So [[appendSizedShards]] is O(batch) instead of
    * re-scanning the standing corpus, and every store read uses the
    * recorded schema instead of inferring one. The commit order is bloom,
    * header, data — the append's order too. The path must be absent
    * (`overwrite` deletes it first), so data without a header only comes
    * from an older build or a deletion behind the log's back; append,
    * compact and delete then fail loudly until the log is rebuilt.
    */
  def writeSizedShards(
      df: DataFrame,
      path: String,
      idCol: String,
      weightCol: String,
      targetWeight: Long,
      overwrite: Boolean = false): Unit = {
    val spark = df.sparkSession
    val fs = EpochStore.hadoopFs(spark, path)
    require(overwrite || !fs.exists(new HPath(path)),
      s"writeSizedShards: $path already exists — pass overwrite = true to replace it")
    // the path is deleted before the data is written: a corpus read from
    // it would be gone by then
    val root = fs.makeQualified(new HPath(path)).toUri.toString + "/"
    require(!overwrite || !df.inputFiles.exists(_.startsWith(root)),
      s"writeSizedShards: cannot overwrite $path while reading from it — write to a new path")
    val assigned = sizedShardAssignment(df, idCol, weightCol, targetWeight)
    val (total, n) = batchTotal(df, idCol, weightCol, "writeSizedShards")
    require(n > 0L,
      s"writeSizedShards: refusing to write an empty corpus to $path — " +
        "the resulting directory would have no readable schema")
    if (overwrite) EpochStore.deleteDir(spark, path)
    val bloom = EpochStore.IdBloom(EpochStore.idBloomItems(n), EpochStore.IdBloomFpp)
    val schema = StructType(assigned.schema.map(_.copy(nullable = true)))
    commitLogMeta(spark, path,
      EpochStore.EpochHeader(LogKind, Map("total" -> total.toString), Nil,
        Map(LogTable -> schema), Some(bloom)),
      EpochStore.buildIdBloom(df.select(col(idCol)), idCol, bloom.items, bloom.fpp))
    writeLogData(assigned, path, idCol)
  }

  // ---- sized-shard log metadata ----
  //
  // <path>/_log_meta holds an EpochStore header (kind sized_log: the
  // running total as a parameter, the log's schema as table `log`, the
  // id-bloom parameters) and its idbloom.deflate sidecar, both replaced
  // atomically on every append. The bloom covers every id ever
  // committed; it has no false negatives, so zero batch hits PROVES
  // id-disjointness and a clean append touches NO standing data at all —
  // the same O(1)-guard discipline as the EpochStore index lifecycles.

  private val LogKind = EpochStore.IndexKind(
    "sized_log", 1, "Sink.writeSizedShards(…, overwrite = true)")
  private val LogTable = "log"

  private def metaDir(path: String): String = s"$path/_log_meta"

  /** The log's checked header; a log without one fails loudly. */
  private def resolveLog(spark: SparkSession, path: String): EpochStore.Epoch =
    EpochStore.resolveAt(spark, path, metaDir(path), LogKind)

  /** The log's data (or just `dirs` of it), read with the recorded schema. */
  private def readLog(
      spark: SparkSession, path: String, log: EpochStore.Epoch,
      dirs: Seq[String] = Nil): DataFrame =
    spark.read.schema(EpochStore.schemaOf(log, LogTable)).option("basePath", path)
      .parquet((if (dirs.isEmpty) Seq(path) else dirs): _*)

  /** Bloom first, then header: a crash between them leaves a superset
    * bloom beside the old total.
    */
  private def commitLogMeta(
      spark: SparkSession, path: String, h: EpochStore.EpochHeader,
      bloom: Array[Byte]): Unit = {
    EpochStore.writeIdBloom(spark, metaDir(path), bloom, replace = true)
    EpochStore.writeHeader(spark, metaDir(path), h, replace = true)
  }

  private def writeLogData(assigned: DataFrame, path: String, idCol: String): Unit =
    assigned
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("append").partitionBy("shard").parquet(path)

  /** A batch's weight total and row count in one job. Duplicate ids fail
    * here, before any metadata is committed: they have no deterministic
    * placement (the assignment's own lag tripwire only fires during the
    * data write).
    */
  private def batchTotal(
      df: DataFrame, idCol: String, weightCol: String, op: String): (Long, Long) = {
    val r = df.agg(sum(coalesce(col(weightCol).cast("long"), lit(0L))),
      count(lit(1)), countDistinct(col(idCol))).head()
    require(r.getLong(1) == r.getLong(2),
      s"$op: duplicate ids within the batch have no deterministic placement " +
        "— deduplicate or re-key first")
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Log-APPEND to a [[writeSizedShards]] corpus: the batch continues the
    * standing cumsum exactly — every new row gets `shard =
    * floor((standingTotal + batchCumBefore) / target)` in the batch's own
    * md5 content order, so the under-full tail shard fills first and the
    * standing FILES are never rewritten (new rows land as new files, in
    * the tail shard's directory when they fit there). This is a LOG
    * discipline, deliberately not the global md5 rebuild: a rebuild would
    * interleave the batch into every standing shard; an append only ever
    * grows the tail. Per-batch order is engine-portable; the cross-batch
    * order is arrival order, which is the point of a log.
    *
    * `checkIds = true` (default) fails loudly on any id collision — an id
    * appended twice would silently duplicate training data. The guard is
    * the id BLOOM pre-screen: zero batch hits proves disjointness (no
    * false negatives) and NO standing data is touched; only a hit (a true
    * dup or an fpp false positive) pays the exact semi-join against the
    * standing id column. Pass `false` only when the caller already guards
    * ids (e.g. the batch went through a dedup index probe). The running
    * total and the schema come from the header, so a CLEAN append is
    * O(batch): two small metadata reads, batch jobs and the data write.
    * A log without a header fails loudly ("rebuild it with …").
    *
    * Runs under the single-writer lease (`_log_meta/lease`): appends are
    * a metadata read-modify-write, so two concurrent appenders would both
    * derive from the same total and overlap. Commit order is bloom, then
    * header, then data, each metadata file replaced atomically — a crash
    * between any two overstates the total (the next append leaves a
    * shard-number gap, explicitly allowed) and leaves the bloom a
    * superset (extra exact-join fallbacks, never a missed dup); the
    * reverse order could under-record committed ids and let a replay
    * double-append silently. Re-running a batch whose data write crashed
    * re-counts its weight (another gap), never duplicates ids — the
    * exact join sees whatever portion committed and fails loudly on it.
    */
  def appendSizedShards(
      df: DataFrame,
      path: String,
      idCol: String,
      weightCol: String,
      targetWeight: Long,
      checkIds: Boolean = true): Unit = {
    require(!df.isEmpty,
      s"appendSizedShards: empty batch for $path — nothing to append")
    val spark = df.sparkSession
    EpochStore.withLease(spark, metaDir(path)) {
      val log = resolveLog(spark, path)
      val cols = EpochStore.schemaOf(log, LogTable).fieldNames.toSet
      require(cols.contains(idCol) && cols.contains(weightCol),
        s"appendSizedShards: standing corpus at $path lacks " +
          s"'$idCol'/'$weightCol' — was it written by writeSizedShards?")
      // the batch must carry EXACTLY the standing payload columns: a
      // narrower batch would leave files with divergent schemas in one
      // shard dir, and a later compaction/deletion rewrite would silently
      // drop the columns its file lacks
      require(df.columns.toSet == cols - "shard",
        s"appendSizedShards: batch columns ${df.columns.sorted.mkString(", ")} " +
          s"differ from the standing log's ${(cols - "shard").toSeq.sorted.mkString(", ")} " +
          "— a sized-shard log carries ONE schema; align the batch first")
      val standingBloom = EpochStore.readIdBloom(spark, log)
      if (checkIds &&
        !df.where(Decontam.bloomMightContainKey(
          standingBloom, col(idCol).cast("string"))).isEmpty &&
        readLog(spark, path, log).select(col(idCol))
          .join(df.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
          .limit(1).count() > 0L)
        throw new IllegalArgumentException(
          s"appendSizedShards: batch re-appends ids already in $path — " +
            "deduplicate the batch (or pass checkIds = false if upstream " +
            "already guards ids)")
      // assignment FIRST: its eager phase-0 collect validates null ids
      // and negative weights, so an invalid batch fails before the
      // metadata commit below records anything durable
      val assigned = sizedShardAssignment(df, idCol, weightCol, targetWeight,
        baseOffset = log.header.long("total"))
      val (total, _) = batchTotal(df, idCol, weightCol, "appendSizedShards")
      val b = log.header.bloom.get
      commitLogMeta(spark, path,
        log.header.copy(params = Map("total" -> (log.header.long("total") + total).toString)),
        EpochStore.mergeIdBlooms(standingBloom,
          EpochStore.buildIdBloom(df.select(col(idCol)), idCol, b.items, b.fpp)))
      writeLogData(assigned, path, idCol)
    }
  }

  /** Integrity AUDIT of a [[writeSizedShards]]/[[appendSizedShards]] log:
    * recompute what the standing data actually holds and reconcile it
    * against the `_log_meta` header and the log's own invariants. At
    * 100 TB a corpus store accretes through many appends, streams, and
    * the occasional crash — this is the "fsck" that tells a training
    * job the store is still sound before an epoch reads it. One narrow
    * scan (ids + weights only) plus one id-keyed aggregate for the
    * duplicate check; the report is a handful of driver rows.
    *
    * Checks, one `(check, violations, measured)` row each, sorted by
    * name:
    *  - `dup_ids` — ids with more than one standing row (an id appended
    *    twice silently duplicates training data; only reachable by
    *    `checkIds = false` misuse or a behind-the-back write). violations
    *    = distinct duplicated ids; measured = surplus rows.
    *  - `null_ids` / `negative_weights` — rows the assignment would have
    *    rejected; their presence means files were written around the log.
    *  - `meta_missing` — 1 when the log has no `_log_meta/header`: it
    *    was written by an older build, or its metadata was deleted behind
    *    its back. The audit then infers the schema from the data and
    *    skips `meta_total` and `bloom_misses`; append, compact and delete
    *    refuse such a log until it is rebuilt with writeSizedShards.
    *  - `meta_total` — violations = max(0, data total − meta total).
    *    The commit order is metadata FIRST, so the meta total may exceed
    *    the data total (a crash gap, allowed and not counted); DATA
    *    exceeding META is impossible through the API and means a
    *    behind-the-back write. measured = the data total.
    *  - `bloom_misses` (`bloomCheck = true` and meta present) — standing
    *    ids the meta id-bloom says were NEVER committed. The bloom has no
    *    false negatives over ids committed through the API, so every miss
    *    proves a file written around the log. Not SQL-expressible (the
    *    bloom is a Spark binary), so the oracled query q192 audits with
    *    `bloomCheck = false` and OpsSpec pins this row by planting a
    *    foreign file.
    *
    *  - `journal_pending` — 1 when a maintenance journal sits
    *    unapplied under `_log_meta/compact` (compaction or deletion
    *    crashed mid-swap). The standing data is then LEGAL but
    *    mid-transition: `dup_ids` and `meta_total` can reflect the
    *    documented transient-duplicate window, so treat their
    *    violations as unconfirmed until one [[compactSizedShards]]
    *    call replays the journal to convergence and the audit re-runs
    *    clean.
    *
    * A clean log reports all-zero violations. The audit takes no lease —
    * it only reads — so it can run concurrently with appends; a racing
    * append can transiently show as a `meta_total` crash gap (meta
    * committed, data still writing), never as a violation.
    */
  def verifySizedLog(
      spark: SparkSession,
      path: String,
      idCol: String,
      weightCol: String,
      bloomCheck: Boolean = true): DataFrame = {
    val meta = EpochStore.findHeader(spark, path, metaDir(path), LogKind)
    val standing = meta.fold(spark.read.parquet(path))(readLog(spark, path, _))
      .select(col(idCol).as("__id"),
        coalesce(col(weightCol).cast("long"), lit(0L)).as("__w"),
        col(weightCol).cast("long").as("__wraw"))
    val bloomMiss: Option[Column] = meta.filter(_ => bloomCheck).map { log =>
      coalesce(sum(when(col("__id").isNotNull &&
        !Decontam.bloomMightContainKey(EpochStore.readIdBloom(spark, log),
          col("__id").cast("string")),
        1L).otherwise(0L)), lit(0L))
    }
    val baseAggs = Seq(
      count(lit(1)).as("rows"),
      coalesce(sum(col("__w")), lit(0L)).as("data_total"),
      coalesce(sum(when(col("__id").isNull, 1L).otherwise(0L)), lit(0L))
        .as("null_ids"),
      coalesce(sum(when(col("__wraw") < 0L, 1L).otherwise(0L)), lit(0L))
        .as("neg_w")) ++
      bloomMiss.map(_.as("bloom_misses"))
    val a = standing.agg(baseAggs.head, baseAggs.tail: _*).head()
    val rows = a.getLong(0)
    val dataTotal = if (a.isNullAt(1)) 0L else a.getLong(1)
    val d = standing.where(col("__id").isNotNull)
      .groupBy(col("__id")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1L)
      .agg(count(lit(1)).as("dups"), sum(col("__c") - 1L).as("surplus"))
      .head()
    val journalPending = EpochStore.hadoopFs(spark, path).exists(
      new HPath(compactJournalFile(path)))
    val report = Seq(
      ("dup_ids", d.getLong(0), if (d.isNullAt(1)) 0L else d.getLong(1)),
      ("journal_pending", if (journalPending) 1L else 0L, 0L),
      ("meta_missing", if (meta.isEmpty) 1L else 0L, 0L),
      ("negative_weights", a.getLong(3), a.getLong(3)),
      ("null_ids", a.getLong(2), a.getLong(2))) ++
      meta.map { log =>
        val total = log.header.long("total")
        ("meta_total", math.max(0L, dataTotal - total), dataTotal)
      } ++
      bloomMiss.map(_ => ("bloom_misses", a.getLong(4), rows))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        report.sortBy(_._1).map(t =>
          org.apache.spark.sql.Row(t._1, t._2, t._3)), 1),
      StructType(Seq(
        StructField("check", StringType, nullable = false),
        StructField("violations", LongType, nullable = false),
        StructField("measured", LongType, nullable = false))))
  }

  // ---- sized-shard log compaction ----
  //
  // A log accretes one parquet file per append per touched shard — a
  // streaming appender turns the tail shards into classic small-file
  // sprawl. Compaction rewrites ONLY the shards over the file bound
  // (clean shards and their files are never touched, so a daily pass
  // over a 100 TB store costs the dirty tail, not the corpus) and
  // commits through a journal so a crash at any point converges on
  // re-run without ever losing a row.

  private def compactDir(path: String): String = s"${metaDir(path)}/compact"
  private def compactJournalFile(path: String): String =
    s"${compactDir(path)}/journal"

  private def listDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, dir: HPath): Seq[HPath] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(_.getPath)

  /** Replay the compaction journal: move every staged file in, THEN
    * delete every replaced file. Move-first means no instant at which a
    * shard is missing rows — a crash mid-apply leaves transient
    * DUPLICATES (both the compacted file and some originals), which the
    * next [[compactSizedShards]] run replays to convergence (every step
    * is an exists-guarded rename/delete, so replay is idempotent).
    *
    * Failure discipline, in order of the damage it prevents: (a) an
    * unparseable journal line ABORTS the replay — a silently skipped
    * `del` would leave originals beside the compacted file and the next
    * compaction would merge the duplicates permanently; (b) Hadoop's
    * `rename` signals many failures by RETURNING FALSE rather than
    * throwing (dst exists, object-store hiccups), so every `mv` is
    * verified by `exists(dst)` and the replay aborts BEFORE the delete
    * phase if any staged file failed to land — the journal and staging
    * stay intact for a retry, and no original is ever deleted while its
    * replacement is missing.
    */
  private def applyCompactionJournal(
      spark: SparkSession, path: String): Unit = {
    val fs = EpochStore.hadoopFs(spark, path)
    val journal = new HPath(compactJournalFile(path))
    if (!fs.exists(journal)) return
    val in = fs.open(journal)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val entries = lines.filter(_.nonEmpty).map { line =>
      line.split("\t") match {
        case Array("mv", src, dst) => ("mv", src, dst)
        case Array("del", f) => ("del", f, "")
        case _ => throw new IllegalStateException(
          s"corrupt compaction journal at ${compactJournalFile(path)}: " +
            s"unparseable line '$line' — refusing to replay (a skipped " +
            "entry could strand or duplicate rows); inspect the journal " +
            "and staging under _log_meta/compact manually")
      }
    }
    entries.foreach {
      case ("mv", src, dst) =>
        val s = new HPath(src)
        val d = new HPath(dst)
        if (fs.exists(s)) fs.rename(s, d)
        require(fs.exists(d),
          s"compaction journal replay: staged file $src failed to land " +
            s"at $dst — aborting before ANY delete; journal and staging " +
            "are left intact, re-run the maintenance call to retry")
      case _ =>
    }
    entries.foreach {
      case ("del", f, _) =>
        val p = new HPath(f)
        if (fs.exists(p)) fs.delete(p, false)
      case _ =>
    }
    fs.delete(journal, false)
    EpochStore.deleteDir(spark, compactDir(path))
  }

  /** The stage→journal→swap commit shared by [[compactSizedShards]] and
    * [[deleteFromSizedShards]]: for each named shard dir, journal every
    * staged file under `_log_meta/compact/data/<dir>` as a move into the
    * live dir plus every current live data file as a delete, write the
    * journal atomically ([[EpochStore.writeFile]] — a half-written
    * journal can never be replayed), then replay it. The
    * caller stages first; `requireStaged` guards the compaction case
    * where an affected dir with nothing staged would mean a lost write.
    */
  private def swapStagedShards(
      spark: SparkSession,
      path: String,
      shardDirNames: Seq[String],
      requireStaged: Boolean): Unit = {
    val fs = EpochStore.hadoopFs(spark, path)
    val stagingData = s"${compactDir(path)}/data"
    val entries = shardDirNames.flatMap { dn =>
      val shardDir = new HPath(s"$path/$dn")
      val staged = listDataFiles(fs, new HPath(s"$stagingData/$dn"))
      require(staged.nonEmpty || !requireStaged,
        s"swapStagedShards: staging wrote no files for $dn — aborting " +
          "before any swap")
      staged.map(s => s"mv\t$s\t$shardDir/${s.getName}") ++
        listDataFiles(fs, shardDir).map(f => s"del\t$f")
    }
    EpochStore.writeFile(spark, new HPath(compactJournalFile(path)),
      (entries.mkString("\n") + "\n").getBytes("UTF-8"), replace = true)
    applyCompactionJournal(spark, path)
  }

  /** The maintenance journal encodes one path per tab-separated field —
    * a store path containing a tab or newline would corrupt it. Rejected
    * loudly at every journal-writing entry point.
    */
  private def requireJournalSafePath(path: String): Unit =
    require(!path.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"store path '$path' contains a tab/newline — the maintenance " +
        "journal is a tab-separated file-path log and cannot encode it")

  /** Compact every shard directory holding more than `maxFilesPerShard`
    * data files down to one id-sorted file, leaving clean shards — and
    * every file in them — physically untouched. The dirty shards are
    * read in ONE multi-path scan, rewritten id-sorted into a staging dir
    * under `_log_meta` (invisible to readers), and swapped in through a
    * journal: stage → journal (written whole, then atomically renamed
    * into place) → move staged files in → delete replaced files. A crash
    * before the journal rename changes nothing a reader can see; a crash
    * after it leaves at worst transient duplicates that the journal
    * replay at the next run (or the next call, which replays any pending
    * journal FIRST) converges. Content is bit-preserved — the oracled
    * q193 hash-checks the post-compaction read-back against the pure
    * assignment replay.
    *
    * Runs under the single-writer lease shared with [[appendSizedShards]]
    * (the swap is a physical rewrite, so writer exclusivity is required).
    * Concurrent READERS are NOT safe through the swap window: a reader
    * that lists a shard's files during the move phase sees transient
    * duplicates, and one that listed before the delete phase can FAIL
    * with FileNotFoundException when its task opens a replaced file —
    * schedule maintenance off the read path entirely, or make readers
    * retry on missing files.
    *
    * Returns the per-shard report `(shard, files_before, files_after)`,
    * every shard one row, sorted — untouched shards report
    * `files_before = files_after`.
    */
  def compactSizedShards(
      spark: SparkSession,
      path: String,
      idCol: String,
      maxFilesPerShard: Int = 1): DataFrame = {
    require(maxFilesPerShard >= 1,
      s"maxFilesPerShard must be >= 1, got $maxFilesPerShard")
    requireJournalSafePath(path)
    EpochStore.withLease(spark, metaDir(path)) {
      val log = resolveLog(spark, path)
      // converge any crashed earlier compaction before measuring
      applyCompactionJournal(spark, path)
      val fs = EpochStore.hadoopFs(spark, path)
      val shardDirs = fs.listStatus(new HPath(path)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
        .map(_.getPath)
        .sortBy(p => p.getName.stripPrefix("shard=").toLong)
      val before: Seq[(Long, Int)] = shardDirs.map(p =>
        (p.getName.stripPrefix("shard=").toLong,
          listDataFiles(fs, p).size))
      val dirty = shardDirs.zip(before).collect {
        case (p, (_, n)) if n > maxFilesPerShard => p
      }
      if (dirty.nonEmpty) {
        val stagingData = s"${compactDir(path)}/data"
        EpochStore.deleteDir(spark, stagingData)
        readLog(spark, path, log, dirty.map(_.toString))
          .repartition(col("shard"))
          .sortWithinPartitions(col("shard"), col(idCol))
          .write.mode("overwrite").partitionBy("shard").parquet(stagingData)
        swapStagedShards(spark, path, dirty.map(_.getName),
          requireStaged = true)
      }
      val report = before.map { case (shard, n) =>
        (shard, n,
          listDataFiles(fs, new HPath(s"$path/shard=$shard")).size)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(report.map(t =>
          org.apache.spark.sql.Row(t._1, t._2, t._3)), 1),
        StructType(Seq(
          StructField("shard", LongType, nullable = false),
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false))))
    }
  }

  /** Targeted DELETION from a sized-shard log — the data-removal path a
    * 100 TB store must have (takedowns, retroactive decontamination,
    * per-id erasure requests): rewrite ONLY the shards that hold doomed
    * ids, leaving every other shard — and every file in it — physically
    * untouched. Detection is ONE narrow (id, shard) scan semi-joined
    * against the doomed set; the rewrite reads just the affected dirs,
    * filters with an anti join, and swaps through the same journal as
    * [[compactSizedShards]] (staged under `_log_meta`, whole-then-
    * atomically-renamed journal, move-first-then-delete replay — a
    * crash at any point converges on the next maintenance call). A
    * shard losing its last row keeps an empty directory, which readers
    * skip.
    *
    * Deliberately NOT touched, both documented invariants of the log:
    *  - the META TOTAL: reducing it would let a later append's cumsum
    *    offset land inside standing shard numbers, breaking the
    *    tail-only log discipline and the batch-weight replay oracles.
    *    The deficit reads as [[verifySizedLog]]'s allowed meta ≥ data
    *    gap — the same signature a crash gap leaves.
    *  - the id BLOOM: a bloom cannot unlearn. It stays a SUPERSET of
    *    the standing ids, which is exactly its contract — a re-append
    *    of a deleted id hits the bloom, pays the exact standing-id
    *    join, finds nothing, and correctly succeeds.
    *
    * Runs under the single-writer lease. Concurrent READERS are not
    * safe through the swap window (the [[compactSizedShards]] caveat:
    * transient duplicates during the move phase, and a possible
    * FileNotFoundException for a reader that listed a replaced file
    * before the delete phase) — schedule maintenance off the read path.
    * Deleting EVERY standing id is legal: the log stays readable at
    * zero rows (one empty schema-bearing file is seeded back).
    *
    * Returns the per-affected-shard report
    * `(shard, rows_before, rows_deleted)`, sorted; an empty report
    * means no doomed id was present.
    */
  def deleteFromSizedShards(
      spark: SparkSession,
      path: String,
      idCol: String,
      ids: DataFrame): DataFrame = {
    requireJournalSafePath(path)
    val reportSchema = StructType(Seq(
      StructField("shard", LongType, nullable = false),
      StructField("rows_before", LongType, nullable = false),
      StructField("rows_deleted", LongType, nullable = false)))
    def report(rows: Seq[(Long, Long, Long)]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(t =>
          org.apache.spark.sql.Row(t._1, t._2, t._3)), 1), reportSchema)
    EpochStore.withLease(spark, metaDir(path)) {
      val log = resolveLog(spark, path)
      applyCompactionJournal(spark, path)
      val doomed = ids.select(col(idCol)).where(col(idCol).isNotNull)
        .distinct()
      // ONE narrow (id, shard) detection scan marks doomed rows and
      // counts both totals per shard (the doomed set is a maintenance
      // batch — AQE broadcasts it when small)
      val standing = readLog(spark, path, log)
      require(standing.columns.contains(idCol),
        s"deleteFromSizedShards: standing corpus at $path lacks '$idCol'")
      val counts = standing.select(col(idCol), col("shard").cast("long"))
        .join(doomed.withColumn("__doom", lit(1L)), Seq(idCol), "left")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("__n"),
          coalesce(sum(col("__doom")), lit(0L)).as("__d"))
        .where(col("__d") > 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      if (counts.isEmpty) report(Seq.empty)
      else deleteAffected(spark, path, log, idCol, doomed, counts, report)
    }
  }

  private def deleteAffected(
      spark: SparkSession,
      path: String,
      log: EpochStore.Epoch,
      idCol: String,
      doomed: DataFrame,
      counts: Array[(Long, Long, Long)],
      report: Seq[(Long, Long, Long)] => DataFrame): DataFrame = {
    val fs = EpochStore.hadoopFs(spark, path)
    val affected = counts.map(_._1).toSeq.sorted
    val dirs = affected.map(sh => s"$path/shard=$sh")
    val stagingData = s"${compactDir(path)}/data"
    EpochStore.deleteDir(spark, stagingData)
    val survivors = readLog(spark, path, log, dirs)
      .join(doomed, Seq(idCol), "left_anti")
    // a delete can empty every affected shard — then there is nothing
    // to stage and the journal is pure deletion
    if (!survivors.isEmpty)
      survivors
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col(idCol))
        .write.mode("overwrite").partitionBy("shard").parquet(stagingData)
    swapStagedShards(spark, path, affected.map(sh => s"shard=$sh"),
      requireStaged = false)
    // TOTAL takedown: if no data file remains in ANY shard, a plain
    // spark.read.parquet of the log could no longer infer its schema and
    // every consumer outside the store would fail. Seed ONE empty file
    // carrying the payload schema into the first affected dir so a
    // legal-but-empty log stays readable.
    val anyData = fs.listStatus(new HPath(path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .exists(d => listDataFiles(fs, d.getPath).nonEmpty)
    if (!anyData) {
      val seedTmp = s"${metaDir(path)}/seed_tmp"
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(survivors.schema.filterNot(_.name == "shard")))
        .coalesce(1).write.mode("overwrite").parquet(seedTmp)
      listDataFiles(fs, new HPath(seedTmp)).headOption.foreach { f =>
        fs.rename(f, new HPath(s"$path/shard=${affected.head}/${f.getName}"))
      }
      EpochStore.deleteDir(spark, seedTmp)
    }
    report(counts.sortBy(_._1).toSeq)
  }

  /** Per-shard manifest of a [[writeShards]] output, recomputed FROM the
    * written files (a read-back, not a side channel — what you see is what
    * a consumer gets): `(shard, n_rows)` plus one `sum_<c>` column per
    * requested numeric column.
    */
  def shardManifest(
      spark: SparkSession,
      path: String,
      sumCols: Seq[String] = Seq.empty): DataFrame = {
    val df = spark.read.parquet(path)
    val aggs = count(lit(1)).as("n_rows") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    df.groupBy(col("shard").cast("int").as("shard"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
