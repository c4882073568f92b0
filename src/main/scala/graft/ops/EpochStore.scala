package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The epoch store behind the six persisted on-disk indexes (LSH dedup,
  * paragraph hashes, ANN/IVF, winnowing fingerprints, token frequencies and
  * the classifier counters), and the metadata format of the sized-shard log
  * ([[Sink.appendSizedShards]]).
  *
  * Layout (one index root `path`):
  * {{{
  *   <path>/current               # pointer file naming the live epoch dir
  *   <path>/lease                 # the single-writer lease, while held
  *   <path>/data/<table>-NNNNNNNNN/   # immutable parquet data dirs, never rewritten
  *   <path>/epoch-NNNNNNNNN/
  *     header                     # ONE immutable file: index kind, format
  *                                #   version, parameters, the manifest (which
  *                                #   data dirs form each table), every table's
  *                                #   schema, the id-bloom parameters, a CRC32
  *     idbloom.deflate            # deflate-compressed id-bloom bits (five of
  *                                #   the six indexes; see [[IdBloomFileName]])
  *     ... per-index small tables (dropped/centroids), rewritten per epoch
  * }}}
  *
  * The sized-shard log keeps its data at `<log>/shard=N/` and its metadata
  * in the same two files, replaced atomically ([[writeFile]]) on each append:
  * {{{
  *   <log>/_log_meta/
  *     header                     # kind sized_log: the running weight total,
  *                                #   the log's schema, the id-bloom parameters
  *     idbloom.deflate            # bloom over every id ever appended
  *     lease                      # the single-writer lease, while held
  *     compact/                   # compaction/deletion staging and journal
  * }}}
  *
  * [[EpochIndex]] is the one place the commit protocol lives. An index
  * declares only what is its own — its [[IndexKind]], its data tables, its
  * per-epoch tables, the table carrying its ids — and each build, append
  * and compact supplies only its write arms. The template runs every op
  * the same way: writer lease, base resolution, epoch numbering and debris
  * delete, the arms side by side ([[inParallel]]), the id bloom, the
  * header, the pointer commit and gc.
  *
  * The header is written and read directly through the Hadoop FileSystem
  * API — resolving an epoch, building a table's DataFrame and gc's
  * reference scan launch no Spark job. Readers parse it once per operation
  * ([[resolve]]) and pass the parsed [[Epoch]] along; tables are read with
  * their recorded schema, so no read infers one. A header whose CRC does
  * not match its body (a truncated or corrupted file) fails loudly.
  *
  * The delta-epoch contract: data dirs are IMMUTABLE once written. A new
  * epoch's manifest references the previous epoch's data dirs plus fresh
  * delta dirs for new arrivals — appending to a 100 TB index writes only
  * the delta, never a copy of the standing data. Small per-epoch tables
  * (tombstones, centroids) are rewritten each epoch; they are O(keys)
  * or O(1), not O(corpus). The epoch becomes live via ONE atomic pointer
  * rename ([[commitEpoch]]); [[gc]] afterwards deletes epochs older than
  * the retention window and any data dir no retained manifest references.
  *
  * Concurrency: readers resolve the pointer once per operation and keep
  * reading that epoch (retention gives them a grace window — size it with
  * `retainEpochs`). Writers must be SINGLE at a time per index: two
  * concurrent writers would both derive epoch N+1 from N and the loser's
  * rows would silently vanish. Two layers enforce that:
  *
  *   - a WRITER LEASE ([[withLease]]): every lifecycle op creates
  *     `<path>/lease` before doing any work and deletes it after its
  *     commit, so a second writer fails IMMEDIATELY — before burning a
  *     full append — instead of at the final rename. A crashed writer's
  *     lease goes stale by age and is taken over automatically
  *     (`staleMs`, default 1 h — size it above the longest expected
  *     build, below the tolerable lockout after a crash);
  *   - the [[commitEpoch]] tripwire: the pointer is re-read immediately
  *     before the rename and the commit fails loudly if it moved. This
  *     backstops the one hole a create-based lease has (two takeover-ers
  *     of the SAME stale lease can both think they won; object stores
  *     with atomic create-if-absent close even that).
  */
private[graft] object EpochStore {

  val LeaseFileName = "lease"
  val DefaultLeaseStaleMs: Long = 60L * 60L * 1000L

  /** Acquire the single-writer lease on the index at `path`, failing
    * loudly if a live (non-stale) lease exists. Returns the fencing token
    * to pass to [[releaseLease]]. Staleness is judged against the store's
    * own modification time for the lease file, so writer clock skew only
    * shifts the takeover horizon, never the liveness decision.
    */
  def acquireLease(
      spark: SparkSession, path: String,
      staleMs: Long = DefaultLeaseStaleMs): String = {
    val fs = hadoopFs(spark, path)
    val p = new HPath(path, LeaseFileName)
    val token = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false) // create-if-absent: fails when held
        try out.write(token.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age > staleMs) {
        fs.delete(p, false) // stale: the holder crashed — take over
        if (!tryCreate())
          throw new IllegalStateException(
            s"writer lease on index at $path was contended during stale-lease " +
            "takeover — another writer won; retry once it finishes")
      } else
        throw new IllegalStateException(
          s"another writer holds the lease on index at $path " +
          s"(age ${age} ms, stale after $staleMs ms). Index lifecycles are " +
          "single-writer: wait for the holder to finish; a crashed holder's " +
          "lease is taken over automatically once stale")
    }
    token
  }

  /** The current content of the lease file (the holder's fencing token),
    * or None when no lease exists.
    */
  private def readLeaseToken(spark: SparkSession, path: String): Option[String] =
    readBytes(hadoopFs(spark, path), new HPath(path, LeaseFileName))
      .map(new String(_, "UTF-8"))

  /** The whole content of a small file, or None when it does not exist. */
  private def readBytes(fs: FileSystem, p: HPath): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Release the lease IF still held with `token` — a stale-lease takeover
    * may have replaced it, in which case the new holder's lease is left
    * untouched (our epoch either committed before the takeover horizon or
    * the fence/tripwire failed it).
    */
  def releaseLease(spark: SparkSession, path: String, token: String): Unit = {
    if (readLeaseToken(spark, path).contains(token)) {
      hadoopFs(spark, path).delete(new HPath(path, LeaseFileName), false)
      ()
    }
  }

  /** Fencing tokens of leases held by THIS thread, keyed by index path —
    * [[withLease]] registers them so [[commitEpoch]] can verify, right
    * before the pointer rename, that the lease still carries our token.
    * Thread-local is correct because a lifecycle op runs body and commit
    * on the acquiring thread ([[inParallel]] workers only write data
    * dirs, never commit).
    */
  private val leaseFences = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** Run `body` under the writer lease — the wrapper every [[EpochIndex]]
    * op (build / append / compact) and the sized-shard log use. The lease
    * is released on ANY exit: an uncommitted failure leaves only debris the
    * next build's reset (or GC) clears. While the body runs, the fencing
    * token is registered for [[commitEpoch]]'s pre-rename lease check.
    */
  def withLease[T](
      spark: SparkSession, path: String,
      staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    val token = acquireLease(spark, path, staleMs)
    leaseFences.set(leaseFences.get + (path -> token))
    try body
    finally {
      leaseFences.set(leaseFences.get - path)
      releaseLease(spark, path, token)
    }
  }

  // ---- per-epoch id bloom (the O(1) duplicate-id append guard) ----
  //
  // The dup-id guard otherwise scans the standing id column every append
  // (O(corpus) narrow IO per daily batch). Each epoch carries a bloom over
  // every id ever committed; a clean append probes the batch against it —
  // zero hits PROVES disjointness (blooms have no false negatives) and the
  // exact semi-join is skipped entirely. Any hit (a true dup or an fpp
  // false positive) falls back to the exact check, so correctness never
  // depends on the bloom. Appends grow the bloom by MERGING a delta bloom
  // built with the standing file's own (items, fpp) parameters (same bit
  // geometry ⇒ mergeable without touching standing data); past its
  // capacity the fpp degrades gracefully toward always-fall-back — i.e.
  // exactly today's behavior — and compaction right-sizes a fresh one.

  val IdBloomMinItems: Long = 1L << 20
  val IdBloomMaxItems: Long = 1L << 24 // ~19 MB of bits at 1% — stays well
                                       // under task-binary warning size
  val IdBloomFpp: Double = 0.01

  /** Canonical batch id frame for counter-lifecycle replay guards: one
    * row per distinct doc id, in the string form the index's `ids` table
    * and bloom hash. Shared by the token-frequency and classifier
    * lifecycles so the guard's shape has ONE definition.
    */
  def counterBatchIds(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("string").as("id")).distinct()

  /** The counter-fold replay guard's two numbers — the batch's
    * distinct-id count and its overlap with the standing `ids` table —
    * in the fewest jobs. A bloom-cleared batch pays ONE count job
    * (overlap is exactly 0: the bloom has no false negatives); a bloom
    * hit pays ONE left-join aggregate returning both numbers, instead of
    * the prior separate semi-join count + total count. Standing `ids`
    * rows are globally unique (disjoint appends are the store's commit
    * invariant); a standing id matched more than once proves the table
    * corrupt, and the guard fails loudly rather than mistake a partial
    * replay for a full one (a silent no-op that drops new ids). Callers
    * should pass a persisted `batchIds` — the guard, the ids delta write
    * and the bloom merge all re-read it.
    */
  def counterGuardCounts(
      spark: SparkSession, cur: Epoch,
      batchIds: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    if (!idGuardNeedsExact(spark, cur, batchIds, "id"))
      (0L, batchIds.count())
    else {
      val standing = readTable(spark, cur, "ids")
        .select(col("id"), lit(1L).as("__hit"))
      // total counts DISTINCT batch ids, not post-join rows: standing ids
      // are globally unique by the disjoint-append invariant, but if that
      // is ever violated (a corrupted or partially-compacted epoch) the
      // left join multiplies batch rows — a row-count total would inflate
      // in lockstep with overlap and the replay guard could mis-drive
      // silently. Distinct-counting pins total to the batch alone, and a
      // matched id counted more than once proves the corruption.
      val r = batchIds.join(standing, Seq("id"), "left")
        .agg(countDistinct(col("id")), count(col("__hit")),
          countDistinct(when(col("__hit").isNotNull, col("id"))))
        .head()
      val (total, overlap) = (r.getLong(0), r.getLong(1))
      require(overlap <= total && overlap == r.getLong(2),
        s"standing ids table has duplicate ids — epoch corrupt (${cur.dir}: " +
        s"$overlap matched rows for ${r.getLong(2)} matched batch ids); " +
        "rebuild the index")
      (overlap, total)
    }
  }

  /** Counter folds are replay-guarded BY id — a null id can never match
    * the committed `ids` table, so a replayed null-id batch would pass
    * the overlap check and double-count silently. Reject it loudly (one
    * pushdown-friendly limit-1 probe of the raw frame).
    */
  def requireCounterIdsNotNull(
      df: DataFrame, idCol: String, op: String): Unit =
    require(df.where(col(idCol).isNull)
      .limit(1).count() == 0L,
      s"$op: null ids in '$idCol' cannot be replay-guarded (a replayed " +
      "null-id batch would double-count its tokens) — assign ids first")

  /** Bloom capacity for a corpus of `n` ids: 4× headroom for future
    * appends, clamped to keep the probe-side plan literal small.
    */
  def idBloomItems(n: Long): Long =
    math.min(IdBloomMaxItems, math.max(IdBloomMinItems, 4L * n))

  /** Serialized bloom over a frame's id column (any type — hashed through
    * its canonical string form so build and probe agree across epochs).
    */
  def buildIdBloom(ids: DataFrame, idCol: String, items: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.functions.xxhash64
    // empty input (e.g. an empty append's delta) NPEs inside
    // stat.bloomFilter — an empty filter with the same geometry merges fine
    val bf =
      if (ids.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(items, fpp)
      else ids.stat.bloomFilter(xxhash64(col(idCol).cast("string")), items, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def mergeIdBlooms(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
    val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val bos = new java.io.ByteArrayOutputStream()
    fa.writeTo(bos)
    bos.toByteArray
  }

  /** Persist an epoch's id-bloom bits as the deflate-compressed sidecar.
    * The bits of a sparsely filled bloom are mostly zero words (1.26 MB raw
    * at the 2^20-item floor, tens of KB deflated); the zlib trailer's
    * Adler-32 makes a corrupted or truncated sidecar fail on read. `replace`
    * as for [[writeHeader]].
    */
  def writeIdBloom(
      spark: SparkSession, epochDir: String, bytes: Array[Byte],
      replace: Boolean = false): Unit = {
    val deflated = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.DeflaterOutputStream(deflated)
    try out.write(bytes) finally out.close()
    writeFile(spark, new HPath(epochDir, IdBloomFileName), deflated.toByteArray, replace)
  }

  /** Build and persist a fresh id bloom over the `id` column of a
    * just-written parquet dir (read with its known schema, sized from its
    * footers); returns the parameters the epoch header records.
    */
  private def writeFreshIdBloom(
      spark: SparkSession, epochDir: String, dataDir: String, schema: StructType): IdBloom = {
    val b = IdBloom(idBloomItems(parquetRowCount(spark, dataDir)), IdBloomFpp)
    writeIdBloom(spark, epochDir, buildIdBloom(
      spark.read.schema(schema).parquet(dataDir).select("id"), "id", b.items, b.fpp))
    b
  }

  /** The serialized id bloom of a resolved epoch. A missing, truncated or
    * corrupted sidecar fails loudly: a bloom read wrong could clear a
    * duplicate id.
    */
  def readIdBloom(spark: SparkSession, ep: Epoch): Array[Byte] = {
    if (ep.header.bloom.isEmpty)
      throw new IllegalStateException(s"epoch at ${ep.dir} records no id bloom")
    val p = new HPath(ep.dir, IdBloomFileName)
    try {
      val in = new java.util.zip.InflaterInputStream(hadoopFs(spark, ep.dir).open(p))
      try in.readAllBytes() finally in.close()
    } catch {
      case e @ (_: java.util.zip.ZipException | _: java.io.EOFException |
          _: java.io.FileNotFoundException | _: org.apache.hadoop.fs.ChecksumException) =>
        throw new IllegalStateException(
          s"id bloom $p is corrupt ($e) — the epoch cannot be read; rebuild it", e)
    }
  }

  /** Does the duplicate-id guard need the exact semi-join for this batch?
    * `false` ⇒ the epoch's bloom proved every batch id unseen (no false
    * negatives), so a clean append touches NO standing id data at all.
    */
  def idGuardNeedsExact(
      spark: SparkSession, ep: Epoch,
      batch: DataFrame, idCol: String): Boolean = {
    !batch.where(Decontam.bloomMightContainKey(
      readIdBloom(spark, ep), col(idCol).cast("string"))).isEmpty
  }

  /** The successor epoch's bloom bits: a delta over the batch ids merged
    * into the standing bloom (same parameters ⇒ same bit geometry, so the
    * header's bloom parameters carry over unchanged).
    */
  private def appendedIdBloom(
      spark: SparkSession, cur: Epoch,
      batch: DataFrame, idCol: String): Array[Byte] = {
    val standing = readIdBloom(spark, cur)
    val b = cur.header.bloom.get
    mergeIdBlooms(standing, buildIdBloom(batch, idCol, b.items, b.fpp))
  }

  /** Hard-reset an index path that has no committed pointer (debris from a
    * never-committed first build), PRESERVING the caller's lease file.
    */
  def resetKeepingLease(spark: SparkSession, path: String): Unit = {
    val fs = hadoopFs(spark, path)
    val root = new HPath(path)
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        if (st.getPath.getName != LeaseFileName) fs.delete(st.getPath, true)
      }
  }

  /** Run independent Spark WRITE jobs concurrently, one thread each —
    * SparkContext schedules jobs from separate threads in parallel, so
    * sibling table writes of one epoch (buckets / sets / tombstones)
    * overlap instead of paying the per-job scheduling floor serially.
    * Every action is awaited; the first failure is rethrown AFTER all
    * threads finish (in-flight siblings may complete their writes — they
    * are pre-commit debris the failed lifecycle's next attempt or GC
    * clears, exactly as with sequential writes). Commit ordering is
    * unchanged: callers invoke this strictly before the header write
    * and pointer rename.
    */
  def inParallel(actions: (() => Unit)*): Unit = {
    if (actions.lengthCompare(2) < 0) { actions.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(actions.size)
    try {
      val futures = actions.map(a => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = a()
      }))
      var firstFailure: Throwable = null
      var interrupted = false
      futures.foreach { f =>
        // await with a timeout so an interrupt of the AWAITING thread
        // still awaits the remaining arms (the documented contract: the
        // failure is rethrown AFTER all threads finish) without becoming
        // un-cancellable: a hung arm re-offers the interrupt every poll
        var done = false
        while (!done) {
          try {
            f.get(10, java.util.concurrent.TimeUnit.SECONDS)
            done = true
          } catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure == null) firstFailure = e.getCause
              done = true
            case _: java.util.concurrent.TimeoutException =>
              // still running — if we were interrupted earlier, give up
              // on awaiting a hung arm rather than spinning forever
              if (interrupted) { f.cancel(true); done = true }
            case _: InterruptedException =>
              interrupted = true
          }
        }
      }
      if (interrupted) {
        // a CANCELLED lifecycle must not proceed to header + commit:
        // re-assert the flag and propagate, so withLease releases and
        // nothing is published (debris is cleared by the next build/GC)
        Thread.currentThread().interrupt()
        if (firstFailure != null) throw firstFailure
        throw new InterruptedException(
          "inParallel: awaiting thread interrupted — lifecycle aborted " +
          "after all arms finished; no epoch was committed")
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }

  private def epochName(n: Long): String = f"epoch-$n%09d"
  def epochNumber(name: String): Long = name.stripPrefix("epoch-").toLong
  private def dataDirName(table: String, n: Long): String = f"$table%s-$n%09d"

  def hadoopFs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def deleteDir(spark: SparkSession, dir: String): Unit =
    hadoopFs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir), true)

  /** Name of the committed epoch (contents of the `current` pointer), or
    * None when the pointer does not exist (no index / fresh build).
    */
  def currentEpoch(spark: SparkSession, path: String): Option[String] =
    readBytes(hadoopFs(spark, path), new HPath(path, "current"))
      .map(new String(_, "UTF-8").trim)

  /** Directory of the live epoch, resolved through the `current` pointer.
    * Resolve ONCE per operation and read every table through the returned
    * dir: a concurrent append commits a NEW epoch and retains predecessors,
    * so a resolved dir stays complete and self-consistent for the whole
    * operation (as long as retention covers the operation's lifetime).
    */
  def epochDir(spark: SparkSession, path: String): String = {
    val name = currentEpoch(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no index at $path (missing 'current' pointer) — this build reads " +
        "the epoch-based layout; (re)build the index first"))
    s"$path/$name"
  }

  /** Atomically point `<path>/current` at `epoch` — the single commit point
    * of build/append/compact. The pointer is replaced atomically
    * ([[writeFile]]): a crash strictly before this line leaves the old
    * epoch fully live, a crash after it the new one — there is no state in
    * between.
    *
    * `expectCurrent` is the pointer value the writer resolved when it
    * STARTED (None = fresh build, pointer must not exist): if the live
    * pointer moved in the meantime, another writer committed concurrently
    * and this epoch was derived from a stale base — fail loudly instead of
    * silently dropping the other writer's rows.
    */
  def commitEpoch(
      spark: SparkSession, path: String, epoch: String,
      expectCurrent: Option[String]): Unit = {
    val live = currentEpoch(spark, path)
    require(live == expectCurrent,
      s"concurrent writer detected on index at $path: the 'current' pointer " +
      s"is ${live.getOrElse("absent")} but this writer derived $epoch from " +
      s"${expectCurrent.getOrElse("an empty index")} — committing would " +
      "silently drop the other writer's rows. Indexes require a single " +
      "writer at a time; re-run this batch against the new live epoch")
    // epoch-fenced lease check: when this thread committed under
    // [[withLease]], the lease file must still carry OUR token. This
    // closes the double-takeover hole the create-based lease leaves on
    // stores without atomic create-if-absent (two claimants of the same
    // stale lease both pass tryCreate; the last content write wins): the
    // displaced claimant now fails HERE, before the pointer rename, while
    // the pointer tripwire above remains the backstop for races that slip
    // between this read and the rename.
    leaseFences.get.get(path).foreach { token =>
      require(readLeaseToken(spark, path).contains(token),
        s"writer lease on index at $path was taken over during this " +
        s"lifecycle (stale-lease double-takeover) — aborting commit of " +
        s"$epoch before the pointer rename; no epoch was committed and " +
        "the new holder's lease is left untouched. Re-run this batch " +
        "once the other writer finishes")
    }
    writeFile(spark, new HPath(path, "current"), epoch.getBytes("UTF-8"), replace = true)
  }

  /** Write `bytes` as the whole of `file`. With `replace`, atomically: write
    * them to the sibling `<name>_tmp`, then rename it over `file` with
    * `FileContext.rename(OVERWRITE)` (atomic on HDFS-like stores). A crash
    * then leaves either the old file or the new one, never a partial one;
    * a crash before the rename leaves only a stale tmp, which the next
    * replace overwrites. The epoch pointer, the sized-shard log's header,
    * bloom and maintenance journal are replaced this way. Without
    * `replace` the file is written in place: the files of an uncommitted
    * epoch, which its pointer rename publishes (on a local FS the rename
    * costs tens of ms, so the epoch files skip it).
    */
  private[ops] def writeFile(
      spark: SparkSession, file: HPath, bytes: Array[Byte], replace: Boolean): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options}
    val fs = hadoopFs(spark, file.toString)
    val target = if (replace) new HPath(file.getParent, s"${file.getName}_tmp") else file
    val out = fs.create(target, true)
    try out.write(bytes) finally out.close()
    if (replace)
      FileContext.getFileContext(fs.makeQualified(file).toUri, spark.sparkContext.hadoopConfiguration)
        .rename(fs.makeQualified(target), fs.makeQualified(file), Options.Rename.OVERWRITE)
  }

  // ---- the epoch header ----

  val HeaderFileName = "header"
  val IdBloomFileName = "idbloom.deflate"
  private val HeaderMagic = "graft-epoch-header"
  /** Encoding of the header file itself — independent of index formats. */
  private val HeaderLayout = 1

  /** One index family: the `kind` its headers record, the on-disk format
    * version this build reads, and the build call that rebuilds it.
    */
  final case class IndexKind(name: String, formatVersion: Int, rebuildWith: String)

  /** Parameters of an epoch's id bloom (its bits live in the sidecar). */
  final case class IdBloom(items: Long, fpp: Double)

  /** Everything an epoch records besides its data: immutable once written. */
  final case class EpochHeader(
      kind: String,
      formatVersion: Int,
      params: Map[String, String],
      manifest: Seq[(String, String)],
      schemas: Map[String, StructType],
      bloom: Option[IdBloom]) {
    def int(key: String): Int = param(key).toInt
    def long(key: String): Long = param(key).toLong
    def bool(key: String): Boolean = param(key).toBoolean
    private def param(key: String): String = params.getOrElse(key,
      throw new IllegalStateException(s"epoch header records no parameter '$key'"))
  }

  object EpochHeader {
    def apply(
        kind: IndexKind, params: Map[String, String],
        manifest: Seq[(String, String)], schemas: Map[String, StructType],
        bloom: Option[IdBloom]): EpochHeader =
      EpochHeader(kind.name, kind.formatVersion, params, manifest, schemas, bloom)
  }

  /** A resolved epoch: its directory and its parsed header. */
  final case class Epoch(dir: String, header: EpochHeader) {
    def name: String = new HPath(dir).getName
    def number: Long = epochNumber(name)
  }

  /** `<magic> <layout> <body bytes> <crc32 hex>` on the first line, then
    * the JSON body.
    */
  private def encodeHeader(h: EpochHeader): Array[Byte] = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("kind", h.kind)
    root.put("format_version", h.formatVersion)
    val params = root.putObject("params")
    h.params.toSeq.sorted.foreach { case (k, v) => params.put(k, v) }
    val manifest = root.putArray("manifest")
    h.manifest.foreach { case (t, d) => manifest.addObject().put("table", t).put("dir", d) }
    val schemas = root.putObject("schemas")
    h.schemas.toSeq.sortBy(_._1).foreach { case (t, st) =>
      schemas.set[JsonNode](t, m.readTree(st.json))
    }
    h.bloom.foreach(b => root.putObject("id_bloom").put("items", b.items).put("fpp", b.fpp))
    val body = m.writeValueAsBytes(root)
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    s"$HeaderMagic $HeaderLayout ${body.length} ${java.lang.Long.toHexString(crc.getValue)}\n"
      .getBytes("UTF-8") ++ body
  }

  private def decodeHeader(file: HPath, bytes: Array[Byte]): EpochHeader = {
    import scala.jdk.CollectionConverters._
    def corrupt(why: String): Nothing = throw new IllegalStateException(
      s"header $file is corrupt ($why) — it cannot be read; rebuild the " +
      "index or log it belongs to")
    val nl = bytes.indexOf('\n'.toByte)
    if (nl < 0) corrupt("no header line")
    val f = new String(bytes, 0, nl, "UTF-8").split(" ")
    if (f.length != 4 || f(0) != HeaderMagic) corrupt("bad header line")
    if (f(1) != HeaderLayout.toString) corrupt(s"unknown header layout ${f(1)}")
    val body = java.util.Arrays.copyOfRange(bytes, nl + 1, bytes.length)
    if (f(2) != body.length.toString)
      corrupt(s"truncated: ${body.length} body bytes, ${f(2)} recorded")
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    if (java.lang.Long.toHexString(crc.getValue) != f(3)) corrupt("CRC32 mismatch")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    EpochHeader(
      root.get("kind").asText(),
      root.get("format_version").asInt(),
      root.get("params").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
      root.get("manifest").elements().asScala
        .map(e => e.get("table").asText() -> e.get("dir").asText()).toSeq,
      root.get("schemas").properties().asScala.map(e =>
        e.getKey -> DataType.fromJson(e.getValue.toString).asInstanceOf[StructType]).toMap,
      Option(root.get("id_bloom")).map(b => IdBloom(b.get("items").asLong(), b.get("fpp").asDouble())))
  }

  /** Write the header in `epochDir`: an uncommitted epoch's, as the last
    * file its lifecycle writes before [[commitEpoch]], or, with `replace`,
    * the sized-shard log's `_log_meta` one ([[writeFile]]).
    */
  def writeHeader(
      spark: SparkSession, epochDir: String, h: EpochHeader,
      replace: Boolean = false): Unit =
    writeFile(spark, new HPath(epochDir, HeaderFileName), encodeHeader(h), replace)

  /** The parsed header of the epoch at `epochDir`; None when it has none
    * (a pre-header layout, or an attempt that crashed before writing it).
    */
  def readHeader(spark: SparkSession, epochDir: String): Option[EpochHeader] = {
    val p = new HPath(epochDir, HeaderFileName)
    readBytes(hadoopFs(spark, epochDir), p).map(decodeHeader(p, _))
  }

  /** Resolve the live epoch of a `kind` index and check its header: every
    * index reader and writer goes through this, so an index written by
    * another format version — or by a build before epoch headers — fails
    * loudly instead of probing a drifted layout.
    */
  def resolve(spark: SparkSession, path: String, kind: IndexKind): Epoch =
    resolveAt(spark, path, epochDir(spark, path), kind)

  /** [[resolve]] of the header in `dir` of the store at `path` — an index's
    * live epoch, or the sized-shard log's `_log_meta`.
    */
  def resolveAt(spark: SparkSession, path: String, dir: String, kind: IndexKind): Epoch =
    findHeader(spark, path, dir, kind).getOrElse(throw new IllegalArgumentException(
      s"${kind.name} store at $path has a pre-header on-disk layout (no " +
      s"header) but this build reads format version ${kind.formatVersion} — " +
      s"rebuild it with ${kind.rebuildWith}"))

  /** The checked header in `dir`, or None when it has none. */
  def findHeader(spark: SparkSession, path: String, dir: String, kind: IndexKind): Option[Epoch] =
    readHeader(spark, dir).map { h =>
      require(h.kind == kind.name,
        s"store at $path is a ${h.kind} store, not a ${kind.name} store")
      require(h.formatVersion == kind.formatVersion,
        s"${kind.name} store at $path has on-disk format version ${h.formatVersion} " +
        s"but this build reads version ${kind.formatVersion} — rebuild it with " +
        kind.rebuildWith)
      Epoch(dir, h)
    }

  /** The committed epoch a BUILD supersedes. A path with no pointer, or
    * whose live epoch has no header (a pre-header layout), is hard-reset
    * first — keeping the caller's lease — and the build starts at epoch 1.
    */
  private def buildBase(spark: SparkSession, path: String): Option[String] = {
    val cur = currentEpoch(spark, path).filter(e =>
      hadoopFs(spark, path).exists(new HPath(s"$path/$e", HeaderFileName)))
    if (cur.isEmpty) resetKeepingLease(spark, path)
    cur
  }

  def schemaOf(ep: Epoch, table: String): StructType =
    ep.header.schemas.getOrElse(table, throw new IllegalStateException(
      s"epoch header at ${ep.dir} records no schema for table '$table'"))

  /** A logical table of a resolved epoch: the union of its manifest's data
    * dirs, read with the recorded schema as ONE multi-path parquet scan (a
    * single FileScan node — delta history does not deepen the plan).
    */
  def readTable(spark: SparkSession, ep: Epoch, table: String): DataFrame = {
    val root = new HPath(ep.dir).getParent.toString
    val dirs = ep.header.manifest.collect {
      case (t, d) if t == table => s"$root/data/$d"
    }
    require(dirs.nonEmpty,
      s"epoch at ${ep.dir} has no data dirs for table '$table' in its manifest")
    spark.read.schema(schemaOf(ep, table)).parquet(dirs: _*)
  }

  /** A small per-epoch table stored inside the epoch dir (tombstones,
    * centroids), read with its recorded schema.
    */
  def readEpochTable(spark: SparkSession, ep: Epoch, table: String): DataFrame =
    spark.read.schema(schemaOf(ep, table)).parquet(s"${ep.dir}/$table")

  /** Rows in a freshly written parquet dir, summed from the file footers
    * — a direct FS read, no Spark job.
    */
  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    hadoopFs(spark, dir).listStatus(new HPath(dir))
      .filter(_.getPath.getName.startsWith("part-"))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Garbage-collect after a successful commit: keep the committed epoch
    * plus `retain - 1` predecessors (grace for readers that already
    * resolved them), delete every other epoch dir (older generations AND
    * crashed future attempts), then delete any `data/` dir no retained
    * manifest references. Data dirs referenced by a retained epoch are
    * untouched — carried-forward files survive until compaction drops the
    * last reference to them.
    */
  def gc(spark: SparkSession, path: String, committed: String, retain: Int): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val fs = hadoopFs(spark, path)
    val floor = epochNumber(committed) - retain + 1
    val epochs = fs.listStatus(new HPath(path)).map(_.getPath.getName)
      .filter(_.startsWith("epoch-"))
    val (kept, doomed) = epochs.partition { nm =>
      val n = epochNumber(nm)
      n >= floor && n <= epochNumber(committed)
    }
    doomed.foreach(nm => fs.delete(new HPath(path, nm), true))
    // a retained epoch without a header is a crashed-in-range attempt;
    // treat it as referencing nothing (its data dirs die with it here)
    val referenced = kept.flatMap(nm =>
      readHeader(spark, s"$path/$nm").toSeq.flatMap(_.manifest.map(_._2))).toSet
    val dataRoot = new HPath(path, "data")
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { st =>
        if (!referenced.contains(st.getPath.getName)) fs.delete(st.getPath, true)
      }
    }
  }

  // ---- the lifecycle template: the one place the commit protocol lives ----

  /** One op's write arms, run side by side ([[inParallel]]). `params`
    * make the epoch header fresh: a build's header is always fresh, and so
    * is the ANN compact's, whose retrain re-derives the quantizer. Without
    * them an append carries its base's header with its delta added to the
    * manifest, and a compact carries it with manifest and bloom replaced.
    */
  final class Arms private (val params: Option[Map[String, String]], val run: Seq[() => Unit])

  object Arms {
    def apply(run: (() => Unit)*): Arms = new Arms(None, run)
    def fresh(params: Map[String, String])(run: (() => Unit)*): Arms = new Arms(Some(params), run)
  }

  /** The epoch one op is writing: where each declared table lands, what
    * the arms wrote, and the fresh id bloom of a build or compact.
    */
  final class EpochWrites private[EpochStore] (
      spark: SparkSession, path: String, index: EpochIndex, n: Long, freshBloom: Boolean) {
    private[EpochStore] val dir: String = s"$path/${epochName(n)}"
    private[EpochStore] val stageDir = s"$dir/stage"
    private val written = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
    @volatile private[EpochStore] var bloom: Option[IdBloom] = None
    @volatile private[EpochStore] var aborted = false

    /** A data table's fresh `data/` dir, or a per-epoch table's dir inside
      * the epoch.
      */
    def location(table: String): String =
      if (index.epochTables.contains(table)) s"$dir/$table"
      else {
        require(index.tables.contains(table),
          s"${index.kind.name} index declares no table '$table'")
        s"$path/data/${dataDirName(table, n)}"
      }

    /** Write `df` as this epoch's `table`. On build and compact the id
      * table's write continues with a fresh id bloom, built from the
      * written dir (footer-count sizing + one narrow id read).
      */
    def write(table: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(location(table))
      written.put(table, df.schema)
      if (freshBloom && index.idTable.contains(table))
        bloom = Some(writeFreshIdBloom(spark, dir, location(table), df.schema))
    }

    /** `df` written once as scratch parquet inside the epoch and read back,
      * so several arms derive from one evaluation; deleted before the
      * header is written.
      */
    def stage(df: DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(stageDir)
      spark.read.schema(df.schema).parquet(stageDir)
    }

    /** Turn this op into a no-op: nothing is committed and its writes are
      * deleted (an append with nothing new to fold).
      */
    def abort(): Unit = aborted = true

    private[EpochStore] def manifest: Seq[(String, String)] =
      index.tables.map(t => t -> dataDirName(t, n))

    private[EpochStore] def schemas: Map[String, StructType] =
      (index.tables ++ index.epochTables).map(t => t -> Option(written.get(t)).getOrElse(
        throw new IllegalStateException(s"${index.kind.name} op wrote no table '$t'"))).toMap
  }

  /** One index family on the epoch layout. It declares its [[IndexKind]],
    * its data tables (in manifest order), its small per-epoch tables, and
    * the data table whose `id` column lists every committed id (`None`: no
    * ids and no id bloom). Its ops supply only their write arms; the
    * template owns the rest of every build, append and compact:
    *
    *   - the writer lease ([[withLease]]), taken before any other work;
    *   - the base: [[buildBase]] on build, [[resolve]] on append and compact;
    *   - numbering epoch N+1 and deleting a crashed attempt's debris there;
    *   - the arms, side by side ([[inParallel]]);
    *   - the id bloom: fresh from the written id table on build and compact,
    *     the standing bloom merged with the batch ids on append;
    *   - the header, then the pointer commit ([[commitEpoch]]) and [[gc]] —
    *     or, for an aborted op, no commit and its writes deleted.
    */
  final case class EpochIndex(
      kind: IndexKind,
      tables: Seq[String],
      epochTables: Seq[String] = Nil,
      idTable: Option[String] = None) {

    def resolve(spark: SparkSession, path: String): Epoch = EpochStore.resolve(spark, path, kind)

    def build(spark: SparkSession, path: String, retainEpochs: Int)(
        body: EpochWrites => Arms): Unit =
      withLease(spark, path) {
        val base = buildBase(spark, path)
        lifecycle(spark, path, retainEpochs, base, None)(body) { (w, params) =>
          EpochHeader(kind, params.getOrElse(Map.empty), w.manifest, w.schemas, w.bloom)
        }
      }

    /** Append a batch whose ids (`ids`, an `id` column) the index merges
      * into its standing bloom; an index without ids passes none.
      */
    def append(spark: SparkSession, path: String, retainEpochs: Int,
        ids: Option[DataFrame] = None)(body: (Epoch, EpochWrites) => Arms): Unit = {
      require(ids.isDefined == idTable.isDefined,
        s"${kind.name} append: batch ids must be given exactly when the index keeps ids")
      withLease(spark, path) {
        val cur = resolve(spark, path)
        lifecycle(spark, path, retainEpochs, Some(cur.name), ids.map(cur -> _))(body(cur, _)) {
          (w, _) => cur.header.copy(manifest = cur.header.manifest ++ w.manifest)
        }
      }
    }

    /** Append a batch whose ids must all be new: the epoch's bloom clears a
      * clean batch without reading the standing ids; only a hit (a true
      * duplicate or a false positive) pays the exact semi-join against the
      * id table, and a duplicate fails before any write. `harm` says what
      * re-appending a committed batch would do.
      */
    def appendNew(batch: DataFrame, idCol: String, path: String, retainEpochs: Int,
        op: String, harm: String)(body: (Epoch, EpochWrites) => Arms): Unit = {
      val spark = batch.sparkSession
      val ids = batch.select(col(idCol).as("id"))
      append(spark, path, retainEpochs, Some(ids)) { (cur, w) =>
        if (idGuardNeedsExact(spark, cur, batch, idCol)) {
          val dupIds = readTable(spark, cur, idTable.get).select("id")
            .join(ids, Seq("id"), "left_semi").limit(3).collect().map(_.get(0))
          require(dupIds.isEmpty,
            s"$op: ids already present in the index at $path " +
            s"(e.g. ${dupIds.mkString(", ")}) — append requires disjoint ids; " +
            s"re-appending a committed batch would $harm")
        }
        body(cur, w)
      }
    }

    /** Append to a counter index, whose folds are not idempotent: a batch
      * whose ids are all committed is a no-op (at-least-once schedulers
      * replay safely), a partial overlap fails loudly. The batch's
      * canonical ids ([[counterBatchIds]]) are persisted for the op — the
      * guard, the id table's delta and the bloom merge all read them.
      */
    def appendCounted(batch: DataFrame, idCol: String, path: String, retainEpochs: Int,
        op: String)(body: (EpochWrites, DataFrame) => Arms): Unit = {
      val spark = batch.sparkSession
      requireCounterIdsNotNull(batch, idCol, op)
      val batchIds = counterBatchIds(batch, idCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try append(spark, path, retainEpochs, Some(batchIds)) { (cur, w) =>
        val (overlap, total) = counterGuardCounts(spark, cur, batchIds)
        require(overlap == 0L || overlap == total,
          s"$op: $overlap of $total batch ids are already committed in the index " +
          s"at $path — folding this batch would double-count their tokens. Split " +
          "the batch into the new ids and re-append; a FULL replay (all ids " +
          "committed) is a no-op")
        if (overlap == total) w.abort() // an empty batch or a full replay
        body(w, batchIds)
      } finally batchIds.unpersist(blocking = false)
    }

    def compact(spark: SparkSession, path: String, retainEpochs: Int)(
        body: (Epoch, EpochWrites) => Arms): Unit =
      withLease(spark, path) {
        val cur = resolve(spark, path)
        lifecycle(spark, path, retainEpochs, Some(cur.name), None)(body(cur, _)) { (w, params) =>
          params.fold(cur.header.copy(manifest = w.manifest, bloom = w.bloom))(p =>
            EpochHeader(kind, p, w.manifest, w.schemas, w.bloom))
        }
      }

    private def lifecycle(
        spark: SparkSession, path: String, retainEpochs: Int, base: Option[String],
        merge: Option[(Epoch, DataFrame)])(body: EpochWrites => Arms)(
        header: (EpochWrites, Option[Map[String, String]]) => EpochHeader): Unit = {
      val n = base.fold(1L)(epochNumber(_) + 1L)
      val w = new EpochWrites(spark, path, this, n, freshBloom = merge.isEmpty)
      deleteDir(spark, w.dir) // debris of a crashed prior attempt
      val arms = body(w)
      if (!w.aborted)
        inParallel(arms.run ++ merge.map { case (cur, ids) =>
          () => writeIdBloom(spark, w.dir, appendedIdBloom(spark, cur, ids, "id"))
        }: _*)
      if (w.aborted) {
        tables.foreach(t => deleteDir(spark, w.location(t)))
        deleteDir(spark, w.dir)
      } else {
        deleteDir(spark, w.stageDir)
        writeHeader(spark, w.dir, header(w, arms.params))
        commitEpoch(spark, path, epochName(n), base)
        gc(spark, path, epochName(n), retainEpochs)
      }
    }
  }
}
