package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Decontam, Dedup, LangModel, Similarity, Sink, TextOps}

/** Incremental maintenance of the six epoch indexes and the sized-shard log.
  * Set-up builds them over a seeded base slice; each timed day appends a
  * disjoint seeded batch to every index and the log, probes every index with
  * a fresh batch, and verifies the log; every third day, the first
  * included, compacts the indexes and compacts and deletes from the log.
  */
final class IndexDaily(h: Harness, seed: Long) extends Workload {
  import Harness.ensure
  import IndexDaily.Index
  private val spark = h.spark
  private val gen = new Gen(spark, seed)

  val Base = 1000L
  val Batch = 150L
  val ProbeBatch = 100L
  val ProbeIds = 100000000L
  val CompactEvery = 3
  val DupShare = 0.2

  private def paras(d: DataFrame) = d.select(col("doc_id"), concat(col("text"),
    lit("\n\nshared boilerplate paragraph\n\npara-"), (col("doc_id") % 7).cast("string"))
    .as("text"))
  private def labeled(d: DataFrame) = d.withColumn("pos", col("lang") === "en")

  private val indexes = Seq(
    Index("dedup",
      (d, _, p) => Dedup.writeDedupIndex(d, "text", "doc_id", p),
      (d, _, p) => Dedup.appendDedupIndex(d, "text", "doc_id", p),
      (d, _, p) => Dedup.minhashPairsAgainstIndex(d, "text", "doc_id", p, threshold = 0.5),
      p => Dedup.compactDedupIndex(spark, p)),
    Index("paragraph",
      (d, _, p) => Dedup.writeParagraphIndex(paras(d), "text", p),
      (d, _, p) => Dedup.appendParagraphIndex(paras(d), "text", p),
      (d, _, p) => Dedup.dedupParagraphsAgainstIndex(paras(d), "doc_id", "text", p),
      p => Dedup.compactParagraphIndex(spark, p)),
    Index("ann",
      (_, v, p) => Similarity.writeAnnIndex(v, "embedding", "vec_id", p, nlist = 8),
      (_, v, p) => Similarity.appendAnnIndex(v, "embedding", "vec_id", p),
      (_, v, p) => Similarity.annTopKAgainstIndex(v, "embedding", "vec_id", p, k = 5, nprobe = 8),
      p => Similarity.compactAnnIndex(spark, p)),
    Index("fingerprint",
      (d, _, p) => Decontam.writeFingerprintIndex(d.select("doc_id", "text"), "doc_id", "text", p,
        n = 5, w = 4),
      (d, _, p) => Decontam.appendFingerprintIndex(d.select("doc_id", "text"), "doc_id", "text", p),
      (d, _, p) => Decontam.winnowingPairsAgainstIndex(d.select("doc_id", "text"), "doc_id",
        "text", p, minShared = 2, maxDf = 50),
      p => Decontam.compactFingerprintIndex(spark, p)),
    Index("tf",
      (d, _, p) => TextOps.writeTokenFrequencyIndex(d, "doc_id", "text", p),
      (d, _, p) => TextOps.appendTokenFrequencyIndex(d, "doc_id", "text", p),
      (d, _, p) => TextOps.frequencyScoreAgainstIndex(d, "doc_id", "text", p, rareBelow = 3L),
      p => TextOps.compactTokenFrequencyIndex(spark, p)),
    Index("classifier",
      (d, _, p) => LangModel.writeClassifierIndex(labeled(d), "doc_id", "text", "pos", p),
      (d, _, p) => LangModel.appendClassifierIndex(labeled(d), "doc_id", "text", "pos", p),
      (d, _, p) => LangModel.scoreAgainstClassifierIndex(d, "doc_id", "text", p),
      p => LangModel.compactClassifierIndex(spark, p)))

  var inputs: Map[String, (Long, Long)] = Map.empty
  private var ingested = 0L
  private var day = 0
  /** Doc ids in the log after every append and delete so far. */
  private var logIds = Set.empty[Long]
  private var appended = Seq.empty[String]

  private def idx(name: String) = h.path(s"index/$name")
  private def logPath = h.path("log")

  /** Write a generated batch as parquet, count its bytes, and read it back. */
  private def materialise(name: String, df: DataFrame): DataFrame = {
    df.repartition(spark.sparkContext.defaultParallelism).write.parquet(h.path(s"in/$name"))
    spark.read.parquet(h.path(s"in/$name"))
  }

  private def docsAndVecs(tag: String, from: Long, until: Long): (DataFrame, DataFrame) = {
    val d = materialise(s"docs_$tag", gen.documents(from, until, DupShare).drop("root"))
    val v = materialise(s"vecs_$tag", gen.embeddings(from, until, DupShare).drop("root"))
    (d, v)
  }

  private def withTokens(d: DataFrame) =
    d.select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tok"))

  def setup(): Unit = {
    val (d, v) = docsAndVecs("base", 0, Base)
    ingested = bytesOf("base")
    // the seven stores are independent (one writer lease each), so set-up
    // builds them side by side on `cores` threads
    val builds = indexes.map(ix => () => ix.build(d, v, idx(ix.name))) :+ (() =>
      Sink.writeSizedShards(withTokens(d), logPath, "doc_id", "n_tok", targetWeight = 3000L,
        overwrite = true))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try builds.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = b()
    })).foreach(_.get())
    finally pool.shutdown()
    logIds = (0L until Base).toSet
    inputs = Map("base_docs" -> (Base, bytesOf("base")))
    // the first day's batches are inputs too: generated here, not in the loop
    ops = dayOps()
  }

  private def bytesOf(tag: String) =
    Harness.bytesUnder(h.state.resolve(s"in/docs_$tag")) +
      Harness.bytesUnder(h.state.resolve(s"in/vecs_$tag"))

  def ingestedBytes: Long = ingested

  /** The rest of the current day, each op tagged with the index it appends
    * to, if any: [[finish]] completes the appends of the indexes it checks.
    */
  private var ops = Vector.empty[(Option[String], () => Unit)]

  /** Two indexes' appends, each followed by its probe. */
  def roundOps: Int = 4
  /** The first day, which includes maintenance. */
  def cycleOps: Int = indexes.size * 2 + 2 + indexes.size + 2

  def step(i: Int): Unit = {
    if (ops.isEmpty) ops = h.spans("generate")(dayOps())
    val (_, next) = ops.head
    ops = ops.tail
    next()
  }

  private def pointer(name: String): String = {
    val p = h.state.resolve(s"index/$name/current")
    if (Files.exists(p)) Files.readString(p) else ""
  }

  private def committed(name: String, before: String): () => Unit = () =>
    ensure(pointer(name) != before, s"$name index did not commit a new epoch")

  /** Generate the next day's batch and probe batch; return its ops in order. */
  private def dayOps(): Vector[(Option[String], () => Unit)] = {
    val dd = day
    day += 1
    val from = Base + dd * Batch
    val tag = s"day$dd"
    val batch = docsAndVecs(tag, from, from + Batch)
    ingested += bytesOf(tag)
    appended :+= tag
    val probe = probeBatch(dd, tag)
    val appends = indexes.map { ix => () =>
      val (d, v) = batch
      val before = pointer(ix.name)
      h.op(s"ops.${ix.name}.append", Write) {
        ix.append(d, v, idx(ix.name))
        committed(ix.name, before)
      }
    }
    val logAppend = () => {
      val (d, _) = batch
      h.op("ops.sink.append", Write) {
        Sink.appendSizedShards(withTokens(d), logPath, "doc_id", "n_tok", targetWeight = 3000L)
        logIds ++= (from until from + Batch)
        logCheck()
      }
    }
    val probes = indexes.map { ix => () =>
      val (d, v) = probe
      h.op(s"ops.${ix.name}.probe", Read) {
        val df = ix.probe(d, v, idx(ix.name))
        h.noop(df)
        () => () // checked against a rebuilt index in finish()
      }
    }
    val verify = () => h.op("ops.sink.verify", Read) {
      val df = Sink.verifySizedLog(spark, logPath, "doc_id", "n_tok")
      h.noop(df)
      () => {
        val bad = df.where(col("violations") =!= 0).collect()
        ensure(bad.isEmpty, s"log audit found violations: ${bad.toSeq}")
      }
    }
    val maintenance =
      if (dd % CompactEvery != 0) Nil
      else indexes.map { ix => () =>
        val before = pointer(ix.name)
        h.op(s"ops.${ix.name}.compact", Write) {
          ix.compact(idx(ix.name))
          committed(ix.name, before)
        }
      } ++ Seq(
        () => h.op("ops.sink.compact", Write) {
          h.noop(Sink.compactSizedShards(spark, logPath, "doc_id"))
          logCheck()
        },
        () => {
          val doomed = logIds.filter(x => (x + seed + dd) % 97 == 0)
          h.op("ops.sink.delete", Write) {
            val ids = spark.createDataFrame(doomed.toSeq.map(Tuple1(_))).toDF("doc_id")
            h.noop(Sink.deleteFromSizedShards(spark, logPath, "doc_id", ids))
            logIds --= doomed
            logCheck()
          }
        })
    // each index is probed right after its append, so reads and writes
    // interleave from the first op of the loop on
    (indexes.zip(appends.zip(probes)).flatMap { case (ix, (a, p)) =>
      Seq(Some(ix.name) -> a, None -> p) } ++
      (logAppend +: verify +: maintenance).map(None -> _)).toVector
  }

  /** The log holds exactly the ids appended and not deleted, once each. */
  private def logCheck(): () => Unit = {
    val want = logIds
    () => {
      val ids = spark.read.parquet(logPath).select("doc_id").collect().map(_.getLong(0))
      ensure(ids.length == want.size && ids.toSet == want,
        s"log holds ${ids.length} rows / ${ids.toSet.size} ids, expected ${want.size}")
    }
  }

  /** Probe documents and vectors: near-copies of ids already indexed. */
  private def probeBatch(dd: Int, tag: String): (DataFrame, DataFrame) = {
    val from = ProbeIds + dd * ProbeBatch
    val upTo = Base + dd * Batch
    val ids = spark.range(from, from + ProbeBatch, 1, 4)
      .select(col("id"), gen.pick(col("id"), "probe", upTo).as("root"))
    val d = ids.select(col("id").as("doc_id"),
      concat(gen.bodyText(col("root")), lit(" a probe copy.")).as("text"),
      lit("en").as("lang"))
    val v = ids.select(col("id").as("vec_id"), col("root"))
    val vecs = spark.read.parquet(h.path("in/vecs_base")).select(col("vec_id").as("root"),
      col("embedding"))
    (materialise(s"probe_docs_$tag", d),
      materialise(s"probe_vecs_$tag", v.join(vecs, "root").drop("root")))
  }

  /** Append ≡ rebuild: indexes rebuilt from the base and every appended
    * batch answer the final day's probes exactly as the maintained ones do.
    * Each run rebuilds one of the six indexes, chosen by the seed, which
    * keeps the check inside the run's time budget; six seeds cover all.
    */
  override def finish(): Unit = {
    val checked = Seq(indexes(Math.floorMod(seed, indexes.size.toLong).toInt))
    ops.collect { case (Some(ix), append) if checked.exists(_.name == ix) => append() }
    val parts = "base" +: appended
    val docs = parts.map(t => spark.read.parquet(h.path(s"in/docs_$t"))).reduce(_ union _)
    val vecs = parts.map(t => spark.read.parquet(h.path(s"in/vecs_$t"))).reduce(_ union _)
    val (pd, pv) = probeBatch(math.max(day - 1, 0), "final")
    checked.foreach { ix =>
      val rebuilt = h.path(s"rebuild/${ix.name}")
      ix.build(docs, vecs, rebuilt)
      val a = Harness.fingerprint(ix.probe(pd, pv, idx(ix.name)))
      val b = Harness.fingerprint(ix.probe(pd, pv, rebuilt))
      ensure(a == b, s"${ix.name}: appended index answers $a, rebuilt $b")
    }
    Harness.deleteTree(h.state.resolve("rebuild"))
  }

  /** Epoch layout of the maintained indexes at the end of the run. */
  override def extra: Map[String, Any] = {
    val roots = indexes.map(ix => h.state.resolve(s"index/${ix.name}"))
    def epochs(r: Path) = Files.list(r).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("epoch-"))
    val live = roots.map(r => epochs(r).length)
    val files = roots.map(r => Harness.filesUnder(r, !_.getFileName.toString.endsWith(".crc")))
    val meta = roots.map(r => epochs(r).map(e =>
      Harness.filesUnder(e, !_.getFileName.toString.endsWith(".crc"))).sum)
    Map("days" -> day, "batch_docs" -> Batch, "probe_docs" -> ProbeBatch, "base_docs" -> Base,
      "epoch" -> Map(
        "epochs_live" -> live.sum.toDouble / live.size,
        "files_per_epoch" -> files.sum.toDouble / live.sum,
        "meta_files_per_epoch" -> meta.sum.toDouble / live.sum))
  }
}

object IndexDaily {
  /** One epoch index: how to build, append, probe and compact it. The two
    * frames passed in are a batch's documents and its vectors.
    */
  final case class Index(name: String,
      build: (DataFrame, DataFrame, String) => Unit,
      append: (DataFrame, DataFrame, String) => Unit,
      probe: (DataFrame, DataFrame, String) => DataFrame,
      compact: String => Unit)
}
