package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Pipeline, Sampling, Similarity, Sink, TextOps}

/** Batch curation over a document corpus and an embedding set with seeded
  * near-duplicate copies. Each pass runs two read ops from a fixed rotation
  * (HTML kernel, signatures, BPE, screens, pair dedup, ANN/kNN, semantic
  * dedup, top-fraction sampling, the staged curation pipeline) and ends with
  * one bulk overwrite through the shard sink.
  */
final class CurateBatch(h: Harness, seed: Long) extends Workload {
  import Harness.ensure
  private val spark = h.spark
  private val gen = new Gen(spark, seed)

  val Docs = 1500L
  val Vectors = 1500L
  val DupShare = 0.2

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var crawl: DataFrame = _
  /** (id, root) of every document and vector, read back from the inputs. */
  private var docRoot: Map[Long, Long] = Map.empty
  private var vecs: Map[Long, (Array[Float], Long)] = Map.empty
  var inputs: Map[String, (Long, Long)] = Map.empty
  private var bpeCounter: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _

  def setup(): Unit = {
    def write(name: String, df: DataFrame): DataFrame = {
      df.repartition(spark.sparkContext.defaultParallelism).write.parquet(h.path(s"in/$name"))
      spark.read.parquet(h.path(s"in/$name"))
    }
    val d = write("documents", gen.documents(0, Docs, DupShare))
    docs = d.drop("root")
    emb = write("embeddings", gen.embeddings(0, Vectors, DupShare))
    crawl = write("crawl", gen.crawl(d))
    docRoot = d.select("doc_id", "root").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs = emb.collect().map(r => r.getLong(0) ->
      (r.getSeq[Float](1).toArray, r.getLong(3))).toMap
    emb = emb.drop("root")
    inputs = Seq("documents" -> Docs, "embeddings" -> Vectors, "crawl" -> Docs).map {
      case (t, n) => t -> (n, Harness.bytesUnder(h.state.resolve(s"in/$t")))
    }.toMap
    val merges = h.state.resolve("in/bpe_merges.txt")
    val in = getClass.getResourceAsStream("/graft/bpe_pack_merges.txt")
    try java.nio.file.Files.copy(in, merges) finally in.close()
    bpeCounter = TextOps.bpeTokenCountFromMerges(spark, merges.toString)
  }

  def ingestedBytes: Long = inputs("documents")._2
  override def extra: Map[String, Any] = Map(
    "docs" -> Docs, "vectors" -> Vectors,
    "near_dup_share_docs" -> docRoot.count { case (i, r) => i != r }.toDouble / Docs,
    "near_dup_share_vectors" -> vecs.count { case (i, (_, r)) => i != r }.toDouble / Vectors)

  // one pass is two reads and a sink write, so even a short run samples
  // both kinds; column kernels alternate with the heavier plans.
  // Inputs never change, so checks wait until the loop ends, except the
  // sink's: the next write replaces what it checks.
  h.deferChecks = true
  private val reads: IndexedSeq[Int => Unit] = IndexedSeq(
    html, pairsNgram, signature, topk, bpe, take, screen, semdedup, pairsMinhash,
    pipeline, knn, topk)

  def step(i: Int): Unit =
    if (i % 3 == 2) sinkWrite(i) else reads((i / 3 * 2 + i % 3) % reads.size)(i)
  /** The first round (HTML, n-gram pairs, signatures, exact top-k, BPE and
    * the top-fraction take, with three sink writes) carries the per-row
    * kernels and fits a short run; the cycle's second round covers the rest.
    */
  def roundOps: Int = 9
  def cycleOps: Int = reads.size / 2 * 3

  /** Expected near-duplicate pairs (a < b): members of one root group. */
  private lazy val groupPairs: Set[(Long, Long)] =
    docRoot.toSeq.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  private def html(i: Int): Unit = h.op("functions.html", Read) {
    val df = crawl.select(col("doc_id"), TextOps.htmlExtractText(col("html")).as("text"))
    h.noop(df)
    () => {
      // the stop-dense prose paragraph of every page survives extraction;
      // navigation, style and footer never do
      val r = df.agg(count(lit(1)),
        sum(when(col("text").contains("pleasant morning for the people"), 1L).otherwise(0L)),
        sum(when(col("text").rlike("Home|color|Legal"), 1L).otherwise(0L))).head()
      ensure(r.getLong(0) == Docs && r.getLong(1) == Docs,
        s"prose kept on ${r.getLong(1)} of ${r.getLong(0)} pages")
      ensure(r.getLong(2) == 0L, s"boilerplate survived extraction on ${r.getLong(2)} pages")
    }
  }

  private def signature(i: Int): Unit = h.op("functions.signature", Read) {
    val df = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64).as("sig"))
    h.noop(df)
    () => {
      // a copy shares most shingles with its root, so most minhash slots agree
      val roots = spark.createDataFrame(docRoot.toSeq.filter { case (a, b) => a != b })
        .toDF("doc_id", "root")
      val bad = df.join(roots, "doc_id")
        .join(df.select(col("doc_id").as("root"), col("sig").as("rsig")), "root")
        .where(size(filter(arrays_zip(col("sig"), col("rsig")),
          z => z("sig") === z("rsig"))) < 32)
        .count()
      ensure(bad == 0L, s"$bad copies have a signature far from their root's")
      ensure(df.count() == Docs, "signature row count")
    }
  }

  private def bpe(i: Int): Unit = h.op("functions.bpe", Read) {
    val df = docs.select(col("doc_id"), col("text"),
      TextOps.bpeTokenCount(col("text")).as("n_regex"), bpeCounter(col("text")).as("n_bpe"))
    h.noop(df)
    () => {
      val model = graft.functions.BpeModel.fromMergesFile(h.path("in/bpe_merges.txt"))
      val pattern = TextOps.BpeTokenPattern.r
      df.where(col("doc_id") % 50 === i % 50).collect().foreach { r =>
        val t = r.getString(1)
        ensure(r.getAs[Number](2).longValue == pattern.findAllIn(t).size,
          s"regex count of doc ${r.getLong(0)}")
        ensure(r.getAs[Number](3).longValue == model.countTokens(t), s"bpe count of doc ${r.getLong(0)}")
      }
    }
  }

  private def screen(i: Int): Unit = h.op("ops.textops.screen", Read) {
    val aug = docs.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 7 === 0, lit("\nlorem ipsum dolor sit amet here today."))
        .otherwise(lit("")),
      lit("\nThis is a proper sentence with seven words.")).as("text"))
    val verdicts = aug.select(col("doc_id"), TextOps.gopherPass(col("text")).as("gopher"),
      TextOps.c4PagePass(col("text")).as("c4"))
    // the repetition report windows every 2..10-gram; a twelfth of the
    // corpus keeps the op near the others' cost
    val repDocs = aug.where(col("doc_id") % 12 === i % 12)
    val rep = TextOps.gopherRepetitionReport(repDocs, "doc_id", "text")
    h.noop(verdicts)
    h.noop(rep)
    () => {
      val r = verdicts.agg(count(lit(1)),
        sum(when(col("doc_id") % 7 === 0 && col("c4"), 1L).otherwise(0L))).head()
      ensure(r.getLong(0) == Docs, "screen row count")
      ensure(r.getLong(1) == 0L, s"${r.getLong(1)} lorem pages passed the C4 screen")
      ensure(rep.count() == repDocs.count(), "repetition report row count")
    }
  }

  private def pairsCheck(df: DataFrame): () => Unit = () => {
    val got = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ensure(got == groupPairs,
      s"pairs: ${(groupPairs -- got).size} missed, ${(got -- groupPairs).size} spurious")
  }

  private def pairsMinhash(i: Int): Unit = h.op("ops.dedup.pairs", Read) {
    val df = Dedup.minhashPairs(docs, "text", "doc_id", k = 3, numHashes = 64, bands = 32,
      threshold = 0.5)
    h.noop(df)
    pairsCheck(df)
  }

  private def pairsNgram(i: Int): Unit = h.op("ops.dedup.pairs", Read) {
    val df = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 10, numHashes = 60,
      bands = 12, threshold = 0.5)
    h.noop(df)
    pairsCheck(df)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    a.indices.foreach { k => d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
    d / math.sqrt(na * nb)
  }

  /** Every returned neighbour is within float noise of the exact k-th best. */
  private def topkCheck(df: DataFrame, corpus: Iterable[Long], k: Int): () => Unit = () => {
    val got = df.collect().groupBy(_.getAs[Long]("query_id"))
    ensure(got.nonEmpty, "no neighbours returned")
    got.foreach { case (q, rows) =>
      val qv = vecs(q)._1
      val exact = corpus.iterator.filter(_ != q).map(c => cosine(qv, vecs(c)._1)).toSeq
        .sortBy(-_).take(k)
      ensure(rows.length == k, s"query $q got ${rows.length} neighbours")
      rows.foreach { r =>
        ensure(cosine(qv, vecs(r.getAs[Long]("neighbor_id"))._1) >= exact.last - 1e-6,
          s"query $q: neighbour ${r.getAs[Long]("neighbor_id")} is not in the exact top $k")
      }
    }
  }

  private def topk(i: Int): Unit = {
    val queries = emb.where(col("vec_id") % 100 === i % 100)
    h.op("ops.similarity.topk", Read) {
      val df =
        if (i % 2 == 0) Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
        else Similarity.ivfTopK(emb, queries, "embedding", "vec_id", k = 5, nlist = 16, nprobe = 16)
      h.noop(df)
      topkCheck(df, vecs.keys, 5)
    }
  }

  private def knn(i: Int): Unit = {
    val lo = (i * 131L) % (Vectors - 600)
    val sub = emb.where(col("vec_id").between(lo, lo + 599))
      .repartition(spark.sparkContext.defaultParallelism)
    h.op("ops.similarity.topk", Read) {
      val df = Similarity.knnJoin(sub, "embedding", "vec_id", k = 3)
      h.noop(df)
      topkCheck(df, lo to lo + 599, 3)
    }
  }

  private def semdedup(i: Int): Unit = h.op("ops.similarity.semdedup", Read) {
    val df = Similarity.semanticDedup(emb, "embedding", "vec_id", minCosine = 0.95,
      nlist = 16, nprobe = 16)
    h.noop(df)
    () => {
      val got = df.select("id", "rep", "kept").collect()
      ensure(got.length == Vectors, "semantic dedup row count")
      got.foreach { r =>
        val root = vecs(r.getLong(0))._2
        ensure(r.getLong(1) == root && r.getBoolean(2) == (r.getLong(0) == root),
          s"vector ${r.getLong(0)}: rep ${r.getLong(1)}, expected $root")
      }
    }
  }

  private def take(i: Int): Unit = {
    val frac = 0.2 + (i % 5) * 0.05
    val scored = docs.withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
    h.op("ops.sampling.take", Read) {
      val df = Sampling.takeTopFraction(scored, "source", "doc_id", "n_tok", fraction = frac,
        nBuckets = 8)
      h.noop(df)
      () => {
        val kept = df.select("doc_id").collect().map(_.getLong(0)).toSet
        scored.select("doc_id", "source", "n_tok").collect().groupBy(_.getString(1)).foreach {
          case (src, rows) =>
            val (in, out) = rows.partition(r => kept(r.getLong(0)))
            val n = rows.length
            ensure(in.length >= math.floor(frac * n) - 1 && in.length <= math.ceil(frac * n) + 1,
              s"$src kept ${in.length} of $n at fraction $frac")
            if (in.nonEmpty && out.nonEmpty)
              ensure(in.map(_.getLong(2)).min >= out.map(_.getLong(2)).max,
                s"$src dropped a row scoring above a kept one")
        }
      }
    }
  }

  private val evalSet = spark.createDataFrame(Seq(Tuple1(Gen.EvalSentence))).toDF("text")
  private val config = Pipeline.CurationConfig(
    blockedDomains = Seq("site5.example.com", "site11.example.com"),
    phrases = Seq("merge window", "vector join"),
    weights = (0 until Gen.Sources).map(s => s"src$s" -> (if (s == 3) 4L else 1L)).toMap,
    budgetTokens = 30000L,
    shardTokens = 8000L)

  private def pipeline(i: Int): Unit = h.op("ops.pipeline", Read) {
    val st = h.spans("ops.pipeline.ledger") {
      Pipeline.curateStages(crawl, "doc_id", "url", "source", "html", evalSet, "text", config)
    }
    h.spans("ops.pipeline.dedup")(h.noop(st.postDedup))
    h.spans("ops.pipeline.decontam")(h.noop(st.postDecontam))
    h.spans("ops.pipeline.mix")(h.noop(st.kept))
    h.spans("ops.pipeline.shard")(h.noop(st.sharded))
    h.spans("ops.pipeline.attach")(h.noop(st.diagnosis))
    () => {
      val rows = st.diagnosis.select("doc_id", "stage", "shard").collect()
      ensure(rows.length == Docs, s"diagnosis has ${rows.length} rows")
      rows.foreach { r =>
        val id = r.getLong(0)
        val stage = r.getString(1)
        if (id % 37 == 5 || id % 37 == 11)
          ensure(stage == "domain", s"page $id on a blocked host reached stage $stage")
        else if (stage == "kept") {
          ensure(id % 13 != 0, s"page $id with the eval sentence was kept")
          ensure(!r.isNullAt(2), s"kept page $id has no shard")
        }
      }
      ensure(rows.exists(_.getString(1) == "kept"), "pipeline kept nothing")
    }
  }

  private def sinkWrite(i: Int): Unit = {
    val out = h.path("shards")
    h.op("ops.sink.write", Write, checkNow = true) {
      Sink.writeShards(docs, out, "doc_id", nShards = 8, overwrite = true)
      () => {
        val back = spark.read.parquet(out).select(docs.columns.toIndexedSeq.map(col): _*)
        ensure(Harness.fingerprint(back) == Harness.fingerprint(docs), "shard read-back differs")
      }
    }
  }
}
