package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{JobCount, SparkSpec}

/** LLM-pipeline operators: dedup / similarity / text / multimodal. */
class OpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) =
    frame(struct("doc_id" -> LongType, "text" -> StringType),
      rows.map { case (i, t) => Row(i, t) }: _*)

  test("shingles: k-word windows, empty under k tokens") {
    val df = docs(1L -> "a b c d", 2L -> "a b")
    val out = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1) == Seq("a b c", "b c d"))
    assert(out(1).getSeq[String](1) == Seq.empty)
  }

  test("exactKeepMin keeps the minimum id per identical text") {
    val df = docs(5L -> "same text here", 2L -> "same text here", 9L -> "different")
    val kept = Dedup.exactKeepMin(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("exactKeepBest keeps the highest-score copy, min id on ties") {
    val st = struct("doc_id" -> LongType, "text" -> StringType, "score" -> LongType)
    val df = frame(st,
      Row(1L, "same text", 5L), Row(2L, "same text", 9L),   // 2 wins on score
      Row(3L, "other text", 1L),
      Row(4L, "tied text", 7L), Row(5L, "tied text", 7L),   // 4 wins the tie
      Row(6L, null, 1L), Row(7L, null, 3L))                 // one null class, 7 wins
    val kept = Dedup.exactKeepBest(df, "text", "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L, 7L))
  }

  test("minhashPairs finds planted near-duplicates and skips dissimilar docs") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "tokenX") // ~1 shingle in 38 changed
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashPairs(df, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash64: identical texts agree, near texts within small hamming") {
    val df = docs(
      1L -> "spark engine for scale out data processing",
      2L -> "spark engine for scale out data processing",
      3L -> "spark engine for scale out data processing now",
      4L -> "entirely unrelated words about cooking pasta dishes")
    val sig = df.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(sig(0) == sig(1))
    val near = java.lang.Long.bitCount(sig(0) ^ sig(2))
    val far = java.lang.Long.bitCount(sig(0) ^ sig(3))
    assert(near < far, s"near=$near far=$far")
    // distance helper agrees with driver-side bitCount
    val d = df.limit(1).select(
      Dedup.hamming64(lit(sig(0)), lit(sig(3)))).head().getInt(0)
    assert(d == far)
  }

  test("cosine: orthogonal=0, identical=1 (double precision)") {
    val df = frame(
      struct("a" -> ArrayType(FloatType), "b" -> ArrayType(FloatType)),
      Row(Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)),
      Row(Seq(1.0f, 1.0f), Seq(2.0f, 2.0f)))
    val out = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .orderBy("c").collect().map(_.getDouble(0))
    assert(math.abs(out(0)) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine, excludes self, respects k") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(0L, Seq(1.0f, 0.0f)),
      Row(1L, Seq(0.9f, 0.1f)),
      Row(2L, Seq(0.0f, 1.0f)),
      Row(3L, Seq(-1.0f, 0.0f)))
    val out = Similarity.bruteForceTopK(
      vecs, vecs.where(col("vec_id") === 0), "embedding", "vec_id", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 2L)) // nearest first
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2))
  }

  test("lshTopK buckets deterministically and ranks within bucket") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      (0L until 20L).map(i =>
        Row(i, Seq(math.cos(i / 3.0).toFloat, math.sin(i / 3.0).toFloat))): _*)
    val out = Similarity.lshTopK(
      vecs, vecs.where(col("vec_id") < 2), "embedding", "vec_id", k = 3, planes = 2)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // ranks are 1..k per query and neighbors share the query's bucket
    assert(rows.groupBy(_.getLong(0)).values.forall(rs =>
      rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length)))
  }

  test("embeddingNearDup finds planted duplicate vector") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(0L, Seq(1.0f, 2.0f, 3.0f)),
      Row(1L, Seq(1.0f, 2.0f, 3.001f)), // near-identical
      Row(2L, Seq(-3.0f, 1.0f, -2.0f)))
    val pairs = Dedup.embeddingNearDup(vecs, "embedding", "vec_id",
      planes = 2, bands = 4, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
    // multi-band candidates verified by exact cosine ⊆ exhaustive answer
    val exact = Dedup.embeddingNearDupExact(vecs, "embedding", "vec_id", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == exact.toSeq)
  }

  test("embeddingNearDup: a zero-norm vector is nobody's near-duplicate") {
    // the zero vector lands in bucket 0 of every band and scores NaN against
    // everything; NaN >= threshold is true in Spark, so only an explicit
    // guard keeps it out (DuckDB's oracle scores the pair -1 and drops it)
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(0L, Seq(0.0f, 0.0f, 0.0f)),
      Row(1L, Seq(1.0f, 2.0f, 3.0f)),
      Row(2L, Seq(1.0f, 2.0f, 3.001f)),
      Row(3L, Seq(-3.0f, 1.0f, -2.0f)),
      Row(4L, Seq(-1.0f, -2.0f, 0.5f)))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val banded = pairs(Dedup.embeddingNearDup(vecs, "embedding", "vec_id",
      planes = 1, bands = 4, threshold = 0.999))
    val exact = pairs(Dedup.embeddingNearDupExact(vecs, "embedding", "vec_id", 0.999))
    assert(exact == Seq((1L, 2L)), s"exact form paired the zero vector: $exact")
    assert(banded == Seq((1L, 2L)), s"banded form paired the zero vector: $banded")
  }

  test("text ops: token counts, quality, langid, fingerprint") {
    val df = docs(
      1L -> "the cat and the dog, it is fine!",
      2L -> "der hund und die katze ist nicht da")
    val t = df.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("ws"),
      TextOps.bpeTokenCount(col("text")).as("bpe"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect()
    assert(t(0).getInt(1) == 8)
    assert(t(0).getInt(2) == 10) // 8 words + comma + bang
    assert(t(0).getString(3) == "en")
    assert(t(1).getString(3) == "de")
    assert(t(0).getString(4).matches("[0-9a-f]{32}"))
    // fingerprint is whitespace/case insensitive
    val fp2 = docs(3L -> "  THE cat and   the dog, it is fine!  ")
      .select(TextOps.fingerprint(col("text"))).head().getString(0)
    assert(fp2 == t(0).getString(4))
  }

  test("simhashPairs finds the planted near-duplicate within the hamming budget") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "tokenX")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("ngramJaccardPairs: char-gram similarity is robust to one-char edits") {
    val base = "the quick brown fox jumps over the lazy dog in the sunny park"
    val nearDup = base.replace("sunny", "funny")
    val other = "completely different content about databases and query engines"
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.ngramJaccardPairs(df, "text", "doc_id", n = 5, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("ivfTopK with nprobe = nlist equals exhaustive brute force") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      (0L until 40L).map(i =>
        Row(i, Seq(math.cos(i / 5.0).toFloat, math.sin(i / 5.0).toFloat, (i % 7).toFloat / 7.0f))): _*)
    val queries = vecs.where(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(vecs, queries, "embedding", "vec_id",
      k = 4, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val bf = Similarity.bruteForceTopK(vecs, queries, "embedding", "vec_id", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(ivf.toSeq == bf.toSeq)
    // partial probing still returns ranked, same-cell neighbors
    val partial = Similarity.ivfTopK(vecs, queries, "embedding", "vec_id",
      k = 4, nlist = 4, nprobe = 1).collect()
    assert(partial.nonEmpty)
    assert(partial.groupBy(_.getLong(0)).values.forall(rs =>
      rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length)))
  }

  test("native simhash kernel is bit-identical to the HOF expression") {
    val df = docs(
      1L -> "spark engine for scale out data processing",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "x")
    val out = df.select(
      Dedup.simhash64(col("text")).as("native"),
      Dedup.simhash64Expr(col("text")).as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native kernels are registered as SQL functions via GraftExtensions") {
    assert(spark.sql("SELECT char_ngrams('abcd', 2) AS g")
      .head().getSeq[String](0) == Seq("ab", "bc", "cd"))
    assert(spark.sql(
      "SELECT jaccard_similarity(array('a','b'), array('b','c')) AS j")
      .head().getDouble(0) === 1.0 / 3.0)
    assert(spark.sql(
      """SELECT cosine_similarity(
        |  array(cast(1.0 as float), cast(0.0 as float)),
        |  array(cast(1.0 as float), cast(0.0 as float))) AS c""".stripMargin)
      .head().getDouble(0) === 1.0)
    assert(spark.sql("SELECT simhash64(array('a','b','c')) AS s")
      .head().getLong(0) != 0L)
    assert(spark.sql(
      "SELECT size(minhash_band_hashes(array('a','b','c','d'), 2, 64, 32)) AS n")
      .head().getInt(0) == 32)
    // null ELEMENTS are treated as absent, never NPE/garbage
    assert(spark.sql(
      """SELECT jaccard_sorted(array(1L, CAST(NULL AS BIGINT), 2L), array(1L, 2L)) AS j""")
      .head().getDouble(0) === 1.0)
    assert(spark.sql(
      "SELECT hashed_shingle_set(array('a', CAST(NULL AS STRING), 'a'), 1) AS h")
      .head().getSeq[Long](0).length == 1)
    assert(spark.sql(
      "SELECT simhash64(array('a', CAST(NULL AS STRING))) AS s")
      .head().getLong(0) == spark.sql("SELECT simhash64(array('a')) AS s")
      .head().getLong(0))
    // threshold predicate stays decision-correct on containsNull arrays
    // (it falls back to the exact compute path there)
    assert(spark.sql(
      """SELECT jaccard_sorted(array(1L, CAST(NULL AS BIGINT), 2L), array(1L, 2L)) >= 0.9 AS ok""")
      .head().getBoolean(0))
  }

  test("ivfBuild once + ivfProbe twice equals the one-shot ivfTopK") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      (0L until 40L).map(i => Row(i,
        Seq(math.sin(i * 1.7).toFloat, math.cos(i * 0.9).toFloat,
          math.sin(i * 0.3 + 1).toFloat))): _*)
    val queries = vecs.where(col("vec_id") < 4)
    val idx = Similarity.ivfBuild(vecs, "embedding", "vec_id", nlist = 4)
    // the build must not park the corpus in executor storage (a 100 TB
    // corpus cannot be cached to train a few centroids): the assignment is
    // a plain projection over the source, no InMemoryRelation anywhere
    assert(!idx.assigned.queryExecution.optimizedPlan.toString
      .contains("InMemoryRelation"),
      "ivfBuild must not persist the corpus")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2)).toSeq
    val p1 = rows(Similarity.ivfProbe(idx, queries, "embedding", "vec_id", k = 3, nprobe = 2))
    val once = rows(Similarity.ivfTopK(vecs, queries, "embedding", "vec_id",
      k = 3, nlist = 4, nprobe = 2))
    val p2 = rows(Similarity.ivfProbe(idx, queries, "embedding", "vec_id", k = 3, nprobe = 2))
    assert(p1 == once && p2 == once)
  }

  test("prototype pruning: integer cells, exact scores, per-cell drop") {
    // maxabs 127 everywhere → int8 codes ARE the components; md5 order of
    // ids 1..6,8 starts (6, 4, …) → seeds 6 = [-127,0] and 4 = [13,127]
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(1L, Seq(-127.0f, 13.0f)),
      Row(2L, Seq(-127.0f, 26.0f)),
      Row(3L, Seq(0.0f, 127.0f)),
      Row(4L, Seq(13.0f, 127.0f)),
      Row(5L, Seq(26.0f, 127.0f)),
      Row(6L, Seq(-127.0f, 0.0f)),
      Row(8L, null)) // null vector: lowest-seed cell, null score, survives
    val withCell = Similarity.integerCellAssign(vecs, "embedding", "vec_id", 2)
    val cells = withCell.select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == Map(1L -> 6L, 2L -> 6L, 3L -> 4L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 8L -> 4L))
    // cell 6 sum [-381, 39]; cell 4 sum [39, 381] — hand-computed dots
    val protos = Similarity.prototypeScores(
      withCell, "cell", "embedding", "vec_id")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(protos == Map(
      1L -> Some(48894L), 2L -> Some(49401L), 6L -> Some(48387L),
      3L -> Some(48387L), 4L -> Some(48894L), 5L -> Some(49401L),
      8L -> None))
    // drop 0.4: null scores are excluded from set AND denominator, so
    // cell 4 counts 3 scored rows (round(0.4·3) = 1 → drops id 5) and
    // cell 6 drops its top-1 (id 2); the null-vec row survives
    val kept = Similarity.prototypePrune(
      withCell, "cell", "embedding", "vec_id", 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 6L, 8L))
    // the outlier direction drops the LOWEST score per cell instead
    // (ids 6 and 3 at 48387); the null-vec row still survives
    val outliers = Similarity.outlierDropIds(
      Similarity.prototypeScores(withCell, "cell", "embedding", "vec_id"),
      "cell", "vec_id", 0.4)
      .collect().map(_.getLong(0)).toSet
    assert(outliers == Set(3L, 6L))
  }

  test("prototypeScoreColumn: frozen literal table ≡ the batch join path") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(1L, Seq(-127.0f, 13.0f)), Row(2L, Seq(-127.0f, 26.0f)),
      Row(3L, Seq(0.0f, 127.0f)), Row(4L, Seq(13.0f, 127.0f)),
      Row(5L, Seq(26.0f, 127.0f)), Row(6L, Seq(-127.0f, 0.0f)))
    val withCell = Similarity.integerCellAssign(vecs, "embedding", "vec_id", 2)
    val sums = Similarity.collectCellSums(withCell, "cell", "embedding")
    val viaColumn = withCell.select(col("vec_id"),
        Similarity.prototypeScoreColumn(
          col("embedding"), col("cell"), sums).as("proto"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaJoin = Similarity.prototypeScores(
        withCell, "cell", "embedding", "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viaColumn == viaJoin)
    // a cell absent from the frozen table scores null instead of joining away
    val ghost = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "cell" -> LongType),
      Row(9L, Seq(1.0f, 2.0f), 999L))
    assert(ghost.select(Similarity.prototypeScoreColumn(
      col("embedding"), col("cell"), sums)).head().isNullAt(0))
    // the literal-table cap fails loudly on too many distinct cells
    val e = intercept[IllegalArgumentException] {
      Similarity.collectCellSums(withCell, "cell", "embedding", maxCells = 1)
    }
    assert(e.getMessage.contains("maxCells"))
    // the SEED literal path has the same loud cap: a k·dim table over
    // MaxSeedLiteralBytes must fail at construction, not ship megabytes
    // into every task binary
    val fatSeeds = (0L until 2048L).map(i =>
      (i: Any, Seq.fill(1024)(1.toByte)))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.integerCellColumn(col("embedding"), fatSeeds)
    }
    assert(e2.getMessage.contains("literal code bytes"))
    // small-k usage stays unchanged under the cap
    assert(Similarity.MaxSeedLiteralBytes == (1L << 20))
  }

  test("prototype scores from a persisted index ≡ the direct pass; both storages agree") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(1L, Seq(-127.0f, 13.0f)), Row(2L, Seq(-127.0f, 26.0f)),
      Row(3L, Seq(0.0f, 127.0f)), Row(4L, Seq(13.0f, 127.0f)),
      Row(5L, Seq(26.0f, 127.0f)), Row(6L, Seq(-127.0f, 0.0f)))
    val base = java.nio.file.Files.createTempDirectory("graft_protoidx").toString
    Similarity.writeAnnIndex(vecs, "embedding", "vec_id", s"$base/q",
      nlist = 2, quantize = true)
    Similarity.writeAnnIndex(vecs, "embedding", "vec_id", s"$base/f",
      nlist = 2, quantize = false)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val fromQ = rows(Similarity.prototypeScoresFromIndex(spark, s"$base/q"))
    // stored int8 codes and quantize-on-read over float storage agree
    assert(fromQ == rows(Similarity.prototypeScoresFromIndex(spark, s"$base/f")))
    // ≡ the direct batch pass on the index's own cell assignment
    val cellsDf = frame(struct("vec_id" -> LongType, "cell" -> IntegerType),
      fromQ.toSeq.map { case (id, (c, _)) => Row(id, c) }: _*)
    val direct = Similarity.prototypeScores(
      vecs.join(cellsDf, Seq("vec_id")), "cell", "embedding", "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fromQ.view.mapValues(_._2).toMap == direct)
    // the prune ids are exactly the per-cell round(f·n) top scores
    val dropped = Similarity.prototypePruneIndexIds(spark, s"$base/q", 0.5)
      .collect().map(_.getLong(0)).toSet
    val expected = fromQ.groupBy(_._2._1).flatMap { case (_, ms) =>
      val sorted = ms.toSeq.sortBy { case (id, (_, p)) =>
        (-p, md5hex(id.toString), id) }
      sorted.take(math.round(0.5 * ms.size).toInt).map(_._1)
    }.toSet
    assert(dropped == expected && dropped.nonEmpty)
  }

  test("labelVote: majority, closest-neighbor split ties, null labels ignored") {
    val nbrSt = struct(
      "query_id" -> LongType, "rank" -> IntegerType, "neighbor_id" -> LongType)
    val labSt = struct("vec_id" -> LongType, "label" -> StringType)
    // q1: A@1 B@2 B@3 A@4 C@5 — A and B tie 2-2, A holds rank 1 → A
    // q2: B@1 A@2 A@3 n10@4 n11@5 — null-labeled neighbors ignored → A
    // q3: only null-labeled neighbors → absent
    val neighbors = frame(nbrSt,
      Row(1L, 1, 100L), Row(1L, 2, 101L), Row(1L, 3, 102L),
      Row(1L, 4, 103L), Row(1L, 5, 104L),
      Row(2L, 1, 101L), Row(2L, 2, 100L), Row(2L, 3, 103L),
      Row(2L, 4, 110L), Row(2L, 5, 111L),
      Row(3L, 1, 110L), Row(3L, 2, 111L))
    val labels = frame(labSt,
      Row(100L, "A"), Row(101L, "B"), Row(102L, "B"),
      Row(103L, "A"), Row(104L, "C"),
      Row(110L, null), Row(111L, null))
    val got = Similarity.labelVote(neighbors, labels, "vec_id", "label")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got == Map(1L -> (("A", 2L)), 2L -> (("A", 2L))))
  }

  test("classifyByNeighbors: three embedding clusters classify a held-out query each") {
    val embSt = struct(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> StringType)
    def v(axis: Int, jitter: Float): Seq[Float] =
      (0 until 3).map(i => if (i == axis) 1.0f else jitter * (i + 1))
    val labeled = frame(embSt, (0 until 3).flatMap { axis =>
      (0 until 4).map(j =>
        Row(axis * 10L + j, v(axis, 0.01f * (j + 1)), s"c$axis"))
    }: _*)
    val queries = frame(embSt,
      Row(900L, v(0, 0.05f), null), Row(901L, v(1, 0.05f), null),
      Row(902L, v(2, 0.05f), null))
    val got = Similarity.classifyByNeighbors(
      labeled, queries, "embedding", "vec_id", "label", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      900L -> (("c0", 3L)), 901L -> (("c1", 3L)), 902L -> (("c2", 3L))))
  }

  test("ivf dense-cell salt: skewed corpus engages the guard, results exact") {
    // 30 of 60 vectors are an identical template — they land in ONE cell
    // with zero internal variance (the case no quantizer refinement can
    // split), which at scale would make the cell join a single all-pairs
    // straggler task. The salt guard must engage AND change nothing about
    // the results.
    val template = Seq(0.5f, -0.25f, 0.75f)
    val rows = (0L until 30L).map(i => Row(i, template)) ++
      (30L until 60L).map(i => Row(i,
        Seq(math.sin(i * 1.7).toFloat, math.cos(i * 0.9).toFloat,
          math.sin(i * 0.3 + 1).toFloat)))
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      rows: _*)
    val idx = Similarity.ivfBuild(vecs, "embedding", "vec_id", nlist = 4)
    assert(idx.cellSalts.nonEmpty, "a 50% cell must trip the dense-cell guard")
    assert(idx.cellSalts.values.forall(s => s >= 2 && s <= 256))
    // the salted (cell, salt) join must produce the same exact results as
    // the broadcast-quadratic truth at nprobe = nlist...
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2)).toSeq
    assert(key(Similarity.ivfKnnJoin(vecs, "embedding", "vec_id", k = 3,
      nlist = 4, nprobe = 4)) ==
      key(Similarity.knnJoin(vecs, "embedding", "vec_id", k = 3)))
    // ...and the similarity self-join pair set is identical to an unsalted
    // run of the same plan (salting only re-keys the shuffle)
    val unsalted = Similarity.ivfSimilarityJoinPlan(
      idx.copy(cellSalts = Map.empty), vecs, "embedding", "vec_id",
      minCosine = 0.9, nprobe = 4)
    val salted = Similarity.ivfSimilarityJoinPlan(
      idx, vecs, "embedding", "vec_id", minCosine = 0.9, nprobe = 4)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(salted) == pairs(unsalted) && pairs(salted).nonEmpty)
    // under its threshold the guard stays out of the way (plans unsalted);
    // 0.6 because nlist = 4 puts the fair share at 25% — the 0.25 default
    // is calibrated to nlist >= 16, where fair share is 4x below it
    val balanced = Similarity.ivfBuild(
      vecs.where(col("vec_id") >= 30), "embedding", "vec_id", nlist = 4,
      maxCellFraction = 0.6)
    assert(balanced.cellSalts.isEmpty)
    // the guard PERSISTS: an index over the skewed corpus stores per-cell
    // populations, and the corpus-sized range probe salts its cell join...
    val dir = java.nio.file.Files.createTempDirectory("graft_saltidx").toString + "/idx"
    Similarity.writeAnnIndex(vecs.where(col("vec_id") < 50),
      "embedding", "vec_id", dir, nlist = 4)
    val probe = Similarity.annRangeAgainstIndex(
      vecs, "embedding", "vec_id", dir, floor = 0.9, nprobe = 4)
    assert(probe.queryExecution.sparkPlan.toString.contains("salt"),
      "a dense standing cell must salt the probe join")
    // ...with results EXACTLY the brute-force range search (nprobe = nlist)
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rs(probe) == rs(Similarity.rangeSearch(
      vecs.where(col("vec_id") < 50), vecs, "embedding", "vec_id", 0.9)))
    // appends fold their arrivals into the stored populations and stay exact
    Similarity.appendAnnIndex(
      vecs.where(col("vec_id") >= 50), "embedding", "vec_id", dir)
    val probe2 = Similarity.annRangeAgainstIndex(
      vecs, "embedding", "vec_id", dir, floor = 0.9, nprobe = 4)
    assert(rs(probe2) == rs(Similarity.rangeSearch(
      vecs, vecs, "embedding", "vec_id", 0.9)))
  }

  test("candidatePairs drops a degenerate bucket without materializing it") {
    // 50 ids share one (band, bhash) key with maxBucketSize = 10: the
    // count-first window prune discards them BEFORE collect_list, so the
    // oversized bucket never enters an aggregation buffer; the small
    // bucket still pairs normally
    val rows = (1L to 50L).map(i => Row(0, 7L, i)) ++
      Seq(Row(1, 8L, 100L), Row(1, 8L, 101L), Row(1, 8L, 102L))
    val buckets = frame(
      struct("band" -> IntegerType, "bhash" -> LongType, "id" -> LongType),
      rows: _*)
    val pairs = Dedup.candidatePairs(buckets, maxBucketSize = 10)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((100L, 101L), (100L, 102L), (101L, 102L)))
    // the count+group phases share ONE bucket-key exchange (the groupBy
    // reuses the window's hash partitioning); the only other exchange is
    // the final pair dropDuplicates
    val finalPlan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head // AQE echoes the pre-adaptive plan
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(exchanges == 2,
      s"expected bucket + pair-dedup exchanges only, saw $exchanges:\n$finalPlan")
    // and the prune really sits below the id-list aggregation
    assert(finalPlan.contains("collect_list"))
    assert(finalPlan.indexOf("collect_list") < finalPlan.indexOf("Window "),
      "count-first filter must run before collect_list in the plan")
  }

  test("dedupClusters collapses chains transitively, singletons keep self") {
    val nodes = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
    // chain 5—3—2 (never directly 5—2) plus isolated 1 and 4
    val pairs = frame(
      struct("id_a" -> LongType, "id_b" -> LongType),
      Row(3L, 5L), Row(2L, 3L))
    val out = Dedup.dedupClusters(nodes, "doc_id", pairs)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 4L), (5L, 2L)))
    // the distributed propagation rounds (fast path pinned off) label the
    // chain identically — transitivity must hold on BOTH paths
    val distributed = Dedup.dedupClusters(nodes, "doc_id", pairs,
      maxDriverEdges = 0)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(distributed == out)
  }

  test("dedupClusters takes the reliable-checkpoint path when a dir is set") {
    // with a checkpoint dir configured the returned fixpoint must survive
    // executor loss (local checkpoints don't), so Materialize.eager routes
    // through reliable checkpoint — assert the result is identical and the
    // checkpoint data actually landed in the configured dir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val nodes = docs(1L -> "a", 2L -> "b", 3L -> "c")
      val pairs = frame(
        struct("id_a" -> LongType, "id_b" -> LongType), Row(1L, 3L))
      // pin the distributed rounds: only they checkpoint — the driver
      // fast path has no lineage to truncate
      val out = Dedup.dedupClusters(nodes, "doc_id", pairs, maxDriverEdges = 0)
        .orderBy(col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(out == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val wrote =
        try walk.filter(p => java.nio.file.Files.isRegularFile(p)).count()
        finally walk.close()
      assert(wrote > 0, s"no reliable checkpoint blocks written under $dir")
    } finally {
      // shared session: hand subsequent suites the local-checkpoint path back
      org.apache.spark.sql.GraftBridge.clearCheckpointDir(spark.sparkContext)
      // and reclaim the temp checkpoint dir (reliable checkpoints are not
      // GC-cleaned; see Materialize scaladoc)
      val rmWalk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        rmWalk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      } finally rmWalk.close()
    }
  }

  test("topTermsPerDoc ranks a doc's distinctive token first") {
    val df = docs(
      1L -> "alpha alpha common",
      2L -> "beta beta common",
      3L -> "gamma gamma common")
    val out = TextOps.topTermsPerDoc(df, "doc_id", "text", k = 2)
      .orderBy(col("doc_id"), col("rank")).collect()
    // the unique token (tf=2, df=1 → 2.0) outranks "common" (1/3)
    assert(out.filter(_.getInt(1) == 1).map(_.getString(2)).toSeq ==
      Seq("alpha", "beta", "gamma"))
    assert(out.forall(r => r.getInt(1) <= 2))
  }

  test("repetitionReport: Gopher duplicate-line and top-bigram fractions") {
    val df = docs(
      // lines ["a b","a b","c"]: dup_line_frac 1/3, chars 7 vs distinct 4
      // → dup_line_char_frac 3/7; bigrams [a b, b a, a b, b c] → top
      // "a b" ×2, len-1 = 2 chars of 5 non-ws → 0.8
      1L -> "a b\na b\nc",
      2L -> "hello",   // single token: no bigram → 0.0
      3L -> "")        // empty doc: all fractions 0.0
    val out = TextOps.repetitionReport(df, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out(0) == ((1L, 1.0 / 3.0, 3.0 / 7.0, 0.8)))
    assert(out(1) == ((2L, 0.0, 0.0, 0.0)))
    assert(out(2) == ((3L, 0.0, 0.0, 0.0)))
    // tie-break is deterministic: equal counts pick the last bigram
    val tie = TextOps.repetitionReport(docs(9L -> "x y z"), "doc_id", "text")
      .head()
    // "x y" and "y z" both ×1 → winner "y z"; 2 bigram chars of 3 non-ws
    assert(tie.getDouble(3) == 1.0 * 2.0 / 3.0)
  }

  test("gopherRepetitionReport: all thirteen signals hand-computed") {
    val df = frame(struct("doc_id" -> LongType, "text" -> StringType),
      // 30 distinct 3-char tokens: every n-gram unique → top-n = 3n/90,
      // all dup signals 0, every threshold met → rep_pass
      Row(1L, (1 to 30).map(i => f"t$i%02d").mkString(" ")),
      // repeated line "a b": dup_line 1/3 and 3/7; tokens a b a b c →
      // top2 "a b"×2 = 4/5, top3 3/5 (all ×1, glen 3), top4 4/5
      Row(2L, "a b\na b\nc"),
      // repeated 5-gram covers every token → dup5 = 1.0; 6..10 distinct
      Row(3L, "p q r s t p q r s t"),
      // repeated paragraph: dup_para 1/3 and 14/34; line split sees the
      // same three (blank lines trimmed) → dup_line identical
      Row(4L, "Para one here.\n\nPara one here.\n\nOther."),
      Row(5L, null),
      Row(6L, ""))
    val out = TextOps.gopherRepetitionReport(df, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    def fracs(r: Row): Seq[Double] =
      (1 to 13).map(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
    // (dupL, dupLc, dupP, dupPc, top2, top3, top4, dup5..dup10)
    assert(fracs(out(0)) == Seq(0.0, 0.0, 0.0, 0.0,
      6.0 / 90, 9.0 / 90, 12.0 / 90, 0, 0, 0, 0, 0, 0))
    assert(out(0).getBoolean(14))
    assert(fracs(out(1)) == Seq(1.0 / 3, 3.0 / 7, 0.0, 0.0,
      4.0 / 5, 3.0 / 5, 4.0 / 5, 0, 0, 0, 0, 0, 0))
    assert(!out(1).getBoolean(14)) // dup_line_frac 1/3 > 0.30
    assert(fracs(out(2)) == Seq(0.0, 0.0, 0.0, 0.0,
      4.0 / 10, 6.0 / 10, 8.0 / 10, 1.0, 0, 0, 0, 0, 0))
    assert(!out(2).getBoolean(14)) // dup5 covers every token
    // top2 tie at c=2 picks the longer gram "one here." (glen 8) → 16/30;
    // top4/5 all ×1 pick the longest glen (18, 23)
    assert(fracs(out(3)) == Seq(1.0 / 3, 14.0 / 34, 1.0 / 3, 14.0 / 34,
      16.0 / 30, 24.0 / 30, 18.0 / 30, 0, 0, 0, 0, 0, 0))
    assert(!out(3).getBoolean(14))
    assert((1 to 14).forall(out(4).isNullAt)) // null text → all null
    assert(fracs(out(5)) == Seq.fill(13)(0.0) && out(5).getBoolean(14))
  }

  test("repetitionQuickPass: the four row-local rules as one verdict") {
    val df = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "clean first line\nand a second one\n\nnew paragraph"),
      Row(2L, "a b\na b\nc"),                  // dup_line 1/3 > 0.30
      Row(3L, "Para one here.\n\nPara one here.\n\nOther."), // dup_para
      // one dup line of 8 (1/8 ≤ 0.30) but its chars are 10 of 26
      // (> 0.20) — the char rule trips alone
      Row(4L, "xxxxxxxxxx\nxxxxxxxxxx\na\nb\nc\nd\ne\nf"),
      Row(5L, null),
      Row(6L, ""))
    val out = df.select(col("doc_id"),
        TextOps.repetitionQuickPass(col("text")).as("p"))
      .orderBy(col("doc_id")).collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getBoolean(1)))
    assert(out.toSeq == Seq(Some(true), Some(false), Some(false),
      Some(false), None, Some(true)))
    // agrees with the full bundle's line/para share of rep_pass on the
    // n-gram-clean docs (doc 4 has no dup n-grams, so rep_pass == quick)
    val full = TextOps.gopherRepetitionReport(
      df.where(col("doc_id") === 4L), "doc_id", "text").head()
    assert(!full.getBoolean(14))
  }

  test("termFrequencies counts corpus-wide tokens") {
    val df = docs(1L -> "a b a", 2L -> "b c")
    val out = TextOps.termFrequencies(df, "text")
      .orderBy(col("token")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("md5StratifiedSample: rate 0 drops the stratum, absent strata keep all") {
    val df = frame(
      struct("doc_id" -> LongType, "lang" -> StringType, "text" -> StringType),
      (1L to 40L).map(i =>
        Row(i, if (i % 2 == 0) "en" else "de", s"document number $i")): _*)
    val none = Sampling.md5StratifiedSample(df, "lang", "text", Map("en" -> 0))
    assert(none.where(col("lang") === "en").count() == 0)
    assert(none.where(col("lang") === "de").count() == 20)
    val some = Sampling.md5StratifiedSample(df, "lang", "text", Map("en" -> 8))
    val kept = some.where(col("lang") === "en").count()
    assert(kept > 0 && kept < 20) // ~half of the 16 nibble buckets
    // deterministic: same content → same sample
    assert(some.collect().toSeq ==
      Sampling.md5StratifiedSample(df, "lang", "text", Map("en" -> 8)).collect().toSeq)
  }

  test("native hyperplane bucket is bit-identical to the HOF expression") {
    val df = frame(
      struct("v" -> ArrayType(FloatType)),
      Row(Seq(1.0f, 2.5f, -0.5f, 0.75f)),
      Row(Seq(-0.1f, 0.2f, -0.3f, 0.4f)),
      Row(Seq(0.0f, 0.0f, 0.0f, 0.0f)))
    val out = df.select(
      Similarity.hyperplaneBucket(col("v"), 6).as("native"),
      Similarity.hyperplaneBucketExpr(col("v"), 6).as("hof")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("hashed-set jaccard equals string-set jaccard on word shingles") {
    val df = docs(
      1L -> "one two three four five six seven",
      2L -> "one two three four five nine seven",
      3L -> "totally different text with other words here")
    val a = df.select(col("doc_id").as("id_a"),
      Dedup.shingles(col("text"), 3).as("sh_a"),
      graft.functions.native.hashedShingleSet(
        graft.ops.TextOps.wsTokens(col("text")), 3).as("hs_a"))
    val b = a.select(col("id_a").as("id_b"), col("sh_a").as("sh_b"),
      col("hs_a").as("hs_b"))
    val out = a.crossJoin(b).where(col("id_a") < col("id_b")).select(
      graft.functions.native.jaccard(col("sh_a"), col("sh_b")).as("strs"),
      graft.functions.native.jaccardSorted(col("hs_a"), col("hs_b")).as("hashed"))
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("hashed shingle set is sorted, distinct, and empty under k tokens") {
    val df = docs(1L -> "a b a b a b", 2L -> "a b")
    val out = df.orderBy(col("doc_id")).select(
      graft.functions.native.hashedShingleSet(
        graft.ops.TextOps.wsTokens(col("text")), 3).as("hs"))
      .collect().map(_.getSeq[Long](0))
    assert(out(0).length == 2) // "a b a" and "b a b" repeat → 2 distinct
    assert(out(0) == out(0).sorted)
    assert(out(1).isEmpty)
  }

  test("native cosine kernel agrees with the HOF expression bit-for-bit") {
    val df = frame(
      struct("a" -> ArrayType(FloatType), "b" -> ArrayType(FloatType)),
      Row(Seq(1.0f, 2.5f, -0.5f), Seq(0.25f, -1.0f, 3.0f)),
      Row(Seq(0.1f, 0.2f, 0.3f), Seq(0.1f, 0.2f, 0.3f)))
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineExpr(col("a"), col("b")).as("hof")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("native minhash band kernel: identical docs collide everywhere, disjoint nowhere") {
    val df = docs(
      1L -> "one two three four five six",
      2L -> "one two three four five six",
      3L -> "seven eight nine ten eleven twelve",
      4L -> "a b") // under k tokens → empty band array
    val out = df.select(col("doc_id"),
      graft.functions.native
        .minhashBandHashes(TextOps.wsTokens(col("text")), k = 3, numHashes = 64, bands = 32)
        .as("bh"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(out(0) == out(1))
    assert(out(0).length == 32)
    assert(out(0).zip(out(2)).forall { case (x, y) => x != y })
    assert(out(3).isEmpty)
  }

  test("md5Split: deterministic, complete, and proportional content-keyed splits") {
    val df = docs((1L to 400L).map(i => i -> s"document number $i content"): _*)
    val split = Sampling.md5Split(df, "text")
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 400L)            // complete: every row assigned
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // deterministic: identical assignment on re-computation
    val again = Sampling.md5Split(df, "text")
    assert(split.exceptAll(again).isEmpty)
  }

  test("stratifiedSample and weightedMix are content-keyed and stable") {
    val df = docs((1L to 300L).map(i =>
      i -> (if (i % 3 == 0) s"en doc $i" else s"de doc $i")): _*)
      .withColumn("lang", when(col("doc_id") % 3 === 0, "en").otherwise("de"))
    val sampled = Sampling.stratifiedSample(df, "lang", "text", Map("de" -> 0.25))
    val byLang = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == 100L)                  // stratum not in map → kept
    assert(byLang("de") > 20L && byLang("de") < 80L) // ~50 of 200
    assert(sampled.exceptAll(
      Sampling.stratifiedSample(df, "lang", "text", Map("de" -> 0.25))).isEmpty)

    val mixed = Sampling.weightedMix(
      Seq((df.where(col("lang") === "en"), "web", 1.0),
        (df.where(col("lang") === "de"), "books", 0.3)), "text")
    val bySrc = mixed.groupBy("mix_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("web") == 100L)
    assert(bySrc("books") > 30L && bySrc("books") < 90L)
  }

  /** A known 3x2 PNG built pixel-by-pixel — the byte-for-byte ground truth
    * for the real ImageIO decode path.
    */
  private def knownPng(): (Array[Byte], java.awt.image.BufferedImage) = {
    val img = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, (x * 40 << 16) | (y * 100 << 8) | (x + y))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    (baos.toByteArray, img)
  }

  test("multimodal: real ImageIO decode of a known PNG; dead-letter on junk") {
    val (png, _) = knownPng()
    val df = frame(struct("doc_id" -> LongType, "payload" -> BinaryType),
      Row(1L, png), Row(2L, "not an image".getBytes("UTF-8")))
    val rows = Multimodal.decodeMeta(spark, df, "doc_id", "payload")
      .orderBy("doc_id").collect()
    // MediaMeta columns: doc_id 0, n_bytes 1, width 2, height 3, format 4, error 5
    assert(rows(0) == Row(1L, png.length.toLong, 3, 2, "png", null))
    // junk payload: no dims, sniffed unknown, reason in the error column
    assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(2) &&
      rows(1).isNullAt(3) && rows(1).getString(4) == "unknown" &&
      !rows(1).isNullAt(5))
  }

  test("multimodal: luma-grid features derive from the decoded pixels") {
    val (png, img) = knownPng()
    // dim=1 → one global mean-luma cell, recomputed here independently
    val expected = {
      var s = 0.0
      for (y <- 0 until 2; x <- 0 until 3) {
        val rgb = img.getRGB(x, y)
        s += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
      }
      (s / (255.0 * 6)).toFloat
    }
    val df = frame(struct("doc_id" -> LongType, "payload" -> BinaryType), Row(1L, png))
    val emb = Multimodal.featureExtract(spark, df, "doc_id", "payload", dim = 1)
    assert(emb.schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = false))
    assert(emb.head().getSeq[Float](1) == Seq(expected))
  }

  test("multimodal: synthesized PNGs feed the ANN operators end-to-end") {
    val emb = Multimodal.featureExtract(
      spark,
      Multimodal.synthesizePng(
        spark, docs(1L -> "aaaa", 2L -> "aaaa", 3L -> "something else entirely"),
        "doc_id", "text", "payload"),
      "doc_id", "payload", dim = 16)
      .where(col("error").isNull).select("doc_id", "embedding")
    // identical texts → identical PNGs → identical embeddings → cosine 1.0
    val top = Similarity.bruteForceTopK(
      emb, emb.where(col("doc_id") === 1L), "embedding", "doc_id", k = 1)
      .head()
    assert(top.getLong(2) == 2L)
    assert(math.abs(top.getDouble(3) - 1.0) < 1e-9)
  }

  test("multimodal: real resize re-encodes at the target dimensions") {
    val df = Multimodal.synthesizePng(
      spark, docs(1L -> ("x" * 100)), "doc_id", "text", "payload")
    val resized = Multimodal.resize(spark, df, "doc_id", "payload", w = 4, h = 3)
    val row = resized.head()
    assert(row.isNullAt(2), "decodable payload must not dead-letter")
    val out = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](1)))
    assert(out.getWidth == 4 && out.getHeight == 3)
    // junk payload dead-letters instead of failing the task
    val bad = Multimodal.resize(
      spark, Multimodal.withBinaryPayload(docs(9L -> "junk"), "text", "payload"),
      "doc_id", "payload", w = 4, h = 3).head()
    assert(bad.isNullAt(1) && !bad.isNullAt(2))
  }

  test("multimodal: real MJPEG-AVI frame sampling — parse, decode, dead-letter") {
    // seed length 7 → 4 frames of 9×7 (synthAviBytes contract)
    val df = Multimodal.synthesizeAvi(
      spark, docs(1L -> ("x" * 7)), "doc_id", "text", "payload")
    val frames = Multimodal.frameSample(spark, df, "doc_id", "payload", everyN = 2)
      .orderBy("frame_idx").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 2), "every 2nd of 4 frames")
    assert(frames.forall(_.isNullAt(3)), "valid frames must not dead-letter")
    frames.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(img.getWidth == 9 && img.getHeight == 7,
        s"frame must be a real ${9}x${7} JPEG, got ${img.getWidth}x${img.getHeight}")
    }
    // sampled frames feed the image ops directly (MJPEG frame = JPEG)
    val meta = Multimodal.decodeMeta(spark,
      Multimodal.frameSample(spark, df, "doc_id", "payload", everyN = 1)
        .where(col("frame_idx") === 3)
        .select(col("doc_id"), col("frame").as("payload")),
      "doc_id", "payload").head()
    assert(meta.getInt(2) == 9 && meta.getInt(3) == 7
      && meta.getString(4) == "jpeg" && meta.isNullAt(5))
  }

  test("multimodal: non-AVI and truncated payloads dead-letter with reasons") {
    val junk = Multimodal.frameSample(spark,
      Multimodal.withBinaryPayload(docs(9L -> "not a video at all"), "text", "payload"),
      "doc_id", "payload", everyN = 1).head()
    assert(junk.isNullAt(1) && junk.isNullAt(2))
    assert(junk.getString(3).contains("not a RIFF"))
    // a mid-chunk truncation is detected, not crashed on
    val avi = Multimodal.synthAviBytes("seed text".getBytes("UTF-8"))
    val cut = java.util.Arrays.copyOfRange(avi, 0, avi.length - 7)
    val trunc = frame(struct("doc_id" -> LongType, "payload" -> BinaryType),
      Row(1L, cut))
    val row = Multimodal.frameSample(spark, trunc, "doc_id", "payload", everyN = 1).head()
    assert(row.isNullAt(2) && row.getString(3).contains("truncated"))
    // driver-side parser agrees with the synthesizer's frame-count contract
    val n = "seed text".length // 9 → 1 + 9%4 = 2 frames
    assert(Multimodal.aviVideoFrames(avi).toOption.get.length == 1 + n % 4)
    assert(Multimodal.aviVideoFrames("RIFFxxxxWAVE".getBytes("US-ASCII")).isLeft)
  }

  test("multimodal: string ids (URLs/UUIDs) carry through; bad id types rejected") {
    val strIds = frame(struct("doc_id" -> StringType, "text" -> StringType),
      Row("https://a.com/page", "some text"), Row("uuid-22", "other words"))
    // image chain: synthesize → decode keeps the string key end-to-end
    val png = Multimodal.synthesizePng(spark, strIds, "doc_id", "text", "payload")
    assert(png.schema("doc_id").dataType == StringType)
    val meta = Multimodal.decodeMeta(spark, png, "doc_id", "payload")
    assert(meta.schema("doc_id").dataType == StringType)
    val byId = meta.collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    // width contract: 1 + textLen%16 ("some text" = 9 → 10, "other words" = 11 → 12)
    assert(byId == Map("https://a.com/page" -> 10, "uuid-22" -> 12))
    // video chain: frameSample keeps string ids too
    val avi = Multimodal.synthesizeAvi(spark, strIds, "doc_id", "text", "payload")
    val frames = Multimodal.frameSample(spark, avi, "doc_id", "payload", everyN = 1)
    assert(frames.schema("doc_id").dataType == StringType)
    assert(frames.where(col("error").isNotNull).count() == 0)
    // integral ids still normalize to long (pre-string-support behavior)
    val longMeta = Multimodal.decodeMeta(spark,
      Multimodal.synthesizePng(spark,
        frame(struct("doc_id" -> IntegerType, "text" -> StringType), Row(7, "t")),
        "doc_id", "text", "payload"),
      "doc_id", "payload")
    assert(longMeta.schema("doc_id").dataType == LongType)
    // floats/dates/structs still fail loudly
    val badIds = frame(struct("doc_id" -> DoubleType, "text" -> StringType),
      Row(1.5, "some text"))
    val err = intercept[IllegalArgumentException] {
      Multimodal.synthesizePng(spark, badIds, "doc_id", "text", "payload")
    }
    assert(err.getMessage.contains("integral or string id"))
  }

  test("decontam: report counts distinct shared n-grams; short docs gram-free") {
    val train = docs(
      1L -> "the quick brown fox jumps over dog",
      2L -> "completely different words here now surely",
      3L -> "too short text")
    val eval_ = docs(10L -> "quick brown fox jumps over")
    val report = Decontam.contaminationReport(train, eval_, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(report.toSeq == Seq((1L, 1L)))
    val clean = Decontam.decontaminate(train, eval_, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
    // a doc with fewer than n tokens yields no grams at all
    val short = docs(3L -> "too short text")
      .select(Decontam.wordNgrams(col("text"), 5).as("g")).head()
    assert(short.getSeq[String](0).isEmpty)
  }

  test("pii: counts and ordered typed-placeholder redaction") {
    val df = docs(1L -> "mail a.b@x.io and b@c.org, call 555-123-4567 or ping 10.0.0.1 end")
    val row = df.select(
      TextOps.piiColumns(col("text")).map { case (n, c) => c.as(n) } :+
        TextOps.redactPii(col("text")).as("red"): _*).head()
    assert(row.getLong(0) == 2L) // emails
    assert(row.getLong(1) == 1L) // phones
    assert(row.getLong(2) == 1L) // ipv4
    assert(row.getString(3) ==
      "mail [EMAIL] and [EMAIL], call [PHONE] or ping [IP] end")
  }

  test("chunkByTokens: fixed-stride windows with a short tail chunk") {
    val df = docs(1L -> (1 to 10).map(i => s"t$i").mkString(" "), 2L -> "a b")
    val out = Packing.chunkByTokens(df, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (1L, 3L, "t10", 1L),
      (2L, 0L, "a b", 2L)))
  }

  test("concatChunkPlan: running-total bins, straddles flagged by bin span") {
    val df = docs(1L -> "a b c", 2L -> "d e", 3L -> "f g h i")
    val out = Packing.concatChunkPlan(df, "doc_id", "text", capacity = 4, nGroups = 1)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    // cum after docs 1,2,3 = 3,5,9: doc2 straddles bins 0→1 at offset 3
    assert(out.toSeq == Seq((1L, 0L, 0L, 0L), (2L, 0L, 1L, 3L), (3L, 1L, 2L, 1L)))
  }

  test("removeFrequentLines drops corpus-frequent lines, keeps blanks and bodies") {
    val df = docs(
      1L -> "SUBSCRIBE NOW\nunique body one\n\nmore one",
      2L -> "SUBSCRIBE NOW\nunique body two",
      3L -> "SUBSCRIBE NOW\nunique body three")
    val cleaned = TextOps.removeFrequentLines(df, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect().map(_.getAs[String]("cleaned"))
    assert(cleaned.toSeq == Seq(
      "unique body one\n\nmore one", "unique body two", "unique body three"))
    // below threshold → nothing removed, text round-trips
    val untouched = TextOps.removeFrequentLines(df, "doc_id", "text", minDocs = 4)
      .orderBy("doc_id").collect()
    assert(untouched.forall(r => r.getAs[String]("cleaned") == r.getAs[String]("text")))
  }

  test("normalizeText strips controls, collapses whitespace, trims") {
    val df = docs(1L -> "  a\u0000b\tc\u000b d\r\ne  ")
    val out = df.select(TextOps.normalizeText(col("text"))).head().getString(0)
    // NUL and VT strip (word-merging is fine for NON-whitespace controls);
    // tab/CR/NL are whitespace and collapse to single spaces
    assert(out == "ab c d e")
  }

  test("domainStats: per-domain doc and url counts from exploded URLs") {
    val df = docs(
      1L -> "see https://a.com/x and https://a.com/y plus http://b.org/z",
      2L -> "only https://a.com/q here")
    assert(df.select(TextOps.urlCount(col("text"))).collect().map(_.getLong(0)).toSeq
      == Seq(3L, 1L))
    val stats = TextOps.domainStats(df, "doc_id", "text")
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stats.toSeq == Seq(("a.com", 2L, 3L), ("b.org", 1L, 1L)))
  }

  test("rangeSearch returns exactly the neighbors at or above the floor") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(0L, Seq(1.0f, 0.0f)),
      Row(1L, Seq(0.9f, 0.1f)), // cos ≈ 0.994
      Row(2L, Seq(0.0f, 1.0f)), // cos 0
      Row(3L, Seq(-1.0f, 0.0f))) // cos -1
    val out = Similarity.rangeSearch(
      vecs, vecs.where(col("vec_id") === 0), "embedding", "vec_id", minCosine = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L)))
    // floor at -1 returns everything except self
    val all = Similarity.rangeSearch(
      vecs, vecs.where(col("vec_id") === 0), "embedding", "vec_id", minCosine = -1.0)
      .collect().map(_.getLong(1)).toSet
    assert(all == Set(1L, 2L, 3L))
  }

  test("a zero-norm neighbor ranks first in every top-k form and matches no range or band form") {
    // vector 0 has zero magnitude: its cosine to anything is NaN, and NaN
    // sorts above every number — top-k forms rank it first, floor and band
    // forms must drop it
    val st = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    val corpus = frame(st,
      Row(0L, Seq(0.0f, 0.0f, 0.0f)),
      Row(1L, Seq(1.0f, 0.1f, 0.0f)), Row(2L, Seq(0.9f, 0.2f, 0.1f)),
      Row(3L, Seq(-0.8f, 0.5f, 0.2f)), Row(4L, Seq(0.1f, -1.0f, 0.3f)),
      Row(5L, Seq(0.2f, 0.3f, -0.9f)), Row(6L, Seq(-0.5f, -0.5f, 0.6f)))
    val queries = frame(st,
      Row(100L, Seq(1.0f, 0.0f, 0.0f)), Row(101L, Seq(-0.3f, 0.8f, 0.4f)),
      Row(102L, Seq(0.4f, -0.6f, -0.5f)))
    val (nlist, zero) = (4, 0L)
    // (query, rank, neighbor, cosine) rows of a top-k frame
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    def firstIsZero(name: String, rows: Seq[(Long, Int, Long, Double)], qs: Set[Long]) = {
      val first = rows.filter(_._2 == 1).map(r => r._1 -> r).toMap
      assert(first.keySet == qs, s"$name: rank-1 rows for ${first.keySet}, want $qs")
      qs.foreach { q =>
        assert(first(q)._3 == zero && first(q)._4.isNaN,
          s"$name: query $q rank 1 is ${first(q)}, want the zero vector with NaN")
      }
    }
    val qIds = Set(100L, 101L, 102L)
    firstIsZero("bruteForceTopK",
      ranked(Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 2)), qIds)
    val idx = Similarity.ivfBuild(corpus, "embedding", "vec_id", nlist = nlist)
    firstIsZero("ivfProbe", ranked(Similarity.ivfProbe(
      idx, queries, "embedding", "vec_id", k = 2, nprobe = nlist)), qIds)
    // self-join: every vector but the zero one itself finds it first
    firstIsZero("ivfKnnJoinPlan", ranked(Similarity.ivfKnnJoinPlan(
      idx, corpus, "embedding", "vec_id", k = 2, nprobe = nlist)).filter(_._1 != zero),
      (1L to 6L).toSet)
    // one plane, one band: the zero vector's bucket is 0, so exactly the
    // queries in bucket 0 collide with it
    val planes = 1
    val bucket0 = queries
      .where(Similarity.hyperplaneBucket(col("embedding"), planes) === 0)
      .collect().map(_.getLong(0)).toSet
    assert(bucket0.nonEmpty, "fixture must put a query in the zero vector's bucket")
    firstIsZero("lshTopK", ranked(Similarity.lshTopK(corpus, queries, "embedding", "vec_id",
      k = 2, planes = planes, bands = 1)).filter(r => bucket0(r._1)), bucket0)
    val dir = java.nio.file.Files.createTempDirectory("graft_nanidx").toString + "/idx"
    Similarity.writeAnnIndex(corpus, "embedding", "vec_id", dir, nlist = nlist)
    firstIsZero("annTopKAgainstIndex", ranked(Similarity.annTopKAgainstIndex(
      queries, "embedding", "vec_id", dir, k = 2, nprobe = nlist)), qIds)

    // floor and band forms: the widest floor and band still never return it
    def neighbors(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().flatMap(r => cols.indices.map(r.getLong)).toSet
    val noZero = Seq(
      "rangeSearch" -> neighbors(Similarity.rangeSearch(
        corpus, queries, "embedding", "vec_id", minCosine = -1.0), "query_id", "neighbor_id"),
      "ivfSimilarityJoinPlan" -> neighbors(Similarity.ivfSimilarityJoinPlan(
        idx, corpus, "embedding", "vec_id", minCosine = -1.0, nprobe = nlist), "id_a", "id_b"),
      "annRangeAgainstIndex" -> neighbors(Similarity.annRangeAgainstIndex(
        queries, "embedding", "vec_id", dir, floor = -1.0, nprobe = nlist),
        "query_id", "neighbor_id"),
      "hardNegatives" -> neighbors(Similarity.hardNegatives(
        corpus, queries, "embedding", "vec_id", k = 10, maxCosine = 1.0, minCosine = -1.0),
        "query_id", "neighbor_id"),
      "hardNegativesAgainstIndex" -> neighbors(Similarity.hardNegativesAgainstIndex(
        queries, "embedding", "vec_id", dir, k = 10, maxCosine = 1.0, minCosine = -1.0,
        nprobe = nlist), "query_id", "neighbor_id"))
    noZero.foreach { case (name, ids) =>
      assert(ids.nonEmpty, s"$name: the fixture must yield some neighbors")
      assert(!ids.contains(zero), s"$name returned the zero-norm vector")
    }
  }

  test("takePerStratum: exactly n per stratum, deterministic, small strata whole") {
    val df = docs((1L to 30L).map(i => i -> s"doc number $i body"): _*)
      .withColumn("grp", (col("doc_id") % 3 === 0).cast("string"))
    val taken = Sampling.takePerStratum(df, "grp", "text", n = 4)
    val byGrp = taken.collect().groupBy(_.getAs[String]("grp"))
    assert(byGrp.values.forall(_.length == 4))
    // rerun identical (content-keyed, no seed)
    val again = Sampling.takePerStratum(df, "grp", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == taken.select("doc_id").collect().map(_.getLong(0)).toSet)
    // a stratum smaller than n comes back whole
    val tiny = Sampling.takePerStratum(df.where(col("doc_id") <= 2), "grp", "text", n = 10)
    assert(tiny.count() == 2)
  }

  test("semanticDedup: transitive clusters, min-id representative, audit columns") {
    val st = struct("vec_id" -> LongType,
      "v" -> ArrayType(FloatType, containsNull = false))
    // chain 1~2~3 (1 and 3 NOT directly similar — transitivity must close
    // it), pair 4~5, singleton 6
    def vec(x: Double, y: Double, z: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat)
    val df = frame(st,
      Row(1L, vec(1.0, 0.0, 0.0)),
      Row(2L, vec(0.9, 0.436, 0.0)),  // cos(1,2)=0.9, cos(2,3)~0.88, cos(1,3)~0.59
      Row(3L, vec(0.59, 0.807, 0.0)),
      Row(4L, vec(0.0, 0.0, 1.0)),
      Row(5L, vec(0.0, 0.14, 0.99)),
      Row(6L, vec(-1.0, 0.0, 0.0)))
    val out = Similarity.semanticDedup(df, "v", "vec_id", minCosine = 0.8,
      nlist = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (4L, 4L, 2L, true), (5L, 4L, 2L, false), (6L, 6L, 1L, true)))
    // the full-probe pair set is the exact threshold join
    val pairs = Similarity.ivfSimilarityJoin(df, "v", "vec_id", 0.8, 2, 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (4L, 5L)))
  }

  test("semanticDedupKeepBest: highest score survives per cluster, rep label stable, null scores last") {
    val st = struct("vec_id" -> LongType,
      "v" -> ArrayType(FloatType, containsNull = false),
      "score" -> LongType)
    def vec(x: Double, y: Double, z: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat)
    val rows = Seq(
      Row(1L, vec(1.0, 0.0, 0.0), 10L),
      Row(2L, vec(0.9, 0.436, 0.0), 50L),   // chain winner by score
      Row(3L, vec(0.59, 0.807, 0.0), 10L),
      Row(4L, vec(0.0, 0.0, 1.0), null),    // null score loses to any number
      Row(5L, vec(0.0, 0.14, 0.99), 1L),
      Row(6L, vec(-1.0, 0.0, 0.0), 7L))     // singleton keeps itself
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false)),
        StructField("score", LongType, nullable = true))))
    val out = Similarity.semanticDedupKeepBest(
      df, "v", "vec_id", "score", minCosine = 0.8, nlist = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, false), (2L, 1L, 3L, true), (3L, 1L, 3L, false),
      (4L, 4L, 2L, false), (5L, 4L, 2L, true), (6L, 6L, 1L, true)))
    // flat scores degrade to semanticDedup's min-id election
    val flat = Similarity.semanticDedupKeepBest(
      df.withColumn("score", lit(1L)), "v", "vec_id", "score",
      minCosine = 0.8, nlist = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).sortBy(_._1)
    assert(flat.toSeq == Seq((1L, true), (2L, false), (3L, false),
      (4L, true), (5L, false), (6L, true)))
  }

  test("semanticDedupAgainstIndex: probe equals the cross-restricted union closure; standing wins; replay anchors itself") {
    // planar unit vectors — pair cosines are cos(angle difference), so the
    // fixture controls which pairs clear the 0.9 threshold (≈ 0.45 rad)
    def vec(angle: Double): Seq[Float] =
      Seq(math.cos(angle).toFloat, math.sin(angle).toFloat, 0f)
    val standing = Seq(10L -> 0.0, 11L -> 1.5, 12L -> 3.0)
    val batch = Seq(
      100L -> 0.05, // dup of s10
      101L -> 0.10, // dup of s10 and of b100
      103L -> 2.00, 104L -> 2.10, // batch-only pair, far from standing
      105L -> 4.50, // singleton
      106L -> -0.30, 107L -> 0.30) // each near s10, NOT near each other
    val st = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    val sDf = frame(st, standing.map { case (i, a) => Row(i, vec(a)) }: _*)
    val bDf = frame(st, batch.map { case (i, a) => Row(i, vec(a)) }: _*)
    val dir = java.nio.file.Files.createTempDirectory("graft_semidx").toString + "/idx"
    Similarity.writeAnnIndex(sDf, "embedding", "vec_id", dir, nlist = 4)

    // driver-side reference: same kernel arithmetic (sequential double
    // accumulation), cross pairs + optional in-batch pairs, union-find,
    // standing-anchor override
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val sv = standing.map { case (i, a) => i -> vec(a) }.toMap
    val bv = batch.map { case (i, a) => i -> vec(a) }.toMap
    def reference(withinBatch: Boolean): Map[Long, (Long, Boolean)] = {
      val tau = 0.9
      val crossP = for { (b, x) <- bv.toSeq; (s, y) <- sv.toSeq
        if cos(x, y) >= tau } yield (b, s)
      val inP = if (!withinBatch) Seq.empty else
        for { (a, x) <- bv.toSeq; (b, y) <- bv.toSeq
          if a < b && cos(x, y) >= tau } yield (a, b)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r } }
      def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb }
      (crossP ++ inP).foreach { case (a, b) => union(a, b) }
      val anchors = crossP.map(_._2).toSet
      val comps = (bv.keySet ++ anchors).groupBy(find)
      bv.keySet.map { id =>
        val comp = comps(find(id))
        val compAnchors = comp & anchors
        if (compAnchors.nonEmpty) id -> (compAnchors.min, false)
        else id -> (comp.min, id == comp.min)
      }.toMap
    }
    def got(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Boolean)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // nprobe = nlist ⇒ exact pair sets ⇒ the probe must reproduce the
    // reference verbatim, both with and without in-batch pairing
    assert(got(Similarity.semanticDedupAgainstIndex(
      bDf, "embedding", "vec_id", dir, minCosine = 0.9, nprobe = 4)) ==
      reference(withinBatch = true))
    assert(got(Similarity.semanticDedupAgainstIndex(
      bDf, "embedding", "vec_id", dir, minCosine = 0.9, nprobe = 4,
      withinBatch = false)) == reference(withinBatch = false))
    // spot-check the semantics the fixture was built for
    val full = reference(withinBatch = true)
    assert(full(100L) == (10L, false) && full(101L) == (10L, false))
    assert(full(106L) == (10L, false) && full(107L) == (10L, false)) // via s10
    assert(full(103L) == (103L, true) && full(104L) == (103L, false))
    assert(full(105L) == (105L, true))
    // replay guard: a batch containing an already-indexed id yields no
    // survivor for it — it anchors (at least) at itself
    val replay = got(Similarity.semanticDedupAgainstIndex(
      sDf.where(col("vec_id") === 11L), "embedding", "vec_id", dir,
      minCosine = 0.9, nprobe = 4))
    assert(replay == Map(11L -> (11L, false)))
    // clean-batch fast path: a batch far from the corpus AND itself has
    // zero edges — every row comes back its own kept singleton
    val clean = got(Similarity.semanticDedupAgainstIndex(
      frame(st, Row(300L, vec(2.2)), Row(301L, vec(5.3))),
      "embedding", "vec_id", dir, minCosine = 0.99, nprobe = 4))
    assert(clean == Map(300L -> (300L, true), 301L -> (301L, true)))
  }

  test("semanticDedupKeepBestAgainstIndex: score elects in batch-only clusters; standing still wins") {
    def vec(angle: Double): Seq[Float] =
      Seq(math.cos(angle).toFloat, math.sin(angle).toFloat, 0f)
    val st = struct(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "score" -> DoubleType)
    val sDf = frame(st, Row(10L, vec(0.0), 0.0), Row(11L, vec(1.5), 0.0))
    // batch: {100} dup of s10 with a huge score (must STILL lose to the
    // standing rep); {103, 104} batch-only cluster where 104 outscores
    // 103; {105} singleton with null score (still kept — sole member)
    val bDf = frame(st,
      Row(100L, vec(0.05), 99.0),
      Row(103L, vec(3.00), 1.0), Row(104L, vec(3.10), 9.0),
      Row(105L, vec(4.50), null))
    val dir = java.nio.file.Files.createTempDirectory("graft_semkb").toString + "/idx"
    Similarity.writeAnnIndex(sDf, "embedding", "vec_id", dir, nlist = 4)
    def got(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val kb = got(Similarity.semanticDedupKeepBestAgainstIndex(
      bDf, "embedding", "vec_id", "score", dir, minCosine = 0.9, nprobe = 4))
    assert(kb == Map(
      100L -> (10L, false),  // anchored: no score can demote the standing rep
      103L -> (103L, false), // rep stays the min-id label...
      104L -> (103L, true),  // ...but the score winner is kept
      105L -> (105L, true))) // null-score singleton keeps (sole member)
    // flat scores degrade to the min-id election of the keep-min form
    val flat = got(Similarity.semanticDedupKeepBestAgainstIndex(
      bDf.withColumn("score", lit(1.0)), "embedding", "vec_id", "score",
      dir, minCosine = 0.9, nprobe = 4))
    assert(flat == got(Similarity.semanticDedupAgainstIndex(
      bDf, "embedding", "vec_id", dir, minCosine = 0.9, nprobe = 4)))
  }

  test("temperatureMixTokens: token-share quotas, flattening, saturation keeps whole source") {
    // source a: 4 docs × 100 tokens = 400; source b: 2 docs × 50 = 100
    val st = struct("doc_id" -> LongType, "src" -> StringType, "n_tok" -> LongType)
    val df = frame(st,
      Row(1L, "a", 100L), Row(2L, "a", 100L), Row(3L, "a", 100L), Row(4L, "a", 100L),
      Row(5L, "b", 50L), Row(6L, "b", 50L))
    def kept(alpha: Double, target: Long): Map[String, Int] =
      Sampling.temperatureMixTokens(df, "src", "doc_id", "n_tok", alpha, target)
        .collect().groupBy(_.getAs[String]("src")).view.mapValues(_.length).toMap
    // full budget at alpha=1: quotas saturate at each source's token total
    assert(kept(1.0, 500L) == Map("a" -> 4, "b" -> 2))
    // alpha=1, target 250: quotas a=200, b=50 → prefix rule keeps
    // cum-before < quota: a keeps 2 docs (0, 100 < 200), b keeps 1 (0 < 50)
    assert(kept(1.0, 250L) == Map("a" -> 2, "b" -> 1))
    // alpha=0.5: weights 20/10, quotas round(250·2/3)=167, round(250/3)=83
    // → a still 2 docs, b now BOTH (0 and 50 < 83) — the tail upsampled
    assert(kept(0.5, 250L) == Map("a" -> 2, "b" -> 2))
  }

  test("takeTopFraction: exactly the per-stratum (score desc, md5 content) prefix, ties and nulls included") {
    import org.apache.spark.sql.expressions.Window
    // 3 strata × 40 rows with HEAVY score ties ((id·37) mod 11) plus a
    // null-score row per stratum; nBuckets = 4 forces all three bucket
    // classes (keep-all, boundary, drop) through the machinery
    val st = struct("id" -> LongType, "src" -> StringType, "score" -> LongType)
    val rows = (1L to 120L).map { i =>
      Row(i, s"s${i % 3}", if (i % 40 == 0) null else (i * 37) % 11)
    }
    val df = frame(st, rows: _*)
    for (fraction <- Seq(0.25, 0.5, 1.0)) {
      val got = Sampling.takeTopFraction(
        df, "src", "id", "score", fraction, nBuckets = 4)
        .select("id").collect().map(_.getLong(0)).toSet
      val w = Window.partitionBy(col("src"))
        .orderBy(col("score").desc_nulls_last,
          md5(col("id").cast("string").cast("binary")).asc, col("id").asc)
      val budgets = df.groupBy("src").count().collect()
        .map(r => r.getString(0) -> math.round(fraction * r.getLong(1))).toMap
      val expected = df.withColumn("__rn", row_number().over(w))
        .collect()
        .filter(r => r.getInt(r.fieldIndex("__rn")) <= budgets(r.getString(1)))
        .map(_.getLong(0)).toSet
      assert(got == expected, s"fraction $fraction")
    }
    // rerun-stable despite the approximate bucket boundaries
    val a = Sampling.takeTopFraction(df, "src", "id", "score", 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.takeTopFraction(df, "src", "id", "score", 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // the token-budget twin: same order, budget consumes TOKEN weights
    // (here tokens = id % 7, nulls-as-0 included), crossing row kept
    val dft = df.withColumn("n_tok",
      when(col("id") % 9 === 0, lit(null)).otherwise(col("id") % 7))
    val gotT = Sampling.takeTopTokenBudget(
      dft, "src", "id", "score", "n_tok", budget = 40L, nBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    val wT = Window.partitionBy(col("src"))
      .orderBy(col("score").desc_nulls_last,
          md5(col("id").cast("string").cast("binary")).asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expT = dft
      .withColumn("__cum", sum(coalesce(col("n_tok"), lit(0L))).over(wT))
      .where(col("__cum") - coalesce(col("n_tok"), lit(0L)) < 40L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotT == expT && gotT.nonEmpty && gotT.size < 120)
    // zero-weight rows at an EXACT budget boundary: the top row consumes
    // the whole budget, so the zero-token row behind it has
    // cum-before = budget and must be dropped (strict keep-all class —
    // a <= class test would wrongly admit its bucket join-free)
    val stB = struct("id" -> LongType, "src" -> StringType,
      "score" -> LongType, "n_tok" -> LongType)
    val dfb = frame(stB,
      Row(1L, "s", 5L, 10L), Row(2L, "s", 3L, null), Row(3L, "s", 1L, 4L))
    val gotB = Sampling.takeTopTokenBudget(
      dfb, "src", "id", "score", "n_tok", budget = 10L, nBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotB == Set(1L),
      s"only the budget-consuming top row may survive, got $gotB")
  }

  test("epochShuffle: exact permutation, reproducible per epoch, uncorrelated across epochs") {
    val df = docs((1L to 200L).map(i => i -> s"doc $i"): _*)
    def shuffle(epoch: Long) = Sampling.epochShuffle(df, "doc_id", epoch)
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val a = shuffle(7L)
    // positions are exactly 0..n-1 (a permutation, no gaps or ties)
    assert(a.map(_._2).sorted.toSeq == (0L until 200L))
    // identical to the naive single-window ranking
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("pos",
      row_number().over(Window.orderBy(
        md5(concat(lit("7"), lit("#"), col("doc_id").cast("string"))
          .cast("binary")).asc, col("doc_id").asc)).cast("long") - 1L)
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.toSet == naive)
    // same epoch reproduces; a different epoch is a different permutation
    assert(shuffle(7L).toSet == a.toSet)
    assert(shuffle(8L).toSet != a.toSet)
    // null keys are rejected loudly
    val withNull = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "x"), Row(null, "y"))
    val e = intercept[IllegalArgumentException] {
      Sampling.epochShuffle(withNull, "doc_id", 1L)
    }
    assert(e.getMessage.contains("null"))
    // duplicate keys are rejected loudly too (round 12): their positions
    // would be partition-order-dependent, breaking the same-positions-
    // everywhere contract — the in-window tripwire must fire on execute
    val withDup = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "x"), Row(2L, "y"), Row(1L, "z"))
    val de = intercept[Exception] {
      Sampling.epochShuffle(withDup, "doc_id", 1L).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + messages(t.getCause)
    assert(messages(de).contains("duplicate"))
  }

  test("multiEpochOrder: nEpochs stacked permutations, per-epoch ≡ epochShuffle") {
    val df = docs((1L to 50L).map(i => i -> s"doc $i"): _*)
    val out = Sampling.multiEpochOrder(df, "doc_id", nEpochs = 3, startEpoch = 5L)
      .select("doc_id", "epoch", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 150)
    // positions are exactly 0..3N-1, epochs occupy contiguous blocks
    assert(out.map(_._3).sorted.toSeq == (0L until 150L))
    (0 until 3).foreach { i =>
      val arm = out.filter(_._2 == 5L + i)
      assert(arm.length == 50)
      assert(arm.map(_._3).forall(p => p >= i * 50L && p < (i + 1) * 50L))
      // the arm's LOCAL order is exactly epochShuffle at that epoch
      val local = arm.map(t => t._1 -> (t._3 - i * 50L)).toMap
      val expect = Sampling.epochShuffle(df, "doc_id", 5L + i)
        .select("doc_id", "pos").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == expect)
    }
    // different epochs are different permutations
    val a5 = out.filter(_._2 == 5L).sortBy(_._3).map(_._1).toSeq
    val a6 = out.filter(_._2 == 6L).sortBy(_._3).map(_._1).toSeq
    assert(a5 != a6)
  }

  test("curriculumShuffle: stage-major exact permutation, shuffled within stages") {
    val st = struct("doc_id" -> LongType, "stage" -> IntegerType)
    val df = frame(st, (1L to 120L).map(i => Row(i, (i % 3).toInt)): _*)
    val got = Sampling.curriculumShuffle(df, "doc_id", "stage", epoch = 5L)
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // positions are exactly 0..n-1, and equal the naive stage-major rank
    assert(got.map(_._2).sorted.toSeq == (0L until 120L))
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("pos",
      row_number().over(Window.orderBy(
        col("stage").cast("long").asc,
        md5(concat(lit("5"), lit("#"), col("doc_id").cast("string"))
          .cast("binary")).asc, col("doc_id").asc)).cast("long") - 1L)
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == naive)
    // every stage-0 position precedes every stage-1 position, etc.
    val byStage = got.toMap
    val maxByStage = (0 to 2).map(s =>
      (1L to 120L).filter(_ % 3 == s).map(byStage).max)
    val minByStage = (0 to 2).map(s =>
      (1L to 120L).filter(_ % 3 == s).map(byStage).min)
    assert(maxByStage(0) < minByStage(1) && maxByStage(1) < minByStage(2))
    // null stage, null key, non-integral stage, within-stage dup: loud
    val withNullStage = frame(st, Row(1L, 0), Row(2L, null))
    val e1 = intercept[IllegalArgumentException] {
      Sampling.curriculumShuffle(withNullStage, "doc_id", "stage", 1L)
    }
    assert(e1.getMessage.contains("null"))
    val stStr = struct("doc_id" -> LongType, "stage" -> StringType)
    val e2 = intercept[IllegalArgumentException] {
      Sampling.curriculumShuffle(
        frame(stStr, Row(1L, "a")), "doc_id", "stage", 1L)
    }
    assert(e2.getMessage.contains("integral"))
    val withDup = frame(st, Row(1L, 0), Row(1L, 0), Row(2L, 1))
    val de = intercept[Exception] {
      Sampling.curriculumShuffle(withDup, "doc_id", "stage", 1L).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + messages(t.getCause)
    assert(messages(de).contains("duplicate"))
    // the SAME key in two different stages is two items, both positioned
    val crossStage = frame(st, Row(1L, 0), Row(1L, 1), Row(2L, 0))
    val cs = Sampling.curriculumShuffle(crossStage, "doc_id", "stage", 1L)
      .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    assert(cs == Seq(0L, 1L, 2L))
  }

  test("waterfillQuotas: exact fixpoint — saturation, redistribution, exclusion") {
    def k(s: String): Option[Any] = Some(s)
    // hand-computed: B=100, weights a:5 b:3 c:2, avail a:10 b:100 c:100.
    // round 1: a's share 50 > 10 → saturates. rem=90, wu=5:
    // b: floor(3*90/5)=54, c: floor(2*90/5)=36. total 10+54+36=100.
    val q1 = Sampling.waterfillQuotas(
      Seq(k("a") -> 10L, k("b") -> 100L, k("c") -> 100L),
      Map(k("a") -> 5L, k("b") -> 3L, k("c") -> 2L), 100L)
    assert(q1 == Map(k("a") -> 10L, k("b") -> 54L, k("c") -> 36L))
    // cascading saturation: B=100, uniform weights, avail 5/20/200:
    // round 1: shares 33 — a saturates (5). round 2: rem=95, shares 47 —
    // b saturates (20). round 3: rem=75 all to c: 75 < 200.
    val q2 = Sampling.waterfillQuotas(
      Seq(k("a") -> 5L, k("b") -> 20L, k("c") -> 200L),
      Map(k("a") -> 1L, k("b") -> 1L, k("c") -> 1L), 100L)
    assert(q2 == Map(k("a") -> 5L, k("b") -> 20L, k("c") -> 75L))
    // budget exceeds total availability: everyone saturates
    val q3 = Sampling.waterfillQuotas(
      Seq(k("a") -> 5L, k("b") -> 7L),
      Map(k("a") -> 1L, k("b") -> 9L), 1000L)
    assert(q3 == Map(k("a") -> 5L, k("b") -> 7L))
    // zero weight excludes; zero avail saturates at 0; all-zero weights → 0
    val q4 = Sampling.waterfillQuotas(
      Seq(k("a") -> 50L, k("b") -> 50L, k("c") -> 0L),
      Map(k("a") -> 0L, k("b") -> 1L, k("c") -> 1L), 60L)
    assert(q4 == Map(k("a") -> 0L, k("b") -> 50L, k("c") -> 0L))
    val q5 = Sampling.waterfillQuotas(
      Seq(k("a") -> 50L), Map(k("a") -> 0L), 60L)
    assert(q5 == Map(k("a") -> 0L))
  }

  test("takeWaterfillMix: kept rows are each source's md5-order quota prefix") {
    val st = struct("id" -> LongType, "src" -> StringType)
    val df = frame(st,
      ((1L to 10L).map(i => Row(i, "a")) ++
       (11L to 40L).map(i => Row(i, "b")) ++
       (41L to 45L).map(i => Row(i, null))): _*)
    // B=20, weights a:3 b:1 → a's share 15 > 10 → saturates; b gets 10.
    val got = Sampling.takeWaterfillMix(
      df, "src", "id", Map("a" -> 3L, "b" -> 1L), budget = 20L)
      .select("id", "src").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "a") == 10)
    assert(got.count(_._2 == "b") == 10)
    assert(!got.exists(_._2 == null), "null sources are excluded")
    // b's kept ids = the md5-order prefix of its 30 rows
    import org.apache.spark.sql.expressions.Window
    val expectB = df.where(col("src") === "b")
      .withColumn("rn", row_number().over(Window.partitionBy(col("src"))
        .orderBy(md5(col("id").cast("string").cast("binary")).asc, col("id").asc)))
      .where(col("rn") <= 10).select("id").collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2 == "b").map(_._1).toSet == expectB)
    // a stratum with no weight entry is a loud contract error
    val e = intercept[IllegalArgumentException] {
      Sampling.takeWaterfillMix(df, "src", "id", Map("a" -> 1L), 5L)
    }
    assert(e.getMessage.contains("no weight"))
  }

  test("takeWaterfillTokens: token-space allocation, crossing row kept") {
    val st = struct("id" -> LongType, "src" -> StringType, "n" -> LongType)
    val df = frame(st,
      ((1L to 4L).map(i => Row(i, "a", 5L)) ++          // a: 20 tokens
       (11L to 30L).map(i => Row(i, "b", 10L))): _*)    // b: 200 tokens
    // B=100 uniform: a's share 50 > 20 → saturates (20); b quota 80 →
    // md5-prefix until cum-n < 80, crossing row kept
    val got = Sampling.takeWaterfillTokens(
      df, "src", "id", "n", Map("a" -> 1L, "b" -> 1L), budget = 100L)
      .select("id", "src").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "a") == 4, "saturated source keeps all rows")
    assert(got.count(_._2 == "b") == 8, "80-token quota = 8 ten-token rows")
  }

  test("doremiWeights: exact one-step recursion, clamp, and absent ≡ zero excess") {
    val st = struct("step" -> LongType, "domain" -> StringType,
      "proxy" -> LongType, "ref" -> LongType)
    // hand-computed single step, S = 10^12, K = 2, η = 10^6, c = 10^9:
    // λ_a = mean(1e6, 1e6) = 1e6; λ_b clamps to 0 (proxy < ref).
    //   u_a = 5e11·2 = 1e12, u_b = 5e11, Z = 1.5e12
    //   n_a = ⌊1e24/1.5e12⌋ = 666666666666, n_b = 333333333333
    //   w_a = ⌊999e9·n_a/1e12⌋ + 5e8 = 665999999999 + 500000000
    val one = frame(st,
      Row(0L, "a", 2500000L, 1500000L), Row(0L, "a", 3500000L, 2500000L),
      Row(0L, "b", 100L, 200L))
    assert(Sampling.doremiWeights(one, "step", "domain", "proxy", "ref") ==
      Seq("a" -> 666499999999L, "b" -> 333499999999L))
    // a (step, domain) pair ABSENT from the loss log is the same as one
    // present with no positive excess — λ = 0 either way
    val absent = frame(st,
      Row(0L, "a", 2000000L, 1000000L), Row(0L, "b", 3000000L, 1000000L),
      Row(1L, "b", 3000000L, 1000000L))
    val zeroed = frame(st,
      Row(0L, "a", 2000000L, 1000000L), Row(0L, "b", 3000000L, 1000000L),
      Row(1L, "b", 3000000L, 1000000L), Row(1L, "a", 5L, 9L))
    val wAbsent = Sampling.doremiWeights(absent, "step", "domain", "proxy", "ref")
    assert(wAbsent ==
      Sampling.doremiWeights(zeroed, "step", "domain", "proxy", "ref"))
    // b's excess dominates at both steps → ends above a; total stays ≤ S
    val m = wAbsent.toMap
    assert(m("b") > m("a"))
    assert(wAbsent.map(_._2).sum <= Sampling.DoremiScale)
    // η = 0 freezes the recursion at smoothed-uniform regardless of loss
    val flat = Sampling.doremiWeights(one, "step", "domain", "proxy", "ref",
      etaMicro = 0L)
    assert(flat.map(_._2).distinct.length == 1)
    // null domains are not a stratum; all-null fails loudly
    val withNull = frame(st, Row(0L, "a", 2L, 1L), Row(0L, null, 9L, 1L))
    assert(Sampling.doremiWeights(withNull, "step", "domain", "proxy", "ref")
      .map(_._1) == Seq("a"))
    val e = intercept[IllegalArgumentException] {
      Sampling.doremiWeights(frame(st, Row(0L, null, 2L, 1L)),
        "step", "domain", "proxy", "ref")
    }
    assert(e.getMessage.contains("no non-null domains"))
    // numeric steps iterate in NUMERIC order: steps 2 and 10 — the
    // string order would run 10 first and land on different weights
    // than the same λs relabeled to dense 0/1
    val sparse = frame(st,
      Row(2L, "a", 2000000L, 1000000L), Row(2L, "b", 1L, 1L),
      Row(10L, "b", 3000000L, 1000000L), Row(10L, "a", 1L, 1L))
    val dense = frame(st,
      Row(0L, "a", 2000000L, 1000000L), Row(0L, "b", 1L, 1L),
      Row(1L, "b", 3000000L, 1000000L), Row(1L, "a", 1L, 1L))
    assert(Sampling.doremiWeights(sparse, "step", "domain", "proxy", "ref") ==
      Sampling.doremiWeights(dense, "step", "domain", "proxy", "ref"))
  }

  test("takeDoremiMix: floor quotas, availability cap, md5-prefix membership") {
    val st = struct("id" -> LongType, "src" -> StringType)
    val df = frame(st,
      ((1L to 3L).map(i => Row(i, "a")) ++
       (11L to 20L).map(i => Row(i, "b")) ++
       (41L to 42L).map(i => Row(i, null))): _*)
    val s = Sampling.DoremiScale
    // budget 8: a's ⌊8·0.5⌋ = 4 > 3 rows → keeps all 3; b ⌊8·0.25⌋ = 2;
    // an unlisted/null domain keeps nothing
    val got = Sampling.takeDoremiMix(df, "src", "id",
      Seq("a" -> s / 2, "b" -> s / 4), budget = 8L)
      .select("id", "src").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "a") == 3)
    assert(got.count(_._2 == "b") == 2)
    assert(!got.exists(_._2 == null))
    import org.apache.spark.sql.expressions.Window
    val expectB = df.where(col("src") === "b")
      .withColumn("rn", row_number().over(Window.partitionBy(col("src"))
        .orderBy(md5(col("id").cast("string").cast("binary")).asc, col("id").asc)))
      .where(col("rn") <= 2).select("id").collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2 == "b").map(_._1).toSet == expectB)
    // weight outside [0, S] and duplicate domains fail loudly
    assert(intercept[IllegalArgumentException] {
      Sampling.takeDoremiMix(df, "src", "id", Seq("a" -> (s + 1)), 8L)
    }.getMessage.contains("outside"))
    assert(intercept[IllegalArgumentException] {
      Sampling.takeDoremiMix(df, "src", "id", Seq("a" -> 1L, "a" -> 2L), 8L)
    }.getMessage.contains("duplicate"))
  }

  test("luhnValid / ibanValid: checksum verdicts on known fixtures") {
    val st = struct("s" -> StringType)
    def verdicts(c: org.apache.spark.sql.Column, rows: (String, Boolean)*)
        : Unit = {
      val df = frame(st, rows.map(r => Row(r._1)): _*)
      val got = df.select(col("s"), c.as("v")).collect()
        .map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
      rows.foreach { case (s, expect) =>
        assert(got(Option(s)) == expect, s"input '$s'") }
    }
    verdicts(TextOps.luhnValid(col("s")),
      "4532015112830366" -> true,   // valid Visa test number
      "79927398713" -> true,        // the canonical Luhn example
      "4532015112830367" -> false,  // check digit off by one
      "" -> false, null.asInstanceOf[String] -> false)
    verdicts(TextOps.ibanValid(col("s")),
      "DE89370400440532013000" -> true,   // canonical ISO 13616 example
      "GB82WEST12345698765432" -> true,   // letters in the BBAN
      "DE89370400440532013001" -> false,
      "" -> false, null.asInstanceOf[String] -> false)
    // the grouped candidate form verifies after separator stripping
    val sep = frame(st, Row("4532-0151-1283-0366 and 4111 1111 1111 1111"))
      .select(TextOps.checksumPiiColumns(col("s")).map {
        case (n, c) => c.as(n) }: _*).collect()(0)
    assert(sep.getLong(0) == 2L && sep.getLong(1) == 2L)
  }

  test("integerKMeans ≡ a driver-side naive Lloyd recomputation; null/contract rules") {
    val st = struct("id" -> LongType, "v" -> ArrayType(FloatType))
    val rows = (1L to 10L).map(i => Row(i, Seq(
      (i % 7).toFloat / 7f, ((i * 3) % 5).toFloat / 5f,
      ((i * 5) % 11).toFloat / 11f))) :+ Row(99L, null) :+
      // an EMPTY vector is non-null: no comparable component, so every
      // candidate distance is the fold-over-empty 0 and the lowest cell
      // wins (the oracle coalesces its empty list_sum to the same 0)
      Row(98L, Seq.empty[Float]) :+
      // NULL COMPONENTS: quantize to null codes, so as seeds they carry
      // the -1 skip sentinel and as cell members they null the mean at
      // any all-null position — the unboxing regression (getSeq[Long]
      // turning boxed nulls into 0 before the sentinel check) made these
      // score as real zero components
      Row(97L, Seq[java.lang.Float](0.9f, null, 0.1f)) :+
      Row(96L, Seq[java.lang.Float](null, null, 0.8f))
    val df = frame(st, rows: _*)
    // independent driver recomputation of the full iteration from the
    // library's own quantized codes (the iteration is under test here;
    // the quantizer itself is oracled via q177/q186). None = a null
    // component (the kernel's skip sentinel).
    val codes: Seq[(Long, Seq[Option[Long]])] =
      Similarity.quantizeInt8(df.select(col("id"), col("v")), "v")
        .select(col("id"), col("v_q")).collect()
        .flatMap(r => if (r.isNullAt(1)) None
          else Some(r.getLong(0) -> r.getSeq[java.lang.Byte](1)
            .map(b => Option(b).map(_.toLong + 127L)).toSeq))
        .toSeq
    assert(codes.find(_._1 == 97L).get._2(1).isEmpty,
      "fixture sanity: id 97 must carry a null code component")
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(i: Long) =
      md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def assignNaive(cs: Seq[(Long, Seq[Option[Long]])]): Map[Long, (Long, Long)] =
      codes.map { case (i, u) =>
        val (d, cell) = cs.map { case (cid, m) =>
          (u.zip(m).map {
            // either side null → the position is skipped (zip_with
            // null-product rule / the kernel's -1 sentinel)
            case (Some(a), Some(b)) => val x = a - b; x * x
            case _ => 0L
          }.sum, cid)
        }.min
        i -> (cell, d)
      }.toMap
    def lloydNaive(k: Int, rounds: Int): Map[Long, (Long, Long)] = {
      var cents = codes.sortBy { case (i, _) => (hex(i), i) }.take(k)
      (1 to rounds).foreach { _ =>
        val a = assignNaive(cents)
        // per-POSITION member counts (a shorter vector simply lacks the
        // position — the posexplode aggregate's rule; a null component
        // still COUNTS as a member but adds nothing to the sum, the
        // `sum(__x) div count(1)` rule), an all-null position nulls the
        // mean, and a cell whose members contribute no position drops
        cents = codes.groupBy { case (i, _) => a(i)._1 }.toSeq
          .map { case (cell, mem) =>
            val dim = mem.map(_._2.length).max
            cell -> (0 until dim).map { p =>
              val present = mem.flatMap(_._2.lift(p))
              val vals = present.flatten
              if (vals.isEmpty) None else Some(vals.sum / present.length)
            }
          }.filter(_._2.nonEmpty).sortBy(_._1)
      }
      assignNaive(cents)
    }
    def gotFor(k: Int, rounds: Int): Map[Long, (Option[Long], Option[Long])] =
      Similarity.integerKMeans(df, "v", "id", k = k, rounds = rounds)
        .collect().map(r => r.getLong(0) -> (
          (if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val got = gotFor(3, 3)
    val fin = lloydNaive(3, 3)
    codes.foreach { case (i, _) =>
      assert(got(i) == (Some(fin(i)._1), Some(fin(i)._2)), s"id $i")
    }
    assert(got(99L) == (None, None), "null vector gets null cell/dist")
    // every vector a seed: 96/97's null components ride the centroid
    // table as sentinels from round 0, and their singleton cells keep
    // all-null mean positions through the rounds — the exact shape the
    // unboxing regression corrupted
    val gotAll = gotFor(codes.length, 2)
    val finAll = lloydNaive(codes.length, 2)
    codes.foreach { case (i, _) =>
      assert(gotAll(i) == (Some(finAll(i)._1), Some(finAll(i)._2)),
        s"all-seeds id $i")
    }
    // rounds = 0 is the plain seed Voronoi
    val fin0 = assignNaive(codes.sortBy { case (i, _) => (hex(i), i) }.take(3))
    val got0 = Similarity.integerKMeans(df, "v", "id", k = 3, rounds = 0)
      .where(col("cell").isNotNull).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got0 == fin0)
    // contract errors: clashing columns, runaway rounds
    assert(intercept[IllegalArgumentException] {
      Similarity.integerKMeans(df.withColumn("cell", lit(1)), "v", "id", 2, 1)
    }.getMessage.contains("cell"))
    assert(intercept[IllegalArgumentException] {
      Similarity.integerKMeans(df, "v", "id", 2, rounds = 65)
    }.getMessage.contains("rounds"))
  }

  test("crossSourceDupMatrix: unordered cells, diagonal, null labels surface first") {
    val pst = struct("id_a" -> LongType, "id_b" -> LongType)
    val pairs = frame(pst,
      Row(1L, 2L),   // wiki × cc (reversed label order)
      Row(2L, 3L),   // cc × wiki
      Row(1L, 3L),   // wiki × wiki (diagonal)
      Row(4L, 1L),   // unlabeled × wiki
      Row(5L, 6L))   // both unlabeled
    val lst = struct("id" -> LongType, "src" -> StringType)
    val labels = frame(lst,
      Row(1L, "wiki"), Row(2L, "cc"), Row(3L, "wiki"))
    val out = Dedup.crossSourceDupMatrix(pairs, labels, "id", "src")
      .collect().map(r => (
        if (r.isNullAt(0)) null else r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("cc", "wiki") -> 2L,
      ("wiki", "wiki") -> 1L,
      (null, "wiki") -> 1L,
      (null, null) -> 1L))
  }

  test("leakageSafeSplit: clusters move whole, reps are closure minima") {
    val st = struct("doc_id" -> LongType)
    val df = frame(st, (1L to 12L).map(Row(_)): _*)
    // chain 1-2, 2-3 (transitive), pair 5-9, isolated rest
    val pst = struct("id_a" -> LongType, "id_b" -> LongType)
    val pairs = frame(pst, Row(1L, 2L), Row(2L, 3L), Row(9L, 5L))
    val out = Sampling.leakageSafeSplit(df, "doc_id", pairs)
      .select("doc_id", "rep", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(5L)._1 == 5L && out(9L)._1 == 5L)
    assert(out(7L)._1 == 7L, "unpaired rows represent themselves")
    // same cluster ⇒ same split, and the split is the rep's md5 nibble
    assert(Set(out(1L)._2, out(2L)._2, out(3L)._2).size == 1)
    assert(out(5L)._2 == out(9L)._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    def expected(rep: Long): String = {
      val nib = md.digest(rep.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
      if ("0123456789ab".contains(nib)) "train"
      else if ("cd".contains(nib)) "val" else "test"
    }
    out.foreach { case (_, (rep, split)) => assert(split == expected(rep)) }
  }

  test("sizedShardAssignment ≡ the naive content-order cumsum floor rule") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val rows = (1L to 60L).map(i =>
      Row(i, if (i == 7L) 95L else if (i % 5 == 0) null else (i % 13) + 1L))
    val df = frame(st, rows: _*)
    val got = Sink.sizedShardAssignment(df, "id", "w", targetWeight = 20L)
      .select("id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver recompute: sort by (md5(id), id), cum floor rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(i: Long) =
      md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = rows.map(r => (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy { case (i, _) => (hex(i), i) }
    var cum = 0L
    val naive = ordered.map { case (i, w) =>
      val s = cum / 20L; cum += w; i -> s
    }.toMap
    assert(got == naive)
    // the 95-weight doc (target 20) spans ≥ 4 shard numbers: the next doc
    // in content order jumps past its span — shard numbers are monotone
    // but deliberately not contiguous around oversized rows
    val idx7 = ordered.indexWhere(_._1 == 7L)
    if (idx7 < ordered.length - 1)
      assert(got(ordered(idx7 + 1)._1) >= got(7L) + 4)
    // negative weights, null ids, duplicate ids: loud
    val neg = frame(st, Row(1L, -3L))
    val e1 = intercept[IllegalArgumentException] {
      Sink.sizedShardAssignment(neg, "id", "w", 10L)
    }
    assert(e1.getMessage.contains("negative"))
    val nid = frame(st, Row(null, 3L), Row(1L, 2L))
    val e2 = intercept[IllegalArgumentException] {
      Sink.sizedShardAssignment(nid, "id", "w", 10L)
    }
    assert(e2.getMessage.contains("null"))
    val dup = frame(st, Row(1L, 3L), Row(1L, 2L))
    val e3 = intercept[Exception] {
      Sink.sizedShardAssignment(dup, "id", "w", 10L).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + messages(t.getCause)
    assert(messages(e3).contains("duplicate"))
  }

  test("writeSizedShards: shard dirs match the assignment, read-back intact") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val df = frame(st, (1L to 40L).map(i => Row(i, (i % 7) + 1L)): _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sized").toString + "/corpus"
    Sink.writeSizedShards(df, dir, "id", "w", targetWeight = 25L)
    val back = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Sink.sizedShardAssignment(df, "id", "w", 25L)
      .select("id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back == expect)
    val e = intercept[IllegalArgumentException] {
      Sink.writeSizedShards(df.where(lit(false)), dir + "2", "id", "w", 25L)
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("appendSizedShards: log append continues the cumsum, tail fills, ids guarded") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)       // 140 total
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)      // +90
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sizedapp").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    val before = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    val after = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // standing rows keep their shards byte-for-byte
    assert(before.forall { case (i, s) => after(i) == s })
    // appended rows follow the offset rule: shard = (140 + cumBefore) / 50
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(i: Long) =
      md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cum = 140L
    val expectB = (21L to 30L).map(i => i -> 9L)
      .sortBy { case (i, _) => (hex(i), i) }
      .map { case (i, w) => val s = cum / 50L; cum += w; i -> s }.toMap
    expectB.foreach { case (i, s) => assert(after(i) == s) }
    // the first appended doc fills the under-full standing tail shard
    // (140 div 50 = shard 2, the standing tail)
    assert(expectB.values.min == 2L)
    // replaying an id fails loudly; checkIds = false skips the guard
    val e = intercept[IllegalArgumentException] {
      Sink.appendSizedShards(b.limit(1), dir, "id", "w", 50L)
    }
    assert(e.getMessage.contains("re-appends"))
  }

  test("appendSizedShards: clean append is O(batch) — touches NO standing data") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)       // 140 total
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)      // +90
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sizedmeta").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    // The proof is filesystem-level, stronger than a plan assertion:
    // MOVE every standing shard dir away. A clean append (meta total +
    // zero bloom hits) must still succeed — any read of standing data
    // (schema probe, id scan, weight re-aggregate) would fail loudly on
    // the missing files.
    val root = new java.io.File(dir)
    val hidden = java.nio.file.Files.createTempDirectory("graft_sizedhid")
    val shardDirs = root.listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { f =>
      java.nio.file.Files.move(f.toPath, hidden.resolve(f.getName))
    }
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    // restore the standing dirs next to the appended files — merging any
    // shard dir the append also wrote into (the tail shard fills first)
    hidden.toFile.listFiles().foreach { f =>
      val tgt = new java.io.File(root, f.getName)
      if (!tgt.exists()) java.nio.file.Files.move(f.toPath, tgt.toPath)
      else f.listFiles().foreach { part =>
        java.nio.file.Files.move(part.toPath,
          tgt.toPath.resolve(part.getName))
      }
    }
    // the merged layout is byte-identical to an undisturbed build+append
    val after = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_sizedmeta2").toString + "/corpus"
    Sink.writeSizedShards(a, dir2, "id", "w", 50L)
    Sink.appendSizedShards(b, dir2, "id", "w", 50L)
    val expect = spark.read.parquet(dir2)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == expect)
    // the replay guard stays loud THROUGH the bloom: a replayed id hits
    // the bloom, falls back to the exact join, and fails
    val e = intercept[IllegalArgumentException] {
      Sink.appendSizedShards(b.limit(1), dir, "id", "w", 50L)
    }
    assert(e.getMessage.contains("re-appends"))
    // in-batch duplicate ids fail BEFORE the meta commit
    val dup = frame(st, Row(77L, 1L), Row(77L, 1L))
    val e2 = intercept[IllegalArgumentException] {
      Sink.appendSizedShards(dup, dir, "id", "w", 50L)
    }
    assert(e2.getMessage.contains("duplicate ids within the batch"))
  }

  test("appendSizedShards: a headerless log fails loudly; verify reports meta_missing") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sizedpre").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    // a log written by an older build, or whose metadata was deleted
    // behind its back: data but no header
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(dir, "_log_meta"))
    Seq[() => Any](
      () => Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L),
      () => Sink.compactSizedShards(spark, dir, "id"),
      () => Sink.deleteFromSizedShards(spark, dir, "id", a.select("id"))).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("rebuild it with Sink.writeSizedShards"), e.getMessage)
    }
    assert(spark.read.parquet(dir).count() == 20L)
    // the audit still reads it (schema inferred) and flags the missing
    // metadata; the checks that need it are left out
    val audit = Sink.verifySizedLog(spark, dir, "id", "w")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit("meta_missing") == (1L, 0L) && audit("dup_ids") == (0L, 0L) &&
      !audit.contains("meta_total") && !audit.contains("bloom_misses"), audit.toString)
    // writing over the path without overwrite is refused; a rebuild
    // restores an appendable log
    val e = intercept[IllegalArgumentException](
      Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](Sink.writeSizedShards(
      spark.read.parquet(dir).drop("shard"), dir, "id", "w", targetWeight = 50L, overwrite = true))
    assert(e2.getMessage.contains("while reading from it"), e2.getMessage)
    assert(spark.read.parquet(dir).count() == 20L)
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L, overwrite = true)
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    assert(spark.read.parquet(dir).count() == 30L)
  }

  test("appendSizedShards: a clean append launches no schema-inference or metadata job") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sizedjobs").toString + "/corpus"
    Sink.writeSizedShards(frame(st, (1L to 20L).map(i => Row(i, 7L)): _*),
      dir, "id", "w", targetWeight = 50L)
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)
    val (_, jobs) = JobCount.of(spark)(Sink.appendSizedShards(b, dir, "id", "w", 50L))
    // the batch's own jobs only (AQE runs each shuffle stage as a job of
    // its own): empty check, bloom probe, assignment sums, total and
    // duplicate check, the delta bloom and the data write. The header and
    // bloom are read and replaced through the FS, and no read infers a
    // schema.
    assert(jobs <= 14, s"a clean sized-shard append launched $jobs jobs")
  }

  test("appendSizedShards: an interrupted metadata replace leaves the log appendable") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sizedtmp").toString + "/corpus"
    Sink.writeSizedShards(frame(st, (1L to 20L).map(i => Row(i, 7L)): _*),
      dir, "id", "w", targetWeight = 50L)                           // 140
    // the debris a crash mid-replace leaves: partial tmp copies of the
    // header and the bloom beside the committed ones
    val meta = new java.io.File(dir, "_log_meta")
    Seq(EpochStore.HeaderFileName, EpochStore.IdBloomFileName).foreach { n =>
      val whole = java.nio.file.Files.readAllBytes(new java.io.File(meta, n).toPath)
      java.nio.file.Files.write(new java.io.File(meta, s"${n}_tmp").toPath,
        whole.take(whole.length / 2))
    }
    Sink.appendSizedShards(frame(st, (21L to 30L).map(i => Row(i, 9L)): _*),
      dir, "id", "w", targetWeight = 50L)                           // +90
    def audit() = Sink.verifySizedLog(spark, dir, "id", "w")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a1 = audit()
    assert(a1("meta_total") == (0L, 230L) && a1("bloom_misses") == (0L, 30L) &&
      a1("meta_missing") == (0L, 0L), a1.toString)
    Sink.compactSizedShards(spark, dir, "id")
    Sink.appendSizedShards(frame(st, Row(31L, 5L)), dir, "id", "w", targetWeight = 50L)
    assert(audit()("meta_total") == (0L, 235L))
    assert(spark.read.parquet(dir).count() == 31L)
  }

  test("verifySizedLog: clean log zeroes; planted dup and behind-the-back write caught") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)       // 140 total
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)      // +90
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logfsck").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    def audit(bloom: Boolean = true) =
      Sink.verifySizedLog(spark, dir, "id", "w", bloomCheck = bloom)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val clean = audit()
    assert(clean("dup_ids") == (0L, 0L) && clean("null_ids") == (0L, 0L) &&
      clean("negative_weights") == (0L, 0L) &&
      clean("meta_missing") == (0L, 0L) &&
      clean("journal_pending") == (0L, 0L) &&
      clean("meta_total") == (0L, 230L) &&
      clean("bloom_misses") == (0L, 30L), clean.toString)
    // the one API-reachable corruption: replaying committed ids with the
    // guard off — the audit's id-keyed aggregate catches it; meta stays
    // consistent because the append still records its total
    Sink.appendSizedShards(frame(st, Row(21L, 9L), Row(22L, 9L)),
      dir, "id", "w", targetWeight = 50L, checkIds = false)
    val dup = audit()
    assert(dup("dup_ids") == (2L, 2L) && dup("meta_total") == (0L, 248L),
      dup.toString)
    // behind-the-back write: a foreign parquet file dropped straight
    // into a shard dir — its ids never passed through the bloom and its
    // weight never reached the meta, so BOTH tripwires fire
    val spark0 = spark
    import spark0.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_foreign").toString + "/f"
    Seq((101L, 5L), (102L, 5L), (103L, 5L)).toDF("id", "w")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$dir/shard=0", part.getName).toPath)
    val dirty = audit()
    assert(dirty("bloom_misses") == (3L, 35L), dirty.toString)
    assert(dirty("meta_total") == (15L, 263L), dirty.toString)
    // bloomCheck = false (the oracle-portable mode) drops only that row
    val noBloom = audit(bloom = false)
    assert(!noBloom.contains("bloom_misses") &&
      noBloom("dup_ids") == (2L, 2L) && noBloom("meta_total") == (15L, 263L))
  }

  test("compactSizedShards: dirty shards to one file, clean shards untouched, idempotent") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)       // 140 total
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)      // +90
    val c = frame(st, (31L to 40L).map(i => Row(i, 3L)): _*)      // +30
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    Sink.appendSizedShards(c, dir, "id", "w", targetWeight = 50L)
    def fileSets(): Map[Long, Set[String]] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard=")).map { d =>
          d.getName.stripPrefix("shard=").toLong ->
            d.listFiles().map(_.getName)
              .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
        }.toMap
    def content(): Map[Long, Long] = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val filesBefore = fileSets()
    val contentBefore = content()
    assert(filesBefore.values.exists(_.size > 1)) // the appends left sprawl
    val report = Sink.compactSizedShards(spark, dir, "id")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val filesAfter = fileSets()
    filesBefore.foreach { case (shard, fs) =>
      assert(report(shard)._1 == fs.size)
      if (fs.size > 1) {
        // dirty: exactly one id-sorted file now
        assert(report(shard)._2 == 1 && filesAfter(shard).size == 1)
      } else {
        // clean: the very same file, by name — physically untouched
        assert(report(shard)._2 == fs.size && filesAfter(shard) == fs)
      }
    }
    // content bit-preserved, and the id sort within the compacted files
    // keeps the read-back identical
    assert(content() == contentBefore)
    // staging and journal fully cleaned up
    assert(!new java.io.File(s"$dir/_log_meta/compact").exists())
    // idempotent: a second run rewrites nothing
    Sink.compactSizedShards(spark, dir, "id")
    assert(fileSets() == filesAfter)
    // and the log still appends cleanly after compaction
    Sink.appendSizedShards(frame(st, Row(41L, 2L)), dir, "id", "w", 50L)
    assert(content().contains(41L))
  }

  test("deleteFromSizedShards: only hit shards rewrite; invariants hold; deleted ids re-appendable") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)       // 140 total
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)      // +90
    val dir = java.nio.file.Files
      .createTempDirectory("graft_logdel").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    def content(): Map[Long, Long] = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def fileSets(): Map[Long, Set[String]] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard=")).map { d =>
          d.getName.stripPrefix("shard=").toLong ->
            d.listFiles().map(_.getName)
              .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
        }.toMap
    val before = content()
    val filesBefore = fileSets()
    // delete two present ids (+ one absent, + a null) — report counts
    // exactly the hit shards, rows_before = the shard's standing rows
    val doomed = frame(st, Row(3L, 0L), Row(25L, 0L), Row(999L, 0L),
      Row(null, 0L)).select(col("id"))
    val rep = Sink.deleteFromSizedShards(spark, dir, "id", doomed)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hitShards = Set(before(3L), before(25L))
    assert(rep.keySet == hitShards)
    hitShards.foreach { sh =>
      val shardRows = before.count { case (_, s) => s == sh }
      val doomedRows = Seq(3L, 25L).count(before(_) == sh)
      assert(rep(sh) == (shardRows.toLong, doomedRows.toLong))
    }
    // survivors keep their shards bit-for-bit; untouched shards keep
    // their very FILES
    val after = content()
    assert(after == before - 3L - 25L)
    fileSets().foreach { case (sh, fs) =>
      if (!hitShards.contains(sh)) assert(filesBefore(sh) == fs)
    }
    assert(!new java.io.File(s"$dir/_log_meta/compact").exists())
    // the fsck reads the deficit as the ALLOWED meta >= data gap (no
    // violation), the bloom stays a clean superset, no dup appears
    val audit = Sink.verifySizedLog(spark, dir, "id", "w")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(audit("meta_total") == (0L, 230L - 7L - 9L))
    assert(audit("bloom_misses")._1 == 0L && audit("dup_ids") == (0L, 0L))
    // deleting the same ids again is a no-op with an empty report
    assert(Sink.deleteFromSizedShards(spark, dir, "id", doomed).count() == 0L)
    // a deleted id re-appends cleanly: the bloom hit falls back to the
    // exact standing join, which finds nothing
    Sink.appendSizedShards(frame(st, Row(3L, 5L)), dir, "id", "w", 50L)
    assert(content().contains(3L))
    // deleting EVERY id of one shard leaves an empty dir readers skip
    val sh0Ids = content().collect { case (i, s) if s == 0L => i }.toSeq
    assert(sh0Ids.nonEmpty)
    Sink.deleteFromSizedShards(spark, dir, "id",
      frame(st, sh0Ids.map(i => Row(i, 0L)): _*).select(col("id")))
    val post = content()
    assert(sh0Ids.forall(!post.contains(_)))
    assert(post.values.forall(_ != 0L) && post.nonEmpty)
  }

  test("journal replay: unparseable line and failed move both abort BEFORE any delete") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_badjournal").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    val before = spark.read.parquet(dir).count()
    val compact = new java.io.File(s"$dir/_log_meta/compact")
    assert(compact.mkdirs())
    val journal = new java.io.File(compact, "journal").toPath
    // an unparseable line must abort loudly — a silently skipped del
    // would make the NEXT compaction merge duplicates permanently
    java.nio.file.Files.write(journal,
      s"bogus entry with no tabs\ndel\t$dir/shard=0/whatever.parquet\n"
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Sink.compactSizedShards(spark, dir, "id")
    }
    assert(e.getMessage.contains("unparseable"))
    assert(java.nio.file.Files.exists(journal)) // intact for inspection
    assert(spark.read.parquet(dir).count() == before) // nothing deleted
    // a journaled move whose staged file cannot land (src AND dst gone —
    // the rename-returned-false shape) must abort before the del phase
    val victim = new java.io.File(s"$dir/shard=0").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    java.nio.file.Files.write(journal,
      (s"mv\t$dir/_log_meta/compact/data/shard=0/ghost.parquet\t" +
        s"$dir/shard=0/ghost.parquet\ndel\t$victim\n").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      Sink.compactSizedShards(spark, dir, "id")
    }
    assert(e2.getMessage.contains("failed to land"))
    assert(victim.exists()) // the delete phase never ran
    assert(spark.read.parquet(dir).count() == before)
    // clearing the journal unblocks maintenance
    java.nio.file.Files.delete(journal)
    Sink.compactSizedShards(spark, dir, "id")
    assert(spark.read.parquet(dir).count() == before)
    // a store path that cannot be journaled is rejected at entry
    val e3 = intercept[IllegalArgumentException] {
      Sink.compactSizedShards(spark, "/tmp/bad\tpath", "id")
    }
    assert(e3.getMessage.contains("tab/newline"))
  }

  test("deleteFromSizedShards: TOTAL takedown leaves a readable zero-row log") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_totaldel").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    Sink.deleteFromSizedShards(spark, dir, "id",
      frame(st, (1L to 20L).map(i => Row(i, 0L)): _*).select(col("id")))
    // still readable: zero rows, payload schema intact (the seeded file)
    val back = spark.read.parquet(dir)
    assert(back.count() == 0L)
    assert(back.columns.toSet == Set("id", "w", "shard"))
    // the fsck still runs and reads the full deficit as the allowed gap
    val audit = Sink.verifySizedLog(spark, dir, "id", "w")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(audit("meta_total") == (0L, 0L) && audit("dup_ids") == (0L, 0L),
      audit.toString)
    // and the log is still appendable (tail-only: offset = the unchanged
    // meta total)
    Sink.appendSizedShards(frame(st, Row(21L, 9L)), dir, "id", "w", 50L)
    assert(spark.read.parquet(dir).count() == 1L)
  }

  test("compactSizedShards: journal replay converges a crashed swap, no loss or dup") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val a = frame(st, (1L to 20L).map(i => Row(i, 7L)): _*)
    val b = frame(st, (21L to 30L).map(i => Row(i, 9L)): _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_crash").toString + "/corpus"
    Sink.writeSizedShards(a, dir, "id", "w", targetWeight = 50L)
    Sink.appendSizedShards(b, dir, "id", "w", targetWeight = 50L)
    val contentBefore = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pick a multi-file shard and hand-build the exact crash state a
    // real compaction leaves between the journal rename and the swap:
    // staged merged file + a journal of (mv staged in, del originals)
    val root = new java.io.File(dir)
    val dirtyDir = root.listFiles().filter(_.getName.startsWith("shard="))
      .find(_.listFiles().count(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) > 1)
      .get
    val olds = dirtyDir.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val stageDir = new java.io.File(
      s"$dir/_log_meta/compact/data/${dirtyDir.getName}")
    assert(stageDir.mkdirs())
    val mergedTmp = java.nio.file.Files
      .createTempDirectory("graft_merged").toString + "/m"
    spark.read.parquet(dirtyDir.toString).orderBy(col("id"))
      .coalesce(1).write.parquet(mergedTmp)
    val mergedPart = new java.io.File(mergedTmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    val staged = new java.io.File(stageDir, mergedPart.getName)
    java.nio.file.Files.move(mergedPart.toPath, staged.toPath)
    val journal = Seq(s"mv\t$staged\t$dirtyDir/${staged.getName}") ++
      olds.map(f => s"del\t$f")
    java.nio.file.Files.write(
      new java.io.File(s"$dir/_log_meta/compact/journal").toPath,
      (journal.mkString("\n") + "\n").getBytes("UTF-8"))
    // crash flavor 2: the mv already applied (copy, journal intact) —
    // readers transiently see the shard's rows DOUBLED, the documented
    // move-first window
    java.nio.file.Files.copy(staged.toPath,
      new java.io.File(dirtyDir, staged.getName).toPath)
    val racing = spark.read.parquet(dir).groupBy(col("id"))
      .agg(count(lit(1)).as("c")).where(col("c") > 1L).count()
    assert(racing > 0L)
    // the next compaction call replays the journal FIRST and converges
    Sink.compactSizedShards(spark, dir, "id")
    val after = spark.read.parquet(dir)
      .select(col("id"), col("shard").cast("long")).collect()
    assert(after.length == contentBefore.size) // no dup survived
    assert(after.map(r => r.getLong(0) -> r.getLong(1)).toMap == contentBefore)
    assert(!new java.io.File(s"$dir/_log_meta/compact").exists())
  }

  test("takeGlobal: the md5-order corpus prefix, nested across sizes") {
    val df = docs((1L to 60L).map(i => i -> s"doc $i"): _*)
    def take(n: Long) = Sampling.takeGlobal(df, "doc_id", n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val t10 = take(10L)
    val t25 = take(25L)
    assert(t10.size == 10 && t25.size == 25 && t10.subsetOf(t25))
    // exactly the naive md5-order prefix
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("rn", row_number().over(Window.orderBy(
        md5(col("doc_id").cast("string").cast("binary")).asc, col("doc_id").asc)))
      .where(col("rn") <= 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(t10 == naive)
    // over-ask returns the whole corpus
    assert(take(100L).size == 60)
    // the token twin: md5-order prefix until the budget, crossing row kept
    val dft = df.withColumn("n_tok", col("doc_id") % 5)
    val gotT = Sampling.takeGlobalTokens(dft, "doc_id", "n_tok", budget = 20L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    import org.apache.spark.sql.expressions.Window
    val wT = Window.orderBy(
        md5(col("doc_id").cast("string").cast("binary")).asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expT = dft.withColumn("cum", sum(col("n_tok")).over(wT))
      .where(col("cum") - col("n_tok") < 20L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotT == expT && gotT.nonEmpty && gotT.size < 60)
  }

  test("score-ordered and md5-ordered takes refuse caller columns named like their internals") {
    val st = struct("id" -> LongType, "src" -> StringType, "score" -> LongType,
      "__db" -> LongType, "__off" -> LongType)
    val df = frame(st, (1L to 8L).map(i => Row(i, "s", i % 3, i, i)): _*)
    val top = intercept[IllegalArgumentException](Sampling.takeTopFraction(
      df.drop("__off"), "src", "id", "score", 0.5))
    assert(top.getMessage.contains("__db"), top.getMessage)
    val budget = intercept[IllegalArgumentException](Sampling.takeTokenBudget(
      df.drop("__db"), "src", "id", "score", 4L))
    assert(budget.getMessage.contains("__off"), budget.getMessage)
  }

  test("temperatureMixTopQuality: sqrt-share quotas filled with the best-scored rows") {
    // a: 8 rows (score = id), b: 2 rows; alpha = 0.5, target 6 → weights
    // √8/√2, quotas round(6·2/3) = 4 and round(6·1/3) = 2 — a keeps its
    // top-4 scores, b saturates whole
    val st = struct("id" -> LongType, "src" -> StringType, "score" -> LongType)
    val rows = (1L to 8L).map(i => Row(i, "a", i)) ++
      Seq(Row(20L, "b", 1L), Row(21L, "b", 2L))
    val df = frame(st, rows: _*)
    val kept = Sampling.temperatureMixTopQuality(
      df, "src", "id", "score", alpha = 0.5, targetRows = 6L, nBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 6L, 7L, 8L, 20L, 21L))
  }

  test("takeTopFraction: a CONSTANT score never funnels a stratum into one window task") {
    // one stratum, 120 rows, ONE score value — the tie-dense worst case.
    // A single boundary window would put all 120 rows through one
    // Window.partitionBy(stratum) task; the score-run machinery must
    // instead window only the md5 sub-boundary sub-bucket (~1 row at
    // 4096 sub-buckets).
    val st = struct("id" -> LongType, "src" -> StringType, "score" -> LongType)
    val rows = (1L to 120L).map(i => Row(i, "only", 7L))
    val df = frame(st, rows: _*)
    // maxBoundaryTaskRows below the stratum size forces the run/tie path
    // (the production 2M default would direct-window this tiny fixture)
    val (out, stats) = Sampling.takeTopFractionWithStats(
      df, "src", "id", "score", 0.5, nBuckets = 4,
      maxBoundaryTaskRows = 16L)
    val got = out.select(col("id")).collect().map(_.getLong(0)).toSet
    // the tie run IS the stratum, so the kept set is the md5-content-order
    // prefix — takePerStratum's picks
    val expected = Sampling.takePerStratum(df, "src", "id", 60)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.size == 60)
    // telemetry: the whole stratum is boundary weight AND cutoff-tie weight
    assert(stats ==
      Seq(Sampling.TopTakeStratumStats(Some("only"), 120L, 120L, 120L)))
    // plan-level degeneracy tripwire: execute the take and, for every
    // WindowExec in the final adaptive plan, read the ROW COUNT of the
    // shuffle stage feeding it (WindowExec itself only meters spill) —
    // no window may have consumed anything close to the 120-row stratum.
    // The run/tie machinery feeds it the md5 sub-boundary sub-bucket
    // (~1 row at 4096 sub-buckets).
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def windowInputRows(p: SparkPlan): Seq[BigInt] =
      p.flatMap {
        case a: AdaptiveSparkPlanExec => windowInputRows(a.executedPlan)
        case q: QueryStageExec => windowInputRows(q.plan)
        case w: WindowExec =>
          w.child.collectFirst { case s: ShuffleQueryStageExec =>
            s.getRuntimeStatistics.rowCount
          }.flatten.toSeq
        case _ => Nil
      }
    val sizes = windowInputRows(out.queryExecution.executedPlan)
    assert(sizes.nonEmpty, "expected the sub-boundary window's shuffle stage")
    assert(sizes.forall(_ <= 32),
      s"a window consumed a whole tie-dense stratum: $sizes")
  }

  test("takeTopFraction: a giant CONTINUOUS-score stratum self-sizes its buckets under maxBoundaryTaskRows") {
    // one stratum, 600 rows, all-distinct scores: at the requested
    // nBuckets = 2 the boundary bucket would be ~300 rows
    // (> maxBoundaryTaskRows = 40), and because the score is continuous
    // the run table is row-sized. Phase 0 must instead re-quantile at a
    // finer width so the boundary bucket fits the direct window.
    val st = struct("id" -> LongType, "src" -> StringType, "score" -> DoubleType)
    val rows = (1L to 600L).map(i => Row(i, "g", i.toDouble))
    val df = frame(st, rows: _*)
    val (out, stats) = Sampling.takeTopFractionWithStats(
      df, "src", "id", "score", 0.3, nBuckets = 2, maxBoundaryTaskRows = 40L)
    val got = out.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == (421L to 600L).toSet) // exact top-30% by score
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def windowInputRows(p: SparkPlan): Seq[BigInt] =
      p.flatMap {
        case a: AdaptiveSparkPlanExec => windowInputRows(a.executedPlan)
        case q: QueryStageExec => windowInputRows(q.plan)
        case w: WindowExec =>
          w.child.collectFirst { case s: ShuffleQueryStageExec =>
            s.getRuntimeStatistics.rowCount
          }.flatten.toSeq
        case _ => Nil
      }
    val sizes = windowInputRows(out.queryExecution.executedPlan)
    assert(sizes.nonEmpty, "expected the direct boundary window's shuffle stage")
    assert(sizes.forall(_ <= 40),
      s"self-sizing failed — a window consumed more than maxBoundaryTaskRows: $sizes")
    // telemetry: the boundary bucket is bucket-sized, and the run/tie
    // path never engaged (no tie weight) — the self-sized direct path
    assert(stats.size == 1 && stats.head.totalWeight == 600L)
    assert(stats.head.boundaryWeight <= 40L && stats.head.tieWeight == 0L)
  }

  test("takeTopFraction: strata choose direct vs run/tie INDEPENDENTLY in one call") {
    // stratum t: 100 rows at ONE score (tie-dense — boundary bucket is
    // the stratum, must take the run/tie path); stratum c: 100 distinct
    // scores (continuous — its boundary bucket fits the direct window
    // after self-sizing). t's oversized bucket must not drag c through
    // the run/tie jobs.
    val st = struct("id" -> LongType, "src" -> StringType, "score" -> DoubleType)
    val rows = (1L to 100L).map(i => Row(i, "t", 5.0)) ++
      (101L to 200L).map(i => Row(i, "c", (i - 100).toDouble))
    val df = frame(st, rows: _*)
    val (out, stats) = Sampling.takeTopFractionWithStats(
      df, "src", "id", "score", 0.5, nBuckets = 4, maxBoundaryTaskRows = 16L)
    val got = out.select(col("id"), col("src")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val gotC = got.filter(_._2 == "c").map(_._1).toSet
    val gotT = got.filter(_._2 == "t").map(_._1).toSet
    assert(gotC == (151L to 200L).toSet) // exact top-50% of the continuous stratum
    // the tie stratum's kept half is the md5-content-order prefix
    val expectedT = Sampling.takePerStratum(
      df.where(col("src") === "t"), "src", "id", 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotT == expectedT && gotT.size == 50)
    // telemetry separates the two strategies: only t has tie weight
    val bySrc = stats.map(s => s.stratum -> s).toMap
    assert(bySrc(Some("t")).tieWeight == 100L &&
      bySrc(Some("t")).boundaryWeight == 100L)
    assert(bySrc(Some("c")).tieWeight == 0L &&
      bySrc(Some("c")).boundaryWeight <= 16L)
  }

  test("global score-ordered takes equal the naive global prefix and nest") {
    val st = struct("id" -> LongType, "score" -> LongType, "w" -> LongType)
    val rows = (1L to 90L).map(i => Row(i, i % 7, (i % 5) + 1L))
    val df = frame(st, rows: _*)
    // the one fixed global order every take here prefixes:
    // (score DESC nulls last, md5(key), key)
    val ord = df
      .withColumn("m", md5(col("id").cast("string").cast("binary")))
      .orderBy(col("score").desc_nulls_last, col("m").asc, col("id").asc)
      .select("id", "w").collect().map(r => (r.getLong(0), r.getLong(1)))
    val top30 = Sampling.takeGlobalTopFraction(
      df, "id", "score", 30.0 / 90.0, nBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top30 == ord.take(30).map(_._1).toSet)
    val top60 = Sampling.takeGlobalTopFraction(
      df, "id", "score", 60.0 / 90.0, nBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top60 == ord.take(60).map(_._1).toSet)
    assert(top30.subsetOf(top60)) // samples nest: prefixes of one order
    // token form: running weight BEFORE the row < budget, crossing kept
    var cum = 0L
    val expectTok = ord.takeWhile { case (_, w) =>
      val before = cum; cum += w; before < 40L
    }.map(_._1).toSet
    val gotTok = Sampling.takeGlobalTokensTop(
      df, "id", "score", "w", budget = 40L, nBuckets = 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotTok == expectTok)
  }

  test("materializeEpochOrder equals the naive shuffled-order recompute") {
    // 40 docs, 1–5 distinct tokens each; epoch 5, capacity 7, 3 strides.
    // The driver recompute does what the engine refuses to: sort ALL docs
    // by (md5('5#'||id), id), stride them, concat each stride in order,
    // chunk at 7 tokens — the composed plan must emit the identical
    // (grp, bin) → (bin_text, n_tokens) map, byte for byte.
    val texts = (1L to 40L).map(i =>
      i -> (1 to ((i % 5) + 1).toInt).map(j => s"t${i}x$j").mkString(" "))
    val df = docs(texts: _*)
    val got = Packing.materializeEpochOrder(
      df, "doc_id", "text", epoch = 5L, capacity = 7L, nGroups = 3)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    val byText = texts.toMap
    val order = (1L to 40L).sortBy(id => (md5hex(s"5#$id"), id))
    val expect = scala.collection.mutable.Map.empty[(Int, Long), (String, Long)]
    (0 until 3).foreach { g =>
      val toks = order.zipWithIndex.filter(_._2 % 3 == g)
        .flatMap { case (id, _) => byText(id).split(" ") }
      toks.grouped(7).zipWithIndex.foreach { case (bin, b) =>
        expect((g, b.toLong)) = (bin.mkString(" "), bin.size.toLong)
      }
    }
    assert(got == expect.toMap)
  }

  test("contrastScoreAgainstIndex over a full-corpus index equals contrastScore") {
    // when the standing index holds EXACTLY the raw corpus, the daily
    // probe must reproduce contrastScore row for row (probe docs' tokens
    // are all committed, so the left join degenerates to the inner one)
    val corpus = docs(1L -> "alpha beta beta", 2L -> "beta gamma",
      3L -> "alpha delta delta", 4L -> "gamma gamma epsilon")
    val target = docs(100L -> "beta delta", 101L -> "delta")
    val idx = java.nio.file.Files.createTempDirectory("graft-tfc").toString
    TextOps.writeTokenFrequencyIndex(corpus, "doc_id", "text", idx)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_toks", "sum_raw_freq", "sum_target_freq", "n_target_hit")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val probe = corpus.where(col("doc_id") <= 2)
    val got = rows(TextOps.contrastScoreAgainstIndex(
      probe, target, "doc_id", "text", "text", idx))
    val full = rows(TextOps.contrastScore(corpus, target, "doc_id", "text", "text")
      .where(col("doc_id") <= 2))
    assert(got == full && got.nonEmpty)
    // a probe token the index has never seen scores 0 raw mass
    val fresh = docs(50L -> "zeta zeta beta")
    val scored = rows(TextOps.contrastScoreAgainstIndex(
      fresh, target, "doc_id", "text", "text", idx))
    assert(scored == Seq((50L, 3L, 3L, 1L, 1L))) // beta: raw 3, target 1; zeta unseen → 0
  }

  test("temperatureMixRepeat: tail sources emit full + partial copies; guard trips on degenerate mixes") {
    // a: 8 rows, b: 2 rows; alpha = 0.5, target 15 → quotas EXACTLY 10/5
    // (15·(2√2)/(3√2) and 15·√2/(3√2)): a = 1 full copy + 2-row partial,
    // b = 2 full copies + 1-row partial — genuine upsampling of the tail
    val df = docs((1L to 10L).map(i => i -> s"repeat doc body $i"): _*)
      .withColumn("src", when(col("doc_id") <= 8, "a").otherwise("b"))
    val out = Sampling.temperatureMixRepeat(
      df, "src", "doc_id", alpha = 0.5, targetRows = 15L)
      .select("doc_id", "src", "copy").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length == 15)
    val hist = out.groupBy(t => (t._2, t._3)).view.mapValues(_.length).toMap
    assert(hist == Map(("a", 0L) -> 8, ("a", 1L) -> 2,
      ("b", 0L) -> 2, ("b", 1L) -> 2, ("b", 2L) -> 1))
    // the partial copy is the md5-content-order prefix (takePerStratum's picks)
    val partialA = out.filter(t => t._2 == "a" && t._3 == 1L).map(_._1).toSet
    assert(partialA == Sampling.takePerStratum(
      df.where(col("src") === "a"), "src", "doc_id", 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // each full copy carries EVERY row of its source
    assert(out.filter(t => t._2 == "b" && t._3 == 0L).map(_._1).toSet == Set(9L, 10L))
    assert(out.filter(t => t._2 == "b" && t._3 == 1L).map(_._1).toSet == Set(9L, 10L))
    // a degenerate mix (tiny source under a huge target) fails loudly
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureMixRepeat(
        df, "src", "doc_id", alpha = 0.5, targetRows = 100000L, maxRepeat = 100L)
    }
    assert(e.getMessage.contains("maxRepeat"))
  }

  test("takeUniMax: uniform budget with epoch cap, saturation cascade, repeats") {
    val st = struct("doc_id" -> LongType, "source" -> StringType)
    val df = frame(st,
      (1L to 6L).map(i => Row(i, "A")) ++
        Seq(Row(11L, "B"), Row(12L, "B"), Row(21L, "C"), Row(31L, null)): _*)
    // avail at 3 epochs: A 18, B 6, C 3; budget 9 uniform → C saturates
    // at 3, A and B take 3 each of the remaining 6
    val out = Sampling.takeUniMax(df, "source", "doc_id",
      budget = 9L, maxEpochs = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length == 9)
    assert(!out.exists(_._2 == null)) // null source excluded
    // C (1 row, quota 3): three full copies
    assert(out.filter(_._2 == "C").map(_._3).sorted.toSeq == Seq(0L, 1L, 2L))
    // B (2 rows, quota 3): one full copy + the md5-first row as copy 1
    val b = out.filter(_._2 == "B")
    assert(b.filter(_._3 == 0L).map(_._1).toSet == Set(11L, 12L))
    assert(b.filter(_._3 == 1L).map(_._1).toSeq ==
      Seq(Seq(11L, 12L).minBy(i => md5hex(i.toString))))
    // A (6 rows, quota 3): md5-content-order prefix, no repeats
    val a = out.filter(_._2 == "A")
    assert(a.forall(_._3 == 0L))
    assert(a.map(_._1).toSet ==
      (1L to 6L).sortBy(i => (md5hex(i.toString), i)).take(3).toSet)
    // budget beyond the cap: every source saturates at exactly maxEpochs
    val capped = Sampling.takeUniMax(df, "source", "doc_id", 100L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(capped.length == 18)
    assert(capped.groupBy(_._1).forall(_._2.length == 2))
  }

  test("takeUniMaxTokens: token quotas, crossing row kept, full copies") {
    val st = struct("doc_id" -> LongType, "src" -> StringType,
      "n_tok" -> LongType)
    val df = frame(st,
      Row(1L, "A", 5L), Row(2L, "A", 3L), Row(3L, "A", 2L), // t=10
      Row(11L, "B", 4L),                                     // t=4
      Row(21L, "C", 2L), Row(22L, "C", 2L))                  // t=4
    // avail at 2 epochs: A 20, B 8, C 8; budget 20 → nobody saturates
    // (8·3 > 20), quotas floor(20/3) = 6 each
    val out = Sampling.takeUniMaxTokens(df, "src", "doc_id", "n_tok",
      budget = 20L, maxEpochs = 2L)
      .select("doc_id", "src", "copy").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // A (t=10 > 6): no full copy, md5-order prefix to 6 tokens — ids 1
    // (cum 5) and 2 (crossing at 8); B (6 = 1·4 + 2): one full copy +
    // the crossing first row again; C: full copy of both + 2-token prefix
    assert(out.sorted == Seq(
      (1L, "A", 0L), (2L, "A", 0L),
      (11L, "B", 0L), (11L, "B", 1L),
      (21L, "C", 0L), (21L, "C", 1L), (22L, "C", 0L)).sorted)
  }

  test("temperatureMix: alpha=1 proportional, alpha=0.5 flattens, quotas capped") {
    // skewed two-source corpus: 'a' 8 rows, 'b' 2 rows; target 5
    val df = docs((1L to 10L).map(i => i -> s"mix doc body $i"): _*)
      .withColumn("src", when(col("doc_id") <= 8, "a").otherwise("b"))
    def quotaCounts(alpha: Double, target: Long): Map[String, Int] =
      Sampling.temperatureMix(df, "src", "doc_id", alpha, target)
        .collect().groupBy(_.getAs[String]("src")).view.mapValues(_.length).toMap
    // alpha=1: round(5·0.8)=4, round(5·0.2)=1 — natural proportions
    assert(quotaCounts(1.0, 5L) == Map("a" -> 4, "b" -> 1))
    // alpha=0.5: z=√8+√2; a→5·√8/z=3.33→3, b→5·√2/z=1.67→2 — flattened
    assert(quotaCounts(0.5, 5L) == Map("a" -> 3, "b" -> 2))
    // quotas cap at the source count — an oversized target keeps everything
    assert(Sampling.temperatureMix(df, "src", "doc_id", 0.5, 100L).count() == 10L)
    // a zero quota drops the stratum: target 1 at alpha=1 → b rounds to 0
    assert(quotaCounts(1.0, 1L) == Map("a" -> 1))
    // membership is the md5-order prefix per source — same picks as
    // takePerStratum at the quota, and stable across reruns
    val kept = Sampling.temperatureMix(df, "src", "doc_id", 0.5, 5L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected =
      Sampling.takePerStratum(df.where(col("src") === "a"), "src", "doc_id", 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet ++
      Sampling.takePerStratum(df.where(col("src") === "b"), "src", "doc_id", 2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected)
  }

  test("dsirSelect: importance banding routes the budget to target-like docs, deterministically") {
    // skewed two-corpus fixture: docs 1-2 are verbatim target-language
    // (ratio (30+1)/(6+1) → band 2), docs 3-4 are junk with no target hit
    // (ratio (0+1)/(3+1) → band -2); importance mass 24 vs 1.5 routes a
    // 6-token budget entirely to the target-like band
    val st = struct("doc_id" -> LongType, "text" -> StringType)
    val raw = frame(st,
      Row(1L, "alpha beta gamma"), Row(2L, "alpha beta gamma"),
      Row(3L, "j31 j32 j33"), Row(4L, "j41 j42 j43"))
    val target = frame(st,
      (100L until 110L).map(i => Row(i, "alpha beta gamma")): _*)
    def run() = Sampling.dsirSelect(
      raw, target, "doc_id", "text", "text", tokenBudget = 6L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band")))
      .sortBy(_._1).toSeq
    val got = run()
    assert(got == Seq((1L, 2), (2L, 2)),
      s"band-2 target-like docs take the whole budget, junk band -2 gets 0: $got")
    assert(run() == got, "content-keyed selection must be rerun-stable")
    // a larger budget reaches the junk band but selects content-keyed
    val wide = Sampling.dsirSelect(
      raw, target, "doc_id", "text", "text", tokenBudget = 12L)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(wide.toSet.subsetOf(Set(1L, 2L, 3L, 4L)) && wide.size > 2)
    // empty raw corpus selects nothing (no importance evidence at all)
    assert(Sampling.dsirSelect(
      frame(st), target, "doc_id", "text", "text", 10L).count() == 0L)
  }

  test("temperatureMixTokens: an all-zero-token corpus fails loudly, not empty") {
    val st = struct("doc_id" -> LongType, "src" -> StringType, "n_tok" -> LongType)
    val df = frame(st, Row(1L, "a", 0L), Row(2L, "b", null))
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureMixTokens(df, "src", "doc_id", "n_tok", 0.5, 100L)
        .collect()
    }
    assert(e.getMessage.contains("0 total tokens"))
    // an EMPTY corpus (no sources at all) stays a clean empty result — the
    // require only rejects the defined-but-degenerate zero-token case
    assert(Sampling.temperatureMixTokens(
      frame(st), "src", "doc_id", "n_tok", 0.5, 100L).count() == 0L)
  }

  test("takeBudgets: strata past the narrowest bucket width trip the bound; wide requests degrade, not fail") {
    val st = struct("doc_id" -> LongType, "src" -> StringType, "n_tok" -> LongType)
    val rows = (1L to 60L).map(i => Row(i, s"stratum_${i % 6}", 10L))
    val df = frame(st, rows: _*)
    // 6 strata exceed a cap of 8 even at 16^1 buckets — the contract error
    // must fire instead of a silent driver-side collect of an unbounded
    // (strata × buckets) table
    val e = intercept[IllegalArgumentException] {
      Sampling.takeBudgets(df, "src", "doc_id", col("n_tok"), _ => 1000L,
        bucketHexLen = 1, maxClassificationRows = 8)
    }
    assert(e.getMessage.contains("distinct values"))
    // a cap the strata FIT at a narrower width must degrade the bucket
    // width instead of failing (the round-10 form rejected this call:
    // 6 strata × 4096 buckets > 96) — and still answer exactly
    assert(Sampling.takeBudgets(df, "src", "doc_id", col("n_tok"), _ => 1000L,
      bucketHexLen = 3, maxClassificationRows = 96).count() == 60L)
    // binding budgets stay exact through the degraded width
    val kept = Sampling.takeBudgets(df, "src", "doc_id", col("n_tok"),
      _ => 25L, bucketHexLen = 3, maxClassificationRows = 96)
      .groupBy("src").count().collect().map(r => r.getLong(1)).toSeq
    assert(kept.size == 6 && kept.forall(_ == 3L),
      s"25-token budget over 10-token docs keeps 3 per stratum (crossing row kept): $kept")
  }

  test("pipeline ops degrade cleanly on an empty corpus") {
    val empty = docs()
    val evalDocs = docs(1L -> "some eval text here for grams")
    assert(Dedup.minhashPairs(empty, "text", "doc_id", threshold = 0.5).count() == 0)
    assert(Dedup.simhashPairs(empty, "text", "doc_id", maxHamming = 3).count() == 0)
    assert(Packing.chunkByTokens(empty, "doc_id", "text", 16, 16).count() == 0)
    assert(Packing.concatChunkPlan(empty, "doc_id", "text", 64, 4).count() == 0)
    assert(Packing.packFirstFitDecreasing(empty, "doc_id", "text", 64, 4).count() == 0)
    assert(Decontam.contaminationReport(empty, evalDocs, "doc_id", "text", 5).count() == 0)
    assert(Decontam.contaminationReport(evalDocs, empty, "doc_id", "text", 5).count() == 0)
    assert(Decontam.decontaminate(evalDocs, empty, "doc_id", "text", 5).count() == 1)
    assert(TextOps.removeFrequentLines(empty, "doc_id", "text", minDocs = 2).count() == 0)
    assert(TextOps.domainStats(empty, "doc_id", "text").count() == 0)
    assert(Packing.materializeBins(empty, "doc_id", "text", 64, 4).count() == 0)
    assert(Multimodal.frameSample(
      spark, Multimodal.withBinaryPayload(empty, "text", "payload"),
      "doc_id", "payload", everyN = 1).count() == 0)
    assert(Audio.audioMeta(
      spark, Multimodal.withBinaryPayload(empty, "text", "payload"),
      "doc_id", "payload").count() == 0)
    assert(Sampling.md5WeightedMix(Seq((empty, "a", 0.7)), "doc_id").count() == 0)
    assert(TextOps.termFrequencies(empty, "text").count() == 0)
    assert(TextOps.repetitionReport(empty, "doc_id", "text").count() == 0)
    // the round-10 additions: an empty batch probes an index to an empty
    // audit; an oversized DSIR budget keeps every tokened doc
    val st = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    val idx = java.nio.file.Files.createTempDirectory("graft-empty-sem").toString + "/idx"
    Similarity.writeAnnIndex(
      frame(st, Row(1L, Seq(1f, 0f)), Row(2L, Seq(0f, 1f))),
      "embedding", "vec_id", idx, nlist = 2)
    assert(Similarity.semanticDedupAgainstIndex(
      frame(st), "embedding", "vec_id", idx, minCosine = 0.8).count() == 0)
    val raw = docs(1L -> "alpha beta", 2L -> "gamma delta", 3L -> null)
    val sel = Sampling.dsirSelect(
      raw, docs(9L -> "alpha"), "doc_id", "text", "text", tokenBudget = 1000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel == Set(1L, 2L),
      "an oversized budget keeps every doc with tokens; null text has no evidence")
  }

  test("dedupClustersStar: path graphs converge to the component minimum") {
    val nodes = docs((1L to 12L).map(i => i -> s"d$i"): _*)
    // path 1-2-…-8 (diameter 7 — label propagation's worst shape),
    // pair (10,11), singletons 9 and 12
    val pairsDf = frame(struct("id_a" -> LongType, "id_b" -> LongType),
      (1L to 7L).map(i => Row(i, i + 1)) :+ Row(10L, 11L): _*)
    val star = Dedup.dedupClustersStar(nodes, "doc_id", pairsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = ((1L to 8L).map(_ -> 1L) ++
      Seq(9L -> 9L, 10L -> 10L, 11L -> 10L, 12L -> 12L)).toMap
    assert(star == expected)
    // the DISTRIBUTED star rounds (fast path disabled) label identically —
    // the small graph above rode the driver union-find by default
    val distributed = Dedup.dedupClustersStar(nodes, "doc_id", pairsDf,
      maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(distributed == expected)
    // identical labeling from the min-label PROPAGATION rounds (pinned —
    // by default this small graph rides the shared driver fast path, so
    // the default call below only re-checks the fast path's labels)
    val prop = Dedup.dedupClusters(nodes, "doc_id", pairsDf,
      maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star == prop)
    val propFast = Dedup.dedupClusters(nodes, "doc_id", pairsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(propFast == prop)
    // empty edge set → everyone their own rep
    val empty = frame(struct("id_a" -> LongType, "id_b" -> LongType))
    val singletons = Dedup.dedupClustersStar(nodes, "doc_id", empty)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(singletons.forall { case (id, rep) => id == rep })
  }

  test("chunking and pack-plan invariants hold across a varied corpus") {
    // 200 docs with token counts 0..96 and varied vocab — the hand-picked
    // fixtures above pin exact outputs; this pins the CONTRACTS at width
    val corpus = docs((1L to 200L).map { i =>
      val n = ((i * 37 + 11) % 97).toInt
      i -> (1 to n).map(j => s"w${(i * 13 + j * 7) % 31}").mkString(" ")
    }: _*)
    val toks = corpus.select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

    // at stride == chunkSize the chunks PARTITION each token stream
    val chunks = Packing.chunkByTokens(corpus, "doc_id", "text", 16, 16)
      .collect().groupBy(_.getLong(0))
    assert(chunks.keySet == toks.filter(_._2.nonEmpty).keySet,
      "exactly the non-empty docs must chunk")
    chunks.foreach { case (id, rows) =>
      val rebuilt = rows.sortBy(_.getLong(1))
        .flatMap(_.getString(2).split(" ").filter(_.nonEmpty)).toSeq
      assert(rebuilt == toks(id), s"doc $id must rebuild from its chunks")
    }

    // pack-plan layout is gapless per group: each doc starts where the
    // previous ended, offsets stay under capacity, bin spans are exact
    val cap = 64L
    val plan = Packing.concatChunkPlan(corpus, "doc_id", "text", cap, nGroups = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    plan.groupBy(_._2).foreach { case (grp, members) =>
      var cum = 0L
      members.sortBy(_._1).foreach { case (id, _, tok, binFirst, binLast, off) =>
        assert(off == cum % cap && binFirst == cum / cap,
          s"grp=$grp doc=$id must start where the previous doc ended")
        val end = cum + tok
        assert(binLast == (if (tok == 0) cum / cap else (end - 1) / cap))
        assert(binFirst <= binLast)
        cum = end
      }
    }
  }

  test("decontaminate and the report partition the corpus exactly") {
    val common = "alpha beta gamma delta epsilon"
    val corpus = docs((1L to 40L).map { i =>
      if (i % 4 == 0) i -> s"$common unique$i tail words here"
      else i -> (1 to 8).map(j => s"only${i}x$j").mkString(" ")
    }: _*)
    val eval_ = docs(100L -> s"prefix words $common suffix")
    val contaminated = Decontam.contaminationReport(corpus, eval_, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clean = Decontam.decontaminate(corpus, eval_, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(contaminated == (1L to 40L).filter(_ % 4 == 0).toSet)
    assert(clean == (1L to 40L).toSet -- contaminated)
  }

  test("packFirstFitDecreasing: exact FFD placements, oversize gets own bin") {
    def ofTokens(rows: (Long, Int)*) =
      docs(rows.map { case (id, n) => id -> Seq.fill(n)("t").mkString(" ") }: _*)
    val df = ofTokens(1L -> 9, 2L -> 6, 3L -> 6, 4L -> 4, 5L -> 2, 6L -> 1)
    val out = Packing.packFirstFitDecreasing(df, "doc_id", "text",
      capacity = 10, nGroups = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    // sorted (tok desc, id): 9,6,6,4,2,1 → bins [9+1][6+4][6+2]
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 2, 6L -> 0))
    val oversize = Packing.packFirstFitDecreasing(
      ofTokens(1L -> 12, 2L -> 3), "doc_id", "text", capacity = 10, nGroups = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(oversize == Map(1L -> 0, 2L -> 1),
      "an over-capacity doc must sit alone; later docs must not join its bin")
  }

  test("materializeBins emits exact capacity-boundary sequences") {
    // same corpus as the concatChunkPlan test: cum 3,5,9 at capacity 4 →
    // bins "a b c d" / "e f g h" / "i" (doc 2 and 3 straddle)
    val df = docs(1L -> "a b c", 2L -> "d e", 3L -> "f g h i")
    val out = Packing.materializeBins(df, "doc_id", "text", capacity = 4, nGroups = 1)
      .orderBy("bin").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, "a b c d", 4L), (1L, "e f g h", 4L), (2L, "i", 1L)))
    // zero-token and empty corpora degrade cleanly
    assert(Packing.materializeBins(
      docs(1L -> "   "), "doc_id", "text", 4, 1).count() == 0)
    assert(Packing.materializeBins(docs(), "doc_id", "text", 4, 1).count() == 0)
    // rebuild property on a larger corpus: bins concatenated in order
    // reproduce the group's documents laid end-to-end
    val corpus = docs((1L to 40L).map(i =>
      i -> (1 to (i % 7 + 1).toInt).map(j => s"t${i}x$j").mkString(" ")): _*)
    val bins = Packing.materializeBins(corpus, "doc_id", "text", 16, nGroups = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
    bins.groupBy(_._1).foreach { case (grp, members) =>
      val sorted = members.sortBy(_._2)
      // all bins full except the last
      sorted.init.foreach { case (_, b, _, n) => assert(n == 16L, s"grp=$grp bin=$b") }
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq)
    }
    val rebuilt = bins.groupBy(_._1).map { case (grp, members) =>
      grp -> members.sortBy(_._2).flatMap(_._3.split(" ")).toSeq
    }
    val expected = Packing.concatChunkPlan(corpus, "doc_id", "text", 16, 4)
      .select("doc_id", "grp").collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._2).map { case (grp, ms) =>
        grp -> ms.map(_._1).sorted.flatMap(id =>
          (1 to (id % 7 + 1).toInt).map(j => s"t${id}x$j")).toSeq
      }
    assert(rebuilt == expected)
  }

  test("packFirstFitDecreasing accepts string ids, lexicographic tie-break") {
    def ofTokens(rows: (String, Int)*) =
      frame(struct("doc_id" -> StringType, "text" -> StringType),
        rows.map { case (id, n) => Row(id, Seq.fill(n)("t").mkString(" ")) }: _*)
    val df = ofTokens("url-b" -> 6, "url-a10" -> 6, "url-a2" -> 4)
    val out = Packing.packFirstFitDecreasing(df, "doc_id", "text",
      capacity = 10, nGroups = 1)
    assert(out.schema("doc_id").dataType == StringType,
      "string ids must round-trip as strings")
    val placed = out.collect().map(r => (r.getString(0), r.getInt(2))).toMap
    // sorted (tok desc, id lex): url-a10, url-b both 6 tokens; a10 < a2 < b
    // lexicographically → bins [a10+a2][b]
    assert(placed == Map("url-a10" -> 0, "url-b" -> 1, "url-a2" -> 0))
    // unsupported id types still fail loudly, not null-cast
    val bad = frame(struct("doc_id" -> DoubleType, "text" -> StringType), Row(1.0, "t"))
    val err = intercept[IllegalArgumentException] {
      Packing.packFirstFitDecreasing(bad, "doc_id", "text", 10, 1)
    }
    assert(err.getMessage.contains("integral or string"))
  }

  test("null text stays null through removeFrequentLines; zero vectors never match") {
    val df = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "HDR\nbody one"), Row(2L, "HDR\nbody two"), Row(3L, null))
    val cleaned = TextOps.removeFrequentLines(df, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect().map(_.getAs[String]("cleaned"))
    assert(cleaned.toSeq == Seq("body one", "body two", null))
    // a zero-magnitude query vector has NaN cosine to everything — it must
    // match nothing, not everything
    val vecs = frame(struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(0L, Seq(0.0f, 0.0f)), Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(0.9f, 0.1f)))
    val out = Similarity.rangeSearch(
      vecs, vecs.where(col("vec_id") === 0), "embedding", "vec_id", minCosine = -1.0)
    assert(out.count() == 0)
  }

  test("corpusDiff classifies added/removed/changed/unchanged, null-safe") {
    val before = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "same"), Row(2L, "old"), Row(3L, "gone"), Row(4L, null))
    val after = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "same"), Row(2L, "new"), Row(4L, null), Row(5L, "fresh"))
    val st = Dedup.corpusDiff(before, after, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(st == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"),
      "null text present on both sides must read unchanged, not added")
  }

  test("redactContaminated removes exactly the covered token spans") {
    val train = docs(
      1L -> "aa bb cc dd ee ff gg",
      2L -> "clean words only here now",
      3L -> null)
    val eval_ = docs(10L -> "bb cc dd")
    val out = Decontam.redactContaminated(train, eval_, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    // the one shared 3-gram covers bb cc dd and nothing else
    assert(out(0).getAs[String]("cleaned") == "aa ee ff gg")
    assert(out(0).getAs[Long]("n_removed_tokens") == 3L)
    assert(out(1).getAs[String]("cleaned") == "clean words only here now")
    assert(out(1).getAs[Long]("n_removed_tokens") == 0L)
    assert(out(2).isNullAt(out(2).fieldIndex("cleaned")), "null text stays null")
    // overlapping matches union their spans, not double-remove
    val overlap = Decontam.redactContaminated(
      docs(1L -> "x aa bb cc dd y"), docs(10L -> "aa bb cc dd"),
      "doc_id", "text", n = 3).head()
    assert(overlap.getAs[String]("cleaned") == "x y")
    assert(overlap.getAs[Long]("n_removed_tokens") == 4L)
  }

  test("scriptColumns counts per-script chars on a mixed fixture") {
    val df = docs(1L -> "abc где 中文 ملف 12!")
    val out = df.select(
      TextOps.scriptColumns(col("text")).map { case (n, c) => c.as(n) }: _*).head()
    // 3 latin, 3 cyrillic, 2 han, 3 arabic; 14 non-space chars total
    assert((0 to 4).map(out.getLong).toSeq == Seq(3L, 3L, 2L, 3L, 14L))
  }

  test("tokenHistogram buckets by exact integer division") {
    val df = docs(
      1L -> "a b c", 2L -> "a",
      3L -> (1 to 35).map(i => s"t$i").mkString(" "), 4L -> "")
    val out = TextOps.tokenHistogram(df, "text", bucketWidth = 32)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 0L, 31L, 3L), (1L, 32L, 63L, 1L)))
  }

  test("minhashPairsAgainst finds only cross-side pairs") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "tokenX")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    // 1 and 2 are near-dups of each other (both NEW); 10 is the existing
    // copy; 11 is unrelated existing
    val newDocs = docs(1L -> base, 2L -> nearDup)
    val existing = docs(10L -> base, 11L -> other)
    val pairs = Dedup.minhashPairsAgainst(
      newDocs, existing, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L), (2L, 10L)),
      "both new docs match the existing copy; the new-new pair must NOT appear")
    // empty new side → no pairs, and never an error
    assert(Dedup.minhashPairsAgainst(
      docs(), existing, "text", "doc_id").count() == 0)
    // the persisted-index probe gives the identical pair set, with the
    // banding parameters coming from the index's own epoch header
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-idx").toString
    Dedup.writeDedupIndex(existing, "text", "doc_id", idx)
    val viaIndex = Dedup.minhashPairsAgainstIndex(
      newDocs, "text", "doc_id", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == pairs)
  }

  private def readIndexTables(path: String) = {
    val ep = Dedup.resolveIndex(spark, path)
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    (triples(Dedup.indexBuckets(spark, ep)),
      Dedup.indexSets(spark, ep)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet,
      triples(Dedup.indexDropped(spark, ep)))
  }

  test("appendDedupIndex equals a full rebuild on the union corpus") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val dupText = (1 to 40).map(i => s"common$i").mkString(" ")
    // three identical docs at maxBucketSize=2 ⇒ every one of their buckets
    // is oversize ⇒ tombstoned at build time
    val corpusA = docs(1L -> dupText, 2L -> dupText, 3L -> dupText,
      4L -> base, 5L -> (1 to 40).map(i => s"other$i").mkString(" "))
    // 6 arrives INTO the tombstoned buckets (must stay dropped — the
    // resurrection bug this test exists to catch); 7 is a keepable near-dup
    val batchB = docs(6L -> dupText, 7L -> base.replace("token7", "tokenX"))
    val appended = java.nio.file.Files.createTempDirectory("graft-idx-app").toString
    Dedup.writeDedupIndex(corpusA, "text", "doc_id", appended, maxBucketSize = 2)
    // snapshot the build's immutable sets files — the append must carry
    // them forward by reference, never rewrite them
    def fileState(p: String) = new java.io.File(p).listFiles()
      .map(f => (f.getName, f.lastModified)).toSet
    val setsV1 = s"$appended/data/sets-000000001"
    val setsV1Before = fileState(setsV1)
    Dedup.appendDedupIndex(batchB, "text", "doc_id", appended)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-idx-reb").toString
    Dedup.writeDedupIndex(corpusA.unionByName(batchB), "text", "doc_id",
      rebuilt, maxBucketSize = 2)
    val (ab, as2, ad) = readIndexTables(appended)
    val (rb, rs, rd) = readIndexTables(rebuilt)
    assert(ab == rb, "kept buckets differ from full rebuild")
    assert(as2 == rs, "hashed shingle sets differ from full rebuild")
    assert(ad == rd, "tombstones differ from full rebuild")
    assert(ad.nonEmpty, "fixture must exercise the tombstone path")
    // epoch layout: the pointer, the shared data dirs, the live epoch, and
    // ONE retained predecessor (grace for in-flight readers) — no stray
    // staging dirs
    val leftovers = new java.io.File(appended).list().toSet
      .filterNot(_.startsWith(".")) // local-FS .crc checksum siblings
    assert(leftovers ==
      Set("current", "data", "epoch-000000001", "epoch-000000002"), leftovers)
    assert(new java.io.File(EpochStore.epochDir(spark, appended)).list().toSet
      .filterNot(_.startsWith(".")) == Set("header", "dropped", "idbloom.deflate"))
    // the delta contract: the append wrote ONLY its delta dirs; the
    // standing data is referenced by the new manifest, not copied
    assert(new java.io.File(s"$appended/data").list().toSet == Set(
      "buckets-000000001", "sets-000000001",
      "buckets-000000002", "sets-000000002"))
    assert(Dedup.resolveIndex(spark, appended).header.manifest.toSet == Set(
        "buckets" -> "buckets-000000001", "sets" -> "sets-000000001",
        "buckets" -> "buckets-000000002", "sets" -> "sets-000000002"))
    assert(fileState(setsV1) == setsV1Before,
      "append must not rewrite the standing sets files")

    // probe after append ≡ minhashPairsAgainst on the union corpus at the
    // index's own bucket cap (the tombstoned cluster is invisible to both)
    // token9 is a prefix of no other token in 1..40, so exactly one token
    // differs from base (token3 would also hit token30..token39)
    val probes = docs(20L -> base.replace("token9", "tokenY"),
      21L -> dupText, 22L -> (1 to 40).map(i => s"zzz$i").mkString(" "))
    val viaIndex = Dedup.minhashPairsAgainstIndex(
      probes, "text", "doc_id", appended, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.minhashPairsAgainst(
      probes, corpusA.unionByName(batchB), "text", "doc_id",
      threshold = 0.5, maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct)
    assert(viaIndex == Set((20L, 4L), (20L, 7L)),
      "probe finds the kept near-dups and not the tombstoned cluster")

    // a SECOND append (tombstones must survive and re-total through
    // chained appends) and an EMPTY append (a no-op) keep the equality
    val batchC = docs(8L -> dupText, 9L -> (1 to 40).map(i => s"more$i").mkString(" "))
    Dedup.appendDedupIndex(batchC, "text", "doc_id", appended)
    Dedup.appendDedupIndex(docs(), "text", "doc_id", appended)
    val rebuilt3 = java.nio.file.Files.createTempDirectory("graft-idx-reb3").toString
    Dedup.writeDedupIndex(
      corpusA.unionByName(batchB).unionByName(batchC), "text", "doc_id",
      rebuilt3, maxBucketSize = 2)
    val (ab3, as3, ad3) = readIndexTables(appended)
    val (rb3, rs3, rd3) = readIndexTables(rebuilt3)
    assert(ab3 == rb3 && as3 == rs3 && ad3 == rd3,
      "append∘append∘append-empty must equal the three-corpus rebuild")
  }

  test("compactDedupIndex merges delta history; tables and probe unchanged") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val dupText = (1 to 40).map(i => s"common$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-comp").toString
    Dedup.writeDedupIndex(docs(1L -> dupText, 2L -> dupText, 3L -> dupText,
      4L -> base), "text", "doc_id", idx, maxBucketSize = 2)
    Dedup.appendDedupIndex(
      docs(5L -> base.replace("token9", "tokenY")), "text", "doc_id", idx)
    Dedup.appendDedupIndex(docs(6L -> dupText), "text", "doc_id", idx)
    val before = readIndexTables(idx)
    val probe = docs(20L -> base.replace("token11", "tokenZ"))
    val pairsBefore = Dedup.minhashPairsAgainstIndex(
      probe, "text", "doc_id", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(new java.io.File(s"$idx/data").list().length == 6,
      "three generations of delta dirs before compaction")
    // retainEpochs = 1: GC lets go of the delta epochs immediately, so the
    // now-unreferenced delta dirs are deleted in the same call
    Dedup.compactDedupIndex(spark, idx, retainEpochs = 1)
    assert(readIndexTables(idx) == before,
      "compaction must preserve all three tables exactly")
    val pairsAfter = Dedup.minhashPairsAgainstIndex(
      probe, "text", "doc_id", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAfter == pairsBefore)
    assert(new java.io.File(s"$idx/data").list().toSet ==
      Set("buckets-000000004", "sets-000000004"),
      "compaction leaves ONE data dir per table and GC deletes the deltas")
    assert(new java.io.File(idx).list().filterNot(_.startsWith(".")).toSet ==
      Set("current", "data", "epoch-000000004"))
    // a compacted index keeps appending normally
    Dedup.appendDedupIndex(docs(7L -> base), "text", "doc_id", idx)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-idx-compr").toString
    Dedup.writeDedupIndex(docs(1L -> dupText, 2L -> dupText, 3L -> dupText,
      4L -> base, 5L -> base.replace("token9", "tokenY"), 6L -> dupText,
      7L -> base), "text", "doc_id", rebuilt, maxBucketSize = 2)
    assert(readIndexTables(idx) == readIndexTables(rebuilt),
      "append after compaction must still equal the full rebuild")
  }

  test("writeDedupIndex over a live index commits a new epoch non-destructively") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-rebuild").toString
    Dedup.writeDedupIndex(docs(1L -> base), "text", "doc_id", idx)
    val ep1 = Dedup.resolveIndex(spark, idx)
    // rebuild with a different corpus: epoch 2, atomically committed — the
    // old epoch (and its data files) stay readable for in-flight readers
    Dedup.writeDedupIndex(
      docs(2L -> base.replace("token9", "tokenY")), "text", "doc_id", idx)
    assert(EpochStore.epochDir(spark, idx).endsWith("epoch-000000002"))
    val pairs = Dedup.minhashPairsAgainstIndex(
      docs(30L -> base), "text", "doc_id", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((30L, 2L)), "probe must see ONLY the rebuilt corpus")
    assert(Dedup.indexSets(spark, ep1).collect().map(_.getLong(0)).toSet ==
      Set(1L), "a reader that resolved the old epoch keeps working")
    // the concurrent-writer tripwire: committing an epoch derived from a
    // stale base fails loudly instead of silently dropping rows
    val race = intercept[IllegalArgumentException] {
      EpochStore.commitEpoch(spark, idx, "epoch-000000009",
        Some("epoch-000000001"))
    }
    assert(race.getMessage.contains("concurrent writer"))
  }

  test("writer lease: the losing writer fails PRE-write; stale leases are taken over") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-lease").toString
    Dedup.writeDedupIndex(docs(1L -> base), "text", "doc_id", idx)
    assert(!new java.io.File(s"$idx/${EpochStore.LeaseFileName}").exists(),
      "a successful lifecycle op must release its lease")
    // a held lease makes the next writer throw BEFORE doing any work:
    // pointer unchanged, zero new data dirs, no staged debris
    val token = EpochStore.acquireLease(spark, idx)
    val dataBefore = new java.io.File(s"$idx/data").list().toSet
    val epochBefore = EpochStore.epochDir(spark, idx)
    val loser = intercept[IllegalStateException] {
      Dedup.appendDedupIndex(
        docs(2L -> base.replace("token9", "tokenY")), "text", "doc_id", idx)
    }
    assert(loser.getMessage.contains("lease"))
    assert(new java.io.File(s"$idx/data").list().toSet == dataBefore,
      "the loser must not have written anything")
    assert(EpochStore.epochDir(spark, idx) == epochBefore)
    // every lifecycle kind shares the gate — a build on a leased ANN path
    // fails identically (before training, before any write)
    val annIdx = java.nio.file.Files.createTempDirectory("graft-ann-lease").toString
    val annTok = EpochStore.acquireLease(spark, annIdx)
    intercept[IllegalStateException] {
      Similarity.writeAnnIndex(
        frame(struct("vec_id" -> LongType, "vec" -> ArrayType(FloatType)),
          Row(1L, Seq(1f, 0f)), Row(2L, Seq(0f, 1f))),
        "vec", "vec_id", annIdx, nlist = 2)
    }
    EpochStore.releaseLease(spark, annIdx, annTok)
    // release: the blocked append now proceeds normally
    EpochStore.releaseLease(spark, idx, token)
    Dedup.appendDedupIndex(
      docs(2L -> base.replace("token9", "tokenY")), "text", "doc_id", idx)
    assert(EpochStore.epochDir(spark, idx).endsWith("epoch-000000002"))
    // a crashed writer's lease goes stale by age and is taken over
    val t2 = EpochStore.acquireLease(spark, idx)
    val leaseFile = new java.io.File(s"$idx/${EpochStore.LeaseFileName}")
    assert(leaseFile.setLastModified(
      System.currentTimeMillis() - 10L * 60 * 60 * 1000))
    Dedup.appendDedupIndex(docs(3L -> base), "text", "doc_id", idx)
    assert(EpochStore.epochDir(spark, idx).endsWith("epoch-000000003"),
      "the takeover append must commit")
    assert(!leaseFile.exists(), "the takeover writer releases ITS lease")
    // releasing a token that lost its lease to takeover is a no-op
    EpochStore.releaseLease(spark, idx, t2)
  }

  test("lease fence: a double-takeover loser fails AT commit, before the rename") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-fence").toString
    Dedup.writeDedupIndex(docs(1L -> base), "text", "doc_id", idx)
    val epochBefore = EpochStore.epochDir(spark, idx)
    assert(epochBefore.endsWith("epoch-000000001"))
    // simulate the non-atomic-create double-takeover: while OUR lifecycle
    // holds the lease, a second stale-lease claimant overwrites the lease
    // CONTENT with its own token (last-content-write-wins on stores
    // without atomic create-if-absent). The displaced writer must fail at
    // the fence check inside commitEpoch — before the pointer rename —
    // not discover the conflict after publishing an epoch
    val e = intercept[IllegalArgumentException] {
      EpochStore.withLease(spark, idx) {
        val fs = EpochStore.hadoopFs(spark, idx)
        val p = new org.apache.hadoop.fs.Path(idx, EpochStore.LeaseFileName)
        val out = fs.create(p, true)
        try out.write("intruder-token".getBytes("UTF-8")) finally out.close()
        EpochStore.commitEpoch(spark, idx, "epoch-000000002",
          Some("epoch-000000001"))
      }
    }
    assert(e.getMessage.contains("taken over"))
    assert(EpochStore.epochDir(spark, idx) == epochBefore,
      "the fenced commit must not have moved the pointer")
    // our release leaves the new holder's lease untouched
    assert(new java.io.File(s"$idx/${EpochStore.LeaseFileName}").exists(),
      "the displaced writer must not delete the intruder's lease")
    new java.io.File(s"$idx/${EpochStore.LeaseFileName}").delete()
    // a lifecycle whose lease is NOT disturbed still commits normally
    Dedup.appendDedupIndex(
      docs(2L -> base.replace("token9", "tokenY")), "text", "doc_id", idx)
    assert(EpochStore.epochDir(spark, idx).endsWith("epoch-000000002"))
  }

  test("id-bloom append guard: clean appends skip the exact id scan, dups still rejected") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-bloom").toString
    Dedup.writeDedupIndex(docs(1L -> base), "text", "doc_id", idx)
    val ep1 = Dedup.resolveIndex(spark, idx)
    assert(ep1.header.bloom.isDefined && EpochStore.readIdBloom(spark, ep1).nonEmpty,
      "a fresh build must carry an id bloom")
    // the guard decision: a disjoint batch is CLEARED by the bloom (no
    // standing id data touched at all); an overlapping batch falls back
    assert(!EpochStore.idGuardNeedsExact(spark, ep1, docs(2L -> base), "doc_id"),
      "a clean batch must skip the exact semi-join")
    assert(EpochStore.idGuardNeedsExact(spark, ep1, docs(1L -> base), "doc_id"),
      "a duplicate id must force the exact check (no false negatives)")
    // lifecycle behavior unchanged: clean appends commit, dups reject loudly
    Dedup.appendDedupIndex(
      docs(2L -> base.replace("token9", "tokenY")), "text", "doc_id", idx)
    val err = intercept[IllegalArgumentException] {
      Dedup.appendDedupIndex(docs(2L -> base), "text", "doc_id", idx)
    }
    assert(err.getMessage.contains("already present"))
    // the merged successor bloom covers BOTH generations of ids
    val ep2 = Dedup.resolveIndex(spark, idx)
    assert(EpochStore.idGuardNeedsExact(spark, ep2, docs(1L -> base), "doc_id"))
    assert(EpochStore.idGuardNeedsExact(spark, ep2, docs(2L -> base), "doc_id"))
    assert(!EpochStore.idGuardNeedsExact(spark, ep2, docs(77L -> base), "doc_id"))
    // compaction right-sizes a fresh bloom; coverage unchanged
    Dedup.compactDedupIndex(spark, idx)
    val epC = Dedup.resolveIndex(spark, idx)
    assert(epC.header.bloom.isDefined)
    assert(EpochStore.idGuardNeedsExact(spark, epC, docs(2L -> base), "doc_id"))
    assert(!EpochStore.idGuardNeedsExact(spark, epC, docs(79L -> base), "doc_id"))
    // the ANN lifecycle shares the guard
    val annIdx = java.nio.file.Files.createTempDirectory("graft-ann-bloom").toString
    val vecSt = struct("vec_id" -> LongType, "vec" -> ArrayType(FloatType))
    Similarity.writeAnnIndex(
      frame(vecSt, Row(1L, Seq(1f, 0f)), Row(2L, Seq(0f, 1f))),
      "vec", "vec_id", annIdx, nlist = 2)
    val annEp = Similarity.resolveAnnIndex(spark, annIdx)
    assert(annEp.header.bloom.isDefined)
    assert(!EpochStore.idGuardNeedsExact(spark, annEp,
      frame(vecSt, Row(9L, Seq(1f, 1f))), "vec_id"))
    assert(EpochStore.idGuardNeedsExact(spark, annEp,
      frame(vecSt, Row(1L, Seq(1f, 1f))), "vec_id"))
  }

  /** Rewrite a committed index into the layout builds wrote before epoch
    * headers: `manifest` and `meta` parquet tables, no header, no sidecar.
    */
  private def toPreHeaderLayout(idx: String): Unit = {
    import spark.implicits._
    val live = EpochStore.epochDir(spark, idx)
    val h = EpochStore.readHeader(spark, live).get
    h.manifest.toDF("table", "dir").coalesce(1).write.parquet(s"$live/manifest")
    Seq(Tuple1(1)).toDF("format_version").coalesce(1).write.parquet(s"$live/meta")
    val fs = EpochStore.hadoopFs(spark, live)
    fs.delete(new org.apache.hadoop.fs.Path(live, EpochStore.HeaderFileName), false)
    fs.delete(new org.apache.hadoop.fs.Path(live, EpochStore.IdBloomFileName), false)
  }

  test("pre-header index dirs: lifecycles fail with the rebuild message; a build resets them") {
    val root = java.nio.file.Files.createTempDirectory("graft-preheader").toString
    val corpus = docs(1L -> "alpha beta\n\ngamma delta", 2L -> "alpha beta")
    val batch = docs(3L -> "alpha beta\n\nnew para")
    def live(p: String) = new java.io.File(EpochStore.epochDir(spark, p)).list().toSet
      .filterNot(_.startsWith("."))
    // paragraph index: probe, append and compact all refuse the old layout
    val para = s"$root/para"
    Dedup.writeParagraphIndex(corpus, "text", para)
    toPreHeaderLayout(para)
    Seq[() => Any](
      () => Dedup.dedupParagraphsAgainstIndex(batch, "doc_id", "text", para),
      () => Dedup.appendParagraphIndex(batch, "text", para),
      () => Dedup.compactParagraphIndex(spark, para)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("pre-header") &&
        e.getMessage.contains("rebuild it with writeParagraphIndex"), e.getMessage)
    }
    // token-frequency index (bloom-carrying): same three refusals
    val tf = s"$root/tf"
    TextOps.writeTokenFrequencyIndex(corpus, "doc_id", "text", tf)
    toPreHeaderLayout(tf)
    Seq[() => Any](
      () => TextOps.frequencyScoreAgainstIndex(batch, "doc_id", "text", tf),
      () => TextOps.appendTokenFrequencyIndex(batch, "doc_id", "text", tf),
      () => TextOps.compactTokenFrequencyIndex(spark, tf)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("rebuild it with writeTokenFrequencyIndex"), e.getMessage)
    }
    assert(EpochStore.currentEpoch(spark, tf).contains("epoch-000000001"))
    // a build over the old layout resets it and starts over at epoch 1
    Dedup.writeParagraphIndex(corpus, "text", para)
    TextOps.writeTokenFrequencyIndex(corpus, "doc_id", "text", tf)
    assert(live(para) == Set("header"))
    assert(live(tf) == Set("header", EpochStore.IdBloomFileName))
    assert(EpochStore.currentEpoch(spark, tf).contains("epoch-000000001"))
    assert(new java.io.File(tf).list().toSet.filterNot(_.startsWith(".")) ==
      Set("current", "data", "epoch-000000001"))
    // …and the rebuilt indexes work end to end
    TextOps.appendTokenFrequencyIndex(batch, "doc_id", "text", tf)
    assert(TextOps.indexTokenFrequencies(spark, tf)
      .where(col("token") === "alpha").head().getLong(1) == 3L)
    assert(Dedup.dedupParagraphsAgainstIndex(batch, "doc_id", "text", para)
      .select("cleaned").head().getString(0) == "new para")
  }

  test("a truncated or CRC-mismatched epoch header fails loudly on probe and append") {
    type HPath = org.apache.hadoop.fs.Path
    val idx = java.nio.file.Files.createTempDirectory("graft-hdr-corrupt").toString
    val corpus = docs(1L -> "alpha beta", 2L -> "beta gamma")
    TextOps.writeTokenFrequencyIndex(corpus, "doc_id", "text", idx)
    val fs = EpochStore.hadoopFs(spark, idx)
    def read(p: HPath) = { val in = fs.open(p); try in.readAllBytes() finally in.close() }
    // written through the FS API, so only the file's own checks can object
    def write(p: HPath, bytes: Array[Byte]): Unit = {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    }
    def flip(b: Array[Byte], i: Int) = { val c = b.clone(); c(i) = (c(i) ^ 0x01).toByte; c }
    def corrupt(damage: (Array[Byte], String)*) =
      damage.map { case (bad, why) => bad -> Seq("corrupt", why) }
    val headerDamage = (ok: Array[Byte]) => corrupt(ok.dropRight(7) -> "truncated",
      flip(ok, ok.length - 3) -> "CRC32 mismatch", Array.emptyByteArray -> "no header line")
    val bloomDamage = (ok: Array[Byte]) =>
      corrupt(ok.dropRight(7) -> "id bloom", flip(ok, ok.length / 2) -> "id bloom")
    /** Each op fails loudly, its message naming every word of the damage,
      * while `p` holds each damaged copy of itself; `p` is restored
      * afterwards.
      */
    def refused(p: HPath, damage: Array[Byte] => Seq[(Array[Byte], Seq[String])])(
        ops: (() => Any)*): Unit = {
      val ok = read(p)
      damage(ok).foreach { case (bad, words) =>
        write(p, bad)
        ops.foreach { op =>
          val e = intercept[IllegalStateException](op())
          assert(words.forall(e.getMessage.contains), e.getMessage)
        }
      }
      write(p, ok)
    }
    val batch = docs(3L -> "gamma delta")
    def probe() = TextOps.frequencyScoreAgainstIndex(batch, "doc_id", "text", idx).collect()
    def append(b: org.apache.spark.sql.DataFrame = batch) =
      TextOps.appendTokenFrequencyIndex(b, "doc_id", "text", idx)
    def live(file: String) = new HPath(EpochStore.epochDir(spark, idx), file)
    refused(live(EpochStore.HeaderFileName), headerDamage)(() => probe(), () => append())
    // a well-formed header whose manifest names a table its schema map lacks
    val schemaLess = (_: Array[Byte]) => {
      val h = EpochStore.readHeader(spark, EpochStore.epochDir(spark, idx)).get
      val dir = java.nio.file.Files.createTempDirectory("graft-hdr-schemaless").toString
      EpochStore.writeHeader(spark, dir, h.copy(schemas = h.schemas - "tf"))
      assert(h.manifest.exists(_._1 == "tf"))
      Seq(read(new HPath(dir, EpochStore.HeaderFileName)) ->
        Seq("records no schema for table 'tf'"))
    }
    refused(live(EpochStore.HeaderFileName), schemaLess)(() => probe())
    assert(EpochStore.currentEpoch(spark, idx).contains("epoch-000000001"),
      "a refused append must not commit")
    append()
    assert(probe().length == 1)
    // a bloomed index's id-bloom sidecar
    refused(live(EpochStore.IdBloomFileName), bloomDamage)(() => append(docs(4L -> "delta eps")))
    assert(EpochStore.currentEpoch(spark, idx).contains("epoch-000000002"))
    // a manifest entry whose data dir is gone
    val tfDir = new java.io.File(s"$idx/data/tf-000000001")
    val moved = new java.io.File(s"$idx/tf-moved")
    assert(tfDir.renameTo(moved))
    val missing = intercept[Exception](probe())
    assert(missing.getMessage.contains("tf-000000001"), missing.getMessage)
    assert(moved.renameTo(tfDir))
    assert(probe().length == 1)
    // the sized-shard log's header and bloom
    val st = struct("id" -> LongType, "w" -> LongType)
    val log = s"$idx-log"
    Sink.writeSizedShards(frame(st, (1L to 20L).map(i => Row(i, 7L)): _*), log, "id", "w", 50L)
    def logAppend() =
      Sink.appendSizedShards(frame(st, (21L to 25L).map(i => Row(i, 9L)): _*), log, "id", "w", 50L)
    refused(new HPath(s"$log/_log_meta", EpochStore.HeaderFileName), headerDamage)(
      () => logAppend(), () => Sink.verifySizedLog(spark, log, "id", "w"))
    refused(new HPath(s"$log/_log_meta", EpochStore.IdBloomFileName), bloomDamage)(
      () => logAppend())
    logAppend()
    assert(spark.read.parquet(log).count() == 25L)
  }

  test("epoch metadata costs no Spark jobs; a clean paragraph append stays within 6") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-hdr-jobs").toString
    Dedup.writeDedupIndex(docs(1L -> base, 2L -> (base + " x")), "text", "doc_id", idx)
    Dedup.appendDedupIndex(docs(3L -> (base + " y")), "text", "doc_id", idx)
    val (ep, resolveJobs) = JobCount.of(spark)(Dedup.resolveIndex(spark, idx))
    assert(resolveJobs == 0, s"parsing the epoch header launched $resolveJobs jobs")
    val (_, readJobs) = JobCount.of(spark) {
      EpochStore.readTable(spark, ep, "sets")
      Dedup.indexBuckets(spark, ep)
    }
    assert(readJobs == 0, s"building readTable DataFrames launched $readJobs jobs")
    val (_, gcJobs) = JobCount.of(spark)(EpochStore.gc(spark, idx, ep.name, 2))
    assert(gcJobs == 0, s"gc's reference scan launched $gcJobs jobs")
    val para = java.nio.file.Files.createTempDirectory("graft-hdr-pjobs").toString
    Dedup.writeParagraphIndex(docs(1L -> "a b\n\nc d", 2L -> "e f"), "text", para)
    val (_, appendJobs) = JobCount.of(spark)(
      Dedup.appendParagraphIndex(docs(3L -> "a b\n\ng h"), "text", para))
    assert(EpochStore.currentEpoch(spark, para).contains("epoch-000000002"))
    assert(appendJobs <= 6, s"a clean paragraph append launched $appendJobs jobs")
  }

  test("id-bloom sidecar: a 2^20-capacity bloom over ~1k ids stays under 64 KB on disk") {
    val idx = java.nio.file.Files.createTempDirectory("graft-hdr-bloom").toString
    TextOps.writeTokenFrequencyIndex(
      spark.range(1000).select(col("id").as("doc_id"), lit("a b").as("text")),
      "doc_id", "text", idx)
    val ep = TextOps.resolveTokenFrequencyIndex(spark, idx)
    assert(ep.header.bloom.contains(EpochStore.IdBloom(1L << 20, EpochStore.IdBloomFpp)))
    val sidecar = new java.io.File(ep.dir, EpochStore.IdBloomFileName)
    assert(sidecar.length() < 64L * 1024, s"sidecar is ${sidecar.length()} bytes")
    assert(EpochStore.readIdBloom(spark, ep).length > 1000000,
      "the sidecar must inflate to the full bit array")
  }

  test("counter replay guard: duplicated standing ids fail a partial replay loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-dupids").toString
    val labeled = frame(struct("doc_id" -> LongType, "text" -> StringType,
      "pos" -> BooleanType),
      Row(1L, "a b", true), Row(2L, "b c", false), Row(3L, "c d", true))
    /** Corrupt the live epoch: its `ids` table lists every id twice. */
    def duplicateIds(idx: String): Unit = {
      val live = EpochStore.epochDir(spark, idx)
      val h = EpochStore.readHeader(spark, live).get
      val fs = EpochStore.hadoopFs(spark, idx)
      val ids = h.manifest.collect { case ("ids", d) => d }.head
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$idx/data/$ids"),
        fs, new org.apache.hadoop.fs.Path(s"$idx/data/ids-dup"), false,
        spark.sparkContext.hadoopConfiguration)
      EpochStore.writeHeader(spark, live, h.copy(manifest = h.manifest :+ ("ids" -> "ids-dup")))
    }
    // batch {3, 4}: id 3 matches two standing rows, so row-counted overlap
    // equals the batch's distinct total — a full replay by the numbers,
    // which would drop id 4 silently
    val replay = labeled.where(col("doc_id") === 3L)
      .unionByName(frame(labeled.schema, Row(4L, "d e", false)))
    val tf = s"$root/tf"
    TextOps.writeTokenFrequencyIndex(labeled, "doc_id", "text", tf)
    duplicateIds(tf)
    val tfErr = intercept[IllegalArgumentException](
      TextOps.appendTokenFrequencyIndex(replay, "doc_id", "text", tf))
    assert(tfErr.getMessage.contains("duplicate ids"), tfErr.getMessage)
    assert(EpochStore.currentEpoch(spark, tf).contains("epoch-000000001"))
    val cls = s"$root/cls"
    LangModel.writeClassifierIndex(labeled, "doc_id", "text", "pos", cls)
    duplicateIds(cls)
    val clsErr = intercept[IllegalArgumentException](
      LangModel.appendClassifierIndex(replay, "doc_id", "text", "pos", cls))
    assert(clsErr.getMessage.contains("duplicate ids"), clsErr.getMessage)
    assert(EpochStore.currentEpoch(spark, cls).contains("epoch-000000001"))
  }

  test("index commit is atomic: uncommitted epochs are invisible, dup ids rejected") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-atomic").toString
    Dedup.writeDedupIndex(docs(10L -> base), "text", "doc_id", idx)
    val before = readIndexTables(idx)
    // a crashed append = a complete-looking epoch dir that was never
    // committed — readers must keep resolving the pointed-at epoch
    val stale = new java.io.File(s"$idx/epoch-000000099")
    assert(stale.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/epoch-000000099/garbage"), "x".getBytes)
    assert(readIndexTables(idx) == before, "stale epoch must be invisible")
    val probe = Dedup.minhashPairsAgainstIndex(
      docs(1L -> base.replace("token9", "tokenY")), "text", "doc_id", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == Set((1L, 10L)))
    // re-appending an already-indexed id fails loudly BEFORE any write
    val err = intercept[IllegalArgumentException] {
      Dedup.appendDedupIndex(docs(10L -> base), "text", "doc_id", idx)
    }
    assert(err.getMessage.contains("already present") && err.getMessage.contains("10"))
    assert(readIndexTables(idx) == before, "failed append must not change the index")
    // missing pointer (pre-epoch layout / wrong path) fails with a clear message
    val empty = java.nio.file.Files.createTempDirectory("graft-idx-none").toString
    val noPtr = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(docs(1L -> base), "text", "doc_id", empty)
    }
    assert(noPtr.getMessage.contains("current"))
  }

  test("index format-version mismatch fails loudly on probe and append") {
    val corpus = docs(1L -> (1 to 40).map(i => s"token$i").mkString(" "))
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-ver").toString
    Dedup.writeDedupIndex(corpus, "text", "doc_id", idx)
    val live = EpochStore.epochDir(spark, idx)
    EpochStore.writeHeader(spark, live,
      EpochStore.readHeader(spark, live).get.copy(formatVersion = 99))
    val probeErr = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(corpus, "text", "doc_id", idx)
    }
    assert(probeErr.getMessage.contains("format version 99") &&
      probeErr.getMessage.contains("rebuild it with writeDedupIndex"))
    val appendErr = intercept[IllegalArgumentException] {
      Dedup.appendDedupIndex(corpus, "text", "doc_id", idx)
    }
    assert(appendErr.getMessage.contains("format version 99") &&
      appendErr.getMessage.contains("rebuild it with writeDedupIndex"))
  }

  test("keepBestPerCluster keeps the top score per cluster, ties to min id") {
    val df = docs(
      1L -> "short copy",                      // cluster {1,2,3}: 3 is longest
      2L -> "short copy two",
      3L -> "the much longer copy of all four tokens",
      4L -> "singleton survives alone",
      5L -> "tie a b", 6L -> "tie c d")        // cluster {5,6}: tied at 3 → min id 5
    val clusters = frame(struct("id" -> LongType, "rep" -> LongType),
      Row(1L, 1L), Row(2L, 1L), Row(3L, 1L), Row(4L, 4L), Row(5L, 5L), Row(6L, 5L))
    val kept = Dedup.keepBestPerCluster(
      df, "doc_id", clusters, TextOps.tokenCount(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L))
    // survivor rows keep the full doc schema, no helper columns
    val cols = Dedup.keepBestPerCluster(
      df, "doc_id", clusters, TextOps.tokenCount(col("text"))).columns.toSeq
    assert(cols == Seq("doc_id", "text"))
  }

  test("meanPoolEmbeddings averages element-wise in position order") {
    val df = frame(struct("doc_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(1L, Seq(1.0f, 3.0f)), Row(1L, Seq(3.0f, 5.0f)), Row(2L, Seq(7.0f, 9.0f)))
    val pooled = Similarity.meanPoolEmbeddings(df, "doc_id", "embedding")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    assert(pooled.toSeq == Seq((1L, Seq(2.0f, 4.0f)), (2L, Seq(7.0f, 9.0f))))
  }

  test("takePerStratum tiebreaker orders duplicate keys; rank column is collision-safe") {
    val df = frame(
      struct("doc_id" -> LongType, "grp" -> StringType,
        "text" -> StringType, "__rk" -> StringType),
      (1L to 10L).map(i => Row(i, "g", "same text", s"user$i")): _*)
    val taken = Sampling.takePerStratum(df, "grp", "text", n = 3, tieCol = Some("doc_id"))
    // every key identical → md5 ties everywhere → the id tiebreaker decides
    assert(taken.collect().map(_.getAs[Long]("doc_id")).toSeq.sorted == Seq(1L, 2L, 3L))
    assert(taken.columns.contains("__rk"), "caller's __rk column must survive")
    assert(taken.collect().forall(_.getAs[String]("__rk").startsWith("user")))
  }

  test("md5WeightedMix: hex-prefix thresholds, short-circuits, md5 agreement") {
    val df = docs((1L to 400L).map(i => i -> s"doc $i"): _*)
    val mixed = Sampling.md5WeightedMix(
      Seq((df, "a", 0.5), (df, "b", 1.0), (df, "c", 0.0)), "doc_id")
    val bySrc = mixed.groupBy("mix_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("b") == 400L, "weight 1.0 must keep every row")
    assert(!bySrc.contains("c"), "weight 0.0 must keep none")
    assert(bySrc("a") > 120 && bySrc("a") < 280, s"~50% expected, got ${bySrc("a")}")
    // the kept set is exactly what a driver-side md5 of 'name#key' predicts
    val md = java.security.MessageDigest.getInstance("MD5")
    def kept(name: String, thrHex: String, id: Long) = {
      val hex = md.digest(s"$name#$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      hex.substring(0, 3) < thrHex
    }
    val aIds = mixed.where(col("mix_source") === "a")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(aIds == (1L to 400L).filter(kept("a", "800", _)).toSet)
    intercept[IllegalArgumentException] {
      Sampling.md5WeightedMix(Seq((df, "a", 1.5)), "doc_id")
    }
  }

  test("packing budgets compose with a caller-supplied token counter") {
    // one doc, counter = char count: 10 chars at capacity 4 → bins 0..2
    val df = docs(1L -> "abcdefghij")
    val counted = Packing.concatChunkPlan(
      df, "doc_id", "text", capacity = 4, nGroups = 1, tokenCount = length)
      .head()
    assert(counted.getLong(2) == 10L && counted.getLong(3) == 0L
      && counted.getLong(4) == 2L)
    val ffd = Packing.packFirstFitDecreasing(
      docs(1L -> "aaaa", 2L -> "bb", 3L -> "cccc"), "doc_id", "text",
      capacity = 6, nGroups = 1, tokenCount = length)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    // char counts 4,2,4 sorted desc by (len,id): 1(4),3(4),2(2) → [4+2][4]
    assert(ffd == Map(1L -> 0, 2L -> 0, 3L -> 1))
  }

  test("md5Group digit width scales with nGroups; engine-reproducible at 64") {
    assert(Seq(1, 16, 17, 256, 257, 4096).map(Packing.md5GroupDigits)
      == Seq(1, 1, 2, 2, 3, 3))
    intercept[IllegalArgumentException] {
      Packing.concatChunkPlan(docs(1L -> "t"), "doc_id", "text", 10, nGroups = 4097)
    }
    // groups at nGroups=64 must match a driver-side md5 of the rendered id
    // (the same computation an oracle engine would run)
    val df = docs((1L to 200L).map(i => i -> s"doc $i"): _*)
    val got = Packing.concatChunkPlan(df, "doc_id", "text", 1000, nGroups = 64)
      .select("doc_id", "grp").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    (1L to 200L).foreach { i =>
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expect = Integer.parseInt(hex.substring(0, 2), 16) % 64
      assert(got(i) == expect, s"doc $i grp mismatch")
    }
    assert(got.values.toSet.size > 32, "200 docs over 64 groups should spread wide")
  }

  test("repeatedGramReport: cross-doc grams counted, within-doc repeats are not dup") {
    val df = docs(
      1L -> "a b c d",       // grams: "a b c", "b c d"
      2L -> "a b c x",       // grams: "a b c", "b c x"
      3L -> "z z z z z",     // one DISTINCT gram "z z z", repeated only within
      4L -> "u v")           // under n tokens: no grams, absent from report
    val rep = Decontam.repeatedGramReport(df, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rep.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 1L, 0L)))
    // minDocs above the corpus-wide multiplicity zeroes the dup counts
    val strict = Decontam.repeatedGramReport(df, "doc_id", "text", n = 3, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(strict.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 0L)))
  }

  test("dedupRepeatedSpans: min-id doc keeps its text, every other occurrence is cut") {
    val st = struct("doc_id" -> LongType, "text" -> StringType)
    val df = frame(st,
      Row(1L, "a b c d"),        // winner of "a b c"; "b c d" unique
      Row(2L, "x a b c y"),      // loses "a b c" at pos 1 → tokens 1..3 cut
      Row(3L, "q r s"),          // no shared grams
      Row(4L, null),             // null text stays null
      Row(5L, "a b c a b c"))    // loses BOTH occurrences → everything covered
    val out = Decontam.dedupRepeatedSpans(df, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .select("doc_id", "cleaned", "n_removed_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) == ((1L, "a b c d", 0L)))
    assert(out(1) == ((2L, "x y", 3L)))
    assert(out(2) == ((3L, "q r s", 0L)))
    assert(out(3)._1 == 4L && out(3)._2 == null && out(3)._3 == 0L)
    assert(out(4) == ((5L, "", 6L)))
  }

  test("foldCase decontamination catches re-cased leaks, default stays exact") {
    val train = docs(1L -> "The Quick Brown Fox Jumps over dog",
      2L -> "unrelated words entirely here now")
    val eval_ = docs(10L -> "the quick brown fox jumps over")
    // byte-exact matching misses the re-cased quote …
    assert(Decontam.contaminationReport(train, eval_, "doc_id", "text", n = 5)
      .count() == 0)
    // … case folding catches it, on report and drop alike
    val folded = Decontam.contaminationReport(
      train, eval_, "doc_id", "text", n = 5, foldCase = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(folded.toSeq == Seq((1L, 2L)))
    val kept = Decontam.decontaminate(
      train, eval_, "doc_id", "text", n = 5, foldCase = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("contaminationReportBloom equals the exact report, even at absurd fpp") {
    val common = "alpha beta gamma delta epsilon"
    val corpus = docs((1L to 60L).map { i =>
      if (i % 5 == 0) i -> s"$common unique$i tail words here"
      else i -> (1 to 8).map(j => s"only${i}x$j").mkString(" ")
    }: _*)
    val eval_ = docs(100L -> s"prefix words $common suffix",
      101L -> "nothing shared at all in here")
    def pairs(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = pairs(Decontam.contaminationReport(corpus, eval_, "doc_id", "text", n = 5))
    assert(exact.nonEmpty)
    // a roomy filter and a saturated one must both confirm away to the exact set
    assert(pairs(Decontam.contaminationReportBloom(
      corpus, eval_, "doc_id", "text", n = 5, fpp = 0.001)) == exact)
    assert(pairs(Decontam.contaminationReportBloom(
      corpus, eval_, "doc_id", "text", n = 5, fpp = 0.5)) == exact)
  }

  test("takeTokenBudget: md5-ordered prefix per stratum, crossing row kept") {
    val st = struct("src" -> StringType, "doc_id" -> LongType, "n_tok" -> LongType)
    val rows = (1L to 5L).map(i => Row("s1", i, 10L)) ++
      Seq(Row("s2", 10L, 100L), Row("s2", 11L, 1L), Row("s2", 12L, null))
    val out = Sampling.takeTokenBudget(frame(st, rows: _*), "src", "doc_id", "n_tok", 25L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // independent md5 ordering + cumsum in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(i: Long) = md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val s1Order = (1L to 5L).sortBy(i => (hex(i), i))
    val s1Expect = s1Order.zip(s1Order.scanLeft(0L)((acc, _) => acc + 10L))
      .collect { case (i, before) if before < 25L => i }.toSet
    assert(s1Expect.size == 3)
    assert(out.collect { case ("s1", i) => i }.toSet == s1Expect)
    // s2: null tokens count as 0; order decides who crosses the 25 budget
    val s2Tok = Map(10L -> 100L, 11L -> 1L, 12L -> 0L)
    val s2Order = Seq(10L, 11L, 12L).sortBy(i => (hex(i), i))
    val s2Expect = s2Order.zip(s2Order.scanLeft(0L)(_ + s2Tok(_)))
      .collect { case (i, before) if before < 25L => i }.toSet
    assert(out.collect { case ("s2", i) => i }.toSet == s2Expect)
  }

  test("takeTokenBudget: coarse buckets (whole-keep/boundary/drop) match the exact cumsum") {
    // bucketHexLen = 1 → 16 buckets over ~60 keys per stratum, so the
    // classification genuinely exercises multi-row whole-kept buckets, ONE
    // boundary bucket, and dropped buckets — not the singleton-bucket
    // degenerate case of the default length on small fixtures
    val st = struct("src" -> StringType, "doc_id" -> LongType, "n_tok" -> LongType)
    val rows = (1L to 60L).flatMap(i =>
      Seq(Row("a", i, (i % 7) + 1L), Row("b", i + 1000L, (i % 5) + 2L))) ++
      Seq(Row("tiny", 5000L, 3L), Row("tiny", 5001L, 4L)) // total < budget: all kept
    val df = frame(st, rows: _*)
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(i: Long) = md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expect(budget: Long): Set[Long] = {
      val byStratum = rows.groupBy(_.getString(0))
      byStratum.values.flatMap { rs =>
        val ordered = rs.sortBy(r => (hex(r.getLong(1)), r.getLong(1)))
        val toks = ordered.map(_.getLong(2))
        ordered.map(_.getLong(1)).zip(toks.scanLeft(0L)(_ + _))
          .collect { case (id, before) if before < budget => id }
      }.toSet
    }
    for (budget <- Seq(20L, 57L, 120L, 100000L)) {
      val got = Sampling.takeTokenBudget(df, "src", "doc_id", "n_tok", budget, bucketHexLen = 1)
        .collect().map(_.getLong(1)).toSet
      assert(got == expect(budget), s"budget $budget: coarse-bucket path diverged")
    }
    // equality edge: a zero-token row arriving exactly AT the budget is
    // dropped (its preceding cumsum is not < budget), even when its whole
    // bucket's sum lands exactly on the budget
    val ids = (1L to 16L)
    val eq = frame(st, ids.map(i => Row("e", i, 4L)) :+ Row("e", 99L, 0L): _*)
    val order = (ids :+ 99L).sortBy(i => (hex(i), i))
    val eqToks = order.map(i => if (i == 99L) 0L else 4L)
    val budget = { // cut exactly at a row boundary that precedes some row
      val cums = eqToks.scanLeft(0L)(_ + _)
      cums(8) // after 8 rows in md5 order
    }
    val expEq = order.zip(eqToks.scanLeft(0L)(_ + _))
      .collect { case (i, before) if before < budget => i }.toSet
    val gotEq = Sampling.takeTokenBudget(eq, "src", "doc_id", "n_tok", budget, bucketHexLen = 1)
      .collect().map(_.getLong(1)).toSet
    assert(gotEq == expEq, "equality-edge kept set diverged")
  }

  test("dedupParagraphs keeps the first occurrence corpus-wide and reassembles") {
    val st = struct("doc_id" -> LongType, "text" -> StringType)
    val df = frame(st,
      Row(1L, "A\n\nB"),      // both first occurrences
      Row(2L, "B\n\nC"),      // B lost to doc 1, C kept
      Row(3L, "A\n\nA"),      // loses both copies (doc 1 pos 0 wins)
      Row(4L, null))
    val out = Dedup.dedupParagraphs(df, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "cleaned", "n_paras", "n_kept_paras").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "A\n\nB", 2L, 2L)))
    assert(out(1) == ((2L, "C", 2L, 1L)))
    assert(out(2) == ((3L, "", 2L, 0L)))
    assert(out(3)._1 == 4L && out(3)._2 == null && out(3)._3 == 0L && out(3)._4 == 0L)
    // within-doc duplicate where the doc itself is the winner: first copy
    // kept, second dropped
    val self = Dedup.dedupParagraphs(
      frame(st, Row(7L, "X\n\nX\n\nY")), "doc_id", "text")
      .select("cleaned").head().getString(0)
    assert(self == "X\n\nY")
    // Windows CRLF blank lines separate paragraphs too (mixed-crawl
    // reality); survivors re-join with the canonical \n\n
    val crlf = Dedup.dedupParagraphs(
      frame(st, Row(8L, "P\r\n\r\nQ\n\nP\r\n\r\nR")), "doc_id", "text")
      .select("cleaned").head().getString(0)
    assert(crlf == "P\n\nQ\n\nR")
  }

  test("dedupParagraphsKeepBest: highest-scoring doc keeps each paragraph") {
    val st = struct("doc_id" -> LongType, "text" -> StringType, "score" -> LongType)
    val df = frame(st,
      Row(1L, "A\n\nB", 5L),
      Row(2L, "B\n\nC", 9L), // B: doc2 (9) beats doc1 (5); C first here
      Row(3L, "A\n\nA", 7L), // A: doc3 (7) beats doc1 (5); within-doc pos 0 wins
      Row(4L, null, 99L),    // null text: no paragraphs, cleaned stays null
      Row(5L, "C", 9L))      // C: tie at 9 with doc2 → min id (2) wins
    val out = Dedup.dedupParagraphsKeepBest(df, "doc_id", "text", "score")
      .orderBy("doc_id")
      .select("doc_id", "cleaned", "n_paras", "n_kept_paras").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "", 2L, 0L)), "doc1 loses both elections")
    assert(out(1) == ((2L, "B\n\nC", 2L, 2L)), "doc2 wins B on score, C on tie")
    assert(out(2) == ((3L, "A", 2L, 1L)), "doc3 wins A, keeps only the pos-0 copy")
    assert(out(3)._1 == 4L && out(3)._2 == null && out(3)._3 == 0L && out(3)._4 == 0L)
    assert(out(4) == ((5L, "", 1L, 0L)), "doc5 loses the C tie to the lower id")
    // null scores sort LAST: the scored doc beats the null-scored one
    val nulls = Dedup.dedupParagraphsKeepBest(
      frame(st, Row(6L, "D", null), Row(7L, "D", 1L)),
      "doc_id", "text", "score")
      .orderBy("doc_id").select("doc_id", "n_kept_paras").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(nulls.toSeq == Seq((6L, 0L), (7L, 1L)))
    // equal scores everywhere degrade to exactly dedupParagraphs'
    // first-occurrence semantics
    val flatScore = df.where(col("text").isNotNull)
      .withColumn("score", lit(1L))
    val best = Dedup.dedupParagraphsKeepBest(flatScore, "doc_id", "text", "score")
      .select("doc_id", "cleaned").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val first = Dedup.dedupParagraphs(df.where(col("text").isNotNull).drop("score"),
      "doc_id", "text")
      .select("doc_id", "cleaned").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(best == first)
  }

  test("the pipeline composes: dedup → decontaminate → budget mix → pack → sink") {
    val st = struct("doc_id" -> LongType, "source" -> StringType, "text" -> StringType)
    val leak = "the held out benchmark answer sentence"
    val boiler = "subscribe to our newsletter today"
    val rows = (1L to 60L).map { i =>
      val body = (1 to 6).map(j => s"s${i % 3}u${i}w$j").mkString(" ")
      val paras = Seq(body) ++
        (if (i % 4 == 0) Seq(boiler) else Nil) ++
        (if (i % 5 == 0) Seq(leak) else Nil)
      Row(i, s"src${i % 3}", paras.mkString("\n\n"))
    }
    val corpus = frame(st, rows: _*)
    val evalSet = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(999L, leak))
    // 1. paragraph dedup: every boiler/leak copy but the first vanishes
    val deduped = Dedup.dedupParagraphs(corpus, "doc_id", "text")
      .select(col("doc_id"), col("source"), col("cleaned").as("text"))
    // 2. decontaminate: the one doc still carrying the leaked sentence drops
    val clean = Decontam.decontaminate(deduped, evalSet, "doc_id", "text", n = 5)
    val cleanRows = clean.collect()
    assert(cleanRows.length == 59, "exactly the leak-winner doc should drop")
    assert(cleanRows.forall(r => !r.getString(2).contains("held out")),
      "no leaked gram may survive")
    // 3. token-budget mix per source
    val budgeted = Sampling.takeTokenBudget(
      clean.withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long")),
      "source", "doc_id", "n_tok", budget = 60L)
    val keptIds = budgeted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty && keptIds.size < 59, "the budget must bind")
    // 4. pack: every surviving doc placed exactly once
    val packed = Packing.packFirstFitDecreasing(
      budgeted.select("doc_id", "text"), "doc_id", "text", capacity = 16, nGroups = 4)
    assert(packed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      keptIds.toSeq.sorted)
    // 5. sink: round trip loses nothing
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString + "/c"
    Sink.writeShards(budgeted.drop("n_tok"), out, "doc_id", nShards = 4)
    assert(spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet == keptIds)
  }

  test("frequencyScore: exact corpus-frequency sums and rare-token counts") {
    val df = docs(1L -> "a a b", 2L -> "b c", 3L -> "")
    // tf: a=2, b=2, c=1
    val out = TextOps.frequencyScore(df, "doc_id", "text", rareBelow = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 6L, 0L), (2L, 2L, 3L, 1L)))
  }

  test("contrastScore: exact raw/target frequency sums and hit counts") {
    val raw = docs(1L -> "a a b", 2L -> "b c", 3L -> "")
    val target = docs(10L -> "a c c")
    // raw tf: a=2, b=2, c=1; target tf: a=1, c=2
    val out = TextOps.contrastScore(raw, target, "doc_id", "text", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // doc1 toks a,a,b: raw 2+2+2=6, target 1+1+0=2, hits a,a → 2
    // doc2 toks b,c: raw 2+1=3, target 0+2=2, hits c → 1; doc3 empty → absent
    assert(out.toSeq == Seq((1L, 3L, 6L, 2L, 2L), (2L, 2L, 3L, 2L, 1L)))
  }

  test("containmentPairs: subset doc scores 1.0, maxDf mutes boilerplate-only pairs") {
    // grams (n=3): doc1 {abc,bcd,cde,def}, doc2 {abc,bcd} ⊂ doc1,
    // doc3 {abc,bcx,cxy,xyz} — "a b c" is the df-3 boilerplate gram
    val df = docs(
      1L -> "a b c d e f",
      2L -> "a b c d",
      3L -> "a b c x y z")
    val out = Decontam.containmentPairs(
      df, "doc_id", "text", n = 3, minContainment = 0.5, maxDf = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(p => (p._1, p._2))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 4L, 2L, 1.0),   // subset pair: both doc2 grams shared
      (2L, 3L, 1L, 2L, 4L, 0.5)))  // boilerplate-only overlap squeaks in
    // (1,3) shares only "a b c": 1/4 = 0.25 < 0.5 — filtered.
    // maxDf = 2 excludes the df-3 boilerplate gram from sharing: the
    // (2,3) pair vanishes, the genuine subset pair survives via "b c d"
    val capped = Decontam.containmentPairs(
      df, "doc_id", "text", n = 3, minContainment = 0.5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(capped.toSeq == Seq((1L, 2L, 1L, 0.5)))
    // denominators stay UNCAPPED distinct-gram counts in both runs
  }

  test("winnowedGramKeys: window minima, short-doc fallback, empty and null text") {
    def key(g: String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 16)
    }
    val df = docs(1L -> "a b c d e", 2L -> "a b c", 3L -> "")
    val out = df.select(col("doc_id"),
      Decontam.winnowedGramKeys(col("text"), 3, 2).as("fp"))
      .orderBy("doc_id").collect()
    // doc1 grams: "a b c","b c d","c d e"; windows of 2 → mins, distinct
    val keys1 = Seq("a b c", "b c d", "c d e").map(key)
    assert(out(0).getSeq[String](1) == keys1.sliding(2).map(_.min).toSeq.distinct)
    // doc2 has ONE gram (< w): the single-window fallback keeps its min
    assert(out(1).getSeq[String](1) == Seq(key("a b c")))
    assert(out(2).getSeq[String](1).isEmpty)
    val nullRow = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(9L, null))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(nullRow.select(Decontam.winnowedGramKeys(col("text"), 3, 2)).head().isNullAt(0))
  }

  test("winnowingPairs: a shared run ≥ w+n-1 tokens is detected, disjoint docs are not") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val df = docs(
      1L -> (shared + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      2L -> (shared + " " + (1 to 5).map(i => s"b$i").mkString(" ")),
      3L -> (1 to 12).map(i => s"z$i").mkString(" "))
    // the 10-token shared prefix ≥ w+n-1 = 8 ⇒ the (1,2) pair MUST share
    // at least one fingerprint (the winnowing guarantee)
    val out = Decontam.winnowingPairs(
      df, "doc_id", "text", n = 5, w = 4, minShared = 1, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(out.head._3 >= 1L)
  }

  test("fingerprint index: probe ≡ direct cross-side pairs, append ≡ rebuild, dup ids rejected, compact") {
    val root = java.nio.file.Files.createTempDirectory("graft_fpidx").toString
    val dir = s"$root/fpidx"
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val corpus1 = docs(
      1L -> (shared + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      2L -> (1 to 12).map(i => s"z$i").mkString(" "))
    val corpus2 = docs(3L -> ((1 to 8).map(i => s"z$i").mkString(" ") + " tail"))
    Decontam.writeFingerprintIndex(corpus1, "doc_id", "text", dir, n = 5, w = 4)
    Decontam.appendFingerprintIndex(corpus2, "doc_id", "text", dir)
    val batch = docs(10L -> (shared + " " + (1 to 5).map(i => s"b$i").mkString(" ")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(p => (p._1, p._2)).toSeq
    val probe = rows(Decontam.winnowingPairsAgainstIndex(
      batch, "doc_id", "text", dir, minShared = 1, maxDf = 10))
    // the 10-token shared run guarantees the (10, 1) pair; z-docs don't match
    assert(probe.map(p => (p._1, p._2)) == Seq((10L, 1L)))
    // …and the probe equals the direct cross-side form on the full corpus
    val direct = rows(Decontam.winnowingPairsAgainst(
      batch, corpus1.unionByName(corpus2), "doc_id", "text",
      n = 5, w = 4, minShared = 1, maxDf = 10))
    assert(probe == direct)
    // append ≡ rebuild table-for-table
    val rebuilt = s"$root/rebuilt"
    Decontam.writeFingerprintIndex(
      corpus1.unionByName(corpus2), "doc_id", "text", rebuilt, n = 5, w = 4)
    def table(p: String, t: String) = {
      EpochStore.readTable(spark, Decontam.resolveFingerprintIndex(spark, p), t).collect()
        .map(_.toSeq.toList).sortBy(_.toString).toSeq
    }
    assert(table(dir, "postings") == table(rebuilt, "postings"))
    assert(table(dir, "fsizes") == table(rebuilt, "fsizes"))
    // an empty append commits an empty delta — tables unchanged
    Decontam.appendFingerprintIndex(
      corpus2.where(col("doc_id") < 0), "doc_id", "text", dir)
    assert(table(dir, "postings") == table(rebuilt, "postings"))
    assert(table(dir, "fsizes") == table(rebuilt, "fsizes"))
    // duplicate-id append rejected loudly
    val ex = intercept[IllegalArgumentException] {
      Decontam.appendFingerprintIndex(corpus2, "doc_id", "text", dir)
    }
    assert(ex.getMessage.contains("disjoint ids"))
    // a future on-disk format is rejected loudly, like the other indexes
    val live = Decontam.resolveFingerprintIndex(spark, dir)
    EpochStore.writeHeader(spark, live.dir, live.header.copy(formatVersion = 99))
    val vx = intercept[IllegalArgumentException] {
      Decontam.winnowingPairsAgainstIndex(batch, "doc_id", "text", dir)
    }
    assert(vx.getMessage.contains("format version 99") &&
      vx.getMessage.contains("rebuild it with writeFingerprintIndex"))
    EpochStore.writeHeader(spark, live.dir, live.header)
    // w = 1 degenerates to the full-gram postings index: probe shared
    // counts over containment denominators reproduce containmentPairsAgainst
    val dirW1 = s"$root/fpidx_w1"
    Decontam.writeFingerprintIndex(
      corpus1.unionByName(corpus2), "doc_id", "text", dirW1, n = 5, w = 1)
    val w1 = Decontam.winnowingPairsAgainstIndex(
      batch, "doc_id", "text", dirW1, minShared = 1, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(p => (p._1, p._2)).toSeq
    val cont = Decontam.containmentPairsAgainst(
      batch, corpus1.unionByName(corpus2), "doc_id", "text",
      n = 5, minContainment = 0.0 + 1e-9, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(p => (p._1, p._2)).toSeq
    assert(w1 == cont, s"w=1 probe must equal exact containment counts: $w1 vs $cont")
    // compaction: one data dir per table, probe unchanged
    Decontam.compactFingerprintIndex(spark, dir, retainEpochs = 1)
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("postings"))
    assert(dataDirs == 1, s"expected one postings dir after compaction, saw $dataDirs")
    assert(rows(Decontam.winnowingPairsAgainstIndex(
      batch, "doc_id", "text", dir, minShared = 1, maxDf = 10)) == probe)
  }

  test("containmentPairsAgainst: cross-side only, ≡ batch form on the union") {
    val existing = docs(1L -> "a b c d e f", 3L -> "a b c x y z")
    val newDocs = docs(2L -> "a b c d")
    val out = Decontam.containmentPairsAgainst(
      newDocs, existing, "doc_id", "text", n = 3, minContainment = 0.5, maxDf = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(p => (p._1, p._2))
    // exactly the union-corpus pairs that cross sides: doc2 ⊂ doc1 at 1.0,
    // doc2's boilerplate-only overlap with doc3 at 0.5; the (1,3)
    // existing×existing pair is never generated
    assert(out.toSeq == Seq(
      (2L, 1L, 2L, 2L, 4L, 1.0),
      (2L, 3L, 1L, 2L, 4L, 0.5)))
    // …which is the batch form on the union, cross-filtered
    val union = Decontam.containmentPairs(
      existing.unionByName(newDocs), "doc_id", "text",
      n = 3, minContainment = 0.5, maxDf = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
      .filter(p => p._1 == 2L || p._2 == 2L)
      .map(p => if (p._1 == 2L) (p._1, p._2, p._3, p._4) else (p._2, p._1, p._3, p._4))
      .sortBy(p => (p._1, p._2))
    assert(union.toSeq == out.map(p => (p._1, p._2, p._3, p._6)).toSeq)
  }

  test("hardNegatives: cosine band excludes near-dups and easy negatives") {
    val vecs = frame(
      struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
      Row(0L, Seq(1.0f, 0.0f)),            // query
      Row(1L, Seq(0.999f, 0.001f)),        // near-dup: cosine ≈ 1 ≥ maxCosine
      Row(2L, Seq(0.8f, 0.6f)),            // in band: cosine 0.8/1.0 = 0.8 < 0.95
      Row(3L, Seq(0.6f, 0.8f)),            // in band: cosine 0.6
      Row(4L, Seq(-1.0f, 0.0f)),           // easy negative: cosine -1 < 0.1
      Row(5L, Seq(0.0f, 0.0f)))            // zero vector: NaN cosine, never matches
    val out = Similarity.hardNegatives(
      vecs, vecs.where(col("vec_id") === 0), "embedding", "vec_id",
      k = 5, maxCosine = 0.95, minCosine = 0.1)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 3L))
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2))
    // and the band is exactly bruteForceTopK post-filtered
    val bf = Similarity.bruteForceTopK(
      vecs, vecs.where(col("vec_id") === 0), "embedding", "vec_id", k = 5)
      .where(col("cosine") >= 0.1 && col("cosine") < 0.95)
      .orderBy(col("cosine").desc).collect().map(_.getLong(2)).toSeq
    assert(bf == out.map(_.getLong(2)).toSeq)
  }

  test("paragraph index: probe ≡ union dedup, append ≡ rebuild, replay no-op, compact") {
    val root = java.nio.file.Files.createTempDirectory("graft_pidx").toString
    val dir = s"$root/pidx"
    val st = struct("doc_id" -> LongType, "text" -> StringType)
    val corpus1 = frame(st, Row(1L, "A\n\nB"), Row(2L, "C"))
    Dedup.writeParagraphIndex(corpus1, "text", dir)
    val batch = frame(st, Row(10L, "B\n\nD\n\nD"), Row(11L, "E"))
    // B is known → dropped; D kept once (within-batch window); E kept
    val probe = Dedup.dedupParagraphsAgainstIndex(batch, "doc_id", "text", dir)
      .orderBy("doc_id").select("doc_id", "cleaned", "n_kept_paras").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(probe.toSeq == Seq((10L, "D", 1L), (11L, "E", 1L)))
    // …exactly what dedupParagraphs says about these docs on the UNION
    // corpus (corpus ids sort below batch ids, so standing always wins)
    val union = Dedup.dedupParagraphs(corpus1.unionByName(batch), "doc_id", "text")
      .where(col("doc_id") >= 10L).orderBy("doc_id")
      .select("doc_id", "cleaned", "n_kept_paras").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(union.toSeq == probe.toSeq)
    // withinBatch = false keeps the in-batch duplicate (stateless shape)
    val stateless = Dedup.dedupParagraphsAgainstIndex(
      batch, "doc_id", "text", dir, withinBatch = false)
      .where(col("doc_id") === 10L).select("cleaned").head().getString(0)
    assert(stateless == "D\n\nD")
    // append folds only new hashes; the folded index equals a rebuild on
    // the union corpus
    Dedup.appendParagraphIndex(batch, "text", dir)
    def hashes(p: String) = {
      val d = Dedup.resolveParagraphIndex(spark, p)
      Dedup.paragraphIndexHashes(spark, d).collect().map(_.getString(0)).sorted.toSeq
    }
    val rebuilt = s"$root/rebuilt"
    Dedup.writeParagraphIndex(corpus1.unionByName(batch), "text", rebuilt)
    assert(hashes(dir) == hashes(rebuilt))
    // replaying the same batch is a NO-OP: the live epoch does not move
    val epochBefore = EpochStore.currentEpoch(spark, dir)
    Dedup.appendParagraphIndex(batch, "text", dir)
    assert(EpochStore.currentEpoch(spark, dir) == epochBefore)
    // appended paragraphs are now suppressed on probe
    val reprobe = Dedup.dedupParagraphsAgainstIndex(batch, "doc_id", "text", dir)
      .select("n_kept_paras").collect().map(_.getLong(0)).sum
    assert(reprobe == 0L)
    // compaction merges the delta dirs into one file set, hashes unchanged
    val before = hashes(dir)
    Dedup.compactParagraphIndex(spark, dir, retainEpochs = 1)
    val dataDirs = new java.io.File(s"$dir/data").listFiles().count(_.isDirectory)
    assert(dataDirs == 1, s"expected one data dir after compaction, saw $dataDirs")
    assert(hashes(dir) == before)
  }

  test("sourceOverlapMatrix: distinct shared grams per ordered pair only") {
    val st = struct("src" -> StringType, "text" -> StringType)
    val df = frame(st,
      Row("s1", "a b c d"),   // grams: "a b c", "b c d"
      Row("s1", "a b c d"),   // duplicate doc — distinct must not double-count
      Row("s2", "a b c x"),   // shares "a b c" with s1
      Row("s3", "q r s t"))   // shares nothing
    val out = Decontam.sourceOverlapMatrix(df, "src", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("s1", "s2", 1L)))
  }

  test("writeShards(idBloom): parquet footers carry an id bloom filter; round trip intact") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_sinkbf").toString + "/corpus"
    val df = docs((1L to 100L).map(i => i -> s"text $i"): _*)
    Sink.writeShards(df, dir, "doc_id", nShards = 4, idBloom = true)
    val back = spark.read.parquet(dir)
    assert(back.count() == 100L)
    // read one data file's footer directly and assert the bloom exists
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
      .head.listFiles().filter(_.getName.endsWith(".parquet")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val idChunk = rg.getColumns.asScala
        .find(_.getPath.toDotString == "doc_id").get
      assert(reader.getBloomFilterDataReader(rg).readBloomFilter(idChunk) != null,
        "expected a bloom filter on the doc_id column chunk")
      // text column stays bloom-free (only the id was requested)
      val txtChunk = rg.getColumns.asScala
        .find(_.getPath.toDotString == "text").get
      assert(reader.getBloomFilterDataReader(rg).readBloomFilter(txtChunk) == null)
    } finally reader.close()
  }

  test("writeShards: portable shard key, bounded sorted files, exact round trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/corpus"
    val df = docs((1L to 200L).map(i => i -> s"text $i"): _*)
    Sink.writeShards(df, dir, "doc_id", nShards = 8, filesPerShard = 2)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSet == Set("doc_id", "text", "shard"))
    val got = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet == (1L to 200L).toSet, "round trip must lose nothing")
    // shard must equal a driver-side md5 nibble (the oracle contract)
    val md = java.security.MessageDigest.getInstance("MD5")
    (1L to 200L).foreach { i =>
      val hex = md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(i) == Integer.parseInt(hex.substring(0, 1), 16) % 8)
    }
    // layout: shard dirs, each with at most filesPerShard data files, each
    // file internally sorted by id
    val shards = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
    assert(shards.length > 4, "200 ids over 8 shards should populate most dirs")
    shards.foreach { sd =>
      val parts = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.nonEmpty && parts.length <= 2,
        s"${sd.getName}: ${parts.length} files, expected 1..2")
      parts.foreach { f =>
        val ids = spark.read.parquet(f.getAbsolutePath)
          .select("doc_id").collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted by id")
      }
    }
    // refuses to clobber without overwrite; manifest matches the data
    intercept[Exception] { Sink.writeShards(df, dir, "doc_id", nShards = 8) }
    val man = Sink.shardManifest(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expect = got.values.groupBy(identity).map { case (s, v) => s -> v.size.toLong }
    assert(man == expect)
    intercept[IllegalArgumentException] {
      Sink.writeShards(back, dir + "2", "doc_id", nShards = 8)
    } // pre-existing 'shard' column rejected loudly
    // string ids (URL-keyed corpora) shard on the same portable md5 rule
    val sdir = java.nio.file.Files.createTempDirectory("graft_sink_s").toString + "/corpus"
    val sdf = frame(struct("url" -> StringType, "text" -> StringType),
      (1 to 40).map(i => Row(s"https://example.com/p$i", s"body $i")): _*)
    Sink.writeShards(sdf, sdir, "url", nShards = 8)
    val sback = spark.read.parquet(sdir).select("url", "shard").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(sback.keySet.size == 40)
    sback.foreach { case (u, s) =>
      val hex = md.digest(u.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(s == Integer.parseInt(hex.substring(0, 1), 16) % 8)
    }
    // an empty corpus is rejected loudly instead of leaving an
    // unreadable no-schema directory
    val err = intercept[IllegalArgumentException] {
      Sink.writeShards(sdf.where(lit(false)), sdir + "3", "url", nShards = 8)
    }
    assert(err.getMessage.contains("empty corpus"))
  }

  test("normalizeUrl: canonical web keys — scheme/www/fragment/utm/slash/host case") {
    val st = struct("id" -> LongType, "u" -> StringType)
    val cases = Seq(
      "HTTPS://WWW.Example.COM/Path/" -> "example.com/Path",
      "http://example.com/Path#section-2" -> "example.com/Path",
      "example.com/a?utm_source=x&utm_medium=y" -> "example.com/a",
      "https://example.com/a?utm_a=1&b=2&utm_c=3&d=4" -> "example.com/a?b=2&d=4",
      "https://example.com/a?z=1&a=2" -> "example.com/a?z=1&a=2", // order kept
      "https://example.com/p?v=/x/" -> "example.com/p?v=/x/",     // param slash kept
      "www.example.com" -> "example.com",
      "https://Example.com:8080/A" -> "example.com:8080/A")
    val df = frame(st,
      (cases.zipWithIndex.map { case ((in, _), i) => Row(i.toLong, in) } :+
        Row(99L, null)): _*)
    val out = df.select(col("id"), TextOps.normalizeUrl(col("u")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(out(i.toLong) == want, s"$in -> ${out(i.toLong)}, want $want")
    }
    assert(out(99L) == null)
  }

  test("gopherColumns: each rule trips on its crafted violation, clean doc passes") {
    val goodWords = (1 to 35).map(i => s"word$i").mkString(" ")
    val clean = s"the quick brown fox jumps with vigor over lazy dogs $goodWords " +
      "and then repeats the entire performance again with obvious delight today"
    val df = docs(
      1L -> clean,                                        // passes everything
      2L -> "the short with doc",                         // < 50 words
      3L -> ("a " * 60).trim,                             // mean word len < 3
      4L -> (clean + " " + ("# " * 12)).trim,             // symbol ratio > 0.1
      5L -> (1 to 6).map(i => s"• bullet line $i").mkString("\n"),        // bullets
      6L -> (1 to 5).map(i => s"line number $i trails off...").mkString("\n"),
      7L -> ((1 to 60).map(_.toString).mkString(" ") + " the of"),        // digits
      8L -> clean.replace("the", "xxx").replace("with", "yyy")
        .replace("and", "zzz"),                           // no stopwords
      9L -> null)
    val rules = TextOps.gopherColumns(col("text"))
    val out = df.select(
      (col("doc_id") +: rules.map { case (n, c) => c.as(n) } :+
        TextOps.gopherPass(col("text")).as("pass")): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    def b(id: Long, name: String): Any = {
      val r = out(id)
      val i = r.schema.fieldIndex(name)
      if (r.isNullAt(i)) null else r.getBoolean(i)
    }
    assert(b(1L, "pass") == true, s"clean doc must pass: ${out(1L)}")
    assert(b(2L, "r_word_count") == false && b(2L, "pass") == false)
    assert(b(3L, "r_mean_word_len") == false)
    assert(b(4L, "r_symbol_ratio") == false)
    assert(b(5L, "r_bullet_lines") == false)
    assert(b(6L, "r_ellipsis_lines") == false)
    assert(b(7L, "r_alpha_words") == false)
    assert(b(8L, "r_stopwords") == false && b(8L, "pass") == false)
    assert(b(9L, "r_word_count") == null && b(9L, "r_stopwords") == null &&
      b(9L, "pass") == null, "null text yields null verdicts")
  }

  test("c4 line filter: sentences keep, fragments drop, page verdicts fire") {
    val df = docs(
      1L -> ("Click here\nThis sentence has the required words today.\n" +
        "Menu\nAnother proper sentence sits right here now!\n" +
        "He said “it ends with a quote.”\nshort one."),
      2L -> "lorem IPSUM dolor\nfunction f() { return 1 }",
      3L -> null)
    val cols = Seq(col("doc_id"), TextOps.c4CleanLines(col("text")).as("c")) ++
      TextOps.c4Columns(col("text")).map { case (n, cc) => cc.as(n) }
    val out = df.select(cols: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: three kept lines — the two sentences + the quote-terminated
    // one; "Click here"/"Menu" (too few words) and "short one." drop
    val kept1 = out(1L).getString(1).split("\n").toSeq
    assert(kept1 == Seq(
      "This sentence has the required words today.",
      "Another proper sentence sits right here now!",
      "He said “it ends with a quote.”"))
    assert(out(1L).getAs[Boolean]("enough_sentences"))
    assert(!out(1L).getAs[Boolean]("has_lorem") &&
      !out(1L).getAs[Boolean]("has_brace"))
    // doc 2: both page verdicts fire, nothing keeps
    assert(out(2L).getAs[Boolean]("has_lorem"))
    assert(out(2L).getAs[Boolean]("has_brace"))
    assert(!out(2L).getAs[Boolean]("enough_sentences"))
    assert(out(2L).getString(1) == "")
    // null text: null verdicts, null cleaned
    assert(out(3L).isNullAt(1))
    assert(out(3L).isNullAt(out(3L).schema.fieldIndex("has_lorem")))
  }

  test("blocklistHits: token-exact, case-insensitive, whitespace-run-safe") {
    val phrases = Seq("Vector", "slow  FILTER", "customer query")
    val df = docs(
      1L -> "the VECTOR is here",            // case-insensitive single token
      2L -> "vectors are not a match",       // substring must NOT match
      3L -> "slow\n\tfilter across lines",   // phrase over a whitespace run
      4L -> "slow big filter",               // tokens present, not adjacent
      5L -> "customer query",                // phrase = whole doc (boundaries)
      6L -> "ends with customer query",      // phrase at document end
      7L -> "vector slow filter combo",      // two hits, sorted output
      8L -> null)                            // null text: no hits
    val out = df.select(col("doc_id"),
        TextOps.blocklistHits(col("text"), phrases).as("h"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("vector"))
    assert(out(2L) == Seq.empty)
    assert(out(3L) == Seq("slow filter"))
    assert(out(4L) == Seq.empty)
    assert(out(5L) == Seq("customer query"))
    assert(out(6L) == Seq("customer query"))
    assert(out(7L) == Seq("slow filter", "vector")) // sorted, normalized
    assert(out(8L) == Seq.empty)
  }

  test("filterBlocklisted drops hit docs, keeps null text; list guards") {
    val df = docs(1L -> "clean doc", 2L -> "has vector inside", 3L -> null)
    val kept = TextOps.filterBlocklisted(df, "text", Seq("vector"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // duplicate + differently-cased entries collapse to one normalized form
    val hits = df.select(TextOps.blocklistHits(col("text"),
        Seq("VECTOR", "vector", " vector ")).as("h"))
      .agg(max(size(col("h")))).collect()(0).getInt(0)
    assert(hits == 1)
    val e1 = intercept[IllegalArgumentException] {
      TextOps.blocklistHits(col("text"), Seq("  ", ""))
    }
    assert(e1.getMessage.contains("empty"))
    val e2 = intercept[IllegalArgumentException] {
      TextOps.blocklistHits(col("text"),
        (1 to TextOps.MaxBlocklistEntries + 1).map("p" + _))
    }
    assert(e2.getMessage.contains("over"))
  }

  test("curationFunnel: sequential survival counts + first_fail diagnosis") {
    val st = struct(
      "doc_id" -> LongType, "src" -> StringType, "text" -> StringType)
    // a gopher-passing base: 56 words incl. >= 2 stopwords, 3 proper
    // sentence lines for the C4 floor
    val base = ("the data and with that have to be " * 7).trim +
      "\nThis is a proper sentence with seven words." +
      "\nHere is another proper sentence for the page." +
      "\nA third proper sentence closes the page here."
    val df = frame(st,
      Row(1L, "a", base),                                  // passes all
      Row(2L, "a", "tiny doc"),                            // fails gopher (word count)
      Row(3L, "a", base + "\nlorem ipsum here"),           // fails c4 (lorem)
      Row(4L, "a",                                         // fails blocklist
        base + "\nThe vector is in the data pipeline today."),
      Row(5L, "a", null),                                  // null
      Row(6L, "b", base + "\nhas a { brace } line okay.")) // fails c4 (brace)
    val ff = df.select(col("doc_id"),
        TextOps.curationFirstFail(col("text"), Seq("vector")).as("f"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(ff == Map(1L -> "pass", 2L -> "gopher", 3L -> "c4",
      4L -> "blocklist", 5L -> null, 6L -> "c4"))
    val fun = TextOps.curationFunnel(df, "src", "text", Seq("vector"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // src a: 5 docs, 1 null; gopher keeps 1/3/4; c4 keeps 1/4; all keeps 1
    assert(fun("a") == ((5L, 1L, 3L, 2L, 1L)))
    assert(fun("b") == ((1L, 0L, 1L, 0L, 0L)))
  }

  test("curationFunnelFull: the repetition stage sits between gopher and c4") {
    val st = struct(
      "doc_id" -> LongType, "src" -> StringType, "text" -> StringType)
    val base = ("the data and with that have to be " * 7).trim +
      "\nThis is a proper sentence with seven words." +
      "\nHere is another proper sentence for the page." +
      "\nA third proper sentence closes the page here."
    val df = frame(st,
      Row(1L, "a", base),                                   // passes all
      // gopher-clean but a duplicated paragraph pair: dup_para 2/3 of 3
      // paragraphs → the repetition stage drops it
      Row(2L, "a", base + "\n\nZq repeated para.\n\nZq repeated para."),
      Row(3L, "a", base + "\nlorem ipsum here"),            // drops at c4
      Row(4L, "a", "tiny doc"),                             // drops at gopher
      Row(5L, "a", null))
    val fun = TextOps.curationFunnelFull(df, "src", "text", Seq("vector"))
      .head()
    assert((fun.getLong(1), fun.getLong(2), fun.getLong(3), fun.getLong(4),
      fun.getLong(5), fun.getLong(6)) == ((5L, 1L, 3L, 2L, 1L, 1L)))
  }

  test("elementCounts kernel: per-row histogram, null elements skipped, SQL form") {
    val st = struct("id" -> LongType, "toks" -> ArrayType(StringType))
    val df = frame(st,
      Row(1L, Seq("a", "b", "a", "a", null, "b")),
      Row(2L, Seq.empty[String]),
      Row(3L, null))
    val m = df.select(col("id"),
        graft.functions.native.elementCounts(col("toks")).as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getMap[String, Long](1))).toMap
    assert(m(1L) == Map("a" -> 3L, "b" -> 2L))
    assert(m(2L) == Map.empty[String, Long])
    assert(m(3L) == null)
    // exploding the map ≡ the explode-then-group form, with no aggregate
    val viaKernel = df.select(col("id"),
        explode(graft.functions.native.elementCounts(col("toks")))
          .as(Seq("t", "c")))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaGroup = df.select(col("id"), explode(col("toks")).as("t"))
      .where(col("t").isNotNull)
      .groupBy("id", "t").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaKernel == viaGroup)
    // registered SQL form
    df.createOrReplaceTempView("ec_docs")
    val sql = spark.sql(
      "SELECT id, element_counts(toks) AS m FROM ec_docs WHERE id = 1")
      .collect()(0).getMap[String, Long](1)
    assert(sql == Map("a" -> 3L, "b" -> 2L))
  }

  test("stripBoilerplateParagraphs: site chrome removed everywhere, cross-domain kept") {
    val st = struct(
      "doc_id" -> LongType, "dom" -> StringType, "text" -> StringType)
    val df = frame(st,
      Row(1L, "a.com", "unique one\n\nshared footer A\n\nsyndicated quote"),
      Row(2L, "a.com", "unique two\n\nshared footer A"),
      Row(3L, "b.com", "unique three\n\nsyndicated quote"),
      Row(4L, "b.com", "unique four"),
      Row(5L, null, "null-dom one\n\nnull-dom chrome"),
      Row(6L, null, "null-dom chrome\n\nnull-dom two"),
      Row(7L, "c.com", null))
    val out = Dedup.stripBoilerplateParagraphs(df, "dom", "doc_id", "text")
      .select("doc_id", "cleaned", "n_paras", "n_kept_paras").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)),
          r.getLong(2), r.getLong(3))).toMap
    // footer A repeats in 2 docs of a.com → stripped from BOTH (no
    // keep-first); the syndicated quote appears once per domain → kept
    assert(out(1L) == (("unique one\n\nsyndicated quote", 3L, 2L)))
    assert(out(2L) == (("unique two", 2L, 1L)))
    assert(out(3L) == (("unique three\n\nsyndicated quote", 2L, 2L)))
    assert(out(4L) == (("unique four", 1L, 1L)))
    // null domains form one group — their shared chrome strips too
    assert(out(5L) == (("null-dom one", 2L, 1L)))
    assert(out(6L) == (("null-dom two", 2L, 1L)))
    // null text stays null
    assert(out(7L) == ((null, 0L, 0L)))
    // minDocs raises the bar: at 3 nothing in this corpus is boilerplate
    val at3 = Dedup.stripBoilerplateParagraphs(df, "dom", "doc_id", "text", minDocs = 3)
      .agg(sum(col("n_paras") - col("n_kept_paras"))).collect()(0).getLong(0)
    assert(at3 == 0L)
    val e = intercept[IllegalArgumentException] {
      Dedup.stripBoilerplateParagraphs(df, "dom", "doc_id", "text", minDocs = 1)
    }
    assert(e.getMessage.contains(">= 2"))
  }

  test("urlDomainBlocked: exact host, subdomain, www, port; substrings never match") {
    val st = struct("id" -> LongType, "url" -> StringType)
    val df = frame(st,
      Row(1L, "https://example.com/page"),          // exact
      Row(2L, "http://news.example.com/a?b=1"),     // subdomain
      Row(3L, "https://WWW.Example.com/"),          // www + case
      Row(4L, "https://example.com:8080/x"),        // port
      Row(5L, "https://notexample.com/x"),          // substring must NOT match
      Row(6L, "https://example.community/x"),       // TLD prefix must NOT match
      Row(7L, "https://user@example.com/x"),        // userinfo
      Row(8L, "example.com/bare"),                  // schemeless
      Row(9L, "https://other.org/x"),
      Row(10L, null))                               // null kept
    val blocked = df.select(col("id"),
        TextOps.urlDomainBlocked(col("url"), Seq("Example.com", "www.dup.com")).as("b"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else Boolean.box(r.getBoolean(1)))).toMap
    assert(Seq(1L, 2L, 3L, 4L, 7L, 8L).forall(blocked(_) == true))
    // null url: the literal-array filter drops every element under a null
    // predicate → empty hits → NOT blocked (false, not null)
    assert(Seq(5L, 6L, 9L, 10L).forall(blocked(_) == false))
    val kept = TextOps.filterBlockedDomains(df, "url", Seq("example.com"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 6L, 9L, 10L))
    // the www-stripped blocklist entry blocks the bare domain too
    val dup = frame(st, Row(1L, "https://dup.com/x"), Row(2L, "https://a.dup.com/x"))
      .select(TextOps.urlDomainBlocked(col("url"), Seq("www.dup.com")).as("b"))
      .collect().map(_.getBoolean(0))
    assert(dup.forall(identity))
    val e = intercept[IllegalArgumentException] {
      TextOps.urlDomainBlocked(col("url"), Seq("  ", ""))
    }
    assert(e.getMessage.contains("empty"))
  }

  test("htmlBlockMetrics: strip, anchor density, stopwords — hand-computed") {
    val html =
      """<html><!-- c --><head><style>p { x }</style>""" +
        """<script>if (1 < 2) { }</script><title>T</title></head>""" +
        """<body><h1>Doc 5 title</h1>""" +
        """<div class="nav"><a href="/">Home</a> <a href="/a">About</a></div>""" +
        """<p>The point of the test is that it is good.</p>""" +
        """<p>Read the docs &amp; see &lt;tags&gt; in the text of it okay.</p>""" +
        """</body></html>"""
    val df = docs(1L -> html)
    val out = df.select(explode(TextOps.htmlBlockMetrics(col("text"))).as("b"))
      .select("b.*").orderBy("block_id").collect()
    // blocks: h1 title (too short, no stopwords), nav (pure links),
    // prose (good), entity prose (good — decoded)
    assert(out.length == 4)
    val byText = out.map(r => r.getString(1) -> r).toMap
    val h1 = byText("Doc 5 title")
    assert(h1.getLong(2) == 9L && h1.getLong(3) == 0L)       // n_chars, anchor
    assert(!h1.getBoolean(6) && h1.getBoolean(7))            // len_ok, link_ok
    assert(!h1.getBoolean(9))                                // good
    val nav = byText("Home About")
    assert(nav.getLong(2) == 9L && nav.getLong(3) == 9L)     // all anchor text
    assert(!nav.getBoolean(7) && !nav.getBoolean(9))         // link_ok, good
    val prose = byText("The point of the test is that it is good.")
    assert(prose.getLong(2) == 32L && prose.getLong(3) == 0L)
    assert(prose.getLong(4) == 10L && prose.getLong(5) == 7L) // words, stops
    assert(prose.getBoolean(6) && prose.getBoolean(7) &&
      prose.getBoolean(8) && prose.getBoolean(9))
    // entities decoded: &amp;→&, &lt;/&gt;→<>; "the","in","the","of" stop
    val ent = byText("Read the docs & see <tags> in the text of it okay.")
    assert(ent.getBoolean(9))
    // extraction keeps exactly the good blocks, newline-joined
    val clean = df.select(TextOps.htmlExtractText(col("text")))
      .collect()(0).getString(0)
    assert(clean ==
      "The point of the test is that it is good.\n" +
        "Read the docs & see <tags> in the text of it okay.")
    // null html: null metrics and null extraction
    val n = docs(2L -> null).select(
      TextOps.htmlBlockMetrics(col("text")).as("m"),
      TextOps.htmlExtractText(col("text")).as("t")).collect()(0)
    assert(n.isNullAt(0) && n.isNullAt(1))
    // <particular> is NOT a block tag (the <p rule requires a boundary)
    val p = docs(3L -> "<particular>words</particular> the text of it is all good here okay")
      .select(size(TextOps.htmlBlockMetrics(col("text")))).collect()(0).getInt(0)
    assert(p == 1)
  }

  test("sizedPlanes/sizedBands: bucket-quadratic guard sizes with the corpus") {
    // avg bucket ≤ target: 2k vectors fit 5 planes (2^5 = 32 buckets,
    // ~62/bucket); 20k need 9; tiny corpora floor at 1; cap at 30
    assert(Dedup.sizedPlanes(2000) == 5)
    assert(Dedup.sizedPlanes(20000) == 9)
    assert(Dedup.sizedPlanes(0) == 1 && Dedup.sizedPlanes(10) == 1)
    assert(Dedup.sizedPlanes(Long.MaxValue) == 30)
    // monotone: more data never means fewer buckets
    assert(Dedup.sizedPlanes(200000) >= Dedup.sizedPlanes(20000))
    assert(Dedup.sizedBands(5) == 10 && Dedup.sizedBands(2) == 8)
    intercept[IllegalArgumentException] { Dedup.sizedPlanes(-1) }
    intercept[IllegalArgumentException] { Dedup.sizedPlanes(5, 0) }
  }

  test("Pipeline.curate: per-page first-fail diagnosis across all ten stages") {
    val spark0 = spark
    import spark0.implicits._
    val p1 = "It is a pleasant morning for the people of the village " +
      "and the weather is a gentle presence in all of the streets."
    val p2 = "The point of it is that the work of the day sits in the " +
      "middle of it for all of the people involved."
    val p3 = "The point of the note is that it is written for the " +
      "reader and it is kept in the set."
    def page(extra: String*): String =
      "<html><body>" + (Seq(p1, p2, p3) ++ extra)
        .map(s => s"<p>$s</p>").mkString + "</body></html>"
    val leak = "It is the case that the answer to the benchmark " +
      "question is in the set."
    val crawl = Seq(
      (1L, "s0", "https://www.bad.example.com/x", page()),
      (2L, "s0", "https://ok.example.com/2", null),
      (3L, "s0", "https://ok.example.com/3",
        "<html><body><p>" + p3 + "</p></body></html>"),
      (4L, "s0", "https://ok.example.com/4", page(p1, p1, p1)),
      (5L, "s0", "https://ok.example.com/5",
        page("lorem ipsum dolor sit amet the words go on in the line " +
          "of it okay.")),
      (6L, "s0", "https://ok.example.com/6",
        page("It is the day of the banned topic of it in the set of it.")),
      (7L, "s0", "https://ok.example.com/7?utm_source=x#f",
        page("It is the seventh page of the set for the day of it.")),
      (8L, "s0", "https://ok.example.com/7",
        page("It is the eighth page of the set for the day of it.")),
      (9L, "s0", "https://ok.example.com/9",
        page("It is the seventh page of the set for the day of it.")),
      (10L, "s0", "https://ok.example.com/10", page(leak)),
      (11L, "s1", "https://ok.example.com/11",
        page("It is the eleventh page of it for the day of it in the set.")),
      (12L, "s1", "https://ok.example.com/12",
        page("It is the twelfth page of it for the day of it in the set.")))
      .toDF("doc_id", "source", "url", "html")
    val eval = Seq(leak).toDF("text")
    val cfg = Pipeline.CurationConfig(
      blockedDomains = Seq("bad.example.com"),
      phrases = Seq("banned topic"),
      weights = Map("s0" -> 1L, "s1" -> 1L),
      budgetTokens = 100000L,
      shardTokens = 70L)
    val out = Pipeline.curate(
      crawl, "doc_id", "url", "source", "html", eval, "text", cfg)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    val stages = out.map { case (k, (s, _, _)) => k -> s }
    assert(stages == Map(
      1L -> "domain", 2L -> "null_html", 3L -> "gopher",
      4L -> "repetition", 5L -> "c4", 6L -> "blocklist",
      7L -> "kept", 8L -> "url_dup", 9L -> "text_dup",
      10L -> "decontam", 11L -> "kept", 12L -> "kept"), stages.toString)
    // n_tok: null before extraction, counted after; shard: kept only
    assert(out(1L)._2 == -1L && out(2L)._2 == -1L)
    assert(out(7L)._2 > 0L && out(3L)._2 > 0L)
    assert(out(7L)._3 >= 0L && out(11L)._3 >= 0L && out(12L)._3 >= 0L)
    assert(out(8L)._3 == -1L && out(4L)._3 == -1L)

    // a budget below the per-source token mass forces 'mix' drops: each
    // source keeps its md5-order prefix with the crossing row kept
    val tight = Pipeline.curate(
      crawl, "doc_id", "url", "source", "html", eval, "text",
      cfg.copy(budgetTokens = 80L))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tight(7L) == "kept") // only s0 survivor: cum-before 0 < quota
    assert(Seq(tight(11L), tight(12L)).sorted == Seq("kept", "mix"),
      tight.toString)
  }

  test("dedupRepeatedCharSpans: CJK runs invisible to word grams dedup at char level") {
    val run = "深度学习模型的训练数据需要去重"
    val df = docs(
      1L -> ("alpha beta " + run + " gamma"),
      2L -> ("delta epsilon " + run + " zeta"),
      3L -> "unrelated text here entirely",
      4L -> null)
    // the duplicated run is ONE whitespace token — the word path sees no
    // shared 3-gram at all
    val word = Decontam.dedupRepeatedSpans(df, "doc_id", "text", n = 3)
      .where(col("doc_id") === 2L).head()
    assert(word.getAs[Long]("n_removed_tokens") == 0L)
    val out = Decontam.dedupRepeatedCharSpans(df, "doc_id", "text", n = 15)
      .orderBy("doc_id").collect()
    // min-id winner keeps its text; the loser loses the run PLUS both
    // flanking spaces — the windows straddling (space, run-prefix) and
    // (run-suffix, space) are shared too, the interval union covering 17
    // chars
    assert(out(0).getAs[String]("cleaned") == "alpha beta " + run + " gamma")
    assert(out(0).getAs[Long]("n_removed_chars") == 0L)
    assert(out(1).getAs[String]("cleaned") == "delta epsilonzeta")
    assert(out(1).getAs[Long]("n_removed_chars") == 17L)
    assert(out(2).getAs[Long]("n_removed_chars") == 0L)
    assert(out(3).isNullAt(out(3).fieldIndex("cleaned")))
    assert(out(3).getAs[Long]("n_removed_chars") == 0L)
    val e = intercept[IllegalArgumentException] {
      Decontam.dedupRepeatedCharSpans(df, "doc_id", "text", n = 1)
    }
    assert(e.getMessage.contains("n must be >= 2"))
  }
}


