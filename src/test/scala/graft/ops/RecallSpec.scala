package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Correctness backstops for the driver queries that have no DuckDB oracle
  * (rows-only in CORRECTNESS): exhaustive-twin equality where the algorithm
  * guarantees complete recall, measured recall@k floors where it is
  * genuinely approximate. All on the driver's own sf0.01 tables, so a
  * semantics or recall regression in q36/q38/q41/q43/q62 fails the suite
  * even though the driver can only count their rows.
  */
class RecallSpec extends SparkSpec {

  private lazy val sfDir = s"$testdataRoot/sf0.01"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def neighborSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }

  private def recallAgainst(base: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double =
    base.map { case (q, t) =>
      got.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
    }.sum / base.size

  private lazy val bruteForce = neighborSets(
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
      "embedding", "vec_id", k = 5))

  test("simhashPairs equals the exhaustive hamming pair set (q36/q41 twin)") {
    requireTestdata(sfDir)
    // pigeonhole banding has COMPLETE recall within the hamming budget, so
    // the banded plan must equal brute force exactly, not approximately
    val sigs = docs
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (h <- Seq(3, 8)) {
      val exhaustive = (for {
        (ia, sa) <- sigs
        (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (ia, ib)).toSet
      assert(exhaustive.nonEmpty, s"corpus must contain pairs at maxHamming=$h")
      val banded = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exhaustive,
        s"maxHamming=$h: banded=${banded.size} exhaustive=${exhaustive.size}")
    }
  }

  test("lshTopK recall@5 vs brute force stays above its floor (q38 twin)") {
    requireTestdata(sfDir)
    // q38's banding (4 planes x 8 bands): measured 0.76 on this corpus;
    // the floor has margin for the +-1-pair wobble of fp-order variance
    val lsh = neighborSets(
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, planes = 4, bands = 8))
    val r = recallAgainst(bruteForce, lsh)
    assert(r >= 0.6, s"lshTopK recall@5 = $r, floor 0.6")
  }

  test("ivfTopK recall@5 vs brute force stays above its floor (q43 twin)") {
    requireTestdata(sfDir)
    // q43's config (nlist=16, nprobe=8): measured 0.80 on this corpus
    val ivf = neighborSets(
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nlist = 16, nprobe = 8))
    val r = recallAgainst(bruteForce, ivf)
    assert(r >= 0.65, s"ivfTopK recall@5 = $r, floor 0.65")
  }

  test("ivfKnnJoin: exact at nprobe = nlist (q114 twin); recall floor at nprobe = 8") {
    requireTestdata(sfDir)
    // exhaustive probing is brute force row-for-row (rank and cosine too)
    val exactRows = Similarity.knnJoin(emb, "embedding", "vec_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fullRows = Similarity
      .ivfKnnJoin(emb, "embedding", "vec_id", k = 3, nlist = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fullRows == exactRows, "nprobe = nlist must equal brute force")
    // approximate path: measured 0.77 at nprobe=8 on this corpus
    val base3 = neighborSets(Similarity.knnJoin(emb, "embedding", "vec_id", k = 3))
    val got = neighborSets(Similarity
      .ivfKnnJoin(emb, "embedding", "vec_id", k = 3, nlist = 16, nprobe = 8))
    val r = recallAgainst(base3, got)
    assert(r >= 0.65, s"ivfKnnJoin recall@3 = $r, floor 0.65")
  }

  test("persisted ANN index: build→append→probe exact at nprobe = nlist, recall floor when approximate") {
    requireTestdata(sfDir)
    val idxPath = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString
    // the q99 lifecycle: train on most of the corpus, fold the %10==5
    // slice in via append (frozen quantizer) — probing ALL cells scores
    // every (query, neighbor) pair exactly once, so the result must EQUAL
    // brute force whatever the quantizer learned
    Similarity.writeAnnIndex(
      emb.where(col("vec_id") % 10 =!= 5), "embedding", "vec_id", idxPath,
      nlist = 8)
    Similarity.appendAnnIndex(
      emb.where(col("vec_id") % 10 === 5), "embedding", "vec_id", idxPath)
    val exact = neighborSets(Similarity.annTopKAgainstIndex(
      emb.where(col("vec_id") < 10), "embedding", "vec_id", idxPath,
      k = 5, nprobe = 8))
    assert(exact == bruteForce, "nprobe = nlist probes every cell — exact")
    // the approximate probe (half the cells) keeps a q43-style floor
    val approx = neighborSets(Similarity.annTopKAgainstIndex(
      emb.where(col("vec_id") < 10), "embedding", "vec_id", idxPath,
      k = 5, nprobe = 4))
    val r = recallAgainst(bruteForce, approx)
    assert(r >= 0.6, s"persisted-index recall@5 = $r, floor 0.6")
    // sampled centroid training (the 100 TB path: train on a slice, never
    // cache the corpus) must still be EXACT at nprobe = nlist — probe
    // correctness is independent of what the quantizer learned
    val sampledIdx = java.nio.file.Files.createTempDirectory("graft-ann-smp").toString
    Similarity.writeAnnIndex(emb, "embedding", "vec_id", sampledIdx,
      nlist = 8, trainFraction = 0.2)
    assert(neighborSets(Similarity.annTopKAgainstIndex(
      emb.where(col("vec_id") < 10), "embedding", "vec_id", sampledIdx,
      k = 5, nprobe = 8)) == bruteForce,
      "sample-trained index must stay exact at full probe")
    // compaction merges the two assigned dirs into one; results unchanged
    assert(Similarity.resolveAnnIndex(spark, idxPath).header.manifest.size == 2,
      "build + append must leave two assigned data dirs to compact")
    Similarity.compactAnnIndex(spark, idxPath)
    val manifest = Similarity.resolveAnnIndex(spark, idxPath).header.manifest
    assert(manifest.size == 1 && manifest.head._1 == "assigned",
      s"compaction must leave ONE assigned data dir, got $manifest")
    assert(neighborSets(Similarity.annTopKAgainstIndex(
      emb.where(col("vec_id") < 10), "embedding", "vec_id", idxPath,
      k = 5, nprobe = 8)) == bruteForce,
      "compaction must not change probe results")
    // re-appending committed ids fails loudly before any write
    val err = intercept[IllegalArgumentException] {
      Similarity.appendAnnIndex(
        emb.where(col("vec_id") === 5), "embedding", "vec_id", idxPath)
    }
    assert(err.getMessage.contains("already present"))
    // format-version drift fails loudly on probe
    val live = EpochStore.epochDir(spark, idxPath)
    EpochStore.writeHeader(spark, live,
      EpochStore.readHeader(spark, live).get.copy(formatVersion = 99))
    val verr = intercept[IllegalArgumentException] {
      Similarity.annTopKAgainstIndex(
        emb.where(col("vec_id") < 10), "embedding", "vec_id", idxPath, k = 5)
    }
    assert(verr.getMessage.contains("format version 99") &&
      verr.getMessage.contains("rebuild it with writeAnnIndex"))
  }

  test("compactAnnIndex(retrain) refreshes the quantizer; probes stay exact at full probe") {
    requireTestdata(sfDir)
    // drift scenario: the quantizer trains on a SMALL early slice, then
    // the bulk of the corpus arrives via frozen-quantizer appends — the
    // exact situation where recall decays and only retraining recovers it
    val idxPath = java.nio.file.Files.createTempDirectory("graft-ann-rt").toString
    Similarity.writeAnnIndex(
      emb.where(col("vec_id") < 30), "embedding", "vec_id", idxPath, nlist = 8)
    Similarity.appendAnnIndex(
      emb.where(col("vec_id") >= 30), "embedding", "vec_id", idxPath)
    def centroids() = spark.read.parquet(
      s"${EpochStore.epochDir(spark, idxPath)}/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet
    val centroidsBefore = centroids()
    Similarity.compactAnnIndex(spark, idxPath, retrain = true)
    // retraining over the union must actually move the drift-y quantizer
    assert(centroids() != centroidsBefore,
      "retrain must replace the slice-trained centroids")
    val manifest = Similarity.resolveAnnIndex(spark, idxPath).header.manifest
    assert(manifest.size == 1 && manifest.head._1 == "assigned",
      s"retraining compaction still compacts to ONE data dir, got $manifest")
    // probe correctness is quantizer-independent at nprobe = nlist …
    assert(neighborSets(Similarity.annTopKAgainstIndex(
      emb.where(col("vec_id") < 10), "embedding", "vec_id", idxPath,
      k = 5, nprobe = 8)) == bruteForce,
      "full probe after retraining compaction must equal brute force")
    // … and the partial probe is back on a fresh-build-quality quantizer
    val r = recallAgainst(bruteForce, neighborSets(
      Similarity.annTopKAgainstIndex(
        emb.where(col("vec_id") < 10), "embedding", "vec_id", idxPath,
        k = 5, nprobe = 4)))
    assert(r >= 0.6, s"post-retrain recall@5 = $r, floor 0.6")
    // sampled retraining (the 100 TB path) keeps full-probe exactness too
    Similarity.compactAnnIndex(spark, idxPath, retrain = true, trainFraction = 0.3)
    assert(neighborSets(Similarity.annTopKAgainstIndex(
      emb.where(col("vec_id") < 10), "embedding", "vec_id", idxPath,
      k = 5, nprobe = 8)) == bruteForce,
      "sample-retrained compaction must stay exact at full probe")
  }

  test("annRangeAgainstIndex: zero vectors never match; floor filters exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val vecSt = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    val corpus = frame(vecSt,
      Row(1L, Seq(1f, 0f)), Row(2L, Seq(0.8f, 0.6f)),
      Row(3L, Seq(0f, 1f)), Row(4L, Seq(0f, 0f))) // zero vector in corpus
    val idx = java.nio.file.Files.createTempDirectory("graft-ann-nan").toString
    Similarity.writeAnnIndex(corpus, "embedding", "vec_id", idx, nlist = 2)
    val queries = frame(vecSt, Row(10L, Seq(1f, 0f)), Row(11L, Seq(0f, 0f)))
    val got = Similarity.annRangeAgainstIndex(
      queries, "embedding", "vec_id", idx, floor = 0.7, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // query 10: cos=1.0 with id 1, 0.8 with id 2, 0 with id 3, NaN with the
    // zero id 4 (guarded). query 11 is itself zero — NaN everywhere, no rows.
    assert(got == Set((10L, 1L), (10L, 2L)),
      s"expected exactly the >=0.7 non-NaN pairs, got $got")
  }

  test("quantized ANN index: int8 on disk, probes ≡ brute force over dequantized, lifecycle intact") {
    val idxQ = java.nio.file.Files.createTempDirectory("graft-ann-q").toString
    val part = emb.where(col("vec_id") % 10 =!= 5)
    Similarity.writeAnnIndex(part, "embedding", "vec_id", idxQ, nlist = 8, quantize = true)
    // on disk: codes + scale, no float vector column
    val ep0 = Similarity.resolveAnnIndex(spark, idxQ)
    assert(ep0.header.bool("quantized"))
    val cols = EpochStore.readTable(spark, ep0, "assigned").columns.toSet
    assert(cols == Set("cell", "id", "qvec", "scale"), s"unexpected storage schema $cols")
    // a frozen-quantizer append stores codes too, transparently
    Similarity.appendAnnIndex(
      emb.where(col("vec_id") % 10 === 5), "embedding", "vec_id", idxQ)
    // full probe ≡ brute force over the DEQUANTIZED corpus (exact for the
    // stored representation: same dequantize expressions on both sides)
    val queries = emb.where(col("vec_id") < 10)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val deqCorpus = Similarity.dequantizeInt8(
      Similarity.quantizeInt8(emb.select(col("vec_id"), col("embedding").as("vec")), "vec"),
      "vec_q", "scale", "dv")
      .select(col("vec_id"), col("dv").as("embedding"))
    val expect = Similarity.bruteForceTopK(deqCorpus, queries, "embedding", "vec_id", k = 5)
    val got = Similarity.annTopKAgainstIndex(
      queries, "embedding", "vec_id", idxQ, k = 5, nprobe = 8)
    assert(rows(got) == rows(expect))
    // recall vs the FLOAT corpus stays near-exact (int8 error is tiny)
    val r = recallAgainst(
      neighborSets(Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)),
      neighborSets(got))
    assert(r >= 0.9, s"quantized-index recall vs float collapsed: $r")
    // retraining compaction keeps codes and probe equality
    Similarity.compactAnnIndex(spark, idxQ, retrain = true)
    val ep1 = Similarity.resolveAnnIndex(spark, idxQ)
    assert(ep1.header.bool("quantized"))
    assert(EpochStore.readTable(spark, ep1, "assigned").columns.toSet ==
      Set("cell", "id", "qvec", "scale"))
    assert(rows(Similarity.annTopKAgainstIndex(
      queries, "embedding", "vec_id", idxQ, k = 5, nprobe = 8)) == rows(expect))
  }

  test("hardNegativesAgainstIndex: exact at nprobe = nlist (q119 twin); recall floor at nprobe = 2") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ann-hn").toString
    Similarity.writeAnnIndex(emb, "embedding", "vec_id", idx, nlist = 8)
    val queries = emb.where(col("vec_id") % 17 === 0)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val exact = Similarity.hardNegatives(
      emb, queries, "embedding", "vec_id", k = 5, maxCosine = 0.8, minCosine = 0.1)
    // every cell probed ⇒ candidate set is the whole corpus ⇒ row-for-row
    // identical to the broadcast-quadratic miner
    val full = Similarity.hardNegativesAgainstIndex(
      queries, "embedding", "vec_id", idx,
      k = 5, maxCosine = 0.8, minCosine = 0.1, nprobe = 8)
    assert(rows(full) == rows(exact))
    // approximate probing keeps a sane fraction of the exact mined set
    val approx = neighborSets(Similarity.hardNegativesAgainstIndex(
      queries, "embedding", "vec_id", idx,
      k = 5, maxCosine = 0.8, minCosine = 0.1, nprobe = 2))
    val r = recallAgainst(neighborSets(exact), approx)
    assert(r >= 0.4, s"hard-negative recall at nprobe=2 collapsed: $r")
  }

  test("diversitySample: deterministic, caps every cell, keeps small cells whole") {
    requireTestdata(sfDir)
    val n = 5
    val sampled = Similarity.diversitySample(emb, "embedding", "vec_id", n, nlist = 8)
    val rows = sampled.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // deterministic: content-keyed pick + hash-seeded quantizer → same rows
    val again = Similarity.diversitySample(emb, "embedding", "vec_id", n, nlist = 8)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSet == again.toSet, "rerun must pick identical rows")
    // cap per cell; small cells kept whole — check against full cell sizes
    val fullCells = Similarity.diversitySample(emb, "embedding", "vec_id",
      Int.MaxValue, nlist = 8)
      .groupBy("cell").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val kept = rows.groupBy(_._2).map { case (c, xs) => (c, xs.length.toLong) }
    assert(kept.forall { case (c, cnt) => cnt == math.min(n.toLong, fullCells(c)) },
      s"each cell must keep min(n, |cell|): kept=$kept full=$fullCells")
    // sampled ids are a subset of the corpus
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet.subsetOf(ids))
  }

  test("multimodal ANN equals a driver-side exact top-k (q62 twin)") {
    requireTestdata(sfDir)
    // q62 is exact brute force over extracted features — rows-only in the
    // driver because feature extraction isn't SQL-expressible, so verify
    // the whole pipeline against an independent in-memory computation
    val features = Multimodal.featureExtract(
      spark, Multimodal.synthesizePng(spark, docs, "doc_id", "text", "payload"),
      "doc_id", "payload", dim = 16)
      .where(col("error").isNull).select("doc_id", "embedding")
    val got = Similarity.bruteForceTopK(
      features, features.where(col("doc_id") < 5), "embedding", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

    val vecs = features.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.keys.filter(_ < 5).toSeq.sorted.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) => (n, cos(vecs(q), v)) }
        .sortBy { case (n, c) => (-c, n) }
        .take(3).zipWithIndex
        .map { case ((n, _), i) => (q, i + 1, n) }
    }
    assert(got == expected)
  }

  test("dedupClustersStar ≡ dedupClusters on the driver corpus's LSH pairs") {
    requireTestdata(sfDir)
    // same pair set as q61; the two component algorithms must produce the
    // identical (id, rep) labeling — both pick the component minimum
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id",
      k = 3, numHashes = 64, bands = 32, threshold = 0.5)
    // propagation rounds pinned on (fast path off) so the comparison
    // below spans three genuinely different closure implementations
    val prop = Dedup.dedupClusters(docs, "doc_id", pairs, maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val star = Dedup.dedupClustersStar(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star == prop)
    // the distributed star rounds (driver fast path disabled) agree on
    // the same real pair set — all three closure implementations coincide
    val starDistributed = Dedup.dedupClustersStar(docs, "doc_id", pairs,
      maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(starDistributed == prop)
    assert(prop.exists { case (id, rep) => id != rep },
      "corpus must contain at least one non-trivial cluster")
  }

  test("int8 quantization: bounded error, near-exact top-k on dequantized vectors") {
    requireTestdata(sfDir)
    val q = Similarity.quantizeInt8(emb, "embedding")
    // per-component reconstruction error ≤ scale/2 (+fp eps), codes in range
    val rows = Similarity.dequantizeInt8(q, "embedding_q", "scale", "deq")
      .select("embedding", "deq", "scale", "embedding_q").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val orig = r.getSeq[Float](0)
      val deq = r.getSeq[Float](1)
      val scale = r.getFloat(2)
      val codes = r.getSeq[Byte](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      orig.zip(deq).foreach { case (o, d) =>
        assert(math.abs(o - d) <= scale / 2 + 1e-4f,
          s"component error ${math.abs(o - d)} exceeds half-step $scale")
      }
    }
    // the 4x-compressed store must preserve neighbor structure: top-5 on
    // dequantized vectors vs the float baseline
    val deq = Similarity.dequantizeInt8(q, "embedding_q", "scale", "deq")
      .select(col("vec_id"), col("deq").as("embedding"))
    val got = neighborSets(
      Similarity.bruteForceTopK(deq, deq.where(col("vec_id") < 10),
        "embedding", "vec_id", k = 5))
    val r = recallAgainst(bruteForce, got)
    assert(r >= 0.9, s"int8 top-5 recall = $r, floor 0.9")
    // zero and null vectors degrade safely
    val edge = Similarity.quantizeInt8(
      frame(struct("vec_id" -> org.apache.spark.sql.types.LongType,
        "embedding" -> org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.Row(1L, Seq(0.0f, 0.0f)),
        org.apache.spark.sql.Row(2L, null)), "embedding")
      .orderBy("vec_id").collect()
    assert(edge(0).getFloat(edge(0).fieldIndex("scale")) == 0.0f)
    assert(edge(0).getSeq[Byte](edge(0).fieldIndex("embedding_q")) == Seq(0.toByte, 0.toByte))
    assert(edge(1).isNullAt(edge(1).fieldIndex("scale")))
    assert(edge(1).isNullAt(edge(1).fieldIndex("embedding_q")))
  }

  test("FFD packing invariants on the driver corpus (q75 pin)") {
    requireTestdata(sfDir)
    // q75 is rows-only (first-fit is a sequential decision SQL can't
    // express), so pin the packing CONTRACT here: every doc placed exactly
    // once, no bin over capacity unless it holds a single oversize doc,
    // bins numbered contiguously from 0 within each group
    val capacity = 256L
    val sourceIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    // 8 is the q75 shape; 64 exercises the multi-digit md5 group key
    for (nGroups <- Seq(8, 64)) {
      val packed = Packing.packFirstFitDecreasing(
        docs, "doc_id", "text", capacity, nGroups = nGroups)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))

      assert(packed.map(_._1).sorted.toSeq == sourceIds.toSeq,
        s"nGroups=$nGroups: every document must be packed exactly once")
      assert(packed.forall(t => t._2 >= 0 && t._2 < nGroups),
        s"nGroups=$nGroups: group ids must stay in range")

      packed.groupBy(t => (t._2, t._3)).foreach { case ((grp, bin), members) =>
        val total = members.map(_._4).sum
        assert(total <= capacity || members.length == 1,
          s"nGroups=$nGroups grp=$grp bin=$bin holds $total tokens across ${members.length} docs")
      }
      packed.groupBy(_._2).foreach { case (grp, members) =>
        val bins = members.map(_._3).distinct.sorted
        assert(bins.toSeq == (0 until bins.length).toSeq,
          s"nGroups=$nGroups grp=$grp bins must be contiguous from 0, got ${bins.toSeq}")
      }
    }
  }
}
