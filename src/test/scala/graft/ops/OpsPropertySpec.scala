package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSpec

/** Generative properties for the packing / mixing / tokenizing ops — the
  * hand-written fixtures pin exact placements; these sweep the parameter
  * space (corpus shapes × capacities × group counts) for the structural
  * invariants that must hold everywhere.
  */
object OpsPropertySpec extends Properties("graft.ops") {

  private lazy val spark = SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxDiscardRatio(10)

  private val docSt = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** Corpus where doc i has tokenCounts(i-1) distinct tokens t{i}x{j}. */
  private def corpus(tokenCounts: Seq[Int]) = {
    val rows = tokenCounts.zipWithIndex.map { case (n, i) =>
      Row((i + 1).toLong, (1 to n).map(j => s"t${i + 1}x$j").mkString(" "))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSt)
  }

  private val genCounts: Gen[List[Int]] =
    Gen.choose(0, 20).flatMap(k => Gen.listOfN(k, Gen.choose(0, 12)))

  property("elementCounts explode equals the explode-then-group computation") =
    forAll(Gen.listOf(Gen.listOf(
      Gen.oneOf(Gen.oneOf("a", "b", "ab", "ba", ""), Gen.const(null: String))))) { arrays =>
      val st = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("toks", ArrayType(StringType, containsNull = true))))
      val rows = arrays.zipWithIndex.map { case (a, i) => Row(i.toLong, a) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), st)
      import org.apache.spark.sql.functions._
      val viaKernel = df.select(col("id"),
          explode(graft.functions.native.elementCounts(col("toks")))
            .as(Seq("t", "c")))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val naive = arrays.zipWithIndex.flatMap { case (a, i) =>
        a.filter(_ != null).groupBy(identity).map { case (t, occ) =>
          (i.toLong, t) -> occ.size.toLong }
      }.toMap
      viaKernel == naive
    }

  private def md5hex(s: String): String = SparkSpec.md5hex(s)

  /** Spark's `trim` strips ASCII spaces only — replicate that, not
    * Scala's all-control-chars `.trim`.
    */
  private def sparkTrim(s: String): String =
    s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse

  /** Naive per-doc recompute of all 13 Gopher repetition signals + the
    * verdict, mirroring gopherRepetitionReport's documented rules.
    */
  private def naiveRep(text: String): (Seq[Double], Boolean) = {
    val lines = text.split("\n", -1).toSeq.filter(l => sparkTrim(l).nonEmpty)
    val paras = text.split("\\n{2,}", -1).toSeq.filter(p => sparkTrim(p).nonEmpty)
    val toks = text.split("\\s+", -1).toSeq.filter(_.nonEmpty)
    val nc = toks.map(_.length.toLong).sum
    def dupPair(items: Seq[String]): (Double, Double) = {
      val d = items.distinct
      val n = items.size.toDouble; val nd = d.size.toDouble
      val c = items.map(_.length).sum.toDouble
      val cd = d.map(_.length).sum.toDouble
      (if (n == 0) 0.0 else (n - nd) / n,
        if (c == 0) 0.0 else (c - cd) / c)
    }
    def grams(n: Int): Seq[String] =
      if (toks.size < n) Seq.empty
      else toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
    val tops = Seq(2, 3, 4).map { n =>
      val g = grams(n)
      if (g.isEmpty) 0L
      else {
        val counts = g.groupBy(identity).map { case (k, v) => (k, v.size) }
        val (win, c) = counts.maxBy { case (k, cc) =>
          (cc, k.length - (n - 1), md5hex(k)) }
        c.toLong * (win.length - (n - 1))
      }
    }
    val dups = (5 to 10).map { n =>
      val g = grams(n)
      val counts = g.groupBy(identity).map { case (k, v) => (k, v.size) }
      val cov = scala.collection.mutable.Set[Int]()
      g.zipWithIndex.foreach { case (gr, i) =>
        if (counts(gr) >= 2) (i until i + n).foreach(cov += _)
      }
      cov.toSeq.map(idx => toks(idx).length.toLong).sum
    }
    def frac(x: Long) = if (nc == 0L) 0.0 else x.toDouble / nc.toDouble
    val (dlf, dlcf) = dupPair(lines)
    val (dpf, dpcf) = dupPair(paras)
    val fracs = Seq(dlf, dlcf, dpf, dpcf) ++ tops.map(frac) ++ dups.map(frac)
    val lN = lines.size.toLong; val lD = lines.distinct.size.toLong
    val lC = lines.map(_.length.toLong).sum
    val lCD = lines.distinct.map(_.length.toLong).sum
    val pN = paras.size.toLong; val pD = paras.distinct.size.toLong
    val pC = paras.map(_.length.toLong).sum
    val pCD = paras.distinct.map(_.length.toLong).sum
    val topOk = Seq((5L, 1L), (50L, 9L), (25L, 4L)).zip(tops).forall {
      case ((a, b), t) => t * a <= nc * b }
    val dupOk = Seq((20L, 3L), (50L, 7L), (100L, 13L), (25L, 3L),
      (100L, 11L), (10L, 1L)).zip(dups).forall {
      case ((a, b), dv) => dv * a <= nc * b }
    val pass = (lN - lD) * 10 <= lN * 3 && (lC - lCD) * 5 <= lC &&
      (pN - pD) * 10 <= pN * 3 && (pC - pCD) * 5 <= pC && topOk && dupOk
    (fracs, pass)
  }

  private val genRepDoc: Gen[String] = for {
    k <- Gen.choose(1, 18)
    toks <- Gen.listOfN(k, Gen.oneOf("a", "b", "ab", "c", "dd"))
    seps <- Gen.listOfN(k, Gen.frequency(6 -> Gen.const(" "),
      2 -> Gen.const("\n"), 1 -> Gen.const("\n\n")))
  } yield toks.zip(seps).map { case (t, s) => t + s }.mkString

  property("gopherRepetitionReport equals the naive per-doc recompute") =
    forAll(Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genRepDoc))) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => Row((i + 1).toLong, t) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), docSt)
      val got = TextOps.gopherRepetitionReport(df, "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) ->
          (((1 to 13).map(r.getDouble): Seq[Double]), r.getBoolean(14)))
        .toMap
      val want = texts.zipWithIndex.map { case (t, i) =>
        (i + 1).toLong -> naiveRep(t) }.toMap
      got == want
    }

  property("materializeBins rebuilds each group exactly at capacity boundaries") =
    forAll(genCounts, Gen.choose(1L, 20L), Gen.choose(1, 8)) { (counts, cap, ng) =>
      val df = corpus(counts)
      val bins = Packing.materializeBins(df, "doc_id", "text", cap, ng)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .groupBy(_._1)
      val plan = Packing.concatChunkPlan(df, "doc_id", "text", cap, ng)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      plan.groupBy(_._2).forall { case (g, members) =>
        val toks = members.sortBy(_._1).flatMap { case (id, _, n) =>
          (1 to n.toInt).map(j => s"t${id}x$j")
        }
        if (toks.isEmpty) !bins.contains(g) // all-empty groups emit no bins
        else {
          val bs = bins(g).sortBy(_._2)
          bs.map(_._2).toSeq == (0L until bs.length).toSeq &&
            bs.init.forall(_._4 == cap) && // every bin full except the last
            bs.last._4 == toks.length - cap * (bs.length - 1) &&
            bs.flatMap(_._3.split(" ").filter(_.nonEmpty)).toSeq == toks.toSeq
        }
      }
    }

  property("FFD places every doc exactly once and never overfills") =
    forAll(genCounts, Gen.choose(1L, 15L), Gen.choose(1, 8)) { (counts, cap, ng) =>
      val packed = Packing.packFirstFitDecreasing(
        corpus(counts), "doc_id", "text", cap, ng)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      packed.map(_._1).sorted.toSeq == (1L to counts.length).toSeq &&
        packed.groupBy(t => (t._2, t._3)).forall { case (_, ms) =>
          ms.map(_._4).sum <= cap || ms.length == 1
        }
    }

  property("prototype prune ≡ naive cells/scores/drop on integer geometry") =
    // ±127-valued float vectors make int8 quantization the identity, so
    // the whole chain (seed election, argmax cells, cell sums, scores,
    // per-cell round(f·n) drop) replays exactly in driver Scala
    forAll(
      Gen.choose(2, 4).flatMap(dim =>
        Gen.choose(3, 10).flatMap(n => Gen.listOfN(n,
          Gen.listOfN(dim, Gen.oneOf(-127, -63, 0, 63, 127))))),
      Gen.choose(1, 3),
      Gen.oneOf(0.25, 0.5)) { (vecs, k, f) =>
      val st = StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = true)))
      val rows = vecs.zipWithIndex.map { case (v, i) =>
        Row((i + 1).toLong, v.map(_.toFloat)) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), st)
      val ids = (1 to vecs.length).map(_.toLong)
      // replay the quantization: for this value set x·127/maxabs is an
      // exact integer, so codes = the scaled values
      def q8(v: Seq[Long]): Seq[Long] = {
        val ma = v.map(math.abs).max
        if (ma == 0) v.map(_ => 0L) else v.map(x => x * 127 / ma)
      }
      val byId = ids.zip(vecs.map(v => q8(v.map(_.toLong)))).toMap
      val seeds = ids.sortBy(i => (md5hex(i.toString), i)).take(k)
      def dot(a: Seq[Long], b: Seq[Long]) = a.zip(b).map(t => t._1 * t._2).sum
      // ascending fold + strict > = ties to the lowest seed id
      val cellOf = ids.map { i =>
        i -> seeds.sorted.map(s => (dot(byId(i), byId(s)), s))
          .reduceLeft((x, y) => if (y._1 > x._1) y else x)._2
      }.toMap
      val sums = cellOf.values.toSeq.distinct.map { c =>
        c -> ids.filter(cellOf(_) == c).map(byId)
          .transpose.map(_.sum)
      }.toMap
      val proto = ids.map(i => i -> dot(byId(i), sums(cellOf(i)))).toMap
      val dropped = cellOf.values.toSeq.distinct.flatMap { c =>
        val members = ids.filter(cellOf(_) == c)
          .sortBy(i => (-proto(i), md5hex(i.toString), i))
        members.take(math.round(f * members.length).toInt)
      }.toSet
      val withCell = Similarity.integerCellAssign(df, "embedding", "vec_id", k)
      val gotCells = withCell.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotProto = Similarity.prototypeScores(
        withCell, "cell", "embedding", "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val gotKept = Similarity.prototypePrune(
        withCell, "cell", "embedding", "vec_id", f)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      gotCells == cellOf && gotProto == proto &&
        gotKept == (ids.toSet -- dropped)
    }

  property("takeUniMax: realizes the equal-weight waterfill quotas exactly") =
    forAll(
      Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, Gen.choose(1, 8))),
      Gen.choose(1L, 60L),
      Gen.choose(1L, 4L)) { (sizes0, budget0, epochs0) =>
      // normalize: ScalaCheck shrinking ignores generator bounds
      val sizes = sizes0.map(n => math.max(1, math.min(8, n)))
      val budget = math.max(1L, math.min(60L, budget0))
      val epochs = math.max(1L, math.min(4L, epochs0))
      val st = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("src", StringType, nullable = true)))
      var next = 0L
      val rows = sizes.zipWithIndex.flatMap { case (n, i) =>
        (1 to n).map { _ => next += 1; Row(next, s"s$i") }
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), st)
      val out = Sampling.takeUniMax(df, "src", "doc_id", budget, epochs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // the contract: selection realizes EXACTLY the equal-weight
      // waterfill quotas over maxEpochs-scaled availabilities (the
      // fixpoint may leave up to #unsat−1 rows of budget unallocated —
      // floor shares, the q156 oracle's own rule)
      val quotas = Sampling.waterfillQuotas(
        sizes.zipWithIndex.map { case (n, i) =>
          (Some(s"s$i"): Option[Any]) -> epochs * n.toLong },
        s => if (s.isEmpty) 0L else 1L, budget)
      val bySrc = out.groupBy(_._2)
      sizes.indices.forall { i =>
        val q = quotas(Some(s"s$i"))
        val c = sizes(i).toLong
        val ms = bySrc.getOrElse(s"s$i", Array.empty)
        ms.length == q &&
          // q div c full copies each carrying every row, md5 prefix rest
          (0L until q / c).forall(k => ms.count(_._3 == k) == c) &&
          ms.count(_._3 == q / c) == q % c
      } && out.forall(_._3 < epochs)
    }

  property("md5WeightedMix keep-set grows monotonically with weight") =
    forAll(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (a, b) =>
      val (w1, w2) = (math.min(a, b), math.max(a, b))
      val df = corpus(Seq.fill(30)(1))
      def kept(w: Double) = Sampling.md5WeightedMix(Seq((df, "s", w)), "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      kept(w1).subsetOf(kept(w2))
    }

  property("the AVI parser never throws — arbitrary bytes yield Left") =
    forAll(Gen.listOf(Gen.choose(-128, 127).map(_.toByte)).map(_.toArray)) { bytes =>
      // any outcome but an exception is acceptable; junk must be Left
      Multimodal.aviVideoFrames(bytes).isLeft
    }

  property("the AVI parser survives corruption of a valid container") =
    forAll(Gen.choose(0, 1000), Gen.choose(-128, 127).map(_.toByte),
      Gen.alphaStr.map(_.take(12))) { (pos, b, seed) =>
      val avi = Multimodal.synthAviBytes(seed.getBytes("UTF-8"))
      val mutated = avi.clone()
      mutated(pos % mutated.length) = b
      // must return (Left or Right), never throw — decode of surviving
      // frames is exercised separately; here the container walk is the SUT
      Multimodal.aviVideoFrames(mutated)
      true
    }

  private lazy val bpe = graft.functions.BpeModel.fromMerges(
    Iterator("h e", "l l", "he ll"))

  // small text pool so random corpora contain many exact duplicates —
  // identical texts share every LSH bucket, so maxBucketSize=2 exercises
  // the tombstone (oversize-drop) path in most samples
  private val dupPool = (0 until 5).map(p => (1 to 12).map(j => s"p${p}w$j").mkString(" "))

  private def poolCorpus(idxs: List[Int], offset: Long) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        idxs.zipWithIndex.map { case (pi, i) => Row(offset + i + 1, dupPool(pi)) }, 2),
      docSt)

  private val genTokenDocs: Gen[List[List[String]]] =
    Gen.choose(0, 10).flatMap(k => Gen.listOfN(k,
      Gen.choose(0, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e")))))

  property("containmentPairs equals the exhaustive set-containment computation") =
    forAll(genTokenDocs, Gen.oneOf(2L, 3L, Long.MaxValue)) { (docsToks, maxDf) =>
      val n = 3
      val tau = 0.3
      val rows = docsToks.zipWithIndex.map { case (ts, i) =>
        Row((i + 1).toLong, ts.mkString(" "))
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSt)
      // the tiny 5-token vocab forces heavy gram sharing, so the df-capped
      // candidate join, the min-side denominator, and the threshold all
      // get exercised against a driver-side set computation
      val gsets = docsToks.zipWithIndex.map { case (ts, i) =>
        (i + 1).toLong -> ts.sliding(n).filter(_.sizeIs == n).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
      // document frequency over the whole corpus (both sides of the cross
      // forms): a gram counts as shared only while at most maxDf docs hold it
      val docFreq = gsets.values.toSeq.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
      def pairs(keep: (Long, Long) => Boolean) = (for {
        (a, ga) <- gsets
        (b, gb) <- gsets
        if keep(a, b)
        sh = ga.intersect(gb).count(docFreq(_) <= maxDf)
        if sh > 0
      } yield (a, b, sh.toLong, ga.size.toLong, gb.size.toLong)).toSet
      def contained(ps: Set[(Long, Long, Long, Long, Long)]) = ps.filter {
        case (_, _, sh, na, nb) => sh.toDouble / math.min(na, nb) >= tau
      }
      def got(out: org.apache.spark.sql.DataFrame) = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      import org.apache.spark.sql.functions.col
      val within = got(Decontam.containmentPairs(
        df, "doc_id", "text", n, minContainment = tau, maxDf = maxDf))
      // odd ids arrive against the even-id standing corpus
      val across = got(Decontam.containmentPairsAgainst(
        df.where(col("doc_id") % 2 === 1), df.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n, minContainment = tau, maxDf = maxDf))
      // w = 1 keeps every distinct gram: shared_fps = shared distinct grams
      val winnowed = got(Decontam.winnowingPairs(
        df, "doc_id", "text", n, w = 1, minShared = 1L, maxDf = maxDf))
      within == contained(pairs(_ < _)) &&
        across == contained(pairs((a, b) => a % 2 == 1 && b % 2 == 0)) &&
        winnowed == pairs(_ < _)
    }

  private val genVecs: Gen[List[List[Float]]] =
    Gen.choose(2, 12).flatMap(k => Gen.listOfN(k,
      Gen.listOfN(3, Gen.choose(-5, 5).map(_.toFloat))))

  property("hardNegatives equals the driver-side banded ranking on random geometry") =
    forAll(genVecs) { vecs =>
      val st = StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false))))
      val rows = vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
      val (lo, hi, k) = (0.1, 0.9, 3)
      def cos(a: List[Float], b: List[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        dot / (na * nb) // NaN for zero vectors, matching the column kernel
      }
      val expect = vecs.indices.flatMap { qi =>
        vecs.indices
          .filter(_ != qi)
          .map(ni => (ni.toLong, cos(vecs(qi), vecs(ni))))
          .filter { case (_, c) => !c.isNaN && c >= lo && c < hi }
          .sortBy { case (ni, c) => (-c, ni) }
          .take(k)
          .zipWithIndex
          .map { case ((ni, _), r) => (qi.toLong, r + 1, ni) }
      }.toSet
      val got = Similarity.hardNegatives(df, df, "v", "vec_id", k, hi, lo)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      got == expect
    }

  property("contrastScore equals the driver-side two-corpus frequency computation") =
    forAll(genTokenDocs, genTokenDocs) { (rawToks, tgtToks) =>
      val raw = spark.createDataFrame(
        spark.sparkContext.parallelize(rawToks.zipWithIndex.map { case (ts, i) =>
          Row((i + 1).toLong, ts.mkString(" "))
        }, 2), docSt)
      val target = spark.createDataFrame(
        spark.sparkContext.parallelize(tgtToks.zipWithIndex.map { case (ts, i) =>
          Row((i + 1001).toLong, ts.mkString(" "))
        }, 2), docSt)
      val rawTf = rawToks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tgtTf = tgtToks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = TextOps.contrastScore(raw, target, "doc_id", "text", "text")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      rawToks.zipWithIndex.forall { case (ts, i) =>
        val id = (i + 1).toLong
        if (ts.isEmpty) !got.contains(id)
        else got(id) == (
          ts.size.toLong,
          ts.map(rawTf).sum,
          ts.map(t => tgtTf.getOrElse(t, 0L)).sum,
          ts.count(tgtTf.contains).toLong)
      }
    }

  property("winnowedGramKeys equals the driver-side window-minima computation") =
    forAll(genTokenDocs, Gen.choose(1, 5)) { (docsToks, w) =>
      val n = 3
      def key(g: String) = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 16)
      }
      val rows = docsToks.zipWithIndex.map { case (ts, i) =>
        Row((i + 1).toLong, ts.mkString(" "))
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSt)
      import org.apache.spark.sql.functions.col
      val got = df.select(col("doc_id"),
        Decontam.winnowedGramKeys(col("text"), n, w).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      docsToks.zipWithIndex.forall { case (ts, i) =>
        val keys = ts.sliding(n).filter(_.sizeIs == n).map(g => key(g.mkString(" "))).toList
        val expect =
          if (keys.isEmpty) Nil
          else if (keys.size < w) List(keys.min)
          else keys.sliding(w).map(_.min).toList.distinct
        got((i + 1).toLong) == expect
      }
    }

  property("appendDedupIndex equals a full rebuild on random duplicate-heavy corpora") =
    forAll(
      Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, Gen.choose(0, 4))),
      Gen.choose(0, 5).flatMap(k => Gen.listOfN(k, Gen.choose(0, 4)))) { (aIdxs, bIdxs) =>
      val a = poolCorpus(aIdxs, 0L)
      val b = poolCorpus(bIdxs, 100L)
      val appended = java.nio.file.Files.createTempDirectory("graft-prop-app").toString
      Dedup.writeDedupIndex(a, "text", "doc_id", appended, maxBucketSize = 2)
      Dedup.appendDedupIndex(b, "text", "doc_id", appended)
      val rebuilt = java.nio.file.Files.createTempDirectory("graft-prop-reb").toString
      Dedup.writeDedupIndex(a.unionByName(b), "text", "doc_id", rebuilt, maxBucketSize = 2)
      def tables(p: String) = {
        val ep = Dedup.resolveIndex(spark, p)
        Seq(Dedup.indexBuckets(spark, ep), Dedup.indexSets(spark, ep),
          Dedup.indexDropped(spark, ep)).map(_.collect().map(_.toSeq).toSet)
      }
      tables(appended) == tables(rebuilt)
    }

  private val vecSt = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = true)))

  // small integer components force duplicate vectors, exact cosine ties
  // (broken by neighbor_id in both paths), and occasional all-zero vectors
  // (NaN cosine — the nanvl cell-assignment path)
  private val genVec: Gen[Seq[Float]] =
    Gen.listOfN(4, Gen.choose(-2, 2).map(_.toFloat)).map(_.toSeq)

  private def vecCorpus(vs: List[Seq[Float]], offset: Long) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vs.zipWithIndex.map { case (v, i) => Row(offset + i + 1, v) }, 2),
      vecSt)

  property("persisted ANN probe at nprobe = nlist equals brute force on random corpora") =
    forAll(
      Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, genVec)),
      Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genVec))) { (as, bs) =>
      val path = java.nio.file.Files.createTempDirectory("graft-prop-ann").toString
      Similarity.writeAnnIndex(
        vecCorpus(as, 0L), "embedding", "vec_id", path, nlist = 4)
      Similarity.appendAnnIndex(vecCorpus(bs, 100L), "embedding", "vec_id", path)
      val union = vecCorpus(as, 0L).unionByName(vecCorpus(bs, 100L))
      // probing every cell scores every pair exactly once, whatever the
      // quantizer learned from the build slice — must EQUAL brute force
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      rows(Similarity.annTopKAgainstIndex(
        union, "embedding", "vec_id", path, k = 3, nprobe = 4)) ==
        rows(Similarity.bruteForceTopK(union, union, "embedding", "vec_id", k = 3))
    }

  property("BPE count is deterministic and bounded by the byte length") =
    forAll(Gen.listOf(Gen.oneOf("hello", "world", "it's", "héllo", "123", "x"))
      .map(_.mkString(" "))) { s =>
      val c = bpe.countTokens(s)
      val syms = bpe.encodeSymbols(s)
      c == bpe.countTokens(s) &&
        c <= s.getBytes("UTF-8").length &&
        (s.isEmpty || c >= 1) &&
        // encode agrees with count, ids are total, decode inverts exactly
        syms.length == c &&
        bpe.encodeIds(s).length == c &&
        graft.functions.BpeModel.decodeSymbols(syms.toSeq) == s
    }

  property("dedupRepeatedSpans matches an independent interval-union recomputation") =
    forAll(Gen.choose(1, 6).flatMap(k => Gen.listOfN(k,
      Gen.choose(1, 3).flatMap(m => Gen.listOfN(m, Gen.choose(0, 4)))))) { docFrags =>
      val n = 4
      val rows = docFrags.zipWithIndex.map { case (ps, i) =>
        ((i + 1).toLong, ps.map(dupPool).mkString(" "))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, 2), docSt)
      val got = Decontam.dedupRepeatedSpans(df, "doc_id", "text", n)
        .select("doc_id", "n_removed_tokens").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // independent recomputation in plain Scala: gram → owning docs,
      // winner = min id, covered = union of [p, p+n) over losing occurrences
      val toks = rows.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq
      }.toMap
      val occ = for {
        (id, ts) <- toks.toSeq
        p <- 0 to ts.length - n
      } yield (id, p, ts.slice(p, p + n).mkString(" "))
      val gramDocs = occ.groupBy(_._3).map { case (g, os) => g -> os.map(_._1).toSet }
      val expect = toks.map { case (id, ts) =>
        val covered = occ.collect {
          case (d, p, g) if d == id && gramDocs(g).size >= 2 && gramDocs(g).min != id =>
            p until p + n
        }.flatten.toSet
        id -> covered.size.toLong
      }
      got == expect
    }

  property("dedupRepeatedCharSpans matches an independent interval-union recomputation") =
    forAll(Gen.choose(1, 6).flatMap(k => Gen.listOfN(k,
      Gen.choose(1, 3).flatMap(m => Gen.listOfN(m, Gen.choose(0, 4)))))) { docFrags =>
      val n = 4
      // fragments concatenate with no separator, so windows straddle them;
      // the pool mixes CJK, ASCII and a supplementary-plane code point
      val pool = Vector("重复的段落", "abcab", "𝄞xy𝄞", "数据集", "q r s")
      val rows = docFrags.zipWithIndex.map { case (ps, i) =>
        ((i + 1).toLong, ps.map(pool).mkString)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, 2), docSt)
      val got = Decontam.dedupRepeatedCharSpans(df, "doc_id", "text", n)
        .select("doc_id", "cleaned", "n_removed_chars").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      // independent recomputation over code points: gram → owning docs,
      // winner = min id, covered = union of [p, p+n) over losing occurrences
      val cps = rows.map { case (id, t) =>
        id -> t.codePoints().toArray.toSeq.map(c => new String(Character.toChars(c)))
      }.toMap
      val occ = for {
        (id, cs) <- cps.toSeq
        p <- 0 to cs.length - n
      } yield (id, p, cs.slice(p, p + n).mkString)
      val gramDocs = occ.groupBy(_._3).map { case (g, os) => g -> os.map(_._1).toSet }
      val expect = cps.map { case (id, cs) =>
        val covered = occ.collect {
          case (d, p, g) if d == id && gramDocs(g).size >= 2 && gramDocs(g).min != id =>
            p until p + n
        }.flatten.toSet
        val kept = cs.indices.filterNot(covered).map(cs).mkString
        id -> (kept, covered.size.toLong)
      }
      got == expect
    }

  property("keptOutsideWindows ≡ the naive per-position coverage scan") =
    forAll(
      Gen.choose(0, 24).flatMap(len => Gen.listOfN(len, Gen.alphaChar.map(_.toString))),
      Gen.listOf(Gen.choose(0, 20)),
      Gen.choose(1, 6)) { (elems, rawStarts, n) =>
      // starts clamped to valid window positions (gram starts always
      // leave room for a full window); duplicates and dense overlap kept
      // deliberately — the merged-interval rewrite must agree with the
      // old per-position exists scan on exactly these shapes
      val starts = rawStarts.filter(_ + n <= elems.length)
      val st = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("e", ArrayType(StringType), nullable = true),
        StructField("s", ArrayType(IntegerType), nullable = true)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(1L, elems, starts),
          Row(2L, null, starts),          // null elements propagate null
          Row(3L, elems, List.empty[Int]) // empty starts keep everything
        ), 1), st)
      import org.apache.spark.sql.functions.col
      val got = df.select(col("id"),
          Decontam.keptOutsideWindows(col("e"), col("s"), n).as("k"))
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[String](1).toList)).toMap
      val covered = starts.flatMap(s => s until s + n).toSet
      val naive = elems.zipWithIndex.collect {
        case (e, j) if !covered(j) => e
      }
      got(1L) == naive && got(2L) == null && got(3L) == elems
    }

  private val paraPool = Vector(
    "alpha one", "beta two", "gamma three", "delta four", "epsilon five")

  private def paraCorpus(docs: List[List[Int]], offset: Long) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.zipWithIndex.map { case (ps, i) =>
          Row(offset + i + 1, ps.map(paraPool).mkString("\n\n"))
        }, 2),
      docSt)

  property("paragraph index: append ≡ rebuild, probe ≡ union dedup, on random corpora") =
    forAll(
      Gen.choose(1, 6).flatMap(k => Gen.listOfN(k,
        Gen.choose(0, 3).flatMap(m => Gen.listOfN(m, Gen.choose(0, 4))))),
      Gen.choose(0, 4).flatMap(k => Gen.listOfN(k,
        Gen.choose(0, 3).flatMap(m => Gen.listOfN(m, Gen.choose(0, 4)))))) { (aD, bD) =>
      val a = paraCorpus(aD, 0L)
      val b = paraCorpus(bD, 100L)
      val appended = java.nio.file.Files.createTempDirectory("graft-pprop-app").toString
      Dedup.writeParagraphIndex(a, "text", appended)
      Dedup.appendParagraphIndex(b, "text", appended)
      val rebuilt = java.nio.file.Files.createTempDirectory("graft-pprop-reb").toString
      Dedup.writeParagraphIndex(a.unionByName(b), "text", rebuilt)
      def hashes(p: String) = Dedup.paragraphIndexHashes(
        spark, Dedup.resolveParagraphIndex(spark, p))
        .collect().map(_.getString(0)).sorted.toSeq
      val appendEqRebuild = hashes(appended) == hashes(rebuilt)
      // probing b against an index of a alone ≡ dedupParagraphs over the
      // union (a's ids sort first, so standing paragraphs always win)
      val aOnly = java.nio.file.Files.createTempDirectory("graft-pprop-a").toString
      Dedup.writeParagraphIndex(a, "text", aOnly)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "cleaned", "n_kept_paras").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      val probe = rows(Dedup.dedupParagraphsAgainstIndex(b, "doc_id", "text", aOnly))
      val union = rows(Dedup.dedupParagraphs(a.unionByName(b), "doc_id", "text")
        .where(org.apache.spark.sql.functions.col("doc_id") >= 100L))
      appendEqRebuild && probe == union
    }

  /** Corpus where doc `idBase + i + 1` holds the words `w<k>` for its
    * generated k-list — overlapping vocabularies across docs/batches, the
    * shape counter folding must get right.
    */
  private def wordCorpus(docsWords: Seq[Seq[Int]], idBase: Long) = {
    val rows = docsWords.zipWithIndex.map { case (ws, i) =>
      Row(idBase + i + 1, ws.map(k => s"w$k").mkString(" "))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSt)
  }

  property("token-frequency index: append ≡ rebuild; probe ≡ standing recompute; replay no-ops") =
    forAll(
      Gen.choose(0, 5).flatMap(k => Gen.listOfN(k,
        Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, Gen.choose(0, 9))))),
      Gen.choose(0, 4).flatMap(k => Gen.listOfN(k,
        Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, Gen.choose(0, 9)))))) { (aD, bD) =>
      val a = wordCorpus(aD, 0L)
      val b = wordCorpus(bD, 100L)
      def totals(path: String): Map[String, Long] =
        TextOps.indexTokenFrequencies(spark, path)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val appended = java.nio.file.Files.createTempDirectory("graft-tfprop-app").toString
      TextOps.writeTokenFrequencyIndex(a, "doc_id", "text", appended)
      TextOps.appendTokenFrequencyIndex(b, "doc_id", "text", appended)
      val rebuilt = java.nio.file.Files.createTempDirectory("graft-tfprop-reb").toString
      TextOps.writeTokenFrequencyIndex(a.unionByName(b), "doc_id", "text", rebuilt)
      val appendEqRebuild = totals(appended) == totals(rebuilt)
      // replaying the committed batch must be a NO-OP (no epoch, no counts)
      val epochBefore = EpochStore.currentEpoch(spark, appended)
      TextOps.appendTokenFrequencyIndex(b, "doc_id", "text", appended)
      val replayNoop = EpochStore.currentEpoch(spark, appended) == epochBefore &&
        totals(appended) == totals(rebuilt)
      // a PARTIAL id overlap must fail loudly (it would double-count)
      val overlapGuard = bD.isEmpty || {
        val mixed = b.limit(1).unionByName(wordCorpus(Seq(Seq(1, 2)), 900L))
        scala.util.Try(
          TextOps.appendTokenFrequencyIndex(mixed, "doc_id", "text", appended))
          .isFailure
      }
      // compaction preserves the totals exactly
      TextOps.compactTokenFrequencyIndex(spark, appended)
      val compactKeeps = totals(appended) == totals(rebuilt)
      // daily probe: b scored against an index of a alone ≡ the driver
      // recompute from a's own term frequencies (unseen tokens → 0/rare)
      val aOnly = java.nio.file.Files.createTempDirectory("graft-tfprop-a").toString
      TextOps.writeTokenFrequencyIndex(a, "doc_id", "text", aOnly)
      val tfA = TextOps.termFrequencies(a, "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rareBelow = 2L
      val expect = bD.zipWithIndex.filter(_._1.nonEmpty).map { case (ws, i) =>
        val ns = ws.map(k => tfA.getOrElse(s"w$k", 0L))
        (100L + i + 1, (ws.size.toLong, ns.sum, ns.count(_ < rareBelow).toLong))
      }.toMap
      val got = TextOps.frequencyScoreAgainstIndex(
        b, "doc_id", "text", aOnly, rareBelow)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      appendEqRebuild && replayNoop && overlapGuard && compactKeeps && got == expect
    }

  property("classifier index: append ≡ retrain; replay no-ops; probe ≡ direct scoring") =
    forAll(
      Gen.choose(0, 5).flatMap(k => Gen.listOfN(k,
        Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, Gen.choose(0, 9))))),
      Gen.choose(0, 4).flatMap(k => Gen.listOfN(k,
        Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, Gen.choose(0, 9)))))) { (aD, bD) =>
      import org.apache.spark.sql.functions._
      // one guaranteed token-bearing doc so the derived model exists
      def labeled(docsWords: Seq[Seq[Int]], idBase: Long) =
        wordCorpus(docsWords, idBase)
          .withColumn("pos", col("doc_id") % 2 === 0)
      val a = labeled(aD :+ List(1, 2), 0L)
      val b = labeled(bD, 100L)
      def modelOf(m: LangModel.TokenClassifier) =
        (m.weights.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
          m.oovWeight, m.prior)
      val appended = java.nio.file.Files.createTempDirectory("graft-clsprop-app").toString
      LangModel.writeClassifierIndex(a, "doc_id", "text", "pos", appended)
      LangModel.appendClassifierIndex(b, "doc_id", "text", "pos", appended)
      val retrained = modelOf(
        LangModel.trainTokenClassifier(a.unionByName(b), "text", "pos"))
      val appendEqRetrain = modelOf(
        LangModel.indexClassifier(spark, appended)) == retrained
      // replaying the committed batch must be a NO-OP (no epoch, no counts)
      val epochBefore = EpochStore.currentEpoch(spark, appended)
      LangModel.appendClassifierIndex(b, "doc_id", "text", "pos", appended)
      val replayNoop =
        EpochStore.currentEpoch(spark, appended) == epochBefore &&
          modelOf(LangModel.indexClassifier(spark, appended)) == retrained
      // a PARTIAL id overlap must fail loudly (it would double-count)
      val overlapGuard = bD.isEmpty || {
        val mixed = b.limit(1).unionByName(labeled(Seq(Seq(1, 2)), 900L))
        scala.util.Try(LangModel.appendClassifierIndex(
          mixed, "doc_id", "text", "pos", appended)).isFailure
      }
      // compaction preserves the derived model exactly
      LangModel.compactClassifierIndex(spark, appended)
      val compactKeeps =
        modelOf(LangModel.indexClassifier(spark, appended)) == retrained
      // daily probe against the standing counters ≡ direct scoring under
      // the retrained model, row for row in exact integers
      def scoredSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0),
          r.getLong(r.fieldIndex("n_toks")), r.getLong(r.fieldIndex("n_oov")),
          r.getLong(r.fieldIndex("score")))).toSet
      val arrivals = wordCorpus(bD :+ List(0, 9, 3), 900L)
      val probeEqDirect =
        scoredSet(LangModel.scoreAgainstClassifierIndex(
          arrivals, "doc_id", "text", appended)) ==
        scoredSet(LangModel.scoreTokenClassifier(arrivals, "doc_id", "text",
          LangModel.trainTokenClassifier(a.unionByName(b), "text", "pos")))
      appendEqRetrain && replayNoop && overlapGuard && compactKeeps &&
        probeEqDirect
    }

  property("temperatureMix: per-source kept counts equal the quota formula; sets nest in target") =
    forAll(genCounts.suchThat(_.nonEmpty), Gen.oneOf(0.5, 1.0),
      Gen.choose(1L, 30L), Gen.choose(1, 4)) { (counts, alpha, target, nStrata) =>
        import org.apache.spark.sql.functions._
        val df = corpus(counts)
          .withColumn("src", pmod(col("doc_id"), lit(nStrata.toLong)).cast("string"))
        def keptBySrc(t: Long): Map[String, Set[Long]] =
          Sampling.temperatureMix(df, "src", "doc_id", alpha, t)
            .select("doc_id", "src").collect()
            .groupBy(_.getString(1)).map { case (s, rs) =>
              s -> rs.map(_.getLong(0)).toSet
            }
        val bySrc = keptBySrc(target)
        // independent quota recomputation from the raw counts
        val cBySrc = df.groupBy("src").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
        val z = cBySrc.foldLeft(0.0) { case (acc, (_, c)) =>
          acc + (if (alpha == 1.0) c.toDouble else math.sqrt(c.toDouble))
        }
        val expected = cBySrc.map { case (s, c) =>
          val w = if (alpha == 1.0) c.toDouble else math.sqrt(c.toDouble)
          s -> math.min(c, math.round(target * w / z))
        }.filter(_._2 > 0L).toMap
        val countsMatch =
          bySrc.view.mapValues(_.size.toLong).toMap == expected
        // kept sets nest as the target grows (round is monotone in N)
        val nested = bySrc.forall { case (s, ids) =>
          ids.subsetOf(keptBySrc(target + 11L).getOrElse(s, Set.empty))
        }
        countsMatch && nested
    }

  property("temperatureMixTokens: kept set is exactly the md5-order token-quota prefix") =
    forAll(genCounts.suchThat(_.nonEmpty), Gen.oneOf(0.5, 1.0),
      Gen.choose(1L, 60L), Gen.choose(1, 3)) { (toks, alpha, target, nStrata) =>
        import org.apache.spark.sql.functions.col
        val st = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("src", StringType, nullable = false),
          StructField("n_tok", LongType, nullable = false)))
        val rows = toks.zipWithIndex.map { case (t, i) =>
          Row((i + 1).toLong, ((i + 1) % nStrata).toString, t.toLong)
        }
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
        // independent recomputation: quotas from token sums, membership
        // from the driver-side md5 content order
        val bySrc = rows.groupBy(_.getString(1)).toSeq.sortBy(_._1)
        val z = bySrc.foldLeft(0.0) { case (acc, (_, rs)) =>
          val c = rs.map(_.getLong(2)).sum.toDouble
          acc + (if (alpha == 1.0) c else math.sqrt(c))
        }
        val md = java.security.MessageDigest.getInstance("MD5")
        def m5(id: Long) =
          md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val expected = bySrc.flatMap { case (_, rs) =>
          val tok = rs.map(_.getLong(2)).sum
          val w = if (alpha == 1.0) tok.toDouble else math.sqrt(tok.toDouble)
          val quota = math.min(tok, math.round(target * w / z))
          var cum = 0L
          rs.sortBy(r => (m5(r.getLong(0)), r.getLong(0))).flatMap { r =>
            val keep = cum < quota
            cum += r.getLong(2)
            if (keep) Some(r.getLong(0)) else None
          }
        }.toSet
        if (toks.sum == 0)
          // zero-token corpus: token-share mixing is undefined and the op
          // is contracted to fail loudly (Sampling.scala require) — the
          // rare all-zero draw must hit that branch, not the quota math
          scala.util.Try(Sampling.temperatureMixTokens(
            df, "src", "doc_id", "n_tok", alpha, target).collect()).isFailure
        else {
          val got = Sampling.temperatureMixTokens(
            df, "src", "doc_id", "n_tok", alpha, target)
            .select(col("doc_id")).collect().map(_.getLong(0)).toSet
          got == expected
        }
    }

  property("semanticDedup: full-probe pairs ≡ brute force; labels are exactly the components") =
    forAll(
      Gen.choose(3, 10).flatMap(k => Gen.listOfN(k,
        Gen.listOfN(4, Gen.choose(-5, 5).map(_.toFloat)))),
      Gen.oneOf(0.6, 0.8)) { (vecs, tau) =>
        import org.apache.spark.sql.functions._
        val st = StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", ArrayType(FloatType, containsNull = false), nullable = false)))
        val rows = vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
        // brute-force twin with the SAME kernel — identical arithmetic, so
        // set equality is exact even at the threshold boundary
        val a = df.select(col("id").as("ia"), col("v").as("va"))
        val b = df.select(col("id").as("ib"), col("v").as("vb"))
        val exact = a.crossJoin(b).where(col("ia") < col("ib"))
          .withColumn("c", Similarity.cosine(col("va"), col("vb")))
          .where(col("c") >= tau && !isnan(col("c")))
          .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val pairs = Similarity.ivfSimilarityJoin(df, "v", "id", tau, nlist = 4, nprobe = 4)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // independent union-find over the exact pair set
        val parent = scala.collection.mutable.Map[Long, Long]() ++
          rows.map(r => r.getLong(0) -> r.getLong(0))
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        exact.foreach { case (x, y) =>
          val (rx, ry) = (find(x), find(y))
          if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
        }
        val out = Similarity.semanticDedup(df, "v", "id", tau, nlist = 4, nprobe = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
        pairs == exact &&
        out.forall { case (id, rep, size, kept) =>
          rep == find(id) && kept == (id == rep) && size == sizes(rep).toLong
        } &&
        out.length == rows.length
    }

  property("takeTokenBudget: monotone in budget, within-overshoot, stratum-local") =
    forAll(genCounts.suchThat(_.nonEmpty), Gen.choose(1L, 40L), Gen.choose(1, 4)) {
      (counts, budget, nStrata) =>
        import org.apache.spark.sql.functions._
        val df = corpus(counts)
          .withColumn("src", pmod(col("doc_id"), lit(nStrata.toLong)).cast("string"))
          .withColumn("n_tok", size(TextOps.wsTokens(col("text"))).cast("long"))
        def takeIds(b: Long) =
          Sampling.takeTokenBudget(df, "src", "doc_id", "n_tok", b)
            .select("doc_id").collect().map(_.getLong(0)).toSet
        val kept = takeIds(budget)
        val tok = df.select("doc_id", "n_tok", "src").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
        // per stratum: total ≤ budget + one document's overshoot, and every
        // non-empty stratum contributes at least one row
        val perStratum = kept.groupBy(i => tok(i)._2)
        val strataWithRows = tok.values.map(_._2).toSet
        perStratum.forall { case (_, ids) =>
          val total = ids.toSeq.map(tok(_)._1).sum
          val maxDoc = ids.toSeq.map(tok(_)._1).max
          total - maxDoc < budget
        } &&
        strataWithRows.forall(s => perStratum.contains(s)) &&
        kept.subsetOf(takeIds(budget + 7))
    }

  property("dsirSelect: kept set is exactly the banded md5-order mass-quota prefix; nests in budget") =
    forAll(
      // texts over a SHARED 12-word vocabulary so raw and target genuinely
      // overlap (per-doc-unique tokens would put every doc in one band)
      Gen.choose(2, 12).flatMap(k => Gen.listOfN(k,
        Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.choose(0, 11))))),
      Gen.choose(1, 4), Gen.choose(1L, 40L)) { (docsToks, nTarget, budget) =>
        import org.apache.spark.sql.functions.col
        val st = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("text", StringType, nullable = true)))
        def df(rows: Seq[Row]) =
          spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
        val rawRows = docsToks.zipWithIndex.map { case (ts, i) =>
          Row((i + 1).toLong, ts.map(t => s"w$t").mkString(" "))
        }
        val tgtRows = (1 to nTarget).map(i =>
          Row((100 + i).toLong, (0 until 12 by (i + 1)).map(t => s"w$t").mkString(" ")))
        val raw = df(rawRows)
        // independent recomputation of the whole chain: contrast integers,
        // integer-division banding, mass quotas, md5-prefix membership
        val rawTf = rawRows.flatMap(_.getString(1).split(" ")).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val tgtTf = tgtRows.flatMap(_.getString(1).split(" ")).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val perDoc = rawRows.map { r =>
          val toks = r.getString(1).split(" ").toSeq
          val sr = toks.map(rawTf).sum
          val stg = toks.map(t => tgtTf.getOrElse(t, 0L)).sum
          val p = (stg + 1L) * 256L / (sr + 1L)
          val band =
            if (p <= 0L) -8
            else math.min(8, math.max(-8, java.lang.Long.toBinaryString(p).length - 1 - 8))
          (r.getLong(0), toks.size.toLong, band)
        }
        val byBand = perDoc.groupBy(_._3).toSeq.sortBy(_._1)
        val m = byBand.foldLeft(0.0) { case (acc, (b, ds)) =>
          acc + math.pow(2.0, b) * ds.map(_._2).sum
        }
        val md = java.security.MessageDigest.getInstance("MD5")
        def m5(id: Long) =
          md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        def expected(tb: Long): Set[Long] = byBand.flatMap { case (b, ds) =>
          val tk = ds.map(_._2).sum
          val quota = math.min(tk, math.round(tb * math.pow(2.0, b) * tk / m))
          var cum = 0L
          ds.sortBy(d => (m5(d._1), d._1)).flatMap { case (id, n, _) =>
            val keep = cum < quota
            cum += n
            if (keep) Some(id) else None
          }
        }.toSet
        def got(tb: Long): Set[Long] = Sampling.dsirSelect(
          raw, df(tgtRows), "doc_id", "text", "text", tb)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        val kept = got(budget)
        kept == expected(budget) && kept.subsetOf(got(budget + 13L))
    }

  property("takeTopFraction ≡ the naive per-stratum window prefix on random shapes") =
    forAll(
      Gen.choose(1, 30).flatMap(k => Gen.listOfN(k, Gen.choose(0, 7))),
      Gen.choose(1, 100).map(_ / 100.0), Gen.choose(1, 3), Gen.oneOf(2, 4, 16),
      // 1 forces the run/tie path on every boundary bucket; the default
      // direct-windows these tiny shapes — both must agree with naive
      Gen.oneOf(1L, Sampling.MaxBoundaryTaskRows),
      // per-row token weights for the token-budget twin: 0..3, 4 → null
      Gen.listOfN(30, Gen.choose(0, 4))) {
      (scores, fraction, nStrata, nBuckets, mbtr, tokens) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{coalesce, col, lit, md5, row_number, sum}
        val st = StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("src", StringType, nullable = false),
          StructField("score", DoubleType, nullable = true),
          StructField("n_tok", LongType, nullable = true)))
        // scores 0..5 over ≤30 rows guarantee heavy ties; 6 → null, and
        // 7 → NaN, which Spark sorts above every score
        val rows = scores.zip(tokens).zipWithIndex.map { case ((v, t), i) =>
          Row((i + 1).toLong, s"s${i % nStrata}",
            if (v == 6) null else if (v == 7) Double.NaN else v.toDouble,
            if (t == 4) null else t.toLong)
        }
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
        val got = Sampling.takeTopFraction(
          df, "src", "id", "score", fraction, nBuckets,
          maxBoundaryTaskRows = mbtr)
          .select("id").collect().map(_.getLong(0)).toSet
        val w = Window.partitionBy(col("src"))
          .orderBy(col("score").desc_nulls_last,
          md5(col("id").cast("string").cast("binary")).asc, col("id").asc)
        val budgets = rows.groupBy(_.getString(1)).view
          .mapValues(rs => math.round(fraction * rs.size)).toMap
        val expected = df.withColumn("__rn", row_number().over(w))
          .collect()
          .filter(r => r.getInt(r.fieldIndex("__rn")) <= budgets(r.getString(1)))
          .map(_.getLong(0)).toSet
        // the weighted twin on the same frame: running token weight before
        // the row < budget (crossing row kept), nulls count as 0 tokens
        // one budget for every stratum: a fraction of the smallest
        // stratum's tokens, so the cutoff lands inside strata
        val toks = coalesce(col("n_tok"), lit(0L))
        val budget = math.max(1L, math.round(fraction * rows
          .groupBy(_.getString(1)).values
          .map(_.map(r => if (r.isNullAt(3)) 0L else r.getLong(3)).sum).min))
        val gotT = Sampling.takeTopTokenBudget(
          df, "src", "id", "score", "n_tok", budget, nBuckets,
          maxBoundaryTaskRows = mbtr)
          .select("id").collect().map(_.getLong(0)).toSet
        val expectedT = df
          .withColumn("__cum", sum(toks).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .where(col("__cum") - toks < budget)
          .select("id").collect().map(_.getLong(0)).toSet
        got == expected && gotT == expectedT
    }

  property("qualityPartition ≡ naive global-rank bucketing on random shapes") =
    forAll(
      Gen.choose(1, 30).flatMap(k => Gen.listOfN(k, Gen.choose(0, 7))),
      Gen.oneOf(Seq(0.5), Seq(1.0 / 3, 2.0 / 3), Seq(0.2, 0.5, 0.9)),
      Gen.oneOf(2, 4, 16)) { (scores, fractions, nBuckets) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, md5, row_number}
        val st = StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = true)))
        // 6 → null, 7 → NaN (sorted above every score)
        val rows = scores.zipWithIndex.map { case (v, i) =>
          Row((i + 1).toLong,
            if (v == 6) null else if (v == 7) Double.NaN else v.toDouble)
        }
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
        val got = Sampling.qualityPartition(
          df, "id", "score", fractions, nBuckets)
          .collect().map(r => r.getLong(0) -> r.getInt(r.fieldIndex("bucket")))
          .toMap
        // maxBoundaryTaskRows = 1 forces EVERY straddled bucket down the
        // oversized run/tie path (runs, md5 sub-buckets, sub-boundary
        // windows) — the tie-dense machinery the direct window skips on
        // small fixtures
        val gotTie = Sampling.qualityPartition(
          df, "id", "score", fractions, nBuckets, maxBoundaryTaskRows = 1L)
          .collect().map(r => r.getLong(0) -> r.getInt(r.fieldIndex("bucket")))
          .toMap
        val w = Window.orderBy(col("score").desc_nulls_last,
          md5(col("id").cast("string").cast("binary")).asc, col("id").asc)
        val n = rows.size
        val expected = df.withColumn("__rn", row_number().over(w))
          .collect().map { r =>
            val rn = r.getInt(r.fieldIndex("__rn"))
            r.getLong(0) -> fractions.indexWhere(f => rn <= math.round(f * n))
          }.map { case (id, b) => id -> (if (b < 0) fractions.size else b) }
          .toMap
        got == expected && gotTie == expected
    }

  property("semanticDedupAgainstIndex ≡ cross-restricted union closure on random geometry") =
    forAll(
      Gen.choose(6, 16).flatMap(k => Gen.listOfN(k,
        Gen.listOfN(3, Gen.choose(-5, 5).map(_.toFloat)))),
      Gen.oneOf(0.6, 0.85)) { (vecs, tau) =>
        import org.apache.spark.sql.functions._
        val st = StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", ArrayType(FloatType, containsNull = false), nullable = false)))
        val rows = vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
        val all = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
        val standing = all.where(col("id") % 2 === 0)
        val batch = all.where(col("id") % 2 === 1)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_semprop").toString + "/idx"
        Similarity.writeAnnIndex(standing, "v", "id", dir, nlist = 2)
        // reference pair sets with the SAME kernel (identical arithmetic ⇒
        // identical threshold decisions), then a driver-side union-find
        def pairs(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
          l.select(col("id").as("ia"), col("v").as("va"))
            .crossJoin(r.select(col("id").as("ib"), col("v").as("vb")))
            .where(col("ia") =!= col("ib"))
            .withColumn("c", Similarity.cosine(col("va"), col("vb")))
            .where(col("c") >= tau && !isnan(col("c")))
            .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
        val cross = pairs(batch, standing)
        val inb = pairs(batch, batch).filter { case (a, b) => a < b }
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        (cross ++ inb).foreach { case (x, y) =>
          val (rx, ry) = (find(x), find(y))
          if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
        }
        val anchors = cross.map(_._2).toSet
        val batchIds = rows.map(_.getLong(0)).filter(_ % 2 == 1).toSet
        val comps = (batchIds ++ anchors).groupBy(find)
        val expected = batchIds.map { id =>
          val comp = comps(find(id))
          val ca = comp & anchors
          if (ca.nonEmpty) id -> (ca.min, false)
          else id -> (comp.min, id == comp.min)
        }.toMap
        val out = Similarity.semanticDedupAgainstIndex(
          batch, "v", "id", dir, tau, nprobe = 2)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
        out == expected
    }

  property("epochShuffle positions ≡ the naive global rank; takeGlobal = its prefix") =
    forAll(
      Gen.choose(5, 60).flatMap(k =>
        Gen.listOfN(k, Gen.choose(1L, 100000L)).map(_.distinct)),
      Gen.choose(1L, 50L), Gen.choose(1, 3)) { (ids, epoch, hexLen) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val st = StructType(Seq(StructField("id", LongType, nullable = false)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(ids.map(org.apache.spark.sql.Row(_)), 2), st)
        val got = Sampling.epochShuffle(df, "id", epoch, bucketHexLen = hexLen)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val naive = df.withColumn("pos", row_number().over(Window.orderBy(
            md5(concat(lit(epoch.toString), lit("#"), col("id").cast("string"))
              .cast("binary")).asc, col("id").asc)).cast("long") - 1L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val n = math.max(1L, ids.size / 3L)
        val sample = Sampling.takeGlobal(df, "id", n)
          .select("id").collect().map(_.getLong(0)).toSet
        // the md5(key) order (epoch-free) prefix is takeGlobal's contract;
        // at epoch-keyed order the shuffle and the take need not agree —
        // assert the take against its own naive prefix instead
        val takeNaive = df.withColumn("rn", row_number().over(Window.orderBy(
            md5(col("id").cast("string").cast("binary")).asc, col("id").asc)))
          .where(col("rn") <= n).select("id")
          .collect().map(_.getLong(0)).toSet
        got == naive && sample == takeNaive
    }

  property("waterfillQuotas: fixpoint invariants and saturation-order independence") =
    forAll(
      Gen.choose(1, 8).flatMap(k => Gen.listOfN(k,
        Gen.zip(Gen.choose(0L, 500L), Gen.choose(0L, 10L)))),
      Gen.choose(0L, 2000L)) { (entries, budget) =>
        val avail = entries.zipWithIndex.map { case ((a, _), i) =>
          (Some(s"s$i"): Option[Any]) -> a }
        val wts = entries.zipWithIndex.map { case ((_, w), i) =>
          (Some(s"s$i"): Option[Any]) -> w }.toMap
        val q = Sampling.waterfillQuotas(avail, wts, budget)
        val totalAvail = avail.map(_._2).sum
        // bounds: never over availability, never over budget, zero weight → 0
        val bounds = avail.forall { case (s, a) => q(s) >= 0L && q(s) <= a } &&
          q.values.sum <= math.min(budget, totalAvail) &&
          wts.forall { case (s, w) => w != 0L || !avail.toMap.contains(s) ||
            q(s) == 0L }
        // ORDER INDEPENDENCE: saturating one stratum at a time (first by
        // name order each pass) reaches the identical fixpoint as the
        // batch closure
        var sat = Map.empty[Option[Any], BigInt]
        var changed = true
        while (changed) {
          val rem = BigInt(budget) - sat.values.sum
          val unsat = avail.filterNot(e => sat.contains(e._1))
          val wu = unsat.map(e => BigInt(wts(e._1))).sum
          val hit =
            if (wu == 0) None
            else unsat.find { case (s, a) => BigInt(a) * wu <= BigInt(wts(s)) * rem }
          hit match {
            case Some((s, a)) => sat += s -> BigInt(a)
            case None => changed = false
          }
        }
        val rem = BigInt(budget) - sat.values.sum
        val wu = avail.filterNot(e => sat.contains(e._1))
          .map(e => BigInt(wts(e._1))).sum
        val seq = avail.map { case (s, _) =>
          s -> sat.getOrElse(s,
            if (wu == 0) BigInt(0) else BigInt(wts(s)) * rem / wu).toLong
        }.toMap
        bounds && q == seq
    }

  property("curriculumShuffle ≡ the naive stage-major global rank across widths") =
    forAll(
      Gen.choose(5, 60).flatMap(k =>
        Gen.listOfN(k, Gen.zip(Gen.choose(1L, 100000L), Gen.choose(0, 3)))
          .map(_.distinctBy(_._1))),
      Gen.choose(1L, 50L), Gen.choose(1, 3)) { (rows, epoch, hexLen) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val st = StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("stage", IntegerType, nullable = false)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(
            rows.map { case (i, s) => org.apache.spark.sql.Row(i, s) }, 2), st)
        val got = Sampling.curriculumShuffle(
          df, "id", "stage", epoch, bucketHexLen = hexLen)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        val naive = df.withColumn("pos", row_number().over(Window.orderBy(
            col("stage").cast("long").asc,
            md5(concat(lit(epoch.toString), lit("#"), col("id").cast("string"))
              .cast("binary")).asc, col("id").asc)).cast("long") - 1L)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        got == naive
    }

  property("daily SemDeDup loop: each day's audit ≡ the closure against the GROWN standing set") =
    forAll(
      Gen.choose(9, 18).flatMap(k => Gen.listOfN(k,
        Gen.listOfN(3, Gen.choose(-5, 5).map(_.toFloat)))),
      Gen.oneOf(0.6, 0.85)) { (vecs, tau) =>
        // the fifth lifecycle's daily loop (probe → append survivors),
        // run for two days against an index that GROWS through
        // appendAnnIndex between them — every day's audit must equal the
        // brute-force cross-restricted closure against the standing set
        // as it stands THAT day (survivors included). This is the
        // append ≡ rebuild guarantee the other lifecycles' properties
        // pin, at nprobe = nlist so IVF recall is exact.
        import org.apache.spark.sql.functions._
        val st = StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("v", ArrayType(FloatType, containsNull = false), nullable = false)))
        def df(rows: Seq[(Long, Seq[Float])]) = spark.createDataFrame(
          spark.sparkContext.parallelize(
            rows.map { case (i, v) => Row(i, v) }, 2), st)
        val all = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        val (seed, rest) = all.splitAt(math.max(all.size / 3, 2))
        val days = Seq(rest.take(rest.size / 2), rest.drop(rest.size / 2))
          .filter(_.nonEmpty)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_semloop").toString + "/idx"
        Similarity.writeAnnIndex(df(seed), "v", "id", dir, nlist = 2)
        var standing = seed
        days.forall { day =>
          val batch = df(day)
          def pairs(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
            l.select(col("id").as("ia"), col("v").as("va"))
              .crossJoin(r.select(col("id").as("ib"), col("v").as("vb")))
              .where(col("ia") =!= col("ib"))
              .withColumn("c", Similarity.cosine(col("va"), col("vb")))
              .where(col("c") >= tau && !isnan(col("c")))
              .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
          val cross = pairs(batch, df(standing))
          val inb = pairs(batch, batch).filter { case (a, b) => a < b }
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            val p = parent.getOrElse(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          (cross ++ inb).foreach { case (x, y) =>
            val (rx, ry) = (find(x), find(y))
            if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
          }
          val anchors = cross.map(_._2).toSet
          val batchIds = day.map(_._1).toSet
          val comps = (batchIds ++ anchors).groupBy(find)
          val expected = batchIds.map { id =>
            val comp = comps(find(id))
            val ca = comp & anchors
            if (ca.nonEmpty) id -> (ca.min, false)
            else id -> (comp.min, id == comp.min)
          }.toMap
          val out = Similarity.semanticDedupAgainstIndex(
            batch, "v", "id", dir, tau, nprobe = 2)
            .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
          val ok = out == expected
          val survivors = day.filter { case (i, _) => expected(i)._2 }
          if (survivors.nonEmpty)
            Similarity.appendAnnIndex(df(survivors), "v", "id", dir)
          standing = standing ++ survivors
          ok
        }
    }
}
