package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Naive Bayes token classifier + bigram LM: exact hand fixtures for the
  * quantized weight/logprob formulas, the OOV/fallback/floor paths, and
  * separation floors on the driver-generated documents table.
  */
class LangModelSpec extends SparkSpec {

  private val labeledSt = struct(
    "doc_id" -> LongType, "text" -> StringType, "pos" -> BooleanType)

  private def m(x: Double): Long =
    BigDecimal(x * 1000000L).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toLongExact

  test("trainTokenClassifier: exact weights, OOV, prior on a hand fixture") {
    // positives: "a a b"  negatives: "a c"
    // counts: a -> (2,1), b -> (1,0), c -> (0,1); nPos=3 nNeg=2 V=3
    val df = frame(labeledSt,
      Row(1L, "a a b", true), Row(2L, "a c", false))
    val model = LangModel.trainTokenClassifier(df, "text", "pos")
    val w = model.weights.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w("a") == m(math.log(3.0 / 6) - math.log(2.0 / 5)))
    assert(w("b") == m(math.log(2.0 / 6) - math.log(1.0 / 5)))
    assert(w("c") == m(math.log(1.0 / 6) - math.log(2.0 / 5)))
    assert(model.oovWeight == m(math.log(1.0 / 6) - math.log(1.0 / 5)))
    assert(model.prior == m(math.log(2.0 / 2))) // (1+1)/(1+1)
  }

  test("scoreTokenClassifier: integer sum + OOV count, empty docs absent") {
    val df = frame(labeledSt,
      Row(1L, "a a b", true), Row(2L, "a c", false))
    val model = LangModel.trainTokenClassifier(df, "text", "pos")
    val w = model.weights.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val toScore = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(10L, "a b zzz"), Row(11L, "   "))
    val out = LangModel.scoreTokenClassifier(toScore, "doc_id", "text", model)
      .collect()
    assert(out.length == 1) // the whitespace-only doc has nothing to score
    val r = out.head
    assert(r.getLong(r.fieldIndex("n_toks")) == 3L)
    assert(r.getLong(r.fieldIndex("n_oov")) == 1L)
    assert(r.getLong(r.fieldIndex("score")) ==
      model.prior + w("a") + w("b") + model.oovWeight)
  }

  test("classifier separates two token domains (train + held-out accuracy)") {
    // The driver-generated documents table draws every language's text
    // from ONE shared token pool (lang is independent of content), so a
    // token model cannot separate it — build a deterministic two-domain
    // corpus instead: distinct content vocabularies plus a shared filler
    // token, so separation must come from the learned weights.
    val posVocab = Vector("epsilon", "delta", "kappa", "sigma", "tau")
    val negVocab = Vector("mango", "papaya", "guava", "lychee", "durian")
    def doc(vocab: Vector[String], i: Int): String =
      (0 until 8).map(j => vocab((i + j) % vocab.size))
        .patch(i % 9 min 8, Seq("the"), 0).mkString(" ")
    val rows = (0 until 100).flatMap { i =>
      Seq(Row(i.toLong * 2, doc(posVocab, i), true),
        Row(i.toLong * 2 + 1, doc(negVocab, i), false))
    }
    val all = frame(labeledSt, rows: _*)
    val train = all.where(col("doc_id") % 5 =!= 0)
    val model = LangModel.trainTokenClassifier(train, "text", "pos")
    val scored = LangModel.scoreTokenClassifier(all, "doc_id", "text", model)
      .join(all.select(col("doc_id"), col("pos"),
        (col("doc_id") % 5 === 0).as("held_out")), Seq("doc_id"))
    val Array(trainAcc, testAcc) = scored
      .groupBy("held_out")
      .agg(avg(when((col("score") > 0) === col("pos"), 1.0).otherwise(0.0)))
      .orderBy("held_out").collect().map(_.getDouble(1))
    assert(trainAcc == 1.0, s"training accuracy $trainAcc below floor")
    assert(testAcc == 1.0, s"held-out accuracy $testAcc below floor")
  }

  test("trainBigramLm: exact lp / fallback / floor on a hand fixture") {
    // corpus "a b a b" + "a b": pairs (a,b)x3, (b,a)x1; V=2
    // c1(a)=3, c1(b)=1
    val df = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "a b a b"), Row(2L, "a b"))
    val lm = LangModel.trainBigramLm(df, "text")
    val big = lm.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(big(("a", "b")) == m(math.log(4.0 / 5)))
    assert(big(("b", "a")) == m(math.log(2.0 / 3)))
    val fb = lm.fallback.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fb("a") == m(math.log(1.0 / 5)))
    assert(fb("b") == m(math.log(1.0 / 3)))
    assert(lm.floorLp == m(math.log(1.0 / 2)))
  }

  test("scoreBigramLm: bigram/fallback/floor coalesce, short docs absent") {
    val df = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(1L, "a b a b"), Row(2L, "a b"))
    val lm = LangModel.trainBigramLm(df, "text")
    val big = lm.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val fb = lm.fallback.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val toScore = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(10L, "a b"),    // seen bigram
      Row(11L, "b b"),    // seen context, unseen continuation -> fallback(b)
      Row(12L, "zz a"),   // unseen context -> floor
      Row(13L, "solo"))   // < 2 tokens -> absent
    val out = LangModel.scoreBigramLm(toScore, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("n_bigrams")), r.getLong(r.fieldIndex("lp_sum"))))
      .toMap
    assert(out.keySet == Set(10L, 11L, 12L))
    assert(out(10L) == (1L, big(("a", "b"))))
    assert(out(11L) == (1L, fb("b")))
    assert(out(12L) == (1L, lm.floorLp))
  }

  test("scoreColumn: literal-map score ≡ join path; prior on empty; null on null") {
    val df = frame(labeledSt,
      Row(1L, "a a b", true), Row(2L, "a c", false))
    val model = LangModel.trainTokenClassifier(df, "text", "pos")
    val wm = LangModel.collectWeights(model.weights)
    val toScore = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(10L, "a b zzz"), Row(11L, "   "), Row(12L, null))
    val got = toScore.select(col("doc_id"),
      LangModel.scoreColumn(col("text"), wm, model.oovWeight, model.prior)
        .as("score"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val joined = LangModel.scoreTokenClassifier(toScore, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("score"))).toMap
    assert(got(10L) == Some(joined(10L)),
      "token-bearing doc must score identically to the join path")
    assert(got(11L) == Some(model.prior),
      "a token-less doc scores the bare prior in the per-row form")
    assert(got(12L) == None, "null text scores null")
    // the plan-size guard fails loudly past the cap
    assertThrows[IllegalArgumentException](
      LangModel.collectWeights(model.weights, maxVocab = 1))
  }

  private val multiSt = struct(
    "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType)

  test("trainMulticlassClassifier: exact weights, absent, prior on a hand fixture") {
    // x: "a a b" (n=3)  y: "a c" (n=2)  z: "c c" (n=2); V=3, K=3, dAll=3
    val df = frame(multiSt,
      Row(1L, "a a b", "x"), Row(2L, "a c", "y"), Row(3L, "c c", "z"))
    val model = LangModel.trainMulticlassClassifier(df, "text", "lang")
    val w = model.weights.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(w(("x", "a")) == m(math.log(3.0 / 6)))
    assert(w(("x", "b")) == m(math.log(2.0 / 6)))
    assert(w(("y", "a")) == m(math.log(2.0 / 5)))
    assert(w(("y", "c")) == m(math.log(2.0 / 5)))
    assert(w(("z", "c")) == m(math.log(3.0 / 5)))
    assert(w.size == 5)
    val cm = model.classMeta.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cm("x") == ((m(math.log(1.0 / 6)), m(math.log(2.0 / 6)))))
    assert(cm("y") == ((m(math.log(1.0 / 5)), m(math.log(2.0 / 6)))))
    assert(cm("z") == ((m(math.log(1.0 / 5)), m(math.log(2.0 / 6)))))
  }

  test("scoreMulticlass + predictClass: per-class integer sums, OOV tie by cls asc") {
    val df = frame(multiSt,
      Row(1L, "a a b", "x"), Row(2L, "a c", "y"), Row(3L, "c c", "z"))
    val model = LangModel.trainMulticlassClassifier(df, "text", "lang")
    val w = model.weights.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val cm = model.classMeta.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val toScore = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(10L, "a b"), Row(11L, "zzz"), Row(12L, ""))
    val scores = LangModel.scoreMulticlass(toScore, "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(r.fieldIndex("n_toks")), r.getLong(r.fieldIndex("n_hit")),
          r.getLong(r.fieldIndex("score")))).toMap
    assert(scores.keySet == Set(10L, 11L).flatMap(i =>
      Set("x", "y", "z").map(i -> _))) // the empty doc is absent
    assert(scores((10L, "x")) ==
      ((2L, 2L, cm("x")._2 + w(("x", "a")) + w(("x", "b")))))
    assert(scores((10L, "y")) ==
      ((2L, 1L, cm("y")._2 + w(("y", "a")) + cm("y")._1)))
    assert(scores((10L, "z")) == ((2L, 0L, cm("z")._2 + 2 * cm("z")._1)))
    // fully-OOV doc: every class scores prior + n·absent; y and z tie at
    // the top (same absent, same prior) — argmax must break by cls ASC
    assert(scores((11L, "y"))._3 == scores((11L, "z"))._3)
    val pred = LangModel.predictClass(toScore, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred(10L) == "x")
    assert(pred(11L) == "y", "OOV tie must break by class name ascending")
  }

  test("char-n-gram multiclass: trigram weights exact; whitespace-free script classified") {
    // bigram (n=2) hand fixture: class x trains "ab" → grams {ab}? no —
    // charNgrams("ab", 2) = ["ab"]; "abc" = ["ab","bc"]. Train:
    //   x: "abc"  → grams ab, bc            (n(x)=2)
    //   y: "xy"   → grams xy                (n(y)=1)
    // V = 3 (ab, bc, xy), K = 2, dAll = 2
    val df = frame(multiSt, Row(1L, "abc", "x"), Row(2L, "xy", "y"))
    val model = LangModel.trainMulticlassClassifierChars(df, "text", "lang", n = 2)
    val w = model.weights.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(w(("x", "ab")) == m(math.log(2.0 / 5)))
    assert(w(("x", "bc")) == m(math.log(2.0 / 5)))
    assert(w(("y", "xy")) == m(math.log(2.0 / 4)))
    assert(w.size == 3)
    // the motivating case: a WHITESPACE-FREE doc is one token to the word
    // path (pure OOV — scores collapse to prior + n·absent for every
    // class), but its character windows hit the right class's grams
    val zhLike = frame(multiSt,
      Row(1L, "the data test ran", "en"), Row(2L, "数据系统测试", "zh"),
      Row(3L, "the test set ran on", "en"), Row(4L, "系统分析数据", "zh"))
    val cm = LangModel.trainMulticlassClassifierChars(zhLike, "text", "lang", n = 2)
    val toScore = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(10L, "测试数据"), Row(11L, "the data set"))
    val pred = LangModel.predictClassCharsTables(
      toScore, "doc_id", "text", 2, cm.weights, cm.classMeta)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred(10L) == "zh")
    assert(pred(11L) == "en")
    // the TOKEN model on the same training data cannot separate the
    // whitespace-free doc: "测试数据" is one never-seen word, so every
    // class scores prior + absent and the tie breaks alphabetically
    val tok = LangModel.trainMulticlassClassifier(zhLike, "text", "lang")
    val tokScores = LangModel.scoreMulticlass(
      frame(struct("doc_id" -> LongType, "text" -> StringType),
        Row(10L, "测试数据")), "doc_id", "text", tok)
      .collect().map(r => r.getString(1) -> r.getLong(r.fieldIndex("n_hit"))).toMap
    assert(tokScores.values.forall(_ == 0L), "token path must be fully OOV here")
    // doc shorter than n yields no grams → absent from char scoring
    val short = LangModel.scoreMulticlassCharsTables(
      frame(struct("doc_id" -> LongType, "text" -> StringType), Row(20L, "q")),
      "doc_id", "text", 2, cm.weights, cm.classMeta).count()
    assert(short == 0L)
  }

  test("predictColumn: per-row argmax ≡ predictClass; prior-tie on empty; null on null") {
    val df = frame(multiSt,
      Row(1L, "a a b", "x"), Row(2L, "a c", "y"), Row(3L, "c c", "z"))
    val model = LangModel.trainMulticlassClassifier(df, "text", "lang")
    val wm = LangModel.collectMulticlassWeights(model.weights)
    val classes = model.classMeta.collect().toSeq.map(r => (r.getString(0),
      wm.getOrElse(r.getString(0), Map.empty[String, Long]),
      r.getLong(1), r.getLong(2))).sortBy(_._1)
    val toScore = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(10L, "a b"), Row(11L, "zzz"), Row(12L, "   "), Row(13L, null))
    val got = toScore.select(col("doc_id"),
      LangModel.predictColumn(col("text"), classes).as("p"))
      .select(col("doc_id"), col("p.cls"), col("p.score"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getString(1), r.getLong(2)))))
      .toMap
    val joined = LangModel.predictClass(toScore, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(10L) == Some(joined(10L)) && got(11L) == Some(joined(11L)),
      "token-bearing docs must decide identically to the join path")
    // token-less doc: every class scores its bare prior; priors are all
    // equal on this fixture, so the cls-ASC tie rule must pick "x"
    val cm = model.classMeta.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got(12L) == Some(("x", cm("x"))))
    assert(got(13L) == None, "null text predicts null")
  }

  test("multiclass classifier separates three token domains (train + held-out)") {
    val vocabs = Map(
      "aa" -> Vector("epsilon", "delta", "kappa", "sigma", "tau"),
      "bb" -> Vector("mango", "papaya", "guava", "lychee", "durian"),
      "cc" -> Vector("anvil", "crowbar", "piston", "gasket", "flange"))
    def doc(vocab: Vector[String], i: Int): String =
      (0 until 8).map(j => vocab((i + j) % vocab.size))
        .patch(i % 9 min 8, Seq("the"), 0).mkString(" ")
    val rows = (0 until 90).flatMap { i =>
      vocabs.toSeq.sortBy(_._1).zipWithIndex.map { case ((cls, vocab), j) =>
        Row(i.toLong * 3 + j, doc(vocab, i), cls)
      }
    }
    val all = frame(multiSt, rows: _*)
    val train = all.where(col("doc_id") % 5 =!= 0)
    val model = LangModel.trainMulticlassClassifier(train, "text", "lang")
    val Array(trainAcc, testAcc) =
      LangModel.predictClass(all, "doc_id", "text", model)
        .join(all.select(col("doc_id"), col("lang"),
          (col("doc_id") % 5 === 0).as("held_out")), Seq("doc_id"))
        .groupBy("held_out")
        .agg(avg(when(col("cls") === col("lang"), 1.0).otherwise(0.0)))
        .orderBy("held_out").collect().map(_.getDouble(1))
    assert(trainAcc == 1.0, s"training accuracy $trainAcc below floor")
    assert(testAcc == 1.0, s"held-out accuracy $testAcc below floor")
  }

  test("counterGuardCounts: fused guard returns (overlap, total) on every batch shape") {
    // the round-15 append-path fusion: the replay guard's two numbers come
    // from ONE job (bloom-cleared: a count; bloom hit: a left-join
    // aggregate) instead of the prior semi-join count + total count pair —
    // this pins the numbers the guard feeds to the loud-overlap require
    import java.nio.file.Files
    val a = frame(labeledSt,
      Row(1L, "a a b", true), Row(2L, "a c", false))
    val idx = Files.createTempDirectory("graft-guardcnt").toString + "/idx"
    LangModel.writeClassifierIndex(a, "doc_id", "text", "pos", idx)
    val ep = LangModel.resolveClassifierIndex(spark, idx)
    def batch(xs: Long*) = EpochStore.counterBatchIds(
      frame(struct("doc_id" -> LongType), xs.map(Row(_)): _*), "doc_id")
    // disjoint ids: overlap exactly 0 whether the bloom clears or not
    assert(EpochStore.counterGuardCounts(spark, ep, batch(7L, 8L))
      == ((0L, 2L)))
    // full replay: every id already committed
    assert(EpochStore.counterGuardCounts(spark, ep, batch(1L, 2L))
      == ((2L, 2L)))
    // partial overlap, with a duplicated raw row — total counts DISTINCT ids
    assert(EpochStore.counterGuardCounts(spark, ep, batch(2L, 9L, 9L))
      == ((1L, 2L)))
    // empty batch: no work, (0, 0)
    assert(EpochStore.counterGuardCounts(spark, ep, batch())
      == ((0L, 0L)))
  }

  test("classifier index: append ≡ retrain, replay no-op, overlap loud, compact exact") {
    import java.nio.file.Files
    val a = frame(labeledSt,
      Row(1L, "a a b", true), Row(2L, "a c", false))
    val b = frame(labeledSt,
      Row(3L, "b c c", true), Row(4L, "d", false), Row(5L, "a d", true))
    val idx = Files.createTempDirectory("graft-clsidx").toString + "/idx"
    LangModel.writeClassifierIndex(a, "doc_id", "text", "pos", idx)
    LangModel.appendClassifierIndex(b, "doc_id", "text", "pos", idx)
    def modelOf(m: LangModel.TokenClassifier) =
      (m.weights.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
        m.oovWeight, m.prior)
    val retrained = modelOf(
      LangModel.trainTokenClassifier(a.unionByName(b), "text", "pos"))
    assert(modelOf(LangModel.indexClassifier(spark, idx)) == retrained,
      "standing-counter model must equal the from-scratch retrain exactly")
    // a FULL replay of a committed batch no-ops: same epoch, same model
    val epochBefore = EpochStore.currentEpoch(spark, idx)
    LangModel.appendClassifierIndex(b, "doc_id", "text", "pos", idx)
    assert(EpochStore.currentEpoch(spark, idx) == epochBefore)
    assert(modelOf(LangModel.indexClassifier(spark, idx)) == retrained)
    // a PARTIAL id overlap would double-count — must fail loudly
    val mixed = frame(labeledSt,
      Row(5L, "a d", true), Row(9L, "e e", false))
    assertThrows[IllegalArgumentException](
      LangModel.appendClassifierIndex(mixed, "doc_id", "text", "pos", idx))
    assert(modelOf(LangModel.indexClassifier(spark, idx)) == retrained,
      "the refused append must leave the standing model untouched")
    // compaction pre-sums the deltas without moving a single counter
    LangModel.compactClassifierIndex(spark, idx)
    assert(modelOf(LangModel.indexClassifier(spark, idx)) == retrained)
    // daily probe ≡ scoring under the retrained model
    val arrivals = frame(struct("doc_id" -> LongType, "text" -> StringType),
      Row(10L, "a b zzz"), Row(11L, "c d"))
    def scoredSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getLong(r.fieldIndex("n_toks")), r.getLong(r.fieldIndex("n_oov")),
        r.getLong(r.fieldIndex("score")))).toSet
    assert(
      scoredSet(LangModel.scoreAgainstClassifierIndex(
        arrivals, "doc_id", "text", idx)) ==
      scoredSet(LangModel.scoreTokenClassifier(arrivals, "doc_id", "text",
        LangModel.trainTokenClassifier(a.unionByName(b), "text", "pos"))))
  }

  test("bigram LM ranks in-domain text above out-of-domain (mean lp/bigram)") {
    val sf = s"$testdataRoot/sf0.001"
    requireTestdata(sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val en = docs.where(col("lang") === "en")
    val lm = LangModel.trainBigramLm(en, "text")
    val scored = LangModel.scoreBigramLm(docs, "doc_id", "text", lm)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("avg_lp", col("lp_sum").cast("double") / col("n_bigrams"))
    val Array(enAvg, otherAvg) = scored
      .groupBy((col("lang") === "en").as("is_en")).agg(avg("avg_lp").as("a"))
      .orderBy(col("is_en").desc).collect().map(_.getDouble(1))
    assert(enAvg > otherAvg,
      s"en mean lp/bigram $enAvg not above non-en $otherAvg")
  }

  test("thresholdSweep: exact confusion counts, ppm floors, null score/label rules") {
    val st = struct("s" -> LongType, "l" -> BooleanType)
    val df = frame(st,
      Row(10L, true), Row(8L, false), Row(6L, true),
      Row(null, true),          // null score predicts negative → fn
      Row(4L, false),
      Row(99L, null))           // null label: not evaluable, excluded
    val out = LangModel.thresholdSweep(df, "s", "l", Seq(5L, 11L))
      .orderBy(col("threshold")).collect()
    def opt(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    // t = 5: pred {10,8,6} → tp 2, fp 1; {null, 4} negative → fn 1, tn 1
    //   precision = 2e6 div 3 = 666666, recall same, f1 = 4e6 div 6
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3), out(0).getLong(4)) == ((5L, 2L, 1L, 1L, 1L)))
    assert((opt(out(0), 5), opt(out(0), 6), opt(out(0), 7)) ==
      ((Some(666666L), Some(666666L), Some(666666L))))
    // t = 11: nothing predicted → precision undefined (null), recall 0
    assert((out(1).getLong(1), out(1).getLong(2), out(1).getLong(3),
      out(1).getLong(4)) == ((0L, 0L, 3L, 2L)))
    assert((opt(out(1), 5), opt(out(1), 6), opt(out(1), 7)) ==
      ((None, Some(0L), Some(0L))))
    // contract errors
    assert(intercept[IllegalArgumentException] {
      LangModel.thresholdSweep(df, "s", "l", Seq.empty)
    }.getMessage.contains("at least one"))
    assert(intercept[IllegalArgumentException] {
      LangModel.thresholdSweep(df, "s", "l", Seq(1L, 1L))
    }.getMessage.contains("duplicate"))
    // an all-null-label corpus yields all-zero counts, not a crash
    val zeros = LangModel.thresholdSweep(
      frame(st, Row(5L, null)), "s", "l", Seq(1L)).collect()(0)
    assert((zeros.getLong(1), zeros.getLong(4)) == ((0L, 0L)))
    // token space: cells sum token weights (null tokens weigh 0)
    val tst = struct("s" -> LongType, "l" -> BooleanType, "n" -> LongType)
    val tdf = frame(tst,
      Row(10L, true, 5L), Row(8L, false, 3L), Row(6L, true, null))
    val tok = LangModel.thresholdSweepTokens(tdf, "s", "l", "n", Seq(5L))
      .collect()(0)
    // tp = 5 + 0, fp = 3; precision 5e6 div 8, recall 5e6 div 5,
    // f1 = 10e6 div 13
    assert((tok.getLong(1), tok.getLong(2), tok.getLong(3), tok.getLong(4)) ==
      ((5L, 3L, 0L, 0L)))
    assert((opt(tok, 5), opt(tok, 6), opt(tok, 7)) ==
      ((Some(625000L), Some(1000000L), Some(769230L))))
  }
}
