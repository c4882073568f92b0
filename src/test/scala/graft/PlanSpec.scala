package graft

import org.apache.spark.sql.functions._

import graft.relation.Relation

/** Physical-plan shape guards for the properties that decide whether a
  * query survives a 100× scale-up. Correctness tests can't catch a plan
  * regression (the slow plan returns the same rows), so the scale-critical
  * shapes are asserted directly on the executed plan:
  *
  *   - filters and column pruning must reach the parquet scan;
  *   - small-dimension joins must broadcast (no full shuffle);
  *   - order+limit must compile to TakeOrderedAndProject (never a global
  *     sort);
  *   - the banded range join must be a hash join, not nested-loop;
  *   - hot per-row kernels must sit inside WholeStageCodegen spans.
  */
class PlanSpec extends SparkSpec {

  private lazy val dir = { val d = s"$testdataRoot/sf0.001"; requireTestdata(d); d }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter and projection push down to the parquet scan") {
    val df = Tables(spark, dir, "lineitem")
      .where(col("l_quantity") < 10)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("small-dimension join broadcasts instead of shuffling the fact side") {
    val p = plan(
      Tables(spark, dir, "orders").join(
        Tables(spark, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey")))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("order+limit compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan(
      Relation(Tables(spark, dir, "orders"))
        .order("o_totalprice desc").limit(10).toDF)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("banded range join is a hash join on the bucket key, never nested-loop") {
    val bands = Relation(spark.range(16).toDF("band_id")
      .selectExpr("band_id", "band_id * 3.0 AS lo", "band_id * 3.0 + 10.0 AS hi"))
    val p = plan(
      Relation(Tables(spark, dir, "lineitem"))
        .apply("l_orderkey", "l_quantity")
        .rangeJoin(bands, "l_quantity", "lo", "hi", bucket = 5.0).toDF)
    assert(p.contains("HashJoin"), s"expected hash join:\n$p")
    assert(!p.contains("NestedLoop"), s"nested-loop join leaked in:\n$p")
  }

  test("dedup signature kernels run inside WholeStageCodegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val df = Tables(spark, dir, "documents").select(
      graft.functions.native.minhashBandHashes(
        graft.ops.TextOps.wsTokens(col("text")), 3, 64, 32).as("bh"))
    val spans = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w }
    assert(spans.nonEmpty, s"kernel fell out of codegen:\n${plan(df)}")
  }

  test("the MinHash band kernel runs in exactly one operator of the pair plans") {
    // an inferred `size(bh) > 0` filter under the band explode would be
    // pushed below the projection with the kernel substituted into it
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val docs = Tables(spark, dir, "documents")
    Seq(
      "minhashPairs" -> ops.Dedup.minhashPairs(docs, "text", "doc_id"),
      "ngramJaccardPairs" -> ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id")
    ).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val withKernel = allNodes(plan).filter(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.MinHashBandHashes])))
      assert(withKernel.size == 1,
        s"$name: minhash_band_hashes in ${withKernel.size} operators " +
          s"(${withKernel.map(_.nodeName).mkString(", ")}):\n$plan")
    }
  }

  test("jaccard threshold filters rewrite to the fused early-exit predicate") {
    val df = Tables(spark, dir, "documents").select(
      col("doc_id"),
      graft.functions.native.hashedShingleSet(
        graft.ops.TextOps.wsTokens(col("text")), 3).as("hs"))
    val a = df.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val b = df.select(col("doc_id").as("id_b"), col("hs").as("hs_b"))
    val q = a.crossJoin(b)
      .where(graft.functions.native.jaccardSorted(col("hs_a"), col("hs_b")) >= lit(0.5))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("jaccard_sorted_ge"), s"rule did not fire:\n$opt")
    // SQL-string form rewrites too (the rule fires below expr/spark.sql)
    df.createOrReplaceTempView("graft_plan_hs")
    val sqlQ = spark.sql(
      """SELECT a.doc_id FROM graft_plan_hs a JOIN graft_plan_hs b
        |ON jaccard_sorted(a.hs, b.hs) >= 0.8""".stripMargin)
    assert(sqlQ.queryExecution.optimizedPlan.toString.contains("jaccard_sorted_ge"))
  }

  test("global as-of join never plans a single-partition exchange") {
    val ev = Relation(Tables.events(spark, dir))
    val clicks = ev.filterEq("event_type" -> "click")
      .select("user_id", "ts", "value")
    val purchases = ev.filterEq("event_type" -> "purchase")
      .aggregate(Seq("max(value) as pval"), groupBy = Seq("ts"))
    val p = plan(clicks.asofJoin(purchases, by = Nil, leftOn = "ts", rightOn = "ts").toDF)
    assert(!p.contains("SinglePartition"),
      s"global asof collapsed to one partition:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"boundary carry should broadcast:\n$p")
  }

  test("decontamination probes a broadcast gram table — corpus never sort-merges") {
    val docs = Tables(spark, dir, "documents")
    val p = plan(ops.Decontam.contaminationReport(
      docs, docs.limit(20), "doc_id", "text", n = 5))
    assert(p.contains("BroadcastHashJoin"),
      s"eval gram keys must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus grams must never reach a shuffle join:\n$p")
  }

  test("chunking is a fused generator — zero exchanges") {
    val p = plan(ops.Packing.chunkByTokens(
      Tables(spark, dir, "documents"), "doc_id", "text", chunkSize = 32, stride = 24))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate explode"), s"expected a generator:\n$p")
  }

  test("blocklist screen is a fused literal-array filter — zero exchanges") {
    val docs = Tables(spark, dir, "documents")
    val p = plan(ops.TextOps.filterBlocklisted(
      docs, "text", Seq("vector", "customer query")))
    assert(!p.contains("Exchange"), s"blocklist screen must not shuffle:\n$p")
    assert(!p.contains("Join"), s"blocklist screen must not join:\n$p")
  }

  test("html extraction is fused per-row codegen — zero exchanges, no join") {
    val docs = Tables(spark, dir, "documents")
    val p = plan(docs.select(col("doc_id"),
      ops.TextOps.htmlExtractC4(col("text")).as("r")))
    assert(!p.contains("Exchange"), s"html extraction must not shuffle:\n$p")
    assert(!p.contains("Join"), s"html extraction must not join:\n$p")
    // the block-metrics explode form is a fused generator, also exchange-free
    val pb = plan(docs.select(col("doc_id"),
      explode(ops.TextOps.htmlBlockMetrics(col("text"))).as("b")))
    assert(!pb.contains("Exchange"), s"block metrics must not shuffle:\n$pb")
  }

  test("concat-chunk packing plan shuffles exactly once (the group window)") {
    val p = plan(ops.Packing.concatChunkPlan(
      Tables(spark, dir, "documents"), "doc_id", "text", capacity = 256, nGroups = 8))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one exchange, saw $exchanges:\n$p")
  }

  test("materialized packing reuses the window partitioning — one exchange") {
    // the (grp, bin) aggregate is satisfied by the window's grp hash
    // partitioning, so the whole materialization is ONE shuffle end-to-end
    val p = plan(ops.Packing.materializeBins(
      Tables(spark, dir, "documents"), "doc_id", "text", capacity = 256, nGroups = 8))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one exchange, saw $exchanges:\n$p")
  }

  test("media decode chains are shuffle-free generators") {
    val docs = Tables(spark, dir, "documents")
    val avi = ops.Multimodal.synthesizeAvi(spark, docs, "doc_id", "text", "payload")
    val frames = ops.Multimodal.frameSample(spark, avi, "doc_id", "payload", everyN = 1)
    val pv = plan(frames)
    assert(!pv.contains("Exchange"), s"video chain must not shuffle:\n$pv")
    val wav = ops.Audio.synthesizeWav(spark, docs, "doc_id", "text", "payload")
    val pa = plan(ops.Audio.audioFeatures(spark, wav, "doc_id", "payload"))
    assert(!pa.contains("Exchange"), s"audio chain must not shuffle:\n$pa")
  }

  test("index probe scans two narrow index tables — never the corpus text") {
    // the whole point of the persisted dedup index: a probe's existing
    // side is parquet reads of (band,bhash,id) and (id,hs) — the corpus
    // text column must appear in NO scan. Only the probe docs (here a
    // parquet-backed frame too) run the signature kernel.
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-idx").toString
    val docs = Tables(spark, dir, "documents")
    ops.Dedup.writeDedupIndex(docs.where(col("doc_id") % 2 === 0), "text", "doc_id", idx)
    val probe = ops.Dedup.minhashPairsAgainstIndex(
      docs.where(col("doc_id") % 2 === 1), "text", "doc_id", idx)
    // pre-AQE physical plan: the executedPlan string repeats scan
    // sections under AQE ("Initial Plan"), which would double-count
    val p = probe.queryExecution.sparkPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).size
    // v4 delta layout: buckets is ONE multi-path scan over the manifest's
    // data dirs plus the (tiny, broadcast) tombstone scan filtering it
    assert(scans == 4,
      s"expected 4 parquet scans (probe docs + buckets + dropped + sets), got $scans:\n$p")
    // the index tables must be read narrow — the text column appears in
    // exactly one scan (the probe side), never the existing side
    val textScans = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("text:string")).size
    assert(textScans == 1, s"corpus text must be read exactly once, got $textScans:\n$p")
  }

  test("fingerprint-index probe prunes standing postings by broadcast semi-join; text read once") {
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-fpidx").toString
    val docs = Tables(spark, dir, "documents")
    ops.Decontam.writeFingerprintIndex(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", idx, n = 5, w = 4)
    val probe = ops.Decontam.winnowingPairsAgainstIndex(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text", idx)
    val p = probe.queryExecution.sparkPlan.toString
    // standing postings are pruned to the batch's fingerprint keys BEFORE
    // any shuffle: a broadcast LeftSemi sits directly over the postings scan
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected the broadcast semi-join postings prune:\n$p")
    // batch text is scanned; the standing side never is — every scan of an
    // index table (postings/fsizes) must be text-free (the index holds
    // only 16-hex keys and counts)
    val indexScans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") &&
        (l.contains("postings") || l.contains("fsizes"))).toSeq
    assert(indexScans.nonEmpty, s"expected index-table scans:\n$p")
    assert(indexScans.forall(!_.contains("text")),
      s"standing side must be text-free:\n$p")
  }

  test("persisted-ANN probe broadcasts queries; the assigned table never shuffles") {
    // centroids come off the index as PLAN LITERALS (no join against the
    // centroids table), the probed query side is broadcast, and the
    // corpus-sized assigned table streams through the one cell join —
    // the only exchange below the top-k window is the probe side's own.
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-ann").toString
    val emb = Tables(spark, dir, "embeddings")
    ops.Similarity.writeAnnIndex(
      emb.where(col("vec_id") % 2 === 0), "embedding", "vec_id", idx, nlist = 8)
    val probe = ops.Similarity.annTopKAgainstIndex(
      emb.where(col("vec_id") < 5), "embedding", "vec_id", idx, k = 3)
    // sparkPlan for scan/join shape (pre-AQE, no duplicated sections) …
    val p = probe.queryExecution.sparkPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 2,
      s"expected 2 parquet scans (probe queries + assigned), got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probed query side must be broadcast into a hash join:\n$p")
    // … executedPlan for exchanges (EnsureRequirements inserts them there):
    // the window's query_id shuffle only — the assigned table itself must
    // stream into the broadcast join without repartitioning
    val e = plan(probe)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(e).size
    assert(shuffles == 1,
      s"only the top-k window may shuffle (on query_id), got $shuffles:\n$e")
  }

  test("md5 weighted mix is a pure pushdown-friendly filter union") {
    val docs = Tables(spark, dir, "documents").select("doc_id")
    val p = plan(ops.Sampling.md5WeightedMix(
      Seq((docs, "a", 0.5), (docs, "b", 0.25)), "doc_id"))
    assert(!p.contains("Exchange"), s"mix must not shuffle:\n$p")
    assert(p.contains("Union"), s"expected a union of filtered scans:\n$p")
  }

  test("validation compiles to ONE aggregate pass over the frame") {
    val m = core.Schema("LI", Seq(
      core.FieldSpec.long("l_orderkey"),
      core.FieldSpec.double("l_quantity", nullable = true)
        .copy(bounds = core.Bounds(le = Some(45))),
      core.FieldSpec.enum("l_returnflag", Seq("A", "N", "R"), nullable = true)))
    val report = core.Validator.reportDF(
      Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag"), m)
    // one scan feeding one partial+final aggregate pair — no per-column jobs
    val scans = "FileScan parquet".r.findAllIn(plan(report)).length
    assert(scans == 1, s"validation should scan once, saw $scans:\n${plan(report)}")
  }

  test("bloom decontamination prunes map-side BEFORE the confirm join shuffles") {
    val docs = Tables(spark, dir, "documents")
    val p = plan(ops.Decontam.contaminationReportBloom(
      docs, docs.limit(20), "doc_id", "text", n = 5))
    assert(p.contains("might_contain"),
      s"expected the codegen BloomFilterMightContain probe in the plan:\n$p")
    // the probe must sit on the corpus side below the join, not above it:
    // everything after the first join operator line must be bloom-free on
    // the filter side ordering — cheap proxy: filter appears before the
    // first Join node top-down in the plan string
    val bloomAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0 && bloomAt > joinAt,
      s"bloom filter should be BELOW the join (printed after it top-down):\n$p")
  }

  test("boilerplate strip shuffles (domain, hash, id, pos), never paragraph text") {
    val docs = Tables(spark, dir, "documents")
    val p = plan(ops.Dedup.stripBoilerplateParagraphs(
      docs, "source", "doc_id", "text"))
    // the per-paragraph verdict pipeline must project paragraphs down to
    // md5 hashes before every shuffle; full text rides only the final
    // per-doc attach of the surviving position arrays (a broadcast-able
    // id-keyed join input, not an exchange)
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("__para#"), s"paragraph text reached a shuffle:\n$p")
    }
    assert("Exchange".r.findAllIn(p).nonEmpty)
  }

  test("repeated-gram mining shuffles gram keys, never document text") {
    val p = plan(ops.Decontam.repeatedGramReport(
      Tables(spark, dir, "documents"), "doc_id", "text", n = 5))
    // every Exchange input is (id, 16-char key) or narrower — the text
    // column must be projected away before any shuffle
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    assert("Exchange".r.findAllIn(p).nonEmpty)
  }

  test("full repetition bundle shuffles gram hashes, never document text") {
    val p = plan(ops.TextOps.gopherRepetitionReport(
      Tables(spark, dir, "documents"), "doc_id", "text"))
    // every n-gram is md5-hashed INSIDE the row before the explode — the
    // (doc, n, hash) aggregate and the covered-position distinct move
    // 16-byte keys and integers, never text or gram strings
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    assert("Exchange".r.findAllIn(p).nonEmpty)
  }

  test("integer cell assign is pure per-row codegen — zero exchanges") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(ops.Similarity.integerCellAssign(
      emb, "embedding", "vec_id", k = 4))
    // seeds are collected at build time (k rows); the returned plan is
    // scan + project, so the assignment composes onto a stream unchanged
    assert(!p.contains("Exchange"), s"cell assign planned a shuffle:\n$p")
  }

  test("prototype scoring broadcasts cell sums; embeddings never shuffle") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(ops.Similarity.prototypeScores(
      ops.Similarity.integerCellAssign(emb, "embedding", "vec_id", k = 4),
      "cell", "embedding", "vec_id"))
    // the only hash exchange is the (cell, pos) partial-sum aggregate —
    // int rows; the k-row sum table comes back as a broadcast, so the
    // quantized codes stay in their scan partition
    p.split("\n")
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast"))
      .foreach { line =>
        assert(!line.contains("embedding#") && !line.contains("__qv#"),
          s"embeddings reached a shuffle:\n$p")
      }
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"cell sums did not broadcast:\n$p")
  }

  test("unimax repeat-take: full copies are a generator; no global sort") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), substring(col("source"), 1, 4).as("domain"))
    val p = plan(ops.Sampling.takeUniMax(
      docs, "domain", "doc_id", budget = 600L, maxEpochs = 2L))
    // the full-copy arm multiplies rows with a per-row sequence explode
    // (no shuffle); the partial arm rides the bucket-prefix take — no
    // arm may collapse the corpus into one partition
    assert(p.contains("Generate explode"), s"no copy generator:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
    assert(!p.split("\n").exists(l =>
      l.contains("Sort [") && l.contains("global=true")),
      s"global sort in the mix:\n$p")
  }

  test("contrast score shuffles tokens and counters, never document text") {
    val docs = Tables(spark, dir, "documents")
    val p = plan(ops.TextOps.contrastScore(
      docs, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", "text"))
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    assert("Exchange".r.findAllIn(p).nonEmpty)
  }

  test("classifier scoring shuffles tokens and weights, never document text") {
    val docs = Tables(spark, dir, "documents")
    val model = ops.LangModel.trainTokenClassifier(
      docs.withColumn("pos", col("lang") === "en"), "text", "pos")
    val p = plan(ops.LangModel.scoreTokenClassifier(
      docs, "doc_id", "text", model))
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    assert("Exchange".r.findAllIn(p).nonEmpty)
  }

  test("multiclass scoring broadcasts the K-row class meta; text never shuffles") {
    val docs = Tables(spark, dir, "documents")
    val model = ops.LangModel.trainMulticlassClassifier(docs, "text", "lang")
    val out = ops.LangModel.scoreMulticlass(docs, "doc_id", "text", model)
    val p = plan(out)
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    // the per-doc × class expansion must be the broadcast of the K-row
    // meta, not an exchange of the doc side against it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"class meta did not broadcast:\n$p")
    // the char-n-gram path: element_counts combines grams IN the row, so
    // text never shuffles there either and the gram explode feeds the
    // weight join directly — no aggregate between generator and join
    val cm = ops.LangModel.trainMulticlassClassifierChars(docs, "text", "lang", n = 3)
    val pc = plan(ops.LangModel.scoreMulticlassCharsTables(
      docs, "doc_id", "text", 3, cm.weights, cm.classMeta))
    pc.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle (char path):\n$pc")
    }
    assert(pc.contains("element_counts"),
      s"expected the element_counts kernel in the char scoring plan:\n$pc")
  }

  test("dsir selection: text never rides a shuffle; no full-band window") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = Tables(spark, dir, "documents")
    val out = ops.Sampling.dsirSelect(
      docs, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", "text",
      tokenBudget = 5000L)
    val p = plan(out)
    // the contrast phase shuffles tokens/counters and the take shuffles
    // the narrow banded ledger — document text must reach neither
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    // the selection inherits takeBudgets' two-phase shape: any windowed
    // cumsum consumes ONLY rows a broadcast bucket-classification join
    // admitted — never a whole band
    val exec = out.queryExecution.sparkPlan
    exec.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.child.collectFirst { case j: BroadcastHashJoinExec => j }.isDefined,
        s"a window must sit above the boundary-bucket broadcast join:\n$exec")
    }
  }

  test("top-fraction filter: no full-stratum sort; text never rides a shuffle") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = Tables(spark, dir, "documents")
      .withColumn("n_tok", ops.TextOps.tokenCount(col("text")).cast("long"))
    val out = ops.Sampling.takeTopFraction(
      docs, "source", "doc_id", "n_tok", fraction = 0.25, nBuckets = 8)
    val p = plan(out)
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    // every window (the exact boundary-bucket ranking) must sit above a
    // broadcast classification join — a stratum is never sorted whole
    val exec = out.queryExecution.sparkPlan
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the boundary-bucket window:\n$exec")
    windows.foreach { w =>
      assert(w.child.collectFirst { case j: BroadcastHashJoinExec => j }.isDefined,
        s"a window must consume only broadcast-classified boundary rows:\n$exec")
    }
  }

  test("hard negatives broadcast the query batch; the only shuffle is the ranking window") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(ops.Similarity.hardNegatives(
      emb, emb.where(col("vec_id") % 17 === 0), "embedding", "vec_id",
      k = 5, maxCosine = 0.8, minCosine = 0.1))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query batch must broadcast against the streaming corpus:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly the per-query ranking exchange, saw $shuffles:\n$p")
  }

  test("containment pairs shuffle gram keys and id pairs, never document text") {
    val pg = ops.Decontam.gramPostings(Tables(spark, dir, "documents"), "doc_id", "text", n = 5)
    val p = plan(ops.Decontam.containment(
      pg, pg, Seq(pg), ops.Decontam.Within, maxDf = 10000L, minContainment = 0.5))
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    assert("Exchange".r.findAllIn(p).nonEmpty)
  }

  test("winnowing pairs: selection fused into the scan, no text in any shuffle") {
    val fp = ops.Decontam.fpPostings(
      Tables(spark, dir, "documents"), "doc_id", "text", n = 5, w = 4, idAs = "doc_id")
    val p = plan(ops.Decontam.winnowing(
      fp, fp, Seq(fp), ops.Decontam.Within, maxDf = 10000L, minShared = 2L))
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text#"), s"text reached a shuffle:\n$p")
    }
    // the per-window minima are array math in the scan — no extra exchange
    // beyond the fingerprint aggregates and the pair join
    assert("Exchange".r.findAllIn(p).nonEmpty)
  }

  test("epoch shuffle: bucket-keyed window + broadcast offsets, never a global sort") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = plan(ops.Sampling.epochShuffle(
      Tables(spark, dir, "documents"), "doc_id", epoch = 7L))
    // global positions must come from the per-bucket window — a global
    // row_number would plan Exchange SinglePartition and sort the corpus
    // in one task
    assert(!p.contains("SinglePartition"),
      s"epoch shuffle collapsed to one partition:\n$p")
    assert(p.contains("Exchange hashpartitioning(__b"),
      s"expected the bucket-keyed window exchange:\n$p")
    // the offset table attaches via a broadcast join, not a shuffle join
    val exec = ops.Sampling.epochShuffle(
      Tables(spark, dir, "documents"), "doc_id", epoch = 7L)
      .queryExecution.sparkPlan
    assert(exec.collectFirst { case j: BroadcastHashJoinExec => j }.isDefined,
      s"offsets must broadcast:\n$exec")
  }

  test("curriculum order: (stage, bucket)-keyed window, never a global sort") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables(spark, dir, "documents")
      .withColumn("stage", (col("doc_id") % 3).cast("int"))
    val out = ops.Sampling.curriculumShuffle(docs, "doc_id", "stage", epoch = 3L)
    val p = plan(out)
    assert(!p.contains("SinglePartition"),
      s"curriculum order collapsed to one partition:\n$p")
    assert(p.contains("Exchange hashpartitioning(__s"),
      s"expected the (stage, bucket)-keyed window exchange:\n$p")
    assert(out.queryExecution.sparkPlan.collectFirst {
      case j: BroadcastHashJoinExec => j }.isDefined,
      s"offsets must broadcast:\n${out.queryExecution.sparkPlan}")
  }

  test("waterfill mix rides the two-phase take: no global sort, no corpus self-join") {
    val docs = Tables(spark, dir, "documents")
    val weights = (0 until 20).map(i => s"src$i" -> 1L).toMap
    val out = ops.Sampling.takeWaterfillMix(
      docs, "source", "doc_id", weights, budget = 100L)
    val p = plan(out)
    assert(!p.contains("SinglePartition"),
      s"waterfill mix collapsed to one partition:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"membership must attach via broadcast, never a corpus merge join:\n$p")
  }

  test("sized shards: bucket-keyed cumsum window + broadcast offsets, no global sort") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables(spark, dir, "documents")
      .withColumn("n_tok", ops.TextOps.tokenCount(col("text")).cast("long"))
    val out = ops.Sink.sizedShardAssignment(docs, "doc_id", "n_tok", 500L)
    val p = plan(out)
    assert(!p.contains("SinglePartition"),
      s"sized sharding collapsed to one partition:\n$p")
    assert(p.contains("Exchange hashpartitioning(__b"),
      s"expected the bucket-keyed cumsum exchange:\n$p")
    assert(out.queryExecution.sparkPlan.collectFirst {
      case j: BroadcastHashJoinExec => j }.isDefined,
      s"offsets must broadcast:\n${out.queryExecution.sparkPlan}")
  }

  test("epoch-order materialization stays bucket-parallel — never the naive global sort") {
    // the composed path (epochShuffle → stride groups → capacity bins) is
    // semantically orderBy(pos) + one running window; the plan must
    // instead key every exchange on a bounded column: the md5 bucket for
    // positions, then the stride group for the binning window
    val p = plan(ops.Packing.materializeEpochOrder(
      Tables(spark, dir, "documents"), "doc_id", "text",
      epoch = 7L, capacity = 256L, nGroups = 4))
    assert(!p.contains("SinglePartition"),
      s"epoch-order materialization collapsed to one partition:\n$p")
    assert(p.contains("Exchange hashpartitioning(__b"),
      s"expected the position bucket-window exchange:\n$p")
    assert(p.contains("Exchange hashpartitioning(grp"),
      s"expected the stride-group binning exchange:\n$p")
  }

  test("paragraph dedup window is hash-keyed and its shuffle rows are hash-narrow") {
    val p = plan(ops.Dedup.dedupParagraphs(
      Tables(spark, dir, "documents"), "doc_id", "text"))
    // the dedup window must partition on the 16-byte paragraph hash (not
    // on text, not single-partition) …
    assert(p.contains("Exchange hashpartitioning(__h"),
      s"expected the hash-keyed window exchange:\n$p")
    assert(!p.contains("SinglePartition"), s"no single-partition exchange:\n$p")
    // … and the exchange feeding it projects the hash, so the shuffled row
    // is (id, pos, hash) — the paragraph string itself is consumed by the
    // md5 BEFORE the exchange (the AS __h projection sits below it)
    val lines = p.split("\n")
    val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning(__h"))
    val below = lines.drop(exIdx + 1).take(3).mkString("\n")
    assert(below.contains("AS __h"),
      s"hash must be computed map-side, below the exchange:\n$p")
  }

  test("shard-sink layout delivers partition pruning on shard-filtered reads") {
    val out = java.nio.file.Files.createTempDirectory("graft_planshard").toString + "/c"
    ops.Sink.writeShards(
      Tables(spark, dir, "documents").select("doc_id", "text"),
      out, "doc_id", nShards = 8)
    val p = plan(spark.read.parquet(out).where(col("shard") === 3))
    assert(p.contains("PartitionFilters: [isnotnull(shard"),
      s"shard filter must prune directories, not scan-and-filter:\n$p")
    assert(p.contains("(shard#") && p.contains("= 3)"),
      s"expected the shard=3 partition filter:\n$p")
  }

  test("ivf knn join keys the candidate join on the cell id at corpus scale") {
    val emb = Tables(spark, dir, "embeddings")
    val idx = ops.Similarity.ivfBuild(emb, "embedding", "vec_id", nlist = 16)
    try {
      // disable broadcast to simulate both sides corpus-sized — the 100 TB
      // shape must be a shuffle join partitioned by the int cell key, not
      // a nested loop or a single-partition funnel
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = ops.Similarity
        .ivfKnnJoinPlan(idx, emb, "embedding", "vec_id", k = 3, nprobe = 4)
      // sparkPlan (pre-EnsureRequirements) pins the join choice; the
      // executedPlan string pins the exchanges EnsureRequirements adds
      val join = df.queryExecution.sparkPlan.toString
      assert(join.contains("Join [cell") || join.contains("Join cell"),
        s"candidate join must key on cell:\n$join")
      assert(!join.contains("NestedLoop"), s"nested-loop join leaked in:\n$join")
      val p = df.queryExecution.executedPlan.toString
      assert("hashpartitioning\\(cell".r.findAllIn(p).size >= 2,
        s"both candidate-join sides must exchange by cell:\n$p")
      assert(!p.contains("SinglePartition"),
        s"single-partition exchange in the knn-join plan:\n$p")
      // the build must never park the corpus in executor storage: a 100 TB
      // corpus cannot be cached to train nlist × dim centroid floats
      assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
        s"ivfBuild persisted something corpus-sized:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("token-budget sampling: no full-stratum window, no text in any exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val withTok = Tables(spark, dir, "documents")
      .withColumn("n_tok", ops.TextOps.tokenCount(col("text")).cast("long"))
    val out = ops.Sampling.takeTokenBudget(
      withTok, "source", "doc_id", "n_tok", budget = 5000L)
    // sparkPlan (pre-AQE) is a plain tree — programmatic shape asserts work
    val exec = out.queryExecution.sparkPlan
    // the windowed cumsum — the only sort — must consume ONLY rows the
    // broadcast bucket-classification join admitted (the boundary bucket,
    // ~1/4096 of a stratum), never a whole stratum
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the boundary-bucket window:\n$exec")
    windows.foreach { w =>
      assert(w.child.collectFirst { case j: BroadcastHashJoinExec => j }.isDefined,
        s"window input must be gated by the broadcast classification join:\n$exec")
    }
    // text must never ride a shuffle: every exchange's row is the narrow
    // (stratum, key, tokens, bucket/…) ledger
    val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
    shuffles.foreach { e =>
      assert(e.output.forall(_.name != "text"),
        s"text column in a shuffle row: ${e.output.map(_.name)}\n$exec")
    }
    val p = plan(out)
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"no global sort allowed:\n$p")
  }

  test("pipeline flagship: no stage collapses to one partition or a global sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val spark0 = spark
    import spark0.implicits._
    val para = "It is a pleasant morning for the people of the village " +
      "and the weather is a gentle presence in all of the streets."
    val crawl = spark.range(0, 60).select(
      col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 3).cast("string")).as("source"),
      concat(lit("https://www.h"), (col("id") % 7).cast("string"),
        lit(".example.com/a/"), col("id").cast("string")).as("url"),
      concat(lit("<html><body><p>"), lit(para), lit(" Page "),
        col("id").cast("string"),
        lit(" of the set of it in the day of it for all of the people " +
          "of it and the rest of the day of it in the set.</p><p>"),
        lit(para), lit("</p><p>"), lit(para),
        lit("</p></body></html>")).as("html"))
    val eval = Seq("the benchmark answer is in the set of it").toDF("text")
    val cfg = graft.ops.Pipeline.CurationConfig(
      blockedDomains = Seq("h3.example.com"),
      phrases = Seq("banned topic"),
      weights = Map("s0" -> 1L, "s1" -> 1L, "s2" -> 1L),
      budgetTokens = 500L,
      shardTokens = 200L)
    val out = graft.ops.Pipeline.curate(
      crawl, "doc_id", "url", "source", "html", eval, "text", cfg)
    val exec = out.queryExecution.executedPlan
    val p = exec.toString
    // the diagnosis assembly, both dedup elections, the decontamination
    // probe, the waterfill take, and the shard cumsum must all stay
    // parallel: a global row_number/sort anywhere would plan Exchange
    // SinglePartition and funnel the corpus into one task
    assert(!p.contains("SinglePartition"),
      s"pipeline stage collapsed to one partition:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"no global sort allowed:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian stage:\n$p")
    // page HTML must never ride a shuffle — the ledger materialization
    // exists precisely so later stages move narrow rows only
    val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
    shuffles.foreach { e =>
      assert(e.output.forall(a => a.name != "html" && a.name != "__html"),
        s"html column in a shuffle row: ${e.output.map(_.name)}")
    }
    assert(out.count() == 60L)
  }

  test("k-means final assignment is pure projection — embeddings never shuffle") {
    // the Lloyd rounds run their (cell, pos) aggregates eagerly inside
    // the call; the RETURNED frame — the plan a caller executes at
    // corpus scale — must be scan → quantize → literal-argmin, nothing
    // else: no exchange, no join, no corpus-wide window
    val out = graft.ops.Similarity.integerKMeans(
      Tables(spark, dir, "embeddings"), "embedding", "vec_id",
      k = 4, rounds = 1)
    val p = plan(out)
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("checksum PII verdicts fuse into one scan projection — no shuffle, no UDF") {
    val out = Tables(spark, dir, "documents").select(
      col("doc_id") +: graft.ops.TextOps.checksumPiiColumns(col("text"))
        .map { case (n, c) => c.as(n) }: _*)
    val p = plan(out)
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    // native Catalyst expressions only (array-HOF lambdas evaluate inside
    // the Project — outside WholeStageCodegen spans, but still a single
    // scan pass with no row broker): no Scala/Python UDF anywhere
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"checksum folds must be native expressions:\n$p")
    assert(p.contains("FileScan parquet") &&
      p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"columns not pruned at the scan:\n$p")
  }

  test("qualityPartition scans the scored ledger a constant number of times across cutoffs") {
    // phase-0 stats + phase-1 bucket weights are cutoff-independent and
    // all K cutoffs resolve against ONE classification, so the RETURNED
    // plan's input-scan count must not grow with the cutoff count (a
    // take per cutoff would scan the ledger once per cutoff)
    def scans(k: Seq[Double]): Int = {
      val out = graft.ops.Sampling.qualityPartition(
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k, nBuckets = 8)
      "FileScan parquet".r
        .findAllIn(out.queryExecution.sparkPlan.toString).size
    }
    val one = scans(Seq(0.5))
    val three = scans(Seq(0.2, 0.5, 0.9))
    assert(three == one,
      s"input scans grew with the cutoff count: 1 cutoff -> $one, " +
        s"3 cutoffs -> $three")
    // base attach + (at most) the one shared straddled-bucket window pass
    assert(one <= 2, s"expected at most 2 ledger scans, got $one")
  }

  test("constant-stratum global takes window ONLY the boundary bucket (q136's shape)") {
    // the `WindowExec: No Partition Defined` warning these plans emit is
    // EXPECTED and benign: takeGlobal passes a literal stratum, so after
    // constant folding the boundary window plans with an empty partition
    // spec — but its input is the ONE straddling md5-prefix bucket
    // (~1/16^hexLen of the corpus), never the corpus. Pinned here via the
    // executed metrics: the classification join feeding the window must
    // pass a small fraction of the input rows.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val docs = Tables(spark, dir, "documents")
    val total = docs.count()
    val out = graft.ops.Sampling.takeGlobal(docs, "doc_id", 137L)
    // collect() executes THIS frame's own QueryExecution — count() would
    // run a separate aggregate plan and leave these metrics untouched
    assert(out.collect().length == 137)
    val windows = allNodes(out.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the boundary-bucket window")
    windows.foreach { w =>
      assert(w.partitionSpec.isEmpty,
        "constant stratum folds to an empty partition spec by design")
      val feed = allNodes(w.child)
        .collectFirst { case j: BroadcastHashJoinExec => j }
      assert(feed.isDefined,
        s"window must consume broadcast-classified boundary rows:\n${w.child}")
      val rows = feed.get.metrics("numOutputRows").value
      assert(rows > 0 && rows <= math.max(64L, total / 16L),
        s"boundary window saw $rows of $total rows — not bucket-bounded")
    }
  }
}
