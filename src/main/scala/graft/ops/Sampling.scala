package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset splitting / sampling / mixing for training-data pipelines.
  *
  * Everything here is DETERMINISTIC and content-keyed: split membership is a
  * pure function of the row's content hash (not of partitioning, row order,
  * or a session seed), so a 100 TB corpus re-splits identically across
  * clusters, re-runs, and engines — the property that keeps train/test
  * contamination impossible when the corpus is re-processed.
  */
object Sampling {

  /** Content-keyed split assignment: the first hex nibble of md5(key) (16
    * uniform buckets) is mapped to named splits by sixteenths. Default
    * 12/2/2 → 75% train, 12.5% val, 12.5% test. Pure projection — no
    * shuffle, no seed, reproducible in any engine with md5.
    */
  def md5Split(
      df: DataFrame,
      keyCol: String,
      splits: Seq[(String, Int)] = Seq("train" -> 12, "val" -> 2, "test" -> 2),
      splitCol: String = "split"): DataFrame = {
    require(splits.map(_._2).sum == 16,
      s"split sixteenths must total 16, got ${splits.map(_._2).sum}")
    val nibble = substring(md5(col(keyCol).cast("binary")), 1, 1)
    val hex = "0123456789abcdef"
    val bounds = splits.scanLeft(0) { case (acc, (_, n)) => acc + n }
    val assignment = splits.zip(bounds).foldLeft(lit(null).cast("string")) {
      case (acc, ((name, n), lo)) =>
        when(nibble.isin(hex.slice(lo, lo + n).map(_.toString): _*), name)
          .otherwise(acc)
    }
    df.withColumn(splitCol, assignment)
  }

  /** LEAKAGE-SAFE train/val/test split: [[md5Split]] keyed on the
    * duplicate-CLUSTER representative instead of the row itself, so a
    * near-duplicate pair can never straddle the split boundary — the
    * classic eval-leakage hole (a test doc whose near-twin sits in train
    * scores as memorization; Lee et al. 2021 "Deduplicating Training Data
    * Makes Language Models Better" §6 measures exactly this) closed at
    * the split, not by deletion.
    *
    * `pairs` is any duplicate-pair frame with endpoint columns
    * `(id_a, id_b)` — the universal currency of the dedup family
    * (minhash, containment, semantic, exact pairs all emit it). The
    * transitive closure runs through [[Dedup.dedupClusters]] (star
    * rounds at scale, the bounded driver union-find on small integral-id
    * graphs), each row joins its min-id representative (unpaired rows
    * represent themselves), and the split nibble hashes the rep RENDERED
    * AS A STRING — engine-portable (`md5(cast(rep AS VARCHAR))`), unlike
    * the raw binary cast of an integral column. Same-cluster rows land
    * in the same split BY CONSTRUCTION; split shares hold at cluster
    * granularity (a giant cluster moves whole — that is the point).
    * Output: the input columns + `rep` + `splitCol`.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      splits: Seq[(String, Int)] = Seq("train" -> 12, "val" -> 2, "test" -> 2),
      splitCol: String = "split"): DataFrame = {
    require(!df.columns.contains("rep"),
      "leakageSafeSplit adds a 'rep' column — rename the existing one first")
    // Fail-loud key guards (the epochShuffle/sizedShardAssignment
    // discipline): the inner join below would silently DROP null-id rows
    // from every split, and k duplicate ids would fan out k× against
    // their label rows — both corrupt split shares without an error.
    // Ids-only probes: a pushdown-friendly limit-1 null scan and one
    // id-column aggregate, trivial next to the closure itself.
    require(df.where(col(idCol).isNull).limit(1).count() == 0L,
      s"leakageSafeSplit: null ids in '$idCol' would vanish from every " +
        "split at the cluster join — assign ids first")
    require(df.groupBy(col(idCol)).count()
      .where(col("count") > 1L).limit(1).count() == 0L,
      s"leakageSafeSplit: duplicate ids in '$idCol' fan out against the " +
        "cluster labels and corrupt split shares — deduplicate ids first")
    val clusters = Dedup.dedupClusters(
      df.select(col(idCol)), idCol, pairs)
      .withColumnRenamed("id", "__lsid")
    val keyed = df
      .join(clusters, col(idCol) === col("__lsid"))
      .drop("__lsid")
      .withColumn("__repkey", col("rep").cast("string"))
    md5Split(keyed, "__repkey", splits, splitCol).drop("__repkey")
  }

  /** Per-stratum Bernoulli sampling (e.g. downsample one language or source
    * to rebalance a corpus): content-keyed via xxhash64(key, stratum) so the
    * decision is per-row deterministic. Rows in strata missing from
    * `fractions` are kept.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val u = (pmod(xxhash64(col(keyCol), col(stratumCol)), lit(1000000L))
      .cast("double") / 1000000.0)
    val keepFraction = fractions.foldLeft(lit(1.0)) { case (acc, (stratum, f)) =>
      when(col(stratumCol) === stratum, f).otherwise(acc)
    }
    df.where(u < keepFraction)
  }

  /** Stratified sampling at md5-nibble granularity: per-stratum keep rate
    * in sixteenths (4 → 25%). Coarser than [[stratifiedSample]]'s 1e-6
    * resolution but reproducible in ANY engine with md5 (the xxhash64
    * variant is Spark-specific), which makes it the oracle-checkable form.
    * Strata absent from `sixteenths` keep all rows. Pure filter — no
    * shuffle, no seed.
    */
  def md5StratifiedSample(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      sixteenths: Map[String, Int]): DataFrame = {
    require(sixteenths.values.forall(n => n >= 0 && n <= 16),
      "per-stratum sixteenths must be in [0, 16]")
    val nibble = conv(
      substring(md5(col(keyCol).cast("binary")), 1, 1), 16, 10).cast("int")
    val rate = sixteenths.foldLeft(lit(16)) { case (acc, (stratum, n)) =>
      when(col(stratumCol) === stratum, n).otherwise(acc)
    }
    // null keys can't hash → keep the row (silently dropping it would
    // contradict the keep-all default for unlisted strata)
    df.where(col(keyCol).isNull || nibble < rate)
  }

  /** Exactly `n` rows per stratum (or all rows in smaller strata),
    * selected deterministically: rank by (md5(key), key) within each
    * stratum and keep the first `n`. Content-keyed like everything here —
    * "take 100 documents per language" returns the same 100 on any
    * cluster, engine, or rerun, unlike a seeded `sample()`. One shuffle
    * (the per-stratum window); the md5 order makes the pick uniform over
    * content, not over arrival order.
    *
    * Determinism REQUIRES a total order: if `keyCol` can repeat within a
    * stratum (e.g. duplicate texts), pass the table's unique id as
    * `tieCol` — without it, the window order among equal keys is
    * engine/partitioning-dependent and reruns may pick different rows.
    */
  def takePerStratum(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      n: Int): DataFrame =
    takePerStratum(df, stratumCol, keyCol, n, tieCol = None)

  def takePerStratum(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      n: Int,
      tieCol: Option[String]): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    // via string: a direct numeric→binary cast is illegal under ANSI mode,
    // and string→binary is the identity for the string keys callers
    // already rely on (same md5, same picks)
    val order = Seq(md5(col(keyCol).cast("string").cast("binary")).asc,
      col(keyCol).asc) ++ tieCol.map(col(_).asc)
    val w = Window.partitionBy(col(stratumCol)).orderBy(order: _*)
    // collision-safe rank column — never overwrite a caller's column
    val rk = freshColumn(df, "__rk")
    df.withColumn(rk, row_number().over(w))
      .where(col(rk) <= n)
      .drop(rk)
  }

  /** Token-BUDGET-capped sampling per stratum — "take ~1 B tokens per
    * source", the budget form of data mixing (fraction-based mixes like
    * [[weightedMix]] cap row COUNTS; training recipes cap TOKENS). Rows
    * are taken in the same engine-portable content-keyed order as
    * [[takePerStratum]] (md5 of the key, then the key) until the stratum's
    * running token total reaches `budget`; the first row that CROSSES the
    * budget is kept (so every non-empty stratum with a positive budget
    * yields at least one row, and the overshoot is bounded by one
    * document). Null token counts count as 0 tokens; counts must be
    * non-negative (a negative count makes the running total non-monotone
    * and would re-admit rows past the cutoff). `keyCol` must identify a
    * row within its stratum (dup keys make the cutoff order, hence the
    * kept set, partitioning-dependent — same caveat as [[takePerStratum]]).
    *
    * Plan shape for 100 TB — two-phase bucket prefix sums, NOT one
    * window per stratum (a per-stratum running sum would sort and scan
    * each stratum's ENTIRE row set in a single task: "take 1 B tokens
    * per source" over ~10 sources would be ~10 straggler tasks sorting
    * TB-scale partitions):
    *
    *   1. the input collapses to a (stratum, key, tokens) ledger — text
    *      never rides any shuffle, no matter what columns the caller
    *      passes — and each row lands in one of `16^bucketHexLen`
    *      md5-prefix buckets. Bucket order refines the row order (the
    *      bucket IS the leading prefix of the sort key), so per-bucket
    *      token sums are contiguous runs of the global cumsum;
    *   2. one map-side-combining aggregate yields the per-(stratum,
    *      bucket) sums — strata × 4096 rows at the default — and the
    *      driver prefix-sums that tiny table to classify each bucket:
    *      strictly below the budget (keep whole bucket — a join-free
    *      filter, no sort, no window), at-or-past it (drop), or THE
    *      boundary bucket (at most one per stratum);
    *   3. the windowed cumsum — the only sort — runs ONLY inside
    *      boundary buckets, ~1/4096 of each stratum, with the bucket's
    *      prefix offset added; the attach back to the caller's rows is
    *      one pass with two BROADCAST lookups (the bucket classification
    *      and the boundary bucket's surviving keys — both small by
    *      construction), so the full rows never shuffle at all.
    *
    * The kept set is IDENTICAL to the one-window form row-for-row; only
    * the plan changes.
    */
  def takeTokenBudget(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      tokensCol: String,
      budget: Long): DataFrame =
    takeTokenBudget(df, stratumCol, keyCol, tokensCol, budget, bucketHexLen = 3)

  /** `bucketHexLen` sets the bucket count (`16^bucketHexLen`): more
    * buckets shrink the boundary window's single task but grow the
    * driver-side classification table (strata × buckets rows — widths
    * that overflow `maxClassificationRows` narrow automatically; the
    * kept set is width-independent).
    */
  def takeTokenBudget(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      tokensCol: String,
      budget: Long,
      bucketHexLen: Int,
      maxClassificationRows: Int = MaxClassificationRows): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    takeBudgets(df, stratumCol, keyCol, col(tokensCol), _ => budget,
      bucketHexLen, maxClassificationRows)
  }

  /** Hard bound on the driver-side bucket-classification table (strata ×
    * 16^bucketHexLen rows at the widest attempted width). 2M rows ≈ low
    * hundreds of MB of Rows — below where the collect would take down the
    * driver. [[takeBudgets]] narrows the bucket width automatically when
    * the requested width would overflow this (more strata ⇒ fewer buckets
    * each — the kept set is width-independent), so the bound only fails a
    * call when the STRATA alone exceed 2M/16 ≈ 125k distinct values —
    * far past mixing-grade (10s-1000s of sources).
    */
  private[ops] val MaxClassificationRows: Int = 2000000

  /** Per-stratum-budget core of [[takeTokenBudget]] (same two-phase
    * bucket-prefix plan; only the driver-side classification consults a
    * per-stratum budget). `budgetOf` receives the stratum value (None for
    * the null stratum); a budget <= 0 drops the stratum entirely.
    * `tokens` is any non-negative long expression — `lit(1L)` turns the
    * token budget into an exact row quota.
    */
  private[ops] def takeBudgets(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      tokens: Column,
      budgetOf: Option[Any] => Long,
      bucketHexLen: Int,
      maxClassificationRows: Int = MaxClassificationRows): DataFrame = {
    require(bucketHexLen >= 1 && bucketHexLen <= 6,
      s"bucketHexLen must be in [1, 6], got $bucketHexLen")
    requireUnreserved(df, "takeBudgets", Seq("__cs", "__cb", "__keep_all",
      "__off", "__budget", "__bs", "__bk", "__in_boundary"))
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = df.sparkSession

    // the narrow ledger: (stratum, key, tokens, md5-prefix bucket) — the
    // ONLY shape that rides a shuffle regardless of the caller's columns.
    // A null key cannot hash: its bucket is null, which sorts FIRST under
    // Spark's ASC NULLS FIRST — the driver prefix below mirrors that.
    def slimAt(h: Int): DataFrame = df.select(
      col(stratumCol).as("__s"),
      col(keyCol).as("__k"),
      coalesce(tokens.cast("long"), lit(0L)).as("__t"),
      substring(md5(col(keyCol).cast("string").cast("binary")), 1, h)
        .as("__b"))

    // phase 1: per-(stratum, bucket) token sums — strata × 16^hexLen rows
    // at most; one map-side-combining aggregate, nothing else moves. The
    // limit bounds driver memory BEFORE anything lands (it admits at most
    // cap + 1 rows, so the guard itself never collects the oversized
    // table). When the requested width overflows — more strata than
    // cap/16^h — degrade to a NARROWER width instead of failing: the kept
    // set is width-independent (buckets only set the boundary window's
    // size), so a 600-source mix at the default width simply gets fewer
    // buckets per stratum. The feasible width comes from ONE per-stratum
    // distinct count (not blind narrowing retries — each retry would
    // re-run the whole upstream lineage); only the overflow path pays the
    // two extra jobs. Fails only when strata alone exceed cap/16 (h = 1
    // always fits below that).
    def sumsAt(h: Int) = slimAt(h).groupBy("__s", "__b")
      .agg(sum("__t").as("__sum"))
      .limit(maxClassificationRows + 1).collect()
    val firstTry = sumsAt(bucketHexLen)
    val (hexLen, bucketSums) =
      if (firstTry.length <= maxClassificationRows) (bucketHexLen, firstTry)
      else {
        val strataCap = maxClassificationRows / 16
        val nStrata = df.select(col(stratumCol)).distinct()
          .limit(strataCap + 1).count()
        require(nStrata <= strataCap,
          s"takeBudgets: stratum '$stratumCol' has more than $strataCap " +
          "distinct values — this API is for mixing-grade strata " +
          "(10s-1000s of sources); aggregate the stratum to a coarser " +
          "key first")
        val h = (bucketHexLen - 1 to 1 by -1).find(h =>
          nStrata * (1L << (4 * h)) <= maxClassificationRows).getOrElse(1)
        val sums = sumsAt(h)
        require(sums.length <= maxClassificationRows,
          s"takeBudgets: classification table still exceeds " +
          s"$maxClassificationRows rows at width $h — coarsen the stratum")
        (h, sums)
      }
    val slim = slimAt(hexLen)

    // driver-side prefix fold in the window's own order (null bucket
    // first, then hex asc — the bucket is the leading prefix of the md5
    // sort key, so bucket order refines row order exactly) with the one
    // cutoff `budget`: a bucket wholly under it keeps every row, one
    // wholly past it keeps none, and the at-most-one straddling bucket per
    // stratum goes through the exact windowed cumsum with its start as
    // offset.
    val clsRows = bucketSums.toSeq
      .groupBy(r => if (r.isNullAt(0)) None else Some(r.get(0)))
      .iterator.flatMap { case (stratum, rows) =>
        val budget = budgetOf(stratum)
        prefixFold(rows.sortBy(r => if (r.isNullAt(1)) "" else r.getString(1))
            .map(r => r -> r.getLong(2)), 0L, Seq(budget))
          .collect {
            case (r, Left(0)) =>
              org.apache.spark.sql.Row(r.get(0), r.get(1), true, 0L, budget)
            case (r, Right(start)) =>
              org.apache.spark.sql.Row(r.get(0), r.get(1), false, start, budget)
          }
      }.toSeq
    val sType = slim.schema("__s").dataType
    val cls = spark.createDataFrame(
      spark.sparkContext.parallelize(clsRows, 1),
      StructType(Seq(
        StructField("__cs", sType, nullable = true),
        StructField("__cb", StringType, nullable = true),
        StructField("__keep_all", BooleanType, nullable = false),
        StructField("__off", LongType, nullable = false),
        StructField("__budget", LongType, nullable = false))))

    // phase 3: the windowed cumsum — the only sort — over boundary-bucket
    // ledger rows only (~1/16^bucketHexLen of one stratum each), with the
    // bucket's prefix offset restoring global semantics. Its surviving
    // keys are a per-stratum slice of ONE bucket — small by construction,
    // hence broadcastable below.
    val w = Window.partitionBy(col("__s"))
      .orderBy(md5(col("__k").cast("string").cast("binary")).asc, col("__k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundaryKeys = slim.join(
        broadcast(cls.where(!col("__keep_all"))),
        col("__s") <=> col("__cs") && col("__b") <=> col("__cb"))
      .withColumn("__cum", sum(col("__t")).over(w))
      .where(col("__off") + col("__cum") - col("__t") < col("__budget"))
      .select(col("__s").as("__bs"), col("__k").as("__bk"),
        lit(true).as("__in_boundary"))

    // attach: ONE pass over the input, two broadcast joins, zero shuffles
    // of the caller's rows — bucket-level classification (tiny) admits
    // whole kept buckets plus the boundary bucket, and the boundary's
    // surviving keys flip per-row membership. Dropped buckets fall out of
    // the inner join. Both lookup sides are 1:1 per row, so multiplicity
    // is preserved. (The input is evaluated once per phase — persist an
    // expensive non-file-backed frame before calling.)
    val bucketOfDf =
      substring(md5(df(keyCol).cast("string").cast("binary")), 1, hexLen)
    df.join(broadcast(cls),
        df(stratumCol) <=> col("__cs") && bucketOfDf <=> col("__cb"))
      .join(broadcast(boundaryKeys),
        df(stratumCol) <=> col("__bs") && df(keyCol) <=> col("__bk"), "left")
      .where(col("__keep_all") || coalesce(col("__in_boundary"), lit(false)))
      .drop("__cs", "__cb", "__keep_all", "__off", "__budget",
        "__bs", "__bk", "__in_boundary")
  }

  /** Per-source (stratum, size, weight^alpha) triples plus the normalizer
    * Z — the shared quota arithmetic of the temperature mixes. `sizes` is
    * the per-source magnitude (row count or token sum) collected from one
    * tiny aggregate; the canonical fold order (null source first, then by
    * name) makes Z the same double on every rerun, and the cross-engine
    * exactness contract is alpha ∈ {1, 0.5} (identity/sqrt — see
    * [[temperatureMix]]'s portability note).
    */
  private def temperatureWeights(
      sizes: Seq[(Option[Any], Long)],
      alpha: Double): (Seq[(Option[Any], Long, Double)], Double) = {
    val weighted = sizes
      .sortBy { case (s, _) => (s.nonEmpty, s.map(_.toString).getOrElse("")) }
      .map { case (s, c) =>
        val w =
          if (alpha == 1.0) c.toDouble // exact
          else if (alpha == 0.5) math.sqrt(c.toDouble) // IEEE-exact
          else math.pow(c.toDouble, alpha)
        (s, c, w)
      }
    (weighted, weighted.foldLeft(0.0)(_ + _._3))
  }

  /** One tiny per-source aggregate of `sizeAgg`, collected driver-side.
    * Guarded like [[takeBudgets]]' classification collect: a
    * high-cardinality source column fails with a contract error before
    * the collect can OOM the driver (the limit admits cap + 1 rows only).
    */
  private def sourceSizes(
      df: DataFrame, sourceCol: String, sizeAgg: Column): Seq[(Option[Any], Long)] = {
    val rows = df.groupBy(col(sourceCol).as("__src")).agg(sizeAgg.as("__c"))
      .limit(MaxClassificationRows + 1).collect()
    require(rows.length <= MaxClassificationRows,
      s"temperature mixing: source column '$sourceCol' exceeds " +
      s"$MaxClassificationRows distinct values — not a mixing-grade " +
      "source key; aggregate to a coarser source first")
    rows.map(r => ((if (r.isNullAt(0)) None
                    else Some(r.get(0))): Option[Any], r.getLong(1)))
      .toSeq
  }

  /** Temperature-scaled source mixing — the multilingual-LM recipe (mT5 /
    * XLM-R style): sampling probabilities follow source SHARES raised to
    * `alpha` (p_s ∝ (c_s/Σc)^alpha), so alpha = 1 reproduces natural
    * proportions and alpha → 0 flattens toward uniform, upsampling the
    * tail sources a proportional mix would starve. Each source keeps
    * exactly `quota_s = min(c_s, round(targetRows · p_s))` rows (no
    * replacement — a quota never exceeds the source's row count, so the
    * realized total can fall short of `targetRows` when small sources
    * saturate), chosen in the engine-portable md5(key) content order of
    * [[takePerStratum]].
    *
    * Plan shape: one tiny per-source count aggregate (map-side combining,
    * sources × 1 rows to the driver), quota arithmetic on the driver, then
    * the [[takeTokenBudget]] two-phase bucket-prefix machinery with
    * per-source quotas and weight-1 tokens — the caller's rows never
    * shuffle and no stratum funnels through a single window task, so the
    * mix holds at 100 TB exactly like the token-budget take.
    *
    * Determinism: quotas are a pure function of the per-source counts
    * (weights summed in source-name order), and membership is a pure
    * function of content — reruns and engines agree. The CROSS-ENGINE
    * portability contract is restricted to alpha ∈ {1, 0.5}: those use
    * IEEE-exact identity/sqrt, so any engine recomputing the quotas from
    * the same counts lands on the same integers. Any other alpha goes
    * through `math.pow`, whose last-ulp behavior is platform-dependent —
    * same-engine reruns still agree, but another engine's pow may differ
    * by one ulp and shift a `round` boundary by one row. Ship alpha ∈
    * {1, 0.5} when downstream consumers hash-compare across engines.
    */
  def temperatureMix(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      alpha: Double,
      targetRows: Long,
      bucketHexLen: Int = 3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    val (weighted, z) = temperatureWeights(
      sourceSizes(df, sourceCol, count(lit(1))), alpha)
    val quotas: Map[Option[Any], Long] = weighted.map { case (s, c, w) =>
      s -> math.min(c, math.round(targetRows * w / z))
    }.toMap
    takeBudgets(df, sourceCol, keyCol, lit(1L),
      quotas.getOrElse(_, 0L), bucketHexLen)
  }

  /** [[temperatureMix]] WITH REPLACEMENT — the form the mT5/XLM-R recipe
    * actually trains with: a source whose temperature quota EXCEEDS its
    * row count repeats its data (tail languages run multiple epochs while
    * head languages are subsampled) instead of saturating at one copy.
    * Each source emits `quota_s div c_s` full copies of every row plus
    * the md5-content-order prefix of `quota_s mod c_s` rows as the last
    * partial copy, so the realized total is exactly `Σ round(N·p_s)`.
    * Output = input columns + `copy` (0-based repeat index — downstream
    * dedup keys must include it, and shuffling repeats into training
    * order is the caller's step).
    *
    * Determinism: quotas are [[temperatureMix]]'s driver arithmetic (same
    * cross-engine contract — exact only at alpha ∈ {1, 0.5}); full copies
    * are a per-row `sequence` explode (no shuffle at all), and the
    * partial copy is the same scale-safe two-phase take. `maxRepeat`
    * bounds the copy factor so a degenerate mix (a tiny source under a
    * huge target) fails loudly instead of exploding the corpus.
    */
  def temperatureMixRepeat(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      alpha: Double,
      targetRows: Long,
      bucketHexLen: Int = 3,
      maxRepeat: Long = 100L): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    require(!df.columns.contains("copy"),
      "temperatureMixRepeat adds a 'copy' column — rename the existing one first")
    val spark = df.sparkSession
    val (weighted, z) = temperatureWeights(
      sourceSizes(df, sourceCol, count(lit(1))), alpha)
    // UNCAPPED quotas: div/mod split each into full copies + a remainder
    val split: Seq[(Option[Any], Long, Long)] = weighted.map { case (s, c, w) =>
      val quota = math.round(targetRows * w / z)
      (s, quota / c, quota % c)
    }
    split.foreach { case (s, k, _) =>
      require(k <= maxRepeat,
        s"temperatureMixRepeat: source ${s.getOrElse("NULL")} would repeat " +
        s"$k times (> maxRepeat $maxRepeat) — a degenerate mix for this " +
        "alpha/target; raise maxRepeat only if that is intended")
    }
    repeatedTake(df, sourceCol, keyCol, split, bucketHexLen)
  }

  /** WITH-REPLACEMENT selection shared by [[temperatureMixRepeat]] and
    * [[takeUniMax]]: each source emits `kf` full copies of every row
    * (per-row generator, zero shuffle) plus the md5-content-order prefix
    * of `rem` rows as the last partial copy (the two-phase take), with a
    * 0-based `copy` index. `split` = (source, kf, rem).
    */
  private def repeatedTake(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      split: Seq[(Option[Any], Long, Long)],
      bucketHexLen: Int,
      weight: Column = lit(1L)): DataFrame = {
    val spark = df.sparkSession
    // per-source copy factor via a tiny BROADCAST lookup (a per-source
    // when-chain would deepen the expression tree linearly in source
    // count and fall out of codegen at 1000s of sources)
    val sType = df.schema(sourceCol).dataType
    val kDf = spark.createDataFrame(
      spark.sparkContext.parallelize(split.map(t =>
        org.apache.spark.sql.Row(t._1.orNull, t._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__ks", sType, nullable = true),
        org.apache.spark.sql.types.StructField("__kf",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val rems: Map[Option[Any], Long] = split.map(t => t._1 -> t._3).toMap
    def withK(frame: DataFrame): DataFrame =
      frame.join(broadcast(kDf), frame(sourceCol) <=> col("__ks"), "left")
    // full copies: a per-row generator, zero shuffle (k = 0 sources emit
    // nothing — the guard keeps sequence() off its descending-step path)
    val fullCopies = withK(df).withColumn("copy",
      explode(when(col("__kf") > 0L, sequence(lit(0L), col("__kf") - 1L))
        .otherwise(array().cast("array<bigint>"))))
      .drop("__ks", "__kf")
    // the partial copy: md5-content-order prefix of the remainder quota
    // (row count at weight 1, token budget with the crossing row kept
    // when a weight column is passed — takeBudgets' rule either way)
    val partial = withK(takeBudgets(df, sourceCol, keyCol, weight,
      rems.getOrElse(_, 0L), bucketHexLen))
      .withColumn("copy", coalesce(col("__kf"), lit(0L)))
      .drop("__ks", "__kf")
    fullCopies.unionByName(partial)
  }

  /** UniMax language sampling (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a row budget UNIFORMLY across sources, capped
    * at `maxEpochs` passes over any source's own data, redistributing a
    * saturated source's leftover uniformly among the rest. The published
    * algorithm IS [[waterfillQuotas]] at EQUAL weights over
    * availabilities `maxEpochs · c_s` (the same BigInt-exact fixpoint),
    * and selection is with replacement ([[repeatedTake]]): a source whose
    * quota exceeds one epoch repeats — `quota div c` full copies plus the
    * md5-content-order prefix of `quota mod c` rows, 0-based `copy`
    * index, so tail languages run multiple epochs while head languages
    * subsample, never more than `maxEpochs` passes. Null sources are
    * excluded (weight 0). If the budget exceeds `maxEpochs` times the
    * corpus, every source saturates at exactly `maxEpochs` full copies —
    * the cap binds, matching the paper. Unsaturated shares are FLOOR
    * divisions (the fixpoint's exact-integer rule), so up to
    * `#unsaturated − 1` rows of the budget stay unallocated rather than
    * being assigned by a tie-break the paper doesn't define.
    *
    * Plan shape: one tiny per-source count aggregate, the driver
    * fixpoint, then a zero-shuffle copy generator + one two-phase take —
    * identical scale character to [[temperatureMixRepeat]].
    */
  def takeUniMax(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      budget: Long,
      maxEpochs: Long,
      bucketHexLen: Int = 3): DataFrame =
    uniMaxCore(df, sourceCol, keyCol, count(lit(1)), lit(1L),
      budget, maxEpochs, bucketHexLen, "takeUniMax")

  /** The shared UniMax allocation + selection behind [[takeUniMax]] (row
    * space: size = count, weight 1) and [[takeUniMaxTokens]] (token
    * space: size = token sum, weight = tokens) — one definition of the
    * equal-weight fixpoint, the null-source exclusion, and the quota
    * div/mod split, so the two budget units cannot drift.
    */
  private def uniMaxCore(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      sizeAgg: Column,
      weight: Column,
      budget: Long,
      maxEpochs: Long,
      bucketHexLen: Int,
      op: String): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require(!df.columns.contains("copy"),
      s"$op adds a 'copy' column — rename the existing one first")
    val sizes = sourceSizes(df, sourceCol, sizeAgg)
    val quotas = waterfillQuotas(
      sizes.map { case (s, c) => (s, maxEpochs * c) },
      s => if (s.isEmpty) 0L else 1L, budget)
    val split = sizes.map { case (s, c) =>
      val q = quotas.getOrElse(s, 0L)
      if (c <= 0L) (s, 0L, 0L) else (s, q / c, q % c)
    }
    repeatedTake(df, sourceCol, keyCol, split, bucketHexLen, weight)
  }

  /** [[takeUniMax]] in TOKEN space — the budget unit the paper states
    * the algorithm in: availabilities are `maxEpochs · tok_s` (per-source
    * token sums, nulls 0), the equal-weight fixpoint allocates token
    * quotas, and each source emits `quota div tok_s` full copies plus a
    * partial copy taken in md5 content order until `quota mod tok_s`
    * tokens with the crossing row KEPT ([[takeTokenBudget]]'s rule, so a
    * positive remainder always yields rows). A source whose token sum is
    * zero contributes nothing (its availability is 0); the floor-share
    * remainder note on [[takeUniMax]] applies unchanged.
    */
  def takeUniMaxTokens(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      tokenCol: String,
      budget: Long,
      maxEpochs: Long,
      bucketHexLen: Int = 3): DataFrame =
    uniMaxCore(df, sourceCol, keyCol,
      sum(coalesce(col(tokenCol).cast("long"), lit(0L))), col(tokenCol),
      budget, maxEpochs, bucketHexLen, "takeUniMaxTokens")

  /** [[temperatureMix]] in TOKEN space — the form the mT5/XLM-R recipe is
    * actually stated in ("sample so each language contributes share^alpha
    * of the TOKEN budget"): sampling probabilities follow per-source token
    * SHARES raised to `alpha`, each source keeps its md5-content-order
    * prefix until `quota_s = min(tok_s, round(targetTokens · p_s))` tokens
    * (crossing row kept, [[takeTokenBudget]]'s rule, so a tiny quota still
    * yields rows; a saturated source keeps everything).
    *
    * Plan shape: one tiny per-source token-sum aggregate (map-side
    * combining), quota arithmetic on the driver, then the two-phase
    * bucket-prefix take — the caller's rows never shuffle and no source
    * funnels through a single window task. Determinism matches
    * [[temperatureMix]] including its portability contract: only alpha ∈
    * {1, 0.5} recompute IEEE-exactly on any engine (weights summed in
    * source-name order, null source first); other alphas ride `math.pow`
    * and may shift a rounding boundary across engines.
    *
    * A corpus whose every row has null/zero tokens has no token shares to
    * mix (Z = 0, every quota would be round(NaN·…) = 0) — that is a
    * caller error and fails loudly rather than silently emptying the
    * result.
    */
  def temperatureMixTokens(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      tokensCol: String,
      alpha: Double,
      targetTokens: Long,
      bucketHexLen: Int = 3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetTokens >= 1, s"targetTokens must be >= 1, got $targetTokens")
    val sizes = sourceSizes(df, sourceCol,
      coalesce(sum(coalesce(col(tokensCol), lit(0L))), lit(0L)))
    val (weighted, z) = temperatureWeights(sizes, alpha)
    require(sizes.isEmpty || z > 0.0,
      "temperatureMixTokens: every source has 0 total tokens (all-null/zero " +
      s"'$tokensCol') — token-share mixing is undefined on a zero-token " +
      "corpus; fix the token column or use temperatureMix (row space)")
    val quotas: Map[Option[Any], Long] = weighted.map { case (s, c, w) =>
      s -> math.min(c, math.round(targetTokens * w / z))
    }.toMap
    takeBudgets(df, sourceCol, keyCol, coalesce(col(tokensCol), lit(0L)),
      quotas.getOrElse(_, 0L), bucketHexLen)
  }

  /** Temperature-scaled mixing FILLED BY QUALITY — [[temperatureMix]]'s
    * per-source quotas (`quota_s = min(c_s, round(targetRows · p_s))`,
    * p_s ∝ share^alpha) taken in `(scoreCol DESC nulls last, md5(key),
    * key)` order instead of md5 content order: "mix to temperature,
    * keeping each source's BEST documents" — the quality-aware form of
    * the multilingual recipe (a content-keyed mix admits a uniform
    * sample of each source; real pipelines fill the quota from the top
    * of the quality distribution). Quota arithmetic, determinism, and
    * the alpha ∈ {1, 0.5} cross-engine contract are [[temperatureMix]]'s
    * verbatim; the selection plan, exactness, tie order, and
    * evaluated-once-per-phase contract are [[takeTopFraction]]'s (no
    * source is ever sorted whole, discrete scores ride the run/tie
    * path).
    */
  def temperatureMixTopQuality(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      scoreCol: String,
      alpha: Double,
      targetRows: Long,
      nBuckets: Int = 64,
      maxClassificationRows: Int = MaxClassificationRows,
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    // quota arithmetic runs over the labeler's OWN phase-0 per-source
    // counts — a separate sourceSizes aggregate would be an identical
    // second pass over the input
    takeScoreTop(df, sourceCol, keyCol, scoreCol, lit(1L),
      counts => {
        val (weighted, z) = temperatureWeights(counts, alpha)
        weighted.map { case (s, c, w) =>
          s -> math.min(c, math.round(targetRows * w / z))
        }.toMap
      },
      nBuckets, maxClassificationRows, maxBoundaryTaskRows)._1
  }

  /** Exact integer waterfill allocation: split `budget` units across
    * strata in proportion to integer `weights`, REDISTRIBUTING the share a
    * stratum cannot absorb (its availability `a_s` is smaller than its
    * proportional cut) to the unsaturated strata, again proportionally —
    * the classic waterfilling fixpoint, the allocation rule behind "hit a
    * 1 B-token budget at these mixture ratios even when small sources run
    * dry" (the gap [[temperatureMix]]'s `min(c, quota)` leaves open: there
    * a saturated source just under-fills the total).
    *
    * All arithmetic is BigInt-exact: a stratum saturates iff
    * `a_s · W_unsat <= w_s · remaining` (the cross-multiplied form of
    * "its full availability fits inside its provisional share"), rounds
    * of simultaneous saturation repeat until the fixpoint (≤ #strata
    * passes — the saturated set of the real-valued relaxation is unique
    * and this monotone closure reaches exactly it), and every unsaturated
    * stratum finally gets `floor(w_s · remaining / W_unsat)`. Totals:
    * `Σ quota = min(budget, Σ a_s)` up to the final floors (each floor
    * loses < 1 unit). Zero-weight strata get 0 (explicit exclusion);
    * zero-availability strata saturate at 0. Deterministic and
    * engine-free: a pure function of the (avail, weight, budget)
    * integers, re-derivable by any engine (the oracle replays it as a
    * recursive SQL fixpoint).
    */
  def waterfillQuotas(
      avail: Seq[(Option[Any], Long)],
      weightOf: Option[Any] => Long,
      budget: Long): Map[Option[Any], Long] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val entries = avail.map { case (s, a) =>
      require(a >= 0, s"negative availability $a for stratum $s")
      val w = weightOf(s)
      require(w >= 0, s"negative weight $w for stratum $s")
      (s, BigInt(a), BigInt(w))
    }
    require(entries.map(_._1).distinct.length == entries.length,
      "duplicate strata in avail")
    var sat = Map.empty[Option[Any], BigInt]
    var changed = true
    while (changed) {
      val rem = BigInt(budget) - sat.values.sum
      val unsat = entries.filterNot(e => sat.contains(e._1))
      val wu = unsat.map(_._3).sum
      if (wu == 0) changed = false
      else {
        val newly = unsat.filter { case (_, a, w) => a * wu <= w * rem }
        if (newly.isEmpty) changed = false
        else sat ++= newly.map { case (s, a, _) => s -> a }
      }
    }
    val rem = BigInt(budget) - sat.values.sum
    val wu = entries.filterNot(e => sat.contains(e._1)).map(_._3).sum
    entries.map { case (s, _, w) =>
      s -> sat.getOrElse(s, if (wu == 0) BigInt(0) else w * rem / wu).toLong
    }.toMap
  }

  private def waterfillLookup(
      weights: Map[String, Long]): Option[Any] => Long = {
    case None => 0L
    case Some(v) =>
      val k = v.toString
      require(weights.contains(k),
        s"waterfill: stratum '$k' has no weight — every non-null stratum " +
          "needs an explicit entry (use 0 to exclude)")
      weights(k)
  }

  /** Row-budget waterfill mix: exactly [[waterfillQuotas]]' allocation of
    * `budget` ROWS across the values of `sourceCol` (weights keyed by the
    * source rendered as a string; null sources are excluded at weight 0),
    * each source keeping its quota in the engine-portable md5(key)
    * content order. One tiny per-source count aggregate + the
    * [[takeBudgets]] two-phase bucket-prefix machinery — the corpus never
    * globally sorts and no source funnels into a single window task, so
    * the mix holds at 100 TB like every take in this module.
    */
  def takeWaterfillMix(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      weights: Map[String, Long],
      budget: Long,
      bucketHexLen: Int = 3): DataFrame = {
    val quotas = waterfillQuotas(
      sourceSizes(df, sourceCol, count(lit(1))),
      waterfillLookup(weights), budget)
    takeBudgets(df, sourceCol, keyCol, lit(1L),
      quotas.getOrElse(_, 0L), bucketHexLen)
  }

  /** TOKEN-budget waterfill mix: the allocation of [[takeWaterfillMix]]
    * run in token space — availabilities are per-source token sums (nulls
    * count 0), quotas are token budgets, and each source keeps the
    * md5-content-order prefix until its quota with the crossing row KEPT
    * ([[takeTokenBudget]]'s rule), so every source with a positive quota
    * keeps at least one row. "Fill 1 B tokens at these ratios, spilling
    * dry sources' shares to the rest" as one exact, rerun-stable take.
    */
  def takeWaterfillTokens(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      tokenCol: String,
      weights: Map[String, Long],
      budget: Long,
      bucketHexLen: Int = 3): DataFrame = {
    val quotas = waterfillQuotas(
      sourceSizes(df, sourceCol,
        sum(coalesce(col(tokenCol).cast("long"), lit(0L)))),
      waterfillLookup(weights), budget)
    takeBudgets(df, sourceCol, keyCol, col(tokenCol),
      quotas.getOrElse(_, 0L), bucketHexLen)
  }

  /** Fixed-point scale for [[doremiWeights]]: weights live on the integer
    * lattice `[0, 10^12]` (a scale-S weight of `10^12` is probability 1),
    * losses and the step size in integer MICRO-nats — the learned-filter
    * micro-nat discipline applied to the mixture-weight recursion, so the
    * whole optimization is exact integer arithmetic and hashes bit-exact
    * cross-engine.
    */
  val DoremiScale: Long = 1000000000000L

  /** Caps on the driver-side loss table behind [[doremiWeights]] — the
    * collect is (steps × domains) rows, so both axes fail loudly past
    * mixing grade (the [[takeBudgets]] classification-table discipline).
    */
  val MaxDoremiDomains: Int = 4096
  val MaxDoremiSteps: Int = 65536

  /** DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing Data
    * Mixtures Speeds Up Language Model Pretraining"), the DATA-ENGINE
    * half: given per-(step, domain) proxy- and reference-model losses,
    * run the Group-DRO mixture-weight recursion and return the
    * time-averaged domain weights the paper feeds back into sampling.
    * The multiplicative update uses the CLASSIC multiplicative-weights
    * factor `(1 + η·λ)` (Arora, Hazan & Kale 2012, "The Multiplicative
    * Weights Update Method") in place of the paper's `exp(η·λ)` — its
    * first-order form — because `1 + η·λ` is exact on the integer
    * lattice, so the recursion is reproducible bit-for-bit on any engine
    * (libm `exp` is not correctly rounded, and one ulp at a `floor`
    * boundary would fork the hash). The recursion, all divisions FLOOR
    * on non-negative integers (S = [[DoremiScale]], K = domain count,
    * T = step count, steps iterated in ascending order):
    *
    *   λ_t[s]  = max(0, ⌊Σ_rows(proxy − ref) / n_rows⌋)   (per step t, domain s; absent → 0)
    *   u_t[s]  = ⌊w_{t-1}[s] · (S + η_micro · λ_t[s]) / S⌋         (update)
    *   n_t[s]  = ⌊u_t[s] · S / Σ_s u_t[s]⌋                         (normalize)
    *   w_t[s]  = ⌊(S − c) · n_t[s] / S⌋ + ⌊c / K⌋                  (smooth, c = smoothMicro·10^6)
    *   w_{-1}[s] = ⌊S / K⌋
    *   weight[s] = ⌊Σ_{t=0}^{T-1} w_t[s] / T⌋                      (the paper's time average)
    *
    * Defaults are the paper's: η = 1 (`etaMicro` 10^6), smoothing
    * c = 10^-3 (`smoothMicro` 1000). Per-(step, domain) excess loss is
    * the clamped mean of the per-row difference — one floor, and the
    * clamp-before-divide keeps every division non-negative, where BigInt
    * truncation and SQL floor division agree. Null domains are excluded
    * (they are not a mixable stratum); losses are integer micro-nats
    * (`round(loss · 10^6)` at the caller).
    *
    * Plan shape for 100 TB: ONE map-side-combining (step, domain)
    * aggregate over the loss log — (T × K) rows to the driver, capped
    * loudly — then the whole recursion is driver-side BigInt over that
    * tiny table (the [[waterfillQuotas]] fixpoint discipline). The loss
    * log itself never shuffles anything wider than (step, domain, diff).
    *
    * Returns (domain string form, scale-S weight) sorted by domain name —
    * feed into [[takeDoremiMix]] or persist as the mixture config.
    */
  def doremiWeights(
      losses: DataFrame,
      stepCol: String,
      domainCol: String,
      proxyCol: String,
      refCol: String,
      etaMicro: Long = 1000000L,
      smoothMicro: Long = 1000L): Seq[(String, Long)] = {
    require(etaMicro >= 0, s"etaMicro must be >= 0, got $etaMicro")
    require(smoothMicro >= 0 && smoothMicro <= 1000000L,
      s"smoothMicro must be in [0, 10^6], got $smoothMicro")
    val rows = losses
      .filter(col(domainCol).isNotNull)
      .groupBy(col(stepCol).as("__t"), col(domainCol).cast("string").as("__d"))
      .agg(
        sum(col(proxyCol).cast("long") - col(refCol).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
      .limit(MaxClassificationRows + 1)
      .collect()
    require(rows.length <= MaxClassificationRows,
      "doremiWeights: loss table exceeds the driver-side cap of " +
        s"$MaxClassificationRows (steps × domains) rows — aggregate to " +
        "coarser steps/domains first")
    val lam: Map[(Any, String), BigInt] = rows.map { r =>
      // an all-null (proxy − ref) group sums to SQL null — no measured
      // excess, same as absent: λ = 0
      val s = if (r.isNullAt(2)) BigInt(0) else BigInt(r.getLong(2))
      val n = BigInt(r.getLong(3))
      (r.get(0), r.getString(1)) -> (if (s > 0) s / n else BigInt(0))
    }.toMap
    val domains = rows.map(_.getString(1)).distinct.sorted.toSeq
    // ascending step order, numeric when the step is numeric (a string
    // sort would put step "10" before "2" and silently permute the
    // recursion) — matching the SQL engines' native ORDER BY
    val steps = rows.map(r => r.get(0)).distinct.sortBy {
      case n: java.lang.Number => (0, BigDecimal(n.toString), "")
      case s: String => (1, BigDecimal(0), s)
      case other => (2, BigDecimal(0), String.valueOf(other))
    }.toSeq
    require(domains.nonEmpty, "doremiWeights: no non-null domains in the loss table")
    require(domains.length <= MaxDoremiDomains,
      s"doremiWeights: ${domains.length} domains exceed $MaxDoremiDomains")
    require(steps.length <= MaxDoremiSteps,
      s"doremiWeights: ${steps.length} steps exceed $MaxDoremiSteps")
    val bigS = BigInt(DoremiScale)
    val k = BigInt(domains.length)
    val c = BigInt(smoothMicro) * BigInt(1000000L)
    var w: Map[String, BigInt] = domains.map(_ -> bigS / k).toMap
    var acc: Map[String, BigInt] = domains.map(_ -> BigInt(0)).toMap
    steps.foreach { t =>
      val u = domains.map { d =>
        d -> w(d) * (bigS + BigInt(etaMicro) *
          lam.getOrElse((t, d), BigInt(0))) / bigS
      }.toMap
      val z = u.values.sum
      val wt = domains.map { d =>
        d -> ((bigS - c) * (u(d) * bigS / z) / bigS + c / k)
      }.toMap
      w = wt
      acc = domains.map(d => d -> (acc(d) + wt(d))).toMap
    }
    val bigT = BigInt(steps.length.max(1))
    domains.map(d => d -> (acc(d) / bigT).toLong)
  }

  /** Resample a corpus to learned DoReMi weights: each domain keeps
    * `quota_s = min(c_s, ⌊budget · weight_s / S⌋)` rows (S =
    * [[DoremiScale]] — the paper resamples to the averaged weights with
    * no replacement and no redistribution, unlike the waterfill family)
    * in the engine-portable md5(key) content order. A domain absent from
    * `weights`, or a null domain, keeps nothing.
    *
    * Plan shape: quota arithmetic on the driver over the [[sourceSizes]]
    * count table, then the [[takeBudgets]] two-phase bucket-prefix take —
    * the corpus never globally sorts and no domain funnels through a
    * single window task.
    */
  def takeDoremiMix(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      weights: Seq[(String, Long)],
      budget: Long,
      bucketHexLen: Int = 3): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    weights.foreach { case (d, ws) =>
      require(ws >= 0 && ws <= DoremiScale,
        s"takeDoremiMix: weight $ws for domain '$d' outside [0, $DoremiScale]")
    }
    val wMap = weights.toMap
    require(wMap.size == weights.length, "takeDoremiMix: duplicate domains in weights")
    val quota: Option[Any] => Long = {
      case None => 0L
      case Some(v) =>
        val w = BigInt(wMap.getOrElse(v.toString, 0L))
        (BigInt(budget) * w / BigInt(DoremiScale)).toLong
    }
    takeBudgets(df, sourceCol, keyCol, lit(1L), quota, bucketHexLen)
  }

  /** EXACT top-fraction quality filter per stratum — "keep the best 25%
    * of each source by score", the percentile form of quality filtering
    * (Gopher/CCNet-style): each stratum keeps its `round(fraction · c_s)`
    * highest-`scoreCol` rows in `(score DESC nulls last, md5(key), key)`
    * order — ties at the cutoff break in the same engine-portable md5
    * content order every other take in this module uses (`keyCol` must
    * identify a row within its stratum — the usual total-order caveat).
    * The kept set is EXACT — identical to a per-stratum `row_number` over
    * that order — but the plan never sorts a whole stratum in one task.
    *
    * It is the one-cutoff use of the score-ordered prefix labeler behind
    * every take in this family ([[takeTopTokenBudget]],
    * [[temperatureMixTopQuality]], the `takeGlobal*Top*` forms and
    * [[qualityPartition]]). The labeler gives each row the index of the
    * first cutoff its stratum's running weight-before-row falls under
    * (here one cutoff, the budget, and the rows labelled 0 are kept):
    *
    *   1. one aggregate computes per-stratum counts + approximate score
    *      quantiles (the bucket BOUNDARIES — their accuracy affects only
    *      load balance, never the labels). The bucket count SELF-SIZES:
    *      when the largest stratum would average more than
    *      `maxBoundaryTaskRows` rows per bucket, the quantiles are
    *      recomputed once at a finer width (≤ 4096), so a continuous
    *      score's boundary bucket fits one task up to ~4096 ×
    *      maxBoundaryTaskRows (≈ 8B) rows per stratum;
    *   2. rows land in score-range buckets (a broadcast boundary join +
    *      one codegen array fold), and one map-side-combining aggregate
    *      yields each (stratum, bucket)'s weight and row count;
    *   3. the driver folds that tiny table in descending score order:
    *      a bucket no cutoff falls inside gets one label for all its rows
    *      (a broadcast lookup, no window), and each straddled bucket
    *      resolves by a strategy chosen from its measured row count —
    *      within `maxBoundaryTaskRows` (default 2M ledger rows) the exact
    *      cumsum window runs over it directly; an OVERSIZED one (a tie-dense
    *      score collapsing the quantile boundaries) runs the same prefix
    *      over its DISTINCT scores in a Spark window, and only the score
    *      RUNS a cutoff falls inside come to the driver — within a tied
    *      score the order is the md5 content order, so each splits into
    *      md5 sub-buckets, folded on the driver, with the
    *      straddled sub-buckets (~1/16³ of their run) taking the only
    *      window. A binary quality flag, whose tie run is half the
    *      stratum, never funnels a stratum into one task, and strata
    *      choose their strategy independently;
    *   4. labels attach back through broadcast lookups only — the
    *      caller's rows never shuffle.
    *
    * Rerun-deterministic even though the quantile sketch is not: the kept
    * set is a pure function of `(score, md5(key), key)` order and exact
    * weights; boundaries only move rows between the join-free and windowed
    * paths. A stratum whose budget rounds to 0 is dropped entirely.
    *
    * Scores are compared AS DOUBLES: integral scores beyond ±2^53 (or
    * decimals finer than double precision) collapse to ties broken by
    * content order — keep quality scores inside double range (every
    * practical count/ratio signal is).
    *
    * The input is evaluated once per phase (stats, bucket weights, run
    * classification, and each attach arm) — persist an expensive
    * non-file-backed frame before calling, or the exact-kept-set
    * guarantee rests on the frame being deterministic.
    *
    * STRATA-CARDINALITY contract: phase 0's stats rows each carry an
    * (nBuckets−1)-double quantile array, so the strata cap is
    * byte-honest — `max(1024, maxClassificationRows / nBuckets)`
    * distinct strata (≈31k at the default 64 buckets, 1024 at 4096). A
    * higher-cardinality stratum column (e.g. raw URL domains) fails
    * loudly rather than risk a tens-of-GB driver collect — aggregate to a
    * coarser stratum, or raise `maxClassificationRows` deliberately if
    * the driver heap is provisioned for it. The straddled runs (at most
    * one per stratum and cutoff) and their sub-bucket table are bounded
    * by `maxClassificationRows` too.
    *
    * [[takeTopFractionWithStats]] additionally returns per-stratum
    * boundary/tie skew telemetry. Internal column names the plan joins
    * onto the input (`__db`, `__cs`, …) are refused up front.
    */
  def takeTopFraction(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      scoreCol: String,
      fraction: Double,
      nBuckets: Int = 64,
      maxClassificationRows: Int = MaxClassificationRows,
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows): DataFrame =
    takeTopFractionWithStats(
      df, stratumCol, keyCol, scoreCol, fraction, nBuckets,
      maxClassificationRows, maxBoundaryTaskRows)._1

  /** [[takeTopFraction]] plus the per-stratum [[TopTakeStratumStats]]
    * skew telemetry (free — phase-1/2 classification data).
    */
  def takeTopFractionWithStats(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      scoreCol: String,
      fraction: Double,
      nBuckets: Int = 64,
      maxClassificationRows: Int = MaxClassificationRows,
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows)
      : (DataFrame, Seq[TopTakeStratumStats]) = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"fraction must be in (0, 1], got $fraction")
    takeScoreTop(df, stratumCol, keyCol, scoreCol, lit(1L),
      counts => counts.map { case (s, c) =>
        s -> math.round(fraction * c)
      }.toMap,
      nBuckets, maxClassificationRows, maxBoundaryTaskRows)
  }

  /** Quality-ORDERED token budget per stratum — "fill each source's 1 B
    * token budget with its highest-quality documents": rows are taken in
    * `(scoreCol DESC nulls last, md5(key), key)` order until the
    * stratum's running `tokensCol` total reaches `budget`, with the
    * crossing row kept ([[takeTokenBudget]]'s rule at score order instead
    * of content order). Null token counts count as 0. Same exactness,
    * tie-order, plan, and evaluated-once-per-phase contract as
    * [[takeTopFraction]] — the same labeler with TOKEN weights: identical
    * to the naive per-stratum window, but no stratum is ever sorted whole.
    */
  def takeTopTokenBudget(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      scoreCol: String,
      tokensCol: String,
      budget: Long,
      nBuckets: Int = 64,
      maxClassificationRows: Int = MaxClassificationRows,
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows): DataFrame =
    takeTopTokenBudgetWithStats(
      df, stratumCol, keyCol, scoreCol, tokensCol, budget, nBuckets,
      maxClassificationRows, maxBoundaryTaskRows)._1

  /** [[takeTopTokenBudget]] plus the per-stratum [[TopTakeStratumStats]]
    * skew telemetry (weights are TOKENS here, not rows).
    */
  def takeTopTokenBudgetWithStats(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      scoreCol: String,
      tokensCol: String,
      budget: Long,
      nBuckets: Int = 64,
      maxClassificationRows: Int = MaxClassificationRows,
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows)
      : (DataFrame, Seq[TopTakeStratumStats]) = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    takeScoreTop(df, stratumCol, keyCol, scoreCol,
      coalesce(col(tokensCol).cast("long"), lit(0L)),
      counts => counts.map { case (s, _) => s -> budget }.toMap,
      nBuckets, maxClassificationRows, maxBoundaryTaskRows)
  }

  /** Boundary-bucket rows above which the score-ordered takes switch from
    * the direct one-task boundary window to the run/tie classification
    * path (see [[takeTopFraction]] step 3). 2M narrow ledger rows ≈ a
    * hundred MB in one sort task — the comfortable ceiling; a tie-dense
    * score blows far past it and routes through the scale-safe machinery.
    */
  val MaxBoundaryTaskRows: Long = 2000000L

  /** Per-stratum skew telemetry from the score-ordered takes
    * ([[takeTopFractionWithStats]] / [[takeTopTokenBudgetWithStats]]):
    * how much of the stratum's weight (rows for the fraction take, tokens
    * for the budget take) landed in the score-range boundary bucket, and
    * how much of the stratum is tied exactly AT the cutoff score.
    * `boundaryShare` near 1/nBuckets is healthy; a large `tieShare` means
    * the score is discrete at the cutoff (a binary quality flag shows
    * ~0.5 here) — exact either way, the tie region rides the md5
    * sub-bucket path, so this is load-balance visibility, not a
    * correctness signal. Strata with no boundary bucket (budget ≥ total
    * or budget 0) report 0 for both; `tieWeight` is measured only when
    * the run/tie path engaged (a boundary bucket over
    * `maxBoundaryTaskRows`) — direct-windowed buckets report 0 there.
    */
  final case class TopTakeStratumStats(
      stratum: Option[Any],
      totalWeight: Long,
      boundaryWeight: Long,
      tieWeight: Long) {
    def boundaryShare: Double =
      if (totalWeight <= 0L) 0.0 else boundaryWeight.toDouble / totalWeight
    def tieShare: Double =
      if (totalWeight <= 0L) 0.0 else tieWeight.toDouble / totalWeight
  }

  /** How many elements of the ascending array `sorted` are <= `x`: a
    * score's bucket among quantile boundaries, and a running weight's
    * label among cutoffs — one codegen array fold either way.
    */
  private def countAtOrBelow(x: Column, sorted: Column): Column =
    aggregate(sorted, lit(0), (acc, b) => acc + when(x >= b, 1).otherwise(0))

  /** Refuse a caller column that shares a name with an internal column
    * an op materializes on or joins against the caller's frame — it would
    * be silently clobbered or dropped.
    */
  private def requireUnreserved(
      df: DataFrame, op: String, reserved: Seq[String]): Unit = {
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"$op: input columns ${clash.mkString(", ")} collide with reserved " +
      "internal names — rename them first")
  }

  /** `base`, else `base1`, `base2`, … — the first name `df` does not have. */
  private def freshColumn(df: DataFrame, base: String): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(!df.columns.contains(_)).get

  /** The driver-side prefix fold of the bucket and sub-bucket levels (the
    * run level applies the same rule in a Spark window) and of
    * [[takeBudgets]].
    * `groups` are (group, weight) in row order; the running weight starts
    * at `start`. A row's label is the number of `cutoffs` at or below its
    * running weight-before-row — for ascending cutoffs, the index of the
    * first one it falls under. A group whose rows all share a label
    * (`label(s) == label(s + w)`: the label is monotone and every
    * weight-before-row lies in `[s, s + w]`, zero weights included) folds
    * to `Left(label)`; one a cutoff falls inside to `Right(s)`, its
    * starting running weight, for the next level down to resolve.
    */
  private def prefixFold[G](
      groups: Seq[(G, Long)],
      start: Long,
      cutoffs: Seq[Long]): Seq[(G, Either[Int, Long])] = {
    def label(before: Long): Int = cutoffs.count(_ <= before)
    var at = start
    groups.map { case (g, w) =>
      val s = at
      at += w
      val l = label(s)
      g -> (if (l == label(s + w)) Left(l) else Right(s))
    }
  }

  /** [[scoreLabels]] at one cutoff per stratum, keeping the rows under
    * it: the take every score-ordered K=1 entry point shares.
    * `budgetsOf` maps phase 0's per-stratum row counts to the budgets.
    */
  private def takeScoreTop(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      scoreCol: String,
      weight: Column,
      budgetsOf: Seq[(Option[Any], Long)] => Map[Option[Any], Long],
      nBuckets: Int,
      maxClassificationRows: Int,
      maxBoundaryTaskRows: Long): (DataFrame, Seq[TopTakeStratumStats]) = {
    val (labeled, stats) = scoreLabels(df, stratumCol, keyCol, scoreCol,
      weight, 1, budgetsOf(_).map { case (s, b) => s -> Seq(b) },
      nBuckets, maxClassificationRows, maxBoundaryTaskRows, "top-by-score take")
    (labeled.where(col(ScoreLabel) === 0).drop(ScoreLabel), stats)
  }

  /** The label column [[scoreLabels]] adds; every other name here is an
    * internal column it joins onto the caller's frame and drops again.
    */
  private val ScoreLabel = "__label"
  private val ScoreLabelInternals = Seq("__bs", "__bounds", "__db", "__cs",
    "__cb", "__cl", "__rs", "__rv", "__rl", "__ss", "__sv", "__sb", "__sl",
    "__ks", "__kk", "__kl")

  /** The one score-ordered prefix labeler (see [[takeTopFraction]] for
    * the plan and its contracts): adds [[ScoreLabel]], per row the number
    * of its stratum's `k` ascending cutoffs at or below the stratum's
    * running `weight` before the row, in `(score DESC nulls last,
    * md5(key), key)` order — the index of the first cutoff the row falls
    * under, `k` under none. `weight` is non-negative (`lit(1)` counts
    * rows); `cutoffsOf` maps phase 0's per-stratum row counts to each
    * stratum's cutoffs, so quota arithmetic that needs every stratum's
    * size costs no second pass. A stratum it leaves out labels every row
    * `k`. The stats are per stratum: total weight, the weight of the
    * straddled buckets and of the straddled score runs. `op` names the
    * caller in error messages.
    */
  private def scoreLabels(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      scoreCol: String,
      weight: Column,
      k: Int,
      cutoffsOf: Seq[(Option[Any], Long)] => Map[Option[Any], Seq[Long]],
      nBuckets: Int,
      maxClassificationRows: Int,
      maxBoundaryTaskRows: Long,
      op: String): (DataFrame, Seq[TopTakeStratumStats]) = {
    requireUnreserved(df, op, ScoreLabel +: ScoreLabelInternals)
    require(nBuckets >= 2 && nBuckets <= 4096,
      s"nBuckets must be in [2, 4096], got $nBuckets")
    require(maxBoundaryTaskRows >= 1,
      s"maxBoundaryTaskRows must be >= 1, got $maxBoundaryTaskRows")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    def stratumOf(r: Row): Option[Any] = if (r.isNullAt(0)) None else Some(r.get(0))
    // driver-built lookup tables: one partition, broadcast wherever used
    def table(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) }))
    val sType = df.select(col(stratumCol)).schema.head.dataType

    // phase 0: per-stratum counts + approx quantile boundaries
    // (ascending). The strata cap is BYTE-honest, not row-honest: each
    // stats row carries an (n-1)-double quantile array, so the cap scales
    // down with the bucket count — floored so mixing-grade strata
    // (10s–1000s) always fit.
    def phase0(n: Int): Array[Row] = {
      val statCap = math.max(1024, maxClassificationRows / math.max(2, n))
      val probs = (1 until n).map(_.toDouble / n)
      val rows = df.groupBy(col(stratumCol).as("__s"))
        .agg(
          count(lit(1)).as("__c"),
          percentile_approx(col(scoreCol).cast("double"),
            lit(probs.toArray), lit(1000)).as("__bounds"))
        .limit(statCap + 1).collect()
      require(rows.length <= statCap,
        s"$op: stratum '$stratumCol' exceeds $statCap " +
        s"distinct values (the quantile-stats byte budget at $n buckets) " +
        "— aggregate to a coarser stratum first")
      rows
    }
    // SELF-SIZING: when the largest stratum would average more than
    // maxBoundaryTaskRows rows per bucket, re-run ONCE at a finer width
    // (2× margin for sketch error, capped at 4096) so a CONTINUOUS score's
    // boundary bucket fits the direct one-task window
    val firstStats = phase0(nBuckets)
    val maxCount = firstStats.iterator.map(_.getLong(1)).maxOption.getOrElse(0L)
    val statRows =
      if (nBuckets == 4096 || maxCount / nBuckets <= maxBoundaryTaskRows) firstStats
      else phase0(math.min(4096L, math.max(nBuckets.toLong,
        2L * (maxCount / maxBoundaryTaskRows + 1L))).toInt)
    if (statRows.isEmpty) return (df.withColumn(ScoreLabel, lit(k)), Seq.empty)
    val cutoffs = cutoffsOf(statRows.toSeq.map(r => stratumOf(r) -> r.getLong(1)))
    def cutsOf(s: Option[Any]): Seq[Long] = cutoffs.getOrElse(s, Seq.fill(k)(0L))
    val boundsDf = table(statRows.toSeq.map(r => Row(r.get(0), r.get(2))),
      "__bs" -> sType, "__bounds" -> ArrayType(DoubleType))
    // bucket(score) = number of quantile boundaries <= score; null scores
    // sit below every bucket (-1); an all-null stratum buckets to 0
    def bucketOf(score: Column): Column = when(score.isNull, lit(-1)).otherwise(
      countAtOrBelow(score, coalesce(col("__bounds"), array().cast("array<double>"))))

    // phase 1: per-(stratum, bucket) weights AND row counts — strata ×
    // nBuckets at most (the row count picks the straddled strategy)
    val slim = df.select(
      col(stratumCol).as("__s"), col(keyCol).as("__k"),
      col(scoreCol).cast("double").as("__v"), weight.as("__t"))
      .join(broadcast(boundsDf), col("__s") <=> col("__bs"), "left")
      .withColumn("__b", bucketOf(col("__v")))
      .select(col("__s"), col("__k"), col("__v"), col("__t"), col("__b"))
    val bucketRows = slim.groupBy("__s", "__b")
      .agg(sum("__t").as("__n"), count(lit(1)).as("__rc"))
      .limit(maxClassificationRows + 1).collect()
    require(bucketRows.length <= maxClassificationRows,
      s"$op: stratum × bucket classification exceeds " +
      s"$maxClassificationRows rows — lower nBuckets or coarsen the stratum")
    // bucket level: per stratum, DESCENDING bucket order (highest scores first)
    val buckets = bucketRows.toSeq.groupBy(stratumOf).toSeq.flatMap { case (s, rows) =>
      prefixFold(rows.sortBy(-_.getInt(1)).map(r => r -> r.getLong(2)), 0L, cutsOf(s))
    }
    val straddled = buckets.collect { case (r, Right(start)) => (r, start) }
    val (direct, oversized) = straddled.partition(_._1.getLong(3) <= maxBoundaryTaskRows)

    // the exact cumsum — the only ledger sort — inside groups a fold left
    // straddled, each from its fold start (`__off`, with the stratum's
    // `__cuts`); only rows under some cutoff come back, keyed for the attach
    def windowLabels(ledger: DataFrame, group: Column*): DataFrame = {
      val w = Window.partitionBy(group: _*)
        .orderBy(col("__v").desc_nulls_last,
          md5(col("__k").cast("string").cast("binary")).asc, col("__k").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ledger.withColumn("__cum", sum(col("__t")).over(w))
        .withColumn("__kl",
          countAtOrBelow(col("__off") + col("__cum") - col("__t"), col("__cuts")))
        .where(col("__kl") < k)
        .select(col("__s").as("__ks"), col("__k").as("__kk"), col("__kl"))
    }
    val cutsType = ArrayType(LongType)
    val windowed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // straddled buckets that fit one task window directly, zero extra jobs
    if (direct.nonEmpty) {
      val cls = table(direct.map { case (r, start) =>
          Row(r.get(0), r.getInt(1), start, cutsOf(stratumOf(r))) },
        "__cs" -> sType, "__cb" -> IntegerType, "__off" -> LongType, "__cuts" -> cutsType)
      windowed += windowLabels(slim.join(broadcast(cls),
        col("__s") <=> col("__cs") && col("__b") === col("__cb")), col("__s"), col("__b"))
    }

    // run level: an oversized straddled bucket's prefix over its DISTINCT
    // scores (a score maps to one bucket, so (stratum, score) keys a run),
    // scores DESC with nulls last, from the bucket's start — a Spark
    // window over a table that is tiny exactly when ties are the problem.
    // A run is uniform by the prefix fold's rule (the label at its start
    // equals the label at its end); only the straddled runs, at most `k`
    // per stratum, come to the driver, so the run table never does
    val runs: Option[DataFrame] =
      if (oversized.isEmpty) None
      else Some {
        val cls = table(oversized.map { case (r, start) =>
            Row(r.get(0), r.getInt(1), start, cutsOf(stratumOf(r))) },
          "__cs" -> sType, "__cb" -> IntegerType, "__off" -> LongType, "__cuts" -> cutsType)
        val wR = Window.partitionBy(col("__s"), col("__b"))
          .orderBy(col("__v").desc_nulls_last)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        slim.join(broadcast(cls), col("__s") <=> col("__cs") && col("__b") === col("__cb"))
          .groupBy(col("__s"), col("__b"), col("__v"))
          .agg(sum(col("__t")).as("__sw"), first(col("__off")).as("__off"),
            first(col("__cuts")).as("__cuts"))
          .withColumn("__bef", col("__off") + sum(col("__sw")).over(wR) - col("__sw"))
          .withColumn("__rl", countAtOrBelow(col("__bef"), col("__cuts")))
          .withColumn("__straddled",
            col("__rl") =!= countAtOrBelow(col("__bef") + col("__sw"), col("__cuts")))
      }
    val ties: Array[Row] = runs.fold(Array.empty[Row]) { rs =>
      val rows = rs.where(col("__straddled"))
        .select(col("__s"), col("__v"), col("__bef"), col("__sw"))
        .limit(maxClassificationRows + 1).collect()
      require(rows.length <= maxClassificationRows,
        s"$op: stratum '$stratumCol' exceeds " +
        s"$maxClassificationRows tie-run rows — aggregate to a coarser " +
        "stratum first")
      rows
    }
    val tieWeight: Map[Option[Any], Long] = ties.toSeq.groupBy(stratumOf)
      .map { case (s, ts) => s -> ts.map(_.getLong(3)).sum }

    // sub-bucket level: within a straddled tie run the order is the
    // (md5, key) content order, so the run's md5-prefix sub-buckets fold
    // from its start (null sub-bucket — null key — first, then hex asc).
    // A straddled run has positive weight, so its start names it within
    // its stratum — a key with total equality, unlike a NaN score
    val tieHexLen = 3
    def subBucketOf(key: Column): Column =
      substring(md5(key.cast("string").cast("binary")), 1, tieHexLen)
    val subs: Seq[(Row, Either[Int, Long])] =
      if (ties.isEmpty) Seq.empty
      else {
        val tieLedger = slim
          .join(broadcast(table(ties.toSeq.map(r => Row(r.get(0), r.get(1), r.getLong(2))),
              "__zs" -> sType, "__zv" -> DoubleType, "__zo" -> LongType)),
            col("__s") <=> col("__zs") && col("__v") <=> col("__zv"))
          .withColumn("__b2", subBucketOf(col("__k")))
        val subRows = tieLedger.groupBy("__s", "__v", "__b2", "__zo")
          .agg(sum("__t").as("__sum"))
          .limit(maxClassificationRows + 1).collect()
        require(subRows.length <= maxClassificationRows,
          s"$op: tie-region sub-bucket classification " +
          s"exceeds $maxClassificationRows rows — coarsen the stratum")
        val folded = subRows.toSeq.groupBy(r => (stratumOf(r), r.getLong(3))).toSeq
          .flatMap { case ((s, start), rows) =>
            prefixFold(rows.sortBy(r => Option(r.getString(2)).getOrElse(""))
              .map(r => r -> r.getLong(4)), start, cutsOf(s))
          }
        val boundary = folded.collect { case (r, Right(start)) =>
          Row(r.get(0), r.get(1), r.get(2), start, cutsOf(stratumOf(r)))
        }
        if (boundary.nonEmpty) {
          val cls = table(boundary, "__cs" -> sType, "__cv" -> DoubleType,
            "__cb" -> StringType, "__off" -> LongType, "__cuts" -> cutsType)
          windowed += windowLabels(tieLedger.join(broadcast(cls),
              col("__s") <=> col("__cs") && col("__v") <=> col("__cv") &&
                col("__b2") <=> col("__cb")),
            col("__s"), col("__v"), col("__b2"))
        }
        folded
      }

    // attach: ONE pass over the caller's rows, broadcast lookups only. The
    // levels are mutually exclusive by construction (a row's bucket, run,
    // sub-bucket or key is looked up at exactly one level), so left joins
    // + a coalesce preserve multiplicity; a row no level labels is under
    // no cutoff, label k. Rows labelled k are never looked up.
    def uniform(level: Seq[(Row, Either[Int, Long])], cols: Int*): Seq[Row] =
      level.collect { case (r, Left(l)) if l < k => Row(cols.map(r.get) :+ l: _*) }
    val dfScore = df(scoreCol).cast("double")
    var labeled = df
    val labels = scala.collection.mutable.ArrayBuffer.empty[Column]
    def attach(lookup: DataFrame, on: Column, label: String): Unit = {
      labeled = labeled.join(broadcast(lookup), on, "left")
      labels += col(label)
    }
    val uniformBuckets = uniform(buckets, 0, 1)
    if (uniformBuckets.nonEmpty) {
      labeled = labeled
        .join(broadcast(boundsDf), df(stratumCol) <=> col("__bs"), "left")
        .withColumn("__db", bucketOf(dfScore))
      attach(table(uniformBuckets,
          "__cs" -> sType, "__cb" -> IntegerType, "__cl" -> IntegerType),
        df(stratumCol) <=> col("__cs") && col("__db") === col("__cb"), "__cl")
    }
    runs.foreach { rs =>
      attach(rs.where(!col("__straddled") && col("__rl") < k)
          .select(col("__s").as("__rs"), col("__v").as("__rv"), col("__rl")),
        df(stratumCol) <=> col("__rs") && dfScore <=> col("__rv"), "__rl")
    }
    val uniformSubs = uniform(subs, 0, 1, 2)
    if (uniformSubs.nonEmpty)
      attach(table(uniformSubs, "__ss" -> sType, "__sv" -> DoubleType,
          "__sb" -> StringType, "__sl" -> IntegerType),
        df(stratumCol) <=> col("__ss") && dfScore <=> col("__sv") &&
          subBucketOf(df(keyCol)) <=> col("__sb"), "__sl")
    if (windowed.nonEmpty)
      attach(windowed.reduce(_ unionByName _),
        df(stratumCol) <=> col("__ks") && df(keyCol) <=> col("__kk"), "__kl")
    val out = labeled.withColumn(ScoreLabel, coalesce(labels.toSeq :+ lit(k): _*))
      .drop(ScoreLabelInternals: _*)
    val stats = buckets.groupBy(b => stratumOf(b._1)).toSeq
      .map { case (s, bs) =>
        TopTakeStratumStats(s, bs.map(_._1.getLong(2)).sum,
          bs.collect { case (r, Right(_)) => r.getLong(2) }.sum,
          tieWeight.getOrElse(s, 0L))
      }
      .sortBy(st => (st.stratum.nonEmpty, st.stratum.map(_.toString).getOrElse("")))
    (out, stats)
  }

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169) as one
    * entry point: rank raw documents by how TARGET-like their token mass
    * is ([[TextOps.contrastScore]]'s exact integers), band them by the
    * importance ratio, allocate a token budget across bands by importance
    * MASS, and select within each band in the engine-portable md5 content
    * order — importance resampling at band granularity, built so every
    * arithmetic step recomputes identically on any engine:
    *
    *   - the per-doc importance ratio `(sum_target_freq + 1) /
    *     (sum_raw_freq + 1)` is never materialized as a float: documents
    *     band by `clamp(floor(log2(ratio)), ±maxBand)`, computed with one
    *     integer division and a binary-digit count — integer ops, no log;
    *   - band budgets follow importance mass (`2^band ×` the band's token
    *     total — a power-of-two scaling of an integer, IEEE-exact), folded
    *     in band-ascending order: `budget_b = min(tok_b,
    *     round(tokenBudget · mass_b / Σmass))`;
    *   - membership inside a band is [[takeBudgets]]' two-phase
    *     bucket-prefix take (crossing row kept), so the caller's rows
    *     never shuffle and no band funnels through a single window task.
    *
    * Returns the SELECTED documents' contrast rows + `band` — narrow by
    * construction; semi-join the corpus on `idCol` for the full rows.
    * Documents with no tokens carry no importance evidence and are never
    * selected (they have no [[TextOps.contrastScore]] row). An empty raw
    * corpus selects nothing.
    *
    * Scale shape: two token-keyed shuffles (the contrast signal), one tiny
    * per-band aggregate to the driver (≤ 2·maxBand+1 rows), then the
    * scale-safe take — corpus text rides no shuffle at all.
    */
  def dsirSelect(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      targetTextCol: String,
      tokenBudget: Long,
      maxBand: Int = 8,
      bucketHexLen: Int = 3): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1, got $tokenBudget")
    require(maxBand >= 1 && maxBand <= 16,
      s"maxBand must be in [1, 16], got $maxBand")
    val cs = TextOps.contrastScore(raw, target, idCol, textCol, targetTextCol)
    // floor(log2((t+1)/(r+1))) via p = (t+1)·2^maxBand div (r+1):
    // floor(log2(p)) = digits(bin(p)) − 1, then shift back by maxBand —
    // both engines agree digit-for-digit (no float log anywhere)
    val p = expr(
      s"(sum_target_freq + 1L) * ${1L << maxBand}L div (sum_raw_freq + 1L)")
    val bandRaw = when(p <= 0L, lit(-maxBand))
      .otherwise(length(bin(p)) - 1 - maxBand)
    // materialized: the contrast lineage (two corpus-wide token shuffles)
    // otherwise re-runs for the totals collect, for takeBudgets' phase-1
    // aggregate, AND for the caller's action — the banded frame is narrow
    // (id + four counters + band) by construction
    val banded = Materialize.eager(cs.withColumn("band",
      least(greatest(bandRaw, lit(-maxBand)), lit(maxBand)).cast("int")))
    // per-band token totals — ≤ 2·maxBand+1 rows to the driver
    val totals: Seq[(Int, Long)] = banded
      .groupBy(col("band")).agg(sum(col("n_toks")).as("tk"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
    // importance mass per band: 2^band · tok_band — a power-of-two scaling
    // of an integer is exact in IEEE double regardless of association, so
    // quota arithmetic recomputes identically on any engine (the fold runs
    // band-ascending to pin the one order-dependent step, the Σ)
    val mass = totals.map { case (b, tk) => (b, tk, math.pow(2.0, b) * tk) }
    val m = mass.foldLeft(0.0)(_ + _._3)
    val budgets: Map[Int, Long] =
      if (m <= 0.0) Map.empty
      else mass.map { case (b, tk, w) =>
        b -> math.min(tk, math.round(tokenBudget * w / m))
      }.toMap
    takeBudgets(banded, "band", idCol, col("n_toks"),
      {
        case Some(b: Int) => budgets.getOrElse(b, 0L)
        case _ => 0L
      },
      bucketHexLen)
  }

  /** The internal columns [[contentOrderPositions]] joins onto the
    * caller's frame and drops again.
    */
  private val ContentOrderInternals = Seq("__s", "__b", "__off")

  /** The one content-order position core of [[epochShuffle]],
    * [[curriculumShuffle]] and [[Sink.sizedShardAssignment]]: `df` plus
    * `outCol = finish(before)`, where `before` is `baseOffset` plus the
    * exact sum of the weights of every row strictly before this one in
    * `(stageCol, hash, keyCol)` order. A row's weight is `weightCol`
    * (null counts 0), or 1 without one; `stageCol` must be integral.
    *
    * Plan shape for 100 TB — no global single-task sort anywhere: the
    * md5 bucket prefix of `hash` IS the leading prefix of the sort key
    * (the [[takeBudgets]] discipline), so one map-side-combining
    * per-(stage, bucket) weight sum (≤ #stages × 16^bucketHexLen rows to
    * the driver, guarded by `maxClassificationRows`), a driver prefix sum
    * and a per-bucket running-sum window plus a broadcast offset yield
    * the exact global running weight. Size `bucketHexLen` so a bucket
    * fits one window task: the default 4 (65 536 buckets) puts a 100 TB
    * narrow-ledger corpus at ~1.5 GB per task; 5 (1 M buckets, still
    * under the driver cap) divides it again by 16.
    *
    * Null keys cannot hash, null stages cannot be ordered, and a negative
    * weight would break the running sum's monotonicity: each is refused
    * after the driver sum, before the window runs. DUPLICATE keys within a
    * stage would take their running weight from partition order —
    * positions that silently change across reruns and clusters — so a
    * lag-equality tripwire over the same window order (dups hash to one
    * bucket and sort adjacent) fails the job on the first one. It lives
    * inside `outCol`'s expression, next to the running sum, so column
    * pruning can never drop it and both share one Window and its one
    * in-partition sort. `op` names the caller and `noun` a
    * key in messages (both are in the plan text, as the tripwire's message).
    */
  private[graft] def contentOrderPositions(
      df: DataFrame,
      op: String,
      keyCol: String,
      noun: String,
      hash: Column,
      stageCol: Option[String],
      weightCol: Option[String],
      baseOffset: Long,
      bucketHexLen: Int,
      maxClassificationRows: Int,
      outCol: String)(finish: Column => Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    require(bucketHexLen >= 1 && bucketHexLen <= 6,
      s"bucketHexLen must be in [1, 6], got $bucketHexLen")
    require(!df.columns.contains(outCol),
      s"$op adds a '$outCol' column — rename the existing one first")
    requireUnreserved(df, op, ContentOrderInternals)
    val spark = df.sparkSession
    val groups = stageCol.map(s => "__s" -> col(s).cast("long")).toSeq :+
      ("__b" -> substring(hash, 1, bucketHexLen))
    val names = groups.map(_._1)
    val n = names.size
    val w = weightCol.fold(lit(1L))(c => coalesce(col(c).cast("long"), lit(0L)))
    val counts = df.select(groups.map { case (g, c) => c.as(g) } :+ w.as("__w"): _*)
      .groupBy(names.map(col): _*)
      .agg(sum("__w").as("__sum"), min("__w").as("__min"))
      .limit(maxClassificationRows + 1).collect()
    require(counts.length <= maxClassificationRows,
      s"$op: ${stageCol.fold("")(_ => "stages × ")}16^$bucketHexLen groups exceed " +
      s"$maxClassificationRows driver rows — lower bucketHexLen")
    stageCol.foreach(s => require(counts.forall(!_.isNullAt(0)),
      s"$op: null '$s' stages cannot be ordered — assign every row a stage first"))
    require(counts.forall(!_.isNullAt(n - 1)),
      s"$op: null '$keyCol' ${noun}s cannot be placed — filter or fill them first")
    weightCol.foreach(c => require(counts.forall(_.getLong(n + 1) >= 0L),
      s"$op: negative '$c' weights — a size cannot be negative; fix the weight column"))
    // driver prefix in (stage, bucket) = sort-key-prefix order: each
    // group's offset is the weight of all rows sorting strictly below it
    val sorted = counts.sortBy(r =>
      (if (stageCol.isDefined) r.getLong(0) else 0L, r.getString(n - 1)))
    val offRows = sorted.zip(sorted.scanLeft(baseOffset)(_ + _.getLong(n)))
      .map { case (r, off) => Row.fromSeq(r.toSeq.take(n) :+ off) }.toSeq
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1),
      StructType(stageCol.map(_ => StructField("__s", LongType, nullable = false)).toSeq ++ Seq(
        StructField("__b", StringType, nullable = false),
        StructField("__off", LongType, nullable = false))))
    val lagWin = Window.partitionBy(names.map(col): _*)
      .orderBy(hash.asc, col(keyCol).asc)
    val win = lagWin.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    groups.foldLeft(df) { case (d, (g, c)) => d.withColumn(g, c) }
      .join(broadcast(offDf), names)
      .withColumn(outCol,
        when(lag(col(keyCol), 1).over(lagWin) === col(keyCol),
          raise_error(concat(
            lit(s"$op: duplicate '$keyCol' $noun "),
            col(keyCol).cast("string"),
            lit(stageCol.fold("")(s => s" within one '$s' stage") +
              s" — duplicate ${noun}s have no deterministic placement; " +
              "deduplicate or re-key first"))).cast("long"))
        .otherwise(finish(col("__off") + sum(w).over(win) - w)))
      .drop(names :+ "__off": _*)
  }

  /** Deterministic, engine-portable GLOBAL training-order shuffle: every
    * row gets its position in the `md5(epoch # key)` order — the epoch
    * shuffle a training pipeline runs between passes. A different `epoch`
    * seed yields an uncorrelated order; the same epoch reproduces the
    * same positions on any cluster, rerun, or engine (md5 of the same
    * string). Output = input columns + `pos` (0-based long); materialize
    * the shuffled order with `orderBy("pos")` into a sink, or
    * `repartitionByRange` on it.
    *
    * The position is [[contentOrderPositions]]' running weight at weight
    * 1 — no global sort (see its plan shape for sizing `bucketHexLen`).
    * Null keys are rejected loudly, and so are DUPLICATE keys, whose
    * positions would depend on partition order. Pass a unique id.
    */
  def epochShuffle(
      df: DataFrame,
      keyCol: String,
      epoch: Long,
      bucketHexLen: Int = 4,
      maxClassificationRows: Int = MaxClassificationRows): DataFrame =
    contentOrderPositions(df, "epochShuffle", keyCol, "key", epochHash(keyCol, epoch),
      None, None, 0L, bucketHexLen, maxClassificationRows, "pos")(identity)

  /** `md5(epoch # key)`: the engine-portable hash order of
    * [[epochShuffle]] and [[curriculumShuffle]].
    */
  private def epochHash(keyCol: String, epoch: Long): Column =
    md5(concat(lit(epoch.toString), lit("#"), col(keyCol).cast("string"))
      .cast("binary"))

  /** Multi-epoch training schedule: epochs `startEpoch ..
    * startEpoch+nEpochs-1` concatenated into ONE frame — each row appears
    * `nEpochs` times tagged `(epoch, pos)`, where `pos` is the row's
    * [[epochShuffle]] position within its epoch OFFSET by `epochIndex ·
    * N`, so ordering the whole frame by `pos` replays the exact
    * multi-epoch run order (every epoch an independent engine-portable
    * permutation, uncorrelated across epochs — the "reshuffle each
    * epoch" every training loop wants, materialized).
    *
    * Plan: one count + `nEpochs` independent epochShuffle plans unioned —
    * each epoch's permutation is genuinely different work, so the cost is
    * inherently nEpochs passes; persist the input first if it is not
    * file-backed (each arm scans it). No global sort anywhere
    * ([[contentOrderPositions]] per arm).
    */
  def multiEpochOrder(
      df: DataFrame,
      keyCol: String,
      nEpochs: Int,
      startEpoch: Long = 0L,
      bucketHexLen: Int = 4): DataFrame = {
    require(nEpochs >= 1 && nEpochs <= 1000,
      s"nEpochs must be in [1, 1000], got $nEpochs")
    require(!df.columns.contains("epoch"),
      "multiEpochOrder adds an 'epoch' column — rename the existing one first")
    val n = df.count()
    (0 until nEpochs).map { i =>
      val e = startEpoch + i
      epochShuffle(df, keyCol, e, bucketHexLen)
        .withColumn("epoch", lit(e))
        .withColumn("pos", col("pos") + lit(i.toLong * n))
    }.reduce(_ unionByName _)
  }

  /** Curriculum training order: every row's EXACT global position in
    * `(stage ASC, md5(epoch # key), key)` order — the curriculum-learning
    * recipe (Bengio et al. 2009; short-to-long, clean-to-noisy) where
    * training visits stage 0 first, stage 1 second, …, SHUFFLED within
    * each stage by the same engine-portable hash order [[epochShuffle]]
    * uses, so each epoch reshuffles within stages while the stage
    * progression stands.
    *
    * [[contentOrderPositions]] with the stage as the leading sort key:
    * its driver table is #stages × 16^`bucketHexLen` rows (guarded).
    * Stages are ordinal by definition, so `stageCol` must be integral —
    * floats and strings are rejected loudly rather than inherit an
    * engine-specific collation.
    *
    * Null stages and null keys are rejected loudly, and so are duplicate
    * keys WITHIN a stage; the same key appearing in TWO stages is two
    * distinct curriculum items and keeps deterministic positions (the
    * stage leads the sort).
    */
  def curriculumShuffle(
      df: DataFrame,
      keyCol: String,
      stageCol: String,
      epoch: Long,
      bucketHexLen: Int = 4,
      maxClassificationRows: Int = MaxClassificationRows): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(stageCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case t => throw new IllegalArgumentException(
        s"curriculumShuffle: stage column '$stageCol' must be integral " +
          s"(ordinal stages), got $t")
    }
    contentOrderPositions(df, "curriculumShuffle", keyCol, "key", epochHash(keyCol, epoch),
      Some(stageCol), None, 0L, bucketHexLen, maxClassificationRows, "pos")(identity)
  }

  /** Deterministic GLOBAL sample: exactly `n` rows from the whole corpus
    * (not per stratum), picked in the engine-portable md5(key) content
    * order — "cut a reproducible 1 M-doc sample" without a global sort or
    * a single-task window. This is the constant-stratum form of
    * [[takeBudgets]]' two-phase machinery: bucket counts → driver prefix →
    * whole buckets keep join-free and only the ONE boundary bucket
    * (~1/16^bucketHexLen of the corpus) runs a window. Samples NEST:
    * a larger `n` contains every smaller one (the md5-order prefix
    * property every take here shares), so growing a sample never
    * re-selects. Smaller corpora return whole.
    *
    * Expect a `WindowExec: No Partition Defined` warning from the
    * constant-stratum plans of this whole `takeGlobal*` family: the
    * literal stratum constant-folds to an empty partition spec, but the
    * window's INPUT is the one straddling bucket alone (bounded by the
    * classification machinery; PlanSpec pins the executed row count) —
    * it is not a global sort.
    */
  def takeGlobal(
      df: DataFrame,
      keyCol: String,
      n: Long,
      bucketHexLen: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val one = freshColumn(df, "__g")
    takeBudgets(df.withColumn(one, lit(1)), one, keyCol, lit(1L),
      _ => n, bucketHexLen)
      .drop(one)
  }

  /** [[takeGlobal]] in TOKEN space: the md5-content-order prefix of the
    * WHOLE corpus until `budget` tokens, crossing row kept
    * ([[takeTokenBudget]]'s rule at one global stratum) — "cut a
    * reproducible 1 B-token sample of the corpus". Null token counts
    * count as 0; same nesting, plan, and determinism as [[takeGlobal]].
    */
  def takeGlobalTokens(
      df: DataFrame,
      keyCol: String,
      tokensCol: String,
      budget: Long,
      bucketHexLen: Int = 3): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val one = freshColumn(df, "__g")
    takeBudgets(df.withColumn(one, lit(1)), one, keyCol,
      coalesce(col(tokensCol).cast("long"), lit(0L)), _ => budget,
      bucketHexLen)
      .drop(one)
  }

  /** Score-ordered GLOBAL take: "keep the best `fraction` of the WHOLE
    * corpus by score" — [[takeTopFraction]]'s exact keep rule (rank ≤
    * round(fraction · corpus count) in `(score DESC nulls last,
    * md5(key), key)` order) at one constant stratum, so the whole
    * two-phase plan applies: score-range buckets keep/drop join-free and
    * only the boundary bucket does ordered work. With a single global
    * stratum the boundary bucket is ~1/nBuckets of the CORPUS — phase
    * 0's self-sizing (see [[takeTopFraction]] step 3) is what keeps that
    * near `maxBoundaryTaskRows` at 100 TB. Same nesting property as
    * [[takeGlobal]]: for a fixed score column, a larger fraction's kept
    * set contains every smaller one (the keep rule is a prefix of one
    * fixed global order).
    */
  def takeGlobalTopFraction(
      df: DataFrame,
      keyCol: String,
      scoreCol: String,
      fraction: Double,
      nBuckets: Int = 64,
      maxClassificationRows: Int = MaxClassificationRows,
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows): DataFrame = {
    val one = freshColumn(df, "__g")
    takeTopFraction(df.withColumn(one, lit(1)), one, keyCol, scoreCol,
      fraction, nBuckets, maxClassificationRows, maxBoundaryTaskRows)
      .drop(one)
  }

  /** Score-ordered GLOBAL token budget: "fill a corpus-wide 1 B-token
    * budget with the highest-quality documents" — [[takeTopTokenBudget]]'s
    * keep rule (running token weight before the row < `budget` in
    * `(score DESC nulls last, md5(key), key)` order, crossing row kept)
    * at one constant stratum. Same plan and nesting notes as
    * [[takeGlobalTopFraction]]; null token counts count as 0.
    */
  def takeGlobalTokensTop(
      df: DataFrame,
      keyCol: String,
      scoreCol: String,
      tokensCol: String,
      budget: Long,
      nBuckets: Int = 64,
      maxClassificationRows: Int = MaxClassificationRows,
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows): DataFrame = {
    val one = freshColumn(df, "__g")
    takeTopTokenBudget(df.withColumn(one, lit(1)), one, keyCol, scoreCol,
      tokensCol, budget, nBuckets, maxClassificationRows, maxBoundaryTaskRows)
      .drop(one)
  }

  /** CCNet-style quality PARTITION (Wenzek et al. 2020 split the crawl
    * into head/middle/tail by LM-perplexity terciles): label every row
    * with its exact global quantile bucket in `(score DESC nulls last,
    * md5(key), key)` order — bucket 0 holds the best `round(f₁·n)` rows,
    * bucket i the rows between cutoffs i and i+1, bucket
    * `fractions.size` the tail. The label of a row at global rank r is
    * `min { i : r ≤ round(fᵢ·n) }` (else the tail) — membership in the
    * nested [[takeGlobalTopFraction]] kept sets, computed in ONE labeling
    * pass: this is [[takeTopFraction]]'s score-ordered prefix labeler at
    * one constant stratum, unit weights and the K cutoffs `round(fᵢ·n)`.
    * Phase-0 stats and phase-1 bucket weights are cutoff-independent, so
    * all K cutoffs resolve against the same classification: buckets, score
    * runs and md5 sub-buckets no cutoff falls inside label by a broadcast
    * lookup with no window, and all straddled buckets (and straddled
    * sub-buckets) share one window pass each — the number of input scans
    * is CONSTANT in the cutoff count (PlanSpec-pinned).
    *
    * Exactness, determinism, self-sizing, and the tie-order contract are
    * [[takeTopFraction]]'s verbatim (the per-level uniform/straddled
    * split is decided on exact counts; quantile-sketch error only moves
    * rows between the join-free and windowed paths). The input is
    * evaluated once per phase — pass a materialized narrow
    * `(key, score, …)` frame when the scores are expensive to derive.
    */
  def qualityPartition(
      df: DataFrame,
      keyCol: String,
      scoreCol: String,
      fractions: Seq[Double],
      nBuckets: Int = 64,
      bucketCol: String = "bucket",
      maxBoundaryTaskRows: Long = MaxBoundaryTaskRows): DataFrame = {
    require(fractions.nonEmpty, "qualityPartition needs at least one cutoff")
    require(fractions.forall(f => f > 0.0 && f < 1.0) &&
      fractions.sliding(2).forall(s => s.size < 2 || s(0) < s(1)),
      s"cutoff fractions must be strictly increasing within (0, 1): $fractions")
    require(!df.columns.contains(bucketCol),
      s"qualityPartition: input already has a '$bucketCol' column")
    val one = freshColumn(df, "__g")
    scoreLabels(df.withColumn(one, lit(1)), one, keyCol, scoreCol, lit(1L),
      fractions.size,
      _.map { case (s, n) => s -> fractions.map(f => math.round(f * n)) }.toMap,
      nBuckets, MaxClassificationRows, maxBoundaryTaskRows, "qualityPartition")._1
      .drop(one)
      .withColumnRenamed(ScoreLabel, bucketCol)
  }

  /** Weighted corpus mix: union of sources, each downsampled to its weight
    * (1.0 = keep all). The mixing decision is content-keyed per source, so
    * the mix is stable under re-runs and independent of source ordering.
    */
  def weightedMix(sources: Seq[(DataFrame, String, Double)], keyCol: String): DataFrame = {
    require(sources.nonEmpty, "weightedMix needs at least one source")
    sources.map { case (df, name, weight) =>
      val u = (pmod(xxhash64(col(keyCol), lit(name)), lit(1000000L))
        .cast("double") / 1000000.0)
      df.where(u < weight).withColumn("mix_source", lit(name))
    }.reduce(_ unionByName _)
  }

  /** Engine-portable weighted mix — the oracle-checkable twin of
    * [[weightedMix]] (same trade as [[md5StratifiedSample]] vs the
    * xxhash64 paths): the keep decision compares the first three md5 hex
    * digits of `"name#key"` against the weight's 3-hex-digit threshold
    * LEXICOGRAPHICALLY — fixed-width lowercase hex compares identically
    * to its numeric value in any engine, so no base conversion is needed
    * anywhere. Weight granularity 1/4096; weights that round to 0 or 1
    * short-circuit to keep-none/keep-all. Pure filter, no shuffle, no
    * seed; null keys keep the row only under keep-all (they cannot hash).
    */
  def md5WeightedMix(sources: Seq[(DataFrame, String, Double)], keyCol: String): DataFrame = {
    require(sources.nonEmpty, "md5WeightedMix needs at least one source")
    sources.map { case (df, name, weight) =>
      require(weight >= 0.0 && weight <= 1.0,
        s"weight must be in [0, 1], got $weight for source '$name'")
      val t = math.round(weight * 4096).toInt
      val keep =
        if (t <= 0) lit(false)
        else if (t >= 4096) lit(true)
        else substring(
          md5(concat(lit(name), lit("#"), col(keyCol).cast("string")).cast("binary")),
          1, 3) < lit(f"$t%03x")
      df.where(keep).withColumn("mix_source", lit(name))
    }.reduce(_ unionByName _)
  }
}
