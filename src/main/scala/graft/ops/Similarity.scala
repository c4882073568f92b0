package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *     set against the corpus; the corpus is never shuffled, ranking is a
  *     per-query-partition window. The correctness baseline.
  *   - [[lshTopK]]: random-hyperplane LSH — corpus and queries bucket by the
  *     sign pattern of `planes` pseudo-random hyperplanes (hash-derived, no
  *     stored model); only same-bucket pairs get an exact cosine. This is
  *     the 100 TB path: one shuffle on a small int key, candidate count
  *     bounded by bucket population.
  *
  * All math is double precision with sequential array aggregation — bit-wise
  * deterministic.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double —
    * the native codegen kernel ([[graft.functions.CosineSimilarity]]); the
    * pure-HOF equivalent is kept as [[cosineExpr]] for reference.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.native.cosine(a, b)

  /** Pure `functions._` cosine (interpreted per element — prefer [[cosine]]
    * in hot paths; bit-identical accumulation order).
    */
  def cosineExpr(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (s, v) => s + v))
    dot / (na * nb)
  }

  /** Sign-bit bucket from `planes` deterministic pseudo-random hyperplanes:
    * plane p's component for dimension i is ±1 by xxhash64(p, i) parity, so
    * no model state is stored and every executor computes identical planes.
    * Native codegen kernel ([[graft.functions.HyperplaneBucket]]); the HOF
    * equivalent is kept as [[hyperplaneBucketExpr]] (bit-identical).
    */
  def hyperplaneBucket(vec: Column, planes: Int, offset: Int = 0): Column =
    graft.functions.native.hyperplaneBucket(vec, planes, offset)

  /** Pure `functions._` hyperplane bucket (interpreted per element — prefer
    * [[hyperplaneBucket]] in hot paths; bit-identical hash chain and
    * accumulation order).
    */
  def hyperplaneBucketExpr(vec: Column, planes: Int, offset: Int = 0): Column =
    (0 until planes).map { p =>
      // coalesce: the native kernel SKIPS null elements (they contribute
      // nothing to the dot); without it a single null element would null
      // the whole product chain and clear the bit, diverging from the
      // kernel on containsNull inputs
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
          coalesce(x.cast("double"), lit(0.0)) *
            when(xxhash64(lit(offset + p), i).bitwiseAND(1) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (s, v) => s + v)
      when(dot > 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Where a neighbor op's queries find their candidates. Each op keeps its
    * own join strategy:
    *   - [[Cross]]: the broadcast query side against every corpus row;
    *   - [[Cells]]: the query side explodes its `nprobe` nearest cells and
    *     joins the cell-assigned corpus — as a broadcast, unsalted probe
    *     ([[ivfProbe]]'s small query batch) or through
    *     [[saltedCandidateJoin]] with no hint (corpus-sized query sides);
    *   - [[Bands]]: both sides posexplode `bands` hyperplane buckets of
    *     `planes` bits each, the query side broadcast.
    */
  private sealed trait Candidates
  private final case class Cross(corpus: DataFrame) extends Candidates
  private final case class Cells(idx: IvfIndex, nprobe: Int, broadcastProbe: Boolean)
    extends Candidates
  private final case class Bands(corpus: DataFrame, planes: Int, bands: Int)
    extends Candidates

  /** The one candidate scorer behind every neighbor op: the query side
    * `(query_id, qv)` meets its candidates `(neighbor_id, cv)`, self-pairs
    * drop, and each remaining pair gets its exact `cosine` — returned with
    * the join's own columns (`cell`, `band`, …) for the caller to project.
    */
  private def scoredCandidates(
      queries: DataFrame, vecCol: String, idCol: String, from: Candidates): DataFrame = {
    def side(df: DataFrame, id: String, vec: String, extra: Column*) =
      df.select(Seq(col(idCol).as(id), col(vecCol).as(vec)) ++ extra: _*)
    def bandBuckets(planes: Int, bands: Int) =
      posexplode(array((0 until bands).map(b =>
        hyperplaneBucket(col(vecCol), planes, offset = b * planes)): _*))
        .as(Seq("band", "bucket"))
    val pairs = from match {
      case Cross(corpus) =>
        broadcast(side(queries, "query_id", "qv"))
          .crossJoin(side(corpus, "neighbor_id", "cv"))
      case Cells(idx, nprobe, broadcastProbe) =>
        val probed = side(queries, "query_id", "qv",
          explode(probeCells(idx.centroids, col(vecCol), nprobe)).as("cell"))
        if (broadcastProbe) broadcast(probed).join(idx.assigned, Seq("cell"))
        else saltedCandidateJoin(idx, probed)
      case Bands(corpus, planes, bands) =>
        broadcast(side(queries, "query_id", "qv", bandBuckets(planes, bands)))
          .join(side(corpus, "neighbor_id", "cv", bandBuckets(planes, bands)),
            Seq("band", "bucket"))
    }
    pairs.where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
  }

  /** The one band/floor filter: scored pairs with `cosine` in
    * `[floor, ceiling)`. A zero-magnitude vector on either side scores NaN,
    * which sorts ABOVE every number in both Spark and DuckDB: a ceiling
    * already rejects it, and a bare floor needs the explicit guard, or a
    * zero vector would match every neighbor at any floor.
    */
  private def inBand(
      scored: DataFrame, floor: Double, ceiling: Option[Double] = None): DataFrame =
    scored.where(col("cosine") >= floor &&
      ceiling.fold(!isnan(col("cosine")))(col("cosine") < _))

  /** The one per-query rank window: each query's `k` best scored pairs by
    * `(cosine DESC, neighbor_id)` as `(query_id, rank, neighbor_id,
    * cosine)`. NaN ranks first, so an unfiltered zero-magnitude neighbor
    * tops every list.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Exact top-k neighbors for each query id. Queries (few) are broadcast;
    * the corpus streams through map-side — no corpus shuffle, then one
    * window partitioned by query for ranking.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): DataFrame =
    topKPerQuery(scoredCandidates(queries, vecCol, idCol, Cross(corpus)), k)

  /** Element-wise mean of per-row embedding arrays grouped by id — the
    * pooling step that turns per-frame (or per-chunk) vectors into one
    * vector per document, e.g. video frames → one doc embedding. Two hash
    * aggregates over the pos-exploded values (both map-side combining),
    * no window; the array rebuilds in position order. Output is float to
    * match the feature extractors.
    */
  def meanPoolEmbeddings(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy(col(idCol), col("__pos")).agg(avg(col("__v")).as("__m"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos").as("p"), col("__m").as("v")))),
        e => e("v").cast("float")).as(vecCol))

  /** Symmetric int8 quantization of an embedding column — the 4× storage
    * cut a 100 TB vector store takes before anything else: each vector is
    * scaled by its own max-abs so `q = round(127 · v / maxabs)` lands in
    * [-127, 127], stored as `(scale: float, q: array<tinyint>)`. Pure
    * per-row HOF arithmetic — zero shuffle, codegen, no UDF. Zero and
    * null vectors get scale 0 and an all-zero / null code array (nothing
    * to preserve). Cosine on dequantized vectors differs from the
    * original by O(1/127) per component — RecallSpec pins the resulting
    * top-k recall.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val maxabs = array_max(transform(v, x => abs(x)))
    df.withColumn("scale",
      when(v.isNull, lit(null).cast("float"))
        .otherwise((coalesce(maxabs, lit(0.0)) / 127.0).cast("float")))
      .withColumn(s"${vecCol}_q", int8Codes(v))
  }

  /** The int8 code array behind [[quantizeInt8]], as a reusable Column —
    * ONE definition of the quantization rule so every integer-exact
    * consumer (storage, cell assignment, prototype scoring) and the
    * DuckDB oracle replay agree bit-for-bit.
    */
  def int8Codes(v: Column): Column =
    // maxabs is LET-BOUND: captured inside the transform lambda it would
    // re-evaluate its own array_max per element — O(dim²) per row
    Dedup.bind(array_max(transform(v, x => abs(x)))) { maxabs =>
      when(v.isNull, lit(null).cast("array<tinyint>"))
        .otherwise(when(coalesce(maxabs, lit(0.0)) === 0.0,
          transform(v, _ => lit(0).cast("tinyint")))
          .otherwise(transform(v,
            x => round(x * 127.0 / maxabs).cast("tinyint"))))
    }

  /** Inverse of [[quantizeInt8]]: `v ≈ scale · q`, reconstructed as
    * float. Null codes stay null.
    */
  def dequantizeInt8(df: DataFrame, qCol: String, scaleCol: String, outCol: String): DataFrame =
    df.withColumn(outCol,
      when(col(qCol).isNull, lit(null).cast("array<float>"))
        .otherwise(transform(col(qCol),
          q => (q.cast("double") * col(scaleCol)).cast("float"))))

  /** Threshold range search: ALL corpus neighbors with cosine at or above
    * `minCosine` for each query — the vector-store "radius search" twin of
    * [[bruteForceTopK]]'s top-k. No window and no rank: the broadcast
    * queries probe the corpus map-side and the threshold filter is the
    * only gate, so the result streams without any shuffle at all (top-k
    * needs its per-query window; a radius search does not).
    */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      minCosine: Double): DataFrame =
    inBand(scoredCandidates(queries, vecCol, idCol, Cross(corpus)), minCosine)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))

  /** A built IVF index: the trained centroids (tiny — nlist × dim, they
    * live in query plans as literals) plus the cell-assigned corpus.
    * Nothing corpus-sized is cached — [[ivfBuild]] trains centroids on a
    * content-keyed sample and `assigned` is a plain projection over the
    * source scan, so repeated probing re-reads the source (at real scale,
    * persist `assigned` once as a table bucketed by `cell` — that is what
    * [[writeAnnIndex]] does — making every probe join exchange-free).
    *
    * `cellSalts` records the dense-cell guard ([[ivfBuild]]'s
    * `maxCellFraction`): cells whose estimated population exceeds the
    * fraction carry a salt factor S > 1, and the self-join plans key on
    * (cell, salt) instead of cell — the assigned side salts
    * deterministically by `xxhash64(id) mod S`, the probe side explodes
    * all S salts of each probed cell, so the candidate set is
    * BIT-IDENTICAL to the unsalted join while the dense cell's work
    * spreads over S tasks. This guards the degenerate case no quantizer
    * refinement can: a pile of identical (templated) vectors lands in one
    * cell with zero internal variance, but their ids still salt uniformly.
    */
  final case class IvfIndex(
      centroids: Seq[(Int, Seq[Float])],
      assigned: DataFrame,
      cellSalts: Map[Int, Int] = Map.empty)

  /** Trained IVF centroids: `(cell id, centroid)`, sorted by cell id. */
  private type Centroids = Seq[(Int, Seq[Float])]

  /** One `(sim, negcid, cid)` struct per centroid. Lexicographic struct
    * ordering then gives argmax/top-n directly — max sim, ties broken
    * toward the lowest cid (negcid inverts the tie direction) — through
    * codegen'd `greatest` / `sort_array`, no lambda comparators.
    *
    * nanvl: a zero-norm vector has NaN cosine with every centroid and
    * would otherwise lose the argmax to the -2.0 sentinel, landing in an
    * unreachable cell -1 — map NaN below every real similarity but above
    * the sentinel so such vectors stay probe-able.
    */
  private def cellSimStructs(centroids: Centroids, vec: Column): Seq[Column] =
    centroids.map { case (cid, cv) =>
      struct(
        nanvl(cosine(vec, typedlit(cv)), lit(-1.5)).as("sim"),
        lit(-cid).as("negcid"),
        lit(cid).as("cid"))
    }

  /** Nearest-centroid argmax via `greatest` over the sim structs. The
    * sentinel beats only null sims (null vector → cell -1, unreachable),
    * preserving the pre-struct semantics.
    */
  private def nearestCell(centroids: Centroids, vec: Column): Column = {
    val sentinel = struct(
      lit(-2.0).as("sim"), lit(Int.MinValue).as("negcid"), lit(-1).as("cid"))
    greatest((sentinel +: cellSimStructs(centroids, vec)): _*).getField("cid")
  }

  /** The `nprobe` nearest cell ids, best first — `sort_array` descending
    * on the struct ordering (no comparator lambda; the old array_sort
    * comparator was interpreted per comparison per query row).
    */
  private def probeCells(centroids: Centroids, vec: Column, nprobe: Int): Column =
    transform(
      slice(sort_array(array(cellSimStructs(centroids, vec): _*), asc = false), 1, nprobe),
      s => s.getField("cid"))

  /** An IVF assigned side: `(neighbor_id, cv, cell)` rows of `df`, each
    * vector in its nearest centroid's cell — a plain projection.
    */
  private def cellAssigned(
      centroids: Centroids, df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nearestCell(centroids, col(vecCol)).as("cell"))

  /** Default dense-cell threshold for persisted-index probe joins: a cell
    * holding more than this fraction of the stored corpus salts. Matches
    * [[ivfBuild]]'s default (calibrated to nlist ≥ 16 — fair share 4×
    * below it).
    */
  private val DefaultMaxCellFraction: Double = 0.25

  /** Salt-factor cap: a cell never splits into more than this many salt
    * partitions (256 tasks over one cell is parallelism enough; an even
    * denser cell is a quantizer-quality problem — raise nlist).
    */
  private val MaxCellSalt: Int = 256

  /** Per-cell salt factors from (estimated) cell populations: a cell
    * holding more than `maxCellFraction` of the total splits into
    * `ceil(frac / maxCellFraction)` salt partitions (capped at
    * [[MaxCellSalt]]); balanced cells keep factor 1 and are omitted.
    * Fractions are scale-free, so sample counts work as-is.
    */
  private def saltFactors(
      counts: Map[Int, Long], maxCellFraction: Double): Map[Int, Int] = {
    require(maxCellFraction > 0.0 && maxCellFraction <= 1.0,
      s"maxCellFraction must be in (0, 1], got $maxCellFraction")
    val total = counts.values.sum.toDouble
    if (total == 0) Map.empty
    else counts.flatMap { case (cell, n) =>
      val frac = n / total
      if (frac <= maxCellFraction) None
      else Some(cell ->
        math.min(MaxCellSalt, math.ceil(frac / maxCellFraction).toLong.toInt))
    }
  }

  /** Train the IVF index WITHOUT caching anything corpus-sized:
    * [[trainCentroidsAndCounts]] over a content-keyed sample (ONE aggregation job,
    * map-side partial means — `trainFraction = 1.0` reproduces the
    * historical full-corpus centroids bit-for-bit; at 100 TB pass a small
    * fraction), then `assigned` is a plain projection — the one Lloyd
    * half-step argmax over centroid literals fused into the source scan,
    * re-read per downstream action instead of parked in executor storage.
    *
    * The same training aggregate yields per-cell sample counts, from which
    * cells denser than `maxCellFraction` of the corpus get salt factors
    * ([[IvfIndex.cellSalts]]) — the skew guard the self-join plans consume.
    */
  def ivfBuild(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int = 16,
      trainFraction: Double = 1.0,
      maxCellFraction: Double = 0.25): IvfIndex = {
    val (centroids, counts) =
      trainCentroidsAndCounts(corpus, vecCol, idCol, nlist, trainFraction)
    IvfIndex(centroids, cellAssigned(centroids, corpus, vecCol, idCol),
      saltFactors(counts, maxCellFraction))
  }

  /** Probe a built index: each query scores all centroids (plan literals —
    * no join), keeps its `nprobe` nearest cells, and only same-cell corpus
    * vectors get an exact cosine + window top-k.
    */
  def ivfProbe(
      index: IvfIndex,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame =
    topKPerQuery(scoredCandidates(queries, vecCol, idCol,
      Cells(index, nprobe, broadcastProbe = true)), k)

  /** IVF (inverted-file) top-k: the classic two-stage ANN index expressed
    * as dataframes.
    *
    *  1. *Train*: a deterministic coarse quantizer — corpus vectors are
    *     hashed into `nlist` cells by [[hyperplaneBucket]] and each cell's
    *     centroid is its element-wise mean (one `posexplode` + groupBy
    *     job, the only action in the build).
    *  2. *Assign*: every corpus vector re-assigns to its nearest centroid
    *     (one Lloyd half-step — tightens cells vs. the raw hash) via a
    *     per-row argmax over the broadcast centroid literals; native cosine
    *     kernel, no shuffle.
    *  3. *Probe*: each query scores all centroids, keeps the `nprobe`
    *     nearest cells, and only same-cell corpus vectors get an exact
    *     cosine + window top-k.
    *
    * At 100 TB: centroids are tiny (nlist × dim) and live in the plan as
    * literals — no join to distribute them; the one corpus shuffle is on the
    * int cell key; recall trades against `nprobe` exactly like FAISS IVF.
    *
    * One-shot build + probe. The probe result (queries × k rows — tiny) is
    * eagerly materialized (reliable checkpoint when a checkpoint dir is
    * set, local otherwise — see [[Materialize.eager]]) so downstream
    * actions read the small result instead of re-running the corpus scans;
    * multi-batch callers should [[ivfBuild]] once and [[ivfProbe]] per
    * batch instead.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val idx = ivfBuild(corpus, vecCol, idCol, nlist)
    Materialize.eager(ivfProbe(idx, queries, vecCol, idCol, k, nprobe))
  }

  /** Exact k-nearest-neighbor SELF-join: every vector gets its `k` nearest
    * neighbors by cosine (ties toward the lower neighbor id). This is the
    * all-pairs correctness baseline — the plan broadcasts the full vector
    * set against itself ([[bruteForceTopK]] with queries = corpus), which
    * is O(n²) compute and only viable when the whole (id, vec) table fits
    * a broadcast. For corpus-scale semantic-neighbor graphs use
    * [[ivfKnnJoin]]; use this to oracle it and to measure its recall.
    */
  def knnJoin(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): DataFrame =
    bruteForceTopK(df, df, vecCol, idCol, k)

  /** Majority-vote label propagation over a neighbor frame — the kNN
    * classification / label-spreading step of embedding-based curation
    * (assign a class to unlabeled items from their nearest labeled
    * neighbors; audit existing labels by vote disagreement). Accepts any
    * `(query_id, rank, neighbor_id, …)` frame — [[bruteForceTopK]] /
    * [[knnJoin]] for the exact baseline, [[ivfKnnJoin]] /
    * [[annTopKAgainstIndex]] for the corpus-scale paths — so the vote
    * composes with whichever neighbor plan fits the data size. Returns
    * `(query_id, label, votes)`: each query's winning label, ties broken
    * by (votes DESC, best_rank ASC, label ASC) — the label holding the
    * CLOSEST neighbor wins a split vote, and every tie-break key is an
    * integer, so the vote stays hash-exact in any engine (no float
    * cosine in the decision). Queries whose neighbors carry no label
    * (null) on any row ignore those rows; queries with zero labeled
    * neighbors are absent.
    *
    * Plan shape: one join of the (queries × k)-sized neighbor frame
    * against the projected (id, label) side — both narrow — then a
    * per-query window. Corpus text/vectors never enter.
    */
  def labelVote(
      neighbors: DataFrame,
      labeled: DataFrame,
      idCol: String,
      labelCol: String): DataFrame = {
    val lab = labeled.select(
      col(idCol).as("neighbor_id"), col(labelCol).as("label"))
      .where(col("label").isNotNull)
    val votes = neighbors.join(lab, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("__best"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__best").asc, col("label").asc)
    votes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("query_id"), col("label"), col("votes"))
  }

  /** Exact kNN classification: classify each query by the majority label
    * of its `k` nearest LABELED neighbors (cosine). The all-pairs
    * baseline — [[bruteForceTopK]]'s plan BROADCASTS THE QUERY BATCH and
    * streams the labeled corpus map-side, so it is viable when the
    * query batch is small (the labeled side may be arbitrarily large);
    * for corpus-sized query sets compose [[labelVote]] with
    * [[ivfKnnJoin]] or [[annTopKAgainstIndex]] instead (same vote,
    * celled neighbor generation).
    */
  def classifyByNeighbors(
      labeled: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      labelCol: String,
      k: Int): DataFrame =
    labelVote(
      bruteForceTopK(labeled, queries, vecCol, idCol, k),
      labeled, idCol, labelCol)

  /** Hard-negative mining for contrastive embedding training: for each
    * query, the top-`k` most-similar corpus items inside the cosine band
    * `[minCosine, maxCosine)` — the upper bound EXCLUDES positives and
    * near-duplicates (a near-dup mined as a "negative" poisons the loss;
    * SemDeDup's τ is the natural ceiling), the lower bound drops easy
    * negatives the model already separates. Self-pairs are excluded.
    * Returns `(query_id, rank, neighbor_id, cosine)`; queries with no
    * in-band neighbor are absent.
    *
    * Plan shape: queries are the training batch — small by construction —
    * so they broadcast and the corpus streams map-side with the band
    * filter fused into the scan ([[bruteForceTopK]]'s shape plus the
    * band); the only shuffle is the per-query ranking window. For
    * corpus×corpus mining feed [[ivfSimilarityJoin]]'s in-band pairs
    * through the same window instead.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      maxCosine: Double,
      minCosine: Double = -1.0): DataFrame = {
    require(minCosine < maxCosine,
      s"empty band: minCosine $minCosine must be < maxCosine $maxCosine")
    topKPerQuery(inBand(scoredCandidates(queries, vecCol, idCol, Cross(corpus)),
      minCosine, Some(maxCosine)), k)
  }

  /** IVF-accelerated k-nearest-neighbor SELF-join — the corpus-scale
    * semantic-neighbor graph (near-dup mining, diversity analysis, graph
    * clustering seeds): each vector probes its `nprobe` nearest IVF cells
    * and only same-cell pairs get an exact cosine + per-query top-k.
    *
    * Plan shape at 100 TB: unlike [[ivfProbe]] (small query set →
    * broadcast), BOTH sides here are corpus-sized, so the candidate join
    * is a plain shuffle join on the int `cell` key — each side exchanges
    * once, partitioned by cell, and per-partition work is (cell population
    * × nprobe) pair scoring, linear-ish for balanced cells. Only
    * (query_id, rank, neighbor_id, cosine) survives the ranking window.
    * `nprobe = nlist` probes every cell and is EXACTly [[knnJoin]] (the
    * oracle trick); recall at nprobe < nlist trades like FAISS IVF.
    */
  def ivfKnnJoin(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val idx = ivfBuild(df, vecCol, idCol, nlist)
    Materialize.eager(ivfKnnJoinPlan(idx, df, vecCol, idCol, k, nprobe))
  }

  /** The candidate-join sides, salted when the index flags dense cells
    * ([[IvfIndex.cellSalts]]): the assigned side salts deterministically by
    * `xxhash64(id) mod S(cell)`, the probe side explodes every salt of each
    * probed cell, and the join keys on (cell, salt). Candidate pairs are
    * BIT-IDENTICAL to the unsalted cell join (each corpus vector holds
    * exactly one (cell, salt); each probe reaches all of them) — only the
    * shuffle partitioning changes, spreading a dense cell's quadratic work
    * over S tasks instead of one straggler. With no dense cells the
    * unsalted plan is returned untouched.
    */
  private def saltedCandidateJoin(
      idx: IvfIndex, probed: DataFrame): DataFrame =
    if (idx.cellSalts.isEmpty) probed.join(idx.assigned, Seq("cell"))
    else {
      val factor = idx.cellSalts.foldLeft(lit(1)) { case (acc, (c, s)) =>
        when(col("cell") === c, lit(s)).otherwise(acc)
      }
      probed
        .withColumn("salt", explode(sequence(lit(0), factor - 1)))
        .join(
          idx.assigned.withColumn("salt",
            pmod(xxhash64(col("neighbor_id")), factor.cast("long")).cast("int")),
          Seq("cell", "salt"))
        .drop("salt")
    }

  /** The un-materialized [[ivfKnnJoin]] plan against an already-built
    * index — exposed so multi-batch callers can reuse one build and the
    * plan suite can pin the join shape. The candidate join carries no
    * strategy hint: Catalyst picks by size stats (broadcast when one side
    * is genuinely small, shuffle join on the int cell key when both are
    * corpus-sized — the 100 TB shape).
    */
  private[graft] def ivfKnnJoinPlan(
      idx: IvfIndex,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int): DataFrame =
    topKPerQuery(scoredCandidates(df, vecCol, idCol,
      Cells(idx, nprobe, broadcastProbe = false)), k)

  /** IVF-celled similarity SELF-join: every unordered pair with cosine at
    * or above `minCosine` whose members share a probed cell — the
    * pair-generation stage of [[semanticDedup]]. Both directions probe
    * (a pair is a candidate if EITHER member probes the other's cell), so
    * recall at nprobe < nlist is OR-amplified; `nprobe = nlist` probes
    * every cell and the result is the exact threshold join. Same
    * corpus-scale shape as [[ivfKnnJoin]]: one shuffle join on the int
    * cell key, only (id_a, id_b, cosine) survives. Zero-norm vectors
    * (NaN cosine) never match, matching [[rangeSearch]].
    */
  def ivfSimilarityJoin(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      minCosine: Double,
      nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val idx = ivfBuild(df, vecCol, idCol, nlist)
    Materialize.eager(
      ivfSimilarityJoinPlan(idx, df, vecCol, idCol, minCosine, nprobe))
  }

  private[graft] def ivfSimilarityJoinPlan(
      idx: IvfIndex,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      minCosine: Double,
      nprobe: Int): DataFrame =
    cellRange(idx, df, vecCol, idCol, minCosine, nprobe)
      .select(
        least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"),
        col("cosine"))
      .dropDuplicates("id_a", "id_b")

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): embedding pairs above `minCosine` form components
    * (transitive closure — a near-dup of a near-dup is the same semantic
    * cluster), and each cluster elects one representative, the minimum id.
    * Returns (id, rep, cluster_size, kept) for EVERY input row —
    * `where(kept)` is the deduplicated corpus, the rest is the audit trail
    * ("what was dropped and whose duplicate it was").
    *
    * Scale shape: pair generation is the IVF cell join (no quadratic
    * fan-out at nprobe < nlist), components are
    * [[Dedup.dedupClustersStar]]'s alternating large/small-star rounds
    * over the (small) pair set — embedding-similarity components are
    * chain-shaped (a drifts to b drifts to c), exactly the long-diameter
    * graphs where O(log²)-round star contraction beats O(diameter)
    * min-label propagation — and the size/kept attach is one window over
    * the labels. Corpus vectors ride exactly one shuffle (the cell join);
    * text never moves at all.
    */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      minCosine: Double,
      nlist: Int = 16,
      nprobe: Int = 16): DataFrame = {
    val pairs = ivfSimilarityJoin(df, vecCol, idCol, minCosine, nlist, nprobe)
    val labels = Dedup.dedupClustersStar(df.select(col(idCol)), idCol, pairs)
    val w = Window.partitionBy(col("rep"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
      .withColumn("kept", col("id") === col("rep"))
  }

  /** [[semanticDedup]] with a QUALITY-keyed survivor election: within each
    * semantic cluster the row with the highest `scoreCol` survives (ties:
    * smallest id; null scores last) instead of the min-id representative —
    * "keep the cleanest copy of each semantic duplicate class" (most
    * recent crawl, best quality signal), the [[Dedup.exactKeepBest]] rule
    * at embedding granularity. Output keeps [[semanticDedup]]'s audit
    * shape `(id, rep, cluster_size, kept)`; `rep` stays the min-id
    * cluster LABEL (stable under re-scoring) while `kept` marks the
    * elected winner.
    *
    * Plan shape: identical to [[semanticDedup]] plus one narrow
    * (id, score) join onto the labels — embeddings never ride the
    * election window.
    */
  def semanticDedupKeepBest(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      scoreCol: String,
      minCosine: Double,
      nlist: Int = 16,
      nprobe: Int = 16): DataFrame = {
    val pairs = ivfSimilarityJoin(df, vecCol, idCol, minCosine, nlist, nprobe)
    val labels = Dedup.dedupClustersStar(df.select(col(idCol)), idCol, pairs)
    val scored = labels.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
    val w = Window.partitionBy(col("rep"))
    val we = Window.partitionBy(col("rep"))
      .orderBy(col("__score").desc_nulls_last, col("id").asc)
    scored
      .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
      .withColumn("kept", row_number().over(we) === 1)
      .drop("__score")
  }

  /** [[semanticDedup]] for DAILY ARRIVALS against a standing ANN index —
    * the incremental form every other dedup family already has
    * ([[Dedup.minhashPairsAgainstIndex]], [[Decontam.containmentPairsAgainst]],
    * [[Decontam.winnowingPairsAgainstIndex]], [[Dedup.dedupParagraphsAgainstIndex]]):
    * the batch probes the persisted index ([[writeAnnIndex]]) for
    * CROSS-side pairs only — the standing corpus is never re-paired
    * against itself — and survivors are elected against the standing
    * representatives. Returns `(id, rep, kept)` for every batch row:
    *
    *   - a row whose component touches the standing corpus is a duplicate:
    *     `kept = false`, `rep` = the smallest matched STANDING id (the
    *     standing side wins every election regardless of id order —
    *     first-writer-wins, the same seniority rule as the other index
    *     lifecycles, so a standing survivor is never retroactively
    *     demoted by an arriving near-duplicate);
    *   - a batch-only component elects its minimum id: `kept` marks it,
    *     the rest carry it as `rep` ([[semanticDedup]]'s audit shape).
    *
    * `withinBatch = true` (default) also pairs the batch against itself —
    * cell-keyed by the INDEX's own centroids, so recall behaves uniformly
    * across both pair kinds — making the call the exact daily twin of
    * re-running [[semanticDedup]] over the union with standing-standing
    * pairs withheld (at `nprobe = nlist` exactly; below it, IVF recall).
    * Two batch rows near a common standing vector unify THROUGH it even
    * when not near each other, matching the union closure.
    *
    * Replay guard: a batch id already committed to the index is already
    * represented — it comes back `kept = false` anchored at itself (or a
    * smaller matched standing id), so replaying yields no survivors and
    * the appendix loop below stays idempotent. The intended daily loop:
    *
    * {{{
    *   val audit = semanticDedupAgainstIndex(batch, "vec", "id", path, tau)
    *   val survivors = batch.join(audit.where(col("kept")), Seq("id"), "left_semi")
    *   appendAnnIndex(survivors, "vec", "id", path)   // dup-ids rejected
    * }}}
    *
    * Cost shape at 100 TB: the standing side is two narrow manifest reads
    * (probe join + the replay-guard id column); batch vectors ride ONE
    * cell-keyed shuffle per pair kind; the closure runs over the (small)
    * pair set; nothing corpus-sized is cached, collected, or rewritten.
    */
  def semanticDedupAgainstIndex(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      minCosine: Double,
      nprobe: Int = 4,
      withinBatch: Boolean = true): DataFrame = {
    val (labels, ids, anchorRep) =
      semanticProbeLabels(batch, vecCol, idCol, path, minCosine, nprobe, withinBatch)
    labels.join(ids, Seq("id"))
      .join(anchorRep, Seq("rep"), "left")
      .select(col("id"),
        coalesce(col("__anchor"), col("rep")).as("rep"),
        (col("__anchor").isNull && col("id") === col("rep")).as("kept"))
  }

  /** [[semanticDedupAgainstIndex]] with a QUALITY-keyed survivor election
    * inside batch-only clusters: the highest-`scoreCol` row survives
    * (ties: smallest id; null scores last) — [[semanticDedupKeepBest]]'s
    * rule in the incremental setting. Components touching the standing
    * corpus still keep NOTHING regardless of score: the standing
    * representative won when IT was committed, and a later arrival cannot
    * re-elect it (first-writer-wins, the same contract as
    * [[Dedup.dedupParagraphsKeepBest]]'s standing-index note — rebuild
    * from source when quality must re-rank the whole corpus). `rep` stays
    * the deterministic audit label: the smallest matched standing id for
    * anchored components, the min batch id otherwise.
    */
  def semanticDedupKeepBestAgainstIndex(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      scoreCol: String,
      path: String,
      minCosine: Double,
      nprobe: Int = 4,
      withinBatch: Boolean = true): DataFrame = {
    val (labels, ids, anchorRep) =
      semanticProbeLabels(batch, vecCol, idCol, path, minCosine, nprobe, withinBatch)
    val scored = labels.join(ids, Seq("id"))
      .join(batch.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
      .join(anchorRep, Seq("rep"), "left")
    // election window over the min-id cluster LABEL (`rep` pre-override),
    // scores ride a narrow (id, score) join — embeddings never shuffle
    val we = Window.partitionBy(col("rep"))
      .orderBy(col("__score").desc_nulls_last, col("id").asc)
    scored
      .withColumn("__rn", row_number().over(we))
      .select(col("id"),
        coalesce(col("__anchor"), col("rep")).as("rep"),
        (col("__anchor").isNull && col("__rn") === 1).as("kept"))
  }

  /** Shared probe core of the two incremental SemDeDup elections: cross
    * pairs from the index probe (+ replay self-anchors), optional
    * in-batch pairs cell-keyed by the index's centroids, star-contraction
    * labels over the mixed node set, and each component's smallest
    * matched standing anchor. Returns (labels(id, rep), batch ids,
    * anchorRep(rep, __anchor)).
    */
  private def semanticProbeLabels(
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      minCosine: Double,
      nprobe: Int,
      withinBatch: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val ep = resolveAnnIndex(spark, path)
    val ids = batch.select(col(idCol).as("id"))
    val idx = annIndexAt(spark, ep)
    val probePlan = cellRange(idx, batch, vecCol, idCol, minCosine, nprobe)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    // replay guard: an already-indexed id anchors to itself (self-edges
    // are closure no-ops, but the id joins the anchor set below). The
    // epoch's id bloom clears the COMMON case — a batch of genuinely new
    // ids — without touching the standing id column at all (no false
    // negatives, so an all-miss batch provably has no replays); only
    // bloom hits pay the exact semi-join.
    val withReplays =
      if (!EpochStore.idGuardNeedsExact(spark, ep, batch, idCol)) probePlan
      else probePlan.unionByName(ids
        .join(EpochStore.readTable(spark, ep, "assigned").select("id"),
          Seq("id"), "left_semi")
        .select(col("id").as("id_a"), col("id").as("id_b")))
    // cross pairs: batch → standing (consumed twice below — once as
    // edges, once as the anchor set — hence materialized)
    val cross = Materialize.eager(withReplays)
    val inBatch =
      if (!withinBatch) cross.limit(0)
      else {
        // the standing index's per-cell populations proxy the batch's own
        // distribution (a templated cell in the corpus is templated in its
        // arrivals too), so the in-batch join inherits the salt guard
        val batchIdx = idx.copy(
          assigned = cellAssigned(idx.centroids, batch, vecCol, idCol))
        ivfSimilarityJoinPlan(batchIdx, batch, vecCol, idCol, minCosine, nprobe)
          .select(col("id_a"), col("id_b"))
      }
    val anchors = cross.select(col("id_b").as("id")).distinct()
    // CLEAN-BATCH fast path — the production common case (a daily batch
    // with no near-duplicates at all): zero edges means every batch row
    // is its own singleton component, so the star-contraction rounds,
    // the node union, and the anchor aggregation are all skipped. The
    // edge set is materialized either way (the closure's rounds would
    // persist it anyway; here it also makes the emptiness probe free).
    val edges = Materialize.eager(cross.unionByName(inBatch))
    // ids.distinct() in BOTH branches: the closure branch distincts its
    // node union, so the fast path must match or output multiplicity
    // would depend on which branch ran for a (caller-error) dup-id batch
    val labels =
      if (edges.isEmpty) ids.distinct().select(col("id"), col("id").as("rep"))
      else Dedup.dedupClustersStar(
        ids.unionByName(anchors).distinct(), "id", edges)
    // the standing-wins override: each component's smallest matched
    // standing id (when any) replaces the min-id label as `rep`
    val anchorRep = labels.join(anchors, Seq("id"))
      .groupBy(col("rep")).agg(min(col("id")).as("__anchor"))
    (labels, ids, anchorRep)
  }

  /** LSH-bucketed top-k: exact cosine only within the query's hyperplane
    * bucket(s). `bands` independent plane families OR-amplify recall
    * exactly like [[graft.ops.Dedup.embeddingNearDup]]'s banding — a true
    * neighbor is a candidate if it collides in ANY band, so recall is
    * 1 − (1 − p^planes)^bands instead of p^planes. Rank semantics are
    * identical to brute force within the candidate set.
    *
    * Plan shape: the (small) banded query side is broadcast, so the corpus
    * is scanned once per plan with a map-side `posexplode` into its `bands`
    * buckets and NEVER shuffled; only candidate `(query_id, neighbor_id,
    * cosine)` triples (24 bytes) reach the dedup + ranking shuffles.
    * `bands = 1` is the classic single-table LSH.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      planes: Int = 8,
      bands: Int = 1): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    // cosine before dedup: a pair colliding in several bands computes the
    // (cheap, codegen) kernel per collision but shuffles only the triple
    topKPerQuery(
      scoredCandidates(queries, vecCol, idCol, Bands(corpus, planes, bands))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
        .distinct(), k)
  }

  /** On-disk format version of the persisted ANN (IVF) index — same loud
    * version check as the dedup index ([[Dedup.DedupIndexFormatVersion]]):
    * a standing index outlives code versions, and probing with drifted
    * centroids or layout must fail, not silently return wrong neighbors.
    * v2 records nlist/dim/quantized in the [[EpochStore]] epoch header.
    */
  val AnnIndexFormatVersion: Int = 2

  private[graft] val AnnIndex = EpochStore.EpochIndex(
    EpochStore.IndexKind("ANN", AnnIndexFormatVersion, "writeAnnIndex"),
    tables = Seq("assigned"), epochTables = Seq("centroids"), idTable = Some("assigned"))

  private[graft] def resolveAnnIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): EpochStore.Epoch =
    AnnIndex.resolve(spark, path)

  /** Centroids plus the PERSISTED per-cell population estimates (the
    * dense-cell salt guard's input — see [[saltFactors]]).
    */
  private def readAnnCentroidsWithCounts(
      spark: org.apache.spark.sql.SparkSession,
      ep: EpochStore.Epoch): (Centroids, Map[Int, Long]) = {
    val rows = EpochStore.readEpochTable(spark, ep, "centroids").collect()
    (rows.map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq.sortBy(_._1),
      rows.map(r => r.getInt(0) -> r.getLong(2)).toMap)
  }

  /** The epoch's `centroids` table: (cell, centroid, n) in one file. */
  private def annCentroidsTable(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Centroids, counts: Map[Int, Long]): DataFrame = {
    import spark.implicits._
    centroids.map { case (c, v) => (c, v, counts.getOrElse(c, 0L)) }
      .toDF("cell", "centroid", "n").coalesce(1)
  }

  /** The header params of an ANN epoch. */
  private def annParams(
      centroids: Centroids, nlist: Int, quantized: Boolean): Map[String, String] =
    Map("nlist" -> nlist.toString,
      "dim" -> centroids.headOption.map(_._2.length).getOrElse(0).toString,
      "quantized" -> quantized.toString)

  /** The assigned table as (cell, id, vec float vectors) regardless of
    * storage: quantized epochs dequantize on read (`q · scale`, fused into
    * the scan — codegen arithmetic, no shuffle, no UDF).
    */
  private def readAssignedVecs(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): DataFrame = {
    val t = EpochStore.readTable(spark, ep, "assigned")
    if (ep.header.bool("quantized"))
      dequantizeInt8(t, "qvec", "scale", "vec").select("cell", "id", "vec")
    else t.select("cell", "id", "vec")
  }

  /** The persisted index at epoch `ep` as an [[IvfIndex]]: its centroids,
    * the stored corpus as the assigned side, and dense-cell salts from the
    * PERSISTED population estimates (see [[saltFactors]]).
    */
  private def annIndexAt(
      spark: org.apache.spark.sql.SparkSession, ep: EpochStore.Epoch): IvfIndex = {
    val (centroids, counts) = readAnnCentroidsWithCounts(spark, ep)
    IvfIndex(centroids,
      readAssignedVecs(spark, ep).select(
        col("cell"), col("id").as("neighbor_id"), col("vec").as("cv")),
      saltFactors(counts, DefaultMaxCellFraction))
  }

  /** The storage projection of one batch of (cell, id, vec) rows: float
    * vectors pass through, quantized indexes store per-vector int8 codes +
    * scale ([[quantizeInt8]]) — the 4× cut, applied identically at build
    * and append time (per-vector max-abs scaling carries no global state,
    * so appends are self-consistent with any standing epoch).
    */
  private def assignedStorage(assigned: DataFrame, quantize: Boolean): DataFrame =
    if (!quantize) assigned
    else quantizeInt8(assigned, "vec")
      .select(col("cell"), col("id"), col("vec_q").as("qvec"), col("scale"))

  /** Centroids trained without touching anything corpus-sized: hyperplane
    * seeding then per-cell element means over a content-keyed sample —
    * ONE aggregation job (map-side partial means, so the shuffle carries
    * cells × dim partial states, not rows), nothing cached, nothing but
    * the nlist × dim result collected. `trainFraction = 1.0` reproduces
    * [[ivfBuild]]'s centroids exactly; at 100 TB pass a small fraction —
    * centroid quality needs a sample, not the corpus, and probe
    * correctness at `nprobe = nlist` is independent of what the quantizer
    * learned (pinned by the OpsPropertySpec property and RecallSpec).
    * The sample is keyed on `xxhash64(id)`, so it is reproducible across
    * runs, engines, and partitionings.
    *
    * Also returns per-seed-cell sample vector counts (the skew estimate
    * feeding [[saltFactors]]) — same single aggregation job, the count
    * rides the existing (cell, pos) groups for free. Counts are of SEEDED
    * cells (raw hyperplane bucket); the Lloyd half-step re-assigns some
    * boundary vectors, but a degenerate dense cluster (identical vectors)
    * moves together either way, which is what the guard is for.
    */
  private def trainCentroidsAndCounts(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int,
      trainFraction: Double): (Centroids, Map[Int, Long]) = {
    require(nlist > 1 && Integer.bitCount(nlist) == 1, "nlist must be a power of 2")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val planes = Integer.numberOfTrailingZeros(nlist)
    val sampled =
      if (trainFraction >= 1.0) corpus
      else corpus.where(
        pmod(xxhash64(col(idCol)), lit(1000000L)).cast("double") / 1000000.0
          < trainFraction)
    val rows = sampled.select(
        hyperplaneBucket(col(vecCol), planes).as("cell"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("cell", "pos").agg(avg(col("x")).as("m"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getInt(0))
    val centroids = rows
      .map { case (cell, rs) =>
        cell -> rs.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
      }
      .toSeq.sortBy(_._1)
    require(centroids.nonEmpty,
      s"centroid training sample is empty (trainFraction = $trainFraction " +
      "over this corpus) — raise trainFraction or check the vector column")
    val counts = rows.map { case (cell, rs) => cell -> rs.map(_.getLong(3)).max }
    (centroids, counts)
  }

  /** Persist an IVF index so daily probe jobs stop re-training centroids
    * and re-assigning the corpus per session — the ANN twin of
    * [[Dedup.writeDedupIndex]], on the same [[EpochStore]] delta-epoch
    * layout: `<path>/current` → live epoch; the epoch holds `centroids`
    * (tiny: nlist × dim, rewritten per epoch) and the epoch header (nlist/
    * dim/quantized and the format version — probes read parameters FROM the
    * index — plus the manifest over immutable `data/assigned-N` dirs of
    * (cell, id, vec) rows). Build
    * commits epoch N+1 atomically over a live index (non-destructive, like
    * the dedup rebuild); single writer at a time
    * ([[EpochStore.commitEpoch]]).
    *
    * Cost shape: TWO plain corpus scans (sampled centroid training, then
    * the literal-centroid assignment feeding the write) and nothing
    * persisted — a 100 TB build must not park the corpus in executor
    * storage to train a few centroids (the in-session [[ivfBuild]] follows
    * the same discipline). Set `trainFraction` well below 1 at scale; the
    * default reproduces [[ivfBuild]]'s centroids exactly.
    *
    * At real scale, `assigned` is the corpus' vectors re-keyed by a small
    * int — store it once, probe many times; cell-bucketing the table makes
    * every probe join exchange-free on the corpus side.
    *
    * `quantize = true` stores per-vector int8 codes + a float scale
    * ([[quantizeInt8]]) instead of float vectors — the 4× storage/IO cut a
    * 100 TB vector store takes first. The scheme is recorded in the header and
    * every reader honors it: probes dequantize ON READ (`q · scale` fused
    * into the scan — codegen arithmetic, no shuffle), appends quantize
    * their deltas to match the standing epochs (per-vector max-abs scaling
    * carries no global state), and compaction preserves the original codes
    * (re-quantizing a dequantized vector is an identity round-trip).
    * Neighbor results are computed over the dequantized vectors — exact
    * for THAT stored corpus, within quantization error of the float one
    * (RecallSpec pins the top-k recall floor).
    */
  def writeAnnIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      nlist: Int = 16,
      retainEpochs: Int = 2,
      trainFraction: Double = 1.0,
      quantize: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    AnnIndex.build(spark, path, retainEpochs) { out =>
      val (centroids, sampleCounts) =
        trainCentroidsAndCounts(corpus, vecCol, idCol, nlist, trainFraction)
      // estimated FULL populations (sample counts scaled back) — persisted
      // with the centroids so probe-side joins can salt dense cells
      val counts = sampleCounts.map { case (c, n) =>
        c -> math.round(n / trainFraction)
      }
      // the corpus-sized assigned write (then its read-back bloom) overlaps
      // the O(nlist) centroids write
      EpochStore.Arms.fresh(annParams(centroids, nlist, quantize))(
        () => out.write("assigned", assignedStorage(
          corpus.select(
            nearestCell(centroids, col(vecCol)).as("cell"),
            col(idCol).as("id"), col(vecCol).as("vec")),
          quantize)),
        () => out.write("centroids", annCentroidsTable(spark, centroids, counts)))
    }
  }

  /** Fold new vectors into a standing ANN index WITHOUT re-training or
    * re-assigning the existing corpus: the arrivals assign to the index's
    * OWN centroids (standard IVF append — the quantizer is frozen between
    * rebuilds) and land as one delta `assigned` dir referenced by the new
    * epoch's manifest; nothing standing is copied. Ids must be disjoint
    * from the index (same loud rejection as the dedup append). When drift
    * from the trained centroids warrants re-quantizing, retrain in place
    * with [[compactAnnIndex]]`(retrain = true)` — or rebuild from source
    * with [[writeAnnIndex]].
    */
  def appendAnnIndex(
      newVecs: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      retainEpochs: Int = 2): Unit = {
    val spark = newVecs.sparkSession
    AnnIndex.appendNew(newVecs, idCol, path, retainEpochs, "appendAnnIndex",
      "duplicate neighbors") { (cur, out) =>
      val quantized = cur.header.bool("quantized") // storage scheme is the index's, not the caller's
      val (centroids, standingCounts) = readAnnCentroidsWithCounts(spark, cur)
      // successor cell counts: standing + the batch's own (one tiny agg —
      // nlist rows — over the batch's frozen-quantizer assignment)
      val deltaCounts = newVecs
        .select(nearestCell(centroids, col(vecCol)).as("cell"))
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val counts = (standingCounts.keySet ++ deltaCounts.keySet).map { c =>
        c -> (standingCounts.getOrElse(c, 0L) + deltaCounts.getOrElse(c, 0L))
      }.toMap
      // delta write and small tables are independent (the template adds the
      // successor bloom as a third arm)
      EpochStore.Arms(
        () => out.write("assigned", assignedStorage(
          newVecs.select(
            nearestCell(centroids, col(vecCol)).as("cell"),
            col(idCol).as("id"), col(vecCol).as("vec")),
          quantized)),
        () => out.write("centroids", annCentroidsTable(spark, centroids, counts)))
    }
  }

  /** Corpus-scale [[hardNegatives]]: candidates come from the standing
    * ANN index instead of a broadcast-quadratic sweep, so the query side
    * can itself be corpus-sized (mining negatives for every training
    * example at once). Each query probes its `nprobe` nearest cells; the
    * in-band filter (`[minCosine, maxCosine)`) prunes BEFORE the ranking
    * window, so the one shuffle carries only in-band (query_id,
    * neighbor_id, cosine) rows — band selectivity, not candidate count.
    * `nprobe = nlist` probes every cell and is EXACTly [[hardNegatives]]
    * against the indexed corpus (the oracle trick); at nprobe < nlist
    * recall trades like FAISS IVF. Zero-magnitude vectors never match
    * ([[annRangeAgainstIndex]]'s NaN guard).
    */
  def hardNegativesAgainstIndex(
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      k: Int,
      maxCosine: Double,
      minCosine: Double,
      nprobe: Int = 4): DataFrame = {
    require(minCosine < maxCosine,
      s"empty band: minCosine $minCosine must be < maxCosine $maxCosine")
    // the floor (and its NaN guard) is the range probe's; only the ceiling is added
    topKPerQuery(annRangeAgainstIndex(queries, vecCol, idCol, path, minCosine, nprobe)
      .where(col("cosine") < maxCosine), k)
  }

  /** Diversity-aware downsample: cluster the corpus by embedding (the IVF
    * quantizer's cells — deterministic hash-seeded hyperplane init + one
    * Lloyd half-step, [[ivfBuild]]) and keep `nPerCell` rows per cell
    * (whole cells when smaller), picked content-keyed by `idCol`
    * ([[Sampling.takePerStratum]] — same rows on any cluster or rerun).
    * The training-data use: a uniform sample over-represents dense
    * semantic regions; capping per cell flattens the density profile
    * without an expensive global dedup. Output = input columns + `cell`.
    *
    * Cost: two plain corpus scans (sampled centroid training, then the
    * literal-centroid assignment) + the one per-cell window shuffle — no
    * joins, no caching, nothing corpus-sized broadcast or collected. At
    * 100 TB set `trainFraction` well below 1 ([[writeAnnIndex]]'s
    * argument applies verbatim).
    */
  def diversitySample(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nPerCell: Int,
      nlist: Int = 16,
      trainFraction: Double = 1.0): DataFrame = {
    require(!corpus.columns.contains("cell"),
      "diversitySample adds a 'cell' column — rename the existing one first")
    val (centroids, _) =
      trainCentroidsAndCounts(corpus, vecCol, idCol, nlist, trainFraction)
    Sampling.takePerStratum(
      corpus.withColumn("cell", nearestCell(centroids, col(vecCol))),
      "cell", idCol, nPerCell)
  }

  /** Deterministic integer-exact k-center cell assignment — the
    * engine-portable twin of the float-IVF centroid training for
    * pipelines whose downstream decisions must replay bit-exact: seeds
    * are the first `k` rows in `(md5(id), id)` content order, every
    * vector is int8-quantized ([[int8Codes]]), and its cell is the seed
    * with the highest EXACT integer dot product (ties to the lowest seed
    * id; a null/zero vector has all-null/zero dots and lands in the
    * lowest seed's cell by the same rule). Ids must be integral (the
    * seed tie-break orders them numerically, the [[Dedup]]
    * driver-fast-path discipline). Adds `cell` (the winning seed's id)
    * to the input's columns.
    *
    * Plan shape for 100 TB: seed election is one k-row
    * TakeOrderedAndProject collect (the IVF-centroid discipline — k·dim
    * int8 literals ride the plan), and assignment is PURE per-row
    * codegen: the row quantizes ONCE (let-bound — HOF lambdas re-evaluate
    * captured subtrees per element) and folds a strict-greater argmax
    * over the k seed literals. Zero shuffles, zero joins; composes onto
    * a stream unchanged.
    */
  def integerCellAssign(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(!df.columns.contains("cell"),
      "integerCellAssign adds a 'cell' column — rename the existing one first")
    val seeds = collectCellSeeds(df, vecCol, idCol, k)
    if (seeds.isEmpty) return df.withColumn("cell", lit(null))
    df.withColumn("cell", integerCellColumn(col(vecCol), seeds))
  }

  /** The k seed (id, int8 codes) pairs behind [[integerCellAssign]]:
    * first k rows in `(md5(id), id)` content order — a bounded k-row
    * collect (the IVF-centroid discipline), reusable as the FROZEN
    * quantizer for streaming assignment.
    */
  def collectCellSeeds(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int): Seq[(Any, Seq[Byte])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    quantizeInt8(df.select(col(idCol), col(vecCol)), vecCol)
      .select(col(idCol), col(s"${vecCol}_q"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(k)
      .collect()
      .map(r => (r.get(0),
        if (r.isNullAt(1)) null else r.getSeq[Byte](1))).toSeq
  }

  /** Plan-literal cap for [[integerCellColumn]]'s frozen seed table:
    * total int8 code bytes allowed to ride the plan (1 MiB — generous for
    * the documented small-k usage, loud for the k·dim regimes that belong
    * on the IVF join path).
    */
  val MaxSeedLiteralBytes: Long = 1L << 20

  /** [[integerCellAssign]]'s decision as a pure Column over literal
    * seeds — zero shuffle, zero state, so it runs unchanged on a
    * Structured Streaming frame (in-flight cell routing for arrivals
    * against a frozen quantizer).
    */
  def integerCellColumn(vec: Column, seeds: Seq[(Any, Seq[Byte])]): Column = {
    require(seeds.nonEmpty, "integerCellColumn needs at least one seed")
    // loud plan-literal cap (the collectCellSums / MaxBlocklistEntries
    // discipline): k seeds × dim int8 codes ride EVERY task binary as
    // typedlit literals — k = 4096 at dim 1024 would silently ship ~4 MB
    // into each serialized task. Large-k assignment belongs to the IVF
    // index path ([[ivfBuild]] / [[writeAnnIndex]]), whose centroids are
    // joined, not inlined.
    val literalBytes = seeds.iterator
      .map { case (_, c) => if (c == null) 0L else c.length.toLong }.sum
    require(literalBytes <= MaxSeedLiteralBytes,
      s"integerCellColumn: ${seeds.length} seeds carry $literalBytes " +
        s"literal code bytes, over $MaxSeedLiteralBytes — a seed table " +
        "this large bloats every task binary; assign cells through the " +
        "IVF index join path (ivfBuild/writeAnnIndex) or shrink k·dim")
    // linear-size argmax: sort (dot, -seed, seed) structs ascending and
    // take the last — highest dot wins, ties to the LOWEST seed id, and
    // all-null dots (null vector) fall through to the lowest seed. A
    // when-chain fold here would duplicate the candidate subtrees 2^k
    // times into the task binary.
    Dedup.bind(int8Codes(vec)) { qv =>
      val cand = seeds.map { case (sid, codes) =>
        val dot =
          if (codes == null) lit(null).cast("long")
          else aggregate(
            zip_with(qv, typedlit(codes.toSeq),
              (a, b) => a.cast("long") * b.cast("long")),
            // null PRODUCTS (a malformed null element) are skipped, the
            // same rule as the cell sums and DuckDB's list_sum — only a
            // wholly-null vector null-propagates (qv itself is null)
            lit(0L), (acc, x) => acc + coalesce(x, lit(0L)))
        struct(dot.as("d"),
          // negateExact: Long.MinValue would wrap and invert the
          // ties-to-lowest rule silently
          lit(math.negateExact(sid.asInstanceOf[Number].longValue)).as("ns"),
          lit(sid).as("s"))
      }
      element_at(array_sort(array(cand: _*)), -1)("s")
    }
  }

  /** Loud bound on [[integerKMeans]]' driver loop — each round is one
    * aggregate job over the corpus, so a runaway round count is a cost
    * bug, not a convergence strategy (Lloyd at small k settles in a
    * handful of rounds).
    */
  val MaxKMeansRounds: Int = 64

  /** Full multi-round Lloyd k-means (Lloyd 1982, "Least squares
    * quantization in PCM") over int8-quantized embeddings, EXACT in
    * integer arithmetic end to end — the multi-round refinement of
    * [[integerCellAssign]]'s one-shot seeding, for corpus maps and
    * prototype cells that should be real clusters rather than raw seed
    * buckets. All geometry runs on the SHIFTED codes `u = q + 127 ∈
    * [0, 254]`: assignment is exact integer squared-L2 `Σ(u_i − m_i)²`
    * (shift-invariant), ties to the LOWEST cell id; centroid update is
    * the element-wise FLOOR mean `⌊Σu_i / n⌋` — non-negative by
    * construction, so BigInt/Spark truncation and SQL floor division
    * agree and every round replays bit-exact cross-engine (the
    * [[prototypeScores]] discipline extended from scoring to the full
    * iteration).
    *
    * Cells are named by their seed row's numeric id (the first k
    * non-null-vector rows in `(md5(id), id)` content order —
    * [[collectCellSeeds]]' rule restricted to rows a centroid can be
    * built from). `rounds` Lloyd iterations (mean → reassign) follow the
    * seed assignment; `rounds = 0` is the plain seed Voronoi. A cell
    * that loses every member simply drops out of later rounds (the
    * classic empty-cell rule); null vectors take no part and come back
    * with null cell/dist.
    *
    * Returns `(idCol, cell, dist)` — dist the final exact integer
    * squared distance (`≤ dim · 254²`, far inside 2⁵³).
    *
    * Plan shape for 100 TB: per round, ONE map-side-combining
    * (cell, pos) aggregate collapses to k·dim rows, the k mean vectors
    * come back as plan literals (capped by [[MaxSeedLiteralBytes]] at 8
    * bytes per element — large k·dim belongs on the IVF join path), and
    * assignment is pure per-row codegen arithmetic — embeddings never
    * shuffle, and the quantized frame is persisted once across rounds.
    */
  def integerKMeans(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(!df.columns.contains("cell") && !df.columns.contains("dist"),
      "integerKMeans adds 'cell' and 'dist' columns — rename existing ones first")
    val u = kMeansCodes(df, vecCol, idCol).persist()
    try {
      val cents = kMeansIterate(u, idCol, k, rounds)
      if (cents.isEmpty)
        return df.select(col(idCol), lit(null).cast("bigint").as("cell"),
          lit(null).cast("bigint").as("dist"))
      // the argmin struct lands once in its own projection — splitting
      // its fields in the same select would duplicate the whole k-way
      // array_sort per output column
      u.select(col(idCol),
          when(col("__uv").isNotNull,
            kMeansAssignStruct(col("__uv"), cents)).as("__a"))
        .select(col(idCol),
          col("__a")("s").as("cell"), col("__a")("d").as("dist"))
    } finally u.unpersist()
  }

  /** [[integerKMeans]]' trained centroid table alone — the FROZEN
    * quantizer for in-flight assignment (the [[collectCellSeeds]] /
    * [[collectCellSums]] literal-table discipline): run the same seed +
    * Lloyd iteration and return the final `(cell id, shifted-code mean
    * vector)` rows, to feed [[kMeansAssignColumn]] on a stream or a later
    * batch. Possibly fewer than k entries (empty cells drop); empty when
    * the corpus has no usable vector.
    */
  def integerKMeansCentroids(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      rounds: Int): Seq[(Long, Seq[Long])] = {
    val u = kMeansCodes(df, vecCol, idCol).persist()
    try kMeansIterate(u, idCol, k, rounds)
    finally u.unpersist()
  }

  /** [[integerKMeans]]' assignment as a pure Column over a frozen
    * [[integerKMeansCentroids]] table: quantize the raw vector with the
    * same int8 rule, shift, and take the exact integer squared-L2 argmin
    * — `struct(cell, dist)`, null for a null vector. No join, no
    * shuffle, no state: a Structured Streaming frame routes arrivals to
    * their cluster row-by-row exactly like [[integerCellColumn]] routes
    * to seed cells.
    */
  def kMeansAssignColumn(vec: Column, cents: Seq[(Long, Seq[Long])]): Column =
    Dedup.bind(transform(int8Codes(vec), x => x.cast("long") + 127L)) { uv =>
      when(uv.isNotNull,
        Dedup.bind(kMeansAssignStruct(uv, cents)) { a =>
          struct(a("s").as("cell"), a("d").as("dist"))
        })
    }

  /** The shared quantize-and-shift projection behind the k-means entry
    * points: `(idCol, __uv)` with `__uv = int8 codes + 127 ∈ [0, 254]`.
    */
  private def kMeansCodes(
      df: DataFrame, vecCol: String, idCol: String): DataFrame =
    quantizeInt8(df.select(col(idCol), col(vecCol)), vecCol)
      .select(col(idCol),
        transform(col(s"${vecCol}_q"), x => x.cast("long") + 127L).as("__uv"))

  /** Seed selection + the Lloyd rounds over a (persisted) codes frame —
    * one definition shared by [[integerKMeans]] and
    * [[integerKMeansCentroids]] so the batch labels and the frozen table
    * cannot drift.
    */
  private def kMeansIterate(
      u: DataFrame, idCol: String, k: Int, rounds: Int): Seq[(Long, Seq[Long])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0 && rounds <= MaxKMeansRounds,
      s"rounds must be in [0, $MaxKMeansRounds], got $rounds")
    val seeds = u.where(col("__uv").isNotNull && col(idCol).isNotNull)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(k).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue, sentinelSeq(r, 1)))
      .toSeq
    var cents: Seq[(Long, Seq[Long])] = seeds
    // (seeds and round means both flow through sentinelSeq — null
    // components arrive here already encoded as -1)
    var r = 0
    while (cents.nonEmpty && r < rounds) {
      val asg = u.where(col("__uv").isNotNull)
        .withColumn("__cell", kMeansAssignStruct(col("__uv"), cents)("s"))
      val rows = asg
        .select(col("__cell"), posexplode(col("__uv")).as(Seq("__p", "__x")))
        .groupBy(col("__cell"), col("__p"))
        .agg(expr("sum(__x) div count(1)").as("__m"))
        .groupBy(col("__cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("__p"), col("__m")))),
          e => e("__m")).as("__mv"))
        .collect()
      cents = rows.map(row => (row.getLong(0), sentinelSeq(row, 1)))
        .sortBy(_._1).toSeq
      r += 1
    }
    cents
  }

  /** [[integerKMeans]]' assignment decision as a pure Column over the
    * frozen centroid table: `struct(d = min squared distance, s = its
    * cell id)`, ties to the LOWEST cell id, via the NATIVE
    * [[graft.functions.native.intKMeansAssign]] kernel — one tight JVM
    * loop per row where the expression form would run k × dim
    * interpreted lambda evaluations per row (measured 3–4× on the q186
    * train rounds; the gap widens with k·dim). A null centroid
    * component (a cell whose every member lacked that position) is the
    * kernel's -1 skip sentinel, matching the zip_with null-product skip
    * of the expression form this replaces; [[sentinelSeq]] encodes it at
    * collect time, so components arriving here live in {-1} ∪ [0, 254]
    * (enforced below — a value outside that range means a caller
    * bypassed the encoding). Null vectors produce a null struct —
    * callers guard. The size cap counts 8 bytes per centroid element
    * (the table rides every task binary as expression state).
    */
  private def kMeansAssignStruct(
      uv: Column, cents: Seq[(Long, Seq[Long])]): Column = {
    require(cents.nonEmpty, "kMeansAssignStruct needs at least one centroid")
    val literalBytes = cents.iterator.map(_._2.length.toLong * 8L).sum
    require(literalBytes <= MaxSeedLiteralBytes,
      s"integerKMeans: ${cents.length} centroids carry $literalBytes " +
        s"literal bytes, over $MaxSeedLiteralBytes — route large k·dim " +
        "through the IVF index join path instead")
    require(cents.forall(_._2.forall(x => x == -1L || (x >= 0L && x <= 254L))),
      "kMeansAssignStruct: centroid component outside {-1} ∪ [0, 254] — " +
        "null components must be pre-encoded as -1 (sentinelSeq)")
    graft.functions.native.intKMeansAssign(uv,
      cents.map(_._1), cents.map(_._2))
  }

  /** Collect an `array<bigint>` row column with null components encoded
    * as the assignment kernel's -1 skip sentinel. The boxed read is
    * LOAD-BEARING: `getSeq[Long]` unboxes a boxed null to 0L before any
    * null check can run, and a 0 centroid component adds uv_i² to every
    * distance instead of being skipped — silently diverging from the
    * zip_with null-skip and the DuckDB oracle whenever a cell's members
    * are all null at a position.
    */
  private def sentinelSeq(row: org.apache.spark.sql.Row, i: Int): Seq[Long] =
    row.getSeq[java.lang.Long](i)
      .map(v => if (v == null) -1L else v.longValue)

  /** Per-row prototypicality score for cluster-based data pruning
    * (Sorscher et al. 2022 "Beyond neural scaling laws" SSL prototypes;
    * Tirumala et al. 2023 D4): how close a vector sits to its cluster's
    * center, as the EXACT integer dot product between the row's int8
    * codes and its cell's element-wise CODE SUM. Within a cell the sum
    * vector is the centroid times a constant, so ranking by this integer
    * is the centroid-cosine rank for normalized embeddings — with no
    * float in the decision, it hashes bit-exact cross-engine (the
    * learned-filter quantization discipline applied to geometry).
    * Returns `(idCol, cellCol, proto)`; null vectors score null.
    *
    * Exactness bound: `|proto| ≤ dim · 127² · n_cell` must stay below
    * 2⁵³ for the downstream take's double comparison — at dim 1024
    * that is ~5×10⁸ vectors per cell; size `k` so cells stay under it.
    *
    * Plan shape for 100 TB: the cell sums are ONE map-side-combining
    * (cell, pos) aggregate (per-split partial collapse to k·dim rows)
    * reassembled into k arrays, broadcast back, and the score is pure
    * per-row HOF arithmetic — embeddings never shuffle.
    */
  def prototypeScores(
      df: DataFrame,
      cellCol: String,
      vecCol: String,
      idCol: String): DataFrame = {
    val q = quantizeInt8(
      df.select(col(idCol), col(cellCol), col(vecCol)), vecCol)
      .select(col(idCol), col(cellCol), col(s"${vecCol}_q").as("__qv"))
    q.join(broadcast(cellSumFrame(q, cellCol)), Seq(cellCol))
      .select(col(idCol), col(cellCol),
        protoDot(col("__qv"), col("__sv")).as("proto"))
  }

  /** Exact integer prototypicality dot: int8 codes × code-sum vector,
    * null-element products skipped (the cell-sum aggregate's and DuckDB
    * `list_sum`'s rule), wholly-null arrays null-propagating. ONE
    * definition shared by the batch join path, the frozen-table Column,
    * and the index-corpus pass.
    */
  private def protoDot(qv: Column, sv: Column): Column =
    aggregate(
      zip_with(qv, sv, (a, b) => a.cast("long") * b),
      lit(0L), (acc, x) => acc + coalesce(x, lit(0L)))

  /** One map-side-combining (cell, pos) aggregate reassembled into the
    * per-cell element-wise code-sum arrays — the shared sums subplan of
    * [[prototypeScores]] / [[collectCellSums]]. Input: (…, cellCol,
    * `__qv`).
    */
  private def cellSumFrame(q: DataFrame, cellCol: String): DataFrame =
    q.select(col(cellCol), posexplode(col("__qv")).as(Seq("__p", "__x")))
      .groupBy(col(cellCol), col("__p"))
      .agg(sum(col("__x").cast("long")).as("__s"))
      .groupBy(col(cellCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__p"), col("__s")))),
        e => e("__s")).as("__sv"))

  /** The per-cell code-sum vectors collected driver-side (k rows — the
    * streaming learned filters' literal-table discipline): the FROZEN
    * prototype table for in-flight scoring via
    * [[prototypeScoreColumn]].
    */
  def collectCellSums(
      df: DataFrame,
      cellCol: String,
      vecCol: String,
      maxCells: Int = 4096): Seq[(Any, Seq[Long])] = {
    val q = quantizeInt8(df.select(col(cellCol), col(vecCol)), vecCol)
      .select(col(cellCol), col(s"${vecCol}_q").as("__qv"))
    // loud literal-table cap (the collectWeights discipline): the sums
    // ride the plan as a literal map, so a high-cardinality cell column
    // must fail here, not silently bloat every task binary
    val rows = cellSumFrame(q, cellCol).limit(maxCells + 1).collect()
    require(rows.length <= maxCells,
      s"collectCellSums: more than $maxCells distinct cells — a literal " +
        "prototype table at that cardinality would bloat the plan; use " +
        "the prototypeScores join path or raise maxCells deliberately")
    // getSeq[Long] unboxes a boxed-null sum component (a position where
    // every member is null) to 0L — here that is CORRECT, not the
    // k-means sentinel bug: the consumer is a dot product whose null
    // rule is "skip the position", and multiplying by 0 contributes the
    // same 0 the skip does (the batch path's zip_with null product is
    // coalesced to 0 identically). Distance arithmetic has no such
    // neutral element — that is why kMeansIterate must sentinelSeq.
    rows.map(r => (r.get(0), r.getSeq[Long](1))).toSeq
  }

  /** [[prototypeScores]]' score as a pure Column against a frozen
    * [[collectCellSums]] table riding the plan as one literal map keyed
    * by the cell's string form — no join, no shuffle, no state, so a
    * stream scores arrivals row-by-row (compose with
    * [[integerCellColumn]] for the full in-flight assign → score chain).
    * A null vector, a null cell, or a cell absent from the frozen table
    * scores null (the batch path's inner join drops the last case —
    * streaming keeps the row and flags it with the null).
    */
  def prototypeScoreColumn(
      vec: Column,
      cell: Column,
      sums: Seq[(Any, Seq[Long])]): Column = {
    require(sums.nonEmpty, "prototypeScoreColumn needs at least one cell sum")
    val m = typedlit(sums.map { case (c, s) => c.toString -> s }.toMap)
    protoDot(int8Codes(vec), element_at(m, cell.cast("string")))
  }

  /** The complement policy of [[prototypeDropIds]] — drop the FARTHEST
    * rows of every cell instead (the other regime Sorscher et al. 2022
    * discuss: prototypical pruning wins when data is abundant, but
    * mislabeled or mis-embedded points sit far from every prototype, so
    * noise-dominated corpora prune OUTLIERS): the ids of the
    * `dropFraction` lowest-`proto` rows per cell, exact
    * `(proto ASC, md5(id), id)` order through the same two-phase take
    * over the negated score. The negation happens AFTER a cast to
    * double — the take compares scores as doubles anyway (its documented
    * 2^53 exactness bound), and double negation is exact at every
    * magnitude, so a pathological `Long.MinValue` score cannot wrap and
    * silently invert the order the way a long negation would. Null
    * scores still survive (excluded from set and denominator).
    */
  def outlierDropIds(
      scores: DataFrame,
      cellCol: String,
      idCol: String,
      dropFraction: Double,
      scoreCol: String = "proto"): DataFrame = {
    require(dropFraction > 0.0 && dropFraction < 1.0,
      s"dropFraction must be in (0, 1), got $dropFraction")
    require(!scores.columns.contains("__neg"),
      "outlierDropIds uses a '__neg' scratch column — rename the existing one")
    Sampling.takeTopFraction(
      scores.where(col(scoreCol).isNotNull)
        .withColumn("__neg", -col(scoreCol).cast("double")),
      cellCol, idCol, "__neg", dropFraction)
      .select(col(idCol))
  }

  /** [[prototypeScores]] over a persisted ANN index's OWN corpus — the
    * D4 pruning pass run against the standing vector store without
    * re-reading the source corpus (the [[compactAnnIndex]] philosophy:
    * maintenance from the index's own vectors). Quantized indexes score
    * their STORED int8 codes directly; float indexes quantize on read
    * with the same [[int8Codes]] rule, so both storage forms of the same
    * vectors score identically. Cells are the index's IVF cells — the
    * scale-path assignment — and the score is the usual exact integer
    * code-sum dot. Returns `(id, cell, proto)`.
    */
  def prototypeScoresFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val ep = resolveAnnIndex(spark, path)
    val t = EpochStore.readTable(spark, ep, "assigned")
    val q =
      if (ep.header.bool("quantized"))
        t.select(col("cell"), col("id"), col("qvec").as("__qv"))
      else t.select(col("cell"), col("id"), int8Codes(col("vec")).as("__qv"))
    q.join(broadcast(cellSumFrame(q, "cell")), Seq("cell"))
      .select(col("id"), col("cell"), protoDot(col("__qv"), col("__sv")).as("proto"))
  }

  /** The ids a D4 pass would drop from the index's corpus: the
    * `dropFraction` most prototypical of every IVF cell, from ONE
    * materialized pass over the index's stored codes ([[prototypeDropIds]]
    * semantics — null scores excluded from set and denominator). Feed to
    * the caller's corpus delete/filter, or drop the rows and rebuild via
    * [[compactAnnIndex]]-style maintenance.
    */
  def prototypePruneIndexIds(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      dropFraction: Double): DataFrame = {
    require(dropFraction > 0.0 && dropFraction < 1.0,
      s"dropFraction must be in (0, 1), got $dropFraction")
    prototypeDropIds(
      Materialize.eager(prototypeScoresFromIndex(spark, path)),
      "cell", "id", dropFraction)
  }

  /** Cluster-based corpus pruning (SSL prototypes / D4): drop the
    * `dropFraction` MOST PROTOTYPICAL rows of every cell — the
    * redundant, easiest examples nearest the cluster center — and keep
    * the rest. The published recipe behind "prune 20% of the corpus
    * with no quality loss": semantic dedup removes near-copies, this
    * removes the dense middle. The drop set is
    * [[Sampling.takeTopFraction]] over [[prototypeScores]] (per-cell
    * exact `(proto DESC, md5(id), id)` order, two-phase take — no
    * per-cell global sort), subtracted with one id-keyed anti join.
    * Null-vector rows score null and ALWAYS survive: they are excluded
    * from the drop set and from the fraction's denominator (a cell of 1
    * scored + 3 null rows at dropFraction 0.5 drops at most
    * round(0.5·1) scored rows, never a null one).
    */
  def prototypePrune(
      df: DataFrame,
      cellCol: String,
      vecCol: String,
      idCol: String,
      dropFraction: Double): DataFrame = {
    // validate BEFORE the scoring pipeline materializes — a bad fraction
    // must fail with zero Spark jobs, not after the eager checkpoint
    require(dropFraction > 0.0 && dropFraction < 1.0,
      s"dropFraction must be in (0, 1), got $dropFraction")
    // the take evaluates its input once per phase — materialize the
    // (id, cell, proto) ledger (narrow rows) so the quantize + cell-sum
    // pipeline runs once (reliable checkpoint on a cluster, local here)
    val dropped = prototypeDropIds(
      Materialize.eager(prototypeScores(df, cellCol, vecCol, idCol)),
      cellCol, idCol, dropFraction)
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** The drop set of [[prototypePrune]] from an ALREADY-SCORED ledger —
    * for callers that also need the scores themselves (compute
    * [[prototypeScores]] once, materialize, derive both): the ids of the
    * `dropFraction` highest-`proto` rows of every cell, null scores
    * excluded from set and denominator alike.
    */
  def prototypeDropIds(
      scores: DataFrame,
      cellCol: String,
      idCol: String,
      dropFraction: Double,
      scoreCol: String = "proto"): DataFrame = {
    require(dropFraction > 0.0 && dropFraction < 1.0,
      s"dropFraction must be in (0, 1), got $dropFraction")
    Sampling.takeTopFraction(
      scores.where(col(scoreCol).isNotNull),
      cellCol, idCol, scoreCol, dropFraction)
      .select(col(idCol))
  }

  /** All neighbors with cosine ≥ `floor` from a persisted ANN index — the
    * [[rangeSearch]] twin of [[annTopKAgainstIndex]], and deliberately
    * STATELESS: no ranking window, no broadcast hint on the query side,
    * and each corpus vector lives in exactly ONE cell so a (query,
    * neighbor) pair can never arrive twice. That makes the same plan run
    * unchanged on a STREAMING query frame (Structured Streaming
    * stream-static join; windows and stream-side broadcasts are both
    * unsupported there) — a live embedding stream probing the standing
    * index is exactly this call on `readStream` input. Recall follows the
    * IVF contract: `nprobe = nlist` scans every cell and is exact.
    */
  def annRangeAgainstIndex(
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      floor: Double,
      nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    cellRange(annIndexAt(spark, resolveAnnIndex(spark, path)),
      queries, vecCol, idCol, floor, nprobe)
  }

  /** Every `(query_id, neighbor_id, cosine)` at or above `floor` among the
    * pairs sharing one of the query's `nprobe` nearest cells — the range
    * core of [[annRangeAgainstIndex]] and [[ivfSimilarityJoinPlan]]. The
    * candidate join salts the index's dense cells: with a corpus-sized
    * query frame it shuffles on the cell key, and a templated-embedding
    * cell would otherwise funnel through one task (small/broadcast query
    * sides are skew-free either way — a broadcast join never co-locates a
    * cell). Salts are deterministic constants, so the plan stays
    * streaming-compatible.
    */
  private def cellRange(
      idx: IvfIndex,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      floor: Double,
      nprobe: Int): DataFrame =
    inBand(scoredCandidates(queries, vecCol, idCol,
      Cells(idx, nprobe, broadcastProbe = false)), floor)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))

  /** Merge an ANN index's delta history back into one optimally-sized file
    * set — the ANN twin of [[Dedup.compactDedupIndex]]. Each
    * [[appendAnnIndex]] adds one `assigned` delta dir; after many daily
    * appends the manifest lists hundreds of small dirs and every probe
    * pays their open/footer overhead (the classic small-file failure mode
    * of manifest designs). Compaction rewrites the union into a single
    * fresh data dir, commits it as a new epoch (same atomic pointer, same
    * single-writer contract), and GC then drops the now-unreferenced
    * deltas. With `retrain = false` centroids are untouched — compaction
    * changes file layout, never results.
    *
    * `retrain = true` makes compaction the quantizer-maintenance op the
    * frozen-quantizer append contract needs: appends assign to the
    * BUILD-time centroids ([[appendAnnIndex]] — correct for probe
    * consistency), so months of drift-y appends decay recall with nothing
    * short of a full rebuild to recover it. A retraining compaction
    * trains fresh centroids over the union (the same content-keyed
    * `trainFraction` sampling as [[writeAnnIndex]] — set it well below 1
    * at scale), re-assigns every vector to them, and commits centroids +
    * cells together in the compacted epoch — exactly a [[writeAnnIndex]]
    * rebuild from the index's own vectors, without re-reading the source
    * corpus. Probe correctness at `nprobe = nlist` is unaffected either
    * way; recall at partial probes recovers to build-fresh quality.
    */
  def compactAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      retainEpochs: Int = 2,
      retrain: Boolean = false,
      trainFraction: Double = 1.0): Unit =
    AnnIndex.compact(spark, path, retainEpochs) { (cur, out) =>
      val nlist = cur.header.int("nlist")
      val quantized = cur.header.bool("quantized")
      val standing = EpochStore.readTable(spark, cur, "assigned")
      // retraining needs float vectors; quantized epochs dequantize on read
      // but KEEP their original codes in the rewrite (requantizing would be
      // an identity round-trip paid for nothing)
      val withVec =
        if (retrain && quantized) dequantizeInt8(standing, "qvec", "scale", "vec")
        else standing
      val (centroids, _) =
        if (retrain) trainCentroidsAndCounts(withVec, "vec", "id", nlist, trainFraction)
        else readAnnCentroidsWithCounts(spark, cur)
      val storageCols =
        if (quantized) Seq(col("id"), col("qvec"), col("scale"))
        else Seq(col("id"), col("vec"))
      val compacted =
        if (retrain) withVec.select(nearestCell(centroids, col("vec")).as("cell") +: storageCols: _*)
        else standing
      // one arm: the assigned rewrite (and its fresh read-back bloom), then
      // the EXACT cell counts of the written dir (compaction is where the
      // salt guard's estimates get trued up, like the bloom), then centroids
      EpochStore.Arms.fresh(annParams(centroids, nlist, quantized)) { () =>
        out.write("assigned", compacted)
        val counts = spark.read.schema(compacted.schema).parquet(out.location("assigned"))
          .groupBy("cell").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        out.write("centroids", annCentroidsTable(spark, centroids, counts))
      }
    }

  /** Probe a persisted ANN index ([[writeAnnIndex]]) — identical plan shape
    * to [[ivfProbe]], with centroids read from the index (they become plan
    * literals, no join) and the corpus side two narrow manifest reads.
    * `nprobe = nlist` probes every cell and is EXACT (≡ [[bruteForceTopK]]
    * — that is q99's oracle argument); smaller `nprobe` trades recall for
    * scan fraction exactly like FAISS IVF.
    */
  def annTopKAgainstIndex(
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      path: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    ivfProbe(annIndexAt(spark, resolveAnnIndex(spark, path)),
      queries, vecCol, idCol, k, nprobe)
  }
}
