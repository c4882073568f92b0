package graft

import java.nio.file.{Files, Paths}

/** The plan-dump tool: `.explain("formatted")` of named queries, checked
  * into the repo so a reviewer can read plans without running Spark.
  *
  *   runMain graft.Plans <sfDir>
  *     writes PLANS.md: the formatted physical plan of each headline query,
  *     annotated with the scale property it demonstrates. PlanSpec asserts
  *     these shapes on every test run.
  *   runMain graft.Plans <outDir> <tag> <sfDir> <q1,q2,...>
  *     writes one `<outDir>/<q>_<tag>.txt` per query: the optimization-round
  *     evidence under `plans/rNN/` (`tag` = before/after), diffable against
  *     the plan shape a change claims.
  */
object Plans {

  private val Headline: Seq[(String, String)] = Seq(
    "q01_aggregate" -> "partial (map-side) aggregation before the one shuffle",
    "q02_filter" -> "filter + projection pushed into the parquet scan",
    "q11_join_inner" -> "dimension side broadcast — fact table never shuffles for the join",
    "q21_order_limit" -> "top-k as TakeOrderedAndProject — no global sort",
    "q25_validate" -> "ALL validation checks fused into one scan + one aggregate",
    "q35_minhash_pairs" -> ("LSH dedup: shuffle carries (band, bandHash, id) only; " +
      "verification joins hashed sets onto the deduplicated candidate pairs"),
    "q37_ann_topk" -> ("ANN baseline: query side broadcast, corpus streams map-side, " +
      "per-query window for ranking"),
    "q47_sessionize" -> ("one shuffle on user_id; lag/flag/running-sum windows " +
      "reuse the same partitioning (no second exchange)"),
    "q52_range_join" -> ("interval join as a hash join on derived buckets " +
      "(no BroadcastNestedLoopJoin)"),
    "q60_window_frame" -> "running-sum frame over the per-customer window",
    "q69_asof_global" -> ("ungrouped as-of join: quantile range-buckets make the " +
      "window partition key, boundary carry broadcast-joins back — no " +
      "single-partition exchange anywhere"),
    "q71_decontaminate" -> ("decontamination: eval gram keys broadcast; corpus " +
      "grams probe map-side and only the matches reach the per-doc aggregate"),
    "q74_pack_plan" -> ("concat-and-chunk packing plan: one shuffle (the md5-group " +
      "window), then exact integer arithmetic on the running token total"),
    "q79_clusters_star" -> ("large-star/small-star connected components: each round " +
      "touches only the edge set (two window shuffles + distincts); nodes join once " +
      "at the end — O(log²) rounds vs label propagation's O(diameter)"),
    "q83_video_frames" -> ("video path: synthesize→parse→decode runs as chained " +
      "partition-batched generators (no shuffle until the final per-doc aggregate, " +
      "which combines map-side); RIFF walk + JPEG decode amortize per task"),
    "q86_pack_materialize" -> ("materialized packed sequences: running-total window " +
      "+ explode to (doc, bin) fragments + one (grp, bin) aggregate whose groups " +
      "are bounded at capacity tokens by construction — task memory independent " +
      "of corpus size"),
    "q101_repeated_grams" -> ("exact repeated-substring mining: text collapses " +
      "map-side to distinct (id, 64-bit gram-key) pairs; gram multiplicities are " +
      "counters keyed on the gram key alone — no doc lists, no text in any exchange"),
    "q103_token_budget" -> ("token-budget mix: ONE stratum-keyed window shuffle, " +
      "streamed cumulative sum, pure filter on the running total — no global sort, " +
      "no driver state"),
    "q104_decontam_bloom" -> ("bloom-prefiltered decontamination: the codegen " +
      "might_contain probe prunes corpus grams MAP-SIDE (between explode and the " +
      "join), so at scale only near-matches reach the shuffle; the confirm join " +
      "removes the false positives"),
    "q107_dedup_paragraphs" -> ("paragraph dedup: the first-occurrence window " +
      "moves only (16-byte hash, id, pos) rows; reassembly is position-array " +
      "math fused into the corpus scan — paragraph text reaches no shuffle " +
      "except the final per-doc attach join"),
    "q117_containment_pairs" -> ("n-gram containment pairs: text collapses " +
      "map-side to distinct (id, 16-hex md5 gram-key) rows; the df-capped " +
      "pair join is keyed on the gram key (per-gram fan-out ≤ maxDf²) and " +
      "only (id_a, id_b) pairs and counters move after it — text reaches " +
      "no Exchange. The 'Scan ExistingRDD' leaves are the ONCE-materialized " +
      "gram table (its multi-consumer subtree otherwise recomputes 6×; " +
      "PlanSpec pins the full lazy derivation via the private pair core)"),
    "q121_winnowing_pairs" -> ("winnowing fingerprints: the per-window " +
      "minima are let-bound array math fused into the scan (no shuffle for " +
      "selection), so the pair machinery runs on ~2/(w+1) of the gram " +
      "volume; the df-capped fingerprint join then moves only (id, 16-hex " +
      "key) rows and counters. Scan ExistingRDD = the once-materialized " +
      "fingerprint table (see q117's note)"),
    "q129_top_fraction" -> ("exact top-fraction quality filter: rows " +
      "bucket by approximate score quantiles (broadcast boundary join + " +
      "codegen array fold), exact counts classify buckets keep-all/" +
      "boundary/drop on the driver, and ONLY the boundary bucket runs the " +
      "(score, id) ranking window — no stratum is ever sorted whole, and " +
      "document text reaches no Exchange"),
    "q126_dsir_select" -> ("DSIR band-quota selection: text collapses " +
      "map-side to token keys for the two contrast aggregates (the only " +
      "corpus shuffles — counters, never text), banding is integer " +
      "division + a binary-digit count fused into the projection, and the " +
      "selection inherits takeBudgets' two-phase shape — any windowed " +
      "cumsum sits above a broadcast bucket-classification join, so no " +
      "band ever funnels through one task"))

  def main(args: Array[String]): Unit = args match {
    case Array(dir) =>
      val notes = Headline.toMap
      val sb = new StringBuilder
      sb.append("# PLANS — physical plans of the headline queries\n\n")
      sb.append(s"Generated by `graft.Plans` at $dir (plans are scale-factor\n")
      sb.append("independent apart from AQE's runtime coalescing). Each section\n")
      sb.append("names the scale property the plan demonstrates; PlanSpec asserts\n")
      sb.append("these shapes on every test run.\n")
      explain(dir, Headline.map(_._1)) { (name, plan) =>
        sb.append(s"\n## $name\n\n${notes(name)}\n\n```\n$plan```\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${Headline.size} plans)")
    case Array(outDir, tag, sfDir, nameCsv) =>
      val names = nameCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      Files.createDirectories(Paths.get(outDir))
      explain(sfDir, names) { (name, plan) =>
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      }
      println(s"wrote ${names.size} plans ($tag) to $outDir")
    case _ =>
      System.err.println("usage: runMain graft.Plans <sfDir>\n" +
        "       runMain graft.Plans <outDir> <tag> <sfDir> <q1,q2,...>")
      sys.exit(2)
  }

  /** Formatted physical plan of each named query at `sfDir`, in order, from
    * one local session.
    */
  private def explain(sfDir: String, names: Seq[String])(emit: (String, String) => Unit): Unit = {
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    try names.foreach { n =>
      emit(n, SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    } finally spark.stop()
  }
}
