package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q43_ann_ivf,q42_ngram_jaccard → time just those
    // (a local iteration aid; unset, every query runs)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val queryMap = SparkEntry.selected(only)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // Warm the JVM (codegen, shuffle machinery, parquet footers) outside the
    // timed region so q01 doesn't absorb session startup.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // A query that throws must fail the bench visibly — swallowing it would
    // record a broken query as a fast one.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"BENCH FAILURE $name: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Best-of-two for the slow queries: the shared box shows ±50%
    // run-to-run variance and a single sample can triple a heavy query's
    // number; a second sample for anything over 1 s bounds the noise at
    // ~40 s extra wall time while leaving the sub-second majority alone.
    // Load-aware record (round 15): two rounds running, the official
    // BENCH json was captured under heavy ambient load and showed
    // heavies 4-13x their settled envelopes. (a) stamp /proc/loadavg
    // before and after the sweep so a loaded capture is SELF-LABELING;
    // (b) any query whose best-of-two still exceeds its BASELINE.md
    // settled tripwire gets a third run, and queries over the tripwire
    // even at best-of-three are listed under "loaded" — a regression and
    // a noisy box are distinguishable from the record alone.
    def loadavg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadBefore = loadavg()
    // The wires are BASELINE.md's settled sf0.1 envelopes — at any other
    // scale (an sf1 rehearsal) exceeding them is the data, not the box,
    // so the table only arms on the driver's sf0.1 runs.
    val tripwires: Map[String, Double] =
      if (new java.io.File(sfDir).getName != "sf0.1") Map.empty
      else Map(
        "q97" -> 16.0, "q35" -> 4.5, "q105" -> 3.5, "q119" -> 7.0,
        "q182" -> 20.0, "q162" -> 12.0, "q101" -> 8.0, "q102" -> 8.0,
        "q192" -> 16.0, "q193" -> 20.0, "q194" -> 20.0)
    val firstPass = queryMap.map { case (name, fn) => name -> timeOne(name, fn) }
    val secondPass = firstPass.map { case (name, t1) =>
      name -> (if (t1 > 1.0) math.min(t1, timeOne(name, queryMap(name))) else t1)
    }
    val results = secondPass.map { case (name, t2) =>
      val wire = tripwires.get(name.split("_")(0))
      name -> (if (wire.exists(t2 > _)) math.min(t2, timeOne(name, queryMap(name)))
               else t2)
    }
    // every query whose best-of-two tripped the wire got a THIRD run above
    // — record the list so a best-of-3 number is distinguishable from a
    // best-of-2 one in every capture (round-15 verdict "Next round #8")
    val rerunNames = secondPass.collect {
      case (name, t2) if tripwires.get(name.split("_")(0)).exists(t2 > _) =>
        name
    }.toSeq
    val loadedNames = results.collect {
      case (name, t) if tripwires.get(name.split("_")(0)).exists(t > _) =>
        name
    }.toSeq
    val loadAfter = loadavg()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The round-2 bench gate compares against the 64-query baseline set
    // recorded in BENCH_r02.json — exactly the queries numbered q01..q64.
    // Emitting their subtotal makes the gate ratio a first-class recorded
    // number (subtotal / 59.7 s) instead of a per-round re-derivation
    // from the full query map. Only a FULL run may emit it: a
    // SPARK_GRAFT_ONLY subset would record a partial subtotal
    // indistinguishable from a real gate number.
    val gate64: Option[Double] =
      if (only.nonEmpty) None
      else Some(results.collect {
        case (name, t) if name.split("_")(0).drop(1).toIntOption.exists(_ <= 64) => t
      }.sum)
    // Lifecycle-query phase breakdown (build/append/probe timed on their
    // own) — emitted OUTSIDE "queries" so the total and round-over-round
    // comparable sets are untouched; a probe regression shows here even
    // when the parent query's number is dominated by write scheduling.
    val phases = SparkEntry.benchBreakdown
      .filter { case (parent, _, _) => queryMap.contains(parent) }
      .map { case (_, name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir) } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"BENCH FAILURE $name: $e")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    val breakdownJson =
      if (phases.isEmpty) ""
      else phases.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(""","breakdown":{""", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    // Score-ordered-take skew telemetry, surfaced per round: the
    // WithStats variants return the per-stratum boundary/tie weights the
    // classification phases already computed — a large max_tie_share
    // (a binary score shows ~0.5) says the production corpus is routing
    // takes through the run/tie path; max_boundary_share near 1/nBuckets
    // is the healthy continuous-score shape. One extra two-aggregate
    // probe on the q129 shape; full runs only (subsets skip, like gate64).
    val toptake: Option[(Int, Double, Double)] =
      if (only.nonEmpty) None
      else try {
        val docs = SparkEntry.tokenCounted(Tables(spark, sfDir, "documents"))
        val (_, stats) = ops.Sampling.takeTopFractionWithStats(
          docs, "source", "doc_id", "n_tok", 0.25, nBuckets = 8)
        Some((stats.size,
          if (stats.isEmpty) 0.0 else stats.map(_.tieShare).max,
          if (stats.isEmpty) 0.0 else stats.map(_.boundaryShare).max))
      } catch {
        case e: Throwable =>
          System.err.println(s"bench: toptake telemetry failed: $e"); None
      }
    val toptakeJson = toptake.map { case (n, tie, bnd) =>
      s""","toptake":{"strata":$n,"max_tie_share":$tie,"max_boundary_share":$bnd}"""
    }.getOrElse("")
    // Full-precision record (long names + phase breakdown) goes to a FILE;
    // stdout gets two compact lines, the summary last. The consumer
    // records only the last 2000 characters of stdout and parses the
    // final line, so no keyed per-query map is printed: at 194 queries
    // one passes 2000 chars and clips its own head.
    val gateFull = gate64.map(g => s""""gate64":$g,""").getOrElse("")
    val loadJson =
      s""","load":{"before":$loadBefore,"after":$loadAfter}""" +
        (if (rerunNames.isEmpty) ""
         else rerunNames.map("\"" + _ + "\"")
           .mkString(""","reruns":[""", ",", "]")) +
        (if (loadedNames.isEmpty) ""
         else loadedNames.map("\"" + _ + "\"")
           .mkString(""","loaded":[""", ",", "]"))
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec",$gateFull"queries":$qs$breakdownJson$failedJson$toptakeJson$loadJson,"sf":"$sfDir"}"""
    val fullPath = SparkEntry.scratchDir("bench_full", sfDir) + ".json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullJson)
    catch { case e: Throwable => System.err.println(s"bench: full JSON write failed: $e") }
    System.err.println(s"bench: full-precision JSON at $fullPath")
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", v)
    // short qNN keys are unique: InventorySpec pins one query per number
    def short(name: String): String = name.split("_")(0)
    // failures compact to deduplicated qNN prefixes: full names could
    // push the line past the consumer's tail window exactly when it
    // carries failure information (full names are already on stderr, one
    // line per failure). Breakdown-PHASE failures keep their full name
    // ("q97_build") — compacting them to the parent's qNN would make a
    // failed phase indistinguishable from a failed query, and phase names
    // are already qNN-short.
    val phaseNames = SparkEntry.benchBreakdown.map(_._2).toSet
    val failedCompact =
      if (failed.isEmpty) ""
      else failed.map(n => if (phaseNames(n)) n else short(n))
        .toSeq.distinct.map("\"" + _ + "\"")
        .mkString(""","failed":[""", ",", "]")
    val gateCompact = gate64.map(g => s""""gate64":${fmt(g)},""").getOrElse("")
    val toptakeCompact = toptake.map { case (_, tie, bnd) =>
      s""","tie_share":${fmt(tie)},"bnd_share":${fmt(bnd)}"""
    }.getOrElse("")
    // load stamp + third-run + still-over-tripwire flags, compacted like
    // the failures
    val loadCompact =
      s""","load":"${fmt(loadBefore)}/${fmt(loadAfter)}"""" +
        (if (rerunNames.isEmpty) ""
         else rerunNames.map(n => "\"" + short(n) + "\"").distinct
           .mkString(""","reruns":[""", ",", "]")) +
        (if (loadedNames.isEmpty) ""
         else loadedNames.map(n => "\"" + short(n) + "\"").distinct
           .mkString(""","loaded":[""", ",", "]"))
    // Per-query seconds as a VALUES-ONLY array in ascending-qNN order —
    // the only per-query encoding that fits a 194-query sweep inside the
    // consumer's 2000-char stdout tail (a keyed map costs ~12 chars per
    // query ≈ 2.3 kB and clips its own head). ~5 chars per query ≈ 1.1 kB
    // leaves this line AND the final summary line complete inside the
    // window; position i pairs with the i-th query number in ascending
    // order (names are stable across rounds, and the full keyed map is in
    // the /tmp full-precision record).
    val byNumber = results.toSeq.sortBy { case (k, _) =>
      k.split("_")(0).drop(1).toIntOption.getOrElse(Int.MaxValue)
    }
    println(s"""{"metric":"queries_by_number","unit":"sec","order":"ascending qNN","n":${byNumber.size},"t":[${byNumber.map(p => fmt(p._2)).mkString(",")}]}""")
    // The VERY LAST line is a fixed-size summary with NO per-query map:
    // total + gate64 + telemetry + the 8 slowest queries (bounded, ~300
    // chars at any query count). Per-query data lives in the values line
    // above and the full-precision /tmp file.
    val slowest = results.toSeq.sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$gateCompact"n_queries":${results.size},"slowest":$slowest$failedCompact$toptakeCompact$loadCompact,"sf":"${new java.io.File(sfDir).getName}"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
