package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: seeded set-up, then a closed loop of ops. */
trait Workload {
  /** Generate the inputs and build the initial persisted state. */
  def setup(): Unit
  /** Run the loop's `i`-th op through [[Harness.op]]. */
  def step(i: Int): Unit
  /** Ops in one round. The loop only stops between rounds, so every run
    * measures whole rounds of one fixed op mix however long its ops take.
    */
  def roundOps: Int
  /** Ops in one full cycle, a whole number of rounds; a traced run runs at
    * least this many, so every layer the workload exercises shows up.
    */
  def cycleOps: Int
  /** Checks that need the whole run, after the timed loop. */
  def finish(): Unit = ()
  /** Input rows and bytes per generated table. */
  def inputs: Map[String, (Long, Long)]
  /** Bytes of input the run fed into persisted state. */
  def ingestedBytes: Long
  def extra: Map[String, Any] = Map.empty
}

/** Runs one workload and writes the run record as JSON.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores N
  *   --work DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val root = Paths.get(opt("work")).toAbsolutePath
    val loadBefore = loadavg()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", root.resolve("hadoop-tmp").toString)
      .config("spark.sql.warehouse.dir", root.resolve("state/warehouse").toString)
      .config(graft.Sessions.config)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobListener
    val plans = new PlanListener
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    val h = new Harness(spark, root, trace)
    // one job pays Spark's one-off start-up before any set-up is timed
    h.spans("warmup") {
      spark.range(0, 1000L, 1, cores).selectExpr("sum(id)").collect()
    }
    val sessionReady = Clock.nowMs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val wl: Workload = workload match {
      case "model_validate" => new ModelValidate(h, seed)
      case "curate_batch" => new CurateBatch(h, seed)
      case "index_daily" => new IndexDaily(h, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    h.spans("setup")(wl.setup())
    val setupMs = h.spans.last.endMs - h.spans.last.startMs

    val loopStart = Clock.nowMs()
    val deadline = loopStart + seconds * 1000.0
    var i = 0
    while (Clock.nowMs() < deadline || i % wl.roundOps != 0 || (trace && i < wl.cycleOps)) {
      wl.step(i)
      i += 1
    }
    val loopEnd = Clock.nowMs()
    h.inLoop = false
    h.flushChecks()
    h.spans("finish") {
      try wl.finish()
      catch { case e: Throwable =>
        h.errors += s"final check failed: $e"
        System.err.println(s"perfbench: final check failed: $e")
      }
    }

    val rssKb = procStatusKb("VmHWM")
    // inputs live under state/in; everything else in state is the run's own
    val stored = Harness.bytesUnder(h.state) - Harness.bytesUnder(h.state.resolve("in"))
    spark.stop() // drains the listener bus before the trace is read
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "session_s" -> (sessionReady - jvmStart) / 1000.0,
      "setup_s" -> setupMs / 1000.0,
      "loop_s" -> (loopEnd - loopStart) / 1000.0,
      "inputs" -> wl.inputs.map { case (k, (rows, bytes)) =>
        k -> Map("rows" -> rows, "bytes" -> bytes) },
      "ingested_bytes" -> wl.ingestedBytes,
      "stored_bytes" -> stored,
      "peak_rss_kb" -> rssKb,
      "extra" -> wl.extra,
      "attempted" -> h.attempted,
      "errors" -> h.errors.toSeq,
      "ops" -> h.opsJson.map(Json.Raw),
      "spans" -> h.spans.done.toSeq.map(s => Json.Raw(Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))),
      "jobs" -> jobs.json().map(Json.Raw),
      "plans" -> plans.json().map(Json.Raw),
      "fs" -> h.fsJson.map(Json.Raw))
    Files.writeString(Paths.get(opt("out")), record)
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "" }

  private def procStatusKb(key: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }
}
