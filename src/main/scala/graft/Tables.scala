package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table loaders for the driver-generated TPC-H-ish parquet data
  * (TESTDATA.md). One quirk: `events.ts` has been written two ways across
  * driver generations — INT64 TIMESTAMP(NANOS) (which Spark's parquet
  * reader rejects outright; `spark.sql.legacy.parquet.nanosAsLong=true`
  * in [[Sessions.config]] surfaces it as a raw long) and plain
  * TIMESTAMP(MICROS). [[Tables.events]] normalizes both to
  * TIMESTAMP_NTZ microseconds by inspecting the read schema, so every
  * query and oracle sees one canonical naive-µs `ts` regardless of which
  * generation produced the file (the ns→µs path truncates — identical to
  * DuckDB's ns→us cast).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanosAsLong surfaced a TIMESTAMP(NANOS) column as its raw long
        raw.withColumn(
          "ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType =>
        // already a timestamp; ntz: DuckDB timestamps are naive — with
        // session tz UTC the cast is a pure type-tag change, values identical
        raw.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
      case other =>
        // fail fast on schema drift: a third generation (string, int32
        // millis, …) must surface here, not as silently-coerced nulls
        throw new IllegalArgumentException(
          s"events.ts has unsupported parquet type $other; expected INT64 " +
            "TIMESTAMP(NANOS) (read as long via nanosAsLong) or TIMESTAMP(MICROS)")
    }
  }
}

object Sessions {
  /** Configs every session needs; call on a SparkSession.Builder. */
  val config: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // default-on with AQE, made explicit: runtime skew-splitting backstops
    // the deterministic dense-cell/bucket salt guards on shuffle joins
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // µs parquet timestamps (not INT96) so outputs compare equal to DuckDB's
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // native kernels as SQL functions (simhash64, cosine_similarity, …)
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** The session Bench, Verify, GenScale and Plans run on: `local[cpus]`
    * with as many shuffle partitions, no UI, [[config]] applied, WARN
    * logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config(config)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
