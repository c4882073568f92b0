package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal corpus generator: replicate a driver testdata dir
  * `factor`× with SHIFTED keys, so a 10× (or 100×) run measures the real
  * scaling exponent of every plan instead of extrapolating from sf0.1.
  * The driver's testdata is read-only — output goes to the caller's own
  * dir (e.g. /tmp/graft_sf1).
  *
  * Key discipline: every key column shifts by `copy · (1 + max(key))` so
  * copies never collide and referential pairs (lineitem↔orders,
  * orders↔customer, lineitem↔part/supplier) stay consistent — join
  * cardinalities scale linearly like a real corpus. Dimension tables
  * (region, nation) copy as-is. The LLM tables scale REALISTICALLY
  * rather than degenerately:
  *
  *   - documents: copy c > 0 appends a " copyc" token, so exact dedup
  *     stays ~unique while minhash/SemDeDup face a 10× NEAR-duplicate
  *     corpus (each doc gains factor−1 near-twins — the hard case);
  *   - embeddings: copy c rotates the vector by c positions (norm
  *     preserved, deterministic), so ANN/dedup geometry stays
  *     non-degenerate instead of 10 identical points per site;
  *   - events: ids shift, timestamps stay — 10× event density per
  *     window, the realistic stream-scaling shape.
  *
  * Usage: GenScale <inDir> <outDir> <factor>
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def read(name: String) = spark.read.parquet(s"$inDir/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // one shift base per key column: 1 + max over the SOURCE table that
    // owns the key, shared by every referencing table
    def base(df: DataFrame, key: String): Long =
      1L + df.agg(max(col(key))).head().getLong(0)

    val cust = read("customer"); val ord = read("orders")
    val li = read("lineitem"); val part = read("part")
    val supp = read("supplier"); val ev = read("events")
    val docs = read("documents"); val emb = read("embeddings")
    val cB = base(cust, "c_custkey"); val oB = base(ord, "o_orderkey")
    val pB = base(part, "p_partkey"); val sB = base(supp, "s_suppkey")
    val eB = base(ev, "event_id"); val uB = base(ev, "user_id")
    val dB = base(docs, "doc_id"); val vB = base(emb, "vec_id")

    val copies = spark.range(factor).toDF("__c")
    def scale(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val crossed = df.crossJoin(broadcast(copies))
      shifts.foldLeft(crossed) { case (d, (k, b)) =>
        d.withColumn(k, col(k) + col("__c") * b)
      }
    }

    write(scale(cust, "c_custkey" -> cB).drop("__c"), "customer", 8)
    write(scale(ord, "o_orderkey" -> oB, "o_custkey" -> cB).drop("__c"),
      "orders", 16)
    write(scale(li, "l_orderkey" -> oB, "l_partkey" -> pB,
      "l_suppkey" -> sB).drop("__c"), "lineitem", 32)
    write(scale(part, "p_partkey" -> pB).drop("__c"), "part", 8)
    write(scale(supp, "s_suppkey" -> sB).drop("__c"), "supplier", 4)
    write(scale(ev, "event_id" -> eB, "user_id" -> uB).drop("__c"),
      "events", 16)
    write(
      scale(docs, "doc_id" -> dB)
        .withColumn("text",
          when(col("__c") > 0 && col("text").isNotNull,
            concat(col("text"), lit(" copy"), col("__c").cast("string")))
            .otherwise(col("text")))
        .drop("__c"),
      "documents", 16)
    write(
      scale(emb, "vec_id" -> vB)
        .withColumn("embedding",
          when(col("__c") === 0 || col("embedding").isNull, col("embedding"))
            .otherwise(concat(
              slice(col("embedding"), (col("__c") + 1).cast("int"),
                size(col("embedding")) - col("__c").cast("int")),
              slice(col("embedding"), lit(1), col("__c").cast("int")))))
        .drop("__c"),
      "embeddings", 16)
    // dimensions copy as-is
    write(read("nation"), "nation", 1)
    write(read("region"), "region", 1)
    println(s"scaled $inDir x$factor -> $outDir")
    spark.stop()
  }
}
