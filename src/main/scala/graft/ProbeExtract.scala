package graft

// Measurement probe for the q182 stage-A ledger pass (guide §1.4: noop
// sink, component isolation) — reproduces the stage-A cost decomposition
// recorded in OPTIMIZATION_r15.md. Not part of the
// library surface; the corpus IS the benched fixture
// (SparkEntry.crawlDocs), so probe numbers can never measure a diverged
// synthesis.
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object ProbeExtract {
  private[graft] def crawl(s: SparkSession, d: String): DataFrame =
    SparkEntry.crawlDocs(s, d)

  // component replicas of TextOps' private strip chain (same regexes)
  private def preStrip(html: Column): Column =
    Seq("(?s)<!--.*?-->",
      "(?is)<script(\\s[^>]*)?>.*?</script>",
      "(?is)<style(\\s[^>]*)?>.*?</style>",
      "(?is)<title(\\s[^>]*)?>.*?</title>")
      .foldLeft(html)((acc, p) => regexp_replace(acc, p, " "))

  private def rawBlocks(pre: Column): Column = {
    val blockTags = "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|td|th|" +
      "blockquote|section|article|header|footer|nav)(\\s[^>]*)?/?>"
    val untagged = regexp_replace(
      regexp_replace(pre, blockTags, "\n"), "<[^>]*>", " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(untagged) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
    Sessions.config.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def time(name: String)(df: => DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t = math.min(once(), once())
      println(f"[probe] $name%-28s ${t}%6.2f s")
    }

    val c = crawl(spark, sfDir)
    time("gen-only (html col)") { c.select(col("html")) }
    time("gen+len(html)") { c.select(length(col("html")).as("l")) }
    time("prestrip") { c.select(length(preStrip(col("html"))).as("l")) }
    time("prestrip+anchorstrip") { c.select(length(regexp_replace(
      preStrip(col("html")), "(?is)<a(\\s[^>]*)?>.*?</a>", "")).as("l")) }
    time("rawblocks (1 variant)") {
      c.select(length(rawBlocks(preStrip(col("html")))).as("l")) }
    time("rawblocks (2 variants)") {
      val pre = preStrip(col("html"))
      c.select((length(rawBlocks(pre)) + length(rawBlocks(regexp_replace(
        pre, "(?is)<a(\\s[^>]*)?>.*?</a>", "")))).as("l")) }
    time("blockmetrics (full)") {
      c.select(size(graft.ops.TextOps.htmlBlockMetrics(col("html"))).as("s")) }
    time("extract (text)") {
      c.select(length(graft.ops.TextOps.htmlExtractText(col("html"))).as("l")) }
    // screens over already-materialized text (isolate screen cost)
    val txtDir = "/tmp/probe_extract_text"
    c.select(col("doc_id"),
      graft.ops.TextOps.htmlExtractText(col("html")).as("text"))
      .write.mode("overwrite").parquet(txtDir)
    val txt = spark.read.parquet(txtDir)
    time("screens on extracted") {
      txt.select(graft.ops.TextOps.curationFirstFailFull(
        col("text"), Seq("customer query", "window merge"), 3).as("v")) }
    time("tokencount on extracted") {
      txt.select(graft.ops.TextOps.tokenCount(col("text")).as("n")) }
    time("full ledgerProjection") {
      val cfg = graft.ops.Pipeline.CurationConfig(
        blockedDomains = Seq("site5.example.com", "site11.example.com"),
        phrases = Seq("customer query", "window merge"),
        weights = (0 until 20).map(i => s"src$i" ->
          (if (i == 3) 8L else 1L)).toMap,
        budgetTokens = 12000L,
        shardTokens = 1500L)
      graft.ops.Pipeline.ledgerProjection(
        c, "doc_id", "url", "source", "html", cfg) }
    spark.stop()
  }
}
