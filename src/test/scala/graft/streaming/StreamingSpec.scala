package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.{Bounds, FieldSpec, Schema}

/** Structured-Streaming operators, driven end-to-end with the public file
  * source (one parquet file per micro-batch via maxFilesPerTrigger) and the
  * memory sink under Trigger.AvailableNow — watermarks advance between
  * batches and the trailing no-data batch flushes closed state.
  */
class StreamingSpec extends SparkSpec {

  private val eventSt = struct(
    "event_id" -> LongType, "ts" -> TimestampType,
    "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Write each row-chunk as its own parquet file so AvailableNow sees one
    * file per micro-batch.
    */
  private def eventFiles(chunks: Seq[Seq[Row]]): String = {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    chunks.zipWithIndex.foreach { case (rows, i) =>
      frame(eventSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5) // distinct mod-times → deterministic batch order
    }
    dir
  }

  private def readEventStream(dir: String): DataFrame =
    spark.readStream.schema(eventSt).option("maxFilesPerTrigger", "1").parquet(dir)

  private def runToCompletion(df: DataFrame, table: String): StreamingQuery = {
    val cp = Files.createTempDirectory("graft-stream-cp").toString
    val q = df.writeStream.format("memory").queryName(table)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp).start()
    q.awaitTermination()
    q
  }

  test("windowedAgg: tumbling windows close as the watermark advances") {
    val dir = eventFiles(Seq(
      Seq(
        Row(1L, ts("2026-01-01 10:00:05"), 7L, "click", 1.0),
        Row(2L, ts("2026-01-01 10:00:20"), 7L, "click", 2.0),
        Row(3L, ts("2026-01-01 10:02:30"), 7L, "click", 5.0)),
      // flush: pushes the watermark far past the earlier windows
      Seq(Row(99L, ts("2026-01-01 11:00:00"), 8L, "click", 0.0))))
    val out = StreamingOps.windowedAgg(
      readEventStream(dir), "ts", "10 seconds", "1 minute",
      keys = Seq("user_id"),
      aggs = Seq("n" -> "count(*)", "total" -> "sum(value)"))
    runToCompletion(out, "wagg")
    val rows = spark.table("wagg")
      .where(col("user_id") === 7L)
      .orderBy("window_start")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (ts("2026-01-01 10:00:00"), 2L, 3.0),
      (ts("2026-01-01 10:02:00"), 1L, 5.0)))
    // the 11:00 window stays open (watermark never passes it) → not emitted
    assert(spark.table("wagg").where(col("user_id") === 8L).isEmpty)
  }

  test("dedupStream drops duplicate event ids across micro-batches") {
    val dir = eventFiles(Seq(
      Seq(
        Row(1L, ts("2026-01-01 10:00:00"), 7L, "click", 1.0),
        Row(1L, ts("2026-01-01 10:00:01"), 7L, "click", 1.0), // dup in-batch
        Row(2L, ts("2026-01-01 10:00:02"), 7L, "click", 2.0)),
      Seq(
        Row(1L, ts("2026-01-01 10:00:03"), 7L, "click", 1.0), // dup cross-batch
        Row(3L, ts("2026-01-01 10:00:04"), 7L, "click", 3.0))))
    val out = StreamingOps.dedupStream(
      readEventStream(dir), "ts", "10 minutes", Seq("event_id"))
    runToCompletion(out, "dedup")
    val ids = spark.table("dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("observeValidation reports per-batch violation counts without filtering") {
    val schema = Schema("Event", Seq(
      FieldSpec.double("value"), // non-nullable
      FieldSpec.enum("event_type", Seq("click", "purchase"), nullable = true)))
    val dir = eventFiles(Seq(
      Seq(
        Row(1L, ts("2026-01-01 10:00:00"), 7L, "click", 1.0),
        Row(2L, ts("2026-01-01 10:00:01"), 7L, "oops", null)),
      Seq(
        Row(3L, ts("2026-01-01 10:00:02"), 7L, "bogus", 2.0))))
    val out = StreamingOps.observeValidation(readEventStream(dir), schema)
    val q = runToCompletion(out, "obs")
    // passthrough: all rows land in the sink
    assert(spark.table("obs").count() == 3)
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("graft_validation")))
    val totals = metrics.map(m =>
      (m.getAs[Long]("value__nulls"), m.getAs[Long]("event_type__enum")))
    assert(totals.map(_._1).sum == 1, s"nulls: $totals")
    assert(totals.map(_._2).sum == 2, s"enum: $totals")
  }

  test("validRows / invalidRows split a frame on row-level checks") {
    val schema = Schema("Event", Seq(
      FieldSpec.double("value"),
      FieldSpec.enum("event_type", Seq("click", "purchase"), nullable = true)))
    val df = frame(eventSt,
      Row(1L, ts("2026-01-01 10:00:00"), 7L, "click", 1.0),
      Row(2L, ts("2026-01-01 10:00:01"), 7L, "oops", 2.0),
      Row(3L, ts("2026-01-01 10:00:02"), 7L, "purchase", null))
    assert(StreamingOps.validRows(df, schema).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(StreamingOps.invalidRows(df, schema).count() == 2)
  }

  test("sessionizeBatch matches the streaming sessionization on closed sessions") {
    val rows = Seq(
      Row(1L, ts("2026-01-01 10:00:00"), 1L, "click", 1.0),
      Row(2L, ts("2026-01-01 10:00:30"), 1L, "click", 2.0),
      Row(3L, ts("2026-01-01 10:10:00"), 1L, "click", 4.0),
      Row(4L, ts("2026-01-01 10:00:10"), 2L, "click", 8.0))
    val batch = StreamingOps.sessionizeBatch(frame(eventSt, rows: _*), gapMs = 60000L)
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    // streaming run over the same rows (flush event closes every session)
    val dir = eventFiles(Seq(rows,
      Seq(Row(99L, ts("2026-01-01 12:00:00"), 9L, "click", 0.0))))
    val out = StreamingOps.sessionizeEvents(
      readEventStream(dir), watermarkDelay = "0 seconds", gapMs = 60000L)
    runToCompletion(out.toDF(), "sess_eq")
    val streamed = spark.table("sess_eq").where(col("user_id") =!= 9L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(batch.filterNot(_._1 == 9L) == streamed)
  }

  test("joinWithinTime: stream-stream join matches the batch plan, state bounded") {
    val clickRows = Seq(
      Row(1L, ts("2026-01-01 10:00:00"), 1L, "click", 1.0),
      Row(2L, ts("2026-01-01 10:05:00"), 1L, "click", 2.0),
      Row(3L, ts("2026-01-01 10:00:10"), 2L, "click", 3.0))
    val buyRows = Seq(
      Row(11L, ts("2026-01-01 10:00:30"), 1L, "purchase", 10.0), // after click 1
      Row(12L, ts("2026-01-01 10:04:30"), 1L, "purchase", 20.0), // before click 2 (30 s)
      Row(13L, ts("2026-01-01 11:00:00"), 2L, "purchase", 30.0)) // too far from click 3
    def prep(df: DataFrame, pfx: String) = df
      .select(col("event_id").as(s"${pfx}_id"), col("ts").as(s"${pfx}_ts"),
        col("user_id").as("user_id"), col("value").as(s"${pfx}_value"))
    // purchase within [click_ts - 60 s, click_ts] — i.e. click trails buy
    def join(l: DataFrame, r: DataFrame) = StreamingOps.joinWithinTime(
      l, r, "user_id", "click_ts", "buy_ts", "0 seconds", maxLagMs = 60000L)
    val batch = join(
      prep(frame(eventSt, clickRows: _*), "click"),
      prep(frame(eventSt, buyRows: _*), "buy"))
      .select("click_id", "buy_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((2L, 12L))) // only click 2 has a purchase ≤ 60 s before it
    val clickDir = eventFiles(Seq(clickRows,
      Seq(Row(98L, ts("2026-01-01 12:00:00"), 9L, "click", 0.0))))
    val buyDir = eventFiles(Seq(buyRows,
      Seq(Row(99L, ts("2026-01-01 12:00:00"), 9L, "purchase", 0.0))))
    val out = join(prep(readEventStream(clickDir).where(col("user_id") =!= 9L), "click"),
      prep(readEventStream(buyDir).where(col("user_id") =!= 9L), "buy"))
      .select("click_id", "buy_id")
    runToCompletion(out, "sjoin")
    val streamed = spark.table("sjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("sessionize handles in-watermark out-of-order events exactly like batch") {
    // a LATE event (within the 10 min watermark) arrives in the SECOND
    // micro-batch, 70 s before the first event; with a 60 s gap they are
    // two separate sessions — a greedy running state would merge them
    // (t - end <= gap holds trivially for an event before the open
    // session's start).
    val rows1 = Seq(Row(1L, ts("2026-01-01 10:02:00"), 1L, "click", 1.0))
    val rows2 = Seq(Row(2L, ts("2026-01-01 10:00:50"), 1L, "click", 2.0))
    val flush = Seq(Row(99L, ts("2026-01-01 12:00:00"), 9L, "click", 0.0))
    val dir = eventFiles(Seq(rows1, rows2, flush))
    val out = StreamingOps.sessionizeEvents(
      readEventStream(dir), watermarkDelay = "10 minutes", gapMs = 60000L)
    runToCompletion(out.toDF(), "sess_ooo")
    val streamed = spark.table("sess_ooo").where(col("user_id") === 1L)
      .orderBy("session_start").collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSeq
    val batch = StreamingOps.sessionizeBatch(
      frame(eventSt, (rows1 ++ rows2): _*), gapMs = 60000L)
      .orderBy("session_start").collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2026-01-01 10:00:50"), ts("2026-01-01 10:00:50"), 1L),
      (ts("2026-01-01 10:02:00"), ts("2026-01-01 10:02:00"), 1L)))
  }

  test("validRows enforces bounds, not just nulls and enums") {
    val schema = Schema("Event", Seq(
      FieldSpec.double("value").copy(bounds = Bounds(ge = Some(0)))))
    val df = frame(eventSt,
      Row(1L, ts("2026-01-01 10:00:00"), 7L, "click", 1.0),
      Row(2L, ts("2026-01-01 10:00:01"), 7L, "click", -5.0))
    assert(StreamingOps.validRows(df, schema).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(StreamingOps.invalidRows(df, schema).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("sessionizeEvents: gap closes a session in-batch, timeout closes the tail") {
    val dir = eventFiles(Seq(
      Seq(
        Row(1L, ts("2026-01-01 10:00:00"), 1L, "click", 1.0),
        Row(2L, ts("2026-01-01 10:00:30"), 1L, "click", 2.0),
        // > 60 s gap → previous session closes on arrival
        Row(3L, ts("2026-01-01 10:10:00"), 1L, "click", 4.0)),
      // flush event for another user pushes the watermark to 12:00 →
      // user 1's open session times out (end + gap < watermark)
      Seq(Row(99L, ts("2026-01-01 12:00:00"), 9L, "click", 0.0))))
    val out = StreamingOps.sessionizeEvents(
      readEventStream(dir), watermarkDelay = "0 seconds", gapMs = 60000L)
    runToCompletion(out.toDF(), "sessions")
    val rows = spark.table("sessions")
      .where(col("user_id") === 1L).orderBy("session_start").collect()
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (ts("2026-01-01 10:00:00"), ts("2026-01-01 10:00:30"), 2L, 3.0),
      (ts("2026-01-01 10:10:00"), ts("2026-01-01 10:10:00"), 1L, 4.0)))
  }

  test("fingerprint-keyed streaming dedup drops reformatted duplicates") {
    // content dedup on a stream: the md5 fingerprint (whitespace/case
    // normalized) keys dropDuplicatesWithinWatermark, so a re-crawled doc
    // that differs only in formatting is dropped across micro-batches
    import graft.ops.TextOps
    val docSt = struct("doc_id" -> LongType, "ts" -> TimestampType, "text" -> StringType)
    val dir = Files.createTempDirectory("graft-fp-dedup").toString
    val chunks = Seq(
      Seq(Row(1L, ts("2026-01-01 10:00:00"), "The quick brown fox")),
      Seq(Row(2L, ts("2026-01-01 10:00:10"), "  the QUICK   brown fox "), // dup
        Row(3L, ts("2026-01-01 10:00:20"), "an entirely different doc")))
    chunks.foreach { rows =>
      frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    val deduped = StreamingOps.dedupStream(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir)
        .withColumn("fp", TextOps.fingerprint(col("text"))),
      "ts", "10 minutes", Seq("fp"))
    runToCompletion(deduped, "fp_dedup")
    val kept = spark.table("fp_dedup").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("text quality/PII/repetition columns are stateless — stream ≡ batch") {
    // the per-document TextOps are pure projections, so they must run
    // unchanged on a stream (no state, no watermark) and agree with batch
    import graft.ops.TextOps
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val dir = Files.createTempDirectory("graft-docs-in").toString
    val chunks = Seq(
      Seq(Row(1L, "the cat sat on the mat\nthe cat sat on the mat"),
        Row(2L, "mail a.b@x.io or call 555-123-4567 now")),
      Seq(Row(3L, "unique line one\nunique line two and the end")))
    chunks.foreach { rows =>
      frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    def project(df: DataFrame): DataFrame = df.select(
      Seq(col("doc_id")) ++
        TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) } ++
        TextOps.piiColumns(col("text")).map { case (n, c) => c.as(n) } ++
        TextOps.repetitionColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
    val stream = project(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir))
    runToCompletion(stream, "doc_signals")
    val streamed = spark.table("doc_signals").orderBy("doc_id").collect().map(_.toSeq)
    val batch = project(spark.read.parquet(dir)).orderBy("doc_id").collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 3)
  }

  test("streaming incremental dedup against a static corpus ≡ batch") {
    import graft.ops.Dedup
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token7", "tokenX")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val existing = frame(docSt, Row(10L, base), Row(11L, other))
    val dir = Files.createTempDirectory("graft-newdocs-in").toString
    // arrivals split across micro-batches — the near-dup of doc 10 lands
    // in batch 1, the near-dup of doc 11 in batch 2
    Seq(Seq(Row(1L, base)),
      Seq(Row(2L, nearDup), Row(3L, other.replace("other7 ", "otherX "))))
      .foreach { rows =>
        frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(5)
      }
    val stream = StreamingOps.dedupAgainstCorpus(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir),
      existing, "text", "doc_id")
    runToCompletion(stream, "dedup_inc")
    val streamed = spark.table("dedup_inc").select("new_id", "existing_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minhashPairsAgainst(
      spark.read.parquet(dir), existing, "text", "doc_id")
      .select("new_id", "existing_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, 10L), (2L, 10L), (3L, 11L)))
  }

  test("streaming dedup against a persisted index ≡ batch probe, incl. after append") {
    import graft.ops.Dedup
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val extra = (1 to 40).map(i => s"extra$i").mkString(" ")
    // index built on {10, 11}, then doc 12 appended — the stream must see
    // appended docs too, with banding params read from the index meta
    val idx = Files.createTempDirectory("graft-stream-idx").toString
    Dedup.writeDedupIndex(
      frame(docSt, Row(10L, base), Row(11L, other)), "text", "doc_id", idx)
    Dedup.appendDedupIndex(frame(docSt, Row(12L, extra)), "text", "doc_id", idx)
    val dir = Files.createTempDirectory("graft-idxprobe-in").toString
    Seq(Seq(Row(1L, base.replace("token7", "tokenX"))),
      Seq(Row(2L, other.replace("other7 ", "otherX ")),
        Row(3L, extra.replace("extra7 ", "extraX "))))
      .foreach { rows =>
        frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(5)
      }
    val stream = StreamingOps.dedupAgainstIndex(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir),
      "text", "doc_id", idx)
    runToCompletion(stream, "dedup_idx")
    val streamed = spark.table("dedup_idx").select("new_id", "existing_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minhashPairsAgainstIndex(
      spark.read.parquet(dir), "text", "doc_id", idx)
      .select("new_id", "existing_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, 10L), (2L, 11L), (3L, 12L)),
      "appended doc 12 must be probeable from the stream")
  }

  test("streaming index append ≡ batch append on the same arrivals") {
    import graft.ops.Dedup
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val extra = (1 to 40).map(i => s"extra$i").mkString(" ")
    val nearDup = base.replace("token7", "tokenX")
    val corpus = frame(docSt, Row(10L, base), Row(11L, other))
    val streamed = Files.createTempDirectory("graft-sapp-idx").toString
    val batched = Files.createTempDirectory("graft-bapp-idx").toString
    Dedup.writeDedupIndex(corpus, "text", "doc_id", streamed)
    Dedup.writeDedupIndex(corpus, "text", "doc_id", batched)
    val dir = Files.createTempDirectory("graft-sapp-in").toString
    // batch 2 re-delivers doc 1 (a replayed micro-batch) and carries a
    // within-batch duplicate of doc 2 — both idempotence guards must fire,
    // or the duplicate-id rejection would fail the query
    Seq(Seq(Row(1L, nearDup)),
      Seq(Row(1L, nearDup), Row(2L, extra), Row(2L, extra)))
      .foreach { rows =>
        frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(5)
      }
    val cp = Files.createTempDirectory("graft-sapp-cp").toString
    val q = StreamingOps.appendToIndex(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir),
      "text", "doc_id", streamed)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp).start()
    q.awaitTermination()
    Dedup.appendDedupIndex(
      frame(docSt, Row(1L, nearDup), Row(2L, extra)), "text", "doc_id", batched)
    def tables(p: String) = {
      val ep = Dedup.resolveIndex(spark, p)
      Seq(Dedup.indexBuckets(spark, ep), Dedup.indexSets(spark, ep),
        Dedup.indexDropped(spark, ep)).map(_.collect().map(_.toSeq).toSet)
    }
    assert(tables(streamed) == tables(batched),
      "stream-appended index must equal the batch-appended one")
    val pairs = Dedup.minhashPairsAgainstIndex(
      frame(docSt, Row(30L, base)), "text", "doc_id", streamed, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((30L, 10L), (30L, 1L)),
      "stream-appended doc 1 must be probeable alongside the built corpus")
  }

  test("streaming ANN append and stateless range probe ≡ batch") {
    import graft.ops.{EpochStore, Similarity}
    val vecSt = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    def v(xs: Float*): Seq[Float] = xs
    val corpus = frame(vecSt,
      Row(10L, v(1f, 0f, 0f, 0f)), Row(11L, v(0f, 1f, 0f, 0f)),
      Row(12L, v(0f, 0f, 1f, 0f)), Row(13L, v(0f, 0f, 0f, 1f)))
    val streamed = Files.createTempDirectory("graft-sann-idx").toString
    val batched = Files.createTempDirectory("graft-bann-idx").toString
    Similarity.writeAnnIndex(corpus, "embedding", "vec_id", streamed, nlist = 2)
    Similarity.writeAnnIndex(corpus, "embedding", "vec_id", batched, nlist = 2)
    // batch 2 replays vector 1 and carries a within-batch duplicate of 2 —
    // the same idempotence guards as the dedup-index sink must fire
    val arrivals = Seq(
      Seq(Row(1L, v(0.9f, 0.1f, 0f, 0f))),
      Seq(Row(1L, v(0.9f, 0.1f, 0f, 0f)),
        Row(2L, v(0f, 0.2f, 0.9f, 0f)), Row(2L, v(0f, 0.2f, 0.9f, 0f))))
    val dir = Files.createTempDirectory("graft-sann-in").toString
    arrivals.foreach { rows =>
      frame(vecSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    val cp = Files.createTempDirectory("graft-sann-cp").toString
    val q = StreamingOps.appendToAnnIndex(
      spark.readStream.schema(vecSt).option("maxFilesPerTrigger", "1").parquet(dir),
      "embedding", "vec_id", streamed)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp).start()
    q.awaitTermination()
    Similarity.appendAnnIndex(
      frame(vecSt, Row(1L, v(0.9f, 0.1f, 0f, 0f)), Row(2L, v(0f, 0.2f, 0.9f, 0f))),
      "embedding", "vec_id", batched)
    def assigned(p: String) = EpochStore.readTable(
      spark, Similarity.resolveAnnIndex(spark, p), "assigned")
      .collect().map(_.toSeq).toSet
    assert(assigned(streamed) == assigned(batched),
      "stream-appended ANN index must equal the batch-appended one")
    // the range probe is stateless → identical rows from a streaming frame
    val queries = frame(vecSt, Row(100L, v(1f, 0f, 0f, 0f)), Row(101L, v(0f, 0f, 1f, 0f)))
    val qDir = Files.createTempDirectory("graft-sann-q").toString
    queries.coalesce(1).write.mode("append").parquet(qDir)
    runToCompletion(
      Similarity.annRangeAgainstIndex(
        spark.readStream.schema(vecSt).option("maxFilesPerTrigger", "1").parquet(qDir),
        "embedding", "vec_id", streamed, floor = 0.5, nprobe = 2),
      "ann_stream_probe")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .toSet
    val stream = rows(spark.table("ann_stream_probe"))
    val batch = rows(Similarity.annRangeAgainstIndex(
      queries, "embedding", "vec_id", streamed, floor = 0.5, nprobe = 2))
    assert(stream == batch && stream.nonEmpty,
      s"stream probe must equal batch probe: stream=$stream batch=$batch")
  }

  test("streaming SemDeDup audits ≡ sequential batch loop; survivors grow the index mid-stream") {
    import graft.ops.Similarity
    val vecSt = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    def v(xs: Float*): Seq[Float] = xs
    val standing = frame(vecSt,
      Row(100L, v(1f, 0f, 0f, 0f)), Row(101L, v(0f, 1f, 0f, 0f)),
      Row(102L, v(0f, 0f, 1f, 0f)), Row(103L, v(0f, 0f, 0f, 1f)))
    val streamed = Files.createTempDirectory("graft-ssem-idx").toString
    val batched = Files.createTempDirectory("graft-bsem-idx").toString
    Similarity.writeAnnIndex(standing, "embedding", "vec_id", streamed, nlist = 2)
    Similarity.writeAnnIndex(standing, "embedding", "vec_id", batched, nlist = 2)
    // batch 0: id 1 duplicates standing 100 (standing wins); {2, 3} are a
    // batch-only near-dup pair far from every standing axis — 2 survives
    // and must be APPENDED. batch 1: id 4 duplicates 2 — only visible if
    // batch 0's survivor actually grew the index mid-stream; id 5 is novel.
    val arrivals = Seq(
      Seq(Row(1L, v(0.95f, 0.05f, 0f, 0f)),
        Row(2L, v(0.5f, 0.5f, 0.5f, 0.5f)),
        Row(3L, v(0.5f, 0.5f, 0.48f, 0.52f))),
      Seq(Row(4L, v(0.5f, 0.5f, 0.5f, 0.5f)),
        Row(5L, v(0f, 0f, 0.6f, -0.8f))))
    val dir = Files.createTempDirectory("graft-ssem-in").toString
    arrivals.foreach { rows =>
      frame(vecSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val cp = Files.createTempDirectory("graft-ssem-cp").toString
    val q = StreamingOps.dedupAndGrowSemanticIndexStream(
      spark.readStream.schema(vecSt).option("maxFilesPerTrigger", "1").parquet(dir),
      "embedding", "vec_id", streamed, minCosine = 0.9, nprobe = 2) { audited =>
        // the audited frame carries the BATCH columns plus the audit
        assert(audited.columns.toSet == Set("vec_id", "embedding", "rep", "kept"))
        out ++= audited.select("vec_id", "rep", "kept").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp).start()
    q.awaitTermination()
    // parity: the documented batch daily loop over the same arrivals
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    arrivals.foreach { rows =>
      val b = frame(vecSt, rows: _*)
      val audit = Similarity.semanticDedupAgainstIndex(
        b, "embedding", "vec_id", batched, minCosine = 0.9, nprobe = 2)
      expected ++= audit.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val survivors = b.join(
        audit.where(col("kept")).select(col("id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      if (!survivors.isEmpty)
        Similarity.appendAnnIndex(survivors, "embedding", "vec_id", batched)
    }
    assert(out.toSet == expected.toSet && out.size == expected.size,
      s"stream audits must equal the batch loop: stream=$out batch=$expected")
    val byId = out.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(1L) == ((100L, false)), "standing wins the duplicate of 100")
    assert(byId(2L) == ((2L, true)) && byId(3L) == ((2L, false)),
      "batch-only pair elects min id")
    assert(byId(4L) == ((2L, false)),
      "batch 1 must see batch 0's appended survivor WITHOUT a restart")
    assert(byId(5L)._2, "novel vector survives")
  }

  test("streaming SemDeDup grow loop is replay-idempotent: a fresh-checkpoint rerun appends nothing") {
    import graft.ops.{EpochStore, Similarity}
    val vecSt = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    def v(xs: Float*): Seq[Float] = xs
    val idx = Files.createTempDirectory("graft-ssemrp-idx").toString
    Similarity.writeAnnIndex(
      frame(vecSt, Row(100L, v(1f, 0f, 0f, 0f)), Row(101L, v(0f, 1f, 0f, 0f))),
      "embedding", "vec_id", idx, nlist = 2)
    val inDir = Files.createTempDirectory("graft-ssemrp-in").toString
    frame(vecSt,
      Row(2L, v(0.5f, 0.5f, 0.5f, 0.5f)),
      Row(3L, v(0.5f, 0.5f, 0.48f, 0.52f)))
      .coalesce(1).write.mode("append").parquet(inDir)
    def runOnce(): Seq[(Long, Long, Boolean)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
      val cp = Files.createTempDirectory("graft-ssemrp-cp").toString
      val q = StreamingOps.dedupAndGrowSemanticIndexStream(
        spark.readStream.schema(vecSt).option("maxFilesPerTrigger", "1").parquet(inDir),
        "embedding", "vec_id", idx, minCosine = 0.9, nprobe = 2) { audited =>
          out ++= audited.select("vec_id", "rep", "kept").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
      out.toSeq
    }
    val first = runOnce()
    assert(first.toSet == Set((2L, 2L, true), (3L, 2L, false)))
    val epochAfterFirst = EpochStore.epochDir(spark, idx)
    // a FRESH checkpoint reprocesses every file — the worst-case
    // at-least-once redelivery. The replayed survivor anchors at itself
    // (id-bloom replay guard), so the rerun elects nothing and the index
    // commits no epoch.
    val second = runOnce()
    assert(second.toSet == Set((2L, 2L, false), (3L, 2L, false)),
      s"replayed ids must come back kept=false: $second")
    assert(EpochStore.epochDir(spark, idx) == epochAfterFirst,
      "a replayed batch must not commit a new epoch")
  }

  test("streaming SemDeDup keep-best election: the high-score row survives") {
    import graft.ops.Similarity
    val vecSt = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "score" -> LongType)
    def v(xs: Float*): Seq[Float] = xs
    val idx = Files.createTempDirectory("graft-ssemkb-idx").toString
    Similarity.writeAnnIndex(
      frame(struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
        Row(100L, v(1f, 0f, 0f, 0f)), Row(101L, v(0f, 1f, 0f, 0f))),
      "embedding", "vec_id", idx, nlist = 2)
    // {2, 3} tie semantically; 3 has the better score and must win the
    // election (min-id would pick 2) — the scoreCol branch is binding
    val inDir = Files.createTempDirectory("graft-ssemkb-in").toString
    frame(vecSt,
      Row(2L, v(0.5f, 0.5f, 0.5f, 0.5f), 1L),
      Row(3L, v(0.5f, 0.5f, 0.48f, 0.52f), 9L))
      .coalesce(1).write.mode("append").parquet(inDir)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val cp = Files.createTempDirectory("graft-ssemkb-cp").toString
    val q = StreamingOps.dedupSemanticAgainstIndexStream(
      spark.readStream.schema(vecSt).option("maxFilesPerTrigger", "1").parquet(inDir),
      "embedding", "vec_id", idx, minCosine = 0.9, nprobe = 2,
      scoreCol = Some("score")) { audited =>
        out ++= audited.select("vec_id", "rep", "kept").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp).start()
    q.awaitTermination()
    assert(out.toSet == Set((2L, 2L, false), (3L, 2L, true)),
      s"keep-best must elect the high-score row (rep stays the min-id label): $out")
  }

  test("streaming fingerprint-index growth ≡ batch appends, replay-safe") {
    import graft.ops.{Decontam, EpochStore}
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val base = frame(docSt,
      Row(10L, (1 to 10).map(i => s"s$i").mkString(" ")),
      Row(11L, (1 to 12).map(i => s"z$i").mkString(" ")))
    val streamed = Files.createTempDirectory("graft-sfp-idx").toString
    val batched = Files.createTempDirectory("graft-bfp-idx").toString
    Decontam.writeFingerprintIndex(base, "doc_id", "text", streamed, n = 5, w = 4)
    Decontam.writeFingerprintIndex(base, "doc_id", "text", batched, n = 5, w = 4)
    // batch 2 replays doc 1 and carries a within-batch duplicate of doc 2
    val d1 = Row(1L, (1 to 9).map(i => s"q$i").mkString(" "))
    val d2 = Row(2L, (1 to 8).map(i => s"r$i").mkString(" "))
    val arrivals = Seq(Seq(d1), Seq(d1, d2, d2))
    val dir = Files.createTempDirectory("graft-sfp-in").toString
    arrivals.foreach { rows =>
      frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    val cp = Files.createTempDirectory("graft-sfp-cp").toString
    val q = StreamingOps.appendToFingerprintIndex(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir),
      "doc_id", "text", streamed)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp).start()
    q.awaitTermination()
    Decontam.appendFingerprintIndex(
      frame(docSt, d1, d2), "doc_id", "text", batched)
    def table(p: String, t: String) = EpochStore.readTable(
      spark, Decontam.resolveFingerprintIndex(spark, p), t)
      .collect().map(_.toSeq).toSet
    assert(table(streamed, "postings") == table(batched, "postings"),
      "stream-grown fingerprint index must equal the batch-appended one")
    assert(table(streamed, "fsizes") == table(batched, "fsizes"))
  }

  test("streaming quality scoring is stateless — stream ≡ batch per-row scores") {
    import graft.ops.LangModel
    val labSt = struct(
      "doc_id" -> LongType, "text" -> StringType, "pos" -> BooleanType)
    val model = LangModel.trainTokenClassifier(
      frame(labSt, Row(1L, "alpha beta beta", true), Row(2L, "gamma", false)),
      "text", "pos")
    val wm = LangModel.collectWeights(model.weights)
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val batch = frame(docSt,
      Row(10L, "alpha gamma zzz"), Row(11L, "   "), Row(12L, null))
    val inDir = Files.createTempDirectory("graft-qscore-in").toString
    batch.coalesce(1).write.mode("append").parquet(inDir)
    val scored = StreamingOps.scoreQualityStream(
      spark.readStream.schema(docSt).parquet(inDir),
      "text", wm, model.oovWeight, model.prior)
    runToCompletion(scored, "qscore_out")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("quality_score"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(spark.table("qscore_out")) ==
      rows(batch.withColumn("quality_score",
        LangModel.scoreColumn(col("text"), wm, model.oovWeight, model.prior))))
  }

  test("streaming blocklist screen is stateless — stream ≡ batch filter") {
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val batch = frame(docSt,
      Row(1L, "clean words only"),
      Row(2L, "has a VECTOR token"),     // blocked, case-insensitive
      Row(3L, "slow\nfilter spans ws"),  // blocked multi-token phrase
      Row(4L, "slower filtering"),       // substrings don't block
      Row(5L, null))                     // null text kept
    val inDir = Files.createTempDirectory("graft-blk-in").toString
    batch.coalesce(1).write.mode("append").parquet(inDir)
    val screened = StreamingOps.screenBlocklistStream(
      spark.readStream.schema(docSt).parquet(inDir),
      "text", Seq("vector", "slow filter"))
    runToCompletion(screened, "blk_out")
    val streamed = spark.table("blk_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batched = graft.ops.TextOps
      .filterBlocklisted(batch, "text", Seq("vector", "slow filter"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batched && streamed == Set(1L, 4L, 5L))
  }

  test("streaming repetition screen is stateless — stream ≡ batch filter") {
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val batch = frame(docSt,
      Row(1L, "clean first line\nand a second one"),
      Row(2L, "a b\na b\nc"),                              // dup lines
      Row(3L, "Para one here.\n\nPara one here.\n\nOther."), // dup paras
      Row(4L, null),                                       // null → drop
      Row(5L, "wholly fine text"))
    val inDir = Files.createTempDirectory("graft-rep-in").toString
    batch.coalesce(1).write.mode("append").parquet(inDir)
    val screened = StreamingOps.screenRepetitionStream(
      spark.readStream.schema(docSt).parquet(inDir), "text")
    runToCompletion(screened, "rep_out")
    val streamed = spark.table("rep_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batched = batch
      .where(graft.ops.TextOps.repetitionQuickPass(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batched && streamed == Set(1L, 5L))
  }

  test("streaming prototype routing+scoring ≡ the frozen-table batch columns") {
    import graft.ops.Similarity
    val embSt = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    val corpus = frame(embSt,
      Row(1L, Seq(-127.0f, 13.0f)), Row(2L, Seq(-127.0f, 26.0f)),
      Row(3L, Seq(0.0f, 127.0f)), Row(4L, Seq(13.0f, 127.0f)),
      Row(5L, Seq(26.0f, 127.0f)), Row(6L, Seq(-127.0f, 0.0f)))
    val seeds = Similarity.collectCellSeeds(corpus, "embedding", "vec_id", 2)
    val sums = Similarity.collectCellSums(
      Similarity.integerCellAssign(corpus, "embedding", "vec_id", 2),
      "cell", "embedding")
    val arrivals = frame(embSt,
      Row(40L, Seq(-127.0f, 1.0f)),  // routes with the corpus's cell 6
      Row(41L, Seq(5.0f, 127.0f)),   // routes with cell 4
      Row(42L, null))                // null vector → lowest seed, null proto
    val inDir = Files.createTempDirectory("graft-proto-in").toString
    arrivals.coalesce(1).write.mode("append").parquet(inDir)
    val scored = StreamingOps.prototypeScoreStream(
      spark.readStream.schema(embSt).parquet(inDir), "embedding", seeds, sums)
    runToCompletion(scored, "proto_out")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell", "proto").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val streamed = rows(spark.table("proto_out"))
    val batched = rows(arrivals
      .withColumn("cell", Similarity.integerCellColumn(col("embedding"), seeds))
      .withColumn("proto", Similarity.prototypeScoreColumn(
        col("embedding"), col("cell"), sums)))
    assert(streamed == batched)
    assert(streamed(40L)._1 == 6L && streamed(41L)._1 == 4L)
    assert(streamed(42L)._2.isEmpty)
  }

  test("streaming curation composition: screen → staged survivors → re-mix ≡ batch chain") {
    val st = struct(
      "doc_id" -> LongType, "text" -> StringType, "source" -> StringType)
    // three sources; srcA over-weighted so its surplus spills; planted
    // blocklist hits in every micro-batch
    def rowsOf(ids: Range) = ids.map { i =>
      val src = s"src${i % 3}"
      val text = if (i % 4 == 0) s"doc $i has a vector inside"
        else s"clean document number $i words"
      Row(i.toLong, text, src)
    }
    val all = rowsOf(1 to 30)
    val inDir = Files.createTempDirectory("graft-cur-in").toString
    Seq(all.slice(0, 10), all.slice(10, 20), all.slice(20, 30)).foreach { rs =>
      frame(st, rs: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val staging = Files.createTempDirectory("graft-cur-st").toString + "/staging"
    val mix = Files.createTempDirectory("graft-cur-mx").toString + "/mix"
    val weights = Map("src0" -> 10L, "src1" -> 1L, "src2" -> 1L)
    val q = StreamingOps.curationMixStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      "text", "doc_id", "source", Seq("vector"), weights, budget = 12L,
      staging, mix)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cur-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // the drained snapshot ≡ the batch chain over everything that arrived
    val streamed = spark.read.parquet(mix)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchChain = graft.ops.Sampling.takeWaterfillMix(
      graft.ops.TextOps.filterBlocklisted(frame(st, all: _*), "text", Seq("vector")),
      "source", "doc_id", weights, budget = 12L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batchChain)
    assert(streamed.size == 12)
    // no blocked doc survived the screen into staging
    val staged = spark.read.parquet(staging)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(staged == (1 to 30).filterNot(_ % 4 == 0).map(_.toLong).toSet)
  }

  test("streaming sized-shard log append ≡ sequential batch appends; replay is loud") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val base = frame(st, (1L to 12L).map(i => Row(i, 5L)): _*)
    val b1 = (13L to 18L).map(i => Row(i, 4L))
    val b2 = (19L to 24L).map(i => Row(i, 6L))
    // streamed corpus
    val sDir = Files.createTempDirectory("graft-szs-s").toString + "/c"
    graft.ops.Sink.writeSizedShards(base, sDir, "id", "w", 20L)
    val inDir = Files.createTempDirectory("graft-szs-in").toString
    Seq(b1, b2).foreach { rows =>
      frame(st, rows: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val q = graft.streaming.StreamingOps.appendSizedShardsStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      sDir, "id", "w", targetWeight = 20L)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-szs-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // batch twin
    val bDir = Files.createTempDirectory("graft-szs-b").toString + "/c"
    graft.ops.Sink.writeSizedShards(base, bDir, "id", "w", 20L)
    graft.ops.Sink.appendSizedShards(frame(st, b1: _*), bDir, "id", "w", 20L)
    graft.ops.Sink.appendSizedShards(frame(st, b2: _*), bDir, "id", "w", 20L)
    def layout(p: String) = spark.read.parquet(p)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(layout(sDir) == layout(bDir))
    // a fresh-checkpoint replay of the SAME input re-appends ids → loud
    val q2 = graft.streaming.StreamingOps.appendSizedShardsStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      sDir, "id", "w", targetWeight = 20L)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-szs-ck2").toString)
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[Exception] { q2.awaitTermination(120000) }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + messages(t.getCause)
    assert(messages(err).contains("re-appends"))
  }

  test("streaming sized-shard append with compactEvery: content ≡ batch twin, files stay bounded") {
    val st = struct("id" -> LongType, "w" -> LongType)
    val base = frame(st, (1L to 12L).map(i => Row(i, 5L)): _*)
    val batches = Seq(
      (13L to 18L).map(i => Row(i, 4L)),
      (19L to 24L).map(i => Row(i, 6L)),
      (25L to 30L).map(i => Row(i, 3L)),
      (31L to 36L).map(i => Row(i, 5L)))
    val sDir = Files.createTempDirectory("graft-szc-s").toString + "/c"
    graft.ops.Sink.writeSizedShards(base, sDir, "id", "w", 20L)
    val inDir = Files.createTempDirectory("graft-szc-in").toString
    batches.foreach { rows =>
      frame(st, rows: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    // compact after every 2nd batch (ids 1 and 3) — the final batch is
    // a compacting one, so the drained log ends fully compacted
    val q = graft.streaming.StreamingOps.appendSizedShardsStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      sDir, "id", "w", targetWeight = 20L, compactEvery = 2)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-szc-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // compaction bit-preserves: the layout equals the pure batch twin
    val bDir = Files.createTempDirectory("graft-szc-b").toString + "/c"
    graft.ops.Sink.writeSizedShards(base, bDir, "id", "w", 20L)
    batches.foreach(rows =>
      graft.ops.Sink.appendSizedShards(frame(st, rows: _*), bDir, "id", "w", 20L))
    def layout(p: String) = spark.read.parquet(p)
      .select(col("id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(layout(sDir) == layout(bDir))
    // every shard dir of the drained stream log is at the 1-file bound
    // (the uncompacted twin has multi-file tail shards — that is the
    // sprawl the cadence exists to cut)
    def maxFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("shard=")).map(
        _.listFiles().count { f =>
          val n = f.getName; !n.startsWith("_") && !n.startsWith(".")
        }).max
    assert(maxFiles(sDir) == 1)
    assert(maxFiles(bDir) > 1)
  }

  test("streaming classification is stateless — stream ≡ batch per-row argmax") {
    import graft.ops.LangModel
    val mSt = struct(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType)
    val model = LangModel.trainMulticlassClassifier(
      frame(mSt, Row(1L, "alpha beta", "aa"), Row(2L, "gamma gamma", "bb")),
      "text", "lang")
    val wm = LangModel.collectMulticlassWeights(model.weights)
    val classes = model.classMeta.collect().toSeq.map(r => (r.getString(0),
      wm.getOrElse(r.getString(0), Map.empty[String, Long]),
      r.getLong(1), r.getLong(2))).sortBy(_._1)
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val batch = frame(docSt,
      Row(10L, "alpha zzz"), Row(11L, "gamma"), Row(12L, null))
    val inDir = Files.createTempDirectory("graft-predict-in").toString
    batch.coalesce(1).write.mode("append").parquet(inDir)
    val routed = StreamingOps.predictClassStream(
      spark.readStream.schema(docSt).parquet(inDir), "text", classes)
    runToCompletion(routed, "predict_out")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("pred.cls"), col("pred.score"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getString(1), r.getLong(2)))))
      .toMap
    assert(rows(spark.table("predict_out")) ==
      rows(batch.withColumn("pred",
        LangModel.predictColumn(col("text"), classes))))
  }

  test("stream-grown classifier index equals batch appends; replay no-ops") {
    import graft.ops.{EpochStore, LangModel}
    val labSt = struct(
      "doc_id" -> LongType, "text" -> StringType, "pos" -> BooleanType)
    val streamIdx = Files.createTempDirectory("graft-clsidx-s").toString + "/idx"
    val batchIdx = Files.createTempDirectory("graft-clsidx-b").toString + "/idx"
    val seed = frame(labSt,
      Row(1L, "alpha beta beta", true), Row(2L, "gamma", false))
    LangModel.writeClassifierIndex(seed, "doc_id", "text", "pos", streamIdx)
    LangModel.writeClassifierIndex(seed, "doc_id", "text", "pos", batchIdx)
    val chunks = Seq(
      Seq(Row(10L, "beta delta", false), Row(11L, "alpha", true)),
      Seq(Row(12L, "delta delta epsilon", true)))
    val inDir = Files.createTempDirectory("graft-clsidx-in").toString
    chunks.foreach { rows =>
      frame(labSt, rows: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    def fold(cp: String): Unit = {
      val q = StreamingOps.appendToClassifierIndex(
        spark.readStream.schema(labSt).option("maxFilesPerTrigger", "1").parquet(inDir),
        "doc_id", "text", "pos", streamIdx)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
    }
    fold(Files.createTempDirectory("graft-clsidx-cp").toString)
    chunks.foreach(rows => LangModel.appendClassifierIndex(
      frame(labSt, rows: _*), "doc_id", "text", "pos", batchIdx))
    def modelOf(p: String) = {
      val m = LangModel.indexClassifier(spark, p)
      (m.weights.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
        m.oovWeight, m.prior)
    }
    assert(modelOf(streamIdx) == modelOf(batchIdx),
      "stream-folded classifier must equal the batch-appended one")
    // replay EVERYTHING from a fresh checkpoint: each re-delivered batch's
    // ids are all committed, so every fold no-ops — same epoch, same model
    val epochBefore = EpochStore.currentEpoch(spark, streamIdx)
    fold(Files.createTempDirectory("graft-clsidx-cp2").toString)
    assert(EpochStore.currentEpoch(spark, streamIdx) == epochBefore)
    assert(modelOf(streamIdx) == modelOf(batchIdx))
  }

  test("stream-grown token-frequency index equals batch appends; replay no-ops") {
    import graft.ops.{EpochStore, TextOps}
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val streamIdx = Files.createTempDirectory("graft-tfidx-s").toString + "/idx"
    val batchIdx = Files.createTempDirectory("graft-tfidx-b").toString + "/idx"
    val seed = frame(docSt, Row(1L, "alpha beta beta"), Row(2L, "gamma"))
    TextOps.writeTokenFrequencyIndex(seed, "doc_id", "text", streamIdx)
    TextOps.writeTokenFrequencyIndex(seed, "doc_id", "text", batchIdx)
    val chunks = Seq(
      Seq(Row(10L, "beta delta"), Row(11L, "alpha")),
      Seq(Row(12L, "delta delta epsilon")))
    val inDir = Files.createTempDirectory("graft-tfidx-in").toString
    chunks.foreach { rows =>
      frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    def fold(cp: String): Unit = {
      val q = StreamingOps.appendToTokenFrequencyIndex(
        spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(inDir),
        "doc_id", "text", streamIdx)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp).start()
      q.awaitTermination()
    }
    fold(Files.createTempDirectory("graft-tfidx-cp").toString)
    chunks.foreach(rows => TextOps.appendTokenFrequencyIndex(
      frame(docSt, rows: _*), "doc_id", "text", batchIdx))
    def totals(p: String) = TextOps.indexTokenFrequencies(spark, p)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals(streamIdx) == totals(batchIdx),
      "stream-folded counters must equal the batch-appended ones")
    // replay EVERYTHING from a fresh checkpoint: each re-delivered batch's
    // ids are all committed, so every fold no-ops — same epoch, same counts
    val epochBefore = EpochStore.currentEpoch(spark, streamIdx)
    fold(Files.createTempDirectory("graft-tfidx-cp2").toString)
    assert(EpochStore.currentEpoch(spark, streamIdx) == epochBefore)
    assert(totals(streamIdx) == totals(batchIdx))
  }

  test("fingerprint screen: stream flags agree with the exact batch probe") {
    import graft.ops.Decontam
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val corpusText = (1 to 12).map(i => s"s$i").mkString(" ")
    val idx = Files.createTempDirectory("graft-fpscreen-idx").toString + "/idx"
    Decontam.writeFingerprintIndex(
      frame(docSt, Row(10L, corpusText),
        Row(11L, (1 to 12).map(i => s"z$i").mkString(" "))),
      "doc_id", "text", idx, n = 5, w = 4)
    // doc 1 duplicates an indexed doc (every fingerprint hits), doc 2 is
    // fresh (zero hits at fpp 1e-6), doc 3 has null text
    val inDir = Files.createTempDirectory("graft-fpscreen-in").toString
    val batch = frame(docSt,
      Row(1L, corpusText),
      Row(2L, (1 to 12).map(i => s"fresh$i").mkString(" ")),
      Row(3L, null))
    batch.coalesce(1).write.mode("append").parquet(inDir)
    val screened = StreamingOps.screenFingerprintsStream(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(inDir),
      "text", idx, minShared = 1L)
    runToCompletion(screened, "fp_screen_out")
    val got = spark.table("fp_screen_out").orderBy("doc_id")
      .select("doc_id", "fp_hits", "suspect").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // the exact probe attributes the pair; its shared_fps must equal the
    // screen's hit count for the single-source duplicate
    val exact = Decontam.winnowingPairsAgainstIndex(
      batch, "doc_id", "text", idx, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(exact.map(p => (p._1, p._2)).toSet == Set((1L, 10L)))
    assert(got(0) == ((1L, exact.head._3, true)),
      "screen hits must equal the exact probe's shared_fps for a one-source dup")
    assert(got(1) == ((2L, 0L, false)) && got(2) == ((3L, 0L, false)))
  }

  test("fingerprint screen refresh: an index append MID-STREAM flags later batches") {
    import graft.ops.Decontam
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val corpusA = (1 to 12).map(i => s"a$i").mkString(" ")
    val corpusB = (1 to 12).map(i => s"b$i").mkString(" ")
    val idx = Files.createTempDirectory("graft-fpscr-refresh").toString + "/idx"
    Decontam.writeFingerprintIndex(
      frame(docSt, Row(10L, corpusA)), "doc_id", "text", idx, n = 5, w = 4)
    // batch 0: a corpusB copy passes (B unindexed); the write callback
    // appends B — an external daily append landing between micro-batches —
    // and batch 1's corpusB copy must flag WITHOUT a restart
    val inDir = Files.createTempDirectory("graft-fpscr-refresh-in").toString
    frame(docSt, Row(20L, corpusB)).coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(5)
    frame(docSt, Row(21L, corpusB)).coalesce(1).write.mode("append").parquet(inDir)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val cp = Files.createTempDirectory("graft-fpscr-refresh-cp").toString
    val q = StreamingOps.screenFingerprintsRefreshing(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(inDir),
      "text", idx, minShared = 1L, refreshEvery = 1) { screened =>
        out ++= screened.select("doc_id", "suspect").collect()
          .map(r => (r.getLong(0), r.getBoolean(1)))
        if (out.size == 1 && out.head._1 == 20L)
          Decontam.appendFingerprintIndex(
            frame(docSt, Row(50L, corpusB)), "doc_id", "text", idx)
      }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val byId = out.toMap
    assert(byId(20L) == false, "batch 0: corpusB unindexed, must pass clean")
    assert(byId(21L) == true,
      "batch 1: the mid-stream append must be visible — corpusB flagged without restart")
  }

  test("content-keyed sampling and mixing are stateless — stream ≡ batch") {
    // md5 split/sample/mix decide per row from content alone (no seed, no
    // state), so the SAME rows must be kept whether the corpus arrives as
    // one batch or dribbles in over micro-batches — the property that lets
    // one pipeline definition serve backfill and live ingestion
    import graft.ops.Sampling
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val dir = Files.createTempDirectory("graft-mix-in").toString
    val rows = (1L to 60L).map(i => Row(i, s"document number $i body"))
    rows.grouped(20).foreach { chunk =>
      frame(docSt, chunk: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    def keep(df: DataFrame): DataFrame =
      Sampling.md5WeightedMix(Seq((df, "live", 0.5)), "doc_id")
    val stream = keep(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir))
    runToCompletion(stream, "mix_out")
    val streamed = spark.table("mix_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = keep(spark.read.parquet(dir))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.size < 60,
      "weight 0.5 must keep a strict non-empty subset")
  }

  test("paragraph index grows from the stream; bloom probe suppresses indexed paragraphs") {
    import graft.ops.Dedup
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val root = Files.createTempDirectory("graft-pidx-stream").toString
    val streamIdx = s"$root/stream"
    val batchIdx = s"$root/batch"
    val corpus1 = frame(docSt, Row(1L, "A\n\nB"), Row(2L, "C"))
    Dedup.writeParagraphIndex(corpus1, "text", streamIdx)
    Dedup.writeParagraphIndex(corpus1, "text", batchIdx)
    // two micro-batches; D arrives in batch 1, so batch 2's D is known
    val inDir = Files.createTempDirectory("graft-pidx-in").toString
    val chunks = Seq(Seq(Row(10L, "B\n\nD")), Seq(Row(11L, "D\n\nE")))
    chunks.foreach { rows =>
      frame(docSt, rows: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val cp = Files.createTempDirectory("graft-pidx-cp").toString
    val q = StreamingOps.appendToParagraphIndex(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(inDir),
      "text", streamIdx)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    chunks.foreach(rows =>
      Dedup.appendParagraphIndex(frame(docSt, rows: _*), "text", batchIdx))
    def hashes(p: String) = Dedup.paragraphIndexHashes(
      spark, Dedup.resolveParagraphIndex(spark, p))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(hashes(streamIdx) == hashes(batchIdx))
    // stateless bloom probe: indexed paragraphs vanish, new text survives
    val probeDir = Files.createTempDirectory("graft-pidx-probe").toString
    frame(docSt, Row(20L, "A\n\nZ"), Row(21L, null)).coalesce(1)
      .write.mode("append").parquet(probeDir)
    val cleaned = StreamingOps.suppressKnownParagraphsStream(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(probeDir),
      "text", streamIdx)
    runToCompletion(cleaned, "pidx_probe_out")
    val got = spark.table("pidx_probe_out").orderBy("doc_id")
      .select("doc_id", "cleaned").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got(0) == ((20L, "Z")))
    assert(got(1)._1 == 21L && got(1)._2 == null)
  }

  test("bloom refresh: paragraphs appended MID-STREAM are suppressed in later batches") {
    import graft.ops.Dedup
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val idx = Files.createTempDirectory("graft-pidx-refresh").toString + "/idx"
    Dedup.writeParagraphIndex(frame(docSt, Row(1L, "A")), "text", idx)
    // both micro-batches exist before the query starts; batch 0's write
    // callback appends NEW1 to the index (an external daily append landing
    // between micro-batches), and batch 1 must already suppress it —
    // WITHOUT a query restart
    val inDir = Files.createTempDirectory("graft-pidx-refresh-in").toString
    frame(docSt, Row(10L, "A\n\nNEW1")).coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(5)
    frame(docSt, Row(11L, "NEW1\n\nNEW2")).coalesce(1).write.mode("append").parquet(inDir)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val cp = Files.createTempDirectory("graft-pidx-refresh-cp").toString
    val q = StreamingOps.suppressKnownParagraphsRefreshing(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(inDir),
      "text", idx, refreshEvery = 1) { cleaned =>
        out ++= cleaned.select("doc_id", "cleaned").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        if (out.size == 1 && out.head._1 == 10L)
          Dedup.appendParagraphIndex(frame(docSt, Row(100L, "NEW1")), "text", idx)
      }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val byId = out.toMap
    assert(byId(10L) == "NEW1", "batch 0: A suppressed, NEW1 unseen → kept")
    assert(byId(11L) == "NEW2",
      "batch 1: the mid-stream append must be visible — NEW1 suppressed without restart")
  }

  test("decontaminate refresh: eval rows added MID-STREAM drop later batches") {
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    // no shared 5-gram between the two leaks (distinct word sets)
    val leak1 = "first held out benchmark answer sentence body"
    val leak2 = "entirely separate secret evaluation phrase appearing later"
    val evalDir = Files.createTempDirectory("graft-dc-refresh-eval").toString
    frame(docSt, Row(900L, leak1)).coalesce(1).write.mode("append").parquet(evalDir)
    val inDir = Files.createTempDirectory("graft-dc-refresh-in").toString
    // batch 0: a leak2 doc passes (leak2 not yet in the eval store) and a
    // leak1 doc drops; batch 1: leak2 now in the store → its carrier drops
    frame(docSt,
      Row(10L, s"prefix words $leak2 suffix"),
      Row(11L, s"alpha $leak1 omega")).coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(5)
    frame(docSt,
      Row(20L, s"other words $leak2 tail"),
      Row(21L, "a perfectly clean document body here")).coalesce(1)
      .write.mode("append").parquet(inDir)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cp = Files.createTempDirectory("graft-dc-refresh-cp").toString
    val q = StreamingOps.decontaminateRefreshing(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(inDir),
      () => spark.read.parquet(evalDir), "text", n = 5, refreshEvery = 1) { kept =>
        out ++= kept.select("doc_id").collect().map(_.getLong(0))
        if (out.contains(10L) && !out.contains(20L))
          frame(docSt, Row(901L, leak2)).coalesce(1)
            .write.mode("append").parquet(evalDir)
      }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(out.contains(10L), "batch 0: leak2 unknown → its carrier passes")
    assert(!out.contains(11L), "batch 0: leak1 known → dropped")
    assert(!out.contains(20L),
      "batch 1: the mid-stream eval growth must drop the leak2 carrier")
    assert(out.contains(21L), "batch 1: clean docs still pass")
  }

  test("streaming shard sink: same layout and manifest as the batch sink") {
    import graft.ops.Sink
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val inDir = Files.createTempDirectory("graft-shardstream-in").toString
    val outDir = Files.createTempDirectory("graft-shardstream-out").toString + "/corpus"
    val cp = Files.createTempDirectory("graft-shardstream-cp").toString
    val rows = (1L to 90L).map(i => Row(i, s"doc body $i"))
    rows.grouped(30).foreach { chunk =>
      frame(docSt, chunk: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val q = StreamingOps.writeShardsStream(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", nShards = 8)
      .option("path", outDir)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // layout: shard dirs present, every row back, shard values portable
    val back = spark.read.parquet(outDir)
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet == (1L to 90L).toSet)
    val md = java.security.MessageDigest.getInstance("MD5")
    back.select("doc_id", "shard").collect().foreach { r =>
      val hex = md.digest(r.getLong(0).toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getInt(1) == Integer.parseInt(hex.substring(0, 1), 16) % 8)
    }
    // manifest from the streamed layout ≡ manifest from a batch write of
    // the same rows
    val batchDir = Files.createTempDirectory("graft-shardbatch-out").toString + "/corpus"
    Sink.writeShards(spark.read.parquet(inDir), batchDir, "doc_id", nShards = 8)
    def man(p: String) = Sink.shardManifest(spark, p).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(man(outDir) == man(batchDir))
  }

  test("stateless streaming decontamination never passes a contaminated doc") {
    import graft.ops.Decontam
    val docSt = struct("doc_id" -> LongType, "text" -> StringType)
    val leak = "alpha beta gamma delta epsilon"
    val evalSet = frame(docSt, Row(100L, s"prefix words $leak suffix"))
    val dir = Files.createTempDirectory("graft-decontam-in").toString
    val rows = (1L to 30L).map { i =>
      if (i % 3 == 0) Row(i, s"$leak unique$i tail words here")
      else Row(i, (1 to 8).map(j => s"only${i}x$j").mkString(" "))
    } :+ Row(31L, null)
    rows.grouped(10).foreach { chunk =>
      frame(docSt, chunk: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    val stream = StreamingOps.decontaminateStream(
      spark.readStream.schema(docSt).option("maxFilesPerTrigger", "1").parquet(dir),
      evalSet, "doc_id", "text", n = 5)
    runToCompletion(stream, "decontam_out")
    val streamed = spark.table("decontam_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchDF = spark.read.parquet(dir)
    // identical to its batch twin (same bloom decision per row) …
    val batch = StreamingOps.decontaminateStream(
      batchDF, evalSet, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // … and NEVER passes a contaminated doc: kept ⊆ the exact clean set
    val exactClean = Decontam.decontaminate(batchDF, evalSet, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.subsetOf(exactClean))
    assert((1L to 30L).filter(_ % 3 == 0).forall(!streamed.contains(_)))
    // null text has no grams — always kept; at fpp 1e-6 on this tiny eval
    // set no clean doc is over-dropped, so the sets are in fact equal
    assert(streamed.contains(31L))
    assert(streamed == exactClean)
  }

  test("streaming pipeline flagship: drained diagnosis ≡ batch curate on the same arrivals") {
    val st = struct("doc_id" -> LongType, "source" -> StringType,
      "url" -> StringType, "html" -> StringType)
    val p1 = "It is a pleasant morning for the people of the village " +
      "and the weather is a gentle presence in all of the streets."
    val p2 = "The point of it is that the work of the day sits in the " +
      "middle of it for all of the people involved."
    val p3 = "The point of the note is that it is written for the " +
      "reader and it is kept in the set."
    def page(extra: String*): String =
      "<html><body>" + (Seq(p1, p2, p3) ++ extra)
        .map(s => s"<p>$s</p>").mkString + "</body></html>"
    val leak = "It is the case that the answer to the benchmark " +
      "question is in the set."
    val all = Seq(
      Row(1L, "s0", "https://www.bad.example.com/x", page()),
      Row(2L, "s0", "https://ok.example.com/2", null),
      Row(3L, "s0", "https://ok.example.com/3",
        "<html><body><p>" + p3 + "</p></body></html>"),
      Row(4L, "s0", "https://ok.example.com/4", page(p1, p1, p1)),
      Row(5L, "s0", "https://ok.example.com/5",
        page("lorem ipsum dolor sit amet the words go on in the line " +
          "of it okay.")),
      Row(6L, "s0", "https://ok.example.com/6",
        page("It is the day of the banned topic of it in the set of it.")),
      Row(7L, "s0", "https://ok.example.com/7?utm_source=x#f",
        page("It is the seventh page of the set for the day of it.")),
      Row(8L, "s0", "https://ok.example.com/7",
        page("It is the eighth page of the set for the day of it.")),
      Row(9L, "s0", "https://ok.example.com/9",
        page("It is the seventh page of the set for the day of it.")),
      Row(10L, "s0", "https://ok.example.com/10", page(leak)),
      Row(11L, "s1", "https://ok.example.com/11",
        page("It is the eleventh page of it for the day of it in the set.")),
      Row(12L, "s1", "https://ok.example.com/12",
        page("It is the twelfth page of it for the day of it in the set.")))
    val cfg = graft.ops.Pipeline.CurationConfig(
      blockedDomains = Seq("bad.example.com"),
      phrases = Seq("banned topic"),
      weights = Map("s0" -> 1L, "s1" -> 1L),
      budgetTokens = 100000L,
      shardTokens = 70L)
    val spark0 = spark
    import spark0.implicits._
    val eval = Seq(leak).toDF("text")
    // RETROACTIVE elections are the point of the snapshot discipline:
    // the dup LOSERS (8: url_dup to 7; 9: text_dup to 7) arrive two
    // batches BEFORE their winner — an incremental first-arrival-wins
    // election would keep them; the snapshot must flip them
    val byId = all.map(r => r.getLong(0) -> r).toMap
    val batches = Seq(
      Seq(2L, 8L, 9L, 12L), Seq(1L, 3L, 4L, 5L, 6L), Seq(7L, 10L, 11L))
      .map(_.map(byId))
    val inDir = Files.createTempDirectory("graft-cur15-in").toString
    batches.foreach { rs =>
      frame(st, rs: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val staging = Files.createTempDirectory("graft-cur15-st").toString + "/s"
    val report = Files.createTempDirectory("graft-cur15-rp").toString + "/r"
    val q = StreamingOps.curateStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", "url", "source", "html", eval, "text", cfg,
      staging, report)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cur15-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val streamed = rows(spark.read.parquet(report))
    val batch = rows(graft.ops.Pipeline.curate(
      frame(st, all: _*), "doc_id", "url", "source", "html",
      eval, "text", cfg))
    assert(streamed == batch)
    // the retroactive flips landed: early arrivals 8/9 lost to the
    // later-arriving 7
    val stages = streamed.map(t => t._1 -> t._3).toMap
    assert(stages(7L) == "kept" && stages(8L) == "url_dup" &&
      stages(9L) == "text_dup", stages.toString)
    // staging holds the narrow ledger, one row per arrival, never HTML
    val staged = spark.read.parquet(staging)
    assert(staged.count() == 12L)
    assert(!staged.columns.contains("html"))
  }

  test("streaming pipeline flagship: snapshotEvery > 1 drains STALE; curateSnapshot finalizes") {
    // Two micro-batches with snapshotEvery = 2: only batch 0 snapshots,
    // so the drained report equals batch curate over batch 0's arrivals
    // ALONE — including winners the trailing batch's retroactive
    // elections should have flipped — and one curateSnapshot call after
    // the drain restores full equality (the scaladoc contract).
    val st = struct("doc_id" -> LongType, "source" -> StringType,
      "url" -> StringType, "html" -> StringType)
    val p1 = "It is a pleasant morning for the people of the village " +
      "and the weather is a gentle presence in all of the streets."
    val p2 = "The point of it is that the work of the day sits in the " +
      "middle of it for all of the people involved."
    val p3 = "The point of the note is that it is written for the " +
      "reader and it is kept in the set."
    def page(extra: String*): String =
      "<html><body>" + (Seq(p1, p2, p3) ++ extra)
        .map(s => s"<p>$s</p>").mkString + "</body></html>"
    val dupText = "It is the seventh page of the set for the day of it."
    val batch0 = Seq(
      Row(8L, "s0", "https://ok.example.com/7?utm_source=x#f",
        page("It is the eighth page of the set for the day of it.")),
      Row(9L, "s0", "https://ok.example.com/9", page(dupText)),
      Row(12L, "s0", "https://ok.example.com/12",
        page("It is the twelfth page of it for the day of it in the set.")))
    // the later-arriving WINNER: smaller id, canonical url of 8, text of 9
    val batch1 = Seq(Row(7L, "s0", "https://ok.example.com/7", page(dupText)))
    val cfg = graft.ops.Pipeline.CurationConfig(
      blockedDomains = Seq("bad.example.com"),
      phrases = Seq("banned topic"),
      weights = Map("s0" -> 1L),
      budgetTokens = 100000L,
      shardTokens = 70L)
    val spark0 = spark
    import spark0.implicits._
    val eval = Seq("no such benchmark phrase appears in any page").toDF("text")
    val inDir = Files.createTempDirectory("graft-cur15b-in").toString
    Seq(batch0, batch1).foreach { rs =>
      frame(st, rs: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val staging = Files.createTempDirectory("graft-cur15b-st").toString + "/s"
    val report = Files.createTempDirectory("graft-cur15b-rp").toString + "/r"
    val q = StreamingOps.curateStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", "url", "source", "html", eval, "text", cfg,
      staging, report, snapshotEvery = 2)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cur15b-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    def curateOn(rs: Seq[Row]) = rows(graft.ops.Pipeline.curate(
      frame(st, rs: _*), "doc_id", "url", "source", "html",
      eval, "text", cfg))
    // ALL arrivals staged (batch 1's ledger rows are not lost) …
    assert(spark.read.parquet(staging).count() == 4L)
    // … but the drained report is the batch-0 snapshot: 8 and 9 still
    // stand as winners because their dup winner arrived after the last
    // snapshot batch
    val stale = rows(spark.read.parquet(report))
    assert(stale == curateOn(batch0))
    val staleStages = stale.map(t => t._1 -> t._3).toMap
    assert(staleStages(8L) == "kept" && staleStages(9L) == "kept" &&
      !staleStages.contains(7L), staleStages.toString)
    // ONE finalize call replays the global stages over the full ledger
    StreamingOps.curateSnapshot(
      spark, staging, eval, "text", cfg, "doc_id", "source", report)
    val fin = rows(spark.read.parquet(report))
    assert(fin == curateOn(batch0 ++ batch1))
    val finStages = fin.map(t => t._1 -> t._3).toMap
    assert(finStages(7L) == "kept" && finStages(8L) == "url_dup" &&
      finStages(9L) == "text_dup", finStages.toString)
  }

  test("streaming funnel snapshots: drained report ≡ batch funnel on the same arrivals") {
    val st = struct("doc_id" -> LongType, "text" -> StringType,
      "source" -> StringType)
    val sent = "It is a pleasant morning for the people of the village " +
      "and the weather is a gentle presence in all of the streets. " +
      "The point of it is that the work of the day sits in the middle " +
      "of it for all of the people involved. The point of the note is " +
      "that it is written for the reader and it is kept in the set."
    def rowsOf(ids: Range) = ids.map { i =>
      val t =
        if (i % 5 == 0) sent + " lorem ipsum here"
        else if (i % 4 == 0) "tiny doc"
        else if (i % 7 == 0) sent + " banned topic words"
        else sent + s" page $i of the set."
      Row(i.toLong, t, s"src${i % 3}")
    }
    val all = rowsOf(1 to 30)
    val inDir = Files.createTempDirectory("graft-fun-in").toString
    Seq(all.slice(0, 10), all.slice(10, 20), all.slice(20, 30)).foreach { rs =>
      frame(st, rs: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val staging = Files.createTempDirectory("graft-fun-st").toString + "/s"
    val report = Files.createTempDirectory("graft-fun-rp").toString + "/r"
    val q = StreamingOps.curationFunnelStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      "source", "text", Seq("banned topic"), staging, report)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-fun-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val streamed = rows(spark.read.parquet(report))
    val batch = rows(graft.ops.TextOps.curationFunnelFull(
      frame(st, all: _*), "source", "text", Seq("banned topic")))
    assert(streamed == batch)
    // every stage has real casualties in the fixture
    val agg = spark.read.parquet(report)
      .agg(sum("n_docs"), sum("n_after_gopher"), sum("n_after_all")).head()
    assert(agg.getLong(0) == 30L && agg.getLong(1) < 30L
      && agg.getLong(2) < agg.getLong(1))
  }

  test("streaming corpus map: frozen-cell routing + drained cards ≡ the batch composition") {
    val st = struct("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "text" -> StringType)
    def rowsOf(ids: Range) = ids.map { i =>
      val v = if (i % 2 == 0) Seq(127.0f, 0.0f) else Seq(0.0f, 127.0f)
      val t = if (i % 2 == 0) s"alpha alpha beta doc $i"
        else s"gamma gamma delta doc $i"
      Row(i.toLong, v, t)
    }
    val all = rowsOf(1 to 20)
    val full = frame(st, all: _*)
    // the frozen quantizer: seeds elected once over a reference corpus
    val seeds = graft.ops.Similarity.collectCellSeeds(
      full, "embedding", "vec_id", k = 2)
    val inDir = Files.createTempDirectory("graft-map-in").toString
    Seq(all.slice(0, 10), all.slice(10, 20)).foreach { rs =>
      frame(st, rs: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val staging = Files.createTempDirectory("graft-map-st").toString + "/s"
    val report = Files.createTempDirectory("graft-map-rp").toString + "/r"
    val q = StreamingOps.corpusMapStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1").parquet(inDir),
      "embedding", "text", seeds, staging, report, k = 2)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-map-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3),
        r.getDouble(4))).toSet
    val streamed = rows(spark.read.parquet(report))
    // batch twin: same frozen seeds, same rank
    val routed = full.withColumn("cell",
      graft.ops.Similarity.integerCellColumn(col("embedding"), seeds))
      .select(col("cell"), col("text").as("__text"))
    val terms = graft.ops.TextOps.topTermsPerDoc(routed, "cell", "__text", 2)
      .select(col("doc_id").as("cell"), col("rank"), col("token"), col("score"))
    val sizes = routed.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
    val batch = rows(terms.join(sizes, Seq("cell"))
      .select(col("cell"), col("n_docs"), col("rank"), col("token"), col("score")))
    assert(streamed == batch)
    // two cells of 10 docs each, signature terms distinct per cell
    assert(streamed.map(_._1).size == 2)
    assert(streamed.groupBy(_._1).forall(_._2.head._2 == 10L))
  }

  test("streaming DoReMi snapshots: drained weights ≡ the batch recursion on all arrivals") {
    val st = struct("step" -> LongType, "domain" -> StringType,
      "proxy" -> LongType, "ref" -> LongType)
    val b1 = Seq(
      Row(0L, "a", 2500000L, 1500000L), Row(0L, "a", 3500000L, 2500000L),
      Row(0L, "b", 100L, 200L))
    val b2 = Seq(
      Row(1L, "b", 3000000L, 1000000L), Row(1L, "a", 5L, 9L),
      Row(2L, null, 99L, 1L))
    val inDir = Files.createTempDirectory("graft-drm-in").toString
    Seq(b1, b2).foreach { rs =>
      frame(st, rs: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val staging = Files.createTempDirectory("graft-drm-st").toString + "/s"
    val report = Files.createTempDirectory("graft-drm-rp").toString + "/r"
    val q = StreamingOps.doremiWeightsStream(
      spark.readStream.schema(st).option("maxFilesPerTrigger", "1")
        .parquet(inDir),
      "step", "domain", "proxy", "ref", staging, report)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-drm-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(report).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Sampling.doremiWeights(
      frame(st, (b1 ++ b2): _*), "step", "domain", "proxy", "ref").toMap
    assert(streamed == batch)
  }

  test("streaming k-means routing: frozen centroids assign arrivals ≡ batch labels") {
    val st = struct("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    def rowsOf(ids: Range) = ids.map { i =>
      val v = (i % 3: @unchecked) match {
        case 0 => Seq(127.0f, 3.0f, 1.0f)
        case 1 => Seq(2.0f, 127.0f, 0.0f)
        case 2 => Seq(1.0f, 2.0f, 127.0f)
      }
      Row(i.toLong, v)
    }
    val all = rowsOf(1 to 18)
    val full = frame(st, all: _*)
    // centroids trained once on the standing corpus, then FROZEN: the
    // stream routes arrivals through the pure assignment column — no
    // join, no state, no re-clustering
    val cents = graft.ops.Similarity.integerKMeansCentroids(
      full, "embedding", "vec_id", k = 3, rounds = 2)
    val inDir = Files.createTempDirectory("graft-km-in").toString
    Seq(all.slice(0, 9), all.slice(9, 18)).foreach { rs =>
      frame(st, rs: _*).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(5)
    }
    val q = spark.readStream.schema(st).option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .select(col("vec_id"),
        graft.ops.Similarity.kMeansAssignColumn(col("embedding"), cents)
          .as("a"))
      .select(col("vec_id"),
        col("a")("cell").as("cell"), col("a")("dist").as("dist"))
      .writeStream.format("memory").queryName("kmroute").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("kmroute").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the batch twin's final labels ARE assignment against the same
    // final centroid table, so stream ≡ batch exactly
    val batch = graft.ops.Similarity.integerKMeans(
      full, "embedding", "vec_id", k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    // identical vectors must land in the same cell (how many seed cells
    // survive the rounds is the algorithm's business — empty cells drop)
    streamed.groupBy(_._1 % 3).values.foreach { g =>
      assert(g.map(_._2).size == 1, "a geometric group split across cells")
    }
  }
}

