package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted-state change ("write") or a result-returning call that leaves
  * persisted state as it was ("read").
  */
sealed trait Kind { def name: String }
case object Read extends Kind { val name = "read" }
case object Write extends Kind { val name = "write" }

/** The closed loop's single client. Each op's body runs inside the timed
  * span and returns the check to run afterwards, outside it: right away, or
  * after the loop when the harness defers checks. A body that throws or a
  * check that fails counts the op as failed.
  */
final class Harness(val spark: SparkSession, val root: Path, val trace: Boolean) {
  val spans = new Spans(if (trace) 2L else 0L)
  private final class OpRec(val id: Int, val span: Span, val name: String, val kind: Kind,
      val inLoop: Boolean, var ok: Boolean)
  private val ops = ArrayBuffer.empty[OpRec]
  private val pending = ArrayBuffer.empty[(OpRec, () => Unit)]
  private val fsRows = ArrayBuffer.empty[String]
  val errors = ArrayBuffer.empty[String]
  private var opId = 0
  /** Run checks after the loop instead of between ops. Only for workloads
    * whose checks do not depend on state that later ops change.
    */
  var deferChecks = false
  /** False once the timed loop has ended: later ops (a workload's final
    * checks may need some) are checked but not measured.
    */
  var inLoop = true

  /** Where the run's indexes, logs, shards, tables and CSVs live. */
  val state: Path = root.resolve("state")

  def path(rel: String): String = state.resolve(rel).toString

  /** Materialise every row and column of `df` without keeping it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def op(name: String, kind: Kind, checkNow: Boolean = false)(body: => (() => Unit)): Unit = {
    val id = opId; opId += 1
    val before = if (trace) Some((FsStats.snapshot(), listFiles())) else None
    var check: Option[() => Unit] = None
    var err: Option[String] = None
    try check = Some(spans(name)(body))
    catch { case e: Throwable => err = Some(s"$name threw: $e") }
    val s = spans.last
    before.foreach { case (fs0, files0) =>
      val fs1 = FsStats.snapshot()
      val created = listFiles().count(f => !files0.contains(f))
      fsRows += Json.obj("op" -> id, "write_ops" -> (fs1(0) - fs0(0)),
        "read_ops" -> (fs1(1) - fs0(1)), "bytes_written" -> (fs1(2) - fs0(2)),
        "bytes_read" -> (fs1(3) - fs0(3)), "files_created" -> created)
    }
    val rec = new OpRec(id, s, name, kind, inLoop, ok = true)
    ops += rec
    err.foreach(fail(rec, _))
    check.foreach { c =>
      if (deferChecks && !checkNow) pending += ((rec, c)) else runCheck(rec, c)
    }
  }

  private def fail(rec: OpRec, e: String): Unit = synchronized {
    rec.ok = false
    errors += e
    System.err.println(s"perfbench: op ${rec.id} $e")
  }

  private def runCheck(rec: OpRec, c: () => Unit, traced: Boolean = true): Unit =
    try if (traced) spans("check")(c()) else c()
    catch { case e: Throwable => fail(rec, s"${rec.name} wrong result: ${e.getMessage}") }

  /** Run the deferred checks: one after another in a traced run, so each
    * check's jobs fall in its own span; otherwise side by side on `cores`
    * threads, since nothing is timed any more.
    */
  def flushChecks(): Unit = {
    if (trace) pending.foreach { case (rec, c) => runCheck(rec, c) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        spark.sparkContext.defaultParallelism)
      try pending.toSeq.map { case (rec, c) =>
        pool.submit(new Runnable { def run(): Unit = runCheck(rec, c, traced = false) })
      }.foreach(_.get())
      finally pool.shutdown()
    }
    pending.clear()
  }

  private def listFiles(): Set[String] =
    if (!Files.exists(state)) Set.empty
    else {
      val st = Files.walk(state)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      finally st.close()
    }

  def opsJson: Seq[String] = ops.toSeq.map(o => Json.obj("id" -> o.id, "span" -> o.span.id,
    "name" -> o.name, "kind" -> o.kind.name, "start_ms" -> o.span.startMs,
    "end_ms" -> o.span.endMs, "loop" -> o.inLoop, "ok" -> o.ok))
  def fsJson: Seq[String] = fsRows.toSeq
  def attempted: Int = opId
}

object Harness {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def filesUnder(p: Path, pred: Path => Boolean = _ => true): Int =
    if (!Files.exists(p)) 0
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.count(f => Files.isRegularFile(f) && pred(f))
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  /** Order-insensitive fingerprint of a frame: row count plus the sum of
    * per-row hashes over every column.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toString)
  }

  def ensure(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)
}
