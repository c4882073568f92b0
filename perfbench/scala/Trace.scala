package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same epoch as Spark's listener event times.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

/** Spans kept in memory and written out when the run ends. The harness
  * opens one around every op, every call into a layer inside it, every
  * correctness check and every set-up step, so each Spark job launched in a
  * run falls inside some top-level span.
  */
final class Spans(gapMs: Long) {
  val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[T](name: String)(body: => T): T = {
    // a gap before each top-level span keeps neighbouring windows apart on
    // Spark's millisecond job clock, so window attribution is unambiguous
    if (stack.isEmpty && gapMs > 0) Thread.sleep(gapMs)
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = Clock.nowMs()
    try body
    finally {
      done += Span(id, name, parent, t0, Clock.nowMs())
      stack = stack.tail
    }
  }

  def last: Span = done.last
}

/** Spark jobs with their stage and task totals, keyed by submission time. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }
  /** tasks, cpu ns, run ms, shuffle read, shuffle write, spill bytes */
  final class StageAgg { val v = new Array[Long](6); var ran = false }

  val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageAgg]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += new Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).ran = true
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stage(e.stageId).v
    a(0) += 1
    if (m != null) {
      a(1) += m.executorCpuTime
      a(2) += m.executorRunTime
      a(3) += m.shuffleReadMetrics.totalBytesRead
      a(4) += m.shuffleWriteMetrics.bytesWritten
      a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** One JSON object per job; a stage is counted for the first job that
    * lists it and actually ran it.
    */
  def json(): Seq[String] = synchronized {
    val claimed = scala.collection.mutable.HashSet.empty[Int]
    jobs.toSeq.map { j =>
      val mine = j.stageIds.filter(s => stages.get(s).exists(_.ran) && claimed.add(s))
      val t = new Array[Long](6)
      mine.foreach(s => stages(s).v.indices.foreach(i => t(i) += stages(s).v(i)))
      Json.obj("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> mine.size, "tasks" -> t(0), "cpu_ns" -> t(1), "run_ms" -> t(2),
        "shuffle_read" -> t(3), "shuffle_write" -> t(4), "spill" -> t(5))
    }
  }
}

/** Planning time of every executed query: analysis, optimization and
  * planning phases from the query's own tracker, stamped with the start of
  * its first phase.
  */
final class PlanListener extends QueryExecutionListener {
  val plans = ArrayBuffer.empty[(Long, Long)]
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  def json(): Seq[String] = synchronized {
    plans.toSeq.map { case (s, d) => Json.obj("start_ms" -> s, "plan_ms" -> d) }
  }
}

/** Hadoop `file://` statistics (global to the JVM, so executor tasks in
  * local mode count too).
  */
object FsStats {
  import org.apache.hadoop.fs.FileSystem
  def snapshot(): Array[Long] = {
    val out = new Array[Long](4)
    FileSystem.getAllStatistics.forEach { s =>
      if (s.getScheme == "file") {
        out(0) += s.getWriteOps; out(1) += s.getReadOps + s.getLargeReadOps
        out(2) += s.getBytesWritten; out(3) += s.getBytesRead
      }
    }
    out
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: Raw => raw.s
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}
