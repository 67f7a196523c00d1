package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Call spans wrap a call into a program layer;
  * job and stage spans come from the Spark listener and hang under the
  * call span that was open when the job started. Times are epoch
  * nanoseconds. `counters` carry the task metrics of a stage; spans of
  * one pass share `traceId`. */
final case class SpanRec(id: Long, parent: Long, traceId: Long, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double] = Map.empty) {
  def layer: String =
    if (name.startsWith("spark.job") || name.startsWith("spark.stage")) "spark"
    else name.takeWhile(_ != '.')
  def durNs: Long = math.max(0L, endNs - startNs)
}

/** In-memory span recorder. Spans stay in memory and are written as
  * JSON when the run ends. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val open = mutable.Stack.empty[Long]
  // epoch-ns = nanoTime + offset, so call spans line up with listener ms
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs(): Long = System.nanoTime() + offsetNs
  def nextId(): Long = ids.incrementAndGet()

  def add(s: SpanRec): Unit = synchronized { spans += s }
  def all: Vector[SpanRec] = synchronized { spans.toVector }

  /** Runs `f` inside a span named `name` (layer = the part before the
    * first dot). Spark jobs started inside it carry the span id. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId(); val parent = open.headOption.getOrElse(0L)
    open.push(id)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = nowNs()
    try f
    finally {
      val t1 = nowNs()
      open.pop()
      sc.setLocalProperty(SpanProperty, if (open.isEmpty) null else open.head.toString)
      add(SpanRec(id, parent, 0L, name, t0, t1))
    }
  }

  /** Listener that turns jobs and stages into spans. */
  final class Listener extends SparkListener {
    private val jobSpan = mutable.HashMap.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
    private val stageJob = mutable.HashMap.empty[Int, Long] // stage -> job span
    private val stageAcc = mutable.HashMap.empty[(Int, Int), StageAcc]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val id = nextId()
      jobSpan(e.jobId) = (id, parent, e.time * 1000000L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        add(SpanRec(id, parent, 0L, s"spark.job.${e.jobId}", start, e.time * 1000000L,
          Map("failed" -> (if (e.jobResult == JobSucceeded) 0.0 else 1.0))))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val a = stageAcc.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc)
      val end = info.completionTime.getOrElse(System.currentTimeMillis())
      val start = info.submissionTime.getOrElse(end)
      add(SpanRec(nextId(), stageJob.getOrElse(info.stageId, 0L), 0L,
        s"spark.stage.${info.stageId}", start * 1000000L, end * 1000000L, a.counters))
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final class StageAcc {
    var tasks = 0L; var failed = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    def counters: Map[String, Double] = Map(
      "tasks" -> tasks.toDouble, "failed_tasks" -> failed.toDouble,
      "run_ms" -> runMs.toDouble, "cpu_ns" -> cpuNs.toDouble, "gc_ms" -> gcMs.toDouble,
      "shuffle_write" -> shuffleWrite.toDouble, "shuffle_read" -> shuffleRead.toDouble,
      "spill" -> spill.toDouble,
      "max_task_ms" -> (if (taskMs.isEmpty) 0.0 else taskMs.max.toDouble)) ++
      taskMs.zipWithIndex.map { case (t, i) => s"task_ms.$i" -> t.toDouble }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer in seconds: each span's duration minus the part
    * its children cover. */
  def selfTimeByLayer(spans: Seq[SpanRec]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.durNs - covered(ch, s.startNs, s.endNs)) / 1e9
      }.sum
    }
  }

  /** All spans below `root` (not including it). */
  def descendants(spans: Seq[SpanRec], root: Long): Vector[SpanRec] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[SpanRec]
    val todo = mutable.Stack(root)
    while (todo.nonEmpty) kids.getOrElse(todo.pop(), Nil).foreach { c => out += c; todo.push(c.id) }
    out.toVector
  }

  def stages(spans: Seq[SpanRec]): Vector[SpanRec] = spans.filter(_.name.startsWith("spark.stage")).toVector
  def jobs(spans: Seq[SpanRec]): Vector[SpanRec] = spans.filter(_.name.startsWith("spark.job")).toVector
  def sum(ss: Seq[SpanRec], k: String): Double = ss.map(_.counters.getOrElse(k, 0.0)).sum
  def taskTimes(ss: Seq[SpanRec]): Vector[Double] =
    ss.flatMap(_.counters.collect { case (k, v) if k.startsWith("task_ms.") => v }).toVector

  def toJson(spans: Seq[SpanRec]): String = spans.sortBy(_.startNs).map { s =>
    val c = s.counters.filterNot(_._1.startsWith("task_ms."))
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":${Json.str(s.name)},""" +
      s""""layer":${Json.str(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$c}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON helpers for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
