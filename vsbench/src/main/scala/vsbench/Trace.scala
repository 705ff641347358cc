package vsbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch milliseconds (fractional), so the
  * harness's own spans and Spark's listener events share one clock.
  * `parent` is an index into the same span list, or -1. */
final case class Span(name: String, op: Long, parent: Int,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Per-op counters from the listener. */
final case class OpCounters(jobs: Int, stages: Int, tasks: Int,
                            taskRunMs: Double, taskCpuMs: Double,
                            schedWaitMs: Double, gcMs: Double,
                            inputRows: Long, shuffleBytes: Long,
                            jobUnionMs: Double)

object OpCounters {
  val Empty: OpCounters = OpCounters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The traced run's span store and `SparkListener`.
  *
  * Spans are kept in memory and written out when the run ends. Jobs are
  * tied to their op through the job group the harness sets around each
  * op; a job started from another thread does not inherit the group, so a
  * job without one belongs to the op whose interval holds its start
  * (there is one client thread, so at most one op is open). */
final class Tracer extends SparkListener {

  private val nanoBase = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + nanoBase) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]

  /** Run `body` inside a new span; `body` gets the span's index, so it can
    * open children under it. */
  def span[A](name: String, op: Long, parent: Int)(body: Int => A): (A, Int) = {
    val idx = spans.length
    spans += Span(name, op, parent, nowMs, Double.NaN)
    try (body(idx), idx)
    finally spans(idx) = spans(idx).copy(end = nowMs)
  }

  private final case class Job(id: Int, group: String, start: Long,
                               stageIds: Seq[Int])
  private final case class Task(stage: Int, launch: Long, runMs: Long,
                                cpuNs: Long, gcMs: Long, inRows: Long,
                                shufBytes: Long)

  private val jobStarts = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTimes =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobStarts.add(Job(e.jobId, g, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageTimes.put(i.stageId, (s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten))
  }

  /** Wait for the listener bus, then add one `spark.job` span per job and
    * one `spark.stage` span per stage that ran, each under the deepest
    * harness span of its op that holds its start; and count per op. */
  def settle(sc: SparkContext, ops: Map[Long, Int]): Map[Long, OpCounters] = {
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
    val opSpans = ops.map { case (op, idx) => op -> spans(idx) }
    def ownerOf(j: Job): Option[Long] =
      Option(j.group).filter(_.startsWith(Tracer.GroupPrefix))
        .map(_.stripPrefix(Tracer.GroupPrefix).toLong)
        .filter(opSpans.contains)
        .orElse(opSpans.collectFirst {
          case (op, s) if j.start >= s.start && j.start <= s.end => op })
    val harness = spans.indices.toVector
    def deepestAt(op: Long, t: Double): Int = {
      var best = ops(op)
      var depth = 0
      harness.foreach { i =>
        val s = spans(i)
        if (s.op == op && s.start <= t && t <= s.end) {
          val d = depthOf(i)
          if (d > depth) { depth = d; best = i }
        }
      }
      best
    }
    val byStage = tasks.asScala.groupBy(_.stage)
    val jobsByOp = jobStarts.asScala.toSeq.flatMap(j => ownerOf(j).map(_ -> j))
      .groupBy(_._1).map { case (op, js) => op -> js.map(_._2) }
    ops.keys.map { op =>
      val js = jobsByOp.getOrElse(op, Nil)
      val ran = js.flatMap(_.stageIds).distinct.filter(stageTimes.containsKey)
      val ts = ran.flatMap(s => byStage.getOrElse(s, Nil))
      val intervals = js.map { j =>
        val end = Option(jobEnds.get(j.id)).map(_.toDouble)
          .getOrElse(opSpans(op).end)
        val parent = deepestAt(op, j.start.toDouble)
        val ji = spans.length
        spans += Span("spark.job", op, parent, j.start.toDouble, end)
        j.stageIds.filter(stageTimes.containsKey).foreach { s =>
          val (a, b) = stageTimes.get(s)
          spans += Span("spark.stage", op, ji, a.toDouble, b.toDouble)
        }
        (j.start.toDouble, end)
      }
      val schedWait = ts.map { t =>
        math.max(0L, t.launch - stageTimes.get(t.stage)._1).toDouble }.sum
      op -> OpCounters(js.size, ran.size, ts.size,
        ts.map(_.runMs).sum.toDouble, ts.map(_.cpuNs).sum / 1e6, schedWait,
        ts.map(_.gcMs).sum.toDouble, ts.map(_.inRows).sum,
        ts.map(_.shufBytes).sum,
        Tracer.unionMs(intervals, opSpans(op).start, opSpans(op).end))
    }.toMap
  }

  private def depthOf(i: Int): Int = {
    var d = 0
    var p = spans(i).parent
    while (p >= 0) { d += 1; p = spans(p).parent }
    d
  }

  /** Self time along the blocking path: every instant of the op's span is
    * charged to the deepest span of that op open at that instant (the
    * latest-ending one among equals, which is the one the op waits for).
    * The charges of one op add up to its wall time. */
  def selfTimes(opIdx: Int): Map[String, Double] = {
    val root = spans(opIdx)
    val mine = spans.indices.filter(i => spans(i).op == root.op &&
      (i == opIdx || isUnder(i, opIdx)))
      .map(i => (i, depthOf(i), spans(i).start max root.start,
        spans(i).end min root.end))
      .filter(t => t._4 > t._3)
    val cuts = mine.flatMap(t => Seq(t._3, t._4)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val open = mine.filter(t => t._3 <= mid && mid < t._4)
        if (open.nonEmpty) {
          val top = open.maxBy(t => (t._2, t._4))
          out(spans(top._1).name) += b - a
        }
      case _ =>
    }
    out.toMap
  }

  private def isUnder(i: Int, root: Int): Boolean = {
    var p = spans(i).parent
    while (p >= 0 && p != root) p = spans(p).parent
    p == root
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val GroupPrefix = "vsbench-op-"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double,
              hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter(t => t._2 > t._1).sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
