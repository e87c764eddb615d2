package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBus, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call from the benchmark into the product. `op` names the
  * per-layer row it feeds (`head`, `view`, ...); it may be renamed when
  * the call returns (a head that resolved a reorg becomes `reorg`). */
final class Span(val id: Long, var op: String, val thread: String,
    val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spans plus the Spark runtime seen through a benchmark-owned
  * [[SparkListener]]. Every span runs under its own job group, so each job,
  * stage, task and SQL execution (with its Catalyst phase times) is
  * attributed to the span that caused it, also when two threads drive the
  * same session. With `enabled = false` nothing is registered and [[span]]
  * only runs its body: the end-to-end numbers are measured that way. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val GroupPrefix = "perfbench-span-"
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch ms with sub-ms resolution, comparable with the
    * listener events' timestamps. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  // ---- listener state: written on the listener bus thread only --------
  private final class JobRec(val span: Long, val startMs: Long) {
    var endMs: Long = startMs
  }
  private final class OpTotals {
    var stages, tasks = 0L
    var executorRunMs, shuffleWriteBytes, spillBytes = 0L
    var planningMs = 0L
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageSpan = mutable.Map.empty[Int, Long]
  /** SQL execution id -> span, from the execution's start event; its end
    * event, under the same id, carries the plan's phase times. */
  private val execSpan = mutable.Map.empty[Long, Long]
  private val totals = mutable.Map.empty[Long, OpTotals]
  /** Time the listeners themselves spent, the tracing cost that lands on
    * the listener bus thread rather than on the timed calls. */
  private val listenerNs = new AtomicLong(0)

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toLong)

  private def tot(span: Long) = totals.getOrElseUpdate(span, new OpTotals)

  private def timedListener(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedListener {
      spanOf(e.properties).foreach { s =>
        jobs(e.jobId) = new JobRec(s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedListener {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timedListener {
        stageSpan.get(e.stageInfo.stageId).foreach(tot(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedListener {
      stageSpan.get(e.stageId).foreach { s =>
        val t = tot(s)
        t.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          t.executorRunMs += m.executorRunTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timedListener {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.filter(_.startsWith(GroupPrefix))
            .foreach(g => execSpan(s.executionId) =
              g.stripPrefix(GroupPrefix).toLong)
        case end: SparkListenerSQLExecutionEnd =>
          for (span <- execSpan.remove(end.executionId);
               ms <- PerfbenchBus.planningMs(end)) tot(span).planningMs += ms
        case _ =>
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(sparkListener)

  /** Run `body` as one span. The thread's previous job group is restored
    * afterwards, so spans on other threads are never disturbed. */
  def span[T](op: String)(body: Span => T): T = {
    val s = new Span(nextId.incrementAndGet(), op,
      Thread.currentThread().getName, nowMs())
    if (!enabled) {
      try body(s) finally s.endMs = nowMs()
    } else {
      val sc = spark.sparkContext
      val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(GroupPrefix + s.id, op, interruptOnCancel = false)
      try body(s)
      finally {
        s.endMs = nowMs()
        spans.add(s)
        prev match {
          case Some(g) => sc.setJobGroup(g, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** Seconds of a span's wall covered by its jobs' intervals. */
  private def jobUnionS(s: Span, jobsBySpan: Map[Long, Iterable[JobRec]]) =
    unionMs(jobsBySpan.getOrElse(s.id, Nil)
      .map(j => (j.startMs.toDouble max s.startMs,
        j.endMs.toDouble min s.endMs)).toSeq) / 1000.0

  /** Per-op rows `spark.<op>.*` for every op that ran a span, each a mean
    * per call of that op. Called after the timed phase; it waits for the
    * listener bus to drain. */
  def sparkRows(): Map[String, Double] = {
    drain()
    val jobsBySpan = jobs.values.groupBy(_.span)
    allSpans.groupBy(_.op).flatMap { case (op, mine) =>
      val n = mine.size.toDouble
      def mean(f: Span => Double) = mine.map(f).sum / n
      def t(s: Span) = totals.getOrElse(s.id, new OpTotals)
      Seq(
        "jobs" -> mean(s => jobsBySpan.getOrElse(s.id, Nil).size),
        "stages" -> mean(t(_).stages.toDouble),
        "tasks" -> mean(t(_).tasks.toDouble),
        "planning_s" -> mean(t(_).planningMs / 1000.0),
        "executor_run_s" -> mean(t(_).executorRunMs / 1000.0),
        "driver_gap_s" -> mean(s =>
          math.max(0.0, s.wallS - jobUnionS(s, jobsBySpan))),
        "shuffle_write_mb" -> mean(t(_).shuffleWriteBytes / 1e6),
        "spill_mb" -> mean(t(_).spillBytes / 1e6)
      ).map { case (k, v) => s"spark.$op.$k" -> v }
    }
  }

  /** Per op with spans: the share of its summed wall time that its jobs'
    * intervals plus its Catalyst planning account for. The rest is driver
    * time outside both (file listing, manifest reads and commits, the
    * benchmark's own calls). */
  def accounted(): Seq[(String, Double)] = {
    drain()
    val jobsBySpan = jobs.values.groupBy(_.span)
    allSpans.groupBy(_.op).toSeq.sortBy(_._1).flatMap { case (op, mine) =>
      val wall = mine.map(_.wallS).sum
      if (wall <= 0) None
      else Some(op -> mine.map(s => jobUnionS(s, jobsBySpan) +
        totals.get(s.id).map(_.planningMs / 1000.0).getOrElse(0.0)).sum / wall)
    }
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def listenerSeconds: Double = listenerNs.get() / 1e9

  /** Spans with their attributed jobs, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val jobsBySpan = jobs.toSeq.groupBy(_._2.span)
    val lines = allSpans.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil).sortBy(_._1).map {
        case (id, j) => s"""{"job":$id,"start_ms":${j.startMs},""" +
          s""""end_ms":${j.endMs}}"""
      }
      val t = totals.getOrElse(s.id, new OpTotals)
      s"""{"span":${s.id},"op":"${s.op}","thread":"${s.thread}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""planning_ms":${t.planningMs},"stages":${t.stages},""" +
        s""""tasks":${t.tasks},"executor_run_ms":${t.executorRunMs},""" +
        s""""jobs":[${js.mkString(",")}]}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Length of the union of closed intervals. */
  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }
}
