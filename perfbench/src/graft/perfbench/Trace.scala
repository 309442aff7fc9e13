package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One clock for harness spans (nanoTime) and Spark's events (epoch ms):
  * both become microseconds since the run started.
  */
final class Clock {
  val t0Nano: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  def nowUs: Double = (System.nanoTime() - t0Nano) / 1e3
  def msToUs(epochMs: Long): Double = (epochMs - t0Ms) * 1e3
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startUs: Double, endUs: Double, attrs: Map[String, Any] = Map.empty) {
  def durUs: Double = endUs - startUs
  def contains(us: Double): Boolean = startUs <= us && us <= endUs
}

// ------------------------------------------------------ Spark's own hooks

final case class JobEv(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int], ok: Boolean)
final case class StageEv(id: Int, attempt: Int, submitMs: Long, endMs: Long, tasks: Int, failed: Boolean)
final case class TaskEv(stageId: Int, launchMs: Long, ok: Boolean, runMs: Long, cpuNs: Long,
                        gcMs: Long, deserMs: Long, fetchWaitMs: Long, shuffleWriteB: Long,
                        outputB: Long)
final case class QueryEv(func: String, planStartMs: Long, planningMs: Long)
final case class ProgressEv(batchId: Long, startMs: Long, rows: Long, durationMs: Map[String, Long])

/** Job, stage and task events from the SparkListener bus. */
final class RuntimeListener extends SparkListener {
  private val jobStarts = ArrayBuffer[(Int, Long, Seq[Int])]()
  private val jobEnds = scala.collection.mutable.HashMap[Int, (Long, Boolean)]()
  val stages = ArrayBuffer[StageEv]()
  val tasks = ArrayBuffer[TaskEv]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += ((e.jobId, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = (e.time, e.jobResult == JobSucceeded)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += StageEv(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L), s.numTasks, s.failureReason.isDefined)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.taskInfo.successful
    if (m == null) tasks += TaskEv(e.stageId, e.taskInfo.launchTime, ok, 0, 0, 0, 0, 0, 0, 0)
    else tasks += TaskEv(e.stageId, e.taskInfo.launchTime, ok, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
      m.outputMetrics.bytesWritten)
  }
  def jobs: Seq[JobEv] = synchronized {
    jobStarts.toSeq.map { case (id, t, st) =>
      val (end, ok) = jobEnds.getOrElse(id, (t, false))
      JobEv(id, t, end, st, ok)
    }
  }
}

/** QueryPlanningTracker phases of every query Spark reports to the
  * QueryExecutionListener.
  */
final class PlanListener extends QueryExecutionListener {
  val queries = ArrayBuffer[QueryEv]()
  private val planningPhases = Set("analysis", "optimization", "planning")
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
  private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.filter { case (k, _) => planningPhases(k) }
    if (ph.nonEmpty) {
      val start = ph.get("planning").orElse(ph.get("optimization")).map(_.startTimeMs)
        .getOrElse(ph.values.map(_.startTimeMs).max)
      queries += QueryEv(funcName, start, ph.values.map(_.durationMs).sum)
    }
  }
}

/** Progress of every micro-batch; `committed` hands non-empty batches to
  * a waiting client as they commit.
  */
final class ProgressListener extends StreamingQueryListener {
  val progress = ArrayBuffer[ProgressEv]()
  val committed = new java.util.concurrent.LinkedBlockingQueue[ProgressEv]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ev = ProgressEv(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    synchronized { progress += ev }
    if (ev.rows > 0) committed.put(ev)
  }
}

// ------------------------------------------------------------- harness

final case class Sample(pass: Int, call: String, layer: String, startUs: Double, seconds: Double,
                        ok: Boolean, error: String, probe: Boolean, traced: Boolean)

final case class Pass(no: Int, traced: Boolean, startUs: Double, endUs: Double,
                      seconds: Double, retainedMb: Double)

/** Times calls into the program, groups them into passes, records spans
  * around them when tracing, and attaches Spark's job and query
  * listeners to traced passes only. In a traced run, even passes are traced and odd passes
  * are not, so the run measures its own tracing overhead.
  */
final class Harness(val spark: SparkSession, val traceRun: Boolean) {
  val clock = new Clock
  val samples = ArrayBuffer[Sample]()
  val passes = ArrayBuffer[Pass]()
  val spans = ArrayBuffer[Span]()
  val runtime = new RuntimeListener
  val plans = new PlanListener
  /** Attached by a workload that runs a streaming query, for all of it
    * and with or without tracing: the client waits on it for commits.
    */
  val streams = new ProgressListener

  private var tracingOn = false
  /** True inside a traced pass. */
  def tracing: Boolean = tracingOn
  private var stack = List.empty[Int]
  private var nextId = 1
  private var passNo = -1

  def span[T](name: String, layer: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    if (!tracingOn) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val start = clock.nowUs
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, layer, start, clock.nowUs, attrs)
      }
    }

  /** One timed call. A call that throws is recorded with its exception
    * class and counted as failed; its time stays in the pass.
    */
  def call[T](name: String, layer: String, probe: Boolean = false)(f: => T): Option[T] = {
    val start = clock.nowUs
    val t0 = System.nanoTime()
    val result =
      try Right(span(name, layer)(f))
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    result match {
      case Right(v) =>
        samples += Sample(passNo, name, layer, start, secs, ok = true, "", probe, tracing)
        Some(v)
      case Left(e) =>
        samples += Sample(passNo, name, layer, start, secs, ok = false,
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}", probe, tracing)
        None
    }
  }

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(runtime)
    spark.listenerManager.register(plans)
  }

  private def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(runtime)
    spark.listenerManager.unregister(plans)
  }

  /** Run one pass; its time is the sum of its non-probe calls. The heap
    * still in use after a full collection is sampled afterwards, outside
    * any timed call.
    */
  def pass(body: => Unit): Pass = {
    passNo = passes.size
    val traced = traceRun && passNo % 2 == 0
    if (traced) attach()
    tracingOn = traced
    val first = samples.size
    val start = clock.nowUs
    span("pass", "harness", Map("pass" -> passNo))(body)
    val end = clock.nowUs
    tracingOn = false
    if (traced) detach()
    val secs = samples.iterator.drop(first).filter(!_.probe).map(_.seconds).sum
    val p = Pass(passNo, traced, start, end, secs, retainedHeapMb())
    passes += p
    p
  }

  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def tracedPasses: Seq[Pass] = passes.toSeq.filter(_.traced)

  def callsIn(p: Pass): Seq[Sample] = samples.toSeq.filter(_.pass == p.no)

  // -------------------------------------------------- per-layer figures

  private def within(p: Pass, epochMs: Long): Boolean = {
    val us = clock.msToUs(epochMs)
    // Spark stamps events in whole milliseconds
    us >= p.startUs - 1e3 && us <= p.endUs + 1e3
  }

  private def inCall(s: Sample, epochMs: Long): Boolean = {
    val us = clock.msToUs(epochMs)
    us >= s.startUs - 1e3 && us <= s.startUs + s.seconds * 1e6 + 1e3
  }

  /** Listener counters of one traced pass, over its timed (non-probe)
    * calls only, so they add up to the pass's time.
    */
  def runtimeOf(p: Pass, cores: Int): Map[String, Double] = {
    val calls = callsIn(p).filter(!_.probe)
    def timed(epochMs: Long) = calls.exists(inCall(_, epochMs))
    val jobs = runtime.jobs.filter(j => timed(j.startMs))
    val stages = runtime.stages.toSeq.filter(s => timed(s.submitMs))
    val tasks = runtime.tasks.toSeq.filter(t => timed(t.launchMs))
    val taskRun = tasks.map(_.runMs).sum / 1e3
    val planning = plans.queries.toSeq.filter(q => timed(q.planStartMs)).map(_.planningMs).sum
    Map(
      "runtime.jobs" -> jobs.size.toDouble,
      "runtime.stages" -> stages.size.toDouble,
      "runtime.tasks" -> tasks.size.toDouble,
      "runtime.task_run_s" -> taskRun,
      "runtime.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "runtime.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "runtime.deser_s" -> tasks.map(_.deserMs).sum / 1e3,
      "runtime.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "runtime.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / 1e6,
      "runtime.output_mb" -> tasks.map(_.outputB).sum / 1e6,
      "runtime.tasks_failed" -> tasks.count(!_.ok).toDouble,
      "runtime.sched_gap_s" -> (p.seconds - taskRun / cores),
      "plans.planning_s" -> planning / 1e3)
  }

  /** Harness spans plus listener spans: each job becomes a child of the
    * innermost harness or micro-batch span that contains its start, each
    * stage a child of its job, each micro-batch a child of the harness
    * span around it. Ids stay unique.
    */
  def allSpans(): Seq[Span] = {
    var id = nextId
    def fresh(): Int = { id += 1; id }
    val harness = spans.toSeq
    def innermost(cands: Seq[Span], us: Double): Int =
      cands.filter(_.contains(us)).sortBy(_.durUs).headOption.map(_.id).getOrElse(0)
    val batches = streams.progress.toSeq
      .filter(pe => tracedPasses.exists(p => within(p, pe.startMs))).map { pe =>
      val s = clock.msToUs(pe.startMs)
      val e = s + pe.durationMs.getOrElse("triggerExecution", 0L) * 1e3
      Span(fresh(), innermost(harness, s), s"micro-batch ${pe.batchId}", "streaming", s, e,
        Map("rows" -> pe.rows) ++ pe.durationMs.map { case (k, v) => s"ms.$k" -> v })
    }
    val cands = harness ++ batches
    val jobSpans = runtime.jobs.map { j =>
      val s = clock.msToUs(j.startMs)
      j -> Span(fresh(), innermost(cands, s), s"job ${j.id}", "runtime", s,
        clock.msToUs(j.endMs), Map("ok" -> j.ok))
    }
    val jobOfStage = jobSpans.flatMap { case (j, sp) => j.stageIds.map(_ -> sp.id) }
      .groupMapReduce(_._1)(_._2)((a, _) => a)
    val stageSpans = runtime.stages.toSeq.map { st =>
      Span(fresh(), jobOfStage.getOrElse(st.id, 0), s"stage ${st.id}.${st.attempt}", "runtime",
        clock.msToUs(st.submitMs), clock.msToUs(st.endMs),
        Map("tasks" -> st.tasks, "failed" -> st.failed))
    }
    harness ++ batches ++ jobSpans.map(_._2) ++ stageSpans
  }

  /** Self time of each span: its duration minus the part of it covered
    * by its children. Summed per layer.
    */
  def layerSelfSeconds(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupMapReduce(_.layer) { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      for ((a, b) <- iv) {
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      math.max(0.0, s.durUs - covered) / 1e6
    }(_ + _)
  }
}
