package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the span that caused it (0 = none);
  * every span of one benchmark run carries the same `run` id. Times are
  * epoch milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: Long, parent: Long, run: String, kind: String,
    name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Spans kept in memory and written out once, when the run ends. */
final class SpanLog(val run: String) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)

  /** Times `f` as a span of `kind` under `parent`; returns (result, span). */
  def timed[A](kind: String, name: String, parent: Long)(f: Long => A): (A, Span) = {
    val id = nextId()
    val t0 = Clock.nowMs()
    val r = f(id)
    val s = Span(id, parent, run, kind, name, t0, Clock.nowMs())
    add(s)
    (r, s)
  }

  def write(path: java.nio.file.Path): Unit = {
    def str(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"run":${str(s.run)},"kind":${str(s.kind)},""" +
        s""""name":${str(s.name)},"start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"attrs":$attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Listener-side records of one traced interval. Everything is observed
  * through Spark's public listener interfaces from outside the program:
  * no tracing code runs inside it.
  */
final class Recorder(log: SpanLog) {
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      peakMem: Long, shuffleWrite: Long, fetchWaitMs: Long, spillBytes: Long)
  final case class Stage(id: Int, job: Int, startMs: Long, endMs: Long)
  final case class Phases(analysisMs: Double, optimizationMs: Double, planningMs: Double)

  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // job, owning span, start ms
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear(); phases.clear(); progress.clear() }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
      jobSpan.put(e.jobId, owner)
      jobStartMs.put(e.jobId, e.time)
      jobs.add((e.jobId, owner, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStartMs.get(e.jobId)).map(_.toLong).getOrElse(e.time)
      log.add(Span(log.nextId(), Option(jobSpan.get(e.jobId)).map(_.toLong).getOrElse(0L),
        log.run, "job", s"job-${e.jobId}", start.toDouble, e.time.toDouble,
        Map("job_id" -> e.jobId.toDouble)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) {
        val job = Option(jobOfStage.get(i.stageId)).map(_.intValue).getOrElse(-1)
        stages.add(Stage(i.stageId, job, s, c))
        log.add(Span(log.nextId(), Option(jobSpan.get(job)).map(_.toLong).getOrElse(0L),
          log.run, "stage", s"stage-${i.stageId}", s.toDouble, c.toDouble,
          Map("job_id" -> job.toDouble, "stage_id" -> i.stageId.toDouble,
            "tasks" -> i.numTasks.toDouble)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled))
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      phases.add(Phases(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
  }

  /** Trigger spans from the recorded progress events, parented to the
    * script span whose interval holds the trigger's start.
    */
  def triggerSpans(scripts: Seq[Span]): Unit = progress.asScala.foreach { p =>
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val dur = p.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)
    val parent = scripts.find(s => s.startMs - 1 <= start && start <= s.endMs + 1).map(_.id).getOrElse(0L)
    log.add(Span(log.nextId(), parent, log.run, "trigger", s"batch-${p.batchId}", start, start + dur,
      Map("input_rows" -> p.numInputRows.toDouble)))
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    for ((s, e) <- iv.sortBy(_._1)) cur match {
      case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
      case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
      case None => cur = Some((s, e))
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
  }

  /** Stage intervals of jobs started by any of `owners`. */
  def stageIntervals(owners: Set[Long]): Seq[(Double, Double)] = {
    val ownedJobs = jobs.asScala.filter(j => owners(j._2)).map(_._1).toSet
    stages.asScala.filter(s => ownedJobs(s.job)).map(s => (s.startMs.toDouble, s.endMs.toDouble)).toSeq
  }

  /** Scheduler, executor and shuffle layer metrics of everything recorded. */
  def engineMetrics(): mutable.LinkedHashMap[String, Double] = {
    val ts = tasks.asScala.toSeq
    val st = stages.asScala.toSeq
    val m = mutable.LinkedHashMap[String, Double]()
    val phs = phases.asScala.toSeq
    m("catalyst.analysis_ms") = phs.map(_.analysisMs).sum
    m("catalyst.optimization_ms") = phs.map(_.optimizationMs).sum
    m("catalyst.planning_ms") = phs.map(_.planningMs).sum
    m("scheduler.jobs") = jobs.size.toDouble
    m("scheduler.stages") = st.size.toDouble
    m("scheduler.tasks") = ts.size.toDouble
    val runS = ts.map(_.runMs).sum / 1e3
    val cpuS = ts.map(_.cpuNs).sum / 1e9
    m("exec.run_s") = runS
    m("exec.cpu_s") = cpuS
    m("exec.offcpu_s") = math.max(0.0, runS - cpuS)
    m("exec.gc_s") = ts.map(_.gcMs).sum / 1e3
    m("exec.peak_task_mem_mb") = if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / 1048576.0
    // stage-wall-weighted mean over stages of (max task time / median task time)
    val byStage = ts.groupBy(_.stage)
    val skews = st.flatMap { s =>
      byStage.get(s.id).filter(_.size >= 2).map { xs =>
        val d = xs.map(_.durMs.toDouble).sorted
        val med = math.max(1.0, d(d.size / 2))
        (d.last / med, (s.endMs - s.startMs).toDouble.max(1.0))
      }
    }
    m("exec.task_skew") =
      if (skews.isEmpty) 1.0 else skews.map(x => x._1 * x._2).sum / skews.map(_._2).sum
    m("shuffle.write_mb") = ts.map(_.shuffleWrite).sum / 1048576.0
    m("shuffle.fetch_wait_s") = ts.map(_.fetchWaitMs).sum / 1e3
    m("shuffle.spill_mb") = ts.map(_.spillBytes).sum / 1048576.0
    m
  }
}

/** Number formatting for the JSON the harness writes. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
