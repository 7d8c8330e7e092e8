package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession}

/** Benchmark harness: one workload per process, driven by perfbench/run.py.
  *
  * A run sets up the session, runs one cold pass of the workload, checks the
  * outputs against a batch-mode run where the workload has one, and then
  * runs timed passes for `--seconds`. With `--trace 1` it also runs as many
  * traced passes, with Spark's public listeners attached, and reports the
  * per-layer split instead of the end-to-end metrics.
  *
  * Every unit of work (a headline query, a nexmark script) is one attempted
  * operation; a throw or an output that differs from its pinned value counts
  * as failed.
  */
object GraftBench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: String, data: String, work: String, pinned: String, cpus: Int,
      result: String, spans: String, commit: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("scale"), m("data"), m("work"), m("pinned"), m("cpus").toInt,
      m("result"), m("spans"), m.getOrElse("commit", "unknown"))
  }

  def newSession(cpus: Int, work: String): SparkSession = {
    val s = GraftSession.builder("graft-perfbench", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.registerFunctions(s)
    s
  }

  /** Outcome of one unit of work in one pass. */
  final case class UnitRun(name: String, span: Span, buildMs: Double, output: String, events: Long)

  /** One pass: its span, its units, the process CPU seconds it used, and
    * the seconds the JVM's JIT compiler spent meanwhile.
    */
  final case class Pass(label: String, span: Span, units: Seq[UnitRun], cpuS: Double, jitS: Double) {
    def warmCpuS: Double = cpuS - jitS
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val log = new SpanLog(s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}")
    val envBefore = Bench.envTelemetry()
    val ticksBefore = Env.cpuTicks()
    val pinned = Pinned.load(o.pinned, o.scale, o.workload)
    // failed operation -> why; at most one entry per attempted operation
    val failures = mutable.LinkedHashMap[String, String]()
    def fail(op: String, why: String): Unit = failures.getOrElseUpdate(op, why)
    var attempted = 0

    // set-up: process start to a ready session with functions registered
    var spark = newSession(o.cpus, o.work)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupCpuS = Env.processCpuS()

    val wl: Workload = o.workload match {
      case "battery" => new Battery(o.data, pinned)
      case "nexmark" => new Nexmark(o.scale, o.seed, pinned)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rng = new scala.util.Random(o.seed)
    var passNo = 0
    def runPass(label: String, units: Seq[String], traced: Option[Recorder] = None): Pass = {
      passNo += 1
      val dir = s"${o.work}/pass-$passNo"
      traced.foreach { r => r.clear(); r.attach(spark) }
      val cpu0 = Env.processCpuS()
      val jit0 = Env.jitS()
      val (runs, span) = log.timed("pass", s"$label-$passNo", 0L) { passId =>
        units.map { u =>
          attempted += 1
          val t0 = Clock.nowMs()
          val id = log.nextId()
          val res = try Right(wl.run(spark, u, s"$dir/$u", log, id))
          catch { case e: Throwable => Left(e) }
          val span = Span(id, passId, log.run, wl.unitKind, u, t0, Clock.nowMs())
          log.add(span)
          res match {
            case Right(r) =>
              if (!r.ok) fail(s"$label-$passNo/$u", s"output ${r.output} differs from pinned ${wl.expected(u)}")
              UnitRun(u, span, r.buildMs, r.output, r.events)
            case Left(e) =>
              fail(s"$label-$passNo/$u", s"threw $e")
              System.err.println(s"[perfbench] $u threw:"); e.printStackTrace()
              UnitRun(u, span, 0.0, "", 0L)
          }
        }
      }
      traced.foreach(_.detach(spark))
      spark.catalog.clearCache()
      System.gc()
      Pass(label, span, runs, Env.processCpuS() - cpu0, Env.jitS() - jit0)
    }
    def order(): Seq[String] = wl.order(rng)

    val cg0 = Codegen.snapshot()
    val cold = runPass("cold", order())
    val cg1 = Codegen.snapshot()

    // outputs of a batch-mode run of the same scripts, once, after the cold pass
    val golden = wl.units.flatMap { u =>
      try wl.batchOutput(spark, u, s"${o.work}/golden/$u").map { out =>
        attempted += 1
        if (!wl.expected(u).contains(out))
          fail(s"golden/$u", s"batch output $out differs from pinned ${wl.expected(u)}")
        u -> out
      } catch {
        case e: Throwable =>
          attempted += 1
          fail(s"golden/$u", s"threw $e")
          None
      }
    }.toMap

    def timedPasses(traced: Option[Recorder], count: Option[Int]): Seq[(Pass, Map[String, Double])] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer[(Pass, Map[String, Double])]()
      while (count.fold(out.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds)(out.size < _)) {
        val p = runPass(if (traced.isDefined) "traced" else "timed", order(), traced)
        out += ((p, traced.map(r => layerMetrics(wl, p, r, log)).getOrElse(Map.empty)))
      }
      out.toSeq
    }
    val timed = timedPasses(None, None)

    // every streamed output must equal the batch-mode run's
    def checkAgainstBatch(passes: Seq[Pass]): Unit =
      for (p <- passes; u <- p.units if golden.get(u.name).exists(_ != u.output))
        fail(s"${p.span.name}/${u.name}", s"streamed ${u.output} differs from batch ${golden(u.name)}")
    checkAgainstBatch(cold +: timed.map(_._1))

    val metrics = mutable.LinkedHashMap[String, Double]()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val wall = median(timed.map(_._1.span.durMs / 1e3))

    // end-to-end metrics are process CPU seconds: on a shared host the
    // wall times below move with the CPU time other guests take. A warm
    // pass's CPU, JIT compilation left out, is only a per-layer metric: it
    // moved by up to 60% between JVMs on an otherwise idle machine
    if (!o.trace) {
      metrics("setup_s") = setupCpuS
      metrics("cold_cpu_s") = cold.cpuS
    } else {
      metrics("process.setup_wall_s") = setupS
      metrics("process.cold_wall_s") = cold.span.durMs / 1e3
      metrics("process.wall_s") = wall
      metrics("process.warm_cpu_s") = median(timed.map(_._1.warmCpuS))
      val rec = new Recorder(log)
      val traced = timedPasses(Some(rec), Some(timed.size))
      checkAgainstBatch(traced.map(_._1))
      for (k <- traced.flatMap(_._2.keys).distinct) metrics(k) = median(traced.flatMap(_._2.get(k)))
      metrics("codegen.compile_count") = (cg1.count - cg0.count).toDouble
      metrics("codegen.compile_ms") = Codegen.msBetween(cg0, cg1)
      // untraced passes on both sides of the traced ones, so JIT warm-up
      // over the run does not read as a tracing cost
      val after = timedPasses(None, Some(timed.size))
      checkAgainstBatch(after.map(_._1))
      metrics("trace.overhead_frac") =
        median(traced.map(_._1.warmCpuS)) / median((timed ++ after).map(_._1.warmCpuS)) - 1
      val extra = wl.tracedExtras(spark, s"${o.work}/extras", log, timed.map(_._1),
        cpus => newSession(cpus, o.work))
      spark = extra.session.getOrElse(spark)
      attempted += extra.attempted + wl.traceChecks.size
      (extra.failures ++ wl.traceChecks.flatten).foreach(f => fail(f, "check failed"))
      extra.metrics.foreach { case (k, v) => metrics(k) = v }
      wl.idleLayerMetrics.foreach(k => metrics(k) = 0.0)
      Env.metrics(o.cpus, envBefore, Bench.envTelemetry(), Env.stealPct(ticksBefore))
        .foreach { case (k, v) => metrics(k) = v }
      metrics("process.peak_rss_mb") = Env.peakRssMb()
    }

    val envAfter = Bench.envTelemetry()
    spark.stop()
    log.write(Paths.get(o.spans))
    Env.writeLabel(Paths.get(o.spans.stripSuffix(".jsonl") + ".env.json"), o, envBefore, envAfter,
      Env.stealPct(ticksBefore))
    failures.foreach { case (op, why) => System.err.println(s"[perfbench] FAILED $op: $why") }

    // units are attached by run.py, from BENCHMARK.json
    val failed = failures.size
    val metricJson = metrics.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    val line = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricJson}"""
    Files.write(Paths.get(o.result), (line + "\n").getBytes("UTF-8"))
  }

  /** slack allowed when a unit's stage intervals are checked to fit in it */
  val SplitToleranceMs = 50.0

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(wl: Workload, p: Pass, rec: Recorder, log: SpanLog): Map[String, Double] = {
    org.apache.spark.BusDrain.drain(SparkSession.active.sparkContext)
    val m = rec.engineMetrics()
    // wall = build + union of the stage intervals of the unit's own jobs + gap
    val gaps = p.units.map { u =>
      val ownSpans = log.spans.asScala.filter(s => s.parent == u.span.id).map(_.id).toSet + u.span.id
      val union = rec.unionMs(rec.stageIntervals(ownSpans -- wl.buildSpans(log, u.span.id)))
      (u, u.span.durMs - u.buildMs - union)
    }
    m("scheduler.gap_s") = gaps.map(_._2).sum / 1e3
    // stage intervals can only sit inside the unit they belong to: an
    // overrun past the tolerance means the split does not add up
    val worst = gaps.minByOption(_._2)
    wl.traceChecks += worst.filter(_._2 < -SplitToleranceMs).map { case (u, gap) =>
      f"${p.label}/${u.name}: build + stage union exceed wall time by ${-gap}%.1f ms " +
        f"(tolerance $SplitToleranceMs%.0f ms)"
    }
    m("scheduler.split_err_ms") = math.max(0.0, -worst.map(_._2).getOrElse(0.0))
    m("jvm.jit_s") = p.jitS
    (m ++ wl.passMetrics(p, rec, log)).toMap
  }
}

/** Whole-stage codegen compile count and time, from Spark's static
  * CodegenMetrics histogram (the reservoir holds every sample until it
  * has seen 1028; past that, time is estimated from the mean).
  */
object Codegen {
  final case class Snap(count: Long, sumMs: Double, mean: Double)
  def snapshot(): Snap = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    Snap(h.getCount, s.getValues.map(_.toDouble).sum, s.getMean)
  }
  def msBetween(a: Snap, b: Snap): Double =
    if (b.count <= 1028) b.sumMs - a.sumMs else (b.count - a.count) * b.mean
}

/** The machine a run ran on, the label Bench uses for a noisy box. */
object Env {
  /** CPU seconds this process has used, all threads; time the host
    * steals from the machine is not counted.
    */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compiler threads have spent compiling since JVM start. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def load1(t: (String, Long)): Double =
    t._1.split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

  def contaminated(cpus: Int, before: (String, Long)): Boolean = load1(before) > cpus / 8.0

  /** The machine's CPU time counters from /proc/stat (user … steal). */
  def cpuTicks(): Array[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Exception => Array.empty }

  /** Share of the machine's CPU time the host gave to other guests since
    * `before`, in percent: the main source of run-to-run noise in wall
    * times on a shared host.
    */
  def stealPct(before: Array[Long]): Double = {
    val d = cpuTicks().zip(before).map { case (a, b) => a - b }
    if (d.length < 8 || d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
  }

  def metrics(cpus: Int, before: (String, Long), after: (String, Long),
      stealPct: Double): Seq[(String, Double)] = Seq(
    "env.cpus" -> cpus.toDouble,
    "env.xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "env.load1_before" -> load1(before),
    "env.load1_after" -> load1(after),
    "env.dirty_mb_before" -> before._2 / 1024.0,
    "env.dirty_mb_after" -> after._2 / 1024.0,
    "env.contaminated" -> (if (contaminated(cpus, before)) 1.0 else 0.0),
    "env.steal_pct" -> stealPct)

  def writeLabel(path: Path, o: GraftBench.Opts, before: (String, Long), after: (String, Long),
      stealPct: Double): Unit = {
    val json =
      s"""{"workload":"${o.workload}","seed":${o.seed},"trace":${o.trace},"master":"local[${o.cpus}]",""" +
        s""""xmx_mb":${Runtime.getRuntime.maxMemory / 1048576},"commit":"${o.commit}",""" +
        s""""loadavg_before":"${before._1}","dirty_kb_before":${before._2},""" +
        s""""loadavg_after":"${after._1}","dirty_kb_after":${after._2},""" +
        s""""steal_pct":${Json.num(stealPct)},"contaminated_hint":${contaminated(o.cpus, before)}}"""
    Files.write(path, (json + "\n").getBytes("UTF-8"))
  }
}
