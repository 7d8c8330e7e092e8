package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Dev harness over the declared queries, three modes:
  *
  *   - `dump <sfDir> <outDir> [q…]`: each query's FULL result, every row
  *     rendered to a string and sorted, under a `# <q> cols=… rows=N`
  *     header in `<outDir>/<q>.txt`. Diffing the dumps of two trees proves
  *     a change kept every result byte-for-byte.
  *   - `plans <sfDir> <outDir> [q…]`: every Dataset action the query runs,
  *     with its AQE-final formatted plan, one section each in
  *     `<outDir>/<q>.txt`. The actions run while the frame is BUILT (an
  *     operator's `localCheckpoint`, a driver-side `collect`) come first,
  *     the returned frame's own execution last; stdout gets
  *     `build_actions=N (names)` per query.
  *   - `time <sfDir> <runs> q…`: Bench's warm-up plus `runs` timed rounds
  *     over the named queries; prints Bench's JSON line.
  *
  * Without query names, dump and plans take the headline battery. A query
  * that throws is reported on stderr and the run goes on; the process then
  * exits 1 (Bench's `errors` contract). The per-layer split of a query's
  * time (planning, codegen, stages, scheduling gap) comes from outside the
  * program: `perfbench/run.py --trace 1`.
  *
  * Usage: runMain graft.Probe dump|plans <sfDir> <outDir> [q…]
  *        runMain graft.Probe time <sfDir> <runs> q…
  */
object Probe {
  type QueryMap = Map[String, (SparkSession, String) => DataFrame]

  private val usage =
    "usage: graft.Probe dump|plans <sfDir> <outDir> [q...] | time <sfDir> <runs> q..."

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val Array(mode, sfDir, third) = args.take(3)
    val names = args.drop(3).toSeq
    val failed = mode match {
      case "dump" | "plans" =>
        val spark = GraftSession.get("graft-probe")
        val qs = if (names.nonEmpty) names else SparkEntry.headline
        val f =
          if (mode == "dump") dump(spark, sfDir, third, SparkEntry.queries, qs)
          else plans(spark, sfDir, third, SparkEntry.queries, qs)
        spark.stop()
        f
      case "time" =>
        require(names.nonEmpty, usage)
        val builder = GraftSession.builder("graft-probe")
        Bench.tmpfsLocalDir().foreach(d => builder.config("spark.local.dir", d))
        val spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        val (line, errors) =
          Bench.runBattery(spark, sfDir, third.toInt, SparkEntry.queries, names)
        spark.stop()
        println(line)
        errors.map(_._1)
      case _ => throw new IllegalArgumentException(usage)
    }
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Writes each query's sorted full result to `<outDir>/<q>.txt`.
    * Returns the queries that threw (their stale dump is removed).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, qmap: QueryMap,
      names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    eachQuery(spark, "dump", names) { name =>
      val out = Paths.get(outDir, s"$name.txt")
      Files.deleteIfExists(out)
      val df = qmap(name)(spark, sfDir)
      val rows = df.collect().map(_.toString).sorted
      val body = s"# $name cols=${df.columns.mkString(",")} rows=${rows.length}\n" +
        rows.mkString("\n") + "\n"
      Files.write(out, body.getBytes("UTF-8"))
      println(s"[dump] $out rows=${rows.length}")
    }
  }

  /** Writes every action a query runs, build-time ones first, with its
    * AQE-final formatted plan to `<outDir>/<q>.txt`. A listener registered
    * for the whole query sees each action once it finishes. Returns the
    * queries that threw.
    */
  def plans(spark: SparkSession, sfDir: String, outDir: String, qmap: QueryMap,
      names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    eachQuery(spark, "plans", names) { name =>
      val out = Paths.get(outDir, s"$name.txt")
      Files.deleteIfExists(out)
      val seen = ArrayBuffer[(String, String)]()
      val listener = new QueryExecutionListener {
        private def record(action: String, qe: QueryExecution): Unit = {
          val plan = qe.explainString(ExplainMode.fromString("formatted"))
          seen.synchronized { seen += action -> plan }
        }
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          record(funcName, qe)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
          record(s"$funcName FAILED", qe)
      }
      def actionsSoFar() = {
        GraftShim.drainListenerBus(spark)
        seen.synchronized(seen.toList)
      }
      spark.listenerManager.register(listener)
      val (built, all) =
        try {
          val df = qmap(name)(spark, sfDir)
          val atBuild = actionsSoFar()
          df.collect()
          (atBuild, actionsSoFar())
        } finally spark.listenerManager.unregister(listener)
      val body = all.zipWithIndex.map { case ((action, plan), i) =>
        val role = if (i < built.length) "build" else "frame"
        s"===== $name action ${i + 1}/${all.length} ($role): $action =====\n$plan"
      }.mkString("\n")
      Files.write(out, body.getBytes("UTF-8"))
      println(s"[plans] $out build_actions=${built.length} " +
        built.map(_._1).mkString("(", ", ", ")"))
    }
  }

  /** Runs `body` per query, clearing the SQL cache after each. A throw is
    * reported as `[tag] <q> FAILED: <msg>` on stderr and the loop goes on.
    * Returns the failed names.
    */
  private def eachQuery(spark: SparkSession, tag: String, names: Seq[String])(
      body: String => Unit): Seq[String] =
    names.filter { name =>
      val failed =
        try { body(name); false }
        catch {
          case NonFatal(e) =>
            Console.err.println(s"[$tag] $name FAILED: " +
              Option(e.getMessage).getOrElse(e.getClass.getName))
            true
        }
      spark.catalog.clearCache()
      failed
    }
}
