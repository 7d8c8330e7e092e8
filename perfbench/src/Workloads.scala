package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sinks.DeltaLog
import graft.sql.Pipeline

/** What one unit run produced: whether its output matched the pinned
  * value, the output's digest, time spent building DataFrames, and events
  * ingested (streaming units only).
  */
final case class Outcome(ok: Boolean, output: String, buildMs: Double, events: Long)

/** Work done only by the traced run, after its traced passes. */
final case class Extras(session: Option[SparkSession], attempted: Int,
    failures: Seq[String], metrics: Seq[(String, Double)])

trait Workload {
  def unitKind: String
  def units: Seq[String]
  /** The seed fixes the order of units in each pass. */
  def order(rng: scala.util.Random): Seq[String] = rng.shuffle(units)
  def expected(unit: String): Option[String]
  def run(spark: SparkSession, unit: String, dir: String, log: SpanLog, unitSpan: Long): Outcome
  /** Output of a batch-mode run of the unit, for units that have one. */
  def batchOutput(spark: SparkSession, unit: String, dir: String): Option[String]
  def passMetrics(p: GraftBench.Pass, rec: Recorder, log: SpanLog): Map[String, Double]
  def tracedExtras(spark: SparkSession, dir: String, log: SpanLog, timed: Seq[GraftBench.Pass],
      mkSession: Int => SparkSession): Extras
  /** Checks made while tracing (counts that must hold exactly): each is
    * one attempted operation, failed when it carries a message.
    */
  val traceChecks: mutable.ArrayBuffer[Option[String]] = mutable.ArrayBuffer()
  /** Per-layer metrics of layers this workload does not exercise; they
    * are reported as 0 so every run reports the same metric names.
    */
  def idleLayerMetrics: Seq[String]

  def buildSpans(log: SpanLog, unitSpan: Long): Set[Long] =
    log.spans.asScala.filter(s => s.parent == unitSpan && s.kind == "build").map(_.id).toSet

  protected def withSpan[A](spark: SparkSession, span: Long)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.SpanProp, span.toString)
    try f finally sc.setLocalProperty(Trace.SpanProp, null)
  }
}

object Trace {
  /** local property naming the benchmark span that started a Spark job */
  val SpanProp = "graft.perfbench.span"
}

/** Headline queries, each built with `SparkEntry.queries(name)` and
  * collected; the order-independent digest of the rows must equal its
  * pinned value. Collecting, not counting, checks every row and keeps
  * Catalyst from pruning columns the result carries.
  */
final class Battery(data: String, pinned: Map[String, String]) extends Workload {
  import Battery._
  val unitKind = "query"
  val units: Seq[String] = Relational ++ Curation
  def expected(u: String): Option[String] = pinned.get(u)

  def run(spark: SparkSession, u: String, dir: String, log: SpanLog, unitSpan: Long): Outcome = {
    val (df, build) = log.timed("build", u, unitSpan)(id =>
      withSpan(spark, id)(SparkEntry.queries(u)(spark, data)))
    val (digest, _) = log.timed("collect", u, unitSpan)(id =>
      withSpan(spark, id)(Digest.of(df.collect().iterator.map(_.toString))))
    Outcome(expected(u).contains(digest), digest, build.durMs, 0L)
  }

  def batchOutput(spark: SparkSession, u: String, dir: String): Option[String] = None

  def passMetrics(p: GraftBench.Pass, rec: Recorder, log: SpanLog): Map[String, Double] = {
    val build = p.units.flatMap(u => buildSpans(log, u.span.id)).toSet
    val m = mutable.LinkedHashMap[String, Double]()
    m("queries.build_s") = p.units.map(_.buildMs).sum / 1e3
    m("queries.build_jobs") = rec.jobs.asScala.count(j => build(j._2)).toDouble
    m("queries.relational_s") = p.units.filter(u => Relational.contains(u.name)).map(_.span.durMs).sum / 1e3
    m("queries.curation_s") = p.units.filter(u => Curation.contains(u.name)).map(_.span.durMs).sum / 1e3
    p.units.foreach(u => m(s"queries.${u.name}_s") = u.span.durMs / 1e3)
    m.toMap
  }

  def tracedExtras(spark: SparkSession, dir: String, log: SpanLog, timed: Seq[GraftBench.Pass],
      mkSession: Int => SparkSession): Extras = Extras(None, 0, Nil, Nil)

  def idleLayerMetrics: Seq[String] = Nexmark.layerMetricNames
}

/** Nexmark over the `nexmark` connector, run as SQL through
  * `sql.Pipeline(streaming = true)` (every INSERT runs under
  * Trigger.AvailableNow). Two families share one pass:
  *   - heavy: q5 (hop counts joined to the per-window max) over enough
  *     events that keyed state and work per event show;
  *   - light: q1 (stateless) and an updating aggregate upserted into a
  *     delta table with merge_keys, resumed over a durable checkpoint for
  *     several increments, so fixed per-trigger and per-commit cost
  *     dominates.
  * Sink outputs are compared by an order-independent digest.
  */
final class Nexmark(scale: String, seed: Long, pinned: Map[String, String]) extends Workload {
  import Nexmark._
  val unitKind = "script"
  val units: Seq[String] = Heavy ++ Light
  private val size = Sizes(scale)
  def expected(u: String): Option[String] = pinned.get(u)

  /** The seed shifts event time by whole 10 s periods: every hop (2 s) and
    * tumble (10 s) window keeps its events, so outputs do not change.
    */
  val startTs: String = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    .plusSeconds(10L * Math.floorMod(seed, 8640L))
    .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  def events(u: String): Long = u match {
    case "q5" => size.heavy
    case "upsert" => size.upsertStep * size.upsertSteps
    case _ => size.light
  }

  private def source(n: Long) =
    s"""CREATE TABLE nexmark WITH (connector = 'nexmark', event_rate = '1000',
       |  message_count = '$n', start_ts = '$startTs');
       |""".stripMargin
  private def jsonSink(name: String, cols: String, out: String) =
    s"""CREATE TABLE $name ($cols) WITH (connector = 'single_file', path = '$out',
       |  format = 'json', type = 'sink');
       |""".stripMargin

  def script(u: String, out: String, n: Long, checkpoint: Option[String] = None): String = u match {
    case "q5" => source(n) + jsonSink("top_auctions", "auction BIGINT, count INT", out) +
      """INSERT INTO top_auctions
        |SELECT AuctionBids.auction, AuctionBids.num FROM (
        |  SELECT bid.auction AS auction, count(*) AS num,
        |    hop(interval '2 second', interval '10 seconds') AS window
        |  FROM nexmark WHERE bid IS NOT NULL GROUP BY bid.auction, window
        |) AS AuctionBids JOIN (
        |  SELECT max(CountBids.num) AS maxn, CountBids.window FROM (
        |    SELECT count(*) AS num, hop(interval '2 second', interval '10 seconds') AS window
        |    FROM nexmark WHERE bid IS NOT NULL GROUP BY bid.auction, window
        |  ) AS CountBids GROUP BY CountBids.window
        |) AS MaxBids
        |ON AuctionBids.window = MaxBids.window AND AuctionBids.num >= MaxBids.maxn""".stripMargin
    case "q1" => source(n) + jsonSink("converted", "auction BIGINT, bidder BIGINT, price_eur DOUBLE", out) +
      """INSERT INTO converted
        |SELECT bid.auction, bid.bidder, CAST(0.908 AS DOUBLE) * bid.price AS price_eur
        |FROM nexmark WHERE bid IS NOT NULL""".stripMargin
    case "upsert" => source(n) +
      s"""CREATE TABLE auction_stats (auction BIGINT, bids BIGINT, top_price BIGINT) WITH (
         |  connector = 'delta', path = '$out', format = 'parquet', type = 'sink',
         |  merge_keys = 'auction'${checkpoint.map(c => s", checkpoint = '$c'").getOrElse("")});
         |INSERT INTO auction_stats
         |SELECT bid.auction, count(*), max(bid.price) FROM nexmark
         |WHERE bid IS NOT NULL GROUP BY bid.auction""".stripMargin
  }

  /** table path of the most recent upsert run, for the sink metrics */
  private var lastUpsert: Option[String] = None

  def run(spark: SparkSession, u: String, dir: String, log: SpanLog, unitSpan: Long): Outcome =
    withSpan(spark, unitSpan) {
      val out = s"$dir/out"
      val digest =
        if (u == "upsert") {
          // each increment resumes the same checkpoint over a longer stream
          for (k <- 1 to size.upsertSteps)
            new Pipeline(spark, streaming = true)
              .run(script(u, out, k * size.upsertStep, Some(s"$dir/checkpoint")))
          lastUpsert = Some(out)
          Digest.ofDelta(spark, out)
        } else {
          new Pipeline(spark, streaming = true).run(script(u, out, events(u)))
          Digest.ofJsonLines(Paths.get(out))
        }
      Outcome(expected(u).contains(digest), digest, 0.0, events(u))
    }

  def batchOutput(spark: SparkSession, u: String, dir: String): Option[String] = {
    val out = s"$dir/out"
    new Pipeline(spark, streaming = false).run(script(u, out, events(u)))
    Some(if (u == "upsert") Digest.ofDelta(spark, out) else Digest.ofJsonLines(Paths.get(out)))
  }

  def passMetrics(p: GraftBench.Pass, rec: Recorder, log: SpanLog): Map[String, Double] = {
    rec.triggerSpans(p.units.map(_.span))
    val prog = rec.progress.asScala.toSeq
    def dur(k: String) = prog.map(_.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)).sum
    val trig = prog.map(_.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)).sorted
    val n = trig.size
    val m = mutable.LinkedHashMap[String, Double]()
    val wallS = p.units.map(_.span.durMs).sum / 1e3
    m("stream.events_per_s") = p.units.map(_.events).sum / wallS
    m("stream.triggers") = n.toDouble
    m("stream.nodata_triggers") = prog.count(_.numInputRows == 0).toDouble
    m("stream.trigger_p50_ms") = if (n == 0) 0.0 else trig(n / 2)
    // highest percentile with at least ten samples above it (all of them
    // when there are ten or fewer)
    m("stream.trigger_tail_ms") = if (n == 0) 0.0 else if (n > 10) trig(n - 11) else trig.last
    m("stream.trigger_tail_pct") = if (n > 10) 100.0 * (n - 10) / n else 100.0
    m("stream.query_planning_ms") = dur("queryPlanning")
    m("stream.wal_ms") = dur("walCommit") + dur("commitOffsets")
    m("stream.add_batch_ms") = dur("addBatch")
    m("stream.outside_trigger_s") = wallS - trig.sum / 1e3
    m("stream.heavy_s") = p.units.filter(u => Heavy.contains(u.name)).map(_.span.durMs).sum / 1e3
    m("stream.light_s") = p.units.filter(u => Light.contains(u.name)).map(_.span.durMs).sum / 1e3
    p.units.foreach(u => m(s"stream.${u.name}_s") = u.span.durMs / 1e3)
    val inputRows = prog.map(_.numInputRows).sum
    m("sources.input_rows") = inputRows.toDouble
    m("sources.get_batch_ms") = dur("getBatch") + dur("latestOffset")
    traceChecks += pinned.get("input_rows").filter(_ != inputRows.toString)
      .map(e => s"${p.label}: sources.input_rows $inputRows, pinned $e")
    val ops = prog.map(_.stateOperators.toSeq)
    m("statestore.commit_ms") = ops.flatten.map(_.commitTimeMs.toDouble).sum
    m("statestore.rows_total") = (0L +: ops.map(_.map(_.numRowsTotal).sum)).max.toDouble
    m("statestore.mem_mb") = (0L +: ops.map(_.map(_.memoryUsedBytes).sum)).max / 1048576.0
    val late = ops.flatten.map(_.numRowsDroppedByWatermark).sum
    m("statestore.rows_dropped_late") = late.toDouble
    traceChecks += Option.when(late != 0)(s"${p.label}: $late rows dropped as late from an in-order stream")
    val upsert = p.units.find(_.name == "upsert").map(_.span)
    val inUpsert = prog.filter { q =>
      val t = java.time.Instant.parse(q.timestamp).toEpochMilli.toDouble
      upsert.exists(s => s.startMs - 1 <= t && t <= s.endMs + 1)
    }
    m("sinks.merge_ms") = inUpsert.map(_.durationMs.asScala.get("addBatch").map(_.doubleValue).getOrElse(0.0)).sum
    val (versions, amp) = lastUpsert.map(Digest.deltaWrites).getOrElse((0L, 0.0))
    m("sinks.versions") = versions.toDouble
    m("sinks.write_amp") = amp
    m.toMap
  }

  def tracedExtras(spark: SparkSession, dir: String, log: SpanLog, timed: Seq[GraftBench.Pass],
      mkSession: Int => SparkSession): Extras = {
    val failures = mutable.ArrayBuffer[String]()
    def attempt(op: String)(f: => Unit): Unit =
      try f catch { case e: Throwable => failures += s"$op threw $e" }
    // sql layer: planning the same scripts without starting any sink
    val planMs = units.map { u =>
      log.timed("plan", u, 0L) { _ =>
        attempt(s"plan/$u")(new Pipeline(spark, streaming = true).plan(
          script(u, s"$dir/plan-$u", events(u), Some(s"$dir/plan-$u-checkpoint"))))
      }._2.durMs
    }.sum
    // single-threaded baseline: the heavy family on local[1]
    val heavyTimed = timed.map(_.units.filter(u => Heavy.contains(u.name)).map(_.span.durMs).sum)
      .sorted.apply(timed.size / 2)
    spark.stop()
    val one = mkSession(1)
    val (_, span) = log.timed("pass", "local1", 0L) { id =>
      Heavy.foreach { u =>
        attempt(s"local1/$u") {
          val (o, _) = log.timed("script", u, id)(s => run(one, u, s"$dir/local1-$u", log, s))
          if (!o.ok) failures += s"local1/$u: output ${o.output} differs from pinned ${expected(u)}"
        }
      }
    }
    Extras(Some(one), units.size + Heavy.size, failures.toSeq, Seq(
      "sql.plan_s" -> planMs / 1e3,
      "stream.local1_heavy_s" -> span.durMs / 1e3,
      "stream.local1_ratio" -> span.durMs / heavyTimed))
  }

  def idleLayerMetrics: Seq[String] = Battery.layerMetricNames
}

object Nexmark {
  val Heavy: Seq[String] = Seq("q5")
  val Light: Seq[String] = Seq("q1", "upsert")

  final case class Size(heavy: Long, light: Long, upsertStep: Long, upsertSteps: Int)
  val Sizes: Map[String, Size] = Map(
    "bench" -> Size(heavy = 40000, light = 10000, upsertStep = 3000, upsertSteps = 2),
    "toy" -> Size(heavy = 4000, light = 2000, upsertStep = 1000, upsertSteps = 2))

  val layerMetricNames: Seq[String] =
    Seq("stream.events_per_s", "stream.triggers", "stream.nodata_triggers",
      "stream.trigger_p50_ms", "stream.trigger_tail_ms", "stream.trigger_tail_pct",
      "stream.query_planning_ms", "stream.wal_ms", "stream.add_batch_ms",
      "stream.outside_trigger_s", "stream.heavy_s", "stream.light_s") ++
      (Heavy ++ Light).map(u => s"stream.${u}_s") ++
      Seq("sources.input_rows", "sources.get_batch_ms", "statestore.commit_ms",
        "statestore.rows_total", "statestore.mem_mb", "statestore.rows_dropped_late",
        "sinks.merge_ms", "sinks.versions", "sinks.write_amp", "sql.plan_s",
        "stream.local1_heavy_s", "stream.local1_ratio")
}

object Battery {
  /** 11 of the 20 `SparkEntry.headline` queries, both families: a pass of
    * all 20 (cold 30 s, warm 13 s on 4 cores) does not fit a run next to
    * its set-up. Kept: the four whose DataFrame construction runs eager
    * jobs (minhash, ngram, tfidf, semdedup) and one query per other shape.
    */
  val Relational: Seq[String] = Seq("q_agg", "q_multi_join", "q_window_fn", "q_session")
  val Curation: Seq[String] = Seq("q_dedup_exact", "q_minhash_lsh", "q_ngram_jaccard",
    "q_tfidf", "q_semdedup", "q_ann_ivf", "q_ann_pq")

  val layerMetricNames: Seq[String] =
    Seq("queries.build_s", "queries.build_jobs", "queries.relational_s", "queries.curation_s") ++
      (Relational ++ Curation).map(q => s"queries.${q}_s")
}

/** Order-independent digests of query results and sink outputs: row
  * count plus the wrapping sum of a 64-bit hash of each row's text.
  */
object Digest {
  private def h64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x0ddba11)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }
  def of(rows: Iterator[String]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += h64(r) }
    f"$n:$sum%016x"
  }

  def ofJsonLines(p: Path): String = {
    val files =
      if (!Files.exists(p)) Seq.empty
      else if (Files.isRegularFile(p)) Seq(p)
      else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !f.toString.contains("_spark_metadata") && !n.startsWith(".") && !n.startsWith("_") &&
          !n.endsWith(".crc")
      }.toSeq
    of(files.iterator.flatMap(f => Files.readAllLines(f).asScala).map(_.trim).filter(_.nonEmpty))
  }

  def ofDelta(spark: SparkSession, table: String): String =
    of(DeltaLog.read(spark, table).collect().iterator.map(_.toString))

  /** (versions committed, bytes of every data file written / bytes live). */
  def deltaWrites(table: String): (Long, Double) = {
    val spark = SparkSession.active
    DeltaLog.snapshot(spark, table).map { s =>
      val root = Paths.get(table)
      def size(p: Path) = if (Files.exists(p)) Files.size(p) else 0L
      val live = s.files.map(f => size(root.resolve(f))).sum
      val written = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => f.toString.endsWith(".parquet") && !f.toString.contains("_delta_log"))
        .map(size).sum
      (s.version + 1, if (live == 0) 0.0 else written.toDouble / live)
    }.getOrElse((0L, 0.0))
  }
}

/** Pinned outputs per scale and workload, from pinned.json. */
object Pinned {
  def load(file: String, scale: String, workload: String): Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(file))
    Option(root.path(scale).get(workload)).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
  }
}
