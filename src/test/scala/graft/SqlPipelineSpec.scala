package graft

import graft.sql.{Ddl, Pipeline}
import org.apache.spark.sql.functions._

/** SQL front-end parity: scripts in the reference's shape (CREATE TABLE …
  * WITH(connector…) + tumble/hop/session + INSERT INTO sink) run end-to-end,
  * modeled on arroyo-sql-testing's smoke tests (hourly_by_event_type.sql
  * over the cars fixture).
  */
class SqlPipelineSpec extends SparkSpec {

  test("splitStatements: semicolons and quotes inside -- comments are inert") {
    val script =
      """-- leading comment; with a semicolon and a stray ' quote
        |CREATE TABLE t (x INT); -- trailing; comment
        |SELECT 'semi ; colon' FROM t;
        |-- final comment only""".stripMargin
    val stmts = Ddl.splitStatements(script)
    assert(stmts == Seq("CREATE TABLE t (x INT)", "SELECT 'semi ; colon' FROM t"))
  }

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft-sql").toString

  private def writeCarsFixture(): String = {
    val dir = tmp()
    val lines = Seq(
      """{"timestamp":"2023-09-18T14:10:00Z","driver_id":100,"event_type":"pickup","location":"A"}""",
      """{"timestamp":"2023-09-18T14:23:10Z","driver_id":101,"event_type":"dropoff","location":"B"}""",
      """{"timestamp":"2023-09-18T14:55:00Z","driver_id":100,"event_type":"pickup","location":"C"}""",
      """{"timestamp":"2023-09-18T15:05:00Z","driver_id":102,"event_type":"pickup","location":"A"}""",
      """{"timestamp":"2023-09-18T15:45:00Z","driver_id":101,"event_type":"dropoff","location":"D"}""",
      """{"timestamp":"2023-09-18T16:59:00Z","driver_id":103,"event_type":"pickup","location":"E"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/cars.json"),
      lines.mkString("\n").getBytes)
    s"$dir/cars.json"
  }

  test("DDL parses connector tables with watermark clause and options") {
    val stmt = Ddl.parse(
      """CREATE TABLE cars (
        |  timestamp TIMESTAMP,
        |  driver_id BIGINT UNSIGNED NOT NULL,
        |  event_type TEXT,
        |  WATERMARK FOR timestamp AS (timestamp - INTERVAL '5' SECOND)
        |) WITH (connector = 'single_file', path = '/x/cars.json', format = 'json', type = 'source')""".stripMargin)
    val t = stmt.asInstanceOf[Ddl.CreateTbl].table
    assert(t.connector == "single_file" && t.format == "json")
    assert(t.eventTimeField.contains("timestamp"))
    assert(t.watermarkDelay.contains("5 SECOND"))
    assert(t.schema.fieldNames.toSeq == Seq("timestamp", "driver_id", "event_type"))
    assert(t.schema("driver_id").dataType.typeName == "long") // unsigned widened
  }

  test("splitTop: comparisons in generated-column exprs are not type brackets") {
    import graft.sql.Ddl
    // the old angle counter treated a bare `>`/`<` as nesting, so column
    // defs after a comparison merged or vanished (round-3 ADVICE)
    val cols = Ddl.splitTop(
      "flag BOOLEAN GENERATED ALWAYS AS (a > b), x INT, " +
        "y STRUCT<a INT, x STRUCT<b TEXT>>, z INT", ',')
    assert(cols == Seq(
      "flag BOOLEAN GENERATED ALWAYS AS (a > b)", "x INT",
      "y STRUCT<a INT, x STRUCT<b TEXT>>", "z INT"), s"got $cols")
    // comparison operators with angle chars stay inert
    val c2 = Ddl.splitTop("a INT GENERATED ALWAYS AS (b <= 3), c TEXT", ',')
    assert(c2 == Seq("a INT GENERATED ALWAYS AS (b <= 3)", "c TEXT"), s"got $c2")
    val c3 = Ddl.splitTop("a INT GENERATED ALWAYS AS (b <> 3), c TEXT", ',')
    assert(c3 == Seq("a INT GENERATED ALWAYS AS (b <> 3)", "c TEXT"), s"got $c3")
    // GLUED comparison (no spaces): must not open a phantom type bracket
    // that swallows every later comma
    val c4 = Ddl.splitTop("flag BOOLEAN GENERATED ALWAYS AS (a<b), x INT, y INT", ',')
    assert(c4 == Seq("flag BOOLEAN GENERATED ALWAYS AS (a<b)", "x INT", "y INT"), s"got $c4")
    val c5 = Ddl.splitTop("a INT GENERATED ALWAYS AS (b>c AND d<e), f TEXT", ',')
    assert(c5 == Seq("a INT GENERATED ALWAYS AS (b>c AND d<e)", "f TEXT"), s"got $c5")
    // a COLUMN named like a generic keyword in a glued comparison: the
    // forward scan sees no closing '>' before the ')' and stays inert
    val c6 = Ddl.splitTop("a INT GENERATED ALWAYS AS (list<3), x INT, y INT", ',')
    assert(c6 == Seq("a INT GENERATED ALWAYS AS (list<3)", "x INT", "y INT"), s"got $c6")
    // while real generics — including parens inside the type list — nest
    val c7 = Ddl.splitTop("d STRUCT<a DECIMAL(10,2), b INT>, e INT", ',')
    assert(c7 == Seq("d STRUCT<a DECIMAL(10,2), b INT>", "e INT"), s"got $c7")
    val c8 = Ddl.splitTop("m MAP<STRING, ARRAY<INT>>, n INT", ',')
    assert(c8 == Seq("m MAP<STRING, ARRAY<INT>>", "n INT"), s"got $c8")
    // SPACED generics ('STRUCT <a INT, b INT>' is legal DDL) still open a
    // type bracket — the round-4 ADVICE regression from the glued-only scan
    val c9 = Ddl.splitTop("y STRUCT <a INT, b INT>, z INT", ',')
    assert(c9 == Seq("y STRUCT <a INT, b INT>", "z INT"), s"got $c9")
    // but a SPACED comparison after a keyword-named column stays inert
    val c10 = Ddl.splitTop("a INT GENERATED ALWAYS AS (list < 3), x INT, y INT", ',')
    assert(c10 == Seq("a INT GENERATED ALWAYS AS (list < 3)", "x INT", "y INT"), s"got $c10")
  }

  test("rewriteDialect: operator sugar inside string literals is inert") {
    val p = new Pipeline(spark)
    // `::` cast sugar, `->` json access and `? 'field'` all match only
    // OUTSIDE literals (round-3 ADVICE: 'std::map' became CAST(std AS MAP))
    assert(p.rewriteDialect("SELECT 'std::map' AS t") == "SELECT 'std::map' AS t")
    assert(p.rewriteDialect("SELECT 'a->b' AS t") == "SELECT 'a->b' AS t")
    assert(p.rewriteDialect("SELECT 'x ? ''y''' AS t") == "SELECT 'x ? ''y''' AS t")
    // while real operators around literals still rewrite
    assert(p.rewriteDialect("SELECT '123'::INT AS n") == "SELECT CAST('123' AS INT) AS n")
    assert(p.rewriteDialect("SELECT v->>'k' FROM t")
      == "SELECT json_get_str(v, 'k') FROM t")
    // an UNTERMINATED literal passes through untouched — masking it would
    // fabricate a closing quote and hide the unbalanced-quote error
    assert(p.rewriteDialect("SELECT 'abc FROM t") == "SELECT 'abc FROM t")
  }

  test("eod sentinel tracks what HAPPENED: µs parquet gets it, nanos-as-long parquet skips it") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // (a) a normal Spark-written parquet: event-time column is a real µs
    // TIMESTAMP → the streaming source overlays the sentinel dir and the
    // view's plan carries the sentinel-drop filter (threshold literal)
    val usDir = tmp()
    spark.createDataFrame(
      java.util.List.of(Row(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L)),
      StructType(Seq(StructField("ts", TimestampType), StructField("v", LongType))))
      .coalesce(1).write.mode("overwrite").parquet(usDir)
    val p1 = new Pipeline(spark, streaming = true)
    p1.run(s"CREATE TABLE us_src (ts TIMESTAMP NOT NULL, v BIGINT) " +
      s"WITH (connector = 'filesystem', path = '$usDir', format = 'parquet', event_time_field = 'ts');")
    val usPlan = spark.table("us_src").queryExecution.analyzed.toString
    assert(usPlan.contains("9000-01-01") && usPlan.contains("graft-eod"),
      s"µs parquet source must carry the sentinel overlay:\n$usPlan")
    // a second run over the UNCHANGED source reuses the same overlay dir
    // (bounded temp growth) instead of minting a new one per run
    def overlayOf(plan: String): String =
      "graft-eod[^/\\]]*".r.findFirstIn(plan).get
    val p1b = new Pipeline(spark, streaming = true)
    p1b.run(s"CREATE TABLE us_src (ts TIMESTAMP NOT NULL, v BIGINT) " +
      s"WITH (connector = 'filesystem', path = '$usDir', format = 'parquet', event_time_field = 'ts');")
    val usPlan2 = spark.table("us_src").queryExecution.analyzed.toString
    assert(overlayOf(usPlan2) == overlayOf(usPlan),
      s"unchanged source must reuse its overlay: ${overlayOf(usPlan)} vs ${overlayOf(usPlan2)}")
    // (b) a TIMESTAMP(NANOS) parquet surfaces as LONG under nanosAsLong —
    // physically indistinguishable from a long column at read time, so the
    // fixture writes ts as a raw ns-epoch LONG. The overlay is impossible
    // (year-9999 overflows ns-epoch), so the plan must carry NEITHER the
    // overlay NOR the pushdown-forfeiting barrier filter (round-4 review:
    // keying the filter and the spool alignment off eodField instead of the
    // applied overlay treated the unflushed leg as complete). The driver's
    // events.parquet used to be this shape; round-5 testdata is naive µs,
    // so the suite now carries its own ns-as-long fixture.
    val nsDir = tmp()
    spark.createDataFrame(
      java.util.List.of(Row(1704067200000000000L, 1L)),
      StructType(Seq(StructField("ts", LongType), StructField("user_id", LongType))))
      .coalesce(1).write.mode("overwrite").parquet(nsDir)
    val p2 = new Pipeline(spark, streaming = true)
    p2.run(s"CREATE TABLE ns_src (ts TIMESTAMP NOT NULL, user_id BIGINT) " +
      s"WITH (connector = 'filesystem', path = '$nsDir', " +
      s"format = 'parquet', event_time_field = 'ts');")
    val nsPlan = spark.table("ns_src").queryExecution.analyzed.toString
    assert(!nsPlan.contains("graft-eod"),
      s"nanos-as-long parquet source must not get an overlay:\n$nsPlan")
    assert(!nsPlan.contains("9000-01-01"),
      s"skipped overlay must not add the sentinel-drop filter:\n$nsPlan")
  }

  test("hourly_by_event_type: tumble + count over cars fixture (batch)") {
    val cars = writeCarsFixture()
    val out = tmp()
    val p = new Pipeline(spark, streaming = false)
    p.run(
      s"""CREATE TABLE cars (
         |  timestamp TIMESTAMP,
         |  driver_id BIGINT,
         |  event_type TEXT,
         |  location TEXT
         |) WITH (connector = 'single_file', path = '$cars', format = 'json',
         |        type = 'source', event_time_field = 'timestamp');
         |
         |CREATE TABLE sink WITH (connector = 'filesystem', path = '$out/result',
         |                        format = 'json', type = 'sink');
         |
         |INSERT INTO sink
         |SELECT window.start AS hour_start, event_type, count(*) AS n
         |FROM cars
         |GROUP BY tumble(interval '1 hour'), event_type""".stripMargin)

    val got = spark.read.json(s"$out/result")
      .select(col("hour_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2023-09-18T14:00:00.000Z", "pickup", 2L),
      ("2023-09-18T14:00:00.000Z", "dropoff", 1L),
      ("2023-09-18T15:00:00.000Z", "pickup", 1L),
      ("2023-09-18T15:00:00.000Z", "dropoff", 1L),
      ("2023-09-18T16:00:00.000Z", "pickup", 1L)), s"got $got")
  }

  test("same pipeline runs in streaming mode (availableNow) with identical closed windows") {
    val cars = writeCarsFixture()
    val p = new Pipeline(spark, streaming = true)
    p.run(
      s"""CREATE TABLE cars (
         |  timestamp TIMESTAMP, driver_id BIGINT, event_type TEXT, location TEXT
         |) WITH (connector = 'single_file', path = '$cars', format = 'json',
         |        type = 'source', event_time_field = 'timestamp');
         |CREATE TABLE sink WITH (connector = 'memory', type = 'sink');
         |INSERT INTO sink
         |SELECT window.start AS hour_start, event_type, count(*) AS n
         |FROM cars GROUP BY tumble(interval '1 hour'), event_type""".stripMargin)
    val got = spark.table("sink_result")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    // the end-of-input flush (Pipeline.eodField) closes the final 16:00
    // window too — streaming equals the batch result exactly
    assert(got == Set(
      ("2023-09-18 14:00:00.0", "pickup", 2L),
      ("2023-09-18 14:00:00.0", "dropoff", 1L),
      ("2023-09-18 15:00:00.0", "pickup", 1L),
      ("2023-09-18 15:00:00.0", "dropoff", 1L),
      ("2023-09-18 16:00:00.0", "pickup", 1L)), s"got $got")
  }

  test("csv and parquet streaming sources flush final windows too (EndOfData)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("eodfmt").toString
    val rows = Seq(
      ("2024-01-01 00:00:30", "a"), ("2024-01-01 00:01:10", "b"),
      ("2024-01-01 00:02:40", "a")) // 3 one-minute windows; the last only
                                    // closes via the end-of-input flush
    // csv fixture
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.csv"),
      ("ts,k\n" + rows.map { case (t, k) => s"$t,$k" }.mkString("\n") + "\n").getBytes)
    // parquet fixture (real µs timestamps)
    rows.toDF("s", "k").select(to_timestamp(col("s")).as("ts"), col("k"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq")
    for ((fmt, path) <- Seq("csv" -> s"$dir/d.csv", "parquet" -> s"$dir/pq")) {
      val sink = s"eod_${fmt}_result"
      new Pipeline(spark, streaming = true).run(
        s"""CREATE TABLE src (ts TIMESTAMP, k TEXT) WITH (
           |  connector = '${if (fmt == "csv") "single_file" else "filesystem"}',
           |  path = '$path', format = '$fmt', type = 'source',
           |  event_time_field = 'ts');
           |CREATE TABLE eod_$fmt WITH (connector = 'memory', type = 'sink');
           |INSERT INTO eod_$fmt
           |SELECT window.start AS s, count(*) AS n
           |FROM src GROUP BY tumble(interval '1 minute')""".stripMargin)
      val got = spark.table(sink).collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(got.size == 3, s"$fmt: expected all 3 windows flushed, got $got")
      assert(got.values.forall(_ == 1L), s"$fmt: got $got")
    }
  }

  test("end_of_input_flush knob: auto-off for checkpointed scripts, error if forced") {
    val cars = writeCarsFixture()
    val cp = java.nio.file.Files.createTempDirectory("eodcp").toString
    def script(set: String) =
      s"""${set}CREATE TABLE cars (
         |  timestamp TIMESTAMP, driver_id BIGINT, event_type TEXT, location TEXT
         |) WITH (connector = 'single_file', path = '$cars', format = 'json',
         |        type = 'source', event_time_field = 'timestamp');
         |CREATE TABLE snk WITH (connector = 'memory', type = 'sink',
         |                       checkpoint = '$cp');
         |INSERT INTO snk
         |SELECT window.start AS s, count(*) AS n
         |FROM cars GROUP BY tumble(interval '1 hour')""".stripMargin
    // checkpointed: flush auto-disables → the final (16:00) window stays
    // open, exactly the resumable-pause semantics
    new Pipeline(spark, streaming = true).run(script(""))
    val got = spark.table("snk_result").collect()
      .map(_.getTimestamp(0).toString).toSet
    assert(!got.contains("2023-09-18 16:00:00.0"),
      s"checkpointed run must not flush the final window, got $got")
    // forcing the flush onto a checkpointed script is a planning error
    // (per-run input overlays would break file identity in the source log)
    val e = intercept[IllegalArgumentException] {
      new Pipeline(spark, streaming = true)
        .run(script("SET end_of_input_flush = true;\n"))
    }
    assert(e.getMessage.contains("durable sink checkpoint"))
  }

  test("hop and session rewrite to window()/session_window()") {
    val p = new Pipeline(spark)
    p.runStatement(Ddl.parse(
      """CREATE TABLE ev (ts TIMESTAMP, k TEXT)
        |WITH (connector='impulse', type='source', event_time_field='ts')""".stripMargin))
    assert(p.rewriteWindows("SELECT count(*) FROM ev GROUP BY hop(interval '5 seconds', interval '1 minute')")
      .contains("window(ts, '1 minute', '5 seconds')"))
    assert(p.rewriteWindows("SELECT count(*) FROM ev GROUP BY session(interval '10 minutes')")
      .contains("session_window(ts, '10 minutes')"))
    assert(p.rewriteWindows("SELECT count(*) FROM ev GROUP BY tumble(other_col, interval '1 hour')")
      .contains("window(other_col, '1 hour')"))
  }

  test("impulse and nexmark generators produce deterministic batch data") {
    val p = new Pipeline(spark)
    p.runStatement(Ddl.parse(
      "CREATE TABLE imp (timestamp TIMESTAMP, counter BIGINT, subtask_index BIGINT) " +
        "WITH (connector='impulse', event_rate='10', message_count='100', type='source')"))
    val imp = spark.table("imp")
    assert(imp.count() == 100)
    assert(imp.agg(min("counter"), max("counter")).collect()(0).toSeq == Seq(0L, 99L))

    p.runStatement(Ddl.parse(
      "CREATE TABLE bids (datetime TIMESTAMP, auction BIGINT, bidder BIGINT, price BIGINT) " +
        "WITH (connector='nexmark', message_count='1000', type='source')"))
    val bids = spark.table("bids")
    assert(bids.count() == 1000)
    val r = bids.agg(min("price"), countDistinct("auction")).collect()(0)
    assert(r.getLong(0) >= 100 && r.getLong(1) > 100)
  }

  test("nanosecond-timestamp parquet works through the SQL front-end") {
    val p = new Pipeline(spark, streaming = false)
    val res = p.run(
      s"""CREATE TABLE ev (
         |  event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
         |  event_type TEXT, value DOUBLE, props TEXT
         |) WITH (connector = 'filesystem', path = '$sfDir/events.parquet',
         |        format = 'parquet', type = 'source', event_time_field = 'ts');
         |SELECT window.start AS ws, count(*) AS n
         |FROM ev GROUP BY tumble(interval '1 day')""".stripMargin).get
    val rows = res.collect()
    assert(rows.length == 30) // January 2024 events: one window per day
    assert(rows.map(_.getLong(1)).sum == Tables.load(spark, sfDir, "events").count())
  }

  test("PIPELINE table operators: full dedup→gate→decontaminate→shard pipeline from SQL text alone (r8)") {
    import graft.operators.{Chunking, Dedup, Sampling, TextAnalysis}
    // the SELECT-in → pipeline-out face: minhash dedup → exact dedup →
    // Gopher quality gate → benchmark decontamination → token-balanced
    // shards, composed purely in SQL over the real corpus (the eval set
    // is a plain SQL view — pipeline stages and ordinary SQL compose)
    val res = new Pipeline(spark, streaming = false).run(
      s"""CREATE TABLE docs WITH (connector = 'single_file',
         |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');
         |CREATE VIEW evalset AS SELECT doc_id, text FROM docs WHERE doc_id % 20 = 0;
         |CREATE VIEW trainset AS SELECT * FROM docs WHERE doc_id % 20 <> 0;
         |CREATE TABLE kept AS PIPELINE dedup_minhash(trainset,
         |  id => 'doc_id', text => 'text', threshold => '0.7');
         |CREATE TABLE uniq AS PIPELINE dedup_exact(kept, id => 'doc_id', text => 'text');
         |CREATE TABLE gated AS PIPELINE quality_gate(uniq,
         |  id => 'doc_id', text => 'text', min_words => '10', min_stop_hits => '1');
         |CREATE TABLE clean AS PIPELINE decontaminate(gated, eval => 'evalset',
         |  id => 'doc_id', text => 'text', shingle_size => '2', threshold => '0.2',
         |  max_doc_freq => '100');
         |CREATE TABLE shards AS PIPELINE balanced_shards(clean,
         |  id => 'doc_id', text => 'text', target_tokens => '2000');
         |SELECT doc_id, n_tokens, shard FROM shards""".stripMargin).get
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the Scala-built equivalent, operator for operator
    val docs = Tables.load(spark, sfDir, "documents")
    val evalSet = docs.filter(col("doc_id") % 20 === 0).select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val pairs = Dedup.minhashLshPairs(train, "doc_id", "text", threshold = 0.7)
    val keepers = Dedup.keeperAssignment(train.select(col("doc_id")), "doc_id", pairs)
    val kept = train.join(keepers.filter(col("doc") === col("keep_as"))
      .select(col("doc").as("doc_id")), Seq("doc_id"), "left_semi")
    val uniq = kept.join(Dedup.exact(kept, "doc_id", "text")
      .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val gated = uniq.join(
      TextAnalysis.gopherRules(uniq, "doc_id", "text", minWords = 10, minStopHits = 1)
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val clean = gated.join(
      Sampling.contaminationPairs(gated, evalSet, "doc_id", "text",
          shingleSize = 2, threshold = 0.2, maxDocFreq = 100)
        .select(col("train_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val expected = Chunking.balancedShards(clean, "doc_id", "text", 2000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got.size < docs.count() && got == expected,
      s"SQL face diverged: extra=${got.diff(expected).take(3)} missing=${expected.diff(got).take(3)}")
  }

  test("PIPELINE sampling faces: mixture_sample and epoch_replicate from SQL (r8)") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, sfDir, "documents")
    val mixed = new Pipeline(spark, streaming = false).run(
      s"""CREATE TABLE docs WITH (connector = 'single_file',
         |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');
         |CREATE TABLE mixed AS PIPELINE mixture_sample(docs, stratum => 'source',
         |  id => 'doc_id', fractions => 'src0:0.5,src1:1.0', default_fraction => '0.25');
         |SELECT doc_id FROM mixed""".stripMargin).get
      .collect().map(_.getLong(0)).toSet
    val expMixed = Sampling.mixtureSample(docs, "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 1.0), 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mixed.nonEmpty && mixed == expMixed)
    val epochs = new Pipeline(spark, streaming = false).run(
      s"""CREATE TABLE docs WITH (connector = 'single_file',
         |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');
         |CREATE TABLE rep AS PIPELINE epoch_replicate(docs, stratum => 'source',
         |  id => 'doc_id', weights => 'src0:2.5', default_weight => '1');
         |SELECT doc_id, epoch FROM rep""".stripMargin).get
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val expEpochs = Sampling.epochReplicate(docs, "source", "doc_id",
        Map("src0" -> 2.5), 1.0)
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(epochs.nonEmpty && epochs == expEpochs)
    // unknown operators and streaming mode fail loudly
    intercept[IllegalArgumentException] {
      new Pipeline(spark, streaming = false).run(
        s"""CREATE TABLE docs WITH (connector = 'single_file',
           |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');
           |CREATE TABLE x AS PIPELINE no_such_op(docs)""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      new Pipeline(spark, streaming = true).run(
        s"""CREATE TABLE docs WITH (connector = 'single_file',
           |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');
           |CREATE TABLE x AS PIPELINE dedup_exact(docs)""".stripMargin)
    }
  }

  test("PIPELINE quality_model_gate: classifier trained and applied from SQL (r8)") {
    import graft.operators.QualityModel
    val docs = Tables.load(spark, sfDir, "documents")
    // a labeled view with an injected separable signal, like the
    // q_quality_model contract
    val kept = new Pipeline(spark, streaming = false).run(
      s"""CREATE TABLE docs WITH (connector = 'single_file',
         |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');
         |CREATE VIEW labeled AS SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN text || ' eduhallmark gem' ELSE text END AS text,
         |  CASE WHEN doc_id % 4 = 0 THEN 1.0 ELSE 0.0 END AS label
         |FROM docs;
         |CREATE TABLE gated AS PIPELINE quality_model_gate(docs,
         |  labeled => 'labeled', label => 'label', num_features => '16384');
         |SELECT doc_id FROM gated""".stripMargin).get
      .collect().map(_.getLong(0)).toSet
    val labeled = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(col("text"), lit(" eduhallmark gem")))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 4 === 0, 1.0).otherwise(0.0).as("label"))
    val model = QualityModel.train(labeled, "text", "label", numFeatures = 1 << 14)
    val expected = QualityModel.score(docs, model, "text")
      .filter(col("quality_keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == expected, s"SQL face diverged (${kept.size} vs ${expected.size})")
  }

  test("PIPELINE similarity faces: ann_topk and semdedup from SQL (r8)") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sfDir, "embeddings")
    val hits = new Pipeline(spark, streaming = false).run(
      s"""CREATE TABLE emb WITH (connector = 'single_file',
         |  path = '$sfDir/embeddings.parquet', format = 'parquet', type = 'source');
         |CREATE VIEW qs AS SELECT vec_id AS query_id, embedding AS query_vec
         |  FROM emb WHERE vec_id % 50 = 0;
         |CREATE TABLE hits AS PIPELINE ann_topk(emb, queries => 'qs',
         |  k => '5', method => 'bruteforce');
         |SELECT query_id, vec_id, rank FROM hits""".stripMargin).get
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val expected = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(hits.nonEmpty && hits == expected)
    val kept = new Pipeline(spark, streaming = false).run(
      s"""CREATE TABLE emb WITH (connector = 'single_file',
         |  path = '$sfDir/embeddings.parquet', format = 'parquet', type = 'source');
         |CREATE TABLE uniqv AS PIPELINE semdedup(emb, tau => '0.95');
         |SELECT vec_id FROM uniqv""".stripMargin).get
      .collect().map(_.getLong(0)).toSet
    val expKept = {
      val keep = Similarity.semanticDedup(emb, 0.95)
        .filter(col("vec_id") === col("keep_as")).select("vec_id")
      emb.join(keep, Seq("vec_id"), "left_semi")
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept.nonEmpty && kept == expKept)
  }

  test("PIPELINE dedup_minhash/ann_topk/semdedup: string ids keep the bigint survivors") {
    // ids shifted to a fixed width (1000..), so a string id orders like its
    // bigint under SQL and shares its text (IVF/semdedup seeding hashes the
    // id's string form); embeddings gain near-copies so semdedup drops rows
    def script(id: String => String, body: String) = new Pipeline(spark, streaming = false).run(
      s"""CREATE TABLE docs0 WITH (connector = 'single_file',
         |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');
         |CREATE TABLE emb0 WITH (connector = 'single_file',
         |  path = '$sfDir/embeddings.parquet', format = 'parquet', type = 'source');
         |CREATE VIEW docs AS SELECT ${id("doc_id + 1000")} AS doc_id, text FROM docs0;
         |CREATE VIEW emb AS SELECT ${id("vec_id + 1000")} AS vec_id, embedding FROM emb0
         |  UNION ALL SELECT ${id("vec_id + 1500")} AS vec_id,
         |    transform(embedding, x -> x * CAST(1.01 AS FLOAT)) AS embedding
         |  FROM emb0 WHERE vec_id % 10 = 0;
         |CREATE VIEW qs AS SELECT ${id("vec_id + 1000")} AS query_id, embedding AS query_vec
         |  FROM emb0 WHERE vec_id % 50 = 0;
         |$body""".stripMargin).get.collect().map(_.toSeq.map {
        case s: String => s.toLong
        case v => v
      }).toSet
    val faces = Seq(
      """CREATE TABLE kept AS PIPELINE dedup_minhash(docs, id => 'doc_id', text => 'text',
        |  threshold => '0.5');
        |SELECT doc_id FROM kept""".stripMargin,
      """CREATE TABLE hits AS PIPELINE ann_topk(emb, queries => 'qs', k => '5',
        |  method => 'bruteforce');
        |SELECT query_id, vec_id, rank FROM hits""".stripMargin,
      """CREATE TABLE hits AS PIPELINE ann_topk(emb, queries => 'qs', k => '5',
        |  method => 'ivfpq');
        |SELECT query_id, vec_id, rank FROM hits""".stripMargin,
      """CREATE TABLE uniqv AS PIPELINE semdedup(emb, tau => '0.95');
        |SELECT vec_id FROM uniqv""".stripMargin)
    val sizes = faces.map { body =>
      val viaBigint = script(e => e, body)
      val viaString = script(e => s"CAST($e AS STRING)", body)
      assert(viaBigint.nonEmpty && viaString == viaBigint, body)
      viaBigint.size
    }
    assert(sizes(0) < 500 && sizes(3) < 550, s"nothing deduplicated: $sizes")
  }

  test("PIPELINE curation faces second tranche: c4_clean, pii_scrub, dedup_urls, chunk_tokens, pack_sequences (r9)") {
    import graft.operators.{Chunking, TextAnalysis, Urls}
    val docs = Tables.load(spark, sfDir, "documents")
    val ddl =
      s"""CREATE TABLE docs WITH (connector = 'single_file',
         |  path = '$sfDir/documents.parquet', format = 'parquet', type = 'source');""".stripMargin

    // c4_clean: corpus is unpunctuated word soup, so plant prose on
    // doc_id % 3 = 0 — only those survive, with text REPLACED by the
    // cleaned lines (blocklisted cookie line dropped)
    val prose = "This line has enough words to pass muster.\n" +
      "Our cookie policy applies to everything you read here.\n" +
      "Another good sentence appears right here now.\n" +
      "And a third sentence rounds everything out nicely."
    val cleaned = new Pipeline(spark, streaming = false).run(
      s"""$ddl
         |CREATE VIEW prose AS SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN '${prose.replace("\n", "' || chr(10) || '")}'
         |       ELSE text END AS text, source FROM docs;
         |CREATE TABLE clean AS PIPELINE c4_clean(prose, id => 'doc_id', text => 'text');
         |SELECT doc_id, text, source FROM clean""".stripMargin).get
    val proseDf = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, lit(prose)).otherwise(col("text")).as("text"),
      col("source"))
    val expClean = {
      val c = TextAnalysis.c4Clean(proseDf, "doc_id", "text")
        .filter(col("keep")).select(col("doc_id"), col("clean_text").as("text"))
      proseDf.drop("text").join(c, Seq("doc_id"))
        .select("doc_id", "text", "source")
    }
    val gotClean = cleaned.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(gotClean.nonEmpty && gotClean ==
      expClean.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet)
    assert(gotClean.forall { case (id, t, _) => id % 3 == 0 && !t.toLowerCase.contains("cookie policy") })
    // face output keeps the source shape (id, text, source) → stages compose
    assert(cleaned.columns.toSeq == Seq("doc_id", "text", "source"))

    // pii_scrub: injected PII is redacted in place, every row kept
    val scrubbed = new Pipeline(spark, streaming = false).run(
      s"""$ddl
         |CREATE VIEW leaky AS SELECT doc_id,
         |  text || ' contact bob@example.com via 10.0.0.7 today' AS text FROM docs;
         |CREATE TABLE safe AS PIPELINE pii_scrub(leaky, text => 'text');
         |SELECT doc_id, text FROM safe""".stripMargin).get
    val gotScrub = scrubbed.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val expScrub = docs.select(col("doc_id"),
        TextAnalysis.scrubPii(concat(col("text"),
          lit(" contact bob@example.com via 10.0.0.7 today"))).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(gotScrub.size == docs.count() && gotScrub == expScrub)
    assert(gotScrub.values.forall(t =>
      !t.contains("bob@example.com") && !t.contains("10.0.0.7")))

    // dedup_urls: scheme/www/tracking-param variants of the same page
    // collapse onto one canonical URL; lowest doc_id survives
    val urlExpr =
      "(CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.' ELSE 'http://' END) || " +
      "'Example.COM/p/' || CAST(doc_id % 50 AS STRING) || " +
      "(CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x' ELSE '' END)"
    val uniq = new Pipeline(spark, streaming = false).run(
      s"""$ddl
         |CREATE VIEW crawl AS SELECT doc_id, $urlExpr AS url, text FROM docs;
         |CREATE TABLE uniqurl AS PIPELINE dedup_urls(crawl, id => 'doc_id', url => 'url');
         |SELECT doc_id FROM uniqurl""".stripMargin).get
      .collect().map(_.getLong(0)).toSet
    val crawlDf = docs.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, "https://WWW.").otherwise("http://"),
      lit("Example.COM/p/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 3 === 0, "?utm_source=x").otherwise("")).as("url"))
    val expUniq = Urls.dedupByUrl(crawlDf, "doc_id", "url")
      .select(col("keep_id")).collect().map(_.getLong(0)).toSet
    assert(uniq.size == 50 && uniq == expUniq)

    // chunk_tokens / pack_sequences: training-sequence shaping from SQL
    val chunks = new Pipeline(spark, streaming = false).run(
      s"""$ddl
         |CREATE TABLE ch AS PIPELINE chunk_tokens(docs, id => 'doc_id',
         |  text => 'text', chunk_size => '64', overlap => '16');
         |SELECT doc_id, chunk_idx, chunk_tokens, chunk_text FROM ch""".stripMargin).get
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val expChunks = Chunking.chunkTokens(docs, "doc_id", "text", 64, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(chunks.nonEmpty && chunks == expChunks)
    val packs = new Pipeline(spark, streaming = false).run(
      s"""$ddl
         |CREATE TABLE pk AS PIPELINE pack_sequences(docs, id => 'doc_id',
         |  text => 'text', budget => '4096', shards => '8');
         |SELECT doc_id, n_tokens, shard, pack_id, pack_pos FROM pk""".stripMargin).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val expPacks = Chunking.packSequences(docs, "doc_id", "text", 4096, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(packs.nonEmpty && packs == expPacks)
  }

  test("SET updating_ttl and streaming ORDER BY/LIMIT rejection (reference parity)") {
    val p = new Pipeline(spark, streaming = true)
    p.runStatement(Ddl.parse("SET updating_ttl = INTERVAL '1 hour'"))
    assert(p.updatingTtl == "'1 hour'".stripPrefix("'").stripSuffix("'"))
    p.runStatement(Ddl.parse(
      "CREATE TABLE s (ts TIMESTAMP, k TEXT) WITH (connector='impulse', type='source')"))
    p.runStatement(Ddl.parse("CREATE TABLE out WITH (connector='blackhole', type='sink')"))
    intercept[IllegalArgumentException] {
      p.runStatement(Ddl.parse("INSERT INTO out SELECT * FROM s ORDER BY ts"))
    }
    intercept[IllegalArgumentException] {
      p.runStatement(Ddl.parse("INSERT INTO out SELECT * FROM s LIMIT 5"))
    }
    // subquery LIMIT stays legal (only top-level is rejected)
    assert(!Ddl.hasTopLevel("SELECT * FROM (SELECT * FROM s LIMIT 5)", "limit"))
  }

  test("non-windowed streaming aggregate runs in update mode (updating-agg surface)") {
    val cars = writeCarsFixture()
    val p = new Pipeline(spark, streaming = true)
    p.run(
      s"""CREATE TABLE cars (
         |  timestamp TIMESTAMP, driver_id BIGINT, event_type TEXT, location TEXT
         |) WITH (connector = 'single_file', path = '$cars', format = 'json',
         |        type = 'source', event_time_field = 'timestamp');
         |CREATE TABLE sink WITH (connector = 'memory', type = 'sink');
         |INSERT INTO sink SELECT event_type, count(*) AS n FROM cars GROUP BY event_type""".stripMargin)
    val got = spark.table("sink_result")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // update mode emits the latest value per key — final counts over all rows
    assert(got == Map("pickup" -> 4L, "dropoff" -> 2L), s"got $got")
  }

  test("nexmark q5: hot auctions (hop-window counts joined to per-window max)") {
    val p = new Pipeline(spark)
    p.runStatement(Ddl.parse(
      "CREATE TABLE bids (datetime TIMESTAMP, auction BIGINT, bidder BIGINT, price BIGINT, " +
        "channel TEXT, url TEXT, extra TEXT) " +
        "WITH (connector='nexmark', message_count='20000', type='source', event_time_field='datetime')"))
    val q5 = p.run(
      """CREATE VIEW counts AS
        |SELECT auction, window.start AS ws, count(*) AS n
        |FROM bids GROUP BY auction, hop(interval '2 seconds', interval '10 seconds');
        |
        |SELECT c.auction, c.ws, c.n FROM counts c
        |JOIN (SELECT ws, max(n) AS maxn FROM counts GROUP BY ws) m
        |  ON c.ws = m.ws AND c.n = m.maxn""".stripMargin).get
    val rows = q5.collect()
    assert(rows.nonEmpty)
    // every emitted row is a per-window maximum
    val byWs = rows.groupBy(_.getTimestamp(1))
    byWs.foreach { case (_, rs) => assert(rs.map(_.getLong(2)).distinct.length == 1) }
  }

  test("nexmark q5 shape: hot auctions via hop window + window join") {
    val p = new Pipeline(spark)
    p.runStatement(Ddl.parse(
      "CREATE TABLE bids (datetime TIMESTAMP, auction BIGINT, bidder BIGINT, price BIGINT, " +
        "channel TEXT, url TEXT, extra TEXT) " +
        "WITH (connector='nexmark', message_count='5000', type='source', event_time_field='datetime')"))
    val agg = spark.sql(p.rewriteWindows(
      """SELECT auction, window.start AS ws, count(*) AS n
        |FROM bids GROUP BY auction, hop(interval '2 seconds', interval '10 seconds')""".stripMargin))
    assert(agg.count() > 0)
    // every event lands in exactly width/slide = 5 windows
    val total = agg.agg(sum("n")).collect()(0).getLong(0)
    assert(total == 5000L * 5)
  }
}
