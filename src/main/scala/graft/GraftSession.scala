package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with scale-oriented defaults.
  *
  * The engine targets large clusters (100 TB-class inputs); locally we run
  * `local[32]`. Defaults here are the ones that matter at both scales:
  *   - AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  *   - shuffle partitions sized for the local harness via env; on a real
  *     cluster AQE coalescing makes the static number far less critical
  *   - broadcast threshold generous: dimension tables (region/nation/customer
  *     at small SF, lookup tables in streaming) should never shuffle-join
  */
object GraftSession {
  def builder(appName: String = "graft", cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r17 note: coalescePartitions.parallelismFirst stays at its TRUE
      // default, measured deliberately (OPTIMIZATION_r17.md): size-based
      // coalescing (false + 64 MB advisory) collapsed the dedup pipelines'
      // shuffles to 1 task and serialized their CPU-heavy, small-byte stages —
      // q_tfidf 1.9 s → 9.3 s, q_ngram_jaccard 1.7 s → 5.2 s. This
      // engine's post-shuffle stages are compute-bound per byte (hash
      // self-joins, signature math), the exact case the parallelism
      // floor exists for.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // r17 (guide §3.1/§9): let the planner pick shuffled-hash over
      // sort-merge when its size conditions hold, and let AQE rewrite an
      // already-shuffled SMJ to SHJ when every post-shuffle partition is
      // under the local-map threshold — both drop the per-partition sorts.
      // OOM risk is bounded by the same size conditions (and AQE skew
      // splitting stays on); sort-merge remains the fallback everywhere
      // the build side could be large.
      // ADVICE r17 note: this is session-wide, so every GraftSession
      // consumer inherits the assumption that a planner-accepted SHJ build
      // side fits executor memory (SHJ maps cannot spill). The conditions
      // guarding it: the planner only picks SHJ when the build side is
      // under the per-partition size threshold, AQE re-plans from RUNTIME
      // sizes (not estimates), and skew-split keeps one giant partition
      // from concentrating a build map. Deployments with small executors
      // and badly skewed stats can restore preferSortMergeJoin=true
      // per-session without touching operator code.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // r18: ObjectHashAggregate (the executor of every TypedImperative
      // aggregate here — postings CollectUpToF/CollectPairsUpToF, TopKByF)
      // falls back to SORT-BASED aggregation after 128 distinct keys by
      // default — tuned for unbounded collect_list states. Ours carry
      // HARD-BOUNDED per-key state (df/bucket caps, top-k heaps), so 4096
      // in-memory groups are ≤ tens of MB worst-case; below 4096 groups
      // (the ANN per-query top-k: groups = |queries|) the aggregate stays
      // hash-based instead of degenerating into exactly the sort the
      // aggregate was chosen to avoid (measured: q_ann_pq's ADC stage ran
      // sort-based under the default). Key-heavy aggregates (vocab-sized
      // postings) still fall back past 4096 keys — the memory-safety
      // mechanism is intact, it just engages 32× later on bounded state.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns type.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet TIMESTAMP(µs, isAdjustedToUTC=false) must read as TimestampType,
      // not TIMESTAMP_NTZ: event-time watermarks reject NTZ, and the DuckDB
      // oracle treats naive parquet timestamps as the same instants this
      // UTC-pinned session does. (The driver's round-5 testdata switched
      // events.ts from TIMESTAMP(NANOS) to naive µs, surfacing the default.)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // min-of-inputs watermark propagation across multiple sources —
      // Spark's default, pinned because it's load-bearing reference parity
      // (WatermarkHolder min across inputs, arroyo-operator/context.rs:36-90)
      .config("spark.sql.streaming.multipleWatermarkPolicy", "min")
      // RocksDB state store: streaming state at 100 TB-class key
      // cardinality cannot live on the executor heap (the default
      // HDFS-backed provider keeps the full map in memory per partition);
      // RocksDB spills to local disk with bounded memory, the same
      // LSM-on-local-disk shape as the reference's state backend
      // (crates/arroyo-state). Changelog checkpointing keeps commits
      // incremental instead of re-uploading full SSTs per batch.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // keep managed tables (bucketing) out of the working directory
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    spark
  }

  /** SQL-callable custom functions (reference §2.4 surface). */
  def registerFunctions(spark: SparkSession): Unit = {
    graft.functions.Scalars.register(spark)
    graft.functions.Udafs.register(spark)
  }

  /** True iff the session renders timestamps at UTC (fixed zero offset —
    * "UTC", "Etc/UTC", "GMT", "+00:00" all qualify). This is the
    * precondition for relabeling a TIMESTAMP_NTZ column (naive-µs parquet)
    * as TimestampType: the cast interprets the naive wall-clock in the
    * SESSION zone, so it is instant-preserving only at UTC.
    */
  def sessionIsUtc(spark: SparkSession): Boolean = {
    val rules = java.time.ZoneId
      .of(spark.conf.get("spark.sql.session.timeZone")).getRules
    rules.isFixedOffset &&
      rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }

  /** Fail LOUDLY instead of silently shifting instants: a foreign session
    * (one not built by [[builder]], which pins UTC) running in another zone
    * would relabel every naive-µs event time to a different instant.
    */
  def requireUtcForNtzRelabel(spark: SparkSession, what: String): Unit =
    if (!sessionIsUtc(spark))
      throw new IllegalStateException(
        s"$what is TIMESTAMP_NTZ (naive-µs parquet) and the session time " +
          s"zone is '${spark.conf.get("spark.sql.session.timeZone")}': " +
          "relabeling NTZ as TIMESTAMP is only instant-preserving at UTC. " +
          "Set spark.sql.session.timeZone=UTC (GraftSession.builder does), " +
          "or disable spark.sql.parquet.inferTimestampNTZ.enabled so the " +
          "file reads as TIMESTAMP directly.")
}

/** Loaders for the driver's TPC-H-ish testdata directory layout:
  * `<sfDir>/<table>.parquet`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schemas per table path, inferred once per JVM (r17): without
    * this, EVERY `spark.read.parquet` call runs a footer-inference job
    * before the query proper — ~30-50 ms × 1-6 tables × every query
    * construction (guide §6: table formats carry schema in metadata for
    * exactly this reason; a production deployment gets it from the
    * metastore). Metadata only — no result caching: each query still
    * reads every byte from parquet.
    */
  private[graft] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, org.apache.spark.sql.types.StructType)]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // r18 (ADVICE r17): each path's entry carries the directory mtime it
    // was inferred at, so a rewritten table (test-data regeneration within
    // one JVM) re-infers and REPLACES its entry instead of silently reading
    // with a stale schema. One FS stat call (~µs) versus the ~30-50 ms
    // footer-inference job the cache avoids; an unreadable status (exotic
    // FS) falls back to uncached inference.
    val mtime =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getModificationTime
      } catch { case _: Exception => -1L }
    val cached = if (mtime >= 0) schemaCache.get(path) else null
    val df =
      if (cached != null && cached._1 == mtime) spark.read.schema(cached._2).parquet(path)
      else {
        val d = spark.read.parquet(path)
        if (mtime >= 0) schemaCache.put(path, (mtime, d.schema))
        d
      }
    if (name == "events") normalizeEvents(df) else df
  }

  /** events.ts is parquet TIMESTAMP(NANOS); with `nanosAsLong` Spark reads it
    * as LongType nanos. Convert to a proper microsecond TimestampType column
    * (matching DuckDB's ns→µs truncation) so event-time operators work on it.
    */
  private def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        // `div` (integer division) — a double-typed `/` would be lossy past 2^53
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // naive µs parquet read by a session without the inferTimestampNTZ
        // override (GraftSession sets it, foreign sessions may not): at UTC
        // this cast relabels the same instant; anywhere else it would
        // silently shift every event time, so fail loudly instead
        GraftSession.requireUtcForNtzRelabel(df.sparkSession, "events.ts")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view for spark.sql use. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { t => load(spark, sfDir, t).createOrReplaceTempView(t) }
}
