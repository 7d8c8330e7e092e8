package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for training-data pipelines.
  *
  * All of these are designed around one constraint: at 100 TB there is no
  * "compare every pair". Each strategy reduces candidate generation to a
  * shuffle on a *bucketing key* (content hash, LSH band, shared shingle),
  * so cost is O(data) + O(candidate pairs), never O(n²).
  *
  * Determinism: all hashing is xxhash64 over content + literal seeds, so
  * results are reproducible run-to-run and cluster-to-cluster.
  */
object Dedup {

  /** Materialize `result` eagerly and RELEASE the pinned intermediates.
    *
    * The candidate-pair operators cache a large intermediate (signatures /
    * filtered inverted index) that several plan branches consume. A bare
    * persist() leaks those blocks for the life of the session — the caller
    * never sees the handle, so in a long-lived session or foreachBatch loop
    * the leak is unbounded. localCheckpoint(eager = true) computes the
    * (small) pair output once, truncating lineage so the returned frame no
    * longer references the caches, which are then unpersisted synchronously
    * before returning. Pinned cost after return: the output rows only,
    * reclaimed by the ContextCleaner once the frame is unreferenced.
    * (`keeperAssignment` manages its own loop-carried caches the same way.)
    * The checkpoint is a Dataset action, so a `QueryExecutionListener`
    * (`graft.Probe plans`) sees the pre-checkpoint pipeline's plan.
    */
  private[operators] def materializeAndRelease(result: DataFrame, pinned: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    pinned.foreach(_.unpersist())
    out
  }

  /** Exact dedup by content hash: one shuffle on md5(text).
    * Returns one row per distinct content: the surviving (minimum) id, the
    * duplicate count, and the hash. Map-side partial aggregation makes the
    * shuffle proportional to distinct content, not input rows.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word-level shingles (n-grams joined by a single space), distinct per doc.
    * Produces (id, shingle) pairs — the exploded inverted-index form shared
    * by minhash and exact-jaccard dedup.
    */
  /** Spread an under-partitioned batch input across the cluster before
    * compute-bound per-row work. Text corpora often arrive as few large
    * files → few scan partitions. Parallelism is estimated from logical-plan
    * size stats, NOT `df.rdd.getNumPartitions` — building the RDD lineage
    * plans the query eagerly on the driver and reads the pre-AQE
    * partitioning, which silently disabled this guard under AQE coalescing.
    */
  private def spreadForCompute(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val spark = df.sparkSession
      val par = spark.sparkContext.defaultParallelism
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val maxPart = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
      val estParts = (bytes / maxPart.max(BigInt(1))) + 1
      if (estParts < par) df.repartition(par) else df
    }

  /** (doc, distinct shingle list) — the row-local form every dedup strategy
    * starts from. Spreads under-partitioned corpora before the per-row
    * work (round-robin: no key needed yet).
    */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spreadForCompute(df).select(
      col(idCol).as("doc"),
      org.apache.spark.sql.GraftShim.column(graft.functions.ShingleStringsF(
        org.apache.spark.sql.GraftShim.expression(tokens(col(textCol))), n))
        .as("shingle_list"))

  /** Exploded (doc, shingle) pairs — the inverted-index form used by
    * exact-jaccard dedup and the shingle-statistics query. The shingle is
    * a 64-BIT HASH (xxhash64 of the n-gram text), not the raw string:
    * every consumer uses it by equality only (df-cap groupBy, self-join,
    * countDistinct), so the index/persist/shuffle carry 8 bytes per row
    * instead of multi-word strings — at sf0.1 that footprint (raw strings
    * through a MEMORY_AND_DISK persist + self-join shuffle) was the
    * round-4 bench pathology. Distinct-by-hash equals distinct-by-string
    * up to 64-bit collisions (~k²·2⁻⁶⁵ per doc — absent at test scale,
    * and an accepted, standard approximation for dedup signals at corpus
    * scale). The hash is applied INSIDE the same projection so
    * array_distinct compares longs, not strings.
    *
    * PERF NOTE (r17): shingle construction is the codegen'd
    * [[graft.functions.ShingleHashesF]] — the old higher-order-function
    * chain (`array_distinct(transform(sequence, i => concat_ws(slice)))`)
    * ran interpreted (Spark never codegens lambdas) at ~32 µs/shingle and
    * dominated every dedup query's executor time (OPTIMIZATION_r17.md:
    * 13-19 CPU-s per corpus traversal at sf0.1, ×2 traversals here).
    * Value-identical: same windows, " " join, first-occurrence distinct on
    * the hash, xxhash64 seed 42. The explode still takes the expression
    * inline in one projection (the round-4 lesson: a separate Project
    * below the Generate broke scan fusion, 13× slower).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spreadForCompute(df).select(
      col(idCol).as("doc"),
      explode(org.apache.spark.sql.GraftShim.column(graft.functions.ShingleHashesF(
        org.apache.spark.sql.GraftShim.expression(tokens(col(textCol))), n)))
        .as("shingle"))

  /** MinHash signature per doc, computed ROW-LOCALLY by the codegen'd
    * [[graft.functions.MinHashSigF]] expression (Kirsch-Mitzenmacher double
    * hashing in a 40-bit space). The signature is a pure function of one
    * document's shingles, so the old explode → groupBy(doc).agg(64 mins)
    * formulation paid two structural shuffles for nothing — this pays none.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    // r17: fused tokens → signature ([[graft.functions.MinHashTokensF]]):
    // no shingle-string array materialization, no distinct pass (a
    // duplicate shingle cannot change a minimum) — value-identical to the
    // shingleArrays + MinHashSigF chain (ShingleFSpec pins it)
    spreadForCompute(df).select(
      col(idCol).as("doc"),
      org.apache.spark.sql.GraftShim.column(graft.functions.MinHashTokensF(
        org.apache.spark.sql.GraftShim.expression(tokens(col(textCol))),
        shingleSize, numHashes)).as("sig"))

  /** MinHash + LSH banding dedup.
    *
    * shingle → signature (numHashes mins) → band hashes (bands groups of
    * rowsPerBand) → docs sharing any band hash become candidate pairs →
    * pairs scored by estimated Jaccard (fraction of equal signature slots)
    * and filtered by `threshold`.
    *
    * Scale: candidates come from a groupBy on (band, bandHash) — only docs
    * that actually collide are ever paired. Oversized buckets (degenerate
    * content) are capped at `maxBucket` to bound the quadratic pair
    * expansion; the cap is a standard LSH-at-scale guard.
    *
    * Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must divide into bands ($bands)")
    val rowsPerBand = numHashes / bands

    // persisted: consumed by banding + both signature re-joins — without it
    // Spark recomputes the full tokenize→shingle→signature pipeline per branch
    val sigArr = minhashSignatures(df, idCol, textCol, shingleSize, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val bandHashes = (0 until bands).map { b =>
      xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }
    // banding carries only (doc, band, band_hash): the 64-slot signature
    // would otherwise be replicated 16× through the explode and every
    // downstream shuffle — it re-attaches after pair dedup instead
    val banded = sigArr.select(col("doc"), posexplode(array(bandHashes: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

    // Bucket by (band, band_hash); cap pathological buckets. r17: the
    // bucket members are gathered into a CAP-BOUNDED postings list
    // ([[graft.functions.CollectUpToF]] — at most maxBucket+1 doc ids per
    // bucket, so a degenerate bucket holds KBs of state, never GBs) and
    // candidate pairs stream out of a double explode — one exchange where
    // the previous count-filter-join-back + self-join paid three (the
    // ngramJaccardPairs postings redesign applied to LSH banding).
    val rawPairs = banded.groupBy(col("band"), col("band_hash"))
      .agg(org.apache.spark.sql.GraftShim.column(
        graft.functions.CollectUpToF(
          org.apache.spark.sql.GraftShim.expression(col("doc")), maxBucket)
          .toAggregateExpression()).as("docs"))
      .filter(size(col("docs")) <= maxBucket)
      .select(col("docs"), explode(col("docs")).as("doc_a"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    val scored = rawPairs
      .join(sigArr.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigArr.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / numHashes.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    materializeAndRelease(scored, sigArr)
  }

  /** Incremental (cross-shard) exact dedup via a broadcast Bloom filter —
    * the "dedupe today's crawl against the existing corpus" op. A plain
    * anti-join keyed on content hash would shuffle the REFERENCE side (the
    * 100 TB one) on every incremental run. Instead:
    *
    *   1. BUILD: one scan of the reference aggregates a Bloom filter over
    *      xxhash64(text) (distributed partial-merge; the driver collects
    *      only the bit array).
    *   2. PRUNE: the shard probes the bloom through Spark's codegen'd
    *      `BloomFilterMightContain` predicate — definite-new rows (the
    *      vast majority of a crawl) exit here with zero shuffle, no join.
    *   3. VERIFY: bloom positives (true dups + ~fpp false positives) are
    *      a small set; their md5 hashes broadcast against one more
    *      reference scan to split false positives from real duplicates.
    *
    * False negatives can't happen and false positives are re-checked, so
    * the result is EXACTLY "shard rows whose content does not occur in
    * ref" — which is why q_bloom_dedup carries a plain anti-join oracle.
    *
    * NULL text carries no content to dedup: null-text rows are DROPPED
    * from both sides up front. This keeps the semantics aligned with the
    * documented `NOT IN` formulation (where a null key on either side
    * would otherwise silently diverge between engines: a null left_anti
    * join key never matches in Spark and survives, while SQL `NOT IN`
    * filters it — and a null IN the reference set would make `NOT IN`
    * drop EVERY row).
    *
    * Scale regime: the serialized bloom must fit in a task broadcast
    * (~1.2 GB per 10⁹ distinct contents at 1% fpp). Past that, partition
    * the hash space (pmod(xxhash64, P)) and build one bloom per bucket
    * over co-partitioned sides; prune and verify are unchanged per bucket.
    * The bloom rides the plan as a binary literal — the task binary is
    * torrent-broadcast once per stage (the same transport Spark's own
    * runtime row-level filters use), not re-sent per task; plan
    * stringification truncates literals, so explain() stays readable.
    */
  /** `expectedItems <= 0` (the default) auto-sizes the bloom from a
    * count of the reference side — results are sizing-INVARIANT (the
    * exact verify re-checks every probe hit), but an under-sized bloom
    * saturates and forfeits its pruning power silently at scale, so the
    * safe default is to pay one count. Callers with a known cardinality
    * pass it and skip the pass.
    */
  def bloomIncremental(ref0: DataFrame, shard0: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    // NULL text = no content (see scaladoc): out of scope on both sides
    val ref = ref0.filter(col(textCol).isNotNull)
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(1024L, ref.count())
    val refKeys = ref.select(xxhash64(col(textCol)).as("bk"),
      md5(col(textCol)).as("content_hash"))
    bloomIncrementalKeyed(refKeys, shard0.filter(col(textCol).isNotNull),
      idCol, textCol, items, fpp)
      .select(col(idCol), col("content_hash"))
  }

  /** Keyed core of [[bloomIncremental]]: the reference arrives as
    * precomputed `(bk = xxhash64(text), content_hash = md5(text))` rows —
    * the LEDGER form a streaming pipeline persists between batches, so
    * later batches rebuild the bloom without re-reading any text. Returns
    * surviving shard rows as (idCol, content_hash, bk).
    */
  private[graft] def bloomIncrementalKeyed(refKeys: DataFrame, shard: DataFrame,
      idCol: String, textCol: String, expectedItems: Long,
      fpp: Double): DataFrame = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val keyed = shard.select(col(idCol),
      md5(col(textCol)).as("content_hash"), xxhash64(col(textCol)).as("bk"))
    // empty reference = first-ever incremental run: everything is new.
    // (Also required for correctness — Spark's stat.bloomFilter NPEs on
    // zero rows.) isEmpty short-circuits at the first row, so this probe
    // is O(1) even on a 100 TB reference.
    if (refKeys.isEmpty) return keyed
    val bf = refKeys.select(col("bk")).stat.bloomFilter("bk", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftShim.column(BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      GraftShim.expression(col("bk"))))
    val candidates = keyed.filter(mightContain)
      .select(col("content_hash")).distinct()
    // ref is the streamed side of a broadcast join — the candidate set is
    // what ships, never the reference
    val confirmed = refKeys.select(col("content_hash"))
      .join(broadcast(candidates), "content_hash")
      .distinct()
    keyed.join(broadcast(confirmed), Seq("content_hash"), "left_anti")
  }

  /** PARTITIONED-bloom incremental dedup — the >10⁹-distinct-items regime
    * where one monolithic bloom outgrows a task broadcast (~1.2 GB per
    * 10⁹ items at 1% fpp). The hash space is split into `numBuckets` by
    * `pmod(xxhash64(text), numBuckets)` and one bloom is built PER BUCKET
    * in a single distributed pass (codegen'd partial-merge aggregate —
    * the reference side is scanned once, exactly like the monolithic
    * build; the driver collects numBuckets bit-arrays, each 1/numBuckets
    * the monolithic size). The prune is one scan of the shard through ONE
    * codegen'd bucket-dispatch expression
    * ([[graft.functions.BloomBucketMightContainF]]) whose bit arrays live
    * in a Spark BROADCAST VARIABLE — still row-local, no join, and the
    * blooms stay OUT of the plan tree, so large bucket counts neither
    * blow codegen limits nor re-serialize every bloom into every task
    * binary (they ship once per executor via torrent broadcast). Verify
    * is the same broadcast-candidates pass as [[bloomIncremental]], so
    * results are IDENTICAL to the plain anti-join semantics (fpp only
    * affects how much the verify join sees).
    *
    * Shares [[bloomIncrementalPartitionedKeyed]] with the streaming
    * ledger form: a pipeline that persists (bk, content_hash) keys feeds
    * them directly and never re-reads reference text.
    */
  def bloomIncrementalPartitioned(ref0: DataFrame, shard0: DataFrame,
      idCol: String, textCol: String, numBuckets: Int = 16,
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val ref = ref0.filter(col(textCol).isNotNull)
    // auto-size like [[bloomIncremental]]: expectedItems here is TOTAL
    // across buckets (each bucket bloom gets its pmod share)
    val items =
      if (expectedItems > 0) expectedItems
      else math.max(1024L, ref.count())
    val refKeys = ref.select(xxhash64(col(textCol)).as("bk"),
      md5(col(textCol)).as("content_hash"))
    bloomIncrementalPartitionedKeyed(refKeys, shard0.filter(col(textCol).isNotNull),
      idCol, textCol, numBuckets, items, fpp)
      .select(col(idCol), col("content_hash"))
  }

  /** Keyed core of [[bloomIncrementalPartitioned]] — the partitioned
    * sibling of [[bloomIncrementalKeyed]]: the reference arrives as
    * precomputed `(bk, content_hash)` LEDGER rows, so the verify stage
    * reuses the same keys the bloom build scanned (no second pass over
    * reference text — parity with the monolithic keyed path).
    */
  private[graft] def bloomIncrementalPartitionedKeyed(refKeys: DataFrame,
      shard: DataFrame, idCol: String, textCol: String, numBuckets: Int,
      expectedItems: Long, fpp: Double): DataFrame = {
    require(numBuckets > 0)
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val keyed = shard.select(col(idCol),
      md5(col(textCol)).as("content_hash"), xxhash64(col(textCol)).as("bk"))
    if (refKeys.isEmpty) return keyed
    // ONE reference-keys pass: per-bucket partial-merged bloom aggregates;
    // the driver holds numBuckets × (monolithic/numBuckets) bytes total
    val perBucketItems = math.max(1L, expectedItems / numBuckets)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(perBucketItems, fpp)
    val bloomAgg = GraftShim.column(new BloomFilterAggregate(
      GraftShim.expression(col("bk")),
      Literal(perBucketItems), Literal(numBits)).toAggregateExpression())
    val arr = new Array[Array[Byte]](numBuckets)
    refKeys.groupBy(pmod(col("bk"), lit(numBuckets.toLong)).as("bucket"))
      .agg(bloomAgg.as("bf"))
      .collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getAs[Array[Byte]]("bf"))
    val bcast = shard.sparkSession.sparkContext.broadcast(arr)
    val mightContain = GraftShim.column(graft.functions.BloomBucketMightContainF(
      GraftShim.expression(col("bk")), bcast))
    val candidates = keyed.filter(mightContain)
      .select(col("content_hash")).distinct()
    val confirmed = refKeys.select(col("content_hash"))
      .join(broadcast(candidates), "content_hash")
      .distinct()
    keyed.join(broadcast(confirmed), Seq("content_hash"), "left_anti")
  }

  /** STREAMING incremental dedup — the op whose whole point is
    * incrementality: each micro-batch is deduped against everything the
    * pipeline has ever accepted, via [[bloomIncrementalKeyed]] over a
    * parquet LEDGER of (bk, content_hash) keys that the pipeline itself
    * maintains.
    *
    * Per batch: (1) read the ledger partitions of earlier batches and
    * rebuild the bloom (keys only — text is never re-read); (2) prune +
    * verify the batch against them; (3) collapse within-batch copies
    * (min id per content, as [[exact]] does); (4) write survivors to
    * `outDir/batch=N` and their keys to `ledgerDir/batch=N`.
    *
    * Exactly-once across restarts WITHOUT a transactional store: both
    * writes are scoped to the batch id and OVERWRITE, and the reference
    * reads only ledger partitions with id < N — so a batch replayed
    * after a crash sees exactly the reference its failed attempt saw,
    * rewrites the same outputs, and converges. (The same recipe Spark's
    * own foreachBatch + idempotent-sink guidance prescribes.)
    *
    * Scale: the ledger carries ~48 bytes per distinct accepted content —
    * the 100 TB corpus never re-shuffles; each batch pays one ledger
    * key-scan (bloom build) plus the batch-sized prune/verify. Past
    * broadcast size, partition the bloom as documented on
    * [[bloomIncremental]].
    */
  def bloomIncrementalStream(stream: DataFrame, idCol: String, textCol: String,
      ledgerDir: String, outDir: String, checkpointDir: String,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val batch = batch0.filter(col(textCol).isNotNull)
        val prior = readLedgerBefore(spark, ledgerDir, batchId)
        val fresh = bloomIncrementalKeyed(prior, batch, idCol, textCol,
          expectedItems, fpp)
        // one survivor per distinct new content: min id keeps, like exact()
        val kept = fresh.groupBy(col("content_hash"))
          .agg(min(col(idCol)).as(idCol), first(col("bk")).as("bk"))
          .localCheckpoint(true) // computed once, feeds both writes
        kept.select(col(idCol), col("content_hash"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        kept.select(col("bk"), col("content_hash"))
          .write.mode("overwrite").parquet(s"$ledgerDir/batch=$batchId")
        ()
      }
      .start()
  }

  /** STREAMING MinHash near-dup dedup — the incremental face of
    * [[minhashLshPairs]] + [[keeperAssignment]], completing the ledger
    * family: [[bloomIncrementalStream]] dedups exact content,
    * [[graft.operators.Similarity.semanticDedupStream]] dedups embeddings,
    * this dedups near-duplicate TEXT against every keeper the pipeline has
    * ever accepted.
    *
    * Ledger: parquet (doc, sig) keeper rows under `ledgerDir/batch=N` —
    * signatures only (numHashes ints per keeper); band hashes are
    * re-derived per batch by one row-local projection, so the ledger
    * stays minimal and the corpus text is never re-read. Per batch:
    * (1) row-local signatures for the new docs; (2) LSH band join new →
    * prior keepers, estimated-Jaccard filter, collapse each matched doc
    * onto its smallest prior keeper; (3) survivors dedup within-batch
    * via the same band join + CC fixpoint as the batch op; (4) write
    * (doc, keep_as) to `outDir/batch=N` and new keepers' (doc, sig) to
    * `ledgerDir/batch=N`. Batch-scoped OVERWRITE of both writes + a
    * strictly-before ledger read = idempotent crash replay, exactly the
    * [[bloomIncrementalStream]] recipe.
    *
    * Scale: the cross-batch join is band-bucketed (never all-pairs) and
    * its prior side carries keepers only — the deduped corpus, the small
    * side by construction; oversized buckets cap at `maxBucket` on both
    * sides. Like all incremental dedup, chains that SPAN batches collapse
    * per-batch onto the earliest keeper rather than re-clustering history.
    */
  def minhashDedupStream(stream: DataFrame, idCol: String, textCol: String,
      ledgerDir: String, outDir: String, checkpointDir: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucket: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must divide into bands ($bands)")
    val rowsPerBand = numHashes / bands
    def bandCols = (0 until bands).map { b =>
      xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }
    def banded(sigs: DataFrame): DataFrame = {
      val b = sigs.select(col("doc"), col("sig"), posexplode(array(bandCols: _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      val ok = b.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("bn")).filter(col("bn") <= maxBucket)
        .select(col("band"), col("band_hash"))
      b.join(ok, Seq("band", "band_hash"))
    }
    def estJ(a: Column, b: Column): Column =
      size(filter(zip_with(a, b, (x, y) => x === y), v => v))
        .cast("double") / numHashes.toDouble

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val batch = batch0.filter(col(textCol).isNotNull)
        if (!batch.isEmpty) {
          // computed once, feeds the cross-batch join, the within-batch
          // join and the ledger write
          val sigs = minhashSignatures(batch, idCol, textCol, shingleSize, numHashes)
            .localCheckpoint(true)
          val prior = readSigLedger(spark, ledgerDir, batchId, sigs)
          val matched = banded(sigs).as("n")
            .join(banded(prior).as("p"),
              col("n.band") === col("p.band") && col("n.band_hash") === col("p.band_hash"))
            .select(col("n.doc").as("doc"), col("p.doc").as("keeper"),
              col("n.sig").as("sig_n"), col("p.sig").as("sig_p"))
            .dropDuplicates("doc", "keeper")
            .filter(estJ(col("sig_n"), col("sig_p")) >= threshold)
            .groupBy(col("doc")).agg(min(col("keeper")).as("keep_as"))
          val fresh = sigs.join(matched.select("doc"), Seq("doc"), "left_anti")
          val fb = banded(fresh)
          val pairs = fb.as("a").join(fb.as("b"),
              col("a.band") === col("b.band") &&
                col("a.band_hash") === col("b.band_hash") &&
                col("a.doc") < col("b.doc"))
            .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
              col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
            .dropDuplicates("doc_a", "doc_b")
            .filter(estJ(col("sig_a"), col("sig_b")) >= threshold)
            .select("doc_a", "doc_b")
          val within = keeperAssignment(fresh.select(col("doc")), "doc", pairs)
          val out = matched.unionByName(within).localCheckpoint(true)
          out.select(col("doc").as(idCol), col("keep_as"))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          fresh.join(out.filter(col("keep_as") === col("doc")).select("doc"), Seq("doc"))
            .select(col("doc"), col("sig"))
            .write.mode("overwrite").parquet(s"$ledgerDir/batch=$batchId")
        }
        ()
      }
      .start()
  }

  /** Signature-ledger partitions committed strictly before `batchId`;
    * `like` supplies the (doc, sig) schema for the empty first batch.
    */
  private def readSigLedger(spark: org.apache.spark.sql.SparkSession,
      ledgerDir: String, batchId: Long, like: DataFrame): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      if (!fs.exists(path)) Array.empty[String]
      else fs.listStatus(path).map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .filter(_.getName.stripPrefix("batch=").toLong < batchId)
        .map(_.toString)
    if (parts.isEmpty) like.limit(0) else spark.read.parquet(parts.toIndexedSeq: _*)
  }

  /** Ledger partitions committed strictly before `batchId`, via the Hadoop
    * FileSystem API (portable to HDFS/S3 paths, not just local disk).
    */
  private def readLedgerBefore(spark: org.apache.spark.sql.SparkSession,
      ledgerDir: String, batchId: Long): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      if (!fs.exists(path)) Array.empty[String]
      else fs.listStatus(path).map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .filter(_.getName.stripPrefix("batch=").toLong < batchId)
        .map(_.toString)
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bk",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("content_hash",
            org.apache.spark.sql.types.StringType))))
    else spark.read.parquet(parts.toIndexedSeq: _*)
  }

  /** Cluster assignment from candidate pairs: connected components to
    * FIXPOINT — every doc maps to the smallest doc id reachable through
    * the pair graph (a–b, b–c ⇒ c→a), so transitive duplicate chains
    * collapse to one keeper.
    *
    * Iterative min-label propagation with path-halving (label :=
    * label(label)), the doubling trick that converges in O(log diameter)
    * shuffle rounds instead of O(diameter). Each round persists its labels
    * and localCheckpoints every few rounds to truncate lineage — the
    * standard large-graph CC recipe (cf. the large-star/small-star
    * map-reduce algorithm). Near-dup text graphs have tiny diameters, so
    * this typically converges in 2-3 rounds.
    */
  def keeperAssignment(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 15, maxDriverEdges: Long = 4000000L): DataFrame = {
    // FAST PATH — bounded driver union-find. The near-dup PAIR GRAPH is
    // orders of magnitude smaller than the corpus (it only contains
    // threshold-surviving candidate pairs), and the distributed fixpoint
    // pays ~4 shuffle barriers per round regardless of size — measured
    // 10s of pure scheduling latency for a 1 071-edge graph at sf0.1.
    // Up to `maxDriverEdges` edges the component minima are computed
    // exactly in milliseconds on the driver ([[driverLabels]]) and rejoined
    // as a broadcast; past the budget the distributed path below takes
    // over. Both paths produce the identical (doc → min reachable id)
    // assignment for every id type (DedupSpec asserts equality).
    val probeN = math.min(maxDriverEdges + 1, Int.MaxValue.toLong).toInt
    // ONE pass, ONE job over the (possibly expensive — LSH joins) pair
    // pipeline: collect the limit(budget+1) frame directly and decide from
    // its length (r17 — the previous persist+count+collect shape read the
    // cache twice, paying a second job's scheduling latency per keeper
    // call). Driver footprint is bounded either way: at most probeN
    // two-id rows (~90 B each for bigint ⇒ ≲400 MB transient at the 4M
    // default) live exactly until the length check, and only when the
    // graph overflows the budget — in which case they are dropped and the
    // distributed path recomputes from `pairs`, same as before.
    // r18 (ADVICE r17): probe CHEAPLY before shipping a potentially
    // ~400 MB boxed edge set to the driver. The first collect is capped at
    // 256Ki rows (≤ ~25 MB boxed) — near-dup pair graphs are orders of
    // magnitude smaller than their corpus (sf1's heaviest, q_semdedup's
    // duplicate-rich graph, is ~90k edges), so this is the overwhelmingly
    // common case and keeps the r17 one-job shape. Only a graph that
    // overflows the small probe pays a persist + bounded count, and the
    // full collect happens only once the count has PROVEN the set fits the
    // budget — the driver never holds an over-budget edge set.
    val idType = pairs.schema("doc_a").dataType
    val slim = pairs.select(col("doc_a"), col("doc_b").cast(idType))
    val firstN = math.min(262145L, probeN.toLong).toInt
    val first = slim.limit(firstN).collect()
    val probed: Option[Array[org.apache.spark.sql.Row]] =
      if (first.length < firstN) {
        if (first.length <= maxDriverEdges) Some(first) else None
      } else if (first.length > maxDriverEdges) None
      else {
        // ambiguous: the small probe filled up — count (bounded by the
        // limit) against a persisted pair pipeline, collect only if it fits
        val p = slim.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val n = p.limit(probeN).count()
          if (n <= maxDriverEdges) Some(p.limit(probeN).collect()) else None
        } finally p.unpersist()
      }
    if (probed.isDefined) {
      val labels = driverLabels(df.sparkSession, probed.get, idType)
      return df.select(col(idCol).as("doc"))
        .join(broadcast(labels), col("doc") === col("doc_l"), "left")
        .select(col("doc"), coalesce(col("keep_l"), col("doc")).as("keep_as"))
    }

    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // CC state is RESTRICTED to docs that appear in at least one pair: a
    // doc outside the graph keeps itself by definition, so iterating the
    // full corpus through the fixpoint (the pre-round-6 shape) paid
    // corpus-sized joins+persists per round for rows that could never
    // change. The candidate set — the dedup-pair graph — is orders of
    // magnitude smaller than a 100 TB corpus; untouched docs rejoin once
    // at the end via a left join + coalesce.
    var labels = edges.select(col("src").as("doc")).distinct()
      .select(col("doc"), col("doc").as("keep_as"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // 1-hop: min neighbor label
      val nbrMin = edges
        .join(labels.select(col("doc").as("dst"), col("keep_as").as("dst_label")), "dst")
        .groupBy(col("src").as("doc")).agg(min("dst_label").as("nbr_min"))
      // the pre-hop label rides along as `prev`, so the convergence probe
      // below is a scan of the cached round output (early-exit isEmpty) —
      // not a second shuffle join of next vs labels per round
      val hopped = labels.join(nbrMin, Seq("doc"), "left")
        .select(col("doc"), col("keep_as").as("prev"),
          least(col("keep_as"), coalesce(col("nbr_min"), col("keep_as"))).as("keep_as"))
      // path-halving: keep_as := label(keep_as)
      val jumped = hopped.as("l")
        .join(hopped.select(col("doc").as("p_doc"), col("keep_as").as("p_label")),
          col("l.keep_as") === col("p_doc"), "left")
        .select(col("l.doc").as("doc"), col("l.prev").as("prev"),
          least(col("l.keep_as"), coalesce(col("p_label"), col("l.keep_as"))).as("keep_as"))
      val next =
        if (iter % 4 == 3) jumped.localCheckpoint() // eager, truncates lineage
        else jumped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      converged = next.filter(col("keep_as") =!= col("prev")).isEmpty
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    val resolved = df.select(col(idCol).as("doc"))
      .join(labels.select(col("doc"), col("keep_as")), Seq("doc"), "left")
      .select(col("doc"), coalesce(col("keep_as"), col("doc")).as("keep_as"))
    // release the last round's cache too — the output is re-materialized
    // from the (cheap, already-computed) checkpoint, not recomputed
    materializeAndRelease(resolved, labels)
  }

  /** (doc_l, keep_l): every endpoint of a driver-resident edge list mapped
    * to the minimum id of its connected component. Ids are Catalyst values
    * compared under the id type's SQL ordering — the one `min`/`least` use
    * on the distributed path (Java's String.compareTo orders UTF-16 code
    * units and disagrees with Spark's UTF-8 byte order on supplementary
    * characters). The distinct endpoints are sorted once and union-find
    * runs over their positions, so the smaller position becomes the root
    * and every root is its component's minimum. Edges with a null
    * endpoint link nothing, as on the distributed path.
    */
  private def driverLabels(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.types.{StructField, StructType}
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val live = edges.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (toCatalyst(r.get(0)), toCatalyst(r.get(1))))
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    live.flatMap { case (a, b) => Array(a, b) }.sorted(ord)
      .foreach(v => if (ids.isEmpty || !ord.equiv(ids.last, v)) ids += v)
    val parent = Array.range(0, ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    live.foreach { case (a, b) =>
      val ra = find(ids.search(a)(ord).insertionPoint)
      val rb = find(ids.search(b)(ord).insertionPoint)
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = ids.indices.map(i =>
      org.apache.spark.sql.Row(toScala(ids(i)), toScala(ids(find(i)))))
    spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      StructType(Seq(StructField("doc_l", idType, nullable = false),
        StructField("keep_l", idType, nullable = false))))
  }

  /** Exact n-gram Jaccard similarity via a POSTINGS-LIST inverted index
    * (r17 redesign, guide §2.3/§2.4): ONE corpus traversal groups the
    * (doc, shingle) pairs by shingle into a CAP-BOUNDED postings list
    * ([[graft.functions.CollectUpToF]] keeps at most maxDocFreq+1 doc ids
    * per shingle — 8 bytes × (cap+1) of state no matter how hot the key,
    * so a df=10⁹ boilerplate shingle cannot OOM the aggregate the way
    * collect_list would); lists that stayed ≤ maxDocFreq are COMPLETE by
    * construction and the df cap is exact. Per-doc sizes and the per-pair
    * intersection counts both derive from the (vocab-bounded) postings
    * frame — no second corpus pass, no self-join: pairs stream out of a
    * double explode with an a < b filter.
    *
    * vs the previous shape (df-count aggregate + join back + self-join):
    * corpus traversals 2 → 1, full-data exchanges 2 → 1 (only the
    * postings groupBy shuffles corpus-sized data; sizes/pairs shuffle
    * vocab- and output-bounded rows). The Σ df² pair-emit cost and the
    * cap semantics are unchanged: Jaccard is computed over the surviving
    * shingles on both sides of the ratio, so the metric stays internally
    * consistent under the cap.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Int = 1000): DataFrame = {
    // postings per shingle; only complete (≤ cap) lists survive.
    // persisted: feeds per-doc sizes and the pair expansion; vocab × ≤cap
    // ids — orders of magnitude under the exploded corpus form
    val ok = shingles(df, idCol, textCol, shingleSize).groupBy("shingle")
      .agg(org.apache.spark.sql.GraftShim.column(
        graft.functions.CollectUpToF(
          org.apache.spark.sql.GraftShim.expression(col("doc")), maxDocFreq)
          .toAggregateExpression()).as("docs"))
      .filter(size(col("docs")) <= maxDocFreq)
      .select("docs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = ok.select(explode(col("docs")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val inter = ok.select(col("docs"), explode(col("docs")).as("doc_a"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "size_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    materializeAndRelease(scored, ok)
  }

  /** TF-IDF weighted cosine near-dup pairs — the frequency-aware sibling of
    * [[ngramJaccardPairs]]: two documents that share RARE vocabulary score
    * high even when their common-word overlap is thin, and boilerplate
    * overlap (stopwords, template words) is discounted by the idf weight
    * instead of a hard doc-frequency cut. The standard second opinion next
    * to set-Jaccard in near-dup review queues.
    *
    * Weights are INTEGERS by construction — w = tf · round(ln(N/df)·10⁶) —
    * so every dot product and norm is an exact scale-0 decimal sum,
    * order-independent and bit-identical across engines (the q_tfidf oracle
    * replays the formula in DuckDB; only the final cosine division is
    * row-local double math). The doc-frequency cap bounds the self-join
    * (Σ df² cost) and is DUAL: df ≤ min(maxDocFreqRatio·N, maxDocFreqAbs).
    * The relative term names the linguistic phenomenon ("drop terms in
    * > 20% of documents") at every corpus size without starving small
    * ones; the absolute term is the scale guard the relative cap alone
    * lacks — in a MULTI-DOMAIN corpus (languages, sources, crawls), each
    * domain's template vocabulary has df ∝ domain size, not corpus size,
    * so growing N keeps re-admitting per-domain stopwords under a purely
    * relative cap and Σ df² explodes quadratically in domain size
    * (measured: the round-6 sf1 probe's vocabulary-fragmented decade-up
    * ran > 300× sf0.1 before the absolute cap, ~linear after). idf
    * handles the soft end of the spectrum below the caps.
    *
    * Scale shape: tf is ROW-LOCAL (codegen'd [[graft.functions.TermFreqF]],
    * r17 — a doc's term frequencies are a pure function of the doc, so the
    * former (doc, term)-keyed aggregate exchange was structural overhead);
    * df/idf derive from the tf table (vocab-bounded, NOT a second
    * corpus pass); terms ride as xxhash64 ids (equality-only downstream, 8
    * bytes through every shuffle — the round-4 ngram lesson); the pair join
    * is the same inverted-index shape as [[ngramJaccardPairs]] with the
    * same release discipline.
    */
  def tfidfCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      maxDocFreqRatio: Double = 0.2,
      maxDocFreqAbs: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // N rides the plan as a 1-row broadcast aggregate (the importanceScore
    // totals pattern) — no driver-side count() action, no corpus pass
    // before the pipeline runs; the oracle replays COUNT(*) identically
    val totals = df.agg(count(lit(1)).as("n_docs"))
    // tf is ROW-LOCAL (r17, codegen'd [[graft.functions.TermFreqF]]): the
    // old explode(tokens) → groupBy(doc, term_h).count() paid a full
    // corpus-sized exchange on (doc, term_h) — but a document's term
    // frequencies are a pure function of that document, so the aggregate
    // was structural overhead (the MinHashSigF move). Plan: 2 full-data
    // exchanges before `w` → 1 (only the join-with-idf shuffle remains).
    val tf = spreadForCompute(df)
      .select(col(idCol).as("doc"),
        explode(org.apache.spark.sql.GraftShim.column(graft.functions.TermFreqF(
          org.apache.spark.sql.GraftShim.expression(tokens(col(textCol)))))).as("e"))
      .select(col("doc"), col("e.term_h").as("term_h"), col("e.tf").as("tf"))
    val dec = DecimalType(38, 0)
    // the collect cap is the absolute df cap clamped to the aggregate's
    // range (~2³⁰ entries): a term past the clamp drops where an exact df
    // count would keep it, but no input that could finish that term's
    // Σ df² pair expansion reaches it (the simhashPairs argument)
    val absCap = math.max(1L, math.min(maxDocFreqAbs, (Int.MaxValue / 2) - 2L))
    val effCap = greatest(lit(1L),
      least(ceil(lit(maxDocFreqRatio) * col("n_docs")), lit(absCap)))
    // POSTINGS (r17, the ngramJaccardPairs design): ONE corpus exchange
    // gathers each term's (doc, tf) postings with hard-capped state
    // ([[graft.functions.CollectPairsUpToF]], ≤ absCap+1 entries/term); a
    // list that stayed ≤ the cap is COMPLETE, so df = size(postings) and
    // the dual relative+absolute cap applies exactly. idf attaches
    // ROW-LOCALLY (df is the list size; N rides as the broadcast totals),
    // norms explode the postings, and dots stream out of a double explode
    // — no idf join and no w self-join (both corpus-sized exchanges), and
    // the pinned frame is vocab × ≤cap entries. Same df filter, same idf6
    // rounding, w = tf·idf6 in long, decimal dot/norm sums.
    val posted = tf.groupBy("term_h")
      .agg(org.apache.spark.sql.GraftShim.column(
        graft.functions.CollectPairsUpToF(
          org.apache.spark.sql.GraftShim.expression(col("doc")),
          org.apache.spark.sql.GraftShim.expression(col("tf")),
          absCap.toInt).toAggregateExpression()).as("ps"))
      .crossJoin(broadcast(totals))
      .filter(size(col("ps")).cast("long") <= effCap)
      .select(col("ps"),
        round(log(col("n_docs").cast("double") / size(col("ps"))) * 1e6)
          .cast("long").as("idf6"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = posted
      .select(explode(col("ps")).as("e"), col("idf6"))
      .select(col("e.k").as("doc"), (col("e.v") * col("idf6")).as("w"))
      .groupBy("doc").agg(sum(col("w").cast(dec) * col("w")).as("n2"))
    val dots = posted
      .select(col("ps"), col("idf6"), explode(col("ps")).as("a"))
      .select(col("a"), col("idf6"), explode(col("ps")).as("b"))
      .filter(col("a.k") < col("b.k"))
      .groupBy(col("a.k").as("doc_a"), col("b.k").as("doc_b"))
      .agg(sum((col("a.v") * col("idf6")).cast(dec) *
        (col("b.v") * col("idf6"))).as("dot"))
    val scored = dots
      .join(norms.select(col("doc").as("doc_a"), col("n2").as("n2_a")), "doc_a")
      .join(norms.select(col("doc").as("doc_b"), col("n2").as("n2_b")), "doc_b")
      .withColumn("cosine", col("dot").cast("double") /
        sqrt(col("n2_a").cast("double") * col("n2_b").cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
    materializeAndRelease(scored, posted)
  }

  /** C4-style corpus-level LINE dedup: a line (or sentence) that appears in
    * more than one document keeps exactly ONE occurrence — the first by
    * (doc, position) order — and every other occurrence is dropped. This is
    * the classic boilerplate killer (nav bars, cookie banners, license
    * headers repeat verbatim across millions of pages).
    *
    * Returns per-doc stats: (doc, n_lines, n_kept). `n_lines − n_kept` is
    * the number of lines this doc loses to cross-corpus duplication.
    *
    * Scale: explode to (line-hash, doc, pos) triples — one shuffle keyed
    * on the 128-bit line hash with map-side partials, then an equi-join of
    * the triples against the per-hash minimum. No text moves after the
    * hash projection; cost is O(total lines), never pairwise. The
    * keep-first rule is a lexicographic min over the (doc, position)
    * struct — NOT a packed `doc·K + pos` ordinal, which would collide
    * across docs once a document exceeds K lines (million-line
    * concatenated files exist in real corpora) — so reruns and engines
    * agree on which occurrence survives at any doc size.
    */
  def lineDedupStats(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = spreadForCompute(df).select(
        col(idCol).as("doc"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .select(col("doc"), col("pos"), md5(trim(col("line"))).as("lh"))
    val firsts = lines.groupBy("lh")
      .agg(min(struct(col("doc"), col("pos"))).as("first"))
    lines.join(firsts, "lh")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("doc") === col("first.doc") && col("pos") === col("first.pos"),
          1L).otherwise(0L)).as("n_kept"))
  }

  /** Exact-substring duplication stats (the "dedupe exact substrings ≥ L
    * tokens" signal from suffix-array corpus dedup, re-expressed with
    * rolling grams): for every document, how many of its tokens are
    * covered by some L-token substring that occurs MORE THAN ONCE in the
    * corpus (cross-doc or repeated within a doc).
    *
    * Returns (doc, n_tokens, dup_tokens, dup_fraction) for every doc.
    *
    * Mechanics: explode every position's L-token gram → (doc, pos,
    * md5(gram)); grams occurring > 1 time form the duplicated set; a
    * LEFT SEMI join keeps each doc's duplicated positions (no row
    * expansion — hot grams can't blow the join up); covered tokens =
    * union of the [pos, pos+L) intervals, computed with one lead()
    * window per doc: min(next−pos, L), last interval counts L.
    *
    * Scale: gram explode is row-local and scan-fused; then one
    * partial-aggregated shuffle on the gram hash, one semi-join keyed the
    * same way, one per-doc window. Everything is linear in total tokens;
    * there is no pairwise term at all (the classic suffix-array approach
    * needs a global sort — this trades exact maximal-match boundaries for
    * gram granularity and keeps the shuffle shapes Spark is good at).
    *
    * The gram explode is deliberately traversed twice (once under the
    * count, once under the semi-join) rather than persisted: the exploded
    * form is ~L× the corpus text — at 100 TB caching it would evict
    * everything else, while re-deriving it is a scan-fused projection.
    */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      L: Int = 5): DataFrame = {
    val toks = tokens(col(textCol))
    val base = spreadForCompute(df).select(
      col(idCol).as("doc"), toks.as("toks"))
    // positional md5 grams are codegen'd (r17, [[graft.functions.GramMd5F]]:
    // same windows, same md5 hex, empty array below L tokens — the
    // interpreted transform/slice/concat_ws/md5 chain was the hotspot)
    val grams = base.select(col("doc"), size(col("toks")).as("n_tokens"),
        posexplode(org.apache.spark.sql.GraftShim.column(graft.functions.GramMd5F(
          org.apache.spark.sql.GraftShim.expression(col("toks")), L)))
          .as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy("gh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("gh")
    val dupPos = grams.join(dupGrams, Seq("gh"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
    val covered = dupPos
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .withColumn("cov",
        when(col("nxt").isNotNull, least(col("nxt") - col("pos"), lit(L)))
          .otherwise(lit(L)))
      .groupBy(col("doc")).agg(sum(col("cov")).as("dup_tokens"))
    base.select(col("doc"), size(col("toks")).as("n_tokens"))
      .join(covered, Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double")).as("dup_fraction"))
  }

  /** Exact-substring span REMOVAL — the rewrite face of
    * [[duplicatedSpanStats]] (the "deduplicating training data" recipe of
    * excising every ≥L-token span that occurs more than once in the
    * corpus, rather than dropping whole documents): tokens covered by any
    * corpus-duplicated L-gram are cut and the remaining tokens are
    * rejoined. Returns (doc, n_tokens, kept_tokens, clean_text); the
    * rewritten text is in the shared tokenizer's normal form (lowercased,
    * single-spaced) — span removal operates on token streams, not raw
    * bytes, exactly like the stats op it mirrors.
    *
    * Scale shape: same as the stats op — one scan-fused gram explode, one
    * map-side-combined gram count (bounded by distinct grams), a semi-join
    * back, then ONE per-doc shuffle that collects each doc's duplicated
    * start positions (≤ n_tokens, typically far fewer) into an array; the cut
    * itself is a row-local higher-order filter over (token, index) against
    * that sorted array, fused into the final projection. Nothing quadratic;
    * the only per-doc state is the dup-start array.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      L: Int = 5): DataFrame = {
    val toks = tokens(col(textCol))
    val base = spreadForCompute(df).select(col(idCol).as("doc"), toks.as("toks"))
    val grams = base.select(col("doc"),
        posexplode(org.apache.spark.sql.GraftShim.column(graft.functions.GramMd5F(
          org.apache.spark.sql.GraftShim.expression(col("toks")), L)))
          .as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy("gh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("gh")
    val dupStarts = grams.join(dupGrams, Seq("gh"), "left_semi")
      .groupBy("doc").agg(sort_array(collect_list(col("pos"))).as("starts"))
    base.join(dupStarts, Seq("doc"), "left")
      .select(col("doc"), col("toks"),
        coalesce(col("starts"), typedLit(Array.empty[Int])).as("starts"))
      .select(col("doc"),
        size(col("toks")).as("n_tokens"),
        filter(col("toks"), (_, i) =>
          !exists(col("starts"), s => s <= i && i < s + L)).as("kept"))
      .select(col("doc"), col("n_tokens"), size(col("kept")).as("kept_tokens"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** SimHash: 64-bit locality-sensitive fingerprint. Tokens are hashed to
    * 64 bits; each bit position accumulates +w/−w across tokens; the sign
    * pattern is the fingerprint. Near-dups differ in few bits (small
    * Hamming distance).
    *
    * Per-doc 64-bit SimHash fingerprints: (doc, simhash). Computed
    * ROW-LOCALLY by the codegen'd [[graft.functions.SimHashF]]
    * expression: the fingerprint is a pure function of one document's
    * tokens, so the previous explode → groupBy(doc).agg(UDAF)
    * formulation paid a structural (doc, token-hash) shuffle plus a
    * 256 B/doc partial-merge aggregate shuffle for nothing — this pays
    * none (the [[minhashSignatures]] move, r7). Output is value-identical
    * (same xxhash64 seed-42 token hashing, same ±1 vote/sign rule,
    * tokenless docs drop like the exploded shape dropped them).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc"),
        org.apache.spark.sql.GraftShim.column(graft.functions.SimHashF(
          org.apache.spark.sql.GraftShim.expression(col("toks")))).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming` bits, using 4-way band
    * blocking (two near-dup fingerprints within 3 bits must agree on at
    * least one of four 16-bit quarters) — turns pairing into a groupBy join,
    * never all-pairs.
    *
    * With `verify = true` the hamming-blocked candidates are joined back
    * to per-doc shingle sets and scored with TRUE n-gram Jaccard; only
    * pairs at `minJaccard` or above survive (output gains a `jaccard`
    * column). This turns simhash from a candidate GENERATOR into a dedup
    * PRIMITIVE: 64-bit fingerprints at hamming≤3 accumulate background
    * collisions as the corpus grows, and production pipelines always
    * chain this check. Scale: the verify join is bounded by the CANDIDATE
    * count (already capped by the quarter-blocking), not the corpus — the
    * small candidate side broadcasts (enforced `broadcast()` hints, not an
    * AQE runtime choice), so the corpus-side shingle scan joins without a
    * corpus shuffle, and shingle arrays ship only for docs that appear in
    * some candidate pair.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      verify: Boolean = false, shingleSize: Int = 3, minJaccard: Double = 0.7): DataFrame = {
    val fp = simhash(df, idCol, textCol)
    val quarters = (0 until 4).map(q =>
      shiftrightunsigned(col("simhash"), q * 16).bitwiseAND(lit(0xFFFFL)))
    val banded = fp.select(col("doc"), col("simhash"), posexplode(array(quarters: _*)))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "qval")
    // r18 (VERDICT r17 #3): the quarter-band SELF-JOIN — the last
    // join-shaped candidate generator — became the postings form the
    // other three generators use: one groupBy (q, qval) gathers each
    // bucket's (doc, simhash) entries ([[graft.functions.CollectPairsUpToF]])
    // and candidate pairs stream out of a double explode, so the banded
    // frame crosses ONE exchange instead of two join-side exchanges plus
    // the join itself. Unlike the LSH/df-capped generators there is no
    // semantic bucket cap here, so the collect cap is set to the aggregate's
    // maximum (~2³⁰ entries) — unreachable by any input that could finish
    // the Σ bucket² pair expansion anyway, so results equal the join
    // shape's. The hamming gate runs BEFORE the pair dropDuplicates:
    // hamming is a pure function of the pair, so the dedup exchange
    // carries only hamming-surviving pairs (order-of-operations per
    // cosineDupPairs' filter-then-dedupe lesson).
    val cand = banded.groupBy(col("q"), col("qval"))
      .agg(org.apache.spark.sql.GraftShim.column(
        graft.functions.CollectPairsUpToF(
          org.apache.spark.sql.GraftShim.expression(col("doc")),
          org.apache.spark.sql.GraftShim.expression(col("simhash")),
          (Int.MaxValue / 2) - 2).toAggregateExpression()).as("ps"))
      .select(col("ps"), explode(col("ps")).as("a"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a.k") < col("b.k"))
      .select(col("a.k").as("doc_a"), col("b.k").as("doc_b"),
        col("a.v").as("h_a"), col("b.v").as("h_b"))
    val blocked = cand.withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "hamming")
    if (!verify) blocked
    else {
      // per-doc 64-bit shingle-hash sets (same hashing as [[shingles]], so
      // this Jaccard is definitionally the one ngramJaccardPairs computes)
      val sets = shingleArrays(df, idCol, textCol, shingleSize).select(
        col("doc"), transform(col("shingle_list"), s => xxhash64(s)).as("sh"))
      // ENFORCED no-corpus-shuffle shape (not AQE-dependent): the corpus
      // shingle scan is filtered to candidate docs by a BROADCAST semi-join
      // on the (ids-only, candidate-bounded) doc set — the corpus streams
      // through one stage and never shuffles — and the surviving
      // (doc, shingles) rows, bounded by distinct candidate docs, are
      // materialized once and broadcast to BOTH verify joins.
      val blockedP = blocked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candDocs = blockedP.select(col("doc_a").as("doc"))
        .union(blockedP.select(col("doc_b").as("doc"))).distinct()
      val needed = sets.join(broadcast(candDocs), Seq("doc"), "left_semi")
        .localCheckpoint(true)
      val scored = blockedP
        .join(broadcast(needed.select(col("doc").as("doc_a"), col("sh").as("sh_a"))), "doc_a")
        .join(broadcast(needed.select(col("doc").as("doc_b"), col("sh").as("sh_b"))), "doc_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("hamming"), col("jaccard"))
      materializeAndRelease(scored, blockedP)
    }
  }

  /** Streaming exact dedup: keep the first occurrence of each key within
    * the watermark horizon (state expires with the event-time watermark —
    * bounded state, the streaming analogue of [[exact]]).
    */
  def streamingExact(df: DataFrame, tsCol: String, delay: String, keyCols: String*): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Corpus SNAPSHOT DIFF — the audit between two curation runs: which
    * documents were added, removed, or changed content between `oldDf`
    * and `newDf`. Incremental pipelines publish this next to the data
    * card (what did this re-crawl/refilter actually do?); it is also the
    * cheap precondition check before incremental dedup ("nothing
    * changed → skip the run").
    *
    * One full-outer shuffle join on the id, comparing 16-byte content
    * hashes — text never crosses the shuffle. Returns every id with
    * status ∈ {added, removed, changed, unchanged}. Presence is carried
    * by explicit side markers (NOT hash nullity), so a document with
    * NULL text still classifies by id presence — null-vs-null text is
    * `unchanged`, null-vs-text is `changed` (null-safe hash compare).
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("old_hash"),
      lit(true).as("in_old"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("new_hash"),
      lit(true).as("in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("old_hash") <=> col("new_hash")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Lowercased whitespace tokens with empties removed — the shared
    * tokenizer for all text operators (kept trivially SQL-portable so
    * DuckDB oracles can reproduce it).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")
}
