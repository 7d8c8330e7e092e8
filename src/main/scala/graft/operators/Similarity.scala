package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two tiers:
  *   - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast
  *     (queries ≪ corpus always holds in retrieval), so the corpus streams
  *     through one codegen'd stage — no shuffle of the 100 TB side; the only
  *     shuffle is the final per-query top-k reduction, which is bounded by
  *     |queries| × k.
  *   - [[lshTopK]]: random-hyperplane LSH. Corpus and queries are bucketed
  *     by an L-bit sign signature; search touches only colliding buckets.
  *     Hyperplanes are derived deterministically from hash seeds so the
  *     index is reproducible and needs no stored model.
  */
object Similarity {

  /** (group, id, score, rank) rows of the k best ids per group — the r18
    * aggregate replacement for `row_number().over(partitionBy(group)
    * .orderBy(score desc, id)) <= k` on corpus-sized inputs: the window
    * form locally SORTS every candidate row (even under WindowGroupLimit's
    * partial top-k — 34 of q_ann_pq's ADC-stage executor-seconds at sf1
    * were this sort), where the aggregate keeps an O(k) heap per group
    * with map-side partials. One plan for every id type; the top-k
    * semantics are [[graft.functions.TopKByF]]'s.
    */
  private def topKAgg(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(org.apache.spark.sql.GraftShim.column(
        graft.functions.TopKByF(
          org.apache.spark.sql.GraftShim.expression(col(scoreCol)),
          org.apache.spark.sql.GraftShim.expression(col(idCol)), k)
          .toAggregateExpression()).as("__topk"))
      .select(col(groupCol), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(groupCol), col("__e.id").as(idCol),
        col("__e.score").as(scoreCol), (col("__pos") + 1).cast("int").as("rank"))

  /** Force a hoisted per-row column (norms, PQ codes) to actually evaluate
    * once per row on the STREAM side of a broadcast join — codegen
    * otherwise defers it into the per-build-row loop and re-evaluates it
    * once per PAIR ([[graft.functions.EvalOnceF]] scaladoc; measured: the
    * entire pqEncode ran per candidate pair in q_ann_pq's ADC scan).
    */
  private def evalOnce(c: Column): Column =
    org.apache.spark.sql.GraftShim.column(graft.functions.EvalOnceF(
      org.apache.spark.sql.GraftShim.expression(c)))

  /** Exact top-k by cosine similarity for each query vector.
    * Output: (query_id, vec_id, sim, rank), rank 1..k per query.
    * Top-k semantics, the same for every id type: rows with a null id are
    * skipped, a null score ranks after every non-null score, -0.0 ties
    * with 0.0, and ties break on the id ascending under the id type's SQL
    * ordering ([[graft.functions.TopKByF]]).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "query_vec"): DataFrame = {
    // r18: norms hoisted to per-row columns — the corpus×queries scoring
    // loop pays ONE dot per pair instead of three (cosinePre scaladoc;
    // bit-identical values)
    val scored = corpus.withColumn("__cn", evalOnce(VectorOps.normF(col(vecCol))))
      .crossJoin(broadcast(
        queries.withColumn("__qn", VectorOps.normF(col(queryVecCol)))))
      .withColumn("sim", VectorOps.cosinePre(col(vecCol), col(queryVecCol),
        col("__cn"), col("__qn")))
    topKAgg(scored, queryIdCol, "sim", idCol, k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 → uniform in [-1, 1). Good enough for sign-LSH; no stored
    * index, fully reproducible.
    */
  /** L-bit sign signature of a vector under `nPlanes` deterministic random
    * hyperplanes. Same expression applied to corpus and queries. Native
    * codegen'd expression ([[graft.functions.SignLshF]]) — the previous
    * aggregate(zip_with(transform(...))) version allocated nPlanes × dim
    * arrays per row.
    */
  def lshSignature(vec: org.apache.spark.sql.Column, nPlanes: Int,
      planeOffset: Int = 0): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.SignLshF(
        org.apache.spark.sql.GraftShim.expression(vec), nPlanes, planeOffset))

  /** Approximate top-k: candidates limited to vectors sharing the query's
    * LSH bucket (exact cosine re-rank inside the bucket), with standard
    * MULTI-TABLE banding: `nTables` independent hyperplane families, a
    * pair is a candidate if it collides in ANY table — recall compounds
    * as 1-(1-p)^T while each table's join still touches only ~1/2^nPlanes
    * of the corpus. Candidates are deduped before the (exact) re-rank so
    * multi-table collisions rank once. Output schema matches
    * [[bruteForceTopK]].
    *
    * `multiProbe = true` additionally probes, per table, every bucket at
    * HAMMING DISTANCE 1 from the query's signature (flip one of the
    * nPlanes sign bits) — the classic multi-probe LSH recall lever: a
    * near neighbor that fell on the far side of exactly one hyperplane
    * is recovered without any extra table. Cost lands ENTIRELY on the
    * tiny broadcast query side (×(nPlanes+1) probe rows and a
    * proportionally larger candidate set); the corpus is still bucketed
    * once, never re-scanned or re-shuffled — which is what makes this
    * the preferred recall dial at 100 TB (an extra TABLE would re-hash
    * and re-explode the corpus instead).
    *
    * Top-k semantics, the same for every id type: rows with a null id are
    * skipped, a null score ranks after every non-null score, -0.0 ties
    * with 0.0, and ties break on the id ascending under the id type's SQL
    * ordering ([[graft.functions.TopKByF]]).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 8,
      nTables: Int = 1, multiProbe: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "query_vec"): DataFrame = {
    def buckets(vec: Column) =
      array((0 until nTables).map(t => lshSignature(vec, nPlanes, t * nPlanes)): _*)
    // r18: norms hoisted BEFORE the bucket explode/join (one normF per row,
    // not per candidate pair — cosinePre scaladoc; bit-identical values)
    val cb = corpus.select(col(idCol), col(vecCol),
      evalOnce(VectorOps.normF(col(vecCol))).as("__cn"),
      posexplode(buckets(col(vecCol))).as(Seq("tbl", "bucket")))
    val qb0 = queries.select(col(queryIdCol), col(queryVecCol),
      VectorOps.normF(col(queryVecCol)).as("__qn"),
      posexplode(buckets(col(queryVecCol))).as(Seq("tbl", "bucket")))
    val qb =
      if (!multiProbe) qb0
      else qb0.select(col(queryIdCol), col(queryVecCol), col("__qn"), col("tbl"),
        explode(array(col("bucket") +:
          (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*))
          .as("bucket"))
    // r18 (guide §2.3 / the cosineDupPairs order-of-operations lesson):
    // score INSIDE the join stage and dedup the slim (query, id, sim)
    // triple — previously both raw vectors rode the candidate
    // dropDuplicates exchange (measured 579 MB / 1.9 M rows at sf1, ~305 B
    // per row; now 24 B per row). A pair collides at most nTables×(probes)
    // times and sim is a pure function of the pair, so re-scoring the few
    // duplicate collisions is far cheaper than shuffling the payload, and
    // dedup-then-score vs score-then-dedup is value-identical.
    val scored = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .select(col(queryIdCol), col(idCol),
        VectorOps.cosinePre(col(vecCol), col(queryVecCol),
          col("__cn"), col("__qn")).as("sim"))
      .dropDuplicates(queryIdCol, idCol)
    topKAgg(scored, queryIdCol, "sim", idCol, k)
  }

  /** Row-local PQ encode: vector → M nearest-codeword indices
    * ([[graft.functions.PqEncodeF]], codegen'd).
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.PqEncodeF(
        org.apache.spark.sql.GraftShim.expression(vec), codebooks))

  /** Row-local ADC cosine: (codes, exact query vector) → approximate
    * cosine ([[graft.functions.PqCosineF]], codegen'd).
    */
  def pqCosine(codes: Column, queryVec: Column,
      codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.PqCosineF(
        org.apache.spark.sql.GraftShim.expression(codes),
        org.apache.spark.sql.GraftShim.expression(queryVec), codebooks))

  /** Per-query ADC lookup table ([[graft.functions.PqLutF]], r18): computed
    * ONCE per query row on the broadcast side, so the corpus-sized ADC scan
    * pays M table lookups per row instead of a full-dimension
    * reconstruction dot (see PqLutF scaladoc).
    */
  def pqLut(queryVec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.PqLutF(
        org.apache.spark.sql.GraftShim.expression(queryVec), codebooks))

  /** ADC cosine from a precomputed [[pqLut]] table
    * ([[graft.functions.PqCosineLutF]], codegen'd).
    */
  def pqCosineLut(codes: Column, lut: Column,
      codebooks: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.PqCosineLutF(
        org.apache.spark.sql.GraftShim.expression(codes),
        org.apache.spark.sql.GraftShim.expression(lut), codebooks))

  /** Train per-subspace PQ codebooks on a bounded, deterministic sample:
    * `sampleSize` hash-spread corpus vectors ([[seedCentroids]]' pooled
    * sampling — no ordered-corpus prefix bias), split into `nSubspaces`
    * contiguous slices, then driver-local Lloyd iterations per subspace
    * (the sample is ≤ sampleSize × dim floats — k-means on it is
    * microseconds, so spending `sweeps` = 10 driver-side costs nothing
    * at any corpus scale). Codewords init evenly through the hash-ordered
    * sample; empty clusters keep their previous codeword, ties break to
    * the lowest index — fully deterministic, no stored model.
    *
    * Requires dim % nSubspaces == 0 (standard PQ constraint).
    */
  /** Auto subspace count for PQ at a given dimension: the smallest
    * divisor of `dim` giving subvectors ≤ ~16 floats, floored at 16
    * subspaces. Fixed 16 subspaces quantize 48-float subvectors at dim
    * 768 (tolerable on low-intrinsic-dim data) but 192-float subvectors
    * at dim 3072 — measured recall@10 collapse 1.000 → 0.246
    * (WideDimProbe, SCALE.md r8). The r9 NATIVE high-intrinsic-dim probe
    * (NativeDimProbe: full-rank Gaussian clusters, planted near-dups at
    * cosine ≈ 0.97 vs siblings ≈ 0.8) moved the floor again: 48-float
    * subvectors recall only 0.788 (dim 768) / 0.940 (dim 3072), while
    * ≤16-float subvectors restore ≥ 0.995 at both — so the target is 16
    * floats. Codes stay 16-64× smaller than raw vectors and ADC stays
    * ≥16× cheaper than exact dot products. dim 64 → 16 subspaces
    * (4-float subvectors — unchanged behavior for every committed
    * number); 768 → 48; 3072 → 192.
    */
  private[operators] def autoSubspaces(dim: Int): Int = {
    val target = math.max(16, (dim + 15) / 16)
    (target to dim).find(dim % _ == 0).getOrElse(dim)
  }

  def trainPqCodebooks(corpus: DataFrame, nSubspaces: Int, nCodes: Int,
      sampleSize: Int = 256, sweeps: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Float]]] =
    trainPqCodebooksFromSample(
      seedCentroids(corpus, sampleSize, idCol, vecCol), nSubspaces, nCodes, sweeps)

  /** Driver-local Lloyd training over an already-fetched sample — split out
    * (r18) so [[ivfPqTopK]]/[[buildIvfPqIndex]] can feed it from the shared
    * [[seedPools]] scan instead of re-scanning the corpus. Identical math.
    */
  private[operators] def trainPqCodebooksFromSample(sample: Array[Array[Float]],
      nSubspaces: Int, nCodes: Int, sweeps: Int = 10): Array[Array[Array[Float]]] = {
    require(sample.nonEmpty, "pq training: empty corpus")
    val dim = sample.head.length
    // nSubspaces <= 0 = auto ([[autoSubspaces]]): scale with dimension so
    // subvectors stay ≤ ~48 floats — ADC precision collapses otherwise
    val nSub = if (nSubspaces > 0) nSubspaces else autoSubspaces(dim)
    require(dim % nSub == 0,
      s"pq training: dim $dim not divisible by nSubspaces $nSub")
    val dsub = dim / nSub
    Array.tabulate(nSub) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val k = math.min(nCodes, sub.length)
      var words = Array.tabulate(k)(i => sub(i.toLong.toInt * sub.length / k).clone())
      for (_ <- 0 until sweeps) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val cnts = new Array[Int](k)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < dsub) { val t = v(i) - words(c)(i); d += t.toDouble * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          cnts(best) += 1
        }
        words = Array.tabulate(k) { c =>
          if (cnts(c) == 0) words(c)
          else Array.tabulate(dsub)(i => (sums(c)(i) / cnts(c)).toFloat)
        }
      }
      words
    }
  }

  /** PQ ANN: encode the corpus once as `nSubspaces` codebook indices
    * (e.g. 64 floats / 256 B → 8 ints, the FAISS IVFADC compression trick),
    * scan the COMPRESSED index with ADC cosine per query, then exactly
    * re-rank the top `rerank` ADC candidates from the raw vectors.
    *
    * Scale shape: the full-corpus scan touches only the ~32×-smaller code
    * column (at 100 TB of vectors that is the difference between scanning
    * 3 TB and 100 TB per query batch); queries broadcast both times; the
    * exact re-rank join ships ≤ |queries| × rerank (id, query) pairs as a
    * broadcast against the corpus, so raw vectors are fetched for
    * candidates only and the corpus never shuffles. Codebook training is
    * a bounded driver-side sample ([[trainPqCodebooks]]).
    *
    * Output schema matches [[bruteForceTopK]]: (query_id, vec_id, sim,
    * rank) with exact cosine sims after re-rank.
    *
    * Top-k semantics (the ADC candidate cut and the final cut), the same
    * for every id type: rows with a null id are skipped, a null score
    * ranks after every non-null score, -0.0 ties with 0.0, and ties break
    * on the id ascending under the id type's SQL ordering
    * ([[graft.functions.TopKByF]]).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nSubspaces: Int = 0, nCodes: Int = 16, rerank: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "query_vec"): DataFrame = {
    val cb = trainPqCodebooks(corpus, nSubspaces, nCodes, idCol = idCol, vecCol = vecCol)
    val encoded = corpus.select(col(idCol),
      evalOnce(pqEncode(col(vecCol), cb)).as("pq_codes"))
    val r = math.max(k, rerank)
    // the ADC rank shuffle carries (query_id, id, sim_adc) ONLY — the
    // query vector is re-attached to the ≤ queries×rerank survivors by a
    // broadcast join instead of riding every corpus×queries row through
    // the window exchange (~dim×4 B/row × |corpus|×|queries| saved, r7).
    // r18: the broadcast side carries the per-query ADC TABLE instead of
    // the raw query vector, so the corpus×queries scan is M lookups/row
    // (PqLutF scaladoc) — the scan was paying exact-cosine flops before.
    // r18: the corpus×queries ADC rank runs as a bounded-heap AGGREGATE
    // (topKAgg scaladoc) — the window form locally sorted every candidate
    // row; the rerank top-k follows the same form
    val adc = encoded.crossJoin(broadcast(queries.select(col(queryIdCol),
        pqLut(col(queryVecCol), cb).as("__lut"))))
      .withColumn("sim_adc", pqCosineLut(col("pq_codes"), col("__lut"), cb))
      .select(col(queryIdCol), col(idCol), col("sim_adc"))
    val cand = topKAgg(adc, queryIdCol, "sim_adc", idCol, r)
      .select(col(queryIdCol), col(idCol))
    val reranked = corpus.join(broadcast(cand), idCol)
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))), queryIdCol)
      .withColumn("sim", VectorOps.cosineF(col(vecCol), col(queryVecCol)))
    topKAgg(reranked, queryIdCol, "sim", idCol, k)
  }

  /** IVF + PQ composed — the billion-vector architecture proper (FAISS
    * "IVFADC" family): the corpus is partitioned into `nCentroids` cells
    * AND encoded to PQ codes, so a query (a) prunes to its `nProbe`
    * nearest cells like [[ivfTopK]] and (b) scans only those cells'
    * COMPRESSED codes like [[pqTopK]], then exactly re-ranks the top
    * `rerank` ADC candidates from raw vectors. At 100 TB of vectors the
    * two factors multiply: nProbe/nCentroids of the corpus × ~16× smaller
    * rows ⇒ the per-query scan touches ~0.8% of the bytes a brute-force
    * pass reads (at the defaults), before the exact re-rank restores
    * ranking quality on the survivors.
    *
    * This quantizes RAW vectors, not per-cell residuals: with cosine
    * scoring a single global codebook keeps ADC one broadcast lookup
    * table (residual PQ is an L2-centric refinement that needs per-cell
    * query tables and a reconstructed-norm correction; the exact re-rank
    * recovers most of the residual trick's precision here).
    *
    * Output schema matches [[bruteForceTopK]]: (query_id, vec_id, sim,
    * rank) with exact cosine sims after re-rank.
    *
    * Top-k semantics (the ADC candidate cut and the final cut), the same
    * for every id type: rows with a null id are skipped, a null score
    * ranks after every non-null score, -0.0 ties with 0.0, and ties break
    * on the id ascending under the id type's SQL ordering
    * ([[graft.functions.TopKByF]]).
    */
  /* Sizing at corpus scale (FAISS guidance, applies to every IVF-family
   * op here): nCentroids ≈ √N to N/1000 keeps the per-query scan
   * (nProbe/nCentroids × N) flat-ish as N grows — the probe-set cost is
   * LINEAR in N at fixed cells (not quadratic like semanticDedup's
   * pair term), so the default stays fixed and the dial is the caller's;
   * nSubspaces should grow with dimension so subvectors stay ≤ ~64
   * floats (dim 768 → 16 subspaces of 48 is fine; dim 3072 wants 48-64).
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 64, nProbe: Int = 8,
      nSubspaces: Int = 0, nCodes: Int = 16, rerank: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "query_vec"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // r18: one pooled seeding scan feeds both the centroid seed and the PQ
    // training sample (seedPools scaladoc — value-identical, scans 2 → 1)
    val pools = seedPools(corpus, Seq(nCentroids, 256), idCol, vecCol)
    val centroids = pools(0)
    val cb = trainPqCodebooksFromSample(pools(1), nSubspaces, nCodes)
    // one corpus pass builds the whole index: (id, cell, codes)
    val index = corpus.select(col(idCol),
      nearestCentroid(col(vecCol), centroids).as("cell"),
      evalOnce(pqEncode(col(vecCol), cb)).as("pq_codes"))
    val centroidsDf = broadcast(
      centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cell", "cvec"))
    val pw = Window.partitionBy(col(queryIdCol)).orderBy(col("csim").desc, col("cell"))
    // r18: probes carry the per-query ADC TABLE instead of the raw query
    // vector (PqLutF scaladoc) — the probed-cells scan is M lookups/row
    val probes = queries.crossJoin(centroidsDf)
      .withColumn("csim", VectorOps.cosineF(col(queryVecCol), col("cvec")))
      .withColumn("crn", row_number().over(pw))
      .filter(col("crn") <= nProbe)
      .select(col(queryIdCol), pqLut(col(queryVecCol), cb).as("__lut"), col("cell"))
    val r = math.max(k, rerank)
    // slim ADC rank shuffle (see pqTopK): query vectors re-attach to the
    // survivors via broadcast, never riding the per-candidate exchange.
    // r18: ADC rank + rerank run as bounded-heap aggregates (topKAgg
    // scaladoc).
    val adc = index.join(broadcast(probes), "cell")
      .withColumn("sim_adc", pqCosineLut(col("pq_codes"), col("__lut"), cb))
      .select(col(queryIdCol), col(idCol), col("sim_adc"))
    val cand = topKAgg(adc, queryIdCol, "sim_adc", idCol, r)
      .select(col(queryIdCol), col(idCol))
    val reranked = corpus.join(broadcast(cand), idCol)
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))), queryIdCol)
      .withColumn("sim", VectorOps.cosineF(col(vecCol), col(queryVecCol)))
    topKAgg(reranked, queryIdCol, "sim", idCol, k)
  }

  /** Row-local cell assignment: cosine-argmax over the driver-side centroid
    * matrix, compiled into one projection ([[graft.functions.NearestCentroidF]]).
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]]): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.NearestCentroidF(
        org.apache.spark.sql.GraftShim.expression(vec), centroids))

  /** IVF (inverted-file) ANN: partition the corpus into `nCentroids` cells
    * around sampled centroid vectors; a query probes its `nProbe` nearest
    * cells and reranks exactly inside them — the classic recall/cost dial
    * for billion-vector search. Centroids are hash-sampled corpus rows
    * (deterministic, no stored model), optionally refined by
    * `kmeansSweeps` Lloyd iterations (each sweep = one corpus pass with a
    * map-side-combined per-dimension mean: the shuffle carries only
    * nCentroids × dim partial rows).
    *
    * Scale: cell assignment is a ROW-LOCAL codegen'd argmax — zero shuffle
    * of the corpus (round 2 shuffled corpus × nCentroids rows through a
    * window sort here; fixed per the round-2 review). The search join then
    * touches ~nProbe/nCentroids of the data per query. The only driver
    * materializations are the ≤ nCentroids-row centroid samples/means.
    *
    * Top-k semantics, the same for every id type: rows with a null id are
    * skipped, a null score ranks after every non-null score, -0.0 ties
    * with 0.0, and ties break on the id ascending under the id type's SQL
    * ordering ([[graft.functions.TopKByF]]).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansSweeps: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "query_vec"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var centroidMat: Array[Array[Float]] = seedCentroids(corpus, nCentroids, idCol, vecCol)

    for (_ <- 0 until kmeansSweeps) {
      val means = corpus
        .select(nearestCentroid(col(vecCol), centroidMat).as("cell"),
          posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p("m")).as("cvec"))
        .collect()
      val next = centroidMat.clone() // empty cells keep their old centroid
      means.foreach { r =>
        next(r.getInt(0)) = r.getSeq[Double](1).map(_.toFloat).toArray
      }
      centroidMat = next
    }

    val cells = corpus.withColumn("cell", nearestCentroid(col(vecCol), centroidMat))
      // r18: norm hoisted out of the probe join (cosinePre scaladoc)
      .withColumn("__cn", evalOnce(VectorOps.normF(col(vecCol))))

    // query side is tiny (queries ≪ corpus): rank centroids per query with
    // a window over queries × nCentroids rows
    val centroidsDf = broadcast(
      centroidMat.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
        .toSeq.toDF("cell", "cvec"))
    val pw = Window.partitionBy(col(queryIdCol)).orderBy(col("csim").desc, col("cell"))
    val probes = queries.crossJoin(centroidsDf)
      .withColumn("csim", VectorOps.cosineF(col(queryVecCol), col("cvec")))
      .withColumn("crn", row_number().over(pw))
      .filter(col("crn") <= nProbe)
      .select(col(queryIdCol), col(queryVecCol), col("cell"),
        VectorOps.normF(col(queryVecCol)).as("__qn"))

    val scored = cells.join(broadcast(probes), "cell")
      .withColumn("sim", VectorOps.cosinePre(col(vecCol), col(queryVecCol),
        col("__cn"), col("__qn")))
    // r18: bounded-heap top-k aggregate instead of the window sort
    // (topKAgg scaladoc)
    topKAgg(scored, queryIdCol, "sim", idCol, k)
  }

  /** Centroid seeding shared by [[ivfTopK]] and [[semanticDedup]]: a
    * BOUNDED per-partition take — each task reads at most nCentroids rows,
    * so seeding stays O(seed work per partition) and never full-scans the
    * corpus. Deliberately NOT a LocalLimit prefix: real corpora are ordered
    * (source, crawl date, shard), so a prefix draws every centroid from one
    * pocket of the distribution → unbalanced cells and skewed probe joins
    * at scale. The pooled rows (≤ nCentroids per partition) are
    * hash-ordered for a deterministic, spread-out pick; the top-k merge
    * moves ≤ partitions × nCentroids small rows through one task, a
    * one-off.
    */
  private[graft] def seedCentroids(corpus: DataFrame, nCentroids: Int,
      idCol: String, vecCol: String): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val seedPool = corpus
      .select(col(idCol).cast("string").as("sid"), col(vecCol).as("v"))
      .as[(String, Seq[Float])]
      .mapPartitions(it => it.take(nCentroids))
      .toDF("sid", "v")
    seedPool
      .orderBy(xxhash64(col("sid")), col("sid")).limit(nCentroids)
      .select(col("v"))
      .collect().map(_.getSeq[Float](0).toArray)
  }

  /** Multi-size sibling of [[seedCentroids]] (r18, VERDICT r17 #4):
    * operators that need BOTH a centroid seed and a PQ training sample
    * ([[ivfPqTopK]], [[buildIvfPqIndex]]) paid one bounded corpus scan per
    * seedCentroids call. This takes the per-partition pool ONCE — up to
    * max(ns) rows per partition, each tagged with its within-partition
    * index — localCheckpoints that small frame (≤ partitions × max(ns)
    * rows), and answers every requested size from it with seedCentroids'
    * exact selection: rows with pool index < n, hash-ordered, first n.
    * Value-IDENTICAL per size (`it.take(maxN)` filtered to `idx < n` IS
    * `it.take(n)` over the same deterministic partition order, and the
    * order-by/limit is byte-for-byte the same — SimilaritySpec pins the
    * equality), so centroid/codebook identity — and therefore every
    * declared ANN result — is unchanged. All sizes collect in ONE union
    * job: corpus scans drop from ns.length to 1 and the job count stays 2.
    */
  private[graft] def seedPools(corpus: DataFrame, ns: Seq[Int],
      idCol: String, vecCol: String): Seq[Array[Array[Float]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val maxN = ns.max
    val pool = corpus
      .select(col(idCol).cast("string").as("sid"), col(vecCol).as("v"))
      .as[(String, Seq[Float])]
      .mapPartitions(_.take(maxN).zipWithIndex.map { case ((s, v), i) => (s, v, i) })
      .toDF("sid", "v", "pidx")
      .localCheckpoint(true)
    val tagged = ns.zipWithIndex.map { case (n, i) =>
      pool.filter(col("pidx") < n)
        .orderBy(xxhash64(col("sid")), col("sid")).limit(n)
        .select(lit(i).as("si"), col("v"))
    }.reduce(_ unionAll _)
    val rows = tagged.collect()
    ns.indices.map(i => rows.filter(_.getInt(0) == i).map(_.getSeq[Float](1).toArray))
  }

  /** SemDeDup-style SEMANTIC dedup: cluster the corpus around `nCentroids`
    * sampled centroids (row-local argmax assignment — the same zero-shuffle
    * cell machinery as [[ivfTopK]]), compare vectors ONLY within their
    * cluster, and collapse every connected group of ≥`threshold`-cosine
    * vectors to its minimum id. This is the embedding-space analogue of
    * minhash-LSH dedup for the "different words, same meaning" duplicates
    * that text fingerprints can't see — paraphrased boilerplate, templated
    * rewrites, machine-translated copies.
    *
    * Returns (idCol, keep_as): keep_as == id for survivors; filtering
    * `keep_as =!= id` drops the semantic duplicates. Transitive chains
    * (a≈b, b≈c) collapse to one keeper via the same CC fixpoint
    * [[Dedup.keeperAssignment]] runs for text dedup.
    *
    * Scale: clustering bounds the pairwise term to Σ cell² — size
    * `nCentroids` ≈ corpus / desired-cell-size so cells stay comparable
    * (the published recipe runs ~50k clusters for billions of embeddings).
    * The cosine + threshold run INSIDE the self-join stage and only
    * surviving pairs reach a shuffle ([[cosineDupPairs]]' order-of-
    * operations lesson: filter-then-dedupe, never materialize raw
    * candidates). Cluster assignment never shuffles the corpus; the only
    * driver materialization is the nCentroids-row seed sample.
    *
    * vs [[cosineDupPairs]]: LSH buckets overlap (multi-table, recall
    * compounds) while cells partition the space — cells trade a little
    * boundary recall for a HARD per-cell cost bound and a reusable cluster
    * id column, which is why the published pipelines at corpus scale
    * cluster first.
    *
    * `nCentroids <= 0` (the DEFAULT) auto-scales cells with the corpus:
    * `max(64, N / 512)`. The Σ cell² bound is only a bound if cells grow
    * with N — the r8 sf10 probe measured a FIXED 64 cells going 111× at
    * 10× docs (avg cell 3.1k ⇒ ~100× more in-cell pairs), vs ~linear
    * with cells ∝ N. Callers pinning an explicit nCentroids (the oracle
    * query does, for cross-engine determinism) keep exact behavior.
    */
  def semanticDedup(corpus: DataFrame, threshold: Double, nCentroids: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cellsWanted =
      if (nCentroids > 0) nCentroids
      else math.max(64L, corpus.count() / 512L).toInt
    val centroids = seedCentroids(corpus, cellsWanted, idCol, vecCol)
    // r18: norm hoisted to one column per ROW — the Σ cell² pair scoring
    // loop pays one dot per pair instead of three (cosinePre scaladoc)
    val cells = corpus.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), centroids).as("cell"),
      VectorOps.normF(col(vecCol)).as("__vn"))
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        VectorOps.cosinePre(col(s"a.$vecCol"), col(s"b.$vecCol"),
          col("a.__vn"), col("b.__vn")).as("sim"))
      .filter(col("sim") >= threshold)
      .select("doc_a", "doc_b")
    Dedup.keeperAssignment(corpus.select(col(idCol)), idCol, pairs)
      .select(col("doc").as(idCol), col("keep_as"))
  }

  /** STREAMING semantic dedup — the incremental face of [[semanticDedup]]:
    * each micro-batch of (id, embedding) rows is deduped against every
    * KEEPER the pipeline has ever accepted, via a parquet LEDGER of
    * (id, cell, embedding) keeper rows the pipeline itself maintains —
    * the same batch-scoped-overwrite ledger recipe as
    * [[Dedup.bloomIncrementalStream]], so a batch replayed after a crash
    * sees exactly the reference its failed attempt saw and converges.
    *
    * Per batch: (1) assign vectors to cells (centroids are seeded from the
    * FIRST non-empty batch and persisted under `ledgerDir/_centroids`, so
    * cell geometry — and therefore keeper identity — is stable across
    * batches and restarts; re-seeding on a batch-0 replay is deterministic
    * via [[seedCentroids]]); (2) collapse each new vector onto the
    * smallest ≥`threshold`-cosine prior keeper in its cell; (3) dedup the
    * survivors within-batch with the same cell-bounded pair join + CC
    * fixpoint as the batch op; (4) write (id, keep_as) to
    * `outDir/batch=N` and the batch's NEW keepers to `ledgerDir/batch=N`.
    *
    * Scale: the ledger carries keepers only (the deduped corpus — the
    * small side by construction); the cross-batch join is cell-bucketed,
    * so each batch pays one keeper-ledger scan plus Σ cell-collision
    * comparisons, and the corpus never re-shuffles. Like all incremental
    * dedup, transitive chains that SPAN batches collapse per-batch onto
    * the earliest keeper rather than re-clustering history — the standard
    * incremental approximation.
    */
  def semanticDedupStream(stream: DataFrame, threshold: Double,
      nCentroids: Int, ledgerDir: String, outDir: String,
      checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val batch = batch0.filter(col(vecCol).isNotNull)
        if (!batch.isEmpty) {
          val centroids = loadOrSeedCentroids(spark, batch, nCentroids,
            ledgerDir, idCol, vecCol)
          // computed once, feeds the cross-batch join, the within-batch
          // pair join (both sides), and the ledger write
          // r18: norms hoisted per row before the cell-bucketed joins
          // (cosinePre scaladoc; the ledger keeps its (id, cell, vec)
          // schema — prior keepers re-derive the norm on read)
          val cells = batch.select(col(idCol), col(vecCol),
              nearestCentroid(col(vecCol), centroids).as("cell"),
              VectorOps.normF(col(vecCol)).as("__vn"))
            .localCheckpoint(true)
          val prior = readKeeperLedger(spark, ledgerDir, batchId,
              cells.select(col(idCol), col("cell"), col(vecCol)))
            .withColumn("__vn", VectorOps.normF(col(vecCol)))
          val matched = cells.as("n").join(prior.as("p"),
              col("n.cell") === col("p.cell"))
            .filter(VectorOps.cosinePre(col(s"n.$vecCol"), col(s"p.$vecCol"),
              col("n.__vn"), col("p.__vn")) >= threshold)
            .groupBy(col(s"n.$idCol").as(idCol))
            .agg(min(col(s"p.$idCol")).as("keep_as"))
          val fresh = cells.join(matched.select(col(idCol)), Seq(idCol), "left_anti")
          val pairs = fresh.as("a").join(fresh.as("b"),
              col("a.cell") === col("b.cell") && col(s"a.$idCol") < col(s"b.$idCol"))
            .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
              VectorOps.cosinePre(col(s"a.$vecCol"), col(s"b.$vecCol"),
                col("a.__vn"), col("b.__vn")).as("sim"))
            .filter(col("sim") >= threshold)
            .select("doc_a", "doc_b")
          val within = Dedup.keeperAssignment(fresh.select(col(idCol)), idCol, pairs)
            .select(col("doc").as(idCol), col("keep_as"))
          val out = matched.unionByName(within).localCheckpoint(true)
          out.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          fresh.join(out.filter(col("keep_as") === col(idCol)).select(col(idCol)),
              Seq(idCol))
            .select(col(idCol), col("cell"), col(vecCol))
            .write.mode("overwrite").parquet(s"$ledgerDir/batch=$batchId")
        }
        ()
      }
      .start()
  }

  /** Centroids for the streaming form: read `ledgerDir/_centroids` if
    * present, else seed deterministically from this batch and persist.
    * The collect is ≤ nCentroids rows; the write is a one-off.
    */
  private def loadOrSeedCentroids(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, nCentroids: Int, ledgerDir: String,
      idCol: String, vecCol: String): Array[Array[Float]] = {
    val path = new org.apache.hadoop.fs.Path(s"$ledgerDir/_centroids")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path))
      spark.read.parquet(path.toString).orderBy("cell").select("cvec")
        .collect().map(_.getSeq[Float](0).toArray)
    else {
      val c = seedCentroids(batch, nCentroids, idCol, vecCol)
      import spark.implicits._
      c.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cell", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(path.toString)
      c
    }
  }

  /** Keeper-ledger partitions committed strictly before `batchId`
    * (batch-scoped dirs only — `_centroids` is not a ledger partition).
    * `like` supplies the (id, vec, cell) schema for the empty first-batch
    * case.
    */
  private def readKeeperLedger(spark: org.apache.spark.sql.SparkSession,
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

  /** All near-duplicate pairs by embedding cosine ≥ threshold, LSH-bucketed
    * so comparisons stay within buckets (embedding-space near-dup dedup).
    * Multi-table like [[lshTopK]]: `nTables` independent hyperplane
    * families, a pair is compared if it collides in ANY table — recall
    * compounds as 1-(1-p)^T (measured: 0.80 single-table → 0.96+ at T=2
    * on 0.95-cosine pairs) while each table's self-join still stays
    * within ~1/2^nPlanes buckets.
    *
    * Order of operations matters at scale: the cosine + threshold run
    * INSIDE the join stage (codegen'd, no shuffle), and only the
    * surviving near-dup pairs — output-bounded, tiny — reach the
    * dropDuplicates shuffle. Deduping candidates first would shuffle
    * every bucket collision with both vectors attached: measured 20×
    * cost at 10× corpus (candidates grow quadratically with per-bucket
    * occupancy; a pair scores at most nTables times, so re-scoring
    * duplicates is the cheap side of that trade).
    *
    * Size `nPlanes` ≈ log₂(corpus / desired-bucket-size): buckets are
    * fixed at 2^nPlanes, so occupancy — and candidate count — grows
    * linearly with corpus at a fixed plane count.
    */
  def cosineDupPairs(corpus: DataFrame, threshold: Double, nPlanes: Int = 8,
      nTables: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // r18: norm hoisted before the bucket explode/self-join (cosinePre
    // scaladoc; one dot per candidate pair instead of three)
    val b = corpus.select(col(idCol), col(vecCol),
      VectorOps.normF(col(vecCol)).as("__vn"),
      posexplode(array((0 until nTables).map(t =>
        lshSignature(col(vecCol), nPlanes, t * nPlanes)): _*)).as(Seq("tbl", "bucket")))
    b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        VectorOps.cosinePre(col(s"a.$vecCol"), col(s"b.$vecCol"),
          col("a.__vn"), col("b.__vn")).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  // ── persistable IVF+PQ index: build once, query many ──────────────────

  /** SEMANTIC decontamination: flag training vectors whose embedding is
    * too close (cosine ≥ `tau`) to any held-out eval-set vector — the
    * embedding-space complement of the n-gram decontamination ops
    * ([[Sampling]]'s containment / exact-collision gates), catching
    * paraphrased or re-formatted benchmark leakage that shares no
    * n-grams with the eval text.
    *
    * Returns one row per FLAGGED training vector:
    * (idCol, n_eval_hits, top_eval) — the hit count and the closest eval
    * id (ties broken by the larger eval id, deterministically).
    *
    * Scale: eval sets are small by nature (benchmarks, not corpora) — the
    * eval side broadcasts; the TRAINING side streams through one scan and
    * never shuffles. The threshold filter runs INSIDE the join stage
    * (the [[cosineDupPairs]] discipline), so only flagged (train, eval)
    * hit rows — bounded by leakage, not corpus size — reach the groupBy.
    */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      evalIdCol: String = "eval_id"): DataFrame = {
    // r18: norms hoisted — the train×eval screening loop pays one dot per
    // pair instead of three (cosinePre scaladoc; bit-identical values)
    val ev = broadcast(evalSet.select(col(evalIdCol).as("__eid"), col(vecCol).as("__evec"),
      VectorOps.normF(col(vecCol)).as("__en")))
    train.select(col(idCol), col(vecCol),
        evalOnce(VectorOps.normF(col(vecCol))).as("__tn")).crossJoin(ev)
      .withColumn("__cos", VectorOps.cosinePre(col(vecCol), col("__evec"),
        col("__tn"), col("__en")))
      .filter(col("__cos") >= tau)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("__cos"), col("__eid"))).getField("__eid").as("top_eval"))
  }

  /** The 100 TB face of [[semanticDecontaminate]]: screen the eval set
    * against a PERSISTED IVF+PQ index of the training corpus
    * ([[buildIvfPqIndex]]) instead of brute-forcing train × eval — the
    * probe set prunes to ~nProbe/nCentroids of the store per eval vector
    * and the corpus is never rescanned per job. Re-rank similarities are
    * EXACT cosine, so every flagged row here is also flagged by the
    * brute-force screen (indexed ⊆ exact); recall is the ANN probe
    * recall (raise `nProbe` to close it). `rerank` caps how many
    * training vectors one eval vector can flag per call.
    *
    * Output schema matches [[semanticDecontaminate]]:
    * (vec_id, n_eval_hits, top_eval).
    */
  def semanticDecontaminateIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, evalSet: DataFrame, tau: Double,
      nProbe: Int = 8, rerank: Int = 64,
      evalIdCol: String = "eval_id", vecCol: String = "embedding"): DataFrame = {
    val hits = queryIvfPqIndex(spark, indexDir,
        evalSet.select(col(evalIdCol).as("query_id"), col(vecCol).as("query_vec")),
        k = rerank, nProbe = nProbe, rerank = rerank)
      .filter(col("sim") >= tau)
    hits.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("sim"), col("query_id"))).getField("query_id").as("top_eval"))
  }

  /** Build the IVF+PQ index ONCE and persist it: production similarity
    * search amortizes index construction across many query jobs, where
    * [[ivfPqTopK]] rebuilds centroids + codebooks + codes inline per call.
    *
    * Layout under `indexDir`:
    *   - `cells/` — (id, pq_codes, vec) parquet PARTITIONED BY cell, so a
    *     query's nProbe cell pruning becomes parquet PARTITION PRUNING:
    *     unprobed cells are never read from storage (the raw vector rides
    *     along for the exact re-rank — the IVFFlat trade: ~code_size/dim
    *     overhead buys rerank without a second source join)
    *   - `centroids/` — (cell, cvec), nCentroids rows
    *   - `codebooks/` — (subspace, code, cvec), nSubspaces·nCodes rows
    *
    * Deterministic: seeding and codebook training are hash-based, so
    * building twice from the same corpus yields the identical index (and
    * [[queryIvfPqIndex]] returns exactly what the inline op would).
    */
  def buildIvfPqIndex(corpus: DataFrame, indexDir: String,
      nCentroids: Int = 64, nSubspaces: Int = 0, nCodes: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // r18: one pooled seeding scan for seed + PQ sample (seedPools scaladoc)
    val pools = seedPools(corpus, Seq(nCentroids, 256), idCol, vecCol)
    val centroids = pools(0)
    val cb = trainPqCodebooksFromSample(pools(1), nSubspaces, nCodes)
    corpus.select(col(idCol),
        nearestCentroid(col(vecCol), centroids).as("cell"),
        pqEncode(col(vecCol), cb).as("pq_codes"),
        col(vecCol).as("vec"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells")
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "cvec")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    cb.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.map { case (v, c) => (s, c, v.toSeq) }
    }.toSeq.toDF("subspace", "code", "cvec")
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
  }

  /** Bounded driver read of a persisted index's model: (centroid rows,
    * codebooks). Shared by query and append.
    */
  private def loadIndexModel(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): (Array[(Int, Array[Float])], Array[Array[Array[Float]]]) = {
    val centroidRows = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    val cb: Array[Array[Array[Float]]] = {
      val rows = spark.read.parquet(s"$indexDir/codebooks")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      val nS = rows.map(_._1).max + 1
      val nC = rows.map(_._2).max + 1
      val out = Array.ofDim[Array[Float]](nS, nC)
      rows.foreach { case (s, c, v) => out(s)(c) = v }
      out.map(_.toArray)
    }
    (centroidRows, cb)
  }

  /** Incrementally ADD vectors to a persisted index: assign each to its
    * nearest EXISTING centroid, encode with the EXISTING codebooks, and
    * append to the cell-partitioned store — one row-local pass over the
    * new batch, no retraining, no touch of prior data (parquet append
    * writes new files into the matching `cell=` directories). This is how
    * a streaming embedding pipeline keeps the search index current; the
    * standard caveat applies (heavy drift in the vector distribution
    * eventually wants a rebuild, since cells/codebooks stay frozen).
    */
  def appendToIvfPqIndex(newVectors: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    val (centroidRows, cb) = loadIndexModel(spark, indexDir)
    val centroids = centroidRows.sortBy(_._1).map(_._2)
    newVectors.select(col(idCol),
        nearestCentroid(col(vecCol), centroids).as("cell"),
        pqEncode(col(vecCol), cb).as("pq_codes"),
        col(vecCol).as("vec"))
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells")
  }

  /** Above this embedding dimension [[queryIvfPqIndex]] switches from the
    * one-scan plan (raw `vec` rides the ADC rank exchange) to the
    * slim-exchange plan (16-byte exchange rows + a second partition-pruned
    * read for the ≤ queries×rerank survivors). Threshold set on probe
    * evidence (WideDimProbe, SCALE.md r8): at dim 64 the vec-through
    * exchange carries ~0.3 KB/row and beats a second read of the probed
    * partitions; at dim 768 it carries 3 KB/row — more bytes than the
    * whole ADC-relevant store — while the slim plan's second read fetches
    * only (id, vec) columns and its exchange stays flat at 24 B/row.
    */
  val VecThroughShuffleMaxDim = 256

  /** Query a persisted IVF+PQ index: probe each query's `nProbe` nearest
    * cells (centroids are a bounded driver read), push `cell IN (probed)`
    * into the partitioned scan — only probed cells' files are read — ADC
    * over the compressed codes, exact cosine re-rank of the top `rerank`
    * from the stored raw vectors. Output schema matches [[ivfPqTopK]]:
    * (query_id, vec_id, sim, rank).
    *
    * `vecThroughShuffle` picks the re-rank plan; None (default) dispatches
    * on the embedding dimension at [[VecThroughShuffleMaxDim]]:
    *   - `true` — ONE scan of the probed partitions: the raw `vec` rides
    *     the ADC rank exchange, the exact re-rank is row-local on the
    *     survivors. Exchange bytes grow linearly with dim (dim×4 B per
    *     CANDIDATE row ≈ nProbe/nCentroids of the corpus per query) —
    *     the winner at narrow dims where that is ~0.3 KB/row.
    *   - `false` — slim exchange: the rank shuffle carries only
    *     (query_id, id, sim_adc); the bounded survivor ids (≤
    *     queries×rerank, a driver-side collect like the probe set) prune
    *     a SECOND read of the probed partitions down to the (id, vec)
    *     columns. Exchange bytes are dimension-independent — the winner
    *     at production dims (768+) where a 3-16 KB vec per candidate row
    *     would dominate the shuffle.
    */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nProbe: Int = 8, rerank: Int = 64,
      idCol: String = "vec_id",
      queryIdCol: String = "query_id", queryVecCol: String = "query_vec",
      vecThroughShuffle: Option[Boolean] = None): DataFrame = {
    import spark.implicits._
    val (centroidRows, cb) = loadIndexModel(spark, indexDir)
    val centroidsDf = broadcast(
      centroidRows.map { case (i, v) => (i, v.toSeq) }.toSeq.toDF("cell", "cvec"))
    val pw = Window.partitionBy(col(queryIdCol)).orderBy(col("csim").desc, col("cell"))
    // probes are collected ONCE (bounded: queries × nProbe rows) and both
    // the partition-pruning IN list and the join input derive from the
    // same materialized set — re-evaluating the probe pipeline for the
    // join would run the queries lineage twice and, for a
    // non-deterministic queries frame, could disagree with the IN list
    val probeRows = queries.crossJoin(centroidsDf)
      .withColumn("csim", VectorOps.cosineF(col(queryVecCol), col("cvec")))
      .withColumn("crn", row_number().over(pw))
      .filter(col("crn") <= nProbe)
      .select(col(queryIdCol), col(queryVecCol), col("cell"))
      .collect()
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(queryIdCol,
          queries.schema(queryIdCol).dataType),
        org.apache.spark.sql.types.StructField(queryVecCol,
          queries.schema(queryVecCol).dataType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType))))
    // the probed-cell set is ≤ nCentroids values: pushing it as an IN
    // filter turns cell pruning into parquet partition pruning
    val probedCells = probeRows.map(_.getInt(2)).distinct.toSeq
    val cells = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probedCells: _*))
    val r = math.max(k, rerank)
    val aw = Window.partitionBy(col(queryIdCol)).orderBy(col("sim_adc").desc, col(idCol))
    val queryVecs = broadcast(probes.select(col(queryIdCol), col(queryVecCol)).distinct())
    val dim = probeRows.headOption
      .map(_.getSeq[Any](1).length).getOrElse(0)
    val oneScan = vecThroughShuffle.getOrElse(dim <= VecThroughShuffleMaxDim)
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("sim").desc, col(idCol))
    if (oneScan) {
      // ONE scan of the probed partitions (r7): the raw `vec` rides the
      // ADC projection through the rank shuffle, so the exact re-rank is
      // a row-local cosine over the ≤ queries×rerank survivors — no
      // second parquet read of the cells, no join back. The QUERY vector
      // does NOT ride that shuffle (it would double the bytes): it
      // re-attaches to the bounded survivor set by broadcast join.
      // r18: per-query ADC table on the broadcast side (PqLutF scaladoc)
      val cand = cells.join(broadcast(probes.withColumn("__lut",
          pqLut(col(queryVecCol), cb))), "cell")
        .withColumn("sim_adc", pqCosineLut(col("pq_codes"), col("__lut"), cb))
        .select(col(queryIdCol), col(idCol), col("sim_adc"), col("vec"))
        .withColumn("arank", row_number().over(aw))
        .filter(col("arank") <= r)
        .select(col(queryIdCol), col(idCol), col("vec"))
      cand.join(queryVecs, queryIdCol)
        .withColumn("sim", VectorOps.cosineF(col("vec"), col(queryVecCol)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(queryIdCol), col(idCol), col("sim"), col("rank"))
    } else {
      // SLIM exchange (wide dims): the rank shuffle carries 16-byte rows;
      // the survivor set — bounded like the probe set at ≤ queries×rerank
      // rows — is materialized on the driver, and a SECOND
      // partition-pruned read fetches only the (id, vec) columns of the
      // probed cells for the broadcast-joined survivors. The vec column
      // never crosses an exchange at any dimension.
      // r18: per-query ADC table on the broadcast side (PqLutF scaladoc)
      val survRows = cells.join(broadcast(probes.withColumn("__lut",
          pqLut(col(queryVecCol), cb))), "cell")
        .withColumn("sim_adc", pqCosineLut(col("pq_codes"), col("__lut"), cb))
        .select(col(queryIdCol), col(idCol), col("sim_adc"))
        .withColumn("arank", row_number().over(aw))
        .filter(col("arank") <= r)
        .select(col(queryIdCol), col(idCol))
        .collect()
      val survivors = spark.createDataFrame(
        spark.sparkContext.parallelize(survRows.toIndexedSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(queryIdCol,
            queries.schema(queryIdCol).dataType),
          org.apache.spark.sql.types.StructField(idCol,
            cells.schema(idCol).dataType))))
      val vecs = spark.read.parquet(s"$indexDir/cells")
        .filter(col("cell").isin(probedCells: _*))
        .join(broadcast(survivors.select(col(idCol)).distinct()), idCol)
        .select(col(idCol), col("vec"))
      broadcast(survivors).join(vecs, idCol)
        .join(queryVecs, queryIdCol)
        .withColumn("sim", VectorOps.cosineF(col("vec"), col(queryVecCol)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(queryIdCol), col(idCol), col("sim"), col("rank"))
    }
  }
}
