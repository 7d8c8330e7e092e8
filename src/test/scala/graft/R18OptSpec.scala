package graft

import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** Round-18 optimization pins — every rewrite this round must be
  * value-identical to the shape it replaced (the other postings and top-k
  * aggregates are pinned against their join/window shapes in IdTypeSpec):
  *   - simhashPairs' postings path ≡ the quarter-band self-join, on bigint
  *     and on string ids,
  *   - seedPools ≡ one seedCentroids call per size (centroid identity),
  *   - cosinePre (hoisted norms) ≡ cosineF, including null/zero vectors,
  *   - ADC via per-query LUT ≡ per-row reconstruction, to well under the
  *     rank separation of real data, with identical top-k candidate sets
  *     on the bench corpus,
  *   - keeperAssignment's chunked driver probe ≡ the distributed fixpoint
  *     across the small-probe boundary,
  *   - EvalOnceF stays in the stream-side scan Project of the PQ scans, and
  *   - the Tables schema cache keeps one entry per path across rewrites.
  */
class R18OptSpec extends IdTypeChecks {
  import spark.implicits._

  /** The quarter-band join the postings path replaced, written out as the
    * reference: self-join on (quarter, 16-bit value), hamming ≤ max. */
  private def quarterJoin(maxHamming: Int)(f: Column => Column): DataFrame = {
    val fp = Dedup.simhash(docsAs(f), "doc_id", "text")
    val banded = fp.select(col("doc"), col("simhash"), posexplode(array((0 until 4).map(q =>
      shiftrightunsigned(col("simhash"), q * 16).bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("q", "qval")))
    joinPairs(banded, Seq("q", "qval"), "simhash")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming).distinct()
  }

  test("simhashPairs: postings path equals the quarter-band join fallback") {
    check("simhash", Seq(bigint, suppId),
      f => Dedup.simhashPairs(docsAs(f), "doc_id", "text", maxHamming = 8), quarterJoin(8))
  }

  test("simhashPairs verify path: postings equals join fallback end-to-end") {
    // the verify stage's exact shingle Jaccard, over the joined candidates
    def verified(f: Column => Column) = {
      val sets = Dedup.shingles(docsAs(f), "doc_id", "text", 3)
        .groupBy("doc").agg(collect_set(col("shingle")).as("sh"))
      quarterJoin(16)(f)
        .join(sets.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sets.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .select(col("doc_a"), col("doc_b"), col("hamming"), (col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.1)
    }
    check("simhash verify", Seq(bigint, suppId),
      f => Dedup.simhashPairs(docsAs(f), "doc_id", "text", maxHamming = 16,
        verify = true, shingleSize = 3, minJaccard = 0.1), verified)
  }

  test("seedPools equals one seedCentroids call per size (centroid identity)") {
    val corpus = Tables.load(spark, sfDir, "embeddings")
    val pooled = Similarity.seedPools(corpus, Seq(7, 64, 256), "vec_id", "embedding")
    val separate = Seq(7, 64, 256).map(n =>
      Similarity.seedCentroids(corpus, n, "vec_id", "embedding"))
    pooled.zip(separate).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got.length == want.length, s"size mismatch at ns($i)")
      got.zip(want).zipWithIndex.foreach { case ((g, w), j) =>
        assert(java.util.Arrays.equals(g, w), s"centroid $j differs at ns($i)")
      }
    }
  }

  test("cosinePre (hoisted norms) equals cosineF, incl. null and zero vectors") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(3.0f, 2.0f, 1.0f))),
      (Some(Seq(0.0f, 0.0f, 0.0f)), Some(Seq(1.0f, 1.0f, 1.0f))), // zero denom
      (Option.empty[Seq[Float]], Some(Seq(1.0f, 1.0f, 1.0f))),    // null side
      (Some(Seq(-1.5f, 2.5f)), Some(Seq(2.5f, -1.5f)))
    ).toDF("a", "b")
    val rows = df.select(
        VectorOps.cosineF(col("a"), col("b")).as("direct"),
        VectorOps.cosinePre(col("a"), col("b"),
          VectorOps.normF(col("a")), VectorOps.normF(col("b"))).as("pre"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1), s"value mismatch: $r") // bit-equal
    }
  }

  test("ADC LUT equals direct reconstruction; identical top-k candidate sets") {
    val corpus = Tables.load(spark, sfDir, "embeddings")
    val cb = Similarity.trainPqCodebooks(corpus, nSubspaces = 0, nCodes = 16)
    val queries = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val both = corpus
      .select(col("vec_id"), Similarity.pqEncode(col("embedding"), cb).as("pq_codes"))
      .crossJoin(broadcast(queries.select(col("query_id"), col("query_vec"),
        Similarity.pqLut(col("query_vec"), cb).as("__lut"))))
      .select(col("query_id"), col("vec_id"),
        Similarity.pqCosine(col("pq_codes"), col("query_vec"), cb).as("direct"),
        Similarity.pqCosineLut(col("pq_codes"), col("__lut"), cb).as("lut"))
      .collect()
    assert(both.nonEmpty)
    // per-subspace partial sums regroup the double accumulation: agreement
    // far below any rank separation on real data (measured gaps ≥ 2e-5)
    val maxDiff = both.map(r => math.abs(r.getDouble(2) - r.getDouble(3))).max
    assert(maxDiff < 1e-12, s"ADC LUT drifted: $maxDiff")
    // the value the pipeline consumes: the top-r candidate SET per query
    def topK(simCol: String) = both.groupBy(_.getLong(0)).values.flatMap { rs =>
      rs.sortBy(r => (-r.getAs[Double](simCol), r.getLong(1))).take(64)
        .map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    assert(topK("direct") === topK("lut"))
  }

  test("EvalOnceF is a value no-op (wrapped vs bare, incl. nulls)") {
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f))), (2L, Some(Seq(0.0f, 0.0f))),
      (3L, Option.empty[Seq[Float]])
    ).toDF("id", "v")
    def once(c: org.apache.spark.sql.Column) =
      GraftShim.column(graft.functions.EvalOnceF(GraftShim.expression(c)))
    val rows = df.select(
        VectorOps.normF(col("v")).as("bare"),
        once(VectorOps.normF(col("v"))).as("wrapped"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), s"value: $r")
    }
    // and through a broadcast-join pipeline (the site it exists for)
    val q = Seq((10L, Seq(1.0f, 0.0f))).toDF("qid", "qv")
    val viaWrapped = Similarity.bruteForceTopK(
        df.filter(col("v").isNotNull).select(col("id").as("vec_id"), col("v").as("embedding")),
        q.select(col("qid").as("query_id"), col("qv").as("query_vec")), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaWrapped.nonEmpty)
  }

  test("keeperAssignment chunked probe: identical across the small-probe boundary") {
    // 262 200 edges: overflows the 256Ki first collect (exercises the r18
    // persist + bounded-count branch) but fits the default driver budget
    val n = 262200L
    val docsBig = spark.range(0L, n + 1).select(col("id").as("doc_id"))
    val pairsBig = spark.range(0L, n)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val fast = Dedup.keeperAssignment(docsBig, "doc_id", pairsBig)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast.size == n.toInt + 1 && fast.values.forall(_ == 0L),
      "one chain must collapse to doc 0")
    // and a graph that overflows a tiny budget still matches the
    // distributed fixpoint (the None branch after the ambiguous probe)
    val docs8 = spark.range(0L, 9L).select(col("id").as("doc_id"))
    val pairs8 = spark.range(0L, 8L)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val viaDriver = Dedup.keeperAssignment(docs8, "doc_id", pairs8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDist = Dedup.keeperAssignment(docs8, "doc_id", pairs8, maxDriverEdges = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === viaDist)
  }

  /** Stream side of every broadcast join in the final (post-AQE) plan. */
  private def streamSides(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    df.collect() // finalizes the adaptive plan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => if (j.buildSide == BuildRight) j.left else j.right
      case j: BroadcastNestedLoopJoinExec => j.buildSide match {
        case BuildRight => j.left
        case BuildLeft => j.right
      }
    }
  }

  test("eval_once stays in the stream-side scan Project of pqTopK and ivfPqTopK") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val corpus = Tables.load(spark, sfDir, "embeddings")
    val queries = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // the PQ encode must run once per corpus row: in a Project that reads
    // the scan directly (no join below it) on a join's STREAM side
    def scanProjectsEvalOnce(side: org.apache.spark.sql.execution.SparkPlan): Boolean =
      side.find {
        case p: ProjectExec =>
          p.projectList.exists(_.find(_.isInstanceOf[graft.functions.EvalOnceF]).isDefined) &&
            p.find(_.isInstanceOf[FileSourceScanExec]).isDefined &&
            p.find(_.isInstanceOf[BaseJoinExec]).isEmpty
        case _ => false
      }.isDefined
    for ((name, df) <- Seq(
        "pqTopK" -> Similarity.pqTopK(corpus, queries, 5),
        "ivfPqTopK" -> Similarity.ivfPqTopK(corpus, queries, 5))) {
      val sides = streamSides(df)
      assert(sides.nonEmpty, s"$name: no broadcast join in the plan")
      assert(sides.exists(scanProjectsEvalOnce),
        s"$name: eval_once left the stream-side scan Project:\n${df.queryExecution.executedPlan}")
    }
  }

  test("Tables schema cache: a rewritten table replaces its entry, one per path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    def entries = scala.jdk.CollectionConverters.SetHasAsScala(Tables.schemaCache.keySet())
      .asScala.count(_ == path)
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "s") && entries == 1)
    Thread.sleep(1100) // a distinct directory mtime, at any FS timestamp granularity
    Seq((1L, 2.0, "b")).toDF("id", "x", "s").write.mode("overwrite").parquet(path)
    val reread = Tables.load(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "x", "s"), "stale schema served")
    assert(reread.collect().map(_.getDouble(1)).toSeq == Seq(2.0))
    assert(entries == 1, "a rewrite must replace the entry, not add one")
  }
}
