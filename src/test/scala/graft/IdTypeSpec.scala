package graft

import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Every curation operator has ONE plan, whatever its id type. Each spec
  * runs the production operator on bigint ids and on string ids and holds
  * both to a reference written here that shares no code with the
  * operator's pairing or top-k: the join formulation for the pair
  * operators, Spark's `row_number` window for top-k, a plain union-find
  * for keeper assignment.
  *
  * Ids are 1000..1499, fixed width. The string form [[suppId]] prefixes
  * the lower half with U+FFFF and the upper half with U+1F600: under
  * Spark's SQL ordering (UTF-8 bytes, EF.. < F0..) it orders exactly like
  * the bigint, under Java's String.compareTo (UTF-16 units, D83D < FFFF)
  * the halves swap. So a string run must equal the bigint run, mapped by
  * id, row for row — and any step that orders ids the Java way breaks it.
  *
  * The id forms and checks live in [[IdTypeChecks]]; simhashPairs' specs
  * use them from R18OptSpec, where they pin the postings path to the
  * quarter-band join it replaced.
  */
abstract class IdTypeChecks extends SparkSpec {
  protected val Lo = "\uFFFF"       // UTF-8 EF BF BF
  protected val Hi = "\uD83D\uDE00" // U+1F600: UTF-8 F0 9F 98 80
  protected val suppId: Column => Column = c =>
    concat(when(c < 1250, lit(Lo)).otherwise(lit(Hi)), c.cast("string"))
  /** plain decimal string: same text as the bigint's string form */
  protected val plainId: Column => Column = _.cast("string")
  private def back(v: Any): Any = v match {
    case s: String => s.filter(_.isDigit).toLong
    case other => other
  }
  protected def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(r => r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d) // NaN-safe, bitwise
      case v => back(v)
    }).toSet

  protected lazy val docs = Tables.load(spark, sfDir, "documents")
    .select((col("doc_id") + 1000L).as("id"), col("text"))
  protected lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select((col("vec_id") + 1000L).as("id"), col("embedding"))

  protected val bigint: Column => Column = identity
  protected def docsAs(f: Column => Column) = docs.select(f(col("id")).as("doc_id"), col("text"))
  protected def corpusAs(f: Column => Column) = emb.select(f(col("id")).as("vec_id"), col("embedding"))
  protected def queriesAs(f: Column => Column) = emb.filter(col("id") % 50 === 0)
    .select(f(col("id")).as("query_id"), col("embedding").as("query_vec"))

  /** Production ≡ reference on bigint and on string ids, and the string
    * run ≡ the bigint run mapped by id. */
  protected def check(name: String, forms: Seq[Column => Column],
      prod: (Column => Column) => DataFrame, ref: (Column => Column) => DataFrame): Unit = {
    val byForm = forms.map { f =>
      val got = rows(prod(f))
      assert(got === rows(ref(f)), s"$name: production differs from the reference")
      got
    }
    assert(byForm.head.nonEmpty, s"$name: empty result proves nothing")
    byForm.tail.foreach(got => assert(got === byForm.head, s"$name: string ids differ from bigint"))
  }

  // ── pair operators vs the join formulation ──────────────────────────────

  /** (doc_a, doc_b) candidates of one bucketing: self-join on the bucket
    * key, a < b, distinct — the shape the postings operators replaced. */
  protected def joinPairs(banded: DataFrame, keys: Seq[String], extra: String*): DataFrame =
    banded.as("a").join(banded.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc") < col("b.doc"))
      .select((Seq(col("a.doc").as("doc_a"), col("b.doc").as("doc_b")) ++
        extra.flatMap(e => Seq(col(s"a.$e").as(s"${e}_a"), col(s"b.$e").as(s"${e}_b")))): _*)
}

class IdTypeSpec extends IdTypeChecks {
  import spark.implicits._

  test("minhashLshPairs: bigint and string ids equal the band self-join") {
    def ref(f: Column => Column) = {
      val sig = Dedup.minhashSignatures(docsAs(f), "doc_id", "text", 3, 64)
      val banded = sig.select(col("doc"), posexplode(array((0 until 16).map(b =>
          xxhash64(lit(b), slice(col("sig"), b * 4 + 1, 4))): _*)).as(Seq("band", "band_hash")))
      val ok = banded.groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
        .filter(col("n") <= 1000).select("band", "band_hash")
      joinPairs(banded.join(ok, Seq("band", "band_hash")), Seq("band", "band_hash"))
        .distinct()
        .join(sig.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sig.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
            .cast("double") / 64.0).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.3)
    }
    check("minhash", Seq(bigint, suppId),
      f => Dedup.minhashLshPairs(docsAs(f), "doc_id", "text", threshold = 0.3), ref)
  }

  test("ngramJaccardPairs: bigint and string ids equal the shingle self-join") {
    def ref(f: Column => Column) = {
      val sh = Dedup.shingles(docsAs(f), "doc_id", "text", 2)
      val ok = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100).select("shingle")
      val kept = sh.join(ok, "shingle")
      val sizes = kept.groupBy("doc").agg(count(lit(1)).as("n_sh"))
      joinPairs(kept, Seq("shingle"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc").as("doc_a"), col("n_sh").as("size_a")), "doc_a")
        .join(sizes.select(col("doc").as("doc_b"), col("n_sh").as("size_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), (col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.2)
    }
    check("ngram", Seq(bigint, suppId),
      f => Dedup.ngramJaccardPairs(docsAs(f), "doc_id", "text", 2, 0.2, 100), ref)
  }

  test("tfidfCosinePairs: bigint and string ids equal the weight self-join") {
    val dec = DecimalType(38, 0)
    def ref(f: Column => Column) = {
      val d = docsAs(f)
      val tf = d.select(col("doc_id").as("doc"), explode(Dedup.tokens(col("text"))).as("term"))
        .groupBy(col("doc"), xxhash64(col("term")).as("term_h")).agg(count(lit(1)).as("tf"))
      val cap = greatest(lit(1L), least(ceil(lit(0.2) * col("n_docs")), lit(1000L)))
      val idf = tf.groupBy("term_h").agg(count(lit(1)).as("df"))
        .crossJoin(d.agg(count(lit(1)).as("n_docs")))
        .filter(col("df") <= cap)
        .select(col("term_h"),
          round(log(col("n_docs").cast("double") / col("df")) * 1e6).cast("long").as("idf6"))
      val w = tf.join(idf, "term_h").select(col("doc"), col("term_h"), (col("tf") * col("idf6")).as("w"))
      val norms = w.groupBy("doc").agg(sum(col("w").cast(dec) * col("w")).as("n2"))
      joinPairs(w, Seq("term_h"), "w")
        .groupBy("doc_a", "doc_b").agg(sum(col("w_a").cast(dec) * col("w_b")).as("dot"))
        .join(norms.select(col("doc").as("doc_a"), col("n2").as("n2_a")), "doc_a")
        .join(norms.select(col("doc").as("doc_b"), col("n2").as("n2_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), (col("dot").cast("double") /
          sqrt(col("n2_a").cast("double") * col("n2_b").cast("double"))).as("cosine"))
        .filter(col("cosine") >= 0.3)
    }
    check("tfidf", Seq(bigint, suppId),
      f => Dedup.tfidfCosinePairs(docsAs(f), "doc_id", "text", 0.3, 0.2), ref)
  }

  test("keeperAssignment: both paths keep the SQL-ordered minimum for every id type") {
    // chains that cross the U+FFFF / U+1F600 halves, a reversed pair, singletons
    val edges = Seq((1300L, 1001L), (1001L, 1400L), (1260L, 1249L), (1490L, 1499L),
      (1100L, 1101L), (1101L, 1250L))
    val ids = 1000L until 1500L
    // reference: plain union-find over the bigint ids
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = ids.map(i => Seq[Any](i, find(i))).toSet
    assert(want.contains(Seq(1300L, 1001L)) && want.contains(Seq(1250L, 1100L)))
    for (f <- Seq(bigint, suppId); budget <- Seq(4000000L, 0L)) {
      val df = ids.toDF("id").select(f(col("id")).as("doc_id"))
      val pairs = edges.toDF("a", "b").select(f(col("a")).as("doc_a"), f(col("b")).as("doc_b"))
      assert(rows(Dedup.keeperAssignment(df, "doc_id", pairs, maxDriverEdges = budget)) === want,
        s"budget $budget")
    }
    // the bare disagreement: Java orders U+1F600 first, Spark orders U+FFFF first
    assert(Hi.compareTo(Lo) < 0)
    val two = Seq(Lo, Hi).toDF("doc_id")
    for (budget <- Seq(4000000L, 0L)) {
      val got = Dedup.keeperAssignment(two, "doc_id", Seq((Hi, Lo)).toDF("doc_a", "doc_b"),
        maxDriverEdges = budget).collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === Map(Lo -> Lo, Hi -> Lo), s"budget $budget")
    }
  }

  // ── top-k operators vs the row_number window ───────────────────────────

  private def windowTopK(df: DataFrame, group: String, score: String, id: String,
      k: Int): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(col(group)).orderBy(col(score).desc, col(id))))
      .filter(col("rank") <= k)
      .select(col(group), col(id), col(score), col("rank"))

  private def probeCells(queries: DataFrame, centroids: Array[Array[Float]],
      nProbe: Int): DataFrame = {
    val cdf = centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cell", "cvec")
    windowTopK(queries.crossJoin(cdf)
        .withColumn("csim", VectorOps.cosineF(col("query_vec"), col("cvec"))),
      "query_id", "csim", "cell", nProbe)
      .select("query_id", "cell")
  }

  /** PQ candidate cut + exact rerank, both as windows. */
  private def pqRerank(corpus: DataFrame, queries: DataFrame, encoded: DataFrame,
      probes: DataFrame => DataFrame, cb: Array[Array[Array[Float]]], k: Int): DataFrame = {
    val adc = probes(encoded).join(queries.select(col("query_id"),
        Similarity.pqLut(col("query_vec"), cb).as("__lut")), "query_id")
      .withColumn("sim_adc", Similarity.pqCosineLut(col("pq_codes"), col("__lut"), cb))
    val cand = windowTopK(adc, "query_id", "sim_adc", "vec_id", 64).select("query_id", "vec_id")
    windowTopK(corpus.join(cand, "vec_id").join(queries, "query_id")
        .withColumn("sim", VectorOps.cosineF(col("embedding"), col("query_vec"))),
      "query_id", "sim", "vec_id", k)
  }

  private val k = 5

  test("bruteForceTopK: bigint and string ids equal the row_number window") {
    check("bruteforce", Seq(bigint, suppId),
      f => Similarity.bruteForceTopK(corpusAs(f), queriesAs(f), k),
      f => windowTopK(corpusAs(f).crossJoin(queriesAs(f))
          .withColumn("sim", VectorOps.cosineF(col("embedding"), col("query_vec"))),
        "query_id", "sim", "vec_id", k))
  }

  test("lshTopK: bigint and string ids equal the row_number window") {
    def buckets(v: Column) = array((0 until 2).map(t => Similarity.lshSignature(v, 4, t * 4)): _*)
    check("lsh", Seq(bigint, suppId),
      f => Similarity.lshTopK(corpusAs(f), queriesAs(f), k, nPlanes = 4, nTables = 2),
      f => {
        val cb = corpusAs(f).select(col("vec_id"), col("embedding"),
          posexplode(buckets(col("embedding"))).as(Seq("tbl", "bucket")))
        val qb = queriesAs(f).select(col("query_id"), col("query_vec"),
          posexplode(buckets(col("query_vec"))).as(Seq("tbl", "bucket")))
        windowTopK(cb.join(qb, Seq("tbl", "bucket"))
            .select(col("query_id"), col("vec_id"),
              VectorOps.cosineF(col("embedding"), col("query_vec")).as("sim"))
            .dropDuplicates("query_id", "vec_id"),
          "query_id", "sim", "vec_id", k)
      })
  }

  // IVF/PQ seeding hashes the id's STRING form, so the cross-type equality
  // runs on plainId (the bigint's own digits); suppId is held to the
  // reference alone.
  test("ivfTopK: bigint and string ids equal the row_number window") {
    def ref(f: Column => Column) = {
      val corpus = corpusAs(f)
      val centroids = Similarity.seedCentroids(corpus, 16, "vec_id", "embedding")
      windowTopK(corpus.withColumn("cell", Similarity.nearestCentroid(col("embedding"), centroids))
          .join(probeCells(queriesAs(f), centroids, 4).join(queriesAs(f), "query_id"), "cell")
          .withColumn("sim", VectorOps.cosineF(col("embedding"), col("query_vec"))),
        "query_id", "sim", "vec_id", k)
    }
    def prod(f: Column => Column) = Similarity.ivfTopK(corpusAs(f), queriesAs(f), k)
    check("ivf", Seq(bigint, plainId), prod, ref)
    check("ivf supp", Seq(suppId), prod, ref)
  }

  test("pqTopK: bigint and string ids equal the row_number window") {
    def ref(f: Column => Column) = {
      val corpus = corpusAs(f)
      val cb = Similarity.trainPqCodebooks(corpus, 0, 16)
      val encoded = corpus.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), cb).as("pq_codes"))
      pqRerank(corpus, queriesAs(f), encoded,
        e => e.crossJoin(queriesAs(f).select("query_id")), cb, k)
    }
    def prod(f: Column => Column) = Similarity.pqTopK(corpusAs(f), queriesAs(f), k)
    check("pq", Seq(bigint, plainId), prod, ref)
    check("pq supp", Seq(suppId), prod, ref)
  }

  test("ivfPqTopK: bigint and string ids equal the row_number window") {
    def ref(f: Column => Column) = {
      val corpus = corpusAs(f)
      val centroids = Similarity.seedCentroids(corpus, 64, "vec_id", "embedding")
      val cb = Similarity.trainPqCodebooks(corpus, 0, 16)
      val index = corpus.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding"), centroids).as("cell"),
        Similarity.pqEncode(col("embedding"), cb).as("pq_codes"))
      pqRerank(corpus, queriesAs(f), index,
        e => e.join(probeCells(queriesAs(f), centroids, 8), "cell"), cb, k)
    }
    def prod(f: Column => Column) = Similarity.ivfPqTopK(corpusAs(f), queriesAs(f), k)
    check("ivfpq", Seq(bigint, plainId), prod, ref)
    check("ivfpq supp", Seq(suppId), prod, ref)
  }

  test("TopKByF: null id skipped, null score last, -0.0 == 0.0, NaN first, ties by id") {
    val raw = Seq[(Int, java.lang.Long, java.lang.Double)](
      (1, 1010L, 0.9), (1, 1011L, 0.9), (1, 1012L, 0.9),   // three-way tie → id asc
      (1, 1013L, 0.95), (1, 1014L, -0.5), (1, 1015L, null), // null score ranks last,
      (1, 1016L, Double.NegativeInfinity),                   // even after -∞
      (2, 1020L, 0.0), (2, 1021L, -0.0), (2, 1022L, -0.0),  // -0.0 == 0.0 ties → id
      (2, 1023L, 1e-300), (3, 1030L, 0.7), (3, null, 0.99), // null id never ranks
      (4, 1040L, Double.NaN), (4, 1041L, 1.0),               // NaN is the largest
      (5, 1250L, 0.5), (5, 1249L, 0.5), (5, 1251L, 0.4)      // tie across U+FFFF / U+1F600
    )
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(raw.map(r => Row(r._1, r._2, r._3)), 3),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.DoubleType))))
    for (kk <- Seq(1, 2, 3, 7)) {
      check(s"TopKByF k=$kk", Seq(bigint, suppId),
        f => base.select(col("g"), f(col("id")).as("id"), col("s")).groupBy(col("g"))
          .agg(GraftShim.column(graft.functions.TopKByF(
            GraftShim.expression(col("s")), GraftShim.expression(col("id")), kk)
            .toAggregateExpression()).as("tk"))
          .select(col("g"), posexplode(col("tk")).as(Seq("p", "e")))
          .select(col("g"), col("e.id"), col("e.score"), (col("p") + 1).as("rank")),
        f => windowTopK(base.filter(col("id").isNotNull)
          .select(col("g"), f(col("id")).as("id"), col("s")), "g", "s", "id", kk))
    }
  }

  test("bounded aggregates take any orderable id and reject the rest") {
    val df = Seq.tabulate(60)(i => (i % 3, s"${Hi}d$i", i.toLong)).toDF("g", "id", "v")
    def agg(e: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
      df.groupBy("g").agg(GraftShim.column(e.toAggregateExpression()).as("out"))
    def ex(c: String) = GraftShim.expression(col(c))
    val lists = agg(graft.functions.CollectUpToF(ex("id"), 20)).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1).toSet).toMap
    assert(lists === df.collect().groupBy(_.getInt(0)).map { case (g, rs) =>
      g -> rs.map(_.getString(1)).toSet })
    val capped = agg(graft.functions.CollectPairsUpToF(ex("id"), ex("v"), 5)).collect()
    assert(capped.forall(_.getSeq[Row](1).length == 6)) // cap + 1: overflow provable
    val asMap = df.select(col("v"), col("v").cast("double").as("s"),
      map(col("id"), col("v")).as("m"))
    for (e <- Seq(graft.functions.CollectUpToF(ex("m"), 5),
        graft.functions.CollectPairsUpToF(ex("m"), ex("v"), 5),
        graft.functions.TopKByF(ex("s"), ex("m"), 5)))
      intercept[org.apache.spark.sql.AnalysisException] {
        asMap.groupBy().agg(GraftShim.column(e.toAggregateExpression())).collect()
      }
  }
}
