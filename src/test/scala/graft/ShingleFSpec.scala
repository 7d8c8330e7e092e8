package graft

import graft.operators.Dedup
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.functions._

/** Round-17 optimization pins: the codegen'd shingle/term-frequency
  * expressions ([[graft.functions.ShingleStringsF]] / [[ShingleHashesF]] /
  * [[TermFreqF]]) must be VALUE-IDENTICAL to the higher-order-function
  * formulations they replaced (array_distinct over transform/slice/
  * concat_ws windows; explode → xxhash64 → groupBy count) — including the
  * `< n tokens ⇒ one whole-text shingle` fallback, null/empty text, tokens
  * with duplicates, and first-occurrence distinct order.
  */
class ShingleFSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "a b c a b c a"),          // duplicate shingles
    (2L, "one two"),                // exactly n=2 tokens
    (3L, "single"),                 // < n ⇒ whole-text shingle
    (4L, ""),                       // empty text ⇒ one "" shingle
    (5L, "  x   y  z "),            // whitespace runs (empty tokens filtered)
    (6L, null.asInstanceOf[String]),// null text ⇒ old otherwise-branch
    (7L, "The quick brown fox jumps over the lazy dog the quick")
  ).toDF("doc_id", "text")

  private def toks = Dedup.tokens(col("text"))

  private def oldGrams(n: Int) =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  for (n <- Seq(1, 2, 3, 5)) {
    test(s"ShingleStringsF equals the HOF formulation (n=$n), incl. order") {
      val got = corpus.select(col("doc_id"),
        GraftShim.column(graft.functions.ShingleStringsF(
          GraftShim.expression(toks), n)).as("s")).collect()
      val want = corpus.select(col("doc_id"),
        array_distinct(oldGrams(n)).as("s")).collect()
      assert(got.map(r => (r.getLong(0), r.getSeq[String](1))).toSeq ===
        want.map(r => (r.getLong(0), r.getSeq[String](1))).toSeq)
    }

    test(s"ShingleHashesF equals array_distinct(transform(grams, xxhash64)) (n=$n)") {
      val got = corpus.select(col("doc_id"),
        GraftShim.column(graft.functions.ShingleHashesF(
          GraftShim.expression(toks), n)).as("h")).collect()
      val want = corpus.select(col("doc_id"),
        array_distinct(transform(oldGrams(n), s => xxhash64(s))).as("h")).collect()
      assert(got.map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq ===
        want.map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq)
    }
  }

  for (n <- Seq(1, 2, 3, 5); nh <- Seq(16, 64)) {
    test(s"MinHashTokensF equals ShingleStringsF→MinHashSigF (n=$n, numHashes=$nh)") {
      val fused = corpus.select(col("doc_id"),
        GraftShim.column(graft.functions.MinHashTokensF(
          GraftShim.expression(toks), n, nh)).as("sig")).collect()
      val chained = corpus.select(col("doc_id"),
        GraftShim.column(graft.functions.MinHashSigF(
          GraftShim.expression(GraftShim.column(graft.functions.ShingleStringsF(
            GraftShim.expression(toks), n))), nh)).as("sig")).collect()
      assert(fused.map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq ===
        chained.map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq)
    }
  }

  for (n <- Seq(1, 2, 5)) {
    test(s"GramStringsF equals positional transform windows (n=$n)") {
      val got = corpus.select(col("doc_id"),
        GraftShim.column(graft.functions.GramStringsF(
          GraftShim.expression(toks), n)).as("g")).collect()
      val want = corpus.select(col("doc_id"),
        when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(typedLit(Array.empty[String])).as("g")).collect()
      assert(got.map(r => (r.getLong(0), r.getSeq[String](1))).toSeq ===
        want.map(r => (r.getLong(0), r.getSeq[String](1))).toSeq)
    }

    test(s"GramMd5F equals positional md5(window) (n=$n)") {
      val got = corpus.select(col("doc_id"),
        GraftShim.column(graft.functions.GramMd5F(
          GraftShim.expression(toks), n)).as("g")).collect()
      val want = corpus.select(col("doc_id"),
        when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => md5(concat_ws(" ", slice(toks, i + 1, lit(n))))))
          .otherwise(typedLit(Array.empty[String])).as("g")).collect()
      assert(got.map(r => (r.getLong(0), r.getSeq[String](1))).toSeq ===
        want.map(r => (r.getLong(0), r.getSeq[String](1))).toSeq)
    }
  }

  test("TermFreqF equals explode → xxhash64 → groupBy(doc, term_h).count") {
    val got = corpus.select(col("doc_id").as("doc"),
        explode(GraftShim.column(graft.functions.TermFreqF(
          GraftShim.expression(toks)))).as("e"))
      .select(col("doc"), col("e.term_h"), col("e.tf"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = corpus.select(col("doc_id").as("doc"), explode(toks).as("term"))
      .select(col("doc"), xxhash64(col("term")).as("term_h"))
      .groupBy("doc", "term_h").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // null/empty-token docs emit ZERO rows in both shapes
    assert(got === want)
    assert(!got.exists(_._1 == 4L) && !got.exists(_._1 == 6L))
  }

  test("CollectUpToF: complete lists below the cap, hard-bounded above it") {
    val df = Seq.tabulate(500)(i => (i.toLong % 7, i.toLong)).toDF("k", "v")
    val agg = df.groupBy("k").agg(GraftShim.column(
      graft.functions.CollectUpToF(GraftShim.expression(col("v")), 100)
        .toAggregateExpression()).as("vs"))
    // every key has ~71 values (< cap): lists must be complete and exact
    val got = agg.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toMap
    val want = (0L until 500L).groupBy(_ % 7).map { case (k, vs) => k -> vs.toSet }
    assert(got === want)
    val capped = df.groupBy(lit(1).as("k")).agg(GraftShim.column(
      graft.functions.CollectUpToF(GraftShim.expression(col("v")), 10)
        .toAggregateExpression()).as("vs"))
      .collect()(0).getSeq[Long](1)
    assert(capped.length === 11) // cap+1: overflow provable, state bounded
  }

  test("headline pipelines on testdata are value-stable through the rewrite") {
    // ngramJaccardPairs and tfidfCosinePairs over real testdata still match
    // their own SQL-oracle shapes indirectly via the driver gate; here pin
    // the cheap invariants a hashing slip would break instantly.
    val docs = Tables.load(spark, sfDir, "documents")
    val sh = Dedup.shingles(docs, "doc_id", "text", 2)
    assert(sh.groupBy("doc").count().count() === docs.count())
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.2, 100)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).isEmpty)
    val tp = Dedup.tfidfCosinePairs(docs, "doc_id", "text", 0.3, 0.2)
    assert(tp.filter(col("cosine") > 1.0000001).isEmpty)
  }
}
