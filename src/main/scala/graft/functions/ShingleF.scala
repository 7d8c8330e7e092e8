package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local shingle/term-frequency math, callable from generated code
  * (top-level object ⇒ static forwarders).
  *
  * Round-17 measurement (OPTIMIZATION_r17.md, at sf0.1): the previous
  * higher-order-function formulation of shingle construction —
  * `array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(toks, i+1, n))))` — cost ~32 µs per shingle because Spark never
  * code-generates lambda functions: every `slice` allocated an array and
  * every `concat_ws`/`NamedLambdaVariable` hop ran interpreted. At sf0.1
  * that was 13-19 CPU-seconds per traversal of a 5 000-doc corpus, ~70% of
  * q_ngram_jaccard/q_minhash_lsh's executor time; at 100 TB it is the same
  * multiplier on the dominant scan stage. These helpers produce
  * VALUE-IDENTICAL results (same windows, same " " join with concat_ws's
  * null-skip, same first-occurrence distinct order, same xxhash64 seed 42)
  * in one tight loop per row — the [[MinHashSigF]] move applied to the
  * shingle production itself (guide §1.2 step 2: per-task work).
  */
object ShingleMath {
  private val SPACE = UTF8String.fromString(" ")

  /** concat_ws(" ", toks[from .. from+len-1]) — null elements skipped,
    * exactly like the SQL function ([[UTF8String.concatWs]] is what
    * Spark's ConcatWs calls).
    */
  private def joined(toks: ArrayData, from: Int, len: Int): UTF8String = {
    val parts = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      parts(i) = if (toks.isNullAt(from + i)) null else toks.getUTF8String(from + i)
      i += 1
    }
    UTF8String.concatWs(SPACE, parts: _*)
  }

  /** Reusable window-bytes scratch: writes the UTF-8 bytes of
    * concat_ws(" ", toks[from..from+len-1]) into a growable byte[] and
    * hashes them in place — the same bytes [[joined]] would produce, with
    * zero UTF8String allocation per window. xxhash64 over a byte[] at
    * Platform.BYTE_ARRAY_OFFSET equals hashUTF8String of the same bytes.
    */
  private final class WindowHasher {
    private var buf = new Array[Byte](256)
    def hash(toks: ArrayData, from: Int, len: Int, seed: Long): Long = {
      var pos = 0
      var wrote = false
      var i = 0
      while (i < len) {
        if (!toks.isNullAt(from + i)) {
          val t = toks.getUTF8String(from + i)
          val nb = t.numBytes()
          val need = pos + nb + 1
          if (need > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          if (wrote) { buf(pos) = ' '; pos += 1 }
          t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
          pos += nb
          wrote = true
        }
        i += 1
      }
      XXH64.hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, seed)
    }
  }

  /** Open-addressed long set with first-occurrence order tracking — the
    * allocation-free replacement for LinkedHashSet<Long> in the shingle
    * hash dedup (the set lives for one row; power-of-two capacity, linear
    * probing; occupancy tracked in a parallel boolean array so every long
    * value, including 0, is a valid member).
    */
  private final class LongOrderSet(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(16, expected * 2) - 1) << 1
    private var table = new Array[Long](cap)
    private var present = new Array[Boolean](cap)
    private var order = new Array[Long](math.max(8, expected))
    var size = 0
    def add(v: Long): Unit = {
      var idx = (java.lang.Long.hashCode(v) & 0x7fffffff) & (cap - 1)
      while (present(idx)) {
        if (table(idx) == v) return
        idx = (idx + 1) & (cap - 1)
      }
      table(idx) = v; present(idx) = true
      if (size == order.length)
        order = java.util.Arrays.copyOf(order, order.length * 2)
      order(size) = v; size += 1
      if (size * 2 > cap) grow()
    }
    private def grow(): Unit = {
      cap *= 2
      table = new Array[Long](cap)
      present = new Array[Boolean](cap)
      var i = 0
      while (i < size) {
        val v = order(i)
        var idx = (java.lang.Long.hashCode(v) & 0x7fffffff) & (cap - 1)
        while (present(idx)) idx = (idx + 1) & (cap - 1)
        table(idx) = v; present(idx) = true
        i += 1
      }
    }
    def toArray: Array[Long] = java.util.Arrays.copyOf(order, size)
  }

  /** Distinct n-gram shingle STRINGS in first-occurrence order — identical
    * to array_distinct over the transform-built gram array, including the
    * `< n tokens ⇒ one whole-text shingle` fallback (null toks behaves
    * like the old `when`'s otherwise-branch: a single "" shingle).
    */
  def shingleStrings(toks: ArrayData, n: Int): ArrayData = {
    val k = if (toks == null) 0 else toks.numElements()
    if (k >= n) {
      val seen = new java.util.LinkedHashSet[UTF8String](math.min(k, 1024))
      var i = 0
      while (i <= k - n) { seen.add(joined(toks, i, n)); i += 1 }
      new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
    } else {
      new GenericArrayData(Array[Any](joined(toks, 0, k)))
    }
  }

  /** Distinct xxhash64(seed 42) shingle HASHES in first-occurrence order —
    * identical to array_distinct(transform(grams, xxhash64)): the distinct
    * runs on the 64-bit hash values, exactly like the old expression.
    */
  def shingleHashes(toks: ArrayData, n: Int): ArrayData = {
    val k = if (toks == null) 0 else toks.numElements()
    val wh = new WindowHasher
    if (k >= n) {
      val seen = new LongOrderSet(k - n + 1)
      var i = 0
      while (i <= k - n) { seen.add(wh.hash(toks, i, n, 42L)); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(seen.toArray)
    } else {
      UnsafeArrayData.fromPrimitiveArray(Array(wh.hash(toks, 0, k, 42L)))
    }
  }

  /** MinHash signature DIRECTLY from the token array — the fused form of
    * shingleStrings + [[MinHashMath.signature]]: each n-gram window's
    * bytes are hashed in place (seeds 42 and 1, the Kirsch-Mitzenmacher
    * pair) with no shingle-string materialization and NO distinct pass —
    * duplicate shingles cannot change a minimum, so the signature is
    * value-identical to the deduped form (ShingleFSpec pins it).
    */
  def minhashFromTokens(toks: ArrayData, n: Int, numHashes: Int): ArrayData = {
    val M = 1L << 40
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val k = if (toks == null) 0 else toks.numElements()
    val wh = new WindowHasher
    val nWindows = if (k >= n) k - n + 1 else 1
    val wLen = if (k >= n) n else k
    var w = 0
    while (w < nWindows) {
      val h1 = Math.floorMod(wh.hash(toks, w, wLen, 42L), M)
      val h2 = Math.floorMod(wh.hash(toks, w, wLen, 1L), M) | 1L
      var i = 0
      var h = h1
      while (i < numHashes) {
        if (h < sig(i)) sig(i) = h
        h += h2
        if (h >= M) h -= M
        i += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** ALL n-gram window strings in positional order (non-distinct) —
    * identical to transform(sequence(0, k-n), i => concat_ws(" ",
    * slice(toks, i+1, n))); empty array when k < n (callers either
    * filter on size first or posexplode the empty array to zero rows).
    */
  def gramStrings(toks: ArrayData, n: Int): ArrayData = {
    val k = if (toks == null) 0 else toks.numElements()
    if (k < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](k - n + 1)
    var i = 0
    while (i <= k - n) { out(i) = joined(toks, i, n); i += 1 }
    new GenericArrayData(out)
  }

  /** ALL n-gram windows as md5 hex strings in positional order — identical
    * to transform(sequence(0, k-L), i => md5(concat_ws(" ", slice(toks,
    * i+1, L)))) with the `otherwise(empty)` fallback for k < L; digests
    * run over the same window bytes the joined string would hold.
    */
  def gramMd5(toks: ArrayData, n: Int): ArrayData = {
    val k = if (toks == null) 0 else toks.numElements()
    if (k < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](k - n + 1)
    var i = 0
    while (i <= k - n) {
      // DigestUtils.md5Hex over the string bytes = Spark's Md5 expression
      out(i) = UTF8String.fromString(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(joined(toks, i, n).getBytes))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All (n, pos, gram) windows for EVERY n in `ns`, flattened — the
    * one-pass gram emitter [[graft.operators.TextAnalysis.gopherRepetitionRules]]
    * explodes (previously nine interpreted transform/filter/slice/concat_ws
    * chains per row). Order matches per-n position order; consumers
    * aggregate, so inter-n order is irrelevant. Null/short toks yield the
    * same windows the filtered sequence produced (none below n tokens).
    */
  def multiGrams(toks: ArrayData, ns: Array[Int]): ArrayData = {
    val k = if (toks == null) 0 else toks.numElements()
    var total = 0
    var j = 0
    while (j < ns.length) { if (k >= ns(j)) total += k - ns(j) + 1; j += 1 }
    val out = new Array[Any](total)
    var o = 0
    j = 0
    while (j < ns.length) {
      val n = ns(j)
      var i = 0
      while (i <= k - n) {
        out(o) = new GenericInternalRow(Array[Any](n, i, joined(toks, i, n)))
        o += 1
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** All adjacent token pairs (w1, w2) in positional order — identical to
    * transform(sequence(0, k-2), i => struct(toks[i+1], toks[i+2])); empty
    * below 2 tokens. Values are defensive copies so the output never
    * aliases a reusable input buffer.
    */
  def bigrams(toks: ArrayData): ArrayData = {
    val k = if (toks == null) 0 else toks.numElements()
    if (k < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](k - 1)
    var i = 0
    var prev = if (toks.isNullAt(0)) null else toks.getUTF8String(0).clone()
    while (i < k - 1) {
      val next = if (toks.isNullAt(i + 1)) null else toks.getUTF8String(i + 1).clone()
      out(i) = new GenericInternalRow(Array[Any](prev, next))
      prev = next
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-row term frequencies keyed by xxhash64(term, seed 42):
    * array<struct<term_h, tf>> with one entry per distinct term — the
    * row-local equivalent of explode(toks) → xxhash64 → groupBy(doc,
    * term_h).count(), so the corpus-sized (doc, term) aggregate exchange
    * disappears from the TF-IDF plan. A null token hashes to the seed
    * (42), mirroring SQL xxhash64(null); null/empty toks ⇒ empty array
    * (explode of an empty array emitted no rows).
    */
  def termFreqs(toks: ArrayData): ArrayData = {
    val k = if (toks == null) 0 else toks.numElements()
    if (k == 0) return new GenericArrayData(Array.empty[Any])
    val m = new java.util.LinkedHashMap[java.lang.Long, Array[Long]](math.min(k, 1024))
    var i = 0
    while (i < k) {
      val h: java.lang.Long =
        if (toks.isNullAt(i)) 42L
        else XXH64.hashUTF8String(toks.getUTF8String(i), 42L)
      val slot = m.get(h)
      if (slot == null) m.put(h, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey.longValue(), e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }
}

private[functions] trait TokArrayInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = self.child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"${self.prettyName} requires array<string>, got $t")
  }
  /** Null input is handled inside the math (it reproduces the old
    * when/otherwise fallback), so the output is never null.
    */
  override def nullable: Boolean = false
}

/** Codegen'd distinct shingle strings: array<string> tokens →
  * array<string> of n-gram shingles (see [[ShingleMath.shingleStrings]]).
  */
case class ShingleStringsF(child: Expression, n: Int)
    extends UnaryExpression with TokArrayInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.shingleStrings(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.shingleStrings(
          ${c.isNull} ? null : ($arrCls) ${c.value}, $n);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleStringsF =
    copy(child = newChild)
}

/** Codegen'd distinct shingle hashes: array<string> tokens → array<bigint>
  * of xxhash64(shingle) values (see [[ShingleMath.shingleHashes]]).
  */
case class ShingleHashesF(child: Expression, n: Int)
    extends UnaryExpression with TokArrayInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.shingleHashes(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.shingleHashes(
          ${c.isNull} ? null : ($arrCls) ${c.value}, $n);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesF =
    copy(child = newChild)
}

/** Codegen'd positional (non-distinct) n-gram strings: array<string>
  * tokens → array<string> windows (see [[ShingleMath.gramStrings]]).
  */
case class GramStringsF(child: Expression, n: Int)
    extends UnaryExpression with TokArrayInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.gramStrings(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.gramStrings(
          ${c.isNull} ? null : ($arrCls) ${c.value}, $n);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): GramStringsF =
    copy(child = newChild)
}

/** Codegen'd positional n-gram md5 hex hashes: array<string> tokens →
  * array<string> md5(window) (see [[ShingleMath.gramMd5]]).
  */
case class GramMd5F(child: Expression, n: Int)
    extends UnaryExpression with TokArrayInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.gramMd5(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.gramMd5(
          ${c.isNull} ? null : ($arrCls) ${c.value}, $n);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): GramMd5F =
    copy(child = newChild)
}

/** Codegen'd multi-size gram emitter: array<string> tokens →
  * array<struct<n:int, pos:int, gram:string>> over every window size in
  * `ns` (see [[ShingleMath.multiGrams]]).
  */
case class MultiGramsF(child: Expression, ns: Seq[Int])
    extends UnaryExpression with TokArrayInput {
  private lazy val nsArr = ns.toArray
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("pos", org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.multiGrams(child.eval(input).asInstanceOf[ArrayData], nsArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.multiGrams(
          ${c.isNull} ? null : ($arrCls) ${c.value}, $nsRef);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): MultiGramsF =
    copy(child = newChild)
}

/** Codegen'd adjacent-pair emitter: array<string> tokens →
  * array<struct<w1:string, w2:string>> (see [[ShingleMath.bigrams]]).
  */
case class BigramsF(child: Expression)
    extends UnaryExpression with TokArrayInput {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = true))),
    containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.bigrams(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.bigrams(
          ${c.isNull} ? null : ($arrCls) ${c.value});
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): BigramsF =
    copy(child = newChild)
}

/** Codegen'd fused MinHash-from-tokens: array<string> tokens →
  * array<bigint> signature (see [[ShingleMath.minhashFromTokens]]) —
  * value-identical to ShingleStringsF → [[MinHashSigF]] with zero shingle
  * materialization.
  */
case class MinHashTokensF(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with TokArrayInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.minhashFromTokens(child.eval(input).asInstanceOf[ArrayData], n, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.minhashFromTokens(
          ${c.isNull} ? null : ($arrCls) ${c.value}, $n, $numHashes);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashTokensF =
    copy(child = newChild)
}

/** Codegen'd per-row term frequencies: array<string> tokens →
  * array<struct<term_h: bigint, tf: bigint>> (see [[ShingleMath.termFreqs]]).
  */
case class TermFreqF(child: Expression)
    extends UnaryExpression with TokArrayInput {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term_h", LongType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def eval(input: InternalRow): Any =
    ShingleMath.termFreqs(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${c.code}
        $arrCls ${ev.value} = graft.functions.ShingleMath.termFreqs(
          ${c.isNull} ? null : ($arrCls) ${c.value});
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): TermFreqF =
    copy(child = newChild)
}
