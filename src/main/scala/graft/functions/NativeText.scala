package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Native text/pair expressions for the hot near-dup paths.
  *
  * The column-expression formulations (normalize → split → slice-transform
  * shingles → per-seed transform minhash → nested-transform pair
  * explosion) are correct but live entirely in interpreted higher-order
  * functions: every lambda application walks an expression tree per
  * element. These expressions do the same work as straight compiled JVM
  * loops — one pass per row — and generate code (doGenCode calling the
  * static helpers below) so they stay inside whole-stage codegen instead
  * of forcing a CodegenFallback row materialization. Semantics are
  * bit-identical to the column versions (asserted in DedupSimilaritySpec),
  * so the DuckDB oracles are unchanged.
  */
object NativeText {

  /** normalizeText + whitespace tokenization in one pass: lowercase,
    * [a-z0-9]+ runs are tokens, everything else separates. */
  def tokenize(s: String): mutable.ArrayBuffer[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = s.length
    while (i <= n) {
      val c = if (i < n) Character.toLowerCase(s.charAt(i)) else ' '
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    out
  }

  /** Word n-gram shingles with the same edge semantics as
    * [[TextFunctions.shingles]]: k ≤ n → one whole-text shingle. */
  def shingleStrings(s: String, n: Int): Array[String] = {
    val toks = tokenize(s)
    val k = toks.length
    if (n <= 1) return toks.toArray
    if (k <= n) return Array(toks.mkString(" "))
    Array.tabulate(k - n + 1)(i => toks.slice(i, i + n).mkString(" "))
  }

  private def distinctShingles(s: String, n: Int): mutable.LinkedHashSet[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    shingleStrings(s, n).foreach(seen.add)
    seen
  }

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  // --- static helpers called from generated code -------------------------

  /** Distinct word n-gram shingles of a text value (codegen entry point). */
  def shinglesData(input: UTF8String, n: Int): ArrayData = {
    val seen = distinctShingles(input.toString, n)
    new GenericArrayData(seen.iterator.map(UTF8String.fromString).toArray[Any])
  }

  /** MinHash signature over the distinct gram set, ONE md5 digest per gram:
    * h1/h2 = first/second 32 bits of md5(gram) (== value of hex chars
    * [1,8] / [9,16]), per-seed hash value = h1 + seed·h2 (Kirsch-
    * Mitzenmacher double hashing — the standard way to derive k hash
    * functions from one digest; values < 2^35 so the arithmetic is exact
    * in any engine's signed 64-bit integers, no wrap-around semantics
    * needed). min per seed over grams. Codegen entry point. */
  def minhashLongs(input: UTF8String, numHashes: Int, shingleN: Int): ArrayData = {
    val grams = distinctShingles(input.toString, shingleN)
    val md = Md5.get()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    grams.foreach { g =>
      md.reset()
      val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var i = 0
      while (i < numHashes) {
        val v = h1 + i.toLong * h2
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    new GenericArrayData(mins.map(Long.box).toArray[Any])
  }

  /** Refinement minhash rows over the distinct gram set — an INDEPENDENT
    * hash family from [[minhashLongs]]: row r hashes each gram as
    * md5('r' ++ r ++ ':' ++ gram) and takes the first 62 bits. The
    * Kirsch-Mitzenmacher rows of the signature family are linear in the
    * seed (h1 + seed·h2), so whenever one gram minimizes BOTH digest
    * halves it wins EVERY seed — over a small vocabulary whole corpora
    * share full signatures and reserve rows from that family cannot split
    * a flooded bucket. Salted per-row digests are pairwise independent
    * across rows, so each refinement level splits by the key's true
    * alphabet. Not oracle-portable — refinement only fires beyond the
    * no-flood regime, where no SQL twin applies. Codegen entry point. */
  def minhashRefineLongs(input: UTF8String, numRows: Int, shingleN: Int): ArrayData = {
    val grams = distinctShingles(input.toString, shingleN)
    val md = Md5.get()
    val mins = Array.fill(numRows)(Long.MaxValue)
    grams.foreach { g =>
      val bytes = g.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var r = 0
      while (r < numRows) {
        md.reset()
        md.update('r'.toByte); md.update((r & 0xff).toByte); md.update(':'.toByte)
        val d = md.digest(bytes)
        val v = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 2
        if (v < mins(r)) mins(r) = v
        r += 1
      }
    }
    new GenericArrayData(mins.map(Long.box).toArray[Any])
  }

  /** Distinct gram set hashed to 62-bit ints: per gram ONE md5 digest,
    * v = h1·2^30 + (h2 >> 2) with h1/h2 the 32-bit digest halves (same
    * derivation as [[minhashLongs]]) — fits signed 64-bit in any engine.
    * Set cardinalities and intersections over the hashed sets equal those
    * over the grams themselves (62-bit collisions are negligible and,
    * being deterministic, would agree across engines anyway), while the
    * pairwise-verify joins carry 8-byte elements instead of gram strings.
    * Codegen entry point. */
  def gramHashes(input: UTF8String, shingleN: Int): ArrayData = {
    val grams = distinctShingles(input.toString, shingleN)
    val md = Md5.get()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    grams.foreach { g =>
      md.reset()
      val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      seen.add(h1 * 1073741824L + (h2 >> 2))
    }
    val out = new Array[Long](seen.size())
    var i = 0
    val it = seen.iterator()
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    // sorted so consumers can merge-intersect (set semantics — order
    // carries no information; every consumer is order-insensitive)
    java.util.Arrays.sort(out)
    new GenericArrayData(out.map(Long.box).toArray[Any])
  }

  /** |a ∩ b| of two SORTED distinct long arrays by linear merge — the
    * compiled twin of size(array_intersect(a, b)), which builds a hash
    * set per evaluation; on the pair-verify hot path that allocation
    * dominates. Codegen entry point. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    var j = 0
    var n = 0
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va == vb) { n += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    n
  }

  /** Per-document term frequencies in one pass (codegen entry point for
    * [[TermCounts]]): tokenize, count into an insertion-ordered map, emit
    * array<struct<term,tf>>. Map-side replacement for
    * explode(tokens) → groupBy(doc, term) — the (doc, term) aggregation is
    * group-local to the row, so shuffling individual token instances only
    * to count them next to their own document is pure waste at any scale. */
  def termCounts(input: UTF8String): ArrayData = {
    val counts = new java.util.LinkedHashMap[String, Long]()
    tokenize(input.toString).foreach { t =>
      val c = counts.get(t)
      counts.put(t, if (c == null) 1L else c + 1L)
    }
    val out = new Array[Any](counts.size())
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass text statistics (codegen entry point for [[TextStats]]). */
  def textStatsRow(input: UTF8String): InternalRow = {
    val s = input.toString
    var punct, letters, uppers = 0
    var i = 0
    val n = s.length
    val chars = s.codePointCount(0, n)
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
          (c >= '[' && c <= '`') || (c >= '{' && c <= '~')) punct += 1
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) letters += 1
      if (c >= 'A' && c <= 'Z') uppers += 1
      i += 1
    }
    var nTok, tokChars, en, fr, es, all = 0
    tokenize(s).foreach { t =>
      nTok += 1
      tokChars += t.length
      val inEn = TextStats.En.contains(t)
      val inFr = TextStats.Fr.contains(t)
      val inEs = TextStats.Es.contains(t)
      if (inEn) en += 1
      if (inFr) fr += 1
      if (inEs) es += 1
      if (inEn || inFr || inEs) all += 1
    }
    InternalRow(chars, nTok, punct, letters, uppers, tokChars, en, fr, es, all)
  }

  /** One-pass repetition statistics (see [[RepetitionStats]]): token and
    * bigram occurrence counts in two hash maps, no re-tokenization. Bigram
    * edge semantics match [[shingleStrings]] (k ≤ 2 → one whole-text
    * gram), so results line up with the d4-family gram conventions. */
  def repetitionStatsRow(input: UTF8String): InternalRow = {
    val toks = tokenize(input.toString)
    val nTok = toks.length
    val seen = new java.util.HashSet[String]()
    toks.foreach(seen.add)
    val bigrams = new java.util.HashMap[String, Int]()
    var topBigram = 0
    var nBigrams = 0
    def add(g: String): Unit = {
      val c = bigrams.merge(g, 1, Integer.sum)
      if (c > topBigram) topBigram = c
      nBigrams += 1
    }
    if (nTok <= 2) add(toks.mkString(" "))
    else {
      var i = 0
      while (i < nTok - 1) { add(toks(i) + " " + toks(i + 1)); i += 1 }
    }
    InternalRow(nTok, nTok - seen.size(), topBigram, nBigrams)
  }
}

/** array<string> of distinct word n-gram shingles of a text column. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def nullSafeEval(input: Any): Any =
    NativeText.shinglesData(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NativeText.shinglesData($c, $n);")

  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** array<long> of 62-bit gram hashes — see [[NativeText.gramHashes]]. */
case class GramHashes(child: Expression, shingleN: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"

  override def nullSafeEval(input: Any): Any =
    NativeText.gramHashes(input.asInstanceOf[UTF8String], shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NativeText.gramHashes($c, $shingleN);")

  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
}

/** LSH band keys of a minhash signature: array<string> of `bands`
  * entries, entry b = the band's `rowsPerBand` signature values joined
  * with '|' — byte-identical to
  * `transform(sequence(0,bands-1), b => concat_ws("|", transform(
  *   slice(sig, b*rpb+1, rpb), _.cast("string"))))`,
  * which is TWO nested higher-order functions (CodegenFallback) executed
  * per corpus row in the banding map stage — the single hottest
  * non-native spot left in candidate generation (r11 audit). One pass,
  * one StringBuilder per band, inside whole-stage codegen. */
case class BandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_band_keys"

  def keys(sig: ArrayData): ArrayData = {
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(rowsPerBand * 8)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('|')
        sb.append(sig.getLong(b * rowsPerBand + r))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    keys(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandKeys", this, classOf[BandKeys].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.keys($c);")
  }

  override protected def withNewChildInternal(c: Expression): BandKeys = copy(child = c)
}

/** array<struct<term:string,tf:long>> of per-document term frequencies —
  * see [[NativeText.termCounts]]. */
case class TermCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_term_counts"

  override def nullSafeEval(input: Any): Any =
    NativeText.termCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NativeText.termCounts($c);")

  override protected def withNewChildInternal(c: Expression): TermCounts = copy(child = c)
}

/** MinHash signature (numHashes longs) of a text column — see
  * [[NativeText.minhashLongs]] for the exact (portable) hash family. */
case class MinHashSignature(child: Expression, numHashes: Int, shingleN: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_signature"

  override def nullSafeEval(input: Any): Any =
    NativeText.minhashLongs(input.asInstanceOf[UTF8String], numHashes, shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NativeText.minhashLongs($c, $numHashes, $shingleN);")

  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

/** Refinement minhash rows (numRows longs) of a text column — the
  * independent salted-digest family for adaptive LSH bucket splitting;
  * see [[NativeText.minhashRefineLongs]]. */
case class MinHashRefine(child: Expression, numRows: Int, shingleN: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_refine"

  override def nullSafeEval(input: Any): Any =
    NativeText.minhashRefineLongs(input.asInstanceOf[UTF8String], numRows, shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NativeText.minhashRefineLongs($c, $numRows, $shingleN);")

  override protected def withNewChildInternal(c: Expression): MinHashRefine = copy(child = c)
}

/** All ordered (a < b) pairs of a pre-sorted array, as
  * array<struct<id_a,id_b>> — the compiled twin of the nested-transform
  * pair explosion (which allocates an interpreted slice per element).
  * Runs post-aggregation on bucket rows, but emits the CANDIDATE PAIR
  * volume (165M structs at sf10), and as a CodegenFallback it dragged
  * its whole Project — and the fused explode above it — out of
  * whole-stage codegen (r11 catalog audit: d2b/d4/d4b/d4c all carried
  * an interpreted Project for it). doGenCode is one reference-object
  * call, same pattern as its siblings. */
case class SortedPairs(child: Expression)
    extends UnaryExpression {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", elemType, nullable = false),
    StructField("id_b", elemType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_sorted_pairs"

  override def nullSafeEval(input: Any): Any =
    pairs(input.asInstanceOf[ArrayData])

  def pairs(arr: ArrayData): ArrayData = {
    val et = elemType
    val k = arr.numElements()
    val out = new Array[Any](k * (k - 1) / 2)
    var idx = 0
    var i = 0
    while (i < k) {
      val a = arr.get(i, et)
      var j = i + 1
      while (j < k) {
        out(idx) = InternalRow(a, arr.get(j, et))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedPairs", this, classOf[SortedPairs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.pairs($c);")
  }

  override protected def withNewChildInternal(c: Expression): SortedPairs = copy(child = c)
}

/** int |a ∩ b| of two sorted distinct long arrays — see
  * [[NativeText.sortedIntersectSize]]. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    NativeText.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NativeText.sortedIntersectSize($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

object NativeTextColumns {
  def wordShingles(c: Column, n: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(c), n))
  def sortedIntersectSize(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectSize(GraftBridge.expression(a), GraftBridge.expression(b)))
  def gramHashes(c: Column, n: Int): Column =
    GraftBridge.column(GramHashes(GraftBridge.expression(c), n))
  def minhashSignature(c: Column, numHashes: Int, shingleN: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(c), numHashes, shingleN))
  def minhashRefine(c: Column, numRows: Int, shingleN: Int): Column =
    GraftBridge.column(MinHashRefine(GraftBridge.expression(c), numRows, shingleN))
  def termCounts(c: Column): Column =
    GraftBridge.column(TermCounts(GraftBridge.expression(c)))
  def sortedPairs(c: Column): Column =
    GraftBridge.column(SortedPairs(GraftBridge.expression(c)))
  def bandKeys(c: Column, bands: Int, rowsPerBand: Int): Column =
    GraftBridge.column(BandKeys(GraftBridge.expression(c), bands, rowsPerBand))
}
