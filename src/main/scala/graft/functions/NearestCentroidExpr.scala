package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** The centroid table the compiled assignment/probe loops run against:
  * ids ascending (the tie rule iterates ascending-cid), vectors, and
  * the precomputed norms — sqrt of the same sequential fold the
  * literal path's norm(c) computes, recomputed per executor
  * (@transient) rather than shipped. */
case class CentroidTable(ids: Array[Int], vecs: Array[Array[Double]])
    extends Serializable {
  require(ids.length == vecs.length && ids.nonEmpty,
    s"centroid table: ${ids.length} ids vs ${vecs.length} vectors")
  @transient lazy val norms: Array[Double] = vecs.map { c =>
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    math.sqrt(acc)
  }
  def doubles: Long = ids.length.toLong * (if (vecs.isEmpty) 0 else vecs(0).length)
}

object CentroidTable {
  /** Ascending-cid table — the sort is what makes "keep strict
    * improvements" equal the literal path's lexicographic min over
    * (negcos, cid) for ANY caller's table order. */
  def sorted(centroids: Array[(Int, Array[Double])]): CentroidTable = {
    val s = centroids.sortBy(_._1)
    CentroidTable(s.map(_._1), s.map(_._2))
  }
}

/** The one per-row loop both table carriers (reference-object and
  * broadcast) share, so the two rungs cannot drift numerically. */
private[functions] object CentroidKernel {
  /** Nearest centroid id — see [[NearestCentroid]] for the ordering
    * contract this implements. */
  def nearest(t: CentroidTable, childFloat: Boolean, v: ArrayData): Int = {
    val ids = t.ids; val vecs = t.vecs; val norms = t.norms
    val n = v.numElements()
    var vn = 0.0
    var i = 0
    while (i < n) {
      val x = if (childFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    val vnorm = math.sqrt(vn)
    var bestCos = Double.NaN
    var bestCid = ids(0)
    var k = 0
    while (k < vecs.length) {
      val c = vecs(k)
      val m = math.min(n, c.length)
      var dot = 0.0
      i = 0
      while (i < m) {
        val x = if (childFloat) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * c(i)
        i += 1
      }
      val cos = dot / (vnorm * norms(k))
      // strict improvement only: ties keep the earlier = smaller cid, as
      // least(struct(-cos, cid)) does. A NaN cosine ranks below every
      // real one (see NearestCentroid's NaN rule): a real cosine
      // displaces a NaN best (second disjunct), a NaN candidate never
      // displaces anything (both disjuncts false), and an all-NaN row
      // keeps the initial minimum cid
      if (cos > bestCos || (java.lang.Double.isNaN(bestCos) &&
            !java.lang.Double.isNaN(cos))) { bestCos = cos; bestCid = ids(k) }
      k += 1
    }
    bestCid
  }

  /** Top-k centroid ids by (cos desc, cid asc) — see [[TopCentroids]]. */
  def top(t: CentroidTable, childFloat: Boolean, k: Int, v: ArrayData): ArrayData = {
    val ids = t.ids; val vecs = t.vecs; val norms = t.norms
    val n = v.numElements()
    var vn = 0.0
    var i = 0
    while (i < n) {
      val x = if (childFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    val vnorm = math.sqrt(vn)
    val kk = math.min(k, ids.length)
    val bufCos = new Array[Double](kk)
    val bufCid = new Array[Int](kk)
    var size = 0
    var c = 0
    while (c < vecs.length) {
      val cv = vecs(c)
      val m = math.min(n, cv.length)
      var dot = 0.0
      i = 0
      while (i < m) {
        val x = if (childFloat) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * cv(i)
        i += 1
      }
      val cos = dot / (vnorm * norms(c))
      // first slot whose cosine this STRICTLY beats: equal cosines keep
      // the earlier (smaller-cid) entry ahead. "Beats" ranks NaN below
      // every real cosine (see NearestCentroid's NaN rule): a NaN
      // candidate beats nothing — it fills trailing slots only, after
      // earlier NaNs (cid order among them) — and a real candidate
      // displaces a NaN buffer entry, so a degenerate zero-norm
      // centroid can never occupy a probe slot ahead of a real one
      var pos = 0
      while (pos < size && !(cos > bufCos(pos) ||
               (java.lang.Double.isNaN(bufCos(pos)) &&
                 !java.lang.Double.isNaN(cos)))) pos += 1
      if (pos < kk) {
        val last = math.min(size, kk - 1)
        var j = last
        while (j > pos) { bufCos(j) = bufCos(j - 1); bufCid(j) = bufCid(j - 1); j -= 1 }
        bufCos(pos) = cos
        bufCid(pos) = ids(c)
        if (size < kk) size += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bufCid, size))
  }
}

/** Nearest-centroid id by cosine similarity, as ONE compiled loop over a
  * centroid table carried as a plan REFERENCE OBJECT — the large-nlist
  * form of [[graft.operators.Similarity.IvfIndex.assign]]'s quantizer
  * step.
  *
  * Why it exists: the literal formulation — `least(struct(-cosine(v,
  * array(lit…)), lit(cid)) …)` over nlist struct branches — embeds
  * nlist·dim literals in the expression tree. That is the right plan at
  * catalog nlist (tens: whole-stage codegen, constant-folded norms), but
  * nlist must GROW with the corpus (cells ∝ corpus / targetCell), and a
  * plan tree of 10⁴–10⁵ branches breaks down long before 100 TB:
  * analysis and codegen go superlinear in tree size, the generated
  * method blows the JIT limit and falls back to interpretation, and
  * every task binary re-ships the tree. Here the table is ONE object
  * (ids + vectors + per-executor norms), referenced once per task via
  * `addReferenceObj`, and the per-row work is the same nlist·dim
  * multiply-adds inside a single JIT-compiled method.
  *
  * Bit-compatibility with the literal path (asserted by spec): the
  * per-centroid cosine is the identical sequential left-to-right fold
  * [[VecDot]] computes (norms included — precomputed once here, but the
  * same double either way), and selection minimizes (-cos, cid)
  * lexicographically exactly as `least(struct(negcos, cid))` does:
  * ascending-cid iteration keeping strict improvements — ties keep the
  * smaller cid.
  *
  * NaN rule: a NaN cosine — 0/0 in Java arithmetic, possible only from
  * a zero-NORM centroid in a caller-supplied table or a zero input
  * vector — ranks BELOW every real cosine (it is skipped unless every
  * cosine is NaN, in which case the minimum cid wins). This is a
  * DELIBERATE divergence from both literal modes, which are unusable
  * references on degenerate inputs (measured, DedupSimilaritySpec):
  * under ANSI the literal's SQL Divide THROWS on the 0/0; with ANSI
  * off it yields NULL — not NaN — and a NULL struct field sorts FIRST
  * in `least`, so the literal/non-ANSI form assigns EVERY row to the
  * degenerate centroid (precisely the all-rows flood the salt guard's
  * "train the quantizer" warning exists to catch). Ranking the
  * degenerate centroid last is the only ordering under which real
  * centroids keep winning; on well-formed tables (all norms non-zero,
  * the operator's contract) no NaN arises and the two forms are
  * bit-identical.
  *
  * Scale envelope: the reference object is serialized into every
  * STAGE's task binary, so this form is right while the table is small
  * against the stage-launch budget (single-digit MB). Past that — and
  * nlist grows with the corpus — use [[NearestCentroidBcast]]: the
  * identical kernel with the table behind a TorrentBroadcast, fetched
  * once per executor and cached across every stage and query that uses
  * it, while the expression serializes to a fixed-size handle.
  * [[NearestCentroid.auto]] routes between the two on table size. */
case class NearestCentroid(child: Expression,
                           ids: Array[Int],
                           vecs: Array[Array[Double]]) extends UnaryExpression {
  @transient private lazy val table = CentroidTable(ids, vecs)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  @transient private lazy val childFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def nearest(v: ArrayData): Int = CentroidKernel.nearest(table, childFloat, v)

  override def nullSafeEval(v: Any): Any = nearest(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.nearest($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  def column(vec: Column, centroids: Array[(Int, Array[Double])]): Column = {
    val t = CentroidTable.sorted(centroids)
    GraftBridge.column(NearestCentroid(GraftBridge.expression(vec),
      t.ids, t.vecs))
  }

  /** The broadcast rung: same loop, table fetched from a
    * TorrentBroadcast. The caller owns the broadcast's lifetime
    * (`bcast.destroy()` when the index is dropped). */
  def columnBroadcast(vec: Column, bcast: Broadcast[CentroidTable]): Column =
    GraftBridge.column(NearestCentroidBcast(GraftBridge.expression(vec), bcast))

  /** Route by table size: up to [[CentroidRouting.bcastDoubles]] doubles
    * the table rides the expression (zero extra moving parts); above it
    * a broadcast is created here and the handle rides instead. */
  def auto(vec: Column, centroids: Array[(Int, Array[Double])],
           spark: org.apache.spark.sql.SparkSession): Column = {
    val t = CentroidTable.sorted(centroids)
    if (CentroidRouting.useBroadcast(t.doubles))
      columnBroadcast(vec, spark.sparkContext.broadcast(t))
    else GraftBridge.column(NearestCentroid(GraftBridge.expression(vec),
      t.ids, t.vecs))
  }
}

/** [[NearestCentroid]] with the centroid table behind an explicit
  * TorrentBroadcast — the rung past the reference-object envelope.
  * The expression (and therefore every stage's task binary) carries
  * only the broadcast HANDLE; executors torrent-fetch the table once
  * and every stage and query sharing the handle reuses the cached
  * value, where the reference-object form re-ships the table with each
  * stage's serialized tasks. Output is bit-identical: both forms call
  * the same [[CentroidKernel]] loop (spec-asserted). */
case class NearestCentroidBcast(child: Expression,
                                bcast: Broadcast[CentroidTable])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid_bcast"

  @transient private lazy val childFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def nearest(v: ArrayData): Int =
    CentroidKernel.nearest(bcast.value, childFloat, v)

  override def nullSafeEval(v: Any): Any = nearest(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroidBcast", this,
      classOf[NearestCentroidBcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.nearest($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidBcast =
    copy(child = newChild)
}

/** Size routing between the reference-object and broadcast carriers —
  * one place, shared by assignment and probe list. */
object CentroidRouting {
  /** Table-size line (in doubles) above which the broadcast carrier is
    * used: 2ⁱ⁸ doubles = 2 MB — well under the reference-object form's
    * workable envelope, but past the point where re-serializing the
    * table into every stage's task binary is measurable waste against a
    * once-per-executor torrent fetch. The table's size is the only
    * input: both carriers run the same kernel, so the route changes
    * cost, never output. */
  val bcastDoubles: Long = 1L << 18

  def useBroadcast(doubles: Long): Boolean = doubles > bcastDoubles
}

/** The k nearest centroid ids by cosine, ordered by (cos desc, cid asc)
  * — [[NearestCentroid]]'s top-k sibling, for the IVF QUERY side's probe
  * list ([[graft.operators.Similarity.IvfIndex.topK]]). The literal
  * formulation there — `slice(sort_array(array(struct(-cos, cid) …)),
  * 1, nprobe)` — sorts an nlist-element struct array built from
  * nlist·dim plan literals per row: correct at catalog nlist, breaks
  * down past a few hundred centroids exactly like the assignment tree.
  * Here: one referenced table, one compiled loop, an insertion buffer
  * of k slots (k = nprobe, small). Same doubles, same order (equal
  * cosines resolve to the smaller cid because insertion is strict and
  * iteration is ascending-cid). Same NaN rule as [[NearestCentroid]]:
  * a NaN cosine ranks below every real one, so degenerate zero-norm
  * centroids fill trailing probe slots (cid order) only. Same scale
  * rungs too: [[TopCentroidsBcast]] carries the table behind a
  * broadcast, [[TopCentroids.auto]] routes on table size. */
case class TopCentroids(child: Expression,
                        ids: Array[Int],
                        vecs: Array[Array[Double]],
                        k: Int) extends UnaryExpression {
  require(k >= 1, s"k=$k")
  @transient private lazy val table = CentroidTable(ids, vecs)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_top_centroids"

  @transient private lazy val childFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def top(v: ArrayData): ArrayData = CentroidKernel.top(table, childFloat, k, v)

  override def nullSafeEval(v: Any): Any = top(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCentroids", this,
      classOf[TopCentroids].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.top($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCentroids =
    copy(child = newChild)
}

object TopCentroids {
  def column(vec: Column, centroids: Array[(Int, Array[Double])], k: Int): Column = {
    val t = CentroidTable.sorted(centroids)
    GraftBridge.column(TopCentroids(GraftBridge.expression(vec),
      t.ids, t.vecs, k))
  }

  def columnBroadcast(vec: Column, bcast: Broadcast[CentroidTable],
                      k: Int): Column =
    GraftBridge.column(TopCentroidsBcast(GraftBridge.expression(vec), bcast, k))

  def auto(vec: Column, centroids: Array[(Int, Array[Double])], k: Int,
           spark: org.apache.spark.sql.SparkSession): Column = {
    val t = CentroidTable.sorted(centroids)
    if (CentroidRouting.useBroadcast(t.doubles))
      columnBroadcast(vec, spark.sparkContext.broadcast(t), k)
    else GraftBridge.column(TopCentroids(GraftBridge.expression(vec),
      t.ids, t.vecs, k))
  }
}

/** [[TopCentroids]] over a broadcast-carried table — see
  * [[NearestCentroidBcast]] for the carrier trade. */
case class TopCentroidsBcast(child: Expression,
                             bcast: Broadcast[CentroidTable],
                             k: Int) extends UnaryExpression {
  require(k >= 1, s"k=$k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_top_centroids_bcast"

  @transient private lazy val childFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def top(v: ArrayData): ArrayData =
    CentroidKernel.top(bcast.value, childFloat, k, v)

  override def nullSafeEval(v: Any): Any = top(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCentroidsBcast", this,
      classOf[TopCentroidsBcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.top($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCentroidsBcast =
    copy(child = newChild)
}
