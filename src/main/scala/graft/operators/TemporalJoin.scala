package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark has no native operator for: point-in-time (as-of)
  * and bounded-interval joins. Both are everyday operations over event
  * streams (attach the last prior purchase to a click; pair clicks with
  * purchases that follow within a window) that naive formulations turn
  * into scale-killers — a θ-join on `l.key = r.key AND l.ts BETWEEN ...`
  * plans as a broadcast-nested-loop or a per-key cartesian.
  *
  * The reference has no temporal operators (its scrape batches are
  * point-in-time snapshots, `M/dags/marketeye_etl_dag.py:322-335` stamps
  * one scraped_at per run); these are the engine-level primitives its
  * price-history roadmap would need, built the way a 100 TB engine must:
  *
  *  - [[asOf]]: union both sides and run ONE window pass partitioned by
  *    key — a single shuffle, state per row is O(1) (the running "last
  *    right-side payload"), no join blow-up at all. This is the classic
  *    distributed as-of formulation (sort-merge over a tagged union).
  *  - [[intervalBucketed]]: bucketize time so each right row lands in at
  *    most ⌈window/bucket⌉+1 buckets, join on (key, bucket) — a pure
  *    equi-join Catalyst shuffles on both sides — then filter exactly.
  *    Pair volume is bounded by true matches + same-bucket near-misses,
  *    never |L|·|R| per key. [[interval]] picks it vs the naive SMJ
  *    ([[intervalNaive]]) from a key-histogram sample.
  */
object TemporalJoin {

  /** Point-in-time join: for each left row, the single most recent right
    * row with `right.ts <= left.ts` for the same key (ties on ts resolved
    * toward the larger `seqCol` — deterministic under any partitioning).
    *
    * Output = left columns + right payload columns (null when no right row
    * precedes). One shuffle total: both sides are tagged, unioned, and
    * scanned by a (key)-partitioned (ts, side, seq)-ordered window whose
    * running `last(payload, ignoreNulls)` carries the newest right payload
    * forward — right rows sort BEFORE left rows at the same ts, so an
    * exactly-simultaneous right row is visible (ASOF `>=` semantics).
    *
    * All payload columns travel in ONE struct through a single
    * `last(ignoreNulls)`, so every matched field comes from the SAME right
    * row — a null field inside the newest right row stays null instead of
    * resurrecting an older row's value (per-column carry would mix rows).
    * `keyCol`/`tsCol`/`seqCol` are expected non-null on both sides; only
    * payload fields may be null.
    *
    * 100 TB shape: one exchange per side on the join key, O(1) window
    * state, no pair amplification; skewed keys cost the sort of their own
    * rows, not a cross product. */
  def asOf(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           seqCol: String, payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns
    // tagged union: right rows carry the payload struct, left rows carry a
    // null struct. side=0 (right) sorts before side=1 (left) at equal ts.
    val payloadType = org.apache.spark.sql.types.StructType(
      payloadCols.map(c => right.schema(c)))
    val rTagged = right.select(
      col(keyCol) +: col(tsCol) +: lit(0).as("__side") +: col(seqCol).as("__seq") +:
        (struct(payloadCols.map(col): _*).as("__p") +:
          leftCols.filterNot(c => c == keyCol || c == tsCol).map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val lTagged = left.select(
      col(keyCol) +: col(tsCol) +: lit(1).as("__side") +: col(seqCol).as("__seq") +:
        (lit(null).cast(payloadType).as("__p") +:
          leftCols.filterNot(c => c == keyCol || c == tsCol).map(col)): _*)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol), col("__side"), col("__seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rTagged.unionByName(lTagged)
      .withColumn("__c", last(col("__p"), ignoreNulls = true).over(w))
    carried.where(col("__side") === 1)
      .select(leftCols.map(col) ++
        payloadCols.map(c => col(s"__c.$c").as(s"m_$c")): _*)
  }

  /** Bounded-interval join with automatic plan choice — the entry point
    * callers should use. Two lossless formulations exist with a
    * data-dependent winner (BENCH_NOTES r7, "Interval-join formulations
    * A/B'd under skew"): the naive sort-merge θ-join wins uniform keys
    * by ~1.4× (no explode, one exchange fewer), while the time-bucketed
    * equi-join ([[intervalBucketed]]) wins a planted 30%-hot-key skew by 54× —
    * per-key pair volume is quadratic for the SMJ and bounded by bucket
    * co-residence for the bucketed plan.
    *
    * The choice is wired to a cheap key-histogram sample: each side's
    * max-key share is estimated from a seeded `sampleFraction` sample
    * (two small aggregation jobs at plan-construction time, O(sample)
    * driver state), and the bucketed plan is taken iff the estimated
    * hot-key pair count exceeds `pairBudgetPerRow` pairs per input row
    * ([[useBucketed]]). Callers who already know their key distribution
    * (catalog statistics, a previous run) should call
    * [[intervalBucketed]]/[[intervalNaive]] directly and skip the
    * sample. */
  def interval(left: DataFrame, right: DataFrame, keyCol: String,
               leftTsSec: String, rightTsSec: String,
               lowerSec: Long, upperSec: Long, bucketSec: Long,
               sampleFraction: Double = 0.02,
               pairBudgetPerRow: Double = 8.0): DataFrame = {
    val (shareL, nL) = keyShare(left, keyCol, sampleFraction)
    val (shareR, nR) = keyShare(right, keyCol, sampleFraction)
    if (useBucketed(shareL, shareR, nL, nR, pairBudgetPerRow))
      intervalBucketed(left, right, keyCol, leftTsSec, rightTsSec,
        lowerSec, upperSec, bucketSec)
    else
      intervalNaive(left, right, keyCol, leftTsSec, rightTsSec,
        lowerSec, upperSec)
  }

  /** [[keyShare]] memo keyed by (canonicalized input plan, key, fraction):
    * re-planning a join over the SAME input lineage (a catalog query
    * re-executed, a pipeline that builds the plan per batch) pays the two
    * sample jobs once per session instead of per construction. A stale or
    * hash-colliding entry can only steer the PLAN CHOICE, never change
    * results — both arms are exact — so session-lifetime staleness is
    * safe. Bounded: cleared wholesale past 1024 entries (plan-build-time
    * state on the driver, not data). */
  private val keyShareCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, Double), (Double, Double)]()

  /** (estimated max-key share, estimated row count) from a seeded sample
    * — one tiny two-row aggregation per side, memoized per input lineage. */
  private def keyShare(df: DataFrame, keyCol: String,
                       fraction: Double): (Double, Double) = {
    val key = (df.queryExecution.analyzed.canonicalized.semanticHash(),
      keyCol, fraction)
    if (keyShareCache.size > 1024) keyShareCache.clear()
    keyShareCache.computeIfAbsent(key, _ => keyShareSample(df, keyCol, fraction))
  }

  private def keyShareSample(df: DataFrame, keyCol: String,
                             fraction: Double): (Double, Double) = {
    val row = df.select(col(keyCol))
      .sample(withReplacement = false, fraction, seed = 42)
      .groupBy(keyCol).count()
      .agg(max(col("count")).cast("double"), sum(col("count")).cast("double"))
      .head()
    val mx = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    val tot = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
    (if (tot > 0) mx / tot else 0.0, tot / fraction)
  }

  /** Bucketed iff the hot-key pair product (share_L·|L|)·(share_R·|R|)
    * exceeds `pairBudgetPerRow·(|L|+|R|)` — i.e. the naive SMJ's worst
    * single key alone would stream more than a per-row budget of pairs.
    * Uniform keys: share ≈ 1/K, product ≈ |L|·|R|/K² — tiny. A 30% hot
    * key: 0.09·|L|·|R| — catastrophically past any linear budget. An
    * empty/near-empty sample yields share 0 → naive (tiny inputs never
    * need the explode). */
  private[graft] def useBucketed(shareL: Double, shareR: Double,
                                 nL: Double, nR: Double,
                                 pairBudgetPerRow: Double): Boolean =
    shareL * nL * shareR * nR > pairBudgetPerRow * (nL + nR)

  /** Naive interval formulation: equality on the key, range as a join
    * filter — Catalyst plans a sort-merge join. Σ per-key |L_k|·|R_k|
    * pair stream: the right plan for uniform keys, quadratic on a hot
    * key. Same output contract as [[intervalBucketed]]. */
  def intervalNaive(left: DataFrame, right: DataFrame, keyCol: String,
                    leftTsSec: String, rightTsSec: String,
                    lowerSec: Long, upperSec: Long): DataFrame = {
    require(upperSec >= lowerSec, "empty interval")
    left.join(right,
        left(keyCol) === right(keyCol) &&
          right(rightTsSec) >= left(leftTsSec) + lowerSec &&
          right(rightTsSec) <= left(leftTsSec) + upperSec)
      .drop(right(keyCol))
  }

  /** Bounded-interval join: all (left, right) pairs with equal key and
    * `right.ts` in `[left.ts + lowerSec, left.ts + upperSec]` (seconds).
    *
    * Time is cut into `bucketSec`-wide buckets; each LEFT row's window
    * covers at most ⌈(upper-lower)/bucket⌉+1 of them, so the left side
    * explodes into that constant number of (key, bucket) rows and the
    * join is a plain equi-join on (key, bucket) + an exact range filter.
    * Choose `bucketSec >= upperSec - lowerSec` to pin the constant at 2.
    *
    * 100 TB shape: shuffle keys carry the bucket, so a hot key's rows
    * spread over time buckets instead of one reducer; pair volume is
    * matches + same-bucket near-misses, never per-key |L|·|R|. */
  def intervalBucketed(left: DataFrame, right: DataFrame, keyCol: String,
                       leftTsSec: String, rightTsSec: String,
                       lowerSec: Long, upperSec: Long, bucketSec: Long): DataFrame = {
    require(upperSec >= lowerSec, "empty interval")
    require(bucketSec > 0, "bucketSec must be positive")
    val nBuckets = ((upperSec - lowerSec) / bucketSec + 2).toInt
    val lExpl = left
      .withColumn("__b0", floor((col(leftTsSec) + lowerSec) / bucketSec))
      .withColumn("__bucket",
        explode(sequence(col("__b0"), floor((col(leftTsSec) + upperSec) / bucketSec))))
      .drop("__b0")
    require(nBuckets <= 64, s"window/bucket ratio too large: $nBuckets")
    val rB = right.withColumn("__bucket", floor(col(rightTsSec) / bucketSec))
    lExpl.join(rB,
        lExpl("__bucket") === rB("__bucket") && lExpl(keyCol) === rB(keyCol) &&
          rB(rightTsSec) >= lExpl(leftTsSec) + lowerSec &&
          rB(rightTsSec) <= lExpl(leftTsSec) + upperSec)
      .drop(rB(keyCol)).drop(lExpl("__bucket")).drop(rB("__bucket"))
  }
}
