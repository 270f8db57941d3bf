package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * rand()-based sampling is non-reproducible across runs, partitionings,
  * and engines; these operators derive the keep/drop decision from a
  * portable hash of the row id, so the SAME rows are sampled on every
  * run, on any cluster, and in any engine that has md5 — which is what
  * makes a downsampled corpus auditable and a sampling step
  * oracle-verifiable.
  */
object Sampling {

  /** Deterministic bucket in [0, 100): value of the first 4 hex chars of
    * md5(id) mod 100. Portable (the d3/m1 hex-math pattern recomputes it
    * in SQL engines without conv()). */
  def hashBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** Stratified downsampling at per-stratum percentage rates (e.g.
    * rebalancing languages or sources in a training mix). A pure filter:
    * no shuffle, no rand(), runs inside the scan stage at any scale. */
  def stratified(df: DataFrame, idCol: String, strataCol: String,
                 rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldRight(lit(defaultRate): Column) { case ((k, v), fb) =>
      when(col(strataCol) === k, lit(v)).otherwise(fb)
    }
    df.where(hashBucket(col(idCol)) < rate)
  }

  /** Finer-grained deterministic bucket in [0, 10000) (basis points) for
    * budget math where whole percents are too coarse; salted differently
    * from [[hashBucket]] so mixture and uniform sampling decisions never
    * correlate. */
  def hashBucketBp(id: Column): Column =
    conv(substring(md5(concat(lit("mix:"), id.cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000

  /** Budgeted mixture sampling — the "data mixture" step of a training
    * run: target OUTPUT proportions per stratum (language, source,
    * domain) and a total row budget; each stratum's keep-rate is computed
    * from its ACTUAL row count and applied as a deterministic hash
    * filter, so the sampled corpus approximates `totalBudget · share`
    * rows per stratum and is bit-reproducible across runs and engines.
    *
    * Rules: a stratum short of its target (rate ≥ 1) keeps everything —
    * no oversampling; re-weighting the shortfall onto other strata is the
    * caller's loop. Strata absent from `targets` are dropped (a mixture
    * is an explicit allowlist). Rates floor to basis points so any engine
    * reproduces the exact row set.
    *
    * Scale shape: one aggregation over the stratum column (tiny output),
    * joined back onto the scan — AQE broadcasts the rate table at any
    * corpus size since its cardinality is the stratum count; the filter
    * itself is a pure per-row predicate. No collect, no rand(). */
  def mixture(df: DataFrame, idCol: String, strataCol: String,
              targets: Map[String, Double], totalBudget: Long): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(v => v >= 0 && v <= 1),
      "mixture shares must be in [0,1]")
    val share = targets.foldRight(lit(null).cast("double"): Column) {
      case ((k, v), fb) => when(col(strataCol) === k, lit(v)).otherwise(fb)
    }
    val rates = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__share", share)
      .where(col("__share").isNotNull)
      .withColumn("__rate_bp",
        least(lit(10000L),
          floor(lit(10000.0) * lit(totalBudget.toDouble) * col("__share") / col("__n"))
            .cast("long")))
      .select(col(strataCol), col("__rate_bp"))
    df.join(rates, Seq(strataCol))
      .where(hashBucketBp(col(idCol)) < col("__rate_bp"))
      .drop("__rate_bp")
  }

  /** Deterministic epoch shuffle: a seeded global training order with no
    * rand(). The sort key is md5(seed || ":" || id), so the permutation is
    * identical on every run, cluster, and engine; a new seed is a fresh
    * epoch order. `orderBy` plans a range exchange with sampled
    * boundaries, so output shards come out globally ordered — each
    * written file is one contiguous slice of the epoch — and a head
    * sample (`.limit(k)`) collapses to TakeOrderedAndProject with no full
    * sort materialization. */
  def epochShuffle(df: DataFrame, idCol: String, seed: String): DataFrame =
    df.withColumn("__epoch_key",
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
      .orderBy(col("__epoch_key"), col(idCol))

  /** Per-key cap (domain balancing): keep at most `cap` rows per key,
    * chosen by a deterministic md5 order over the row id (salted so the
    * order is independent of [[hashBucket]]'s buckets — capping and
    * sampling must not correlate). Keeps the assigned rank `rn` so the
    * selection is auditable. One shuffle on the key; rows of one key sort
    * on a single task, so pre-reduce pathological heavy hitters with
    * [[stratified]] before capping (see the x12 catalog note). */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(md5(concat(lit("cap:"), col(idCol).cast("string"))), col(idCol))
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= cap)
  }

  /** Token-budget data selection: keep the highest-`scoreCol` documents,
    * in (score desc, id asc) order, while the running `tokensCol` total
    * stays within `budget` — the greedy quality-ranked selection every
    * budgeted pretraining mix runs ("fill the budget from the best data
    * down").
    *
    * The defining rule is a GLOBAL running sum over the quality order,
    * but planning it as one `sum().over(Window.orderBy(score))` would
    * funnel the whole corpus through a single window task — the classic
    * global-window scale-killer. This plans it as histogram + cutoff +
    * boundary refinement instead:
    *
    *   1. one aggregation of token sums per DISTINCT score value — the
    *      driver sees one row per score, and scores here are 4-decimal
    *      rounded ratios in [0,1] (x2's quality), so that is ≤ ~10⁴ rows
    *      at ANY corpus size (same bounded-driver-state argument as the
    *      IVF centroid loop, asserted below);
    *   2. the driver walks the histogram score-descending to find the
    *      boundary score: classes that fit wholly within the remaining
    *      budget are admitted outright;
    *   3. only rows of the single boundary score-class flow into the
    *      exact within-class running sum (ordered by id), so the one
    *      single-partition window in the plan sees one score-class, not
    *      the corpus.
    *
    * Equivalent to the global rule because the class admission in (2) and
    * the within-class prefix rule in (3) compose to exactly the global
    * (score desc, id) prefix sums — verified against the one-window
    * formulation by the x25 oracle. Returns (id, score, tokens) of the
    * selected set. */
  def selectByTokenBudget(df: DataFrame, scoreCol: String, tokensCol: String,
                          idCol: String, budget: Long,
                          maxDistinctScores: Int = 100000): DataFrame = {
    val d = df.select(col(idCol).as("id"), col(scoreCol).as("score"),
      col(tokensCol).cast("long").as("tokens"))
    val hist = d.groupBy("score").agg(sum("tokens").as("t"))
      .orderBy(desc("score")).collect()
    require(hist.length <= maxDistinctScores,
      s"selectByTokenBudget saw ${hist.length} distinct scores — the " +
        "histogram is driver-resident, so quantize the score first " +
        "(4-decimal rounding keeps it ≤ 10001)")
    var remaining = budget
    var cutoff = Double.NegativeInfinity // admit-all when every class fits
    var higher = 0L                      // tokens admitted above the cutoff
    var i = 0
    var found = false
    while (i < hist.length && !found) {
      val t = hist(i).getLong(1)
      if (t <= remaining) { remaining -= t; i += 1 }
      else {
        cutoff = hist(i).getDouble(0)
        higher = budget - remaining
        found = true
      }
    }
    if (!found) return d
    val kept = d.where(col("score") > cutoff)
    // only the boundary class reaches the unpartitioned window
    val w = Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = d.where(col("score") === cutoff)
      .withColumn("cum", sum("tokens").over(w))
      .where(col("cum") + lit(higher) <= budget)
      .drop("cum")
    kept.union(boundary)
  }
}
