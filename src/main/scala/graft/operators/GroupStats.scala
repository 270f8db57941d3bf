package graft.operators

import org.apache.spark.sql.DataFrame

/** The anomaly family's per-group stats table as a materialize-once
  * artifact (the [[PairGraph]] pattern applied to the Z family).
  *
  * Why this exists: z-score flagging (Z3), the anomaly summary (Z5), the
  * IQR rule (Z6), the group report (A6) and top-K deviation (T4) all
  * start from the SAME per-group aggregation over the same offers corpus
  * — the reference's two committed anomaly runs (the 18:42 z-score and
  * 20:19 IQR artifacts, SURVEY.md §2.8) consumed one shared stats table.
  * At 100 TB the corpus-wide aggregation pass (scan + one keyed shuffle)
  * is the family's entire cost; the rules diverge only on the small
  * O(groups) table after it. Before this artifact each family member
  * re-aggregated the corpus: five passes where one suffices.
  *
  * The artifact is [[Anomaly.fullStats]] — moments, extrema and exact
  * quartiles in one pass — lazily local-checkpointed: O(groups) rows,
  * materialized on the first consumer's job, lineage truncated so the
  * upstream scan/shuffle can be reaped while the compact table lives on.
  * On a cluster this would be a lakehouse table keyed by corpus snapshot
  * id; in-process memoization ([[FrameMemo]]) covers the engine's
  * per-application reuse.
  *
  * Cache identity: `corpusKey` is the CALLER's name for the logical
  * corpus (data dir + table + any filter applied upstream); keys and
  * price column are part of the key automatically. Same contract as
  * PairGraph: a corpus edited in place under an unchanged key is the
  * caller's contract violation.
  *
  * The flagged z-score frame is memoized one level up as well: Z3 (the
  * flagged list) and Z5 (its one-row summary) share not just the stats
  * table but the corpus join-back + filter — the flagged set is a small
  * fraction of the corpus (z > k tail), so checkpointing it is cheap and
  * saves Z5 the family's second-most-expensive stage.
  */
object GroupStats {

  private val memo = new FrameMemo
  private[graft] def computeCount: java.util.concurrent.atomic.AtomicInteger =
    memo.computeCount

  private def momentsKey(corpusKey: String, keys: Seq[String], priceCol: String) =
    s"moments|$corpusKey|keys=${keys.mkString(",")}|p=$priceCol"

  /** The ONE place the full table's key is spelled: table() stores
    * under this key and moments() peeks it — a format drift between the
    * two sites would silently turn moments' free projection into a
    * second corpus pass. */
  private def fullKey(corpusKey: String, keys: Seq[String], priceCol: String) =
    s"stats|$corpusKey|keys=${keys.mkString(",")}|p=$priceCol"

  /** The fused per-group stats table (see [[Anomaly.fullStats]] for the
    * columns), computed once per (session, corpus, keys, price).
    * Exact quartiles only: they are the reference artifacts' contract
    * (GoldenReplaySpec). The bounded-state approx tier for mega-groups
    * is its own catalog query ([[Anomaly.fullStatsApprox]], z6b), never
    * a silent substitute here. */
  def table(df: DataFrame, keys: Seq[String], priceCol: String,
            corpusKey: String): DataFrame =
    memo.getOrCompute(df.sparkSession, fullKey(corpusKey, keys, priceCol)) {
      Anomaly.fullStats(df, keys, priceCol).localCheckpoint(false)
    }

  /** The MOMENTS tier (n/Σp/Σp² only — what the z-score rule, the summary
    * and top-K deviation consume): served as a free projection of the
    * full table when that is already materialized, computed as its own
    * (cheaper — no quantile buffers) aggregation pass otherwise. The two
    * tiers exist so a standalone moments consumer (e.g. a per-query
    * bench, or a user who only runs the z rule) never pays the exact-
    * quantile buffers it doesn't read, while a family run shares one
    * corpus pass end to end. */
  def moments(df: DataFrame, keys: Seq[String], priceCol: String,
              corpusKey: String): DataFrame = {
    val sess = df.sparkSession
    memo.getOrCompute(sess, momentsKey(corpusKey, keys, priceCol)) {
      memo.peek(sess, fullKey(corpusKey, keys, priceCol)) match {
        case Some(full) =>
          full.select((keys ++ Seq("n_offers", "s1x", "s2x")).map(
            org.apache.spark.sql.functions.col): _*)
        case None =>
          Anomaly.momentStats(df, keys, priceCol).localCheckpoint(false)
      }
    }
  }

  /** The z-score-flagged offer frame (Z3's output, Z5's input), built on
    * the [[moments]] tier and itself memoized. */
  def flaggedZScore(df: DataFrame, keys: Seq[String], priceCol: String,
                    k: Double, minGroupSize: Int, corpusKey: String): DataFrame =
    memo.getOrCompute(df.sparkSession,
      s"zflag|$corpusKey|keys=${keys.mkString(",")}|p=$priceCol|k=$k|min=$minGroupSize") {
      Anomaly.zScoreAnomaliesFrom(df, moments(df, keys, priceCol, corpusKey),
          keys, priceCol, k, minGroupSize)
        .localCheckpoint(false)
    }

  /** Drop every in-process entry (test isolation; bench harnesses that
    * must time computation, not reuse). */
  def clearInProcess(): Unit = memo.clear()
}
