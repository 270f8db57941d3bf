package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The near-duplicate PAIR GRAPH as a materialize-once artifact.
  *
  * Why this exists: detection (d2), clustering (d8), the dedup manifest
  * (d10), leakage-safe splits (x17) and the pretrain program (x22b) all
  * start from the SAME candidate-generation + exact-verify pipeline over
  * the same corpus — by far the most expensive stage of the family
  * (measured at sf10: five catalog queries ≥288 s each, ~300 s of which
  * is this shared prefix; BENCH_NOTES r9). At 100 TB the pair graph is a
  * pipeline ARTIFACT — computed once per corpus snapshot, then consumed
  * by every downstream step — not a per-query recomputation; on a
  * cluster it would be a lakehouse table keyed by corpus snapshot id.
  * This object is the artifact's in-process layer: per
  * (session, corpusKey, params, columns) the verified pair DataFrame is
  * computed once and local-checkpointed, and every later consumer in the
  * same application reuses the materialized blocks (lineage is truncated
  * on first materialization, so the upstream banding/verify shuffles can
  * be reaped while the compact pair set lives on).
  *
  * Cache identity: `corpusKey` is the CALLER's name for the logical
  * corpus (data dir + any filter/gate applied — e.g. the quality-kept
  * subset must use a different key than the raw table). The text/id
  * column names are part of the key automatically — two callers reading
  * DIFFERENT columns of the same table under the same corpusKey get
  * separate artifacts, not silently shared pairs. A corpus edited in
  * place under an unchanged corpusKey within one session is the
  * caller's contract violation.
  *
  * In-process entries are keyed on the SparkSession INSTANCE (reference
  * identity — sessions don't define value equality) and evicted when the
  * session's SparkContext ends, so a long-lived JVM cycling sessions
  * cannot leak checkpointed frames or resurrect a frame bound to a dead
  * session.
  *
  * Results are identical to calling [[Dedup.neardupPairs]] directly:
  * same auto bucket-strategy choice (fixed-cap vs adaptive refinement at
  * `adaptiveMinDocs`), same exact-jaccard verify — the artifact changes
  * WHERE the pairs are kept, never what they are.
  */
object PairGraph {

  /** The MinHash-LSH near-dup parameter set that defines one pair-graph
    * artifact. One shared definition so detection, clustering, splits,
    * A/B harnesses and scale checks can never silently diverge on a
    * parameter (they did diverge once: r9's ScaleCheck hardcoded its
    * capped arm). */
  final case class Params(bands: Int, rowsPerBand: Int, threshold: Double,
                          shingleN: Int, maxBucket: Int = 1000,
                          adaptiveMinDocs: Long = 100000L,
                          prefilterK: Int = 32) {
    def cacheKey(corpusKey: String, textCol: String, idCol: String): String =
      s"$corpusKey|text=$textCol|id=$idCol|b=$bands|r=$rowsPerBand|" +
        s"t=$threshold|n=$shingleN|cap=$maxBucket|amd=$adaptiveMinDocs|" +
        s"pf=$prefilterK"
  }

  /** The in-process layer: exactly-once concurrent computation, poisoned-
    * cell eviction on failure, session-scoped eviction — see [[FrameMemo]]
    * (shared with the anomaly family's [[GroupStats]] artifact). */
  private val memo = new FrameMemo

  /** Test probe: number of artifact computations that ran TO COMPLETION
    * (vs served from the in-process map) — failed thunks don't count,
    * matching the eviction-on-failure contract. Asserted by
    * PairGraphSpec's concurrent-first-call test. */
  private[graft] def computeCount: java.util.concurrent.atomic.AtomicInteger =
    memo.computeCount

  /** Near-dup pairs (id_a, id_b, jaccard) of the corpus. First call in a
    * session computes; later calls with the same key reuse the artifact. */
  def pairs(df: DataFrame, textCol: String, idCol: String,
            corpusKey: String, p: Params): DataFrame =
    memo.getOrCompute(df.sparkSession, p.cacheKey(corpusKey, textCol, idCol)) {
      Dedup.neardupPairs(df, textCol, idCol, p.bands, p.rowsPerBand,
          p.threshold, p.shingleN, p.maxBucket, p.adaptiveMinDocs,
          prefilterK = p.prefilterK)
        .localCheckpoint(false)
    }

  /** Drop every in-process entry (test isolation; bench harnesses that
    * must time computation, not reuse). */
  def clearInProcess(): Unit = memo.clear()

  /** Drop the in-process entries of one session — exposed package-private
    * so the spec can exercise eviction without stopping a shared test
    * context. */
  private[graft] def evictSession(sess: SparkSession): Unit =
    memo.evictSession(sess)
}
