package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SEMANTIC (embedding) near-dup pair graph as a materialize-once
  * artifact — [[PairGraph]]'s design applied to the SemDeDup family.
  *
  * Why: detection (d11c), the pruning manifest (d12), and any
  * downstream consumer (eval splits, curation stages) start from the
  * same quantizer-assign + in-cell pair pass over the same corpus — the
  * family's expensive stage. At 100 TB the pair set is a pipeline
  * artifact computed once per (corpus snapshot, centroid table, params),
  * then consumed — not a per-query recomputation; on a cluster it would
  * be a lakehouse table keyed by corpus snapshot id. The in-process layer
  * is PairGraph's ([[FrameMemo]]): exactly-once + localCheckpoint per
  * session.
  *
  * Cache identity: corpusKey (the caller's name for the logical corpus,
  * filters included) + id/vec column names + every routing parameter +
  * an md5 of the CENTROID TABLE VALUES — two quantizers over the same
  * corpus are different artifacts (trained centroids differ run to run
  * only if the corpus did, see IvfIndex.train's decimal determinism,
  * but md5-table vs trained must never alias).
  *
  * Results are identical to calling
  * [[Similarity.semanticNearDupPairsAuto]] directly — the artifact
  * changes WHERE the pairs are kept, never what they are.
  */
object SemanticPairGraph {

  /** The routing parameter set that defines one semantic pair-graph
    * artifact — one shared definition so detection, pruning and
    * harnesses cannot silently diverge on a knob. */
  final case class Params(threshold: Double, targetCell: Int = 1000,
                          maxExtraBits: Int = 8,
                          cellPairBudget: Long = 1000000000L,
                          probeSplitBits: Int = 1) {
    def cacheKey(corpusKey: String, idCol: String, vecCol: String,
                 centroidsDigest: String): String =
      s"sempairs|$corpusKey|id=$idCol|vec=$vecCol|cent=$centroidsDigest|" +
        s"t=$threshold|target=$targetCell|bits=$maxExtraBits|" +
        s"budget=$cellPairBudget|probe=$probeSplitBits"
  }

  private val memo = new FrameMemo

  /** Test probe: completed artifact computations (see PairGraph). */
  private[graft] def computeCount: java.util.concurrent.atomic.AtomicInteger =
    memo.computeCount

  /** md5 over the ordered centroid table values — the quantizer's
    * identity in the cache key. O(nlist·dim) driver work. */
  def centroidsDigest(centroids: Array[(Int, Array[Double])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    centroids.sortBy(_._1).foreach { case (cid, vec) =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(cid).array())
      vec.foreach(x =>
        md.update(java.nio.ByteBuffer.allocate(8).putDouble(x).array()))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Semantic near-dup pairs (id_a, id_b, cos, centroid) of the corpus —
    * first call in a session computes, later calls consume. */
  def pairs(df: DataFrame, idCol: String, vecCol: String,
            centroids: Array[(Int, Array[Double])],
            corpusKey: String, p: Params): DataFrame =
    memo.getOrCompute(df.sparkSession,
        p.cacheKey(corpusKey, idCol, vecCol, centroidsDigest(centroids))) {
      Similarity.semanticNearDupPairsAuto(df, idCol, vecCol, centroids,
          p.threshold, p.targetCell, p.maxExtraBits, p.cellPairBudget,
          p.probeSplitBits)
        .localCheckpoint(false)
    }

  /** Drop every in-process entry (test isolation; bench harnesses that
    * must time computation, not reuse). */
  def clearInProcess(): Unit = memo.clear()

  private[graft] def evictSession(sess: SparkSession): Unit =
    memo.evictSession(sess)
}
