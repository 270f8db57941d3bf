package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SEMANTIC (embedding) near-dup pair graph as a materialize-once
  * artifact — [[PairGraph]]'s design applied to the SemDeDup family.
  *
  * Why: detection (d11c), the pruning manifest (d12), and any
  * downstream consumer (eval splits, curation stages) start from the
  * same quantizer-assign + in-cell pair pass over the same corpus — the
  * family's expensive stage. At 100 TB the pair set is a pipeline
  * artifact computed once per (corpus snapshot, centroid table,
  * params), persisted, then consumed — not a per-query recomputation.
  * Layers are identical to PairGraph's (shared [[FrameMemo]] /
  * [[FrameDiskCache]] machinery): in-process exactly-once +
  * localCheckpoint; cross-process parquet + manifest under
  * `SPARK_GRAFT_PAIR_CACHE` (one artifact root for both families —
  * keys are disjoint by content, and a pipeline's "pair artifacts"
  * belong together).
  *
  * Cache identity: corpusKey (the caller's name for the logical corpus,
  * filters included) + id/vec column names + every routing parameter +
  * an md5 of the CENTROID TABLE VALUES — two quantizers over the same
  * corpus are different artifacts (trained centroids differ run to run
  * only if the corpus did, see IvfIndex.train's decimal determinism,
  * but md5-table vs trained must never alias). Same staleness contract
  * as PairGraph: manifest records the corpus row count and the id-set
  * digest (see [[FrameDiskCache.countAndDigest]]), re-validated on load.
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

  /** Semantic near-dup pairs (id_a, id_b, cos, centroid) of the corpus,
    * through every cache layer — first call computes (and persists if a
    * disk root is configured), later calls consume. */
  def pairs(df: DataFrame, idCol: String, vecCol: String,
            centroids: Array[(Int, Array[Double])],
            corpusKey: String, p: Params,
            cacheDir: Option[String] = sys.env.get("SPARK_GRAFT_PAIR_CACHE"))
  : DataFrame = {
    val sess = df.sparkSession
    val key = p.cacheKey(corpusKey, idCol, vecCol, centroidsDigest(centroids))
    def compute(): DataFrame =
      Similarity.semanticNearDupPairsAuto(df, idCol, vecCol, centroids,
        p.threshold, p.targetCell, p.maxExtraBits, p.cellPairBudget,
        p.probeSplitBits)
    memo.getOrCompute(sess, key) {
      cacheDir match {
        case Some(root) =>
          val (nVecs, digest) = FrameDiskCache.countAndDigest(df, idCol)
          FrameDiskCache.loadOrCompute(sess, root, key, nVecs,
            "pairs.parquet", Some(digest)) {
            compute()
          }
        case None => compute().localCheckpoint(false)
      }
    }
  }

  /** Drop every in-process entry (test isolation; bench harnesses that
    * must time computation, not reuse). */
  def clearInProcess(): Unit = memo.clear()

  private[graft] def evictSession(sess: SparkSession): Unit =
    memo.evictSession(sess)
}
