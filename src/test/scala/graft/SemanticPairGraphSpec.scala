package graft

import graft.operators.{Similarity, SemanticPairGraph}
import org.apache.spark.sql.functions._

/** The materialize-once SEMANTIC pair-graph artifact (PairGraph's design
  * applied to embeddings): identity with the direct auto-route call,
  * in-process reuse keyed on params AND the centroid table. */
class SemanticPairGraphSpec extends SparkSuite {

  private val p = SemanticPairGraph.Params(threshold = 0.3)
  private val cents = Similarity.md5Centroids(4, 64)

  private def corpus() =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)

  test("pairs match semanticNearDupPairsAuto exactly (the artifact " +
      "changes where pairs are kept, never what they are)") {
    SemanticPairGraph.clearInProcess()
    val direct = Similarity.semanticNearDupPairsAuto(corpus(), "vec_id",
        "embedding", cents, p.threshold, p.targetCell, p.maxExtraBits,
        p.cellPairBudget, p.probeSplitBits)
      .collect().map(_.toSeq).toSet
    val viaGraph = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding",
        cents, "test#semcorpus", p)
      .collect().map(_.toSeq).toSet
    assert(viaGraph == direct && direct.nonEmpty)
  }

  test("in-process cache: same (corpusKey, params, centroids) returns the " +
      "same frame; different params or a different centroid TABLE computes fresh") {
    SemanticPairGraph.clearInProcess()
    val a = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding", cents,
      "test#reuse", p)
    val b = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding", cents,
      "test#reuse", p)
    assert(a eq b) // one lineage for every consumer (d11c + d12)
    val c = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding", cents,
      "test#reuse", p.copy(threshold = 0.5))
    assert(!(a eq c))
    // a DIFFERENT quantizer over the same corpus must not alias: the
    // centroid values are part of the identity, not just their count
    val otherCents = Similarity.md5Centroids(4, 64).map { case (cid, v) =>
      (cid, v.map(_ + 0.001))
    }
    val d = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding",
      otherCents, "test#reuse", p)
    assert(!(a eq d))
    assert(SemanticPairGraph.centroidsDigest(cents) !=
      SemanticPairGraph.centroidsDigest(otherCents))
  }
}
