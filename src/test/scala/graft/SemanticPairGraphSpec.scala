package graft

import graft.operators.{Similarity, SemanticPairGraph}
import org.apache.spark.sql.functions._

/** The materialize-once SEMANTIC pair-graph artifact (PairGraph's design
  * applied to embeddings): identity with the direct auto-route call,
  * in-process reuse keyed on params AND the centroid table, disk
  * round-trip and staleness invalidation. */
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
        cents, "test#semcorpus", p, cacheDir = None)
      .collect().map(_.toSeq).toSet
    assert(viaGraph == direct && direct.nonEmpty)
  }

  test("in-process cache: same (corpusKey, params, centroids) returns the " +
      "same frame; different params or a different centroid TABLE computes fresh") {
    SemanticPairGraph.clearInProcess()
    val a = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding", cents,
      "test#reuse", p, None)
    val b = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding", cents,
      "test#reuse", p, None)
    assert(a eq b) // one lineage for every consumer (d11c + d12)
    val c = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding", cents,
      "test#reuse", p.copy(threshold = 0.5), None)
    assert(!(a eq c))
    // a DIFFERENT quantizer over the same corpus must not alias: the
    // centroid values are part of the identity, not just their count
    val otherCents = Similarity.md5Centroids(4, 64).map { case (cid, v) =>
      (cid, v.map(_ + 0.001))
    }
    val d = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding",
      otherCents, "test#reuse", p, None)
    assert(!(a eq d))
    assert(SemanticPairGraph.centroidsDigest(cents) !=
      SemanticPairGraph.centroidsDigest(otherCents))
  }

  test("disk cache: a fresh-process-equivalent read loads the parquet " +
      "artifact; a changed corpus row count invalidates it") {
    val root = tempDir("sempairgraph")
    SemanticPairGraph.clearInProcess()
    val first = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding",
        cents, "test#disk", p, cacheDir = Some(root))
      .collect().map(_.toSeq).toSet
    val sub = new java.io.File(root).listFiles().filter(_.isDirectory)
    assert(sub.length == 1)
    val manifest = new java.io.File(sub.head, "manifest.json")
    assert(manifest.exists())
    val stamp1 = scala.io.Source.fromFile(manifest).mkString

    SemanticPairGraph.clearInProcess()
    val second = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding",
        cents, "test#disk", p, cacheDir = Some(root))
      .collect().map(_.toSeq).toSet
    assert(second == first)
    assert(scala.io.Source.fromFile(manifest).mkString == stamp1)

    SemanticPairGraph.clearInProcess()
    val shrunk = corpus().where(col("vec_id") < 200)
    val third = SemanticPairGraph.pairs(shrunk, "vec_id", "embedding",
        cents, "test#disk", p, cacheDir = Some(root))
      .collect().map(_.toSeq).toSet
    val directShrunk = Similarity.semanticNearDupPairsAuto(shrunk, "vec_id",
        "embedding", cents, p.threshold, p.targetCell, p.maxExtraBits,
        p.cellPairBudget, p.probeSplitBits)
      .collect().map(_.toSeq).toSet
    assert(third == directShrunk && third != first)
    assert(scala.io.Source.fromFile(manifest).mkString != stamp1)
  }

  test("id-set digest: constant-row-count id churn invalidates the " +
      "semantic pair artifact") {
    val root = tempDir("sempairgraph-digest")
    SemanticPairGraph.clearInProcess()
    val first = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding",
        cents, "test#semdigest", p, cacheDir = Some(root))
      .collect().map(_.toSeq).toSet
    val sub = new java.io.File(root).listFiles().filter(_.isDirectory)
    assert(sub.length == 1)
    val manifest = new java.io.File(sub.head, "manifest.json")
    val stamp1 = scala.io.Source.fromFile(manifest).mkString
    assert(stamp1.contains("id_digest"))

    // same ids → hit
    SemanticPairGraph.clearInProcess()
    val second = SemanticPairGraph.pairs(corpus(), "vec_id", "embedding",
        cents, "test#semdigest", p, cacheDir = Some(root))
      .collect().map(_.toSeq).toSet
    assert(second == first)
    assert(scala.io.Source.fromFile(manifest).mkString == stamp1)

    // shift every id by 1000: SAME row count, churned id set — the
    // row-count check alone would serve the stale pair set (whose ids
    // no longer exist in the corpus); the digest must recompute
    SemanticPairGraph.clearInProcess()
    val edited = corpus().withColumn("vec_id", col("vec_id") + 1000L)
    assert(edited.count() == corpus().count())
    val third = SemanticPairGraph.pairs(edited, "vec_id", "embedding",
        cents, "test#semdigest", p, cacheDir = Some(root))
      .collect().map(_.toSeq).toSet
    assert(third.nonEmpty && third != first,
      "digest must catch the constant-row-count id churn")
    assert(scala.io.Source.fromFile(manifest).mkString != stamp1)
  }
}
