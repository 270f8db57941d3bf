package graft

import graft.operators.{Dedup, PairGraph}
import org.apache.spark.sql.functions._

/** The materialize-once near-dup pair-graph artifact: identity with the
  * direct computation, in-process reuse, exactly-once concurrent
  * computation and session eviction. */
class PairGraphSpec extends SparkSuite {
  import spark.implicits._

  private val p = PairGraph.Params(bands = 4, rowsPerBand = 2,
    threshold = 0.2, shingleN = 2)

  private def corpus() = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "entirely different text about spark shuffles and joins"),
    (4L, "the quick brown fox jumps over the lazy dog"),
    (5L, "completely unrelated words nothing shared here at all")
  ).toDF("doc_id", "text")

  test("pairs match Dedup.neardupPairs exactly (the artifact changes " +
      "where pairs are kept, never what they are)") {
    PairGraph.clearInProcess()
    val direct = Dedup.neardupPairs(corpus(), "text", "doc_id", p.bands,
        p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket, p.adaptiveMinDocs)
      .collect().map(_.toSeq).toSet
    val viaGraph = PairGraph.pairs(corpus(), "text", "doc_id",
        corpusKey = "test#corpus1", p)
      .collect().map(_.toSeq).toSet
    assert(viaGraph == direct && direct.nonEmpty)
  }

  test("in-process cache: same (corpusKey, params) returns the same " +
      "materialized frame; different key or params computes fresh") {
    PairGraph.clearInProcess()
    val a = PairGraph.pairs(corpus(), "text", "doc_id", "test#reuse", p)
    val b = PairGraph.pairs(corpus(), "text", "doc_id", "test#reuse", p)
    assert(a eq b) // the SAME DataFrame — consumers share one lineage
    val c = PairGraph.pairs(corpus(), "text", "doc_id", "test#other", p)
    assert(!(a eq c))
    val d = PairGraph.pairs(corpus(), "text", "doc_id", "test#reuse",
      p.copy(threshold = 0.5))
    assert(!(a eq d))
  }

  test("cache identity includes the column names: same corpusKey over " +
      "different text/id columns must NOT share pairs") {
    PairGraph.clearInProcess()
    val two = corpus().withColumn("alt_text",
      concat(lit("prefix "), col("text")))
    val a = PairGraph.pairs(two, "text", "doc_id", "test#cols", p)
    val b = PairGraph.pairs(two, "alt_text", "doc_id", "test#cols", p)
    assert(!(a eq b)) // different textCol → different artifact
    // and the alt-column pairs really are the alt-column computation
    val directAlt = Dedup.neardupPairs(two, "alt_text", "doc_id", p.bands,
        p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket, p.adaptiveMinDocs)
      .collect().map(_.toSeq).toSet
    assert(b.collect().map(_.toSeq).toSet == directAlt)
  }

  test("concurrent first callers compute the artifact exactly once and " +
      "receive the identical frame (memo cell, not getOrElseUpdate races)") {
    PairGraph.clearInProcess()
    val before = PairGraph.computeCount.get()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val fs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            gate.await() // maximize the chance both hit the empty map
            PairGraph.pairs(corpus(), "text", "doc_id",
              "test#concurrent", p)
          }
        })
      }
      val Seq(a, b) = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(a eq b, "both first callers must get the winner's frame")
      assert(PairGraph.computeCount.get() - before == 1,
        "the pairs pipeline must run exactly once under a concurrent first call")
    } finally pool.shutdownNow()
  }

  test("session eviction drops that session's entries (the listener path " +
      "calls this on application end)") {
    PairGraph.clearInProcess()
    val a = PairGraph.pairs(corpus(), "text", "doc_id", "test#evict", p)
    assert(PairGraph.pairs(corpus(), "text", "doc_id", "test#evict", p) eq a)
    PairGraph.evictSession(spark)
    val b = PairGraph.pairs(corpus(), "text", "doc_id", "test#evict", p)
    assert(!(a eq b)) // recomputed: the evicted entry is gone
  }
}
