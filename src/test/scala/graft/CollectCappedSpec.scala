package graft

import org.apache.spark.sql.functions._

/** [[graft.functions.CollectCapped]] — the bounded-buffer collect_list
  * behind pairsFromGroups and the incremental cross-side buckets: for
  * groups at or under the cap it must be collect_list exactly (as a
  * multiset); over the cap it must signal overflow with size cap+1
  * while never buffering more, so the callers' `size <= cap` filters
  * keep the identical bucket set the uncapped plan kept. */
class CollectCappedSpec extends SparkSuite {
  import graft.functions.CollectCapped
  import spark.implicits._

  test("collect_capped == collect_list (sorted) for groups within the cap") {
    // many partitions so partial buffers merge and ser/de across the
    // exchange is exercised, not just a single in-memory update path
    val df = (1 to 400).map(i => (i % 40, i)).toDF("k", "v").repartition(8)
    val got = df.groupBy("k")
      .agg(sort_array(CollectCapped.collect(col("v"), 10)).as("ids"))
    val want = df.groupBy("k")
      .agg(sort_array(collect_list(col("v"))).as("ids"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // the same under the sort-based aggregation fallback: with a
    // threshold of 1 key every partial and final buffer leaves the hash
    // map and is merged by the sort-based path instead
    withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", Some("1")) {
      assert(got.except(want).isEmpty && want.except(got).isEmpty)
    }
  }

  test("overflowed groups report size cap+1, never the full group") {
    val df = (1 to 1000).map(i => ("hot", i)).toDF("k", "v").repartition(8)
    val sizes = df.groupBy("k")
      .agg(size(CollectCapped.collect(col("v"), 7)).as("n"))
      .select("n").collect().map(_.getInt(0)).toSeq
    assert(sizes == Seq(8)) // cap+1 — the overflow signal, not 1000
  }

  test("null inputs are skipped like collect_list; strings round-trip ser/de") {
    val df = Seq(("a", "x"), ("a", null), ("a", "y"), ("b", null))
      .toDF("k", "v").repartition(5)
    val got = df.groupBy("k")
      .agg(sort_array(CollectCapped.collect(col("v"), 3)).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("a") == Seq("x", "y"))
    assert(got("b") == Seq.empty)
  }

  test("minhashCandidates pair set is unchanged by the capped collector") {
    // near-dup corpus with one flooded bucket: 30 identical texts (the
    // unsplittable case — refinement keys collapse) plus distinct docs.
    // With maxBucket=10 the flooded bucket must be dropped and every
    // below-cap pair kept — same as the uncapped formulation by
    // construction (the size filter is unchanged); this pins the
    // END-TO-END candidate set so a capped-collector regression anywhere
    // in the bucket path would surface here.
    val flood = (1 to 30).map(i => (i.toLong, "the same exact text every time"))
    val dups = Seq((100L, "alpha beta gamma delta"), (101L, "alpha beta gamma delta"))
    val solo = Seq((200L, "completely unrelated content here"))
    val df = (flood ++ dups ++ solo).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashCandidates(
        df, "text", "doc_id", bands = 4, rowsPerBand = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L))) // flood dropped, real pair kept
  }
}
