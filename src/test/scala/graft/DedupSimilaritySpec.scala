package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick brown fox jumps over the lazy dog!"), // exact dup modulo noise
    (3L, "the quick brown fox jumps over a sleepy dog"),  // near dup
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup: formatting-noise duplicates collapse, lowest id kept") {
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH: identical docs always candidates; near-dups pass verify") {
    val nonEmpty = docs.where(length(TextFunctions.normalizeText(col("text"))) > 0)
    val pairs = Dedup.minhashNearDup(nonEmpty, "text", "doc_id",
      bands = 8, rowsPerBand = 2, threshold = 0.5).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L))) // identical token sets → all bands equal
    pairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
    // doc 4 shares nothing → never paired
    assert(!pairs.exists(r => r.getLong(0) == 4L || r.getLong(1) == 4L))
  }

  test("simhash: identical token sets equal; near-dups close in Hamming distance") {
    val sh = docs.where(length(TextFunctions.normalizeText(col("text"))) > 0)
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("ngram jaccard: near-dup above threshold within block") {
    val blocked = docs.withColumn("blk", lit("all"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "text", "doc_id", "blk", 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("prefix-filtered jaccard: identical output to the counting formulation") {
    // real corpus slice: the sf0.001 documents table, blocked by lang —
    // exercises df ordering, the cap, and empty/degenerate texts
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.05, 0.4, 0.8)) {
      val counting = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", "lang", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefixed = Dedup.prefixJaccardPairs(corpus, "text", "doc_id", "lang", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefixed == counting, s"prefix filter lost/invented pairs at t=$t")
      if (t == 0.8) {
        // the candidate step keeps every output pair and prunes: a change
        // that silently drops the filters fails here, not only in a benchmark
        val docs = Dedup.prefixDocs(corpus, "text", "doc_id", "lang", 2, t, maxDf = 500)
        val cands = candidatePairs(docs, t)
        val unfiltered = unfilteredPrefixPairs(docs)
        val out = prefixed.map(p => (p._1, p._2))
        assert(out.nonEmpty && out.subsetOf(cands), s"candidates lost output pairs ${out -- cands}")
        assert(cands.subsetOf(unfiltered))
        assert(cands.size < unfiltered.size,
          s"filters pruned nothing: ${cands.size} of ${unfiltered.size} prefix pairs kept")
      }
    }
  }

  test("prefix jaccard: flooded posting list capped, kept set identical to counting") {
    // One stop-gram shared by EVERY doc (df = 40 ≫ maxDf = 10) — the
    // group-then-drop-floods shape at the capped-postings site: the
    // flood must be dropped by BOTH formulations (CollectCapped buffers
    // only maxDf+1 of it) while a planted near-dup pair sharing rare
    // grams survives with the identical jaccard.
    val flood = (0 until 40).map { i =>
      if (i < 2) (i.toLong, "stop word a1 a2 a3 a4 a5 a6 a7 a8")
      else (i.toLong, s"stop word b${i}1 b${i}2 b${i}3 b${i}4 b${i}5 b${i}6 b${i}7 b${i}8")
    }.toDF("doc_id", "text").withColumn("blk", lit("all"))
    for (t <- Seq(0.3, 0.8)) {
      val counting = Dedup.ngramJaccardPairs(flood, "text", "doc_id", "blk", 2, t, maxDf = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefixed = Dedup.prefixJaccardPairs(flood, "text", "doc_id", "blk", 2, t, maxDf = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefixed == counting, s"flooded-gram corpus diverged at t=$t")
      // 9 bigrams/doc, 8 shared after the capped stop-gram: j = 8/10
      assert(counting == Set((0L, 1L, 0.8)),
        s"expected exactly the planted pair at t=$t, got $counting")
    }
  }

  /** Two documents over one shared token run: `shared` shared bigrams,
    * plus `pa` and `pb` private ones (the junction bigram included), so
    * j = shared / (shared + pa + pb). Private grams (df 1) sort first in
    * the prefix order, so the first shared gram sits at position pa / pb
    * and the first-position bound equals the true intersection. */
  private def runPair(tag: String, shared: Int, pa: Int, pb: Int): Seq[String] = {
    val run = (0 to shared).map(i => s"${tag}s$i")
    Seq(run ++ (0 until pa).map(i => s"${tag}a$i"), run ++ (0 until pb).map(i => s"${tag}b$i"))
      .map(_.mkString(" "))
  }

  test("prefix jaccard filters: pairs at j = t ± 1e-4 and the pairs each filter " +
      "rejects give exactly the counting plan's set") {
    val t = 0.8
    val boundary = Seq(
      runPair("q", 7999, 1000, 1001),   // j = 0.7999: rounds below t
      runPair("r", 19998, 2501, 2501),  // j = 0.79992: rounds below t
      runPair("u", 19999, 2500, 2501),  // j = 0.79996 < t, rounds to t
      runPair("v", 20000, 2500, 2500),  // j = t exactly
      runPair("w", 8001, 999, 1000))    // j = 0.8001
    // the length filter's pair: all 10 grams of the small doc are in the
    // big one, whose 10 extra grams the two helpers lift to df 3, so both
    // prefixes start with shared grams; |A|/|B| = 0.5 < t
    val small = (0 to 10).map(i => s"lc$i").mkString(" ")
    val extra = ("lc10" +: (0 until 10).map(i => s"le$i")).mkString(" ")
    val lengthPair = Seq(small, s"$small ${extra.stripPrefix("lc10 ")}", extra, extra)
    // the positional filter's pair: equal sizes (10 grams), 8 shared, the
    // first shared gram at position 2 on both sides — in both prefixes
    // (plen 3), but at most 8 of 10 grams can still match: 8/12 < t
    val positionalPair = runPair("p", 8, 2, 2)
    val texts = boundary.flatten ++ lengthPair ++ positionalPair
    val corpus = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text").withColumn("blk", lit("all"))
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val counting = triples(Dedup.ngramJaccardPairs(corpus, "text", "doc_id", "blk", 2, t))
    val prefixed = triples(Dedup.prefixJaccardPairs(corpus, "text", "doc_id", "blk", 2, t))
    assert(prefixed == counting, s"filtered prefix plan diverged: $prefixed vs $counting")
    // the boundary pairs (ids 0..9) that round to ≥ t, and the helpers' twin pair
    assert(counting == Set((4L, 5L, 0.8), (6L, 7L, 0.8), (8L, 9L, 0.8001), (12L, 13L, 1.0)),
      s"unexpected counting set $counting")

    // each planted pair shares a prefix gram, and the filter meant for it
    // is the one that drops it
    val docs = Dedup.prefixDocs(corpus, "text", "doc_id", "blk", 2, t, maxDf = 500)
    val cands = candidatePairs(docs, t)
    val unfiltered = unfilteredPrefixPairs(docs)
    val sizes = docs.select("id", "sz", "cap").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    def lengthKeeps(a: Long, b: Long): Boolean = {
      val m = math.min(sizes(a)._2, sizes(b)._2)
      m.toDouble / (sizes(a)._1 + sizes(b)._1 - m) >= t - 1e-4
    }
    for (p <- Seq((10L, 11L), (14L, 15L))) assert(unfiltered.contains(p), s"$p shares no prefix gram")
    assert(!lengthKeeps(10L, 11L) && !cands.contains((10L, 11L)), "length filter kept (10, 11)")
    assert(lengthKeeps(14L, 15L) && !cands.contains((14L, 15L)), "positional filter kept (14, 15)")
    // the first-position bound of the boundary pairs that round to ≥ t is
    // exact, so only the slack keeps (4, 5) (j = 0.79996 < t)
    for (p <- Seq((4L, 5L), (6L, 7L), (8L, 9L)))
      assert(cands.contains(p), s"boundary pair $p filtered out")
  }

  private def candidatePairs(docs: org.apache.spark.sql.DataFrame, t: Double): Set[(Long, Long)] =
    Dedup.prefixCandidates(docs, t).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Every pair sharing a prefix gram, with no length or positional filter. */
  private def unfilteredPrefixPairs(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val index = docs.where(col("plen") > 0).select(col("id"), col("blk"),
      explode(slice(col("by_rarity.gram"), lit(1), col("plen"))).as("gram"))
    index.select(col("id").as("id_a"), col("blk"), col("gram"))
      .join(index.select(col("id").as("id_b"), col("blk"), col("gram")), Seq("blk", "gram"))
      .where(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("jaccardPairs auto-crossover: switch point pinned; both arms lossless") {
    // the switch (measured crossover band 5k–50k docs, BENCH_NOTES):
    // small corpus → counting; past countingMaxDocs → prefix; below
    // t≈0.2 the prefix is ~the whole gram set → counting at ANY size
    assert(Dedup.jaccardPlan(5000L, 0.8) == "counting")
    assert(Dedup.jaccardPlan(20000L, 0.8) == "counting")   // boundary inclusive
    assert(Dedup.jaccardPlan(20001L, 0.8) == "prefix")
    assert(Dedup.jaccardPlan(100000000L, 0.5) == "prefix") // the 100 TB default
    assert(Dedup.jaccardPlan(100000000L, 0.05) == "counting") // low-t degenerate
    assert(Dedup.jaccardPlan(100L, 0.8, countingMaxDocs = 10L) == "prefix")
    // both arms of the entry point produce the counting formulation's
    // result set (numDocs hint forces each arm without a count job)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expected = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", "lang", 2, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (hint <- Seq(Some(1L), Some(10000000L))) {
      val got = Dedup.jaccardPairs(corpus, "text", "doc_id", "lang", 2, 0.8,
          numDocs = hint)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, s"numDocs=$hint")
    }
  }

  test("incremental near-dedup: new-vs-history only, best match wins") {
    val hist = Seq(
      (2L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the quick brown fox jumps over the lazy dog today"), // closer to 1
      (6L, "an entirely different historical document")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today now"),
      (3L, "completely novel incoming content"),                 // no match
      (5L, "an entirely different historical document")          // exact dup of 6
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(hist, incoming, "text", "doc_id",
        bands = 8, rowsPerBand = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byNew = got.map(r => r._1 -> r).toMap
    assert(byNew(1L)._2 == 4L)              // best history match, not just any
    assert(byNew(5L)._2 == 6L && byNew(5L)._3 == 1.0)
    assert(!byNew.contains(3L))             // novel content passes through
    // asymmetric: output ids come from the incoming side only
    assert(got.forall(r => r._1 % 2 == 1 && r._2 % 2 == 0))
    // and the candidate join is a real equi-join on band keys — an
    // all-pairs degeneration would shuffle the whole history per batch
    val plan = Dedup.incrementalNearDup(hist, incoming, "text", "doc_id",
      bands = 8, rowsPerBand = 2, threshold = 0.4)
      .queryExecution.sparkPlan.collect { case n => n.nodeName }
    assert(!plan.exists(n => n.contains("BroadcastNestedLoopJoin") || n.contains("CartesianProduct")),
      s"incremental candidate join degenerated to all-pairs: $plan")
  }

  test("incremental near-dedup: overlapping id spaces score against the right side's text") {
    // the SAME id carries DIFFERENT text on each side (a re-ingested id):
    // the verify must join id_a to the INCOMING text and id_b to the
    // HISTORY text — a union keyed on id would fan out and could score
    // the new doc against its own side or mix texts across sides
    val hist = Seq(
      (1L, "history version of the shared identifier document"),
      (9L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog too"),
      (2L, "unrelated incoming content with nothing shared")).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(hist, incoming, "text", "doc_id",
        bands = 8, rowsPerBand = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // incoming doc 1 matches HISTORY doc 9 (the fox text), not history
    // doc 1 (different text) and not itself
    assert(got.length == 1, s"expected exactly one match, got ${got.toSeq}")
    assert(got(0)._1 == 1L && got(0)._2 == 9L)
    assert(got(0)._3 > 0.7 && got(0)._3 < 1.0) // scored across sides, not self-matched
  }

  test("prefix-filtered jaccard: high-threshold near-dups found, nothing else") {
    val blocked = docs.withColumn("blk", lit("all"))
    val pairs = Dedup.prefixJaccardPairs(blocked, "text", "doc_id", "blk", 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("semantic dedup: in-cell subset of the exact pairs, cells agree with assign") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    val cents = Similarity.md5Centroids(4, 64)
    val sem = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding", cents, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sem.nonEmpty && sem.subsetOf(exact)) // never invents a pair or a score
    // every reported pair's members really share a nearest centroid
    val cell = Similarity.IvfIndex.assign(emb, "embedding", cents)
      .select("vec_id", "centroid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    sem.foreach { case (a, b, _) => assert(cell(a) == cell(b)) }
    // and the trade-off is real on this data: some cross-cell pairs exist
    assert((exact -- sem).forall { case (a, b, _) => cell(a) != cell(b) })
  }

  test("semantic dedup capped: no-op when no cell exceeds the target; " +
      "subset under forced splitting with near-identical pairs retained") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    val cents = Similarity.md5Centroids(4, 64)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = rows(Similarity.semanticNearDupPairs(
      emb, "vec_id", "embedding", cents, 0.3))
    // target above every cell size → identical output (the cap is a
    // pure plan guard until a cell actually floods)
    val noop = rows(Similarity.semanticNearDupPairsCapped(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 100000))
    assert(noop == uncapped && uncapped.nonEmpty)
    // tiny target forces every cell to split to full depth: output is a
    // SUBSET (never invents pairs/scores), and a planted near-identical
    // pair still survives — its sign bits agree on every cellplane
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.3).toFloat)
    val twin = base.map(x => x + 1e-4f)
    val planted = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((9001L, base), (9002L, twin)).toDF("vec_id", "embedding"))
    val capped = rows(Similarity.semanticNearDupPairsCapped(
      planted, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8))
    val uncappedP = rows(Similarity.semanticNearDupPairs(
      planted, "vec_id", "embedding", cents, 0.3))
    assert(capped.subsetOf(uncappedP))
    assert(capped.exists { case (a, b, c) => a == 9001L && b == 9002L && c >= 0.99 })
  }

  test("semantic dedup auto: routes uncapped under the budget, capped above it, " +
      "each branch identical to its standalone form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    val cents = Similarity.md5Centroids(4, 64)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 300 vectors over 4 cells → Σ|cell|² ≤ 300² = 9e4, far under the
    // default budget: the auto route must take the uncapped branch
    val auto = rows(Similarity.semanticNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3))
    val uncapped = rows(Similarity.semanticNearDupPairs(
      emb, "vec_id", "embedding", cents, 0.3))
    assert(auto == uncapped && auto.nonEmpty)
    // the uncapped branch spreads flooded cells over salt groups with
    // the OUTPUT unchanged: targetCell=1 floods every cell past the 4×
    // salt threshold while the default budget keeps the route uncapped
    val autoSalted = rows(Similarity.semanticNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 1))
    assert(autoSalted == uncapped)
    // a budget below this corpus's Σ|cell|² forces the capped branch.
    // The above-budget DEFAULT is the PROBED rung (probeSplitBits = 1 —
    // the measured 2–3×-cost / near-complete-recall point), so the
    // default-args auto call must reproduce the probed capped form
    val autoCapped = rows(Similarity.semanticNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3,
      targetCell = 1, maxExtraBits = 8, cellPairBudget = 10))
    val probed = rows(Similarity.semanticNearDupPairsCapped(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8,
      probeSplitBits = 1))
    assert(autoCapped == probed)
    // opting down (probeSplitBits = 0) reproduces the bare capped arm
    val autoBare = rows(Similarity.semanticNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3,
      targetCell = 1, maxExtraBits = 8, cellPairBudget = 10, probeSplitBits = 0))
    val capped = rows(Similarity.semanticNearDupPairsCapped(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8))
    assert(autoBare == capped)
    assert(autoBare != uncapped) // the forced split genuinely changed the result
    // the route function itself, at both sides of the default budget
    assert(Similarity.semanticRoute(Array(0 -> 300L)) == "uncapped")
    assert(Similarity.semanticRoute(Array(0 -> 100000L)) == "capped")
    // overflow saturation: a cell above ~3.04e9 rows overflows n*n, and
    // a wrapped (negative) volume would pass ≤ budget and route the one
    // corpus that most needs the capped plan to uncapped — the volume
    // must saturate at Long.MaxValue and route capped at any real budget
    assert(Similarity.cellPairVolume(Array(0 -> 4000000000L)) == Long.MaxValue)
    assert(Similarity.semanticRoute(Array(0 -> 4000000000L)) == "capped")
    // per-cell squares that fit individually but overflow the SUM
    assert(Similarity.cellPairVolume(
      Array(0 -> 3000000000L, 1 -> 3000000000L)) == Long.MaxValue)
    assert(Similarity.semanticRoute(
      Array(0 -> 3000000000L, 1 -> 3000000000L)) == "capped")
  }

  test("semantic dedup probed: capped ⊆ probed ⊆ uncapped; one split plane " +
      "with Hamming-≤1 probing recovers every within-cell pair") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    val cents = Similarity.md5Centroids(4, 64)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = rows(Similarity.semanticNearDupPairs(
      emb, "vec_id", "embedding", cents, 0.3))
    // forced deep splits: probing sits strictly between capped and uncapped
    val capped = rows(Similarity.semanticNearDupPairsCapped(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8))
    val probed = rows(Similarity.semanticNearDupPairsCapped(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8,
      probeSplitBits = 1))
    assert(capped.subsetOf(probed) && probed.subsetOf(uncapped))
    assert(probed.size > capped.size) // the probes genuinely recovered pairs
    // depth 1 everywhere: any split is a 1-bit difference, so Hamming-≤1
    // probing recovers the ENTIRE within-cell pair set
    val probedK1 = rows(Similarity.semanticNearDupPairsCapped(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 1,
      probeSplitBits = 1))
    assert(probedK1 == uncapped)
    // and the no-op regime is unchanged by probing (nothing splits)
    val noopProbed = rows(Similarity.semanticNearDupPairsCapped(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 100000,
      probeSplitBits = 1))
    assert(noopProbed == uncapped)
    // the auto entry passes the probe knob through to its capped branch
    val autoProbed = rows(Similarity.semanticNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8,
      cellPairBudget = 10, probeSplitBits = 1))
    assert(autoProbed == probed)
  }

  test("cosine near-dup auto (d7c): the semantic route minus the centroid " +
      "column, subset of exact; forced above budget it defaults to the probed rung") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    val cents = Similarity.md5Centroids(4, 64)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val d7c = rows(Similarity.cosineNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3))
    val sem = rows(Similarity.semanticNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3).select("id_a", "id_b", "cos"))
    assert(d7c == sem && d7c.nonEmpty)
    val exact = rows(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.3))
    assert(d7c.subsetOf(exact)) // candidate generation never invents a pair
    // forced above the budget, the DEFAULT rung is the probed capped arm
    val d7cAbove = rows(Similarity.cosineNearDupPairsAuto(
      emb, "vec_id", "embedding", cents, 0.3,
      targetCell = 1, maxExtraBits = 8, cellPairBudget = 10))
    val probed = rows(Similarity.semanticNearDupPairsCapped(
        emb, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8,
        probeSplitBits = 1).select("id_a", "id_b", "cos"))
    assert(d7cAbove == probed)
  }

  test("assign (the compiled NearestCentroid loop) equals the literal " +
      "least(struct) reference form per id, ties and table order included") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 500)
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("vec_id", "centroid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (cents <- Seq(Similarity.md5Centroids(64, 64),
        Similarity.IvfIndex.train(emb, "vec_id", "embedding", nlist = 16))) {
      val literal = byId(Similarity.IvfIndex.assignLiteral(emb, "embedding", cents))
      val compiled = byId(Similarity.IvfIndex.assign(emb, "embedding", cents))
      assert(compiled == literal && literal.values.toSet.size > 1)
    }
    // edge rows: an exact-centroid vector (cos ties at 1.0 when two
    // centroids are identical — min cid wins in both forms) plus a
    // plain row. (A ZERO vector is not comparable: under ANSI the
    // literal path's SQL Divide throws on 0/0, while the compiled
    // loop's Java arithmetic yields NaN-everywhere → min cid; the
    // operator's corpora are non-zero embeddings either way.)
    val spark0 = spark
    import spark0.implicits._
    val c0 = Array.fill(8)(0.5)
    val edge = Seq(
      (0L, Array.tabulate(8)(i => (0.1f * (i + 1)))),
      (1L, c0.map(_.toFloat))
    ).toDF("vec_id", "embedding")
    val dupCents = Array(0 -> Array.fill(8)(-0.5), 1 -> c0, 2 -> c0)
    val litEdge = byId(Similarity.IvfIndex.assignLiteral(edge, "embedding", dupCents))
    val cmpEdge = byId(Similarity.IvfIndex.assign(edge, "embedding", dupCents))
    assert(cmpEdge == litEdge)
    assert(litEdge(1L) == 1, s"tie must keep the smaller cid, got $litEdge")
    // an unsorted centroid table must not change the tie rule
    val shuffled = dupCents.reverse
    assert(byId(Similarity.IvfIndex.assign(edge, "embedding", shuffled)) == litEdge)
    // the plan really is the single compiled expression, not an
    // nlist-branch least() — and a table past any literal-plan reach
    // (nlist=300) assigns without growing the tree
    val big = Similarity.md5Centroids(300, 8)
    val routed = Similarity.IvfIndex.assign(edge, "embedding", big)
    assert(routed.queryExecution.analyzed.toString.contains("graft_nearest_centroid"))
    assert(!Similarity.IvfIndex.assignLiteral(edge, "embedding", dupCents)
      .queryExecution.analyzed.toString.contains("graft_nearest_centroid"))
    assert(byId(routed).size == 2)
  }

  test("broadcast centroid carrier: bit-identical assignment and probe " +
      "list to the reference-object form; the expression serializes to a " +
      "fixed-size handle; auto routes on table size") {
    import graft.functions.{CentroidRouting, CentroidTable, NearestCentroid,
      NearestCentroidBcast, TopCentroids}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 500)
    val cents = Similarity.md5Centroids(64, 64)
    // both carriers built directly over ONE table
    val bc = spark.sparkContext.broadcast(CentroidTable.sorted(cents))
    def byId(c: org.apache.spark.sql.Column): Map[Long, Int] =
      emb.select(col("vec_id"), c).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaExpr = byId(NearestCentroid.column(col("embedding"), cents))
    val viaBcast = byId(NearestCentroid.columnBroadcast(col("embedding"), bc))
    assert(viaBcast == viaExpr && viaExpr.values.toSet.size > 1)
    def probes(c: org.apache.spark.sql.Column): Map[Long, List[Int]] =
      emb.select(col("vec_id"), c).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val prExpr = probes(TopCentroids.column(col("embedding"), cents, 5))
    val prBcast = probes(TopCentroids.columnBroadcast(col("embedding"), bc, 5))
    assert(prBcast == prExpr)
    bc.destroy()
    // the auto route over a table above the line really plans the bcast
    // expression (analysis only — nothing executes)
    val planned = Similarity.IvfIndex.assign(emb, "embedding",
      Similarity.md5Centroids(8192, 64))
    assert(planned.queryExecution.analyzed.toString
      .contains("graft_nearest_centroid_bcast"))
    // the handle is what rides the task binary: at nlist=4096×64 the
    // reference-object expression java-serializes with the whole table
    // (~2 MB); the broadcast expression stays a fixed-size handle
    def serSize(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close(); bos.size()
    }
    val big = Similarity.md5Centroids(4096, 64)
    val t = CentroidTable.sorted(big)
    val child = org.apache.spark.sql.GraftBridge.expression(col("embedding"))
    val exprBytes = serSize(NearestCentroid(child, t.ids, t.vecs))
    val bcastBytes = serSize(NearestCentroidBcast(child,
      spark.sparkContext.broadcast(t)))
    assert(exprBytes > 2000000, s"table no longer rides the expression? $exprBytes")
    assert(bcastBytes < 20000, s"handle form must stay small: $bcastBytes")
    // auto threshold: 2^18 doubles — 4096×64 sits AT the line (expr),
    // 8192×64 above it (broadcast)
    assert(!CentroidRouting.useBroadcast(4096L * 64))
    assert(CentroidRouting.useBroadcast(8192L * 64))
    assert(!CentroidRouting.useBroadcast(Similarity.md5Centroids(64, 64)
      .length.toLong * 64))
  }

  test("TopCentroids (topK's probe list) equals the literal " +
      "sort_array/slice reference form per query, order included") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    for (nlist <- Seq(8, 64); nprobe <- Seq(1, 3, 8)) {
      val cents = Similarity.md5Centroids(nlist, 64)
      val lit0 = Similarity.IvfIndex.probeListLiteral(emb, "vec_id",
          "embedding", cents, nprobe)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      val cmp = emb.select(col("vec_id"),
          graft.functions.TopCentroids.column(col("embedding"), cents, nprobe)
            .as("pr"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      assert(cmp == lit0, s"nlist=$nlist nprobe=$nprobe")
      assert(lit0.values.forall(_.length == math.min(nprobe, nlist)))
    }
    // equal-cosine tie: duplicated centroid — the smaller cid must come
    // first in both forms
    val spark0 = spark
    import spark0.implicits._
    val c0 = Array.fill(8)(0.5)
    val q = Seq((1L, c0.map(_.toFloat))).toDF("vec_id", "embedding")
    val dupCents = Array(2 -> c0, 0 -> Array.fill(8)(-0.5), 1 -> c0)
    val tie = q.select(graft.functions.TopCentroids.column(
        col("embedding"), dupCents, 3)).head().getSeq[Int](0).toList
    assert(tie == List(1, 2, 0), s"expected (1,2,0) by (cos desc, cid asc), got $tie")
  }

  test("NaN rule: a zero-norm centroid's NaN cosine ranks below every real " +
      "cosine in both compiled loops — it never wins assignment and fills " +
      "trailing probe slots only") {
    // Neither literal mode is a usable reference on this table: under
    // ANSI the literal's SQL Divide throws on the 0/0; with ANSI off it
    // yields NULL (not NaN), and a NULL struct field sorts FIRST in
    // least/sort_array — the literal/non-ANSI form assigns EVERY row to
    // the degenerate centroid (asserted below: the measured behavior
    // that makes NaN-ranks-last the only ordering keeping real winners).
    val spark0 = spark
    import spark0.implicits._
    val zero = Array.fill(8)(0.0)
    val cents = Array(0 -> Array.fill(8)(-0.5), 1 -> zero, 2 -> Array.fill(8)(0.5))
    val rows = Seq(
      (0L, Array.tabulate(8)(i => 0.1f * (i + 1))),
      (1L, Array.fill(8)(-1.0f)),
      (2L, Array.fill(8)(0.25f))).toDF("vec_id", "embedding")
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("vec_id", "centroid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val assigned = byId(Similarity.IvfIndex.assign(rows, "embedding", cents))
    // the NaN centroid never wins; each row goes to its true nearest
    assert(assigned == Map(0L -> 2, 1L -> 0, 2L -> 2), s"got $assigned")
    // probe list: the NaN centroid occupies exactly the LAST slot
    val probes = rows.select(col("vec_id"),
        graft.functions.TopCentroids.column(col("embedding"), cents, 3).as("pr"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(probes.values.forall(pr => pr.length == 3 && pr.last == 1 &&
      !pr.init.contains(1)), s"got $probes")
    assert(probes(0L) == List(2, 0, 1) && probes(1L) == List(0, 2, 1))
    // two zero-norm centroids: trailing slots in ascending-cid order
    val cents2 = Array(0 -> zero, 1 -> Array.fill(8)(0.5), 2 -> zero)
    val pr2 = rows.where(col("vec_id") === 0L).select(
        graft.functions.TopCentroids.column(col("embedding"), cents2, 3))
      .head().getSeq[Int](0).toList
    assert(pr2 == List(1, 0, 2), s"got $pr2")
    // all-NaN row (every centroid zero-norm): minimum cid wins, and the
    // probe order is ascending cid — the documented degenerate-table rule
    val allZero = Array(3 -> zero, 1 -> zero, 2 -> zero)
    assert(byId(Similarity.IvfIndex.assign(rows, "embedding", allZero))
      .values.forall(_ == 1))
    // the literal/non-ANSI reference really is unusable here: NULL (not
    // NaN) negcos sorts first, flooding every row onto the degenerate
    // centroid — the measured fact the compiled NaN rule diverges from
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val litFlood = byId(Similarity.IvfIndex.assignLiteral(rows, "embedding", cents))
      assert(litFlood.values.forall(_ == 1), s"got $litFlood")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("semanticBuckets (st9's key): fixed-depth buckets equal the batch " +
      "route's subcell keys when every cell splits to full depth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    val cents = Similarity.md5Centroids(4, 64)
    // targetCell=1 forces every (>= 2^3-sized) cell to the full 3-bit
    // depth, so the adaptive batch keys coincide with the fixed-depth
    // streaming projection — the parity that lets st9's oracle reuse
    // d11b's cellplane CTEs
    val batch = Similarity.cappedSubcellKeys(emb, "vec_id", "embedding",
        cents, targetCell = 1, maxExtraBits = 3)
      .select("centroid", "subcell").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val streaming = Similarity.semanticBuckets(emb, "embedding", cents, maxBits = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(streaming == batch && streaming.nonEmpty)
    assert(streaming.exists(_._2 != 0L)) // the split bits genuinely vary
  }

  test("semanticBucketsAdaptive (st9b's key): per-id key parity with the " +
      "batch capped route under PER-CELL depths; differs from fixed depth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
    val cents = Similarity.md5Centroids(4, 64)
    // pick a targetCell the fixture's cells STRADDLE (the smallest cell's
    // size): that cell stays at depth 0 while bigger ones split, so the
    // test genuinely exercises per-cell variation rather than a uniform
    // depth that the fixed-depth form would reproduce anyway
    val minCell = Similarity.IvfIndex.assign(emb, "embedding", cents)
      .groupBy("centroid").count().collect().map(_.getLong(1)).min.toInt
    val depths = Similarity.cellDepths(emb, "embedding", cents,
      targetCell = minCell, maxExtraBits = 3)
    assert(depths.values.toSet.size > 1,
      s"fixture must exercise varying depths, got $depths (targetCell=$minCell)")
    // PER-ID parity with the batch capped route's (centroid, subcell) —
    // the invariant that makes the streaming state keys exactly the
    // batch plan's pair-join keys
    val batch = Similarity.cappedSubcellKeys(emb, "vec_id", "embedding",
        cents, targetCell = minCell, maxExtraBits = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val adaptive = Similarity.semanticBucketsAdaptive(emb, "embedding",
        cents, depths)
      .select("vec_id", "centroid", "subcell")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(adaptive == batch && adaptive.nonEmpty)
    // and the adaptive key genuinely DIFFERS from the fixed full-depth
    // one where a cell's depth was reduced: every id in a k<3 cell whose
    // high bits are set maps to a coarser subcell than fixed depth 3
    // gives it (per-id comparison against the full-depth batch keys)
    val fixedFull = Similarity.cappedSubcellKeys(emb, "vec_id", "embedding",
        cents, targetCell = 1, maxExtraBits = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val reduced = adaptive.filter { case (id, (cid, sub)) =>
      depths(cid) < 3 && fixedFull(id)._2 != sub }
    assert(reduced.nonEmpty,
      "expected at least one id whose reduced-depth key is coarser than " +
        "its fixed full-depth key")
    // coarsening only MERGES keys — an adaptive subcell is the fixed
    // subcell masked to the cell's depth, never a new value
    assert(adaptive.forall { case (id, (cid, sub)) =>
      (fixedFull(id)._2 & ((1L << depths(cid)) - 1)) == sub })
    // unseen-cell default: an empty depth map degrades to unsplit keys,
    // never dropped rows
    val unsplit = Similarity.semanticBucketsAdaptive(emb, "embedding",
      cents, Map.empty)
    assert(unsplit.count() == emb.count())
    assert(unsplit.select("subcell").distinct().collect()
      .map(_.getLong(0)).toSet == Set(0L))
  }

  test("semantic dedup APPLY (d12): every vector absorbed exactly once, " +
      "survivor is its cluster's min id") {
    val spark0 = spark
    import spark0.implicits._
    val d12 = graft.Queries.d12SemanticClusters(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val n = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 1000).count()
    // the survivors' absorbed counts tile the corpus: nothing dropped,
    // nothing double-counted
    assert(d12.map(_._2).sum == n)
    // at least one genuine multi-member cluster on this fixture
    assert(d12.exists(_._2 > 1) && d12.length < n)
    // a survivor is the min id of its component: no pair's LARGER member
    // (id_a < id_b by contract) can be a survivor — the smaller member
    // proves a lower id shares its component
    val survivors = d12.map(_._1).toSet
    val pairs = graft.operators.Similarity.semanticNearDupPairsAuto(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .where(col("vec_id") < 1000), "vec_id", "embedding",
        graft.operators.Similarity.md5Centroids(8, 64), 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty && pairs.forall { case (_, b) => !survivors(b) })
  }

  test("point-mass subcell guard: an exact-dup blast is salted across group " +
      "tasks with the output set unchanged, capped and probed") {
    // 40 identical vectors (sign bits identical at ANY split depth, so
    // the subcell never splits) planted over the 300-vector background;
    // targetCell=1 makes the blast's subcell flood the 4·targetCell salt
    // threshold, so the salted path runs for it while background
    // subcells take the plain join — the equality below covers both
    // halves and their union
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300).select("vec_id", "embedding")
    val base = Array.tabulate(64)(i => (math.cos(i + 1) * 0.3).toFloat)
    val blast = (0 until 40).map(i => (9000L + i, base)).toDF("vec_id", "embedding")
    // a second, SMALLER blast sized for the probed rule's union case:
    // its exact population (10) exceeds the flat 4·targetCell line but
    // can sit under the (1+k)-scaled probe line when its neighbor keys
    // are thin — the exact-side rule must still salt it, and the output
    // contract below must hold either way
    val base2 = Array.tabulate(64)(i => (math.sin(2 * i + 1) * 0.3).toFloat)
    val blast2 = (0 until 10).map(i => (9500L + i, base2)).toDF("vec_id", "embedding")
    val planted = emb.union(blast).union(blast2)
    val cents = Similarity.md5Centroids(4, 64)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = rows(Similarity.semanticNearDupPairs(
      planted, "vec_id", "embedding", cents, 0.3))
    // independent derivation of the capped contract: uncapped pairs
    // whose members agree on the (centroid, subcell) key
    val keyOf = Similarity.cappedSubcellKeys(planted, "vec_id", "embedding",
        cents, targetCell = 1, maxExtraBits = 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val expectCapped = uncapped.filter { case (a, b, _) => keyOf(a) == keyOf(b) }
    val capped = rows(Similarity.semanticNearDupPairsCapped(
      planted, "vec_id", "embedding", cents, 0.3, targetCell = 1, maxExtraBits = 8))
    assert(capped == expectCapped)
    // every one of the blasts' C(40,2) = 780 and C(10,2) = 45 pairs is
    // genuine (cos = 1.0) and none is lost to the salt spreading
    val blastPairs = capped.filter { case (a, b, _) =>
      a >= 9000L && a < 9500L && b >= 9000L && b < 9500L }
    assert(blastPairs.size == 780 && blastPairs.forall(_._3 == 1.0))
    val blast2Pairs = capped.filter { case (a, b, _) => a >= 9500L && b >= 9500L }
    assert(blast2Pairs.size == 45 && blast2Pairs.forall(_._3 == 1.0))
    // probed variant: pairs whose subcells differ in ≤ 1 bit of the
    // shared cell mask (both members carry the same k) — also salted,
    // also exactly the contract
    val expectProbed = uncapped.filter { case (a, b, _) =>
      keyOf(a)._1 == keyOf(b)._1 &&
        java.lang.Long.bitCount(keyOf(a)._2 ^ keyOf(b)._2) <= 1
    }
    val probed = rows(Similarity.semanticNearDupPairsCapped(
      planted, "vec_id", "embedding", cents, 0.3, targetCell = 1,
      maxExtraBits = 8, probeSplitBits = 1))
    assert(probed == expectProbed)
    assert(expectCapped.subsetOf(expectProbed))
  }

  test("flood-majority clamp: past the replication budget per-key salt " +
      "factors are clamped worst-first; the clamped run emits exactly the " +
      "capped and probed contracts") {
    // same blast shape as the point-mass test, sized so Σ n·saltCount
    // over flooded keys exceeds the 3×-corpus replication budget — the
    // planted flood-MAJORITY regime (r16 measured it at 2.4M vectors /
    // untrained centroids: 93% flooded, s=64, ~230 GB shuffle, disk
    // full; the clamp exists so that job completes instead)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300).select("vec_id", "embedding")
    val base = Array.tabulate(64)(i => (math.cos(i + 1) * 0.3).toFloat)
    val blast = (0 until 40).map(i => (9000L + i, base)).toDF("vec_id", "embedding")
    val base2 = Array.tabulate(64)(i => (math.sin(2 * i + 1) * 0.3).toFloat)
    val blast2 = (0 until 10).map(i => (9500L + i, base2)).toDF("vec_id", "embedding")
    val planted = emb.union(blast).union(blast2)
    val corpusRows = planted.count()
    val cents = Similarity.md5Centroids(4, 64)
    // the fixture genuinely exceeds the budget under the plan's own rules
    val floodedPops = Similarity.cappedSubcellKeys(planted, "vec_id",
        "embedding", cents, targetCell = 1, maxExtraBits = 8)
      .groupBy("centroid", "subcell").count()
      .collect().map(_.getLong(2)).filter(_ > 4L)
    val unclampedRepl = floodedPops
      .map(n => n * Similarity.saltCount(n, 1)).sum
    assert(unclampedRepl > 3L * corpusRows,
      s"fixture must exceed the budget: repl=$unclampedRepl corpus=$corpusRows")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // independent reference, derived as in the point-mass test: uncapped
    // pairs whose members share the (centroid, subcell) key, and for
    // probeSplitBits = 1 those whose subcells differ in ≤ 1 bit
    val uncapped = rows(Similarity.semanticNearDupPairs(
      planted, "vec_id", "embedding", cents, 0.3))
    val keyOf = Similarity.cappedSubcellKeys(planted, "vec_id", "embedding",
        cents, targetCell = 1, maxExtraBits = 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val expect = Map(
      0 -> uncapped.filter { case (a, b, _) => keyOf(a) == keyOf(b) },
      1 -> uncapped.filter { case (a, b, _) =>
        keyOf(a)._1 == keyOf(b)._1 &&
          java.lang.Long.bitCount(keyOf(a)._2 ^ keyOf(b)._2) <= 1 })
    for (pb <- Seq(0, 1)) {
      val clamped = rows(Similarity.semanticNearDupPairsCapped(
        planted, "vec_id", "embedding", cents, 0.3, targetCell = 1,
        maxExtraBits = 8, probeSplitBits = pb))
      assert(clamped == expect(pb) && clamped.nonEmpty,
        s"probeBits=$pb: clamp changed the output")
    }
    // clampSaltCounts invariants (water-filling): the smallest feasible
    // per-group target T serves the LARGEST keys the most groups, Σ n·s
    // stays inside the budget, keys below 2 groups run unsalted
    val flooded: Seq[(Seq[Any], Long)] =
      Seq(Seq[Any](0) -> 40L, Seq[Any](1) -> 10L, Seq[Any](2) -> 6L)
    val clamped = Similarity.clampSaltCounts(flooded, 1, budgetRows = 150L).toMap
    // T=14 is the smallest feasible target: s(40)=ceil(40/14)=3 costs
    // 120 ≤ 150, while T=13 gives s(40)=4 → 160 over budget; the small
    // keys fall under 2 groups at that T and run unsalted
    assert(clamped(Seq[Any](0)) == 3)
    assert(clamped(Seq[Any](1)) == 1 && clamped(Seq[Any](2)) == 1)
    val spent = flooded.collect { case (k, n) if clamped(k) >= 2 => n * clamped(k) }.sum
    assert(spent <= 150L)
    // balance: comparable keys get comparable spread — the budget is
    // NOT spent greedily on key #1 leaving a near-equal #2 unsalted
    val near: Seq[(Seq[Any], Long)] =
      Seq(Seq[Any](0) -> 400L, Seq[Any](1) -> 350L, Seq[Any](2) -> 300L)
    val balanced = Similarity.clampSaltCounts(near, 1, budgetRows = 2000L).toMap
    assert(balanced(Seq[Any](0)) >= 2 && balanced(Seq[Any](1)) >= 2,
      s"near-equal top keys must share the budget: $balanced")
    assert(balanced(Seq[Any](0)) >= balanced(Seq[Any](1)) &&
      balanced(Seq[Any](1)) >= balanced(Seq[Any](2)))
    assert(near.collect { case (k, n) if balanced(k) >= 2 => n * balanced(k) }
      .sum <= 2000L)
    // an unconstrained budget reproduces the full factors
    val full = Similarity.clampSaltCounts(flooded, 1, Long.MaxValue).toMap
    assert(full == Map(Seq[Any](0) -> 40, Seq[Any](1) -> 10, Seq[Any](2) -> 6))
  }

  test("adaptive refinement: flooded buckets split instead of dropping pairs") {
    // 10 distinct 3-word subsets of a 5-word vocabulary, 4 copies each:
    // with ONE band of ONE minhash row, every doc keys on the min-hash of
    // its 3 words — at most 5 distinct keys for 10 subsets, so by
    // pigeonhole some bucket holds ≥2 subsets = 8 docs > maxBucket=6 and
    // the capped run provably drops that bucket's same-set pairs.
    // Refinement splits it by reserve rows (distinct subsets diverge,
    // identical ones never do) down to the 4-doc subset groups.
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val subsets = vocab.combinations(3).toSeq // 10 subsets
    val flood = subsets.zipWithIndex.flatMap { case (ws, si) =>
      (0 until 4).map(c => ((si * 4 + c).toLong, ws.mkString(" ")))
    }.toDF("doc_id", "text")
    def run(refine: Int) = Dedup.minhashNearDup(flood, "text", "doc_id",
        bands = 1, rowsPerBand = 1, threshold = 0.99, shingleN = 1,
        maxBucket = 6, refineRows = refine)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = run(0)
    val refined = run(6)
    // ground truth: all C(4,2)=6 pairs within each of the 10 subset groups
    val truth = (0 until 10).flatMap { si =>
      val ids = (0 until 4).map(c => (si * 4 + c).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(refined == truth, s"refined missed ${(truth -- refined).size} planted pairs")
    assert(capped.subsetOf(refined))
    assert(capped.size < truth.size, "cap never flooded — test corpus too small")
  }

  test("neardupPairs auto entry: switch point pinned; both arms agree below it") {
    // switch at 100k docs (sf10 measurement: fixed-cap recall 0.71 at
    // 500k, 1.00 at 50k — see Dedup.neardupPlan scaladoc)
    assert(Dedup.neardupPlan(99999L) == 0)
    assert(Dedup.neardupPlan(100000L) == 8) // boundary: adaptive at the switch
    assert(Dedup.neardupPlan(50000L) == 0) // sf1, recall measured 1.00
    assert(Dedup.neardupPlan(500000L) == 8) // sf10, fixed cap measured 0.71
    assert(Dedup.neardupPlan(1000L, adaptiveMinDocs = 500L) == 8) // caller override
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(length(TextFunctions.normalizeText(col("text"))) > 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fixed = rows(Dedup.minhashNearDup(corpus, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2))
    // auto below the switch = the fixed plan, and the numDocs hint must
    // short-circuit the count scan without changing the choice
    assert(rows(Dedup.neardupPairs(corpus, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2)) == fixed)
    // auto FORCED adaptive (numDocs hint past the switch): same pairs on
    // a corpus where nothing floods — the PLAN choice never changes
    // results (prefilter off to isolate it; the filter is probabilistic
    // for borderline-j pairs and is tested separately below)
    assert(rows(Dedup.neardupPairs(corpus, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2,
      numDocs = Some(200000L), prefilterK = 0)) == fixed)
  }

  test("sketch pre-filter: exact dups always kept (even tiny docs), " +
      "disjoint docs dropped, output a candidate subset") {
    val pf = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (3L, "tiny doc"),                                      // ONE bigram
      (4L, "tiny doc"),                                      // exact dup of 3
      (5L, "completely different words nothing shared here at all"),
      (6L, "unrelated vocabulary disjoint from every other document text")
    ).toDF("doc_id", "text")
    // candidate list constructed directly: the filter's contract is
    // per-pair, independent of how candidates were generated
    val cands = Seq((1L, 2L), (3L, 4L), (5L, 6L), (1L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.sketchPrefilter(pf, cands, "text", "doc_id",
        shingleN = 2, k = 32, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact dups survive: identical sets share min(k, |set|) values — the
    // tiny 1-bigram pair (3,4) is exactly the minShared>|set| guard
    assert(kept.contains((1L, 2L)) && kept.contains((3L, 4L)))
    // zero-overlap pairs cannot share a sketch value
    assert(!kept.contains((5L, 6L)) && !kept.contains((1L, 5L)))
  }

  test("sketch pre-filter inside the auto entry: subset of unfiltered, " +
      "every high-jaccard pair retained") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(length(TextFunctions.normalizeText(col("text"))) > 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unfiltered = rows(Dedup.neardupPairs(corpus, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2,
      numDocs = Some(200000L), prefilterK = 0))
    val filtered = rows(Dedup.neardupPairs(corpus, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2,
      numDocs = Some(200000L)))
    assert(filtered.subsetOf(unfiltered)) // the filter only removes
    // the Binom(k, j) drop bound is ~1e-10 by j = 0.6 — losing such a
    // pair means the filter is broken, not unlucky
    val high = unfiltered.filter(_._3 >= 0.5)
    assert(high.subsetOf(filtered) && high.nonEmpty)
  }

  test("incremental refinement: cross-side flooded buckets split, matches recovered") {
    // same pigeonhole corpus as the self-dedup flood test, but the 4
    // copies of each 3-word subset are SPLIT across sides: history gets
    // copies 0-1, incoming copies 2-3. With one band of one minhash row
    // at most 5 distinct keys carry 10 subsets, so some bucket holds ≥2
    // subsets = 4 docs PER SIDE > maxBucket=3 and the fixed cap drops
    // both sides of it — the incoming docs' exact history duplicates are
    // silently missed. Refinement splits the bucket by reserve rows
    // identically on both sides (the key extension is a pure function of
    // the text), so every incoming doc recovers its history match; the
    // 2-per-side residual of identical docs passes the per-side cap.
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val subsets = vocab.combinations(3).toSeq // 10 subsets
    val all = subsets.zipWithIndex.flatMap { case (ws, si) =>
      (0 until 4).map(c => ((si * 4 + c).toLong, ws.mkString(" ")))
    }
    val hist = all.filter(_._1 % 4 < 2).toDF("doc_id", "text")
    val incoming = all.filter(_._1 % 4 >= 2).toDF("doc_id", "text")
    def run(refine: Int) = Dedup.incrementalNearDup(hist, incoming,
        "text", "doc_id", bands = 1, rowsPerBand = 1, threshold = 0.99,
        shingleN = 1, maxBucket = 3, refineRows = refine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = run(0)
    val refined = run(6)
    // truth: every incoming doc is an exact dup of its subset's two
    // history copies; best match ties to the smallest history id si*4
    val truth = (0 until 10).flatMap { si =>
      Seq((si * 4 + 2).toLong, (si * 4 + 3).toLong).map(n => (n, si * 4L, 1.0))
    }.toSet
    assert(refined == truth, s"refined missed ${(truth -- refined).size} matches")
    assert(capped.subsetOf(refined))
    assert(capped.size < truth.size, "cap never flooded — test corpus too small")
  }

  test("history band-index artifact: indexed incremental equals direct, " +
      "including through a parquet round-trip and under refinement") {
    // the materialize-once split: historyBandIndex/historyGramSets are a
    // pure function of (history, params), so feeding them precomputed —
    // or read back from disk, the pipeline's actual shape — must give
    // bit-identical output to the direct entry on the same fixture
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val subsets = vocab.combinations(3).toSeq
    val all = subsets.zipWithIndex.flatMap { case (ws, si) =>
      (0 until 4).map(c => ((si * 4 + c).toLong, ws.mkString(" ")))
    }
    val hist = all.filter(_._1 % 4 < 2).toDF("doc_id", "text")
    val incoming = all.filter(_._1 % 4 >= 2).toDF("doc_id", "text")
    def direct(refine: Int) = Dedup.incrementalNearDup(hist, incoming,
        "text", "doc_id", bands = 1, rowsPerBand = 1, threshold = 0.99,
        shingleN = 1, maxBucket = 3, refineRows = refine)
      .collect().map(_.toSeq).toSet
    val idx = Dedup.historyBandIndex(hist, "text", "doc_id",
      bands = 1, rowsPerBand = 1, shingleN = 1)
    val sets = Dedup.historyGramSets(hist, "text", "doc_id", shingleN = 1)
    val texts = hist.select(col("doc_id").as("id"), col("text"))
    def indexed(i: org.apache.spark.sql.DataFrame,
                s: org.apache.spark.sql.DataFrame,
                t: org.apache.spark.sql.DataFrame, refine: Int) =
      Dedup.incrementalNearDupIndexed(i, s, t, incoming, "text", "doc_id",
        bands = 1, rowsPerBand = 1, threshold = 0.99, shingleN = 1,
        maxBucket = 3, refineRows = refine)
      .collect().map(_.toSeq).toSet
    assert(indexed(idx, sets, texts, 0) == direct(0))
    assert(indexed(idx, sets, texts, 6) == direct(6))
    // disk round-trip: the artifact's persisted form feeds the same op
    val base = tempDir("histidx")
    idx.write.parquet(s"$base/index")
    sets.write.parquet(s"$base/sets")
    texts.write.parquet(s"$base/texts")
    assert(indexed(spark.read.parquet(s"$base/index"),
      spark.read.parquet(s"$base/sets"),
      spark.read.parquet(s"$base/texts"), 6) == direct(6))
  }

  test("incrementalPairs auto entry: both arms agree below the switch; hint forces adaptive") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(length(TextFunctions.normalizeText(col("text"))) > 0)
    val hist = d.where(col("doc_id") % 2 === 0)
    val inc = d.where(col("doc_id") % 2 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fixed = rows(Dedup.incrementalNearDup(hist, inc, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2))
    assert(fixed.nonEmpty)
    // auto below the switch = the fixed plan
    assert(rows(Dedup.incrementalPairs(hist, inc, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2)) == fixed)
    // auto forced adaptive via the numDocs hint: nothing floods at this
    // scale, so the strategy choice must not change results
    assert(rows(Dedup.incrementalPairs(hist, inc, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2,
      numDocs = Some(200000L))) == fixed)
  }

  test("adaptive refinement: identical output to capped when nothing floods") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(length(TextFunctions.normalizeText(col("text"))) > 0)
    def run(refine: Int) = Dedup.minhashNearDup(corpus, "text", "doc_id",
        bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2,
        refineRows = refine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(8) == run(0))
  }

  test("cluster-aware split: near-dup pair members never straddle splits") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(length(TextFunctions.normalizeText(col("text"))) > 0)
    val pairs = Dedup.minhashNearDup(d, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2)
    val labels = Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
    val bucket = graft.operators.Sampling.hashBucket(
      concat(lit("split:"), col("cluster_id").cast("string")))
    val split = labels.select(col("id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) =>
      assert(split(a) == split(b), s"near-dups $a/$b straddle splits — eval leakage")
    }
    assert(split.values.toSet.size > 1) // the split actually splits
  }

  test("cosine top-k: exact ranking on constructed vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
      (2L, Array(0.5f, 0.5f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0L),
      "vec_id", "embedding", k = 3).collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(top(0).getAs[Double]("cos") > 0.99)
  }

  test("LSH ANN: finds the true nearest neighbor via bucket probes") {
    val rnd = new scala.util.Random(3)
    val base = Array.fill(16)(rnd.nextFloat())
    val corpus = (0L to 49L).map { i =>
      (i, Array.tabulate(16)(d => rnd.nextFloat()))
    } :+ ((50L, base.map(x => x + 0.01f))) // planted near-dup of the query
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queryDf = Seq((99L, base)).toDF("vec_id", "embedding")
    val ann = Similarity.lshTopK(corpusDf, queryDf, "vec_id", "embedding",
      k = 3, numPlanes = 8, dim = 16).collect()
    assert(ann.nonEmpty)
    assert(ann(0).getLong(1) == 50L, s"expected planted neighbor first, got ${ann.toSeq}")
  }

  test("LSH near-dup pairs: planted pair found, found set agrees with the exact verifier") {
    val rnd = new scala.util.Random(7)
    val base = Array.tabulate(16)(_ => rnd.nextFloat())
    val corpus = (0L to 49L).map(i => (i, Array.tabulate(16)(_ => rnd.nextFloat()))) :+
      ((50L, base.map(_ + 0.01f))) :+ ((51L, base))
    val df = corpus.toDF("vec_id", "embedding")
    @annotation.nowarn("cat=deprecation") // d7b's own spec
    val pairs = Similarity.cosineNearDupLshPairs(df, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 8, dim = 16, probeBits = 2).collect()
    assert(pairs.exists(r => r.getLong(0) == 50L && r.getLong(1) == 51L),
      s"planted near-dup (50,51) missing: ${pairs.toSeq}")
    val exact = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(exact),
      "LSH path reported a pair the exact verifier rejects")
  }

  test("native shingle/minhash/pairs expressions equal the column formulations") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // shingles
    val sh = real.select(col("doc_id"),
      array_distinct(TextFunctions.shingles(col("text"), 2)).as("col_v"),
      graft.functions.NativeTextColumns.wordShingles(col("text"), 2).as("nat_v"))
      .collect()
    sh.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"shingles doc ${r.getLong(0)}")
    }
    // minhash signature (array<long> — one md5 per gram, Kirsch-Mitzenmacher)
    val ms = real.select(col("doc_id"),
      Dedup.minhashSignature(col("text"), 8, 2).as("col_v"),
      graft.functions.NativeTextColumns.minhashSignature(col("text"), 8, 2).as("nat_v"))
      .collect()
    ms.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"minhash doc ${r.getLong(0)}")
      assert(r.getSeq[Long](1).forall(v => v >= 0L && v < (1L << 35)),
        s"minhash out of 35-bit range doc ${r.getLong(0)}")
    }
    // term counts (map-side tf) vs explode + groupBy over the same tokens
    val natTf = real.select(col("doc_id"),
        explode(graft.functions.NativeTextColumns.termCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term"), col("tc.tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val colTf = real.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(natTf == colTf, "termCounts disagrees with explode+groupBy tf")
    // pairs
    val pr = Seq((Seq(1L, 2L, 3L), 0)).toDF("ids", "x")
      .select(graft.functions.NativeTextColumns.sortedPairs(col("ids")).as("p"))
      .select(explode(col("p")).as("q")).select(col("q.id_a"), col("q.id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pr == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("native function family evaluates through the SQL surface") {
    import graft.functions._
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("g_shingles", es => WordShingles(es.head, 2), "scala_udf")
    reg.createOrReplaceTempFunction("g_minhash",
      es => MinHashSignature(es.head, 8, 2), "scala_udf")
    reg.createOrReplaceTempFunction("g_gramhash", es => GramHashes(es.head, 2), "scala_udf")
    reg.createOrReplaceTempFunction("g_stats", es => TextStats(es.head), "scala_udf")
    docs.createOrReplaceTempView("sql_docs")
    val r = spark.sql(
      """SELECT size(g_shingles(text)) s, size(g_minhash(text)) m,
        |size(g_gramhash(text)) g, g_stats(text).n_tok t
        |FROM sql_docs WHERE doc_id = 1""".stripMargin).collect()(0)
    assert(r.getInt(0) == 8 && r.getInt(1) == 8 && r.getInt(2) == 8 && r.getInt(3) == 9)
  }

  test("native SimHash64 expression: equals the column formulation, codegen-safe, SQL-registered") {
    val nonEmpty = docs.where(length(TextFunctions.normalizeText(col("text"))) > 0)
    val both = nonEmpty.select(col("doc_id"),
      Dedup.simhash64(col("text")).as("hof"),
      graft.functions.SimHash64.simhash64Native(col("text")).as("native"))
      .collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
    // SQL surface via extensions-equivalent registration
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash64", es => graft.functions.SimHash64(es.head), "scala_udf")
    docs.createOrReplaceTempView("dedup_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash64(text) h FROM dedup_docs WHERE doc_id = 1").collect()(0)
    assert(viaSql.getLong(1) == both.find(_.getLong(0) == 1L).get.getLong(1))
  }

  test("native BandKeys expression: equals the nested-transform banding") {
    val bands = 4; val rpb = 3
    val sigs = docs.select(col("doc_id"),
      graft.functions.NativeTextColumns
        .minhashSignature(col("text"), bands * rpb, 1).as("sig"))
    val both = sigs.select(col("doc_id"),
      transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws("|", transform(
          slice(col("sig"), b * rpb + 1, lit(rpb)), v => v.cast("string")))).as("hof"),
      graft.functions.NativeTextColumns.bandKeys(col("sig"), bands, rpb).as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.get(0)}")
    }
  }

  test("native SimHash16 expression: equals the column formulation (incl. null text)") {
    val both = docs.select(col("doc_id"),
      Dedup.simhash16(col("text")).as("hof"),
      graft.functions.SimHash16.simhash16Native(col("text")).as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
    // null text → 0L on both formulations (the coalesce in the wrapper)
    val nulls = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(Dedup.simhash16(col("text")).as("hof"),
        graft.functions.SimHash16.simhash16Native(col("text")).as("native"))
      .collect()(0)
    assert(nulls.getLong(0) == 0L && nulls.getLong(1) == 0L)
  }

  test("LSH ANN recall: d6-style query finds most of the exact d5 top-k") {
    val rnd = new scala.util.Random(11)
    val corpus = (0L to 199L).map(i => (i, Array.fill(16)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 5, 8, 16,
        probeBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low: $ann vs $exact")
  }

  test("IVF index: nearest centroid probing finds the planted neighbor") {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextFloat())
    val corpus = ((0L to 99L).map(i => (i, Array.tabulate(16)(_ => rnd.nextFloat())))
      :+ ((100L, base.map(x => (x + 0.005f)))))
      .toDF("vec_id", "embedding")
    val queries = Seq((999L, base)).toDF("vec_id", "embedding")
    val cents = Similarity.IvfIndex.train(corpus, "vec_id", "embedding", nlist = 4, iters = 2)
    assert(cents.length == 4 && cents.forall(_._2.length == 16))
    val hits = Similarity.IvfIndex.topK(corpus, queries, "vec_id", "embedding",
      k = 3, cents, nprobe = 2).collect()
    assert(hits.nonEmpty && hits(0).getLong(1) == 100L,
      s"expected planted neighbor first, got ${hits.toSeq}")
  }

  test("cosine near-dup pairs: exact pairs above threshold") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.04f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("VecDot edges: empty arrays give 0, shorter length bounds the loop, float==double") {
    val df = Seq(
      (Array[Float](), Array[Float](), 0.0),
      (Array(1.0f, 2.0f, 3.0f), Array(2.0f, 0.5f), 3.0),     // min-length bound
      (Array(0.5f, 0.25f), Array(4.0f, 8.0f), 4.0)
    ).toDF("a", "b", "want")
    df.select(graft.functions.VecDot.column(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toSeq.toString))
    // double arrays too (plane literals path)
    val dd = Seq((Array(1.0, 2.0), Array(3.0, 4.0), 11.0)).toDF("a", "b", "want")
    dd.select(graft.functions.VecDot.column(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("GramHashes: 62-bit range, distinct, consistent with string gram count") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = real.select(
      size(graft.functions.NativeTextColumns.wordShingles(col("text"), 2)).as("n_str"),
      graft.functions.NativeTextColumns.gramHashes(col("text"), 2).as("h"))
      .collect()
    rows.foreach { r =>
      val hs = r.getSeq[Long](1)
      assert(hs.length == r.getInt(0), "hash count must equal distinct gram count")
      assert(hs.distinct.length == hs.length, "hashes must be distinct")
      assert(hs.forall(v => v >= 0L && v < (1L << 62)), "62-bit range")
    }
  }

  test("connected components: chains collapse to min id, singletons self-cluster") {
    // 1-2, 2-3 (a chain), 5-6, singleton 9
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("connected components: empty pair set → every id self-clusters (no NPE)") {
    val ids = Seq(4L, 7L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 4L, 7L -> 7L))
  }

  test("connected components: string doc ids cluster to the lexicographic min") {
    val ids = Seq("doc-a", "doc-b", "doc-c", "doc-z").toDF("id")
    val pairs = Seq(("doc-b", "doc-c"), ("doc-a", "doc-b")).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "doc-z" -> "doc-z"))
  }

  test("connected components: long chain converges across many propagation rounds") {
    // a path graph's min label travels one hop per round — 12 nodes force
    // ~11 rounds, exercising the convergence loop well past the 1-2 round
    // near-clique regime of real dup clusters
    val n = 12L
    val ids = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to n).map(_ -> 1L).toMap)
  }

  test("star contraction: 64-node chain converges in O(log d) rounds, not d") {
    // worst case for label propagation: a path graph of diameter 63 would
    // take 63 propagation rounds; large-star/small-star folds chain
    // length roughly in half per round
    val n = 64L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = Dedup.starContraction(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (2L to n).map(_ -> 1L).toMap) // root 1 labels itself implicitly
    assert(rounds <= 10, s"expected O(log 63) ≈ 6-8 rounds, took $rounds")
  }

  test("star contraction: multiple components + string ids match propagation") {
    val pairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("src", "dst")
    val (labels, _) = Dedup.starContraction(pairs)
    val got = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("b" -> "a", "c" -> "a", "y" -> "x"))
  }

  test("connected components: propagation budget exceeded → star fallback, same answer") {
    // lpMaxRounds=2 cannot finish an 11-hop chain by propagation; the
    // result must come from the contraction fallback and be identical
    val n = 12L
    val ids = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs, lpMaxRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to n).map(_ -> 1L).toMap)
    // k interleaved disjoint chains: edge (i, i+k) links each id to its
    // same-residue successor, so every component is a residue class whose
    // min id (the label) is i mod k
    val k = 3L
    val m = 36L
    val chains = Dedup.connectedComponents((0L until m).toDF("id"),
      (0L until m - k).map(i => (i, i + k)).toDF("id_a", "id_b"), lpMaxRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chains == (0L until m).map(i => i -> i % k).toMap)
  }

  test("connected components: planted 10k-member giant component (spammed template)") {
    // The real near-dup skew case: one template spammed 10k×. After
    // maxBucket-capped banding the family's edge set is a chain of
    // overlapping bucket-cliques (each capped bucket emits a clique;
    // buckets share boundary members) — ~245k edges, graph diameter ~200
    // in bucket hops. Label propagation's 20-round budget cannot finish;
    // the star-contraction fallback must, in O(log d) rounds, with the
    // driver holding only the label table lineage (no per-round growth).
    val n = 10000L
    val bucket = 50
    val ids = (0L until n).toDF("id")
    val edges = (0L until n by (bucket - 1)).flatMap { start =>
      val members = (start until math.min(start + bucket, n)).toArray
      for (i <- members.indices; j <- (i + 1) until members.length)
        yield (members(i), members(j))
    }
    val pairs = edges.toDF("id_a", "id_b").repartition(32)
    val got = Dedup.connectedComponents(ids, pairs)
    val byCluster = got.groupBy("cluster_id").count().collect()
    assert(byCluster.length == 1 && byCluster(0).getLong(1) == n,
      s"expected one 10k-member cluster, got ${byCluster.toSeq}")
    assert(byCluster(0).get(0) == 0L, "cluster label must be the min id")
    // the contraction path alone: rounds stay logarithmic in the ~200
    // bucket-hop diameter, nowhere near the diameter itself
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val (labels, rounds) = Dedup.starContraction(
      sym.union(sym.select(col("dst").as("src"), col("src").as("dst"))))
    assert(rounds <= 12, s"contraction took $rounds rounds on diameter ~200")
    assert(labels.where(col("label") =!= 0L).isEmpty, "all members label to 0")
  }

  test("IVF training: centroids identical under re-partitioning (decimal sums)") {
    // Lloyd's per-dimension sums run in decimal, so trained centroids are
    // a pure function of the data — double sums would leak partition
    // order into the low bits and ship different indexes run-to-run.
    val rnd = new scala.util.Random(11)
    val corpus = (0L to 499L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.IvfIndex.train(corpus.repartition(1), "vec_id", "embedding",
      nlist = 4, iters = 3)
    val b = Similarity.IvfIndex.train(corpus.repartition(13), "vec_id", "embedding",
      nlist = 4, iters = 3)
    assert(a.length == b.length)
    for (((ca, va), (cb, vb)) <- a.zip(b)) {
      assert(ca == cb)
      assert(va.sameElements(vb),
        s"centroid $ca differs across partitionings:\n${va.toSeq}\n${vb.toSeq}")
    }
  }

  test("LSH near-dup plan: candidates join on the bucket key, never a cartesian") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    @annotation.nowarn("cat=deprecation") // d7b's own plan spec
    val pairs = Similarity.cosineNearDupLshPairs(emb, "vec_id", "embedding",
      threshold = 0.3, numPlanes = 8, dim = 64, probeBits = 2)
    // equi-vs-nested-loop is decided at planning; walk the node tree
    // instead of rendering it (the plan string embeds 8×64 plane literals
    // per stage and is needlessly huge)
    val nodes = pairs.queryExecution.sparkPlan.collect { case n => n.nodeName }
    assert(nodes.exists(_.contains("Join")), s"expected a join in $nodes")
    assert(!nodes.exists(n => n.contains("BroadcastNestedLoopJoin") || n.contains("CartesianProduct")),
      s"LSH pair generation degenerated to an all-pairs join: $nodes")
  }

  test("verifyJaccard plan: the corpus gram-set table is never broadcast") {
    val nonEmpty = docs.where(length(TextFunctions.normalizeText(col("text"))) > 0)
    val verified = Dedup.minhashNearDup(nonEmpty, "text", "doc_id",
      bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2)
    verified.collect() // let AQE finalize the physical plan
    val plan = verified.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"gram-set side must shuffle (O(corpus) broadcast OOMs at scale):\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash joins:\n$plan")
  }

  test("prefix jaccard plan: verify sets are never broadcast; explain works pre-action") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.prefixJaccardPairs(corpus, "text", "doc_id", "lang", 2, 0.8)
    // the lazy local checkpoint must not break pre-action plan inspection
    assert(pairs.queryExecution.optimizedPlan != null)
    pairs.collect() // let AQE finalize the physical plan
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"the O(corpus) set table must shuffle, never broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash joins:\n$plan")
  }

  test("ANN ranking plan: no distinct between scoring and ranking") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L to 99L).map(i => (i, Array.fill(16)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val ann = Similarity.lshTopK(corpus, corpus.where(col("vec_id") < 2),
      "vec_id", "embedding", 3, 8, 16, probeBits = 2)
    // a dedup between scoring and ranking would appear as an extra
    // HashAggregate pair; the plan must go join -> window directly
    val plan = ann.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("deduplicate") && !plan.contains("Aggregate"),
      s"unexpected dedup/aggregate between scoring and ranking:\n$plan")
  }

  test("multimodal: mapPartitions stub decode matches the column-expression twin") {
    val withBytes = Multimodal.withPayload(docs.where(col("doc_id") === 1L), "text")
    val viaRows = Multimodal.decodeMeta(withBytes).collect()(0)
    val viaCols = Multimodal.metaColumns(docs.where(col("doc_id") === 1L), "doc_id", "text")
      .collect()(0)
    def num(n: String): Long = viaCols.getAs[Number](n).longValue
    assert(viaRows.n_bytes.toLong == num("n_bytes"))
    assert(viaRows.width.toLong == num("width"))
    assert(viaRows.height.toLong == num("height"))
    assert(viaRows.frames.toLong == num("frames"))
  }

  private def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff8040) // non-trivial pixel so the payload isn't all-zero
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, baos), s"no $fmt writer")
    baos.toByteArray
  }

  test("multimodal: real PNG/JPEG payloads decode true dimensions via javax.imageio") {
    val payloads = Seq(
      (1L, imageBytes("png", 320, 200), "png", 320, 200),
      (2L, imageBytes("jpeg", 17, 43), "jpeg", 17, 43))
    val df = payloads.map { case (id, b, _, _, _) => (id, b) }.toDF("doc_id", "payload")
    val out = Multimodal.decodeMeta(df).collect().sortBy(_.doc_id)
    for (((_, bytes, fmt, w, h), meta) <- payloads.zip(out)) {
      assert(meta.format == fmt, s"doc ${meta.doc_id}: format ${meta.format}")
      assert(meta.width == w && meta.height == h,
        s"doc ${meta.doc_id}: ${meta.width}x${meta.height}")
      assert(meta.n_bytes == bytes.length && meta.frames == 1)
    }
    // direct header decode, no Spark: same answer
    val direct = Multimodal.imageDecode(1L, payloads.head._2).get
    assert(direct.width == 320 && direct.height == 200 && direct.format == "png")
  }

  test("multimodal: non-image and truncated payloads fall back to the stub, never throw") {
    val png = imageBytes("png", 64, 64)
    val truncated = png.take(12) // magic bytes intact, header cut off mid-chunk
    // Hostile fuzz cases: valid magic bytes so a plugin reader CLAIMS the
    // payload, then garbage where the header fields should be. JDK plugin
    // readers throw RuntimeExceptions (IAE/AIOOBE/NegativeArraySize) here,
    // not IOException — the decode must still degrade to the stub.
    val fuzzGif = "GIF89a".getBytes("ISO-8859-1") ++
      Array[Byte](-1, -1, -1, -1, -1, 0x7f, -2, -3, -4, -5)
    val fuzzBmp = "BM".getBytes("ISO-8859-1") ++
      Array.fill[Byte](32)(-1) // negative size/offset fields
    val fuzzJpeg = Array[Byte](-1, -40, -1, -32) ++ Array.fill[Byte](8)(-99)
    val rows = Seq(
      (1L, "just some text bytes".getBytes("UTF-8")),
      (2L, truncated),
      (3L, Array.empty[Byte]),
      (4L, fuzzGif),
      (5L, fuzzBmp),
      (6L, fuzzJpeg))
    val out = Multimodal.decodeMeta(rows.toDF("doc_id", "payload")).collect()
    assert(out.length == rows.length) // no task failure on ANY payload
    // non-image/truncated payloads must be stub-decoded; the fuzz cases
    // (4-6) only guarantee no-throw — a reader MAY parse garbage dimensions
    for ((id, bytes) <- rows.take(3); meta = out.find(_.doc_id == id).get)
      assert(meta == Multimodal.stubDecode(id, bytes), s"doc $id not stub-decoded")
  }

  test("multimodal: resizeFeature NN-samples the true raster; malformed → sentinel") {
    // 16×8 PNG, pixel (x,y) = x + 256·y → the 8×8 NN checksum is
    // computable by hand: target (tx,ty) reads source (⌊tx·16/8⌋, ⌊ty·8/8⌋)
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 16) img.setRGB(x, y, x + 256 * y)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val expected = (for (ty <- 0 until 8; tx <- 0 until 8)
      yield (tx * 16 / 8 + 256 * (ty * 8 / 8)).toLong).sum
    val rows = Seq((1L, baos.toByteArray), (2L, "not an image".getBytes("UTF-8")))
    val out = Multimodal.resizeFeature(rows.toDF("doc_id", "payload"))
      .collect().sortBy(_.doc_id)
    assert(out(0) == Multimodal.ResizedFeature(1L, 16, 8, expected))
    assert(out(1) == Multimodal.ResizedFeature(2L, -1, -1, -1L))
  }

  test("multimodal: frameSample decodes every k-th frame; bad containers → sentinel") {
    // 3 uniform-color 4×4 PNG frames; every=2 samples frames 0 and 2
    def frame(v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, v)
      val b = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", b))
      b.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    for (v <- Seq(11, 22, 33)) { val f = frame(v); dos.writeInt(f.length); dos.write(f) }
    val rows = Seq(
      (1L, out.toByteArray),
      (2L, Array[Byte](0, 0, 0, 99, 1, 2)), // declared length > remaining
      (3L, "noise".getBytes("UTF-8")))      // trailing bytes, no frame
    val got = Multimodal.frameSample(rows.toDF("doc_id", "payload"), every = 2)
      .collect().sortBy(_.doc_id)
    // 4×4 source → 4×4 NN grid samples every pixel once: 16·(11+33)
    assert(got(0) == Multimodal.FrameSample(1L, 3, 2, 16L * (11 + 33)))
    assert(got(1) == Multimodal.FrameSample(2L, -1, -1, -1L))
    assert(got(2) == Multimodal.FrameSample(3L, -1, -1, -1L))
  }
}
