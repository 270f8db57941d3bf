package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact: one shuffle on a 16-byte fingerprint (not the document text),
  *    so shuffle volume is O(rows·16B) regardless of document size.
  *  - MinHash+LSH: signatures computed map-side per document (no shuffle),
  *    then one shuffle keyed on (band, bandKey) whose fan-in is bounded by
  *    an explicit bucket cap; only candidate pairs are verified — never
  *    all O(n²), and never an unbounded per-bucket pair array.
  *  - SimHash: 64-bit signature map-side; near-dup = Hamming distance on
  *    longs, groupable by prefix for banding.
  *
  * Portable (md5-based) hashing is used so results hash-match an external
  * SQL oracle; swap in xxhash64 (codegen'd, not portable to other
  * engines) for raw throughput once verified.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id document per normalized-text
    * fingerprint. Deterministic winner (min id), single hash shuffle. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    df.withColumn("fp", fingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("fp", "rn")
  }

  /** Exact-dup groups: fingerprint → number of docs and the kept id. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .where(col("n_docs") > 1)

  /** Distinct gram set for minhash/jaccard: word n-gram shingles for n>1,
    * plain tokens for n=1. Shingling is what makes minhash discriminative —
    * over a small shared vocabulary, unigram token sets of unrelated
    * documents overlap heavily and every banding bucket floods. */
  def gramSet(text: Column, shingleN: Int): Column =
    if (shingleN <= 1) array_distinct(tokens(text))
    else graft.functions.NativeTextColumns.wordShingles(text, shingleN)

  /** Distinct gram set hashed to 62-bit ints (one md5 per gram, portable
    * derivation — see NativeText.gramHashes). Set sizes and intersections
    * equal the string-gram versions, so jaccard values are unchanged, but
    * joins and shuffles carry 8-byte elements instead of gram strings —
    * the verify stage moves ~3× less data. */
  def gramHashSet(text: Column, shingleN: Int): Column =
    graft.functions.NativeTextColumns.gramHashes(text, shingleN)

  /** MinHash signature (numHashes longs) over the distinct gram set —
    * column-expression twin of the native
    * [[graft.functions.NativeText.minhashLongs]]: ONE md5 per gram,
    * h1/h2 = value of hex chars [1,8]/[9,16], seed value h1 + seed·h2
    * (< 2^35, exact in signed 64-bit everywhere). Map-side only. */
  def minhashSignature(text: Column, numHashes: Int, shingleN: Int = 1): Column = {
    val toks = gramSet(text, shingleN)
    def hexVal(h: Column, i: Int): Column = {
      val a = ascii(substring(h, i, 1))
      when(a >= 97, a - 87).otherwise(a - 48).cast("long")
    }
    def word(h: Column, start: Int): Column =
      (start until start + 8).foldLeft(lit(0L): Column) { (acc, i) =>
        shiftleft(acc, 4).bitwiseOR(hexVal(h, i))
      }
    val sigs = (0 until numHashes).map { seed =>
      array_min(transform(toks, t => {
        val h = md5(t)
        word(h, 1) + lit(seed.toLong) * word(h, 9)
      }))
    }
    array(sigs: _*)
  }

  /** Candidate near-dup pairs via LSH banding of minhash signatures.
    * numHashes = bands * rowsPerBand. Two docs land in the same bucket iff
    * one full band of their signatures agrees. Returns (id_a, id_b) with
    * id_a < id_b, distinct. The only shuffle is on the bucket key.
    *
    * @param maxBucket buckets larger than this are dropped before pair
    *        generation (standard LSH degenerate-bucket guard: a flooded
    *        bucket is a near-constant band — its k·(k−1)/2 pairs are
    *        mostly false positives, and materializing them OOMs one task.
    *        Documented recall effect: pairs agreeing ONLY on flooded bands
    *        are missed.)
    */
  /** (doc, band, key) LSH band keys of every document — the minhash
    * signature is ONE native expression (compiled single pass over the
    * text, inside whole-stage codegen), banded map-side. */
  private[graft] def bandedKeys(df: DataFrame, textCol: String, idCol: String,
                         bands: Int, rowsPerBand: Int, shingleN: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        graft.functions.NativeTextColumns
          .minhashSignature(col(textCol), bands * rowsPerBand, shingleN).as("sig"))
      .select(col("doc"), posexplode(
        // native single-pass banding (BandKeys scaladoc) — the nested
        // transform/concat_ws/slice spelling ran interpreted per doc row
        graft.functions.NativeTextColumns.bandKeys(
          col("sig"), bands, rowsPerBand)
      ).as(Seq("band", "key")))

  /** Adaptive LSH bucket refinement: a bucket larger than `maxBucket` has
    * its band key EXTENDED with a fresh refinement minhash row instead of
    * being dropped — repeated level by level until every bucket fits or
    * `refineRows` levels are exhausted (residual flooded buckets fall to
    * the pair stage's cap, exactly the old behavior).
    *
    * Why: the fixed cap's recall cost is not a constant — bucket occupancy
    * grows LINEARLY with corpus size whenever the band-key space is
    * smaller than the corpus (closed vocabularies, short or templated
    * documents), so a guard that is invisible at 50k docs silently drops
    * most planted duplicates at 500k (measured: adjacent exact-dup recall
    * 1.00 at sf1 → 0.71 at sf10). Refinement restores recall with depth
    * growing only logarithmically in corpus size: each level's
    * INDEPENDENT hash row (salted digest family — the signature's own
    * Kirsch-Mitzenmacher rows are linear in the seed and collapse over
    * small vocabularies, see [[graft.functions.NativeText
    * .minhashRefineLongs]]) shrinks a flooded bucket by the key's true
    * alphabet size, and EXACT duplicates agree on every row of any
    * deterministic text hash, so they survive every depth. A near-dup
    * pair pays one extra `j` factor per level its bucket was split — the
    * price of not being dropped outright.
    *
    * Refinement rows are computed ONLY for documents in flooded buckets
    * (one join back to the text at first flood, never for the no-flood
    * fast path). Each level is two jobs over only the still-flooded
    * slice, a geometrically shrinking set; the final assignment is
    * local-checkpointed so downstream pair generation reads one compact
    * materialized table and the per-level caches can be released. On a
    * cluster the checkpoint would be reliable storage; the driver never
    * holds data rows, only per-level flooded counts.
    *
    * Recall/cost frontier, measured at sf10 (500k docs, d2 params,
    * single pass, local[32]; BENCH_NOTES r9 "d2 capped vs adaptive at
    * sf10"): the
    * refinement machinery itself is cheap — the loop terminates at
    * depth 2 (1.45M flooded banded rows → 163k → 0) — and end-to-end
    * the adaptive plan costs ~2× the capped plan (same-process A/B
    * cost_ratio 2.05; the r8 session measured 3.6× — absolute times
    * swing with environment, the ratio's order does not). The
    * difference is not overhead: it is the candidate pairs of the
    * buckets the cap silently DROPPED (72% of banded rows sat in
    * flooded buckets), now generated and exactly verified. Capped
    * recall at that scale is 0.71 on planted exact duplicates
    * (ScaleCheck C3); refined recall is 1.00 exact / 0.89 near. Across
    * the sf1→sf10 decade the adaptive plan itself scales LINEARLY
    * (d2b exponent 1.02, BENCH_NOTES r9). Callers who prefer the old
    * speed at the old recall can pass `refineRows = 0` explicitly or a
    * larger `adaptiveMinDocs` to [[neardupPairs]]. */
  private def refineBuckets(banded: DataFrame, texts: DataFrame,
                            textCol: String, shingleN: Int,
                            maxBucket: Int, refineRows: Int): DataFrame = {
    // banded: (doc, band, key); texts: (doc, <textCol>). `doc` may be any
    // equality-comparable value — a plain id for self-dedup, a
    // struct(side, id) for the two-corpus incremental case (whose id
    // spaces may legitimately collide, so the side must ride in the key).
    import org.apache.spark.storage.StorageLevel
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val done = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var cur = banded // (doc, band, key) at lvl 0; + tail once flooded
    var lvl = 0
    var exhausted = false
    while (!exhausted && lvl < refineRows) {
      val counts = cur.groupBy("band", "key").agg(count(lit(1)).as("__n"))
      val joined = cur.join(counts, Seq("band", "key"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      persisted += joined
      val over = joined.where(col("__n") > maxBucket)
      if (over.isEmpty) { // all buckets fit — no further levels needed
        done += joined.drop("__n", "tail")
        exhausted = true
      } else {
        done += joined.where(col("__n") <= maxBucket).drop("__n", "tail")
        val withTail =
          if (lvl > 0) over.drop("__n") // tail attached at first flood
          else {
            val tails = texts
              .join(over.select(col("doc")).distinct(), "doc")
              .select(col("doc"), graft.functions.NativeTextColumns
                .minhashRefine(col(textCol), refineRows, shingleN).as("tail"))
            over.drop("__n").join(tails, "doc")
          }
        cur = withTail.withColumn("key",
          concat_ws("|", col("key"),
            element_at(col("tail"), lvl + 1).cast("string")))
        lvl += 1
      }
    }
    if (!exhausted) done += cur // residual flooded rows: pair-stage cap drops them
    val result = done.map(_.select("doc", "band", "key"))
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    persisted.foreach(_.unpersist(false))
    result
  }

  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        bands: Int, rowsPerBand: Int, shingleN: Int = 1,
                        maxBucket: Int = 1000, refineRows: Int = 0): DataFrame = {
    val banded0 = bandedKeys(df, textCol, idCol, bands, rowsPerBand, shingleN)
    val banded =
      if (refineRows > 0)
        refineBuckets(banded0, df.select(col(idCol).as("doc"), col(textCol)),
          textCol, shingleN, maxBucket, refineRows)
      else banded0
    // bucket-local pair generation: group each LSH bucket, emit its ordered
    // pairs from the sorted member array — one shuffle on the bucket key,
    // no self-join (a band-key self-join sorts/merges the whole banded set
    // twice for the same output)
    distinctPairsByIdA(pairsFromGroups(banded, Seq("band", "key"), "doc", maxBucket))
  }

  /** Cross-band/bucket pair dedup, partitioned for the verify join that
    * always follows: `.distinct()` exchanged on (id_a, id_b) and the
    * verify stage's first SHUFFLE_HASH join immediately re-exchanged the
    * deduped stream on id_a — two full exchanges of the candidate
    * stream back to back (guide §2.4: operations keyed compatibly should
    * share one exchange). Partitioning by id_a ALONE satisfies both: the
    * (id_a, id_b) aggregation runs partition-local on top of it, and the
    * id_a join reuses the partitioning outright. The raw (pre-dedup)
    * stream this single exchange carries is only modestly larger than
    * the deduped one (measured sf1, d2 params: 15.7M raw vs 10.0M
    * distinct, ×1.56 — the old plan moved ~24M rows over its two
    * exchanges, partial map-side dedup being weak because cross-band
    * duplicates of a pair land on different map partitions). */
  private def distinctPairsByIdA(cands: DataFrame): DataFrame =
    cands.repartition(col("id_a")).dropDuplicates("id_a", "id_b")

  /** All ordered (a < b) member pairs of each group with at most maxGroup
    * members, via sorted collect_list + in-array pair explosion: the
    * source is computed ONCE and shuffled once (a capped equi-self-join
    * was measured: it streams pairs without per-bucket arrays, but
    * recomputes the gram explode for the count, left, and right subplans
    * and lost ~2× end-to-end). The cap bounds both the largest
    * materialized array (maxGroup·(maxGroup−1)/2 entries) and the
    * quadratic work a degenerate bucket (stop-gram, near-constant band)
    * can contribute. */
  private def pairsFromGroups(df: DataFrame, groupCols: Seq[String],
                              idCol: String, maxGroup: Int): DataFrame = {
    // CollectCapped, not collect_list: the size filter below drops
    // overflowed buckets anyway, so the aggregation buffer must never
    // build a flooded bucket's full member array — the capped collector
    // stops at maxGroup+1 elements, which still trips the size filter
    // (identical kept set; r17 ADVICE, guide §5 per-task state bounds)
    val buckets = df.groupBy(groupCols.map(col): _*)
      .agg(sort_array(graft.functions.CollectCapped.collect(col(idCol), maxGroup)).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxGroup)
    // the explosion amplifies each bucket row up to maxGroup²/2×, so its
    // input must be spread over the full cluster width EXPLICITLY: both a
    // small shuffle-partition setting and AQE's byte-based coalescing
    // judge the bucket rows by their (tiny) size and would serialize the
    // quadratic stage onto a few tasks
    buckets
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(explode(graft.functions.NativeTextColumns.sortedPairs(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
  }

  /** Exact Jaccard over distinct-gram sets for given candidate pairs.
    * The gram-set side is joined with SHUFFLE_HASH (never broadcast): the
    * corpus gram-set table grows with the corpus and cannot be required to
    * fit in every executor at 100 TB. Each join shuffles the candidate ids
    * and the gram sets on the id — bounded per-partition state, full
    * parallelism. */
  def verifyJaccard(df: DataFrame, candidates: DataFrame,
                    textCol: String, idCol: String, threshold: Double,
                    shingleN: Int = 1): DataFrame = {
    val sets = df.select(col(idCol).as("id"), gramHashSet(col(textCol), shingleN).as("toks"))
      .hint("shuffle_hash")
    candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("toks", "toks_b"), "id_b")
      // gram-hash sets are sorted: |∩| is a compiled linear merge instead
      // of array_intersect's per-pair hash-set build
      .withColumn("inter", graft.functions.NativeTextColumns
        .sortedIntersectSize(col("toks_a"), col("toks_b")))
      .withColumn("uni", size(col("toks_a")) + size(col("toks_b")) - col("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Bottom-k gram-sketch pre-filter between candidate generation and the
    * exact-jaccard verify — kills the candidate mass a flooded-vocabulary
    * corpus pours into verify before the expensive join.
    *
    * Why this exists (measured at sf10, 500k docs, d2 params —
    * BENCH_NOTES r11): the adaptive plan generates 165M candidate
    * pairs of which 99.1% have TRUE jaccard < 0.1 and only ~0.008% clear
    * the 0.2 threshold; verify cost is proportional to candidates
    * (~2.0× capped's 82M = the measured 2.05× arm cost ratio). The
    * candidate mass sits FAR below the threshold, so a cheap estimator
    * separates it.
    *
    * Why NOT main-signature agreement: the signature's Kirsch-
    * Mitzenmacher rows collapse over small vocabularies (one gram
    * minimizing both digest halves wins EVERY row — see
    * [[graft.functions.NativeText.minhashRefineLongs]] scaladoc), and
    * the flooded buckets that produce the junk candidates are exactly
    * the collapse regime: junk pairs AGREE on most signature rows, so
    * agreement counting cannot discriminate there.
    *
    * The sketch: the k smallest gram hashes per document — a prefix
    * `slice` of the already-sorted [[gramHashSet]], no new hash family,
    * one extra corpus-side gram pass. Keep a pair iff its sketches share
    * at least `minShared` values (bounded by the smaller sketch, so an
    * exact-dup pair of a TINY document — fewer distinct grams than
    * `minShared` — is always kept: identical sets give shared ==
    * min(k, |set|)). Shared bottom-k values of the UNION that lie in the
    * intersection appear in both sketches, so the shared count
    * stochastically dominates Binomial(k, j): the false-drop bound for a
    * true pair at j = threshold = 0.2 with (k=32, minShared=3) is
    * P[Binom(32, 0.2) < 3] ≈ 4.4%, falling to ~1e-10 by j = 0.6 — and
    * exact duplicates (j = 1) are kept with probability 1. The payload
    * is 32 longs vs the full gram set's ~hundreds, so the filter's two
    * joins move ~¼ the bytes of the verify joins they spare.
    *
    * This is deliberately NOT applied in the no-flood/small-corpus
    * regime ([[neardupPairs]] gates it with the adaptive switch): below
    * the switch candidates are few, the premium does not exist, and the
    * oracle-checked catalog entries stay bit-identical. */
  def sketchPrefilter(df: DataFrame, candidates: DataFrame,
                      textCol: String, idCol: String, shingleN: Int,
                      k: Int = 32, minShared: Int = 3): DataFrame = {
    val sk = df.select(col(idCol).as("id"),
        slice(gramHashSet(col(textCol), shingleN), 1, k).as("sk"))
      .hint("shuffle_hash")
    candidates
      .join(sk.withColumnRenamed("id", "id_a").withColumnRenamed("sk", "sk_a"), "id_a")
      .join(sk.withColumnRenamed("id", "id_b").withColumnRenamed("sk", "sk_b"), "id_b")
      .where(graft.functions.NativeTextColumns
        .sortedIntersectSize(col("sk_a"), col("sk_b")) >=
        least(lit(minShared), size(col("sk_a")), size(col("sk_b"))))
      .select("id_a", "id_b")
  }

  /** Auto `minShared` for a sketch of size `k` at `threshold`: ~k·t/2 —
    * half the expected shared count of a pair AT the threshold, keeping
    * the false-drop tail small (4.4% at j = t for k=32, t=0.2) while
    * killing the measured sub-0.1 mass. */
  private[graft] def sketchMinShared(k: Int, threshold: Double): Int =
    math.max(1, (k * threshold / 2).toInt)

  /** Full MinHash-LSH near-dedup: candidates → verify → pairs above
    * threshold. `prefilterK > 0` inserts [[sketchPrefilter]] between the
    * stages (callers below the flood regime should leave it off — see
    * [[neardupPairs]], which gates it with the plan choice). */
  def minhashNearDup(df: DataFrame, textCol: String, idCol: String,
                     bands: Int = 8, rowsPerBand: Int = 2,
                     threshold: Double = 0.7, shingleN: Int = 1,
                     maxBucket: Int = 1000, refineRows: Int = 0,
                     prefilterK: Int = 0): DataFrame = {
    val cands = minhashCandidates(df, textCol, idCol, bands, rowsPerBand,
      shingleN, maxBucket, refineRows)
    val kept =
      if (prefilterK > 0)
        sketchPrefilter(df, cands, textCol, idCol, shingleN, prefilterK,
          sketchMinShared(prefilterK, threshold))
      else cands
    verifyJaccard(df, kept, textCol, idCol, threshold, shingleN)
  }

  /** Refinement depth for a corpus of `nDocs` documents: 0 (fixed-cap
    * buckets) below `adaptiveMinDocs`, 8 levels at or above it.
    *
    * The switch point comes from the sf10 measurement (ScaleCheck C3,
    * SCALECHECK_r8_sf10.jsonl): with a closed vocabulary the fixed
    * `maxBucket` cap's planted-duplicate recall is 1.00 at 50k docs but
    * 0.71 at 500k — bucket occupancy grows linearly with corpus size once
    * the band-key space saturates, so past ~100k docs the cap starts
    * dropping whole buckets of real duplicates. Below the switch the
    * fixed cap is exact AND skips refinement's extra per-level count
    * jobs; above it, recall beats wall-clock. 8 levels halt the sf10
    * corpus (depth grows ~logarithmically in corpus size — each level
    * divides a flooded bucket by the refinement row's alphabet size). */
  private[graft] def neardupPlan(nDocs: Long,
                                 adaptiveMinDocs: Long = 100000): Int =
    if (nDocs >= adaptiveMinDocs) 8 else 0

  /** MinHash-LSH near-dup pairs with automatic bucket-strategy choice —
    * the entry point callers should use (gates d2 the way
    * [[jaccardPairs]] gates d4). Picks fixed-cap vs adaptive-refinement
    * buckets per [[neardupPlan]], so the recall-losing fixed cap cannot
    * run on a large corpus by default. Both plans emit identical pairs
    * whenever no bucket floods — every corpus below the switch point —
    * so the choice never changes small-corpus results.
    *
    * The [[sketchPrefilter]] rides WITH the adaptive choice (and only
    * it): above the switch the flooded-vocabulary candidate mass makes
    * verify the dominant cost (measured 99.1% of 165M sf10 candidates
    * below j=0.1), and the filter's false-drop tail (≤4.4% at exactly
    * j=t, ~0 beyond j=0.5, exactly 0 for exact duplicates) is the price
    * of not verifying them; below the switch the mass does not exist and
    * output stays bit-identical to the capped plan. `prefilterK = 0`
    * disables it in either regime.
    *
    * @param numDocs corpus row count if the caller already knows it
    *        (skips the counting job — on a 100 TB corpus prefer passing
    *        catalog statistics rather than paying a count scan). */
  def neardupPairs(df: DataFrame, textCol: String, idCol: String,
                   bands: Int = 8, rowsPerBand: Int = 2,
                   threshold: Double = 0.7, shingleN: Int = 1,
                   maxBucket: Int = 1000, adaptiveMinDocs: Long = 100000,
                   numDocs: Option[Long] = None,
                   prefilterK: Int = 32): DataFrame = {
    val nDocs = numDocs.getOrElse(df.count())
    val refine = neardupPlan(nDocs, adaptiveMinDocs)
    // the sketch pre-filter rides WITH the adaptive plan choice: the
    // junk-candidate mass it kills only exists once buckets flood (the
    // refinement regime), and below the switch the capped plan's output
    // must stay bit-identical to the oracle-checked small-corpus result
    minhashNearDup(df, textCol, idCol, bands, rowsPerBand, threshold,
      shingleN, maxBucket, refine,
      prefilterK = if (refine > 0) prefilterK else 0)
  }

  /** Incremental near-dedup: which documents of an INCOMING batch are
    * near-duplicates of a HISTORICAL corpus. The candidate join is
    * asymmetric — new band keys against history band keys — so the
    * history is NEVER self-joined: a daily batch deduped against a
    * 100 TB corpus shuffles O(batch + matching history buckets), not
    * O(corpus²) pair work. Per-(band,key) caps apply to each side
    * independently (a flooded history bucket is a near-constant band,
    * same guard as [[minhashCandidates]]). Returns one row per matched
    * new document: its best history match (highest jaccard, ties to the
    * smallest history id) at or above `threshold` — the drop list, with
    * provenance.
    *
    * @param refineRows 0 = fixed-cap buckets (flooded buckets dropped);
    *        > 0 = adaptive refinement as in [[minhashCandidates]], run
    *        over the UNION of both sides' banded keys so a flooded
    *        bucket's key is extended identically on both sides (the
    *        refinement row is a pure function of the text, so a history
    *        doc and its incoming near-duplicate stay co-bucketed at every
    *        depth; splitting one side alone would break the equi-join).
    *        Flooding is judged on the combined occupancy n_hist + n_new —
    *        the candidate join's work for a bucket is the product, so the
    *        sum bounds the larger factor — and the per-side `maxBucket`
    *        cap still applies to whatever refinement could not split.
    *        Use [[incrementalPairs]] to pick this automatically. */
  def incrementalNearDup(history: DataFrame, incoming: DataFrame,
                         textCol: String, idCol: String,
                         bands: Int, rowsPerBand: Int,
                         threshold: Double, shingleN: Int = 1,
                         maxBucket: Int = 1000, refineRows: Int = 0): DataFrame =
    incrementalNearDupIndexed(
      historyBandIndex(history, textCol, idCol, bands, rowsPerBand, shingleN),
      historyGramSets(history, textCol, idCol, shingleN),
      history.select(col(idCol).as("id"), col(textCol)),
      incoming, textCol, idCol, bands, rowsPerBand, threshold, shingleN,
      maxBucket, refineRows)

  /** The history side's LSH band index, `(id, band, key)` — the
    * materialize-once artifact of an incremental-dedup pipeline. A daily
    * batch deduped against a 100 TB history must not re-scan and re-band
    * the history per batch: this table (and [[historyGramSets]]) is a
    * pure function of (corpus snapshot, banding params), so a pipeline
    * computes it when the history snapshot changes, persists it
    * (parquet; bucketed by `band, key` on a real cluster so the
    * candidate join needs no history-side shuffle), and feeds it to
    * [[incrementalNearDupIndexed]] — each batch then pays O(incoming)
    * banding plus the joins, never O(history) recompute. */
  def historyBandIndex(history: DataFrame, textCol: String, idCol: String,
                       bands: Int, rowsPerBand: Int,
                       shingleN: Int): DataFrame =
    bandedKeys(history, textCol, idCol, bands, rowsPerBand, shingleN)
      .select(col("doc").as("id"), col("band"), col("key"))

  /** The history side's distinct-gram-hash sets, `(id, toks)` — the
    * verify-stage companion artifact to [[historyBandIndex]] (persist
    * bucketed by `id` so the verify join's history side needs no
    * shuffle). */
  def historyGramSets(history: DataFrame, textCol: String, idCol: String,
                      shingleN: Int): DataFrame =
    history.select(col(idCol).as("id"),
      gramHashSet(col(textCol), shingleN).as("toks"))

  /** [[incrementalNearDup]] consuming PRECOMPUTED history-side tables —
    * the batch-time operator of the artifact split above. `historyIndex`
    * and `historySets` come from [[historyBandIndex]]/[[historyGramSets]]
    * (directly, or read back from their persisted form — output is
    * identical either way, proven in DedupSimilaritySpec).
    * `historyTexts` `(id, <textCol>)` is consulted ONLY by adaptive
    * refinement, and only for documents in flooded buckets (the split
    * re-hashes their texts with the salted refinement family); the
    * fixed-cap plan never touches it. */
  def incrementalNearDupIndexed(historyIndex: DataFrame,
                                historySets: DataFrame,
                                historyTexts: DataFrame,
                                incoming: DataFrame,
                                textCol: String, idCol: String,
                                bands: Int, rowsPerBand: Int,
                                threshold: Double, shingleN: Int = 1,
                                maxBucket: Int = 1000,
                                refineRows: Int = 0): DataFrame = {
    // side-qualified doc key: the two id spaces may overlap (a re-ingested
    // document exists in both), so refinement and bucket splits key on
    // struct(side, id), never the bare id
    def tagged(banded: DataFrame, tag: String) =
      banded.select(struct(lit(tag).as("side"), col("doc").as("id")).as("doc"),
        col("band"), col("key"))
    val banded0 = tagged(
        bandedKeys(incoming, textCol, idCol, bands, rowsPerBand, shingleN), "n")
      .unionByName(tagged(
        historyIndex.withColumnRenamed("id", "doc"), "h"))
    val banded =
      if (refineRows > 0) {
        def sideTexts(df: DataFrame, tag: String) =
          df.select(struct(lit(tag).as("side"), col(idCol).as("id")).as("doc"),
            col(textCol))
        refineBuckets(banded0,
          sideTexts(incoming, "n").unionByName(
            sideTexts(historyTexts.withColumnRenamed("id", idCol), "h")),
          textCol, shingleN, maxBucket, refineRows)
      } else banded0
    // Bucket-local cross-side pair generation in ONE grouped pass: the old
    // formulation ran a per-side groupBy(count) + join-back + an
    // (band,key) equi-join of the two capped sides — four exchanges, and
    // each side's banded rows (minhash + band explode) evaluated twice
    // (once under the count, once under the join). Collecting both sides'
    // member lists in one aggregation applies the SAME per-side cap,
    // then explodes the n×h cross product bucket-locally. Identical
    // candidate set: a bucket contributes iff both sides are non-empty
    // and each side's occupancy is ≤ maxBucket, the same predicate the
    // join-back applied (r17 optimization, A/B in OPTIMIZATION_r17.md).
    // CollectCapped bounds the aggregation buffer at maxBucket+1 per
    // side — an unsplittable flooded bucket (exact-duplicate texts get
    // identical refinement keys at every depth) must not build an
    // O(bucket) array the size filter then discards (r17 ADVICE; the
    // overflow is still visible as size maxBucket+1, so the filter keeps
    // exactly the buckets the uncapped plan kept). The explode is spread
    // explicitly for the same reason pairsFromGroups does it —
    // byte-based AQE coalescing judges the tiny bucket rows, not their
    // quadratic fan-out.
    val buckets = banded.groupBy("band", "key")
      .agg(graft.functions.CollectCapped.collect(
          when(col("doc.side") === "n", col("doc.id")), maxBucket).as("new_ids"),
        graft.functions.CollectCapped.collect(
          when(col("doc.side") === "h", col("doc.id")), maxBucket).as("hist_ids"))
      .where(size(col("new_ids")).between(1, maxBucket) &&
        size(col("hist_ids")).between(1, maxBucket))
    val cands = distinctPairsByIdA(buckets
      .repartition(banded.sparkSession.sparkContext.defaultParallelism)
      .select(explode(col("new_ids")).as("id_a"), col("hist_ids"))
      .select(col("id_a"), explode(col("hist_ids")).as("id_b")))
    // verify each side against ITS OWN gram-set table (not a union keyed
    // on idCol): the two id spaces may overlap — a re-ingested document
    // id legitimately exists in both batch and history — and a unioned
    // table would fan the join out and score a new doc against the wrong
    // side's text. Side-qualified joins make id collisions harmless.
    val scored = cands
      .join(incoming.select(col(idCol).as("id_a"),
          gramHashSet(col(textCol), shingleN).as("toks_a"))
        .hint("shuffle_hash"), "id_a")
      .join(historySets.select(col("id").as("id_b"), col("toks").as("toks_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("inter", graft.functions.NativeTextColumns
        .sortedIntersectSize(col("toks_a"), col("toks_b")))
      .withColumn("uni", size(col("toks_a")) + size(col("toks_b")) - col("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    val w = Window.partitionBy("id_a").orderBy(desc("jaccard"), col("id_b"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("id_a").as("new_id"), col("id_b").as("hist_id"), col("jaccard"))
  }

  /** Incremental near-dedup with automatic bucket-strategy choice — the
    * entry point callers should use (gates x14 the way [[neardupPairs]]
    * gates d2). The switch input is the COMBINED corpus size
    * history + incoming: bucket occupancy on the history side grows with
    * the history, and a flooded history bucket silently drops incoming
    * matches under the fixed cap exactly as in the self-dedup case.
    * Results are identical to the fixed-cap plan whenever no bucket
    * floods — every corpus below the switch point.
    *
    * @param numDocs combined row count if the caller already knows it
    *        (skips two counting jobs — a daily pipeline deduping against
    *        a 100 TB history should pass catalog statistics). */
  def incrementalPairs(history: DataFrame, incoming: DataFrame,
                       textCol: String, idCol: String,
                       bands: Int, rowsPerBand: Int,
                       threshold: Double, shingleN: Int = 1,
                       maxBucket: Int = 1000, adaptiveMinDocs: Long = 100000,
                       numDocs: Option[Long] = None): DataFrame = {
    val n = numDocs.getOrElse(history.count() + incoming.count())
    incrementalNearDup(history, incoming, textCol, idCol, bands, rowsPerBand,
      threshold, shingleN, maxBucket, neardupPlan(n, adaptiveMinDocs))
  }

  /** Connected components over near-duplicate pairs: every document gets
    * the smallest doc id reachable through the pair graph as its
    * cluster_id (singletons cluster to themselves). The canonical
    * "keep one per near-dup cluster" step after [[minhashNearDup]].
    *
    * Iterative min-label propagation: each round joins the current label
    * table with the (symmetrized) edge list and takes the per-node min —
    * a Pregel superstep as two shuffles. The driver loop holds only a
    * convergence count, never data rows; rounds needed = cluster
    * diameter, which for near-dup graphs is small (dup clusters are
    * near-cliques). A pathological high-diameter graph (chains of
    * borderline pairs) would pay diameter rounds, so after
    * `lpMaxRounds` un-converged rounds the loop abandons propagation
    * and restarts as large-star/small-star contraction
    * ([[starContraction]]), which converges in O(log d) rounds. */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
                          lpMaxRounds: Int = 20): DataFrame = {
    // symmetrize with ONE pass over the pair set: pairs is typically the
    // output of the whole minhash/verify pipeline, and a union of two
    // selects would compute that pipeline twice before the cache fills
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    // a corpus with zero near-dup pairs is a legitimate, common input:
    // every document is its own cluster, no iteration needed (and the
    // loop below would otherwise run one vacuous round over empty frames)
    if (edges.isEmpty) {
      edges.unpersist()
      return ids.select(col("id"), col("id").as("cluster_id"))
    }
    // iterate ONLY over nodes that have an edge: singletons (the vast
    // majority of a near-dup corpus) can never change label, so they
    // join back in one final pass instead of riding every round's
    // shuffles — the loop's working set is the non-singleton subgraph.
    //
    // Each round's result is EAGERLY materialized with its lineage cut:
    // `labels` feeds the next round twice (the carried labels and the
    // propagation join), so an uncut plan tree DOUBLES per round —
    // analysis, plan descriptions, and task binaries go exponential in
    // the cluster diameter long before the data does (caught by the
    // 12-node chain test: rendering round 11's plan OOMed an 8 GB
    // driver). With the cut, per-round plan size is O(1); this is the
    // standard iterative-algorithm discipline on Spark (GraphX/MLlib
    // checkpoint their Pregel state the same way). When the caller has
    // configured a checkpoint dir the cut is a RELIABLE checkpoint
    // (survives executor loss — the right mode for long cluster runs);
    // otherwise localCheckpoint keeps blocks on executors, which is fine
    // for the small number of rounds a near-dup graph needs.
    val reliable = ids.sparkSession.sparkContext.getCheckpointDir.isDefined
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // FUSED FIRST ROUND: starting from label(v)=v, round 1 would compute
    // min(v, min over neighbors) — exactly one groupBy over the symmetric
    // edge set, no join/union needed. Initializing with that value costs
    // the same single exchange the old `distinct()` init paid and saves a
    // whole propagation round (join + union + groupBy + lineage cut +
    // convergence probe) for every graph of diameter ≥ 1 — the common
    // near-clique case often converges after ZERO loop rounds now (the
    // loop still runs one confirming round to prove the fixpoint). Labels
    // are mins over distance-≤1 reachable sets, so every later round and
    // the fixpoint are unchanged (r17 optimization, A/B in
    // OPTIMIZATION_r17.md).
    var labels = cut(edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label")))
    // convergence: carry each node's previous label through the same
    // aggregation (labels only ever decrease, so unchanged ⟺ fixpoint).
    // The change count rides the SAME job that materializes the round
    // (`observe` + a CollectMetrics accumulator read back from the
    // executed plan) instead of a second scan job per round; the exact
    // emptiness probe on the materialized result is kept as the fallback
    // when the metric is unavailable. Works for any id type (string doc
    // ids included), no driver-side numeric fold.
    var converged = false
    var rounds = 0
    while (!converged && rounds < lpMaxRounds) {
      val propagated = edges
        .join(labels.withColumnRenamed("id", "src").select("src", "label"), "src")
        .select(col("dst").as("id"), col("label"))
      val next0 = labels
        .select(col("id"), col("label"), col("label").as("prev"))
        .union(propagated.select(col("id"), col("label"), lit(null).as("prev")))
        .groupBy("id").agg(min("label").as("label"), max("prev").as("prev"))
        .observe(s"cc_round_$rounds",
          sum(when(col("label") =!= col("prev"), 1L).otherwise(0L)).as("changed"))
      val next = cut(next0)
      // NOTE: under reliable checkpoint() the plan body executes twice
      // (eager count + the checkpoint write job), so the observed count
      // can be doubled — valid ONLY as a zero/nonzero signal (2×0=0),
      // never as an exact changed-row count (r17 ADVICE)
      converged = next0.queryExecution.observedMetrics
        .get(s"cc_round_$rounds") match {
          case Some(row) if !row.isNullAt(0) => row.getLong(0) == 0L
          // defensive fallback only — the eager cut above always executes
          // the observed plan; an all-null round (impossible: every id has
          // a labels row, so prev is never null post-agg) or a missing
          // metric falls back to the exact probe
          case _ => next.where(col("label") =!= col("prev")).isEmpty
        }
      // `next` is materialized — the previous round's blocks can go now
      // rather than waiting for ContextCleaner GC (reliable-checkpoint
      // FILES follow spark.cleaner.referenceTracking.cleanCheckpoints)
      labels.unpersist()
      labels = next
      rounds += 1
    }
    if (!converged) {
      // diameter exceeded the propagation budget: restart as star
      // contraction on the same edge set (labels so far are partial mins
      // — contraction recomputes from scratch in O(log d) rounds, so
      // carrying them in would complicate the rounds proof for no
      // asymptotic gain)
      labels.unpersist()
      val (starLabels, _) = starContraction(edges)
      labels = starLabels
    }
    edges.unpersist()
    ids.join(labels.select("id", "label"), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Large-star/small-star contraction — the O(log d)-round connected
    * components of Kiveris et al., "Connected Components in MapReduce and
    * Beyond" (SoCC'14). Works on any ordered id type (min = component
    * label, as in the propagation loop).
    *
    * Each round, on canonical (u > v) edges:
    *  - LARGE-STAR: every neighbor strictly larger than u re-attaches to
    *    the minimum of u's closed neighborhood — long tails fold onto
    *    local minima, halving chain lengths per round.
    *  - SMALL-STAR: u and all its smaller neighbors attach to their
    *    collective minimum — after this every node has at most ONE parent.
    *
    * Converged when no parent is also a child: with unique parents that
    * is exactly a star forest, and a canonical star's center is smaller
    * than all its leaves, i.e. the component minimum. Per round: two
    * groupBy+join pairs and one emptiness probe, all on the edge set —
    * nothing is ever collected to the driver, per-node state is one
    * (node, parent) row, and the lineage is cut per round exactly like
    * the propagation loop.
    *
    * @param edges symmetric or directed pair list with columns (src, dst);
    *        self-loops tolerated.
    * @return (labels — columns (id, label), one row per non-isolated
    *        node; rounds taken) */
  private[graft] def starContraction(edges: DataFrame): (DataFrame, Int) = {
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    var cur = cut(edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    var converged = cur.isEmpty
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "star contraction failed to converge in 64 rounds")
      // large-star over the symmetrized adjacency
      val sym = cur
        .select(explode(array(
          struct(col("u").as("a"), col("v").as("b")),
          struct(col("v").as("a"), col("u").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val minsL = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      // (b, m) for b > a: m ≤ a < b, so results stay canonical, no loops
      val afterLarge = sym.join(minsL, "a").where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v")).distinct()
      // small-star: u and its smaller neighbors onto min(neighbors ∪ {u})
      val minsS = afterLarge.groupBy("u").agg(min("v").as("m"))
      val afterSmall = afterLarge.join(minsS, "u")
        .select(explode(array(
          struct(col("u").as("x"), col("m").as("y")),
          struct(col("v").as("x"), col("m").as("y")))).as("e"))
        .select(col("e.x").as("u"), col("e.y").as("v"))
        .where(col("u") =!= col("v")).distinct()
      val next = cut(afterSmall)
      // star-forest test on the materialized round result
      converged = next.alias("c").join(
        next.select(col("u").as("v")).alias("p"), Seq("v")).isEmpty
      cur.unpersist()
      cur = next
    }
    (cur.select(col("u").as("id"), col("v").as("label")), rounds)
  }

  /** Portable 16-bit SimHash: per token take the first 4 hex chars of md5
    * as a 16-bit value; signature bit i is the sign of the sum over tokens
    * of (2·bit_i − 1). Expressible identically in any SQL engine (no
    * bitwise ops needed — arithmetic shifts via floor-div). */
  def simhash16(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val hexVal = (t: Column) => {
      // value of md5(t)[0:4] parsed as base-16 via conv
      conv(substring(md5(t), 1, 4), 16, 10).cast("long")
    }
    val bitSum = (i: Int) =>
      aggregate(toks, lit(0L),
        (acc, t) => acc + (floor(hexVal(t) / math.pow(2, i).toLong).cast("long") % 2L) * 2L - 1L)
    (0 until 16).map(i => when(bitSum(i) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Production 64-bit SimHash on xxhash64 (codegen'd, Spark-only). */
  def simhash64(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val bitSum = (i: Int) =>
      aggregate(toks, lit(0L),
        (acc, t) => acc + (shiftright(xxhash64(t), i) % 2L + 2L) % 2L * 2L - 1L)
    (0 until 64).map(i => when(bitSum(i) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Exact n-gram Jaccard over all pairs within a blocking key (e.g. lang),
    * as an inverted-index join: explode shingles, equi-join on
    * (block, gram), count shared grams per pair. Parallelism follows gram
    * cardinality (high), not block cardinality (often tiny) — a dense
    * per-block self-join with array intersections serializes onto one task
    * per block and dies at scale. Pairs sharing zero grams have jaccard 0,
    * so for any threshold > 0 the result is identical.
    *
    * @param maxDf grams with document frequency above this (within their
    *        block) are excluded from pair generation and intersection
    *        counts — the stop-gram guard. A stop-gram's bucket contributes
    *        df²/2 pairs of near-zero evidence; capping bounds both the
    *        pair blow-up and the per-task array. Union sizes still count
    *        every gram, so reported jaccard is a lower bound for pairs
    *        that shared capped grams.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: String, n: Int, threshold: Double,
                        maxDf: Int = 500): DataFrame = {
    require(threshold > 0, "inverted-index jaccard requires a positive threshold")
    val sets = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      gramHashSet(col(textCol), n).as("gr"))
    val grams = sets.select(col("id"), col("blk"), explode(col("gr")).as("gram"))
    // sizes join strategy is left to AQE: the table is two scalar columns
    // but O(|docs|) rows — a FORCED broadcast would OOM at corpus scale,
    // while a forced shuffle re-shuffles the (much larger) pair set twice.
    // AQE broadcasts while it fits and degrades to a shuffle join beyond.
    // (Carrying each doc's size through pair generation as an (id, sz)
    // struct — eliminating both joins — was measured and REJECTED: with
    // struct group keys the pair aggregation falls off the primitive-key
    // hash-agg fast path, and even grouping on plain ids with min(sz)
    // carry-alongs, the wider collect_list/explode stream costs more than
    // the AQE-broadcast joins it saves; same-JVM A/B in BENCH_NOTES.)
    val sizes = sets.select(col("id"), size(col("gr")).as("sz"))
    pairsFromGroups(grams, Seq("blk", "gram"), "id", maxDf)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Which exact-jaccard formulation to run, from corpus size and
    * threshold — the measured crossover (BENCH_NOTES "d4 → d4b
    * crossover"), not asymptotics asserted:
    *
    *  - counting ([[ngramJaccardPairs]]) wins small corpora (5k docs:
    *    1.75 s vs 3.3 s at t=0.8) — the prefix path's extra exchanges
    *    dominate before the pair stream grows. Exponent 1.46, so it
    *    loses its lead within one decade (50k docs: 53.8 s vs 28.8 s).
    *    These figures were measured before the prefix path's length and
    *    positional filters ([[prefixCandidates]]); BENCH_NOTES "Prefix
    *    jaccard filters" re-measures the 5k point with them.
    *  - prefix ([[prefixJaccardPairs]]) is the only viable plan at scale
    *    for t ≥ ~0.2: candidate volume scales with (1−t)·|grams|.
    *  - below t ≈ 0.2 the prefix is ~the whole gram set and the filter's
    *    extra joins make it strictly worse at ANY size — counting is
    *    the honest plan there (low-threshold all-pairs jaccard is
    *    inherently pair-bound; the maxDf cap is what bounds it).
    *
    * The 20k-doc default sits inside the measured 5k–50k crossover band
    * for this corpus density; callers with much denser documents should
    * lower it. */
  private[graft] def jaccardPlan(nDocs: Long, threshold: Double,
                                 countingMaxDocs: Long = 20000): String =
    if (threshold < 0.2 || nDocs <= countingMaxDocs) "counting" else "prefix"

  /** Exact n-gram Jaccard pairs with automatic plan choice — the entry
    * point callers should use. Picks [[ngramJaccardPairs]] (counting)
    * vs [[prefixJaccardPairs]] (All-Pairs prefix filter) per
    * [[jaccardPlan]], so the superlinear counting plan cannot run on a
    * large corpus by default. Both formulations are lossless at equal
    * (threshold, maxDf), so the choice never changes the result set.
    *
    * @param numDocs corpus row count if the caller already knows it
    *        (skips the counting job — on a 100 TB corpus prefer passing
    *        catalog statistics rather than paying a count scan). */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   blockCol: String, n: Int, threshold: Double,
                   maxDf: Int = 500, countingMaxDocs: Long = 20000,
                   numDocs: Option[Long] = None): DataFrame = {
    val nDocs = numDocs.getOrElse(df.count())
    jaccardPlan(nDocs, threshold, countingMaxDocs) match {
      case "counting" => ngramJaccardPairs(df, textCol, idCol, blockCol, n, threshold, maxDf)
      case _          => prefixJaccardPairs(df, textCol, idCol, blockCol, n, threshold, maxDf)
    }
  }

  /** Prefix-filtered exact n-gram Jaccard (All-Pairs/PPJoin prefix filter,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08) — the high-threshold
    * scale path of [[ngramJaccardPairs]]. Same output for any threshold
    * (lossless), but candidate volume scales with (1−t)·|grams| instead
    * of |grams|: at t=0.8 only the rarest ~20% of each document's grams
    * are indexed, so the pair blow-up of the full inverted index never
    * materializes. At t=0.05 the prefix is ~95% of each set and the
    * extra verify joins make it strictly worse than the counting
    * formulation — use [[ngramJaccardPairs]] there.
    *
    * Prefix lemma (proved via the minimal shared element): order grams by
    * a global total order (here: ascending document frequency, then gram —
    * rarest first minimizes postings). If |A∩B| ≥ α then the smallest
    * shared gram lies within the first |A|−α+1 grams of A AND the first
    * |B|−α+1 of B, so indexing only those prefixes finds every qualifying
    * pair. jaccard ≥ t implies |A'∩B'| ≥ t·|A| per side (A' = df-capped
    * set; the capped intersection is what the counting formulation scores
    * too), giving α = ⌈t·|A|⌉. The bound is relaxed by the result's
    * 4-decimal rounding (accepts j ≥ t−5e−5) and an fp guard, keeping the
    * filter strictly lossless.
    *
    * Scale shape: one shuffle to build the df table, one groupBy to order
    * each document's grams (state bounded by document size), then the
    * candidate step ([[prefixCandidates]]): a self-join of the prefix index
    * on (block, gram) (posting lists are ≤ maxDf by construction — the df
    * cap doubles as the bucket cap), the length filter on the raw joined
    * rows, and one position aggregate on the (id_a, id_b) exchange that
    * applies the positional filter. Only the pairs whose sizes and prefix
    * positions still allow j ≥ t reach the standard SHUFFLE_HASH verify
    * on sorted hash sets. Nothing O(corpus) is broadcast or collected. */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                         blockCol: String, n: Int, threshold: Double,
                         maxDf: Int = 500): DataFrame = {
    require(threshold > 0 && threshold < 1, "prefix filter needs 0 < t < 1")
    // The doc table has THREE consumers (prefix index, and each side of
    // the verify join) with different column prunings, so exchange reuse
    // does NOT kick in and the whole grams→postings→docs chain would be
    // computed three times (measured: the dominant cost of this plan).
    // A checkpoint materializes it once and shares the partitions across
    // all consumers — the same lineage-cut tool the connected-components
    // loop uses, with the same mode selection: when the caller configured
    // a checkpoint dir the cut is RELIABLE (survives executor loss — the
    // right mode for a long 100 TB run); otherwise localCheckpoint keeps
    // blocks executor-local, which is faster but loses the job if an
    // executor dies after materialization. The reliable cut must be
    // EAGER: a lazy reliable checkpoint evaluates the un-persisted
    // lineage once for the first action and again for the checkpoint
    // write (measured 2× partition evals, commit 0997130) — the exact
    // recompute this cut exists to avoid. localCheckpoint is
    // persist-based, so lazy is fine there.
    // Storage is O(corpus/cluster-width) per executor, freed by the
    // context cleaner when the query's RDD goes out of scope.
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    val docs0 = prefixDocs(df, textCol, idCol, blockCol, n, threshold, maxDf)
    val docs = if (reliable) docs0.checkpoint(true) else docs0.localCheckpoint(false)
    // verify on the capped value-sorted hash sets (same SHUFFLE_HASH
    // rationale as verifyJaccard: the set table is O(corpus)); the
    // full set sizes ride along with the candidates
    val vsets = docs
      .select(col("id"), sort_array(col("by_rarity.gram")).as("toks"))
      .hint("shuffle_hash")
    prefixCandidates(docs, threshold)
      .join(vsets.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(vsets.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("inter", graft.functions.NativeTextColumns
        .sortedIntersectSize(col("toks_a"), col("toks_b")).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** [[prefixJaccardPairs]]' doc table, one row per (id, block): `by_rarity`
    * (the df-capped grams as (gdf, gram), sorted — one total order shared
    * by every document of a block), `sz` (the FULL distinct-gram count),
    * `cap` = size(by_rarity), and the prefix length `plen`. */
  private[graft] def prefixDocs(df: DataFrame, textCol: String, idCol: String,
                                blockCol: String, n: Int, threshold: Double,
                                maxDf: Int): DataFrame = {
    val sets = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      gramHashSet(col(textCol), n).as("gr"))
    // carry the FULL distinct-gram count through the explode: the union
    // size in the jaccard denominator counts capped grams too, exactly
    // like the counting formulation
    val grams = sets.select(col("id"), col("blk"), size(col("gr")).as("sz"),
      explode(col("gr")).as("gram"))
    // posting lists carry the doc ids, so document frequency is computed
    // AND attached to every (doc, gram) in ONE aggregation — a separate
    // df table costs a join and, worse, a second full gram-hash scan of
    // the corpus (each consumer of `grams` re-executes the md5 pass; at
    // sf0.1 the df-join formulation measured ~0.7 s slower). Lists longer
    // than maxDf are dropped here — the stop-gram cap mirrored in the
    // oracle. CollectCapped, not collect_list: a stop-gram's posting
    // list (df ≫ maxDf — guaranteed for common bigrams at corpus scale)
    // must not be materialized in one aggregation buffer just so the
    // size filter can discard it; the capped collector stops copying at
    // maxDf+1 elements, which still trips the filter, so the kept
    // posting set is bit-identical at O(maxDf) per-group state.
    val capped = grams.groupBy("blk", "gram")
      .agg(graft.functions.CollectCapped.collect(
        struct(col("id"), col("sz")), maxDf).as("ds"))
      .where(size(col("ds")) <= maxDf)
      .select(col("blk"), col("gram"), size(col("ds")).as("gdf"),
        explode(col("ds")).as("d"))
      .select(col("d.id").as("id"), col("blk"), col("gram"), col("gdf"),
        col("d.sz").as("sz"))
    // t' = t − 1e−4 (< the 4-decimal acceptance floor t − 5e−5), minus an
    // fp epsilon inside ceil: both errors can only LENGTHEN the prefix.
    capped.groupBy("id", "blk")
      .agg(sort_array(collect_list(struct(col("gdf"), col("gram")))).as("by_rarity"),
        first(col("sz")).as("sz"))
      .withColumn("cap", size(col("by_rarity")))
      .withColumn("alpha",
        ceil(lit(threshold - 1e-4) * col("sz") - lit(1e-9)).cast("int"))
      .withColumn("plen", col("cap") - col("alpha") + lit(1))
  }

  /** The candidate pairs (id_a < id_b, with sz_a, sz_b) of
    * [[prefixJaccardPairs]]: every pair sharing a prefix gram whose sizes
    * and prefix positions still allow j ≥ t. With inter ≤ ub, j =
    * inter/(sz_a+sz_b−inter) ≤ ub/(sz_a+sz_b−ub), so a pair whose bound
    * ub misses t' cannot pass verify. Two bounds, both exact:
    *  - length (All-Pairs): ub = min(cap_a, cap_b), on the raw joined
    *    rows, so it also cuts the exchange volume;
    *  - positional (PPJoin): the rows of a pair are aggregated to the
    *    first (fa, fb) and last (la, lb) shared prefix positions (0-based)
    *    and their count cnt; ub = min(cap_a−fa, cap_b−fb,
    *    cnt + min(cap_a−la−1, cap_b−lb−1)). Both sides share one gram
    *    order, so the first shared prefix gram is the first shared gram
    *    overall, min/max positions on the two sides come from the same
    *    gram, and every shared gram before the last shared prefix gram
    *    lies inside both prefixes — `cnt` counts all of them.
    * The same slack as the prefix length (t' = t − 1e−4, fp guard 1e−9)
    * can only loosen a bound, so the filters drop no output pair. */
  private[graft] def prefixCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    def reaches(ub: Column): Column =
      ub >= lit(threshold - 1e-4) * (col("sz_a") + col("sz_b") - ub) - lit(1e-9)
    // the self-join amplifies each posting up to maxDf²/2×, so the index
    // is spread over the full cluster width EXPLICITLY (as in
    // pairsFromGroups: AQE's byte-based coalescing would judge the tiny
    // index rows by size and serialize the quadratic join onto a few
    // tasks); both sides reuse this one exchange. SHUFFLE_HASH, never
    // broadcast: the index is O(corpus).
    // by_rarity.gram = GetArrayStructFields (native, codegen'd) — the
    // transform(_, s => s.getField(...)) spelling is a higher-order
    // function (CodegenFallback) and dragged this Project out of codegen
    val index = docs.where(col("plen") > 0)
      .select(col("id"), col("blk"), col("sz"), col("cap"),
        posexplode(slice(col("by_rarity.gram"), lit(1), col("plen"))).as(Seq("pos", "gram")))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("blk"), col("gram"))
    def side(s: String): DataFrame = index.select(col("blk"), col("gram"),
      col("id").as(s"id_$s"), col("sz").as(s"sz_$s"), col("cap").as(s"cap_$s"),
      col("pos").as(s"p$s"))
    // a pair is generated once per SHARED PREFIX GRAM (a near-dup pair
    // shares most of its prefix), so the raw rows are filtered before the
    // (id_a, id_b) exchange and deduped by the position aggregate on it.
    // NOT distinctPairsByIdA's id_a-only exchange: it would carry the
    // multiplied stream (r18 order-controlled sf1 A/B: d4b +4..10%)
    side("a").join(side("b").hint("shuffle_hash"), Seq("blk", "gram"))
      .where(col("id_a") < col("id_b") && reaches(least(col("cap_a"), col("cap_b"))))
      .groupBy("id_a", "id_b", "sz_a", "sz_b", "cap_a", "cap_b")
      .agg(min(col("pa")).as("fa"), min(col("pb")).as("fb"),
        max(col("pa")).as("la"), max(col("pb")).as("lb"), count(lit(1)).as("cnt"))
      .where(reaches(least(col("cap_a") - col("fa"), col("cap_b") - col("fb"),
        col("cnt") + least(col("cap_a") - col("la"), col("cap_b") - col("lb")) - lit(1))))
      // id_a < id_b already dropped null ids; declaring it keeps the pair
      // schema that pairsFromGroups emits (non-null ids), so the written
      // pairs are byte-identical whichever jaccard plan ran
      .select(knownNotNull(col("id_a")).as("id_a"), knownNotNull(col("id_b")).as("id_b"),
        col("sz_a"), col("sz_b"))
  }

  private def knownNotNull(c: Column): Column = org.apache.spark.sql.GraftBridge.column(
    org.apache.spark.sql.catalyst.expressions.KnownNotNull(org.apache.spark.sql.GraftBridge.expression(c)))
}
