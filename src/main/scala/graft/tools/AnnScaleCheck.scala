package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Invariant-based verification of the embedding/ANN family at scale
  * factors where the DuckDB oracle cannot run — the vector-side sibling
  * of [[ScaleCheck]] (which covers the text-dedup family). ScaleGen's
  * embeddings table is a pure function of vec_id (10 labeled Gaussian
  * clusters, ~2% planted near-dup of the previous vector at +0.001
  * noise), so the checker regenerates the corpus and its planted
  * structure in-process and audits the operators' output against it.
  *
  * Checks (hard assertions unless noted):
  *  - V0 input integrity: row count and global xxhash64 checksum of the
  *    parquet equal the replayed corpus.
  *  - V1 planted-pair truth: every planted (id−1, id) near-dup pair has
  *    exact cosine ≥ 0.999 recomputed from the corpus — the ground truth
  *    the recall checks below are measured against is real.
  *  - V2 IVF recall at FULL corpus: IvfIndex (trained centroids, the
  *    production path) top-10 vs bruteForceTopK ground truth over ~100
  *    deterministically-spread queries; recall@10 asserted ≥ 0.7 and
  *    reported exactly. This is the engine's first measured ANN quality
  *    number at a scale the all-pairs oracle cannot reach.
  *  - V3 SemDeDup (d11's operator) planted recall on a 50k slice with
  *    TRAINED centroids at threshold 0.99, asserted ≥ 0.9; plus pair
  *    soundness — every reported cosine equals an independent
  *    zip_with/aggregate recomputation (not VecDot) bit-for-bit at the
  *    reported rounding.
  *  - V4 LSH near-dup (d7b's operator) planted recall on the 50k slice
  *    (16 planes, 1 probe bit, t=0.99), asserted ≥ 0.95 — planted pairs
  *    differ by 0.001 noise, so their sign patterns agree on every
  *    plane and exact-bucket probing alone must find them.
  *  - V5 candidate-volume telemetry (REPORTED, no assertion): Σ|cell|²
  *    and Σ|bucket|² with max sizes at the full corpus — the quadratic
  *    candidate exposure of CLUSTERED corpora. Hyperplane buckets and
  *    quantizer cells cannot subdivide a tight cluster below its natural
  *    size, so near-dup pair generation over clustered embeddings needs
  *    the same cap/salt discipline as the text path's banded buckets;
  *    this line is the measured evidence for that sizing decision.
  *  - V6 capped-route bounded subcells: the per-key population of the
  *    capped/auto (d7c/d11b/d11c) pair pass at the full corpus, via the
  *    operator's own subcell derivation — max subcell asserted ≤
  *    4·targetCell. The bounded-bucket property V5 shows the
  *    origin-plane buckets lack.
  *  - V7 semantic APPLY (d12's shape) at the full corpus: connected
  *    components over the d7c/auto pair set + survivor manifest —
  *    tiling (Σ absorbed == n), min-id-survivor structure, ≥95% of
  *    planted pairs same-labeled, survivor count ≤ n − merged planted
  *    pairs; pair-pass and CC wall-clocks reported separately so the
  *    APPLY step's scale cost is priced on its own.
  *
  * Usage: runMain graft.tools.AnnScaleCheck <sfDir>
  */
object AnnScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    System.setProperty("graft.cacheTables", "true")
    val spark = graft.SparkEntry.session()
    import spark.implicits._

    val failures = scala.collection.mutable.ListBuffer.empty[String]
    def check(name: String, ok: Boolean, detail: String): Unit = {
      println(s"""{"check":"$name","pass":$ok,"detail":"$detail"}""")
      if (!ok) failures += name
    }

    val actual = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nVecs = actual.count()

    // V0 — the corpus under test is exactly the replayed corpus
    val regen = spark.range(0, nVecs, 1, 64).map(id => ScaleGen.vecRow(id))
      .toDF("vec_id", "embedding", "label")
    def checksum(df: DataFrame): Long =
      df.agg(expr("bit_xor(xxhash64(vec_id, embedding, label))")).head().getLong(0)
    val ckA = checksum(actual)
    val ckR = checksum(regen)
    check("V0_input_integrity", ckA == ckR, s"n=$nVecs checksum actual=$ckA regen=$ckR")

    // planted near-dup pairs (id_a = id_b − 1), replayed. A planted row
    // copies vecFor(id−1) — the BASE vector of id−1 — so when id−1 is
    // ITSELF planted, row id is near id−1's base, not row id−1: chained
    // plants are excluded from the truth set (the text-side ScaleCheck
    // resolves the same chain case by comparing actual texts).
    val plantedB = spark.range(0, nVecs, 1, 64)
      .filter(id => ScaleGen.vecKindNearDup(id) && !ScaleGen.vecKindNearDup(id - 1))
      .toDF("id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPlanted = plantedB.count()

    // V1 — the planted pairs really are near-dups in the corpus itself
    val side = actual.select(col("vec_id"), col("embedding"))
    val plantedCos = plantedB
      .join(side.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .join(side.select((col("vec_id") + 1).as("id_b"), col("embedding").as("va")), "id_b")
      .select(Similarity.cosine(col("va"), col("vb")).as("cos"))
    val minCos = plantedCos.agg(min("cos")).head().getDouble(0)
    check("V1_planted_truth", nPlanted > 0 && minCos >= 0.999,
      f"planted=$nPlanted min_cos=$minCos%.6f")

    // V2 — IVF top-k recall vs exact brute force at the full corpus
    val qStep = math.max(1L, nVecs / 100)
    val queries = actual.where(col("vec_id") % qStep === 0)
    val nQ = queries.count()
    val centroids = Similarity.IvfIndex.train(actual, "vec_id", "embedding",
      nlist = 64, iters = 2)
    val exact = Similarity.bruteForceTopK(actual, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExact = exact.count()
    // the nprobe frontier — the recall/scan-fraction trade an operator
    // of this shape is tuned by at scale (each probe scans ~nprobe/nlist
    // of the corpus); asserted at the catalog-shaped nprobe=8, reported
    // across the ladder
    val frontier = Seq(1, 2, 4, 8).map { np =>
      val ivf = Similarity.IvfIndex.topK(actual, queries, "vec_id", "embedding",
        k = 10, centroids, nprobe = np).select("query_id", "neighbor_id")
      val hit = ivf.join(exact, Seq("query_id", "neighbor_id")).count()
      np -> (if (nExact == 0) 0.0 else hit.toDouble / nExact)
    }
    val recall = frontier.last._2
    val ladder = frontier.map { case (np, r) => f"nprobe$np=$r%.4f" }.mkString(" ")
    check("V2_ivf_recall", nQ >= 50 && recall >= 0.7,
      f"queries=$nQ exact_pairs=$nExact recall_at_10: $ladder nlist=64")
    exact.unpersist()

    // independent cosine recomputation (zip_with/aggregate HOFs, not the
    // compiled VecDot) for the soundness halves of V3/V4
    def cosHof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dotH(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
      val ad = a.cast("array<double>"); val bd = b.cast("array<double>")
      dotH(ad, bd) / (sqrt(dotH(ad, ad)) * sqrt(dotH(bd, bd)))
    }
    def soundness(pairs: DataFrame): (Long, Long) = {
      val joined = pairs
        .join(side.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
        .join(side.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
        .withColumn("cos2", round(cosHof(col("va"), col("vb")), 4))
      (joined.count(), joined.where(col("cos") =!= col("cos2")).count())
    }
    def plantedRecall(pairs: DataFrame, sliceN: Long): (Double, Long, Long) = {
      val p = plantedB.where(col("id_b") < sliceN)
      val n = p.count()
      val f = pairs.select("id_a", "id_b").join(p, Seq("id_b"))
        .where(col("id_a") === col("id_b") - 1).count()
      (if (n == 0) 1.0 else f.toDouble / n, f, n)
    }

    val sliceN = math.min(nVecs, 50000L)
    val slice = actual.where(col("vec_id") < sliceN)

    // V3 — SemDeDup with the trained centroids on the slice
    val sem = Similarity.semanticNearDupPairs(slice, "vec_id", "embedding",
        centroids, threshold = 0.99)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (semN, semBad) = soundness(sem.select("id_a", "id_b", "cos"))
    val (semRec, semF, semT) = plantedRecall(sem, sliceN)
    check("V3_semdedup_slice", semBad == 0 && semRec >= 0.9,
      f"pairs=$semN unsound=$semBad planted_recall=$semRec%.4f ($semF/$semT) " +
        s"slice=$sliceN nlist=64 t=0.99")
    sem.unpersist()

    // V3b — the CAPPED SemDeDup at the FULL corpus (the scale the
    // uncapped in-cell pass cannot reach: V5 prices its candidate set at
    // 3.4e8 pairs here). targetCell=1000 bounds expected per-subcell
    // work; planted near-dups must survive the splits (their cellplane
    // sign bits agree).
    val semCap = Similarity.semanticNearDupPairsCapped(actual, "vec_id",
        "embedding", centroids, threshold = 0.99, targetCell = 1000,
        maxExtraBits = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (capN, capBad) = soundness(semCap.select("id_a", "id_b", "cos"))
    val (capRec, capF, capT) = plantedRecall(semCap, nVecs)
    check("V3b_semdedup_capped_full", capBad == 0 && capRec >= 0.95,
      f"pairs=$capN unsound=$capBad planted_recall=$capRec%.4f ($capF/$capT) " +
        s"n=$nVecs nlist=64 target=1000 maxBits=8 t=0.99")
    semCap.unpersist()

    // V3c — the Hamming-≤1 subcell multi-probe (probeSplitBits=1) at the
    // same full corpus: recovers pairs split by exactly one plane, so
    // recall must dominate V3b's (the probed set is a superset by
    // construction — this asserts the implementation delivers it) at a
    // bounded (1+k)-fold probe-side cost
    val semProbe = Similarity.semanticNearDupPairsCapped(actual, "vec_id",
        "embedding", centroids, threshold = 0.99, targetCell = 1000,
        maxExtraBits = 8, probeSplitBits = 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (prN, prBad) = soundness(semProbe.select("id_a", "id_b", "cos"))
    val (prRec, prF, prT) = plantedRecall(semProbe, nVecs)
    check("V3c_semdedup_probed_full",
      prBad == 0 && prRec >= capRec && prRec >= 0.97,
      f"pairs=$prN unsound=$prBad planted_recall=$prRec%.4f ($prF/$prT) " +
        f"vs_capped=+${prRec - capRec}%.4f n=$nVecs probeSplitBits=1")
    semProbe.unpersist()

    // V4 — LSH-bucketed near-dup on the slice
    @annotation.nowarn("cat=deprecation") // V4/V5 measure d7b's exposure on purpose
    val lsh = Similarity.cosineNearDupLshPairs(slice, "vec_id", "embedding",
        threshold = 0.99, numPlanes = 16, dim = 64, probeBits = 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (lshN, lshBad) = soundness(lsh)
    val (lshRec, lshF, lshT) = plantedRecall(lsh, sliceN)
    check("V4_lsh_neardup_slice", lshBad == 0 && lshRec >= 0.95,
      f"pairs=$lshN unsound=$lshBad planted_recall=$lshRec%.4f ($lshF/$lshT) " +
        s"slice=$sliceN planes=16 probeBits=1 t=0.99")
    lsh.unpersist()

    // V5 — candidate-volume telemetry at the FULL corpus (reported): the
    // clustered-corpus exposure of bucket/cell pair generation
    def volume(keyed: DataFrame): (Long, Long) = {
      val sizes = keyed.groupBy("k").agg(count(lit(1)).as("n"))
      val r = sizes.agg(sum(col("n") * (col("n") - 1) / 2).cast("long"),
        max("n").cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (cellPairs, cellMax) = volume(
      Similarity.IvfIndex.assign(actual, "embedding", centroids)
        .select(col("centroid").as("k")))
    val (bucketPairs, bucketMax) = volume(actual.select(
      Similarity.lshBucket(col("embedding"), 16, 64).as("k")))
    check("V5_candidate_volume", ok = true,
      s"n=$nVecs ivf64_cell_pairs=$cellPairs max_cell=$cellMax " +
        s"lsh16_bucket_pairs=$bucketPairs max_bucket=$bucketMax " +
        "(reported: clustered corpora keep buckets/cells at natural-cluster " +
        "size - pair generation at scale needs capped/salted cells like the " +
        "text path's banded buckets)")

    // V6 — the capped route's ACTUAL per-key population at the full
    // corpus (what the d7c/d11b/d11c pair pass joins under, via the same
    // subcellFrame the operator uses): max subcell must stay within a
    // small multiple of targetCell — the bounded-bucket property d7b's
    // origin-plane buckets measurably lack (V5's max_bucket grows with
    // the corpus; this must not)
    val (subPairs, subMax) = volume(
      Similarity.cappedSubcellKeys(actual, "vec_id", "embedding", centroids,
          targetCell = 1000, maxExtraBits = 8)
        .select(concat_ws(":", col("centroid"), col("subcell")).as("k")))
    check("V6_capped_subcell_bound", subMax <= 4000,
      s"n=$nVecs max_subcell=$subMax (bound 4*targetCell=4000) " +
        s"subcell_pairs=$subPairs vs uncapped_cell_pairs=$cellPairs " +
        s"vs lsh16_max_bucket=$bucketMax target=1000 maxBits=8")

    // V7 — the APPLY step (d12's shape) at the FULL corpus: connected
    // components over the d7c/auto pair set + the survivor manifest.
    // The pair set is materialized FIRST so the reported cc_s prices
    // label propagation + manifest alone — the step the catalog's d12
    // row measures only at fixture size. Invariants:
    //  - tiling: Σ absorbed == n (nothing dropped or double-counted)
    //  - min-id survivor: no pair's LARGER member is ever a survivor
    //    (its component holds a smaller id by construction)
    //  - planted merge: ≥95% of the vertex-disjoint planted pairs end
    //    up same-labeled (bounded by the pair set's own recall, V3b/c)
    //  - cluster count: each same-labeled planted pair merges two
    //    distinct vertices, so n_survivors ≤ n − samePlanted
    val pairsT0 = System.nanoTime()
    val autoPairs = Similarity.cosineNearDupPairsAuto(actual, "vec_id",
        "embedding", centroids, threshold = 0.99, targetCell = 1000,
        maxExtraBits = 8)
      .select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAutoPairs = autoPairs.count()
    val pairsSec = (System.nanoTime() - pairsT0) / 1e9
    val ccT0 = System.nanoTime()
    val labels = graft.operators.Dedup.connectedComponents(
        actual.select(col("vec_id").as("id")), autoPairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val manifest = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSurv = manifest.count()
    val ccSec = (System.nanoTime() - ccT0) / 1e9
    val absorbed = manifest.agg(sum("n_vecs")).head().getLong(0)
    val badSurv = autoPairs
      .join(manifest.select(col("cluster_id").as("id_b")), "id_b").count()
    val samePlanted = plantedB.withColumn("id_a", col("id_b") - 1)
      .join(labels.select(col("id").as("id_a"), col("cluster_id").as("ca")), "id_a")
      .join(labels.select(col("id").as("id_b"), col("cluster_id").as("cb")), "id_b")
      .where(col("ca") === col("cb")).count()
    val sameFrac = if (nPlanted == 0) 1.0 else samePlanted.toDouble / nPlanted
    check("V7_semantic_apply_full",
      absorbed == nVecs && badSurv == 0 && sameFrac >= 0.95 &&
        nSurv <= nVecs - samePlanted,
      f"n=$nVecs pairs=$nAutoPairs survivors=$nSurv absorbed=$absorbed " +
        f"bad_survivors=$badSurv planted_same_label=$sameFrac%.4f " +
        f"($samePlanted/$nPlanted) pairs_s=$pairsSec%.1f cc_s=$ccSec%.1f " +
        s"t=0.99 target=1000 maxBits=8 (auto route, d7c defaults)")
    manifest.unpersist(); labels.unpersist(); autoPairs.unpersist()

    plantedB.unpersist(); actual.unpersist()
    val ok = failures.isEmpty
    println(s"""{"annscalecheck":"${if (ok) "PASS" else "FAIL"}","sf_dir":"$sfDir","n_vecs":$nVecs,"failed":${failures.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
