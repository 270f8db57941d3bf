package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), for training-data curation (near-dup by embedding,
  * retrieval eval, cluster-balance sampling).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. Query side is broadcast; the
  *    corpus is scanned once, map-side, with a per-partition top-k
  *    (window + rank after a narrow transform). Correct at any scale but
  *    O(|Q|·|C|) work — the baseline and the verifier for the ANN path.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus hashed map-side into
  *    sign-bit buckets, probes only matching buckets (multi-probe via
  *    Hamming-adjacent buckets). Recall/latency tunable with planes/probes.
  *
  * All arithmetic in double (cast once from float) for cross-engine
  * determinism.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dot product of two equal-length numeric arrays — the compiled
    * sequential loop [[graft.functions.VecDot]] (same left-to-right fold
    * order as the aggregate/zip_with column formulation and the oracles'
    * list_reduce, so results are bit-identical; HOFs would run
    * interpreted at |pairs|·dim lambda applications). */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot.column(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** float→double widening as a native Cast (codegen'd; a transform()
    * lambda would be interpreted). Element values are identical. */
  def asDouble(a: Column): Column = a.cast("array<double>")

  /** Cosine similarity, rounded for stable comparison. */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Exact top-k neighbors for each query vector. `queries` and `corpus`
    * both carry (idCol, vecCol); self-matches excluded. Query side should
    * be the small one — it is broadcast, so the corpus never shuffles. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv")))))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Deterministic hyperplane weight for (plane p, dim d): the first 32
    * bits of md5("plane:p:d") scaled to [-1, 1). Generated once on the
    * driver (embedded as plan literals) — and, unlike a JVM PRNG stream,
    * reproducible by ANY engine that has md5, which is what lets the d6
    * LSH query carry a full external SQL oracle. */
  /** Deterministic md5-derived weight in [-1, 1) for ("prefix:p:d") —
    * reproducible by any engine with md5 (what lets the d6/d9 queries
    * carry full external SQL oracles). */
  def md5Weight(prefix: String, p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = md.digest(s"$prefix:$p:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
    v.toDouble / 4294967296.0 * 2 - 1
  }

  private[operators] def planeWeight(p: Int, d: Int): Double = md5Weight("plane", p, d)

  /** Fixed md5-derived centroid table (for oracle-verifiable IVF probing;
    * production centroids come from [[IvfIndex.train]]). */
  def md5Centroids(nlist: Int, dim: Int): Array[(Int, Array[Double])] =
    Array.tabulate(nlist)(c => c -> Array.tabulate(dim)(d => md5Weight("centroid", c, d)))

  private def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)((p, d) => planeWeight(p, d))

  /** Sign-bucket key: one bit per hyperplane (sign of the projection).
    * `prefix` selects an independent md5-derived plane family —
    * [[semanticNearDupPairsCapped]] subdivides quantizer cells with the
    * "cellplane" family so its bits are independent of the "plane"
    * family the d6/d7b bucketing uses. */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int,
                prefix: String = "plane"): Column = {
    // numPlanes=0 degrades to the single all-vectors bucket (constant 0)
    // instead of reducing over an empty collection — a caller passing
    // maxExtraBits=0 to the capped SemDeDup (to disable splitting) gets
    // the uncapped semantics, not an exception
    if (numPlanes == 0) return lit(0L)
    val ps = Array.tabulate(numPlanes, dim)((p, d) => md5Weight(prefix, p, d))
    val vd = asDouble(vec)
    ps.zipWithIndex.map { case (p, i) =>
      val proj = dot(vd, array(p.map(lit): _*))
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with cosine
    * ≥ threshold. Exact — for bounded corpora and for verifying the
    * LSH/IVF paths. O(n²): at scale, generate candidates with
    * [[lshTopK]]-style bucketing or [[IvfIndex]] probing first and verify
    * only candidates with this formula. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    // norms precomputed per vector (not per pair) — sqrt(dot(v,v)) yields
    // the identical double either way, so external oracles still match
    val side = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = side.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = side.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Embedding near-dup at scale: LSH-bucketed candidate pairs verified
    * with the exact cosine — the scale path whose bounded verifier is
    * [[cosineNearDupPairs]]. Every vector is bucketed map-side by
    * hyperplane signs; one join side explodes the Hamming-≤probeBits probe
    * masks, so a pair whose buckets differ in ≤ probeBits bits matches on
    * exactly ONE mask (masks are distinct, each vector has one bucket) —
    * no dedup pass. Work is Σ_bucket |bucket|², never n²; pairs in buckets
    * differing by more bits are missed (recall tunable via
    * numPlanes/probeBits, asserted in DedupSimilaritySpec).
    *
    * Clustered-corpus caveat: global hyperplanes cannot split a natural
    * cluster (it lands on one side of most planes — the same defect
    * measured for the SemDeDup cellplanes, BENCH_NOTES r14 "centered
    * cellplanes"), so Σ|bucket|² tracks Σ|cluster|² as the corpus grows
    * (AnnScaleCheck V5: lsh16 max bucket 4.8k→27.9k at 200k→1.2M
    * vectors). This operator is SUBSUMED at scale by
    * [[cosineNearDupPairsAuto]] — the same (id_a, id_b, cos) contract
    * with candidates from centered-split quantizer cells, whose
    * per-key population stays bounded (AnnScaleCheck V6) — and is kept
    * for bounded corpora and as the d7b oracle's subject. */
  @deprecated("subsumed at scale by cosineNearDupPairsAuto (d7c): origin-plane " +
    "buckets track natural-cluster size (AnnScaleCheck V5/V6) — use this form " +
    "only on bounded corpora", "r16")
  def cosineNearDupLshPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, numPlanes: Int, dim: Int,
                            probeBits: Int = 2): DataFrame = {
    val side = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        lshBucket(col(vecCol), numPlanes, dim).as("bucket"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = side.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"),
      explode(array(probeMasks(numPlanes, probeBits).map(m =>
        col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val b = side.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"),
      col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al., arXiv:2303.09540):
    * embeddings are bucketed by nearest coarse-quantizer centroid, and
    * exact pairwise cosine runs WITHIN each cell only — duplicate pairs
    * whose members land in different cells are traded away for work that
    * is Σ_cell |cell|² instead of n². The cell structure is the same
    * broadcast-only centroid assignment as [[IvfIndex]]: the corpus never
    * shuffles for assignment, and the one pair-generation shuffle keys on
    * the cell id. At 100 TB, nlist grows with the corpus so the expected
    * cell stays bounded; a skewed cell is handled like any skewed key
    * (salt the cell's pair loop or cap it, as the LSH buckets do). */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: Array[(Int, Array[Double])],
                           threshold: Double): DataFrame = {
    val side = IvfIndex.assign(df, vecCol, centroids)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"), col("centroid"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    inCellPairs(side, Seq("centroid"), threshold)
  }

  /** All (id_a < id_b) pairs between `left` and `right` agreeing on
    * `keyCols` and scoring ≥ threshold — the ONE pair pass every
    * SemDeDup form shares (uncapped: cell key; capped: cell + subcell;
    * probed: cell + probe key vs exact key), so scoring/rounding/output
    * can never diverge between forms the oracles require to agree.
    * Both sides carry (keyCols, id, v, nrm); symmetric callers pass the
    * same frame twice. One shuffle, keyed on keyCols (must include
    * "centroid" — it rides into the output).
    *
    * `salt` spreads POINT-MASS keys (see [[cappedPairsFromAssigned]])
    * over a triangle of salt-group tasks without changing the output
    * set: sCounts is a tiny (keyCols, __s) table naming the flooded
    * keys and their salt counts, expand a (keyCols, __salt, __gi, __gj)
    * table listing, for each salt value r, the s groups {(min(r,t),
    * max(r,t)) : t < s} containing it. Rows of unflooded keys take the
    * plain join (anti-join against sCounts — broadcast, no shuffle);
    * rows of flooded keys compute salt = pmod(xxhash64(id), s), explode
    * s-fold into their groups, and pair-join on keyCols + (gi, gj) with
    * the dual-role filter {salt_a, salt_b} = {gi, gj} — a pair with
    * distinct salts co-occurs in exactly the group (min, max) where
    * exactly one disjunct holds, an equal-salt pair only in (r, r), so
    * every pair is emitted exactly once, same as the plain join. Work:
    * ~2·|key|² candidates total (each side replicated s-fold, group
    * population 2n/s) spread over s²/2 tasks of (2n/s)² instead of ONE
    * task of n² — the point the guard exists for. */
  private def inCellPairsBetween(left: DataFrame, right: DataFrame,
                                 keyCols: Seq[String], threshold: Double,
                                 salt: Option[(DataFrame, DataFrame)] = None
                                ): DataFrame = {
    def score(joined: DataFrame): DataFrame = joined
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos", "centroid")
    def sideA(df: DataFrame, extra: Seq[Column] = Nil) = df.select(
      keyCols.map(col) ++ Seq(col("id").as("id_a"),
        col("v").as("va"), col("nrm").as("na")) ++ extra: _*)
    def sideB(df: DataFrame, extra: Seq[Column] = Nil) = df.select(
      keyCols.map(col) ++ Seq(col("id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb")) ++ extra: _*)
    salt match {
      case None =>
        score(sideA(left).join(sideB(right), keyCols))
      case Some((sCounts, expand)) =>
        val scKeys = broadcast(sCounts.select(keyCols.map(col): _*))
        val plain = score(
          sideA(left.join(scKeys, keyCols, "left_anti"))
            .join(sideB(right.join(scKeys, keyCols, "left_anti")), keyCols))
        def grouped(df: DataFrame): DataFrame = df
          .join(broadcast(sCounts), keyCols)
          .withColumn("__salt",
            pmod(xxhash64(col("id")), col("__s")).cast("int"))
          .join(broadcast(expand), keyCols :+ "__salt")
        val ga = sideA(grouped(left), Seq(col("__salt").as("__sa"),
          col("__gi"), col("__gj")))
        val gb = sideB(grouped(right), Seq(col("__salt").as("__sb"),
          col("__gi"), col("__gj")))
        val saltPart = score(ga.join(gb, keyCols :+ "__gi" :+ "__gj")
          .where((col("__sa") === col("__gi") && col("__sb") === col("__gj")) ||
                 (col("__sa") === col("__gj") && col("__sb") === col("__gi"))))
        plain.unionByName(saltPart)
    }
  }

  private def inCellPairs(side: DataFrame, cellCols: Seq[String],
                          threshold: Double): DataFrame =
    inCellPairsBetween(side, side, cellCols, threshold)

  /** The assigned-corpus artifact the capped/auto SemDeDup forms share:
    * (id, v double-widened, centroid, cellplane sign bits, norm), CUT
    * from its lineage so the nlist×dim assignment pass runs exactly once
    * even though two actions consume it (the O(nlist) cell-size collect,
    * then the pair pass). Before the cut the pair pass re-ran the full
    * assignment + bits projection — at 600k vectors a measurable slice of
    * the capped arm (BENCH_NOTES r14). Mode selection mirrors
    * [[Dedup.prefixJaccardPairs]]'s doc table: a configured checkpoint
    * dir → RELIABLE checkpoint (survives executor loss — the right mode
    * for a long 100 TB run); otherwise executor-local localCheckpoint.
    * Storage is O(corpus/cluster-width) per executor, freed by the
    * context cleaner when the query's RDDs go out of scope.
    *
    * The split bits are signs of projections CENTERED ON THE CELL: bit p
    * of vector v in cell c is sign(v·h_p − centroid_c·h_p), i.e. which
    * side of a hyperplane THROUGH THE CELL CENTROID v falls on. A plane
    * through the origin does not bisect a cell — a quantizer cell is a
    * natural cluster centered far off origin, so the whole cell lands on
    * one side of most global planes and the "split" bits are
    * near-constant within exactly the cells that need splitting
    * (measured at 600k vectors, BENCH_NOTES r14: origin planes left
    * Σ|subcell|² at 3.85e9 of the 6.10e9 unsplit volume with a 12.6k max
    * subcell off a 19.5k max cell; centering the same planes cut it to
    * 4.47e8 with a 1.3k max subcell ≈ targetCell). The per-(cell, plane)
    * offset table is O(nlist·maxExtraBits) doubles, computed on the
    * driver from the centroid table and broadcast-joined. */
  /** Adds the centered cellplane sign-bit column "bits" to a frame
    * already carrying the double-widened vector "v" and its "centroid" —
    * a PURE per-row projection plus one broadcast offsets join (no
    * aggregation, no checkpoint), so it is legal inside a Structured
    * Streaming plan. Shared by the batch artifact ([[assignedWithBits]])
    * and the streaming bucket key ([[semanticBuckets]]). */
  private def centeredBits(withV: DataFrame,
                           centroids: Array[(Int, Array[Double])],
                           maxExtraBits: Int): DataFrame = {
    val dim = centroids.head._2.length
    val planeW = Array.tabulate(maxExtraBits, dim)(
      (p, d) => md5Weight("cellplane", p, d))
    // ordered left-to-right fold over d, matching the oracle's
    // list_reduce over d-ordered lists bit for bit
    val offs = centroids.map { case (cid, cv) =>
      (cid, planeW.map(pl => pl.zip(cv).map { case (w, x) => w * x }.sum).toSeq)
    }.toSeq
    val session = withV.sparkSession
    import session.implicits._
    val offsDf = broadcast(offs.toDF("centroid", "cp_offs"))
    val bits = (0 until maxExtraBits).map { p =>
      when(dot(col("v"), array(planeW(p).map(lit): _*)) >=
             element_at(col("cp_offs"), p + 1),
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    withV.join(offsDf, Seq("centroid")).withColumn("bits", bits).drop("cp_offs")
  }

  /** Streaming-safe semantic bucket key: (centroid, subcell) at a FIXED
    * uniform split depth — quantizer assignment + centered sign bits as
    * pure per-row expressions and one broadcast join, no aggregation or
    * checkpoint, so it runs inside a streaming plan. The fixed depth is
    * the zero-information form (no cell-size table at all): it
    * over-splits small cells (recall loss at their boundaries) and
    * under-splits blasts (one state key holding a whole cluster) —
    * when ANY batch view of the corpus exists, derive a per-cell depth
    * table with [[cellDepths]] and use [[semanticBucketsAdaptive]]
    * instead; this form remains for the cold-start stream with no
    * history. The st9 streaming semantic dedup keys its state on
    * this; st9b on the adaptive form. */
  def semanticBuckets(df: DataFrame, vecCol: String,
                      centroids: Array[(Int, Array[Double])],
                      maxBits: Int): DataFrame = {
    val base = IvfIndex.assign(df, vecCol, centroids)
      .withColumn("v", asDouble(col(vecCol)))
    val b = if (maxBits == 0) base.withColumn("bits", lit(0L))
            else centeredBits(base, centroids, maxBits)
    b.select(col("centroid"),
      col("bits").bitwiseAND(lit((1L << maxBits) - 1)).as("subcell"))
  }

  /** The per-cell split-depth ARTIFACT for the streaming semantic gate:
    * one batch pass over a corpus sample (the stream's history, or the
    * same snapshot the batch SemDeDup routing already scanned) →
    * O(nlist) driver rows under THE depth rule ([[splitDepths]] — the
    * identical integer-shift rule the batch capped route applies), so
    * the stream's state keys and the batch subcells cannot drift. At
    * 100 TB this is a tiny static table refreshed whenever the
    * centroids are; the stream broadcast-joins it (the st5
    * stream-static pattern). */
  def cellDepths(df: DataFrame, vecCol: String,
                 centroids: Array[(Int, Array[Double])],
                 targetCell: Int, maxExtraBits: Int): Map[Int, Int] = {
    val sizes = IvfIndex.assign(df, vecCol, centroids)
      .groupBy("centroid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    splitDepths(sizes, targetCell, maxExtraBits)
  }

  /** [[semanticBuckets]] with a PER-CELL adaptive depth (from
    * [[cellDepths]] — batch-derived, so the stream splits exactly where
    * the batch capped route does): still a pure projection plus two
    * broadcast joins (offsets, masks) — no aggregation, no checkpoint —
    * so it is legal inside a streaming plan. A cell the depth table
    * never saw defaults to depth 0 (unsplit — the safe side: dedup
    * state merely coarser there until the artifact refreshes). Returns
    * the input columns plus (centroid, subcell), so a caller can key
    * state on the pair while keeping its payload. */
  def semanticBucketsAdaptive(df: DataFrame, vecCol: String,
                              centroids: Array[(Int, Array[Double])],
                              depths: Map[Int, Int]): DataFrame = {
    val maxBits = if (depths.isEmpty) 0 else depths.values.max
    val base = IvfIndex.assign(df, vecCol, centroids)
      .withColumn("v", asDouble(col(vecCol)))
    val b = if (maxBits == 0) base.withColumn("bits", lit(0L))
            else centeredBits(base, centroids, maxBits)
    val session = df.sparkSession
    import session.implicits._
    // mask table over the FULL centroid set (depth 0 where absent) so
    // the join never drops a row of an unseen cell
    val masks = broadcast(centroids.map { case (cid, _) =>
      (cid, (1L << depths.getOrElse(cid, 0)) - 1)
    }.toSeq.toDF("centroid", "mask"))
    b.join(masks, Seq("centroid"))
      .withColumn("subcell", col("bits").bitwiseAND(col("mask")))
      .drop("v", "bits", "mask")
  }

  /** [[semanticBucketsAdaptive]] with the depth artifact served LIVE
    * from a path instead of baked into the plan as a literal broadcast:
    * the Map form fixes the depths at plan time, so on a long-running
    * stream a centroid/depth refresh could only land via a query
    * restart. Here the (centroid, depth) table is read through
    * [[graft.sources.DepthArtifact]] — a driver-local O(nlist) scan
    * re-planned at every micro-batch — so rewriting the artifact
    * (atomically, [[graft.sources.DepthArtifact.write]]) is picked up
    * by the NEXT batch with no restart: the true 100 TB operating mode
    * ("the artifact is refreshed whenever the centroids are"). Each
    * batch joins one consistent artifact version. Semantics at a fixed
    * artifact are IDENTICAL to the Map form (spec-pinned): a cell the
    * artifact doesn't name — including the missing-artifact cold start
    * — defaults to depth 0 via the left join's coalesce (coarser keys,
    * never a dropped row). Split bits are computed to `maxExtraBits`
    * (the depth RULE's cap, a config constant) and masked per row by
    * the artifact's depth.
    *
    * The CENTROIDS remain plan literals here: changing them changes
    * cell identity, which invalidates downstream dedup state keyed on
    * (centroid, subcell) — a centroid refresh is a new stream (or a
    * state migration), while a DEPTH refresh only re-partitions future
    * keys within unchanged cells (coarsening/refining, the
    * merge/split-safe direction the spec pins). */
  def semanticBucketsAdaptiveLive(df: DataFrame, vecCol: String,
                                  centroids: Array[(Int, Array[Double])],
                                  depthPath: String,
                                  maxExtraBits: Int): DataFrame = {
    val base = IvfIndex.assign(df, vecCol, centroids)
      .withColumn("v", asDouble(col(vecCol)))
    val b = if (maxExtraBits == 0) base.withColumn("bits", lit(0L))
            else centeredBits(base, centroids, maxExtraBits)
    val masks = graft.sources.DepthArtifact.table(df.sparkSession, depthPath)
      .select(col("centroid"),
        (expr("shiftleft(CAST(1 AS BIGINT), depth)") - 1).as("mask"))
    b.join(broadcast(masks), Seq("centroid"), "left")
      .withColumn("subcell",
        col("bits").bitwiseAND(coalesce(col("mask"), lit(0L))))
      .drop("v", "bits", "mask")
  }

  private def assignedWithBits(df: DataFrame, idCol: String, vecCol: String,
                               centroids: Array[(Int, Array[Double])],
                               maxExtraBits: Int): DataFrame = {
    val base = IvfIndex.assign(df, vecCol, centroids)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"), col("centroid"))
    val withBits =
      if (maxExtraBits == 0) base.withColumn("bits", lit(0L))
      else centeredBits(base, centroids, maxExtraBits)
    val a0 = withBits.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    // reliable mode must be EAGER: a lazy reliable checkpoint evaluates
    // the un-persisted lineage once for the first action and AGAIN for
    // the checkpoint write (measured: 2× partition evals, commit
    // 0997130), which would re-introduce the double assignment
    // pass this artifact exists to eliminate. Eager writes during the
    // one materialization (1× measured); the cellSizes collect follows
    // immediately, so nothing is computed earlier than needed.
    if (reliable) a0.checkpoint(true) else a0.localCheckpoint(false)
  }

  /** The capped pair pass over an already-materialized assigned frame:
    * per-cell split depth from the collected `sizes` (integer shifts),
    * (centroid → mask) broadcast-joined as a tiny frame (nlist grows with
    * the corpus; a thousands-branch CASE falls out of codegen), pairs
    * keyed on (cell, subcell).
    *
    * `probeSplitBits = 1` additionally recovers every pair whose split
    * bits differ in EXACTLY ONE of the cell's k planes — the d7b
    * multi-probe argument applied to subcells: one join side explodes
    * its subcell XOR each single-bit flip (plus the identity flip 0),
    * and a pair at Hamming distance h ≤ 1 matches on exactly the one
    * flip equal to its bit difference (flips are distinct, each vector
    * has one subcell), so no dedup pass is needed; the id_a < id_b
    * filter kills the mirrored match from the other side's probes.
    * Cost: the probe side grows (1 + k_cell)-fold, so candidate volume
    * is ~(1+k)·Σ|subcell|² — still bounded per subcell, vs the origin
    * story where recall came free because the planes never split
    * anything (BENCH_NOTES r14). The flip arrays ride the same O(nlist)
    * broadcast as the masks. */
  private def cappedPairsFromAssigned(assigned: DataFrame,
                                      sizes: Array[(Int, Long)],
                                      threshold: Double, targetCell: Int,
                                      maxExtraBits: Int,
                                      probeSplitBits: Int = 0): DataFrame = {
    require(probeSplitBits >= 0 && probeSplitBits <= 1,
      s"probeSplitBits must be 0 or 1, got $probeSplitBits")
    val session = assigned.sparkSession
    import session.implicits._
    val sub = subcellFrame(assigned, sizes, targetCell, maxExtraBits, probeSplitBits)
    // point-mass guard: the split bits bound EXPECTED subcell size, not
    // the adversarial worst case — a sub-cluster tighter than the bit
    // resolution (an exact-dup blast: identical vectors, identical sign
    // bits at any depth) never splits, and its subcell's pair loop would
    // land n² work on ONE task. Any pair-join key whose population is
    // still > 4·targetCell after splitting is such a residual; spread
    // its pair loop over a salt-group triangle (see
    // [[inCellPairsBetween]]) — output set identical (the pairs are
    // genuine duplicates; the OUTPUT is inherently quadratic in the
    // blast, only the per-task work was the problem). One extra
    // count-agg job over the checkpointed artifact; the salt tables are
    // driver rows, require-guarded in [[saltTables]] like the family's
    // other driver collects.
    val saltAbove = 4L * math.max(targetCell, 1)
    // reference arm: -Dgraft.semdedup.salt=off disables the guard (the
    // single-task exposure it removes is measured in BENCH_NOTES r15).
    // Default on; output is identical either way (the spec asserts it),
    // only task shape differs.
    val saltEnabled = !sys.props.get("graft.semdedup.salt").contains("off")
    // subcells partition cells, so when no CELL exceeds the threshold no
    // subcell can either — the already-collected cell sizes prove it and
    // the count-agg job is skipped entirely (the common case on
    // well-split corpora, and every sub-threshold fixture). For the
    // probe branch the skipped case's per-key probe-side population is
    // still bounded: ≤ (1+maxExtraBits)·saltAbove — a corpus-size-
    // independent constant, the documented (1+k)-fold probe cost over
    // the threshold slack, not a scale exposure.
    val canFlood = saltEnabled && sizes.exists { case (_, n) => n > saltAbove }
    if (probeSplitBits == 0) {
      val oversized: Array[(Seq[Any], Long)] =
        if (!canFlood) Array.empty
        else sub.groupBy("centroid", "subcell")
          .agg(count(lit(1)).as("n")).where(col("n") > saltAbove)
          .collect().map(r => (Seq[Any](r.getInt(0), r.getLong(1)), r.getLong(2)))
      val salt = saltTables(session,
        Seq("centroid" -> org.apache.spark.sql.types.IntegerType,
          "subcell" -> org.apache.spark.sql.types.LongType),
        oversized, targetCell, sizes.map(_._2).sum)
      inCellPairsBetween(sub, sub, Seq("centroid", "subcell"), threshold, salt)
    } else {
      val probes = sub.withColumn("f", explode(col("flips")))
        .withColumn("skey", col("subcell").bitwiseXOR(col("f")))
      val exact = sub.withColumn("skey", col("subcell"))
      // the probe join keys on skey, and flood detection must count the
      // PROBE side's population per key, not just the exact subcell's:
      // a blast's probe rows flood every Hamming-1 NEIGHBOR key too (n
      // probe rows × the neighbor's exact rows on one task if only the
      // blast's own key were salted). The probe side dominates (flip 0
      // replicates every exact row), so its count keys the salting —
      // and both sides of a (cell, skey) match read the same s. A key
      // floods when EITHER
      //  - its probe population exceeds the (1 + k_cell)-scaled
      //    threshold (a HEALTHY key's probe population is ~(1+k)·
      //    subcell — one contribution per neighbor — so the flat line
      //    would salt most keys of a well-split corpus and double
      //    their candidate volume for no straggler benefit), OR
      //  - its exact population exceeds the flat threshold (a blast
      //    whose neighbor keys are EMPTY has probe ≈ exact population,
      //    which can sit under the scaled line while still being a
      //    single n² task — the capped branch's own rule, kept).
      // The scaled predicate is applied BEFORE the collect (broadcast
      // threshold join), so the driver only ever sees true floods —
      // healthy keys at scale would otherwise all pass the flat line.
      val oversized: Array[(Seq[Any], Long)] =
        if (!canFlood) Array.empty
        else {
          val kOf = splitDepths(sizes, targetCell, maxExtraBits)
          val thr = broadcast(kOf.toSeq
              .map { case (cid, k) => (cid, saltAbove * (1 + k)) }
              .toDF("centroid", "__thr"))
          val probeOver = probes.groupBy("centroid", "skey")
            .agg(count(lit(1)).as("n"))
            .join(thr, Seq("centroid")).where(col("n") > col("__thr"))
            .collect()
            .map(r => (Seq[Any](r.getInt(0), r.getLong(1)), r.getLong(2)))
          val exactOver = sub.groupBy("centroid", "subcell")
            .agg(count(lit(1)).as("n")).where(col("n") > saltAbove)
            .collect()
            .map(r => (Seq[Any](r.getInt(0), r.getLong(1)), r.getLong(2)))
          // union by key — a key flooded both ways salts on the larger
          // (probe-side) population. Hash-set membership, not a linear
          // scan per element: both arrays are budget-capped at 100k keys
          // and an O(P·E) filterNot would be ~10^10 Seq-equality
          // comparisons at exactly the flood shapes the guard exists
          // for. A key flooded ONLY by the exact rule still receives up
          // to (1+k)× its exact population on the probe side (flip 0
          // replicates every exact row, plus one contribution per
          // populated neighbor), so its salt count is sized from the
          // (1+k)-scaled population — mild over-salting when the
          // neighbors are empty (probe ≈ exact), which only shrinks the
          // groups; under-sizing would leave the probe-side groups
          // proportionally oversized.
          val probeKeys: Set[Seq[Any]] = probeOver.iterator.map(_._1).toSet
          (probeOver ++ exactOver.collect {
            case (k, n) if !probeKeys.contains(k) =>
              (k, n * (1 + kOf.getOrElse(k.head.asInstanceOf[Int], 0)))
          }).toArray
        }
      val salt = saltTables(session,
        Seq("centroid" -> org.apache.spark.sql.types.IntegerType,
          "skey" -> org.apache.spark.sql.types.LongType),
        oversized, targetCell, sizes.map(_._2).sum)
      inCellPairsBetween(probes, exact, Seq("centroid", "skey"), threshold, salt)
    }
  }

  /** Salt count for a flooded key of size n: enough groups to bring the
    * per-group population near targetCell, capped at 64 (s² join keys).
    * private[graft] for the spec. */
  private[graft] def saltCount(n: Long, targetCell: Int): Int =
    math.min(64L, (n + targetCell - 1) / math.max(targetCell, 1)).toInt

  /** The (salt, gi, gj) membership rows for salt count s: salt r belongs
    * to the s groups {(min(r,t), max(r,t)) : t < s}. */
  private def saltGroupRows(s: Int): Seq[(Int, Int, Int)] =
    for { r <- 0 until s; t <- 0 until s }
      yield (r, math.min(r, t), math.max(r, t))

  /** The ONE construction site for [[inCellPairsBetween]]'s salt tables
    * (flooded keys of any arity — (centroid) for the uncapped branch,
    * (centroid, subcell/skey) for the capped/probed ones), so the
    * salting scheme cannot drift between call sites. `flooded`: the
    * key's column values and its population. Driver budgets enforced
    * here for every caller. */
  private def saltTables(session: org.apache.spark.sql.SparkSession,
                         keyCols: Seq[(String, org.apache.spark.sql.types.DataType)],
                         flooded: Seq[(Seq[Any], Long)],
                         targetCell: Int,
                         corpusRows: Long = 0L): Option[(DataFrame, DataFrame)] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    if (flooded.isEmpty) None
    else {
      require(flooded.length <= 100000,
        s"salt guard: ${flooded.length} flooded keys exceeds the driver " +
          "budget — raise targetCell")
      val countsFull = flooded.map { case (k, n) => (k, saltCount(n, targetCell)) }
      // flood-MAJORITY guard: the salt is built for isolated point
      // masses — a residual blast here and there, replicated s-fold onto
      // a triangle of tasks at negligible total cost. When most of the
      // corpus sits in flooded keys the quantizer itself is failing to
      // split (measured r16 at 2.4M vectors under UNTRAINED md5
      // centroids: 93% of rows flooded, max subcell 197k — and the s=64
      // replication meant ~230 GB of shuffle, which FILLED THE DISK and
      // killed the job the guard exists to protect). So the replication
      // estimate is now a BUDGET, not telemetry: past floodBudgetMult ×
      // corpus replicated rows, per-key salt factors are clamped —
      // water-filled so the largest keys get the most groups, see
      // [[clampSaltCounts]] — so the shuffle stays
      // inside the budget and the job degrades to the unsalted
      // stragglers it would have had anyway instead of dying on disk
      // (output identical either way; no salting scheme can spread an
      // n² loop over T tasks with less than ~√T-fold replication, so
      // above the budget stragglers are inherent — the warn names the
      // actual fix, a quantizer that matches the corpus). Opt-outs for
      // pipelines that prefer other behavior: -Dgraft.semdedup.flood=
      // fail (clean error naming the fix) or =warn (r16's proceed-
      // unclamped behavior, for A/B measurement of the clamp itself).
      val replRows = flooded.zip(countsFull).foldLeft(0L) {
        case (acc, ((_, n), (_, s))) => acc + n * s
      }
      val budget = (floodBudgetMult * corpusRows).toLong
      val overBudget = corpusRows > 0 && replRows > budget
      val counts =
        if (!overBudget) countsFull
        else {
          val detail = s"salt guard: ${flooded.length} flooded keys hold " +
            s"${flooded.map(_._2).sum} rows of a $corpusRows-row corpus; " +
            s"unclamped salting would shuffle ~$replRows replicated rows " +
            f"(${replRows.toDouble / corpusRows}%.1fx the corpus, budget " +
            f"${floodBudgetMult}%.1fx). The quantizer is not splitting " +
            "this corpus — train centroids on it (IvfIndex.train) and " +
            "size nlist to the corpus; raising targetCell only hides " +
            "the imbalance."
          sys.props.getOrElse("graft.semdedup.flood", "clamp") match {
            case "fail" => throw new IllegalStateException(
              detail + " (-Dgraft.semdedup.flood=fail requested a clean " +
                "error instead of a clamped run)")
            case "warn" =>
              log.warn(detail + " Proceeding UNCLAMPED " +
                "(-Dgraft.semdedup.flood=warn). Output is unaffected.")
              countsFull
            case _ =>
              log.warn(detail + " Clamping per-key salt factors to the " +
                "replication budget (water-filled: largest keys get the " +
                "most groups); keys the budget cannot spread run " +
                "unsalted. Output is unaffected.")
              clampSaltCounts(flooded, targetCell, budget)
          }
        }
      // a clamped-to-1 key is identity salting — drop it from the tables
      // so its rows take the plain-join path instead of paying the
      // broadcast joins for nothing (unclamped counts are always ≥ 5:
      // n > 4·targetCell ⇒ saltCount ≥ 5)
      val active = counts.filter(_._2 >= 2)
      if (active.isEmpty) None
      else {
        // budget-check the expand size ARITHMETICALLY before materializing:
        // with 100k admitted keys at s=64 the row Seq would reach ~4e8 Row
        // objects and OOM the driver before a post-hoc require could fire
        val expandSize = active.foldLeft(0L) { case (acc, (_, s)) => acc + s.toLong * s }
        require(expandSize <= 2000000,
          s"salt guard: expand table $expandSize rows exceeds the " +
            "driver budget — raise targetCell")
        val expandRows = active.flatMap { case (k, s) =>
          saltGroupRows(s).map { case (r, gi, gj) => Row.fromSeq(k ++ Seq(r, gi, gj)) }
        }
        val keyFields = keyCols.map { case (n0, t) => StructField(n0, t) }
        import scala.jdk.CollectionConverters._
        val sCounts = session.createDataFrame(
          active.map { case (k, s) => Row.fromSeq(k :+ s) }.asJava,
          StructType(keyFields :+ StructField("__s", IntegerType)))
        val expand = session.createDataFrame(expandRows.asJava,
          StructType(keyFields ++ Seq(StructField("__salt", IntegerType),
            StructField("__gi", IntegerType), StructField("__gj", IntegerType))))
        Some((sCounts, expand))
      }
    }
  }

  /** Replication-budget multiplier for the flood-majority clamp
    * (budget = multiplier × corpus rows). The 3× line is the r16-measured
    * boundary between "isolated point masses" (well under it) and
    * "quantizer failing to split" (30×+ over it). */
  private val floodBudgetMult: Double = 3.0

  /** Clamp per-key salt factors so total replicated rows Σ n·s stay
    * inside `budgetRows`, by WATER-FILLING: find the smallest per-group
    * population target T ≥ targetCell whose replication fits the budget
    * (binary search — Σ n·ceil(n/T) over keys still getting ≥ 2 groups
    * is non-increasing in T), then give every key s = min(its full
    * [[saltCount]], ceil(n/T)). The largest keys — the biggest
    * single-task stragglers — therefore get the most groups, and the
    * worst post-clamp task is minimized for the budget (a greedy
    * worst-key-first spend would hand the entire budget to key #1 and
    * leave a nearly-as-large key #2 fully unsalted — a strictly worse
    * maximum). A key the budget cannot give even 2 groups runs unsalted
    * (s = 1), exactly the straggler it would have been with no guard at
    * all. T is a pure function of the population multiset, so the plan
    * is deterministic across collect orders. private[graft] for the
    * spec. */
  private[graft] def clampSaltCounts(flooded: Seq[(Seq[Any], Long)],
                                     targetCell: Int,
                                     budgetRows: Long): Seq[(Seq[Any], Int)] = {
    def sOf(n: Long, t: Long): Int =
      math.min(saltCount(n, targetCell).toLong, (n + t - 1) / t).toInt
    def repl(t: Long): Long = flooded.foldLeft(0L) { case (acc, (_, n)) =>
      val s = sOf(n, t); if (s >= 2) acc + n * s else acc
    }
    var lo = math.max(targetCell.toLong, 1L)
    var hi = math.max(flooded.map(_._2).max, lo) // repl(hi) = 0: always feasible
    if (repl(lo) <= budgetRows) hi = lo
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      if (repl(mid) <= budgetRows) hi = mid else lo = mid + 1
    }
    flooded.map { case (k, n) => (k, math.max(sOf(n, hi), 1)) }
  }

  /** Per-cell split depth: the smallest k with (|cell| >> k) ≤
    * targetCell, capped at maxExtraBits — THE depth rule (integer
    * shifts, mirrored by the oracles). */
  private def splitDepths(sizes: Array[(Int, Long)], targetCell: Int,
                          maxExtraBits: Int): Map[Int, Int] =
    sizes.map { case (cid, n) =>
      var k = 0
      while (k < maxExtraBits && (n >> k) > targetCell) k += 1
      cid -> k
    }.toMap

  /** The assigned frame with its per-cell split depth applied: mask and
    * flip columns broadcast-joined from the O(nlist) depth table, the
    * (centroid, subcell) join key the capped pair pass runs under.
    * Shared by [[cappedPairsFromAssigned]] and the scale checker's
    * bounded-subcell invariant ([[cappedSubcellKeys]]), so the checker
    * measures the ACTUAL keyed population, not a re-derivation. */
  private def subcellFrame(assigned: DataFrame, sizes: Array[(Int, Long)],
                           targetCell: Int, maxExtraBits: Int,
                           probeSplitBits: Int): DataFrame = {
    val kOf: Map[Int, Int] = splitDepths(sizes, targetCell, maxExtraBits)
    val session = assigned.sparkSession
    import session.implicits._
    val masks = broadcast(kOf.toSeq
      .map { case (cid, k) =>
        val flips = 0L +: (0 until (k * probeSplitBits)).map(1L << _)
        (cid, (1L << k) - 1, flips)
      }.toDF("centroid", "mask", "flips"))
    assigned.join(masks, Seq("centroid"))
      .withColumn("subcell", col("bits").bitwiseAND(col("mask")))
  }

  /** The (centroid, subcell) key of every row under the capped route —
    * for the scale checker: the per-key population is exactly the
    * capped plan's per-join-key pair-loop input, so max/Σ² over these
    * keys is the operator's true candidate-volume exposure. */
  private[graft] def cappedSubcellKeys(df: DataFrame, idCol: String,
                                       vecCol: String,
                                       centroids: Array[(Int, Array[Double])],
                                       targetCell: Int = 1000,
                                       maxExtraBits: Int = 8): DataFrame = {
    val assigned = assignedWithBits(df, idCol, vecCol, centroids, maxExtraBits)
    subcellFrame(assigned, cellSizes(assigned), targetCell, maxExtraBits, 0)
      .select("id", "centroid", "subcell")
  }

  /** Cell-size table of an assigned frame — O(nlist) rows, the same
    * driver-bounded size class as the centroid table itself. Doubles as
    * the family's routing telemetry: Σ n² over these rows is the
    * uncapped form's candidate-pair volume. */
  private def cellSizes(assigned: DataFrame): Array[(Int, Long)] =
    assigned.groupBy("centroid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))

  /** [[semanticNearDupPairs]] with CAPPED cells — the 100 TB form.
    * Quantizer cells cannot subdivide a corpus's natural clusters:
    * measured at 200k clustered vectors, the 64-cell assignment carries
    * Σ|cell|² = 3.4e8 candidate pairs with a 6.6k-vector max cell
    * (AnnScaleCheck V5), and that exposure grows quadratically with
    * cluster size. This variant applies the text path's flooded-bucket
    * discipline (Dedup.refineBuckets) to vectors: any cell larger than
    * `targetCell` is subdivided by the low k sign bits of an independent
    * hyperplane family ("cellplane") CENTERED on the cell's centroid
    * (see [[assignedWithBits]] — planes through the origin measurably do
    * not bisect off-origin clusters), k chosen per cell as the smallest
    * count with (|cell| >> k) ≤ targetCell (pure integer shifts — no
    * float-log boundary ambiguity, and the identical rule is
    * expressible in the external SQL oracle), capped at `maxExtraBits`.
    *
    * Recall semantics: a pair survives iff its members agree on the
    * cell AND on the k centered sign bits. A centered plane separates a
    * near-dup pair (a, b) with probability ∝ the angle between (a −
    * centroid) and (b − centroid) — small for high-threshold pairs
    * whose separation is tiny against the within-cell spread, but not
    * zero (unlike origin planes, whose within-cell split probability
    * was near zero precisely because they don't split cells at all):
    * planted 0.999+-cosine dups measure recall 0.987 at 200k vectors
    * (AnnScaleCheck V3b; −0.5pp vs origin planes, re-verified per
    * round at each corpus size). `probeSplitBits = 1` buys most of that
    * loss back — pairs split by exactly one plane are recovered via
    * subcell multi-probe (see [[cappedPairsFromAssigned]]) at a
    * (1 + depth)-fold probe-side cost. The cap is the price
    * of bounded work: use the uncapped form when the threshold is low
    * and the corpus is bounded; this form when cells are cluster-sized.
    * Like refineBuckets, a sub-cluster tighter than the bit resolution
    * stays big (exact-dup point masses never split) — such pairs are
    * still emitted; the cap bounds EXPECTED work, not the adversarial
    * worst case. */
  def semanticNearDupPairsCapped(df: DataFrame, idCol: String, vecCol: String,
                                 centroids: Array[(Int, Array[Double])],
                                 threshold: Double, targetCell: Int = 1000,
                                 maxExtraBits: Int = 8,
                                 probeSplitBits: Int = 0): DataFrame = {
    val assigned = assignedWithBits(df, idCol, vecCol, centroids, maxExtraBits)
    cappedPairsFromAssigned(assigned, cellSizes(assigned),
      threshold, targetCell, maxExtraBits, probeSplitBits)
  }

  /** Auto-routed SemDeDup — the entry point callers should use (the
    * d2→d2b / d4c / x9c pattern applied to vectors). The quantizer
    * assignment runs once and is checkpointed; its O(nlist) cell-size
    * table is BOTH the routing signal and (when the capped branch fires)
    * the split-depth input, so routing costs nothing beyond what the
    * capped form already paid:
    *
    *  - Σ|cell|² ≤ cellPairBudget → the uncapped in-cell pass
    *    ([[semanticNearDupPairs]] semantics — exact within cells, the
    *    lossless-within-cell form), straight off the checkpointed frame.
    *    Cells above 4·targetCell are spread over salt-group triangles
    *    (output unchanged — the budget bounds total candidate volume,
    *    the salting bounds any ONE task's share of it; the routing
    *    sizes are already on the driver, so this costs zero extra jobs).
    *  - above the budget → the capped form: the quadratic term is
    *    unbounded on natural clusters (Σ|cell|² grew 9× for 3× corpus,
    *    AnnScaleCheck V5 200k→600k) and the capped plan is the only one
    *    whose cost tracks corpus size.
    *
    * With the cell-CENTERED split planes the capped arm is also the
    * faster arm at every measured size (BENCH_NOTES r14, trained
    * nlist=64, t=0.99: 15.4 vs 32.9 s at 200k, 42.8 vs 227.3 s at 600k,
    * measured exponent ≈0.93 vs ≈1.7), so the budget no longer marks a
    * wall-clock crossover — it prices LOSSLESSNESS: below it the
    * uncapped pass is exact within cells at bounded cost (≤ budget
    * candidate pairs, ~30 s at 1e9 on 32 cores) and keeps the ~1%
    * of within-cell pairs the split bits drop (11550 vs 11399 at 600k);
    * above it that exactness would cost unboundedly more than the
    * capped arm, and the capped recall (0.987 planted, AnnScaleCheck
    * V3b) is the honest trade. Raise the budget to buy exactness on
    * wider clusters — the uncapped arm parallelizes perfectly. A middle
    * rung exists above the budget: `probeSplitBits = 1` runs the capped
    * arm with Hamming-≤1 subcell multi-probe, recovering essentially the
    * whole uncapped pair set (3805/3805, 11550/11550, 23235/23237 at
    * 200k/600k/1.2M) at ~2–3× the capped arm and 3–4× below uncapped
    * (BENCH_NOTES r14: 22.8/74.9/185.3 s vs capped 16.4/37.4/61.3 vs
    * uncapped 29.0/223.0/746.6).
    *
    * Cost note: the uncapped route pays the (unused) cellplane-bits
    * projection inside the shared map pass — maxExtraBits·dim multiplies
    * per row against the assignment's nlist·dim, ~12% at the default
    * shape — the price of ONE checkpointed artifact serving both
    * branches instead of a re-scan per branch.
    *
    * The above-budget DEFAULT is the probed rung (probeSplitBits = 1):
    * the measured frontier at 200k/600k/1.2M says the probe's 2–3×
    * premium over the bare capped arm buys back essentially the whole
    * uncapped pair set (23,235/23,237 at 1.2M) while staying 3–4× below
    * uncapped cost — the right recall/cost point for a caller who did
    * not pick a rung. Pass probeSplitBits = 0 to opt down to the bare
    * capped arm (0.977–0.987 planted recall) when throughput matters
    * more than the last ~1% of pairs. */
  def semanticNearDupPairsAuto(df: DataFrame, idCol: String, vecCol: String,
                               centroids: Array[(Int, Array[Double])],
                               threshold: Double, targetCell: Int = 1000,
                               maxExtraBits: Int = 8,
                               cellPairBudget: Long = 1000000000L,
                               probeSplitBits: Int = 1): DataFrame = {
    val assigned = assignedWithBits(df, idCol, vecCol, centroids, maxExtraBits)
    val sizes = cellSizes(assigned)
    // the same predicate the spec pins — not a re-implementation that
    // could drift from the tested route
    val route = semanticRoute(sizes, cellPairBudget)
    log.info(s"semanticNearDupPairsAuto route=$route " +
      s"cells=${sizes.length} " +
      s"cellPairVolume=${cellPairVolume(sizes)} " +
      s"budget=$cellPairBudget probeSplitBits=$probeSplitBits")
    if (route == "uncapped") {
      // the budget bounds the branch's TOTAL candidate volume, not any
      // single task's: one flooded cell can hold most of the budget on
      // one join key (30k rows in a cell = 4.5e8 candidates on ONE task
      // while the rest of the cluster idles). The routing sizes are
      // already on the driver, so the same salt-group triangle the
      // capped path uses for point masses spreads any cell above
      // 4·targetCell — zero extra jobs, output unchanged (the oracles
      // and the spec's equality-to-standalone-form both still hold).
      val saltAbove = 4L * math.max(targetCell, 1)
      val saltEnabled = !sys.props.get("graft.semdedup.salt").contains("off")
      val over: Seq[(Seq[Any], Long)] =
        if (saltEnabled)
          sizes.collect { case (cid, n) if n > saltAbove => (Seq[Any](cid), n) }.toSeq
        else Seq.empty
      val salt = saltTables(df.sparkSession,
        Seq("centroid" -> org.apache.spark.sql.types.IntegerType),
        over, targetCell, sizes.map(_._2).sum)
      inCellPairsBetween(assigned, assigned, Seq("centroid"), threshold, salt)
    } else
      cappedPairsFromAssigned(assigned, sizes, threshold, targetCell,
        maxExtraBits, probeSplitBits)
  }

  /** Embedding-cosine near-dup pairs AT SCALE — the d7 family's entry
    * point, subsuming [[cosineNearDupLshPairs]] (d7b): same output shape
    * (id_a, id_b, cos), candidates from the SemDeDup machinery instead
    * of global origin-plane buckets. d7b's hyperplanes pass through the
    * origin, so they cannot split a natural cluster and its buckets
    * track cluster size (AnnScaleCheck V5: max bucket 4.8k→27.9k at
    * 200k→1.2M vectors, Σ|bucket|² 3.2e9 — quadratic, unbounded at
    * 100 TB on clustered corpora). This route quantizes to `centroids`
    * (train with [[IvfIndex.train]], nlist ∝ corpus), splits flooded
    * cells with CELL-CENTERED planes that measurably bisect (BENCH_NOTES r14:
    * 13.6–26× candidate-volume cut vs 1.6× for origin planes), defaults
    * to the Hamming-≤1 probed rung above the budget, and salts residual
    * point-mass subcells — every rung of [[semanticNearDupPairsAuto]],
    * minus the centroid column d7's contract doesn't carry.
    *
    * Differs from d7b in WHICH near-threshold pairs the candidate step
    * admits (cell/subcell agreement vs bucket/probe agreement) — both
    * are recall<1 candidate generators verified by exact cosine; this
    * one's work is bounded per subcell at any corpus size. */
  def cosineNearDupPairsAuto(df: DataFrame, idCol: String, vecCol: String,
                             centroids: Array[(Int, Array[Double])],
                             threshold: Double, targetCell: Int = 1000,
                             maxExtraBits: Int = 8,
                             cellPairBudget: Long = 1000000000L,
                             probeSplitBits: Int = 1): DataFrame =
    semanticNearDupPairsAuto(df, idCol, vecCol, centroids, threshold,
      targetCell, maxExtraBits, cellPairBudget, probeSplitBits)
      .select("id_a", "id_b", "cos")

  /** Σ n² over a cell-size table, SATURATED at Long.MaxValue: a single
    * cell above ~3.04e9 rows overflows n*n, and an overflowed (negative
    * or wrapped) volume would silently pass the ≤ budget test and route
    * the one corpus that most needs the capped plan to the uncapped one.
    * Saturation routes overflow to "capped", always. */
  private[graft] def cellPairVolume(sizes: Array[(Int, Long)]): Long =
    sizes.foldLeft(0L) { case (acc, (_, n)) =>
      if (acc == Long.MaxValue) Long.MaxValue
      else {
        val sq =
          try Math.multiplyExact(n, n)
          catch { case _: ArithmeticException => Long.MaxValue }
        try Math.addExact(acc, sq)
        catch { case _: ArithmeticException => Long.MaxValue }
      }
    }

  /** The route [[semanticNearDupPairsAuto]] takes for a given cell-size
    * table — exposed for tests and telemetry. */
  private[graft] def semanticRoute(sizes: Array[(Int, Long)],
                                   cellPairBudget: Long = 1000000000L): String =
    if (cellPairVolume(sizes) <= cellPairBudget) "uncapped"
    else "capped"

  /** IVF (inverted-file) ANN index: a coarse quantizer of `nlist`
    * centroids trained with a few Lloyd iterations (deterministic seeding:
    * the first `nlist` vectors by id), then each vector is assigned to its
    * nearest centroid's list. Queries probe the `nprobe` nearest lists
    * only — the classic trade of recall for a 1/nlist scan fraction.
    * Training and assignment are DataFrame programs: one broadcast of the
    * (tiny) centroid table per iteration, no shuffle of the corpus. */
  object IvfIndex {
    /** Train centroids: deterministic init + `iters` Lloyd steps. */
    def train(corpus: DataFrame, idCol: String, vecCol: String,
              nlist: Int, iters: Int = 2): Array[(Int, Array[Double])] = {
      val spark = corpus.sparkSession
      var centroids: Array[(Int, Array[Double])] = corpus
        .orderBy(col(idCol)).limit(nlist)
        .select(col(vecCol)).collect()
        .zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Float](0).map(_.toDouble).toArray }
      for (_ <- 0 until iters) {
        val assigned = assign(corpus, vecCol, centroids)
        // Per-dimension sums in DECIMAL, not double: double addition is
        // non-associative, so a double sum's low bits depend on partition
        // count/order and trained centroids would differ run-to-run on
        // the same data. Decimal addition is exact at fixed scale →
        // centroids are a pure function of the data regardless of
        // partitioning (property-tested in DedupSimilaritySpec).
        // decimal(38,18) headroom: |component| ≤ ~1e3, n ≤ 1e16 rows.
        val sums = assigned
          .select(col("centroid"), asDouble(col(vecCol)).as("v"))
          .groupBy("centroid")
          .agg(count(lit(1)).as("n"),
            array((0 until centroids.head._2.length).map(d =>
              sum(element_at(col("v"), d + 1).cast("decimal(38,18)"))): _*)
              .as("vecsum"))
          .collect()
        centroids = sums.map { r =>
          val n = r.getLong(1).toDouble
          r.getInt(0) -> r.getSeq[java.math.BigDecimal](2)
            .map(_.doubleValue / n).toArray
        }.sortBy(_._1)
      }
      centroids
    }

    /** Nearest-centroid assignment: the compiled
      * [[graft.functions.NearestCentroid]] loop — the whole centroid
      * table as ONE referenced object, one JIT-compiled method per row.
      * The original formulation (`least(struct(-cos, cid) …)` over
      * nlist literal-array branches, kept as [[assignLiteral]] — the
      * reference implementation the spec pins this form
      * against) produces the IDENTICAL assignment (same sequential-fold
      * doubles, same tie rule; 0 disagreements over 600k real vectors
      * at nlist 64 and 256) but is the wrong plan in both directions:
      * at catalog nlist its branch-per-centroid expression tree is
      * 2–3× slower (measured 22.5 vs 7.2 s at nlist=64, 43.2 vs 26.2 s
      * at 256, 600k vectors — BENCH_NOTES r16), and past a few hundred
      * centroids the tree breaks analysis cost, codegen size (JIT
      * fallback) and task-binary size outright, while nlist must GROW
      * with the corpus (cells ∝ corpus/targetCell). The compiled form
      * runs nlist=1024 in 42.7 s at the same corpus. Past the
      * reference-object envelope (tables over
      * [[graft.functions.CentroidRouting.bcastDoubles]] doubles) the
      * same loop runs with the table behind a TorrentBroadcast
      * ([[graft.functions.NearestCentroidBcast]]) so task binaries stay
      * fixed-size while nlist grows — `auto` routes on table size. */
    def assign(df: DataFrame, vecCol: String,
               centroids: Array[(Int, Array[Double])]): DataFrame =
      df.withColumn("centroid",
        graft.functions.NearestCentroid.auto(col(vecCol), centroids,
          df.sparkSession))

    /** The literal-expression reference form of [[assign]] (see there). */
    private[graft] def assignLiteral(df: DataFrame, vecCol: String,
                                     centroids: Array[(Int, Array[Double])]): DataFrame = {
      val best = centroids.map { case (cid, cvec) =>
        struct((-cosine(col(vecCol),
          array(cvec.map(lit): _*))).as("negcos"), lit(cid).as("cid"))
      }
      df.withColumn("centroid", least(best: _*).getField("cid"))
    }

    /** Query: probe the nprobe nearest centroid lists, exact cosine + rank
      * within the probed fraction of the corpus. */
    def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, centroids: Array[(Int, Array[Double])],
             nprobe: Int): DataFrame = {
      val assigned = assign(corpus, vecCol, centroids)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("centroid"))
      // probe list via the compiled TopCentroids loop — identical probe
      // ids in identical order to the literal
      // slice(sort_array(array(struct(-cos, cid)…)), 1, nprobe)
      // formulation ([[probeListLiteral]], the spec's reference form),
      // without the nlist-branch expression tree that breaks down as
      // nlist grows with the corpus
      val q = broadcast(queries
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          graft.functions.TopCentroids.auto(col(vecCol), centroids, nprobe,
            queries.sparkSession).as("pr"))
        .withColumn("centroid", explode(col("pr")))
        .drop("pr"))
      // each corpus vector is assigned to exactly ONE centroid and the
      // query probes nprobe DISTINCT centroids, so a (query, neighbor)
      // pair can match at most once — no dedup pass (and its shuffle)
      // is needed between scoring and ranking
      val scored = q.join(assigned, Seq("centroid"))
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
      val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
      scored.select("query_id", "neighbor_id", "cos")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
    }

    /** The literal-expression reference form of [[topK]]'s probe list
      * (sort_array over nlist struct branches, sliced to nprobe) — kept
      * so the spec can pin the compiled [[graft.functions.TopCentroids]]
      * order against it at fixture nlist. */
    private[graft] def probeListLiteral(queries: DataFrame, idCol: String,
                                        vecCol: String,
                                        centroids: Array[(Int, Array[Double])],
                                        nprobe: Int): DataFrame = {
      val probes = centroids.map { case (cid, cvec) =>
        struct((-cosine(col(vecCol), array(cvec.map(lit): _*))).as("negcos"),
          lit(cid).as("cid"))
      }
      queries.select(col(idCol).as("query_id"),
        slice(sort_array(array(probes: _*)), 1, nprobe).getField("cid").as("pr"))
    }
  }

  /** Probe masks: the exact bucket plus every ≤probeBits-bit flip. */
  private[operators] def probeMasks(numPlanes: Int, probeBits: Int): Seq[Long] = {
    val singles = if (probeBits >= 1) (0 until numPlanes).map(1L << _) else Seq.empty
    val doubles = if (probeBits >= 2)
      for { i <- 0 until numPlanes; j <- i + 1 until numPlanes } yield (1L << i) | (1L << j)
    else Seq.empty
    0L +: (singles ++ doubles)
  }

  /** ANN top-k: both sides bucketed map-side by hyperplane signs; join on
    * the bucket (and its Hamming-≤probeBits probes from the query side),
    * then exact cosine + rank within the candidates. Misses only neighbors
    * landing in non-probed buckets — recall tunable via numPlanes /
    * probeBits. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int, dim: Int,
              probeBits: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), numPlanes, dim).as("bucket"))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        lshBucket(col(vecCol), numPlanes, dim).as("qbucket"))
      .withColumn("bucket", explode(array(
        probeMasks(numPlanes, probeBits).map(m => col("qbucket").bitwiseXOR(lit(m))): _*)))
      .drop("qbucket"))
    // probe buckets are pairwise-distinct values and each corpus vector
    // carries exactly one bucket, so a (query, neighbor) pair matches at
    // most one probe — scoring emits no duplicates and ranking needs no
    // dedup pass (one Exchange between scoring and ranking, not two)
    val scored = q.join(c, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored.select("query_id", "neighbor_id", "cos")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
