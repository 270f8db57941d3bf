package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Invariant-based verification of the heavy dedup/curation family at
  * scale factors where the DuckDB oracle cannot run (x22b already timed
  * out at 900 s on sf1; sf10 is out of reach entirely). ScaleGen's
  * documents table is a pure function of doc_id, so this checker
  * REGENERATES the corpus and its planted dup structure in-process and
  * audits the engine's query outputs against it — an oracle independent
  * of the parquet under test and of the engine's hash/fingerprint path.
  *
  * Checks (hard assertions unless noted):
  *  - C0 input integrity: row count and global xxhash64 text checksum of
  *    the parquet equal the replayed corpus (proves the dir under test
  *    IS ScaleGen output, so the planted structure is known).
  *  - C1 exact dedup (d1): survivor count == distinct replayed texts,
  *    computed by a plain distinct on regenerated strings — no md5
  *    fingerprint, no window, different shuffle key than the engine.
  *  - C2 pair soundness (d2): every reported (id_a, id_b, jaccard)
  *    equals the true word-bigram jaccard recomputed from replayed texts
  *    via string shingles + array_intersect — the DuckDB oracle's
  *    formulation, not the engine's sorted int-hash merge.
  *  - C3 planted recall, asserted ≥ 0.95 on the ADAPTIVE d2b (bucket
  *    refinement — identical text ⇒ identical signature ⇒ co-bucketed at
  *    every refinement depth, so exact recall is corpus-size-invariant)
  *    AND on the auto-routed catalog d2 (which must have picked
  *    refinement at any corpus size this checker runs at); REPORTED for
  *    an explicitly-constructed refineRows=0 capped arm, whose recall
  *    decays by design once linear bucket occupancy outgrows the fixed
  *    cap (0.71 at sf10 — the r8 measurement that made refinement the
  *    default). Near-dup (one-token-swap) recall reported for all arms.
  *  - C4 cluster consistency (d8): every d2 pair is same-cluster, no
  *    cluster label exceeds its member id (min-label semantics), and the
  *    labeling covers every document exactly once.
  *  - C5 manifest (d10): one survivor per d8 cluster and absorbed
  *    counts summing to the corpus size.
  *  - C6 lossless prefix filter (d4b/d4c at t=0.8): reported jaccard
  *    can only UNDERSTATE the true replayed jaccard (df-capped
  *    intersection ≤ true intersection), never exceed it.
  *
  * Prints one JSON line per check plus a final summary; exits nonzero on
  * any hard failure.
  *
  * Vocabulary: set SPARK_GRAFT_DOC_VOCAB=wide when the dir under test was
  * generated with ScaleGen's 50k-word discriminative vocabulary — the C0
  * replay and the planted-pair regeneration must draw from the same token
  * source as the corpus, or C0 fails with a checksum mismatch that looks
  * like data corruption (r12 ADVICE). The wide run exercises the SAME
  * C0–C8 invariants on the other bucket-occupancy regime: discriminative
  * n-grams spread band buckets thin where the 31-word corpus floods them,
  * which is exactly the regime split the cap/refinement trade depends on
  * (the r12 verdict's C9 ask).
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    System.setProperty("graft.cacheTables", "true")
    val spark = SparkEntry.session()
    import spark.implicits._

    // the corpus' vocabulary mode — must match how the dir was generated
    val wide = sys.env.get("SPARK_GRAFT_DOC_VOCAB").contains("wide")
    val vocab = if (wide) "wide" else "flooded"

    val failures = scala.collection.mutable.ListBuffer.empty[String]
    def check(name: String, ok: Boolean, detail: String): Unit = {
      println(s"""{"check":"$name","pass":$ok,"vocab":"$vocab","detail":"$detail"}""")
      if (!ok) failures += name
    }

    val actual = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = actual.count()
    val regen = spark.range(0, nDocs, 1, 64).map(id => ScaleGen.docRow(id, wide))
      .toDF("doc_id", "text", "lang", "source", "n_chars").cache()

    // C0 — the corpus under test is exactly the replayed corpus
    // (bit_xor: order-independent and immune to ANSI long overflow)
    def checksum(df: DataFrame): Long =
      df.agg(expr("bit_xor(xxhash64(doc_id, text))")).head().getLong(0)
    val ckActual = checksum(actual)
    val ckRegen = checksum(regen)
    check("C0_input_integrity", ckActual == ckRegen && regen.count() == nDocs,
      s"n=$nDocs checksum actual=$ckActual regen=$ckRegen")

    // replayed truth used by several checks: word-bigram shingle sets via
    // plain string ops (the oracle formulation, independent of the
    // engine's native expressions)
    def shingles(t: Column): Column = {
      val toks = split(t, " ")
      array_distinct(transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
    }
    val sets = regen.select(col("doc_id"), shingles(col("text")).as("gr"))

    def trueJaccard(pairs: DataFrame): DataFrame = pairs
      .join(sets.select(col("doc_id").as("id_a"), col("gr").as("gr_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("gr").as("gr_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("gr_a"), col("gr_b"))))
      .withColumn("true_j", round(col("inter").cast("double") /
        (size(col("gr_a")) + size(col("gr_b")) - col("inter")), 4))

    // planted adjacent pairs, split by whether the texts are truly equal
    // (a kind-2 swap can draw the original token and degenerate to exact)
    val adjacent = regen.select(col("doc_id").as("id_b"), col("text").as("t_b"))
      .join(regen.select((col("doc_id") + 1).as("id_b"), col("doc_id").as("id_a"),
        col("text").as("t_a")), "id_b")
    val plantedKinds = spark.range(0, nDocs, 1, 64)
      .map(id => (id.toLong, ScaleGen.docKind(id))).toDF("id_b", "kind")
      .where(col("kind") > 0)
    val planted = adjacent.join(plantedKinds, "id_b")
      .withColumn("is_exact", col("t_a") === col("t_b"))
      .select("id_a", "id_b", "is_exact").cache()
    val nPlantedExact = planted.where(col("is_exact")).count()
    val nPlantedNear = planted.where(!col("is_exact")).count()

    def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

    // C1 — exact dedup survivor count vs distinct replayed texts
    val d1Rows = run("d1_dedup_exact").count()
    val distinctTexts = regen.select("text").distinct().count()
    check("C1_exact_dedup_count", d1Rows == distinctTexts,
      s"survivors=$d1Rows distinct_texts=$distinctTexts " +
        s"planted_exact=$nPlantedExact planted_near=$nPlantedNear")

    // C2 + C3 — pair soundness and planted recall. Soundness is asserted
    // for BOTH the capped d2 and the adaptive d2b; recall is asserted for
    // d2b (the scale path — refinement splits flooded buckets instead of
    // dropping them, so exact-dup recall holds at any corpus size) and
    // REPORTED for capped d2, whose recall degrades by design once bucket
    // occupancy outgrows the cap (measured 0.71 exact at sf10).
    def recalls(pairs: DataFrame): (Double, Double, Long, Long) = {
      val fe = pairs.join(planted.where(col("is_exact")), Seq("id_a", "id_b")).count()
      val fn = pairs.join(planted.where(!col("is_exact")), Seq("id_a", "id_b")).count()
      (if (nPlantedExact == 0) 1.0 else fe.toDouble / nPlantedExact,
        if (nPlantedNear == 0) 1.0 else fn.toDouble / nPlantedNear, fe, fn)
    }
    // the catalog d2 routes through the AUTO entry (adaptive refinement
    // at this corpus size since r8) — the capped arm of the frontier
    // report must therefore be constructed explicitly with refineRows=0,
    // or "capped recall" would silently measure the adaptive plan twice
    // each arm is EAGERLY local-checkpointed (the verified pair set is
    // tiny) and its upstream shuffles GC-nudged before the next arm
    // computes: with lazy caches all three adaptive-scale arms' shuffle
    // files were alive at once, and on this environment's ~78 GB free
    // disk that is a no-space death inside C2 (two such deaths r12 —
    // the r11 between-CHECKS reclaim lesson, applied between ARMS)
    var d2 = run("d2_minhash_neardup").localCheckpoint(true)
    System.gc()
    // the capped arm is defined by the SAME shared parameter constant the
    // catalog runs (Queries.D2Params) — if the catalog's d2 definition
    // changes, this frontier report follows it instead of silently
    // measuring a stale configuration (r9 ADVICE)
    val p = graft.Queries.D2Params
    var capped = graft.operators.Dedup.minhashNearDup(
      actual.where(length(graft.functions.TextFunctions.normalizeText(col("text"))) > 0),
      "text", "doc_id", p.bands, p.rowsPerBand, p.threshold, p.shingleN,
      p.maxBucket, refineRows = 0).localCheckpoint(true)
    System.gc()
    var d2b = run("d2b_neardup_adaptive").localCheckpoint(true)
    System.gc()
    val d2n = d2.count()
    val cappedN = capped.count()
    val d2bn = d2b.count()
    val nUnsound = trueJaccard(d2).where(abs(col("jaccard") - col("true_j")) > 1e-9).count()
    val nUnsoundC = trueJaccard(capped).where(abs(col("jaccard") - col("true_j")) > 1e-9).count()
    val nUnsoundB = trueJaccard(d2b).where(abs(col("jaccard") - col("true_j")) > 1e-9).count()
    check("C2_d2_pair_soundness", nUnsound == 0 && nUnsoundB == 0 && nUnsoundC == 0,
      s"d2_pairs=$d2n mismatched=$nUnsound d2b_pairs=$d2bn mismatched_b=$nUnsoundB " +
        s"capped_pairs=$cappedN mismatched_c=$nUnsoundC")
    val (exactRecall, nearRecall, foundExact, foundNear) = recalls(capped)
    val (exactRecallA, nearRecallA, foundExactA, foundNearA) = recalls(d2)
    val (exactRecallB, nearRecallB, foundExactB, foundNearB) = recalls(d2b)
    // the AUTO-routed d2 must inherit the adaptive plan's recall here
    // (it picked refinement at this corpus size) — asserted alongside d2b
    check("C3_d2_planted_recall", exactRecallB >= 0.95 && exactRecallA >= 0.95,
      f"adaptive_exact_recall=$exactRecallB%.4f ($foundExactB/$nPlantedExact) " +
        f"adaptive_near_recall=$nearRecallB%.4f ($foundNearB/$nPlantedNear) " +
        f"auto_exact_recall=$exactRecallA%.4f ($foundExactA/$nPlantedExact) " +
        f"auto_near_recall=$nearRecallA%.4f ($foundNearA/$nPlantedNear) " +
        f"capped_exact_recall=$exactRecall%.4f ($foundExact/$nPlantedExact) " +
        f"capped_near_recall=$nearRecall%.4f ($foundNear/$nPlantedNear)")
    // drop every reference a finished check held: an sf10 run spills
    // ~70 GB across C2-C7 and shuffle files are only deleted once their
    // RDDs are unreachable AND a GC has run (two no-space deaths at C7,
    // r11 — main-scope vals pinned every check's lineage to the end).
    // The explicit gc() makes the ContextCleaner's reclaim prompt
    // instead of waiting on the periodic interval.
    capped.unpersist(); capped = null
    d2b.unpersist(); d2b = null
    System.gc()

    // C4 — d8 clusters agree with d2 pairs
    var d8 = run("d8_neardup_clusters").cache()
    val labels = d8.select(col("doc_id"), col("cluster_id"))
    val splitPairs = d2
      .join(labels.select(col("doc_id").as("id_a"), col("cluster_id").as("c_a")), "id_a")
      .join(labels.select(col("doc_id").as("id_b"), col("cluster_id").as("c_b")), "id_b")
      .where(col("c_a") =!= col("c_b")).count()
    val badLabel = d8.where(col("cluster_id") > col("doc_id")).count()
    val d8n = d8.count()
    val d8dup = d8n - d8.select("doc_id").distinct().count()
    check("C4_d8_cluster_consistency",
      splitPairs == 0 && badLabel == 0 && d8n == nDocs && d8dup == 0,
      s"split_pairs=$splitPairs label_gt_id=$badLabel rows=$d8n dup_rows=$d8dup")
    d2.unpersist(); d2 = null
    System.gc()

    // C5 — d10 manifest
    val d10 = run("d10_dedup_apply").cache()
    val survivors = d10.count()
    val clusters = d8.select("cluster_id").distinct().count()
    val absorbed = d10.agg(sum("n_docs")).head().getLong(0)
    check("C5_d10_manifest", survivors == clusters && absorbed == nDocs,
      s"survivors=$survivors clusters=$clusters absorbed_sum=$absorbed n=$nDocs")
    d8.unpersist(); d8 = null; d10.unpersist()
    System.gc()

    // C6 — prefix-filtered jaccard never overstates the true jaccard
    val d4b = run("d4b_jaccard_prefix")
    val overstated = trueJaccard(d4b).where(col("jaccard") > col("true_j") + 5e-5).count()
    check("C6_d4b_lower_bound", overstated == 0, s"overstated=$overstated")
    System.gc()

    // C7 — incremental dedup recall (x14): history = even ids, incoming =
    // odd ids, and every planted pair is (id−1, id), so a planted pair
    // with odd id_b is always CROSS-SIDE — its incoming doc must surface
    // in the drop list. Asserted ≥0.95 on planted exact dups under the
    // auto entry (refinement holds at any corpus size); near-dup (one
    // token swapped, still ≫ the 0.2 threshold) reported alongside.
    val x14 = run("x14_incremental_dedup").cache()
    val matched = x14.select(col("new_id").as("id_b"))
    def x14Recall(exact: Boolean): (Double, Long, Long) = {
      val p = planted.where(col("is_exact") === exact && col("id_b") % 2 === 1)
      val n = p.count()
      val f = p.join(matched, "id_b").count()
      (if (n == 0) 1.0 else f.toDouble / n, f, n)
    }
    val (x14E, x14Ef, x14En) = x14Recall(exact = true)
    val (x14N, x14Nf, x14Nn) = x14Recall(exact = false)
    check("C7_x14_incremental_recall", x14E >= 0.95,
      f"exact_recall=$x14E%.4f ($x14Ef/$x14En) near_recall=$x14N%.4f ($x14Nf/$x14Nn)")
    x14.unpersist()
    System.gc()

    // C8 — the streaming ingestion gate (st8) at scale: run the REAL
    // micro-batch engine over the corpus in ascending-id chunks and pin
    // the accumulated candidate set to its batch REPLAY. The gate's
    // freeze-at-cap contract (DocStream scaladoc) means "all pairs among
    // the first maxBucket arrivals of each (band, key) bucket"; with
    // id-ordered arrival (ascending chunks, in-batch ids sorted by the
    // gate) that is exactly "pairs within the maxBucket SMALLEST ids per
    // bucket" — computable in batch as a rank window over the banded
    // keys. Asserted:
    //   (a) gate candidate set == the rank-window replay, exactly;
    //   (b) gate ⊇ the capped batch arm's candidates (an under-cap
    //       bucket emits identically; an over-cap bucket is dropped
    //       wholesale by batch but only FROZEN by the gate) — so the
    //       gate's verified pair count sits at or above the capped
    //       arm's, with the adaptive arm's count reported as the upper
    //       frontier (observed 8,904 ≤ 10,652 ≤ 12,446 at 500k docs,
    //       r11 — promoted from a BENCH_NOTES observation to a check).
    {
      val nonblank = actual.where(
        length(graft.functions.TextFunctions.normalizeText(col("text"))) > 0)
      val base = java.nio.file.Files.createTempDirectory("graft-c8")
      def rmTree(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree); f.delete(); ()
      }
      try {
        val watched = base.resolve("in")
        java.nio.file.Files.createDirectory(watched)
        val nChunks = 10
        (0 until nChunks).foreach { i =>
          nonblank.where(col("doc_id") >= nDocs * i / nChunks &&
              col("doc_id") < nDocs * (i + 1) / nChunks)
            .coalesce(1).write.parquet(base.resolve(s"stage_$i").toString)
        }
        // append-mode, no watermark: the catalog's stream session fits
        val ss = graft.Queries.streamSession(spark,
          math.max(4, spark.sparkContext.defaultParallelism / 2))
        val stream = ss.readStream.schema(actual.schema)
          .parquet(watched.toString)
          .where(length(graft.functions.TextFunctions
            .normalizeText(col("text"))) > 0)
        val cands = graft.streaming.DocStream.neardupCandidates(stream,
          "text", "doc_id", p.bands, p.rowsPerBand, p.shingleN, p.maxBucket)
        val candsDf = cands.toDF()
        val q = candsDf.writeStream.outputMode("append").format("parquet")
          .option("path", s"$base/cands")
          .option("checkpointLocation", s"$base/ckpt").start()
        (0 until nChunks).foreach { i =>
          val stage = base.resolve(s"stage_$i").toFile
          stage.listFiles().filter(_.getName.startsWith("part-"))
            .zipWithIndex.foreach { case (f, j) =>
              java.nio.file.Files.move(f.toPath,
                watched.resolve(s"c$i-$j-${f.getName}"))
            }
          q.processAllAvailable()
        }
        q.stop()
        val gate = ss.read.schema(candsDf.schema).parquet(s"$base/cands")
          .distinct().persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val gateN = gate.count()
        // (a) the rank-window replay of freeze-at-cap membership
        val banded = graft.operators.Dedup.bandedKeys(nonblank,
          "text", "doc_id", p.bands, p.rowsPerBand, p.shingleN)
        val member = banded.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("band", "key").orderBy("doc")))
          .where(col("rn") <= p.maxBucket)
        val expected = member.groupBy("band", "key")
          .agg(sort_array(collect_list(col("doc"))).as("ids"))
          .where(size(col("ids")) > 1)
          .repartition(spark.sparkContext.defaultParallelism)
          .select(explode(
            graft.functions.NativeTextColumns.sortedPairs(col("ids"))).as("pr"))
          .select(col("pr.id_a"), col("pr.id_b")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val expectedN = expected.count()
        val gateExtra = gate.join(expected, Seq("id_a", "id_b"), "left_anti").count()
        val gateMissing = expected.join(gate, Seq("id_a", "id_b"), "left_anti").count()
        // (b) superset of the capped batch arm's candidates
        val cappedCands = graft.operators.Dedup.minhashCandidates(nonblank,
          "text", "doc_id", p.bands, p.rowsPerBand, p.shingleN, p.maxBucket,
          refineRows = 0)
        val cappedLost = cappedCands.join(gate, Seq("id_a", "id_b"), "left_anti").count()
        expected.unpersist()
        // the gate's verified surface, against the batch frontier counts
        val gateVerified = graft.operators.Dedup.verifyJaccard(nonblank,
          gate, "text", "doc_id", p.threshold, p.shingleN).count()
        gate.unpersist()
        check("C8_st8_freeze_at_cap",
          gateExtra == 0 && gateMissing == 0 && cappedLost == 0 &&
            gateVerified >= cappedN,
          s"gate_cands=$gateN replay_cands=$expectedN gate_extra=$gateExtra " +
            s"gate_missing=$gateMissing capped_cands_lost=$cappedLost " +
            s"gate_verified=$gateVerified capped_verified=$cappedN " +
            s"adaptive_verified=$d2bn")
      } finally rmTree(base.toFile)
    }
    System.gc()

    regen.unpersist()
    val ok = failures.isEmpty
    println(s"""{"scalecheck":"${if (ok) "PASS" else "FAIL"}","sf_dir":"$sfDir","vocab":"$vocab","n_docs":$nDocs,"failed":${failures.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
