package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}

/** Steady-state streaming benchmark: the per-micro-batch cost a
  * long-running stream actually pays, separated from the engine-restart
  * floor the catalog bench measures (st2/st3 there start a fresh query
  * per run, so their numbers are dominated by query startup + first-batch
  * state-store creation + WAL bootstrap — see BENCH_NOTES).
  *
  * Method: the events table is split into N chunks, each pre-staged as a
  * parquet file (staging cost excluded from timing). The st2-shaped
  * hourly aggregation and the st3-shaped stateful dedup each start ONCE;
  * chunks are then moved into the watched directory one at a time and
  * `processAllAvailable()` is timed per chunk. Batch 1 carries the
  * restart floor; the median of the remaining batches is the steady-state
  * per-batch cost.
  *
  * Enabled in [[Bench]] via SPARK_GRAFT_STREAM_STEADY=<nBatches>.
  */
object StreamBench {

  /** Children of `p`, with the underlying directory stream closed eagerly
    * (Files.list leaks a file descriptor per call otherwise, and rmTree
    * recurses over per-batch chunk/checkpoint trees). */
  private def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try { val it = s.iterator(); val b = Seq.newBuilder[Path]
          while (it.hasNext) b += it.next(); b.result()
    } finally s.close()
  }

  private def moveParts(stage: Path, watched: Path, tag: String): Unit = {
    var i = 0
    children(stage).foreach { p =>
      if (p.getFileName.toString.startsWith("part-")) {
        Files.move(p, watched.resolve(s"$tag-$i-${p.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE)
        i += 1
      }
    }
  }

  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) children(p).foreach(rmTree)
    Files.deleteIfExists(p)
    ()
  }

  /** Runs the stream shapes; returns the detailed JSON fragment for the
    * bench line plus the per-shape steady-state medians (what the round
    * artifact's compact line carries as `streaming_steady` — the restart
    * floor in the catalog's per-query numbers would otherwise be the only
    * streaming signal any automated gate sees). */
  def run(spark: SparkSession, sfDir: String, nBatches: Int): (String, Map[String, Double]) = {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val schema = events.schema
    val base = Files.createTempDirectory("graft-streambench")
    // Checkpoints on tmpfs when the host has one, like the catalog
    // queries (Queries.tempCkptDir) and the bench session default: a
    // steady-state batch is offset-WAL + state-store commits — st6 alone
    // fsyncs 16 store deltas × 2 triggers per chunk — and on /tmp those
    // fsyncs contend with the preceding catalog run's dirty-page
    // writeback (measured: an 8-core full-bench run degraded st6's
    // steady median 3× — 4.16 vs 1.39 s/batch — while compute-bound
    // shapes moved <1.7×; commitTimeMs was ~55% of every batch wall).
    // A cluster puts checkpoints on fast shared storage for the same
    // reason. Data chunks/staging stay under `base` on real disk.
    val ckptRoot = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory)
        Files.createTempDirectory(shm.toPath, "graft-streambench-ckpt")
      else base
    }
    try {
      // Chunk assignment per shape: st2 (complete-mode agg) and st3
      // (keyed dedup) are watermark-free, so deterministic modulo chunks
      // are fine. st6's stream-stream join is watermark-DRIVEN: chunks
      // must arrive in event-time order so each batch advances the
      // watermark one step and evicts one step of join state — exactly a
      // live stream's regime. Modulo chunks would spread the full time
      // range into batch 1, jump the watermark to max, and drop every
      // later chunk as late → a fake near-zero steady state.
      val tsSec = Queries.tsEpochSec(schema)
      val tsb = events.agg(min(tsSec).cast("long"), max(tsSec).cast("long"))
        .collect()(0)
      val (tsLo, tsHi) = (tsb.getLong(0), tsb.getLong(1))
      // st8 streams DOCUMENTS (the near-dup ingestion gate), st9
      // streams EMBEDDINGS (the semantic-bucket dedup), not events
      lazy val documents = spark.read.parquet(s"$sfDir/documents.parquet")
      lazy val embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def chunkPred(shape: String, i: Int) = shape match {
        case "st6" =>
          val span = tsHi - tsLo + 1
          val lo = tsLo + span * i / nBatches
          val hi = tsLo + span * (i + 1) / nBatches
          tsSec >= lo && tsSec < hi
        case "st8" => pmod(col("doc_id"), lit(nBatches)) === i
        case "st9" | "st9b" => pmod(col("vec_id"), lit(nBatches)) === i
        case _ => pmod(col("event_id"), lit(nBatches)) === i
      }

      def timeShape(shape: String): (Double, Seq[Double]) = {
        val src = shape match {
          case "st8" => documents
          case "st9" | "st9b" => embeddings
          case _ => events
        }
        // stage this shape's chunks (deterministic assignment, untimed;
        // the source is persisted for the N filtered chunk writes — 50
        // batches would otherwise re-scan the parquet 50 times per shape)
        src.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try (0 until nBatches).foreach { i =>
          src.where(chunkPred(shape, i))
            .coalesce(1).write.parquet(base.resolve(s"stage_${shape}_$i").toString)
        } finally src.unpersist()
        val watched = base.resolve(s"in_$shape")
        Files.createDirectory(watched)
        // the catalog's stream session, with its state-partition sizing:
        // the event shapes keep tiny keyed state (4 stores keep
        // state-store maintenance off their numbers), but st8's banded
        // state and candidate fan-out are corpus-proportional — 4
        // partitions serialize its candidate generation onto 4 tasks
        // (measured 40.2→14.4 s at sf1), so its steady-state numbers must
        // be taken in the cluster-sized config the catalog query actually
        // uses (r11 ADVICE).
        val ss = Queries.streamSession(spark,
          if (shape == "st8")
            math.max(4, spark.sparkContext.defaultParallelism / 2)
          else 4)
        def stream = ss.readStream.schema(src.schema).parquet(watched.toString)
        val (df, mode) = shape match {
          case "st2" =>
            val sec = Queries.tsEpochSec(schema)
            val hourEpoch = (sec - sec % 3600).cast("long")
            (stream.groupBy(hourEpoch.as("hour_epoch"), col("event_type"))
              .agg(count(lit(1)).as("n"),
                sum(floor(col("value") * 100)).cast("long").as("cents")),
              "complete")
          case "st6" =>
            // the st6 catalog shape: clicks ⋈ purchases within 30 min,
            // both sides watermarked 1 h (two readers over one watched dir)
            def side(tpe: String, prefix: String) = {
              val sec = Queries.tsEpochSec(schema)
              stream.where(col("event_type") === tpe)
                .select(col("user_id").as(s"${prefix}_user"),
                  timestamp_seconds(sec).as(s"${prefix}_ts"),
                  col("event_id").as(s"${prefix}_id"),
                  col("value").as(s"${prefix}_value"))
                .withWatermark(s"${prefix}_ts", "1 hour")
            }
            (side("click", "c").join(side("purchase", "p"),
              col("c_user") === col("p_user") &&
                col("p_ts") >= col("c_ts") &&
                col("p_ts") <= col("c_ts") + expr("interval 30 minutes")),
              "append")
          case "st5" =>
            // stream-static enrichment: the dim is re-broadcast per
            // micro-batch — the per-batch price of keeping reference
            // data fresh, the catalog st5 shape exactly
            val dim = ss.read.parquet(s"$sfDir/customer.parquet")
              .select(col("c_custkey"), col("c_mktsegment"))
            (stream.join(broadcast(dim), col("user_id") === col("c_custkey"))
              .groupBy("c_mktsegment", "event_type")
              .agg(count(lit(1)).as("n"),
                sum(floor(col("value") * 100)).cast("long").as("cents")),
              "complete")
          case "st7" =>
            // arbitrary stateful fold: one envelope struct per user key,
            // state GROWS with distinct keys seen (no watermark eviction
            // by design — the envelope is a running total) — the shape
            // whose steady state could degrade with accumulated keys
            val sec = Queries.tsEpochSec(schema)
            import ss.implicits._
            (graft.streaming.EventStream.priceEnvelope(
              stream.where(col("event_type") === "purchase")
                .select(col("user_id").cast("string").as("product_id"),
                  col("value").as("price"), timestamp_seconds(sec).as("ts"))
                .as[graft.streaming.EventStream.PriceEvent]).toDF(),
              "update")
          case "st8" =>
            // the near-dup ingestion gate per-batch: each chunk of
            // documents pairs against the accumulated band-bucket state
            // — the cost a long-running ingestion stream pays per drop,
            // vs the lifecycle floor the catalog st8 number carries
            val p = Queries.D2Params
            (graft.streaming.DocStream.neardupCandidates(
              stream.where(length(graft.functions.TextFunctions
                .normalizeText(col("text"))) > 0),
              "text", "doc_id", p.bands, p.rowsPerBand, p.shingleN,
              p.maxBucket).toDF(), "append")
          case "st9" =>
            // semantic-bucket dedup per batch: each chunk's vectors are
            // quantized + bit-split map-side and deduped against the
            // accumulated bucket state — which is BOUNDED at
            // nlist * 2^maxBits keys by construction (64 here), the one
            // streaming shape whose state cannot grow with the corpus
            (graft.streaming.EventStream.dedupKeys(
              graft.operators.Similarity.semanticBuckets(stream, "embedding",
                graft.operators.Similarity.md5Centroids(8, 64), maxBits = 3),
              "centroid", "subcell"), "append")
          case "st9b" =>
            // the ADAPTIVE semantic gate per batch: per-cell depths come
            // from the batch cell-size artifact (one untimed O(nlist)
            // derivation over the staged corpus — in production, the
            // same table the batch SemDeDup routing already collected),
            // broadcast-joined inside the streaming plan; state stays
            // bounded at Σ_cell 2^depth keys
            val cents = graft.operators.Similarity.md5Centroids(8, 64)
            val depths = graft.operators.Similarity.cellDepths(
              embeddings, "embedding", cents, targetCell = 64, maxExtraBits = 3)
            (graft.streaming.EventStream.dedupKeys(
              graft.operators.Similarity.semanticBucketsAdaptive(
                stream, "embedding", cents, depths)
                .select("centroid", "subcell"),
              "centroid", "subcell"), "append")
          case _ =>
            (graft.streaming.EventStream.dedupKeys(
              stream.select((col("event_id") % 1000).as("k")), "k"), "append")
        }
        // noop sink: the memory sink accumulates the full append-mode
        // result across batches, so st6's late batches paid sink-table
        // growth on top of engine+state cost (measured: batches 7–8 ran
        // 2× the median with memory, flat with noop). A production sink
        // doesn't hold history; noop times what the engine pays.
        val q = df.writeStream.outputMode(mode).format("noop")
          .option("checkpointLocation", ckptRoot.resolve(s"ckpt_$shape").toString)
          .start()
        val times = (0 until nBatches).map { i =>
          moveParts(base.resolve(s"stage_${shape}_$i"), watched, s"c$i")
          val t0 = System.nanoTime()
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
        q.stop()
        (times.head, times.tail)
      }

      def fragment(shape: String): (String, Double) = {
        val (first, rest) = timeShape(shape)
        val sorted = rest.sorted
        val median = if (sorted.isEmpty) -1.0 else sorted(sorted.size / 2)
        val batches = rest.map(t => f"$t%.3f").mkString("[", ",", "]")
        (f""""$shape":{"first_batch":$first%.3f,"steady_median":$median%.3f,"batches":$batches}""",
          median)
      }

      // SPARK_GRAFT_STREAM_SHAPES=st8 runs a subset (the heavy sf10
      // design-regime runs measure one shape at many batches; staging
      // chunks for the unmeasured shapes would dominate the run).
      // Unknown names fail FAST: a typo ('st-8') would otherwise filter
      // every shape out and emit an empty-but-successful-looking bench
      // record (r12 ADVICE).
      val known = Seq("st2", "st3", "st5", "st6", "st7", "st8", "st9", "st9b")
      val wanted = sys.env.get("SPARK_GRAFT_STREAM_SHAPES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(known.toSet)
      val unknown = wanted -- known.toSet
      require(unknown.isEmpty && wanted.nonEmpty,
        s"SPARK_GRAFT_STREAM_SHAPES: unknown shape(s) ${unknown.mkString(",")}; " +
          s"valid: ${known.mkString(",")}")
      val shapes = known.filter(wanted)
        .map(s => s -> fragment(s))
      (shapes.map(_._2._1).mkString("{", ",", "}"),
        shapes.map { case (s, (_, m)) => s -> m }.toMap)
    } finally {
      rmTree(base)
      if (ckptRoot != base) rmTree(ckptRoot)
    }
  }
}
