package graft
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Driver-run benchmark: times every catalog query at the given scale
  * factor and prints one JSON metrics line.
  *
  * Queries are forced through a `noop` write so every projected column is
  * actually computed (a bare count() would let Catalyst prune the work
  * away). A warmup pass absorbs JVM/codegen startup so per-query numbers
  * measure the plan, not the JIT. Base tables are cached once for the
  * process (-Dgraft.cacheTables, see Queries.t) — a long-lived cluster app
  * reads its tables once, so per-query cold parquet scans are floor, not
  * plan. A failed query is reported as -1 with its name in "failed" —
  * never silently counted as near-zero time.
  *
  * Output contract (the driver captures only the LAST 2000 chars of merged
  * stdout+stderr): the FINAL stdout line is a compact totals-only JSON that
  * always fits the window; the full per-query map is printed earlier and
  * also written to BENCH_FULL.json. Rounds 1–4 lost their totals because
  * the single per-query line outgrew the window and was beheaded.
  *
  * Args: optional query names → bench only those (iteration aid);
  * `-name` excludes a query from the full catalog (big-sf runs exclude
  * the documented-superlinear d4 counting plan and time it separately).
  * Env: SPARK_GRAFT_EXPLAIN=true prints each query's formatted plan.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus.toInt)

    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // pair-graph cache posture for this run, recorded in the output JSON:
    // per-query timings share the artifact only when a disk cache dir is
    // configured
    val pairMode = sys.env.get("SPARK_GRAFT_PAIR_CACHE")
      .map(d => s"disk:$d").getOrElse("per_query_cleared")

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum

    def timed(name: String): Double = {
      // start line BEFORE the run: a multi-hour sf run that dies
      // mid-query must leave the query's name in the log (the r8 sf10
      // attempt was unattributable for 13 minutes because nothing
      // printed until completion)
      System.err.println(s"[bench] start $name")
      val t0 = System.nanoTime()
      val g0 = gcMillis()
      try {
        force(name)
        val sec = (System.nanoTime() - t0) / 1e9
        val gc = gcMillis() - g0
        // GC share per query on stderr — separates allocation pressure
        // (fix the operator) from plan work (fix the plan)
        System.err.println(f"[bench] $name%-28s ${sec}%6.2f s  gc ${gc}%4d ms")
        sec
      }
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0
      }
      finally {
        // Like-for-like vs the per-query oracle: the pair-graph artifact
        // lets d8/d10/x17/x22b reuse d2's materialized pairs within one
        // process — intended PIPELINE semantics (PipelineBench measures
        // them), but in a per-query bench it would time consumption on
        // one side while the oracle recomputes on the other (r10
        // ADVICE). Cleared between timed queries; the mode rides in the
        // output JSON.
        clearArtifacts()
        // Outside the timed window: drop the query's lineage so the
        // ContextCleaner can reap its shuffle files and localCheckpoint
        // blocks. Shuffle files live until their ShuffleDependency is
        // GC'd — without this, a catalog of heavy queries accumulates
        // every query's spill on local disk for the whole process
        // (measured: 13 sf10 dedup queries filled 79 GB and starved the
        // 14th; a long-lived cluster app hits the same wall on executor
        // disks). A full GC per query costs ~100 ms against local disk
        // sized for ONE query's shuffle, not the catalog's sum.
        System.gc()
      }
    }
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val (excluded, included) = args.partition(_.startsWith("-"))
    val excludeSet = excluded.map(_.stripPrefix("-")).toSet
    val unknown = (included ++ excludeSet).filterNot(names0.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] unknown query name(s): ${unknown.mkString(", ")} — " +
          s"known: ${names0.mkString(", ")}")
      sys.exit(2) // a typo must not bench zero queries and report a healthy 0
    }
    val names = (if (included.nonEmpty) names0.filter(included.contains) else names0)
      .filterNot(excludeSet.contains)
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("true"))
      names.foreach { n =>
        System.err.println(s"==== $n ====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    // one untimed warmup pass (janino compilation + C2 JIT of native
    // expression evals + base-table cache materialization), then two timed
    // passes, min per query — numbers measure the plan, not compiler
    // warmup. At big scale factors (sf≥1 local runs) the multi-minute
    // queries amortize compilation inside one execution and tripling the
    // wall clock buys nothing: SPARK_GRAFT_PASSES=1 times a single pass,
    // SPARK_GRAFT_WARMUP=0 skips the warmup.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption).getOrElse(2)
    // cache fill is untimed at EVERY setting: with the full warmup it
    // rides the first pass; without it (big-sf single-pass runs) the
    // explicit prewarm keeps the 60M-row repartition+columnar build out
    // of the first query's number (measured: cold a1 at sf10 = 513 s vs
    // 75 s warm — the difference is the fill, not the plan)
    Queries.prewarmTables(spark, sfDir)
    if (!sys.env.get("SPARK_GRAFT_WARMUP").contains("0"))
      names.foreach(n => try force(n) catch { case NonFatal(_) => () })
    // the warmup pass populated the pair-graph cache; timed passes must
    // start from the declared posture
    clearArtifacts()
    val pass1 = names.map(n => n -> timed(n)).toMap
    val results = names.map { n =>
      val a = pass1(n)
      val b = if (passes > 1) timed(n) else a
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // steady-state streaming: start each stream shape once, time N
    // successive micro-batches (the cost a long-running stream pays per
    // batch, vs the restart floor the per-query numbers above carry).
    // ON BY DEFAULT so the round artifact's parsed line carries the
    // steady medians — the per-query st* numbers are ~90% restart floor
    // and would mislead any automated batch-vs-oracle gate. Set
    // SPARK_GRAFT_STREAM_STEADY=0 to skip when iterating on batch queries
    // (full catalog runs only: single-query invocations skip it too).
    val steadyN = sys.env.get("SPARK_GRAFT_STREAM_STEADY").flatMap(_.toIntOption)
      .getOrElse(if (included.isEmpty) 8 else 0)
    val steady: Option[(String, Map[String, Double])] =
      if (steadyN > 1)
        try Some(StreamBench.run(spark, sfDir, steadyN))
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] stream steady FAILED: ${e.getMessage}")
          failed += "stream_steady"
          None
        }
      else None
    val steadyJson = steady.map { case (_, medians) =>
      medians.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    }.getOrElse("{}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"streaming_steady":$steadyJson,"pair_graph_cache":"$pairMode","n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir"}"""
    println(fullLine)
    // durable full record — the stdout tail the driver keeps is only
    // 2000 chars, far smaller than the per-query map
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[bench] BENCH_FULL.json: $e") }
    steady.foreach { case (detail, _) =>
      println(s"""{"metric":"stream_steady","n_batches":$steadyN,"shapes":$detail}""")
    }
    stop(spark)
    // LAST stdout line, after all Spark shutdown noise: compact totals that
    // always fit a 2000-char tail capture regardless of catalog size; the
    // steady medians ride here so the round artifact's `parsed` carries them
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"streaming_steady":$steadyJson,"pair_graph_cache":"$pairMode","n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir"}""")
    // a bench with failed queries is a failed bench — exit nonzero so
    // automation can't record it as a healthy round (round-6 lesson)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The session every bench main times under (Bench, BenchOne, PlanDump,
    * PipelineBench): one definition, so a plan dumped or timed by any of
    * them is the plan the catalog bench runs. Base tables are cached for
    * the process (graft.cacheTables). Stop it with [[stop]]. */
  def session(cpus: Int): SparkSession = {
    System.setProperty("graft.cacheTables", "true")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // reducer count: HALF the cores, measured fastest across the catalog
      // (32 reducers on local[32] pay more per-task scheduling than the
      // extra width buys at sf0.1; explode-amplified stages re-widen
      // explicitly — see Dedup.pairsFromGroups). On a real cluster this is
      // per-job tuned to data volume; AQE still coalesces below this.
      .config("spark.sql.shuffle.partitions", math.max(1, cpus / 2))
      .config("spark.sql.adaptive.enabled", "true")
      // AQE decides broadcasts from ACTUAL runtime sizes, so a higher
      // ceiling is safe at any scale (it can never broadcast something
      // big); 64 MB lets the mid-size build sides of the pair pipelines
      // skip a shuffle leg locally, same as a tuned cluster would run
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the generated-class cache defaults to 100 entries; a catalog of ~60
      // distinct queries compiles several codegen stages each, so at the
      // default size every re-execution evicts, re-runs janino, AND loses
      // the JIT state of the previous (now-discarded) class. Any long-lived
      // app serving a query catalog wants this sized to its working set.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // ObjectHashAggregate (every TypedImperativeAggregate: MinByOrd,
      // the merge fold, collect_set over arrays) falls back to FULL
      // SORT-BASED aggregation after only 128 distinct keys per
      // partition — the default turns the a1/a1b rollups into external
      // sorts of the unreduced input at sf10 (measured: a1b 57→36 s).
      // 128k keys/partition × O(100 B) buffers is a few MB of executor
      // memory — the right trade anywhere short of billions of groups
      // per partition.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "131072")
      // streaming state/commit logs on tmpfs: micro-batch commit latency is
      // filesystem fsync, not plan work (a cluster would put this on fast
      // shared storage); falls back to the default temp dir if absent
      .config("spark.sql.streaming.checkpointLocation",
        sys.env.getOrElse("SPARK_GRAFT_CKPT",
          (if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
           else System.getProperty("java.io.tmpdir")) +
            s"/graft-bench-ckpt-${java.util.UUID.randomUUID()}"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stops a [[session]]. An EXPLICIT checkpoint root is not temp-deleted
    * by Spark the way implicit per-query temp checkpoints are, so the
    * session's own root is removed here. */
  def stop(spark: SparkSession): Unit = {
    val ckptRoot = spark.conf.get("spark.sql.streaming.checkpointLocation")
    spark.stop()
    if (ckptRoot.contains("graft-bench-ckpt")) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(ckptRoot))
    }
  }

  /** Drops the in-process pair-graph and group-stats artifacts, so the
    * next timed run computes its query instead of consuming an earlier
    * run's materialized result. */
  def clearArtifacts(): Unit = {
    graft.operators.PairGraph.clearInProcess()
    graft.operators.SemanticPairGraph.clearInProcess()
    graft.operators.GroupStats.clearInProcess()
  }
}
