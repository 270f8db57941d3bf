package graft.e2ebench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** One benchmark run of one workload in one JVM; `run.py` builds the
  * classpath and starts it.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --result <file> [--trace-file <file>] [--cores <n>]
  *
  * Set-up (untimed by the iteration metrics, reported as `setup_s`): JVM
  * and session start, input generation, a warm-up iteration whose
  * outputs become the seed's expected answers, the once-per-seed checks
  * and the workload's further warm-up iterations (in a traced run, its
  * cross-check takes the place of all but the last). Then iterations run until `--seconds`
  * have passed and at least the workload's minimum of untraced ones ran. With `--trace 1`
  * untraced and traced iterations alternate (at least two of each), the
  * benchmark's listener attached only to the traced ones; the result
  * holds the per-layer metrics of the traced iterations and the tracing
  * overhead (traced minus untraced median wall time). After the timed
  * loop, the workload's probe adds the per-layer figures that would
  * otherwise add work to the traced iterations.
  */
object Main {

  final case class Iter(wall: Double, first: Double, cpu: Double, outBytes: Long, compiles: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = session(workload, cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "ep1_daily" => new Ep1(spark, new File(work, "ep1"), seed, Sizes.ep1)
      case "curation" => new Curation(spark, new File(work, "curation"), seed, Sizes.curationDocs,
        Sizes.jaccardCutoff)
      case other => sys.error(s"unknown workload $other")
    }
    val ops = new Ops
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def iteration(tr: Option[Tracer]): Iter = {
      val cpu0 = os.getProcessCpuTime
      val compiles0 = org.apache.spark.E2eBridge.codegenCompiles
      val t0 = System.nanoTime()
      val first = w.run(tr, ops)
      val t1 = System.nanoTime()
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      Iter((t1 - t0) / 1e9, (first - t0) / 1e9, cpu, w.outputBytes,
        org.apache.spark.E2eBridge.codegenCompiles - compiles0)
    }

    // set-up: inputs, warm-up iteration (records the seed's answers), seed checks
    def phase[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally System.err.println(f"[e2ebench] set-up: $what ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    phase("inputs")(w.generate())
    phase("warm-up iteration")(iteration(None))
    phase("warm-up check")(w.check(ops))
    val extra = phase("seed checks")(w.seedChecks(ops))
    w.afterCheck(keep = true)
    // more warm-up: the first iterations after a cold start still spend
    // much of their CPU time compiling (JIT and Spark codegen). A traced
    // run makes its cross-check in place of all but the last of them; that
    // last one absorbs the cross-check's churn of the codegen cache.
    val crossCheck = w.crossCheck.filter(_ => trace)
    crossCheck.foreach(c => phase("cross-check")(c(ops)))
    for (i <- (if (crossCheck.isDefined) w.warmups else 2) to w.warmups) {
      phase(s"warm-up iteration $i")(iteration(None))
      w.afterCheck(keep = false)
    }
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[e2ebench] $workload seed=$seed set-up $setupS%.2f s (${w.describe})")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val plain = mutable.ArrayBuffer.empty[Iter]
    val traced = mutable.ArrayBuffer.empty[(Int, Iter)]
    val origin = System.nanoTime()
    val deadline = origin + (seconds * 1e9).toLong
    var k = 0
    // a traced run needs only enough untraced iterations for the overhead
    // figure: its set-up already holds the slow cross-check
    val minPlain = if (trace) math.min(2, w.measured) else w.measured
    while (System.nanoTime() < deadline || plain.size < minPlain || (trace && traced.size < 2)) {
      val tr = tracer.filter(_ => k % 2 == 1)
      tr.foreach { t => t.iteration = k; spark.sparkContext.addSparkListener(t) }
      val it = iteration(tr)
      tr.foreach { t => t.drain(); spark.sparkContext.removeSparkListener(t) }
      w.check(ops)
      w.afterCheck(keep = false)
      if (tr.isDefined) traced += k -> it else plain += it
      System.err.println(f"[e2ebench] iteration $k${if (tr.isDefined) " traced" else ""}: " +
        f"wall ${it.wall}%.3f s, first output ${it.first}%.3f s, cpu ${it.cpu}%.2f s, " +
        s"${it.compiles} generated classes compiled")
      k += 1
    }

    // the probe runs once, after the timed loop: its plans would otherwise
    // take codegen cache entries from the iterations that follow it
    val layerRuns = tracer.toSeq.flatMap { t =>
      t.iteration = k
      spark.sparkContext.addSparkListener(t)
      w.probe(t, ops)
      t.drain()
      spark.sparkContext.removeSparkListener(t)
      val probeSpans = t.all.filter(_.iter == k)
      t.iteration = k + 1
      traced.toSeq.map { case (i, it) =>
        val spans = t.all.filter(_.iter == i)
        val roots = new Engine
        spans.filter(_.parent < 0).foreach(s => roots.add(t.inclusive(s)))
        val layers = w.layers(t, spans ++ probeSpans, it.outBytes) ++ engineMetrics(roots) +
          ("engine.codegen_compiles" -> it.compiles.toDouble)
        // a layer this workload does not call still gets its (empty) span,
        // so its time is measured, not a constant
        val idle = LayerMetrics.all.collect { case (n, "s") if !layers.contains(n) =>
          t.span(n.stripSuffix(".s"))(())
          n -> t.all.last.seconds
        }
        layers ++ idle
      }
    }

    val wall = Util.median(plain.map(_.wall).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"), ("wall_s", wall, "s"),
        ("first_output_s", Util.median(plain.map(_.first).toSeq), "s"),
        ("rows_per_s", w.rows / wall, "1/s"),
        ("cpu_s", Util.median(plain.map(_.cpu).toSeq), "s"),
        ("output_mb", Util.median(plain.map(_.outBytes / 1e6).toSeq), "MB"))
      else {
        val tWall = Util.median(traced.map(_._2.wall).toSeq)
        LayerMetrics.all.map { case (n, unit) =>
          (n, Util.median(layerRuns.map(_.getOrElse(n, 0.0))), unit)
        } ++ Seq(("trace.wall_s", tWall, "s"), ("trace.overhead_s", tWall - wall, "s"))
      }

    tracer.foreach { t =>
      a.get("trace-file").foreach(f => write(new File(f), t.json(origin)))
      selfTimeTable(t)
    }
    val result = Json.obj(Seq(
      "correct" -> (if (ops.failed == 0) "true" else "false"),
      "attempted" -> Json.num(ops.attempted), "failed" -> Json.num(ops.failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "iterations" -> Json.num(plain.size + traced.size),
      "inputs" -> Json.str(w.describe),
      "errors" -> Json.arr(ops.errors.toSeq.map(Json.str))) ++ extra)
    write(new File(a("result")), result)
    spark.stop()
  }

  private def engineMetrics(e: Engine): Map[String, Double] = Map(
    "engine.cpu_s" -> e.cpuNs / 1e9, "engine.gc_s" -> e.gcMs / 1e3,
    "engine.jobs" -> e.jobs.toDouble, "engine.stages" -> e.stages.toDouble, "engine.tasks" -> e.tasks.toDouble,
    "engine.shuffle_write_mb" -> e.shuffleWriteBytes / 1e6, "engine.shuffle_records" -> e.shuffleRecords.toDouble,
    "engine.spill_mb" -> e.spillBytes / 1e6, "engine.input_mb" -> e.inputBytes / 1e6,
    "engine.peak_exec_mem_mb" -> e.peakExecMem / 1e6)

  /** Per span name over all traced iterations: total and self seconds. */
  private def selfTimeTable(t: Tracer): Unit = {
    val rows = t.all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(_.seconds).sum, ss.map(t.selfSeconds).sum, ss.size)
    }.sortBy(-_._2)
    System.err.println(f"[e2ebench] ${"span"}%-34s ${"total_s"}%9s ${"self_s"}%9s  calls")
    rows.foreach { case (n, tot, self, c) =>
      System.err.println(f"[e2ebench] $n%-34s $tot%9.3f $self%9.3f  $c%5d")
    }
  }

  private def write(f: File, s: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, (s + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Each workload runs under the session conf its production entry
    * point gets. EP1: the Airflow DAG's `SparkSubmitOperator` conf
    * (airflow/marketeye_spark_dag.py), Spark defaults otherwise. The
    * curation chains: `tools/PipelineBench`'s session, including its
    * process-wide table cache. Local and warehouse dirs sit in the run's
    * work dir; the UI is off. */
  private def session(workload: String, cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"e2ebench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    (workload match {
      case "ep1_daily" => b
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
      case _ =>
        System.setProperty("graft.cacheTables", "true")
        b.config("spark.sql.shuffle.partitions", math.max(1, cores / 2))
          .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
          .config("spark.sql.codegen.cache.maxEntries", "5000")
          .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    }).getOrCreate()
  }
}

/** Input sizes of the two workloads (see e2ebench/README.md for why). */
object Sizes {
  val ep1: Gen.Ep1Params = Gen.Ep1Params(offers = 20000, products = 3000,
    tailShare = 0.08, dupShare = 0.03, malformedShare = 0.0005)
  val curationDocs: Long = 3000L
  val jaccardCutoff: Long = 1500L
}

/** Every per-layer metric a traced run reports, with its unit. For a
  * layer a workload does not run, times are those of an empty span and
  * the other metrics are 0. */
object LayerMetrics {
  private def s(names: String*) = names.map(_ -> "s")
  val all: Seq[(String, String)] =
    s(Seq("extract_avito", "extract_jumia", "extract_electroplanet", "merge", "stats", "anomalies", "load")
      .map(st => s"pipeline.$st.s"): _*) ++
    Seq("sources.load.s" -> "s", "sources.rows" -> "count", "sources.input_mb" -> "MB",
      "sources.kept_ratio" -> "ratio") ++
    s("transform.avito.s", "transform.jumia.s", "transform.electroplanet.s") ++
    Seq("transform.rows_out" -> "count",
      "merge.s" -> "s", "merge.shuffle_write_mb" -> "MB", "merge.shuffle_records" -> "count",
      "merge.spill_mb" -> "MB", "merge.products_out" -> "count", "merge.offer_kept_ratio" -> "ratio",
      "stats.s" -> "s", "anomaly.s" -> "s", "anomaly.flagged" -> "count") ++
    s("sinks.json.s", "sinks.backup.s", "sinks.csv.s", "sinks.relational.s", "sinks.stage_parquet.s") ++
    Seq("sinks.output_mb" -> "MB",
      "dedup.minhash.s" -> "s", "dedup.minhash.shuffle_records" -> "count",
      "dedup.minhash.pairs" -> "count", "dedup.minhash.verify_ratio" -> "ratio",
      "dedup.jaccard.s" -> "s", "dedup.jaccard.shuffle_records" -> "count",
      "dedup.jaccard.shuffle_write_mb" -> "MB", "dedup.jaccard.pairs" -> "count",
      "dedup.jaccard.verify_ratio" -> "ratio",
      "dedup.cc.s" -> "s", "dedup.cc.jobs" -> "count", "dedup.cc.clusters" -> "count",
      "curation.tail.s" -> "s", "curation.apply.s" -> "s",
      "router.jobs" -> "count", "router.minhash_route" -> "code", "router.jaccard_route" -> "code") ++
    s(graft.tools.PipelineBench.DefaultFamily.map(q => s"query.$q.s"): _*) ++
    Seq("engine.cpu_s" -> "s", "engine.gc_s" -> "s", "engine.jobs" -> "count",
      "engine.stages" -> "count", "engine.tasks" -> "count", "engine.shuffle_write_mb" -> "MB",
      "engine.shuffle_records" -> "count", "engine.spill_mb" -> "MB", "engine.input_mb" -> "MB",
      "engine.peak_exec_mem_mb" -> "MB",
      // JVM-wide, and not expected to repeat exactly: which generated classes
      // a full codegen cache evicts depends on thread timing
      "engine.codegen_compiles" -> "classes")
}
