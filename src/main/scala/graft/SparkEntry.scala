package graft
import org.apache.spark.SparkConf
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see SURVEY.md §2/§7 and Queries.scala for the full
  * operator catalog with per-query DuckDB oracles. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = Queries.oracles

  /** The engine's one session: every entry point (the `StageRunner`
    * stages, `Verify`, the bench mains, the scale tools, the test suite)
    * runs under this conf, so a plan the oracle checks is the plan the
    * bench times and production runs.
    *
    * A master set by spark-submit, or an existing session, is kept;
    * otherwise the session is `local[SPARK_GRAFT_CPUS]` (default: every
    * core). A local session whose shuffle width nobody set (in SparkConf,
    * a spark-submit `--conf`, a builder or the runtime conf) gets
    * [[filledWidth]]; a width someone set, and any non-local master, keep
    * their own. The filled width is a runtime setting of the returned
    * session, so a `newSession()` clone starts without it
    * (`Queries.streamSession` sets its own). On an existing session getOrCreate applies the runtime
    * SQL settings below to it and leaves its static ones and its log
    * level alone. */
  def session(): SparkSession = {
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).isDefined
    val b = SparkSession.builder().appName("marketeye-spark")
    if (!existing && !new SparkConf().contains("spark.master")) {
      val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString).toInt
      b.master(s"local[$n]")
    }
    val spark = b
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
      // one long session can run many disk-heavy jobs back to back;
      // shuffle files of finished jobs are only deleted when their RDDs
      // are GC'd, and at sf10 the accumulated spill exceeds the box (two
      // ScaleCheck C7 no-space deaths, r11). Periodic GC lets the
      // ContextCleaner reclaim each job's shuffles while the next one runs.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getAll holds the explicitly set entries only, never Spark's defaults
    filledWidth(spark.sparkContext.isLocal, spark.sparkContext.master,
      spark.conf.getAll.contains(ShufflePartitions))
      .foreach(spark.conf.set(ShufflePartitions, _))
    if (!existing) spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  // the thread count of a master Spark deems local: local[n], local[*],
  // local[n,f]; plain "local" is one thread
  private val LocalThreads = """local\[(\*|\d+).*""".r

  /** The shuffle width [[session]] fills in: HALF the local threads,
    * measured fastest across the catalog (32 reducers on local[32] pay
    * more per-task scheduling than the extra width buys at sf0.1;
    * explode-amplified stages re-widen explicitly — see
    * Dedup.pairsFromGroups), and far below Spark's 200, whose
    * per-map-task shuffle files dominate EP1's merge and anomaly stages at
    * a daily drop's size. AQE still coalesces below this. None when
    * someone set a width, or when Spark does not deem the master local
    * (`SparkContext.isLocal`): on a cluster the deployer tunes the width
    * to data volume. */
  private[graft] def filledWidth(isLocal: Boolean, master: String, widthSet: Boolean): Option[Int] =
    if (!isLocal || widthSet) None
    else Some(math.max(1, (master match {
      case LocalThreads("*") => Runtime.getRuntime.availableProcessors
      case LocalThreads(n) => n.toInt
      case _ => 1
    }) / 2))
}
