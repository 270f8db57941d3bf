package graft.e2ebench

import graft.operators.{Anomaly, ProductMerge, Statistics}
import graft.pipeline.{MarketEyePipeline, StageRunner}
import graft.schema.Schemas
import graft.sinks.Sinks
import graft.sources.JsonSource
import graft.transform.Transforms
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** `ep1_daily`: one daily run of the EP1 program through its production
  * entry point, `StageRunner`, in the Airflow DAG's dependency order and
  * fan-outs: the three extracts at once, merge, stats, then anomalies
  * beside load. Each iteration gets a fresh stage dir (the DAG's
  * per-day `{{ ds_nodash }}` dir) and shares the output dir, whose
  * backup path it overwrites — the run timestamp is the DAG's
  * `ts_nodash` form, constant per seed so every iteration's output can
  * be compared with the seed's.
  *
  * The traced iteration runs the same work, one span per call: the
  * extracts through `StageRunner.main`, the later stages as the calls
  * `StageRunner` makes, so that merge, statistics, anomaly and each sink
  * are timed apart; the merge, statistics and anomaly spans include
  * their own stage write. [[probe]] splits the extracts apart. */
final class Ep1(spark: SparkSession, work: File, seed: Long, p: Gen.Ep1Params) extends Workload {
  val name = "ep1_daily"
  // this program approaches its JIT steady state slowly
  val warmups = 3
  val measured = 3
  private val raw = new File(work, "raw")
  private val out = new File(work, "out")
  private val runTs = f"20260101T${(seed % 24 + 24) % 24}%02d0000"
  private val sources = ProductMerge.PluginOrder
  private var drop: Gen.Drop = _
  private var stage, warmStage: File = _
  private var iter = 0
  // the seed's answers, taken from the warm-up iteration's output
  private var mergedDigest, anomalyDigest, statsJson: String = _

  def rows: Long = drop.totalLines
  def describe: String = s"${p.describe} lines=${drop.totalLines} malformed=${drop.malformed.values.sum} " +
    f"drop_mb=${drop.bytes / 1e6}%.1f run_ts=$runTs"

  def generate(): Unit = {
    Util.rm(raw)
    drop = Gen.ep1Drop(raw, seed, p)
  }

  private def nextStage(): Unit = {
    iter += 1
    stage = new File(work, s"stage/$iter")
    Util.rm(stage)
  }

  def run(tr: Option[Tracer], ops: Ops): Long = {
    nextStage()
    val (r, s, o) = (raw.getPath, stage.getPath, out.getPath)
    tr match {
      case None =>
        def stageCall(args: String*): () => Unit = () => StageRunner.main(args.toArray)
        ops.op("extract")(Par.run(None)(
          sources.map(src => stageCall(s"extract_${src.toLowerCase}", r, s, runTs)): _*))
        ops.op("merge")(stageCall("merge", s)())
        ops.op("stats")(stageCall("stats", s)())
        val first = System.nanoTime()
        ops.op("anomalies+load")(Par.run(None)(
          stageCall("anomalies", s), stageCall("load", s, o, runTs)))
        first
      case Some(t) => traced(t, ops)
    }
  }

  private def traced(t: Tracer, ops: Ops): Long = {
    val (r, s, o) = (raw.getPath, stage.getPath, out.getPath)
    def read(name: String): DataFrame = spark.read.parquet(s"$s/$name")
    ops.op("extract")(Par.run(Some(t))(sources.map { src => () =>
      t.span(s"pipeline.extract_${src.toLowerCase}")(
        StageRunner.main(Array(s"extract_${src.toLowerCase}", r, s, runTs)))
    }: _*))
    ops.op("merge")(t.span("pipeline.merge") {
      val unified = sources.map(src => read(s"transformed_$src")).reduce(_ unionByName _)
      t.span("merge")(ProductMerge.merge(unified, sources, dedupPerProduct = true, dedupGlobal = true)
        .write.mode("overwrite").parquet(s"$s/merged"))
    })
    ops.op("stats")(t.span("pipeline.stats") {
      t.span("stats")(Statistics.globalPriceStats(read("merged"))
        .coalesce(1).write.mode("overwrite").json(s"$s/statistics"))
    })
    val first = System.nanoTime()
    ops.op("anomalies+load")(Par.run(Some(t))(
      () => t.span("pipeline.anomalies") {
        val offers = read("merged")
          .select(col("brand"), col("model"), col("product_id"), explode(col("offers")).as("o"))
          .select(col("brand"), col("model"), col("product_id"),
            col("o.price").as("price"), col("o.url").as("url"))
          .where(col("price") > 0)
        t.span("anomaly")(Anomaly.zScoreAnomalies(offers, Seq("brand", "model"), "price")
          .write.mode("overwrite").parquet(s"$s/anomalies"))
      },
      () => t.span("pipeline.load") {
        val merged = read("merged")
        t.span("sinks.json")(Sinks.writeJson(merged, s"$o/marketeye_final"))
        t.span("sinks.backup")(Sinks.writeBackup(merged, s"$o/backups", runTs))
        t.span("sinks.csv")(Sinks.writeCsv(merged, s"$o/analysis_csv"))
        t.span("sinks.relational")(Sinks.writeRelationalFiles(merged, s"$o/relational"))
      }))
    first
  }

  /** After the timed loop: an extract is one lazy plan that its stage
    * write runs, so parsing, transforming and writing are timed apart
    * here, by caching and counting each step of one more extract of every
    * source, one source at a time. The merge and anomaly counts are read
    * from the warm-up's stage dir, whose digests every iteration's output
    * matched. None of this is in the iterations' spans or wall time. */
  def probe(t: Tracer, ops: Ops): Unit = t.span("probe") {
    val dir = new File(work, "probe")
    var parsed = 0L
    sources.foreach { src =>
      val schema = src match {
        case "Avito" => Schemas.avitoSchema
        case "Jumia" => Schemas.jumiaSchema
        case _ => Schemas.electroplanetSchema
      }
      val loaded = t.span("sources.load") {
        val df = JsonSource.loadSource(spark, raw.getPath, src, schema).persist()
        val n = df.count()
        parsed += n; t.count("rows", n.toDouble); df
      }
      val transformed = t.span(s"transform.${src.toLowerCase}") {
        val df = (src match {
          case "Avito" => Transforms.avito(loaded, runTs)
          case "Jumia" => Transforms.jumia(loaded, runTs)
          case _ => Transforms.electroplanet(loaded, runTs)
        }).persist()
        t.count("rows_out", df.count().toDouble); df
      }
      t.span("sinks.stage_parquet")(transformed.write.mode("overwrite").parquet(s"$dir/transformed_$src"))
      transformed.unpersist(); loaded.unpersist()
    }
    Util.rm(dir)
    val c = spark.read.parquet(s"$warmStage/merged").agg(count(lit(1)), sum(size(col("offers")))).head()
    t.count("products_out", c.getLong(0).toDouble); t.count("offers_out", c.getLong(1).toDouble)
    t.count("flagged", spark.read.parquet(s"$warmStage/anomalies").count().toDouble)
    ops.check("sources kept every well-formed line")(parsed == drop.parsed)
  }

  /** The iteration's outputs against the seed's (the first call records
    * them), and what `load` wrote against the merged rows. */
  def check(ops: Ops): Unit = Checks.interpreted(spark) {
    val s = stage.getPath
    val merged = spark.read.parquet(s"$s/merged")
    val m = Checks.digest(merged)
    val a = Checks.digest(spark.read.parquet(s"$s/anomalies"))
    val st = statsOf(s)
    if (mergedDigest == null) { mergedDigest = m; anomalyDigest = a; statsJson = st }
    ops.check("merged digest")(m == mergedDigest)
    ops.check("anomaly digest")(a == anomalyDigest)
    ops.check("statistics")(sameStats(st, statsJson))
    sinkChecks(ops, "", out.getPath, merged)
  }

  /** Each sink under `outDir` holds exactly the merged rows in its own
    * shape, recomputed here from `merged` by the export contracts
    * (FIXTURES.md): the JSON documents and the backup read back as the
    * merged rows; the CSV export is one row per offer with its 13
    * columns; the relational pair is one row per product and one per
    * offer. Digests are order-independent. */
  private def sinkChecks(ops: Ops, label: String, outDir: String, merged: DataFrame): Unit = {
    val schema = merged.schema
    val want = Checks.digest(merged)
    val offers = merged.select(col("product_id"), col("brand"), col("model"), col("product_name"),
      col("category"), explode(col("offers")).as("o"))
    def o(c: String) = col(s"o.$c").as(c)
    val csv = offers.select(col("product_id"), col("brand"), col("model"), col("product_name"),
      col("category"), o("source"), o("price"), o("original_price"), o("currency"), o("condition"),
      o("seller_type"), o("url"), o("scraped_at"))
    val relOffers = offers.select(col("product_id"), o("source"), o("price"), o("currency"),
      o("condition"), o("seller_type"), o("url"), o("scraped_at"))
    val products = spark.read.parquet(s"$outDir/relational/products")
    ops.check(s"${label}json sink")(Checks.digest(spark.read.schema(schema).json(s"$outDir/marketeye_final")) == want)
    ops.check(s"${label}backup sink")(
      Checks.digest(spark.read.schema(schema).json(s"$outDir/backups/marketeye_backup_$runTs")) == want)
    ops.check(s"${label}csv sink")(Checks.digest(
      spark.read.schema(csv.schema).option("header", "true").csv(s"$outDir/analysis_csv")) == Checks.digest(csv))
    val specs = from_json(col("specifications"), schema("specifications").dataType).as("specifications")
    ops.check(s"${label}relational products")(Checks.digest(products.select(col("product_id"), col("brand"),
      col("model"), col("product_name"), specs, col("created_at"), col("updated_at"))) ==
      Checks.digest(merged.select(col("product_id"), col("brand"), col("model"), col("product_name"),
        col("specifications"), col("created_at"), col("last_updated"))))
    ops.check(s"${label}relational offers")(
      Checks.digest(spark.read.parquet(s"$outDir/relational/offers")) == Checks.digest(relOffers))
  }

  /** Statistics JSONs agree: every field exactly, except the average,
    * whose floating-point sum depends on partitioning (relative 1e-12). */
  private def sameStats(a: String, b: String): Boolean = {
    def fields(s: String) = "\"(\\w+)\":(\\[[^]]*]|[^,}]+)".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
    val (fa, fb) = (fields(a), fields(b))
    fa.keySet == fb.keySet && fa.keys.forall {
      case "avg_price" =>
        val (x, y) = (fa("avg_price").toDouble, fb("avg_price").toDouble)
        math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y))
      case k => fa(k) == fb(k)
    }
  }

  private def statsOf(stageDir: String): String =
    MarketEyePipeline.renderStatsJson(spark.read.json(s"$stageDir/statistics")
      .select("total_products", "total_offers", "average_price", "min_price", "max_price", "sources")
      .head())

  /** The warm-up's stage dir is kept for the DuckDB recount and the probe. */
  def seedChecks(ops: Ops): Seq[(String, String)] = {
    warmStage = stage
    Seq("duckdb_merged" -> Json.str(new File(stage, "merged").getPath),
      "duckdb_statistics" -> Json.str(new File(stage, "statistics").getPath))
  }

  /** The one-program `MarketEyePipeline.run` over the same drop must give
    * the stage chain's statistics, merged rows and sink outputs. */
  val crossCheck: Option[Ops => Unit] = Some { ops =>
    val pipelineOut = new File(work, "pipeline_out")
    val t0 = System.nanoTime()
    val res = MarketEyePipeline.run(spark, MarketEyePipeline.Config(raw.getPath, pipelineOut.getPath, runTs))
    System.err.println(f"[e2ebench] set-up: MarketEyePipeline.run ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Checks.interpreted(spark) {
      ops.check("MarketEyePipeline.run statistics")(sameStats(res.statsJson, statsJson))
      ops.check("MarketEyePipeline.run merged digest")(Checks.digest(res.merged) == mergedDigest)
      sinkChecks(ops, "MarketEyePipeline.run ", pipelineOut.getPath, res.merged)
    }
    res.merged.unpersist()
    Util.rm(pipelineOut)
  }

  /** Keeps the warm-up's stage dir for the DuckDB recount; later
    * iterations' stage dirs are removed once checked. */
  def afterCheck(keep: Boolean): Unit = if (!keep) Util.rm(stage)

  def outputBytes: Long = Util.du(stage) + Util.du(out)

  def layers(t: Tracer, it: Seq[Span], outBytes: Long): Map[String, Double] = {
    val L = new Layers(t, it)
    val pipeline = Seq("extract_avito", "extract_jumia", "extract_electroplanet",
      "merge", "stats", "anomalies", "load").map(st => s"pipeline.$st.s" -> L.dur(s"pipeline.$st"))
    val transforms = sources.map(src => s"transform.${src.toLowerCase}.s" -> L.dur(s"transform.${src.toLowerCase}"))
    val rowsIn = L.count("rows")
    val rowsOut = L.count("rows_out")
    val mergeE = L.eng("merge")
    Map(
      "sources.load.s" -> L.dur("sources.load"), "sources.rows" -> rowsIn,
      "sources.input_mb" -> L.eng("sources.load").inputBytes / 1e6,
      "sources.kept_ratio" -> rowsIn / drop.totalLines,
      "transform.rows_out" -> rowsOut,
      "merge.s" -> L.dur("merge"), "merge.shuffle_write_mb" -> mergeE.shuffleWriteBytes / 1e6,
      "merge.shuffle_records" -> mergeE.shuffleRecords.toDouble, "merge.spill_mb" -> mergeE.spillBytes / 1e6,
      "merge.products_out" -> L.count("products_out"),
      "merge.offer_kept_ratio" -> L.count("offers_out") / rowsOut,
      "stats.s" -> L.dur("stats"), "anomaly.s" -> L.dur("anomaly"), "anomaly.flagged" -> L.count("flagged"),
      "sinks.json.s" -> L.dur("sinks.json"), "sinks.backup.s" -> L.dur("sinks.backup"),
      "sinks.csv.s" -> L.dur("sinks.csv"), "sinks.relational.s" -> L.dur("sinks.relational"),
      "sinks.stage_parquet.s" -> L.dur("sinks.stage_parquet"), "sinks.output_mb" -> outBytes / 1e6
    ) ++ pipeline ++ transforms
  }
}
