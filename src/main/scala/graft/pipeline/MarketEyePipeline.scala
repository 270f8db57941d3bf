package graft.pipeline

import graft.operators.{Anomaly, ProductMerge, Statistics}
import graft.report.Report
import graft.schema.Schemas
import graft.sinks.Sinks
import graft.sources.JsonSource
import graft.transform.Transforms
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EP1 — the full pipeline as one Spark program: three source
  * extract/transform stages (narrow), union, the single merge shuffle,
  * then tiny statistics aggregations and fan-out sinks.
  *
  * Orchestration model (per BASELINE "Spark jobs orchestrated by Airflow"):
  * stage boundaries that the reference persisted as JSON files become
  * in-memory lineage here (no re-parse between stages); [[StageRunner]]
  * runs the same stage bodies one per spark-submit, handing off through
  * parquet stage dirs when the orchestrator wants per-stage
  * checkpointing and restartability.
  *
  * At 100 TB: each transform is a scan-stage projection; the merge is one
  * hash-partitioned shuffle on product_id; statistics reuse the merged
  * frame; sinks write partitioned output. Nothing collects data-grain rows
  * to the driver except the few-row report aggregates.
  */
object MarketEyePipeline {

  case class Config(
      rawDir: String,
      outDir: String,
      runTs: String,                       // injected run timestamp (determinism)
      llmTopK: Int = 0,                    // T5: enrich top-K anomalies (0 = off)
      llmTransport: graft.operators.LlmEnrich.Transport =
        new graft.operators.LlmEnrich.StubTransport)

  case class Result(merged: DataFrame, statsJson: String, report: String,
                    anomalyReport: String)

  /** A3 statistics row → the reference's statistics.json shape
    * (calculate_statistics, M/dags/marketeye_etl_dag.py:762-775: keys
    * total_products/total_offers/avg_price/min_price/max_price/sources,
    * full float precision, sources as a deterministic sorted list where
    * the reference had Python set order). Price aggregates are NULL when
    * no offer has price > 0 (e.g. a drop where every price is a
    * sentinel) — rendered as the reference's 0 defaults, never a throw. */
  def renderStatsJson(statsRow: org.apache.spark.sql.Row): String = {
    val srcs = statsRow.getSeq[String](statsRow.fieldIndex("sources"))
      .map(s => "\"" + s + "\"").mkString("[", ",", "]")
    def d(i: Int): Double = if (statsRow.isNullAt(i)) 0.0 else statsRow.getDouble(i)
    s"""{"total_products":${statsRow.getLong(0)},"total_offers":${statsRow.getLong(1)},
       |"avg_price":${d(2)},"min_price":${d(3)},
       |"max_price":${d(4)},"sources":$srcs}""".stripMargin.replace("\n", "")
  }

  /** Extract + transform one source from the raw dir. */
  def extract(spark: SparkSession, cfg: Config, source: String): DataFrame = source match {
    case "Avito" =>
      Transforms.avito(JsonSource.loadSource(spark, cfg.rawDir, "Avito",
        Schemas.avitoSchema), cfg.runTs)
    case "Jumia" =>
      Transforms.jumia(JsonSource.loadSource(spark, cfg.rawDir, "Jumia",
        Schemas.jumiaSchema), cfg.runTs)
    case "Electroplanet" =>
      Transforms.electroplanet(JsonSource.loadSource(spark, cfg.rawDir, "Electroplanet",
        Schemas.electroplanetSchema), cfg.runTs)
    case other => throw new IllegalArgumentException(s"unknown source: $other")
  }

  /** The transformed sources, in plugin order, → merged products (the
    * one shuffle), with per-product and global offer dedup. */
  def merge(transformed: Seq[DataFrame]): DataFrame =
    ProductMerge.merge(transformed.reduce(_ unionByName _), ProductMerge.PluginOrder,
      dedupPerProduct = true, dedupGlobal = true)

  /** Anomaly run (Z1–Z6) at offer grain over (brand, model) groups: every
    * offer with a positive price. */
  def anomalies(merged: DataFrame): DataFrame = {
    val offers = merged
      .select(col("brand"), col("model"), col("product_id"), explode(col("offers")).as("o"))
      .select(col("brand"), col("model"), col("product_id"),
        col("o.price").as("price"), col("o.url").as("url"))
      .where(col("price") > 0)
    Anomaly.zScoreAnomalies(offers, Seq("brand", "model"), "price")
  }

  /** Load fan-out: the final JSON, the timestamped backup, the CSV
    * export and the relational products/offers pair under `outDir`. */
  def load(merged: DataFrame, outDir: String, runTs: String): Unit = {
    Sinks.writeJson(merged, s"$outDir/marketeye_final")
    Sinks.writeBackup(merged, s"$outDir/backups", runTs)
    Sinks.writeCsv(merged, s"$outDir/analysis_csv")
    Sinks.writeRelationalFiles(merged, s"$outDir/relational")
  }

  def run(spark: SparkSession, cfg: Config): Result = {
    // extract (3 parallel narrow stages), union, merge (the one shuffle)
    val merged = merge(ProductMerge.PluginOrder.map(extract(spark, cfg, _))).cache()

    // stats + reports (tiny aggregates)
    val statsRow = Statistics.globalPriceStats(merged).collect()(0)
    val statsJson = renderStatsJson(statsRow)
    val report = Report.detailed(merged, cfg.runTs)

    val flagged = anomalies(merged)
    val summary = Anomaly.summary(flagged, Seq("brand", "model")).collect()(0)
    val topKFrame = flagged
      .orderBy(desc("deviation_percent"), col("url"))
      .limit(math.max(10, cfg.llmTopK))
      .select("product_id", "brand", "model", "price", "deviation_percent")
    // T5 — optional per-anomaly LLM analysis on the top-K slice only (the
    // expensive service never sees the corpus, ref top_anomalies_ollama)
    if (cfg.llmTopK > 0)
      graft.operators.LlmEnrich.enrich(
          topKFrame.limit(cfg.llmTopK), "ollama_analysis",
          r => s"Analyse l'anomalie de prix: ${r.get(0)} (${r.get(1)} ${r.get(2)}) à ${r.get(3)} MAD, déviation ${r.get(4)}%",
          cfg.llmTransport)
        .write.mode("overwrite").json(s"${cfg.outDir}/top_anomalies_llm")
    val topK = topKFrame.limit(10).collect().toSeq
    val anomalyReport = Report.anomalies(summary, topK, cfg.runTs)

    load(merged, cfg.outDir, cfg.runTs)
    Result(merged, statsJson, report, anomalyReport)
  }
}
