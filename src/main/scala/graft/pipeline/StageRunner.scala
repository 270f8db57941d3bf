package graft.pipeline

import graft.SparkEntry
import graft.operators.ProductMerge
import graft.sinks.Sinks
import org.apache.spark.sql.SparkSession

/** Per-stage CLI for external orchestration (Airflow `SparkSubmitOperator`,
  * cron, anything that can spark-submit): each invocation runs ONE pipeline
  * stage and exchanges data with its neighbors through parquet stage dirs —
  * the distributed replacement for the reference's shared-volume JSON files
  * (each Airflow task re-read its predecessor's JSON;
  * M/dags/marketeye_etl_dag.py:627,751,847).
  *
  * Usage (see airflow/marketeye_spark_dag.py for the DAG wiring):
  *
  *   StageRunner extract_avito  <rawDir> <stageDir> <runTs>
  *   StageRunner extract_jumia  <rawDir> <stageDir> <runTs>
  *   StageRunner extract_electroplanet <rawDir> <stageDir> <runTs>
  *   StageRunner merge          <stageDir>
  *   StageRunner stats          <stageDir>
  *   StageRunner anomalies      <stageDir>
  *   StageRunner load           <stageDir> <outDir> <runTs>
  *
  * Idempotent per stage (overwrite semantics) so Airflow retries are safe.
  */
object StageRunner {

  def main(args: Array[String]): Unit = {
    // under spark-submit this builds the app session and stops it at the
    // end; when a session already exists (embedded/test use) reuse it and
    // leave its lifecycle to the caller
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = SparkEntry.session()
    args.toList match {
      case stage :: rest if stage.startsWith("extract_") =>
        val (rawDir, stageDir, runTs) = (rest(0), rest(1), rest(2))
        val source = stage.stripPrefix("extract_").capitalize
        MarketEyePipeline.extract(spark,
            MarketEyePipeline.Config(rawDir, stageDir, runTs), source)
          .write.mode("overwrite").parquet(s"$stageDir/transformed_$source")

      case "merge" :: stageDir :: _ =>
        MarketEyePipeline.merge(ProductMerge.PluginOrder
            .map(src => spark.read.parquet(s"$stageDir/transformed_$src")))
          .write.mode("overwrite").parquet(s"$stageDir/merged")

      case "stats" :: stageDir :: _ =>
        val merged = spark.read.parquet(s"$stageDir/merged")
        graft.operators.Statistics.globalPriceStats(merged)
          .coalesce(1).write.mode("overwrite").json(s"$stageDir/statistics")

      case "anomalies" :: stageDir :: _ =>
        MarketEyePipeline.anomalies(spark.read.parquet(s"$stageDir/merged"))
          .write.mode("overwrite").parquet(s"$stageDir/anomalies")

      case "load" :: stageDir :: outDir :: runTs :: rest =>
        val merged = spark.read.parquet(s"$stageDir/merged")
        MarketEyePipeline.load(merged, outDir, runTs)
        // optional 5th arg: JDBC URL — the reference's PostgreSQL load
        // (create DB if absent → write products/offers → index DDL,
        // M/dags/marketeye_etl_dag.py:838-927)
        rest.headOption.foreach { jdbcUrl =>
          val props = new java.util.Properties()
          Sinks.ensureDatabase(jdbcUrl, props)
          Sinks.writeJdbc(merged, jdbcUrl, props)
          Sinks.createIndexes(jdbcUrl, props)
        }

      case other =>
        System.err.println(s"unknown stage: ${other.mkString(" ")}")
        sys.exit(2)
    }
    if (!preExisting) spark.stop()
  }
}
