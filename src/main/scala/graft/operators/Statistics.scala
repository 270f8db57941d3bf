package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A3/A4/A5 — dataset statistics over merged product documents.
  *
  * All aggregations run at offer grain after one explode — partial
  * aggregation (map-side combine) keeps the shuffle tiny, and every result
  * frame is a handful of rows, safe to collect for report rendering.
  */
object Statistics {

  /** A3 — global stats (calculate_statistics,
    * M/dags/marketeye_etl_dag.py:743-792): product count, total offers,
    * avg/min/max over prices > 0, distinct source list. One row. */
  def globalPriceStats(merged: DataFrame): DataFrame = {
    val offers = merged.select(col("product_id"), explode(col("offers")).as("o"))
    val priced = offers.where(col("o.price") > 0)
    val total = merged.agg(
      count(lit(1)).as("total_products"),
      sum(size(col("offers"))).as("total_offers"))
    val prices = priced.agg(
      avg(col("o.price")).as("average_price"),
      min(col("o.price")).as("min_price"),
      max(col("o.price")).as("max_price"),
      sort_array(collect_set(col("o.source"))).as("sources"))
    total.crossJoin(prices)
  }

  /** A4 — distribution of a column's values, sorted desc by count
    * (_calculate_statistics, M/plugins/marketeye_operators.py:290-327). */
  def distribution(df: DataFrame, column: String): DataFrame =
    df.groupBy(column).agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), col(column))

  /** Plugin-path stats bundle: brand / source / condition distributions +
    * price stats (marketeye_operators.py:312-325). */
  def datasetStatistics(merged: DataFrame): Map[String, DataFrame] = {
    val offers = merged.select(col("product_id"), col("brand"), explode(col("offers")).as("o"))
    Map(
      "brands" -> distribution(merged, "brand"),
      "sources" -> distribution(offers.select(col("o.source").as("source")), "source"),
      "conditions" -> distribution(offers.select(col("o.condition").as("condition")), "condition"),
      "price_stats" -> offers.where(col("o.price") > 0).agg(
        avg(col("o.price")).as("avg"), min(col("o.price")).as("min"),
        max(col("o.price")).as("max"), count(lit(1)).as("n")))
  }

  /** P6 — products whose offers span more than one source
    * (offre_3.ipynb). */
  def multiSourceProducts(merged: DataFrame, limit: Int = 10): DataFrame =
    merged.where(size(col("sources")) > 1)
      .select(col("product_id"), col("product_name"), size(col("sources")).as("n_sources"),
        size(col("offers")).as("n_offers"))
      .orderBy(desc("n_sources"), desc("n_offers"), col("product_id"))
      .limit(limit)
}
