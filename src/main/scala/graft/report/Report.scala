package graft.report

import graft.operators.Statistics
import org.apache.spark.sql.{DataFrame, Row}

/** R1/R2 — French text reports rendered from tiny collected aggregates
  * (generate_report, M/dags/marketeye_etl_dag.py:794-832; _generate_report,
  * M/plugins/marketeye_operators.py:416-473). Only the final few-row stat
  * frames are collected — never data-grain rows. */
object Report {

  /** R1-DAG — the DAG-path report BYTE-EXACT (generate_report,
    * dag:794-817): the Python triple-quoted f-string's leading newline,
    * 12-space indentation (including on the "blank" lines), and trailing
    * indent are all part of the committed artifacts and are preserved.
    * GoldenReplaySpec reproduces a committed report file byte-for-byte
    * from the committed statistics.json. (Formatting nit carried: Python
    * :.2f rounds half-even where Java %.2f rounds half-up — no committed
    * value sits on a boundary.) */
  def dagReport(totalProducts: Long, totalOffers: Long, avgPrice: Double,
                minPrice: Double, maxPrice: Double, sources: Seq[String],
                generatedAt: String): String = {
    val i = "            "
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    "\n" +
      i + "===========================================\n" +
      i + s"RAPPORT ETL MARKETEYE - $generatedAt\n" +
      i + "===========================================\n" +
      i + "\n" +
      i + "📊 RÉSUMÉ:\n" +
      i + s"- Produits uniques: $totalProducts\n" +
      i + s"- Offres totales: $totalOffers\n" +
      i + s"- Prix moyen: ${f2(avgPrice)} MAD\n" +
      i + s"- Prix min: ${f2(minPrice)} MAD\n" +
      i + s"- Prix max: ${f2(maxPrice)} MAD\n" +
      i + "\n" +
      i + s"🌐 SOURCES: ${sources.mkString(", ")}\n" +
      i + "\n" +
      i + "✅ Pipeline exécuté avec succès!\n" +
      i
  }

  /** R2 — plugin-path report: adds top-5 brands and per-source /
    * per-condition distributions (marketeye_operators.py:431-471). */
  def detailed(merged: DataFrame, generatedAt: String): String = {
    val stats = Statistics.datasetStatistics(merged)
    val top5 = stats("brands").limit(5).collect()
      .map(r => s"  ${r.get(0)}: ${r.getLong(1)} produits").mkString("\n")
    val bySource = stats("sources").collect()
      .map(r => s"  ${r.get(0)}: ${r.getLong(1)} offres").mkString("\n")
    val byCondition = stats("conditions").collect()
      .map(r => s"  ${r.get(0)}: ${r.getLong(1)} offres").mkString("\n")
    val p = stats("price_stats").collect()(0)
    f"""=== RAPPORT DÉTAILLÉ MARKETEYE ===
       |Généré le: $generatedAt
       |
       |TOP 5 MARQUES
       |-------------
       |$top5
       |
       |RÉPARTITION PAR SOURCE
       |----------------------
       |$bySource
       |
       |RÉPARTITION PAR ÉTAT
       |--------------------
       |$byCondition
       |
       |PRIX (offres > 0)
       |-----------------
       |Moyen: ${p.getDouble(0)}%.2f MAD | Min: ${p.getDouble(1)}%.2f MAD | Max: ${p.getDouble(2)}%.2f MAD (n=${p.getLong(3)})
       |""".stripMargin
  }

  /** Z5-style anomaly report (anomaly_report_20260102_201927.txt shape). */
  def anomalies(summary: Row, topK: Seq[Row], generatedAt: String): String = {
    val top = topK.zipWithIndex.map { case (r, i) =>
      s"  ${i + 1}. produit=${r.get(0)} prix=${r.get(3)} déviation=${r.get(4)}%"
    }.mkString("\n")
    s"""=== RAPPORT D'ANOMALIES DE PRIX ===
       |Généré le: $generatedAt
       |
       |Anomalies totales: ${summary.getLong(summary.fieldIndex("total_anomalies"))}
       |Groupes avec anomalies: ${summary.getLong(summary.fieldIndex("groups_with_anomalies"))}
       |Trop haut: ${summary.getLong(summary.fieldIndex("n_trop_haut"))} | Trop bas: ${summary.getLong(summary.fieldIndex("n_trop_bas"))}
       |
       |TOP ANOMALIES
       |-------------
       |$top
       |""".stripMargin
  }
}
