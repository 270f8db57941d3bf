package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — dump only those
    // (single-operator iteration; the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = String.valueOf(e.getMessage)
          failed += name -> msg
          System.err.println(s"[verify] $name failed: $msg")
          // Write an explicit one-row error frame in the query's slot: the
          // driver's DuckDB compare then records a loud schema/hash
          // MISMATCH for this query instead of silently dropping it from
          // the round's correctness report (round-6 lesson: 4 streaming
          // failures vanished and the artifact read as fully green).
          try {
            import spark.implicits._
            Seq(msg).toDF("__query_error")
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case _: Throwable => () }
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failure sidecar: a loud, machine-readable record of what failed.
    // (Exit stays 0 so the driver still runs the DuckDB compare — the
    // error frames above surface each failure as a per-query mismatch.)
    if (failed.nonEmpty) {
      Files.writeString(Paths.get(s"$outDir/_verify_failures.json"),
        failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
    }
    spark.stop()
  }
}
