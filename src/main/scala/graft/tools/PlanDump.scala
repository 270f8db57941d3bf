package graft.tools

import scala.util.control.NonFatal

/** Dumps `.explain("formatted")` for catalog queries to files — the
  * plan-shape evidence (Exchange count, join strategy, PushedFilters,
  * ReadSchema, WholeStageCodegen spans) the optimization rounds commit
  * under `plans/<round>/`. The session is [[graft.Bench.session]], so the
  * dumped plan is the one the bench actually runs.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [suffix] [query...]
  *   writes <outDir>/<query>_<suffix>.txt (suffix default "before").
  *   With no query names, dumps the whole catalog. Exits 2 on an
  *   unknown query name (before building the session), 1 if any dump
  *   failed.
  *
  * Note: the st* streaming wrappers EXECUTE their stream when
  * constructed (the returned frame is the batch aggregate over the
  * sink), so their dumped plan is that post-hoc batch plan — the
  * streaming plan itself is visible via StreamBench/StreamingSpec.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [suffix] [query...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = if (args.length > 1) args(1) else "before"
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[plandump] unknown query name(s): ${unknown.mkString(", ")}")
      sys.exit(2) // a typo must not leave an empty plan dir and exit 0
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    java.nio.file.Files.createDirectories(outDir)
    val failed = names.filterNot { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        // capture explain output instead of letting it hit stdout
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $n")
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
        false
      }
    }
    graft.Bench.stop(spark)
    if (failed.nonEmpty) sys.exit(1)
  }
}
