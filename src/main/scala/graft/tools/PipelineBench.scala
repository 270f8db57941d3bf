package graft.tools

import graft.SparkEntry

import scala.util.control.NonFatal

/** Pipeline-mode bench: runs a query FAMILY in one session with the
  * pair-graph artifact SHARED — the production shape, where the corpus
  * snapshot's near-dup pairs are materialized once and every downstream
  * step (clustering, manifest, splits, pretrain program) consumes them.
  *
  * Why a separate tool: the per-query instruments (Bench / BenchOne /
  * bench_perq.py) deliberately CLEAR the in-process artifact between
  * timed runs so each number measures one query's computation,
  * like-for-like with a per-query oracle. That posture can never observe
  * the artifact's whole point — that the first family member pays the
  * ~300 s candidate+verify prefix once and the rest pay only their own
  * work (at sf10 the five queries each re-paid the prefix before r10:
  * 394.6/373.1/315.3/337.0/286.9 s, scratch/BENCH_perq_sf10.json). This
  * tool runs the family IN ORDER in one JVM and reports each member's
  * marginal time under sharing, plus the family total to put against the
  * per-query sum.
  *
  * No warmup pass (it would pre-pay the artifact and hide the build);
  * tables are prewarmed untimed, same as the per-query harness. Single
  * timed pass — at big sf the minutes-long first query amortizes codegen
  * internally, and a second pass would measure only consumption.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.PipelineBench
  *          [out.json] [q1 q2 ...]
  * Default family: d2 → d8 → d10 → x17 → x22b.
  * Env: SPARK_GRAFT_PAIR_CACHE additionally persists the artifact to
  * disk during the run (the cross-process design point). */
object PipelineBench {
  val DefaultFamily: Seq[String] = Seq(
    "d2_minhash_neardup", "d8_neardup_clusters", "d10_dedup_apply",
    "x17_cluster_split", "x22b_pretrain_neardup")

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("scratch/BENCH_pipeline.json")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultFamily
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus.toInt)

    graft.Bench.clearArtifacts()
    graft.Queries.prewarmTables(spark, sfDir)

    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = names.map { name =>
      System.err.println(s"[pipeline] start $name")
      val t0 = System.nanoTime()
      val sec =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case NonFatal(e) =>
          failed += name
          System.err.println(s"[pipeline] $name FAILED: ${e.getMessage}")
          -1.0
        }
      System.err.println(f"[pipeline] $name%-24s $sec%8.2f s")
      name -> sec
    }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val qs = results.map { case (k, v) => f""""$k":$v%.2f""" }
      .mkString("{", ",", "}")
    val pairMode = sys.env.get("SPARK_GRAFT_PAIR_CACHE")
      .map(d => s"in_process_shared+disk:$d").getOrElse("in_process_shared")
    val doc =
      s"""{"metric":"pipeline_total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""order":[${names.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""pair_graph_cache":"$pairMode","n_failed":${failed.size},""" +
        s""""failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"sf":"$sfDir",""" +
        s""""mode":"pipeline single JVM, family in order, artifact shared"}"""
    println(doc)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (doc + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[pipeline] $outPath: $e") }
    graft.Bench.stop(spark)
    if (failed.nonEmpty) sys.exit(1)
  }
}
