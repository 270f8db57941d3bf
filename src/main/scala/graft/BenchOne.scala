package graft
/** Single-query timing harness for iterating on one operator without
  * paying the full catalog: `runMain graft.BenchOne <query> [repeats]`.
  * Same session as [[Bench]] ([[Bench.session]], cached tables),
  * prints per-run seconds and the row count so a perf experiment can't
  * silently change the result. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName>[,<queryName>...] [repeats]")
    val names = args(0).split(",").toSeq
    val repeats = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    // the warmup count() below populates the in-process artifacts, so
    // timed runs would measure CONSUMPTION of the warmup's checkpoint,
    // not the query's computation: cleared before every timed run.
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val rows = fn(spark, sfDir).count()
      (1 to repeats).foreach { i =>
        Bench.clearArtifacts()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[bench-one] $name run$i ${(System.nanoTime() - t0) / 1e9}%.3f s  rows=$rows")
      }
    }
    Bench.stop(spark)
  }
}
