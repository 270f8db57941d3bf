package graft

/** The shuffle width rule of the engine's one session: a local session
  * whose width nobody set gets half its threads; a width someone set and
  * a non-local master are left as found. */
class SparkEntrySpec extends SparkSuite {

  private val width = "spark.sql.shuffle.partitions"

  test("session(): a local session whose shuffle width nobody set gets half its threads") {
    assert(spark.sparkContext.master == "local[8]" && spark.sparkContext.isLocal)
    withConf(width, None) {
      SparkEntry.session()
      assert(spark.conf.get(width) == "4")
    }
  }

  test("session(): a shuffle width someone set is kept") {
    withConf(width, Some("7")) {
      SparkEntry.session()
      assert(spark.conf.get(width) == "7")
    }
  }

  test("filledWidth: half the local threads; none for a non-local master or a set width") {
    assert(SparkEntry.filledWidth(isLocal = true, "local[8]", widthSet = false).contains(4))
    assert(SparkEntry.filledWidth(isLocal = true, "local[3, 2]", widthSet = false).contains(1))
    assert(SparkEntry.filledWidth(isLocal = true, "local", widthSet = false).contains(1))
    assert(SparkEntry.filledWidth(isLocal = true, "local[1]", widthSet = false).contains(1))
    assert(SparkEntry.filledWidth(isLocal = true, "local[*]", widthSet = false).contains(
      math.max(1, Runtime.getRuntime.availableProcessors / 2)))
    assert(SparkEntry.filledWidth(isLocal = true, "local[8]", widthSet = true).isEmpty)
    Seq("spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]",
      "mesos://host:5050").foreach { m =>
      assert(SparkEntry.filledWidth(isLocal = false, m, widthSet = false).isEmpty, m)
    }
  }
}
