package graft

import graft.operators.{Anomaly, FrameMemo, GroupStats}
import org.apache.spark.sql.functions._

/** The anomaly family's materialize-once stats artifact: identity with
  * the standalone per-rule aggregates, in-process reuse (z3/z5 share one
  * flagged frame), and the shared memo's failure semantics. */
class GroupStatsSpec extends SparkSuite {
  import spark.implicits._

  // includes a null-keyed group (join-backs must be null-safe) and a
  // group below the min size
  private def offers() = Seq(
    (Some("a"), 100.0), (Some("a"), 200.0), (Some("a"), 300.0), (Some("a"), 600.0),
    (Some("b"), 10.0), (Some("b"), 20.0),
    (Option.empty[String], 5.0), (None, 6.0), (None, 7.0), (None, 500.0)
  ).toDF("k", "price")

  test("fullStats carries the same values the standalone aggregates compute") {
    val full = Anomaly.fullStats(offers(), Seq("k"), "price")
    // moments vs the moment-only agg
    val moments = Anomaly.momentStats(offers(), Seq("k"), "price")
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n_offers"), r.getAs[Double]("s1x"), r.getAs[Double]("s2x"))).toMap
    full.collect().foreach { r =>
      val (n, s1, s2) = moments(r.getAs[String]("k"))
      assert(r.getAs[Long]("n_offers") == n)
      assert(r.getAs[Double]("s1x") == s1 && r.getAs[Double]("s2x") == s2)
    }
    // quartiles vs the standalone percentile agg
    val q = offers().groupBy("k").agg(
        percentile(col("price"), lit(0.25)).as("q1"),
        median(col("price")).as("med"),
        percentile(col("price"), lit(0.75)).as("q3"))
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Double]("q1"), r.getAs[Double]("med"), r.getAs[Double]("q3"))).toMap
    full.collect().foreach { r =>
      val (q1, med, q3) = q(r.getAs[String]("k"))
      assert(r.getAs[Double]("q1") == q1 && r.getAs[Double]("med") == med &&
        r.getAs[Double]("q3") == q3)
    }
  }

  test("every family consumer over the artifact equals its standalone form") {
    GroupStats.clearInProcess()
    val df = offers()
    val stats = GroupStats.table(df, Seq("k"), "price", "test#offers")

    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet

    // z-score rule (and the null group survives the null-safe join-back)
    val zArt = Anomaly.zScoreAnomaliesFrom(df, stats, Seq("k"), "price", 1.0, 3)
    val zStd = Anomaly.zScoreAnomalies(df, Seq("k"), "price", 1.0, 3)
    assert(rows(zArt) == rows(zStd) && zArt.count() > 0)
    assert(zArt.where(col("k").isNull).count() ==
      zStd.where(col("k").isNull).count())

    // IQR rule
    val iArt = Anomaly.iqrAnomaliesFrom(df, stats, Seq("k"), "price", 1.5, 3)
    val iStd = Anomaly.iqrAnomalies(df, Seq("k"), "price", 1.5, 3)
    assert(rows(iArt.select("k", "price")) == rows(iStd.select("k", "price")))

    // moments join-back (t4's path) equals withGroupStats
    val mArt = Anomaly.withStatsFrom(df,
      stats.select("k", "n_offers", "s1x", "s2x"), Seq("k"))
    val mStd = Anomaly.withGroupStats(df, Seq("k"), "price")
    assert(rows(mArt.select("k", "price", "market_mean", "market_std")) ==
      rows(mStd.select("k", "price", "market_mean", "market_std")))
  }

  test("memo: the stats table, the moments tier and the flagged frame " +
      "each compute exactly once; moments rides an existing full table") {
    GroupStats.clearInProcess()
    val before = GroupStats.computeCount.get()
    val t1 = GroupStats.table(offers(), Seq("k"), "price", "test#memo")
    val t2 = GroupStats.table(offers(), Seq("k"), "price", "test#memo")
    assert(t1 eq t2)
    assert(GroupStats.computeCount.get() - before == 1)
    val f1 = GroupStats.flaggedZScore(offers(), Seq("k"), "price", 1.0, 3, "test#memo")
    val f2 = GroupStats.flaggedZScore(offers(), Seq("k"), "price", 1.0, 3, "test#memo")
    assert(f1 eq f2)
    // flagged added the moments tier (a projection — the full table was
    // already materialized, so no second corpus aggregation) + itself
    assert(GroupStats.computeCount.get() - before == 3)
    val m1 = GroupStats.moments(offers(), Seq("k"), "price", "test#memo")
    assert(m1 eq GroupStats.moments(offers(), Seq("k"), "price", "test#memo"))
    assert(GroupStats.computeCount.get() - before == 3)
    // different rule params are a different artifact
    val f3 = GroupStats.flaggedZScore(offers(), Seq("k"), "price", 2.0, 3, "test#memo")
    assert(!(f1 eq f3))
  }

  test("moments tier standalone: computes only the moment aggregate " +
      "(no quantile columns) and stays independent of a later full table") {
    GroupStats.clearInProcess()
    val m = GroupStats.moments(offers(), Seq("k"), "price", "test#alone")
    assert(m.columns.toSeq == Seq("k", "n_offers", "s1x", "s2x"))
    // its values are the standalone moment aggregation's
    val direct = Anomaly.momentStats(offers(), Seq("k"), "price")
      .collect().map(_.toSeq).toSet
    assert(m.collect().map(_.toSeq).toSet == direct)
    // a full table built AFTER does not replace the existing moments cell
    val t = GroupStats.table(offers(), Seq("k"), "price", "test#alone")
    assert(t.columns.contains("q1"))
    assert(GroupStats.moments(offers(), Seq("k"), "price", "test#alone") eq m)
  }

  test("fullStatsApprox: identical moments/extrema, discrete in-group " +
      "quartiles — the mega-group escape hatch's contract") {
    val exact = Anomaly.fullStats(offers(), Seq("k"), "price")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val approx = Anomaly.fullStatsApprox(offers(), Seq("k"), "price")
    val vals = offers().collect()
      .groupBy(_.getAs[String]("k")).view.mapValues(_.map(_.getDouble(1)).toSet)
    approx.collect().foreach { r =>
      val e = exact(r.getAs[String]("k"))
      for (c <- Seq("n_offers")) assert(r.getAs[Long](c) == e.getAs[Long](c))
      for (c <- Seq("s1x", "s2x", "min_p", "max_p"))
        assert(r.getAs[Double](c) == e.getAs[Double](c), c)
      val group = vals(r.getAs[String]("k"))
      for (c <- Seq("q1", "med", "q3")) {
        val v = r.getAs[Double](c)
        assert(group.contains(v), s"$c=$v not an element of the group")
        assert(v >= e.getAs[Double]("min_p") && v <= e.getAs[Double]("max_p"))
      }
    }
  }

  test("approx_percentile at oracle scale IS the ceil(q*n) order " +
      "statistic — DuckDB quantile_disc, the z6b twin's contract") {
    // group sizes 2..5 cover every rank-rounding edge at q=0.25/0.5/0.75
    val groups = Seq(
      "g4" -> Seq(100.0, 200.0, 300.0, 600.0),
      "g2" -> Seq(10.0, 20.0),
      "g5" -> Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      "g3" -> Seq(1.0, 2.0, 3.0))
    val df = groups.flatMap { case (k, vs) => vs.map(k -> _) }.toDF("k", "p")
    val got = Anomaly.fullStatsApprox(df, Seq("k"), "p")
      .select("k", "q1", "med", "q3").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    groups.foreach { case (k, vs) =>
      val sorted = vs.sorted
      def disc(q: Double) = sorted(math.ceil(q * sorted.size).toInt - 1)
      assert(got(k) == ((disc(0.25), disc(0.5), disc(0.75))), k)
    }
  }

  test("FrameMemo context-stop eviction covers newSession() clones") {
    val memo = new FrameMemo
    val clone = spark.newSession()
    val a = memo.getOrCompute(spark, "ctx")(offers())
    val b = memo.getOrCompute(clone, "ctx")(offers().limit(2))
    assert(!(a eq b), "entries are session-scoped")
    memo.evictContext(spark.sparkContext)
    // both the parent's and the clone's entries are gone
    assert(memo.peek(spark, "ctx").isEmpty && memo.peek(clone, "ctx").isEmpty)
  }

  test("FrameMemo never caches a poisoned cell: a throwing thunk is " +
      "evicted and the next call recomputes") {
    val memo = new FrameMemo
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    def flaky() = {
      if (calls.incrementAndGet() == 1) sys.error("transient failure")
      offers()
    }
    intercept[RuntimeException] {
      memo.getOrCompute(spark, "k1")(flaky())
    }
    assert(memo.computeCount.get() == 0, "failed thunk must not count")
    val ok = memo.getOrCompute(spark, "k1")(flaky())
    assert(ok.count() == 10)
    assert(memo.computeCount.get() == 1 && calls.get() == 2)
    // and the success is now served from the memo
    assert(memo.getOrCompute(spark, "k1")(flaky()) eq ok)
    assert(calls.get() == 2)
  }
}
