package graft

import graft.operators.ProductMerge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Merge-fold semantics (A1/A2): fixtures per FIXTURES.md §4 — spec-map
  * union, source union, longest-name tie-breaks, offer dedup, empty-id
  * drop, id normalization. */
class ProductMergeSpec extends SparkSuite {

  private def product(id: String, brand: String, name: String,
                      specs: Map[String, String], source: String,
                      offers: Seq[(String, Double, String, String)]): Row =
    Row(id, brand, "MODEL", name, "Smartphone", specs,
      offers.map { case (src, price, url, ts) =>
        Row(src, price, null, "MAD", "new", null, null, null, null, null, url, null, ts)
      }, Seq(source), "2026-01-01T00:00:00", "2026-01-01T00:00:00")

  private def mkDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      graft.schema.Schemas.productStruct)

  test("merge: sources union, specs first-non-null, offers concat across sources") {
    val df = mkDf(Seq(
      product("Samsung_S24", "Samsung", "Samsung S24", Map("ram" -> "8"), "Jumia",
        Seq(("Jumia", 9000.0, "u1", "t1"))),
      product("samsung s24", "Samsung", "Samsung Galaxy S24 long name",
        Map("ram" -> "12", "storage" -> "256"), "Avito",
        Seq(("Avito", 8500.0, "u2", "t2")))))
    val m = ProductMerge.merge(df).collect()
    assert(m.length == 1)
    val r = m(0)
    assert(r.getAs[String]("product_id") == "samsung_s24") // normalized
    assert(r.getSeq[String](r.fieldIndex("sources")).sorted == Seq("Avito", "Jumia"))
    val specs = r.getAs[Map[String, String]]("specifications")
    // Jumia rank 0 on the plugin order → its ram wins; storage filled from Avito
    assert(specs == Map("ram" -> "8", "storage" -> "256"))
    assert(r.getSeq[Row](r.fieldIndex("offers")).length == 2)
    assert(r.getAs[String]("product_name") == "Samsung Galaxy S24 long name") // longest
  }

  test("merge: longest-name tie keeps first-seen (source order)") {
    val df = mkDf(Seq(
      product("p_1", "B", "NAME-AVITO", Map(), "Avito", Seq(("Avito", 1.0, "u1", "t"))),
      product("p_1", "B", "NAME-JUMIA", Map(), "Jumia", Seq(("Jumia", 2.0, "u2", "t")))))
    // plugin order: Jumia first
    val plugin = ProductMerge.merge(df, ProductMerge.PluginOrder).collect()(0)
    assert(plugin.getAs[String]("product_name") == "NAME-JUMIA")
    val dag = ProductMerge.merge(df, ProductMerge.DagOrder).collect()(0)
    assert(dag.getAs[String]("product_name") == "NAME-AVITO")
  }

  test("merge: per-product (source,url) dedup, first-seen wins") {
    val df = mkDf(Seq(
      product("p_1", "B", "N", Map(), "Avito",
        Seq(("Avito", 100.0, "same-url", "t1"), ("Avito", 200.0, "same-url", "t2"),
          ("Avito", 300.0, "other-url", "t3")))))
    val r = ProductMerge.merge(df).collect()(0)
    val offers = r.getSeq[Row](r.fieldIndex("offers"))
    assert(offers.length == 2)
    assert(offers.map(_.getDouble(1)).toSet == Set(100.0, 300.0))
  }

  test("merge: global (source,price,url) dedup drops cross-product repeats") {
    val df = mkDf(Seq(
      product("p_1", "B", "N1", Map(), "Avito", Seq(("Avito", 100.0, "u", "t1"))),
      product("p_2", "B", "N2", Map(), "Avito", Seq(("Avito", 100.0, "u", "t2")))))
    val m = ProductMerge.merge(df, dedupGlobal = true)
    assert(m.count() == 1) // p_2's only offer was a global dup → product gone
    val noGlobal = ProductMerge.merge(df, dedupGlobal = false)
    assert(noGlobal.count() == 2)
  }

  test("merge: empty product_id dropped; idempotent on merged output") {
    val df = mkDf(Seq(
      product("", "B", "N", Map(), "Avito", Seq(("Avito", 1.0, "u", "t"))),
      product("ok_1", "B", "N", Map("a" -> "1"), "Avito", Seq(("Avito", 2.0, "u2", "t")))))
    val m1 = ProductMerge.merge(df)
    assert(m1.count() == 1)
    val m2 = ProductMerge.merge(m1)
    assert(m2.count() == 1)
    val (r1, r2) = (m1.collect()(0), m2.collect()(0))
    assert(r1.getAs[Map[String, String]]("specifications")
      == r2.getAs[Map[String, String]]("specifications"))
    assert(r1.getSeq[Row](r1.fieldIndex("offers")).length == r2.getSeq[Row](r2.fieldIndex("offers")).length)
  }

  test("merge: the sort-based aggregation fallback gives the default-conf answer") {
    // The suite session hash-aggregates up to 131072 keys per partition.
    // A threshold of 1 sends both typed-imperative aggregations, the
    // MinByOrd pre-reduce and the collect_list fold, through Spark's
    // sort-based fallback, which merges their buffers by another path.
    // 120 products over 2 input partitions, with per-product
    // (source,url) and cross-product (source,price,url) duplicates.
    val rows = for {
      p <- 0 until 120
      src <- ProductMerge.PluginOrder.take(1 + p % 3)
    } yield product(s"p_$p", "B", s"name-$src-${p % 7}", Map(s"k${p % 4}" -> src), src,
      Seq((src, 100.0 + p % 5, s"u${p % 50}", s"t${p % 3}"), (src, 200.0, s"u${p % 50}", "t9"),
        (src, 300.0 + p, s"v$p", "t1")))
    def merged() = ProductMerge.merge(mkDf(rows), dedupGlobal = true)
    assert("ObjectHashAggregate".r.findAllIn(
      merged().queryExecution.executedPlan.toString).size >= 2)
    val hash = merged().orderBy("product_id").collect().toSeq
    val sorted = withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      Some("1"))(merged().orderBy("product_id").collect().toSeq)
    assert(hash.length == 120)
    assert(sorted == hash)
  }

  test("merge plan: single shuffle on product_id for the fold itself") {
    val df = mkDf(Seq(
      product("p_1", "B", "N", Map(), "Avito", Seq(("Avito", 1.0, "u", "t")))))
    val plan = ProductMerge.merge(df, dedupPerProduct = false, dedupGlobal = false)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange".r.findAllIn(plan).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles in:\n$plan")
  }

  test("native OfferPriceSum: equals the aggregate/transform decimal formulation") {
    import org.apache.spark.sql.functions.{aggregate, transform, col, lit}
    val df = mkDf(Seq(
      product("p_1", "B", "N", Map(), "Avito",
        Seq(("Avito", 12.345, "u1", "t"), ("Jumia", 0.005, "u2", "t"))),
      product("p_2", "B", "N", Map(), "Avito",
        Seq(("Avito", 1e9 + 0.115, "u3", "t"))),
      product("p_3", "B", "N", Map(), "Avito", Seq())))
    def bothCols(d: DataFrame) = d.select(col("product_id"),
      aggregate(transform(col("offers"), o => o.getField("price").cast("decimal(18,2)")),
        lit(0).cast("decimal(28,2)"), (acc, p) => (acc + p).cast("decimal(28,2)"))
        .cast("double").as("hof"),
      graft.functions.OfferPriceSum(col("offers")).as("native"))
    def assertAgree(rows: Array[Row]): Unit = rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"${r.getString(0)} null mismatch")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) == r.getDouble(2), s"${r.getString(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // through the merge path (explode drops the offer-less p_3 — the
    // fold only emits products that have at least one offer)
    val merged = bothCols(
      ProductMerge.merge(df, dedupPerProduct = false, dedupGlobal = false)).collect()
    assert(merged.length == 2)
    assertAgree(merged)
    // raw frame: empty array → 0.0 on both, null price → null on both
    val withNullPrice = mkDf(Seq(
      product("p_4", "B", "N", Map(), "Avito",
        Seq(("Avito", 5.0, "u", "t"))))).withColumn("offers",
      transform(col("offers"), o => o.withField("price", lit(null).cast("double"))))
    val raw = bothCols(df).collect() ++ bothCols(withNullPrice).collect()
    assert(raw.length == 4)
    assertAgree(raw)
    assert(raw.find(_.getString(0) == "p_3").exists(r => r.getDouble(2) == 0.0))
    assert(raw.find(_.getString(0) == "p_4").exists(_.isNullAt(2)))
  }
}
