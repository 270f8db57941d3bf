package graft

import graft.pipeline.MarketEyePipeline
import graft.operators.Statistics
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** End-to-end pipeline replay over miniature 3-source JSON fixtures
  * (FIXTURES.md shapes): extract → merge → stats → reports → sinks, with
  * hand-computed expected values in the statistics.json shape. */
class PipelineSpec extends SparkSuite {

  private def write(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes(StandardCharsets.UTF_8))

  // Avito: JSON array format, one record overlapping Jumia's galaxy s24
  private val avitoJson =
    """[
      |{"ad_id":"1","title":"Samsung Galaxy S24 Ultra 512GB","price":"8.500,00","city":"Casablanca","area":"Maarif","seller_type":"STORE","seller_name":"Store1","url":"https://www.avito.ma/vi/1.htm","list_time":"2026-01-01T10:00:00","brand":"SAMSUNG","model":"S24 ULTRA","storage":"512GB","ram":"12GB","condition":"NEUF"},
      |{"ad_id":"2","title":"iPhone 13 occasion","price":"4500 DH","city":"Rabat","brand":"NULL","model":"NULL","condition":"bon état"},
      |{"ad_id":"3","title":"Telephone pas cher","price":"NULL","brand":null,"model":null}
      |]""".stripMargin

  // Jumia: NDJSON format, includes the 13,875 comma-quirk price
  private val jumiaJson =
    """{"title":"Samsung Galaxy S24 Ultra","brand":"Samsung","price":"13,875 MAD","old_price":"15,000 MAD","rating":"4.5 out of 5","reviews_count_text":"(2 avis)","product_url":"https://www.jumia.ma/s24.html","scraped_at":"2026-01-01 09:00:00","description":"256 Go 12 Go RAM","specs":{"Stockage":"512 Go"}}
      |{"title":"Xiaomi Redmi Note 12","brand":"Xiaomi","price":"2,199 MAD","product_url":"https://www.jumia.ma/rn12.html","scraped_at":"2026-01-01 09:00:00","description":"128 Go"}""".stripMargin

  private val electroJson =
    """[
      |{"product_url":"https://www.electroplanet.ma/p1.html","name":"SAMSUNG GALAXY S24 ULTRA 12GB","brand":"Samsung","price":"9 490 DH","old_price":"9 990 DH","is_promotion":true,"category":"android","store":"Electroplanet","scraped_at":"2026-01-01 02:21:12","detailed_scraped_at":"2026-01-01 02:22:20","specifications":{"Marque":"SAMSUNG","Modèle":"S24 ULTRA","Capacité de stockage interne":"512 Go","Capacité de la RAM":"12 Go"},"reviews_summary":{"average_rating":"20","total_reviews":1},"view_count":4}
      |]""".stripMargin

  test("EP1 end-to-end: extract, merge across 3 sources, stats, reports, sinks") {
    val raw = tempDir("marketeye_raw")
    val out = tempDir("marketeye_out")
    write(raw, "avito_ads.json", avitoJson)
    write(raw, "jumia_products.json", jumiaJson)
    write(raw, "electroplanet_data.json", electroJson)

    val cfg = MarketEyePipeline.Config(rawDir = raw, outDir = out,
      runTs = "20260101_120000", llmTopK = 3)
    val res = MarketEyePipeline.run(spark, cfg)
    val merged = res.merged.collect()

    // 6 raw records; the S24 Ultra exists in all three sources → one
    // product with 3 offers + iphone13 + redmi12 + 'telephone pas cher'
    assert(merged.length == 4, merged.map(_.getAs[String]("product_id")).mkString(","))
    val s24 = merged.find(_.getAs[String]("product_id") == "samsung_s24ultra").get
    assert(s24.getSeq[String](s24.fieldIndex("sources")).toSet == Set("Avito", "Jumia", "Electroplanet"))
    val s24offers = s24.getSeq[org.apache.spark.sql.Row](s24.fieldIndex("offers"))
    assert(s24offers.length == 3)
    // Jumia first in plugin order → its quirk price 13.875 is offer 1
    assert(s24offers.head.getString(0) == "Jumia")
    assert(s24offers.head.getDouble(1) == 13.875)
    // specs merged: Jumia's dict storage first ("512 Go"), Jumia's regex
    // ram with the reference's unit formatting (jumia_extractor.py:94)
    val specs = s24.getAs[Map[String, String]]("specifications")
    assert(specs("storage") == "512 Go")   // Jumia's dict value, first-seen
    assert(specs("ram") == "12 Go")        // Jumia regex over description

    // multi-source invariant (offre_3 shape)
    val multi = Statistics.multiSourceProducts(res.merged).collect()
    assert(multi.length == 1 && multi(0).getString(0) == "samsung_s24ultra")

    // stats json + reports render (reference statistics.json key shape)
    assert(res.statsJson.contains("\"total_products\":4"))
    assert(res.statsJson.contains("\"total_offers\":6"))
    assert(res.statsJson.contains("\"avg_price\":"))
    assert(res.report.contains("TOP 5 MARQUES"))
    assert(res.anomalyReport.contains("RAPPORT D'ANOMALIES"))

    // sinks wrote distributed output
    assert(Files.list(Paths.get(out, "marketeye_final")).count() > 0)
    assert(Files.list(Paths.get(out, "relational", "products")).count() > 0)
    assert(Files.list(Paths.get(out, "analysis_csv")).count() > 0)
    // T5: the enriched top-K sink exists (empty here — no z>2 anomalies in
    // groups of 3, the max |z| in a 3-sample is 2/sqrt(3))
    assert(Files.exists(Paths.get(out, "top_anomalies_llm")))

    // A3 golden shape: avg over prices > 0 of the 6 offers
    val stats = Statistics.globalPriceStats(res.merged).collect()(0)
    val prices = merged.flatMap(r => r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("offers")))
      .map(_.getDouble(1)).filter(_ > 0)
    assert(stats.getLong(1) == 6)
    assert(math.abs(stats.getDouble(2) - prices.sum / prices.length) < 1e-9)
  }

  test("EP1 merge stage stays inside whole-stage codegen (64 KB method limit)") {
    // Regression pin for the Opaque pushdown fence (ProductMerge): without
    // it, Catalyst substitutes the transform cascades into the pushed
    // empty-id filter per union branch (47K/113K/48K-char conditions), the
    // generated processNext() passes the JVM 64 KB method limit, and Spark
    // silently de-optimizes the merge stage to interpreted execution. With
    // fallback disabled, that de-optimization becomes a hard failure this
    // test would catch.
    val raw = tempDir("marketeye_cg_raw")
    write(raw, "avito_ads.json", avitoJson)
    write(raw, "jumia_products.json", jumiaJson)
    write(raw, "electroplanet_data.json", electroJson)
    val cfg = MarketEyePipeline.Config(rawDir = raw, outDir = tempDir("marketeye_cg_out"),
      runTs = "20260101_120000")
    withConf("spark.sql.codegen.fallback", Some("false")) {
      val merged = MarketEyePipeline.merge(graft.operators.ProductMerge.PluginOrder
        .map(MarketEyePipeline.extract(spark, cfg, _)))
      assert(merged.count() == 4) // throws InternalCompilerException if any stage >64 KB
    }
  }

  test("A3 golden replay: exact statistics.json string on a 30-offer fixture") {
    // 30 Avito records over 10 products, every price 1000 (exact in
    // double, so the average is order-insensitive), unique urls so no
    // offer dedups away: total_products/total_offers/avg are pinned as an
    // exact-string golden in the reference's statistics.json shape
    // (M/data/processed/statistics.json:2-9 scaled down).
    val raw = tempDir("golden_raw")
    val out = tempDir("golden_out")
    val records = (0 until 30).map { i =>
      s"""{"ad_id":"$i","title":"Samsung Galaxy S${i % 10}","price":"1000",""" +
        s""""url":"https://www.avito.ma/vi/$i.htm","brand":"SAMSUNG","condition":"NEUF"}"""
    }
    write(raw, "avito_golden.json", records.mkString("[", ",\n", "]"))
    val res = MarketEyePipeline.run(spark,
      MarketEyePipeline.Config(rawDir = raw, outDir = out, runTs = "20260102_000000"))
    assert(res.statsJson ==
      """{"total_products":10,"total_offers":30,"avg_price":1000.0,""" +
      """"min_price":1000.0,"max_price":1000.0,"sources":["Avito"]}""",
      res.statsJson)
  }

  test("P1 electroplanet plugin: 'Modèle'='Unknown' re-runs the title cascade; price is BASE clean_price") {
    import org.apache.spark.sql.functions._
    val raw = tempDir("electro_unknown")
    // the reference's `specs.get('Modèle') or "Unknown"` + `if model ==
    // "Unknown"` means a spec that LITERALLY says 'Unknown' falls to the
    // title cascade (electroplanet_extractor.py:18-20); price goes through
    // BASE clean_price, so a comma-decimal "13,875" parses 13.875
    write(raw, "electroplanet_data.json",
      """[
        |{"product_url":"https://www.electroplanet.ma/u1.html","name":"XIAOMI REDMI NOTE 13 128GB","brand":"Xiaomi","price":"13,875 DH","store":"Electroplanet","scraped_at":"2026-01-01 02:21:12","specifications":{"Modèle":"Unknown"},"reviews_summary":{"average_rating":"20","total_reviews":1}},
        |{"product_url":"https://www.electroplanet.ma/u2.html","name":"SAMSUNG GALAXY S24","brand":"Samsung","price":"9 490 DH","store":"Electroplanet","scraped_at":"2026-01-01 02:21:12","specifications":{"Modèle":"S24 ULTRA"},"reviews_summary":{"average_rating":"20","total_reviews":1}}
        |]""".stripMargin)
    val rawDf = graft.sources.JsonSource.readJsonAuto(spark,
      graft.schema.Schemas.electroplanetSchema, Seq(s"$raw/electroplanet_data.json"))
    val got = graft.transform.Transforms.electroplanet(rawDf, "ts")
      .select(col("product_id"), col("model"),
        element_at(col("offers"), 1).getField("price").as("price"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got("xiaomi_128gb") == ("128GB", 13.875))  // cascade ran; comma-decimal quirk
    assert(got("samsung_s24ultra")._1 == "S24 ULTRA") // verbatim spec model kept
  }

  test("S4b array sink: JSONL parts re-framed as one parseable JSON array") {
    import spark.implicits._
    val out = tempDir("arraysink")
    val df = Seq(("a", 1), ("é", 2), ("c", 3)).toDF("k", "v").repartition(2)
    val file = s"$out/final.json"
    graft.sinks.Sinks.writeJsonArray(df, s"$out/staging", file)
    val txt = new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.UTF_8)
    assert(txt.startsWith("[\n") && txt.endsWith("]\n"))
    // valid JSON array with all rows and raw UTF-8 (ensure_ascii=False)
    val parsed = spark.read.option("multiLine", "true").json(file)
    assert(parsed.count() == 3)
    assert(txt.contains("é") && !txt.contains("\\u00e9"))
  }

  test("S5 backup sink: a second run with an ISO runTs overwrites the backup") {
    import spark.implicits._
    val out = tempDir("backupsink")
    val runTs = "2026-01-01T01:00:00"
    val first = graft.sinks.Sinks.writeBackup(Seq("a", "b").toDF("k"), out, runTs)
    val second = graft.sinks.Sinks.writeBackup(Seq("c").toDF("k"), out, runTs)
    assert(second == first && !first.contains(":"))
    assert(spark.read.json(second).as[String].collect().toSeq == Seq("c"))
    // ts_nodash run names (what the DAG passes) keep their exact dir name
    assert(graft.sinks.Sinks.writeBackup(Seq("d").toDF("k"), out, "20260101T010000") ==
      s"$out/marketeye_backup_20260101T010000")
  }

  test("S1 reader: array vs NDJSON autodetect; malformed lines dropped") {
    val raw = tempDir("jsonsrc")
    write(raw, "avito_mixed.json",
      """{"ad_id":"1","title":"ok","price":"100"}
        |not json at all
        |{"ad_id":"2","title":"ok2","price":"200"}""".stripMargin)
    val df = graft.sources.JsonSource.readJsonAuto(spark,
      graft.schema.Schemas.avitoSchema, Seq(s"$raw/avito_mixed.json"))
    assert(df.count() == 2)
  }

  test("S2 discovery: pattern filter per source") {
    val raw = tempDir("disc")
    Seq("avito_ads.json", "jumia_products.json", "electro_items.json", "readme.txt")
      .foreach(f => write(raw, f, "[]"))
    def names(src: String) =
      graft.sources.JsonSource.discoverFiles(spark, raw, src).map(_.split('/').last)
    assert(names("Avito") == Seq("avito_ads.json"))
    assert(names("Jumia") == Seq("jumia_products.json"))
    assert(names("Electroplanet") == Seq("electro_items.json"))
  }

  test("S3 scrubber: nan/none/null strings to real nulls") {
    import spark.implicits._
    val df = Seq(("NaN", "x"), ("none", "y"), ("ok", "NULL")).toDF("a", "b")
    val got = graft.sources.JsonSource.scrubNaNStrings(df).collect()
    assert(got(0).isNullAt(0) && got(1).isNullAt(0) && !got(2).isNullAt(0))
    assert(got(2).isNullAt(1))
  }
}
