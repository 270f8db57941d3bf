package graft

import graft.pipeline.StageRunner
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** The spark-submit stage chain end-to-end over the miniature fixtures,
  * including the optional JDBC load leg against embedded Derby: database
  * auto-created, products/offers written with indexable column types,
  * index DDL issued and idempotent (S6 complete). */
class StageRunnerSpec extends SparkSuite {

  private def write(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes(StandardCharsets.UTF_8))

  // same 3-source fixture shapes as PipelineSpec (4 products / 6 offers)
  private val avitoJson =
    """[
      |{"ad_id":"1","title":"Samsung Galaxy S24 Ultra 512GB","price":"8.500,00","city":"Casablanca","area":"Maarif","seller_type":"STORE","seller_name":"Store1","url":"https://www.avito.ma/vi/1.htm","list_time":"2026-01-01T10:00:00","brand":"SAMSUNG","model":"S24 ULTRA","storage":"512GB","ram":"12GB","condition":"NEUF"},
      |{"ad_id":"2","title":"iPhone 13 occasion","price":"4500 DH","city":"Rabat","brand":"NULL","model":"NULL","condition":"bon état"},
      |{"ad_id":"3","title":"Telephone pas cher","price":"NULL","brand":null,"model":null}
      |]""".stripMargin

  private val jumiaJson =
    """{"title":"Samsung Galaxy S24 Ultra","brand":"Samsung","price":"13,875 MAD","old_price":"15,000 MAD","rating":"4.5 out of 5","reviews_count_text":"(2 avis)","product_url":"https://www.jumia.ma/s24.html","scraped_at":"2026-01-01 09:00:00","description":"256 Go 12 Go RAM","specs":{"Stockage":"512 Go"}}
      |{"title":"Xiaomi Redmi Note 12","brand":"Xiaomi","price":"2,199 MAD","product_url":"https://www.jumia.ma/rn12.html","scraped_at":"2026-01-01 09:00:00","description":"128 Go"}""".stripMargin

  private val electroJson =
    """[
      |{"product_url":"https://www.electroplanet.ma/p1.html","name":"SAMSUNG GALAXY S24 ULTRA 12GB","brand":"Samsung","price":"9 490 DH","old_price":"9 990 DH","is_promotion":true,"category":"android","store":"Electroplanet","scraped_at":"2026-01-01 02:21:12","detailed_scraped_at":"2026-01-01 02:22:20","specifications":{"Marque":"SAMSUNG","Modèle":"S24 ULTRA","Capacité de stockage interne":"512 Go","Capacité de la RAM":"12 Go"},"reviews_summary":{"average_rating":"20","total_reviews":1},"view_count":4}
      |]""".stripMargin

  test("stage chain + Derby JDBC load: DB created, counts match, index DDL issued, idempotent") {
    spark.sparkContext // force the suite session so StageRunner reuses it
    val raw = tempDir("sr_raw")
    val stage = tempDir("sr_stage")
    val out = tempDir("sr_out")
    write(raw, "avito_ads.json", avitoJson)
    write(raw, "jumia_products.json", jumiaJson)
    write(raw, "electroplanet_data.json", electroJson)

    // production runs the engine's one session: a stage call sets the
    // shared conf on the session it runs in (here the sort-based
    // aggregation fallback, which Spark's default puts at 128 keys)
    val oha = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    withConf(oha, None) {
      StageRunner.main(Array("extract_avito", raw, stage, "20260101_120000"))
      assert(spark.conf.get(oha) == "131072")
    }
    Seq("extract_jumia", "extract_electroplanet").foreach { s =>
      StageRunner.main(Array(s, raw, stage, "20260101_120000"))
    }
    StageRunner.main(Array("merge", stage))
    StageRunner.main(Array("stats", stage))
    StageRunner.main(Array("anomalies", stage))

    val url = s"jdbc:derby:${tempDir("sr_db")}/marketeye;create=true"
    StageRunner.main(Array("load", stage, out, "20260101_120000", url))

    // row counts through a JDBC read-back
    val props = new java.util.Properties()
    assert(spark.read.jdbc(url, "products", props).count() == 4)
    assert(spark.read.jdbc(url, "offers", props).count() == 6)

    // the index DDL actually executed (Derby metadata, uppercase names)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getIndexInfo(null, null, "PRODUCTS", false, false)
      val names = scala.collection.mutable.Set.empty[String]
      while (rs.next()) Option(rs.getString("INDEX_NAME")).foreach(names += _)
      rs.close()
      assert(names.exists(_.equalsIgnoreCase("idx_products_brand")), names.toString)
      assert(names.exists(_.equalsIgnoreCase("idx_products_product_id")), names.toString)
    } finally conn.close()

    // idempotent re-run: already-exists errors are swallowed
    graft.sinks.Sinks.createIndexes(url, props)

    // file sinks of the load stage also present
    assert(Files.list(Paths.get(out, "marketeye_final")).count() > 0)
    assert(Files.list(Paths.get(out, "relational", "offers")).count() > 0)
  }

  test("stage chain output is identical at Spark's 200 shuffle partitions and at the filled width") {
    val raw = tempDir("sw_raw")
    // four more S24 Ultra ads, so that product's offer group holds 7 and
    // its priciest offer (Jumia's) flags: with the sample σ and k = 2 no
    // offer can flag in a group of fewer than 6
    val moreAds = (10 to 13).map { i =>
      s"""{"ad_id":"$i","title":"Samsung Galaxy S24 Ultra 512GB","price":"8.${i - 4}00,00","city":"Rabat","seller_type":"STORE","seller_name":"Store$i","url":"https://www.avito.ma/vi/$i.htm","list_time":"2026-01-01T10:00:00","brand":"SAMSUNG","model":"S24 ULTRA","storage":"512GB","ram":"12GB","condition":"NEUF"}"""
    }
    write(raw, "avito_ads.json", avitoJson.replace("\n]", moreAds.map(",\n" + _).mkString + "\n]"))
    write(raw, "jumia_products.json", jumiaJson)
    write(raw, "electroplanet_data.json", electroJson)
    val width = "spark.sql.shuffle.partitions"
    // a stage output's schema, then its rows in sorted order with map
    // columns as key-sorted entries: the same under any partitioning if
    // the output is
    def rows(dir: String): Seq[String] = {
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(dir)
      df.schema.json +: df.select(df.schema.fields.toSeq.map { f => f.dataType match {
        case _: org.apache.spark.sql.types.MapType => array_sort(map_entries(col(f.name))).as(f.name)
        case _ => col(f.name)
      }}: _*).toJSON.collect().toSeq.sorted
    }
    def chain(set: Option[String], expected: String): (Seq[String], Seq[String], Seq[String]) =
      withConf(width, set) {
        val stage = tempDir("sw_stage")
        Seq("extract_avito", "extract_jumia", "extract_electroplanet").foreach { s =>
          StageRunner.main(Array(s, raw, stage, "20260101_120000"))
        }
        Seq("merge", "stats", "anomalies").foreach(s => StageRunner.main(Array(s, stage)))
        assert(spark.conf.get(width) == expected)
        val stats = spark.read.text(s"$stage/statistics").collect().map(_.getString(0)).toSeq.sorted
        (rows(s"$stage/merged"), rows(s"$stage/anomalies"), stats)
      }
    val (merged200, anomalies200, stats200) = chain(Some("200"), "200")
    val (merged, anomalies, stats) = chain(None, "4")
    assert(merged200.size == 1 + 4 && anomalies200.size == 1 + 1 && stats200.nonEmpty)
    assert(merged == merged200)
    assert(anomalies == anomalies200)
    assert(stats == stats200)
  }

  test("decimal money view: DECIMAL(12,2) offers through the JDBC sink, doubles by default") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val merged = spark.sql(
      """SELECT 'p1' AS product_id, 'Samsung' AS brand, 's24' AS model,
        |  'Galaxy S24' AS product_name, named_struct('Stockage', '512 Go') AS specifications,
        |  '2026-01-01' AS created_at, '2026-01-01' AS last_updated,
        |  array(named_struct('source', 'jumia', 'price', 13.875D, 'currency', 'MAD',
        |    'condition', 'new', 'seller_type', 's', 'url', 'u', 'scraped_at', 't')) AS offers""".stripMargin)
    // default: the hash-match double path is untouched
    val (_, offersDbl) = graft.sinks.Sinks.relational(merged)
    assert(offersDbl.schema("price").dataType == DoubleType)
    // decimal view: exact money at the sink boundary
    val (_, offersDec) = graft.sinks.Sinks.relational(merged, decimalMoney = true)
    assert(offersDec.schema("price").dataType == DecimalType(12, 2))
    val url = s"jdbc:derby:${tempDir("sr_decdb")}/money;create=true"
    offersDec.write.mode(org.apache.spark.sql.SaveMode.Overwrite).jdbc(url, "offers_dec", new java.util.Properties())
    val back = spark.read.jdbc(url, "offers_dec", new java.util.Properties())
    assert(back.schema("price").dataType == DecimalType(12, 2), back.schema("price").dataType)
    assert(back.select(col("price").cast("string")).head().getString(0) == "13.88") // half-up at 2dp
  }

  test("S7 contract: mongo write spec mirrors the reference's truncate+insert+indexes") {
    import graft.sinks.Sinks
    val spec = Sinks.mongoWriteSpec("mongodb://admin@mongodb:27017", "marketeye", "products")
    // golden options map — the connector receives exactly this
    assert(spec.options == Map(
      "connection.uri" -> "mongodb://admin@mongodb:27017",
      "database" -> "marketeye",
      "collection" -> "products",
      "operationType" -> "insert"))
    // delete_many({}) + insert_many == Overwrite + insert, NOT an upsert
    assert(spec.mode == org.apache.spark.sql.SaveMode.Overwrite)
    // the three reference indexes, unique product_id first (dag:965-967)
    assert(spec.indexes == Seq(
      Sinks.MongoIndex("product_id", unique = true),
      Sinks.MongoIndex("brand", unique = false),
      Sinks.MongoIndex("price", unique = false)))
  }

  test("S7: writeMongo executes the real DSv2 write path into the mongodb double") {
    // graft.mongomock registers a recording TableProvider under the
    // connector's short name (test classpath only), so this runs Spark's
    // actual V2 write machinery — V1 Overwrite → truncate() negotiation,
    // writer-factory serialization, per-partition writers, driver commit —
    // instead of string-asserting the options map
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.mongomock.MongoMock
    MongoMock.reset()
    val merged = Seq(
      ("p1", "Samsung", Seq(("Jumia", 999.0))),
      ("p2", "Apple", Seq(("Avito", 10999.0), ("Electroplanet", 10499.0))))
      .toDF("product_id", "brand", "offers_raw")
      .withColumn("offers", col("offers_raw").cast(
        "array<struct<source:string,price:double>>"))
      .drop("offers_raw")
      .repartition(3) // multiple writer tasks exercise the commit fan-in
    graft.sinks.Sinks.writeMongo(merged, "mongodb://localhost:27017", "db", "c")
    val rec = MongoMock.last.getOrElse(fail("no DSv2 write recorded"))
    // delete_many({}) semantics arrived as a truncate, not a drop-recreate
    assert(rec.truncated, "Overwrite must negotiate truncate() on the writer")
    // the golden options map crossed the boundary intact (DSv2 hands the
    // provider a CaseInsensitiveStringMap — keys arrive lower-cased)
    val opts = rec.options.map { case (k, v) => k.toLowerCase -> v }
    assert(opts("connection.uri") == "mongodb://localhost:27017")
    assert(opts("database") == "db" && opts("collection") == "c")
    assert(opts("operationtype") == "insert")
    // full merged documents, nested offers array preserved in the schema
    assert(rec.nRows == 2 && rec.productIds == Seq("p1", "p2"))
    assert(rec.schema.fieldNames.contains("offers") &&
      rec.schema("offers").dataType.typeName == "array")
  }
}
