package graft.e2ebench

import graft.tools.ScaleGen
import org.apache.spark.sql.SparkSession

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.util.Random

/** Seeded inputs of both workloads. The same seed gives the same
  * files; the programs under test only ever see these files.
  *
  * The EP1 drop is NDJSON (the splittable scale path) for Avito, Jumia
  * and Electroplanet, in the record shapes of FIXTURES.md §1–3, with their
  * edge cases: European and currency-suffixed prices, "NULL"/null/0
  * prices, records without brand and model (title-only ids, some Arabic),
  * re-scraped duplicate lines and a few malformed lines. Offers pick a
  * catalog product with a skewed popularity, so merge fan-in varies per
  * product; a share of Avito offers is a title-only long tail of
  * singleton products.
  *
  * The curation corpora are ScaleGen documents rows for an id window that
  * the seed chooses, so each seed gets fresh text with the same planted
  * near/exact-duplicate structure.
  */
object Gen {

  final case class Ep1Params(offers: Int, products: Int, tailShare: Double,
                             dupShare: Double, malformedShare: Double) {
    def describe: String =
      s"offers=$offers products=$products tail=$tailShare dup=$dupShare malformed=$malformedShare"
  }

  /** What a drop holds: lines written per source and how many of them are
    * malformed (the reader must drop exactly those). */
  final case class Drop(lines: Map[String, Long], malformed: Map[String, Long], bytes: Long) {
    def totalLines: Long = lines.values.sum
    def parsed: Long = totalLines - malformed.values.sum
  }

  private val Brands = Seq(
    ("SAMSUNG", "Samsung", "Galaxy A"), ("APPLE", "Apple", "iPhone "),
    ("XIAOMI", "Xiaomi", "Redmi Note "), ("HUAWEI", "Huawei", "Nova "),
    ("OPPO", "Oppo", "Reno "), ("REALME", "Realme", "C"),
    ("INFINIX", "Infinix", "Hot "), ("TECNO", "Tecno", "Spark "),
    ("HONOR", "Honor", "X"), ("NOKIA", "Nokia", "G"))
  private val Suffixes = Seq("", " Pro", " Ultra", " Plus", " Lite")
  private val Cities = Seq("Casablanca", "Rabat", "Marrakech", "Fes", "Tanger", "Agadir")
  private val Conditions = Seq("NEUF", "bon état", "Comme neuf", "USED", "excellent", null)
  private val TailWords = Seq("telephone", "portable", "pas", "cher", "occasion", "tres",
    "bon", "etat", "urgent", "vente", "original", "debloque", "avec", "chargeur")
  private val ArabicWords = Seq("هاتف", "جديد", "مستعمل", "للبيع", "ممتاز")

  private def storage(j: Int): Int = Seq(64, 128, 256, 512)(j % 4)
  private def ram(j: Int): Int = Seq(4, 6, 8, 12)(j % 4)

  /** Catalog product j: (brand field, brand display, model, base price). */
  private def product(j: Int): (String, String, String, Double) = {
    val (field, display, series) = Brands(j % Brands.size)
    val model = s"$series${10 + j / Brands.size}${Suffixes(j % Suffixes.size)}"
    (field, display, model, 600.0 + (j * 7919L % 14000))
  }

  /** Writes avito_ads.json, jumia_products.json and
    * electroplanet_data.json (NDJSON) under `dir`. */
  def ep1Drop(dir: File, seed: Long, p: Ep1Params): Drop = {
    dir.mkdirs()
    val r = new Random(seed)
    val files = Map("Avito" -> "avito_ads.json", "Jumia" -> "jumia_products.json",
      "Electroplanet" -> "electroplanet_data.json")
    val out = files.map { case (src, f) => src -> new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(dir, f)), StandardCharsets.UTF_8), 1 << 20) }
    val lines = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bad = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val last = scala.collection.mutable.Map.empty[String, String]
    def emit(src: String, line: String): Unit = {
      out(src).write(line); out(src).write('\n'); lines(src) += 1
    }
    def pick(xs: Seq[String]): String = xs(r.nextInt(xs.size))
    def q(s: String): String = if (s == null) "null" else Json.str(s)

    try for (k <- 0 until p.offers) {
      val src = k % 10 match { case x if x < 5 => "Avito"; case x if x < 8 => "Jumia"; case _ => "Electroplanet" }
      if (r.nextDouble() < p.malformedShare) {
        emit(src, s"""{"title": "Samsung Galaxy A${r.nextInt(99)}, "price": """); bad(src) += 1
      } else if (last.contains(src) && r.nextDouble() < p.dupShare) {
        emit(src, last(src)) // the same listing scraped twice
      } else {
        val u = r.nextDouble()
        val j = (p.products * u * u).toInt // skewed popularity: low ids are hot
        val (bField, bName, model, base) = product(j)
        val price = math.round(base * (0.9 + 0.2 * r.nextDouble()) *
          (if (r.nextDouble() < 0.01) 4.0 else 1.0)).toLong
        val day = 1 + r.nextInt(28)
        val ts = f"2026-01-$day%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00"
        val line = src match {
          case "Avito" =>
            val tail = r.nextDouble() < p.tailShare
            val title =
              if (!tail) s"$bName $model ${storage(j)}GB"
              else if (r.nextInt(5) == 0) Seq.fill(3)(pick(ArabicWords)).mkString(" ") + s" ${pick(TailWords)}"
              else Seq.fill(5)(pick(TailWords)).mkString(" ")
            val priceJson = r.nextInt(20) match {
              case 0 => q("NULL"); case 1 => "null"; case 2 => q("0")
              case 3 | 4 | 5 => q(f"${price / 1000}.${price % 1000}%03d,00")
              case 6 | 7 | 8 | 9 => price.toString
              case _ => q(s"$price DH")
            }
            val (brandJson, modelJson) =
              if (tail) (if (r.nextBoolean()) "null" else q("NULL"), q("NULL"))
              else if (r.nextInt(10) == 0) ("null", "null") // brand/model only in the title
              else (q(bField), q(model.toUpperCase))
            s"""{"ad_id":"$k","title":${q(title)},"description":"Annonce $k","price":$priceJson,""" +
              s""""city":${q(pick(Cities))},"area":"Centre","seller_type":${q(if (r.nextBoolean()) "STORE" else "PRIVATE")},""" +
              s""""seller_name":"Vendeur ${k % 997}","category":"Smartphone et Téléphone",""" +
              s""""url":"https://www.avito.ma/vi/$k.htm","list_time":"${ts.replace(' ', 'T')}Z",""" +
              s""""brand":$brandJson,"model":$modelJson,"storage":"${storage(j)}GB","ram":"${ram(j)}GB",""" +
              s""""battery_health":"${80 + r.nextInt(21)}%","color":"Noir","condition":${q(pick(Conditions))}}"""
          case "Jumia" =>
            val title = s"""$bName $model – 6,${r.nextInt(9)}" – ${storage(j)} Go – ${ram(j)} Go RAM"""
            val rating = r.nextInt(3) match {
              case 0 => q(s"${1 + r.nextInt(5)} out of 5"); case 1 => q(s"${1 + r.nextInt(4)}.5/5")
              case _ => (1 + r.nextInt(40)) / 10.0 + ""
            }
            val specs = if (r.nextBoolean()) s""","specs":{"Stockage":"${storage(j)} Go","RAM":"${ram(j)} Go"}""" else ""
            s"""{"title":${q(title)},"brand":${q(if (r.nextInt(10) == 0) null else bName)},""" +
              s""""price":"${"%,d".formatLocal(java.util.Locale.US, price)} MAD",""" +
              s""""old_price":"${"%,d".formatLocal(java.util.Locale.US, price * 11 / 10)} MAD",""" +
              s""""rating":$rating,"reviews_count_text":"(${r.nextInt(50)} avis vérifiés)",""" +
              s""""product_url":"https://www.jumia.ma/p-$j-$k.html","scraped_at":"$ts",""" +
              s""""description":"${storage(j)} Go ${ram(j)} Go RAM"$specs}"""
          case _ =>
            val withModel = r.nextInt(4) != 0
            val specs = Seq("Marque" -> bField, "Capacité de stockage interne" -> s"${storage(j)} Go",
              "Capacité de la RAM" -> s"${ram(j)} Go", "Famille de processeur" -> "Octa-core") ++
              (if (withModel) Seq("Modèle" -> model.toUpperCase) else Nil)
            val sp = f"${price / 1000} ${price % 1000}%03d DH"
            s"""{"product_url":"https://www.electroplanet.ma/p$j-$k.html",""" +
              s""""name":${q(s"${bField} ${model.toUpperCase} ${ram(j)}GB")},"brand":${q(bName)},""" +
              s""""price":"$sp","old_price":"$sp","is_promotion":${r.nextBoolean()},"category":"android",""" +
              s""""store":"Electroplanet","scraped_at":"$ts","detailed_scraped_at":"$ts",""" +
              s""""description":null,"specifications":${Json.obj(specs.map { case (a, b) => a -> q(b) })},""" +
              s""""reviews_summary":{"average_rating":"${r.nextInt(101)}","total_reviews":${r.nextInt(30)}},""" +
              s""""availability":"Inconnue","view_count":${r.nextInt(500)},"sku":null}"""
        }
        last(src) = line
        emit(src, line)
      }
    } finally out.values.foreach(_.close())
    val bytes = files.values.map(f => new File(dir, f).length).sum
    Drop(lines.toMap, bad.toMap, bytes)
  }

  /** First document id of the seed's window. */
  def windowStart(seed: Long): Long = math.abs(seed % 1000000L) * 1000000L

  /** Writes `<dir>/documents.parquet`: ScaleGen documents rows
    * [windowStart(seed), windowStart(seed) + nDocs). */
  def corpus(spark: SparkSession, dir: String, seed: Long, nDocs: Long): Unit = {
    import spark.implicits._
    val from = windowStart(seed)
    spark.range(from, from + nDocs, 1, 4).map(id => ScaleGen.docRow(id))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
