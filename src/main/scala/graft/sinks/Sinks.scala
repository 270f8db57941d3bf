package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** S4–S8 — output sinks for merged product documents.
  *
  * Scale notes: all sinks write partitioned, distributed output (JSONL /
  * parquet / CSV parts, JDBC with per-partition connections) — the
  * reference's single pretty-printed JSON array cannot exist at 100 TB, so
  * the document sink is JSONL (semantically identical rows; array format
  * only differs in framing bytes).
  */
object Sinks {

  /** S4 — JSONL document sink (UTF-8, non-ASCII preserved — Spark writes
    * raw UTF-8, matching ensure_ascii=False). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Python `json.dump(..., ensure_ascii=False, indent=2)` rendering of
    * one JSON document (the reference's exact writer settings,
    * M/dags/marketeye_etl_dag.py:279-281): 2-space indent steps, `": "`
    * key separator, `",\n"` item separator, bare `{}` / `[]` for empty
    * containers, non-ASCII raw. Scalars re-serialize through Jackson —
    * the same library that produced the staged JSONL — so number and
    * string tokens pass through byte-identical. */
  private def pyPretty(node: com.fasterxml.jackson.databind.JsonNode,
                       pad: String, sb: java.lang.StringBuilder): Unit = {
    import scala.jdk.CollectionConverters._
    if (node.isObject) {
      if (node.isEmpty) { sb.append("{}"); return }
      sb.append("{\n")
      var first = true
      node.fields().asScala.foreach { e =>
        if (!first) sb.append(",\n")
        first = false
        sb.append(pad).append("  ")
          .append(com.fasterxml.jackson.databind.node.TextNode.valueOf(e.getKey).toString)
          .append(": ")
        pyPretty(e.getValue, pad + "  ", sb)
      }
      sb.append("\n").append(pad).append("}")
    } else if (node.isArray) {
      if (node.isEmpty) { sb.append("[]"); return }
      sb.append("[\n")
      var first = true
      node.elements().asScala.foreach { v =>
        if (!first) sb.append(",\n")
        first = false
        sb.append(pad).append("  ")
        pyPretty(v, pad + "  ", sb)
      }
      sb.append("\n").append(pad).append("]")
    } else sb.append(node.toString)
  }

  /** S4b — the reference's output FRAMING: one JSON array file
    * (ensure_ascii=False equivalent — Spark writes raw UTF-8). The
    * distributed JSONL parts are re-framed on the driver as a byte
    * stream (file-level concat through a bounded buffer — no row ever
    * collects). Default framing keeps records one-per-line; `indent2 =
    * true` reproduces the reference's `json.dump(..., indent=2)` bytes
    * exactly (GoldenReplaySpec pins it against the committed
    * electroplanet_transformed.json), staging with ignoreNullFields=false
    * because Python writes explicit nulls. For bounded report-grade
    * exports; the JSONL sink is the scale path (a single array file
    * fundamentally cannot be written in parallel). */
  def writeJsonArray(df: DataFrame, stagingDir: String, outFile: String,
                     indent2: Boolean = false): Unit = {
    if (indent2)
      df.write.mode(SaveMode.Overwrite).option("ignoreNullFields", "false").json(stagingDir)
    else writeJson(df, stagingDir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // Hadoop FS API, not java.io: the staging dir is wherever the job
    // writes (HDFS/S3/local) — a driver-local File listing would silently
    // see nothing on a real cluster
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val stagingPath = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = stagingPath.getFileSystem(conf)
    val parts = fs.listStatus(stagingPath).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".json"))
      .sortBy(_.getName.toString)
    val outPath = new org.apache.hadoop.fs.Path(outFile)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      outPath.getFileSystem(conf).create(outPath, true),
      java.nio.charset.StandardCharsets.UTF_8))
    try {
      out.write("[\n")
      var first = true
      parts.foreach { p =>
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
        try {
          var line = in.readLine()
          while (line != null) {
            if (line.nonEmpty) {
              if (!first) out.write(",\n")
              out.write("  ")
              if (indent2) {
                val sb = new java.lang.StringBuilder()
                pyPretty(mapper.readTree(line), "  ", sb)
                out.write(sb.toString)
              } else out.write(line)
              first = false
            }
            line = in.readLine()
          }
        } finally in.close()
      }
      // json.dump ends at the closing bracket — no trailing newline
      if (indent2) out.write("\n]") else out.write("\n]\n")
    } finally out.close()
  }

  /** S5 — timestamped backup copy (save_to_json_backup, dag:982-1010).
    * The dir name drops `:` from runTs: Hadoop reads `a:b` in a path
    * segment as a URI scheme, so an ISO timestamp would break the
    * overwrite of an existing backup. ts_nodash names pass unchanged. */
  def writeBackup(df: DataFrame, backupDir: String, runTs: String): String = {
    val path = s"$backupDir/marketeye_backup_${runTs.replace(":", "")}"
    writeJson(df, path)
    path
  }

  /** Flatten product documents to the relational (products, offers) pair
    * used by the JDBC sink (dag:874-907); specifications serialized to a
    * JSON string for parity with dag:881.
    *
    * @param decimalMoney when true, money columns are typed
    *        `DECIMAL(12,2)` (SURVEY §1.2: the reference stores prices as
    *        Python floats and its Postgres DDL follows; a relational
    *        consumer wants exact money). Default false — the in-pipeline
    *        computation and the oracle hash-match path stay double (the
    *        reference's float arithmetic, bugs preserved, is the
    *        compatibility contract; the cast happens only at this sink
    *        boundary). */
  def relational(merged: DataFrame,
                 decimalMoney: Boolean = false): (DataFrame, DataFrame) = {
    val money = org.apache.spark.sql.types.DecimalType(12, 2)
    def priceCol(c: org.apache.spark.sql.Column) =
      if (decimalMoney) c.cast(money) else c
    val products = merged.select(
      col("product_id"), col("brand"), col("model"), col("product_name"),
      to_json(col("specifications")).as("specifications"),
      col("created_at"), col("last_updated").as("updated_at"))
    val offers = merged.select(col("product_id"), explode(col("offers")).as("o"))
      .select(col("product_id"), col("o.source").as("source"),
        priceCol(col("o.price")).as("price"), col("o.currency").as("currency"),
        col("o.condition").as("condition"), col("o.seller_type").as("seller_type"),
        col("o.url").as("url"), col("o.scraped_at").as("scraped_at"))
    (products, offers)
  }

  /** S6 — JDBC sink (PostgreSQL in the reference). Overwrites both tables.
    * Indexed string columns get explicit VARCHAR types (valid in both
    * PostgreSQL and embedded engines like Derby, whose default StringType
    * mapping is an unindexable CLOB); run [[createIndexes]] after.
    * Offline environments: use [[writeRelationalFiles]]. */
  def writeJdbc(merged: DataFrame, url: String, props: java.util.Properties): Unit = {
    val (products, offers) = relational(merged)
    def withTypes(types: String): java.util.Properties = {
      val p = new java.util.Properties()
      p.putAll(props)
      p.setProperty("createTableColumnTypes", types)
      p
    }
    products.write.mode(SaveMode.Overwrite)
      .jdbc(url, "products", withTypes("product_id VARCHAR(512), brand VARCHAR(512)"))
    offers.write.mode(SaveMode.Overwrite)
      .jdbc(url, "offers", withTypes("product_id VARCHAR(512), source VARCHAR(64)"))
  }

  /** Secondary-index DDL the reference creates after loading
    * (M/dags/marketeye_etl_dag.py:911-917) — executed by the caller over a
    * plain JDBC connection on the driver after [[writeJdbc]]. */
  val IndexDdl: Seq[String] = Seq(
    "CREATE INDEX IF NOT EXISTS idx_products_product_id ON products (product_id)",
    "CREATE INDEX IF NOT EXISTS idx_products_brand ON products (brand)",
    "CREATE INDEX IF NOT EXISTS idx_offers_product_id ON offers (product_id)",
    "CREATE INDEX IF NOT EXISTS idx_offers_source ON offers (source)",
    "CREATE INDEX IF NOT EXISTS idx_offers_price ON offers (price)")

  /** Run the index DDL on the driver (one short-lived JDBC connection).
    * `IF NOT EXISTS` is PostgreSQL syntax (the reference's engine); for
    * other engines (embedded Derby in tests) the clause is stripped and
    * an already-exists error is treated as success — same idempotent
    * semantics either way. */
  def createIndexes(url: String, props: java.util.Properties): Unit = {
    val pg = url.startsWith("jdbc:postgresql:")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try IndexDdl.foreach { ddl0 =>
      // non-Postgres: Spark's JDBC writer creates quoted (case-sensitive,
      // lowercase) columns, so quote the column list too
      val ddl =
        if (pg) ddl0
        else ddl0.replace(" IF NOT EXISTS", "")
          .replaceAll("\\(([a-z_]+)\\)", "(\"$1\")")
      val st = conn.createStatement()
      try st.execute(ddl)
      catch {
        case e: java.sql.SQLException
            if !pg && Option(e.getMessage).exists(_.toLowerCase.contains("exist")) => ()
      } finally st.close()
    } finally conn.close()
  }

  /** S6 — create the target database when absent
    * (create_database_if_not_exists, M/dags/marketeye_etl_dag.py:838-870).
    * PostgreSQL has no CREATE DATABASE IF NOT EXISTS inside a transaction:
    * connect to the admin `postgres` database, probe pg_database, create
    * on miss — exactly the reference's psycopg2 flow. Embedded engines
    * (Derby `;create=true`) create on first connect, so for non-Postgres
    * URLs this just opens and closes a connection. */
  def ensureDatabase(url: String, props: java.util.Properties): Unit = {
    if (url.startsWith("jdbc:postgresql:")) {
      // jdbc:postgresql://host:port/db?user=x&ssl=true — the db name is
      // the last path segment BEFORE any query string; query params stay
      // on the admin connection so credentials/ssl flags keep working
      val q = url.indexOf('?')
      val (path, query) = if (q >= 0) (url.substring(0, q), url.substring(q)) else (url, "")
      val slash = path.lastIndexOf('/')
      val (base, db) = (path.substring(0, slash), path.substring(slash + 1))
      val conn = java.sql.DriverManager.getConnection(s"$base/postgres$query", props)
      try {
        // parameterized probe (db names are data, not SQL)
        val ps = conn.prepareStatement("SELECT 1 FROM pg_database WHERE datname = ?")
        val exists = try {
          ps.setString(1, db)
          val rs = ps.executeQuery()
          try rs.next() finally rs.close()
        } finally ps.close()
        if (!exists) {
          // CREATE DATABASE cannot be parameterized; quote the identifier
          // (double any embedded quotes) so unusual names cannot escape
          val quoted = "\"" + db.replace("\"", "\"\"") + "\""
          val st = conn.createStatement()
          try st.execute(s"CREATE DATABASE $quoted") finally st.close()
        }
      } finally conn.close()
    } else {
      java.sql.DriverManager.getConnection(url, props).close()
    }
  }

  /** Secondary index on a MongoDB collection, as data (created by the
    * caller, see [[MongoWriteSpec.indexes]]). */
  final case class MongoIndex(field: String, unique: Boolean)

  /** The complete, inspectable write contract for the S7 document sink:
    * connector options, save mode, and the index set — everything
    * [[writeMongo]] does short of the `.save()` call itself, extracted so
    * the contract is testable with no connector jar on the classpath. */
  final case class MongoWriteSpec(options: Map[String, String], mode: SaveMode,
                                  indexes: Seq[MongoIndex])

  /** S7 write contract (save_to_mongodb, M/dags/marketeye_etl_dag.py:929-980).
    * The reference truncates (`delete_many({})`) then `insert_many`s the
    * full merged documents and creates three indexes (unique product_id,
    * brand, price) — so the spec is Overwrite + insert, NOT a replace
    * upsert, and the document shape is the merged frame verbatim (nested
    * offers array + specifications, the marketeye_final.json rows). */
  def mongoWriteSpec(uri: String, database: String, collection: String): MongoWriteSpec =
    MongoWriteSpec(
      options = Map(
        "connection.uri" -> uri,
        "database" -> database,
        "collection" -> collection,
        "operationType" -> "insert"),
      // CAVEAT vs the reference: the connector implements Overwrite by
      // DROPPING the collection (discarding indexes + collection options),
      // while the reference's delete_many({}) truncates and PRESERVES the
      // unique product_id index. Behavior only converges because
      // [[writeMongo]]'s contract makes index re-creation part of every
      // write (callers MUST apply spec.indexes after save, as writeMongo's
      // docstring instructs) — the index does NOT survive the write itself.
      mode = SaveMode.Overwrite,
      indexes = Seq(MongoIndex("product_id", unique = true),
        MongoIndex("brand", unique = false), MongoIndex("price", unique = false)))

  /** S7 — MongoDB document sink: applies [[mongoWriteSpec]] through the
    * MongoDB Spark connector's string-format API, so this compiles and
    * the contract tests run with no connector jar (offline); at runtime
    * the connector must be on the classpath or `.save()` throws
    * ClassNotFoundException("mongodb"). Index creation is NOT done by the
    * connector: with the mongo-java-driver present, run
    * `spec.indexes.foreach(ix => collection.createIndex(..., unique))` on
    * the driver after the write — the definitions ship in the spec.
    * Offline: [[writeRelationalFiles]] staging. */
  def writeMongo(merged: DataFrame, uri: String, database: String,
                 collection: String): Unit = {
    val spec = mongoWriteSpec(uri, database, collection)
    merged.write.format("mongodb").options(spec.options).mode(spec.mode).save()
  }

  /** S6/S7 fallback — relational pair as parquet staging dirs (the document
    * store / warehouse loads from here when no connector is available). */
  def writeRelationalFiles(merged: DataFrame, dir: String): Unit = {
    val (products, offers) = relational(merged)
    products.write.mode(SaveMode.Overwrite).parquet(s"$dir/products")
    offers.write.mode(SaveMode.Overwrite).parquet(s"$dir/offers")
  }

  /** S8 — flat 13-column CSV analysis export
    * (_generate_csv, marketeye_operators.py:329-365). */
  def writeCsv(merged: DataFrame, path: String): Unit =
    merged.select(col("product_id"), col("brand"), col("model"),
        col("product_name"), col("category"), explode(col("offers")).as("o"))
      .select(col("product_id"), col("brand"), col("model"), col("product_name"),
        col("category"), col("o.source").as("source"), col("o.price").as("price"),
        col("o.original_price").as("original_price"), col("o.currency").as("currency"),
        col("o.condition").as("condition"), col("o.seller_type").as("seller_type"),
        col("o.url").as("url"), col("o.scraped_at").as("scraped_at"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
}
