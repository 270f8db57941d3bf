package graft

import graft.functions.ScalarFunctions._
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Anomaly, Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The operator catalog: every SURVEY.md §2 operator (and the LLM-data-
  * pipeline extensions) expressed as a verifiable query over the driver's
  * parquet tables, paired with a semantically identical DuckDB oracle.
  *
  * Determinism rules (required for cross-engine hash-matching, and equally
  * for reproducible runs on a real cluster where partitioning varies):
  *   - money sums run through decimal(18,2) (exact, order-insensitive)
  *     and cast back to double — bit-identical in any engine;
  *   - arbitrary-precision doubles are aggregated as floor(x*100) integer
  *     units;
  *   - every query ends in a total ORDER BY;
  *   - ties in top-k / window ranks are broken by a key column.
  */
object Queries {

  /** Base tables, optionally memoized + persisted for the whole process
    * (-Dgraft.cacheTables=true, set by Bench). Without it each catalog
    * query re-lists and re-reads its parquet footers — a fixed per-query
    * cost that dominates sub-second queries. On a long-lived cluster app
    * the same tables would be read once and shared across queries, so the
    * bench measures plans, not repeated cold scans. */
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private def cacheEnabled: Boolean = java.lang.Boolean.getBoolean("graft.cacheTables")

  /** Force-materialize every base-table cache OUTSIDE any timed window.
    * The cache fill is a full repartition shuffle + columnar build (at
    * sf10: 60M lineitem rows → measured ~7× the warm a1 time when it
    * lands inside the first timed query of a no-warmup run). A
    * long-lived cluster app pays this once at startup; single-pass
    * big-sf bench runs (SPARK_GRAFT_WARMUP=0) call this so per-query
    * numbers measure plans at every scale factor, not the first query's
    * accidental cache build. No-op when caching is off. */
  def prewarmTables(s: SparkSession, dir: String): Unit =
    if (cacheEnabled)
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach { n =>
          // per-table guard: a dataset dir missing one table (ScaleGen
          // dirs carry only the regenerated ones) must not abort the
          // whole bench — the queries over present tables still run,
          // and a query over the missing one fails individually
          try { t(s, dir, n).count(); () }
          catch { case scala.util.control.NonFatal(e) =>
            // tolerated (ScaleGen dirs carry only regenerated tables) but
            // never silent: a genuinely corrupt table must not present as
            // an unexplained uncached slow bench
            System.err.println(
              s"[prewarm] $dir/$n.parquet not cached: ${e.getMessage}")
          }
        }

  /** Each test table ships as ONE parquet file → one input split, so every
    * downstream stage would run on a single task no matter how many cores
    * the session has. Cached tables are therefore spread over the cluster
    * width at cache-fill time (at real scale the source already arrives as
    * many splits; on the bench the fill happens in the untimed warmup).
    * Genuinely tiny tables stay single-partition — 32 near-empty tasks per
    * query cost more scheduling than they buy. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (cacheEnabled)
      tableCache.getOrElseUpdate((dir, name), {
        val raw = s.read.parquet(s"$dir/$name.parquet")
        val tiny = Set("region", "nation", "supplier")
        (if (tiny(name)) raw
         else raw.repartition(s.sparkContext.defaultParallelism)).persist()
      })
    else s.read.parquet(s"$dir/$name.parquet")

  /** Documents stay spread even uncached: the text operators are the most
    * per-row-expensive in the catalog. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    if (cacheEnabled) t(s, dir, "documents")
    else t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** The d2-family near-dup parameter set — ONE definition shared by the
    * catalog queries, ScaleCheck's explicit capped arm and the curation
    * benchmark, so a frontier report can never silently measure a
    * different configuration than the catalog runs (r9 ADVICE:
    * ScaleCheck hardcoded these). */
  private[graft] val D2Params: graft.operators.PairGraph.Params =
    graft.operators.PairGraph.Params(bands = 4, rowsPerBand = 2,
      threshold = 0.2, shingleN = 2)

  /** The d2 pair-graph ARTIFACT for the non-blank documents corpus: the
    * whole composed family (d2 detection, d8 clustering, d10 manifest,
    * x17 splits, x22b pretrain program) consumes these pairs, so they
    * are computed once per session through [[graft.operators.PairGraph]].
    * Five catalog queries used to re-run the identical ~300 s candidate+
    * verify pipeline at sf10; an artifact is how a real pipeline shares
    * that stage. */
  private def d2PairGraph(s: SparkSession, dir: String): DataFrame =
    graft.operators.PairGraph.pairs(
      docs(s, dir).where(length(normalizeText(col("text"))) > 0),
      "text", "doc_id", corpusKey = s"$dir#documents#nonblank", D2Params)

  /** One-pass total order over the VERIFICATION output. The driver's
    * oracle compare hashes rows in order, so every catalog query ends in
    * a total sort — that sort is part of the verification harness (the
    * distributed equivalent of a test's `.collect()`), not of the
    * operator under test; a production pipeline writes its (possibly
    * per-row-sized) result partitioned and unordered. Given that, one
    * partition beats `orderBy`: a global orderBy is a range exchange
    * whose partitioner SAMPLES its child, executing the entire query
    * plan a second time just to pick bounds (measured ≈2× on the
    * transform-heavy queries), only to produce files the checker reads
    * sequentially anyway. Verification outputs are bench-scale bounded
    * (≤~100k rows); a result that had to stay distributed would use
    * orderBy's range sort instead. */
  private implicit class SortSmallOps(df: DataFrame) {
    def sortSmall(c0: String, cs: String*): DataFrame =
      df.repartition(1).sortWithinPartitions((col(c0) +: cs.map(col)): _*)
    def sortSmall(c0: Column, cs: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions((c0 +: cs): _*)
  }

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  /** Exact, order-insensitive sum of a ≤2-decimal double column. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  // SQL fragment: the same exact sum in DuckDB.
  private def sqlDsum(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  // ---------------------------------------------------------------------
  // Relational core (S/P/J/A/T/U/W operators of SURVEY §2)
  // ---------------------------------------------------------------------

  /** A3-style global pricing summary (TPC-H Q1 flavor): filter pushdown,
    * hash agg with partial aggregation, exact decimal sums. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc"),
        count(lit(1)).as("n"))
      .sortSmall("l_returnflag", "l_linestatus")

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
       |  count(*) AS n
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** S1/S2 — scan with predicate + projection pushdown (PushedFilters +
    * pruned ReadSchema visible in the physical plan). */
  def s1ScanPrune(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .sortSmall("l_orderkey", "l_linenumber")

  val s1Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
      |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** S3/P5 — sentinel-null scrubbing ('' / NULL / NONE / INCONNU / ...). */
  def s3SentinelScrub(s: SparkSession, dir: String): DataFrame = {
    val raw = when(col("s_suppkey") % 7 === 0, lit("NULL"))
      .when(col("s_suppkey") % 7 === 1, lit(" none "))
      .when(col("s_suppkey") % 7 === 2, lit("Inconnu"))
      .when(col("s_suppkey") % 7 === 3, lit(""))
      .otherwise(col("s_name"))
    t(s, dir, "supplier")
      .withColumn("raw", raw)
      .select(col("s_suppkey"), col("raw"), sentinelToNull(col("raw")).as("scrubbed"))
      .sortSmall("s_suppkey")
  }

  val s3Sql: String =
    """WITH r AS (
      |  SELECT s_suppkey, CASE s_suppkey % 7 WHEN 0 THEN 'NULL' WHEN 1 THEN ' none '
      |    WHEN 2 THEN 'Inconnu' WHEN 3 THEN '' ELSE s_name END AS raw
      |  FROM supplier)
      |SELECT s_suppkey, raw,
      |  CASE WHEN raw IS NULL OR upper(trim(raw)) IN ('','NULL','NONE','INCONNU','UNKNOWN','NAN')
      |       THEN NULL ELSE raw END AS scrubbed
      |FROM r ORDER BY s_suppkey""".stripMargin

  /** P4 — positive-value predicate + exact integer-unit aggregation over
    * arbitrary-precision doubles. */
  def p4PositiveFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .where(col("value") > 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100)).cast("long").as("cents"))
      .sortSmall("event_type")

  val p4Sql: String =
    """SELECT event_type, count(*) AS n, CAST(SUM(floor(value*100)) AS BIGINT) AS cents
      |FROM events WHERE value > 0 GROUP BY event_type ORDER BY event_type""".stripMargin

  /** P6 — multi-source products: groups spanning >1 distinct source. */
  def p6MultiSource(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(countDistinct("l_suppkey").as("n_src"), count(lit(1)).as("n_off"))
      .where(col("n_src") > 1)
      .sortSmall("l_partkey")

  val p6Sql: String =
    """SELECT l_partkey, count(DISTINCT l_suppkey) AS n_src, count(*) AS n_off
      |FROM lineitem GROUP BY l_partkey HAVING count(DISTINCT l_suppkey) > 1
      |ORDER BY l_partkey""".stripMargin

  /** §2.3 — offers joined against per-group aggregates. Implemented as a
    * window (one shuffle, no self-join); the oracle uses the equivalent
    * group-by + join formulation. */
  def j1StatsJoin(s: SparkSession, dir: String): DataFrame = {
    // the offers⋈group-stats join, from the shared moments artifact:
    // agg + null-safe join-back (map-side combinable) instead of a
    // whole-partition window sort; same exact decimal mean. w1 keeps
    // the canonical running-window form.
    val li = t(s, dir, "lineitem")
    val stats = graft.operators.GroupStats.moments(li, Seq("l_partkey"),
      "l_extendedprice", s"$dir#lineitem")
    graft.operators.Anomaly.withStatsFrom(li, stats, Seq("l_partkey"))
      .withColumn("mean_price", col("market_mean"))
      .where(col("l_extendedprice") > col("mean_price") * 1.8)
      .select("l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice", "mean_price")
      .sortSmall("l_partkey", "l_orderkey", "l_linenumber")
  }

  val j1Sql: String =
    s"""WITH g AS (
       |  SELECT l_partkey AS pk, ${sqlDsum("l_extendedprice")} / count(*) AS mean_price
       |  FROM lineitem GROUP BY l_partkey)
       |SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice, mean_price
       |FROM lineitem JOIN g ON l_partkey = g.pk
       |WHERE l_extendedprice > mean_price * 1.8
       |ORDER BY l_partkey, l_orderkey, l_linenumber""".stripMargin

  /** A1 — merge-by-key fold: per-brand product merge with source-set union
    * and longest-name tie-break (deterministic: longest, then greatest). */
  def a1MergeProducts(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val li = t(s, dir, "lineitem")
    // two-level rollup instead of one agg with countDistinct: a distinct
    // aggregate alongside plain ones plans an Expand (every input row
    // duplicated per aggregation group) and drags every other aggregate
    // through extra PartialMerge phases — measured 3× this formulation.
    // Level 1 pre-aggregates per product, so level 2's count(*) IS the
    // distinct product count.
    //
    // Level 1 aggregates lineitem BELOW the join (none of its aggregates
    // reads a part column; every lineitem matches exactly one part, so
    // per-l_partkey == per-(p_brand, p_partkey) groups): the join then
    // matches 2M pre-aggregated rows against 2M parts instead of
    // sorting/shuffling all 60M offer rows through a sort-merge join —
    // at sf10 `part` outgrows every sane broadcast threshold and the
    // joined-then-aggregate formulation became a 60M-row SMJ sort
    // (measured 75 s warm; this one 28 s). Catalyst does not push
    // aggregates below joins on its own; the declaration order here IS
    // the optimization.
    val liAgg = li
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n1"),
        // canonical (sorted) per-product flag set → level 2 sees at most
        // 2^|flags| DISTINCT arrays per brand, so its collect_set buffer
        // is O(1) regardless of product count
        sort_array(collect_set(col("l_returnflag"))).as("s1"),
        min(col("l_extendedprice")).as("mn1"),
        max(col("l_extendedprice")).as("mx1"))
    part.join(liAgg, part("p_partkey") === liAgg("l_partkey"))
      .withColumnRenamed("p_name", "name")
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_products"),
        sum(col("n1")).as("n_offers"),
        // collect_SET, not collect_list: a brand groups millions of
        // products but only a handful of distinct flag sets — the list
        // version buffered one small array PER PRODUCT per brand (the
        // sf10 GC hotspot: ~25 groups × ~2M boxed arrays), the set
        // version dedups on insert and stays a handful of elements
        concat_ws(",", sort_array(array_distinct(flatten(collect_set(col("s1"))))))
          .as("sources"),
        graft.functions.MinByOrd.maxBy(
          struct(length(col("name")).as("len"), col("name").as("name")),
          col("name")).getField("p").as("top_name"),
        min(col("mn1")).as("min_price"),
        max(col("mx1")).as("max_price"))
      .sortSmall("p_brand")
  }

  val a1Sql: String =
    """SELECT p_brand, count(DISTINCT l_partkey) AS n_products, count(*) AS n_offers,
      |  string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS sources,
      |  first(p_name ORDER BY length(p_name) DESC, p_name DESC) AS top_name,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** A1b — the REAL [[graft.operators.ProductMerge.merge]] under the
    * oracle: nested single-offer product documents are synthesized from
    * lineitem columns (id normalization incl. space→underscore and
    * empty-id drops, per-product (source,url) offer dedup, order-sensitive
    * first-non-null spec fold, longest-name tie-break, encounter-order
    * source union, merged offer array), run through the actual operator,
    * then flattened to orderable scalars. The oracle reproduces the fold
    * relationally: encounter rank = row_number over (source rank,
    * scraped_at, url), first()/FILTER per spec key, min-rank dedup for the
    * source csv. Every synthesized field is a pure function of lineitem
    * keys so both engines build identical inputs. */
  def a1bMergeDocuments(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductMerge
    val li = t(s, dir, "lineitem")
    val seqn = col("l_orderkey") * 10 + col("l_linenumber")
    val src = when(col("l_returnflag") === "A", lit("Avito"))
      .when(col("l_returnflag") === "N", lit("Jumia"))
      .otherwise(lit("Electroplanet"))
    val tstr = lpad(seqn.cast("string"), 12, "0")
    val urlc = concat(lit("u"), (col("l_orderkey") % 3).cast("string"))
    val nameLen = (seqn % 23 + 1).cast("int")
    val name = concat(substr(lit("abcdefghijklmnopqrstuvwxyz"), lit(1), nameLen),
      lit("-"), (col("l_suppkey") % 10).cast("string"))
    val qty = col("l_quantity").cast("long")
    val storage = when(col("l_linenumber") % 2 === 0,
      concat((qty % 512).cast("string"), lit("GB")))
    val ram = when(qty % 3 === 0, (qty % 32).cast("string"))
    val color = when(col("l_suppkey") % 5 === 0,
      concat(lit("C"), (col("l_suppkey") % 9).cast("string")))
    val docsDf = li.select(
      // "P <n>" exercises normalizeId (lower + space→underscore); every
      // 97th partkey yields an empty id and must be dropped by the merge
      when(col("l_partkey") % 97 === 0, lit(""))
        .otherwise(concat(lit("P "), (col("l_partkey") % 500).cast("string")))
        .as("product_id"),
      concat(lit("B"), (col("l_partkey") % 7).cast("string")).as("brand"),
      concat(lit("M"), (col("l_suppkey") % 5).cast("string")).as("model"),
      name.as("product_name"),
      lit("Smartphone").as("category"),
      // map_concat of conditional singletons: codegen'd, unlike a
      // filter() HOF which would run the 600k-row synth interpreted
      map_concat(
        when(storage.isNotNull, map(lit("storage"), storage))
          .otherwise(map().cast("map<string,string>")),
        when(ram.isNotNull, map(lit("ram"), ram))
          .otherwise(map().cast("map<string,string>")),
        when(color.isNotNull, map(lit("color"), color))
          .otherwise(map().cast("map<string,string>"))).as("specifications"),
      array(struct(src.as("source"), col("l_extendedprice").as("price"),
        lit("MAD").as("currency"), urlc.as("url"), tstr.as("scraped_at"))).as("offers"),
      array(src).as("sources"),
      concat(lit("2026-01-"), lpad((col("l_orderkey") % 28 + 1).cast("string"), 2, "0"))
        .as("created_at"),
      concat(lit("2026-03-"), lpad((col("l_orderkey") % 28 + 1).cast("string"), 2, "0"))
        .as("last_updated"))
    val merged = ProductMerge.merge(docsDf, ProductMerge.PluginOrder,
      dedupPerProduct = true, dedupGlobal = false)
    merged.select(
      col("product_id"), col("brand"), col("model"), col("product_name"), col("category"),
      try_element_at(col("specifications"), lit("storage")).as("spec_storage"),
      try_element_at(col("specifications"), lit("ram")).as("spec_ram"),
      try_element_at(col("specifications"), lit("color")).as("spec_color"),
      concat_ws(",", col("sources")).as("sources_csv"),
      size(col("offers")).cast("long").as("n_offers"),
      // native decimal-exact sum (OfferPriceSum scaladoc) — the
      // aggregate/transform HOF spelling ran this projection interpreted
      graft.functions.OfferPriceSum(col("offers")).as("sum_price"),
      element_at(col("offers"), 1).getField("url").as("first_url"),
      col("created_at"), col("last_updated"))
      .sortSmall("product_id")
  }

  val a1bSql: String =
    """WITH r0 AS (
      |  SELECT l_orderkey*10 + l_linenumber AS seqn,
      |    CASE l_returnflag WHEN 'A' THEN 'Avito' WHEN 'N' THEN 'Jumia' ELSE 'Electroplanet' END AS src,
      |    l_partkey, l_suppkey, l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |  FROM lineitem WHERE l_partkey % 97 <> 0),
      |r1 AS (
      |  SELECT 'p_' || CAST(l_partkey % 500 AS VARCHAR) AS pid,
      |    CASE src WHEN 'Jumia' THEN 0 WHEN 'Avito' THEN 1 ELSE 2 END AS rank,
      |    lpad(CAST(seqn AS VARCHAR), 12, '0') AS t,
      |    'u' || CAST(l_orderkey % 3 AS VARCHAR) AS u,
      |    src,
      |    'B' || CAST(l_partkey % 7 AS VARCHAR) AS brand,
      |    'M' || CAST(l_suppkey % 5 AS VARCHAR) AS model,
      |    substr('abcdefghijklmnopqrstuvwxyz', 1, CAST(seqn % 23 + 1 AS INTEGER)) || '-' || CAST(l_suppkey % 10 AS VARCHAR) AS name,
      |    CASE WHEN l_linenumber % 2 = 0 THEN CAST(CAST(l_quantity AS BIGINT) % 512 AS VARCHAR) || 'GB' END AS storage,
      |    CASE WHEN CAST(l_quantity AS BIGINT) % 3 = 0 THEN CAST(CAST(l_quantity AS BIGINT) % 32 AS VARCHAR) END AS ram,
      |    CASE WHEN l_suppkey % 5 = 0 THEN 'C' || CAST(l_suppkey % 9 AS VARCHAR) END AS color,
      |    l_extendedprice AS price,
      |    '2026-01-' || lpad(CAST(l_orderkey % 28 + 1 AS VARCHAR), 2, '0') AS created_at,
      |    '2026-03-' || lpad(CAST(l_orderkey % 28 + 1 AS VARCHAR), 2, '0') AS last_updated
      |  FROM r0),
      |d AS (
      |  SELECT *, row_number() OVER (PARTITION BY pid, src, u ORDER BY rank, t, u) AS drn FROM r1),
      |e AS (
      |  SELECT *, row_number() OVER (PARTITION BY pid ORDER BY rank, t, u) AS rnk
      |  FROM d WHERE drn = 1),
      |srcs AS (
      |  SELECT pid, string_agg(src, ',' ORDER BY frk) AS sources_csv
      |  FROM (SELECT pid, src, min(rnk) AS frk FROM e GROUP BY pid, src) GROUP BY pid),
      |agg AS (
      |  SELECT pid,
      |    first(brand ORDER BY rnk) AS brand,
      |    first(model ORDER BY rnk) AS model,
      |    first(name ORDER BY length(name) DESC, rnk) AS product_name,
      |    'Smartphone' AS category,
      |    first(storage ORDER BY rnk) FILTER (WHERE storage IS NOT NULL) AS spec_storage,
      |    first(ram ORDER BY rnk) FILTER (WHERE ram IS NOT NULL) AS spec_ram,
      |    first(color ORDER BY rnk) FILTER (WHERE color IS NOT NULL) AS spec_color,
      |    count(*) AS n_offers,
      |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |    first(u ORDER BY rnk) AS first_url,
      |    min(created_at) AS created_at,
      |    max(last_updated) AS last_updated
      |  FROM e GROUP BY pid)
      |SELECT agg.pid AS product_id, brand, model, product_name, category,
      |  spec_storage, spec_ram, spec_color, srcs.sources_csv, n_offers, sum_price,
      |  first_url, created_at, last_updated
      |FROM agg JOIN srcs ON agg.pid = srcs.pid
      |ORDER BY product_id""".stripMargin

  /** A2 — deterministic first-seen-wins dedup. First-seen = the min of
    * the (l_orderkey, l_linenumber) ordering within each group, so the
    * kept row is a sort-free min(struct) hash aggregation instead of a
    * row_number window (no per-partition sort of the full table — the
    * shuffle carries partially-aggregated groups, not rows). The oracle
    * keeps the row_number formulation; results are identical because the
    * ordering key is unique per row. */
  def a2OfferDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_partkey", "l_suppkey")
      // first-seen = min (l_orderkey, l_linenumber) PACKED into one long
      // (l_linenumber ∈ [1,7]): with a long ordering and a decimal value
      // the min_by buffer is fully UnsafeRow-mutable, so this runs as a
      // codegen'd HashAggregate — min(struct(...)) has an immutable
      // buffer and silently degrades the 600k-row dedup to a
      // SortAggregate (measured ~1.5× slower)
      .agg(min_by(dec(col("l_extendedprice")),
        col("l_orderkey") * 8 + col("l_linenumber")).as("p"))
      .agg(count(lit(1)).as("n_kept"),
        countDistinct("l_partkey").as("n_products"),
        sum(col("p")).cast("double").as("sum_price"))

  val a2Sql: String =
    s"""WITH d AS (
       |  SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey
       |    ORDER BY l_orderkey, l_linenumber) AS rn
       |  FROM lineitem)
       |SELECT count(*) AS n_kept, count(DISTINCT l_partkey) AS n_products,
       |  ${sqlDsum("l_extendedprice")} AS sum_price
       |FROM d WHERE rn = 1""".stripMargin

  /** A4/T1 — distribution sorted desc by count. */
  def a4Distribution(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .sortSmall(desc("n"), col("o_orderpriority"))

  val a4Sql: String =
    """SELECT o_orderpriority, count(*) AS n FROM orders
      |GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority""".stripMargin

  /** A6/Z2 — per-group stats: mean/std/median/min/max/count, all exact or
    * determinstically derived from exact sums. */
  def a6GroupStats(s: SparkSession, dir: String): DataFrame =
    // consumes the family's shared stats artifact (one fused corpus pass
    // serving a6/t4/z3/z5/z6 — see operators.GroupStats); the column
    // values are the identical aggregate functions the standalone agg
    // computed (same decimal sums, same median), renamed to this query's
    // reported schema
    graft.operators.GroupStats.table(t(s, dir, "lineitem"), Seq("l_partkey"),
        "l_extendedprice", s"$dir#lineitem")
      .select(col("l_partkey"), col("n_offers").as("n"),
        col("min_p").as("min_price"), col("max_p").as("max_price"),
        col("s1x").as("s1"), col("s2x").as("s2"), col("med"))
      .where(col("n") >= 3)
      .withColumn("mean_price", col("s1") / col("n"))
      .withColumn("std_price",
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
      .withColumn("price_range",
        concat(floor(col("min_price")).cast("long").cast("string"), lit("-"),
          floor(col("max_price")).cast("long").cast("string")))
      .select("l_partkey", "n", "min_price", "max_price", "mean_price",
        "std_price", "med", "price_range")
      .sortSmall("l_partkey")

  val a6Sql: String =
    s"""WITH g AS (
       |  SELECT l_partkey, count(*) AS n,
       |    min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
       |    ${sqlDsum("l_extendedprice")} AS s1,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2,
       |    median(l_extendedprice) AS med
       |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 3)
       |SELECT l_partkey, n, min_price, max_price,
       |  s1 / n AS mean_price,
       |  sqrt((s2 - s1*s1/n) / (n-1)) AS std_price, med,
       |  CAST(CAST(floor(min_price) AS BIGINT) AS VARCHAR) || '-' || CAST(CAST(floor(max_price) AS BIGINT) AS VARCHAR) AS price_range
       |FROM g ORDER BY l_partkey""".stripMargin

  /** T2 — top-5 by count with deterministic tie-break. */
  def t2Top5Brands(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").groupBy("p_brand").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("p_brand")).limit(5)

  val t2Sql: String =
    """SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand
      |ORDER BY n DESC, p_brand LIMIT 5""".stripMargin

  /** T4 — top-10 gravest deviations (sort + limit = partial top-k). The
    * per-group mean comes from the family's shared stats artifact
    * joined back null-safely — same exact decimal sum the old window
    * form computed, but the corpus pass is shared with a6/z3/z5/z6 and
    * the join-back's agg combines map-side where the window had to
    * hash-partition AND sort every row. */
  def t4TopDeviation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val stats = graft.operators.GroupStats.moments(li, Seq("l_partkey"),
      "l_extendedprice", s"$dir#lineitem")
    graft.operators.Anomaly.withStatsFrom(li, stats, Seq("l_partkey"))
      .withColumn("deviation",
        abs(col("l_extendedprice") - col("market_mean")) / col("market_mean") * 100.0)
      .orderBy(desc("deviation"), col("l_orderkey"), col("l_linenumber"))
      .limit(10)
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), round(col("deviation"), 2).as("deviation_pct"))
  }

  val t4Sql: String =
    s"""WITH g AS (
       |  SELECT l_partkey AS pk, ${sqlDsum("l_extendedprice")} / count(*) AS mean_price
       |  FROM lineitem GROUP BY l_partkey),
       |d AS (
       |  SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
       |    abs(l_extendedprice - mean_price) / mean_price * 100.0 AS deviation
       |  FROM lineitem JOIN g ON l_partkey = g.pk)
       |SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
       |  round(deviation, 2) AS deviation_pct
       |FROM d ORDER BY deviation DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin

  /** §2.7 — unionByName of heterogeneous sources + aggregate. */
  def u1UnionParties(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(lit("customer").as("kind"),
      col("c_name").as("name"), col("c_acctbal").as("bal"))
    val sp = t(s, dir, "supplier").select(lit("supplier").as("kind"),
      col("s_name").as("name"), col("s_acctbal").as("bal"))
    c.unionByName(sp).groupBy("kind")
      .agg(count(lit(1)).as("n"), min("name").as("min_name"),
        max("name").as("max_name"), dsum(col("bal")).as("sum_bal"))
      .sortSmall("kind")
  }

  val u1Sql: String =
    s"""WITH u AS (
       |  SELECT 'customer' AS kind, c_name AS name, c_acctbal AS bal FROM customer
       |  UNION ALL
       |  SELECT 'supplier' AS kind, s_name AS name, s_acctbal AS bal FROM supplier)
       |SELECT kind, count(*) AS n, min(name) AS min_name, max(name) AS max_name,
       |  ${sqlDsum("bal")} AS sum_bal
       |FROM u GROUP BY kind ORDER BY kind""".stripMargin

  /** §2.7 — window functions: row_number + running sum per user. */
  def w1RunningWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    t(s, dir, "events")
      .where(col("user_id") % 50 === 0)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_cents",
        sum(floor(col("value") * 100)).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
      .select("user_id", "event_id", "rn", "running_cents")
      .sortSmall("user_id", "event_id")
  }

  val w1Sql: String =
    """SELECT user_id, event_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
      |  CAST(SUM(floor(value*100)) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
      |FROM events WHERE user_id % 50 = 0 ORDER BY user_id, event_id""".stripMargin

  /** Epoch-seconds from the events `ts` column, robust to both physical
    * encodings the test generator has produced: parquet timestamp[ns] read
    * as LONG nanos (spark.sql.legacy.parquet.nanosAsLong) and
    * timestamp[us] read as TIMESTAMP_NTZ. Both floor to whole seconds; the
    * NTZ path converts via the pinned UTC session zone, matching DuckDB's
    * epoch() over naive timestamps. */
  def tsEpochSec(schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val ns = col("ts")
        (ns - ns % 1000000000L) / 1000000000L
      case _ => col("ts").cast("timestamp").cast("long")
    }

  /** §2.9 — batch equivalent of the streaming hourly windowed aggregation
    * (the same groupBy(window(...)) plan Structured Streaming runs
    * incrementally; see graft.streaming.EventStream). The hour bucket is
    * computed in exact integer arithmetic over epoch seconds. */
  def st1HourlyEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sec = tsEpochSec(ev.schema)
    val hourEpoch = (sec - sec % 3600).cast("long")
    ev.groupBy(hourEpoch.as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).cast("long").as("cents"))
      .sortSmall("hour_epoch", "event_type")
  }

  val st1Sql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
      |  count(*) AS n, CAST(SUM(floor(value*100)) AS BIGINT) AS cents
      |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Scalar-function queries (F1..F12) over synthesized inputs
  // ---------------------------------------------------------------------

  /** F1 — naive clean_price over synthesized marketplace price strings. */
  def f1CleanPrice(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = when(k % 6 === 0, concat(floor(col("p_retailprice")).cast("long").cast("string"), lit(" DH")))
      .when(k % 6 === 1, concat(lit("13,"), lpad((k % 1000).cast("string"), 3, "0")))
      .when(k % 6 === 2, concat((k % 900 + 100).cast("string"), lit("."),
        lpad((k % 100).cast("string"), 2, "0"), lit(" MAD")))
      .when(k % 6 === 3, lit("NULL"))
      .when(k % 6 === 4, lit(null).cast("string"))
      .otherwise((k % 5000).cast("string"))
    t(s, dir, "part")
      .withColumn("raw", raw)
      .select(col("p_partkey"), col("raw"), cleanPrice(col("raw")).as("price"))
      .sortSmall("p_partkey")
  }

  val f1Sql: String =
    """WITH r AS (
      |  SELECT p_partkey, CASE p_partkey % 6
      |    WHEN 0 THEN CAST(CAST(floor(p_retailprice) AS BIGINT) AS VARCHAR) || ' DH'
      |    WHEN 1 THEN '13,' || lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0')
      |    WHEN 2 THEN CAST(p_partkey % 900 + 100 AS VARCHAR) || '.' || lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0') || ' MAD'
      |    WHEN 3 THEN 'NULL'
      |    WHEN 4 THEN NULL
      |    ELSE CAST(p_partkey % 5000 AS VARCHAR) END AS raw
      |  FROM part)
      |SELECT p_partkey, raw,
      |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(raw, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price
      |FROM r ORDER BY p_partkey""".stripMargin

  /** F2 — European-format-aware price parsing. */
  def f2PriceEuropean(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val k1 = (k % 90 + 10).cast("string")
    val k2 = lpad((k % 1000).cast("string"), 3, "0")
    val raw = when(k % 5 === 0, concat(k1, lit("."), k2, lit(",00")))
      .when(k % 5 === 1, concat(k1, lit(","), k2))
      .when(k % 5 === 2, concat(k1, lit(" DH")))
      .when(k % 5 === 3, concat(k1, lit("."), lpad((k % 100).cast("string"), 2, "0")))
      .otherwise(lit(""))
    t(s, dir, "part")
      .withColumn("raw", raw)
      .select(col("p_partkey"), col("raw"), extractPriceFixed(col("raw")).as("price"))
      .sortSmall("p_partkey")
  }

  val f2Sql: String =
    """WITH r AS (
      |  SELECT p_partkey,
      |    CAST(p_partkey % 90 + 10 AS VARCHAR) AS k1,
      |    lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0') AS k2,
      |    lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0') AS k3
      |  FROM part),
      |r2 AS (
      |  SELECT p_partkey, CASE p_partkey % 5
      |    WHEN 0 THEN k1 || '.' || k2 || ',00'
      |    WHEN 1 THEN k1 || ',' || k2
      |    WHEN 2 THEN k1 || ' DH'
      |    WHEN 3 THEN k1 || '.' || k3
      |    ELSE '' END AS raw
      |  FROM r),
      |s AS (SELECT p_partkey, raw, regexp_replace(raw, '[^0-9,.]', '', 'g') AS st FROM r2),
      |n AS (
      |  SELECT p_partkey, raw,
      |    CASE WHEN st LIKE '%,%' AND st LIKE '%.%' THEN replace(replace(st, '.', ''), ',', '.')
      |         WHEN st LIKE '%,%' THEN replace(st, ',', '')
      |         ELSE st END AS norm
      |  FROM s)
      |SELECT p_partkey, raw,
      |  coalesce(CAST(nullif(regexp_extract(norm, '[0-9]+\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price
      |FROM n ORDER BY p_partkey""".stripMargin

  // WHEN-chains over the ordered brand maps, generated from the single
  // Scala source of truth so ordering can never diverge between engines.
  private def brandChain(map: scala.collection.immutable.ListMap[String, String],
                         lcExpr: String): String =
    map.map { case (key, canon) =>
      s"WHEN contains($lcExpr, '$key') THEN '$canon'"
    }.mkString("\n    ")

  private val brandWhenChainSql: String = brandChain(BrandMap, "lc")

  /** F3 — brand normalization via the ordered substring map. */
  def f3BrandNormalize(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = when(k % 10 === 0, lit("samsung galaxy s24"))
      .when(k % 10 === 1, lit("REDMI Note 12"))
      .when(k % 10 === 2, lit("Hauwei P30 lite"))
      .when(k % 10 === 3, lit(" Honor 90 "))
      .when(k % 10 === 4, lit("iphone 15 pro"))
      .when(k % 10 === 5, lit("Tecno Spark"))
      .when(k % 10 === 6, lit(""))
      .when(k % 10 === 7, lit("NULL"))
      .when(k % 10 === 8, lit(null).cast("string"))
      .otherwise(col("p_brand"))
    t(s, dir, "part")
      .withColumn("raw", raw)
      .select(col("p_partkey"), col("raw"), normalizeBrand(col("raw")).as("brand"))
      .sortSmall("p_partkey")
  }

  val f3Sql: String =
    s"""WITH r AS (
       |  SELECT p_partkey, CASE p_partkey % 10
       |    WHEN 0 THEN 'samsung galaxy s24' WHEN 1 THEN 'REDMI Note 12'
       |    WHEN 2 THEN 'Hauwei P30 lite' WHEN 3 THEN ' Honor 90 '
       |    WHEN 4 THEN 'iphone 15 pro' WHEN 5 THEN 'Tecno Spark'
       |    WHEN 6 THEN '' WHEN 7 THEN 'NULL' WHEN 8 THEN NULL
       |    ELSE p_brand END AS raw
       |  FROM part),
       |l AS (SELECT p_partkey, raw, lower(trim(coalesce(raw,''))) AS lc FROM r)
       |SELECT p_partkey, raw,
       |  CASE WHEN raw IS NULL OR upper(trim(raw)) IN ('','NULL','NONE','INCONNU','UNKNOWN','NAN') THEN 'Unknown'
       |    $brandWhenChainSql
       |    ELSE upper(substr(trim(raw),1,1)) || lower(substr(trim(raw),2)) END AS brand
       |FROM l ORDER BY p_partkey""".stripMargin

  /** F4 — the 3-stage Avito-fixed brand extraction under its own oracle:
    * field (Avito field map incl. HONOR→Huawei) → title scan → model scan
    * → Unknown. The field-stage sentinel list is the reference's 4-entry
    * one, so the 'NAN' fixture slot pins the Title-Case fallback ('Nan'),
    * not the title scan. Fallback inputs are single-word so the Title-Case
    * fallback is expressible in DuckDB (no initcap there). */
  def f4BrandFixed(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val brand = when(k % 8 === 0, lit("HONOR 90"))
      .when(k % 8 === 1, lit(null).cast("string"))
      .when(k % 8 === 2, lit("NULL"))
      .when(k % 8 === 3, lit("weirdbrand"))
      .when(k % 8 === 4, lit(""))
      .when(k % 8 === 5, lit("Galaxy"))
      .when(k % 8 === 6, lit("Moto G84"))
      .otherwise(lit("NAN"))
    val title = when(k % 8 === 1, lit("Honor Magic 5"))
      .when(k % 8 === 2, lit("no known maker here"))
      .when(k % 8 === 4, lit(""))
      .when(k % 8 === 7, lit("Sony Xperia"))
      .otherwise(lit("some phone"))
    val model = when(k % 8 === 2, lit("poco x5")).otherwise(lit(null).cast("string"))
    t(s, dir, "part")
      .withColumn("brand", brand).withColumn("title", title).withColumn("model", model)
      .select(col("p_partkey"),
        extractBrandFixed(col("brand"), col("title"), col("model")).as("brand_out"))
      .sortSmall("p_partkey")
  }

  val f4Sql: String =
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 8 WHEN 0 THEN 'HONOR 90' WHEN 1 THEN NULL WHEN 2 THEN 'NULL'
       |      WHEN 3 THEN 'weirdbrand' WHEN 4 THEN '' WHEN 5 THEN 'Galaxy'
       |      WHEN 6 THEN 'Moto G84' ELSE 'NAN' END AS brand,
       |    CASE p_partkey % 8 WHEN 1 THEN 'Honor Magic 5' WHEN 2 THEN 'no known maker here'
       |      WHEN 4 THEN '' WHEN 7 THEN 'Sony Xperia' ELSE 'some phone' END AS title,
       |    CASE p_partkey % 8 WHEN 2 THEN 'poco x5' ELSE NULL END AS model
       |  FROM part),
       |l AS (SELECT p_partkey, brand, lower(trim(coalesce(brand,''))) AS lcb,
       |  lower(coalesce(title,'')) AS lct, lower(coalesce(model,'')) AS lcm FROM r)
       |SELECT p_partkey,
       |  CASE WHEN brand IS NOT NULL AND upper(trim(brand)) NOT IN ('','NULL','NONE','INCONNU')
       |    THEN CASE ${brandChain(graft.functions.ScalarFunctions.AvitoFieldBrandMap, "lcb")}
       |      ELSE upper(substr(trim(brand),1,1)) || lower(substr(trim(brand),2)) END
       |    ELSE coalesce(
       |      CASE ${brandChain(graft.functions.ScalarFunctions.AvitoTitleBrandMap, "lct")} ELSE NULL END,
       |      CASE ${brandChain(graft.functions.ScalarFunctions.AvitoTitleBrandMap, "lcm")} ELSE NULL END,
       |      'Unknown') END AS brand_out
       |FROM l ORDER BY p_partkey""".stripMargin

  /** F4 DAG-inline variant (CompatMode.DagInline): 17-key field map with
    * HONOR→Honor, 'NULL'-only sentinel, 7-brand Title-Case title fallback,
    * no model stage. */
  def f4BrandDag(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val brand = when(k % 8 === 0, lit("HONOR 90"))
      .when(k % 8 === 1, lit(null).cast("string"))
      .when(k % 8 === 2, lit("NULL"))
      .when(k % 8 === 3, lit("weirdbrand"))
      .when(k % 8 === 4, lit(""))
      .when(k % 8 === 5, lit("Galaxy"))
      .when(k % 8 === 6, lit("Moto G84"))
      .otherwise(lit(null).cast("string"))
    val title = when(k % 8 === 1, lit("Honor Magic 5"))
      .when(k % 8 === 2, lit("Huawei P30"))
      .when(k % 8 === 4, lit(""))
      .when(k % 8 === 7, lit("Sony Xperia"))
      .otherwise(lit("some phone"))
    t(s, dir, "part")
      .withColumn("brand", brand).withColumn("title", title)
      .select(col("p_partkey"),
        extractBrandDagInline(col("brand"), col("title")).as("brand_out"))
      .sortSmall("p_partkey")
  }

  val f4DagSql: String =
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 8 WHEN 0 THEN 'HONOR 90' WHEN 1 THEN NULL WHEN 2 THEN 'NULL'
       |      WHEN 3 THEN 'weirdbrand' WHEN 4 THEN '' WHEN 5 THEN 'Galaxy'
       |      WHEN 6 THEN 'Moto G84' ELSE NULL END AS brand,
       |    CASE p_partkey % 8 WHEN 1 THEN 'Honor Magic 5' WHEN 2 THEN 'Huawei P30'
       |      WHEN 4 THEN '' WHEN 7 THEN 'Sony Xperia' ELSE 'some phone' END AS title
       |  FROM part),
       |l AS (SELECT p_partkey, brand, lower(trim(coalesce(brand,''))) AS lcb,
       |  lower(coalesce(title,'')) AS lct FROM r)
       |SELECT p_partkey,
       |  CASE WHEN brand IS NOT NULL AND brand <> '' AND upper(trim(brand)) <> 'NULL'
       |    THEN CASE ${brandChain(graft.functions.ScalarFunctions.DagFieldBrandMap, "lcb")}
       |      ELSE upper(substr(trim(brand),1,1)) || lower(substr(trim(brand),2)) END
       |    ELSE CASE ${graft.functions.ScalarFunctions.DagTitleBrands.map(b =>
              s"WHEN contains(lct, '${b.toLowerCase}') THEN '$b'").mkString("\n      ")}
       |      ELSE 'Unknown' END END AS brand_out
       |FROM l ORDER BY p_partkey""".stripMargin

  /** F7 DAG-inline condition variant: 'excellent' survives as its own
    * value; comme-neuf folds into 'new'; Reconditionné is unmapped. */
  def f7ConditionDag(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val raw = when(k % 9 === 0, lit("Neuf sous blister"))
      .when(k % 9 === 1, lit("Comme neuf"))
      .when(k % 9 === 2, lit("excellent état"))
      .when(k % 9 === 3, lit("bon état"))
      .when(k % 9 === 4, lit("moyen"))
      .when(k % 9 === 5, lit("mauvais état - endommagé"))
      .when(k % 9 === 6, lit("Reconditionné"))
      .when(k % 9 === 7, lit(""))
      .otherwise(lit(null).cast("string"))
    t(s, dir, "orders")
      .withColumn("raw", raw)
      .select(col("o_orderkey"), col("raw"),
        determineConditionDag(col("raw")).as("condition"))
      .sortSmall("o_orderkey")
  }

  val f7DagSql: String =
    """WITH r AS (
      |  SELECT o_orderkey, CASE o_orderkey % 9
      |    WHEN 0 THEN 'Neuf sous blister' WHEN 1 THEN 'Comme neuf'
      |    WHEN 2 THEN 'excellent état' WHEN 3 THEN 'bon état' WHEN 4 THEN 'moyen'
      |    WHEN 5 THEN 'mauvais état - endommagé' WHEN 6 THEN 'Reconditionné'
      |    WHEN 7 THEN '' ELSE NULL END AS raw
      |  FROM orders),
      |l AS (SELECT o_orderkey, raw, lower(trim(coalesce(raw,''))) AS lc FROM r)
      |SELECT o_orderkey, raw,
      |  CASE WHEN raw IS NULL OR raw = '' OR upper(raw) = 'NULL' THEN 'used'
      |    WHEN contains(lc,'neuf') OR contains(lc,'new') THEN 'new'
      |    WHEN contains(lc,'bon') OR contains(lc,'good') THEN 'good'
      |    WHEN contains(lc,'excellent') THEN 'excellent'
      |    WHEN contains(lc,'moyen') OR contains(lc,'fair') THEN 'fair'
      |    WHEN contains(lc,'mauvais') OR contains(lc,'poor') THEN 'poor'
      |    ELSE 'used' END AS condition
      |FROM l ORDER BY o_orderkey""".stripMargin

  /** F5 — model extraction: field passthrough + ordered regex cascade. */
  def f5ModelExtract(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val title = when(k % 6 === 0, lit("Samsung Galaxy S24 Ultra 512GB"))
      .when(k % 6 === 1, lit("Xiaomi Redmi Note 12 Pro"))
      .when(k % 6 === 2, lit("iPhone 15 Pro Max"))
      .when(k % 6 === 3, lit("Telephone portable pas cher"))
      .when(k % 6 === 4, lit("Samsung promo"))
      .otherwise(concat(lit("Oppo Reno "), (k % 20).cast("string")))
    val brand = when(k % 6 === 0, lit("Samsung")).when(k % 6 === 1, lit("Xiaomi"))
      .when(k % 6 === 2, lit("Apple")).when(k % 6 === 3, lit(null).cast("string"))
      .when(k % 6 === 4, lit("Samsung")).otherwise(lit("Oppo"))
    // model 'INCONNU' pins the 4-entry field-stage sentinel list: it is
    // NOT a sentinel there (unlike the shared list), so it passes through
    // the cleaning stage verbatim instead of falling to the title cascade
    val model = when(k % 6 === 4, lit("SM-S936B"))
      .when(k % 6 === 2, lit("INCONNU"))
      .otherwise(lit(null).cast("string"))
    t(s, dir, "part")
      .withColumn("title", title).withColumn("brand", brand).withColumn("model", model)
      .select(col("p_partkey"), col("title"),
        extractModel(col("model"), col("title"), col("brand")).as("model_out"))
      .sortSmall("p_partkey")
  }

  val f5Sql: String =
    """WITH r AS (
      |  SELECT p_partkey,
      |    CASE p_partkey % 6 WHEN 0 THEN 'Samsung Galaxy S24 Ultra 512GB'
      |      WHEN 1 THEN 'Xiaomi Redmi Note 12 Pro' WHEN 2 THEN 'iPhone 15 Pro Max'
      |      WHEN 3 THEN 'Telephone portable pas cher' WHEN 4 THEN 'Samsung promo'
      |      ELSE 'Oppo Reno ' || CAST(p_partkey % 20 AS VARCHAR) END AS title,
      |    CASE p_partkey % 6 WHEN 0 THEN 'Samsung' WHEN 1 THEN 'Xiaomi'
      |      WHEN 2 THEN 'Apple' WHEN 3 THEN NULL WHEN 4 THEN 'Samsung'
      |      ELSE 'Oppo' END AS brand,
      |    CASE p_partkey % 6 WHEN 4 THEN 'SM-S936B' WHEN 2 THEN 'INCONNU' ELSE NULL END AS model
      |  FROM part),
      |ff AS (
      |  SELECT p_partkey, title,
      |    CASE WHEN model IS NOT NULL AND upper(trim(model)) NOT IN ('','NULL','NONE','UNKNOWN')
      |      THEN (CASE WHEN upper(trim(regexp_replace(regexp_replace(model,'[^\p{L}\p{N}_\s]+',' ','g'),'\s+',' ','g'))) = ''
      |              THEN 'Unknown'
      |              ELSE upper(trim(regexp_replace(regexp_replace(model,'[^\p{L}\p{N}_\s]+',' ','g'),'\s+',' ','g'))) END)
      |      ELSE NULL END AS from_field,
      |    CASE WHEN coalesce(brand,'') = 'Unknown' THEN upper(coalesce(title,''))
      |         ELSE replace(upper(coalesce(title,'')), upper(coalesce(brand,' ')), '') END AS tnb
      |  FROM r),
      |c AS (
      |  SELECT p_partkey, title, from_field, tnb,
      |    trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[A-Z]+\s*[0-9]+\s*[A-Z]*\s*[0-9]*\s*[A-Z]*', 0)), '\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\b', ' ', 'g'), '\s+', ' ', 'g')) AS c1,
      |    trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[0-9]+\s*[A-Z]+\s*[0-9]*', 0)), '\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\b', ' ', 'g'), '\s+', ' ', 'g')) AS c2,
      |    trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[A-Z]+\s*[0-9]+', 0)), '\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\b', ' ', 'g'), '\s+', ' ', 'g')) AS c3,
      |    trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[0-9]+\s*[A-Z]{2,}', 0)), '\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\b', ' ', 'g'), '\s+', ' ', 'g')) AS c4,
      |    trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[A-Z]{2,}\s*[0-9]+', 0)), '\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\b', ' ', 'g'), '\s+', ' ', 'g')) AS c5
      |  FROM ff),
      |w AS (SELECT *, array_to_string(list_filter(list_slice(list_filter(string_split_regex(trim(tnb), '\s+'), x -> x <> ''), 1, 3), x -> len(x) > 2 AND NOT regexp_matches(x, '^[0-9]+$')), ' ') AS fw FROM c)
      |SELECT p_partkey, title,
      |  coalesce(from_field,
      |    CASE WHEN len(c1) > 1 THEN c1 END, CASE WHEN len(c2) > 1 THEN c2 END,
      |    CASE WHEN len(c3) > 1 THEN c3 END, CASE WHEN len(c4) > 1 THEN c4 END,
      |    CASE WHEN len(c5) > 1 THEN c5 END, nullif(fw, ''),
      |    'Unknown') AS model_out
      |FROM w ORDER BY p_partkey""".stripMargin

  /** F6 — product-id slug with token and md5 fallbacks. */
  def f6ProductId(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val brand = when(k % 5 === 0, lit("Samsung")).when(k % 5 === 1, lit("Apple"))
      .when(k % 5 === 2, lit("")).when(k % 5 === 3, lit("Xiaomi")).otherwise(col("p_brand"))
    val model = when(k % 5 === 0, lit("S24 Ultra")).when(k % 5 === 1, lit("Unknown"))
      .when(k % 5 === 2, lit(null).cast("string")).when(k % 5 === 3, lit("Redmi Note 12"))
      .otherwise(col("p_name"))
    val title = when(k % 5 === 1, lit("galaxy s24 ultra"))
      .when(k % 5 === 2, lit("Telephone pas cher")).otherwise(col("p_name"))
    t(s, dir, "part")
      .withColumn("brand", brand).withColumn("model", model).withColumn("title", title)
      .select(col("p_partkey"), productId(col("brand"), col("model"), col("title")).as("product_id"))
      .sortSmall("p_partkey")
  }

  val f6Sql: String =
    """WITH r AS (
      |  SELECT p_partkey,
      |    CASE p_partkey % 5 WHEN 0 THEN 'Samsung' WHEN 1 THEN 'Apple' WHEN 2 THEN ''
      |      WHEN 3 THEN 'Xiaomi' ELSE p_brand END AS brand,
      |    CASE p_partkey % 5 WHEN 0 THEN 'S24 Ultra' WHEN 1 THEN 'Unknown' WHEN 2 THEN NULL
      |      WHEN 3 THEN 'Redmi Note 12' ELSE p_name END AS model,
      |    CASE p_partkey % 5 WHEN 1 THEN 'galaxy s24 ultra' WHEN 2 THEN 'Telephone pas cher'
      |      ELSE p_name END AS title
      |  FROM part),
      |sl AS (
      |  SELECT p_partkey,
      |    regexp_replace(lower(coalesce(brand,'')), '[^a-z0-9]', '', 'g') AS b,
      |    regexp_replace(lower(coalesce(model,'')), '[^a-z0-9]', '', 'g') AS m,
      |    regexp_replace(regexp_extract(lower(coalesce(title,'')), '\b[a-z]+[0-9]+\w*\b', 0), '[^a-z0-9]', '', 'g') AS tok,
      |    'title_' || substr(md5(coalesce(title,'')), 1, 8) AS md5fb
      |  FROM r)
      |SELECT p_partkey,
      |  concat_ws('_', b,
      |    CASE WHEN m <> '' AND m <> 'unknown' THEN m
      |         WHEN tok <> '' THEN tok ELSE md5fb END) AS product_id
      |FROM sl ORDER BY p_partkey""".stripMargin

  /** F7 — FR/EN condition mapping. */
  def f7Condition(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val raw = when(k % 9 === 0, lit("Neuf sous blister"))
      .when(k % 9 === 1, lit("Comme neuf"))
      .when(k % 9 === 2, lit("excellent état"))
      .when(k % 9 === 3, lit("bon état"))
      .when(k % 9 === 4, lit("moyen"))
      .when(k % 9 === 5, lit("mauvais état - endommagé"))
      .when(k % 9 === 6, lit("Reconditionné"))
      .when(k % 9 === 7, lit(""))
      .otherwise(lit(null).cast("string"))
    t(s, dir, "orders")
      .withColumn("raw", raw)
      .select(col("o_orderkey"), col("raw"), determineCondition(col("raw")).as("condition"))
      .sortSmall("o_orderkey")
  }

  val f7Sql: String =
    """WITH r AS (
      |  SELECT o_orderkey, CASE o_orderkey % 9
      |    WHEN 0 THEN 'Neuf sous blister' WHEN 1 THEN 'Comme neuf'
      |    WHEN 2 THEN 'excellent état' WHEN 3 THEN 'bon état' WHEN 4 THEN 'moyen'
      |    WHEN 5 THEN 'mauvais état - endommagé' WHEN 6 THEN 'Reconditionné'
      |    WHEN 7 THEN '' ELSE NULL END AS raw
      |  FROM orders),
      |l AS (SELECT o_orderkey, raw, lower(trim(coalesce(raw,''))) AS lc FROM r)
      |SELECT o_orderkey, raw,
      |  CASE WHEN raw IS NULL OR upper(trim(raw)) IN ('','NULL','NONE','INCONNU','UNKNOWN','NAN') THEN 'used'
      |    WHEN contains(lc,'comme neuf') OR contains(lc,'like new') THEN 'like new'
      |    WHEN contains(lc,'reconditionn') OR contains(lc,'refurbished') THEN 'refurbished'
      |    WHEN contains(lc,'neuf') OR contains(lc,'new') OR contains(lc,'nouveau') THEN 'new'
      |    WHEN contains(lc,'bon') OR contains(lc,'good') OR contains(lc,'excellent') THEN 'good'
      |    WHEN contains(lc,'moyen') OR contains(lc,'fair') OR contains(lc,'acceptable') THEN 'fair'
      |    WHEN contains(lc,'mauvais') OR contains(lc,'poor') OR contains(lc,'endommag') THEN 'poor'
      |    ELSE 'used' END AS condition
      |FROM l ORDER BY o_orderkey""".stripMargin

  /** F8 — rating extraction from heterogeneous formats. */
  def f8Rating(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val raw = when(k % 6 === 0, lit("4.5 out of 5"))
      .when(k % 6 === 1, lit("3/5"))
      .when(k % 6 === 2, concat((k % 5).cast("string"), lit(","), (k % 10).cast("string")))
      .when(k % 6 === 3, lit(""))
      .when(k % 6 === 4, lit(null).cast("string"))
      .otherwise(lit("No rating yet 2024"))
    t(s, dir, "customer")
      .withColumn("raw", raw)
      .select(col("c_custkey"), col("raw"), extractRating(col("raw")).as("rating"))
      .sortSmall("c_custkey")
  }

  val f8Sql: String =
    """WITH r AS (
      |  SELECT c_custkey, CASE c_custkey % 6
      |    WHEN 0 THEN '4.5 out of 5' WHEN 1 THEN '3/5'
      |    WHEN 2 THEN CAST(c_custkey % 5 AS VARCHAR) || ',' || CAST(c_custkey % 10 AS VARCHAR)
      |    WHEN 3 THEN '' WHEN 4 THEN NULL ELSE 'No rating yet 2024' END AS raw
      |  FROM customer)
      |SELECT c_custkey, raw,
      |  coalesce(
      |    CAST(nullif(regexp_extract(raw, '([0-9]+\.?[0-9]*)\s*out of\s*[0-9]+', 1), '') AS DOUBLE),
      |    CAST(nullif(regexp_extract(raw, '([0-9]+\.?[0-9]*)\s*/\s*[0-9]+', 1), '') AS DOUBLE),
      |    CAST(nullif(regexp_extract(raw, '([0-9]+\.?[0-9]*)', 1), '') AS DOUBLE),
      |    0.0) AS rating
      |FROM r ORDER BY c_custkey""".stripMargin

  /** F9 — Avito URL builder: keep a real avito.ma URL, else rebuild from a
    * present (non-sentinel) ad id, else the bare domain
    * (avito_extractor.py:306-316). */
  def f9AvitoUrl(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val url = when(k % 4 === 0, lit("https://www.avito.ma/vi/123.htm"))
      .when(k % 4 === 1, lit("https://other.com/x"))
      .when(k % 4 === 2, lit(""))
      .otherwise(lit(null).cast("string"))
    val adId = when(k % 5 === 0, lit("98765")).when(k % 5 === 1, lit("NULL"))
      .when(k % 5 === 2, lit("")).when(k % 5 === 3, lit(null).cast("string"))
      .otherwise(lit("55"))
    t(s, dir, "part")
      .withColumn("url", url).withColumn("ad_id", adId)
      .select(col("p_partkey"), col("url"), col("ad_id"),
        buildAvitoUrl(col("url"), col("ad_id")).as("final_url"))
      .sortSmall("p_partkey")
  }

  val f9Sql: String =
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 4 WHEN 0 THEN 'https://www.avito.ma/vi/123.htm'
       |      WHEN 1 THEN 'https://other.com/x' WHEN 2 THEN '' END AS url,
       |    CASE p_partkey % 5 WHEN 0 THEN '98765' WHEN 1 THEN 'NULL' WHEN 2 THEN ''
       |      WHEN 3 THEN NULL ELSE '55' END AS ad_id
       |  FROM part)
       |SELECT p_partkey, url, ad_id,
       |  CASE WHEN contains(coalesce(url,''), 'avito.ma') THEN url
       |    WHEN ad_id IS NOT NULL AND upper(trim(ad_id)) NOT IN ('','NULL','NONE','INCONNU','UNKNOWN','NAN')
       |      THEN 'https://www.avito.ma/vi/' || ad_id || '.htm'
       |    ELSE 'https://www.avito.ma' END AS final_url
       |FROM r ORDER BY p_partkey""".stripMargin

  /** F10 — safe_string: null→"", string passthrough, numbers rendered via
    * cast (base_extractor.py:32-38). */
  def f10SafeString(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = when(k % 4 === 0, lit("hello"))
      .when(k % 4 === 1, lit(""))
      .when(k % 4 === 2, lit(" spaced "))
      .otherwise(lit(null).cast("string"))
    t(s, dir, "part")
      .withColumn("raw", raw)
      .select(col("p_partkey"), col("raw"),
        safeString(col("raw")).as("safe_raw"),
        safeString((k % 1000).cast("int")).as("safe_num"),
        safeString(lit(null).cast("int")).as("safe_null_num"))
      .sortSmall("p_partkey")
  }

  val f10Sql: String =
    """WITH r AS (
      |  SELECT p_partkey,
      |    CASE p_partkey % 4 WHEN 0 THEN 'hello' WHEN 1 THEN '' WHEN 2 THEN ' spaced ' END AS raw
      |  FROM part)
      |SELECT p_partkey, raw,
      |  coalesce(raw, '') AS safe_raw,
      |  CAST(p_partkey % 1000 AS VARCHAR) AS safe_num,
      |  '' AS safe_null_num
      |FROM r ORDER BY p_partkey""".stripMargin

  /** F12 — storage/ram/screen spec extraction from free text. */
  def f12Specs(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val text = when(k % 4 === 0, lit("Smartphone 128 Go stockage 8 go ram écran 6.5\" neuf"))
      .when(k % 4 === 1, lit("256GB storage dual sim"))
      .when(k % 4 === 2, concat((k % 512).cast("string"), lit(" go ram")))
      .otherwise(col("p_name"))
    t(s, dir, "part")
      .withColumn("text", text)
      .select(col("p_partkey"), col("text"),
        specStorage(col("text")).as("storage"),
        specRam(col("text")).as("ram"),
        specScreen(col("text")).as("screen"))
      .sortSmall("p_partkey")
  }

  val f12Sql: String =
    """WITH r AS (
      |  SELECT p_partkey, CASE p_partkey % 4
      |    WHEN 0 THEN 'Smartphone 128 Go stockage 8 go ram écran 6.5" neuf'
      |    WHEN 1 THEN '256GB storage dual sim'
      |    WHEN 2 THEN CAST(p_partkey % 512 AS VARCHAR) || ' go ram'
      |    ELSE p_name END AS text
      |  FROM part)
      |SELECT p_partkey, text,
      |  nullif(regexp_extract(lower(text), '([0-9]+)\s*(go|gb)', 1), '') AS storage,
      |  nullif(regexp_extract(lower(text), '([0-9]+)\s*go\s*ram', 1), '') AS ram,
      |  nullif(regexp_extract(lower(text), '([0-9]+[.,]?[0-9]*)"', 1), '') AS screen
      |FROM r ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // P1 — per-source transforms end-to-end (the real Transforms.avito /
  // Transforms.jumia over synthesized raw records)
  // ---------------------------------------------------------------------

  private val sentinelsSql = "('','NULL','NONE','INCONNU','UNKNOWN','NAN')"

  /** P1 — the real [[graft.transform.Transforms.avito]] end-to-end: a raw
    * Avito-shaped frame synthesized from part keys runs through the actual
    * transform (3-stage brand, model cascade, European price, condition
    * map, product id, URL rebuild, sentinel-scrubbed specs) and the
    * flattened unified document is hash-matched against a DuckDB
    * composition of the same scalar fragments. seller_name carries the
    * unique part key so the output is totally ordered. */
  def p1AvitoTransform(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = t(s, dir, "part").select(
      when(k % 3 === 1, (k % 100000).cast("string")).otherwise(lit(null).cast("string")).as("ad_id"),
      when(k % 5 === 0, lit("Samsung Galaxy S24 Ultra 512GB"))
        .when(k % 5 === 1, lit("Honor Magic 5 Lite"))
        .when(k % 5 === 2, lit("Telephone pas cher"))
        .when(k % 5 === 3, lit("Xiaomi Redmi Note 12 Pro"))
        .otherwise(lit("Oppo Reno 8")).as("title"),
      lit(null).cast("string").as("description"),
      when(k % 5 === 0, lit("4.500,00")).when(k % 5 === 1, lit("4,500"))
        .when(k % 5 === 2, lit("250 DH")).when(k % 5 === 3, lit(""))
        .otherwise(lit("7800")).as("price"),
      lit("Casablanca").as("city"),
      when(k % 2 === 0, lit("Maarif")).otherwise(lit(null).cast("string")).as("area"),
      when(k % 3 === 0, lit("PRO")).otherwise(lit(null).cast("string")).as("seller_type"),
      concat(lit("s"), lpad(k.cast("string"), 8, "0")).as("seller_name"),
      lit("Téléphones").as("category"),
      when(k % 3 === 0, lit("https://www.avito.ma/vi/111.htm"))
        .when(k % 3 === 1, lit("https://other.com/x"))
        .otherwise(lit(null).cast("string")).as("url"),
      concat(lit("2026-01-"), lpad((k % 28 + 1).cast("string"), 2, "0")).as("list_time"),
      when(k % 4 === 0, lit("SAMSUNG")).when(k % 4 === 1, lit(null).cast("string"))
        .when(k % 4 === 2, lit("NULL")).otherwise(lit("HONOR")).as("brand"),
      when(k % 6 === 0, lit("SM-S911B")).otherwise(lit(null).cast("string")).as("model"),
      when(k % 4 === 0, lit("128")).when(k % 4 === 1, lit("NULL"))
        .otherwise(lit(null).cast("string")).as("storage"),
      when(k % 5 === 0, lit("8")).otherwise(lit(null).cast("string")).as("ram"),
      when(k % 7 === 0, lit("95")).otherwise(lit(null).cast("string")).as("battery_health"),
      when(k % 3 === 0, lit("Noir")).otherwise(lit(null).cast("string")).as("color"),
      when(k % 9 === 0, lit("Neuf sous blister")).when(k % 9 === 1, lit("Comme neuf"))
        .when(k % 9 === 2, lit("excellent état")).when(k % 9 === 3, lit("bon état"))
        .when(k % 9 === 4, lit("moyen")).when(k % 9 === 5, lit("mauvais"))
        .when(k % 9 === 6, lit("Reconditionné")).when(k % 9 === 7, lit(""))
        .otherwise(lit(null).cast("string")).as("condition"))
    val out = graft.transform.Transforms.avito(raw, "2026-08-12T00:00:00")
    out.select(
      col("product_id"), col("brand"), col("model"), col("product_name"), col("category"),
      try_element_at(col("specifications"), lit("storage")).as("spec_storage"),
      try_element_at(col("specifications"), lit("ram")).as("spec_ram"),
      try_element_at(col("specifications"), lit("battery_health")).as("spec_battery"),
      try_element_at(col("specifications"), lit("color")).as("spec_color"),
      try_element_at(col("specifications"), lit("condition")).as("spec_condition"),
      element_at(col("offers"), 1).getField("price").as("price"),
      element_at(col("offers"), 1).getField("condition").as("condition"),
      element_at(col("offers"), 1).getField("seller_type").as("seller_type"),
      element_at(col("offers"), 1).getField("city").as("city"),
      element_at(col("offers"), 1).getField("area").as("area"),
      element_at(col("offers"), 1).getField("url").as("url"),
      element_at(col("offers"), 1).getField("seller_name").as("seller_name"),
      element_at(col("offers"), 1).getField("scraped_at").as("scraped_at"),
      col("created_at"))
      .sortSmall("seller_name")
  }

  val p1AvitoSql: String = {
    val avitoField = brandChain(graft.functions.ScalarFunctions.AvitoFieldBrandMap, "lcb")
    val avitoTitleT = brandChain(graft.functions.ScalarFunctions.AvitoTitleBrandMap, "lct")
    val avitoTitleM = brandChain(graft.functions.ScalarFunctions.AvitoTitleBrandMap, "lcm")
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE WHEN p_partkey % 3 = 1 THEN CAST(p_partkey % 100000 AS VARCHAR) END AS ad_id,
       |    CASE p_partkey % 5 WHEN 0 THEN 'Samsung Galaxy S24 Ultra 512GB' WHEN 1 THEN 'Honor Magic 5 Lite'
       |      WHEN 2 THEN 'Telephone pas cher' WHEN 3 THEN 'Xiaomi Redmi Note 12 Pro' ELSE 'Oppo Reno 8' END AS title,
       |    CASE p_partkey % 5 WHEN 0 THEN '4.500,00' WHEN 1 THEN '4,500' WHEN 2 THEN '250 DH'
       |      WHEN 3 THEN '' ELSE '7800' END AS price,
       |    'Casablanca' AS city,
       |    CASE WHEN p_partkey % 2 = 0 THEN 'Maarif' END AS area,
       |    CASE WHEN p_partkey % 3 = 0 THEN 'PRO' END AS seller_type,
       |    's' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS seller_name,
       |    CASE p_partkey % 3 WHEN 0 THEN 'https://www.avito.ma/vi/111.htm' WHEN 1 THEN 'https://other.com/x' ELSE NULL END AS url,
       |    '2026-01-' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') AS list_time,
       |    CASE p_partkey % 4 WHEN 0 THEN 'SAMSUNG' WHEN 1 THEN NULL WHEN 2 THEN 'NULL' ELSE 'HONOR' END AS brand,
       |    CASE WHEN p_partkey % 6 = 0 THEN 'SM-S911B' END AS model,
       |    CASE p_partkey % 4 WHEN 0 THEN '128' WHEN 1 THEN 'NULL' ELSE NULL END AS storage,
       |    CASE WHEN p_partkey % 5 = 0 THEN '8' END AS ram,
       |    CASE WHEN p_partkey % 7 = 0 THEN '95' END AS battery_health,
       |    CASE WHEN p_partkey % 3 = 0 THEN 'Noir' END AS color,
       |    CASE p_partkey % 9 WHEN 0 THEN 'Neuf sous blister' WHEN 1 THEN 'Comme neuf' WHEN 2 THEN 'excellent état'
       |      WHEN 3 THEN 'bon état' WHEN 4 THEN 'moyen' WHEN 5 THEN 'mauvais' WHEN 6 THEN 'Reconditionné'
       |      WHEN 7 THEN '' ELSE NULL END AS condition
       |  FROM part),
       |b0 AS (SELECT *, lower(trim(coalesce(brand,''))) AS lcb, lower(coalesce(title,'')) AS lct,
       |  lower(coalesce(model,'')) AS lcm FROM r),
       |b1 AS (SELECT *,
       |  CASE WHEN brand IS NOT NULL AND upper(trim(brand)) NOT IN ('','NULL','NONE','INCONNU')
       |    THEN CASE $avitoField
       |      ELSE upper(substr(trim(brand),1,1)) || lower(substr(trim(brand),2)) END
       |    ELSE coalesce(
       |      CASE $avitoTitleT ELSE NULL END,
       |      CASE $avitoTitleM ELSE NULL END,
       |      'Unknown') END AS brand_out
       |  FROM b0),
       |m0 AS (SELECT *,
       |  CASE WHEN model IS NOT NULL AND upper(trim(model)) NOT IN ('','NULL','NONE','UNKNOWN')
       |    THEN (CASE WHEN upper(trim(regexp_replace(regexp_replace(model,'[^\\p{L}\\p{N}_\\s]+',' ','g'),'\\s+',' ','g'))) = ''
       |            THEN 'Unknown'
       |            ELSE upper(trim(regexp_replace(regexp_replace(model,'[^\\p{L}\\p{N}_\\s]+',' ','g'),'\\s+',' ','g'))) END)
       |    ELSE NULL END AS from_field,
       |  CASE WHEN coalesce(brand_out,'') = 'Unknown' THEN upper(coalesce(title,''))
       |       ELSE replace(upper(coalesce(title,'')), upper(coalesce(brand_out,' ')), '') END AS tnb
       |  FROM b1),
       |m1 AS (SELECT *,
       |  trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[A-Z]+\\s*[0-9]+\\s*[A-Z]*\\s*[0-9]*\\s*[A-Z]*', 0)), '\\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\\b', ' ', 'g'), '\\s+', ' ', 'g')) AS mc1,
       |  trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[0-9]+\\s*[A-Z]+\\s*[0-9]*', 0)), '\\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\\b', ' ', 'g'), '\\s+', ' ', 'g')) AS mc2,
       |  trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[A-Z]+\\s*[0-9]+', 0)), '\\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\\b', ' ', 'g'), '\\s+', ' ', 'g')) AS mc3,
       |  trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[0-9]+\\s*[A-Z]{2,}', 0)), '\\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\\b', ' ', 'g'), '\\s+', ' ', 'g')) AS mc4,
       |  trim(regexp_replace(regexp_replace(trim(regexp_extract(tnb, '[A-Z]{2,}\\s*[0-9]+', 0)), '\\b(ULTRA|PRO|PLUS|MAX|MINI|LITE)\\b', ' ', 'g'), '\\s+', ' ', 'g')) AS mc5,
       |  array_to_string(list_filter(list_slice(list_filter(string_split_regex(trim(tnb), '\\s+'), x -> x <> ''), 1, 3), x -> len(x) > 2 AND NOT regexp_matches(x, '^[0-9]+$$')), ' ') AS mfw
       |  FROM m0),
       |m2 AS (SELECT *,
       |  coalesce(from_field,
       |    CASE WHEN len(mc1) > 1 THEN mc1 END, CASE WHEN len(mc2) > 1 THEN mc2 END,
       |    CASE WHEN len(mc3) > 1 THEN mc3 END, CASE WHEN len(mc4) > 1 THEN mc4 END,
       |    CASE WHEN len(mc5) > 1 THEN mc5 END, nullif(mfw, ''),
       |    'Unknown') AS model_out
       |  FROM m1),
       |p0 AS (SELECT *, regexp_replace(price, '[^0-9,.]', '', 'g') AS pst FROM m2),
       |p1 AS (SELECT *,
       |  CASE WHEN pst LIKE '%,%' AND pst LIKE '%.%' THEN replace(replace(pst, '.', ''), ',', '.')
       |       WHEN pst LIKE '%,%' THEN replace(pst, ',', '')
       |       ELSE pst END AS pnorm
       |  FROM p0),
       |p2 AS (SELECT *,
       |  coalesce(CAST(nullif(regexp_extract(pnorm, '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price_out,
       |  lower(trim(coalesce(condition,''))) AS lcc
       |  FROM p1),
       |c0 AS (SELECT *,
       |  CASE WHEN condition IS NULL OR upper(trim(condition)) IN $sentinelsSql THEN 'used'
       |    WHEN contains(lcc,'comme neuf') OR contains(lcc,'like new') THEN 'like new'
       |    WHEN contains(lcc,'reconditionn') OR contains(lcc,'refurbished') THEN 'refurbished'
       |    WHEN contains(lcc,'neuf') OR contains(lcc,'new') OR contains(lcc,'nouveau') THEN 'new'
       |    WHEN contains(lcc,'bon') OR contains(lcc,'good') OR contains(lcc,'excellent') THEN 'good'
       |    WHEN contains(lcc,'moyen') OR contains(lcc,'fair') OR contains(lcc,'acceptable') THEN 'fair'
       |    WHEN contains(lcc,'mauvais') OR contains(lcc,'poor') OR contains(lcc,'endommag') THEN 'poor'
       |    ELSE 'used' END AS condition_out
       |  FROM p2),
       |id0 AS (SELECT *,
       |  regexp_replace(lower(coalesce(brand_out,'')), '[^a-z0-9]', '', 'g') AS slug_b,
       |  regexp_replace(lower(coalesce(model_out,'')), '[^a-z0-9]', '', 'g') AS slug_m,
       |  regexp_replace(regexp_extract(lower(coalesce(title,'')), '\\b[a-z]+[0-9]+\\w*\\b', 0), '[^a-z0-9]', '', 'g') AS tok,
       |  'title_' || substr(md5(coalesce(title,'')), 1, 8) AS md5fb
       |  FROM c0),
       |f AS (SELECT *,
       |  concat_ws('_', slug_b,
       |    CASE WHEN slug_m <> '' AND slug_m <> 'unknown' THEN slug_m
       |         WHEN tok <> '' THEN tok ELSE md5fb END) AS product_id,
       |  CASE WHEN contains(coalesce(url,''), 'avito.ma') THEN url
       |       WHEN ad_id IS NOT NULL AND upper(trim(ad_id)) NOT IN $sentinelsSql
       |         THEN 'https://www.avito.ma/vi/' || ad_id || '.htm'
       |       ELSE 'https://www.avito.ma' END AS url_out
       |  FROM id0)
       |SELECT product_id, brand_out AS brand, model_out AS model,
       |  trim(coalesce(title,'')) AS product_name, 'Smartphone' AS category,
       |  CASE WHEN storage IS NULL OR upper(trim(storage)) IN $sentinelsSql THEN NULL ELSE storage END AS spec_storage,
       |  CASE WHEN ram IS NULL OR upper(trim(ram)) IN $sentinelsSql THEN NULL ELSE ram END AS spec_ram,
       |  CASE WHEN battery_health IS NULL OR upper(trim(battery_health)) IN $sentinelsSql THEN NULL ELSE battery_health END AS spec_battery,
       |  CASE WHEN color IS NULL OR upper(trim(color)) IN $sentinelsSql THEN NULL ELSE color END AS spec_color,
       |  CASE WHEN condition IS NULL OR upper(trim(condition)) IN $sentinelsSql THEN NULL ELSE condition END AS spec_condition,
       |  price_out AS price, condition_out AS condition,
       |  coalesce(seller_type, 'PRIVATE') AS seller_type, city, area,
       |  url_out AS url, seller_name, list_time AS scraped_at,
       |  '2026-08-12T00:00:00' AS created_at
       |FROM f
       |ORDER BY seller_name""".stripMargin
  }

  /** P1/CompatMode — the real Transforms.avito in DAG-INLINE mode
    * end-to-end over the same synthesized raw frame as p1_avito: the DAG
    * brand map (17 keys, HONOR→Honor, 'NULL'-only sentinel, 7-brand
    * Title-Case title fallback, no model stage), the naive clean_price,
    * and the DAG condition map ('excellent' distinct) all composed and
    * hash-matched. */
  def p1AvitoDagTransform(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = t(s, dir, "part").select(
      when(k % 3 === 1, (k % 100000).cast("string")).otherwise(lit(null).cast("string")).as("ad_id"),
      when(k % 5 === 0, lit("Samsung Galaxy S24 Ultra 512GB"))
        .when(k % 5 === 1, lit("Honor Magic 5 Lite"))
        .when(k % 5 === 2, lit("Telephone pas cher"))
        .when(k % 5 === 3, lit("Xiaomi Redmi Note 12 Pro"))
        .otherwise(lit("Oppo Reno 8")).as("title"),
      lit(null).cast("string").as("description"),
      when(k % 5 === 0, lit("4.500,00")).when(k % 5 === 1, lit("4,500"))
        .when(k % 5 === 2, lit("250 DH")).when(k % 5 === 3, lit(""))
        .otherwise(lit("7800")).as("price"),
      lit("Casablanca").as("city"),
      when(k % 2 === 0, lit("Maarif")).otherwise(lit(null).cast("string")).as("area"),
      when(k % 3 === 0, lit("PRO")).otherwise(lit(null).cast("string")).as("seller_type"),
      concat(lit("s"), lpad(k.cast("string"), 8, "0")).as("seller_name"),
      lit("Téléphones").as("category"),
      when(k % 3 === 0, lit("https://www.avito.ma/vi/111.htm"))
        .when(k % 3 === 1, lit("https://other.com/x"))
        .otherwise(lit(null).cast("string")).as("url"),
      concat(lit("2026-01-"), lpad((k % 28 + 1).cast("string"), 2, "0")).as("list_time"),
      when(k % 4 === 0, lit("SAMSUNG")).when(k % 4 === 1, lit(null).cast("string"))
        .when(k % 4 === 2, lit("NULL")).otherwise(lit("HONOR")).as("brand"),
      when(k % 6 === 0, lit("SM-S911B")).otherwise(lit(null).cast("string")).as("model"),
      lit(null).cast("string").as("storage"), lit(null).cast("string").as("ram"),
      lit(null).cast("string").as("battery_health"), lit(null).cast("string").as("color"),
      when(k % 9 === 0, lit("Neuf sous blister")).when(k % 9 === 1, lit("Comme neuf"))
        .when(k % 9 === 2, lit("excellent état")).when(k % 9 === 3, lit("bon état"))
        .when(k % 9 === 4, lit("moyen")).when(k % 9 === 5, lit("mauvais"))
        .when(k % 9 === 6, lit("Reconditionné")).when(k % 9 === 7, lit(""))
        .otherwise(lit(null).cast("string")).as("condition"))
    val out = graft.transform.Transforms.avito(raw, "2026-08-12T00:00:00",
      graft.transform.CompatMode.DagInline)
    out.select(
      col("product_id"), col("brand"), col("model"),
      element_at(col("offers"), 1).getField("price").as("price"),
      element_at(col("offers"), 1).getField("condition").as("condition"),
      element_at(col("offers"), 1).getField("seller_name").as("seller_name"))
      .sortSmall("seller_name")
  }

  val p1AvitoDagSql: String = {
    val dagField = brandChain(graft.functions.ScalarFunctions.DagFieldBrandMap, "lcb")
    val dagTitle = graft.functions.ScalarFunctions.DagTitleBrands.map(b =>
      s"WHEN contains(lct, '${b.toLowerCase}') THEN '$b'").mkString("\n      ")
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 5 WHEN 0 THEN 'Samsung Galaxy S24 Ultra 512GB' WHEN 1 THEN 'Honor Magic 5 Lite'
       |      WHEN 2 THEN 'Telephone pas cher' WHEN 3 THEN 'Xiaomi Redmi Note 12 Pro' ELSE 'Oppo Reno 8' END AS title,
       |    CASE p_partkey % 5 WHEN 0 THEN '4.500,00' WHEN 1 THEN '4,500' WHEN 2 THEN '250 DH'
       |      WHEN 3 THEN '' ELSE '7800' END AS price,
       |    's' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS seller_name,
       |    CASE p_partkey % 4 WHEN 0 THEN 'SAMSUNG' WHEN 1 THEN NULL WHEN 2 THEN 'NULL' ELSE 'HONOR' END AS brand,
       |    CASE WHEN p_partkey % 6 = 0 THEN 'SM-S911B' END AS model,
       |    CASE p_partkey % 9 WHEN 0 THEN 'Neuf sous blister' WHEN 1 THEN 'Comme neuf' WHEN 2 THEN 'excellent état'
       |      WHEN 3 THEN 'bon état' WHEN 4 THEN 'moyen' WHEN 5 THEN 'mauvais' WHEN 6 THEN 'Reconditionné'
       |      WHEN 7 THEN '' ELSE NULL END AS condition
       |  FROM part),
       |b0 AS (SELECT *, lower(trim(coalesce(brand,''))) AS lcb, lower(coalesce(title,'')) AS lct,
       |  lower(coalesce(model,'')) AS lcm FROM r),
       |b1 AS (SELECT *,
       |  CASE WHEN brand IS NOT NULL AND brand <> '' AND upper(trim(brand)) <> 'NULL'
       |    THEN CASE $dagField
       |      ELSE upper(substr(trim(brand),1,1)) || lower(substr(trim(brand),2)) END
       |    ELSE CASE $dagTitle
       |      ELSE 'Unknown' END END AS brand_out
       |  FROM b0),
       |m0 AS (SELECT *,
       |  CASE WHEN model IS NOT NULL AND model <> ''
       |         AND upper(trim(model)) NOT IN ('NULL','UNKNOWN')
       |    THEN upper(trim(model)) ELSE NULL END AS from_field,
       |  trim(replace(lower(coalesce(title,'')), lower(coalesce(brand_out,' ')), '')) AS tnb
       |  FROM b1),
       |m1 AS (SELECT *,
       |  coalesce(
       |    nullif(upper(trim(regexp_extract(tnb, '[a-z]+\\s*[0-9]+[\\p{L}\\p{N}_]*\\s*[0-9]*[\\p{L}\\p{N}_]*', 0))), ''),
       |    nullif(upper(trim(regexp_extract(tnb, '[0-9]+\\s*[a-z]+\\s*[0-9]*', 0))), ''),
       |    nullif(upper(trim(regexp_extract(tnb, '[a-z]+\\s*[0-9]+', 0))), ''),
       |    nullif(upper(trim(regexp_extract(tnb, '[0-9]+\\s*go|[0-9]+\\s*gb', 0))), '')) AS rawm
       |  FROM m0),
       |m2 AS (SELECT *,
       |  coalesce(from_field, rawm, 'Unknown') AS model_out,
       |  lower(trim(coalesce(condition,''))) AS lcc
       |  FROM m1),
       |c0 AS (SELECT *,
       |  CASE WHEN condition IS NULL OR condition = '' OR upper(condition) = 'NULL' THEN 'used'
       |    WHEN contains(lcc,'neuf') OR contains(lcc,'new') THEN 'new'
       |    WHEN contains(lcc,'bon') OR contains(lcc,'good') THEN 'good'
       |    WHEN contains(lcc,'excellent') THEN 'excellent'
       |    WHEN contains(lcc,'moyen') OR contains(lcc,'fair') THEN 'fair'
       |    WHEN contains(lcc,'mauvais') OR contains(lcc,'poor') THEN 'poor'
       |    ELSE 'used' END AS condition_out,
       |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(price, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price_out
       |  FROM m2),
       |id0 AS (SELECT *,
       |  regexp_replace(lower(coalesce(brand_out,'')), '[^a-z0-9]', '', 'g') AS slug_b,
       |  regexp_replace(lower(coalesce(model_out,'')), '[^a-z0-9]', '', 'g') AS slug_m,
       |  regexp_replace(regexp_extract(lower(coalesce(title,'')), '\\b[a-z]+[0-9]+\\w*\\b', 0), '[^a-z0-9]', '', 'g') AS tok,
       |  'title_' || substr(md5(coalesce(title,'')), 1, 8) AS md5fb
       |  FROM c0)
       |SELECT
       |  concat_ws('_', slug_b,
       |    CASE WHEN slug_m <> '' AND slug_m <> 'unknown' THEN slug_m
       |         WHEN tok <> '' THEN tok ELSE md5fb END) AS product_id,
       |  brand_out AS brand, model_out AS model,
       |  price_out AS price, condition_out AS condition, seller_name
       |FROM id0
       |ORDER BY seller_name""".stripMargin
  }

  /** P1 — the real [[graft.transform.Transforms.jumia]] end-to-end,
    * including the "13,875" comma-decimal golden quirk (naive clean_price
    * on the Jumia path), the shared-map brand fallback, the no-marketing-
    * strip model cascade, and the specs-dict-overrides-regex rule. The
    * synthesized dicts are single-key, so the oracle computes the dict
    * lookup per residue class while the Spark side runs the generic
    * map-entries filter. */
  def p1JumiaTransform(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = t(s, dir, "part").select(
      when(k % 5 === 0, lit("Samsung Galaxy A14"))
        .when(k % 5 === 1, lit("Xiaomi Redmi 12"))
        .when(k % 5 === 2, lit("Telephone 128 Go stockage"))
        .when(k % 5 === 3, lit("Infinix Hot Deal")) // no digits → words[1] id fallback
        .otherwise(lit("Oppo A58 écran 6.5\" neuf")).as("title"),
      when(k % 3 === 0, lit("XIAOMI")).when(k % 3 === 1, lit(null).cast("string"))
        .otherwise(lit("NULL")).as("brand"),
      when(k % 4 === 0, lit("13,875")).when(k % 4 === 1, lit("1.299,00"))
        .when(k % 4 === 2, lit("2499")).otherwise(lit("")).as("price"),
      when(k % 2 === 0, lit("2,999")).otherwise(lit(null).cast("string")).as("old_price"),
      when(k % 4 === 0, lit("4.5 out of 5")).when(k % 4 === 1, lit("3/5"))
        .when(k % 4 === 2, lit("")).otherwise(lit(null).cast("string")).as("rating"),
      concat(lit("("), (k % 500).cast("string"), lit(" avis)")).as("reviews_count_text"),
      concat(lit("https://www.jumia.ma/p"), lpad(k.cast("string"), 8, "0")).as("product_url"),
      concat(lit("2026-02-"), lpad((k % 28 + 1).cast("string"), 2, "0")).as("scraped_at"),
      when(k % 2 === 0, lit("8 go ram écran 6.1\"")).otherwise(lit(null).cast("string")).as("description"),
      when(k % 4 === 0, map(lit("Stockage interne"), lit("256 Go")))
        .when(k % 4 === 1, map(lit("RAM"), lit("12 Go")))
        .when(k % 4 === 3, map(lit("Couleur"), lit("Bleu")))
        .otherwise(lit(null).cast("map<string,string>")).as("specs"))
    val out = graft.transform.Transforms.jumia(raw, "2026-08-12T00:00:00")
    out.select(
      col("product_id"), col("brand"), col("model"), col("product_name"),
      try_element_at(col("specifications"), lit("storage")).as("spec_storage"),
      try_element_at(col("specifications"), lit("ram")).as("spec_ram"),
      try_element_at(col("specifications"), lit("screen_size")).as("spec_screen_size"),
      element_at(col("offers"), 1).getField("price").as("price"),
      element_at(col("offers"), 1).getField("original_price").as("original_price"),
      element_at(col("offers"), 1).getField("condition").as("condition"),
      element_at(col("offers"), 1).getField("rating").as("rating"),
      element_at(col("offers"), 1).getField("reviews_count").as("reviews_count"),
      element_at(col("offers"), 1).getField("url").as("url"),
      element_at(col("offers"), 1).getField("scraped_at").as("scraped_at"))
      .sortSmall("url")
  }

  /** P1/CompatMode — the real Transforms.jumia in DAG-INLINE mode over
    * the p1_jumia synth frame: DAG brand map, the DAG's own 3-pattern
    * cascade, no-fallback product id, dict-only specs, 'new' condition,
    * first-decimal rating. */
  def p1JumiaDagTransform(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val raw = t(s, dir, "part").select(
      when(k % 5 === 0, lit("Samsung Galaxy A14"))
        .when(k % 5 === 1, lit("Xiaomi Redmi 12"))
        .when(k % 5 === 2, lit("Telephone 128 Go stockage"))
        .when(k % 5 === 3, lit("Infinix Hot Deal"))
        .otherwise(lit("Oppo A58 écran 6.5\" neuf")).as("title"),
      when(k % 3 === 0, lit("XIAOMI")).when(k % 3 === 1, lit(null).cast("string"))
        .otherwise(lit("NULL")).as("brand"),
      when(k % 4 === 0, lit("13,875")).when(k % 4 === 1, lit("1.299,00"))
        .when(k % 4 === 2, lit("2499")).otherwise(lit("")).as("price"),
      lit(null).cast("string").as("old_price"),
      when(k % 4 === 0, lit("4.5 out of 5")).when(k % 4 === 1, lit("3/5"))
        .when(k % 4 === 2, lit("")).otherwise(lit(null).cast("string")).as("rating"),
      concat(lit("("), (k % 500).cast("string"), lit(" avis)")).as("reviews_count_text"),
      concat(lit("https://www.jumia.ma/p"), lpad(k.cast("string"), 8, "0")).as("product_url"),
      concat(lit("2026-02-"), lpad((k % 28 + 1).cast("string"), 2, "0")).as("scraped_at"),
      lit(null).cast("string").as("description"),
      when(k % 4 === 0, map(lit("Stockage interne"), lit("256 Go")))
        .when(k % 4 === 1, map(lit("RAM"), lit("12 Go")))
        .when(k % 4 === 3, map(lit("Couleur"), lit("Bleu")))
        .otherwise(lit(null).cast("map<string,string>")).as("specs"))
    val out = graft.transform.Transforms.jumia(raw, "2026-08-12T00:00:00",
      graft.transform.CompatMode.DagInline)
    out.select(
      col("product_id"), col("brand"), col("model"), col("product_name"),
      try_element_at(col("specifications"), lit("storage")).as("spec_storage"),
      try_element_at(col("specifications"), lit("ram")).as("spec_ram"),
      element_at(col("offers"), 1).getField("price").as("price"),
      element_at(col("offers"), 1).getField("condition").as("condition"),
      element_at(col("offers"), 1).getField("rating").as("rating"),
      element_at(col("offers"), 1).getField("url").as("url"))
      .sortSmall("url")
  }

  val p1JumiaDagSql: String = {
    val dagBrand = brandChain(graft.functions.ScalarFunctions.DagFieldBrandMap, "lcb")
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 5 WHEN 0 THEN 'Samsung Galaxy A14' WHEN 1 THEN 'Xiaomi Redmi 12'
       |      WHEN 2 THEN 'Telephone 128 Go stockage' WHEN 3 THEN 'Infinix Hot Deal'
       |      ELSE 'Oppo A58 écran 6.5" neuf' END AS title,
       |    CASE p_partkey % 3 WHEN 0 THEN 'XIAOMI' WHEN 1 THEN NULL ELSE 'NULL' END AS brand,
       |    CASE p_partkey % 4 WHEN 0 THEN '13,875' WHEN 1 THEN '1.299,00' WHEN 2 THEN '2499' ELSE '' END AS price,
       |    CASE p_partkey % 4 WHEN 0 THEN '4.5 out of 5' WHEN 1 THEN '3/5' WHEN 2 THEN '' ELSE NULL END AS rating,
       |    'https://www.jumia.ma/p' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS product_url,
       |    CASE WHEN p_partkey % 4 = 0 THEN '256 Go' END AS storage_dict,
       |    CASE WHEN p_partkey % 4 = 1 THEN '12 Go' END AS ram_dict
       |  FROM part),
       |b0 AS (SELECT *, lower(trim(coalesce(brand,''))) AS lcb FROM r),
       |b1 AS (SELECT *,
       |  CASE WHEN brand IS NULL OR brand = '' THEN 'Unknown'
       |    ELSE CASE $dagBrand
       |      ELSE upper(substr(brand,1,1)) || lower(substr(brand,2)) END END AS brand_out
       |  FROM b0),
       |m0 AS (SELECT *, trim(replace(lower(title), lower(brand_out), '')) AS tc FROM b1),
       |m1 AS (SELECT *,
       |  coalesce(
       |    nullif(regexp_extract(tc, '([a-z]+\\s*[0-9]+[\\p{L}\\p{N}_]*\\s*[0-9]*[\\p{L}\\p{N}_]*)', 1), ''),
       |    nullif(regexp_extract(tc, '([0-9]+\\s*[a-z]+\\s*[0-9]*)', 1), ''),
       |    nullif(regexp_extract(tc, '([a-z]+\\s*[0-9]+)', 1), '')) AS rawm
       |  FROM m0),
       |m2 AS (SELECT *,
       |  CASE WHEN title = '' THEN 'Unknown'
       |    ELSE coalesce(nullif(trim(upper(rawm)), ''), 'Unknown') END AS model_out
       |  FROM m1)
       |SELECT
       |  regexp_replace(lower(brand_out), '[^a-z0-9]', '', 'g') || '_' ||
       |    regexp_replace(lower(model_out), '[^a-z0-9]', '', 'g') AS product_id,
       |  brand_out AS brand, model_out AS model, trim(title) AS product_name,
       |  storage_dict AS spec_storage, ram_dict AS spec_ram,
       |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(price, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price,
       |  'new' AS condition,
       |  CAST(coalesce(CAST(nullif(regexp_extract(rating, '([0-9]+\\.?[0-9]*)', 1), '') AS DOUBLE), 0.0) AS VARCHAR) AS rating,
       |  product_url AS url
       |FROM m2
       |ORDER BY url""".stripMargin
  }

  val p1JumiaSql: String = {
    val sharedBrand = brandChain(BrandMap, "lcb")
    // base-path model cascade: the synthesized brands never contain
    // 'samsung', so only the generic patterns apply (the samsung-branch
    // patterns are exercised by GoldenReplaySpec over the reference's
    // real data)
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 5 WHEN 0 THEN 'Samsung Galaxy A14' WHEN 1 THEN 'Xiaomi Redmi 12'
       |      WHEN 2 THEN 'Telephone 128 Go stockage' WHEN 3 THEN 'Infinix Hot Deal'
       |      ELSE 'Oppo A58 écran 6.5" neuf' END AS title,
       |    CASE p_partkey % 3 WHEN 0 THEN 'XIAOMI' WHEN 1 THEN NULL ELSE 'NULL' END AS brand,
       |    CASE p_partkey % 4 WHEN 0 THEN '13,875' WHEN 1 THEN '1.299,00' WHEN 2 THEN '2499' ELSE '' END AS price,
       |    CASE WHEN p_partkey % 2 = 0 THEN '2,999' END AS old_price,
       |    CASE p_partkey % 4 WHEN 0 THEN '4.5 out of 5' WHEN 1 THEN '3/5' WHEN 2 THEN '' ELSE NULL END AS rating,
       |    '(' || CAST(p_partkey % 500 AS VARCHAR) || ' avis)' AS reviews_count_text,
       |    'https://www.jumia.ma/p' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS product_url,
       |    '2026-02-' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') AS scraped_at,
       |    CASE WHEN p_partkey % 2 = 0 THEN '8 go ram écran 6.1"' END AS description,
       |    CASE WHEN p_partkey % 4 = 0 THEN '256 Go' END AS storage_dict,
       |    CASE WHEN p_partkey % 4 = 1 THEN '12 Go' END AS ram_dict
       |  FROM part),
       |b0 AS (SELECT *, lower(trim(coalesce(brand,''))) AS lcb FROM r),
       |b1 AS (SELECT *,
       |  CASE WHEN brand IS NULL OR brand = '' THEN 'Unknown'
       |    ELSE CASE $sharedBrand
       |      ELSE upper(substr(brand,1,1)) || lower(substr(brand,2)) END END AS brand_out
       |  FROM b0),
       |m0 AS (SELECT *, trim(replace(lower(title), lower(brand_out), '')) AS tc FROM b1),
       |m1 AS (SELECT *,
       |  coalesce(
       |    nullif(regexp_extract(tc, '([0-9]+\\s*go|[0-9]+\\s*gb)', 1), ''),
       |    nullif(regexp_extract(tc, '([0-9]+\\s*go\\s+[0-9]+\\s*go\\s+ram)', 1), ''),
       |    nullif(regexp_extract(tc, '([a-z]+\\s*[0-9]+[\\p{L}\\p{N}_]*)', 1), '')) AS rawm
       |  FROM m0),
       |m2 AS (SELECT *,
       |  CASE WHEN title = '' THEN 'Unknown'
       |    ELSE coalesce(nullif(trim(regexp_replace(upper(rawm), '\\s+', ' ', 'g')), ''), 'Unknown') END AS model_out,
       |  lower(title || ' ' || coalesce(description, '')) AS ft
       |  FROM m1),
       |px AS (SELECT *,
       |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(price, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price_out,
       |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(old_price, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS old_price_out,
       |  coalesce(
       |    CAST(nullif(regexp_extract(rating, '([0-9]+\\.?[0-9]*)\\s*out of\\s*[0-9]+', 1), '') AS DOUBLE),
       |    CAST(nullif(regexp_extract(rating, '([0-9]+\\.?[0-9]*)\\s*/\\s*[0-9]+', 1), '') AS DOUBLE),
       |    CAST(nullif(regexp_extract(rating, '([0-9]+\\.?[0-9]*)', 1), '') AS DOUBLE),
       |    0.0) AS rating_out
       |  FROM m2),
       |sp AS (SELECT *,
       |  CASE WHEN regexp_extract(ft, '([0-9]+)\\s*(go|gb|go ram)', 1) <> ''
       |    THEN regexp_extract(ft, '([0-9]+)\\s*(go|gb|go ram)', 1) || ' ' || upper(regexp_extract(ft, '([0-9]+)\\s*(go|gb|go ram)', 2)) END AS storage_regex,
       |  CASE WHEN regexp_extract(ft, '([0-9]+)\\s*go\\s*ram', 1) <> ''
       |    THEN regexp_extract(ft, '([0-9]+)\\s*go\\s*ram', 1) || ' Go' END AS ram_regex,
       |  CASE WHEN regexp_extract(ft, '([0-9]+[.,]?[0-9]*)"', 1) <> ''
       |    THEN regexp_extract(ft, '([0-9]+[.,]?[0-9]*)"', 1) || '"' END AS screen_regex
       |  FROM px),
       |id0 AS (SELECT *,
       |  regexp_replace(lower(coalesce(brand_out,'')), '[^a-z0-9]', '', 'g') AS slug_b,
       |  regexp_replace(lower(coalesce(model_out,'')), '[^a-z0-9]', '', 'g') AS slug_m,
       |  string_split_regex(trim(regexp_replace(lower(title), '[^a-z0-9]', ' ', 'g')), '\\s+') AS words
       |  FROM sp)
       |SELECT
       |  slug_b || '_' ||
       |    CASE WHEN slug_m = 'unknown'
       |      THEN CASE WHEN len(words) > 1 THEN words[2] ELSE 'unknown' END
       |      ELSE slug_m END AS product_id,
       |  brand_out AS brand, model_out AS model, coalesce(title,'') AS product_name,
       |  coalesce(storage_dict, storage_regex) AS spec_storage,
       |  coalesce(ram_dict, ram_regex) AS spec_ram,
       |  screen_regex AS spec_screen_size,
       |  price_out AS price, old_price_out AS original_price,
       |  'Neuf' AS condition,
       |  CAST(rating_out AS VARCHAR) AS rating,
       |  reviews_count_text AS reviews_count,
       |  product_url AS url, scraped_at
       |FROM id0
       |ORDER BY url""".stripMargin
  }

  /** Shared synthesized Electroplanet raw frame: French spec keys per
    * residue class (Modèle present/'Unknown'/''/absent to exercise every
    * branch of the model guard), BASE-path brand inputs, naive-price
    * formats, a reviews_summary struct, and a detailed_scraped_at that is
    * present/empty/null (the plugin and DAG paths treat '' differently —
    * plugin's plain coalesce keeps it, the DAG's falsy-or falls through). */
  private def electroRaw(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    t(s, dir, "part").select(
      when(k % 5 === 0, lit("Samsung Galaxy A14"))
        .when(k % 5 === 1, lit("Xiaomi Redmi 12"))
        .when(k % 5 === 2, lit("Telephone 128 Go stockage"))
        .when(k % 5 === 3, lit("Infinix Hot Deal"))
        .otherwise(lit("Oppo A58 écran 6.5\" neuf")).as("name"),
      when(k % 3 === 0, lit("XIAOMI")).when(k % 3 === 1, lit(null).cast("string"))
        .otherwise(lit("NULL")).as("brand"),
      when(k % 4 === 0, lit("13,875")).when(k % 4 === 1, lit("1.299,00"))
        .when(k % 4 === 2, lit("2499")).otherwise(lit("")).as("price"),
      when(k % 2 === 0, lit("2,999")).otherwise(lit(null).cast("string")).as("old_price"),
      when(k % 6 === 0, map(lit("Modèle"), lit("Redmi Note 13 Pro"),
          lit("Capacité de stockage interne"), lit("256 Go"), lit("Marque"), lit("Xiaomi")))
        .when(k % 6 === 1, map(lit("Modèle"), lit("Unknown"), lit("Capacité de la RAM"), lit("8 Go")))
        .when(k % 6 === 2, map(lit("Modèle"), lit(""), lit("Famille de processeur"), lit("Snapdragon 8")))
        .when(k % 6 === 3, map(lit("Écran Gorilla Glass"), lit("Oui"),
          lit("Résolution de la caméra arrière (numerique)"), lit("50 MP")))
        .when(k % 6 === 4, lit(null).cast("map<string,string>"))
        .otherwise(map(lit("Afficher le nom du marketing technologique"), lit("AMOLED"),
          lit("Capacité de stockage interne"), lit(""))).as("specifications"),
      struct(
        when(k % 3 === 0, lit("20")).when(k % 3 === 1, lit("4.5"))
          .otherwise(lit(null).cast("string")).as("average_rating"),
        (k % 500).cast("int").as("total_reviews")).as("reviews_summary"),
      concat(lit("https://www.electroplanet.ma/p"), lpad(k.cast("string"), 8, "0")).as("product_url"),
      when(k % 2 === 0, lit("Electroplanet Rabat")).otherwise(lit(null).cast("string")).as("store"),
      when(k % 3 === 0, lit("2026-03-01T10:00:00")).when(k % 3 === 1, lit(""))
        .otherwise(lit(null).cast("string")).as("detailed_scraped_at"),
      concat(lit("2026-03-"), lpad((k % 28 + 1).cast("string"), 2, "0")).as("scraped_at"))
  }

  /** P1 — the real [[graft.transform.Transforms.electroplanet]] (plugin
    * path) end-to-end: BASE brand (falsy-only), `Modèle` spec verbatim
    * unless empty/'Unknown' (then the BASE title cascade), BASE product
    * id with words[1] fallback, canonical French spec-key mapping,
    * naive clean_price (the "13,875"→13.875 quirk is on this path too —
    * the extractor calls self.clean_price), raw average_rating string,
    * detailed_scraped_at preferred with a plain null-only coalesce.
    * Ref: electroplanet_extractor.py:14-77. */
  def p1ElectroTransform(s: SparkSession, dir: String): DataFrame = {
    val out = graft.transform.Transforms.electroplanet(electroRaw(s, dir), "2026-08-12T00:00:00")
    out.select(
      col("product_id"), col("brand"), col("model"), col("product_name"),
      try_element_at(col("specifications"), lit("storage")).as("spec_storage"),
      try_element_at(col("specifications"), lit("ram")).as("spec_ram"),
      try_element_at(col("specifications"), lit("brand")).as("spec_brand"),
      try_element_at(col("specifications"), lit("model")).as("spec_model"),
      try_element_at(col("specifications"), lit("processor")).as("spec_processor"),
      try_element_at(col("specifications"), lit("camera")).as("spec_camera"),
      try_element_at(col("specifications"), lit("screen_tech")).as("spec_screen_tech"),
      try_element_at(col("specifications"), lit("gorilla_glass")).as("spec_gorilla"),
      element_at(col("offers"), 1).getField("price").as("price"),
      element_at(col("offers"), 1).getField("original_price").as("original_price"),
      element_at(col("offers"), 1).getField("condition").as("condition"),
      element_at(col("offers"), 1).getField("rating").as("rating"),
      element_at(col("offers"), 1).getField("reviews_count").as("reviews_count"),
      element_at(col("offers"), 1).getField("url").as("url"),
      element_at(col("offers"), 1).getField("seller_name").as("seller_name"),
      element_at(col("offers"), 1).getField("scraped_at").as("scraped_at"))
      .sortSmall("url")
  }

  val p1ElectroSql: String = {
    val sharedBrand = brandChain(BrandMap, "lcb")
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 5 WHEN 0 THEN 'Samsung Galaxy A14' WHEN 1 THEN 'Xiaomi Redmi 12'
       |      WHEN 2 THEN 'Telephone 128 Go stockage' WHEN 3 THEN 'Infinix Hot Deal'
       |      ELSE 'Oppo A58 écran 6.5" neuf' END AS name,
       |    CASE p_partkey % 3 WHEN 0 THEN 'XIAOMI' WHEN 1 THEN NULL ELSE 'NULL' END AS brand,
       |    CASE p_partkey % 4 WHEN 0 THEN '13,875' WHEN 1 THEN '1.299,00' WHEN 2 THEN '2499' ELSE '' END AS price,
       |    CASE WHEN p_partkey % 2 = 0 THEN '2,999' END AS old_price,
       |    CASE p_partkey % 6 WHEN 0 THEN 'Redmi Note 13 Pro' WHEN 1 THEN 'Unknown' WHEN 2 THEN '' END AS spec_modele,
       |    CASE p_partkey % 6 WHEN 0 THEN '256 Go' WHEN 5 THEN '' END AS spec_storage_in,
       |    CASE WHEN p_partkey % 6 = 1 THEN '8 Go' END AS spec_ram_in,
       |    CASE WHEN p_partkey % 6 = 0 THEN 'Xiaomi' END AS spec_marque,
       |    CASE WHEN p_partkey % 6 = 2 THEN 'Snapdragon 8' END AS spec_proc,
       |    CASE WHEN p_partkey % 6 = 3 THEN '50 MP' END AS spec_cam,
       |    CASE WHEN p_partkey % 6 = 5 THEN 'AMOLED' END AS spec_st,
       |    CASE WHEN p_partkey % 6 = 3 THEN 'Oui' END AS spec_gg,
       |    CASE p_partkey % 3 WHEN 0 THEN '20' WHEN 1 THEN '4.5' END AS avg_rating,
       |    CAST(p_partkey % 500 AS VARCHAR) AS total_reviews,
       |    'https://www.electroplanet.ma/p' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS product_url,
       |    CASE WHEN p_partkey % 2 = 0 THEN 'Electroplanet Rabat' END AS store,
       |    CASE p_partkey % 3 WHEN 0 THEN '2026-03-01T10:00:00' WHEN 1 THEN '' END AS detailed_scraped_at,
       |    '2026-03-' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') AS scraped_at
       |  FROM part),
       |b0 AS (SELECT *, lower(trim(coalesce(brand,''))) AS lcb FROM r),
       |b1 AS (SELECT *,
       |  CASE WHEN brand IS NULL OR brand = '' THEN 'Unknown'
       |    ELSE CASE $sharedBrand
       |      ELSE upper(substr(brand,1,1)) || lower(substr(brand,2)) END END AS brand_out
       |  FROM b0),
       |m0 AS (SELECT *, trim(replace(lower(name), lower(brand_out), '')) AS tc FROM b1),
       |m1 AS (SELECT *,
       |  coalesce(
       |    nullif(regexp_extract(tc, '([0-9]+\\s*go|[0-9]+\\s*gb)', 1), ''),
       |    nullif(regexp_extract(tc, '([0-9]+\\s*go\\s+[0-9]+\\s*go\\s+ram)', 1), ''),
       |    nullif(regexp_extract(tc, '([a-z]+\\s*[0-9]+[\\p{L}\\p{N}_]*)', 1), '')) AS rawm
       |  FROM m0),
       |m2 AS (SELECT *,
       |  CASE WHEN spec_modele IS NOT NULL AND spec_modele <> '' AND spec_modele <> 'Unknown'
       |    THEN spec_modele
       |    ELSE CASE WHEN name = '' THEN 'Unknown'
       |      ELSE coalesce(nullif(trim(regexp_replace(upper(rawm), '\\s+', ' ', 'g')), ''), 'Unknown') END
       |    END AS model_out
       |  FROM m1),
       |px AS (SELECT *,
       |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(price, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price_out,
       |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(old_price, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS old_price_out
       |  FROM m2),
       |id0 AS (SELECT *,
       |  regexp_replace(lower(coalesce(brand_out,'')), '[^a-z0-9]', '', 'g') AS slug_b,
       |  regexp_replace(lower(coalesce(model_out,'')), '[^a-z0-9]', '', 'g') AS slug_m,
       |  string_split_regex(trim(regexp_replace(lower(name), '[^a-z0-9]', ' ', 'g')), '\\s+') AS words
       |  FROM px)
       |SELECT
       |  slug_b || '_' ||
       |    CASE WHEN slug_m = 'unknown'
       |      THEN CASE WHEN len(words) > 1 THEN words[2] ELSE 'unknown' END
       |      ELSE slug_m END AS product_id,
       |  brand_out AS brand, model_out AS model, coalesce(name,'') AS product_name,
       |  nullif(spec_storage_in, '') AS spec_storage,
       |  spec_ram_in AS spec_ram,
       |  spec_marque AS spec_brand,
       |  nullif(spec_modele, '') AS spec_model,
       |  spec_proc AS spec_processor,
       |  spec_cam AS spec_camera,
       |  spec_st AS spec_screen_tech,
       |  spec_gg AS spec_gorilla,
       |  price_out AS price, old_price_out AS original_price,
       |  'Neuf' AS condition,
       |  avg_rating AS rating,
       |  total_reviews AS reviews_count,
       |  product_url AS url, store AS seller_name,
       |  coalesce(detailed_scraped_at, scraped_at) AS scraped_at
       |FROM id0
       |ORDER BY url""".stripMargin
  }

  /** P1/CompatMode — the real Transforms.electroplanet in DAG-INLINE mode
    * (transform_electroplanet_item, dag:551-610): DAG brand map, `Modèle`
    * verbatim when merely truthy (a literal 'Unknown' spec stays — unlike
    * the plugin path), ONE letters-digits pattern over the brand-stripped
    * name, slug-only id with no fallback, 3-key truthy specs, 'new'
    * condition, falsy-or detailed_scraped_at (empty string falls through
    * to scraped_at). */
  def p1ElectroDagTransform(s: SparkSession, dir: String): DataFrame = {
    val out = graft.transform.Transforms.electroplanet(electroRaw(s, dir), "2026-08-12T00:00:00",
      graft.transform.CompatMode.DagInline)
    out.select(
      col("product_id"), col("brand"), col("model"), col("product_name"),
      try_element_at(col("specifications"), lit("storage")).as("spec_storage"),
      try_element_at(col("specifications"), lit("ram")).as("spec_ram"),
      try_element_at(col("specifications"), lit("model")).as("spec_model"),
      element_at(col("offers"), 1).getField("price").as("price"),
      element_at(col("offers"), 1).getField("condition").as("condition"),
      element_at(col("offers"), 1).getField("rating").as("rating"),
      element_at(col("offers"), 1).getField("url").as("url"),
      element_at(col("offers"), 1).getField("scraped_at").as("scraped_at"))
      .sortSmall("url")
  }

  val p1ElectroDagSql: String = {
    val dagBrand = brandChain(graft.functions.ScalarFunctions.DagFieldBrandMap, "lcb")
    s"""WITH r AS (
       |  SELECT p_partkey,
       |    CASE p_partkey % 5 WHEN 0 THEN 'Samsung Galaxy A14' WHEN 1 THEN 'Xiaomi Redmi 12'
       |      WHEN 2 THEN 'Telephone 128 Go stockage' WHEN 3 THEN 'Infinix Hot Deal'
       |      ELSE 'Oppo A58 écran 6.5" neuf' END AS name,
       |    CASE p_partkey % 3 WHEN 0 THEN 'XIAOMI' WHEN 1 THEN NULL ELSE 'NULL' END AS brand,
       |    CASE p_partkey % 4 WHEN 0 THEN '13,875' WHEN 1 THEN '1.299,00' WHEN 2 THEN '2499' ELSE '' END AS price,
       |    CASE p_partkey % 6 WHEN 0 THEN 'Redmi Note 13 Pro' WHEN 1 THEN 'Unknown' WHEN 2 THEN '' END AS spec_modele,
       |    CASE p_partkey % 6 WHEN 0 THEN '256 Go' WHEN 5 THEN '' END AS spec_storage_in,
       |    CASE WHEN p_partkey % 6 = 1 THEN '8 Go' END AS spec_ram_in,
       |    CASE p_partkey % 3 WHEN 0 THEN '20' WHEN 1 THEN '4.5' END AS avg_rating,
       |    'https://www.electroplanet.ma/p' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS product_url,
       |    CASE p_partkey % 3 WHEN 0 THEN '2026-03-01T10:00:00' WHEN 1 THEN '' END AS detailed_scraped_at,
       |    '2026-03-' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') AS scraped_at
       |  FROM part),
       |b0 AS (SELECT *, lower(trim(coalesce(brand,''))) AS lcb FROM r),
       |b1 AS (SELECT *,
       |  CASE WHEN brand IS NULL OR brand = '' THEN 'Unknown'
       |    ELSE CASE $dagBrand
       |      ELSE upper(substr(brand,1,1)) || lower(substr(brand,2)) END END AS brand_out
       |  FROM b0),
       |m0 AS (SELECT *, trim(replace(lower(name), lower(brand_out), '')) AS tc FROM b1),
       |m1 AS (SELECT *,
       |  nullif(upper(regexp_extract(tc, '([a-z]+\\s*[0-9]+[\\p{L}\\p{N}_]*)', 1)), '') AS rawm
       |  FROM m0),
       |m2 AS (SELECT *,
       |  CASE WHEN spec_modele IS NOT NULL AND spec_modele <> '' THEN spec_modele
       |    ELSE coalesce(rawm, 'Unknown') END AS model_out
       |  FROM m1)
       |SELECT
       |  regexp_replace(lower(brand_out), '[^a-z0-9]', '', 'g') || '_' ||
       |    regexp_replace(lower(model_out), '[^a-z0-9]', '', 'g') AS product_id,
       |  brand_out AS brand, model_out AS model, trim(name) AS product_name,
       |  nullif(spec_storage_in, '') AS spec_storage,
       |  spec_ram_in AS spec_ram,
       |  nullif(spec_modele, '') AS spec_model,
       |  coalesce(CAST(nullif(regexp_extract(replace(regexp_replace(price, '[^0-9,.]', '', 'g'), ',', '.'), '[0-9]+\\.?[0-9]*', 0), '') AS DOUBLE), 0.0) AS price,
       |  'new' AS condition,
       |  avg_rating AS rating,
       |  product_url AS url,
       |  coalesce(nullif(detailed_scraped_at, ''), scraped_at) AS scraped_at
       |FROM m2
       |ORDER BY url""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Anomaly detection (Z1–Z6)
  // ---------------------------------------------------------------------

  private val zStatsSql: String =
    s"""SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice AS p,
       |    count(*) OVER w AS n,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s2
       |  FROM lineitem WINDOW w AS (PARTITION BY l_partkey)""".stripMargin

  private val zMetricsSql: String =
    """SELECT l_partkey, l_orderkey, l_linenumber, p, n,
      |    s1 / n AS mean,
      |    CASE WHEN n > 1 THEN sqrt((s2 - s1*s1/n) / (n-1)) END AS std
      |  FROM st""".stripMargin

  /** Z3 (z-score rule) — flagged offers with group stats and metrics.
    * The flagged frame itself is the shared family artifact (z5's
    * summary runs over the same frame — one stats pass + one join-back
    * for both, the reference's one-stats-table-two-reports shape). */
  def z3ZscoreAnomalies(s: SparkSession, dir: String): DataFrame =
    graft.operators.GroupStats.flaggedZScore(t(s, dir, "lineitem"),
        Seq("l_partkey"), "l_extendedprice",
        k = 2.0, minGroupSize = 3, corpusKey = s"$dir#lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), round(col("market_mean"), 2).as("mean_r"),
        round(col("market_std"), 2).as("std_r"), round(col("z_score"), 4).as("z_r"),
        col("anomaly_type"))
      .sortSmall("l_partkey", "l_orderkey", "l_linenumber")

  /** Round a double column the way Spark's round() does: HALF_UP on the
    * SHORTEST-DECIMAL representation (BigDecimal.valueOf(double)), not on
    * the binary value. DuckDB's native round() looks at the full binary
    * expansion, so a mean whose shortest repr is exactly `.xx5` but whose
    * double sits a hair below (e.g. 67985.135 ≈ 67985.1349999…) rounds up
    * in Spark and down in DuckDB. VARCHAR of a DOUBLE in DuckDB is the
    * shortest round-trip repr, so round(CAST(CAST(x AS VARCHAR) AS
    * DECIMAL),d) reproduces Spark bit-for-bit. Caught by a generated
    * 600k-row sample; the driver tables never landed on the boundary. */
  private def sparkRoundSql(e: String, d: Int): String =
    s"CAST(round(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,12)), $d) AS DOUBLE)"

  val z3Sql: String =
    s"""WITH st AS ($zStatsSql),
       |m AS ($zMetricsSql),
       |z AS (
       |  SELECT *, CASE WHEN std > 0 THEN abs(p - mean) / std END AS z
       |  FROM m)
       |SELECT l_partkey, l_orderkey, l_linenumber, p AS l_extendedprice,
       |  ${sparkRoundSql("mean", 2)} AS mean_r, ${sparkRoundSql("std", 2)} AS std_r,
       |  ${sparkRoundSql("z", 4)} AS z_r,
       |  CASE WHEN p > mean THEN 'trop_haut' ELSE 'trop_bas' END AS anomaly_type
       |FROM z WHERE n >= 3 AND z > 2.0
       |ORDER BY l_partkey, l_orderkey, l_linenumber""".stripMargin

  /** Z5 — one-row anomaly-run summary, over the SAME memoized flagged
    * frame z3 materializes (not a recomputation of it). */
  def z5AnomalySummary(s: SparkSession, dir: String): DataFrame =
    Anomaly.summary(
      graft.operators.GroupStats.flaggedZScore(t(s, dir, "lineitem"),
        Seq("l_partkey"), "l_extendedprice",
        k = 2.0, minGroupSize = 3, corpusKey = s"$dir#lineitem"),
      Seq("l_partkey"))

  val z5Sql: String =
    s"""WITH st AS ($zStatsSql),
       |m AS ($zMetricsSql),
       |z AS (
       |  SELECT *, CASE WHEN std > 0 THEN abs(p - mean) / std END AS z,
       |    abs(p - mean) / mean * 100.0 AS dev,
       |    CASE WHEN p > mean THEN 'trop_haut' ELSE 'trop_bas' END AS anomaly_type
       |  FROM m),
       |f AS (SELECT * FROM z WHERE n >= 3 AND z > 2.0)
       |SELECT count(*) AS total_anomalies,
       |  count(DISTINCT l_partkey) AS groups_with_anomalies,
       |  CAST(SUM(CASE WHEN anomaly_type = 'trop_haut' THEN 1 ELSE 0 END) AS BIGINT) AS n_trop_haut,
       |  CAST(SUM(CASE WHEN anomaly_type = 'trop_bas' THEN 1 ELSE 0 END) AS BIGINT) AS n_trop_bas,
       |  CAST(SUM(floor(dev * 100.0)) AS BIGINT) AS sum_dev_centi
       |FROM f""".stripMargin

  /** Z6 (IQR rule) — per-group outlier counts via quartile fences, the
    * quartiles read from the shared family stats artifact. */
  def z6IqrOutliers(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    Anomaly.iqrAnomaliesFrom(li,
        graft.operators.GroupStats.table(li, Seq("l_partkey"),
          "l_extendedprice", s"$dir#lineitem"),
        Seq("l_partkey"), "l_extendedprice", k = 1.5, minGroupSize = 3)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_outliers"))
      .sortSmall("l_partkey")
  }

  val z6Sql: String =
    """WITH q AS (
      |  SELECT l_partkey AS pk, count(*) AS n,
      |    quantile_cont(l_extendedprice, 0.25) AS q1,
      |    quantile_cont(l_extendedprice, 0.75) AS q3
      |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 3),
      |f AS (
      |  SELECT l_partkey FROM lineitem JOIN q ON l_partkey = q.pk
      |  WHERE l_extendedprice < q1 - 1.5 * (q3 - q1)
      |     OR l_extendedprice > q3 + 1.5 * (q3 - q1))
      |SELECT l_partkey, count(*) AS n_outliers FROM f
      |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  /** Z6b (IQR rule, approx-quantile tier) — the mega-group escape hatch
    * as a first-class entry: same fences, but quartiles from
    * [[Anomaly.fullStatsApprox]]'s bounded Greenwald–Khanna summaries
    * instead of the exact per-group value buffer. At oracle scale the
    * summaries are exact and DISCRETE — `approx_percentile` selects the
    * order statistic at rank ⌈q·n⌉, which is DuckDB's `quantile_disc` —
    * so the twin gates the discrete-quantile semantics, not an
    * approximation band. The approximation only enters past ~`accuracy`
    * values per group, where the exact buffer is the thing that breaks
    * (planted 10M-row mega-group measurement, BENCH_NOTES round 14). */
  def z6bIqrApprox(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    Anomaly.iqrAnomaliesFrom(li,
        Anomaly.fullStatsApprox(li, Seq("l_partkey"), "l_extendedprice"),
        Seq("l_partkey"), "l_extendedprice", k = 1.5, minGroupSize = 3)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_outliers"))
      .sortSmall("l_partkey")
  }

  val z6bSql: String =
    """WITH q AS (
      |  SELECT l_partkey AS pk, count(*) AS n,
      |    quantile_disc(l_extendedprice, 0.25) AS q1,
      |    quantile_disc(l_extendedprice, 0.75) AS q3
      |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 3),
      |f AS (
      |  SELECT l_partkey FROM lineitem JOIN q ON l_partkey = q.pk
      |  WHERE l_extendedprice < q1 - 1.5 * (q3 - q1)
      |     OR l_extendedprice > q3 + 1.5 * (q3 - q1))
      |SELECT l_partkey, count(*) AS n_outliers FROM f
      |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // LLM-data-pipeline operators over documents / embeddings
  // ---------------------------------------------------------------------

  private val normSql =
    "trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9]+', ' ', 'g'))"

  /** D1 — exact-dedup fingerprint groups (md5 of normalized text). */
  def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("fp", fingerprint(col("text")))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .sortSmall("fp")

  val d1Sql: String =
    s"""SELECT md5($normSql) AS fp, count(*) AS n_docs, min(doc_id) AS keep_id
       |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** D2 — MinHash+LSH near-duplicate pairs over word-bigram shingles
    * (bands=4, rows=2, thr=0.2), through the AUTO entry point
    * [[graft.operators.Dedup.neardupPairs]]: fixed-cap buckets below
    * ~100k docs (every oracle scale — the SQL twin verifies that plan),
    * adaptive refinement at or above it (the sf10 recall measurement
    * says the fixed cap drops real duplicates past the switch). */
  def d2MinhashNearDup(s: SparkSession, dir: String): DataFrame =
    d2PairGraph(s, dir).sortSmall("id_a", "id_b")

  /** D2b — d2 with ADAPTIVE bucket refinement (reserve minhash rows split
    * flooded buckets instead of dropping them — see
    * [[graft.operators.Dedup.minhashCandidates]] `refineRows`). Identical
    * output to d2 whenever no bucket exceeds the cap — which is every
    * oracle scale, so the d2 SQL twin verifies it — and the scale path
    * beyond: at sf10 the fixed cap's planted-dup recall measures 0.71
    * while refinement holds ~1.0 (ScaleCheck C3). */
  def d2bNeardupAdaptive(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    Dedup.minhashNearDup(d, "text", "doc_id", bands = 4, rowsPerBand = 2,
        threshold = 0.2, shingleN = 2, refineRows = 8)
      .sortSmall("id_a", "id_b")
  }

  // Shared CTE pipeline of the minhash near-dup oracle (also the base of
  // the d8 clustering oracle): normalize → shingle → single-md5 minhash →
  // banded buckets (capped) → candidate pairs → exact jaccard.
  /** The d2 MinHash+LSH candidate/verify pipeline as CTEs over any doc
    * relation with (doc_id, text) — `documents` for d2/d8/d10, the
    * quality-kept subset for the composed x13 pipeline. */
  private def d2CtesOver(src: String): String =
    s"""norm AS (SELECT doc_id, $normSql AS nt FROM $src),
       |tk AS (SELECT doc_id, string_split(nt, ' ') AS toks, len(string_split(nt, ' ')) AS k FROM norm WHERE nt <> ''),
       |sh AS (SELECT doc_id, CASE WHEN k <= 2 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(0, k - 1), i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END AS gr FROM tk),
       |tok AS (SELECT DISTINCT doc_id, unnest(gr) AS tok FROM sh),
       |hh AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h1,
       |    list_reduce(list_transform(range(9, 17), i -> CAST(strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h2
       |  FROM tok),
       |seeds AS (SELECT unnest(generate_series(0, 7)) AS seed),
       |mh AS (
       |  SELECT doc_id, seed, min(h1 + seed * h2) AS v
       |  FROM hh CROSS JOIN seeds GROUP BY doc_id, seed),
       |bandkey AS (
       |  SELECT doc_id, seed // 2 AS band, string_agg(CAST(v AS VARCHAR), '|' ORDER BY seed) AS key
       |  FROM mh GROUP BY doc_id, seed // 2),
       |bcap AS (
       |  SELECT band, key FROM bandkey GROUP BY band, key HAVING count(*) <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bandkey a JOIN bandkey b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN bcap ON a.band = bcap.band AND a.key = bcap.key),
       |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cand c JOIN tok ta ON ta.doc_id = c.id_a
       |              JOIN tok tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
       |  GROUP BY c.id_a, c.id_b),
       |j AS (
       |  SELECT i.id_a, i.id_b, round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
       |  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b)""".stripMargin

  private val d2CtesSql: String = d2CtesOver("documents")

  val d2Sql: String =
    s"""WITH $d2CtesSql
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin

  /** D8 — near-duplicate CLUSTERS: connected components over the d2 pair
    * graph, cluster_id = smallest reachable doc id (singletons map to
    * themselves) — the canonical keep-one-per-cluster step of a training-
    * data dedup pipeline. Spark runs iterative min-label propagation
    * (a Pregel superstep per round, driver holds only a convergence
    * count); the oracle computes the same fixpoint with a recursive CTE. */
  def d8NeardupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    // the shared pair-graph ARTIFACT, same as d2: the clustering sees
    // the SAME pair set the detection step reports — by construction
    // now, not just by matching parameters (ScaleCheck C4 still checks)
    val pairs = d2PairGraph(s, dir)
    Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .sortSmall("doc_id")
  }

  val d8Sql: String =
    s"""WITH RECURSIVE $d2CtesSql,
       |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM tk
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
       |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  /** D10 — the dedup APPLY step: from d8's near-dup clusters, keep one
    * canonical document per cluster (the min-id member — exactly the
    * cluster label) and report how many documents it absorbed, with the
    * survivor's provenance columns joined back. This is the manifest a
    * pipeline actually writes after near-dup detection; detection (d2),
    * clustering (d8) and application (here) are separate operators so the
    * expensive stages can be checkpointed independently. One extra
    * count-by-label aggregation and one doc_id-equi-join over d8's
    * labels — both shuffle on the id, nothing broadcast. */
  def d10DedupApply(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    val pairs = d2PairGraph(s, dir)
    val labels = Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
      .join(d.select(col("doc_id"), col("lang"), col("source")),
        col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_docs"))
      .sortSmall("doc_id")
  }

  val d10Sql: String =
    s"""WITH RECURSIVE $d2CtesSql,
       |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM tk
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |surv AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY cluster_id)
       |SELECT s.cluster_id AS doc_id, d.lang, d.source, s.n_docs
       |FROM surv s JOIN documents d ON d.doc_id = s.cluster_id
       |ORDER BY doc_id""".stripMargin

  /** D3 — portable 16-bit SimHash signatures (native single-pass
    * expression; bit-identical to the Dedup.simhash16 column formulation
    * the oracle mirrors — one tokenizer pass and one md5 per distinct
    * token instead of 16 interpreted aggregate() walks per row). */
  def d3Simhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .where(length(normalizeText(col("text"))) > 0)
      .select(col("doc_id"),
        graft.functions.SimHash16.simhash16Native(col("text")).as("simhash"))
      .sortSmall("doc_id")

  val d3Sql: String = {
    val hx = "strpos('0123456789abcdef', substr(md5(t.tok), %d, 1)) - 1"
    s"""WITH norm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |tok AS (SELECT DISTINCT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm WHERE nt <> ''),
       |bits AS (SELECT unnest(generate_series(0, 15)) AS i),
       |tb AS (
       |  SELECT t.doc_id, b.i,
       |    CAST(floor(((${hx.format(1)}) * 4096 + (${hx.format(2)}) * 256 + (${hx.format(3)}) * 16 + (${hx.format(4)})) / (CAST(1 AS BIGINT) << b.i)) AS BIGINT) % 2 AS bit
       |  FROM tok t CROSS JOIN bits b),
       |sums AS (SELECT doc_id, i, SUM(2 * bit - 1) AS sgn FROM tb GROUP BY doc_id, i)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
       |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** D4 — exact word-bigram Jaccard within language blocks. */
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "text", "doc_id", "lang",
        n = 2, threshold = 0.05)
      .sortSmall("id_a", "id_b")

  /** D4b — the same exact jaccard join at a production near-dup threshold
    * (0.8), computed with the All-Pairs/PPJoin prefix filter: only the
    * rarest (1−t) fraction of each document's grams is indexed, so the
    * candidate set collapses to near the true pair set instead of every
    * gram co-occurrence. Lossless — the oracle is the brute-force
    * formulation at the same threshold, so any dropped pair fails the
    * hash gate. */
  def d4bJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(docs(s, dir), "text", "doc_id", "lang",
        n = 2, threshold = 0.8)
      .sortSmall("id_a", "id_b")

  /** D4c — the auto-crossover entry point ([[Dedup.jaccardPairs]]) at the
    * same production threshold: picks counting vs prefix from corpus
    * size, so this oracle-gates whichever plan the switch selects at the
    * verify scale (small corpus → counting; the d4b row already gates the
    * prefix plan at equal t, so both switch arms stay lossless). */
  def d4cJaccardAuto(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docs(s, dir), "text", "doc_id", "lang",
        n = 2, threshold = 0.8)
      .sortSmall("id_a", "id_b")

  /** Brute-force capped-jaccard oracle at a given threshold — shared by
    * d4 (counting formulation, t=0.05) and d4b (prefix-filtered, t=0.8):
    * both Spark plans must reproduce this one definition exactly. */
  private def d4SqlAt(threshold: Double): String =
    s"""WITH norm AS (SELECT doc_id, lang, $normSql AS nt FROM documents),
       |tk AS (SELECT doc_id, lang, string_split(nt, ' ') AS toks, len(string_split(nt, ' ')) AS k FROM norm WHERE nt <> ''),
       |e AS (SELECT doc_id, lang, toks, k FROM tk UNION ALL SELECT doc_id, lang, [nt], 1 FROM norm WHERE nt = ''),
       |sh AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN k <= 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(0, k - 1), i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END AS gr
       |  FROM e),
       |g AS (SELECT DISTINCT doc_id, lang, unnest(gr) AS gram FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |dfcap AS (SELECT lang, gram FROM g GROUP BY lang, gram HAVING count(*) <= 500),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM g a JOIN g b ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
       |  JOIN dfcap ON dfcap.lang = a.lang AND dfcap.gram = a.gram
       |  GROUP BY a.doc_id, b.doc_id),
       |j AS (
       |  SELECT i.id_a, i.id_b, round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
       |  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin

  val d4Sql: String = d4SqlAt(0.05)
  val d4bSql: String = d4SqlAt(0.8)

  /** D5 — brute-force cosine top-k over the embedding column. */
  def d5CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 1000), emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      .sortSmall("query_id", "rank")
  }

  val d5Sql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    s"""WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id < 1000),
       |sc AS (
       |  SELECT query_id, neighbor_id,
       |    round(${dotProd.format("qv", "cv")} / (sqrt(${dotProd.format("qv", "qv")}) * sqrt(${dotProd.format("cv", "cv")})), 4) AS cos
       |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** D6 — ANN cosine top-k via hyperplane LSH buckets (the scale path of
    * d5). Hyperplane weights derive from md5("plane:p:d") (driver-side
    * literals), so the oracle recomputes the exact same buckets, probes
    * (Hamming ≤ 2 multi-probe), candidate set, and ranking — a full
    * rows+schema+hash match, not a rows-only check. Recall vs the exact
    * d5 ranking is additionally asserted in DedupSimilaritySpec. */
  def d6CosineLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb.where(col("vec_id") < 1000), emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, numPlanes = 8, dim = 64, probeBits = 2)
      .sortSmall("query_id", "rank")
  }

  val d6Sql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    val h8 = "list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5('plane:' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    s"""WITH pw AS (
       |  SELECT p, d, CAST($h8 AS DOUBLE) / 4294967296.0 * 2 - 1 AS w
       |  FROM range(8) pr(p), range(64) dr(d)),
       |pl AS (SELECT p, list(w ORDER BY d) AS wl FROM pw GROUP BY p),
       |c0 AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id < 1000),
       |q0 AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id < 5),
       |cb AS (
       |  SELECT neighbor_id, CAST(SUM(CASE WHEN ${dotProd.format("cv", "wl")} >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM c0, pl GROUP BY neighbor_id),
       |qb AS (
       |  SELECT query_id, CAST(SUM(CASE WHEN ${dotProd.format("qv", "wl")} >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM q0, pl GROUP BY query_id),
       |masks AS (
       |  SELECT CAST(0 AS BIGINT) AS m
       |  UNION ALL SELECT CAST(1 AS BIGINT) << i FROM range(8) a(i)
       |  UNION ALL SELECT (CAST(1 AS BIGINT) << i) + (CAST(1 AS BIGINT) << j)
       |    FROM range(8) a(i), range(8) b(j) WHERE i < j),
       |qp AS (SELECT query_id, xor(qb.bucket, m) AS bucket FROM qb, masks),
       |sc AS (
       |  SELECT qp.query_id, cb.neighbor_id,
       |    round(${dotProd.format("qv", "cv")} / (sqrt(${dotProd.format("qv", "qv")}) * sqrt(${dotProd.format("cv", "cv")})), 4) AS cos
       |  FROM qp JOIN cb ON qp.bucket = cb.bucket
       |    JOIN q0 ON q0.query_id = qp.query_id
       |    JOIN c0 ON c0.neighbor_id = cb.neighbor_id
       |  WHERE qp.query_id <> cb.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** D9 — IVF ANN probing under a full oracle: the coarse quantizer is a
    * fixed md5-derived centroid table (so DuckDB can recompute it), each
    * corpus vector is assigned to its max-cosine centroid, queries probe
    * the nprobe=2 nearest lists, and candidates are exactly ranked.
    * The assignment/probe/rank machinery is [[Similarity.IvfIndex.topK]]
    * itself; Lloyd training (engine state, not SQL-expressible) is
    * verified separately in DedupSimilaritySpec. */
  def d9IvfTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.IvfIndex.topK(emb.where(col("vec_id") < 1000), emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5,
        centroids = Similarity.md5Centroids(8, 64), nprobe = 2)
      .sortSmall("query_id", "rank")
  }

  val d9Sql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    def cosOf(v: String) =
      s"${dotProd.format(v, "wl")} / (sqrt(${dotProd.format(v, v)}) * sqrt(${dotProd.format("wl", "wl")}))"
    val h8 = "list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5('centroid:' || CAST(c AS VARCHAR) || ':' || CAST(d AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    s"""WITH pw AS (
       |  SELECT c, d, CAST($h8 AS DOUBLE) / 4294967296.0 * 2 - 1 AS w
       |  FROM range(8) cr(c), range(64) dr(d)),
       |pl AS (SELECT c, list(w ORDER BY d) AS wl FROM pw GROUP BY c),
       |c0 AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id < 1000),
       |q0 AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id < 5),
       |ca AS (
       |  SELECT neighbor_id, c AS cid, ${cosOf("cv")} AS ccos FROM c0, pl),
       |asn AS (
       |  SELECT neighbor_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY ccos DESC, cid) AS rn FROM ca)
       |  WHERE rn = 1),
       |qa AS (
       |  SELECT query_id, c AS cid, ${cosOf("qv")} AS qcos FROM q0, pl),
       |qp AS (
       |  SELECT query_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cid) AS rn FROM qa)
       |  WHERE rn <= 2),
       |sc AS (
       |  SELECT qp.query_id, asn.neighbor_id,
       |    round(${dotProd.format("qv", "cv")} / (sqrt(${dotProd.format("qv", "qv")}) * sqrt(${dotProd.format("cv", "cv")})), 4) AS cos
       |  FROM qp JOIN asn ON qp.cid = asn.cid
       |    JOIN q0 ON q0.query_id = qp.query_id
       |    JOIN c0 ON c0.neighbor_id = asn.neighbor_id
       |  WHERE qp.query_id <> asn.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** D11 — semantic dedup (SemDeDup): exact pairwise cosine WITHIN
    * md5-derived coarse-quantizer cells. Work is cell-quadratic instead
    * of corpus-quadratic; the oracle recomputes the identical centroid
    * assignment, so cell membership, every score, and the traded-away
    * cross-cell pairs are all pinned cross-engine. */
  def d11SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupPairs(
        t(s, dir, "embeddings").where(col("vec_id") < 1000), "vec_id", "embedding",
        centroids = Similarity.md5Centroids(8, 64), threshold = 0.4)
      .withColumn("centroid", col("centroid").cast("long"))
      .sortSmall("id_a", "id_b")

  /** d11's CTE body (centroid assignment + in-cell pair scoring), shared
    * by d11Sql (pair output) and d12Sql (clusters over the same pairs) —
    * the d2CtesSql pattern: both oracles see ONE pair derivation by
    * construction. */
  private val d11CtesSql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    def cosOf(v: String) =
      s"${dotProd.format(v, "wl")} / (sqrt(${dotProd.format(v, v)}) * sqrt(${dotProd.format("wl", "wl")}))"
    val h8 = "list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5('centroid:' || CAST(c AS VARCHAR) || ':' || CAST(d AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    s"""pw AS (
       |  SELECT c, d, CAST($h8 AS DOUBLE) / 4294967296.0 * 2 - 1 AS w
       |  FROM range(8) cr(c), range(64) dr(d)),
       |pl AS (SELECT c, list(w ORDER BY d) AS wl FROM pw GROUP BY c),
       |c0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id < 1000),
       |ca AS (
       |  SELECT vec_id, c AS cid, ${cosOf("cv")} AS ccos FROM c0, pl),
       |asn AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca)
       |  WHERE rn = 1),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(${dotProd.format("av.cv", "bv.cv")} / (sqrt(${dotProd.format("av.cv", "av.cv")}) * sqrt(${dotProd.format("bv.cv", "bv.cv")})), 4) AS cos,
       |    a.cid AS centroid
       |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |    JOIN c0 av ON av.vec_id = a.vec_id
       |    JOIN c0 bv ON bv.vec_id = b.vec_id)""".stripMargin
  }

  val d11Sql: String =
    s"""WITH $d11CtesSql
       |SELECT id_a, id_b, cos, centroid FROM p WHERE cos >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  /** D11b — SemDeDup with CAPPED cells, the 100 TB form of d11: cells
    * larger than targetCell are subdivided by sign bits of an
    * independent md5-derived hyperplane family CENTERED on the assigned
    * cell's centroid (origin planes measurably fail to bisect off-origin
    * clusters — BENCH_NOTES r14) before the in-cell pair
    * pass, bounding Σ|cell|² where natural clusters would make it
    * quadratic (AnnScaleCheck V5 measured 3.4e8 candidate pairs from 64
    * cells at 200k vectors). targetCell=64 over this fixture's
    * ~125-vector cells makes the split rule genuinely fire, so the
    * oracle (which mirrors cell sizes, the shift-based depth rule, the
    * per-(cell,plane) centering offsets, the cellplane bits and the
    * subcell equality exactly) verifies the capped semantics, not a
    * no-op. */
  def d11bSemanticDedupCapped(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.semanticNearDupPairsCapped(
        t(s, dir, "embeddings").where(col("vec_id") < 1000), "vec_id", "embedding",
        centroids = Similarity.md5Centroids(8, 64), threshold = 0.4,
        targetCell = 64, maxExtraBits = 3)
      .withColumn("centroid", col("centroid").cast("long"))
      .sortSmall("id_a", "id_b")

  /** The cellplane CTE fragment (cpw/cpl/co/bits — md5 "cellplane"
    * weights, per-(cell, plane) centering offsets, the centered sign
    * bits at 3 planes), shared by d11bSql (adaptive-depth capped
    * oracle) and st9Sql (fixed-depth streaming bucket oracle) so the
    * bit derivation can never drift between the batch and streaming
    * rows. References pl/c0/asn from [[d11CtesSql]] (d11bSql declares
    * textually identical CTEs under the same names). */
  private val d11CellplaneCtesSql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    val h8p = "list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5('cellplane:' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    s"""cpw AS (
       |  SELECT p, d, CAST($h8p AS DOUBLE) / 4294967296.0 * 2 - 1 AS w
       |  FROM range(3) pr(p), range(64) dr(d)),
       |cpl AS (SELECT p, list(w ORDER BY d) AS wl FROM cpw GROUP BY p),
       |co AS (
       |  SELECT pl.c AS cid, cpl.p AS p, ${dotProd.format("cpl.wl", "pl.wl")} AS off
       |  FROM pl, cpl),
       |bits AS (
       |  SELECT a.vec_id, CAST(SUM(CASE WHEN ${dotProd.format("cv", "cpl.wl")} >= co.off THEN (CAST(1 AS BIGINT) << cpl.p) ELSE 0 END) AS BIGINT) AS b
       |  FROM asn a JOIN c0 ON c0.vec_id = a.vec_id
       |  CROSS JOIN cpl JOIN co ON co.cid = a.cid AND co.p = cpl.p
       |  GROUP BY a.vec_id)""".stripMargin
  }

  /** The per-cell split-depth CTE fragment (cells/kk — cell sizes off
    * `asn`, then THE depth rule: smallest k in 0..maxExtraBits with
    * (n >> k) ≤ targetCell, at d11b's params targetCell=64,
    * maxExtraBits=3), shared by d11bSql (batch capped oracle) and
    * st9bSql (adaptive streaming bucket oracle) so the depth rule
    * cannot drift between the two. */
  private val d11DepthCtesSql: String =
    """cells AS (SELECT cid, count(*) AS n FROM asn GROUP BY cid),
      |kk AS (
      |  SELECT cid, COALESCE(MIN(CASE WHEN (n >> i) <= 64 THEN i END), 3) AS k
      |  FROM cells, range(4) r(i) GROUP BY cid)""".stripMargin

  val d11bSql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    def cosOf(v: String) =
      s"${dotProd.format(v, "wl")} / (sqrt(${dotProd.format(v, v)}) * sqrt(${dotProd.format("wl", "wl")}))"
    val h8c = "list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5('centroid:' || CAST(c AS VARCHAR) || ':' || CAST(d AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    s"""WITH pw AS (
       |  SELECT c, d, CAST($h8c AS DOUBLE) / 4294967296.0 * 2 - 1 AS w
       |  FROM range(8) cr(c), range(64) dr(d)),
       |pl AS (SELECT c, list(w ORDER BY d) AS wl FROM pw GROUP BY c),
       |c0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id < 1000),
       |ca AS (
       |  SELECT vec_id, c AS cid, ${cosOf("cv")} AS ccos FROM c0, pl),
       |asn AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca)
       |  WHERE rn = 1),
       |$d11CellplaneCtesSql,
       |$d11DepthCtesSql,
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(${dotProd.format("av.cv", "bv.cv")} / (sqrt(${dotProd.format("av.cv", "av.cv")}) * sqrt(${dotProd.format("bv.cv", "bv.cv")})), 4) AS cos,
       |    a.cid AS centroid
       |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |    JOIN kk ON kk.cid = a.cid
       |    JOIN bits ba ON ba.vec_id = a.vec_id
       |    JOIN bits bb ON bb.vec_id = b.vec_id
       |    JOIN c0 av ON av.vec_id = a.vec_id
       |    JOIN c0 bv ON bv.vec_id = b.vec_id
       |  WHERE (ba.b & ((CAST(1 AS BIGINT) << k) - 1)) = (bb.b & ((CAST(1 AS BIGINT) << k) - 1)))
       |SELECT id_a, id_b, cos, centroid FROM p WHERE cos >= 0.4
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** D11c — the auto-crossover entry point of the SemDeDup family
    * ([[Similarity.semanticNearDupPairsAuto]]): ONE checkpointed
    * quantizer assignment whose O(nlist) cell-size table both routes
    * (Σ|cell|² vs the measured wall-clock crossover) and, above the
    * budget, feeds the capped form's split depths. This fixture's
    * Σ|cell|² (~1.3e5 over 8 cells of ~125) sits far below the budget,
    * so the oracle gates the UNCAPPED branch (same rows as d11 — the
    * d4c pattern: the d11b row already gates the capped branch, so both
    * switch arms stay oracle-verified); DedupSimilaritySpec pins that a
    * sub-Σ|cell|² budget flips the route and reproduces the capped
    * form's rows exactly. */
  def d11cSemanticDedupAuto(s: SparkSession, dir: String): DataFrame =
    dSemanticPairGraph(s, dir)
      .withColumn("centroid", col("centroid").cast("long"))
      .sortSmall("id_a", "id_b")

  /** The semantic pair-graph ARTIFACT the d11c/d12 rows share (the
    * d2PairGraph pattern applied to embeddings): one quantizer-assign +
    * pair pass per (session, corpus, centroids, params), so detection
    * and the pruning manifest can never disagree on the pair set, and
    * neither recomputes the family's expensive stage. */
  private def dSemanticPairGraph(s: SparkSession, dir: String): DataFrame =
    graft.operators.SemanticPairGraph.pairs(
      t(s, dir, "embeddings").where(col("vec_id") < 1000), "vec_id", "embedding",
      Similarity.md5Centroids(8, 64), s"$dir#embeddings_lt1000",
      graft.operators.SemanticPairGraph.Params(threshold = 0.4))

  /** D11d — the capped SemDeDup with Hamming-≤1 subcell MULTI-PROBE
    * (probeSplitBits = 1): pairs split by exactly one of a cell's split
    * planes are recovered by probing each single-bit flip of the
    * subcell key (the d7b mask argument applied to subcells — each pair
    * matches exactly one flip, no dedup pass). Same fixture as d11b so
    * the splits genuinely fire; the oracle relaxes d11b's subcell
    * equality to bit_count(xor(bits_a, bits_b) & mask) ≤ 1, verifying
    * the probe semantics end to end. Output sits between d11b's
    * (capped) and d11's (uncapped within cells), inclusive at either
    * end — on this fixture the probed set equals the uncapped set
    * (every dropped pair was a 1-plane split), and the spec asserts
    * exactly the subset chain capped ⊆ probed ⊆ uncapped. */
  def d11dSemanticDedupProbed(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.semanticNearDupPairsCapped(
        t(s, dir, "embeddings").where(col("vec_id") < 1000), "vec_id", "embedding",
        centroids = Similarity.md5Centroids(8, 64), threshold = 0.4,
        targetCell = 64, maxExtraBits = 3, probeSplitBits = 1)
      .withColumn("centroid", col("centroid").cast("long"))
      .sortSmall("id_a", "id_b")

  val d11dSql: String = {
    val relaxed = d11bSql.replace(
      "WHERE (ba.b & ((CAST(1 AS BIGINT) << k) - 1)) = (bb.b & ((CAST(1 AS BIGINT) << k) - 1))",
      "WHERE bit_count(xor(ba.b, bb.b) & ((CAST(1 AS BIGINT) << k) - 1)) <= 1")
    // fail fast if d11bSql's predicate text drifts: a silent no-op
    // replace would gate d11d against the CAPPED oracle
    require(relaxed != d11bSql,
      "d11dSql: probe-predicate replace found nothing — d11bSql text drifted")
    relaxed
  }

  /** D12 — the SemDeDup APPLY step (the paper's actual goal: PRUNE
    * semantic duplicates): connected components over the semantic pair
    * graph ARTIFACT ([[graft.operators.SemanticPairGraph]] — shared
    * with the d11c detection row, so detection and clustering can never
    * disagree on the pair set and the quantizer-assign + pair pass runs
    * once per corpus), then one survivor per cluster — the min-id
    * member, which IS
    * the component label — with how many vectors it absorbed and its
    * provenance label. The d8→d10 pattern applied to embeddings: label
    * propagation is the same operator ([[Dedup.connectedComponents]],
    * Pregel-style supersteps, driver holds only a convergence count),
    * plus one count-by-label agg and one id-equi-join — both shuffle on
    * the id, nothing corpus-quadratic anywhere. The oracle reuses
    * d11Sql's CTE body verbatim (shared `d11CtesSql`) and closes the
    * clusters with a recursive-CTE fixpoint, so the pair derivation
    * cannot drift between the d11 and d12 rows. */
  def d12SemanticClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").where(col("vec_id") < 1000)
    val pairs = dSemanticPairGraph(s, dir).select(col("id_a"), col("id_b"))
    val labels = Dedup.connectedComponents(emb.select(col("vec_id").as("id")), pairs)
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(emb.select(col("vec_id"), col("label")),
        col("cluster_id") === col("vec_id"))
      .select(col("vec_id"), col("label"), col("n_vecs"))
      .sortSmall("vec_id")
  }

  val d12Sql: String =
    s"""WITH RECURSIVE $d11CtesSql,
       |pairs AS (SELECT id_a, id_b FROM p WHERE cos >= 0.4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM c0
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |surv AS (SELECT cluster_id, count(*) AS n_vecs FROM lab GROUP BY cluster_id)
       |SELECT s.cluster_id AS vec_id, e.label, s.n_vecs
       |FROM surv s JOIN embeddings e ON e.vec_id = s.cluster_id
       |ORDER BY vec_id""".stripMargin

  /** D7 — embedding-cosine near-duplicate pairs (exact over a bounded id
    * range; the LSH/IVF candidate paths are verified against this in
    * tests). Threshold 0.4 is chosen so the sf0.01 synthetic embeddings
    * (near-orthogonal random vectors) actually produce pairs — at 0.8 the
    * oracle was vacuous (0 rows both sides) and proved nothing about the
    * cosine formula. */
  def d7EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings").where(col("vec_id") < 500), "vec_id", "embedding",
        threshold = 0.4)
      .sortSmall("id_a", "id_b")

  val d7Sql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id < 500),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(${dotProd.format("a.v", "b.v")} / (sqrt(${dotProd.format("a.v", "a.v")}) * sqrt(${dotProd.format("b.v", "b.v")})), 4) AS cos
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  /** D7b — the SCALE path of d7: near-dup pairs from LSH-bucketed
    * candidates (Hamming-≤2 probes over md5-derived hyperplane buckets)
    * verified by exact cosine. The threshold is set low enough that the
    * random test embeddings produce rows, so the oracle exercises the
    * probe/verify machinery, not just an empty set. The oracle mirrors
    * the candidate restriction exactly (same planes, buckets, masks), so
    * it is a full rows+schema+hash match. */
  @annotation.nowarn("cat=deprecation") // intentional: d7b stays in the catalog as the bounded-fixture form
  def d7bNearDupLsh(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.cosineNearDupLshPairs(
        t(s, dir, "embeddings").where(col("vec_id") < 500), "vec_id", "embedding",
        threshold = 0.3, numPlanes = 8, dim = 64, probeBits = 2)
      .sortSmall("id_a", "id_b")

  val d7bSql: String = {
    val dotProd = "list_reduce(list_transform(list_zip(%s, %s), s -> s[1] * s[2]), (a, b) -> a + b)"
    val h8 = "list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5('plane:' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    s"""WITH pw AS (
       |  SELECT p, d, CAST($h8 AS DOUBLE) / 4294967296.0 * 2 - 1 AS w
       |  FROM range(8) pr(p), range(64) dr(d)),
       |pl AS (SELECT p, list(w ORDER BY d) AS wl FROM pw GROUP BY p),
       |e AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id < 500),
       |eb AS (
       |  SELECT id, CAST(SUM(CASE WHEN ${dotProd.format("v", "wl")} >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, pl GROUP BY id),
       |masks AS (
       |  SELECT CAST(0 AS BIGINT) AS m
       |  UNION ALL SELECT CAST(1 AS BIGINT) << i FROM range(8) a(i)
       |  UNION ALL SELECT (CAST(1 AS BIGINT) << i) + (CAST(1 AS BIGINT) << j)
       |    FROM range(8) a(i), range(8) b(j) WHERE i < j),
       |p AS (
       |  SELECT ba.id AS id_a, bb.id AS id_b,
       |    round(${dotProd.format("va.v", "vb.v")} / (sqrt(${dotProd.format("va.v", "va.v")}) * sqrt(${dotProd.format("vb.v", "vb.v")})), 4) AS cos
       |  FROM eb ba, masks, eb bb, e va, e vb
       |  WHERE xor(ba.bucket, m) = bb.bucket AND ba.id < bb.id
       |    AND va.id = ba.id AND vb.id = bb.id)
       |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin
  }

  /** D7c — the d7 family's SCALE entry
    * ([[graft.operators.Similarity.cosineNearDupPairsAuto]]), subsuming
    * d7b, whose global origin-plane buckets track natural-cluster size
    * (AnnScaleCheck V5: max bucket 27.9k at 1.2M vectors): same
    * (id_a, id_b, cos) contract, candidates from the SemDeDup route —
    * quantizer cells, cell-CENTERED split planes, point-mass salting.
    * cellPairBudget=1000 sits below this fixture's Σ|cell|² (~1.3e5),
    * forcing the ABOVE-budget branch, so this row gates the auto
    * route's above-budget DEFAULT — the Hamming-≤1 probed capped rung
    * (probeSplitBits = 1) — end to end. Same fixture and split shape as
    * d11b/d11d, so the oracle is d11d's relaxed-predicate SQL minus the
    * centroid column d7's contract doesn't carry. */
  def d7cNearDupAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsAuto(
        t(s, dir, "embeddings").where(col("vec_id") < 1000), "vec_id", "embedding",
        centroids = Similarity.md5Centroids(8, 64), threshold = 0.4,
        targetCell = 64, maxExtraBits = 3, cellPairBudget = 1000)
      .sortSmall("id_a", "id_b")

  val d7cSql: String = {
    val projected = d11dSql.replace(
      "SELECT id_a, id_b, cos, centroid FROM p",
      "SELECT id_a, id_b, cos FROM p")
    // fail fast if d11dSql's final projection text drifts: a silent
    // no-op replace would gate d7c against the 4-column d11d oracle
    require(projected != d11dSql,
      "d7cSql: final-projection replace found nothing — d11dSql text drifted")
    projected
  }

  /** K1 — skew-salted two-phase aggregation. The plan spreads each hot key
    * over 16 deterministic salt buckets before the final combine; the
    * oracle is the PLAIN single-phase GROUP BY — hash-matching proves the
    * salting is a pure plan transformation. */
  def k1SaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedAggregate(
        t(s, dir, "lineitem"), Seq("l_returnflag"),
        saltSource = Seq("l_orderkey", "l_linenumber"), buckets = 16,
        partial = Seq(count(lit(1)).as("pn"),
          sum(dec(col("l_extendedprice"))).as("ps"),
          min(col("l_extendedprice")).as("pmn"),
          max(col("l_extendedprice")).as("pmx")),
        merge = Seq(sum("pn").cast("long").as("n"),
          sum("ps").cast("double").as("sum_price"),
          min("pmn").as("min_price"), max("pmx").as("max_price")))
      .sortSmall("l_returnflag")

  val k1Sql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  ${sqlDsum("l_extendedprice")} AS sum_price,
       |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private val stQueryId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Temp sink dirs for the streaming catalog queries (st6's pair sink,
    * st8's candidate sink), deleted by ONE JVM shutdown hook. They can't
    * be deleted inline — the returned DataFrame reads the sink lazily,
    * so the verification driver consumes it after the query function
    * returns — and st8's candidate sink is corpus-proportional (~1.2 GiB
    * at 50k docs), so leaking one per catalog/bench run exhausts /tmp
    * across repeated runs (r11 ADVICE). Additionally, re-invoking the
    * SAME query shape in one long-lived JVM (bench loops, the test
    * suite) prunes the shape's PREVIOUS sink eagerly — only the most
    * recent sink per shape stays alive for its lazy consumer, so a
    * repeat-running JVM holds O(shapes) sinks, not O(invocations)
    * (r12 ADVICE). Retention is TWO sinks deep per shape (r13 ADVICE):
    * the contract is still "consume the returned frame before invoking
    * the same shape again", but one overlap — two invocations in flight
    * before the first frame is read, e.g. concurrent bench arms — now
    * reads valid data instead of FileNotFoundException; only a third
    * unconsumed invocation invalidates the first. Worst-case footprint
    * stays O(shapes), at 2× the per-shape size. */
  private val tempSinkDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private val tempSinkByPrefix =
    new java.util.concurrent.ConcurrentHashMap[String, List[java.io.File]]()
  private def rmTreeQuiet(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTreeQuiet); f.delete(); ()
  }
  private lazy val tempSinkHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempSinkDirs.forEach(rmTreeQuiet(_))
    }))
    true
  }
  private def tempSinkDir(prefix: String,
                          root: Option[java.nio.file.Path] = None): java.nio.file.Path = {
    require(tempSinkHookInstalled)
    val p = root match {
      case Some(r) => java.nio.file.Files.createTempDirectory(r, prefix)
      case None    => java.nio.file.Files.createTempDirectory(prefix)
    }
    val evicted = new java.util.concurrent.atomic.AtomicReference[List[java.io.File]](Nil)
    tempSinkByPrefix.compute(prefix, (_, prev) => {
      val kept = p.toFile :: (if (prev == null) Nil else prev).take(1)
      evicted.set(if (prev == null) Nil else prev.drop(1))
      kept
    })
    evicted.get().foreach { old => tempSinkDirs.remove(old); rmTreeQuiet(old) }
    tempSinkDirs.add(p.toFile)
    p
  }

  /** Checkpoint dir for the parquet-sink streaming queries (st6/st8):
    * same retention machinery as [[tempSinkDir]], but rooted on tmpfs
    * when the host has one. The checkpoint carries the stream's
    * offset/commit WAL and its STATE STORE — st8's banded
    * flatMapGroupsWithState state is corpus-proportional and st6 carries
    * watermark-bounded join state, so the tmpfs footprint is bounded by
    * state size × retained versions, kept small by the 2-batch
    * minBatchesToRetain in [[streamSession]] (r17 ADVICE); the WAL part
    * is small but fsync-bound (the same reason Bench puts the
    * session-default checkpoint location on /dev/shm; a cluster puts it
    * on fast shared storage). The DATA sink stays on real disk: st8's
    * candidate sink is corpus-proportional and must never compete with
    * executor memory for RAM. */
  private def tempCkptDir(prefix: String): java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    tempSinkDir(prefix,
      if (shm.isDirectory) Some(shm.toPath) else None)
  }

  /** ST2 — the SAME hourly aggregation as st1, executed through the real
    * Structured Streaming engine (file source → incremental aggregation →
    * memory sink, complete mode) and hash-matched against the identical
    * DuckDB oracle: streaming/batch parity is verified, not assumed. */
  /** Session clone for stateful streaming queries with the state-partition
    * count sized to the stream: a streaming aggregation creates one state
    * store (files, maintenance, commit) per shuffle partition, FIXED at
    * first batch. The parent session's reducer count is sized for the
    * batch catalog; a small hourly aggregate wants a handful of stores,
    * not one per core (at production volume size it up — it is per-query
    * here, not global). The clone shares the SparkContext; the parent's
    * runtime confs are untouched. */
  private[graft] def streamSession(s: SparkSession, statePartitions: Int): SparkSession = {
    val c = s.newSession()
    c.conf.set("spark.sql.shuffle.partitions", statePartitions)
    // these are one-shot verification streams (start → drain → stop):
    // the default 100-batch checkpoint retention only buys replay depth
    // for failure recovery a throwaway query never uses, while keeping
    // 100 versions of every state store's delta files on the checkpoint
    // filesystem — tmpfs for st6/st8 (tempCkptDir), where retained
    // versions compete with RAM (r17 ADVICE). A production stream that
    // wants deep replay sets its own value.
    c.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    // No-data micro-batches exist to advance the watermark so that
    // (a) watermark-gated APPEND results flush and (b) state evicts
    // promptly. Of this catalog only st6 is watermarked, and it is an
    // INNER interval join: pairs are emitted in the data batch where the
    // match happens, never gated on the watermark — the extra trigger
    // after every data batch only paid planning + WAL + a commit round
    // on all 2·sides·partitions join state stores (measured ~0.6 s of
    // st6's 1.4 s steady batch; eviction rides the next data batch
    // instead). Identical output — the oracle gate checks it. A query
    // whose RESULTS are watermark-gated (append-mode windowed aggs,
    // event-time timeouts) must not inherit this session helper.
    c.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    c
  }

  def st2StreamingHourly(s: SparkSession, dir: String): DataFrame = {
    // schema from the (possibly cached) batch table — no extra footer read
    val schema = t(s, dir, "events").schema
    val ss = streamSession(s, 4)
    // the streaming file source wants a directory: stream the sf dir with a
    // glob filter selecting only the events table
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val sec = tsEpochSec(schema)
    val hourEpoch = (sec - sec % 3600).cast("long")
    val agg = stream
      .groupBy(hourEpoch.as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).cast("long").as("cents"))
    val name = s"st2_hourly_${stQueryId.incrementAndGet()}"
    val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    ss.table(name).sortSmall("hour_epoch", "event_type")
  }

  /** ST3 — streaming exact dedup through the real engine: events stream
    * in, a synthesized re-delivery key (event_id % 1000) is deduped with
    * stateful dropDuplicates (first arrival wins), and the kept KEY SET
    * is aggregated — key-level facts only, so the result is deterministic
    * even though which duplicate arrives first is not. The oracle is the
    * batch distinct over the same key. */
  def st3StreamingDedup(s: SparkSession, dir: String): DataFrame = {
    val schema = t(s, dir, "events").schema
    val ss = streamSession(s, 4)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select((col("event_id") % 1000).as("k"))
    val deduped = graft.streaming.EventStream.dedupKeys(stream, "k")
    val name = s"st3_dedup_${stQueryId.incrementAndGet()}"
    val q = deduped.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    ss.table(name)
      .agg(count(lit(1)).as("n_keys"), sum(col("k")).cast("long").as("key_sum"))
  }

  val st3Sql: String =
    """WITH d AS (SELECT DISTINCT event_id % 1000 AS k FROM events)
      |SELECT count(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS key_sum FROM d""".stripMargin

  /** ST4 — gap-based sessionization (session_window, the streaming-native
    * windowing Spark adds beyond fixed windows; runs identically in batch,
    * which is what the oracle verifies): per-user sessions split at >30
    * idle minutes, with event counts and exact cent sums. The oracle
    * reproduces the merge rule with the classic islands technique
    * (lag + cumulative break sum) — tie rows are order-safe because a
    * zero gap never breaks a session. Boundary semantics measured, not
    * assumed: session_window MERGES two events exactly gap apart (windows
    * [t,t+gap) and [t+gap,..) are adjacent and Spark coalesces touching
    * sessions), so the oracle breaks strictly at `> 1800` — `>= 1800`
    * disagreed on 2/4790 sessions in a 100k-event generated sample. */
  def st4SessionWindows(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sec = tsEpochSec(ev.schema)
    ev.where(col("user_id") % 20 === 0)
      .withColumn("tsec", timestamp_seconds(sec))
      .groupBy(session_window(col("tsec"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).cast("long").as("cents"))
      .select(col("sw.start").cast("long").as("session_start"), col("user_id"),
        col("n"), col("cents"))
      .sortSmall("user_id", "session_start")
  }

  val st4Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, value
      |  FROM events WHERE user_id % 20 = 0),
      |l AS (
      |  SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
      |    THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
      |s2 AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM l)
      |SELECT min(sec) AS session_start, user_id, count(*) AS n,
      |  CAST(SUM(floor(value*100)) AS BIGINT) AS cents
      |FROM s2 GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** ST5 — stream-static enrichment join through the real micro-batch
    * engine: the events stream joins a static dimension (customer) that
    * is re-broadcast per micro-batch — the production enrichment shape
    * (facts stream in, reference data sits still). The dimension is
    * explicitly broadcast: it is the bounded side by definition, and a
    * shuffle join would re-shuffle every micro-batch of the unbounded
    * side. Aggregated by (segment, event_type) so the oracle is the
    * plain batch join+group over the same tables. */
  def st5StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val schema = t(s, dir, "events").schema
    val ss = streamSession(s, 4)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val dim = ss.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = stream
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100)).cast("long").as("cents"))
    val name = s"st5_enrich_${stQueryId.incrementAndGet()}"
    val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    ss.table(name).sortSmall("c_mktsegment", "event_type")
  }

  val st5Sql: String =
    """SELECT c.c_mktsegment, e.event_type, count(*) AS n,
      |  CAST(SUM(floor(e.value * 100)) AS BIGINT) AS cents
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ST6 — stream-STREAM interval join through the real engine: clicks ⋈
    * purchases by user within a 30-minute event-time window, both sides
    * watermarked (the watermark + the interval condition on the two
    * event-time columns is what lets the engine EVICT join state — an
    * unbounded-state stream-stream join is the classic production
    * incident). Event times floor to whole seconds on both engines (the
    * raw ts has sub-second precision). The joined pair set lands in the
    * sink append-mode; the compact summary is computed over it in batch,
    * same pattern as st3. */
  def st6StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val schema = t(s, dir, "events").schema
    val ss = streamSession(s, 4)
    def side(tpe: String, prefix: String) = {
      val sec = tsEpochSec(schema)
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .where(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          timestamp_seconds(sec).as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"), col("value").as(s"${prefix}_value"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    }
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
    // DISTRIBUTED sink for the joined pair set (the memory sink would
    // collect the events-proportional join output onto the driver —
    // the st8 lesson applied to the other corpus-sized stream output)
    val base = tempSinkDir("graft-st6")
    val ckpt = tempCkptDir("graft-st6-ckpt")
    val q = joined.writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/pairs")
      .option("checkpointLocation", s"$ckpt/ckpt").start()
    q.processAllAvailable()
    q.stop()
    // explicit schema: a zero-pair run leaves the sink with no parquet
    // footers to infer from — the read must still yield an empty,
    // schema-bearing frame, like the memory sink did (r11 ADVICE)
    ss.read.schema(joined.schema).parquet(s"$base/pairs").agg(
      count(lit(1)).as("n_pairs"),
      countDistinct(col("c_user")).as("n_users"),
      sum(col("c_id")).cast("long").as("click_id_sum"),
      sum(col("p_id")).cast("long").as("purchase_id_sum"),
      sum(floor(col("p_value") * 100)).cast("long").as("cents"))
  }

  val st6Sql: String =
    """WITH c AS (SELECT user_id, date_trunc('second', ts) AS ts, event_id
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, date_trunc('second', ts) AS ts, event_id, value
      |      FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT c.user_id, c.event_id AS cid, p.event_id AS pid, p.value
      |      FROM c JOIN p ON c.user_id = p.user_id
      |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
      |SELECT count(*) AS n_pairs, count(DISTINCT user_id) AS n_users,
      |  CAST(SUM(cid) AS BIGINT) AS click_id_sum,
      |  CAST(SUM(pid) AS BIGINT) AS purchase_id_sum,
      |  CAST(SUM(floor(value * 100)) AS BIGINT) AS cents
      |FROM j""".stripMargin

  /** ST7 — arbitrary stateful processing through the real engine:
    * [[graft.streaming.EventStream.priceEnvelope]]'s mapGroupsWithState
    * (one tiny state struct per key) runs over the purchase stream keyed
    * by user. Update mode emits a state row per key per batch; the final
    * state per key is recovered order-insensitively (n is monotone, the
    * envelope only widens), and last_price — the one order-dependent
    * field — is excluded from the verified surface. The oracle is the
    * plain batch aggregation the state fold must agree with. */
  def st7PriceEnvelope(s: SparkSession, dir: String): DataFrame = {
    val schema = t(s, dir, "events").schema
    val ss = streamSession(s, 4)
    import ss.implicits._
    val sec = tsEpochSec(schema)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").cast("string").as("product_id"),
        col("value").as("price"), timestamp_seconds(sec).as("ts"))
      .as[graft.streaming.EventStream.PriceEvent]
    val env = graft.streaming.EventStream.priceEnvelope(stream).toDF()
    val name = s"st7_envelope_${stQueryId.incrementAndGet()}"
    val q = env.writeStream.outputMode("update").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    ss.table(name)
      .groupBy(col("product_id").cast("long").as("user_id"))
      .agg(max(col("n")).cast("long").as("n"),
        floor(min(col("min_price")) * 100).cast("long").as("min_cents"),
        floor(max(col("max_price")) * 100).cast("long").as("max_cents"))
      .sortSmall("user_id")
  }

  val st7Sql: String =
    """SELECT user_id, count(*) AS n,
      |  CAST(floor(min(value) * 100) AS BIGINT) AS min_cents,
      |  CAST(floor(max(value) * 100) AS BIGINT) AS max_cents
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** ST8 — streaming near-dup INGESTION GATE: d2's MinHash-LSH candidate
    * generation runs through the real micro-batch engine
    * ([[graft.streaming.DocStream.neardupCandidates]] — band-keyed
    * `flatMapGroupsWithState`, bounded per-bucket state), documents
    * arriving as a file stream; the accumulated candidate pairs are then
    * exact-verified in batch, same split as st3/st6 (streaming does the
    * stateful detection, the compact verified surface is computed over
    * the sink). Below the bucket cap — every oracle scale — the
    * accumulated candidate set is arrival-order independent and equals
    * the batch plan's, so the oracle is d2's own SQL twin end-to-end. */
  def st8StreamingNeardup(s: SparkSession, dir: String): DataFrame = {
    val schema = t(s, dir, "documents").schema
    // unlike the event streams' tiny keyed state (4 partitions keep
    // state-store overhead off their numbers), the gate's banded state
    // and pair fan-out are corpus-proportional — size state partitions
    // to the cluster like any corpus-scale shuffle (measured at sf1:
    // 4 partitions serialize candidate generation onto 4 tasks)
    val ss = streamSession(s,
      math.max(4, s.sparkContext.defaultParallelism / 2))
    val p = D2Params
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .where(length(normalizeText(col("text"))) > 0)
    val cands = graft.streaming.DocStream.neardupCandidates(stream,
      "text", "doc_id", p.bands, p.rowsPerBand, p.shingleN, p.maxBucket)
    // DISTRIBUTED candidate sink (append-mode parquet), like the batch
    // plan's candidate→verify pipeline: a memory sink would collect the
    // corpus-proportional candidate stream onto the driver (measured
    // 1.2 GiB at 50k docs → maxResultSize abort)
    val base = tempSinkDir("graft-st8")
    val ckpt = tempCkptDir("graft-st8-ckpt")
    val candsDf = cands.toDF()
    val q = candsDf.writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/cands")
      .option("checkpointLocation", s"$ckpt/ckpt").start()
    q.processAllAvailable()
    q.stop()
    val d = ss.read.parquet(s"$dir/documents.parquet")
      .where(length(normalizeText(col("text"))) > 0)
    // explicit schema: a zero-candidate corpus must read back as an
    // empty frame, not an inference failure (r11 ADVICE)
    Dedup.verifyJaccard(d,
        ss.read.schema(candsDf.schema).parquet(s"$base/cands").distinct(),
        "text", "doc_id", p.threshold, p.shingleN)
      .sortSmall("id_a", "id_b")
  }

  /** ST9 — STREAMING semantic-bucket dedup: the SemDeDup quantizer
    * applied to a vector stream. Each arriving embedding is keyed by
    * (centroid, subcell) — nearest md5 centroid + the low 3 centered
    * cellplane sign bits ([[Similarity.semanticBuckets]], a pure
    * projection + one stream-static broadcast join, so it is legal in
    * a streaming plan; depth is FIXED because a stream has no
    * cell-size table) — and the stateful dedup admits ONE
    * representative per semantic bucket (dropDuplicates state, exactly
    * st3's shape over a semantic key instead of an equality key). The
    * bucket SET is arrival-order-independent, so the aggregate
    * (count + checksum) is deterministic and the oracle recomputes the
    * identical keys in batch SQL via d11b's shared cellplane CTEs. */
  def st9StreamingSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val schema = t(s, dir, "embeddings").schema
    val ss = streamSession(s, 4)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") < 1000)
    val keys = Similarity.semanticBuckets(stream, "embedding",
      Similarity.md5Centroids(8, 64), maxBits = 3)
    val deduped = graft.streaming.EventStream.dedupKeys(keys, "centroid", "subcell")
    val name = s"st9_sembuckets_${stQueryId.incrementAndGet()}"
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    q.stop()
    ss.table(name)
      .agg(count(lit(1)).as("n_keys"),
        sum(col("centroid").cast("long") * 1024 + col("subcell"))
          .cast("long").as("key_sum"))
  }

  val st9Sql: String =
    s"""WITH $d11CtesSql,
       |$d11CellplaneCtesSql,
       |keys AS (
       |  SELECT DISTINCT a.cid AS centroid, (ba.b & 7) AS subcell
       |  FROM asn a JOIN bits ba ON ba.vec_id = a.vec_id)
       |SELECT count(*) AS n_keys,
       |  CAST(SUM(centroid * 1024 + subcell) AS BIGINT) AS key_sum FROM keys""".stripMargin

  /** ST9b — st9 with a PER-CELL ADAPTIVE split depth: the batch side
    * already materializes the cell-size table (the SemDeDup routing /
    * pair-graph build scans it anyway), so the stream takes that
    * O(nlist) table as a STATIC broadcast artifact
    * ([[Similarity.cellDepths]] → [[Similarity.semanticBucketsAdaptive]],
    * the st5 stream-static pattern) instead of st9's fixed uniform
    * depth — a small cell stays unsplit (no recall loss at its
    * boundaries), a blast cell splits to full depth (state key bounded
    * near targetCell instead of holding the whole cluster). Depth
    * params (targetCell=64, maxExtraBits=3) are d11b's, so the oracle
    * reuses d11b's cells/kk CTEs verbatim — THE depth rule, derived
    * from the same cell sizes, gating the streaming keys end to end.
    * The spec additionally pins per-id key parity with the batch
    * capped route ([[Similarity.cappedSubcellKeys]]). */
  def st9bStreamingSemanticDedupAdaptive(s: SparkSession, dir: String): DataFrame = {
    val cents = Similarity.md5Centroids(8, 64)
    // the batch-side depth artifact (in a pipeline: refreshed with the
    // centroids, served to the stream as a static table)
    val depths = Similarity.cellDepths(
      t(s, dir, "embeddings").where(col("vec_id") < 1000), "embedding",
      cents, targetCell = 64, maxExtraBits = 3)
    val schema = t(s, dir, "embeddings").schema
    val ss = streamSession(s, 4)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") < 1000)
    val keys = Similarity.semanticBucketsAdaptive(stream, "embedding",
      cents, depths)
    val deduped = graft.streaming.EventStream.dedupKeys(keys, "centroid", "subcell")
    val name = s"st9b_sembuckets_${stQueryId.incrementAndGet()}"
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    q.stop()
    ss.table(name)
      .agg(count(lit(1)).as("n_keys"),
        sum(col("centroid").cast("long") * 1024 + col("subcell"))
          .cast("long").as("key_sum"))
  }

  val st9bSql: String =
    s"""WITH $d11CtesSql,
       |$d11CellplaneCtesSql,
       |$d11DepthCtesSql,
       |keys AS (
       |  SELECT DISTINCT a.cid AS centroid,
       |    (ba.b & ((CAST(1 AS BIGINT) << kk.k) - 1)) AS subcell
       |  FROM asn a JOIN bits ba ON ba.vec_id = a.vec_id
       |    JOIN kk ON kk.cid = a.cid)
       |SELECT count(*) AS n_keys,
       |  CAST(SUM(centroid * 1024 + subcell) AS BIGINT) AS key_sum FROM keys""".stripMargin

  /** ST9c — st9b with the depth artifact served LIVE from a path
    * ([[graft.sources.DepthArtifact]] +
    * [[Similarity.semanticBucketsAdaptiveLive]]): the batch job writes
    * the O(nlist) depth table as an atomic file artifact, and the
    * stream's per-micro-batch scan planning re-reads it — so a
    * centroid/depth refresh lands on the NEXT batch with no query
    * restart (the mid-stream rewrite itself is pinned by StreamingSpec;
    * this catalog row runs the fixed-artifact case, which is
    * bit-identical to st9b's Map form and shares its oracle — THE depth
    * rule end to end through one more indirection). */
  def st9cStreamingSemanticDedupLive(s: SparkSession, dir: String): DataFrame = {
    val cents = Similarity.md5Centroids(8, 64)
    val depths = Similarity.cellDepths(
      t(s, dir, "embeddings").where(col("vec_id") < 1000), "embedding",
      cents, targetCell = 64, maxExtraBits = 3)
    val artifact = java.nio.file.Files
      .createTempDirectory("st9c_depths").toString + "/depths.json"
    graft.sources.DepthArtifact.write(s, artifact, depths)
    val schema = t(s, dir, "embeddings").schema
    val ss = streamSession(s, 4)
    val stream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") < 1000)
    val keys = Similarity.semanticBucketsAdaptiveLive(stream, "embedding",
      cents, artifact, maxExtraBits = 3)
    val deduped = graft.streaming.EventStream.dedupKeys(keys, "centroid", "subcell")
    val name = s"st9c_sembuckets_${stQueryId.incrementAndGet()}"
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    q.stop()
    ss.table(name)
      .agg(count(lit(1)).as("n_keys"),
        sum(col("centroid").cast("long") * 1024 + col("subcell"))
          .cast("long").as("key_sum"))
  }

  /** E1 — as-of (point-in-time) join: each click picks up the most recent
    * purchase at-or-before it for the same user, via
    * [[graft.operators.TemporalJoin.asOf]] — a tagged union + ONE window
    * pass partitioned by user, never a join blow-up. Simultaneous
    * purchases are pre-collapsed to the max event_id so the match is
    * uniquely defined in any engine (DuckDB's native ASOF JOIN, the
    * oracle, cannot break exact-ts ties itself). */
  def e1AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sec = tsEpochSec(ev.schema).cast("long")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), sec.as("sec"))
    val wTie = Window.partitionBy("user_id", "sec").orderBy(desc("p_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), sec.as("sec"), col("event_id"),
        col("event_id").as("p_id"), sec.as("p_sec"),
        floor(col("value") * 100).cast("long").as("p_cents"))
      .withColumn("__rn", row_number().over(wTie)).where(col("__rn") === 1)
      .drop("__rn")
    graft.operators.TemporalJoin.asOf(clicks, purchases,
        keyCol = "user_id", tsCol = "sec", seqCol = "event_id",
        payloadCols = Seq("p_id", "p_sec", "p_cents"))
      .sortSmall("event_id")
  }

  val e1Sql: String =
    """WITH e AS (SELECT event_id, user_id,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, event_type, value
      |  FROM events),
      |c AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click'),
      |p0 AS (SELECT user_id, sec, event_id AS p_id,
      |    CAST(floor(value * 100) AS BIGINT) AS p_cents,
      |    row_number() OVER (PARTITION BY user_id, sec ORDER BY event_id DESC) AS rn
      |  FROM e WHERE event_type = 'purchase'),
      |p AS (SELECT user_id, sec, p_id, sec AS p_sec, p_cents FROM p0 WHERE rn = 1)
      |SELECT c.event_id, c.user_id, c.sec,
      |  p.p_id AS m_p_id, p.p_sec AS m_p_sec, p.p_cents AS m_p_cents
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.sec >= p.sec
      |ORDER BY c.event_id""".stripMargin

  /** E2 — bounded-interval join in batch (the batch twin of st6's
    * stream-stream join): clicks × purchases for the same user with the
    * purchase in [click, click+30min], via
    * [[graft.operators.TemporalJoin.interval]] — the auto-choosing entry
    * point: a key-histogram sample picks the naive SMJ on uniform keys
    * (events here) or the time-bucketed equi-join under hot-key skew;
    * either way never a θ-join nested loop. */
  def e2IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sec = tsEpochSec(ev.schema).cast("long")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), sec.as("c_sec"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), sec.as("p_sec"),
        floor(col("value") * 100).cast("long").as("p_cents"))
    graft.operators.TemporalJoin.interval(clicks, purchases,
        keyCol = "user_id", leftTsSec = "c_sec", rightTsSec = "p_sec",
        lowerSec = 0L, upperSec = 1800L, bucketSec = 1800L)
      .select("user_id", "c_id", "c_sec", "p_id", "p_sec", "p_cents")
      .sortSmall("c_id", "p_id")
  }

  val e2Sql: String =
    """WITH e AS (SELECT event_id, user_id,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, event_type, value
      |  FROM events),
      |c AS (SELECT user_id, event_id AS c_id, sec AS c_sec FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS p_id, sec AS p_sec,
      |    CAST(floor(value * 100) AS BIGINT) AS p_cents
      |  FROM e WHERE event_type = 'purchase')
      |SELECT c.user_id, c.c_id, c.c_sec, p.p_id, p.p_sec, p.p_cents
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.p_sec >= c.c_sec AND p.p_sec <= c.c_sec + 1800
      |ORDER BY c_id, p_id""".stripMargin

  /** E3 — dimension-band range join, the third temporal/range-join
    * flavor: facts against a TINY band table on a non-equi predicate.
    * The right plan here is the opposite of e2's: broadcast the bands
    * and let each task scan them per row (BroadcastNestedLoopJoin over a
    * 5-row build side is a constant-cost probe, and the only join Spark
    * can use for pure inequality conditions) — bucketizing would add a
    * shuffle for nothing. At 100 TB the fact side never moves. */
  def e3BandJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("b0", 0.0, 20000.0), ("b1", 20000.0, 40000.0), ("b2", 40000.0, 60000.0),
      ("b3", 60000.0, 80000.0), ("b4", 80000.0, 1.0e9))
      .toDF("band", "lo", "hi")
    t(s, dir, "lineitem")
      .join(broadcast(bands),
        col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100)).cast("long").as("cents"))
      .sortSmall("band")
  }

  val e3Sql: String =
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('b0', 0.0, 20000.0), ('b1', 20000.0, 40000.0), ('b2', 40000.0, 60000.0),
      |  ('b3', 60000.0, 80000.0), ('b4', 80000.0, 1e9))
      |SELECT band, count(*) AS n,
      |  CAST(SUM(floor(l_extendedprice * 100)) AS BIGINT) AS cents
      |FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** X6 — deterministic stratified hash-sampling (training-mix
    * rebalancing): per-language keep rates decided by a portable md5
    * bucket of the doc id — the same rows are sampled on every run and
    * in every engine, which is what makes the sample auditable. */
  def x6HashSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratified(t(s, dir, "documents"),
        idCol = "doc_id", strataCol = "lang",
        rates = Map("en" -> 50, "fr" -> 25), defaultRate = 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).cast("long").as("id_sum"))
      .sortSmall("lang")

  val x6Sql: String = {
    val hx = (i: Int) => s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ((${hx(1)} * 4096 + ${hx(2)} * 256 + ${hx(3)} * 16 + ${hx(4)}) % 100) AS bucket,
       |    CASE WHEN lang = 'en' THEN 50 WHEN lang = 'fr' THEN 25 ELSE 10 END AS rate
       |  FROM documents)
       |SELECT lang, count(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM b WHERE bucket < rate GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** X20 — budgeted data-mixture sampling: target language shares + a
    * total row budget; per-language keep-rates derive from actual counts
    * (min(1, budget·share/n), floored to basis points) and apply as a
    * deterministic salted-md5 filter. The oracle recomputes counts,
    * rates, and the exact same hash decisions — the sampled row SET
    * matches bit-for-bit, summarized per language with an id checksum. */
  def x20MixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixture(t(s, dir, "documents"),
        idCol = "doc_id", strataCol = "lang",
        targets = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2,
          "es" -> 0.1, "zh" -> 0.1),
        totalBudget = 200L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).cast("long").as("id_sum"))
      .sortSmall("lang")

  val x20Sql: String = {
    val hx = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH shares AS (
       |  SELECT * FROM (VALUES ('en', 0.4), ('de', 0.2), ('fr', 0.2),
       |                        ('es', 0.1), ('zh', 0.1)) AS t(lang, share)),
       |rates AS (
       |  SELECT d.lang,
       |    least(10000, CAST(floor(10000.0 * 200.0 * s.share / count(*)) AS BIGINT)) AS rate_bp
       |  FROM documents d JOIN shares s ON s.lang = d.lang
       |  GROUP BY d.lang, s.share),
       |b AS (
       |  SELECT doc_id, d.lang,
       |    ((${hx(1)} * 4096 + ${hx(2)} * 256 + ${hx(3)} * 16 + ${hx(4)}) % 10000) AS bucket,
       |    r.rate_bp
       |  FROM documents d JOIN rates r ON r.lang = d.lang)
       |SELECT lang, count(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM b WHERE bucket < rate_bp GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** X21 — deterministic epoch shuffle: the first 20 documents of the
    * seeded training order (plan collapses to TakeOrderedAndProject — a
    * head sample of an epoch never materializes the full sort). */
  def x21EpochShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.epochShuffle(
        t(s, dir, "documents").select("doc_id"), "doc_id", "ep1")
      .limit(20)
      .withColumnRenamed("__epoch_key", "epoch_key")

  val x21Sql: String =
    """SELECT doc_id, md5('ep1:' || CAST(doc_id AS VARCHAR)) AS epoch_key
      |FROM documents ORDER BY epoch_key, doc_id LIMIT 20""".stripMargin

  /** X22 — the pretraining-data program COMPOSED, one declarative plan:
    * exact-dedup keep-min → budgeted language mixture → deterministic
    * epoch order → 512-token sequence packing, summarized per
    * (lang, pack). Every stage is an already-oracled operator (d1, x20,
    * x21, x10 semantics); the composition proves they chain without
    * materialization barriers — Catalyst sees one tree: the dedup window,
    * the mixture rate join, the epoch sort key, and the packing window
    * pipeline into four shuffles total, nothing collected. */
  def x22PretrainProgram(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val keep = d
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .where(col("rn") === 1).drop("fp", "rn")
    val mixed = graft.operators.Sampling.mixture(keep, "doc_id", "lang",
      targets = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2,
        "es" -> 0.1, "zh" -> 0.1),
      totalBudget = 200L)
    val ordered = graft.operators.Sampling.epochShuffle(mixed, "doc_id", "ep1")
    graft.operators.Packing.assignPacks(ordered, "lang", "__epoch_key",
        bpeTokenCount(col("text")), budget = 512)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("tok_sum"))
      .sortSmall("lang", "pack_id")
  }

  /** Shared mixture→epoch→packing tail of the pretrain-program oracles
    * (x22/x22b); expects a CTE `keep(doc_id, lang, text)` already bound. */
  private val pretrainTailSql: String = {
    val hx = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""shares AS (
       |  SELECT * FROM (VALUES ('en', 0.4), ('de', 0.2), ('fr', 0.2),
       |                        ('es', 0.1), ('zh', 0.1)) AS t(lang, share)),
       |rates AS (
       |  SELECT keep.lang,
       |    least(10000, CAST(floor(10000.0 * 200.0 * s.share / count(*)) AS BIGINT)) AS rate_bp
       |  FROM keep JOIN shares s ON s.lang = keep.lang
       |  GROUP BY keep.lang, s.share),
       |mx AS (
       |  SELECT keep.doc_id, keep.lang, keep.text FROM keep
       |  JOIN rates ON rates.lang = keep.lang
       |  WHERE ((${hx(1)} * 4096 + ${hx(2)} * 256 + ${hx(3)} * 16 + ${hx(4)}) % 10000) < rate_bp),
       |e AS (SELECT doc_id, lang, text,
       |        md5('ep1:' || CAST(doc_id AS VARCHAR)) AS ek FROM mx),
       |tt AS (SELECT lang, ek,
       |        len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tok
       |      FROM e),
       |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY lang ORDER BY ek
       |        ROWS UNBOUNDED PRECEDING) AS cum FROM tt),
       |p AS (SELECT lang, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id, n_tok FROM c)
       |SELECT lang, pack_id, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
       |FROM p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin
  }

  val x22Sql: String =
    s"""WITH norm AS (SELECT doc_id, lang, text, $normSql AS nt FROM documents),
       |k AS (SELECT *, row_number() OVER (PARTITION BY md5(nt) ORDER BY doc_id) AS rn FROM norm),
       |keep AS (SELECT doc_id, lang, text FROM k WHERE rn = 1),
       |$pretrainTailSql""".stripMargin

  /** X22b — the pretraining program with NEAR-dup dedup as stage 1: what
    * a real pretrain corpus actually runs (exact dedup alone leaves
    * templated near-dups in). MinHash banding → capped-bucket candidates
    * → exact-jaccard verify → connected components → keep the min-id
    * survivor per cluster (d2+d8+d10 semantics), then the same
    * mixture → epoch order → 512-token packing tail as x22. The CC label
    * table joins back on doc_id — detection/clustering/apply chain three
    * more shuffles through the same declarative tail; nothing is
    * collected, and the only broadcast is the 5-row rate table. */
  def x22bPretrainNearDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    val pairs = d2PairGraph(s, dir)
    val labels = Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
    val keep = d.join(
      labels.where(col("id") === col("cluster_id")).select(col("id").as("doc_id")),
      Seq("doc_id"))
    val mixed = graft.operators.Sampling.mixture(keep, "doc_id", "lang",
      targets = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2,
        "es" -> 0.1, "zh" -> 0.1),
      totalBudget = 200L)
    val ordered = graft.operators.Sampling.epochShuffle(mixed, "doc_id", "ep1")
    graft.operators.Packing.assignPacks(ordered, "lang", "__epoch_key",
        bpeTokenCount(col("text")), budget = 512)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("tok_sum"))
      .sortSmall("lang", "pack_id")
  }

  val x22bSql: String =
    s"""WITH RECURSIVE $d2CtesSql,
       |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM tk
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |keep AS (SELECT d.doc_id, d.lang, d.text FROM documents d
       |  JOIN lab ON lab.id = d.doc_id AND lab.cluster_id = d.doc_id),
       |$pretrainTailSql""".stripMargin

  /** X23 — overlapping token-window chunking (context windows of 64
    * tokens advancing by 48): one row per chunk with its token count and
    * the fingerprint of the exact token window — the oracle rebuilds the
    * same windows from the same pre-tokenizer regex, so the fingerprints
    * prove the chunk CONTENT matches, not just the counts. */
  def x23TokenChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkByTokens(t(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 64, stride = 48)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tok"),
        md5(col("chunk_text")).as("chunk_fp"))
      .sortSmall("doc_id", "chunk_idx")

  val x23Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t),
      |c AS (SELECT doc_id, n_tok, toks,
      |        unnest(range(0, CASE WHEN n_tok <= 64 THEN 1
      |          ELSE CAST(ceil((n_tok - 64) / 48.0) AS BIGINT) + 1 END)) AS chunk_idx
      |      FROM n)
      |SELECT doc_id, chunk_idx,
      |  CAST(least(64, n_tok - chunk_idx * 48) AS INT) AS chunk_tok,
      |  md5(array_to_string(list_slice(toks, CAST(chunk_idx * 48 + 1 AS BIGINT),
      |    CAST(chunk_idx * 48 + 64 AS BIGINT)), ' ')) AS chunk_fp
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** X24 — BM25 ranked retrieval: top-15 documents for a three-term
    * query. The oracle recomputes the full scoring chain (postings, df,
    * avgdl, Lucene-shaped idf, k1/b saturation) from the same normalized
    * terms; scores round to 4 decimals on both engines. */
  def x24Bm25Search(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(docs(s, dir), "text", "doc_id",
        queryTerms = Seq("spark", "hash", "batch"), k = 15)
      .sortSmall("doc_id")

  val x24Sql: String =
    s"""WITH norm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm WHERE nt <> ''),
       |lens AS (SELECT n.doc_id,
       |    CASE WHEN n.nt = '' THEN 0 ELSE len(string_split(n.nt, ' ')) END AS dl
       |  FROM norm n),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE term IN ('spark', 'hash', 'batch') GROUP BY doc_id, term),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT tf.doc_id,
       |    ln((s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
       |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / s.avgdl)) AS ts
       |  FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id) CROSS JOIN stats s),
       |agg AS (SELECT doc_id, count(*) AS n_terms_hit, round(SUM(ts), 4) AS score
       |        FROM sc GROUP BY doc_id),
       |top AS (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT 15)
       |SELECT doc_id, n_terms_hit, score FROM top ORDER BY doc_id""".stripMargin

  /** X25 — token-budget data selection: greedily fill a 10k-BPE-token
    * budget from the highest-quality documents down (x2's quality score,
    * x3's BPE-ish token count, both recomputed in one scan pass). The
    * defining rule is a global running sum over (quality desc, doc_id),
    * which the oracle states literally as one window; the Spark plan is
    * the scale-shaped histogram+cutoff+boundary decomposition
    * ([[graft.operators.Sampling.selectByTokenBudget]]) whose one
    * unpartitioned window sees a single score-class, not the corpus. */
  def x25TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.TextStats.textStats(coalesce(col("text"), lit("")))
    // quality formula mirrors x2Quality exactly (same TextStats fields,
    // same weights, same 4-decimal rounding) so the score values are
    // bit-identical to the x2-verified ones
    val chars = col("st.chars")
    val nTok = col("st.n_tok")
    val punctR = when(chars === 0, lit(0.0))
      .otherwise(col("st.punct").cast("double") / chars)
    val stopR = when(nTok === 0, lit(0.0))
      .otherwise(col("st.stop_all").cast("double") / nTok)
    val mwl = when(nTok === 0, lit(0.0))
      .otherwise(col("st.tok_chars").cast("double") / nTok)
    val lenOk = when(chars >= 200, lit(1.0))
      .otherwise(chars.cast("double") / 200.0)
    val quality = round(lenOk * 0.4
      + when(punctR <= 0.2, lit(1.0)).otherwise(lit(0.0)) * 0.2
      + when(stopR >= 0.05, lit(1.0)).otherwise(lit(0.0)) * 0.2
      + when(mwl.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0)) * 0.2, 4)
    val scored = docs(s, dir)
      .select(col("doc_id"), st.as("st"), bpeTokenCount(col("text")).as("n_tokens"))
      .select(col("doc_id"), quality.as("quality"), col("n_tokens"))
    graft.operators.Sampling
      .selectByTokenBudget(scored, "quality", "n_tokens", "doc_id", budget = 10000)
      .toDF("doc_id", "quality", "n_tokens")
      .sortSmall("doc_id")
  }

  val x25Sql: String = {
    val allStops = sqlList(TextFunctions.StopwordsEn ++ TextFunctions.StopwordsFr ++ TextFunctions.StopwordsEs)
    s"""WITH b AS (
       |  SELECT doc_id, coalesce(text,'') AS s, $normSql AS nt FROM documents),
       |m AS (
       |  SELECT doc_id, s, length(s) AS chars,
       |    CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END AS n_tok,
       |    CASE WHEN length(s) = 0 THEN 0.0
       |         ELSE CAST(length(regexp_replace(s, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(s) END AS punct_r,
       |    CASE WHEN nt = '' THEN 0.0
       |         ELSE CAST(len(list_filter(string_split(nt, ' '), x -> x IN $allStops)) AS DOUBLE) / len(string_split(nt, ' ')) END AS stop_r,
       |    CASE WHEN nt = '' THEN 0.0
       |         ELSE CAST(length(replace(nt, ' ', '')) AS DOUBLE) / len(string_split(nt, ' ')) END AS mwl
       |  FROM b),
       |q AS (
       |  SELECT doc_id,
       |    round((CASE WHEN chars >= 200 THEN 1.0 ELSE CAST(chars AS DOUBLE) / 200.0 END) * 0.4
       |        + (CASE WHEN punct_r <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
       |        + (CASE WHEN stop_r >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.2
       |        + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.2, 4) AS quality,
       |    len(regexp_extract_all(s, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tokens
       |  FROM m),
       |c AS (
       |  SELECT doc_id, quality, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM q)
       |SELECT doc_id, quality, n_tokens FROM c WHERE cum <= 10000 ORDER BY doc_id""".stripMargin
  }

  /** X9 — benchmark decontamination: corpus docs whose bigram-overlap
    * fraction with any eval-set doc (every 50th doc plays the benchmark)
    * reaches 0.2. Spark intersects 62-bit gram hashes, the oracle
    * intersects the string grams themselves — set sizes and intersections
    * are equal (the hash is injective-in-practice and deterministic), so
    * the fractions match exactly. */
  def x9Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    graft.operators.Decontaminate.overlapAgainst(
        corpus = d.where(col("doc_id") % 50 =!= 0),
        evalSet = d.where(col("doc_id") % 50 === 0),
        textCol = "text", idCol = "doc_id", shingleN = 2, threshold = 0.2)
      .sortSmall("doc_id")
  }

  val x9Sql: String =
    s"""WITH norm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |tk AS (SELECT doc_id, string_split(nt, ' ') AS toks, len(string_split(nt, ' ')) AS k FROM norm WHERE nt <> ''),
       |sh AS (SELECT doc_id, CASE WHEN k <= 2 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(0, k - 1), i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END AS gr FROM tk),
       |g AS (SELECT DISTINCT doc_id, unnest(gr) AS gram FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 50 = 0),
       |cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 <> 0),
       |o AS (SELECT cg.doc_id, ev.eval_id, count(*) AS inter
       |  FROM cg JOIN ev USING (gram) GROUP BY 1, 2),
       |f AS (SELECT o.doc_id, eval_id, round(CAST(inter AS DOUBLE) / sz.n, 4) AS overlap
       |  FROM o JOIN sz ON o.doc_id = sz.doc_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, eval_id) AS rn FROM f)
       |SELECT doc_id, eval_id, overlap FROM r WHERE rn = 1 AND overlap >= 0.2
       |ORDER BY doc_id""".stripMargin

  /** X9b — x9 with a Bloom semi-join reduction: the eval set's gram
    * vocabulary is aggregated into a Bloom filter and probed inside the
    * corpus scan's generated code, so only candidate grams reach the
    * shuffle. Identical output (no false negatives; the exact join drops
    * the false positives), same oracle — the driver gate proves the
    * reduction lossless. */
  def x9bDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    graft.operators.Decontaminate.overlapAgainstBloom(
        corpus = d.where(col("doc_id") % 50 =!= 0),
        evalSet = d.where(col("doc_id") % 50 === 0),
        textCol = "text", idCol = "doc_id", shingleN = 2, threshold = 0.2,
        expectedGrams = 1L << 16)
      .sortSmall("doc_id")
  }

  /** X9c — decontamination through the AUTO entry point
    * ([[graft.operators.Decontaminate.overlap]]): same result as
    * x9/x9b, but the plan is chosen from the eval side's postings count
    * — here (and at any benchmark-sized eval set) the broadcast
    * inverted-index pass, which streams the corpus through ONE narrow
    * codegen'd stage instead of materializing (corpus gram × eval
    * posting) join rows. The join formulations measure exponent ~2 on
    * this closed-vocabulary corpus between sf1 and sf10 (the r9 scale
    * finding); the index plan holds linear. */
  def x9cDecontaminateAuto(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    graft.operators.Decontaminate.overlap(
        corpus = d.where(col("doc_id") % 50 =!= 0),
        evalSet = d.where(col("doc_id") % 50 === 0),
        textCol = "text", idCol = "doc_id", shingleN = 2, threshold = 0.2)
      .sortSmall("doc_id")
  }

  /** X9d — decontamination through the CHUNKED broadcast-index plan
    * ([[graft.operators.Decontaminate.overlapAgainstIndexChunked]]): the
    * big-eval plan for flooded vocabularies, where the Bloom join's
    * pruning is a no-op and the join formulation goes corpus-quadratic
    * (this corpus's regime — measured hit rate ~1.0). The budget is the
    * operator's REAL task-payload bound (4M postings ≈ ~64 MB of index),
    * so the entry degrades to ONE zero-shuffle corpus pass whenever the
    * eval set fits one task payload — every bench scale — and splits into
    * ⌈postings/budget⌉ passes only for eval sets that genuinely exceed it
    * (r17 verdict item 3: the quarter-budget it used to force paid ~5
    * corpus passes, 1.97 s vs x9c's 0.42 s, on an eval set the single
    * pass handles; multi-chunk coverage lives in CurationSpec's
    * postings/4 and chunkPostings=1 fixtures, which prove chunk-merge ==
    * single-pass). Winners across chunks merge with the join plan's exact
    * comparator (rounded overlap desc, then smallest eval id). Output is
    * bit-identical to x9/x9b/x9c — one oracle serves all four plans. */
  def x9dDecontaminateChunked(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    graft.operators.Decontaminate.overlapAgainstIndexChunked(
        corpus = d.where(col("doc_id") % 50 =!= 0),
        evalSet = d.where(col("doc_id") % 50 === 0),
        textCol = "text", idCol = "doc_id", shingleN = 2, threshold = 0.2)
      .sortSmall("doc_id")
  }

  /** X10 — sequence packing (concat-then-chunk, 512-token budget, per
    * source, ordered by doc_id): per-pack document counts and token sums. */
  def x10SequencePacking(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.assignPacks(t(s, dir, "documents"),
        partitionCol = "source", orderCol = "doc_id",
        tokenCount = bpeTokenCount(col("text")), budget = 512)
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("tok_sum"))
      .sortSmall("source", "pack_id")

  val x10Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_tok
      |  FROM documents),
      |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum FROM t),
      |p AS (SELECT source, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id, n_tok FROM c)
      |SELECT source, pack_id, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
      |FROM p GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  /** X1 — language-id confusion matrix (stopword-hit heuristic vs label),
    * via the one-pass native TextStats expression. */
  def x1LangId(s: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.TextStats.textStats(coalesce(col("text"), lit("")))
    docs(s, dir)
      .select(col("lang"), st.getField("stop_en").as("en"),
        st.getField("stop_fr").as("fr"), st.getField("stop_es").as("es"))
      .select(col("lang"),
        when(col("en") === 0 && col("fr") === 0 && col("es") === 0, lit("und"))
          .when(col("en") >= col("fr") && col("en") >= col("es"), lit("en"))
          .when(col("fr") >= col("es"), lit("fr"))
          .otherwise(lit("es")).as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .sortSmall("lang", "pred")
  }

  val x1Sql: String =
    s"""WITH norm AS (SELECT doc_id, lang, $normSql AS nt FROM documents),
       |h AS (
       |  SELECT lang,
       |    len(list_filter(string_split(nt, ' '), x -> x IN ${sqlList(TextFunctions.StopwordsEn)})) AS en,
       |    len(list_filter(string_split(nt, ' '), x -> x IN ${sqlList(TextFunctions.StopwordsFr)})) AS fr,
       |    len(list_filter(string_split(nt, ' '), x -> x IN ${sqlList(TextFunctions.StopwordsEs)})) AS es
       |  FROM norm),
       |p AS (
       |  SELECT lang, CASE WHEN en = 0 AND fr = 0 AND es = 0 THEN 'und'
       |    WHEN en >= fr AND en >= es THEN 'en' WHEN fr >= es THEN 'fr'
       |    ELSE 'es' END AS pred
       |  FROM h)
       |SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  /** X2 — per-document quality metrics, derived from the one-pass native
    * TextStats expression (ratio arithmetic identical to the column
    * formulation, so the oracle is unchanged). */
  def x2Quality(s: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.TextStats.textStats(coalesce(col("text"), lit("")))
    val base = docs(s, dir).select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.chars").as("chars"), col("st.n_tok").as("n_tok"),
        col("st.punct").as("punct"), col("st.letters").as("letters"),
        col("st.uppers").as("uppers"), col("st.tok_chars").as("tok_chars"),
        col("st.stop_all").as("stop_all"))
    val punctR = when(col("chars") === 0, lit(0.0))
      .otherwise(col("punct").cast("double") / col("chars"))
    val upperR = when(col("letters") === 0, lit(0.0))
      .otherwise(col("uppers").cast("double") / col("letters"))
    val stopR = when(col("n_tok") === 0, lit(0.0))
      .otherwise(col("stop_all").cast("double") / col("n_tok"))
    val mwl = when(col("n_tok") === 0, lit(0.0))
      .otherwise(col("tok_chars").cast("double") / col("n_tok"))
    val lenOk = when(col("chars") >= 200, lit(1.0))
      .otherwise(col("chars").cast("double") / 200.0)
    val quality = round(lenOk * 0.4
      + when(punctR <= 0.2, lit(1.0)).otherwise(lit(0.0)) * 0.2
      + when(stopR >= 0.05, lit(1.0)).otherwise(lit(0.0)) * 0.2
      + when(mwl.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0)) * 0.2, 4)
    base.select(col("doc_id"), col("chars"), col("n_tok"),
        round(punctR, 4).as("punct_r"), round(upperR, 4).as("upper_r"),
        round(stopR, 4).as("stop_r"), quality.as("quality"))
      .sortSmall("doc_id")
  }

  val x2Sql: String = {
    val allStops = sqlList(TextFunctions.StopwordsEn ++ TextFunctions.StopwordsFr ++ TextFunctions.StopwordsEs)
    s"""WITH b AS (
       |  SELECT doc_id, coalesce(text,'') AS s, $normSql AS nt FROM documents),
       |m AS (
       |  SELECT doc_id, s, nt, length(s) AS chars,
       |    CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END AS n_tok,
       |    CASE WHEN length(s) = 0 THEN 0.0
       |         ELSE CAST(length(regexp_replace(s, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(s) END AS punct_r,
       |    CASE WHEN length(regexp_replace(s, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
       |         ELSE CAST(length(regexp_replace(s, '[^A-Z]', '', 'g')) AS DOUBLE) / length(regexp_replace(s, '[^A-Za-z]', '', 'g')) END AS upper_r,
       |    CASE WHEN nt = '' THEN 0.0
       |         ELSE CAST(len(list_filter(string_split(nt, ' '), x -> x IN $allStops)) AS DOUBLE) / len(string_split(nt, ' ')) END AS stop_r,
       |    CASE WHEN nt = '' THEN 0.0
       |         ELSE CAST(length(replace(nt, ' ', '')) AS DOUBLE) / len(string_split(nt, ' ')) END AS mwl
       |  FROM b)
       |SELECT doc_id, chars, n_tok, round(punct_r, 4) AS punct_r, round(upper_r, 4) AS upper_r,
       |  round(stop_r, 4) AS stop_r,
       |  round((CASE WHEN chars >= 200 THEN 1.0 ELSE CAST(chars AS DOUBLE) / 200.0 END) * 0.4
       |      + (CASE WHEN punct_r <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
       |      + (CASE WHEN stop_r >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.2
       |      + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.2, 4) AS quality
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** X11 — repetition signals (the Gopher repetition rules x2/x7 leave
    * out): per document, the fraction of token instances that are repeats
    * of an earlier token, and the fraction of bigram instances taken by
    * the single most frequent bigram. Both are per-row array computations
    * (O(tokens·distinct) on documents whose tokens are bounded by the
    * packing budget) evaluated inside the scan stage — no shuffle at any
    * scale; the n-gram machinery mirrors d4's gram conventions so the two
    * families stay comparable. */
  def x11Repetition(s: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.TextStats.repetitionStats(coalesce(col("text"), lit("")))
    docs(s, dir).where(length(normalizeText(col("text"))) > 0)
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"), col("st.n_tok").as("n_tok"),
        round(col("st.dup_tok").cast("double") / col("st.n_tok"), 4)
          .as("dup_word_frac"),
        round(col("st.top_bigram").cast("double") / col("st.n_bigrams"), 4)
          .as("top_bigram_frac"))
      .sortSmall("doc_id")
  }

  val x11Sql: String =
    s"""WITH norm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |tk AS (SELECT doc_id, nt, string_split(nt, ' ') AS toks, len(string_split(nt, ' ')) AS k FROM norm WHERE nt <> ''),
       |bg AS (SELECT doc_id, toks, k,
       |  CASE WHEN k <= 2 THEN [nt]
       |       ELSE list_transform(range(0, k - 1), i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END AS bgs
       |  FROM tk)
       |SELECT doc_id, k AS n_tok,
       |  round(CAST(k - len(list_distinct(toks)) AS DOUBLE) / k, 4) AS dup_word_frac,
       |  round(CAST(list_max(list_transform(list_distinct(bgs), x -> len(list_filter(bgs, y -> y = x)))) AS DOUBLE) / len(bgs), 4) AS top_bigram_frac
       |FROM bg ORDER BY doc_id""".stripMargin

  /** X12 — per-source document cap ("domain balancing"): keep at most N
    * documents per source, chosen by a deterministic md5 order so the
    * SAME documents survive on any cluster and in any engine. One shuffle
    * on the source key; per-group state is a counter. A heavy-hitter
    * domain serializes its group onto one task — at 100 TB, cap such
    * domains in two phases (uniform hash-sample to ~cap·ε, then this
    * operator), which keeps every group's sort bounded. */
  def x12SourceCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerKey(
        t(s, dir, "documents").select("doc_id", "source"),
        keyCol = "source", idCol = "doc_id", cap = 15)
      .sortSmall("doc_id")

  val x12Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, source, rn FROM r WHERE rn <= 15 ORDER BY doc_id""".stripMargin

  /** X13 — the curation pipeline COMPOSED: quality gate (x7's rules) →
    * MinHash near-dedup with cluster keep-min (d2+d8+d10's stages) →
    * benchmark decontamination (x9's overlap rule, as an anti-join) →
    * sequence packing (x10's concat-then-chunk), end-to-end as ONE
    * declarative program. This is the shape a real training-data run
    * ships; the composed oracle proves the stages agree with their
    * standalone definitions AND with each other through every
    * intermediate set — and every stage provably fires on the fixture
    * (the gate keeps 105/500, near-dedup absorbs documents, the
    * decontamination anti-join drops some). Composition adds no new
    * shuffle beyond the stages' own. */
  def x13CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val kept = x13Kept(s, dir)
    val surv = x13Survivors(dir, kept)
    val (corpus, evalSet) = x13DecontInputs(s, dir, surv)
    // through the ROUTER, not the plain gram join: the eval slice is 2%
    // of the corpus with a flooded bigram vocabulary — exactly the regime
    // where the join formulation is corpus-quadratic (the r11 router
    // finding). At oracle scale the postings fit one task payload and the
    // router picks the zero-shuffle index plan; at sf10 it measures the
    // corpus-sample bloom hit rate (~1.0 here) and picks the chunked
    // linear plan. All plans are output-identical, so the composed
    // oracle is unchanged.
    val contaminated = graft.operators.Decontaminate.overlap(
      corpus, evalSet, "text", "doc_id", shingleN = 2, threshold = 0.2)
    val clean = corpus.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
    x13Pack(clean)
  }

  /** x13 stage 1 — quality gate: same TextStats-derived predicate as x7
    * (keep = no drop reason fires; n_tok ≥ 10 also guards the ratio
    * divisions). LAZY checkpoint: the gated corpus has FIVE downstream
    * consumers (band keys, verify gram sets, the CC seed, the survivor
    * join, and through it decontamination + packing) with different
    * prunings, so exchange reuse never kicks in and the TextStats gate
    * chain would re-scan the full corpus per consumer. Materialized once
    * on the first job; on a cluster this would be a reliable checkpoint. */
  private def x13Kept(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val st = graft.functions.TextStats.textStats(coalesce(col("text"), lit("")))
    val g = d.select(col("doc_id"), col("source"), col("text"), st.as("st"))
    val mwl = col("st.tok_chars").cast("double") / col("st.n_tok")
    val stopR = col("st.stop_all").cast("double") / col("st.n_tok")
    val punctR = col("st.punct").cast("double") / col("st.chars")
    g.where(col("st.n_tok") >= 10 && col("st.n_tok") <= 5000 &&
        mwl >= 2.0 && mwl <= 12.0 && stopR >= 0.05 && punctR <= 0.2)
      .select("doc_id", "source", "text")
      .localCheckpoint(false)
  }

  /** x13 stage 2 — near-dedup: MinHash pairs over the kept set (the
    * fixture has no EXACT dups, so a fingerprint stage would be a
    * provable no-op), clustered, one canonical min-id survivor per
    * cluster. The pair graph is an artifact too, but under its OWN
    * corpus key: the quality gate changes the corpus, so these pairs are
    * NOT the d2 family's (bucket occupancy, and thus candidates,
    * legitimately differ between the gated and ungated corpus). */
  private def x13Survivors(dir: String, kept: DataFrame): DataFrame = {
    val pairs = graft.operators.PairGraph.pairs(kept, "text", "doc_id",
      corpusKey = s"$dir#documents#x13kept", D2Params)
    val labels = graft.operators.Dedup.connectedComponents(
      kept.select(col("doc_id").as("id")), pairs)
    kept.join(
      labels.where(col("id") === col("cluster_id")).select(col("id").as("doc_id")),
      "doc_id")
  }

  /** x13 stage 3 inputs — decontamination sides: the eval slice
    * (doc_id % 50 == 0, x9's rule — eval membership is external, so it
    * is NOT subject to the quality/dedup stages) and the survivor corpus
    * with the eval ids excluded. */
  private def x13DecontInputs(s: SparkSession, dir: String,
                              surv: DataFrame): (DataFrame, DataFrame) = {
    val evalSet = docs(s, dir)
      .where(length(normalizeText(col("text"))) > 0 && col("doc_id") % 50 === 0)
    (surv.where(col("doc_id") % 50 =!= 0), evalSet)
  }

  /** x13 stage 4 — pack what remains, per source, ordered by doc_id. */
  private def x13Pack(clean: DataFrame): DataFrame =
    graft.operators.Packing.assignPacks(clean, "source", "doc_id",
        bpeTokenCount(col("text")), budget = 512)
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("tok_sum"))
      .sortSmall("source", "pack_id")

  val x13Sql: String = {
    val allStops = sqlList(TextFunctions.StopwordsEn ++ TextFunctions.StopwordsFr ++ TextFunctions.StopwordsEs)
    s"""WITH RECURSIVE b AS (SELECT doc_id, source, text, coalesce(text,'') AS s, $normSql AS nt FROM documents),
       |m AS (
       |  SELECT doc_id, length(s) AS chars,
       |    CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END AS n_tok,
       |    length(regexp_replace(s, '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct,
       |    length(replace(nt, ' ', '')) AS tok_chars,
       |    len(list_filter(string_split(nt, ' '), x -> x IN $allStops)) AS stop_all
       |  FROM b),
       |kept AS (
       |  SELECT b.doc_id, b.source, b.text, b.nt FROM b JOIN m USING (doc_id)
       |  WHERE m.n_tok >= 10 AND m.n_tok <= 5000
       |    AND CAST(m.tok_chars AS DOUBLE) / m.n_tok BETWEEN 2.0 AND 12.0
       |    AND CAST(m.stop_all AS DOUBLE) / m.n_tok >= 0.05
       |    AND CAST(m.punct AS DOUBLE) / m.chars <= 0.2),
       |${d2CtesOver("kept")},
       |prs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM tk
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |surv AS (
       |  SELECT kept.doc_id, kept.source, kept.text FROM kept
       |  JOIN lab ON lab.id = kept.doc_id WHERE lab.id = lab.cluster_id),
       |dtk AS (SELECT doc_id, string_split(nt, ' ') AS toks, len(string_split(nt, ' ')) AS k
       |  FROM b WHERE nt <> ''),
       |dsh AS (SELECT doc_id, CASE WHEN k <= 2 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(0, k - 1), i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END AS gr FROM dtk),
       |dg AS (SELECT DISTINCT doc_id, unnest(gr) AS gram FROM dsh),
       |dsz AS (SELECT doc_id, count(*) AS n FROM dg GROUP BY doc_id),
       |ev AS (SELECT doc_id AS eval_id, gram FROM dg WHERE doc_id % 50 = 0),
       |cg AS (SELECT dg.doc_id, gram FROM dg JOIN surv USING (doc_id) WHERE dg.doc_id % 50 <> 0),
       |o AS (SELECT cg.doc_id, count(*) AS inter, ev.eval_id
       |  FROM cg JOIN ev USING (gram) GROUP BY cg.doc_id, ev.eval_id),
       |contaminated AS (
       |  SELECT DISTINCT o.doc_id FROM o JOIN dsz ON o.doc_id = dsz.doc_id
       |  WHERE round(CAST(inter AS DOUBLE) / dsz.n, 4) >= 0.2),
       |clean AS (
       |  SELECT doc_id, source, text FROM surv
       |  WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |t AS (
       |  SELECT source, doc_id,
       |    len(regexp_extract_all(coalesce(text,''), '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tok
       |  FROM clean),
       |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM t),
       |p AS (SELECT source, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id, n_tok FROM c)
       |SELECT source, pack_id, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
       |FROM p GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin
  }

  /** X14 — incremental near-dedup: which documents of the incoming batch
    * (odd doc_id) near-duplicate the historical corpus (even doc_id).
    * The candidate join is new-bands × history-bands — the history is
    * never self-joined, which is what makes daily dedup against a 100 TB
    * corpus tractable. Output: each matched new document's best history
    * match at or above the threshold. */
  def x14IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    Dedup.incrementalPairs(
        history = d.where(col("doc_id") % 2 === 0),
        incoming = d.where(col("doc_id") % 2 === 1),
        "text", "doc_id", bands = 4, rowsPerBand = 2,
        threshold = 0.2, shingleN = 2)
      .sortSmall("new_id")
  }

  val x14Sql: String =
    s"""WITH ${d2CtesOver("documents")},
       |nb AS (SELECT doc_id, band, key FROM bandkey WHERE doc_id % 2 = 1),
       |hb AS (SELECT doc_id, band, key FROM bandkey WHERE doc_id % 2 = 0),
       |ncap AS (SELECT band, key FROM nb GROUP BY band, key HAVING count(*) <= 1000),
       |hcap AS (SELECT band, key FROM hb GROUP BY band, key HAVING count(*) <= 1000),
       |cx AS (SELECT DISTINCT nb.doc_id AS new_id, hb.doc_id AS hist_id
       |  FROM nb JOIN hb USING (band, key)
       |  JOIN ncap ON ncap.band = nb.band AND ncap.key = nb.key
       |  JOIN hcap ON hcap.band = hb.band AND hcap.key = hb.key),
       |ix AS (SELECT c.new_id, c.hist_id, count(*) AS i
       |  FROM cx c JOIN tok ta ON ta.doc_id = c.new_id
       |            JOIN tok tb ON tb.doc_id = c.hist_id AND tb.tok = ta.tok
       |  GROUP BY 1, 2),
       |jx AS (SELECT ix.new_id, ix.hist_id,
       |    round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
       |  FROM ix JOIN sz sa ON sa.doc_id = ix.new_id
       |          JOIN sz sb ON sb.doc_id = ix.hist_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, hist_id) AS rn
       |  FROM jx WHERE jaccard >= 0.2)
       |SELECT new_id, hist_id, jaccard FROM r WHERE rn = 1 ORDER BY new_id""".stripMargin

  /** X17 — leakage-safe train/val/test split: the split unit is the
    * NEAR-DUP CLUSTER, not the document. Row-hash splitting puts
    * near-duplicates of a training document into the test set — the
    * classic eval-leakage bug; hashing the cluster label instead
    * guarantees every near-dup family lands in one split, by
    * construction. Deterministic (salted md5 of the cluster id, no
    * rand()), so the split is reproducible and auditable on any cluster
    * and in any engine. One hash-bucket projection over the d8 label
    * table plus a doc_id join — the clustering dominates; the split
    * itself is free. */
  def x17ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).where(length(normalizeText(col("text"))) > 0)
    val pairs = d2PairGraph(s, dir)
    val labels = Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
    val bucket = graft.operators.Sampling.hashBucket(
      concat(lit("split:"), col("cluster_id").cast("string")))
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    labels.join(d.select(col("doc_id").as("id"), col("source")), "id")
      .select(split.as("split"), col("source"))
      .groupBy("split", "source").agg(count(lit(1)).as("n_docs"))
      .sortSmall("split", "source")
  }

  val x17Sql: String = {
    val hx = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(md5('split:' || CAST(cluster_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH RECURSIVE $d2CtesSql,
       |pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM tk
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |sp AS (
       |  SELECT id,
       |    CASE WHEN ((${hx(1)} * 4096 + ${hx(2)} * 256 + ${hx(3)} * 16 + ${hx(4)}) % 100) < 80 THEN 'train'
       |         WHEN ((${hx(1)} * 4096 + ${hx(2)} * 256 + ${hx(3)} * 16 + ${hx(4)}) % 100) < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM lab)
       |SELECT sp.split, d.source, count(*) AS n_docs
       |FROM sp JOIN documents d ON d.doc_id = sp.id
       |GROUP BY 1, 2 ORDER BY split, source""".stripMargin
  }

  /** X15 — column profile of the fact table: the before/after-stage
    * summary a pipeline gates on. One scan, one wide typed row. */
  def x15Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.columnStats(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_partkey"))

  val x15Sql: String =
    """SELECT count(*) AS n_rows,
      |  count(l_quantity) AS l_quantity_n, count(DISTINCT l_quantity) AS l_quantity_distinct,
      |  min(l_quantity) AS l_quantity_min, max(l_quantity) AS l_quantity_max,
      |  count(l_extendedprice) AS l_extendedprice_n, count(DISTINCT l_extendedprice) AS l_extendedprice_distinct,
      |  min(l_extendedprice) AS l_extendedprice_min, max(l_extendedprice) AS l_extendedprice_max,
      |  count(l_returnflag) AS l_returnflag_n, count(DISTINCT l_returnflag) AS l_returnflag_distinct,
      |  min(l_returnflag) AS l_returnflag_min, max(l_returnflag) AS l_returnflag_max,
      |  count(l_partkey) AS l_partkey_n, count(DISTINCT l_partkey) AS l_partkey_distinct,
      |  min(l_partkey) AS l_partkey_min, max(l_partkey) AS l_partkey_max
      |FROM lineitem""".stripMargin

  /** X16 — exact fixed-width price histogram (distribution monitoring),
    * edge bins clamp so every row counts somewhere. */
  def x16Histogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(t(s, dir, "lineitem"),
        "l_extendedprice", lo = 0.0, hi = 120000.0, bins = 24)
      .sortSmall("bin")

  val x16Sql: String =
    """SELECT CAST(least(greatest(floor(l_extendedprice / 5000.0), 0), 23) AS BIGINT) AS bin,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** X7 — quality FILTERING (the gate, where x2 is the score): Gopher-
    * flavor keep/drop per document with the FIRST failing rule as the
    * drop reason — too_short / too_long / word_len / no_stopwords /
    * punct, evaluated in that order from the one-pass TextStats fields.
    * The kept set is what a training-data pipeline feeds downstream. */
  def x7QualityFilter(s: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.TextStats.textStats(coalesce(col("text"), lit("")))
    val base = docs(s, dir).select(col("doc_id"), st.as("st"))
      .select(col("doc_id"), col("st.chars").as("chars"), col("st.n_tok").as("n_tok"),
        col("st.punct").as("punct"), col("st.tok_chars").as("tok_chars"),
        col("st.stop_all").as("stop_all"))
    val mwl = col("tok_chars").cast("double") / col("n_tok")
    val stopR = col("stop_all").cast("double") / col("n_tok")
    val punctR = col("punct").cast("double") / col("chars")
    val reason = when(col("n_tok") < 10, lit("too_short"))
      .when(col("n_tok") > 5000, lit("too_long"))
      .when(mwl < 2.0 || mwl > 12.0, lit("word_len"))
      .when(stopR < 0.05, lit("no_stopwords"))
      .when(punctR > 0.2, lit("punct"))
    base.select(col("doc_id"), reason.isNull.as("keep"), reason.as("drop_reason"))
      .sortSmall("doc_id")
  }

  val x7Sql: String = {
    val allStops = sqlList(TextFunctions.StopwordsEn ++ TextFunctions.StopwordsFr ++ TextFunctions.StopwordsEs)
    s"""WITH b AS (SELECT doc_id, coalesce(text,'') AS s, $normSql AS nt FROM documents),
       |m AS (
       |  SELECT doc_id, length(s) AS chars,
       |    CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END AS n_tok,
       |    length(regexp_replace(s, '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct,
       |    length(replace(nt, ' ', '')) AS tok_chars,
       |    len(list_filter(string_split(nt, ' '), x -> x IN $allStops)) AS stop_all
       |  FROM b),
       |r AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tok < 10 THEN 'too_short'
       |      WHEN n_tok > 5000 THEN 'too_long'
       |      WHEN CAST(tok_chars AS DOUBLE) / n_tok < 2.0 OR CAST(tok_chars AS DOUBLE) / n_tok > 12.0 THEN 'word_len'
       |      WHEN CAST(stop_all AS DOUBLE) / n_tok < 0.05 THEN 'no_stopwords'
       |      WHEN CAST(punct AS DOUBLE) / chars > 0.2 THEN 'punct' END AS drop_reason
       |  FROM m)
       |SELECT doc_id, drop_reason IS NULL AS keep, drop_reason
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** X8 — per-document keyword extraction by inverse document frequency
    * (the tf-idf family): token counts per (doc, term), document
    * frequency over the corpus, score = tf·N/df, top-3 terms per doc
    * with deterministic tie-breaks. The score uses only IEEE-exact
    * multiply/divide — ln() is not correctly rounded and differs across
    * engines in the last ulp, which would make an oracle flaky; the
    * RANKING is what the operator delivers, and x·N/df orders the same
    * families of terms as tf·ln(N/df) for fixed tf. Shuffles are keyed
    * on (doc, term) and term — cardinality grows with data, never a
    * driver-side collect. */
  def x8KeywordTerms(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // (doc, term) counting is row-local: TermCounts emits each document's
    // term-frequency list map-side, so the token instances are never
    // shuffled. df then comes from a count window over term (one shuffle)
    // instead of a groupBy + join back (two).
    val tf = d.select(col("doc_id"),
        explode(graft.functions.NativeTextColumns.termCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("score"), 4).as("score"))
      .sortSmall("doc_id", "rank")
  }

  val x8Sql: String =
    s"""WITH norm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm WHERE nt <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, idf.df,
       |    CAST(tf.tf AS DOUBLE) * n.n_docs / idf.df AS score
       |  FROM tf JOIN idf USING (term) CROSS JOIN n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
       |SELECT doc_id, rank, term, tf, df, round(score, 4) AS score
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** X26 — corpus-LM surprisal scoring (the CCNet-style "perplexity
    * filter" shape: score each document under a language model and gate
    * on the score). The LM here is the corpus's own unigram model; the
    * per-token surprisal is quantized to INTEGER bits —
    * bitlen(total_tokens) − bitlen(count(token)), i.e. floor-log2
    * computed exactly on integers — because ln()/log() are not correctly
    * rounded and differ across engines in the last ulp (see x8). Common
    * tokens score near 0 bits, hapaxes near log2(N); a document's mean
    * bits is high when its vocabulary is rare — the same outlier signal a
    * real perplexity filter thresholds on.
    *
    * Plan shape at 100 TB: token instances never shuffle (map-side
    * TermCounts); corpus counts are ONE partial-aggregated shuffle keyed
    * by term; scores come back via a term-keyed join (AQE broadcasts the
    * count table while it measures small — it does here — and falls back
    * to the shuffle join when the vocabulary outgrows that; both sides
    * stay keyed on term). The per-doc reduce is a second keyed
    * aggregation. No driver-side state at all — the "model" stays
    * distributed. The tokenize-explode feeds both the count aggregation
    * and the score join and is recomputed per consumer (the scan
    * exchange is reused, plan-verified): TermCounts is a codegen'd
    * single pass, so recomputation is deliberately preferred over
    * materializing the doc×term stream to shuffle storage. */
  def x26LmSurprisal(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val tf = d.select(col("doc_id"),
        explode(graft.functions.NativeTextColumns.termCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val cnt = tf.groupBy("term").agg(sum("tf").cast("long").as("ctf"))
    val total = cnt.agg(sum("ctf").cast("long").as("n_total"))
    tf.join(cnt, "term")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(bin(col("n_total"))) - length(bin(col("ctf")))).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("bits") * col("tf")).cast("long").as("sum_bits"),
        sum("tf").cast("long").as("n_tok"))
      .withColumn("avg_bits",
        round(col("sum_bits").cast("double") / col("n_tok"), 4))
      .sortSmall("doc_id")
  }

  val x26Sql: String =
    s"""WITH norm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm WHERE nt <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |cnt AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(SUM(ctf) AS BIGINT) AS n_total FROM cnt),
       |sc AS (
       |  SELECT tf.doc_id, tf.tf,
       |    CAST(length(bin(tot.n_total)) - length(bin(cnt.ctf)) AS BIGINT) AS bits
       |  FROM tf JOIN cnt USING (term) CROSS JOIN tot)
       |SELECT doc_id, CAST(SUM(bits * tf) AS BIGINT) AS sum_bits,
       |  CAST(SUM(tf) AS BIGINT) AS n_tok,
       |  round(CAST(SUM(bits * tf) AS DOUBLE) / SUM(tf), 4) AS avg_bits
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** X3 — whitespace + BPE-ish token counting. */
  def x3TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).as("n_ws"),
        bpeTokenCount(col("text")).as("n_bpe"))
      .sortSmall("doc_id")

  val x3Sql: String =
    s"""WITH norm AS (SELECT doc_id, $normSql AS nt, coalesce(text,'') AS s FROM documents)
       |SELECT doc_id,
       |  CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END AS n_ws,
       |  len(regexp_extract_all(s, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe
       |FROM norm ORDER BY doc_id""".stripMargin

  /** X4 — document fingerprints (rolling-hash flavor: md5 of normalized
    * text + 64-bit prefix). */
  def x4Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        md5_16(normalizeText(col("text"))).as("fp64"))
      .sortSmall("doc_id")

  val x4Sql: String =
    s"""SELECT doc_id, md5($normSql) AS fp, substr(md5($normSql), 1, 16) AS fp64
       |FROM documents ORDER BY doc_id""".stripMargin

  /** X5 — PII detection + redaction over documents with deterministic
    * PII injection (emails / phones / IPv4s appended by doc_id residue):
    * per-type match counts on the raw text and the fingerprint of the
    * redacted text, both recomputed by DuckDB with the same regexes. */
  def x5PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val k = col("doc_id")
    val injected = concat(coalesce(col("text"), lit("")),
      when(k % 5 === 0, lit(" contact agent.007@example.com now"))
        .when(k % 5 === 1, lit(" call +212 612-345-678 today"))
        .when(k % 5 === 2, lit(" server at 192.168.001.17 port"))
        .when(k % 5 === 3, lit(" mail a.b@c.io or 10.0.0.1"))
        .otherwise(lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        piiCount(injected, TextFunctions.PiiEmailRe).as("n_email"),
        piiCount(injected, TextFunctions.PiiIpRe).as("n_ip"),
        piiCount(injected, TextFunctions.PiiPhoneRe).as("n_phone"),
        md5(redactPii(injected)).as("fp_redacted"))
      .sortSmall("doc_id")
  }

  val x5Sql: String = {
    import TextFunctions.{PiiEmailRe, PiiIpRe, PiiPhoneRe}
    s"""WITH r AS (
       |  SELECT doc_id, coalesce(text,'') || CASE doc_id % 5
       |    WHEN 0 THEN ' contact agent.007@example.com now'
       |    WHEN 1 THEN ' call +212 612-345-678 today'
       |    WHEN 2 THEN ' server at 192.168.001.17 port'
       |    WHEN 3 THEN ' mail a.b@c.io or 10.0.0.1'
       |    ELSE '' END AS s
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(s, '$PiiEmailRe')) AS n_email,
       |  len(regexp_extract_all(s, '$PiiIpRe')) AS n_ip,
       |  len(regexp_extract_all(s, '$PiiPhoneRe')) AS n_phone,
       |  md5(regexp_replace(regexp_replace(regexp_replace(s, '$PiiEmailRe', '<EMAIL>', 'g'), '$PiiIpRe', '<IP>', 'g'), '$PiiPhoneRe', '<PHONE>', 'g')) AS fp_redacted
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** M1 — multimodal column plumbing: opaque binary payload + deterministic
    * stub "decode" into typed metadata (byte size, fake width/height/frames
    * derived from content hash). The real decode is a mapPartitions stub in
    * graft.operators.Multimodal; this query verifies the schema/metadata
    * path end-to-end. */
  def m1MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val h = md5(col("text"))
    val hv = (i: Int) => conv(substring(h, i, 2), 16, 10).cast("long")
    t(s, dir, "documents")
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
        (hv(1) % 192 + 64).as("width"),
        (hv(3) % 192 + 64).as("height"),
        (hv(5) % 30 + 1).as("frames"))
      .sortSmall("doc_id")
  }

  val m1Sql: String = {
    val hx = (i: Int) => s"(strpos('0123456789abcdef', substr(md5(text), $i, 1)) - 1)"
    def hv(i: Int) = s"(${hx(i)} * 16 + ${hx(i + 1)})"
    s"""SELECT doc_id, strlen(text) AS n_bytes,
       |  ${hv(1)} % 192 + 64 AS width,
       |  ${hv(3)} % 192 + 64 AS height,
       |  ${hv(5)} % 30 + 1 AS frames
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** M2 — REAL image decode end-to-end: each document id is rendered to
    * an actual PNG or JPEG whose dimensions are arithmetic functions of
    * the id, then decoded back through the javax.imageio header reader
    * ([[graft.operators.Multimodal.decodeMeta]]). The oracle recomputes
    * the expected dimensions from doc_id WITHOUT any image code, so a
    * hash match proves the real codec read back exactly what was encoded
    * — encode and decode cannot share a bug because the oracle side has
    * no codec. Encode+decode run in one narrow mapPartitions chain, the
    * same zero-shuffle shape a 100 TB media scan needs. */
  def m2ImageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val metas = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val baos = new java.io.ByteArrayOutputStream()
        it.map { id =>
          val w = 16 + (id % 64).toInt
          val h = 16 + (id % 48).toInt
          val fmt = if (id % 2 == 0) "png" else "jpeg"
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, (id % 0xffffff).toInt)
          baos.reset()
          // memory-cached output stream: ImageIO.write(_, _, OutputStream)
          // otherwise spools through a temp FILE per image (see
          // Multimodal.imageDecode for the matching read-side note)
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
          try { writer.setOutput(ios); writer.write(img) }
          finally { writer.dispose(); ios.close() }
          (id, baos.toByteArray)
        }
      }.toDF("doc_id", "payload")
    graft.operators.Multimodal.decodeMeta(metas).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("frames"),
        col("format"))
      .sortSmall("doc_id")
  }

  val m2Sql: String =
    """SELECT doc_id,
      |  CAST(16 + doc_id % 64 AS INT) AS width,
      |  CAST(16 + doc_id % 48 AS INT) AS height,
      |  CAST(1 AS INT) AS frames,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** M3 — full-raster decode + nearest-neighbor resize + feature
    * checksum through REAL codecs (the multimodal preprocessing step m2
    * stops short of: m2 reads headers, m3 reads pixels). PNGs are
    * generated per doc with a closed-form pixel pattern
    * ((id + 31x + 17y) mod 2²⁴−1), encoded through the real ImageIO PNG
    * writer, decoded back, resized 8×8 NN, and checksummed — so the
    * oracle can recompute the EXPECTED checksum arithmetically while the
    * engine exercises the actual encode→decode→sample path. PNG only:
    * lossless round-trip is what makes the oracle exact (JPEG rasters
    * are codec-approximate). Same 100 TB shape as m2: narrow
    * mapPartitions, flat per-image cost, zero shuffle. */
  def m3ImageResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val imgs = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .filter(_ % 2 == 0)
      .mapPartitions { it =>
        val baos = new java.io.ByteArrayOutputStream()
        it.map { id =>
          val w = 16 + (id % 16).toInt
          val h = 16 + (id % 12).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, ((id + 31L * x + 17L * y) % 0xffffff).toInt)
              x += 1
            }
            y += 1
          }
          baos.reset()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
          try { writer.setOutput(ios); writer.write(img) }
          finally { writer.dispose(); ios.close() }
          (id, baos.toByteArray)
        }
      }.toDF("doc_id", "payload")
    graft.operators.Multimodal.resizeFeature(imgs, tw = 8, th = 8).toDF()
      .sortSmall("doc_id")
  }

  val m3Sql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(16 + doc_id % 16 AS INT) AS w,
      |         CAST(16 + doc_id % 12 AS INT) AS h
      |  FROM documents WHERE doc_id % 2 = 0),
      |g AS (SELECT CAST(i AS BIGINT) AS i FROM range(8) t(i)),
      |px AS (
      |  SELECT d.doc_id, d.w, d.h,
      |    (d.doc_id + 31 * ((a.i * d.w) // 8) + 17 * ((b.i * d.h) // 8)) % 16777215 AS v
      |  FROM d, g a, g b)
      |SELECT doc_id, w, h, CAST(SUM(v) AS BIGINT) AS px_sum
      |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin

  /** S10 — JSON field extraction at the scan stage (the reference's whole
    * ingest path is schemaless JSON field access,
    * `M/dags/marketeye_etl_dag.py:33-59`): events.props is a JSON string;
    * get_json_object pulls the key map-side (codegen'd path expression,
    * no UDF), then one keyed aggregation. */
  def s10JsonProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("event_id"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum("event_id").cast("long").as("id_sum"))
      .sortSmall("k")

  val s10Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  count(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** M4 — video-style frame sampling: multi-frame payloads (a minimal
    * length-prefixed container — the JDK ships no video codecs, so the
    * container is the brief-sanctioned stub) with every REAL step
    * exercised per sampled frame: ImageIO PNG decode + 4×4 NN sample +
    * checksum, skipped frames costing zero decode. Frames carry a
    * closed-form pixel pattern so the oracle recomputes the expected
    * checksum arithmetically while the engine runs the actual
    * encode→container→decode path. Same 100 TB shape as m2/m3: narrow
    * mapPartitions, flat per-payload cost, zero shuffle. */
  def m4FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .filter(_ % 5 == 0)
      .mapPartitions { it =>
        val baos = new java.io.ByteArrayOutputStream()
        it.map { id =>
          val nf = 3 + (id % 4).toInt
          val w = 8 + (id % 8).toInt
          val h = 8 + (id % 6).toInt
          val out = new java.io.ByteArrayOutputStream()
          val dos = new java.io.DataOutputStream(out)
          var f = 0
          while (f < nf) {
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y, (((id + 7L * f + x + y) % 8) * 32 * 65793).toInt)
                x += 1
              }
              y += 1
            }
            baos.reset()
            val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
            val wr = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
            try { wr.setOutput(ios); wr.write(img) }
            finally { wr.dispose(); ios.close() }
            dos.writeInt(baos.size()); baos.writeTo(dos)
            f += 1
          }
          (id, out.toByteArray)
        }
      }.toDF("doc_id", "payload")
    graft.operators.Multimodal.frameSample(payloads, every = 2, tw = 4, th = 4)
      .toDF().sortSmall("doc_id")
  }

  val m4Sql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS nf,
      |         CAST(8 + doc_id % 8 AS INT) AS w, CAST(8 + doc_id % 6 AS INT) AS h
      |  FROM documents WHERE doc_id % 5 = 0),
      |fr AS (SELECT CAST(f AS BIGINT) AS f FROM range(0, 6, 2) t(f)),
      |g AS (SELECT CAST(i AS BIGINT) AS i FROM range(4) t(i)),
      |px AS (
      |  SELECT d.doc_id, d.nf,
      |    ((d.doc_id + 7 * fr.f + (a.i * d.w) // 4 + (b.i * d.h) // 4) % 8) * 32 * 65793 AS v
      |  FROM d JOIN fr ON fr.f < d.nf, g a, g b)
      |SELECT doc_id, nf AS n_frames, CAST((nf + 1) // 2 AS INT) AS n_sampled,
      |  CAST(SUM(v) AS BIGINT) AS px_sum
      |FROM px GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin

  /** W2 — retention-cohort analysis over the event stream (the classic
    * product-analytics rollup): cohort = a user's first signup week;
    * activity = any event week at-or-after it; output = distinct active
    * users per (cohort week, week offset). Two keyed aggregations and
    * one user-keyed join — at 100 TB the cohort table is per-user (far
    * past broadcast range) and the join shuffles on user_id, which the
    * activity distinct already partitioned by. */
  def w2RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val wk = floor(tsEpochSec(ev.schema).cast("long") / 604800L).cast("long")
    val withWeek = ev.select(col("user_id"), col("event_type"), wk.as("wk"))
    val cohort = withWeek.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("wk").as("cohort_wk"))
    val activity = withWeek.select("user_id", "wk").distinct()
    cohort.join(activity, "user_id")
      .where(col("wk") >= col("cohort_wk"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .sortSmall("cohort_wk", "week_offset")
  }

  val w2Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(floor(epoch(date_trunc('second', ts)) / 604800) AS BIGINT) AS wk
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e
      |      WHERE event_type = 'signup' GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, wk FROM e)
      |SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
      |  count(DISTINCT c.user_id) AS n_users
      |FROM c JOIN a USING (user_id) WHERE a.wk >= c.cohort_wk
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** X18 — repeated verbatim passages across documents (exact-substring
    * dedup signal, Lee et al. 2022): word 4-grams in ≥3 distinct docs. */
  def x18RepeatedPassages(s: SparkSession, dir: String): DataFrame =
    graft.operators.Passages.repeatedPassages(
        t(s, dir, "documents"), "text", "doc_id", n = 4, minDocs = 3)
      .sortSmall("passage")

  private def passageGramSql(n: Int): String =
    s"""norm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |tk AS (SELECT doc_id, string_split(nt, ' ') AS toks,
       |         len(string_split(nt, ' ')) AS k FROM norm WHERE nt <> ''),
       |e AS (SELECT doc_id, toks, k FROM tk
       |      UNION ALL SELECT doc_id, [nt], 1 FROM norm WHERE nt = ''),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN k <= $n THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(0, k - ${n - 1}),
       |                i -> array_to_string(list_slice(toks, i + 1, i + $n), ' ')) END AS gr
       |  FROM e),
       |g AS (SELECT DISTINCT doc_id, unnest(gr) AS passage FROM sh)""".stripMargin

  val x18Sql: String =
    s"""WITH ${passageGramSql(4)}
       |SELECT passage, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM g GROUP BY passage HAVING count(*) >= 3 ORDER BY passage""".stripMargin

  /** X19 — per-document repeated-passage flags: the trim-vs-drop triage
    * table (how many of a doc's passages are boilerplate, and how widely
    * the worst one spreads). */
  def x19PassageFlags(s: SparkSession, dir: String): DataFrame =
    graft.operators.Passages.flagPassageDocs(
        t(s, dir, "documents"), "text", "doc_id", n = 4, minDocs = 3)
      .sortSmall("doc_id")

  val x19Sql: String =
    s"""WITH ${passageGramSql(4)},
       |hot AS (SELECT passage, count(*) AS n_docs FROM g
       |        GROUP BY passage HAVING count(*) >= 3)
       |SELECT g.doc_id, count(*) AS n_repeated_passages,
       |  max(hot.n_docs) AS max_passage_docs
       |FROM g JOIN hot USING (passage)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "s1_scan_prune" -> s1ScanPrune,
    "s3_sentinel_scrub" -> s3SentinelScrub,
    "p1_avito_transform" -> p1AvitoTransform,
    "p1_avito_dag" -> p1AvitoDagTransform,
    "p1_jumia_transform" -> p1JumiaTransform,
    "p1_jumia_dag" -> p1JumiaDagTransform,
    "p1_electroplanet_transform" -> p1ElectroTransform,
    "p1_electroplanet_dag" -> p1ElectroDagTransform,
    "p4_positive_filter" -> p4PositiveFilter,
    "p6_multi_source" -> p6MultiSource,
    "j1_stats_join" -> j1StatsJoin,
    "a1_merge_products" -> a1MergeProducts,
    "a1b_merge_documents" -> a1bMergeDocuments,
    "a2_offer_dedup" -> a2OfferDedup,
    "a4_distribution" -> a4Distribution,
    "a6_group_stats" -> a6GroupStats,
    "t2_top5_brands" -> t2Top5Brands,
    "t4_top_deviation" -> t4TopDeviation,
    "u1_union_parties" -> u1UnionParties,
    "w1_running_window" -> w1RunningWindow,
    "st1_hourly_events" -> st1HourlyEvents,
    "f1_clean_price" -> f1CleanPrice,
    "f2_price_european" -> f2PriceEuropean,
    "f3_brand_normalize" -> f3BrandNormalize,
    "f4_brand_fixed" -> f4BrandFixed,
    "f4_brand_dag" -> f4BrandDag,
    "f5_model_extract" -> f5ModelExtract,
    "f6_product_id" -> f6ProductId,
    "f7_condition" -> f7Condition,
    "f7_condition_dag" -> f7ConditionDag,
    "f8_rating" -> f8Rating,
    "f9_avito_url" -> f9AvitoUrl,
    "f10_safe_string" -> f10SafeString,
    "f12_specs" -> f12Specs,
    "z3_zscore_anomalies" -> z3ZscoreAnomalies,
    "z5_anomaly_summary" -> z5AnomalySummary,
    "z6_iqr_outliers" -> z6IqrOutliers,
    "z6b_iqr_approx" -> z6bIqrApprox,
    "d1_dedup_exact" -> d1DedupExact,
    "d2_minhash_neardup" -> d2MinhashNearDup,
    "d2b_neardup_adaptive" -> d2bNeardupAdaptive,
    "d3_simhash" -> d3Simhash,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "d4b_jaccard_prefix" -> d4bJaccardPrefix,
    "d4c_jaccard_auto" -> d4cJaccardAuto,
    "d5_cosine_topk" -> d5CosineTopK,
    "d6_cosine_lsh" -> d6CosineLsh,
    "d7_embedding_neardup" -> d7EmbeddingNearDup,
    "d7b_neardup_lsh" -> d7bNearDupLsh,
    "d7c_neardup_auto" -> d7cNearDupAuto,
    "d8_neardup_clusters" -> d8NeardupClusters,
    "d10_dedup_apply" -> d10DedupApply,
    "d9_ivf_topk" -> d9IvfTopk,
    "d11_semantic_dedup" -> d11SemanticDedup,
    "d11b_semantic_dedup_capped" -> d11bSemanticDedupCapped,
    "d11c_semantic_dedup_auto" -> d11cSemanticDedupAuto,
    "d11d_semantic_dedup_probed" -> d11dSemanticDedupProbed,
    "d12_semantic_clusters" -> d12SemanticClusters,
    "x5_pii_scrub" -> x5PiiScrub,
    "k1_salted_agg" -> k1SaltedAgg,
    "st2_streaming_hourly" -> st2StreamingHourly,
    "st3_streaming_dedup" -> st3StreamingDedup,
    "st4_session_windows" -> st4SessionWindows,
    "st5_stream_static_join" -> st5StreamStaticJoin,
    "st6_stream_stream_join" -> st6StreamStreamJoin,
    "x6_hash_sample" -> x6HashSample,
    "x1_lang_id" -> x1LangId,
    "x2_quality" -> x2Quality,
    "x3_token_count" -> x3TokenCount,
    "x7_quality_filter" -> x7QualityFilter,
    "x8_keyword_terms" -> x8KeywordTerms,
    "x9_decontaminate" -> x9Decontaminate,
    "x9b_decontaminate_bloom" -> x9bDecontaminateBloom,
    "x9c_decontaminate_auto" -> x9cDecontaminateAuto,
    "x9d_decontaminate_chunked" -> x9dDecontaminateChunked,
    "x10_sequence_packing" -> x10SequencePacking,
    "x11_repetition" -> x11Repetition,
    "x12_source_cap" -> x12SourceCap,
    "x13_curation_pipeline" -> x13CurationPipeline,
    "x14_incremental_dedup" -> x14IncrementalDedup,
    "x15_profile" -> x15Profile,
    "x17_cluster_split" -> x17ClusterSplit,
    "x16_histogram" -> x16Histogram,
    "x4_fingerprint" -> x4Fingerprint,
    "m1_multimodal_meta" -> m1MultimodalMeta,
    "m2_image_decode" -> m2ImageDecode,
    "x20_mixture_sample" -> x20MixtureSample,
    "x21_epoch_shuffle" -> x21EpochShuffle,
    "x22_pretrain_program" -> x22PretrainProgram,
    "x22b_pretrain_neardup" -> x22bPretrainNearDedup,
    "x23_token_chunks" -> x23TokenChunks,
    "x24_bm25_search" -> x24Bm25Search,
    "x25_token_budget" -> x25TokenBudget,
    "x18_repeated_passages" -> x18RepeatedPassages,
    "x19_passage_flags" -> x19PassageFlags,
    "x26_lm_surprisal" -> x26LmSurprisal,
    "e1_asof_join" -> e1AsofJoin,
    "e2_interval_join" -> e2IntervalJoin,
    "m3_image_resize" -> m3ImageResize,
    "s10_json_props" -> s10JsonProps,
    "st7_price_envelope" -> st7PriceEnvelope,
    "st8_streaming_neardup" -> st8StreamingNeardup,
    "st9_streaming_semantic_dedup" -> st9StreamingSemanticDedup,
    "st9b_streaming_semantic_adaptive" -> st9bStreamingSemanticDedupAdaptive,
    "st9c_streaming_semantic_live" -> st9cStreamingSemanticDedupLive,
    "e3_band_join" -> e3BandJoin,
    "m4_frame_sample" -> m4FrameSample,
    "w2_retention_cohorts" -> w2RetentionCohorts
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" -> q1Sql,
    "s1_scan_prune" -> s1Sql,
    "s3_sentinel_scrub" -> s3Sql,
    "p1_avito_transform" -> p1AvitoSql,
    "p1_avito_dag" -> p1AvitoDagSql,
    "p1_jumia_transform" -> p1JumiaSql,
    "p1_jumia_dag" -> p1JumiaDagSql,
    "p1_electroplanet_transform" -> p1ElectroSql,
    "p1_electroplanet_dag" -> p1ElectroDagSql,
    "p4_positive_filter" -> p4Sql,
    "p6_multi_source" -> p6Sql,
    "j1_stats_join" -> j1Sql,
    "a1_merge_products" -> a1Sql,
    "a1b_merge_documents" -> a1bSql,
    "a2_offer_dedup" -> a2Sql,
    "a4_distribution" -> a4Sql,
    "a6_group_stats" -> a6Sql,
    "t2_top5_brands" -> t2Sql,
    "t4_top_deviation" -> t4Sql,
    "u1_union_parties" -> u1Sql,
    "w1_running_window" -> w1Sql,
    "st1_hourly_events" -> st1Sql,
    "f1_clean_price" -> f1Sql,
    "f2_price_european" -> f2Sql,
    "f3_brand_normalize" -> f3Sql,
    "f4_brand_fixed" -> f4Sql,
    "f4_brand_dag" -> f4DagSql,
    "f5_model_extract" -> f5Sql,
    "f6_product_id" -> f6Sql,
    "f7_condition" -> f7Sql,
    "f7_condition_dag" -> f7DagSql,
    "f8_rating" -> f8Sql,
    "f9_avito_url" -> f9Sql,
    "f10_safe_string" -> f10Sql,
    "f12_specs" -> f12Sql,
    "z3_zscore_anomalies" -> z3Sql,
    "z5_anomaly_summary" -> z5Sql,
    "z6_iqr_outliers" -> z6Sql,
    "z6b_iqr_approx" -> z6bSql,
    "d1_dedup_exact" -> d1Sql,
    "d2_minhash_neardup" -> d2Sql,
    "d2b_neardup_adaptive" -> d2Sql,
    "d3_simhash" -> d3Sql,
    "d4_ngram_jaccard" -> d4Sql,
    "d4b_jaccard_prefix" -> d4bSql,
    "d4c_jaccard_auto" -> d4bSql,
    "d5_cosine_topk" -> d5Sql,
    "d6_cosine_lsh" -> d6Sql,
    "st2_streaming_hourly" -> st1Sql,
    "d7_embedding_neardup" -> d7Sql,
    "d7b_neardup_lsh" -> d7bSql,
    "d7c_neardup_auto" -> d7cSql,
    "d8_neardup_clusters" -> d8Sql,
    "d10_dedup_apply" -> d10Sql,
    "d9_ivf_topk" -> d9Sql,
    "d11_semantic_dedup" -> d11Sql,
    "d11b_semantic_dedup_capped" -> d11bSql,
    "d11c_semantic_dedup_auto" -> d11Sql,
    "d11d_semantic_dedup_probed" -> d11dSql,
    "d12_semantic_clusters" -> d12Sql,
    "x5_pii_scrub" -> x5Sql,
    "k1_salted_agg" -> k1Sql,
    "st3_streaming_dedup" -> st3Sql,
    "st4_session_windows" -> st4Sql,
    "st5_stream_static_join" -> st5Sql,
    "st6_stream_stream_join" -> st6Sql,
    "x6_hash_sample" -> x6Sql,
    "x1_lang_id" -> x1Sql,
    "x2_quality" -> x2Sql,
    "x3_token_count" -> x3Sql,
    "x7_quality_filter" -> x7Sql,
    "x8_keyword_terms" -> x8Sql,
    "x9_decontaminate" -> x9Sql,
    "x9b_decontaminate_bloom" -> x9Sql,
    "x9c_decontaminate_auto" -> x9Sql,
    "x9d_decontaminate_chunked" -> x9Sql,
    "x10_sequence_packing" -> x10Sql,
    "x11_repetition" -> x11Sql,
    "x12_source_cap" -> x12Sql,
    "x13_curation_pipeline" -> x13Sql,
    "x14_incremental_dedup" -> x14Sql,
    "x15_profile" -> x15Sql,
    "x17_cluster_split" -> x17Sql,
    "x16_histogram" -> x16Sql,
    "x4_fingerprint" -> x4Sql,
    "m1_multimodal_meta" -> m1Sql,
    "m2_image_decode" -> m2Sql,
    "x20_mixture_sample" -> x20Sql,
    "x21_epoch_shuffle" -> x21Sql,
    "x22_pretrain_program" -> x22Sql,
    "x22b_pretrain_neardup" -> x22bSql,
    "x23_token_chunks" -> x23Sql,
    "x24_bm25_search" -> x24Sql,
    "x25_token_budget" -> x25Sql,
    "x18_repeated_passages" -> x18Sql,
    "x19_passage_flags" -> x19Sql,
    "x26_lm_surprisal" -> x26Sql,
    "e1_asof_join" -> e1Sql,
    "e2_interval_join" -> e2Sql,
    "m3_image_resize" -> m3Sql,
    "s10_json_props" -> s10Sql,
    "st7_price_envelope" -> st7Sql,
    // the streaming gate's accumulated pairs equal the batch candidate
    // set below the bucket cap, so d2's SQL twin verifies st8 end-to-end
    "st8_streaming_neardup" -> d2Sql,
    "st9_streaming_semantic_dedup" -> st9Sql,
    "st9b_streaming_semantic_adaptive" -> st9bSql,
    // identical depth rule through the live-artifact indirection — the
    // fixed-artifact stream is bit-identical to st9b's Map form
    "st9c_streaming_semantic_live" -> st9bSql,
    "e3_band_join" -> e3Sql,
    "m4_frame_sample" -> m4Sql,
    "w2_retention_cohorts" -> w2Sql
  )
}
