package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A1/A2 — the merge-by-product_id fold, the heart of the reference
  * pipeline (merge_data, M/dags/marketeye_etl_dag.py:618-741;
  * _merge_products, M/plugins/marketeye_operators.py:182-214).
  *
  * Reference semantics preserved:
  *   - ids normalized lower/space→underscore before grouping (dag:644-650);
  *   - empty-id products dropped (dag:656-659);
  *   - offers concatenated across sources; per-product (source,url) dedup
  *     (DAG path, dag:671-681) and/or global (source,price,url) dedup
  *     (plugin path, marketeye_operators.py:216-235), both first-seen-wins;
  *   - specifications merged first-non-null-wins in encounter order;
  *   - source sets unioned; longest product_name wins, first-seen on ties;
  *   - the first-seen product contributes brand/model/category.
  *
  * Spark-first design: the reference's "insertion order" does not exist in
  * a distributed shuffle, so encounter order is made explicit — a rank from
  * the configured source order plus data-derived tiebreaks — and the whole
  * fold is ONE hash aggregation (collect + array_sort + higher-order
  * expressions). No typed Aggregator, no UDF: everything stays inside
  * Tungsten rows, and group state is bounded by offers-per-product (≈1000
  * max in the reference), so it spills safely at 100 TB.
  */
object ProductMerge {

  /** Source priority on the plugin path (marketeye_operators.py:138). */
  val PluginOrder: Seq[String] = Seq("Jumia", "Avito", "Electroplanet")
  /** Source priority on the DAG path (dag:627). */
  val DagOrder: Seq[String] = Seq("Avito", "Jumia", "Electroplanet")

  /** Id normalization before grouping (dag:644-650). */
  def normalizeId(c: Column): Column = regexp_replace(lower(trim(c)), " ", "_")

  private def rankOf(order: Seq[String]): Column =
    order.zipWithIndex.foldRight(lit(order.size): Column) { case ((s, i), fb) =>
      when(col("offer.source") === s, lit(i)).otherwise(fb)
    }

  /** Merge unified single/multi-offer product frames into one document per
    * normalized product_id.
    *
    * @param dedupPerProduct drop later offers with a duplicate (source,url)
    *                        within the product (DAG path A2b)
    * @param dedupGlobal     drop offers whose (source,price,url) was seen
    *                        anywhere before (plugin path A2); products left
    *                        with no offers disappear
    */
  def merge(products: DataFrame, sourceOrder: Seq[String] = PluginOrder,
            dedupPerProduct: Boolean = true,
            dedupGlobal: Boolean = false): DataFrame = {
    // The empty-id drop is fenced with Opaque: product_id is usually a
    // DERIVED column (EP1: md5/concat over the brand/model cascades), and
    // letting Catalyst push this predicate below the upstream union
    // substitutes the full cascade into the filter per source branch —
    // measured 47K/113K/48K-char conditions whose generated processNext()
    // passes the JVM 64 KB method limit, killing whole-stage codegen for
    // the entire merge stage AND double-evaluating the cascade per row.
    // On materialized inputs (parquet) the fence costs nothing: a
    // length(regexp_replace(...)) predicate is not scan-pushable anyway.
    val exploded = products
      .where(graft.functions.Opaque(length(normalizeId(col("product_id"))) > 0))
      .select(normalizeId(col("product_id")).as("product_id"),
        col("brand"), col("model"), col("product_name"), col("category"),
        col("specifications"), col("sources"), col("created_at"),
        col("last_updated"), explode(col("offers")).as("offer"))
      .withColumn("ord", struct(rankOf(sourceOrder).as("rank"),
        coalesce(col("offer.scraped_at"), lit("")).as("t"),
        coalesce(col("offer.url"), lit("")).as("u")))

    val globallyDeduped = if (dedupGlobal) {
      val w = Window.partitionBy(col("offer.source"), col("offer.price"), col("offer.url"))
        .orderBy(col("ord"))
      exploded.withColumn("grn", row_number().over(w)).where(col("grn") === 1).drop("grn")
    } else exploded

    // per-product (source,url) dedup is a REDUCTION (keep the min-ord row
    // per key), so when enabled it runs as a hash aggregation FIRST:
    // partial aggregation dedups map-side, and the wide rows that the
    // fold would discard anyway never enter a shuffle. A dedup-skipped
    // row contributes nothing to the fold (name/specs/sources/timestamps
    // included — MergeProductRows skips it wholesale), and the min-ord
    // row of a key is never skipped, so this is exactly the fold's own
    // dedup executed earlier. At real scrape fan-in (the same offer seen
    // across many runs) the collect shuffle shrinks by the dup factor;
    // the fold's in-pass dedup stays on as an idempotent guard.
    val preDeduped = if (dedupPerProduct) {
      val payload = struct(
        col("ord"), col("brand"), col("model"), col("product_name"),
        col("category"), col("specifications"), col("sources"),
        col("created_at"), col("last_updated"), col("offer"))
      globallyDeduped
        .groupBy(col("product_id"),
          col("offer.source").as("__k_src"), col("offer.url").as("__k_url"))
        // graft MinByOrd, not the built-in min_by: a struct-valued min_by
        // buffer is not UnsafeRow-mutable, so Spark would run the whole
        // pre-dedup as a SortAggregate (full sort of every offer row);
        // the typed-imperative form hash-aggregates with O(1) group state
        // and only materializes the wide payload when a row wins its key
        .agg(graft.functions.MinByOrd.minBy(col("ord"), payload).as("w"))
        .select(col("product_id"), col("w.p.ord").as("ord"), col("w.p.brand").as("brand"),
          col("w.p.model").as("model"), col("w.p.product_name").as("product_name"),
          col("w.p.category").as("category"), col("w.p.specifications").as("specifications"),
          col("w.p.sources").as("sources"), col("w.p.created_at").as("created_at"),
          col("w.p.last_updated").as("last_updated"), col("w.p.offer").as("offer"))
    } else globallyDeduped

    // one hash aggregation collects the per-product rows; the whole fold
    // (ord sort, per-product (source,url) dedup, longest-name tie-break,
    // first-non-null spec merge, encounter-order source union, min/max
    // timestamps) is the compiled single-pass MergeProductRows
    // expression. (The GLOBAL dedup key spans products, so that one
    // stays a window when enabled.) The previous column formulation
    // (lambda-comparator array_sort + five higher-order chains) evaluated
    // an interpreted expression tree per element and dominated the merge
    // stage at offers-per-product fan-in.
    preDeduped
      .groupBy("product_id")
      .agg(collect_list(struct(
        col("ord"), col("brand"), col("model"), col("product_name").as("name"),
        col("category"), col("specifications").as("specs"), col("sources"),
        col("created_at"), col("last_updated"), col("offer"))).as("rows"))
      .select(col("product_id"),
        graft.functions.MergeProductRows.column(col("rows"), dedupPerProduct).as("m"))
      .select(col("product_id"), col("m.brand"), col("m.model"),
        col("m.product_name"), col("m.category"), col("m.specifications"),
        col("m.offers"), col("m.sources"), col("m.created_at"), col("m.last_updated"))
  }
}
