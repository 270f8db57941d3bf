package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Deterministic scale-up generator for bench data beyond the driver's
  * sf0.1 (bench tooling, not part of the library surface).
  *
  * Mirrors the driver's synthetic-table distributions (TESTDATA.md;
  * profiled from sf0.1) at an arbitrary scale factor: TPC-H-ish star
  * schema + events + documents + embeddings. Every row is a pure
  * function of its id (per-row seeded PRNG inside mapPartitions), so
  * output is identical under any partitioning, and FRESH rows are
  * generated rather than replicating sf0.1 — replication would plant
  * cross-replica near-duplicate documents/vectors and inflate every
  * pair-generating operator quadratically instead of scaling the way
  * real corpora do.
  *
  * Faithfully reproduced structure: doc near/exact-dup families
  * (adjacent-id seeds, ~2%/~0.16%), embedding cluster structure
  * (10 labeled Gaussians, dim 64) with planted near-dup vectors,
  * uniform categorical mixes, and the column types the engine + DuckDB
  * oracle both read. One deliberate exception: events.ts is written as
  * BIGINT epoch-nanos and re-typed to parquet timestamp[ns] by
  * scripts/make_scale.py afterwards (Spark cannot write ns timestamps;
  * the engine reads ns via nanosAsLong as longs, DuckDB needs
  * TIMESTAMP_NS — both match sf0.1 after the re-type).
  *
  * Usage: runMain graft.tools.ScaleGen <outDir> <sf>   (sf=1.0 → 10x sf0.1)
  */
object ScaleGen extends Serializable {

  // the 31-word vocabulary of the driver's documents table (sf0.1 scan)
  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "broadcast", "column", "customer", "fast", "filter",
    "group", "hash", "join", "key", "line", "node", "order", "part",
    "partition", "plan", "query", "row", "scan", "shuffle", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector")

  private val Segments = Array("MACHINERY", "HOUSEHOLD", "BUILDING", "AUTOMOBILE", "FURNITURE")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val PartAdjs = Array("large", "hot", "blue", "old", "red", "green", "small", "new", "cold", "dark")
  private val PartNouns = Array("ring", "bolt", "plate", "tube", "wheel", "case", "cap", "box", "rod", "pin")
  private val PartTypes = Array("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")

  /** Per-id PRNG: id is mixed through splitmix64 so consecutive ids do
    * not share java.util.Random's lattice artifacts. */
  private def rngFor(salt: Long, id: Long): Random = {
    var z = salt * 0x9e3779b97f4a7c15L + id
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new Random(z ^ (z >>> 31))
  }

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  // ---- planted-structure replay API (ScaleCheck's independent oracle) ----
  // Every documents row is a pure function of its id, so a checker can
  // regenerate the corpus and its planted dup structure without reading
  // the parquet it is auditing. These ARE the generator (main calls them).

  /** The base token sequence seeded at `seedId` (before dup planting).
    * `wide = true` draws each token from a 50k-word synthetic vocabulary
    * instead of the driver's 31 words — same length distribution and
    * planted-dup structure, but DISCRIMINATIVE n-grams: two unrelated
    * documents almost never share a bigram, so an eval set's gram
    * vocabulary does NOT flood the corpus (the regime where the Bloom-
    * reduced decontamination join is the right plan — the router branch
    * the base corpus can never exercise; r11 verdict item 4). */
  def docTokens(seedId: Long, wide: Boolean = false): Array[String] = {
    val r = rngFor(7, seedId)
    if (wide) Array.fill(10 + r.nextInt(91))("w" + r.nextInt(50000))
    else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
  }

  /** 0 = fresh text, 1 = planted exact dup of id−1, 2 = planted near dup
    * of id−1 (one token swapped — which may still land on the same token,
    * so kind 2 does not guarantee inequality; replay the texts to know). */
  def docKind(id: Long): Int = {
    val roll = rngFor(8, id).nextInt(10000)
    if (id > 0 && roll < 16) 1 else if (id > 0 && roll < 216) 2 else 0
  }

  /** The full documents row for `id`: (doc_id, text, lang, source, n_chars).
    * The `wide` flag switches the token source (see [[docTokens]]); dup
    * planting, lang/source draws and the length distribution are shared,
    * so a wide corpus has the same planted structure at the same ids. */
  def docRow(id: Long, wide: Boolean = false): (Long, String, String, String, Long) = {
    val r = rngFor(8, id)
    val roll = r.nextInt(10000)
    val toks =
      if (id > 0 && roll < 16) docTokens(id - 1, wide) // exact dup of previous
      else if (id > 0 && roll < 216) { // near dup: one token swapped
        val t = docTokens(id - 1, wide).clone()
        t(r.nextInt(t.length)) =
          if (wide) "w" + r.nextInt(50000) else Vocab(r.nextInt(Vocab.length))
        t
      } else docTokens(id, wide)
    val lang = {
      val p = rngFor(9, id).nextInt(1000)
      if (p < 412) "en" else if (p < 562) "zh" else if (p < 712) "es"
      else if (p < 861) "fr" else "de"
    }
    val text = toks.mkString(" ")
    (id, text, lang, s"src${rngFor(10, id).nextInt(20)}", text.length.toLong)
  }

  // ---- embeddings replay API (AnnScaleCheck's independent oracle) ----
  // Same pure-function-of-id contract as docRow: main() calls these, so
  // a checker can regenerate any fixture's vectors and planted near-dup
  // structure without reading the parquet it audits.

  private val EmbDim = 64

  /** The 10 cluster centers (pure function of the label). */
  private[tools] def embCenter(label: Int): Array[Float] = {
    val r = rngFor(11, label.toLong)
    Array.fill(EmbDim)((r.nextGaussian() * 0.3).toFloat)
  }
  private lazy val EmbCenters: Array[Array[Float]] =
    Array.tabulate(10)(embCenter)

  /** The base (label, vector) seeded at `seedId` (before dup planting). */
  private def vecFor(seedId: Long): (Int, Array[Float]) = {
    val r = rngFor(12, seedId)
    val label = r.nextInt(10)
    (label, EmbCenters(label).map(c => c + (r.nextGaussian() * 0.1).toFloat))
  }

  /** true iff row `id` is a planted near-dup of id−1 (same label, +0.001
    * noise on every component). */
  def vecKindNearDup(id: Long): Boolean =
    id > 0 && rngFor(13, id).nextInt(10000) < 200

  /** The full embeddings row for `id`: (vec_id, embedding, label). */
  def vecRow(id: Long): (Long, Array[Float], Int) = {
    val r = rngFor(13, id)
    val (label, vec) =
      if (id > 0 && r.nextInt(10000) < 200) {
        val (l, v) = vecFor(id - 1)
        (l, v.map(x => x + (r.nextGaussian() * 0.001).toFloat))
      } else vecFor(id)
    (id, vec, label)
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    // optional third arg: comma-separated table names — generate only
    // those (the sf10 heavy-dedup runs need just `documents`; a 60M-row
    // lineitem would be generated and never read)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    // SPARK_GRAFT_DOC_VOCAB=wide: documents draw from the 50k-word
    // discriminative vocabulary (decontamination-router fixtures); the
    // default replicates the driver's 31-word flooded vocabulary
    val wideVocab = sys.env.get("SPARK_GRAFT_DOC_VOCAB").contains("wide")
    val spark = graft.SparkEntry.session()
    import spark.implicits._

    val nCustomer = (150000 * sf).toLong
    val nSupplier = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val par = 64

    def write(df: DataFrame, name: String): Unit = {
      // single file per table, like the driver's layout (readers glob
      // <dir>/<name>.parquet as one path). repartition, not coalesce:
      // coalesce(1) would collapse the upstream generation to one task
      val staging = s"$outDir/_stage_$name"
      df.repartition(1).write.mode(SaveMode.Overwrite).parquet(staging)
      val dir = new java.io.File(staging)
      val part = dir.listFiles().find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(s"$outDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"[scalegen] $name: ${spark.read.parquet(dst.toString).count()} rows")
    }

    // region + nation are fixed-size: copy the driver's verbatim
    for (t <- Seq("region", "nation") if wanted(t))
      write(spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet"), t)

    if (wanted("customer")) write(spark.range(0, nCustomer, 1, par).map { id =>
      val r = rngFor(1, id)
      (id, f"Customer#$id%09d", r.nextInt(25), round2(-1000.0 + r.nextDouble() * 11000.0),
        Segments(r.nextInt(5)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")

    if (wanted("supplier")) write(spark.range(0, nSupplier, 1, par).map { id =>
      val r = rngFor(2, id)
      (id, f"Supplier#$id%09d", r.nextInt(25), round2(-1000.0 + r.nextDouble() * 11000.0))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")

    if (wanted("part")) write(spark.range(0, nPart, 1, par).map { id =>
      val r = rngFor(3, id)
      (id, s"${PartAdjs(r.nextInt(PartAdjs.length))} ${PartNouns(r.nextInt(PartNouns.length))}",
        s"Brand#${r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), round2(900.0 + r.nextDouble() * 100.0))
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")

    val epoch1995 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val orderSpanDays = 2404 // 1995-01-01 .. 2001-08-01, as at sf0.1

    if (wanted("orders")) write(spark.range(0, nOrders, 1, par).map { id =>
      val r = rngFor(4, id)
      (id, math.abs(r.nextLong()) % nCustomer, "FOP".charAt(r.nextInt(3)).toString,
        round2(1000.0 + r.nextDouble() * 499000.0),
        new java.sql.Timestamp(epoch1995 + r.nextInt(orderSpanDays).toLong * 86400000L),
        Priorities(r.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority"), "orders")

    // lineitem: 1..7 lines per order (avg ~4), FKs within the scaled dims.
    if (wanted("lineitem")) write(spark.range(0, nOrders, 1, par).flatMap { id =>
      val r = rngFor(5, id)
      // replay orders' draw sequence so l_shipdate really follows THIS
      // order's o_orderdate (custkey, status, totalprice drawn first)
      val or = rngFor(4, id)
      or.nextLong(); or.nextInt(3); or.nextDouble()
      val orderDate = epoch1995 + or.nextInt(orderSpanDays).toLong * 86400000L
      val nLines = 1 + r.nextInt(7)
      (1 to nLines).map { ln =>
        (id, math.abs(r.nextLong()) % nPart, math.abs(r.nextLong()) % nSupplier, ln,
          (1 + r.nextInt(50)).toDouble,
          round2(900.0 + r.nextDouble() * 104100.0),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
          new java.sql.Timestamp(orderDate + (1 + r.nextInt(95)).toLong * 86400000L))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"), "lineitem")

    // events: same 30-day window as sf0.1 at 10x the rate; ts as epoch-ns
    // BIGINT (re-typed to parquet timestamp[ns] by scripts/make_scale.py)
    val evBase = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000000L
    val evSpanNs = 30L * 86400L * 1000000000L
    if (wanted("events")) write(spark.range(0, nEvents, 1, par).map { id =>
      val r = rngFor(6, id)
      (id, evBase + math.abs(r.nextLong()) % evSpanNs, math.abs(r.nextLong()) % nUsers,
        EventTypes(r.nextInt(5)), round2(r.nextDouble() * 561.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    // documents: fresh word-salad over the driver's 31-word vocabulary,
    // 10..100 tokens; ~2% near-dup of the previous doc (one token swapped)
    // and ~0.16% exact dup — the adjacent-id seed keeps families intact
    // at every sf without cross-family contamination. Row generation
    // lives in [[docRow]] so ScaleCheck replays the identical corpus.
    if (wanted("documents")) write(
      spark.range(0, nDocs, 1, par).map(id => docRow(id, wideVocab))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    // embeddings: 10 labeled Gaussian clusters in dim 64 (center scale
    // ~0.3, noise 0.1, matching sf0.1 magnitudes); ~2% planted near-dups
    // of the previous vector (same label, +0.001 noise). Row generation
    // lives in [[vecRow]] so AnnScaleCheck replays the identical vectors.
    if (wanted("embeddings")) write(
      spark.range(0, nVecs, 1, par).map(id => vecRow(id))
        .toDF("vec_id", "embedding", "label"), "embeddings")

    spark.stop()
  }
}
