package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-process artifact persistence shared by [[PairGraph]] (near-dup
  * pairs) and [[GroupStats]] (the anomaly family's stats table): an
  * artifact directory `<root>/<md5(key)>/` holding the parquet data and
  * a JSON manifest recording the full cache key and the corpus row count
  * it was computed from. On a cluster this would be a table in the
  * lakehouse keyed by corpus snapshot id; here it is a directory.
  *
  * Staleness: the manifest's `corpus_rows` is re-validated on load — a
  * cheap one-column scan (the caller supplies the count) that catches
  * the common case of data regenerated in place at a different size,
  * without paying a content hash of 100 TB. Artifacts keyed on an id
  * column (the pair graphs) also record an order-insensitive ID-SET
  * DIGEST — bit_xor AND modular sum of
  * xxhash64(id), computed in the SAME pruned scan as the count
  * ([[countAndDigest]]) — which additionally catches a corpus edited
  * in place at CONSTANT row count whenever the edit churns the id
  * multiset (regenerated snapshots, appended + trimmed corpora). The
  * two aggregates cover each other's blind spots: an edit that swaps
  * PAIRS of duplicate ids xor-cancels but moves the sum (2·(h_new −
  * h_old) mod 2⁶⁴ — zero only if the hash delta is exactly 2⁶³), and
  * a sum-preserving swap (ids whose hash deltas cancel) trips the xor.
  * Still a staleness tripwire, not a content hash: an edit that only
  * rewrites payloads under unchanged ids passes — for that, clearing
  * the cache dir when the snapshot changes remains the caller's
  * contract. Price: the id column is actually read (a bare count over
  * parquet is served from footers), once per lookup, and only when a
  * cache dir is set.
  *
  * Concurrency: SINGLE WRITER per key (a pipeline materializes each
  * corpus snapshot's artifact once); concurrent readers are safe — the
  * manifest is written via temp-file + atomic rename AFTER the parquet
  * commit, so a reader either sees the complete artifact or no manifest
  * at all. An md5 collision or key mismatch recomputes rather than
  * serving the wrong artifact.
  */
private[graft] object FrameDiskCache {

  /** The order-insensitive id-multiset digest: bit_xor and modular
    * (mod 2⁶⁴) sum of xxhash64(id). Both must match on load. */
  final case class IdDigest(xorHash: Long, sumHash: Long)

  /** Load-only: the artifact for `key` if a committed, key- and
    * row-count-matching manifest exists; None otherwise (never computes).
    * Lets a DERIVED tier serve itself as a projection of a richer
    * persisted artifact — e.g. the moments tier off a full stats table
    * another process materialized — without adopting the richer tier's
    * compute obligation on a miss. */
  def load(sess: SparkSession, root: String, key: String,
           corpusRows: Long, dataName: String,
           idDigest: Option[IdDigest] = None): Option[DataFrame] = {
    val dir = new Path(root, md5(key))
    val fs = dir.getFileSystem(sess.sparkContext.hadoopConfiguration)
    val manifestPath = new Path(dir, "manifest.json")
    val dataPath = new Path(dir, dataName)
    if (fs.exists(manifestPath) && fs.exists(dataPath)) {
      val in = fs.open(manifestPath)
      val manifest = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      // parsed as JSON and matched field-by-field — a substring match
      // would let a key whose TEXT embeds '"corpus_rows":<n>,' satisfy
      // another field's check spuriously (the quoted key is part of the
      // searched text). A syntactically broken manifest is a miss, not
      // an error: recompute-and-rewrite is the safe direction.
      val node = try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(manifest)
      catch { case scala.util.control.NonFatal(_) => null }
      def longField(name: String): Option[Long] = Option(node)
        .map(_.path(name)).filter(_.isIntegralNumber).map(_.asLong())
      val keyOk = node != null && node.path("key").isTextual &&
        node.path("key").asText() == key
      val countOk = longField("corpus_rows").contains(corpusRows)
      // a digest-carrying caller refuses BOTH a mismatching digest and a
      // manifest written without one — or with only the pre-sum xor
      // field (the old artifact's id set was never fully attested —
      // recompute rather than trust it); a caller without a digest
      // (GroupStats, which has no id column) ignores the fields
      val digestOk = idDigest.forall(d =>
        longField("id_digest").contains(d.xorHash) &&
          longField("id_digest_sum").contains(d.sumHash))
      if (keyOk && countOk && digestOk) Some(sess.read.parquet(dataPath.toString))
      else None // md5 collision, stale snapshot, or id-set churn
    } else None
  }

  /** Load the artifact for `key` from `root` if its manifest matches
    * (key + corpusRows); otherwise run `compute`, persist, commit the
    * manifest, and return the read-back frame (so the caller's lineage
    * is the parquet scan either way). */
  def loadOrCompute(sess: SparkSession, root: String, key: String,
                    corpusRows: Long, dataName: String,
                    idDigest: Option[IdDigest] = None)
                   (compute: => DataFrame): DataFrame = {
    val dir = new Path(root, md5(key))
    val fs = dir.getFileSystem(sess.sparkContext.hadoopConfiguration)
    val manifestPath = new Path(dir, "manifest.json")
    val dataPath = new Path(dir, dataName)
    load(sess, root, key, corpusRows, dataName, idDigest).getOrElse {
      compute.write.mode("overwrite").parquet(dataPath.toString)
      // manifest LAST and atomically (temp + rename): its presence is the
      // commit marker a concurrent reader keys on — never visible over a
      // half-written artifact, never itself readable half-written
      val tmpPath = new Path(dir, s".manifest.json.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmpPath, true)
      val digestField = idDigest.map(d =>
        s""""id_digest":${d.xorHash},"id_digest_sum":${d.sumHash},""").getOrElse("")
      try out.write(
        (s"""{"key":${quote(key)},"corpus_rows":$corpusRows,$digestField""" +
          s""""created_ms":${System.currentTimeMillis()}}""").getBytes("UTF-8"))
      finally out.close()
      fs.delete(manifestPath, false)
      if (!fs.rename(tmpPath, manifestPath))
        throw new java.io.IOException(
          s"artifact-cache manifest rename failed: $tmpPath -> $manifestPath")
      sess.read.parquet(dataPath.toString)
    }
  }

  /** Corpus row count + the order-insensitive id-set digest, in ONE
    * column-pruned scan — callers were already paying the count scan;
    * the digest rides the same aggregate. bit_xor and sum of
    * xxhash64(id) are both partition-order-independent (xor and
    * addition commute), so the digest is a pure function of the id
    * MULTISET regardless of layout. The sum runs in decimal(38,0) —
    * exact at any corpus size (38 digits ≥ 10¹⁹·rows for any real
    * corpus) where a long sum would overflow, which ANSI mode turns
    * into a job-killing error — and is folded to mod 2⁶⁴ on the driver
    * (BigInteger.longValue keeps exactly the low 64 bits). */
  def countAndDigest(df: DataFrame, idCol: String): (Long, IdDigest) = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(col(idCol))
    val r = df.select(col(idCol))
      .agg(count(lit(1)), bit_xor(h), sum(h.cast("decimal(38,0)"))).head()
    val xorHash = if (r.isNullAt(1)) 0L else r.getLong(1)
    val sumHash =
      if (r.isNullAt(2)) 0L else r.getDecimal(2).toBigInteger.longValue
    (r.getLong(0), IdDigest(xorHash, sumHash))
  }

  private def md5(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
