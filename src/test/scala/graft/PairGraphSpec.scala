package graft

import graft.operators.{Dedup, PairGraph}
import org.apache.spark.sql.functions._

/** The materialize-once near-dup pair-graph artifact: identity with the
  * direct computation, in-process reuse, disk round-trip and staleness
  * invalidation. */
class PairGraphSpec extends SparkSuite {
  import spark.implicits._

  private val p = PairGraph.Params(bands = 4, rowsPerBand = 2,
    threshold = 0.2, shingleN = 2)

  private def corpus() = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "entirely different text about spark shuffles and joins"),
    (4L, "the quick brown fox jumps over the lazy dog"),
    (5L, "completely unrelated words nothing shared here at all")
  ).toDF("doc_id", "text")

  test("pairs match Dedup.neardupPairs exactly (the artifact changes " +
      "where pairs are kept, never what they are)") {
    PairGraph.clearInProcess()
    val direct = Dedup.neardupPairs(corpus(), "text", "doc_id", p.bands,
        p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket, p.adaptiveMinDocs)
      .collect().map(_.toSeq).toSet
    val viaGraph = PairGraph.pairs(corpus(), "text", "doc_id",
        corpusKey = "test#corpus1", p, cacheDir = None)
      .collect().map(_.toSeq).toSet
    assert(viaGraph == direct && direct.nonEmpty)
  }

  test("in-process cache: same (corpusKey, params) returns the same " +
      "materialized frame; different key or params computes fresh") {
    PairGraph.clearInProcess()
    val a = PairGraph.pairs(corpus(), "text", "doc_id", "test#reuse", p, None)
    val b = PairGraph.pairs(corpus(), "text", "doc_id", "test#reuse", p, None)
    assert(a eq b) // the SAME DataFrame — consumers share one lineage
    val c = PairGraph.pairs(corpus(), "text", "doc_id", "test#other", p, None)
    assert(!(a eq c))
    val d = PairGraph.pairs(corpus(), "text", "doc_id", "test#reuse",
      p.copy(threshold = 0.5), None)
    assert(!(a eq d))
  }

  test("cache identity includes the column names: same corpusKey over " +
      "different text/id columns must NOT share pairs") {
    PairGraph.clearInProcess()
    val two = corpus().withColumn("alt_text",
      concat(lit("prefix "), col("text")))
    val a = PairGraph.pairs(two, "text", "doc_id", "test#cols", p, None)
    val b = PairGraph.pairs(two, "alt_text", "doc_id", "test#cols", p, None)
    assert(!(a eq b)) // different textCol → different artifact
    // and the alt-column pairs really are the alt-column computation
    val directAlt = Dedup.neardupPairs(two, "alt_text", "doc_id", p.bands,
        p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket, p.adaptiveMinDocs)
      .collect().map(_.toSeq).toSet
    assert(b.collect().map(_.toSeq).toSet == directAlt)
  }

  test("concurrent first callers compute the artifact exactly once and " +
      "receive the identical frame (memo cell, not getOrElseUpdate races)") {
    PairGraph.clearInProcess()
    val before = PairGraph.computeCount.get()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val fs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            gate.await() // maximize the chance both hit the empty map
            PairGraph.pairs(corpus(), "text", "doc_id",
              "test#concurrent", p, None)
          }
        })
      }
      val Seq(a, b) = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(a eq b, "both first callers must get the winner's frame")
      assert(PairGraph.computeCount.get() - before == 1,
        "the pairs pipeline must run exactly once under a concurrent first call")
    } finally pool.shutdownNow()
  }

  test("session eviction drops that session's entries (the listener path " +
      "calls this on application end)") {
    PairGraph.clearInProcess()
    val a = PairGraph.pairs(corpus(), "text", "doc_id", "test#evict", p, None)
    assert(PairGraph.pairs(corpus(), "text", "doc_id", "test#evict", p, None) eq a)
    PairGraph.evictSession(spark)
    val b = PairGraph.pairs(corpus(), "text", "doc_id", "test#evict", p, None)
    assert(!(a eq b)) // recomputed: the evicted entry is gone
  }

  test("disk cache: second process-equivalent read loads the parquet " +
      "artifact; a changed corpus row count invalidates it") {
    val root = tempDir("pairgraph")
    PairGraph.clearInProcess()
    val first = PairGraph.pairs(corpus(), "text", "doc_id", "test#disk", p,
      cacheDir = Some(root)).collect().map(_.toSeq).toSet
    // the artifact landed on disk
    val sub = new java.io.File(root).listFiles().filter(_.isDirectory)
    assert(sub.length == 1)
    val manifest = new java.io.File(sub.head, "manifest.json")
    assert(manifest.exists())
    val stamp1 = scala.io.Source.fromFile(manifest).mkString

    // simulate a NEW process: clear the in-process layer, read again —
    // must load (manifest untouched), and must match
    PairGraph.clearInProcess()
    val second = PairGraph.pairs(corpus(), "text", "doc_id", "test#disk", p,
      cacheDir = Some(root)).collect().map(_.toSeq).toSet
    assert(second == first)
    assert(scala.io.Source.fromFile(manifest).mkString == stamp1)

    // a corpus with a different row count under the same key is STALE:
    // the artifact is recomputed (manifest rewritten) and reflects the
    // new corpus
    PairGraph.clearInProcess()
    val shrunk = corpus().where(col("doc_id") =!= 4L)
    val third = PairGraph.pairs(shrunk, "text", "doc_id", "test#disk", p,
      cacheDir = Some(root)).collect().map(_.toSeq).toSet
    val directShrunk = Dedup.neardupPairs(shrunk, "text", "doc_id", p.bands,
        p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket, p.adaptiveMinDocs)
      .collect().map(_.toSeq).toSet
    assert(third == directShrunk && third != first)
    assert(scala.io.Source.fromFile(manifest).mkString != stamp1)
  }

  test("id-set digest: a corpus edited at CONSTANT row count but with " +
      "churned ids misses and recomputes; a digest-less artifact is " +
      "refused by a digest-carrying reader") {
    import graft.operators.FrameDiskCache
    val root = tempDir("pairgraph-digest")
    // a digest-less manifest under the pair artifact's own key — the
    // shape GroupStats writes (no id column to attest). Its data is an
    // EMPTY pair set, so serving it would show in the output too.
    val direct = Dedup.neardupPairs(corpus(), "text", "doc_id", p.bands,
        p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket, p.adaptiveMinDocs)
    FrameDiskCache.loadOrCompute(spark, root,
      p.cacheKey("test#digest", "text", "doc_id"), corpus().count(),
      "pairs.parquet", idDigest = None)(direct.limit(0))
    val sub = new java.io.File(root).listFiles().filter(_.isDirectory)
    assert(sub.length == 1)
    val manifest = new java.io.File(sub.head, "manifest.json")
    val stamp0 = scala.io.Source.fromFile(manifest).mkString
    assert(!stamp0.contains("id_digest"))

    // the digest-carrying reader refuses the unattested artifact and
    // recomputes with the digest recorded
    PairGraph.clearInProcess()
    val attested = PairGraph.pairs(corpus(), "text", "doc_id",
      "test#digest", p, cacheDir = Some(root)).collect().map(_.toSeq).toSet
    assert(attested == direct.collect().map(_.toSeq).toSet && attested.nonEmpty)
    val stamp1 = scala.io.Source.fromFile(manifest).mkString
    assert(stamp1.contains("id_digest") && stamp1 != stamp0)

    // unchanged corpus: hit (manifest untouched)
    PairGraph.clearInProcess()
    val again = PairGraph.pairs(corpus(), "text", "doc_id",
      "test#digest", p, cacheDir = Some(root)).collect().map(_.toSeq).toSet
    assert(again == attested)
    assert(scala.io.Source.fromFile(manifest).mkString == stamp1)

    // the r15-verdict staleness gap: SAME row count, one id swapped
    // (the exact-dup doc 4 becomes doc 6 — row count 5 either way).
    // Row-count-only validation served the stale artifact here; the
    // digest must miss and recompute against the edited corpus.
    PairGraph.clearInProcess()
    val edited = corpus().withColumn("doc_id",
      when(col("doc_id") === 4L, 6L).otherwise(col("doc_id")))
    assert(edited.count() == corpus().count())
    val third = PairGraph.pairs(edited, "text", "doc_id",
      "test#digest", p, cacheDir = Some(root)).collect().map(_.toSeq).toSet
    val directEdited = Dedup.neardupPairs(edited, "text", "doc_id",
        p.bands, p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket,
        p.adaptiveMinDocs)
      .collect().map(_.toSeq).toSet
    assert(third == directEdited && third != attested,
      "digest must catch the constant-row-count id churn")
    assert(scala.io.Source.fromFile(manifest).mkString != stamp1)
  }

  test("digest xor-cancellation closed: swapping a PAIR of duplicate ids " +
      "(xor cancels) still misses via the sum digest") {
    val root = tempDir("pairgraph-digest-sum")
    // two rows SHARE id 4 — the duplicate-id corpus where an id swap
    // (both 4s → both 6s) leaves bit_xor unchanged: h(4)⊕h(4) = 0 =
    // h(6)⊕h(6). Row count is constant too. Only the modular-sum
    // aggregate moves (by 2·(h(6)−h(4)) mod 2⁶⁴).
    def dupCorpus(id: Long) = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (id, "entirely different text about spark shuffles and joins"),
      (id, "the quick brown fox jumps over the lazy dog"),
      (5L, "completely unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    PairGraph.clearInProcess()
    val first = PairGraph.pairs(dupCorpus(4L), "text", "doc_id",
      "test#xorcancel", p, cacheDir = Some(root)).collect().map(_.toSeq).toSet
    // sanity: the xor really does cancel on this edit (the blind spot
    // this test pins closed), while the sum moves
    val (n4, d4) = graft.operators.FrameDiskCache.countAndDigest(
      dupCorpus(4L), "doc_id")
    val (n6, d6) = graft.operators.FrameDiskCache.countAndDigest(
      dupCorpus(6L), "doc_id")
    assert(n4 == n6 && d4.xorHash == d6.xorHash,
      "fixture must xor-cancel — ids no longer duplicated?")
    assert(d4.sumHash != d6.sumHash)
    PairGraph.clearInProcess()
    val swapped = PairGraph.pairs(dupCorpus(6L), "text", "doc_id",
      "test#xorcancel", p, cacheDir = Some(root)).collect().map(_.toSeq).toSet
    val directSwapped = Dedup.neardupPairs(dupCorpus(6L), "text", "doc_id",
        p.bands, p.rowsPerBand, p.threshold, p.shingleN, p.maxBucket,
        p.adaptiveMinDocs)
      .collect().map(_.toSeq).toSet
    assert(swapped == directSwapped && swapped != first,
      "sum digest must catch the xor-cancelling duplicate-pair swap")
  }

  test("manifest validation is parsed JSON, not substring search: a key " +
      "whose text embeds another field's serialization cannot satisfy it") {
    import graft.operators.FrameDiskCache
    val root = tempDir("pairgraph-manifest-json")
    // the ADVICE shape: the quoted key is part of the manifest text, so
    // under substring matching a key embedding '"corpus_rows":42,'
    // satisfied the row-count check for corpusRows=42 regardless of the
    // manifest's true corpus_rows field
    val evilKey = """k1|"corpus_rows":42,|"id_digest":7,|"id_digest_sum":9,"""
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    FrameDiskCache.loadOrCompute(spark, root, evilKey, corpusRows = 5L,
      "data.parquet")(df)
    // true rows (5) still hit; the embedded 42 must NOT
    assert(FrameDiskCache.load(spark, root, evilKey, 5L, "data.parquet").isDefined)
    assert(FrameDiskCache.load(spark, root, evilKey, 42L, "data.parquet").isEmpty)
    // embedded digest text cannot attest a digest either
    assert(FrameDiskCache.load(spark, root, evilKey, 5L, "data.parquet",
      Some(FrameDiskCache.IdDigest(7L, 9L))).isEmpty)
    // a digest-carrying reader refuses an OLD xor-only manifest (id set
    // never fully attested under the two-aggregate scheme)
    val dir = new java.io.File(root).listFiles().filter(_.isDirectory).head
    val mf = new java.io.File(dir, "manifest.json")
    val (_, trueDigest) = FrameDiskCache.countAndDigest(df, "id")
    def rewrite(content: String): Unit = {
      // drop the local-FS checksum sibling too, or the hand-edited
      // manifest fails the Hadoop CRC on read instead of parsing
      new java.io.File(dir, ".manifest.json.crc").delete()
      java.nio.file.Files.write(mf.toPath, content.getBytes("UTF-8"))
    }
    rewrite(s"""{"key":${"\"" + evilKey.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""},"corpus_rows":5,""" +
      s""""id_digest":${trueDigest.xorHash},"created_ms":1}""")
    assert(FrameDiskCache.load(spark, root, evilKey, 5L, "data.parquet",
      Some(trueDigest)).isEmpty)
    // while a digest-less reader still accepts it (safe-direction interop)
    assert(FrameDiskCache.load(spark, root, evilKey, 5L, "data.parquet").isDefined)
    // a corrupt manifest is a MISS, not an error
    rewrite("{not json")
    assert(FrameDiskCache.load(spark, root, evilKey, 5L, "data.parquet").isEmpty)
  }
}
