package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, fingerprinting, PII redaction and the stopword lists
  * (language id and quality scoring are [[TextStats]]).
  *
  * All pure column expressions (codegen'd; run inside the scan stage at
  * 100 TB — no shuffle, no UDF). Hash primitives deliberately use md5
  * (identical bytes in every engine) so results are verifiable against an
  * external SQL oracle; at production scale swap md5 for xxhash64.
  */
object TextFunctions {

  /** Normalize text: lowercase, strip non-alphanumerics to single spaces. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(coalesce(c, lit(""))), "[^a-z0-9]+", " "))

  /** Whitespace tokens of normalized text (empty text → empty array). */
  def tokens(c: Column): Column = {
    val n = normalizeText(c)
    when(n === "", array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: word pieces + standalone punctuation, the usual
    * pre-tokenizer regex shape (letters | digits | single non-space symbol). */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(coalesce(c, lit("")), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles of the normalized text, as an array of strings.
    * Documents shorter than n words shingle to the whole text. */
  def shingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    val k = size(toks)
    when(k <= n, array(concat_ws(" ", toks))).otherwise(
      transform(sequence(lit(0), k - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Deterministic 64-bit-ish hash of a string: first 16 hex chars of md5.
    * Portable across engines (string compare == unsigned numeric compare). */
  def md5_16(c: Column): Column = substring(md5(c), 1, 16)

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text —
    * the exact-dedup key that survives formatting noise. */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  // --- PII detection / redaction (training-data scrubbing) ---------------

  /** Portable PII patterns (same regex text runs in Java and RE2). */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpRe = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PiiPhoneRe = "\\+?[0-9][0-9 -]{7,13}[0-9]"

  /** Count PII matches of one pattern (full-match counting). */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(coalesce(c, lit("")), lit(pattern), lit(0)))

  /** Redact PII in place: emails, then IPv4s, then phone-shaped digit
    * runs (order matters — emails/IPs contain digits a phone pattern
    * could otherwise split). Pure codegen'd regexp_replace chain: runs
    * inside the scan stage at any scale. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(coalesce(c, lit("")), PiiEmailRe, "<EMAIL>"),
        PiiIpRe, "<IP>"),
      PiiPhoneRe, "<PHONE>")

  // --- stopword lists (language id and quality scoring in TextStats) -----

  val StopwordsEn = Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with")
  val StopwordsFr = Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que")
  val StopwordsEs = Seq("el", "los", "las", "y", "en", "es", "por", "con", "para", "del")
}
