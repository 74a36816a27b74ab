package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (BASELINE.json north star). All are pure `org.apache.spark.sql.functions`
  * compositions — codegen'd, no UDFs, fully pushdown/prune-friendly — and
  * each has an exact ANSI-SQL equivalent so the DuckDB oracle can replay the
  * same arithmetic bit-for-bit.
  */
object TextFunctions {

  /** Whitespace tokens with empties removed (split on single space — the
    * corpus is single-space separated; empty filter handles edge runs).
    */
  /** NULL-text convention: tokenizes to the EMPTY array (coalesce at the
    * source). A raw split(null) propagates a null array, and composites
    * like [[shingles]] then build arrays with NULL ELEMENTS — which crash
    * compiled expressions (UTF8String.getBytes on a null element) deep in
    * whatever operator touches them first. Null text = no tokens, decided
    * once, here.
    */
  def tokens(text: Column): Column =
    filter(split(coalesce(text, lit("")), " "), t => t =!= lit(""))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Deterministic 60-bit token hash: first 15 hex chars of MD5, as a long.
    * MD5 is identical in every engine, so oracle SQL can reproduce this with
    * `('0x' || substring(md5(t),1,15))::BIGINT`. 60 bits keeps all downstream
    * modular arithmetic inside signed-64 range.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // --- variants over an already-materialized token array -------------------
  // HOF lambdas (split+filter) are interpreted, and CollapseProject refuses
  // to inline a non-cheap expression referenced more than once — so project
  // `tokens(text)` ONCE and derive every stat from that column. Queries that
  // need several stats per row (q30/q37) evaluate the tokenizer once per row
  // instead of once per stat.

  /** Type-token ratio from a token-array column. */
  def typeTokenRatioOf(toks: Column): Column =
    when(size(toks) > 0,
      round(size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6))

  /** Mean token length from a token-array column + precomputed char count
    * (`length(regexp_replace(text, " ", ""))` — one regexp pass per row).
    */
  def meanTokenLengthOf(toks: Column, nChar: Column): Column =
    when(size(toks) > 0,
      round(nChar.cast("double") / size(toks).cast("double"), 6))

  /** Tiny deterministic language-ID heuristic: stopword hit-rate against an
    * English function-word list. Real pipelines plug a model here; the engine
    * contract is the column shape + determinism, not linguistic accuracy.
    */
  val enStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def langGuess(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit("und"))
      .when(arrays_overlap(t, array(enStopwords.map(lit): _*)), lit("en"))
      .otherwise(lit("und"))
  }

  /** Document fingerprint: 128-bit MD5 of the exact text (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(text)

  /** BPE-ish pre-tokenizer: letter runs, digit runs, and punctuation runs as
    * separate tokens (the class structure a byte-pair encoder's pre-split
    * uses, minus the learned merges). Same regex dialect subset in Java and
    * RE2, so the oracle replays it verbatim.
    */
  val bpeSplitPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeSplitPattern), lit(0))

  /** Polynomial rolling hash (base 31, mod P=2^31-1) over the token
    * sequence's 60-bit hashes — the ORDER-SENSITIVE document fingerprint
    * (token-set fingerprints like [[fingerprint]]-of-sorted or SimHash are
    * permutation-blind; reordered plagiarism needs sequence sensitivity).
    * acc stays < P·31+P < 2^37: safe in signed-64 in every engine. Empty
    * token list → 0.
    */
  def rollingFingerprint(toks: Column): Column = {
    val P = 2147483647L
    aggregate(
      transform(toks, t => hash60(t) % P),
      lit(0L),
      (acc, h) => (acc * 31L + h) % P)
  }

  /** hash60 applied to every element of a string array. */
  def hash60Array(arr: Column): Column = transform(arr, hash60 _)

  /** Sliding word n-gram shingles ("a b c", window w): the unit set for
    * Jaccard/MinHash near-dup detection. Sequence-sensitive where raw token
    * sets are not — crucial for a small-vocabulary corpus.
    */
  def shingles(text: Column, w: Int): Column = {
    val t = tokens(text)
    when(size(t) >= w,
      array_distinct(transform(sequence(lit(0), size(t) - w), i =>
        array_join(slice(t, i + 1, lit(w)), " "))))
      .otherwise(array(array_join(t, " ")))
  }
}
