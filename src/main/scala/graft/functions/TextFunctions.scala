package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the document pipeline: tokenization,
  * shingling, MinHash signatures, term-frequency rank, language-ID scoring,
  * quality metrics, fingerprints.
  *
  * Design constraints (all deliberate):
  *  - Everything is built from codegen'd `org.apache.spark.sql.functions`
  *    (no UDFs) so the plan stays inside WholeStageCodegen and the exact
  *    semantics can be reproduced in ANSI SQL by an external oracle.
  *  - Hash-derived quantities use md5 hex strings ordered lexicographically.
  *    A lexicographic min over md5(seed||shingle) is a valid MinHash
  *    permutation (md5 ≈ random permutation; hex ordering is a monotone
  *    bijection onto the hash values), and — unlike murmur3 — md5 is
  *    bit-identical across engines.
  *
  * Reference behaviors covered: the `to_tsvector`/`ts_rank` full-text
  * pipeline (reference: scripts/init_db.sql:66-71,120-127 — tokenize,
  * normalize, rank by term frequency) re-specified here as an
  * engine-portable rational-damped TF rank; content fingerprinting
  * (reference: src/security.py:112-114 SHA-256 hashing).
  */
object TextFunctions {

  /** Whitespace tokenization of already-clean text. */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count as long. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** k-token shingles: ["a","b","c","d"], k=3 → ["a b c","b c d"].
    * Docs shorter than k shingle to the whole document. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) <= k, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))

  /** One MinHash value: lexicographic min of md5(seed|shingle). */
  def minhash(shinglesCol: Column, seed: Int): Column =
    array_min(transform(shinglesCol, s => md5(concat(lit(s"$seed|"), s))))

  /** Full MinHash signature as an array of m hex strings (codegen'd
    * one-pass expression; [[minhashSignatureSpec]] is the declarative twin
    * it must equal byte-for-byte — pinned in PropertySpec). The coalesce
    * restores spec parity on a NULL shingle array: the expression is
    * null-intolerant (→ NULL) while the declarative array(...) form yields
    * an array of m nulls. */
  def minhashSignature(shinglesCol: Column, m: Int): Column =
    coalesce(MinHashSignature.minhashSignature(shinglesCol, m),
      array((0 until m).map(_ => lit(null).cast("string")): _*))

  /** Declarative spec of [[minhashSignature]] (m interpreted passes). */
  def minhashSignatureSpec(shinglesCol: Column, m: Int): Column =
    array((0 until m).map(seed => minhash(shinglesCol, seed)): _*)

  /** LSH bands: signature of m hashes split into `bands` concatenated
    * groups; docs sharing any band value are near-dup candidates. */
  def lshBands(signature: Column, m: Int, bands: Int): Column = {
    require(m % bands == 0,
      s"bands ($bands) must divide signature length ($m): a remainder would" +
        " silently drop the trailing hashes from every band, cutting recall")
    val rows = m / bands
    array((0 until bands).map { b =>
      concat_ws("", slice(signature, b * rows + 1, rows))
    }: _*)
  }

  /** Jaccard similarity of two pre-distinct token arrays, in exact double
    * arithmetic: |A∩B| / (|A|+|B|-|A∩B|). */
  def jaccard(setA: Column, setB: Column): Column = {
    val inter = size(array_intersect(setA, setB)).cast("double")
    val union = size(setA).cast("double") + size(setB).cast("double") - inter
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }

  /** Rational-damped term-frequency rank of `text` against query terms:
    * rank = (Σ_t tf_t/(tf_t+1)) / nTerms ∈ [0,1). Damping shape follows
    * Postgres ts_rank's diminishing-returns curve (reference:
    * scripts/init_db.sql:120-127) but uses division instead of log so the
    * value is exactly reproducible in any IEEE-754 engine.
    *
    * The terms are one array constant and the whole rank is one
    * higher-order function, which the generated code reaches by
    * reference: a query with other terms, or more of them, needs no new
    * class. Each term's frequency is counted once. */
  def tfRank(toks: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty)
    val queryTerms = typedlit(terms)
    aggregate(
      transform(queryTerms, t => size(filter(toks, x => x === t)).cast("double")),
      lit(0.0),
      (sum, tf) => sum + tf / (tf + lit(1.0)),
      sum => sum / size(queryTerms).cast("double"))
  }

  /** Count of tokens contained in a fixed marker set (language-ID / stopword
    * scoring primitive). */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit): _*))).cast("long")

  /** Document fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** 16-bit SimHash weight for one (token, bit) pair: +1 if the bit-th hex
    * nibble of md5(token) is odd, else -1. Summed per bit over all distinct
    * tokens; bit set iff sum > 0. */
  def simhashNibbleWeight(tokenMd5: Column, bit: Column): Column =
    when(instr(lit("13579bdf"), tokenMd5.substr(bit + lit(1), lit(1))) > 0, lit(1L))
      .otherwise(lit(-1L))

  /** Hashed-feature bucket for linear classifier inference: first 3 md5
    * hex chars = a 4096-way feature space (the fastText/VW hashing-trick
    * featurizer, md5-based so the bucket is identical in any engine). */
  def featureBucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 3), 16, 10).cast("long")

  /** Deterministic integer weight in [-8, 8] for a feature bucket — the
    * stand-in weight table of the quality classifier (the repo's stub-model
    * convention, like HashEmbedder: a REAL trained fastText weight vector
    * is a few-MB dense array that ships to executors the same way; the
    * serving plumbing — featurize, look up, sum — is what's exercised).
    * Integer weights keep the score exact-BIGINT and oracle-portable. */
  def featureWeight(bucket: Column): Column =
    conv(substring(md5(concat(lit("w|"), bucket.cast("string"))), 1, 2), 16, 10)
      .cast("long") % 17 - 8

  /** fastText-style linear quality-classifier inference over a token
    * array: Σ_tokens w(bucket(token)), exact BIGINT, entirely row-local
    * (higher-order functions, no explode, no shuffle, whole-stage
    * codegen). The scale path for classifier-based curation filters:
    * score 100 TB with a scan. */
  def linearQualityScore(toks: Column): Column =
    aggregate(transform(toks, t => featureWeight(featureBucket(t))),
      lit(0L), (acc, x) => acc + x)
}
