package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the large-scale training-data pipeline operators —
  * all built from native higher-order functions (`transform`/`aggregate`/
  * `zip_with`), so every path is codegen-compatible and UDF-free.
  */
object Text {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles joined with '_' (distinct). Guarded for short
    * docs: fewer than n tokens → empty set.
    *
    * The token array is LET-BOUND via a single-element `transform` lambda:
    * higher-order lambdas are interpreted with no common-subexpression
    * elimination, so referencing `split(text)` directly inside the gram
    * lambda would re-split the text once per element_at — O(grams × n)
    * splits per document instead of one. */
  def shingles(text: Column, n: Int): Column =
    get(
      transform(array(tokens(text)), toks => {
        val grams = transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws("_", (0 until n).map(k => element_at(toks, i + k + 1)): _*))
        when(size(toks) < n, array().cast("array<string>"))
          .otherwise(array_distinct(grams))
      }),
      lit(0))

  /** Word n-grams WITH multiplicity (no distinct) — repetition metrics
    * need the raw stream: a doc that repeats one bigram 50 times has 50
    * grams, 1 distinct. Same let-binding as [[shingles]] (the token array
    * is bound once; lambdas have no CSE). */
  def rawShingles(text: Column, n: Int): Column =
    get(
      transform(array(tokens(text)), toks => {
        val grams = transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws("_", (0 until n).map(k => element_at(toks, i + k + 1)): _*))
        when(size(toks) < n, array().cast("array<string>"))
          .otherwise(grams)
      }),
      lit(0))

  /** Exact Jaccard of two distinct-element arrays, as
    * |∩| / (|a|+|b|-|∩|) — the formula both engines evaluate exactly
    * (integer counts → one exact double division). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** LSH band buckets from a minhash signature: bands of `r` rows, bucket =
    * hash of the band's slice (+ band index so bands don't collide).
    * Returns array<struct<band:int, bucket:long>> for exploding. */
  def lshBands(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), bnd =>
      struct(
        bnd.cast("int").as("band"),
        xxhash64(concat_ws("|",
          bnd.cast("string"),
          concat_ws(",", transform(slice(sig, bnd * r + lit(1), lit(r)), _.cast("string"))))
        ).as("bucket")))

  /** 64-bit SimHash bit vector (array<long> of 0/1, index 0 = LSB) over the
    * distinct tokens of a document: per bit, the sign of the ±1 vote sum
    * across independent per-(token,bit) hashes. (The Scala DSL's
    * shiftright takes only literal shift amounts, so each bit gets its own
    * xxhash64 instead of slicing one 64-bit hash — same independence
    * guarantees, still fully native/codegen'd.) */
  def simhashBits(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (state, t) => zip_with(
        state,
        transform(sequence(lit(0), lit(63)),
          i => pmod(xxhash64(concat(t, lit("#"), i.cast("string"))), lit(2L)) * 2L - 1L),
        (s, v) => s + v))
    transform(votes, v => when(v > 0, 1L).otherwise(0L))
  }

  /** Render a 64-bit vector (LSB first) as a 16-hex-digit fingerprint —
    * string-space conversion, immune to ANSI long-overflow on the sign
    * bit. */
  def simhashValue(bits: Column): Column =
    lpad(conv(concat_ws("", transform(reverse(bits), _.cast("string"))), 2, 16),
      16, "0")

  /** Band keys for hamming-neighbor search: 4 strings of 16 bits each. */
  def simhashChunks(bits: Column): Column =
    transform(sequence(lit(0), lit(3)), j =>
      concat_ws("", transform(slice(bits, j * 16 + lit(1), lit(16)), _.cast("string"))))

  /** Hamming distance between two equal-length bit vectors. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 0L).otherwise(1L)),
      lit(0L), (acc, d) => acc + d)

  /** Polynomial rolling-hash fingerprint over tokens, mod 1e9+7.
    * Token code = Σ codepoint(char_i)·(i+1); doc fp folds left-to-right from
    * seed 7 — the exact fold order the DuckDB oracle replicates. */
  def fingerprint(text: Column): Column = {
    val m = 1000000007L
    // empty tokens (double spaces) are dropped: Spark's sequence(1,0) would
    // DESCEND and DuckDB's list_sum([]) is NULL — both sides filter first
    val toks = filter(tokens(text), w => length(w) > 0)
    val codes = transform(toks, w =>
      aggregate(sequence(lit(1), length(w)), lit(0L),
        (acc, i) => acc + ascii(w.substr(i.cast("int"), lit(1))).cast("long") * i))
    aggregate(codes, lit(7L), (acc, c) => (acc * 31L + c) % m)
  }

  /** Portable char-level rolling hash (Java-style `acc·31 + codepoint`,
    * seed 0, mod 1e9+7) — the cross-engine-reproducible counterpart of
    * xxhash64 for ORACLE-PINNED hashing (x38/x39): DuckDB replays the
    * identical fold with `list_reduce`/`unicode`. Callers guarantee a
    * non-empty string (Spark's `sequence(1, 0)` would DESCEND). */
  def charHash(sc: Column): Column =
    aggregate(sequence(lit(1), length(sc)), lit(0L),
      (acc, i) =>
        (acc * 31L + ascii(sc.substr(i.cast("int"), lit(1))).cast("long"))
          % 1000000007L)

  /** BPE-ish subword count: each token contributes ceil(len/4) subtokens. */
  def subtokenCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + ceil(length(w) / 4.0).cast("long"))
}
