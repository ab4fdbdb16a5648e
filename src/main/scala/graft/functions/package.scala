package graft

import org.apache.spark.sql.{Column, GraftShim}

/** Column-API surface for graft's native Catalyst expressions. */
package object functions {

  /** Distinct 3-token shingle hashes of a space-separated text. */
  def shingle_hashes(c: Column): Column =
    GraftShim.column(ShingleHashes(GraftShim.expression(c)))

  /** k-permutation MinHash signature over a shingle-hash array. */
  def minhash_signature(c: Column, k: Int): Column =
    GraftShim.column(MinHashSignature(GraftShim.expression(c), k))

  /** All-occurrence 2-token bigram hashes of a space-separated text. */
  def bigram_hashes(c: Column): Column =
    GraftShim.column(BigramHashes(GraftShim.expression(c)))

  /** Distinct (h, bg) bigram hash/string entries of a text. */
  def bigram_entries(c: Column): Column =
    GraftShim.column(BigramEntries(GraftShim.expression(c)))

  /** All-occurrence (hl, hb) left-token / bigram hash pairs. */
  def bigram_pair_hashes(c: Column): Column =
    GraftShim.column(BigramPairHashes(GraftShim.expression(c)))

  /** Z-order key: interleave two 16-bit-normalized coordinates. */
  def interleave_bits(a: Column, b: Column): Column =
    GraftShim.column(InterleaveBits(GraftShim.expression(a), GraftShim.expression(b)))

  def interleave_bits_n(arr: Column): Column =
    GraftShim.column(InterleaveBitsN(GraftShim.expression(arr)))

  /** 64-bit SimHash of a space-separated text as 4×16-bit bands. */
  def simhash_bands(c: Column): Column =
    GraftShim.column(SimHashBands(GraftShim.expression(c)))

  /** Exact integer dot product of two quantized vectors. */
  def quantized_dot(a: Column, b: Column): Column =
    GraftShim.column(QuantizedDot(GraftShim.expression(a), GraftShim.expression(b)))

  /** Exact integer squared norm of a quantized vector. */
  def sq_norm(c: Column): Column =
    GraftShim.column(SqNorm(GraftShim.expression(c)))

  /** Per-table random-hyperplane LSH bucket ids for a quantized vector. */
  def hyperplane_buckets(c: Column, tables: Int, bits: Int): Column =
    GraftShim.column(HyperplaneBuckets(GraftShim.expression(c), tables, bits))

  /** One-pass byte features of a binary payload:
    * [n_bytes, byte_sum, n_distinct, max_run]. */
  def byte_stats(c: Column): Column =
    GraftShim.column(ByteStats(GraftShim.expression(c)))

  /** Per-subspace argmin PQ codeword indices against a constant
    * codebook (first minimum wins). A null array yields null; a null or
    * NaN ELEMENT throws IllegalArgumentException (the query fails) —
    * unlike the SQL higher-order functions this kernel replaces, which
    * propagated null and ordered NaN as the maximum. */
  def pq_encode(c: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    GraftShim.column(PqEncode(GraftShim.expression(c), cb))

  /** Embedding → exact integer milli-units (round half-up per
    * element), the similarity family's ingest quantization. A null array
    * yields null; a null ELEMENT throws IllegalArgumentException (the
    * query fails), where the `transform` it replaces propagated null.
    * NaN does NOT throw: like `cast(round(NaN) as long)` it quantizes to
    * 0, and ±Infinity clamps to Long.MaxValue/MinValue. */
  def quantize_milli(c: Column): Column =
    GraftShim.column(QuantizeMilli(GraftShim.expression(c)))

  /** Per-query ADC lookup table (PqM×PqK subspace dots) against a
    * constant codebook. A null array yields null; a null or NaN ELEMENT
    * throws IllegalArgumentException (the query fails), where the SQL
    * higher-order functions it replaces propagated null / NaN. */
  def pq_lut(c: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    GraftShim.column(PqLut(GraftShim.expression(c), cb))

  /** Σ_j table[j][codes[j]] — the per-row ADC accumulation. */
  def pq_adc(table: Column, codes: Column): Column =
    GraftShim.column(PqAdc(GraftShim.expression(table), GraftShim.expression(codes)))

  /** Document token count under a trained BPE merge table. */
  def bpe_token_count(c: Column, merges: Array[String]): Column =
    GraftShim.column(BpeTokenCount(GraftShim.expression(c), merges))
}
