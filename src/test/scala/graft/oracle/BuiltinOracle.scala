package graft.oracle

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}

/** Built-in-only reference formulations of the native codegen'd expressions:
  * the higher-order-function compositions the DuckDB oracles mirror term for
  * term. The Vec, Sketch and PolyHash specs test each native expression
  * against its form here.
  */
object BuiltinOracle {

  /** Reference for [[graft.ops.Similarity.dot]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Reference for [[graft.ops.Similarity.qdot]]. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Reference for [[graft.ops.TextAnalysis.fingerprint]]. */
  def fingerprint(textCol: Column): Column =
    aggregate(
      filter(split(textCol, ""), c => length(c) > 0),
      lit(0L),
      (acc, c) => pmod(acc * 31 + ascii(c), lit(1000000007L)))

  /** Reference for `ShingleHashes.shingle_hashes` (and what the DuckDB
    * decontamination oracle mirrors).
    */
  def shingles(textCol: Column, n: Int): Column = {
    val toks = filter(split(textCol, "\\s+"), t => length(t) > 0)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => TextAnalysis.fingerprint(concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<long>"))
  }

  /** Portable per-token hashes: polynomial char hash mod 1e9+7 (< 2^30), the
    * same primitive as [[graft.ops.TextAnalysis.fingerprint]].
    */
  def tokenHashes(tokensCol: Column): Column =
    transform(tokensCol, t => TextAnalysis.fingerprint(t))

  /** MinHash signature from pre-hashed tokens: sig_i = min over token hashes
    * of (a_i·h + b_i mod 2^31-1) with LARGE multipliers a_i (the affine step
    * must wrap the modulus many times, otherwise every sig_i is minimized by
    * the same smallest-hash token and the signature is degenerate).
    * Max intermediate: h(<2^30) · a(<2^31) ≈ 2.3e18 < 2^63 — overflow-free in
    * any engine with 64-bit integers.
    */
  def minhashSigFromHashes(hashesCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), i => {
      val a = pmod(i.cast("long") * 1103515245L + 12345L, lit(Dedup.P31 - 1)) + 1L
      val b = pmod(i.cast("long") * 134775813L + 1L, lit(Dedup.P31))
      array_min(transform(hashesCol, h => pmod(h * a + b, lit(Dedup.P31))))
    })

  /** Reference for [[graft.ops.Dedup.minhashSig]]. */
  def minhashSig(tokensCol: Column, numHashes: Int): Column =
    minhashSigFromHashes(tokenHashes(tokensCol), numHashes)

  /** Reference for [[graft.ops.Dedup.simhashBits]]. */
  def simhashBits(tokensCol: Column): Column = {
    val nToks = size(tokensCol)
    val hs = tokenHashes(tokensCol)
    transform(
      sequence(lit(0), lit(Dedup.SimhashBits - 1)),
      b => when(
        size(filter(hs,
          h => pmod(pmod(h * (b.cast("long") * 131L + 137L) + b.cast("long") * 1000003L + 7L,
            lit(Dedup.P)), lit(2L)) === 1L)) * 2
          > nToks, 1).otherwise(0))
  }
}
