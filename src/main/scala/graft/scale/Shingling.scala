package graft.scale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared shingling / hashing primitives for the dedup family.
  * Pure Catalyst expressions (higher-order array functions + xxhash64),
  * so signature computation is a narrow, codegen'd map — the only
  * shuffles in any dedup pipeline are the bucket group-bys.
  */
object Shingling {

  /** Word k-shingles of a token array: ["a","b","c"], k=2 →
    * ["a b", "b c"]. Fewer than k tokens → the whole text as one
    * shingle (so short docs still participate).
    */
  def shingles(tokens: Column, k: Int): Column =
    when(size(tokens) <= k, array(array_join(tokens, " ")))
      .otherwise(
        transform(
          sequence(lit(0), size(tokens) - k),
          i => array_join(slice(tokens, i + 1, lit(k)), " ")))

  /** Deterministic universal-hash family over xxhash64 output:
    * h_i(x) = (a_i * x + b_i) mod p, folded to non-negative long.
    * Coefficients derive from a fixed seed so every run/JVM agrees.
    */
  final case class HashFamily(numHashes: Int, seed: Long = 42L) {
    // 2^31-1 (Mersenne prime). Coefficients and folded hashes both live
    // below 2^31 so a*h+b < 2^62 — no long overflow under ANSI mode.
    private val P = 2147483647L
    val coeffs: Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(numHashes)((rnd.nextInt((P - 1).toInt).toLong + 1, rnd.nextInt(P.toInt).toLong))
    }

    /** Array of minhash values (one per hash fn) over a shingle array.
      *
      * Single fold over the shingles: each element's base hash is
      * computed ONCE and all `numHashes` running minima update via
      * zip_with. (The naive `numHashes × array_min(transform(...))`
      * form re-evaluates the whole shingle pipeline per hash function —
      * 64× slower, measured.)
      */
    def minhashSignature(shingleArr: Column): Column = {
      val aArr = lit(coeffs.map(_._1).toArray)
      val bArr = lit(coeffs.map(_._2).toArray)
      aggregate(
        shingleArr,
        array_repeat(lit(P), numHashes), // sentinel > any pmod result
        (acc, s) => {
          val h = pmod(xxhash64(s), lit(P))
          zip_with(
            acc,
            zip_with(aArr, bArr, (a, b) => pmod(h * a + b, lit(P))),
            (cur, cand) => least(cur, cand))
        })
    }
  }
}
