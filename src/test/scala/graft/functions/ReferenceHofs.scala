package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.ShiftRight
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.GraftFunctions.shiftL

/** Built-ins-only HOF spellings of the native fingerprint kernels: the
  * executable specs the native expressions are tested against. */
object ReferenceHofs {

  // functions.shiftright only takes an Int literal; the catalyst
  // expression accepts a column operand (needed inside lambdas).
  private def shiftR(v: Column, bits: Column): Column = ColumnBridge.column(
    ShiftRight(ColumnBridge.expression(v), ColumnBridge.expression(bits)))

  /** Reference HOF composition of simhash64 (built-ins only). Agrees
    * bit-for-bit with the native form on null-free token arrays; kept as
    * the executable spec the native expression is tested against. */
  def simhash64HOF(tokens: Column): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    // For each bit b: set it when strictly more than half the tokens have
    // it set. aggregate over the 64 bit positions; nested filter counts.
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, b) => acc + when(
        size(filter(hashes, h => shiftR(h, b).bitwiseAND(lit(1L)) === lit(1L))) * 2
          > size(hashes),
        shiftL(lit(1L), b)).otherwise(lit(0L)))
  }

  /** Reference HOF composition of [[simhash64Portable]] (built-ins only,
    * CodegenFallback — kept as the executable spec; ≡ native bit-for-bit,
    * asserted in TextDedupSpec). */
  def simhash64PortableHOF(tokens: Column, bits: Int = 60): Column = {
    val hashes = transform(tokens, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    // Single fold over the hash array carrying a bits-wide vote vector —
    // NOT a per-bit outer loop, which would re-evaluate the md5 transform
    // once per bit (measured 60× slower; HOF lambdas defeat subexpression
    // reuse across iterations).
    val bitsSeq = sequence(lit(0), lit(bits - 1))
    val votes = aggregate(
      hashes,
      transform(bitsSeq, _ => lit(0)),
      (acc, h) => zip_with(acc, bitsSeq,
        (v, b) => v + when(shiftR(h, b).bitwiseAND(lit(1L)) === lit(1L), lit(1))
          .otherwise(lit(-1))))
    aggregate(
      zip_with(votes, bitsSeq,
        (v, b) => when(v >= 0, shiftL(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Reference HOF composition of [[substring_window_keys]] (built-ins
    * only, O(n·minTokens) — re-folds the window per position exactly as
    * the DuckDB oracle does; ≡ native bit-for-bit, asserted in
    * SubstringDedupSpec). */
  def substringWindowKeysHOF(tokens: Column, minTokens: Int): Column = {
    import SubstringWindowKeys.{B1, B2, P1, P2}
    val hashes = transform(tokens,
      t => coalesce(conv(substring(md5(t), 1, 15), 16, 10).cast("long"), lit(0L)))
    def chan(hs: Column, p: Long, b: Long): Column =
      aggregate(hs, lit(0L), (acc, x) => (acc * b + x % p) % p)
    when(size(tokens) < minTokens, array().cast("array<long>"))
      .otherwise(transform(
        sequence(lit(0), size(tokens) - minTokens),
        i => chan(slice(hashes, i + 1, lit(minTokens)), P1, B1) * lit(P2)
          + chan(slice(hashes, i + 1, lit(minTokens)), P2, B2)))
  }
}
