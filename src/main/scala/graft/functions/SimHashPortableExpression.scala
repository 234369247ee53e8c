package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `simhash64_portable(tokens)` — the md5-based 60-bit SimHash as a
  * native expression, bit-for-bit equal to the HOF spelling
  * (`ReferenceHofs.simhash64PortableHOF`, asserted in TextDedupSpec)
  * and therefore to the DuckDB oracle that recomputes the same
  * fingerprints in SQL.
  *
  * Construction (shared contract with the oracle): per token
  * `h = first 15 hex chars of md5(token)` parsed as a 60-bit integer
  * (= md5 bytes 0–6 plus the high nibble of byte 7); bit b of the
  * fingerprint is set when the ±1 vote sum over tokens is ≥ 0.
  *
  * Exists for the usual reason (SURVEY §7.3): the HOF spelling is
  * CodegenFallback — 60 bits × tokens interpreted lambda steps per row —
  * while this is one md5 + one 60-step vote loop per token.
  */
case class SimHashPortable(child: Expression, bits: Int = 60)
  extends UnaryExpression {
  require(bits >= 1 && bits <= 60, s"bits=$bits out of range (md5 prefix is 60 bits)")

  override def prettyName: String = "simhash64_portable"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64_portable expects array<string>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    SimHashPortable.compute(v.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHashPortable.compute($c, $bits);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SimHashPortable {
  // MessageDigest is not thread-safe and not cheap to construct — one per
  // executor thread, reset per token.
  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Static so the generated Java can call it directly. */
  def compute(arr: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    val md = md5.get()
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) {
        // a null token votes -1 on every bit — the HOF spelling's
        // `when(bit(md5(null))===1, 1).otherwise(-1)` and DuckDB's
        // `CASE WHEN <null> THEN 1 ELSE -1 END` both land in the else
        // branch, and the bit-for-bit equivalence must cover null
        // elements too (split() never yields them, SQL callers can)
        var i = 0
        while (i < bits) { votes(i) -= 1; i += 1 }
      } else {
        md.reset()
        val d = md.digest(arr.getUTF8String(j).getBytes)
        // first 15 hex chars of the digest = bytes 0..6 + high nibble of
        // byte 7 — identical to conv(substring(md5(t), 1, 15), 16, 10)
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h = (h << 4) | ((d(7) & 0xf0L) >> 4)
        var i = 0
        while (i < bits) {
          if (((h >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < bits) {
      if (votes(i) >= 0) fp |= (1L << i)
      i += 1
    }
    fp
  }
}
