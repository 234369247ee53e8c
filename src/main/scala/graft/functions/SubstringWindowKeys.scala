package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `substring_window_keys(tokens, minTokens)` — for a token array of
  * length n, the array of `n - minTokens + 1` rolling-window keys
  * (empty when `n < minTokens`): key i identifies the exact token
  * window `tokens(i until i + minTokens)`, so two equal keys mean two
  * occurrences of the same `minTokens`-token substring — the candidate
  * unit of Lee et al. (ACL 2022) substring-level dedup.
  *
  * Key construction (the contract shared with the HOF spelling and the
  * DuckDB oracle, which recompute it from scratch):
  * per token `h = first 15 hex chars of md5(token)` (the repo's
  * engine-portable 60-bit token hash; a null element hashes to 0);
  * two independent polynomial channels
  * `k_c = fold(acc = 0; acc ← (acc·B_c + h mod P_c) mod P_c)` over the
  * window left-to-right, with (P₁, B₁) = (2147483647, 1000003) and
  * (P₂, B₂) = (2147483629, 1000033); combined `key = k₁·P₂ + k₂` —
  * 62 effective bits, every intermediate product < 2⁶² so the SQL twin
  * needs no wrapping arithmetic (DuckDB BIGINT errors on overflow).
  * Collision expectation at W windows is ~W²/2⁶³ — ≈10⁻⁴ even at a
  * 500k-document corpus; a collision can only over-merge two
  * unrelated windows, never crash.
  *
  * Exists for the usual reason (SURVEY §7.3): the HOF spelling
  * re-hashes the window per position — O(n·minTokens) interpreted
  * lambda steps per row — while this is one md5 pass plus an O(n)
  * rolling update (`k[i+1] = (k[i] − h[i]·B^(L−1))·B + h[i+L] mod P`),
  * all in one codegen-called static method.
  */
case class SubstringWindowKeys(child: Expression, minTokens: Int)
  extends UnaryExpression {
  require(minTokens >= 1, s"minTokens=$minTokens must be >= 1")

  override def prettyName: String = "substring_window_keys"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"substring_window_keys expects array<string>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    SubstringWindowKeys.compute(v.asInstanceOf[ArrayData], minTokens)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SubstringWindowKeys.compute($c, $minTokens);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SubstringWindowKeys {
  val P1 = 2147483647L; val B1 = 1000003L
  val P2 = 2147483629L; val B2 = 1000033L

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Static so the generated Java can call it directly. */
  def compute(arr: ArrayData, minTokens: Int): ArrayData = {
    val n = arr.numElements()
    if (n < minTokens) return new GenericArrayData(Array.empty[Long])
    // per-token 60-bit portable hash, reduced per channel
    val h1 = new Array[Long](n)
    val h2 = new Array[Long](n)
    val md = md5.get()
    var j = 0
    while (j < n) {
      var h = 0L
      if (!arr.isNullAt(j)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(j).getBytes)
        // bytes 0..6 + high nibble of byte 7 ≡ conv(substr(md5, 1, 15), 16, 10)
        var b = 0
        while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h = (h << 4) | ((d(7) & 0xf0L) >> 4)
      }
      h1(j) = h % P1
      h2(j) = h % P2
      j += 1
    }
    // B^(L-1) mod P for the roll-off term
    var pw1 = 1L; var pw2 = 1L
    var e = 1
    while (e < minTokens) { pw1 = pw1 * B1 % P1; pw2 = pw2 * B2 % P2; e += 1 }
    val out = new Array[Long](n - minTokens + 1)
    // first window by direct fold
    var k1 = 0L; var k2 = 0L
    j = 0
    while (j < minTokens) {
      k1 = (k1 * B1 + h1(j)) % P1
      k2 = (k2 * B2 + h2(j)) % P2
      j += 1
    }
    out(0) = k1 * P2 + k2
    // roll: drop h[i], admit h[i+L]; the subtraction is kept non-negative
    // by adding P before the mod (every term is already < P)
    var i = 0
    while (i + minTokens < n) {
      k1 = ((k1 + P1 - h1(i) * pw1 % P1) % P1 * B1 + h1(i + minTokens)) % P1
      k2 = ((k2 + P2 - h2(i) * pw2 % P2) % P2 * B2 + h2(i + minTokens)) % P2
      i += 1
      out(i) = k1 * P2 + k2
    }
    new GenericArrayData(out)
  }
}
