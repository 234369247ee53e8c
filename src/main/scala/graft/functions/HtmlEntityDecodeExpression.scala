package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `html_entity_decode(text)` — HTML character-reference decoding in
  * ONE left-to-right scan: the FULL HTML5 named table (~2.1k
  * semicolon-terminated names, committed fixture — see
  * [[HtmlEntityDecode.Named]]) plus decimal (`&#233;`) and hex
  * (`&#xE9;`, `&#x1F600;`) numeric references, which real crawl HTML
  * carries constantly (r17 verdict gap #3) — undecoded they pollute
  * every downstream text operator (Gopher symbol bands, BPE counts,
  * dedup keys).
  *
  * Single-pass semantics is the CORRECT semantics, not a convenience:
  * a chain of replaces cannot order numeric and named decoding — with
  * numeric first, `&#38;lt;` double-decodes to `<`; with numeric
  * last, `&amp;#65;` double-decodes to `A`. A left-to-right scan
  * single-decodes both (`&lt;` / `&#65;`), matching how an HTML
  * tokenizer consumes references. The DuckDB oracle mirrors the scan
  * exactly with split/interleave over the same reference pattern —
  * both engines find non-overlapping matches over the ORIGINAL string
  * (`graft.queries.HtmlQueries.decodeSql`).
  *
  * Decode contract (mirrored literally by the oracle):
  *   - named: the [[HtmlEntityDecode.Named]] table — the complete
  *     HTML5 semicolon-terminated set (2 125 names incl. the 93
  *     multi-codepoint references like `&NotEqualTilde;`), loaded
  *     from a committed fixture with LOUD validation (malformed line,
  *     duplicate name, or a suspiciously small table all throw — the
  *     PSL subset-guard posture);
  *   - legacy SEMICOLON-FREE forms: the HTML5 spec's 106-name
  *     compat subset ([[HtmlEntityDecode.LegacyNames]] — `&amp`,
  *     `&copy`, `&nbsp`, the Latin-1 accents …) decodes WITHOUT the
  *     `;` in text context, longest-prefix-first, exactly like the
  *     spec tokenizer (`&notit;` → `¬it;` — the famous example; a
  *     full `name;` match always wins over a legacy prefix). This is
  *     TEXT-context semantics; the attribute-context alnum/`=`
  *     lookahead exception does not apply to extracted page text.
  *     Every legacy name is validated to exist in the full table at
  *     load;
  *   - numeric: decoded iff the codepoint is tab/LF/CR or ≥ U+0020,
  *     ≤ U+10FFFF and not a surrogate — otherwise the reference stays
  *     LITERAL (C0 controls would collide with the extractor's U+0001
  *     paragraph sentinel and DuckDB's `chr` rejects them); the `;`
  *     is OPTIONAL in text context (r20 — HTML5 decodes `&#65` with a
  *     missing-semicolon parse error), consumed when present;
  *   - hex runs cap at 7 digits and overflowing decimals stay literal
  *     (both out of Unicode range anyway);
  *   - unterminated NON-legacy named references stay literal.
  *
  * Scale shape: per-row, no shuffle, codegen'd via a static call; the
  * common no-`&` row is a single byte scan returning the input
  * buffer untouched.
  */
case class HtmlEntityDecode(child: Expression) extends UnaryExpression {

  override def prettyName: String = "html_entity_decode"
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"html_entity_decode expects a string column, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    HtmlEntityDecode.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HtmlEntityDecode.compute($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlEntityDecode {

  /** Decode one value. Fast path: no `&` byte ⇒ return the input
    * buffer untouched (the dominant case on extracted fragments). The
    * scan works on the JVM String (entities are pure ASCII, so
    * UTF-16 indexing is safe — multi-byte codepoints never appear
    * inside a reference). */
  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var amp = false
    while (!amp && i < n) {
      if (s.getByte(i) == '&') amp = true
      i += 1
    }
    if (!amp) return s
    UTF8String.fromString(decodeString(s.toString))
  }

  private def decodeString(str: String): String = {
    val n = str.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c != '&') { out.append(c); i += 1 }
      else {
        val end = tryReference(str, i, out)
        if (end > i) i = end
        else { out.append('&'); i += 1 }
      }
    }
    out.toString
  }

  /** Try to consume a reference starting at `str(at) == '&'`. On
    * success appends the decoded text and returns the index past the
    * `;`; on failure appends nothing and returns `at`. A matched but
    * OUT-OF-RANGE numeric reference appends itself literally (it was
    * a well-formed reference — the oracle's regex matches it too, so
    * both sides must treat it the same way). */
  private def tryReference(str: String, at: Int, out: java.lang.StringBuilder): Int = {
    val n = str.length
    if (at + 1 >= n) return at
    if (str.charAt(at + 1) != '#') {
      // named: read the maximal alphanumeric run; a `name;` table hit
      // wins, else the longest LEGACY name that prefixes the run
      // decodes semicolon-free — equivalent to the oracle's
      // longest-first alternation over (name; | legacy) arms
      var j = at + 1
      while (j < n && j - at <= MaxNameLen &&
        Character.isLetterOrDigit(str.charAt(j))) j += 1
      if (j > at + 1 && j < n && str.charAt(j) == ';') {
        val s = NamedMap.get(str.substring(at + 1, j))
        if (s != null) {
          out.append(s)
          return j + 1
        }
      }
      var k = math.min(j - at - 1, LegacyMaxLen)
      while (k >= LegacyMinLen) {
        val s = LegacyMap.get(str.substring(at + 1, at + 1 + k))
        if (s != null) {
          out.append(s)
          return at + 1 + k
        }
        k -= 1
      }
      return at
    }
    var j = at + 2
    val hex = j < n && (str.charAt(j) == 'x' || str.charAt(j) == 'X')
    if (hex) j += 1
    val digits0 = j
    var cp = 0L
    if (hex) {
      // the consumed run caps at 7 hex digits, mirroring the oracle's
      // {1,7} pattern — an 8th digit stays OUTSIDE the reference (the
      // 7-digit head is out of Unicode range anyway, so both sides
      // reconstruct it literally and the tail rides as plain text)
      while (j < n && j - digits0 < 7 && hexVal(str.charAt(j)) >= 0) {
        cp = cp * 16 + hexVal(str.charAt(j))
        j += 1
      }
    } else {
      while (j < n && str.charAt(j) >= '0' && str.charAt(j) <= '9') {
        cp = cp * 10 + (str.charAt(j) - '0')
        if (cp > 0x10FFFFL) { cp = 0x110000L } // clamp, stays out-of-range
        j += 1
      }
    }
    if (j == digits0) return at // `&#` / `&#x` with no digits: literal
    // HTML5 text context: a numeric reference decodes with OR without
    // its `;` (missing-semicolon parse error, but it decodes — r20;
    // the `;` is consumed when present)
    val end = if (j < n && str.charAt(j) == ';') j + 1 else j
    val ok = cp == 9 || cp == 10 || cp == 13 ||
      (cp >= 0x20 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF))
    if (ok) out.appendCodePoint(cp.toInt)
    else out.append(str, at, end) // well-formed but disallowed: literal
    end
  }

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** The named-entity table (name → decoded string): the COMPLETE
    * HTML5 semicolon-terminated set, loaded from the committed
    * fixture `graft/html/html5_entities.tsv` (format: `name<TAB>
    * hex[-hex]*` — 93 references decode to TWO codepoints, e.g.
    * `&NotEqualTilde;` → U+2242 U+0338). ONE table — the scanner's
    * lookup map and the oracle's regex alternation + decode arms are
    * both generated from it, so the two engines cannot drift.
    * Case-sensitive, per the HTML named table (`&AMP;` and `&amp;`
    * are distinct entries; `&Amp;` is not a reference). Validation is
    * LOUD ([[parseTable]]): malformed lines, duplicate names, invalid
    * codepoints, or a suspiciously small table (a truncated fixture)
    * all throw at load — the PSL subset-guard posture. */
  val Named: IndexedSeq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/html/html5_entities.tsv")
    require(in != null, "HTML5 entity table resource missing")
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    parseTable(text)
  }

  /** Parse + validate the fixture format; exposed for the
    * malformed-table specs. */
  private[graft] def parseTable(text: String): IndexedSeq[(String, String)] = {
    val rows = text.linesIterator.zipWithIndex
      .filterNot { case (l, _) => l.isEmpty || l.startsWith("#") }
      .map { case (line, i) =>
        val at = line.indexOf('\t')
        require(at > 0 && at < line.length - 1,
          s"entity table line ${i + 1}: expected name<TAB>codepoints, got '$line'")
        val name = line.substring(0, at)
        require(name.forall(c => Character.isLetterOrDigit(c) && c < 128),
          s"entity table line ${i + 1}: non-alphanumeric name '$name'")
        val cps = line.substring(at + 1).split("-")
        require(cps.nonEmpty && cps.forall(_.nonEmpty),
          s"entity table line ${i + 1}: empty codepoint list")
        val sb = new java.lang.StringBuilder(4)
        cps.foreach { h =>
          val cp = try Integer.parseInt(h, 16) catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"entity table line ${i + 1}: bad hex codepoint '$h'")
          }
          require(cp > 0 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF),
            s"entity table line ${i + 1}: codepoint U+$h out of range")
          sb.appendCodePoint(cp)
        }
        name -> sb.toString
      }.toVector
    val dups = rows.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"entity table: duplicate names ${dups.take(5).mkString(",")}")
    require(rows.size >= 2000,
      s"entity table: only ${rows.size} entries — a truncated fixture would " +
        "silently pass references through literally at scale; expected the " +
        "full HTML5 set (~2125)")
    rows
  }

  private val MaxNameLen: Int =
    Named.map(_._1.length).max + 1 // +1: the loop bound is inclusive

  private val NamedMap: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    Named.foreach { case (n, s) => m.put(n, s) }
    m
  }

  /** The HTML5 legacy compat subset — the 106 named references the
    * spec's table marks as usable WITHOUT a trailing semicolon (the
    * HTML 4.01 Latin-1/markup set; `&Yuml` is NOT here — Ÿ was never
    * in Latin-1 — while both `&amp`/`&AMP` spellings are, exactly as
    * the spec lists them). Stated once; the scanner's prefix map and
    * the oracle's alternation arms are both generated from it, and
    * every name is validated to exist in [[Named]]. */
  val LegacyNames: IndexedSeq[String] = IndexedSeq(
    "AElig", "AMP", "Aacute", "Acirc", "Agrave", "Aring", "Atilde",
    "Auml", "COPY", "Ccedil", "ETH", "Eacute", "Ecirc", "Egrave",
    "Euml", "GT", "Iacute", "Icirc", "Igrave", "Iuml", "LT", "Ntilde",
    "Oacute", "Ocirc", "Ograve", "Oslash", "Otilde", "Ouml", "QUOT",
    "REG", "THORN", "Uacute", "Ucirc", "Ugrave", "Uuml", "Yacute",
    "aacute", "acirc", "acute", "aelig", "agrave", "amp", "aring",
    "atilde", "auml", "brvbar", "ccedil", "cedil", "cent", "copy",
    "curren", "deg", "divide", "eacute", "ecirc", "egrave", "eth",
    "euml", "frac12", "frac14", "frac34", "gt", "iacute", "icirc",
    "iexcl", "igrave", "iquest", "iuml", "laquo", "lt", "macr",
    "micro", "middot", "nbsp", "not", "ntilde", "oacute", "ocirc",
    "ograve", "ordf", "ordm", "oslash", "otilde", "ouml", "para",
    "plusmn", "pound", "quot", "raquo", "reg", "sect", "shy", "sup1",
    "sup2", "sup3", "szlig", "thorn", "times", "uacute", "ucirc",
    "ugrave", "uml", "uuml", "yacute", "yen", "yuml")

  /** name → decoded text for the legacy subset, validated against the
    * full table at load (a legacy name missing from the fixture would
    * mean the fixture and the spec subset drifted — throw loudly). */
  private val LegacyMap: java.util.HashMap[String, String] = {
    require(LegacyNames.size == 106,
      s"legacy entity subset: ${LegacyNames.size} names, expected 106")
    val m = new java.util.HashMap[String, String]()
    LegacyNames.foreach { n =>
      val s = NamedMap.get(n)
      require(s != null, s"legacy entity '$n' absent from the full table")
      m.put(n, s)
    }
    m
  }

  private val LegacyMaxLen: Int = LegacyNames.map(_.length).max
  private val LegacyMinLen: Int = LegacyNames.map(_.length).min

  /** The COMPLETE reference-body alternation for the oracle — every
    * full name WITH its `;`, the legacy names bare, and the numeric
    * arms in BOTH forms (HTML5 text context decodes numerics without
    * the `;` too — r20; the `;`-terminated arms come first so the
    * semicolon is consumed when present), longest-first so the full
    * form always outranks its own legacy prefix (`amp;` before
    * `amp`); the matched group therefore carries the `;` exactly
    * when the reference did. */
  def referenceAlternation: String =
    (Named.map(_._1 + ";") ++ LegacyNames)
      .sortBy(n => (-n.length, n)).mkString("|") +
      "|#[0-9]+;|#[xX][0-9A-Fa-f]{1,7};|#[0-9]+|#[xX][0-9A-Fa-f]{1,7}"
}
