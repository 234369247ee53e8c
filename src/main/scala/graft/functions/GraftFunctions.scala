package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** User-facing `Column` functions of the engine (the `functions._` of
  * graft). Native expressions wrapped here; everything else is composed
  * from built-ins so plans stay codegen-friendly.
  */
object GraftFunctions {

  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnBridge.column(e)
  private def e(col: Column) = ColumnBridge.expression(col)

  /** Engine-portable rounding: `floor(x·10ⁿ + 0.5)/10ⁿ`. Spark's `round`
    * goes through BigDecimal's decimal-string repr while DuckDB multiplies
    * and `std::round`s — the two disagree when the scaled product lands
    * exactly on a .5 boundary. Spelling the multiply-floor out makes both
    * engines execute the identical double ops, so oracle comparisons can
    * never diverge on rounding. */
  def roundPortable(x: Column, decimals: Int): Column = {
    val p = math.pow(10.0, decimals)
    floor(x * lit(p) + lit(0.5)).cast("double") / lit(p)
  }

  /** The DuckDB-side spelling of [[roundPortable]] for oracle SQL. */
  def roundPortableSql(expr: String, decimals: Int): String = {
    val p = math.pow(10.0, decimals).toLong
    s"FLOOR(($expr) * $p + 0.5) / $p"
  }

  /** Portable whitespace, as an EXPLICIT class body — `\s` is NOT in
    * the Java∩RE2 portable subset: Java's `\s` is `[ \t\n\x0B\f\r]`
    * while RE2's (DuckDB's regexp engine) omits U+000B (vertical tab),
    * so a document carrying `\v` would tokenize/redact differently on
    * the two engines and silently fail a hash gate. Every tokenizer and
    * redaction pattern in the repo spells whitespace with this class
    * instead (the RE2 semantics, identical on both engines); the escape
    * spellings (`\t` …) are interpreted the same by Java and RE2, and
    * the Scala value is interpolated verbatim into oracle SQL so the
    * two sides can never drift. */
  val WsClass: String = " \\t\\n\\f\\r"

  /** A run of portable whitespace — the `\s+` replacement (see
    * [[WsClass]]). */
  val WsRun: String = s"[$WsClass]+"

  /** Codegen'd dot product over array<float|double>. */
  def dot_product(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))

  /** Codegen'd cosine similarity over array<float|double>; 0.0 on zero
    * norm. */
  def cosine_similarity(a: Column, b: Column): Column = c(CosineSimilarity(e(a), e(b)))

  /** Word n-grams of a whitespace-tokenized string column: the shingle set
    * for near-dup detection. Empty array when the doc has < n tokens
    * (`sequence` would otherwise run backwards). */
  def word_ngrams(text: Column, n: Int, sep: String = " "): Column = {
    val words = split(text, java.util.regex.Pattern.quote(sep))
    when(size(words) >= n,
      transform(sequence(lit(1), size(words) - lit(n - 1)),
        i => concat_ws(sep, slice(words, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct word-n-gram shingle set — native expression
    * (≡ `array_distinct(word_ngrams(text, n))`; see [[WordShingles]]). */
  def word_shingles(text: Column, n: Int, sep: String = " "): Column =
    c(WordShingles(e(text), n, sep))

  /** Length-`n` histogram of an int array — native expression
    * (≡ the `aggregate`/`zip_with` fold; see [[ArrayBincount]]). */
  def array_bincount(xs: Column, n: Int): Column =
    c(ArrayBincount(e(xs), n))

  /** Normalized histogram `count(b) / max(|xs|, 1)` — native expression
    * (see [[ArrayBincountFreq]]). */
  def array_bincount_freq(xs: Column, n: Int): Column =
    c(ArrayBincountFreq(e(xs), n))

  /** All `tables` SRP bucket ids of a vector — native expression
    * (≡ the nested transform/aggregate HOF; see [[SrpSignatures]]). */
  def srp_signatures(vec: Column, planes: Array[Array[Double]],
      bits: Int, tables: Int): Column =
    c(SrpSignatures(e(vec), planes, bits, tables))

  /** Jaccard similarity of two array columns (exact set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  // functions.shiftleft/shiftright only take Int literals; the catalyst
  // expressions accept column operands (needed inside lambdas).
  def shiftL(v: Column, bits: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.ShiftLeft(e(v), e(bits)))
  def shiftRUnsigned(v: Column, bits: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned(e(v), e(bits)))

  /** 64-bit SimHash over a token array — native expression (one tight
    * loop per row; see [[SimHash64]]). */
  def simhash64(tokens: Column): Column = c(SimHash64(e(tokens)))

  /** Hashed char-bigram buckets — native kernel ([[CharBigramBuckets]];
    * the NB language-ID fit input). */
  def char_bigram_buckets(text: Column, buckets: Int): Column =
    c(CharBigramBuckets(e(text), buckets))

  /** Per-language NB log-posteriors under a fitted kernel
    * ([[NbLangScores]]) — one tight loop per row. */
  def nb_lang_scores(text: Column, kernel: NbKernel): Column =
    c(NbLangScores(e(text), kernel))

  /** Unicode NFC normalization — native expression ([[NfcNormalize]]);
    * the precondition every EXACT text operator (dedup keys, blocklist
    * equality, paragraph hashes) silently assumes. */
  def nfc_normalize(text: Column): Column = c(NfcNormalize(e(text)))

  /** HTML character-reference decode (named 5 + decimal/hex numeric)
    * in one left-to-right scan — native expression
    * ([[HtmlEntityDecode]]); the [[graft.operators.HtmlExtract]]
    * contract's step 3. */
  def html_entity_decode(text: Column): Column = c(HtmlEntityDecode(e(text)))

  /** Registered domain (eTLD+1) of a canonical host under a public-
    * suffix-list table — native expression ([[RegisteredDomain]]);
    * the per-domain cap unit ([[graft.operators.UrlCuration]]). */
  def registered_domain(host: Column, table: PslTable): Column =
    c(RegisteredDomain(e(host), table))

  /** RFC 3986 §6.2.2 percent-encoding normalization: unreserved
    * escapes decoded, other escapes uppercased, malformed `%` literal
    * — native expression ([[PctNormalize]]); step 2 of
    * [[graft.operators.UrlCuration.canonicalUrl]]. */
  def pct_normalize(url: Column): Column = c(PctNormalize(e(url)))

  /** IDN → punycode A-label host mapping (`bücher.de` ≡
    * `xn--bcher-kva.de`) — native expression ([[IdnHost]]); the final
    * host step of [[graft.operators.UrlCuration.canonicalUrl]]. */
  def idn_host(hostport: Column): Column = c(IdnHost(e(hostport)))

  /** RFC 3986 §5 reference resolution: the target URL a raw outlink
    * denotes against its page's address — native expression
    * ([[UrlResolve]]); the step between link extraction and
    * canonicalization in [[graft.operators.UrlCuration.crawlFrontier]]. */
  def url_resolve(base: Column, ref: Column): Column =
    c(UrlResolve(e(base), e(ref)))

  /** The selected agent group's `Crawl-delay` seconds (NULL when the
    * robots text declares none) — native expression
    * ([[RobotsCrawlDelay]]); the per-host budget input of
    * [[graft.operators.UrlCuration.fetchWaves]]. */
  def robots_crawl_delay(robotsTxt: Column, agent: String): Column =
    c(RobotsCrawlDelay(e(robotsTxt), agent))

  /** The text's global `Sitemap:` URLs (sitemaps.org protocol),
    * first-occurrence order, deduped — native expression
    * ([[RobotsSitemaps]]); the crawl-seed source of
    * [[graft.operators.Robots.sitemapSeeds]]. */
  def robots_sitemaps(robotsTxt: Column, agent: String): Column =
    c(RobotsSitemaps(e(robotsTxt), agent))

  /** May `agent` fetch `path` under `robotsTxt`? — native RFC 9309
    * evaluation with the parse memoized per distinct text
    * ([[RobotsAllowed]]); the crawl politeness screen
    * ([[graft.operators.Robots]]). */
  def robots_allowed(robotsTxt: Column, path: Column, agent: String): Column =
    c(RobotsAllowed(e(robotsTxt), e(path), agent))

  /** EXACT BPE token count under the fixture merge table — native
    * expression (see [[BpeTokenCount]]); the model-tokenizer currency
    * for budgets/packing/chunking. */
  def bpe_token_count(text: Column): Column = c(BpeTokenCount(e(text)))

  /** EXACT BPE token count under a LOADED merge table (a real model's
    * `merges.txt`/`vocab.json` via [[BpeTable.fromTokenizerFiles]]) —
    * drop-in for any [[TextAnalysis.approxBpeTokenCount]] site once
    * budgets must be spent in the training model's own tokens. */
  def bpe_token_count(text: Column, table: BpeTable): Column =
    c(BpeTokenCount(e(text), table))

  /** PQ residual codes of `vec` against its coarse centroid `cvec`
    * under a constant codebook ([[PqEncode]]). */
  def pq_encode(vec: Column, cvec: Column, cb: PqKernel.Codebook): Column =
    c(PqEncode(e(vec), e(cvec), cb))

  /** Per-query ADC lookup table (+ query norm tail) ([[PqLut]]). */
  def pq_lut(qvec: Column, cb: PqKernel.Codebook): Column =
    c(PqLut(e(qvec), cb))

  /** Per-candidate ADC cosine estimate ([[PqAdcScore]]). */
  def pq_adc_score(codes: Column, lut: Column, cdot: Column,
      norm: Column): Column =
    c(PqAdcScore(e(codes), e(lut), e(cdot), e(norm)))

  /** k-slot MinHash signature over a shingle array — native expression
    * (one tight loop per row; see [[MinHashSignature]]). */
  def minhash_signature(shingles: Column, k: Int): Column =
    c(MinHashSignature(e(shingles), k))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Engine-portable SimHash over a token array: per-token hash = first
    * 15 hex chars of md5 (60 bits — fits a signed long in both engines),
    * bit b set when the ±1 token vote sum is ≥ 0. Semantically ≡
    * [[simhash64]] (different hash family, same construction); exists so
    * the simhash pair-derivation has an exact DuckDB twin — xxhash64
    * doesn't, md5 does. Native expression ([[SimHashPortable]]); a
    * built-ins-only HOF spelling in the test sources is the executable
    * spec it is tested against. */
  def simhash64Portable(tokens: Column, bits: Int = 60): Column =
    c(SimHashPortable(e(tokens), bits))

  /** Rolling window keys for substring-level dedup (Lee et al., ACL
    * 2022): array of `n − minTokens + 1` 62-bit keys, key i identifying
    * the exact token window `tokens(i until i + minTokens)`. Native
    * expression ([[SubstringWindowKeys]] — one md5 pass + an O(n)
    * rolling update); a HOF spelling in the test sources is the
    * executable spec. */
  def substring_window_keys(tokens: Column, minTokens: Int): Column =
    c(SubstringWindowKeys(e(tokens), minTokens))

  /** Single-pass top-k-by-frequency aggregate (custom
    * `TypedImperativeAggregate`, Space-Saving-bounded buffer — see
    * [[TopKFreq]]). Returns `array<struct<value,cnt>>` ordered by
    * (cnt desc, value asc). */
  def top_k_freq(x: Column, k: Int, capacity: Int = TopKFreq.DefaultCapacity): Column =
    c(TopKFreq(e(x), k, capacity).toAggregateExpression())

  /** Single-pass bounded top-k-by-score aggregate (see [[TopKByScore]]):
    * the scale-safe form of `row_number().over(partitionBy(g).orderBy(
    * score.desc))` ranking — partial heaps per partition, only k entries
    * per group cross the exchange. Returns `array<struct<id,score>>`
    * ordered by (score desc, id asc). */
  def top_k_by_score(id: Column, score: Column, k: Int): Column =
    c(TopKByScore(e(id), e(score), k).toAggregateExpression())

  /** `nProbe` nearest centroid ids by cosine as a pure codegen'd
    * projection (see [[NearestCentroids]]) — IVF assignment with zero
    * shuffles. */
  def nearest_centroids(vec: Column, centroidIds: Seq[Long],
      centroidVecs: Seq[Seq[Double]], nProbe: Int): Column =
    c(NearestCentroids(e(vec), centroidIds, centroidVecs, nProbe))

  /** How many elements of a string array the given Bloom filter kernel
    * might contain, as a codegen'd projection (see [[BloomHitCount]]) —
    * the zero-shuffle corpus-side probe of Bloom-prefiltered
    * decontamination. */
  def bloom_hit_count(arr: Column, kernel: BloomHitCount.Kernel): Column =
    c(BloomHitCount(e(arr), kernel))

  /** Morton/Z-order interleave of already-bucketed rank columns (see
    * [[ZValueInterleave]]) — the multi-dimensional clustering key of
    * [[graft.operators.Layout]]. */
  def z_interleave(ranks: Seq[Column], bits: Int): Column =
    c(ZValueInterleave(ranks.map(e), bits))

  /** Hilbert-curve key over the same bucketed ranks (see
    * [[HilbertIndex]]) — [[graft.operators.Layout]]'s better-locality
    * curve option. */
  def hilbert_index(ranks: Seq[Column], bits: Int): Column =
    c(HilbertIndex(ranks.map(e), bits))

  /** Binary-search rank of `value` against an ascending boundary array
    * (see [[BucketSearch]]) — the equi-depth bucket index of
    * [[graft.operators.Layout]]'s `rankMode = "equidepth"`. */
  def bucket_search(value: Column, boundaries: Column): Column =
    c(BucketSearch(e(value), e(boundaries)))

  /** Registers the native expressions for SQL use
    * (`SELECT cosine_similarity(a.embedding, b.embedding) ...`). */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    val reg = spark.sessionState.functionRegistry
    // Config params (k, bits, sep) must be LITERALS — they shape the
    // expression, not the data. Validate loudly: silently dropping an
    // argument (or choking on AttributeReference.eval) hides bugs.
    def arity(name: String, exprs: Seq[Expression], min: Int, max: Int): Unit =
      require(exprs.length >= min && exprs.length <= max,
        s"$name expects $min..$max arguments, got ${exprs.length}")
    def litOf(name: String, e: Expression): Any = {
      require(e.foldable, s"$name: config argument must be a literal, got $e")
      val v = e.eval(null)
      require(v != null, s"$name: config argument must not be NULL")
      v
    }
    def intLit(name: String, e: Expression): Int =
      litOf(name, e).asInstanceOf[Number].intValue()

    reg.createOrReplaceTempFunction("cosine_similarity",
      { exprs => arity("cosine_similarity", exprs, 2, 2)
        CosineSimilarity(exprs.head, exprs(1)) }, "built-in")
    reg.createOrReplaceTempFunction("dot_product",
      { exprs => arity("dot_product", exprs, 2, 2)
        DotProduct(exprs.head, exprs(1)) }, "built-in")
    reg.createOrReplaceTempFunction("simhash64",
      { exprs => arity("simhash64", exprs, 1, 1)
        SimHash64(exprs.head) }, "built-in")
    reg.createOrReplaceTempFunction("nfc_normalize",
      { exprs => arity("nfc_normalize", exprs, 1, 1)
        NfcNormalize(exprs.head) }, "built-in")
    reg.createOrReplaceTempFunction("html_entity_decode",
      { exprs => arity("html_entity_decode", exprs, 1, 1)
        HtmlEntityDecode(exprs.head) }, "built-in")
    reg.createOrReplaceTempFunction("simhash64_portable",
      { exprs => arity("simhash64_portable", exprs, 1, 2)
        if (exprs.length == 2)
          SimHashPortable(exprs.head, intLit("simhash64_portable", exprs(1)))
        else SimHashPortable(exprs.head) }, "built-in")
    reg.createOrReplaceTempFunction("word_shingles",
      { exprs => arity("word_shingles", exprs, 2, 3)
        val sep = if (exprs.length == 3)
          litOf("word_shingles", exprs(2)).toString else " "
        WordShingles(exprs.head, intLit("word_shingles", exprs(1)), sep) }, "built-in")
    reg.createOrReplaceTempFunction("minhash_signature",
      { exprs => arity("minhash_signature", exprs, 2, 2)
        MinHashSignature(exprs.head, intLit("minhash_signature", exprs(1))) }, "built-in")
    // aggregate: SELECT g, top_k_by_score(id, score, 3) FROM t GROUP BY g
    // (the analyzer wraps the returned AggregateFunction)
    reg.createOrReplaceTempFunction("top_k_by_score",
      { exprs => arity("top_k_by_score", exprs, 3, 3)
        TopKByScore(exprs.head, exprs(1), intLit("top_k_by_score", exprs(2)))
          .toAggregateExpression() }, "built-in")
  }
}
