package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.HtmlExtract
import graft.sources.Scan

/** HTML extraction gates. The documents table carries clean text, so
  * both engines SYNTHESIZE the same deliberately-messy HTML page
  * around it — head/title, style and script blocks (with `<`/`>`/`&&`
  * inside the script body), comments, an upper-cased link-farm
  * `<NAV>`, attribute-bearing and case-varied block tags, entities
  * including the double-encoded `&amp;lt;`, link-only list items, a
  * mixed text+link div, and a short footer — plus decimal/hex numeric
  * character references (accented letters, a non-BMP emoji, a
  * double-encoded `&amp;#65;`, and disallowed control/surrogate/
  * out-of-range references that must stay literal) — and the oracle
  * re-implements the full 4-step extraction contract
  * ([[HtmlExtract]]) plus the jusText-lite paragraph classifier in
  * DuckDB. A drift in ANY step (tag scope, entity order, whitespace
  * rule, link-density arithmetic, winner rule) fails the hash gate
  * row-for-row.
  */
object HtmlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The messy page, Spark spelling. */
  private def messyHtml(id: Column, source: Column, text: Column): Column = concat(
    lit("<!DOCTYPE html><html><head><title>Doc "), id, lit("</title>"),
    when(id % 3 === 0, lit("<style>body { color: #333; }</style>")).otherwise(lit("")),
    when(id % 4 === 0,
      lit("<script type=\"text/javascript\">if (a<b && c>d) { nav(); }</script>"))
      .otherwise(lit("")),
    lit("</head><body><NAV class=\"menu\"><a href=\"/home\">Home</a> " +
      "<a href=\"/about\">About us</a> <a href=\"/contact\">Contact</a></NAV>"),
    lit("<h1>"), source, lit(" report "), id, lit("</h1>"),
    when(id % 5 === 0, concat(lit("<!-- build "), id, lit(" -->"))).otherwise(lit("")),
    lit("<p>Intro &amp; summary for <b>doc "), id, lit("</b>: "),
    substring(text, 1, 80), lit("</p>"),
    when(id % 2 === 0, lit("<P CLASS=\"Body\">")).otherwise(lit("<p>")),
    text.substr(lit(81), length(text)),
    lit(" tail &#39;quoted&#39; caf&#233; d&#xE9;j&#224; vu&#X1F600; " +
      "A&amp;#65; bad&#2;ref &#xD800; &eacute; and &amp;lt;escaped&amp;gt; " +
      "long-tail &alpha;&hellip;&mdash;&NotEqualTilde;&fjlig; " +
      "not-a-ref &Amp; &nosuch; &CounterClockwiseContourIntegral; " +
      // legacy semicolon-free axis: bare legacy names decode (&amp,
      // &copy), a legacy prefix wins inside a longer non-name run
      // (&ampx → &x, &timesbar → ×bar, &notit; → ¬it;), non-legacy
      // spellings stay literal (&Yuml — Ÿ was never Latin-1); numeric
      // references decode without their ; too (&#65y → Ay,
      // &#xE9z → éz), while digit-less and disallowed ones stay put
      "legacy &amp x &copy&ampx &GT&LT2 &timesbar &Yuml &notit; " +
      "num &#65y &#xE9z &#x6a &#2x &# &#x end</p>"),
    lit("<div>See <a href=\"/d/"), id, lit("\">doc "), id,
    lit("</a> plus enough trailing words to pass</div>"),
    lit("<ul><li><a href=\"/t/1\">One</a></li><li><a href=\"/t/2\">Two</a></li></ul>"),
    lit("<footer>Copyright owner</footer></body></html>"))

  /** The SAME page in DuckDB SQL — literal-for-literal; `textExpr` is
    * the inner-text SQL (the capstone wraps `text` plus a unicode-mess
    * suffix). */
  private def messyHtmlSqlOf(textExpr: String): String =
    s"""'<!DOCTYPE html><html><head><title>Doc ' || doc_id || '</title>' ||
       CASE WHEN doc_id % 3 = 0 THEN '<style>body { color: #333; }</style>' ELSE '' END ||
       CASE WHEN doc_id % 4 = 0
            THEN '<script type="text/javascript">if (a<b && c>d) { nav(); }</script>'
            ELSE '' END ||
       '</head><body><NAV class="menu"><a href="/home">Home</a> ' ||
       '<a href="/about">About us</a> <a href="/contact">Contact</a></NAV>' ||
       '<h1>' || source || ' report ' || doc_id || '</h1>' ||
       CASE WHEN doc_id % 5 = 0 THEN '<!-- build ' || doc_id || ' -->' ELSE '' END ||
       '<p>Intro &amp; summary for <b>doc ' || doc_id || '</b>: ' ||
       substr($textExpr, 1, 80) || '</p>' ||
       CASE WHEN doc_id % 2 = 0 THEN '<P CLASS="Body">' ELSE '<p>' END ||
       substr($textExpr, 81, length($textExpr)) ||
       ' tail &#39;quoted&#39; caf&#233; d&#xE9;j&#224; vu&#X1F600; ' ||
       'A&amp;#65; bad&#2;ref &#xD800; &eacute; and &amp;lt;escaped&amp;gt; ' ||
       'long-tail &alpha;&hellip;&mdash;&NotEqualTilde;&fjlig; ' ||
       'not-a-ref &Amp; &nosuch; &CounterClockwiseContourIntegral; ' ||
       'legacy &amp x &copy&ampx &GT&LT2 &timesbar &Yuml &notit; ' ||
       'num &#65y &#xE9z &#x6a &#2x &# &#x end</p>' ||
       '<div>See <a href="/d/' || doc_id || '">doc ' || doc_id ||
       '</a> plus enough trailing words to pass</div>' ||
       '<ul><li><a href="/t/1">One</a></li><li><a href="/t/2">Two</a></li></ul>' ||
       '<footer>Copyright owner</footer></body></html>'"""

  private val messyHtmlSql: String = messyHtmlSqlOf("text")

  /** Steps 1+2 of the contract in DuckDB (block tags → `sepSql`,
    * inline tags KEPT — the oracle's `blocked`). */
  private def blockedSql(sepSql: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        '(?s)<!--.*?-->', '', 'g'),
        '(?is)<script[^>]*>.*?</script>', '', 'g'),
        '(?is)<style[^>]*>.*?</style>', '', 'g'),
        '(?i)</?(${HtmlExtract.BlockTags})[^>]*>', $sepSql, 'g')"""

  /** The character-reference pattern both engines consume: the SHARED
    * combined alternation (generated from [[graft.functions
    * .HtmlEntityDecode.referenceAlternation]] — one constant, two
    * engines): every full name WITH its `;`, the numeric arms with
    * theirs, and the 106 legacy semicolon-free names bare,
    * longest-first — the native scan and this regex find the SAME
    * non-overlapping matches over the original string, and the
    * captured group carries the `;` exactly when the reference did. */
  private val EntityRe =
    s"&(${graft.functions.HtmlEntityDecode.referenceAlternation})"

  /** The reference body's codepoint (`e` = group 1, e.g. `#233;` /
    * `#x1F600;` — the trailing `;` rides in the group now): hex
    * digits folded base-16, decimal TRY_CAST (NULL on overflow ⇒
    * literal, same as the scanner's clamp). */
  private def entCpSql(e: String): String =
    s"""CASE WHEN lower(substr($e, 2, 1)) = 'x'
        THEN list_reduce(list_transform(
               string_split(lower(rtrim(substr($e, 3), ';')), ''),
               __hd -> CAST(strpos('0123456789abcdef', __hd) - 1 AS BIGINT)),
             (__ha, __hb) -> __ha * 16 + __hb)
        ELSE TRY_CAST(rtrim(substr($e, 2), ';') AS BIGINT) END"""

  /** Decode one matched reference body, mirroring the scanner's
    * contract: the generated named arms (one per [[graft.functions
    * .HtmlEntityDecode.Named]] entry keyed `name;`, one per legacy
    * name keyed bare — `chr(cp)` chains, never a quoted literal, so
    * the generator is quoting-proof), then numeric iff tab/LF/CR or
    * ≥ U+0020, ≤ U+10FFFF, not a surrogate — anything else
    * reconstructs itself literally (the body carries its own `;`
    * when it had one). With the full 2.1k-name table the generated
    * CASE is ~90 KB of SQL per decode instance — linear text, parsed
    * once per gate; the alternation compiles to one RE2 automaton per
    * query, not per row. */
  private def entDecodeSql(e: String): String = {
    val c = entCpSql(e)
    val byName = graft.functions.HtmlEntityDecode.Named.toMap
    val namedArms = (graft.functions.HtmlEntityDecode.Named
      .map { case (n, s) => (n + ";") -> s } ++
      graft.functions.HtmlEntityDecode.LegacyNames.map(n => n -> byName(n)))
      .map { case (key, s) =>
        val chrs = s.codePoints().toArray
          .map(cp => s"chr($cp)").mkString(" || ")
        s"WHEN $e = '$key' THEN $chrs" }
      .mkString("\n      ")
    s"""CASE
      $namedArms
      WHEN $c IS NOT NULL AND ($c IN (9, 10, 13) OR ($c >= 32
        AND $c <= 1114111 AND NOT ($c BETWEEN 55296 AND 57343)))
        THEN chr(CAST($c AS INTEGER))
      ELSE chr(38) || $e END"""
  }

  /** Entity decode in DuckDB — split/interleave over [[EntityRe]]:
    * pieces and matches are found over the ORIGINAL string exactly as
    * the engine's single left-to-right scan consumes it, so decoded
    * output can never re-decode (`&amp;#65;` → `&#65;`). Lambda
    * parameters carry a `__` prefix — `decodeSql` is spliced into CTEs
    * whose own column names (`i` in [[extractCtes]]) a bare parameter
    * would silently shadow. */
  private def decodeSql(inner: String): String =
    s"""array_to_string(list_transform(
        regexp_split_to_array($inner, '$EntityRe'),
        (__pc, __pi) -> __pc || coalesce(
          list_transform(regexp_extract_all($inner, '$EntityRe', 1),
            __en -> ${entDecodeSql("__en")})[__pi], '')), '')"""

  /** Per-fragment clean in DuckDB: strip remaining tags, decode,
    * collapse ALL whitespace, strip outer ASCII spaces (explicit
    * regex, never `trim` — DuckDB's trim also strips UNICODE spaces,
    * Spark's does not; see [[HtmlExtract.OuterSpaceRe]]). */
  private def cleanSql(x: String): String =
    s"""regexp_replace(regexp_replace(${decodeSql(s"regexp_replace($x, '<[^>]*>', '', 'g')")},
        '[ \\t\\n\\f\\r]+', ' ', 'g'), '${HtmlExtract.OuterSpaceRe}', '', 'g')"""

  /** Unicode mess appended INSIDE the page text for the capstone —
    * NBSP, ZWSP, a decomposed e+U+0301, the ANGSTROM singleton, and
    * (every 5th doc) BEL/DEL — the [[graft.functions.TextNormalize]]
    * surface, exercised AFTER html extraction. Spark and SQL spell
    * the same codepoints. */
  private def uniMessSuffix(id: Column): Column = concat(
    lit(" x\u00A0y\u200B Cafe\u0301 \u212B"),
    when(id % 5 === 0, lit("\u0007q\u007F")).otherwise(lit("")))

  private val uniMessSuffixSql: String =
    """' x' || chr(160) || 'y' || chr(8203) || ' Cafe' || chr(769) ||
       ' ' || chr(8491) ||
       CASE WHEN doc_id % 5 = 0 THEN chr(7) || 'q' || chr(127)
            ELSE '' END"""

  /** The crawl-to-corpus CAPSTONE: the full front-end chain composed
    * in one gated flow — messy page (unicode mess inside the text) →
    * [[HtmlExtract.extractMainContent]] → [[graft.functions
    * .TextNormalize.cleanText]] → Gopher shape filter →
    * [[graft.operators.Curation.filterAndExactDedup]] (lang/quality/
    * token screens + exact dedup). What only the composition catches:
    * stage ORDER (normalization must run on extracted text, the shape
    * filter on normalized text, curation hashes on the final form)
    * and schema/id drift between stages. */
  /** The composed crawl front-end over a `(doc_id, html)` relation:
    * extract → normalize → Gopher shape filter → trainable-NB language
    * ID → curation screens + exact dedup. The extract+normalize regex
    * chains are PINNED once (`GraftSession.pin` — the flow-seam
    * posture of `TrainingDataQueries.curationFlowV2`): downstream
    * stages reference `text` a dozen times, and without the seam
    * Catalyst's alias substitution would re-run the whole markup chain
    * at every reference — measured 3.5× the pinned cost at 100×
    * corpus. At 100 TB this is also the operationally right shape:
    * materialize the cleaned corpus once, then curate.
    *
    * Language is classified by [[graft.operators.LangIdNb]] fit on
    * `labeled` (`lang`, `text`) — the data-driven upgrade over the
    * 4-list marker heuristic (r17 verdict item): the fit is one
    * offline counting pass, predict stays map-only, and the oracle
    * re-derives the ENTIRE fit inside the capstone
    * (`TextQueries.nbCtes`). */
  private[graft] def crawlFlow(raw: DataFrame, labeled: DataFrame,
      cfg: graft.operators.Curation.Config =
        graft.operators.Curation.Config()): DataFrame = {
    import graft.functions.{TextAnalysis, TextNormalize}
    // §1.5 job labels: attribute the flow's eager seams in the UI/probe
    graft.GraftSession.withJobLabels(raw.sparkSession, "crawl") { label =>
    // spread-small seam (guide §2.5): the extract → clean chain is
    // regex-heavy per row and otherwise runs single-task over a
    // sub-split-size page relation (measured: one 1.6 s task inside
    // q_crawl_to_corpus). No-op at scale.
    val extracted = HtmlExtract.extractMainContent(
      graft.GraftSession.spreadSmallInput(raw), "doc_id", "html")
    label("clean_pin")
    val cleaned = graft.GraftSession.pin(
      extracted.select(col("doc_id"),
        TextNormalize.cleanText(col("text")).as("text")))
    val shaped = cleaned.filter(TextAnalysis.gopherShapeOk(col("text")))
    label("nb_fit")
    val model = graft.operators.LangIdNb.fit(
      labeled, "lang", "text", buckets = 1024)
    label("tail")
    val withLang = graft.operators.LangIdNb.predict(shaped, "text", model)
      .select(col("doc_id"), col("text"), col("pred_lang"))
    graft.operators.Curation.filterAndExactDedupWithLang(
      withLang, "doc_id", "text", "pred_lang", cfg)
    }
  }

  /** The capstone's page ADDRESS: scheme/host case, www, default
    * ports, a tracking param and fragments over ~10 hosts, with the
    * page key folded to `doc_id % 250` so canonical-URL re-crawl
    * collisions actually occur (2 docs per page at sf0.01) and the
    * per-domain cap actually bites. Spark and SQL literal-for-literal. */
  private def pageUrl(id: Column): Column = concat(
    when(id % 5 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
    when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
    lit("Site"), id % 10, lit(".Example.COM"),
    when(id % 2 === 0,
      when(id % 5 === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(lit("")),
    lit("/Page/"), id % 250,
    when(id % 4 === 2, lit("?utm_medium=em")).otherwise(lit("")),
    when(id % 8 === 0, lit("#S")).otherwise(lit("")))

  private val pageUrlSql: String =
    """CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'http' END || '://' ||
       CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
       'Site' || (doc_id % 10) || '.Example.COM' ||
       CASE WHEN doc_id % 2 = 0
            THEN CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE ':80' END
            ELSE '' END ||
       '/Page/' || (doc_id % 250) ||
       CASE WHEN doc_id % 4 = 2 THEN '?utm_medium=em' ELSE '' END ||
       CASE WHEN doc_id % 8 = 0 THEN '#S' ELSE '' END"""

  /** Documents per domain kept by the capstone's address stage. */
  private val DomainCapN = 20

  /** The symbol-soup paragraph every 7th page carries: it SURVIVES
    * extraction (5+ words, no links) but pushes the whole document
    * over the Gopher symbol band — the capstone's drop rule must
    * fire, not just its arithmetic. Shared by the batch capstone and
    * its streaming twin. */
  private val SoupPara =
    "<p>#### #### 11 22 33 #### #### 44 55 66 #### ####</p>"

  /** The crawl capstones keep ALL the NB model's languages: the
    * synthetic corpus's `lang` labels are not textually encoded (every
    * lang shares one vocabulary), so NB predictions are legitimate
    * model output but not label-faithful — an `en`-only screen would
    * zero the corpus and make every downstream stage vacuous. The
    * predictions themselves stay hash-gated per row (`pred_lang` is an
    * output column), and the keep-screen RULE is gated separately
    * (q_curation_filter). */
  private[queries] val CrawlKeepLangs = Seq("de", "en", "es", "fr", "zh")

  /** The capstone's survivor CORPUS — address screens first
    * (C4/RefinedWeb order: canonical-URL re-crawl dedup, then the
    * per-domain cap — the cheapest screens before any text work),
    * then the crawl front-end ([[crawlFlow]], NB fit on the full
    * labeled documents table). Shared by `q_crawl_to_corpus` and the
    * v3 training capstone ([[TrainingDataQueries]]), which feeds the
    * survivors into the modern-curation stack. */
  private[queries] def crawlCorpus(s: SparkSession, dir: String,
      cfg: graft.operators.Curation.Config =
        graft.operators.Curation.Config()): DataFrame =
    crawlFlow(crawlPages(s, dir).select("doc_id", "html"),
      Scan.table(s, dir, "documents"), cfg)

  /** The capstone's address-screened PAGE relation `(doc_id, url,
    * html)` — shared by [[crawlCorpus]] and its WARC-transported twin
    * ([[warcToCorpus]]), which must see byte-identical pages. */
  private[queries] def crawlPages(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UrlCuration
    val id = col("doc_id")
    // spread-small seam (guide §2.5): the URL screens' canonicalization
    // (percent-normalize, IDN, PSL walk) is computed in the map stage
    // feeding their exchanges — over a sub-split-size scan that stage
    // is ONE task. No-op at scale.
    val withUrl = graft.GraftSession.spreadSmallInput(
        Scan.table(s, dir, "documents"))
      .select(id, col("source"), col("text"), pageUrl(id).as("url"))
    val addressed = UrlCuration.domainCap(
      UrlCuration.dedupByUrl(withUrl, "doc_id", "url"),
      "doc_id", "url", cap = DomainCapN)
    val soup = when(id % 7 === 0, lit(SoupPara)).otherwise(lit(""))
    // spread-small seam (guide §2.5): the page synthesis below and the
    // whole extract chain above it in crawlFlow are per-row map work;
    // after the URL-screen windows AQE coalesces this tiny relation to
    // ONE post-shuffle partition, so without the respread the synthesis
    // ran as a single 1.6 s task. No-op at scale.
    graft.GraftSession.spreadSmallInput(addressed)
      .select(col("doc_id"), col("url"),
        concat(
          messyHtml(col("doc_id"), col("source"),
            concat(col("text"), uniMessSuffix(col("doc_id")))),
          soup).as("html"))
  }

  val crawlToCorpus: Q = (s, dir) =>
    crawlCorpus(s, dir, graft.operators.Curation.Config(
        keepLangs = CrawlKeepLangs.toSet))
      .select("doc_id", "pred_lang", "quality", "n_tokens")
      .orderBy("doc_id")

  /** The crawl capstone fed through a WARC TRANSPORT seam: the same
    * address-screened pages are written as WARC response records
    * ([[graft.sources.WarcScan.write]] — the format real crawls
    * arrive in), read back through the schema-first scan, and only
    * THEN enter the extract → clean → Gopher → NB-lang → curation
    * flow. The oracle is the batch capstone's oracle VERBATIM: WARC
    * transport must be byte-lossless on page bodies (CRLF handling,
    * Content-Length byte slicing, UTF-8 and the unicode-mess control
    * chars all ride through the record grammar), so one mangled byte
    * anywhere shifts a hash/band/token count and fails the gate. */
  val warcToCorpus: Q = (s, dir) => {
    val pages = crawlPages(s, dir)
      .select(col("doc_id"), col("url"),
        timestamp_seconds(lit(1767225600L) + col("doc_id")).as("ts"),
        col("html"), lit(200).as("status"), lit("").as("flag"))
    val path = SnapshotPaths.dirFor("warc_corpus", dir, s)
    graft.sources.WarcScan.write(pages, "doc_id", "url", "ts", "html",
      "status", "flag", path)
    val fetched = graft.sources.WarcScan.read(s, path + "/*.warc")
      .select(regexp_extract(col("record_id"), "graft:([0-9]+)", 1)
        .cast("long").as("doc_id"), col("body").as("html"))
    crawlFlow(fetched, Scan.table(s, dir, "documents"),
        graft.operators.Curation.Config(keepLangs = CrawlKeepLangs.toSet))
      .select("doc_id", "pred_lang", "quality", "n_tokens")
      .orderBy("doc_id")
  }

  /** Full-page strip under the hash gate. */
  val htmlStrip: Q = (s, dir) => {
    val d = Scan.table(s, dir, "documents")
      .select(col("doc_id"),
        messyHtml(col("doc_id"), col("source"), col("text")).as("html"))
    HtmlExtract.withStrippedHtml(d, "html", "text")
      .select("doc_id", "text")
      .orderBy("doc_id")
  }

  /** jusText-lite main-content extraction under the hash gate
    * (minWords=5, maxLinkDensity=0.3 — the defaults). */
  val htmlExtract: Q = (s, dir) => {
    val d = Scan.table(s, dir, "documents")
      .select(col("doc_id"),
        messyHtml(col("doc_id"), col("source"), col("text")).as("html"))
    HtmlExtract.extractMainContent(d, "doc_id", "html")
      .orderBy("doc_id")
  }

  /** The crawl front-end as a STRUCTURED STREAM: the extract +
    * normalize stages are pure projections, so they run in Append
    * mode with ZERO state — pages stream through the same
    * [[HtmlExtract.extractMainContent]] / [[graft.functions
    * .TextNormalize.cleanText]] plans batch uses, driven AvailableNow
    * over the documents file source, and the memory-sink result must
    * hash-equal the batch oracle. (The stateful downstream — dedup,
    * budgets — is the existing incremental-index / mergeStream
    * machinery; this gate proves the NEW front-end composes into it.) */
  val streamCrawlExtract: Q = (s, dir) => {
    import graft.streaming.StreamingOps
    // the file source needs a DIRECTORY: stage the table into scratch
    // (2 files ⇒ ≥2 micro-batches with maxFilesPerTrigger=1 — the
    // stream path is exercised across batch boundaries, not one gulp)
    val srcDir = SnapshotPaths.dirFor("crawl_stream_src", dir, s)
    Scan.table(s, dir, "documents").repartition(2)
      .write.mode("overwrite").parquet(srcDir)
    // spread-small seam (guide §2.5), streaming form: each micro-batch
    // is ONE file → one scan partition, so the regex-heavy synthesis +
    // extract chain ran as a single ~2 s task per batch (JobProbe r22:
    // 2 jobs × 1 task × ~2 s = the whole query's jobWall) while 31
    // cores idled. One batch-sized exchange spreads it. The width is
    // the session's parallelism, not a constant: at scale a trigger's
    // batch is maxFilesPerTrigger×split-sized and the same exchange
    // stays batch-bounded.
    val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .repartition(s.sparkContext.defaultParallelism)
    val raw = stream.select(col("doc_id"),
      messyHtml(col("doc_id"), col("source"),
        concat(col("text"), uniMessSuffix(col("doc_id")))).as("html"))
    val out = HtmlExtract.extractMainContent(raw, "doc_id", "html")
      .select(col("doc_id"),
        graft.functions.TextNormalize.cleanText(col("text")).as("text"),
        col("n_paras_kept"))
    StreamingOps.runAvailableNow(out, "graft_q_stream_crawl_extract")
      .orderBy("doc_id")
  }

  /** The WHOLE capstone as a STREAM under the hash gate — the r17
    * verdict's "crawl arrives continuously" gap closed: the same page
    * synthesis arrives as TWO ordered micro-batches (mod-time-staged
    * files, `maxFilesPerTrigger=1`), and the stateful screens —
    * canonical-URL dedup, the running domain cap, exact content dedup
    * — must carry across the batch boundary. The id-midpoint split
    * puts EVERY page-key re-crawl collision (doc_id % 250 pairs k
    * with k+250) across the two batches: the case a single batch
    * cannot see, so a state leak (or a state dir that isn't read
    * back) double-admits a page and fails the hash against the
    * one-shot batch oracle. */
  val streamCrawlToCorpus: Q = (s, dir) => {
    import graft.operators.IndexFs
    import graft.streaming.StreamingOps
    val id = col("doc_id")
    val soup = when(id % 7 === 0, lit(SoupPara)).otherwise(lit(""))
    val pages = Scan.table(s, dir, "documents")
      .select(id, pageUrl(id).as("url"),
        concat(messyHtml(id, col("source"),
          concat(col("text"), uniMessSuffix(id))), soup).as("html"))
    val srcDir = SnapshotPaths.dirFor("crawl_corpus_stream_src", dir, s)
    val stateDir = SnapshotPaths.dirFor("crawl_corpus_stream_state", dir, s)
    val outDir = SnapshotPaths.dirFor("crawl_corpus_stream_out", dir, s)
    val ckptDir = SnapshotPaths.dirFor("crawl_corpus_stream_ckpt", dir, s)
    // fresh run each time (the streamIncrementalDedup posture): stale
    // state/outputs from a differently-batched previous run would
    // otherwise leak into the read-back
    Seq(stateDir, outDir, ckptDir).foreach(IndexFs.deleteRecursively(s, _))
    val maxId = pages.agg(max("doc_id")).collect()(0).getLong(0)
    val mid = maxId / 2 + 1
    StreamingOps.stageOrderedFiles(s, srcDir,
      Seq(pages.filter(id < mid), pages.filter(id >= mid)))
    val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    // the NB model is fit ONCE, offline, and rides every micro-batch —
    // the operational shape (a stream cannot refit per trigger), and
    // identical to the batch capstone's fit on the same labeled table
    val model = graft.operators.LangIdNb.fit(
      Scan.table(s, dir, "documents"), "lang", "text", buckets = 1024)
    StreamingOps.crawlToCorpusStream(stream, "doc_id", "url", "html",
        stateDir, outDir, ckptDir, domainCap = DomainCapN,
        cfg = graft.operators.Curation.Config(
          keepLangs = CrawlKeepLangs.toSet),
        langModel = Some(model))
      .awaitTermination()
    StreamingOps.readBatchOutputs(s, outDir, srcDir)
      .select("doc_id", "pred_lang", "quality", "n_tokens")
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = ListMap(
    "q_html_strip" -> htmlStrip,
    "q_html_extract" -> htmlExtract,
    "q_crawl_to_corpus" -> crawlToCorpus,
    "q_warc_to_corpus" -> warcToCorpus,
    "q_stream_crawl_extract" -> streamCrawlExtract,
    "q_stream_crawl_to_corpus" -> streamCrawlToCorpus)

  val oracles: Map[String, String] = ListMap(
    "q_html_strip" ->
      s"""WITH h AS (SELECT doc_id, $messyHtmlSql AS html FROM documents),
          s AS (SELECT doc_id,
            regexp_replace(${blockedSql("chr(10)")}, '<[^>]*>', '', 'g') AS t1
            FROM h),
          d AS (SELECT doc_id, ${decodeSql("t1")} AS t2 FROM s)
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(t2,
              '[ \\t\\n\\f\\r]*\\n[ \\t\\n\\f\\r]*', chr(10), 'g'),
              '[ \\t\\f\\r]+', ' ', 'g'),
              '^[\\n ]+|[\\n ]+$$', '', 'g') AS text
          FROM d ORDER BY doc_id""",
    "q_html_extract" ->
      s"""WITH h AS (SELECT doc_id, $messyHtmlSql AS html FROM documents),
          $extractCtes
          SELECT doc_id, text, n_paras_kept, n_paras_dropped
          FROM extracted ORDER BY doc_id""",
    "q_crawl_to_corpus" -> crawlToCorpusOracle,
    // the batch capstone's oracle VERBATIM: the WARC transport seam
    // must be byte-lossless, so the expected rows are identical
    "q_warc_to_corpus" -> crawlToCorpusOracle,
    // the streaming capstone must equal the one-shot batch derivation
    // EXACTLY (ordered arrival makes first-arrival ≡ keep-smallest-id)
    // — same oracle, so any cross-batch state leak fails the hash
    "q_stream_crawl_to_corpus" -> crawlToCorpusOracle,
    // the streaming front-end result ≡ the batch derivation: same page
    // synthesis (suffix, no soup), shared extract classifier CTEs,
    // shared cleanup SQL — the stream adds execution machinery, never
    // semantics
    "q_stream_crawl_extract" ->
      s"""WITH h AS (SELECT doc_id,
            ${messyHtmlSqlOf(s"(text || $uniMessSuffixSql)")} AS html
            FROM documents),
          $extractCtes
          SELECT doc_id, ${TextQueries.cleanTextSql("text")} AS text,
            n_paras_kept
          FROM extracted ORDER BY doc_id""")

  /** The jusText-lite classifier + reassembly CTE chain over an
    * `h(doc_id, html)` CTE — emits `extracted(doc_id, text,
    * n_paras_kept, n_paras_dropped)`. Shared by the q_html_extract
    * oracle and the crawl-to-corpus capstone, so the classifier SQL
    * can never fork from itself. */
  private def extractCtes: String =
    s"""m AS (SELECT doc_id, string_split(${blockedSql("chr(1)")}, chr(1)) AS fs
          FROM h),
        p AS (SELECT doc_id, fs, unnest(range(1, len(fs) + 1)) AS i FROM m),
        c AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
            ${cleanSql("fs[i]")} AS ctext,
            COALESCE(list_sum(list_transform(
              regexp_extract_all(fs[i], '(?is)<a[^>]*>(.*?)</a>', 1),
              x -> length(${cleanSql("x")}))), 0) AS link_chars
          FROM p),
        k AS (SELECT * FROM c WHERE ctext <> ''),
        g AS (SELECT *,
            CASE WHEN (length(ctext) - length(replace(ctext, ' ', '')) + 1) >= 5
                  AND CAST(link_chars AS DOUBLE) / GREATEST(length(ctext), 1) <= 0.3
                 THEN 1 ELSE 0 END AS good
          FROM k),
        extracted AS MATERIALIZED (SELECT doc_id,
            STRING_AGG(ctext, chr(10) ORDER BY pos) FILTER (WHERE good = 1) AS text,
            CAST(COUNT(*) FILTER (WHERE good = 1) AS BIGINT) AS n_paras_kept,
            CAST(COUNT(*) FILTER (WHERE good = 0) AS BIGINT) AS n_paras_dropped
          FROM g GROUP BY doc_id
          HAVING COUNT(*) FILTER (WHERE good = 1) > 0)"""

  /** The capstone's CTE stack — the PROVEN stage spellings composed:
    * page synthesis (with the unicode-mess suffix inside the text),
    * URL canonicalization screens, the shared [[extractCtes]]
    * classifier, the shared five-step cleanup
    * (`TextQueries.cleanTextSql`), the shared Gopher bands
    * (`TextQueries.gopherRawCte`/`gopherOkSql`), the NB language fit
    * re-derived from the labeled corpus (`TextQueries.nbCtes`) and
    * the curation feature/filter/dedup CTEs — one drifted value at
    * ANY stage boundary fails the final hash. Emits `surv(doc_id,
    * text, pred_lang, quality, n_tokens)`; shared by the two crawl
    * capstone gates and the v3 training capstone. */
  private[queries] def crawlCorpusCtes(keepLangs: Seq[String]): String =
    s"""u AS (SELECT doc_id, $pageUrlSql AS url FROM documents),
        ${UrlQueries.canonCtesSqlPrefixed("url_")},
        urls AS (
          SELECT doc_id, ${UrlQueries.canonicalSql} AS canonical, host
          FROM url_hp),
        urlwin AS (
          SELECT doc_id, host FROM urls
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY canonical ORDER BY doc_id) = 1),
        capped AS (
          SELECT doc_id FROM urlwin
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY host ORDER BY doc_id) <= $DomainCapN),
        h AS (SELECT d.doc_id,
          ${messyHtmlSqlOf(s"(text || $uniMessSuffixSql)")} ||
          CASE WHEN d.doc_id % 7 = 0
               THEN '$SoupPara'
               ELSE '' END AS html
          FROM documents d JOIN capped USING (doc_id)),
        $extractCtes,
        cleaned AS MATERIALIZED (SELECT doc_id,
            ${TextQueries.cleanTextSql("text")} AS text
          FROM extracted),
        gop AS (${TextQueries.gopherRawCte("cleaned")}),
        shaped AS MATERIALIZED (SELECT doc_id, text FROM gop
          WHERE ${TextQueries.gopherOkSql}),
        ${TextQueries.nbCtes("documents",
          "(SELECT doc_id, text FROM shaped)", "nb_")},
        ${TextQueries.curationFeatureCtesWithLang(
          "shaped", "nb_pred", keepLangs)},
        canon AS (
          SELECT content_hash, MIN(doc_id) AS doc_id
          FROM kept GROUP BY content_hash),
        surv AS MATERIALIZED (
          SELECT k.doc_id, k.text, k.pred_lang, k.quality, k.n_tokens
          FROM kept k
          JOIN canon c ON k.content_hash = c.content_hash
            AND k.doc_id = c.doc_id)"""

  private def crawlToCorpusOracle: String =
    s"""WITH ${crawlCorpusCtes(CrawlKeepLangs)}
        SELECT doc_id, pred_lang, quality, n_tokens FROM surv
        ORDER BY doc_id"""
}
