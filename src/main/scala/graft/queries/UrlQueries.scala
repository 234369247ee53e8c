package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.Pinnable
import graft.operators.UrlCuration
import graft.sources.Scan

/** Domain/URL curation gates. The documents table carries no URL
  * column, so both engines SYNTHESIZE the same deliberately-messy URL
  * from (doc_id, source) — upper-cased schemes and hosts, `www.`
  * prefixes, default and non-default ports, trailing slashes,
  * tracking parameters in every position, fragments — and the oracle
  * then re-implements the full 8-step canonicalization contract
  * ([[UrlCuration]]) in DuckDB string ops. A drift in ANY step (port
  * rule, query re-rooting, case scope, winner rule) fails the hash
  * gate row-for-row.
  */
object UrlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The messy URL, Spark spelling. Exercises every canonicalization
    * step: scheme case (%5), www (%3), default/non-default ports
    * (%2/%11), percent escapes — unreserved both hex cases, reserved
    * lowercase hex, malformed, letter decode (%7) — path case
    * (always), trailing slash (%6), tracking params
    * leading/trailing/alone (%4), fragment (%8). */
  private def messyUrl(id: Column, source: Column): Column = concat(
    when(id % 5 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
    when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
    lit("Site"), id % 37, lit(".Example.COM"),
    when(id % 2 === 0,
      when(id % 5 === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(when(id % 11 === 0, lit(":8080")).otherwise(lit(""))),
    lit("/Articles/"),
    when(id % 7 === 0, lit("%7EUser/"))
      .when(id % 7 === 1, lit("%7euser/"))
      .when(id % 7 === 2, lit("a%2fb/"))
      .when(id % 7 === 3, lit("a%zzb%/"))
      .when(id % 7 === 4, lit("%41bc/"))
      .otherwise(lit("")),
    source, lit("/"), id,
    when(id % 6 === 0, lit("/")).otherwise(lit("")),
    when(id % 4 === 0, concat(lit("?utm_source=feed&page="), id % 7))
      .when(id % 4 === 1, concat(lit("?page="), id % 7, lit("&utm_campaign=x")))
      .when(id % 4 === 2, lit("?utm_medium=em"))
      .otherwise(lit("")),
    when(id % 8 === 0, lit("#Section2")).otherwise(lit("")))

  /** The SAME messy URL in DuckDB SQL — literal-for-literal. */
  private val messyUrlSql: String =
    """CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'http' END || '://' ||
       CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
       'Site' || (doc_id % 37) || '.Example.COM' ||
       CASE WHEN doc_id % 2 = 0
            THEN CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE ':80' END
            ELSE CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END END ||
       '/Articles/' ||
       CASE WHEN doc_id % 7 = 0 THEN '%7EUser/'
            WHEN doc_id % 7 = 1 THEN '%7euser/'
            WHEN doc_id % 7 = 2 THEN 'a%2fb/'
            WHEN doc_id % 7 = 3 THEN 'a%zzb%/'
            WHEN doc_id % 7 = 4 THEN '%41bc/'
            ELSE '' END ||
       source || '/' || doc_id ||
       CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END ||
       CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&page=' || (doc_id % 7)
            WHEN doc_id % 4 = 1 THEN '?page=' || (doc_id % 7) || '&utm_campaign=x'
            WHEN doc_id % 4 = 2 THEN '?utm_medium=em'
            ELSE '' END ||
       CASE WHEN doc_id % 8 = 0 THEN '#Section2' ELSE '' END"""

  /** RFC 3986 §6.2.2 percent-encoding normalization re-spelled in
    * DuckDB list ops over `$x`: split on `%`, re-walk each piece —
    * a two-hex-digit head is decoded if the octet is UNRESERVED
    * (the hex-pair alternation is GENERATED from the Scala constant,
    * [[graft.functions.PctNormalize.unreservedHexAlternation]], so
    * the two engines share one set) or re-emitted uppercased, a
    * malformed head keeps its literal `%`. The decoded char is
    * re-derived ARITHMETICALLY (strpos into the hex alphabet → chr),
    * an independent spelling of the scanner's table-free decode. */
  private[queries] def pctNormSql(x: String): String = {
    val alt = graft.functions.PctNormalize.unreservedHexAlternation
    s"""CASE WHEN strpos($x, '%') = 0 THEN $x ELSE
          string_split($x, '%')[1] ||
          list_aggregate(list_transform(string_split($x, '%')[2:],
            t -> CASE WHEN regexp_matches(t, '^[0-9A-Fa-f]{2}')
              THEN CASE WHEN regexp_matches(UPPER(substr(t, 1, 2)),
                     '^($alt)$$')
                THEN chr(CAST((strpos('0123456789ABCDEF',
                       substr(UPPER(t), 1, 1)) - 1) * 16
                     + strpos('0123456789ABCDEF',
                       substr(UPPER(t), 2, 1)) - 1 AS INTEGER)) || substr(t, 3)
                ELSE '%' || UPPER(substr(t, 1, 2)) || substr(t, 3) END
              ELSE '%' || t END), 'string_agg', '')
        END"""
  }

  /** The IDN gate axes' planted Unicode hosts, paired with their
    * punycode A-labels through the SAME `java.net.IDN.toASCII` call
    * the engine expression uses ([[graft.functions.IdnHost]]) — the
    * oracle-side constants are GENERATED here, so the two engines
    * cannot drift on the planted set (DuckDB has no punycode; the
    * general mapping is gate-pinned through these axes). */
  private[queries] val IdnAxisHosts: Seq[(String, String)] =
    Seq("bücher.example.com", "müller.de").map(h =>
      h -> java.net.IDN.toASCII(h).toLowerCase(java.util.Locale.ROOT))

  /** The oracle's IDN host step: exact-match CASE over the planted
    * axis hosts (everything else — the all-ASCII world — is the
    * engine expression's untouched fast path, identity here too). */
  private def idnHostMapSql(h: String): String =
    "CASE " + IdnAxisHosts.map { case (u, a) =>
      s"WHEN ($h) = '$u' THEN '$a'" }.mkString(" ") + s" ELSE ($h) END"

  /** The oracle's independent canonicalization: the 8 steps re-spelled
    * in DuckDB regex/list ops over a `u(doc_id, url)` CTE. Emits
    * `hp(doc_id, url, scheme, host, path, q0)`. */
  /** [[canonCtesSql]] with PREFIXED internal CTE names, so a composing
    * oracle (the crawl capstones, the frontier gate) can stack it next
    * to CTE chains that already use `c`/`h`/`hp` — or instantiate it
    * TWICE over different `(doc_id, url)` sources. Emits `<p>hp`. */
  private[queries] def canonCtesSqlPrefixed(p: String,
      src: String = "u"): String =
    s"""${p}pn AS (
          SELECT doc_id, url, ${pctNormSql("TRIM(url)")} AS pu
          FROM $src),
        ${p}c AS (
          SELECT doc_id, url,
            LOWER(REGEXP_EXTRACT(pu,
              '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            REGEXP_REPLACE(REGEXP_REPLACE(pu,
              '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', '') AS nofrag
          FROM ${p}pn),
        ${p}h AS (
          SELECT *,
            REGEXP_REPLACE(LOWER(REGEXP_EXTRACT(nofrag, '^([^/?]*)', 1)),
              '^www\\.', '') AS hostport,
            REGEXP_REPLACE(nofrag, '^[^/?]*', '') AS rest
          FROM ${p}c),
        ${p}hp AS (
          SELECT doc_id, url, scheme,
            ${idnHostMapSql(
      """CASE WHEN scheme = 'http'
                   THEN REGEXP_REPLACE(hostport, ':80$', '')
                 WHEN scheme = 'https'
                   THEN REGEXP_REPLACE(hostport, ':443$', '')
                 ELSE hostport END""")} AS host,
            REGEXP_REPLACE(REGEXP_EXTRACT(rest, '^([^?]*)', 1),
              '/+$$', '') AS path,
            REGEXP_REPLACE(REGEXP_REPLACE(
              REGEXP_REPLACE(rest, '^[^?]*', ''),
              '[?&]${UrlCuration.TrackingParamsRe}=[^&]*', '', 'g'),
              '^&', '?') AS q0
          FROM ${p}h)"""

  private[queries] val canonCtesSql: String = canonCtesSqlPrefixed("")

  private[queries] val canonicalSql =
    "scheme || '://' || host || path || " +
      "(CASE WHEN q0 = '?' THEN '' ELSE q0 END)"

  /** URL canonicalization under the hash gate. */
  val urlCanonical: Q = (s, dir) => {
    val d = Scan.table(s, dir, "documents")
      .select(col("doc_id"),
        messyUrl(col("doc_id"), col("source")).as("url"))
    UrlCuration.withDomain(
        UrlCuration.withCanonicalUrl(d, "url"), "url")
      .select("doc_id", "url", "canonical_url", "domain")
      .orderBy("doc_id")
  }

  /** Canonical-URL keep-smallest-id dedup under the hash gate. The
    * page path collapses to doc_id % 20 (no source component), so
    * scheme/www/port/tracking/fragment VARIANTS of the same 20 pages
    * collide exactly when canonicalization is correct — including the
    * PERCENT-SPELLING axis (`%7E`/`%7e`/`~` by doc_id % 3 spell the
    * same path, so the three spellings of one page must merge), while
    * the reserved-escape query axis must merge the two HEX CASES
    * (`?a=%2f` ≡ `?a=%2F`) but NOT the decoded form (`?a=/` stays a
    * distinct key — decoding a reserved octet is not equivalence);
    * `doc:` rows (%13 == 0) are non-URLs and must be exempt, while
    * the ESCAPED-SCHEME rows (%13 == 1, `%68ttp://…`) ARE URLs whose
    * canonical collides with the plain spelling — an isUrlish vs
    * canonicalizer normalization split mis-classifies them; the IDN
    * axis (%13 == 2 spells the host `xn--bcher-kva…`, %13 == 3 spells
    * it `BÜCHER…`) collides exactly when the punycode mapping
    * ([[graft.functions.IdnHost]]) is correct — the oracle's A-label
    * constant is generated from the same `java.net.IDN` call. */
  val urlDedup: Q = (s, dir) => {
    val id = col("doc_id")
    val url = when(id % 13 === 0, concat(lit("doc:"), id)).otherwise(concat(
      when(id % 13 === 1, lit("%68ttp")) // escaped scheme: IS a URL
        .when(id % 5 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      when(id % 13 === 2, lit("xn--bcher-kva.Example.COM"))
        .when(id % 13 === 3, lit("BÜCHER.Example.COM"))
        .otherwise(concat(lit("Site"), id % 10, lit(".Example.COM"))),
      when(id % 2 === 0,
        when(id % 5 === 0, lit(":443")).otherwise(lit(":80")))
        .otherwise(lit("")),
      lit("/Page/"),
      when(id % 3 === 0, lit("%7E")).when(id % 3 === 1, lit("%7e"))
        .otherwise(lit("~")),
      id % 20,
      when(id % 6 === 0, lit("/")).otherwise(lit("")),
      when(id % 4 === 2, lit("?utm_medium=em"))
        .when(id % 11 === 0, lit("?a=%2f"))
        .when(id % 11 === 1, lit("?a=%2F"))
        .when(id % 11 === 2, lit("?a=/"))
        .otherwise(lit("")),
      when(id % 8 === 0, lit("#Section2")).otherwise(lit(""))))
    val d = Scan.table(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
    UrlCuration.dedupByUrl(d, "doc_id", "url")
      .select("doc_id").orderBy("doc_id")
  }

  private val urlDedupMessySql: String =
    """CASE WHEN doc_id % 13 = 0 THEN 'doc:' || doc_id ELSE
         CASE WHEN doc_id % 13 = 1 THEN '%68ttp'
              WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'http' END || '://' ||
         CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
         CASE WHEN doc_id % 13 = 2 THEN 'xn--bcher-kva.Example.COM'
              WHEN doc_id % 13 = 3 THEN 'BÜCHER.Example.COM'
              ELSE 'Site' || (doc_id % 10) || '.Example.COM' END ||
         CASE WHEN doc_id % 2 = 0
              THEN CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE ':80' END
              ELSE '' END ||
         '/Page/' ||
         CASE WHEN doc_id % 3 = 0 THEN '%7E'
              WHEN doc_id % 3 = 1 THEN '%7e' ELSE '~' END ||
         (doc_id % 20) ||
         CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 4 = 2 THEN '?utm_medium=em'
              WHEN doc_id % 11 = 0 THEN '?a=%2f'
              WHEN doc_id % 11 = 1 THEN '?a=%2F'
              WHEN doc_id % 11 = 2 THEN '?a=/'
              ELSE '' END ||
         CASE WHEN doc_id % 8 = 0 THEN '#Section2' ELSE '' END
       END"""

  /** Per-domain cap under the hash gate (cap=3, deterministic
    * smallest-id order — the constant-score [[UrlCuration.domainCap]]
    * path; the oracle re-ranks with a window over ITS canonical
    * domain). */
  val domainCap: Q = (s, dir) => {
    val d = Scan.table(s, dir, "documents")
      .select(col("doc_id"),
        messyUrl(col("doc_id"), col("source")).as("url"))
    UrlCuration.domainCap(d, "doc_id", "url", cap = 3)
      .select("doc_id", "domain", "domain_rank")
      .orderBy("doc_id")
  }

  /** Hosts exercising every PSL rule kind the registered-domain cap
    * must handle: a subdomain farm under a MULTI-LABEL public suffix
    * (`sub*.farm.co.uk` — the case the host cap provably misses),
    * ordinary eTLD+1s (`news.site*.co.uk`, `deep.a.site*.com.au`),
    * private-section platform suffixes (`user*.github.io` — each user
    * site its own unit), `www.` + IDN canonicalization feeding the
    * match (`WWW.Müller.de` and `xn--mller-kva.de` must land in ONE
    * cap unit — the punycode mapping runs BEFORE the PSL walk),
    * a wildcard EXCEPTION farm (`foo*.www.ck` → all one `www.ck`
    * unit), the kawasaki.jp exception, IPv4 hosts with ports, and
    * non-URL rows sharing the `''` unit. */
  private def pslUrl(id: Column): Column = {
    val m = id % 9
    when(m === 0, concat(lit("http://sub"), id % 7, lit(".farm.co.uk/a/"), id))
      .when(m === 1, concat(lit("http://news.site"), id % 3, lit(".co.uk/a/"), id))
      .when(m === 2, concat(lit("http://user"), id % 5, lit(".github.io/a/"), id))
      .when(m === 3, concat(lit("http://deep.a.site"), id % 3, lit(".com.au/a/"), id))
      // IDN axis: the Unicode and punycode spellings of ONE German
      // registry name must share ONE eTLD+1 cap unit
      .when(m === 4,
        when(id % 2 === 0, concat(lit("http://WWW.Müller.de/a/"), id))
          .otherwise(concat(lit("http://xn--mller-kva.de/a/"), id)))
      .when(m === 5, concat(lit("http://foo"), id % 4, lit(".www.ck/a/"), id))
      .when(m === 6, concat(lit("http://s"), id % 5, lit(".city.kawasaki.jp/a/"), id))
      .when(m === 7, concat(lit("http://10."), id % 3, lit(".0.42:8080/a/"), id))
      .otherwise(concat(lit("doc:"), id))
  }

  private val pslUrlSql: String =
    """CASE
         WHEN doc_id % 9 = 0 THEN 'http://sub' || (doc_id % 7) || '.farm.co.uk/a/' || doc_id
         WHEN doc_id % 9 = 1 THEN 'http://news.site' || (doc_id % 3) || '.co.uk/a/' || doc_id
         WHEN doc_id % 9 = 2 THEN 'http://user' || (doc_id % 5) || '.github.io/a/' || doc_id
         WHEN doc_id % 9 = 3 THEN 'http://deep.a.site' || (doc_id % 3) || '.com.au/a/' || doc_id
         WHEN doc_id % 9 = 4 THEN
           CASE WHEN doc_id % 2 = 0 THEN 'http://WWW.Müller.de/a/' || doc_id
                ELSE 'http://xn--mller-kva.de/a/' || doc_id END
         WHEN doc_id % 9 = 5 THEN 'http://foo' || (doc_id % 4) || '.www.ck/a/' || doc_id
         WHEN doc_id % 9 = 6 THEN 'http://s' || (doc_id % 5) || '.city.kawasaki.jp/a/' || doc_id
         WHEN doc_id % 9 = 7 THEN 'http://10.' || (doc_id % 3) || '.0.42:8080/a/' || doc_id
         ELSE 'doc:' || doc_id
       END"""

  /** Registered-domain (PSL eTLD+1) cap under the hash gate (cap=4,
    * smallest-id order). The query snapshots the parsed rule table;
    * the oracle RE-DERIVES the whole PSL match from it — label
    * suffixes, wildcard/exception precedence, the implicit `*` rule,
    * IPv4 and public-suffix-host fallbacks — then re-ranks and caps
    * over ITS registered domain. */
  val domainCapPsl: Q = (s, dir) => {
    val d = Scan.table(s, dir, "documents")
      .select(col("doc_id"),
        pslUrl(col("doc_id")).as("url"))
    val rules = graft.functions.PslTable.fixture.toRows
    s.createDataFrame(rules).toDF("kind", "rule")
      .coalesce(1).write.mode("overwrite")
      .parquet(SnapshotPaths.dirFor("psl_rules", dir, s))
    UrlCuration.registeredDomainCap(d, "doc_id", "url", cap = 4,
        table = graft.functions.PslTable.fixture)
      .select("doc_id", "domain", "domain_rank")
      .orderBy("doc_id")
  }

  /** The frontier gate's page: its own fetch URL plus an outlink
    * block exercising every RFC 3986 reference class the resolver
    * handles — a tracking-parameter/default-port/case-messy absolute
    * link (double-quoted), a scheme/www/trailing-slash variant link
    * (single-quoted), root-relative, dot-segment (`../`, `../../`
    * over the root, `./`), plain-relative, query-only,
    * protocol-relative, fragment-only (must collapse into the page
    * itself and be seen-screened) and non-URL (`doc:`) links. Some
    * targets coincide with fetched pages (the seen screen fires),
    * some repeat across pages (in-degree > 1). */
  private def frontierPageUrl(id: Column): Column = concat(
    lit("http://Site"), id % 10, lit(".Example.COM/Page/"), id)

  private val frontierPageUrlSql: String =
    "'http://Site' || (doc_id % 10) || '.Example.COM/Page/' || doc_id"

  private def frontierHtml(id: Column): Column = concat(
    lit("<html><body><p>Doc "), id, lit("</p><ul>"),
    lit("<li><a href=\"http://Site"), (id + 1) % 10,
    lit(".Example.COM:80/Page/"), (id * 3) % 400,
    lit("?utm_source=x\">next</a></li>"),
    lit("<li><a href='https://WWW.site"), id % 7,
    lit(".example.com/Page/"), (id * 7) % 400, lit("/'>alt</a></li>"),
    when(id % 3 === 0,
      concat(lit("<li><a href=\"/rel/"), id, lit("\">rel</a></li>")))
      .otherwise(lit("")),
    when(id % 4 === 1,
      concat(lit("<li><a href=\"../Up/"), id % 60, lit("\">up</a></li>")))
      .otherwise(lit("")),
    when(id % 4 === 2,
      concat(lit("<li><a href=\"sub/"), id % 45, lit(".html\">sub</a></li>")))
      .otherwise(lit("")),
    when(id % 4 === 3,
      concat(lit("<li><a href=\"?p="), id % 5, lit("\">page</a></li>")))
      .otherwise(lit("")),
    when(id % 6 === 1,
      concat(lit("<li><a href=\"//CDN.Example.COM/a/"), id % 50,
        lit("\">cdn</a></li>"))).otherwise(lit("")),
    when(id % 6 === 2, lit("<li><a href=\"#sec\">self</a></li>"))
      .otherwise(lit("")),
    when(id % 7 === 0,
      concat(lit("<li><a href=\"./here/../../../Deep/"), id % 30,
        lit("\">deep</a></li>"))).otherwise(lit("")),
    when(id % 5 === 0, lit("<li><a href=\"doc:raw\">nonurl</a></li>"))
      .otherwise(lit("")),
    // whitespace-padded href (legal per HTML): the resolver must trim
    // ALL ASCII whitespace — tab and newline, not just spaces — and
    // the oracle mirrors the same class
    when(id % 9 === 4,
      concat(lit("<li><a href=\"\t\n/tab/"), id % 25,
        lit(" \">tab</a></li>"))).otherwise(lit("")),
    lit("</ul></body></html>"))

  private val frontierHtmlSql: String =
    """'<html><body><p>Doc ' || doc_id || '</p><ul>' ||
       '<li><a href="http://Site' || ((doc_id + 1) % 10) ||
       '.Example.COM:80/Page/' || ((doc_id * 3) % 400) ||
       '?utm_source=x">next</a></li>' ||
       '<li><a href=' || chr(39) || 'https://WWW.site' || (doc_id % 7) ||
       '.example.com/Page/' || ((doc_id * 7) % 400) || '/' || chr(39) ||
       '>alt</a></li>' ||
       CASE WHEN doc_id % 3 = 0
            THEN '<li><a href="/rel/' || doc_id || '">rel</a></li>'
            ELSE '' END ||
       CASE WHEN doc_id % 4 = 1
            THEN '<li><a href="../Up/' || (doc_id % 60) || '">up</a></li>'
            ELSE '' END ||
       CASE WHEN doc_id % 4 = 2
            THEN '<li><a href="sub/' || (doc_id % 45) || '.html">sub</a></li>'
            ELSE '' END ||
       CASE WHEN doc_id % 4 = 3
            THEN '<li><a href="?p=' || (doc_id % 5) || '">page</a></li>'
            ELSE '' END ||
       CASE WHEN doc_id % 6 = 1
            THEN '<li><a href="//CDN.Example.COM/a/' || (doc_id % 50) ||
                 '">cdn</a></li>'
            ELSE '' END ||
       CASE WHEN doc_id % 6 = 2
            THEN '<li><a href="#sec">self</a></li>' ELSE '' END ||
       CASE WHEN doc_id % 7 = 0
            THEN '<li><a href="./here/../../../Deep/' || (doc_id % 30) ||
                 '">deep</a></li>'
            ELSE '' END ||
       CASE WHEN doc_id % 5 = 0
            THEN '<li><a href="doc:raw">nonurl</a></li>' ELSE '' END ||
       CASE WHEN doc_id % 9 = 4
            THEN '<li><a href="' || chr(9) || chr(10) || '/tab/' ||
                 (doc_id % 25) || ' ">tab</a></li>'
            ELSE '' END ||
       '</ul></body></html>'"""

  /** One textual dot-removal step over a path column `p` — the
    * PRIORITIZED leftmost rewrite (apply exactly ONE rule per step):
    * single-dot segments first (so `..` can never consume a `.`
    * segment), then a root-level `..` (drops — RFC: extra `..` above
    * the root are removed), then the leftmost `seg/..` pop. With
    * single-dots cleared first and the root rule ahead of the pop
    * rule, the leftmost `/X/../` always has X = the segment the stack
    * algorithm would pop (X can be empty — RFC preserves empty
    * segments and `..` pops them like any other). Each step consumes
    * exactly one dot segment, so [[DotSteps]] iterations suffice for
    * any path with that many — the final poison arm makes an
    * under-iterated path fail the hash LOUDLY instead of passing with
    * residue. */
  private def dotStepSql(p: String): String =
    s"""CASE
        WHEN regexp_matches($p, '/\\.(/|$$)')
          THEN regexp_replace($p, '/\\.(/|$$)', '/')
        WHEN regexp_matches($p, '^/\\.\\.(/|$$)')
          THEN regexp_replace($p, '^/\\.\\.(/|$$)', '/')
        WHEN regexp_matches($p, '/[^/]*/\\.\\.(/|$$)')
          THEN regexp_replace($p, '/[^/]*/\\.\\.(/|$$)', '/')
        ELSE $p END"""

  private val DotRuleRe = """/\.(/|$)|^/\.\.(/|$)|/[^/]*/\.\.(/|$)"""
  private val DotSteps = 8

  /** RFC 3986 §5 reference resolution re-derived in SQL over a
    * `(doc_id, base, ref)` source: the branch table of §5.2.2 (own
    * scheme / protocol-relative / root-relative / query-only /
    * fragment-or-empty / merged relative) and §5.2.4 dot-segment
    * removal as [[DotSteps]] unrolled single-rule rewrites with a
    * loud poison arm. Emits `<p>rs(doc_id, url)` (NULL url = a
    * relative ref with no resolvable base, mirroring
    * [[graft.functions.UrlResolve]]). Opaque `scheme:` refs (no
    * `://`) pass through without dot removal — the gates keep those
    * refs dotless, and the downstream urlish screen drops them
    * anyway. */
  private[queries] def resolveCtesSqlPrefixed(p: String, src: String): String = {
    // each step references `pth` 7 times; DuckDB inlines CTEs by
    // default, so an unmaterialized chain re-inlines 7^steps copies of
    // the base expression (the crawl-capstone re-inlining pathology) —
    // MATERIALIZED pins each step to one evaluation
    val steps = (1 to DotSteps).map { i =>
      s"""${p}rf$i AS MATERIALIZED (SELECT doc_id, resolved, pre, tail,
            ${dotStepSql("pth")} AS pth FROM ${p}rf${i - 1})"""
    }.mkString(",\n        ")
    s"""${p}r0 AS (SELECT doc_id,
          regexp_replace(regexp_replace(base,
            '^[\\x00-\\x20]+', ''), '[\\x00-\\x20]+$$', '') AS base,
          regexp_replace(regexp_replace(ref,
            '^[\\x00-\\x20]+', ''), '[\\x00-\\x20]+$$', '') AS ref
          FROM $src),
        ${p}r1 AS (SELECT doc_id, ref,
            regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bscheme,
            regexp_extract(regexp_replace(base,
              '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1) AS bauth,
            regexp_replace(regexp_replace(regexp_replace(base,
              '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?#]*', ''),
              '#.*$$', '') AS bpq
          FROM ${p}r0),
        ${p}r2 AS (SELECT doc_id, ref, bscheme, bauth,
            regexp_extract(bpq, '^([^?]*)', 1) AS bpath,
            regexp_replace(bpq, '^[^?]*', '') AS bquery,
            regexp_extract(ref, '^([^?#]*)', 1) AS rpath,
            regexp_replace(ref, '^[^?#]*', '') AS rtail
          FROM ${p}r1),
        ${p}r3 AS (SELECT doc_id,
            CASE
              WHEN regexp_matches(ref, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN ref
              WHEN bscheme = '' THEN NULL
              WHEN ref = '' THEN bscheme || '://' || bauth || bpath || bquery
              WHEN ref LIKE '//%' THEN bscheme || ':' || ref
              WHEN ref LIKE '#%'
                THEN bscheme || '://' || bauth || bpath || bquery || ref
              WHEN ref LIKE '?%' THEN bscheme || '://' || bauth || bpath || ref
              WHEN ref LIKE '/%' THEN bscheme || '://' || bauth || ref
              ELSE bscheme || '://' || bauth ||
                CASE WHEN bpath = '' THEN '/'
                     ELSE regexp_replace(bpath, '[^/]*$$', '') END ||
                rpath || rtail
            END AS resolved
          FROM ${p}r2),
        ${p}rf0 AS MATERIALIZED (SELECT doc_id, resolved,
            regexp_extract(resolved,
              '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS pre,
            regexp_extract(regexp_replace(resolved,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
              '^([^?#]*)', 1) AS pth,
            regexp_replace(regexp_replace(resolved,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
              '^[^?#]*', '') AS tail
          FROM ${p}r3 WHERE resolved IS NOT NULL),
        $steps,
        ${p}rs AS (SELECT doc_id,
            CASE WHEN pre = '' THEN resolved
                 WHEN regexp_matches(pth, '$DotRuleRe')
                   THEN pre || '/DOT-RESIDUE-UNDER-ITERATED' || tail
                 ELSE pre || pth || tail END AS url
          FROM ${p}rf$DotSteps)"""
  }

  /** The frontier derivation as a CTE stack emitting `fr(url, domain,
    * n_refs)` — link extraction with DuckDB's own regexes (both quote
    * styles), RFC 3986 reference resolution against the page URL
    * ([[resolveCtesSqlPrefixed]]), the 8-step canonicalization
    * instantiated TWICE (resolved outlinks and the seen set), the
    * seen anti-screen and the distinct-referrer in-degree. Shared by
    * `q_crawl_frontier` and the composed polite-fetch gate. */
  private def frontierCtes: String =
    frontierCtesWithPages(
      s"""pages AS (SELECT doc_id, $frontierPageUrlSql AS page_url,
          $frontierHtmlSql AS html FROM documents)""")

  /** The frontier stack over a caller-supplied `pages(doc_id,
    * page_url, html)` CTE — the crawl-cycle gate feeds a page set
    * that also carries the fetched `/robots.txt` pages. */
  private def frontierCtesWithPages(pagesCte: String): String = {
    import graft.operators.HtmlExtract
    val sq = HtmlExtract.HrefSqRe.replace("'", "''")
    s"""$pagesCte,
        lk0 AS (SELECT doc_id, page_url AS base,
            unnest(regexp_extract_all(html, '${HtmlExtract.HrefDqRe}', 1)
              || regexp_extract_all(html, '$sq', 1)) AS ref
          FROM pages),
        ${resolveCtesSqlPrefixed("lk_", "lk0")},
        ${canonCtesSqlPrefixed("lk_",
          "(SELECT doc_id, url FROM lk_rs WHERE url IS NOT NULL)")},
        ${canonCtesSqlPrefixed("sn_",
          "(SELECT doc_id, page_url AS url FROM pages)")},
        cl AS (SELECT doc_id, $canonicalSql AS url, host
          FROM lk_hp WHERE scheme <> ''),
        sn AS (SELECT DISTINCT $canonicalSql AS url FROM sn_hp),
        fr AS MATERIALIZED (SELECT cl.url, ANY_VALUE(cl.host) AS domain,
            CAST(COUNT(DISTINCT cl.doc_id) AS BIGINT) AS n_refs
          FROM cl LEFT JOIN sn ON sn.url = cl.url
          WHERE sn.url IS NULL GROUP BY cl.url)"""
  }

  /** Crawl FRONTIER under the hash gate: outlinks extracted from both
    * quote styles, canonicalized, relative/non-URL links screened,
    * already-fetched pages removed, in-degree counted — the oracle
    * re-derives extraction with its own regexes and runs the full
    * 8-step canonicalization TWICE (links and seen set)
    * independently. */
  val crawlFrontier: Q = (s, dir) => {
    val id = col("doc_id")
    val pages = Scan.table(s, dir, "documents")
      .select(id, frontierPageUrl(id).as("url"),
        frontierHtml(id).as("html"))
    UrlCuration.crawlFrontier(pages, "doc_id", "url", "html")
      .orderBy("url")
  }

  /** robots.txt politeness under the hash gate. Ten domains: the
    * `%3 == 0` ones carry a graftbot-specific group (same path rules)
    * ABOVE a `*` group that disallows EVERYTHING — if agent-group
    * selection breaks, every page of those domains vanishes and the
    * hash fails; domain 4 adds an empty `Disallow:` (matches
    * nothing); domain 8 has NO robots row (the no-robots default
    * allows all, including its `/blocked/` paths). Paths exercise the
    * plain-prefix disallow, the LONGER Allow overriding it, the
    * `*`/`$` anchored rule firing at the end and NOT firing one char
    * later, and a query-string page nothing matches. */
  val robotsFilter: Q = (s, dir) => {
    import graft.operators.Robots
    val id = col("doc_id")
    val path = when(id % 5 === 0, concat(lit("/blocked/doc"), id))
      .when(id % 5 === 1, concat(lit("/blocked/except"), id))
      .when(id % 5 === 2, concat(lit("/deep/a"), id % 3, lit("/x")))
      .when(id % 5 === 3, concat(lit("/deep/a"), id % 3, lit("/xy")))
      .otherwise(concat(lit("/open/doc"), id, lit("?q=1")))
    val pages = Scan.table(s, dir, "documents")
      .select(id, concat(lit("http://site"), id % 10,
        lit(".example.com"), path).as("url"))
    val rules =
      "Disallow: /blocked/\nAllow: /blocked/except*\nDisallow: /deep/*/x$"
    val botGroup =
      s"User-agent: graftbot\n$rules\n\nUser-agent: *\nDisallow: /"
    val starGroup =
      s"# robots\nUser-agent: *\nCrawl-delay: 10\n$rules"
    val robots = s.range(0, 10).select(col("id").as("k"))
      .filter(col("k") =!= 8)
      .select(
        concat(lit("site"), col("k"), lit(".example.com")).as("domain"),
        when(col("k") % 3 === 0, lit(botGroup))
          .when(col("k") === 4, lit(starGroup + "\nDisallow:"))
          .otherwise(lit(starGroup)).as("robots_txt"))
    Robots.filterAllowed(pages, "url", robots, "domain", "robots_txt")
      .orderBy("doc_id")
  }

  /** The fetch cycle COMPOSED under one hash gate: the frontier's
    * proposals screened by robots politeness before any fetch —
    * even-numbered hosts disallow the `/Page/1*` prefix, odd hosts
    * have no robots row (the allow default). What only the
    * composition catches: the frontier's output schema feeding
    * [[graft.operators.Robots.filterAllowed]]'s domain join and
    * path extraction unchanged. */
  val frontierPolite: Q = (s, dir) => {
    val id = col("doc_id")
    val pages = Scan.table(s, dir, "documents")
      .select(id, frontierPageUrl(id).as("url"), frontierHtml(id).as("html"))
    val fr = UrlCuration.crawlFrontier(pages, "doc_id", "url", "html")
    val robots = s.range(0, 10).filter(col("id") % 2 === 0)
      .select(
        concat(lit("site"), col("id"), lit(".example.com")).as("rb_domain"),
        lit("User-agent: *\nDisallow: /Page/1").as("robots_txt"))
    graft.operators.Robots.filterAllowed(
        fr, "url", robots, "rb_domain", "robots_txt")
      .orderBy("url")
  }

  /** Fetch-wave scheduling under the hash gate: the frontier's
    * proposals partitioned into per-host rate-bounded waves
    * (waveSeconds=30, maxWaves=3), best-first by in-degree. The
    * Crawl-delay axis is adversarially wired like the robots gate:
    * `%3 == 0` hosts declare delay 2 in a graftbot-specific group
    * ABOVE a `*` group declaring delay 30 — a group-selection bug
    * flips those hosts from 15 slots/wave to 1 and fails the hash;
    * `%3 == 1` hosts declare 10 in a `*` group (3 slots), `%3 == 2`
    * hosts have NO robots row (the 5 s default → 6 slots), and the
    * cdn host declares 0.5 — below the 1 s politeness floor, so it
    * clamps (30 slots). Rows beyond the 3-wave horizon are dropped
    * (they stay in the frontier for the next cycle) — the oracle
    * re-derives rank/wave/slot with its own window arithmetic. */
  val frontierWaves: Q = (s, dir) => {
    val id = col("doc_id")
    val pages = Scan.table(s, dir, "documents")
      .select(id, frontierPageUrl(id).as("url"), frontierHtml(id).as("html"))
    val fr = UrlCuration.crawlFrontier(pages, "doc_id", "url", "html")
    val botGroup =
      "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /private/\n\n" +
        "User-agent: *\nCrawl-delay: 30\nDisallow: /"
    val starGroup = "User-agent: *\nCrawl-delay: 10"
    val robots = s.range(0, 10).select(col("id").as("k"))
      .filter(col("k") % 3 =!= 2)
      .select(
        concat(lit("site"), col("k"), lit(".example.com")).as("rb_domain"),
        when(col("k") % 3 === 0, lit(botGroup))
          .otherwise(lit(starGroup)).as("robots_txt"))
      .union(s.range(0, 1).select(
        lit("cdn.example.com").as("rb_domain"),
        lit("User-agent: *\nCrawl-delay: 0.5").as("robots_txt")))
    UrlCuration.fetchWaves(fr, "url", robots, "rb_domain", "robots_txt",
        agent = "graftbot", waveSeconds = 30.0, defaultDelaySeconds = 5.0,
        minDelaySeconds = 1.0, maxWaves = 3, priority = col("n_refs"))
      .orderBy("url")
  }

  /** Sitemap-seeded frontier under the hash gate: the link frontier
    * unioned with the robots relation's `Sitemap:` seeds under a
    * provenance column. The sitemap axis exercises: a per-host own
    * sitemap (even hosts), a CROSS-LISTED hub sitemap (hosts 0/4/8 →
    * n_refs 3), an in-text DUPLICATE line (host 0 — deduped), a
    * canonicalizing variant (host 6's `?utm_source=rss` collapses to
    * the clean form), an ALREADY-FETCHED target (host 7 lists a page
    * URL — seen-screened), a lowercase key with a non-URL value
    * (host 3 — screened), and an empty value (host 9 — skipped). */
  val frontierSitemap: Q = (s, dir) => {
    val id = col("doc_id")
    val pages = Scan.table(s, dir, "documents")
      .select(id, frontierPageUrl(id).as("url"), frontierHtml(id).as("html"))
    val k = col("k")
    val smOwn = concat(lit("\nSitemap: http://site"), k,
      lit(".example.com/Sitemap.xml"))
    val txt = concat(
      lit("User-agent: *\nDisallow: /private/"),
      when(k % 2 === 0,
        when(k === 6, lit(
          "\nSitemap: http://site6.example.com/Sitemap.xml?utm_source=rss"))
          .otherwise(smOwn)).otherwise(lit("")),
      when(k % 4 === 0, lit("\nSitemap: http://hub.example.com/all.xml"))
        .otherwise(lit("")),
      when(k === 0, smOwn).otherwise(lit("")),
      when(k === 7, lit("\nSitemap: http://site7.example.com/Page/7"))
        .otherwise(lit("")),
      when(k === 3, lit("\nsitemap: doc:ignored")).otherwise(lit("")),
      when(k === 9, lit("\nSitemap:")).otherwise(lit("")))
    val robots = s.range(0, 10).select(col("id").as("k"))
      .select(concat(lit("site"), k, lit(".example.com")).as("rb_domain"),
        txt.as("robots_txt"))
    UrlCuration.crawlFrontierWithSitemaps(pages, "doc_id", "url", "html",
        robots, "rb_domain", "robots_txt")
      .orderBy("provenance", "url")
  }

  /** The robots relation BOOTSTRAPPED from the crawl itself under the
    * hash gate: the same ten domains' robots TEXTS arrive as fetched
    * `/robots.txt` PAGES (ids far above the content ids), including a
    * RE-FETCH of domain 0 whose second text disallows everything —
    * keep-smallest-id must pick the first fetch, so a winner-rule bug
    * (or a max-instead-of-min) zeroes domain 0 and fails the hash;
    * domain 8 never fetched a robots.txt (the allow default). The
    * content screen's expectation is `q_robots_filter`'s oracle
    * VERBATIM — the bootstrapped relation must reproduce the
    * out-of-band one exactly. */
  val robotsBootstrap: Q = (s, dir) => {
    import graft.operators.Robots
    val id = col("doc_id")
    val path = when(id % 5 === 0, concat(lit("/blocked/doc"), id))
      .when(id % 5 === 1, concat(lit("/blocked/except"), id))
      .when(id % 5 === 2, concat(lit("/deep/a"), id % 3, lit("/x")))
      .when(id % 5 === 3, concat(lit("/deep/a"), id % 3, lit("/xy")))
      .otherwise(concat(lit("/open/doc"), id, lit("?q=1")))
    val content = Scan.table(s, dir, "documents")
      .select(id, concat(lit("http://site"), id % 10,
        lit(".example.com"), path).as("url"))
    val rules =
      "Disallow: /blocked/\nAllow: /blocked/except*\nDisallow: /deep/*/x$"
    val botGroup =
      s"User-agent: graftbot\n$rules\n\nUser-agent: *\nDisallow: /"
    val starGroup =
      s"# robots\nUser-agent: *\nCrawl-delay: 10\n$rules"
    val robotsPages = s.range(0, 10).select(col("id").as("k"))
      .filter(col("k") =!= 8)
      .select((col("k") + 10000000L).as("doc_id"),
        concat(lit("http://site"), col("k"),
          lit(".example.com/robots.txt")).as("url"),
        when(col("k") % 3 === 0, lit(botGroup))
          .when(col("k") === 4, lit(starGroup + "\nDisallow:"))
          .otherwise(lit(starGroup)).as("body"))
      .union(s.range(0, 1).select(
        lit(10000100L).as("doc_id"),
        lit("http://site0.example.com/robots.txt").as("url"),
        lit("User-agent: *\nDisallow: /").as("body")))
    val fetched = content
      .select(col("doc_id"), col("url"),
        lit("<html>content</html>").as("body"))
      .unionByName(robotsPages)
    val robots = Robots.robotsFromPages(fetched, "doc_id", "url", "body")
    Robots.filterAllowed(content, "url", robots, "domain", "robots_txt")
      .orderBy("doc_id")
  }

  /** The ENTIRE crawl PLANNING stage composed under ONE hash gate —
    * every r19 operator in a single query: the fetched pages (content
    * pages PLUS their `/robots.txt` fetches, including a poisoned
    * re-fetch of domain 0 that disallows everything) → robots
    * BOOTSTRAP (first fetch must win or domain 0 zeroes) →
    * sitemap-seeded FRONTIER over one shared seen set (the robots
    * pages themselves are fetched pages, so they join the seen side)
    * → the POLITENESS screen (graftbot groups above a `Disallow: /`
    * star group — selection drives both the rules AND the
    * Crawl-delay) → per-host FETCH WAVES. What only the composition
    * catches: each stage's output schema feeding the next unchanged,
    * the bootstrapped texts driving group selection, delay and
    * sitemaps read from ONE parse, and the provenance union surviving
    * the screen into the scheduler. */
  val crawlCycle: Q = (s, dir) => {
    import graft.operators.Robots
    val id = col("doc_id")
    val content = Scan.table(s, dir, "documents")
      .select(id, frontierPageUrl(id).as("url"), frontierHtml(id).as("html"))
    val k = col("k")
    val rules = "Disallow: /Page/1\nAllow: /Page/12"
    val botGroup = "User-agent: graftbot\nCrawl-delay: 2\n" + rules +
      "\n\nUser-agent: *\nCrawl-delay: 30\nDisallow: /"
    val starDelay = "User-agent: *\nCrawl-delay: 10\n" + rules
    val starPlain = "User-agent: *\n" + rules
    val txt = concat(
      when(k % 3 === 0, lit(botGroup))
        .when(k % 3 === 1, lit(starDelay))
        .otherwise(lit(starPlain)),
      when(k % 2 === 0, concat(lit("\nSitemap: http://site"), k,
        lit(".example.com/Map.xml"))).otherwise(lit("")),
      when(k % 4 === 0, lit("\nSitemap: http://hub.example.com/all.xml"))
        .otherwise(lit("")))
    val robotsPages = s.range(0, 10).select(col("id").as("k"))
      .filter(k =!= 8)
      .select((k + 10000000L).as("doc_id"),
        concat(lit("http://site"), k,
          lit(".example.com/robots.txt")).as("url"),
        txt.as("html"))
      .union(s.range(0, 1).select(
        lit(10000100L).as("doc_id"),
        lit("http://site0.example.com/robots.txt").as("url"),
        lit("User-agent: *\nDisallow: /").as("html")))
    val fetched = content.unionByName(robotsPages)
    // pinned: the bootstrapped relation feeds THREE consumers (seed
    // extraction, the REP screen, the wave delays) — without the pin
    // each would re-run the bootstrap aggregate subtree
    val robots = Robots.robotsFromPages(fetched, "doc_id", "url", "html")
      .pinScratch()
    val fr = UrlCuration.crawlFrontierWithSitemaps(fetched, "doc_id",
      "url", "html", robots, "domain", "robots_txt")
    val polite = Robots.filterAllowed(fr, "url", robots,
      "domain", "robots_txt")
    UrlCuration.fetchWaves(polite, "url", robots, "domain", "robots_txt",
        waveSeconds = 30.0, defaultDelaySeconds = 5.0,
        minDelaySeconds = 1.0, maxWaves = 3, priority = col("n_refs"))
      .orderBy("url")
  }

  /** RECRAWL scheduling under the hash gate — the freshness relation
    * `(url, last_fetch_ts, change_rate)` fed through
    * [[UrlCuration.recrawlWaves]]: priority = the Poisson staleness
    * probability `1 − exp(−rate·age)`, so the hottest-and-oldest pages
    * land in wave 1 and the cold tail drops past the 3-wave horizon
    * into the next planning cycle. Axes: ages step in 6-hour
    * increments over 24 days (`doc_id % 97` quarter-days — EXACT
    * dyadic doubles, so both engines' products are bit-identical and
    * every true tie is a true tie in both), change rates span
    * 0.25…24/day by `k % 4` (the 24/day class saturates to priority
    * 1.0 — exact in both engines — exercising the tie→url ordering),
    * site0 declares its delay in a graftbot group ABOVE a throttling
    * `*` group (group selection), other even hosts declare 3 s in a
    * `*` group, odd hosts have no robots row (the 5 s default). The
    * oracle re-derives the staleness arithmetic, the per-host
    * re-rank, and the wave/slot/horizon arithmetic with its own
    * window. */
  val crawlRecrawl: Q = (s, dir) => {
    val id = col("doc_id")
    val k = id % 97
    val freshness = Scan.table(s, dir, "documents")
      .select(
        concat(lit("http://site"), id % 7, lit(".example.com/p/"), id)
          .as("url"),
        timestamp_seconds(lit(1767225600L) - k * 21600L)
          .as("last_fetch_ts"),
        when(k % 4 === 0, lit(0.25)).when(k % 4 === 1, lit(0.5))
          .when(k % 4 === 2, lit(2.0)).otherwise(lit(24.0))
          .as("change_rate"))
    val botGroup = "User-agent: graftbot\nCrawl-delay: 2\n\n" +
      "User-agent: *\nCrawl-delay: 30\nDisallow: /"
    val robots = s.range(0, 7).select(col("id").as("h"))
      .filter(col("h") % 2 === 0)
      .select(
        concat(lit("site"), col("h"), lit(".example.com")).as("rb_domain"),
        when(col("h") === 0, lit(botGroup))
          .otherwise(lit("User-agent: *\nCrawl-delay: 3")).as("robots_txt"))
    UrlCuration.recrawlWaves(freshness, "url", "last_fetch_ts",
        "change_rate", asOf = timestamp_seconds(lit(1767225600L)),
        robots = robots, domainCol = "rb_domain", robotsCol = "robots_txt",
        agent = "graftbot", waveSeconds = 30.0, defaultDelaySeconds = 5.0,
        minDelaySeconds = 1.0, maxWaves = 3)
      .orderBy("url")
  }

  /** REDIRECT chain resolution under the hash gate
    * ([[UrlCuration.resolveRedirects]], maxHops = 4). Axes by
    * `doc_id % 7`: m=1 is a 301 with a ROOT-RELATIVE Location (RFC
    * 9110 allows them — resolution must run) whose target is itself a
    * 302 (m=2), so m=1 resolves in TWO hops to the m=3 content page;
    * m=5/m=6 are a 2-CYCLE (301 ↔ 308) that must walk exactly
    * maxHops and come back unresolved; everything else is a 200
    * mapping to itself at 0 hops. The oracle re-derives the walk
    * STEPWISE with a recursive CTE — pointer doubling must equal the
    * sequential walk at the horizon, for chains and cycles both. */
  val redirectResolve: Q = (s, dir) => {
    val id = col("doc_id")
    val m = id % 7
    val url = concat(lit("http://r.example.com/u/"), id)
    val pages = Scan.table(s, dir, "documents").select(
      url.as("url"),
      when(m === 1, lit(301)).when(m === 2, lit(302))
        .when(m === 5, lit(301)).when(m === 6, lit(308))
        .otherwise(lit(200)).as("http_status"),
      when(m === 1, concat(lit("/u/"), id + 1))
        .when(m === 2, concat(lit("http://r.example.com/u/"), id + 1))
        .when(m === 5, concat(lit("http://r.example.com/u/"), id + 1))
        .when(m === 6, concat(lit("http://r.example.com/u/"), id - 1))
        .otherwise(lit(null).cast("string")).as("location"))
    UrlCuration.resolveRedirects(pages, "url", "http_status", "location",
        maxHops = 4)
      .orderBy("url")
  }

  /** SITEMAP XML parsing under the hash gate
    * ([[graft.operators.Sitemaps.parseSitemapPages]]): every doc is
    * one fetched sitemap FILE whose XML both engines synthesize
    * literally. Axes: a RELATIVE `<loc>` that must resolve against
    * the sitemap's own URL, a CDATA-wrapped absolute loc (%7), a
    * nested `<sitemap>` index entry (%2), an in-text DUPLICATE loc
    * whose first-occurrence metadata must win (%6), an empty loc that
    * must drop (%8), a `mailto:` loc that must screen as non-URL
    * (%9 == 1), lastmod in both W3C shapes plus an unparsable value
    * (%4), changefreq tokens incl. a case-fold and a bogus token
    * (%5), and a tolerant priority cast (%3). The `rate_prior` column
    * pins [[graft.operators.Sitemaps.ChangefreqRatePerDay]] — the
    * oracle CASE is generated from the same Scala map. */
  val sitemapParse: Q = (s, dir) => {
    import graft.operators.Sitemaps
    val id = col("doc_id")
    val smUrl = concat(lit("http://s"), id % 10, lit(".example.com/maps/m"),
      id, lit(".xml"))
    val lastmod = when(id % 4 === 0, lit("<lastmod>2026-01-15</lastmod>"))
      .when(id % 4 === 1, lit("<lastmod>2026-01-15T10:30:00Z</lastmod>"))
      .when(id % 4 === 2, lit("<lastmod>sometime</lastmod>"))
      .otherwise(lit(""))
    val changefreq = when(id % 5 === 0, lit("<changefreq>daily</changefreq>"))
      .when(id % 5 === 1, lit("<changefreq>WEEKLY</changefreq>"))
      .when(id % 5 === 2, lit("<changefreq>bogus</changefreq>"))
      .when(id % 5 === 3, lit("<changefreq>never</changefreq>"))
      .otherwise(lit(""))
    val priority = when(id % 3 === 0, lit("<priority>0.8</priority>"))
      .when(id % 3 === 1, lit("<priority>x</priority>"))
      .otherwise(lit(""))
    val loc = when(id % 8 === 0, lit("<loc></loc>"))
      .when(id % 9 === 1, lit("<loc>mailto:x@example.com</loc>"))
      .otherwise(concat(lit("<loc>/p/"), id, lit("</loc>")))
    val xml = concat(
      lit("<?xml version=\"1.0\"?>\n<urlset>\n <url> "), loc, lit("\n  "),
      lastmod, changefreq, priority, lit(" </url>\n"),
      // the in-text DUPLICATE: same loc (whitespace-padded), NO
      // metadata — the all-null struct always wins the min (nulls
      // order first), so %6 rows land with null metadata on both sides
      when(id % 6 === 0, concat(
        lit(" <url><loc> /p/"), id, lit(" </loc></url>\n")))
        .otherwise(lit("")),
      when(id % 7 === 0, concat(
        lit(" <url><loc><![CDATA[http://cdn.example.com/abs/"), id,
        lit("]]></loc></url>\n"))).otherwise(lit("")),
      when(id % 2 === 0, concat(
        lit(" <sitemap><loc>/maps/sub"), id,
        lit(".xml</loc><lastmod>2026-02-01</lastmod></sitemap>\n")))
        .otherwise(lit("")),
      lit("</urlset>"))
    val pages = Scan.table(s, dir, "documents")
      .select(id, smUrl.as("url"), xml.as("xml"))
    Sitemaps.parseSitemapPages(pages, "doc_id", "url", "xml")
      .withColumn("rate_prior", Sitemaps.changefreqRate(col("changefreq")))
      .orderBy("sitemap_url", "kind", "loc")
  }

  /** The synthetic fetch HISTORY shared by the change-rate gates:
    * each url (doc_id % 53) is fetched once per 53 ids, MINUTE-spaced
    * ids ⇒ uniform 53 min revisit intervals; content (the hash)
    * changes every `1 + (url 53-residue) % 5` visits, so the
    * estimated rate varies by url class. Minute spacing (not hours)
    * keeps the WHOLE history strictly before every downstream `asOf`
    * at any tested scale factor (up to ~43k docs) — an hourly history
    * at sf0.1's 5 000 docs ran PAST the asOf, and the operator's
    * `greatest(age, 0)` clamp diverged from the unclamped oracle
    * (caught by the sf0.1 spot-validation). */
  private def fetchHistory(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    Scan.table(s, dir, "documents").select(
      concat(lit("http://f.example.com/p/"), id % 53).as("url"),
      timestamp_seconds(lit(1767225600L) + id * 60L).as("fetch_ts"),
      concat(lit("h"),
        floor(floor(id / 53) / (lit(1) + (id % 53) % 5)).cast("long"))
        .as("content_hash"))
  }

  private val fetchHistorySql: String =
    """SELECT 'http://f.example.com/p/' || (doc_id % 53) AS url,
         TIMESTAMP '2026-01-01 00:00:00'
           + (doc_id * 60) * INTERVAL 1 SECOND AS fetch_ts,
         'h' || ((doc_id // 53) // (1 + (doc_id % 53) % 5)) AS content_hash
       FROM documents"""

  /** Poisson change-rate estimation from revisit history under the
    * hash gate ([[UrlCuration.estimateChangeRate]] — the Cho &
    * Garcia-Molina bias-reduced estimator): the oracle re-derives the
    * consecutive-pair comparison with its own window lag and the
    * estimator arithmetic; the all-changed class (53-residue % 5 == 0,
    * a hash change EVERY visit) pins the `+0.5` bias terms — the
    * naive estimator is infinite there. Rate rounded to 4 on both
    * sides (ln is transcendental; the convention). */
  val changeRate: Q = (s, dir) => {
    UrlCuration.estimateChangeRate(fetchHistory(s, dir), "url",
        "fetch_ts", "content_hash")
      .select(col("url"), col("n_obs"), col("n_changed"),
        col("mean_interval_s"),
        round(col("change_rate_per_day"), 4).as("change_rate_per_day"))
      .orderBy("url")
  }

  /** The freshness loop CLOSED under one hash gate: revisit history →
    * [[UrlCuration.estimateChangeRate]] → per-url freshness relation
    * (last fetch time + estimated rate, sparse-history urls falling
    * back to a fixed prior) → [[UrlCuration.recrawlWaves]] — the
    * observe→estimate→plan cycle a production crawler runs. The
    * oracle re-derives ALL THREE stages in one statement; a drift at
    * either seam (the estimate feeding the priority, the max-ts
    * feeding the age) reorders a wave and fails the hash. */
  val recrawlEstimated: Q = (s, dir) => {
    val hist = fetchHistory(s, dir).pinScratch()
    val rates = UrlCuration.estimateChangeRate(hist, "url", "fetch_ts",
      "content_hash")
    val fresh = hist.groupBy(col("url"))
      .agg(max(col("fetch_ts")).as("last_fetch_ts"))
      .join(rates.select(col("url"), col("change_rate_per_day")),
        Seq("url"), "left")
      .select(col("url"), col("last_fetch_ts"),
        coalesce(col("change_rate_per_day"), lit(0.25)).as("change_rate"))
    val robots = s.range(0, 1).select(
      lit("f.example.com").as("rb_domain"),
      lit("User-agent: *\nCrawl-delay: 3").as("robots_txt"))
    UrlCuration.recrawlWaves(fresh, "url", "last_fetch_ts", "change_rate",
        asOf = timestamp_seconds(lit(1767225600L + 3600L * 24 * 30)),
        robots = robots, domainCol = "rb_domain", robotsCol = "robots_txt",
        waveSeconds = 30.0, maxWaves = 3)
      .orderBy("url")
  }

  /** Redirect-AWARE page dedup under the hash gate — the reason
    * [[UrlCuration.resolveRedirects]] exists: a page whose address
    * MOVED between crawl rounds leaves content rows at BOTH addresses
    * (round 1 fetched `/old/k`; round 2 found `/old/k` 301-ing and
    * fetched the content at `/new/k`), and plain canonical-URL dedup
    * can never merge them. The fixture interleaves round-1 content at
    * `/old/<id%40>` (%3 == 0), this round's 301 re-fetches of those
    * addresses (%3 == 1, root-relative Locations into `/new/<id%40>`)
    * and the moved content at `/new/<id%40>` (%3 == 2); dedup keys on
    * `final_url` keep-smallest-id, so the old-address and new-address
    * copies collapse to one winner per target. The oracle re-derives
    * the alias fold and the re-rank from construction. */
  val redirectDedup: Q = (s, dir) => {
    val id = col("doc_id")
    val m = id % 3
    val url = when(m === 2, concat(lit("http://rd.example.com/new/"), id % 40))
      .otherwise(concat(lit("http://rd.example.com/old/"), id % 40))
    val pages = Scan.table(s, dir, "documents").select(
      id, url.as("url"),
      when(m === 1, lit(301)).otherwise(lit(200)).as("http_status"),
      when(m === 1, concat(lit("/new/"), id % 40))
        .otherwise(lit(null).cast("string")).as("location"))
    val resolved = UrlCuration.resolveRedirects(pages, "url",
        "http_status", "location", maxHops = 4)
      // the map is per-ADDRESS (final_url is functional in url);
      // re-fetched addresses duplicate rows, so key it down first
      .select(col("url"), col("final_url")).distinct()
    val winners = pages.filter(col("http_status") === 200)
      .join(resolved, Seq("url"))
      .groupBy(col("final_url"))
      .agg(min(col("doc_id")).as("doc_id"))
    winners.select(col("doc_id"), col("final_url")).orderBy("doc_id")
  }

  /** Revisit-outcome folding under the hash gate
    * ([[graft.operators.Revisit.applyRevisitOutcomes]]): a page
    * snapshot seeded from the corpus, then ONE wave of revisit
    * outcomes folded in — `%5` axes cover every class (200 replaces
    * body+ts, 304 carries content forward and advances ts ONLY, 301
    * and 404 delete, 503 is transient and leaves the row untouched),
    * plus a 200 INSERT for a never-held URL (%7) and a 304 for a
    * ghost URL that must DROP (%11 — nothing to carry). Rerun-stable:
    * the folded snapshot re-accepts the same wave as a fixed point
    * (and the commit tag short-circuits replays outright). The oracle
    * re-derives the final snapshot state per class. */
  val revisitMerge: Q = (s, dir) => {
    import graft.operators.{Revisit, SnapshotMerge}
    val id = col("doc_id")
    val path = SnapshotPaths.dirFor("revisit_snapshot", dir, s)
    val docs = Scan.table(s, dir, "documents")
    if (!SnapshotMerge.existsSharded(s, path))
      SnapshotMerge.createSharded(
        docs.select(
          concat(lit("http://v.example.com/p/"), id).as("url"),
          col("text").as("body"),
          timestamp_seconds(lit(1767225600L) + id).as("last_fetch_ts")),
        Seq("url"), nShards = 1, path)
    val revisits = docs.select(
        concat(lit("http://v.example.com/p/"), id).as("url"),
        timestamp_seconds(lit(1767325600L) + id).as("fetch_ts"),
        when(id % 5 === 0, lit(200)).when(id % 5 === 1, lit(304))
          .when(id % 5 === 2, lit(301)).when(id % 5 === 3, lit(404))
          .otherwise(lit(503)).as("http_status"),
        when(id % 5 === 0, concat(lit("v2: "), col("text")))
          .otherwise(lit(null).cast("string")).as("body"))
      .unionByName(docs.filter(id % 7 === 0).select(
        concat(lit("http://v.example.com/extra/"), id).as("url"),
        timestamp_seconds(lit(1767325600L) + id).as("fetch_ts"),
        lit(200).as("http_status"),
        concat(lit("extra "), id).as("body")))
      .unionByName(docs.filter(id % 11 === 0).select(
        concat(lit("http://v.example.com/ghost/"), id).as("url"),
        timestamp_seconds(lit(1767325600L) + id).as("fetch_ts"),
        lit(304).as("http_status"),
        lit(null).cast("string").as("body")))
    Revisit.applyRevisitOutcomes(s, path, revisits, "url", "fetch_ts",
      "http_status", "body", commitTag = Some("revisit_wave_1"))
    SnapshotMerge.readSharded(s, path)
      .select("url", "body", "last_fetch_ts")
      .orderBy("url")
  }

  /** The STEADY-STATE crawl maintenance cycle COMPOSED under one hash
    * gate — the r20 pieces chained the way a resident crawler runs
    * them: the fetch HISTORY feeds the change-rate estimator; the
    * page SNAPSHOT (seeded from the history's last state) absorbs one
    * revisit wave through [[graft.operators.Revisit]] (`%5` outcome
    * classes — 200/304 advance fetch times, 301/404 delete, 503
    * leaves the pre-wave state); and the NEXT plan
    * ([[UrlCuration.recrawlWaves]]) is drawn from the FOLDED
    * snapshot — so deleted pages must vanish from the plan, refreshed
    * pages must plan with their post-wave ages, and untouched pages
    * with their pre-wave ones. What only the composition catches:
    * the fold's timestamps feeding the staleness ages, and the
    * survivor set feeding the wave ranks — a drift at either seam
    * reorders a wave and fails the hash. */
  val crawlMaintain: Q = (s, dir) => {
    import graft.operators.{Revisit, SnapshotMerge}
    val hist = fetchHistory(s, dir).pinScratch()
    val path = SnapshotPaths.dirFor("crawl_maintain_snapshot", dir, s)
    if (!SnapshotMerge.existsSharded(s, path))
      SnapshotMerge.createSharded(
        hist.groupBy(col("url"))
          .agg(max(col("fetch_ts")).as("last_fetch_ts"))
          .select(col("url"),
            concat(lit("page "), col("url")).as("body"),
            col("last_fetch_ts")),
        Seq("url"), nShards = 1, path)
    val k = regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")
    val wave = hist.select(col("url")).distinct().select(
      col("url"),
      timestamp_seconds(lit(1768225600L) + k).as("fetch_ts"),
      when(k % 5 === 0, lit(200)).when(k % 5 === 1, lit(304))
        .when(k % 5 === 2, lit(301)).when(k % 5 === 3, lit(404))
        .otherwise(lit(503)).as("http_status"),
      when(k % 5 === 0, concat(lit("vnew "), k))
        .otherwise(lit(null).cast("string")).as("body"))
    Revisit.applyRevisitOutcomes(s, path, wave, "url", "fetch_ts",
      "http_status", "body", commitTag = Some("maintain_wave_1"))
    val rates = UrlCuration.estimateChangeRate(hist, "url", "fetch_ts",
      "content_hash")
    val fresh = SnapshotMerge.readSharded(s, path)
      .select(col("url"), col("last_fetch_ts"))
      .join(rates.select(col("url"), col("change_rate_per_day")),
        Seq("url"), "left")
      .select(col("url"), col("last_fetch_ts"),
        coalesce(col("change_rate_per_day"), lit(0.25)).as("change_rate"))
    val robots = s.range(0, 1).select(
      lit("f.example.com").as("rb_domain"),
      lit("User-agent: *\nCrawl-delay: 3").as("robots_txt"))
    UrlCuration.recrawlWaves(fresh, "url", "last_fetch_ts", "change_rate",
        asOf = timestamp_seconds(lit(1769225600L)),
        robots = robots, domainCol = "rb_domain", robotsCol = "robots_txt",
        waveSeconds = 30.0, maxWaves = 3)
      .orderBy("url")
  }

  val queries: Map[String, Q] = ListMap(
    "q_sitemap_parse" -> sitemapParse,
    "q_redirect_dedup" -> redirectDedup,
    "q_revisit_merge" -> revisitMerge,
    "q_crawl_maintain" -> crawlMaintain,
    "q_change_rate" -> changeRate,
    "q_recrawl_estimated" -> recrawlEstimated,
    "q_redirect_resolve" -> redirectResolve,
    "q_url_canonical" -> urlCanonical,
    "q_url_dedup" -> urlDedup,
    "q_domain_cap" -> domainCap,
    "q_domain_cap_psl" -> domainCapPsl,
    "q_crawl_frontier" -> crawlFrontier,
    "q_frontier_polite" -> frontierPolite,
    "q_frontier_waves" -> frontierWaves,
    "q_frontier_sitemap" -> frontierSitemap,
    "q_robots_filter" -> robotsFilter,
    "q_robots_bootstrap" -> robotsBootstrap,
    "q_crawl_cycle" -> crawlCycle,
    "q_crawl_recrawl" -> crawlRecrawl)

  /** The window-lag + estimator CTE chain shared by the change-rate
    * gates (over a CTE named `f(url, fetch_ts, content_hash)`). */
  private def changeRateCtes: String =
    """cr_p AS (SELECT url, fetch_ts, content_hash,
          LAG(content_hash) OVER (PARTITION BY url ORDER BY fetch_ts)
            AS ph,
          LAG(fetch_ts) OVER (PARTITION BY url ORDER BY fetch_ts) AS pt
        FROM f),
       cr_a AS (SELECT url,
          COUNT(*) AS n_obs,
          CAST(SUM(CASE WHEN content_hash <> ph THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changed,
          AVG(EPOCH(fetch_ts) - EPOCH(pt)) AS mean_interval_s
        FROM cr_p WHERE pt IS NOT NULL GROUP BY url),
       cr_r AS (SELECT *,
          CASE WHEN n_obs >= 2 AND mean_interval_s > 0 THEN
            -LN((n_obs - n_changed + 0.5) / (n_obs + 0.5))
              / mean_interval_s * 86400.0 END AS est
        FROM cr_a)"""

  val oracles: Map[String, String] = ListMap(
    // the sitemap parse re-derived from CONSTRUCTION (the redirect
    // oracle's posture — the fixture locs are canonical and the
    // resolution targets are spelled directly; Spark must PARSE its
    // way to the same values): entry presence mirrors the loc axes'
    // precedence, the %6 dup collapses metadata to NULL (the all-null
    // struct wins the min — nulls order first on both sides), and the
    // rate_prior CASE is GENERATED from the one Scala map
    "q_sitemap_parse" -> {
      val rateCase = graft.operators.Sitemaps.ChangefreqRatePerDay.toSeq
        .sortBy(_._1)
        .map { case (t, r) => s"WHEN changefreq = '$t' THEN $r" }
        .mkString(" ")
      s"""WITH e AS (
            SELECT 'http://s' || (doc_id % 10) || '.example.com/maps/m'
                || doc_id || '.xml' AS sitemap_url,
              'url' AS kind,
              'http://s' || (doc_id % 10) || '.example.com/p/' || doc_id
                AS loc,
              CASE WHEN doc_id % 6 = 0 THEN NULL
                   WHEN doc_id % 4 = 0 THEN TIMESTAMP '2026-01-15'
                   WHEN doc_id % 4 = 1
                     THEN TIMESTAMP '2026-01-15 10:30:00'
                   ELSE NULL END AS lastmod,
              CASE WHEN doc_id % 6 = 0 THEN NULL
                   WHEN doc_id % 5 = 0 THEN 'daily'
                   WHEN doc_id % 5 = 1 THEN 'weekly'
                   WHEN doc_id % 5 = 3 THEN 'never'
                   ELSE NULL END AS changefreq,
              CASE WHEN doc_id % 6 = 0 THEN NULL
                   WHEN doc_id % 3 = 0 THEN 0.8 ELSE NULL END AS priority
            FROM documents
            WHERE (doc_id % 8 <> 0 AND doc_id % 9 <> 1) OR doc_id % 6 = 0
            UNION ALL
            SELECT 'http://s' || (doc_id % 10) || '.example.com/maps/m'
                || doc_id || '.xml',
              'url', 'http://cdn.example.com/abs/' || doc_id,
              NULL, NULL, NULL
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT 'http://s' || (doc_id % 10) || '.example.com/maps/m'
                || doc_id || '.xml',
              'sitemap', 'http://s' || (doc_id % 10)
                || '.example.com/maps/sub' || doc_id || '.xml',
              TIMESTAMP '2026-02-01', NULL, NULL
            FROM documents WHERE doc_id % 2 = 0)
          SELECT sitemap_url, kind, loc, lastmod, changefreq,
            CAST(priority AS DOUBLE) AS priority,
            CAST(CASE $rateCase END AS DOUBLE) AS rate_prior
          FROM e ORDER BY sitemap_url, kind, loc"""
    },
    // the folded snapshot re-derived per outcome class: 200 replaces
    // body and ts, 304 keeps the body and advances ts, 301/404 rows
    // vanish, 503 rows keep their pre-wave state, the %7 inserts
    // appear, the ghost 304s never materialize
    "q_revisit_merge" ->
      s"""WITH p AS (SELECT doc_id, text, (doc_id % 5) AS m
            FROM documents),
          kept AS (
            SELECT 'http://v.example.com/p/' || doc_id AS url,
              CASE WHEN m = 0 THEN 'v2: ' || text ELSE text END AS body,
              CASE WHEN m IN (0, 1)
                THEN TIMESTAMP '2026-01-01 00:00:00'
                  + (100000 + doc_id) * INTERVAL 1 SECOND
                ELSE TIMESTAMP '2026-01-01 00:00:00'
                  + doc_id * INTERVAL 1 SECOND END AS last_fetch_ts
            FROM p WHERE m NOT IN (2, 3)
            UNION ALL
            SELECT 'http://v.example.com/extra/' || doc_id,
              'extra ' || doc_id,
              TIMESTAMP '2026-01-01 00:00:00'
                + (100000 + doc_id) * INTERVAL 1 SECOND
            FROM p WHERE doc_id % 7 = 0)
          SELECT url, body, last_fetch_ts FROM kept ORDER BY url""",
    // the maintenance cycle re-derived in ONE statement: the history's
    // estimator chain, the folded snapshot's per-class fetch times
    // (200/304 advance to the wave's clock, 503 keeps the history's
    // last fetch, 301/404 rows leave the plan), the staleness
    // priorities over the POST-fold ages, and the wave arithmetic
    "q_crawl_maintain" ->
      s"""WITH f AS ($fetchHistorySql),
          $changeRateCtes,
          last AS (SELECT url, MAX(EPOCH(fetch_ts)) AS last0,
              TRY_CAST(regexp_extract(url, '/p/([0-9]+)$$', 1) AS BIGINT)
                AS k
            FROM f GROUP BY url),
          folded AS (SELECT url, k,
              CASE WHEN k % 5 IN (0, 1) THEN 1768225600 + k
                   ELSE last0 END AS last_s
            FROM last WHERE k % 5 NOT IN (2, 3)),
          fr AS (SELECT folded.url,
              COALESCE(cr_r.est, 0.25) AS rate, folded.last_s
            FROM folded LEFT JOIN cr_r ON cr_r.url = folded.url),
          pri AS (SELECT url,
              1.0 - exp(-rate * ((1769225600 - last_s) / 86400.0)) AS p
            FROM fr),
          rk AS (SELECT url,
              ROW_NUMBER() OVER (ORDER BY p DESC, url) - 1 AS rk0
            FROM pri)
          SELECT url, 'f.example.com' AS domain,
            CAST(rk0 // 10 AS INTEGER) + 1 AS wave,
            CAST(rk0 % 10 AS INTEGER) + 1 AS wave_slot,
            CAST(3.0 AS DOUBLE) AS delay_s
          FROM rk WHERE rk0 // 10 < 3
          ORDER BY url""",
    // the moved-page collapse re-derived from construction: the edge
    // set is the %3==1 re-fetches' (old → new) pairs; old-address
    // content rows map through it when their k has an edge, new-
    // address rows map to themselves; keep-smallest-id per final
    "q_redirect_dedup" ->
      s"""WITH e AS (SELECT DISTINCT (doc_id % 40) AS k
            FROM documents WHERE doc_id % 3 = 1),
          c AS (SELECT doc_id, (doc_id % 40) AS k, (doc_id % 3) AS m
            FROM documents WHERE doc_id % 3 <> 1),
          f AS (SELECT doc_id,
              CASE WHEN m = 0 AND k IN (SELECT k FROM e)
                     THEN 'http://rd.example.com/new/' || k
                   WHEN m = 0 THEN 'http://rd.example.com/old/' || k
                   ELSE 'http://rd.example.com/new/' || k END AS final_url
            FROM c)
          SELECT MIN(doc_id) AS doc_id, final_url
          FROM f GROUP BY final_url ORDER BY doc_id""",
    // the estimator re-derived: the oracle's own window lag pairs
    // consecutive fetches, the bias-reduced arithmetic is re-spelled,
    // the rate rounds to 4 on both sides (LN is transcendental)
    "q_change_rate" ->
      s"""WITH f AS ($fetchHistorySql),
          $changeRateCtes
          SELECT url, n_obs, n_changed, mean_interval_s,
            ROUND(est, 4) AS change_rate_per_day
          FROM cr_r ORDER BY url""",
    // the freshness loop re-derived in ONE statement: history →
    // estimator → (last fetch, rate-with-prior) → staleness priority
    // → the wave arithmetic (delay 3 declared → 10 slots/wave,
    // 3-wave horizon, single host)
    "q_recrawl_estimated" ->
      s"""WITH f AS ($fetchHistorySql),
          $changeRateCtes,
          fresh AS (SELECT url, MAX(EPOCH(fetch_ts)) AS last_s
            FROM f GROUP BY url),
          fr AS (SELECT fresh.url,
              COALESCE(cr_r.est, 0.25) AS rate, fresh.last_s
            FROM fresh LEFT JOIN cr_r ON cr_r.url = fresh.url),
          pri AS (SELECT url,
              1.0 - exp(-rate * ((1769817600 - last_s) / 86400.0)) AS p
            FROM fr),
          rk AS (SELECT url,
              ROW_NUMBER() OVER (ORDER BY p DESC, url) - 1 AS rk0
            FROM pri)
          SELECT url, 'f.example.com' AS domain,
            CAST(rk0 // 10 AS INTEGER) + 1 AS wave,
            CAST(rk0 % 10 AS INTEGER) + 1 AS wave_slot,
            CAST(3.0 AS DOUBLE) AS delay_s
          FROM rk WHERE rk0 // 10 < 3
          ORDER BY url""",
    // the redirect walk re-derived STEPWISE: the same edge relation
    // (3xx + non-self Location, root-relative resolution spelled as
    // its target), a recursive CTE stepping one hop at a time bounded
    // by the horizon, the max-hop row per source, and the
    // resolved-iff-final-is-no-source rule — pointer doubling must
    // equal the sequential walk for chains AND cycles (the fixture's
    // URLs are canonical by construction, so canonicalization is
    // identity on both sides)
    "q_redirect_resolve" ->
      s"""WITH RECURSIVE p AS (SELECT
              'http://r.example.com/u/' || doc_id AS url,
              (doc_id % 7) AS m, doc_id
            FROM documents),
          edges AS (SELECT url AS src,
              'http://r.example.com/u/' ||
                (CASE WHEN m = 6 THEN doc_id - 1 ELSE doc_id + 1 END)
                AS dst
            FROM p WHERE m IN (1, 2, 5, 6)),
          walk AS (
            SELECT src, dst AS cur, 1 AS hops FROM edges
            UNION ALL
            SELECT w.src, e.dst, w.hops + 1
            FROM walk w JOIN edges e ON e.src = w.cur
            WHERE w.hops < 4),
          fin AS (SELECT src, cur, hops FROM walk
            QUALIFY ROW_NUMBER() OVER (PARTITION BY src
              ORDER BY hops DESC) = 1)
          SELECT p.url, p.url AS canonical,
            COALESCE(fin.cur, p.url) AS final_url,
            CAST(COALESCE(fin.hops, 0) AS BIGINT) AS hops,
            (COALESCE(fin.cur, p.url) NOT IN (SELECT src FROM edges))
              AS resolved
          FROM p LEFT JOIN fin ON fin.src = p.url
          ORDER BY p.url""",
    "q_url_canonical" ->
      s"""WITH u AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
          $canonCtesSql
          SELECT doc_id, url, $canonicalSql AS canonical_url,
            host AS domain
          FROM hp ORDER BY doc_id""",
    "q_url_dedup" ->
      s"""WITH u AS (SELECT doc_id, $urlDedupMessySql AS url FROM documents),
          $canonCtesSql,
          urls AS (
            SELECT doc_id, $canonicalSql AS canonical
            FROM hp WHERE scheme <> ''),
          winners AS (
            SELECT doc_id FROM urls
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY canonical ORDER BY doc_id) = 1)
          SELECT doc_id FROM winners
          UNION ALL SELECT doc_id FROM hp WHERE scheme = ''
          ORDER BY doc_id""",
    "q_domain_cap" ->
      s"""WITH u AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
          $canonCtesSql,
          ranked AS (
            SELECT doc_id, host AS domain,
              ROW_NUMBER() OVER (
                PARTITION BY host ORDER BY doc_id) AS domain_rank
            FROM hp)
          SELECT doc_id, domain, CAST(domain_rank AS INTEGER) AS domain_rank
          FROM ranked WHERE domain_rank <= 3 ORDER BY doc_id""",
    // the full PSL algorithm re-derived in SQL from the snapshotted
    // rules: every label suffix of the (port-stripped) host is joined
    // against the rule table; exact rules score their own length,
    // wildcard tails score length+1 (iff a label exists to match *),
    // exceptions override everything at length-1; no match falls back
    // to the implicit '*' rule; hosts that ARE a public suffix, empty
    // hosts and IPv4-shaped hosts keep themselves. Registered domain
    // = the last (ps+1) labels.
    "q_domain_cap_psl" ->
      s"""WITH u AS (SELECT doc_id, $pslUrlSql AS url FROM documents),
          $canonCtesSql,
          psl AS (SELECT kind, rule FROM read_parquet(
            '${SnapshotPaths.tokenDirFor("psl_rules")}/*.parquet')),
          hosts AS (SELECT doc_id,
              CASE WHEN scheme = '' THEN ''
                   ELSE REGEXP_REPLACE(host, ':[0-9]+$$', '') END AS h
            FROM hp),
          lab AS (SELECT doc_id, h, string_split(h, '.') AS ls FROM hosts),
          lab2 AS (SELECT doc_id, h, ls, len(ls) AS n FROM lab),
          cand AS (SELECT doc_id, n,
              unnest(range(1, n + 1)) AS k, ls FROM lab2),
          sfx AS (SELECT doc_id, n, k,
              array_to_string(ls[CAST(n - k + 1 AS INTEGER):CAST(n AS INTEGER)], '.') AS s
            FROM cand),
          mt AS (SELECT f.doc_id,
              MAX(CASE WHEN p.kind = 'exact' THEN f.k END) AS ex,
              MAX(CASE WHEN p.kind = 'wild' AND f.k < f.n THEN f.k + 1 END) AS wi,
              MAX(CASE WHEN p.kind = 'exc' THEN f.k - 1 END) AS xc
            FROM sfx f JOIN psl p ON p.rule = f.s GROUP BY f.doc_id),
          reg AS (SELECT l.doc_id,
              CASE WHEN l.h = '' OR regexp_matches(l.h, '^[0-9.]+$$') THEN l.h
                   WHEN COALESCE(m.xc, GREATEST(1, COALESCE(m.ex, 1),
                       COALESCE(m.wi, 1))) < l.n
                     THEN array_to_string(l.ls[CAST(l.n - COALESCE(m.xc,
                       GREATEST(1, COALESCE(m.ex, 1), COALESCE(m.wi, 1)))
                       AS INTEGER):CAST(l.n AS INTEGER)], '.')
                   ELSE l.h END AS domain
            FROM lab2 l LEFT JOIN mt m ON m.doc_id = l.doc_id),
          ranked AS (SELECT doc_id, domain,
              ROW_NUMBER() OVER (
                PARTITION BY domain ORDER BY doc_id) AS domain_rank
            FROM reg)
          SELECT doc_id, domain, CAST(domain_rank AS INTEGER) AS domain_rank
          FROM ranked WHERE domain_rank <= 4 ORDER BY doc_id""",
    // link extraction re-derived with DuckDB's own regexes (both
    // quote styles), then the 8-step canonicalization instantiated
    // TWICE — once over the outlinks, once over the fetched pages'
    // own URLs — the seen anti-screen, and the distinct-referrer
    // in-degree count
    "q_crawl_frontier" ->
      s"""WITH $frontierCtes
          SELECT url, domain, n_refs FROM fr ORDER BY url""",
    // the fetch cycle COMPOSED: the frontier derivation above feeding
    // the REP screen — even-numbered hosts disallow the /Page/1*
    // prefix (a no-wildcard rule ≡ LIKE prefix), odd hosts have no
    // robots row (the allow default); one drifted value at the
    // frontier→robots seam fails the hash
    "q_frontier_polite" ->
      s"""WITH $frontierCtes,
          pq AS (SELECT url, domain, n_refs,
              REGEXP_REPLACE(REGEXP_REPLACE(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]*', '') AS path
            FROM fr)
          SELECT url, domain, n_refs FROM pq
          WHERE NOT (COALESCE(TRY_CAST(regexp_extract(domain,
                       'site([0-9]+)', 1) AS INTEGER) % 2 = 0, FALSE)
                     AND path LIKE '/Page/1%')
          ORDER BY url""",
    // the sitemap seeds re-derived: the same robots texts constructed
    // in SQL, `Sitemap:` lines pulled with the oracle's own multiline
    // case-insensitive regex (the \S+ cut mirrors the parser's
    // first-token contract), per-text dedup, the canonicalization
    // stack instantiated a THIRD time over the seed URLs, the shared
    // seen anti-screen, distinct-declaring-domain counts, unioned
    // with the link frontier under the provenance column
    "q_frontier_sitemap" ->
      s"""WITH $frontierCtes,
          rb AS (SELECT unnest(range(10)) AS k),
          rbt AS (SELECT k,
              'User-agent: *' || chr(10) || 'Disallow: /private/' ||
              CASE WHEN k % 2 = 0 THEN
                CASE WHEN k = 6 THEN chr(10) ||
                    'Sitemap: http://site6.example.com/Sitemap.xml?utm_source=rss'
                  ELSE chr(10) || 'Sitemap: http://site' || k ||
                    '.example.com/Sitemap.xml' END
                ELSE '' END ||
              CASE WHEN k % 4 = 0
                THEN chr(10) || 'Sitemap: http://hub.example.com/all.xml'
                ELSE '' END ||
              CASE WHEN k = 0
                THEN chr(10) || 'Sitemap: http://site0.example.com/Sitemap.xml'
                ELSE '' END ||
              CASE WHEN k = 7
                THEN chr(10) || 'Sitemap: http://site7.example.com/Page/7'
                ELSE '' END ||
              CASE WHEN k = 3
                THEN chr(10) || 'sitemap: doc:ignored' ELSE '' END ||
              CASE WHEN k = 9 THEN chr(10) || 'Sitemap:' ELSE '' END
              AS robots_txt
            FROM rb),
          smx AS (SELECT DISTINCT k, unnest(regexp_extract_all(robots_txt,
              '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)) AS sm
            FROM rbt),
          ${canonCtesSqlPrefixed("sm_",
            "(SELECT k AS doc_id, sm AS url FROM smx)")},
          smc AS (SELECT doc_id AS k, $canonicalSql AS url, host
            FROM sm_hp WHERE scheme <> ''),
          seeds AS (SELECT smc.url, ANY_VALUE(smc.host) AS domain,
              CAST(COUNT(DISTINCT smc.k) AS BIGINT) AS n_refs
            FROM smc LEFT JOIN sn ON sn.url = smc.url
            WHERE sn.url IS NULL GROUP BY smc.url)
          SELECT url, domain, n_refs, 'link' AS provenance FROM fr
          UNION ALL
          SELECT url, domain, n_refs, 'sitemap' AS provenance FROM seeds
          ORDER BY provenance, url""",
    // the wave scheduler re-derived: the frontier derivation feeding
    // per-host delay lookup (CASE mirroring the gate's robots
    // construction — the graftbot group's 2, the * group's 10, the
    // no-robots 5 s default, the clamped cdn 0.5), slots/wave =
    // floor(30/delay), rank by (n_refs DESC, url) re-ranked with the
    // oracle's own window, wave/slot arithmetic, 3-wave horizon
    "q_frontier_waves" ->
      s"""WITH $frontierCtes,
          dl AS (SELECT url, domain, n_refs,
              CASE WHEN domain = 'cdn.example.com' THEN 1.0
                   WHEN TRY_CAST(regexp_extract(domain, 'site([0-9]+)', 1)
                       AS INTEGER) % 3 = 0 THEN 2.0
                   WHEN TRY_CAST(regexp_extract(domain, 'site([0-9]+)', 1)
                       AS INTEGER) % 3 = 1 THEN 10.0
                   ELSE 5.0 END AS delay_s
            FROM fr),
          pw AS (SELECT *, GREATEST(1, LEAST(30,
              CAST(FLOOR(30.0 / delay_s) AS BIGINT))) AS per_wave
            FROM dl),
          rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
              ORDER BY n_refs DESC, url) - 1 AS rk0
            FROM pw)
          SELECT url, domain,
            CAST(rk0 // per_wave AS INTEGER) + 1 AS wave,
            CAST(rk0 % per_wave AS INTEGER) + 1 AS wave_slot,
            CAST(delay_s AS DOUBLE) AS delay_s
          FROM rk WHERE rk0 // per_wave < 3
          ORDER BY url""",
    // the WHOLE planning cycle re-derived in one statement: the
    // winner robots texts from construction (the re-fetch loses by id
    // — Spark's winner rule breaking makes site0 vanish and fails the
    // hash), the frontier stack instantiated over content PLUS robots
    // pages (the robots fetches join the seen set), sitemap seeds
    // from the same texts, the REP screen as prefix/longer-Allow
    // arithmetic keyed by the domain's group kind, the delay CASE
    // mirroring group selection, and the wave arithmetic re-ranked
    // with the oracle's own window
    "q_crawl_cycle" -> {
      val rulesTxt =
        "'Disallow: /Page/1' || chr(10) || 'Allow: /Page/12'"
      val botGroupSql =
        "'User-agent: graftbot' || chr(10) || 'Crawl-delay: 2' || chr(10) || " +
          rulesTxt + " || chr(10) || chr(10) || " +
          "'User-agent: *' || chr(10) || 'Crawl-delay: 30' || chr(10) || 'Disallow: /'"
      val starDelaySql =
        "'User-agent: *' || chr(10) || 'Crawl-delay: 10' || chr(10) || " + rulesTxt
      val starPlainSql =
        "'User-agent: *' || chr(10) || " + rulesTxt
      val cyclePages =
        s"""pages AS (
            SELECT doc_id, $frontierPageUrlSql AS page_url,
              $frontierHtmlSql AS html FROM documents
            UNION ALL
            SELECT doc_id, page_url, html FROM rpages)"""
      s"""WITH cyc_rbt AS (SELECT k,
              CASE WHEN k % 3 = 0 THEN $botGroupSql
                   WHEN k % 3 = 1 THEN $starDelaySql
                   ELSE $starPlainSql END ||
              CASE WHEN k % 2 = 0
                THEN chr(10) || 'Sitemap: http://site' || k ||
                  '.example.com/Map.xml' ELSE '' END ||
              CASE WHEN k % 4 = 0
                THEN chr(10) || 'Sitemap: http://hub.example.com/all.xml'
                ELSE '' END AS robots_txt
            FROM (SELECT unnest(range(10)) AS k) ks WHERE k <> 8),
          rpages AS (
            SELECT k + 10000000 AS doc_id,
              'http://site' || k || '.example.com/robots.txt' AS page_url,
              robots_txt AS html
            FROM cyc_rbt
            UNION ALL
            SELECT 10000100,
              'http://site0.example.com/robots.txt',
              'User-agent: *' || chr(10) || 'Disallow: /'),
          ${frontierCtesWithPages(cyclePages)},
          cyc_smx AS (SELECT DISTINCT k, unnest(regexp_extract_all(
              robots_txt,
              '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)) AS sm
            FROM cyc_rbt),
          ${canonCtesSqlPrefixed("cysm_",
            "(SELECT k AS doc_id, sm AS url FROM cyc_smx)")},
          cysm AS (SELECT doc_id AS k, $canonicalSql AS url, host
            FROM cysm_hp WHERE scheme <> ''),
          cyc_seeds AS (SELECT cysm.url, ANY_VALUE(cysm.host) AS domain,
              CAST(COUNT(DISTINCT cysm.k) AS BIGINT) AS n_refs
            FROM cysm LEFT JOIN sn ON sn.url = cysm.url
            WHERE sn.url IS NULL GROUP BY cysm.url),
          cyc_uni AS (SELECT url, domain, n_refs FROM fr
            UNION ALL SELECT url, domain, n_refs FROM cyc_seeds),
          cyc_scr AS (SELECT *,
              REGEXP_REPLACE(REGEXP_REPLACE(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]*', '') AS pq,
              TRY_CAST(regexp_extract(domain,
                '^site([0-9]+)\\.example', 1) AS INTEGER) AS kk
            FROM cyc_uni),
          cyc_pol AS (SELECT url, domain, n_refs, kk FROM cyc_scr
            WHERE kk IS NULL OR kk = 8
              OR NOT (pq LIKE '/Page/1%' AND NOT pq LIKE '/Page/12%')),
          cyc_dl AS (SELECT url, domain, n_refs,
              CASE WHEN kk IS NULL OR kk = 8 THEN 5.0
                   WHEN kk % 3 = 0 THEN 2.0
                   WHEN kk % 3 = 1 THEN 10.0
                   ELSE 5.0 END AS delay_s
            FROM cyc_pol),
          cyc_pw AS (SELECT *, GREATEST(1, LEAST(30,
              CAST(FLOOR(30.0 / delay_s) AS BIGINT))) AS per_wave
            FROM cyc_dl),
          cyc_rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
              ORDER BY n_refs DESC, url) - 1 AS rk0
            FROM cyc_pw)
          SELECT url, domain,
            CAST(rk0 // per_wave AS INTEGER) + 1 AS wave,
            CAST(rk0 % per_wave AS INTEGER) + 1 AS wave_slot,
            CAST(delay_s AS DOUBLE) AS delay_s
          FROM cyc_rk WHERE rk0 // per_wave < 3
          ORDER BY url"""
    },
    // the REP MATCHER re-derived: the same three path rules as a
    // relation, each value translated to a regex ('*' → '.*', '$' →
    // end anchor — the gate's rule alphabet is regex-metachar-free by
    // construction), longest-match precedence with Allow winning
    // ties, the no-match and no-robots (domain 8) defaults. Group
    // SELECTION is checked structurally: the %3 domains' '*' group
    // disallows '/', so a selection bug empties them and fails the
    // hash
    "q_robots_filter" -> robotsFilterOracleSql,
    // the bootstrapped robots relation must reproduce the out-of-band
    // one exactly — same oracle verbatim (the re-fetch winner rule
    // and the /robots.txt page screen are what the gate adds)
    "q_robots_bootstrap" -> robotsFilterOracleSql,
    // the RECRAWL planner re-derived: the Poisson staleness priority
    // 1 − exp(−rate·age) from the same exact-dyadic (age, rate)
    // construction (quarter-day ages, power-of-two-ish rates — both
    // engines' products are bit-identical, so ties are ties in both),
    // the delay CASE mirroring the gate's robots construction
    // (graftbot group 2 s on site0, the * group's 3 s on even hosts,
    // the 5 s no-robots default), per-host re-rank with the oracle's
    // own window (priority DESC, url), wave/slot arithmetic, 3-wave
    // horizon
    "q_crawl_recrawl" ->
      s"""WITH f AS (SELECT
              'http://site' || (doc_id % 7) || '.example.com/p/' || doc_id
                AS url,
              'site' || (doc_id % 7) || '.example.com' AS domain,
              (doc_id % 7) AS h, (doc_id % 97) AS k
            FROM documents),
          pr AS (SELECT url, domain,
              1.0 - exp(-(CASE WHEN k % 4 = 0 THEN 0.25
                               WHEN k % 4 = 1 THEN 0.5
                               WHEN k % 4 = 2 THEN 2.0
                               ELSE 24.0 END) * (k * 0.25)) AS p,
              CASE WHEN h = 0 THEN 2.0
                   WHEN h % 2 = 0 THEN 3.0
                   ELSE 5.0 END AS delay_s
            FROM f),
          pw AS (SELECT *, GREATEST(1, LEAST(30,
              CAST(FLOOR(30.0 / delay_s) AS BIGINT))) AS per_wave
            FROM pr),
          rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
              ORDER BY p DESC, url) - 1 AS rk0
            FROM pw)
          SELECT url, domain,
            CAST(rk0 // per_wave AS INTEGER) + 1 AS wave,
            CAST(rk0 % per_wave AS INTEGER) + 1 AS wave_slot,
            CAST(delay_s AS DOUBLE) AS delay_s
          FROM rk WHERE rk0 // per_wave < 3
          ORDER BY url""")

  /** The REP-matcher re-derivation shared by `q_robots_filter` and
    * `q_robots_bootstrap`. Lazy: referenced by the `oracles` map
    * above, which initializes first in declaration order. */
  private lazy val robotsFilterOracleSql: String =
      s"""WITH pages AS (SELECT doc_id,
            'http://site' || (doc_id % 10) || '.example.com' ||
            CASE
              WHEN doc_id % 5 = 0 THEN '/blocked/doc' || doc_id
              WHEN doc_id % 5 = 1 THEN '/blocked/except' || doc_id
              WHEN doc_id % 5 = 2 THEN '/deep/a' || (doc_id % 3) || '/x'
              WHEN doc_id % 5 = 3 THEN '/deep/a' || (doc_id % 3) || '/xy'
              ELSE '/open/doc' || doc_id || '?q=1' END AS url
          FROM documents),
          pp AS (SELECT doc_id, url, (doc_id % 10) AS k,
              REGEXP_REPLACE(REGEXP_REPLACE(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]*', '') AS path
            FROM pages),
          rules(kind, val) AS (VALUES
            ('d', '/blocked/'), ('a', '/blocked/except*'),
            ('d', '/deep/*/x$$')),
          rx AS (SELECT kind, val, LENGTH(val) AS len,
              '^' || replace(CASE WHEN val LIKE '%$$'
                THEN substr(val, 1, LENGTH(val) - 1) ELSE val END,
                '*', '.*')
              || CASE WHEN val LIKE '%$$' THEN '$$' ELSE '' END AS pat
            FROM rules),
          m AS (SELECT pp.doc_id, rx.kind, rx.len
            FROM pp JOIN rx ON regexp_matches(pp.path, rx.pat)
            WHERE pp.k <> 8),
          win AS (SELECT doc_id, kind FROM m
            QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY len DESC,
                CASE WHEN kind = 'a' THEN 0 ELSE 1 END) = 1)
          SELECT pp.doc_id, pp.url
          FROM pp LEFT JOIN win USING (doc_id)
          WHERE pp.k = 8 OR win.kind IS NULL OR win.kind = 'a'
          ORDER BY pp.doc_id"""
}
